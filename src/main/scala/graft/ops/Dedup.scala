package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.functions.simhash64

/** Deduplication operators for a training-data pipeline: exact,
  * token-set Jaccard, MinHash+LSH, and SimHash — each as a reusable
  * DataFrame transform plus (where the semantics are SQL-expressible
  * with engine-neutral hashing) an oracle-checked query.
  *
  * Portability note for the oracle-checked variants: MinHash/SimHash
  * normally use an engine hash (xxhash64) that DuckDB can't reproduce,
  * so the oracle queries derive term ids with the q39 Karp-Rabin
  * polynomial hash of the term text and hash the *ids* with plain
  * modular arithmetic — identical in any SQL engine, no global
  * dictionary window, no dictionary join. The
  * production-path variants (`minhashCandidates`, `simhashPairs`) use
  * xxhash64 directly: no dictionary, no global window, fully
  * shuffle-parallel — that is the 100 TB path.
  */
object Dedup {

  import TextAnalytics.toks
  import TwinSql.{charPairChainSql, componentsSql, jaccPairChainSql, overlapSql,
    termSetSql}

  private val duckToks = TwinSql.toksSql

  def all: Seq[QueryDef] =
    Seq(q25, q26, q27, q28, q29, q50, q85, q87, q89, q112, q135, q139, q162,
      q172, q185, q195, q198, q202, q205, q207, q211, q213, q214)

  /** Exact dedup on a normalized key: keep the lowest doc_id per group.
    * Scale: one hash exchange on the key; with pre-partitioned/bucketed
    * input it is exchange-free. (dropDuplicates has nondeterministic
    * keep-policy; min-per-group is the deterministic engine policy.)
    */
  val q25: QueryDef = QueryDef.sql(
    "q25_dedup_exact",
    """SELECT substring(text, 1, 30) AS key_prefix,
      |  min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents
      |GROUP BY key_prefix
      |ORDER BY keep_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(substring(col("text"), 1, 30).as("key_prefix"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))
  }

  /** Exact near-dup ground truth: pairwise token-set Jaccard >= 0.5
    * over a bounded candidate set (doc_id < 100 — at scale, candidates
    * come from LSH, never from a full cross join; this query is the
    * *verifier* stage that LSH candidates feed).
    */
  val q26: QueryDef = QueryDef.sql(
    "q26_jaccard_pairs",
    s"""WITH ${termSetSql("documents WHERE doc_id < 100", "t")},
       |${overlapSql("t", "term")}
       |SELECT d1, d2, n_common,
       |  n_common / (s1.n + s2.n - n_common) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = d1
       |JOIN sz s2 ON s2.doc_id = d2
       |WHERE n_common / (s1.n + s2.n - n_common) >= 0.5
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .distinct()
    val jac = col("n_common") / (col("n1") + col("n2") - col("n_common"))
    overlapCounts(t)
      .select(col("d1"), col("d2"), col("n_common"), jac.as("jaccard"))
      .filter(jac >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  /** Word n-gram Jaccard near-dup (q87): the sequence-sensitive
    * variant of q26 — similarity over distinct word BIGRAM sets, so
    * shared vocabulary alone no longer pairs documents (on this corpus
    * unigram Jaccard >= 0.5 yields thousands of pairs; bigram >= 0.1
    * yields a handful — word order is the signal). Same shape: explode
    * shingles, equi-join on shingle, |A ∩ B| / |A ∪ B|. This is the
    * verifier MinHash-LSH candidates feed (minhashSignatures hashes the
    * SAME word shingles).
    */
  val q87: QueryDef = QueryDef.sql(
    "q87_ngram_jaccard_pairs",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t
       |  FROM documents WHERE doc_id < 100),
       |t AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(list_filter(
       |      list_transform(range(0, greatest(len(t) - 2, 0) + 1),
       |        i -> array_to_string(t[i+1:i+2], ' ')),
       |      s -> s <> '')) AS sh
       |    FROM d)),
       |${overlapSql("t", "sh")}
       |SELECT d1, d2, n_common,
       |  n_common / (s1.n + s2.n - n_common) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = d1
       |JOIN sz s2 ON s2.doc_id = d2
       |WHERE n_common / (s1.n + s2.n - n_common) >= 0.1
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(shingles(col("text"), 2)).as("sh"))
      .distinct()
    val jac = col("n_common") / (col("n1") + col("n2") - col("n_common"))
    overlapCounts(t)
      .select(col("d1"), col("d2"), col("n_common"), jac.as("jaccard"))
      .filter(jac >= 0.1)
      .orderBy(col("d1"), col("d2"))
  }

  /** Cross-source overlap matrix (q112): for every pair of sources,
    * how many distinct 3-token shingles they share and the overlap
    * coefficient shared/min(|A|,|B|) — the corpus-level diagnostic
    * that tells a curation pipeline WHICH feeds duplicate each other
    * (mirror sites, scraped re-posts) before doc-level dedup runs.
    *
    * Shingles present in more than 16 distinct sources are dropped
    * first: they are boilerplate carrying no pair signal, and the cap
    * bounds the self-join fan-out per shingle to C(16,2) candidate
    * pairs — without it one ubiquitous shingle contributes a
    * sources^2 blowup. The dropped set is df-thresholded (heavy-
    * hitter-sized), so the strike is a BROADCAST anti-join, the q49
    * shape. Remaining wide ops: the (source,shingle) distinct, the
    * pair count agg — all partial+final; per-source sizes are a tiny
    * frame joined at the end.
    */
  val q112: QueryDef = QueryDef.sql(
    "q112_source_overlap",
    s"""WITH d AS (SELECT source, $duckToks AS t FROM documents),
       |sp AS (
       |  SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest(list_filter(
       |      list_transform(range(0, greatest(len(t) - 3, 0) + 1),
       |        i -> array_to_string(t[i+1:i+3], ' ')),
       |      s -> s <> '')) AS sh
       |    FROM d)),
       |keep AS (SELECT sh FROM sp GROUP BY sh HAVING count(*) <= 16),
       |k AS (SELECT source, sh FROM sp JOIN keep USING (sh)),
       |sz AS (SELECT source, count(*) AS n FROM k GROUP BY source),
       |inter AS (
       |  SELECT a.source AS s1, b.source AS s2, count(*) AS shared
       |  FROM k a JOIN k b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY s1, s2)
       |SELECT s1, s2, CAST(shared AS BIGINT) AS shared,
       |  shared / least(z1.n, z2.n) AS overlap
       |FROM inter
       |JOIN sz z1 ON z1.source = s1
       |JOIN sz z2 ON z2.source = s2
       |WHERE shared >= 5
       |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
    // single-pass formulation: ONE scan -> distinct (source, shingle)
    // -> group to a per-shingle SORTED source set (the df cap filters
    // here) -> emit source pairs ARRAY-LOCALLY from each set (bounded
    // C(16,2) per shingle) and per-source sizes from the same grouped
    // frame. The naive self-join/anti-join phrasing of the identical
    // semantics (still what the DuckDB oracle runs) re-shingled the
    // corpus 16x (no exchange reuse across its branches) — 2.5s vs
    // ~1s at sf0.1.
    // localCheckpoint (LAZY, like connectedComponents): the per-shingle
    // source-set frame feeds BOTH the pair counts and the per-source
    // sizes; without it each branch re-runs the scan+distinct+group
    // pipeline (Catalyst doesn't reuse non-identical-parent exchanges).
    // Eager would run a Spark job at plan-construction time, before any
    // action. At scale this is the frame a pipeline would persist
    // anyway; unreplicated blocks ride the same fault-tolerance
    // trade-off the CC loop documents.
    // no pre-distinct: collect_set IS the set semantics, and skipping
    // the distinct drops a whole (source, shingle-string) exchange —
    // partial aggregation builds per-shingle source sets map-side, so
    // only one exchange of (shingle, small set) crosses the wire.
    val g = Tables.documentsFan(s, dir)
      .select(col("source"), explode(shingles(col("text"), 3)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) <= 16)
      .localCheckpoint(false)
    // the pair fan-out is CPU-bound (C(k,2) per shingle) but sits on
    // the checkpointed frame, whose partition count AQE coalesced to
    // match the tiny grouped shuffle (2 tasks at sf0.1, 0.64s wall) —
    // spread it across cores first; the re-exchange is group-sized
    val inter = g
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))), y =>
          struct(x.as("s1"), y.as("s2")))))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("shared"))
    val sz = g.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    inter
      .join(sz.toDF("za", "n1"), col("za") === col("s1"))
      .join(sz.toDF("zb", "n2"), col("zb") === col("s2"))
      .select(col("s1"), col("s2"),
        col("shared").cast("bigint").as("shared"),
        (col("shared") / least(col("n1"), col("n2"))).as("overlap"))
      .filter(col("shared") >= 5)
      .orderBy(col("s1"), col("s2"))
  }

  /** The q89/q202/q205 shingle stream: distinct word 4-gram shingles
    * per doc, REPARTITIONED BEFORE THE HEAVY MAP — the fixture's
    * documents file is one parquet row group = one scan task, and
    * per-doc shingling is the dominant cost, so a ~10 MB text shuffle
    * unlocks every core (measured 4.8s -> ~1s at sf0.1; same
    * reasoning on a cluster whenever input files are fewer than
    * cores). Callers filter BEFORE shingling so a doubly-referenced
    * scan never shingles the other side's rows. ONE definition (plus
    * its twin CTE pair [[duckShingleCtes]]) so the q202 gate, the
    * q205 burn report, and the q89 exact audit can never screen
    * different shingle sets.
    */
  private[graft] def shingleSet4(s: SparkSession, df: DataFrame): DataFrame = df
    .repartition(s.sparkContext.defaultParallelism)
    .select(col("doc_id"),
      explode(array_distinct(shingles(col("text"), 4))).as("sh"))

  /** The d/g twin CTE pair of [[shingleSet4]], appended at the head
    * of the q89/q202/q205 oracle SQL.
    */
  private val duckShingleCtes: String =
    s"""d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |    list_transform(range(0, greatest(len(t) - 4, 0) + 1),
       |      i -> array_to_string(t[i+1:i+4], ' ')), s -> s <> ''))) AS sh
       |  FROM d)""".stripMargin

  /** Benchmark-contamination report (q89): corpus docs (doc_id < 450)
    * sharing distinct word 4-gram shingles with the held-out slice
    * (doc_id >= 450, standing in for an eval set) and how many. The
    * detection side of [[graft.pipeline.Curation.decontaminate]] —
    * benchmark shingles broadcast, corpus streams narrow.
    */
  val q89: QueryDef = QueryDef.sql(
    "q89_decontamination",
    s"""WITH $duckShingleCtes,
       |bench AS (SELECT DISTINCT sh FROM g WHERE doc_id >= 450)
       |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM g JOIN bench USING (sh)
       |WHERE g.doc_id < 450
       |GROUP BY g.doc_id
       |ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
    def shingleSet(df: DataFrame) = shingleSet4(s, df)
    val docs = Tables.documents(s, dir)
    val bench = shingleSet(docs.filter(col("doc_id") >= 450))
      .select(col("sh")).distinct()
    // no broadcast hint: a real benchmark set is small (AQE broadcasts
    // it), but THIS fixture inverts the sizes (held-out slice is 10x
    // the corpus slice) — let AQE pick the smaller side either way
    shingleSet(docs.filter(col("doc_id") < 450))
      .join(bench, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .orderBy(col("doc_id"))
  }

  // --- Bloom-filter decontamination gate ------------------------------

  /** Bloom bit width for q202. Power of two so the position mod
    * compiles to a mask; 2^14 bits sizes the filter to the fixture's
    * benchmark slice (~2.2k distinct shingles -> ~33% fill at k=3) so
    * the false-positive audit has a measurable signal instead of a
    * degenerate 0. Production sizes m to the benchmark suite
    * (~1e7-1e9 n-grams -> a 1 MB-1 GB broadcast), not to the corpus.
    */
  private[graft] val BloomBits = 1 << 14
  private val BloomK = 3

  /** The j-th Bloom position: Kirsch-Mitzenmacher double hashing
    * h1 + j*h2 + 13j mod m over TWO independent Karp-Rabin folds of
    * the shingle (multipliers 31 and 131). A single base hash would
    * make the k positions an arithmetic progression — probes collapse
    * together and the measured fp rate ran ~4x the independent-hash
    * bound on the fixture; with the second fold the realized rate
    * lands on the k=3 bound (the audit below measures it either way).
    */
  private def bloomPos(h1: Column, h2: Column, j: Int): Column =
    (h1 + lit(j.toLong) * h2 + lit(13L * j)) % BloomBits

  /** Bit-packed Bloom filter of a distinct shingle frame: m/64 longs
    * on the driver. The collect is bounded by m BY CONSTRUCTION
    * (positions are mod-m distinct), never by the input's size — the
    * filter is the fixed-size summary that makes the gate broadcast.
    */
  private[graft] def bloomWords(shingleSet: DataFrame): Array[Long] = {
    val ps = shingleSet
      .withColumn("h1", krHash(col("sh"), 31L))
      .withColumn("h2", krHash(col("sh"), 131L))
      .select(explode(array((0 until BloomK).map(j =>
        bloomPos(col("h1"), col("h2"), j)): _*)).as("p"))
      .distinct()
      .collect().map(_.getLong(0))
    val words = new Array[Long](BloomBits / 64)
    ps.foreach(p => words((p >> 6).toInt) |= (1L << (p & 63).toInt))
    words
  }

  /** Per-row Bloom membership of the `sh` column against the packed
    * words: adds a boolean `bloom_hit` — k bit probes, each an
    * element_at + arithmetic shift + mask over the broadcast literal,
    * a pure codegen map with no join and no shuffle. shiftright is
    * Java's arithmetic `>>`; (w >> b) & 1 extracts the bit correctly
    * for negative words too.
    */
  private[graft] def bloomFlag(shingled: DataFrame, words: Array[Long]): DataFrame = {
    val withBits = (0 until BloomK).foldLeft(
        shingled.withColumn("__h1", krHash(col("sh"), 31L))
          .withColumn("__h2", krHash(col("sh"), 131L))
          .withColumn("__bm", typedLit(words.toSeq))) { (df, j) =>
      df.withColumn(s"__p$j", bloomPos(col("__h1"), col("__h2"), j))
    }
    val hit = (0 until BloomK).map(j => expr(
        s"(shiftright(element_at(__bm, cast(__p$j div 64 as int) + 1), " +
          s"cast(__p$j % 64 as int)) & 1) = 1"))
      .reduce(_ && _)
    withBits.withColumn("bloom_hit", hit)
      .drop(Seq("__h1", "__h2", "__bm") ++ (0 until BloomK).map(j => s"__p$j"): _*)
  }

  /** Bloom-filter decontamination gate + false-positive audit (q202):
    * the 100 TB form of q89. q89's exact gate exchanges the CORPUS
    * shingle set to join it against the benchmark — correct, but the
    * corpus pays a full shuffle to answer a membership question whose
    * truth set is benchmark-sized. The production gate instead folds
    * the benchmark's shingles into a fixed-size bit-packed Bloom
    * filter ([[bloomWords]] — m/64 longs, sized to the BENCHMARK, a
    * few MB for real eval suites), broadcasts it, and screens the
    * corpus with k codegen bit probes per shingle ([[bloomFlag]]) —
    * scan-speed, ZERO corpus shuffle, no false negatives.
    *
    * The price is false positives (docs flagged for review that share
    * nothing), and this query is the AUDIT that prices them: per
    * corpus doc, distinct shingles, Bloom-flagged count, exact count
    * (the q89 join, here the audit harness rather than the gate), and
    * their difference. n_flagged >= n_exact ALWAYS (a member's
    * positions are set by construction); the fp columns quantify the
    * review overhead the broadcast gate trades for the shuffle.
    *
    * The benchmark slice is doc_id in [450, 500) — pinned to 50 docs
    * at every sf (a real benchmark doesn't grow with the corpus),
    * unlike q89's open-ended >= 450 fixture split.
    *
    * Positions are Kirsch-Mitzenmacher double hashes of TWO
    * independent Karp-Rabin folds (portable: DuckDB replays the
    * identical folds) — see [[bloomPos]] for why one fold is not
    * enough; the audit measures the REALIZED fp rate either way.
    *
    * Relation to [[dedupAgainstHistory]]: that path Blooms history
    * KEYS with Spark's engine-private `stat.bloomFilter` and then
    * REJECTS the fps with an exact confirm join (exact output, fps
    * cost only time); this gate Blooms benchmark N-GRAMS with the
    * portable KR construction so DuckDB re-derives every bit, and
    * KEEPS the fps in the output because pricing them IS the query.
    */
  val q202: QueryDef = QueryDef.sql(
    "q202_bloom_decontamination",
    s"""WITH $duckShingleCtes,
       |bench AS (
       |  SELECT DISTINCT sh FROM g WHERE doc_id >= 450 AND doc_id < 500),
       |js AS (SELECT unnest([${(0 until BloomK).mkString(", ")}]) AS j),
       |bpos AS (
       |  SELECT DISTINCT (h1 + j*h2 + 13*j) % $BloomBits AS p
       |  FROM (SELECT ${duckKrOf("sh")} AS h1,
       |               ${duckKrOf("sh", 131L)} AS h2 FROM bench)
       |  CROSS JOIN js),
       |corp AS (
       |  SELECT doc_id, sh, ${duckKrOf("sh")} AS h1,
       |    ${duckKrOf("sh", 131L)} AS h2
       |  FROM g WHERE doc_id < 450 OR doc_id >= 500),
       |probes AS (
       |  SELECT doc_id, sh, (h1 + j*h2 + 13*j) % $BloomBits AS p
       |  FROM corp CROSS JOIN js),
       |hits AS (
       |  SELECT doc_id, sh,
       |    CAST(sum(CASE WHEN bp.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nb
       |  FROM probes LEFT JOIN bpos bp USING (p)
       |  GROUP BY doc_id, sh),
       |per AS (
       |  SELECT h.doc_id,
       |    CASE WHEN h.nb = $BloomK THEN 1 ELSE 0 END AS fl,
       |    CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END AS ex
       |  FROM hits h LEFT JOIN bench b USING (sh))
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_sh,
       |  CAST(sum(fl) AS BIGINT) AS n_flagged,
       |  CAST(sum(ex) AS BIGINT) AS n_exact,
       |  CAST(sum(fl) - sum(ex) AS BIGINT) AS n_fp
       |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def shingleSet(df: DataFrame) = shingleSet4(s, df)
    val docs = Tables.documents(s, dir)
    val isBench = col("doc_id") >= 450 && col("doc_id") < 500
    val bench = shingleSet(docs.filter(isBench)).select(col("sh")).distinct()
      .localCheckpoint(false) // consumed twice: filter build + exact audit
    val corp = bloomFlag(shingleSet(docs.filter(!isBench)), bloomWords(bench))
    corp.join(broadcast(bench.withColumn("__x", lit(1L))), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_sh"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).cast("bigint")
          .as("n_flagged"),
        sum(coalesce(col("__x"), lit(0L))).cast("bigint").as("n_exact"))
      .withColumn("n_fp", (col("n_flagged") - col("n_exact")).cast("bigint"))
      .orderBy(col("doc_id"))
  }

  /** Eval-burn report (q205): the FLIP of q89/q202 — per BENCHMARK
    * item, how compromised it is by the training corpus. q89 answers
    * "which corpus docs to drop"; this answers the question an eval
    * owner asks when the corpus is already trained on and frozen:
    * "which eval ITEMS are burned and must be excluded from the
    * score". Per benchmark doc: distinct shingles, how many of them
    * appear anywhere in the corpus (n_burned), the burned fraction as
    * an exact rational pair, how many distinct corpus docs touch it,
    * and the largest single-corpus-doc overlap (one big overlap =
    * verbatim leak; many small ones = common phrases).
    *
    * Scale: the benchmark side is pinned-small ([450,500), the q202
    * slice) and BROADCASTS; the corpus shingle stream joins it
    * map-side at scan speed and partial-aggregates to benchmark-sized
    * outputs — no corpus-keyed exchange anywhere.
    */
  val q205: QueryDef = QueryDef.sql(
    "q205_eval_burn",
    s"""WITH $duckShingleCtes,
       |bench AS (
       |  SELECT doc_id AS bdoc, sh FROM g
       |  WHERE doc_id >= 450 AND doc_id < 500),
       |corp AS (
       |  SELECT doc_id AS cdoc, sh FROM g
       |  WHERE doc_id < 450 OR doc_id >= 500),
       |tot AS (
       |  SELECT bdoc, CAST(count(*) AS BIGINT) AS n_sh
       |  FROM bench GROUP BY bdoc),
       |hits AS (SELECT bdoc, sh, cdoc FROM bench JOIN corp USING (sh)),
       |per AS (
       |  SELECT bdoc,
       |    CAST(count(DISTINCT sh) AS BIGINT) AS n_burned,
       |    CAST(count(DISTINCT cdoc) AS BIGINT) AS n_corpus_docs
       |  FROM hits GROUP BY bdoc),
       |pairs AS (
       |  SELECT bdoc, cdoc, CAST(count(DISTINCT sh) AS BIGINT) AS ov
       |  FROM hits GROUP BY bdoc, cdoc),
       |mx AS (SELECT bdoc, CAST(max(ov) AS BIGINT) AS max_overlap
       |       FROM pairs GROUP BY bdoc)
       |SELECT t.bdoc AS doc_id, t.n_sh,
       |  COALESCE(p.n_burned, 0) AS n_burned,
       |  COALESCE(p.n_corpus_docs, 0) AS n_corpus_docs,
       |  COALESCE(m.max_overlap, 0) AS max_overlap,
       |  CAST(COALESCE(p.n_burned, 0) AS DOUBLE)
       |    / CAST(t.n_sh AS DOUBLE) AS frac_burned
       |FROM tot t LEFT JOIN per p ON p.bdoc = t.bdoc
       |LEFT JOIN mx m ON m.bdoc = t.bdoc
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def shingleSet(df: DataFrame) = shingleSet4(s, df)
    val docs = Tables.documentsFan(s, dir)
    val isBench = col("doc_id") >= 450 && col("doc_id") < 500
    val bench = shingleSet(docs.filter(isBench))
      .select(col("doc_id").as("bdoc"), col("sh"))
      .localCheckpoint(false) // consumed twice: totals + the hit join
    val corp = shingleSet(docs.filter(!isBench))
      .select(col("doc_id").as("cdoc"), col("sh"))
    val tot = bench.groupBy(col("bdoc"))
      .agg(count(lit(1)).cast("bigint").as("n_sh"))
    val hits = corp.join(broadcast(bench), Seq("sh"))
      .localCheckpoint(false) // consumed twice: per-item + pair rollups
    val per = hits.groupBy(col("bdoc"))
      .agg(countDistinct(col("sh")).cast("bigint").as("n_burned"),
        countDistinct(col("cdoc")).cast("bigint").as("n_corpus_docs"))
    val mx = hits.groupBy(col("bdoc"), col("cdoc"))
      .agg(countDistinct(col("sh")).as("ov"))
      .groupBy(col("bdoc"))
      .agg(max(col("ov")).cast("bigint").as("max_overlap"))
    tot.join(per, Seq("bdoc"), "left").join(mx, Seq("bdoc"), "left")
      .select(col("bdoc").as("doc_id"), col("n_sh"),
        coalesce(col("n_burned"), lit(0L)).as("n_burned"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"),
        (coalesce(col("n_burned"), lit(0L)).cast("double")
          / col("n_sh").cast("double")).as("frac_burned"))
      .orderBy(col("doc_id"))
  }

  // --- portable MinHash over content-derived term ids ----------------

  /** Engine-neutral token-id assignment + 16 modular MinHashes.
    * h_j(tid) = ((2j+1)*tid + 97j + 13) mod 1000003, minhash_j = min.
    *
    * Term ids are the q39 Karp-Rabin polynomial hash of the term text
    * (mod 1e9+7): content-derived, so there is no global dictionary
    * window and no dictionary join — the id assignment is a narrow
    * per-row expression DuckDB reproduces with the identical fold.
    * (Hash collisions merge terms, identically on both engines.) The
    * production path uses xxhash64 and needs no ids at all.
    */
  /** The Karp-Rabin fold in twin SQL over any column expression — ONE
    * definition consumed by the term-id twins (as `duckTid`) and the
    * q202 Bloom twin (over shingle strings). `.` never needs DOTALL
    * here: tokens are whitespace-split and shingles are tokens joined
    * by single spaces, so no input to this fold can contain a newline.
    */
  private def duckKrOf(expr: String, mult: Long = 31L) =
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(regexp_extract_all($expr, '.'),
       |                     c -> CAST(ascii(c) AS BIGINT))),
       |    (a, b) -> (a * $mult + b) % 1000000007)""".stripMargin

  private val duckTid = duckKrOf("term")

  /** (h*mult + codepoint) mod 1e9+7 over the string's code points —
    * the codegen kernel ([[graft.functions.KarpRabinMultExpr]]),
    * replacing the former interpreted
    * `aggregate(regexp_extract_all(c, '.'), ...)` HOF: a per-row regex
    * scan that allocated a one-string-per-character array and folded
    * it through a non-codegen lambda (q202's corpus flag pass measured
    * 9.8 s task CPU at sf0.1 through it; ~0.4 s through the kernel —
    * guide §"expressions and codegen"). Every caller feeds
    * whitespace-token-derived strings, so the only skip-set difference
    * between Java's `.` (used by the old HOF) and the kernel's
    * skip-only-'\n' contract (the RE2/DuckDB twin's) is unreachable
    * and the folded values are bit-identical (KrHashSpec pins both the
    * HOF equality and a fixture-wide replay).
    */
  private def krHash(c: Column, mult: Long): Column =
    graft.functions.functions.karp_rabin_mult(c, mult)

  private def krTermId(c: Column): Column = krHash(c, 31L)

  private def dictTokens(s: SparkSession, dir: String, maxDoc: Int): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") < maxDoc)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .distinct()
      .withColumn("tid", krTermId(col("term")))

  private def minhashes(tokens: DataFrame, nHashes: Int): DataFrame =
    tokens
      .withColumn("j", explode(sequence(lit(0L), lit(nHashes - 1L))))
      .select(col("doc_id"), col("j"),
        (((lit(2L) * col("j") + 1L) * col("tid") + lit(97L) * col("j") + 13L) % 1000003L).as("h"))
      .groupBy(col("doc_id"), col("j"))
      .agg(min(col("h")).as("mh"))

  private def sigExpr: Column =
    concat_ws(",",
      transform(array_sort(collect_list(struct(col("j"), col("mh")))),
        s => s.getField("mh").cast("string")))

  /** The twin of [[minhashes]] over the first 200 documents: CTEs `t`
    * (their distinct terms), `d` (term ids) and `mh` (doc_id, j, mh),
    * the 16 MinHashes per document that q27 and q28 both start from.
    */
  private val minhashCtesSql: String =
    s"""${termSetSql("documents WHERE doc_id < 200", "t")},
       |d AS (SELECT doc_id, $duckTid AS tid FROM t),
       |mh AS (
       |  SELECT d.doc_id, g.j,
       |    min(((2*g.j + 1) * d.tid + 97*g.j + 13) % 1000003) AS mh
       |  FROM d
       |  CROSS JOIN (SELECT unnest(range(16)) AS j) g
       |  GROUP BY d.doc_id, g.j)""".stripMargin

  val q27: QueryDef = QueryDef.sql(
    "q27_minhash_signatures",
    s"""WITH $minhashCtesSql
       |SELECT doc_id, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS sig
       |FROM mh GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    minhashes(dictTokens(s, dir, 200), 16)
      .groupBy(col("doc_id"))
      .agg(sigExpr.as("sig"))
      .orderBy(col("doc_id"))
  }

  /** LSH banding: 4 bands x 4 hashes; docs sharing any band signature
    * are near-dup candidates. Scale: the band join is an equi-join on
    * (band, band_sig) — pure hash shuffle, no cross join anywhere.
    */
  val q28: QueryDef = QueryDef.sql(
    "q28_lsh_candidates",
    s"""WITH $minhashCtesSql,
       |bands AS (
       |  SELECT doc_id, CAST(floor(j / 4) AS BIGINT) AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_sig
       |  FROM mh GROUP BY doc_id, band)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.band_sig = b.band_sig
       |  AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val bands = minhashes(dictTokens(s, dir, 200), 16)
      .withColumn("band", floor(col("j") / 4).cast("bigint"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sigExpr.as("band_sig"))
    bands.toDF("d1", "band", "band_sig")
      .join(bands.toDF("d2", "band2", "band_sig2"),
        col("band") === col("band2") && col("band_sig") === col("band_sig2")
          && col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Portable 16-bit SimHash signatures over the term dictionary:
    * bit_j = sign of sum over terms of +/-1 drawn from
    * ((tid*(2j+13)) mod 7919) mod 2.
    */
  val q29: QueryDef = QueryDef.sql(
    "q29_simhash_signatures",
    s"""WITH ${termSetSql("documents WHERE doc_id < 200", "t")},
       |d AS (SELECT doc_id, $duckTid AS tid FROM t),
       |bits AS (
       |  SELECT d.doc_id, g.j,
       |    CASE WHEN sum(CASE WHEN ((d.tid * (2*g.j + 13)) % 7919) % 2 = 1
       |                       THEN 1 ELSE -1 END) > 0
       |         THEN '1' ELSE '0' END AS bit
       |  FROM d
       |  CROSS JOIN (SELECT unnest(range(16)) AS j) g
       |  GROUP BY d.doc_id, g.j)
       |SELECT doc_id, string_agg(bit, '' ORDER BY j) AS sig
       |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val bits = dictTokens(s, dir, 200)
      .withColumn("j", explode(sequence(lit(0L), lit(15L))))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(
        when(((col("tid") * (lit(2L) * col("j") + 13L)) % 7919L % 2L) === 1L, 1)
          .otherwise(-1)).as("s"))
      .select(col("doc_id"), col("j"),
        when(col("s") > 0, "1").otherwise("0").as("bit"))
    bits.groupBy(col("doc_id"))
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("j"), col("bit")))),
          s => s.getField("bit"))).as("sig"))
      .orderBy(col("doc_id"))
  }

  // --- production-path (engine-hash) variants: the 100 TB path -------

  /** Per-document MinHash signature matrix, computed entirely map-side
    * by the codegen'd [[graft.functions.MinHashSigExpr]] kernel (each
    * shingle hashed once, permutations derived by bit mixing). A pure
    * narrow pass — no explode, no shuffle, no dictionary; at 100 TB
    * signatures stream at scan speed. (The equivalent higher-order
    * formulation — transform/array_min over xxhash64(s, j) — is ~10x
    * slower: interpreted lambda eval per (shingle, permutation).)
    */
  def minhashSignatures(docs: DataFrame, nHashes: Int = 32,
                        shingleSize: Int = 3): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.functions.shingle_minhash(
        col("text"), nHashes, shingleSize).as("mh"))

  /** (doc_id, [keep...], band, band_sig) LSH band keys — the narrow
    * map-side half of minhashCandidates, shared with the streaming
    * lift (NearDupStream): signatures from the codegen
    * ShingleMinHashExpr, band keys as xxhash64 of signature slices.
    * Columns named in `keep` ride along (e.g. the event-time column a
    * stream's watermark lives on).
    */
  def bandSignatures(docs: DataFrame, nHashes: Int = 32, bandSize: Int = 4,
                     shingleSize: Int = 3, keep: Seq[String] = Nil): DataFrame = {
    require(nHashes >= bandSize && nHashes % bandSize == 0,
      s"nHashes ($nHashes) must be a positive multiple of bandSize ($bandSize)")
    bandsFromSignatures(
      docs.select(
        col("doc_id") +: keep.map(col) :+
          graft.functions.functions.shingle_minhash(
            col("text"), nHashes, shingleSize).as("mh"): _*),
      nHashes, bandSize, keep)
  }

  /** Band keys from an EXISTING (doc_id, mh) signature frame — the
    * one definition of band derivation (slice → xxhash64), shared by
    * [[bandSignatures]] and callers that materialize signatures once
    * and reuse them (q153's calibration audit). The band formula must
    * never fork from the twins' `TwinSql.bandCandidatesSql`
    * (`list_slice(mh, b*4+1, b*4+4)`).
    */
  def bandsFromSignatures(sig: DataFrame, nHashes: Int = 32,
                          bandSize: Int = 4,
                          keep: Seq[String] = Nil): DataFrame =
    sig
      // null signature (null/absent text — ShingleMinHashExpr is
      // null-safe) must emit NO band rows: xxhash64(slice(NULL)) would
      // otherwise collapse every null-text doc onto the hash seed as
      // band_sig, pairing all of them in one quadratically-hot bucket
      .where(col("mh").isNotNull)
      .withColumn("band", explode(sequence(lit(0), lit(nHashes / bandSize - 1))))
      .select(
        col("doc_id") +: keep.map(col) :+ col("band") :+
          xxhash64(slice(col("mh"), col("band") * bandSize + 1, lit(bandSize)))
            .as("band_sig"): _*)

  /** MinHash-LSH candidates: narrow signatures, band signatures as
    * xxhash64 of each signature slice, then ONE equi-join on
    * (band, band_sig) — the only shuffle in the whole operator.
    */
  def minhashCandidates(docs: DataFrame, nHashes: Int = 32, bandSize: Int = 4,
                        shingleSize: Int = 3): DataFrame =
    candidatesFromBands(bandSignatures(docs, nHashes, bandSize, shingleSize))

  /** Candidate pairs from an EXISTING (doc_id, keys..., band,
    * band_sig) band frame — the one definition of the band equi-join,
    * shared by [[minhashCandidates]], the calibration audits, and
    * callers that already hold band keys (the curation pipeline
    * derives them from a checkpointed signature frame so the shingle
    * kernel runs once, not once per join side). `keys` names extra columns
    * that must ALSO match for two docs to share a bucket (positional,
    * matching [[bandsFromSignatures]]' `keep`) — the script-routed
    * chain passes `route` so word and char signatures live in
    * disjoint bucket spaces.
    */
  def candidatesFromBands(bands: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    // The rename below is POSITIONAL (toDF); a caller passing a
    // reordered or extra-column band frame would silently join on the
    // wrong columns, so pin the contract here (r14 ADVICE).
    val expected = "doc_id" +: keys :+ "band" :+ "band_sig"
    require(bands.columns.toSeq == expected,
      s"candidatesFromBands expects columns $expected, got ${bands.columns.toSeq}")
    // Both sides rename every column, so their plans match and they
    // share one shuffle. Two shuffles of the same rows would race:
    // adaptive execution builds its broadcast from whichever finishes
    // first, a run-to-run choice of build side that changes the
    // generated code and so recompiles it.
    val left = bands.toDF("d1" +: keys.map(_ + "_l") :+ "band1" :+ "sig1": _*)
    val right = bands.toDF("d2" +: keys.map(_ + "_r") :+ "band2" :+ "sig2": _*)
    val cond = keys
      .map(k => col(k + "_l") === col(k + "_r"))
      .foldLeft(col("band1") === col("band2") && col("sig1") === col("sig2") &&
        col("d1") < col("d2"))(_ && _)
    left.join(right, cond).select(col("d1"), col("d2")).distinct()
  }

  /** VERIFIED near-dup pairs from an EXISTING (doc_id, mh) signature
    * frame: bands via [[bandsFromSignatures]], the banded candidate
    * join, then MinHash slot agreement >= `minAgree` (slot agreement is
    * an unbiased Jaccard estimate; raw band collisions alone would
    * strike non-duplicates on false positives). ONE definition of the
    * verification criterion, shared by the curation pipeline's
    * near-dup stage and the q173 syndication matrix — a threshold or
    * formula fix must not leave the two reporting different notions of
    * "verified". Cache/checkpoint `sigs` before calling: three
    * consumers read it (both band sides + this verification join).
    */
  def verifiedPairs(sigs: DataFrame, nHashes: Int = 32, bandSize: Int = 4,
                    minAgree: Double = 0.7): DataFrame =
    verifyCandidates(
      candidatesFromBands(bandsFromSignatures(sigs, nHashes, bandSize)),
      sigs, nHashes, minAgree)

  /** The verification HALF of [[verifiedPairs]] over an externally-
    * produced candidate set — THE one definition of the slot-agreement
    * criterion, shared with callers whose candidates come from an
    * incremental index probe instead of the full banded self-join
    * (ClusterStream's per-batch maintenance): a threshold or formula
    * fix here reaches every consumer at once.
    */
  def verifyCandidates(cand: DataFrame, sigs: DataFrame,
                       nHashes: Int = 32, minAgree: Double = 0.7): DataFrame = {
    val agree = zip_with(col("mh1"), col("mh2"),
      (a, b) => when(a === b, 1).otherwise(0))
    cand.select(col("d1"), col("d2"))
      .join(sigs.toDF("d1j", "mh1"), col("d1j") === col("d1"))
      .join(sigs.toDF("d2j", "mh2"), col("d2j") === col("d2"))
      .withColumn("_est",
        aggregate(agree, lit(0), (acc, x) => acc + x) / lit(nHashes))
      .filter(col("_est") >= minAgree)
      .select(col("d1"), col("d2"))
  }

  /** Incremental LSH band-index maintenance: merge a delta corpus into
    * an existing (doc_id, band, band_sig) index — the persisted form
    * of [[bandSignatures]] — without recomputing history. Re-ingested
    * doc_ids are REPLACED (delta wins, MERGE semantics); all other
    * rows carry over untouched. Merge == full rebuild (spec-proven:
    * the signature kernel is deterministic).
    *
    * Scale: signatures are computed only for the delta; stale rows are
    * struck by ONE anti equi-join on doc_id (AQE broadcasts the
    * delta's key set in the common small-delta case); the history is
    * never rescanned, reshingled, or shuffled on content.
    */
  def upsertBandIndex(index: DataFrame, deltaDocs: DataFrame,
                      nHashes: Int = 32, bandSize: Int = 4,
                      shingleSize: Int = 3, route: Boolean = false,
                      fold: Boolean = false): DataFrame = {
    // an at-least-once ingest can deliver one doc_id twice in a batch:
    // without a winner per id BOTH versions' band rows would survive
    // (merge != rebuild). Deterministic winner = row-wise minimum of
    // the remaining ORDERABLE columns, the NearDupStream representative
    // rule — a map/udt column in the delta (not orderable in Spark)
    // would otherwise fail analysis, and such columns can't break ties
    // deterministically anyway. All-unorderable deltas degrade to an
    // arbitrary (but single) winner per doc_id.
    val others = deltaDocs.schema.fields
      .filter(f => f.name != "doc_id" &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name)).toSeq
    val w = Window.partitionBy(col("doc_id")).orderBy(others: _*)
    val delta =
      if (others.isEmpty) deltaDocs.dropDuplicates("doc_id")
      else deltaDocs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    // route = script-routed band keys (the r14 verdict's #3 gap: the
    // batch chain routed scripts but the persisted index was
    // word-shingle-only, so a zh doc upserted into it stayed invisible
    // to every probe). The routed index carries a `route` column the
    // probe side matches on; an index built routed must be probed
    // routed — the anti-join merge is route-agnostic (doc_id only).
    val fresh =
      if (route) routedBandSignatures(delta, nHashes, bandSize, shingleSize,
        fold = fold)
      else if (fold) bandSignatures(foldTextCol(delta), nHashes, bandSize,
        shingleSize)
      else bandSignatures(delta, nHashes, bandSize, shingleSize)
    index
      .join(fresh.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .unionByName(fresh)
  }

  /** Incremental near-dup CLUSTER maintenance (the q198 kernel): merge
    * a delta into a persisted component view WITHOUT re-running global
    * union-find — the missing piece between [[upsertBandIndex]]
    * (candidates incrementally) and the q85/q135/q155/q162 consumers
    * (which re-ran components from scratch per run). The persisted
    * artifacts are the verified-pair EDGE store and the component
    * view; an ingest batch (new docs + re-ingested versions of
    * existing ids) updates both:
    *
    *  1. every stored edge touching a re-ingested id is STRUCK (its
    *     endpoints' content changed — delta wins, the upsertBandIndex
    *     rule);
    *  2. `newPairs` — the verified pairs of the batch against the
    *     merged corpus (candidates from [[probeBandIndex]] +
    *     delta-internal banding at scale; the caller verifies) — are
    *     added;
    *  3. ONLY components touched by a struck or added edge recompute
    *     (their kept edges + the new edges through the shared
    *     [[connectedComponents]]); every untouched component carries
    *     over byte-identical.
    *
    * merge == rebuild (spec-proven): pairs between two non-delta docs
    * are unchanged by the ingest, so the merged edge store equals the
    * from-scratch edge set over the merged corpus, and components of
    * the touched region recompute from exactly those edges — a struck
    * id that lost all edges drops out, a bridge edge merges two old
    * components, and the canonical min-member cluster ids re-derive.
    *
    * Scale: the delta id set is small — both strike flags and the
    * touched-component semi-join broadcast it (AQE); the edge store is
    * never content-rescanned; the union-find loop runs on the touched
    * region only (new edges + kept edges of touched components), not
    * the corpus graph.
    */
  def upsertComponents(histPairs: DataFrame, histComp: DataFrame,
                       deltaIds: DataFrame, newPairs: DataFrame): DataFrame = {
    val ids = deltaIds.select(col("doc_id")).distinct()
    val flagged = histPairs.toDF("d1", "d2")
      .join(ids.toDF("x1"), col("d1") === col("x1"), "left")
      .join(ids.toDF("x2"), col("d2") === col("x2"), "left")
    val struck = flagged
      .filter(col("x1").isNotNull || col("x2").isNotNull)
      .select(col("d1"), col("d2"))
    val kept = flagged
      .filter(col("x1").isNull && col("x2").isNull)
      .select(col("d1"), col("d2"))
    val np = newPairs.toDF("d1", "d2")
    val comp = histComp.toDF("v", "component")
    val touchedNodes = struck.select(col("d1").as("v"))
      .union(struck.select(col("d2").as("v")))
      .union(np.select(col("d1").as("v")))
      .union(np.select(col("d2").as("v")))
      .distinct()
    val touchedComps = comp.join(touchedNodes, Seq("v"))
      .select(col("component")).distinct()
    // kept edges live inside one component by definition — joining the
    // d1 endpoint's membership suffices to scope the region
    val regionKept = kept
      .join(comp.toDF("d1", "c1"), Seq("d1"))
      .join(touchedComps.toDF("c1"), Seq("c1"))
      .select(col("d1"), col("d2"))
    val regionComp = connectedComponents(regionKept.unionByName(np))
    comp.join(touchedComps, Seq("component"), "left_anti")
      .select(col("v"), col("component"))
      .unionByName(regionComp.select(col("v"), col("component")))
  }

  /** q198: the incremental-maintenance lifecycle over the q85 slice —
    * history = doc_id < 80, ingest batch = 20 new docs (80..99) plus
    * re-ingested v2 versions (text || ' v2') of ids ≡ 0 (mod 20); the
    * output is the q85-shaped cluster table of the MERGED state. The
    * spec proves merge == rebuild; the ORACLE is therefore the
    * from-scratch recursive-CTE rebuild over the merged corpus — the
    * strongest possible check of the merge path's end state. Bounded
    * slice (q85's recursive-CTE reasoning; ScaleCheck-excluded for
    * q153's reason — at corpus scale candidates come from
    * [[probeBandIndex]] and the region recompute is delta-local).
    */
  val q198: QueryDef = QueryDef.sql(
    "q198_incremental_clusters",
    s"""WITH RECURSIVE md AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id < 80 AND doc_id % 20 = 0 THEN text || ' v2'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id < 100),
       |${jaccPairChainSql("md")},
       |$componentsSql
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
       |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val all = Tables.documents(s, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val hist = all.filter(col("doc_id") < 80)
    val reingest = hist.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
    val delta = reingest.unionByName(all.filter(col("doc_id") >= 80))
    val deltaIds = delta.select(col("doc_id"))
    val merged = hist.join(deltaIds, Seq("doc_id"), "left_anti")
      .unionByName(delta)
      .localCheckpoint(false)
    // checkpointed: upsertComponents reads histPairs twice (struck +
    // kept through the shared flag join) and the final plan's lazy
    // re-execution would otherwise re-run the whole 80-doc pair chain
    // per reference
    val histPairs = jaccardPairs(hist).localCheckpoint(false)
    // verified pairs of the batch against the merged corpus: at this
    // slice the exact q85 criterion, computed DELTA-SIDED
    // (jaccardPairsTouching) — pairs NOT touching the delta are
    // provably unchanged, so the merge path never pays the merged
    // corpus's all-pairs self-join to immediately discard them
    // (measured on the registered face: 6.9 s -> the trimmed face's
    // quiet median, sf0.1). Materialized EAGERLY on a helper thread
    // (r15, guide §2.6 "overlap independent jobs"): this chain and the
    // history chain below are independent until upsertComponents, but
    // sequentially each ran its eager construction work (checkpoint
    // materialization, CC's stats+collect) on an otherwise idle
    // scheduler. Concurrency-safe by construction: neither chain
    // writes session state (connectedComponents changes no session
    // conf on either dispatch path).
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val newPairsF = pool.submit(
      new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
        def call(): org.apache.spark.sql.DataFrame =
          jaccardPairsTouching(merged, deltaIds).localCheckpoint(true)
      })
    val (histComp, newPairs) = try {
      (connectedComponents(histPairs), newPairsF.get())
    } finally pool.shutdown()
    upsertComponents(histPairs, histComp, deltaIds, newPairs)
      .groupBy(col("component").as("cluster_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_members"),
        concat_ws(",",
          transform(array_sort(collect_list(col("v"))), x => x.cast("string")))
          .as("members"))
      .orderBy(col("cluster_id"))
  }

  /** Probe an LSH band index with an incoming batch: candidate pairs
    * (batch doc, indexed doc) sharing any band key — the incremental
    * near-dup check a perpetual ingest runs against its accumulated
    * index instead of re-running all-pairs LSH. One equi-join on
    * (band, band_sig); the batch side is the small one. `route`/`fold`
    * mirror [[upsertBandIndex]]: a routed (or folded) index must be
    * probed the same way — the routed join ALSO matches on `route`,
    * so a word-shingle band key can never collide into the char
    * bucket space.
    */
  def probeBandIndex(index: DataFrame, batch: DataFrame,
                     nHashes: Int = 32, bandSize: Int = 4,
                     shingleSize: Int = 3, route: Boolean = false,
                     fold: Boolean = false): DataFrame = {
    val bands =
      if (route) routedBandSignatures(batch, nHashes, bandSize, shingleSize,
        fold = fold)
      else if (fold) bandSignatures(foldTextCol(batch), nHashes, bandSize,
        shingleSize)
      else bandSignatures(batch, nHashes, bandSize, shingleSize)
    val routeKey = if (route) Seq(col("route")) else Nil
    val b = bands.select(
      col("doc_id").as("d1") +: routeKey :+ col("band") :+ col("band_sig"): _*)
    val idx = index.select(
      col("doc_id").as("d2") +:
        (if (route) Seq(col("route").as("route2")) else Nil) :+
        col("band").as("band2") :+ col("band_sig").as("sig2"): _*)
    val cond = (if (route) Seq(col("route") === col("route2")) else Nil)
      .foldLeft(col("band") === col("band2") && col("band_sig") === col("sig2") &&
        col("d1") =!= col("d2"))(_ && _)
    b.join(idx, cond)
      .select(col("d1"), col("d2")).distinct()
  }

  /** Word n-gram shingles of a text column. Deliberate min-1-window
    * semantics (matching the fused shingleMinhashSig kernel): a doc
    * shorter than `n` tokens yields ONE shingle — the whole doc — so
    * every non-empty doc has a MinHash signature and two identical
    * short docs still register as duplicates. Consequence for the
    * Jaccard/repetition queries built on this: sub-n docs compare by
    * their full text, not by true n-grams (documented, same on both
    * engines).
    */
  def shingles(text: Column, n: Int): Column =
    // LET-BIND the token array before the shingle loop. Higher-order
    // functions are interpreted (not codegen'd, no common-subexpression
    // elimination), so a lambda body that references the tokenize
    // EXPRESSION would re-run the regex split once per shingle index —
    // O(tokens x chars) per document (measured: 84 CPU-seconds to
    // shingle 1.4 MB of text in q89). `transform(array(t), tt => ...)`
    // evaluates t exactly once and rebinds it as a lambda variable, an
    // O(1) lookup per reference.
    element_at(
      transform(array(TextAnalytics.toks(text)), t =>
        filter(
          transform(sequence(lit(0), greatest(size(t) - n, lit(0))),
            i => concat_ws(" ", slice(t, i + 1, lit(n)))),
          s => length(s) > 0)),
      1)

  /** Codepoint n-gram shingles of a text column — the char-level twin
    * of [[shingles]] for space-free scripts, where whitespace tokens
    * degenerate to one per document. Same min-1-window semantics (a
    * doc shorter than n code points yields ONE gram: the whole doc;
    * empty text yields none) and the same let-binding defense: the
    * text expression evaluates ONCE per row, not once per gram index
    * (callers hand computed columns — replace/fold chains — whose
    * re-evaluation per gram would be O(len^2) in interpreted HOF
    * eval). Null text yields an EMPTY gram list (the row contributes
    * nothing once exploded), where the fused kernel is null-on-null
    * (the band chain's null-signature guard) — both mean "never
    * pairs", spec-pinned in CharShingleSpec. This exact column form
    * exists for bounded slices and the oracle chain; the 100 TB path
    * is the fused codegen kernel [[charMinhashSignatures]], exactly
    * as [[jaccardPairs]] vs [[minhashSignatures]].
    */
  def charShingles(text: Column, n: Int): Column =
    element_at(
      transform(array(text), t =>
        filter(
          transform(sequence(lit(0), greatest(length(t) - n, lit(0))),
            i => t.substr(i + 1, lit(n))),
          g => length(g) > 0)),
      1)

  /** Per-document MinHash signatures over CODEPOINT n-grams, computed
    * map-side by the codegen'd
    * [[graft.functions.CharShingleMinHashExpr]] kernel — the
    * space-free-script production path ([[minhashSignatures]]'s twin;
    * a zh/th document is one whitespace token, so the word kernel
    * hands the band join a single whole-doc shingle and near-dup
    * recall collapses to exact match). The output feeds the UNCHANGED
    * [[bandsFromSignatures]]/[[verifiedPairs]] chain. Compose with
    * [[graft.text.Fold]] by folding the text column first (the q207
    * normalized form): both are narrow codegen expressions in the
    * same map, zero extra passes.
    */
  def charMinhashSignatures(docs: DataFrame, nHashes: Int = 32,
                            n: Int = 4): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.functions.char_shingle_minhash(
        col("text"), nHashes, n).as("mh"))

  /** Script-ROUTED MinHash signatures: each document takes the char
    * n-gram kernel when its CJK codepoint density clears
    * `cjkDensity`, the word-shingle kernel otherwise — the ACTION the
    * langId detection enables (the r13 gap: q129 could SAY a doc was
    * zh, but every dedup surface still shingled whitespace tokens at
    * it). One narrow codegen map: the density test is the exact q129
    * CJK predicate (codepoint count via regexp_replace) and CaseWhen
    * evaluates only the chosen kernel per row. Emits
    * (doc_id, route, mh); `route` ∈ ('word','char') NAMESPACES the
    * band join downstream — a cross-script band collision would be a
    * meaningless candidate, so the two families never share buckets.
    */
  /** THE space-free-script codepoint class the router density-tests:
    * Thai (U+0E00–0E7F) + Lao (U+0E80–0EFF) as one contiguous range,
    * Khmer (U+1780–17FF), Japanese kana (U+3040–30FF), CJK Extension
    * A (U+3400–4DBF), CJK Unified (U+4E00–9FFF), and CJK Extension B
    * (U+20000–2A6DF, beyond the BMP — both engines' regexes take
    * \\x{...} to 10FFFF and both length() functions count
    * CODEPOINTS, so a surrogate pair is one char on each side).
    * r14 widened this from CJK Unified alone (the r14 verdict's #1
    * gap: a pure-Thai or kana-heavy document routed 'word' and
    * degenerated to a one-token shingle). Hangul is deliberately
    * absent: Korean is space-delimited, so word shingles work there.
    * ONE definition feeding [[routeCol]] and [[routeCaseSql]] — the
    * literal is valid in Java regex and RE2 alike.
    */
  private[ops] val SpaceFreeClass: String =
    "[\\x{0e00}-\\x{0eff}\\x{1780}-\\x{17ff}\\x{3040}-\\x{30ff}" +
      "\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{20000}-\\x{2a6df}]"

  /** THE route predicate: 'char' when the text's space-free-script
    * codepoint density (the q129 zh-detection formula — codepoint
    * count via global regexp_replace — over the widened
    * [[SpaceFreeClass]]) clears `cjkDensity`, 'word' otherwise
    * (null/empty text routes 'word'; its signature is
    * null/never-pairs anyway). ONE definition shared by
    * [[scriptRoutedSignatures]] and the exact q213/q214 reports; its
    * twin text is [[routeCaseSql]].
    */
  private[ops] def routeCol(cjkDensity: Double = 0.3): Column = {
    val len = length(col("text"))
    val cjk = len - length(
      regexp_replace(col("text"), SpaceFreeClass, ""))
    when(col("text").isNotNull && len > 0 &&
        cjk.cast("double") >= lit(cjkDensity) * len.cast("double"),
      lit("char")).otherwise(lit("word"))
  }

  /** [[routeCol]] in twin SQL over a column named `text`. DuckDB's
    * regexp_replace needs the explicit 'g' flag to strip ALL matching
    * codepoints (Spark's is global by default — the q129 twin's
    * documented asymmetry); the density compare is the identical
    * double formula over the identical [[SpaceFreeClass]] literal.
    */
  private[ops] def routeCaseSql(cjkDensity: Double = 0.3): String =
    s"""CASE WHEN text IS NOT NULL AND length(text) > 0
       |  AND CAST(length(text) - length(regexp_replace(text,
       |        '$SpaceFreeClass', '', 'g')) AS DOUBLE)
       |      >= $cjkDensity * CAST(length(text) AS DOUBLE)
       |THEN 'char' ELSE 'word' END""".stripMargin

  def scriptRoutedSignatures(docs: DataFrame, nHashes: Int = 32,
                             wordShingle: Int = 3, charN: Int = 4,
                             cjkDensity: Double = 0.3,
                             fold: Boolean = false,
                             keep: Seq[String] = Nil): DataFrame = {
    // fold = the q207 normalized form COMPOSED with routing (the r14
    // verdict's #4 gap): ONE foldTextCol ahead of the route predicate
    // AND both kernels — all narrow codegen in the same map, zero
    // extra passes, and the route decision sees the same text the
    // chosen kernel shingles (folding never crosses the script
    // boundary: case/diacritic folding is identity on CJK/Thai/kana).
    val src = if (fold) foldTextCol(docs) else docs
    val useChar = routeCol(cjkDensity) === "char"
    src.select(
      col("doc_id") +: keep.map(col) :+
        routeCol(cjkDensity).as("route") :+
        when(useChar,
            graft.functions.functions.char_shingle_minhash(
              col("text"), nHashes, charN))
          .otherwise(
            graft.functions.functions.shingle_minhash(
              col("text"), nHashes, wordShingle)).as("mh"): _*)
  }

  /** Band keys over [[scriptRoutedSignatures]] with `route` appended
    * to the carried columns — the ONE routed band derivation shared
    * by [[scriptRoutedCandidates]], the routed band-index lifecycle
    * ([[upsertBandIndex]]/[[probeBandIndex]] with `route = true`),
    * and the streaming surfaces (NearDupStream). Output: (doc_id,
    * keep..., route, band, band_sig) — exactly what
    * [[candidatesFromBands]] with `keys = keep :+ "route"` expects.
    */
  def routedBandSignatures(docs: DataFrame, nHashes: Int = 32,
                           bandSize: Int = 4, wordShingle: Int = 3,
                           charN: Int = 4, cjkDensity: Double = 0.3,
                           fold: Boolean = false,
                           keep: Seq[String] = Nil): DataFrame =
    bandsFromSignatures(
      scriptRoutedSignatures(docs, nHashes, wordShingle, charN, cjkDensity,
        fold, keep),
      nHashes, bandSize, keep = keep :+ "route")

  /** LSH candidate pairs over [[scriptRoutedSignatures]]: the q45
    * banded equi-join with `route` in the bucket key (word and char
    * signatures live in disjoint bucket spaces by construction).
    * Verify survivors with [[verifyCandidates]] against the SAME
    * routed signature frame — slot agreement is route-consistent
    * because candidates never cross routes. `fold` composes the q207
    * normalization ahead of the route predicate and both kernels.
    */
  def scriptRoutedCandidates(docs: DataFrame, nHashes: Int = 32,
                             bandSize: Int = 4, wordShingle: Int = 3,
                             charN: Int = 4,
                             cjkDensity: Double = 0.3,
                             fold: Boolean = false): DataFrame =
    candidatesFromBands(
      routedBandSignatures(docs, nHashes, bandSize, wordShingle, charN,
        cjkDensity, fold),
      keys = Seq("route"))

  /** Exact ROUTED pair report (the q213 kernel): route every doc by
    * [[routeCol]], run the word-route docs through the exact token
    * Jaccard chain ([[jaccardPairs]]) and the char-route docs through
    * the exact gram chain ([[charJaccardPairs]]), and roll up per
    * route — docs, pairs, and the pairs whose ids differ by
    * `plantedOffset` (the audit corpora's planted-dup convention, so
    * the report itself says how many plants each chain recovered).
    * Routes can never cross: the pair arms run on disjoint doc sets.
    * Exact all-pairs — bounded audit slices only (q85's reasoning);
    * the corpus-scale routed path is
    * [[scriptRoutedSignatures]]/[[scriptRoutedCandidates]].
    *
    * `keys` are per-document columns (q214: a script `tag`) carried to
    * the rollup, one row per (keys, route), so a mixed-script audit
    * corpus reports WHICH script each route served. Pairs are charged
    * to d1's keys (the q207 rule; plants share their original's keys
    * by construction), and the pair arms still run on the route-wide
    * doc sets — cross-tag pairs are structurally possible in the char
    * arm but never materialize for transliterated audit corpora
    * because the target alphabets are disjoint codepoint sets.
    */
  def routedPairReport(docs: DataFrame, n: Int = 4,
                       cjkDensity: Double = 0.3,
                       plantedOffset: Long = 100000L,
                       keys: Seq[String] = Nil): DataFrame = {
    val routed = docs
      .select(col("doc_id") +: keys.map(col) :+ col("text") :+
        routeCol(cjkDensity).as("route"): _*)
      .localCheckpoint(false) // both pair arms + the doc rollup read it
    def arm(route: String) =
      routed.filter(col("route") === route).select(col("doc_id"), col("text"))
    val armPairs = jaccardPairs(arm("word")).withColumn("route", lit("word"))
      .unionByName(charJaccardPairs(arm("char"), n)
        .withColumn("route", lit("char")))
    val pairs = if (keys.isEmpty) armPairs
      else armPairs.join(
        routed.select(col("doc_id").as("d1") +: keys.map(col): _*), Seq("d1"))
    val by = keys :+ "route"
    val nd = routed.groupBy(by.map(col): _*)
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
    val np = pairs.groupBy(by.map(col): _*)
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(when(col("d2") === col("d1") + plantedOffset, 1L).otherwise(0L))
          .cast("bigint").as("n_planted"))
    nd.join(np, by, "left")
      .select(by.map(col) ++ Seq(col("n_docs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_planted"), lit(0L)).as("n_planted")): _*)
      .orderBy(by.map(col): _*)
  }

  /** The 36-char deterministic ASCII -> CJK transliteration the q213
    * corpus synthesizer uses to make the zh slice ACTUALLY CJK-dense
    * (the fixture's zh rows are English tokens, so [[routeCol]] would
    * never fire on them raw): a bijection on [a-z0-9], every target
    * in U+4E00–U+9FFF, applied by `translate` on BOTH engines
    * (codepoint-wise in Spark and DuckDB alike). A bijection
    * preserves gram-set structure exactly, so the char chain sees the
    * same near-dup geometry q211 audits.
    */
  private def Ascii36 = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def Cjk36 =
    "一二三四五六七八九十百千万上下左右中大小山水火木金土日月田力口手心天地人"

  /** The q214 sibling bijections: 36 Thai consonants (U+0E01–0E29)
    * and 36 hiragana (U+3042–3084) — pairwise disjoint from
    * [[Cjk36]] and from each other, so transliterated corpora can
    * never share a char gram across scripts and every target sits
    * inside [[SpaceFreeClass]] (the widened router must fire on
    * them; the pre-r15 CJK-only class did NOT — exactly the r14
    * verdict's top gap).
    */
  private def Thai36 = "กขคงจฉชซฌญฎฏฐฑฒณดตถทธนบปผฝพฟภมยรลวศษ"
  private def Kana36 =
    "あいうえおかきくけこさしすせそたちつてとなにぬねのはひふへほまみむめもや"

  /** q213: [[routedPairReport]] over a MIXED-SCRIPT audit corpus —
    * the en slice raw (spaced ASCII) and the zh slice space-free and
    * CJK-transliterated ([[Ascii36]] -> [[Cjk36]]), each side with
    * planted truncation near-dups at id + 100000. The end-to-end
    * oracle proof that the ROUTING acts correctly: word-route pairs
    * come only from the spaced side, char-route pairs only from the
    * CJK side, each chain recovers its own plants, and no pair ever
    * crosses scripts. FULL-REPLAY ORACLE: DuckDB re-synthesizes the
    * corpus (replace + translate), re-derives the route CASE (the
    * shared [[routeCaseSql]]), and re-runs BOTH exact pair chains.
    */
  val q213: QueryDef = QueryDef.sql(
    "q213_routed_dedup_report",
    s"""WITH base AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id < 300 AND lang IN ('en', 'zh')),
       |srcd AS (
       |  SELECT doc_id,
       |    CASE WHEN lang = 'zh'
       |      THEN translate(replace(text, ' ', ''), '$Ascii36', '$Cjk36')
       |      ELSE text END AS text
       |  FROM base),
       |c AS MATERIALIZED (
       |  SELECT doc_id, text FROM srcd
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id,
       |    substring(text, 1, greatest(length(text) - 10, 1)) AS text
       |  FROM srcd WHERE doc_id % 10 = 0),
       |r AS MATERIALIZED (
       |  SELECT doc_id, text, ${routeCaseSql()} AS route FROM c),
       |wdocs AS (SELECT doc_id, text FROM r WHERE route = 'word'),
       |cdocs AS (SELECT doc_id, text FROM r WHERE route = 'char'),
       |${jaccPairChainSql("wdocs", "w")},
       |${charPairChainSql("cdocs", "g", 4)},
       |pr AS (
       |  SELECT 'word' AS route, d1, d2 FROM pairsw
       |  UNION ALL
       |  SELECT 'char' AS route, d1, d2 FROM pairsg),
       |nd AS (SELECT route, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM r GROUP BY route),
       |np AS (
       |  SELECT route, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN d2 = d1 + 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_planted
       |  FROM pr GROUP BY route)
       |SELECT nd.route, nd.n_docs,
       |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(np.n_planted, 0) AS BIGINT) AS n_planted
       |FROM nd LEFT JOIN np USING (route)
       |ORDER BY nd.route""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") < 300 &&
        (col("lang") === "en" || col("lang") === "zh"))
      .select(col("doc_id"),
        when(col("lang") === "zh",
            translate(expr("replace(text, ' ', '')"), Ascii36, Cjk36))
          .otherwise(col("text")).as("text"))
    val corpus = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            expr("substring(text, 1, greatest(length(text) - 10, 1))")
              .as("text")))
      .localCheckpoint(false)
    routedPairReport(corpus)
  }

  /** q214: [[routedPairReport]] by script tag over a FOUR-SCRIPT
    * audit corpus — the q213 proof extended to the scripts the widened
    * [[SpaceFreeClass]] router newly serves: the en slice raw
    * (spaced ASCII), and the de/fr/zh slices space-free and
    * transliterated into Thai ([[Thai36]]), hiragana ([[Kana36]]),
    * and CJK ([[Cjk36]]) respectively, each with planted truncation
    * near-dups at id + 100000. The end-to-end oracle proof for the
    * r14 verdict's top ask: a pure-Thai and a kana-heavy document now
    * route 'char' (pre-r15 they routed 'word' and went blind to
    * near-dup), each script's plants are recovered by the char chain,
    * word pairs come only from the spaced slice, and no pair crosses
    * scripts (disjoint alphabets). FULL-REPLAY ORACLE: DuckDB
    * re-synthesizes the corpus (replace + the three translates),
    * re-derives the route CASE (the shared [[routeCaseSql]] over the
    * widened class), and re-runs BOTH exact pair chains.
    */
  val q214: QueryDef = QueryDef.sql(
    "q214_multiscript_routed_report",
    s"""WITH base AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE doc_id < 300 AND lang IN ('en', 'de', 'fr', 'zh')),
       |srcd AS (
       |  SELECT doc_id,
       |    CASE lang WHEN 'en' THEN 'en' WHEN 'de' THEN 'th'
       |              WHEN 'fr' THEN 'ja' ELSE 'zh' END AS tag,
       |    CASE lang
       |      WHEN 'en' THEN text
       |      WHEN 'de' THEN translate(replace(text, ' ', ''), '$Ascii36', '$Thai36')
       |      WHEN 'fr' THEN translate(replace(text, ' ', ''), '$Ascii36', '$Kana36')
       |      ELSE translate(replace(text, ' ', ''), '$Ascii36', '$Cjk36')
       |    END AS text
       |  FROM base),
       |c AS MATERIALIZED (
       |  SELECT doc_id, tag, text FROM srcd
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, tag,
       |    substring(text, 1, greatest(length(text) - 10, 1)) AS text
       |  FROM srcd WHERE doc_id % 10 = 0),
       |r AS MATERIALIZED (
       |  SELECT doc_id, tag, text, ${routeCaseSql()} AS route FROM c),
       |wdocs AS (SELECT doc_id, text FROM r WHERE route = 'word'),
       |cdocs AS (SELECT doc_id, text FROM r WHERE route = 'char'),
       |${jaccPairChainSql("wdocs", "w")},
       |${charPairChainSql("cdocs", "g", 4)},
       |pr AS (
       |  SELECT 'word' AS route, d1, d2 FROM pairsw
       |  UNION ALL
       |  SELECT 'char' AS route, d1, d2 FROM pairsg),
       |prt AS (
       |  SELECT r.tag, pr.route, pr.d1, pr.d2
       |  FROM pr JOIN r ON r.doc_id = pr.d1),
       |nd AS (SELECT tag, route, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM r GROUP BY tag, route),
       |np AS (
       |  SELECT tag, route, CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN d2 = d1 + 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_planted
       |  FROM prt GROUP BY tag, route)
       |SELECT nd.tag, nd.route, nd.n_docs,
       |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(np.n_planted, 0) AS BIGINT) AS n_planted
       |FROM nd LEFT JOIN np USING (tag, route)
       |ORDER BY nd.tag, nd.route""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") < 300 &&
        col("lang").isin("en", "de", "fr", "zh"))
      .select(col("doc_id"),
        when(col("lang") === "en", "en")
          .when(col("lang") === "de", "th")
          .when(col("lang") === "fr", "ja")
          .otherwise("zh").as("tag"),
        when(col("lang") === "en", col("text"))
          .when(col("lang") === "de",
            translate(expr("replace(text, ' ', '')"), Ascii36, Thai36))
          .when(col("lang") === "fr",
            translate(expr("replace(text, ' ', '')"), Ascii36, Kana36))
          .otherwise(
            translate(expr("replace(text, ' ', '')"), Ascii36, Cjk36))
          .as("text"))
    val corpus = base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("tag"),
            expr("substring(text, 1, greatest(length(text) - 10, 1))")
              .as("text")))
      .localCheckpoint(false)
    routedPairReport(corpus, keys = Seq("tag"))
  }

  /** Exact codepoint-n-gram Jaccard pairs at `threshold` — the
    * char-level twin of [[jaccardPairs]] (distinct (doc, gram), size
    * table, gram self-join, threshold compare, same division form).
    * The verifier that runs on [[charMinhashSignatures]] candidates
    * at scale; exact all-pairs only on bounded slices (q211).
    */
  def charJaccardPairs(docs: DataFrame, n: Int = 4,
                       threshold: Double = 0.7): DataFrame =
    overlapCounts(docs
        .select(col("doc_id"), explode(charShingles(col("text"), n)).as("gram"))
        .distinct())
      .filter(col("n_common") /
        (col("n1") + col("n2") - col("n_common")) >= threshold)
      .select(col("d1"), col("d2"))

  /** SimHash near-dup pairs via the codegen'd simhash64 expression over
    * xxhash64 term ids; pairs within `maxHamming` bits.
    *
    * Candidate generation is MULTI-BAND: the 64-bit signature splits
    * into 4 disjoint 16-bit bands and a doc emits one candidate row per
    * band; docs meet when ANY band matches (join key is
    * (band_idx, band_bits), so band 0 never collides with band 2).
    * By pigeonhole, a pair within hamming distance 3 has at least one
    * of its 4 bands untouched — recall is exactly 1.0 there (gated in
    * DedupRecallSpec) — versus the single high-16-band scheme this
    * replaces, which missed ~44% of even hamming-2 pairs (both flips
    * landing in the low 48 bits). Beyond distance 3 recall decays
    * gracefully (a hamming-8 pair is caught iff some band dodges all 8
    * flips) — the standard Charikar/Manku banding trade.
    *
    * Scale: 4x the candidate rows of one band, still one shuffled
    * equi-join — no cross join; duplicate pairs from multi-band hits
    * are collapsed by the distinct-on-(d1,d2) before the hamming
    * verify.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    simhashBandPairs(simhashSig64(docs), maxHamming)

  /** (doc_id, sig BIGINT) 64-bit SimHash signatures over the distinct
    * token set — the engine-hash half of [[simhashPairs]]. Dumped by
    * graft.Verify as the `aux_simhash_sig64` artifact: q46's TWO-STAGE
    * oracle re-derives the banding + hamming pair generation in DuckDB
    * over this frame (xxhash64 itself has no SQL twin; the signature
    * kernel is gated by DedupRecallSpec and the q29 arithmetic twin).
    */
  def simhashSig64(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      simhash64(transform(array_distinct(TextAnalytics.toks(col("text"))),
        t => xxhash64(t))).as("sig"))

  /** Banded candidate join + hamming verify over a precomputed
    * (doc_id, sig BIGINT) frame — the signature-level half of
    * [[simhashPairs]], exposed so recall can be gated on PLANTED
    * signature perturbations (DedupRecallSpec).
    */
  def simhashBandPairs(sigFrame: DataFrame, maxHamming: Int = 8): DataFrame = {
    val bandStructs = (0 to 3).map(i =>
      struct(lit(i).as("b"),
        shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("band")))
    val sigs = sigFrame
      .select(col("doc_id"), col("sig"),
        explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("sig"),
        col("e.b").as("b"), col("e.band").as("band"))
    sigs.toDF("d1", "sig1", "b", "band")
      .join(sigs.toDF("d2", "sig2", "b2", "band2"),
        col("b") === col("b2") && col("band") === col("band2") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("sig1"), col("sig2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig1").bitwiseXOR(col("sig2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Embedding-cosine near-duplicates, exact over a bounded slice
    * (vec_id < 200): the verifier stage of embedding dedup, with the
    * cosine formula pinned to the engine-neutral fold (see q31).
    * The unbounded path is [[dedupByEmbedding]] (LSH-bucketed).
    */
  val q50: QueryDef = QueryDef.sql(
    "q50_embedding_neardup",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |s AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2,
      |    ${TwinSql.cosZ("a.embedding", "b.embedding")}
      |    AS score
      |  FROM e a, e b WHERE a.vec_id < b.vec_id)
      |SELECT d1, d2, score FROM s
      |WHERE score >= 0.35
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    import graft.functions.functions.cosine_similarity
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.toDF("d1", "v1")
      .join(e.toDF("d2", "v2"), col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        cosine_similarity(col("v1"), col("v2")).as("score"))
      .filter(col("score") >= 0.35)
      .orderBy(col("d1"), col("d2"))
  }

  /** Incremental dedup of an incoming batch against a HISTORICAL
    * corpus, without ever shuffling either side on the key:
    *
    *  1. build a Bloom filter of the history's keys — Spark's
    *     `stat.bloomFilter` treeAggregates per-partition filters, so
    *     the history is scanned once, map-side, zero shuffle;
    *  2. probe incoming rows with the codegen'd
    *     [[graft.functions.BloomMightContainExpr]] (filter broadcast
    *     as a codegen reference object) — definite-new rows pass
    *     narrow, at scan speed;
    *  3. only the might-contain sliver (true dups + fpp false
    *     positives) pays an exact LEFT ANTI join against the history
    *     to reject the false positives.
    *
    * At 100 TB-of-history / small-batch-incoming this turns the
    * daily-ingest dedup from a full history shuffle into two map-side
    * history scans (bloom build; suspect-key semi-join) plus joins
    * whose non-broadcast side is only ever the incoming batch. Exact
    * semantics, including NULL keys: a NULL key matches nothing in an
    * anti-join, so null-key rows are kept (the bloom probe yields NULL
    * for them; they never enter the suspect set).
    */
  def dedupAgainstHistory(incoming: DataFrame, history: DataFrame,
                          keyCol: String, expectedItems: Long = 1000000L,
                          fpp: Double = 0.03): DataFrame = {
    val bloom = history.stat.bloomFilter(keyCol, expectedItems, fpp)
    val mc = graft.functions.functions.bloom_might_contain(col(keyCol), bloom)
    // suspect keys: |true dups| + fpp*|incoming| — sliver-sized by
    // construction (this traversal of the incoming plan is
    // column-pruned to the key)
    val suspectKeys = incoming
      .filter(coalesce(mc, lit(false)))
      .select(col(keyCol)).distinct()
    // confirm against history WITHOUT shuffling it: broadcast the
    // sliver and left-semi the history's key column map-side; the
    // output (keys that really are in history) is <= the sliver
    val confirmed = history.select(col(keyCol))
      .join(broadcast(suspectKeys), Seq(keyCol), "left_semi")
      .distinct()
    // final answer in ONE pass over incoming: drop exactly the
    // confirmed-dup keys (broadcast anti-join; false positives were
    // eliminated by the semi-join, null keys survive)
    incoming.join(broadcast(confirmed), Seq(keyCol), "left_anti")
  }

  /** Diagnostic for the dispatch-boundary spec: did the last
    * [[connectedComponents]] call label on the driver (vs the loop)?
    */
  @volatile private[graft] var lastDispatchLocal: Boolean = false

  /** Connected components over an undirected edge list (a, b) by
    * iterative min-label propagation: every vertex starts as its own
    * label; each round a vertex takes the minimum label among itself
    * and its neighbors; fixpoint = component id is the component's
    * minimum vertex id. Convergence needs at most `diameter` rounds,
    * checked per round with a changed-label count and stopped early.
    *
    * This is the stage a real dedup pipeline runs AFTER pair
    * verification: near-dup pairs form chains (A~B, B~C but not A~C),
    * and keep-one-per-pair policies double-drop or double-keep on
    * chains — the correct policy is one canonical doc per COMPONENT.
    *
    * Each round ALSO pointer-jumps (label(v) <- label(label(v)) — the
    * label's own label is always present because labels cover every
    * vertex), which squares the propagation distance per round:
    * convergence in O(log diameter) rounds instead of O(diameter), the
    * same doubling trick as the classic MR large-star/small-star
    * algorithm. A 20-hop chain resolves in ~5 rounds.
    *
    * Scale: each round is one join against the cached symmetric edge
    * list + one label self-join + a min-aggregate. Label frames are
    * localCheckpoint'd per round to truncate the growing plan lineage.
    * The checkpoints keep no partitioning: their scans report
    * UnknownPartitioning(0), so with broadcast joins off every round
    * exchanges the label side on vertex id again (seen in the plan of
    * the distributed path, localEdgeLimit = 0).
    * `Shim.hashPartitionedCheckpoint` (org.apache.spark.sql.graftshim)
    * is the checkpoint that states its partitioning; the loop does not
    * use it yet.
    *
    * Small edge lists skip the loop entirely: the materialized edges
    * are union-found on the driver (O(E α(E)), path compression) and
    * the labeling returns as a local relation. This is the
    * centroid-state pattern, one size up: a verified near-dup edge
    * list is heavy-hitter-sized relative to the corpus (pairs survive
    * TWO filters — LSH banding and exact verification), so even at
    * 100 TB corpus scale the edge list usually fits in driver memory,
    * and the distributed loop's per-round scheduling (4+ jobs x
    * O(log diameter) rounds) is the dominant cost, not the data.
    * Graphs above the bound run the loop unchanged. Set
    * `localEdgeLimit = 0` to force the distributed path. Neither path
    * changes session conf (the loop runs at the session's own shuffle
    * partitions and AQE setting), so concurrent calls on one session
    * are safe — spec-pinned.
    *
    * The dispatch bound is ESTIMATED DRIVER BYTES, not a row count: the
    * same edge-count cut that is safe for long ids OOMs a default-sized
    * cluster driver when the ids are fat strings (URLs, content
    * hashes). The estimate is measured id payload (octet_length for
    * strings, type width otherwise) plus ~96 B/edge of JVM overhead
    * (collected Row + boxed keys + union-find map entries), computed in
    * the same job as the edge count; `localDriverBytes` (default 64 MB
    * ≈ 500k long-id symmetric edges) keeps the fast path a small
    * fraction of even a 1-2 GiB driver heap. `localEdgeLimit` remains
    * as a hard row cap on top.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          localEdgeLimit: Long = 1000000L,
                          localDriverBytes: Long = 64L << 20): DataFrame = {
    // Null endpoints (junk upstream pair rows) are dropped up front —
    // the contract for BOTH dispatch paths. Without this they diverge:
    // the distributed pointer-jump join silently discards the vertex
    // (NULL never equi-matches) while the local union-find NPEs in its
    // min-member compareTo.
    val e = pairs.toDF("a", "b")
      .where(col("a").isNotNull && col("b").isNotNull)
    val sym = e.union(e.select(col("b"), col("a")))
      .toDF("src", "dst").distinct().cache()
    val payload = sym.schema("src").dataType match {
      case org.apache.spark.sql.types.StringType =>
        (octet_length(col("src")) + octet_length(col("dst"))).cast("long")
      case dt => lit(2L * dt.defaultSize)
    }
    val stats = sym.agg(count(lit(1)), sum(payload)).head()
    val nEdges = stats.getLong(0)
    val payloadBytes = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val estDriverBytes = payloadBytes + nEdges * 96L
    val local = nEdges <= localEdgeLimit && estDriverBytes <= localDriverBytes
    lastDispatchLocal = local
    if (local) {
      val out = componentsLocal(sym)
      sym.unpersist(blocking = false)
      return out
    }
    try {
      var labels = sym.select(col("src").as("v")).distinct()
        .withColumn("label", col("v"))
      // Convergence = a round in which no vertex's label changed. The
      // previous label rides through the round as `old` (each vertex
      // contributes exactly one self row, so max(old) recovers it; the
      // neighbor rows carry null), and the changed count is a scalar
      // aggregate on the SAME frame the next round consumes — no extra
      // join, no numeric assumptions on the id type (a label-sum check
      // would overflow 64-bit hash ids and need numeric labels).
      val idType = labels.schema("label").dataType
      var it = 0
      var converged = false
      while (!converged && it < maxIter) {
        // min label among self and neighbors; `old` rides along (each
        // vertex contributes exactly one self row; max over the one
        // non-null recovers it) so convergence is a delta count on the
        // same frame — no extra join, no numeric-id assumptions
        val viaNbr = sym.join(labels, sym("dst") === labels("v"))
          .select(sym("src").as("v"), col("label"))
        // hop is referenced TWICE by the pointer jump below — without
        // a materialization boundary each reference recomputes the
        // whole aggregation (AQE gives no ReuseExchange here because
        // the two sides prune different columns, the TF-IDF lesson),
        // and chaining rounds lazily compounds it exponentially.
        // Checkpointing hop (not the join) makes the jump a cheap join
        // of cached blocks and truncates lineage per round.
        val hop = labels
          .select(col("v"), col("label"), col("label").as("old"))
          .union(viaNbr.select(col("v"), col("label"),
            lit(null).cast(idType).as("old")))
          .groupBy(col("v"))
          .agg(min(col("label")).as("l1"), max(col("old")).as("old"))
          .localCheckpoint(false)
        // pointer jump: adopt the label's own (<=) label. ALSO
        // checkpointed: the next round references labels twice (self
        // row + neighbor branch) and the changed count makes a third —
        // uncached, each reference would re-run the jump join.
        labels = hop
          .join(hop.select(col("v").as("lv"), col("l1").as("label")),
            col("l1") === col("lv"))
          .select(col("v"), col("label"), col("old"))
          .localCheckpoint(false)
        // an unchanged HOP step is the neighbor-min fixpoint (the jump
        // can only restate labels the hop already settled,
        // label <= l1 <= old) — count final label vs old
        val changed = labels
          .agg(count(when(col("label") =!= col("old"), 1)))
          .head().getLong(0)
        labels = labels.drop("old")
        converged = changed == 0L
        it += 1
      }
      labels.select(col("v"), col("label").as("component"))
    } finally sym.unpersist(blocking = false)
  }

  /** Driver-side labeling for graphs under the collect bound:
    * union-find with path compression over the materialized symmetric
    * edge list, component id = minimum member (the same contract as the
    * distributed loop, for any Comparable id type — int/long/string).
    * Returns a local relation [v, component].
    */
  private def componentsLocal(sym: DataFrame): DataFrame = {
    val spk = sym.sparkSession
    val idType = sym.schema("src").dataType
    val edges = sym.collect()
    val parent = new java.util.HashMap[Any, Any](edges.length * 2)
    def find(x0: Any): Any = {
      var r = x0
      while (parent.get(r) != r) r = parent.get(r)
      var x = x0
      while (!x.equals(r)) { val nx = parent.get(x); parent.put(x, r); x = nx }
      r
    }
    edges.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (!ra.equals(rb)) parent.put(ra, rb)
    }
    // String ids must order by UTF-8 BYTES to agree with the
    // distributed loop's min() (Spark compares UTF8String binary);
    // Java String.compareTo orders by UTF-16 code unit and disagrees
    // on supplementary characters (surrogate 0xD800 < 0xFFFF).
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        java.util.Arrays.compareUnsigned(xb, yb) < 0
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val verts = parent.keySet().toArray
    val minOf = new java.util.HashMap[Any, Any](verts.length)
    verts.foreach { v =>
      val r = find(v)
      val cur = minOf.get(r)
      if (cur == null || lt(v, cur)) minOf.put(r, v)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", idType, nullable = false),
      org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(verts.map(v =>
        org.apache.spark.sql.Row(v, minOf.get(find(v)))): _*)
    spk.createDataFrame(rows, schema)
  }

  /** The exact set-overlap chain over a DISTINCT (doc_id, unit) frame
    * — the unit column keeps its name: the size table, the unit
    * self-join over d1 < d2, and the per-pair intersection count joined
    * to both sizes, as (d1, d2, n_common, dk1, n1, dk2, n2). ONE
    * definition under the token, shingle and char-gram Jaccard and
    * containment verifiers; the twin face is TwinSql.overlapSql.
    */
  private[ops] def overlapCounts(units: DataFrame): DataFrame = {
    val u = units.columns(1)
    val sz = units.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    units.toDF("d1", u)
      .join(units.toDF("d2", u + "2"), col(u) === col(u + "2") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_common"))
      .join(sz.toDF("dk1", "n1"), col("dk1") === col("d1"))
      .join(sz.toDF("dk2", "n2"), col("dk2") === col("d2"))
  }

  /** The integer core of [[jaccardPairs]]: every co-occurring pair
    * with its EXACT intersection and union sizes (d1, d2, n_common,
    * uni) — no threshold, no division. Consumed by jaccardPairs (the
    * shipped 0.7 double-compare gate) and the q195 threshold sweep
    * (whose cuts are the exact rational 10·n_common ≥ k·uni).
    */
  private[ops] def jaccardScoredPairs(docs: DataFrame): DataFrame =
    overlapCounts(docs
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .distinct())
      .select(col("d1"), col("d2"), col("n_common"),
        (col("n1") + col("n2") - col("n_common")).as("uni"))

  /** Exact-Jaccard pairs of [[jaccardPairs]] RESTRICTED to pairs with
    * at least one endpoint in `ids` — computed delta-sided, never as
    * the full all-pairs self-join: the term table's delta slice joins
    * the whole table (one equi-join whose small side is the delta),
    * orientations canonicalize by least/greatest, and the per-term
    * distinct collapses the double-counted delta-delta orientation.
    * Same tokenization, same threshold compare as jaccardPairs, so
    * the result is EXACTLY `jaccardPairs(docs)` ∩ touching-ids — the
    * q198 merge path consumes this instead of re-deriving the merged
    * corpus's full pair table and throwing most of it away (measured:
    * the registered q198 face paid a second full q85 chain for pairs
    * it immediately filtered out).
    */
  def jaccardPairsTouching(docs: DataFrame, ids: DataFrame,
                           threshold: Double = 0.7): DataFrame = {
    val t = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .distinct()
      .localCheckpoint(false) // read by sz, the delta slice, and the join
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val td = t.join(ids.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    t.toDF("db", "term2")
      .join(td.toDF("da", "term"),
        col("term") === col("term2") && col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("term"))
      .distinct()
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_common"))
      .join(sz.toDF("dk1", "n1"), col("dk1") === col("d1"))
      .join(sz.toDF("dk2", "n2"), col("dk2") === col("d2"))
      .filter(col("n_common") /
        (col("n1") + col("n2") - col("n_common")) >= threshold)
      .select(col("d1"), col("d2"))
  }

  /** Verified token-set Jaccard pairs at `threshold` — THE single
    * definition of the exact pair chain (distinct (doc, term), size
    * table, term self-join, Jaccard filter) consumed by q85, q135,
    * the q155 leakage-safe split, and the q162 impact report; a
    * second copy could silently drift the cluster definition between
    * the dedup run and the reports about it. At corpus scale the
    * candidate step is [[minhashCandidates]]; this exact form is the
    * verifier that runs on candidates (and on bounded slices here).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.7): DataFrame =
    jaccardScoredPairs(docs)
      .filter(col("n_common") / col("uni") >= threshold)
      .select(col("d1"), col("d2"))

  /** Near-dup clustering (q85): verified Jaccard pairs (the q26
    * semantics at a 0.7 threshold over doc_id < 100 — the synthetic
    * corpus shares one small vocabulary, so 0.5 would collapse
    * everything into a single component) grouped
    * into connected components; one output row per component with its
    * canonical (minimum) doc id as cluster_id and the sorted member
    * list. DuckDB twin: a recursive CTE computing min reachable vertex.
    */
  val q85: QueryDef = QueryDef.sql(
    "q85_dedup_clusters",
    s"""WITH RECURSIVE ${jaccPairChainSql("documents WHERE doc_id < 100")},
       |$componentsSql
       |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
       |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val pairs = jaccardPairs(Tables.documents(s, dir).filter(col("doc_id") < 100))
    connectedComponents(pairs)
      .groupBy(col("component").as("cluster_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_members"),
        concat_ws(",",
          transform(array_sort(collect_list(col("v"))), x => x.cast("string")))
          .as("members"))
      .orderBy(col("cluster_id"))
  }

  /** The q195 operating points, in tenths — ONE list drives BOTH
    * engine sides (the q172 lshConfigs discipline).
    */
  private val sweepTenths: Seq[Int] = Seq(5, 6, 7, 8, 9)

  /** Near-dup threshold sweep (q195): the q191-style operating-point
    * table for the OTHER big curation knob — at every Jaccard cut
    * k/10, k = 5..9, over the q85 verification slice: surviving
    * pairs, docs drawn into any cluster, cluster count, and the docs
    * a keep-one-representative dedup would remove. The shipped
    * 0.7 operating point (q85/q135/q155/q162 all consume it) is a
    * choice this table prices: each step up trades recall for
    * precision, and n_removed is the budget impact.
    *
    * Every cut is the EXACT RATIONAL comparison 10·n_common ≥ k·uni
    * over the integer intersection/union sizes
    * ([[jaccardScoredPairs]]) — no float threshold anywhere (the
    * shipped jaccardPairs gate keeps its documented double compare;
    * on any corpus where a pair's Jaccard rounds across 0.7, THIS
    * table is the exact adjudication of what the cut means).
    *
    * Scale: the scored-pair table is built ONCE (bounded slice — the
    * q85/q153 exclusion reasoning; at corpus scale candidates come
    * from minhashCandidates and the sweep runs on the verified
    * candidate set); each cut filters it and runs the shared
    * [[connectedComponents]]. Counts are exact integers; the
    * threshold column is one literal division.
    */
  def dedupThresholdSweep(docs: DataFrame): DataFrame = {
    val scored = jaccardScoredPairs(docs).localCheckpoint(true)
    // The five cuts are INDEPENDENT, and each one runs EAGER work at
    // construction time (connectedComponents materializes the cut's
    // edge set to decide its dispatch, then the driver union-find
    // collects it) — sequentially that is 5x (edge stats + collect)
    // in a row on an idle cluster. Submit the per-cut construction
    // from a thread pool so those small jobs interleave (guide §2.6
    // "overlap independent jobs"); result identical — the rows are
    // reassembled in sweep order. Safe on the shared session:
    // connectedComponents changes no session conf on either dispatch
    // path, so the cuts run independently.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sweepTenths.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val rows = try {
      val futs = sweepTenths.map { k => scala.concurrent.Future {
        val pairsK = scored
          .filter(lit(10L) * col("n_common") >= lit(k.toLong) * col("uni"))
          .select(col("d1"), col("d2"))
        val comp = connectedComponents(pairsK)
        comp
          .agg(count(lit(1)).cast("bigint").as("n_clustered_docs"),
            countDistinct(col("component")).cast("bigint").as("n_clusters"))
          .crossJoin(broadcast(
            pairsK.agg(count(lit(1)).cast("bigint").as("n_pairs"))))
          .select(lit(k.toLong).as("thr_num"),
            lit(k.toDouble / 10.0).as("threshold"),
            col("n_pairs"), col("n_clustered_docs"), col("n_clusters"),
            (col("n_clustered_docs") - col("n_clusters")).as("n_removed"))
      } }
      futs.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    rows.reduce(_ union _)
  }

  val q195: QueryDef = QueryDef.sql(
    "q195_dedup_threshold_sweep", {
      val perK = sweepTenths.map { k =>
        s"""pairs$k AS (
           |  SELECT d1, d2 FROM sc WHERE 10 * n_common >= $k * uni),
           |edges$k AS (
           |  SELECT d1 AS a, d2 AS b FROM pairs$k
           |  UNION SELECT d2 AS a, d1 AS b FROM pairs$k),
           |reach$k(v, r) AS (
           |  SELECT DISTINCT a, a FROM edges$k
           |  UNION
           |  SELECT e.a, re.r FROM edges$k e JOIN reach$k re ON re.v = e.b),
           |comp$k AS (SELECT v, min(r) AS cluster_id FROM reach$k GROUP BY v),
           |row$k AS (
           |  SELECT CAST($k AS BIGINT) AS thr_num,
           |    CAST($k AS DOUBLE) / 10.0 AS threshold,
           |    (SELECT CAST(count(*) AS BIGINT) FROM pairs$k) AS n_pairs,
           |    (SELECT CAST(count(*) AS BIGINT) FROM comp$k)
           |      AS n_clustered_docs,
           |    (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT) FROM comp$k)
           |      AS n_clusters,
           |    (SELECT CAST(count(*) AS BIGINT) FROM comp$k)
           |      - (SELECT CAST(count(DISTINCT cluster_id) AS BIGINT)
           |         FROM comp$k) AS n_removed)""".stripMargin
      }.mkString(",\n")
      val unions = sweepTenths.map(k => s"SELECT * FROM row$k")
        .mkString("\nUNION ALL ")
      s"""WITH RECURSIVE ${termSetSql("documents WHERE doc_id < 100", "t")},
         |${overlapSql("t", "term")},
         |sc AS (
         |  SELECT d1, d2, n_common, s1.n + s2.n - n_common AS uni
         |  FROM inter
         |  JOIN sz s1 ON s1.doc_id = d1
         |  JOIN sz s2 ON s2.doc_id = d2),
         |$perK
         |$unions
         |ORDER BY thr_num""".stripMargin
    }) { (s, dir) =>
    dedupThresholdSweep(Tables.documents(s, dir).filter(col("doc_id") < 100))
      .orderBy(col("thr_num"))
  }

  /** Canonical-representative selection (q135): q85's near-dup
    * clusters composed with the quality score — instead of "keep the
    * lowest doc_id", each cluster keeps its HIGHEST-quality member
    * (doc_id ascending as the tie-break), the keep-policy production
    * dedup actually wants: near-dup groups collapse to their best
    * exemplar, not their first-crawled one. Output is one row per
    * cluster with the representative, its qscore, and how many
    * near-dups it displaces.
    *
    * Scale: the expensive part is cluster discovery (q85's machinery,
    * already bounded); selection itself is one per-cluster argmax —
    * a partial+final min_by aggregate, no window over the corpus. The
    * qscore join is narrow column arithmetic computed on the scoped
    * docs before the join. Representative choice orders on a DOUBLE:
    * bit-identical across engines because the qscore formula is the
    * literal-identical q23/q93 one.
    */
  val q135: QueryDef = QueryDef.sql(
    "q135_cluster_representative",
    s"""WITH RECURSIVE ${jaccPairChainSql("documents WHERE doc_id < 100")},
       |$componentsSql,
       |q AS (
       |  SELECT doc_id,
       |    ${TwinSql.qscore("punct_ratio", "digit_ratio", "n_tokens", "stop_ratio")} AS qscore
       |  FROM (
       |    SELECT doc_id,
       |      ${TwinSql.nTokens("t")} AS n_tokens,
       |      ${TwinSql.punctRatio("text")} AS punct_ratio,
       |      ${TwinSql.digitRatio("text")} AS digit_ratio,
       |      ${TwinSql.stopRatio("t")} AS stop_ratio
       |    FROM (SELECT doc_id, text, $duckToks AS t FROM documents
       |          WHERE doc_id < 100))),
       |ranked AS (
       |  SELECT c.cluster_id, c.doc_id, q.qscore,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY q.qscore DESC, c.doc_id) AS rn
       |  FROM comp c JOIN q ON q.doc_id = c.doc_id)
       |SELECT cluster_id,
       |  CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
       |  min(CASE WHEN rn = 1 THEN qscore END) AS rep_qscore,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(count(*) - 1 AS BIGINT) AS n_displaced
       |FROM ranked GROUP BY cluster_id
       |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val scoped = Tables.documents(s, dir).filter(col("doc_id") < 100)
    val pairs = jaccardPairs(scoped)
    val q = TextAnalytics.qualityBase(scoped)
      .select(col("doc_id").as("q_doc"), col("qscore"))
    connectedComponents(pairs)
      .join(q, col("v") === col("q_doc"))
      .groupBy(col("component").as("cluster_id"))
      .agg(
        min_by(col("v"), struct(-col("qscore"), col("v")))
          .cast("bigint").as("rep_doc_id"),
        // the representative's qscore IS the cluster max (ties share it)
        max(col("qscore")).as("rep_qscore"),
        count(lit(1)).cast("bigint").as("n_members"),
        (count(lit(1)) - 1).cast("bigint").as("n_displaced"))
      .orderBy(col("cluster_id"))
  }

  /** Per-source dedup impact (q162): the readout a pipeline runs
    * BEFORE committing to a near-dup dedup pass — per source, how
    * many docs sit in multi-doc near-dup clusters, how many would be
    * struck under keep-the-canonical-representative dedup, and what
    * token volume that recovers. q85 answers "what are the clusters",
    * q135 "who survives each"; this answers the budgeting question
    * ("source X is 30% redundant — dedup pays there; source Y is
    * clean — skip it"). The kept member is the cluster's min-id
    * representative (q85's canonical label — integer-exact; the
    * qscore-keep policy is q135's separate axis), and a struck doc's
    * tokens are charged to ITS OWN source even when the kept
    * representative lives in another — that is the per-source volume
    * you actually delete.
    *
    * Scale: cluster discovery is [[jaccardPairs]] +
    * [[connectedComponents]] (the q85 machinery — candidate-bounded
    * at corpus scale via minhashCandidates); everything after is one
    * left join of the doc-level (source, n_tokens) frame against the
    * component labels and a partial+final rollup to source rows.
    * Scope-bounded to q85's doc_id < 100 slice for the recursive-CTE
    * oracle (the q153/q155 precedent).
    */
  def dedupImpact(docs: DataFrame): DataFrame = {
    // size(null array) is -1 under this config but the twin's len() is
    // NULL (skipped by sum): pin nt to NULL on null text so token sums
    // agree — and never shrink by phantom -1s — on junk rows
    val base = docs.select(col("doc_id"), col("source"),
      when(col("text").isNotNull, size(toks(col("text"))))
        .cast("bigint").as("nt"))
    val comp = connectedComponents(jaccardPairs(docs))
      .toDF("m_doc", "component")
    val lab = base.join(comp, col("doc_id") === col("m_doc"), "left")
    val redundant = col("component").isNotNull && col("component") =!= col("doc_id")
    lab.groupBy(col("source"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("nt")).cast("bigint").as("n_tokens"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L))
          .cast("bigint").as("n_clustered"),
        sum(when(redundant, 1L).otherwise(0L)).cast("bigint").as("n_redundant"),
        sum(when(redundant, col("nt")).otherwise(0L))
          .cast("bigint").as("redundant_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_clustered"), col("n_redundant"), col("redundant_tokens"),
        (col("redundant_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("redundancy_frac"))
  }

  /** q162: [[dedupImpact]] over q85's doc_id < 100 slice. */
  val q162: QueryDef = QueryDef.sql(
    "q162_dedup_impact",
    s"""WITH RECURSIVE ${jaccPairChainSql("documents WHERE doc_id < 100")},
       |$componentsSql,
       |b AS (
       |  SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS nt
       |  FROM documents WHERE doc_id < 100),
       |l AS (
       |  SELECT b.source, b.doc_id, b.nt, comp.cluster_id
       |  FROM b LEFT JOIN comp ON comp.doc_id = b.doc_id),
       |g AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_clustered,
       |    CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
       |    CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id
       |      THEN nt ELSE 0 END) AS BIGINT) AS redundant_tokens
       |  FROM l GROUP BY source)
       |SELECT source, n_docs, n_tokens, n_clustered, n_redundant,
       |  redundant_tokens,
       |  CAST(redundant_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS redundancy_frac
       |FROM g
       |ORDER BY source""".stripMargin) { (s, dir) =>
    dedupImpact(Tables.documents(s, dir).filter(col("doc_id") < 100))
      .orderBy(col("source"))
  }

  /** The q207 pre-shingle normalization transform — THE one
    * definition of "fold the text column" ([[graft.text.Fold]] via
    * the codegen `fold_text`), shared by [[foldedMinhashSignatures]]
    * and the streaming lifts (NearDupStream's fold mode) so batch and
    * stream can never fold differently ahead of the same band keys.
    */
  def foldTextCol(docs: DataFrame): DataFrame =
    docs.withColumn("text", graft.functions.functions.fold_text(col("text")))

  /** Normalization-ahead-of-shingling MinHash signatures — the 100 TB
    * production form of the q207 normalized near-dup: [[graft.text
    * .Fold]] applied by the codegen `fold_text` expression INSIDE the
    * same whole-stage-generated narrow map as the shingle/MinHash
    * kernel, so catching case/diacritic-disguised duplicates costs
    * zero extra passes or exchanges over [[minhashSignatures]]. Feed
    * the result to the unchanged band/verify chain
    * ([[verifiedPairs]]); NormalizedDedupSpec plants a disguised
    * duplicate the raw chain misses and this one strikes.
    */
  def foldedMinhashSignatures(docs: DataFrame, nHashes: Int = 32,
                              shingleSize: Int = 3): DataFrame =
    minhashSignatures(foldTextCol(docs), nHashes, shingleSize)

  /** Normalization impact on near-dup yield (q207): per source, the
    * exact-Jaccard-0.7 pair counts over RAW tokens vs over
    * [[graft.text.Fold]]-normalized tokens, with the gained (caught
    * only after folding — the trivially-disguised duplicates
    * multilingual corpora carry) and lost (raw-only — folding merged
    * distinct tokens enough to move a borderline Jaccard under the
    * threshold) deltas. The q162 budgeting shape applied to the
    * SHOULD-WE-NORMALIZE decision: run before committing the folded
    * chain corpus-wide. A pair is charged to the source of its
    * SMALLER doc id (d1 — the canonical representative side);
    * sources with no pairs stay in the report as zero rows.
    *
    * Scale: this readout is slice-bounded (the q85/q162 doc_id < 100
    * scope — exact all-pairs exists for the recursive-free oracle
    * and the impact decision, not for the corpus); the corpus-scale
    * path is [[foldedMinhashSignatures]] through the banded chain.
    * FULL-REPLAY ORACLE: both pair chains re-derived from raw
    * documents (the shared [[jaccPairChainSql]] generator, the
    * normalized arm over [[TwinSql.foldTextOf]]), full-outer-joined
    * and rolled up per source.
    */
  def normalizedPairImpact(docs: DataFrame): DataFrame =
    pairImpactBySource(docs,
      jaccardPairs(docs),
      jaccardPairs(
        docs.withColumn("text", graft.functions.functions.fold_text(col("text")))),
      "raw", "norm")

  /** The shared A-vs-B pair-yield report (the q207/q211 shape): two
    * pair frames (d1, d2) over the same corpus, full-outer-joined and
    * rolled up per source — n_pairs_$a, n_pairs_$b, n_gained (B-only:
    * what switching to chain B newly catches), n_lost (A-only). A
    * pair is charged to the source of its SMALLER doc id (d1, the
    * canonical representative side).
    */
  private def pairImpactBySource(docs: DataFrame, aPairs: DataFrame,
                                 bPairs: DataFrame, a: String, b: String)
      : DataFrame = {
    val pa = aPairs.withColumn("in_a", lit(1L))
    val pb = bPairs.withColumn("in_b", lit(1L))
    val src = docs.select(col("doc_id").as("d1"), col("source"))
    val tallies = pa.join(pb, Seq("d1", "d2"), "full_outer")
      .join(src, Seq("d1"))
      .groupBy(col("source"))
      .agg(
        coalesce(sum(col("in_a")), lit(0L)).cast("bigint").as(s"n_pairs_$a"),
        coalesce(sum(col("in_b")), lit(0L)).cast("bigint").as(s"n_pairs_$b"),
        coalesce(sum(when(col("in_b").isNotNull && col("in_a").isNull, 1L)
          .otherwise(0L)), lit(0L)).cast("bigint").as("n_gained"),
        coalesce(sum(when(col("in_a").isNotNull && col("in_b").isNull, 1L)
          .otherwise(0L)), lit(0L)).cast("bigint").as("n_lost"))
    // null-safe spine join: a null-source junk group's tallies must
    // land on the null spine row, not silently zero out (a USING-style
    // EqualTo never matches NULL = NULL; q162's plain groupBy reports
    // the null group, so this report must too) — mirrored by the
    // twin's IS NOT DISTINCT FROM
    docs.select(col("source")).distinct()
      .join(tallies.withColumnRenamed("source", "t_source"),
        col("source") <=> col("t_source"), "left")
      .select(col("source"),
        coalesce(col(s"n_pairs_$a"), lit(0L)).as(s"n_pairs_$a"),
        coalesce(col(s"n_pairs_$b"), lit(0L)).as(s"n_pairs_$b"),
        coalesce(col("n_gained"), lit(0L)).as("n_gained"),
        coalesce(col("n_lost"), lit(0L)).as("n_lost"))
  }

  /** Word-vs-char shingling impact on near-dup yield over a corpus
    * (the q211 kernel): per source, exact-Jaccard-0.7 pair counts
    * from whitespace-token sets vs from codepoint-n-gram sets, with
    * the gained/lost deltas — [[pairImpactBySource]] over the OTHER
    * big multilingual dedup decision (q207 prices normalization;
    * this prices the shingle unit). On space-free scripts the word
    * arm degenerates to exact whole-text match, so n_gained is the
    * recall a char-gram chain restores.
    */
  def charShingleImpact(docs: DataFrame, n: Int = 4): DataFrame =
    pairImpactBySource(docs, jaccardPairs(docs), charJaccardPairs(docs, n),
      "word", "char")

  /** q207: [[normalizedPairImpact]] over q85's doc_id < 100 slice. */
  val q207: QueryDef = QueryDef.sql(
    "q207_normalized_dedup_impact",
    s"""WITH d100 AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id < 100),
       |nrm AS (
       |  SELECT doc_id, ${TwinSql.foldTextOf("text")} AS text FROM d100),
       |${jaccPairChainSql("d100", "r")},
       |${jaccPairChainSql("nrm", "n")},
       |fj AS (
       |  SELECT COALESCE(r.d1, n.d1) AS d1,
       |    CASE WHEN r.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_raw,
       |    CASE WHEN n.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_norm
       |  FROM pairsr r FULL OUTER JOIN pairsn n
       |    ON r.d1 = n.d1 AND r.d2 = n.d2),
       |g AS (
       |  SELECT s.source,
       |    CAST(sum(in_raw) AS BIGINT) AS n_pairs_raw,
       |    CAST(sum(in_norm) AS BIGINT) AS n_pairs_norm,
       |    CAST(sum(CASE WHEN in_norm = 1 AND in_raw = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_gained,
       |    CAST(sum(CASE WHEN in_raw = 1 AND in_norm = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_lost
       |  FROM fj JOIN d100 s ON s.doc_id = fj.d1
       |  GROUP BY s.source)
       |SELECT src.source,
       |  CAST(COALESCE(g.n_pairs_raw, 0) AS BIGINT) AS n_pairs_raw,
       |  CAST(COALESCE(g.n_pairs_norm, 0) AS BIGINT) AS n_pairs_norm,
       |  CAST(COALESCE(g.n_gained, 0) AS BIGINT) AS n_gained,
       |  CAST(COALESCE(g.n_lost, 0) AS BIGINT) AS n_lost
       |FROM (SELECT DISTINCT source FROM d100) src
       |LEFT JOIN g ON src.source IS NOT DISTINCT FROM g.source
       |ORDER BY src.source NULLS FIRST""".stripMargin) { (s, dir) =>
    // NULLS FIRST: Spark's orderBy puts a null source first, DuckDB's
    // default last (the q203 pin)
    normalizedPairImpact(Tables.documents(s, dir).filter(col("doc_id") < 100))
      .orderBy(col("source"))
  }

  /** q211: [[charShingleImpact]] over a SPACE-FREE corpus — the zh
    * slice (doc_id < 400) with whitespace removed, standing in for
    * the CJK/Thai documents a multilingual 100 TB corpus carries
    * (the fixture's zh rows are synthetic English tokens, so the
    * space-free form is synthesized literal-for-literal on both
    * engines), plus planted near-dups: every 10th doc re-appears
    * (id + 100000) with its last 10 characters dropped. The word arm
    * sees each doc as ONE token, so it catches only byte-identical
    * blobs and misses every planted pair; the char arm's 4-gram sets
    * recover them — n_gained is the recall a char-gram chain restores
    * on space-free scripts, the q207-style decision table for the
    * shingle-unit knob. FULL-REPLAY ORACLE: DuckDB re-synthesizes the
    * corpus and re-derives BOTH pair chains from raw documents.
    *
    * Scale: slice-bounded exact all-pairs (the q85/q207 reasoning);
    * the corpus-scale path is [[charMinhashSignatures]] through the
    * unchanged banded chain (spec-proven on real CJK text in
    * CharShingleSpec).
    */
  val q211: QueryDef = QueryDef.sql(
    "q211_char_shingle_impact",
    s"""WITH $spaceFreeZhCorpusSql,
       |${jaccPairChainSql("c", "w")},
       |${charPairChainSql("c", "g", 4)},
       |fj AS (
       |  SELECT COALESCE(w.d1, g.d1) AS d1,
       |    CASE WHEN w.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_word,
       |    CASE WHEN g.d1 IS NOT NULL THEN 1 ELSE 0 END AS in_char
       |  FROM pairsw w FULL OUTER JOIN pairsg g
       |    ON w.d1 = g.d1 AND w.d2 = g.d2),
       |tal AS (
       |  SELECT s.source,
       |    CAST(sum(in_word) AS BIGINT) AS n_pairs_word,
       |    CAST(sum(in_char) AS BIGINT) AS n_pairs_char,
       |    CAST(sum(CASE WHEN in_char = 1 AND in_word = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_gained,
       |    CAST(sum(CASE WHEN in_word = 1 AND in_char = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_lost
       |  FROM fj JOIN c s ON s.doc_id = fj.d1
       |  GROUP BY s.source)
       |SELECT src.source,
       |  CAST(COALESCE(tal.n_pairs_word, 0) AS BIGINT) AS n_pairs_word,
       |  CAST(COALESCE(tal.n_pairs_char, 0) AS BIGINT) AS n_pairs_char,
       |  CAST(COALESCE(tal.n_gained, 0) AS BIGINT) AS n_gained,
       |  CAST(COALESCE(tal.n_lost, 0) AS BIGINT) AS n_lost
       |FROM (SELECT DISTINCT source FROM c) src
       |LEFT JOIN tal ON src.source IS NOT DISTINCT FROM tal.source
       |ORDER BY src.source NULLS FIRST""".stripMargin) { (s, dir) =>
    // NULLS FIRST: the q207/q203 ordering pin
    charShingleImpact(spaceFreeZhCorpus(s, dir)).orderBy(col("source"))
  }

  /** The q211/q212 SPACE-FREE audit corpus — the zh slice with
    * whitespace removed plus planted truncation near-dups at
    * id + 100000 — ONE definition shared by the impact report, the
    * char-calibration audit, and the aux_char_sig32 artifact (its
    * twin text is [[spaceFreeZhCorpusSql]]; a drifted copy in any of
    * them would audit a different corpus than the one dumped).
    * Checkpointed: every consumer reads it several times.
    */
  private[ops] def spaceFreeZhCorpus(s: SparkSession, dir: String): DataFrame = {
    val zh = Tables.documents(s, dir)
      .filter(col("lang") === "zh" && col("doc_id") < 400)
      .select(col("doc_id"), col("source"),
        expr("replace(text, ' ', '')").as("text"))
    zh.unionByName(
        zh.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
            expr("substring(text, 1, greatest(length(text) - 10, 1))")
              .as("text")))
      .localCheckpoint(false)
  }

  /** [[spaceFreeZhCorpus]] in twin SQL: emits CTEs `zh` and `c`.
    * A `def`, not a `val`: q211's SQL val initializes EARLIER in this
    * object, and a val here would interpolate as "null" into it (the
    * Scala forward-reference init-order trap — caught by the oracle
    * gate as a DuckDB parse error).
    */
  private[ops] def spaceFreeZhCorpusSql: String =
    """zh AS (
      |  SELECT doc_id, source, replace(text, ' ', '') AS text
      |  FROM documents WHERE lang = 'zh' AND doc_id < 400),
      |c AS MATERIALIZED (
      |  SELECT doc_id, source, text FROM zh
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, source,
      |    substring(text, 1, greatest(length(text) - 10, 1)) AS text
      |  FROM zh WHERE doc_id % 10 = 0)""".stripMargin

  /** Shingle containment pairs (q139): asymmetric near-dup —
    * C(A,B) = |A∩B| / |A| over 3-gram shingle sets, the sub-document
    * signal Jaccard misses: a short doc fully quoted inside a long one
    * has near-1 containment but low Jaccard (the union is dominated by
    * the long doc), so symmetric dedup (q26/q87) never sees it. Emits
    * both directions' containments; a pair qualifies when EITHER side
    * is >= 0.5 (one doc substantially inside the other).
    *
    * Scale: same shape as the Jaccard pair queries — distinct
    * (doc, shingle), self-join on shingle (at corpus scale the
    * candidate step is [[minhashCandidates]]; this exact form is the
    * verifier that runs on candidates), per-pair count, size join.
    */
  val q139: QueryDef = QueryDef.sql(
    "q139_containment_pairs",
    s"""WITH d0 AS (
       |  SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id < 250),
       |dd AS (SELECT doc_id, t, len(t) AS n FROM d0 WHERE len(t) > 0),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i + 1 : i + 3], ' ') AS sh
       |  FROM (SELECT doc_id, t,
       |          unnest(range(0, greatest(n - 3, 0) + 1)) AS i FROM dd)),
       |${overlapSql("sh", "sh")}
       |SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
       |  CAST(n_common AS DOUBLE) / CAST(s1.n AS DOUBLE) AS containment_1,
       |  CAST(n_common AS DOUBLE) / CAST(s2.n AS DOUBLE) AS containment_2
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = d1
       |JOIN sz s2 ON s2.doc_id = d2
       |WHERE CAST(n_common AS DOUBLE) / CAST(s1.n AS DOUBLE) >= 0.5
       |   OR CAST(n_common AS DOUBLE) / CAST(s2.n AS DOUBLE) >= 0.5
       |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    containmentPairs(Tables.documents(s, dir).filter(col("doc_id") < 250))
      .orderBy(col("d1"), col("d2"))
  }

  /** The q139 kernel over any (doc_id, text) frame; unsorted output. */
  def containmentPairs(docs: DataFrame, n: Int = 3,
                       threshold: Double = 0.5): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(array_distinct(shingles(col("text"), n)))
        .as("sh"))
    val c1 = col("n_common").cast("double") / col("n1").cast("double")
    val c2 = col("n_common").cast("double") / col("n2").cast("double")
    overlapCounts(sh)
      .filter(c1 >= threshold || c2 >= threshold)
      .select(col("d1"), col("d2"), col("n_common").cast("bigint").as("n_common"),
        c1.as("containment_1"), c2.as("containment_2"))
  }

  /** Production embedding near-dup dedup: sign-LSH buckets make the
    * pair search an equi-join; exact cosine rescoring inside buckets;
    * keep-lowest-id policy marks the rest as duplicates. Returns the
    * surviving rows. Recall is tuned by nPlanes (fewer planes = bigger
    * buckets = higher recall, more compute).
    */
  def dedupByEmbedding(spark: org.apache.spark.sql.SparkSession,
                       emb: DataFrame, threshold: Double = 0.95,
                       nPlanes: Int = 8): DataFrame = {
    val Array(idName, vecName) = emb.columns
    val e = emb.toDF("id", "v")
    // single-bucket probing: at a 0.95+ cosine threshold the duplicate
    // pair's signatures agree on every plane with high probability, and
    // multi-probe would multiply the SELF-join's corpus-sized query
    // side by (1 + nPlanes) — the kNN recall knob is wrong for dedup.
    // Candidates come UNRANKED (lshScoredCandidates, no top-k window):
    // only score >= threshold matters here, and the kNN path's
    // row_number would exchange every candidate pair on qid and sort
    // each group to compute a rank nothing reads.
    val pairs = Similarity.lshScoredCandidates(e, e,
      nPlanes = nPlanes, dim = 64, probeFlips = 0)
      .filter(col("score") >= threshold && col("qid") < col("cid"))
      .select(col("cid").as("dup_id")).distinct()
    e.join(pairs, e("id") === pairs("dup_id"), "left_anti")
      .select(col("id").as(idName), col("v").as(vecName))
  }

  /** The (bands, rows-per-band) factorizations of the 32-hash budget —
    * the LSH operating points q172 curves. ONE list drives BOTH engine
    * sides so a config can't silently appear in one and not the other.
    */
  private val lshConfigs: Seq[(Int, Int)] = {
    val cfgs = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
    // The repeated-squaring chain below computes base^(2^ceil(log2 e))
    // — correct ONLY for power-of-two exponents. A non-power-of-two
    // config (e.g. a 48-hash (3, 16) split) would produce an
    // identically wrong curve on BOTH engines (the twin is generated
    // from the same chain builder), so the oracle would reproduce the
    // error instead of catching it: fail loudly here instead.
    cfgs.foreach { case (b, r) =>
      require(Integer.bitCount(b) == 1 && Integer.bitCount(r) == 1,
        s"lshConfigs ($b, $r): bands and rows must be powers of two " +
          "for the squaring chains to be exact (see chain())")
    }
    cfgs
  }

  /** Analytic LSH S-curve (q172): for every (b bands, r rows) split of
    * the 32-hash budget and Jaccard s on a 1/20 grid, the candidate-
    * capture probability 1 - (1 - s^r)^b — the tuning table that
    * documents WHY the shipped (8, 4) operating point sits where it
    * does (threshold ~ (1/b)^(1/r) ≈ 0.59) and what moving along the
    * budget's factorizations trades (more bands -> catches lower-s
    * pairs AND more false candidates). The analytic complement of
    * q153: q153 audits the estimator empirically against exact Jaccard
    * on the actual corpus; this is the curve governing which pairs
    * become candidates at all.
    *
    * Determinism: every exponent in the budget's factorizations is a
    * power of two, so s^r and (1-s^r)^b are REPEATED-SQUARING
    * multiplication chains — IEEE-exact and identical on both engines,
    * where libm pow would differ in the last ulp. Both engine sides
    * are generated from the same [[lshConfigs]] list and the same
    * chain builder shape. Constant-size output (6 configs x 19 grid
    * points); no corpus scan — ScaleCheck-excluded as size-invariant.
    */
  def lshTuningCurve(spark: SparkSession): DataFrame = {
    def chain(base: Column, e: Int): Column = {
      var c = base
      var k = 1
      while (k < e) { c = c * c; k *= 2 }
      c
    }
    lshConfigs.map { case (b, r) =>
      spark.range(1, 20).toDF("k")
        .select(
          lit(b.toLong).as("bands"),
          lit(r.toLong).as("rows_per_band"),
          col("k").cast("bigint").as("k"),
          (col("k").cast("double") / 20.0).as("s"))
        .withColumn("p_capture",
          lit(1.0) - chain(lit(1.0) - chain(col("s"), r), b))
    }.reduce(_ union _)
  }

  private def lshTuningCurveSql: String = {
    def chain(base: String, e: Int): String = {
      var c = base
      var k = 1
      while (k < e) { c = s"($c * $c)"; k *= 2 }
      c
    }
    val s = "(CAST(k AS DOUBLE) / 20.0)"
    val parts = lshConfigs.map { case (b, r) =>
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |  CAST(k AS BIGINT) AS k, CAST(k AS DOUBLE) / 20.0 AS s,
         |  1.0 - ${chain(s"(1.0 - ${chain(s, r)})", b)} AS p_capture
         |FROM (SELECT unnest(range(1, 20)) AS k)""".stripMargin
    }
    parts.mkString("\nUNION ALL\n") + "\nORDER BY bands DESC, k"
  }

  val q172: QueryDef = QueryDef.sql(
    "q172_lsh_tuning_curve", lshTuningCurveSql) { (s, dir) =>
    lshTuningCurve(s).orderBy(col("bands").desc, col("k"))
  }

  /** Source marginal-novelty report (q185): per source, how much of
    * its content exists NOWHERE else in the corpus — the
    * "what do we lose if we drop this feed" budgeting readout. q112
    * says which source PAIRS overlap and q173 where verified near-dup
    * pairs flow; this is the corpus-wide complement: distinct 3-token
    * shingles per source, the count appearing in NO other source
    * (n_src = 1 globally), and at document granularity how many of
    * the source's docs carry at least one globally-unique shingle. A
    * source with high pair-overlap can still be worth keeping if its
    * novel_doc_share is high; one whose unique_share ~ 0 is fully
    * covered by the rest of the corpus and is a drop candidate.
    *
    * Junk handling: a NULL source groups as '(null)' (the q168
    * convention — junk is reported, not hidden); NULL-doc_id rows
    * keep their TEXT in the shingle universe (content exists and
    * suppresses other sources' "unique" claims regardless of a
    * broken id) but are excluded from the DOC-level readout (no
    * actionable document to keep or drop — the q183 exclusion
    * argument), so a junk-only source surfaces with n_docs = 0.
    *
    * Scale: no pair joins anywhere — the chain is distinct /
    * group-by / equi-join on the shingle key only: (source, doc, sh)
    * distinct (one corpus exchange, partial-agg dedup map-side),
    * (source, sh) distinct (collapses from the first), per-shingle
    * source count (vocabulary-sized), and two shingle-keyed joins
    * back. Everything is linear in corpus shingle volume at any
    * source count — unlike q112's C(k,2) per-shingle fan-out, there
    * is nothing quadratic to cap here.
    */
  def sourceMarginalNovelty(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // (source, doc_id, shingle) distinct — checkpointed (lazy): feeds
    // both the shingle-level and the doc-level branch; without it each
    // branch re-runs the scan+shingle+distinct pipeline
    val ds = docs
      .select(coalesce(col("source"), lit("(null)")).as("source"),
        col("doc_id"), explode(shingles(col("text"), 3)).as("sh"))
      .distinct()
      .localCheckpoint(false)
    val ss = ds.select(col("source"), col("sh")).distinct()
      .localCheckpoint(false)
    val psh = ss.groupBy(col("sh"))
      .agg(count(lit(1)).cast("bigint").as("n_src"))
    val sstat = ss.join(psh, Seq("sh"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_shingles"),
        sum(when(col("n_src") === 1L, 1L).otherwise(0L)).cast("bigint")
          .as("n_unique"))
    val dstat = ds.filter(col("doc_id").isNotNull)
      .join(psh, Seq("sh"))
      .groupBy(col("source"), col("doc_id"))
      .agg(max(when(col("n_src") === 1L, 1L).otherwise(0L)).as("novel"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("novel")).cast("bigint").as("n_docs_novel"))
    sstat.join(dstat, Seq("source"), "left")
      .select(col("source"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles").cast("double"))
          .as("unique_share"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_docs_novel"), lit(0L)).as("n_docs_novel"),
        when(coalesce(col("n_docs"), lit(0L)) > 0,
          col("n_docs_novel").cast("double") / col("n_docs").cast("double"))
          .otherwise(lit(0.0)).as("novel_doc_share"))
  }

  val q185: QueryDef = QueryDef.sql(
    "q185_source_marginal_novelty",
    s"""WITH d AS (
       |  SELECT COALESCE(source, '(null)') AS source, doc_id, $duckToks AS t
       |  FROM documents),
       |sh0 AS (
       |  SELECT source, doc_id, unnest(list_filter(
       |    list_transform(range(0, greatest(len(t) - 3, 0) + 1),
       |      i -> array_to_string(t[i+1:i+3], ' ')),
       |    s -> s <> '')) AS sh
       |  FROM d),
       |ds AS (SELECT DISTINCT source, doc_id, sh FROM sh0),
       |ss AS (SELECT DISTINCT source, sh FROM ds),
       |psh AS (SELECT sh, CAST(count(*) AS BIGINT) AS n_src FROM ss GROUP BY sh),
       |sstat AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
       |  FROM ss JOIN psh USING (sh) GROUP BY source),
       |dn AS (
       |  SELECT source, doc_id,
       |    max(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS novel
       |  FROM ds JOIN psh USING (sh)
       |  WHERE doc_id IS NOT NULL
       |  GROUP BY source, doc_id),
       |dstat AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(novel) AS BIGINT) AS n_docs_novel
       |  FROM dn GROUP BY source)
       |SELECT s.source, s.n_shingles, s.n_unique,
       |  CAST(s.n_unique AS DOUBLE) / CAST(s.n_shingles AS DOUBLE) AS unique_share,
       |  CAST(COALESCE(t.n_docs, 0) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(t.n_docs_novel, 0) AS BIGINT) AS n_docs_novel,
       |  CASE WHEN COALESCE(t.n_docs, 0) > 0
       |    THEN CAST(t.n_docs_novel AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
       |    ELSE 0.0 END AS novel_doc_share
       |FROM sstat s LEFT JOIN dstat t USING (source)
       |ORDER BY source""".stripMargin) { (s, dir) =>
    sourceMarginalNovelty(Tables.documentsFan(s, dir)).orderBy(col("source"))
  }
}
