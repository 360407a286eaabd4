package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, explode}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river edge"), // near dup of 0
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "another unrelated text mentioning parquet files and column pruning"))
    .toDF("doc_id", "text")

  test("minhashCandidates finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs, nHashes = 32, bandSize = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"exact dup pair missing from $pairs")
    assert(!pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairs: identical docs at hamming 0; unrelated docs not paired") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10)
      .as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((0L, 1L)).contains(0))
    // maxHamming=10 already filters, so presence alone is the check
    assert(!m.contains((0L, 3L)))
  }

  test("dedupAgainstHistory: exact result (bloom FPs rejected), null keys kept") {
    val history = (0L until 500L).map(i => (i, s"hist doc $i")).toDF("doc_id", "text")
    // incoming: 50 dups of history + 50 genuinely new ids + a null key
    val incoming = (((450L until 500L) ++ (1000L until 1050L))
      .map(i => (Some(i), s"inc doc $i")) :+ ((None: Option[Long]) -> "null key"))
      .map { case (k, t) => (k, t) }.toDF("doc_id", "text")
    val out = Dedup.dedupAgainstHistory(incoming, history, "doc_id",
      expectedItems = 500L, fpp = 0.05).collect()
    // EXACT anti-join semantics: every true dup dropped, every new id
    // kept — and the null-key row survives (null matches nothing),
    // same as incoming.join(history, key, "left_anti")
    assert(out.count(_.isNullAt(0)) == 1)
    assert(out.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet ==
      (1000L until 1050L).toSet)
    // the probe expression is codegen, not a UDF
    val probed = incoming.filter(graft.functions.functions.bloom_might_contain(
      org.apache.spark.sql.functions.col("doc_id"),
      history.stat.bloomFilter("doc_id", 500L, 0.05)))
    val udfs = probed.queryExecution.executedPlan.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
    })
    assert(udfs.isEmpty)
    // string keys: true dups must be DETECTED (overlap), new kept
    val histS = history.select("text")
    val incS = Seq("hist doc 0", "hist doc 499", "brand new text a", "brand new text b")
      .toDF("text")
    val outS = Dedup.dedupAgainstHistory(incS, histS, "text",
      expectedItems = 500L, fpp = 0.05).as[String].collect().toSet
    assert(outS == Set("brand new text a", "brand new text b"))
  }

  test("connectedComponents: chains collapse to one component, islands stay apart") {
    // chain 1-2-3-4 (no direct 1-4 edge) + pair 10-11 + pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: long path converges (diameter rounds, early stop)") {
    // path 0-1-2-...-9: diameter 9, must still resolve to min=0.
    // localEdgeLimit=0 forces the distributed loop — the driver
    // union-find fast path would otherwise absorb test-sized graphs.
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs, maxIter = 15, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet == Set(0L))
    assert(comp.keySet == (0L to 9L).toSet)
  }

  test("connectedComponents: driver union-find agrees with the distributed loop") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("connectedComponents: concurrent distributed calls leave the session conf alone") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    def run(): Map[Long, Long] =
      Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
    val serial = run()
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    def settings(): Seq[String] = keys.map(spark.conf.get)
    val before = settings()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      @volatile var running = true
      val sampler = pool.submit(new java.util.concurrent.Callable[Set[Seq[String]]] {
        def call(): Set[Seq[String]] = {
          val seen = Set.newBuilder[Seq[String]]
          while (running) { seen += settings(); Thread.sleep(1) }
          seen.result()
        }
      })
      val calls = Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[Map[Long, Long]] {
        def call(): Map[Long, Long] = run()
      }))
      val results = try calls.map(_.get()) finally running = false
      results.foreach(r => assert(r == serial))
      assert(sampler.get() == Set(before), "a CC call changed the shared session conf")
      assert(settings() == before)
    } finally pool.shutdown()
  }

  /** The driver fast path must dispatch on ESTIMATED BYTES, not edge
    * count: fat string ids (URLs, content hashes) blow a default
    * driver heap at edge counts that are safe for longs. Estimate =
    * measured payload + 96 B/edge JVM overhead vs `localDriverBytes`.
    */
  test("connectedComponents: dispatch boundary is byte-derived, not row-counted") {
    val fat = "u" * 400 // 400-byte ids: ~900 B/symmetric edge estimated
    val pairs = (0L until 50L).map(i => (s"$fat$i", s"$fat${i + 1}")).toDF("a", "b")
    // 100 symmetric edges but ~90 KB estimated: above a 16 KB budget
    // the same graph must go distributed, below the default it is local
    val local = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(Dedup.lastDispatchLocal, "small fat-id graph should still fit 64 MB")
    val dist = Dedup.connectedComponents(pairs, localDriverBytes = 16L << 10)
      .as[(String, String)].collect().toMap
    assert(!Dedup.lastDispatchLocal,
      "fat ids over the byte budget must run the distributed loop even under the edge cap")
    assert(local == dist)
    // same edge count with thin long ids (~11 KB estimated) fits a
    // 64 KB budget that the fat strings (~90 KB) would exceed — the
    // boundary moves with id width, which is the point
    val thin = (0L until 50L).map(i => (i, i + 1)).toDF("a", "b")
    Dedup.connectedComponents(thin, localDriverBytes = 64L << 10).count()
    assert(Dedup.lastDispatchLocal, "long ids must fit the 64 KB budget the fat ids exceeded")
  }

  test("connectedComponents: non-numeric (string) ids label by min member") {
    val pairs = Seq(("b", "a"), ("c", "b"), ("y", "x")).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("shingles produces n-grams in order") {
    val s = docs.filter($"doc_id" === 3L)
      .select(Dedup.shingles($"text", 3)).as[Seq[String]].head()
    assert(s.head == "completely different content")
    assert(s.contains("spark query engines"))
  }

  /** Production ingest folds MANY deltas; drift under repeated merges
    * (stale rows surviving a replacement, lost rows, duplicate band
    * keys) compounds invisibly in a single-delta spec. Property-style:
    * 3 random deltas with overlapping doc_ids folded sequentially must
    * equal one rebuild over the latest-wins corpus.
    */
  test("upsertBandIndex: N sequential deltas == one rebuild of latest versions") {
    val rng = new scala.util.Random(43)
    for (trial <- 1 to 2) {
      val deltas = Vector.tabulate(3) { di =>
        val ids = (0 to 9).filter(_ => rng.nextBoolean()) :+ (10 + di)
        ids.map(id => (id.toLong,
          s"document $id revision r${rng.nextInt(100)} carries some shingled content"))
      }
      val folded = deltas.tail
        .foldLeft(Dedup.bandSignatures(deltas.head.toDF("doc_id", "text"))) {
          (idx, d) => Dedup.upsertBandIndex(idx, d.toDF("doc_id", "text"))
        }
        .as[(Long, Int, Long)].collect().toSet
      // latest-wins: each doc_id's version from the last delta carrying it
      val latest = deltas.zipWithIndex
        .flatMap { case (d, i) => d.map { case (id, t) => (id, i, t) } }
        .groupBy(_._1).map { case (id, vs) => (id, vs.maxBy(_._2)._3) }.toSeq
      val rebuilt = Dedup.bandSignatures(latest.toDF("doc_id", "text"))
        .as[(Long, Int, Long)].collect().toSet
      assert(folded == rebuilt, s"trial $trial: fold drifted from rebuild")
    }
  }

  test("upsertBandIndex == full rebuild (including a re-ingested doc); probe equals cross-candidates") {
    val corpus = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val old = corpus.filter($"doc_id" < 100)
    // delta = new docs + one RE-INGESTED doc with changed text,
    // DELIVERED TWICE with different payloads (at-least-once feed):
    // exactly one deterministic winner may survive the merge
    val edited = corpus.filter($"doc_id" === 5)
      .select($"doc_id",
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" edited tail")).as("text"))
    val editedLater = corpus.filter($"doc_id" === 5)
      .select($"doc_id",
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" zz later retry")).as("text"))
    val delta = corpus.filter($"doc_id" >= 100 && $"doc_id" < 150)
      .unionByName(edited).unionByName(editedLater)
    val merged = Dedup.upsertBandIndex(Dedup.bandSignatures(old), delta)
      .as[(Long, Int, Long)].collect().toSet
    // rebuild from scratch on the equivalent final corpus state: the
    // deterministic intra-delta winner for doc 5 is the row-wise min
    // payload ("...edited tail" < "...zz later retry")
    val finalCorpus = old.filter($"doc_id" =!= 5)
      .unionByName(corpus.filter($"doc_id" >= 100 && $"doc_id" < 150))
      .unionByName(edited)
    val rebuilt = Dedup.bandSignatures(finalCorpus)
      .as[(Long, Int, Long)].collect().toSet
    assert(merged == rebuilt, "incremental index diverged from full rebuild")
    // probing the index with a batch finds exactly the full-run pairs
    // that cross (batch x indexed)
    val batch = corpus.filter($"doc_id" >= 150 && $"doc_id" < 170)
    val probed = Dedup.probeBandIndex(Dedup.bandSignatures(finalCorpus), batch)
      .as[(Long, Long)].collect().toSet
    val full = Dedup.minhashCandidates(finalCorpus.unionByName(batch))
      .as[(Long, Long)].collect().toSet
    val batchIds = (150L until 170L).toSet
    val expect = full.collect {
      case (a, b) if batchIds(a) && !batchIds(b) => (a, b)
      case (a, b) if batchIds(b) && !batchIds(a) => (b, a)
    }
    assert(probed == expect,
      s"probe/full diverge: onlyProbe=${(probed -- expect).take(5)} " +
        s"onlyFull=${(expect -- probed).take(5)}")
    assert(probed.nonEmpty, "templated fixture must have cross near-dups")
  }

  test("q112 source overlap matches directly computed shingle-set intersections") {
    val out = Dedup.q112.build(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.nonEmpty, "templated corpus must share shingles across sources")
    // recompute from first principles on the fixture
    val sp = Tables.documents(spark, sfDir)
      .select($"source", explode(Dedup.shingles($"text", 3)).as("sh"))
      .distinct().as[(String, String)].collect()
    val nSrc = sp.groupBy(_._2).view.mapValues(_.map(_._1).distinct.size).toMap
    val kept = sp.filter(p => nSrc(p._2) <= 16)
    val bysrc = kept.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val srcs = bysrc.keys.toSeq.sorted
    val expect = (for {
      i <- srcs.indices; j <- i + 1 until srcs.length
      a = srcs(i); b = srcs(j)
      shared = (bysrc(a) & bysrc(b)).size.toLong
      if shared >= 5
    } yield (a, b) -> ((shared,
      shared.toDouble / math.min(bysrc(a).size, bysrc(b).size)))).toMap
    assert(out == expect, s"overlap matrix mismatch: got ${out.size} pairs, want ${expect.size}")
  }

  test("containmentPairs finds a quoted sub-document that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = ("totally different framing text opens here and then " + short +
      " continues with much more unrelated material about engines shuffles " +
      "partitions codecs broadcast joins windows and aggregation pipelines")
    val d = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d)
      .select("d1", "d2", "containment_1", "containment_2")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length == 1)
    val (d1, d2, c1, c2) = got.head
    assert((d1, d2) == ((1L, 2L)))
    assert(c1 == 1.0, s"short doc fully contained: c1=$c1")
    // with c1 = 1 (nc = n1), Jaccard = nc/(n1+n2-nc) = n1/n2 = c2, so
    // c2 < 0.5 simultaneously shows the long side is mostly novel AND
    // that symmetric Jaccard dedup would score this pair below 0.5
    assert(c2 < 0.5, s"long doc mostly NOT contained: c2=$c2")
  }

  test("q153 minhash calibration: exact duplicates audit at error 0; exact_j matches a set replay") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base),                                  // dup pair 0-1
      (1L, base),
      (2L, base + " extra tail words here"),       // near-dup of 0/1
      (3L, "totally different text with no shared window at all"))
      .toDF("doc_id", "text")
    val got = NonOracle.minhashCalibration(docs)
      .select("d1", "d2", "n_match", "est_j",
        "n_inter", "n_union", "exact_j", "abs_err")
      .as[(Long, Long, Long, Double, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // the exact-duplicate pair must be a candidate and audit clean
    val (_, _, nm, est, ni, nu, ex, err) = got((0L, 1L))
    assert(nm == 32L && est == 1.0 && ex == 1.0 && err == 0.0)
    assert(ni == nu, "identical docs: intersection == union")
    // every audited pair's exact_j matches a plain-Scala shingle-set replay
    def shingleSet(t: String): Set[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) Set.empty
      else if (toks.length <= 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = Map(0L -> base, 1L -> base,
      2L -> (base + " extra tail words here"),
      3L -> "totally different text with no shared window at all")
      .view.mapValues(shingleSet).toMap
    got.foreach { case ((d1, d2), (_, _, _, estJ, ni2, nu2, exJ, errJ)) =>
      val (a, b) = (sets(d1), sets(d2))
      val inter = (a & b).size.toLong
      val union = (a ++ b).size.toLong
      assert((ni2, nu2) == ((inter, union)), s"($d1,$d2) set replay mismatch")
      assert(exJ == inter.toDouble / union.toDouble)
      assert(errJ == math.abs(estJ - exJ))
    }
  }

  test("q162 dedup impact: redundant docs charged to their OWN source; singletons clean") {
    // cluster {1,2,4}: rep = min id 1 (srcA); doc 2 redundant in srcA,
    // doc 4 redundant in srcB even though its kept rep lives in srcA —
    // that's the volume srcB actually deletes. Docs 3/5 are singletons.
    val docs = Seq(
      (1L, "srcA", "x y z w"),
      (2L, "srcA", "x y z w"),
      (3L, "srcA", "p q r s"),
      (4L, "srcB", "x y z w"),
      (5L, "srcB", "u v m n"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.dedupImpact(docs)
      .select("source", "n_docs", "n_tokens", "n_clustered", "n_redundant",
        "redundant_tokens", "redundancy_frac")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("srcA") == (("srcA", 3L, 12L, 2L, 1L, 4L, 4.0 / 12.0)))
    assert(got("srcB") == (("srcB", 2L, 8L, 1L, 1L, 4L, 4.0 / 8.0)),
      "cross-source member must count redundant in its own source")
  }

  test("syndicationMatrix: cross-source copy lands off-diagonal, template pair on it, unique doc nowhere") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight"
    val docs = Seq(
      (1L, t1, "sA"), (2L, t1, "sB"),   // cross-source exact copy
      (3L, t2, "sA"), (4L, t2, "sA"),   // within-source template
      (5L, "unique text nothing shares this", "sC"))
      .toDF("doc_id", "text", "source")
    val out = NonOracle.syndicationMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("sA", "sB")) == ((1L, 2L)), "cross-source copy must land off-diagonal")
    assert(out(("sA", "sA")) == ((1L, 2L)), "within-source template must land on the diagonal")
    assert(out.size == 2, "the unique doc must produce no cell")
  }

  test("q172 S-curve: values match the repeated-squaring math; monotone in s; all 6 budget splits") {
    val rows = Dedup.lshTuningCurve(spark)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.length == 6 * 19)
    // same IEEE squaring chain in plain Scala
    def chain(x: Double, e: Int): Double = {
      var c = x; var k = 1; while (k < e) { c = c * c; k *= 2 }; c
    }
    rows.foreach { case (b, r, k, s, p) =>
      assert(s == k.toDouble / 20.0)
      assert(p == 1.0 - chain(1.0 - chain(s, r.toInt), b.toInt),
        s"($b,$r,$k): p_capture must be the exact squaring-chain value")
    }
    // per config, capture is monotone nondecreasing in s
    rows.groupBy(x => (x._1, x._2)).foreach { case (cfg, rs) =>
      val ps = rs.sortBy(_._3).map(_._5).toSeq
      assert(ps == ps.sorted, s"$cfg: capture must be monotone in s")
    }
    // the shipped (8,4) operating point: steep around s ~ 0.6
    val shipped = rows.filter(x => x._1 == 8L && x._2 == 4L)
      .map(x => x._3 -> x._5).toMap
    assert(shipped(8L) < 0.3 && shipped(16L) > 0.9,
      "the (8,4) S-curve must separate s=0.4 from s=0.8")
  }

  test("q185 marginal novelty: unique shingles per source; junk text suppresses uniqueness but junk docs don't count") {
    import spark.implicits._
    val docs = Seq(
      // A doc 1: shingles "x y z", "y z w" — "y z w" is globally unique
      (Option(1L), Option("x y z w"), Option("A")),
      // A doc 2: only the shared shingle — not novel
      (Option(2L), Option("x y z"), Option("A")),
      // B's one shingle also lives in A — zero unique
      (Option(3L), Option("x y z"), Option("B")),
      // NULL source, real doc: groups as '(null)', fully unique
      (Option(4L), Option("q r s"), Option.empty[String]),
      // C: ONLY a NULL-id junk row — its text joins the shingle
      // universe (suppressing D's uniqueness below) but no doc counts
      (Option.empty[Long], Option("u v w"), Option("C")),
      // D: same text as C's junk row — NOT unique because of it
      (Option(5L), Option("u v w"), Option("D")))
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceMarginalNovelty(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getDouble(6)))).toMap
    assert(out("A") == ((2L, 1L, 0.5, 2L, 1L, 0.5)),
      "A: 2 distinct shingles, 1 unique; doc 1 novel, doc 2 not")
    assert(out("B") == ((1L, 0L, 0.0, 1L, 0L, 0.0)))
    assert(out("(null)") == ((1L, 1L, 1.0, 1L, 1L, 1.0)),
      "NULL source is reported as '(null)', not dropped")
    assert(out("C") == ((1L, 0L, 0.0, 0L, 0L, 0.0)),
      "junk-only source: shingles counted (and shared with D), zero docs")
    assert(out("D") == ((1L, 0L, 0.0, 1L, 0L, 0.0)),
      "D's text is NOT unique — C's junk row carries the same content")
  }

  test("q195 sweep: monotone in the cut, and the 0.7 row agrees with q85's clustering") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 100)
    val rows = Dedup.dedupThresholdSweep(docs)
      .orderBy(col("thr_num")).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, "pairs must shrink as the cut rises")
      assert(b._3 <= a._3, "clustered docs must shrink as the cut rises")
      assert(b._5 <= a._5, "removed docs must shrink as the cut rises")
    }
    // the k = 7 row must describe exactly the clustering q85 ships
    // (the sweep's exact rational cut and the shipped double compare
    // coincide on this corpus; a divergence here means a pair's
    // Jaccard rounded across 0.7 and the operating point is ambiguous)
    val q85rows = Dedup.q85.build(spark, sfDir).collect()
    val k7 = rows.find(_._1 == 7L).get
    assert(k7._4 == q85rows.length.toLong,
      "0.7 cluster count diverged from q85")
    assert(k7._3 == q85rows.map(_.getLong(1)).sum,
      "0.7 clustered-doc count diverged from q85's member totals")
  }
}
