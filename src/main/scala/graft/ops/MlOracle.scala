package graft.ops

import org.apache.spark.sql.functions._
import graft.cluster.KMeansAssign

/** ML-side queries with full DuckDB oracles. These started life as
  * rows-only checks (NonOracle); each is re-expressed here so that
  * every derived value is engine-neutral:
  *
  *  - cosine distance uses the pinned dot/(sqrt(na)*sqrt(nb)) formula
  *    with sequential fold order (Spark custom kernel = DuckDB
  *    list_sum(list_transform(...))) — proven bit-identical by
  *    q31_knn_bruteforce;
  *  - the k-means argmin is min(struct(dist, center_id)) in Spark and
  *    row_number() OVER (ORDER BY dist, center_id) in DuckDB —
  *    identical doubles make identical ranks;
  *  - the multimodal stub codec is pure integer arithmetic over sha256
  *    bytes, replayed in DuckDB with HUGEINT mod-2^64 arithmetic;
  *  - language-ID scores are small-integer-valued doubles (exact in
  *    both engines), argmax-with-priority replayed as a CASE cascade.
  */
object MlOracle {

  def all: Seq[QueryDef] = Seq(q43, q44, q48, q54)

  /** Shared DuckDB fragment: per-(id, center) cosine distance between
    * embeddings and the first-8-vectors centroid set, with the same
    * literal formula and zero-norm guard as
    * [[graft.functions.VectorOps.cosine]].
    */
  private[ops] val duckAssign: String =
    """e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS center_id, embedding AS cv
      |      FROM embeddings WHERE vec_id < 8),
      |s AS (
      |  SELECT id, center_id,
      |    list_sum(list_transform(range(1, len(v) + 1),
      |      i -> CAST(v[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))) AS dot,
      |    list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
      |    list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nb
      |  FROM e, c),
      |d AS (
      |  SELECT id, center_id,
      |    CASE WHEN COALESCE(na, 0) = 0 OR COALESCE(nb, 0) = 0 THEN 1.0
      |         ELSE 1.0 - dot / (sqrt(na) * sqrt(nb)) END AS dist
      |  FROM s),
      |r AS (
      |  SELECT id, dist, center_id,
      |    row_number() OVER (PARTITION BY id ORDER BY dist, center_id) AS rn
      |  FROM d)""".stripMargin

  /** Reference Job 2: cosine k-means assignment of embedding vectors to
    * K=8 broadcast centroids (vectors 0..7 as deterministic centers).
    */
  val q43: QueryDef = QueryDef.sql(
    "q43_kmeans_assign",
    s"""WITH $duckAssign
       |SELECT id, dist, center_id FROM r WHERE rn = 1
       |ORDER BY id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val centers = emb.filter(col("id") < 8)
      .select(col("id").cast("int").as("center_id"), col("vec").as("cvec"))
    KMeansAssign.assign(emb, centers).orderBy(col("id"))
  }

  /** Reference A4: cluster membership aggregation with deterministic
    * sequential cluster ids.
    */
  val q44: QueryDef = QueryDef.sql(
    "q44_cluster_members",
    s"""WITH $duckAssign,
       |a AS (SELECT id, center_id FROM r WHERE rn = 1),
       |g AS (
       |  SELECT center_id, count(*) AS size,
       |    string_agg(CAST(id AS VARCHAR), ' ' ORDER BY id) AS members
       |  FROM a GROUP BY center_id)
       |SELECT row_number() OVER (ORDER BY center_id) AS cluster_id,
       |  center_id, size, members
       |FROM g ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    val centers = emb.filter(col("id") < 8)
      .select(col("id").cast("int").as("center_id"), col("vec").as("cvec"))
    KMeansAssign.clusters(KMeansAssign.assign(emb, centers))
      .select(col("cluster_id"), col("center_id"), col("size"),
        concat_ws(" ", transform(col("members"), m => m.cast("string"))).as("members"))
      .orderBy(col("cluster_id"))
  }

  /** Multimodal stub pipeline: attach binary media, batch-extract
    * features (mapPartitions, stub codec), metadata-only stats.
    *
    * The aggregation avoids order-dependent double sums: brightness is
    * always millesimal (m/1000 from the stub codec), so it is summed as
    * an exact integer and divided once — the oracle replays the codec's
    * 64-bit wrapping hash with HUGEINT mod-2^64 arithmetic over the
    * sha256 payload bytes.
    */
  val q48: QueryDef = QueryDef.sql(
    "q48_multimodal_stats",
    """WITH m AS (
      |  SELECT doc_id,
      |    'image/' || (['png','jpeg','webp'])[CAST(doc_id % 3 AS INT) + 1] AS mime,
      |    list_transform(regexp_extract_all(sha256(text), '..'),
      |      p -> (strpos('0123456789abcdef', p[1]) - 1) * 16
      |           + (strpos('0123456789abcdef', p[2]) - 1)) AS bytes
      |  FROM documents),
      |h AS (
      |  SELECT mime, len(bytes) AS n_bytes,
      |    list_reduce(
      |      list_prepend(CAST(1125899906842597 AS HUGEINT),
      |        list_transform(bytes,
      |          v -> CAST(CASE WHEN v >= 128 THEN v - 256 ELSE v END AS HUGEINT))),
      |      (a, b) -> ((a * 31 + b) % 18446744073709551616 + 18446744073709551616)
      |                % 18446744073709551616) AS u
      |  FROM m),
      |f AS (
      |  SELECT mime, n_bytes,
      |    64 + CAST(u % 1024 AS BIGINT) AS width,
      |    ((CAST(u // 4194304 AS BIGINT)
      |      - CASE WHEN u >= 9223372036854775808 THEN 4398046511104 ELSE 0 END)
      |     % 1000 + 1000) % 1000 AS bm
      |  FROM h)
      |SELECT mime, count(*) AS n,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(sum(width) AS BIGINT) / count(*) AS avg_width,
      |  (CAST(sum(bm) AS BIGINT) / 1000.0) / count(*) AS avg_brightness
      |FROM f GROUP BY mime ORDER BY mime""".stripMargin) { (s, dir) =>
    // the rollup is Multimodal.mediaStats — ONE definition of the
    // quantized-brightness aggregation (a second copy here had already
    // drifted back to an order-dependent raw-double sum once)
    Multimodal.mediaStats(Multimodal.extractFeatures(s,
      Multimodal.attachMedia(Tables.documents(s, dir))))
  }

  /** Heuristic language-ID over the corpus (function-word profile
    * argmax with deterministic priority tie-break).
    */
  val q54: QueryDef = QueryDef.sql(
    "q54_langid",
    s"""WITH t AS (
      |  SELECT doc_id, lang AS labeled_lang, text,
      |    ${TwinSql.toksOf("lower(text)")} AS toks
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, labeled_lang,
      |    CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that'))) AS DOUBLE) AS s_en,
      |    CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein'))) AS DOUBLE) AS s_de,
      |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','es'))) AS DOUBLE) AS s_es,
      |    CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des','est','une'))) AS DOUBLE) AS s_fr,
      |    CAST(length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE) AS s_zh
      |  FROM t)
      |SELECT doc_id, labeled_lang,
      |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END AS predicted_lang,
      |  greatest(s_en, s_de, s_es, s_fr, s_zh) AS lang_score
      |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextAnalytics.langId(Tables.documentsFan(s, dir)).orderBy(col("doc_id"))
  }
}
