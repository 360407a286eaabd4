package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.functions.cosine_similarity
import graft.functions.VectorOps

/** Similarity search over the `embeddings` table (ARRAY<FLOAT> cast to
  * double vectors).
  *
  * Two paths:
  *  - `bruteForceKnn`: exact top-k for a bounded query set — broadcast
  *    the queries, stream the corpus once, per-partition top-k heap via
  *    window rank. Scale: O(|Q| * corpus); right when |Q| is small.
  *  - `lshKnn`: sign-random-projection LSH — bucket vectors by the sign
  *    pattern of `nPlanes` fixed hyperplanes, join within buckets only.
  *    Scale: the corpus-corpus interaction becomes an equi-join on the
  *    bucket key; per-bucket work is quadratic only in the bucket, so
  *    the knob is nPlanes (more planes -> smaller buckets, lower
  *    recall). This is the 100 TB path.
  */
object Similarity {

  def all: Seq[QueryDef] = Seq(q30, q31, q117, q120, q149, q150, q164, q165,
    q171, q174, q180, q181, q190, q208, q209, q210)

  /** Per-vector L2 norm (pinned fold order; identical formula in the
    * DuckDB twin so doubles are bit-identical).
    */
  val q30: QueryDef = QueryDef.sql(
    "q30_embedding_norms",
    """SELECT vec_id, label,
      |  sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        sqrt(aggregate(transform(v, x => x * x), lit(0.0), (a, x) => a + x))
          .as("l2_norm"))
      .orderBy(col("vec_id"))
  }

  /** Exact cosine top-5 neighbors for query vectors vec_id < 10.
    * The custom CosineSimilarityExpr accumulates dot/norms in index
    * order, matching the DuckDB list_sum fold, so scores (and hence
    * ranks) are bit-identical across engines.
    */
  val q31: QueryDef = QueryDef.sql(
    "q31_knn_bruteforce",
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
      |s AS (
      |  SELECT qid, cid,
      |    ${TwinSql.cosZ("qe", "ce")}
      |    AS score
      |  FROM q, c WHERE qid <> cid)
      |${TwinSql.topKSql("s", 5)}""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    bruteForceKnn(emb.filter(col("vec_id") < 10).toDF("qid", "qv"), emb, 5)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Exact top-k: broadcast queries x corpus, window rank per query. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.toDF("cid", "cv")
      .crossJoin(broadcast(queries))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosine_similarity(col("qv"), col("cv")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** All XOR masks over `nPlanes` bits with popcount <= `flips`, in
    * deterministic (flip-count, lexicographic) order — the probe
    * neighborhood of a sign-LSH signature. Size is sum_{i<=flips}
    * C(nPlanes, i); callers keep `flips` small (0-3), so the list is
    * driver-side tiny and inlines as a literal array.
    */
  private[ops] def probeMasks(nPlanes: Int, flips: Int): Seq[Int] = {
    // bound the ball BEFORE enumerating: sum C(n, i) grows to 2^n, and
    // a runaway probe depth would OOM the driver building the mask list
    // (and bloat the literal array past what codegen tolerates)
    val count = (1 to flips).foldLeft((BigInt(1), BigInt(1))) {
      case ((total, c), i) => val ci = c * (nPlanes - i + 1) / i; (total + ci, ci)
    }._1
    require(count <= 4096,
      s"probe ball of $count buckets (nPlanes=$nPlanes, flips=$flips) " +
        "exceeds 4096 — deep probing at this width is a scan, not LSH")
    0 +: (1 to flips).flatMap(f =>
      (0 until nPlanes).combinations(f)
        .map(_.foldLeft(0)((m, b) => m | (1 << b))).toSeq)
  }

  /** Sign-random-projection LSH ANN: deterministic hyperplanes from the
    * splitmix64 mixer, bucket = sign-bit pattern, candidate join within
    * bucket, exact rescoring, window top-k. Bucketing is the codegen'd
    * [[graft.functions.SignBucketExpr]] — the planes ride into the
    * generated code as a reference object, so corpus hashing (the 100 TB
    * side) is a pure narrow map with no ScalaUDF in the plan.
    *
    * MULTI-PROBE: a true neighbor whose signature differs on a few
    * planes lands a few bit-flips away, so each query also probes every
    * bucket within hamming distance <= `probeFlips` (0 = single-bucket).
    * Probing multiplies only the (small) query side by the probe count
    * (sum of C(nPlanes, i) for i <= probeFlips) — the corpus is hashed
    * once — lifting recall toward 1 at the standard multi-probe
    * cost/recall trade (Lv et al., VLDB'07).
    */
  /** The deterministic, seedless hyperplane set shared by every
    * sign-LSH caller (kNN, embedding dedup, and the two-stage-oracle
    * aux dumps, which must bucket with the exact same planes the
    * queries used).
    */
  private[ops] def signPlanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      // uniform in [-1, 1) from the mixed bits — deterministic, seedless
      (VectorOps.mix64(p.toLong * 131071L + d) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  /** (id, bucket) sign-LSH bucketing of a two-column (id, vector)
    * frame — the narrow map-side half of [[lshKnn]], exposed so
    * graft.Verify can dump it as a two-stage-oracle artifact.
    */
  def signBuckets(vecs: DataFrame, nPlanes: Int, dim: Int = 64): DataFrame = {
    val Array(idName, _) = vecs.columns
    val planes = signPlanes(nPlanes, dim)
    vecs.toDF("id", "v")
      .select(col("id").as(idName),
        graft.functions.functions.sign_bucket(col("v"), planes).as("bucket"))
  }

  /** The bucket-join + exact-scoring stage of sign-LSH, WITHOUT the
    * per-query top-k window: (qid, cid, score) for every in-bucket
    * candidate pair. Exposed for threshold-style consumers
    * ([[Dedup.dedupByEmbedding]]) where a rank is never used — the
    * row_number window would exchange every candidate pair on qid and
    * sort each group just to compute a column the caller discards.
    */
  private[ops] def lshScoredCandidates(corpus: DataFrame, queries: DataFrame,
                                       nPlanes: Int, dim: Int,
                                       probeFlips: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 31, s"nPlanes in 1..31, got $nPlanes")
    require(probeFlips >= 0 && probeFlips <= nPlanes,
      s"probeFlips in 0..nPlanes, got $probeFlips")
    val bucketOf = graft.functions.functions.sign_bucket(
      _: org.apache.spark.sql.Column, signPlanes(nPlanes, dim))
    val bc = corpus.toDF("cid", "cv").withColumn("bucket", bucketOf(col("cv")))
    val bq0 = queries.toDF("qid", "qv").withColumn("sig", bucketOf(col("qv")))
    val bq =
      if (probeFlips == 0) bq0.withColumn("bucket", col("sig"))
      else bq0.select(col("qid"), col("qv"),
        explode(array(probeMasks(nPlanes, probeFlips)
          .map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("bucket"))
    bq.join(bc, "bucket")
      .filter(col("qid") =!= col("cid"))
      // a candidate can surface from several probed buckets: dedupe
      // before scoring so each pair is scored (and ranked) once
      .select(col("qid"), col("qv"), col("cid"), col("cv")).dropDuplicates("qid", "cid")
      .select(col("qid"), col("cid"),
        cosine_similarity(col("qv"), col("cv")).as("score"))
  }

  def lshKnn(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             k: Int, nPlanes: Int = 12, dim: Int = 64,
             probeFlips: Int = 1): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    lshScoredCandidates(corpus, queries, nPlanes, dim, probeFlips)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** IVF (inverted-file) ANN: the corpus is coarse-quantized into
    * `nCells` k-means cells (2 Lloyd iterations over cosine); a query
    * probes only its `nProbe` nearest cells and rescans exactly within
    * them.
    *
    * Scale: the cell index is a plain (cell_id -> vectors) partition of
    * the corpus — build is the k-means assignment (scan-bound, centers
    * broadcast); search cost drops from O(corpus) to
    * O(corpus * nProbe / nCells) per query. Cells map naturally to
    * partition pruning when the corpus is written partitioned by
    * cell_id. Recall is tuned by nProbe (= nCells gives exact search).
    */
  def ivfKnn(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
             k: Int, nCells: Int = 16, nProbe: Int = 4,
             lloydIters: Int = 2): DataFrame = {
    import graft.cluster.KMeansAssign
    val c = corpus.toDF("cid", "cv")
    // build: Lloyd-refined coarse quantizer (K-row driver state), then
    // cell assignment as a narrow broadcast map — the corpus never
    // shuffles during the build
    val centers = KMeansAssign.lloydCenters(c, nCells, lloydIters, "cid", "cv")
    val cells = KMeansAssign.assignMap(c, centers, "cv").drop("dist")
    // probe targets: the true cell centroids (shared scale-safe
    // mean-per-dimension aggregation)
    val centroids = KMeansAssign.centroidMeans(cells, "cv")
      .withColumnRenamed("cvec", "repr")
    probeSearch(cells, centroids, queries, k, nProbe)
  }

  /** The IVF serve join — probe `nProbe` nearest representatives per
    * query, exact-rescore inside probed cells only, top-k per query.
    * ONE definition shared by [[ivfKnn]] (probing true cell centroids)
    * and [[searchIvfIndex]] (probing the persisted quantizer itself,
    * the [[Pq.searchIndex]] convention): a drifted copy of the serve
    * join would let the maintained index silently search differently
    * than the one-shot path. `centroids` is (center_id, repr); `cells`
    * is (cid, cv, center_id).
    *
    * Scale: the probe set is |Q|·nProbe rows — broadcast, so the cells
    * side streams map-side instead of shuffling on center_id.
    */
  private def probeSearch(cells: DataFrame, centroids: DataFrame,
                          queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("center_id"))
    val probes = queries.toDF("qid", "qv")
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("qv"), col("center_id"),
        graft.functions.functions.cosine_distance(col("qv"), col("repr")).as("cdist"))
      .withColumn("prnk", row_number().over(w))
      .filter(col("prnk") <= nProbe)
      .select(col("qid"), col("qv"), col("center_id"))
    val ws = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    cells.join(broadcast(probes), "center_id")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosine_similarity(col("qv"), col("cv")).as("score"))
      .withColumn("rnk", row_number().over(ws))
      .filter(col("rnk") <= k)
  }

  /** Persisted plain-IVF index: the coarse quantizer (K driver rows)
    * plus the (cid, cv, center_id) cell assignment — the maintained
    * form of what [[ivfKnn]] builds per call, with the full
    * build/save/load/upsert/delete/compact lifecycle the IVF-PQ index
    * has ([[Pq.PqIndex]]); both persist through the shared
    * [[CellStore]] layout and inherit its tombstone/compaction crash
    * contract.
    */
  case class IvfIndex(centers: Array[Array[Double]], cells: DataFrame)

  /** Build: Lloyd-refined quantizer, then the zero-shuffle broadcast
    * assignment (the corpus never shuffles). Junk null vectors are not
    * index members (the q171 convention).
    */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame,
                    nCells: Int = 8, lloydIters: Int = 1): IvfIndex = {
    import graft.cluster.KMeansAssign
    val c = corpus.toDF("cid", "cv").filter(col("cv").isNotNull)
    val centers = KMeansAssign.lloydCenters(c, nCells, lloydIters, "cid", "cv")
    IvfIndex(centers, KMeansAssign.assignMap(c, centers, "cv").drop("dist"))
  }

  /** Persist: cells PARTITIONED BY center_id (probe pruning at the
    * storage layer), quantizer as one small meta row — the
    * [[Pq.saveIndex]] layout without codebooks.
    */
  def saveIvfIndex(idx: IvfIndex, path: String): Unit = {
    val spark = idx.cells.sparkSession
    // a fresh index must not inherit a previous index's half-finished
    // compaction (cleared up front) or tombstones (cleared AFTER the
    // new cells land — CellStore.clearForSave has the crash-window
    // ordering argument)
    CellStore.clearForSave(spark, path)
    idx.cells.write.mode("overwrite")
      .partitionBy("center_id").parquet(path + "/cells")
    import spark.implicits._
    Seq(Tuple1(idx.centers.map(_.toSeq).toSeq)).toDF("centers")
      .coalesce(1).write.mode("overwrite").parquet(path + "/meta")
    CellStore.clearTombstones(spark, path)
  }

  /** Load: lazy cells with pending tombstones applied and the
    * mid-compaction-crash read fallback (the shared [[CellStore]]
    * read path).
    */
  def loadIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    import scala.collection.{Seq => CSeq}
    val meta = spark.read.parquet(path + "/meta").collect()(0)
    val centers = meta.getSeq[CSeq[Double]](meta.fieldIndex("centers"))
      .map(_.toArray).toArray
    IvfIndex(centers, CellStore.applyTombstones(spark, path,
      spark.read.parquet(CellStore.resolveCellsPath(spark, path))))
  }

  /** Hard-delete ids from a live index: one anti equi-join; the
    * quantizer is untouched (deletes never retrain). Assignment is a
    * pure function of (vector, frozen centers), so the surviving
    * cells equal a fresh assignment of the remaining corpus —
    * spec-proven against the rebuild.
    */
  def deleteFromIvfIndex(idx: IvfIndex, ids: DataFrame): IvfIndex =
    IvfIndex(idx.centers,
      idx.cells.join(ids.toDF("cid").select(col("cid")).distinct(),
        Seq("cid"), "left_anti"))

  /** Tombstone-delete from the PERSISTED index — O(delta), applied on
    * every load until [[compactIvfIndex]] folds it in.
    */
  def deleteFromSavedIvfIndex(spark: SparkSession, path: String,
                              ids: DataFrame): Unit =
    CellStore.appendTombstones(spark, path, ids)

  /** Fold tombstones into the cell files (layout preserved) and
    * reload; [[CellStore.compactCells]] carries the crash contract.
    */
  def compactIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    CellStore.compactCells(spark, path)
    loadIvfIndex(spark, path)
  }

  /** Serve from a built/loaded/maintained index: probe targets are
    * the QUANTIZER itself, straight from driver state ([[Pq]]'s
    * convention — recomputing cell means per search would scan the
    * persisted cells and drift from the quantizer the assignments
    * used); the join is the shared [[probeSearch]].
    */
  def searchIvfIndex(spark: SparkSession, idx: IvfIndex, queries: DataFrame,
                     k: Int, nProbe: Int = 3): DataFrame = {
    import spark.implicits._
    val centroids = idx.centers.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("center_id", "repr")
    probeSearch(idx.cells, centroids, queries, k, nProbe)
  }

  /** Nearest-centroid classification + confusion matrix ([[q117]]):
    * the standard embedding-quality probe — fit one centroid per label
    * (Rocchio), assign every vector to its nearest centroid by squared
    * L2, and tabulate (label, predicted, n). The diagonal is the
    * "linear separability" sanity check a training pipeline runs on a
    * new embedding column before spending GPU-hours on it.
    *
    * Centroid sums use a TWO-LEVEL ordered fold: per (label, dim,
    * vec_id-block of 1024) in vec_id order, then across blocks in
    * block order. One level would key the corpus-wide exchange by
    * (label, dim) alone — K*D groups, each holding N values: a
    * reducer-melting skew at 100 TB. Blocks restore N/1024-way
    * parallelism while keeping a FIXED association tree, so the sum is
    * still bit-reproducible across engines and partitionings (floats:
    * unordered SUM is neither). Assignment is narrow: K*D centroids
    * broadcast, per-vector fold in dim order; the confusion aggregate
    * is K*K-sized.
    */
  /** Per-label centroids as (clabel, cv: array<double>) — the shared
    * kernel of [[nearestCentroidConfusion]] and [[silhouetteByLabel]].
    * Two-level ordered fold (see [[nearestCentroidConfusion]]'s
    * scaladoc for why blocks).
    */
  def labelCentroids(emb: DataFrame, blockSize: Int = 1024): DataFrame = {
    val dims = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("blk", expr(s"vec_id div $blockSize"))
    val blkAgg = dims.groupBy(col("label"), col("dim"), col("blk"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("x")))),
            s => s.getField("x")),
          lit(0.0), (a, x) => a + x).as("bs"),
        count(lit(1)).as("bn"))
    val cent = blkAgg.groupBy(col("label"), col("dim"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("blk"), col("bs")))),
            s => s.getField("bs")),
          lit(0.0), (a, x) => a + x).as("sx"),
        sum(col("bn")).as("n"))
      .withColumn("c", col("sx") / col("n").cast("double"))
    cent.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cv"))
      .select(col("label").as("clabel"), col("cv"))
  }

  /** Squared L2 over the COMMON PREFIX of x and c, dim-order fold.
    * Bare zip_with null-pads the shorter side and the fold then
    * null-poisons the whole distance (a ragged vector would win every
    * argmin via nulls-first ordering), while the DuckDB twins iterate
    * the vector's own length and list_sum skips the out-of-range
    * NULLs — i.e. compute the partial sum. Truncating to the common
    * prefix matches the twins AND the hardened VectorOps kernels; on
    * equal-length input the slices are identity, so results are
    * unchanged bit-for-bit.
    */
  private def sqDistPrefix(x: Column, c: Column): Column = {
    val n = least(size(x), size(c))
    aggregate(
      zip_with(slice(x, lit(1), n), slice(c, lit(1), n),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)
  }

  def nearestCentroidConfusion(emb: DataFrame, blockSize: Int = 1024): DataFrame = {
    val d2 = emb.crossJoin(broadcast(labelCentroids(emb, blockSize)))
      .withColumn("d2",
        sqDistPrefix(col("embedding").cast("array<double>"), col("cv")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("clabel"))
    d2.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("label").cast("bigint").as("label"),
        col("clabel").cast("bigint").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("predicted"))
  }

  /** q117: [[nearestCentroidConfusion]] over the embeddings table. The
    * twin re-fits centroids with the SAME two-level block fold (1024
    * vec_ids per block), the same per-dim means, the same dim-order
    * distance fold, and the same (d2, label) argmin tie-break, so
    * classification — and hence every confusion cell — is
    * bit-identical.
    */
  /** Simplified silhouette per label ([[q120]]): for each vector,
    * a = L2 distance to its OWN label centroid, b = distance to the
    * nearest OTHER centroid, s = (b-a)/max(a,b) in [-1,1]; emitted as
    * the per-label mean — the clustering-quality score that, next to
    * [[nearestCentroidConfusion]]'s diagonal, tells a pipeline whether
    * an embedding column separates its labels (Rocchio/"simplified
    * silhouette": centroid distances instead of the classic all-pairs
    * O(N^2) — the only formulation that survives 100 TB). Requires
    * >= 2 labels (b is undefined otherwise). Singleton labels score
    * s=1 by construction (a=0), the standard simplified-variant
    * behavior.
    *
    * Scale: centroids ([[labelCentroids]], two-level fold) collapse to
    * ONE broadcast row of K (label, vector) structs, so per-vector
    * a/b/s is a pure narrow map (array fold over K centroids — the
    * KMeansAssign shape); the per-label mean is the same two-level
    * ordered block fold as the centroid build, so the result is
    * bit-reproducible AND no reducer ever sees more than a block.
    */
  def silhouetteByLabel(emb: DataFrame, blockSize: Int = 1024): DataFrame = {
    val packed = labelCentroids(emb, blockSize)
      .agg(collect_list(struct(col("clabel"), col("cv"))).as("cents"))
    val xv = col("embedding").cast("array<double>")
    val scored = emb.crossJoin(broadcast(packed))
      .withColumn("dists", transform(col("cents"), c =>
        struct(c.getField("clabel").as("cl"),
          sqrt(sqDistPrefix(xv, c.getField("cv"))).as("d"))))
      .withColumn("a",
        element_at(filter(col("dists"),
          c => c.getField("cl") === col("label")), 1).getField("d"))
      .withColumn("b",
        array_min(transform(filter(col("dists"),
          c => c.getField("cl") =!= col("label")), c => c.getField("d"))))
      .withColumn("s",
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
    val blkAgg = scored.withColumn("blk", expr(s"vec_id div $blockSize"))
      .groupBy(col("label"), col("blk"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("s")))),
            t => t.getField("s")),
          lit(0.0), (a, v) => a + v).as("bs"),
        count(lit(1)).as("bn"))
    blkAgg.groupBy(col("label"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("blk"), col("bs")))),
            t => t.getField("bs")),
          lit(0.0), (a, v) => a + v).as("ss"),
        sum(col("bn")).as("n"))
      .select(col("label").cast("bigint").as("label"),
        col("n").cast("bigint").as("n"),
        (col("ss") / col("n").cast("double")).as("mean_silhouette"))
      .orderBy(col("label"))
  }

  /** q120: [[silhouetteByLabel]] over the embeddings table. The twin
    * re-derives centroids (same two-level fold), per-vector a/b from
    * the same distance values (min over an identical double set —
    * aggregate-min there, array-min here), the same guarded ratio, and
    * the same blocked mean, so every per-label mean is bit-identical.
    */
  val q120: QueryDef = QueryDef.sql(
    "q120_silhouette_by_label",
    """WITH d0 AS (
      |  SELECT vec_id, label, embedding,
      |    unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings),
      |dims AS (
      |  SELECT vec_id, vec_id // 1024 AS blk, label, i - 1 AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM d0),
      |ba AS (
      |  SELECT label, dim, blk,
      |    list_sum(list(x ORDER BY vec_id)) AS bs,
      |    CAST(count(*) AS BIGINT) AS bn
      |  FROM dims GROUP BY label, dim, blk),
      |cent AS (
      |  SELECT label, dim,
      |    list_sum(list(bs ORDER BY blk)) / CAST(sum(bn) AS DOUBLE) AS c
      |  FROM ba GROUP BY label, dim),
      |cv AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv
      |       FROM cent GROUP BY label),
      |d AS (
      |  SELECT e.vec_id, e.label, cv.clabel,
      |    sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i])
      |         * (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i])))) AS dist
      |  FROM embeddings e CROSS JOIN cv),
      |ab AS (
      |  SELECT vec_id, label,
      |    min(CASE WHEN clabel = label THEN dist END) AS a,
      |    min(CASE WHEN clabel <> label THEN dist END) AS b
      |  FROM d GROUP BY vec_id, label),
      |sv AS (
      |  SELECT vec_id, label, vec_id // 1024 AS blk,
      |    CASE WHEN greatest(a, b) > 0
      |      THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
      |  FROM ab),
      |bb AS (
      |  SELECT label, blk,
      |    list_sum(list(s ORDER BY vec_id)) AS bs,
      |    CAST(count(*) AS BIGINT) AS bn
      |  FROM sv GROUP BY label, blk)
      |SELECT CAST(label AS BIGINT) AS label,
      |  CAST(sum(bn) AS BIGINT) AS n,
      |  list_sum(list(bs ORDER BY blk)) / CAST(sum(bn) AS DOUBLE)
      |    AS mean_silhouette
      |FROM bb GROUP BY label
      |ORDER BY label""".stripMargin) { (s, dir) =>
    silhouetteByLabel(Tables.embeddings(s, dir))
  }

  val q117: QueryDef = QueryDef.sql(
    "q117_centroid_classifier",
    """WITH d0 AS (
      |  SELECT vec_id, label, embedding,
      |    unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings),
      |dims AS (
      |  SELECT vec_id, vec_id // 1024 AS blk, label, i - 1 AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM d0),
      |ba AS (
      |  SELECT label, dim, blk,
      |    list_sum(list(x ORDER BY vec_id)) AS bs,
      |    CAST(count(*) AS BIGINT) AS bn
      |  FROM dims GROUP BY label, dim, blk),
      |cent AS (
      |  SELECT label, dim,
      |    list_sum(list(bs ORDER BY blk)) / CAST(sum(bn) AS DOUBLE) AS c
      |  FROM ba GROUP BY label, dim),
      |cv AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv
      |       FROM cent GROUP BY label),
      |d2 AS (
      |  SELECT e.vec_id, e.label, cv.clabel,
      |    list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i])
      |         * (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i]))) AS d2
      |  FROM embeddings e CROSS JOIN cv),
      |pred AS (
      |  SELECT vec_id, label, clabel
      |  FROM (SELECT vec_id, label, clabel,
      |          row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      |        FROM d2)
      |  WHERE rn = 1)
      |SELECT CAST(label AS BIGINT) AS label,
      |  CAST(clabel AS BIGINT) AS predicted,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM pred GROUP BY label, clabel
      |ORDER BY label, predicted""".stripMargin) { (s, dir) =>
    nearestCentroidConfusion(Tables.embeddings(s, dir))
  }

  /** Scalar (int8-style) quantization of the embedding corpus (q149):
    * per-dimension [min,max] trained over the corpus, each component
    * encoded to an integer code in [0,254] with explicit half-up
    * rounding — `floor((x-mn)*254/(mx-mn) + 0.5)` — and per-vector
    * reconstruction error reported (Σ(x-decode)² in pinned dim order,
    * plus the max |error| component). SQ8 is the standard 4x
    * memory/bandwidth cut for ANN serving (what IVF_SQ8 pairs with
    * cell routing); unlike PQ (q102) it needs no codebook k-means and
    * decodes with two flops, trading recall for simplicity.
    *
    * Scale shape: training is ONE map-side-combined aggregate to
    * dim-count rows (64 here), collected like Lloyd centers; encoding
    * is a pure narrow map with the bounds riding in as literal arrays
    * — the corpus never shuffles. All arithmetic is IEEE add/mul/div/
    * floor with the same literal formula and fold order in the DuckDB
    * twin, so codes AND error doubles hash-match bit-exactly. The
    * explicit `+0.5, floor` avoids round(): Spark round() is HALF_UP,
    * DuckDB rounds half-to-even on doubles — the one-ulp trap this
    * formula sidesteps by construction.
    */
  val q149: QueryDef = QueryDef.sql(
    "q149_scalar_quantization",
    """WITH d0 AS (
      |  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings),
      |dims AS (
      |  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM d0),
      |mm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
      |enc AS (
      |  SELECT d.vec_id, d.dim, d.x, mm.mn, mm.mx,
      |    CASE WHEN mm.mx > mm.mn
      |      THEN CAST(least(254.0, greatest(0.0,
      |        floor((d.x - mm.mn) * 254.0 / (mm.mx - mm.mn) + 0.5))) AS BIGINT)
      |      ELSE 0 END AS q
      |  FROM dims d JOIN mm USING (dim)),
      |dec AS (
      |  SELECT vec_id, dim, q, x,
      |    CASE WHEN mx > mn THEN mn + CAST(q AS DOUBLE) * (mx - mn) / 254.0
      |         ELSE mn END AS xr
      |  FROM enc),
      |agg AS (
      |  SELECT vec_id,
      |    string_agg(CAST(q AS VARCHAR), ' ' ORDER BY dim) AS codes,
      |    list_sum(list((x - xr) * (x - xr) ORDER BY dim)) AS err2,
      |    max(abs(x - xr)) AS err_max
      |  FROM dec GROUP BY vec_id)
      |SELECT vec_id, codes, err2, err_max FROM agg
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      // the twin's unnest-based agg naturally drops zero-length
      // vectors; match it (an unguarded narrow map would emit a
      // codes="", err_max=NULL row for them)
      .filter(size(col("embedding")) > 0)
    // train: per-dim bounds, one aggregate to dim-count rows
    val (mnA, mxA) = sq8TrainBounds(emb)
    // encode + error: pure narrow map, bounds as literal arrays
    val v = col("embedding").cast("array<double>")
    val qArr = sq8Encode(v, mnA, mxA)
    val xrArr = sq8Decode(qArr, mnA, mxA)
    emb.select(col("vec_id"), v.as("xs"), qArr.as("qs"), xrArr.as("xrs"))
      .select(
        col("vec_id"),
        concat_ws(" ", transform(col("qs"), q => q.cast("string"))).as("codes"),
        aggregate(
          zip_with(col("xs"), col("xrs"), (x, xr) => (x - xr) * (x - xr)),
          lit(0.0), (a, e) => a + e).as("err2"),
        array_max(zip_with(col("xs"), col("xrs"),
          (x, xr) => abs(x - xr))).as("err_max"))
      .orderBy(col("vec_id"))
  }

  /** Per-dim [min,max] over an `embedding` frame, returned as literal
    * array columns ready to ride into a narrow encode map.
    */
  private def sq8TrainBounds(emb: DataFrame)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val mm = emb
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim"))
      .collect()
    (array(mm.map(r => lit(r.getDouble(1))).toIndexedSeq: _*),
      array(mm.map(r => lit(r.getDouble(2))).toIndexedSeq: _*))
  }

  /** SQ8 code array: explicit half-up floor((x-mn)·254/range + 0.5),
    * clamped to [0,254]; constant dims encode 0. ONE definition shared
    * by q149's codes and q150's candidate reconstruction — the
    * quantization formula must never fork between them.
    */
  private def sq8Encode(v: org.apache.spark.sql.Column,
                        mnA: org.apache.spark.sql.Column,
                        mxA: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(v, (x, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      when(mx > mn,
        least(lit(254.0), greatest(lit(0.0),
          floor((x - mn) * 254.0 / (mx - mn) + 0.5))).cast("bigint"))
        .otherwise(lit(0L))
    })

  /** SQ8 decode of a code array: mn + q·range/254 (constant dims decode
    * to mn).
    */
  private def sq8Decode(qArr: org.apache.spark.sql.Column,
                        mnA: org.apache.spark.sql.Column,
                        mxA: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(qArr, (q, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      when(mx > mn, mn + q.cast("double") * (mx - mn) / 254.0).otherwise(mn)
    })

  /** decode(encode(x)) over a double-array column — what an SQ8 cell
    * store serves at query time. Composes [[sq8Encode]]/[[sq8Decode]];
    * used by q150's candidate scoring.
    */
  private def sq8Reconstruct(v: org.apache.spark.sql.Column,
                             mnA: org.apache.spark.sql.Column,
                             mxA: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sq8Decode(sq8Encode(v, mnA, mxA), mnA, mxA)

  /** IVF-SQ8 ANN serving (q150): coarse cells route candidates, the
    * shortlist scores against SQ8-RECONSTRUCTED vectors (q149's
    * quantizer — at serving scale the cells store 1-byte codes, 8x
    * smaller than float32, and decode is two flops per dim), and the
    * top-`rerank` survivors re-rank exactly over raw vectors — the
    * same coarse/compressed/exact three-stage contract as IVF-PQ
    * (q102) with the simpler quantizer. Centers are fixture-pinned
    * (vec_id < 8, as q53) so the oracle replays the exact assignment.
    *
    * Scale shape: the corpus side is two NARROW codegen maps
    * (nearest_center assignment; SQ8 decode with literal-array
    * bounds) — it never shuffles except the candidate join on
    * center_id, which is the IVF contract (cells persisted
    * PARTITIONED BY center_id serve it storage-pruned, see
    * Pq.saveIndex). Probes explode a literal 8-center array per
    * query: no join, no exchange on the query side until the
    * candidate equi-join.
    *
    * Determinism: every score is the pinned q31 cosine fold (Spark
    * CosineSimilarityExpr == DuckDB cosSql, bit-identical); the SQ8
    * codes/decodes are q149's integer-exact formulas; all ranks
    * tie-break on id. The oracle re-derives the WHOLE path — bounds,
    * codes, decode, cell assignment, probes, both rankings — from the
    * raw parquet.
    */
  val q150: QueryDef = QueryDef.sql(
    "q150_knn_ivf_sq8",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |          WHERE len(embedding) > 0),
       |ctr AS (
       |  SELECT CAST(vec_id AS INT) AS center_id, embedding AS cv
       |  FROM e WHERE vec_id < 8),
       |ad AS (
       |  SELECT e.vec_id, ctr.center_id,
       |    ${TwinSql.distZ("e.embedding", "ctr.cv")} AS dist
       |  FROM e CROSS JOIN ctr),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT vec_id, center_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, center_id) AS rn
       |    FROM ad) WHERE rn = 1),
       |d0 AS (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM e),
       |dims AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x FROM d0),
       |mm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY dim),
       |dec AS (
       |  SELECT d.vec_id, d.dim,
       |    CASE WHEN mm.mx > mm.mn
       |      THEN mm.mn + CAST(
       |        CAST(least(254.0, greatest(0.0,
       |          floor((d.x - mm.mn) * 254.0 / (mm.mx - mm.mn) + 0.5))) AS BIGINT)
       |        AS DOUBLE) * (mm.mx - mm.mn) / 254.0
       |      ELSE mm.mn END AS xr
       |  FROM dims d JOIN mm USING (dim)),
       |xrv AS (SELECT vec_id, list(xr ORDER BY dim) AS xr FROM dec GROUP BY vec_id),
       |pq2 AS (
       |  SELECT q.vec_id AS qid, ctr.center_id,
       |    ${TwinSql.distZ("q.embedding", "ctr.cv")} AS dist
       |  FROM e q CROSS JOIN ctr WHERE q.vec_id < 10),
       |pr AS (
       |  SELECT qid, center_id FROM (
       |    SELECT qid, center_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY dist, center_id) AS rn
       |    FROM pq2) WHERE rn <= 3),
       |cand AS (
       |  SELECT pr.qid, asg.vec_id AS cid
       |  FROM pr JOIN asg USING (center_id) WHERE pr.qid <> asg.vec_id),
       |ap AS (
       |  SELECT cand.qid, cand.cid,
       |    ${TwinSql.cosZ("qe.embedding", "xrv.xr")} AS approx
       |  FROM cand JOIN e qe ON cand.qid = qe.vec_id
       |            JOIN xrv ON cand.cid = xrv.vec_id),
       |short AS (
       |  SELECT qid, cid, approx FROM (
       |    SELECT qid, cid, approx,
       |      row_number() OVER (PARTITION BY qid ORDER BY approx DESC, cid) AS arnk
       |    FROM ap) WHERE arnk <= 10),
       |s AS (
       |  SELECT short.qid, short.cid, short.approx,
       |    ${TwinSql.cosZ("qe.embedding", "ce.embedding")} AS score
       |  FROM short JOIN e qe ON short.qid = qe.vec_id
       |             JOIN e ce ON short.cid = ce.vec_id)
       |SELECT qid, cid, approx, score, rnk FROM (
       |  SELECT qid, cid, approx, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
       |  FROM s)
       |WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
    import graft.functions.functions.cosine_similarity
    val emb = Tables.embeddings(s, dir)
      // match the twin's len(embedding) > 0 guard: a zero-length
      // vector would score NULL there and 0.0 here
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val centers: Array[Array[Double]] = emb.filter(col("vec_id") < 8)
      .orderBy(col("vec_id"))
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val mm = emb.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim")).collect()
    val mnA = array(mm.map(r => lit(r.getDouble(1))).toIndexedSeq: _*)
    val mxA = array(mm.map(r => lit(r.getDouble(2))).toIndexedSeq: _*)
    // corpus side: narrow codegen argmin + narrow SQ8 reconstruct.
    // The candidate exchange carries ONLY the reconstructed vector —
    // raw vectors rejoin on the <=10-per-query survivors, so the one
    // corpus-sized exchange ships what an SQ8 cell store would
    // actually hold (at serving scale: 1-byte codes, not float32)
    val asg = graft.cluster.KMeansAssign.assignMap(emb, centers, "v")
      .select(col("vec_id").as("cid"),
        sq8Reconstruct(col("v"), mnA, mxA).as("xr"), col("center_id"))
    // query side: explode the literal center array, keep 3 probes
    val centArr = array(centers.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit): _*)): _*)
    val wp = Window.partitionBy(col("qid")).orderBy(col("dist"), col("center_id"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(centArr).as(Seq("center_id", "cv0")))
      .select(col("qid"), col("qv"), col("center_id"),
        (lit(1.0) - cosine_similarity(col("qv"), col("cv0"))).as("dist"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("qv"), col("center_id"))
    val wa = Window.partitionBy(col("qid")).orderBy(col("approx").desc, col("cid"))
    val shortlist = probes.join(asg, Seq("center_id"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("qv"), col("cid"),
        cosine_similarity(col("qv"), col("xr")).as("approx"))
      .withColumn("arnk", row_number().over(wa))
      .filter(col("arnk") <= 10)
    // exact re-rank: raw vectors fetched for the survivors only
    val wr = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    shortlist
      .join(emb.select(col("vec_id").as("cid"), col("v").as("cv")), Seq("cid"))
      .select(col("qid"), col("cid"), col("approx"),
        cosine_similarity(col("qv"), col("cv")).as("score"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 3)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Label-noise audit by kNN disagreement ([[q164]]): for each labeled
    * vector, its k nearest neighbors by cosine vote on the label; a
    * vector whose own label is a strict minority among its neighbors
    * (2*n_agree < k) is flagged as suspect. The instance-level
    * complement of q117's centroid confusion: the confusion matrix says
    * "labels 2 and 5 blur", this says "doc 1734 is probably mislabeled"
    * — the audit a pipeline runs before trusting a labeled set for
    * supervised quality-gate training (q109's features, q158's
    * discipline).
    *
    * Takes the scored-neighbor frame (qid, cid, score, rnk) from ANY
    * kNN provider so the aggregation is shared between the exact
    * verifier and the scale path: [[bruteForceKnn]] on a bounded slice
    * here (oracle-checkable, the q31/q50 precedent), [[lshKnn]] /
    * [[ivfKnn]] at corpus scale — the label joins broadcast (labels
    * ride with the k*|Q| neighbor rows, never a corpus shuffle).
    */
  def labelNoiseFromKnn(knn: DataFrame, labels: DataFrame, k: Int): DataFrame =
    knn
      .join(labels.toDF("qid", "qlabel"), "qid")
      .join(labels.toDF("cid", "clabel"), "cid")
      .groupBy(col("qid").as("vec_id"), col("qlabel"))
      .agg(sum(when(col("clabel") === col("qlabel"), 1L).otherwise(0L))
        .cast("bigint").as("n_agree"))
      .select(col("vec_id"), col("qlabel").cast("bigint").as("label"),
        col("n_agree"),
        (col("n_agree").cast("double") / lit(k.toDouble)).as("agree_frac"),
        (col("n_agree") * 2 < k).as("is_suspect"))

  /** q164: [[labelNoiseFromKnn]] over the exact top-5 neighbors of the
    * vec_id < 200 slice (bounded so the twin's all-pairs re-derivation
    * stays quadratic-in-a-constant; at corpus scale the same
    * aggregation runs on lshKnn/ivfKnn output).
    */
  val q164: QueryDef = QueryDef.sql(
    "q164_label_noise",
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200),
       |s AS (
       |  SELECT a.vec_id AS qid, a.label AS qlabel, b.vec_id AS cid, b.label AS clabel,
       |    ${TwinSql.cosZ("a.embedding", "b.embedding")} AS score
       |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |nn AS (
       |  SELECT qid, qlabel, clabel FROM (
       |    SELECT qid, qlabel, clabel,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
       |    FROM s) WHERE rnk <= 5)
       |SELECT qid AS vec_id, CAST(qlabel AS BIGINT) AS label,
       |  CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE) / 5.0
       |    AS agree_frac,
       |  (CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) * 2 < 5)
       |    AS is_suspect
       |FROM nn GROUP BY qid, qlabel
       |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val knn = bruteForceKnn(
      e.select(col("vec_id").as("qid"), col("v").as("qv")),
      e.select(col("vec_id"), col("v")), k = 5)
    labelNoiseFromKnn(knn, e.select(col("vec_id"), col("label")), k = 5)
      .orderBy(col("vec_id"))
  }

  /** Embedding outlier audit ([[q165]]): per-vector L2 distance to the
    * OWN-label centroid, compared against the label's mean distance —
    * ratio >= 2 flags the vector as an outlier (mis-embedded, corrupt,
    * or out-of-distribution for its label). The drop-list complement of
    * q120: silhouette scores the LABELS, this scores the VECTORS.
    *
    * Scale shape: centroids are [[labelCentroids]] (two-level ordered
    * block fold, broadcast as K rows); the per-vector distance is a
    * pure narrow map; the per-label mean distance reuses the SAME
    * blocked fold (so it is bit-reproducible and no reducer sees more
    * than a block), returns K rows, and broadcasts back onto the
    * narrow scored stream. Two metadata-sized exchanges total; the
    * corpus never shuffles.
    */
  def embeddingOutliers(emb: DataFrame, blockSize: Int = 1024,
                        ratioThreshold: Double = 2.0): DataFrame = {
    val cents = labelCentroids(emb, blockSize)
    val xv = col("embedding").cast("array<double>")
    val scored = emb.join(broadcast(cents), col("label") === col("clabel"))
      .select(col("vec_id"), col("label"),
        sqrt(sqDistPrefix(xv, col("cv"))).as("dist"))
    val blk = scored.withColumn("blk", expr(s"vec_id div $blockSize"))
      .groupBy(col("label"), col("blk"))
      .agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("dist")))),
            t => t.getField("dist")),
          lit(0.0), (a, v) => a + v).as("bs"),
        count(lit(1)).as("bn"))
    val means = blk.groupBy(col("label"))
      .agg((aggregate(
        transform(array_sort(collect_list(struct(col("blk"), col("bs")))),
          t => t.getField("bs")),
        lit(0.0), (a, v) => a + v) / sum(col("bn")).cast("double"))
        .as("mean_dist"))
    scored.join(broadcast(means), Seq("label"))
      .select(col("vec_id"), col("label").cast("bigint").as("label"),
        col("dist"), col("mean_dist"),
        (col("dist") / col("mean_dist")).as("ratio"),
        (col("dist") / col("mean_dist") >= ratioThreshold).as("is_outlier"))
  }

  /** q165: [[embeddingOutliers]] over the embeddings table. The twin
    * re-derives centroids with the same two-level block fold (the
    * q117/q120 CTEs), the same dim-order distance, the same blocked
    * per-label mean, and the same literal ratio, so every double —
    * and hence every flag — is bit-identical.
    */
  val q165: QueryDef = QueryDef.sql(
    "q165_embedding_outliers",
    """WITH d0 AS (
      |  SELECT vec_id, label, embedding,
      |    unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings),
      |dims AS (
      |  SELECT vec_id, vec_id // 1024 AS blk, label, i - 1 AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS x
      |  FROM d0),
      |ba AS (
      |  SELECT label, dim, blk,
      |    list_sum(list(x ORDER BY vec_id)) AS bs,
      |    CAST(count(*) AS BIGINT) AS bn
      |  FROM dims GROUP BY label, dim, blk),
      |cent AS (
      |  SELECT label, dim,
      |    list_sum(list(bs ORDER BY blk)) / CAST(sum(bn) AS DOUBLE) AS c
      |  FROM ba GROUP BY label, dim),
      |cv AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv
      |       FROM cent GROUP BY label),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |    sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i])
      |         * (CAST(e.embedding[i] AS DOUBLE) - cv.cv[i])))) AS dist
      |  FROM embeddings e JOIN cv ON e.label = cv.clabel),
      |bb AS (
      |  SELECT label, vec_id // 1024 AS blk,
      |    list_sum(list(dist ORDER BY vec_id)) AS bs,
      |    CAST(count(*) AS BIGINT) AS bn
      |  FROM d GROUP BY label, blk),
      |m AS (
      |  SELECT label,
      |    list_sum(list(bs ORDER BY blk)) / CAST(sum(bn) AS DOUBLE) AS mean_dist
      |  FROM bb GROUP BY label)
      |SELECT d.vec_id, CAST(d.label AS BIGINT) AS label, d.dist, m.mean_dist,
      |  d.dist / m.mean_dist AS ratio,
      |  (d.dist / m.mean_dist >= 2.0) AS is_outlier
      |FROM d JOIN m USING (label)
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    embeddingOutliers(Tables.embeddings(s, dir)).orderBy(col("vec_id"))
  }

  /** IVF cell-balance audit (q171): the index-maintenance readout for
    * the q53/q150 serving path — per coarse cell, its posting-list
    * size, relative load factor (n_vecs · K / total: 1.0 = perfectly
    * balanced), the cumulative vector share of the cells ranked
    * largest-first, and a `hot` flag at load ≥ 2. IVF serving latency
    * is governed by the LARGEST probed cells, not the mean — a skewed
    * quantizer (one hot cell holding half the corpus) silently turns
    * "probe 3 of 8 cells" into "rescan half the index", and nothing in
    * the recall gate surfaces it. The audit a pipeline runs after
    * every index build/merge, before trusting its latency envelope.
    *
    * Scale: assignment is the same zero-shuffle broadcast map the
    * serving path uses (centers are K driver rows; the corpus never
    * shuffles); the groupBy partial-aggregates to ≤K rows map-side, so
    * the ONE exchange ships K counts. Everything after — the scalar
    * total broadcast, the K-row ranking window — is metadata-sized.
    * Oracle: centers are fixture-pinned (vec_id < 8, the q53
    * contract), so DuckDB re-derives the full assignment from raw
    * parquet via the shared distance argmin; counts are integers,
    * ratios literal divisions.
    */
  def ivfCellBalance(corpus: DataFrame, nCells: Int = 8): DataFrame = {
    import graft.cluster.KMeansAssign
    // junk rows (NULL vectors, the loader convention) are not index
    // members: unguarded, Spark's null-safe argmin would emit a NULL-
    // center row while the twin's distance CASE ties them into cell 0
    // — diverging engines AND corrupting the hot-cell report
    val c = corpus.toDF("cid", "cv").filter(col("cv").isNotNull)
    val centers = KMeansAssign.lloydCenters(c, nCells, iters = 1, "cid", "cv")
    val g = KMeansAssign.assignMap(c, centers, "cv")
      .groupBy(col("center_id"))
      .agg(count(lit(1)).cast("bigint").as("n_vecs"))
    val tot = g.agg(sum(col("n_vecs")).cast("bigint").as("n"))
    val w = Window.orderBy(col("n_vecs").desc, col("center_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(tot))
      .withColumn("load_factor",
        col("n_vecs").cast("double") * nCells.toDouble / col("n").cast("double"))
      .withColumn("cum_share",
        sum(col("n_vecs")).over(w).cast("double") / col("n").cast("double"))
      .withColumn("hot", when(col("load_factor") >= 2.0, 1L).otherwise(0L))
      .select(col("center_id").cast("bigint").as("center_id"), col("n_vecs"),
        col("load_factor"), col("cum_share"), col("hot"))
  }

  /** Incremental IVF cell maintenance (q174): merge a delta of vectors
    * into an existing (vec_id, v, center_id) cell assignment WITHOUT
    * rescanning history — the IVF lifecycle twin of
    * [[Dedup.upsertBandIndex]] (LSH) and the novelty index's
    * upsertFirstSeen. The coarse quantizer is FROZEN (the realistic
    * serving contract: re-quantizing on every ingest would invalidate
    * every persisted cell), so assignment is a deterministic pure
    * function of (vector, centers) and merge == full rebuild — the
    * spec proves it. Re-ingested vec_ids are REPLACED (delta wins,
    * MERGE semantics); an at-least-once batch delivering one id twice
    * resolves to the deterministic row-min vector (the upsertBandIndex
    * winner rule); null-vector junk rows are not index members.
    *
    * Scale: the delta alone pays the narrow broadcast assignment map;
    * stale rows are struck by ONE anti equi-join on vec_id (AQE
    * broadcasts the delta's key set in the common small-delta case);
    * history is never re-read for content, never reshuffled.
    */
  def upsertIvfCells(index: DataFrame, delta: DataFrame,
                     centers: Array[Array[Double]]): DataFrame = {
    import graft.cluster.KMeansAssign
    val winner = delta.toDF("vec_id", "v")
      .filter(col("v").isNotNull)
      .groupBy(col("vec_id")).agg(min(col("v")).as("v"))
    val assigned = KMeansAssign.assignMap(winner, centers, "v").drop("dist")
    index.join(assigned.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(assigned)
  }

  val q174: QueryDef = QueryDef.sql(
    "q174_ivf_upsert",
    s"""WITH ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |delta AS (
       |  SELECT vec_id,
       |    list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.5
       |                                     ELSE x END) AS v
       |  FROM base WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, v
       |  FROM base WHERE vec_id < 5),
       |merged AS (
       |  SELECT vec_id, v FROM base
       |  WHERE vec_id NOT IN (SELECT vec_id FROM delta)
       |  UNION ALL
       |  SELECT vec_id, v FROM delta),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT m.vec_id, ctr.center_id,
       |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
       |        ${TwinSql.distZ("m.v", "ctr.cv")}, ctr.center_id) AS rn
       |    FROM merged m CROSS JOIN ctr) WHERE rn = 1)
       |SELECT vec_id, CAST(center_id AS BIGINT) AS center_id
       |FROM asg ORDER BY vec_id""".stripMargin) { (s, dir) =>
    import graft.cluster.KMeansAssign
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val centers = KMeansAssign.lloydCenters(emb, 8, iters = 1, "vec_id", "v")
    val base = KMeansAssign.assignMap(emb, centers, "v").drop("dist")
    // the delta: ids < 10 re-ingested with dim 0 nudged (the oracle
    // replays the same literal), plus 5 brand-new ids
    val delta = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.5).otherwise(x))
          .as("v"))
      .unionByName(emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000L).as("vec_id"), col("v")))
    upsertIvfCells(base, delta, centers)
      .select(col("vec_id"), col("center_id").cast("bigint").as("center_id"))
      .orderBy(col("vec_id"))
  }

  /** IVF delete maintenance (q181): serve a query batch from the
    * plain-IVF index AFTER a takedown batch — the lifecycle complement
    * of q174's upsert, and the q174-style registered face of the
    * [[deleteFromIvfIndex]]/tombstone machinery (persisted-tombstone
    * == live-delete == rebuild-without-deleted is spec-proven; this
    * query oracle-checks the delete+serve MATH end to end). Every
    * deleted vector must vanish from every result list and the
    * remaining ranking must close up exactly as a fresh index over the
    * surviving corpus would — a tombstone leak at serve time is a
    * compliance bug, not a recall bug.
    *
    * FULLY RAW-DERIVABLE ORACLE (no aux): at lloydIters=1 the
    * quantizer is embeddings vec_id < 8, and [[searchIvfIndex]] probes
    * that quantizer directly (the persisted-index convention), so
    * DuckDB re-derives assignment, the strike, probing, in-cell
    * rescoring, and the top-k ranking all from raw parquet.
    *
    * Scale: delete is one anti equi-join (AQE broadcasts the takedown
    * set); serving is the shared [[probeSearch]] broadcast join.
    */
  val q181: QueryDef = QueryDef.sql(
    "q181_ivf_delete_serve",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |ad AS (
       |  SELECT e.vec_id, ctr.center_id,
       |    ${TwinSql.distZ("e.embedding", "ctr.cv")} AS cdist
       |  FROM e CROSS JOIN ctr),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT vec_id, center_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cdist, center_id) AS rn
       |    FROM ad) WHERE rn = 1),
       |surv AS (SELECT * FROM asg WHERE vec_id % 7 <> 0),
       |pq AS (
       |  SELECT q.vec_id AS qid, ctr.center_id,
       |    ${TwinSql.distZ("q.embedding", "ctr.cv")} AS cdist
       |  FROM e q CROSS JOIN ctr WHERE q.vec_id < 10),
       |pr AS (
       |  SELECT qid, center_id FROM (
       |    SELECT qid, center_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cdist, center_id) AS rn
       |    FROM pq) WHERE rn <= 3),
       |cand AS (
       |  SELECT pr.qid, surv.vec_id AS cid
       |  FROM pr JOIN surv USING (center_id) WHERE pr.qid <> surv.vec_id),
       |sc AS (
       |  SELECT cand.qid, cand.cid,
       |    ${TwinSql.cosZ("qe.embedding", "ce.embedding")} AS score
       |  FROM cand JOIN e qe ON cand.qid = qe.vec_id
       |            JOIN e ce ON cand.cid = ce.vec_id)
       |${TwinSql.topKSql("sc", 5)}""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val idx = buildIvfIndex(s, emb, nCells = 8, lloydIters = 1)
    val struck = deleteFromIvfIndex(idx,
      emb.filter(pmod(col("vec_id"), lit(7)) === 0).select(col("vec_id")))
    searchIvfIndex(s, struck, emb.filter(col("vec_id") < 10), k = 5, nProbe = 3)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Empirical recall-vs-nprobe curve (q180): recall@k of [[ivfKnn]]
    * against [[bruteForceKnn]] at EVERY probe depth 1..nCells — the
    * measured counterpart of q172's analytic LSH S-curve (q172 says
    * what the banding math promises; this says what the shipped IVF
    * index actually delivers on this corpus, which is what you tune
    * nProbe with: "nprobe=3 buys 0.9 recall at 3/8 of the scan" is a
    * statement about THIS quantizer on THIS data, not about formulas).
    * The assignment, probe ranking, and candidate scoring are computed
    * ONCE with the probe rank kept as a column; each curve point is a
    * rank-window over the `prnk <= nprobe` slice — not nCells separate
    * index builds (nProbe only gates which cells a query reads, so the
    * candidate frame is shared and monotone in nprobe, and so is the
    * curve: recall at nprobe = nCells is exact 1.0 by construction).
    *
    * TWO-STAGE ORACLE: the q53 shape — at lloydIters=1 the coarse
    * centers are the first 8 NON-null embeddings in vec_id order (the
    * q181 twin's seed derivation: junk null vectors are not index
    * members, not queries, and not seeds), so DuckDB re-derives the
    * cell assignment from raw parquet; only the probe targets (Spark's
    * float centroid means, aux_ivf_centroids) are consumed; probing at
    * every depth, the per-(query, nprobe) top-k, the brute-force
    * reference top-k, and the hit counts are all re-derived. Counts
    * are integers; recall is one literal division.
    *
    * Scale: bounded audit batch (vec_id < 10, the q53/q164 exclusion
    * reasoning) — the corpus side streams through the broadcast probe
    * join exactly as serving does; the nprobe spine multiplies only
    * the bounded candidate frame.
    */
  def ivfRecallCurve(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                     k: Int, nCells: Int = 8,
                     lloydIters: Int = 1): DataFrame = {
    import graft.cluster.KMeansAssign
    import graft.functions.functions.{cosine_distance, cosine_similarity}
    // junk null vectors are not index members and not queries (the
    // buildIvfIndex/q171 convention — lloydCenters seeds from the
    // first NON-null vectors, so the twin's raw seed derivation must
    // see the same filtered stream)
    val c = corpus.toDF("cid", "cv").filter(col("cv").isNotNull)
    val centers = KMeansAssign.lloydCenters(c, nCells, lloydIters, "cid", "cv")
    val cells = KMeansAssign.assignMap(c, centers, "cv").drop("dist")
    val centroids = KMeansAssign.centroidMeans(cells, "cv")
      .withColumnRenamed("cvec", "repr")
    val q = queries.toDF("qid", "qv").filter(col("qv").isNotNull)
    val wp = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("center_id"))
    val probes = q
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("qv"), col("center_id"),
        cosine_distance(col("qv"), col("repr")).as("cdist"))
      .withColumn("prnk", row_number().over(wp))
      .select(col("qid"), col("qv"), col("center_id"), col("prnk"))
    val cand = cells.join(broadcast(probes), "center_id")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("prnk"),
        cosine_similarity(col("qv"), col("cv")).as("score"))
    val spine = spark.range(1, nCells + 1).toDF("nprobe")
    val wr = Window.partitionBy(col("qid"), col("nprobe"))
      .orderBy(col("score").desc, col("cid"))
    val ivfTop = cand.crossJoin(broadcast(spine))
      .filter(col("prnk") <= col("nprobe"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("nprobe"), col("qid"), col("cid"))
    val brute = bruteForceKnn(q, c, k)
      .select(col("qid"), col("cid"))
    val tot = brute.agg(count(lit(1)).cast("bigint").as("n_brute"),
      countDistinct(col("qid")).cast("bigint").as("n_queries"))
    val hits = ivfTop.join(brute, Seq("qid", "cid"))
      .groupBy(col("nprobe")).agg(count(lit(1)).cast("bigint").as("n_hits"))
    spine.join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(tot))
      .select(col("nprobe").cast("bigint").as("nprobe"),
        lit(k.toLong).as("k"),
        col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).cast("bigint").as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_brute").cast("double")).as("recall"))
  }

  val q180: QueryDef = QueryDef.sql(
    "q180_ivf_recall_curve",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |ad AS (
       |  SELECT e.vec_id, ctr.center_id,
       |    ${TwinSql.distZ("e.embedding", "ctr.cv")} AS cdist
       |  FROM e CROSS JOIN ctr),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT vec_id, center_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY cdist, center_id) AS rn
       |    FROM ad) WHERE rn = 1),
       |cen AS (
       |  SELECT center_id, list(x ORDER BY pos) AS cvec
       |  FROM read_parquet('__GRAFT_OUT__/aux_ivf_centroids/*.parquet')
       |  GROUP BY center_id),
       |pq AS (
       |  SELECT q.vec_id AS qid, cen.center_id,
       |    ${TwinSql.distZ("q.embedding", "cen.cvec")} AS cdist
       |  FROM e q CROSS JOIN cen WHERE q.vec_id < 10),
       |pr AS (
       |  SELECT qid, center_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cdist, center_id) AS prnk
       |  FROM pq),
       |cand AS (
       |  SELECT pr.qid, asg.vec_id AS cid, pr.prnk
       |  FROM pr JOIN asg USING (center_id) WHERE pr.qid <> asg.vec_id),
       |sc AS (
       |  SELECT cand.qid, cand.cid, cand.prnk,
       |    ${TwinSql.cosZ("qe.embedding", "ce.embedding")} AS score
       |  FROM cand JOIN e qe ON cand.qid = qe.vec_id
       |            JOIN e ce ON cand.cid = ce.vec_id),
       |np AS (SELECT unnest(range(1, 9)) AS nprobe),
       |ivf AS (
       |  SELECT nprobe, qid, cid FROM (
       |    SELECT np.nprobe, sc.qid, sc.cid,
       |      row_number() OVER (PARTITION BY sc.qid, np.nprobe
       |        ORDER BY sc.score DESC, sc.cid) AS rnk
       |    FROM sc JOIN np ON sc.prnk <= np.nprobe)
       |  WHERE rnk <= 10),
       |bsc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    ${TwinSql.cosZ("q.embedding", "c.embedding")} AS score
       |  FROM e q CROSS JOIN e c
       |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |bs AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
       |    FROM bsc) WHERE rnk <= 10),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_brute,
       |    CAST(count(DISTINCT qid) AS BIGINT) AS n_queries FROM bs),
       |h AS (
       |  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM ivf JOIN bs USING (qid, cid) GROUP BY nprobe)
       |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
       |  CAST(10 AS BIGINT) AS k,
       |  tot.n_queries,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(tot.n_brute AS DOUBLE)
       |    AS recall
       |FROM np LEFT JOIN h ON h.nprobe = np.nprobe, tot
       |ORDER BY nprobe""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    ivfRecallCurve(s, emb, emb.filter(col("vec_id") < 10), k = 10,
      nCells = 8, lloydIters = 1)
      .orderBy(col("nprobe"))
  }

  /** Graph-based ANN (q208): greedy beam search over a navigable
    * k-NN graph — the HNSW/NSW serving shape, re-expressed as bounded
    * relational passes so it runs AS a Spark plan instead of a
    * pointer-chasing in-memory structure.
    *
    * GRAPH BUILD (deterministic, index-time): every node links to its
    * `m` nearest neighbors among the nodes whose PRIMARY IVF cell is
    * one of the node's own TWO nearest cells — same-cell edges give
    * local navigability, the second-cell edges give the cross-cell
    * long-range links a pure cell-local graph lacks (the small-world
    * ingredient; without them a beam entering the wrong cell could
    * never leave it). One exchange on cell id; candidate work per
    * node is bounded by ~2 cell sizes, and nCells grows with the
    * corpus so cells stay bounded — the standard kNN-graph build
    * cost, NOT an all-pairs join. Edge table: N x m rows.
    *
    * SEARCH (serve-time): enter at the HUB (centroid-nearest member,
    * ties to min id) of the query's nearest cell, then `hops` rounds
    * of expand-frontier-by-edges → score → keep the best `beam`
    * VISITED nodes (the frontier always re-includes itself, so the
    * best-so-far set is monotone and the walk can never lose a hit it
    * already found). Per query per hop the work is <= beam x m edge
    * lookups + scoring — independent of corpus size given the graph,
    * which is the property that makes graph ANN the latency winner
    * over IVF probing when cells are large. All ties pinned
    * (score desc, id asc), so both engines walk the identical path.
    *
    * Output: per query, recall@k of the walk against the exact
    * brute-force top-k — the q180 discipline, so the serving families
    * (IVF probe depths vs graph walk) are graded against the same
    * reference on the same corpus and the "which index shape" call is
    * a measured one.
    *
    * TWO-STAGE ORACLE (the q180 shape): seeds re-derived from raw
    * parquet (first-`nCells` non-null embeddings in vec_id order),
    * only the float centroid means are consumed (aux_ivf_centroids);
    * DuckDB re-derives the 2-cell assignment, the full edge table,
    * hubs, every beam hop (unrolled CTEs, shared-prefix scores), the
    * final top-k, and the brute reference. Multiply-referenced CTEs
    * are MATERIALIZED (the q199 lesson — DuckDB inlines per
    * reference, and each hop references the edge table and scores).
    */
  /** The q208/q209 operating point the REGISTERED oracle is instantiated
    * at (out-degree / beam width / hop count); the SQL interpolates
    * these and the build call passes the same values, so they cannot
    * silently diverge (the q206 lesson).
    */
  private val GraphM = 8
  private val GraphBeam = 32
  private val GraphHops = 4

  /** Two nearest SEED cells per node (the q180 assignment rule with
    * the window kept to depth 2 instead of argmin-only) — the q208
    * graph's node state, shared by the from-scratch build and the
    * incremental [[upsertGraphEdges]] so merge == rebuild is a
    * theorem about ONE assignment rule, not two. Input (id, vec)
    * under any column names; null vectors are not graph members.
    */
  private[graft] def twoCellAssign(spark: SparkSession, vecs: DataFrame,
                                 centers: Array[Array[Double]]): DataFrame = {
    import graft.functions.functions.cosine_distance
    import spark.implicits._
    val seeds = centers.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("center_id", "sv")
    val wA = Window.partitionBy(col("vid"))
      .orderBy(col("sdist"), col("center_id"))
    vecs.toDF("vid", "vv").filter(col("vv").isNotNull)
      .crossJoin(broadcast(seeds))
      .select(col("vid"), col("vv"), col("center_id"),
        cosine_distance(col("vv"), col("sv")).as("sdist"))
      .withColumn("arn", row_number().over(wA)).filter(col("arn") <= 2)
      .select(col("vid"), col("vv"), col("center_id"), col("arn"))
  }

  /** The q208 edge rule: every u-side node links to its `m` nearest
    * (cosine desc, id asc) among the PRIMARY members of u's two cells.
    * `uAsg` is the (possibly scoped) asg2 frame of the nodes whose
    * edges are being (re)computed; `prim` is the FULL primary-member
    * frame candidates come from — the incremental path scopes the
    * former to touched consumers and never the latter. Emits
    * (src, dst, ern).
    */
  private[graft] def graphEdges(uAsg: DataFrame, prim: DataFrame,
                              m: Int): DataFrame = {
    import graft.functions.functions.cosine_similarity
    val wE = Window.partitionBy(col("uid")).orderBy(col("esim").desc, col("vid"))
    uAsg.select(col("vid").as("uid"), col("vv").as("uv"), col("center_id"))
      .join(prim, Seq("center_id"))
      .filter(col("uid") =!= col("vid"))
      .select(col("uid"), col("vid"),
        cosine_similarity(col("uv"), col("vv")).as("esim"))
      .withColumn("ern", row_number().over(wE)).filter(col("ern") <= m)
      .select(col("uid").as("src"), col("vid").as("dst"),
        col("ern").cast("bigint").as("ern"))
  }

  /** Incremental kNN-graph maintenance (the q209 kernel): merge a
    * delta of vectors into an existing graph — nodes (the asg2 state)
    * and edges — WITHOUT rebuilding untouched regions; the graph-ANN
    * lifecycle twin of [[upsertIvfCells]] (IVF) and
    * [[Dedup.upsertComponents]] (clusters). The quantizer is FROZEN
    * (the q174 serving contract), so a node's two cells are a pure
    * function of (vector, seeds) and locality is provable: an edge of
    * node u depends only on u's own row and the PRIMARY membership of
    * u's two cells, so the only edges that can change are those of
    * CONSUMERS of a touched cell — a cell that gained a delta node,
    * or held (as primary) a replaced id's old version. Everyone
    * else's edge rows carry over byte-identical; merge == rebuild is
    * fuzz-proven (GraphUpsertSpec) and cross-engine-checked (q209's
    * oracle IS the from-scratch rebuild).
    *
    * Re-ingested ids are REPLACED (delta wins; an at-least-once batch
    * delivering one id twice resolves to the row-min vector — the
    * upsertBandIndex winner rule); null-vector junk rows are not
    * graph members.
    *
    * Scale: the delta pays the narrow broadcast assignment; touched
    * consumers are found by ONE semi-join on cell id; the edge
    * recompute joins only the consumers' asg2 rows against the
    * touched region's candidate cells (bounded by consumer count x
    * cell size, never corpus x cell); carried-over nodes and edges
    * move through anti-joins on id — history is never rescored.
    */
  def upsertGraphEdges(spark: SparkSession, nodes: DataFrame,
                       edges: DataFrame, delta: DataFrame,
                       centers: Array[Array[Double]],
                       m: Int = GraphM): (DataFrame, DataFrame) = {
    val winner = delta.toDF("vec_id", "v")
      .filter(col("v").isNotNull)
      .groupBy(col("vec_id")).agg(min(col("v")).as("v"))
    val deltaAsg = twoCellAssign(spark, winner, centers)
      .localCheckpoint(false) // read for nodes2, touched, and ids
    val deltaIds = deltaAsg.select(col("vid")).distinct()
    val nodes2 = nodes.join(deltaIds, Seq("vid"), "left_anti")
      .unionByName(deltaAsg)
      .localCheckpoint(false) // consumers + prim + carried all read it
    // touched PRIMARY cells: gained a delta node, or held a replaced
    // id's old version (candidates come from primary membership only)
    val touched = deltaAsg.filter(col("arn") === 1).select(col("center_id"))
      .unionByName(nodes.join(deltaIds, Seq("vid"), "left_semi")
        .filter(col("arn") === 1).select(col("center_id")))
      .distinct()
    // consumers: any node one of whose two cells is touched (their
    // candidate sets changed); delta nodes are consumers by
    // construction (their primary cell is touched)
    val consumers = nodes2.join(touched, Seq("center_id"), "left_semi")
      .select(col("vid")).distinct()
    val prim2 = nodes2.filter(col("arn") === 1)
      .select(col("vid"), col("vv"), col("center_id"))
    val rebuilt = graphEdges(
      nodes2.join(consumers, Seq("vid"), "left_semi"), prim2, m)
    val carried = edges.join(consumers.toDF("src"), Seq("src"), "left_anti")
    (nodes2, carried.unionByName(rebuilt))
  }

  /** q209: [[upsertGraphEdges]] over the q174 delta (ids < 10
    * re-ingested with dim 0 nudged + 5 brand-new ids) against the
    * graph built from the raw embeddings — output is the merged EDGE
    * table. FROM-SCRATCH ORACLE (the q198 discipline): DuckDB knows
    * nothing of the incremental path — it rebuilds the merged corpus
    * and derives the whole edge table from it (the q208 chain over
    * the q174 merged CTE), so the hash-match IS a cross-engine
    * merge == rebuild proof.
    */
  val q209: QueryDef = QueryDef.sql(
    "q209_graph_upsert",
    s"""WITH ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |delta AS (
       |  SELECT vec_id,
       |    list_transform(v, (x, i) -> CASE WHEN i = 1 THEN x + 0.5
       |                                     ELSE x END) AS v
       |  FROM base WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id, v
       |  FROM base WHERE vec_id < 5),
       |merged AS MATERIALIZED (
       |  SELECT vec_id, v FROM base
       |  WHERE vec_id NOT IN (SELECT vec_id FROM delta)
       |  UNION ALL
       |  SELECT vec_id, v FROM delta),
       |ad AS (
       |  SELECT m.vec_id, ctr.center_id,
       |    ${TwinSql.distZ("m.v", "ctr.cv")} AS sdist
       |  FROM merged m CROSS JOIN ctr),
       |asg2 AS MATERIALIZED (
       |  SELECT vec_id, center_id, arn FROM (
       |    SELECT vec_id, center_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sdist, center_id) AS arn
       |    FROM ad) WHERE arn <= 2),
       |prim AS MATERIALIZED (
       |  SELECT vec_id, center_id FROM asg2 WHERE arn = 1)
       |SELECT src, dst, ern FROM (
       |  SELECT u.vec_id AS src, v.vec_id AS dst,
       |    row_number() OVER (PARTITION BY u.vec_id
       |      ORDER BY ${TwinSql.cosZ("ue.v", "ve.v")} DESC,
       |        v.vec_id) AS ern
       |  FROM asg2 u
       |  JOIN prim v ON v.center_id = u.center_id
       |    AND v.vec_id <> u.vec_id
       |  JOIN merged ue ON ue.vec_id = u.vec_id
       |  JOIN merged ve ON ve.vec_id = v.vec_id)
       |WHERE ern <= $GraphM
       |ORDER BY src, ern""".stripMargin) { (s, dir) =>
    import graft.cluster.KMeansAssign
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val centers = KMeansAssign.lloydCenters(emb, 8, iters = 1, "vec_id", "v")
    val nodes = twoCellAssign(s, emb, centers).localCheckpoint(false)
    val edges = graphEdges(nodes,
      nodes.filter(col("arn") === 1).select(col("vid"), col("vv"), col("center_id")),
      GraphM).localCheckpoint(false)
    // the q174 delta, replayed by the oracle literal-for-literal
    val delta = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, x + 0.5).otherwise(x))
          .as("v"))
      .unionByName(emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000L).as("vec_id"), col("v")))
    val (_, merged) = upsertGraphEdges(s, nodes, edges, delta, centers, GraphM)
    merged.orderBy(col("src"), col("ern"))
  }

  /** Takedown maintenance for the q208 graph (the q209 kernel's
    * delete half, the deleteFromIvfIndex analog): strike a set of ids
    * from the (nodes, edges) state without rebuilding untouched
    * regions. Locality is q209's argument run in reverse: a deleted
    * node's PRIMARY cell loses a candidate, so exactly the CONSUMERS
    * of those cells recompute (one semi-join on cell id); every other
    * node's edge rows carry over byte-identical; the struck ids' own
    * edge rows are dropped outright. A takedown must vanish from
    * every neighbor list — an edge leak here is a compliance bug (the
    * q181/ClusterStream contract), which is why q210 oracle-checks
    * the post-delete SERVE, not just the edge table.
    */
  def deleteFromGraphEdges(nodes: DataFrame, edges: DataFrame,
                           ids: DataFrame, m: Int = GraphM)
      : (DataFrame, DataFrame) = {
    val struck = ids.toDF("vid").distinct()
    val touched = nodes.join(struck, Seq("vid"), "left_semi")
      .filter(col("arn") === 1).select(col("center_id")).distinct()
    val nodes2 = nodes.join(struck, Seq("vid"), "left_anti")
      .localCheckpoint(false) // consumers + prim + carried all read it
    val consumers = nodes2.join(touched, Seq("center_id"), "left_semi")
      .select(col("vid")).distinct()
    val prim2 = nodes2.filter(col("arn") === 1)
      .select(col("vid"), col("vv"), col("center_id"))
    val rebuilt = graphEdges(
      nodes2.join(consumers, Seq("vid"), "left_semi"), prim2, m)
    val carried = edges
      .join(consumers.toDF("src"), Seq("src"), "left_anti")
      .join(struck.toDF("src"), Seq("src"), "left_anti")
    (nodes2, carried.unionByName(rebuilt))
  }

  /** q210: serve a query batch from the q208 graph AFTER a takedown
    * batch — the graph-family delete+serve face, completing the
    * lifecycle (build q208 / upsert q209 / delete+serve here) the IVF
    * family already has (q174/q181). Probe centroids stay FROZEN at
    * the pre-delete means (the serving contract: takedowns must not
    * re-quantize), hubs re-rank among survivors. Every struck id must
    * vanish from every result list and the walk must behave exactly
    * as a fresh graph over the survivors — the oracle IS that fresh
    * graph: DuckDB re-derives assignment, the strike, the SURVIVOR
    * edge table, hubs, every beam hop, and the final ranking (seeds
    * from raw parquet, frozen means from aux_ivf_centroids — the q208
    * two-stage shape), so the hash-match proves delete+serve ==
    * rebuild-without-deleted cross-engine, scores and all.
    *
    * The strike is LOCALIZED — even-id PRIMARY members of one cell
    * (center 3) — so the registered face prices the delete path's
    * actual locality claim: one touched cell, consumers (nodes with
    * cell 3 among their two) recompute, every other survivor's edge
    * rows CARRY OVER from the pre-delete build (carried edges can
    * never point at a struck id: a struck node is candidate-visible
    * only through its primary cell, which every carrier lacks — the
    * compliance argument is structural, and the serve oracle checks
    * it cross-engine). The earlier vec_id % 7 strike touched all 8
    * cells, making consumers = everyone and the face two full edge
    * builds (9.1 s quiet at sf0.1); the all-cells worst case stays
    * covered by GraphStreamSpec's takedown == rebuild parity.
    */
  private[ops] val GraphStruckCell = 3
  val q210: QueryDef = QueryDef.sql(
    "q210_graph_delete_serve",
    s"""WITH ${graphChainSql(
         s""" AND vec_id NOT IN (
            |    SELECT vec_id FROM (
            |      SELECT vec_id, center_id,
            |        row_number() OVER (PARTITION BY vec_id
            |          ORDER BY sdist, center_id) AS arn
            |      FROM ad)
            |    WHERE arn = 1 AND center_id = $GraphStruckCell
            |      AND vec_id % 2 = 0)""".stripMargin)}
       |${TwinSql.topKSql(
         s"s$GraphHops JOIN qsc s USING (qid, cid) WHERE s.cid <> s.qid", 10)}""".stripMargin) { (s, dir) =>
    import graft.cluster.KMeansAssign
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val centers = KMeansAssign.lloydCenters(emb, 8, iters = 1, "vec_id", "v")
    val nodes = twoCellAssign(s, emb, centers).localCheckpoint(false)
    val edges = graphEdges(nodes,
      nodes.filter(col("arn") === 1)
        .select(col("vid"), col("vv"), col("center_id")),
      GraphM).localCheckpoint(false)
    // frozen pre-delete probe means (the aux_ivf_centroids frame)
    val cells = KMeansAssign.assignMap(emb.toDF("vid", "vv"), centers, "vv")
      .drop("dist")
    val centroids = KMeansAssign.centroidMeans(cells, "vv")
      .withColumnRenamed("cvec", "repr")
    // the localized strike: even-id primaries of cell GraphStruckCell
    // (the oracle replays it literal-for-literal inside asg2's WHERE)
    val (nodes2, edges2) = deleteFromGraphEdges(nodes, edges,
      nodes.filter(col("arn") === 1 &&
          col("center_id") === GraphStruckCell &&
          pmod(col("vid"), lit(2)) === 0)
        .select(col("vid").as("vec_id")),
      GraphM)
    val prim2 = nodes2.filter(col("arn") === 1)
      .select(col("vid"), col("vv"), col("center_id"))
    graphServe(emb.filter(col("vec_id") < 10).toDF("qid", "qv"),
      prim2, edges2.select(col("src"), col("dst")), centroids,
      k = 10, beam = GraphBeam, hops = GraphHops)
      .orderBy(col("qid"), col("rnk"))
  }

  /** The q208 beam walk as the SERVE face (the searchIvfIndex analog):
    * ranked results per query from a caller-held graph state — `prim`
    * (the argmin node rows: vid, vv, center_id), the edge table, and
    * the FROZEN probe centroids. ONE walk definition shared by the
    * q208 recall audit, the q210 delete+serve face, and the streaming
    * store's serve parity — a drifted copy of the entry rule or the
    * beam fold in any of them would walk a different graph than the
    * audit grades. Emits (qid, cid, score, rnk), self excluded.
    */
  def graphServe(queries: DataFrame, prim: DataFrame, edges: DataFrame,
                 centroids: DataFrame, k: Int,
                 beam: Int = GraphBeam, hops: Int = GraphHops): DataFrame = {
    import graft.functions.functions.{cosine_distance, cosine_similarity}
    val wH = Window.partitionBy(col("center_id"))
      .orderBy(col("hdist"), col("vid"))
    val hubs = prim.join(broadcast(centroids), Seq("center_id"))
      .select(col("center_id"), col("vid"),
        cosine_distance(col("vv"), col("repr")).as("hdist"))
      .withColumn("hrn", row_number().over(wH)).filter(col("hrn") === 1)
      .select(col("center_id"), col("vid").as("hub"))
    val q = queries.toDF("qid", "qv").filter(col("qv").isNotNull)
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("qdist"), col("center_id"))
    val entry = q.crossJoin(broadcast(centroids))
      .select(col("qid"), col("center_id"),
        cosine_distance(col("qv"), col("repr")).as("qdist"))
      .withColumn("qrn", row_number().over(wQ)).filter(col("qrn") === 1)
      .join(hubs, Seq("center_id"))
      .select(col("qid"), col("hub").as("cid"))
    // Corpus-side state partitioned once for the whole walk (r15,
    // guide §2.4 "remove shuffles outright"): every hop joins the
    // frontier against the edge table (on src) and the node table (on
    // cid), and the frontier side is bounded by queries x beam. The
    // intent was that each hop's join shuffles only frontier-sized
    // rows. It does not: the checkpoint keeps neither the
    // partitioning nor the ordering. Its scan reports
    // UnknownPartitioning(0), and a hop's sort-merge join still
    // exchanges it on cid (plans/r15/q208_graph_ann_recall_after.txt:
    // 232 and 240), or broadcasts it when it is small (q208 at
    // sf0.01). ROADMAP item 4 tracks a checkpoint that states its
    // partitioning.
    val edgesP = edges.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .localCheckpoint(false)
    val nodeP = prim.select(col("vid").as("cid"), col("vv").as("nv"))
      .repartition(col("cid")).sortWithinPartitions(col("cid"))
      .localCheckpoint(false)
    // Score, then dedup, in the cid-partitioned lane: the frontier
    // exchanges to nodeP's layout for the node join, the bounded
    // query batch joins next, and the (qid, cid) dedup aggregate
    // rides the cid partitioning (cluster-key subset — no exchange),
    // so the only other exchange per hop is the beam window's qid
    // hash. Dedup-by-max AFTER scoring equals the previous
    // distinct()-then-score: duplicate (qid, cid) rows carry the
    // identical score (one deterministic expression of the same two
    // vectors), and the beam/tie rules are untouched.
    def scoredDedup(fr: DataFrame): DataFrame = fr
      .join(nodeP, Seq("cid"))
      .join(q, Seq("qid"))
      .select(col("qid"), col("cid"),
        cosine_similarity(col("qv"), col("nv")).as("s0"))
      .groupBy(col("qid"), col("cid")).agg(max(col("s0")).as("score"))
    val wB = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    var frontier = entry
    (1 to hops).foreach { _ =>
      val nbr = frontier.join(edgesP, col("cid") === col("src"))
        .select(col("qid"), col("dst").as("cid"))
      frontier = scoredDedup(frontier.unionByName(nbr))
        .withColumn("brn", row_number().over(wB)).filter(col("brn") <= beam)
        .select(col("qid"), col("cid"))
        .localCheckpoint(false) // next hop reads it twice (self + nbrs)
    }
    // the walk keeps self in the beam (navigability) but never
    // RETURNS it — same exclusion as every other serving engine
    scoredDedup(frontier).filter(col("cid") =!= col("qid"))
      .withColumn("rnk", row_number().over(wB)).filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("score"),
        col("rnk").cast("bigint").as("rnk"))
  }

  def graphAnnRecall(spark: SparkSession, corpus: DataFrame,
                     queries: DataFrame, k: Int, nCells: Int = 8,
                     m: Int = GraphM, beam: Int = GraphBeam,
                     hops: Int = GraphHops): DataFrame = {
    import graft.cluster.KMeansAssign
    val c = corpus.toDF("cid", "cv").filter(col("cv").isNotNull)
    val centers = KMeansAssign.lloydCenters(c, nCells, 1, "cid", "cv")
    val asg2 = twoCellAssign(spark, c, centers)
      .localCheckpoint(false) // both edge sides + hubs read it
    val prim = asg2.filter(col("arn") === 1)
      .select(col("vid"), col("vv"), col("center_id"))
    val edges = graphEdges(asg2, prim, m)
      .select(col("src"), col("dst"))
      .localCheckpoint(false) // read once per hop
    // probe targets: the float centroid means over the argmin cells —
    // the exact q180/aux_ivf_centroids frame
    val cells = KMeansAssign.assignMap(c, centers, "cv").drop("dist")
      .withColumnRenamed("cid", "vid")
    val centroids = KMeansAssign.centroidMeans(cells, "cv")
      .withColumnRenamed("cvec", "repr")
    val q = queries.toDF("qid", "qv").filter(col("qv").isNotNull)
    val res = graphServe(q, prim, edges, centroids, k, beam, hops)
      .select(col("qid"), col("cid"))
    val brute = bruteForceKnn(q, c, k).select(col("qid"), col("cid"))
    val nb = brute.groupBy(col("qid"))
      .agg(count(lit(1)).cast("bigint").as("n_brute"))
    val hits = res.join(brute, Seq("qid", "cid"))
      .groupBy(col("qid")).agg(count(lit(1)).cast("bigint").as("n_hits"))
    q.select(col("qid"))
      .join(nb, Seq("qid"), "left").join(hits, Seq("qid"), "left")
      .select(col("qid"), lit(k.toLong).as("k"),
        coalesce(col("n_brute"), lit(0L)).as("n_brute"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_brute"), lit(0L)) > 0L,
          coalesce(col("n_hits"), lit(0L)).cast("double")
            / col("n_brute").cast("double"))
          .otherwise(lit(0.0)).as("recall"))
  }

  /** The shared q208/q210 twin-chain generator: e -> first-8 seeds ->
    * 2-cell assignment (with an optional survivor strike ANDed in) ->
    * the edge table -> hubs -> per-(query, survivor) scores -> entry
    * -> the unrolled beam hops, ending after s$GraphHops. ONE text
    * for the recall audit and the delete+serve face (the
    * jaccPairChainSql argument: a drifted copy of the edge rule or
    * the hub tie-break in either would verify a different graph than
    * the engine walks). With an empty strike, scoring queries against
    * the surviving primaries is scoring against every node.
    */
  private def graphChainSql(strike: String): String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |ad AS MATERIALIZED (
       |  SELECT e.vec_id, ctr.center_id,
       |    ${TwinSql.distZ("e.embedding", "ctr.cv")} AS sdist
       |  FROM e CROSS JOIN ctr),
       |asg2 AS MATERIALIZED (
       |  SELECT vec_id, center_id, arn FROM (
       |    SELECT vec_id, center_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY sdist, center_id) AS arn
       |    FROM ad)
       |  WHERE arn <= 2$strike),
       |prim AS MATERIALIZED (
       |  SELECT vec_id, center_id FROM asg2 WHERE arn = 1),
       |cen AS MATERIALIZED (
       |  SELECT center_id, list(x ORDER BY pos) AS cvec
       |  FROM read_parquet('__GRAFT_OUT__/aux_ivf_centroids/*.parquet')
       |  GROUP BY center_id),
       |ed AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT u.vec_id AS src, v.vec_id AS dst,
       |      row_number() OVER (PARTITION BY u.vec_id
       |        ORDER BY ${TwinSql.cosZ("ue.embedding", "ve.embedding")} DESC,
       |          v.vec_id) AS ern
       |    FROM asg2 u
       |    JOIN prim v ON v.center_id = u.center_id
       |      AND v.vec_id <> u.vec_id
       |    JOIN e ue ON ue.vec_id = u.vec_id
       |    JOIN e ve ON ve.vec_id = v.vec_id)
       |  WHERE ern <= $GraphM),
       |hub AS MATERIALIZED (
       |  SELECT center_id, vec_id AS hub FROM (
       |    SELECT p.center_id, p.vec_id,
       |      row_number() OVER (PARTITION BY p.center_id
       |        ORDER BY ${TwinSql.distZ("pe.embedding", "cen.cvec")},
       |          p.vec_id) AS hrn
       |    FROM prim p
       |    JOIN e pe ON pe.vec_id = p.vec_id
       |    JOIN cen ON cen.center_id = p.center_id)
       |  WHERE hrn = 1),
       |qv AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qe FROM e WHERE vec_id < 10),
       |qsc AS MATERIALIZED (
       |  SELECT q.qid, p.vec_id AS cid,
       |    ${TwinSql.cosZ("q.qe", "pe.embedding")} AS score
       |  FROM qv q
       |  CROSS JOIN prim p
       |  JOIN e pe ON pe.vec_id = p.vec_id),
       |s0 AS MATERIALIZED (
       |  SELECT qid, hub AS cid FROM (
       |    SELECT q.qid, cen.center_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${TwinSql.distZ("q.qe", "cen.cvec")},
       |          cen.center_id) AS qrn
       |    FROM qv q CROSS JOIN cen) x
       |  JOIN hub USING (center_id)
       |  WHERE qrn = 1),
       |${(1 to GraphHops).map(h => hopSql(s"s${h - 1}", s"s$h", GraphBeam))
           .mkString(",\n")}""".stripMargin

  /** The q208 beam-hop CTE pair: neighbors of `$prev` through the
    * edge table, unioned with `$prev` itself (best-so-far monotone),
    * scored against the shared per-(qid, cid) score table, top-`beam`
    * kept. MATERIALIZED: the next hop reads `$out` twice.
    */
  private def hopSql(prev: String, out: String, beam: Int): String =
    s"""$out AS MATERIALIZED (
       |  SELECT qid, cid FROM (
       |    SELECT s.qid, s.cid,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY s.score DESC, s.cid) AS brn
       |    FROM (
       |      SELECT DISTINCT qid, cid FROM (
       |        SELECT qid, cid FROM $prev
       |        UNION ALL
       |        SELECT p.qid, ed.dst AS cid
       |        FROM $prev p JOIN ed ON ed.src = p.cid)) f
       |    JOIN qsc s ON s.qid = f.qid AND s.cid = f.cid)
       |  WHERE brn <= $beam)""".stripMargin

  val q208: QueryDef = QueryDef.sql(
    "q208_graph_ann_recall",
    s"""WITH ${graphChainSql("")},
       |res AS (
       |  SELECT qid, cid FROM (
       |    SELECT s.qid, s.cid,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY s.score DESC, s.cid) AS rnk
       |    FROM s$GraphHops JOIN qsc s USING (qid, cid)
       |    WHERE s.cid <> s.qid)
       |  WHERE rnk <= 10),
       |bs AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
       |    FROM qsc WHERE cid <> qid)
       |  WHERE rnk <= 10),
       |nb AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_brute
       |       FROM bs GROUP BY qid),
       |h AS (
       |  SELECT qid, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM res JOIN bs USING (qid, cid) GROUP BY qid)
       |SELECT q.qid, CAST(10 AS BIGINT) AS k,
       |  CAST(COALESCE(nb.n_brute, 0) AS BIGINT) AS n_brute,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CASE WHEN COALESCE(nb.n_brute, 0) > 0
       |    THEN CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       |         / CAST(nb.n_brute AS DOUBLE)
       |    ELSE 0.0 END AS recall
       |FROM qv q
       |LEFT JOIN nb USING (qid) LEFT JOIN h USING (qid)
       |ORDER BY q.qid""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    graphAnnRecall(s, emb, emb.filter(col("vec_id") < 10), k = 10,
      nCells = 8, m = GraphM, beam = GraphBeam, hops = GraphHops)
      .orderBy(col("qid"))
  }

  /** The 31-plane JL projection set — 31 because that is sign-LSH's
    * maximum width (its bucket is an Int), and this is the SAME
    * deterministic seedless hyperplane family sign-LSH buckets with
    * ([[signPlanes]] — plane p depends only on p, so the m-plane set
    * is a PREFIX of this one and every curve point below reads a
    * prefix slice of one projection). JL keeps the real dot product
    * where sign-LSH keeps its sign bit.
    */
  private[ops] def jlPlanes: Array[Array[Double]] = signPlanes(31, 64)

  /** 31-dim JL projection of a two-column (id, vector) frame — the
    * narrow map-side half of the q190 audit (a pure codegen kernel,
    * [[graft.functions.JlProjectExpr]]), exposed so graft.Verify can
    * dump it as a two-stage-oracle artifact.
    */
  def jlProjected(vecs: DataFrame): DataFrame = {
    val Array(idName, _) = vecs.columns
    vecs.toDF("id", "v")
      .select(col("id").as(idName),
        graft.functions.functions.jl_project(col("v"), jlPlanes).as("proj"))
  }

  /** Empirical recall-vs-projection-dim curve (q190): recall@k of
    * exact cosine kNN run in JL-PROJECTED space (dims 4/8/16/31)
    * against [[bruteForceKnn]] in the raw 64-dim space — the
    * Johnson–Lindenstrauss operating table that says how few
    * projected dimensions this corpus tolerates, the q180/q172
    * companion for the third ANN family (random projection) next to
    * IVF's nprobe curve and LSH's analytic S-curve. Production use:
    * the projected vectors feed the SAME lshKnn/ivfKnn machinery at
    * m/64 of the per-distance cost; this curve prices that trade.
    *
    * The corpus is projected ONCE at 31 dims; every curve point
    * scores a prefix slice (the planes are prefix-stable), so the
    * curve shares one projection pass exactly as q180's points share
    * one assignment.
    *
    * TWO-STAGE ORACLE: only the projection kernel is engine-internal
    * (dumped as aux_jl_proj); DuckDB re-runs the prefix slicing, both
    * kNNs (the pinned cosine fold over the dumped doubles — identical
    * bits, identical ties), and the hit counts. Counts are integers;
    * recall is one literal division.
    *
    * Scale: bounded audit batch (vec_id < 10, q180's exclusion
    * reasoning) — the corpus side streams through the broadcast query
    * join exactly as serving does; the dim spine multiplies only the
    * bounded scored frame.
    */
  def jlRecallCurve(spark: SparkSession, corpus: DataFrame, queries: DataFrame,
                    k: Int, dims: Seq[Int] = Seq(4, 8, 16, 31)): DataFrame = {
    require(dims.nonEmpty && dims.forall(m => m >= 1 && m <= jlPlanes.length),
      s"projection dims must sit in 1..${jlPlanes.length}")
    val c = corpus.toDF("cid", "cv").filter(col("cv").isNotNull)
    val q = queries.toDF("qid", "qv").filter(col("qv").isNotNull)
    val cp = jlProjected(c).toDF("cid", "cproj")
    val qp = jlProjected(q).toDF("qid", "qproj")
    val spine = spark.createDataFrame(dims.map(m => Tuple1(m.toLong)))
      .toDF("proj_dim")
    val wr = Window.partitionBy(col("proj_dim"), col("qid"))
      .orderBy(col("score").desc, col("cid"))
    val jlTop = cp.crossJoin(broadcast(qp))
      .filter(col("qid") =!= col("cid"))
      .crossJoin(broadcast(spine))
      .select(col("proj_dim"), col("qid"), col("cid"),
        cosine_similarity(
          slice(col("qproj"), lit(1), col("proj_dim").cast("int")),
          slice(col("cproj"), lit(1), col("proj_dim").cast("int"))).as("score"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= k)
      .select(col("proj_dim"), col("qid"), col("cid"))
    val brute = bruteForceKnn(q, c, k).select(col("qid"), col("cid"))
    val tot = brute.agg(count(lit(1)).cast("bigint").as("n_brute"),
      countDistinct(col("qid")).cast("bigint").as("n_queries"))
    val hits = jlTop.join(brute, Seq("qid", "cid"))
      .groupBy(col("proj_dim"))
      .agg(count(lit(1)).cast("bigint").as("n_hits"))
    spine.join(hits, Seq("proj_dim"), "left")
      .crossJoin(broadcast(tot))
      .select(col("proj_dim").cast("bigint").as("proj_dim"),
        lit(k.toLong).as("k"),
        col("n_queries"),
        coalesce(col("n_hits"), lit(0L)).cast("bigint").as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_brute").cast("double")).as("recall"))
  }

  val q190: QueryDef = QueryDef.sql(
    "q190_jl_recall_curve",
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |p AS (
       |  SELECT vec_id, list(x ORDER BY pos) AS proj
       |  FROM read_parquet('__GRAFT_OUT__/aux_jl_proj/*.parquet')
       |  GROUP BY vec_id),
       |m AS (SELECT CAST(unnest([4, 8, 16, 31]) AS BIGINT) AS proj_dim),
       |sc AS (
       |  SELECT m.proj_dim, qp.vec_id AS qid, cp.vec_id AS cid,
       |    ${TwinSql.cosZ("list_slice(qp.proj, 1, m.proj_dim)",
                      "list_slice(cp.proj, 1, m.proj_dim)")} AS score
       |  FROM p qp CROSS JOIN p cp CROSS JOIN m
       |  WHERE qp.vec_id < 10 AND qp.vec_id <> cp.vec_id),
       |jl AS (
       |  SELECT proj_dim, qid, cid FROM (
       |    SELECT proj_dim, qid, cid,
       |      row_number() OVER (PARTITION BY proj_dim, qid
       |        ORDER BY score DESC, cid) AS rnk
       |    FROM sc) WHERE rnk <= 10),
       |bsc AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |    ${TwinSql.cosZ("q.embedding", "c.embedding")} AS score
       |  FROM e q CROSS JOIN e c
       |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |bs AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
       |    FROM bsc) WHERE rnk <= 10),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_brute,
       |    CAST(count(DISTINCT qid) AS BIGINT) AS n_queries FROM bs),
       |h AS (
       |  SELECT proj_dim, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM jl JOIN bs USING (qid, cid) GROUP BY proj_dim)
       |SELECT m.proj_dim,
       |  CAST(10 AS BIGINT) AS k,
       |  tot.n_queries,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(tot.n_brute AS DOUBLE)
       |    AS recall
       |FROM m LEFT JOIN h USING (proj_dim), tot
       |ORDER BY m.proj_dim""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    jlRecallCurve(s, emb, emb.filter(col("vec_id") < 10), k = 10)
      .orderBy(col("proj_dim"))
  }

  val q171: QueryDef = QueryDef.sql(
    "q171_ivf_cell_balance",
    s"""WITH e AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |ctr AS (
       |  -- mirror lloydCenters' seed rule exactly: the k LOWEST
       |  -- non-null ids, labeled POSITIONALLY (0-based) — on a clean
       |  -- fixture identical to "vec_id < 8 AS center_id", but a junk
       |  -- NULL vector among the first 8 substitutes the next id on
       |  -- the Spark side, so a vec_id-keyed twin would diverge
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT e.vec_id, ctr.center_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${TwinSql.distZ("e.embedding", "ctr.cv")}, ctr.center_id) AS rn
       |    FROM e CROSS JOIN ctr) WHERE rn = 1),
       |g AS (
       |  SELECT center_id, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM asg GROUP BY center_id),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM g),
       |o AS (
       |  SELECT center_id, n_vecs,
       |    CAST(n_vecs AS DOUBLE) * 8.0 / CAST(tot.n AS DOUBLE) AS load_factor,
       |    CAST(sum(n_vecs) OVER (ORDER BY n_vecs DESC, center_id
       |           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |      / CAST(tot.n AS DOUBLE) AS cum_share
       |  FROM g, tot)
       |SELECT CAST(center_id AS BIGINT) AS center_id, n_vecs, load_factor,
       |  cum_share,
       |  CAST(CASE WHEN load_factor >= 2.0 THEN 1 ELSE 0 END AS BIGINT) AS hot
       |FROM o
       |ORDER BY n_vecs DESC, center_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    ivfCellBalance(emb, nCells = 8)
      .orderBy(col("n_vecs").desc, col("center_id"))
  }
}
