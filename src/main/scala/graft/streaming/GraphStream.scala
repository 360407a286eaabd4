package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Similarity

/** Streaming graph-ANN maintenance — the q209 upsert / q210 delete
  * lifecycle lifted to micro-batches, giving the graph family the
  * same always-current serving story [[IvfStream]] gives IVF: vectors
  * (and takedowns) arrive continuously, the navigable graph stays
  * current, and only CONSUMERS of touched cells ever recompute edges
  * (the q209 locality argument, per batch).
  *
  * The coarse quantizer is FROZEN input (the q174/q209 serving
  * contract). Two [[DeltaStore]] state dirs:
  *  - `nodesDir` — one row per live node (vid, vv, c1, c2): the
  *    2-cell assignment state, per-key latest-wins on vid, takedowns
  *    as tombstone rows (deleted = true) garbage-collected at
  *    compaction (right-to-be-forgotten: the folded store physically
  *    drops the vector);
  *  - `edgesDir` — per-SRC replacement semantics: a batch that
  *    recomputes a node's neighbor list writes ALL of that src's edge
  *    rows; reads keep each src's rows from its LATEST touching batch
  *    only. A consumer whose recomputed list is EMPTY (alone in its
  *    cells) and a taken-down id both write a null-dst SENTINEL row —
  *    without it, latest-wins would resurrect the src's older list.
  *    Sentinels survive compaction (a folded sentinel must keep
  *    shadowing older real rows left by a crashed compaction's
  *    suffix survivors); reads drop them.
  *
  * Event contract per micro-batch row (vec_id, v): the IvfStream
  * shape — non-null v upserts (row-min winner on duplicate delivery,
  * min ignoring nulls so an upsert beats a same-batch takedown); an
  * id whose batch rows are ALL null is a takedown.
  *
  * Per-batch cost: the batch pays its own narrow assignment; touched
  * cells come from the delta and the replaced ids' old rows; the edge
  * recompute is consumers x their two cells' membership — never the
  * accumulated corpus re-scored. The one full-store pass is the
  * latest-wins nodes fold (cell membership must be current to find
  * consumers); a production deployment partitions the store by
  * center_id so that read is partition-pruned to touched cells.
  *
  * PARITY (spec-pinned, bit-exact): after batch k, readNodes equals
  * [[Similarity.twoCellAssign]] and readEdges equals
  * [[Similarity.graphEdges]] over the logically-current corpus
  * (later batches win re-ingested ids, taken-down ids removed) —
  * the from-scratch rebuild, the strongest check — and
  * [[serveFromStream]] equals [[Similarity.graphServe]] over that
  * rebuilt state. Replay/crash contract is the shared DeltaStore
  * discipline (scoped reads, deterministic per-partition overwrite,
  * keepLatest compaction — the maintainer reads history).
  */
object GraphStream {

  private val nodeSchema = StructType(Seq(
    StructField("vid", LongType),
    StructField("vv", ArrayType(DoubleType)),
    StructField("c1", IntegerType),
    StructField("c2", IntegerType),
    StructField("deleted", BooleanType),
    StructField("batch_id", LongType)))

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType),
    StructField("ern", LongType),
    StructField("batch_id", LongType)))

  /** Maintain the graph over a streaming (vec_id, v) frame. */
  def maintain(vecs: DataFrame, centers: Array[Array[Double]],
               nodesDir: String, edgesDir: String,
               checkpointDir: String, m: Int = 8): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, centers, nodesDir, edgesDir, m)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Empty batches write nothing.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      centers: Array[Array[Double]],
                                      nodesDir: String, edgesDir: String,
                                      m: Int): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // min ignores nulls: the non-null row-min vector wins; null only
    // when every delivery of the id in this batch was a takedown
    val winners = batch.select(col("vec_id"), col("v"))
      .groupBy(col("vec_id")).agg(min(col("v")).as("v"))
      .localCheckpoint(false) // ups + dels + ids all read it
    val ups = winners.filter(col("v").isNotNull)
    val winnerIds = winners.select(col("vec_id").as("vid"))
    val deltaNodes = Similarity
      .twoCellAssign(spark, ups.select(col("vec_id"), col("v")), centers)
      .groupBy(col("vid"), col("vv"))
      .agg(min(when(col("arn") === 1, col("center_id"))).as("c1"),
        min(when(col("arn") === 2, col("center_id"))).as("c2"))
      .localCheckpoint(false) // nodes2 + touched + the write read it
    val prevNodes = readNodes(spark, nodesDir, Some(batchId))
      .localCheckpoint(false) // touched + nodes2 read it
    val nodes2 = prevNodes.join(winnerIds, Seq("vid"), "left_anti")
      .unionByName(deltaNodes)
      .localCheckpoint(false) // consumers + prim + edge sides read it
    // touched PRIMARY cells: gained a delta node, or held a replaced
    // or taken-down id's old version (the q209/q210 locality rule)
    val touched = deltaNodes.select(col("c1").as("cell"))
      .unionByName(prevNodes.join(winnerIds, Seq("vid"), "left_semi")
        .select(col("c1").as("cell")))
      .distinct()
    val consumers = nodes2
      .join(touched, col("c1") === col("cell") || col("c2") === col("cell"),
        "left_semi")
      .select(col("vid")).distinct()
      .localCheckpoint(false) // edge recompute + sentinels read it
    val asg2c = nodes2.join(consumers, Seq("vid"), "left_semi")
    val uAsg = asg2c.select(col("vid"), col("vv"), col("c1").as("center_id"))
      .unionByName(asg2c.filter(col("c2").isNotNull)
        .select(col("vid"), col("vv"), col("c2").as("center_id")))
    val prim2 = nodes2.select(col("vid"), col("vv"), col("c1").as("center_id"))
    val rebuilt = Similarity.graphEdges(uAsg, prim2, m)
      .localCheckpoint(false) // sentinel anti-join + the write read it
    // per-src replacement markers: consumers with an empty recomputed
    // list and taken-down ids (whose lists are now empty by decree)
    val dels = winners.filter(col("v").isNull).select(col("vec_id").as("vid"))
    val sentinels = consumers.unionByName(dels).distinct()
      .join(rebuilt.select(col("src").as("vid")).distinct(),
        Seq("vid"), "left_anti")
      .select(col("vid").as("src"), lit(null).cast(LongType).as("dst"),
        lit(0L).as("ern"))
    // NODES FIRST, edges second — the crash-window direction matters:
    // with the tombstone committed, a crash before the edges write
    // leaves a taken-down id out of prim, and graphServe filters every
    // stale edge row naming it (entry comes from prim, neighbors are
    // scored through an inner join against the node frame), so the
    // takedown is already unservable. The reverse order would leave
    // the struck id live and hub-electable until replay — serving a
    // right-to-be-forgotten vector through the compliance window.
    val nodeRows = deltaNodes.withColumn("deleted", lit(false))
      .unionByName(dels
        .select(col("vid"), lit(null).cast(ArrayType(DoubleType)).as("vv"),
          lit(null).cast(IntegerType).as("c1"),
          lit(null).cast(IntegerType).as("c2"),
          lit(true).as("deleted")))
    DeltaStore.writeBatch(nodeRows.repartition(1), nodesDir, batchId)
    DeltaStore.writeBatch(rebuilt.unionByName(sentinels).repartition(1),
      edgesDir, batchId)
  }

  /** Current live nodes (vid, vv, c1, c2): per-key latest-wins,
    * tombstoned ids absent.
    */
  def readNodes(spark: SparkSession, nodesDir: String,
                beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, nodesDir, beforeBatch, nodeSchema),
        Seq("vid"))
      .filter(!col("deleted"))
      .select(col("vid"), col("vv"), col("c1"), col("c2"))

  /** Current edge table (src, dst, ern): each src's rows from its
    * LATEST touching batch (replacement semantics), sentinels dropped.
    */
  def readEdges(spark: SparkSession, edgesDir: String,
                beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.latestSnapshot(
        DeltaStore.readScopedOr(spark, edgesDir, beforeBatch, edgeSchema),
        Seq("src", "dst", "ern"), "src")
      .filter(col("dst").isNotNull)

  /** Serve top-k from the streamed graph: the shared batch walk
    * ([[Similarity.graphServe]]) over the latest-wins state, with the
    * caller's frozen probe centroids.
    */
  def serveFromStream(spark: SparkSession, nodesDir: String, edgesDir: String,
                      centroids: DataFrame, queries: DataFrame, k: Int,
                      beam: Int, hops: Int): DataFrame =
    Similarity.graphServe(queries,
      readNodes(spark, nodesDir)
        .select(col("vid"), col("vv"), col("c1").as("center_id")),
      readEdges(spark, edgesDir).select(col("src"), col("dst")),
      centroids, k, beam, hops)

  /** Fold the nodes store: per-key latest-wins, folded tombstones
    * DROPPED (right-to-be-forgotten GC — safe under suffix survivors:
    * an older row of a tombstoned key can only survive in partition
    * j < l where l holds the tombstone, and oldest-first deletes keep
    * l alive as long as j). keepLatest = true: the maintainer reads
    * history scoped to `batch_id < current` (the novelty-index replay
    * guard).
    */
  def compactNodes(spark: SparkSession, nodesDir: String,
                   onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, nodesDir,
      DeltaStore.latestPerKey(_, Seq("vid"))
        .filter(!col("deleted"))
        .select(col("vid"), col("vv"), col("c1"), col("c2"),
          lit(false).as("deleted")),
      keepLatest = true, onDelete = onDelete)

  /** Fold the edges store: per-src latest-batch rows. Sentinels are
    * KEPT (see the object scaladoc — a folded sentinel must keep
    * shadowing older real rows a crashed compaction's suffix
    * survivors may still hold).
    */
  def compactEdges(spark: SparkSession, edgesDir: String,
                   onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, edgesDir,
      DeltaStore.latestSnapshot(_, Seq("src", "dst", "ern"), "src"),
      keepLatest = true, onDelete = onDelete)
}
