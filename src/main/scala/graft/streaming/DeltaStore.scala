package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared delta-directory store for every streaming-maintained index
  * in `graft.streaming`, and the ONLY code that knows its layout: each
  * committed micro-batch writes a `batch_id=<k>` partition
  * ([[DeltaStore.writeBatch]]); reads union the partitions and fold
  * them with one of the store's folds (whole-snapshot or per-group
  * [[DeltaStore.latestSnapshot]], per-key [[DeltaStore.latestPerKey]])
  * or an index-specific merge; a compactor folds everything into
  * `batch_id=0`.
  *
  * Crash contract (shared by every index built on this store):
  *  - the maintainer's per-batch write is a DETERMINISTIC overwrite of
  *    its own partition, so a replayed micro-batch (checkpoint says
  *    uncommitted) lands byte-identically — exactly-once by rewrite;
  *  - compaction snapshots the partition list AT ENTRY, folds only the
  *    snapshot, and deletes only the snapshot afterwards — a delta the
  *    maintainer commits mid-compaction is never dropped (the
  *    streaming checkpoint marks it committed and never replays it);
  *  - the `batch_id=0` replacement goes through a sibling backup
  *    rename: a crash at any point leaves the old partitions, the
  *    backup, or the new fold readable. Readers recover READ-ONLY by
  *    unioning the backup in place as batch 0 (renaming it back from a
  *    read path would race a LIVE compactor's swap — a restore between
  *    the compactor's two renames makes its second rename land the new
  *    fold INSIDE the restored dir, nesting a partition dir and
  *    duplicating rows); only the compactor — the single writer —
  *    repairs by rename;
  *  - a crash during the trailing per-partition deletes leaves
  *    already-folded partitions behind. Deletes run OLDEST-FIRST
  *    (ascending numeric batch_id — NOT listStatus order, which is
  *    lexicographic and would delete batch_id=10 before batch_id=2),
  *    so the survivors always form a SUFFIX {k..max} of the folded id
  *    range. That shape is what makes leftovers harmless for every
  *    fold this store supports:
  *      - latest-wins keyed on batch_id (the drift reference, the
  *        band index's per-doc merge): for any key, the max surviving
  *        batch holding it is either the key's true latest delta
  *        (which also won inside batch 0's fold — same value) or
  *        absent (batch 0 wins). A PREFIX of survivors would break
  *        this: an old leftover would shadow batch 0's newer fold for
  *        keys whose latest delta was already deleted;
  *      - order-insensitive idempotent folds (min, set-union — the
  *        novelty first-seen index): re-folding any subset of
  *        already-folded rows is a no-op regardless of survivor shape.
  *    The next compaction folds the suffix again — by the same
  *    argument the re-fold reproduces batch 0 exactly — then resumes
  *    the deletes.
  */
/** The sibling-backup two-rename swap shared by every directory-
  * valued piece of compact-in-place state (DeltaStore's `batch_id=0`
  * fold, the Reservoir root, and the ANN cell stores'
  * [[graft.ops.CellStore]] compaction): ONE definition of the
  * crash-window machinery — delete stale backup, checked rename
  * target→backup, checked rename tmp→target, delete backup — plus the
  * WRITER-ONLY recovery. Previously duplicated per store; a fix to
  * one swap path could silently miss the other.
  */
private[graft] object SwapDir {
  import org.apache.hadoop.fs.FileSystem

  /** Swap fully-written `tmp` content into `target`. Every rename is
    * checked: a silently-failed rename would lose the new content (or
    * strand it in tmp) undetected. A crash at any point leaves the
    * old target, the backup, or the new target readable — readers
    * fall back to the backup IN PLACE and only the single writer
    * repairs by rename (see [[recover]]).
    */
  def swap(fs: FileSystem, target: Path, tmp: Path, backup: Path,
           label: String): Unit = {
    // safety-by-construction, not caller discipline: if a previous
    // swap died between its two renames, the backup is the ONLY copy —
    // deleting it below would silently destroy the state. Every caller
    // must recover() first; fail loudly if one forgot.
    if (!fs.exists(target) && fs.exists(backup))
      sys.error(s"$label: swap without recovery — $target missing while " +
        s"backup $backup exists (call recover first)")
    fs.delete(backup, true) // stale backup from a prior completed swap
    if (fs.exists(target) && !fs.rename(target, backup))
      sys.error(s"$label: rename $target -> $backup failed")
    if (!fs.rename(tmp, target))
      sys.error(s"$label: rename $tmp -> $target failed")
    fs.delete(backup, true)
  }

  /** WRITER-ONLY crash repair: a swap that died between the backup
    * rename and landing the new target leaves the backup as the only
    * copy — rename it back. Never call from a read path: restoring
    * between a LIVE swap's two renames would make its second rename
    * land the new content INSIDE the restored dir, nesting and
    * duplicating rows.
    */
  def recover(fs: FileSystem, target: Path, backup: Path,
              label: String): Unit =
    if (!fs.exists(target) && fs.exists(backup) && !fs.rename(backup, target))
      sys.error(s"$label recovery: rename $backup -> $target failed")
}

private[streaming] object DeltaStore {

  /** The one spelling of the layout: batch `k`'s partition under `dir`. */
  private def partition(dir: String, batchId: Long): String =
    s"$dir/batch_id=$batchId"

  /** THE one writer of a micro-batch's delta: a DETERMINISTIC
    * overwrite of `dir/batch_id=<k>` — replaying a batch rewrites its
    * own partition instead of adding a second copy (the exactly-once-
    * by-rewrite half of the crash contract above).
    *
    * The caller picks the file count. Frames carrying a parallel
    * pipeline (a join, window or signature pass) should arrive as
    * `repartition(1)` — an exchange — NOT `coalesce(1)`, which would
    * collapse that whole upstream pipeline into one task; only the
    * delta-sized result should funnel to one output file.
    * `coalesce(1)` suits driver-built frames.
    */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(partition(dir, batchId))

  /** Paths of the delta partitions strictly older than `batchId`, in
    * listing order. Empty for an absent store.
    */
  def partitionsBefore(spark: SparkSession, dir: String,
                       batchId: Long): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath).filter { p =>
      val n = p.getName
      n.startsWith("batch_id=") &&
        scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
          .exists(_ < batchId)
    }.map(_.toString)
  }

  /** Raw union of all delta partitions, `batch_id` taken from the
    * partition directories, with a crashed compaction's sibling backup
    * unioned IN PLACE as batch 0. None when the root holds no
    * `batch_id=` partitions and no backup exists (callers pick their
    * empty-index semantics).
    */
  def readRaw(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexDir)
    val fs = root.getFileSystem(conf)
    val zero = new Path(partition(indexDir, 0))
    val old = new Path(indexDir + "_old0")
    val backup = !fs.exists(zero) && fs.exists(old)
    val hasParts = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("batch_id="))
    if (hasParts) {
      val live = spark.read.parquet(indexDir) // batch_id from partition dirs
      Some(
        if (backup)
          live.unionByName(spark.read.parquet(old.toString)
            .withColumn("batch_id",
              lit(0).cast(live.schema("batch_id").dataType)))
        else live)
    } else if (backup)
      Some(spark.read.parquet(old.toString).withColumn("batch_id", lit(0L)))
    else None
  }

  /** Scoped store read shared by the replay-guarded maintainers: the
    * raw union filtered to `batch_id < beforeBatch` (the guard — a
    * batch scoring itself must not see its own possibly-half-written
    * partition), falling back to an EMPTY frame of `schema` when the
    * store does not exist yet. Centralized here because the guard
    * semantics are load-bearing for crash correctness and must not
    * drift between indexes.
    */
  def readScopedOr(spark: SparkSession, indexDir: String,
                   beforeBatch: Option[Long],
                   schema: StructType): DataFrame =
    readRaw(spark, indexDir) match {
      case Some(raw) =>
        beforeBatch match {
          case Some(b) => raw.filter(col("batch_id") < b)
          case None => raw
        }
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Whole-snapshot LATEST-WINS fold over a raw delta union: keep only
    * the max-batch_id partition's rows, projected to `cols`. THE one
    * definition of the cumulative-snapshot store discipline
    * (DriftStream's histograms, ContractStream's report, DsirStream's
    * buckets, NbStream's prior) — each partition holds a complete
    * cumulative snapshot, so the newest one IS the state and every
    * leftover from a crashed compaction is itself a valid (older)
    * snapshot. Previously copy-pasted per store; a fix to the fold
    * semantics could silently miss a copy (the SwapDir argument).
    *
    * With `by` keys the snapshot is per key group: each group keeps
    * ALL its rows from its own newest batch (GraphStream's per-src
    * edge-list replacement).
    */
  def latestSnapshot(raw: DataFrame, cols: Seq[String],
                     by: String*): DataFrame = {
    val w = Window.partitionBy(by.map(col): _*)
    raw.withColumn("__mx", max(col("batch_id").cast("long")).over(w))
      .filter(col("batch_id").cast("long") === col("__mx"))
      .select(cols.map(col): _*)
  }

  /** Per-key LATEST-WINS fold: the one row per `keys` group from the
    * highest NUMERIC batch_id (cast to long — partition discovery may
    * type small ids as int, and a string order would rank batch 9 over
    * batch 10). NULL keys form one group, as in a SQL PARTITION BY.
    * Returns the raw columns (batch_id included); tombstone filters
    * and projections are the caller's. The id-index store shape
    * (ContractStream's ids, the vocabulary-keyed count stores, the
    * signature/cell/node stores): each partition holds the full
    * current row of every key it touched, so the newest row IS the
    * key's state, and leftover suffix survivors of a crashed
    * compaction never shadow batch 0's fold (see the crash contract).
    */
  def latestPerKey(raw: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("batch_id").cast("long").desc)
    raw.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Previous state of the keys a micro-batch touches: the scoped read
    * (`batch_id < batchId`, the replay guard), a null-safe semi-join
    * on `touched`'s columns, then [[latestPerKey]] over `keys`.
    * `touched` holds store-named columns, a subset of `keys`
    * (ContractStream joins on doc_id alone: an id's rows under other
    * sources matter for its total). The semi-join sits BELOW
    * the window on purpose — Catalyst cannot push a semi-join through
    * a window, and filtering whole key groups first is
    * result-identical — so each batch sorts only its touched keys,
    * never the whole index.
    */
  def readTouched(spark: SparkSession, dir: String, batchId: Long,
                  schema: StructType, touched: DataFrame,
                  keys: Seq[String]): DataFrame = {
    val t = touched.select(touched.columns.map(c => col(c).as(s"__t_$c")): _*)
      .distinct()
    val on = touched.columns.map(c => col(c) <=> col(s"__t_$c")).reduce(_ && _)
    latestPerKey(readScopedOr(spark, dir, Some(batchId), schema)
      .join(t, on, "left_semi"), keys)
  }

  /** The cumulative-count add of the vocabulary-keyed count stores:
    * `batchCounts` (`keys` ++ `counts` columns) plus each touched
    * key's previous cumulative counts ([[readTouched]]; 0 for a new
    * key), as `keys` ++ `counts`. The merge join is null-safe: a
    * using-column join's EqualTo would never match a NULL key, so that
    * key's cumulative count would silently RESET every batch.
    */
  def addToPrevious(spark: SparkSession, dir: String, batchId: Long,
                    schema: StructType, batchCounts: DataFrame,
                    keys: Seq[String], counts: Seq[String]): DataFrame = {
    val prev = readTouched(spark, dir, batchId, schema,
        batchCounts.select(keys.map(col): _*), keys)
      .select((keys ++ counts).map(c => col(c).as(s"__p_$c")): _*)
    batchCounts
      .join(prev, keys.map(k => col(k) <=> col(s"__p_$k")).reduce(_ && _), "left")
      .select(keys.map(col) ++ counts.map(c =>
        (col(c) + coalesce(col(s"__p_$c"), lit(0L))).as(c)): _*)
  }

  /** The read-path form of [[latestSnapshot]] over a store directory:
    * scoped raw read (`beforeBatch` = the replay guard), then the
    * max-batch_id snapshot, falling back to the empty frame for an
    * absent store. Two jobs (max + filter) — fine for reporting APIs;
    * per-micro-batch HOT paths with driver-sized state use
    * [[collectLatestSnapshot]] instead.
    */
  def readLatestSnapshot(spark: SparkSession, indexDir: String,
                         beforeBatch: Option[Long],
                         schema: StructType,
                         cols: Seq[String]): DataFrame = {
    val raw = readScopedOr(spark, indexDir, beforeBatch, schema)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val latest = raw.agg(max(col("batch_id"))).head().get(0)
    if (latest == null) raw.select(cols.map(col): _*)
    else raw.filter(col("batch_id") === lit(latest)).select(cols.map(col): _*)
  }

  /** The hot-path form of [[readLatestSnapshot]] for driver-sized
    * state (a histogram, a report, a prior): ONE collect of the scoped
    * read, the max-batch_id rows picked on the driver — no second job
    * and no second store scan per micro-batch. Rows carry `cols` only;
    * empty for an absent store.
    */
  def collectLatestSnapshot(spark: SparkSession, dir: String,
                            beforeBatch: Option[Long], schema: StructType,
                            cols: Seq[String]): Seq[Row] = {
    val rows = readScopedOr(spark, dir, beforeBatch, schema)
      .select(col("batch_id").cast("long") +: cols.map(col): _*).collect().toSeq
    if (rows.isEmpty) Nil
    else {
      val mx = rows.map(_.getLong(0)).max
      rows.filter(_.getLong(0) == mx).map(r => Row.fromSeq(r.toSeq.tail))
    }
  }

  /** If a compaction crashed between renaming the old `batch_id=0`
    * aside and landing the new one, restore the backup — the folded
    * content it held is not yet anywhere else. WRITER-ONLY: called
    * solely from [[compact]] (readers fall back to reading the backup
    * in place — see [[readRaw]]), so the restore can never race a
    * live swap.
    */
  private def recoverCompaction(spark: SparkSession, indexDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val zero = new Path(partition(indexDir, 0))
    SwapDir.recover(zero.getFileSystem(conf), zero,
      new Path(indexDir + "_old0"), "delta-store")
  }

  /** Fold the delta partitions present AT ENTRY into `batch_id=0`
    * with the index's own merge (`fold` receives the raw union with
    * its `batch_id` column and returns the folded rows), dropping
    * superseded rows.
    *
    * CONCURRENCY CONTRACT (precise — the crash contract above covers
    * crashes, not live races): maintainer WRITES are safe at any time
    * (a delta committed mid-compaction is outside the entry snapshot
    * and never dropped), but maintainer/serving READS must be
    * serialized with compaction — the batch_id=0 swap is two renames
    * and the trailing deletes are not atomic, so a parquet listing
    * landing inside those windows can transiently miss batch 0, see
    * it twice (new fold + in-place backup both as batch 0), or hit
    * deleted files. The intended deployment gives this for free:
    * foreachBatch is serial, and the maintainers run compaction
    * BETWEEN micro-batches in the same driver loop (the spec/usage
    * pattern); a separately-scheduled compactor must take the same
    * turn-taking (e.g. pause the stream or lock the index dir).
    * Readers DO safely tolerate any crashed compaction's leftovers —
    * that is the crash contract above.
    *
    * `keepLatest` excludes the HIGHEST batch_id partition from the
    * fold. Required for any index whose maintainer reads history
    * filtered by `batch_id < current` (the novelty index's replay
    * guard): the latest partition may belong to a batch whose
    * checkpoint has not committed yet, and folding it into batch_id=0
    * would erase the provenance the guard filters on — a crash-replay
    * of that batch would then score against its own shingles. Indexes
    * whose replay never reads the store (the band index: a replayed
    * micro-batch recomputes its delta from the batch data alone) can
    * leave it false and compact everything.
    */
  def compact(spark: SparkSession, indexDir: String,
              fold: DataFrame => DataFrame,
              keepLatest: Boolean = false,
              // test seam: invoked before each trailing per-partition
              // delete so specs can crash the delete loop mid-way and
              // exercise the suffix-survivor contract above
              onDelete: Path => Unit = _ => ()): Unit = {
    recoverCompaction(spark, indexDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return
    val all = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("batch_id=")).toSeq
    def idOf(p: Path): Long = p.getName.stripPrefix("batch_id=").toLong
    val snapshot =
      if (keepLatest && all.nonEmpty) {
        val latest = all.maxBy(idOf)
        // keeping only batch 0 behind would fold nothing new; skip
        all.filterNot(_ == latest)
      } else all
    if (snapshot.isEmpty || snapshot.forall(_.getName == "batch_id=0")) return
    val tmp = new Path(indexDir + "_compacting")
    val zero = new Path(partition(indexDir, 0))
    val old0 = new Path(indexDir + "_old0")
    fold(spark.read.option("basePath", indexDir)
        .parquet(snapshot.map(_.toString): _*))
      .write.mode("overwrite").parquet(partition(tmp.toString, 0))
    SwapDir.swap(fs, zero, new Path(tmp, "batch_id=0"), old0,
      "delta-store compaction")
    // OLDEST-FIRST (ascending numeric id): a crash anywhere in this
    // loop leaves a SUFFIX of the folded range behind — the only
    // leftover shape under which latest-wins-on-batch_id reads and
    // re-folds are unchanged (see the crash contract above)
    snapshot.filter(_.getName != "batch_id=0").sortBy(idOf).foreach { p =>
      onDelete(p); fs.delete(p, true)
    }
    fs.delete(tmp, true)
  }
}
