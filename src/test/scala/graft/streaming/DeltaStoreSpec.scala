package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** DeltaStore owns the `dir/batch_id=<k>` layout and its folds: a
  * store written through [[DeltaStore.writeBatch]] folds per key by
  * NUMERIC batch id with NULL keys as one group, a replayed batch
  * overwrites its own partition, and the cumulative-count add keeps
  * counting a NULL key instead of resetting it.
  */
class DeltaStoreSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("v", LongType),
    StructField("batch_id", LongType)))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/store"

  private def latest(dir: String): Set[(Option[String], Long)] =
    DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, dir, None, schema), Seq("k"))
      .select(col("k"), col("v")).as[(Option[String], Long)].collect().toSet

  test("latestPerKey: batch 10 beats batch 9, a NULL key is its own group") {
    val dir = tmp("delta-latest")
    DeltaStore.writeBatch(Seq[(Option[String], Long)](
      Some("a") -> 1L, Some("b") -> 2L, None -> 3L).toDF("k", "v"), dir, 9L)
    DeltaStore.writeBatch(Seq[(Option[String], Long)](
      Some("a") -> 10L, None -> 30L).toDF("k", "v"), dir, 10L)
    assert(latest(dir) == Set(Some("a") -> 10L, Some("b") -> 2L, None -> 30L))
    // the order is numeric even when batch_id arrives as a string,
    // where "9" > "10" lexicographically
    val stringIds = Seq(("a", 1L, "9"), ("a", 10L, "10")).toDF("k", "v", "batch_id")
    assert(DeltaStore.latestPerKey(stringIds, Seq("k"))
      .select(col("v")).as[Long].collect().toSeq == Seq(10L))
  }

  test("writeBatch: replaying a batch id overwrites its partition, no second copy") {
    val dir = tmp("delta-replay")
    DeltaStore.writeBatch(Seq("x" -> 1L).toDF("k", "v"), dir, 3L)
    DeltaStore.writeBatch(Seq("y" -> 2L, "z" -> 3L).toDF("k", "v"), dir, 3L)
    val parts = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).toSeq
    assert(parts == Seq("batch_id=3"))
    val rows = DeltaStore.readScopedOr(spark, dir, None, schema)
      .select(col("k"), col("v"), col("batch_id").cast("long"))
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(rows == Seq(("y", 2L, 3L), ("z", 3L, 3L)))
  }

  test("addToPrevious: counts accumulate per key, the NULL key included") {
    val dir = tmp("delta-add")
    def add(batchId: Long, rows: (Option[String], Long)*): Unit =
      DeltaStore.writeBatch(
        DeltaStore.addToPrevious(spark, dir, batchId, schema,
          rows.toDF("k", "v"), Seq("k"), Seq("v")).repartition(1),
        dir, batchId)
    add(0L, Some("a") -> 1L, None -> 2L)
    add(1L, Some("a") -> 4L, None -> 8L, Some("c") -> 16L)
    // the replay guard: batch 1 again sees only batch 0
    add(1L, Some("a") -> 4L, None -> 8L, Some("c") -> 16L)
    assert(latest(dir) == Set(Some("a") -> 5L, None -> 10L, Some("c") -> 16L))
  }
}
