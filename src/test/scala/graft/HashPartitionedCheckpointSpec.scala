package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** `Shim.hashPartitionedCheckpoint` states a partitioning that is true:
  * every row sits in the partition Spark's own `HashPartitioning` of the
  * keys names, an aggregate on the keys exchanges nothing, and
  * [[Checkpoints.release]] frees the blocks.
  */
class HashPartitionedCheckpointSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  for ((keys, eager) <- Seq((Seq("k"), true), (Seq("k", "s"), false)))
    test(s"a checkpoint keyed on ${keys.mkString(", ")} (eager = $eager) is partitioned as stated") {
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val df = spark.range(0, 5000).select((col("id") % 97).as("k"),
        (col("id") % 13).cast("string").as("s"), col("id"))
      val before = persisted
      val cp = Shim.hashPartitionedCheckpoint(df, keys, eager)
      val stated = cp.queryExecution.logical match {
        case r: LogicalRDD => r.outputPartitioning
        case other => fail(s"not a checkpoint scan: $other")
      }
      val h = stated match {
        case h: HashPartitioning => h
        case other => fail(s"stated partitioning $other")
      }
      assert(h.numPartitions == n)
      assert(h.expressions.collect { case a: Attribute => a.name } == keys)
      assert(cp.count() == 5000)
      val misplaced = cp.filter(spark_partition_id() =!= Shim.column(h.partitionIdExpression))
        .count()
      assert(misplaced == 0, s"$misplaced rows sit outside their stated partition")

      val agg = cp.groupBy(keys.map(col): _*).count()
      agg.collect()
      val exchanges = agg.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      }.flatMap(_.collect { case e: ShuffleExchangeLike => e })
      assert(exchanges.isEmpty, agg.queryExecution.executedPlan)

      assert((persisted -- before).size == 1)
      Checkpoints.release(cp)
      assert((persisted -- before).isEmpty, "release left the checkpoint's blocks persisted")
    }
}
