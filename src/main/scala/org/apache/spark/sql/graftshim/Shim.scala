package org.apache.spark.sql
package graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** Minimal bridge into Spark's package-private Column <-> Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils is
  * private[sql] in Spark 4.x) and listener bus (private[spark]), plus
  * the one helper that needs Spark's private frame constructor. This
  * is the only file outside the graft namespace.
  */
object Shim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Blocks until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `df` hash-partitioned on `keys` into the session's
    * `spark.sql.shuffle.partitions` (n) partitions and materialized
    * behind a local checkpoint (eager: by this call; lazy: by the first
    * action over the result), whose plan states
    * `HashPartitioning(keys, n)`. `Dataset.localCheckpoint` takes its
    * partitioning from the adaptive plan's root, which reports none, so
    * every join or aggregate on `keys` over a plain checkpoint exchanges
    * it again. The repartition is planned away where `df` is already
    * partitioned that way. An eager checkpoint states the size of its
    * materialized blocks, a lazy one the estimate the checkpoint carried:
    * after a few joins that estimate can be off by orders of magnitude
    * (57 GiB for curate's 1.9 MB frame at sf0.1), and the planner then
    * shuffles a dimension-sized join it would have broadcast.
    * [[graft.Checkpoints.release]] frees the result.
    */
  def hashPartitionedCheckpoint(df: DataFrame, keys: Seq[String],
                                eager: Boolean): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val n = spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt
    val r = df.repartition(n, keys.map(functions.col): _*).localCheckpoint(eager)
      .queryExecution.logical.asInstanceOf[LogicalRDD]
    require(r.rdd.getNumPartitions == n,
      s"a checkpoint hash-partitioned into $n partitions has ${r.rdd.getNumPartitions}")
    val resolver = spark.sessionState.conf.resolver
    val attrs = keys.map(k => r.output.find(a => resolver(a.name, k)).get)
    val stats =
      if (!eager) r.computeStats()
      else Statistics(spark.sparkContext.getRDDStorageInfo(_.id == r.rdd.id)
        .map(i => BigInt(i.memSize + i.diskSize)).sum)
    classic.Dataset.ofRows(spark,
      r.copy(outputPartitioning = HashPartitioning(attrs, n))(
        spark, Some(stats), Some(r.constraints)))
  }
}
