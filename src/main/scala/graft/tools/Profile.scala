package graft.tools

import graft.{Bench, GraftSession}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.Shim
import scala.collection.mutable

/** Dev profiler: times selected registry queries with graft.Bench's
  * session, warmup, per-rep isolation and median, prints the classes
  * Janino compiled in each rep (0 once the codegen cache holds the
  * query's plan) and the plan-description characters Spark rendered in
  * each rep (Bench runs the final plan through `toRdd`, which starts no
  * SQL execution, so these come from the jobs a query's builder runs),
  * then prints a per-stage table (wall, tasks, summed
  * executor run time and GC, shuffle read/write bytes) for each
  * query's last rep.
  *
  * Usage: runMain graft.tools.Profile <reps> <prefix...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS, read
  * exactly as graft.Bench reads them, so timings explain bench runs.
  */
object Profile {
  final case class Stage(name: String, var submitted: Long = 0,
                         var completed: Long = 0, var tasks: Int = 0,
                         var run: Long = 0, var gc: Long = 0,
                         var shufR: Long = 0, var shufW: Long = 0)

  /** Per-stage totals, keyed by stage id (updated on the listener bus). */
  final class StageTable extends SparkListener {
    private val stages = mutable.LinkedHashMap[Int, Stage]()
    private def stage(id: Int, name: String = ""): Stage =
      stages.getOrElseUpdate(id, Stage(name.take(60)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stage(e.stageInfo.stageId, e.stageInfo.name).submitted =
          System.currentTimeMillis()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = stage(e.stageInfo.stageId, e.stageInfo.name)
        s.completed = System.currentTimeMillis()
        s.tasks = e.stageInfo.numTasks
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId)
        s.run += m.executorRunTime
        s.gc += m.jvmGCTime
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.shufW += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def clear(): Unit = synchronized(stages.clear())
    def rows: Seq[(Int, Stage)] = synchronized(stages.toSeq.sortBy(_._1))
  }

  /** Plan-description characters Spark rendered on the driver: the
    * physical plan text carried by each SQL execution start and each
    * adaptive plan update. A query over a frame whose plan nests other
    * cached plans renders that whole lineage again on every one of
    * these events.
    */
  final class PlanChars extends SparkListener {
    private val chars = new java.util.concurrent.atomic.AtomicLong
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        chars.addAndGet(s.physicalPlanDescription.length); ()
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        chars.addAndGet(u.physicalPlanDescription.length); ()
      case _ =>
    }
    def total: Long = chars.get
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <reps> <prefix...>")
    val reps = args(0).toInt
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val picked = Bench.select(args.drop(1).toSeq)
    require(picked.nonEmpty, s"no registry query matches ${args.drop(1).mkString(" ")}")
    val spark = GraftSession.forRegistry().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmup(spark, picked)
    val table = new StageTable
    val planChars = new PlanChars
    spark.sparkContext.addSparkListener(table)
    spark.sparkContext.addSparkListener(planChars)
    // listener events arrive asynchronously; draining the bus around
    // each rep gives exact per-rep plan characters, and the table
    // (cleared before the last rep) exactly the last rep's stages
    def drain(): Unit = Shim.drainListenerBus(spark.sparkContext)
    picked.foreach { case (name, fn) =>
      val (rs, chars) = (1 to reps).map { i =>
        drain()
        if (i == reps) table.clear()
        val chars0 = planChars.total
        val rep = Bench.timeReps(spark, fn, Bench.sfDir, 1) { e =>
          println(s"[profile] $name FAILED: ${e.getMessage}")
        }.head
        drain()
        (rep, planChars.total - chars0)
      }.unzip
      println(f"[profile] $name%-28s reps=${rs.map(r => f"${r.seconds}%.2f").mkString(",")} " +
        f"median=${Bench.median(rs.map(_.seconds))}%.2f " +
        s"compiles=${rs.map(_.compiles).mkString(",")} " +
        s"plan_chars=${chars.mkString(",")}")
      table.rows.foreach { case (id, s) =>
        println(f"[profile]   stage=$id%4d wall=${(s.completed - s.submitted) / 1e3}%6.2fs " +
          f"tasks=${s.tasks}%4d run=${s.run / 1e3}%7.2fs gc=${s.gc / 1e3}%6.2fs " +
          f"shufR=${s.shufR}%10d shufW=${s.shufW}%10d ${s.name}")
      }
    }
    spark.stop()
  }
}
