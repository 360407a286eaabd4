package graft.tools

import graft.{Bench, GraftSession}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev profiler: times selected registry queries with graft.Bench's
  * session, warmup, per-rep isolation and median, prints the classes
  * Janino compiled in each rep (0 once the codegen cache holds the
  * query's plan), then prints a per-stage table (wall, tasks, summed
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
    spark.sparkContext.addSparkListener(table)
    picked.foreach { case (name, fn) =>
      def timed(n: Int): Seq[Bench.Rep] = Bench.timeReps(spark, fn, Bench.sfDir, n) { e =>
        println(s"[profile] $name FAILED: ${e.getMessage}")
      }
      // listener events arrive asynchronously; let the bus drain so the
      // table holds exactly the last rep's stages
      def drain(): Unit = Thread.sleep(500)
      val first = timed(reps - 1)
      drain()
      table.clear()
      val rs = first ++ timed(1)
      drain()
      println(f"[profile] $name%-28s reps=${rs.map(r => f"${r.seconds}%.2f").mkString(",")} " +
        f"median=${Bench.median(rs.map(_.seconds))}%.2f " +
        s"compiles=${rs.map(_.compiles).mkString(",")}")
      table.rows.foreach { case (id, s) =>
        println(f"[profile]   stage=$id%4d wall=${(s.completed - s.submitted) / 1e3}%6.2fs " +
          f"tasks=${s.tasks}%4d run=${s.run / 1e3}%7.2fs gc=${s.gc / 1e3}%6.2fs " +
          f"shufR=${s.shufR}%10d shufW=${s.shufW}%10d ${s.name}")
      }
    }
    spark.stop()
  }
}
