package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop call: wall seconds and whether it returned. */
final case class Call(name: String, seconds: Double, ok: Boolean)

/** What a pass needs besides its inputs: the session, the tracer (on
  * only in traced passes) and the per-layer counts it accumulates.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer,
                val counters: SparkCounters) {
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  val errors = ArrayBuffer[String]()

  def add(key: String, v: Double): Unit = if (tr.enabled) counts(key) += v

  /** A layer's output frame, persisted. In a traced pass it is also
    * materialized inside the layer's span, so the lazily planned work
    * is charged to the layer that defined it; `rows` names the count
    * the row total goes to.
    */
  def layer(name: String, rows: String = "")(df: => DataFrame): DataFrame =
    tr.span(name) {
      val d = df.persist()
      if (tr.enabled) {
        val n = d.count()
        if (rows.nonEmpty) add(rows, n.toDouble)
      }
      d
    }

  def call(name: String)(body: => Unit): Call = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable => errors += s"$name: $e"; false }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] call $name%s $secs%.3f s ok=$ok")
    Call(name, secs, ok)
  }
}

trait Workload {
  /** One pass: the workload's full call list over `in`, outputs under
    * `out` (a fresh directory). */
  def pass(c: Ctx, in: String, out: String): Seq[Call]

  /** Untimed: write what the output checks read, under `out`. */
  def writeChecks(c: Ctx, in: String, out: String): Unit

  /** The input's document texts (kernel probes run over them). */
  def texts(spark: SparkSession, in: String): Seq[String]
}

object Workload {
  /** Texts of a generated `documents` table, in doc_id order. */
  def documentTexts(spark: SparkSession, in: String): Seq[String] =
    graft.ops.Tables.documents(spark, s"$in/tables").orderBy("doc_id")
      .select("text").collect().map(_.getString(0)).toSeq
}

object Main {
  val WarmupPasses = 3

  /** Settings the benchmark adds to `GraftSession.builder`. */
  def settings(work: String): Seq[(String, String)] = Seq(
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    // the two shuffle settings the repository's own run configuration
    // (build.sbt javaOptions, graft.Bench) applies to every main
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsArg, traceArg, coresArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val wl: Workload = workload match {
      case "refjob" => Refjob
      case "corpus" => CorpusWorkload
      case "queries" => new Queries(seedArg.toLong)
    }
    val result = mutable.LinkedHashMap[String, Any]()

    val t0 = System.nanoTime()
    val spark = settings(work).foldLeft(
        graft.GraftSession.builder(s"local[$cores]", cores)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)

    val out = s"$work/out"
    val warm = new Ctx(spark, new Tracer(false), counters)
    val t1 = System.nanoTime()
    // several warmup passes: the JIT keeps recompiling the engine's hot
    // paths for a few passes, and timing them would measure that
    for (_ <- 1 to WarmupPasses) {
      deleteTree(new File(s"$out/warm"))
      wl.pass(warm, s"$work/warm", s"$out/warm")
      cleanup(spark)
    }
    deleteTree(new File(s"$out/warm"))
    val warmupMs = (System.nanoTime() - t1) / 1e6
    result("ready_epoch_ms") = System.currentTimeMillis()
    result("session_ms") = sessionMs
    result("warmup_ms") = warmupMs
    result("warmup_errors") = warm.errors.toSeq

    val in = s"$work/input"
    val plain = new Ctx(spark, new Tracer(false), counters)
    val traced = new Ctx(spark, new Tracer(true), counters)
    val passes = ArrayBuffer[(String, Double, Seq[Call])]()
    var lastPlainOut = ""
    /** Runs one pass; returns its epoch-ms interval (cleanup excluded). */
    def timedPass(c: Ctx, kind: String): (Long, Long) = {
      val dir = s"$out/pass-${passes.size}"
      c.tr.newRun()
      val w0 = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val calls = c.tr.span("pass")(wl.pass(c, in, dir))
      passes += ((kind, (System.nanoTime() - p0) / 1e9, calls))
      val window = (w0, System.currentTimeMillis())
      cleanup(spark)
      if (kind != "traced") {
        if (lastPlainOut.nonEmpty) deleteTree(new File(lastPlainOut))
        lastPlainOut = dir
      } else deleteTree(new File(dir))
      window
    }
    // untraced: one cold pass, then warm passes for the run's time
    // (half of it when a traced half follows), at least three so the
    // median is not the first pass after the cold one, which the JIT
    // has not finished with
    timedPass(plain, "cold")
    val m0 = System.nanoTime()
    while ((System.nanoTime() - m0) / 1e9 < (if (trace) seconds / 2 else seconds) ||
           passes.count(_._1 == "warm") < 3)
      timedPass(plain, "warm")

    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      counters.reset()
      val windows = ArrayBuffer[(Long, Long)]()
      val m1 = System.nanoTime()
      while ((System.nanoTime() - m1) / 1e9 < seconds / 2 ||
             passes.count(_._1 == "traced") < 2)
        windows += timedPass(traced, "traced")
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      result("layers") = layerMetrics(traced, counters, windows.toSeq, cores) ++ {
        val texts = wl.texts(spark, in)
        Seq("functions.porter_ns_per_token" -> Probes.porterNsPerToken(texts),
            "functions.minhash_ns_per_doc" -> Probes.minhashNsPerDoc(texts))
      }
      Files.writeString(Paths.get(s"$work/spans.jsonl"), traced.tr.toJsonLines)
    }

    val check = new Ctx(spark, new Tracer(false), counters)
    try wl.writeChecks(check, in, s"$out/check")
    catch { case e: Throwable => check.errors += s"writeChecks: $e" }
    result("last_output") = lastPlainOut
    result("passes") = passes.map { case (kind, wall, calls) =>
      mutable.LinkedHashMap[String, Any]("kind" -> kind, "wall_s" -> wall,
        "calls" -> calls.map(c => Seq(c.name, c.seconds, c.ok))) }
    result("errors") = (plain.errors ++ traced.errors ++ check.errors).toSeq
    result("settings") = (Seq("master" -> s"local[$cores]",
        "spark.sql.shuffle.partitions" -> cores.toString) ++ settings(work))
      .toMap[String, Any]
    result("peak_rss_mb") = vmHwmMb()
    Files.writeString(Paths.get(s"$work/result.json"), Json(result))
    spark.stop()
  }

  /** Per-pass means of the traced passes' span self times (keyed
    * `span:<name>`), layer counts and Spark counters. `windows` are the
    * traced passes' epoch-ms intervals. */
  def layerMetrics(traced: Ctx, c: SparkCounters, windows: Seq[(Long, Long)],
                   cores: Int): mutable.LinkedHashMap[String, Double] = {
    val n = windows.size.toDouble
    val wallMs = windows.map { case (a, b) => b - a }.sum.toDouble
    val lm = mutable.LinkedHashMap[String, Double]()
    lm ++= traced.tr.selfMs.map { case (k, v) => s"span:$k" -> v / n }
    lm ++= traced.counts.map { case (k, v) => k -> v / n }
    lm ++= Seq(
      "spark.plan_ms" -> c.planMs / n,
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.single_task_stage_frac" -> c.singleTaskStages.toDouble / math.max(1L, c.stages),
      "spark.exec_run_ms" -> c.runMs / n,
      "spark.exec_cpu_ms" -> c.cpuNs / 1e6 / n,
      "spark.gc_ms" -> c.gcMs / n,
      "spark.core_util" -> c.runMs / (wallMs * cores),
      "spark.sched_delay_ms" -> c.schedDelayMs / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.shuffle_fetch_wait_ms" -> c.fetchWaitMs / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.driver_residual_ms" -> windows.map { case (a, b) => c.idleMs(a, b) }.sum / n,
      "spark.failed_tasks" -> c.failedTasks / n)
  }

  /** Drop every cached frame so the next pass repeats all its work,
    * and collect garbage outside the timed region. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Micro-timings of the text kernels, called directly (not through a
  * plan) over a workload's own texts: median of five timed loops after
  * one warm loop. */
object Probes {
  private def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
  /** Consumes the kernels' results so the JIT cannot drop the calls. */
  @volatile var sink = 0L

  def porterNsPerToken(texts: Seq[String]): Double = {
    val toks = texts.iterator.flatMap(_.split("\\s+"))
      .map(_.replaceAll("\\p{P}", "").toLowerCase)
      .filter(_.nonEmpty).take(200000).toArray
    def loop(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      toks.foreach(t => acc += graft.text.Porter.stem(t).length)
      sink += acc
      (System.nanoTime() - t0).toDouble / math.max(1, toks.length)
    }
    loop()
    median(Seq.fill(5)(loop()))
  }

  def minhashNsPerDoc(texts: Seq[String]): Double = {
    import org.apache.spark.unsafe.types.UTF8String
    val docs = texts.take(3000).map(UTF8String.fromString).toArray
    def loop(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      docs.foreach(d => acc += graft.functions.VectorOps.shingleMinhashSig(d, 32, 3).getLong(0))
      sink += acc
      (System.nanoTime() - t0).toDouble / math.max(1, docs.length)
    }
    loop()
    median(Seq.fill(5)(loop()))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
