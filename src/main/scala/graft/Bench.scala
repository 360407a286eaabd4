package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Default timed scale factor (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Registry queries sorted by name, those whose names start with one
    * of `prefixes` (all of them when `prefixes` is empty).
    */
  def select(prefixes: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }

  /** Executes the query's own physical plan. Dataset.count() would
    * re-optimize for the row count alone, and column pruning then
    * deletes operators whose outputs feed no key or kept column (q136's
    * window + exchange vanished from the timed work that way).
    */
  def run(spark: SparkSession, fn: Query, dir: String): Unit =
    fn(spark, dir).queryExecution.toRdd.count()

  /** Untimed warmup: run every query shape once so the timed numbers
    * reflect steady-state execution. Spark compiles each distinct
    * whole-stage-codegen unit on first use (janino) and JITs the
    * scan/agg/join paths — one-time costs a long-lived cluster never
    * pays per query. sf0.001 compiles the identical generated code
    * (codegen is keyed on plan shape, not data size). The second pass
    * at sf0.01 gets the generated loops hot enough for C2: at sf0.001
    * row counts they never are, and the first timed sf0.1 run paid
    * multi-second interpretation penalties on the heaviest queries
    * (measured: first run 2-4x steady state).
    */
  val WarmupDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  /** Runs the warmup and returns its failures as `<name> at <sf>:
    * <message>`, each also printed to stderr: a query that breaks only
    * at a small SF must not stay invisible until the timed pass.
    */
  def warmup(spark: SparkSession, queries: Seq[(String, Query)]): Seq[String] =
    for {
      wdir <- WarmupDirs
      sf = new java.io.File(wdir).getName
      (name, fn) <- queries
      msg <- scala.util.Try(run(spark, fn, wdir)).failed.toOption.map(_.getMessage)
    } yield {
      System.err.println(s"$name WARMUP FAILED at $sf: $msg")
      s"$name at $sf: $msg"
    }

  /** Per-query isolation: a ~100-query single-JVM run accumulates
    * garbage across queries (checkpoint blocks, broadcasts, shuffle
    * buffers), and a major GC landing inside a timed query produced
    * 4x outliers on whichever queries ran late (measured: q95 3.6s in
    * a full run vs 0.55s isolated, same code). Dropping leftover
    * cached RDDs and forcing collection BETWEEN queries charges each
    * query its own work, the way a per-query cluster job would be.
    * The cache manager is cleared too: a builder that `.cache()`s a
    * plan would otherwise find the previous rep's entry and time its
    * reps 2+ warm.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Classes Janino has compiled in this JVM so far, for the driver
    * and the local-mode executors alike: a delta around a call tells
    * code generation apart from Catalyst and executor time.
    */
  def compiledClasses(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One timed rep: wall seconds and the classes compiled during it. */
  final case class Rep(seconds: Double, compiles: Long)

  /** `reps` isolated reps of one query at `dir`. A failing rep is
    * passed to `onFail` and still timed (time-to-error).
    */
  def timeReps(spark: SparkSession, fn: Query, dir: String, reps: Int)
              (onFail: Throwable => Unit): Seq[Rep] =
    (1 to reps).map { _ =>
      isolate(spark)
      val c0 = compiledClasses()
      val t0 = System.nanoTime()
      try run(spark, fn, dir) catch { case e: Throwable => onFail(e) }
      Rep((System.nanoTime() - t0) / 1e9, compiledClasses() - c0)
    }

  def median(ts: Seq[Double]): Double = ts.sorted.apply((ts.size - 1) / 2)

  /** Minimal JSON string escaping for interpolated values (a HEAD ref,
    * query name or error message containing a quote/backslash/control
    * char must not produce unparseable JSON).
    */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.Cpus
    // Load transparency: the r9 record overstated the engine 17% total
    // (5x on single queries) purely from box load, and only a judge
    // re-run could tell. Capture /proc/loadavg at start and end so the
    // record itself says whether the box was quiet; the full detail
    // (1/5/15-min loads + every query's rep vector, which cannot fit
    // in the driver's bounded tail window) goes to BENCH_DETAIL.json.
    def loadavg(): Seq[Double] =
      try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
    val loadStart = loadavg()
    val spark = GraftSession.forRegistry().getOrCreate()
    // ERROR, not WARN: executor-side WARN spam (e.g. WindowExec's
    // single-partition notice) would otherwise land in the same bounded
    // tail buffer the driver parses the metric line out of.
    spark.sparkContext.setLogLevel("ERROR")
    val selected = select(Nil)
    // key-collision check BEFORE any work: this is knowable from the
    // registry alone, and failing it after the multi-minute warmup +
    // timed run would discard the whole bench (no metric line printed,
    // driver records parsed=null)
    require(selected.map(p => p._1.takeWhile(_ != '_')).toSet.size == selected.size,
      "qNN bench-key prefixes collide; JSON would drop a timing")
    val warmupErrors = warmup(spark, selected)
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // Median-of-N timed reps per query: GC isolation alone is not
    // enough when the whole MACHINE is loaded during the run — single
    // measurements recorded 3-6x steady state on specific queries
    // (q89 6.06s recorded vs 0.86-1.2s re-run isolated, same config).
    // The median of 3 is robust to one arbitrarily bad rep; the
    // per-query max is kept (summed below, detail on stderr) so a real
    // tail regression stays visible instead of being median'd away.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val results: Seq[(String, Seq[Rep])] =
      selected.map { case (name, fn) =>
        name -> timeReps(spark, fn, sfDir, reps) { e =>
          if (failed.add(name))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
    // a FAILED query's reps measure time-to-error (often ~50ms) — summing
    // them would silently DEFLATE the headline total while the run looks
    // faster; failed queries are excluded from the totals and the
    // per-query dict, and reported only through "errors"
    val ok = results.filterNot { case (n, _) => failed.contains(n) }
    val medians = ok.map { case (n, rs) => n -> median(rs.map(_.seconds)) }.toMap
    results.foreach { case (n, rs) =>
      System.err.println(s"[bench] $n reps=" +
        rs.map(r => f"${r.seconds}%.2f").mkString(",") +
        " compiles=" + rs.map(_.compiles).mkString(","))
    }
    // The driver parses the metric line out of a bounded tail buffer of
    // the sbt output (last ~2000 chars, with sbt's own epilogue after
    // ours) — keep the whole line comfortably inside that window:
    // per-query keys shortened to their qNN prefix (full names are in
    // SparkEntry.queries / CORRECTNESS), 2-decimal times, numeric sf,
    // no whitespace. At 74 queries the full-name form would overflow
    // the window and the driver would record parsed=null.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // line-budget precision: 2 decimals under 1s (where they carry
    // signal), 1 decimal at >= 1s, trailing zeros stripped — at 167
    // queries the full-2-decimal form sat 1978/2000 chars of the
    // driver's tail window, leaving no room for the next round's
    // queries. Exact rep vectors live in BENCH_DETAIL.json.
    def fmtq(v: Double): String = {
      val s =
        if (v >= 1.0) String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
        else fmt(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    def short(name: String): String = name.takeWhile(_ != '_')
    def qsAt(f: Double => String): String = medians.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + short(k) + "\":" + f(v) }
      .mkString("{", ",", "}")
    // self-limiting: if the mixed-precision form would push the line
    // past the driver's tail window, degrade sub-second entries to 1
    // decimal too — the query count grows every round, and a clipped
    // line records parsed=null, which is worse than a coarser decimal
    // (exact rep vectors are in BENCH_DETAIL.json either way)
    def fmtq1(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    val qsFull = qsAt(fmtq)
    val total = if (medians.nonEmpty) medians.values.sum else 0.0
    // sum of per-query WORST reps: total stays the robust number, but
    // a tail regression (one query 5x slower on every rep) still moves
    // max; per-query rep detail is on stderr above.
    val maxTotal = ok.map { case (_, rs) => rs.map(_.seconds).max }.sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val loadEnd = loadavg()
    // 1-min load at start and end, 1 decimal: enough to adjudicate a
    // loaded run (quiet box ~0-2 on 32 cpus vs the bench's own ~10-30),
    // small enough to keep the metric line inside the tail window
    def fmt1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val loadJ = s"[${fmt1(loadStart.head)},${fmt1(loadEnd.head)}]"
    // Full adjudication detail — per-query rep vectors under full
    // names plus 1/5/15-min loads — is ~5 KB at 160 queries and would
    // blow the driver's ~2000-char tail buffer, so it goes to a
    // sidecar committed next to the round artifacts.
    val detail = new StringBuilder
    detail ++= s"""{"sf":$sfNum,"reps":$reps,"cpus":$cpus,"""
    detail ++= s""""total_median":${fmt(total)},"total_max":${fmt(maxTotal)},"""
    detail ++= s""""load_start":${loadStart.map(fmt).mkString("[", ",", "]")},"""
    detail ++= s""""load_end":${loadEnd.map(fmt).mkString("[", ",", "]")},"""
    // full (unshortened) names, ALWAYS present (even when empty): the
    // detail artifact must be adjudicable alone, and a failed query's
    // rep vector measures time-to-error — a reader summing rep_times
    // without this marker would reproduce the deflated-total bug the
    // metric line already guards against
    detail ++= failed.toSeq.sorted.map(jstr)
      .mkString("\"errors\":[", ",", "],")
    // warmup failures: not in the metric line or the totals (the timed
    // pass decides those), but recorded so a small-SF break is visible
    detail ++= warmupErrors.map(jstr).mkString("\"warmup_errors\":[", ",", "],")
    detail ++= results.map { case (n, rs) =>
      "\"" + n + "\":" + rs.map(r => fmt(r.seconds)).mkString("[", ",", "]")
    }.mkString("\"rep_times\":{", ",", "},")
    // classes compiled in each timed rep: after the warmup, anything
    // but 0 is Janino time inside the rep
    detail ++= results.map { case (n, rs) =>
      "\"" + n + "\":" + rs.map(_.compiles).mkString("[", ",", "]")
    }.mkString("\"rep_compiles\":{", ",", "}}")
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json", "UTF-8")
      try w.println(detail.result()) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_DETAIL.json write failed: $e")
    }
    // The QUIET PIN (r13 lesson: the driver's own bench overwrote the
    // committed BENCH_DETAIL.json in the working tree and the round's
    // quiet adjudication record survived only in git history). Written
    // ONLY when the builder sets SPARK_GRAFT_BENCH_PIN — the driver
    // never does — to a separately-named committed file nothing else
    // writes: per-query medians under FULL names, loads, and the git
    // HEAD the jar was built from. BenchBudgetSpec reads it as the
    // bench-economics sidecar (coverage + per-query/total budgets),
    // the BENCH analog of tools/ORACLE_TIMING.json.
    if (sys.env.contains("SPARK_GRAFT_BENCH_PIN")) {
      def gitHead(): String =
        try {
          val head = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(".git/HEAD")), "UTF-8").trim
          if (head.startsWith("ref: ")) {
            val ref = head.stripPrefix("ref: ")
            val loose = java.nio.file.Paths.get(".git", ref)
            if (java.nio.file.Files.exists(loose))
              new String(java.nio.file.Files.readAllBytes(loose), "UTF-8").trim
            else {
              // packed ref (after git gc/pack-refs): scan packed-refs
              // for "<sha> <ref>" — provenance must survive a repack
              val src = scala.io.Source.fromFile(".git/packed-refs", "UTF-8")
              try src.getLines()
                .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
                .map(_.split("\\s+")(0)).getOrElse("unknown")
              finally src.close()
            }
          } else head
        } catch { case _: Throwable => "unknown" }
      val pin = new StringBuilder
      pin ++= s"""{"sf":$sfNum,"reps":$reps,"cpus":$cpus,"""
      pin ++= s""""git_head":${jstr(gitHead())},"""
      pin ++= s""""total_median":${fmt(total)},"""
      pin ++= s""""load_start":${loadStart.map(fmt).mkString("[", ",", "]")},"""
      pin ++= s""""load_end":${loadEnd.map(fmt).mkString("[", ",", "]")},"""
      pin ++= failed.toSeq.sorted.map(jstr)
        .mkString("\"errors\":[", ",", "],")
      pin ++= medians.toSeq.sortBy(_._1).map { case (n, v) =>
        jstr(n) + ":" + fmt(v)
      }.mkString("\"median_s\":{", ",", "}}")
      try {
        val w = new java.io.PrintWriter("BENCH_PIN.json", "UTF-8")
        try w.println(pin.result()) finally w.close()
        System.err.println("[bench] wrote quiet pin BENCH_PIN.json")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_PIN.json write failed: $e")
      }
    }
    // lean on purpose: "max" (worst-rep sum) and per-query rep vectors
    // live in BENCH_DETAIL.json; "errors" appears only when non-empty —
    // every char here competes with per-query entries for the driver's
    // ~2000-char tail window (161 queries hit 1950 with all fields in)
    // error names shortened like the query keys: a failure-heavy run
    // must not blow the window with full names on exactly the line
    // that most needs to parse
    val errsField =
      if (failed.isEmpty) ""
      else failed.map("\"" + short(_) + "\"")
        .mkString(""","errors":[""", ",", "]")
    // the budget check covers the WHOLE line (fixed fields + errors),
    // not just the per-query map: degrade precision only when the
    // assembled line would actually approach the window
    def assemble(qsMap: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsMap,"reps":$reps,"load":$loadJ$errsField,"sf":$sfNum}"""
    val lineFull = assemble(qsFull)
    // Final degrade tier: at 195 queries even the 1-decimal map
    // overflowed the window and the driver recorded parsed=null (the
    // r11 artifact — the whole line was clipped from the FRONT, losing
    // "metric"/"value"). Keep the headline total exact and degrade the
    // per-query map to the K slowest queries (the ones a reader would
    // time-box first); the full map lives in BENCH_DETAIL.json.
    def topK(k: Int): String = {
      val top = medians.toSeq.sortBy { case (n, v) => (-v, n) }.take(k)
        .map { case (n, v) => short(n) -> v }.sortBy(_._1)
      top.map { case (n, v) => "\"" + n + "\":" + fmtq1(v) }
        .mkString("{", ",", "}")
    }
    val metricLine =
      if (lineFull.length <= 1900) lineFull
      else {
        val l1 = assemble(qsAt(fmtq1))
        if (l1.length <= 1900) l1
        else Iterator.from(medians.size, -10).map(k => assemble(topK(k)))
          .find(_.length <= 1900).get // k=0 yields "{}" — always fits
      }
    if (metricLine.length > 1950)
      System.err.println(s"[bench] WARNING metric line ${metricLine.length} chars " +
        "— approaching the driver's ~2000-char tail window")
    // Stop Spark BEFORE printing so nothing (shutdown hooks, executor
    // teardown) can write after the metric line — it must be the final
    // stdout line for the driver's tail parser.
    spark.stop()
    println(metricLine)
    System.out.flush()
  }
}
