package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The bench-ECONOMICS regression guard — the BENCH analog of
  * OracleTimingSpec. The registry grew 195 -> 201 -> 210 queries over
  * three rounds and the quiet bench total grew ~152 -> ~214 s with
  * nothing in-repo failing when a newly registered face was expensive
  * (r13: one face deliberately priced two full graph builds at ~9 s
  * quiet). The committed quiet pin (`BENCH_PIN.json`, written only by
  * a builder-run `SPARK_GRAFT_BENCH_PIN=1 runMain graft.Bench` on a
  * quiet box — the driver never writes it, so it can't be clobbered
  * like BENCH_DETAIL.json was in r13) must:
  *
  *  - cover EVERY registered query by full name (adding a query
  *    without re-pinning fails here — the freshness half);
  *  - carry no per-query quiet median over [[PerQueryBudgetS]];
  *  - sum under [[TotalBudgetS]];
  *  - have been taken on a quiet box (1-min load at start under
  *    [[MaxPinLoad]]) with zero failed queries.
  *
  * Failing here means: time the new face, trim it or justify raising
  * the budget IN THIS FILE (a reviewed constant, not silent drift),
  * re-run the full quiet bench with the pin env set, and commit the
  * refreshed BENCH_PIN.json.
  */
class BenchBudgetSpec extends AnyFunSuite {

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Quiet per-query ceiling. The heaviest audited faces (the graph
    * lifecycle's delete+serve) sit at ~7 s quiet; anything over this
    * is either a perf bug or a face that needs an explicit budget
    * discussion.
    */
  private val PerQueryBudgetS = 8.0

  /** Quiet full-registry ceiling — the accretion backstop the
    * load-sensitive 2x bench gate (BASELINE.md) can't provide. The
    * committed pin records 163.07 s over 214 queries (taken at
    * `49d25c6`); the ceiling was set ~10% above the 223.7-236.7 s band
    * that same-code quiet pins drifted across in the r12-r14
    * adjudications, before the r15 optimizations. Every future addition
    * must either fit the headroom or raise this constant in review —
    * the point is that raising it is a visible, argued act, not drift.
    */
  private val TotalBudgetS = 260.0

  /** A pin taken under load is not a quiet record (r13: the same jar
    * spanned 154-250 s with box load; 1-min loadavg at start is the
    * committed provenance).
    */
  private val MaxPinLoad = 2.0

  private lazy val root: JValue = JsonMethods.parse(new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_PIN.json")), "UTF-8"))

  private lazy val medians: Map[String, Double] = root \ "median_s" match {
    case JObject(fields) => fields.collect {
      case (k, JDouble(v)) => k -> v
      case (k, JInt(v)) => k -> v.toDouble
      case (k, JDecimal(v)) => k -> v.toDouble
    }.toMap
    case other => fail(s"median_s is not an object: $other")
  }

  test("pin covers every registered query by name (freshness)") {
    val missing = graft.SparkEntry.queries.keySet -- medians.keySet
    assert(missing.isEmpty,
      "queries missing from the committed quiet pin: " +
        s"${missing.toSeq.sorted.mkString(", ")} — run the full bench " +
        "with SPARK_GRAFT_BENCH_PIN=1 on a quiet box and commit " +
        "BENCH_PIN.json")
    // BOTH directions: a deleted query's stale median would otherwise
    // keep inflating the total against the ceiling (phantom headroom
    // loss) — and a renamed query would half-pass
    val stale = medians.keySet -- graft.SparkEntry.queries.keySet
    assert(stale.isEmpty,
      "pin entries for queries no longer registered: " +
        s"${stale.toSeq.sorted.mkString(", ")} — re-pin")
  }

  test("no registered face over the per-query quiet budget") {
    val over = medians.filter(_._2 > PerQueryBudgetS)
    assert(over.isEmpty,
      s"faces over the ${PerQueryBudgetS}s quiet budget: " +
        over.toSeq.sortBy(-_._2)
          .map { case (n, v) => f"$n=$v%.2fs" }.mkString(", "))
  }

  test("quiet total under the accretion ceiling") {
    val total = medians.values.sum
    assert(total <= TotalBudgetS,
      f"quiet pin total $total%.1fs exceeds the $TotalBudgetS%.0fs ceiling")
  }

  test("pin provenance: quiet box, zero failed queries") {
    val load0 = root \ "load_start" match {
      case JArray(JDouble(l) :: _) => l
      case JArray(JInt(l) :: _) => l.toDouble
      case JArray(JDecimal(l) :: _) => l.toDouble
      case other => fail(s"load_start unreadable: $other")
    }
    assert(load0 <= MaxPinLoad,
      f"pin was taken at 1-min load $load0%.2f — not a quiet record")
    val errs = root \ "errors" match {
      case JArray(xs) => xs
      case other => fail(s"errors unreadable: $other")
    }
    assert(errs.isEmpty, s"pin carries failed queries: $errs")
  }
}
