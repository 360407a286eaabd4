package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second relational/pipeline suite: pivot/unpivot reshaping, URL
  * parsing over synthesized web-log lines (the reference domain is
  * web-browsing logs), window rank distributions, deterministic
  * sampling for training-data curation, JSON->map plumbing,
  * higher-order array functions, word bigrams, and the salted
  * aggregation helper surfaced as a checked query. Every query here is
  * oracle-checked against DuckDB (same determinism contract as
  * [[Relational]]: total ORDER BY, decimal money, identical double
  * formulas both sides).
  */
object Extended {

  // exact money arithmetic — single shared definition point, see Exact
  import Exact.{dec, money}

  /** The single definition of time bucketing shared by the cohort /
    * anomaly kernels (q119-adjacent q122/q123, retention) AND their
    * DuckDB twins: epoch anchor (2024-01-01 UTC, microseconds) and the
    * day/week widths. A re-anchor or re-bucket edit to one kernel
    * without its siblings would silently break the documented
    * batch-vs-prequential relationship — both the Spark expression and
    * the twin SQL fragment interpolate these constants.
    */
  private val EpochAnchorMicros = 1704067200000000L
  private val DayMicros = 86400000000L
  private val WeekMicros = 604800000000L
  private def dayBucket: Column =
    expr(s"(unix_micros(ts) - ${EpochAnchorMicros}L) div ${DayMicros}L")
  private def weekBucket: Column =
    expr(s"(unix_micros(ts) - ${EpochAnchorMicros}L) div ${WeekMicros}L")
  private def duckDayBucket: String =
    s"(epoch_us(ts) - $EpochAnchorMicros) // $DayMicros"
  private def duckWeekBucket: String =
    s"(epoch_us(ts) - $EpochAnchorMicros) // $WeekMicros"

  def all: Seq[QueryDef] = Seq(
    q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75,
    q76, q77, q78, q79, q80, q81, q82, q83, q84, q101, q111, q118, q119, q122,
    q123, q124, q133, q137, q138, q141)

  /** Relational pivot via the first-class DataFrame API (`.pivot` with
    * explicit values — no extra pass to discover them): quantity per
    * linestatus x returnflag. Scale: same plan as conditional
    * aggregation (one partial+final hash agg); explicit pivot values
    * keep it a single job.
    */
  val q63: QueryDef = QueryDef.sql(
    "q63_pivot",
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
      |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(dec(col("l_quantity"))).cast("double"))
      .select(col("l_linestatus"), col("A").as("qty_a"),
        col("N").as("qty_n"), col("R").as("qty_r"))
      .orderBy(col("l_linestatus"))
  }

  /** The inverse reshape: wide per-status counts melted back to long
    * form with the first-class `unpivot` (no UNION of self-scans — one
    * pass; at scale this matters because the UNION form re-reads the
    * fact table once per measure).
    */
  val q64: QueryDef = QueryDef.sql(
    "q64_unpivot",
    """WITH wide AS (
      |  SELECT o_orderpriority,
      |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, status, n FROM (
      |  SELECT o_orderpriority, 'n_f' AS status, n_f AS n FROM wide
      |  UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM wide
      |  UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM wide)
      |ORDER BY o_orderpriority, status""".stripMargin) { (s, dir) =>
    val wide = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"))
    wide.unpivot(
      Array(col("o_orderpriority")),
      Array(col("n_f"), col("n_o"), col("n_p")),
      "status", "n")
      .orderBy(col("o_orderpriority"), col("status"))
  }

  /** Web-log URL analytics (the reference's home domain): synthesize a
    * deterministic request URL per event, split it with the built-in
    * `parse_url` (HOST / PATH are codegen'd string ops — no UDF), and
    * aggregate traffic per page. The DuckDB twin builds the identical
    * string and splits it with regexes. Scale: pure narrow string work
    * fused into the scan stage; the per-page aggregate is partial+final.
    */
  val q65: QueryDef = QueryDef.sql(
    "q65_url_parse",
    """WITH logs AS (
      |  SELECT 'https://www.site' || ((user_id % 8) + 8) % 8 || '.example.com/'
      |           || event_type || '/p' || ((event_id % 50) + 50) % 50
      |           || '.html?uid=' || user_id AS url,
      |         user_id
      |  FROM events)
      |SELECT
      |  regexp_extract(url, '^https://([^/]+)/', 1) AS host,
      |  regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
      |  CAST(count(*) AS BIGINT) AS n_hits,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM logs
      |GROUP BY host, path
      |ORDER BY host, path""".stripMargin) { (s, dir) =>
    // twin parity on junk rows: the twin uses || (NULL-propagating,
    // like Spark's concat — DuckDB's concat() SKIPS nulls and would
    // build a phantom URL from a null-id row) and the ((x%n)+n)%n
    // form of pmod (DuckDB % takes the dividend's sign)
    Tables.events(s, dir)
      .select(
        concat(lit("https://www.site"), pmod(col("user_id"), lit(8)),
          lit(".example.com/"), col("event_type"), lit("/p"),
          pmod(col("event_id"), lit(50)), lit(".html?uid="), col("user_id"))
          .as("url"),
        col("user_id"))
      .select(
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        col("user_id"))
      .groupBy(col("host"), col("path"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("host"), col("path"))
  }

  /** Rank-distribution windows: ntile quartiles, percent_rank and
    * cume_dist per order-month, summarized per (month, quartile). The
    * window is PARTITIONED by month — at scale each partition's sort is
    * local; there is no global single-partition window. Unique
    * tie-break (totalprice, orderkey) pins every rank; percent_rank is
    * the same (rank-1)/(n-1) integer division in both engines, so the
    * doubles are bit-identical.
    */
  val q66: QueryDef = QueryDef.sql(
    "q66_rank_distribution",
    """WITH w AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_totalprice,
      |    ntile(4)       OVER win AS quartile,
      |    percent_rank() OVER win AS pr,
      |    cume_dist()    OVER win AS cd
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  WINDOW win AS (PARTITION BY strftime(o_orderdate, '%Y-%m')
      |                 ORDER BY o_totalprice, o_orderkey))
      |SELECT month, quartile,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  max(pr) AS pr_max, max(cd) AS cd_max
      |FROM w
      |GROUP BY month, quartile
      |ORDER BY month, quartile""".stripMargin) { (s, dir) =>
    val month = date_format(col("o_orderdate"), "yyyy-MM")
    val win = Window.partitionBy(month)
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .select(month.as("month"), col("o_totalprice"),
        ntile(4).over(win).cast("bigint").as("quartile"),
        percent_rank().over(win).as("pr"),
        cume_dist().over(win).as("cd"))
      .groupBy(col("month"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        money(col("o_totalprice")).as("revenue"),
        max(col("pr")).as("pr_max"), max(col("cd")).as("cd_max"))
      .orderBy(col("month"), col("quartile"))
  }

  /** Deterministic stratified sampling — the training-data curation
    * primitive (hold-out splits, per-source caps). The sample key is an
    * explicit Knuth-multiplicative hash both engines compute exactly in
    * BIGINT arithmetic (no engine RNG, so the sample is reproducible
    * anywhere), and the per-stratum cap is a partitioned window top-k.
    * Scale: narrow hash + one exchange on source; no global sort.
    */
  val q67: QueryDef = QueryDef.sql(
    "q67_stratified_sample",
    s"""WITH h AS (
      |  SELECT source, doc_id,
      |    ${Sampling.duckHkey("doc_id")} AS hkey
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, hkey,
      |    row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id) AS rn
      |  FROM h)
      |SELECT source, doc_id, hkey, rn
      |FROM r WHERE rn <= 20
      |ORDER BY source, rn""".stripMargin) { (s, dir) =>
    // NULL keys (junk rows) order LAST, matching DuckDB's default —
    // Spark's ASC-nulls-first would hand a junk doc rank 1, displacing
    // a real doc from every stratum's sample
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hkey").asc_nulls_last, col("doc_id").asc_nulls_last)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        Sampling.hkey(col("doc_id")).as("hkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .orderBy(col("source"), col("rn"))
  }

  /** Histogram-as-map: per-language document-length histogram built as
    * a real MapType column (map_from_entries over sorted buckets), then
    * serialized entry-wise to a canonical string for the cross-engine
    * hash (raw MAP columns can't be row-sorted by the driver's compare).
    * Scale: two partial+final aggregations, KB-sized output.
    */
  val q68: QueryDef = QueryDef.sql(
    "q68_length_histogram",
    """WITH b AS (
      |  SELECT lang, (n_chars // 200) * 200 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY lang, bucket)
      |SELECT lang,
      |  string_agg(bucket || '=' || n, ',' ORDER BY bucket) AS histogram,
      |  CAST(sum(n) AS BIGINT) AS n_docs
      |FROM b GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, dir) =>
    val hist = map_from_entries(
      array_sort(collect_list(struct(col("bucket"), col("n")))))
    Tables.documents(s, dir)
      .groupBy(col("lang"), (floor(col("n_chars") / 200) * 200).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(
        concat_ws(",", transform(map_entries(hist),
          e => concat(e.getField("key"), lit("="), e.getField("value"))))
          .as("histogram"),
        sum(col("n")).as("n_docs"))
      .orderBy(col("lang"))
  }

  /** JSON property extraction through a real MapType: `from_json` the
    * props column into map<string,bigint>, pull the key with
    * element_at, bucket and aggregate. The DuckDB twin extracts the
    * same value by regex. Scale: narrow parse fused into the scan; the
    * aggregate is tiny.
    */
  val q69: QueryDef = QueryDef.sql(
    "q69_json_map",
    """SELECT
      |  (TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) // 10) * 10 AS k_bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY k_bucket
      |ORDER BY k_bucket""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(
        element_at(from_json(col("props"), lit("map<string,bigint>")), "k")
          .as("k"),
        col("value"))
      .groupBy((floor(col("k") / 10) * 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), money(col("value")).as("sum_value"))
      .orderBy(col("k_bucket"))
  }

  /** Higher-order array functions over the embedding vectors: filter /
    * transform / positional fold — all codegen'd builtins, no UDF.
    * n_pos and max_abs are order-independent; rev_dot pins the fold
    * order (index loop) identically in both engines.
    */
  val q70: QueryDef = QueryDef.sql(
    "q70_array_lambdas",
    """SELECT vec_id,
      |  CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS BIGINT) AS n_pos,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
      |  COALESCE(list_position(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) > 0.5), true), 0) AS first_gt,
      |  COALESCE(list_sum(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(embedding[i] AS DOUBLE)
      |         * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))), 0.0) AS rev_dot
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        size(filter(v, x => x > 0)).cast("bigint").as("n_pos"),
        array_max(transform(v, x => abs(x))).as("max_abs"),
        array_position(transform(v, x => x > 0.5), true).as("first_gt"),
        aggregate(zip_with(v, reverse(v), (x, y) => x * y),
          lit(0.0), (a, x) => a + x).as("rev_dot"))
      .orderBy(col("vec_id"))
  }

  /** Word bigram counts over the corpus — the n-gram statistics pass of
    * a language-model data pipeline. Tokens come from one
    * regexp_extract_all; bigrams are built positionally (no
    * self-join). Scale: narrow generate + one partial+final count; the
    * global top-k is a TakeOrdered, not a full sort.
    */
  val q71: QueryDef = QueryDef.sql(
    "q71_bigrams",
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM toks WHERE len(t) >= 2)
      |SELECT bigram, CAST(count(*) AS BIGINT) AS n
      |FROM bg GROUP BY bigram
      |ORDER BY n DESC, bigram LIMIT 25""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => concat(element_at(col("t"), i), lit(" "),
          element_at(col("t"), i + 1)))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(25)
  }

  /** The skew-mitigation helper surfaced as a checked query: two-phase
    * salted aggregation over (hot) supplier keys. Salting is semantics-
    * preserving for additive aggregates, so the oracle is the plain
    * one-phase GROUP BY — the hash-match proves the rewrite exact.
    * Scale: a hot key spreads over `buckets` reducers in phase 1; both
    * exchanges move pre-aggregated rows only.
    */
  val q72: QueryDef = QueryDef.sql(
    "q72_salted_agg",
    """SELECT l_suppkey AS key,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY l_suppkey
      |ORDER BY key""".stripMargin) { (s, dir) =>
    Skew.saltedSumAgg(Tables.lineitem(s, dir), col("l_suppkey"), buckets = 8,
      "n" -> count(lit(1)),
      "revenue" -> sum(dec(col("l_extendedprice"))))
      .select(col("key"), col("n").cast("bigint").as("n"),
        col("revenue").cast("double").as("revenue"))
      .orderBy(col("key"))
  }

  /** RANGE-frame window: per-customer trailing-30-day order revenue.
    * The frame is value-based (epoch-day RANGE, not ROWS), so ties and
    * gaps in order dates are handled identically in both engines; the
    * trailing sum stays exact through DECIMAL. Scale: partitioned by
    * customer — local sorts only, no global window.
    */
  val q73: QueryDef = QueryDef.sql(
    "q73_range_frame",
    """SELECT o_custkey, o_orderkey,
      |  date_diff('day', DATE '1990-01-01', o_orderdate) AS day,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY date_diff('day', DATE '1990-01-01', o_orderdate)
      |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS trailing_30d
      |FROM orders
      |WHERE o_custkey < 300
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin) { (s, dir) =>
    val day = datediff(col("o_orderdate"), lit("1990-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-29, Window.currentRow)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 300)
      .select(col("o_custkey"), col("o_orderkey"), day.as("day"),
        col("o_totalprice"))
      .withColumn("trailing_30d",
        sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .drop("o_totalprice")
      .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
  }

  /** Gap-filled time series: a generated calendar spine (sequence of
    * months x order priorities) LEFT-joined against the monthly
    * aggregate, missing months coalesced to zero — the standard
    * dense-reporting reshape. Scale: the spine is rows(K months x K
    * priorities) — broadcast side; the fact aggregate is partial+final
    * before the join, so the join input is tiny.
    */
  val q74: QueryDef = QueryDef.sql(
    "q74_gap_fill",
    """WITH spine AS (
      |  SELECT strftime(m, '%Y-%m') AS month, o_orderpriority
      |  FROM (SELECT unnest(generate_series(DATE '1995-01-01',
      |                 DATE '1998-12-01', INTERVAL 1 MONTH)) AS m),
      |       (SELECT DISTINCT o_orderpriority FROM orders)),
      |agg AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY month, o_orderpriority)
      |SELECT spine.month, spine.o_orderpriority,
      |  COALESCE(agg.n, 0) AS n,
      |  CAST(COALESCE(agg.rev, 0) AS DOUBLE) AS revenue
      |FROM spine LEFT JOIN agg
      |  ON spine.month = agg.month
      | AND spine.o_orderpriority = agg.o_orderpriority
      |ORDER BY spine.month, spine.o_orderpriority""".stripMargin) { (s, dir) =>
    val months = s.range(1).select(explode(sequence(
      lit("1995-01-01").cast("date"), lit("1998-12-01").cast("date"),
      expr("INTERVAL 1 MONTH"))).as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("month"))
    val prios = Tables.orders(s, dir).select(col("o_orderpriority")).distinct()
    val agg = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
    months.crossJoin(prios)
      .join(agg, Seq("month", "o_orderpriority"), "left")
      .select(col("month"), col("o_orderpriority"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("rev"), lit(0).cast("decimal(18,2)")).cast("double")
          .as("revenue"))
      .orderBy(col("month"), col("o_orderpriority"))
  }

  /** Fuzzy string matching — the edit-distance flavor of near-dup
    * detection (catalog/entity resolution in a curation pipeline).
    * Bounded-subset self-join on part names with `levenshtein` (both
    * engines implement the same Wagner-Fischer distance). Scale path:
    * cap the candidate set first (here a key range; in production a
    * blocking key like first-k chars or a MinHash bucket), never a raw
    * corpus self-join; the filtered cross join broadcasts the bounded
    * side.
    */
  val q75: QueryDef = QueryDef.sql(
    "q75_fuzzy_pairs",
    """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 150)
      |SELECT a.p_partkey AS k1, b.p_partkey AS k2,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM p a JOIN p b ON a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 12
      |ORDER BY k1, k2""".stripMargin) { (s, dir) =>
    val p = Tables.part(s, dir).filter(col("p_partkey") <= 150)
      .select(col("p_partkey"), col("p_name"))
    val a = p.toDF("k1", "n1")
    val b = p.toDF("k2", "n2")
    a.join(broadcast(b), col("k1") < col("k2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("bigint"))
      .filter(col("dist") <= 12)
      .select(col("k1"), col("k2"), col("dist"))
      .orderBy(col("k1"), col("k2"))
  }

  /** Forward-fill imputation: carry each user's last non-null
    * purchase value forward across their event timeline
    * (`last(..., ignoreNulls)` over an unbounded-preceding frame) —
    * the standard sparse-to-dense time-series repair. Scale:
    * partitioned by user, local sorts only.
    */
  val q76: QueryDef = QueryDef.sql(
    "q76_forward_fill",
    """SELECT user_id, event_id,
      |  CAST(COALESCE(last_value(CASE WHEN event_type = 'purchase' THEN
      |    CAST(value AS DECIMAL(18,2)) END IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
      |    AS DOUBLE) AS last_purchase
      |FROM events
      |WHERE user_id < 40
      |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .filter(col("user_id") < 40)
      .select(col("user_id"), col("event_id"),
        // -1 sentinel for "no purchase yet": cross-engine NULL
        // stringification differs, and the sentinel is unambiguous here
        coalesce(
          last(when(col("event_type") === "purchase", dec(col("value"))),
            ignoreNulls = true).over(w),
          lit(-1).cast("decimal(18,2)")).cast("double").as("last_purchase"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Boolean / conditional aggregates: count_if, bool_and/bool_or,
    * any-value-free deterministic forms — per order priority. Both
    * engines share these names and semantics.
    */
  val q77: QueryDef = QueryDef.sql(
    "q77_bool_aggs",
    """SELECT o_orderpriority,
      |  CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
      |  bool_and(o_totalprice > 0) AS all_positive,
      |  bool_or(o_orderstatus = 'P') AS any_pending,
      |  CAST(max(CASE WHEN o_orderstatus = 'P'
      |    THEN o_orderkey END) AS BIGINT) AS max_pending_key
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count_if(col("o_totalprice") > 100000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderstatus") === "P").as("any_pending"),
        max(when(col("o_orderstatus") === "P", col("o_orderkey")))
          .cast("bigint").as("max_pending_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bag-semantics set operations: EXCEPT ALL / INTERSECT ALL keep
    * duplicate multiplicity (q11/q35 cover the distinct forms). The
    * multiset of per-order line counts on the two sides differs in how
    * many times each count value appears — exactly what ALL preserves
    * and DISTINCT erases.
    */
  val q78: QueryDef = QueryDef.sql(
    "q78_set_ops_all",
    """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 45),
      |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
      |SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) GROUP BY k
      |UNION ALL
      |SELECT 'intersect_all' AS op, k, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
      |ORDER BY op, k""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val a = li.filter(col("l_quantity") > 45).select(col("l_suppkey").as("k"))
    val b = li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
    val ex = a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("k"), col("n"))
    val in = a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("k"), col("n"))
    ex.unionAll(in).orderBy(col("op"), col("k"))
  }

  /** NOT IN three-valued logic: one NULL in the subquery makes
    * `x NOT IN (...)` UNKNOWN for every row (zero rows survive), while
    * the NOT EXISTS form is null-safe and keeps its rows — the classic
    * SQL-semantics trap, asserted identically on both engines in one
    * two-row summary.
    */
  val q79: QueryDef = QueryDef.sql(
    "q79_not_in_nulls",
    """SELECT 'not_in_with_null' AS variant, CAST(count(*) AS BIGINT) AS n
      |FROM customer WHERE c_nationkey NOT IN
      |  (SELECT NULLIF(n_nationkey, 3) FROM nation)
      |UNION ALL
      |SELECT 'not_exists', CAST(count(*) AS BIGINT)
      |FROM customer c WHERE NOT EXISTS
      |  (SELECT 1 FROM nation n
      |   WHERE NULLIF(n.n_nationkey, 3) = c.c_nationkey)
      |ORDER BY variant""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir).createOrReplaceTempView("graft_q79_customer")
    Tables.nation(s, dir).createOrReplaceTempView("graft_q79_nation")
    s.sql(
      """SELECT 'not_in_with_null' AS variant, CAST(count(*) AS BIGINT) AS n
        |FROM graft_q79_customer WHERE c_nationkey NOT IN
        |  (SELECT NULLIF(n_nationkey, 3) FROM graft_q79_nation)
        |UNION ALL
        |SELECT 'not_exists', CAST(count(*) AS BIGINT)
        |FROM graft_q79_customer c WHERE NOT EXISTS
        |  (SELECT 1 FROM graft_q79_nation n
        |   WHERE NULLIF(n.n_nationkey, 3) = c.c_nationkey)
        |ORDER BY variant""".stripMargin)
  }

  /** Linear-regression aggregates from exact decimal sums (the q58
    * precedent): slope / intercept / r² of price on quantity per
    * returnflag, with the identical literal formula over
    * decimal-exact Σx, Σx², Σy, Σy², Σxy on both engines so the
    * doubles are bit-identical — the built-in regr_* functions
    * accumulate in engine-specific order and would not hash-match.
    */
  val q80: QueryDef = QueryDef.sql(
    "q80_regression",
    """SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 9) AS slope,
      |  round((sy - sx * ((n * sxy - sx * sy) / (n * sx2 - sx * sx))) / n, 9)
      |    AS intercept,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 9) AS r2
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy2,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val qd = dec(col("l_quantity"))
    val pd = col("l_extendedprice").cast("decimal(12,2)")
    val base = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(qd).cast("double").as("sx"),
        sum(qd * qd).cast("double").as("sx2"),
        sum(pd).cast("double").as("sy"),
        sum(pd * pd).cast("double").as("sy2"),
        sum(qd * pd).cast("double").as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sx2") - col("sx") * col("sx"))
    base.select(col("l_returnflag"), col("n").cast("bigint").as("n"),
      round(slope, 9).as("slope"),
      round((col("sy") - col("sx") * slope) / col("n"), 9).as("intercept"),
      round(((col("n") * col("sxy") - col("sx") * col("sy"))
          * (col("n") * col("sxy") - col("sx") * col("sy")))
        / ((col("n") * col("sx2") - col("sx") * col("sx"))
          * (col("n") * col("sy2") - col("sy") * col("sy"))), 9).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q21 shape: suppliers whose lineitems are the ONLY late ones
    * on a multi-supplier order — a semi-join (another supplier shipped
    * the same order) stacked on an anti-join (no other supplier was
    * late) over the same fact table, the classic multi-correlation
    * stress. Scale: both correlations are equi-joins on l_orderkey;
    * the fact shuffles once per correlated branch.
    */
  val q81: QueryDef = QueryDef.sql(
    "q81_only_late_supplier",
    """SELECT l1.l_suppkey, CAST(count(*) AS BIGINT) AS n_waiting
      |FROM lineitem l1
      |WHERE l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY l1.l_suppkey
      |ORDER BY n_waiting DESC, l_suppkey
      |LIMIT 50""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_q81_lineitem")
    s.sql(
      """SELECT l1.l_suppkey, CAST(count(*) AS BIGINT) AS n_waiting
        |FROM graft_q81_lineitem l1
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM graft_q81_lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q81_lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY l1.l_suppkey
        |ORDER BY n_waiting DESC, l_suppkey
        |LIMIT 50""".stripMargin)
  }

  /** Bitwise function surface: AND/OR/XOR, shifts, popcount over key
    * integers — the primitive layer under the SimHash/banding dedup
    * operators, exercised directly and hash-checked (pure BIGINT
    * arithmetic, identical in any engine).
    */
  val q82: QueryDef = QueryDef.sql(
    "q82_bitops",
    """SELECT l_orderkey,
      |  CAST(l_orderkey & l_partkey AS BIGINT) AS k_and,
      |  CAST(l_orderkey | l_partkey AS BIGINT) AS k_or,
      |  CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS k_xor,
      |  CAST(l_partkey << 3 AS BIGINT) AS k_shl,
      |  CAST(l_orderkey >> 2 AS BIGINT) AS k_shr,
      |  CAST(bit_count(l_orderkey) AS BIGINT) AS k_pop
      |FROM lineitem
      |WHERE l_orderkey < 400 AND l_linenumber = 1
      |ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 400 && col("l_linenumber") === 1)
      .select(col("l_orderkey"),
        col("l_orderkey").bitwiseAND(col("l_partkey")).as("k_and"),
        col("l_orderkey").bitwiseOR(col("l_partkey")).as("k_or"),
        col("l_orderkey").bitwiseXOR(col("l_partkey")).as("k_xor"),
        shiftleft(col("l_partkey"), 3).as("k_shl"),
        shiftright(col("l_orderkey"), 2).as("k_shr"),
        bit_count(col("l_orderkey")).cast("bigint").as("k_pop"))
      .orderBy(col("l_orderkey"))
  }

  /** Array set operations over token arrays: distinct-union /
    * intersect / except against a fixed keyword list, results sorted
    * for cross-engine hashing (Spark and DuckDB disagree on preserved
    * order, not membership).
    */
  val q83: QueryDef = QueryDef.sql(
    "q83_array_setops",
    s"""WITH t AS (
      |  SELECT doc_id,
      |    list_distinct(${TwinSql.toksOf("lower(text)")}) AS toks
      |  FROM documents WHERE doc_id < 50)
      |SELECT doc_id,
      |  COALESCE(array_to_string(list_sort(list_intersect(toks,
      |    ['the','and','data','model','learning'])), ' '), '') AS kw_hits,
      |  CAST(len(list_filter(toks,
      |    x -> NOT list_contains(['the','and','data','model','learning'], x)))
      |    AS BIGINT) AS n_other
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val kws = array(Seq("the", "and", "data", "model", "learning").map(lit): _*)
    val toks = array_distinct(filter(
      split(lower(col("text")), "\\s+"), x => x =!= ""))
    Tables.documents(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        concat_ws(" ", array_sort(array_intersect(toks, kws))).as("kw_hits"),
        size(array_except(toks, kws)).cast("bigint").as("n_other"))
      .orderBy(col("doc_id"))
  }

  /** Semi-structured data through the VARIANT type (Spark 4): props
    * parsed once into variant, fields pulled with typed variant_get —
    * the open-schema ingestion path (no up-front schema, binary-encoded
    * storage, typed extraction at query time). The DuckDB twin extracts
    * the same value from the raw JSON text; outputs are plain BIGINTs
    * so the cross-engine hash applies.
    */
  val q84: QueryDef = QueryDef.sql(
    "q84_variant",
    """SELECT
      |  TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 7 AS k_mod,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_min,
      |  CAST(max(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS k_max
      |FROM events
      |GROUP BY k_mod
      |ORDER BY k_mod""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      // try_parse_json, not parse_json: strict parsing crashes the
      // whole job on ONE malformed props row, where the twin's
      // regex+TRY_CAST and q124's codified PERMISSIVE contract for
      // this very column both degrade row-local (k = NULL)
      .select(try_variant_get(try_parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy((col("k") % 7).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy(col("k_mod"))
  }

  /** Range-lookup join with no equi key (GeoIP-table shape): each
    * event's value against per-supplier [lo, hi) bands, via
    * [[RangeJoin.pointInInterval]]'s binned equi-join — a shuffled
    * hash/sort-merge join on the bin, never the nested loop Spark
    * would otherwise plan for a pure inequality join. The DuckDB twin
    * runs the naive theta join, proving the binned rewrite exact
    * (identical double band formulas both sides, money sum through
    * DECIMAL).
    */
  val q101: QueryDef = QueryDef.sql(
    "q101_range_lookup",
    """WITH bands AS (
      |  SELECT s_suppkey, s_acctbal / 25.0 AS lo,
      |    s_acctbal / 25.0 + (3.0 * CAST(s_suppkey % 7 AS DOUBLE) + 5.0) AS hi
      |  FROM supplier)
      |SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY s_suppkey
      |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val lo = col("s_acctbal") / lit(25.0)
    val bands = Tables.supplier(s, dir).select(
      col("s_suppkey"), lo.as("lo"),
      (lo + (lit(3.0) * (col("s_suppkey") % 7).cast("double") + lit(5.0)))
        .as("hi"))
    // fanout (r15): the broadcast range-join + partial aggregation ran
    // entirely inside the single-split events scan task (StageProbe:
    // one 1.46 s single-task stage, shufW 24 KB — the whole query);
    // redistributing by value spreads the probe across the machine.
    // Identity on a production multi-split layout (see Tables.fanout).
    val points = Tables.fanout(
      Tables.events(s, dir).select(col("value")), col("value"))
    RangeJoin.pointInInterval(points, "value", bands, "lo", "hi",
      binWidth = 10.0)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_events"), money(col("value")).as("sum_value"))
      .orderBy(col("s_suppkey"))
  }

  /** Time-windowed event debounce (q111): drop an event when the SAME
    * (user, event_type) fired within the preceding 5 minutes — the
    * double-click / retry-storm dedup every clickstream ingest runs.
    * Lag-based semantics (each event compares to its immediate
    * predecessor, kept or not): expressible as one window pass, unlike
    * the stateful "previous KEPT event" chain. Deterministic ties via
    * (ts, event_id) ordering.
    *
    * Scale: ONE exchange total — a RANGE partition on the window's own
    * cluster keys up front. RangePartitioning(user_id, event_type)
    * satisfies the window's ClusteredDistribution (equal keys land in
    * one range bucket), so the window adds only a local sort; and
    * because range partitions are globally ordered, the deterministic
    * total order the oracle needs comes from sortWithinPartitions —
    * no second (range-sort) exchange over the corpus-sized output, the
    * global-sort-audit conversion pattern (PLANS.md): a partitioned
    * sink reads back in partition-index order, already globally
    * sorted. SortAuditSpec pins the single-exchange plan and equality
    * with the orderBy formulation.
    */
  val q111: QueryDef = QueryDef.sql(
    "q111_event_debounce",
    """WITH marked AS (
      |  SELECT user_id, event_type, event_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id, event_type
      |                  ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |SELECT user_id, event_type, event_id,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
      |FROM marked
      |WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 5 MINUTE
      |ORDER BY user_id, event_type, event_id""".stripMargin) { (s, dir) =>
    // nulls-last on ts: Spark's default (nulls FIRST) would disagree
    // with the twin on which event is "previous" around a junk row
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    Tables.events(s, dir)
      .repartitionByRange(col("user_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 300000000L)
      .select(col("user_id"), col("event_type"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .sortWithinPartitions(col("user_id"), col("event_type"), col("event_id"))
  }

  /** Sequenced conversion funnel (q118): view -> click -> purchase,
    * each step strictly AFTER the user's previous step (min qualifying
    * timestamp) — the product-analytics funnel where an ordered path
    * counts, not mere event presence. Emits one row per step with the
    * distinct-user count and conversion vs step 1.
    *
    * Scale: the three step timestamps are chained window aggregates
    * over the SAME user_id partitioning — Catalyst plans them as
    * successive Window ops on ONE exchange (no join-back per step,
    * which is the naive 3-self-join shape); the final rollup is a
    * 3-row aggregate. Timestamps compare as exact integer micros.
    */
  val q118: QueryDef = QueryDef.sql(
    "q118_event_funnel",
    """WITH m AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tsm FROM events),
      |t1s AS (
      |  SELECT user_id, tsm, event_type,
      |    min(CASE WHEN event_type = 'view' THEN tsm END)
      |      OVER (PARTITION BY user_id) AS t1
      |  FROM m),
      |t2s AS (
      |  SELECT user_id, tsm, event_type, t1,
      |    min(CASE WHEN event_type = 'click' AND tsm > t1 THEN tsm END)
      |      OVER (PARTITION BY user_id) AS t2
      |  FROM t1s),
      |t3s AS (
      |  SELECT user_id, t1, t2,
      |    min(CASE WHEN event_type = 'purchase' AND tsm > t2 THEN tsm END)
      |      OVER (PARTITION BY user_id) AS t3
      |  FROM t2s),
      |u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      |      FROM t3s GROUP BY user_id),
      |c AS (
      |  SELECT CAST(count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS BIGINT) AS u1,
      |    CAST(count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS BIGINT) AS u2,
      |    CAST(count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS BIGINT) AS u3
      |  FROM u)
      |SELECT step, users,
      |  CASE WHEN u1 > 0
      |    THEN CAST(users AS DOUBLE) / CAST(u1 AS DOUBLE) END AS conversion
      |FROM (
      |  SELECT 1 AS step, u1 AS users, u1 FROM c
      |  UNION ALL SELECT 2, u2, u1 FROM c
      |  UNION ALL SELECT 3, u3, u1 FROM c)
      |ORDER BY step""".stripMargin) { (s, dir) =>
    funnel(Tables.events(s, dir), Seq("view", "click", "purchase"))
  }

  /** The q118 kernel, parameterized by the ordered step list: each
    * step's timestamp is the min event of that type strictly AFTER the
    * user's previous step; returns (step, users, conversion).
    */
  def funnel(events: org.apache.spark.sql.DataFrame,
             steps: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col("user_id"))
    val base = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsm"))
    val withSteps = steps.zipWithIndex.foldLeft(base) { case (df, (st, i)) =>
      val cond =
        if (i == 0) col("event_type") === st
        else col("event_type") === st && col("tsm") > col(s"t$i")
      df.withColumn(s"t${i + 1}", min(when(cond, col("tsm"))).over(w))
    }
    val perUser = withSteps.groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"),
        steps.indices.drop(1).map(i => max(col(s"t${i + 1}")).as(s"t${i + 1}")): _*)
    val c = perUser.agg(
      count(when(col("t1").isNotNull, lit(1))).as("u1"),
      steps.indices.drop(1).map(i =>
        count(when(col(s"t${i + 1}").isNotNull, lit(1))).as(s"u${i + 1}")): _*)
    c.select(explode(array(
        steps.indices.map(i =>
          struct(lit((i + 1).toLong).as("step"), col(s"u${i + 1}").as("users"),
            col("u1").as("base"))): _*)).as("r"))
      .select(col("r.step").as("step"),
        col("r.users").cast("bigint").as("users"),
        // empty-funnel guard: 0/0 NaN hashes differently across
        // engines; NULL is NULL on both
        when(col("r.base") > 0,
          col("r.users").cast("double") / col("r.base").cast("double"))
          .as("conversion"))
      .orderBy(col("step"))
  }

  /** Weekly retention cohorts (q119): users bucketed by the week of
    * their FIRST event (any type); each (cohort week, week offset)
    * cell counts the cohort's users active that week — the classic
    * retention triangle.
    *
    * Scale: the cohort week is a min-window over the same user_id
    * exchange the activity rows already need; the cell rollup
    * aggregates (cohort, offset, user) — distinct-user counting is
    * partial+final over a cardinality bounded by users x weeks. All
    * arithmetic is integer micros (floor division on non-negative
    * offsets, where Spark `div` and DuckDB `//` agree).
    */
  val q119: QueryDef = QueryDef.sql(
    "q119_retention_cohorts",
    s"""WITH wkt AS (
      |  SELECT user_id,
      |    ${duckWeekBucket} AS wk
      |  FROM events),
      |ch AS (
      |  SELECT user_id, wk,
      |    min(wk) OVER (PARTITION BY user_id) AS cohort_week
      |  FROM wkt)
      |SELECT cohort_week, wk - cohort_week AS week_offset,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      |FROM ch GROUP BY cohort_week, wk - cohort_week
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
    retentionCohorts(Tables.events(s, dir))
  }

  /** The q119 kernel: weekly retention triangle over (user_id, ts). */
  def retentionCohorts(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"),
        weekBucket.as("wk"))
      .withColumn("cohort_week", min(col("wk")).over(w))
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Per-user event-rate anomalies (q122): a user's daily event count
    * flagged when it exceeds their own mean + 3 sample standard
    * deviations — the self-baselined burst detector (abuse/bot/retry
    * storms) that needs no global threshold. Users with one active day
    * have no variance and are skipped.
    *
    * Float discipline: mean and variance come from EXACT integer sums
    * (n, Σx, Σx²) — var = (n·Σx² − (Σx)²) / (n·(n−1)) is one double
    * division of two exact integers, std one correctly-rounded sqrt —
    * so the 3σ threshold is bit-identical across engines with no
    * rounding tricks at all.
    *
    * Scale: day bucketing is narrow (integer micros div); the per-user
    * stats are ONE partial+final aggregate over (user, day) counts
    * (user-days-sized, not event-sized); flagged rows join stats back
    * user-keyed. No windows over the raw event stream.
    */
  val q122: QueryDef = QueryDef.sql(
    "q122_event_rate_anomalies",
    s"""WITH d AS (
      |  SELECT user_id,
      |    ${duckDayBucket} AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY user_id, day),
      |s AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS nd,
      |    CAST(sum(cnt) AS BIGINT) AS sx,
      |    CAST(sum(cnt * cnt) AS BIGINT) AS sxx
      |  FROM d GROUP BY user_id),
      |j AS (
      |  SELECT d.user_id, d.day, d.cnt,
      |    CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE) AS mean_cnt,
      |    sqrt(CAST(nd * sxx - sx * sx AS DOUBLE)
      |      / CAST(nd * (nd - 1) AS DOUBLE)) AS std_cnt
      |  FROM d JOIN s USING (user_id) WHERE nd >= 2)
      |SELECT user_id, day, cnt, mean_cnt, std_cnt
      |FROM j
      |WHERE CAST(cnt AS DOUBLE) > mean_cnt + 3.0 * std_cnt
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    rateAnomalies(Tables.events(s, dir), sigma = 3.0)
  }

  /** The q122 kernel: per-user daily counts flagged above the user's
    * own mean + sigma sample standard deviations (whole-history
    * baseline; see [[prequentialAnomalies]] for the online form).
    */
  def rateAnomalies(events: org.apache.spark.sql.DataFrame,
                    sigma: Double): org.apache.spark.sql.DataFrame = {
    val d = events
      .groupBy(col("user_id"),
        dayBucket.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val st = d.groupBy(col("user_id"))
      .agg(count(lit(1)).as("nd"), sum(col("cnt")).as("sx"),
        sum(col("cnt") * col("cnt")).as("sxx"))
      .filter(col("nd") >= 2)
    d.join(st, "user_id")
      .select(col("user_id"), col("day"), col("cnt"),
        (col("sx").cast("double") / col("nd").cast("double")).as("mean_cnt"),
        sqrt((col("nd") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("nd") * (col("nd") - 1)).cast("double")).as("std_cnt"))
      .filter(col("cnt").cast("double") >
        col("mean_cnt") + lit(sigma) * col("std_cnt"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Prequential event-rate anomalies (q123): q122's detector in its
    * ONLINE form — each day is judged against the stats of the user's
    * STRICTLY EARLIER days only (what a monitor knew at the time), the
    * exact batch twin of the streaming
    * [[graft.streaming.EventStreams.rateAnomalies]] (stream == batch
    * spec-proven). Same integer-sum float discipline as q122; the
    * running n/Σx/Σx² are cumulative window sums over the
    * user-day-sized count table, so the added cost over q122 is nil.
    */
  val q123: QueryDef = QueryDef.sql(
    "q123_prequential_anomalies",
    s"""WITH d AS (
      |  SELECT user_id,
      |    ${duckDayBucket} AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY user_id, day),
      |c AS (
      |  SELECT user_id, day, cnt,
      |    CAST(count(cnt) OVER w AS BIGINT) AS n,
      |    CAST(sum(cnt) OVER w AS BIGINT) AS sx,
      |    CAST(sum(cnt * cnt) OVER w AS BIGINT) AS sxx
      |  FROM d
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |j AS (
      |  SELECT user_id, day, cnt,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cnt,
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |      / CAST(n * (n - 1) AS DOUBLE)) AS std_cnt
      |  FROM c WHERE n >= 2)
      |SELECT user_id, day, cnt, mean_cnt, std_cnt
      |FROM j
      |WHERE CAST(cnt AS DOUBLE) > mean_cnt + 3.0 * std_cnt
      |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    prequentialAnomalies(
      Tables.events(s, dir).select(col("user_id"), col("ts")), sigma = 3.0)
  }

  /** The q123 kernel (also the batch reference for the streaming
    * parity spec): flag (user, day, cnt) where cnt exceeds the mean +
    * sigma*std of that user's strictly-earlier days.
    */
  def prequentialAnomalies(events: org.apache.spark.sql.DataFrame,
                           sigma: Double): org.apache.spark.sql.DataFrame = {
    val d = events
      .groupBy(col("user_id"),
        dayBucket.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("n", count(col("cnt")).over(w))
      .withColumn("sx", sum(col("cnt")).over(w))
      .withColumn("sxx", sum(col("cnt") * col("cnt")).over(w))
      .filter(col("n") >= 2)
      .select(col("user_id"), col("day"), col("cnt"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean_cnt"),
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")).as("std_cnt"))
      .filter(col("cnt").cast("double") >
        col("mean_cnt") + lit(sigma) * col("std_cnt"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Schema-on-read JSON extraction (q124): the metadata-sidecar
    * pattern — events carry a JSON `props` string; extract a typed
    * field with `from_json` (a declared schema, not a per-row path
    * probe, so extraction is a codegen'd columnar op) and aggregate it
    * per event type. Integer aggregates only — no float risk.
    *
    * Scale: extraction is narrow (scan-speed, prunes to the two used
    * columns); one partial+final aggregate to event_type granularity.
    * Malformed JSON yields NULL (counted separately) rather than
    * failing the job — the PERMISSIVE contract a 100 TB ingest needs.
    */
  val q124: QueryDef = QueryDef.sql(
    "q124_json_props",
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(k) AS BIGINT) AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(min(k) AS BIGINT) AS min_k,
      |  CAST(max(k) AS BIGINT) AS max_k
      |FROM (
      |  SELECT event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    jsonPropsSummary(Tables.events(s, dir))
  }

  /** The q124 kernel: extract `props.$.k` as LONG (PERMISSIVE —
    * malformed rows yield NULL) and aggregate per event type.
    */
  def jsonPropsSummary(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).cast("bigint").as("sum_k"),
        min(col("k")).cast("bigint").as("min_k"),
        max(col("k")).cast("bigint").as("max_k"))
      .orderBy(col("event_type"))

  /** Last-touch click attribution (q133): each purchase is credited to
    * the same user's most recent click at or before it, and the credit
    * expires after one hour (purchases with no click in the window stay
    * unattributed, with NULL click columns). The product-analytics
    * primitive behind conversion reporting, here built on the
    * [[AsOfJoin]] union+window operator rather than an inequality join.
    *
    * Scale: [[AsOfJoin.asofBackward]] is one hash exchange of
    * |purchases|+|clicks| rows on user_id plus one in-partition sort —
    * sort-merge-join cost, no K x N time-range blowup. The one-hour
    * expiry is a post-filter that NULLs the payload, not a join
    * condition, so the operator cost is independent of the window
    * width. Clicks are pre-thinned to one row per (user, ts) (max
    * event_id wins, matching the oracle's ORDER BY ts DESC,
    * event_id DESC LIMIT 1) so as-of tie semantics are deterministic
    * across engines.
    */
  val q133: QueryDef = QueryDef.sql(
    "q133_click_attribution",
    """SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  c.click_id, c.gap_s
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id AS click_id,
      |    (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
      |  FROM events c
      |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
      |    AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) c ON true
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    clickAttribution(Tables.events(s, dir)).orderBy(col("event_id"))
  }

  /** The q133 kernel over any (event_id, user_id, event_type, ts)
    * frame; unsorted output (the query adds the sink's total order).
    */
  def clickAttribution(events: org.apache.spark.sql.DataFrame,
                       windowUs: Long = 3600000000L): org.apache.spark.sql.DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // one click per (user, ts): max event_id = the oracle's tie-winner
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(max(col("event_id")).as("c_click_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(col("c_ts"))
    AsOfJoin.asofBackward(purchases, clicks,
        "user_id", "c_user", "ts", "c_ts", Seq("c_click_id", "c_ts"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        when(gapUs <= windowUs, col("c_click_id")).as("click_id"),
        when(gapUs <= windowUs, (gapUs / 1000000L).cast("bigint"))
          .as("gap_s"))
  }

  /** Post-purchase failure attribution (q137): each purchase paired
    * with the same user's NEXT error event within ten minutes —
    * "what broke right after checkout", the forward twin of q133,
    * on [[AsOfJoin.asofForward]] (one exchange + one sort; the window
    * width is a post-filter, not a join condition). Same-ts tie
    * resolves to the MIN event_id, matching the oracle's
    * ORDER BY ts ASC, event_id ASC LIMIT 1.
    */
  val q137: QueryDef = QueryDef.sql(
    "q137_next_error",
    """SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |  e.error_id, e.gap_s
      |FROM (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase') p
      |LEFT JOIN LATERAL (
      |  SELECT c.event_id AS error_id,
      |    (epoch_us(c.ts) - epoch_us(p.ts)) // 1000000 AS gap_s
      |  FROM events c
      |  WHERE c.event_type = 'error' AND c.user_id = p.user_id
      |    AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 10 MINUTE
      |  ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) e ON true
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .agg(min(col("event_id")).as("e_error_id"))
    val gapUs = unix_micros(col("e_ts")) - unix_micros(col("ts"))
    AsOfJoin.asofForward(purchases, errors,
        "user_id", "e_user", "ts", "e_ts", Seq("e_error_id", "e_ts"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        when(gapUs <= 600000000L, col("e_error_id")).as("error_id"),
        when(gapUs <= 600000000L, (gapUs / 1000000L).cast("bigint"))
          .as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** Batch sessionization with conversion flag (q138): 30-minute-gap
    * sessions per user (the classic lag -> new-session marker ->
    * running-sum session id), one row per session with its span, event
    * count, and whether it contained a purchase — the oracle-checked
    * batch twin of the streaming
    * [[graft.streaming.EventStreams.sessionize]] shape.
    *
    * Scale: ONE exchange (hash on user) carries both windows AND the
    * final per-session aggregate — the windows sort in-partition and
    * the groupBy keys (user_id, sid) are a superset of the partition
    * key, so Catalyst plans partial+final agg with no second exchange.
    * Micros-integer gap arithmetic on both engines.
    */
  val q138: QueryDef = QueryDef.sql(
    "q138_sessions",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |m AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, CAST(sid AS BIGINT) AS sid,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
      |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS converted
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, sid""".stripMargin) { (s, dir) =>
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc_nulls_last, col("event_id").asc_nulls_last)
    val running = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTime))
      .withColumn("new_s",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(running))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        count(lit(1)).cast("bigint").as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("end_s"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .cast("bigint").as("converted"))
      .select(col("user_id"), col("sid").cast("bigint").as("sid"),
        col("n_events"), col("start_s"), col("end_s"), col("converted"))
      .orderBy(col("user_id"), col("sid"))
  }

  /** RFM per purchasing user (q141): recency (whole days from the
    * user's last purchase to the corpus' max event time), frequency
    * (purchase count), monetary (exact DECIMAL(18,2) sum — a double
    * sum's order is engine-specific, the standard money discipline
    * here). The segmentation input every growth pipeline starts from.
    *
    * Scale: one purchase-filtered aggregate on user_id; the corpus max
    * timestamp is a scalar aggregate broadcast onto the result rows.
    */
  val q141: QueryDef = QueryDef.sql(
    "q141_rfm",
    """WITH m AS (SELECT max(ts) AS mt FROM events),
      |p AS (
      |  SELECT user_id,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary,
      |    max(ts) AS last_p
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id)
      |SELECT user_id,
      |  CAST((epoch_us(m.mt) - epoch_us(last_p)) // 86400000000 AS BIGINT)
      |    AS recency_days,
      |  frequency, monetary
      |FROM p, m
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val m = ev.agg(max(col("ts")).as("mt"))
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).cast("bigint").as("frequency"),
        money(col("value")).as("monetary"),
        max(col("ts")).as("last_p"))
      .crossJoin(broadcast(m))
      .select(col("user_id"),
        expr("(unix_micros(mt) - unix_micros(last_p)) div 86400000000L")
          .cast("bigint").as("recency_days"),
        col("frequency"), col("monetary"))
      .orderBy(col("user_id"))
  }
}
