package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Pii, QualityRules, Text}
import graft.operators.{Anomaly, AsOf, Attribution, Basket, Bpe, Chunk, Decontaminate, Dedup, Experiment, Funnel, Graph, GroupSample, HeavyHitters, Incremental, Kmv, Latency, Layout, Lifecycle, Multimodal, Paths, Pca, Profile, RangeJoin, Repetition, Retention, Rfm, Sessions, Similarity, Skew, Snapshot, Split, Survival, Transitions, Vocab}

/** Query contract (SURVEY.md §7). Every query is declared once in
  * [[declared]]: the function that builds its Spark plan beside the
  * DuckDB-equivalent ANSI SQL that is its correctness oracle; [[queries]]
  * and [[oracleSql]] are derived from that one registry. Each query is an
  * operator/query-shape from SURVEY.md §2 (or a scale-oriented extension).
  * Column names and output types are aligned between the two sides on
  * purpose: the oracle compare sorts columns by name and hashes values.
  */
object SparkEntry {

  /** Reads a testdata table. `events.ts` has shipped under two physical
    * parquet types across testdata generations: TIMESTAMP(NANOS) (which
    * Spark can only read as a long via `nanosAsLong`) and plain
    * TIMESTAMP(MICROS) without the UTC flag (which Spark reads as
    * TIMESTAMP_NTZ). Both are normalized here to a session-zone (UTC)
    * microsecond timestamp, so every downstream query sees one `ts` type;
    * all query logic is at day/second granularity so the normalization is
    * lossless for results.
    *
    * A table's schema is fixed for a session's lifetime: the first read
    * infers it (one Spark job), later reads pass it to the reader and run
    * none. Only the schema is kept; files are listed on every call.
    */
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // session builders set this up front (Graft.localSession / Verify /
      // Bench); the guarded set is a fallback for foreign sessions so the
      // common path never mutates session conf
      if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = readParquet(s, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long generation
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType => // µs-NTZ generation
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case org.apache.spark.sql.types.TimestampType =>
          raw // already a session-zone timestamp
        case other => // a new testdata generation must fail loudly, not read garbage
          throw new IllegalStateException(
            s"unexpected physical type for events.ts: $other")
      }
    } else readParquet(s, s"$dir/$name.parquet")

  /** The session confs that decide the type parquet schema inference gives
    * `events.ts`; their values are part of the schema memo's key, so a
    * mid-session change (as `tbl` itself makes on a foreign session)
    * infers again. */
  private val parquetSchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemaMemo =
    new SessionMemo[(String, Seq[Option[String]]), org.apache.spark.sql.types.StructType]

  /** `s.read.parquet(path)` over the path's memoised schema: inference
    * (Spark's parquet footer job) runs once per session, path and
    * [[parquetSchemaConfs]] values. */
  private def readParquet(s: SparkSession, path: String): DataFrame = {
    val key = (path, parquetSchemaConfs.map(s.conf.getOption))
    s.read.schema(schemaMemo(s, key)(s.read.parquet(path).schema)).parquet(path)
  }

  /** Memoized 6-round BPE merge list (the t18/t19/t22 model), per session
    * and data dir, so a sweep trains ONCE per corpus per session instead
    * of once per query — training is deterministic, so sharing cannot
    * change any result, and queries stay self-contained (a cold call
    * trains inline exactly as before). A new session never sees a stale
    * entry. */
  private val bpeMergesMemo = new SessionMemo[String, Seq[(String, String)]]

  private def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeMergesMemo(s, dir)(
      // the batched trainer: proven output-equal to the sequential
      // greedy (TextOpsSpec), fewer driver round-trips per model build
      Bpe.trainMergesBatched(par(tbl(s, dir, "documents")), "text", rounds = 6)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the composed
    * retention pipeline (the reference's one real product query,
    * examples/retention.rs:22-46).
    */
  def entry(spark: SparkSession): DataFrame = {
    Graft.registerAll(spark)
    queries("retention_sum")(spark, TestData.dir("0.001"))
  }

  // Retention window shared by the retention queries: 7 days from the first
  // event day in the testdata (2024-01-01), born = signup, target = purchase
  // — the analogue of examples/retention_parquet.rs:26-35.
  private val winStart = "2024-01-01"
  private val winDays = 7

  // Personalized-pagerank seed set — ONE constant shared by the g3_ppr
  // registration and its oracle CTE builder, so editing the seeds can
  // never desynchronize query and oracle.
  private val pprSeeds = Seq(0L, 1L, 2L, 3L, 4L)

  // PageRank iterations shared by the g1/g3 registrations and their
  // unrolled oracle CTEs.
  private val pagerankIters = 10

  private def retentionStats(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
      .where(col("ts") >= lit(winStart).cast("timestamp") &&
        col("ts") < date_add(lit(winStart).cast("date"), winDays).cast("timestamp"))
    ev.groupBy(col("user_id"))
      .agg(Retention.retention_count(
        col("event_type") === "signup",
        col("event_type") === "purchase",
        lit((winDays - 1).toLong),
        datediff(to_date(col("ts")), lit(winStart).cast("date")).cast("long")
      ).as("stats_raw"))
  }

  /** One declared query: its name, the function that builds its Spark
    * plan, and the DuckDB SQL over the same tables that is its correctness
    * oracle. The oracle is by-name and only [[oracleSql]] evaluates it, so
    * building the Spark side never builds oracle text. */
  private[graft] final class Declared(val name: String,
      val build: (SparkSession, String) => DataFrame, oracle: => String) {
    def oracleSql: String = oracle
  }

  private def query(name: String)(build: (SparkSession, String) => DataFrame)(
      oracle: => String): Declared = new Declared(name, build, oracle)

  /** Checks a registry: a name declared twice fails loudly instead of one
    * entry silently replacing the other. */
  private[graft] def registry(ds: Seq[Declared]): Seq[Declared] = {
    val dup = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query declared more than once: ${dup.toSeq.sorted.mkString(", ")}")
    ds
  }

  /** Every declared query, each with its oracle beside it. */
  private[graft] lazy val declared: Seq[Declared] = registry(Seq(
    // ── Retention (SURVEY §2.1 — the reference's own operators) ──────────
    // The nested stats array is JSON-serialized: the driver's pandas-based
    // comparator cannot sort/hash array-typed columns (round-1 `err`), and
    // a compact JSON string is bit-identical across engines.
    query("retention_count")((s, dir) => {
      retentionStats(s, dir)
        .select(col("user_id"),
          to_json(col("stats_raw").cast("array<array<bigint>>")).as("stats"))
    }) {
      s"""$retentionVecs
         |SELECT user_id,
         |  '[[' || array_to_string(born_vec, ',') || '],[' ||
         |  array_to_string(target_vec, ',') || ']]' AS stats FROM v""".stripMargin
    },
    query("retention_sum")((s, dir) => {
      retentionStats(s, dir)
        .agg(Retention.retention_sum(col("stats_raw")).as("triangle"))
    }) {
      s"""$retentionVecs, idx AS (
         |  SELECT CAST(range AS BIGINT) AS i FROM range($winDays)
         |), pairs AS (
         |  SELECT b.i AS b, t.i AS t,
         |         CAST(sum(v.born_vec[CAST(b.i AS INT) + 1] * v.target_vec[CAST(t.i AS INT) + 1]) AS BIGINT) AS cnt
         |  FROM v, idx b, idx t WHERE t.i >= b.i GROUP BY 1, 2
         |), cohorts AS (
         |  SELECT b, list(cnt ORDER BY t) AS vec FROM pairs GROUP BY b
         |), born_row AS (
         |  SELECT list(sb ORDER BY i) AS vec FROM (
         |    SELECT r.i, CAST(sum(v.born_vec[CAST(r.i AS INT) + 1]) AS BIGINT) AS sb
         |    FROM v, idx r GROUP BY 1)
         |)
         |SELECT list_prepend((SELECT vec FROM born_row),
         |                    (SELECT list(vec ORDER BY b) FROM cohorts)) AS triangle""".stripMargin
    },

    // ── Relational surface (SURVEY §2.2) ─────────────────────────────────
    // TPC-H Q1-shaped pricing summary: scan → filter → hash agg → sort.
    // Money/quantity summed as DECIMAL (exact, order-independent), surfaced
    // as DOUBLE.
    query("q1_pricing_summary")((s, dir) => {
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,3)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,3)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,3)") *
            (lit(1).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)")))
            .cast("decimal(38,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }) {
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3))) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    },
    // Global (ungrouped) aggregate + COUNT(1) + COUNT(DISTINCT).
    query("q2_global_agg")((s, dir) => {
      tbl(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast("decimal(18,3)")).cast("double").as("total_qty"))
    }) {
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS total_qty
        |FROM lineitem""".stripMargin
    },
    // CASE WHEN + arithmetic + BETWEEN filter.
    query("q3_case_when")((s, dir) => {
      tbl(s, dir, "orders")
        .where(col("o_orderdate").between(
          lit("1994-01-01").cast("date"), lit("1996-12-31").cast("date")))
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 200000, "big")
            .when(col("o_totalprice") > 50000, "mid")
            .otherwise("small").as("bucket"),
          (col("o_totalprice").cast("decimal(18,2)") -
            lit(100).cast("decimal(18,2)")).cast("double").as("adj_price"))
    }) {
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 50000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) - CAST(100 AS DECIMAL(18,2)) AS DOUBLE) AS adj_price
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1994-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'""".stripMargin
    },
    // ORDER BY + LIMIT (TakeOrderedAndProject), ties broken by key.
    query("q4_top_orders")((s, dir) => {
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)")
          .cast("double").as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(10)
    }) {
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin
    },
    // Aggregate over aggregate (derived-table subquery).
    query("q5_subquery_agg")((s, dir) => {
      val perCust = tbl(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("cust_total"))
      perCust.agg(
        count(lit(1)).as("n_cust"),
        min(col("cust_total")).cast("double").as("min_total"),
        max(col("cust_total")).cast("double").as("max_total"),
        sum(col("cust_total")).cast("double").as("sum_total"))
    }) {
      """SELECT count(*) AS n_cust,
        |  CAST(min(cust_total) AS DOUBLE) AS min_total,
        |  CAST(max(cust_total) AS DOUBLE) AS max_total,
        |  CAST(sum(cust_total) AS DOUBLE) AS sum_total
        |FROM (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS cust_total
        |      FROM orders GROUP BY o_custkey)""".stripMargin
    },
    // Broadcast join: big fact × small dim (part is tiny vs lineitem).
    query("q6_join_broadcast")((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,3)") *
            (lit(1).cast("decimal(18,3)") - col("l_discount").cast("decimal(18,3)")))
            .cast("decimal(38,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    }) {
      """SELECT p_brand,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,3)) * (CAST(1 AS DECIMAL(18,3)) - CAST(l_discount AS DECIMAL(18,3))) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin
    },
    // Multi-way join chain across the star schema (all dims broadcastable).
    query("q7_join_multi")((s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name"))
    }) {
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin
    },
    // DISTINCT projection.
    query("q8_distinct")((s, dir) => {
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }) {
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    },
    // Inline VALUES relation (CREATE TABLE AS VALUES surface,
    // retention.slt:5-9).
    query("q9_values")((s, _) => {
      s.sql("SELECT k, sum(v) AS v_sum FROM VALUES (1, 10), (1, 20), (2, 5), (3, 7) AS t(k, v) GROUP BY k ORDER BY k")
    }) {
      """SELECT k, CAST(sum(v) AS BIGINT) AS v_sum
        |FROM (VALUES (1, 10), (1, 20), (2, 5), (3, 7)) t(k, v)
        |GROUP BY k ORDER BY k""".stripMargin
    },
    // Gap-based sessionization over the event stream (30-min inactivity
    // gap), a core UBA operation, as ONE per-user aggregate: one shuffle
    // on user_id and no window sort. As in the oracle's `lag` form, a
    // session starts at the user's first event and at every gap > 1800 s
    // between consecutive timestamps. Spark's ascending order puts NULL
    // `ts` rows first, where each one's `lag` is NULL, so each opens a
    // session of its own; `collect_list` drops NULLs, which are counted
    // as n_events - size. Per-user memory: one long per non-NULL event of
    // the user, sorted once after the shuffle — bounded by the user's
    // event count, as in `Funnel.userStages`.
    query("q10_sessionize")((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(unix_micros(col("ts")))).as("_us"))
        .select(col("user_id"),
          (col("n_events") - size(col("_us")) +
            size(filter(col("_us"), (t, i) =>
              i === 0 || t - get(col("_us"), i - 1) > 1800L * 1000000L)))
            .as("n_sessions"),
          col("n_events"))
    }) {
      """SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_us
        |    FROM events))
        |GROUP BY user_id""".stripMargin
    },
    // RANGE-frame window: per-user trailing-3-day purchase revenue —
    // the frame is bounded by the ORDER BY *value* (day number), not a
    // row count, so gaps in activity shrink the window correctly. One
    // user-key shuffle; the frame scans per-user-day pre-aggregated
    // rows (≤ |days| per user), never the raw event stream.
    query("q26_range_frame")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perDay = tbl(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day_num"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
        .rangeBetween(-2, 0)
      perDay
        .withColumn("rev3", sum(col("rev")).over(w).cast("double"))
        .select(col("user_id"), col("day_num"),
          col("rev").cast("double").as("rev"), col("rev3"))
    }) {
      """WITH perday AS (
        |  SELECT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
        |    sum(CAST(value AS DECIMAL(18,2))) AS rev
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1, 2
        |)
        |SELECT user_id, day_num, CAST(rev AS DOUBLE) AS rev,
        |  CAST(sum(rev) OVER (PARTITION BY user_id ORDER BY day_num
        |         RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev3
        |FROM perday""".stripMargin
    },
    // Window rank + join: top-3 spenders per nation.
    query("q11_top_per_nation")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      val spend = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("spend").desc, col("c_custkey"))
      spend.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .join(broadcast(n), col("c_nationkey") === n("n_nationkey"))
        .select(col("n_name"), col("c_custkey"),
          col("spend").cast("double").as("spend"), col("rn"))
    }) {
      """SELECT n_name, c_custkey, CAST(spend AS DOUBLE) AS spend, rn FROM (
        |  SELECT c_nationkey, c_custkey, spend,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rn
        |  FROM (
        |    SELECT c_nationkey, c_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |    GROUP BY c_nationkey, c_custkey)
        |) JOIN nation ON c_nationkey = n_nationkey
        |WHERE rn <= 3""".stripMargin
    },
    // Grouping sets: ROLLUP over the pricing-summary keys (subtotals +
    // grand total). NULL group keys are coalesced to '(all)' — the
    // comparator can't sort mixed None/str columns.
    query("q13_rollup")((s, dir) => {
      tbl(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,3)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), col("n"))
    }) {
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |  coalesce(l_linestatus, '(all)') AS ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin
    },
    // Data-quality expectations report (the Deequ-style validation gate
    // a pipeline runs before shipping a table): declared rules evaluate
    // as conditional counts inside ONE map-side-combined aggregate over
    // one scan — violation counts plus 0/1 pass flags in a single row.
    // At 100 TB this is the same single pass regardless of rule count.
    query("q34_expectations")((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val viol = l.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L).otherwise(0L))
          .as("qty_range_viol"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L))
          .as("discount_range_viol"),
        sum(when(col("l_shipdate") < lit("1992-01-01").cast("date"), 1L).otherwise(0L))
          .as("shipdate_floor_viol"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
          .as("pk_dup_viol"),
        // monitored distribution stat (not a gate): drift sentinel
        sum(when(col("l_quantity") > 40, 1L).otherwise(0L)).as("n_qty_over_40"))
      viol.select(col("*"),
        when(col("null_orderkey") === 0 && col("qty_range_viol") === 0 &&
          col("discount_range_viol") === 0 && col("shipdate_floor_viol") === 0 &&
          col("pk_dup_viol") === 0, 1).otherwise(0).as("all_passed"))
    }) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
        |  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range_viol,
        |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS discount_range_viol,
        |  CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_floor_viol,
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS pk_dup_viol,
        |  CAST(sum(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_qty_over_40,
        |  CASE WHEN sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
        |        AND sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
        |        AND sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) = 0
        |        AND sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01 00:00:00' THEN 1 ELSE 0 END) = 0
        |        AND count(*) = count(DISTINCT (l_orderkey, l_linenumber))
        |       THEN 1 ELSE 0 END AS all_passed
        |FROM lineitem""".stripMargin
    },
    // CUBE: all 2^2 grouping combinations over (status, priority) — the
    // rollup's cross-combination sibling; one Expand + hash aggregate.
    query("q33_cube")((s, dir) =>
      tbl(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("sum_price"), col("n"))) {
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin
    },
    // Set operations: INTERSECT / EXCEPT / UNION ALL over customer keys.
    query("q14_setops")((s, dir) => {
      val a = tbl(s, dir, "customer")
        .where(col("c_nationkey") < 12).select(col("c_custkey").as("k"))
      val b = tbl(s, dir, "orders")
        .where(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("k")).distinct()
      a.intersect(b).select(lit("both").as("src"), col("k"))
        .unionByName(a.except(b).select(lit("only_a").as("src"), col("k")))
    }) {
      """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_nationkey < 12),
        |     b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
        |SELECT 'both' AS src, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
        |UNION ALL
        |SELECT 'only_a' AS src, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)""".stripMargin
    },
    // PIVOT: explicit value list, so the plan is a single hash aggregate
    // with conditional sums — no extra values-discovery job (always pass
    // the values at scale).
    query("q15_pivot")((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,3)")).cast("double"))
        .orderBy(col("l_returnflag"))
    }) {
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,3)) END) AS DOUBLE) AS "F",
        |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,3)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
    // Conversion-latency distribution: percentiles of the signup→
    // first-purchase gap via the Latency operator. The oracle pins the
    // exact form; `exact = false` is the bounded-memory production
    // setting (see Latency scaladoc).
    query("q17_conversion_latency")((s, dir) =>
      Latency.conversionReport(tbl(s, dir, "events"), "signup", "purchase",
        exact = true)) {
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), conv AS (
        |  SELECT CAST(epoch_us(min(e.ts)) - epoch_us(s0.t0) AS DOUBLE) AS gap_us
        |  FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s0.t0
        |  GROUP BY e.user_id, s0.t0
        |)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(gap_us, 0.5), 1) / 1e6 AS p50_sec,
        |  round(quantile_cont(gap_us, 0.9), 1) / 1e6 AS p90_sec,
        |  round(quantile_cont(gap_us, 0.99), 2) / 1e6 AS p99_sec
        |FROM conv""".stripMargin
    },
    // Weekly cohort-retention matrix: users bucketed by signup week,
    // activity counted per week offset — the classic UBA cohort output.
    // One scan and two shuffles: a per-user aggregate (on user_id) gives
    // the signup time t0 and the set of active days, each user's distinct
    // week offsets are exploded from that set, and a (cohort, week) count
    // needs no distinct — the offsets are already distinct per user. The
    // oracle's `ts >= t0` is applied per day: an event earlier on the
    // signup day lands in week 0, which the signup row itself already
    // gives the user. The `isNotNull` filters stand for the oracle's inner
    // join. Per-user memory: one date per distinct active day of the user
    // — bounded by the calendar span of the data, not its event count.
    query("q16_cohort_matrix")((s, dir) => {
      val d0 = to_date(col("t0"))
      tbl(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("t0"),
          collect_set(to_date(col("ts"))).as("_days"))
        .where(col("user_id").isNotNull && col("t0").isNotNull)
        .select(
          date_format(date_trunc("week", col("t0")), "yyyy-MM-dd").as("cohort_week"),
          explode(array_distinct(transform(filter(col("_days"), d => d >= d0),
            d => floor(datediff(d, d0).cast("double") / 7)))).as("week_off"))
        .where(col("week_off") <= 8)
        .groupBy(col("cohort_week"), col("week_off"))
        .agg(count(lit(1)).as("n_users"))
    }) {
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), act AS (
        |  SELECT e.user_id,
        |    strftime(date_trunc('week', s0.t0), '%Y-%m-%d') AS cohort_week,
        |    CAST(floor(date_diff('day', CAST(s0.t0 AS DATE), CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_off
        |  FROM events e JOIN s0 USING (user_id)
        |  WHERE e.ts >= s0.t0
        |)
        |SELECT cohort_week, week_off, count(DISTINCT user_id) AS n_users
        |FROM act WHERE week_off <= 8 GROUP BY 1, 2""".stripMargin
    },
    // Cohort LTV curves: cumulative purchase revenue per signup-week
    // cohort by week offset — q16's revenue-valued sibling. Revenue is
    // quantized to integer cents BEFORE summing so every aggregate is
    // exact long arithmetic (partition-order/engine independent); the
    // cumulative window runs per cohort over ≤9 aggregated rows. The
    // signup aggregate and the purchase join share one user-key shuffle;
    // cohort sizes are a tiny broadcast.
    query("u19_cohort_ltv")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = tbl(s, dir, "events")
      val s0 = e.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val week = date_format(date_trunc("week", col("t0")), "yyyy-MM-dd")
      val sizes = s0.groupBy(week.as("cohort_week"))
        .agg(count(lit(1)).as("n_users"))
      val rev = e.where(col("event_type") === "purchase").alias("e")
        .join(s0.alias("s"), col("e.user_id") === col("s.user_id") &&
          col("e.ts") >= col("s.t0"))
        .select(
          date_format(date_trunc("week", col("s.t0")), "yyyy-MM-dd").as("cohort_week"),
          floor(datediff(to_date(col("e.ts")), to_date(col("s.t0"))).cast("double") / 7)
            .cast("long").as("week_off"),
          round(col("e.value") * 100).cast("long").as("_cents"))
        .where(col("week_off") <= 8)
        .groupBy(col("cohort_week"), col("week_off"))
        .agg(sum(col("_cents")).as("rev_cents"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_off"))
      rev.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("week_off"), col("rev_cents"),
          col("cum_rev_cents"), col("n_users"),
          round(col("cum_rev_cents").cast("double") / 100.0 /
            col("n_users").cast("double"), 6).as("ltv_per_user"))
    }) {
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), cs AS (
        |  SELECT strftime(date_trunc('week', t0), '%Y-%m-%d') AS cohort_week,
        |    count(*) AS n_users
        |  FROM s0 GROUP BY 1
        |), r AS (
        |  SELECT strftime(date_trunc('week', s.t0), '%Y-%m-%d') AS cohort_week,
        |    CAST(floor(date_diff('day', CAST(s.t0 AS DATE), CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_off,
        |    CAST(round(e.value * 100) AS BIGINT) AS cents
        |  FROM events e JOIN s0 s ON e.user_id = s.user_id AND e.ts >= s.t0
        |  WHERE e.event_type = 'purchase'
        |), g AS (
        |  SELECT cohort_week, week_off, CAST(sum(cents) AS BIGINT) AS rev_cents
        |  FROM r WHERE week_off <= 8 GROUP BY 1, 2
        |), c AS (
        |  SELECT cohort_week, week_off, rev_cents,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cohort_week ORDER BY week_off) AS BIGINT) AS cum_rev_cents
        |  FROM g
        |)
        |SELECT c.cohort_week, c.week_off, c.rev_cents, c.cum_rev_cents, cs.n_users,
        |  round(CAST(c.cum_rev_cents AS DOUBLE) / 100.0 / CAST(cs.n_users AS DOUBLE), 6) AS ltv_per_user
        |FROM c JOIN cs USING (cohort_week)""".stripMargin
    },
    // Semi-join (EXISTS) + anti-join (NOT EXISTS) in one report: customers
    // with/without an urgent order, counted per market segment. The semi
    // and anti sides each broadcast the filtered orders keys; whether the
    // two broadcasts collapse into one (ReusedExchange) is left to the
    // optimizer — both exchanges are the same tiny filtered projection,
    // so the plan is broadcast-correct either way.
    query("q19_semi_anti")((s, dir) => {
      val urgent = tbl(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val c = tbl(s, dir, "customer")
      val withU = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_urgent"))
      val withoutU = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_calm"))
      withU.join(withoutU, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
          coalesce(col("n_calm"), lit(0L)).as("n_calm"))
        .orderBy(col("c_mktsegment"))
    }) {
      """WITH urgent AS (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |), w AS (
        |  SELECT c_mktsegment, count(*) AS n_urgent FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM urgent u WHERE u.o_custkey = c.c_custkey)
        |  GROUP BY c_mktsegment
        |), wo AS (
        |  SELECT c_mktsegment, count(*) AS n_calm FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM urgent u WHERE u.o_custkey = c.c_custkey)
        |  GROUP BY c_mktsegment
        |)
        |SELECT c_mktsegment,
        |  coalesce(w.n_urgent, 0) AS n_urgent,
        |  coalesce(wo.n_calm, 0) AS n_calm
        |FROM w FULL OUTER JOIN wo USING (c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin
    },
    // Rolling 7-day distinct active users per day. Sliding-window distinct
    // does not decompose into per-day partials, so the scalable shape is:
    // dedup to (day, user) once, explode each row into the ≤7 window days
    // it contributes to, dedup (window_day, user), count per day. Three
    // key-partitioned shuffles of a stream that dedup already collapsed to
    // |users|×|days| rows — no window function over the raw stream, no
    // per-day re-scan. wau7 counts a trailing window clipped to observed
    // days (day 0 has a 1-day window), the standard dashboard convention.
    query("q18_rolling_active")((s, dir) => {
      val ud = tbl(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
          col("user_id"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
      dau.join(wau, "day")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau7"))
    }) {
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), dau AS (
        |  SELECT day, count(*) AS dau FROM ud GROUP BY day
        |), contrib AS (
        |  SELECT DISTINCT ud.day + CAST(g.i AS INT) AS day, ud.user_id
        |  FROM ud CROSS JOIN generate_series(0, 6) AS g(i)
        |), wau AS (
        |  SELECT day, count(*) AS wau7 FROM contrib GROUP BY day
        |)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau7
        |FROM dau JOIN wau USING (day)""".stripMargin
    },
    // Daily stickiness (DAU / trailing-28-day MAU): the same
    // explode-the-contribution-window shape as q18 — each active (user,
    // day) row contributes to the 28 days it keeps that user "monthly
    // active", so MAU is a plain distinct+agg instead of a per-day
    // re-scan or a stream-wide window function. mau28 ≥ dau ≥ 1 on every
    // joined day, so the ratio is ANSI-safe by construction.
    query("u15_stickiness")((s, dir) => {
      val ud = tbl(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val mau = ud
        .select(explode(sequence(col("day"), date_add(col("day"), 27))).as("day"),
          col("user_id"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("mau28"))
      dau.join(mau, "day")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("mau28"),
          round(col("dau").cast("double") / col("mau28").cast("double"), 6)
            .as("stickiness"))
    }) {
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), dau AS (
        |  SELECT day, count(*) AS dau FROM ud GROUP BY day
        |), contrib AS (
        |  SELECT DISTINCT ud.day + CAST(g.i AS INT) AS day, ud.user_id
        |  FROM ud CROSS JOIN generate_series(0, 27) AS g(i)
        |), mau AS (
        |  SELECT day, count(*) AS mau28 FROM contrib GROUP BY day
        |)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, mau.mau28,
        |  round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau28 AS DOUBLE), 6) AS stickiness
        |FROM dau JOIN mau USING (day)""".stripMargin
    },
    // Power-user curve: how many users were active on exactly n distinct
    // days — the L28-style engagement histogram. Two small shuffles
    // (user-day distinct → per-user count → histogram); the histogram
    // aggregate absorbs map-side, so only |distinct n_days| rows reach
    // the final exchange.
    query("u16_power_curve")((s, dir) => {
      tbl(s, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_days"))
        .groupBy(col("n_days")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_days"))
    }) {
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), per AS (
        |  SELECT user_id, count(*) AS n_days FROM ud GROUP BY user_id
        |)
        |SELECT n_days, count(*) AS n_users FROM per GROUP BY n_days""".stripMargin
    },
    // GROUPING SETS — the ((rf,ls),(rf),()) lattice in one pass, with
    // the grouping-flag bitmask projected so every stratum is
    // self-describing (q13's ROLLUP generalized to an explicit lattice).
    query("q25_grouping_sets")((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,3)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"),
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("long").as("gid"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), col("n"), col("gid"))
    }) {
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |  coalesce(l_linestatus, '(all)') AS ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin
    },
    // Event-stream profile: per-type counts + distinct users + rounded avg.
    query("q12_events_profile")((s, dir) => {
      tbl(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1)), 6).as("avg_value"))
        .orderBy(col("event_type"))
    }) {
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    // ── Text analysis (training-data pipeline operators) ─────────────────
    query("t1_token_stats")((s, dir) => {
      par(tbl(s, dir, "documents")).select(
        col("doc_id"),
        Text.tokenCountWs(col("text")).as("n_tokens_ws"),
        Text.tokenCount(col("text")).as("n_tokens_re"),
        length(col("text")).as("n_chars_actual"))
    }) {
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens_ws,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS n_tokens_re,
        |  length(text) AS n_chars_actual
        |FROM documents""".stripMargin
    },
    query("t2_quality")((s, dir) => {
      par(tbl(s, dir, "documents")).select(
        col("doc_id"),
        round(Text.alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(Text.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(Text.avgWordLen(col("text")), 6).as("avg_word_len"),
        Text.qualityScore(col("text")).as("quality"))
    }) {
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    regexp_extract_all(text, '[a-zA-Z0-9'']+') AS toks,
         |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, len(toks) AS n_tok,
         |    $qualityRatiosSql
         |  FROM t
         |)
         |SELECT doc_id, round(alpha_ratio, 6) AS alpha_ratio,
         |  round(stop_ratio, 6) AS stop_ratio, round(awl, 6) AS avg_word_len,
         |  round(least(1.0, CAST(n_tok AS DOUBLE) / 200.0) * 0.25 + alpha_ratio * 0.25 +
         |        (1.0 - stop_ratio) * 0.2 + least(1.0, awl / 8.0) * 0.3, 6) AS quality
         |FROM m""".stripMargin
    },
    // Per-source corpus report card: doc/token volume, mean quality
    // (micro-quantized before the sum — exact integer aggregation), and
    // the fraction clearing a quality threshold. The release-gate
    // dashboard row per ingested source; one map-side-combined
    // aggregate over the scan.
    query("t23_source_report")((s, dir) => {
      par(tbl(s, dir, "documents"))
        .select(col("source"),
          round(Text.qualityScore(col("text")) * 1e6).cast("long").as("_qm"),
          Text.tokenCount(col("text")).cast("long").as("_nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nt")).as("n_tokens"),
          round(sum(col("_qm")).cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_quality"),
          count(when(col("_qm") >= 500000, 1)).as("n_good"))
        .withColumn("good_frac",
          round(col("n_good").cast("double") / col("n_docs").cast("double"), 6))
    }) {
      // Rides t2's quality expression with source carried through.
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |    regexp_extract_all(text, '[a-zA-Z0-9'']+') AS toks,
         |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, source, len(toks) AS n_tok,
         |    $qualityRatiosSql
         |  FROM t
         |), qd AS (
         |  SELECT source,
         |    CAST(round(round(least(1.0, CAST(n_tok AS DOUBLE) / 200.0) * 0.25 + alpha_ratio * 0.25 +
         |      (1.0 - stop_ratio) * 0.2 + least(1.0, awl / 8.0) * 0.3, 6) * 1000000) AS BIGINT) AS qm,
         |    CAST(n_tok AS BIGINT) AS nt
         |  FROM m
         |)
         |SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(qm) AS DOUBLE) / count(*) / 1000000, 6) AS mean_quality,
         |  CAST(count(*) FILTER (WHERE qm >= 500000) AS BIGINT) AS n_good,
         |  round(CAST(count(*) FILTER (WHERE qm >= 500000) AS DOUBLE) / count(*), 6) AS good_frac
         |FROM qd GROUP BY 1""".stripMargin
    },
    query("t3_langid")((s, dir) => {
      par(tbl(s, dir, "documents")).select(
        col("doc_id"), col("lang").as("lang_label"),
        Text.langId(col("text")).as("lang_pred"))
    }) {
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, lang,
         |    $stopCountsSql
         |  FROM t
         |)
         |SELECT doc_id, lang AS lang_label,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM sc""".stripMargin
    },
    // Classifier-quality evaluation in-plan: lang-ID confusion matrix
    // against the labeled lang column, with per-label integer-ppm shares
    // — the eval-as-operator pattern (s12's sibling for text
    // classification). Two tiny aggregates over the prediction stream;
    // the label-total side broadcasts.
    query("t27_langid_eval")((s, dir) => {
      val preds = par(tbl(s, dir, "documents")).select(
        col("lang").as("lang_label"), Text.langId(col("text")).as("lang_pred"))
      val cells = preds.groupBy(col("lang_label"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val totals = preds.groupBy(col("lang_label")).agg(count(lit(1)).as("_tot"))
      cells.join(broadcast(totals), Seq("lang_label"))
        .select(col("lang_label"), col("lang_pred"), col("n"),
          // n counts documents per confusion cell — DECIMAL(38,0)
          // before the ppm multiply (the dsirDeltaMicro width rule)
          expr("(CAST(n AS DECIMAL(38,0)) * 1000000) div _tot").as("share_ppm"))
    }) {
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, lang,
         |    $stopCountsSql
         |  FROM t
         |), p AS (
         |  SELECT lang AS lang_label,
         |    CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
         |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |         WHEN s_fr >= s_es THEN 'fr'
         |         ELSE 'es' END AS lang_pred
         |  FROM sc
         |), cells AS (
         |  SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang_label, CAST(count(*) AS BIGINT) AS t FROM p GROUP BY 1
         |)
         |SELECT c.lang_label, c.lang_pred, c.n,
         |  CAST(CAST(c.n AS HUGEINT) * 1000000 // t.t AS BIGINT) AS share_ppm
         |FROM cells c JOIN tot t USING (lang_label)""".stripMargin
    },
    query("t4_fingerprint")((s, dir) => {
      par(tbl(s, dir, "documents")).select(
        col("doc_id"),
        Text.docHash(col("text")).as("doc_hash"),
        Text.fingerprint64Native(col("text")).as("fp64"))
    }) {
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents
        |)
        |SELECT doc_id, md5(norm) AS doc_hash,
        |  list_min(list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
        |    i -> ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 15))::BIGINT)) AS fp64
        |FROM n""".stripMargin
    },
    // Repetition/boilerplate signals: duplicate-line fraction (per-row
    // array compute) + top-2-gram mass (distributed explode → two hash
    // aggs on the doc id — one shuffle).
    query("t5_repetition")((s, dir) =>
      Repetition.report(par(tbl(s, dir, "documents")), "doc_id", "text", n = 2)
        .withColumnRenamed("top_ngram_frac", "top_2gram_frac")) {
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS toks,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |                x -> x <> '') AS ls
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 1], ' '))) AS gram
        |  FROM t
        |), c AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
        |), a AS (
        |  SELECT doc_id, max(cnt) AS mx, CAST(sum(cnt) AS BIGINT) AS tot
        |  FROM c GROUP BY 1
        |)
        |SELECT t.doc_id,
        |  round(CASE WHEN len(ls) = 0 THEN 0.0
        |    ELSE CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE)
        |    END, 6) AS dup_line_frac,
        |  round(coalesce(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 0.0), 6) AS top_2gram_frac,
        |  coalesce(tot, CAST(0 AS BIGINT)) AS n_grams
        |FROM t LEFT JOIN a USING (doc_id)""".stripMargin
    },
    // Corpus vocabulary: top-100 terms by collection frequency with
    // document frequencies — explode feeding partial hash aggs, global
    // top-k via TakeOrderedAndProject (k rows per partition, never the
    // full vocabulary, cross the final boundary).
    query("t6_vocab")((s, dir) =>
      Vocab.topTerms(par(tbl(s, dir, "documents")), k = 100)) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
        |  FROM documents
        |)
        |SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
        |  CAST(count(*) AS BIGINT) AS cf
        |FROM tok GROUP BY token
        |ORDER BY cf DESC, token LIMIT 100""".stripMargin
    },
    // Misra-Gries heavy hitters: ≤ capacity counters per partition cross
    // the single merge — the bounded-memory top-terms path for
    // vocabularies too large to shuffle. capacity=1024 ≥ |vocab| here,
    // so counts are exact and the oracle is the plain GROUP BY.
    query("t17_heavy_hitters")((s, dir) =>
      HeavyHitters.topTokens(par(tbl(s, dir, "documents")),
        capacity = 1024, k = 20)) {
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), c AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n,
        |    CAST(row_number() OVER (ORDER BY count(*) DESC, term) AS INT) AS rank
        |  FROM tok GROUP BY term
        |)
        |SELECT term, n, rank FROM c WHERE rank <= 20""".stripMargin
    },
    // Corpus tokenization against a trained 30-term vocabulary: train
    // (top-k by cf) → assign dense ids → encode every document to its
    // id sequence with OOV counts. Vocabulary broadcast; corpus
    // shuffled once on the doc id for reassembly.
    query("t13_vocab_encode")((s, dir) => {
      val docs = par(tbl(s, dir, "documents"))
      Vocab.encode(docs, Vocab.assignIds(Vocab.topTerms(docs, k = 30)))
    }) {
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS t
        |  FROM documents
        |), v AS (
        |  SELECT token,
        |    CAST(row_number() OVER (ORDER BY cf DESC, token) AS INT) - 1 AS token_id
        |  FROM (
        |    SELECT token, count(*) AS cf FROM (
        |      SELECT unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
        |      FROM documents)
        |    GROUP BY token ORDER BY cf DESC, token LIMIT 30)
        |), pos AS (
        |  SELECT doc_id, CAST(j AS INT) AS pos, t[CAST(j AS INT) + 1] AS token
        |  FROM toks, (SELECT CAST(range AS BIGINT) AS j FROM range(4000)) r
        |  WHERE j < len(t)
        |), enc AS (
        |  SELECT p.doc_id, p.pos, coalesce(v.token_id, -1) AS tid
        |  FROM pos p LEFT JOIN v ON p.token = v.token
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
        |FROM enc GROUP BY doc_id""".stripMargin
    },
    // Distributed BPE tokenizer training: 6 greedy merge rounds over the
    // corpus word-frequency table — per round one explode→aggregate for
    // pair counts, a TakeOrdered(1) for the winner, and a literal
    // rewrite of the symbol strings. The oracle unrolls the identical
    // rounds (same tie-break, same left-to-right replace) in SQL.
    query("t18_bpe_merges")((s, dir) =>
      Bpe.trainMerges(par(tbl(s, dir, "documents")), "text", rounds = 6)) {
      bpeOracleSql(6)
    },
    // Corpus encoding with the trained tokenizer: per-document token
    // and post-merge subword counts — the token-budget accounting that
    // feeds packing/mixture/billing. The 6 learned merges come back to
    // the driver (6 rows, the same role as a broadcast model) and fold
    // into one chained-replace projection over the distinct-word table.
    // The model comes from the memoized bpeMerges — one training per
    // (session, corpus) shared with t22.
    query("t19_bpe_encode")((s, dir) => {
      val docs = par(tbl(s, dir, "documents"))
      Bpe.encodeStats(docs, "doc_id", "text", bpeMerges(s, dir))
    }) {
      bpeEncodeOracleSql(6)
    },
    // Tokenizer fertility by language: subword-per-token ratio of the
    // trained BPE over each language's documents — the "how expensive is
    // this language under this tokenizer" report that drives per-lang
    // token budgeting. Rides t19's encode; the per-lang rollup is a tiny
    // aggregate over the doc-level stats.
    query("t22_bpe_fertility")((s, dir) => {
      val docs = par(tbl(s, dir, "documents"))
      Bpe.encodeStats(docs, "doc_id", "text", bpeMerges(s, dir))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_symbols")).as("n_symbols"))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_symbols"),
          round(col("n_symbols").cast("double") / col("n_tokens").cast("double"), 6)
            .as("fertility"))
    }) {
      s"""WITH ${bpeCtesSql(6)}, enc AS (
         |  SELECT t.doc_id, count(*) AS n_tokens,
         |    CAST(sum(len(string_split(trim(w.s), ' '))) AS BIGINT) AS n_symbols
         |  FROM tok t JOIN w6 w USING (word)
         |  GROUP BY 1
         |)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(e.n_symbols) AS BIGINT) AS n_symbols,
         |  round(CAST(sum(e.n_symbols) AS DOUBLE) / CAST(sum(e.n_tokens) AS DOUBLE), 6) AS fertility
         |FROM enc e JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin
    },
    // Context-window chunking: 40-token windows with 10-token overlap —
    // a pure projection + explode inside the scan stage, no shuffle.
    query("t14_chunk_docs")((s, dir) =>
      Chunk.chunkDocs(par(tbl(s, dir, "documents")),
        chunkTokens = 40, overlap = 10)) {
      // stride = 40 - 10 = 30; chunk j covers tokens [j*30, j*30+40)
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |)
        |SELECT doc_id, CAST(j AS INT) AS chunk_idx,
        |  array_to_string(t[CAST(j * 30 + 1 AS INT):CAST(j * 30 + 40 AS INT)], ' ') AS chunk_text,
        |  CAST(least(40, len(t) - j * 30) AS INT) AS n_tokens
        |FROM toks, (SELECT CAST(range AS BIGINT) AS j FROM range(4000)) r
        |WHERE j * 30 < len(t)""".stripMargin
    },
    // Per-source corpus-mixture report: language histogram entropy per
    // source. Entropy terms are quantized to integer micro-nats before
    // the sum (the meanSurprisal discipline) so the result is
    // bit-identical across partitionings and engines. Two tiny aggs —
    // the second operates on |sources|×|langs| rows.
    query("t15_source_mixture")((s, dir) => {
      val counts = par(tbl(s, dir, "documents"))
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      val tot = counts.groupBy(col("source")).agg(sum(col("n")).as("nd"))
      counts.join(broadcast(tot), "source")
        .select(col("source"), col("nd"),
          round(-(col("n").cast("double") / col("nd")) *
            log(col("n").cast("double") / col("nd")) * 1e6)
            .cast("long").as("micro"))
        .groupBy(col("source"))
        .agg(max(col("nd")).as("n_docs"), count(lit(1)).as("n_langs"),
          round(sum(col("micro")).cast("double") / 1e6, 6).as("lang_entropy"))
    }) {
      """WITH c AS (
        |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
        |), t AS (
        |  SELECT source, sum(n) AS nd FROM c GROUP BY 1
        |), m AS (
        |  SELECT c.source, t.nd,
        |    CAST(round(-(CAST(n AS DOUBLE) / nd) * ln(CAST(n AS DOUBLE) / nd) * 1000000) AS BIGINT) AS micro
        |  FROM c JOIN t USING (source)
        |)
        |SELECT source, CAST(max(nd) AS BIGINT) AS n_docs, count(*) AS n_langs,
        |  round(CAST(sum(micro) AS DOUBLE) / 1000000, 6) AS lang_entropy
        |FROM m GROUP BY source""".stripMargin
    },
    // PII detect + scrub over a corpus with deterministically injected
    // PII (the base texts are letter-only word salad, so every match is
    // an injected one): per-class counts plus the md5 of the scrubbed
    // text — the hash is the audit that the redaction is byte-identical
    // across engines. Pure per-row regex map inside codegen, no shuffle.
    query("t7_pii_scrub")((s, dir) => {
      val injected = concat(
        col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact: user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" host 10."),
          (col("doc_id") % 256).cast("string"), lit(".0.1"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, concat(lit(" tel +1-555-"),
          (col("doc_id") % 1000000 + 1000000).cast("string"))).otherwise(lit("")))
      par(tbl(s, dir, "documents")).select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          Pii.emailCount(col("t")).as("n_emails"),
          Pii.ipv4Count(col("t")).as("n_ips"),
          Pii.phoneCount(col("t")).as("n_phones"),
          md5(Pii.scrub(col("t")).cast("binary")).as("scrub_hash"))
    }) {
      s"""WITH inj AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END ||
         |    CASE WHEN doc_id % 13 = 0 THEN ' tel +1-555-' || CAST(doc_id % 1000000 + 1000000 AS VARCHAR) ELSE '' END AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '${Pii.EmailRe}')) AS n_emails,
         |  len(regexp_extract_all(t, '${Pii.Ipv4Re}')) AS n_ips,
         |  len(regexp_extract_all(t, '${Pii.PhoneRe}')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Pii.EmailRe}', '<EMAIL>', 'g'),
         |    '${Pii.Ipv4Re}', '<IP>', 'g'),
         |    '${Pii.PhoneRe}', '<PHONE>', 'g')) AS scrub_hash
         |FROM inj""".stripMargin
    },
    // Gopher-style hard quality gates (booleans as 0/1 for the oracle
    // comparator). Per-row map, no shuffle.
    query("t8_quality_rules")((s, dir) => {
      val f = par(tbl(s, dir, "documents"))
        .select(col("doc_id") +: QualityRules.flags(col("text")): _*)
      f.select(col("doc_id") +:
        f.columns.tail.toIndexedSeq.map(n => col(n).cast("int").as(n)): _*)
    }) {
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '[a-zA-Z0-9'']+') AS toks,
        |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS awl,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST((length(text) - length(replace(text, '#', ''))) +
        |                    (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS sym_ratio,
        |    CASE WHEN len(ls) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ls, x -> starts_with(ltrim(x), '- ') OR starts_with(ltrim(x), '* '))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS bullet_frac,
        |    CASE WHEN len(ls) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '...'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS ell_frac,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS alpha_frac,
        |    len(list_intersect(list_distinct(ltoks),
        |        ['the','be','to','of','and','that','have','with'])) AS req_hits
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN n_tok >= 50 AND n_tok <= 100000 THEN 1 ELSE 0 END AS ok_word_count,
        |  CASE WHEN awl >= 3.0 AND awl <= 10.0 THEN 1 ELSE 0 END AS ok_word_len,
        |  CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END AS ok_symbols,
        |  CASE WHEN bullet_frac <= 0.9 THEN 1 ELSE 0 END AS ok_bullets,
        |  CASE WHEN ell_frac <= 0.3 THEN 1 ELSE 0 END AS ok_ellipsis,
        |  CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS ok_alpha_words,
        |  CASE WHEN req_hits >= 2 THEN 1 ELSE 0 END AS ok_required_words,
        |  CASE WHEN n_tok >= 50 AND n_tok <= 100000 AND awl >= 3.0 AND awl <= 10.0
        |            AND sym_ratio <= 0.1 AND bullet_frac <= 0.9 AND ell_frac <= 0.3
        |            AND alpha_frac >= 0.8 AND req_hits >= 2 THEN 1 ELSE 0 END AS passes_quality
        |FROM m""".stripMargin
    },
    // Document length profile (the context-length planning report:
    // token/char percentiles + the share of docs overflowing a
    // 512-token window) — one global aggregate, exact percentile
    // (quantile_cont parity), ppm by DECIMAL floor division.
    query("t39_length_profile")((s, dir) => {
      par(tbl(s, dir, "documents"))
        .select(length(col("text")).cast("long").as("_c"),
          Text.tokenCount(col("text")).cast("long").as("_t"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_t")).as("total_tokens"),
          round(expr("percentile(_t, 0.5)"), 6).as("p50_tokens"),
          round(expr("percentile(_t, 0.9)"), 6).as("p90_tokens"),
          round(expr("percentile(_t, 0.99)"), 6).as("p99_tokens"),
          round(expr("percentile(_c, 0.5)"), 6).as("p50_chars"),
          coalesce(sum(when(col("_t") > 512, 1L)), lit(0L)).as("n_over_512"))
        .withColumn("over_512_ppm", expr(
          "CAST(CAST(n_over_512 AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)"))
    }) {
      """WITH d AS (
        |  SELECT CAST(length(text) AS BIGINT) AS c,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS BIGINT) AS t
        |  FROM documents
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS total_tokens,
        |  round(quantile_cont(CAST(t AS DOUBLE), 0.5), 6) AS p50_tokens,
        |  round(quantile_cont(CAST(t AS DOUBLE), 0.9), 6) AS p90_tokens,
        |  round(quantile_cont(CAST(t AS DOUBLE), 0.99), 6) AS p99_tokens,
        |  round(quantile_cont(CAST(c AS DOUBLE), 0.5), 6) AS p50_chars,
        |  CAST(coalesce(sum(CASE WHEN t > 512 THEN 1 END), 0) AS BIGINT) AS n_over_512,
        |  CAST(CAST(coalesce(sum(CASE WHEN t > 512 THEN 1 END), 0) AS HUGEINT)
        |    * 1000000 // count(*) AS BIGINT) AS over_512_ppm
        |FROM d""".stripMargin
    },
    // Encoding-health report (the mojibake screen that runs BEFORE
    // content quality): C0 control chars, U+FFFD replacement chars,
    // non-ASCII count + ppm per doc — scan-stage codegen'd char
    // counts, no explode. See QualityRules.controlCharCount.
    query("t37_encoding_report")((s, dir) =>
      par(tbl(s, dir, "documents")).select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          QualityRules.controlCharCount(col("text")).as("n_ctrl"),
          QualityRules.replacementCharCount(col("text")).as("n_repl"),
          QualityRules.nonAsciiCount(col("text")).as("n_nonascii"))
        .withColumn("nonascii_ppm", expr(
          """CAST(CASE WHEN n_chars = 0 THEN 0
            | ELSE CAST(n_nonascii AS DECIMAL(38,0)) * 1000000 div n_chars
            | END AS BIGINT)""".stripMargin))) {
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(regexp_replace(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS n_ctrl,
        |  CAST(length(text) - length(regexp_replace(text, chr(65533), '', 'g'))
        |    AS BIGINT) AS n_repl,
        |  CAST(length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
        |    AS BIGINT) AS n_nonascii,
        |  CAST(CASE WHEN length(text) = 0 THEN 0
        |    ELSE CAST(length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
        |      AS HUGEINT) * 1000000 // length(text) END AS BIGINT) AS nonascii_ppm
        |FROM documents""".stripMargin
    },
    // Pairwise token-distribution KL divergence between sources (the
    // "can I swap source B in for A" mixture diagnostic): add-one
    // smoothed unigram distributions over the union vocab, per-term
    // micro-nat contributions integer-summed, both directions
    // reported. See Vocab.sourceKl.
    query("t38_source_kl")((s, dir) =>
      Vocab.sourceKl(par(tbl(s, dir, "documents")))) {
      """WITH tok AS (
        |  SELECT source AS g, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS t
        |  FROM documents WHERE source IS NOT NULL
        |), cells AS (
        |  SELECT g, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), vocab AS (SELECT DISTINCT t FROM cells
        |), grps AS (SELECT DISTINCT g FROM cells
        |), vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab
        |), tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1
        |), dense AS (
        |  SELECT vocab.t, grps.g, coalesce(cells.c, 0) AS c, tot.n, vs.v
        |  FROM vocab CROSS JOIN grps
        |  LEFT JOIN cells ON cells.g = grps.g AND cells.t = vocab.t
        |  JOIN tot ON tot.g = grps.g
        |  CROSS JOIN vs
        |), pr AS (
        |  SELECT a.g AS src_a, b.g AS src_b,
        |    CAST(round(
        |      (CAST(a.c AS DOUBLE) + 1.0) / (CAST(a.n AS DOUBLE) + CAST(a.v AS DOUBLE)) *
        |      ln(((CAST(a.c AS DOUBLE) + 1.0) * (CAST(b.n AS DOUBLE) + CAST(a.v AS DOUBLE))) /
        |         ((CAST(b.c AS DOUBLE) + 1.0) * (CAST(a.n AS DOUBLE) + CAST(a.v AS DOUBLE))))
        |      * 1e6) AS BIGINT) AS kl
        |  FROM dense a JOIN dense b ON a.t = b.t AND a.g <> b.g
        |)
        |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(kl) AS BIGINT) AS kl_micro
        |FROM pr GROUP BY 1, 2""".stripMargin
    },
    // Per-document top-3 tf-idf terms: explode → (doc,term) partial agg
    // → term-df agg → shuffle join on term → per-doc row_number. Scores
    // are rounded before ranking so ranks are engine-deterministic.
    query("t9_tfidf")((s, dir) =>
      Vocab.tfIdfTopTerms(par(tbl(s, dir, "documents")), k = 3)) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), dfs AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), nd AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
        |), scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(CAST(tf AS DOUBLE) *
        |      (ln((CAST(n_docs AS DOUBLE) + 1) / (CAST(df AS DOUBLE) + 1)) + 1), 6) AS tfidf
        |  FROM tf JOIN dfs USING (term) CROSS JOIN nd
        |), ranked AS (
        |  SELECT doc_id, term, tf, df, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  tfidf, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin
    },
    // Per-document mean unigram surprisal (perplexity proxy): integer
    // micro-nat quantization before the sum keeps the mean associative
    // and engine-exact.
    query("t11_surprisal")((s, dir) =>
      Vocab.meanSurprisal(par(tbl(s, dir, "documents")))) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), cf AS (
        |  SELECT term, count(*) AS cf FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(cf) AS DOUBLE) AS total FROM cf
        |), m AS (
        |  SELECT doc_id,
        |    CAST(round(-ln(CAST(cf AS DOUBLE) / total) * 1000000) AS BIGINT) AS micro
        |  FROM tok JOIN cf USING (term) CROSS JOIN tot
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000, 6) AS mean_surprisal
        |FROM m GROUP BY doc_id""".stripMargin
    },
    // Bigram-LM quality score: add-α bigram surprisal — the CCNet-style
    // perplexity filter. Bigrams form in the scan stage (sliced arrays,
    // no window/self-join); count tables come back via shuffle-hash
    // joins, never broadcast.
    query("t16_bigram_surprisal")((s, dir) =>
      Vocab.meanBigramSurprisal(par(tbl(s, dir, "documents")))) {
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, t[CAST(j AS INT) + 1] AS prev, t[CAST(j AS INT) + 2] AS cur
        |  FROM toks, (SELECT CAST(range AS BIGINT) AS j FROM range(4000)) r
        |  WHERE j < len(t) - 1
        |), c2 AS (
        |  SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY 1, 2
        |), c1 AS (
        |  SELECT prev, count(*) AS c1 FROM bg GROUP BY 1
        |), voc AS (
        |  SELECT count(DISTINCT term) AS v FROM (
        |    SELECT unnest(t) AS term FROM toks)
        |), m AS (
        |  SELECT doc_id,
        |    CAST(round(-ln((CAST(c2 AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |        (CAST(c1 AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE))) * 1000000)
        |      AS BIGINT) AS micro
        |  FROM bg JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN voc
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000, 6) AS mean_surprisal
        |FROM m GROUP BY doc_id""".stripMargin
    },
    // Lexical diversity: per-doc type/token/hapax counts + TTR — the
    // model-free vocabulary-richness quality gate. Two map-side-combined
    // aggregates ((doc, term) then doc), no joins or windows.
    query("t20_lexical_diversity")((s, dir) =>
      Vocab.lexicalDiversity(par(tbl(s, dir, "documents")))) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  CAST(count(*) FILTER (WHERE tf = 1) AS BIGINT) AS n_hapax,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 6) AS ttr
        |FROM tf GROUP BY doc_id""".stripMargin
    },
    // Per-doc token-distribution Shannon entropy in exact micro-nats:
    // the information-density gate that catches keyword-stuffing TTR
    // cannot (balance, not just type counts). See Vocab.tokenEntropy.
    query("t36_token_entropy")((s, dir) =>
      Vocab.tokenEntropy(par(tbl(s, dir, "documents")))) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), nn AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1
        |)
        |SELECT tf.doc_id, nn.n AS n_tokens, count(*) AS n_types,
        |  CAST(CAST(sum(tf * CAST(round(round(ln(CAST(nn.n AS DOUBLE) / CAST(tf AS DOUBLE)), 6)
        |    * 1000000) AS BIGINT)) AS HUGEINT) // nn.n AS BIGINT) AS entropy_micro_nats
        |FROM tf JOIN nn ON tf.doc_id = nn.doc_id GROUP BY 1, 2""".stripMargin
    },
    // Zipf rank-frequency fit over the top-1000 vocabulary: micro-nat
    // integer sums + decimal(38,0) normal equations — an engine-exact
    // least-squares regression (natural text ≈ slope −1).
    query("t21_zipf_fit")((s, dir) =>
      Vocab.zipfFit(par(tbl(s, dir, "documents")), k = 1000)) {
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
         |  FROM documents
         |), cfs AS (
         |  SELECT token, count(*) AS cf FROM tok GROUP BY 1
         |  ORDER BY cf DESC, token LIMIT 1000
         |), rk AS (
         |  SELECT cf, row_number() OVER (ORDER BY cf DESC, token) AS rank FROM cfs
         |), xy AS (
         |  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         |         CAST(round(ln(CAST(cf AS DOUBLE)) * 1000000) AS BIGINT) AS y
         |  FROM rk
         |), agg AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
         |    CAST(sum(x * y) AS HUGEINT) AS sxy
         |  FROM xy
         |)
         |${lineFitSql("n_terms")}""".stripMargin
    },
    // Heaps'-law vocabulary growth over the corpus in doc-id order:
    // cumulative (tokens, types) points from per-doc deltas via the
    // two-phase bucketed cumsum (no corpus-wide window), micro-nat
    // integer regression. slope = β ≈ 0.4-0.6 for natural text.
    query("t40_heaps_law")((s, dir) =>
      Vocab.heapsFit(par(tbl(s, dir, "documents")))) {
      // The running window is the engine-exact twin of the operator's
      // two-phase bucketed cumsum (both are exact integer prefix sums).
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS t
         |  FROM documents
         |), pd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY 1
         |), nv AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nv
         |  FROM (SELECT min(doc_id) AS doc_id FROM tok GROUP BY t) GROUP BY 1
         |), cum AS (
         |  SELECT sum(pd.nt) OVER w AS ct, sum(coalesce(nv.nv, 0)) OVER w AS cv
         |  FROM pd LEFT JOIN nv USING (doc_id)
         |  WINDOW w AS (ORDER BY pd.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), xy AS (
         |  SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         |         CAST(round(ln(CAST(cv AS DOUBLE)) * 1000000) AS BIGINT) AS y
         |  FROM cum WHERE ct > 0 AND cv > 0
         |), agg AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM xy
         |)
         |${lineFitSql("n_docs")}""".stripMargin
    },
    // Corpus boilerplate coverage: fraction of each document's distinct
    // 3-gram shingles that appear in >= 3 documents. Shingle-df agg +
    // shuffle-hash join back + doc agg — never broadcasts the
    // vocabulary-sized df table.
    query("t10_boilerplate")((s, dir) => {
      Repetition.boilerplateCoverage(par(tbl(s, dir, "documents")), n = 3, minDf = 3)
    }) {
      s"""WITH norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM documents
         |), shs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${shingleSql(3)},
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), ex AS (
         |  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM shs
         |), dfs AS (
         |  SELECT s, count(*) AS df FROM ex GROUP BY 1
         |)
         |SELECT doc_id, n_sh AS n_shingles,
         |  CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  round(CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS DOUBLE) /
         |        CAST(n_sh AS DOUBLE), 6) AS boiler_frac
         |FROM ex JOIN dfs USING (s)
         |GROUP BY doc_id, n_sh""".stripMargin
    },

    // ── Deduplication (training-data pipeline operators) ─────────────────
    // Exact dedup over a corpus with literal duplicates (each doc unioned
    // with an id-shifted copy): one shuffle on the content hash.
    query("d1_exact_dedup")((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = d.unionByName(
        d.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Dedup.exact(dup)
    }) {
      """WITH dup AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents
        |), h AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
        |  FROM dup
        |)
        |SELECT doc_id, content_hash,
        |  min(doc_id) OVER (PARTITION BY content_hash) AS keep_id,
        |  count(*) OVER (PARTITION BY content_hash) AS n_copies,
        |  doc_id != min(doc_id) OVER (PARTITION BY content_hash) AS is_dup
        |FROM h""".stripMargin
    },
    // MinHash+LSH near-dup pairs over a corpus with constructed near-dups
    // (each doc unioned with a truncated copy), verified by exact Jaccard.
    query("d2_minhash_lsh")((s, dir) => {
      Dedup.minhashLshPairs(augmentedDocs(s, dir), k = 32, bands = 8, threshold = 0.4)
    }) {
      d2PairsSql
    },
    // MinHash sketch-accuracy audit: signature-estimated Jaccard vs the
    // exact shingle Jaccard over the banded candidates, integer-ppm mean
    // and max absolute error — the sketch-eval sibling of s12's recall
    // report (see Dedup.minhashErrorAudit).
    query("d17_minhash_error")((s, dir) => {
      Dedup.minhashErrorAudit(augmentedDocs(s, dir))
    }) {
      s"""WITH $augDocsSql, $minhashParamsSql, ${lshSideSql("aug", "")}, cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
         |), m AS (
         |  SELECT
         |    CAST(coalesce(list_sum(list_transform(range(32),
         |      i -> CASE WHEN sga.sig[CAST(i AS INT) + 1] = sgb.sig[CAST(i AS INT) + 1]
         |           THEN 1 ELSE 0 END)), 0) AS BIGINT) AS nmatch,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
         |    CAST(len(sa.sh) AS BIGINT) AS na, CAST(len(sb.sh) AS BIGINT) AS nb
         |  FROM cand
         |  JOIN sigs sga ON cand.id_a = sga.id JOIN sigs sgb ON cand.id_b = sgb.id
         |  JOIN shs sa ON cand.id_a = sa.id JOIN shs sb ON cand.id_b = sb.id
         |), e AS (
         |  SELECT abs(nmatch * 1000000 // 32 - inter * 1000000 // (na + nb - inter)) AS err
         |  FROM m
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_ppm,
         |  CAST(max(err) AS BIGINT) AS max_abs_err_ppm
         |FROM e""".stripMargin
    },
    // Cap-exposure audit over the same augmented corpus as d2/d17: per
    // guarded stage (LSH band buckets, shingle document frequency), how
    // many groups a cap of this size would drop and how many member
    // rows ride them — the CapStats recall-exposure numbers as a
    // first-class oracle-checked artifact. Deliberately tight caps
    // (4 / 8) so BOTH stages exercise their hot branch on testdata.
    query("d20_cap_audit")((s, dir) => {
      Dedup.capExposureReport(augmentedDocs(s, dir), bucketCap = 4, dfCap = 8)
    }) {
      s"""WITH $augDocsSql, $minhashParamsSql, ${lshSideSql("aug", "")}, bsz AS (
         |  SELECT band, bkey, CAST(count(*) AS BIGINT) AS m FROM band GROUP BY 1, 2
         |), dfs AS (
         |  SELECT s, CAST(count(*) AS BIGINT) AS m
         |  FROM (SELECT id, unnest(sh) AS s FROM shs) GROUP BY 1
         |), shs5 AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(${shingleSql(5)},
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), dfs5 AS (
         |  SELECT s, CAST(count(*) AS BIGINT) AS m
         |  FROM (SELECT id, unnest(sh) AS s FROM shs5) GROUP BY 1
         |)
         |SELECT 'lsh_band' AS stage, CAST(4 AS BIGINT) AS cap,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(coalesce(sum(CASE WHEN m > 4 THEN 1 END), 0) AS BIGINT) AS n_hot_groups,
         |  CAST(coalesce(sum(CASE WHEN m > 4 THEN m END), 0) AS BIGINT) AS dropped_rows,
         |  CAST(max(m) AS BIGINT) AS max_group
         |FROM bsz
         |UNION ALL
         |SELECT 'shingle_df', CAST(8 AS BIGINT),
         |  CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(CASE WHEN m > 8 THEN 1 END), 0) AS BIGINT),
         |  CAST(coalesce(sum(CASE WHEN m > 8 THEN m END), 0) AS BIGINT),
         |  CAST(max(m) AS BIGINT)
         |FROM dfs
         |UNION ALL
         |SELECT 'idf_shingle_df', CAST(16 AS BIGINT),
         |  CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(CASE WHEN m > 16 THEN 1 END), 0) AS BIGINT),
         |  CAST(coalesce(sum(CASE WHEN m > 16 THEN m END), 0) AS BIGINT),
         |  CAST(max(m) AS BIGINT)
         |FROM dfs5""".stripMargin
    },
    // Embedding sibling of d20 over the d5 corpus: (band, bucket)
    // occupancy of the PRODUCTION sign-LSH banding (the Auto-derived
    // 35×16 grid d5 runs) — the direct monitor for the quadratic-
    // occupancy failure class the round-6 scale rehearsal caught.
    // max_group near the cap = time to add planes.
    query("d21_emb_cap_audit")((s, dir) => {
      Dedup.embeddingCapExposureReport(augmentedEmb(s, dir), bucketCap = 4)
    }) {
      // 35/16 hardcoded = bandingForTargetMiss(0.95, 1e-3), the grid the
      // d5 query derives; plane weights recomputed from the same
      // 'nd<band>:<p>,<d>' md5 seeds.
      s"""WITH eIn AS (
         |  $augEmbSql
         |), $quantEmbSql, w AS (
         |  SELECT band, p, list_transform(range(64), d ->
         |    ((('0x' || substr(md5('nd' || CAST(band AS VARCHAR) || ':' || CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 15))::BIGINT) % 2001) - 1000) AS wv
         |  FROM (SELECT CAST(range AS BIGINT) AS band FROM range(35))
         |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS p FROM range(16))
         |), b AS (
         |  SELECT q.vec_id, w.band,
         |    CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
         |      d -> q.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) >= 0
         |      THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
         |  FROM q CROSS JOIN w GROUP BY 1, 2
         |), bsz AS (SELECT band, bucket, CAST(count(*) AS BIGINT) AS m FROM b GROUP BY 1, 2)
         |SELECT 'emb_lsh_band' AS stage, CAST(4 AS BIGINT) AS cap,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(coalesce(sum(CASE WHEN m > 4 THEN 1 END), 0) AS BIGINT) AS n_hot_groups,
         |  CAST(coalesce(sum(CASE WHEN m > 4 THEN m END), 0) AS BIGINT) AS dropped_rows,
         |  CAST(max(m) AS BIGINT) AS max_group
         |FROM bsz""".stripMargin
    },
    // IDF-weighted shingle-cosine pairs — the WEIGHTED complement of
    // d4's unweighted Jaccard (shared rare shingles count, boilerplate
    // shingles don't). Weighted at the SHINGLE level, not unigrams:
    // this corpus's word vocabulary is 118 terms, so a unigram
    // inverted index fans out quadratically on every term (measured
    // ~220k candidate pairs at sf0.01, corpus² at 10×) while 5-gram
    // shingles are near-unique (max df 6, 646 candidates). See
    // Dedup.idfCosinePairs.
    query("d23_idf_cosine")((s, dir) => {
      Dedup.idfCosinePairs(augmentedDocs(s, dir), n = 5, threshold = 0.8)
    }) {
      s"""WITH ${augShinglesSql(5)}, ex AS (
         |  SELECT id, unnest(sh) AS s FROM shs
         |), dfs AS (
         |  SELECT s, count(*) AS df FROM ex GROUP BY 1
         |), nd AS (
         |  SELECT count(DISTINCT id) AS n_docs FROM shs
         |), wt AS (
         |  SELECT id, ex.s, df,
         |    CAST(round(round(ln((CAST(n_docs AS DOUBLE) + 1)
         |      / (CAST(df AS DOUBLE) + 1)) + 1, 6) * 1000000) AS BIGINT) AS w
         |  FROM ex JOIN dfs USING (s) CROSS JOIN nd
         |), nrm AS (
         |  SELECT id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wt GROUP BY 1
         |), pr AS (SELECT * FROM wt WHERE df <= 16
         |), dots AS (
         |  SELECT a.id AS id_a, b.id AS id_b, sum(CAST(a.w AS HUGEINT) * b.w) AS dot
         |  FROM pr a JOIN pr b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b,
         |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
         |FROM dots JOIN nrm na ON dots.id_a = na.id JOIN nrm nb ON dots.id_b = nb.id
         |WHERE round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) >= 0.8""".stripMargin
    },
    // Exact τ=0.6 Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin):
    // only each doc's RAREST ~40% of shingles are indexed (global
    // df-ascending order), yet the result is provably identical to the
    // full inverted index — the oracle is the brute-force all-pairs
    // truth, so the hash gate doubles as the losslessness proof. The
    // deterministic exact-join complement to d2's probabilistic LSH.
    query("d22_prefix_filter")((s, dir) => {
      Dedup.prefixFilterJaccardPairs(augmentedDocs(s, dir), n = 5, threshold = 0.6)
    }) {
      s"""WITH ${augShinglesSql(5)}, ex AS (
         |  SELECT id, len(sh) AS n, unnest(sh) AS s FROM shs
         |), pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) >= 0.6""".stripMargin
    },
    // Per-document 32-bit SimHash.
    query("d3_simhash")((s, dir) => {
      par(tbl(s, dir, "documents"))
        .select(col("doc_id"), Dedup.simhash32Native(col("text")).as("simhash"))
    }) {
      s"""WITH n AS (
         |  SELECT doc_id, list_distinct($normToksSql) AS toks FROM documents
         |), h AS (
         |  SELECT doc_id, list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs FROM n
         |)
         |SELECT doc_id, CAST(coalesce(list_sum(list_transform(range(32), j ->
         |  CASE WHEN coalesce(list_sum(list_transform(hs, h2 -> ((h2 >> CAST(j AS INT)) & 1) * 2 - 1)), 0) > 0
         |       THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT) AS simhash
         |FROM h""".stripMargin
    },
    // Exact n-gram Jaccard pairs via shingle inverted index. n=5: on a
    // low-entropy vocabulary, 3-gram document frequencies explode the
    // inverted-index join quadratically; 5-grams keep shingles near-unique
    // so join fan-out ≈ true near-dup pairs.
    query("d4_ngram_jaccard")((s, dir) => {
      Dedup.ngramJaccardPairs(augmentedDocs(s, dir), n = 5, threshold = 0.3)
    }) {
      s"""WITH ${augShinglesSql(5)}, ex AS (
         |  SELECT id, len(sh) AS n, unnest(sh) AS s FROM shs
         |), pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) >= 0.3""".stripMargin
    },
    // Embedding-cosine near-dup pairs over a corpus with constructed
    // near-dups (affine-perturbed copies); the oracle is the brute-force
    // all-pairs ground truth, so this is also d5's recall gate. Uses the
    // AUTO banding (threshold 0.95, miss ≤ 1e-3 → 35 bands × 16 planes):
    // deep bands keep bucket occupancy CONSTANT as the corpus grows —
    // the round-6 10× rehearsal measured the old fixed 8×8 grid going
    // 13× (in-bucket candidates are quadratic in occupancy), while the
    // deep grid stays linear; sketch compute grows 8.75× but is
    // scan-stage and codegen'd.
    query("d5_embedding_neardup")((s, dir) => {
      Dedup.embeddingNearDupPairsAuto(augmentedEmb(s, dir), threshold = 0.95)
    }) {
      s"""WITH eIn AS (
         |  $augEmbSql
         |), $quantEmbSql, pr AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, $dotCosSql AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cos FROM pr WHERE cos >= 0.95""".stripMargin
    },

    // ── Similarity search ────────────────────────────────────────────────
    // Brute-force cosine top-5 for the first 20 vectors as queries.
    query("s1_ann_topk")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bruteForceTopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < 20 AND b.vec_id != a.vec_id
         |), $top5CosSql""".stripMargin
    },
    // Mean reciprocal rank of the retrieval stack: each original's
    // constructed near-dup twin (+1M, affine-perturbed) is the ground
    // truth; MRR@10 = mean of floor(1e6/rank of the twin), misses
    // contribute 0 — the rank-weighted companion to s12's recall.
    // Rides bruteForceTopK (corpus never shuffled, queries broadcast).
    query("s20_mrr")((s, dir) => {
      val emb = augmentedEmb(s, dir)
      val top = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 10)
      val hits = top.where(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("rn"))
      val nq = emb.where(col("vec_id") < 20).agg(count(lit(1)).as("n_queries"))
      hits.agg(count(lit(1)).as("n_hits"),
          sum(expr("1000000L div rn")).as("_s"))
        .crossJoin(broadcast(nq))
        .select(col("n_queries"), col("n_hits"),
          expr("CAST(CAST(coalesce(_s, 0) AS DECIMAL(38,0)) div n_queries AS BIGINT)")
            .as("mrr_micro"))
    }) {
      s"""WITH eIn AS (
         |  $augEmbSql
         |), $quantEmbSql, scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < 20 AND b.vec_id != a.vec_id
         |), ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored
         |), hits AS (
         |  SELECT query_id, rn FROM ranked
         |  WHERE rn <= 10 AND neighbor_id = query_id + 1000000
         |), nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM eIn WHERE vec_id < 20)
         |SELECT nq.n_queries, CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(CAST(coalesce(sum(1000000 // rn), 0) AS HUGEINT) // nq.n_queries AS BIGINT)
         |    AS mrr_micro
         |FROM hits, nq GROUP BY nq.n_queries""".stripMargin
    },
    // Range (radius) search at cosine >= 0.3: everything actually
    // similar to each query, not a fixed k — the recall-safe retrieval
    // primitive. Corpus scanned never shuffled, queries broadcast.
    // See Similarity.rangeSearch.
    query("s19_range_search")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.rangeSearch(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", threshold = 0.3)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, sc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < 20 AND b.vec_id != a.vec_id
         |)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cos
         |FROM sc WHERE cos >= 0.3""".stripMargin
    },
    // Hard-negative mining for contrastive training: per labeled
    // anchor, the top-5 most-similar vectors with a DIFFERENT label —
    // the label predicate runs during candidate generation (s14's
    // rule, polarity inverted), corpus never shuffled. See
    // Similarity.hardNegatives.
    query("s18_hard_negatives")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.hardNegatives(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, lbl AS (
         |  SELECT vec_id, label FROM embeddings
         |), scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qn a
         |  JOIN lbl la ON la.vec_id = a.vec_id
         |  JOIN qn b ON a.vec_id < 20 AND b.vec_id != a.vec_id
         |  JOIN lbl lb ON lb.vec_id = b.vec_id
         |  WHERE la.label != lb.label
         |), $top5CosSql""".stripMargin
    },
    // MMR diverse top-5 from the brute top-10 (λ=70%): greedy
    // λ·rel − (1−λ)·max-sim-to-picked argmax in exact integer micro
    // units — the de-crowding post-stage production retrieval runs
    // after ANN, here with a bit-identical oracle-unrollable
    // trajectory. See Similarity.mmrRerank.
    query("s17_mmr_rerank")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.mmrRerank(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", m = 10, k = 5, lambdaPct = 70)
    }) {
      // unrolls mmrRerank's greedy: top-10 candidates (the s1 ranking),
      // micro-quantized candidate and pairwise cosines, then k−1 steps of
      // (remaining ⋈ max-sim-to-selected → integer-score argmax).
      // MATERIALIZED throughout: each step references the accumulator
      // twice, so default inlining would expand the chain exponentially
      // (the g6 lesson).
      val k = 5; val lam = 70; val m = 10
      val base =
        s"""WITH eIn AS (
           |  SELECT vec_id, embedding FROM embeddings
           |), $quantEmbSql, scored AS (
           |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
           |  FROM qn a JOIN qn b ON a.vec_id < 20 AND b.vec_id != a.vec_id
           |), cand AS MATERIALIZED (
           |  SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           |    CAST(round(round(cos, 6) * 1000000) AS BIGINT) AS cosm, rn
           |  FROM (
           |    SELECT query_id, neighbor_id, cos,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
           |    FROM scored)
           |  WHERE rn <= $m
           |), pv AS MATERIALIZED (
           |  SELECT c.query_id, c.neighbor_id AS cid, qn.qv, qn.n2
           |  FROM cand c JOIN qn ON qn.vec_id = c.neighbor_id
           |), ps AS MATERIALIZED (
           |  SELECT a.query_id, a.cid AS a_id, b.cid AS b_id,
           |    CAST(round(round($dotCosSql, 6) * 1000000) AS BIGINT) AS simm
           |  FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.cid != b.cid
           |), sacc1 AS MATERIALIZED (
           |  SELECT query_id, neighbor_id, 1 AS pick_rank FROM cand WHERE rn = 1
           |)""".stripMargin
      val steps = (2 to k).map { i =>
        s""", rem$i AS MATERIALIZED (
           |  SELECT c.* FROM cand c LEFT JOIN sacc${i - 1} s
           |    ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
           |  WHERE s.neighbor_id IS NULL
           |), ms$i AS MATERIALIZED (
           |  SELECT ps.query_id, ps.a_id, max(ps.simm) AS ms
           |  FROM ps JOIN sacc${i - 1} s
           |    ON ps.query_id = s.query_id AND ps.b_id = s.neighbor_id
           |  GROUP BY 1, 2
           |), win$i AS MATERIALIZED (
           |  SELECT query_id, neighbor_id, $i AS pick_rank FROM (
           |    SELECT r.query_id, r.neighbor_id,
           |      row_number() OVER (PARTITION BY r.query_id
           |        ORDER BY ($lam * r.cosm - ${100 - lam} * m.ms) DESC, r.neighbor_id) AS wrn
           |    FROM rem$i r JOIN ms$i m
           |      ON r.query_id = m.query_id AND r.neighbor_id = m.a_id)
           |  WHERE wrn = 1
           |), sacc$i AS MATERIALIZED (
           |  SELECT * FROM sacc${i - 1} UNION ALL SELECT * FROM win$i
           |)""".stripMargin
      }.mkString
      base + steps +
        s"""\nSELECT s.query_id, s.neighbor_id, s.pick_rank, c.cos
           |FROM sacc$k s JOIN cand c
           |  ON s.query_id = c.query_id AND s.neighbor_id = c.neighbor_id""".stripMargin
    },
    // LSH-bucketed variant: candidates restricted to the sign-sketch
    // bucket. 6 hyperplanes = 64 buckets, sized to the testdata corpus so
    // buckets are populated; at production scale use 16+ planes and
    // multi-probe.
    query("s2_ann_lsh")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, planes = 6)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, w AS (
         |  ${signPlanesSql(6)}
         |), dots AS (
         |  SELECT qn.vec_id, w.p,
         |    list_sum(list_transform(range(1, 65), d -> qn.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) AS dp
         |  FROM qn, w
         |), bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |), qb AS (
         |  SELECT qn.vec_id, qn.qv, qn.n2, bkt.bucket FROM qn JOIN bkt USING (vec_id)
         |), scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qb a JOIN qb b ON a.vec_id < 20 AND b.bucket = a.bucket AND b.vec_id != a.vec_id
         |), $top5CosSql""".stripMargin
    },
    // Multi-probe LSH: the production recall knob — each query also
    // probes every Hamming-1 bucket (one flipped sign bit), recovering
    // neighbors that fell one hyperplane to the wrong side.
    query("s4_ann_multiprobe")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.lshTopKMultiProbe(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, planes = 6)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, w AS (
         |  ${signPlanesSql(6)}
         |), dots AS (
         |  SELECT qn.vec_id, w.p,
         |    list_sum(list_transform(range(1, 65), d -> qn.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) AS dp
         |  FROM qn, w
         |), bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |), qb AS (
         |  SELECT qn.vec_id, qn.qv, qn.n2, bkt.bucket FROM qn JOIN bkt USING (vec_id)
         |), masks AS (
         |  SELECT CAST(0 AS BIGINT) AS m
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT) << CAST(range AS INT) FROM range(6)
         |), probes AS (
         |  SELECT a.vec_id, a.qv, a.n2, xor(a.bucket, masks.m) AS bucket
         |  FROM qb a, masks WHERE a.vec_id < 20
         |), scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM probes a JOIN qb b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
         |), $top5CosSql""".stripMargin
    },
    // IVF variant: label column as the coarse quantizer cells; queries
    // probe their 2 nearest integer centroids.
    query("s3_ann_ivf")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfTopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5, nprobe = 2)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, ql AS (
         |  SELECT qn.vec_id, e2.label, qn.qv, qn.n2
         |  FROM qn JOIN embeddings e2 ON qn.vec_id = e2.vec_id
         |), $centroidsSql, qset AS (
         |  SELECT vec_id AS qid, qv AS qq, n2 AS qn2 FROM qn WHERE vec_id < 20
         |), qc AS (
         |  SELECT qid, qq, qn2, cell,
         |    qn2 + cn2 - 2 * list_sum(list_transform(range(1, 65),
         |      d -> qq[CAST(d AS INT)] * cvec[CAST(d AS INT)])) AS dist2
         |  FROM qset, cn
         |), probes AS (
         |  SELECT qid, qq, qn2, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist2, cell) AS pr FROM qc)
         |  WHERE pr <= 2
         |), scored AS (
         |  SELECT p.qid AS query_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      d -> c.qv[CAST(d AS INT)] * p.qq[CAST(d AS INT)])) AS DOUBLE)
         |      / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(p.qn2 AS DOUBLE))) AS cos
         |  FROM probes p JOIN ql c ON c.label = p.cell AND c.vec_id != p.qid
         |), $top5CosSql""".stripMargin
    },
    // Full in-plan IVF story: the coarse quantizer is TRAINED inside the
    // plan (deterministic md5-seeded Lloyd's k-means, 2 iterations) and
    // its assignment feeds the probe path — train → assign → ivfTopK
    // with no external model or label column.
    query("s5_ann_ivf_trained")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      // train-and-probe in one pass: one corpus prepare, the trainer's
      // own final centers reused by the probe (identical assignments,
      // centroids, and top-k — see Similarity.ivfTopKSelfTrained)
      Similarity.ivfTopKSelfTrained(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, kCells = 8, iters = 2, nprobe = 2)
    }) {
      // Unrolls trainIvfCells' two Lloyd's iterations: md5-seeded
      // initial centroids (8 smallest by hash60('ivf|'||id)), assignment
      // by exact integer L2 with (dist2, cell) tie-break, elementwise
      // rounded-mean centroids — then the same IVF probe tail as s3 with
      // the trained assignment in place of the label column.
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, ${ivfLloyd2Sql(8)}, ql AS (
         |  SELECT qn.vec_id, a2.cell AS label, qn.qv, qn.n2
         |  FROM qn JOIN a2 USING (vec_id)
         |), $centroidsSql, qset AS (
         |  SELECT vec_id AS qid, qv AS qq, n2 AS qn2 FROM qn WHERE vec_id < 20
         |), qc AS (
         |  SELECT qid, qq, qn2, cell,
         |    qn2 + cn2 - 2 * list_sum(list_transform(range(1, 65),
         |      d -> qq[CAST(d AS INT)] * cvec[CAST(d AS INT)])) AS dist2
         |  FROM qset, cn
         |), probes AS (
         |  SELECT qid, qq, qn2, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist2, cell) AS pr FROM qc)
         |  WHERE pr <= 2
         |), scored AS (
         |  SELECT p.qid AS query_id, c.vec_id AS neighbor_id,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      d -> c.qv[CAST(d AS INT)] * p.qq[CAST(d AS INT)])) AS DOUBLE)
         |      / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(p.qn2 AS DOUBLE))) AS cos
         |  FROM probes p JOIN ql c ON c.label = p.cell AND c.vec_id != p.qid
         |), $top5CosSql""".stripMargin
    },
    // SQ8 scalar-quantized ANN: candidates scored against reconstructed
    // 8-bit codes (exact integer arithmetic end-to-end, so the oracle
    // replays the identical candidate set), then an exact-cosine rerank
    // of each query's top 20.
    query("s6_ann_sq8")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.sq8TopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, rerank = 20)
    }) {
      // Replays sq8TopK exactly: per-dim [min,max] over the quantized
      // corpus, 255-scaled integer reconstruction (nonnegative numerator,
      // so // and DIV agree), integer candidate scores with (score DESC,
      // id) ties, exact-cosine rerank of the top 20.
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, dims AS (
         |  SELECT CAST(range AS INT) + 1 AS d FROM range(64)
         |), st AS (
         |  SELECT d, min(qv[d]) AS mn, max(qv[d]) AS mx FROM qn, dims GROUP BY d
         |), rec AS (
         |  SELECT vec_id,
         |    list(mn * 255 + ((qv[d] - mn) * 255 // greatest(mx - mn, 1)) * (mx - mn)
         |         ORDER BY d) AS rvec
         |  FROM qn, st GROUP BY vec_id
         |), qset AS (
         |  SELECT vec_id AS qid, qv AS qq FROM qn WHERE vec_id < 20
         |), appr AS (
         |  SELECT qs.qid, r.vec_id AS nid,
         |    list_sum(list_transform(range(1, 65),
         |      d -> qs.qq[CAST(d AS INT)] * r.rvec[CAST(d AS INT)])) AS ascore
         |  FROM qset qs JOIN rec r ON r.vec_id != qs.qid
         |), cand AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY ascore DESC, nid) AS pr
         |    FROM appr)
         |  WHERE pr <= 20
         |), scored AS (
         |  SELECT c.qid AS query_id, c.nid AS neighbor_id, $dotCosSql AS cos
         |  FROM cand c JOIN qn a ON a.vec_id = c.qid JOIN qn b ON b.vec_id = c.nid
         |), $top5CosSql""".stripMargin
    },
    // Product-quantized ANN: per-subspace codebooks trained in-plan
    // (seeded Lloyd's, one iteration), 4-code storage, ADC table-sum
    // candidate scan, exact top-k rerank — the 64×-compression scale
    // path of the quantization family (s1 brute → s2/s4 LSH → s3/s5
    // IVF → s6 SQ8 → s8 PQ).
    query("s8_ann_pq")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.pqTopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5,
        subspaces = 8, kSub = 8, iters = 1, rerank = 20)
    }) {
      // Replays pqTopK exactly: per-subspace quantized subvectors,
      // md5-seeded per-sub codebooks (c0), one Lloyd round (a1 → c1),
      // final codes (a2), integer ADC table-sums, top-20 candidates by
      // approximate cosine, exact top-5 rerank.
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, subs AS (
         |  SELECT CAST(range AS BIGINT) AS sub FROM range(8)
         |), sd AS (
         |  SELECT CAST(range AS INT) + 1 AS d FROM range(8)
         |), subv AS (
         |  SELECT vec_id, sub,
         |    qv[CAST(sub * 8 + 1 AS INT):CAST(sub * 8 + 8 AS INT)] AS sv
         |  FROM qn, subs
         |), svn AS (
         |  SELECT vec_id, sub, sv,
         |    list_sum(list_transform(sv, x -> x * x)) AS svn2
         |  FROM subv
         |), seeds AS (
         |  SELECT sub, vec_id, sv, svn2,
         |    row_number() OVER (PARTITION BY sub ORDER BY hkey, vec_id) - 1 AS cell
         |  FROM (
         |    SELECT vec_id, sub, sv, svn2,
         |      ('0x' || substr(md5('pq|' || CAST(sub AS VARCHAR) || '|' ||
         |        CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hkey
         |    FROM svn)
         |  QUALIFY row_number() OVER (PARTITION BY sub ORDER BY hkey, vec_id) <= 8
         |), c0 AS (
         |  SELECT sub, cell, sv AS cvec, svn2 AS cn2 FROM seeds
         |), a1 AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT s.vec_id, s.sub, c.cell,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        s.svn2 + c.cn2 - 2 * list_sum(list_transform(range(1, 9),
         |          d -> s.sv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
         |    FROM svn s JOIN c0 c USING (sub))
         |  WHERE rn = 1
         |), c1d AS (
         |  SELECT a.sub, a.cell, sd.d, sum(s.sv[sd.d]) AS svs, count(*) AS cnt
         |  FROM a1 a JOIN svn s USING (vec_id, sub), sd
         |  GROUP BY 1, 2, 3
         |), c1 AS (
         |  SELECT sub, cell,
         |    list(CAST(round(CAST(svs AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
         |  FROM c1d GROUP BY 1, 2
         |), c1n AS (
         |  SELECT sub, cell, cvec,
         |    list_sum(list_transform(cvec, x -> x * x)) AS cn2
         |  FROM c1
         |), a2 AS (
         |  SELECT vec_id, sub, cell, cn2 FROM (
         |    SELECT s.vec_id, s.sub, c.cell, c.cn2,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        s.svn2 + c.cn2 - 2 * list_sum(list_transform(range(1, 9),
         |          d -> s.sv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
         |    FROM svn s JOIN c1n c USING (sub))
         |  WHERE rn = 1
         |), qsub AS (
         |  SELECT vec_id AS qid, sub, sv FROM svn WHERE vec_id < 20
         |), lut AS (
         |  SELECT q.qid, c.sub, c.cell,
         |    list_sum(list_transform(range(1, 9),
         |      d -> q.sv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])) AS dot
         |  FROM qsub q JOIN c1n c ON q.sub = c.sub
         |), appr AS (
         |  SELECT l.qid, a.vec_id AS nid, sum(l.dot) AS adot, sum(a.cn2) AS rn2
         |  FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cell = l.cell
         |    AND a.vec_id <> l.qid
         |  GROUP BY 1, 2
         |), apprc AS (
         |  SELECT ap.qid, ap.nid,
         |    CAST(ap.adot AS DOUBLE) /
         |      (sqrt(CAST(ap.rn2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))) AS acos
         |  FROM appr ap JOIN qn ON qn.vec_id = ap.qid
         |), pcand AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY acos DESC, nid) AS pr
         |    FROM apprc)
         |  WHERE pr <= 20
         |), scored AS (
         |  SELECT c.qid AS query_id, c.nid AS neighbor_id, $dotCosSql AS cos
         |  FROM pcand c JOIN qn a ON a.vec_id = c.qid JOIN qn b ON b.vec_id = c.nid
         |), $top5CosSql""".stripMargin
    },
    // Clustering-quality diagnostic: per trained IVF cell, member count
    // + mean exact-integer squared distance to the member-mean centroid
    // — the cell-balance pre-flight before committing a layout.
    query("s10_cell_profile")((s, dir) => {
      Similarity.cellProfile(par(tbl(s, dir, "embeddings")),
        "vec_id", "embedding", k = 8, iters = 2)
    }) {
      // s5's coarse unroll + a per-cell dist2 rollup.
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, ${ivfLloyd2Sql(8)}, ql AS (
         |  SELECT qn.vec_id, a2.cell AS label, qn.qv, qn.n2
         |  FROM qn JOIN a2 USING (vec_id)
         |), $centroidsSql, dd AS (
         |  SELECT ql.label AS cell,
         |    ql.n2 + cn.cn2 - 2 * list_sum(list_transform(range(1, 65),
         |      i -> ql.qv[CAST(i AS INT)] * cn.cvec[CAST(i AS INT)])) AS dist2
         |  FROM ql JOIN cn ON cn.cell = ql.label
         |)
         |SELECT cell, count(*) AS n_members,
         |  round(CAST(sum(dist2) AS DOUBLE) / count(*), 6) AS mean_dist2
         |FROM dd GROUP BY 1""".stripMargin
    },
    // IVF-PQ: the FAISS-style composition closing the quantization
    // family — trained coarse cells restrict each query's candidates to
    // its 2 nearest cells, PQ codes + ADC table-sums score only those,
    // exact rerank finishes. At scale the corpus is hash-partitioned by
    // cell, so a probe reads ~nprobe/kCells of the codes.
    query("s9_ann_ivfpq")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.ivfPqTopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5,
        kCells = 8, nprobe = 2, ivfIters = 2,
        subspaces = 8, kSub = 8, iters = 1, rerank = 20)
    }) {
      // s5's coarse unroll (trained cells a2 → member-mean
      // centroids → top-2 probes per query) gating s8's PQ unroll
      // (p-prefixed CTEs to avoid colliding with the coarse family):
      // ADC scores only candidates whose coarse cell is probed, then
      // the exact top-5 rerank.
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, ${ivfLloyd2Sql(8)}, ql AS (
         |  SELECT qn.vec_id, a2.cell AS label, qn.qv, qn.n2
         |  FROM qn JOIN a2 USING (vec_id)
         |), $centroidsSql, qset AS (
         |  SELECT vec_id AS qid, qv AS qq, n2 AS qn2 FROM qn WHERE vec_id < 20
         |), qc AS (
         |  SELECT qid, cell,
         |    qn2 + cn2 - 2 * list_sum(list_transform(range(1, 65),
         |      d -> qq[CAST(d AS INT)] * cvec[CAST(d AS INT)])) AS dist2
         |  FROM qset, cn
         |), probes AS (
         |  SELECT qid, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist2, cell) AS pr FROM qc)
         |  WHERE pr <= 2
         |), psubs AS (
         |  SELECT CAST(range AS BIGINT) AS sub FROM range(8)
         |), psd AS (
         |  SELECT CAST(range AS INT) + 1 AS d FROM range(8)
         |), psubv AS (
         |  SELECT vec_id, sub,
         |    qv[CAST(sub * 8 + 1 AS INT):CAST(sub * 8 + 8 AS INT)] AS sv
         |  FROM qn, psubs
         |), psvn AS (
         |  SELECT vec_id, sub, sv,
         |    list_sum(list_transform(sv, x -> x * x)) AS svn2
         |  FROM psubv
         |), pseeds AS (
         |  SELECT sub, vec_id, sv, svn2,
         |    row_number() OVER (PARTITION BY sub ORDER BY hkey, vec_id) - 1 AS cell
         |  FROM (
         |    SELECT vec_id, sub, sv, svn2,
         |      ('0x' || substr(md5('pq|' || CAST(sub AS VARCHAR) || '|' ||
         |        CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hkey
         |    FROM psvn)
         |  QUALIFY row_number() OVER (PARTITION BY sub ORDER BY hkey, vec_id) <= 8
         |), pc0 AS (
         |  SELECT sub, cell, sv AS cvec, svn2 AS cn2 FROM pseeds
         |), pa1 AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT s.vec_id, s.sub, c.cell,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        s.svn2 + c.cn2 - 2 * list_sum(list_transform(range(1, 9),
         |          d -> s.sv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
         |    FROM psvn s JOIN pc0 c USING (sub))
         |  WHERE rn = 1
         |), pc1d AS (
         |  SELECT a.sub, a.cell, psd.d, sum(s.sv[psd.d]) AS svs, count(*) AS cnt
         |  FROM pa1 a JOIN psvn s USING (vec_id, sub), psd
         |  GROUP BY 1, 2, 3
         |), pc1 AS (
         |  SELECT sub, cell,
         |    list(CAST(round(CAST(svs AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
         |  FROM pc1d GROUP BY 1, 2
         |), pc1n AS (
         |  SELECT sub, cell, cvec,
         |    list_sum(list_transform(cvec, x -> x * x)) AS cn2
         |  FROM pc1
         |), pa2 AS (
         |  SELECT vec_id, sub, cell, cn2 FROM (
         |    SELECT s.vec_id, s.sub, c.cell, c.cn2,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        s.svn2 + c.cn2 - 2 * list_sum(list_transform(range(1, 9),
         |          d -> s.sv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
         |    FROM psvn s JOIN pc1n c USING (sub))
         |  WHERE rn = 1
         |), qsub AS (
         |  SELECT vec_id AS qid, sub, sv FROM psvn WHERE vec_id < 20
         |), plut AS (
         |  SELECT q.qid, c.sub, c.cell,
         |    list_sum(list_transform(range(1, 9),
         |      d -> q.sv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])) AS dot
         |  FROM qsub q JOIN pc1n c ON q.sub = c.sub
         |), appr AS (
         |  SELECT l.qid, a.vec_id AS nid, sum(l.dot) AS adot, sum(a.cn2) AS rn2
         |  FROM pa2 a
         |  JOIN a2 cc ON cc.vec_id = a.vec_id
         |  JOIN probes p ON p.cell = cc.cell
         |  JOIN plut l ON a.sub = l.sub AND a.cell = l.cell
         |    AND l.qid = p.qid AND a.vec_id <> l.qid
         |  GROUP BY 1, 2
         |), apprc AS (
         |  SELECT ap.qid, ap.nid,
         |    CAST(ap.adot AS DOUBLE) /
         |      (sqrt(CAST(ap.rn2 AS DOUBLE)) * sqrt(CAST(qn.n2 AS DOUBLE))) AS acos
         |  FROM appr ap JOIN qn ON qn.vec_id = ap.qid
         |), pcand AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY acos DESC, nid) AS pr
         |    FROM apprc)
         |  WHERE pr <= 20
         |), scored AS (
         |  SELECT c.qid AS query_id, c.nid AS neighbor_id, $dotCosSql AS cos
         |  FROM pcand c JOIN qn a ON a.vec_id = c.qid JOIN qn b ON b.vec_id = c.nid
         |), $top5CosSql""".stripMargin
    },
    // Index-quality evaluation in-plan: per-query recall@5 of the LSH
    // index against brute-force ground truth (integer-ppm recall) — the
    // "is this ANN index good enough to ship" report, computed
    // distributed without materializing either side.
    query("s12_recall_report")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(par(e), q, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(par(e), q, "vec_id", "embedding", k = 5, planes = 6)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_true"), col("n_hit"),
          expr("(n_hit * 1000000) div n_true").as("recall_ppm"))
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, w AS (
         |  ${signPlanesSql(6)}
         |), dots AS (
         |  SELECT qn.vec_id, w.p,
         |    list_sum(list_transform(range(1, 65), d -> qn.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) AS dp
         |  FROM qn, w
         |), bkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |), qb AS (
         |  SELECT qn.vec_id, qn.qv, qn.n2, bkt.bucket FROM qn JOIN bkt USING (vec_id)
         |), ex AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotCosSql DESC, b.vec_id) AS rn
         |  FROM qn a JOIN qn b ON a.vec_id < 20 AND b.vec_id != a.vec_id
         |), exk AS (SELECT query_id, neighbor_id FROM ex WHERE rn <= 5
         |), ap AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY $dotCosSql DESC, b.vec_id) AS rn
         |  FROM qb a JOIN qb b ON a.vec_id < 20 AND b.bucket = a.bucket AND b.vec_id != a.vec_id
         |), apk AS (SELECT query_id, neighbor_id FROM ap WHERE rn <= 5)
         |SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
         |  CAST(count(a.neighbor_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
         |FROM exk e LEFT JOIN apk a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin
    },
    // Bitext-style margin mining: even vec_ids (< 100) as the query
    // language side, odd vec_ids as the candidate pool; keep best-match
    // pairs whose cosine clears the runner-up by ≥ 0.01. See
    // Similarity.bitextMarginPairs for the scale shape.
    query("s11_bitext_margin")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.bitextMarginPairs(
        par(e.where(col("vec_id") % 2 === 1)),
        e.where(col("vec_id") % 2 === 0 && col("vec_id") < 100),
        "vec_id", "embedding", minMargin = 0.01)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qn a JOIN qn b
         |    ON a.vec_id % 2 = 0 AND a.vec_id < 100 AND b.vec_id % 2 = 1
         |), ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored
         |), piv AS (
         |  SELECT query_id,
         |    max(CASE WHEN rn = 1 THEN neighbor_id END) AS match_id,
         |    max(CASE WHEN rn = 1 THEN round(cos, 6) END) AS cos,
         |    max(CASE WHEN rn = 2 THEN round(cos, 6) END) AS cos2
         |  FROM ranked WHERE rn <= 2 GROUP BY query_id
         |)
         |SELECT query_id, match_id, cos,
         |  round(cos - coalesce(cos2, 0.0), 6) AS margin
         |FROM piv WHERE round(cos - coalesce(cos2, 0.0), 6) >= 0.01""".stripMargin
    },

    // ── Multimodal binary columns (stubbed decode, real plumbing) ────────
    // Synthesize a binary media column, decode typed metadata, sample
    // frames, resize — all byte-exact and oracle-checkable.
    query("m1_multimodal_decode")((s, dir) => {
      val media = par(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeMediaBytes(col("text")).as("bytes"))
      media
        .withColumn("meta", Multimodal.decodeImageMeta(col("bytes")))
        .select(
          col("media_id"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.channels").as("channels"), col("meta.n_bytes").as("n_bytes"),
          size(Multimodal.frameSample(col("bytes"), 4)).as("n_frames"),
          lower(hex(Multimodal.resize(col("bytes"), 2))).as("resized_hex"))
    }) {
      // The fake 32-byte payload is unhex(md5(text) || md5(text||'2')), so
      // every byte is recoverable from the md5 hex strings — the oracle
      // never needs blob operations.
      """WITH h AS (
        |  SELECT doc_id AS media_id, md5(text) AS h1 FROM documents
        |)
        |SELECT media_id,
        |  ('0x' || substr(h1, 1, 2))::INT % 64 + 1 AS width,
        |  ('0x' || substr(h1, 3, 2))::INT % 64 + 1 AS height,
        |  ('0x' || substr(h1, 5, 2))::INT % 3 + 1 AS channels,
        |  32 AS n_bytes,
        |  8 AS n_frames,
        |  h1 AS resized_hex
        |FROM h""".stripMargin
    },
    // Clip assembly: stride-4 frame samples grouped into 4-frame clips
    // advancing 2 frames (overlap 2) — the video analogue of t14's
    // text chunking, byte-exact against the md5-hex oracle.
    query("m3_clip_windows")((s, dir) => {
      val media = par(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeMediaBytes(col("text")).as("bytes"))
      media.select(col("media_id"),
          posexplode(Multimodal.clipWindows(col("bytes"),
            stride = 4, clipFrames = 4, stepFrames = 2)).as(Seq("clip_id", "clip")))
        .select(col("media_id"), col("clip_id").cast("long").as("clip_id"),
          length(col("clip")).cast("long").as("n_bytes"),
          lower(hex(col("clip"))).as("clip_hex"))
    }) {
      // Each 4-frame clip at step 2 starts at frame 2c → byte 8c → hex
      // char 16c; 16 bytes = 32 hex chars of the 64-char two-md5 payload.
      """WITH h AS (
        |  SELECT doc_id AS media_id, md5(text) || md5(text || '2') AS hx
        |  FROM documents
        |), c AS (
        |  SELECT media_id, hx, CAST(range AS BIGINT) AS clip_id FROM h, range(3)
        |)
        |SELECT media_id, clip_id, CAST(16 AS BIGINT) AS n_bytes,
        |  substr(hx, CAST(clip_id * 16 + 1 AS INT), 32) AS clip_hex
        |FROM c""".stripMargin
    },
    // Per-partition imperative feature extraction (typed Dataset path).
    // The feature vector is exploded to scalar (media_id, idx, feat_val)
    // rows — the driver comparator can't sort/hash array columns.
    query("m2_multimodal_features")((s, dir) => {
      val media = par(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeMediaBytes(col("text")).as("bytes"))
      Multimodal.extractFeatures(media)
        .select(col("media_id"), posexplode(col("feat")).as(Seq("idx", "feat_val")))
    }) {
      """SELECT doc_id AS media_id, CAST(i AS INT) AS idx,
        |  CAST(('0x' || substr(md5(text), CAST(i AS INT) * 2 + 1, 2))::INT AS DOUBLE) / 256.0 AS feat_val
        |FROM documents, (SELECT CAST(range AS BIGINT) AS i FROM range(8))""".stripMargin
    },

    // ── Funnel analysis (UBA, beyond retention) ──────────────────────────
    // Per-user ordered funnel signup → click → purchase within 7 days.
    query("u1_funnel_stages")((s, dir) => {
      Funnel.userStages(tbl(s, dir, "events"),
        Seq("signup", "click", "purchase"), windowDays = 7)
        .select(col("user_id"),
          unix_micros(col("t0")).as("t0_us"),
          unix_micros(col("t1")).as("t1_us"),
          unix_micros(col("t2")).as("t2_us"),
          col("stage"))
    }) {
      s"""$funnelStagesSql
         |SELECT user_id, epoch_us(t0) AS t0_us, epoch_us(t1) AS t1_us,
         |  epoch_us(t2) AS t2_us,
         |  (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END +
         |   CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END +
         |   CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS stage
         |FROM s2""".stripMargin
    },
    // Aggregate funnel report.
    query("u2_funnel_report")((s, dir) =>
      Funnel.report(tbl(s, dir, "events"),
        Seq("signup", "click", "purchase"), windowDays = 7)) {
      s"""$funnelStagesSql, st AS (
         |  SELECT (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END +
         |          CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END +
         |          CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS stage
         |  FROM s2
         |)
         |SELECT count(*) AS entered,
         |  CAST(sum(CASE WHEN stage > 0 THEN 1 ELSE 0 END) AS BIGINT) AS reached_1,
         |  CAST(sum(CASE WHEN stage > 1 THEN 1 ELSE 0 END) AS BIGINT) AS reached_2,
         |  CAST(sum(CASE WHEN stage > 2 THEN 1 ELSE 0 END) AS BIGINT) AS reached_3
         |FROM st""".stripMargin
    },
    // Step-to-step funnel latency: exact p50/p90 of the signup→click and
    // click→purchase gaps among users reaching each step — where the
    // funnel stalls, not just where it leaks. Rides the one-shuffle
    // userStages output; percentiles collapse to a single row.
    query("u21_funnel_latency")((s, dir) => {
      val st = Funnel.userStages(tbl(s, dir, "events"),
        Seq("signup", "click", "purchase"), windowDays = 7)
        .select(
          (unix_micros(col("t1")) - unix_micros(col("t0"))).cast("double").as("_d01"),
          (unix_micros(col("t2")) - unix_micros(col("t1"))).cast("double").as("_d12"))
      st.agg(
        count(col("_d01")).as("n_step1"),
        Latency.percentileSec(expr("percentile(_d01, 0.5)"), 0.5).as("p50_01_sec"),
        Latency.percentileSec(expr("percentile(_d01, 0.9)"), 0.9).as("p90_01_sec"),
        count(col("_d12")).as("n_step2"),
        Latency.percentileSec(expr("percentile(_d12, 0.5)"), 0.5).as("p50_12_sec"),
        Latency.percentileSec(expr("percentile(_d12, 0.9)"), 0.9).as("p90_12_sec"))
    }) {
      s"""$funnelStagesSql
         |SELECT CAST(count(t1) AS BIGINT) AS n_step1,
         |  round(quantile_cont(CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE), 0.5), 1) / 1e6 AS p50_01_sec,
         |  round(quantile_cont(CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE), 0.9), 1) / 1e6 AS p90_01_sec,
         |  CAST(count(t2) AS BIGINT) AS n_step2,
         |  round(quantile_cont(CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE), 0.5), 1) / 1e6 AS p50_12_sec,
         |  round(quantile_cont(CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE), 0.9), 1) / 1e6 AS p90_12_sec
         |FROM s2""".stripMargin
    },
    // As-of attribution join: each purchase attributed to the latest
    // click at or before it (same user). Unattributed rows carry a -1
    // sentinel — NULLs in integer columns sort/hash unreliably through
    // the pandas comparator.
    query("u3_asof_attribution")((s, dir) => {
      AsOf.latestPrior(tbl(s, dir, "events"), "purchase", "click")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"),
          coalesce(unix_micros(col("_src_ts")), lit(-1L)).as("click_us"),
          coalesce(unix_micros(col("ts")) - unix_micros(col("_src_ts")), lit(-1L))
            .as("gap_us"))
    }) {
      """SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |  coalesce(epoch_us(src_ts), -1) AS click_us,
        |  coalesce(epoch_us(ts) - epoch_us(src_ts), -1) AS gap_us
        |FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS src_ts
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |WHERE event_type = 'purchase'""".stripMargin
    },
    // Salted two-stage aggregation over a power-law key (event_type):
    // must equal the plain GROUP BY exactly — decimal sums keep the
    // equality exact regardless of salt partitioning.
    query("u4_skew_salted")((s, dir) => {
      val e = tbl(s, dir, "events")
        .withColumn("v", col("value").cast("decimal(18,2)"))
      Skew.saltedSumCount(e, "event_type", "v", saltFrom = col("event_id"))
        .select(col("event_type"),
          col("sum_value").cast("double").as("sum_value"), col("n"))
    }) {
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type""".stripMargin
    },
    // Join-key skew diagnostic: one shuffle into per-key counts, then a
    // one-row distribution summary (max/median/p99/skew) — run before
    // choosing a salt factor.
    query("u14_skew_profile")((s, dir) =>
      Skew.keyProfile(tbl(s, dir, "events"), "user_id")) {
      """WITH c AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY 1
        |)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |  max(n) AS max_key_rows,
        |  quantile_cont(n, 0.5) AS p50_key_rows,
        |  quantile_cont(n, 0.99) AS p99_key_rows,
        |  round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 6) AS skew
        |FROM c""".stripMargin
    },
    // RFM user segmentation: per-user recency/frequency/monetary over
    // purchases, scored 1-4 by exact quartile cutoffs computed once and
    // broadcast back — no ntile() global sort anywhere.
    query("u6_rfm_segments")((s, dir) =>
      Rfm.segments(tbl(s, dir, "events"))) {
      """WITH pu AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS f,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |), ao AS (
        |  SELECT max(CAST(ts AS DATE)) AS asof_day FROM events
        |), rfm AS (
        |  SELECT user_id, date_diff('day', last_day, asof_day) AS r_days, f, m
        |  FROM pu CROSS JOIN ao
        |), cuts AS (
        |  SELECT quantile_cont(CAST(r_days AS DOUBLE), [0.25, 0.5, 0.75]) AS rc,
        |         quantile_cont(CAST(f AS DOUBLE), [0.25, 0.5, 0.75]) AS fc,
        |         quantile_cont(m, [0.25, 0.5, 0.75]) AS mc
        |  FROM rfm
        |)
        |SELECT user_id, r_days, f, round(m, 6) AS m,
        |  4 - ((CAST(r_days AS DOUBLE) > rc[1])::INT + (CAST(r_days AS DOUBLE) > rc[2])::INT
        |       + (CAST(r_days AS DOUBLE) > rc[3])::INT) AS r_score,
        |  1 + ((CAST(f AS DOUBLE) > fc[1])::INT + (CAST(f AS DOUBLE) > fc[2])::INT
        |       + (CAST(f AS DOUBLE) > fc[3])::INT) AS f_score,
        |  1 + ((m > mc[1])::INT + (m > mc[2])::INT + (m > mc[3])::INT) AS m_score
        |FROM rfm CROSS JOIN cuts""".stripMargin
    },
    // First-order event-transition matrix (next-event path mining): one
    // shuffle of the stream on user_id for the lead() window, then a
    // (from,to) aggregate whose domain is |event types|² — the final
    // shuffle moves a handful of rows regardless of corpus size.
    query("u5_transitions")((s, dir) =>
      Transitions.matrix(tbl(s, dir, "events"))) {
      """WITH seqd AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n_transitions
        |  FROM seqd WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, CAST(n_transitions AS BIGINT) AS n_transitions,
        |  round(CAST(n_transitions AS DOUBLE) /
        |        CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p_transition
        |FROM c""".stripMargin
    },
    // Equi-depth value histogram: decile boundaries from the exact
    // percentile aggregate, broadcast back for the bucket assignment —
    // one scan + one tiny broadcast + one bucket-id aggregate.
    query("q23_value_histogram")((s, dir) =>
      Profile.equiDepthHistogram(tbl(s, dir, "events"), "value", k = 10)) {
      """WITH vals AS (
        |  SELECT CAST(value AS DOUBLE) AS value FROM events
        |  WHERE value IS NOT NULL
        |), cuts AS (
        |  SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
        |          quantile_cont(value, 0.3), quantile_cont(value, 0.4),
        |          quantile_cont(value, 0.5), quantile_cont(value, 0.6),
        |          quantile_cont(value, 0.7), quantile_cont(value, 0.8),
        |          quantile_cont(value, 0.9)] AS cs
        |  FROM vals
        |)
        |SELECT CAST(len(list_filter(cs, c -> c < value)) + 1 AS INT) AS bucket,
        |  count(*) AS n, min(value) AS lo, max(value) AS hi
        |FROM vals CROSS JOIN cuts
        |GROUP BY 1""".stripMargin
    },
    // Session-duration distribution: gap-based sessions (one user-key
    // shuffle shared by the lag and running-sum windows), per-session
    // collapse in the same partitioning, exact percentile over the
    // |sessions|-row table (approx_percentile is the 100 TB switch).
    query("q22_session_stats")((s, dir) =>
      Sessions.durationReport(tbl(s, dir, "events"))) {
      """WITH r AS (
        |  SELECT user_id, ts, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM r
        |), sid AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM f
        |), per AS (
        |  SELECT user_id, sess_id, count(*) AS n_events,
        |    CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) AS dur_us
        |  FROM sid GROUP BY 1, 2
        |)
        |SELECT count(*) AS n_sessions,
        |  round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS mean_events,
        |  round(quantile_cont(dur_us, 0.5), 1) / 1e6 AS p50_sec,
        |  round(quantile_cont(dur_us, 0.9), 1) / 1e6 AS p90_sec
        |FROM per""".stripMargin
    },
    // Per-user daily-volume spike detection: one event-stream shuffle
    // into (user, day) counts, then a per-user window over the small
    // aggregated table. Variance numerator stays in exact integers.
    query("u10_anomaly_days")((s, dir) =>
      Anomaly.dailySpikes(tbl(s, dir, "events"))) {
      """WITH ud AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), st AS (
        |  SELECT user_id, day, c,
        |    count(*) OVER w AS n, sum(c) OVER w AS s1,
        |    sum(CAST(c AS HUGEINT) * c) OVER w AS s2
        |  FROM ud WINDOW w AS (PARTITION BY user_id)
        |)
        |SELECT user_id, day, c AS n_events,
        |  round((CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
        |        sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / (n * (n - 1))), 6) AS z_score
        |FROM st
        |WHERE n >= 3 AND n * s2 - CAST(s1 AS HUGEINT) * s1 > 0
        |  AND (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n) /
        |      sqrt(CAST(n * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) / (n * (n - 1))) > 2.0""".stripMargin
    },
    // Funnel with an exclusion step: signup→click→purchase voided by an
    // error strictly between entry and completion. The exclusion stream
    // is one more collect_list in the SAME per-user aggregate — still
    // one shuffle, no anti-join.
    query("u13_funnel_exclusion")((s, dir) =>
      Funnel.cleanReport(tbl(s, dir, "events"),
        Seq("signup", "click", "purchase"), excludeType = "error",
        windowDays = 7)) {
      s"""$funnelStagesSql, ex AS (
         |  SELECT s2.user_id, s2.t2,
         |    max(CASE WHEN e.ts > s2.t0 AND e.ts < s2.t2 THEN 1 ELSE 0 END) AS excl
         |  FROM s2 LEFT JOIN events e
         |    ON e.user_id = s2.user_id AND e.event_type = 'error'
         |  GROUP BY 1, 2
         |)
         |SELECT count(*) AS entered,
         |  CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS completed,
         |  CAST(sum(CASE WHEN t2 IS NOT NULL AND excl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS excluded,
         |  CAST(sum(CASE WHEN t2 IS NOT NULL AND coalesce(excl, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS clean_converted
         |FROM ex""".stripMargin
    },
    // Position-based multi-touch attribution: one user-key shuffle
    // serves the conversion-counter and per-epoch rank windows; credit
    // stays in exact integer ppm until the per-channel rollup.
    query("u12_attribution_credit")((s, dir) =>
      Attribution.positionCredit(tbl(s, dir, "events"))) {
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS seen,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id) AS k
        |  FROM events
        |), t AS (
        |  SELECT user_id, event_type, ts, event_id, seen + 1 AS epoch
        |  FROM e WHERE event_type <> 'purchase' AND seen + 1 <= k
        |), r AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id, epoch
        |                       ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, epoch) AS n
        |  FROM t
        |)
        |SELECT event_type AS channel, count(*) AS n_touches,
        |  CAST(sum(CASE WHEN n = 1 THEN 1000000
        |                WHEN n = 2 THEN 500000
        |                WHEN rn = 1 OR rn = n THEN 400000
        |                ELSE CAST(floor(CAST(200000 AS DOUBLE) / (n - 2)) AS BIGINT)
        |           END) AS DOUBLE) / 1e6 AS credit
        |FROM r GROUP BY 1""".stripMargin
    },
    // Daily growth accounting: one event-stream shuffle to distinct
    // (user, day), one window pass classifying each active day and
    // marking churn, tiny per-day aggregate. No joins or self-unions.
    query("u11_growth_accounting")((s, dir) =>
      Lifecycle.growthAccounting(tbl(s, dir, "events"))) {
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), w AS (
        |  SELECT user_id, day,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next
        |  FROM ud
        |), c AS (
        |  SELECT day,
        |    CASE WHEN prev IS NULL THEN 'new'
        |         WHEN day - prev = 1 THEN 'retained'
        |         ELSE 'resurrected' END AS status
        |  FROM w
        |  UNION ALL
        |  SELECT day + 1 AS day, 'churned' AS status
        |  FROM w WHERE next IS NULL OR next - day > 1
        |)
        |SELECT day,
        |  count(*) FILTER (WHERE status = 'new') AS new_users,
        |  count(*) FILTER (WHERE status = 'retained') AS retained_users,
        |  count(*) FILTER (WHERE status = 'resurrected') AS resurrected_users,
        |  count(*) FILTER (WHERE status = 'churned') AS churned_users
        |FROM c GROUP BY 1""".stripMargin
    },
    // Top user journeys: first-5-events path per user via the bounded
    // FirstKAgg (no stream-wide window), path histogram, top-20 via
    // TakeOrderedAndProject. Ties break on the path string.
    query("u9_top_paths")((s, dir) =>
      Paths.topPaths(tbl(s, dir, "events"), k = 5, topN = 20)) {
      """WITH ranked AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), paths AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM ranked WHERE rn <= 5 GROUP BY user_id
        |)
        |SELECT path, count(*) AS n_users FROM paths GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin
    },
    // Behavioral twins: top-5 lookalike users per query user by exact
    // Jaccard over journey trigrams. The trigram key domain is bounded
    // (|event types|³), so the tiny query side broadcasts and the
    // corpus trigram table is probed in place — never shuffled on the
    // hot gram key. See Paths.behaviorTwins.
    query("u49_behavior_twins")((s, dir) =>
      Paths.behaviorTwins(tbl(s, dir, "events"), queryUsers = Seq(1L, 2L, 3L, 4L, 5L))) {
      """WITH ev AS (
        |  SELECT user_id AS u, event_type AS e,
        |    lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |), tri AS (
        |  SELECT DISTINCT u, e || '>' || e2 || '>' || e3 AS g
        |  FROM ev WHERE e3 IS NOT NULL
        |), sz AS (
        |  SELECT u, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY 1
        |), q AS (SELECT u AS qu, g FROM tri WHERE u IN (1, 2, 3, 4, 5)
        |), qn AS (SELECT u AS qu, n AS qn FROM sz WHERE u IN (1, 2, 3, 4, 5)
        |), inter AS (
        |  SELECT q.qu, t.u, CAST(count(*) AS BIGINT) AS i
        |  FROM tri t JOIN q ON t.g = q.g AND t.u <> q.qu
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT inter.qu AS query_user, inter.u AS neighbor_user,
        |    inter.i AS n_shared,
        |    CAST(CAST(inter.i AS HUGEINT) * 1000000
        |      // (qn.qn + sz.n - inter.i) AS BIGINT) AS jaccard_ppm
        |  FROM inter JOIN qn USING (qu) JOIN sz ON inter.u = sz.u
        |)
        |SELECT query_user, neighbor_user, n_shared, jaccard_ppm,
        |  CAST(row_number() OVER (
        |    PARTITION BY query_user
        |    ORDER BY jaccard_ppm DESC, neighbor_user) AS BIGINT) AS rank
        |FROM scored
        |QUALIFY rank <= 5""".stripMargin
    },
    // A/B experiment lift: hash-derived variant (no assignment join),
    // one user-key shuffle for the conversion flag, then a 2-row variant
    // summary with the 1-row control side broadcast back. lift and z are
    // a fixed IEEE expression tree mirrored verbatim in the oracle.
    query("u8_experiment_lift")((s, dir) =>
      Experiment.liftReport(tbl(s, dir, "events"),
        col("event_type") === "purchase" && col("value") > 180)) {
      """WITH per_user AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1
        |), by_var AS (
        |  SELECT
        |    CASE WHEN ('0x' || substr(md5('exp|exp1|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |           % 100 < 50
        |      THEN 'treatment' ELSE 'control' END AS variant,
        |    count(*) AS n_users, CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM per_user GROUP BY 1
        |), calc AS (
        |  SELECT variant, n_users, n_conv,
        |    CAST(n_conv AS DOUBLE) / n_users AS pv,
        |    CAST(c.c_conv AS DOUBLE) / c.c_users AS pc,
        |    sqrt((CAST(n_conv + c.c_conv AS DOUBLE) / (n_users + c.c_users))
        |         * (CAST(1.0 AS DOUBLE) - CAST(n_conv + c.c_conv AS DOUBLE) / (n_users + c.c_users))
        |         * (CAST(1.0 AS DOUBLE) / n_users + CAST(1.0 AS DOUBLE) / c.c_users)) AS se
        |  FROM by_var CROSS JOIN (
        |    SELECT n_users AS c_users, n_conv AS c_conv FROM by_var
        |    WHERE variant = 'control') c
        |)
        |SELECT variant, n_users, n_conv,
        |  round(pv, 6) AS cvr,
        |  round(CASE WHEN pc = 0 THEN 0 ELSE (pv - pc) / pc END, 6) AS lift,
        |  round(CASE WHEN se = 0 THEN 0 ELSE (pv - pc) / se END, 6) AS z_score
        |FROM calc""".stripMargin
    },
    // Sample-ratio-mismatch guardrail: chi-square of observed variant
    // counts vs the configured 50/50 split, exact integer micro via
    // cross-multiplication (no doubles), flagged at the χ²₁ 95th
    // percentile. The check that must pass before u8/u39 mean
    // anything. See Experiment.srmReport.
    query("u41_srm")((s, dir) =>
      Experiment.srmReport(tbl(s, dir, "events"))) {
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN
        |      ('0x' || substr(md5('exp|exp1|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 100 < 50 THEN 1 END), 0) AS BIGINT) AS ot
        |  FROM u
        |)
        |SELECT n AS n_users, ot AS n_treatment, n - ot AS n_control,
        |  CAST(((100 * CAST(ot AS HUGEINT) - CAST(n AS HUGEINT) * 50)
        |    * (100 * CAST(ot AS HUGEINT) - CAST(n AS HUGEINT) * 50)
        |    * 1000000) // (CAST(n AS HUGEINT) * 50 * 50) AS BIGINT) AS chi2_micro,
        |  CAST(((100 * CAST(ot AS HUGEINT) - CAST(n AS HUGEINT) * 50)
        |    * (100 * CAST(ot AS HUGEINT) - CAST(n AS HUGEINT) * 50)
        |    * 1000000) // (CAST(n AS HUGEINT) * 50 * 50) AS BIGINT) > 3841459 AS srm
        |FROM c""".stripMargin
    },
    // Uplift-by-decile / Qini table: users ranked by week-1 engagement
    // (the "targeting score"), per-decile treatment-vs-control purchase
    // conversion in the post period, cumulative Qini in exact
    // micro-conversions. The heterogeneous-treatment-effect companion
    // to u8's average lift. See Experiment.upliftDeciles.
    query("u42_uplift_deciles")((s, dir) => {
      val wk2 = date_add(lit(winStart).cast("date"), 7).cast("timestamp")
      val perUser = tbl(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("ts") < wk2, 1L)), lit(0L)).as("score"),
          max(when(col("event_type") === "purchase" && col("ts") >= wk2, 1L)
            .otherwise(0L)).as("label"))
      Experiment.upliftDeciles(
        perUser.withColumn("variant",
          Experiment.variant("exp1", col("user_id"), 50)),
        "score", "label", "variant", "user_id")
    }) {
      """WITH pu AS (
        |  SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 END), 0)
        |      AS BIGINT) AS s,
        |    CAST(max(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-08'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS lb,
        |    CASE WHEN ('0x' || substr(md5('exp|exp1|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 100 < 50 THEN 1 ELSE 0 END AS tr
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT s, lb, tr, row_number() OVER (ORDER BY s, user_id) AS rk,
        |    count(*) OVER () AS n FROM pu
        |), dd AS (
        |  SELECT CAST(((n - rk) * 10) // n AS INT) + 1 AS decile, lb, tr FROM r
        |), g AS (
        |  SELECT decile, CAST(sum(tr) AS BIGINT) AS n_treat,
        |    CAST(count(*) - sum(tr) AS BIGINT) AS n_ctrl,
        |    CAST(coalesce(sum(lb * tr), 0) AS BIGINT) AS pos_treat,
        |    CAST(coalesce(sum(lb * (1 - tr)), 0) AS BIGINT) AS pos_ctrl
        |  FROM dd GROUP BY 1
        |), c AS (
        |  SELECT *, sum(pos_treat) OVER (ORDER BY decile) AS ct,
        |    sum(pos_ctrl) OVER (ORDER BY decile) AS cc,
        |    sum(n_treat) OVER (ORDER BY decile) AS nt,
        |    sum(n_ctrl) OVER (ORDER BY decile) AS nc
        |  FROM g
        |)
        |SELECT decile, n_treat, n_ctrl, pos_treat, pos_ctrl,
        |  CASE WHEN n_treat = 0 THEN NULL
        |    ELSE CAST(CAST(pos_treat AS HUGEINT) * 1000000 // n_treat AS BIGINT) END AS rate_t_ppm,
        |  CASE WHEN n_ctrl = 0 THEN NULL
        |    ELSE CAST(CAST(pos_ctrl AS HUGEINT) * 1000000 // n_ctrl AS BIGINT) END AS rate_c_ppm,
        |  CASE WHEN n_treat = 0 OR n_ctrl = 0 THEN NULL
        |    ELSE CAST(CAST(pos_treat AS HUGEINT) * 1000000 // n_treat
        |      - CAST(pos_ctrl AS HUGEINT) * 1000000 // n_ctrl AS BIGINT) END AS uplift_ppm,
        |  CASE WHEN nc = 0 THEN NULL
        |    ELSE CAST(CAST(ct AS HUGEINT) * 1000000
        |      - CAST(cc AS HUGEINT) * nt * 1000000 // nc AS BIGINT) END AS qini_micro
        |FROM c""".stripMargin
    },
    // CUPED variance-reduced experiment readout: per-user purchase
    // cents split into a pre-period covariate (first 7 days) and the
    // experiment metric (rest); θ fit pooled from exact DECIMAL
    // moments, per-variant adjusted means by linearity — no per-user
    // adjusted rows ever materialize. See Experiment.cupedReport.
    query("u39_cuped")((s, dir) =>
      Experiment.cupedReport(tbl(s, dir, "events"),
        metric = when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(lit(0L)),
        isPre = col("ts") < date_add(lit(winStart).cast("date"), 7)
          .cast("timestamp"))) {
      """WITH per_user AS (
        |  SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
        |      THEN CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END END), 0) AS BIGINT) AS x,
        |    CAST(coalesce(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-08 00:00:00')
        |      THEN CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END END), 0) AS BIGINT) AS y
        |  FROM events GROUP BY 1
        |), u AS (
        |  SELECT CASE WHEN ('0x' || substr(md5('exp|exp1|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |           % 100 < 50
        |      THEN 'treatment' ELSE 'control' END AS variant, x, y
        |  FROM per_user
        |), pooled AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
        |      - CAST(sum(x) AS HUGEINT) * sum(x) AS Sxx,
        |    CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * y)
        |      - CAST(sum(x) AS HUGEINT) * sum(y) AS Sxy,
        |    CAST(count(*) AS HUGEINT) * sum(CAST(y AS HUGEINT) * y)
        |      - CAST(sum(y) AS HUGEINT) * sum(y) AS Syy
        |  FROM u
        |), by_var AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS vx, CAST(sum(y) AS BIGINT) AS vy
        |  FROM u GROUP BY 1
        |), calc AS (
        |  SELECT variant, n_users,
        |    CAST(vy AS DOUBLE) / n_users AS mean_y,
        |    CAST(vx AS DOUBLE) / n_users AS xbar_v,
        |    CAST(sx AS DOUBLE) / n AS xbar,
        |    CASE WHEN Sxx = 0 THEN 0.0
        |      ELSE CAST(Sxy AS DOUBLE) / CAST(Sxx AS DOUBLE) END AS theta,
        |    CASE WHEN Sxx = 0 OR Syy = 0 THEN 0.0
        |      ELSE CAST(Sxy AS DOUBLE) * CAST(Sxy AS DOUBLE)
        |        / (CAST(Sxx AS DOUBLE) * CAST(Syy AS DOUBLE)) END AS rho2
        |  FROM by_var CROSS JOIN pooled
        |)
        |SELECT variant, n_users,
        |  round(mean_y, 6) AS mean_y,
        |  round(mean_y - theta * (xbar_v - xbar), 6) AS mean_y_adj,
        |  round(theta, 6) AS theta,
        |  round(rho2 * 100, 6) AS var_reduction_pct
        |FROM calc""".stripMargin
    },
    // No-equi-key range join: shipments against urgent orders' 3-day
    // windows, bucketized into a plain equi-join on the day-bucket id —
    // no nested loop, both sides shuffle once. Aggregated per order.
    query("u7_range_join")((s, dir) => {
      // aggregate BEFORE the range join: shipments collapse to one row
      // per ship_day (count + exact decimal qty partial), so the join
      // emits |days|×|covering intervals| rows instead of
      // |lineitems|×|covering intervals| (~10⁴ vs ~10⁷ at sf0.1).
      // Decimal partial sums are exact and associative, so the
      // re-aggregated (n_ship, sum_qty) is bit-identical
      val pts = tbl(s, dir, "lineitem").select(
        datediff(col("l_shipdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("ship_day"),
        col("l_quantity"))
        .groupBy(col("ship_day"))
        .agg(count(lit(1)).as("_n_day"),
          sum(col("l_quantity").cast("decimal(18,3)")).as("_qty_day"))
      val ivs = tbl(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 3)
      RangeJoin.pointInInterval(pts, "ship_day", ivs,
          "start_day", "end_day", bucketWidth = 4)
        .groupBy(col("o_orderkey"))
        .agg(sum(col("_n_day")).as("n_ship"),
          sum(col("_qty_day")).cast("double").as("sum_qty"))
    }) {
      // The oracle is the naive range join — DuckDB's IEJoin computes
      // it exactly; the engine's bucketized equi-join must agree.
      """WITH p AS (
        |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ship_day,
        |    l_quantity
        |  FROM lineitem
        |), iv AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS start_day
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |)
        |SELECT iv.o_orderkey, count(*) AS n_ship,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty
        |FROM iv JOIN p
        |  ON p.ship_day >= iv.start_day AND p.ship_day < iv.start_day + 3
        |GROUP BY 1""".stripMargin
    },

    // ── Pipeline plumbing ────────────────────────────────────────────────
    // Dedup groups: connected components over the d2 near-dup pairs —
    // pairwise matches become keeper groups (min id per component).
    query("d6_dedup_groups")((s, dir) => {
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(augmentedDocs(s, dir), k = 32, bands = 8, threshold = 0.4))
    }) {
      s"""WITH RECURSIVE prs AS (
         |$d2PairsSql
         |), ${ccClosureSql("prs")}
         |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS group_id
         |FROM cc GROUP BY id""".stripMargin
    },
    // Dedup cluster-size histogram: the one-glance audit of d6's
    // connected components ("mostly pairs, or a few giant blobs?") —
    // a giant component is the signature of boilerplate gluing
    // unrelated docs together. Two tiny rollups over the CC output.
    query("d24_cluster_sizes")((s, dir) => {
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(augmentedDocs(s, dir), k = 32, bands = 8, threshold = 0.4))
        .groupBy(col("group_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    }) {
      s"""WITH RECURSIVE prs AS (
         |$d2PairsSql
         |), ${ccClosureSql("prs")}, grp AS (
         |  SELECT id, min(r) AS g FROM cc GROUP BY id
         |), sz AS (
         |  SELECT g, CAST(count(*) AS BIGINT) AS cluster_size FROM grp GROUP BY g
         |)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY 1""".stripMargin
    },
    // Exact duplicate-substring dedup (Lee et al. 2022's ExactSubstr):
    // every 8-token gram occurring ≥2× anywhere in the corpus marks its
    // span; overlapping/adjacent marks merge into maximal excision
    // intervals per doc. The corpus gets excerpt clones (the d13 aug
    // shape) on top of the template corpus's natural repeats, so both
    // cross-doc and boilerplate duplication are exercised. No pairwise
    // step anywhere — work is occurrence-linear (frequency filter, not
    // who-matches-whom), the property that distinguishes this from the
    // df²-bounded fingerprint joins.
    query("d28_dup_substrings")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.where(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            substring(col("text"), 31, 400).as("text")))
      Dedup.duplicateSubstringSpans(corpus, k = 8)
    }) {
      // Positional 8-gram hashes (zipped unnest = (pos, hash)
      // pairs), corpus-wide frequency ≥ 2 marks [p, p+7] token spans,
      // gaps-and-islands window merges them — the same normalization/
      // tokenization/hash recipe as every shingle oracle, positional.
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 6000000, substr(text, 31, 400) FROM documents
         |  WHERE doc_id % 7 = 2
         |), norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM src
         |), g AS (
         |  $gram8HashesSql
         |  FROM norm WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
         |), marks AS (
         |  SELECT g.doc_id, g.p AS s, g.p + 7 AS e FROM g JOIN dup USING (h)
         |), $mergedSpansSql""".stripMargin
    },
    // The keep-first ExactSubstr rule over the same corpus: each
    // duplicated gram's corpus-wide first occurrence (min packed
    // (doc_id, pos) key) does not mark a span — one copy of every
    // repeated passage survives, the Lee et al. "all but one"
    // semantics. Spans here are a strict subset of d28's.
    query("d29_dup_substrings_keepfirst")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      val corpus = docs.unionAll(
        docs.where(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            substring(col("text"), 31, 400).as("text")))
      Dedup.duplicateSubstringSpans(corpus, k = 8, keepFirst = true)
    }) {
      // The duplicated-gram CTE also carries min(doc_id·2³⁰ + p) and the
      // mark join skips the first occurrence, exactly the Scala
      // packed-key arithmetic.
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 6000000, substr(text, 31, 400) FROM documents
         |  WHERE doc_id % 7 = 2
         |), norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM src
         |), g AS (
         |  $gram8HashesSql
         |  FROM norm WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT h, min(doc_id * 1073741824 + p) AS firstkey
         |  FROM g GROUP BY h HAVING count(*) >= 2
         |), marks AS (
         |  SELECT g.doc_id, g.p AS s, g.p + 7 AS e
         |  FROM g JOIN dup USING (h)
         |  WHERE g.doc_id * 1073741824 + g.p <> dup.firstkey
         |), $mergedSpansSql""".stripMargin
    },
    // The Lee et al. HEADLINE audit: how much of each source is
    // exactly-duplicated ≥8-token text — the released number that
    // motivates ExactSubstr dedup, as a per-source release report.
    // Natural template duplication only (no injected clones): spans
    // from d28's operator over the plain corpus, token budgets summed
    // per source, removal rate in integer ppm. One composition — the
    // operator's span table joins back to a per-doc token count and
    // aggregates; everything after the span table is report-sized.
    query("d30_dup_substring_audit")((s, dir) => {
      val docs = par(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("text"))
      val removed = Dedup.duplicateSubstringSpans(docs, k = 8)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("_rm"))
      // the removed-per-doc table is bounded by the corpus row count
      // (every doc can carry spans) — co-partition on doc_id, never
      // broadcast (the t9/d23 grows-with-the-corpus rule; local stats
      // at test SF would otherwise pick a broadcast that cannot exist
      // at 100 TB)
      docs.select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("_nt"))
        .join(removed.hint("shuffle_hash"), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"),
          coalesce(sum(col("_rm")), lit(0L)).as("tokens_removed"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("tokens_removed"),
          expr("CAST(CAST(tokens_removed AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)")
            .as("removed_ppm"))
    }) {
      // ppm rides HUGEINT.
      s"""WITH norm AS (
         |  SELECT doc_id, source, $normToksSql AS toks FROM documents
         |), g AS (
         |  $gram8HashesSql
         |  FROM norm WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
         |), marks AS (
         |  SELECT g.doc_id, g.p AS s, g.p + 7 AS e FROM g JOIN dup USING (h)
         |), $spanIslandsSql, spans AS (
         |  SELECT doc_id, min(s) AS ss, max(e) AS ee FROM isl GROUP BY doc_id, island
         |), rm AS (
         |  SELECT doc_id, sum(ee - ss + 1) AS rmt FROM spans GROUP BY doc_id
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(rmt), 0) AS BIGINT) AS tokens_removed,
         |  CAST(CAST(coalesce(sum(rmt), 0) AS HUGEINT) * 1000000
         |    // CAST(sum(len(toks)) AS HUGEINT) AS BIGINT) AS removed_ppm
         |FROM norm LEFT JOIN rm USING (doc_id)
         |GROUP BY source""".stripMargin
    },
    // INCREMENTAL ExactSubstr (the d8→d31/d32 arc applied to d28): the
    // accepted corpus (doc_id % 4 != 3) freezes its gram-frequency
    // index ONCE (substringGramIndex — the amortized build), then the
    // incoming batch (the % 4 == 3 split plus excerpt clones of BOTH
    // corpus and batch documents — the %7==2 clone set straddles the
    // split, so every gate fires: batch-gram-vs-frozen-count,
    // batch-internal repeats, and corpus-singleton + batch collision)
    // is marked against frozen counts + batch-internal counts, never
    // recounting the corpus. keepFirst exercises the global first-key
    // rule across the freeze boundary: a corpus-side first occurrence
    // excises every batch copy. Per-batch work: one batch-gram
    // shuffle + one equi-join against the never-broadcast index.
    query("d34_incr_dup_substrings")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      val corpus = docs.where(col("doc_id") % 4 =!= 3)
      val batch = docs.where(col("doc_id") % 4 === 3)
        .unionAll(docs.where(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            substring(col("text"), 31, 400).as("text")))
      val index = Dedup.substringGramIndex(corpus, k = 8)
      Dedup.duplicateSubstringSpansIncremental(batch, index, k = 8,
        keepFirst = true)
    }) {
      // The corpus split's gram counts and first-keys are a standalone
      // (frozen) CTE, the batch split's counts another, totals = batch +
      // coalesce(frozen) with the global first-key = least across the
      // freeze boundary — exactly the Scala packed-key arithmetic, then
      // the d28/d29 islands merge over batch marks only. Both gram CTEs
      // are MATERIALIZED (the g2/g6 spill lesson: each is referenced
      // twice).
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3
         |), batchd AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
         |  UNION ALL
         |  SELECT doc_id + 6000000, substr(text, 31, 400) FROM documents
         |  WHERE doc_id % 7 = 2
         |), cn AS (
         |  SELECT doc_id, $normToksSql AS toks FROM corpus
         |), cg AS MATERIALIZED (
         |  $gram8HashesSql
         |  FROM cn WHERE len(toks) >= 8
         |), idx AS (
         |  SELECT h, count(*) AS df, min(doc_id * 1073741824 + p) AS firstkey
         |  FROM cg GROUP BY h
         |), bn AS (
         |  SELECT doc_id, $normToksSql AS toks FROM batchd
         |), bg AS MATERIALIZED (
         |  $gram8HashesSql
         |  FROM bn WHERE len(toks) >= 8
         |), ba AS (
         |  SELECT h, count(*) AS bnn, min(doc_id * 1073741824 + p) AS bfirst
         |  FROM bg GROUP BY h
         |), tot AS (
         |  SELECT ba.h, ba.bnn + coalesce(idx.df, 0) AS tt,
         |    least(ba.bfirst,
         |      coalesce(idx.firstkey, 9223372036854775807)) AS gfirst
         |  FROM ba LEFT JOIN idx USING (h)
         |  WHERE ba.bnn + coalesce(idx.df, 0) >= 2
         |), marks AS (
         |  SELECT bg.doc_id, bg.p AS s, bg.p + 7 AS e
         |  FROM bg JOIN tot ON bg.h = tot.h
         |  WHERE bg.doc_id * 1073741824 + bg.p <> tot.gfirst
         |), $mergedSpansSql""".stripMargin
    },
    // SPAN-LEVEL decontamination — the surgical complement of d7's
    // whole-document report: exactly the leaked passages marked as
    // merged token intervals (eval gram hashes broadcast, train's
    // positional gram stream screened in the scan stage, d28's islands
    // merge over marked rows only), so the clean remainder of a
    // contaminated document survives as training data. Same d7 split;
    // k=4 matches d7's fixture width.
    query("d36_contamination_spans")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      graft.operators.Decontaminate.contaminationSpans(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), k = 4)
    }) {
      s"""WITH ev AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
         |), tr AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0
         |), en AS (
         |  SELECT doc_id, $normToksSql AS toks FROM ev
         |), eg AS (
         |  SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ')), 1, 15))::BIGINT)) AS h
         |  FROM en WHERE len(toks) >= 4
         |), tn AS (
         |  SELECT doc_id, $normToksSql AS toks FROM tr
         |), tg AS (
         |  SELECT doc_id, unnest(range(1, len(toks) - 2)) AS p,
         |    unnest(list_transform(range(1, len(toks) - 2),
         |      i -> ('0x' || substr(md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ')), 1, 15))::BIGINT)) AS h
         |  FROM tn WHERE len(toks) >= 4
         |), marks AS (
         |  SELECT tg.doc_id, tg.p AS s, tg.p + 3 AS e
         |  FROM tg JOIN eg USING (h)
         |), $mergedSpansSql""".stripMargin
    },
    // The d36 excision pipeline reduced to the RELEASE report (d30's
    // relationship to d28, applied to decontamination): per source,
    // how many documents carry leaked passages and what fraction of
    // the source's tokens the surgical cut removes, in exact ppm —
    // the number a dataset card publishes next to its eval-overlap
    // policy. Span table joined back to per-doc token counts
    // (shuffle-hash — spans are corpus-bounded, never broadcast),
    // then one source-sized aggregate.
    query("d37_contamination_audit")((s, dir) => {
      val docs = par(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("text"))
      val train = docs.where(col("doc_id") % 20 =!= 0)
      val removed = graft.operators.Decontaminate.contaminationSpans(
          train.select(col("doc_id"), col("text")),
          docs.where(col("doc_id") % 20 === 0).select(col("doc_id"), col("text")),
          k = 4)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("_rm"))
      train.select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("_nt"))
        .join(removed.hint("shuffle_hash"), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("_rm")).as("n_contaminated"),
          sum(col("_nt")).as("n_tokens"),
          coalesce(sum(col("_rm")), lit(0L)).as("tokens_excised"))
        .select(col("source"), col("n_docs"), col("n_contaminated"),
          col("n_tokens"), col("tokens_excised"),
          expr("CAST(CAST(tokens_excised AS DECIMAL(38,0)) * 1000000 div n_tokens AS BIGINT)")
            .as("excised_ppm"))
    }) {
      // ppm rides HUGEINT; contaminated docs are counted via the rm
      // LEFT-join hit.
      s"""WITH ev AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
         |), tr AS (
         |  SELECT doc_id, source, text FROM documents WHERE doc_id % 20 <> 0
         |), en AS (
         |  SELECT doc_id, $normToksSql AS toks FROM ev
         |), eg AS (
         |  SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ')), 1, 15))::BIGINT)) AS h
         |  FROM en WHERE len(toks) >= 4
         |), tn AS (
         |  SELECT doc_id, source, $normToksSql AS toks FROM tr
         |), tg AS (
         |  SELECT doc_id, unnest(range(1, len(toks) - 2)) AS p,
         |    unnest(list_transform(range(1, len(toks) - 2),
         |      i -> ('0x' || substr(md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 3], ' ')), 1, 15))::BIGINT)) AS h
         |  FROM tn WHERE len(toks) >= 4
         |), marks AS (
         |  SELECT tg.doc_id, tg.p AS s, tg.p + 3 AS e
         |  FROM tg JOIN eg USING (h)
         |), $spanIslandsSql, spans AS (
         |  SELECT doc_id, min(s) AS ss, max(e) AS ee FROM isl GROUP BY doc_id, island
         |), rm AS (
         |  SELECT doc_id, sum(ee - ss + 1) AS rmt FROM spans GROUP BY doc_id
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(rm.rmt) AS BIGINT) AS n_contaminated,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(sum(rm.rmt), 0) AS BIGINT) AS tokens_excised,
         |  CAST(CAST(coalesce(sum(rm.rmt), 0) AS HUGEINT) * 1000000
         |    // CAST(sum(len(toks)) AS HUGEINT) AS BIGINT) AS excised_ppm
         |FROM tn LEFT JOIN rm USING (doc_id)
         |GROUP BY source""".stripMargin
    },
    // Benchmark decontamination: training documents sharing any hashed
    // 4-gram with the (broadcast) eval split. The train corpus is never
    // shuffled — the collision screen is a broadcast hash join inside
    // the scan stage; only colliding doc ids reach the aggregate.
    // (Default width is 8; the short synthetic fixtures use 4.)
    query("d7_decontaminate")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      Decontaminate.report(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), n = 4)
    }) {
      s"""WITH norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM documents
         |), shs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${shingleSql(4)},
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), evals AS (
         |  SELECT DISTINCT unnest(sh) AS s FROM shs WHERE doc_id % 20 = 0
         |), trainx AS (
         |  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
         |  FROM shs WHERE doc_id % 20 <> 0
         |)
         |SELECT doc_id, n_shingles, CAST(count(*) AS BIGINT) AS n_hit,
         |  CAST(CAST(count(*) AS HUGEINT) * 1000000 // n_shingles AS BIGINT) AS contam_ppm
         |FROM trainx JOIN evals USING (s)
         |GROUP BY doc_id, n_shingles""".stripMargin
    },
    // EVAL-side contamination: per benchmark item, what fraction of ITS
    // shingles leaked into the training corpus — the "is this eval score
    // reportable" audit (d7 answers the train-side quarantine question).
    // Same split and shingle width as d7; clean items (0 ppm) reported.
    query("d27_eval_coverage")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      Decontaminate.evalCoverage(
        docs.where(col("doc_id") % 20 =!= 0),
        docs.where(col("doc_id") % 20 === 0), n = 4)
    }) {
      // LEFT join so clean eval items report 0 ppm; ppm rides
      // HUGEINT ↔ DECIMAL(38,0).
      s"""WITH norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM documents
         |), shs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${shingleSql(4)},
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), ev AS (
         |  SELECT doc_id AS eval_id, len(sh) AS n_shingles, unnest(sh) AS s
         |  FROM shs WHERE doc_id % 20 = 0 AND len(sh) > 0
         |), tr AS (
         |  SELECT DISTINCT unnest(sh) AS s, 1 AS hit
         |  FROM shs WHERE doc_id % 20 <> 0
         |)
         |SELECT eval_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_hit,
         |  CAST(CAST(coalesce(sum(hit), 0) AS HUGEINT) * 1000000 // n_shingles AS BIGINT) AS coverage_ppm
         |FROM ev LEFT JOIN tr USING (s)
         |GROUP BY eval_id, n_shingles""".stripMargin
    },
    // Bloom-prefiltered decontamination: identical exact output (the
    // bloom's false positives die in the exact join), but the train
    // side is screened by a ~10-bits/shingle filter before any join —
    // the shape for eval sets too large to probe as a broadcast hash
    // table per task. Different split (%10) and width (5) than d7 so
    // the two queries exercise different collision patterns.
    query("d9_bloom_decontaminate")((s, dir) => {
      val docs = par(tbl(s, dir, "documents")).select(col("doc_id"), col("text"))
      Decontaminate.reportBloom(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        n = 5, expectedItems = 100000L, fpp = 0.01)
    }) {
      // The bloom prefilter is cost-only: the oracle is the plain exact
      // screen at d9's split/width — any bloom false positive surviving
      // to the output would hash-mismatch here.
      s"""WITH norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM documents
         |), shs AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(${shingleSql(5)},
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), evals AS (
         |  SELECT DISTINCT unnest(sh) AS s FROM shs WHERE doc_id % 10 = 0
         |), trainx AS (
         |  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
         |  FROM shs WHERE doc_id % 10 <> 0
         |)
         |SELECT doc_id, n_shingles, CAST(count(*) AS BIGINT) AS n_hit,
         |  CAST(CAST(count(*) AS HUGEINT) * 1000000 // n_shingles AS BIGINT) AS contam_ppm
         |FROM trainx JOIN evals USING (s)
         |GROUP BY doc_id, n_shingles""".stripMargin
    },
    // Incremental dedup: a daily increment (every 5th doc, plus exact
    // copies of corpus docs and of itself) reduced to content-new
    // documents against the existing corpus — batch-internal keeper
    // window + anti-join on the content hash.
    query("d8_incremental_dedup")((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 5 =!= 0)
      val incoming = par(
        d.where(col("doc_id") % 5 === 0)
          .unionByName(corpus.where(col("doc_id") % 5 === 1)
            .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 4000000).as("doc_id"), col("text"))))
      Dedup.incrementalNew(incoming, par(corpus))
    }) {
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        |), inc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text FROM corpus WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 5 = 0
        |), inch AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
        |  FROM inc
        |), keep AS (
        |  SELECT content_hash, min(doc_id) AS doc_id FROM inch GROUP BY 1
        |), corph AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
        |  FROM corpus
        |)
        |SELECT k.content_hash, k.doc_id FROM keep k
        |WHERE NOT EXISTS (SELECT 1 FROM corph c WHERE c.content_hash = k.content_hash)""".stripMargin
    },
    // End-to-end near-dup corpus dedup: LSH pairs → connected components
    // → drop non-canonical members (anti-join on the id). The terminal
    // form of the d2+d6 pipeline — what a crawl-curation job actually
    // ships. Survivors keep their text length as the cheap payload proof.
    query("d10_corpus_dedup")((s, dir) => {
      val docs = augmentedDocs(s, dir)
      val labels = Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs, k = 32, bands = 8, threshold = 0.4))
      Dedup.keepCanonical(docs, labels)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
    }) {
      s"""WITH RECURSIVE prs AS (
         |$d2PairsSql
         |), ${ccClosureSql("prs")}, lbl AS (
         |  SELECT id, min(r) AS group_id FROM cc GROUP BY id
         |), dups AS (
         |  SELECT id FROM lbl WHERE id <> group_id
         |), $augDocsSql
         |SELECT a.doc_id, length(a.text) AS n_chars
         |FROM aug a LEFT JOIN dups d ON a.doc_id = d.id
         |WHERE d.id IS NULL""".stripMargin
    },
    // Quality-aware dedup survivors: same pairs/components as d10, but
    // each component keeps its LONGEST member (tie: min id) instead of
    // the arbitrary min-id copy — the "keep the best copy" rule
    // production dedup uses. Orig-vs-truncated-copy components agree
    // with d10 (the original is both longer and lower-id); components
    // that merge DIFFERENT documents exercise the argmax for real.
    query("d15_keep_best")((s, dir) => {
      val docs = augmentedDocs(s, dir)
      val labels = Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs, k = 32, bands = 8, threshold = 0.4))
      Dedup.keepBest(docs.withColumn("_len", length(col("text"))), labels, "_len")
        .select(col("doc_id"), length(col("text")).as("n_chars"))
    }) {
      s"""WITH RECURSIVE prs AS (
         |$d2PairsSql
         |), ${ccClosureSql("prs")}, lbl AS (
         |  SELECT id, min(r) AS group_id FROM cc GROUP BY id
         |), $augDocsSql, win AS (
         |  SELECT id FROM (
         |    SELECT l.id, row_number() OVER (PARTITION BY l.group_id
         |      ORDER BY length(a.text) DESC, l.id) AS rn
         |    FROM lbl l JOIN aug a ON l.id = a.doc_id) w
         |  WHERE rn = 1
         |), losers AS (
         |  SELECT id FROM lbl WHERE id NOT IN (SELECT id FROM win)
         |)
         |SELECT a.doc_id, length(a.text) AS n_chars
         |FROM aug a LEFT JOIN losers d ON a.doc_id = d.id
         |WHERE d.id IS NULL""".stripMargin
    },
    // Per-source dedup audit: how much of each source a keep-best dedup
    // pass would remove — the release report run before shipping a
    // training mix. The removed set (keepBestLosers) is orders of
    // magnitude smaller than the corpus, so its source rollup is cheap;
    // the corpus-side total is one broadcast source-lookup join + one
    // map-side-absorbed aggregate. (On production data `source` rides
    // the corpus row itself; the base-id join is this dataset's lookup.)
    query("d16_dup_stats")((s, dir) => {
      val docs = augmentedDocs(s, dir)
      val labels = Dedup.connectedComponents(
        Dedup.minhashLshPairs(docs, k = 32, bands = 8, threshold = 0.4))
      val losers = Dedup.keepBestLosers(
        docs.withColumn("_len", length(col("text"))), labels, "_len")
      val src = tbl(s, dir, "documents")
        .select(col("doc_id").as("base_id"), col("source"))
      val totals = docs.withColumn("base_id", col("doc_id") % 1000000)
        .join(src, "base_id").groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val removed = losers.withColumn("base_id", col("doc_id") % 1000000)
        .join(src, "base_id").groupBy(col("source"))
        .agg(count(lit(1)).as("n_removed"))
      totals.join(removed, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          round(coalesce(col("n_removed"), lit(0L)).cast("double") /
            col("n_docs").cast("double"), 6).as("dup_ratio"))
    }) {
      // d15's closure + keep-best winner rule, rolled up to per-source
      // removal stats via the base-id source lookup.
      s"""WITH RECURSIVE prs AS (
         |$d2PairsSql
         |), ${ccClosureSql("prs")}, lbl AS (
         |  SELECT id, min(r) AS group_id FROM cc GROUP BY id
         |), $augDocsSql, win AS (
         |  SELECT id FROM (
         |    SELECT l.id, row_number() OVER (PARTITION BY l.group_id
         |      ORDER BY length(a.text) DESC, l.id) AS rn
         |    FROM lbl l JOIN aug a ON l.id = a.doc_id) w
         |  WHERE rn = 1
         |), losers AS (
         |  SELECT id FROM lbl WHERE id NOT IN (SELECT id FROM win)
         |), tot AS (
         |  SELECT d.source, count(*) AS n_docs
         |  FROM aug a JOIN documents d ON a.doc_id % 1000000 = d.doc_id
         |  GROUP BY 1
         |), rem AS (
         |  SELECT d.source, count(*) AS n_removed
         |  FROM losers l JOIN documents d ON l.id % 1000000 = d.doc_id
         |  GROUP BY 1
         |)
         |SELECT t.source, t.n_docs, coalesce(r.n_removed, 0) AS n_removed,
         |  round(CAST(coalesce(r.n_removed, 0) AS DOUBLE) /
         |        CAST(t.n_docs AS DOUBLE), 6) AS dup_ratio
         |FROM tot t LEFT JOIN rem r USING (source)""".stripMargin
    },
    // Corpus-wide span-level exact dedup (C4-style repeated-paragraph
    // removal on 10-word windows): first occurrence wins, docs are
    // reassembled from their surviving spans. Two shuffles, no joins.
    query("t12_span_dedup")((s, dir) =>
      Dedup.spanDedup(augmentedDocs(s, dir), spanWords = 10)) {
      s"""WITH $augDocsSql, toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM aug
         |), spans AS (
         |  SELECT doc_id, CAST(j AS INT) AS span_idx,
         |    array_to_string(t[CAST(j * 10 + 1 AS INT):CAST(j * 10 + 10 AS INT)], ' ') AS span_text
         |  FROM toks, (SELECT CAST(range AS BIGINT) AS j FROM range(4000)) r
         |  WHERE j * 10 < len(t)
         |), kept AS (
         |  SELECT doc_id, span_idx, span_text,
         |    row_number() OVER (PARTITION BY span_text ORDER BY doc_id, span_idx) AS rn
         |  FROM spans
         |)
         |SELECT doc_id, count(*) AS spans_kept,
         |  string_agg(span_text, ' ' ORDER BY span_idx) AS text_dedup
         |FROM kept WHERE rn = 1 GROUP BY doc_id""".stripMargin
    },
    // Most-duplicated spans: t12's audit complement — which exact
    // passages repeat most (boilerplate/license/chrome mining). One
    // combined aggregate + bounded top-k.
    query("t24_top_spans")((s, dir) =>
      Dedup.topSpans(augmentedDocs(s, dir), spanWords = 10, k = 20)) {
      s"""WITH $augDocsSql, toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM aug
         |), spans AS (
         |  SELECT doc_id,
         |    array_to_string(t[CAST(j * 10 + 1 AS INT):CAST(j * 10 + 10 AS INT)], ' ') AS span_text
         |  FROM toks, (SELECT CAST(range AS BIGINT) AS j FROM range(4000)) r
         |  WHERE j * 10 < len(t)
         |), agg AS (
         |  SELECT span_text, count(*) AS n_copies, count(DISTINCT doc_id) AS n_docs
         |  FROM spans GROUP BY 1 HAVING count(*) > 1
         |)
         |SELECT span_text, n_copies, n_docs FROM agg
         |ORDER BY n_copies DESC, span_text LIMIT 20""".stripMargin
    },
    // Incremental near-dup dedup: the daily batch keeps only docs that
    // near-dup nothing — no smaller-id batch near-dup, no corpus
    // near-dup. Batch: the %5==0 docs plus trimmed near-copies of 50
    // corpus docs and 50 batch docs (both screens exercised).
    query("d11_incremental_neardup")((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val trim = expr("substring(text, 1, greatest(length(text) - 20, 1))")
      val corpus = par(d.where(col("doc_id") % 5 =!= 0))
      val fresh = d.where(col("doc_id") % 5 === 0)
      val incoming = par(
        fresh
          .unionByName(corpus.where(col("doc_id") % 10 === 1)
            .select((col("doc_id") + 3000000).as("doc_id"), trim.as("text")))
          .unionByName(fresh.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 4000000).as("doc_id"), trim.as("text"))))
      Dedup.incrementalNearDupNew(incoming, corpus)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
    }) {
      s"""WITH corp AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
         |), fresh AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |), inc AS (
         |  SELECT doc_id, text FROM fresh
         |  UNION ALL
         |  SELECT doc_id + 3000000, substr(text, 1, greatest(length(text) - 20, 1))
         |  FROM corp WHERE doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + 4000000, substr(text, 1, greatest(length(text) - 20, 1))
         |  FROM fresh WHERE doc_id % 10 = 0
         |), $minhashParamsSql, ${lshSideSql("inc", "I")}, ${lshSideSql("corp", "C")},
         |innerCand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bandI a JOIN bandI b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
         |), innerDrop AS (
         |  SELECT DISTINCT c.id_b AS doc_id
         |  FROM innerCand c JOIN shsI sa ON c.id_a = sa.id JOIN shsI sb ON c.id_b = sb.id
         |  WHERE $jaccardSql >= 0.4
         |), crossCand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bandI a JOIN bandC b ON a.band = b.band AND a.bkey = b.bkey
         |), crossDrop AS (
         |  SELECT DISTINCT c.id_a AS doc_id
         |  FROM crossCand c JOIN shsI sa ON c.id_a = sa.id JOIN shsC sb ON c.id_b = sb.id
         |  WHERE $jaccardSql >= 0.4
         |)
         |SELECT i.doc_id, length(i.text) AS n_chars FROM inc i
         |LEFT JOIN innerDrop x ON i.doc_id = x.doc_id
         |LEFT JOIN crossDrop y ON i.doc_id = y.doc_id
         |WHERE x.doc_id IS NULL AND y.doc_id IS NULL""".stripMargin
    },
    // Admission-gate AUDIT (round 12 — d11's verdict form, the
    // dataset-card number published beside an ingest policy): per
    // provenance group of the d11 fixture, how many arrivals were
    // rejected as corpus near-dups vs within-batch near-dups vs
    // admitted, with the admit rate in exact ppm. The keeper set is
    // provably the complement (Round12OpsSpec); this is what
    // StreamingNearDup's rejections roll up to at release time. See
    // Dedup.incrementalNearDupVerdicts.
    query("d38_admission_audit")((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val trim = expr("substring(text, 1, greatest(length(text) - 20, 1))")
      val corpus = par(d.where(col("doc_id") % 5 =!= 0))
      val fresh = d.where(col("doc_id") % 5 === 0)
      val incoming = par(
        fresh
          .unionByName(corpus.where(col("doc_id") % 10 === 1)
            .select((col("doc_id") + 3000000).as("doc_id"), trim.as("text")))
          .unionByName(fresh.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 4000000).as("doc_id"), trim.as("text"))))
      Dedup.incrementalNearDupVerdicts(incoming, corpus)
        .withColumn("provenance",
          when(col("doc_id") >= 4000000, "fresh_copy")
            .when(col("doc_id") >= 3000000, "corpus_copy")
            .otherwise("fresh"))
        .groupBy(col("provenance"))
        .agg(count(lit(1)).as("n_in"),
          sum(when(col("corpus_dup"), 1L).otherwise(0L)).as("n_corpus_dup"),
          sum(when(col("batch_dup"), 1L).otherwise(0L)).as("n_batch_dup"),
          sum(when(!col("corpus_dup") && !col("batch_dup"), 1L).otherwise(0L))
            .as("n_admitted"))
        .select(col("provenance"), col("n_in"), col("n_corpus_dup"),
          col("n_batch_dup"), col("n_admitted"),
          expr("CAST(CAST(n_admitted AS DECIMAL(38,0)) * 1000000 div n_in AS BIGINT)")
            .as("admit_ppm"))
    }) {
      // d11's screens replayed as VERDICT flags.
      s"""WITH corp AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
         |), fresh AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |), inc AS (
         |  SELECT doc_id, text FROM fresh
         |  UNION ALL
         |  SELECT doc_id + 3000000, substr(text, 1, greatest(length(text) - 20, 1))
         |  FROM corp WHERE doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + 4000000, substr(text, 1, greatest(length(text) - 20, 1))
         |  FROM fresh WHERE doc_id % 10 = 0
         |), $minhashParamsSql, ${lshSideSql("inc", "I")}, ${lshSideSql("corp", "C")},
         |innerCand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bandI a JOIN bandI b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
         |), innerDrop AS (
         |  SELECT DISTINCT c.id_b AS doc_id
         |  FROM innerCand c JOIN shsI sa ON c.id_a = sa.id JOIN shsI sb ON c.id_b = sb.id
         |  WHERE $jaccardSql >= 0.4
         |), crossCand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bandI a JOIN bandC b ON a.band = b.band AND a.bkey = b.bkey
         |), crossDrop AS (
         |  SELECT DISTINCT c.id_a AS doc_id
         |  FROM crossCand c JOIN shsI sa ON c.id_a = sa.id JOIN shsC sb ON c.id_b = sb.id
         |  WHERE $jaccardSql >= 0.4
         |), verdicts AS (
         |  SELECT i.doc_id,
         |    y.doc_id IS NOT NULL AS corpus_dup,
         |    x.doc_id IS NOT NULL AS batch_dup,
         |    CASE WHEN i.doc_id >= 4000000 THEN 'fresh_copy'
         |         WHEN i.doc_id >= 3000000 THEN 'corpus_copy'
         |         ELSE 'fresh' END AS provenance
         |  FROM inc i
         |  LEFT JOIN innerDrop x ON i.doc_id = x.doc_id
         |  LEFT JOIN crossDrop y ON i.doc_id = y.doc_id
         |)
         |SELECT provenance, CAST(count(*) AS BIGINT) AS n_in,
         |  CAST(coalesce(sum(CASE WHEN corpus_dup THEN 1 END), 0) AS BIGINT) AS n_corpus_dup,
         |  CAST(coalesce(sum(CASE WHEN batch_dup THEN 1 END), 0) AS BIGINT) AS n_batch_dup,
         |  CAST(coalesce(sum(CASE WHEN NOT corpus_dup AND NOT batch_dup THEN 1 END), 0) AS BIGINT) AS n_admitted,
         |  CAST(CAST(coalesce(sum(CASE WHEN NOT corpus_dup AND NOT batch_dup THEN 1 END), 0) AS HUGEINT) * 1000000
         |    // count(*) AS BIGINT) AS admit_ppm
         |FROM verdicts GROUP BY 1""".stripMargin
    },
    // SemDeDup: k-means-clustered semantic dedup over the augmented
    // embeddings — the trained cells limit candidates (not LSH bands),
    // and any vector with a lower-id in-cluster neighbor at cos ≥ 0.95
    // is dropped. The oracle unrolls the same 2-iteration Lloyd's
    // training (as s5) and replays the in-cell keeper rule.
    query("d12_semdedup")((s, dir) => {
      Dedup.semDedup(augmentedEmb(s, dir), k = 8, iters = 2, threshold = 0.95)
    }) {
      s"""WITH eIn AS (
         |  $augEmbSql
         |), $quantEmbSql, ${ivfLloyd2Sql(8)}, lbl AS (
         |  SELECT qn.vec_id, a2.cell, qn.qv, qn.n2 FROM qn JOIN a2 USING (vec_id)
         |), dups AS (
         |  SELECT DISTINCT b.vec_id FROM lbl a JOIN lbl b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  AND $dotCosSql >= 0.95
         |)
         |SELECT l.vec_id, l.cell FROM lbl l LEFT JOIN dups d ON l.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL""".stripMargin
    },
    // Asymmetric containment screen over a corpus with constructed
    // excerpt copies (200-char mid-document slices): the excerpts score
    // containment 1.0 against their sources while symmetric jaccard is
    // far below any dedup threshold — the case d4 structurally misses.
    query("d13_containment")((s, dir) => {
      Dedup.containmentPairs(excerptDocs(s, dir), n = 5, threshold = 0.9)
    }) {
      s"""WITH exc AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, substr(text, 31, 200) FROM documents
         |  WHERE length(text) >= 231
         |), norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM exc
         |), shs AS (
         |  SELECT doc_id AS id,
         |    list_distinct(list_transform(${shingleSql(5)},
         |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), ex AS (
         |  SELECT id, len(sh) AS n, unnest(sh) AS s FROM shs
         |), pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6) AS containment
         |FROM pairs
         |WHERE CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.9""".stripMargin
    },
    // Cross-source duplication matrix: near-dup pairs labeled with both
    // documents' sources and rolled up to (source, source) — the "which
    // sources overlap each other" release audit run before mixing
    // corpora. The pair table is orders of magnitude smaller than the
    // corpus, so the two source-lookup joins are cheap equi-joins on the
    // doc id; max is the order-independent score aggregate.
    query("d14_source_overlap")((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(augmentedDocs(s, dir), n = 5,
        threshold = 0.3)
      val src = tbl(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .withColumn("base_a", col("id_a") % 1000000)
        .withColumn("base_b", col("id_b") % 1000000)
        .join(src.select(col("doc_id").as("base_a"), col("source").as("source_a")), "base_a")
        .join(src.select(col("doc_id").as("base_b"), col("source").as("source_b")), "base_b")
        .groupBy(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .agg(count(lit(1)).as("pair_count"),
          round(max(col("jaccard")), 6).as("max_score"))
    }) {
      s"""WITH ${augShinglesSql(5)}, ex AS (
         |  SELECT id, len(sh) AS n, unnest(sh) AS s FROM shs
         |), pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2, 3, 4
         |), scored AS (
         |  SELECT id_a, id_b,
         |    round(CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE), 6) AS jaccard
         |  FROM pairs
         |  WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) >= 0.3
         |), lab AS (
         |  SELECT least(da.source, db.source) AS src_lo,
         |         greatest(da.source, db.source) AS src_hi, jaccard
         |  FROM scored
         |  JOIN documents da ON scored.id_a % 1000000 = da.doc_id
         |  JOIN documents db ON scored.id_b % 1000000 = db.doc_id
         |)
         |SELECT src_lo, src_hi, count(*) AS pair_count,
         |  round(max(jaccard), 6) AS max_score
         |FROM lab GROUP BY 1, 2""".stripMargin
    },
    // Corpus snapshot diff: (id, content-hash) projected in the scan
    // stage, one co-partitioned full-outer join — the release audit
    // between dataset version N and N+1. Old = docs except %7==0;
    // new = docs except %7==3, with %5==0 texts edited.
    query("q24_snapshot_diff")((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      Snapshot.diff(
        d.where(col("doc_id") % 7 =!= 0),
        d.where(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")))
    }) {
      """WITH oldv AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        |), newv AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 3
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text <> n.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id""".stripMargin
    },
    // Deterministic hash-based train/val/test assignment: a pure
    // projection of the id, stable across partitioning/cluster size.
    query("p1_hash_split")((s, dir) =>
      Split.assignSplit(tbl(s, dir, "documents").select(col("doc_id")), "doc_id")) {
      """SELECT doc_id, b AS bucket,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
        |  FROM documents)""".stripMargin
    },
    // Leakage-safe split: near-dup docs must land in the SAME
    // train/val/test split or eval leaks training text — so the split
    // hashes the near-dup COMPONENT id (min doc id of the d2-pairs
    // connected component; unpaired docs are their own group), not the
    // doc id. Composition: LSH pairs → connected components → left
    // join back (docs without pairs coalesce to themselves) →
    // assignSplit on the group. The component table is pair-bounded
    // (tiny next to the corpus), so the join back is cheap.
    query("p12_leakage_split")((s, dir) => {
      val aug = augmentedDocs(s, dir)
      val comp = Dedup.connectedComponents(
        Dedup.minhashLshPairs(aug, k = 32, bands = 8, threshold = 0.4))
      val grouped = aug.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
      Split.assignSplit(grouped, "group_id")
    }) {
      s"""WITH RECURSIVE $augDocsSql, prs AS (
         |$d2PairsSql
         |), ${ccClosureSql("prs")}, comp AS (
         |  SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS group_id
         |  FROM cc GROUP BY id
         |), grouped AS (
         |  SELECT a.doc_id, coalesce(c.group_id, a.doc_id) AS group_id
         |  FROM aug a LEFT JOIN comp c USING (doc_id)
         |), b AS (
         |  SELECT doc_id, group_id,
         |    ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
         |  FROM grouped
         |)
         |SELECT doc_id, group_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin
    },
    // Deterministic stratified sampling: per-language keep rates as a pure
    // hash filter — no RNG, no shuffle, reproducible on any engine, and
    // nested (a lower rate draws a subset of a higher rate's sample).
    query("p2_stratified_sample")((s, dir) =>
      Split.stratifiedSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)) {
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5('smp|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000
        |  < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 ELSE 100000 END""".stripMargin
    },
    // Exact-total stratified sample: exactly 300 documents allocated
    // across languages by largest-remainder (Hamilton) apportionment,
    // selected within each stratum by md5-hash rank — the fixed-budget
    // contract p2's per-stratum rates cannot express. All-integer
    // allocation on the |strata|-row count table. See
    // Split.exactAllocationSample.
    query("p16_exact_allocation")((s, dir) =>
      Split.exactAllocationSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", k = 300)) {
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS nh FROM documents GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(nh) AS BIGINT) AS n FROM c
        |), a0 AS (
        |  SELECT lang, nh,
        |    CAST((CAST(300 AS HUGEINT) * nh) // n AS BIGINT) AS base,
        |    CAST(CAST(300 AS HUGEINT) * nh % n AS BIGINT) AS rem
        |  FROM c, t
        |), e AS (
        |  SELECT 300 - CAST(sum(base) AS BIGINT) AS extra FROM a0
        |), a AS (
        |  SELECT lang, CAST(base + CASE
        |      WHEN row_number() OVER (ORDER BY rem DESC, lang) <= extra THEN 1
        |      ELSE 0 END AS BIGINT) AS alloc
        |  FROM a0, e
        |), r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ('0x' || substr(md5('alloc|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rk
        |  FROM documents
        |)
        |SELECT r.lang, r.doc_id, a.alloc FROM r JOIN a USING (lang) WHERE r.rk <= a.alloc""".stripMargin
    },
    // Quality-weighted sampling: survival probability proportional to a
    // length-capped quality weight — a pure hash-threshold filter in the
    // scan stage, no RNG, no shuffle.
    query("p9_weighted_sample")((s, dir) =>
      Split.weightedSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", least(col("n_chars"), lit(400)).cast("double") / lit(400))) {
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE ('0x' || substr(md5('wsmp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000
        |  < CAST(round(CAST(least(n_chars, 400) AS DOUBLE) / 400 * 1e6) AS BIGINT)""".stripMargin
    },
    // Deterministic k-per-group sampling: the 5 docs per language with
    // the smallest purpose-prefixed md5 keys, selected by a bounded
    // partial aggregate (≤k rows per partition-group cross the shuffle —
    // no per-group window sort, robust to group skew).
    query("p5_group_sample")((s, dir) =>
      GroupSample.sampleKPerGroup(
        par(tbl(s, dir, "documents")).select(col("lang"), col("doc_id")),
        "lang", "doc_id", k = 5)) {
      """SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ('0x' || substr(md5('gsmp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin
    },
    // Deterministic domain-mixture resampling: thin each language to hit
    // a 50/20/15/10/5 target mixture, keeping the binding domain whole.
    // Rates are derived in-plan (tiny count agg → global min → broadcast
    // join back); selection is the same md5-ppm filter as p2.
    query("p4_mixture_resample")((s, dir) =>
      Split.mixtureResample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        sharesPpm = Map("en" -> 500000L, "zh" -> 200000L, "es" -> 150000L,
          "de" -> 100000L, "fr" -> 50000L))
        .select(col("doc_id"), col("lang"))) {
      """WITH shares AS (
        |  SELECT * FROM (VALUES ('en', 500000), ('zh', 200000), ('es', 150000),
        |                        ('de', 100000), ('fr', 50000)) s(lang, share_ppm)
        |), j AS (
        |  SELECT c.lang, c.n, s.share_ppm
        |  FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang) c
        |  JOIN shares s USING (lang)
        |), bind AS (
        |  SELECT a.n AS n_bind, a.share_ppm AS s_bind FROM j a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM j b
        |    WHERE CAST(b.n AS HUGEINT) * a.share_ppm < CAST(a.n AS HUGEINT) * b.share_ppm
        |       OR (CAST(b.n AS HUGEINT) * a.share_ppm = CAST(a.n AS HUGEINT) * b.share_ppm
        |           AND b.lang < a.lang))
        |)
        |SELECT d.doc_id, d.lang FROM documents d JOIN j USING (lang) CROSS JOIN bind
        |WHERE CAST(('0x' || substr(md5('mix|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 AS HUGEINT) * s_bind * n
        |      < CAST(1000000 AS HUGEINT) * share_ppm * n_bind""".stripMargin
    },
    // Deterministic training-sequence packing: hash docs into bins, then
    // a per-bin running token total assigns ~512-token sequences. One
    // shuffle on the bin key; parallelism = bins, invariant to cluster
    // size.
    query("p3_pack_sequences")((s, dir) =>
      Split.packSequences(
        par(tbl(s, dir, "documents"))
          .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, bins = 8)) {
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS n_tokens,
        |    ('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bin
        |  FROM documents
        |)
        |SELECT doc_id, bin, n_tokens,
        |  CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY bin ORDER BY doc_id)
        |                  - n_tokens AS DOUBLE) / 512) AS BIGINT) AS seq_id
        |FROM t""".stripMargin
    },
    // Z-order layout audit: Morton-interleave (l_partkey, l_suppkey)
    // and report each fixed-width curve bucket's row count and (x, y)
    // bounding box — the min/max stats a skipping engine reads per
    // file. The write-side layout itself (range-partition + local sort
    // on the z key) is Layout.zordered; this query checks what matters,
    // that curve buckets are tight rectangles on both dimensions.
    query("p10_zorder_layout")((s, dir) =>
      Layout.zorderBucketStats(
        tbl(s, dir, "lineitem")
          .select(col("l_partkey").cast("long").as("x"),
            col("l_suppkey").cast("long").as("y")),
        "x", "y", bits = 16, bucketShift = 16)) {
      s"""WITH b AS (
         |  SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
         |  FROM lineitem
         |), z AS (
         |  SELECT ${zorderSqlExpr("x", "y", 16)} AS zv, x, y FROM b
         |)
         |SELECT zv >> 16 AS z_bucket, count(*) AS n_rows,
         |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1""".stripMargin
    },
    // Deterministic epoch shuffle: (shard, pos) from two independent
    // md5 hashes — a reproducible corpus permutation with one shuffle
    // (the per-shard rank sort), invariant to input partitioning.
    query("p6_deterministic_shuffle")((s, dir) =>
      Split.deterministicShuffle(
        par(tbl(s, dir, "documents")).select(col("doc_id")),
        "doc_id", shards = 8, seed = "epoch0")) {
      """SELECT doc_id, shard, CAST(rn - 1 AS BIGINT) AS pos FROM (
        |  SELECT doc_id, shard,
        |    row_number() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS rn
        |  FROM (
        |    SELECT doc_id,
        |      ('0x' || substr(md5('shuf|epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
        |      ('0x' || substr(md5('ord|epoch0|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h2
        |    FROM documents))""".stripMargin
    },
    // Cluster-stratified diversity sampling: k-means cells (the same
    // trained quantizer as s5/d12) as strata, then the deterministic
    // bounded k-per-group sampler — embedding-space coverage sampling
    // with ≤k rows per (partition, cell) crossing the shuffle.
    query("p8_cluster_sample")((s, dir) => {
      val cells = Similarity.trainIvfCells(par(tbl(s, dir, "embeddings")),
          "vec_id", "embedding", k = 8, iters = 2)
        .withColumnRenamed("_id", "vec_id").withColumnRenamed("_cell", "cell")
      GroupSample.sampleKPerGroup(cells, "cell", "vec_id", k = 10)
    }) {
      // The s5 training unroll + the p5 group-sample window, with
      // the trained cell as the stratum.
      s"""WITH eIn AS (
         |  SELECT vec_id, embedding FROM embeddings
         |), $quantEmbSql, ${ivfLloyd2Sql(8)}
         |SELECT cell, vec_id, CAST(rk AS INT) AS rk FROM (
         |  SELECT a2.cell, a2.vec_id,
         |    row_number() OVER (PARTITION BY a2.cell ORDER BY
         |      ('0x' || substr(md5('gsmp|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
         |      vec_id) AS rk
         |  FROM a2)
         |WHERE rk <= 10""".stripMargin
    },
    // Per-source token budgeting: greedy hash-order selection until the
    // source's token budget. src0 cut low, src1 effectively unlimited,
    // the rest on the 700-token default — all three branches exercised.
    // The bucketed two-phase shape keeps every window partition at
    // 1/256th of a source regardless of source skew.
    query("p7_token_budget")((s, dir) =>
      Split.tokenBudget(
        par(tbl(s, dir, "documents"))
          .select(col("doc_id"), col("source"),
            Text.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", "source",
        budgets = Map("src0" -> 300L, "src1" -> 100000L),
        defaultBudget = 700L)) {
      // The oracle uses the single global window per source — the
      // engine's bucketed two-phase form must equal it exactly, because
      // the bucket is the hash key's top bits.
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('tb|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key
        |  FROM documents
        |), cum AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS toks_before
        |  FROM base
        |)
        |SELECT doc_id, source, n_tokens, CAST(toks_before AS BIGINT) AS toks_before FROM cum
        |WHERE toks_before < CASE WHEN source = 'src0' THEN 300
        |                         WHEN source = 'src1' THEN 100000
        |                         ELSE 700 END""".stripMargin
    },
    // Semi-structured JSON extraction over the event props: parse a
    // JSON field per row (map-side, codegen'd get_json_object path) and
    // aggregate — the "typed view over a JSON column" relational op.
    query("q20_json_props")((s, dir) =>
      tbl(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 6).as("avg_k"))) {
      """SELECT event_type, count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k,
        |  round(avg(k), 6) AS avg_k
        |FROM (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |GROUP BY event_type""".stripMargin
    },
    // Per-column dataset profile: melt via stack inside the scan stage,
    // one agg by column name, exact two-stage distinct. The before/after
    // sanity gate of every curation pipeline run.
    query("q21_column_profile")((s, dir) =>
      Profile.numericProfile(tbl(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_linenumber"))) {
      """WITH m AS (
        |  SELECT 'l_quantity' AS column_name, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_linenumber', CAST(l_linenumber AS DOUBLE) FROM lineitem
        |)
        |SELECT column_name, count(*) AS n,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  count(DISTINCT value) AS n_distinct,
        |  min(value) AS vmin, max(value) AS vmax,
        |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS vsum
        |FROM m GROUP BY column_name""".stripMargin
    },
    // Full analytic-window suite over per-customer order sequences:
    // lag/lead/percent_rank/cume_dist/ntile share ONE window pass — the
    // partition key is the customer, so sort scope stays O(orders per
    // customer) per key and there is no global sort anywhere. ntile is
    // cast to long to match the oracle engine's BIGINT window output.
    query("q27_window_suite")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).cast("long").as("nt"))
    }) {
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS nt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin
    },
    // Correlated subqueries through the SQL surface: EXISTS / NOT
    // EXISTS decorrelate to semi/anti hash joins and the correlated
    // scalar max-subquery to an aggregate-then-join — one pass over
    // orders, no per-row re-execution in the physical plan.
    // Correlated LATERAL subquery (Spark 4 relational surface): top-2
    // orders per customer via LATERAL (ORDER BY ... LIMIT 2) — the SQL
    // spelling of q11's window-top-n, planned as a broadcast-able
    // correlated join. Views dropped after analysis (the q28 rule).
    query("q43_lateral_topn")((s, dir) => {
      tbl(s, dir, "customer").createOrReplaceTempView("g43_customer")
      tbl(s, dir, "orders").createOrReplaceTempView("g43_orders")
      try s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM g43_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM g43_orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
      finally {
        s.catalog.dropTempView("g43_customer")
        s.catalog.dropTempView("g43_orders")
      }
    }) {
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |          WHERE o.o_custkey = c.c_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin
    },
    query("q28_exists_subquery")((s, dir) => {
      // The views exist only long enough for sql() to analyze the plan
      // (analysis is eager; the returned Dataset holds resolved
      // relations), then are dropped so the registry stays free of
      // session-catalog side effects like every other entry.
      tbl(s, dir, "customer").createOrReplaceTempView("g28_customer")
      tbl(s, dir, "orders").createOrReplaceTempView("g28_orders")
      try s.sql("""
        SELECT c.c_custkey,
               (SELECT max(o.o_totalprice) FROM g28_orders o
                 WHERE o.o_custkey = c.c_custkey) AS max_price
        FROM g28_customer c
        WHERE EXISTS (SELECT 1 FROM g28_orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM g28_orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_totalprice < 5000)""")
      finally {
        s.catalog.dropTempView("g28_customer")
        s.catalog.dropTempView("g28_orders")
      }
    }) {
      """SELECT c.c_custkey,
        |  (SELECT max(o.o_totalprice) FROM orders o
        |    WHERE o.o_custkey = c.c_custkey) AS max_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |               WHERE o.o_custkey = c.c_custkey
        |                 AND o.o_totalprice > 100000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                   WHERE o.o_custkey = c.c_custkey
        |                     AND o.o_totalprice < 5000)""".stripMargin
    },
    // Time-to-conversion survival curve: per signup-cohort user, days
    // until the first purchase at-or-after signup; S(t) walks a dense
    // day axis with a running conversion count. The heavy stage is one
    // user-key shuffle; the axis/cumsum stage runs over the aggregated
    // per-day frame, whose size is bounded by the calendar (not the
    // data), so its single-partition window is safe at any scale.
    // SIMPLIFICATION (deliberate, mirrored by the oracle): no
    // right-censoring — users signing up near the end of the event
    // window count as surviving at every t rather than leaving the risk
    // set at their observation horizon, so S(t) sits above a
    // Kaplan-Meier estimate at large t. KM semantics would cap each
    // user's contribution at datediff(max_event_date, t0). The output
    // column is named `survival_naive` (not `surv`/`km`) so no
    // downstream user mistakes it for Kaplan-Meier — the censored form
    // ships as u18_km_lifetable (Survival.lifeTable).
    query("u17_survival")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = tbl(s, dir, "events")
      val s0 = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val conv = ev.where(col("event_type") === "purchase").alias("e")
        .join(s0.alias("s"), col("e.user_id") === col("s.user_id") &&
          col("e.ts") >= col("s.t0"))
        .groupBy(col("s.user_id"), col("s.t0"))
        .agg(min(to_date(col("e.ts"))).as("pday"))
        .select(datediff(col("pday"), to_date(col("t0"))).cast("long").as("d"))
      val byday = conv.groupBy(col("d")).agg(count(lit(1)).as("n_conv"))
      val total = s0.agg(count(lit(1)).as("n_users"))
      val axis = byday.agg(max(col("d")).as("maxd"))
        .select(explode(sequence(lit(0L), col("maxd"))).as("t"))
      val w = Window.orderBy(col("t"))
      axis.join(byday, col("t") === col("d"), "left")
        .select(col("t"), coalesce(col("n_conv"), lit(0L)).as("n_conv"))
        .withColumn("cum_conv", sum(col("n_conv")).over(w))
        .crossJoin(broadcast(total))
        .select(col("t"), col("n_conv"),
          (col("n_users") - col("cum_conv")).as("n_surviving"),
          round((col("n_users") - col("cum_conv")).cast("double") /
            col("n_users").cast("double"), 6).as("survival_naive"))
    }) {
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), conv AS (
        |  SELECT date_diff('day', CAST(s.t0 AS DATE), min(CAST(e.ts AS DATE))) AS d
        |  FROM events e JOIN s0 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s.t0
        |  GROUP BY s.user_id, s.t0
        |), byday AS (
        |  SELECT d, count(*) AS n_conv FROM conv GROUP BY d
        |), tot AS (SELECT count(*) AS n_users FROM s0),
        |axis AS (
        |  SELECT CAST(unnest(range(0, mx + 1)) AS BIGINT) AS t
        |  FROM (SELECT max(d) AS mx FROM byday)
        |), cum AS (
        |  SELECT t, CAST(coalesce(n_conv, 0) AS BIGINT) AS n_conv,
        |    sum(coalesce(n_conv, 0)) OVER (ORDER BY t) AS cc
        |  FROM axis LEFT JOIN byday ON d = t
        |)
        |SELECT t, n_conv,
        |  n_users - CAST(cc AS BIGINT) AS n_surviving,
        |  round(CAST(n_users - cc AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS survival_naive
        |FROM cum CROSS JOIN tot""".stripMargin
    },
    // Incremental rollup maintenance: a deterministic shard of the
    // event stream (event_id % 10 == 7) plays the "late-arriving
    // increment"; its rollup full-outer-merges into the base rollup
    // with coalesce-sums — no raw re-read of base data. The oracle is
    // the INDEPENDENT full recompute over all events, so the
    // correctness gate proves incremental == batch (the u4
    // salted==plain discipline).
    query("u20_incremental_rollup")((s, dir) => {
      val e = tbl(s, dir, "events").select(
        to_date(col("ts")).as("day"), col("event_type"),
        col("event_id"), round(col("value") * 100).cast("long").as("_cents"))
      def rollup(df: DataFrame) = df.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("_cents")).as("rev_cents"))
      Incremental.mergeAdditive(
        rollup(e.where(col("event_id") % 10 =!= 7)),
        rollup(e.where(col("event_id") % 10 === 7)),
        keys = Seq("day", "event_type"), metrics = Seq("n_events", "rev_cents"))
    }) {
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM events GROUP BY 1, 2""".stripMargin
    },
    // Forward gap-fill (feature-pipeline staple): carry each user's
    // last purchase price forward across their event stream via
    // last_value IGNORE NULLS — one user-key shuffle, values pass
    // through untouched (no arithmetic to drift across engines).
    query("q30_gap_fill")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tbl(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", col("value")).as("_v"))
        .withColumn("last_price", last(col("_v"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("last_price"),
          col("_v").isNull.as("is_filled"))
    }) {
      """SELECT user_id, event_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_price,
        |  v IS NULL AS is_filled
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'purchase' THEN value END AS v
        |  FROM events)""".stripMargin
    },
    // CDC-style compaction: the latest record per (user, event_type)
    // key. ONE shuffle: the (ts, event_id)-prefixed struct max runs with
    // map-side partials — no window (which would shuffle every version
    // of every key into one partition ordered), no self-join. The
    // (ts, event_id) prefix is a unique total order, so the trailing
    // payload fields never break a tie and the winner is deterministic.
    query("q31_latest_by_key")((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("_m"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("_m.ts")).as("ts_us"),
          col("_m.event_id").as("event_id"), col("_m.value").as("value"))) {
      """WITH m1 AS (
        |  SELECT user_id, event_type, max(ts) AS mts
        |  FROM events GROUP BY 1, 2
        |), m2 AS (
        |  SELECT e.user_id, e.event_type, CAST(max(e.event_id) AS BIGINT) AS mid
        |  FROM events e JOIN m1 ON e.user_id = m1.user_id
        |    AND e.event_type = m1.event_type AND e.ts = m1.mts
        |  GROUP BY 1, 2
        |)
        |SELECT e.user_id, e.event_type, epoch_us(e.ts) AS ts_us,
        |  e.event_id, e.value
        |FROM events e JOIN m2 ON e.user_id = m2.user_id
        |  AND e.event_type = m2.event_type AND e.event_id = m2.mid""".stripMargin
    },
    // Weighted PageRank over the nation-level trade graph (customer
    // nation → supplier nation, weight = lineitem count) in exact
    // integer ppm — see the Graph scaladoc for the Pregel-as-joins
    // iteration shape. Dimensions broadcast into the edge build; the
    // fact table shuffles once for the edge aggregation.
    query("g1_pagerank")((s, dir) =>
      Graph.pageRankPpm(tradeEdges(s, dir), iters = pagerankIters)) {
      // Unrolls Graph.pageRankPpm's fixed iterations as chained CTEs (the
      // same oracle technique as the BPE merge rounds): r0 = floor(1e6/n),
      // r_i = floor(150000/n) + floor(0.85 · Σ floor(r·w/tw)). All integer
      // floor-division arithmetic, so DuckDB and Spark agree bit-for-bit.
      val base =
        s"""WITH edges AS (
           |  $tradeEdgesSql
           |), eo AS (
           |  SELECT e.src, e.dst, e.w, t.tw FROM edges e
           |  JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS tw
           |        FROM edges GROUP BY src) t USING (src)
           |), nodes AS (
           |  SELECT DISTINCT src AS node FROM edges
           |  UNION SELECT DISTINCT dst FROM edges
           |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |r0 AS (
           |  SELECT node, CAST(1000000 // n AS BIGINT) AS r FROM nodes, nn)""".stripMargin
      val iters = (1 to pagerankIters).map { i =>
        s""", r$i AS (
           |  SELECT nodes.node,
           |    CAST(150000 // nn.n + coalesce(c.s, 0) * 85 // 100 AS BIGINT) AS r
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT eo.dst AS node, sum((p.r * eo.w) // eo.tw) AS s
           |    FROM eo JOIN r${i - 1} p ON eo.src = p.node GROUP BY eo.dst) c
           |  ON nodes.node = c.node)""".stripMargin
      }.mkString
      s"$base$iters\nSELECT node, r AS rank_ppm FROM r$pagerankIters"
    },
    // Personalized PageRank from a 5-nation seed set over the same
    // trade graph as g1 — random walk with restart; ranks decay with
    // distance from the seeds. See Graph.personalizedPageRankPpm.
    query("g3_ppr")((s, dir) =>
      Graph.personalizedPageRankPpm(tradeEdges(s, dir), pprSeeds, iters = pagerankIters)) {
      // The personalized variant: initial mass and teleport concentrate on
      // the seed list; ⌊1e6/|S|⌋ and ⌊150000/|S|⌋ replace the /n uniform
      // terms. Same integer floor arithmetic, same unrolled-CTE technique.
      val seedList = pprSeeds.mkString(", ")
      val ns = pprSeeds.length
      val base =
        s"""WITH edges AS (
           |  $tradeEdgesSql
           |), eo AS (
           |  SELECT e.src, e.dst, e.w, t.tw FROM edges e
           |  JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS tw
           |        FROM edges GROUP BY src) t USING (src)
           |), nodes AS (
           |  SELECT DISTINCT src AS node FROM edges
           |  UNION SELECT DISTINCT dst FROM edges
           |), r0 AS (
           |  SELECT node, CAST(CASE WHEN node IN ($seedList) THEN ${1000000L / ns} ELSE 0 END AS BIGINT) AS r
           |  FROM nodes)""".stripMargin
      val iters = (1 to pagerankIters).map { i =>
        s""", r$i AS (
           |  SELECT nodes.node,
           |    CAST(CASE WHEN nodes.node IN ($seedList) THEN ${150000L / ns} ELSE 0 END
           |      + coalesce(c.s, 0) * 85 // 100 AS BIGINT) AS r
           |  FROM nodes
           |  LEFT JOIN (
           |    SELECT eo.dst AS node, sum((p.r * eo.w) // eo.tw) AS s
           |    FROM eo JOIN r${i - 1} p ON eo.src = p.node GROUP BY eo.dst) c
           |  ON nodes.node = c.node)""".stripMargin
      }.mkString
      s"$base$iters\nSELECT node, r AS rank_ppm FROM r$pagerankIters"
    },
    // HITS hub/authority over the same trade graph — buyers that buy
    // from authoritative producers vs producers bought by good buyers.
    // 3 exact integer rounds, ppm-by-max normalization inside the loop
    // (unnormalized HITS squares total edge weight per round and
    // overflows decimal(38,0) by round three). See Graph.hitsPpm.
    query("g12_hits")((s, dir) =>
      Graph.hitsPpm(tradeEdges(s, dir), iters = 3)) {
      // HITS unrolled like g1: per round, a = A'h then h = A·a, each
      // followed by the exact ppm-by-max renormalization x*1e6 // max(x).
      // HUGEINT sums; all divisions are non-negative floors, so // here
      // and DECIMAL div in Spark agree.
      val hitsIters = 3
      // MATERIALIZED on every round CTE: a{i} reads a{i}r twice (rows +
      // the max() scalar) and each round references the previous one, so
      // DuckDB's default inlining would expand the chain ~4^rounds-fold —
      // the g6_kcore lesson applied here.
      val base =
        s"""WITH edges AS MATERIALIZED (
           |  $tradeEdgesSql
           |), nodes AS MATERIALIZED (
           |  SELECT DISTINCT src AS node FROM edges
           |  UNION SELECT DISTINCT dst FROM edges
           |), h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS h FROM nodes)""".stripMargin
      val iters = (1 to hitsIters).map { i =>
        s""", a${i}r AS MATERIALIZED (
           |  SELECT nodes.node, coalesce(c.s, 0) AS a
           |  FROM nodes LEFT JOIN (
           |    SELECT e.dst AS node, sum(CAST(e.w AS HUGEINT) * p.h) AS s
           |    FROM edges e JOIN h${i - 1} p ON e.src = p.node GROUP BY e.dst) c
           |  ON nodes.node = c.node
           |), a$i AS MATERIALIZED (
           |  SELECT node, CASE WHEN m.m = 0 THEN 0 ELSE a * 1000000 // m.m END AS a
           |  FROM a${i}r, (SELECT max(a) AS m FROM a${i}r) m
           |), h${i}r AS MATERIALIZED (
           |  SELECT nodes.node, coalesce(c.s, 0) AS h
           |  FROM nodes LEFT JOIN (
           |    SELECT e.src AS node, sum(CAST(e.w AS HUGEINT) * p.a) AS s
           |    FROM edges e JOIN a$i p ON e.dst = p.node GROUP BY e.src) c
           |  ON nodes.node = c.node
           |), h$i AS MATERIALIZED (
           |  SELECT node, CASE WHEN m.m = 0 THEN 0 ELSE h * 1000000 // m.m END AS h
           |  FROM h${i}r, (SELECT max(h) AS m FROM h${i}r) m
           |)""".stripMargin
      }.mkString
      s"""$base$iters
         |SELECT h.node, CAST(h.h AS BIGINT) AS hub_ppm, CAST(a.a AS BIGINT) AS auth_ppm
         |FROM h$hitsIters h JOIN a$hitsIters a USING (node)""".stripMargin
    },
    // Sessions of the first 50 users that overlap the platform's 10
    // busiest hours — an interval×interval join with NO equi key,
    // bucket-tiled into an hour-wide equi-join (RangeJoin scaladoc).
    // The busy-hour side is 10 rows; each pair is emitted exactly once.
    query("u23_interval_overlap")((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sess = Sessions.sessionIntervals(ev.where(col("user_id") < 50))
      val hourUs = 3600L * 1000000L
      val hours = ev
        .groupBy(date_trunc("hour", col("ts")).as("_h"))
        .agg(count(lit(1)).as("h_events"))
        .orderBy(col("h_events").desc, col("_h")).limit(10)
        .select(unix_micros(col("_h")).as("h_start_us"),
          (unix_micros(col("_h")) + hourUs).as("h_end_us"), col("h_events"))
      RangeJoin.intervalOverlap(sess, "s_start_us", "s_end_us",
        hours, "h_start_us", "h_end_us", bucketWidth = hourUs)
        .select(col("user_id"), col("sess_id"), col("s_start_us"),
          col("s_end_us"), col("h_start_us"), col("h_events"))
    }) {
      """WITH r AS (
        |  SELECT user_id, ts, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events WHERE user_id < 50
        |), f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM r
        |), sid AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS new_sum
        |  FROM f
        |), sess AS (
        |  SELECT user_id, CAST(new_sum AS BIGINT) AS sess_id,
        |    min(epoch_us(ts)) AS s_start_us,
        |    max(epoch_us(ts)) + 1 AS s_end_us
        |  FROM sid GROUP BY 1, 2
        |), hr AS (
        |  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS h_events,
        |    row_number() OVER (ORDER BY count(*) DESC, date_trunc('hour', ts)) AS rn
        |  FROM events GROUP BY 1
        |), hours AS (
        |  SELECT epoch_us(h) AS h_start_us, epoch_us(h) + 3600000000 AS h_end_us,
        |    h_events
        |  FROM hr WHERE rn <= 10
        |)
        |SELECT s.user_id, s.sess_id, s.s_start_us, s.s_end_us,
        |  h.h_start_us, h.h_events
        |FROM sess s JOIN hours h
        |  ON s.s_start_us < h.h_end_us AND h.h_start_us < s.s_end_us""".stripMargin
    },
    // Hashed-feature linear quality model (the fastText-filter stage of
    // a corpus pipeline): one codegen'd pass per document, exact integer
    // score, keep/drop decision inline. See Text.hashedLinearScore.
    // Decile-lift / capture table for the same score-vs-label pair as
    // t33: ten equal-population score buckets (decile 1 = best), per-
    // bucket positive rate and cumulative capture — the budget-gating
    // report ("the top 2 deciles hold 70% of the good docs"). See
    // Profile.decileLift.
    query("t34_decile_lift")((s, dir) => {
      val scored = par(tbl(s, dir, "documents")).select(
        col("doc_id"),
        graft.functions.Text.hashedLinearScoreNative(col("text")).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("label"))
      Profile.decileLift(scored, "score", "label", "doc_id")
    }) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
        |  FROM documents
        |), w AS (
        |  SELECT doc_id,
        |    CAST(sum((('0x' || substr(md5('qw|' || token), 1, 15))::BIGINT % 2001) - 1000)
        |      AS BIGINT) AS score
        |  FROM tok GROUP BY doc_id
        |), sc AS (
        |  SELECT d.doc_id, coalesce(w.score, 0) AS s,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS lb
        |  FROM documents d LEFT JOIN w USING (doc_id)
        |), r AS (
        |  SELECT s, lb, row_number() OVER (ORDER BY s, doc_id) AS rk,
        |    count(*) OVER () AS n FROM sc
        |), dd AS (
        |  SELECT CAST(((n - rk) * 10) // n AS INT) + 1 AS decile, lb FROM r
        |), g AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n, CAST(sum(lb) AS BIGINT) AS n_pos
        |  FROM dd GROUP BY 1
        |), t AS (SELECT CAST(sum(n_pos) AS HUGEINT) AS np FROM g
        |), f AS (
        |  SELECT decile, n, n_pos,
        |    CAST(sum(n_pos) OVER (ORDER BY decile) AS HUGEINT) AS cum
        |  FROM g
        |)
        |SELECT f.decile, f.n, f.n_pos,
        |  CAST(CAST(f.n_pos AS HUGEINT) * 1000000 // f.n AS BIGINT) AS pos_rate_ppm,
        |  CASE WHEN t.np = 0 THEN NULL
        |    ELSE CAST(f.cum * 1000000 // t.np AS BIGINT) END AS cum_capture_ppm
        |FROM f, t""".stripMargin
    },
    // Reliability diagram + ECE for the same score-vs-label pair as
    // t33/t34 — the calibration report a filter classifier ships with
    // beside its AUC: min-max-normalized predicted ppm in 10 equal-
    // width bins, per-bin mean prediction vs observed positive rate,
    // bin-weighted L1 gap as ece_ppm on every row. All integer-exact.
    // See Profile.calibrationBins.
    query("t43_calibration")((s, dir) => {
      val scored = par(tbl(s, dir, "documents")).select(
        col("doc_id"),
        graft.functions.Text.hashedLinearScoreNative(col("text")).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("label"))
      Profile.calibrationBins(scored, "score", "label", bins = 10)
    }) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
        |  FROM documents
        |), w AS (
        |  SELECT doc_id,
        |    CAST(sum((('0x' || substr(md5('qw|' || token), 1, 15))::BIGINT % 2001) - 1000)
        |      AS BIGINT) AS score
        |  FROM tok GROUP BY doc_id
        |), sc AS (
        |  SELECT d.doc_id, coalesce(w.score, 0) AS s,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS lb
        |  FROM documents d LEFT JOIN w USING (doc_id)
        |), mm AS (SELECT min(s) AS mn, max(s) AS mx FROM sc
        |), pr AS (
        |  SELECT lb, CASE WHEN mx = mn THEN 500000
        |    ELSE CAST((CAST(s AS HUGEINT) - mn) * 1000000 // (CAST(mx AS HUGEINT) - mn) AS BIGINT)
        |    END AS pred
        |  FROM sc, mm
        |), bn AS (
        |  SELECT least(CAST(pred * 10 // 1000000 AS INT), 9) + 1 AS bin, lb, pred FROM pr
        |), g AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(lb) AS BIGINT) AS n_pos,
        |    CAST(CAST(sum(pred) AS HUGEINT) // count(*) AS BIGINT) AS mean_pred_ppm,
        |    CAST(CAST(sum(lb) AS HUGEINT) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
        |  FROM bn GROUP BY 1
        |), gg AS (
        |  SELECT bin, n, n_pos, mean_pred_ppm, pos_rate_ppm,
        |    pos_rate_ppm - mean_pred_ppm AS gap_ppm
        |  FROM g
        |), e AS (
        |  SELECT CAST(sum(CAST(n AS HUGEINT) * abs(gap_ppm)) // sum(CAST(n AS HUGEINT)) AS BIGINT)
        |    AS ece_ppm
        |  FROM gg
        |)
        |SELECT gg.bin, gg.n, gg.n_pos, gg.mean_pred_ppm, gg.pos_rate_ppm, gg.gap_ppm, e.ece_ppm
        |FROM gg, e""".stripMargin
    },
    // FUSED gate profile (round 13 — the whole curation gate's metric
    // surface from ONE GateMetrics scan instead of ~16 regex and
    // tokenization passes: quality score, language id, token count,
    // all seven Gopher rule flags, the five script counts, and the
    // mixed-script flag, per document; the rehearsal's gate stage
    // measured 8.9x faster at 100x docs on it, output pinned
    // bit-identical to the composable forms in GateFusedSpec). The
    // oracle replays every formula (the t2/t3/t8/t46 replays joined
    // into one pass over documents).
    query("t47_gate_profile")((s, dir) => {
      import graft.functions.Text
      val g = Text.withGateProfile(
        par(tbl(s, dir, "documents")).select(col("doc_id"), col("text")),
        col("text"))
      g.select(col("doc_id"), col("quality"), col("lang_pred"),
        col("n_tokens"), col("n_latin"), col("n_cyrillic"), col("n_greek"),
        col("n_han"), col("n_arabic"),
        col("ok_word_count").cast("int").as("ok_word_count"),
        col("ok_word_len").cast("int").as("ok_word_len"),
        col("ok_symbols").cast("int").as("ok_symbols"),
        col("ok_bullets").cast("int").as("ok_bullets"),
        col("ok_ellipsis").cast("int").as("ok_ellipsis"),
        col("ok_alpha_words").cast("int").as("ok_alpha_words"),
        col("ok_required_words").cast("int").as("ok_required_words"),
        col("passes_quality").cast("int").as("passes_quality"),
        col("script_mixed").cast("int").as("script_mixed"))
    }) {
      raw"""WITH t AS (
           |  SELECT doc_id, text,
           |    regexp_extract_all(text, '[a-zA-Z0-9'']+') AS toks,
           |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks,
           |    string_split(text, chr(10)) AS ls
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, len(toks) AS n_tok,
           |    $qualityRatiosSql,
           |    $stopCountsSql,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST((length(text) - length(replace(text, '#', ''))) +
           |                    (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS sym_ratio,
           |    CASE WHEN len(ls) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(ls, x -> starts_with(ltrim(x), '- ') OR starts_with(ltrim(x), '* '))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS bullet_frac,
           |    CASE WHEN len(ls) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(ls, x -> ends_with(rtrim(x), '...'))) AS DOUBLE) / CAST(len(ls) AS DOUBLE) END AS ell_frac,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS alpha_frac,
           |    len(list_intersect(list_distinct(ltoks),
           |        ['the','be','to','of','and','that','have','with'])) AS req_hits,
           |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_latin,
           |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
           |    CAST(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
           |    CAST(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_han,
           |    CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic
           |  FROM t
           |)
           |SELECT doc_id,
           |  round(least(1.0, CAST(n_tok AS DOUBLE) / 200.0) * 0.25 + alpha_ratio * 0.25 +
           |        (1.0 - stop_ratio) * 0.2 + least(1.0, awl / 8.0) * 0.3, 6) AS quality,
           |  CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           |       WHEN s_fr >= s_es THEN 'fr'
           |       ELSE 'es' END AS lang_pred,
           |  CAST(n_tok AS BIGINT) AS n_tokens,
           |  n_latin, n_cyrillic, n_greek, n_han, n_arabic,
           |  CASE WHEN n_tok >= 50 AND n_tok <= 100000 THEN 1 ELSE 0 END AS ok_word_count,
           |  CASE WHEN awl >= 3.0 AND awl <= 10.0 THEN 1 ELSE 0 END AS ok_word_len,
           |  CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END AS ok_symbols,
           |  CASE WHEN bullet_frac <= 0.9 THEN 1 ELSE 0 END AS ok_bullets,
           |  CASE WHEN ell_frac <= 0.3 THEN 1 ELSE 0 END AS ok_ellipsis,
           |  CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS ok_alpha_words,
           |  CASE WHEN req_hits >= 2 THEN 1 ELSE 0 END AS ok_required_words,
           |  CASE WHEN n_tok >= 50 AND n_tok <= 100000 AND awl >= 3.0 AND awl <= 10.0
           |            AND sym_ratio <= 0.1 AND bullet_frac <= 0.9 AND ell_frac <= 0.3
           |            AND alpha_frac >= 0.8 AND req_hits >= 2 THEN 1 ELSE 0 END AS passes_quality,
           |  CASE WHEN
           |   (CASE WHEN n_latin > 0 AND n_latin * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
           |    CASE WHEN n_cyrillic > 0 AND n_cyrillic * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
           |    CASE WHEN n_greek > 0 AND n_greek * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
           |    CASE WHEN n_han > 0 AND n_han * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
           |    CASE WHEN n_arabic > 0 AND n_arabic * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END) >= 2
           |   THEN 1 ELSE 0 END AS script_mixed
           |FROM m""".stripMargin
    },
    // Per-document SCRIPT-MIX profile \u2014 the script-confusion spam
    // screen (Cyrillic lookalikes inside Latin words, CJK stuffing in
    // English pages) that dominant-language ID structurally misses:
    // code-point counts per script class over explicit BMP hex RANGES
    // (never \p{script=...} \u2014 property tables shift with the engine's
    // Unicode version; a hex range is engine-eternal), plus the exact
    // integer mixed flag (>= 2 classes each holding >= 10% of scripted
    // code points). Fixture: deterministic per-doc_id script segments
    // appended to the ASCII corpus \u2014 Spark injects from driver-built
    // code-point literal arrays (Spark's chr() is ASCII-mod-256, NOT a
    // code-point function), DuckDB from its real chr(); both land on
    // identical strings. All counts scan-stage regexp_count.
    query("t46_script_mix")((s, dir) => {
      import graft.functions.Text
      val cyr = typedLit((0 until 32).map(i => new String(Character.toChars(0x430 + i))))
      val grk = typedLit((0 until 24).map(i => new String(Character.toChars(0x3B1 + i))))
      val han = typedLit((0 until 100).map(i => new String(Character.toChars(0x4E00 + i))))
      val ara = typedLit((0 until 10).map(i => new String(Character.toChars(0x627 + i))))
      val injected = par(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("text"))
        .withColumn("_cyr", element_at(cyr, (col("doc_id") % 32 + 1).cast("int")))
        .withColumn("_grk", element_at(grk, (col("doc_id") % 24 + 1).cast("int")))
        .withColumn("_han", element_at(han, (col("doc_id") % 100 + 1).cast("int")))
        .withColumn("_ara", element_at(ara, (col("doc_id") % 10 + 1).cast("int")))
        .withColumn("_t", concat(col("text"),
          expr("CASE WHEN doc_id % 3 = 1 THEN ' ' || repeat(_cyr, CAST(3 + doc_id % 5 AS INT)) ELSE '' END"),
          expr("CASE WHEN doc_id % 5 = 2 THEN ' ' || repeat(_grk, CAST(2 + doc_id % 4 AS INT)) ELSE '' END"),
          expr("CASE WHEN doc_id % 11 = 3 THEN ' ' || repeat(_han, CAST(1 + doc_id % 3 AS INT)) ELSE '' END"),
          expr("CASE WHEN doc_id % 13 = 5 THEN ' ' || repeat(_ara, CAST(2 + doc_id % 3 AS INT)) ELSE '' END")))
      injected.select(col("doc_id") +: Text.scriptProfileCols(col("_t")): _*)
        .withColumn("n_scripted", Text.scriptCountCols.reduce(_ + _))
        .withColumn("script_mixed",
          Text.scriptMixed(Text.scriptCountCols, col("n_scripted")))
    }) {
      // The same per-doc_id script injection via DuckDB's real
      // chr() (Spark built the identical strings from code-point
      // literal arrays), counts via regexp_extract_all over the SAME
      // hex ranges in RE2 spelling, the same integer mixed rule.
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 1 THEN ' ' || repeat(chr(CAST(1072 + doc_id % 32 AS INT)), CAST(3 + doc_id % 5 AS INT)) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 2 THEN ' ' || repeat(chr(CAST(945 + doc_id % 24 AS INT)), CAST(2 + doc_id % 4 AS INT)) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 3 THEN ' ' || repeat(chr(CAST(19968 + doc_id % 100 AS INT)), CAST(1 + doc_id % 3 AS INT)) ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 5 THEN ' ' || repeat(chr(CAST(1575 + doc_id % 10 AS INT)), CAST(2 + doc_id % 3 AS INT)) ELSE '' END AS t
        |  FROM documents
        |), cnt AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]')) AS BIGINT) AS n_greek,
        |    CAST(len(regexp_extract_all(t, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_han,
        |    CAST(len(regexp_extract_all(t, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic
        |  FROM inj
        |)
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
        |  n_latin + n_cyrillic + n_greek + n_han + n_arabic AS n_scripted,
        |  (CASE WHEN n_latin > 0 AND n_latin * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
        |   CASE WHEN n_cyrillic > 0 AND n_cyrillic * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
        |   CASE WHEN n_greek > 0 AND n_greek * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
        |   CASE WHEN n_han > 0 AND n_han * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END +
        |   CASE WHEN n_arabic > 0 AND n_arabic * 10 >= n_latin + n_cyrillic + n_greek + n_han + n_arabic THEN 1 ELSE 0 END) >= 2 AS script_mixed
        |FROM cnt""".stripMargin
    },
    // Accent-stripped search keys -- the language-agnostic blocking/
    // lookup normalization ("Zurich"=="Z\u00fcrich"): NFD + drop
    // combining marks as a native codegen'd expression; the oracle is
    // DuckDB's own strip_accents (utf8proc), parity incl. the
    // NON-decomposing repertoire (\u00f8 stays). See
    // functions.StripAccents.
    query("t45_strip_accents")((s, dir) => {
      val words = typedLit(Seq("Z\u00fcrich", "caf\u00e9",
        "st\u0155\u00e4nge", "\u00f8re", "na\u00efve", "S\u00e3o"))
      val raw = concat(element_at(words, (col("doc_id") % 6 + 1).cast("int")),
        lit(" #"), col("doc_id").cast("string"))
      par(tbl(s, dir, "documents")).select(col("doc_id"), raw.as("_raw"))
        .withColumn("key", graft.functions.StripAccents(col("_raw")))
        .select(col("doc_id"), col("key"),
          (col("_raw") =!= col("key")).as("changed"))
    }) {
      """WITH w AS (
        |  SELECT doc_id, (['Z' || chr(252) || 'rich', 'caf' || chr(233),
        |    'st' || chr(341) || chr(228) || 'nge', chr(248) || 're',
        |    'na' || chr(239) || 've', 'S' || chr(227) || 'o'])[CAST(doc_id % 6 AS INT) + 1]
        |    || ' #' || CAST(doc_id AS VARCHAR) AS raw
        |  FROM documents
        |)
        |SELECT doc_id, strip_accents(raw) AS key,
        |  raw != strip_accents(raw) AS changed
        |FROM w""".stripMargin
    },
    // Unicode NFC canonical normalization — the ingest step that makes
    // byte-keyed operators (content hash, shingles, PII regexes) see
    // precomposed and decomposed spellings as the same text. The native
    // nfc_normalize expression (JDK Normalizer, codegen'd scan-stage
    // projection) against DuckDB's real nfc_normalize — the oracle is
    // the other engine's own implementation of the Unicode standard,
    // not a re-implementation. Fixture mixes decomposed (combining
    // acute/diaeresis/ring), precomposed, and ASCII tails per doc_id
    // residue; md5 of the normalized text certifies byte equality.
    query("t44_nfc_normalize")((s, dir) => {
      // residue 0: DECOMPOSED (e + U+0301, o + U+0308) -- must change;
      // residue 1: the same text PRECOMPOSED (U+00E9, U+00F6) --
      // already NFC, must NOT change; residue 2: A + combining ring
      // U+030A -> the precomposed angstrom A
      val raw = when(col("doc_id") % 3 === 0,
          concat(lit("Cafe\u0301 no\u0308el #"), col("doc_id").cast("string")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("Caf\u00e9 n\u00f6el #"), col("doc_id").cast("string")))
        .otherwise(concat(lit("A\u030a ring #"), col("doc_id").cast("string")))
      par(tbl(s, dir, "documents")).select(col("doc_id"), raw.as("_raw"))
        .withColumn("_nfc", graft.functions.NfcNormalize(col("_raw")))
        .select(col("doc_id"),
          length(col("_raw")).cast("long").as("len_raw"),
          length(col("_nfc")).cast("long").as("len_nfc"),
          (col("_raw") =!= col("_nfc")).as("changed"),
          md5(col("_nfc")).as("nfc_md5"))
    }) {
      """WITH r AS (
        |  SELECT doc_id, CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 'Cafe' || chr(769) || ' no' || chr(776) || 'el #' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN 'Caf' || chr(233) || ' n' || chr(246) || 'el #' || CAST(doc_id AS VARCHAR)
        |    ELSE 'A' || chr(778) || ' ring #' || CAST(doc_id AS VARCHAR) END AS raw
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM r
        |)
        |SELECT doc_id, CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc) AS BIGINT) AS len_nfc,
        |  raw != nfc AS changed, md5(nfc) AS nfc_md5
        |FROM n""".stripMargin
    },
    // Per-document duplicated-n-gram coverage (Gopher-style repetition
    // screen lifted across the corpus): share of each doc's 5-gram
    // shingles appearing in >= 2 documents, exact integer ppm. Runs on
    // the augmented corpus so the constructed truncated copies produce
    // real duplicated mass. See Dedup.dupShingleCoverage.
    query("t35_dup_ngrams")((s, dir) => {
      Dedup.dupShingleCoverage(augmentedDocs(s, dir), n = 5, minDf = 2)
    }) {
      s"""WITH ${augShinglesSql(5)}, ex AS (
         |  SELECT id, unnest(sh) AS s FROM shs
         |), dfs AS (
         |  SELECT s, count(*) AS df FROM ex GROUP BY 1
         |)
         |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(sum(CASE WHEN df >= 2 THEN 1 END), 0) AS BIGINT) AS n_dup,
         |  CAST(CAST(coalesce(sum(CASE WHEN df >= 2 THEN 1 END), 0) AS HUGEINT)
         |    * 1000000 // count(*) AS BIGINT) AS dup_frac_ppm
         |FROM ex JOIN dfs USING (s) GROUP BY 1""".stripMargin
    },
    // Exact tie-aware AUC of the t25 quality score against an
    // is-English label — the threshold-free eval every filter
    // classifier ships with. Mann–Whitney rank-sum with average ranks
    // via (min+max)/2 over globalRank's contiguous tie groups; pure
    // integer micro arithmetic. See Profile.aucExact.
    query("t33_auc")((s, dir) => {
      val scored = par(tbl(s, dir, "documents")).select(
        col("doc_id"),
        graft.functions.Text.hashedLinearScoreNative(col("text")).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("label"))
      Profile.aucExact(scored, "score", "label", "doc_id")
    }) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
        |  FROM documents
        |), w AS (
        |  SELECT doc_id,
        |    CAST(sum((('0x' || substr(md5('qw|' || token), 1, 15))::BIGINT % 2001) - 1000)
        |      AS BIGINT) AS score
        |  FROM tok GROUP BY doc_id
        |), sc AS (
        |  SELECT d.doc_id, coalesce(w.score, 0) AS s,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS lb
        |  FROM documents d LEFT JOIN w USING (doc_id)
        |), r AS (
        |  SELECT s, lb, row_number() OVER (ORDER BY s, doc_id) AS rk FROM sc
        |), g AS (
        |  SELECT s, CAST(min(rk) AS HUGEINT) AS mn, CAST(max(rk) AS HUGEINT) AS mx,
        |    CAST(sum(lb) AS HUGEINT) AS p, CAST(count(*) AS HUGEINT) AS m
        |  FROM r GROUP BY 1
        |), t AS (
        |  SELECT sum((mn + mx) * p) AS s2, sum(p) AS np, sum(m) AS n FROM g
        |)
        |SELECT CAST(np AS BIGINT) AS n_pos, CAST(n - np AS BIGINT) AS n_neg,
        |  CASE WHEN np = 0 OR n - np = 0 THEN NULL
        |    ELSE CAST(((s2 - np * (np + 1)) * 1000000) // (2 * np * (n - np)) AS BIGINT)
        |  END AS auc_micro
        |FROM t""".stripMargin
    },
    query("t25_quality_model")((s, dir) => {
      par(tbl(s, dir, "documents"))
        .select(col("doc_id"),
          graft.functions.Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          graft.functions.Text.hashedLinearScoreNative(col("text")).as("score"))
        .withColumn("kept", when(col("score") >= 0, 1).otherwise(0))
    }) {
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS token
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum((('0x' || substr(md5('qw|' || token), 1, 15))::BIGINT % 2001) - 1000)
        |      AS BIGINT) AS score
        |  FROM tok GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(coalesce(w.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(w.score, 0) AS BIGINT) AS score,
        |  CASE WHEN coalesce(w.score, 0) >= 0 THEN 1 ELSE 0 END AS kept
        |FROM documents d LEFT JOIN w USING (doc_id)""".stripMargin
    },
    // Behavioral cohort selection (the UBA "users who did X ≥ n times in
    // window A — did they do Y in window B" question): week-1 engagement
    // cohorts (≥3 views vs fewer) × week-2 purchase conversion, rate in
    // exact integer ppm. One user-key shuffle builds the cohort table;
    // the converter id set joins on the same key.
    query("u25_behavior_cohort")((s, dir) => {
      val ev = tbl(s, dir, "events")
      val d0 = lit(winStart).cast("timestamp")
      val d7 = date_add(lit(winStart).cast("date"), 7).cast("timestamp")
      val d14 = date_add(lit(winStart).cast("date"), 14).cast("timestamp")
      val base = ev.where(col("ts") >= d0 && col("ts") < d7)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("_nv"))
      val conv = ev.where(col("ts") >= d7 && col("ts") < d14 &&
          col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("_c", lit(1L))
      base.join(conv, Seq("user_id"), "left")
        .groupBy((col("_nv") >= 3).as("_engaged"))
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("_c"), lit(0L))).as("n_conv"))
        .select(
          when(col("_engaged"), "engaged").otherwise("casual").as("cohort"),
          col("n_users"), col("n_conv"),
          expr("(n_conv * 1000000) div n_users").as("cvr_ppm"))
    }) {
      s"""WITH base AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS nv
         |  FROM events
         |  WHERE ts >= TIMESTAMP '$winStart 00:00:00'
         |    AND ts < TIMESTAMP '$winStart 00:00:00' + INTERVAL 7 DAY
         |  GROUP BY 1
         |), conv AS (
         |  SELECT DISTINCT user_id FROM events
         |  WHERE ts >= TIMESTAMP '$winStart 00:00:00' + INTERVAL 7 DAY
         |    AND ts < TIMESTAMP '$winStart 00:00:00' + INTERVAL 14 DAY
         |    AND event_type = 'purchase'
         |)
         |SELECT CASE WHEN b.nv >= 3 THEN 'engaged' ELSE 'casual' END AS cohort,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
         |  CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS cvr_ppm
         |FROM base b LEFT JOIN conv c ON b.user_id = c.user_id
         |GROUP BY 1""".stripMargin
    },
    // Forward as-of: next purchase after each click + time-to-event gap
    // (the label-construction join). Same one-shuffle window shape as
    // u3's backward as-of.
    query("u24_next_touch")((s, dir) =>
      AsOf.firstAfter(tbl(s, dir, "events"), "click", "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("_next_us").as("next_purchase_us"),
          (col("_next_us") - unix_micros(col("ts"))).as("gap_us"))) {
      """WITH f AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |)
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  next_us AS next_purchase_us, next_us - epoch_us(ts) AS gap_us
        |FROM f WHERE event_type = 'click'""".stripMargin
    },
    // CDC changelog → final state: latest record per user, users whose
    // latest record is an 'error' tombstone dropped. One struct-max
    // shuffle; see Incremental.applyChangelog.
    query("q32_cdc_apply")((s, dir) =>
      Incremental.applyChangelog(
        tbl(s, dir, "events")
          .withColumn("_ts_us", unix_micros(col("ts")))
          .withColumn("_is_del", col("event_type") === "error"),
        keys = Seq("user_id"), orderCols = Seq("_ts_us", "event_id"),
        deleteCol = "_is_del", payload = Seq("event_type", "value"))
        .withColumnRenamed("_ts_us", "ts_us")) {
      """WITH m1 AS (
        |  SELECT user_id, max(ts) AS mts FROM events GROUP BY 1
        |), m2 AS (
        |  SELECT e.user_id, CAST(max(e.event_id) AS BIGINT) AS mid
        |  FROM events e JOIN m1 ON e.user_id = m1.user_id AND e.ts = m1.mts
        |  GROUP BY 1
        |)
        |SELECT e.user_id, epoch_us(e.ts) AS ts_us, e.event_id,
        |  e.event_type, e.value
        |FROM events e JOIN m2 ON e.user_id = m2.user_id AND e.event_id = m2.mid
        |WHERE e.event_type <> 'error'""".stripMargin
    },
    // Collocation mining: top-50 bigram associations by PMI (micro-nat
    // integer quantization; min pair count 5). See Vocab.pmiTopPairs.
    query("t26_pmi_pairs")((s, dir) =>
      Vocab.pmiTopPairs(par(tbl(s, dir, "documents")), k = 50, minCount = 5)) {
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS t
        |  FROM documents
        |), bg AS (
        |  SELECT t[CAST(j AS INT) + 1] AS prev, t[CAST(j AS INT) + 2] AS cur
        |  FROM toks, (SELECT CAST(range AS BIGINT) AS j FROM range(4000)) r
        |  WHERE j < len(t) - 1
        |), c2 AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
        |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5
        |), c1 AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT)
        |          FROM (SELECT unnest(t) FROM toks)) AS n_tok,
        |         (SELECT CAST(count(*) AS BIGINT) FROM bg) AS n_bg
        |)
        |SELECT c2.prev, c2.cur, c2.c2 AS pair_count,
        |  CAST(round(ln(CAST(c2.c2 AS DOUBLE) * CAST(tot.n_tok AS DOUBLE)
        |      * CAST(tot.n_tok AS DOUBLE) /
        |      (CAST(tot.n_bg AS DOUBLE) * CAST(a.c1 AS DOUBLE)
        |       * CAST(b.c1 AS DOUBLE))) * 1000000) AS BIGINT) AS pmi_micro
        |FROM c2 JOIN c1 a ON c2.prev = a.w JOIN c1 b ON c2.cur = b.w
        |CROSS JOIN tot
        |ORDER BY pmi_micro DESC, c2.prev, c2.cur LIMIT 50""".stripMargin
    },
    // Small-files compaction plan: per-source assignment of documents to
    // ~2000-byte output files over the deterministic hash order — the
    // same two-phase bucketed cumsum as p7 with a floor-div file index
    // instead of a budget filter.
    query("p13_compaction_plan")((s, dir) =>
      Split.compactionPlan(
        par(tbl(s, dir, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "n_chars", "source", targetBytes = 2000L)) {
      """WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    ('0x' || substr(md5('cp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM k
        |)
        |SELECT doc_id, source, n_chars, CAST(bef // 2000 AS BIGINT) AS file_seq
        |FROM c""".stripMargin
    },
    // Right-censored KM life table — the censored complement of
    // u17_survival: non-converters leave the risk set at their
    // observation horizon (global max event day − birth day) instead of
    // surviving forever, so per-day hazards are unbiased. All hashed
    // columns are integers (hazard in exact floor-div ppm); see the
    // Survival scaladoc for the 100 TB shape (one user-key shuffle,
    // calendar-bounded axis windows).
    query("u18_km_lifetable")((s, dir) =>
      Survival.lifeTable(tbl(s, dir, "events"), "signup", "purchase")) {
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), mx AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
        |cv AS (
        |  SELECT s.user_id,
        |    date_diff('day', CAST(s.t0 AS DATE), min(CAST(e.ts AS DATE))) AS dc
        |  FROM events e JOIN s0 s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s.t0
        |  GROUP BY s.user_id, s.t0
        |), per AS (
        |  SELECT s.user_id, cv.dc,
        |    date_diff('day', CAST(s.t0 AS DATE), mx.maxd) AS h
        |  FROM s0 s LEFT JOIN cv USING (user_id) CROSS JOIN mx
        |), cByDay AS (
        |  SELECT dc AS t, count(*) AS nc_t FROM per WHERE dc IS NOT NULL GROUP BY 1
        |), xByDay AS (
        |  SELECT h AS t, count(*) AS nx_t FROM per WHERE dc IS NULL GROUP BY 1
        |), tot AS (
        |  SELECT count(*) FILTER (WHERE dc IS NOT NULL) AS nconv,
        |    count(*) FILTER (WHERE dc IS NULL) AS nnon,
        |    max(h) AS maxh
        |  FROM per
        |), axis AS (
        |  SELECT CAST(unnest(range(0, maxh + 1)) AS BIGINT) AS t, nconv, nnon
        |  FROM tot
        |), j AS (
        |  SELECT a.t, a.nconv, a.nnon,
        |    CAST(coalesce(c.nc_t, 0) AS BIGINT) AS n_conv,
        |    CAST(coalesce(x.nx_t, 0) AS BIGINT) AS n_censored
        |  FROM axis a LEFT JOIN cByDay c ON c.t = a.t LEFT JOIN xByDay x ON x.t = a.t
        |), r AS (
        |  SELECT t, n_conv, n_censored,
        |    CAST(nconv - coalesce(sum(n_conv) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + nnon - coalesce(sum(n_censored) OVER (ORDER BY t
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
        |  FROM j
        |)
        |SELECT t, n_at_risk, n_conv, n_censored,
        |  CAST(CASE WHEN n_at_risk > 0 THEN (n_conv * 1000000) // n_at_risk
        |            ELSE 0 END AS BIGINT) AS hazard_ppm
        |FROM r""".stripMargin
    },
    // Power-law fit of the day-0 cohort's retention curve: ln(r_ppm)
    // vs ln(day) over days 1..28 — the log-log slope every retention
    // plot eyeballs, made engine-exact by the zipfFit micro-nat +
    // DECIMAL normal-equation discipline. See Survival.retentionDecayFit.
    query("u43_retention_decay")((s, dir) =>
      Survival.retentionDecayFit(tbl(s, dir, "events"), winStart,
        horizon = 28)) {
      s"""WITH coh AS (
         |  SELECT DISTINCT user_id FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'
         |), act AS (
         |  SELECT DISTINCT user_id, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS k
         |  FROM events
         |), nc AS (SELECT CAST(count(*) AS HUGEINT) AS n0 FROM coh
         |), ret AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS nret
         |  FROM act JOIN coh USING (user_id)
         |  WHERE k >= 1 AND k <= 28 GROUP BY 1
         |), rp AS (
         |  SELECT k, CAST(CAST(nret AS HUGEINT) * 1000000 // n0 AS BIGINT) AS rppm
         |  FROM ret, nc
         |), xy AS (
         |  SELECT CAST(round(ln(CAST(k AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(rppm AS DOUBLE)) * 1000000) AS BIGINT) AS y
         |  FROM rp WHERE rppm > 0
         |), agg AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
         |    CAST(sum(x * y) AS HUGEINT) AS sxy
         |  FROM xy
         |)
         |${lineFitSql("n_days")}""".stripMargin
    },
    // Curriculum staging for training runs: documents bucketed into four
    // length-quartile stages (short→long) plus a deterministic within-
    // stage shuffle key. Cutoffs are one tiny exact-percentile row
    // broadcast back (the Rfm pattern — no ntile, no global sort); the
    // md5-ppm key gives a stable seedless traversal order any executor
    // can recompute locally.
    query("p11_curriculum")((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val cuts = d.agg(
        expr("percentile(CAST(n_chars AS DOUBLE), array(0.25, 0.5, 0.75))").as("c"))
      val nc = col("n_chars").cast("double")
      d.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_chars"),
          (lit(1) + when(nc > col("c").getItem(0), 1).otherwise(0)
            + when(nc > col("c").getItem(1), 1).otherwise(0)
            + when(nc > col("c").getItem(2), 1).otherwise(0)).cast("long").as("stage"),
          pmod(Dedup.hash60(concat(lit("cur|"), col("doc_id").cast("string"))),
            lit(1000000L)).as("shuffle_ppm"))
    }) {
      """WITH cuts AS (
        |  SELECT quantile_cont(CAST(n_chars AS DOUBLE), [0.25, 0.5, 0.75]) AS c
        |  FROM documents
        |)
        |SELECT doc_id, n_chars,
        |  CAST(1 + CASE WHEN CAST(n_chars AS DOUBLE) > c[1] THEN 1 ELSE 0 END
        |         + CASE WHEN CAST(n_chars AS DOUBLE) > c[2] THEN 1 ELSE 0 END
        |         + CASE WHEN CAST(n_chars AS DOUBLE) > c[3] THEN 1 ELSE 0 END
        |       AS BIGINT) AS stage,
        |  ('0x' || substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS shuffle_ppm
        |FROM documents CROSS JOIN cuts""".stripMargin
    },
    // Grouped bivariate statistics with exact fixed-point moments:
    // Pearson correlation and OLS slope of extended price on quantity
    // per return flag. Inputs are quantized to fixed-point longs
    // (milli-qty, centi-price); the second-moment sums accumulate as
    // DECIMAL(38,0) (exact to 1e38 — no float summation-order drift,
    // no int64 wrap at any realistic scale) with map-side partials, and
    // the closed-form double arithmetic happens once per group at the
    // end — a corr()/regr_slope() whose result is bit-reproducible
    // across engines and partitionings.
    query("q29_stats_profile")((s, dir) => {
      val l = tbl(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity") * 1000).cast("long").as("qx"),
        round(col("l_extendedprice") * 100).cast("long").as("qy"))
      val qxd = col("qx").cast("decimal(19,0)")
      val qyd = col("qy").cast("decimal(19,0)")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val sxy = col("sxy").cast("double")
      val sx2 = col("sx2").cast("double"); val sy2 = col("sy2").cast("double")
      l.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
          sum(qxd * qyd).as("sxy"),
          sum(qxd * qxd).as("sx2"),
          sum(qyd * qyd).as("sy2"))
        .select(col("l_returnflag"), col("n"),
          round((col("n") * sxy - sx * sy) /
            (sqrt(col("n") * sx2 - sx * sx) * sqrt(col("n") * sy2 - sy * sy)),
            6).as("corr_xy"),
          round((col("n") * sxy - sx * sy) / (col("n") * sx2 - sx * sx), 6)
            .as("slope"),
          round(sx / lit(1000.0) / col("n"), 6).as("mean_x"))
    }) {
      """WITH q AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 1000) AS BIGINT) AS qx,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS qy
        |  FROM lineitem
        |), m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(qx) AS sx, sum(qy) AS sy,
        |    sum(CAST(qx AS DECIMAL(19,0)) * CAST(qy AS DECIMAL(19,0))) AS sxy,
        |    sum(CAST(qx AS DECIMAL(19,0)) * CAST(qx AS DECIMAL(19,0))) AS sx2,
        |    sum(CAST(qy AS DECIMAL(19,0)) * CAST(qy AS DECIMAL(19,0))) AS sy2
        |  FROM q GROUP BY 1
        |)
        |SELECT l_returnflag, n,
        |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        |    6) AS corr_xy,
        |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  round(CAST(sx AS DOUBLE) / 1000.0 / n, 6) AS mean_x
        |FROM m""".stripMargin
    },
    // Per-dimension corpus moments over the embedding column — the
    // feature-normalization/whitening statistics pass. posexplode each
    // vector once (rows × 64), aggregate exact integer milli-unit sums
    // per dimension with map-side partials, then mean and population
    // std in closed form; nothing is collected and nothing shuffles
    // except 64-group partials.
    // Per-dimension embedding stats in the library's integer-micro
    // discipline: the sums are exact (BIGINT / DECIMAL), the mean is a
    // sign-split truncating division (micro units — round-10 fix: the
    // old round(double/1000/n, 6) form landed small-denominator
    // rationals on decimal HALF-boundaries where the engines' double
    // tie-breaks diverge; the sf0.1 cross-sweep caught dim 21 at
    // -0.0015855), and the std pays exactly ONE IEEE sqrt on the exact
    // integer variance numerator (the u26 burstiness rule — sqrt
    // outputs are irrational off perfect squares, so its rounding
    // never sits on a boundary).
    query("s7_dim_stats")((s, dir) => {
      val e = par(tbl(s, dir, "embeddings"))
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"),
          round(col("v").cast("double") * 1000).cast("long").as("q"))
      val qd = col("q").cast("decimal(19,0)")
      e.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(qd * qd).as("sq2"))
        .select(col("dim"), col("n"),
          expr("""CAST(CASE WHEN sq >= 0
                 |  THEN CAST(sq AS DECIMAL(38,0)) * 1000 div n
                 |  ELSE -(CAST(-sq AS DECIMAL(38,0)) * 1000 div n)
                 |END AS BIGINT)""".stripMargin).as("mean_micro"),
          expr("""CAST(round(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sq2
                 |  - CAST(sq AS DECIMAL(38,0)) * CAST(sq AS DECIMAL(38,0))
                 |  AS DOUBLE)) * 1000 / n) AS BIGINT)""".stripMargin)
            .as("std_micro"))
    }) {
      """WITH q AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings
        |), ex AS (
        |  SELECT d.dim, qv[CAST(d.dim AS INT) + 1] AS q
        |  FROM q, (SELECT CAST(range AS BIGINT) AS dim FROM range(64)) d
        |), m AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n, sum(q) AS sq,
        |    sum(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS sq2
        |  FROM ex GROUP BY 1
        |)
        |SELECT dim, n,
        |  CAST(CASE WHEN sq >= 0
        |    THEN CAST(sq AS HUGEINT) * 1000 // n
        |    ELSE -(CAST(-sq AS HUGEINT) * 1000 // n)
        |  END AS BIGINT) AS mean_micro,
        |  CAST(round(sqrt(CAST(CAST(n AS HUGEINT) * CAST(sq2 AS HUGEINT)
        |    - CAST(sq AS HUGEINT) * CAST(sq AS HUGEINT) AS DOUBLE)) * 1000 / n) AS BIGINT)
        |    AS std_micro
        |FROM m""".stripMargin
    },
    // Sorted-neighborhood near-dup pairs (record-linkage SNM): blocked
    // prefix sort + windowed Levenshtein verify — the edit-distance
    // complement of the shingle detectors. One shuffle on the block key,
    // candidates bounded at window-1 per row; see the operator scaladoc.
    query("d18_sorted_neighborhood")((s, dir) =>
      Dedup.sortedNeighborhoodPairs(augmentedDocs(s, dir))) {
      s"""WITH $augDocsSql, kb AS (
         |  SELECT doc_id AS id,
         |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS k
         |  FROM aug
         |), kbp AS (
         |  SELECT id, k, substr(k, 1, 6) AS blk, substr(k, 1, 40) AS pfx FROM kb
         |), nb AS (
         |  SELECT id, pfx,
         |    list(struct_pack(i := id, p := pfx)) OVER (PARTITION BY blk ORDER BY k, id
         |      ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS nxt
         |  FROM kbp
         |), ex AS (
         |  SELECT nb.id, nb.pfx, u.s.i AS id2, u.s.p AS pfx2
         |  FROM nb, unnest(nb.nxt) AS u(s)
         |)
         |SELECT least(id, id2) AS doc_lo, greatest(id, id2) AS doc_hi,
         |  CAST(levenshtein(pfx, pfx2) AS BIGINT) AS dist
         |FROM ex WHERE levenshtein(pfx, pfx2) <= 12""".stripMargin
    },
    // RFM segment-migration matrix (customer-lifecycle churn): each
    // user's RF segment (r_score·10 + f_score, quartiles within the
    // period) in window half A vs half B, full-outer joined so users
    // present in only one period land in segment 0 — the "who moved
    // from loyal to at-risk" report. Two Rfm passes + one user-key
    // full-outer join; output ≤ 17² rows.
    query("u33_rfm_migration")((s, dir) => {
      val ev = tbl(s, dir, "events")
      val split = date_add(lit(winStart).cast("date"), 15)
      def seg(df: DataFrame) = Rfm.segments(df)
        .select(col("user_id"),
          (col("r_score") * 10 + col("f_score")).cast("long").as("seg"))
      val a = seg(ev.where(to_date(col("ts")) < split))
        .withColumnRenamed("seg", "_sa")
      val b = seg(ev.where(to_date(col("ts")) >= split))
        .withColumnRenamed("seg", "_sb")
      a.join(b, Seq("user_id"), "full_outer")
        .groupBy(coalesce(col("_sa"), lit(0L)).as("seg_from"),
          coalesce(col("_sb"), lit(0L)).as("seg_to"))
        .agg(count(lit(1)).as("n_users"))
    }) {
      def seg(sfx: String, where: String) =
        s"""pu$sfx AS (
           |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS f
           |  FROM events WHERE event_type = 'purchase' AND $where GROUP BY user_id
           |), ao$sfx AS (SELECT max(CAST(ts AS DATE)) AS asof_day FROM events WHERE $where),
           |rfm$sfx AS (
           |  SELECT user_id, date_diff('day', last_day, asof_day) AS r_days, f
           |  FROM pu$sfx CROSS JOIN ao$sfx
           |), cuts$sfx AS (
           |  SELECT quantile_cont(CAST(r_days AS DOUBLE), [0.25, 0.5, 0.75]) AS rc,
           |         quantile_cont(CAST(f AS DOUBLE), [0.25, 0.5, 0.75]) AS fc
           |  FROM rfm$sfx
           |), seg$sfx AS (
           |  SELECT user_id, CAST(
           |    (4 - ((CAST(r_days AS DOUBLE) > rc[1])::INT + (CAST(r_days AS DOUBLE) > rc[2])::INT
           |          + (CAST(r_days AS DOUBLE) > rc[3])::INT)) * 10
           |    + 1 + (CAST(f AS DOUBLE) > fc[1])::INT + (CAST(f AS DOUBLE) > fc[2])::INT
           |          + (CAST(f AS DOUBLE) > fc[3])::INT AS BIGINT) AS seg
           |  FROM rfm$sfx CROSS JOIN cuts$sfx
           |)""".stripMargin
      s"""WITH ${seg("A", "CAST(ts AS DATE) < DATE '2024-01-16'")},
         |${seg("B", "CAST(ts AS DATE) >= DATE '2024-01-16'")}
         |SELECT coalesce(a.seg, 0) AS seg_from, coalesce(b.seg, 0) AS seg_to,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM segA a FULL OUTER JOIN segB b USING (user_id)
         |GROUP BY 1, 2""".stripMargin
    },
    // Corpus-wide inter-arrival percentiles: exact p50/p90/p99 of the
    // per-user floor-second event gaps (the latency-profile complement
    // of u26's per-user moments). Same one-shuffle gap projection; the
    // exact percentile sorts |gaps| values in one final buffer — swap
    // approx_percentile in beyond ~1e7 gaps (the Rfm/Latency switch).
    query("u32_gap_percentiles")((s, dir) => {
      Sessions.gaps(tbl(s, dir, "events")).agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(_g, 0.5)"), 6).as("p50_s"),
        round(expr("percentile(_g, 0.9)"), 6).as("p90_s"),
        round(expr("percentile(_g, 0.99)"), 6).as("p99_s"))
    }) {
      """WITH g AS (
        |  SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
        |  FROM events
        |), gg AS (SELECT gap FROM g WHERE gap IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(CAST(gap AS DOUBLE), 0.5), 6) AS p50_s,
        |  round(quantile_cont(CAST(gap AS DOUBLE), 0.9), 6) AS p90_s,
        |  round(quantile_cont(CAST(gap AS DOUBLE), 0.99), 6) AS p99_s
        |FROM gg""".stripMargin
    },
    // Referential-integrity audit: orphan counts per foreign-key
    // relationship — the pre-flight data-quality gate before any
    // join-heavy pipeline trusts its keys. Dim-sized parents (customer,
    // supplier) anti-join by BROADCAST; the fact-sized parent (orders,
    // not broadcastable at scale) by a co-partitioned shuffled
    // anti-join, hinted shuffle_hash per the band-join convention.
    query("q38_ri_audit")((s, dir) => {
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      val c = tbl(s, dir, "customer")
      val su = tbl(s, dir, "supplier")
      def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String) =
        fact.join(dim.select(col(pk)), fact(fk) === dim(pk), "left_anti")
          .agg(count(lit(1)))
      orphans(o, "o_custkey", broadcast(c), "c_custkey")
        .crossJoin(orphans(l, "l_orderkey",
          o.select(col("o_orderkey")).hint("shuffle_hash"), "o_orderkey"))
        .crossJoin(orphans(l, "l_suppkey", broadcast(su), "s_suppkey"))
        .toDF("orphan_orders", "orphan_lineitem_orders", "orphan_lineitem_suppliers")
    }) {
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS orphan_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_lineitem_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS orphan_lineitem_suppliers""".stripMargin
    },
    // Weekly-seasonality strength per event type: exact integer
    // chi-square against a uniform day-of-week split —
    // χ² = Σ_d (7·o_d − n)² / (7n), micro-quantized; dows with zero
    // events contribute their (0 − n/7)² term via the missing-cell
    // correction (7 − observed_dows)·n². One shuffle to the
    // (type, dow) cells; everything after runs on ≤ 7·|types| rows.
    query("u31_seasonality")((s, dir) => {
      val byDow = tbl(s, dir, "events")
        .groupBy(col("event_type"), dayofweek(col("ts")).as("_dow"))
        .agg(count(lit(1)).as("_o"))
      val tot = byDow.groupBy(col("event_type"))
        .agg(sum(col("_o")).as("_n"), count(lit(1)).as("_ndows"))
      byDow.join(broadcast(tot), Seq("event_type"))
        .withColumn("_t", lit(7) * col("_o") - col("_n"))
        .groupBy(col("event_type"))
        .agg(max(col("_n")).as("n_events"),
          max(col("_ndows")).as("_nd"),
          sum(col("_t").cast("decimal(38,0)") * col("_t").cast("decimal(38,0)"))
            .as("_ss"))
        .select(col("event_type"), col("n_events"),
          expr("""CAST((CAST(_ss AS DECIMAL(38,0)) +
                  CAST(7 - _nd AS DECIMAL(38,0)) * n_events * n_events) * 1000000
                  div (CAST(7 AS DECIMAL(38,0)) * n_events) AS BIGINT)""")
            .as("chi2_micro"))
    }) {
      """WITH c AS (
        |  SELECT event_type, dayofweek(ts) AS dow, CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, CAST(sum(o) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nd
        |  FROM c GROUP BY 1
        |), ss AS (
        |  SELECT c.event_type, t.n, t.nd,
        |    sum(CAST(7 * c.o - t.n AS HUGEINT) * CAST(7 * c.o - t.n AS HUGEINT)) AS s2
        |  FROM c JOIN t USING (event_type) GROUP BY 1, 2, 3
        |)
        |SELECT event_type, n AS n_events,
        |  CAST((s2 + CAST(7 - nd AS HUGEINT) * n * n) * 1000000
        |       // (CAST(7 AS HUGEINT) * n) AS BIGINT) AS chi2_micro
        |FROM ss""".stripMargin
    },
    // Language-ID with confidence margins (CCNet-style "how sure was
    // the classifier" filter signal): predicted language + the
    // winner-vs-runner-up stopword-hit margin in ppm of tokens.
    query("t30_langid_margin")((s, dir) =>
      par(tbl(s, dir, "documents")).select(col("doc_id"),
        Text.langId(col("text")).as("lang_pred"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.langIdMarginPpm(col("text")).as("margin_ppm"))) {
      s"""WITH t AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks,
         |    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, n_tokens,
         |    $stopCountsSql
         |  FROM t
         |), m AS (
         |  SELECT doc_id, n_tokens, s_en, s_de, s_fr, s_es,
         |    list_sort([s_en, s_de, s_fr, s_es], 'DESC') AS srt
         |  FROM sc
         |)
         |SELECT doc_id,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS lang_pred,
         |  n_tokens,
         |  CASE WHEN n_tokens = 0 THEN 0
         |       ELSE CAST(floor(CAST(srt[1] - srt[2] AS DOUBLE) * 1000000.0 / CAST(n_tokens AS DOUBLE)) AS BIGINT)
         |       END AS margin_ppm
         |FROM m""".stripMargin
    },
    // Multi-pass SNM: forward + reversed-key passes unioned (min dist
    // per pair) — catches near-dups whose PREFIX differs via their
    // shared tail. See Dedup.sortedNeighborhoodPairsMultiPass.
    query("d19_snm_multipass")((s, dir) =>
      Dedup.sortedNeighborhoodPairsMultiPass(augmentedDocs(s, dir))) {
      def pass(key: String) =
        s"""SELECT least(id, id2) AS doc_lo, greatest(id, id2) AS doc_hi,
           |  CAST(levenshtein(pfx, pfx2) AS BIGINT) AS dist
           |FROM (
           |  SELECT nb.id, nb.pfx, u.s.i AS id2, u.s.p AS pfx2
           |  FROM (
           |    SELECT id, pfx,
           |      list(struct_pack(i := id, p := pfx)) OVER (PARTITION BY blk ORDER BY k, id
           |        ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS nxt
           |    FROM (
           |      SELECT id, k, substr(k, 1, 6) AS blk, substr(k, 1, 40) AS pfx FROM (
           |        SELECT doc_id AS id, $key AS k FROM aug))
           |  ) nb, unnest(nb.nxt) AS u(s)
           |) WHERE levenshtein(pfx, pfx2) <= 12""".stripMargin
      val norm = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"
      s"""WITH $augDocsSql
         |SELECT doc_lo, doc_hi, CAST(min(dist) AS BIGINT) AS dist FROM (
         |${pass(norm)}
         |UNION ALL
         |${pass(s"reverse($norm)")}
         |) GROUP BY 1, 2""".stripMargin
    },
    // k-NN majority-vote label prediction of the held-out first 20
    // vectors against the labeled rest — the standard embedding-quality
    // probe. Corpus never shuffled; see Similarity.knnClassify.
    query("s13_knn_classify")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.knnClassify(par(e.where(col("vec_id") >= 20)),
        e.where(col("vec_id") < 20), "vec_id", "embedding", "label", k = 5)
    }) {
      s"""WITH eIn AS (SELECT vec_id, embedding FROM embeddings), $quantEmbSql, scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < 20 AND b.vec_id >= 20
         |), ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM scored
         |), top AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= 5),
         |votes AS (
         |  SELECT t.query_id, CAST(e.label AS BIGINT) AS lbl, CAST(count(*) AS BIGINT) AS votes
         |  FROM top t JOIN embeddings e ON e.vec_id = t.neighbor_id GROUP BY 1, 2
         |), pred AS (
         |  SELECT query_id, lbl, votes,
         |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, lbl) AS r
         |  FROM votes
         |)
         |SELECT p.query_id, CAST(q.label AS BIGINT) AS true_label, p.lbl AS pred_label,
         |  p.votes,
         |  CAST(CASE WHEN CAST(q.label AS BIGINT) = p.lbl THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM pred p JOIN embeddings q ON q.vec_id = p.query_id WHERE p.r = 1""".stripMargin
    },
    // Per-user inter-event cadence: mean gap + squared coefficient of
    // variation (burstiness dispersion index) in exact integer moments.
    query("u26_burstiness")((s, dir) =>
      Sessions.interEventStats(tbl(s, dir, "events"))) {
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap
        |  FROM events
        |), gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps, CAST(sum(gap) AS BIGINT) AS sum_gap_s,
        |    sum(CAST(gap AS DECIMAL(20,0)) * CAST(gap AS DECIMAL(20,0))) AS s2
        |  FROM gg GROUP BY 1
        |)
        |SELECT user_id, n_gaps, sum_gap_s, CAST(sum_gap_s // n_gaps AS BIGINT) AS mean_gap_s,
        |  round(CAST(CAST(n_gaps AS DECIMAL(38,0)) * s2 - CAST(sum_gap_s AS DECIMAL(38,0)) * CAST(sum_gap_s AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(CAST(sum_gap_s AS DECIMAL(38,0)) * CAST(sum_gap_s AS DECIMAL(38,0)) AS DOUBLE), 6) AS cv2
        |FROM m WHERE n_gaps >= 2 AND sum_gap_s > 0""".stripMargin
    },
    // Robust per-event-type outlier profile: median/MAD cutoffs (exact
    // percentile, broadcast back), rows > 3 MADs from the median.
    query("u27_mad_outliers")((s, dir) =>
      Anomaly.madOutlierStats(tbl(s, dir, "events"), "event_type", "value")) {
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1
        |), dev AS (
        |  SELECT e.event_type, abs(e.value - med.m) AS d, med.m AS m
        |  FROM events e JOIN med USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(d, 0.5) AS md FROM dev GROUP BY 1
        |)
        |SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n, round(min(dev.m), 6) AS med,
        |  round(min(mad.md), 6) AS mad,
        |  CAST(sum(CASE WHEN dev.d > 3.0 * mad.md THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type) GROUP BY 1""".stripMargin
    },
    // Per-month quantile normalization of order totalprice — the
    // rank-uniformization feature transform, exact integer ppm. The
    // window is partitioned by month so no single reducer sees the whole
    // table (a global-rank variant would use the p7-style bucketed
    // two-phase cumsum instead).
    query("q35_quantile_normalize")((s, dir) => {
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM").as("m"),
          col("o_totalprice"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("m"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      o.withColumn("r", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("m"))))
        .select(col("o_orderkey"), col("m"),
          when(col("n") === 1, 0L)
            // widen BEFORE the multiply: row_number is IntegerType, and
            // int*1000000 wraps once a group holds >= 2149 rows (~sf0.2)
            // while the DuckDB oracle does the same math in BIGINT
            .otherwise(expr("((CAST(r AS BIGINT) - 1) * 1000000) div (n - 1)"))
            .as("pr_ppm"))
    }) {
      """WITH o AS (
        |  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS m, o_totalprice FROM orders
        |), r AS (
        |  SELECT o_orderkey, m,
        |    row_number() OVER (PARTITION BY m ORDER BY o_totalprice, o_orderkey) AS rr,
        |    count(*) OVER (PARTITION BY m) AS n
        |  FROM o
        |)
        |SELECT o_orderkey, m,
        |  CAST(CASE WHEN n = 1 THEN 0 ELSE ((rr - 1) * 1000000) // (n - 1) END AS BIGINT) AS pr_ppm
        |FROM r""".stripMargin
    },
    // Market-basket pair association over (user, day) baskets:
    // support/confidence/lift in exact integer ppm. Co-partitioned
    // self-join on the basket key; see Basket.pairLift.
    query("u28_basket_lift")((s, dir) =>
      Basket.pairLift(tbl(s, dir, "events"))) {
      """WITH items AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type FROM events
        |), nb AS (SELECT CAST(count(DISTINCT (user_id, d)) AS BIGINT) AS n_baskets FROM items),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_item FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS item_a, b.event_type AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items b ON a.user_id = b.user_id AND a.d = b.d AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT item_a, item_b, n_ab,
        |  CAST((n_ab * 1000000) // n_baskets AS BIGINT) AS support_ppm,
        |  CAST((n_ab * 1000000) // ma.n_item AS BIGINT) AS conf_a_to_b_ppm,
        |  CAST((CAST(n_ab AS HUGEINT) * n_baskets * 1000000) // (CAST(ma.n_item AS HUGEINT) * mb.n_item) AS BIGINT) AS lift_ppm
        |FROM pairs JOIN m ma ON pairs.item_a = ma.event_type
        |           JOIN m mb ON pairs.item_b = mb.event_type
        |CROSS JOIN nb""".stripMargin
    },
    // PSI drift of purchase values, week 1 vs week 2 — the standard
    // distribution-shift monitor between dataset versions; per-bin
    // contributions in exact micro-nats. See Snapshot.psiDrift.
    // Exact two-sample KS drift on week-1 vs week-2 purchase cents —
    // the binless complement of u29's PSI (no edges, no smoothing,
    // catches shifts wide bins wash out). Cross-multiplied integer CDF
    // gap, no doubles anywhere. See Snapshot.ksDrift.
    query("u40_ks_drift")((s, dir) => {
      val p = tbl(s, dir, "events").where(col("event_type") === "purchase")
        .select(round(col("value") * 100).cast("long").as("cents"),
          to_date(col("ts")).as("_d"))
      val d0 = lit(winStart).cast("date")
      Snapshot.ksDrift(
        p.where(col("_d") >= d0 && col("_d") < date_add(d0, 7)),
        p.where(col("_d") >= date_add(d0, 7) && col("_d") < date_add(d0, 14)),
        "cents")
    }) {
      """WITH p AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v, CAST(ts AS DATE) AS d
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (SELECT v FROM p WHERE d >= DATE '2024-01-01' AND d < DATE '2024-01-08'
        |), c AS (SELECT v FROM p WHERE d >= DATE '2024-01-08' AND d < DATE '2024-01-15'
        |), a AS (SELECT v, CAST(count(*) AS BIGINT) AS c1 FROM r GROUP BY 1
        |), b AS (SELECT v, CAST(count(*) AS BIGINT) AS c2 FROM c GROUP BY 1
        |), m AS (
        |  SELECT coalesce(a.v, b.v) AS v, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
        |  FROM a FULL OUTER JOIN b ON a.v = b.v
        |), f AS (
        |  SELECT v, sum(c1) OVER (ORDER BY v) AS f1, sum(c2) OVER (ORDER BY v) AS f2
        |  FROM m
        |), t AS (
        |  SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c2) AS HUGEINT) AS n2 FROM m
        |), mx AS (
        |  SELECT max(abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1)) AS dd
        |  FROM f, t
        |)
        |SELECT CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
        |    ELSE CAST((dd * 1000000) // (n1 * n2) AS BIGINT) END AS d_micro
        |FROM mx, t""".stripMargin
    },
    query("u29_psi_drift")((s, dir) => {
      val p = tbl(s, dir, "events").where(col("event_type") === "purchase")
        .select(col("value"), to_date(col("ts")).as("_d"))
      val d0 = lit(winStart).cast("date")
      Snapshot.psiDrift(
        p.where(col("_d") >= d0 && col("_d") < date_add(d0, 7)),
        p.where(col("_d") >= date_add(d0, 7) && col("_d") < date_add(d0, 14)),
        "value")
    }) {
      """WITH base AS (
        |  SELECT value, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'purchase'
        |), w1 AS (SELECT value FROM base WHERE d >= DATE '2024-01-01' AND d < DATE '2024-01-08'),
        |w2 AS (SELECT value FROM base WHERE d >= DATE '2024-01-08' AND d < DATE '2024-01-15'),
        |mm AS (SELECT min(value) AS lo, max(value) AS hi FROM w1),
        |b1 AS (
        |  SELECT CAST(CASE WHEN hi = lo THEN 0
        |    ELSE least(9, greatest(0, floor((value - lo) * 10 / (hi - lo)))) END AS BIGINT) AS bin,
        |    count(*) AS n FROM w1, mm GROUP BY 1
        |), b2 AS (
        |  SELECT CAST(CASE WHEN hi = lo THEN 0
        |    ELSE least(9, greatest(0, floor((value - lo) * 10 / (hi - lo)))) END AS BIGINT) AS bin,
        |    count(*) AS n FROM w2, mm GROUP BY 1
        |), bins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(10)),
        |j AS (
        |  SELECT bins.bin,
        |    CAST(coalesce(b1.n, 0) + 1 AS BIGINT) AS n1, CAST(coalesce(b2.n, 0) + 1 AS BIGINT) AS n2
        |  FROM bins LEFT JOIN b1 USING (bin) LEFT JOIN b2 USING (bin)
        |), t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 FROM j)
        |SELECT bin, n1 - 1 AS n_ref, n2 - 1 AS n_cur,
        |  CAST(round((CAST(n1 AS DOUBLE) / t1 - CAST(n2 AS DOUBLE) / t2) *
        |    ln((CAST(n1 AS DOUBLE) / t1) / (CAST(n2 AS DOUBLE) / t2)) * 1e6) AS BIGINT) AS psi_contrib_micro
        |FROM j CROSS JOIN t""".stripMargin
    },
    // Sketch-algebra audience overlap: per event-type pair, KMV
    // estimates of each side / union / intersection (inclusion-
    // exclusion over merged k-min buffers) next to the exact overlap.
    // k=64 < |users| so the estimator path is live at verify scale.
    query("u30_sketch_overlap")((s, dir) => {
      val ev = tbl(s, dir, "events")
      val est = Kmv.pairOverlap(ev, "event_type", "user_id", k = 64)
      val ut = ev.select(col("event_type").as("_t"), col("user_id")).distinct()
      val exact = ut.join(ut.select(col("_t").as("_t2"), col("user_id")), "user_id")
        .where(col("_t") < col("_t2"))
        .groupBy(col("_t").as("set_a"), col("_t2").as("set_b"))
        .agg(count(lit(1)).as("n_exact_overlap"))
      est.join(exact, Seq("set_a", "set_b"))
    }) {
      """WITH ut AS (SELECT DISTINCT event_type AS t, user_id FROM events),
        |h AS (SELECT DISTINCT t, ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM ut),
        |tt AS (SELECT DISTINCT t FROM ut),
        |prs AS (SELECT a.t AS set_a, b.t AS set_b FROM tt a, tt b WHERE a.t < b.t),
        |sr AS (SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn,
        |       count(*) OVER (PARTITION BY t) AS n FROM h),
        |se AS (SELECT t, CAST(CASE WHEN max(n) < 64 OR max(CASE WHEN rn = 64 THEN h END) <= 0 THEN least(max(n), 64)
        |       ELSE (CAST(63 AS HUGEINT) * 1152921504606846976) // max(CASE WHEN rn = 64 THEN h END)
        |       END AS BIGINT) AS est FROM sr GROUP BY t),
        |uh AS (SELECT p.set_a, p.set_b, h.h FROM prs p JOIN h ON h.t IN (p.set_a, p.set_b) GROUP BY 1, 2, 3),
        |ur AS (SELECT set_a, set_b, h, row_number() OVER (PARTITION BY set_a, set_b ORDER BY h) AS rn,
        |       count(*) OVER (PARTITION BY set_a, set_b) AS n FROM uh),
        |ue AS (SELECT set_a, set_b, CAST(CASE WHEN max(n) < 64 OR max(CASE WHEN rn = 64 THEN h END) <= 0 THEN least(max(n), 64)
        |       ELSE (CAST(63 AS HUGEINT) * 1152921504606846976) // max(CASE WHEN rn = 64 THEN h END)
        |       END AS BIGINT) AS est_union FROM ur GROUP BY 1, 2),
        |ex AS (SELECT a.t AS set_a, b.t AS set_b, CAST(count(*) AS BIGINT) AS n_exact_overlap
        |       FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t < b.t GROUP BY 1, 2)
        |SELECT ue.set_a, ue.set_b, sa.est AS est_a, sb.est AS est_b, ue.est_union,
        |  greatest(CAST(0 AS BIGINT), sa.est + sb.est - ue.est_union) AS est_overlap,
        |  ex.n_exact_overlap
        |FROM ue JOIN se sa ON sa.t = ue.set_a JOIN se sb ON sb.t = ue.set_b
        |JOIN ex USING (set_a, set_b)""".stripMargin
    },
    // KMV distinct-count sketch of order custkeys: the k smallest
    // distinct md5 hashes as mergeable, engine-reproducible cardinality
    // state; estimate vs exact side by side. See Kmv.distinctEstimate.
    query("q37_kmv_distinct")((s, dir) => {
      val o = tbl(s, dir, "orders")
      Kmv.distinctEstimate(o, "o_custkey")
        .crossJoin(broadcast(
          o.agg(countDistinct(col("o_custkey")).as("n_exact"))))
    }) {
      """WITH h AS (
        |  SELECT DISTINCT ('0x' || substr(md5('kmv|' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders
        |), k AS (SELECT h FROM h ORDER BY h LIMIT 1 OFFSET 255),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_raw FROM h)
        |SELECT CAST(least(n.n_raw, 256) AS BIGINT) AS n_distinct_hashes,
        |  CAST(CASE WHEN n.n_raw < 256 OR (SELECT h FROM k) <= 0 THEN least(n.n_raw, 256)
        |       ELSE (CAST(255 AS HUGEINT) * 1152921504606846976) // (SELECT h FROM k) END AS BIGINT) AS est_distinct,
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS n_exact
        |FROM n""".stripMargin
    },
    // Deterministic word-dropout augmentation (15% positional md5 coin):
    // the epoch-reproducible token-level augmenter. See
    // Text.dropoutTokens.
    query("t29_word_dropout")((s, dir) => {
      val kept = Text.dropoutTokens(col("text"), col("doc_id"), ratePpm = 150000)
      par(tbl(s, dir, "documents")).select(col("doc_id"),
        size(Text.tokens(lower(col("text")))).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("text_aug"))
    }) {
      s"""WITH norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM documents
         |), k AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |    list_filter(toks, (x, i) ->
         |      (('0x' || substr(md5('aug|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT) % 1000000 >= 150000) AS kept
         |  FROM norm
         |)
         |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
         |  array_to_string(kept, ' ') AS text_aug
         |FROM k""".stripMargin
    },
    // Johnson–Lindenstrauss projection of every embedding to 16 dims in
    // exact integer arithmetic (md5-seeded planes; the LSH family) —
    // exploded to (vec_id, dim, v) rows. See Similarity.randomProject.
    query("s16_random_projection")((s, dir) => {
      Similarity.randomProject(par(tbl(s, dir, "embeddings")),
        "vec_id", "embedding", outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))
    }) {
      s"""WITH eIn AS (SELECT vec_id, embedding FROM embeddings), $quantEmbSql, w AS (
         |  SELECT p, list_transform(range(64),
         |    d -> ((('0x' || substr(md5('jl|' || CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 15))::BIGINT) % 2001) - 1000) AS wv
         |  FROM (SELECT CAST(range AS BIGINT) AS p FROM range(16))
         |)
         |SELECT qn.vec_id, w.p AS dim,
         |  CAST(list_sum(list_transform(range(1, 65), d -> qn.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) AS BIGINT) AS v
         |FROM qn, w""".stripMargin
    },
    // Leading PCA component of the embedding covariance in EXACT integer
    // power iteration (anisotropy / whitening diagnostic): one corpus
    // scan through the moment UDAF, driver-side BigInt matvec on the
    // 64x64 scatter model, bit-identical to the oracle's HUGEINT CTEs.
    query("s15_pca_top")((s, dir) =>
      Pca.topComponent(par(tbl(s, dir, "embeddings")), "embedding")) {
      pcaOracleSql(20)
    },
    // Metadata-filtered ANN: each held-out query matches only corpus
    // rows with its own label (filter applied during candidate
    // generation as a join key, not post-filtered below k). Corpus
    // never shuffled; see Similarity.filteredTopK.
    query("s14_ann_filtered")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Similarity.filteredTopK(par(e), e.where(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 5)
    }) {
      s"""WITH eIn AS (SELECT vec_id, embedding FROM embeddings), $quantEmbSql, ql AS (
         |  SELECT qn.*, e.label FROM qn JOIN embeddings e USING (vec_id)
         |), scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dotCosSql AS cos
         |  FROM ql a JOIN ql b ON a.vec_id < 20 AND b.vec_id != a.vec_id AND a.label = b.label
         |), $top5CosSql""".stripMargin
    },
    // Column-association screen: per-cell pointwise MI and MI
    // contribution of (lang, source) in exact micro-nats — one scan to
    // the cell table, margins re-aggregated from it. See
    // Profile.mutualInfo.
    query("t28_mutual_info")((s, dir) =>
      Profile.mutualInfo(tbl(s, dir, "documents"), "lang", "source")) {
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_ab FROM documents
        |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
        |), ma AS (SELECT lang, CAST(sum(n_ab) AS BIGINT) AS n_a FROM cells GROUP BY 1),
        |mb AS (SELECT source, CAST(sum(n_ab) AS BIGINT) AS n_b FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_tot FROM cells)
        |SELECT c.lang, c.source, c.n_ab,
        |  CAST(round(ln(CAST(c.n_ab AS DOUBLE) * CAST(n_tot AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_micro,
        |  CAST(round(CAST(c.n_ab AS DOUBLE) / CAST(n_tot AS DOUBLE) *
        |    ln(CAST(c.n_ab AS DOUBLE) * CAST(n_tot AS DOUBLE) /
        |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) * 1e6) AS BIGINT) AS mi_contrib_micro
        |FROM cells c JOIN ma USING (lang) JOIN mb USING (source) CROSS JOIN tot""".stripMargin
    },
    // Distributed exact global rank of every order by totalprice — the
    // two-phase bucketed rank (bin offsets + within-bin windows), no
    // single-partition data-sized window anywhere; see Layout.globalRank.
    query("q36_global_rank")((s, dir) =>
      Layout.globalRank(
        tbl(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", "o_orderkey")
        .select(col("o_orderkey"), col("rank"))) {
      """SELECT o_orderkey,
        |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank
        |FROM orders""".stripMargin
    },
    // Per-nation triangle participation in the trade graph (same edge
    // construction as g1_pagerank) — degree-oriented node-iterator, no
    // cartesian; see Graph.triangleCounts.
    query("g2_triangles")((s, dir) =>
      Graph.triangleCounts(tradeEdges(s, dir))) {
      s"""WITH edges AS MATERIALIZED (
         |  $tradeEdgesSql
         |), und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges WHERE src <> dst
         |), deg AS MATERIALIZED (
         |  SELECT n, CAST(count(*) AS BIGINT) AS d
         |  FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY 1
         |), o AS MATERIALIZED (
         |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v) THEN und.u ELSE und.v END AS a,
         |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v) THEN und.v ELSE und.u END AS b
         |  FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n
         |), tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c FROM o e1
         |  JOIN o e2 ON e1.b = e2.a
         |  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b
         |)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
         |) GROUP BY 1""".stripMargin
    },
    // Degree assortativity of the same nation trade graph: do hubs link
    // to hubs? One number, exact integer moment sums, symmetric edge
    // orientation (see Graph.degreeAssortativity). The join-skew
    // diagnostic companion to g2.
    query("g4_assortativity")((s, dir) =>
      Graph.degreeAssortativity(tradeEdges(s, dir))) {
      s"""WITH edges AS (
         |  $tradeEdgesSql
         |), und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM edges WHERE src <> dst
         |), deg AS (
         |  SELECT n, CAST(count(*) AS BIGINT) AS d
         |  FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY 1
         |), pts AS (
         |  SELECT du.d AS x, dv.d AS y
         |  FROM und JOIN deg du ON und.u = du.n JOIN deg dv ON und.v = dv.n
         |), sym AS (
         |  SELECT x, y FROM pts UNION ALL SELECT y AS x, x AS y FROM pts
         |), s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
         |  FROM sym
         |)
         |SELECT m AS n_points,
         |  CASE WHEN m * sxx - sx * sx = 0 THEN NULL
         |       ELSE round(CAST(m * sxy - sx * sx AS DOUBLE) / CAST(m * sxx - sx * sx AS DOUBLE), 6)
         |  END AS assortativity
         |FROM s""".stripMargin
    },
    // Deterministic weighted label propagation over the trade graph's
    // BACKBONE (undirected edges above the mean weight — the raw
    // nation graph is near-complete, which LPA correctly collapses to
    // one community; the backbone keeps only above-average trade
    // relationships, where community structure lives): 4 synchronous
    // rounds, heaviest-neighbor-label argmax with min-label ties — the
    // community sketch that splits what connected components would
    // merge. The mean cut is the exact rational compare
    // w·|E| > Σw (no division). See Graph.labelPropagation.
    query("g5_label_propagation")((s, dir) =>
      Graph.labelPropagation(tradeBackbone(s, dir), iters = 4)) {
      // unrolls Graph.labelPropagation's 4 synchronous rounds as chained
      // CTEs (the pagerank/BPE oracle technique): per round, the
      // (node, label) weight aggregate and the (wt DESC, lbl) argmax.
      (lpaChainSql(4) + "\nSELECT node, lbl AS label FROM l4")
    },
    // All-pairs harmonic centrality on the same dimension-sized trade
    // backbone: Σ 1/hops over reachable peers in exact integer micro —
    // "which nation sits closest to the whole trade web". BFS-by-join
    // with per-round min-hop dedup; dimension-graph contract (the q41
    // rule — corpus-scale closures belong to the Pregel/sketch loops).
    // See Graph.harmonicCentrality.
    query("g9_harmonic_centrality")((s, dir) =>
      Graph.harmonicCentrality(tradeBackbone(s, dir), rounds = 6)) {
      s"""WITH RECURSIVE edges AS (
         |  $tradeEdgesSql
         |), und0 AS (
         |  SELECT least(src, dst) AS u, greatest(src, dst) AS v, CAST(sum(w) AS BIGINT) AS w
         |  FROM edges WHERE src <> dst GROUP BY 1, 2
         |), und AS (
         |  SELECT u, v FROM und0
         |  WHERE CAST(w AS HUGEINT) * (SELECT count(*) FROM und0) > (SELECT sum(w) FROM und0)
         |), nb AS MATERIALIZED (
         |  SELECT u AS n, v AS nbr FROM und UNION ALL SELECT v, u FROM und
         |), walk(src, node, h) AS (
         |  SELECT n, n, 0 FROM (SELECT DISTINCT n FROM nb)
         |  UNION
         |  SELECT w.src, nb.nbr, w.h + 1
         |  FROM walk w JOIN nb ON nb.n = w.node
         |  WHERE w.h < 6
         |), d AS (
         |  SELECT src, node, min(h) AS h FROM walk GROUP BY 1, 2
         |)
         |SELECT CAST(src AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_reachable,
         |  CAST(sum(1000000 // h) AS BIGINT) AS harmonic_micro
         |FROM d WHERE node <> src GROUP BY 1""".stripMargin
    },
    // Newman-Girvan modularity of g5's communities on the same
    // backbone — the partition-quality score that says whether LPA
    // found real structure (Q ≈ 0 = random wiring). One sign-split
    // exact floor division. See Graph.modularity.
    query("g10_modularity")((s, dir) => {
      val backbone = tradeBackbone(s, dir).localCheckpoint()
      Graph.modularity(backbone, Graph.labelPropagation(backbone, iters = 4))
    }) {
      // g5's unrolled LPA labels + the Newman-Girvan Q rollup over the
      // same backbone: per-community degree/intra sums via the doubled
      // endpoint projection, one sign-split floor division at the end
      (lpaChainSql(4) +
        """, lab AS (SELECT node, lbl FROM l4
          |), st AS (
          |  SELECT und.w, lu.lbl AS clu, lv.lbl AS clv
          |  FROM und JOIN lab lu ON lu.node = und.u JOIN lab lv ON lv.node = und.v
          |), byc AS (
          |  SELECT c, CAST(sum(w) AS HUGEINT) AS deg,
          |    CAST(sum(inw) AS HUGEINT) // 2 AS win
          |  FROM (
          |    SELECT clu AS c, w, CASE WHEN clu = clv THEN w ELSE 0 END AS inw FROM st
          |    UNION ALL
          |    SELECT clv, w, CASE WHEN clu = clv THEN w ELSE 0 END FROM st
          |  ) GROUP BY 1
          |), mm AS (SELECT CAST(sum(w) AS HUGEINT) AS m FROM und
          |), fin AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_communities,
          |    CAST(max(m) AS BIGINT) AS m_weight,
          |    sum(4 * m * win - deg * deg) AS num
          |  FROM byc, mm
          |)
          |SELECT n_communities, m_weight,
          |  CASE WHEN m_weight = 0 THEN NULL
          |    WHEN num >= 0 THEN
          |      CAST(num * 1000000 // (4 * CAST(m_weight AS HUGEINT) * m_weight) AS BIGINT)
          |    ELSE CAST(-((-num) * 1000000 // (4 * CAST(m_weight AS HUGEINT) * m_weight)) AS BIGINT)
          |  END AS q_micro
          |FROM fin""".stripMargin)
    },
    // Degree-distribution power-law fit of the co-purchase graph ("is
    // it scale-free"): degree histogram -> the shared log-log micro-nat
    // regression. Slope near -2..-3 = heavy-tailed hub structure, the
    // skew forecast for every join on this graph's keys.
    query("g11_degree_powerlaw")((s, dir) => {
      val e = partCoEdges(s, dir)
      val deg = e.select(col("src").as("n")).unionByName(e.select(col("dst").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      Profile.logLogFit(
        deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")),
        "degree", "n_nodes")
    }) {
      s"""WITH co AS (
         |  $partCoEdgesSql
         |), e AS (SELECT u, v FROM co WHERE w >= 2
         |), nb AS (SELECT u AS n FROM e UNION ALL SELECT v FROM e
         |), deg AS (SELECT n, count(*) AS degree FROM nb GROUP BY 1
         |), hist AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1
         |), xy AS (
         |  SELECT CAST(round(ln(CAST(degree AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(n_nodes AS DOUBLE)) * 1000000) AS BIGINT) AS y
         |  FROM hist
         |), agg AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
         |    CAST(sum(x * y) AS HUGEINT) AS sxy
         |  FROM xy
         |)
         |${lineFitSql("n_points")}""".stripMargin
    },
    // k-core of the part co-purchase graph (parts co-bought in the
    // same order ≥ 2 times — the w≥2 floor drops single-co-occurrence
    // noise): fixed 8-round synchronous peel at k=3, which reaches the
    // fixpoint on this corpus (multi-round: the peel cascades — nodes
    // whose degree only drops below 3 after a neighbor is peeled fall
    // in later rounds). The dense co-purchase kernel, the graph twin
    // of u28's pairwise lift. See Graph.kCore.
    query("g6_kcore")((s, dir) =>
      Graph.kCore(partCoEdges(s, dir), k = 3, rounds = 8)) {
      // unrolls Graph.kCore's 8 synchronous peel rounds as chained CTEs
      // (the g5/pagerank oracle technique): per round the >= k degree
      // survivor list and the both-endpoints-survive edge filter. Every
      // CTE is MATERIALIZED: each round references the previous ~3
      // times, so DuckDB's default inlining would expand the chain
      // 3^rounds-fold and exhaust file descriptors on the base scans.
      val rounds = 8
      val base =
        s"""WITH co AS MATERIALIZED (
           |  $partCoEdgesSql
           |), e0 AS MATERIALIZED (SELECT u, v FROM co WHERE w >= 2)""".stripMargin
      val its = (1 to rounds).map { i =>
        s""", k$i AS MATERIALIZED (
           |  SELECT n FROM (
           |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
           |  GROUP BY 1 HAVING count(*) >= 3
           |), e$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n
           |)""".stripMargin
      }.mkString
      base + its +
        s"""\nSELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
           |  SELECT u AS n FROM e$rounds UNION ALL SELECT v FROM e$rounds)
           |GROUP BY 1""".stripMargin
    },
    // Resource-Allocation link prediction over the same co-purchase
    // graph: non-adjacent part pairs with ≥ 2 common neighbors scored
    // Σ ⌊1e6/deg(z)⌋ over shared neighbors z — "parts likely to be
    // co-bought next", exact integer micro-units (RA over Adamic–Adar
    // precisely to avoid ln; see Graph.resourceAllocationLinks).
    query("g7_link_prediction")((s, dir) =>
      Graph.resourceAllocationLinks(partCoEdges(s, dir), minCommon = 2)) {
      s"""WITH co AS (
         |  $partCoEdgesSql
         |), e AS (SELECT u, v FROM co WHERE w >= 2
         |), nb AS (SELECT u AS n, v AS nbr FROM e UNION ALL SELECT v, u FROM e
         |), deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY 1
         |), ctr AS (
         |  SELECT nb.n, nb.nbr, deg.d FROM nb JOIN deg ON nb.n = deg.n
         |  WHERE deg.d <= 10000
         |), sc AS (
         |  SELECT a.nbr AS node_a, b.nbr AS node_b,
         |    CAST(count(*) AS BIGINT) AS common_neighbors,
         |    CAST(sum(1000000 // a.d) AS BIGINT) AS ra_micro
         |  FROM ctr a JOIN ctr b ON a.n = b.n AND a.nbr < b.nbr
         |  GROUP BY 1, 2
         |)
         |SELECT s.node_a, s.node_b, s.common_neighbors, s.ra_micro
         |FROM sc s LEFT JOIN e ON s.node_a = e.u AND s.node_b = e.v
         |WHERE e.u IS NULL AND s.common_neighbors >= 2""".stripMargin
    },
    // Two-hop reach over the co-purchase graph: per part, the distinct
    // parts within <= 2 co-purchase hops next to its plain degree —
    // the friend-of-friend audience / traversal-fan-out forecast.
    // Wedge self-join hub-capped like g7. See Graph.twoHopReach.
    query("g8_two_hop_reach")((s, dir) =>
      Graph.twoHopReach(partCoEdges(s, dir))) {
      s"""WITH co AS (
         |  $partCoEdgesSql
         |), e AS (SELECT u, v FROM co WHERE w >= 2
         |), nb AS (SELECT u AS n, v AS nbr FROM e UNION ALL SELECT v, u FROM e
         |), deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM nb GROUP BY 1
         |), ctr AS (
         |  SELECT nb.n, nb.nbr FROM nb JOIN deg ON nb.n = deg.n
         |  WHERE deg.d <= 10000
         |), two AS (
         |  SELECT a.nbr AS x, b.nbr AS y FROM ctr a JOIN ctr b
         |  ON a.n = b.n AND a.nbr <> b.nbr
         |), rc AS (
         |  SELECT n AS x, nbr AS y FROM nb UNION SELECT x, y FROM two
         |)
         |SELECT rc.x AS node, deg.d AS degree, CAST(count(*) AS BIGINT) AS n_reach2
         |FROM rc JOIN deg ON rc.x = deg.n GROUP BY 1, 2""".stripMargin
    },
    // First-order Markov transition matrix over per-user event streams:
    // (prev → next) counts, source margins re-aggregated from the cell
    // table, probability in exact integer ppm. One user-key shuffle.
    query("u34_markov_transitions")((s, dir) =>
      Sessions.markovTransitions(tbl(s, dir, "events"))) {
      """WITH o AS (
        |  SELECT event_type AS t,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), cells AS (
        |  SELECT prev AS prev_type, t AS next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM o WHERE prev IS NOT NULL GROUP BY 1, 2
        |), m AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev FROM cells GROUP BY 1)
        |SELECT prev_type, next_type, n, n_prev,
        |  CAST(CAST(n AS HUGEINT) * 1000000 // n_prev AS BIGINT) AS p_ppm
        |FROM cells JOIN m USING (prev_type)""".stripMargin
    },
    // Day-of-week activity mix in exact ppm (ISO weekday 1=Monday):
    // the weekly-rhythm companion to u31's seasonality chi-square —
    // one 7-key aggregate, 1-row total broadcast back.
    query("u47_dow_mix")((s, dir) => {
      val e = tbl(s, dir, "events")
      e.groupBy(expr("CAST(weekday(ts) + 1 AS BIGINT)").as("isodow"))
        .agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(e.agg(count(lit(1)).as("_n"))))
        .select(col("isodow"), col("n_events"),
          expr("CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000 div _n AS BIGINT)")
            .as("share_ppm"))
    }) {
      """WITH e AS (
        |  SELECT CAST(date_part('isodow', CAST(ts AS DATE)) AS BIGINT) AS isodow
        |  FROM events
        |), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
        |SELECT isodow, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(CAST(count(*) AS HUGEINT) * 1000000 // t.n AS BIGINT) AS share_ppm
        |FROM e, t GROUP BY isodow, t.n""".stripMargin
    },
    // Per-user spend-trajectory slope in exact micro-cents-per-day:
    // the "growing or declining customer" regression feature — one
    // user-key moment aggregate, sign-split quantization so Spark div
    // and DuckDB // agree on negative slopes. See Rfm.spendTrend.
    query("u46_spend_trend")((s, dir) =>
      Rfm.spendTrend(tbl(s, dir, "events"), winStart)) {
      """WITH p AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM p GROUP BY 1
        |), d AS (
        |  SELECT user_id, n, CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        |    CAST(n AS HUGEINT) * sxx - sx * sx AS den
        |  FROM m
        |)
        |SELECT user_id, n AS n_purchases,
        |  CAST(CASE WHEN num >= 0 THEN num * 1000000 // den
        |    ELSE -((-num) * 1000000 // den) END AS BIGINT) AS slope_micro
        |FROM d WHERE den > 0""".stripMargin
    },
    // Churn label builder (the supervised-training-data op for churn
    // models): one row per (user, week 0..2) with n_events and the
    // "absent next week" target — only weeks whose successor lies
    // fully inside the horizon are labeled, so the dataset boundary
    // never masquerades as churn. See Lifecycle.churnLabels.
    query("u45_churn_labels")((s, dir) =>
      Lifecycle.churnLabels(tbl(s, dir, "events"), winStart, maxWeek = 3)) {
      """WITH wk AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) // 7 AS week
        |  FROM events
        |), act AS (
        |  SELECT user_id, week, CAST(count(*) AS BIGINT) AS n_events
        |  FROM wk WHERE week >= 0 AND week <= 3 GROUP BY 1, 2
        |)
        |SELECT a.user_id, a.week, a.n_events,
        |  CAST(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS churned_next
        |FROM act a LEFT JOIN act b
        |  ON b.user_id = a.user_id AND b.week = a.week + 1
        |WHERE a.week <= 2""".stripMargin
    },
    // Per-user time-weighted average value (TWAP / time-in-state mean):
    // each event's cents weighted by the duration until the user's
    // next event — the exposure/dwell statistic an event-weighted mean
    // over-counts bursts on. One user-key window pass + the group agg
    // on the same partitioning. See Sessions.timeWeightedValue.
    query("u44_time_weighted_value")((s, dir) =>
      Sessions.timeWeightedValue(tbl(s, dir, "events"))) {
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events
        |), l AS (
        |  SELECT user_id, c, t,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nt
        |  FROM e
        |), d AS (
        |  SELECT user_id, c, nt - t AS dur FROM l WHERE nt IS NOT NULL
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(dur) AS BIGINT) AS total_dur_us,
        |  CASE WHEN sum(dur) = 0 THEN NULL
        |    WHEN sum(CAST(c AS HUGEINT) * dur) >= 0
        |    THEN CAST(sum(CAST(c AS HUGEINT) * dur) // sum(dur) AS BIGINT)
        |    ELSE -CAST((-sum(CAST(c AS HUGEINT) * dur)) // sum(dur) AS BIGINT)
        |  END AS twa_cents
        |FROM d GROUP BY 1""".stripMargin
    },
    // Per-user burstiness B = (σ−μ)/(σ+μ) of inter-event gaps (Goh &
    // Barabási): the rhythm signal separating metronome/bot regularity
    // (B→−1) from organic bursts (B>0). Exact integer moments through
    // DECIMAL(38,0), one IEEE sqrt, one user-key exchange. The
    // operator's undefined-spread answer is NULL (spec-pinned); the
    // QUERY coalesces it to the out-of-range sentinel −2 because the
    // compare harness can't sort rows that mix NULL and doubles (the
    // m7 sentinel rule) — no S=0 user exists at sf0.01 today, so this
    // guards against future testdata regenerations, not current rows.
    query("u50_burstiness")((s, dir) =>
      Sessions.burstiness(tbl(s, dir, "events"))
        .withColumn("burstiness", coalesce(col("burstiness"), lit(-2.0)))) {
      // Replays the cleared-fraction burstiness: nσ = sqrt(n·Σg²−S²),
      // nμ = S, so B = (sqrt(D)−S)/(sqrt(D)+S) — exact HUGEINT moments,
      // one IEEE sqrt, S=0 → NULL (0/0 guard on both engines).
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
        |), l AS (
        |  SELECT user_id,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS g
        |  FROM e
        |), d AS (
        |  SELECT user_id, g FROM l WHERE g IS NOT NULL
        |), m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS s,
        |    sum(CAST(g AS HUGEINT) * g) AS s2
        |  FROM d GROUP BY 1
        |)
        |SELECT user_id, n_gaps,
        |  CASE WHEN s = 0 THEN -2.0 ELSE
        |    round((sqrt(CAST(n_gaps * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)) - CAST(s AS DOUBLE))
        |      / (sqrt(CAST(n_gaps * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)) + CAST(s AS DOUBLE)), 6)
        |  END AS burstiness
        |FROM m WHERE n_gaps >= 2""".stripMargin
    },
    // Per-document shingle novelty: fraction of a doc's distinct
    // 3-gram shingles with corpus document-frequency 1, exact ppm —
    // the memorization/novelty curation signal. Inverted index without
    // pair fan-out; see Dedup.shingleNovelty.
    query("t31_novelty")((s, dir) => {
      Dedup.shingleNovelty(par(tbl(s, dir, "documents")))
    }) {
      s"""WITH norm AS (
         |  SELECT doc_id, $normToksSql AS toks FROM documents
         |), shs AS (
         |  SELECT doc_id, list_distinct(list_transform(${shingleSql(3)},
         |    s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
         |  FROM norm
         |), e AS (
         |  SELECT doc_id, unnest(sh) AS s FROM shs
         |), df AS (
         |  SELECT s, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY 1
         |)
         |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(sum(CASE WHEN df.df = 1 THEN 1 END), 0) AS BIGINT) AS n_novel,
         |  CAST(coalesce(sum(CASE WHEN df.df = 1 THEN 1 END), 0) * 1000000 // count(*) AS BIGINT) AS novelty_ppm
         |FROM e JOIN df USING (s) GROUP BY e.doc_id""".stripMargin
    },
    // One-sided CUSUM change-point detection over daily purchase
    // revenue (cents): running max(0, s + x − μ − k) with integer
    // μ/k/h derived from the data, alarm when s > h. The sequential
    // recurrence runs over the calendar-bounded day axis only; the
    // stream is touched by ONE day-key aggregate. See Anomaly.cusumDaily.
    query("u35_cusum")((s, dir) => {
      val daily = tbl(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("rev_cents"))
      Anomaly.cusumDaily(daily, "day", "rev_cents")
    }) {
      """WITH RECURSIVE p AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'
        |), d AS (
        |  SELECT day, CAST(sum(c) AS BIGINT) AS rev FROM p GROUP BY 1
        |), ax AS (
        |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT min(day) AS mn, max(day) AS mx FROM d)
        |), r AS (
        |  SELECT ax.day, coalesce(d.rev, 0) AS rev,
        |    row_number() OVER (ORDER BY ax.day) AS rn
        |  FROM ax LEFT JOIN d USING (day)
        |), pk AS (
        |  SELECT mu, mu // 20 AS k, mu // 1 AS h
        |  FROM (SELECT CAST(sum(rev) // count(*) AS BIGINT) AS mu FROM r)
        |), cu AS (
        |  SELECT r.rn, r.day, r.rev,
        |    greatest(CAST(0 AS BIGINT), r.rev - pk.mu - pk.k) AS s
        |  FROM r, pk WHERE r.rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.day, r.rev,
        |    greatest(CAST(0 AS BIGINT), cu.s + r.rev - pk.mu - pk.k)
        |  FROM cu, pk, r WHERE r.rn = cu.rn + 1
        |)
        |SELECT cu.day, cu.rev AS rev_cents, cu.s AS cusum, cu.s > pk.h AS alarm,
        |  pk.mu, pk.k, pk.h
        |FROM cu, pk""".stripMargin
    },
    // SCD2 validity intervals from the purchase change log: per-user
    // price versions with no-change rows collapsed, each surviving
    // version closed at the next one's timestamp (NULL = current) —
    // the dimension-history complement of q32's latest-only CDC apply,
    // one user-key window pass. See Incremental.scd2Intervals.
    query("q42_scd2_intervals")((s, dir) =>
      Incremental.scd2Intervals(
        tbl(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents")),
        "user_id", "ts", "event_id", Seq("cents"))
        .select(col("user_id"), col("cents"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))) {
      """WITH c AS (
        |  SELECT user_id, event_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |), l AS (
        |  SELECT *, lag(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM c
        |), ch AS (
        |  SELECT user_id, event_id, ts, cents FROM l WHERE prev IS NULL OR prev <> cents
        |), iv AS (
        |  SELECT user_id, cents, epoch_us(ts) AS valid_from_us,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us
        |  FROM ch
        |)
        |SELECT user_id, cents, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM iv""".stripMargin
    },
    // EWMA drifting baseline + deviation over daily purchase revenue —
    // the smoothing complement of u35's fixed-mean CUSUM (α=1/4,
    // non-negative-operand integer update so truncating and flooring
    // divides agree; signed ppm deviation vs the prior baseline with
    // an explicit sign split). See Anomaly.ewmaDaily.
    query("u38_ewma")((s, dir) => {
      val daily = tbl(s, dir, "events")
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("rev_cents"))
      Anomaly.ewmaDaily(daily, "day", "rev_cents")
    }) {
      """WITH RECURSIVE p AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'
        |), d AS (
        |  SELECT day, CAST(sum(c) AS BIGINT) AS rev FROM p GROUP BY 1
        |), ax AS (
        |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT min(day) AS mn, max(day) AS mx FROM d)
        |), r AS (
        |  SELECT ax.day, coalesce(d.rev, 0) AS rev,
        |    row_number() OVER (ORDER BY ax.day) AS rn
        |  FROM ax LEFT JOIN d USING (day)
        |), e AS (
        |  SELECT r.rn, r.day, r.rev, r.rev AS s,
        |    CAST(0 AS BIGINT) AS dev, CAST(0 AS BIGINT) AS dev_ppm
        |  FROM r WHERE r.rn = 1
        |  UNION ALL
        |  SELECT r.rn, r.day, r.rev,
        |    CAST((3 * e.s + r.rev) // 4 AS BIGINT),
        |    r.rev - e.s,
        |    CASE WHEN r.rev = e.s THEN CAST(0 AS BIGINT)
        |      WHEN e.s > 0 AND r.rev > e.s
        |        THEN CAST((CAST(r.rev - e.s AS HUGEINT) * 1000000) // e.s AS BIGINT)
        |      WHEN e.s > 0
        |        THEN CAST(-((CAST(e.s - r.rev AS HUGEINT) * 1000000) // e.s) AS BIGINT)
        |      ELSE NULL END
        |  FROM e, r WHERE r.rn = e.rn + 1
        |)
        |SELECT day, rev AS rev_cents, s AS ewma, dev, dev_ppm FROM e""".stripMargin
    },
    // Gini concentration of per-user event volume — the "how skewed is
    // this corpus" one-number audit (0 = even, →1 = one user is the
    // dataset). Exact rank-form Gini in integer micro-units; ranks via
    // the bucketed two-phase global rank (no global sort). See
    // Profile.giniConcentration.
    query("u36_gini")((s, dir) =>
      Profile.giniConcentration(
        tbl(s, dir, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events")),
        "user_id", "n_events")) {
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM c),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(x) AS HUGEINT) AS s,
        |  CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS sx FROM r)
        |SELECT CAST(n AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS total,
        |  CASE WHEN s = 0 THEN NULL
        |    ELSE CAST(((2 * sx - (n + 1) * s) * 1000000) // (n * s) AS BIGINT)
        |  END AS gini_micro
        |FROM a""".stripMargin
    },
    // Benford first-digit audit of order totals: observed vs expected
    // log10(1+1/d) shares in ppm — the fabricated/degenerate-magnitude
    // screen. Digit by integer-part string head (no log on data);
    // expected ppm generated from the SAME Scala constant as the
    // oracle's VALUES list. See Profile.benfordAudit.
    query("u37_benford")((s, dir) =>
      Profile.benfordAudit(tbl(s, dir, "orders"), "o_totalprice")) {
      val vals = Profile.benfordExpectedPpm
        .map { case (d, p) => s"($d, $p)" }.mkString(", ")
      s"""WITH f AS (
         |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS iv FROM orders
         |  WHERE o_totalprice >= 1
         |), dg AS (
         |  SELECT CAST(substr(CAST(iv AS VARCHAR), 1, 1) AS INT) AS digit FROM f
         |), c AS (SELECT digit, CAST(count(*) AS BIGINT) AS nd FROM dg GROUP BY 1
         |), tot AS (SELECT CAST(sum(nd) AS HUGEINT) AS nt FROM c
         |), e AS (SELECT * FROM (VALUES $vals) AS t(digit, exp_ppm))
         |SELECT e.digit, CAST(coalesce(c.nd, 0) AS BIGINT) AS n,
         |  CAST(CAST(coalesce(c.nd, 0) AS HUGEINT) * 1000000 // nt AS BIGINT) AS obs_ppm,
         |  CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
         |  CAST(CAST(coalesce(c.nd, 0) AS HUGEINT) * 1000000 // nt - e.exp_ppm AS BIGINT) AS dev_ppm
         |FROM e LEFT JOIN c ON e.digit = c.digit CROSS JOIN tot""".stripMargin
    },
    // Temperature-flattened language mixture (share ∝ √n, the n^α
    // multilingual rebalancing rule): shares DERIVED from the skewed
    // lang counts (vs p4's given shares), sampling by the same exact
    // rational cut. en (~44% of docs) gets thinned hardest; the tail
    // langs keep proportionally more. See Split.temperatureMixture.
    query("p15_temperature_mix")((s, dir) =>
      Split.temperatureMixture(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang")
        .select(col("doc_id"), col("lang"))) {
      // shares derived in-SQL from the same quantized-sqrt rule
      // (q = floor(sqrt(n)·1e6), share = max(1, q·1e6 // Σq)); the cut
      // is p4's exact rational binding-domain filter.
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
        |), q AS (
        |  SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS q FROM c
        |), j AS (
        |  SELECT lang, n,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(CAST(q AS HUGEINT) * 1000000 // (SELECT sum(q) FROM q) AS BIGINT)) AS share_ppm
        |  FROM q
        |), bind AS (
        |  SELECT a.n AS n_bind, a.share_ppm AS s_bind FROM j a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM j b
        |    WHERE CAST(b.n AS HUGEINT) * a.share_ppm < CAST(a.n AS HUGEINT) * b.share_ppm
        |       OR (CAST(b.n AS HUGEINT) * a.share_ppm = CAST(a.n AS HUGEINT) * b.share_ppm
        |           AND b.lang < a.lang))
        |)
        |SELECT d.doc_id, d.lang FROM documents d JOIN j USING (lang) CROSS JOIN bind
        |WHERE CAST(('0x' || substr(md5('mix|' || lang || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % 1000000 AS HUGEINT) * s_bind * n
        |      < CAST(1000000 AS HUGEINT) * share_ppm * n_bind""".stripMargin
    },
    // Shard release manifest: per packed training shard (p3's bins ×
    // sequences) the doc count, token sum, and an order-independent
    // content checksum (sum of purpose-hashed doc ids mod 1e18 — the
    // q40 rule) — the reproducibility record a dataset release ships.
    query("p18_shard_manifest")((s, dir) => {
      val packed = Split.packSequences(
        par(tbl(s, dir, "documents"))
          .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, bins = 8)
      packed.groupBy(col("bin"), col("seq_id").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_toks"),
          sum(Dedup.hash60(concat(lit("shard|"), col("doc_id").cast("string")))
            .cast("decimal(38,0)")).as("_hs"))
        .select(col("bin"), col("shard_id"), col("n_docs"),
          col("n_toks").cast("long").as("n_toks"),
          expr("CAST(_hs % 1000000000000000000 AS BIGINT)").as("checksum"))
    }) {
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '[a-zA-Z0-9'']+')) AS n_tokens,
        |    ('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bin
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, bin, n_tokens,
        |    CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY bin ORDER BY doc_id)
        |                    - n_tokens AS DOUBLE) / 512) AS BIGINT) AS shard_id
        |  FROM t
        |)
        |SELECT bin, shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_toks,
        |  CAST(CAST(sum(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
        |    AS HUGEINT) % 1000000000000000000 AS BIGINT) AS checksum
        |FROM p GROUP BY 1, 2""".stripMargin
    },
    // Recency-decayed deterministic sampling: keep probability
    // h/(h+age) — exactly 1/2 at the 7-day half-life, hyperbolic tail
    // so old strata keep coverage; hash-coin vs the row's own integer
    // keep-ppm, pure scan-stage filter. See Split.recencySample.
    query("p17_recency_sample")((s, dir) =>
      Split.recencySample(tbl(s, dir, "events"), "event_id", "ts",
          asOf = date_add(lit(winStart).cast("date"), 29),
          halfLifeDays = 7)
        .select(col("event_id"), col("age_days"), col("keep_ppm"))) {
      """WITH a AS (
        |  SELECT event_id,
        |    CAST(greatest(0, date_diff('day', CAST(ts AS DATE), DATE '2024-01-30'))
        |      AS BIGINT) AS age_days
        |  FROM events
        |), k AS (
        |  SELECT event_id, age_days,
        |    CAST(7 * 1000000 // (7 + age_days) AS BIGINT) AS keep_ppm
        |  FROM a
        |)
        |SELECT event_id, age_days, keep_ppm FROM k
        |WHERE ('0x' || substr(md5('rec|' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        |  % 1000000 < keep_ppm""".stripMargin
    },
    // Leakage-safe temporal split with a 2-day embargo: train < day 12,
    // embargo [day 12, day 14) dropped, valid >= day 14 — row-level
    // assignment (the p1 contract shape), pure scan-stage projection +
    // filter; the time-series complement of p1's hash split.
    query("p14_temporal_split")((s, dir) => {
      val cut = lit(winStart).cast("date")
      Split.temporalSplit(tbl(s, dir, "events"), "ts",
        trainEnd = date_add(cut, 12).cast("timestamp"),
        validStart = date_add(cut, 14).cast("timestamp"))
        .select(col("event_id"), col("split"))
    }) {
      s"""SELECT event_id,
         |  CASE WHEN ts < TIMESTAMP '$winStart 00:00:00' + INTERVAL 12 DAY THEN 'train'
         |       WHEN ts >= TIMESTAMP '$winStart 00:00:00' + INTERVAL 14 DAY THEN 'valid' END AS split
         |FROM events
         |WHERE ts < TIMESTAMP '$winStart 00:00:00' + INTERVAL 12 DAY
         |   OR ts >= TIMESTAMP '$winStart 00:00:00' + INTERVAL 14 DAY""".stripMargin
    },
    // Exact media dedup over the BINARY column (the multimodal twin of
    // d1): identical payloads collapse to the min id, one shuffle on
    // the content key. The key here is the payload's own hex (the fake
    // payload is already a 32-byte digest; for real media swap in
    // md5(bytes) — the binary-through-parquet grouping shape is
    // identical). Corpus doubled with id-shifted copies so every
    // payload has a duplicate.
    query("m4_media_dedup")((s, dir) => {
      val d = tbl(s, dir, "documents")
      def m(off: Long) = d.select((col("doc_id") + off).as("media_id"),
        Multimodal.fakeMediaBytes(col("text")).as("bytes"))
      par(m(0L).unionByName(m(2000000L)))
        .groupBy(lower(hex(col("bytes"))).as("content_hex"))
        .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }) {
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) || md5(text || '2') AS content_hex FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, md5(text) || md5(text || '2') FROM documents
        |)
        |SELECT content_hex, CAST(min(media_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM m GROUP BY 1""".stripMargin
    },
    // Media shard plan (webdataset/tar sizing): pack media into
    // ~64 KiB shards by DECODED pixel volume (w*h*channels — the
    // uncompressed size a loader pays), via the p3 packing operator on
    // the media table: hash-bin routing + per-bin running byte total.
    // Scan-stage decode, one bin-key shuffle.
    query("m6_shard_plan")((s, dir) => {
      val d = tbl(s, dir, "documents")
      val media = par(d).select(col("doc_id").as("media_id"),
        Multimodal.fakeMediaBytes(col("text")).as("bytes"))
      val sized = media
        .withColumn("_m", Multimodal.decodeImageMeta(col("bytes")))
        .select(col("media_id"),
          (col("_m.width").cast("long") * col("_m.height") * col("_m.channels"))
            .as("px_bytes"))
      Split.packSequences(sized, "media_id", "px_bytes",
        budget = 65536, bins = 8)
        .withColumnRenamed("seq_id", "shard_id")
    }) {
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) || md5(text || '2') AS content_hex
        |  FROM documents
        |), px AS (
        |  SELECT media_id,
        |    CAST((('0x' || substr(content_hex, 1, 2))::INT % 64 + 1) AS BIGINT)
        |    * (('0x' || substr(content_hex, 3, 2))::INT % 64 + 1)
        |    * (('0x' || substr(content_hex, 5, 2))::INT % 3 + 1) AS px_bytes,
        |    ('0x' || substr(md5('pack|' || CAST(media_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bin
        |  FROM m
        |)
        |SELECT media_id, bin, px_bytes,
        |  CAST(floor(CAST(sum(px_bytes) OVER (PARTITION BY bin ORDER BY media_id)
        |                  - px_bytes AS DOUBLE) / 65536) AS BIGINT) AS shard_id
        |FROM px""".stripMargin
    },
    // Media QA-gate report (the multimodal q34): per-ingest-check pass
    // rates in ppm over DECODED metadata — container length, RGB,
    // orientation, minimum resolution. Scan-stage decode + stack melt
    // + one checks-sized aggregate. See Multimodal.qaReport.
    query("m5_media_qa")((s, dir) =>
      Multimodal.qaReport(par(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeMediaBytes(col("text")).as("bytes")))) {
      """WITH h AS (
        |  SELECT md5(text) AS h1 FROM documents
        |), m AS (
        |  SELECT ('0x' || substr(h1, 1, 2))::INT % 64 + 1 AS width,
        |    ('0x' || substr(h1, 3, 2))::INT % 64 + 1 AS height,
        |    ('0x' || substr(h1, 5, 2))::INT % 3 + 1 AS channels
        |  FROM h
        |), c AS (
        |  SELECT 'payload_nonempty' AS check_name, TRUE AS passed FROM m
        |  UNION ALL SELECT 'bytes_match_meta', TRUE FROM m
        |  UNION ALL SELECT 'rgb_channels', channels = 3 FROM m
        |  UNION ALL SELECT 'landscape', width >= height FROM m
        |  UNION ALL SELECT 'min_resolution', width * height >= 256 FROM m
        |)
        |SELECT check_name, CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CASE WHEN passed THEN 1 END), 0) AS BIGINT) AS n_pass,
        |  CAST(CAST(coalesce(sum(CASE WHEN passed THEN 1 END), 0) AS HUGEINT)
        |    * 1000000 // count(*) AS BIGINT) AS pass_ppm
        |FROM c GROUP BY 1""".stripMargin
    },
    // End-to-end MEDIA curation funnel — the multimodal twin of q44:
    // ingest → decode (scan-stage) → QA gate (RGB + min resolution) →
    // exact content dedup (keeper = min media_id per payload, riding
    // ONE content-key window exchange — asserted in PlanSpec) → shard
    // plan (⌈Σ pixel volume / 64 KiB⌉, the m6 budget), reported as one
    // 4-row release summary with per-stage media counts and pixel
    // volume. The whole pipeline is ONE plan: decode/QA never leave the
    // scan stage, dedup is the only hash shuffle, the funnel aggregate
    // collapses to a single partial+final pass (the q44 shape). The
    // window key is the payload hex — fine here because the fake media
    // is 32 bytes; real multi-MB payloads key on a 128-bit digest of
    // the bytes instead (the spanDedup shuffle-bytes trade, same
    // collision caveat), topology unchanged.
    query("m8_media_funnel")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = par(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          Multimodal.fakeMediaBytes(col("text")).as("bytes"))
        .withColumn("_meta", Multimodal.decodeImageMeta(col("bytes")))
        .select(col("media_id"), hex(col("bytes")).as("_hex"),
          (col("_meta.width").cast("long") * col("_meta.height") *
            col("_meta.channels")).as("_px"),
          (col("_meta.channels") === 3 &&
            col("_meta.width") * col("_meta.height") >= 256).as("_qa"))
        .withColumn("_keep",
          min(when(col("_qa"), col("media_id")))
            .over(Window.partitionBy(col("_hex"))))
        .withColumn("_uniq", col("_qa") && col("media_id") === col("_keep"))
      val wide = m.agg(
        count(lit(1)).as("raw_n"),
        coalesce(sum(col("_px")), lit(0L)).as("raw_px"),
        count(when(col("_qa"), 1)).as("qa_n"),
        coalesce(sum(when(col("_qa"), col("_px"))), lit(0L)).as("qa_px"),
        count(when(col("_uniq"), 1)).as("u_n"),
        coalesce(sum(when(col("_uniq"), col("_px"))), lit(0L)).as("u_px"))
      wide.selectExpr(
        """stack(4,
          |  'ingested', raw_n, raw_px,
          |  'qa_passed', qa_n, qa_px,
          |  'unique_content', u_n, u_px,
          |  'shards_planned', (u_px + 65535) div 65536, u_px
          |) AS (stage, n_media, px_bytes)""".stripMargin)
    }) {
      // Same md5 header arithmetic as the m5/m6 oracles (bytes 1-3
      // of md5(text) are width/height/channels), keeper-window dedup on
      // the payload hex, ceil-division shard plan — all integer-exact.
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) || md5(text || '2') AS hx FROM documents
        |), px AS (
        |  SELECT media_id, hx,
        |    CAST((('0x' || substr(hx, 1, 2))::INT % 64 + 1) AS BIGINT)
        |      * (('0x' || substr(hx, 3, 2))::INT % 64 + 1)
        |      * (('0x' || substr(hx, 5, 2))::INT % 3 + 1) AS px,
        |    (('0x' || substr(hx, 5, 2))::INT % 3 + 1) = 3
        |      AND (('0x' || substr(hx, 1, 2))::INT % 64 + 1)
        |          * (('0x' || substr(hx, 3, 2))::INT % 64 + 1) >= 256 AS qa
        |  FROM m
        |), k AS (
        |  SELECT *, min(CASE WHEN qa THEN media_id END) OVER (PARTITION BY hx) AS keep FROM px
        |), f AS (
        |  SELECT *, qa AND media_id = keep AS uniq FROM k
        |), w AS (
        |  SELECT CAST(count(*) AS BIGINT) AS raw_n,
        |    CAST(coalesce(sum(px), 0) AS BIGINT) AS raw_px,
        |    CAST(count(*) FILTER (WHERE qa) AS BIGINT) AS qa_n,
        |    CAST(coalesce(sum(px) FILTER (WHERE qa), 0) AS BIGINT) AS qa_px,
        |    CAST(count(*) FILTER (WHERE uniq) AS BIGINT) AS u_n,
        |    CAST(coalesce(sum(px) FILTER (WHERE uniq), 0) AS BIGINT) AS u_px
        |  FROM f
        |)
        |SELECT 'ingested' AS stage, raw_n AS n_media, raw_px AS px_bytes FROM w
        |UNION ALL SELECT 'qa_passed', qa_n, qa_px FROM w
        |UNION ALL SELECT 'unique_content', u_n, u_px FROM w
        |UNION ALL SELECT 'shards_planned', (u_px + 65535) // 65536, u_px FROM w""".stripMargin
    },
    // REAL image decode through javax.imageio (the a1-avro pattern: a
    // deterministic driver-side fixture whose generating formulas the
    // oracle recomputes relationally). Each nation key renders a real
    // PNG/BMP/JPEG at formula-derived dimensions — and every 7th key a
    // deliberately undecodable payload — then Multimodal.decodeImages
    // reads the actual container headers back, distributed. The oracle
    // hash-checks the full round-trip: encoder → bytes → header decode
    // must land exactly on the formulas, NULLs for the corrupt rows.
    query("m7_image_decode")((s, dir) => {
      import s.implicits._
      val df = imageFixtureRows(s, dir).toDF("media_id", "bytes")
      // the operator's quarantine contract is NULL metadata (spec-
      // asserted); for the hash gate the report coalesces to explicit
      // sentinels because the compare harness sorts mixed-type rows
      Multimodal.decodeImages(par(df))
        .select(col("media_id"),
          coalesce(col("format"), lit("(undecodable)")).as("format"),
          coalesce(col("width"), lit(-1)).as("width"),
          coalesce(col("height"), lit(-1)).as("height"),
          coalesce(col("channels"), lit(-1)).as("channels"))
    }) {
      """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
        |  CASE WHEN n_nationkey % 7 = 6 THEN '(undecodable)'
        |       WHEN n_nationkey % 5 = 3 THEN 'bmp'
        |       WHEN n_nationkey % 5 = 4 THEN 'jpeg'
        |       ELSE 'png' END AS format,
        |  CASE WHEN n_nationkey % 7 = 6 THEN -1
        |       ELSE CAST((n_nationkey % 13 + 1) * 3 AS INT) END AS width,
        |  CASE WHEN n_nationkey % 7 = 6 THEN -1
        |       ELSE CAST((n_nationkey % 7 + 2) * 4 AS INT) END AS height,
        |  CASE WHEN n_nationkey % 7 = 6 THEN -1
        |       WHEN n_nationkey % 5 = 1 THEN 1
        |       WHEN n_nationkey % 5 = 2 THEN 4
        |       ELSE 3 END AS channels
        |FROM nation""".stripMargin
    },
    // Perceptual near-dup media dedup — the media twin of MinHash:
    // dHash over REAL decoded rasters (ImageIO), banded 4×16-bit for
    // Hamming-≤3 candidate pairs (pigeonhole-exact recall), verified by
    // exact popcount. The fixture renders every content twice (PNG and
    // BMP — lossless, same raster) from integer gradient formulas the
    // oracle recomputes relationally: a hash match certifies the whole
    // encode→decode→downsample→hash→band→pair chain.
    query("m9_perceptual_neardup")((s, dir) => {
      import s.implicits._
      val df = phashFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.perceptualNearDupPairs(par(df), maxHamming = 3)
    }) {
      // The oracle recomputes the 8×9 block sums straight off the pixel
      // FORMULA (dims are multiples of (9,8), so block boundaries are
      // exact; equal per-block pixel counts reduce the operator's
      // cross-multiplied mean compare to a plain sum compare; the
      // operator's channel-sum luminance is 3·gray on these gray
      // rasters — same ordering), then replays band keys, the
      // ≥1-shared-band candidate rule, and exact Hamming.
      s"""WITH $phashChainSql
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM prs WHERE hamming <= 3""".stripMargin
    },
    // The 256-bit WEB-SCALE variant of m9: 16×17-grid dHash packed as
    // eight 32-bit bands (2³² key space — flat occupancy at any
    // realistic corpus, the round-11 octave adjudication's production
    // route), Hamming-≤7-of-256 pigeonhole recall, verified by exact
    // popcount. Fixture: the m9 sawtooth family at (17,16)-multiple
    // dimensions, every content rendered PNG+BMP — the oracle
    // recomputes the 16×17 block sums relationally and must land on
    // exactly one Hamming-0 pair per content.
    query("m11_perceptual_neardup_deep")((s, dir) => {
      import s.implicits._
      val df = phashDeepFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.perceptualNearDupPairsDeep(par(df), maxHamming = 7)
    }) {
      s"""WITH $phashDeepChainSql
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM prs WHERE hamming <= 7""".stripMargin
    },
    // Perceptual near-dup FAMILIES — the media twin of d10's
    // pairs→components→keeper pipeline: m9's Hamming-banded pairs
    // clustered by connected components, every fixture image
    // labeled with its family id (singletons are their own family)
    // plus the min-id keeper flag — the table a media curation run
    // publishes ("these N files are M distinct images; keep these").
    // Same scale shape as d10: the CC loop shuffles only the
    // pair-table-sized frontier per round, never the payloads.
    query("m10_perceptual_families")((s, dir) => {
      import s.implicits._
      val df = phashFixtureRows(s, dir).toDF("media_id", "bytes")
      val pairs = Multimodal.perceptualNearDupPairs(par(df), maxHamming = 3)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      df.select(col("media_id"))
        .join(cc.withColumnRenamed("doc_id", "media_id"), Seq("media_id"),
          "left")
        .select(col("media_id"),
          coalesce(col("group_id"), col("media_id")).as("family_id"))
        .withColumn("is_keeper", col("media_id") === col("family_id"))
    }) {
      // A recursive closure over the Hamming-≤3 edges; the component
      // minimum is the family id (the algorithm-independent result
      // connected components converge to).
      s"""WITH RECURSIVE $phashChainSql, pf AS (
         |  SELECT id_a, id_b FROM prs WHERE hamming <= 3
         |), ${ccClosureSql("pf")}, lbl AS (
         |  SELECT id, min(r) AS group_id FROM cc GROUP BY id
         |)
         |SELECT k AS media_id, coalesce(l.group_id, k) AS family_id,
         |  coalesce(l.group_id, k) = k AS is_keeper
         |FROM keys LEFT JOIN lbl l ON keys.k = l.id""".stripMargin
    },
    // m10's families pipeline over the 256-bit deep bands — the full
    // web-scale media-curation release path (deep pairs → CC →
    // keeper): same composition, same scale shape (CC rounds
    // shuffle only the pair frontier), candidate stage now the
    // flat-occupancy 2³² band space.
    query("m12_perceptual_families_deep")((s, dir) => {
      import s.implicits._
      val df = phashDeepFixtureRows(s, dir).toDF("media_id", "bytes")
      val pairs = Multimodal.perceptualNearDupPairsDeep(par(df), maxHamming = 7)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      df.select(col("media_id"))
        .join(cc.withColumnRenamed("doc_id", "media_id"), Seq("media_id"),
          "left")
        .select(col("media_id"),
          coalesce(col("group_id"), col("media_id")).as("family_id"))
        .withColumn("is_keeper", col("media_id") === col("family_id"))
    }) {
      // The m10 closure over the deep chain's Hamming-≤7 edges.
      s"""WITH RECURSIVE $phashDeepChainSql, pf AS (
         |  SELECT id_a, id_b FROM prs WHERE hamming <= 7
         |), ${ccClosureSql("pf")}, lbl AS (
         |  SELECT id, min(r) AS group_id FROM cc GROUP BY id
         |)
         |SELECT k AS media_id, coalesce(l.group_id, k) AS family_id,
         |  coalesce(l.group_id, k) = k AS is_keeper
         |FROM keys LEFT JOIN lbl l ON keys.k = l.id""".stripMargin
    },
    // REAL audio decode (round 13 — the speech-pipeline twin of m7):
    // WAV/RIFF headers parsed by pure-JDK byte arithmetic, header-only
    // (never materializes a sample), quarantining non-audio scraper
    // bytes AND truncated headers as NULL metadata. The fixture
    // renders canonical PCM WAVs from integer formulas; the oracle
    // recomputes every field — including exact floor-division
    // duration_ms and the container byte count — straight from the
    // generating arithmetic. See Multimodal.decodeAudio.
    query("m13_audio_decode")((s, dir) => {
      import s.implicits._
      val df = audioFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.decodeAudio(par(df))
        .select(col("media_id"),
          coalesce(col("codec"), lit("(undecodable)")).as("codec"),
          coalesce(col("sample_rate"), lit(-1)).as("sample_rate"),
          coalesce(col("channels"), lit(-1)).as("channels"),
          coalesce(col("bits_per_sample"), lit(-1)).as("bits_per_sample"),
          coalesce(col("n_frames"), lit(-1L)).as("n_frames"),
          coalesce(col("duration_ms"), lit(-1L)).as("duration_ms"),
          col("n_bytes"))
    }) {
      // The quarantine classes (scraper garbage, truncated header) land
      // on the sentinel row shape.
      """WITH a AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |    (n_nationkey % 7 = 6 OR n_nationkey % 5 = 4) AS bad,
        |    n_nationkey % 7 = 6 AS garbage,
        |    8000 * (1 + n_nationkey % 3) AS rate,
        |    1 + n_nationkey % 2 AS ch,
        |    CASE WHEN n_nationkey % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    CAST(100 + 37 * (n_nationkey % 11) AS BIGINT) AS frames
        |  FROM nation
        |)
        |SELECT k AS media_id,
        |  CASE WHEN bad THEN '(undecodable)' ELSE 'pcm' END AS codec,
        |  CAST(CASE WHEN bad THEN -1 ELSE rate END AS INT) AS sample_rate,
        |  CAST(CASE WHEN bad THEN -1 ELSE ch END AS INT) AS channels,
        |  CAST(CASE WHEN bad THEN -1 ELSE bits END AS INT) AS bits_per_sample,
        |  CAST(CASE WHEN bad THEN -1 ELSE frames END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN bad THEN -1
        |       ELSE (frames * 1000) // rate END AS BIGINT) AS duration_ms,
        |  CAST(CASE
        |    WHEN garbage THEN LENGTH('not audio ' || CAST(k AS VARCHAR)
        |      || ', just bytes a scraper shipped')
        |    WHEN bad THEN 20
        |    ELSE 44 + frames * (ch * bits // 8) END AS BIGINT) AS n_bytes
        |FROM a""".stripMargin
    },
    // Audio QA gate (round 13 — m5's shape over decodeAudio's REAL
    // header metadata): per-ingest-check pass rates in exact ppm —
    // decodable container, 16-bit PCM, ≥16 kHz, ≥10 ms. Scan-stage
    // decode + stack melt + one checks-sized aggregate.
    query("m14_audio_qa")((s, dir) => {
      import s.implicits._
      val df = audioFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.audioQaReport(par(df))
    }) {
      // The four audio QA checks replayed from the same formulas
      // (a quarantined row fails every check, the operator's
      // NULL-fails-the-gate contract).
      """WITH a AS (
        |  SELECT NOT (n_nationkey % 7 = 6 OR n_nationkey % 5 = 4) AS ok,
        |    8000 * (1 + n_nationkey % 3) AS rate,
        |    CASE WHEN n_nationkey % 3 = 0 THEN 8 ELSE 16 END AS bits,
        |    CAST(100 + 37 * (n_nationkey % 11) AS BIGINT) AS frames
        |  FROM nation
        |), c AS (
        |  SELECT 'decodable' AS check_name, ok AS passed FROM a
        |  UNION ALL SELECT 'pcm16', ok AND bits = 16 FROM a
        |  UNION ALL SELECT 'rate16k', ok AND rate >= 16000 FROM a
        |  UNION ALL SELECT 'min_duration',
        |    ok AND (frames * 1000) // rate >= 10 FROM a
        |)
        |SELECT check_name, CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CASE WHEN passed THEN 1 END), 0) AS BIGINT) AS n_pass,
        |  CAST(CAST(coalesce(sum(CASE WHEN passed THEN 1 END), 0) AS HUGEINT)
        |    * 1000000 // count(*) AS BIGINT) AS pass_ppm
        |FROM c GROUP BY 1""".stripMargin
    },
    // Exact audio content dedup (round 13 — m4's shape over WAV
    // payloads): keeper = min media_id per byte-identical payload.
    // Each fixture content is stored twice (one content, two file
    // rows); garbage contents are per-FILE distinct, so they group as
    // singletons — byte-equality grouping proven both ways.
    query("m15_audio_dedup")((s, dir) => {
      import s.implicits._
      val df = audioDedupFixtureRows(s, dir).toDF("media_id", "bytes")
      par(df).groupBy(md5(col("bytes")))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
    }) {
      // The duplicate structure is the fixture's own arithmetic —
      // one content under two ids groups to (2c, 2), per-file garbage
      // stays singleton.
      """SELECT CAST(2 * n_nationkey AS BIGINT) AS keep_id,
        |  CAST(2 AS BIGINT) AS n_copies
        |FROM nation WHERE n_nationkey % 7 <> 6
        |UNION ALL
        |SELECT CAST(2 * n_nationkey AS BIGINT), CAST(1 AS BIGINT)
        |FROM nation WHERE n_nationkey % 7 = 6
        |UNION ALL
        |SELECT CAST(2 * n_nationkey + 1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM nation WHERE n_nationkey % 7 = 6""".stripMargin
    },
    // Audio perceptual near-dup (round 13 — the m9 dHash applied to
    // sound: byte dedup misses the same clip re-mastered at a
    // different volume; the SIGN pattern of the 65-block energy
    // envelope's gradient survives exactly that transform. REAL PCM
    // decode (pure JDK), banded 4×16-bit for Hamming-≤3 pigeonhole
    // recall, exact popcount verify — m9's pair pipeline verbatim.
    // Fixture: each pseudo-noise content rendered at full and HALF
    // volume (every block energy scales exactly ×2 → identical hash);
    // the oracle recomputes block energies straight from the sample
    // FORMULA and must land on exactly one Hamming-0 pair per content.
    query("m16_audio_neardup")((s, dir) => {
      import s.implicits._
      val df = audioPhashFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.audioNearDupPairs(par(df), maxHamming = 3)
    }) {
      // Block energies recomputed straight from the generating
      // sample formula (equal block sizes reduce the operator's
      // cross-multiplied mean compare to a plain sum compare; the ×2
      // amplitude pair preserves every > and = exactly), then the m9
      // band/pair replay: ≥1 shared 16-bit band, exact Hamming.
      """WITH keys AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
        |), files AS (
        |  SELECT 2*k + sd.s AS media_id, k, 16 - 8*sd.s AS amp,
        |    CAST(12 + k % 5 AS BIGINT) AS f
        |  FROM keys, (SELECT CAST(range AS BIGINT) AS s FROM range(2)) sd
        |), energies AS (
        |  SELECT fl.media_id, j.j // fl.f AS blk,
        |    sum(abs(((fl.k*37 + j.j*j.j*13) % 2001 - 1000) * fl.amp)) AS e
        |  FROM files fl, (SELECT CAST(range AS BIGINT) AS j FROM range(1040)) j
        |  WHERE j.j < 65*fl.f
        |  GROUP BY 1, 2
        |), bits AS (
        |  SELECT l.media_id, l.blk AS r,
        |    CASE WHEN rt.e > l.e THEN 1 ELSE 0 END AS bit
        |  FROM energies l JOIN energies rt
        |    ON l.media_id = rt.media_id AND rt.blk = l.blk + 1
        |  WHERE l.blk < 64
        |), hashes AS MATERIALIZED (
        |  SELECT media_id,
        |    CAST(sum(CASE WHEN r // 16 = 0 THEN bit * (1 << CAST(r % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(sum(CASE WHEN r // 16 = 1 THEN bit * (1 << CAST(r % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN r // 16 = 2 THEN bit * (1 << CAST(r % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN r // 16 = 3 THEN bit * (1 << CAST(r % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b3
        |  FROM bits GROUP BY 1
        |), prs AS (
        |  SELECT a.media_id AS id_a, c.media_id AS id_b,
        |    CAST(bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1)) +
        |      bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) AS BIGINT) AS hamming
        |  FROM hashes a JOIN hashes c ON a.media_id < c.media_id
        |    AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3)
        |)
        |SELECT id_a, id_b, hamming FROM prs WHERE hamming <= 3""".stripMargin
    },
    // REAL video container decode (round 13 — completing the
    // image/audio/video trio): MP4/ISO-BMFF box walk in pure-JDK byte
    // arithmetic, header-only (never touches mdat), both mvhd layouts
    // (v0 u32 / v1 u64), quarantining scraper bytes and truncated
    // boxes. Oracle recomputes brand/timescale/floor-division
    // duration/track count/container byte length from the generating
    // formulas. See Multimodal.decodeVideo.
    query("m18_video_decode")((s, dir) => {
      import s.implicits._
      val df = videoFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.decodeVideo(par(df))
        .select(col("media_id"),
          coalesce(col("brand"), lit("(undecodable)")).as("brand"),
          coalesce(col("timescale"), lit(-1L)).as("timescale"),
          coalesce(col("duration_ms"), lit(-1L)).as("duration_ms"),
          coalesce(col("n_tracks"), lit(-1)).as("n_tracks"),
          col("n_bytes"))
    }) {
      // The container byte length is box-size arithmetic: ftyp 20 +
      // moov(8 + mvhd(108|120) + 16·tracks) + mdat(24+k) + free 11.
      """WITH a AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |    (n_nationkey % 7 = 6 OR n_nationkey % 5 = 4) AS bad,
        |    n_nationkey % 7 = 6 AS garbage,
        |    CAST(600 * (1 + n_nationkey % 3) AS BIGINT) AS ts,
        |    CAST(601 + 977 * n_nationkey AS BIGINT) AS dur,
        |    1 + n_nationkey % 3 AS trk,
        |    CASE WHEN n_nationkey % 2 = 1 THEN 120 ELSE 108 END AS mvhd_box
        |  FROM nation
        |)
        |SELECT k AS media_id,
        |  CASE WHEN bad THEN '(undecodable)' ELSE 'isom' END AS brand,
        |  CAST(CASE WHEN bad THEN -1 ELSE ts END AS BIGINT) AS timescale,
        |  CAST(CASE WHEN bad THEN -1
        |       ELSE (dur * 1000) // ts END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN bad THEN -1 ELSE trk END AS INT) AS n_tracks,
        |  CAST(CASE
        |    WHEN garbage THEN LENGTH('not a video ' || CAST(k AS VARCHAR)
        |      || ', scraper bytes')
        |    WHEN bad THEN 10
        |    ELSE 63 + mvhd_box + 16 * trk + k END AS BIGINT) AS n_bytes
        |FROM a""".stripMargin
    },
    // Video QA gate (round 13 — m14's shape over decodeVideo's REAL
    // container metadata): per-ingest-check pass rates in exact ppm —
    // decodable container, ≥2 tracks (missing-stream detector),
    // timescale ≥1000 units/s, ≥2 s of media. Quarantined rows fail
    // every check (the NULL-fails-the-gate contract). Scan-stage
    // decode + stack melt + one checks-sized aggregate.
    query("m19_video_qa")((s, dir) => {
      import s.implicits._
      val df = videoFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.videoQaReport(par(df))
    }) {
      // The four video QA checks replayed from the m18 fixture formulas.
      """WITH a AS (
        |  SELECT NOT (n_nationkey % 7 = 6 OR n_nationkey % 5 = 4) AS ok,
        |    CAST(600 * (1 + n_nationkey % 3) AS BIGINT) AS ts,
        |    CAST(601 + 977 * n_nationkey AS BIGINT) AS dur,
        |    1 + n_nationkey % 3 AS trk
        |  FROM nation
        |), c AS (
        |  SELECT 'decodable' AS check_name, ok AS passed FROM a
        |  UNION ALL SELECT 'multi_track', ok AND trk >= 2 FROM a
        |  UNION ALL SELECT 'timescale1k', ok AND ts >= 1000 FROM a
        |  UNION ALL SELECT 'min_duration',
        |    ok AND (dur * 1000) // ts >= 2000 FROM a
        |)
        |SELECT check_name, CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CASE WHEN passed THEN 1 END), 0) AS BIGINT) AS n_pass,
        |  CAST(CAST(coalesce(sum(CASE WHEN passed THEN 1 END), 0) AS HUGEINT)
        |    * 1000000 // count(*) AS BIGINT) AS pass_ppm
        |FROM c GROUP BY 1""".stripMargin
    },
    // Exact video content dedup (round 13 — m15's shape over MP4
    // payloads): keeper = min media_id per byte-identical container.
    // Each fixture content is stored twice (one content, two file
    // rows); garbage contents are per-FILE distinct, so they group as
    // singletons — byte-equality grouping proven both ways.
    query("m20_video_dedup")((s, dir) => {
      import s.implicits._
      val df = videoDedupFixtureRows(s, dir).toDF("media_id", "bytes")
      par(df).groupBy(md5(col("bytes")))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
    }) {
      // The duplicate structure is the fixture's own arithmetic —
      // one content under two ids groups to (2c, 2), per-file garbage
      // stays singleton.
      """SELECT CAST(2 * n_nationkey AS BIGINT) AS keep_id,
        |  CAST(2 AS BIGINT) AS n_copies
        |FROM nation WHERE n_nationkey % 7 <> 6
        |UNION ALL
        |SELECT CAST(2 * n_nationkey AS BIGINT), CAST(1 AS BIGINT)
        |FROM nation WHERE n_nationkey % 7 = 6
        |UNION ALL
        |SELECT CAST(2 * n_nationkey + 1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM nation WHERE n_nationkey % 7 = 6""".stripMargin
    },
    // The 256-bit WEB-SCALE variant of m16 (the m11 relationship):
    // 257 time blocks → 8×32-bit bands (2³² key space — flat occupancy
    // at any realistic corpus; the 16-bit bands saturate past ~1M
    // clips, measured in SCALE.md), Hamming-≤7-of-256 pigeonhole
    // recall, exact popcount verify. Same volume-invariant fixture
    // family at 257-multiple frame counts.
    query("m17_audio_neardup_deep")((s, dir) => {
      import s.implicits._
      val df = audioPhashDeepFixtureRows(s, dir).toDF("media_id", "bytes")
      Multimodal.audioNearDupPairsDeep(par(df), maxHamming = 7)
    }) {
      """WITH keys AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
        |), files AS (
        |  SELECT 2*k + sd.s AS media_id, k, 16 - 8*sd.s AS amp,
        |    CAST(4 + k % 3 AS BIGINT) AS f
        |  FROM keys, (SELECT CAST(range AS BIGINT) AS s FROM range(2)) sd
        |), energies AS (
        |  SELECT fl.media_id, j.j // fl.f AS blk,
        |    sum(abs(((fl.k*37 + j.j*j.j*13) % 2001 - 1000) * fl.amp)) AS e
        |  FROM files fl, (SELECT CAST(range AS BIGINT) AS j FROM range(1542)) j
        |  WHERE j.j < 257*fl.f
        |  GROUP BY 1, 2
        |), bits AS (
        |  SELECT l.media_id, l.blk AS r,
        |    CASE WHEN rt.e > l.e THEN 1 ELSE 0 END AS bit
        |  FROM energies l JOIN energies rt
        |    ON l.media_id = rt.media_id AND rt.blk = l.blk + 1
        |  WHERE l.blk < 256
        |), hashes AS MATERIALIZED (
        |  SELECT media_id,
        |    CAST(sum(CASE WHEN r // 32 = 0 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(sum(CASE WHEN r // 32 = 1 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN r // 32 = 2 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN r // 32 = 3 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b3,
        |    CAST(sum(CASE WHEN r // 32 = 4 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b4,
        |    CAST(sum(CASE WHEN r // 32 = 5 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b5,
        |    CAST(sum(CASE WHEN r // 32 = 6 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b6,
        |    CAST(sum(CASE WHEN r // 32 = 7 THEN bit * (CAST(1 AS BIGINT) << CAST(r % 32 AS INT)) ELSE 0 END) AS BIGINT) AS b7
        |  FROM bits GROUP BY 1
        |), prs AS (
        |  SELECT a.media_id AS id_a, c.media_id AS id_b,
        |    CAST(bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1)) +
        |      bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) +
        |      bit_count(xor(a.b4, c.b4)) + bit_count(xor(a.b5, c.b5)) +
        |      bit_count(xor(a.b6, c.b6)) + bit_count(xor(a.b7, c.b7)) AS BIGINT) AS hamming
        |  FROM hashes a JOIN hashes c ON a.media_id < c.media_id
        |    AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3 OR
        |         a.b4 = c.b4 OR a.b5 = c.b5 OR a.b6 = c.b6 OR a.b7 = c.b7)
        |)
        |SELECT id_a, id_b, hamming FROM prs WHERE hamming <= 7""".stripMargin
    },
    // Recursive CTE (Spark 4 relational surface): shortest-hop
    // reachability from nation 0 over the g5 trade backbone — ≤3-hop
    // paths enumerated by the recursion, min-hop aggregated after
    // (SQL forbids aggregates in the recursive term). Path fan-out is
    // bounded by backbone-degree³ on a dimension-sized graph; for
    // corpus-scale closures use the dedup-per-iteration Pregel loops
    // (Graph.pageRankPpm / Dedup.connectedComponents) — recursion is
    // the SQL surface, the iterative joins are the 100 TB shape.
    query("q41_recursive_reach")((s, dir) => {
      val und = tradeEdges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"), col("w"))
        .where(col("u") =!= col("v"))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      val tot = und.agg(count(lit(1)).as("ne"), sum(col("w")).as("tw"))
      val backbone = und.crossJoin(broadcast(tot))
        .where(col("w").cast("decimal(38,0)") * col("ne") >
          col("tw").cast("decimal(38,0)"))
      // eager: the recursive CTE re-evaluates the g41_nb view plan on
      // every recursion step — left lazy, each of the 3 hops re-runs
      // the full trade-edge join + backbone filter
      val nb = backbone.select(col("u").as("n"), col("v").as("nbr"))
        .unionByName(backbone.select(col("v").as("n"), col("u").as("nbr")))
        .localCheckpoint()
      nb.createOrReplaceTempView("g41_nb")
      try s.sql("""
        WITH RECURSIVE reach(node, hops) AS (
          SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
          UNION ALL
          SELECT nb.nbr, r.hops + 1
          FROM reach r JOIN g41_nb nb ON nb.n = r.node
          WHERE r.hops < 3
        )
        SELECT node, min(hops) AS hops FROM reach GROUP BY node""")
      finally s.catalog.dropTempView("g41_nb")
    }) {
      s"""WITH RECURSIVE edges AS (
         |  $tradeEdgesSql
         |), und0 AS (
         |  SELECT least(src, dst) AS u, greatest(src, dst) AS v, CAST(sum(w) AS BIGINT) AS w
         |  FROM edges WHERE src <> dst GROUP BY 1, 2
         |), und AS (
         |  SELECT u, v FROM und0
         |  WHERE CAST(w AS HUGEINT) * (SELECT count(*) FROM und0) > (SELECT sum(w) FROM und0)
         |), nb AS MATERIALIZED (
         |  SELECT u AS n, v AS nbr FROM und UNION ALL SELECT v, u FROM und
         |), reach(node, hops) AS (
         |  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
         |  UNION ALL
         |  SELECT nb.nbr, r.hops + 1
         |  FROM reach r JOIN nb ON nb.n = r.node
         |  WHERE r.hops < 3
         |)
         |SELECT node, min(hops) AS hops FROM reach GROUP BY node""".stripMargin
    },
    // UNPIVOT (the inverse of q15's PIVOT): wide metric columns to long
    // (metric, value) rows via the stack generator — a pure scan-stage
    // explode, no shuffle.
    query("q39_unpivot")((s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_orderkey") % 100 === 0) // bound the long output
        .selectExpr("l_orderkey", "l_linenumber",
          "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice," +
            " 'discount', l_discount) AS (metric, value)")) {
      """WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, 'quantity' AS metric, CAST(l_quantity AS DOUBLE) AS value FROM f
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'extendedprice', CAST(l_extendedprice AS DOUBLE) FROM f
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', CAST(l_discount AS DOUBLE) FROM f""".stripMargin
    },
    // Order-independent table checksum over lineitem's canonical
    // columns — the migration parity audit (see Profile.tableChecksum):
    // one engine-exact (n_rows, checksum) pair per table/system.
    query("q40_table_checksum")((s, dir) =>
      Profile.tableChecksum(
        tbl(s, dir, "lineitem")
          .withColumn("l_shipdate", to_date(col("l_shipdate")).cast("string")),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "l_shipdate"))) {
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(('0x' || substr(md5('cks|' || CAST(l_orderkey AS VARCHAR) || '|' ||
        |    CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR) || '|' ||
        |    CAST(l_linenumber AS VARCHAR) || '|' || l_returnflag || '|' || l_linestatus || '|' ||
        |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR)), 1, 15))::BIGINT)
        |    % 1000000000000000000 AS BIGINT) AS checksum
        |FROM lineitem""".stripMargin
    },
    // Avro ingest round-trip through the self-contained graft-avro DSv2
    // reader (SURVEY §2.2's Avro row; reference registration shape
    // /root/reference/tests/sqllogictests/src/setup.rs:32-62): a
    // two-container-file directory derived deterministically from the
    // nation table exercises the FULL supported surface — long, nullable
    // string union, boolean, int, float, double, and the date /
    // timestamp-micros logical-type mappings — and must hash-match the
    // same derivation computed by the oracle directly over the parquet
    // table. Temporal columns are emitted as epoch days/µs longs (raw
    // timestamps never cross the oracle hash — u24/q42 convention).
    query("a1_avro_roundtrip")((s, dir) =>
      s.read.format("graft-avro").load(avroFixtureDir(s, dir))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
          col("n_flag"), col("n_small"), col("n_ratio"), col("weight"),
          datediff(col("joined_date"), lit("1970-01-01")).as("joined_days"),
          unix_micros(col("loaded_at")).as("loaded_us"))) {
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CASE WHEN n_nationkey % 3 = 0 THEN NULL ELSE n_name END AS n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  n_nationkey % 2 = 0 AS n_flag,
        |  CAST(n_nationkey * 7 AS INT) AS n_small,
        |  CAST(CAST(n_nationkey AS DOUBLE) * 0.5 AS FLOAT) AS n_ratio,
        |  CAST(n_nationkey AS DOUBLE) * 0.25 AS weight,
        |  CAST(n_nationkey AS INT) AS joined_days,
        |  CAST(1704067200000000 + CAST(n_nationkey AS BIGINT) * 1000000 AS BIGINT) AS loaded_us
        |FROM nation""".stripMargin
    },
    // JSONL round-trip — the LLM-pipeline ingestion lingua franca
    // (WARC→WET extractions, scraped corpora, eval sets all ship as
    // gzipped JSONL): the documents table is re-encoded as sharded
    // .json.gz (Spark's writer, JSON string escaping exercised for
    // real), read back with an EXPLICIT schema (never schema inference
    // — at 100 TB an inference pass is a full extra scan), and reduced
    // to a projection the oracle derives straight off the parquet
    // table, so the hash match certifies encode→decode fidelity.
    // Scale honesty: gzip is NOT splittable — parallelism is the shard
    // count (here 4 files → 4 tasks), which is exactly how production
    // lays out jsonl.gz corpora (many ~100 MB shards); a splittable
    // codec relaxes that with the IDENTICAL reader — proven in
    // SourcesSpec's bzip2 test, where ONE shard fans out into more
    // scan tasks than files.
    query("j1_jsonl_roundtrip")((s, dir) =>
      s.read
        .schema("doc_id BIGINT, source STRING, lang STRING, text STRING")
        .json(jsonlFixtureDir(s, dir))
        .select(col("doc_id"), col("source"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          substring(col("text"), 1, 16).as("head16"))) {
      """SELECT doc_id, source, lang,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  substr(text, 1, 16) AS head16
        |FROM documents""".stripMargin
    },
    // Per-registrable-domain composition report over canonicalized
    // URLs — the C4/RefinedWeb/Dolma pre-text curation stage: URL
    // normalization (case, www., default ports, utm_* params, param
    // sort, fragments, trailing slash), PSL eTLD+1 rollup (incl. the
    // 2-label suffix .co.uk), per-domain doc/distinct-URL/tracking
    // counts and exact-ppm corpus share. URLs are the deterministic
    // md5-derived fixture (syntheticUrls) both engines synthesize
    // identically. See Web.domainStats.
    query("w1_url_domains")((s, dir) =>
      graft.operators.Web.domainStats(syntheticUrls(s, dir), "url")) {
      s"""WITH $urlNormSql, g AS (
         |  SELECT reg_domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT norm_url) AS BIGINT) AS n_urls,
         |    CAST(coalesce(sum(CASE WHEN had_tracking THEN 1 END), 0) AS BIGINT) AS n_tracked
         |  FROM unrm GROUP BY 1
         |), t AS (SELECT CAST(sum(n_docs) AS HUGEINT) AS nt FROM g)
         |SELECT reg_domain, n_docs, n_urls, n_tracked,
         |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // nt AS BIGINT) AS share_ppm
         |FROM g, t""".stripMargin
    },
    // Per-domain document cap (RefinedWeb's anti-dominance rule): keep
    // at most 2 docs per registrable domain by the seeded key
    // hash60('cap|'||doc_id) — selected through a bounded mergeable
    // min-k aggregate (map-side partial), NOT a row_number window that
    // would serialize each mega-domain onto one reducer. k = 2 so the
    // cap visibly bites at sf0.01's ~3.5 docs/domain (the q44 gate
    // lesson: an operator whose filter never fires isn't tested). See
    // Web.domainCap.
    query("w2_domain_cap")((s, dir) =>
      graft.operators.Web.domainCap(syntheticUrls(s, dir), "url", "doc_id",
        k = 2)) {
      s"""WITH $urlNormSql, ck AS (
         |  SELECT reg_domain, doc_id,
         |    ('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ck
         |  FROM unrm
         |), r AS (
         |  SELECT reg_domain, doc_id,
         |    row_number() OVER (PARTITION BY reg_domain ORDER BY ck, doc_id) AS rk
         |  FROM ck
         |)
         |SELECT reg_domain, doc_id, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 2""".stripMargin
    },
    // The PRODUCTION SemDeDup rule: k derived in-plan as ⌈N/cell⌉ from
    // one count, so expected cell occupancy — and the in-cell pair work
    // Σ n_c² ≈ N·⟨cell⟩ — stays constant per document as the corpus
    // grows (the pinned-k d12 measured 22.1× at 30× data precisely
    // because occupancy grew with N). Same keeper rule and oracle shape
    // as d12, k = ⌈1000/64⌉ = 16 at sf0.01 instead of the pinned 8.
    query("d25_semdedup_cellsize")((s, dir) => {
      Dedup.semDedupByCellSize(augmentedEmb(s, dir), targetCellSize = 64,
        iters = 2, threshold = 0.95)
    }) {
      // d12's keeper rule with the PRODUCTION k AND the
      // production ASSIGNMENT: k derived in-SQL as ⌈N/64⌉ from one
      // count, points assigned through the two-level ⌈√k⌉-coarse /
      // ⌈k/⌈√k⌉⌉-fine Lloyd unroll — exactly the Scala side's
      // Dedup.semDedupByCellSize → Similarity.trainTwoLevelCellsOn
      // N·O(√k) arithmetic, cell ids and all.
      s"""WITH eIn AS (
         |  $augEmbSql
         |), $quantEmbSql, ${ivfTwoLevel2Sql(64)}, lbl AS (
         |  SELECT qn.vec_id, a2.cell, qn.qv, qn.n2 FROM qn JOIN a2 USING (vec_id)
         |), dups AS (
         |  SELECT DISTINCT b.vec_id FROM lbl a JOIN lbl b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  AND $dotCosSql >= 0.95
         |)
         |SELECT l.vec_id, l.cell FROM lbl l LEFT JOIN dups d ON l.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL""".stripMargin
    },
    // End-to-end WEB curation funnel — the release report of the
    // pre-text web stage (the q44/m8 shape for URLs): ingest →
    // scan-stage canonicalization → broadcast blocklist gate (3 fixed
    // registrable domains) → canonical-URL exact dedup (min-doc_id
    // keeper per norm_url AMONG gate survivors — hash exchange 1) →
    // per-domain cap at 2 (computed from the domain aggregate's keeper
    // counts as Σ least(c, 2) — hash exchange 2; no per-doc cap
    // materialization, the report only needs counts) → one 4-row
    // (stage, n_docs, n_domains) table from a single plan. Two hash
    // exchanges total regardless of corpus size.
    query("w3_web_funnel")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val blocked = Seq("site0.com", "site7.co.uk", "site12.io")
      val n = graft.operators.Web
        .normalizeUrls(syntheticUrls(s, dir), "url")
        .withColumn("reg_domain",
          graft.operators.Web.registrableDomain(col("host")))
        .withColumn("_ok", !col("reg_domain").isin(blocked: _*))
      val w = Window.partitionBy(col("norm_url"), col("_ok"))
        .orderBy(col("doc_id"))
      val flagged = n.withColumn("_keep_url",
        col("_ok") && row_number().over(w) === 1)
      val perDomain = flagged.groupBy(col("reg_domain"))
        .agg(count(lit(1)).as("_dn"),
          sum(when(col("_ok"), 1L).otherwise(0L)).as("_dnb"),
          sum(when(col("_keep_url"), 1L).otherwise(0L)).as("_dku"))
      val tot = perDomain.agg(
        sum(col("_dn")).as("_n1"), count(lit(1)).as("_m1"),
        sum(col("_dnb")).as("_n2"),
        sum(when(col("_dnb") > 0, 1L).otherwise(0L)).as("_m2"),
        sum(col("_dku")).as("_n3"),
        sum(when(col("_dku") > 0, 1L).otherwise(0L)).as("_m3"),
        sum(least(col("_dku"), lit(2L))).as("_n4"))
      tot.selectExpr(
        """stack(4,
          |  '1_ingested', _n1, _m1,
          |  '2_blocklist', _n2, _m2,
          |  '3_url_dedup', _n3, _m3,
          |  '4_domain_cap', _n4, _m3
          |) AS (stage, n_docs, n_domains)""".stripMargin)
        .select(col("stage"), col("n_docs").cast("long").as("n_docs"),
          col("n_domains").cast("long").as("n_domains"))
    }) {
      s"""WITH $urlNormSql, fl AS (
         |  SELECT doc_id, norm_url, reg_domain,
         |    reg_domain NOT IN ('site0.com', 'site7.co.uk', 'site12.io') AS ok
         |  FROM unrm
         |), ku AS (
         |  SELECT reg_domain, ok,
         |    ok AND row_number() OVER (PARTITION BY norm_url, ok ORDER BY doc_id) = 1 AS keep_url
         |  FROM fl
         |), pd AS (
         |  SELECT reg_domain, CAST(count(*) AS BIGINT) AS dn,
         |    CAST(coalesce(sum(CASE WHEN ok THEN 1 END), 0) AS BIGINT) AS dnb,
         |    CAST(coalesce(sum(CASE WHEN keep_url THEN 1 END), 0) AS BIGINT) AS dku
         |  FROM ku GROUP BY 1
         |), t AS (
         |  SELECT CAST(sum(dn) AS BIGINT) AS n1, CAST(count(*) AS BIGINT) AS m1,
         |    CAST(sum(dnb) AS BIGINT) AS n2,
         |    CAST(coalesce(sum(CASE WHEN dnb > 0 THEN 1 END), 0) AS BIGINT) AS m2,
         |    CAST(sum(dku) AS BIGINT) AS n3,
         |    CAST(coalesce(sum(CASE WHEN dku > 0 THEN 1 END), 0) AS BIGINT) AS m3,
         |    CAST(sum(least(dku, 2)) AS BIGINT) AS n4
         |  FROM pd
         |)
         |SELECT '1_ingested' AS stage, n1 AS n_docs, m1 AS n_domains FROM t
         |UNION ALL SELECT '2_blocklist', n2, m2 FROM t
         |UNION ALL SELECT '3_url_dedup', n3, m3 FROM t
         |UNION ALL SELECT '4_domain_cap', n4, m3 FROM t""".stripMargin
    },
    // Real-PSL three-rule eTLD+1 (round 12 — the Mozilla list is ~9k
    // plain suffixes PLUS ~1k wildcard (*.ck: any single label under ck
    // is itself a public suffix) and exception (!www.ck: NOT a public
    // suffix despite the wildcard — it IS the registrable domain) rules;
    // treating those as literal suffixes silently mis-roots whole ccTLDs
    // (.ck, the .jp city domains) in every domain cap and blocklist.
    // The fixture synthesizes hosts from the canonical published PSL
    // test-case shapes (www.ck, a.b.test.ck, city.kobe.jp, …) via the
    // a1/m7 md5 discipline; BOTH implementations — the ≤16-rule
    // when-chain and the data-driven native expression — are emitted as
    // columns, so the oracle's single CASE chain hash-pins chain ≡
    // native ≡ SQL on every host. See Web.registrableDomain /
    // functions.RegistrableDomainExpr.
    query("w4_psl_domains")((s, dir) =>
      pslHosts(s, dir).select(col("doc_id"), col("host"),
        graft.operators.Web.registrableDomain(col("host"), pslThreeRules)
          .as("rd_chain"),
        graft.functions.RegistrableDomainExpr(col("host"), pslThreeRules)
          .as("rd_native"))) {
      // the three-rule PSL match replayed as ONE ordered CASE chain —
      // exceptions first (they prevail), then rules by effective
      // public-suffix label count (a wildcard counts one more than its
      // spelled parent; bare ⟨label⟩.parent is its own domain, the
      // two-label extract yields '' on empty labels) — emitted for both
      // output columns so chain ≡ native ≡ SQL is hash-enforced
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('psl|' || CAST(doc_id % 200 AS VARCHAR)), 1, 15))::BIGINT AS h1
        |  FROM documents
        |), hosts AS (
        |  SELECT doc_id,
        |    (['', 'www.', 'a.', 'x.y.', 'blog.'])[CAST(h1 % 5 AS INT) + 1] ||
        |    (['test', 'site7', 'www', 'city', 'example'])[CAST((h1 // 5) % 5 AS INT) + 1] ||
        |    (['.com', '.co.uk', '.ck', '.jp', '.kyoto.jp', '.kobe.jp', '.us', '.example'])[CAST((h1 // 25) % 8 AS INT) + 1]
        |    AS host
        |  FROM h
        |), rd AS (
        |  SELECT doc_id, host,
        |    CASE
        |      WHEN host = 'www.ck' OR host LIKE '%.www.ck' THEN 'www.ck'
        |      WHEN host = 'city.kobe.jp' OR host LIKE '%.city.kobe.jp' THEN 'city.kobe.jp'
        |      WHEN host LIKE '%.kobe.jp' THEN
        |        CASE WHEN regexp_matches(host, '^[^.]+\.kobe\.jp$') THEN host
        |             ELSE regexp_extract(host, '([^.]+\.[^.]+\.kobe\.jp)$', 1) END
        |      WHEN host LIKE '%.kyoto.jp' THEN regexp_extract(host, '([^.]+\.kyoto\.jp)$', 1)
        |      WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
        |      WHEN host LIKE '%.ck' THEN
        |        CASE WHEN regexp_matches(host, '^[^.]+\.ck$') THEN host
        |             ELSE regexp_extract(host, '([^.]+\.[^.]+\.ck)$', 1) END
        |      WHEN host LIKE '%.com' THEN regexp_extract(host, '([^.]+\.com)$', 1)
        |      WHEN host LIKE '%.jp' THEN regexp_extract(host, '([^.]+\.jp)$', 1)
        |      WHEN host LIKE '%.us' THEN regexp_extract(host, '([^.]+\.us)$', 1)
        |      ELSE host
        |    END AS rd
        |  FROM hosts
        |)
        |SELECT doc_id, host, rd AS rd_chain, rd AS rd_native FROM rd""".stripMargin
    },
    // PSL rule-class composition (round 12 — the crawl audit that
    // explains a domain report before anyone debugs it: how much of the
    // corpus roots under exception rules, wildcard rules, plain
    // suffixes, or nothing; Web.pslRuleClass shares registrableDomain's
    // branch order VERBATIM so the two chains cannot disagree about the
    // prevailing rule). One hash aggregate + a 1-row broadcast total,
    // shares in exact ppm.
    query("w5_psl_rule_classes")((s, dir) => {
      val g = pslHosts(s, dir)
        .select(col("host"),
          graft.operators.Web.pslRuleClass(col("host"), pslThreeRules)
            .as("rule_class"))
        .groupBy(col("rule_class"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
      val tot = g.agg(sum(col("n_docs")).as("_nt"))
      g.crossJoin(broadcast(tot))
        .select(col("rule_class"), col("n_docs"), col("n_hosts"),
          expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div _nt AS BIGINT)")
            .as("share_ppm"))
    }) {
      // the class chain replays the SAME branch order as w4's value
      // chain, emitting labels — and the report tail is w1's
      // count/ppm discipline
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('psl|' || CAST(doc_id % 200 AS VARCHAR)), 1, 15))::BIGINT AS h1
        |  FROM documents
        |), hosts AS (
        |  SELECT doc_id,
        |    (['', 'www.', 'a.', 'x.y.', 'blog.'])[CAST(h1 % 5 AS INT) + 1] ||
        |    (['test', 'site7', 'www', 'city', 'example'])[CAST((h1 // 5) % 5 AS INT) + 1] ||
        |    (['.com', '.co.uk', '.ck', '.jp', '.kyoto.jp', '.kobe.jp', '.us', '.example'])[CAST((h1 // 25) % 8 AS INT) + 1]
        |    AS host
        |  FROM h
        |), cls AS (
        |  SELECT host,
        |    CASE
        |      WHEN host = 'www.ck' OR host LIKE '%.www.ck' THEN 'exception'
        |      WHEN host = 'city.kobe.jp' OR host LIKE '%.city.kobe.jp' THEN 'exception'
        |      WHEN host LIKE '%.kobe.jp' THEN 'wildcard'
        |      WHEN host LIKE '%.kyoto.jp' THEN 'plain'
        |      WHEN host LIKE '%.co.uk' THEN 'plain'
        |      WHEN host LIKE '%.ck' THEN 'wildcard'
        |      WHEN host LIKE '%.com' THEN 'plain'
        |      WHEN host LIKE '%.jp' THEN 'plain'
        |      WHEN host LIKE '%.us' THEN 'plain'
        |      ELSE 'none'
        |    END AS rule_class
        |  FROM hosts
        |), g AS (
        |  SELECT rule_class, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        |  FROM cls GROUP BY 1
        |), t AS (SELECT CAST(sum(n_docs) AS HUGEINT) AS nt FROM g)
        |SELECT rule_class, n_docs, n_hosts,
        |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // nt AS BIGINT) AS share_ppm
        |FROM g, t""".stripMargin
    },
    // RFC 9309 robots.txt verdicts (round 13 — the crawl-politeness
    // twin of the PSL story: rules arrive through Web.loadRobotsRules'
    // published-format parser, precedence is the RFC's longest-spelled-
    // pattern-wins with Allow beating Disallow at ties, matching is
    // octet-exact prefix with * any-run and trailing-$ end anchor over
    // the RAW path-plus-query — robots run at ingest, before
    // canonicalization). Both implementations emitted side by side —
    // the ≤16-rule when-chain of codegen'd startswith/rlike probes and
    // the data-driven native expression — so the oracle's single
    // ordered CASE hash-pins chain ≡ native ≡ SQL on every document.
    query("w6_robots_verdicts")((s, dir) => {
      val rules = graftRobotsRules
      syntheticUrls(s, dir)
        .select(col("doc_id"),
          regexp_extract(col("url"), rawPathQueryRe, 1).as("path"))
        .withColumn("rule_idx_chain",
          graft.operators.Web.robotsPrevailingRule(col("path"), rules))
        .withColumn("rule_idx_native",
          graft.functions.RobotsMatchExpr(col("path"),
            rules.map(r => (r.allow, r.path))))
        .select(col("doc_id"), col("path"),
          col("rule_idx_chain"), col("rule_idx_native"),
          graft.operators.Web.robotsAllowed(col("rule_idx_chain"), rules)
            .as("allowed"))
    }) {
      // the robots chain replayed as ONE ordered CASE over the raw
      // spelled path-plus-query — robotsCaseSql emits Web.robotsOrder's
      // precedence and Web.robotsGlobRegex's Java/RE2-identical regex
      // spelling, so chain ≡ native ≡ SQL is hash-enforced per document
      s"""WITH $urlSynthSql, pq AS (
         |  SELECT doc_id,
         |    regexp_extract(url, '$rawPathQueryRe', 1) AS path
         |  FROM uu
         |), v AS (
         |  SELECT doc_id, path, ${robotsCaseSql(graftRobotsRules)} AS ri
         |  FROM pq
         |)
         |SELECT doc_id, path, ri AS rule_idx_chain, ri AS rule_idx_native,
         |  ${robotsAllowSql(graftRobotsRules)} AS allowed
         |FROM v""".stripMargin
    },
    // Crawl-admission audit (round 13 — the w5 shape for robots: which
    // rule decided how much of the corpus, so a blocked-share report is
    // explainable without re-running the match): ONE prevailing-rule
    // index per document (verdict and label are O(1) array probes on
    // it), one hash aggregate on (rule, verdict), 1-row broadcast
    // total, shares in exact ppm.
    query("w7_robots_gate")((s, dir) => {
      val rules = graftRobotsRules
      val v = syntheticUrls(s, dir)
        .select(regexp_extract(col("url"), rawPathQueryRe, 1).as("path"))
        .withColumn("_ri",
          graft.operators.Web.robotsPrevailingRule(col("path"), rules))
        .select(col("path"),
          graft.operators.Web.robotsAllowed(col("_ri"), rules).as("allowed"),
          graft.operators.Web.robotsRuleLabel(col("_ri"), rules).as("rule"))
      val g = v.groupBy(col("rule"), col("allowed"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("path")).as("n_paths"))
      val tot = g.agg(sum(col("n_docs")).as("_nt"))
      g.crossJoin(broadcast(tot))
        .select(col("rule"), col("allowed"), col("n_docs"), col("n_paths"),
          expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div _nt AS BIGINT)")
            .as("share_ppm"))
    }) {
      // w6's verdict CASE + the w1/w5 count/ppm report tail
      s"""WITH $urlSynthSql, pq AS (
         |  SELECT regexp_extract(url, '$rawPathQueryRe', 1) AS path
         |  FROM uu
         |), v AS (
         |  SELECT path, ${robotsCaseSql(graftRobotsRules)} AS ri FROM pq
         |), lbl AS (
         |  SELECT path,
         |    ${robotsAllowSql(graftRobotsRules)} AS allowed,
         |    ${robotsLabelSql(graftRobotsRules)} AS rule
         |  FROM v
         |), g AS (
         |  SELECT rule, allowed, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT path) AS BIGINT) AS n_paths
         |  FROM lbl GROUP BY 1, 2
         |), t AS (SELECT CAST(sum(n_docs) AS HUGEINT) AS nt FROM g)
         |SELECT rule, allowed, n_docs, n_paths,
         |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // nt AS BIGINT) AS share_ppm
         |FROM g, t""".stripMargin
    },
    // Incremental (frozen-index) SemDeDup — the day-to-day production
    // form: the accepted corpus (vec_id % 5 != 0) trains the k-means
    // index ONCE; the incoming batch (fresh vectors + constructed near-
    // copies of accepted AND of fresh vectors, the d11 fixture shape)
    // is assigned against the frozen centers and screened in-cell
    // against the corpus (drop) and against lower-id batch members
    // (first occurrence wins) — the corpus is never re-clustered or
    // re-shuffled. See Dedup.semDedupIncrementalNew.
    query("d31_incremental_semdedup")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val near = transform(col("embedding"), x => x * 1.1 + 0.01)
      val corpus = par(e.where(col("vec_id") % 5 =!= 0))
      val fresh = e.where(col("vec_id") % 5 === 0)
      val incoming = par(fresh
        .unionByName(corpus.where(col("vec_id") % 10 === 1)
          .select((col("vec_id") + 1000000).as("vec_id"), near.as("embedding")))
        .unionByName(fresh.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 2000000).as("vec_id"), near.as("embedding"))))
      Dedup.semDedupIncrementalNew(incoming, corpus, k = 8, iters = 2,
        threshold = 0.95)
    }) {
      // Lloyd trains on the ACCEPTED corpus only (eIn → qn), one extra
      // mean update past a2 yields the final index centers (c2n — the
      // build-ends-with-an-update contract), both sides are assigned
      // against those frozen centers, and the keeper rule drops a new
      // vector with an accepted in-cell neighbor or a lower-id new
      // in-cell neighbor.
      s"""WITH eIn AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
         |  WHERE vec_id % 5 != 0
         |), newE AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
         |  WHERE vec_id % 5 = 0
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01)
         |  FROM embeddings WHERE vec_id % 5 != 0 AND vec_id % 10 = 1
         |  UNION ALL
         |  SELECT vec_id + 2000000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01)
         |  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 10 = 0
         |), $quantEmbSql, ${ivfLloyd2Sql(8)}, c2d AS (
         |  SELECT a.cell, d, sum(q.qv[d]) AS sv, count(*) AS cnt
         |  FROM a2 a JOIN qn q USING (vec_id),
         |       (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
         |  GROUP BY 1, 2
         |), c2 AS (
         |  SELECT cell, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
         |  FROM c2d GROUP BY 1
         |), c2n AS MATERIALIZED (
         |  SELECT cell, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM c2
         |), qw AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM newE
         |), qnw AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM qw
         |), ao AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
         |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
         |    FROM qn q CROSS JOIN c2n c)
         |  WHERE rn = 1
         |), an AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
         |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
         |    FROM qnw q CROSS JOIN c2n c)
         |  WHERE rn = 1
         |), lo AS MATERIALIZED (
         |  SELECT q.vec_id, a.cell, q.qv, q.n2 FROM qn q JOIN ao a USING (vec_id)
         |), lw AS MATERIALIZED (
         |  SELECT q.vec_id, a.cell, q.qv, q.n2 FROM qnw q JOIN an a USING (vec_id)
         |), dups AS (
         |  SELECT DISTINCT a.vec_id FROM lw a JOIN lo b
         |  ON a.cell = b.cell AND $dotCosSql >= 0.95
         |  UNION
         |  SELECT DISTINCT b.vec_id FROM lw a JOIN lw b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  AND $dotCosSql >= 0.95
         |)
         |SELECT l.vec_id, l.cell FROM lw l LEFT JOIN dups d ON l.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL""".stripMargin
    },
    // SEMANTIC decontamination — the embedding-cosine complement of
    // d7/d9's n-gram screens and d27's eval coverage: paraphrased eval
    // leakage shares no 8-gram but sits at high cosine. Eval fixture:
    // near-copies (contaminated probes, must flag their sources) +
    // negated vectors (cos −1 with their sources — structurally clean
    // against them). Eval broadcast, train corpus never shuffled,
    // threshold screen before the argmax. See
    // Decontaminate.semanticReport.
    query("d33_semantic_decontam")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val evalSet = e.where(col("vec_id") % 83 === 0)
        .select(col("vec_id").as("eval_id"),
          transform(col("embedding"), x => x * 1.1 + 0.01).as("embedding"))
        .unionByName(e.where(col("vec_id") % 83 === 41)
          .select((col("vec_id") + 500000).as("eval_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      graft.operators.Decontaminate.semanticReport(par(e), evalSet,
        threshold = 0.95)
    }) {
      s"""WITH eIn AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
         |), $quantEmbSql, ev AS (
         |  SELECT vec_id AS eval_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01) AS embedding
         |  FROM embeddings WHERE vec_id % 83 = 0
         |  UNION ALL
         |  SELECT vec_id + 500000, list_transform(embedding, x -> -CAST(x AS DOUBLE))
         |  FROM embeddings WHERE vec_id % 83 = 41
         |), eq0 AS (
         |  SELECT eval_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM ev
         |), eqn AS (
         |  SELECT eval_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM eq0
         |), pr AS (
         |  SELECT t.vec_id, e.eval_id,
         |    CAST(list_sum(list_transform(range(1, 65), d -> t.qv[CAST(d AS INT)] * e.qv[CAST(d AS INT)])) AS DOUBLE)
         |      / (sqrt(CAST(t.n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE))) AS cos
         |  FROM qn t CROSS JOIN eqn e
         |), fl AS (
         |  SELECT vec_id, eval_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn
         |  FROM pr WHERE cos >= 0.95
         |)
         |SELECT vec_id, eval_id, round(cos, 6) AS cos FROM fl WHERE rn = 1""".stripMargin
    },
    // The banded form of d33 — the posture when the EVAL side outgrows
    // broadcast-every-pair comfort: both sides take their 16-plane
    // sign-LSH bucket and candidates are the shared-bucket pairs, so
    // per-train work is bucket occupancy instead of |eval|. Single-
    // probe recall contract (flagged ⊆ d33's flagged — a near pair
    // split by one hyperplane is missed); the oracle replays the SAME
    // banding, so the contract is hash-exact, not approximate-vs-
    // brute. Same fixture as d33: near-copy probes overwhelmingly
    // land in their source's bucket (sign sketches are nearly
    // scale-invariant; the +0.01 shift can flip a near-zero plane —
    // exactly the single-probe miss the contract names); negated
    // vectors land in the complement bucket and stay clean. See
    // Decontaminate.semanticReportBanded.
    query("d35_semantic_decontam_banded")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val evalSet = e.where(col("vec_id") % 83 === 0)
        .select(col("vec_id").as("eval_id"),
          transform(col("embedding"), x => x * 1.1 + 0.01).as("embedding"))
        .unionByName(e.where(col("vec_id") % 83 === 41)
          .select((col("vec_id") + 500000).as("eval_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      graft.operators.Decontaminate.semanticReportBanded(par(e), evalSet,
        threshold = 0.95)
    }) {
      // d33 with the 16-plane sign-LSH banding unrolled on BOTH
      // sides — the w/dots/bkt CTEs are the s2 recipe at 16 planes,
      // the pair source is the shared-bucket equi-join instead of the
      // cross join, and the argmax tail is identical.
      s"""WITH eIn AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
         |), $quantEmbSql, w AS (
         |  ${signPlanesSql(16)}
         |), tdots AS (
         |  SELECT qn.vec_id, w.p,
         |    list_sum(list_transform(range(1, 65), d -> qn.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) AS dp
         |  FROM qn, w
         |), tbkt AS (
         |  SELECT vec_id, CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM tdots GROUP BY vec_id
         |), tq AS MATERIALIZED (
         |  SELECT qn.vec_id, qn.qv, qn.n2, tbkt.bucket FROM qn JOIN tbkt USING (vec_id)
         |), ev AS (
         |  SELECT vec_id AS eval_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01) AS embedding
         |  FROM embeddings WHERE vec_id % 83 = 0
         |  UNION ALL
         |  SELECT vec_id + 500000, list_transform(embedding, x -> -CAST(x AS DOUBLE))
         |  FROM embeddings WHERE vec_id % 83 = 41
         |), eq0 AS (
         |  SELECT eval_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM ev
         |), eqn AS (
         |  SELECT eval_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM eq0
         |), edots AS (
         |  SELECT eqn.eval_id, w.p,
         |    list_sum(list_transform(range(1, 65), d -> eqn.qv[CAST(d AS INT)] * w.wv[CAST(d AS INT)])) AS dp
         |  FROM eqn, w
         |), ebkt AS (
         |  SELECT eval_id, CAST(sum(CASE WHEN dp >= 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM edots GROUP BY eval_id
         |), eq AS MATERIALIZED (
         |  SELECT eqn.eval_id, eqn.qv, eqn.n2, ebkt.bucket FROM eqn JOIN ebkt USING (eval_id)
         |), pr AS (
         |  SELECT t.vec_id, e.eval_id,
         |    CAST(list_sum(list_transform(range(1, 65), d -> t.qv[CAST(d AS INT)] * e.qv[CAST(d AS INT)])) AS DOUBLE)
         |      / (sqrt(CAST(t.n2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE))) AS cos
         |  FROM tq t JOIN eq e ON t.bucket = e.bucket
         |), fl AS (
         |  SELECT vec_id, eval_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn
         |  FROM pr WHERE cos >= 0.95
         |)
         |SELECT vec_id, eval_id, round(cos, 6) AS cos FROM fl WHERE rn = 1""".stripMargin
    },
    // The PRODUCTION incremental form: same fixture as d31, but k is
    // derived as ⌈N/64⌉ from one corpus count (occupancy — and the
    // per-batch screen work — constant as the corpus grows) and BOTH
    // the index build and every assignment ride the frozen two-level
    // hierarchy (coarse ⌈√k⌉ broadcast, fine equi-joined on the coarse
    // cell — N·O(√k) dots, never flat Lloyd's N·k). See
    // Dedup.semDedupIncrementalNewByCellSize.
    query("d32_incr_semdedup_cellsize")((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val near = transform(col("embedding"), x => x * 1.1 + 0.01)
      val corpus = par(e.where(col("vec_id") % 5 =!= 0))
      val fresh = e.where(col("vec_id") % 5 === 0)
      val incoming = par(fresh
        .unionByName(corpus.where(col("vec_id") % 10 === 1)
          .select((col("vec_id") + 1000000).as("vec_id"), near.as("embedding")))
        .unionByName(fresh.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 2000000).as("vec_id"), near.as("embedding"))))
      Dedup.semDedupIncrementalNewByCellSize(incoming, corpus,
        targetCellSize = 64, iters = 2, threshold = 0.95)
    }) {
      // d31's two-screen keeper rule with both sides probed through the
      // frozen two-level index (the ivfTwoLevelFrozenExtSql chain).
      s"""WITH eIn AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
         |  WHERE vec_id % 5 != 0
         |), newE AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
         |  WHERE vec_id % 5 = 0
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01)
         |  FROM embeddings WHERE vec_id % 5 != 0 AND vec_id % 10 = 1
         |  UNION ALL
         |  SELECT vec_id + 2000000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01)
         |  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 10 = 0
         |), $quantEmbSql, qw AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         |  FROM newE
         |), qnw AS (
         |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM qw
         |), ${ivfTwoLevel2Sql(64)}, $ivfTwoLevelFrozenExtSql, lo AS MATERIALIZED (
         |  SELECT q.vec_id, a.cell, q.qv, q.n2 FROM qn q JOIN po a USING (vec_id)
         |), lw AS MATERIALIZED (
         |  SELECT q.vec_id, a.cell, q.qv, q.n2 FROM qnw q JOIN pw a USING (vec_id)
         |), dups AS (
         |  SELECT DISTINCT a.vec_id FROM lw a JOIN lo b
         |  ON a.cell = b.cell AND $dotCosSql >= 0.95
         |  UNION
         |  SELECT DISTINCT b.vec_id FROM lw a JOIN lw b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  AND $dotCosSql >= 0.95
         |)
         |SELECT l.vec_id, l.cell FROM lw l LEFT JOIN dups d ON l.vec_id = d.vec_id
         |WHERE d.vec_id IS NULL""".stripMargin
    },
    // End-to-end curation FUNNEL — the release report a training-data
    // pipeline actually publishes: language gate (t3's heuristic) →
    // quality gate (t2's score, micro-quantized ≥ 0.6 — the corpus spans
    // 0.52-0.70 with median 0.63, so the gate visibly bites) → exact dedup
    // (min-id keeper per content hash AMONG gate survivors) → p1's
    // deterministic 90/5/5 split, all ONE composed plan with fixed
    // 7-row (stage, n_docs, n_tokens) output. Plan: one scan projection
    // computes every per-doc signal, one content-hash window picks
    // keepers, one global aggregate with conditional sums, stack()
    // unpivots the 1-row result — two shuffles total regardless of
    // corpus size.
    query("q44_curation_funnel")((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val flags = Split.assignSplit(
          par(tbl(s, dir, "documents")).select(col("doc_id"), col("text")),
          "doc_id")
        .select(col("doc_id"), col("split"),
          Text.langId(col("text")).as("_lang"),
          round(Text.qualityScore(col("text")) * 1e6).cast("long").as("_qm"),
          Text.docHash(col("text")).as("_h"),
          Text.tokenCount(col("text")).cast("long").as("_nt"))
        .withColumn("_l2", col("_lang") === "en" && col("_qm") >= 600000L)
        .withColumn("_keep",
          min(when(col("_l2"), col("doc_id")))
            .over(Window.partitionBy(col("_h"))))
        .withColumn("_l3", col("_l2") && col("doc_id") === col("_keep"))
      def stageAgg(cond: org.apache.spark.sql.Column, n: String, t: String) = Seq(
        count(when(cond, 1)).as(n),
        coalesce(sum(when(cond, col("_nt"))), lit(0L)).as(t))
      val wide = flags.agg(
        count(lit(1)).as("raw_n"),
        (coalesce(sum(col("_nt")), lit(0L)).as("raw_t") +:
          (stageAgg(col("_lang") === "en", "lang_n", "lang_t") ++
            stageAgg(col("_l2"), "q_n", "q_t") ++
            stageAgg(col("_l3"), "d_n", "d_t") ++
            stageAgg(col("_l3") && col("split") === "train", "tr_n", "tr_t") ++
            stageAgg(col("_l3") && col("split") === "val", "va_n", "va_t") ++
            stageAgg(col("_l3") && col("split") === "test", "te_n", "te_t"))): _*)
      wide.selectExpr(
        """stack(7,
          |  'raw', raw_n, raw_t, 'lang_en', lang_n, lang_t,
          |  'quality', q_n, q_t, 'dedup', d_n, d_t,
          |  'split_train', tr_n, tr_t, 'split_val', va_n, va_t,
          |  'split_test', te_n, te_t) AS (stage, n_docs, n_tokens)""".stripMargin)
    }) {
      // Chains the PROVEN t3 (langid), t2/t23 (quality micro), d1
      // (content-hash keeper) and p1 (md5 split bucket) fragments into
      // one funnel; fixed 7-row shape via conditional aggregates (never
      // GROUP BY a possibly-empty stage).
      raw"""WITH t AS (
           |  SELECT doc_id, text,
           |    regexp_extract_all(text, '[a-zA-Z0-9'']+') AS toks,
           |    regexp_extract_all(lower(text), '[a-zA-Z0-9'']+') AS ltoks,
           |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
           |  FROM documents
           |), m AS (
           |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt, md5(norm) AS h,
           |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b,
           |    $stopCountsSql,
           |    $qualityRatiosSql
           |  FROM t
           |), f AS (
           |  SELECT doc_id, nt, h,
           |    CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
           |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
           |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
           |         WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred,
           |    CAST(round(round(least(1.0, CAST(len(toks) AS DOUBLE) / 200.0) * 0.25 + alpha_ratio * 0.25 +
           |      (1.0 - stop_ratio) * 0.2 + least(1.0, awl / 8.0) * 0.3, 6) * 1000000) AS BIGINT) AS qm,
           |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
           |  FROM m JOIN t USING (doc_id)
           |), g AS (
           |  SELECT *, lang_pred = 'en' AND qm >= 600000 AS l2 FROM f
           |), k AS (
           |  SELECT *, l2 AND doc_id = min(CASE WHEN l2 THEN doc_id END) OVER (PARTITION BY h) AS l3 FROM g
           |)
           |SELECT 'raw' AS stage, count(*) AS n_docs, CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_tokens FROM k
           |UNION ALL SELECT 'lang_en', count(*) FILTER (WHERE lang_pred = 'en'),
           |  CAST(coalesce(sum(nt) FILTER (WHERE lang_pred = 'en'), 0) AS BIGINT) FROM k
           |UNION ALL SELECT 'quality', count(*) FILTER (WHERE l2),
           |  CAST(coalesce(sum(nt) FILTER (WHERE l2), 0) AS BIGINT) FROM k
           |UNION ALL SELECT 'dedup', count(*) FILTER (WHERE l3),
           |  CAST(coalesce(sum(nt) FILTER (WHERE l3), 0) AS BIGINT) FROM k
           |UNION ALL SELECT 'split_train', count(*) FILTER (WHERE l3 AND split = 'train'),
           |  CAST(coalesce(sum(nt) FILTER (WHERE l3 AND split = 'train'), 0) AS BIGINT) FROM k
           |UNION ALL SELECT 'split_val', count(*) FILTER (WHERE l3 AND split = 'val'),
           |  CAST(coalesce(sum(nt) FILTER (WHERE l3 AND split = 'val'), 0) AS BIGINT) FROM k
           |UNION ALL SELECT 'split_test', count(*) FILTER (WHERE l3 AND split = 'test'),
           |  CAST(coalesce(sum(nt) FILTER (WHERE l3 AND split = 'test'), 0) AS BIGINT) FROM k""".stripMargin
    },
    // Winnowing (MOSS) local-fingerprint overlap pairs over the excerpt
    // corpus: k=8-char gram hashes, w=4 window minima, hot fingerprints
    // (df > 64) dropped from matching, pairs kept at containment-style
    // overlap ≥ 500,000 ppm — the LOCAL-overlap complement to d2/d4's
    // whole-document similarity (the constructed 200-char excerpts score
    // ≥ ~689k ppm against their sources; unrelated template docs p99.9
    // ≈ 228k — probed in DuckDB before shipping).
    query("d26_winnowing")((s, dir) => {
      Dedup.winnowingPairs(excerptDocs(s, dir), k = 8, w = 4, dfCap = 64,
        minOverlapPpm = 500000L)
    }) {
      // Replays winnowing end-to-end: the t4 gram-hash idiom, window
      // minima via list slicing, df-banded keep [2, 64], containment
      // normalization with // (non-negative → matches Spark div).
      """WITH exc AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 31, 200) FROM documents
        |  WHERE length(text) >= 231
        |), n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM exc
        |), g AS (
        |  SELECT doc_id, list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
        |    i -> ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 15))::BIGINT) AS gh
        |  FROM n
        |), fp AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(gh) - 3, 1) + 1),
        |      j -> list_min(gh[CAST(j AS INT):CAST(j AS INT) + 3]))) AS fp
        |  FROM g
        |), sizes AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nf FROM fp GROUP BY 1
        |), dfs AS (
        |  SELECT fp, count(*) AS df FROM fp GROUP BY 1
        |), keep AS (
        |  SELECT fp.doc_id, fp.fp FROM fp JOIN dfs USING (fp) WHERE df BETWEEN 2 AND 64
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, n_shared,
        |  CAST(n_shared * 1000000 // least(sa.nf, sb.nf) AS BIGINT) AS overlap_ppm
        |FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id JOIN sizes sb ON p.id_b = sb.doc_id
        |WHERE n_shared * 1000000 // least(sa.nf, sb.nf) >= 500000""".stripMargin
    },
    // Okapi BM25 top-20 against a fixed query bag — the retrieval-based
    // data-selection primitive ("pull the subset that matches this
    // domain description"). Exact integer-rational scoring: k1=1.2,
    // b=0.75 cleared of all fractions over DECIMAL(38,0), idf
    // micro-quantized from ONE ln of an integer ratio; top-k rides
    // TakeOrderedAndProject, never a corpus-wide ordered window.
    query("t41_bm25_topk")((s, dir) =>
      Vocab.bm25TopK(par(tbl(s, dir, "documents")),
        Seq("spark", "window", "stream", "hash"), k = 20)) {
      // Replays the cleared-fraction BM25 rational in HUGEINT: with
      // k1=1.2 b=0.75, contribution = idf_micro·22·S·tf // (10·S·tf +
      // 3·S + 9·dl·N); idf = Lucene's ln(1+(N−df+½)/(df+½)) =
      // ln((2N+2)/(2df+1)), always positive so // == div.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), dl AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
        |), ns AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS s_tokens FROM dl
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE term IN ('spark', 'window', 'stream', 'hash') GROUP BY 1, 2
        |), dfs AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), idf AS (
        |  SELECT term, CAST(round(ln(CAST(2 * n_docs + 2 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS idf_micro
        |  FROM dfs CROSS JOIN ns
        |), scored AS (
        |  SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |    CAST(sum(CAST((CAST(idf_micro AS HUGEINT) * 22 * s_tokens * tf)
        |      // (CAST(10 AS HUGEINT) * s_tokens * tf + CAST(3 AS HUGEINT) * s_tokens
        |         + CAST(9 AS HUGEINT) * dl.dl * n_docs) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM tf JOIN idf USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN ns
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT doc_id, n_hits, score_micro,
        |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, n_hits, score_micro, rank FROM ranked WHERE rank <= 20""".stripMargin
    },
    // DSIR importance log-weights (target = the src7 slice): add-one
    // unigram target/corpus models full-outer-merged into one vocab
    // table, per-token log-likelihood-ratio micro-quantized BEFORE the
    // per-doc sum so the weight is engine- and partition-exact.
    query("t42_dsir_weights")((s, dir) => {
      val d = par(tbl(s, dir, "documents"))
      Vocab.dsirLogRatio(d, d.where(col("source") === "src7"))
    }) {
      // Add-one unigram importance ratio, one ln of an integer
      // rational per token, micro-quantized before the HUGEINT sum
      // (deltas may be negative — no floor division anywhere). The
      // ratio products ride HUGEINT before the DOUBLE cast, in lockstep
      // with the Spark side's DECIMAL(38,0) widening (Vocab.dsirDeltaMicro):
      // both sides round the EXACT integer product once, at the cast that
      // feeds ln, so parity holds at any 64-bit count.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |  FROM documents
        |), cfc AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS cf_c FROM tok GROUP BY 1
        |), cft AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS cf_t FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-zA-Z0-9'']+')) AS term
        |    FROM documents WHERE source = 'src7') GROUP BY 1
        |), model AS (
        |  SELECT coalesce(c.term, t.term) AS term,
        |    coalesce(c.cf_c, 0) AS cf_c, coalesce(t.cf_t, 0) AS cf_t
        |  FROM cfc c FULL OUTER JOIN cft t ON c.term = t.term
        |), sv AS (
        |  SELECT CAST(sum(cf_c) AS BIGINT) AS s_c, CAST(sum(cf_t) AS BIGINT) AS s_t,
        |    CAST(count(*) AS BIGINT) AS v FROM model
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(round(ln(CAST((CAST(cf_t AS HUGEINT) + 1) * (CAST(s_c AS HUGEINT) + v) AS DOUBLE)
        |    / CAST((CAST(cf_c AS HUGEINT) + 1) * (CAST(s_t AS HUGEINT) + v) AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS dsir_micro
        |FROM tok JOIN model USING (term) CROSS JOIN sv
        |GROUP BY 1""".stripMargin
    }
  ))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(d => d.name -> d.build).toMap

  lazy val oracleSql: Map[String, String] =
    declared.map(d => d.name -> d.oracleSql).toMap

  /** Memoized deterministic Avro fixture for a1: the nation table
    * re-encoded as TWO Avro container files (multi-file directory = the
    * reference's registration shape) covering every type the
    * [[graft.sources.avro.AvroDataSource]] scope documents. Keyed by
    * data dir; the write is a 25-row driver-side fixture (dimension
    * table), not a data path — the QUERY under test is the read. */
  @transient private lazy val avroFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def avroFixtureDir(s: SparkSession, dir: String): String =
    avroFixtureCache.computeIfAbsent(dir, _ => {
      import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
      import org.apache.avro.file.DataFileWriter
      import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
      val tsMicros = LogicalTypes.timestampMicros()
        .addToSchema(Schema.create(Schema.Type.LONG))
      val dateDays = LogicalTypes.date()
        .addToSchema(Schema.create(Schema.Type.INT))
      val schema: Schema = SchemaBuilder.record("nation_export").fields()
        .requiredLong("n_nationkey")
        .name("n_name").`type`().unionOf().nullType().and().stringType()
          .endUnion().nullDefault()
        .requiredLong("n_regionkey")
        .requiredBoolean("n_flag")
        .requiredInt("n_small")
        .requiredFloat("n_ratio")
        .requiredDouble("weight")
        .name("joined_date").`type`(dateDays).noDefault()
        .name("loaded_at").`type`(tsMicros).noDefault()
        .endRecord()
      val rows = tbl(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .orderBy("n_nationkey").collect()
      // per-(data dir, PROCESS) location + a shutdown-hook sweep: a
      // path shared across JVMs raced — one JVM's sweep deleting the
      // directory while another read it, and stale part files from a
      // SIGKILLed run (whose hook never fired) being read as part of
      // the table. The pid token makes the dir exclusively this JVM's;
      // the pre-clean below clears any improbable leftover at the
      // exact same path (pid reuse after a SIGKILL).
      val out = fixtureDir("graft_avro_a1", dir)
      rows.grouped(math.max(1, (rows.length + 1) / 2)).zipWithIndex.foreach {
        case (chunk, i) =>
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](schema))
          w.create(schema, out.resolve(s"part$i.avro").toFile)
          chunk.foreach { r =>
            val k = r.getLong(0)
            val rec = new GenericData.Record(schema)
            rec.put("n_nationkey", k)
            rec.put("n_name", if (k % 3 == 0) null else r.getString(1))
            rec.put("n_regionkey", r.getLong(2))
            rec.put("n_flag", k % 2 == 0)
            rec.put("n_small", (k * 7).toInt)
            rec.put("n_ratio", (k * 0.5).toFloat) // exact halves in float
            rec.put("weight", k * 0.25)           // exact quarters in double
            rec.put("joined_date", k.toInt)       // days since epoch
            rec.put("loaded_at", 1704067200000000L + k * 1000000L) // 2024-01-01 + k s
            w.append(rec)
          }
          w.close()
      }
      out.toString
    })

  /** Memoized gzipped-JSONL rendition of the documents table for j1:
    * written once per (JVM, data dir) with Spark's own JSON writer —
    * 4 shards, gzip — under a deterministic temp path (the avro-fixture
    * reuse + shutdown-sweep discipline). The QUERY under test is the
    * schema-explicit READ back. */
  @transient private lazy val jsonlFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Allocates a fixture scratch directory under the system temp root,
    * keyed by (prefix, data dir, THIS PROCESS): the pid token means no
    * two JVMs ever share one (the prior per-data-dir path raced — one
    * JVM's shutdown sweep deleting what another was reading, and stale
    * part files from a SIGKILLed run surviving into the next read).
    * Any leftover content at the path (pid reuse) is cleared before
    * use, and a shutdown hook sweeps it on clean exit. */
  private def fixtureDir(prefix: String, dir: String): java.nio.file.Path = {
    val out = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"${prefix}_${java.lang.Integer.toHexString(dir.hashCode)}" +
        s"_p${ProcessHandle.current().pid()}")
    def sweep(): Unit =
      try {
        import scala.jdk.CollectionConverters._
        if (java.nio.file.Files.exists(out))
          java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    sweep() // pid-reuse leftovers: never read a stale layout
    java.nio.file.Files.createDirectories(out)
    Runtime.getRuntime.addShutdownHook(new Thread(() => sweep()))
    out
  }

  private def jsonlFixtureDir(s: SparkSession, dir: String): String =
    jsonlFixtureCache.computeIfAbsent(dir, _ => {
      val out = fixtureDir("graft_jsonl_j1", dir)
      tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .repartition(4)
        .write.mode("overwrite").option("compression", "gzip")
        .json(out.toString)
      out.toString
    })

  /** Deterministic REAL-image fixture for m7: each nation key rendered
    * as an actual encoded image via the JDK's own writers — kind by
    * k%5 (PNG-RGB / PNG-gray / PNG-RGBA / BMP / JPEG), width
    * (k%13+1)·3, height (k%7+2)·4, and every k≡6 (mod 7) replaced by a
    * deliberately undecodable text payload. A 25-row driver-side
    * dimension fixture (the a1-avro shape) — the QUERY under test is
    * the distributed [[graft.operators.Multimodal.decodeImages]]. */
  private def imageFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    import java.awt.image.BufferedImage
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.map { k =>
      val w = ((k % 13) + 1).toInt * 3
      val h = ((k % 7) + 2).toInt * 4
      val bytes: Array[Byte] =
        if (k % 7 == 6) s"not an image $k, just bytes a scraper shipped".getBytes("UTF-8")
        else {
          val (fmt, imgType) = (k % 5) match {
            case 0 => ("png", BufferedImage.TYPE_INT_RGB)
            case 1 => ("png", BufferedImage.TYPE_BYTE_GRAY)
            case 2 => ("png", BufferedImage.TYPE_INT_ARGB)
            case 3 => ("bmp", BufferedImage.TYPE_3BYTE_BGR)
            case _ => ("jpg", BufferedImage.TYPE_INT_RGB)
          }
          val img = new BufferedImage(w, h, imgType)
          for (x <- 0 until w; y <- 0 until h)
            img.setRGB(x, y, ((k * 2654435761L + x * 31 + y) & 0xffffffL).toInt)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, fmt, bos)
          bos.toByteArray
        }
      (k, bytes)
    }
  }

  /** Render one canonical-44-byte-header PCM WAV from integer formulas
    * (LE fields per the RIFF spec); data bytes are a deterministic
    * seeded ramp. Everything the decoder reports is an exact integer
    * function of the arguments — the m7 oracle discipline for audio. */
  private def wavBytes(sampleRate: Int, channels: Int, bits: Int,
      nFrames: Int, seed: Long): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val dataSize = nFrames * blockAlign
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * blockAlign)
      .putShort(blockAlign.toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < dataSize) { bb.put(((seed * 131 + i * 7) % 256).toByte); i += 1 }
    bb.array()
  }

  /** Deterministic audio fixture for m13/m14 (the m7 shape over WAV):
    * nation keys k → PCM WAVs with rate 8000·(1+k%3), channels 1+k%2,
    * bits 8 if k%3=0 else 16, frames 100+37·(k%11); k%7=6 rows are
    * non-audio scraper bytes and k%5=4 rows are TRUNCATED headers
    * (first 20 bytes of a valid file) — both quarantine. */
  private def audioFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.map { k =>
      val full = wavBytes(8000 * (1 + (k % 3)).toInt, 1 + (k % 2).toInt,
        if (k % 3 == 0) 8 else 16, 100 + 37 * (k % 11).toInt, k)
      val bytes: Array[Byte] =
        if (k % 7 == 6) s"not audio $k, just bytes a scraper shipped".getBytes("UTF-8")
        else if (k % 5 == 4) full.take(20)
        else full
      (k, bytes)
    }
  }

  /** Deterministic audio-dedup fixture for m15 (the m4 shape): each
    * CONTENT c renders ONE WAV byte string stored under ids 2c and
    * 2c+1 (exact copies — one content, two files); c%7=6 contents are
    * per-FILE scraper garbage (the id is in the bytes), so those two
    * rows are singletons — byte-equality grouping, proven. */
  private def audioDedupFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.flatMap { c =>
      Seq(0L, 1L).map { side =>
        val id = 2 * c + side
        val bytes: Array[Byte] =
          if (c % 7 == 6) s"scraper garbage $id".getBytes("UTF-8")
          else wavBytes(16000, 1, 16, 50 + (c % 5).toInt * 11, c * 7 + 3)
        (id, bytes)
      }
    }
  }

  /** Render one canonical PCM16-mono WAV around explicit samples. */
  private def wavBytesPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Deterministic audio-perceptual fixture for m16: each CONTENT c is
    * a pseudo-noise PCM16 clip s(c,j) = ((c·37 + j²·13) % 2001 − 1000)
    * over n = 65·(12 + c%5) frames, rendered TWICE — full volume (×16,
    * media_id 2c) and HALF volume (×8, media_id 2c+1): every block
    * energy scales by exactly 2, so the gradient-sign hash is
    * identical (Hamming 0) while distinct contents' noise decorrelates
    * the signs. Two non-audio rows exercise the in-plan quarantine. */
  private def audioPhashFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.flatMap { c =>
      val f = 12 + (c % 5).toInt
      val n = 65 * f
      Seq(0, 1).map { side =>
        val amp = 16 - 8 * side
        val samples = Array.tabulate(n)(j =>
          (((c * 37 + j.toLong * j * 13) % 2001 - 1000) * amp).toShort)
        (2 * c + side, wavBytesPcm16(16000, samples))
      }
    } ++ Seq(
      (100000L, "not audio at all, scraper bytes".getBytes("UTF-8")),
      (100001L, Array[Byte](82, 73, 70, 70)))
  }

  /** m16's fixture at 257-multiple frame counts for the deep (256-bit)
    * audio hash: n = 257·(4 + c%3) frames, full/half volume twins. */
  private def audioPhashDeepFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.flatMap { c =>
      val n = 257 * (4 + (c % 3).toInt)
      Seq(0, 1).map { side =>
        val amp = 16 - 8 * side
        val samples = Array.tabulate(n)(j =>
          (((c * 37 + j.toLong * j * 13) % 2001 - 1000) * amp).toShort)
        (2 * c + side, wavBytesPcm16(16000, samples))
      }
    } ++ Seq((100000L, "quarantine bytes".getBytes("UTF-8")))
  }

  /** Render one minimal-but-canonical MP4/ISO-BMFF container: ftyp +
    * moov(mvhd + traks) + mdat + an odd-sized free box (boxes are NOT
    * word-aligned — the walk must not assume RIFF padding). Big-endian
    * throughout; mvhd at the spec's v0 (100 B) / v1 (112 B) payload
    * sizes. */
  private def mp4Bytes(timescale: Long, duration: Long, tracks: Int,
      v1: Boolean, mdatLen: Int): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val ftypP = java.nio.ByteBuffer.allocate(12)
      .put("isom".getBytes("US-ASCII")).putInt(512)
      .put("mp41".getBytes("US-ASCII")).array()
    val mvhdP =
      if (v1) {
        val bb = java.nio.ByteBuffer.allocate(112)
        bb.put(1.toByte).put(Array[Byte](0, 0, 0)) // version 1, flags
          .putLong(3L).putLong(4L)                 // ctime/mtime u64
          .putInt(timescale.toInt).putLong(duration)
        bb.array()                                  // zero-padded tail
      } else {
        val bb = java.nio.ByteBuffer.allocate(100)
        bb.put(0.toByte).put(Array[Byte](0, 0, 0))
          .putInt(3).putInt(4)                      // ctime/mtime u32
          .putInt(timescale.toInt).putInt(duration.toInt)
        bb.array()
      }
    val moovP = box("mvhd", mvhdP) ++
      (0 until tracks).flatMap(_ => box("trak", new Array[Byte](8))).toArray
    box("ftyp", ftypP) ++ box("moov", moovP) ++
      box("mdat", Array.tabulate(mdatLen)(i => (i * 7).toByte)) ++
      box("free", Array[Byte](1, 2, 3))
  }

  /** Deterministic video fixture for m18 (the m13 shape over MP4):
    * nation keys k → timescale 600·(1+k%3), duration 601+977·k units,
    * 1+k%3 tracks, mvhd v1 for odd k / v0 for even; k%7=6 rows are
    * non-video scraper bytes and k%5=4 rows are TRUNCATED (first 10
    * bytes) — both quarantine. */
  private def videoFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.map { k =>
      val full = mp4Bytes(600 * (1 + k % 3), 601 + 977 * k,
        1 + (k % 3).toInt, v1 = k % 2 == 1, mdatLen = 16 + k.toInt)
      val bytes: Array[Byte] =
        if (k % 7 == 6) s"not a video $k, scraper bytes".getBytes("UTF-8")
        else if (k % 5 == 4) full.take(10)
        else full
      (k, bytes)
    }
  }

  /** Deterministic video-dedup fixture for m20 (the m15 shape over
    * MP4): each CONTENT c renders ONE container byte string stored
    * under ids 2c and 2c+1 (exact copies — one content, two files);
    * c%7=6 contents are per-FILE scraper garbage (the id is in the
    * bytes), so those two rows stay singletons — byte-equality
    * grouping proven both ways. */
  private def videoDedupFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.flatMap { c =>
      Seq(0L, 1L).map { side =>
        val id = 2 * c + side
        val bytes: Array[Byte] =
          if (c % 7 == 6) s"scraper garbage $id".getBytes("UTF-8")
          else mp4Bytes(600, 1201 + 31 * c, 1 + (c % 2).toInt,
            v1 = c % 3 == 1, mdatLen = 8 + (c % 5).toInt)
        (id, bytes)
      }
    }
  }

  /** Deterministic perceptual-hash fixture for m9: each CONTENT c is a
    * HIGH-FREQUENCY sawtooth `gray(x,y) = (a·x + b·y + off) % 256` with
    * a = 41 + 17·(c%9), b = 29 + 23·(c%7), off = 11·c, at W = 9·(1 + c%3),
    * H = 8·(1 + c%2) — rendered TWICE per content, as PNG
    * (media_id = 2c) and BMP (media_id = 2c + 1): two LOSSLESS
    * encodings of the same raster, so each pair must hash identically
    * (Hamming 0) while distinct contents disagree in many gradient
    * signs. The slopes wrap the 256-sawtooth within a block or two at
    * content-dependent frequency, so gradient SIGN patterns decorrelate
    * across contents — probed before shipping (the simhash lesson):
    * this family yields ZERO accidental Hamming-≤3 cross-content pairs,
    * where a slow linear ramp yields 45 (everything hashes near
    * all-ones). Dimensions are multiples of (9, 8) so the oracle's 8×9
    * block sums are exact integer formulas over the generator; content
    * ids come from the nation table (the a1/m7 25-row fixture shape).
    * JPEG is deliberately absent: a lossy codec breaks raster parity
    * with the formula (its hashes are still fine in production — the
    * operator hashes whatever pixels decode). */
  private def phashFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    import java.awt.image.BufferedImage
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.map { k =>
      val c = k / 2
      val a = (41 + 17 * (c % 9)).toInt
      val b = (29 + 23 * (c % 7)).toInt
      val off = (11 * c).toInt
      val w = (9 * (1 + c % 3)).toInt
      val h = (8 * (1 + c % 2)).toInt
      val (fmt, imgType) =
        if (k % 2 == 0) ("png", BufferedImage.TYPE_INT_RGB)
        else ("bmp", BufferedImage.TYPE_3BYTE_BGR)
      val img = new BufferedImage(w, h, imgType)
      for (x <- 0 until w; y <- 0 until h) {
        val g = (a * x + b * y + off) % 256
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      (k, bos.toByteArray)
    }
  }

  /** The m11 twin of [[phashFixtureRows]] at the 256-bit grid: same
    * sawtooth family `gray(x,y) = (a·x + b·y + off) % 256`, dimensions
    * multiples of (17, 16) — W = 17·(1 + c%3), H = 16·(1 + c%2) — so
    * the 16×17 block sums are exact integer formulas over the
    * generator; every content rendered PNG (2c) and BMP (2c + 1), two
    * lossless encodings of one raster ⇒ each pair at Hamming 0 of 256.
    * Probed before shipping (the m9 discipline): zero accidental
    * Hamming-≤7 cross-content pairs — the output is exactly one pair
    * per content. */
  private def phashDeepFixtureRows(s: SparkSession, dir: String): Seq[(Long, Array[Byte])] = {
    import java.awt.image.BufferedImage
    val keys = tbl(s, dir, "nation").select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0)).toSeq
    keys.map { k =>
      val c = k / 2
      val a = (41 + 17 * (c % 9)).toInt
      val b = (29 + 23 * (c % 7)).toInt
      val off = (11 * c).toInt
      val w = (17 * (1 + c % 3)).toInt
      val h = (16 * (1 + c % 2)).toInt
      val (fmt, imgType) =
        if (k % 2 == 0) ("png", BufferedImage.TYPE_INT_RGB)
        else ("bmp", BufferedImage.TYPE_3BYTE_BGR)
      val img = new BufferedImage(w, h, imgType)
      for (x <- 0 until w; y <- 0 until h) {
        val g = (a * x + b * y + off) % 256
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      (k, bos.toByteArray)
    }
  }

  /** The testdata parquet files are single-row-group, so a scan is ONE
    * split and everything narrow downstream of it runs on one core. Fan
    * compute-heavy per-row stages (shingling, minhash, text metrics,
    * vector quantization) out to the session's shuffle parallelism first.
    * At production scale the many-file / many-row-group layout provides
    * scan parallelism naturally and the round-robin exchange is cheap
    * relative to the compute it parallelizes. */
  // explicit numPartitions: a bare repartition() is an AQE-coalescible
  // shuffle, and at this data size AQE folds it back to one partition —
  // defeating the point. REPARTITION_BY_NUM is respected.
  private def par(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** The nation-level trade graph shared by the graph queries
    * (g1/g2/g3): customer nation → supplier nation weighted edges via
    * lineitem⋈orders⋈customer⋈supplier, dims broadcast. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val o = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val sup = tbl(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** Part co-purchase graph: undirected (part, part) edges weighted by
    * the number of orders containing both parts, kept at w ≥ 2 (one
    * shared order is noise). The self-join key is l_orderkey, whose
    * fan-out is bounded by lineitems-per-order (≤ 7 here) — Σ m² with
    * tiny per-key m, i.e. LINEAR in the fact table, never quadratic in
    * parts; the w ≥ 2 floor then cuts the edge table ~30× before any
    * graph iteration touches it. */
  private def partCoEdges(s: SparkSession, dir: String): DataFrame = {
    val l = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val a = l.select(col("l_orderkey").as("_ok"), col("l_partkey").cast("long").as("u"))
    val b = l.select(col("l_orderkey").as("_ok"), col("l_partkey").cast("long").as("v"))
    a.join(b, Seq("_ok")).where(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
  }

  /** The trade graph's BACKBONE: undirected edges strictly above the
    * mean weight, by the exact rational compare `w·|E| > Σw` (no
    * division). The raw nation graph is near-complete; community and
    * centrality structure lives in the above-average relationships.
    * Shared by g5 (label propagation) and g9 (harmonic centrality);
    * q41's oracle unrolls the identical SQL. */
  private def tradeBackbone(s: SparkSession, dir: String): DataFrame = {
    // eager: und feeds both the mean aggregate (broadcast side) and the
    // filtered scan, and every caller is an iterative op that references
    // the backbone 2+ times across separate jobs — left lazy, each
    // reference re-runs the lineitem⋈orders trade-edge join
    val und = tradeEdges(s, dir)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("w"))
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
      .localCheckpoint()
    val tot = und.agg(count(lit(1)).as("ne"), sum(col("w")).as("tw"))
    und.crossJoin(broadcast(tot))
      .where(col("w").cast("decimal(38,0)") * col("ne") >
        col("tw").cast("decimal(38,0)"))
      .select(col("u").as("src"), col("v").as("dst"), col("w"))
  }

  /** The w4/w5 three-rule PSL: the canonical published-list shapes —
    * nested plain suffixes, two wildcard ccTLD families, and their
    * exceptions. ≤ 16 rules so BOTH implementations run (the chain
    * directly, the native expression as w4's second column). Arrives
    * through [[graft.operators.Web.loadPslRules]] from a
    * published-FORMAT fixture (comments, section markers, trailing
    * annotations), so the oracle queries certify the ingest path too
    * (round 13). */
  private val pslThreeRules = graft.operators.Web.loadPslRules(
    """// This fixture follows the published public_suffix_list.dat format.
      |// ===BEGIN ICANN DOMAINS===
      |com
      |co.uk
      |jp
      |kyoto.jp
      |us
      |*.ck
      |*.kobe.jp
      |!www.ck
      |!city.kobe.jp the city itself registers directly
      |// ===END ICANN DOMAINS===
      |// ===BEGIN PRIVATE DOMAINS===
      |excluded.example
      |// ===END PRIVATE DOMAINS===
      |""".stripMargin)

  /** The w6/w7 robots.txt: a published-format fixture exercising every
    * parse rule (group scoping across two `graftbot` groups that MUST
    * merge, an `OtherBot` group the selection skips, case-variant
    * field/token spellings, inline comments, ignored `Crawl-delay`/
    * `Sitemap` lines, an empty `Disallow:` = no rule) and every MATCH
    * class on the synthetic URL paths `/p/0..249[/][?…]`: an
    * equal-length Allow/Disallow tie (allow prevails on all `/p/1…`),
    * longer-disallow override (`/p/15…`), an allow that ties the
    * wildcard at length 6 (`/p/152` is a utm-class residue, so its
    * docs match BOTH `Allow: /p/152` and the starred `utm_` rule at 6
    * spelled octets — allow wins), two `$`-anchored exact blocks on
    * residues whose bare query-free path occurs at sf0.01 AND sf0.001
    * (15 and 8 — an anchored rule that never sees its bare path reads
    * as untested), the `utm_` wildcard, a plain prefix block
    * (`/p/20`), and the no-match default. */
  private val graftRobotsTxt: String =
    """# graft crawl policy (RFC 9309 format fixture)
      |User-Agent: OtherBot
      |Disallow: /
      |
      |User-agent: GraftBot
      |Allow: /p/1
      |Disallow: /p/1  # same length as the Allow above -> Allow prevails
      |Disallow: /p/15
      |Allow: /p/152
      |Disallow: /p/15$
      |Crawl-delay: 10
      |Disallow:
      |
      |User-agent: graftbot
      |Disallow: /*utm_
      |Disallow: /p/8$
      |Disallow: /p/20
      |Sitemap: https://example.com/sitemap.xml
      |""".stripMargin

  private val graftRobotsRules: Seq[graft.operators.RobotsRule] =
    graft.operators.Web.loadRobotsRules(graftRobotsTxt, "graftbot")

  /** The URI component RFC 9309 matches on: raw spelled path PLUS
    * query, fragment dropped — what a crawler tests before fetching
    * (robots run at INGEST, before any canonicalization). Same regex
    * both engines run on the same synthesized URL. */
  private val rawPathQueryRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"

  /** The DuckDB replay of the robots when-chain: the SAME precedence
    * order ([[graft.operators.Web.robotsOrder]]) and the SAME regex
    * spelling ([[graft.operators.Web.robotsGlobRegex]] — `(?s)`/`\z`
    * are Java/RE2-identical by construction) as one ordered CASE
    * yielding the prevailing rule's original index. */
  private def robotsCaseSql(rules: Seq[graft.operators.RobotsRule]): String = {
    def q(s: String) = s.replace("'", "''")
    val whens = graft.operators.Web.robotsOrder(rules).map { case (r, i) =>
      val cond =
        if (!r.path.contains('*') && !r.path.endsWith("$"))
          s"starts_with(path, '${q(r.path)}')"
        else
          s"regexp_matches(path, '${q(graft.operators.Web.robotsGlobRegex(r.path))}')"
      s"WHEN $cond THEN $i"
    }
    whens.mkString("CASE ", " ", " ELSE -1 END")
  }

  private def robotsAllowSql(rules: Seq[graft.operators.RobotsRule]): String =
    rules.map(_.allow).mkString(
      "CASE WHEN ri = -1 THEN TRUE ELSE ([", ", ", "])[ri + 1] END")

  private def robotsLabelSql(rules: Seq[graft.operators.RobotsRule]): String =
    rules.map(r => "'" + ((if (r.allow) "allow " else "disallow ") + r.path)
        .replace("'", "''") + "'")
      .mkString("CASE WHEN ri = -1 THEN 'default' ELSE ([", ", ", "])[ri + 1] END")

  /** The w4/w5 host fixture: deterministic md5-derived hosts over the
    * canonical published-PSL test shapes (www.ck, a.b.test.ck,
    * city.kobe.jp, …) — every rule class fires visibly
    * (`Round12OpsSpec`), both engines synthesize identically. */
  private def pslHosts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    assert(pslThreeRules.size <= graft.operators.Web.WhenChainMaxSuffixes)
    val subs = typedLit(Seq("", "www.", "a.", "x.y.", "blog."))
    val bases = typedLit(Seq("test", "site7", "www", "city", "example"))
    val tlds = typedLit(Seq(".com", ".co.uk", ".ck", ".jp", ".kyoto.jp",
      ".kobe.jp", ".us", ".example"))
    par(tbl(s, dir, "documents")).select(col("doc_id"))
      .withColumn("_h1", Dedup.hash60(
        concat(lit("psl|"), (col("doc_id") % 200).cast("string"))))
      .select(col("doc_id"), concat(
        element_at(subs, (col("_h1") % 5 + 1).cast("int")),
        element_at(bases, (expr("_h1 div 5") % 5 + 1).cast("int")),
        element_at(tlds, (expr("_h1 div 25") % 8 + 1).cast("int"))).as("host"))
  }

  /** Synthetic absolute URLs for the documents table — the w1/w2 web-
    * curation fixture. The testdata carries no URL column, so both
    * engines derive one per document from the SAME md5 arithmetic
    * (`hash60("url|" ∥ doc_id)` sliced by a fixed divisor chain — the
    * a1/m7 fixture discipline, fully relational): scheme case variants,
    * `www.`/`WWW.` prefixes, `blog.`/`news.` subdomains, 37 sites × 4
    * TLDs (incl. the 2-label suffix `.co.uk`), default and non-default
    * ports, trailing slashes, `utm_*` tracking parameters, unsorted
    * query parameters, and fragments — every hazard the normalizer's
    * contract names, in deterministic proportions. */
  private def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    // CONTENT hash h1 (keyed by doc_id % 250) drives everything the
    // normalizer must PRESERVE — protocol, subdomain, site, TLD, port,
    // canonical query content, path (doc_id % 250) — so documents
    // sharing a residue share a canonical URL. SPELLING hash h2 (keyed
    // by the full doc_id) drives everything the normalizer must ERASE —
    // scheme case, www. variants, trailing slash, fragment, utm
    // placement — so those documents usually differ RAW and merge only
    // under canonicalization: the url-dedup stage genuinely fires.
    val d = par(tbl(s, dir, "documents")).select(col("doc_id"))
      .withColumn("_m", col("doc_id") % 250)
      .withColumn("_h1",
        Dedup.hash60(concat(lit("url|"), col("_m").cast("string"))))
      .withColumn("_h2",
        Dedup.hash60(concat(lit("urlv|"), col("doc_id").cast("string"))))
    val schemes = typedLit(Seq("https", "HTTPS", "http", "Http"))
    val wwws = typedLit(Seq("www.", "WWW.", ""))
    val subs = typedLit(Seq("blog.", "news.", "", "", ""))
    val tlds = typedLit(Seq(".com", ".org", ".io", ".co.uk"))
    val ports = typedLit(Seq(":443", ":80", ":8080", "", "", ""))
    d.select(col("doc_id"), concat(
      element_at(schemes,
        ((col("_h1") % 2) * 2 + col("_h2") % 2 + 1).cast("int")),
      lit("://"),
      element_at(wwws, (expr("_h2 div 2") % 3 + 1).cast("int")),
      element_at(subs, (expr("_h1 div 2") % 5 + 1).cast("int")),
      lit("site"), (expr("_h1 div 10") % 37).cast("string"),
      element_at(tlds, (expr("_h1 div 370") % 4 + 1).cast("int")),
      element_at(ports, (expr("_h1 div 1480") % 6 + 1).cast("int")),
      lit("/p/"), col("_m").cast("string"),
      when(expr("_h2 div 6") % 2 === 0, lit("/")).otherwise(lit("")),
      when(expr("_h1 div 8880") % 3 === 1,
        when(expr("_h2 div 12") % 2 === 0,
          concat(lit("?utm_source=feed&id="), (col("_m") % 50).cast("string")))
          .otherwise(concat(lit("?id="), (col("_m") % 50).cast("string"),
            lit("&utm_campaign=x"))))
        .when(expr("_h1 div 8880") % 3 === 2, lit("?b=2&a=1"))
        .otherwise(lit("")),
      when(expr("_h2 div 24") % 3 === 0, lit("#sec")).otherwise(lit("")))
      .as("url"))
  }

  /** Documents with constructed near-duplicates: each doc plus a
    * truncated copy at doc_id + 1,000,000. */
  private def augmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    par(d.unionByName(d.select((col("doc_id") + 1000000).as("doc_id"),
      expr("substring(text, 1, greatest(length(text) - 20, 1))").as("text"))))
  }

  /** Documents with constructed excerpt copies: each sufficiently long
    * doc plus a 200-char mid-document slice at doc_id + 2,000,000. A
    * contiguous slice's shingle set is a subset of its source's, so the
    * pair scores containment 1.0 while symmetric jaccard stays near
    * |excerpt| / |doc|. */
  private def excerptDocs(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    par(d.unionByName(d.where(length(col("text")) >= 231)
      .select((col("doc_id") + 2000000).as("doc_id"),
        expr("substring(text, 31, 200)").as("text"))))
  }

  /** Embeddings with constructed near-duplicates: each vector plus an
    * affine-perturbed copy (x*1.1 + 0.01) at vec_id + 1,000,000. */
  private def augmentedEmb(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    par(e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .unionByName(e.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") * 1.1 + 0.01).as("embedding"))))
  }

  /** Unrolled synchronous weighted LPA over the trade backbone as
    * chained CTEs (`l0..l<iters>` labels) — shared by the g5 and g10
    * oracles. */
  private def lpaChainSql(iters: Int): String = {
    val base =
      s"""WITH edges AS MATERIALIZED (
         |  $tradeEdgesSql
         |), und0 AS MATERIALIZED (
         |  SELECT least(src, dst) AS u, greatest(src, dst) AS v, CAST(sum(w) AS BIGINT) AS w
         |  FROM edges WHERE src <> dst GROUP BY 1, 2
         |), und AS MATERIALIZED (
         |  SELECT u, v, w FROM und0
         |  WHERE CAST(w AS HUGEINT) * (SELECT count(*) FROM und0) > (SELECT sum(w) FROM und0)
         |), nb AS MATERIALIZED (
         |  SELECT u AS n, v AS nbr, w FROM und UNION ALL SELECT v AS n, u AS nbr, w FROM und
         |), l0 AS (
         |  SELECT DISTINCT n AS node, n AS lbl FROM nb
         |)""".stripMargin
    val its = (1 to iters).map { i =>
      s""", c$i AS (
         |  SELECT nb.n AS node, l.lbl, CAST(sum(nb.w) AS BIGINT) AS wt
         |  FROM nb JOIN l${i - 1} l ON nb.nbr = l.node GROUP BY 1, 2
         |), l$i AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      row_number() OVER (PARTITION BY node ORDER BY wt DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    base + its
  }

  // Shared DuckDB fragments for the dedup/similarity oracles.
  private def normToksSql =
    """regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '[a-zA-Z0-9'']+')"""
  private def shingleSql(n: Int) =
    s"""list_distinct(CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
       |  ELSE list_transform(range(1, len(toks) - ${n - 2}),
       |         i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' '))
       |  END)""".stripMargin
  private def augDocsSql =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, 1, greatest(length(text) - 20, 1)) FROM documents
      |)""".stripMargin
  private def augShinglesSql(n: Int) =
    s"""$augDocsSql, norm AS (
       |  SELECT doc_id, $normToksSql AS toks FROM aug
       |), shs AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_transform(${shingleSql(n)},
       |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
       |  FROM norm
       |)""".stripMargin
  private def quantEmbSql = // quantized vectors + squared norms over `eIn`
    """q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM eIn
      |), qn AS (
      |  SELECT vec_id, qv, list_sum(list_transform(qv, x -> x * x)) AS n2 FROM q
      |)""".stripMargin
  private def dotCosSql = // cosine between aliases a and b over qn rows
    """CAST(list_sum(list_transform(range(1, 65), d -> a.qv[CAST(d AS INT)] * b.qv[CAST(d AS INT)])) AS DOUBLE)
      | / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))""".stripMargin
  // Unrolls Similarity.trainIvfCells' two Lloyd's iterations over `qn`:
  // md5-seeded initial centroids (k smallest by hash60('ivf|'||id)),
  // assignment by exact integer L2 with a (dist2, cell) tie-break,
  // elementwise rounded-mean centroids. Yields `a2` = (vec_id, cell).
  // Shared by the s5 and d12 oracles (pinned k) and, via the derived-k
  // seeds variant, the d25 oracle.
  private def ivfLloyd2Sql(k: Int): String = ivfLloyd2From(
    s"""seeds AS (
       |  SELECT qv, row_number() OVER (ORDER BY hkey, vec_id) - 1 AS cell FROM (
       |    SELECT vec_id, qv,
       |      ('0x' || substr(md5('ivf|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hkey
       |    FROM qn)
       |  ORDER BY hkey, vec_id LIMIT $k
       |)""".stripMargin)

  // Two-level derived-k unroll (Similarity.trainTwoLevelCellsOn /
  // Dedup.semDedupByCellSize parity): k = ⌈N/cell⌉ from one count
  // (non-negative operands, so DuckDB `//` == Scala Long division),
  // k1 = ⌈√k⌉ COARSE centers trained by the same 2-iteration
  // md5-seeded Lloyd's as ivfLloyd2From under seed prefix 'ivfc|',
  // then per-coarse-cell FINE seeds (the k2 = ⌈k/k1⌉ members smallest
  // by hash60('ivff|'||id)) and two fine iterations whose candidate
  // centers are restricted to each point's own coarse cell — the
  // N·O(√k) ANN assignment, replayed exactly. Final cell id =
  // coarse·k2 + fine, the composite both engines derive identically.
  // ca2 / the fine center tables are MATERIALIZED: each is referenced
  // by 2-3 downstream CTEs and DuckDB would inline (re-derive) the
  // whole upstream Lloyd chain per reference (the g6/s17 lesson).
  private def ivfTwoLevel2Sql(cell: Int): String =
    s"""kp AS MATERIALIZED (
       |  SELECT kk, k1, (kk + k1 - 1) // k1 AS k2 FROM (
       |    SELECT kk, CAST(ceil(sqrt(CAST(kk AS DOUBLE))) AS BIGINT) AS k1 FROM (
       |      SELECT greatest((count(*) + ${cell - 1}) // $cell, 1) AS kk FROM qn))
       |), cseeds AS (
       |  SELECT qv, cc FROM (
       |    SELECT qv, row_number() OVER (ORDER BY hkey, vec_id) - 1 AS cc FROM (
       |      SELECT vec_id, qv,
       |        ('0x' || substr(md5('ivfc|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hkey
       |      FROM qn)) s, kp
       |  WHERE s.cc < kp.k1
       |), cc0 AS (
       |  SELECT cc, qv AS cvec, list_sum(list_transform(qv, x -> x * x)) AS cn2 FROM cseeds
       |), ca1 AS (
       |  SELECT vec_id, cc FROM (
       |    SELECT q.vec_id, c.cc,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
       |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cc) AS rn
       |    FROM qn q CROSS JOIN cc0 c)
       |  WHERE rn = 1
       |), cc1d AS (
       |  SELECT a.cc, d, sum(q.qv[d]) AS sv, count(*) AS cnt
       |  FROM ca1 a JOIN qn q USING (vec_id),
       |       (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
       |  GROUP BY 1, 2
       |), cc1 AS (
       |  SELECT cc, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
       |  FROM cc1d GROUP BY 1
       |), cc1n AS (
       |  SELECT cc, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM cc1
       |), ca2 AS MATERIALIZED (
       |  SELECT vec_id, cc FROM (
       |    SELECT q.vec_id, c.cc,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
       |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cc) AS rn
       |    FROM qn q CROSS JOIN cc1n c)
       |  WHERE rn = 1
       |), fseeds AS (
       |  SELECT cc, qv, ff FROM (
       |    SELECT a.cc, q.qv,
       |      row_number() OVER (PARTITION BY a.cc ORDER BY
       |        ('0x' || substr(md5('ivff|' || CAST(q.vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |        q.vec_id) - 1 AS ff
       |    FROM qn q JOIN ca2 a USING (vec_id)) s, kp
       |  WHERE s.ff < kp.k2
       |), ff0 AS MATERIALIZED (
       |  SELECT cc, ff, qv AS cvec, list_sum(list_transform(qv, x -> x * x)) AS cn2 FROM fseeds
       |), fa1 AS (
       |  SELECT vec_id, cc, ff FROM (
       |    SELECT q.vec_id, a.cc, c.ff,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
       |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.ff) AS rn
       |    FROM qn q JOIN ca2 a USING (vec_id) JOIN ff0 c ON a.cc = c.cc)
       |  WHERE rn = 1
       |), ff1d AS (
       |  SELECT a.cc, a.ff, d, sum(q.qv[d]) AS sv, count(*) AS cnt
       |  FROM fa1 a JOIN qn q USING (vec_id),
       |       (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
       |  GROUP BY 1, 2, 3
       |), ff1 AS (
       |  SELECT cc, ff, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
       |  FROM ff1d GROUP BY 1, 2
       |), ff1n AS MATERIALIZED (
       |  SELECT cc, ff, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM ff1
       |), fa2 AS (
       |  SELECT vec_id, cc, ff FROM (
       |    SELECT q.vec_id, a.cc, c.ff,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
       |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.ff) AS rn
       |    FROM qn q JOIN ca2 a USING (vec_id) JOIN ff1n c ON a.cc = c.cc)
       |  WHERE rn = 1
       |), a2 AS (
       |  SELECT f.vec_id, f.cc * kp.k2 + f.ff AS cell FROM fa2 f, kp
       |)""".stripMargin

  // The m9/m10 perceptual-hash chain, DuckDB side: recomputes the
  // fixture images' 8×9 block sums straight from the nation-key
  // generating formulas (no pixels — the gradient g(x,y) = a·x+b·y+off
  // mod 256 summed over each block's area), derives the dHash bits and
  // four 16-bit band keys exactly as Multimodal.perceptualHashes does,
  // and emits banded candidate pairs with exact popcount Hamming in
  // CTE `prs` (unfiltered — consumers apply their own threshold).
  private def phashChainSql: String =
    """keys AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
      |), prm AS (
      |  SELECT k, 41 + 17 * ((k // 2) % 9) AS a, 29 + 23 * ((k // 2) % 7) AS b,
      |    11 * (k // 2) AS off,
      |    1 + (k // 2) % 3 AS sx, 1 + (k // 2) % 2 AS sy
      |  FROM keys
      |), cells AS (
      |  SELECT p.k, rr.r, cc.cidx,
      |    sum((p.a * (cc.cidx * p.sx + dx.i) + p.b * (rr.r * p.sy + dy.j) + p.off) % 256) AS s
      |  FROM prm p,
      |    (SELECT CAST(range AS BIGINT) AS r FROM range(8)) rr,
      |    (SELECT CAST(range AS BIGINT) AS cidx FROM range(9)) cc,
      |    (SELECT CAST(range AS BIGINT) AS i FROM range(3)) dx,
      |    (SELECT CAST(range AS BIGINT) AS j FROM range(2)) dy
      |  WHERE dx.i < p.sx AND dy.j < p.sy
      |  GROUP BY 1, 2, 3
      |), bits AS (
      |  SELECT l.k, l.r, l.cidx,
      |    CASE WHEN rt.s > l.s THEN 1 ELSE 0 END AS bit
      |  FROM cells l JOIN cells rt
      |    ON l.k = rt.k AND l.r = rt.r AND rt.cidx = l.cidx + 1
      |  WHERE l.cidx < 8
      |), hashes AS MATERIALIZED (
      |  SELECT k,
      |    CAST(sum(CASE WHEN r // 2 = 0 THEN bit * (1 << CAST((r % 2) * 8 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b0,
      |    CAST(sum(CASE WHEN r // 2 = 1 THEN bit * (1 << CAST((r % 2) * 8 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b1,
      |    CAST(sum(CASE WHEN r // 2 = 2 THEN bit * (1 << CAST((r % 2) * 8 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b2,
      |    CAST(sum(CASE WHEN r // 2 = 3 THEN bit * (1 << CAST((r % 2) * 8 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b3
      |  FROM bits GROUP BY k
      |), prs AS (
      |  SELECT a.k AS id_a, c.k AS id_b,
      |    bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1)) +
      |    bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) AS hamming
      |  FROM hashes a JOIN hashes c ON a.k < c.k
      |    AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3)
      |)""".stripMargin

  // The 256-bit twin of phashChainSql: 16×17 grid, bands = 8 keys of
  // 32 bits (two rows each, bit (r%2)·16 + cidx — max bit 31, no
  // BIGINT shift hazard), candidate rule = any of the 8 bands equal,
  // Hamming over all eight XORs. Dimensions W = 17·sx, H = 16·sy with
  // sx = 1 + (k//2)%3, sy = 1 + (k//2)%2.
  private def phashDeepChainSql: String =
    """keys AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
      |), prm AS (
      |  SELECT k, 41 + 17 * ((k // 2) % 9) AS a, 29 + 23 * ((k // 2) % 7) AS b,
      |    11 * (k // 2) AS off,
      |    1 + (k // 2) % 3 AS sx, 1 + (k // 2) % 2 AS sy
      |  FROM keys
      |), cells AS (
      |  SELECT p.k, rr.r, cc.cidx,
      |    sum((p.a * (cc.cidx * p.sx + dx.i) + p.b * (rr.r * p.sy + dy.j) + p.off) % 256) AS s
      |  FROM prm p,
      |    (SELECT CAST(range AS BIGINT) AS r FROM range(16)) rr,
      |    (SELECT CAST(range AS BIGINT) AS cidx FROM range(17)) cc,
      |    (SELECT CAST(range AS BIGINT) AS i FROM range(3)) dx,
      |    (SELECT CAST(range AS BIGINT) AS j FROM range(2)) dy
      |  WHERE dx.i < p.sx AND dy.j < p.sy
      |  GROUP BY 1, 2, 3
      |), bits AS (
      |  SELECT l.k, l.r, l.cidx,
      |    CASE WHEN rt.s > l.s THEN 1 ELSE 0 END AS bit
      |  FROM cells l JOIN cells rt
      |    ON l.k = rt.k AND l.r = rt.r AND rt.cidx = l.cidx + 1
      |  WHERE l.cidx < 16
      |), hashes AS MATERIALIZED (
      |  SELECT k,
      |    CAST(sum(CASE WHEN r // 2 = 0 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b0,
      |    CAST(sum(CASE WHEN r // 2 = 1 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b1,
      |    CAST(sum(CASE WHEN r // 2 = 2 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b2,
      |    CAST(sum(CASE WHEN r // 2 = 3 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b3,
      |    CAST(sum(CASE WHEN r // 2 = 4 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b4,
      |    CAST(sum(CASE WHEN r // 2 = 5 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b5,
      |    CAST(sum(CASE WHEN r // 2 = 6 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b6,
      |    CAST(sum(CASE WHEN r // 2 = 7 THEN bit * (CAST(1 AS BIGINT) << CAST((r % 2) * 16 + cidx AS INT)) ELSE 0 END) AS BIGINT) AS b7
      |  FROM bits GROUP BY k
      |), prs AS (
      |  SELECT a.k AS id_a, c.k AS id_b,
      |    bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1)) +
      |    bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) +
      |    bit_count(xor(a.b4, c.b4)) + bit_count(xor(a.b5, c.b5)) +
      |    bit_count(xor(a.b6, c.b6)) + bit_count(xor(a.b7, c.b7)) AS hamming
      |  FROM hashes a JOIN hashes c ON a.k < c.k
      |    AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3 OR
      |         a.b4 = c.b4 OR a.b5 = c.b5 OR a.b6 = c.b6 OR a.b7 = c.b7)
      |)""".stripMargin

  // Frozen-two-level-index extension of ivfTwoLevel2Sql (Similarity.
  // trainTwoLevelIndexOn / probeTwoLevel parity): coarse (cc2*) and
  // fine (ff2*) centers re-meaned from the FINAL assignments ca2/fa2 —
  // the build-ends-with-an-update contract — then both the corpus (qn →
  // po) and the batch (qnw → pw) are assigned through the frozen
  // hierarchy: coarse argmin over cc2n, fine argmin restricted to the
  // winning coarse cell, composite cell = cc·k2 + ff.
  private def ivfTwoLevelFrozenExtSql: String =
    """cc2d AS (
      |  SELECT a.cc, d, sum(q.qv[d]) AS sv, count(*) AS cnt
      |  FROM ca2 a JOIN qn q USING (vec_id),
      |       (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
      |  GROUP BY 1, 2
      |), cc2 AS (
      |  SELECT cc, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
      |  FROM cc2d GROUP BY 1
      |), cc2n AS MATERIALIZED (
      |  SELECT cc, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM cc2
      |), ff2d AS (
      |  SELECT a.cc, a.ff, d, sum(q.qv[d]) AS sv, count(*) AS cnt
      |  FROM fa2 a JOIN qn q USING (vec_id),
      |       (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
      |  GROUP BY 1, 2, 3
      |), ff2 AS (
      |  SELECT cc, ff, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
      |  FROM ff2d GROUP BY 1, 2
      |), ff2n AS MATERIALIZED (
      |  SELECT cc, ff, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM ff2
      |), pco AS (
      |  SELECT vec_id, cc FROM (
      |    SELECT q.vec_id, c.cc,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
      |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cc) AS rn
      |    FROM qn q CROSS JOIN cc2n c)
      |  WHERE rn = 1
      |), po AS (
      |  SELECT vec_id, cc * k2 + ff AS cell FROM (
      |    SELECT q.vec_id, a.cc, c.ff,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
      |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.ff) AS rn
      |    FROM qn q JOIN pco a USING (vec_id) JOIN ff2n c ON a.cc = c.cc) s, kp
      |  WHERE rn = 1
      |), pcn AS (
      |  SELECT vec_id, cc FROM (
      |    SELECT q.vec_id, c.cc,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
      |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cc) AS rn
      |    FROM qnw q CROSS JOIN cc2n c)
      |  WHERE rn = 1
      |), pw AS (
      |  SELECT vec_id, cc * k2 + ff AS cell FROM (
      |    SELECT q.vec_id, a.cc, c.ff,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
      |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.ff) AS rn
      |    FROM qnw q JOIN pcn a USING (vec_id) JOIN ff2n c ON a.cc = c.cc) s, kp
      |  WHERE rn = 1
      |)""".stripMargin

  private def ivfLloyd2From(seedsCte: String) =
    s"""$seedsCte, c0 AS (
       |  SELECT cell, qv AS cvec, list_sum(list_transform(qv, x -> x * x)) AS cn2 FROM seeds
       |), a1 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
       |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
       |    FROM qn q CROSS JOIN c0 c)
       |  WHERE rn = 1
       |), c1d AS (
       |  SELECT a.cell, d, sum(q.qv[d]) AS sv, count(*) AS cnt
       |  FROM a1 a JOIN qn q USING (vec_id),
       |       (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
       |  GROUP BY 1, 2
       |), c1 AS (
       |  SELECT cell, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
       |  FROM c1d GROUP BY 1
       |), c1n AS (
       |  SELECT cell, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM c1
       |), a2 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT q.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        q.n2 + c.cn2 - 2 * list_sum(list_transform(range(1, 65),
       |          d -> q.qv[CAST(d AS INT)] * c.cvec[CAST(d AS INT)])), c.cell) AS rn
       |    FROM qn q CROSS JOIN c1n c)
       |  WHERE rn = 1
       |)""".stripMargin
  // The w1/w2 URL fixture + normalization, DuckDB side: synthesizes the
  // same md5-derived URL per document as syntheticUrls (same hash60 seed
  // 'url|', same divisor chain, same part tables) and replays
  // Web.normalizeUrls' canonicalization and Web.registrableDomain's
  // longest-suffix PSL rule. Ends with CTE `unrm` exposing
  // (doc_id, host, reg_domain, had_tracking, norm_url).
  // Just the URL SYNTHESIS half (CTEs `uh`, `uu` — `uu` exposes
  // (doc_id, url)): the w6/w7 robots gate matches on the RAW spelled
  // path-plus-query (what a crawler tests BEFORE fetching — robots
  // precede canonicalization), so it shares the fixture but not the
  // normalization tail.
  private def urlSynthSql: String =
    """uh AS (
      |  SELECT doc_id, doc_id % 250 AS m,
      |    ('0x' || substr(md5('url|' || CAST(doc_id % 250 AS VARCHAR)), 1, 15))::BIGINT AS h1,
      |    ('0x' || substr(md5('urlv|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h2
      |  FROM documents
      |), uu AS (
      |  SELECT doc_id,
      |    (['https','HTTPS','http','Http'])[CAST((h1 % 2) * 2 + h2 % 2 AS INT) + 1] || '://' ||
      |    (['www.','WWW.',''])[CAST((h2 // 2) % 3 AS INT) + 1] ||
      |    (['blog.','news.','','',''])[CAST((h1 // 2) % 5 AS INT) + 1] ||
      |    'site' || CAST((h1 // 10) % 37 AS VARCHAR) ||
      |    (['.com','.org','.io','.co.uk'])[CAST((h1 // 370) % 4 AS INT) + 1] ||
      |    ([':443',':80',':8080','','',''])[CAST((h1 // 1480) % 6 AS INT) + 1] ||
      |    '/p/' || CAST(m AS VARCHAR) ||
      |    CASE WHEN (h2 // 6) % 2 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN (h1 // 8880) % 3 = 1 THEN
      |      CASE WHEN (h2 // 12) % 2 = 0
      |        THEN '?utm_source=feed&id=' || CAST(m % 50 AS VARCHAR)
      |        ELSE '?id=' || CAST(m % 50 AS VARCHAR) || '&utm_campaign=x' END
      |    WHEN (h1 // 8880) % 3 = 2 THEN '?b=2&a=1' ELSE '' END ||
      |    CASE WHEN (h2 // 24) % 3 = 0 THEN '#sec' ELSE '' END AS url
      |  FROM uh
      |)""".stripMargin

  private def urlNormSql: String = urlSynthSql +
    """, up AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hp,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
      |    regexp_extract(url, '\?([^#]*)', 1) AS q0
      |  FROM uu
      |), upp AS (
      |  SELECT doc_id, scheme,
      |    CASE WHEN contains(hp, ':') THEN split_part(hp, ':', 1) ELSE hp END AS host0,
      |    CASE WHEN contains(hp, ':') THEN substr(hp, strpos(hp, ':') + 1) ELSE '' END AS port,
      |    CASE WHEN length(path0) > 1 AND path0 LIKE '%/'
      |      THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS path,
      |    CASE WHEN q0 = '' THEN CAST([] AS VARCHAR[])
      |      ELSE string_split(q0, '&') END AS params
      |  FROM up
      |), unn AS (
      |  SELECT doc_id, scheme, port, path, params,
      |    CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5) ELSE host0 END AS host,
      |    list_sort(list_filter(params, x -> NOT starts_with(x, 'utm_'))) AS kept
      |  FROM upp
      |), unrm AS (
      |  SELECT doc_id, host,
      |    len(params) != len(kept) AS had_tracking,
      |    scheme || '://' || host ||
      |      CASE WHEN port <> '' AND NOT ((scheme = 'https' AND port = '443')
      |          OR (scheme = 'http' AND port = '80'))
      |        THEN ':' || port ELSE '' END ||
      |      path ||
      |      CASE WHEN len(kept) = 0 THEN '' ELSE '?' || array_to_string(kept, '&') END
      |      AS norm_url,
      |    CASE WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
      |         WHEN host LIKE '%.com' THEN regexp_extract(host, '([^.]+\.com)$', 1)
      |         WHEN host LIKE '%.org' THEN regexp_extract(host, '([^.]+\.org)$', 1)
      |         WHEN host LIKE '%.io' THEN regexp_extract(host, '([^.]+\.io)$', 1)
      |         ELSE host END AS reg_domain
      |  FROM unn
      |)""".stripMargin
  // The DuckDB params CTE for the seeded minhash family (shared by every
  // LSH oracle).
  private def minhashParamsSql: String = {
    val (as, bs) = Dedup.minhashParams(32)
    s"""params AS (
       |  SELECT ${as.mkString("[", ", ", "]")} AS alist,
       |         ${bs.mkString("[", ", ", "]")} AS blist
       |)""".stripMargin
  }
  // One LSH "side" over a (doc_id, text) CTE named `src`: normalized
  // tokens, hashed shingle sets, 32-hash minhash signatures, and 8
  // md5-string band keys, each CTE suffixed with `sfx` so two sides can
  // coexist in one query (requires `params` in scope).
  private def lshSideSql(src: String, sfx: String): String =
    s"""norm$sfx AS (
       |  SELECT doc_id, $normToksSql AS toks FROM $src
       |), shs$sfx AS (
       |  SELECT doc_id AS id,
       |    list_distinct(list_transform(${shingleSql(3)},
       |      s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS sh
       |  FROM norm$sfx
       |), sigs$sfx AS (
       |  SELECT id, list_transform(range(32),
       |    i -> list_min(list_transform(sh,
       |      h -> (alist[CAST(i AS INT) + 1] * (h % ${Dedup.MinhashM}) + blist[CAST(i AS INT) + 1]) % ${Dedup.MinhashP}))) AS sig
       |  FROM shs$sfx, params
       |), band$sfx AS (
       |  SELECT id, CAST(j AS INT) AS band,
       |    md5(array_to_string(list_transform(range(CAST(j AS INT) * 4 + 1, CAST(j AS INT) * 4 + 5),
       |      x -> CAST(sig[CAST(x AS INT)] AS VARCHAR)), ',')) AS bkey
       |  FROM sigs$sfx, (SELECT CAST(range AS BIGINT) AS j FROM range(8))
       |)""".stripMargin
  // Connected components over the undirected pair table `pairs`
  // (id_a, id_b) as a recursive reachability closure: `cc` holds every
  // (id, reachable id) row, so min(r) per id is the component label.
  // The caller's WITH must be RECURSIVE.
  private def ccClosureSql(pairs: String): String =
    s"""edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairs
       |  UNION
       |  SELECT id_b, id_a FROM $pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM edges
       |), cc(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT cc.id, e.dst FROM cc JOIN edges e ON cc.r = e.src
       |)""".stripMargin
  // Positional 8-token gram hashes of each row's `toks`: one (p, h) row
  // per gram start p, the body of a gram CTE.
  private def gram8HashesSql: String =
    """SELECT doc_id, unnest(range(1, len(toks) - 6)) AS p,
      |    unnest(list_transform(range(1, len(toks) - 6),
      |      i -> ('0x' || substr(md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 7], ' ')), 1, 15))::BIGINT)) AS h""".stripMargin
  // Text.langId's per-language stop-word hit counts over lower-cased
  // `ltoks`.
  private def stopCountsSql: String =
    """len(list_filter(ltoks, x -> x IN ('the','a','of','to','and','in','is','that','it','for'))) AS s_en,
      |    len(list_filter(ltoks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS s_de,
      |    len(list_filter(ltoks, x -> x IN ('le','la','les','et','est','un','une','des','que','pour'))) AS s_fr,
      |    len(list_filter(ltoks, x -> x IN ('el','los','las','y','es','un','una','que','de','por'))) AS s_es""".stripMargin
  // md5-seeded sign-LSH hyperplanes: `planes` rows (p, wv) of 64 integer
  // weights in [-1000, 1000], the body of a `w` CTE.
  private def signPlanesSql(planes: Int): String =
    s"""SELECT p, list_transform(range(64),
       |    d -> ((('0x' || substr(md5(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 15))::BIGINT) % 2001) - 1000) AS wv
       |  FROM (SELECT CAST(range AS BIGINT) AS p FROM range($planes))""".stripMargin
  // Gaps-and-islands over `marks` (doc_id, s, e): a span starting past
  // the running max end + 1 opens a new island, so grouping `isl` by
  // (doc_id, island) merges overlapping and adjacent spans.
  private def spanIslandsSql: String =
    """ord AS (
      |  SELECT doc_id, s, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      |  FROM marks
      |), isl AS (
      |  SELECT doc_id, s, e,
      |    sum(CASE WHEN pe IS NULL OR s > pe + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS island
      |  FROM ord
      |)""".stripMargin
  // The merged spans per document: one row per island.
  private def mergedSpansSql: String =
    s"""$spanIslandsSql
       |SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
       |  CAST(max(e) AS BIGINT) AS span_end
       |FROM isl GROUP BY doc_id, island""".stripMargin
  // Top 5 neighbors per query from `scored` (query_id, neighbor_id, cos),
  // ties broken by neighbor id — the k-NN output shape.
  private def top5CosSql: String =
    """ranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, round(cos, 6) AS cos, rn FROM ranked WHERE rn <= 5""".stripMargin
  // The oracle twin of [[tradeEdges]]: nation → nation edges weighted
  // by lineitem count, the body of an `edges` CTE.
  private def tradeEdgesSql: String =
    """SELECT c.c_nationkey AS src, s.s_nationkey AS dst, CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2""".stripMargin
  // The oracle twin of [[partCoEdges]]: part pairs (u < v) bought in the
  // same order, weighted by co-occurrence count.
  private def partCoEdgesSql: String =
    """SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2""".stripMargin
  // The oracle twin of [[augmentedEmb]]: every embedding plus an
  // affine-perturbed near-dup twin at id + 1M, the body of `eIn`.
  private def augEmbSql: String =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.1 + 0.01)
      |  FROM embeddings""".stripMargin
  // Per-label mean centroids of the quantized vectors in `ql`
  // (vec_id, label, qv, n2), rounded per dimension, with their squared
  // norms as `cn` (cell, cvec, cn2).
  private def centroidsSql: String =
    """cd AS (
      |  SELECT label AS cell, d, sum(qv[d]) AS sv, count(*) AS cnt
      |  FROM ql, (SELECT CAST(range AS INT) + 1 AS d FROM range(64))
      |  GROUP BY 1, 2
      |), cents AS (
      |  SELECT cell, list(CAST(round(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY d) AS cvec
      |  FROM cd GROUP BY 1
      |), cn AS (
      |  SELECT cell, cvec, list_sum(list_transform(cvec, x -> x * x)) AS cn2 FROM cents
      |)""".stripMargin
  // Text.qualityScore's alpha, stop-word and mean-word-length ratios
  // over a row with `text`, `toks` and lower-cased `ltoks`.
  private def qualityRatiosSql: String =
    """CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS alpha_ratio,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE CAST(len(list_filter(ltoks, x -> x IN ('the','a','of','to','and','in','is','that','it','for'))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
      |    CASE WHEN len(toks) = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS awl""".stripMargin
  // Least-squares slope and r² of y on x from the HUGEINT moments in
  // `agg` (n, sx, sy, sxx, syy, sxy), with n reported as `nCol`.
  private def lineFitSql(nCol: String): String =
    s"""SELECT CAST(n AS BIGINT) AS $nCol,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       |  round(pow(CAST(n * sxy - sx * sy AS DOUBLE), 2) /
       |        (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
       |FROM agg""".stripMargin
  // exact-jaccard expression between shingle-set aliases sa and sb
  private def jaccardSql =
    """CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
      |      CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)""".stripMargin
  // The full d2 minhash+LSH pair pipeline — shared by the d2 oracle and
  // the d6/d10 connected-components oracles (which cluster the same pairs).
  private def d2PairsSql: String =
    s"""WITH $augDocsSql, $minhashParamsSql, ${lshSideSql("aug", "")}, cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
       |), veri AS (
       |  SELECT id_a, id_b, $jaccardSql AS jaccard
       |  FROM cand JOIN shs sa ON cand.id_a = sa.id JOIN shs sb ON cand.id_b = sb.id
       |)
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM veri WHERE jaccard >= 0.4""".stripMargin

  private def retentionVecs: String =
    s"""WITH f AS (
       |  SELECT user_id,
       |         date_diff('day', DATE '$winStart', CAST(ts AS DATE)) AS t,
       |         event_type
       |  FROM events
       |  WHERE ts >= TIMESTAMP '$winStart 00:00:00'
       |    AND ts < TIMESTAMP '$winStart 00:00:00' + INTERVAL $winDays DAY
       |), g AS (
       |  SELECT user_id, t,
       |         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS b,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS tg
       |  FROM f GROUP BY 1, 2
       |), spine AS (
       |  SELECT u.user_id, r.t
       |  FROM (SELECT DISTINCT user_id FROM f) u
       |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS t FROM range($winDays)) r
       |), v AS (
       |  SELECT s.user_id,
       |         list(CAST(coalesce(g.b, 0) AS BIGINT) ORDER BY s.t) AS born_vec,
       |         list(CAST(coalesce(g.tg, 0) AS BIGINT) ORDER BY s.t) AS target_vec
       |  FROM spine s LEFT JOIN g ON s.user_id = g.user_id AND s.t = g.t
       |  GROUP BY 1
       |)""".stripMargin

  // Morton-interleave SQL expression for the p10 oracle — the same
  // 16-bit shift/mask tree Layout.zorder2 builds as Columns, over
  // BIGINT inputs (31-bit shifts overflow INT32).
  private def zorderSqlExpr(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  // Unrolls Bpe.trainMerges round-for-round: w0 = space-padded symbol
  // strings of the normalized word-frequency table; each round r counts
  // adjacent pairs (p_r), picks the (count DESC, l, r) winner (b_r), and
  // rewrites the strings with a literal left-to-right replace (w_r).
  // Returns the CTE body (norm/tok/wrd/w0 + all rounds), shared by the
  // t18 (merge list) and t19 (corpus encoding) oracles.
  private def bpeCtesSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"p$r AS (\n" +
        s"  SELECT u.pr[1] AS l, u.pr[2] AS r, sum(w.cnt) AS n\n" +
        s"  FROM w${r - 1} w,\n" +
        s"    unnest(list_transform(range(1, len(string_split(trim(w.s), ' '))),\n" +
        s"      i -> [string_split(trim(w.s), ' ')[i], string_split(trim(w.s), ' ')[i + 1]])) AS u(pr)\n" +
        s"  GROUP BY 1, 2\n" +
        s"), b$r AS (\n" +
        s"  SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1\n" +
        s"), w$r AS (\n" +
        s"  SELECT w.word, w.cnt, replace(w.s, ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS s\n" +
        s"  FROM w${r - 1} w, b$r b\n" +
        s")"
    }.mkString(", ")
    s"""norm AS (
       |  SELECT doc_id, $normToksSql AS toks FROM documents
       |), tok AS (
       |  SELECT doc_id, t.tok AS word FROM norm, unnest(norm.toks) AS t(tok)
       |), wrd AS (
       |  SELECT word, count(*) AS cnt FROM tok GROUP BY 1
       |), w0 AS (
       |  SELECT word, cnt, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s FROM wrd
       |), $roundCtes""".stripMargin
  }

  /** Unrolls [[Pca.topComponent]]'s exact integer power iteration as
    * HUGEINT CTEs: quantized moments → scatter `n·M − s·sᵀ` → `iters`
    * matvec/renormalize rounds with the identical sign-split floor
    * division, then the same first-nonzero sign fix. CTEs are
    * MATERIALIZED — DuckDB otherwise inlines the scan chain once per
    * iteration and exhausts file handles. */
  private def pcaOracleSql(iters: Int): String = {
    val base =
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings
        |), dims AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS dim FROM range(64)),
        |ex AS MATERIALIZED (SELECT q.vec_id, d.dim, qv[CAST(d.dim AS INT) + 1] AS x FROM q, dims d),
        |sv AS MATERIALIZED (SELECT dim, CAST(sum(x) AS HUGEINT) AS s FROM ex GROUP BY 1),
        |nn AS MATERIALIZED (SELECT CAST(count(qv) AS HUGEINT) AS n FROM q),
        |mm AS MATERIALIZED (
        |  SELECT a.dim AS i, b.dim AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS m
        |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
        |), scat AS MATERIALIZED (
        |  SELECT mm.i, mm.j, nn.n * mm.m - si.s * sj.s AS c
        |  FROM mm CROSS JOIN nn
        |  JOIN sv si ON si.dim = mm.i JOIN sv sj ON sj.dim = mm.j
        |), v0 AS (SELECT dim, CAST(1000000 + dim AS HUGEINT) AS v FROM dims)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s""", w$r AS MATERIALIZED (
         |  SELECT scat.i AS dim, sum(scat.c * p.v) AS w FROM scat JOIN v${r - 1} p ON scat.j = p.dim GROUP BY 1
         |), mx$r AS (SELECT max(abs(w)) AS mx FROM w$r),
         |v$r AS MATERIALIZED (
         |  SELECT dim, CASE WHEN mx = 0 THEN CAST(0 AS HUGEINT)
         |    WHEN w < 0 THEN -((-w) * 1000000 // mx)
         |    ELSE (w * 1000000 // mx) END AS v
         |  FROM w$r, mx$r)""".stripMargin
    }.mkString
    s"""$base$rounds, sgn AS (
       |  SELECT CASE WHEN (SELECT v FROM v$iters WHERE v != 0 ORDER BY dim LIMIT 1) < 0
       |    THEN CAST(-1 AS HUGEINT) ELSE CAST(1 AS HUGEINT) END AS s)
       |SELECT dim, CAST(v * s AS BIGINT) AS loading_micro FROM v$iters, sgn""".stripMargin
  }

  private def bpeOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, CAST(n AS BIGINT) AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeCtesSql(rounds)}\n$unions"
  }

  private def bpeEncodeOracleSql(rounds: Int): String =
    s"""WITH ${bpeCtesSql(rounds)}
       |SELECT t.doc_id, count(*) AS n_tokens,
       |  CAST(sum(len(string_split(trim(w.s), ' '))) AS BIGINT) AS n_symbols
       |FROM tok t JOIN w$rounds w USING (word)
       |GROUP BY 1""".stripMargin

  private def funnelStagesSql =
    """WITH s0 AS (
      |  SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1
      |), d AS (
      |  SELECT user_id, t0, t0 + INTERVAL 7 DAY AS deadline FROM s0
      |), s1 AS (
      |  SELECT d.user_id, d.t0, d.deadline,
      |    min(CASE WHEN e.ts >= d.t0 AND e.ts <= d.deadline THEN e.ts END) AS t1
      |  FROM d LEFT JOIN events e
      |    ON e.user_id = d.user_id AND e.event_type = 'click'
      |  GROUP BY 1, 2, 3
      |), s2 AS (
      |  SELECT s1.user_id, s1.t0, s1.deadline, s1.t1,
      |    min(CASE WHEN e.ts >= s1.t1 AND e.ts <= s1.deadline THEN e.ts END) AS t2
      |  FROM s1 LEFT JOIN events e
      |    ON e.user_id = s1.user_id AND e.event_type = 'purchase'
      |  GROUP BY 1, 2, 3, 4
      |)""".stripMargin
}
