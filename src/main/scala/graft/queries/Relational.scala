package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnBridge
import graft.util.Tables

/** Core relational coverage (SURVEY.md §2.1).
  *
  * The reference chains Hadoop Streaming MR jobs (MultiStreamJobRunner.java:34
  * runs a map phase then per-pipeline reduce jobs); a "query" there is a
  * chain of mapper/reducer executables. Here each chain is a single
  * declarative Catalyst plan: map-side combine, broadcast joins for dims,
  * pushdown to parquet all come from the optimizer rather than hand-wiring.
  *
  * Oracle parity rules (SURVEY.md §5): every float aggregate is rounded
  * identically on both sides; every query ends in a deterministic total
  * ORDER BY; every computed column is aliased identically in Spark & SQL.
  */
object Relational {

  /** TPC-H Q1-flavored grouped aggregation — the Aggregate-package reduce
    * (reference: users run `...|aggregate` reducers; LongValueSum etc.).
    * Partial aggregation (map-side combine) is automatic; at 100 TB this
    * shuffles only |groups| x |partitions| rows.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir).lineitem
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-flavored: filter + 3-way join + agg + top-k.
    * customer is a dim (1.5k rows/sf) → broadcast; orders⋈lineitem shuffles
    * on orderkey. Top-k = TakeOrderedAndProject (no full sort at scale).
    */
  def q3JoinTopk(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t.orders.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = t.lineitem.filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinTopkSql: String =
    """SELECT l_orderkey, o_orderdate,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-flavored 6-table star join. All dims broadcast; only the
    * orders⋈lineitem edge shuffles. At 1000 executors the broadcast tree
    * keeps this a single shuffle stage.
    */
  def q5Join5(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val dims = broadcast(
      t.customer.select("c_custkey", "c_nationkey")
        .join(t.nation.select("n_nationkey", "n_name", "n_regionkey"),
          col("c_nationkey") === col("n_nationkey"))
        .join(t.region.filter(col("r_name") === "ASIA").select("r_regionkey"),
          col("n_regionkey") === col("r_regionkey")))
    val ord = t.orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Join5Sql: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Mapper-only pipeline (`grep` + `cut`): filter + narrow projection.
    * Both the predicate and the 3-column ReadSchema must reach the parquet
    * scan (checked in RelationalSpec via the executed plan).
    */
  def qFilterProject(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .filter(col("o_totalprice") > 100000.0 && col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderkey"))

  val qFilterProjectSql: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
      |FROM orders
      |WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** Secondary sort: Hadoop Streaming gets per-key value ordering via
    * KeyFieldBasedComparator; Spark expresses it as a window. One shuffle
    * on the partition key, sort within partitions.
    *
    * The rank filter runs in its OWN window stage, separate from the
    * running sum: a rank-only window with `rn ≤ k` compiles to
    * WindowGroupLimit (every task keeps its local top-3 per customer
    * BEFORE the exchange), and the cumulative sum over the surviving
    * ≤ 3 rows per key is identical to the cumsum over the full
    * partition truncated to rn ≤ 3 — prefix sums only look backward.
    * Fusing both into one window (the naive form) disables the
    * pushdown and shuffles the entire fact table.
    */
  def qWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(s, dir).orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .withColumn("run_total",
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("run_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val qWindowSql: String =
    """SELECT o_custkey, o_orderkey, rn, run_total FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER w AS rn,
      |    round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** 7-day moving average over daily revenue — the rolling-metric shape.
    * Two stages: a partial-aggregatable daily rollup (shuffle keyed on
    * date, uniform), then the moving window over the AGGREGATED series.
    * The global window runs on one task, which is correct at any corpus
    * scale: the windowed input is one row per date (thousands of rows),
    * not the raw fact table — aggregate first, window the small series.
    * Daily totals are rounded before the average so both engines fold
    * identical 2-decimal values.
    */
  def qRolling(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir).orders
      .groupBy(col("o_orderdate"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
    daily
      .withColumn("ma7", round(avg(col("revenue")).over(
        Window.orderBy(col("o_orderdate")).rowsBetween(-6, 0)), 2))
      .select(unix_timestamp(col("o_orderdate")).as("ds"),
        col("revenue"), col("ma7"))
      .orderBy(col("ds"))
      .limit(100)
  }

  val qRollingSql: String =
    """SELECT ds, revenue, ma7 FROM (
      |  SELECT floor(epoch(o_orderdate))::BIGINT AS ds, revenue,
      |    round(avg(revenue) OVER (ORDER BY o_orderdate
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
      |  FROM (
      |    SELECT o_orderdate, round(sum(o_totalprice), 2) AS revenue
      |    FROM orders GROUP BY o_orderdate))
      |ORDER BY ds
      |LIMIT 100""".stripMargin

  /** VALUE-based window frame (RANGE BETWEEN): per customer, each
    * order's trailing-30-DAY spend — rows-frames (q_rolling's ROWS 6
    * PRECEDING) count neighbors, range-frames bound the ORDER KEY's
    * VALUE, which is what a time-window business metric actually means
    * when gaps exist (a 7-row frame spans months for a sparse
    * customer). Spark compiles the day-keyed range frame to one
    * running WindowExec over the (custkey)-partitioned sort — no
    * self-join, no fan-out; the RANGE/ROWS distinction is exactly what
    * this query pins cross-engine.
    */
  def qRollingRange(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir).orders.select(col("o_custkey"), col("o_orderkey"),
      floor(unix_timestamp(col("o_orderdate")) / 86400).as("day"),
      col("o_totalprice"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-29, 0)
    o.withColumn("spend30", round(sum(col("o_totalprice")).over(w), 2))
      .withColumn("n30", count(lit(1)).over(w))
      .select(col("o_custkey"), col("day"), col("o_orderkey"),
        col("spend30"), col("n30"))
      .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
  }

  val qRollingRangeSql: String =
    """SELECT o_custkey, day, o_orderkey,
      |  round(sum(o_totalprice) OVER w, 2) AS spend30,
      |  count(*) OVER w AS n30
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    floor(epoch(o_orderdate) / 86400)::BIGINT AS day, o_totalprice
      |  FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  /** Point-in-time join: each event picks up the user's prevailing
    * order "quote" (latest order at or before the event time), then a
    * per-user rollup. The right side is pre-aggregated to one row per
    * (customer, date) — as-of requires a unique (key, ts) right side in
    * any engine. DuckDB checks the same semantics with its native
    * ASOF JOIN.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val quotes = t.orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("quote"))
    graft.ops.AsofJoin.asof(
        t.events.select(col("event_id"), col("user_id"), col("ts")),
        quotes, "user_id", "ts", "o_custkey", "o_orderdate")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("quote")), 2).as("total_quote"))
      .orderBy(col("user_id"))
  }

  val qAsofJoinSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(quote), 2) AS total_quote
      |FROM events e ASOF JOIN (
      |  SELECT o_custkey, o_orderdate, max(o_totalprice) AS quote
      |  FROM orders GROUP BY 1, 2) q
      |  ON e.user_id = q.o_custkey AND e.ts >= q.o_orderdate
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Full outer join: customers vs a per-customer order rollup —
    * customers with no orders keep a 0 total, order keys with no
    * customer row (none in conformant data, but the join type must
    * handle it) surface with a null name. Completes the join-type
    * matrix (inner/semi/anti/broadcast/as-of/range elsewhere).
    */
  def qOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val perCust = t.orders.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
    t.customer.select(col("c_custkey"), col("c_mktsegment"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders").isNull, 1).otherwise(0)).cast("long")
          .as("n_orderless"),
        round(sum(coalesce(col("total"), lit(0.0))), 2).as("segment_total"))
      .orderBy(col("segment"))
  }

  val qOuterJoinSql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n_customers,
      |  sum(CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_orderless,
      |  round(sum(coalesce(total, 0.0)), 2) AS segment_total
      |FROM customer c FULL OUTER JOIN (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    round(sum(o_totalprice), 2) AS total
      |  FROM orders GROUP BY o_custkey) o
      |  ON c.c_custkey = o.o_custkey
      |GROUP BY 1
      |ORDER BY segment""".stripMargin

  /** Global sort + head — Spark plans TakeOrderedAndProject: per-partition
    * top-k then a k-row driver merge, not a total sort. Unique key in the
    * ordering makes it deterministic.
    */
  def qOrderbyLimit(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(25)

  val qOrderbyLimitSql: String =
    """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
      |FROM lineitem
      |ORDER BY price DESC, l_orderkey, l_linenumber
      |LIMIT 25""".stripMargin

  /** Job chaining (output of job A = input of job B) + union: two derived
    * frames unioned then re-aggregated — in Spark one plan, zero
    * materialization between "jobs".
    */
  def qUnionChain(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val hi = t.orders.filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey"), lit("high").as("bucket"))
    val lo = t.orders.filter(col("o_totalprice") <= 50000.0)
      .select(col("o_custkey"), lit("low").as("bucket"))
    hi.unionByName(lo)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("bucket"))
  }

  val qUnionChainSql: String =
    """SELECT bucket, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers
      |FROM (
      |  SELECT o_custkey, 'high' AS bucket FROM orders WHERE o_totalprice > 150000.0
      |  UNION ALL
      |  SELECT o_custkey, 'low' AS bucket FROM orders WHERE o_totalprice <= 50000.0
      |)
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** EXISTS chain → left_semi join (no row duplication, no projection of
    * the right side — cheaper than inner+distinct at scale).
    */
  def qSemijoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val bigOrders = t.orders.filter(col("o_totalprice") > 200000.0)
      .select("o_custkey")
    t.customer.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val qSemijoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
      |ORDER BY c_custkey""".stripMargin

  /** NOT EXISTS → left_anti join (customers with no 250k+ order). */
  def qAntijoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    t.customer.join(
        t.orders.filter(col("o_totalprice") > 250000.0).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val qAntijoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Multi-level totals in one pass: ROLLUP plans a single aggregation
    * producing all grouping-set levels (vs one chained MR job per level
    * in the reference's world). NULLS FIRST pinned on both sides —
    * Spark and DuckDB default null ordering differ.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE — all 2ᵏ margin combinations in one Expand + one
    * partial-aggregatable hash aggregate (completes the rollup /
    * grouping-sets / pivot family). grouping_id() disambiguates margin
    * NULLs from genuine NULL keys, same bitmask as DuckDB's GROUPING.
    */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val qCubeSql: String =
    """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
      |  l_returnflag, l_linestatus, count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag ASC NULLS FIRST,
      |  l_linestatus ASC NULLS FIRST""".stripMargin

  /** GROUPING SETS proper (the asymmetric sets ROLLUP/CUBE can't
    * spell): detail, one single-column margin, and the grand total in
    * ONE aggregation pass — Spark expands the sets with a single
    * Expand + partial-aggregatable hash aggregate, vs one chained MR
    * job per level in the reference's world. `grouping_id()` and
    * DuckDB's `GROUPING(a, b)` use the same bitmask (first column =
    * MSB — verified), which also disambiguates a margin row's NULL
    * from a genuine NULL group key.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag, l_linestatus) AS gid,
      |  count(*) AS n,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_linestatus), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST,
      |  l_linestatus ASC NULLS FIRST""".stripMargin

  /** Pivot: wide per-status totals per priority. Spark's pivot API
    * compiles to conditional aggregation — the oracle states the same
    * computation as explicit FILTER aggregates (engine-neutral form).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
      .orderBy(col("o_orderpriority"))

  val qPivotSql: String =
    """SELECT o_orderpriority,
      |  round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS total_f,
      |  round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS total_o,
      |  round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS total_p
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Unpivot (melt): the wide→long inverse of q_pivot — four measure
    * columns become (measure, val) rows. Spark's `unpivot` compiles to
    * one Expand (map-side row fan-out, no shuffle beyond the final
    * partial-aggregatable groupBy); the oracle uses DuckDB's UNPIVOT
    * clause, proving the relational surface both directions.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
      .unpivot(Array.empty[org.apache.spark.sql.Column],
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "val")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), round(sum(col("val")), 2).as("total"))
      .orderBy(col("measure"))

  val qUnpivotSql: String =
    """SELECT measure, count(*) AS n, round(sum(val), 2) AS total
      |FROM (UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
      |               FROM lineitem)
      |      ON l_quantity, l_extendedprice, l_discount, l_tax
      |      INTO NAME measure VALUE val)
      |GROUP BY measure
      |ORDER BY measure""".stripMargin

  /** Edit-distance fuzzy self-join over distinct part names — the
    * entity-resolution / typo-clustering primitive, via
    * [[graft.ops.FuzzyJoin]]'s q-gram prefix-filtered candidate
    * generation (EDJoin) + codegen'd levenshtein verify. The DuckDB
    * oracle replays it as the naive quadratic — exactness of the
    * blocking is precisely what the hash compare proves.
    */
  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.FuzzyJoin.selfJoin(Tables(s, dir).part, "p_name", maxDist = 2)
      .orderBy(col("name_a"), col("name_b"))

  val qFuzzyJoinSql: String =
    """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  levenshtein(a.p_name, b.p_name) AS dist
      |FROM n a, n b
      |WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  /** Z-order cell rollup over orders — the deterministic half of the
    * [[graft.ops.ZOrder]] layout op, oracle-checked: every order's
    * Morton code of (o_custkey, order-day) is computed by the codegen'd
    * bit spread, rolled up into 256×256 z-cells with per-cell min/max
    * of BOTH dimensions. The min/max columns ARE the point: each cell's
    * bounds stay inside one rectangle (spec-pinned), which is exactly
    * why parquet footer stats prune on either column after a z-order
    * layout. The oracle replays the interleave bit-by-bit in SQL.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir).orders
      .select(col("o_custkey"),
        floor(unix_timestamp(col("o_orderdate")) / 86400).as("day"))
    o.withColumn("zvalue", graft.ops.ZOrder.zvalue(col("o_custkey"), col("day")))
      .withColumn("zcell", shiftright(col("zvalue"), 16))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
      .orderBy(col("zcell"))
  }

  val qZorderSql: String =
    """WITH z AS (
      |  SELECT o_custkey,
      |    floor(epoch(o_orderdate) / 86400)::BIGINT AS day,
      |    CAST(list_sum(list_transform(range(0, 16), b ->
      |      (((o_custkey >> b) & 1)::BIGINT << (2 * b)) +
      |      (((floor(epoch(o_orderdate) / 86400)::BIGINT >> b) & 1)::BIGINT
      |        << (2 * b + 1)))) AS BIGINT) AS zvalue
      |  FROM orders)
      |SELECT zvalue >> 16 AS zcell, count(*) AS n_orders,
      |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
      |  min(day) AS min_day, max(day) AS max_day
      |FROM z
      |GROUP BY zcell
      |ORDER BY zcell""".stripMargin

  /** The remaining rank-family window functions in one pass —
    * ntile/percent_rank/cume_dist over each order priority's price
    * ranking (dense_rank/row_number/lag/lead/rolling are covered by
    * q_window, q_rolling, q_transitions). All four functions share ONE
    * (o_orderpriority)-partitioned sort. percent_rank and cume_dist
    * are exact rationals of rank and count — identical doubles in both
    * engines — rounded to 6 anyway per the house parity rules. The
    * rank ≤ 50 cut happens AFTER the full-partition functions (they
    * need total counts, so no WindowGroupLimit — deliberate).
    */
  def qRankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir).orders
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .filter(col("rnk") <= 50)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("quartile"), col("pct_rank"), col("cume"))
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  val qRankFamilySql: String =
    """SELECT o_orderpriority, rnk, o_orderkey, quartile, pct_rank, cume
      |FROM (
      |  SELECT o_orderpriority, o_orderkey,
      |    row_number() OVER w AS rnk,
      |    ntile(4) OVER w AS quartile,
      |    round(percent_rank() OVER w, 6) AS pct_rank,
      |    round(cume_dist() OVER w, 6) AS cume
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rnk <= 50
      |ORDER BY o_orderpriority, rnk""".stripMargin

  /** 2-D skyline (Pareto frontier): orders not dominated on
    * (o_totalprice, order day) — q dominates p iff both dims ≥ and one
    * strictly >. The textbook formulation is a quadratic NOT EXISTS;
    * the scalable plan exploits the 2-D structure: collapse to one
    * max_day per DISTINCT price (partial-aggregatable groupBy), then
    * over the price-level table — |distinct prices| rows, not |orders|
    * — a running max of day over strictly-higher prices decides
    * survival: survive iff max_day > every higher-price day seen
    * (ties on BOTH dims survive together, joined back for their
    * count). TPC-H totalprice is effectively CONTINUOUS, so |distinct
    * prices| ≈ |orders| and a global price-ordered window would still
    * be a corpus sort into ONE partition (the round-8 weak). The
    * prefix max therefore decomposes exactly like pack_concat's prefix
    * sum: range-shard the price domain (bounds from a one-row
    * broadcast aggregate — shard id is monotonic in price, so higher
    * shards hold strictly higher prices), take the running max WITHIN
    * each shard in parallel, and fold the shards-above contribution in
    * from a SkyShards-row broadcast frame. The sharded price table is
    * localCheckpoint-ed (a slim (price, max_day, shard) projection —
    * ~20 B/row even when distinct prices ≈ |orders|): its two
    * consumers (the per-shard window, the shard-base rollup) read the
    * checkpoint instead of re-running scan+groupBy+bounds. The only
    * SinglePartition left in the final plan is the SkyShards-row base
    * window (PlanSpec-pinned); the oracle replays the plain global
    * window in SQL — DuckDB's single node doesn't care.
    */
  private val SkyShards = 64

  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir).orders.select(
      col("o_totalprice").as("price"),
      floor(unix_timestamp(col("o_orderdate")) / 86400).as("day"),
      col("o_orderkey"))
    val perPrice = o.groupBy(col("price")).agg(max(col("day")).as("max_day"))
    val bounds = perPrice.agg(min(col("price")).as("pmin"),
      max(col("price")).as("pmax"))
    // floor((p−min)·N ∕ span) is monotone non-decreasing in p under
    // IEEE rounding, so shard order IS price order; clamp p = pmax
    // (which lands on N) back into the top shard
    val sharded = perPrice.crossJoin(broadcast(bounds))
      .withColumn("shard",
        when(col("pmax") === col("pmin"), lit(0L)).otherwise(
          least(lit(SkyShards - 1L), floor(
            (col("price") - col("pmin")).cast("double") * SkyShards /
              (col("pmax") - col("pmin")).cast("double")))))
      .drop("pmin", "pmax")
      .localCheckpoint()
    val wLocal = Window.partitionBy(col("shard"))
      .orderBy(col("price").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sharded.withColumn("local_hi", max(col("max_day")).over(wLocal))
    val bases = sharded.groupBy(col("shard"))
      .agg(max(col("max_day")).as("smax"))
      .withColumn("above_hi", max(col("smax")).over(
        Window.orderBy(col("shard").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("shard"), col("above_hi"))
    val frontier = local.join(broadcast(bases), "shard")
      // greatest() ignores NULLs: first row of the top shard has both
      // sides NULL = no higher price anywhere = survives unconditionally
      .withColumn("hi_day", greatest(col("local_hi"), col("above_hi")))
      .filter(col("hi_day").isNull || col("max_day") > col("hi_day"))
      .select(col("price"), col("max_day").as("day"))
    o.join(frontier, Seq("price", "day"))
      .groupBy(col("price"), col("day"))
      .agg(count(lit(1)).as("n_orders"), min(col("o_orderkey")).as("min_orderkey"))
      .orderBy(col("price").desc, col("day"))
  }

  val qSkylineSql: String =
    """WITH o AS (
      |  SELECT o_totalprice AS price,
      |    floor(epoch(o_orderdate) / 86400)::BIGINT AS day, o_orderkey
      |  FROM orders),
      |pp AS (SELECT price, max(day) AS max_day FROM o GROUP BY price),
      |fr AS (
      |  SELECT price, max_day AS day FROM (
      |    SELECT price, max_day,
      |      max(max_day) OVER (ORDER BY price DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi_day
      |    FROM pp)
      |  WHERE hi_day IS NULL OR max_day > hi_day)
      |SELECT o.price, o.day, count(*) AS n_orders,
      |  min(o.o_orderkey) AS min_orderkey
      |FROM o JOIN fr ON fr.price = o.price AND fr.day = o.day
      |GROUP BY o.price, o.day
      |ORDER BY o.price DESC, o.day""".stripMargin

  /** Market-basket co-occurrence with lift: part pairs ordered
    * together, scored by lift = N·c(ab)/(c(a)·c(b)) — the association
    * mining primitive. The pair explode is WITHIN an order (self-join
    * on orderkey, part_a < part_b): fan-out is items-per-order choose
    * 2, bounded per row, never corpus². All supports are integer
    * counts; lift's single division runs on identical integer operands
    * in both engines (round 6). Top-100 by lift with a full tiebreak.
    *
    * Round 9: N rides an IN-PLAN one-row aggregate broadcast into the
    * lift projection (it was a driver-side count that re-ran the
    * corpus distinct as an extra full job per run — the
    * text_nbclassify defect in miniature), and the shared (okey, part)
    * distinct localCheckpoints so its three consumers (item counts,
    * both self-join sides) shuffle the checkpoint instead of
    * re-deriving the corpus distinct.
    */
  private val BasketMinSupport = 2

  def qBasket(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir).lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
      .localCheckpoint()
    val nOrdersDf = li.agg(countDistinct(col("okey")).as("n_orders"))
    val itemCounts = li.groupBy(col("part")).agg(count(lit(1)).as("c"))
    val pairs = li.as("a")
      .join(li.as("b"), col("a.okey") === col("b.okey") &&
        col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= BasketMinSupport)
    pairs
      .join(itemCounts.select(col("part").as("part_a"), col("c").as("ca")), "part_a")
      .join(itemCounts.select(col("part").as("part_b"), col("c").as("cb")), "part_b")
      .crossJoin(broadcast(nOrdersDf))
      .select(col("part_a"), col("part_b"), col("nab"),
        round((col("nab") * col("n_orders")).cast("double") /
          (col("ca") * col("cb")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(100)
  }

  val qBasketSql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
       |n AS (SELECT count(DISTINCT okey) AS n_orders FROM li),
       |ic AS (SELECT part, count(*) AS c FROM li GROUP BY part),
       |pr AS (
       |  SELECT a.part AS part_a, b.part AS part_b, count(*) AS nab
       |  FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY a.part, b.part
       |  HAVING count(*) >= $BasketMinSupport)
       |SELECT part_a, part_b, nab,
       |  round((nab * (SELECT n_orders FROM n))::DOUBLE /
       |        (ca.c * cb.c)::DOUBLE, 6) AS lift
       |FROM pr
       |JOIN ic ca ON ca.part = pr.part_a
       |JOIN ic cb ON cb.part = pr.part_b
       |ORDER BY lift DESC, part_a, part_b
       |LIMIT 100""".stripMargin

  /** Month-over-month revenue growth — the reporting staple: monthly
    * revenue summed in integer CENTS (exact, order-free), previous
    * month via lag over the month-level table (tiny: calendar-bounded
    * cardinality, like q_wau's day table), growth = one float division
    * on identical integer operands, rounded to 4.
    */
  def qMom(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir).orders
      .select(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_s"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("month_s"))
      .agg(sum(col("cents")).as("rev_cents"), count(lit(1)).as("n_orders"))
    monthly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(
        Window.orderBy(col("month_s"))))
      .select(col("month_s"), col("n_orders"), col("rev_cents"),
        when(col("prev_cents") > 0,
          round((col("rev_cents") - col("prev_cents")).cast("double") /
            col("prev_cents").cast("double"), 4)).as("mom_growth"))
      .orderBy(col("month_s"))
  }

  val qMomSql: String =
    """SELECT month_s, n_orders, rev_cents,
      |  CASE WHEN prev_cents > 0
      |       THEN round((rev_cents - prev_cents)::DOUBLE
      |                  / prev_cents::DOUBLE, 4) END AS mom_growth
      |FROM (
      |  SELECT month_s, n_orders, rev_cents,
      |    lag(rev_cents) OVER (ORDER BY month_s) AS prev_cents
      |  FROM (
      |    SELECT floor(epoch(date_trunc('month', o_orderdate)))::BIGINT
      |             AS month_s,
      |      CAST(sum(round(o_totalprice * 100)::BIGINT) AS BIGINT)
      |        AS rev_cents,
      |      count(*) AS n_orders
      |    FROM orders GROUP BY 1))
      |ORDER BY month_s""".stripMargin

  /** Table profiler — the "what is in this table" utility every engine
    * ships (column-wise rows / nulls / exact distinct / min / max). The
    * fixed-width statistics ride ONE scan: a single HashAggregate whose
    * multiple COUNT(DISTINCT) columns Catalyst plans as one Expand (×6
    * row fan-out, map-side, partial-aggregatable) — not six passes over
    * the table; string min/max take a second Expand-free scan (see the
    * SortAggregate note inside). The wide result row is melted to one
    * row per column with an `inline` (no shuffle). min/max are computed
    * on NORMALIZED values so they render byte-identically cross-engine:
    * BIGINTs as-is, doubles as integer cents, timestamps as epoch
    * seconds — then cast to string AFTER aggregation (min over a string
    * cast would be lexicographic: "9" > "10"). At 100 TB exact distinct
    * is the honest profiler cost; the cheap alternative is
    * approx_count_distinct (HLL, agg_sketches' machinery) which drops
    * the Expand entirely.
    */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir).orders
    val profiled: Seq[(String, org.apache.spark.sql.Column, Boolean)] = Seq(
      ("o_orderkey", col("o_orderkey"), false),
      ("o_custkey", col("o_custkey"), false),
      ("o_orderstatus", col("o_orderstatus"), true),
      ("o_totalprice", round(col("o_totalprice") * 100).cast("long"), false),
      ("o_orderdate", unix_timestamp(col("o_orderdate")), false),
      ("o_orderpriority", col("o_orderpriority"), true))
    // STRING min/max carry a var-length aggregation buffer, which
    // forces the WHOLE Aggregate to SortAggregate — and this aggregate's
    // input is the Expand-multiplied (xN-columns) row stream, so the
    // sort would dominate the query (measured 3x). Keep the fan-out
    // aggregate fixed-width-only (counts, distincts, numeric extrema =
    // HashAggregate all the way) and give the string extrema their own
    // Expand-free pass over the raw scan; the two one-row results meet
    // in a broadcast join that costs nothing at any scale.
    val aggsMain = count(lit(1)).as("n_rows") +:
      profiled.flatMap { case (n, c, isStr) =>
        Seq(count(c).as(s"nn_$n"), countDistinct(c).as(s"nd_$n")) ++
          (if (isStr) Nil
           else Seq(min(c).cast("string").as(s"mn_$n"),
             max(c).cast("string").as(s"mx_$n")))
      }
    val aggsStr = profiled.filter(_._3).flatMap { case (n, c, _) =>
      Seq(min(c).as(s"mn_$n"), max(c).as(s"mx_$n"))
    }
    val wide = o.agg(aggsMain.head, aggsMain.tail: _*)
      .crossJoin(broadcast(o.agg(aggsStr.head, aggsStr.tail: _*)))
    val melted = profiled.map { case (n, _, _) =>
      struct(lit(n).as("col_name"), col("n_rows"),
        (col("n_rows") - col(s"nn_$n")).as("n_nulls"),
        col(s"nd_$n").as("n_distinct"),
        col(s"mn_$n").as("min_val"), col(s"mx_$n").as("max_val"))
    }
    wide.select(inline(array(melted: _*))).orderBy(col("col_name"))
  }

  val qProfileSql: String = {
    def one(name: String, norm: String): String =
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  count(*) - count($norm) AS n_nulls,
         |  count(DISTINCT $norm) AS n_distinct,
         |  min($norm)::VARCHAR AS min_val, max($norm)::VARCHAR AS max_val
         |FROM orders""".stripMargin
    Seq(
      one("o_orderkey", "o_orderkey"),
      one("o_custkey", "o_custkey"),
      one("o_orderstatus", "o_orderstatus"),
      one("o_totalprice", "round(o_totalprice * 100)::BIGINT"),
      one("o_orderdate", "floor(epoch(o_orderdate))::BIGINT"),
      one("o_orderpriority", "o_orderpriority")
    ).mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)\nORDER BY col_name")
  }

  /** Pearson correlation per group with ORDER-INDEPENDENT exactness: the
    * five moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate as
    * DECIMAL(38,0) over integer inputs (quantity as-is, price in cents),
    * so partial aggregation across any partitioning is bit-reproducible —
    * a float `corr()` would drift with partition order at 100 TB. The
    * r formula then runs in double exactly once per GROUP (5 values),
    * not per row: r = (nΣxy − ΣxΣy) / (√(nΣx²−Σx²ᵥ) · √(nΣy²−Σy²ᵥ)).
    * Σy² at 100 TB overflows BIGINT (10¹⁴ per row × 10¹¹ rows) but not
    * decimal-38; the variance PRODUCT would overflow even decimal-38, so
    * each variance is cast to double BEFORE the sqrt-multiply. The DuckDB
    * twin states the identical integer arithmetic over HUGEINT.
    */
  def qCorr(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Tables(s, dir).lineitem.select(col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val sums = base.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        count(lit(1)).cast(dec).as("n_dec"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
    sums.select(col("l_returnflag"), col("n"),
        round((col("n_dec") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n_dec") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n_dec") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("pearson_r"))
      .orderBy(col("l_returnflag"))
  }

  val qCorrSql: String =
    """WITH b AS (
      |  SELECT l_returnflag, l_quantity::BIGINT AS x,
      |    round(l_extendedprice * 100)::BIGINT AS y
      |  FROM lineitem),
      |a AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM b GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((n * sxy - sx * sy)::DOUBLE /
      |    (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)),
      |    6) AS pearson_r
      |FROM a
      |ORDER BY l_returnflag""".stripMargin

  /** Data-quality constraint suite (the Deequ/dbt-test shape): one
    * audit run = one unioned plan of independent assertions, one
    * result row per constraint with checked/violation counts — the
    * gate a pipeline runs before promoting a snapshot. Five constraint
    * families over three tables: uniqueness (key-count aggregate —
    * violations = Σ(cnt−1) over duplicated keys, NOT a distinct-count
    * subtraction, so the aggregate stays one partial-aggregatable
    * pass), completeness (null counting), referential integrity (LEFT
    * join against the unique parent key + null probe — one shuffle per
    * FK check, the honest cost; the customer side would broadcast at
    * any realistic dim∕fact ratio), range, and set membership (map-side
    * predicates). Every branch aggregates to one row before the union,
    * so the union is free; each table is scanned once per family that
    * needs it and Catalyst prunes to the checked columns.
    */
  def qConstraints(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    def unique(name: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_checked"),
          coalesce(sum(when(col("cnt") > 1, col("cnt") - 1)
            .otherwise(0L)), lit(0L)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    def agg1(name: String, df: DataFrame,
        checked: org.apache.spark.sql.Column,
        viol: org.apache.spark.sql.Column): DataFrame =
      df.agg(checked.as("n_checked"), viol.as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    def referential(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      // parent keys deduped: a parent dirty enough to violate ITS
      // uniqueness check must not fan out this join and double-count
      // the child side
      agg1(name,
        child.filter(col(fk).isNotNull)
          .join(parent.select(col(pk)).distinct(), col(fk) === col(pk),
            "left"),
        count(lit(1)), sum(when(col(pk).isNull, 1L).otherwise(0L)))
    val checks = Seq(
      unique("customer.c_custkey unique", t.customer, "c_custkey"),
      unique("orders.o_orderkey unique", t.orders, "o_orderkey"),
      agg1("orders.o_custkey complete", t.orders, count(lit(1)),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L))),
      referential("orders.o_custkey -> customer.c_custkey",
        t.orders, "o_custkey", t.customer, "c_custkey"),
      agg1("orders.o_orderstatus in {O,F,P}", t.orders, count(lit(1)),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L))),
      agg1("orders.o_totalprice positive", t.orders, count(lit(1)),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))),
      referential("lineitem.l_orderkey -> orders.o_orderkey",
        t.lineitem, "l_orderkey", t.orders, "o_orderkey"),
      agg1("lineitem.l_quantity in [1,50]", t.lineitem, count(lit(1)),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L))))
    checks.reduce(_ unionByName _).orderBy(col("check_name"))
  }

  val qConstraintsSql: String =
    """SELECT * FROM (
      |  SELECT 'customer.c_custkey unique' AS check_name,
      |    sum(cnt)::BIGINT AS n_checked,
      |    sum(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END)::BIGINT
      |      AS n_violations
      |  FROM (SELECT count(*) AS cnt FROM customer GROUP BY c_custkey)
      |UNION ALL
      |  SELECT 'orders.o_orderkey unique', sum(cnt)::BIGINT,
      |    sum(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END)::BIGINT
      |  FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
      |UNION ALL
      |  SELECT 'orders.o_custkey complete', count(*),
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
      |  FROM orders
      |UNION ALL
      |  SELECT 'orders.o_custkey -> customer.c_custkey', count(*),
      |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
      |  FROM orders o
      |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |    ON o.o_custkey = c.c_custkey
      |  WHERE o.o_custkey IS NOT NULL
      |UNION ALL
      |  SELECT 'orders.o_orderstatus in {O,F,P}', count(*),
      |    sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0
      |        END)::BIGINT
      |  FROM orders
      |UNION ALL
      |  SELECT 'orders.o_totalprice positive', count(*),
      |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT
      |  FROM orders
      |UNION ALL
      |  SELECT 'lineitem.l_orderkey -> orders.o_orderkey', count(*),
      |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
      |  FROM lineitem l
      |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_orderkey IS NOT NULL
      |UNION ALL
      |  SELECT 'lineitem.l_quantity in [1,50]', count(*),
      |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0
      |        END)::BIGINT
      |  FROM lineitem)
      |ORDER BY check_name""".stripMargin

  /** Incremental materialized-view maintenance — the shape every
    * production aggregation pipeline converges to: a stored rollup
    * (per month × status: count, revenue, key min/max) is REFRESHED by
    * merging the delta's partial aggregates into the stored state, not
    * by recomputing history. Day-0 builds the MV over months before
    * 2000-01 and persists it (a real parquet round-trip — the state
    * genuinely leaves the plan and comes back); the refresh aggregates
    * ONLY the delta, unions the two state tables, and re-aggregates
    * with the MERGE functions (sum of counts, sum of sums, min of
    * mins, max of maxes). The oracle is the FULL recompute off orders
    * — the hash match proves the incremental algebra exactly.
    *
    * What makes an aggregate maintainable this way is partial-agg
    * algebra: count/sum/min/max carry their own merge; avg must be
    * stored as (sum, count); COUNT(DISTINCT) needs a mergeable sketch
    * (agg_hll_rollup is exactly that shape); MEDIAN/percentiles need
    * GK/t-digest state (agg_sketches). Revenue stays in integer cents
    * so base+delta merge order cannot drift a float sum.
    *
    * Scale (100 TB): refresh cost is proportional to the DELTA, never
    * the history — the stored MV is month×status-sized (KB–MB), the
    * delta aggregate is one partial-agg exchange, and the merge is a
    * group-key-scale re-aggregation. This is also the
    * foreachBatch-side pattern of a streaming rollup sink.
    */
  /** The MV partial-aggregate algebra shared by [[qMvRefresh]],
    * [[qMvCompact]] and the streaming face's specs: per (month,
    * status) — count, integer-cent revenue, key min/max.
    */
  private[graft] def mvPartial(df: DataFrame): DataFrame = df
    .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("o_month"),
      col("o_orderstatus"))
    .agg(count(lit(1)).as("n_orders"),
      sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"))

  /** Re-aggregate partial rows back to the SAME partial schema — the
    * merge half of the algebra (sums sum, mins min, maxes max).
    */
  private[graft] def mvMerge(df: DataFrame): DataFrame = df
    .groupBy(col("o_month"), col("o_orderstatus"))
    .agg(sum(col("n_orders")).as("n_orders"),
      sum(col("cents")).as("cents"),
      min(col("min_key")).as("min_key"),
      max(col("max_key")).as("max_key"))

  def qMvRefresh(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "mv_refresh")
    val orders = Tables(s, dir).orders
    val cutoff = to_timestamp(lit("2000-01-01"))
    // day-0: build and STORE the view over history
    mvPartial(orders.filter(col("o_orderdate") < cutoff))
      .write.mode("overwrite").parquet(out)
    // refresh: partial-agg the delta only, merge into the stored state
    mvMerge(s.read.parquet(out)
        .unionByName(mvPartial(orders.filter(col("o_orderdate") >= cutoff))))
      .orderBy(col("o_month"), col("o_orderstatus"))
  }

  /** The streaming-MV STATE lifecycle under the full hash oracle —
    * the registered query face of [[graft.streaming.Streams.compactMv]]
    * and `readMv`: three disjoint "micro-batches" of orders land their
    * partials in the exact `batch=<id>` state layout
    * `mvRefreshStream` writes, `compactMv` folds them through its
    * crash-safe staged swap (exercising marker naming, covered-dir
    * deletion and the rename-in), and the output is `readMv`'s
    * read-time merge of the compacted state. The oracle is the full
    * one-shot recompute — a hash match proves partial → compact →
    * merge is EXACTLY the direct aggregate, so the MV state algebra
    * itself carries an oracle row, not just spec pins.
    *
    * Scale: in production each batch arrives ONCE and its partial is
    * one partial-agg pass over only that batch (the mvRefreshStream
    * path); simulating the batches from one stored table costs this
    * query face three filtered scans — a fixture artifact, not the
    * operator's cost. State and merge are group-key-scale (KB–MB);
    * the compaction is the small-file bound that lets the stream run
    * forever — here it must also be invisible to the view.
    */
  def qMvCompact(s: SparkSession, dir: String): DataFrame = {
    val stateDir = graft.util.Staging.dir(s, "mv_compact")
    val orders = Tables(s, dir).orders
    // three deterministic disjoint slices = three micro-batches
    (0 until 3).foreach { b =>
      mvPartial(orders.filter(pmod(col("o_orderkey"), lit(3)) === b))
        .write.mode("overwrite").parquet(s"$stateDir/batch=$b")
    }
    val folded = graft.streaming.Streams.compactMv(s, stateDir, mvMerge)
    require(folded == 3, s"expected to fold 3 batch partials, got $folded")
    graft.streaming.Streams.readMv(s, stateDir, mvMerge)
      .orderBy(col("o_month"), col("o_orderstatus"))
  }

  val qMvRefreshSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_orderstatus,
      |  count(*) AS n_orders,
      |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Vertex filter for [[qTriangles]]' co-occurrence graph (pushed to
    * the part scan). Keeps the graph analytics-sized at every SF; at
    * 100 TB the same role is played by whatever significance filter
    * the pipeline applies before graph construction.
    */
  private val TriangleMaxPartSize = 12

  /** Triangle census of the part co-purchase graph, rolled up by brand
    * — the graph-analytics face beyond connected components
    * (dedup_clusters) and PageRank (text_pagerank): triangles measure
    * CLUSTERING (tightly-bound product cliques), the signal behind
    * bundle detection and community seeding.
    *
    * Edges: parts co-ordered in one order (p_size ≤
    * [[TriangleMaxPartSize]] pushed into the part scan; the li⋈li
    * self-join is an equi-join on l_orderkey, pairs bounded by
    * per-order line counts). Counting uses the DEGREE-ORDERED
    * node-iterator (Schank/Wagner's forward algorithm; the
    * MapReduce formulation is Suri & Vassilvitskii, WWW'11 "Counting
    * triangles and the curse of the last reducer" — their partition
    * algorithm exists for exactly the skew this ordering kills):
    * orient every edge from the (degree, id)-SMALLER endpoint to the
    * larger, so out-degrees are O(√|E|)-bounded and the wedge join
    * Σ C(outdeg,2) stays near-linear instead of exploding on hub
    * vertices — the curse-of-the-last-reducer fix. Each triangle
    * {a,b,c} then materializes EXACTLY once (min vertex contributes
    * the wedge, middle→max the closing edge), so no distinct pass.
    *
    * The oracle counts the same triangles with the naive a<b<c triple
    * self-join — equality proves the oriented rewrite drops and
    * double-counts nothing.
    *
    * Wedge and closing joins are shuffle equi-joins on 8-byte keys;
    * the brand dim broadcasts by hint (part is dim-scale by contract),
    * while the vertex-scale DEGREE joins are left to AQE — see the
    * inline note at the orientation step.
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val keep = t.part.filter(col("p_size") <= TriangleMaxPartSize)
      .select(col("p_partkey"), col("p_brand"))
    val li = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(broadcast(keep.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val a = li.withColumnsRenamed(Map("pk" -> "u"))
    val bb = li.withColumnsRenamed(Map("pk" -> "v"))
    val edges = a.join(bb, Seq("ok")).filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
    val deg = edges.select(col("u").as("p")).unionAll(
        edges.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("d"))
    val degU = deg.withColumnsRenamed(Map("p" -> "u", "d" -> "du"))
    val degV = deg.withColumnsRenamed(Map("p" -> "v", "d" -> "dv"))
    // orient low (degree, id) -> high: out-degree-bounded edge list.
    // The degree joins are deliberately UNHINTED: degrees are
    // VERTEX-scale, so whether they fit a broadcast is a runtime fact
    // (the pushed p_size filter bounds it here; at 100× it may not) —
    // AQE broadcasts when the filtered vertex set actually fits and
    // falls back to a shuffle equi-join when it doesn't, which is the
    // plan you want at every scale
    val oriented = edges
      .join(degU, Seq("u")).join(degV, Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("dv"))
          .otherwise(col("du")).as("ddst"))
    // wedges from each min vertex, (deg, id)-canonical (b before c);
    // the closing edge is then exactly b -> c in the oriented list
    val e1 = oriented.withColumnsRenamed(
      Map("src" -> "a", "dst" -> "b", "ddst" -> "db"))
    val e2 = oriented.withColumnsRenamed(
      Map("src" -> "a", "dst" -> "c", "ddst" -> "dc"))
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("pk"))
      .join(broadcast(keep), col("pk") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_tri_slots"),
        countDistinct(col("pk")).as("n_parts"))
      .orderBy(col("p_brand"))
  }

  val qTrianglesSql: String =
    s"""WITH keep AS (
       |  SELECT p_partkey, p_brand FROM part
       |  WHERE p_size <= $TriangleMaxPartSize),
       |li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_partkey IN (SELECT p_partkey FROM keep)),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e1.v = e2.u
       |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
       |verts AS (
       |  SELECT a AS pk FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT k.p_brand, count(*) AS n_tri_slots,
       |  count(DISTINCT v.pk) AS n_parts
       |FROM verts v JOIN keep k ON v.pk = k.p_partkey
       |GROUP BY k.p_brand
       |ORDER BY k.p_brand""".stripMargin

  /** Link threshold for [[qErLink]] on the 1e-4-quantized score.
    * 0.90 is the precision-over-recall point on this fixture: zero
    * mislinks at sf0.001 AND sf0.01 (spec-pinned), at the cost of the
    * handful of doubled-first-char corruptions of SHORT names
    * ("rred rod" → "red rod" scores 0.8768 and stays unlinked —
    * 2/200 mentions at sf0.001). Production tunes this on a labeled
    * pair sample; the engine-side contract is only that the threshold
    * applies to the QUANTIZED score, so both engines cut identically.
    */
  private val ErLinkMinScoreQ4 = 9000L

  /** Entity resolution / record linkage — the operator that cleans
    * entity mentions before any entity-keyed join or dedup: noisy
    * MENTIONS are linked to a CANONICAL entity list by multi-pass
    * blocking + Jaro-Winkler best-match scoring (Fellegi-Sunter
    * shape; the score is the native [[graft.functions.JaroWinklerSim]]
    * expression, DuckDB-parity semantics).
    *
    * Fixture: mentions are part names under four deterministic
    * corruption modes (p_partkey mod 4): exact / swap chars 2-3 /
    * drop last char / double first char — each reconstructible in
    * pure SQL, so the oracle rebuilds the identical mention set.
    * Entities are the distinct part names.
    *
    * The scale design is the blocking, not the scoring: scoring all
    * |mentions|×|entities| pairs is the cartesian that dies at 100 TB.
    * Two blocking passes — equi-join on the LAST word (survives modes
    * 0/1/3) and on the FIRST word (survives modes 0/2) — produce a
    * candidate set that provably contains every true pair, at
    * equi-join cost; union-distinct, score, quantize to 1e-4 (integer
    * compare — no cross-engine float drift), threshold, and keep the
    * best match per mention (ties by entity name). This IS production
    * multi-pass blocking: each pass is cheap and leaky, the union is
    * tight.
    */
  def qErLink(s: SparkSession, dir: String): DataFrame = {
    val part = Tables(s, dir).part
    val mode = pmod(col("p_partkey"), lit(4))
    val nm = col("p_name")
    val mentions = part.select(col("p_partkey").as("mention_id"),
        when(mode === 1, concat(substring(nm, 1, 1), substring(nm, 3, 1),
            substring(nm, 2, 1), substring(nm, 4, 1000000)))
          .when(mode === 2, nm.substr(lit(1), length(nm) - 1))
          .when(mode === 3, concat(substring(nm, 1, 1), nm))
          .otherwise(nm).as("mention"))
    val entities = part.select(col("p_name").as("entity")).distinct()
    def words(c: org.apache.spark.sql.Column) = split(c, " ")
    val m1 = mentions.withColumn("bk", element_at(words(col("mention")), -1))
    val m2 = mentions.withColumn("bk", element_at(words(col("mention")), 1))
    val e1 = entities.withColumn("bk", element_at(words(col("entity")), -1))
    val e2 = entities.withColumn("bk", element_at(words(col("entity")), 1))
    val candidates = m1.join(e1, Seq("bk")).select(
        col("mention_id"), col("mention"), col("entity"))
      .unionAll(m2.join(e2, Seq("bk")).select(
        col("mention_id"), col("mention"), col("entity")))
      .distinct()
    val w = Window.partitionBy(col("mention_id"))
      .orderBy(col("score_q4").desc, col("entity"))
    candidates
      .withColumn("score_q4",
        floor(ColumnBridge.column(graft.functions.JaroWinklerSim(
          ColumnBridge.expression(col("mention")),
          ColumnBridge.expression(col("entity")))) * 10000 + 0.5).cast("long"))
      .filter(col("score_q4") >= ErLinkMinScoreQ4)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("mention_id"), col("mention"), col("entity"), col("score_q4"))
      .orderBy(col("mention_id"))
  }

  val qErLinkSql: String =
    s"""WITH mentions AS (
       |  SELECT p_partkey AS mention_id,
       |    CASE p_partkey % 4
       |      WHEN 1 THEN substr(p_name, 1, 1) || substr(p_name, 3, 1) ||
       |                  substr(p_name, 2, 1) || substr(p_name, 4, 1000000)
       |      WHEN 2 THEN substr(p_name, 1, len(p_name) - 1)
       |      WHEN 3 THEN substr(p_name, 1, 1) || p_name
       |      ELSE p_name END AS mention
       |  FROM part),
       |entities AS (SELECT DISTINCT p_name AS entity FROM part),
       |cand AS (
       |  SELECT DISTINCT mention_id, mention, entity FROM (
       |    SELECT m.mention_id, m.mention, e.entity
       |    FROM mentions m JOIN entities e
       |      ON split_part(m.mention, ' ', -1) = split_part(e.entity, ' ', -1)
       |    UNION ALL
       |    SELECT m.mention_id, m.mention, e.entity
       |    FROM mentions m JOIN entities e
       |      ON split_part(m.mention, ' ', 1) = split_part(e.entity, ' ', 1))),
       |scored AS (
       |  SELECT mention_id, mention, entity,
       |    floor(jaro_winkler_similarity(mention, entity) * 10000 + 0.5)
       |      ::BIGINT AS score_q4
       |  FROM cand),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY mention_id
       |                               ORDER BY score_q4 DESC, entity) AS rk
       |  FROM scored WHERE score_q4 >= $ErLinkMinScoreQ4)
       |SELECT mention_id, mention, entity, score_q4
       |FROM ranked WHERE rk = 1
       |ORDER BY mention_id""".stripMargin

  /** Dim-side predicate for [[qBloomJoin]] (~2% of orders at every SF,
    * pushed into the parquet scan).
    */
  private val BloomJoinMinTotal = 490000.0

  /** Runtime-filter join — the semi-join-reduction pattern every
    * 100 TB fact⋈dim join wants when the FILTERED dim is still too big
    * to broadcast: the dim's join keys fold into a [[graft.functions
    * .BloomFilterAgg]] bloom filter (KB-scale, partial-aggregating
    * through the shuffle), ONE one-row broadcast carries it to every
    * fact partition, and the bloom test discards ~98% of the fact
    * MAP-SIDE ([[graft.dedup.BloomMembership]]'s prefilter half) — the
    * exact shuffle-hash join then runs over candidates only. Bloom
    * answers have no false negatives, so prefilter + exact join ≡
    * plain join; the oracle RUNS the plain join, and hash equality is
    * the no-rows-lost proof. (Spark's own
    * runtime bloom-filter injection makes the same move when its size
    * thresholds trigger; this face is the explicit, threshold-free
    * form, and dedup_bloom is the same contract as document
    * MEMBERSHIP — this is the JOIN-accelerator form, dim payload
    * columns carried through.) Fit cost: one count of the filtered dim
    * to size the filter ([[graft.functions.BloomUtil.geometry]] at fpp
    * 1e-3). All aggregates in exact integer ten-thousandths/hundredths
    * — no float-sum parity surface.
    */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val dim = t.orders.filter(col("o_totalprice") > BloomJoinMinTotal)
      .select(col("o_orderkey"),
        month(col("o_orderdate")).cast("long").as("omonth"))
    val pruned = graft.dedup.BloomMembership.prefilter(
      t.lineitem.select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_returnflag")),
      dim, col("l_orderkey"), col("o_orderkey"), dim.count(), 0.001)
    // exact join kept a SHUFFLE join on purpose: broadcasting the dim
    // would hide the problem the bloom solves (a dim too big to ship)
    pruned.join(dim.hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"), col("omonth"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_c100"),
        sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 10000 + 0.5).cast("long")).as("rev_q4"))
      .orderBy(col("l_returnflag"), col("omonth"))
  }

  val qBloomJoinSql: String =
    s"""SELECT l.l_returnflag, month(o.o_orderdate) AS omonth,
       |  count(*) AS n_items,
       |  sum(floor(l.l_quantity * 100 + 0.5)::BIGINT)::BIGINT AS qty_c100,
       |  sum(floor(l.l_extendedprice * (1.0 - l.l_discount)
       |      * 10000 + 0.5)::BIGINT)::BIGINT AS rev_q4
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE o.o_totalprice > $BloomJoinMinTotal
       |GROUP BY l.l_returnflag, omonth
       |ORDER BY l.l_returnflag, omonth""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bloom_join" -> (qBloomJoin _),
    "q_er_link" -> (qErLink _),
    "q_triangles" -> (qTriangles _),
    "q_mv_refresh" -> (qMvRefresh _),
    "q_mv_compact" -> (qMvCompact _),
    "q_constraints" -> (qConstraints _),
    "q_profile" -> (qProfile _),
    "q_corr" -> (qCorr _),
    "q_mom" -> (qMom _),
    "q_basket" -> (qBasket _),
    "q_skyline" -> (qSkyline _),
    "q_rolling_range" -> (qRollingRange _),
    "q_rank_family" -> (qRankFamily _),
    "q_zorder" -> (qZorder _),
    "q_cube" -> (qCube _),
    "q_fuzzy_join" -> (qFuzzyJoin _),
    "q_unpivot" -> (qUnpivot _),
    "q_rollup" -> (qRollup _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_pivot" -> (qPivot _),
    "q1_agg" -> (q1Agg _),
    "q3_join_topk" -> (q3JoinTopk _),
    "q5_join5" -> (q5Join5 _),
    "q_filter_project" -> (qFilterProject _),
    "q_window" -> (qWindow _),
    "q_rolling" -> (qRolling _),
    "q_asof_join" -> (qAsofJoin _),
    "q_outer_join" -> (qOuterJoin _),
    "q_orderby_limit" -> (qOrderbyLimit _),
    "q_union_chain" -> (qUnionChain _),
    "q_semijoin" -> (qSemijoin _),
    "q_antijoin" -> (qAntijoin _))

  val oracleSql: Map[String, String] = Map(
    "q_bloom_join" -> qBloomJoinSql,
    "q_er_link" -> qErLinkSql,
    "q_triangles" -> qTrianglesSql,
    "q_mv_refresh" -> qMvRefreshSql,
    // the state-lifecycle face shares the oracle: partial -> compact ->
    // merge must equal the one-shot recompute bit-for-bit
    "q_mv_compact" -> qMvRefreshSql,
    "q_constraints" -> qConstraintsSql,
    "q_profile" -> qProfileSql,
    "q_corr" -> qCorrSql,
    "q_mom" -> qMomSql,
    "q_basket" -> qBasketSql,
    "q_skyline" -> qSkylineSql,
    "q_rolling_range" -> qRollingRangeSql,
    "q_rank_family" -> qRankFamilySql,
    "q_zorder" -> qZorderSql,
    "q_cube" -> qCubeSql,
    "q_fuzzy_join" -> qFuzzyJoinSql,
    "q_unpivot" -> qUnpivotSql,
    "q_rollup" -> qRollupSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_pivot" -> qPivotSql,
    "q1_agg" -> q1AggSql,
    "q3_join_topk" -> q3JoinTopkSql,
    "q5_join5" -> q5Join5Sql,
    "q_filter_project" -> qFilterProjectSql,
    "q_window" -> qWindowSql,
    "q_rolling" -> qRollingSql,
    "q_asof_join" -> qAsofJoinSql,
    "q_outer_join" -> qOuterJoinSql,
    "q_orderby_limit" -> qOrderbyLimitSql,
    "q_union_chain" -> qUnionChainSql,
    "q_semijoin" -> qSemijoinSql,
    "q_antijoin" -> qAntijoinSql)
}
