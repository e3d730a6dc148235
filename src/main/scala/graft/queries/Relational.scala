package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Encoder, Encoders}

import graft.Tables
import graft.ops.TableOps.counted
import GraphKit._
import MaintKit.{chunkZones, chunkedFixture, fileFixture, joinSides, joinSidesSql,
  postDeleteWhere, signedBatch, zoneCells}
import QueryDef.dsum

/** The relational battery — SURVEY.md §2B Q1..Q26, every query a total
  * ORDER BY (or single row) so the DuckDB oracle compare is
  * deterministic. Spark side is DataFrame API (Catalyst plans the
  * physical strategy); oracle side is DuckDB 1.0 SQL over the same
  * parquet files.
  *
  * Determinism contract (see QueryDef): money aggregates go through
  * DECIMAL(18,6), per-row arithmetic is IEEE-identical across engines,
  * and any ORDER BY on a computed double happens on values both engines
  * compute bit-identically (or after round(,6) on both sides).
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Query-internal caches route through [[graft.ops.CacheScope]] —
    * the Llm lifecycle contract: plain cache() under the default
    * session-owned implicit (Verify/BenchSession clear between
    * queries), unpersist-on-close when a pipeline supplies an OWNED
    * scope. */
  private def cached(df: DataFrame)(implicit scope: graft.ops.CacheScope): DataFrame =
    scope.cached(df)

  // ---------------------------------------------------------------- Q1
  private val q01 = QueryDef(
    "q01_project_filter",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
               col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
            l_extendedprice * (1.0 - l_discount) AS rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_quantity > 30
            ORDER BY l_orderkey, l_linenumber"""))

  // ---------------------------------------------------------------- Q2
  private val q02 = QueryDef(
    "q02_predicates",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus").isin("F", "O") &&
               col("o_totalprice").between(50000.0, 200000.0) &&
               col("o_orderpriority").like("1%") &&
               col("o_custkey").isNotNull)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders
            WHERE o_orderstatus IN ('F','O')
              AND o_totalprice BETWEEN 50000.0 AND 200000.0
              AND o_orderpriority LIKE '1%'
              AND o_custkey IS NOT NULL
            ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- Q3
  private val q03 = QueryDef(
    "q03_agg_pricing_summary",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
               (lit(1.0) + col("l_tax"))).as("sum_charge"),
          avg("l_quantity").as("avg_qty"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
            CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
            CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
            AVG(l_quantity) AS avg_qty,
            AVG(l_discount) AS avg_disc,
            COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  // ---------------------------------------------------------------- Q4
  private val q04 = QueryDef(
    "q04_count_distinct",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             dsum(col("o_totalprice")).as("sum_price"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
            COUNT(*) AS n
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- Q5
  // HLL sketch can't hash-match an exact engine; the deterministic claim
  // is the error bound itself (rsd=0.01, asserted within 5%).
  private val q05 = QueryDef(
    "q05_approx_distinct",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
            countDistinct(col("l_partkey")).as("exact"))
        .select((abs(col("approx") - col("exact")) / col("exact") <= 0.05)
          .as("within_5pct"))
    },
    Some("SELECT true AS within_5pct"))

  // ---------------------------------------------------------------- Q6
  private val q06 = QueryDef(
    "q06_rollup",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  private val q06cube = QueryDef(
    "q06_cube",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
                 col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""))

  // ---------------------------------------------------------------- Q7
  // Dim tables are tiny at any SF — broadcast them explicitly so the
  // plan is a pair of BroadcastHashJoins with zero shuffle of customer.
  private val q07 = QueryDef(
    "q07_broadcast_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name, COUNT(*) AS n_cust,
            CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  // ---------------------------------------------------------------- Q8
  // TPC-H Q3 shape: the big fact-fact shuffle join. Revenue is a
  // decimal sum so the DESC ordering key is bit-identical cross-engine.
  private val q08 = QueryDef(
    "q08_shuffle_join_topk",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      o.filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp_ntz"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate")
    },
    Some("""SELECT o_orderkey,
            CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
            o_orderdate
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey LIMIT 10"""))

  // ---------------------------------------------------------------- Q9
  private val q09 = QueryDef(
    "q09_outer_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_big_orders"),
             coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_big"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
            COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 0.0) AS sum_big
            FROM customer
            LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
              ON c_custkey = o_custkey
            GROUP BY c_custkey ORDER BY c_custkey"""))

  // Full outer: per-nation customer vs supplier counts; nations with
  // only one side present keep nulls on the other.
  private val q09full = QueryDef(
    "q09_full_outer_join",
    (s, dir) => {
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("c_cnt"))
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("s_cnt"))
      cn.join(sn, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
                col("c_cnt"), col("s_cnt"))
        .orderBy("nationkey")
    },
    Some("""SELECT COALESCE(ck, sk) AS nationkey, c_cnt, s_cnt
            FROM (SELECT c_nationkey AS ck, COUNT(*) AS c_cnt FROM customer GROUP BY 1) cn
            FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS s_cnt FROM supplier GROUP BY 1) sn
              ON ck = sk
            ORDER BY nationkey"""))

  // --------------------------------------------------------------- Q10
  private val q10semi = QueryDef(
    "q10_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
            ORDER BY c_custkey"""))

  private val q10anti = QueryDef(
    "q10_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
            ORDER BY c_custkey"""))

  // --------------------------------------------------------------- Q11
  private val q11 = QueryDef(
    "q11_theta_join",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey") &&
                col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // --------------------------------------------------------------- Q12
  // As-of join, the scalable way: union both sides tagged, one window
  // pass per key ordered by (time, tag, orderkey), last_value(ignoreNulls)
  // carries the latest prior order onto each event. O(n log n), no
  // candidate explosion — this survives 100 TB where the naive
  // join-then-rank (which the oracle uses) would not.
  private val q12 = QueryDef(
    "q12_asof_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val o = t(s, dir, "orders")
      // customer count as a broadcast 1-row aggregate (scalar-subquery
      // shape): query CONSTRUCTION stays action-free — no Spark job
      // runs until the query itself does
      val nCust = broadcast(t(s, dir, "customer").agg(count(lit(1)).as("n_cust")))
      val ev = e.crossJoin(nCust).select(
        (col("user_id") % col("n_cust")).as("k"), col("ts").as("tm"),
        lit(1).as("tag"), col("event_id"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("timestamp_ntz").as("o_orderdate"))
      val or = o.select(
        col("o_custkey").as("k"), col("o_orderdate").as("tm"),
        lit(0).as("tag"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"), col("o_orderdate"))
      val w = Window.partitionBy("k")
        .orderBy(col("tm").asc, col("tag").asc, col("o_orderkey").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(or)
        .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_orderdate", last(col("o_orderdate"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("asof_orderkey"), col("asof_orderdate"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, o_orderkey AS asof_orderkey, o_orderdate AS asof_orderdate
            FROM (
              SELECT e.event_id, o.o_orderkey, o.o_orderdate,
                     row_number() OVER (PARTITION BY e.event_id
                                        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
              FROM events e
              LEFT JOIN orders o
                ON o.o_custkey = e.user_id % (SELECT COUNT(*) FROM customer)
               AND o.o_orderdate <= e.ts)
            WHERE rn = 1 ORDER BY event_id"""))

  // --------------------------------------------------------------- Q13
  private val q13 = QueryDef(
    "q13_cross_join",
    (s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
            ORDER BY r_name, n_name"""))

  // --------------------------------------------------------------- Q14
  private val q14 = QueryDef(
    "q14_window_rank",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                     rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
                     dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS drk
              FROM orders)
            WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  // --------------------------------------------------------------- Q15
  // Analytic frames over daily revenue. Every windowed aggregate runs on
  // DECIMAL(18,6) so running sums are exact in both engines; divisions
  // happen after casting the exact sums to double.
  //
  // SCALE BOUND (deliberate, do not inherit): the frames run over an
  // UNPARTITIONED Window.orderBy("day") — a single-partition sort. That
  // is sound HERE because the input is the day-grained aggregate of
  // lineitem, whose cardinality is calendar-bounded (~2,500 rows at any
  // corpus size: one row per ship date, and TPC-H ships span ~7 years;
  // 100 years is still <37k rows), so the "partition" is a constant-
  // sized table no matter how large lineitem grows. A variant of this
  // query over a FACT-grained input (per-order or per-line frames) must
  // NOT reuse this shape — partition the window by a key (customer,
  // part, ...) or pre-aggregate first, or the whole fact table funnels
  // through one task. PlanContractSpec pins the cardinality argument.
  private val q15 = QueryDef(
    "q15_window_frames",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      val daily = l.groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("rev_dec"))
      val w = Window.orderBy("day")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m3 = w.rowsBetween(-2, Window.currentRow)
      daily.select(
          col("day"),
          col("rev_dec").cast("double").as("rev"),
          sum(col("rev_dec")).over(run).cast("double").as("running"),
          (sum(col("rev_dec")).over(m3).cast("double") /
            count(lit(1)).over(m3)).as("mov3"),
          (col("rev_dec") - lag(col("rev_dec"), 1).over(w)).cast("double").as("delta"),
          (lead(col("rev_dec"), 1).over(w) - col("rev_dec")).cast("double").as("next_delta"))
        .orderBy("day")
    },
    Some("""WITH d AS (
              SELECT CAST(l_shipdate AS DATE) AS day,
                     SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS rev_dec
              FROM lineitem GROUP BY 1)
            SELECT day,
              CAST(rev_dec AS DOUBLE) AS rev,
              CAST(SUM(rev_dec) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
              CAST(SUM(rev_dec) OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                / COUNT(*) OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov3,
              CAST(rev_dec - lag(rev_dec) OVER (ORDER BY day) AS DOUBLE) AS delta,
              CAST(lead(rev_dec) OVER (ORDER BY day) - rev_dec AS DOUBLE) AS next_delta
            FROM d ORDER BY day"""))

  // --------------------------------------------------------------- Q16
  private val q16 = QueryDef(
    "q16_sort_topk",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20"""))

  // --------------------------------------------------------------- Q17
  private val q17union = QueryDef(
    "q17_union",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.union(su).groupBy("nationkey").agg(count(lit(1)).as("n")).orderBy("nationkey")
    },
    Some("""SELECT nationkey, COUNT(*) AS n FROM (
              SELECT c_nationkey AS nationkey FROM customer
              UNION ALL
              SELECT s_nationkey AS nationkey FROM supplier)
            GROUP BY nationkey ORDER BY nationkey"""))

  private val q17intersect = QueryDef(
    "q17_intersect",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.intersect(su).orderBy("nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey AS nationkey FROM supplier
            ORDER BY nationkey"""))

  private val q17except = QueryDef(
    "q17_except",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.except(su).orderBy("nationkey")
    },
    Some("""SELECT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey AS nationkey FROM supplier
            ORDER BY nationkey"""))

  // --------------------------------------------------------------- Q18
  // Deterministic dedup-by-key: the row_number()=1 keeper pattern, never
  // bare dropDuplicates (whose survivor is partitioning-dependent).
  private val q18 = QueryDef(
    "q18_dedup_keeper",
    (s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, event_id, ts FROM (
              SELECT user_id, event_type, event_id, ts,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS rn
              FROM events)
            WHERE rn = 1 ORDER BY user_id, event_type"""))

  // --------------------------------------------------------------- Q19
  private val q19 = QueryDef(
    "q19_string_funcs",
    (s, dir) => {
      val p = t(s, dir, "part")
      p.select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub5"),
          length(col("p_name")).as("len"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("tr"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("rep"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("ext"),
          lpad(col("p_brand"), 12, "#").as("lp"),
          element_at(split(col("p_name"), " "), 1).as("first_word"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
              upper(p_name) AS up,
              lower(p_brand) AS lo,
              substr(p_name, 1, 5) AS sub5,
              length(p_name) AS len,
              trim('  ' || p_name || '  ') AS tr,
              p_brand || '|' || p_type AS cat,
              regexp_replace(p_name, '[aeiou]', '*', 'g') AS rep,
              regexp_extract(p_name, '([a-z]+)', 1) AS ext,
              lpad(p_brand, 12, '#') AS lp,
              string_split(p_name, ' ')[1] AS first_word
            FROM part ORDER BY p_partkey"""))

  // --------------------------------------------------------------- Q20
  // Cross-dialect traps: Spark dayofweek is 1=Sunday, DuckDB 0=Sunday
  // (oracle adds 1); derived dates are rendered as strings so DATE vs
  // TIMESTAMP rendering can't diverge.
  private val q20 = QueryDef(
    "q20_date_funcs",
    (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dd"),
          dayofweek(col("o_orderdate")).as("dow"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("mstart"),
          datediff(to_date(lit("2002-01-01")), col("o_orderdate").cast("date")).as("days_to_2002"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("plus30"),
          unix_timestamp(col("o_orderdate").cast("timestamp")).as("epoch_s"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
              year(o_orderdate) AS yr,
              month(o_orderdate) AS mo,
              day(o_orderdate) AS dd,
              dayofweek(o_orderdate) + 1 AS dow,
              strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mstart,
              datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
              strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
              CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
            FROM orders ORDER BY o_orderkey"""))

  // --------------------------------------------------------------- Q21
  private val q21 = QueryDef(
    "q21_math_conditional",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("absq"),
          sqrt(col("l_extendedprice")).as("sq"),
          log(col("l_extendedprice")).as("lg"),
          pow(lit(1.0) + col("l_discount"), 3).as("p3"),
          floor(col("l_extendedprice") / 100.0).as("fl"),
          ceil(col("l_extendedprice") / 100.0).as("ce"),
          when(col("l_quantity") > 30, "H")
            .when(col("l_quantity") > 10, "M")
            .otherwise("L").as("bucket"),
          greatest(col("l_tax"), col("l_discount")).as("gmax"),
          least(col("l_tax"), col("l_discount")).as("lmin"),
          coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_or_neg"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
              abs(l_quantity - 25.0) AS absq,
              sqrt(l_extendedprice) AS sq,
              ln(l_extendedprice) AS lg,
              pow(1.0 + l_discount, 3) AS p3,
              CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS fl,
              CAST(ceil(l_extendedprice / 100.0) AS BIGINT) AS ce,
              CASE WHEN l_quantity > 30 THEN 'H'
                   WHEN l_quantity > 10 THEN 'M' ELSE 'L' END AS bucket,
              greatest(l_tax, l_discount) AS gmax,
              least(l_tax, l_discount) AS lmin,
              coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_neg
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  // --------------------------------------------------------------- Q22
  // Array + higher-order functions over 64-dim float embeddings. All
  // folds are left-to-right with double accumulators — identical
  // sequential float→double arithmetic in both engines.
  private val q22 = QueryDef(
    "q22_array_funcs",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      e.select(
          col("vec_id"),
          size(col("embedding")).as("n"),
          element_at(col("embedding"), 1).cast("double").as("e1"),
          array_max(col("embedding")).cast("double").as("mx"),
          array_min(col("embedding")).cast("double").as("mn"),
          expr("aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + cast(x as double))").as("ssum"),
          expr("aggregate(embedding, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))").as("ssq"),
          expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
          expr("aggregate(slice(embedding, 1, 3), cast(0.0 as double), (acc, x) -> acc + cast(x as double))").as("head3_sum"))
        .orderBy("vec_id")
    },
    Some("""SELECT vec_id,
              len(embedding) AS n,
              CAST(embedding[1] AS DOUBLE) AS e1,
              CAST(list_max(embedding) AS DOUBLE) AS mx,
              CAST(list_min(embedding) AS DOUBLE) AS mn,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (acc, x) -> acc + x) AS ssum,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x) AS ssq,
              len(list_filter(embedding, x -> x > 0)) AS n_pos,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(embedding[1:3], x -> CAST(x AS DOUBLE))), (acc, x) -> acc + x) AS head3_sum
            FROM embeddings ORDER BY vec_id"""))

  private val q22b = QueryDef(
    "q22_array_explode",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(avg(col("x").cast("double")).as("avg_x"),
             max(col("x").cast("double")).as("max_x"),
             min(col("x").cast("double")).as("min_x"),
             count(lit(1)).as("n"))
        .orderBy("pos")
    },
    Some("""SELECT i - 1 AS pos,
              AVG(CAST(x AS DOUBLE)) AS avg_x,
              MAX(CAST(x AS DOUBLE)) AS max_x,
              MIN(CAST(x AS DOUBLE)) AS min_x,
              COUNT(*) AS n
            FROM (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings)
            GROUP BY i ORDER BY pos"""))

  // --------------------------------------------------------------- Q23
  // Map construction + access. The oracle states the semantically
  // expected values directly (DuckDB's MAP type renders differently, so
  // the check is on extracted scalars, not the map itself).
  private val q23 = QueryDef(
    "q23_map_funcs",
    (s, dir) => {
      val p = t(s, dir, "part")
      val m = map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
      val m2 = map_concat(m, map(lit("size"), col("p_size").cast("string")))
      p.select(
          col("p_partkey"),
          element_at(m, "brand").as("brand_val"),
          size(m).as("n_keys"),
          array_join(map_keys(m), ",").as("keys"),
          concat_ws(",", map_values(m)).as("vals"),
          size(m2).as("n_keys2"),
          element_at(m2, "size").as("size_val"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
              p_brand AS brand_val,
              2 AS n_keys,
              'brand,type' AS keys,
              p_brand || ',' || p_type AS vals,
              3 AS n_keys2,
              CAST(p_size AS VARCHAR) AS size_val
            FROM part ORDER BY p_partkey"""))

  // --------------------------------------------------------------- Q24
  private val q24 = QueryDef(
    "q24_json_funcs",
    (s, dir) => {
      val e = t(s, dir, "events")
      e.select(
          col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").as("k_from_json"),
          get_json_object(col("props"), "$.k").cast("int").as("k_path"),
          expr("json_tuple(props, 'k')").as("kt"),
          to_json(struct(col("event_id").as("id"), col("event_type").as("t"))).as("j"))
        .withColumn("k_tuple", col("kt").cast("int")).drop("kt")
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
              CAST(props->>'$.k' AS INTEGER) AS k_from_json,
              CAST(props->>'$.k' AS INTEGER) AS k_path,
              '{"id":' || event_id || ',"t":"' || event_type || '"}' AS j,
              CAST(props->>'$.k' AS INTEGER) AS k_tuple
            FROM events ORDER BY event_id"""))

  // --------------------------------------------------------------- Q25
  private val q25udf = QueryDef(
    "q25_udf",
    (s, dir) => {
      val rev = udf((x: String) => if (x == null) null else x.reverse)
      val vowels = udf((x: String) => if (x == null) 0 else x.count("aeiou".contains(_)))
      val p = t(s, dir, "part")
      p.select(col("p_partkey"),
               rev(col("p_name")).as("rev_name"),
               vowels(col("p_name")).as("n_vowels"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, reverse(p_name) AS rev_name,
              CAST(length(p_name) - length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS INTEGER) AS n_vowels
            FROM part ORDER BY p_partkey"""))

  /** Typed UDAF: geometric mean of l_quantity (log-sum buffer). */
  private object GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: Double): (Double, Long) = (b._1 + math.log(a), b._2 + 1)
    def merge(x: (Double, Long), y: (Double, Long)): (Double, Long) = (x._1 + y._1, x._2 + y._2)
    def finish(r: (Double, Long)): Double = math.exp(r._1 / r._2)
    def bufferEncoder: Encoder[(Double, Long)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private val q25udaf = QueryDef(
    "q25_udaf_geomean",
    (s, dir) => {
      val geo = udaf(GeoMean, Encoders.scalaDouble)
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(geo(col("l_quantity")).as("geo_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, exp(avg(ln(l_quantity))) AS geo_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q25gen = QueryDef(
    "q25_generator",
    (s, dir) => {
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")
    },
    Some("""SELECT word, COUNT(*) AS n
            FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
            GROUP BY word ORDER BY word"""))

  // --------------------------------------------------------------- Q26
  // Same result as q03, but through the full SQL path:
  // parse → analyze → optimize → execute over temp views.
  private val q26 = QueryDef(
    "q26_sql_entry",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
               AVG(l_discount) AS avg_disc,
               COUNT(*) AS count_order
               FROM lineitem
               WHERE l_shipdate <= '1998-09-02'
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
            CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
            AVG(l_discount) AS avg_disc,
            COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  // ------------------------------------------------- subqueries (Q26+)
  // Catalyst's subquery machinery (scalar, IN, correlated EXISTS with
  // decorrelation) — all through the SQL entry point.
  private val q27 = QueryDef(
    "q27_scalar_subquery",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_custkey, c_acctbal FROM customer
               WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
               ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_acctbal FROM customer
            WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
            ORDER BY c_custkey"""))

  private val q28 = QueryDef(
    "q28_in_subquery",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
                 AND o_totalprice > 250000.0
               ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
              AND o_totalprice > 250000.0
            ORDER BY o_orderkey"""))

  private val q29 = QueryDef(
    "q29_correlated_exists",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT c_custkey, c_name FROM customer c
               WHERE EXISTS (SELECT 1 FROM orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 2.0 * c.c_acctbal
                               AND c.c_acctbal > 0)
               ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 2.0 * c.c_acctbal
                            AND c.c_acctbal > 0)
            ORDER BY c_custkey"""))

  // --------------------------------------------------------------- Q30
  // Exact percentiles (sort-based linear interpolation — Spark's
  // `percentile` and DuckDB's `quantile_cont` share the definition
  // p*(n-1) index + linear interpolation, so values match exactly).
  // The approximate path (approx_percentile/GK sketch) is NOT
  // cross-engine comparable and is covered by q05's HLL pattern:
  // bound-check, don't hash.
  private val q30 = QueryDef(
    "q30_percentiles",
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          // array form: ONE sort buffer per group serves all three
          // quantiles (three scalar percentile aggs would each buffer
          // the column independently)
          expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("ps"),
          expr("percentile(l_extendedprice, 0.9)").as("price_p90"),
          min("l_quantity").as("mn"), max("l_quantity").as("mx"))
        .select(col("l_returnflag"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("p50"),
          element_at(col("ps"), 3).as("p75"),
          col("price_p90"), col("mn"), col("mx"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
              quantile_cont(l_quantity, 0.25) AS p25,
              quantile_cont(l_quantity, 0.5) AS p50,
              quantile_cont(l_quantity, 0.75) AS p75,
              quantile_cont(l_extendedprice, 0.9) AS price_p90,
              MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // --------------------------------------------------------------- Q31
  // Pivot (groupBy().pivot() with explicit value list — the explicit
  // list keeps the plan a single pass with no distinct-values
  // pre-query, which is the 100 TB-safe spelling). Oracle: FILTERed
  // aggregates. Money sums go through the DECIMAL(18,6) rule.
  private val q31 = QueryDef(
    "q31_pivot",
    (s, dir) => {
      val p = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("rev"))
      // pivot leaves NULL in a cell with no rows; the oracle's
      // COUNT(*) FILTER gives 0 — align the counts (revenue stays
      // NULL-on-empty in both engines)
      p.select(col("o_orderpriority") +:
          Seq("F", "O", "P").flatMap(v => Seq(
            coalesce(col(s"${v}_cnt"), lit(0L)).as(s"${v}_cnt"),
            col(s"${v}_rev"))): _*)
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
              COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F_cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS F_rev,
              COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O_cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS O_rev,
              COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P_cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS P_rev
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // --------------------------------------------------------------- Q32
  // Distribution window functions: percent_rank / cume_dist (exact
  // rationals (rank-1)/(n-1), rank/n — identical doubles in both
  // engines), ntile, nth_value. The full (price, orderkey) order makes
  // peers singletons, so RANGE/ROWS framing differences can't bite.
  private val q32 = QueryDef(
    "q32_window_distribution",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
    Some("""SELECT o_orderpriority, o_orderkey,
              percent_rank() OVER w AS pr,
              cume_dist() OVER w AS cd,
              ntile(4) OVER w AS quartile,
              nth_value(o_orderkey, 2) OVER w AS second_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_orderpriority, o_orderkey"""))

  // --------------------------------------------------------------- Q33
  // Salted two-phase aggregation through the correctness gate:
  // l_returnflag has only 3 values over 600k rows — the textbook
  // hot-key shuffle AQE cannot split (one hash-agg key is atomic).
  // SkewTools.saltedSum spreads each key over 8 salt buckets
  // (partial agg on (key, salt), final on key). DECIMAL partials make
  // the result EXACTLY equal to the unsalted plain GROUP BY the
  // oracle runs, independent of salt assignment or partitioning.
  private val q33 = QueryDef(
    "q33_salted_skew_agg",
    (s, dir) => {
      graft.ops.SkewTools.saltedSum(
          t(s, dir, "lineitem"), "l_returnflag",
          col("l_extendedprice").cast("decimal(18,6)"), buckets = 8, "rev")
        .select(col("l_returnflag"), col("rev").cast("double").as("rev"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // --------------------------------------------------------------- Q34
  // Approximate-sketch battery, q05-style bound check (sketch values
  // are engine-specific — GK/KLL quantiles, HLL registers — so the
  // deterministic output is "approx within tolerance of exact", per
  // group, which hashes identically when the sketches behave).
  private val q34 = QueryDef(
    "q34_approx_sketch_bounds",
    (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"),
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("ad"),
          countDistinct(col("l_suppkey")).as("d"))
        .select(col("l_returnflag"),
          (abs(col("ap50") - col("p50")) / col("p50") <= 0.05).as("p50_within_5pct"),
          (abs(col("ad") - col("d")) / col("d") <= 0.05).as("nd_within_5pct"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, true AS p50_within_5pct, true AS nd_within_5pct
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // --------------------------------------------------------------- Q35
  // LATERAL correlated derived table — top-2 orders per customer via a
  // per-row correlated subquery with ORDER BY + LIMIT, the remaining
  // subquery class after Q27-Q29 (scalar / IN / EXISTS). Catalyst
  // decorrelates the limit into a single window pass over one
  // customer-key shuffle (no per-row re-execution — `.explain` shows
  // WindowGroupLimit + one join, the same physical shape as Q14's
  // rank-filter, arrived at from the declarative per-row spelling), so
  // the plan is corpus-parallel at any scale.
  private val q35 = QueryDef(
    "q35_lateral_topk",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
               FROM customer c, LATERAL (
                 SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
               ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    },
    Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
            FROM customer c, LATERAL (
              SELECT o_orderkey, o_totalprice FROM orders o
              WHERE o.o_custkey = c.c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
            ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""))

  // --------------------------------------------------------------- Q36
  // Batch sessionization (gaps-and-islands): a new session starts when
  // a user's inter-event gap exceeds 12 h — lag for the gap, a
  // conditional-break flag, and a running sum for the session id, then
  // one aggregate per (user, session). The BATCH counterpart of T3's
  // streaming session windows, and the canonical lag+cumsum pattern.
  // All three window passes share the single user_id exchange (same
  // key, compatible orderings); time arithmetic runs in integer
  // MICROSECONDS on both engines (events.ts is nanos floored to µs on
  // read in both — see Tables.scala), and the oracle CASTs its session
  // sum to BIGINT (DuckDB integer-SUM is HUGEINT, the l6_pack lesson).
  private val q36 = QueryDef(
    "q36_sessionize",
    (s, dir) => {
      val gapUs = 12L * 3600 * 1000000
      val w = Window.partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"))
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min(col("us")).as("start_us"), max(col("us")).as("end_us"))
        .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
        .orderBy("user_id", "session_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
            |x AS (SELECT user_id, event_id, us,
            |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
            |b AS (SELECT user_id, event_id, us,
            |        CASE WHEN prev IS NULL OR us - prev > 43200000000 THEN 1 ELSE 0 END AS brk FROM x),
            |s AS (SELECT user_id, us,
            |        CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
            |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM b)
            |SELECT user_id, session_id, count(*) AS n_events,
            |       min(us) AS start_us, max(us) AS end_us,
            |       (max(us) - min(us)) // 1000000 AS duration_sec
            |FROM s GROUP BY user_id, session_id
            |ORDER BY user_id, session_id""".stripMargin))

  // --------------------------------------------------------------- Q37
  // Range (interval) join WITHOUT an equi key — the join class Spark
  // would otherwise execute as a BroadcastNestedLoopJoin (O(n·m) and
  // driver-bounded). The scalable decomposition: pick the bucket width
  // EQUAL to the interval width, so every interval [start, end) spans
  // at most 2 fixed-width time buckets; explode the interval side onto
  // its (≤2, distinct) bucket keys, map each probe row to its single
  // bucket, hash-join on the bucket key, and apply the exact BETWEEN
  // residual after the equi match. The nested loop becomes one
  // shuffle-on-bucket equi join: cost is O(pairs + data), partitioned
  // by time — the plan that survives 100× (hot buckets are the only
  // skew axis; widen the bucket or salt if a burst concentrates).
  // Semantics: every high-value error event opens a 30-minute window;
  // count and DECIMAL-sum the events inside each window. Times run in
  // integer MICROSECONDS on both engines (the q36 contract); bucket
  // arithmetic is integer `div`, never double division (epoch-µs
  // magnitudes would round under a double floor).
  private val q37 = QueryDef(
    "q37_range_join",
    (s, dir) => {
      val winUs = 30L * 60 * 1000000
      val e = t(s, dir, "events").select(
        col("event_id"), expr("unix_micros(cast(ts as timestamp))").as("us"),
        col("event_type"), col("value"))
      val trig = e.filter(col("event_type") === "error" && col("value") > 200)
        .select(col("event_id").as("trigger_id"), col("us").as("start_us"),
                (col("us") + winUs).as("end_us"))
      // ≤2 bucket keys per interval (width == window width), distinct
      // collapses the boundary-aligned degenerate case
      val tb = trig.withColumn("bkt",
        explode(array_distinct(array(
          expr(s"start_us div ${winUs}L"), expr(s"(end_us - 1) div ${winUs}L")))))
      val pb = e.select(col("event_id"), col("us"), col("value"),
        expr(s"us div ${winUs}L").as("bkt"))
      tb.join(pb, Seq("bkt"))
        .filter(col("us") >= col("start_us") && col("us") < col("end_us"))
        .groupBy("trigger_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("trigger_id")
    },
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS us, event_type, value FROM events),
            |t AS (SELECT event_id AS trigger_id, us AS start_us, us + 1800000000 AS end_us
            |      FROM e WHERE event_type = 'error' AND value > 200)
            |SELECT trigger_id, count(*) AS n_events,
            |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            |FROM t JOIN e ON e.us >= t.start_us AND e.us < t.end_us
            |GROUP BY trigger_id ORDER BY trigger_id""".stripMargin))

  // --------------------------------------------------------------- Q38
  // GROUPING SETS — the arbitrary-sets form Q6's rollup/cube can't
  // spell (here: by (flag, status), by (status) alone, and the grand
  // total — NOT a rollup prefix chain). One pass, one shuffle: Spark
  // expands the sets map-side and aggregates all three groupings in a
  // single hash aggregate (same Expand shape as cube, minus the unused
  // combinations). The grouping-id is computed EXPLICITLY as
  // grouping(flag)*2 + grouping(status) on both engines, because the
  // engines' built-in grouping_id bit orders are theirs, not ANSI's.
  private val q38 = QueryDef(
    "q38_grouping_sets",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_linestatus")), Seq.empty[org.apache.spark.sql.Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg((grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus"))).as("gid"),
             count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)
    },
    Some("""SELECT l_returnflag, l_linestatus,
            |       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
            |       count(*) AS n,
            |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
            |FROM lineitem
            |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
            |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin))

  // --------------------------------------------------------------- Q39
  // RECURSIVE CTE (new in Spark 4) — the iterative-closure class the
  // battery lacked: walk a digit-shrinking parent hierarchy
  // (parent(c) = c div 10, a deterministic forest of depth ~log10 n
  // derived from the customer table itself) from every customer to its
  // single-digit root, emitting (custkey, root, depth). Spark executes
  // the recursion as an iterative UnionLoop — each step is a fully
  // distributed plan over the previous step's frontier, so a step
  // never leaves the cluster; total work is edges-walked = n·depth.
  // The same SQL text runs on both engines (integer `div` spelled per
  // dialect). Depth is bounded by the key width (~7 at 100 TB scale),
  // far under the recursion limit.
  private val q39 = QueryDef(
    "q39_recursive_cte",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""WITH RECURSIVE walk AS (
                 SELECT c_custkey, c_custkey AS node, 0 AS depth FROM customer
                 UNION ALL
                 SELECT c_custkey, node div 10 AS node, depth + 1 AS depth
                 FROM walk WHERE node >= 10)
               SELECT c_custkey, node AS root, depth
               FROM walk WHERE node < 10
               ORDER BY c_custkey""")
    },
    Some("""WITH RECURSIVE walk AS (
            |  SELECT c_custkey, c_custkey AS node, 0 AS depth FROM customer
            |  UNION ALL
            |  SELECT c_custkey, node // 10 AS node, depth + 1 AS depth
            |  FROM walk WHERE node >= 10)
            |SELECT c_custkey, node AS root, depth
            |FROM walk WHERE node < 10
            |ORDER BY c_custkey""".stripMargin))

  // --------------------------------------------------------------- Q40
  // Ordered-set aggregates — listagg WITHIN GROUP (new in Spark 4),
  // the last classic SQL aggregate family the battery lacked. Per
  // nation: supplier roster in name order and in balance order
  // (deterministic total orders: acctbal DESC with name tiebreak; the
  // doubles are identical per-row values in both engines, so the sort
  // can't diverge). Scale: an ordered agg sorts WITHIN each group
  // after one grouping exchange — group cardinality is the bound
  // (catalog-sized here); a corpus-sized group would call for the
  // collect_list+array_sort spelling on a pre-bucketed layout instead.
  private val q40 = QueryDef(
    "q40_listagg",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT n.n_name,
                 count(*) AS n_supp,
                 listagg(s.s_name, ',') WITHIN GROUP (ORDER BY s.s_name) AS roster,
                 listagg(s.s_name, ',') WITHIN GROUP (ORDER BY s.s_acctbal DESC, s.s_name) AS by_balance
               FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
               GROUP BY n.n_name
               ORDER BY n.n_name""")
    },
    Some("""SELECT n.n_name,
            |  count(*) AS n_supp,
            |  string_agg(s.s_name, ',' ORDER BY s.s_name) AS roster,
            |  string_agg(s.s_name, ',' ORDER BY s.s_acctbal DESC, s.s_name) AS by_balance
            |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
            |GROUP BY n.n_name
            |ORDER BY n.n_name""".stripMargin))

  // --------------------------------------------------------------- Q41
  // RANGE window frames — the value-extent frame class q15's ROWS
  // frames don't cover: per user, each event's trailing-1-hour count
  // and DECIMAL sum (RANGE BETWEEN 3.6e9 µs PRECEDING AND CURRENT
  // ROW over integer epoch-µs). RANGE frames include peers (equal
  // ORDER BY values) — identical semantics on both engines because
  // the frame is defined on the same integer microsecond axis. One
  // user_id exchange; the frame scan is sorted-run-local per user.
  private val q41 = QueryDef(
    "q41_range_frames",
    (s, dir) => {
      val hourUs = 3600L * 1000000
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-hourUs, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"),
          col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double"))
        .select("user_id", "event_id", "us", "n_1h", "sum_1h")
        .orderBy("user_id", "us", "event_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events)
            |SELECT user_id, event_id, us,
            |  count(*) OVER w AS n_1h,
            |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
            |FROM e
            |WINDOW w AS (PARTITION BY user_id ORDER BY us
            |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            |ORDER BY user_id, us, event_id""".stripMargin))

  // --------------------------------------------------------------- Q42
  // UNPIVOT/melt — Q31's inverse, closing the reshape pair: the four
  // lineitem measures fold into (metric, value) rows, then one
  // aggregate per (returnflag, metric). Spark's Dataset.unpivot plans
  // an Expand (4 rows out per row in, map-side — the same node family
  // as grouping sets, no shuffle to reshape); the oracle spells the
  // identical relation as a UNION ALL stack. DECIMAL sums per the
  // money contract.
  private val q42 = QueryDef(
    "q42_unpivot",
    (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "v")
        .groupBy("l_returnflag", "metric")
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("total"))
        .orderBy("l_returnflag", "metric")
    },
    Some("""WITH u AS (
            |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS v FROM lineitem
            |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
            |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
            |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
            |SELECT l_returnflag, metric, count(*) AS n,
            |       CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total
            |FROM u GROUP BY l_returnflag, metric
            |ORDER BY l_returnflag, metric""".stripMargin))

  // ARGMIN/ARGMAX aggregates (min_by/max_by) — "the row-attribute at
  // the extremum" without a self-join or a window: one hash aggregate,
  // map-side partial like any other agg (vs the window/rank spelling,
  // which shuffles the whole input into per-group sorts — q18's shape,
  // needed only when ALL columns of the extremum row are wanted).
  // Ordering key is the UNIQUE o_orderkey, so ties cannot arise and
  // both engines agree deterministically (Spark max_by on tied keys is
  // free to pick either row — never give it that freedom in an
  // oracle-gated query).
  private val q43 = QueryDef(
    "q43_minmax_by",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderstatus"), col("o_orderkey")).as("last_status"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            |       arg_max(o_orderstatus, o_orderkey) AS last_status,
            |       arg_min(o_totalprice, o_orderkey) AS first_price,
            |       max(o_totalprice) AS max_price,
            |       count(*) AS n
            |FROM orders GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin))

  // PageRank over the customer–supplier transaction graph (Pregel-by-
  // join): nodes are the customers and suppliers linked by any order
  // line, edges undirected (both directions materialized, so no
  // dangling-mass correction is needed — every node has degree >= 1).
  // Three power iterations, each ONE shuffle join (edges x ranks on
  // src) + ONE aggregate (sum of pr/deg into dst) — the classic
  // distributed-graph shape where per-iteration cost is edge-linear
  // and the rank/degree tables are node-sized. The node count reaches
  // the plan as an action-free broadcast aggregate (the l3_knn_graph
  // idiom), never a collect. At 100 TB the same code holds: GraphOps
  // lineage-cuts the edge table once and plans the rounds at a width
  // derived from the edge table's own partition count, so the
  // per-iteration shuffle widens with the graph; deep iteration
  // counts add checkpointEvery to cut lineage (three unrolled
  // iterations keep the plan shallow enough not to need it).
  // Ranks round to 9 decimals per iteration on BOTH engines,
  // pinning cross-engine equality before double sum-order can drift;
  // output ranks round to 6 with node-id tie-breaks.
  private val q44 = QueryDef(
    "q44_pagerank",
    (s, dir) => {
      // The edge build runs in the CALLER's session under its normal
      // AQE conf (corpus-sized work keeps its adaptive benefits); the
      // ITERATIONS plan inside GraphOps under the dupClusters round
      // discipline — edge table lineage-cut to an RDD leaf, rounds in
      // an AQE-off child session whose static width is the edge
      // table's own AQE-chosen partition count, so round width tracks
      // the graph instead of a fixture-tuned literal. The seam
      // materializes the edge build's stages at construction (the
      // documented iterative-graph exemption, same as dupClusters).
      // Integer node ids end-to-end (GraphKit: supplier s → 2s,
      // customer c → 2c+1), labelled on the 20 output rows only. The
      // iterations are graft.ops.GraphOps.pageRank; both edge
      // directions (every node has outdeg >= 1, so no dangling-mass
      // correction) union without undirect()'s second distinct — the
      // parity split keeps the halves disjoint.
      val pr = graft.ops.GraphOps.pageRank(bothWays(txEdges(s, dir)))
      labelTop(pr, "pr", 20, "pr").orderBy("rnk")
    },
    Some(txPageRankSql(weighted = false, personalized = false)))

  // PERSONALIZED PageRank (q44's seeded variant): teleport mass
  // restarts at the SUPPLIER nodes only, so the stationary mass over
  // customer nodes ranks "which customers sit closest to the supplier
  // side of the transaction graph" — the seeded trust/relevance
  // propagation a curation pipeline runs from trusted sources. Same
  // integer-node/AQE-off/unrolled-oracle discipline as q44; the
  // restart mass is ONE division (teleport/|S|) so the oracle's
  // 0.15/ns matches bit-for-bit; output = top-20 CUSTOMER nodes.
  private val q46 = QueryDef(
    "q46_ppr",
    (s, dir) => {
      // same round discipline as q44: edge build in the caller's
      // session, iterations under GraphOps' edge-width child session;
      // the seeds are GraphKit.supplierSeeds, read from lineitem
      val pr = graft.ops.GraphOps.personalizedPageRank(
        bothWays(txEdges(s, dir)), supplierSeeds(s, dir))
      labelTop(pr, "pr", 20, "pr", customersOnly = true).orderBy("rnk")
    },
    Some(txPageRankSql(weighted = false, personalized = true)))

  // WEIGHTED PageRank (q44 keeps the graph, drops the distinct): the
  // customer–supplier edge WEIGHT is the transaction multiplicity
  // (how many order lines link the pair), and out-mass splits
  // proportionally to weight — pr·w/Σw instead of pr/outdeg. That is
  // the mass-weighted trust/relevance propagation a real transaction
  // graph wants: a supplier moving 100 lines to one customer pushes
  // 100× the rank a one-line relationship does. Same integer-node /
  // unrolled-oracle / round(9)-per-iteration discipline as q44;
  // contribution is spelled pr * w / deg in BOTH engines (operation
  // order pins IEEE equality). Undirection materializes both
  // directions carrying the same weight — src parity differs from
  // dst parity, so the union cannot collide and needs no distinct.
  private val q47 = QueryDef(
    "q47_pagerank_weighted",
    (s, dir) => {
      val pr = graft.ops.GraphOps.pageRankWeighted(bothWays(txEdges(s, dir, weighted = true)), "w")
      labelTop(pr, "pr", 20, "pr").orderBy("rnk")
    },
    Some(txPageRankSql(weighted = true, personalized = false)))

  // Equal-width value HISTOGRAM per event_type — the distribution
  // profile q30/q32's rank-based views don't give (bin populations at
  // a glance, the classic data-profiling artifact). The global [min,
  // max] envelope enters as an action-free broadcast aggregate (the
  // q44/l3_knn_graph idiom — no collect), binning is row-local
  // arithmetic ((v−lo)/w, floored, top edge clamped into the last
  // bin), and the only shuffle is the final (type, bin) aggregate —
  // corpus-linear with a ~types×10-row result at any scale. Bin
  // arithmetic is identical IEEE double ops on both engines (same
  // expression tree), so bin assignment matches bit-for-bit; edge
  // values round(·,6) for the hash.
  private val q45 = QueryDef(
    "q45_histogram",
    (s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"), col("value"))
      val mm = e.agg(min("value").as("lo"), max("value").as("hi"))
      e.crossJoin(broadcast(mm))
        .withColumn("w", (col("hi") - col("lo")) / 10.0)
        // degenerate envelope guard: a constant column makes w = 0 and
        // (v-lo)/w = 0/0 = NaN, where Spark's floor(NaN) and DuckDB's
        // division semantics are free to disagree — pin every such
        // value to bin 0 on BOTH engines (legal input, one bin)
        .withColumn("bin",
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(least(floor((col("value") - col("lo")) / col("w")), lit(9L)))
            .cast("int"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), max("lo").as("lo"), max("w").as("w"))
        .select(col("event_type"), col("bin"), col("n"),
          round(col("lo") + col("bin") * col("w"), 6).as("bin_lo"),
          round(col("lo") + (col("bin") + 1) * col("w"), 6).as("bin_hi"))
        .orderBy("event_type", "bin")
    },
    Some("""WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
            |b AS (SELECT event_type,
            |             CASE WHEN hi = lo THEN 0
            |                  ELSE least(CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS INTEGER), 9)
            |             END AS bin,
            |             lo, (hi - lo) / 10.0 AS w
            |      FROM events, mm)
            |SELECT event_type, bin, count(*) AS n,
            |       round(lo + bin * w, 6) AS bin_lo,
            |       round(lo + (bin + 1) * w, 6) AS bin_hi
            |FROM b GROUP BY event_type, bin, lo, w
            |ORDER BY event_type, bin""".stripMargin))

  // STATISTICAL AGGREGATE battery (corr / covar / variance / linear
  // regression): the co-moment family every profiling and
  // feature-engineering pass leans on, computed by the engines' NATIVE
  // streaming-merge aggregates (Spark's Corr/CovSample/CentralMomentAgg
  // and the regr_* family — single-pass, partial-aggregatable, so the
  // 100 TB shape is one scan + a groups-sized shuffle; never a
  // mean-subtraction second pass). Cross-engine determinism: both
  // engines stream mathematically-equal co-moment updates whose
  // float drift is ~1e-12 relative under reassociation; every output
  // is rounded well above that drift but far below the data's signal
  // (corr/r2 round 6 on |x| <= 1, slope 3, covar/intercept/stddev 2).
  // regr_count casts to long on both sides.
  private val q51 = QueryDef(
    "q51_stats_agg",
    (s, dir) => {
      val l = t(s, dir, "lineitem")
      l.groupBy(col("l_returnflag").as("flag"))
        .agg(
          count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covs_qp"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covp_qp"),
          round(var_samp(col("l_quantity")), 4).as("var_q"),
          round(stddev_pop(col("l_extendedprice")), 2).as("sd_p"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 3).as("slope_pq"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("icept_pq"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2_pq"),
          regr_count(col("l_extendedprice"), col("l_quantity")).cast("long").as("rn"))
        .orderBy("flag")
    },
    Some("""SELECT l_returnflag AS flag, count(*) AS n,
            |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
            |       round(covar_samp(l_quantity, l_extendedprice), 2) AS covs_qp,
            |       round(covar_pop(l_quantity, l_extendedprice), 2) AS covp_qp,
            |       round(var_samp(l_quantity), 4) AS var_q,
            |       round(stddev_pop(l_extendedprice), 2) AS sd_p,
            |       round(regr_slope(l_extendedprice, l_quantity), 3) AS slope_pq,
            |       round(regr_intercept(l_extendedprice, l_quantity), 2) AS icept_pq,
            |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2_pq,
            |       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS rn
            |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  // Z-ORDER clustering key (q52): the Morton interleave of
  // (l_partkey, l_suppkey) — graft.ops.Layout.mortonKey's shift/mask
  // ladder, pure codegen'd bit arithmetic on both engines (the oracle
  // spells the identical ladder with decimal mask literals). The query
  // surfaces the first 50 rows in Z-order: exactly what a
  // Layout.clusterByMorton write lays on disk, so the oracle pins the
  // KEY ARITHMETIC AND the induced order. Integers end-to-end;
  // distributed shape is a TakeOrderedAndProject (partial per-partition
  // top-50, one tiny gather), never a global sort.
  private val q52 = QueryDef(
    "q52_zorder",
    (s, dir) => {
      val z = graft.ops.Layout.mortonKey(
        col("l_partkey") % 65536, col("l_suppkey") % 65536)
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), z.as("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber").limit(50)
        .withColumn("rn", row_number().over(
          Window.orderBy("zkey", "l_orderkey", "l_linenumber")))
        .select(col("rn"), col("l_partkey"), col("l_suppkey"), col("zkey"))
        .orderBy("rn")
    },
    Some("""WITH b AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            |                 l_partkey % 65536 AS x, l_suppkey % 65536 AS y
            |          FROM lineitem),
            |s1 AS (SELECT *, ((x | (x << 8)) & 16711935) AS xa,
            |                 ((y | (y << 8)) & 16711935) AS ya FROM b),
            |s2 AS (SELECT *, ((xa | (xa << 4)) & 252645135) AS xb,
            |                 ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
            |s3 AS (SELECT *, ((xb | (xb << 2)) & 858993459) AS xc,
            |                 ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
            |s4 AS (SELECT *, ((xc | (xc << 1)) & 1431655765) AS xs,
            |                 ((yc | (yc << 1)) & 1431655765) AS ys FROM s3),
            |k AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            |             (xs | (ys << 1)) AS zkey FROM s4),
            |top AS (SELECT * FROM k
            |        ORDER BY zkey, l_orderkey, l_linenumber LIMIT 50)
            |SELECT row_number() OVER (ORDER BY zkey, l_orderkey, l_linenumber) AS rn,
            |       l_partkey, l_suppkey, zkey
            |FROM top ORDER BY rn""".stripMargin))

  // TPC-H COMPOSITES (q53/q54/q55): the multi-join analytics classics
  // run end-to-end, not just their operator shapes — the judge of a
  // 100 TB engine is a 6-table star join, and these pin the whole
  // pipeline: selective dim filters FIRST (pushed to the scans),
  // catalog dims broadcast, fact-fact joins shuffled on their keys,
  // partial-agg revenue roll-ups through the battery's DECIMAL-exact
  // dsum (bit-identical regardless of aggregation order, so ORDER BY
  // revenue is cross-engine safe), deterministic tie-breaks on keys.

  // TPC-H Q3 — shipping priority: top-10 urgent-revenue orders for one
  // market segment still open at the cutoff date.
  private val q53 = QueryDef(
    "q53_tpch_q3",
    (s, dir) => {
      val cut = lit("1998-06-15").cast("timestamp_ntz")
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    },
    Some("""SELECT l_orderkey,
            |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
            |  o_orderdate, o_orderpriority
            |FROM customer, orders, lineitem
            |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
            |  AND l_orderkey = o_orderkey
            |  AND o_orderdate < TIMESTAMP '1998-06-15'
            |  AND l_shipdate > TIMESTAMP '1998-06-15'
            |GROUP BY l_orderkey, o_orderdate, o_orderpriority
            |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin))

  // TPC-H Q5 — local supplier volume: revenue per nation where the
  // customer and the supplier share the nation, one region, one year.
  private val q54 = QueryDef(
    "q54_tpch_q5",
    (s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp_ntz")
      val hi = lit("1998-01-01").cast("timestamp_ntz")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      // region/nation are catalog constants — broadcast unconditionally;
      // supplier/customer stay size-decided (they grow with the data)
      val n = t(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val su = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    },
    Some("""SELECT n_name,
            |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            |FROM customer, orders, lineitem, supplier, nation, region
            |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
            |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            |  AND r_name = 'ASIA'
            |  AND o_orderdate >= TIMESTAMP '1997-01-01'
            |  AND o_orderdate < TIMESTAMP '1998-01-01'
            |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin))

  // TPC-H Q10 — returned-item reporting: the top-20 customers by
  // revenue lost to returns in one quarter, with their nation.
  private val q55 = QueryDef(
    "q55_tpch_q10",
    (s, dir) => {
      val lo = lit("1997-07-01").cast("timestamp_ntz")
      val hi = lit("1997-10-01").cast("timestamp_ntz")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_custkey")
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    },
    Some("""SELECT c_custkey, c_name,
            |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
            |  c_acctbal, n_name
            |FROM customer, orders, lineitem, nation
            |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
            |  AND o_orderdate >= TIMESTAMP '1997-07-01'
            |  AND o_orderdate < TIMESTAMP '1997-10-01'
            |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            |GROUP BY c_custkey, c_name, c_acctbal, n_name
            |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin))

  // LAKEHOUSE MAINTENANCE trio (q58/q59/q60) — the batch forms of
  // MERGE, CDC-apply, and SCD2 history via graft.ops.TableOps. Each
  // is one key-partitioned exchange (join or window); the synthetic
  // update/changelog inputs derive deterministically from the fixture
  // tables so both engines build identical inputs.

  // MERGE/upsert (q58): whole-ROW update semantics — every 7th doc
  // gets a revised text, plus a batch of brand-new ids; update rows
  // win entirely, base-only rows pass through, new keys insert. ONE
  // full-outer shuffle join on the key.
  private val q58 = QueryDef(
    "q58_upsert",
    (s, dir) => {
      val base = t(s, dir, "documents")
      val upd = base.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val ins = base.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new "), col("doc_id").cast("string")).as("text"),
          lit("xx").as("lang"), lit("ins").as("source"),
          length(concat(lit("new "), col("doc_id").cast("string"))).cast("long").as("n_chars"))
      val merged = graft.ops.TableOps.upsert(base, upd.unionByName(ins), Seq("doc_id"))
      merged.select(col("doc_id"), QueryDef.sha60(col("text")).as("th"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (
            |  SELECT doc_id, text || ' v2' AS text, lang, source,
            |         length(text || ' v2') AS n_chars
            |  FROM documents WHERE doc_id % 7 = 0
            |  UNION ALL
            |  SELECT doc_id + 1000000, 'new ' || CAST(doc_id AS VARCHAR), 'xx', 'ins',
            |         length('new ' || CAST(doc_id AS VARCHAR))
            |  FROM documents WHERE doc_id % 97 = 0),
            |m AS (SELECT
            |  CASE WHEN u.doc_id IS NOT NULL THEN u.doc_id ELSE b.doc_id END AS doc_id,
            |  CASE WHEN u.doc_id IS NOT NULL THEN u.text ELSE b.text END AS text,
            |  CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE b.lang END AS lang,
            |  CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE b.source END AS source,
            |  CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars ELSE b.n_chars END AS n_chars
            |  FROM documents b FULL JOIN u ON b.doc_id = u.doc_id)
            |SELECT doc_id,
            |  CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT) AS th,
            |  lang, source, n_chars
            |FROM m ORDER BY doc_id""".stripMargin))

  // CDC changelog apply (q59): events replayed as a change stream —
  // per user the highest-sequence change wins, every 11th event is a
  // tombstone that erases the key if it wins. The rank-1 predicate
  // compiles to WindowGroupLimit: each input partition forwards at
  // most one row per key into the exchange.
  private val q59 = QueryDef(
    "q59_cdc_apply",
    (s, dir) => {
      val log = t(s, dir, "events").select(
        col("user_id"), col("event_id").as("seq"),
        when(col("event_id") % 11 === 0, "delete").otherwise("upsert").as("op"),
        col("event_type"), round(col("value"), 6).as("value"))
      graft.ops.TableOps.cdcApply(log, Seq("user_id"), "seq", "op")
        .orderBy("user_id")
    },
    Some("""WITH log AS (SELECT user_id, event_id AS seq,
            |    CASE WHEN event_id % 11 = 0 THEN 'delete' ELSE 'upsert' END AS op,
            |    event_type, round(value, 6) AS value
            |  FROM events),
            |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn
            |      FROM log)
            |SELECT user_id, seq, op, event_type, value
            |FROM r WHERE rn = 1 AND op != 'delete' ORDER BY user_id""".stripMargin))

  // SCD2 history (q60): each user's event_type change stream collapsed
  // to type-2 intervals — runs of the unchanged value become one row
  // with valid_from/valid_to (null = current). Two window passes (lag
  // run-start filter, lead interval end) over ONE key exchange.
  private val q60 = QueryDef(
    "q60_scd2",
    (s, dir) => {
      graft.ops.TableOps.scd2(
        t(s, dir, "events").select("user_id", "ts", "event_type", "event_id"),
        key = "user_id", tsCol = "ts", valueCol = "event_type",
        tieBreak = Seq("event_id"))
        .orderBy("user_id", "valid_from")
    },
    Some("""WITH s AS (SELECT user_id, ts, event_type, event_id,
            |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            |  FROM events),
            |st AS (SELECT user_id, ts, event_type, event_id FROM s
            |       WHERE prev IS NULL OR prev != event_type)
            |SELECT user_id, event_type, ts AS valid_from,
            |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
            |FROM st ORDER BY user_id, valid_from""".stripMargin))

  // TIME-SERIES RESAMPLE + FORWARD FILL (q61): the gap-filling shape
  // every metrics/feature pipeline needs — per-user DAILY grid over
  // the global envelope, observed days carry the day's mean value,
  // missing days forward-fill from the last observation (leading gaps
  // stay null), `filled` marks imputed rows. Scale shape: the grid is
  // users × days (generated row-locally from a broadcast 1-row
  // envelope — no join against a calendar table), the fill is ONE
  // key-partitioned window with last(ignoreNulls) over a running
  // frame; per-day means are DECIMAL-exact sums over one IEEE
  // division, so values match the oracle bit-for-bit before the
  // round(6).
  private val q61 = QueryDef(
    "q61_resample",
    (s, dir) => {
      val e = t(s, dir, "events")
      val obs = e.groupBy(col("user_id"),
          to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(round(dsum(col("value")) / count(lit(1)), 6).as("v"))
      val mm = obs.agg(min("day").as("lo"), max("day").as("hi"))
      val grid = e.select("user_id").distinct()
        .crossJoin(broadcast(mm))
        .select(col("user_id"),
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("v"), ignoreNulls = true).over(w).as("v"),
          col("v").isNull.as("filled"))
        .orderBy("user_id", "day")
    },
    Some("""WITH obs AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
            |    round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS v
            |  FROM events GROUP BY 1, 2),
            |mm AS (SELECT min(day) AS lo, max(day) AS hi FROM obs),
            |grid AS (SELECT u.user_id, unnest(generate_series(mm.lo, mm.hi, INTERVAL 1 DAY)) AS day
            |         FROM (SELECT DISTINCT user_id FROM events) u, mm),
            |j AS (SELECT g.user_id, CAST(g.day AS DATE) AS day, o.v FROM grid g
            |      LEFT JOIN obs o ON g.user_id = o.user_id AND CAST(g.day AS DATE) = o.day)
            |SELECT user_id, day,
            |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
            |  v IS NULL AS filled
            |FROM j ORDER BY user_id, day""".stripMargin))

  // COHORT RETENTION (q62): the product-analytics classic — users
  // grouped by first-activity week, retention = the share of each
  // cohort still active N weeks later. Week index is EXPLICIT integer
  // arithmetic (days-since-epoch-anchor div 7) rather than the
  // engines' date_trunc('week') so no week-start convention can ever
  // skew parity. Shapes: one distinct (user, week) projection, a
  // per-user min, one matrix aggregate — all partial-aggregatable;
  // the matrix is weeks²-sized however large the event log. The rate
  // divides two exact counts (one IEEE division, round 6).
  private val q62 = QueryDef(
    "q62_retention",
    (s, dir) => {
      val act = t(s, dir, "events")
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7).as("wk"))
        .distinct()
      val coh = act.groupBy("user_id").agg(min("wk").as("cw"))
      val ret = act.join(coh, "user_id")
        .groupBy(col("cw"), (col("wk") - col("cw")).as("off"))
        .agg(countDistinct("user_id").as("n"))
      val size = ret.filter(col("off") === 0)
        .select(col("cw"), col("n").as("cohort_size"))
      ret.join(size, "cw")
        .select(col("cw"), col("off"), col("n"),
          round(col("n") / col("cohort_size"), 6).as("rate"))
        .orderBy("cw", "off")
    },
    Some("""WITH act AS (SELECT DISTINCT user_id,
            |    CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS wk
            |  FROM events),
            |coh AS (SELECT user_id, min(wk) AS cw FROM act GROUP BY user_id),
            |ret AS (SELECT c.cw, a.wk - c.cw AS off, count(DISTINCT a.user_id) AS n
            |        FROM act a JOIN coh c USING (user_id) GROUP BY 1, 2),
            |sz AS (SELECT cw, n AS cohort_size FROM ret WHERE off = 0)
            |SELECT r.cw, r.off, r.n, round(r.n / s.cohort_size, 6) AS rate
            |FROM ret r JOIN sz s USING (cw) ORDER BY cw, off""".stripMargin))

  // WEIGHTED + PERSONALIZED PageRank (q63): q46's seeded restart mass
  // COMPOSED with q47's weight-proportional out-mass splitting —
  // seeded trust propagation over the transaction multigraph where
  // multiplicity is the weight, the closest shape to how a curation
  // pipeline actually propagates trust from vetted sources through
  // weighted interactions. Closes GraphOps' last library-only variant
  // (personalizedPageRankWeighted) behind an oracle; the same
  // integer-node / unrolled-oracle / round(9) discipline as both
  // parents. Output: top-20 customers by received mass.
  private val q63 = QueryDef(
    "q63_wppr",
    (s, dir) => {
      val pr = graft.ops.GraphOps.personalizedPageRankWeighted(
        bothWays(txEdges(s, dir, weighted = true)), supplierSeeds(s, dir), "w")
      labelTop(pr, "pr", 20, "pr", customersOnly = true).orderBy("rnk")
    },
    Some(txPageRankSql(weighted = true, personalized = true)))

  // HITS hubs & authorities (q65): Kleinberg's mutually-reinforcing
  // centrality pair over the DIRECTED supplier→customer transaction
  // graph — hubs rank the supplier side, authorities the customer
  // side (the complementary view to q44's undirected PageRank).
  // GraphOps.hits defers L2 normalization to ONE final divide, so
  // every pull stays an INTEGER-valued double — bit-exact under any
  // shuffle order with no rounding contract inside the rounds; only
  // the final normalize rounds (9) to absorb the 1-ulp sqrt. Per
  // round: two edge joins + two node aggregates. The oracle unrolls
  // the same three integer pull pairs + the single normalize.
  // Output: top-10 per role.
  private val q65 = QueryDef(
    "q65_hits",
    (s, dir) => {
      val ha = graft.ops.GraphOps.hits(txEdges(s, dir))
      def top(scoreCol: String, role: String) = labelTop(ha, scoreCol, 10, "score")
        .select(lit(role).as("role"), col("rnk"), col("node"), col("score"))
      top("hub", "hub").unionByName(top("auth", "auth")).orderBy("role", "rnk")
    },
    Some(s"""WITH ${txEdgeCte()},
            |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
            |h0 AS (SELECT node, 1.0 AS h FROM nodes),
            |${hitsRounds(3)},
            |n2 AS (SELECT SUM(h.h * h.h) AS hn2, SUM(a.a * a.a) AS an2
            |       FROM h3 h JOIN a3 a USING (node)),
            |fin AS (SELECT h.node,
            |  CASE WHEN (SELECT hn2 FROM n2) > 0
            |       THEN round(h.h / sqrt((SELECT hn2 FROM n2)), 9) ELSE 0.0 END AS hub,
            |  CASE WHEN (SELECT an2 FROM n2) > 0
            |       THEN round(a.a / sqrt((SELECT an2 FROM n2)), 9) ELSE 0.0 END AS auth
            |  FROM h3 h JOIN a3 a USING (node)),
            |th AS (SELECT node, round(hub, 6) AS score FROM fin
            |       ORDER BY score DESC, node LIMIT 10),
            |ta AS (SELECT node, round(auth, 6) AS score FROM fin
            |       ORDER BY score DESC, node LIMIT 10),
            |rh AS (SELECT 'hub' AS role, row_number() OVER (ORDER BY score DESC, node) AS rnk,
            |              node, score FROM th),
            |ra AS (SELECT 'auth' AS role, row_number() OVER (ORDER BY score DESC, node) AS rnk,
            |              node, score FROM ta),
            |u AS (SELECT * FROM rh UNION ALL SELECT * FROM ra)
            |SELECT role, rnk, $nodeLabelSql AS node, score
            |FROM u ORDER BY role, rnk""".stripMargin))

  // TPC-H Q18 (q67) — large-volume customers: orders whose TOTAL line
  // quantity exceeds 300, with customer and order detail. The shape
  // under test is the group-HAVING-IN decorrelation over a FACT-FACT
  // aggregate: the naive spelling re-aggregates lineitem per order row
  // (`WHERE o_orderkey IN (SELECT .. HAVING ..)` evaluated row-at-a-
  // time); the one-pass plan aggregates lineitem ONCE (partial-agg,
  // map-side combined), filters the order-sized result, and drives the
  // orders/customer joins from that filtered qualifier — the qualifier
  // side is tiny after HAVING, so AQE broadcasts it and the fact scan
  // never shuffles twice. Quantity sums are DECIMAL-exact (dsum), so
  // ORDER BY total_qty is engine-stable; top-100 by (qty desc, key).
  private val q67 = QueryDef(
    "q67_tpch_q18",
    (s, dir) => {
      val big = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300.0)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"),
          col("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey")).limit(100)
    },
    Some("""WITH big AS (
            |  SELECT l_orderkey,
            |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
            |  FROM lineitem GROUP BY l_orderkey
            |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 300.0)
            |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
            |       round(o_totalprice, 2) AS o_totalprice, total_qty
            |FROM big JOIN orders ON o_orderkey = l_orderkey
            |JOIN customer ON c_custkey = o_custkey
            |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin))

  // TPC-H Q21 (q68) — suppliers who kept orders waiting: for FINALIZED
  // orders, count per supplier the orders where THIS supplier shipped
  // late and (a) at least one OTHER supplier participated (EXISTS) but
  // (b) no OTHER supplier was also late (NOT EXISTS) — the hardest
  // decorrelation shape in the TPC-H suite: a double-correlated
  // exists/not-exists over the fact table at fact scale. ("Late" is
  // ship lag > 60 days past the order date — the fixture carries no
  // commit/receipt dates, so the lag predicate stands in; the
  // subquery STRUCTURE is unchanged.) Decorrelation: both correlated
  // predicates collapse onto per-order supplier-grain counts —
  // EXISTS(other supplier) = n_supp > 1, NOT EXISTS(other LATE
  // supplier) = n_late = 1 (the qualifying supplier is itself late, so
  // "exactly one late" = "no OTHER late"), and n_late = 1 makes the
  // qualifying supplier UNIQUE per order, so it rides out of the same
  // aggregate as min(late supplier). Plan: ONE fact scan → two
  // partial-aggregatable shuffles of shrinking grain ((order,supplier)
  // then order) — no per-row re-execution, no second fact scan for the
  // semi/anti pair, no count-distinct Expand. Supplier/nation dims are
  // joined after the fact side has collapsed to qualifying orders;
  // nation is a broadcast catalog constant. Output: top-100
  // (numwait desc, s_name) — integer counts, no rounding contract.
  private val q68 = QueryDef(
    "q68_tpch_q21",
    (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("late"))
      val perSupp = l.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("late"))
      val waits = perSupp.groupBy("l_orderkey").agg(
          count(lit(1)).as("n_supp"),
          sum(when(col("late"), 1).otherwise(0)).as("n_late"),
          min(when(col("late"), col("l_suppkey"))).as("l_suppkey"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
        .select("l_orderkey", "l_suppkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      waits.join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name")).limit(100)
    },
    Some("""WITH l AS (
            |  SELECT l_orderkey, l_suppkey,
            |         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
            |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |  WHERE o_orderstatus = 'F'),
            |per_supp AS (
            |  SELECT l_orderkey, l_suppkey, max(late) AS late
            |  FROM l GROUP BY l_orderkey, l_suppkey),
            |waits AS (
            |  SELECT l_orderkey, min(CASE WHEN late THEN l_suppkey END) AS l_suppkey
            |  FROM per_supp GROUP BY l_orderkey
            |  HAVING count(*) > 1 AND sum(CASE WHEN late THEN 1 ELSE 0 END) = 1)
            |SELECT s_name, n_name, count(*) AS numwait
            |FROM waits JOIN supplier ON s_suppkey = l_suppkey
            |JOIN nation ON n_nationkey = s_nationkey
            |GROUP BY s_name, n_name
            |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin))

  // HILBERT CLUSTERING KEY (q75): q52's layout story on the curve
  // production tables actually prefer — consecutive Hilbert key
  // ranges are CONNECTED blocks of the (partkey, suppkey) plane
  // (Morton's Z jumps at quadrant seams), so range scans touch fewer
  // files. Layout.hilbertKey is the native `hilbert_key` kernel (the
  // xy2d walk is sequential per bit level — as Column arithmetic it
  // needs 16 chained projections and ~2 s of Janino compile per
  // fresh plan; as a kernel it is one codegen'd loop per row); the
  // oracle replays the IDENTICAL walk as 16 unrolled CTEs — exact
  // integers, no rounding contract. Same top-50 + rank presentation
  // as q52.
  private val q75 = QueryDef(
    "q75_hilbert",
    (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          graft.ops.Layout.hilbertKey(col("l_partkey"), col("l_suppkey"))
            .as("hkey"))
        .orderBy("hkey", "l_orderkey", "l_linenumber").limit(50)
        .withColumn("rn", row_number().over(
          Window.orderBy("hkey", "l_orderkey", "l_linenumber")))
        .select(col("rn"), col("l_partkey"), col("l_suppkey"), col("hkey"))
        .orderBy("rn")
    },
    Some {
      val levels = (1 to 16).map { k =>
        val s = 1L << (16 - k)
        s"""h$k AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
           |                     (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d,
           |  CASE WHEN (y & $s) > 0 THEN x
           |       WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END AS x,
           |  CASE WHEN (y & $s) > 0 THEN y
           |       WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END AS y
           |  FROM h${k - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |            CAST(0 AS BIGINT) AS d,
         |            CAST(l_partkey & 65535 AS BIGINT) AS x,
         |            CAST(l_suppkey & 65535 AS BIGINT) AS y
         |            FROM lineitem),
         |$levels,
         |top AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |               d AS hkey
         |        FROM h16 ORDER BY hkey, l_orderkey, l_linenumber LIMIT 50)
         |SELECT row_number() OVER (ORDER BY hkey, l_orderkey, l_linenumber) AS rn,
         |       l_partkey, l_suppkey, hkey
         |FROM top ORDER BY rn""".stripMargin
    })

  // WARM-START PAGERANK (q76): the graph member of the
  // incremental-ingest family — yesterday's ranks (3 cold rounds on
  // the pre-2000 transaction graph) warm today's re-rank (2 rounds on
  // the FULL graph), instead of re-running the cold schedule from the
  // uniform vector. With teleport the iteration contracts to the same
  // fixpoint from any start, so the warm rounds do the work of a much
  // longer cold run (GraphOpsSpec pins the exact-continuation
  // property: warm-from-cold-k IS rounds k+1..k+i, bit-for-bit).
  // Nodes new since the prior start at 1/N via coalesce — spelled
  // identically in both engines. Same integer-node/unrolled-oracle
  // discipline as q44; both phases' rounds are generated CTEs.
  private val q76 = QueryDef(
    "q76_pagerank_incr",
    (s, dir) => {
      val cut = lit("2000-01-01").cast("timestamp_ntz")
      // BOTH phases' edge sets derive from the same lineitem⋈orders
      // join — cache it once so the prior phase and the warm phase
      // don't each re-run the corpus-sized join
      val joined = cached(txPairs(s, dir, "o_orderdate"))(graft.ops.CacheScope.sessionOwned)
      def undirected(df: DataFrame): DataFrame =
        bothWays(df.select(col("src"), col("dst")).distinct())
      val prior = graft.ops.GraphOps.pageRank(
        undirected(joined.filter(col("o_orderdate") < cut)))
      val pr = graft.ops.GraphOps.pageRankWarm(
        undirected(joined), prior.select(col("node"), col("pr")), iters = 2)
      labelTop(pr, "pr", 20, "pr").orderBy("rnk")
    },
    Some(s"""WITH ${txEdgeCte("edo", where = "o_orderdate < TIMESTAMP '2000-01-01'")},
            |${txBothWaysCte(name = "eo", from = "edo")},
            |${prDegSql("eo", "dego", "no")},
            |o0 AS (SELECT node, deg, 1.0 / (SELECT n FROM no) AS pr FROM dego),
            |${prRounds(3, "o", "o0", "eo", "dego d", restart = "0.15 / (SELECT n FROM no)")},
            |${txEdgeCte("edf")},
            |${txBothWaysCte(name = "ef", from = "edf")},
            |${prDegSql("ef", "degf", "nf")},
            |w0 AS (SELECT d.node, d.deg, coalesce(p.pr, 1.0 / (SELECT n FROM nf)) AS pr
            |       FROM degf d LEFT JOIN o3 p ON p.node = d.node),
            |${prRounds(2, "w", "w0", "ef", "degf d", restart = "0.15 / (SELECT n FROM nf)")},
            |${labelTopSql("w2")}""".stripMargin))

  // EVENT FUNNEL (q78): the product-analytics sequential-conversion
  // classic — how many users progress view → click → purchase IN
  // ORDER (each later step strictly after the user's matched earlier
  // step)? Three type-selective min aggregates chained by user-keyed
  // joins: t1 = first view, t2 = first click AFTER t1, t3 = first
  // purchase after t2 — each pass scans only its event type (filter
  // pushed to the scan), joins a user-sized step table, and
  // aggregates; no per-user event sort, no self-join over the full
  // log. Counts are exact; each step's conversion rate vs the
  // previous step is one IEEE division rounded 6 (lag over the 3-row
  // summary). All timestamp comparisons are exact microseconds.
  private val q78 = QueryDef(
    "q78_funnel",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val steps = t1.agg(count(lit(1)).as("n"))
        .select(lit(1).as("step"), lit("view").as("stage"), col("n"))
        .unionByName(t2.agg(count(lit(1)).as("n"))
          .select(lit(2).as("step"), lit("click").as("stage"), col("n")))
        .unionByName(t3.agg(count(lit(1)).as("n"))
          .select(lit(3).as("step"), lit("purchase").as("stage"), col("n")))
      val w = Window.orderBy("step")
      steps
        .withColumn("rate",
          round(col("n") / coalesce(lag("n", 1).over(w), col("n")), 6))
        .orderBy("step")
    },
    Some("""WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
            |           WHERE event_type = 'view' GROUP BY user_id),
            |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
            |       JOIN t1 ON t1.user_id = e.user_id
            |       WHERE e.event_type = 'click' AND e.ts > t1.t1
            |         AND e.ts <= t1.t1 + INTERVAL 7 DAY
            |       GROUP BY e.user_id),
            |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
            |       JOIN t2 ON t2.user_id = e.user_id
            |       WHERE e.event_type = 'purchase' AND e.ts > t2.t2
            |         AND e.ts <= t2.t2 + INTERVAL 7 DAY
            |       GROUP BY e.user_id),
            |steps AS (SELECT 1 AS step, 'view' AS stage, count(*) AS n FROM t1
            |          UNION ALL SELECT 2, 'click', count(*) FROM t2
            |          UNION ALL SELECT 3, 'purchase', count(*) FROM t3)
            |SELECT step, stage, n,
            |       round(n / coalesce(lag(n, 1) OVER (ORDER BY step), n), 6) AS rate
            |FROM steps ORDER BY step""".stripMargin))

  // TPC-H Q19 (q74) — discounted-revenue from three disjunctive
  // brand/size/quantity arms: the classic disjunctive-JOIN-predicate
  // stress (the OR references BOTH sides, so a naive plan can't push
  // anything and filters post-join). The plan you want — and the one
  // this spelling forces regardless of whether the optimizer does CNF
  // extraction — hand-hoists the per-side implications: part
  // pre-filters to the union of brand/size arms (catalog-sized →
  // broadcast), lineitem pre-filters to the quantity envelope 1..30
  // (reaches the parquet scan), and the exact three-arm OR evaluates
  // as the join residual. Revenue through the dsum DECIMAL contract
  // (adapted arms: the fixture has brands Brand#1..25, sizes 1..50,
  // integer-valued quantities 1..50, no container/shipmode columns).
  private val q74 = QueryDef(
    "q74_tpch_q19",
    (s, dir) => {
      def armP(brand: String, sizeHi: Int) =
        col("p_brand") === brand && col("p_size").between(1, sizeHi)
      def armL(qLo: Int, qHi: Int) = col("l_quantity").between(qLo, qHi)
      val arms =
        (armP("Brand#12", 5) && armL(1, 11)) ||
          (armP("Brand#23", 10) && armL(10, 20)) ||
          (armP("Brand#34", 15) && armL(20, 30))
      val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
        .filter(armP("Brand#12", 5) || armP("Brand#23", 10) || armP("Brand#34", 15))
      val l = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .filter(armL(1, 30))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey") && arms)
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            |FROM lineitem JOIN part ON l_partkey = p_partkey
            |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
            |       AND l_quantity BETWEEN 1 AND 11)
            |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
            |       AND l_quantity BETWEEN 10 AND 20)
            |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
            |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin))

  // ROLLING Z-SCORE ANOMALIES (q71): the time-series outlier classic —
  // per user, each day's mean value against the trailing 7-day window
  // (RANGE over day index, so gaps in the series shrink the window
  // instead of stretching it); a day is anomalous when it sits more
  // than 2 standard deviations from the window mean with at least 4
  // observations. The FLAG is exact cross-engine: instead of comparing
  // z against 2.0 in IEEE (a coin-flip at the boundary), multiply
  // through by n² — (n·v − Σv)² > 4·(n·Σv² − (Σv)²) — and evaluate in
  // explicitly-sized DECIMALs (every width annotated below stays under
  // 38 so neither engine silently rounds; v is 6dp so the decimals are
  // exact rationals). The oracle additionally casts each square's
  // operands up to DECIMAL(19,6)/(26,12): DuckDB multiplies in the
  // operands' INTERNAL integer width, so a narrow decimal square
  // overflows int64 even when the declared result width would fit. The reported z then divides two exact decimals
  // in IEEE and rounds to 4dp (the q51 convention: round above fp
  // drift). Shapes: one day-grain aggregate (map-side combined), one
  // user-partitioned window pass — no self-join against shifted
  // copies, which is the naive O(7×) formulation; at 100 TB the
  // window carries 7 rows of state per user partition.
  private val q71 = QueryDef(
    "q71_rolling_zscore",
    (s, dir) => {
      val obs = t(s, dir, "events")
        .groupBy(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(round(dsum(col("value")) / count(lit(1)), 6).as("v"))
        .withColumn("vd", col("v").cast(DecimalType(12, 6)))
        .withColumn("dayn", datediff(col("day"), lit("2024-01-01")))
      val w = Window.partitionBy("user_id").orderBy("dayn").rangeBetween(-6, 0)
      val stats = obs
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sv", sum(col("vd")).over(w).cast(DecimalType(15, 6)))
        .withColumn("sq", sum(col("vd") * col("vd")).over(w).cast(DecimalType(20, 12)))
      val nd = col("n").cast(DecimalType(4, 0))
      val dev = nd * col("vd") - col("sv")                 // (18,6)
      val varn2 = nd * col("sq") - col("sv") * col("sv")   // (32,12) = n²·var
      stats
        .filter(col("n") >= 4 &&
          dev * dev > varn2 * lit(4).cast(DecimalType(2, 0)))
        .select(col("user_id"), col("day"), col("v"), col("n"),
          round(dev.cast("double") / sqrt(varn2.cast("double")), 4).as("z"))
        .orderBy("user_id", "day")
    },
    Some("""WITH obs AS (
            |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
            |         round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS v
            |  FROM events GROUP BY 1, 2),
            |d AS (SELECT user_id, day, v, CAST(v AS DECIMAL(12,6)) AS vd,
            |             date_diff('day', DATE '2024-01-01', day) AS dayn FROM obs),
            |stats AS (SELECT user_id, day, v, vd,
            |  count(*) OVER w AS n,
            |  CAST(SUM(vd) OVER w AS DECIMAL(15,6)) AS sv,
            |  CAST(SUM(vd * vd) OVER w AS DECIMAL(20,12)) AS sq
            |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY dayn
            |                      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
            |calc AS (SELECT user_id, day, v, n,
            |  CAST(CAST(n AS DECIMAL(4,0)) * vd - sv AS DECIMAL(19,6)) AS dev,
            |  CAST(CAST(CAST(n AS DECIMAL(4,0)) * sq AS DECIMAL(26,12)) -
            |       CAST(CAST(sv AS DECIMAL(19,6)) * CAST(sv AS DECIMAL(19,6))
            |            AS DECIMAL(26,12)) AS DECIMAL(27,12)) AS varn2
            |  FROM stats WHERE n >= 4)
            |SELECT user_id, day, v, n,
            |  round(CAST(dev AS DOUBLE) / sqrt(CAST(varn2 AS DOUBLE)), 4) AS z
            |FROM calc
            |WHERE CAST(dev * dev AS DECIMAL(27,12)) > 4 * varn2
            |ORDER BY user_id, day""".stripMargin))

  // EWMA PRICE TREND (q82): the exponential-smoothing classic as a
  // TRUNCATED DYADIC FIR — per part, over its lineitems in the total
  // order (l_shipdate, l_orderkey, l_linenumber), the smoothed price
  // at the last observation is Σ_{k=0..7} 2^{-(k+1)} · x_{t-k}
  // (missing lags contribute 0). The arithmetic is EXACT DECIMAL end
  // to end (the q51/q71 convention): price → DECIMAL(18,6) (one
  // correctly-rounded conversion, identical in both engines — the
  // dsum pattern), dyadic weights are scale-8 decimals (2^-8 =
  // 0.00390625 exactly), so every product and the 8-term sum are
  // exact and the single round(6) HALF_UPs the same decimal on both
  // sides. An all-double formulation dies here: DuckDB rounds doubles
  // by multiply-shift (x·10⁶ re-rounds at .5 boundaries — observed
  // 44898.9178124999996 → .917813 vs the decimal-correct .917812).
  // The oracle declares DECIMAL(19,6) (same values, one digit of
  // headroom) because DuckDB multiplies in the operands' INTERNAL
  // integer width — 18,6 is int64 and overflows (the q71 gotcha).
  // The recursive y_t = αx + (1−α)y_{t−1} form would drag the whole
  // history into every value; the 8-tap cut bounds the deviation at
  // 2^-8 of scale while keeping the window a FIXED 8 rows of state
  // per partition — one key exchange, one ordered window pass, no
  // self-join against shifted copies: the 100 TB shape. Emitted for
  // parts with >= 8 observations.
  private val q82 = QueryDef(
    "q82_ewma",
    (s, dir) => {
      val xd = col("l_extendedprice").cast(DecimalType(18, 6))
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      def wt(k: Int) =
        lit((BigDecimal(1) / BigDecimal(1L << (k + 1))).setScale(8).bigDecimal)
      val zero = lit(BigDecimal(0).setScale(6).bigDecimal).cast(DecimalType(18, 6))
      val terms = (xd * wt(0)) +: (1 until 8).map(k =>
        coalesce(lag(xd, k).over(w), zero) * wt(k))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_obs", count(lit(1)).over(Window.partitionBy("l_partkey")))
        .withColumn("ewma", round(terms.reduce(_ + _), 6).cast("double"))
        .filter(col("rn") === col("n_obs") && col("n_obs") >= 8)
        .select(col("l_partkey"), col("n_obs"), col("ewma"))
        .orderBy("l_partkey")
    },
    Some("""WITH s AS (SELECT l_partkey,
            |    CAST(l_extendedprice AS DECIMAL(19,6)) AS x,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 1) OVER w AS x1,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 2) OVER w AS x2,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 3) OVER w AS x3,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 4) OVER w AS x4,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 5) OVER w AS x5,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 6) OVER w AS x6,
            |    lag(CAST(l_extendedprice AS DECIMAL(19,6)), 7) OVER w AS x7,
            |    row_number() OVER w AS rn,
            |    count(*) OVER (PARTITION BY l_partkey) AS n_obs
            |  FROM lineitem
            |  WINDOW w AS (PARTITION BY l_partkey
            |               ORDER BY l_shipdate, l_orderkey, l_linenumber))
            |SELECT l_partkey, n_obs,
            |  CAST(round(x * 0.50000000::DECIMAL(9,8)
            |    + coalesce(x1, 0) * 0.25000000::DECIMAL(9,8)
            |    + coalesce(x2, 0) * 0.12500000::DECIMAL(9,8)
            |    + coalesce(x3, 0) * 0.06250000::DECIMAL(9,8)
            |    + coalesce(x4, 0) * 0.03125000::DECIMAL(9,8)
            |    + coalesce(x5, 0) * 0.01562500::DECIMAL(9,8)
            |    + coalesce(x6, 0) * 0.00781250::DECIMAL(9,8)
            |    + coalesce(x7, 0) * 0.00390625::DECIMAL(9,8), 6) AS DOUBLE) AS ewma
            |FROM s WHERE rn = n_obs AND n_obs >= 8
            |ORDER BY l_partkey""".stripMargin))

  // ZONE-MAP DATA SKIPPING (q83): the lakehouse question q52's
  // clustering exists to answer — how many chunks does a 2-D
  // predicate PRUNE under a z-order layout vs the natural (orderkey)
  // layout? Rows bucket into ~256 VALUE-RANGE chunks per layout
  // (chunk = key div W, W from a broadcast 1-row envelope aggregate —
  // integer-only, so the oracle re-derives identically); per chunk a
  // zone map (min/max partkey+suppkey) decides skippability for
  // partkey ∈ [64,255] ∧ suppkey ∈ [8,39]; the summary reports chunks
  // scanned, skip fraction, rows scanned, and read amplification vs
  // the true match count. Value-range tiles rather than row_number
  // chunks keep the whole plan parallel (NO global sort/window — the
  // writer's row-balanced files give the same pruning semantics):
  // two chunk-keyed aggregates, both map-side combined, plus two
  // broadcast 1-row scalars. Everything is exact-integer except the
  // two ratio divisions (round 6). Morton keys via the same native
  // kernel as q52; the natural layout's zone maps go wide (orderkey
  // correlates with nothing) so its skip_frac ~ 0 — the measured
  // argument FOR clustering.
  private val q83 = QueryDef(
    "q83_zonemap",
    (s, dir) => {
      val z = graft.ops.Layout.mortonKey(
        col("l_partkey") % 65536, col("l_suppkey") % 65536)
      val k = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          z.as("zkey"))
      val env = broadcast(k.agg(
        expr("max(zkey) div 256 + 1").as("wz"),
        expr("max(l_orderkey) div 256 + 1").as("wo")))
      val ch = k.crossJoin(env).select(
        expr("zkey div wz").as("chz"),
        expr("l_orderkey div wo").as("cho"),
        col("l_partkey"), col("l_suppkey"))
      def zones(chunkCol: String, name: String) =
        ch.groupBy(col(chunkCol).as("chunk"))
          .agg(min("l_partkey").as("mn_p"), max("l_partkey").as("mx_p"),
            min("l_suppkey").as("mn_s"), max("l_suppkey").as("mx_s"),
            count(lit(1)).as("nrows"))
          .select(lit(name).as("layout"), col("chunk"), col("mn_p"),
            col("mx_p"), col("mn_s"), col("mx_s"), col("nrows"))
      val scanned = col("mn_p") <= 255 && col("mx_p") >= 64 &&
        col("mn_s") <= 39 && col("mx_s") >= 8
      val mt = broadcast(k.filter(
          col("l_partkey").between(64, 255) && col("l_suppkey").between(8, 39))
        .agg(count(lit(1)).as("rows_matching")))
      zones("chz", "zorder").union(zones("cho", "natural"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_chunks"),
          count(when(scanned, lit(1))).as("chunks_scanned"),
          sum("nrows").as("rows_total"),
          sum(when(scanned, col("nrows")).otherwise(lit(0L))).as("rows_scanned"))
        .crossJoin(mt)
        .select(col("layout"), col("n_chunks"), col("chunks_scanned"),
          round((col("n_chunks") - col("chunks_scanned")) / col("n_chunks"), 6)
            .as("skip_frac"),
          col("rows_total"), col("rows_scanned"), col("rows_matching"),
          round(col("rows_scanned") / col("rows_matching"), 6).as("read_amp"))
        .orderBy("layout")
    },
    Some("""WITH b AS (SELECT l_orderkey, l_partkey, l_suppkey,
            |                 l_partkey % 65536 AS x, l_suppkey % 65536 AS y
            |          FROM lineitem),
            |s1 AS (SELECT *, ((x | (x << 8)) & 16711935) AS xa,
            |                 ((y | (y << 8)) & 16711935) AS ya FROM b),
            |s2 AS (SELECT *, ((xa | (xa << 4)) & 252645135) AS xb,
            |                 ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
            |s3 AS (SELECT *, ((xb | (xb << 2)) & 858993459) AS xc,
            |                 ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
            |s4 AS (SELECT *, ((xc | (xc << 1)) & 1431655765) AS xs,
            |                 ((yc | (yc << 1)) & 1431655765) AS ys FROM s3),
            |k AS (SELECT l_orderkey, l_partkey, l_suppkey,
            |             (xs | (ys << 1)) AS zkey FROM s4),
            |env AS (SELECT max(zkey) // 256 + 1 AS wz,
            |               max(l_orderkey) // 256 + 1 AS wo FROM k),
            |ch AS (SELECT zkey // (SELECT wz FROM env) AS chz,
            |              l_orderkey // (SELECT wo FROM env) AS cho,
            |              l_partkey, l_suppkey FROM k),
            |zz AS (SELECT 'zorder' AS layout, chz AS chunk,
            |              min(l_partkey) AS mn_p, max(l_partkey) AS mx_p,
            |              min(l_suppkey) AS mn_s, max(l_suppkey) AS mx_s,
            |              count(*) AS nrows FROM ch GROUP BY 1, 2),
            |zn AS (SELECT 'natural' AS layout, cho AS chunk,
            |              min(l_partkey), max(l_partkey),
            |              min(l_suppkey), max(l_suppkey),
            |              count(*) FROM ch GROUP BY 1, 2),
            |zm AS (SELECT * FROM zz UNION ALL SELECT * FROM zn),
            |st AS (SELECT layout, count(*) AS n_chunks,
            |    count(CASE WHEN mn_p <= 255 AND mx_p >= 64
            |               AND mn_s <= 39 AND mx_s >= 8 THEN 1 END) AS chunks_scanned,
            |    CAST(sum(nrows) AS BIGINT) AS rows_total,
            |    CAST(sum(CASE WHEN mn_p <= 255 AND mx_p >= 64
            |                  AND mn_s <= 39 AND mx_s >= 8
            |             THEN nrows ELSE 0 END) AS BIGINT) AS rows_scanned
            |  FROM zm GROUP BY 1),
            |mt AS (SELECT count(*) AS rows_matching FROM k
            |       WHERE l_partkey BETWEEN 64 AND 255
            |         AND l_suppkey BETWEEN 8 AND 39)
            |SELECT layout, n_chunks, chunks_scanned,
            |       round((n_chunks - chunks_scanned) / n_chunks, 6) AS skip_frac,
            |       rows_total, rows_scanned,
            |       (SELECT rows_matching FROM mt) AS rows_matching,
            |       round(rows_scanned / (SELECT rows_matching FROM mt), 6) AS read_amp
            |FROM st ORDER BY layout""".stripMargin))

  // TPC-H Q7 — VOLUME SHIPPING (q84): bilateral trade between two
  // nations by ship year. The shape the other composites don't have:
  // TWO independent dimension chains into the SAME fact (supplier →
  // nation on l_suppkey, orders → customer → nation on l_orderkey)
  // plus a CROSS-side disjunction ((sn=A ∧ cn=B) ∨ (sn=B ∧ cn=A))
  // that can only resolve after both chains attach. The scalable
  // plan: each chain's nation filter is pushed INTO its dim before
  // the fact is touched (both dims collapse to the two nations' keys
  // — broadcast-sized at any corpus), the date filter rides the
  // lineitem scan, and the disjunction then only drops the two
  // same-nation combos — the q74 hand-hoisted-side-filter
  // discipline. Revenue through DECIMAL-exact dsum; year as BIGINT
  // on both engines.
  private val q84 = QueryDef(
    "q84_tpch_q7",
    (s, dir) => {
      val nat = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_8"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = t(s, dir, "supplier").join(broadcast(nat),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cus = t(s, dir, "customer").join(broadcast(nat),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = t(s, dir, "orders").join(cus,
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp_ntz"),
          lit("1997-12-31").cast("timestamp_ntz")))
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"),
          year(col("l_shipdate")).cast("long").as("l_year"))
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT supp_nation, cust_nation, l_year,
            |  CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            |        CAST(year(l_shipdate) AS BIGINT) AS l_year,
            |        l_extendedprice * (1 - l_discount) AS volume
            |      FROM lineitem
            |      JOIN supplier ON s_suppkey = l_suppkey
            |      JOIN orders ON o_orderkey = l_orderkey
            |      JOIN customer ON c_custkey = o_custkey
            |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
            |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
            |      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            |          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
            |        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
            |                           AND TIMESTAMP '1997-12-31')
            |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  // INCREMENTAL MATERIALIZED-VIEW MAINTENANCE (q88): the lakehouse
  // family's missing member — a per-part SUM/COUNT revenue view is
  // maintained by MERGING an insert batch's delta aggregates into the
  // stored view (TableOps.maintainAgg) instead of re-scanning the
  // fact history. The fixture splits lineitem deterministically
  // (l_orderkey % 10 == 0 is "the new batch"); the ORACLE COMPUTES
  // THE VIEW FROM THE FULL TABLE DIRECTLY, so the gate itself pins
  // maintained == recomputed (the l2_incremental_clusters pattern).
  // Exactness: counts are longs, sums are DECIMAL(18,6) per row and
  // exact under any association, so base + delta equals the one-pass
  // sum bit-for-bit; the final cast to double is one correctly-
  // rounded conversion on both engines. At 100 TB this is the whole
  // point of an MV: one aggregate over the batch + one view-sized
  // merge, fact history untouched.
  private val q88 = QueryDef(
    "q88_mv_maintain",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def mv(df: DataFrame) = df.groupBy("l_partkey").agg(
        count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast(DecimalType(18, 6))).as("qty"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("rev"))
      val stored = mv(li.filter(col("l_orderkey") % 10 =!= 0))
      val delta = mv(li.filter(col("l_orderkey") % 10 === 0))
      graft.ops.TableOps.maintainAgg(stored, delta, keys = Seq("l_partkey"))
        .select(col("l_partkey"), col("cnt"),
          col("qty").cast("double").as("qty"),
          col("rev").cast("double").as("rev"))
        .orderBy("l_partkey")
    },
    Some("""SELECT l_partkey, count(*) AS cnt,
            |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty,
            |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS rev
            |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  // EVENT TRANSITION MATRIX (q89): the user-journey Markov chain —
  // per user, events in (ts, event_id) total order yield (current,
  // next) type pairs via ONE lead window; the matrix aggregates pair
  // counts and conditions on the current type: P(next|cur) =
  // cnt/row_total. The matrix is |types|²-sized however long the log
  // grows; one user-keyed window exchange + one partial-aggregatable
  // count + a broadcast-sized row-total join. Counts exact; the
  // probability is one IEEE division rounded 6.
  private val q89 = QueryDef(
    "q89_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("cnt"))
      val totals = pairs.groupBy("cur").agg(sum("cnt").as("tot"))
      pairs.join(broadcast(totals), "cur")
        .select(col("cur"), col("nxt"), col("cnt"),
          round(col("cnt") / col("tot"), 6).as("p"))
        .orderBy("cur", "nxt")
    },
    Some("""WITH s AS (SELECT user_id, event_type,
            |    lead(event_type) OVER (PARTITION BY user_id
            |                           ORDER BY ts, event_id) AS nxt
            |  FROM events),
            |m AS (SELECT event_type AS cur, nxt, count(*) AS cnt
            |      FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
            |tt AS (SELECT cur, CAST(sum(cnt) AS BIGINT) AS tot FROM m GROUP BY 1)
            |SELECT m.cur, m.nxt, m.cnt, round(m.cnt / tt.tot, 6) AS p
            |FROM m JOIN tt ON tt.cur = m.cur
            |ORDER BY m.cur, nxt""".stripMargin))

  // TPC-H Q8 — NATIONAL MARKET SHARE (q90): of the STANDARD-part
  // revenue sold to EUROPE-region customers in 1995–1996, what share
  // came from NATION_3 suppliers, by order year? The conditional-
  // share aggregate the suite lacks: numerator and denominator are
  // BOTH DECIMAL-exact sums over the same joined rows (the CASE picks
  // rows into the numerator), so the share is one division of exact
  // values, round 6. Plan: p_type filter pushed to the part scan
  // (broadcast dim), region→nation→customer pre-filters the customer
  // chain to one region before the fact, supplier nation attaches as
  // a broadcast, order-date window on the orders scan.
  private val q90 = QueryDef(
    "q90_tpch_q8",
    (s, dir) => {
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val eurNations = nat.join(broadcast(reg),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val cus = t(s, dir, "customer").join(broadcast(eurNations),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").between(
          lit("1995-01-01").cast("timestamp_ntz"),
          lit("1996-12-31").cast("timestamp_ntz")))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val sup = t(s, dir, "supplier").join(
          broadcast(nat.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val prt = t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select("p_partkey")
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_year")
        .agg(dsum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0.0))).as("nation_rev"),
          dsum(vol).as("total_rev"))
        .select(col("o_year"),
          round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"),
          col("nation_rev"), col("total_rev"))
        .orderBy("o_year")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
            |  round(CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
            |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            |        AS DECIMAL(18,6))) AS DOUBLE)
            |      / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            |        AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share,
            |  CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
            |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            |        AS DECIMAL(18,6))) AS DOUBLE) AS nation_rev,
            |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            |        AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
            |FROM lineitem
            |JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
            |JOIN supplier ON s_suppkey = l_suppkey
            |JOIN nation n2 ON n2.n_nationkey = s_nationkey
            |JOIN orders ON o_orderkey = l_orderkey
            |JOIN customer ON c_custkey = o_custkey
            |JOIN nation n1 ON n1.n_nationkey = c_nationkey
            |JOIN region ON r_regionkey = n1.n_regionkey AND r_name = 'EUROPE'
            |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01'
            |                      AND TIMESTAMP '1996-12-31'
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  // TPC-H Q14 — PROMO REVENUE SHARE (q91): the one-row KPI — the
  // percentage of one month's revenue from PROMO-type parts. Same
  // conditional-share exactness as q90 (both sums DECIMAL-exact over
  // identical rows, one division, round 6, scaled ×100 the TPC-H
  // way); the month window rides the lineitem scan, the part dim
  // broadcasts.
  private val q91 = QueryDef(
    "q91_tpch_q14",
    (s, dir) => {
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .join(broadcast(t(s, dir, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(dsum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0)))
            .as("promo_rev"),
          dsum(vol).as("total_rev"))
        .select(
          round(lit(100.0) * col("promo_rev") / col("total_rev"), 6)
            .as("promo_share"),
          col("promo_rev"), col("total_rev"))
    },
    Some("""SELECT
            |  round(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
            |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            |      AS DECIMAL(18,6))) AS DOUBLE)
            |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            |      AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_share,
            |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
            |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            |      AS DECIMAL(18,6))) AS DOUBLE) AS promo_rev,
            |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            |      AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
            |FROM lineitem JOIN part ON p_partkey = l_partkey
            |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
            |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin))

  // JOIN-KEY SKEW PROFILE (q92): the scale-planning companion to
  // q33's salted aggregation — before shuffling 100 TB on a key, read
  // its skew. Per candidate join key (partkey / suppkey / orderkey):
  // row and distinct-key counts, the hottest key's frequency, the
  // top-1 and top-10 row shares, and the skew ratio max_freq /
  // (n_rows / n_keys) — the multiple of a perfectly uniform
  // partition the hottest key receives (>> 1 ⇒ salt or let AQE split
  // it). Each key costs one partial-aggregatable frequency count,
  // and ONE fused profile aggregate over it — a typed Aggregator
  // carrying (n_keys, max_f, n_rows) counters plus a bounded top-10
  // heap by (f desc, k asc), so stats AND the top-10 mass exit a
  // SINGLE freq pass: no cache, no second freq read, no window sort.
  // All exact integers; the three shares are rounded divisions. The
  // fact is read exactly once per key column — the I/O floor: three
  // single-column pruned parquet scans read the same bytes as one
  // three-column scan, and the fused-explode alternative (tried in
  // round 10) tripled the pre-aggregation row stream for a measured
  // 2× slowdown while saving zero bytes (docs/PERF.md).
  // This is the query that runs BEFORE a 100 TB shuffle; the round-9
  // shape cost 6 fact passes (freq recomputed per consumer), this
  // costs 3 with nothing cached.
  private case class SkewBuf(nKeys: Long, maxF: Long, nRows: Long,
                             top: Seq[(Long, Long)])
  private case class SkewOut(nKeys: Long, maxF: Long, nRows: Long, top10: Long)
  /** q92's fused per-key profile aggregate over (f, k) frequency rows:
    * exact counters + a bounded top-10 heap by (f desc, k asc) — the
    * merge is associative/commutative (counter sums, heap union +
    * re-trim), so the result is partition-order independent and
    * bit-equal to the sort-then-limit spelling the oracle uses. */
  private object SkewProfile extends Aggregator[(Long, Long), SkewBuf, SkewOut] {
    private val K = 10
    private val ord = Ordering.by[(Long, Long), (Long, Long)] {
      case (f, k) => (-f, k)
    }
    private def trim(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
      xs.sorted(ord).take(K)
    def zero: SkewBuf = SkewBuf(0L, 0L, 0L, Nil)
    def reduce(b: SkewBuf, a: (Long, Long)): SkewBuf =
      SkewBuf(b.nKeys + 1, math.max(b.maxF, a._1), b.nRows + a._1,
        trim(b.top :+ a))
    def merge(x: SkewBuf, y: SkewBuf): SkewBuf =
      SkewBuf(x.nKeys + y.nKeys, math.max(x.maxF, y.maxF),
        x.nRows + y.nRows, trim(x.top ++ y.top))
    def finish(b: SkewBuf): SkewOut =
      SkewOut(b.nKeys, b.maxF, b.nRows, b.top.map(_._1).sum)
    def bufferEncoder: Encoder[SkewBuf] = Encoders.product[SkewBuf]
    def outputEncoder: Encoder[SkewOut] = Encoders.product[SkewOut]
  }

  private val q92 = QueryDef(
    "q92_skew_profile",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val prof = udaf(SkewProfile)
      def profile(c: String): DataFrame =
        li.groupBy(col(c).as("k")).agg(count(lit(1)).as("f"))
          .agg(prof(col("f"), col("k")).as("p"))
          .select(lit(c).as("key_col"), col("p.nRows").as("n_rows"),
            col("p.nKeys").as("n_keys"), col("p.maxF").as("max_freq"),
            round(col("p.maxF") / col("p.nRows"), 6).as("top1_share"),
            round(col("p.top10") / col("p.nRows"), 6).as("top10_share"),
            round(col("p.maxF") * col("p.nKeys") / col("p.nRows"), 6)
              .as("skew_ratio"))
      Seq("l_partkey", "l_suppkey", "l_orderkey").map(profile)
        .reduce(_ union _).orderBy("key_col")
    },
    Some {
      val blocks = Seq("l_partkey", "l_suppkey", "l_orderkey").map { c =>
        s"""(SELECT '$c' AS key_col, n_rows, n_keys, max_freq,
           |   round(max_freq / n_rows, 6) AS top1_share,
           |   round(top10_rows / n_rows, 6) AS top10_share,
           |   round(max_freq * n_keys / n_rows, 6) AS skew_ratio
           | FROM (SELECT count(*) AS n_keys, max(f) AS max_freq,
           |              CAST(sum(f) AS BIGINT) AS n_rows
           |       FROM (SELECT $c AS k, count(*) AS f FROM lineitem GROUP BY 1)),
           |      (SELECT CAST(sum(f) AS BIGINT) AS top10_rows FROM
           |       (SELECT f FROM (SELECT $c AS k, count(*) AS f FROM lineitem GROUP BY 1)
           |        ORDER BY f DESC, k LIMIT 10)))""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""SELECT * FROM ($blocks) ORDER BY key_col""".stripMargin
    })

  // SKEW-MITIGATED JOIN (q94): the remediation q92's profile calls
  // for. lineitem joins supplier through
  // SkewTools.saltedJoinProfiled — the top-16 hottest supp keys (by a
  // q92-style frequency profile) are salted over 8 buckets on the
  // fact side while their dim rows replicate 8 ways; every cold key
  // joins once at salt 0, so the dim does NOT blow up 8×. The oracle
  // is the PLAIN join: the whole point is bit-equality — salting must
  // be invisible in the result. Revenue is dsum-exact (decimal
  // accumulate, double at the end) so aggregation order can't leak
  // the repartitioning. The aggregate AFTER the join keeps the oracle
  // row count at 25 nations; the join itself is fixture-row-sized.
  private val q94 = QueryDef(
    "q94_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_discount")
      val su = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.ops.SkewTools.saltedJoinProfiled(li, su, "l_suppkey",
          buckets = 8, topK = 16)
        .groupBy("s_nationkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT s_nationkey,
           |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
           |      AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           |  count(*) AS n_items
           |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
           |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin))

  // TPC-H Q17 SHAPE (q96): the correlated scalar-average — "revenue
  // lost to small orders": lineitem rows of one brand's parts whose
  // quantity sits under 0.2× that part's average quantity. The
  // decorrelation is ONE fact scan: the brand filter broadcasts into
  // the lineitem join, and the per-part average arrives as two window
  // aggregates over the part-key partition of the ALREADY-FILTERED
  // fact — never a per-row re-execution, never a second lineitem
  // pass. Exactness: l_quantity is integral-valued, so
  // q < 0.2·avg ⟺ 5·q·cnt < sum with every term an exact double —
  // the inequality is spelled identically in both engines (0.2·avg
  // itself would round). The fixture part table has no p_container;
  // the brand filter alone keeps Q17's selectivity shape.
  private val q96 = QueryDef(
    "q96_tpch_q17",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val pt = t(s, dir, "part").filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey").as("l_partkey"))
      val w = Window.partitionBy("l_partkey")
      li.join(broadcast(pt), "l_partkey")
        .withColumn("qsum", sum("l_quantity").over(w))
        .withColumn("qcnt", count(lit(1)).over(w))
        .filter(lit(5.0) * col("l_quantity") * col("qcnt") < col("qsum"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    },
    Some("""WITH f AS (
           |  SELECT l_quantity, l_extendedprice,
           |         sum(l_quantity) OVER (PARTITION BY l_partkey) AS qsum,
           |         count(*) OVER (PARTITION BY l_partkey) AS qcnt
           |  FROM lineitem JOIN part ON p_partkey = l_partkey
           |  WHERE p_brand = 'Brand#4')
           |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
           |    AS DOUBLE) / CAST(7.0 AS DOUBLE) AS avg_yearly
           |FROM f WHERE 5 * l_quantity * qcnt < qsum""".stripMargin))

  // TPC-H Q22 SHAPE (q97): NOT EXISTS anti-join + a global scalar
  // average over a substring-derived dimension — "wealthy dormant
  // customers by country code". The fixture customer table has no
  // c_phone, so the code is the last two digits of c_name (fixed
  // 18-char format), and since every fixture customer has SOME order,
  // "dormant" is no order since 2001-01-01 (the anti-join keeps Q22's
  // decorrelation shape; the date pins selectivity). The scalar
  // average is ONE division of exact terms — decimal-exact sum cast
  // to double over a bigint count — broadcast to the filter, so both
  // engines compare against the bit-identical double. One customer
  // scan for the average (aggregate-pruned), one for the candidates,
  // one date-pruned orders anti-join: nothing re-executes per row.
  private val q97 = QueryDef(
    "q97_tpch_q22",
    (s, dir) => {
      val codes = Seq("13", "31", "23", "29", "30", "18", "17")
      val cu = t(s, dir, "customer")
        .withColumn("cntrycode", substring(col("c_name"), 17, 2))
        .filter(col("cntrycode").isin(codes: _*))
        .select("c_custkey", "cntrycode", "c_acctbal")
      val bar = cu.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("bar"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp_ntz"))
        .select(col("o_custkey").as("c_custkey"))
      cu.crossJoin(broadcast(bar))
        .filter(col("c_acctbal") > col("bar"))
        .join(recent, Seq("c_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy("cntrycode")
    },
    Some("""WITH bar AS (
           |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
           |         / count(*) AS bar
           |  FROM customer
           |  WHERE c_acctbal > 0
           |    AND substring(c_name, 17, 2) IN ('13','31','23','29','30','18','17'))
           |SELECT substring(c_name, 17, 2) AS cntrycode, count(*) AS numcust,
           |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
           |FROM customer, bar
           |WHERE substring(c_name, 17, 2) IN ('13','31','23','29','30','18','17')
           |  AND c_acctbal > bar
           |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
           |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin))

  // INCREMENTAL DISTINCT-COUNT VIEW (q100): q88's missing aggregate —
  // COUNT DISTINCT is not self-maintainable (the merge needs the SET,
  // not a number), so the view stores a per-key HLL sketch
  // (TableOps.distinctSketch) and each ingest batch merges in with
  // one full-outer key join + a register-max union
  // (TableOps.maintainDistinct). Two gates, both deterministic
  // booleans (the q05/q34 pattern): (a) SPLIT INVARIANCE — the view
  // maintained along the date split estimates EXACTLY what the same
  // view maintained along an orderkey-parity split does: HLL
  // register state is set-determined (max per bucket), so batch
  // decomposition must be invisible. (A direct unsplit aggregate is
  // deliberately NOT the comparison: Datasketches keeps the
  // stream-order HIP estimator only until the first union, so
  // merged sketches read the composite estimate — comparing two
  // merged views pins the invariance that actually holds for
  // maintained state.) (b) the estimate sits within 5% of the true
  // distinct count (lgK=11 ⇒ ~2.3% expected at the fixture's ~11k
  // distinct orders per flag — genuinely dense-mode estimation, not
  // the sparse-exact fallback).
  private val q100 = QueryDef(
    "q100_mv_distinct",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_shipdate")
      def sk(part: DataFrame): DataFrame = graft.ops.TableOps
        .distinctSketch(part, Seq("l_returnflag"), "l_orderkey", lgK = 11)
      def view(a: DataFrame, b: DataFrame): DataFrame = graft.ops.TableOps
        .maintainDistinct(sk(a), sk(b), Seq("l_returnflag"))
      val cut = lit("2000-01-01").cast("timestamp_ntz")
      val byDate = view(li.filter(col("l_shipdate") < cut),
        li.filter(col("l_shipdate") >= cut))
      val byParity = view(li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct("l_orderkey").as("n_exact"))
      byDate.select(col("l_returnflag"),
          hll_sketch_estimate(col("sketch")).as("est_d"))
        .join(byParity.select(col("l_returnflag"),
          hll_sketch_estimate(col("sketch")).as("est_p")), "l_returnflag")
        .join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (col("est_d") === col("est_p")).as("split_invariant"),
          (abs(col("est_d") - col("n_exact")).cast("double") / col("n_exact")
            <= lit(0.05)).as("within_5pct"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact,
           |  true AS split_invariant, true AS within_5pct
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  // DATA-QUALITY CONSTRAINT SUITE (q101): the Deequ-style gate a
  // 100 TB ingest runs before publishing a partition
  // (ops.Constraints): five single-table constraints compile to ONE
  // fused aggregate pass over lineitem (conditional sums + one
  // distinct aggregate), the referential check is one left_anti
  // against the distinct orders keys — exact integer verdicts, so the
  // whole report replays bit-for-bit. bounded(l_discount) <= 0.05 is
  // deliberately VIOLATED by the fixture (discounts run to 0.1): a
  // suite whose every row passes would never exercise the fail path.
  // Output column is `rule` (not "constraint" — reserved in ANSI).
  private val q101 = QueryDef(
    "q101_dq_constraints",
    (s, dir) => {
      import graft.ops.Constraints._
      val li = t(s, dir, "lineitem")
      val single = check(li, Seq(
        NotNull("l_orderkey"),
        InSet("l_returnflag", Seq("A", "N", "R")),
        Bounded("l_quantity", 1, 50),
        Bounded("l_discount", 0, 0.05),
        Unique(Seq("l_orderkey", "l_linenumber"))))
      val fk = checkForeignKey(li, Seq("l_orderkey"),
        t(s, dir, "orders"), Seq("o_orderkey"))
      single.unionByName(fk)
        .withColumnRenamed("constraint", "rule")
        .orderBy("rule")
    },
    Some("""WITH v AS (
           |  SELECT 'not_null(l_orderkey)' AS rule,
           |    CAST(count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT)
           |      AS n_violations FROM lineitem
           |  UNION ALL SELECT 'in_set(l_returnflag)',
           |    CAST(count(CASE WHEN l_returnflag IS NULL
           |      OR l_returnflag NOT IN ('A','N','R') THEN 1 END) AS BIGINT)
           |    FROM lineitem
           |  UNION ALL SELECT 'bounded(l_quantity)',
           |    CAST(count(CASE WHEN l_quantity IS NULL OR l_quantity < 1
           |      OR l_quantity > 50 THEN 1 END) AS BIGINT) FROM lineitem
           |  UNION ALL SELECT 'bounded(l_discount)',
           |    CAST(count(CASE WHEN l_discount IS NULL OR l_discount < 0
           |      OR l_discount > 0.05 THEN 1 END) AS BIGINT) FROM lineitem
           |  UNION ALL SELECT 'unique(l_orderkey,l_linenumber)',
           |    CAST(count(*) - count(DISTINCT CASE
           |        WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
           |        THEN (l_orderkey, l_linenumber) END)
           |      AS BIGINT) FROM lineitem
           |  UNION ALL SELECT 'foreign_key(l_orderkey)',
           |    CAST((SELECT count(*) FROM lineitem l
           |          LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           |            ON l.l_orderkey = o.o_orderkey
           |          WHERE o.o_orderkey IS NULL) AS BIGINT))
           |SELECT rule, n_violations, n_violations = 0 AS pass
           |FROM v ORDER BY rule""".stripMargin))

  // MARKETING ATTRIBUTION (q102): per purchase, the first-touch and
  // last-touch click in the trailing 7-day window plus the click
  // count — the multi-touch attribution read every events pipeline
  // ships (first/last timestamps stand for the campaign touchpoints;
  // an id lookup is one extra as-of join, the q12 pattern). ONE
  // user-keyed exchange + one RANGE-frame window pass over the
  // epoch-seconds order (the q71 trailing-window discipline — never a
  // purchases×clicks self-join, which explodes on active users);
  // conditional min/max/count skip non-click peers row-locally. The
  // frame is value-based, so clicks in the purchase's same second
  // attribute (documented; both engines share the bound). All exact:
  // timestamps and integer counts.
  private val q102 = QueryDef(
    "q102_attribution",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          // NTZ has no direct long cast; session tz is UTC, so the
          // LTZ hop reads the same wall clock as DuckDB's epoch(ts)
          col("ts").cast("timestamp").cast("long").as("tsn"))
      val w = Window.partitionBy("user_id").orderBy("tsn")
        .rangeBetween(-7L * 86400, 0)
      val click = col("event_type") === "click"
      ev.withColumn("n_clicks_attr", count(when(click, 1)).over(w))
        .withColumn("first_click_ts", min(when(click, col("ts"))).over(w))
        .withColumn("last_click_ts", max(when(click, col("ts"))).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "n_clicks_attr",
          "first_click_ts", "last_click_ts")
        .orderBy("event_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, ts,
           |            CAST(epoch(ts) AS BIGINT) AS tsn FROM events),
           |a AS (SELECT event_id, user_id, event_type, ts,
           |  count(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS n_clicks_attr,
           |  min(CASE WHEN event_type = 'click' THEN ts END) OVER w AS first_click_ts,
           |  max(CASE WHEN event_type = 'click' THEN ts END) OVER w AS last_click_ts
           |  FROM e
           |  WINDOW w AS (PARTITION BY user_id ORDER BY tsn
           |               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW))
           |SELECT event_id, user_id, ts, n_clicks_attr,
           |       first_click_ts, last_click_ts
           |FROM a WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin))

  // INCREMENTAL ZONE-MAP MAINTENANCE (q103): q83 measures what zone
  // maps save; this keeps them CURRENT as batches land —
  // fixed-width l_orderkey chunks carry (shipdate, price) min/max
  // envelopes + row counts, the pre-2000 view merges the post-2000
  // batch's chunk aggregates through TableOps.maintainZoneMap (one
  // full-outer chunk join; least/greatest skip the missing side,
  // counts zero-fill). The ORACLE is the full recompute, so the gate
  // itself pins maintained == rebuilt (the q88/l2_incremental
  // convention). Chunk width is a CONSTANT (256 keys) — maintenance
  // needs stable chunk ids across batches, unlike q83's
  // envelope-derived width. All exact: timestamp/double min-max are
  // picks, counts integers.
  private val q103 = QueryDef(
    "q103_zonemap_maintain",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
      def zm(df: DataFrame): DataFrame =
        df.groupBy(expr("l_orderkey div 256").as("chunk"))
          .agg(min("l_shipdate").as("mn_ship"), max("l_shipdate").as("mx_ship"),
            min("l_extendedprice").as("mn_price"),
            max("l_extendedprice").as("mx_price"),
            count(lit(1)).as("n_rows"))
      val cut = lit("2000-01-01").cast("timestamp_ntz")
      graft.ops.TableOps.maintainZoneMap(
          zm(li.filter(col("l_shipdate") < cut)),
          zm(li.filter(col("l_shipdate") >= cut)),
          keys = Seq("chunk"),
          minCols = Seq("mn_ship", "mn_price"),
          maxCols = Seq("mx_ship", "mx_price"),
          sumCols = Seq("n_rows"))
        .orderBy("chunk")
    },
    Some("""SELECT l_orderkey // 256 AS chunk,
           |  min(l_shipdate) AS mn_ship, max(l_shipdate) AS mx_ship,
           |  min(l_extendedprice) AS mn_price, max(l_extendedprice) AS mx_price,
           |  count(*) AS n_rows
           |FROM lineitem GROUP BY chunk ORDER BY chunk""".stripMargin))

  // INCREMENTAL JOIN-VIEW MAINTENANCE (q104): the missing member of
  // the incremental-view family (sums q88, distincts q100, envelopes
  // q103) — a real pipeline's silver table is a JOINED view, and
  // keeping it current under insert batches needs the delta algebra
  // Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (TableOps.maintainJoin; A/B are
  // the PRE-batch snapshots). Both sides take a batch here: orders
  // split on o_orderdate, lineitem on l_shipdate — four disjoint
  // quadrants whose delta joins reconstruct every cross pair, so the
  // ORACLE IS THE FULL RECOMPUTE (the q88/q103 convention): the gate
  // itself pins maintained == rebuilt, multiset semantics included
  // (1:N join multiplicities ride the unionByName untouched). Scale:
  // three batch-sided joins, base tables probed but never joined
  // against each other — the plan contract counts exactly four joins
  // (initial view build + three delta joins) and pins the split
  // predicates at the delta scans.
  private val q104 = QueryDef(
    "q104_mv_join",
    (s, dir) => {
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      val (a, da) = MaintKit.split(ord, "o_orderdate", MaintKit.orderCutDay)
      val (b, db) = MaintKit.split(li, "l_shipdate", MaintKit.cutDay)
      val viewCols = Seq("l_orderkey", "l_linenumber", "l_extendedprice",
        "o_totalprice")
      val mv0 = a.join(b, Seq("l_orderkey")).select(viewCols.map(col): _*)
      // (l_orderkey, l_linenumber) is NOT unique in the fixture
      // (~14k duplicate keys at sf0.01) — the price column makes the
      // output order total (full-tuple duplicates tie harmlessly)
      graft.ops.TableOps.maintainJoin(mv0, a, da, b, db, Seq("l_orderkey"))
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice
           |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
           |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin))

  // The fixture has no partsupp table; the TPC-H Q2/Q11/Q16 shapes
  // below derive one from lineitem — per (partkey, suppkey) the
  // minimum observed price stands in for ps_supplycost. min is a
  // PICK (no arithmetic), so the derived column is engine-exact and
  // the oracle spells the identical CTE.
  private def psDerived(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("p_partkey"), col("l_suppkey").as("s_suppkey"))
      .agg(min("l_extendedprice").as("ps_supplycost"))

  private val psDerivedSql =
    """ps AS (SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
      |       min(l_extendedprice) AS ps_supplycost
      |       FROM lineitem GROUP BY 1, 2)""".stripMargin

  // TPC-H Q2 SHAPE (q105): minimum-cost supplier — the correlated
  // MIN across a 4-dim join chain. Decorrelation is ONE pass over the
  // region-filtered candidate set: part filter and the
  // region→nation→supplier chain broadcast into the derived-partsupp
  // join, then the per-part minimum arrives as a window MIN over the
  // ALREADY-FILTERED candidates (the q96 discipline — Q2's correlated
  // subquery ranges over the same region-filtered partsupp, so the
  // window partition IS the correlation). Cost equality is a pick ==
  // pick — exact doubles, no rounding contract. Top-100 by account
  // balance; (s_acctbal desc, n_name, s_name, p_partkey) is total
  // (s_name is unique, partkey distinct within a supplier's rows).
  private val q105 = QueryDef(
    "q105_tpch_q2",
    (s, dir) => {
      val pt = t(s, dir, "part")
        .filter(col("p_type") === "STANDARD" && col("p_size") <= 25)
        .select("p_partkey")
      val su = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
      val na = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      val re = t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .select("r_regionkey")
      val cand = psDerived(s, dir)
        .join(broadcast(pt), "p_partkey")
        .join(broadcast(su.join(na, col("s_nationkey") === col("n_nationkey"))
          .join(re, col("n_regionkey") === col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")), "s_suppkey")
      val w = Window.partitionBy("p_partkey")
      cand.withColumn("mincost", min("ps_supplycost").over(w))
        .filter(col("ps_supplycost") === col("mincost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "ps_supplycost")
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    Some(s"""WITH $psDerivedSql,
            |eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name
            |        FROM supplier JOIN nation ON n_nationkey = s_nationkey
            |        JOIN region ON r_regionkey = n_regionkey
            |        WHERE r_name = 'EUROPE')
            |SELECT s_acctbal, s_name, n_name, p.p_partkey, ps_supplycost
            |FROM ps JOIN part p ON p.p_partkey = ps.p_partkey
            |JOIN eur ON eur.s_suppkey = ps.s_suppkey
            |WHERE p_type = 'STANDARD' AND p_size <= 25
            |  AND ps_supplycost = (
            |    SELECT min(ps2.ps_supplycost)
            |    FROM ps ps2 JOIN eur e2 ON e2.s_suppkey = ps2.s_suppkey
            |    WHERE ps2.p_partkey = p.p_partkey)
            |ORDER BY s_acctbal DESC, n_name, s_name, p.p_partkey
            |LIMIT 100""".stripMargin))

  // TPC-H Q11 SHAPE (q106): important-stock — per-part value with a
  // HAVING against a GLOBAL scalar aggregate. The fact is read ONCE:
  // per-part values stay DECIMAL in the view, and the grand total is
  // the sum of the group sums (decimal addition is exact and
  // associative, so it equals the all-rows total bit-for-bit) — the
  // total's aggregate subtree is identical to the value view's, so
  // Catalyst plans a ReusedExchange instead of a second fact scan
  // (contract-pinned). The scalar rides a broadcast crossJoin into
  // the filter; the threshold total × 1e-4 is one IEEE product both
  // engines compute identically from identical doubles.
  private val q106 = QueryDef(
    "q106_tpch_q11",
    (s, dir) => {
      val asia = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey").as("l_suppkey"))
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(asia), "l_suppkey")
      val valueDec = li.groupBy("l_partkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("vdec"))
      val value = valueDec
        .select(col("l_partkey"), col("vdec").cast("double").as("value"))
      val total = valueDec.agg(sum("vdec").cast("double").as("total"))
      value.crossJoin(broadcast(total))
        .filter(col("value") > col("total") * lit(1e-4))
        .select("l_partkey", "value")
        .orderBy(col("value").desc, col("l_partkey"))
    },
    Some(s"""WITH asia AS (SELECT s_suppkey FROM supplier
            |  JOIN nation ON n_nationkey = s_nationkey
            |  JOIN region ON r_regionkey = n_regionkey
            |  WHERE r_name = 'ASIA'),
            |f AS (SELECT l_partkey,
            |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS v
            |      FROM lineitem JOIN asia ON s_suppkey = l_suppkey),
            |tot AS (SELECT CAST(SUM(v) AS DOUBLE) AS total FROM f)
            |SELECT l_partkey, CAST(SUM(v) AS DOUBLE) AS value
            |FROM f, tot GROUP BY l_partkey, total
            |HAVING CAST(SUM(v) AS DOUBLE) > total * 1e-4
            |ORDER BY value DESC, l_partkey""".stripMargin))

  // TPC-H Q15 SHAPE (q107): top supplier — an aggregate VIEW compared
  // against its own MAX. The revenue view is one date-pruned fact
  // aggregate; the max is a 1-row aggregate over the view broadcast
  // back as an equality filter (Q15's correlated `= (SELECT max …)`
  // decorrelated). Revenue is a decimal-exact sum cast to double, so
  // the max-equality is bit-exact in both engines — the classic
  // "floating-point HAVING =" trap never arises.
  private val q107 = QueryDef(
    "q107_tpch_q15",
    (s, dir) => {
      val lo = lit("1999-01-01").cast("timestamp_ntz")
      val hi = lit("1999-04-01").cast("timestamp_ntz")
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue"))
      val top = rev.agg(max("total_revenue").as("maxrev"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_revenue") === col("maxrev"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_name"), "s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    },
    Some("""WITH rev AS (
           |  SELECT l_suppkey AS s_suppkey,
           |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
           |        AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
           |    AND l_shipdate < TIMESTAMP '1999-04-01'
           |  GROUP BY l_suppkey)
           |SELECT rev.s_suppkey, s_name, total_revenue
           |FROM rev JOIN supplier ON supplier.s_suppkey = rev.s_suppkey
           |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
           |ORDER BY rev.s_suppkey""".stripMargin))

  // TPC-H Q16 SHAPE (q108): supplier count by part attributes — a
  // DISTINCT count over the derived partsupp with a NOT-IN exclusion
  // (suppliers "with complaints" stand in as negative account
  // balance; the fixture has no s_comment). The exclusion is a
  // broadcast left_anti against the handful of flagged suppliers
  // (Q16's NOT IN decorrelates to exactly this), the part filters
  // push to the part scan, and the distinct aggregate shuffles once
  // on the (brand, type, size) group key. All-integer verdicts.
  private val q108 = QueryDef(
    "q108_tpch_q16",
    (s, dir) => {
      val pt = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#45" &&
          !col("p_type").startsWith("MEDIUM") &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val flagged = t(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
        .select("s_suppkey")
      psDerived(s, dir)
        .join(broadcast(pt), "p_partkey")
        .join(broadcast(flagged), Seq("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("s_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some(s"""WITH $psDerivedSql
            |SELECT p_brand, p_type, p_size,
            |       count(DISTINCT s_suppkey) AS supplier_cnt
            |FROM ps JOIN part ON part.p_partkey = ps.p_partkey
            |WHERE p_brand <> 'Brand#45'
            |  AND p_type NOT LIKE 'MEDIUM%'
            |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
            |  AND s_suppkey NOT IN (
            |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            |GROUP BY p_brand, p_type, p_size
            |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin))

  // CLUSTERING-DEPTH HEALTH METRIC (q109): q83 measures what a layout
  // SAVES on one probe query; this measures how far the layout itself
  // has drifted — Layout.clusteringDepth runs the boundary sweep over
  // each layout's per-chunk l_partkey envelopes (+1 at mn, −1 at mx,
  // starts-first on ties so touching closed intervals overlap; a
  // running sum reads the depth at every chunk start). The OPTIMIZE
  // trigger a lakehouse table needs once q103-maintained zone maps
  // loosen. Same chunking scaffold as q83 (morton-ranked vs natural
  // order, 257 fixed-width chunks each); the z-order layout's partkey
  // envelopes overlap shallowly, the natural layout's span the whole
  // domain so every chunk overlaps every other (depth ≈ n_chunks) —
  // the contrast IS the metric's point. Output: exact integers only
  // (sum and max of the sweep are permutation-invariant under tied
  // positions; avg = sum_start_depth / n_chunks left undivided).
  private val q109 = QueryDef(
    "q109_clustering_depth",
    (s, dir) => {
      val z = graft.ops.Layout.mortonKey(
        col("l_partkey") % 65536, col("l_suppkey") % 65536)
      val k = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), z.as("zkey"))
      val env = broadcast(k.agg(
        expr("max(zkey) div 256 + 1").as("wz"),
        expr("max(l_orderkey) div 256 + 1").as("wo")))
      val ch = k.crossJoin(env).select(
        expr("zkey div wz").as("chz"),
        expr("l_orderkey div wo").as("cho"),
        col("l_partkey"))
      def zones(chunkCol: String) =
        ch.groupBy(col(chunkCol).as("chunk"))
          .agg(min("l_partkey").as("mn_p"), max("l_partkey").as("mx_p"))
      def row(name: String, chunkCol: String) =
        graft.ops.Layout.clusteringDepth(zones(chunkCol), "mn_p", "mx_p")
          .select(lit(name).as("layout"), col("n_chunks"),
            col("sum_start_depth"), col("max_depth"))
      row("natural", "cho").unionByName(row("zorder", "chz"))
        .orderBy("layout")
    },
    Some("""WITH b AS (SELECT l_orderkey, l_partkey,
           |                 l_partkey % 65536 AS x, l_suppkey % 65536 AS y
           |          FROM lineitem),
           |s1 AS (SELECT *, ((x | (x << 8)) & 16711935) AS xa,
           |                 ((y | (y << 8)) & 16711935) AS ya FROM b),
           |s2 AS (SELECT *, ((xa | (xa << 4)) & 252645135) AS xb,
           |                 ((ya | (ya << 4)) & 252645135) AS yb FROM s1),
           |s3 AS (SELECT *, ((xb | (xb << 2)) & 858993459) AS xc,
           |                 ((yb | (yb << 2)) & 858993459) AS yc FROM s2),
           |s4 AS (SELECT *, ((xc | (xc << 1)) & 1431655765) AS xs,
           |                 ((yc | (yc << 1)) & 1431655765) AS ys FROM s3),
           |k AS (SELECT l_orderkey, l_partkey, (xs | (ys << 1)) AS zkey FROM s4),
           |env AS (SELECT max(zkey) // 256 + 1 AS wz,
           |               max(l_orderkey) // 256 + 1 AS wo FROM k),
           |ch AS (SELECT zkey // (SELECT wz FROM env) AS chz,
           |              l_orderkey // (SELECT wo FROM env) AS cho,
           |              l_partkey FROM k),
           |zz AS (SELECT chz AS chunk, min(l_partkey) AS mn_p,
           |              max(l_partkey) AS mx_p FROM ch GROUP BY 1),
           |zn AS (SELECT cho AS chunk, min(l_partkey) AS mn_p,
           |              max(l_partkey) AS mx_p FROM ch GROUP BY 1),
           |evz AS (SELECT mn_p AS pos, 1 AS d FROM zz
           |        UNION ALL SELECT mx_p, -1 FROM zz),
           |evn AS (SELECT mn_p AS pos, 1 AS d FROM zn
           |        UNION ALL SELECT mx_p, -1 FROM zn),
           |dz AS (SELECT d, CAST(SUM(d) OVER (ORDER BY pos, d DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |       AS BIGINT) AS depth FROM evz),
           |dn AS (SELECT d, CAST(SUM(d) OVER (ORDER BY pos, d DESC
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |       AS BIGINT) AS depth FROM evn)
           |SELECT 'natural' AS layout, count(*) AS n_chunks,
           |       CAST(sum(depth) AS BIGINT) AS sum_start_depth,
           |       max(depth) AS max_depth FROM dn WHERE d = 1
           |UNION ALL
           |SELECT 'zorder', count(*), CAST(sum(depth) AS BIGINT),
           |       max(depth) FROM dz WHERE d = 1
           |ORDER BY layout""".stripMargin))

  // COUNTED JOIN-VIEW MAINTENANCE WITH DELETES (q110): q104 ships the
  // insert-only delta algebra and documents deletes as needing
  // counted multisets — this is that algebra (DBSP / differential
  // dataflow Z-sets, TableOps.joinDeltaCounted): every row carries a
  // signed multiplicity, the delta join multiplies them, and
  // consolidation sums per view row with zero-counts vanishing.
  // Batches here carry BOTH inserts and deletes on BOTH sides
  // (orders: post-cut inserts + every 7th pre-cut key deleted;
  // lineitem: post-cut inserts + every 5th pre-cut suppkey deleted).
  // The ORACLE is the full recompute over the POST-delete snapshots
  // with count(*) as the view multiplicity — the gate pins
  // maintained == rebuilt under deletes, the q104 convention
  // extended. All exact integers.
  private val q110 = QueryDef(
    "q110_mv_join_delete",
    (s, dir) => {
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey",
          "l_extendedprice", "l_shipdate")
      val (a, da, b, db) = joinSides(ord, li)
      val viewCols = Seq("l_orderkey", "l_linenumber", "l_extendedprice",
        "o_totalprice")
      val mv0 = graft.ops.TableOps.consolidate(
        a.withColumnRenamed("_mult", "_ml")
          .join(b.withColumnRenamed("_mult", "_mr"), Seq("l_orderkey"))
          .select(viewCols.map(col) :+ (col("_ml") * col("_mr")).as("_mult"): _*),
        viewCols)
      graft.ops.TableOps.maintainJoinCounted(mv0, a, da, b, db,
          Seq("l_orderkey"))
        .withColumnRenamed("_mult", "mult")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    },
    Some(s"""WITH ${joinSidesSql("o_totalprice", "l_orderkey, l_linenumber, l_extendedprice")}
           |SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice,
           |       count(*) AS mult
           |FROM bf JOIN af USING (l_orderkey)
           |GROUP BY l_orderkey, l_linenumber, l_extendedprice, o_totalprice
           |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin))

  // TPC-H Q4 SHAPE (q111): order-priority checking — the classic
  // EXISTS decorrelation. The correlated predicate references BOTH
  // tables (l_shipdate > o_orderdate + 30 days — the fixture's
  // late-shipment proxy; it has no commit/receipt dates), so the
  // EXISTS becomes a LEFT SEMI join carrying the cross-table
  // inequality alongside the orderkey equi-key: each order counts
  // once no matter how many late lines it has (semi, not inner —
  // THE Q4 trap). The quarter window prunes the orders scan; the
  // semi join shuffles once on orderkey. All-integer counts.
  private val q111 = QueryDef(
    "q111_tpch_q4",
    (s, dir) => {
      val lo = lit("1997-07-01").cast("timestamp_ntz")
      val hi = lit("1997-10-01").cast("timestamp_ntz")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
           |  AND o_orderdate < TIMESTAMP '1997-10-01'
           |  AND EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_orderkey = o_orderkey
           |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin))

  // TPC-H Q6 SHAPE (q112): forecast-revenue change — the simplest
  // query in the suite and the purest pushdown test: every predicate
  // (date window, discount band, quantity cap) must reach the parquet
  // scan, and the whole plan is scan → partial agg → 1-row final agg.
  // No join, no window, ONE exchange of 32 partial rows. Revenue sums
  // through DECIMAL(18,6) (dsum) so partitioning never moves a bit.
  private val q112 = QueryDef(
    "q112_tpch_q6",
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount
           |         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           |  AND l_shipdate < TIMESTAMP '1998-01-01'
           |  AND l_discount BETWEEN 0.05 AND 0.07
           |  AND l_quantity < 24""".stripMargin))

  // TPC-H Q9 SHAPE (q113): product-type profit by nation and year —
  // the widest join tree in the suite (fact × derived-partsupp ×
  // part × supplier×nation × orders). The part filter (name contains
  // "gear") broadcasts into the derived partsupp BEFORE the fact
  // probes it, the supplier→nation map broadcasts, and only the
  // orders join (orderkey, for the year) shuffles fact-sized rows.
  // amount = price×(1−disc) − supplycost×qty is per-row IEEE
  // arithmetic over identically-stored doubles (supplycost is the
  // q105 min-pick — exact), summed through DECIMAL(18,6).
  private val q113 = QueryDef(
    "q113_tpch_q9",
    (s, dir) => {
      val pt = t(s, dir, "part").filter(col("p_name").contains("gear"))
        .select("p_partkey")
      val sn = t(s, dir, "supplier")
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("_snk"), col("n_name").as("nation"))
      val psf = psDerived(s, dir).join(broadcast(pt), "p_partkey")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year"))
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        col("ps_supplycost") * col("l_quantity")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        .join(psf, col("l_partkey") === col("p_partkey") &&
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(sn), col("l_suppkey") === col("_snk"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(dsum(amount).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some(s"""WITH $psDerivedSql
            |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
            |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
            |      - ps_supplycost * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
            |    AS sum_profit
            |FROM lineitem
            |JOIN ps ON ps.p_partkey = l_partkey AND ps.s_suppkey = l_suppkey
            |JOIN part ON part.p_partkey = l_partkey
            |JOIN supplier ON supplier.s_suppkey = l_suppkey
            |JOIN nation ON n_nationkey = s_nationkey
            |JOIN orders ON o_orderkey = l_orderkey
            |WHERE p_name LIKE '%gear%'
            |GROUP BY 1, 2
            |ORDER BY nation, o_year DESC""".stripMargin))

  // TPC-H Q12 SHAPE (q114): shipping-mode priority counts — the
  // CASE-count aggregate over an orders⋈lineitem join. The fixture
  // has no l_shipmode/commitdate/receiptdate: l_returnflag stands in
  // as the mode column and "shipped ≥30 days after ordering" as the
  // late predicate (cross-table inequality in the WHERE, like Q12's
  // commit<receipt chain). Both CASE arms are integer counts off ONE
  // pass — the high/low split never rescans. The ship-year window
  // and mode IN-list push to the lineitem scan.
  private val q114 = QueryDef(
    "q114_tpch_q12",
    (s, dir) => {
      val pri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val l = t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
      t(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_returnflag").as("shipmode"))
        .agg(sum(when(pri, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(pri, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("shipmode")
    },
    Some("""SELECT l_returnflag AS shipmode,
           |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
           |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
           |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
           |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE l_returnflag IN ('A','R')
           |  AND l_shipdate >= TIMESTAMP '1997-01-01'
           |  AND l_shipdate < TIMESTAMP '1998-01-01'
           |  AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
           |GROUP BY 1
           |ORDER BY shipmode""".stripMargin))

  // TPC-H Q13 SHAPE (q115): customer order-count distribution — the
  // LEFT OUTER whose filter lives in the JOIN CONDITION, not the
  // WHERE (the Q13 trap: a WHERE filter would erase the zero-order
  // customers the query exists to count; the fixture's priority
  // exclusion stands in for the o_comment NOT LIKE). Two aggregates:
  // per-customer order counts (custkey shuffle), then the
  // count-of-counts (a few-hundred-group shuffle of already-tiny
  // rows). COUNT(o_orderkey) skips the outer-join nulls in both
  // engines. All-integer verdicts.
  private val q115 = QueryDef(
    "q115_tpch_q13",
    (s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey",
        "o_orderpriority")
      t(s, dir, "customer").select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "5-LOW", "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist
           |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
           |      FROM customer LEFT OUTER JOIN orders
           |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
           |      GROUP BY c_custkey)
           |GROUP BY c_count
           |ORDER BY custdist DESC, c_count DESC""".stripMargin))

  // TPC-H Q20 SHAPE (q116): potential part promotion — the nested
  // IN/EXISTS chain, decorrelated into a semi-join pyramid. The
  // fixture derives Q20's partsupp quantities from lineitem itself:
  // availqty = pre-1997 shipped quantity (stock proxy), demand = 1997
  // shipped quantity — DISJOINT windows, so the threshold test
  // (avail > ½·demand) is non-vacuous. Both sums stay DECIMAL(18,6)
  // and the ½ comparison is spelled 2·avail > demand — exact integer
  // scaling, no float boundary. The part-name filter broadcasts into
  // the stock aggregate; the qualifying (part,supp) pairs collapse to
  // supplier keys through a LEFT SEMI (Q20's outer IN), and the
  // two-nation filter prunes the supplier scan. Empty-demand groups
  // drop on the inner join — exactly the correlated scalar subquery's
  // NULL-comparison semantics.
  private val q116 = QueryDef(
    "q116_tpch_q20",
    (s, dir) => {
      val cut = lit("1997-01-01").cast("timestamp_ntz")
      val hi = lit("1998-01-01").cast("timestamp_ntz")
      val pt = t(s, dir, "part").filter(col("p_name").startsWith("small"))
        .select("p_partkey")
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      val avail = li.filter(col("l_shipdate") < cut)
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).as("availqty"))
      val dem = li.filter(col("l_shipdate") >= cut && col("l_shipdate") < hi)
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 6))).as("q97"))
      val hit = avail.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(dem, Seq("l_partkey", "l_suppkey"))
        .filter(col("availqty") * 2 > col("q97"))
        .select(col("l_suppkey").as("s_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_7"))
          .select("n_nationkey")), col("s_nationkey") === col("n_nationkey"))
        .join(hit, Seq("s_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name", "s_acctbal")
    },
    Some("""WITH avail AS (
           |  SELECT l_partkey, l_suppkey,
           |         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS availqty
           |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
           |  GROUP BY 1, 2),
           |dem AS (
           |  SELECT l_partkey, l_suppkey,
           |         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS q97
           |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           |    AND l_shipdate < TIMESTAMP '1998-01-01'
           |  GROUP BY 1, 2)
           |SELECT s_name, s_acctbal
           |FROM supplier JOIN nation ON n_nationkey = s_nationkey
           |WHERE n_name IN ('NATION_3', 'NATION_7')
           |  AND s_suppkey IN (
           |    SELECT avail.l_suppkey FROM avail
           |    WHERE avail.l_partkey IN
           |        (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
           |      AND EXISTS (SELECT 1 FROM dem
           |                  WHERE dem.l_partkey = avail.l_partkey
           |                    AND dem.l_suppkey = avail.l_suppkey
           |                    AND 2 * avail.availqty > dem.q97))
           |ORDER BY s_name, s_acctbal""".stripMargin))

  // COUNTED AGGREGATE-VIEW MAINTENANCE WITH DELETES (q117): q88/q103
  // maintain SUM/COUNT views insert-only; q110 closed deletes for
  // JOIN views — this closes them for the AGGREGATE family
  // (TableOps.maintainAggCounted). SUM and COUNT are LINEAR, so a
  // signed batch (post-cut inserts +1, every-7th-orderkey pre-cut
  // deletes −1) updates the view as Σ mult·value / Σ mult through one
  // batch aggregate + one view-sized full-outer merge; a group whose
  // count reaches zero VANISHES. The ORACLE is the full recompute
  // over the post-delete snapshot (the q110 convention). Quantities
  // sum in DECIMAL(18,6) end-to-end — maintained == rebuilt
  // bit-for-bit — and only the final column casts to double.
  private val q117 = QueryDef(
    "q117_mv_agg_delete",
    (s, dir) => {
      val (pre, batch) = signedBatch(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_quantity").cast(DecimalType(18, 6)).as("sum_qty")))
      val mv0 = pre.groupBy("l_suppkey")
        .agg(sum("sum_qty").as("sum_qty"), count(lit(1)).as("cnt"))
      graft.ops.TableOps.maintainAggCounted(mv0, batch, Seq("l_suppkey"),
          Seq("sum_qty"), "cnt")
        .select(col("l_suppkey"), col("sum_qty").cast("double").as("sum_qty"),
          col("cnt"))
        .orderBy("l_suppkey")
    },
    Some(s"""SELECT l_suppkey,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           |  count(*) AS cnt
           |FROM lineitem
           |WHERE ${postDeleteWhere()}
           |GROUP BY l_suppkey
           |ORDER BY l_suppkey""".stripMargin))

  // MIN/MAX-VIEW MAINTENANCE WITH DELETES (q118): the auxiliary-
  // structure variant q117 documents — min/max are not linear, so the
  // maintained object is the counted VALUE MULTISET per key
  // (TableOps.maintainValueCounts: the Z-set algebra with the value
  // lifted into the group key), and readMinMax recovers the exact
  // extrema after ANY delete pattern, runner-up promotion included —
  // unlike insert-only maintainZoneMap, whose envelopes go stale
  // under deletes. Same signed batch as q117 (post-cut inserts,
  // every-7th-orderkey pre-cut deletes); ORACLE = the full recompute
  // over the post-delete snapshot. The same aux also answers EXACT
  // per-key COUNT DISTINCT (its row count — the aggregate q100's HLL
  // sketches can only approximate and can never unmerge a delete
  // from). min/max are PICKS of stored doubles (exact), cnt and
  // n_distinct integers — all engine-exact.
  private val q118 = QueryDef(
    "q118_mv_minmax_delete",
    (s, dir) => {
      val (pre, batch) = signedBatch(t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice"))
      val aux0 = pre.groupBy("l_suppkey", "l_extendedprice")
        .agg(count(lit(1)).as("cnt"))
      val aux = graft.ops.TableOps.maintainValueCounts(aux0, batch,
        Seq("l_suppkey"), "l_extendedprice")
      graft.ops.TableOps.readMinMax(aux, Seq("l_suppkey"), "l_extendedprice",
          distinctCol = Some("n_distinct"))
        .select(col("l_suppkey"),
          col("mn_l_extendedprice").as("mn_price"),
          col("mx_l_extendedprice").as("mx_price"), col("cnt"),
          col("n_distinct"))
        .orderBy("l_suppkey")
    },
    Some(s"""SELECT l_suppkey, min(l_extendedprice) AS mn_price,
           |       max(l_extendedprice) AS mx_price, count(*) AS cnt,
           |       count(DISTINCT l_extendedprice) AS n_distinct
           |FROM lineitem
           |WHERE ${postDeleteWhere()}
           |GROUP BY l_suppkey
           |ORDER BY l_suppkey""".stripMargin))

  // EXACT ORDER-STATISTIC VIEW UNDER DELETES (q119): the full payoff
  // of q118's counted value multiset — ANY discrete quantile read
  // exactly off the maintained aux (TableOps.readQuantile), where
  // sketch quantiles (t-digest/KLL) drift and insert-only digests
  // cannot unmerge a delete. Same signed batch as q117/q118; the read
  // finds each key's MEDIAN (1-based position ceil(0.5·n) of the
  // sorted multiset — a PICK of a stored double, engine-exact; the
  // position arithmetic is DECIMAL) with one value-ordered cumulative
  // window over the aux. ORACLE = positional median over the
  // post-delete snapshot via row_number. Aux-sized work per read;
  // the history is never rescanned.
  private val q119 = QueryDef(
    "q119_mv_quantile_delete",
    (s, dir) => {
      val (pre, batch) = signedBatch(t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice"))
      val aux0 = pre.groupBy("l_suppkey", "l_extendedprice")
        .agg(count(lit(1)).as("cnt"))
      val aux = graft.ops.TableOps.maintainValueCounts(aux0, batch,
        Seq("l_suppkey"), "l_extendedprice")
      graft.ops.TableOps.readQuantile(aux, Seq("l_suppkey"),
          "l_extendedprice", new java.math.BigDecimal("0.5"))
        .select(col("l_suppkey"), col("q_l_extendedprice").as("median"),
          col("total"))
        .orderBy("l_suppkey")
    },
    Some(s"""WITH f AS (
           |  SELECT l_suppkey, l_extendedprice FROM lineitem
           |  WHERE ${postDeleteWhere()}),
           |r AS (
           |  SELECT l_suppkey, l_extendedprice,
           |    row_number() OVER (PARTITION BY l_suppkey
           |                       ORDER BY l_extendedprice) AS rn,
           |    count(*) OVER (PARTITION BY l_suppkey) AS total
           |  FROM f)
           |SELECT l_suppkey, l_extendedprice AS median, total
           |FROM r WHERE rn = CAST(ceil(0.5 * total) AS BIGINT)
           |ORDER BY l_suppkey""".stripMargin))

  // MAINTAINED TPC-H Q1 (q120): the capstone of the counted family —
  // the engine's flagship pricing summary (q03) kept current under
  // inserts AND deletes by maintainAggCounted. Every stored column is
  // LINEAR (four decimal sums + the count); the non-linear outputs
  // (the three AVGs) DERIVE at read time as sum/count — the classic
  // IVM lesson: maintain linear state, derive the rest. The division
  // is one IEEE op on doubles both engines produce from identical
  // exact decimals, so maintained == recomputed bit-for-bit, avg
  // columns included. Same signed batch convention as q117.
  private val q120 = QueryDef(
    "q120_mv_tpch_q1_delete",
    (s, dir) => {
      val d6 = DecimalType(18, 6)
      val (pre, batch) = signedBatch(t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"),
        col("l_quantity").cast(d6).as("sum_qty"),
        col("l_extendedprice").cast(d6).as("sum_base_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(d6).as("sum_disc_price"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).cast(d6).as("sum_charge"),
        col("l_discount").cast(d6).as("sum_disc")))
      val keys = Seq("l_returnflag", "l_linestatus")
      val sums = Seq("sum_qty", "sum_base_price", "sum_disc_price",
        "sum_charge", "sum_disc")
      val mv0 = pre.groupBy(keys.map(col): _*)
        .agg(sum(sums.head).as(sums.head),
          sums.tail.map(c => sum(c).as(c)) :+ count(lit(1)).as("cnt"): _*)
      val mv = graft.ops.TableOps.maintainAggCounted(mv0, batch, keys, sums)
      def dbl(c: String) = col(c).cast("double")
      mv.select(col("l_returnflag"), col("l_linestatus"),
          dbl("sum_qty").as("sum_qty"),
          dbl("sum_base_price").as("sum_base_price"),
          dbl("sum_disc_price").as("sum_disc_price"),
          dbl("sum_charge").as("sum_charge"),
          (dbl("sum_qty") / dbl("cnt")).as("avg_qty"),
          (dbl("sum_base_price") / dbl("cnt")).as("avg_price"),
          (dbl("sum_disc") / dbl("cnt")).as("avg_disc"),
          col("cnt").as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           |    AS sum_base_price,
           |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
           |      AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
           |      AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS avg_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS avg_price,
           |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE ${postDeleteWhere()}
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  // ZONE-MAP-PRUNED READ (q121): the zone-map family's I/O payoff —
  // q83 measures skip fractions, q103 maintains envelopes, q109
  // triggers re-clustering, and this one finally SKIPS THE READ:
  // lineitem is written chunk-partitioned (Layout.writeClustered, one
  // directory per chunk) under both the z-order and the natural
  // chunking, the per-chunk (partkey, suppkey) envelopes become the
  // zone table, and Layout.prunedRead resolves the q83 probe predicate
  // against the envelopes to read ONLY matching chunk directories
  // (a PartitionFilter on the scan — PlanContractSpec pins scanned
  // files < total on the z-order layout), applying the exact predicate
  // as the residual. The ORACLE is the plain full-scan filter, so the
  // gate pins pruned == full-scan-filtered row-for-row on BOTH
  // layouts — the z-order layout skips ~90% of chunks (q83's measured
  // fraction turned into real I/O), the natural layout prunes ~none,
  // and both return the identical row set. Chunk ids are formatted
  // strings so partition-value inference round-trips them exactly
  // (no cast to defeat pushdown).
  /** q121's two-layout fixture recipe, shared by the construction
    * cell and the read-only `_apply` cell: lineitem with BOTH chunk
    * ids (natural by orderkey range, zorder by Morton-key range). */
  private def q121Chunked(s: SparkSession, dir: String)
                         (implicit scope: graft.ops.CacheScope): DataFrame = {
    val z = graft.ops.Layout.mortonKey(
      col("l_partkey") % 65536, col("l_suppkey") % 65536)
    val k = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), z.as("zkey"))
    val env = broadcast(k.agg(
      expr("max(zkey) div 64 + 1").as("wz"),
      expr("max(l_orderkey) div 64 + 1").as("wo")))
    cached(k.crossJoin(env).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"),
      format_string("c%05d", expr("zkey div wz")).as("chz"),
      format_string("c%05d", expr("l_orderkey div wo")).as("cho")))
  }
  private def q121LayoutData(ch: DataFrame, chunkCol: String): DataFrame =
    ch.select(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col(chunkCol).as("chunk"))
  private def q121Zones(data: DataFrame): DataFrame =
    data.groupBy("chunk")
      .agg(min("l_partkey").as("mn_l_partkey"),
        max("l_partkey").as("mx_l_partkey"),
        min("l_suppkey").as("mn_l_suppkey"),
        max("l_suppkey").as("mx_l_suppkey"))
  // ONE RangeSpec per dimension — the envelope resolution and the row
  // residual both derive from it (an inconsistent hand-written zone
  // predicate is unrepresentable)
  private def q121ReadLayout(s: SparkSession, path: String, zones: DataFrame,
                             name: String): DataFrame =
    graft.ops.Layout.prunedRead(s, path, zones, "chunk", Seq(
        graft.ops.Layout.RangeSpec.between("l_partkey", 64, 255),
        graft.ops.Layout.RangeSpec.between("l_suppkey", 8, 39)))
      .select(lit(name).as("layout"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
  private val q121Sql =
    """WITH m AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      |           FROM lineitem
      |           WHERE l_partkey BETWEEN 64 AND 255
      |             AND l_suppkey BETWEEN 8 AND 39)
      |SELECT 'natural' AS layout, l_orderkey, l_linenumber, l_partkey,
      |       l_suppkey FROM m
      |UNION ALL
      |SELECT 'zorder', l_orderkey, l_linenumber, l_partkey, l_suppkey
      |FROM m
      |ORDER BY layout, l_orderkey, l_linenumber, l_partkey,
      |         l_suppkey""".stripMargin

  private val q121 = QueryDef(
    "q121_zonemap_pruned_read",
    (s, dir) => {
      implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
      val ch = q121Chunked(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft-q121").toString
      def prunedLayout(chunkCol: String, name: String): DataFrame = {
        val data = q121LayoutData(ch, chunkCol)
        val path = s"$base/$name"
        graft.ops.Layout.writeClustered(data, path, "chunk")
        q121ReadLayout(s, path, q121Zones(data), name)
      }
      prunedLayout("cho", "natural").unionByName(prunedLayout("chz", "zorder"))
        .orderBy("layout", "l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")
    },
    Some(q121Sql))

  // Z-SET PIPELINE MAINTENANCE (q122): q110 maintains a JOIN view
  // under deletes, q117 an AGGREGATE view — this composes them through
  // the DBSP chain rule (TableOps.maintainPipelineCounted): a real
  // silver→gold pipeline's view is an AGG-OVER-JOIN, and a signed
  // batch on either base side propagates as one delta pass per
  // operator — joinDeltaCounted's signed rows feed DIRECTLY into
  // maintainAggCounted, the intermediate join view never materialized
  // or recomputed. Batches carry inserts AND deletes on BOTH sides
  // (the q110 convention: orders post-cut inserts + every-7th-key
  // deletes; lineitem post-cut inserts + every-5th-suppkey deletes).
  // ORACLE = the full agg-over-join recompute over the POST-delete
  // snapshots. Prices sum in DECIMAL(18,6) end-to-end (maintained ==
  // rebuilt bit-for-bit); only the output casts to double.
  private val q122 = QueryDef(
    "q122_mv_pipeline_delete",
    (s, dir) => {
      val d6 = DecimalType(18, 6)
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice").cast(d6).as("sum_price"))
      val (a, da, b, db) = joinSides(ord, li)
      val mv0 = a.drop("_mult").join(b.drop("_mult"), Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("sum_price").as("sum_price"), count(lit(1)).as("cnt"))
      graft.ops.TableOps.maintainPipelineCounted(mv0, a, da, b, db,
          joinKeys = Seq("l_orderkey"), aggKeys = Seq("o_orderpriority"),
          sumCols = Seq("sum_price"))
        .select(col("o_orderpriority"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy("o_orderpriority")
    },
    Some(s"""WITH ${joinSidesSql("o_orderpriority", "l_orderkey, l_extendedprice")}
           |SELECT o_orderpriority,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           |    AS sum_price,
           |  count(*) AS cnt
           |FROM bf JOIN af USING (l_orderkey)
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin))

  // KEY-CASCADE deletion through the maintained pipeline (q123): q122
  // takes signed full-row batches; real deletes ARRIVE AS KEYS (an
  // order cancellation, a retention purge). TableOps.deleteBatchByKey
  // derives the signed batch with one LEFT SEMI probe of the stored
  // snapshot (delete-bounded output), and the CASCADE is pure algebra:
  // the cancelled orders' ΔA⋈B term removes every joined lineitem
  // contribution with no fact-side tombstones, while an independent
  // composite-key purge on the fact side rides ΔB — doubly-deleted
  // pairs net to −1 through the bilinear ΔA⋈ΔB correction. The
  // fixture's (l_orderkey, l_linenumber) is NOT unique (~14k dup keys
  // at sf0.01 — the q104 lesson), which is exactly what KEY-delete
  // semantics must honor: every physical sharer of a deleted key goes
  // (the oracle models key MEMBERSHIP via an anti join, not the
  // suppkey predicate that generated the key list). ORACLE = the
  // agg-over-join recompute over both post-delete snapshots.
  private val q123 = QueryDef(
    "q123_mv_cascade_delete",
    (s, dir) => {
      val d6 = DecimalType(18, 6)
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_extendedprice").cast(d6).as("sum_price"))
      val a = counted(ord, 1)
      val b = counted(li, 1)
      // the delete feeds: key lists, not rows
      val ordDel = ord.filter(col("l_orderkey") % 13 === 5).select("l_orderkey")
      val liDel = li.filter(col("l_suppkey") % 4 === 2)
        .select("l_orderkey", "l_linenumber")
      val da = graft.ops.TableOps.deleteBatchByKey(a, ordDel, Seq("l_orderkey"))
      val db = graft.ops.TableOps.deleteBatchByKey(b, liDel,
        Seq("l_orderkey", "l_linenumber"))
      val mv0 = ord.join(li, Seq("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("sum_price").as("sum_price"), count(lit(1)).as("cnt"))
      graft.ops.TableOps.maintainPipelineCounted(mv0, a, da, b, db,
          joinKeys = Seq("l_orderkey"), aggKeys = Seq("o_orderpriority"),
          sumCols = Seq("sum_price"))
        .select(col("o_orderpriority"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH af AS (
           |  SELECT o_orderkey AS l_orderkey, o_orderpriority FROM orders
           |  WHERE o_orderkey % 13 <> 5),
           |bf AS (
           |  SELECT li.l_orderkey, li.l_extendedprice FROM lineitem li
           |  ANTI JOIN (SELECT DISTINCT l_orderkey, l_linenumber
           |             FROM lineitem WHERE l_suppkey % 4 = 2) d
           |    USING (l_orderkey, l_linenumber))
           |SELECT o_orderpriority,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           |    AS sum_price,
           |  count(*) AS cnt
           |FROM bf JOIN af USING (l_orderkey)
           |GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin))

  // TWO-HOP Z-SET CIRCUIT (q124): q122 chains ONE join into the
  // aggregate; a real DBSP circuit stores every operator's output view
  // and differentiates RECURSIVELY — here V1 = customer ⋈ orders is
  // itself a maintained counted view, and the gold view
  // V2 = γ_mktsegment(V1 ⋈ lineitem) consumes V1's DELTA as a base-side
  // batch: ΔV1 = joinDeltaCounted(C, ΔC, O, ΔO) feeds
  // joinDeltaCounted(V1_pre, ΔV1, L, ΔL) feeds maintainAggCounted —
  // three delta passes, no intermediate recompute, the fact history
  // never rescanned. Deletes land on ALL THREE bases (every-9th
  // customer, every-11th order, every-6th-suppkey lineitem); a deleted
  // customer cascades through BOTH hops. ORACLE = the full three-table
  // agg recompute over the post-delete snapshots, DECIMAL bit-exact.
  private val q124 = QueryDef(
    "q124_mv_two_hop_delete",
    (s, dir) => {
      val d6 = DecimalType(18, 6)
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey").as("l_orderkey"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice").cast(d6).as("sum_price"))
      val c = counted(cust, 1); val o = counted(ord, 1); val l = counted(li, 1)
      val dc = counted(cust.filter(col("c_custkey") % 9 === 4), -1)
      val dO = counted(ord.filter(col("l_orderkey") % 11 === 3), -1)
      val dl = counted(li.filter(col("l_suppkey") % 6 === 1), -1)
      // the STORED intermediate: V1 = C ⋈ O (counted; custkey ⋈ is 1:1
      // on the customer side so counts are 1, the algebra doesn't care)
      val v1Cols = Seq("l_orderkey", "c_mktsegment")
      val v1 = counted(cust.join(ord, Seq("c_custkey")).select(v1Cols.map(col): _*), 1)
      val dv1 = graft.ops.TableOps.joinDeltaCounted(c, dc, o, dO,
        keys = Seq("c_custkey"), viewCols = v1Cols)
      // gold: V2 = γ(V1 ⋈ L), maintained from V1's OWN delta
      val mv0 = v1.drop("_mult").join(li, Seq("l_orderkey"))
        .groupBy("c_mktsegment")
        .agg(sum("sum_price").as("sum_price"), count(lit(1)).as("cnt"))
      val dv2 = graft.ops.TableOps.joinDeltaCounted(v1, dv1, l, dl,
        keys = Seq("l_orderkey"), viewCols = Seq("c_mktsegment", "sum_price"))
      graft.ops.TableOps.maintainAggCounted(mv0, dv2,
          keys = Seq("c_mktsegment"), sumCols = Seq("sum_price"))
        .select(col("c_mktsegment"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           |    AS sum_price,
           |  count(*) AS cnt
           |FROM customer
           |JOIN orders ON o_custkey = c_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE c_custkey % 9 <> 4
           |  AND o_orderkey % 11 <> 3
           |  AND l_suppkey % 6 <> 1
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment""".stripMargin))

  // MAINTAINED TOP-K VIEW UNDER DELETES (q125): the leaderboard shape
  // — the non-linear family's third member after min/max (q118) and
  // quantiles (q119): the per-key top-K kept current off the SAME
  // counted value multiset (TableOps.maintainValueCounts), read by
  // TableOps.readTopK as one row per slot (key, rank 1..K, value),
  // multiplicity filling consecutive slots. The delete batch
  // EXPLICITLY includes every row tied at each flag's pre-cut MAX
  // price (plus the every-7th-orderkey purge), so the maintained read
  // must promote runner-ups into rank 1 — the dashboard case a naive
  // top-K cache gets wrong. ORACLE = row_number over the post-delete
  // recompute; rank→value is unique under ties (equal values), so the
  // oracle's arbitrary tie order is invisible. Aux-sized read,
  // WindowGroupLimit prunes to ≤K aux rows per key before the slot
  // cumsum; the history is never rescanned.
  private val q125 = QueryDef(
    "q125_mv_topk_delete",
    (s, dir) => {
      val wmax = Window.partitionBy("l_returnflag")
      val (pre, batch) = signedBatch(t(s, dir, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_shipdate", "l_extendedprice"),
        deleted = _.withColumn("_mx", max("l_extendedprice").over(wmax))
          .filter(col("l_orderkey") % 7 === 0 || col("l_extendedprice") === col("_mx"))
          .drop("_mx"))
      val aux0 = pre.groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("cnt"))
      val aux = graft.ops.TableOps.maintainValueCounts(aux0, batch,
        Seq("l_returnflag"), "l_extendedprice")
      graft.ops.TableOps.readTopK(aux, Seq("l_returnflag"),
          "l_extendedprice", 5)
        .select(col("l_returnflag"), col("rank"),
          col("l_extendedprice").as("price"))
        .orderBy("l_returnflag", "rank")
    },
    Some(s"""WITH pre AS (
           |  SELECT l_orderkey, l_returnflag, l_extendedprice FROM lineitem
           |  WHERE l_shipdate < TIMESTAMP '${MaintKit.cutDay}'),
           |pm AS (
           |  SELECT l_returnflag, max(l_extendedprice) AS mxp
           |  FROM pre GROUP BY l_returnflag),
           |post AS (
           |  SELECT l_returnflag, l_extendedprice FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '${MaintKit.cutDay}'
           |  UNION ALL
           |  SELECT p.l_returnflag, p.l_extendedprice
           |  FROM pre p JOIN pm ON p.l_returnflag = pm.l_returnflag
           |  WHERE p.l_orderkey % 7 <> 0 AND p.l_extendedprice < pm.mxp),
           |r AS (
           |  SELECT l_returnflag, l_extendedprice,
           |    row_number() OVER (PARTITION BY l_returnflag
           |                       ORDER BY l_extendedprice DESC) AS rank
           |  FROM post)
           |SELECT l_returnflag, rank, l_extendedprice AS price
           |FROM r WHERE rank <= 5
           |ORDER BY l_returnflag, rank""".stripMargin))

  // READ-ONLY zone cells (q121_apply and the `_apply` twin of every
  // MaintKit.zoneCells pair): the SAME semantics and ORACLES as their
  // construction cells, but the clustered fixture + zone table are
  // built ONCE per testdata fingerprint and PERSISTED (the
  // l6_cascade_*_apply discipline applied to the zone family).
  // Benchmarked, these time ONLY the zone-resolve + pruned scan +
  // action (every run after the first) — the number the
  // construction-dominated cells hide inside ±5 s of clustered-write
  // noise; the numFiles plan contracts pin the file counts, these
  // cells pin the TIME. Correctness rides the same hash gate:
  // read-from-persisted == the oracle's full scan.
  private val q121apply = QueryDef(
    "q121_zonemap_pruned_read_apply",
    (s, dir) => {
      val root = MaintKit.persistedZoneFixture(s, dir, "q121") { r =>
        implicit val scope: graft.ops.CacheScope = graft.ops.CacheScope.sessionOwned
        val ch = q121Chunked(s, dir)
        Seq("cho" -> "natural", "chz" -> "zorder").foreach { case (cc, name) =>
          val data = q121LayoutData(ch, cc)
          graft.ops.Layout.writeClustered(data, s"$r/$name", "chunk")
          q121Zones(data).write.mode("overwrite").parquet(s"$r/zones_$name")
        }
      }
      def rd(name: String): DataFrame =
        q121ReadLayout(s, s"$root/$name", Tables.parquet(s, s"$root/zones_$name"), name)
      rd("natural").unionByName(rd("zorder"))
        .orderBy("layout", "l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")
    },
    Some(q121Sql))

  // TRANSPARENT zone-map-pruned read (q126): q121 passes the reader an
  // explicit RangeSpec; this one passes NOTHING — lineitem is written
  // chunk-partitioned by ship MONTH, the per-chunk (l_shipdate,
  // l_quantity) envelopes become the zone table, and
  // Layout.zoneMapRead returns a plain DataFrame whose scan consumes
  // the QUERY'S OWN pushed filters (Spark's dataFilters — the
  // Delta/Iceberg data-skipping seam) through a
  // TransparentZoneMapFileIndex. The ordinary .filter(...) below — a
  // TIMESTAMP_NTZ range (envelope compared in Spark's own micros
  // scale) plus a double bound — prunes ~76 of ~83 month chunks at
  // listing time with zero zone-aware code at the call site
  // (PlanContractSpec pins executed numFiles < total / 4). ORACLE =
  // the plain full-scan filter; pruning must be invisible to the row
  // set.
  private val monthYmChunk: org.apache.spark.sql.Column = format_string("c%05d",
    (year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)

  private val (q126, q126apply) = zoneCells("q126_zonemap_transparent_read", "q126",
    chunkedFixture((s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .withColumn("chunk", monthYmChunk),
      chunkZones(Seq("l_shipdate", "l_quantity"))),
    (s, path, zones) => graft.ops.Layout.zoneMapRead(s, path, zones, "chunk",
        Seq("l_shipdate", "l_quantity"))
      .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp_ntz") &&
        col("l_shipdate") <= lit("1997-09-30").cast("timestamp_ntz") &&
        col("l_quantity") <= 10.0)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      |  AND l_shipdate <= TIMESTAMP '1997-09-30'
      |  AND l_quantity <= 10.0
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)

  // STRING-ENVELOPE + OR transparent read (q127): the two predicate
  // families q126 left on the table. ship_ym =
  // date_format(l_shipdate, 'yyyy-MM') is a STRING column whose
  // per-month-chunk envelope is a single value — the most common real
  // zone dimension shape (categories, date-formatted keys, id
  // prefixes) — and the query's WHERE is an OR of two ship_ym ranges
  // (TPC-H Q19's disjunct shape). The TransparentZoneMapFileIndex
  // compares string envelopes in UTF8 binary order (Spark's own
  // default-collation comparison) and prunes the OR by the per-column
  // UNION of its arm interval SETS — '1996-01'..'1996-03' plus
  // '1997-01'..'1997-02', so the gap months BETWEEN the arms drop
  // too (a hull would have kept them: round-15's interval-set engine
  // tightened the survivors 14 → 5) — ~78 of ~83 month chunks drop
  // at listing time from a plain .filter with no zone-aware call-site
  // code; PlanContractSpec pins executed numFiles <= 8. ORACLE = the
  // full-scan filter via strftime; pruning must be invisible to the
  // row set.
  /** The month-chunked `ship_ym` fixture q127, q129, q132 and q133
    * share (one persisted fixture, tag q127). */
  private val shipYmFixture = chunkedFixture((s, dir) => t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .withColumn("ship_ym", date_format(col("l_shipdate"), "yyyy-MM"))
      .withColumn("chunk", monthYmChunk),
    chunkZones(Seq("ship_ym")))
  private val ym = "strftime(l_shipdate, '%Y-%m')"
  /** A `ship_ym` cell pair over [[shipYmFixture]]: the rows whose
    * `ship_ym` passes `keep`, oracled by the DuckDB `where` over `ym`. */
  private def shipYmCells(name: String, keep: org.apache.spark.sql.Column,
                          where: String): (QueryDef, QueryDef) =
    zoneCells(name, "q127", shipYmFixture,
      (s, path, zones) => graft.ops.Layout.zoneMapRead(s, path, zones, "chunk", Seq("ship_ym"))
        .filter(keep)
        .select("l_orderkey", "l_linenumber", "ship_ym")
        .orderBy("l_orderkey", "l_linenumber", "ship_ym"),
      s"""SELECT l_orderkey, l_linenumber, $ym AS ship_ym
         |FROM lineitem
         |WHERE $where
         |ORDER BY l_orderkey, l_linenumber, ship_ym""".stripMargin)

  private val (q127, q127apply) = shipYmCells("q127_zonemap_string_or_read",
    (col("ship_ym") >= "1996-01" && col("ship_ym") <= "1996-03") ||
      (col("ship_ym") >= "1997-01" && col("ship_ym") <= "1997-02"),
    s"($ym >= '1996-01' AND $ym <= '1996-03') OR ($ym >= '1997-01' AND $ym <= '1997-02')")

  // FILE-GRANULARITY zone-pruned read (q128): no layout contract at
  // all — lineitem lands as a PLAIN (unpartitioned) multi-file
  // parquet table, range-packed by l_orderkey so each file's footer
  // envelope is tight; Layout.fileZones derives one (file_name,
  // mn, mx) row per file in one scan (the footer-stats image real
  // lakehouse skipping reads), and Layout.zoneMapReadFiles drops
  // non-intersecting FILES from the listing when the query's own
  // pushed range excludes their envelopes — per-file data skipping
  // exactly where Delta/Iceberg do it, over a table writeClustered
  // never touched. ORACLE = the full-scan filter; PlanContractSpec
  // pins executed numFiles < total.
  private val (q128, q128apply) = zoneCells("q128_zonemap_file_read", "q128",
    fileFixture((s, dir, path) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(path),
      Seq("l_orderkey")),
    (s, path, zones) => graft.ops.Layout.zoneMapReadFiles(s, path, zones, "file",
        Seq("l_orderkey"))
      .filter(col("l_orderkey") >= 100L && col("l_orderkey") <= 199L)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey >= 100 AND l_orderkey <= 199
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)

  // PREFIX-pruned transparent read (q129): `LIKE '1996%'` pushes as
  // StartsWith, and the TransparentZoneMapFileIndex bounds it by the
  // UTF8 prefix range ['1996', '1997') — the single most common
  // data-skipping predicate over date-formatted string keys and id
  // prefixes. Same month-chunked fixture as q127; exactly the 12
  // months of 1996 survive the prefix range at listing time
  // (PlanContractSpec pins executed numFiles <= 14). ORACLE = the
  // full-scan LIKE filter.
  private val (q129, q129apply) = shipYmCells("q129_zonemap_prefix_read",
    col("ship_ym").startsWith("1996"), s"$ym LIKE '1996%'")

  // Z-ORDER layout × transparent zone maps (q130): the write-side
  // multi-dimensional clustering (q52's Morton key) composed with the
  // read-side transparent index (q126) — the full OPTIMIZE story in
  // one query. Chunks are fixed ranges of the Morton key of
  // (l_quantity, l_extendedprice/1000), so every chunk's envelope is
  // tight in BOTH dimensions (a lexicographic sort would be tight in
  // one); the query's plain two-dimensional .filter then prunes chunk
  // directories through the pushed conjuncts on EITHER column — the
  // property Z-ordering exists to buy. ORACLE = the plain full-scan
  // filter; PlanContractSpec pins executed numFiles well below total.
  /** q130's and q134's read: the (quantity, price) box. */
  private def priceBox(df: DataFrame): DataFrame =
    df.filter(col("l_quantity") >= 5.0 && col("l_quantity") <= 10.0 &&
        col("l_extendedprice") >= 20000.0 && col("l_extendedprice") <= 30000.0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
  private val priceBoxSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity >= 5.0 AND l_quantity <= 10.0
      |  AND l_extendedprice >= 20000.0 AND l_extendedprice <= 30000.0
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin

  private val (q130, q130apply) = zoneCells("q130_zonemap_zorder_read", "q130",
    chunkedFixture((s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .withColumn("_zk", graft.ops.Layout.mortonKey(
          col("l_quantity").cast("int"),
          (col("l_extendedprice") / 1000).cast("int")))
        .withColumn("chunk", format_string("z%05d", expr("_zk div 1024")))
        .drop("_zk"),
      chunkZones(Seq("l_quantity", "l_extendedprice"))),
    (s, path, zones) => priceBox(graft.ops.Layout.zoneMapRead(s, path, zones, "chunk",
      Seq("l_quantity", "l_extendedprice"))),
    priceBoxSql)

  // NULL-COUNT envelope pruning (q131): the Delta/Iceberg stats
  // parity landed this round — zone tables may carry nc_<col>/rc_<col>
  // (exact null/row counts) beside the min/max envelope, and a pushed
  // `IS NULL` then DROPS every unit whose count records zero nulls
  // (count-less tables keep everything — the missing-stat rule). The
  // fixture plants nulls ONLY in the June chunks of the month-
  // clustered layout (maybe_qty = NULL iff ship month = 6), so the
  // plain .filter(isNull) prunes ~79 of ~83 chunks at listing time;
  // PlanContractSpec pins executed numFiles. ORACLE = the full-scan
  // CASE filter; pruning must be invisible to the row set.
  private val (q131, q131apply) = zoneCells("q131_zonemap_nullcount_read", "q131",
    chunkedFixture((s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .withColumn("maybe_qty",
          when(month(col("l_shipdate")) === 6, lit(null).cast("double"))
            .otherwise(col("l_quantity")))
        .withColumn("chunk", monthYmChunk),
      chunkZones(Seq("maybe_qty"), counts = true)),
    (s, path, zones) => graft.ops.Layout.zoneMapRead(s, path, zones, "chunk",
        Seq("maybe_qty"))
      .filter(col("maybe_qty").isNull)
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber"),
    """SELECT l_orderkey, l_linenumber FROM lineitem
      |WHERE (CASE WHEN month(l_shipdate) = 6 THEN NULL ELSE l_quantity END) IS NULL
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  // NOT-BETWEEN pruning (q132): `Not` of a recognized range now
  // prunes by its EXACT complement — the interval-set engine gained
  // OPEN endpoints this round, so ¬(ym BETWEEN a AND b) becomes
  // (…, a) ∪ (b, …) and every INSIDE month chunk of the q127 layout
  // drops at listing time (closed widening would have kept only the
  // boundary months out; the complement of a closed range under
  // closed-only intervals is the whole line). Same month-clustered
  // ship_ym fixture as q127; PlanContractSpec pins executed numFiles.
  // ORACLE = the full-scan NOT BETWEEN; pruning invisible to rows.
  private val (q132, q132apply) = shipYmCells("q132_zonemap_notbetween_read",
    !col("ship_ym").between("1995-06", "2001-03"),
    s"$ym NOT BETWEEN '1995-06' AND '2001-03'")

  // NOT-IN pruning (q133): the other complement family q132 leaves —
  // NOT IN prunes by the OPEN gaps between its sorted points, which
  // bites exactly when a chunk's envelope is a SINGLE value sitting
  // on an excluded point (categorical / date-formatted dimensions —
  // the month-chunked ship_ym layout is precisely that shape: every
  // chunk's (mn, mx) is one month). 48 excluded months (1996-01 ..
  // 1999-12, under the 64-member cap) drop 48 of ~83 chunks at
  // listing time; a range-enveloped chunk would conservatively keep
  // (the complement's gaps surround every multi-value envelope).
  // ORACLE = the full-scan NOT IN; PlanContractSpec pins numFiles.
  private val q133Months: Seq[String] =
    for (y <- 1996 to 1999; m <- 1 to 12) yield f"$y%04d-$m%02d"
  private val (q133, q133apply) = shipYmCells("q133_zonemap_notin_read",
    !col("ship_ym").isin(q133Months: _*),
    s"$ym NOT IN (${q133Months.map(m => s"'$m'").mkString(", ")})")

  // Z-ORDER over a PLAIN table × FILE-level zones (q134): the most
  // production-shaped composition in the zone family — real lakehouse
  // tables are not hive-partitioned by chunk id; Delta's OPTIMIZE
  // ZORDER rewrites a PLAIN table so each FILE's footer envelope is
  // tight in both dimensions, and data skipping reads those stats.
  // Here: clusterByMorton range-packs lineitem into 16 plain parquet
  // files on the Morton key of (quantity, price/1000), fileZones
  // derives the per-file 2D envelopes (+ null/row counts) in one
  // scan, and zoneMapReadFiles drops FILES under the query's own
  // pushed 2D filter — q130's semantics with zero layout contract.
  // ORACLE = q130's (identical filter and output columns).
  private val (q134, q134apply) = zoneCells("q134_zonemap_zorder_files_read", "q134",
    fileFixture((s, dir, path) => graft.ops.Layout.clusterByMorton(
          t(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
            .withColumn("_qx", col("l_quantity").cast("int"))
            .withColumn("_py", (col("l_extendedprice") / 1000).cast("int")),
          "_qx", "_py", numFiles = 16)
        .drop("_qx", "_py")
        .write.mode("overwrite").parquet(path),
      Seq("l_quantity", "l_extendedprice")),
    (s, path, zones) => priceBox(graft.ops.Layout.zoneMapReadFiles(s, path, zones, "file",
      Seq("l_quantity", "l_extendedprice"))),
    priceBoxSql)

  // NESTED-field zone envelopes (q135): a message-shaped table's
  // natural filter is a STRUCT leaf (provider.published_ts — the
  // enriched message schema of SURVEY §1.2), and Delta/Iceberg both
  // collect footer stats for nested leaves. The transparent index
  // recognizes GetStructField chains keyed by DOTTED path, the zone
  // table carries mn_/mx_/nc_/rc_ under the dotted name, and a pushed
  // range on the nested timestamp drops month chunks at listing time
  // with zero zone-aware call-site code (the q126 contract at a
  // nested leaf). NULL composition is exact: a NULL struct nulls
  // every leaf, which is precisely what min/count over the nested
  // value saw at envelope-build time. ORACLE = the flat-scan
  // equivalent off lineitem; PlanContractSpec pins numFiles.
  private val q135Col = "provider.published_ts"
  private val (q135, q135apply) = zoneCells("q135_zonemap_nested_read", "q135",
    chunkedFixture((s, dir) => t(s, dir, "lineitem")
        .withColumn("chunk", monthYmChunk)
        .select(col("l_orderkey"), col("l_linenumber"),
          struct(col("l_shipdate").as("published_ts"),
            col("l_suppkey").as("source")).as("provider"),
          col("chunk")),
      chunkZones(Seq(q135Col), counts = true)),
    (s, path, zones) => graft.ops.Layout.zoneMapRead(s, path, zones, "chunk", Seq(q135Col))
      .filter(col(q135Col).between(
        to_date(lit("1996-03-01")), to_date(lit("1996-08-31"))))
      .select(col("l_orderkey"), col("l_linenumber"),
        col(q135Col).as("published_ts"),
        col("provider.source").as("source"))
      .orderBy("l_orderkey", "l_linenumber", "published_ts", "source"),
    """SELECT l_orderkey, l_linenumber, l_shipdate AS published_ts,
      |       l_suppkey AS source
      |FROM lineitem
      |WHERE l_shipdate BETWEEN DATE '1996-03-01' AND DATE '1996-08-31'
      |ORDER BY l_orderkey, l_linenumber, published_ts, source""".stripMargin)

  // BLOOM-index file pruning (q136): the stats family's other half —
  // envelopes prune RANGES on clustered dimensions; a point lookup on
  // a HIGH-CARDINALITY UNORDERED key (surrogate ids, content hashes)
  // finds every file's (mn, mx) spanning ~the whole domain and prunes
  // nothing. Delta's bloom filter index exists for exactly this shape:
  // fileZones emits an optional per-file bf_<col> sketch (Spark's own
  // partial-combinable BloomFilterAggregate over xxhash64(col)), and
  // the transparent index probes it for pushed equality/IN conjuncts
  // on BARE columns — the driver evaluates the SAME XxHash64
  // expression the build side ran, so hash identity holds by
  // construction; a definitive bloom "absent" drops the file, a false
  // positive only keeps one (row-exact after the re-filter, fpp is a
  // cost knob not a correctness one). The probed key here is the sk
  // of the FIRST (l_orderkey, l_linenumber) row — mid-domain by the
  // hash scramble, so envelopes keep all 16 files and the bloom does
  // all the work (PlanContractSpec pins numFiles; LayoutSpec pins the
  // no-bloom contrast and the absent-probe empty scan).
  private val (q136, q136apply) = zoneCells("q136_zonemap_bloom_read", "q136",
    fileFixture((s, dir, path) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("(l_orderkey * 2654435761 + l_linenumber) % 1000000007").as("sk"))
        .repartitionByRange(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(path),
      Seq("sk"), bloomCols = Seq("sk")),
    (s, path, zones) => {
      val probe = s.read.parquet(path)
        .orderBy("l_orderkey", "l_linenumber").select("sk").head().getLong(0)
      graft.ops.Layout.zoneMapReadFiles(s, path, zones, "file", Seq("sk"))
        .filter(col("sk") === lit(probe))
        .select("l_orderkey", "l_linenumber", "sk")
        .orderBy("l_orderkey", "l_linenumber")
    },
    """WITH b AS (SELECT l_orderkey, l_linenumber,
      |                  (l_orderkey * 2654435761 + l_linenumber) % 1000000007 AS sk
      |           FROM lineitem),
      |p AS (SELECT sk FROM b ORDER BY l_orderkey, l_linenumber LIMIT 1)
      |SELECT l_orderkey, l_linenumber, sk FROM b WHERE sk = (SELECT sk FROM p)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    q27, q28, q29,
    q01, q02, q03, q04, q05, q06, q06cube, q07, q08, q09, q09full,
    q10semi, q10anti, q11, q12, q13, q14, q15, q16,
    q17union, q17intersect, q17except,
    q18, q19, q20, q21, q22, q22b, q23, q24, q25udf, q25udaf, q25gen, q26,
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47,
    q51, q52, q53, q54, q55, q58, q59, q60, q61, q62, q63, q65, q67, q68,
    q71, q74, q75, q76, q78, q82, q83, q84, q88, q89, q90, q91, q92, q94,
    q96, q97, q100, q101, q102, q103, q104, q105, q106, q107, q108, q109, q110,
    q111, q112, q113, q114, q115, q116, q117, q118, q119, q120, q121,
    q122, q123, q124, q125, q126, q127, q128, q129, q130, q131, q132, q133,
    q134, q135, q136, q121apply, q126apply, q127apply, q128apply, q129apply, q130apply,
    q131apply, q132apply, q133apply, q134apply, q135apply, q136apply)
}
