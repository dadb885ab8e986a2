package graft.queries

import graft.{QueryDef, Stage, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational query pack over the TPC-H-ish driver tables.
  *
  * Covers the reference's entire aggregate surface (SURVEY.md §2.5 A1-A2:
  * global multi-aggregate with count/countDistinct/avg/min/max) and the
  * practical extension surface (§2.6, §7): grouped aggregation, inner /
  * semi / anti / multi-way joins, window functions, sorts + deterministic
  * top-k, set operations, rollup, conditional aggregation, date and string
  * functions, JSON extraction (events.props — SURVEY.md §1 data-model
  * table), and sessionization.
  *
  * Scale notes (100 TB target):
  *   - fact-side scans carry their filters/projections directly on the read
  *     → parquet pushdown prunes row groups and columns.
  *   - dimension joins (region/nation/supplier/part/customer) are explicit
  *     `broadcast()` — no shuffle of the fact table for those joins.
  *   - fact-fact joins (lineitem⋈orders) shuffle on the join key once;
  *     grouped aggregates are partial+final hash aggs (map-side combine).
  *   - AQE (enabled in GraftSession.tune) coalesces post-shuffle partitions
  *     and handles skew at runtime.
  */
object RelationalPack {

  /** Exact, order-independent sum of a double column: cast to DECIMAL(18,4)
    * (deterministic nearest-rounding of each value), sum exactly, cast the
    * total back to double. Matches the oracle pattern
    * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
    */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")
  private val DSUM = "CAST(SUM(CAST(%s AS DECIMAL(18,4))) AS DOUBLE)"
  private def dsumSql(expr: String): String = DSUM.format(expr)

  /** DuckDB SQL for the Z-order bit spread (bit k of the low-32-bit input
    * lands at bit 2k) — the same magic-mask sequence as the native
    * [[org.apache.spark.sql.graftbridge.ZValue]] expression, with decimal
    * mask literals. Shared by the q113 and q127 oracles so the layout key
    * cannot drift between them. */
  private def zSpreadSql(v: String): String = {
    var e = s"(($v) & 4294967295)"
    for ((sh, m) <- Seq(
      (16, "281470681808895"), (8, "71777214294589695"),
      (4, "1085102592571150095"), (2, "3689348814741910323"),
      (1, "6148914691236517205")))
      e = s"((($e | ($e << $sh)) & $m))"
    e
  }

  /** q127's zone-map block size (rows per block) and its test predicate
    * ranges — chosen to hit every test SF (user_id 0..14 at sf0.001,
    * 0..149 at sf0.1; hidx spans ~[473352, 474072] in the fixture's
    * 30-day event window). */
  private val ZM_BLOCK = 128
  private val ZM_USER_LO = 3L
  private val ZM_USER_HI = 7L
  private val ZM_HIDX_LO = 473400L
  private val ZM_HIDX_HI = 473450L

  /** q128's target compacted size (characters stand in for bytes — the
    * fixture's `length(text)` is the only cross-engine-identical size
    * measure available). */
  private val COMPACT_TARGET = 2000L

  def all: Seq[QueryDef] = Seq(

    // ---- q01: TPC-H Q1-style pricing summary -------------------------------
    QueryDef(
      "q01_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
         |                AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${dsumSql("l_extendedprice")} / COUNT(*) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          // scale 6, NOT the usual dsum scale 4: the money columns carry
          // 2 decimals, so this 3-factor product has ≤6 — at scale 6 the
          // decimal cast never rounds (both engines recover the exact
          // 6-decimal value from the double) where scale 4 hits .xxxx5
          // half-boundaries that Spark (HALF_UP) and DuckDB (half-even)
          // round apart — diverged only at sf0.1 row counts
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast(DecimalType(18, 6))).cast("double").as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- q02: global multi-aggregate (reference parity A1, SURVEY §2.5) ----
    QueryDef(
      "q02_global_stats",
      s"""SELECT COUNT(*) AS n_rows,
         |  COUNT(DISTINCT l_orderkey) AS n_orders,
         |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
         |  MIN(l_extendedprice) AS min_price,
         |  MAX(l_extendedprice) AS max_price,
         |  MIN(l_shipdate) AS first_ship,
         |  MAX(l_shipdate) AS last_ship
         |FROM lineitem""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
    },

    // ---- q03: selective filter + projection (pushdown showcase) ------------
    QueryDef(
      "q03_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount > 0.07 AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp")
          && col("l_discount") > 0.07 && col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- q04: join + grouped agg + deterministic top-k ---------------------
    QueryDef(
      "q04_top_customers",
      s"""SELECT c.c_custkey, c.c_name,
         |  COUNT(*) AS n_orders,
         |  ${dsumSql("o.o_totalprice")} AS total_spent
         |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |GROUP BY c.c_custkey, c.c_name
         |ORDER BY total_spent DESC, c_custkey
         |LIMIT 25""".stripMargin) { (s, d) =>
      Tables.customer(s, d).as("c")
        .join(Tables.orders(s, d).as("o"), col("c.c_custkey") === col("o.o_custkey"))
        .groupBy(col("c.c_custkey"), col("c.c_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o.o_totalprice")).as("total_spent"))
        .orderBy(col("total_spent").desc, col("c_custkey"))
        .limit(25)
    },

    // ---- q05: fact-fact join (shuffle on key) + grouped agg ----------------
    QueryDef(
      "q05_join_priority_agg",
      s"""SELECT o.o_orderpriority,
         |  COUNT(*) AS n_items,
         |  ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY o.o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d).as("l")
        .join(Tables.orders(s, d).as("o"), col("l.l_orderkey") === col("o.o_orderkey"))
        .groupBy(col("o.o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          dsum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // ---- q06: broadcast dimension chain customer→nation→region -------------
    QueryDef(
      "q06_region_customers",
      s"""SELECT r.r_name,
         |  COUNT(*) AS n_customers,
         |  ${dsumSql("c.c_acctbal")} AS total_acctbal
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r.r_name
         |ORDER BY r_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d).as("c")
        .join(broadcast(Tables.nation(s, d).as("n")), col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(Tables.region(s, d).as("r")), col("n.n_regionkey") === col("r.r_regionkey"))
        .groupBy(col("r.r_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c.c_acctbal")).as("total_acctbal"))
        .orderBy("r_name")
    },

    // ---- q07: TPC-H Q5-style 6-way join, revenue by nation -----------------
    QueryDef(
      "q07_revenue_by_nation",
      s"""SELECT n.n_name,
         |  ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
         |FROM customer c
         |JOIN orders o   ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         |JOIN nation n   ON s.s_nationkey = n.n_nationkey
         |JOIN region r   ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = 'ASIA'
         |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n.n_name
         |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).as("c")
      val o = Tables.orders(s, d).as("o")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, d).as("l")
      val sup = Tables.supplier(s, d).as("s")
      val n = Tables.nation(s, d).as("n")
      val r = Tables.region(s, d).as("r").filter(col("r_name") === "ASIA")
      c.join(o, col("c.c_custkey") === col("o.o_custkey"))
        .join(l, col("l.l_orderkey") === col("o.o_orderkey"))
        // supplier scales with SF (unbounded) — no forced broadcast; AQE
        // broadcasts it at test SFs from runtime stats and shuffle-joins
        // beyond the threshold
        .join(sup, col("l.l_suppkey") === col("s.s_suppkey")
          && col("c.c_nationkey") === col("s.s_nationkey"))
        .join(broadcast(n), col("s.s_nationkey") === col("n.n_nationkey"))
        .join(broadcast(r), col("n.n_regionkey") === col("r.r_regionkey"))
        .groupBy(col("n.n_name"))
        .agg(dsum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ---- q08: semi join (EXISTS) -------------------------------------------
    QueryDef(
      "q08_semi_join",
      """SELECT c.c_mktsegment, COUNT(*) AS n_big_spenders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |GROUP BY c.c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_big_spenders"))
        .orderBy("c_mktsegment")
    },

    // ---- q09: anti join (NOT EXISTS) ---------------------------------------
    QueryDef(
      "q09_anti_join",
      """SELECT n.n_name, COUNT(*) AS n_orderless
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY n.n_name
        |ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orderless"))
        .orderBy("n_name")
    },

    // ---- q10: window ranking, top-3 orders per customer --------------------
    QueryDef(
      "q10_window_topk",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rk"))
        .filter(col("rk") <= 3)
        .orderBy("o_custkey", "rk")
    },

    // ---- q11: window running sum (deterministic frame order + exact sum) ---
    QueryDef(
      "q11_window_running",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |       OVER (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(18, 4))).over(w).cast("double").as("running_qty"),
          col("l_shipdate"))
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
        .drop("l_shipdate")
    },

    // ---- q12: distinct -----------------------------------------------------
    QueryDef(
      "q12_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- q13: set operations (UNION / INTERSECT / EXCEPT) ------------------
    QueryDef(
      "q13_setops",
      """SELECT 'union' AS op, COUNT(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |UNION ALL
        |SELECT 'intersect' AS op, COUNT(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |UNION ALL
        |SELECT 'except' AS op, COUNT(*) AS n FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY op""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
      val a = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = cust.filter(col("c_acctbal") > 5000).select("c_custkey")
      val u = a.union(b).distinct().agg(count(lit(1)).as("n")).withColumn("op", lit("union"))
      val i = a.intersect(b).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
      val e = a.except(b).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
      u.unionByName(i).unionByName(e).select("op", "n").orderBy("op")
    },

    // ---- q14: rollup with grouping id --------------------------------------
    QueryDef(
      "q14_rollup",
      s"""SELECT l_returnflag, l_linestatus,
         |  GROUPING(l_returnflag, l_linestatus) AS gid,
         |  COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- q15: conditional aggregation (pivot-style) ------------------------
    QueryDef(
      "q15_conditional_agg",
      s"""SELECT l_linestatus,
         |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
         |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
         |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_none,
         |  ${dsumSql("CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END")} AS discounted_price
         |FROM lineitem
         |GROUP BY l_linestatus
         |ORDER BY l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
          sum(when(col("l_returnflag") === "A", 1).otherwise(0)).as("n_accepted"),
          sum(when(col("l_returnflag") === "N", 1).otherwise(0)).as("n_none"),
          dsum(when(col("l_discount") > 0.05, col("l_extendedprice")).otherwise(0)).as("discounted_price"))
        .orderBy("l_linestatus")
    },

    // ---- q16: date functions -----------------------------------------------
    QueryDef(
      "q16_orders_by_month",
      s"""SELECT YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
         |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total
         |FROM orders
         |GROUP BY YEAR(o_orderdate), MONTH(o_orderdate)
         |ORDER BY yr, mo""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("yr", "mo")
    },

    // ---- q17: string functions ---------------------------------------------
    QueryDef(
      "q17_string_funcs",
      """SELECT CONCAT(p_brand, '/', p_type) AS brand_type,
        |  COUNT(*) AS n,
        |  MIN(LENGTH(p_name)) AS min_name_len,
        |  MAX(LENGTH(p_name)) AS max_name_len,
        |  MIN(UPPER(SUBSTRING(p_name, 1, 8))) AS first_name_pfx
        |FROM part
        |GROUP BY CONCAT(p_brand, '/', p_type)
        |ORDER BY brand_type""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .groupBy(concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"))
        .agg(
          count(lit(1)).as("n"),
          min(length(col("p_name")).cast("long")).as("min_name_len"),
          max(length(col("p_name")).cast("long")).as("max_name_len"),
          min(upper(substring(col("p_name"), 1, 8))).as("first_name_pfx"))
        .orderBy("brand_type")
    },

    // ---- q18: LIKE filter --------------------------------------------------
    QueryDef(
      "q18_like_filter",
      """SELECT p_size, COUNT(*) AS n
        |FROM part
        |WHERE p_type LIKE 'ECON%' OR p_name LIKE '%al%'
        |GROUP BY p_size
        |ORDER BY p_size""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_type").like("ECON%") || col("p_name").like("%al%"))
        .groupBy(col("p_size"))
        .agg(count(lit(1)).as("n"))
        .orderBy("p_size")
    },

    // ---- q19: JSON extraction from events.props ----------------------------
    QueryDef(
      "q19_events_json",
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k_val,
         |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY CAST(json_extract_string(props, '$$.k') AS INTEGER)
         |ORDER BY k_val""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("k_val")
    },

    // ---- q20: event-time bucketing (hourly) --------------------------------
    QueryDef(
      "q20_events_hourly",
      s"""SELECT DATE_TRUNC('hour', ts) AS hr, event_type,
         |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY DATE_TRUNC('hour', ts), event_type
         |ORDER BY hr, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("hr", "event_type")
    },

    // ---- q62: ranking-window functions (ntile/percent_rank/cume_dist) ------
    // Completes the window-function surface beyond q10/q11's
    // rank/row_number/running sums. All three emit exact rationals of row
    // counts — identical IEEE division both engines. Unique (qty, okey,
    // lineno) tiebreak keeps every rank deterministic.
    QueryDef(
      "q62_rank_windows",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  nth_value(l_quantity, 2) OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_qty
        |FROM lineitem
        |WHERE l_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          nth_value(col("l_quantity"), 2).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("second_qty"))
        .orderBy("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
    },

    // ---- q61: pivot — event types to columns per user ----------------------
    // relational pivot with an explicit value list (deterministic schema;
    // never pivot on discovered values in production — schema drift).
    // DuckDB replays as conditional aggregation.
    QueryDef(
      "q61_pivot",
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "view", "error"))
        .count()
        .na.fill(0L, Seq("click", "purchase", "view", "error"))
        .orderBy("user_id")
    },

    // ---- q50: dynamic-key JSON props as MapType (SURVEY §1) ----------------
    // from_json with MapType handles JSON objects whose keys are data, not
    // schema — the shape `get_json_object` (q19) can't cover generically.
    QueryDef(
      "q50_props_map",
      """WITH kv AS (SELECT unnest(json_keys(props)) AS key, props FROM events)
        |SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(json_extract(props, '$.' || key) AS BIGINT)) AS BIGINT) AS total
        |FROM kv GROUP BY key ORDER BY key""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(explode(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType))).as(Seq("key", "value")))
        .groupBy("key")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
        .orderBy("key")
    },

    // ---- q48: CUBE with grouping indicators --------------------------------
    QueryDef(
      "q48_cube",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    },

    // ---- q49: exact interpolated percentiles per group ---------------------
    QueryDef(
      "q49_percentiles",
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          percentile(col("l_quantity"), lit(0.9)).as("p90_qty"))
        .orderBy("l_returnflag")
    },

    // ---- q64: approx percentiles, rank-audited against the exact answer ----
    // approx_percentile is the 100 TB path for quantiles (KLL/GK-style
    // sketch — fixed-size state, map-side mergeable); exact percentile
    // (q49) buffers EVERY value of the group in aggregation state, which is
    // OOM-bait on a skewed 100 TB group (see SCALE.md). Sketch VALUES are
    // engine-specific (merge-order-dependent), so the hashable output is
    // the sketch's CONTRACT, not its contents (the q204 upgrade pattern,
    // r16 verdict item 6): for each group the approx value's exact rank —
    // one keyed count pass against the broadcast 5-row percentile table —
    // must land within the published (p ± 1/accuracy)·n band (±1 for
    // floor/ceil convention), and the value must be an actual group
    // element (GK returns data values, never interpolations). The oracle
    // pins the exact columns and the audit booleans to 1, so a sketch
    // regression flips the hash. PercentileSpec holds the same bound in
    // rank space against fully sorted ground truth at test scale.
    QueryDef(
      "q64_approx_percentiles",
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  CAST(1 AS BIGINT) AS approx_median_ok,
        |  CAST(1 AS BIGINT) AS approx_p90_ok,
        |  CAST(1 AS BIGINT) AS member_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val g = li.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
          approx_percentile(col("l_quantity"), lit(0.5), lit(1000)).as("am"),
          approx_percentile(col("l_quantity"), lit(0.9), lit(1000)).as("ap"))
      // exact ranks of the approx values: one map-side-combined pass over
      // lineitem against the broadcast group-sized percentile table
      val ranks = li.select(col("l_returnflag"), col("l_quantity"))
        .join(broadcast(g.select(col("l_returnflag"), col("am"), col("ap"))),
          "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_quantity") < col("am"), 1L).otherwise(0L)).as("lt_m"),
          sum(when(col("l_quantity") <= col("am"), 1L).otherwise(0L)).as("le_m"),
          sum(when(col("l_quantity") < col("ap"), 1L).otherwise(0L)).as("lt_p"),
          sum(when(col("l_quantity") <= col("ap"), 1L).otherwise(0L)).as("le_p"))
      def bandOk(lt: String, le: String, p: Double) =
        (col(lt) <= (lit(p + 0.001) * col("n") + 1.0)) &&
          (col(le) >= (lit(p - 0.001) * col("n") - 1.0))
      g.join(ranks, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("median_qty"), col("p90_qty"),
          when(bandOk("lt_m", "le_m", 0.5), 1L).otherwise(0L)
            .as("approx_median_ok"),
          when(bandOk("lt_p", "le_p", 0.9), 1L).otherwise(0L)
            .as("approx_p90_ok"),
          when(col("le_m") > col("lt_m") && col("le_p") > col("lt_p"), 1L)
            .otherwise(0L).as("member_ok"))
        .orderBy("l_returnflag")
    },

    // ---- q21: sessionization via window lag (gap > 30 min) -----------------
    QueryDef(
      "q21_event_sessions",
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(new_sess) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN CAST(FLOOR(EPOCH(ts)) AS BIGINT)
        |           - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
        |           OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events) t
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sec = col("ts").cast("long")
      Tables.events(s, d)
        .select(col("user_id"),
          when(sec - lag(sec, 1).over(w) > 1800
            || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0).as("new_sess"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
        .orderBy("user_id")
    },

    // ---- q111: skew-safe salted join ---------------------------------------
    // The straggler-killer for hot-key shuffled joins: the fact side is
    // salted `S` ways map-side, the dim side replicated ×S, so a key that
    // holds 30% of 100 TB lands on S reducers instead of one. The salt
    // routes rows but cannot change the result (each fact row meets each
    // matching dim row exactly once), which is precisely what the oracle
    // checks: DuckDB runs the PLAIN join + aggregation, Spark the salted
    // shuffle_hash plan. See operators/Skew.scala for when this beats
    // AQE's runtime skew split.
    QueryDef(
      "q111_salted_join",
      """SELECT c.c_mktsegment AS mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY c.c_mktsegment
        |ORDER BY mktsegment""".stripMargin) { (s, d) =>
      graft.operators.Skew.saltedEquiJoin(
        Tables.events(s, d).select("event_id", "user_id", "value"),
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        factKey = "user_id", dimKey = "c_custkey", saltSrc = "event_id",
        salts = 8)
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
        .orderBy("mktsegment")
    },

    // ---- q112: time-series gap fill + forward fill (resampling) ------------
    // Regularize an event stream onto an hourly grid per user: the grid is
    // exploded map-side from per-user bounds (one row per user feeds the
    // explode — no shuffle amplification), observed hours left-join in,
    // and missing hours forward-fill the last observed value with ONE
    // keyed window pass (per-user sort bounded by the series span). Sums
    // ride DECIMAL so fill values are bit-stable cross-engine; the first
    // grid row of every user is its min observed hour, so no leading null.
    QueryDef(
      "q112_gap_fill",
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS vdec,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1
        |           FROM hourly GROUP BY 1),
        |grid AS (SELECT user_id,
        |           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
        |         FROM bounds),
        |j AS (SELECT g.user_id, g.hr, h.vdec, h.n_obs FROM grid g
        |      LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hr = g.hr)
        |SELECT user_id, hr,
        |  CAST(last_value(vdec IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS hour_value,
        |  COALESCE(n_obs, 0) AS n_obs
        |FROM j ORDER BY user_id, hr""".stripMargin) { (s, d) =>
      val hourly = Tables.events(s, d)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(col("value").cast(DecimalType(18, 4))).as("vdec"),
          count(lit(1)).as("n_obs"))
      val grid = hourly.groupBy("user_id")
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          last(col("vdec"), ignoreNulls = true).over(w)
            .cast("double").as("hour_value"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"))
        .orderBy("user_id", "hr")
    },

    // ---- q113: Z-order values for multi-dimensional data clustering --------
    // The layout key behind Delta/Iceberg OPTIMIZE ZORDER BY: interleave
    // (user_id, hour-index) bits so a table written in z order has
    // row-groups narrow in BOTH dimensions — min/max pruning then works
    // for predicates on either column, where a lexicographic sort only
    // prunes its leading column (ZOrderSpec measures exactly that
    // locality gap). Spark computes z via the native codegen'd
    // [[graft.functions.LayoutExprs.zvalue]] expression (straight-line
    // long arithmetic inside whole-stage codegen); the oracle restates
    // the identical magic-mask spread as SQL bit arithmetic.
    QueryDef(
      "q113_zorder_values", {
        s"""WITH base AS (
           |  SELECT event_id, user_id,
           |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600 AS hidx
           |  FROM events)
           |SELECT event_id, user_id, hidx,
           |  (${zSpreadSql("user_id")} | (${zSpreadSql("hidx")} << 1)) AS z
           |FROM base
           |ORDER BY z, event_id""".stripMargin
      }) { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("CAST(ts AS LONG) div 3600").as("hidx"))
        .select(col("event_id"), col("user_id"), col("hidx"),
          graft.functions.LayoutExprs.zvalue(col("user_id"), col("hidx")).as("z"))
        .orderBy("z", "event_id")
    },

    // ---- q118: schema-generic table profiling ------------------------------
    // The data-profiling pass every ingest runs first: per column, row
    // count, null count, exact distinct count — built programmatically
    // from the schema (the Spark side folds over df.columns; the oracle
    // is generated from the same list), one scan, one aggregation row,
    // unpivoted via stack. Exact multi-column DISTINCT plans an Expand
    // (×cols row multiplier) — fine for a profiling pass; at 100 TB the
    // same fold swaps countDistinct for approx_count_distinct and the
    // Expand disappears (documented trade, cf. q43/q64).
    QueryDef(
      "q118_table_profile", {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        cols.map { c =>
          s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }) { (s, d) =>
      val df = Tables.lineitem(s, d)
      val cols = df.columns.toSeq
      val aggs = count(lit(1)).as("__n") +:
        cols.flatMap(c => Seq(count(col(c)).as(s"__cnt_$c"),
          countDistinct(col(c)).as(s"__dst_$c")))
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', __n, __n - `__cnt_$c`, `__dst_$c`").mkString(", ")
      wide.select(expr(
        s"stack(${cols.size}, $stackArgs) AS (column_name, n, n_null, n_distinct)"))
        .orderBy("column_name")
    },

    // ---- q119: decile binning (ntile) + per-bin stats ----------------------
    // Equal-frequency feature binning: NTILE(10) over a fully-ordered key
    // (price + unique tiebreaker so both engines cut identically), then
    // per-bin count/lo/hi/decimal-sum. The global ntile is an inherently
    // total-order operator — the honest exact form is a single range
    // sort; the 100 TB swap is approx_percentile cut points (q64 family)
    // + a map-side bucket join, trading exact equal counts for fixed-size
    // sketch state. This query pins the exact semantics those cut points
    // approximate.
    QueryDef(
      "q119_quantile_bins",
      """WITH b AS (
        |  SELECT l_extendedprice AS x,
        |    NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
        |                    l_linenumber) AS bin
        |  FROM lineitem)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(x) AS lo, MAX(x) AS hi,
        |  CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM b GROUP BY bin
        |ORDER BY bin""".stripMargin) { (s, d) =>
      val w = Window.orderBy(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_extendedprice").as("x"), ntile(10).over(w).as("bin"))
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("lo"),
          max(col("x")).as("hi"),
          sum(col("x").cast(DecimalType(18, 4))).cast("double").as("total"))
        .orderBy("bin")
    },

    // ---- q120: correlation matrix from exact sums --------------------------
    // Pearson correlation across (quantity, price, discount) in ONE scan:
    // every moment (Σx, Σx², Σxy) accumulates as DECIMAL — exact and
    // associative, so partial aggregation is safe and the cross-engine
    // hash cannot drift with shuffle order. The final corr arithmetic is
    // a fixed double expression tree over identical decimal-cast inputs
    // (bit-identical IEEE ops on both engines), rounded to 8 decimals
    // like every float output here. Spark's built-in corr() aggregates
    // doubles incrementally — order-dependent ulps — which is exactly
    // what this formulation avoids.
    QueryDef(
      "q120_correlation", {
        def corrSql(sx: String, sy: String, sxy: String,
                    sxx: String, syy: String) =
          s"""CAST(CAST((n * $sxy - $sx * $sy) /
             |  (sqrt(n * $sxx - $sx * $sx) * sqrt(n * $syy - $sy * $sy))
             |  AS DECIMAL(18,8)) AS DOUBLE)""".stripMargin.replace("\n", " ")
        """WITH m AS (
          |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
          |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sq,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sp,
          |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sd,
          |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sqq,
          |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS spp,
          |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS sdd,
          |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sqp,
          |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS sqd,
          |    CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS spd
          |  FROM lineitem)
          |SELECT 'quantity_price' AS pair, """.stripMargin +
          corrSql("sq", "sp", "sqp", "sqq", "spp") + " AS corr FROM m\n" +
          "UNION ALL SELECT 'quantity_discount', " +
          corrSql("sq", "sd", "sqd", "sqq", "sdd") + " FROM m\n" +
          "UNION ALL SELECT 'price_discount', " +
          corrSql("sp", "sd", "spd", "spp", "sdd") + " FROM m\n" +
          "ORDER BY pair"
      }) { (s, d) =>
      val dec8 = DecimalType(38, 8)
      val m = Tables.lineitem(s, d).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sq"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast("double").as("sp"),
        sum(col("l_discount").cast(DecimalType(18, 4))).cast("double").as("sd"),
        sum((col("l_quantity") * col("l_quantity")).cast(dec8)).cast("double").as("sqq"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec8)).cast("double").as("spp"),
        sum((col("l_discount") * col("l_discount")).cast(dec8)).cast("double").as("sdd"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(dec8)).cast("double").as("sqp"),
        sum((col("l_quantity") * col("l_discount")).cast(dec8)).cast("double").as("sqd"),
        sum((col("l_extendedprice") * col("l_discount")).cast(dec8)).cast("double").as("spd"))
      def corrCol(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
        ((col("n") * col(sxy) - col(sx) * col(sy)) /
          (sqrt(col("n") * col(sxx) - col(sx) * col(sx)) *
            sqrt(col("n") * col(syy) - col(sy) * col(sy))))
          .cast(DecimalType(18, 8)).cast("double")
      m.select(
        expr("stack(3, 'quantity_price', 0, 'quantity_discount', 1, 'price_discount', 2) AS (pair, __i)"),
        corrCol("sq", "sp", "sqp", "sqq", "spp").as("__c0"),
        corrCol("sq", "sd", "sqd", "sqq", "sdd").as("__c1"),
        corrCol("sp", "sd", "spd", "spp", "sdd").as("__c2"))
        .select(col("pair"),
          when(col("__i") === 0, col("__c0"))
            .when(col("__i") === 1, col("__c1"))
            .otherwise(col("__c2")).as("corr"))
        .orderBy("pair")
    },

    // ---- q121: 24 h moving average per user (RANGE frame) ------------------
    // The time-series smoothing primitive: an event-time RANGE frame (all
    // rows within the trailing 24 h, ties included by value — frame
    // membership is defined by the data, not row position, so it is
    // deterministic even with equal timestamps). One keyed window sort;
    // the decimal numerator keeps the running sums exact so the average
    // is a fixed double division on both engines.
    QueryDef(
      "q121_moving_avg",
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
        |  CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |       / (COUNT(*) OVER w) AS DECIMAL(18,8)) AS DOUBLE) AS avg_24h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-86399L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          col("ts").cast("long").as("sec"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_24h"),
          (sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double")
            / count(lit(1)).over(w))
            .cast(DecimalType(18, 8)).cast("double").as("avg_24h"))
        .orderBy("event_id")
    },

    // ---- q301: daily-volume autocorrelation (lag 1/2/3/7) -------------------
    // The ops-side seasonality probe q21/q123 don't cover: how correlated
    // is today's event volume with k days ago — the number a capacity
    // planner reads before picking a weekly vs daily scaling policy. The
    // day axis is an integer index from the corpus's own min date (no
    // calendar-week ambiguity, fixture-robust); per lag k ∈ {1,2,3,7} the
    // Pearson r over (count(d), count(d+k)) pairs is computed from exact
    // BIGINT sufficient statistics with ONE fixed IEEE tree at the end —
    // the q289/q293 discipline, so the double hash-matches cross-engine.
    //
    // 100 TB shape: the daily-count table is |days|-sized (tiny forever);
    // the corpus pass is one keyed agg with map-side partials, the four
    // lag self-joins run on the tiny table (persisted — 8 consumers).
    QueryDef(
      "q301_daily_autocorrelation",
      """WITH e AS (SELECT CAST(ts AS DATE) AS dt FROM events),
        |b AS (SELECT min(dt) AS d0 FROM e),
        |dc AS (SELECT (dt - (SELECT d0 FROM b)) AS day, COUNT(*) AS c
        |       FROM e GROUP BY 1),
        |lg AS (SELECT unnest([1, 2, 3, 7]) AS lag),
        |pr AS (SELECT l.lag, a.c AS x, bb.c AS y
        |       FROM lg l JOIN dc a ON TRUE
        |       JOIN dc bb ON bb.day = a.day + l.lag),
        |st AS (SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |       FROM pr GROUP BY lag)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
        |  CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
        |  CAST(sxy AS BIGINT) AS sxy,
        |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |           CAST(n * syy - sy * sy AS DOUBLE)) END AS acf
        |FROM st ORDER BY lag""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(to_date(col("ts")).as("dt"))
      val d0 = e.agg(min(col("dt")).as("d0"))
      val dc = e.crossJoin(broadcast(d0)) // 1-row aggregate: statically bounded
        .select(datediff(col("dt"), col("d0")).cast("long").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c")).persist()
      Seq(1L, 2L, 3L, 7L).map { k =>
        val a = dc.select(col("day"), col("c").as("x"))
        val b = dc.select((col("day") - k).as("day"), col("c").as("y"))
        a.join(b, "day").agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
          // zero-variance guard (ADVICE r17): a lag with constant daily
          // counts yields 0/0 — emit NULL identically in both engines
          // instead of an engine-representation-dependent NaN
          .select(lit(k).as("lag"), col("n").as("n_pairs"),
            col("sx"), col("sy"), col("sxy"),
            when((col("n") * col("sxx") - col("sx") * col("sx")) > 0L &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0L,
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                  (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
              .as("acf"))
      }.reduce(_ unionByName _).orderBy("lag")
    },

    // ---- q302: MAD-based outlier census per event type ----------------------
    // The robust-statistics anomaly screen (median absolute deviation —
    // immune to the outliers it hunts, unlike z-scores): per event type,
    // the median value, the MAD, and how many events sit outside
    // median ± 3·MAD. Three passes — median, MAD (median of absolute
    // deviations), flag count — each a keyed agg; the per-type medians
    // ride back via broadcast joins on the BOUNDED event-type dimension.
    // Doubles follow the q49 percentile-interpolation precedent plus one
    // subtraction/multiply per comparison, identical trees both engines.
    QueryDef(
      "q302_mad_outliers",
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med,
        |             COUNT(*) AS n
        |           FROM events GROUP BY event_type),
        |md AS (SELECT e.event_type,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |       FROM events e JOIN m ON m.event_type = e.event_type
        |       GROUP BY e.event_type),
        |fl AS (SELECT e.event_type,
        |         SUM(CASE WHEN abs(e.value - m.med) > 3 * md.mad
        |             THEN 1 ELSE 0 END) AS n_out
        |       FROM events e
        |       JOIN m ON m.event_type = e.event_type
        |       JOIN md ON md.event_type = e.event_type
        |       GROUP BY e.event_type)
        |SELECT m.event_type, CAST(m.n AS BIGINT) AS n_events,
        |  m.med AS med_value, md.mad AS mad_value,
        |  CAST(fl.n_out AS BIGINT) AS n_outliers,
        |  CAST(fl.n_out * 10000 // m.n AS BIGINT) AS outlier_bp
        |FROM m JOIN md ON md.event_type = m.event_type
        |JOIN fl ON fl.event_type = m.event_type
        |ORDER BY m.event_type""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_type"), col("value"))
      val m = e.groupBy("event_type").agg(
        percentile(col("value"), lit(0.5)).as("med"),
        count(lit(1)).as("n"))
      val withMed = e.join(broadcast(m), "event_type") // bounded type dim
      val md = withMed.groupBy("event_type").agg(
        percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      val fl = withMed.join(broadcast(md), "event_type")
        .groupBy("event_type").agg(
          sum(when(abs(col("value") - col("med")) > lit(3d) * col("mad"), 1L)
            .otherwise(0L)).as("n_out"))
      m.join(md, "event_type").join(fl, "event_type")
        .select(col("event_type"), col("n").as("n_events"),
          col("med").as("med_value"), col("mad").as("mad_value"),
          col("n_out").as("n_outliers"),
          expr("CAST(n_out * 10000 div n AS BIGINT)").as("outlier_bp"))
        .orderBy("event_type")
    },

    // ---- q122: funnel conversion (view → click → purchase) -----------------
    // Product-analytics funnel: for each view, the earliest same-user
    // click within 1 h; for each converted view, the earliest purchase
    // within 1 h of that click. Each stage is a bounded event-time range
    // join (same shape as q46 — keyed equi-join plus a time-window
    // predicate, never a free inequality join) followed by a min-
    // aggregation, so stage fan-out is capped by per-user activity in
    // the window. Output is the stage table every funnel chart reads.
    QueryDef(
      "q122_funnel",
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |vc AS (
        |  SELECT v.event_id, v.user_id, MIN(c.ts) AS click_ts
        |  FROM v JOIN c ON c.user_id = v.user_id
        |    AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
        |  GROUP BY v.event_id, v.user_id),
        |vcp AS (
        |  SELECT vc.event_id, vc.user_id
        |  FROM vc JOIN p ON p.user_id = vc.user_id
        |    AND p.ts > vc.click_ts AND p.ts <= vc.click_ts + INTERVAL 1 HOUR
        |  GROUP BY vc.event_id, vc.user_id)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_views,
        |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM v) AS u_views,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM vc) AS n_clicked,
        |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM vc) AS u_clicked,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM vcp) AS n_purchased,
        |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM vcp) AS u_purchased""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      def typed(t: String) = e.filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("ts"))
      val v = typed("view")
      val c = typed("click").select(col("user_id").as("cu"), col("ts").as("cts"))
      val p = typed("purchase").select(col("user_id").as("pu"), col("ts").as("pts"))
      val vc = v.join(c, col("cu") === col("user_id") &&
        col("cts") > col("ts") &&
        col("cts") <= col("ts") + expr("INTERVAL 1 HOUR"))
        .groupBy("event_id", "user_id").agg(min(col("cts")).as("click_ts"))
      val vcp = vc.join(p, col("pu") === col("user_id") &&
        col("pts") > col("click_ts") &&
        col("pts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .groupBy("event_id", "user_id").agg(count(lit(1)).as("__x"))
      // one lazy plan: three 1-row stage aggregates cross-joined — no
      // driver-side counts
      def stage(df: org.apache.spark.sql.DataFrame, n: String, u: String) =
        df.agg(count(lit(1)).as(n), countDistinct(col("user_id")).as(u))
      stage(v, "n_views", "u_views")
        .crossJoin(stage(vc, "n_clicked", "u_clicked"))
        .crossJoin(stage(vcp, "n_purchased", "u_purchased"))
    },

    // ---- q123: cohort retention (first-seen week × activity offset) --------
    // Retention grid: cohort = the user's first-event ISO week, offset =
    // whole weeks between cohort and activity week, cell = distinct
    // active users. Two keyed aggregations (first-seen per user — a
    // partial-agg min — then the cohort×offset distinct count). The
    // cohort table is |users|-sized — an UNBOUNDED cardinality at deploy
    // scale (10^8-10^9 users on 100 TB of events) — so it must NOT carry a
    // forced broadcast hint: AQE broadcasts it when the runtime size is
    // actually small (it is at every test SF) and falls back to a shuffle
    // join when it isn't, which a compile-time hint would have turned into
    // a driver/executor OOM.
    QueryDef(
      "q123_cohort_retention",
      """WITH first_seen AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT e.user_id, f.cohort_week,
        |    CAST((CAST(FLOOR(EPOCH(date_trunc('week', e.ts))) AS BIGINT)
        |      - CAST(FLOOR(EPOCH(f.cohort_week)) AS BIGINT)) // 604800
        |      AS BIGINT) AS week_offset
        |  FROM events e JOIN first_seen f ON f.user_id = e.user_id)
        |SELECT cohort_week, week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM activity
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val firstSeen = e.groupBy("user_id")
        .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
      e.join(firstSeen, "user_id")
        .select(col("user_id"), col("cohort_week"),
          (date_trunc("week", col("ts")).cast("long")
            - col("cohort_week").cast("long")).as("__d"))
        .select(col("user_id"), col("cohort_week"),
          expr("__d div 604800").as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    // ---- q127: zone-map pruning effectiveness by data layout ---------------
    // Quantifies WHY q113's z-order layout exists: partition events into
    // fixed blocks under three write orders (insertion, lexicographic,
    // z-order), compute each block's (user_id, hidx) zone map — the
    // min/max parquet keeps per row group — and count how many blocks a
    // conjunctive range predicate must scan under each layout. Lex prunes
    // its leading column only; z-order prunes BOTH dimensions. The global
    // row_number is layout ANALYSIS (cf. q119's scaladoc on exact total-
    // order ops); at deploy scale zone maps fall out of the write path
    // per-file with no sort at read time — this query is the planner's
    // evidence for choosing the layout, not a per-query cost.
    QueryDef(
      "q127_zonemap_prune", {
        val layouts = Seq(
          ("insertion", "event_id"),
          ("lex", "user_id, hidx, event_id"),
          ("zorder", "zv, event_id"))
        val branches = layouts.map { case (name, key) =>
          s"""SELECT '$name' AS layout, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             |  CAST(SUM(CASE WHEN uhi >= $ZM_USER_LO AND ulo <= $ZM_USER_HI
             |      THEN 1 ELSE 0 END) AS BIGINT) AS scan_user,
             |  CAST(SUM(CASE WHEN hhi >= $ZM_HIDX_LO AND hlo <= $ZM_HIDX_HI
             |      THEN 1 ELSE 0 END) AS BIGINT) AS scan_hidx,
             |  CAST(SUM(CASE WHEN uhi >= $ZM_USER_LO AND ulo <= $ZM_USER_HI
             |      AND hhi >= $ZM_HIDX_LO AND hlo <= $ZM_HIDX_HI
             |      THEN 1 ELSE 0 END) AS BIGINT) AS scan_both
             |FROM (
             |  SELECT blk, MIN(user_id) AS ulo, MAX(user_id) AS uhi,
             |    MIN(hidx) AS hlo, MAX(hidx) AS hhi
             |  FROM (
             |    SELECT ((ROW_NUMBER() OVER (ORDER BY $key) - 1) // $ZM_BLOCK) AS blk,
             |      user_id, hidx
             |    FROM z)
             |  GROUP BY blk)""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH base AS (
           |  SELECT event_id, user_id,
           |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600 AS hidx
           |  FROM events),
           |z AS (
           |  SELECT event_id, user_id, hidx,
           |    (${zSpreadSql("user_id")} | (${zSpreadSql("hidx")} << 1)) AS zv
           |  FROM base)
           |SELECT * FROM (
           |  $branches)
           |ORDER BY layout""".stripMargin
      }) { (s, d) =>
      val base = Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("CAST(ts AS LONG) div 3600").as("hidx"))
        .withColumn("zv",
          graft.functions.LayoutExprs.zvalue(col("user_id"), col("hidx")))
      val layouts = Seq(
        ("insertion", Seq(col("event_id"))),
        ("lex", Seq(col("user_id"), col("hidx"), col("event_id"))),
        ("zorder", Seq(col("zv"), col("event_id"))))
      layouts.map { case (name, key) =>
        val userHit = col("uhi") >= ZM_USER_LO && col("ulo") <= ZM_USER_HI
        val hidxHit = col("hhi") >= ZM_HIDX_LO && col("hlo") <= ZM_HIDX_HI
        base
          .select(col("user_id"), col("hidx"),
            row_number().over(Window.orderBy(key: _*)).as("__rn"))
          .select(col("user_id"), col("hidx"),
            expr(s"CAST((__rn - 1) div $ZM_BLOCK AS BIGINT)").as("blk"))
          .groupBy("blk")
          .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
            min("hidx").as("hlo"), max("hidx").as("hhi"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(userHit, 1L).otherwise(0L)).as("scan_user"),
            sum(when(hidxHit, 1L).otherwise(0L)).as("scan_hidx"),
            sum(when(userHit && hidxHit, 1L).otherwise(0L)).as("scan_both"))
          .select(lit(name).as("layout"), col("n_blocks"),
            col("scan_user"), col("scan_hidx"), col("scan_both"))
      }.reduce(_ unionAll _).orderBy("layout")
    },

    // ---- q128: small-file compaction planning (lakehouse OPTIMIZE) ---------
    // The maintenance pass behind Delta/Iceberg OPTIMIZE: given a file
    // listing (the fixture's documents stand in, one "file" per doc with
    // length(text) as its size), pack consecutive files per partition
    // into ~target-size compaction groups via a running-total prefix sum
    // — bin = cumulative-bytes-before ÷ target, so every group except the
    // last per source lands at ≥ target. One window + one keyed agg, both
    // partitioned by source — embarrassingly parallel across partitions,
    // which is exactly how table services shard compaction planning.
    QueryDef(
      "q128_compaction_plan",
      s"""WITH files AS (
         |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS bytes
         |  FROM documents),
         |binned AS (
         |  SELECT source, doc_id, bytes,
         |    (SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
         |      // $COMPACT_TARGET AS bin
         |  FROM files)
         |SELECT source, CAST(bin AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_files,
         |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM binned
         |GROUP BY source, bin
         |ORDER BY source, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          length(col("text")).cast("long").as("bytes"))
        .withColumn("__cum", sum(col("bytes")).over(w) - col("bytes"))
        .select(col("source"), col("doc_id"), col("bytes"),
          expr(s"CAST(__cum div $COMPACT_TARGET AS BIGINT)").as("bin"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source", "bin")
    },

    // ---- q140: approx-quantile bucket join (q119's documented 100 TB swap) -
    // q119's scaladoc promises the swap; this runs it: approx_percentile
    // cut points (fixed-size mergeable sketch, ONE aggregation — no global
    // sort) collected as the driver-held model (10 doubles, the Ivf
    // pattern), then bucket assignment is a pure map-side expression on
    // the scan. Sketch cut points are engine-specific, so — as q64 — the
    // hashable output is the bucketing's CONTRACT (r16 verdict item 6):
    // per decile bucket, its count within the 2·N/accuracy rank band of
    // N/10 (the bound AnalyticsSpec holds against fully sorted ground
    // truth), buckets ordered and non-overlapping (hi(b) ≤ lo(b+1)), and
    // rows + value mass conserved exactly (decimal sums — sum of
    // per-bucket decimal sums equals the global decimal sum exactly).
    // The oracle pins 10 bucket rows of audit booleans to 1; an empty or
    // out-of-band bucket flips the hash.
    QueryDef(
      "q140_quantile_bucket_join",
      """SELECT CAST(range + 1 AS BIGINT) AS bin,
        |  CAST(1 AS BIGINT) AS band_ok,
        |  CAST(1 AS BIGINT) AS mono_ok,
        |  CAST(1 AS BIGINT) AS rows_ok,
        |  CAST(1 AS BIGINT) AS mass_ok
        |FROM range(0, 10)
        |ORDER BY bin""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      // the model: 9 interior cut points at accuracy 10000
      val cuts = li.agg(expr(
        "approx_percentile(l_extendedprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)")
        .as("c")).head().getSeq[Double](0)
      val bucket = cuts.zipWithIndex.foldLeft(lit(1L)) { case (acc, (cut, i)) =>
        when(col("l_extendedprice") > cut, lit(i.toLong + 2)).otherwise(acc)
      }
      val perBucket = li
        .select(col("l_extendedprice").as("x"), bucket.as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), min(col("x")).as("lo"), max(col("x")).as("hi"),
          sum(col("x").cast(DecimalType(18, 4))).as("total"))
      val tot = li.agg(count(lit(1)).as("n_all"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("mass"))
      // audit over the 10-row decile frame: a dropped (empty) bucket must
      // surface as a 0-audit row, not a missing row — hence the left join
      // from the literal bin universe
      val bins = s.range(1, 11).select(col("id").as("bin"))
      val w = Window.orderBy("bin")
      bins.join(perBucket, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
          col("lo"), col("hi"), coalesce(col("total"),
            lit(0).cast(DecimalType(18, 4))).as("total"))
        .withColumn("next_lo", lead(col("lo"), 1).over(w))
        .crossJoin(broadcast(tot))
        .select(col("bin"),
          when(abs(col("n") - col("n_all") / 10.0) <=
            lit(2.0) * col("n_all") / 10000.0 + 2.0, 1L).otherwise(0L)
            .as("band_ok"),
          when(col("next_lo").isNull || col("hi") <= col("next_lo"), 1L)
            .otherwise(0L).as("mono_ok"),
          when(sum(col("n")).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            === col("n_all"), 1L).otherwise(0L).as("rows_ok"),
          when(sum(col("total")).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            === col("mass"), 1L).otherwise(0L).as("mass_ok"))
        .orderBy("bin")
    },

    // ---- q136: top-k per group via mergeable fixed-k state -----------------
    // The scale path for q10's window top-k: `TopKRows` keeps ≤ k rows of
    // aggregation state per (group, map partition) and merges exactly —
    // the global top-k IS the top-k of unioned partial top-k's — so the
    // shuffle carries k rows per group per partition where the window
    // formulation shuffles and sorts every row (one skewed group = one
    // hot reducer sorting it). Exactness (unlike a sketch) means the
    // result hash-matches the window oracle; AnalyticsSpec additionally
    // pins partitioning-independence.
    QueryDef(
      "q136_topk_mergeable",
      """SELECT l_returnflag, rk, price, okey, lineno FROM (
        |  SELECT l_returnflag, l_extendedprice AS price, l_orderkey AS okey,
        |    CAST(l_linenumber AS BIGINT) AS lineno,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |      AS BIGINT) AS rk
        |  FROM lineitem)
        |WHERE rk <= 5
        |ORDER BY l_returnflag, rk""".stripMargin) { (s, d) =>
      val topk = udaf(new graft.functions.TopKRows(5))
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(topk(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber").cast("long")).as("tk"))
        .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("pos", "row")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rk"),
          col("row._1").as("price"), col("row._2").as("okey"),
          col("row._3").as("lineno"))
        .orderBy("l_returnflag", "rk")
    },

    // ---- q156: EXACT quantiles by iterative range refinement ---------------
    // Completes the quantile ladder: q119 exact-but-total-order, q64/q140
    // approximate-and-scalable — this one is exact AND scalable. The
    // audit/SLA shape ("the exact p99 event time, not a sketch's"):
    // Quantiles.exactPercentiles finds each rank by bucketing the open
    // range into 8192 integer cells per round and counting — one scan +
    // one metadata-sized histogram per round, never a global sort — so a
    // 64-bit domain closes in <= 5 rounds (3 here: the event-time range is
    // ~2^31 us). Ranks are pure counts (no float compare anywhere), so
    // the values are exactly the oracle's ORDER BY row_number picks.
    // Timestamps flow as epoch MICROS end-to-end: Spark's `ts div 1000`
    // nanos read and DuckDB's TIMESTAMP_NS->TIMESTAMP cast both truncate,
    // verified on .000001999/.000001500 ns fixtures.
    QueryDef(
      "q156_exact_quantiles",
      """WITH v AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS x
        |  FROM events WHERE ts IS NOT NULL),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |ks AS (
        |  SELECT p, GREATEST(1, (n.n * p + 99) // 100) AS k
        |  FROM (VALUES (50), (90), (99)) AS t(p) CROSS JOIN n),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v)
        |SELECT CAST(ks.p AS BIGINT) AS p, CAST(ks.k AS BIGINT) AS k,
        |  CAST(r.x AS BIGINT) AS value_us
        |FROM ks JOIN r ON r.rn = ks.k
        |ORDER BY p""".stripMargin) { (s, d) =>
      import s.implicits._
      val res = graft.operators.Quantiles.exactPercentiles(
        Tables.events(s, d).select(unix_micros(col("ts")).as("x")),
        "x", Seq(50, 90, 99))
      res.map { case (p, k, v) => (p.toLong, k, v) }
        .toDF("p", "k", "value_us")
        .orderBy("p")
    },

    // ---- q159: exact WEIGHTED quantiles (char-mass distribution) -----------
    // The corpus question row-quantiles can't answer: "below which doc
    // length does a quarter / half / 90% of the corpus' CHARACTER MASS
    // live?" — the shard-budget and truncation-policy number. Same
    // refinement loop as q156 with per-cell SUM(weight) for COUNT
    // (weight = n_chars here; unweighted is weight 1), ranks in weight
    // units k = ceil(W*p/100), answer = smallest x whose cumulative
    // weight reaches k. Still integer counting end-to-end, still no
    // global sort, still <= 5 rounds on a 64-bit domain.
    QueryDef(
      "q159_weighted_quantiles",
      """WITH v AS (SELECT n_chars AS x FROM documents),
        |g AS (SELECT x, SUM(x) AS wt FROM v GROUP BY x),
        |c AS (SELECT x, SUM(wt) OVER (ORDER BY x) AS cum FROM g),
        |tot AS (SELECT SUM(x) AS tw FROM v),
        |ks AS (
        |  SELECT p, GREATEST(1, (tot.tw * p + 99) // 100) AS k
        |  FROM (VALUES (25), (50), (90)) AS t(p) CROSS JOIN tot)
        |SELECT CAST(ks.p AS BIGINT) AS p, CAST(ks.k AS BIGINT) AS k,
        |  CAST(MIN(c.x) AS BIGINT) AS value
        |FROM ks JOIN c ON c.cum >= ks.k
        |GROUP BY ks.p, ks.k
        |ORDER BY p""".stripMargin) { (s, d) =>
      import s.implicits._
      val res = graft.operators.Quantiles.exactWeightedPercentiles(
        Tables.documents(s, d).select(col("n_chars").as("x")),
        "x", "x", Seq(25, 50, 90))
      res.map { case (p, k, v) => (p.toLong, k, v) }
        .toDF("p", "k", "value")
        .orderBy("p")
    },

    // ---- q160: robust outlier audit via exact median/MAD -------------------
    // Mean/stddev outlier gates (q70's family) are themselves skewed by
    // the outliers they hunt; the robust version needs the median and the
    // median absolute deviation — both EXACT order statistics, both found
    // by q156's refinement loop (two passes, no global sort, two longs on
    // the driver — the Ivf model-holding pattern). The outlier rule
    // |x - med| > 3*MAD then costs one more integer map-side pass. Rank
    // convention k = ceil(n/2) matches Quantiles.exactPercentiles(50)
    // exactly, so the whole audit hash-checks.
    QueryDef(
      "q160_mad_outliers",
      """WITH v AS (SELECT source, n_chars AS x FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |med AS (
        |  SELECT x AS m FROM
        |    (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v) r
        |    JOIN n ON r.rn = GREATEST(1, (n.n * 50 + 99) // 100)),
        |dev AS (SELECT source, x, ABS(x - med.m) AS dv FROM v CROSS JOIN med),
        |mad AS (
        |  SELECT dv AS md FROM
        |    (SELECT dv, ROW_NUMBER() OVER (ORDER BY dv) AS rn FROM dev) r
        |    JOIN n ON r.rn = GREATEST(1, (n.n * 50 + 99) // 100))
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN d.dv > 3 * mad.md THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(MIN(med.m) AS BIGINT) AS median,
        |  CAST(MIN(mad.md) AS BIGINT) AS mad
        |FROM dev d CROSS JOIN med CROSS JOIN mad
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val med = graft.operators.Quantiles
        .exactPercentiles(docs, "x", Seq(50)).head._3
      val dev = docs.withColumn("dv", abs(col("x") - lit(med)))
      val mad = graft.operators.Quantiles
        .exactPercentiles(dev.select(col("dv").as("x")), "x", Seq(50)).head._3
      dev.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dv") > lit(3L * mad), 1L).otherwise(0L)).as("n_outliers"))
        .select(col("source"), col("n_docs"), col("n_outliers"),
          lit(med).as("median"), lit(mad).as("mad"))
        .orderBy("source")
    },

    // ---- q166: PER-GROUP exact quantiles -----------------------------------
    // Completes the quantile family (global q156, weighted q159): exact
    // per-source medians/p90s with every group refining its own range in
    // the SAME rounds — one scan per round covers all groups' open ranges
    // via the broadcast range table, so round count tracks the widest
    // group, not the group count, and driver state is O(groups×percents)
    // triples. The per-group window sort the oracle runs would shuffle
    // and sort every row of every group; here ranks are pure counts.
    QueryDef(
      "q166_grouped_quantiles",
      """WITH v AS (SELECT source, n_chars AS x FROM documents),
        |n AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
        |r AS (SELECT source, x,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS rn
        |      FROM v),
        |ks AS (
        |  SELECT n.source, t.p, GREATEST(1, (n.n * t.p + 99) // 100) AS k
        |  FROM n CROSS JOIN (VALUES (50), (90)) AS t(p))
        |SELECT ks.source, CAST(ks.p AS BIGINT) AS p, CAST(ks.k AS BIGINT) AS k,
        |  CAST(r.x AS BIGINT) AS value
        |FROM ks JOIN r ON r.source = ks.source AND r.rn = ks.k
        |ORDER BY ks.source, p""".stripMargin) { (s, d) =>
      import s.implicits._
      val res = graft.operators.Quantiles.exactGroupPercentiles(
        Tables.documents(s, d).select(col("source"), col("n_chars").as("x")),
        "source", "x", Seq(50, 90))
      res.map { case (g, p, k, v) => (g, p.toLong, k, v) }
        .toDF("source", "p", "k", "value")
        .orderBy("source", "p")
    },

    // ---- q167: per-source robust anomaly gate (grouped median/MAD) ---------
    // q160's corpus-wide gate, localized: each source gets its OWN
    // median and MAD, so a source of long docs doesn't flag every short
    // source as anomalous. Two grouped-refinement passes (q166's engine)
    // produce a groups-sized model that broadcasts back; the
    // |x - med_g| > 3*MAD_g rule is one integer map-side pass. Driver
    // state: two longs per source. The oracle re-derives both statistics
    // from per-group windows.
    QueryDef(
      "q167_grouped_mad_gate",
      """WITH v AS (SELECT source, doc_id, n_chars AS x FROM documents),
        |n AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
        |r AS (SELECT source, x,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS rn
        |      FROM v),
        |med AS (
        |  SELECT n.source, r.x AS m
        |  FROM n JOIN r ON r.source = n.source
        |    AND r.rn = GREATEST(1, (n.n * 50 + 99) // 100)),
        |dev AS (SELECT v.source, v.x, ABS(v.x - med.m) AS dv
        |        FROM v JOIN med ON med.source = v.source),
        |rd AS (SELECT source, dv,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY dv) AS rn
        |      FROM dev),
        |mad AS (
        |  SELECT n.source, rd.dv AS md
        |  FROM n JOIN rd ON rd.source = n.source
        |    AND rd.rn = GREATEST(1, (n.n * 50 + 99) // 100))
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN d.dv > 3 * mad.md THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(MIN(med.m) AS BIGINT) AS median,
        |  CAST(MIN(mad.md) AS BIGINT) AS mad
        |FROM dev d
        |JOIN med ON med.source = d.source
        |JOIN mad ON mad.source = d.source
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val medDf = broadcast(
        graft.operators.Quantiles
          .exactGroupPercentiles(docs, "source", "x", Seq(50))
          .map { case (g, _, _, v) => (g, v) }.toDF("source", "m"))
      val dev = docs.join(medDf, "source")
        .withColumn("dv", abs(col("x") - col("m")))
      val madDf = broadcast(
        graft.operators.Quantiles
          .exactGroupPercentiles(dev, "source", "dv", Seq(50))
          .map { case (g, _, _, v) => (g, v) }.toDF("source", "md"))
      dev.join(madDf, "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dv") > lit(3L) * col("md"), 1L).otherwise(0L)).as("n_outliers"),
          min(col("m")).as("median"), min(col("md")).as("mad"))
        .orderBy("source")
    },

    // ---- q168: chi-square independence audit (length deciles x source) -----
    // The dataset-bias question behind mixture design: is doc length
    // independent of source? Decile cut points come from q156's exact
    // refinement (9 longs of driver state, never a global sort), bucket
    // assignment is a 9-comparison map-side fold, the contingency table
    // is one keyed count densified by a broadcast (buckets x sources)
    // grid — empty cells contribute too, as the textbook statistic
    // requires. Each cell's term is derived in EXACT integers:
    // (obs - exp)^2/exp == (obs*N - rowT*colT)^2 / (N*rowT*colT), one
    // IEEE division of identical integer operands per cell — bit-stable
    // with no rounding step (cf. q133: never re-round a clean quotient).
    QueryDef(
      "q168_chi_square",
      """WITH v AS (SELECT source, n_chars AS x FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
        |cuts AS (
        |  SELECT t.p, r.x AS cut
        |  FROM (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90)) AS t(p)
        |  CROSS JOIN n JOIN r ON r.rn = GREATEST(1, (n.n * t.p + 99) // 100)),
        |b AS (SELECT source,
        |        (SELECT COUNT(*) FROM cuts c WHERE c.cut < v.x) AS bkt
        |      FROM v),
        |ct AS (SELECT bkt, source, COUNT(*) AS obs FROM b GROUP BY bkt, source),
        |rt AS (SELECT bkt, SUM(obs) AS rowt FROM ct GROUP BY bkt),
        |st AS (SELECT source, SUM(obs) AS colt FROM ct GROUP BY source),
        |dense AS (
        |  SELECT rt.bkt, st.source, rt.rowt, st.colt, COALESCE(ct.obs, 0) AS obs
        |  FROM rt CROSS JOIN st
        |  LEFT JOIN ct ON ct.bkt = rt.bkt AND ct.source = st.source)
        |SELECT CAST(bkt AS BIGINT) AS bkt, source, CAST(obs AS BIGINT) AS obs,
        |  CAST((obs * n.n - rowt * colt) * (obs * n.n - rowt * colt) AS DOUBLE) /
        |    CAST(n.n * rowt * colt AS DOUBLE) AS contrib
        |FROM dense CROSS JOIN n
        |ORDER BY bkt, source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val cuts = graft.operators.Quantiles
        .exactPercentiles(docs, "x", (1 to 9).map(_ * 10))
        .map(_._3)
      val bkt = cuts.map(c => when(col("x") > lit(c), 1L).otherwise(0L))
        .reduce(_ + _).as("bkt")
      val ct = docs.select(col("source"), bkt)
        .groupBy("bkt", "source").agg(count(lit(1)).as("obs"))
        .persist()
      val rt = ct.groupBy("bkt").agg(sum(col("obs")).as("rowt"))
      val st = ct.groupBy("source").agg(sum(col("obs")).as("colt"))
      val n = docs.agg(count(lit(1)).as("n"))
      val dense = rt.crossJoin(broadcast(st))
        .join(ct, Seq("bkt", "source"), "left")
        .withColumn("obs", coalesce(col("obs"), lit(0L)))
      val num = col("obs") * col("n") - col("rowt") * col("colt")
      dense.crossJoin(broadcast(n))
        .select(col("bkt"), col("source"), col("obs"),
          ((num * num).cast("double") /
            (col("n") * col("rowt") * col("colt")).cast("double")).as("contrib"))
        .orderBy("bkt", "source")
    },

    // ---- q169: k-anonymity audit over quasi-identifiers --------------------
    // The pre-release privacy check redaction (q69) does not cover:
    // which COMBINATIONS of innocuous attributes isolate a document?
    // Quasi-identifier = (source, lang, length decile by q156's exact
    // cuts); one keyed count gives every equivalence class, and the
    // audit reports the k histogram (classes and rows per
    // min(k, 10) size class) plus the headline below-k=5 exposure — the
    // decision numbers for generalize-or-suppress. All integer counting:
    // one keyed agg over the corpus + a class-sized re-agg.
    QueryDef(
      "q169_k_anonymity",
      """WITH v AS (SELECT source, lang, n_chars AS x FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
        |cuts AS (
        |  SELECT t.p, r.x AS cut
        |  FROM (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90)) AS t(p)
        |  CROSS JOIN n JOIN r ON r.rn = GREATEST(1, (n.n * t.p + 99) // 100)),
        |q AS (SELECT source, lang,
        |        (SELECT COUNT(*) FROM cuts c WHERE c.cut < v.x) AS bkt
        |      FROM v),
        |cls AS (SELECT source, lang, bkt, COUNT(*) AS k FROM q
        |        GROUP BY source, lang, bkt)
        |SELECT CAST(LEAST(k, 10) AS BIGINT) AS k_class,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5
        |FROM cls
        |GROUP BY LEAST(k, 10)
        |ORDER BY k_class""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars").cast("long").as("x"))
      val cuts = graft.operators.Quantiles
        .exactPercentiles(docs, "x", (1 to 9).map(_ * 10))
        .map(_._3)
      val bkt = cuts.map(c => when(col("x") > lit(c), 1L).otherwise(0L))
        .reduce(_ + _).as("bkt")
      docs.select(col("source"), col("lang"), bkt)
        .groupBy("source", "lang", "bkt").agg(count(lit(1)).as("k"))
        .groupBy(least(col("k"), lit(10L)).as("k_class"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("k")).as("n_rows"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).as("rows_below_5"))
        .orderBy("k_class")
    },

    // ---- q171: shuffle-key skew profiler -----------------------------------
    // The pre-flight diagnostic behind every repartition/join-key choice:
    // for each candidate key, the per-key count distribution (n_keys, max,
    // exact p50/p99 via the q156 refinement engine — never a sort of the
    // counts), the skew ratio max/avg, and the salt factor ceil(max/avg)
    // that q111's salted join would need to level it. One keyed count per
    // audited key (partial-agg friendly: the shuffle carries (key, count)
    // partials), then scalar-only math — the whole profile is
    // counts-of-counts-sized driver state. At 100 TB this is the query you
    // run BEFORE picking bucketing/salting, not after the job OOMs.
    QueryDef(
      "q171_key_skew_profile",
      """WITH c1 AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey),
        |s1 AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS c_max FROM c1),
        |r1 AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM c1),
        |q1 AS (SELECT 'lineitem.l_orderkey' AS key_name, s1.n_rows, s1.n_keys, s1.c_max,
        |  (SELECT r.c FROM r1 r, s1 WHERE r.rn = GREATEST(1, (s1.n_keys * 50 + 99) // 100)) AS c_p50,
        |  (SELECT r.c FROM r1 r, s1 WHERE r.rn = GREATEST(1, (s1.n_keys * 99 + 99) // 100)) AS c_p99
        |  FROM s1),
        |c2 AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
        |s2 AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS c_max FROM c2),
        |r2 AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM c2),
        |q2 AS (SELECT 'lineitem.l_partkey' AS key_name, s2.n_rows, s2.n_keys, s2.c_max,
        |  (SELECT r.c FROM r2 r, s2 WHERE r.rn = GREATEST(1, (s2.n_keys * 50 + 99) // 100)) AS c_p50,
        |  (SELECT r.c FROM r2 r, s2 WHERE r.rn = GREATEST(1, (s2.n_keys * 99 + 99) // 100)) AS c_p99
        |  FROM s2),
        |c3 AS (SELECT COUNT(*) AS c FROM events GROUP BY user_id),
        |s3 AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS c_max FROM c3),
        |r3 AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM c3),
        |q3 AS (SELECT 'events.user_id' AS key_name, s3.n_rows, s3.n_keys, s3.c_max,
        |  (SELECT r.c FROM r3 r, s3 WHERE r.rn = GREATEST(1, (s3.n_keys * 50 + 99) // 100)) AS c_p50,
        |  (SELECT r.c FROM r3 r, s3 WHERE r.rn = GREATEST(1, (s3.n_keys * 99 + 99) // 100)) AS c_p99
        |  FROM s3),
        |c4 AS (SELECT COUNT(*) AS c FROM documents GROUP BY source),
        |s4 AS (SELECT SUM(c) AS n_rows, COUNT(*) AS n_keys, MAX(c) AS c_max FROM c4),
        |r4 AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM c4),
        |q4 AS (SELECT 'documents.source' AS key_name, s4.n_rows, s4.n_keys, s4.c_max,
        |  (SELECT r.c FROM r4 r, s4 WHERE r.rn = GREATEST(1, (s4.n_keys * 50 + 99) // 100)) AS c_p50,
        |  (SELECT r.c FROM r4 r, s4 WHERE r.rn = GREATEST(1, (s4.n_keys * 99 + 99) // 100)) AS c_p99
        |  FROM s4)
        |SELECT key_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_keys AS BIGINT) AS n_keys, CAST(c_max AS BIGINT) AS c_max,
        |  CAST(c_p50 AS BIGINT) AS c_p50, CAST(c_p99 AS BIGINT) AS c_p99,
        |  CAST(c_max * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew,
        |  CAST((c_max * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt
        |FROM (SELECT * FROM q1 UNION ALL SELECT * FROM q2
        |      UNION ALL SELECT * FROM q3 UNION ALL SELECT * FROM q4)
        |ORDER BY key_name""".stripMargin) { (s, d) =>
      def profile(df: DataFrame, key: String, label: String): DataFrame = {
        val counts = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        val ps = graft.operators.Quantiles
          .exactPercentiles(counts, "c", Seq(50, 99))
          .map { case (p, _, v) => p -> v }.toMap
        counts
          .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
            max(col("c")).as("c_max"))
          .select(lit(label).as("key_name"), col("n_rows"), col("n_keys"),
            col("c_max"), lit(ps(50)).as("c_p50"), lit(ps(99)).as("c_p99"),
            ((col("c_max") * col("n_keys")).cast("double") /
              col("n_rows").cast("double")).as("skew"),
            expr("(c_max * n_keys + n_rows - 1) div n_rows").as("salt"))
      }
      profile(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey")
        .unionAll(profile(Tables.lineitem(s, d), "l_partkey", "lineitem.l_partkey"))
        .unionAll(profile(Tables.events(s, d), "user_id", "events.user_id"))
        .unionAll(profile(Tables.documents(s, d), "source", "documents.source"))
        .orderBy("key_name")
    },

    // ---- q172: declarative data-quality rulebook ---------------------------
    // The Deequ/great-expectations shape as plain Catalyst aggregates
    // (operators/Rules.scala): every row-local rule over a table folds into
    // ONE conditional-sum scan of it (orders pays one pass for three rules,
    // documents one pass for two), uniqueness is one keyed count + a tiny
    // re-agg, referential integrity one distinct-build left join. Audit cost
    // is per-TABLE, not per-RULE — at 100 TB adding a tenth range check to
    // the book costs zero extra I/O. Thresholds chosen to actually split the
    // fixture (price cap 400k < max 499k, lang whitelist excludes zh,
    // n_chars cap 500 < max 553) so both zero and non-zero violation counts
    // are oracle-pinned; NULL predicate = violation by design.
    QueryDef(
      "q172_quality_rulebook",
      """SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
        |       CAST(n_violations AS BIGINT) AS n_violations
        |FROM (
        |  SELECT 'orders.custkey_not_null' AS rule, COUNT(*) AS n_checked,
        |    SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.totalprice_range', COUNT(*),
        |    SUM(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 400000 THEN 0 ELSE 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.priority_domain', COUNT(*),
        |    SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM') THEN 0 ELSE 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'documents.lang_whitelist', COUNT(*),
        |    SUM(CASE WHEN lang IN ('en','fr','de','es') THEN 0 ELSE 1 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'documents.n_chars_cap', COUNT(*),
        |    SUM(CASE WHEN n_chars >= 0 AND n_chars <= 500 THEN 0 ELSE 1 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'documents.lang_source_unique', SUM(c),
        |    SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
        |  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang, source)
        |  UNION ALL
        |  SELECT 'lineitem.orderkey_fk', COUNT(*),
        |    SUM(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |)
        |ORDER BY rule""".stripMargin) { (s, d) =>
      import graft.operators.Rules
      val orders = Tables.orders(s, d)
      val docs = Tables.documents(s, d)
      Rules.audit(orders, Seq(
          Rules.notNull("orders.custkey_not_null", col("o_custkey")),
          Rules.inRange("orders.totalprice_range", col("o_totalprice"),
            lit(0.0), lit(400000.0)),
          Rules.inSet("orders.priority_domain", col("o_orderpriority"),
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM"))))
        .unionAll(Rules.audit(docs, Seq(
          Rules.inSet("documents.lang_whitelist", col("lang"),
            Seq("en", "fr", "de", "es")),
          Rules.inRange("documents.n_chars_cap", col("n_chars"),
            lit(0L), lit(500L)))))
        .unionAll(Rules.unique("documents.lang_source_unique", docs,
          Seq("lang", "source")))
        .unionAll(Rules.referential("lineitem.orderkey_fk",
          Tables.lineitem(s, d), "l_orderkey", orders, "o_orderkey"))
        .orderBy("rule")
    },

    // ---- q175: l-diversity audit (sensitive-attribute concentration) ------
    // q169's k-anonymity says how many rows share a quasi-identifier class;
    // it says nothing about whether everyone in a class shares the SAME
    // sensitive value — the homogeneity attack k-anonymity misses. Here the
    // quasi-identifier is (source, length-decile by q156's exact cuts), the
    // sensitive attribute is lang, and l = COUNT(DISTINCT lang) per class.
    // Output: the l histogram (classes/rows per diversity level) plus the
    // headline rows in classes below l=3 — the suppress-or-generalize
    // number. Shape: one keyed count-distinct agg (partial-agg friendly:
    // distinct is per (class, lang) pre-agg, classes are bounded) + a
    // class-sized re-agg; the decile cuts are the same driver-held scalars
    // q169 broadcasts.
    QueryDef(
      "q175_l_diversity",
      """WITH v AS (SELECT source, lang, n_chars AS x FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM v),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
        |cuts AS (
        |  SELECT t.p, r.x AS cut
        |  FROM (VALUES (10), (20), (30), (40), (50), (60), (70), (80), (90)) AS t(p)
        |  CROSS JOIN n JOIN r ON r.rn = GREATEST(1, (n.n * t.p + 99) // 100)),
        |q AS (SELECT source, lang,
        |        (SELECT COUNT(*) FROM cuts c WHERE c.cut < v.x) AS bkt
        |      FROM v),
        |cls AS (SELECT source, bkt, COUNT(*) AS k, COUNT(DISTINCT lang) AS l
        |        FROM q GROUP BY source, bkt)
        |SELECT CAST(l AS BIGINT) AS l_class,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS rows_below_3
        |FROM cls
        |GROUP BY l
        |ORDER BY l_class""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars").cast("long").as("x"))
      val cuts = graft.operators.Quantiles
        .exactPercentiles(docs, "x", (1 to 9).map(_ * 10))
        .map(_._3)
      val bkt = cuts.map(c => when(col("x") > lit(c), 1L).otherwise(0L))
        .reduce(_ + _).as("bkt")
      docs.select(col("source"), col("lang"), bkt)
        .groupBy("source", "bkt")
        .agg(count(lit(1)).as("k"), countDistinct(col("lang")).as("l"))
        .groupBy(col("l").as("l_class"))
        .agg(count(lit(1)).as("n_classes"),
          sum(col("k")).as("n_rows"),
          sum(when(col("l") < 3, col("k")).otherwise(0L)).as("rows_below_3"))
        .orderBy("l_class")
    },

    // ---- q181: arbitrary GROUPING SETS (beyond rollup/cube) ----------------
    // q14/q48 cover the rollup and cube lattices; real reporting wants
    // ARBITRARY set lists — here ((flag,status),(status),()) which is
    // neither. Spark plans GROUPING SETS as one Expand over a single scan
    // (each row fans out to its grouping combinations, then one hash agg)
    // — strictly better at 100 TB than the naive union-of-aggregations,
    // which scans the fact table once per set. GROUPING() disambiguates
    // the NULLs of a super-aggregate row from genuine NULL group keys —
    // identical semantics in Spark and DuckDB.
    QueryDef(
      "q181_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val view = "graft_q181_lineitem"
      Tables.lineitem(s, d).createOrReplaceTempView(view)
      s.sql(
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           |  COUNT(*) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
           |FROM $view
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
           |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    },

    // ---- q184: A/B two-proportion z-test ----------------------------------
    // The experiment-readout primitive: users split into variants by a
    // deterministic id hash (here parity — any salted-md5 bucket works the
    // same way, cf. q68), conversion = did the user ever purchase, and the
    // pooled two-proportion z statistic decides significance. Two keyed
    // aggs (per-user conversion flag is a partial-agg max, variant totals
    // a 2-row re-agg) and scalar-only math after — nothing about the test
    // grows with the table. The z expression is a fixed IEEE tree over
    // exact integer counts (divisions + one sqrt, both correctly-rounded
    // in every engine), so even the float output is hash-stable.
    QueryDef(
      "q184_ab_proportion_test",
      """WITH u AS (
        |  SELECT user_id, user_id % 2 AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY user_id),
        |g AS (SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
        |      FROM u GROUP BY variant),
        |w AS (SELECT
        |    MAX(CASE WHEN variant = 0 THEN n END) AS n0,
        |    MAX(CASE WHEN variant = 0 THEN conv END) AS c0,
        |    MAX(CASE WHEN variant = 1 THEN n END) AS n1,
        |    MAX(CASE WHEN variant = 1 THEN conv END) AS c1
        |  FROM g),
        |z AS (SELECT n0, c0, n1, c1,
        |    (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) /
        |      NULLIF(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |           * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |           * (CAST(1 AS DOUBLE) / n0 + CAST(1 AS DOUBLE) / n1)), 0) AS zs
        |  FROM w)
        |SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
        |  CAST(n1 AS BIGINT) AS n_treatment, CAST(c1 AS BIGINT) AS conv_treatment,
        |  CAST(c0 AS DOUBLE) / n0 AS rate_control,
        |  CAST(c1 AS DOUBLE) / n1 AS rate_treatment,
        |  zs AS z_score,
        |  CAST(CASE WHEN abs(zs) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM z""".stripMargin) { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
        .withColumn("variant", col("user_id") % 2)
      val g = u.groupBy("variant")
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
      val w = g.agg(
        max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("conv"))).as("c0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("conv"))).as("c1"))
      val pooled = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
      // degenerate splits (an empty variant, or all-0/all-1 conversions)
      // zero the pooled standard error; NULLIF-guard the division so both
      // engines yield NULL identically instead of Spark/DuckDB disagreeing
      // on a divide-by-zero float (ADVICE r10)
      val se = sqrt(pooled * (lit(1) - pooled) *
        (lit(1).cast("double") / col("n0") + lit(1).cast("double") / col("n1")))
      val zs = (col("c1").cast("double") / col("n1") - col("c0").cast("double") / col("n0")) /
        nullif(se, lit(0d))
      w.select(col("n0"), col("c0"), col("n1"), col("c1"), zs.as("zs"))
        .select(col("n0").as("n_control"), col("c0").as("conv_control"),
          col("n1").as("n_treatment"), col("c1").as("conv_treatment"),
          (col("c0").cast("double") / col("n0")).as("rate_control"),
          (col("c1").cast("double") / col("n1")).as("rate_treatment"),
          col("zs").as("z_score"),
          when(abs(col("zs")) > 1.96, 1L).otherwise(0L).as("significant"))
    },

    // ---- q289: Welch's unequal-variance t-test on a continuous metric ------
    // q184's z-test compares proportions; the release gate for a
    // CONTINUOUS metric (doc length between the English and non-English
    // slices here) is Welch's t (1947 — no equal-variance assumption,
    // the safe default). Sufficient statistics are EXACT BIGINTs — n,
    // Σx, Σx² per group from one conditional agg — and the t statistic
    // + Welch–Satterthwaite df are a FIXED tree of correctly-rounded
    // IEEE ops over them (the q168/q184 discipline: identical operand
    // trees in both engines ⇒ identical doubles, no float aggregation
    // anywhere).
    //
    // 100 TB shape: one map-side-combined scan produces six longs; all
    // float math is driver-free scalar arithmetic on a 1-row frame.
    QueryDef(
      "q289_welch_ttest",
      """WITH g AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp,
        |    COUNT(*) AS n, SUM(n_chars) AS sx,
        |    SUM(n_chars * n_chars) AS sxx
        |  FROM documents GROUP BY 1),
        |w AS (SELECT
        |    MAX(CASE WHEN grp = 0 THEN n END) AS n0,
        |    MAX(CASE WHEN grp = 0 THEN sx END) AS sx0,
        |    MAX(CASE WHEN grp = 0 THEN sxx END) AS sxx0,
        |    MAX(CASE WHEN grp = 1 THEN n END) AS n1,
        |    MAX(CASE WHEN grp = 1 THEN sx END) AS sx1,
        |    MAX(CASE WHEN grp = 1 THEN sxx END) AS sxx1
        |  FROM g),
        |v AS (SELECT n0, sx0, n1, sx1,
        |    (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)
        |      / n0) / (n0 - 1) AS v0,
        |    (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
        |      / n1) / (n1 - 1) AS v1
        |  FROM w),
        |t AS (SELECT n0, sx0, n1, sx1, v0, v1,
        |    (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0) /
        |      NULLIF(sqrt(v1 / n1 + v0 / n0), 0) AS ts,
        |    (v1 / n1 + v0 / n0) * (v1 / n1 + v0 / n0) /
        |      NULLIF((v1 / n1) * (v1 / n1) / (n1 - 1)
        |        + (v0 / n0) * (v0 / n0) / (n0 - 1), 0) AS df
        |  FROM v)
        |SELECT CAST(n0 AS BIGINT) AS n_other,
        |  CAST(sx0 AS DOUBLE) / n0 AS mean_other,
        |  CAST(n1 AS BIGINT) AS n_en,
        |  CAST(sx1 AS DOUBLE) / n1 AS mean_en,
        |  v0 AS var_other, v1 AS var_en,
        |  ts AS t_stat, df AS welch_df,
        |  CAST(CASE WHEN abs(ts) > 1.96 THEN 1 ELSE 0 END AS BIGINT)
        |    AS significant
        |FROM t""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("grp"),
          col("n_chars").cast("long").as("x"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val w = g.agg(
        max(when(col("grp") === 0, col("n"))).as("n0"),
        max(when(col("grp") === 0, col("sx"))).as("sx0"),
        max(when(col("grp") === 0, col("sxx"))).as("sxx0"),
        max(when(col("grp") === 1, col("n"))).as("n1"),
        max(when(col("grp") === 1, col("sx"))).as("sx1"),
        max(when(col("grp") === 1, col("sxx"))).as("sxx1"))
      def vexpr(sxx: String, sx: String, n: String) =
        (col(sxx).cast("double") - col(sx).cast("double") *
          col(sx).cast("double") / col(n)) / (col(n) - 1)
      val v = w.select(col("n0"), col("sx0"), col("n1"), col("sx1"),
        vexpr("sxx0", "sx0", "n0").as("v0"),
        vexpr("sxx1", "sx1", "n1").as("v1"))
      val se2 = col("v1") / col("n1") + col("v0") / col("n0")
      val t = v.select(col("n0"), col("sx0"), col("n1"), col("sx1"),
        col("v0"), col("v1"),
        ((col("sx1").cast("double") / col("n1") -
          col("sx0").cast("double") / col("n0")) /
          nullif(sqrt(se2), lit(0d))).as("ts"),
        (se2 * se2 /
          nullif((col("v1") / col("n1")) * (col("v1") / col("n1")) /
            (col("n1") - 1) +
            (col("v0") / col("n0")) * (col("v0") / col("n0")) /
            (col("n0") - 1), lit(0d))).as("df"))
      t.select(col("n0").as("n_other"),
        (col("sx0").cast("double") / col("n0")).as("mean_other"),
        col("n1").as("n_en"),
        (col("sx1").cast("double") / col("n1")).as("mean_en"),
        col("v0").as("var_other"), col("v1").as("var_en"),
        col("ts").as("t_stat"), col("df").as("welch_df"),
        when(abs(col("ts")) > 1.96, 1L).otherwise(0L).as("significant"))
    },

    // ---- q293: grouped OLS — per-source chars~tokens trend ------------------
    // The per-group least-squares fit every profiling layer ships (trend
    // per segment, calibration slope per source): y = token count on
    // x = n_chars, per source. The five sufficient statistics (n, Σx,
    // Σy, Σxy, Σx², Σy²) are exact BIGINTs from ONE keyed agg — the
    // closed-form slope (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE IEEE
    // division of exact integers, the intercept one more, and r² is a
    // double ratio of exact-integer cross terms (the numerator squared
    // would overflow BIGINT, so both sides convert to double FIRST —
    // fixed tree, identical both engines). Degenerate groups (constant
    // x) NULLIF to null slope identically.
    //
    // 100 TB shape: one map-side-combined keyed agg; the fit itself is
    // group-grid scalar math. Never a per-group collect or solver.
    QueryDef(
      "q293_grouped_ols",
      """WITH g AS (
        |  SELECT source, COUNT(*) AS n,
        |    SUM(n_chars) AS sx,
        |    SUM(len(string_split(text, ' '))) AS sy,
        |    SUM(n_chars * len(string_split(text, ' '))) AS sxy,
        |    SUM(n_chars * n_chars) AS sxx,
        |    SUM(len(string_split(text, ' ')) * len(string_split(text, ' ')))
        |      AS syy
        |  FROM documents GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n,
        |  CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
        |  CAST(n * sxx - sx * sx AS BIGINT) AS var_num,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) AS slope,
        |  (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0)
        |    * CAST(sx AS DOUBLE)) / n AS intercept,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    * CAST(n * sxy - sx * sy AS DOUBLE)
        |    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE)
        |      * CAST(n * syy - sy * sy AS DOUBLE), 0) AS r2
        |FROM g
        |ORDER BY source""".stripMargin) { (s, d) =>
      val toks = size(split(col("text"), " ")).cast("long")
      val g = Tables.documents(s, d)
        .select(col("source"), col("n_chars").cast("long").as("x"),
          toks.as("y"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val covNum = col("n") * col("sxy") - col("sx") * col("sy")
      val varNum = col("n") * col("sxx") - col("sx") * col("sx")
      val varDen = nullif(varNum.cast("double"), lit(0d))
      val slope = covNum.cast("double") / varDen
      g.select(col("source"), col("n"),
          covNum.as("cov_num"), varNum.as("var_num"),
          slope.as("slope"),
          ((col("sy").cast("double") - covNum.cast("double") / varDen *
            col("sx").cast("double")) / col("n")).as("intercept"),
          (covNum.cast("double") * covNum.cast("double") /
            nullif(varNum.cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double"),
              lit(0d))).as("r2"))
        .orderBy("source")
    },

    // ---- q189: pivot with EXPLICIT values (the scale-safe form) ------------
    // The long-to-wide reshape every BI layer asks for: per-source doc
    // counts and char volumes pivoted into one column pair per language.
    // The values list is EXPLICIT (`pivot("lang", Seq(...))`), which is the
    // only form that survives 100 TB: with values given, Catalyst rewrites
    // the pivot into ONE conditional aggregation over ONE scan — no
    // separate job, nothing driver-side. Valueless `pivot("lang")` would
    // first run a driver-side `collect()` of the distinct langs (an eager
    // action hidden inside plan construction) and then embed an unbounded
    // column list — both banned shapes in this library. Absent
    // (source, lang) combos surface as nulls from the pivot and are
    // COALESCEd to 0 explicitly, matching the oracle's conditional-sum
    // semantics; langs outside the explicit list are ignored identically
    // on both engines. The inverse reshape (unpivot/stack) is q172's
    // rulebook scan.
    QueryDef(
      "q189_pivot_lang", {
        val arms = Seq("de", "en", "es", "fr", "zh").map { l =>
          s"""  CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS ${l}_docs,
             |  CAST(COALESCE(SUM(CASE WHEN lang = '$l' THEN n_chars END), 0) AS BIGINT) AS ${l}_chars""".stripMargin
        }.mkString(",\n")
        s"""SELECT source,
           |$arms
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin
      }) { (s, d) =>
      val langs = Seq("de", "en", "es", "fr", "zh")
      val wide = Tables.documents(s, d)
        .groupBy("source")
        .pivot("lang", langs)
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      wide.select(col("source") +: langs.flatMap(l => Seq(
          coalesce(col(s"${l}_docs"), lit(0L)).as(s"${l}_docs"),
          coalesce(col(s"${l}_chars"), lit(0L)).as(s"${l}_chars"))): _*)
        .orderBy("source")
    },

    // ---- q258: Laplace-mechanism noisy count release ------------------------
    // The differential-privacy release shape (Dwork et al., TCC 2006 —
    // the Laplace mechanism): per-group counts published as
    // n + Lap(sensitivity/epsilon), here sensitivity 1 (one doc moves
    // one count) and epsilon 0.25 → scale b = 4. The draw is the
    // standard inverse-CDF transform of one uniform: u ∈ (0,1),
    // noise = −b·sgn(u−1/2)·ln(1−2|u−1/2|). For the oracle the uniform
    // is SEEDED (the portable 60-bit md5 keyed on the group →
    // u = (2m+1)/2^53, exact in IEEE by construction, never 0 or 1), so
    // the mechanism's arithmetic replays bit-for-bit — the ln is the
    // only libm call and follows the q93 DECIMAL(18,8) discipline. A
    // production release swaps the seeded draw for a secret RNG; the
    // seeding is what makes the RELEASE PIPELINE auditable, it is not a
    // privacy guarantee (documented, not hidden).
    //
    // 100 TB shape: one map-side-combined keyed count; the noise is
    // per-GROUP scalar arithmetic on the catalog-sized ledger — free.
    QueryDef(
      "q258_dp_noisy_counts",
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |u AS (
        |  SELECT source, n,
        |    (2 * (('0x' || substring(md5('dp:' || source), 1, 15))::BIGINT
        |      % 4503599627370496) + 1) / 9007199254740992.0 AS uu
        |  FROM c),
        |t AS (SELECT source, n, uu - 0.5 AS tt FROM u),
        |nz AS (
        |  SELECT source, n,
        |    -4.0 * (CASE WHEN tt < 0 THEN -1.0 ELSE 1.0 END) *
        |      CAST(CAST(ln(1.0 - 2.0 * abs(tt)) AS DECIMAL(18,8)) AS DOUBLE)
        |      AS noise
        |  FROM t)
        |SELECT source, n AS n_true, CAST(25 AS BIGINT) AS eps_x100,
        |  noise, n + noise AS noisy_count
        |FROM nz
        |ORDER BY source""".stripMargin) { (s, d) =>
      val m = pmod(
        conv(substring(md5(concat(lit("dp:"), col("source"))), 1, 15), 16, 10)
          .cast("long"),
        lit(4503599627370496L))
      val uu = (m * 2L + 1L).cast("double") / lit(9007199254740992.0)
      Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("tt", uu - 0.5)
        .withColumn("noise",
          lit(-4.0) * when(col("tt") < 0, -1.0).otherwise(1.0) *
            log(lit(1.0) - lit(2.0) * abs(col("tt")))
              .cast(DecimalType(18, 8)).cast("double"))
        .select(col("source"), col("n").as("n_true"),
          lit(25L).as("eps_x100"), col("noise"),
          (col("n") + col("noise")).as("noisy_count"))
        .orderBy("source")
    },

    // ---- q253: streaming incremental HITS over arriving event edges --------
    // The q194/q200/q241 versioned-state pattern applied to q247: the
    // user→item edges ARRIVE (staged 4-file parquet, maxFilesPerTrigger=1)
    // and every micro-batch re-derives hub/authority scores of the graph
    // seen so far. State is the append-only edge store (per-batch
    // increments under batch_id partitions, idempotent dynamic overwrite
    // under at-least-once replay — r19, cf. q303; HITS sums are
    // multiplicity-sensitive, hence the read-side distinct replacing the
    // old merge-side one); per batch the full 4 mutual-reinforcement
    // rounds re-run from uniform inside the Rounds scope. The final
    // batch's output hash-matches batch q247's oracle VERBATIM (mutual
    // reinforcement from uniform is a function of the edge SET, so any
    // batch split yields the same final scores).
    QueryDef(
      "q253_stream_hits", HITS_ORACLE) { (s, d) =>
      val srcDir = stagedEventEdgeBatches(s, d)
      val store = Stage.cleared("graft-q253-hits-", d)
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      val schema = s.read.parquet(srcDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      graft.streaming.Streams.runForeachBatch(s, stream, (batch, batchId) => {
        val ss = batch.sparkSession
        // append-only edge store (r19, cf. q303's surgery): O(batch)
        // write per micro-batch instead of the O(E) full rewrite; the
        // read-side distinct() reproduces the old merge-side distinct
        // exactly (HITS sums are multiplicity-sensitive)
        val edges = s"$store/edges"
        TextDedupPack.appendIncrement(edges, batchId, batch.select("u", "v"))
        val mp = TextDedupPack.readStoreOr(ss, edges, batch.select("u", "v"))
          .select("u", "v").distinct()
        val (h, a) = graft.operators.Graph.hits(mp, "u", "v", 4)
        val scores = a
          .select(lit("authority").as("kind"), col("id"), col("s").as("score"))
          .unionByName(h.select(lit("hub").as("kind"), col("id"),
            col("s").as("score")))
        val scoresV = s"$store/scores_v$batchId"
        scores.write.mode("overwrite").parquet(scoresV)
        latest.set(scoresV)
      })
      Option(latest.get()) match {
        case Some(last) =>
          s.read.parquet(last).orderBy("kind", "id")
        case None =>
          // zero micro-batches fired — match batch q247's empty answer
          s.range(0).select(col("id").cast("string").as("kind"),
            col("id"), col("id").as("score"))
      }
    },

    // ---- q304: WARM-START streaming HITS — the production score path -------
    // q253's sibling with the state carried as HUBS, not just edges (the
    // q303 pattern on the directed bipartite graph): per ingest batch,
    // Graph.warmStartHits runs WARM_HITS_ROUNDS bounded mutual-
    // reinforcement rounds from the previous batch's hub table instead of
    // q253's full 4-round from-uniform replay — the answer to the
    // registry's heaviest bench line (q253 ~10 s = 4 micro-batches × full
    // HITS over the accumulated store). The oracle replays the warm
    // ladder over the deterministic tagged split (see WARM_HITS_ORACLE);
    // state (append-only edge increments + versioned hub vector) is
    // idempotent under at-least-once replay (r19, cf. q303).
    // Per-batch cost: rounds CONSTANT at 2 — measured against q253 in
    // INCREMENTAL_LEDGER.md.
    QueryDef(
      "q304_warm_stream_hits", WARM_HITS_ORACLE) { (s, d) =>
      val srcDir = TextDedupPack.stagedTaggedBatches("graft-q304-src-",
        eventEdges(s, d), "u", "v", d)
      val store = Stage.cleared("graft-q304-hits-", d)
      val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
      val schema = s.read.parquet(srcDir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      graft.streaming.Streams.runForeachBatch(s, stream, (batch, batchId) => {
        val ss = batch.sparkSession
        // append-only edge store (r19, cf. q303/q253): O(batch) write per
        // micro-batch instead of the O(E) full rewrite; read-side
        // distinct() == the old merge-side distinct
        val edges = s"$store/edges"
        TextDedupPack.appendIncrement(edges, batchId, batch.select("u", "v"))
        val mp = TextDedupPack.readStoreOr(ss, edges, batch.select("u", "v"))
          .select("u", "v").distinct()
        val prevHubsV = s"$store/hubs_v${batchId - 1}"
        val (h, a) =
          if (batchId > 0 && new java.io.File(prevHubsV).isDirectory)
            graft.operators.Graph.warmStartHits(mp, "u", "v",
              ss.read.parquet(prevHubsV), iters = WARM_HITS_ROUNDS)
          else graft.operators.Graph.hits(mp, "u", "v", 4)
        h.write.mode("overwrite").parquet(s"$store/hubs_v$batchId")
        val scores = a
          .select(lit("authority").as("kind"), col("id"), col("s").as("score"))
          .unionByName(h.select(lit("hub").as("kind"), col("id"),
            col("s").as("score")))
        val scoresV = s"$store/scores_v$batchId"
        scores.write.mode("overwrite").parquet(scoresV)
        latest.set(scoresV)
      })
      Option(latest.get()) match {
        case Some(last) =>
          s.read.parquet(last).orderBy("kind", "id")
        case None =>
          s.range(0).select(col("id").cast("string").as("kind"),
            col("id"), col("id").as("score"))
      }
    },

    // ---- q247: HITS hubs & authorities over the user→item event graph ------
    // The centrality family's directed member (q109 PageRank, q145
    // personalized PR, q144 LPA are the others): Kleinberg's HITS (JACM
    // 1999) on the bipartite graph of users acting on items
    // (events.user_id → props.k) — hubs are users whose attention spans
    // the important items, authorities are items drawing the attention
    // of important users. Four mutual-reinforcement rounds in the integer
    // fixed-point discipline (Graph.hitsRounds): each vector
    // re-normalized to mean ≈ 1e6 by a DIVISION-ONLY integer step
    // (multiply-then-divide would overflow Long at ~1e5 nodes), so every
    // round is exact integer arithmetic both engines replay bit-for-bit.
    //
    // 100 TB shape: per round two keyed joins of the (deduplicated,
    // checkpointed) edge list against node-sized score tables, two
    // map-side-combined sums, and two 1-row normalization aggregates
    // broadcast back — the Pregel-as-join shape ×2, zero driver-side
    // actions, iterations at the measured Rounds width.
    QueryDef(
      "q247_hits_scores", HITS_ORACLE) { (s, d) =>
      val (h, a) = graft.operators.Graph.hits(eventEdges(s, d), "u", "v", 4)
      a.select(lit("authority").as("kind"), col("id"), col("s").as("score"))
        .unionByName(h.select(lit("hub").as("kind"), col("id"),
          col("s").as("score")))
        .orderBy("kind", "id")
    }
  )

  /** The q247/q253 user→item edge list: distinct (user_id, props.k)
    * pairs from `events` — users acting on items, the bipartite graph
    * HITS was designed for. */
  private def eventEdges(s: SparkSession, d: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(s, d)
      .select(col("user_id").as("u"), k.as("v"))
      .filter(col("v").isNotNull)
      .distinct()
  }

  /** One staged 4-file copy of [[eventEdges]] per sf dir — q253's edge
    * stream (the q247 graph arriving incrementally); cf.
    * TextDedupPack.stagedPairBatches. */
  private def stagedEventEdgeBatches(s: SparkSession, d: String): String =
    Stage.parquet("graft-q253-src-", d)(eventEdges(s, d).repartition(4))

  /** Shared oracle for q247 (batch HITS) and q253 (streaming incremental
    * HITS — same final edge set ⇒ same scores): 4 mutual-reinforcement
    * rounds, each vector re-normalized to mean ≈ 1e6 by the
    * division-only integer step (see Graph.hitsRounds). */
  /** q304's warm-round count per ingest batch (cf. GraphPack's
    * WARM_PR_ROUNDS). */
  private val WARM_HITS_ROUNDS = 2

  /** q304 oracle: FULL REPLAY of the warm-start HITS ladder (r18,
    * verdict item 3 — see GraphPack.WARM_PR_ORACLE for the measured
    * impossibility of matching the from-uniform oracle: HITS is even
    * stronger, the division-only mean renormalization drifts EVERY hub
    * ~0.12% per extra round, so no two round counts ever agree). Batch
    * membership is portable (tag = pmod(u + v, 4)), arrival is tag-
    * ordered; batch 0 runs the cold 4-round ladder, later batches run
    * WARM_HITS_ROUNDS warm rounds from the carried hub table with
    * first-seen hubs at the uniform 1e6 (Graph.warmStartHits' exact
    * recurrence — authorities are recomputed from hubs in round 1, so
    * hubs are the complete state). */
  private lazy val WARM_HITS_ORACLE: String = {
    // every chain CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    // 10-round ladder references each half-round twice (raw + its 1-row
    // normalizer) — inlined, that doubles per half-round into a 2^20
    // expansion that exhausts file handles (same trap as q271's
    // pointer-doubling; the memory-note fix)
    val w = WARM_HITS_ROUNDS
    def rounds(b: Int, n: Int) = (1 to n).map { t =>
      val prevH = if (t == 1) s"b${b}h0" else s"b${b}h${t - 1}"
      s"""b${b}a${t}r AS MATERIALIZED (
         |  SELECT e.v AS id, CAST(SUM(h.s) AS BIGINT) AS s
         |  FROM e$b e JOIN $prevH h ON e.u = h.id GROUP BY e.v),
         |b${b}a${t}t AS MATERIALIZED (SELECT CAST(SUM(s) AS BIGINT) AS tot,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM b${b}a${t}r),
         |b${b}a$t AS MATERIALIZED (
         |  SELECT id, s // greatest(tot // (n * 1000000), 1) AS s
         |  FROM b${b}a${t}r, b${b}a${t}t),
         |b${b}h${t}r AS MATERIALIZED (
         |  SELECT e.u AS id, CAST(SUM(a.s) AS BIGINT) AS s
         |  FROM e$b e JOIN b${b}a$t a ON e.v = a.id GROUP BY e.u),
         |b${b}h${t}t AS MATERIALIZED (SELECT CAST(SUM(s) AS BIGINT) AS tot,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM b${b}h${t}r),
         |b${b}h$t AS MATERIALIZED (
         |  SELECT id, s // greatest(tot // (n * 1000000), 1) AS s
         |  FROM b${b}h${t}r, b${b}h${t}t)""".stripMargin
    }.mkString(",\n")
    val batches = (0 to 3).map { b =>
      val n = if (b == 0) 4 else w
      val prevFinal = if (b == 1) "b0h4" else s"b${b - 1}h$w"
      val graph =
        s"e$b AS MATERIALIZED (SELECT DISTINCT u, v FROM tagged WHERE tag <= $b)"
      val init =
        if (b == 0)
          """b0h0 AS MATERIALIZED (SELECT u AS id, CAST(1000000 AS BIGINT) AS s
            |  FROM (SELECT DISTINCT u FROM e0))""".stripMargin
        else
          s"""b${b}h0 AS MATERIALIZED (SELECT du.u AS id,
             |  CAST(COALESCE(p.s, 1000000) AS BIGINT) AS s
             |  FROM (SELECT DISTINCT u FROM e$b) du
             |  LEFT JOIN $prevFinal p ON p.id = du.u)""".stripMargin
      s"$graph,\n$init,\n${rounds(b, n)}"
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT user_id AS u,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS v
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tagged AS (SELECT u, v, ((u + v) % 4 + 4) % 4 AS tag FROM edges),
       |$batches
       |SELECT kind, id, score FROM (
       |  SELECT 'authority' AS kind, id, s AS score FROM b3a$w
       |  UNION ALL SELECT 'hub', id, s FROM b3h$w)
       |ORDER BY kind, id""".stripMargin
  }

  private lazy val HITS_ORACLE: String = {
    val rounds = (1 to 4).map { t =>
      s"""a${t}r AS (SELECT e.v AS id, CAST(SUM(h.s) AS BIGINT) AS s
         |  FROM edges e JOIN h${t - 1} h ON e.u = h.id GROUP BY e.v),
         |a${t}t AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM a${t}r),
         |a$t AS (SELECT id, s // greatest(tot // (n * 1000000), 1) AS s
         |  FROM a${t}r, a${t}t),
         |h${t}r AS (SELECT e.u AS id, CAST(SUM(a.s) AS BIGINT) AS s
         |  FROM edges e JOIN a$t a ON e.v = a.id GROUP BY e.u),
         |h${t}t AS (SELECT CAST(SUM(s) AS BIGINT) AS tot,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM h${t}r),
         |h$t AS (SELECT id, s // greatest(tot // (n * 1000000), 1) AS s
         |  FROM h${t}r, h${t}t)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT user_id AS u,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS v
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |h0 AS (SELECT u AS id, CAST(1000000 AS BIGINT) AS s
       |  FROM (SELECT DISTINCT u FROM edges)),
       |$rounds
       |SELECT kind, id, score FROM (
       |  SELECT 'authority' AS kind, id, s AS score FROM a4
       |  UNION ALL SELECT 'hub', id, s FROM h4)
       |ORDER BY kind, id""".stripMargin
  }
}
