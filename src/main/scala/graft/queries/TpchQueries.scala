package graft.queries

import graft.{Checkpoint, Tables}
import graft.fns.Fns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core over the TPC-H-ish tables — the bench headliners.
  * These exercise the engine shapes that dominate at 100 TB: wide scans
  * with pushed filters, partial (map-side) aggregation, broadcast of small
  * dimensions, and multi-way equi-joins re-planned by AQE.
  *
  * Money arithmetic goes through DECIMAL so results are independent of
  * partition count / accumulation order (see QDef contract).
  */
object TpchQueries {

  private val d2 = DecimalType(9, 2)

  val defs: Seq[QDef] = Seq(

    // TPC-H Q1 shape: scan-heavy partial aggregation; only 7 of 11 columns
    // read (check ReadSchema), filter pushed to parquet.
    QDef("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2))) * (1 + CAST(l_tax AS DECIMAL(9,2)))) AS DOUBLE) AS sum_charge,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / count(*), 6) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      val qty = col("l_quantity").cast(d2)
      val price = col("l_extendedprice").cast(d2)
      val discPrice = price * (lit(1) - col("l_discount").cast(d2))
      val charge = discPrice * (lit(1) + col("l_tax").cast(d2))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast("double").as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(charge).cast("double").as("sum_charge"),
          round(sum(qty).cast("double") / count(lit(1)), 6).as("avg_qty"),
          round(sum(price).cast("double") / count(lit(1)), 6).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // TPC-H Q3 shape: selective dimension filter → broadcast customer into
    // orders, shuffle join to lineitem, top-k on the aggregate.
    QDef("q3_shipping_priority",
      """SELECT l.l_orderkey AS l_orderkey,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
        |  CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l.l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-01-01 00:00:00").cast("timestamp"))
      l.join(o.join(broadcast(c), col("c_custkey") === col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast(d2) * (lit(1) - col("l_discount").cast(d2)))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    // TPC-H Q5 shape: star join — three broadcast dims (region→nation,
    // supplier) + two fact-side shuffle joins; revenue per nation.
    QDef("q5_local_supplier_volume",
      """SELECT n.n_name AS n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o   ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier sp ON l.l_suppkey = sp.s_suppkey AND c.c_nationkey = sp.s_nationkey
        |JOIN nation n   ON sp.s_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, dir)
      val sp = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("c_custkey") === col("o_custkey"))
        .join(broadcast(sp),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(d2) * (lit(1) - col("l_discount").cast(d2)))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q6 shape: fully-pushed selective scan + single decimal agg —
    // the pure scan-throughput probe (no shuffle at all beyond the final
    // single-row reduce).
    QDef("q6_forecast_revenue",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(d2) * col("l_discount").cast(d2))
          .cast("double").as("revenue"))
    },

    // TPC-H Q18 shape: HAVING on a large aggregate drives a semi join back
    // into the fact tables (A8 + J6 at fact scale).
    QDef("q18_large_orders",
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(l_quantity) > 250)
        |SELECT o.o_orderkey AS o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { (s, dir) =>
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
        .filter(col("q") > 250)
        .select(col("l_orderkey"))
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)
    },

    // TPC-H Q4 shape (priority-bucketed EXISTS): orders in one quarter with
    // at least one lineitem shipped after the order date (the testdata has
    // no commit/receipt dates, so "late-shipped" stands in for the
    // canonical commitdate<receiptdate predicate — same semi-join + group
    // shape). Semi-join keeps the orders side lean before the aggregate.
    QDef("q4_order_priority",
      """SELECT o.o_orderpriority AS o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-07-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // TPC-H Q10 shape: revenue lost to returned items per customer over a
    // quarter — 3-way join with the dimension sides broadcast, decimal
    // revenue, bounded top-20.
    QDef("q10_returned_items",
      """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue,
        |  CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name AS n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-10-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(d2) *
          (lit(1) - col("l_discount").cast(d2))).cast("double").as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal").cast("double").as("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },

    // TPC-H Q2 shape (correlated-min join-back): per-part minimum supply
    // cost, then only the (part, supplier) rows hitting that minimum,
    // enriched through supplier→nation→region. The testdata has no
    // partsupp table, so the (part, supplier) catalog with its cost is
    // derived from lineitem (min extendedprice per pair) — same
    // aggregate → min-per-key → join-back → multi-dim-broadcast shape.
    QDef("q2_min_cost_supplier",
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(CAST(l_extendedprice AS DECIMAL(9,2))) AS cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |mn AS (SELECT l_partkey, MIN(cost) AS min_cost FROM ps GROUP BY l_partkey)
        |SELECT CAST(s.s_acctbal AS DOUBLE) AS s_acctbal, s.s_name AS s_name,
        |       n.n_name AS n_name, p.p_partkey AS p_partkey,
        |       p.p_type AS p_type, CAST(ps.cost AS DOUBLE) AS cost
        |FROM part p
        |JOIN ps ON ps.l_partkey = p.p_partkey
        |JOIN mn ON mn.l_partkey = ps.l_partkey AND ps.cost = mn.min_cost
        |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE p.p_type = 'SMALL' AND p.p_size < 10 AND r.r_name = 'EUROPE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20""".stripMargin) { (s, dir) =>
      // Scale shape: the selective part dim semi-filters the fact BEFORE
      // the (part, supplier) aggregate (the per-part min is unchanged —
      // the filter is on part attributes, so each surviving part keeps its
      // full supplier set), and the correlated min is a window over the
      // aggregated frame rather than a second aggregate joined back —
      // ONE fact scan total (the join-back form scans lineitem twice).
      val p = Tables.part(s, dir)
        .filter(col("p_type") === "SMALL" && col("p_size") < 10)
      val sp = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "EUROPE")
      // r20 (the q21 move): partition by l_partkey ONCE — it satisfies both
      // the (partkey, suppkey) aggregate's clustering and the per-part
      // window's, collapsing two full shuffles of the semi-joined fact
      // rows into one (guide §2.4).
      val ps = Tables.lineitem(s, dir)
        .join(broadcast(p.select(col("p_partkey"))), col("l_partkey") === col("p_partkey"), "left_semi")
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(d2)).as("cost"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      ps.withColumn("min_cost", min(col("cost")).over(w))
        .filter(col("cost") === col("min_cost"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_acctbal").cast("double").as("s_acctbal"), col("s_name"),
          col("n_name"), col("p_partkey"), col("p_type"),
          col("cost").cast("double").as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey")).limit(20)
    },

    // TPC-H Q7 shape (bidirectional nation-pair volume): both nation dims
    // pre-filtered to the IN-list BEFORE broadcasting, disjunctive pair
    // predicate as the post-join residual, revenue per (supp_nation,
    // cust_nation, ship year).
    QDef("q7_nation_volume",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l.l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      // r20: push the nation-pair selectivity INTO the dims before they
      // meet the fact (guide §2.3 "project before the exchange" / §3.2
      // "reduce the big side"). The old order ran lineitem through four
      // joins at full width (orders, customer, supplier all broadcast
      // UNFILTERED) and only dropped rows at the final n1/n2 joins; now
      // the supplier⋈n1 broadcast kills 1 − 2/|nations| of the fact at
      // the FIRST join, and orders arrives pre-semi-joined to the n2
      // customers (12k rows instead of 150k in the broadcast).
      val supN = Tables.supplier(s, dir)
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val ordersN = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
            .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
            .select(col("c_custkey"), col("cust_nation"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ordersN), col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice").cast(d2) *
          (lit(1) - col("l_discount").cast(d2))).cast("double").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // TPC-H Q9 shape (product-line profit by nation and year): LIKE filter
    // on the part dim broadcast into the fact, supplier→nation broadcast,
    // two-level group (nation, year).
    QDef("q9_product_profit",
      """SELECT n.n_name AS nation, year(l.l_shipdate) AS o_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin) { (s, dir) =>
      val p = Tables.part(s, dir).filter(col("p_name").contains("red"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg(sum(col("l_extendedprice").cast(d2) *
          (lit(1) - col("l_discount").cast(d2))).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // TPC-H Q12 shape (shipping-mode priority classes): fact join + CASE
    // conditional counts per group — the "two counters per bucket" pattern
    // over a join (the testdata has no l_shipmode/commitdate, so
    // l_linestatus buckets and the urgency classes come from
    // o_orderpriority — same join + conditional-agg shape).
    QDef("q12_priority_classes",
      """SELECT l.l_linestatus AS l_linestatus,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },

    // TPC-H Q14 shape (promo revenue share): broadcast dim filter inside a
    // global conditional-ratio aggregate — two decimal sums, one division
    // at the end ('ECONOMY' stands in for the PROMO% type prefix).
    QDef("q14_promo_revenue",
      """SELECT round(100.0 * CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
        |    THEN CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))
        |    ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE), 6)
        |  AS promo_revenue_pct
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin) { (s, dir) =>
      val rev = col("l_extendedprice").cast(d2) * (lit(1) - col("l_discount").cast(d2))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-09-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01 00:00:00").cast("timestamp"))
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "ECONOMY", rev).otherwise(lit(0).cast(d2)))
            .cast("double") /
          sum(rev).cast("double"), 6).as("promo_revenue_pct"))
    },

    // TPC-H Q19 shape (disjunctive multi-predicate join): OR of three
    // (brand, size-range, quantity-range) conjunction groups across the
    // join — the optimizer must extract the common equi-key and the
    // per-side CNF factors (brand/size push to the part scan, quantity
    // bounds to the fact scan) while the residual disjunction evaluates
    // post-join.
    QDef("q19_disjunctive_revenue",
      """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity >= 1 AND l.l_quantity <= 11)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity >= 10 AND l.l_quantity <= 20)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity >= 20 AND l.l_quantity <= 30)""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      def grp(brand: String, szHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand && col("p_size").between(1, szHi) &&
          col("l_quantity") >= qLo && col("l_quantity") <= qHi
      l.join(broadcast(p), col("p_partkey") === col("l_partkey") &&
          (grp("Brand#1", 5, 1, 11) || grp("Brand#2", 10, 10, 20) ||
            grp("Brand#3", 15, 20, 30)))
        .agg(sum(col("l_extendedprice").cast(d2) *
          (lit(1) - col("l_discount").cast(d2))).cast("double").as("revenue"))
    },

    // TPC-H Q8 shape (national market share): 7-way join where every
    // dimension chain (part filter, customer→nation→region, supplier→
    // nation) broadcasts into the single fact scan; the only shuffle is
    // the lineitem↔orders equi-join, then a per-year conditional ratio.
    QDef("q8_market_share",
      """WITH v AS (
        | SELECT year(o.o_orderdate) AS o_year,
        |        CAST(l.l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,2))) AS volume,
        |        n2.n_name AS supp_nation
        | FROM lineitem l
        | JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
        | JOIN orders o ON o.o_orderkey = l.l_orderkey
        |   AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o.o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
        | JOIN customer c ON c.c_custkey = o.o_custkey
        | JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        | JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
        | JOIN supplier s ON s.s_suppkey = l.l_suppkey
        | JOIN nation n2 ON n2.n_nationkey = s.s_nationkey)
        |SELECT o_year,
        |  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, dir) =>
      val rev = col("l_extendedprice").cast(d2) * (lit(1) - col("l_discount").cast(d2))
      val p = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <= lit("1997-12-31 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      // customers in the region, reduced to a broadcast key set BEFORE the
      // fact join (semi join: their attributes are never needed)
      val custAsia = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppNation = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0).cast(d2)))
            .cast("double") / sum(rev).cast("double"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },

    // TPC-H Q11 shape (important part value): per-part value aggregate
    // gated on a fraction of the GLOBAL total — the scalar total cross-
    // joins back as a 1-row broadcast, and the threshold compare is
    // integer-scaled decimal (sum*1000 > total) so both engines evaluate
    // it exactly (no decimal-division rounding divergence). The per-part
    // aggregate is eagerly materialized (O(#parts) rows) before the total
    // is derived: it feeds BOTH the scalar total and the HAVING compare,
    // and column pruning gives the two subtrees different ReadSchemas, so
    // without the checkpoint ReuseExchange can't collapse them and the
    // fact table is scanned twice.
    QDef("q11_important_values",
      """WITH v AS (
        |  SELECT l.l_partkey AS partkey,
        |         CAST(l.l_extendedprice AS DECIMAL(9,2)) * CAST(l.l_quantity AS DECIMAL(9,2)) AS val
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_7'),
        |t AS (SELECT SUM(val) AS total FROM v)
        |SELECT v.partkey AS p_partkey, CAST(SUM(v.val) AS DOUBLE) AS value
        |FROM v, t GROUP BY v.partkey, t.total
        |HAVING SUM(v.val) * 1000 > t.total
        |ORDER BY value DESC, p_partkey""".stripMargin) { (s, dir) =>
      val supp7 = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      // one fact scan: reused by total and HAVING
      val perPart = Checkpoint(Tables.lineitem(s, dir)
        .join(broadcast(supp7), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("l_extendedprice").cast(d2) * col("l_quantity").cast(d2))
          .as("val_sum")))
      val total = perPart.agg(sum(col("val_sum")).as("total"))
      perPart.crossJoin(broadcast(total))
        .filter(col("val_sum") * 1000 > col("total"))
        .select(col("p_partkey"), col("val_sum").cast("double").as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    },

    // TPC-H Q13 shape (customer order-count distribution): LEFT join with
    // an extra join-condition predicate (so zero-order customers survive
    // with count 0), then a histogram of the per-key counts — the second
    // aggregate's key space is tiny, so all the weight is in the first.
    QDef("q13_order_distribution",
      """WITH cc AS (
        |  SELECT c.c_custkey AS custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist FROM cc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
            .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q15 shape (top supplier): revenue per supplier, then select
    // the argmax rows via an exact-decimal equality against the 1-row
    // broadcast MAX. The per-supplier aggregate is eagerly materialized
    // (O(#suppliers) rows) before the MAX is derived — it feeds both the
    // scalar MAX and the equality join-back, and without the checkpoint
    // the differing ReadSchemas defeat ReuseExchange and the fact table
    // is scanned twice.
    QDef("q15_top_supplier",
      """WITH r AS (
        |  SELECT l_suppkey AS suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(9,2)) * (1 - CAST(l_discount AS DECIMAL(9,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey),
        |m AS (SELECT MAX(total_rev) AS mx FROM r)
        |SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
        |FROM supplier s JOIN r ON s.s_suppkey = r.suppkey JOIN m ON r.total_rev = m.mx
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      // one fact scan: reused by MAX and join-back
      val r = Checkpoint(Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(sum(col("l_extendedprice").cast(d2) *
          (lit(1) - col("l_discount").cast(d2))).as("total_rev")))
      val m = r.agg(max(col("total_rev")).as("mx"))
      r.join(broadcast(m), col("total_rev") === col("mx"))
        .join(broadcast(Tables.supplier(s, dir)), col("suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev").cast("double").as("total_rev"))
        .orderBy(col("s_suppkey"))
    },

    // TPC-H Q16 shape (supplier-part relationship): NOT IN → broadcast
    // ANTI join applied BEFORE the distinct (cheaper input to the
    // shuffle), distinct (part, supplier) pairs, COUNT(DISTINCT) per part
    // attribute group.
    QDef("q16_part_supplier_cnt",
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |           WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
        |       count(DISTINCT ps.l_suppkey) AS supplier_cnt
        |FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, dir) =>
      val bad = Tables.supplier(s, dir).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val p = Tables.part(s, dir).filter(col("p_brand") =!= "Brand#1" &&
        col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    // AVG becomes a window over the part key on the ALREADY-semi-filtered
    // fact (valid because the filter is on part attributes only, so each
    // surviving part keeps its full row set — one fact scan, one shuffle,
    // vs. the aggregate-and-join-back form's two scans). The 0.2*avg
    // threshold is integer-scaled (5*qty*cnt < sum) so the compare is
    // exact decimal on both engines.
    QDef("q17_small_quantity",
      """WITH pa AS (
        |  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sum_qty, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(9,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
        |JOIN pa ON pa.l_partkey = l.l_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(9,2)) * 5 * pa.cnt < pa.sum_qty""".stripMargin) { (s, dir) =>
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .withColumn("sum_qty", sum(col("l_quantity").cast(d2)).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("l_quantity").cast(d2) * 5 * col("cnt") < col("sum_qty"))
        .agg(round(sum(col("l_extendedprice").cast(d2)).cast("double") / 7.0, 6)
          .as("avg_yearly"))
    },

    // TPC-H Q20 shape (dominant-share suppliers): per-(part, supplier)
    // year volume with the per-part total as a window (reuses the same
    // shuffle), share threshold integer-scaled, survivors reduced to a
    // distinct supplier key set before the dimension joins.
    QDef("q20_dominant_suppliers",
      """WITH pq AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(9,2))) AS sq
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY l_partkey, l_suppkey),
        |pt AS (SELECT l_partkey, SUM(sq) AS ts FROM pq GROUP BY l_partkey),
        |cand AS (
        |  SELECT DISTINCT pq.l_suppkey AS suppkey
        |  FROM pq JOIN pt ON pt.l_partkey = pq.l_partkey
        |  WHERE pq.sq * 10 > pt.ts * 3)
        |SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name
        |FROM supplier s
        |JOIN cand ON cand.suppkey = s.s_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'AMERICA'
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val pSmall = Tables.part(s, dir)
        .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      val cand = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .join(broadcast(pSmall), col("l_partkey") === col("p_partkey"), "left_semi")
        // r20 (the q21 move): one l_partkey exchange shared by the
        // aggregate and the window instead of two (guide §2.4)
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(d2)).as("sq"))
        .withColumn("ts", sum(col("sq")).over(w))
        .filter(col("sq") * 10 > col("ts") * 3)
        .select(col("l_suppkey").as("suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(broadcast(cand), col("s_suppkey") === col("suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    },

    // TPC-H Q21 shape (sole-blame late suppliers): the reference's
    // EXISTS / NOT EXISTS self-join pair re-expressed as ONE per-(order,
    // supplier) aggregate plus a per-order window — the fact is scanned
    // once and shuffled twice (by (order, supplier), then by order)
    // instead of three correlated scans. "Late" = shipped >90 days after
    // the order date (the testdata has no commit/receipt dates).
    QDef("q21_waiting_suppliers",
      """WITH lo AS (
        |  SELECT l.l_orderkey AS okey, l.l_suppkey AS skey,
        |         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |pos AS (SELECT okey, skey, SUM(late) AS late_lines FROM lo GROUP BY okey, skey),
        |od AS (SELECT okey, COUNT(*) AS n_supp,
        |              SUM(CASE WHEN late_lines > 0 THEN 1 ELSE 0 END) AS n_late
        |       FROM pos GROUP BY okey)
        |SELECT s.s_name AS s_name, CAST(SUM(p.late_lines) AS BIGINT) AS numwait
        |FROM pos p
        |JOIN od ON od.okey = p.okey
        |JOIN supplier s ON s.s_suppkey = p.skey
        |WHERE od.n_supp > 1 AND od.n_late = 1 AND p.late_lines > 0
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      // r20: one exchange instead of two — hash-partitioning by okey alone
      // satisfies BOTH the (okey, skey) aggregation's clustering AND the
      // per-order window's, so the explicit repartition is reused by the
      // groupBy and the window (guide §2.4: two operations keyed the same
      // way share one exchange). The former shape shuffled ~the same rows
      // twice: once hash(okey, skey) for the aggregate (lineitem has ~1
      // line per (order, supplier) — map-side combine absorbed nothing),
      // then again hash(okey) for the window.
      val pos = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"))
        .agg(sum(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L).otherwise(0L))
          .as("late_lines"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("okey"))
      pos
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late",
          sum(when(col("late_lines") > 0, 1L).otherwise(0L)).over(w))
        .filter(col("n_supp") > 1 && col("n_late") === 1 &&
          col("late_lines") > 0)
        .join(broadcast(Tables.supplier(s, dir)), col("skey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    },

    // TPC-H Q22 shape (lost customers): scalar above-average balance gate
    // (integer-scaled exact compare against the 1-row broadcast total) +
    // ANTI join against recent orders, grouped by a synthetic country
    // code (the testdata has no phone column).
    QDef("q22_lost_customers",
      """WITH t AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(9,2))) AS s, COUNT(*) AS n
        |           FROM customer WHERE c_acctbal > 0.0)
        |SELECT (c.c_custkey % 7) AS cntrycode, count(*) AS numcust,
        |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(9,2))) AS DOUBLE) AS totacctbal
        |FROM customer c, t
        |WHERE (c.c_custkey % 7) IN (0, 1, 2, 3, 4)
        |  AND CAST(c.c_acctbal AS DECIMAL(9,2)) * t.n > t.s
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin) { (s, dir) =>
      val bal = col("c_acctbal").cast(d2)
      val t = Tables.customer(s, dir).filter(col("c_acctbal") > 0.0)
        .agg(sum(bal).as("s"), count(lit(1)).as("n"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp"))
        .select(col("o_custkey"))
      Tables.customer(s, dir)
        .withColumn("cntrycode", col("c_custkey") % 7)
        .filter(col("cntrycode").isin(0, 1, 2, 3, 4))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(t))
        .filter(bal * col("n") > col("s"))
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          sum(bal).cast("double").as("totacctbal"))
        .orderBy(col("cntrycode"))
    },

    // J3: equi LEFT JOIN enrich (Dashboard_Historical_Final.py:254-270
    // shape) — every order keeps a row even without a matching customer.
    QDef("j3_equi_left_join",
      """SELECT c.c_mktsegment AS mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY mktsegment NULLS FIRST""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Fns.sumMoney(col("o_totalprice")).as("total_price"))
        .orderBy(col("mktsegment").asc_nulls_first)
    }
  )
}
