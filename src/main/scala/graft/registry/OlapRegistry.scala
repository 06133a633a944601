package graft.registry

import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Analytics, Candles, Microstructure, Studies}
import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Query
import graft.SparkEntry._

/** General OLAP over the star schema: TPC-H-shaped queries, stats, layout (SURVEY §2.C).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object OlapRegistry {

  val queries: Seq[Query] = Seq(
    // C. general OLAP --------------------------------------------------------
    Query("q1_pricing", (s, dir) => {
      val d = DecimalType(18, 2)
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(d)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d)).cast("double").as("sum_base"),
          sum(col("l_extendedprice").cast(d) *
            (lit(1).cast(d) - col("l_discount").cast(d))).cast("double").as("sum_disc"),
          count(lit(1)).as("n"))
    },
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc, " +
        "count(*) AS n FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY 1, 2"),
    Query("q3_revenue", (s, dir) => {
      // fact-fact join shuffles on the key (AQE decides broadcast at small
      // SF); the customer dim is explicitly broadcast — no shuffle for it
      // even at 100 TB fact scale.
      val li = Tables.table(s, dir, "lineitem")
      val o = Tables.table(s, dir, "orders")
      val c = Tables.table(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n"))
    },
      s"SELECT c_mktsegment, $RevenueSql AS revenue, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY 1"),
    Query("q5_region", (s, dir) => {
      // broadcast the whole dim chain region->nation->customer, shuffle only
      // the two facts.
      val li = Tables.table(s, dir, "lineitem")
      val o = Tables.table(s, dir, "orders")
      val dims = Tables.table(s, dir, "customer")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n"))
    },
      s"SELECT r_name, n_name, $RevenueSql AS revenue, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2"),
    Query("q7_nation_trade", (s, dir) => {
      // cross-border revenue flows by ship year: ONE fact-fact shuffle on
      // the order key; both nation dim chains broadcast (supplier side and
      // customer side resolve independently — never a second fact shuffle)
      val li = Tables.table(s, dir, "lineitem")
      val o = Tables.table(s, dir, "orders")
      val n = Tables.table(s, dir, "nation")
      val suppN = Tables.table(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = Tables.table(s, dir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n"))
    },
      s"SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        s"$RevenueSql AS revenue, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN (SELECT s_suppkey, n_name AS supp_nation FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey) sn ON l_suppkey = sn.s_suppkey " +
        "JOIN (SELECT c_custkey, n_name AS cust_nation FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey) cn ON o_custkey = cn.c_custkey " +
        "WHERE supp_nation <> cust_nation GROUP BY 1, 2, 3"),
    Query("q8_market_share", (s, dir) => {
      // one supplier nation's share of a region's import revenue per
      // order year: decimal-exact numerator/denominator in ONE aggregation
      // pass (never two scans), region filter pushed into the broadcast
      // customer chain
      val d = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d) *
        (lit(1).cast(d) - col("l_discount").cast(d))
      val li = Tables.table(s, dir, "lineitem")
      val o = Tables.table(s, dir, "orders")
      val suppN = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custAsia = Tables.table(s, dir, "customer")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_0", rev)
              .otherwise(lit(0).cast(d))).cast("double") /
            sum(rev).cast("double"), 6).as("mkt_share"),
          sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
      {
        val num = "CAST(sum(CASE WHEN supp_nation = 'NATION_0' THEN " +
          "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
          "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
          "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)"
        s"SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
          s"round($num / $RevenueSql, 6) AS mkt_share, " +
          s"$RevenueSql AS revenue, count(*) AS n " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN (SELECT c_custkey FROM customer " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA') ca " +
          "ON o_custkey = ca.c_custkey " +
          "JOIN (SELECT s_suppkey, n_name AS supp_nation FROM supplier " +
          "JOIN nation ON s_nationkey = n_nationkey) sn ON l_suppkey = sn.s_suppkey " +
          "GROUP BY 1"
      }),
    Query("q10_returned", (s, dir) => {
      // returned-item revenue per customer: selective returnflag filter
      // pushed to the fact scan, customer->nation chain broadcast
      val li = Tables.table(s, dir, "lineitem")
      val o = Tables.table(s, dir, "orders")
      val custN = Tables.table(s, dir, "customer")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      li.where(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n"))
    },
      s"SELECT c_custkey, c_name, n_name, $RevenueSql AS revenue, count(*) AS n " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' GROUP BY 1, 2, 3"),
    Query("q2_min_cost", (s, dir) => {
      // q2-style correlated scalar subquery, decorrelated: cheapest
      // supplier(s) per part within a region (no partsupp table in this
      // data model — lineitem prices play the supply-cost role). The
      // per-part minimum is a window over the partkey partition (bounded:
      // lineitems-per-part is a data-model constant at any SF — ONE fact
      // shuffle; a min-agg + join-back would shuffle the fact twice, and
      // the per-part min frame outgrows broadcast at scale), supplier and
      // part dim chains broadcast. All min-achieving ties emitted, like
      // TPC-H q2; decimal price equality is exact, so the row set is
      // engine-stable.
      val eur = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "EUROPE")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      val offers = Tables.table(s, dir, "lineitem")
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"), col("s_name"), col("n_name"),
          col("l_extendedprice"))
      val w = Window.partitionBy(col("l_partkey"))
      offers
        .withColumn("min_price", min(col("l_extendedprice")).over(w))
        .where(col("l_extendedprice") === col("min_price"))
        .join(broadcast(Tables.table(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
          col("min_price").cast("double").as("min_price"))
    },
      // q2 replay as the LITERAL correlated scalar subquery — DuckDB
      // decorrelates it itself, proving the Spark window-min plan computes
      // exactly the correlated semantics
      "WITH eur AS (SELECT s_suppkey, s_name, n_name FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "o AS (SELECT l_partkey, s_name, n_name, l_extendedprice " +
        "FROM lineitem JOIN eur ON l_suppkey = s_suppkey) " +
        "SELECT p_partkey, p_brand, s_name, n_name, " +
        "CAST(l_extendedprice AS DOUBLE) AS min_price " +
        "FROM o JOIN part ON p_partkey = o.l_partkey " +
        "WHERE l_extendedprice = (SELECT min(o2.l_extendedprice) FROM o o2 " +
        "WHERE o2.l_partkey = o.l_partkey)"),
    Query("q13_order_dist", (s, dir) => {
      // q13-style left-outer count distribution: orders-per-customer
      // histogram INCLUDING zero-order customers. Orders pre-aggregate to
      // one skinny row per custkey BEFORE the outer join (never join raw
      // facts), the join co-partitions on the same key, and the closing
      // histogram aggregation is count-of-counts scale.
      val oc = Tables.table(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      Tables.table(s, dir, "customer").select(col("c_custkey"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    },
      "SELECT c_count, count(*) AS custdist FROM (" +
        "SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY c_custkey) GROUP BY c_count"),
    Query("q4_order_priority", (s, dir) => {
      // q4-style EXISTS correlated subquery, decorrelated to a LEFT SEMI
      // join: orders with at least one returned line, counted by priority
      // (no commit/receipt dates in this data model — the returnflag
      // plays the late-line predicate's role). The semi join carries NO
      // payload from the inner side and deduplicates by construction —
      // one orderkey shuffle each side, then a 5-key count
      val li = Tables.table(s, dir, "lineitem")
      Tables.table(s, dir, "orders")
        .join(li.where(col("l_returnflag") === "R").select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    },
      // q4 replay as the LITERAL EXISTS correlated subquery — DuckDB turns
      // it into the same semi join the Spark side declares
      "SELECT o_orderpriority, count(*) AS n_orders FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R') " +
        "GROUP BY 1"),
    Query("q18_large_orders", (s, dir) => {
      // q18-style HAVING-subquery shape: orders whose total line quantity
      // exceeds the threshold, with their customer. The lineitem
      // aggregation runs FIRST (one orderkey shuffle, map-side combined,
      // exact decimal sums) and its selective result drives the joins —
      // never a join of raw facts filtered afterwards; customer dim
      // broadcast
      val d = DecimalType(18, 2)
      val big = Tables.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(d)).as("qty"))
        .where(col("qty") > lit(150).cast(d))
      Tables.table(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("qty").cast("double").as("total_qty"))
    },
      "WITH big AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty " +
        "FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) " +
        "SELECT c_custkey, c_name, o_orderkey, o_orderdate, " +
        "CAST(qty AS DOUBLE) AS total_qty " +
        "FROM orders JOIN big ON o_orderkey = l_orderkey " +
        "JOIN customer ON o_custkey = c_custkey"),
    Query("q17_small_quantity", (s, dir) => {
      // q17-style correlated-AVG shape: revenue locked in line items
      // below 20% of their part's average quantity, rolled up by brand.
      // The correlated avg decorrelates to a partkey-partitioned window
      // (ONE fact shuffle, bounded partitions — q2's plan argument);
      // the mean goes through an exact DECIMAL sum / count so the window
      // value is identical under any row order, and the 0.2× threshold
      // compare replays bit-for-bit in the oracle's correlated form
      val d = DecimalType(18, 2)
      val w = Window.partitionBy(col("l_partkey"))
      Tables.table(s, dir, "lineitem")
        .withColumn("avg_qty",
          sum(col("l_quantity").cast(d)).over(w).cast("double") /
            count(lit(1)).over(w))
        .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .join(broadcast(Tables.table(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice").cast(d)).cast("double") / 7.0, 2)
          .as("avg_yearly"), count(lit(1)).as("n"))
    },
      // q17 replay as the LITERAL correlated-avg subquery (decimal-exact
      // mean like the Spark window) — DuckDB decorrelates it itself
      "SELECT p_brand, " +
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly, " +
        "count(*) AS n " +
        "FROM lineitem l JOIN part ON p_partkey = l_partkey " +
        "WHERE l_quantity < 0.2 * (" +
        "SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) " +
        "FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey) " +
        "GROUP BY 1"),
    Query("q22_dormant_value", (s, dir) => {
      // q22-style anti-join + scalar-subquery shape: above-average-
      // balance customers with NO orders since the cutoff (high-value
      // dormant accounts) by nation. The global average is a 1-row
      // broadcast (exact decimal sum / count), NOT EXISTS is a LEFT ANTI
      // join against the date-filtered orders (filter scan-pushed),
      // nation broadcast
      val d = DecimalType(18, 2)
      val c = Tables.table(s, dir, "customer")
      val avgBal = c.where(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(d)).cast("double") /
          count(lit(1))).as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(Tables.table(s, dir, "orders")
          .where(col("o_orderdate") >= lit("2001-01-01").cast("date"))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_custs"),
          sum(col("c_acctbal").cast(d)).cast("double").as("total_bal"))
    },
      // q22 replay: literal scalar subquery + NOT EXISTS anti join
      "SELECT n_name, count(*) AS n_custs, " +
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM customer c JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE c_acctbal > (" +
        "SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) " +
        "FROM customer WHERE c_acctbal > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_orderdate >= DATE '2001-01-01') " +
        "GROUP BY 1"),
    Query("q21_waiting_suppliers", (s, dir) => {
      // q21-style MULTI-EXISTS self-join shape — the last classic
      // correlated pattern: EXISTS + NOT EXISTS against the SAME fact
      // under two aliases. Adapted like q4 (returnflag plays the
      // late-delivery predicate): suppliers who were the SOLE returned-
      // line supplier on a finished multi-supplier order. Decorrelation:
      // EXISTS(other supplier's line) is a LEFT SEMI and NOT EXISTS
      // (other supplier's RETURNED line) a LEFT ANTI on the same fact —
      // both equi on orderkey with the suppkey inequality as the join
      // residual, both sides projected to skinny (orderkey, suppkey)
      // rows BEFORE the shuffle. The fact shuffles once per side at
      // most; l1 arrives at the anti join already hash-partitioned on
      // orderkey from the semi join, so the probe side reuses its
      // partitioning. The orders status filter is a LEFT SEMI with NO
      // broadcast hint: ~50% of orders survive o_orderstatus='F', so a
      // hint would force a fact-scale broadcast (driver hazard at
      // 100 TB) — unhinted, AQE broadcasts only if the filtered side is
      // actually small, else it shuffles on the orderkey partitioning
      // l1 already has. Supplier dim broadcasts after the self-joins
      // have shrunk l1.
      val li = Tables.table(s, dir, "lineitem")
      val l1 = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      l1.join(l2, col("l_orderkey") === col("o2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("o3") &&
          col("l_suppkey") =!= col("s3"), "left_anti")
        .join(Tables.table(s, dir, "orders")
          .where(col("o_orderstatus") === "F").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(broadcast(Tables.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      // q21 replay as the LITERAL double-correlated subquery — EXISTS +
      // NOT EXISTS on lineitem under two aliases; DuckDB decorrelates to
      // the same semi + anti pair the Spark side declares
      "SELECT s_name, count(*) AS numwait " +
        "FROM lineitem l1 JOIN orders ON o_orderkey = l1.l_orderkey " +
        "JOIN supplier ON s_suppkey = l1.l_suppkey " +
        "WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F' " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND l3.l_returnflag = 'R') " +
        "GROUP BY 1"),
    Query("q15_top_supplier", (s, dir) => {
      // q15-style AGGREGATE-OVER-AGGREGATE scalar: supplier(s) whose
      // revenue equals the max over the grouped revenue view. The view is
      // ONE fact shuffle (suppkey, map-side combined, exact decimal
      // sums); the second aggregate runs over the DIM-SCALE view (one
      // row per supplier) and its 1-row max broadcasts back via
      // crossJoin. `rev` feeds TWO branches (the equality probe and the
      // max) — ReuseExchange does NOT dedupe them (measured: the probe
      // branch gets an isnotnull(l_suppkey) filter pushed by the join
      // that de-canonicalizes its subtree vs the max branch — exactly
      // the case Materialize.once exists for), so the view is cut:
      // lineitem is scanned+shuffled once, both branches read the
      // dim-scale checkpoint. PlanAuditSpec pins exactly one lineitem
      // scan. Revenue equality compares DECIMALs (exact, engine-stable)
      // — only the output casts to double. All max-achieving ties
      // emitted, like TPC-H q15.
      val d = DecimalType(18, 2)
      val rev = graft.core.Materialize.once(
        Tables.table(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_extendedprice").cast(d) *
            (lit(1).cast(d) - col("l_discount").cast(d))).as("rev")))
      val maxRev = rev.agg(max(col("rev")).as("max_rev"))
      rev.crossJoin(broadcast(maxRev))
        .where(col("rev") === col("max_rev"))
        .join(broadcast(Tables.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev").cast("double").as("total_revenue"))
    },
      // q15 replay: literal nested-aggregate scalar subquery (max over the
      // same grouped revenue view), decimal-exact so the equality row set
      // is engine-stable
      "WITH revenue AS (SELECT l_suppkey, " +
        "sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev " +
        "FROM lineitem GROUP BY 1) " +
        "SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue " +
        "FROM revenue JOIN supplier ON s_suppkey = l_suppkey " +
        "WHERE rev = (SELECT max(rev) FROM revenue)"),
    Query("q14_promo_share", (s, dir) => {
      // q14 pattern — the CONDITIONAL-RATIO shape: promo revenue share of
      // one ship-month; numerator and denominator computed in ONE
      // aggregation pass (conditional sum, never two scans); the month
      // range is a plain timestamp range pushed to the fact scan
      // (plan-pinned), part dim broadcast
      val d = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d) *
        (lit(1).cast(d) - col("l_discount").cast(d))
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1997-03-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01 00:00:00")))
        .join(broadcast(Tables.table(s, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast(d))).cast("double") * 100.0 /
            sum(rev).cast("double"), 6).as("promo_share"),
          sum(rev).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
      "SELECT round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0 / " +
        s"$RevenueSql, 6) AS promo_share, $RevenueSql AS revenue, " +
        "count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-03-01' " +
        "AND l_shipdate < TIMESTAMP '1997-04-01'"),
    Query("q19_disjunctive", (s, dir) => {
      // q19 pattern — the DISJUNCTIVE-PREDICATE shape: revenue from an OR
      // of three (brand, quantity-range, size-range) conjunctions. The
      // shared p_partkey equi-key keeps this a broadcast HASH join with
      // the disjunction as the residual condition (never a nested loop),
      // and the quantity bound common to every branch is hoisted so it
      // pushes to the parquet scan — the classic OR-factoring test
      val d = DecimalType(18, 2)
      val rev = col("l_extendedprice").cast(d) *
        (lit(1).cast(d) - col("l_discount").cast(d))
      val li = Tables.table(s, dir, "lineitem")
        .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      val p = broadcast(Tables.table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      li.join(p, col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" &&
            col("l_quantity") <= 11 && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#2" &&
            col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#3" &&
            col("l_quantity") >= 20 && col("p_size").between(1, 15))))
        .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n"))
    },
      s"SELECT $RevenueSql AS revenue, count(*) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_quantity >= 1 AND l_quantity <= 30 AND (" +
        "(p_brand = 'Brand#1' AND l_quantity <= 11 AND p_size BETWEEN 1 AND 5) OR " +
        "(p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10) OR " +
        "(p_brand = 'Brand#3' AND l_quantity >= 20 AND p_size BETWEEN 1 AND 15))"),
    Query("q12_late_lines", (s, dir) => {
      // q12 pattern — the FACT-FACT CONDITIONAL-COUNT shape: shipping
      // delay classes (days from order date to ship date — this data
      // model's commit/receipt stand-in) × order-priority mix; both sides
      // project skinny BEFORE the one orderkey shuffle, the priority
      // split is a conditional sum in a single pass (no second scan)
      val li = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val delay = datediff(col("l_shipdate"), col("o_orderdate"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(when(delay <= 30, "fast").when(delay <= 90, "normal")
            .otherwise("slow").as("ship_class"),
          col("o_orderpriority"))
        .groupBy(col("ship_class"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    },
      "SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) <= 30 THEN 'fast' " +
        "WHEN date_diff('day', CAST(o_orderdate AS DATE), " +
        "CAST(l_shipdate AS DATE)) <= 90 THEN 'normal' ELSE 'slow' END AS ship_class, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1"),
    Query("q9_profit", (s, dir) => {
      // q9 pattern — the PROFIT ROLLUP shape: amount = revenue − cost
      // proxy (p_retailprice·l_quantity plays partsupp supplycost's role
      // in this data model) by supplier nation × order year; ONE
      // fact-fact orderkey shuffle with both sides skinny-projected,
      // supplier→nation chain and the name-filtered part dim broadcast
      val d = DecimalType(18, 2)
      val amount = col("l_extendedprice").cast(d) *
        (lit(1).cast(d) - col("l_discount").cast(d)) -
        col("p_retailprice").cast(d) * col("l_quantity").cast(d)
      val li = Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val suppN = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val pWidget = Tables.table(s, dir, "part")
        .where(col("p_name").contains("widget"))
        .select(col("p_partkey"), col("p_retailprice"))
      li.join(broadcast(pWidget), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amount).cast("double").as("profit"), count(lit(1)).as("n"))
    },
      "SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) - " +
        "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) " +
        "AS DOUBLE) AS profit, count(*) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE p_name LIKE '%widget%' GROUP BY 1, 2"),
    Query("q16_supplier_parts", (s, dir) => {
      // q16 pattern — the NOT-IN + COUNT-DISTINCT shape: distinct
      // suppliers serving each (brand, size) part segment, excluding one
      // brand and excluding "complaint" suppliers (negative account
      // balance — the supplier-table predicate playing q16's
      // '%Customer%Complaints%' comment regex). NOT IN decorrelates to a
      // LEFT ANTI against the dim-scale offender set, which BROADCASTS —
      // the fact never shuffles for the exclusion; the distinct supplier
      // count shuffles once on the group keys
      val li = Tables.table(s, dir, "lineitem")
      val complaints = Tables.table(s, dir, "supplier")
        .where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("l_suppkey"))
      val p = Tables.table(s, dir, "part")
        .where(col("p_brand") =!= "Brand#1")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      li.select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(complaints), Seq("l_suppkey"), "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
    },
      "SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#1' AND l_suppkey NOT IN (" +
        "SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2"),
    Query("q20_dominant_suppliers", (s, dir) => {
      // q20 pattern — the NESTED-AGGREGATE SEMI-CHAIN shape: suppliers
      // that DOMINATE (>50% of shipped 1997 quantity) at least one widget
      // part (availqty-vs-half-demand's role in this data model). The
      // per-(part,supplier) aggregate is ONE fact shuffle; the per-part
      // total rides a partkey-partitioned window over that dim-scale
      // frame (bounded partitions — suppliers-per-part is a data-model
      // constant; the q2/q17 argument), dominance compares exact
      // DECIMALs, supplier names broadcast at the end
      val d = DecimalType(18, 2)
      val li = Tables.table(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1997)
        .join(broadcast(Tables.table(s, dir, "part")
          .where(col("p_name").contains("widget")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
      val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(d)).as("qty"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      ps.withColumn("total", sum(col("qty")).over(w))
        .where(col("qty") * 2 > col("total"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_dominated"))
        .join(broadcast(Tables.table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_dominated"))
    },
      "WITH li AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "WHERE p_name LIKE '%widget%' AND year(l_shipdate) = 1997), " +
        "ps AS (SELECT l_partkey, l_suppkey, " +
        "sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty FROM li GROUP BY 1, 2), " +
        "tot AS (SELECT l_partkey, CAST(sum(qty) AS DECIMAL(38,2)) AS total FROM ps GROUP BY 1), " +
        "dom AS (SELECT ps.l_suppkey FROM ps JOIN tot ON tot.l_partkey = ps.l_partkey " +
        "WHERE ps.qty * 2 > tot.total) " +
        "SELECT s_suppkey, s_name, count(*) AS n_dominated " +
        "FROM dom JOIN supplier ON s_suppkey = l_suppkey GROUP BY 1, 2"),
    Query("q11_value_concentration", (s, dir) => {
      // q11 pattern — the HAVING-ABOVE-GLOBAL-FRACTION shape (the last
      // classic TPC-H plan family not yet covered): per-part value within
      // one trade bloc's supplier flow, keeping parts whose value exceeds
      // a fixed fraction of the bloc total. Adapted to this star (no
      // partsupp table): value = extendedprice·(1−discount) over lines
      // supplied by bloc suppliers (nationkey ≡ 0 mod 5 — a deterministic
      // 5-of-25-nation slice that survives any testdata regeneration,
      // where a single literal nation can be supplier-empty at tiny SF).
      // Decorrelation: the bloc restriction is a BROADCAST SEMI on the
      // supplier dim (the fact never shuffles for it); per-part value is
      // ONE fact shuffle on partkey; the scalar bloc total aggregates the
      // DIM-SCALE per-part view and broadcasts back as a 1-row crossJoin
      // (q15's idiom). HAVING compares exact DECIMALs; only output casts.
      val d = DecimalType(18, 2)
      val bloc = Tables.table(s, dir, "supplier")
        .join(broadcast(Tables.table(s, dir, "nation")
          .where(col("n_nationkey") % 5 === 0).select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_suppkey").as("l_suppkey"))
      // perPart feeds BOTH the probe branch and the scalar total — cut it
      // (q15's lesson: ReuseExchange measurably does not dedupe the two
      // branches, so without the cut the fact is scanned+shuffled twice;
      // plan-pinned to one lineitem scan)
      val perPart = graft.core.Materialize.once(
        Tables.table(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            (col("l_extendedprice").cast(d) *
              (lit(1).cast(d) - col("l_discount").cast(d))).as("v"))
          .join(broadcast(bloc), Seq("l_suppkey"), "left_semi")
          .groupBy(col("l_partkey"))
          .agg(sum(col("v")).as("value")))
      val total = perPart.agg(sum(col("value")).as("bloc_total"),
        count(lit(1)).as("n_parts"))
      // SCALE-INVARIANT concentration bar — "above 2× the mean part
      // value", compared as value·n > 2·total: decimal×integer is exact
      // in every engine (a fixed fraction like q11's 0.0001/SF empties
      // at larger part counts; a double fraction rounds differently per
      // engine at the boundary)
      perPart.crossJoin(broadcast(total))
        .where(col("value") * col("n_parts") > col("bloc_total") * lit(2))
        .select(col("l_partkey").as("p_partkey"),
          col("value").cast("double").as("value"))
    },
      "WITH bloc AS (SELECT s_suppkey FROM supplier JOIN nation " +
        "ON s_nationkey = n_nationkey WHERE n_nationkey % 5 = 0), " +
        "pp AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS value " +
        "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM bloc) " +
        "GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(value) AS DECIMAL(38,4)) AS bloc_total, count(*) AS n_parts FROM pp) " +
        "SELECT l_partkey AS p_partkey, CAST(value AS DOUBLE) AS value " +
        "FROM pp, tot WHERE value * n_parts > bloc_total * 2"),
    Query("supplier_nation_revenue", (s, dir) => {
      // supplier-side dim chain (supplier→nation) broadcast, fact shuffles
      // only for the final aggregation — q5's sibling covering the two
      // otherwise-unused dimension tables
      val li = Tables.table(s, dir, "lineitem")
      li.join(broadcast(Tables.table(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
    },
      s"SELECT n_name, $RevenueSql AS revenue, count(*) AS n, " +
        "count(DISTINCT s_suppkey) AS n_suppliers " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey GROUP BY 1"),
    Query("brand_revenue", (s, dir) => {
      val d = DecimalType(18, 2)
      Tables.table(s, dir, "lineitem")
        .join(broadcast(Tables.table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(revenue.as("revenue"),
          sum(col("l_quantity").cast(d)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    },
      s"SELECT p_brand, $RevenueSql AS revenue, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1"),
    Query("rollup_sales", (s, dir) => {
      val d = DecimalType(18, 2)
      Tables.table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(d)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    },
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
    Query("cube_sales", (s, dir) => {
      // full CUBE: all four grouping-set combinations in one Expand-based
      // aggregation pass (the rollup's lattice-complete sibling)
      val d = DecimalType(18, 2)
      Tables.table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(d)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    },
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"),
    Query("pivot_events", (s, dir) => {
      val d = DecimalType(18, 2)
      val e = Tables.events(s, dir)
      def cnt(t: String) = count(when(col("event_type") === t, 1)).as(s"n_$t")
      e.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"),
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0)).cast(d)).cast("double").as("purchase_value"))
    },
      "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
        "count(*) FILTER (WHERE event_type = 'click') AS n_click, " +
        "count(*) FILTER (WHERE event_type = 'view') AS n_view, " +
        "count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase, " +
        "count(*) FILTER (WHERE event_type = 'signup') AS n_signup, " +
        "count(*) FILTER (WHERE event_type = 'error') AS n_error, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value " +
        "FROM events GROUP BY 1"),
    Query("distinct_users", (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n")),
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n FROM events GROUP BY 1"),
    Query("spend_quartiles", (s, dir) => {
      // exact global NTILE without the single-partition window trap:
      // range-partitioned rank + arithmetic bucketing (ops.Rank scaladoc)
      val d = DecimalType(18, 2)
      val spend = Tables.table(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(sum(col("o_totalprice").cast(d)).cast("double").as("spend"))
      graft.ops.Rank.withNtile(spend, 4,
          Seq(col("spend").desc, col("custkey")), "quartile")
        .withColumnRenamed("rank", "spend_rank")
    },
      "WITH sp AS (SELECT o_custkey AS custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend FROM orders GROUP BY 1) " +
        "SELECT custkey, spend, " +
        "row_number() OVER (ORDER BY spend DESC, custkey) AS spend_rank, " +
        "CAST(ntile(4) OVER (ORDER BY spend DESC, custkey) AS BIGINT) AS quartile FROM sp"),
    Query("rfm_segments", (s, dir) => {
      // classic RFM segmentation: recency/frequency/monetary quartiles per
      // customer — three exact global NTILEs via ops.Rank (range-partition
      // sort + zipWithIndex each; no single-partition window anywhere)
      val d = DecimalType(18, 2)
      val b0 = graft.core.Materialize.once(Tables.table(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast(d)).cast("double").as("monetary")))
      val mx = b0.agg(max(col("last_order")).as("max_date"))
      val base = b0.crossJoin(broadcast(mx))
        .withColumn("recency_days",
          datediff(col("max_date"), col("last_order")).cast("long"))
        .select(col("custkey"), col("recency_days"), col("frequency"), col("monetary"))
      val withR = graft.ops.Rank.withNtile(base, 4,
        Seq(col("recency_days"), col("custkey")), "r_q").drop("rank")
      val withF = graft.ops.Rank.withNtile(withR, 4,
        Seq(col("frequency").desc, col("custkey")), "f_q").drop("rank")
      graft.ops.Rank.withNtile(withF, 4,
          Seq(col("monetary").desc, col("custkey")), "m_q").drop("rank")
        .withColumn("rfm", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
    },
      "WITH base AS (SELECT o_custkey AS custkey, max(o_orderdate) AS last_order, " +
        "count(*) AS frequency, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary " +
        "FROM orders GROUP BY 1), " +
        "mx AS (SELECT max(last_order) AS max_date FROM base), " +
        "b2 AS (SELECT custkey, CAST(date_diff('day', last_order, max_date) AS BIGINT) AS recency_days, " +
        "frequency, monetary FROM base, mx) " +
        "SELECT custkey, recency_days, frequency, monetary, r_q, f_q, m_q, " +
        "r_q * 100 + f_q * 10 + m_q AS rfm FROM (" +
        "SELECT custkey, recency_days, frequency, monetary, " +
        "CAST(ntile(4) OVER (ORDER BY recency_days, custkey) AS BIGINT) AS r_q, " +
        "CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS BIGINT) AS f_q, " +
        "CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS BIGINT) AS m_q FROM b2) x"),
    Query("gini_by_nation", (s, dir) => {
      // revenue-concentration (Gini) per nation over customer spend. The
      // rank-weighted sum Σ(rank·spend) stays EXACT: rank as DECIMAL(10,0)
      // × DECIMAL(18,2) spend sums without float drift, so the only
      // doubles are the final closed-form ratio (one fixed association
      // order, rounded). Per-nation row_number windows stream with O(1)
      // state — the single-partition trap only applies to GLOBAL windows.
      val d = DecimalType(18, 2)
      val spend = Tables.table(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(sum(col("o_totalprice").cast(d)).as("spend"))
      val cust = Tables.table(s, dir, "customer")
        .join(broadcast(Tables.table(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("spend"), col("c_custkey"))
      spend.join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("c_custkey"), col("spend"))
        .withColumn("rk", row_number().over(w).cast(DecimalType(10, 0)))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("spend")).cast("double").as("total_spend"),
          // per-customer spend re-narrowed to DECIMAL(18,2) so the product
          // stays inside exact decimal range on both engines
          sum(col("rk") * col("spend").cast(d)).cast("double").as("s_ix"))
        .select(col("n_name"), col("n_customers"),
          col("total_spend"),
          round(lit(2.0) * col("s_ix") / (col("n_customers") * col("total_spend")) -
            (col("n_customers") + 1).cast("double") / col("n_customers"), 6)
            .as("gini"))
    },
      "WITH sp AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend " +
        "FROM orders GROUP BY 1), " +
        "j AS (SELECT n.n_name, c.c_custkey, CAST(sp.spend AS DECIMAL(18,2)) AS spend " +
        "FROM sp JOIN customer c ON sp.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey), " +
        "r AS (SELECT n_name, c_custkey, spend, " +
        "row_number() OVER (PARTITION BY n_name ORDER BY spend, c_custkey) AS rk FROM j), " +
        "a AS (SELECT n_name, count(*) AS n_customers, CAST(sum(spend) AS DOUBLE) AS total_spend, " +
        "CAST(sum(CAST(rk AS DECIMAL(10,0)) * spend) AS DOUBLE) AS s_ix FROM r GROUP BY 1) " +
        "SELECT n_name, n_customers, total_spend, " +
        "round(2.0 * s_ix / (n_customers * total_spend) - " +
        "CAST(n_customers + 1 AS DOUBLE) / n_customers, 6) AS gini FROM a"),
    Query("q6_selective", (s, dir) => {
      // range-predicate showcase: every filter reaches the parquet scan
      val d = DecimalType(18, 2)
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1994-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(d) * col("l_discount").cast(d))
          .cast("double").as("revenue"), count(lit(1)).as("n"))
    },
      "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(*) AS n FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    Query("customers_no_orders", (s, dir) =>
      // anti join: customers with NO high-value order (NOT EXISTS)
      Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders").where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name")),
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_totalprice > 300000)"),
    Query("big_spender_segments", (s, dir) =>
      // semi join: EXISTS with a pushed-down predicate on the inner side
      Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders").where(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")),
      "SELECT c_mktsegment, count(*) AS n FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000) " +
        "GROUP BY 1"),
    Query("value_percentiles", (s, dir) =>
      // exact percentiles (linear interpolation both engines); rounded so
      // co-moment accumulation order can't flip the last ulp
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99")),
      "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90, " +
        "round(quantile_cont(value, 0.99), 6) AS p99 FROM events GROUP BY 1"),
    Query("clip_outliers", (s, dir) => {
      // winsorization — the value-normalization pass a training pipeline
      // runs before feature export: exact per-group p01/p99 bounds
      // (linear interpolation, rounded), broadcast back, values clipped.
      // One percentile aggregation + a map-only clip; no window.
      val e = Tables.events(s, dir)
      val bounds = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.01)"), 6).as("lo"),
          round(expr("percentile(value, 0.99)"), 6).as("hi"))
      e.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("lo")), col("hi")).as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi")).as("was_clipped"))
    },
      "WITH b AS (SELECT event_type, round(quantile_cont(value, 0.01), 6) AS lo, " +
        "round(quantile_cont(value, 0.99), 6) AS hi FROM events GROUP BY 1) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "least(greatest(e.value, b.lo), b.hi) AS clipped, " +
        "(e.value < b.lo OR e.value > b.hi) AS was_clipped " +
        "FROM events e JOIN b ON b.event_type = e.event_type"),
    Query("trimmed_mean", (s, dir) => {
      // robust per-group mean: drop values outside exact p01/p99 bounds,
      // then a decimal-exact mean over the survivors — clip_outliers'
      // sibling for when outliers should be EXCLUDED, not clamped. One
      // percentile aggregation + broadcast + one exact aggregation.
      val e = Tables.events(s, dir)
      val bounds = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.01)"), 6).as("lo"),
          round(expr("percentile(value, 0.99)"), 6).as("hi"))
      e.join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_trimmed"),
          round(sum(when(col("value") >= col("lo") && col("value") <= col("hi"),
            col("value").cast(DecimalType(18, 6)))).cast("double") /
            sum(when(col("value") >= col("lo") && col("value") <= col("hi"), 1L)
              .otherwise(0L)), 6).as("trimmed_mean"))
    },
      "WITH b AS (SELECT event_type, round(quantile_cont(value, 0.01), 6) AS lo, " +
        "round(quantile_cont(value, 0.99), 6) AS hi FROM events GROUP BY 1) " +
        "SELECT e.event_type, count(*) AS n, " +
        "CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed, " +
        "round(CAST(sum(CASE WHEN e.value >= b.lo AND e.value <= b.hi THEN CAST(e.value AS DECIMAL(18,6)) END) AS DOUBLE) / " +
        "CAST(sum(CASE WHEN e.value >= b.lo AND e.value <= b.hi THEN 1 ELSE 0 END) AS BIGINT), 6) AS trimmed_mean " +
        "FROM events e JOIN b ON e.event_type = b.event_type GROUP BY 1"),
    Query("value_histogram", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n")),
      "SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n " +
        "FROM events GROUP BY 1, 2"),
    Query("value_corr", (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(round(corr(col("value"), col("user_id").cast("double")), 6).as("corr_value_user")),
      "SELECT event_type, round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_user " +
        "FROM events GROUP BY 1"),
    Query("approx_percentiles", (s, dir) =>
      // GK-sketch percentiles surfaced as their accuracy contract. The
      // sketch guarantees RANK error, not value error, so the check is
      // rank-windowed: each approx percentile must lie between the exact
      // percentiles at q ± 0.01 (a 100× slack over the 1e-4 rank error of
      // accuracy=10000, robust at any scale — a value-relative bound
      // breaks on small groups where adjacent order stats differ a lot).
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.5, 0.9, 0.99))").as("exact"),
          expr("percentile(value, array(0.49, 0.89, 0.98))").as("lo"),
          expr("percentile(value, array(0.51, 0.91, 1.0))").as("hi"),
          expr("percentile_approx(value, array(0.5, 0.9, 0.99), 10000)").as("approx"))
        .select(col("event_type"),
          round(element_at(col("exact"), 1), 6).as("p50"),
          round(element_at(col("exact"), 2), 6).as("p90"),
          round(element_at(col("exact"), 3), 6).as("p99"),
          (element_at(col("approx"), 1).between(element_at(col("lo"), 1), element_at(col("hi"), 1)) &&
            element_at(col("approx"), 2).between(element_at(col("lo"), 2), element_at(col("hi"), 2)) &&
            element_at(col("approx"), 3).between(element_at(col("lo"), 3), element_at(col("hi"), 3)))
            .as("approx_ok")),
      "SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90, " +
        "round(quantile_cont(value, 0.99), 6) AS p99, true AS approx_ok " +
        "FROM events GROUP BY 1"),
    Query("approx_distinct", (s, dir) =>
      // HLL sketch surfaced as a checkable contract: the estimate must land
      // within 5% of the exact count — deterministic given the data, so the
      // oracle (exact count + literal true) hash-matches iff the sketch
      // honors its accuracy bound. rsd=0.01 makes 5% a ~5σ bound (the
      // default rsd=0.05 is 1σ and actually misses 5% at sf0.1).
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.01).as("n_approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") <=
            lit(0.05) * col("n_exact")).as("approx_ok")),
      "SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS approx_ok " +
        "FROM events GROUP BY 1"),
    Query("benford_check", (s, dir) =>
      // first-digit distribution of order values vs Benford's law: string
      // digit extraction (no float log10 boundary), literal expectations
      graft.ops.Dq.benford(
        Tables.table(s, dir, "orders"), "o_totalprice"),
      // Benford replay: first [1-9] of the value's string form (notation
      // changes preserve the leading significant digit), literal
      // expectations cast to DOUBLE, share rounded before the deviation
      "WITH cnt AS (SELECT CAST(NULLIF(regexp_extract(CAST(o_totalprice AS VARCHAR), '([1-9])', 1), '') AS INTEGER) AS digit, " +
        "count(*) AS n FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0 GROUP BY 1), " +
        "cnt2 AS (SELECT digit, n FROM cnt WHERE digit IS NOT NULL), " +
        "spine AS (SELECT * FROM (VALUES (1, CAST(0.30103 AS DOUBLE)), (2, CAST(0.176091 AS DOUBLE)), " +
        "(3, CAST(0.124939 AS DOUBLE)), (4, CAST(0.09691 AS DOUBLE)), (5, CAST(0.079181 AS DOUBLE)), " +
        "(6, CAST(0.066947 AS DOUBLE)), (7, CAST(0.057992 AS DOUBLE)), (8, CAST(0.051153 AS DOUBLE)), " +
        "(9, CAST(0.045757 AS DOUBLE))) AS s(digit, expected)), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cnt2), " +
        "f AS (SELECT s.digit AS digit, COALESCE(n, 0) AS n, " +
        "round(CAST(COALESCE(n, 0) AS DOUBLE) / (CASE WHEN tot > 0 THEN CAST(tot AS DOUBLE) END), 6) AS share, " +
        "s.expected AS expected FROM spine s LEFT JOIN cnt2 ON s.digit = cnt2.digit CROSS JOIN tot) " +
        "SELECT digit, n, share, expected, round(share - expected, 6) AS dev FROM f"),
    Query("zorder_key", (s, dir) =>
      // compaction-time Morton layout key: pure shift/and/or bit terms,
      // map-only whole-stage codegen, slice filter + 4-column pruning
      // pushed to the parquet scan
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1995-03-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1995-04-01 00:00:00")))
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.ops.Layout.zorderKey(
            Seq(col("l_partkey").bitwiseAND(lit((1L << 21) - 1)),
              col("l_suppkey").bitwiseAND(lit((1L << 21) - 1))), 21)
            .as("zval")),
      // Layout.zorderKey replay: the same 42 shift/and/or interleave terms
      // over masked part/supp keys, on the same one-month slice
      s"SELECT l_orderkey, l_linenumber, ${zorderSqlExpr(
        Seq("(l_partkey & 2097151)", "(l_suppkey & 2097151)"), 21)} AS zval " +
        "FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'"),
    Query("zorder_skip", (s, dir) =>
      // the layout win MEASURED: 64 equal "files" per layout, per-file
      // min/max boxes, and the file count a min/max-pruning reader must
      // touch for a centered 2-D box predicate — linear-by-x slabs
      // cannot prune on y, the z-order grid prunes on both
      graft.ops.Layout.zorderSkip(Tables.table(s, dir, "lineitem"),
        "l_partkey", "l_suppkey"),
      // Layout.zorderSkip replay: max-normalize to 8 bits with `//` integer
      // division (Spark's exact-double floor), 16-bit interleave, 64 files
      // per layout (xn>>2 slabs vs z>>10 grid), min/max-box overlap with
      // the centered [64,95]^2 predicate
      "WITH mx AS (SELECT max(l_partkey) AS mx, max(l_suppkey) AS my FROM lineitem), " +
        "base AS (SELECT (l_partkey * 256) // (mx + 1) AS xn, " +
        "(l_suppkey * 256) // (my + 1) AS yn FROM lineitem, mx), " +
        s"z AS (SELECT xn, yn, ${zorderSqlExpr(Seq("xn", "yn"), 8)} AS z FROM base), " +
        "lf AS (SELECT xn >> 2 AS file_id, min(xn) AS min_x, max(xn) AS max_x, " +
        "min(yn) AS min_y, max(yn) AS max_y, count(*) AS n FROM z GROUP BY 1), " +
        "zf AS (SELECT z >> 10 AS file_id, min(xn) AS min_x, max(xn) AS max_x, " +
        "min(yn) AS min_y, max(yn) AS max_y, count(*) AS n FROM z GROUP BY 1) " +
        "SELECT 'linear_x' AS layout, CAST(count(*) AS BIGINT) AS files_total, " +
        "CAST(sum(CASE WHEN min_x <= 95 AND max_x >= 64 AND min_y <= 95 AND max_y >= 64 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS files_read, " +
        "CAST(sum(CASE WHEN min_x <= 95 AND max_x >= 64 AND min_y <= 95 AND max_y >= 64 " +
        "THEN n ELSE 0 END) AS BIGINT) AS rows_read FROM lf " +
        "UNION ALL " +
        "SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS files_total, " +
        "CAST(sum(CASE WHEN min_x <= 95 AND max_x >= 64 AND min_y <= 95 AND max_y >= 64 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS files_read, " +
        "CAST(sum(CASE WHEN min_x <= 95 AND max_x >= 64 AND min_y <= 95 AND max_y >= 64 " +
        "THEN n ELSE 0 END) AS BIGINT) AS rows_read FROM zf"),
    Query("hilbert_skip", (s, dir) =>
      // the three-way layout decision: linear vs z-order vs HILBERT
      // (unrolled xy->d bit-twiddle as chained projections) under the
      // quadrant-aligned box AND the midline y band that straddles the
      // z-curve's seam — per-(layout, pred) file/row read counts
      graft.ops.Layout.curveSkip(Tables.table(s, dir, "lineitem"),
        "l_partkey", "l_suppkey"),
      // Layout.curveSkip replay: the same normalize + interleave CTEs, the
      // Hilbert xy->d unroll as 8 generated per-level CTEs (the identical
      // CASE/shift template Layout.withHilbert chains as projections),
      // 64-file stats per layout, both predicates per layout
      hilbertSkipSql),
    Query("skew_report", (s, dir) =>
      // hot-key pre-flight for the salted join: one map-side-combined
      // count agg + broadcast stats + TakeOrdered top-10
      graft.ops.Dq.skewReport(Tables.events(s, dir), "user_id"),
      // hot-key diagnostic replay: per-key counts, 1-row stats, top-10 heap
      "WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1), " +
        "s AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows, max(cnt) AS max_cnt FROM c), " +
        "t AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 10) " +
        "SELECT user_id, cnt, n_keys, n_rows, max_cnt, " +
        "round(CAST(cnt AS DOUBLE) / n_rows, 6) AS share, " +
        "round(CAST(cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew_x, " +
        "CAST(ceil(CAST(cnt AS DOUBLE) * n_keys / n_rows) AS BIGINT) AS salt_factor " +
        "FROM t CROSS JOIN s"),
    Query("mad_outliers", (s, dir) => {
      // robust per-type outlier flags: |x − median| > 3·MAD — the
      // z-score family (clip_outliers) breaks under fat tails;
      // median/MAD have a 50% breakdown point. TWO dim-scale grouped
      // EXACT percentiles (Spark `percentile` == DuckDB `quantile_cont`,
      // the quality_prune parity), each broadcast back; the flag itself
      // is map-only. At unbounded distinct-value scale swap in
      // `approx_percentile` (value_percentiles' path) — the oracle pins
      // the exact form. Rounded to 6 before every compare.
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5D)"), 6).as("med"))
      val withMed = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", round(abs(col("value") - col("med")), 6))
      val mad = withMed.groupBy(col("event_type"))
        .agg(round(expr("percentile(adev, 0.5D)"), 6).as("mad"))
      withMed.join(broadcast(mad), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), (col("adev") > col("mad") * 3).as("outlier"))
    },
      "WITH m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med " +
        "FROM events GROUP BY 1), " +
        "a AS (SELECT e.event_id, e.event_type, e.value, m.med, " +
        "round(abs(e.value - m.med), 6) AS adev FROM events e JOIN m USING (event_type)), " +
        "d AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad " +
        "FROM a GROUP BY 1) " +
        "SELECT a.event_id, a.event_type, a.value, a.med, d.mad, " +
        "a.adev > d.mad * 3 AS outlier FROM a JOIN d USING (event_type)"),
    Query("profile_lineitem", (s, dir) =>
      // single-pass data-quality profile with EXACT distinct counts
      // (count_distinct, which Catalyst expands ×columns; ROADMAP item 5)
      graft.ops.Profile.profile(Tables.table(s, dir, "lineitem")),
      profileOracleSql),
    Query("dq_check", (s, dir) => {
      // declarative constraint suite in ONE aggregation pass (Deequ idea):
      // integer-counter verdicts, one double division per metric. The
      // uniqueness check is a REAL violation in this corpus - the report
      // proves the suite detects, not just rubber-stamps.
      import graft.ops.Dq
      Dq.check(Tables.table(s, dir, "lineitem"), Seq(
        Dq.minRows(1L),
        Dq.complete("l_shipdate"),
        Dq.unique(Seq("l_orderkey", "l_linenumber")),
        Dq.inRange("l_quantity", 1.0, 50.0),
        Dq.inRange("l_discount", 0.0, 0.1),
        Dq.inRange("l_tax", 0.0, 0.08),
        Dq.inRange("l_extendedprice", 1.0, 100000000.0),
        Dq.inSet("l_returnflag", Seq("A", "N", "R")),
        Dq.inSet("l_linestatus", Seq("O", "F"))))
    },
      // dq_check replay: ONE aggregation row of integer counters, then one
      // SELECT per constraint; verdicts compare counters, never floats
      "WITH a AS (SELECT count(*) AS n, count(l_shipdate) AS ship, " +
        "count(DISTINCT (l_orderkey, l_linenumber)) AS pk, " +
        "CAST(sum(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS q_ok, count(l_quantity) AS q_n, " +
        "CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS d_ok, count(l_discount) AS d_n, " +
        "CAST(sum(CASE WHEN l_tax BETWEEN 0.0 AND 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS t_ok, count(l_tax) AS t_n, " +
        "CAST(sum(CASE WHEN l_extendedprice BETWEEN 1.0 AND 100000000.0 THEN 1 ELSE 0 END) AS BIGINT) AS p_ok, count(l_extendedprice) AS p_n, " +
        "CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS rf_ok, count(l_returnflag) AS rf_n, " +
        "CAST(sum(CASE WHEN l_linestatus IN ('O','F') THEN 1 ELSE 0 END) AS BIGINT) AS ls_ok, count(l_linestatus) AS ls_n " +
        "FROM lineitem) " +
        "SELECT 'row_count' AS check_name, round(CAST(n AS DOUBLE), 6) AS metric, n >= 1 AS passed FROM a " +
        "UNION ALL SELECT 'complete_l_shipdate', round(CAST(ship AS DOUBLE) / CAST(n AS DOUBLE), 6), ship = n FROM a " +
        "UNION ALL SELECT 'unique_l_orderkey_l_linenumber', round(CAST(pk AS DOUBLE) / CAST(n AS DOUBLE), 6), pk = n FROM a " +
        "UNION ALL SELECT 'range_l_quantity', round(CAST(q_ok AS DOUBLE) / CAST(q_n AS DOUBLE), 6), q_ok = q_n FROM a " +
        "UNION ALL SELECT 'range_l_discount', round(CAST(d_ok AS DOUBLE) / CAST(d_n AS DOUBLE), 6), d_ok = d_n FROM a " +
        "UNION ALL SELECT 'range_l_tax', round(CAST(t_ok AS DOUBLE) / CAST(t_n AS DOUBLE), 6), t_ok = t_n FROM a " +
        "UNION ALL SELECT 'range_l_extendedprice', round(CAST(p_ok AS DOUBLE) / CAST(p_n AS DOUBLE), 6), p_ok = p_n FROM a " +
        "UNION ALL SELECT 'set_l_returnflag', round(CAST(rf_ok AS DOUBLE) / CAST(rf_n AS DOUBLE), 6), rf_ok = rf_n FROM a " +
        "UNION ALL SELECT 'set_l_linestatus', round(CAST(ls_ok AS DOUBLE) / CAST(ls_n AS DOUBLE), 6), ls_ok = ls_n FROM a"),
    Query("profile_approx", (s, dir) => {
      // the HLL-sketch profile path (the 100 TB default — fixed-size
      // sketches instead of the Expand row multiplication) surfaced as its
      // accuracy contract: every per-column estimate within 5% of exact.
      // rsd=0.01 makes 5% a ~5 sigma bound, deterministic given the data.
      val li = Tables.table(s, dir, "lineitem")
      val ap = graft.ops.Profile.profile(li, exactDistinct = false, rsd = 0.01)
        .select(col("column"), col("n_distinct").as("n_approx"))
      val ex = graft.ops.Profile.profile(li)
        .select(col("column"), col("n_rows"), col("n_null"),
          col("n_distinct").as("n_exact"))
      ex.join(ap, "column")
        .select(col("column"), col("n_rows"), col("n_null"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") <=
            lit(0.05) * col("n_exact")).as("approx_ok"))
    },
      profileApproxOracleSql)
  )
}
