package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Snapshot, Tables}

/** Relational query surface: joins, aggregations, windows, sorts/top-k, set
  * ops, scalar functions, subqueries — the capabilities the reference's host
  * database provides and the engine must expose (SURVEY §2.3). All queries
  * are plain declarative DataFrame/SQL so Catalyst gets full pushdown /
  * pruning / join-reorder freedom.
  *
  * Exact-match discipline for the DuckDB oracle:
  *  - every query ends in a deterministic ORDER BY over a unique key,
  *  - double aggregates are round()ed (floating sums are order-sensitive),
  *  - timestamps leave as epoch seconds or formatted strings,
  *  - no nullable sort keys (NULL-ordering defaults differ across engines).
  *
  * Scale notes (100 TB): dimension sides (region/nation/supplier/part at
  * fixed or sub-linear cardinality) are explicitly broadcast() so the big
  * fact scans never shuffle for them; fact-fact joins (orders⋈lineitem) are
  * shuffle hash/sort-merge on the join key, which AQE re-plans at runtime;
  * aggregates are partial (map-side combine) by construction.
  */
object Relational {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- aggregation -----------------------------------------------------
    // TPC-H Q1 pricing summary: wide partial-agg, 6 groups.
    "tpch_q1_pricing_summary" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1999-06-30").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(rev), 2).as("sum_disc_price"),
          round(sum(rev * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H Q6: pure scan-side filter + single global agg — the pushdown
    // showcase (all three predicates reach the parquet scan).
    "tpch_q6_forecast_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q4 shape (fixture has no commitdate; late = shipped >60d after
    // order): priority counts of orders with a late-shipped lineitem.
    "tpch_q4_priority_count" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val late = Tables.lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 60))
        .select(col("l_orderkey")).distinct()
      o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q10: returned-item revenue by customer, top 20.
    "tpch_q10_returned_items" -> ((s, d) => {
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(rev), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 shape: share of revenue from one part-type family —
    // conditional aggregation over the part join.
    "tpch_q14_promo_share" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(when(col("p_type").like("ECONOMY%"), rev).otherwise(0.0)) * 100.0 /
            sum(rev), 4).as("promo_pct"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q7 shape: bilateral trade volume between two nations by year.
    // Fact joins stay on the keys; both nation dims broadcast.
    "tpch_q7_volume_shipping" -> ((s, d) => {
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(rev), 2).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape: one supplier nation's market share inside a region's
    // customer base, by year, for one part-type family.
    "tpch_q8_market_share" -> ((s, d) => {
      val custNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val suppNation = Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_type").like("ECONOMY%")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNation), col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", rev).otherwise(0.0)) / sum(rev),
          6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q13 shape: distribution of order counts per customer
    // (left join so zero-order customers land in bucket 0).
    "tpch_q13_custdist" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q18 shape: large-volume orders — the having-on-grouped-fact
    // pattern; the qualifying keys then re-join the dims.
    "tpch_q18_large_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q19 shape: OR-of-AND predicate blocks over the part join
    // (adapted to the reduced schema: no container/shipmode columns).
    "tpch_q19_discounted_revenue" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#11" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(round(sum(rev), 2).as("revenue"), count(lit(1)).as("n"))
    }),

    // TPC-H Q22 shape: rich-but-inactive customers — scalar subquery
    // (positive-balance average) + anti join, grouped by nation in place of
    // the phone country code the reduced schema lacks. "Inactive" = no
    // order since 2000-01-01: in this fixture every rich customer has SOME
    // order, so the original no-orders-ever form returned zero rows at
    // every scale — a vacuous gate. The anti join's right side is the
    // date-filtered orders scan (filter pushed below the join).
    "tpch_q22_inactive_rich" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("ab"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      cust.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // TPC-H Q2 shape: min-cost supplier per part. The fixture has no
    // partsupp table, so the part↔supplier relation is derived from
    // lineitem (DISTINCT pairs) and supply cost stands in as s_acctbal —
    // the correlated-min-per-group structure is the point. At scale the
    // derived pair set is one distinct-shuffle on (partkey, suppkey);
    // the min side reuses the same grouped frame (self-join on the key).
    "tpch_q2_min_cost_supplier" -> ((s, d) => {
      val ps = Tables.lineitem(s, d)
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .distinct()
      val eurSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      // single pass: the correlated min is a window over partkey, so the
      // derived-pair distinct and the joins run ONCE (a self-join form
      // re-computes the whole subtree twice — 18 scans vs 9 in the plan)
      val cand = Tables.part(s, d).filter(col("p_size") === 15)
        .join(ps, col("p_partkey") === col("ps_partkey"))
        .join(broadcast(eurSupp), col("ps_suppkey") === col("s_suppkey"))
      cand
        .withColumn("min_bal",
          min(col("s_acctbal")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("s_acctbal") === col("min_bal"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
    }),

    // TPC-H Q9 shape: profit by supplier nation and year. Supply cost
    // stands in as 0.6×p_retailprice (no partsupp in the fixture).
    "tpch_q9_product_profit" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").like("%red%")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(rev - col("p_retailprice") * lit(0.6) * col("l_quantity")), 2)
          .as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape: parts whose stock value inside one nation exceeds a
    // fraction of that nation's total — group-having against a scalar
    // subquery. Value stands in as shipped_quantity × p_retailprice.
    "tpch_q11_important_stock" -> ((s, d) => {
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      // value is rounded to cents BEFORE the threshold compare (q15's
      // discipline): the rounded value is converted to integer cents
      // (decimal/HUGEINT) and both engines filter with exact integer
      // arithmetic, instead of accumulation-order-sensitive raw sums
      // racing the cutoff
      val vals = Tables.lineitem(s, d)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"))
        .agg(round(sum(col("l_quantity") * col("p_retailprice")), 2).as("value"))
      // one pass over lineitem: materialize the per-part frame once
      // (localCheckpoint), then the scalar threshold is a distributed
      // aggregate broadcast back — no self-join re-scan, and no
      // unpartitioned window funneling the |parts|-sized frame through a
      // single task. The bar is 2.5x the MEAN part value: scale-free (a
      // fixed fraction of the total empties as |parts| grows — TPC-H
      // scales its q11 fraction by 1/SF for the same reason).
      // The compare runs in integer cents: `value` is already 2-dp, so
      // floor(value*100+0.5) is exact, and `cents*10*n > sum(cents)*25`
      // (i.e. value > 2.5*mean) is pure integer arithmetic — no double
      // mean whose last-ulp could straddle the strict `>` differently per
      // engine. decimal(38,0) keeps the products overflow-safe at any SF.
      val v = vals
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("decimal(38,0)"))
        .localCheckpoint()
      v.join(broadcast(v.agg(sum(col("cents")).cast("decimal(38,0)").as("sum_c"),
          count(lit(1)).cast("decimal(38,0)").as("n"))))
        .filter(col("cents") * 10 * col("n") > col("sum_c") * 25)
        .select(col("p_partkey"), col("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }),

    // TPC-H Q12 shape: late-shipment line counts split by order priority.
    // l_returnflag stands in for the ship mode the reduced schema lacks;
    // "late" is shipdate > orderdate + 90 days.
    "tpch_q12_late_priority" -> ((s, d) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 90))
        .groupBy(col("l_returnflag").as("mode"))
        .agg(count(when(high, 1)).as("high_line_count"),
          count(when(!high, 1)).as("low_line_count"))
        .orderBy(col("mode"))
    }),

    // TPC-H Q15: top supplier by quarterly revenue — aggregate view + max
    // scalar subquery + equality join back. Revenue is rounded before the
    // max/compare so both engines agree on ties to the cent.
    "tpch_q15_top_supplier" -> ((s, d) => {
      val revBySupp = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(rev), 2).as("total_revenue"))
      // one lineitem pass: checkpoint the |suppliers|-row agg frame, take
      // the max as a distributed aggregate, broadcast it back (an
      // unpartitioned window would single-task the whole frame at scale)
      val r = revBySupp.localCheckpoint()
      r.join(broadcast(r.agg(max(col("total_revenue")).as("mx"))))
        .filter(col("total_revenue") === col("mx"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape: distinct supplier count per part attribute triple,
    // excluding one brand/type/size slice and "complaint" suppliers
    // (negative balance stands in for the comment filter).
    "tpch_q16_supplier_parts" -> ((s, d) => {
      // no pre-distinct of (part, supp): the count-DISTINCT aggregate dedups
      // pairs itself, so lineitem shuffles once on the distinct keys instead
      // of once for a distinct and again for the regroup
      val badSupp = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_brand") =!= "Brand#13" &&
            !col("p_type").like("MEDIUM%") &&
            col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // TPC-H Q17: revenue lost to small-quantity orders — correlated
    // per-part average quantity. The brand slice is broadcast and the
    // per-part average is computed over the (pre-filtered) same frame, so
    // the fact table is scanned once and shuffled once on partkey.
    "tpch_q17_small_qty_revenue" -> ((s, d) => {
      // correlated per-part average as a window over partkey: the brand
      // slice of lineitem is scanned once and shuffled once
      val bparts = Tables.part(s, d).filter(col("p_brand") === "Brand#3")
        .select(col("p_partkey"))
      Tables.lineitem(s, d)
        .join(broadcast(bparts), col("l_partkey") === col("p_partkey"))
        .withColumn("aq",
          avg(col("l_quantity")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("l_quantity") < lit(0.5) * col("aq"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q20 shape: suppliers of 'small%' parts whose June-1997 shipped
    // quantity for some part exceeds half that pair's all-time quantity
    // (availability stand-in) — nested semi-join chain, region-scoped.
    "tpch_q20_excess_supply" -> ((s, d) => {
      val in97 = col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp")
      val smallParts = Tables.part(s, d).filter(col("p_name").like("small%"))
        .select(col("p_partkey"))
      // the small-parts semi-join runs BELOW the pair aggregate (Catalyst
      // won't push a join under an agg itself): the partkey predicate is
      // independent of the per-pair sums, so filtering first is identical —
      // and the big (partkey, suppkey) shuffle carries only the small-parts
      // slice of the fact instead of all of it
      val byPair = Tables.lineitem(s, d)
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty_total"),
          sum(when(in97, col("l_quantity")).otherwise(0.0)).as("qty_win"))
      val excess = byPair
        .filter(col("qty_win") > lit(0.5) * col("qty_total"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, d)
        // bounded by |supplier| — broadcast the key set, don't shuffle it
        .join(broadcast(excess), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q21: suppliers who alone held up multi-supplier finished
    // orders — the double-correlated EXISTS / NOT EXISTS pattern ("late"
    // adapted to shipdate > orderdate + 60, as in q4). Decorrelated into a
    // SINGLE pass over lineitem (the naive form scans the fact 3×): join
    // the fact once to the F-orders keys, then one per-order aggregate
    // computes all three existential facts at once —
    //   num_supp      ≥ 2  ⇔  EXISTS l2 (another supplier on the order)
    //   num_late_supp = 1  ⇔  NOT EXISTS l3 (no OTHER late supplier; l1's
    //                         own supplier is late, so the late-set is
    //                         exactly {l1.l_suppkey})
    //   late_rows          =  count(*) contribution (every late lineitem
    //                         row of the unique late supplier is an l1)
    // The oracle keeps the declarative EXISTS form; this is the same
    // technique already used for q2/q11/q15/q17.
    "tpch_q21_waiting_supplier" -> ((s, d) => {
      val fOrders = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val late = col("l_shipdate") >
        date_add(col("o_orderdate").cast("date"), 60).cast("timestamp")
      val perOrder = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(
          countDistinct(col("l_suppkey")).as("num_supp"),
          countDistinct(when(late, col("l_suppkey"))).as("num_late_supp"),
          max(when(late, col("l_suppkey"))).as("late_supp"),
          sum(when(late, lit(1L)).otherwise(lit(0L))).as("late_rows"))
        .filter(col("num_supp") >= 2 && col("num_late_supp") === 1)
      broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")))
        .join(perOrder, col("s_suppkey") === col("late_supp"))
        .groupBy(col("s_name"))
        .agg(sum(col("late_rows")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // MODE with a deterministic tie-break (count desc, then value) — the
    // built-in mode() is tie-unstable across engines, so the rank form is
    // the cross-engine-safe way to ask "most common value per group". The
    // window runs over the tiny post-aggregate frame, not the fact table.
    "agg_mode_deterministic" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("o_orderstatus"))
            .orderBy(col("n").desc, col("o_orderpriority"))))
        .filter(col("rk") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("n"))
        .orderBy(col("o_orderstatus"))
    }),

    "agg_stats_per_group" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("n_custs"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          round(avg(col("o_totalprice")), 4).as("avg_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // ROLLUP grouping sets (NULL group keys coalesced to 'ALL' to keep sort
    // keys non-null on both engines).
    "agg_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("qty"))
        .orderBy(col("rf"), col("ls"))
    }),

    "agg_cube" -> ((s, d) => {
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pr"), col("n"))
        .orderBy(col("st"), col("pr"))
    }),

    "agg_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // approx_count_distinct (HLL) has no cross-engine-exact oracle; checked
    // rows-only + a relative-error unit test in AggSpec.
    "agg_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
        .orderBy(col("l_returnflag"))
    }),

    // approx_percentile accuracy verdict (the HLL check's sibling): rank-
    // accuracy sketch, generous value band, exact side recomputed by the
    // oracle (quantile_cont == Spark exact percentile). One agg, one scan —
    // the HLL check's two-scan split exists only for its DISTINCT/non-
    // distinct Expand problem, which plain percentile aggregates don't have.
    "agg_approx_quantile_check" -> ((s, d) => {
      Tables.orders(s, d)
        .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)").as("ap"),
          expr("percentile(o_totalprice, array(0.5D, 0.9D))").as("ex"))
        .select(
          round(element_at(col("ex"), 1), 2).as("p50_exact"),
          round(element_at(col("ex"), 2), 2).as("p90_exact"),
          (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) <=
            element_at(col("ex"), 1) * 0.05).as("p50_close"),
          (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) <=
            element_at(col("ex"), 2) * 0.05).as("p90_close"))
    }),

    // ...but the sketch's ACCURACY is oracle-checkable: the within-5%-of-exact
    // verdict is deterministic (HLL is deterministic for fixed input), and the
    // oracle recomputes the exact side independently.
    "agg_approx_distinct_check" -> ((s, d) => {
      // rsd 2% sketch, 10% acceptance band = a 5-sigma margin: the verdict is
      // effectively guaranteed true at every scale factor, and the oracle
      // still independently verifies the exact side.
      // The two aggregates run as separate scans joined on the 3-row key:
      // mixing distinct and non-distinct aggregates in one agg makes Catalyst
      // Expand (duplicate) every input row, 2x-ing the scan for nothing.
      val li = Tables.lineitem(s, d)
      val approx = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_orderkey")).as("exact"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact"),
          (abs(col("approx") - col("exact")) <= col("exact") * 0.10).as("within_10pct"))
        .orderBy(col("l_returnflag"))
    }),

    // Exact interpolated percentiles — Spark percentile == DuckDB
    // quantile_cont on the same ordered set.
    "agg_percentiles" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
        .orderBy(col("o_orderstatus"))
    }),

    // JSON + map/array function surface over the string-encoded props
    // payload (the O10 map projection, but via the JSON library).
    "scalar_json_map_funcs" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_id") < 2000)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          from_json(col("props"), lit("map<string,int>")).as("m"))
        .select(col("event_id"), col("k"),
          map_keys(col("m")).getItem(0).as("first_key"),
          element_at(col("m"), "k").as("k_via_map"),
          size(map_entries(col("m"))).as("n_entries"))
        .orderBy(col("event_id"))
    }),

    "scalar_array_funcs" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_partkey") < 200)
        .select(col("p_partkey"),
          split(col("p_name"), " ").as("words"))
        .select(col("p_partkey"),
          size(col("words")).as("n_words"),
          array_join(sort_array(col("words")), "_").as("sorted_joined"),
          element_at(col("words"), 1).as("first_word"),
          size(array_distinct(col("words"))).as("n_distinct"))
        .orderBy(col("p_partkey"))
    }),

    // ---- joins -----------------------------------------------------------
    // TPC-H Q3: customer(filtered) ⋈ orders ⋈ lineitem, top-10 by revenue.
    // Plan shape: broadcast the filtered customer keys; orders⋈lineitem is
    // the only shuffle; top-10 via TakeOrderedAndProject (no global sort).
    "tpch_q3_top_orders" -> ((s, d) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(rev), 2).as("revenue"))
        .select(col("o_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5: 6-way join; dims broadcast, facts shuffle once on orderkey.
    "tpch_q5_region_volume" -> ((s, d) => {
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val dims = broadcast(n.join(asia, col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(dims, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(rev), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),

    "join_inner" -> ((s, d) => {
      Tables.nation(s, d)
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }),

    "join_left_outer" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("big_orders"))
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("big_orders"), lit(0L)).as("big_orders"))
        .orderBy(col("c_custkey"))
    }),

    "join_right_outer" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      o.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big"))
        .orderBy(col("c_custkey"))
    }),

    "join_full_outer" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("cust2")).distinct()
      a.join(b, col("o_custkey") === col("cust2"), "full")
        .select(coalesce(col("o_custkey"), lit(-1L)).as("f_cust"),
          coalesce(col("cust2"), lit(-1L)).as("o_cust"))
        .orderBy(col("f_cust"), col("o_cust"))
    }),

    // EXISTS → left semi join (no row multiplication, early-out probe).
    "join_semi_exists" -> ((s, d) => {
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // NOT EXISTS → left anti join.
    "join_anti_not_exists" -> ((s, d) => {
      val big = Tables.orders(s, d).filter(col("o_totalprice") > 250000.0)
      Tables.customer(s, d)
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "join_cross_small" -> ((s, d) => {
      Tables.region(s, d).crossJoin(Tables.nation(s, d).select(col("n_name")))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Non-equi (theta) join: banded price lookup against a tiny broadcast
    // range table — at scale this is a broadcast-nested-loop, which is the
    // right plan when one side is O(10) rows.
    "join_theta_band" -> ((s, d) => {
      val bands = s.createDataFrame(Seq(
        ("low", 0.0, 100000.0), ("mid", 100000.0, 300000.0),
        ("high", 300000.0, 1e18))).toDF("band", "lo", "hi")
      Tables.orders(s, d)
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("volume"))
        .orderBy(col("band"))
    }),

    // ---- file-format round trips: the engine's CSV/JSON source+sink lanes.
    // Write a typed subset out, read it back with an explicit schema, and
    // aggregate — the oracle computes the same aggregate straight from the
    // parquet original, so a lossy round trip (typing, quoting, nulls)
    // would hash-mismatch.
    "source_csv_roundtrip" -> ((s, d) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_csv_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      Tables.orders(s, d).filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
        .csv(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("vol"))
        .orderBy(col("o_orderstatus"))
    }),

    // Avro container-file round-trip via the Hadoop Avro formats (no
    // spark-avro connector in this distribution — see sources/AvroTable):
    // write a 4-column slice, read it back under the same reader schema,
    // aggregate. The oracle computes the aggregate from the original
    // table, so any row/value lost or mangled by the codec fails the hash.
    "source_avro_roundtrip" -> ((s, d) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_avro_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val slice = Tables.orders(s, d).filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      graft.sources.AvroTable.write(slice, path)
      graft.sources.AvroTable.read(s, path,
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("vol"))
        .orderBy(col("o_orderstatus"))
    }),

    // Hive-partitioned parquet sink + partition-PRUNED read — the layout
    // lever at 100 TB: the lang filter is satisfied by directory listing
    // (PartitionFilters), so the scan never opens non-en files. The oracle
    // computes the same aggregate from the unpartitioned original, proving
    // the partitioned write/read is lossless; PartitionPruningSpec asserts
    // the pruning itself. The partitioned table is a content-keyed FIXTURE
    // (source file length+mtime in the path, built once per corpus
    // snapshot, like the media/IVF caches): the layout write is ingest-time
    // work, and benching it inside the query measured write+read — the r9
    // 0.42→0.73 regression was exactly that.
    "source_partitioned_pruning" -> ((s, d) => {
      val path = Snapshot.cached(
          Snapshot.path("graft_part_", d, "v2", "documents.parquet")) { tmp =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").partitionBy("lang").parquet(tmp)
      }
      s.read.parquet(path)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("source"))
    }),

    // DYNAMIC PARTITION OVERWRITE: the ETL idiom for reprocessing one
    // partition of a long-lived partitioned dataset — the rewrite batch
    // replaces ONLY the partitions it carries (here lang=en, with doubled
    // n_chars), every other partition's files untouched. A broken dynamic
    // mode (static overwrite semantics) would wipe the other langs and
    // fail the per-lang counts; a non-overwrite would double-count en.
    "source_dynamic_overwrite" -> ((s, d) => {
      // BOTH generations build inside one Snapshot temp dir, one atomic
      // publish — a concurrent session never sees a half-built store
      val root = Snapshot.cached(
          Snapshot.path("graft_dynpo_", d, "v1", "documents.parquet")) { tmp =>
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"), col("n_chars"), col("lang"))
          .write.partitionBy("lang").mode("overwrite").parquet(tmp)
        docs.filter(col("lang") === "en")
          .select(col("doc_id"), (col("n_chars") * 2).as("n_chars"), col("lang"))
          .write.option("partitionOverwriteMode", "dynamic")
          .partitionBy("lang").mode("overwrite").parquet(tmp)
      }
      s.read.parquet(root)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    // SCHEMA EVOLUTION across parquet generations: an older file set
    // without `n_chars` and a newer one with it, read together under
    // mergeSchema — the absent column nulls out for old rows instead of
    // failing the scan. The production shape for any long-lived dataset
    // whose writer gained columns; the oracle replays the generation rule
    // (odd doc_ids are the evolved generation) from the source table.
    "source_schema_evolution" -> ((s, d) => {
      // both generations into one Snapshot temp dir, one atomic publish —
      // no reader can see gen1 without gen2
      val root = Snapshot.cached(
          Snapshot.path("graft_schevo_", d, "v2", "documents.parquet")) { tmp =>
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$tmp/gen1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$tmp/gen2")
      }
      s.read.option("mergeSchema", "true")
        .parquet(s"$root/gen1", s"$root/gen2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("n_chars")).as("n_evolved"),
          coalesce(sum(col("n_chars")), lit(0L)).as("chars_evolved"))
        .orderBy(col("lang"))
    }),

    // Opaque-binary ingestion: the multimodal front door. One UTF-8 file per
    // document (content-keyed fixture, written on executors), read back with
    // Spark's binaryFile source (per-file parallelism, listing-stage glob
    // pruning), reduced to the manifest/checksum row every blob-ingest
    // pipeline starts with. The oracle recomputes byte length + md5 from
    // the documents table, so a mangled byte anywhere in write/list/read
    // hash-mismatches.
    "source_binary_files" -> ((s, d) => {
      val dir = graft.ext.BinaryIngest.textFilesCached(Tables.documents(s, d), d)
      graft.ext.BinaryIngest.binaryDocManifest(s, dir)
        .orderBy(col("doc_id"))
    }),

    // WARC record ingestion (VERDICT r15 #7): the format web-scale text
    // actually arrives in. Documents become ISO 28500 response records in
    // 4 concatenated-record .warc files (content-keyed fixture); the read
    // path is binaryFile (per-file parallelism) + ONE codegen'd record
    // splitter per file + posexplode. The oracle replays the RECORD
    // GEOMETRY arithmetically — header bytes, Content-Length, and each
    // record's byte OFFSET in its file as a per-group running sum — so a
    // single byte of framing drift anywhere in write/split/parse
    // hash-mismatches.
    "source_warc_records" -> ((s, d) => {
      val dir = graft.sources.Warc.fixtureCached(Tables.documents(s, d), d)
      graft.sources.Warc.records(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("record_id"), col("warc_date"),
          col("target_uri"), col("content_length"), col("offset"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("doc_id"))
    }),

    // The DELIVERED container shape: the same records, each its own gzip
    // MEMBER in .warc.gz files (the Common Crawl framing — per-member
    // compression is what keeps the container offset-seekable). The
    // splitter inflates the concatenated members and reports offsets in
    // the DECOMPRESSED stream, so the record geometry — and therefore the
    // oracle — is byte-identical to the plain lane's.
    "source_warc_gz_records" -> ((s, d) => {
      val dir = graft.sources.Warc.fixtureCached(Tables.documents(s, d), d,
        gzMembers = true)
      graft.sources.Warc.recordsGz(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("record_id"), col("warc_date"),
          col("target_uri"), col("content_length"), col("offset"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("doc_id"))
    }),

    // The WARC→HTTP chain (VERDICT r16 #1): response records whose payload
    // is a full HTTP/1.1 message (`application/http; msgtype=response` —
    // what Common Crawl response captures actually carry). The lane strips
    // the HTTP envelope with ONE codegen'd expression per record —
    // status line, header walk, Content-Length vs actual-body cross-check —
    // in the same task as the WARC split. The oracle rebuilds the entire
    // HTML body string in SQL, so one envelope byte off anywhere in
    // write/split/strip hash-mismatches.
    "source_warc_http" -> ((s, d) => {
      val dir = graft.sources.Warc.fixtureCached(Tables.documents(s, d), d,
        http = true)
      graft.sources.Warc.records(s, dir)
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.sources.HttpPayload.http_response(col("payload")).as("h"))
        .select(col("doc_id"),
          col("h.status_code"), col("h.reason"),
          col("h.content_type").as("http_content_type"),
          col("h.content_length").as("body_len"),
          md5(col("h.body")).as("body_md5"))
        .orderBy(col("doc_id"))
    }),

    // PERMISSIVE CSV ingestion: schema-enforced read where rows with an
    // unparseable field land in _corrupt_record instead of failing the
    // job — the error-budget accounting every raw-file ingest needs. The
    // fixture plants a deterministic corruption (every 37th doc's n_chars
    // is a non-numeric token) that the oracle replays from the rule.
    "source_csv_permissive" -> ((s, d) => {
      val dir = graft.ext.BinaryIngest.csvFixtureCached(Tables.documents(s, d), d)
      graft.ext.BinaryIngest.csvPermissiveStats(s, dir)
    }),

    "source_json_roundtrip" -> ((s, d) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_json_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      Tables.events(s, d).filter(col("event_id") < 5000)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .json(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
        .orderBy(col("event_type"))
    }),

    // ORC round trip — the third columnar lane (parquet is the native
    // fixture format): typed write + read + aggregate, oracle-checked
    // against the parquet original so any type coercion in the ORC
    // writer/reader would hash-mismatch.
    "source_orc_roundtrip" -> ((s, d) => {
      val path = System.getProperty("java.io.tmpdir") + "/graft_orc_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      Tables.lineitem(s, d).filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"),
          round(sum(col("l_extendedprice")), 2).as("price"))
        .orderBy(col("l_returnflag"))
    }),

    // MERGE-shaped upsert — the relational-lake CDC ingest lane beside the
    // JDBC replace-on-PK sink (sink/SqlDialect.scala): a deterministic
    // change batch of UPDATEs (every 10th order re-priced, status 'U') and
    // INSERTs (every 7th key mirrored negative, status 'I') merges into
    // the orders snapshot via broadcast-PK anti-join + union — the target
    // scan never shuffles — and the per-status fingerprint (count, price
    // volume, key checksum) proves replaced/inserted/carried rows each
    // landed exactly once. Oracle: the same ANSI anti-join + union MERGE.
    "merge_upsert_orders" -> ((s, d) => {
      val tgt = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val upd = tgt.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      val ins = tgt.filter(col("o_orderkey") % 7 === 0)
        .select((-col("o_orderkey")).as("o_orderkey"),
          lit("I").as("o_orderstatus"), col("o_totalprice"))
      graft.ext.MergeUpsert.merge(tgt, upd.unionByName(ins), Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("vol"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("o_orderstatus"))
    }),

    // Salted skew join: identical RESULT to the plain equi-join (the oracle
    // proves it), but the hot key's rows spread across `salt` reducer
    // partitions — the manual straggler fix when AQE skew-split can't apply.
    "join_skew_salted" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("k"), col("l_quantity"))
      val small = Tables.supplier(s, d)
        .select(col("s_suppkey").as("k"), col("s_name"))
      graft.ext.SkewJoin.saltedJoin(big, small, "k", salt = 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("s_name"))
    }),

    // Measure-then-pick skew advisory (VERDICT r12 #9): keySkew's report on
    // the probe key decides saltedJoin vs the plain join + AQE safety net.
    // The probe key collapses 3 of every 4 user_ids onto customer 1 (a
    // deterministic hot key holding ~75% of the rows, so its skew factor is
    // ~0.75x the key count — >= 3.6 even at sf0.001's handful of users and
    // growing with SF), so THIS lane provably runs the salted arm at a 2.0
    // threshold; SkewJoinSpec pins the plain arm and the flip in both
    // directions. Either arm is result-identical — the oracle is the plain
    // join over the same key mapping.
    "join_skew_advised" -> ((s, d) => {
      val big = Tables.events(s, d)
        .select(when(col("user_id") % 4 =!= 0, lit(1L))
          .otherwise(col("user_id")).as("k"), col("value"))
      val small = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      val (joined, decision) = graft.ext.SkewJoin.advisedJoin(
        big, small, "k", skewThreshold = 2.0, salt = 8)
      assert(decision.salted, s"hot-key fixture must trip the advisory: $decision")
      joined
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // Runtime Bloom pre-filter ahead of a shuffle join: the dimension's key
    // set becomes a 2^18-bit filter (built distributed, only 4 KB of words
    // reach the driver) applied to the fact side BEFORE the exchange — most
    // non-matching lineitem rows never shuffle. Result-identical to the
    // plain join (no false negatives), so the oracle IS the plain join.
    "join_bloom_prefilter" -> ((s, d) => {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "F")
      graft.ext.BloomJoin.prefilteredJoin(
          Tables.lineitem(s, d), dim, "l_orderkey", "o_orderkey")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_year"))
    }),

    // BUCKETED fact-fact join: orders and lineitem persisted once as
    // bucketBy(8, orderkey).sortBy(orderkey) twins, then joined with ZERO
    // exchange and zero sort on the join key — the shuffle moved to ingest
    // (the one join class broadcast can't fix; layout IS the index, like
    // the signature store and the IVF cells). The merge hint keeps the
    // plan the bucketed SMJ even where stats would pick broadcast; the
    // layout is semantics-transparent, so the oracle is the PLAIN join.
    // Zero-exchange is pinned in ExplainSpec.
    "join_bucketed_smj" -> ((s, d) => {
      val l = graft.ext.BucketedLayout.table(s, d, "lineitem", "l_orderkey")
      val o = graft.ext.BucketedLayout.table(s, d, "orders", "o_orderkey")
      l.hint("merge")
        .join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    // PIVOT: order counts per status spread across priority columns.
    "agg_pivot" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("p1"),
          coalesce(col("2-HIGH"), lit(0L)).as("p2"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p3"),
          coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("p4"),
          coalesce(col("5-LOW"), lit(0L)).as("p5"))
        .orderBy(col("o_orderstatus"))
    }),

    // ordered string aggregation per group
    "agg_string_agg" -> ((s, d) => {
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy(col("n_regionkey"))
    }),

    // explode/unnest: one row per word of p_name with its position
    "scalar_explode_unnest" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_partkey") < 100)
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .orderBy(col("p_partkey"), col("pos"))
    }),

    "scalar_string_funcs2" -> ((s, d) => {
      Tables.customer(s, d)
        .filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          initcap(lower(col("c_mktsegment"))).as("seg_cap"),
          reverse(col("c_name")).as("rev_name"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("trans"),
          levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"),
          repeat(lit("ab"), 3).as("rep"),
          left(col("c_name"), lit(8)).as("l8"))
        .orderBy(col("c_custkey"))
    }),

    // ---- window functions --------------------------------------------------
    "window_rank_dense_topn" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("c_nationkey"), col("rn"), col("rnk"), col("drnk"),
          col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy(col("c_nationkey"), col("rn"))
    }),

    "window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id") < 20)
        .withColumn("prev_type", lag(col("event_type"), 1, "none").over(w))
        .withColumn("next_type", lead(col("event_type"), 1, "none").over(w))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("prev_type"), col("next_type"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // TIME-based rolling window (RANGE frame on the ns timestamp): the
    // trailing-1-hour aggregate every monitoring/rate query needs — peers
    // at the same instant enter the frame together (set semantics, unlike
    // the ROWS frames above), so ties replay identically in any engine.
    "window_range_rolling" -> ((s, d) => {
      val hourNs = 3600L * 1000000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
        .rangeBetween(-hourNs, 0)
      Tables.events(s, d)
        .filter(col("user_id") < 10)
        .withColumn("rolling_1h", round(sum(col("value")).over(w), 2))
        .select(col("user_id"), col("event_id"), col("ts_ns"), col("rolling_1h"))
        .orderBy(col("user_id"), col("ts_ns"), col("event_id"))
    }),

    // Resample-to-grid + forward fill (LOCF): per user, a daily spine from
    // first to last activity, each day carrying the day's LAST observation
    // (deterministic (ts, event_id) tie rule) forward across gaps — the
    // time-series densification every feature-store/backtest pipeline
    // runs. Spine is per-user bounded (explode of a day sequence), fill is
    // one user-keyed window; no cross join, no driver loop.
    "ts_resample_ffill" -> ((s, d) => {
      val wFill = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      TsSpine.spineDaily(s, d)
        .withColumn("close_filled",
          round(last(col("close"), ignoreNulls = true).over(wFill), 2))
        .withColumn("observed", col("close").isNotNull)
        .select(col("user_id"), col("day"), col("close_filled"), col("observed"))
        .orderBy(col("user_id"), col("day"))
    }),

    "window_running_moving" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id") < 20)
        .withColumn("running_sum",
          round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .withColumn("moving_avg",
          round(avg(col("value")).over(w.rowsBetween(-3, 0)), 4))
        .select(col("user_id"), col("event_id"), col("running_sum"), col("moving_avg"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "window_ntile_share" -> ((s, d) => {
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 2000)
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("vol"))
        .orderBy(col("quartile"))
    }),

    // distribution window functions: percent_rank / cume_dist per
    // partition key — PARTITION BY parallelizes the sort across nations,
    // the remaining SQL-window shapes beside rank/ntile/lag/frames
    "window_distribution" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .filter(col("c_custkey") < 800)
        .select(col("c_nationkey"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("bal"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    }),

    // ---- sorts / top-k -----------------------------------------------------
    "sort_multikey" -> ((s, d) => {
      Tables.supplier(s, d)
        .select(col("s_nationkey"), round(col("s_acctbal"), 2).as("bal"), col("s_suppkey"))
        .orderBy(col("s_nationkey").asc, col("bal").desc, col("s_suppkey").asc)
    }),

    // Global top-K: Spark plans TakeOrderedAndProject — per-partition heap,
    // no full sort, no single-node shuffle of the whole table.
    "sort_topk" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(25)
    }),

    // ---- set operations ----------------------------------------------------
    "setop_union_all" -> ((s, d) => {
      val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val b = Tables.customer(s, d).filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey").as("k"))
      a.union(b).groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
    }),

    "setop_union_distinct" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "P").select(col("o_custkey").as("k"))
      a.union(b).distinct().orderBy(col("k"))
    }),

    "setop_intersect" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
      a.intersect(b).orderBy(col("k"))
    }),

    "setop_except" -> ((s, d) => {
      val a = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.except(b).orderBy(col("k"))
    }),

    // bag-semantics set ops: EXCEPT ALL / INTERSECT ALL keep per-key
    // multiplicities (the dedup-free forms); summarized per key so the
    // verify payload stays small while every multiplicity is checked
    "setop_except_all" -> ((s, d) => {
      val a = Tables.lineitem(s, d).filter(col("l_orderkey") < 2000)
        .select(col("l_partkey").as("k"))
      val b = Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 2000 && col("l_linenumber") > 1)
        .select(col("l_partkey").as("k"))
      a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    "setop_intersect_all" -> ((s, d) => {
      val a = Tables.lineitem(s, d).filter(col("l_orderkey") < 2000)
        .select(col("l_partkey").as("k"))
      val b = Tables.lineitem(s, d)
        .filter(col("l_orderkey") >= 1000 && col("l_orderkey") < 3000)
        .select(col("l_partkey").as("k"))
      a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match each other — the semantics a plain equi-join silently drops
    "join_null_safe_eq" -> ((s, d) => {
      val a = Tables.customer(s, d).filter(col("c_custkey") < 2000)
        .select(col("c_custkey"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg"))
      val b = Tables.customer(s, d)
        .filter(col("c_custkey") % 50 === 0 && col("c_custkey") < 2000)
        .select(col("c_custkey").as("k2"),
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg2"))
      a.join(b, col("seg") <=> col("seg2"))
        .groupBy(coalesce(col("seg"), lit("(null)")).as("seg"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("seg"))
    }),

    // JSON path extraction over the semi-structured props column — the
    // schema-on-read surface (get_json_object stays a scan-stage
    // projection; the aggregate proves the extracted values are typed)
    "scalar_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .groupBy(col("event_type"))
        .agg(count(col("k_val")).as("n_with_k"),
          sum(col("k_val")).as("sum_k"),
          min(col("k_val")).as("min_k"), max(col("k_val")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // URL parsing: Spark's parse_url over deterministically constructed
    // URLs — the oracle regenerates the parts from the construction rule,
    // so any component parse_url mis-extracts hash-mismatches.
    "scalar_url_parse" -> ((s, d) => {
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("lang"), lit("/"), col("doc_id").cast("string"),
        lit("?ref="), col("lang"), lit("&id="), col("doc_id").cast("string"))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("__u"))
        .select(col("doc_id"),
          parse_url(col("__u"), lit("HOST")).as("host"),
          parse_url(col("__u"), lit("PATH")).as("path"),
          parse_url(col("__u"), lit("QUERY"), lit("ref")).as("ref"),
          parse_url(col("__u"), lit("PROTOCOL")).as("proto"))
        .orderBy(col("doc_id"))
    }),

    // ---- scalar functions --------------------------------------------------
    "scalar_string_funcs" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_partkey") < 200)
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_brand")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub5"),
          length(col("p_name")).as("len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
          trim(lit("  pad  ")).as("trimmed"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"))
        .orderBy(col("p_partkey"))
    }),

    "scalar_math_funcs" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("abs_dev"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          pmod(col("l_orderkey"), lit(7)).as("m7"),
          (col("l_quantity") * col("l_quantity")).as("sqr"),
          round(log(col("l_extendedprice")), 6).as("ln_p"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "scalar_date_funcs" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("q"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("plus30"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to"))
        .orderBy(col("o_orderkey"))
    }),

    "scalar_case_null" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, "debt")
            .when(col("c_acctbal") < 5000, "low")
            .otherwise("high").as("tier"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(bldg)")).as("seg"),
          (col("c_acctbal") > 0).as("positive"))
        .orderBy(col("c_custkey"))
    }),

    // ---- subqueries (SQL surface, spark.sql over temp views) ---------------
    "subq_in_uncorrelated" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("v_customer")
      Tables.nation(s, d).createOrReplaceTempView("v_nation")
      s.sql(
        """SELECT c_custkey, c_name FROM v_customer
          |WHERE c_nationkey IN (SELECT n_nationkey FROM v_nation WHERE n_regionkey = 2)
          |ORDER BY c_custkey""".stripMargin)
    }),

    "subq_scalar_agg" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM v_orders
          |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM v_orders)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    "subq_not_in_uncorrelated" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("v_supplier2")
      Tables.nation(s, d).createOrReplaceTempView("v_nation2")
      s.sql(
        """SELECT s_suppkey, s_name FROM v_supplier2
          |WHERE s_nationkey NOT IN (SELECT n_nationkey FROM v_nation2 WHERE n_regionkey < 2)
          |ORDER BY s_suppkey""".stripMargin)
    }),

    // WITH RECURSIVE (Spark 4 native): a data-independent date spine
    // generated by the recursion, LEFT-joined to orders — the canonical
    // gap-filling calendar shape reporting pipelines need (a plain GROUP
    // BY silently drops zero-order days). The recursion is driver-free:
    // Catalyst unrolls it into iterative union steps.
    "sql_recursive_date_spine" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_rec")
      s.sql(
        """WITH RECURSIVE days(day) AS (
          |  SELECT DATE '1995-01-01'
          |  UNION ALL SELECT day + INTERVAL 1 DAY FROM days
          |  WHERE day < DATE '1995-02-28'
          |)
          |SELECT CAST(day AS STRING) AS day, count(o_orderkey) AS n,
          |  round(coalesce(sum(o_totalprice), 0.0), 2) AS vol
          |FROM days LEFT JOIN v_orders_rec ON CAST(o_orderdate AS DATE) = day
          |GROUP BY day ORDER BY day""".stripMargin)
    }),

    // LATERAL correlated subquery: per-region top-2 nations — the
    // "top-N per group" shape as SQL (the DataFrame twin is the ranked
    // window in window_rank_dense_topn); Catalyst decorrelates the
    // lateral into a ranked join, no per-row re-execution.
    "sql_lateral_topn" -> ((s, d) => {
      Tables.region(s, d).createOrReplaceTempView("v_region_lat")
      Tables.nation(s, d).createOrReplaceTempView("v_nation_lat")
      s.sql(
        """SELECT r.r_name, l.n_name FROM v_region_lat r,
          |LATERAL (SELECT n_name FROM v_nation_lat
          |         WHERE n_regionkey = r.r_regionkey
          |         ORDER BY n_name LIMIT 2) l
          |ORDER BY r_name, n_name""".stripMargin)
    }),

    // UNPIVOT (melt): the wide one-row stats frame to (k, v) pairs —
    // the inverse of agg_pivot, closing the reshape pair.
    "agg_unpivot" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_up")
      s.sql(
        """SELECT k, v FROM (
          |  SELECT round(sum(o_totalprice), 2) AS total,
          |         round(avg(o_totalprice), 2) AS mean,
          |         round(max(o_totalprice), 2) AS top,
          |         CAST(count(*) AS DOUBLE) AS n
          |  FROM v_orders_up)
          |UNPIVOT (v FOR k IN (total, mean, top, n))
          |ORDER BY k""".stripMargin)
    }),

    "agg_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS st,
          |       coalesce(o_orderpriority, 'ALL') AS pr,
          |       count(*) AS n, round(sum(o_totalprice), 2) AS vol
          |FROM v_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY st, pr""".stripMargin)
    }),

    // GROUPING()/GROUPING_ID() markers with CUBE: the bits that tell a
    // report row apart from a real NULL group — completes the grouping-
    // analytics surface beside grouping sets / rollup / cube
    "agg_grouping_id" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders_gid")
      s.sql(
        """SELECT coalesce(o_orderstatus, '(all)') AS st,
          |       coalesce(o_orderpriority, '(all)') AS pr,
          |       grouping(o_orderstatus) AS g_st,
          |       grouping(o_orderpriority) AS g_pr,
          |       count(*) AS n
          |FROM v_orders_gid
          |GROUP BY CUBE (o_orderstatus, o_orderpriority)
          |ORDER BY st, pr, g_st, g_pr""".stripMargin)
    }),

    // existence-flag (mark) join: every left row kept, one boolean per
    // row saying whether a match exists — the shape EXISTS-in-SELECT
    // compiles to; summarized per segment
    "join_existence_flag" -> ((s, d) => {
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("k")).distinct()
        .withColumn("__hit", lit(1))
      Tables.customer(s, d)
        .join(broadcast(urgent), col("c_custkey") === col("k"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_with_urgent"))
        .orderBy(col("c_mktsegment"))
    }),

    "subq_correlated_exists" -> ((s, d) => {
      Tables.supplier(s, d).createOrReplaceTempView("v_supplier")
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT s_suppkey, s_name FROM v_supplier
          |WHERE EXISTS (SELECT 1 FROM v_lineitem
          |              WHERE l_suppkey = s_suppkey AND l_quantity > 49)
          |ORDER BY s_suppkey""".stripMargin)
    })
  )

  /** The WARC record-geometry replay, shared by the plain and the
    * gz-member lanes (per-member inflation reproduces the plain
    * concatenation byte-for-byte, so one arithmetic oracle covers both):
    * the header is REBUILT byte-for-byte in SQL, content_length and each
    * record's in-(decompressed-)file offset are pure arithmetic over the
    * documents table — no WARC parsing oracle-side. */
  private val warcGeometryOracle: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    'https://example.org/doc/' || doc_id AS target_uri,
      |    strftime(make_timestamp((1767225600 + doc_id) * 1000000),
      |             '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
      |    md5(text) AS payload_md5
      |  FROM documents WHERE doc_id < 500),
      |h AS (
      |  SELECT *,
      |    octet_length(encode('WARC/1.0' || chr(13)||chr(10) ||
      |      'WARC-Type: response' || chr(13)||chr(10) ||
      |      'WARC-Record-ID: <urn:graft:doc:' || doc_id || '>' || chr(13)||chr(10) ||
      |      'WARC-Date: ' || warc_date || chr(13)||chr(10) ||
      |      'WARC-Target-URI: ' || target_uri || chr(13)||chr(10) ||
      |      'Content-Type: text/plain' || chr(13)||chr(10) ||
      |      'Content-Length: ' || content_length || chr(13)||chr(10) ||
      |      chr(13)||chr(10))) + content_length + 4 AS rec_size
      |  FROM r)
      |SELECT doc_id, 'response' AS warc_type,
      |  '<urn:graft:doc:' || doc_id || '>' AS record_id,
      |  warc_date, target_uri, content_length,
      |  CAST(coalesce(sum(rec_size) OVER (PARTITION BY doc_id % 4
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS BIGINT) AS offset,
      |  payload_md5
      |FROM h ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "tpch_q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        |  round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),2) AS sum_charge,
        |  round(avg(l_quantity),4) AS avg_qty,
        |  round(avg(l_extendedprice),4) AS avg_price,
        |  round(avg(l_discount),4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "tpch_q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,

    "tpch_q4_priority_count" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "tpch_q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem, orders, customer, nation
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "tpch_q14_promo_share" ->
      s"""SELECT ${OracleSql.sparkRound(
            """sum(CASE WHEN p_type LIKE 'ECONOMY%'
              |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0
              |  / sum(l_extendedprice * (1.0 - l_discount))""".stripMargin, 4)} AS promo_pct,
         |  count(*) AS n
         |FROM lineitem, part
         |WHERE l_partkey = p_partkey
         |  AND l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
         |  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,

    "tpch_q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tpch_q8_market_share" ->
      s"""SELECT year(o_orderdate) AS o_year,
         |  ${OracleSql.sparkRound(
              """sum(CASE WHEN n2.n_name = 'NATION_3'
                |              THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
                |        / sum(l_extendedprice * (1.0 - l_discount))""".stripMargin, 6)} AS mkt_share
         |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region   ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type LIKE 'ECONOMY%' AND r_name = 'EUROPE'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "tpch_q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "tpch_q19_discounted_revenue" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q22_inactive_rich" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "tpch_q2_min_cost_supplier" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |            FROM lineitem)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part, ps, supplier, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey AND p_size = 15
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND s_acctbal = (SELECT min(s_acctbal)
        |                   FROM ps ps2, supplier, nation, region
        |                   WHERE ps2.ps_partkey = p_partkey
        |                     AND s_suppkey = ps2.ps_suppkey
        |                     AND s_nationkey = n_nationkey
        |                     AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    "tpch_q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)
        |            - p_retailprice * 0.6 * l_quantity), 2) AS profit
        |FROM lineitem
        |JOIN part     ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "tpch_q11_important_stock" ->
      s"""WITH vals AS (
         |  SELECT l_partkey AS p_partkey,
         |    round(sum(l_quantity * p_retailprice), 2) AS value
         |  FROM lineitem
         |  JOIN part ON l_partkey = part.p_partkey
         |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation
         |                      ON s_nationkey = n_nationkey
         |                      WHERE n_name = 'NATION_5')
         |  GROUP BY 1),
         |c AS (
         |  SELECT p_partkey, value,
         |    CAST(floor(value * 100 + 0.5) AS HUGEINT) AS cents
         |  FROM vals),
         |t AS (SELECT sum(cents) AS sum_c, count(*) AS n FROM c)
         |SELECT p_partkey, value FROM c, t
         |WHERE cents * 10 * n > sum_c * 25
         |ORDER BY value DESC, p_partkey""".stripMargin,

    "tpch_q12_late_priority" ->
      """SELECT l_returnflag AS mode,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_q15_top_supplier" ->
      """WITH srev AS (
        |  SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM srev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM srev)
        |ORDER BY s_suppkey""".stripMargin,

    "tpch_q16_supplier_parts" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |      FROM lineitem) ps
        |JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                         WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "tpch_q17_small_qty_revenue" ->
      s"""SELECT ${OracleSql.sparkRound(
            "sum(l_extendedprice) / 7.0", 2)} AS avg_yearly, count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand = 'Brand#3'
         |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
         |                    WHERE l2.l_partkey = part.p_partkey)""".stripMargin,

    "tpch_q20_excess_supply" ->
      """WITH pair AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty_total,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        |              AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
        |             THEN l_quantity ELSE 0.0 END) AS qty_win
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM pair
        |    WHERE qty_win > 0.5 * qty_total
        |      AND l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small%'))
        |ORDER BY s_name""".stripMargin,

    "tpch_q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "agg_mode_deterministic" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, n FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY count(*) DESC, o_orderpriority) AS rk
        |  FROM orders GROUP BY 1, 2)
        |WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin,

    "agg_stats_per_group" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  round(sum(o_totalprice),2) AS sum_price,
        |  round(min(o_totalprice),2) AS min_price,
        |  round(max(o_totalprice),2) AS max_price,
        |  round(avg(o_totalprice),4) AS avg_price
        |FROM orders GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "agg_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        |  count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "agg_cube" ->
      """SELECT coalesce(o_orderstatus,'ALL') AS st, coalesce(o_orderpriority,'ALL') AS pr,
        |  count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pr""".stripMargin,

    "agg_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "scalar_json_map_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k,
        |  'k' AS first_key,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_via_map,
        |  1 AS n_entries
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,

    "scalar_array_funcs" ->
      """SELECT p_partkey,
        |  len(string_split(p_name, ' ')) AS n_words,
        |  array_to_string(list_sort(string_split(p_name, ' ')), '_') AS sorted_joined,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  len(list_distinct(string_split(p_name, ' '))) AS n_distinct
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin,

    "tpch_q3_top_orders" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "tpch_q5_region_volume" ->
      """SELECT n_name, round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "source_partitioned_pruning" ->
      """SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    "join_inner" ->
      """SELECT n_nationkey, n_name, r_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "join_left_outer" ->
      """SELECT c_custkey, coalesce(big_orders, 0) AS big_orders
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS big_orders FROM orders
        |  WHERE o_totalprice > 400000.0 GROUP BY o_custkey) o
        |ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "join_right_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big
        |FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "join_full_outer" ->
      """SELECT coalesce(a.o_custkey, -1) AS f_cust, coalesce(b.cust2, -1) AS o_cust
        |FROM (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='F') a
        |FULL OUTER JOIN (SELECT DISTINCT o_custkey AS cust2 FROM orders WHERE o_orderstatus='O') b
        |ON a.o_custkey = b.cust2
        |ORDER BY f_cust, o_cust""".stripMargin,

    "join_semi_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_anti_not_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000.0)
        |ORDER BY c_custkey""".stripMargin,

    "join_cross_small" ->
      """SELECT r_name, n_name FROM region CROSS JOIN (SELECT n_name FROM nation)
        |ORDER BY r_name, n_name""".stripMargin,

    "join_theta_band" ->
      """SELECT band, count(*) AS n, round(sum(o_totalprice),2) AS volume
        |FROM orders JOIN (VALUES ('low',0.0,100000.0),('mid',100000.0,300000.0),
        |  ('high',300000.0,1e18)) AS bands(band,lo,hi)
        |ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "join_skew_salted" ->
      """SELECT s_name, count(*) AS n, round(sum(l_quantity),2) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    // the advisory's arms are result-identical, so the oracle is the plain
    // join over the same hot-key mapping
    "join_skew_advised" ->
      """WITH big AS (
        |  SELECT CASE WHEN user_id % 4 != 0 THEN 1 ELSE user_id END AS k, value
        |  FROM events)
        |SELECT c_mktsegment, count(*) AS n, round(sum(value),2) AS val_sum
        |FROM big JOIN customer ON k = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // the same ANSI MERGE shape: matched targets drop (anti join), the
    // change batch appends — update rows replace, insert rows add
    "merge_upsert_orders" ->
      """WITH tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |          o_totalprice + 1000.0 AS o_totalprice
        |        FROM tgt WHERE o_orderkey % 10 = 0),
        |ins AS (SELECT -o_orderkey AS o_orderkey, 'I' AS o_orderstatus,
        |          o_totalprice
        |        FROM tgt WHERE o_orderkey % 7 = 0),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |merged AS (
        |  SELECT t.* FROM tgt t ANTI JOIN src s ON t.o_orderkey = s.o_orderkey
        |  UNION ALL SELECT * FROM src)
        |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS vol,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The Bloom pre-filter is semantics-transparent: the oracle is the
    // PLAIN join — any false negative in the filter would show up here as
    // a missing row.
    "join_bloom_prefilter" ->
      """SELECT year(o_orderdate) AS o_year, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // layout is semantics-transparent: the oracle is the plain join — a
    // bucketing bug (row lost to the wrong bucket, dropped during the
    // bucketed write) shows up here as a row/hash mismatch
    "join_bucketed_smj" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1.0 - l_discount)),2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "source_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice),2) AS vol
        |FROM orders WHERE o_orderkey < 1000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "source_avro_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice),2) AS vol
        |FROM orders WHERE o_orderkey < 1000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "sql_recursive_date_spine" ->
      """WITH RECURSIVE days(day) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT day + INTERVAL 1 DAY FROM days
        |  WHERE day < DATE '1995-02-28'
        |)
        |SELECT CAST(day AS VARCHAR) AS day, count(o_orderkey) AS n,
        |  round(coalesce(sum(o_totalprice), 0.0), 2) AS vol
        |FROM days LEFT JOIN orders ON CAST(o_orderdate AS DATE) = day
        |GROUP BY day ORDER BY day""".stripMargin,

    "sql_lateral_topn" ->
      """SELECT r.r_name, l.n_name FROM region r,
        |LATERAL (SELECT n_name FROM nation
        |         WHERE n_regionkey = r.r_regionkey
        |         ORDER BY n_name LIMIT 2) l
        |ORDER BY r_name, n_name""".stripMargin,

    "agg_unpivot" ->
      """SELECT k, v FROM (
        |  SELECT round(sum(o_totalprice), 2) AS total,
        |         round(avg(o_totalprice), 2) AS mean,
        |         round(max(o_totalprice), 2) AS top,
        |         CAST(count(*) AS DOUBLE) AS n
        |  FROM orders)
        |UNPIVOT (v FOR k IN (total, mean, top, n))
        |ORDER BY k""".stripMargin,

    "source_json_roundtrip" ->
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_v
        |FROM events WHERE event_id < 5000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // byte length + md5 over the SAME UTF-8 encoding the fixture writer
    // used; DuckDB's md5(VARCHAR) hashes the string's UTF-8 bytes, which is
    // exactly what the binaryFile scan read back from disk. The > 0 mirrors
    // The overwrite rule replayed from the source table: en partitions
    // carry the rewrite batch's doubled chars, everything else original.
    "source_dynamic_overwrite" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END)
        |       AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Generation rule replayed from the source table: odd doc_ids carry
    // n_chars, even ones read it as NULL under mergeSchema.
    "source_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_evolved,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0) AS BIGINT)
        |    AS chars_evolved
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // the scan's documented zero-byte-file drop (no-op on this corpus).
    "source_binary_files" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents WHERE doc_id < 500 AND octet_length(encode(text)) > 0
        |ORDER BY doc_id""".stripMargin,

    // Full WARC geometry replay: the header is REBUILT byte-for-byte in
    // SQL (CRLF = chr(13)||chr(10)), so content_length and each record's
    // in-file offset (running sum over the doc_id%4 file group) are pure
    // arithmetic over the documents table — no WARC parsing oracle-side.
    "source_warc_records" -> warcGeometryOracle,

    // The gz container is invisible to record geometry: per-member
    // inflation reproduces the plain concatenation byte-for-byte, so the
    // SAME arithmetic replay is the gz lane's exact oracle.
    "source_warc_gz_records" -> warcGeometryOracle,

    // The HTTP-envelope strip checked by REBUILDING the entire HTML body
    // in SQL (the fixture payload is a pure function of (doc_id, text)):
    // body_len is the parsed Content-Length header (cross-checked in the
    // parser against actual body bytes), body_md5 hashes the stripped
    // body, so envelope drift of a single byte fails the lane.
    "source_warc_http" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title><style>p{margin:0}</style>'
        |    || '<script>var s="<p>no</p>";</script></head><body>'
        |    || '<div><a href="/">Home</a> <a href="/about">About</a> '
        |    || '<a href="/contact">Contact</a></div>'
        |    || '<h1>Doc ' || doc_id || '</h1><p>' || text || '</p>'
        |    || '<p>tail ' || doc_id || ' &amp; fin&#33;</p>'
        |    || '<div><a href="/terms">Terms</a> <a href="/privacy">Privacy</a></div>'
        |    || '</body></html>' AS html
        |  FROM documents WHERE doc_id < 500)
        |SELECT doc_id, CAST(200 AS INT) AS status_code, 'OK' AS reason,
        |  'text/html; charset=utf-8' AS http_content_type,
        |  CAST(octet_length(encode(html)) AS BIGINT) AS body_len,
        |  md5(html) AS body_md5
        |FROM b ORDER BY doc_id""".stripMargin,

    // corrupt/good split replayed from the fixture's generation rule
    "source_csv_permissive" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN doc_id % 37 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars_good
        |FROM documents WHERE doc_id < 500""".stripMargin,

    "source_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty,
        |  round(sum(l_extendedprice), 2) AS price
        |FROM lineitem WHERE l_orderkey < 2000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_approx_distinct_check" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact,
        |  true AS within_10pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_approx_quantile_check" ->
      s"""SELECT ${OracleSql.sparkRound("quantile_cont(o_totalprice, 0.5)", 2)} AS p50_exact,
         |  ${OracleSql.sparkRound("quantile_cont(o_totalprice, 0.9)", 2)} AS p90_exact,
         |  true AS p50_close, true AS p90_close
         |FROM orders""".stripMargin,

    "agg_pivot" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_string_agg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "scalar_explode_unnest" ->
      """WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS parts
        |           FROM part WHERE p_partkey < 100)
        |SELECT p_partkey, unnest(range(len(parts))) AS pos, unnest(parts) AS word
        |FROM w ORDER BY p_partkey, pos""".stripMargin,

    "scalar_string_funcs2" ->
      """SELECT c_custkey,
        |  -- initcap of a single lowercased word == ucfirst
        |  upper(substring(lower(c_mktsegment), 1, 1)) || substring(lower(c_mktsegment), 2) AS seg_cap,
        |  reverse(c_name) AS rev_name,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS trans,
        |  levenshtein(c_mktsegment, 'BUILDING') AS lev,
        |  repeat('ab', 3) AS rep,
        |  left(c_name, 8) AS l8
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,

    "window_rank_dense_topn" ->
      """SELECT c_nationkey, rn, rnk, drnk, c_custkey, round(c_acctbal,2) AS bal
        |FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |   rank()       OVER w AS rnk,
        |   dense_rank() OVER w AS drnk,
        |   row_number() OVER w AS rn
        | FROM customer
        | WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin,

    "window_lag_lead" ->
      """SELECT user_id, event_id, event_type,
        |  lag(event_type, 1, 'none')  OVER w AS prev_type,
        |  lead(event_type, 1, 'none') OVER w AS next_type
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "window_range_rolling" ->
      """SELECT user_id, event_id, epoch_us(ts) * 1000 AS ts_ns,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) * 1000
        |    RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW), 2) AS rolling_1h
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, ts_ns, event_id""".stripMargin,

    "ts_resample_ffill" ->
      s"""${OracleSql.userDailySpineCtes}
        |SELECT user_id, day,
        |  round(last_value(close IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS close_filled,
        |  close IS NOT NULL AS observed
        |FROM j ORDER BY user_id, day""".stripMargin,

    "window_running_moving" ->
      """SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_sum,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),4) AS moving_avg
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,

    "window_ntile_share" ->
      """SELECT quartile, count(*) AS n, round(sum(o_totalprice),2) AS vol
        |FROM (SELECT o_totalprice,
        |   ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS quartile
        | FROM orders WHERE o_orderkey < 2000)
        |GROUP BY quartile ORDER BY quartile""".stripMargin,

    "window_distribution" ->
      """SELECT c_nationkey, c_custkey, round(c_acctbal,2) AS bal,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM customer WHERE c_custkey < 800
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,

    "sort_multikey" ->
      """SELECT s_nationkey, round(s_acctbal,2) AS bal, s_suppkey FROM supplier
        |ORDER BY s_nationkey ASC, bal DESC, s_suppkey ASC""".stripMargin,

    "sort_topk" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY price DESC, o_orderkey LIMIT 25""".stripMargin,

    "setop_union_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000.0)
        |GROUP BY k ORDER BY k""".stripMargin,

    "setop_union_distinct" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        |UNION
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus='P'
        |ORDER BY k""".stripMargin,

    "setop_intersect" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus='F'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus='O'
        |ORDER BY k""".stripMargin,

    "setop_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,

    "setop_except_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT l_partkey AS k FROM lineitem WHERE l_orderkey < 2000
        |  EXCEPT ALL
        |  SELECT l_partkey AS k FROM lineitem
        |  WHERE l_orderkey < 2000 AND l_linenumber > 1)
        |GROUP BY k ORDER BY k""".stripMargin,

    "setop_intersect_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT l_partkey AS k FROM lineitem WHERE l_orderkey < 2000
        |  INTERSECT ALL
        |  SELECT l_partkey AS k FROM lineitem
        |  WHERE l_orderkey >= 1000 AND l_orderkey < 3000)
        |GROUP BY k ORDER BY k""".stripMargin,

    "agg_grouping_id" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS st,
        |       coalesce(o_orderpriority, '(all)') AS pr,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_st,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_pr,
        |       count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pr, g_st, g_pr""".stripMargin,

    "join_existence_flag" ->
      """WITH u AS (SELECT DISTINCT o_custkey AS k FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CASE WHEN u.k IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_with_urgent
        |FROM customer LEFT JOIN u ON c_custkey = u.k
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "scalar_json_extract" ->
      """SELECT event_type,
        |  count(k_val) AS n_with_k, CAST(sum(k_val) AS BIGINT) AS sum_k,
        |  min(k_val) AS min_k, max(k_val) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_null_safe_eq" ->
      """SELECT coalesce(a.seg, '(null)') AS seg, count(*) AS n_pairs
        |FROM (SELECT nullif(c_mktsegment, 'BUILDING') AS seg FROM customer
        |      WHERE c_custkey < 2000) a
        |JOIN (SELECT nullif(c_mktsegment, 'BUILDING') AS seg2 FROM customer
        |      WHERE c_custkey % 50 = 0 AND c_custkey < 2000) b
        |  ON a.seg IS NOT DISTINCT FROM b.seg2
        |GROUP BY 1 ORDER BY seg""".stripMargin,

    // ground truth from the construction rule, not a URL parser
    "scalar_url_parse" ->
      """SELECT doc_id,
        |  source || '.example.com' AS host,
        |  '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
        |  lang AS ref,
        |  'https' AS proto
        |FROM documents ORDER BY doc_id""".stripMargin,

    "scalar_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
        |  substring(p_name, 1, 5) AS sub5, length(p_name) AS len,
        |  concat_ws('|', p_brand, p_type) AS cat,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  trim('  pad  ') AS trimmed,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin,

    "scalar_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_quantity - 25.0) AS abs_dev,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  round(sqrt(l_quantity),6) AS sq,
        |  l_orderkey % 7 AS m7,
        |  l_quantity * l_quantity AS sqr,
        |  round(ln(l_extendedprice),6) AS ln_p
        |FROM lineitem WHERE l_orderkey < 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "scalar_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  dayofmonth(o_orderdate) AS dom, quarter(o_orderdate) AS q,
        |  strftime(o_orderdate, '%Y-%m-%d') AS ds,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "scalar_case_null" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'debt'
        |       WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS tier,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg,
        |  c_acctbal > 0 AS positive
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "subq_in_uncorrelated" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        |ORDER BY c_custkey""".stripMargin,

    "subq_scalar_agg" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
        |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "subq_not_in_uncorrelated" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey < 2)
        |ORDER BY s_suppkey""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |       coalesce(o_orderpriority, 'ALL') AS pr,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS vol
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY st, pr""".stripMargin,

    "subq_correlated_exists" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity > 49)
        |ORDER BY s_suppkey""".stripMargin
  )
}
