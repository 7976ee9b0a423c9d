package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.QuerySpec
import graft.functions.Money._
import graft.tables.Tables

/** Relational parity surface (SURVEY.md §2): scans, filters, projections,
  * joins (inner / left-outer / semi / anti), hash aggregations, global
  * sorts, upsert algebra — re-expressed on the driver's TPC-H-ish corpus.
  *
  * Scale notes (100 TB design):
  *  - `part` / dimension sides are always `broadcast()`-hinted: the fact
  *    side streams, no shuffle of lineitem for the joins.
  *  - Aggregations are plain `groupBy.agg` → Catalyst plans partial/final
  *    HashAggregate with map-side combine; one shuffle on the group keys.
  *  - Money sums are exact decimals (see [[graft.functions.Money]]) so the
  *    result is independent of partition count/order.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: the canonical scan→filter→agg probe.
    * (Reference has no direct analog; this is the bench anchor query.)
    */
  val q00PricingSummary: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_base_price"),
          sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast(DoubleType).as("sum_disc_price"),
          sum(charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))).cast(DoubleType).as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sum(money(col("l_extendedprice"))).cast(DoubleType) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) AS sum_base_price,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS sum_disc_price,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2))) * (1 + cast(l_tax AS decimal(4,2)))) AS double) AS sum_charge,
      |  sum(l_quantity) / count(*) AS avg_qty,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) / count(*) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= timestamp '2000-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** A1 (README.md:43–54): total revenue per product, descending.
    *
    * Aggregate-before-join: lineitem is reduced to one row per partkey
    * *before* the dimension join, so the shuffle carries (bigint, partial
    * aggs) instead of fact rows widened with dimension strings, and the
    * join probes only #parts rows. At 100 TB this is the difference
    * between shuffling the fact table and shuffling its aggregate.
    */
  val q01RevenuePerProduct: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      // Two-phase aggregation instead of countDistinct: the distinct-
      // expand rewrite would DOUBLE the rows through the first shuffle
      // (one copy per aggregate family) and, with decimal revenue
      // buffers, allocate per partial update (the round-5 GC storm —
      // see Money.sumRevenueFast). Pre-aggregating per (part, order)
      // carries each group once with primitive long buffers; the order
      // count is then a plain count of pre-agg rows. Quantity sums stay
      // exact through both phases (integer-valued doubles).
      val agg = li.groupBy(col("l_partkey"), col("l_orderkey"))
        .agg(sum(revenueUnits(col("l_extendedprice"), col("l_discount"))).as("u"),
          sum(col("l_quantity")).as("q"))
        .groupBy(col("l_partkey"))
        .agg((sum(col("u")).cast("double") / lit(10000.0)).as("total_revenue"),
          sum(col("q")).as("total_qty"),
          count(lit(1)).as("n_orders"))
      agg.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("total_revenue"),
          col("total_qty"), col("n_orders"))
        .orderBy(col("total_revenue").desc, col("p_partkey"))
    },
    """SELECT p_partkey, p_name,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS total_revenue,
      |  sum(l_quantity) AS total_qty,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_partkey, p_name
      |ORDER BY total_revenue DESC, p_partkey""".stripMargin)

  /** A2 (README.md:79–92): quantity sold per product per month
    * (aggregate-before-join, as q01).
    */
  val q02OrdersMonthly: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      val agg = li.groupBy(
          col("l_partkey"),
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"))
        .agg(sum(col("l_quantity")).as("total_qty"))
      agg.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("ship_year"),
          col("ship_month"), col("total_qty"))
        .orderBy(col("ship_year").desc, col("ship_month").desc, col("total_qty").desc, col("p_partkey"))
    },
    """SELECT p_partkey, p_name,
      |  cast(year(l_shipdate) AS integer) AS ship_year,
      |  cast(month(l_shipdate) AS integer) AS ship_month,
      |  sum(l_quantity) AS total_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2, 3, 4
      |ORDER BY ship_year DESC, ship_month DESC, total_qty DESC, p_partkey""".stripMargin)

  /** A3 (README.md:96–109): revenue per category (p_type plays category). */
  val q03RevenuePerCategory: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_type"))
        .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"))
        .orderBy(col("total_revenue").desc)
    },
    """SELECT p_type,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_type
      |ORDER BY total_revenue DESC""".stripMargin)

  /** A4 (README.md:112–130): stock status over a LEFT JOIN — NULL
    * total_sold for never-sold parts must propagate (no coalesce).
    */
  val q04StockStatus: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      // aggregate the fact side first; LEFT JOIN of the dimension onto the
      // aggregate preserves NULL total_sold for never-sold parts
      val agg = li.groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("total_sold"))
      p.join(agg, p("p_partkey") === agg("l_partkey"), "left_outer")
        .select(col("p_partkey"), col("p_name"), col("p_size"), col("total_sold"),
          (col("p_size") - col("total_sold")).as("remaining_stock"))
        .orderBy(col("p_partkey"))
    },
    """SELECT p_partkey, p_name, p_size,
      |  sum(l_quantity) AS total_sold,
      |  p_size - sum(l_quantity) AS remaining_stock
      |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
      |GROUP BY p_partkey, p_name, p_size
      |ORDER BY p_partkey""".stripMargin)

  /** P6/O2 (README.md:69–72): low-stock filter + ascending sort. The
    * predicate reaches the parquet scan (PushedFilters).
    */
  val q05LowStock: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.part(s, dir)
        .filter(col("p_size") < 10)
        .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
        .orderBy(col("p_size").asc, col("p_partkey"))
    },
    """SELECT p_partkey, p_name, p_size, p_retailprice
      |FROM part WHERE p_size < 10
      |ORDER BY p_size ASC, p_partkey""".stripMargin)

  /** P7 (README.md:126–127): point lookup on a single product key. */
  val q06PointLookup: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).filter(col("p_partkey") === 1)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("p_name"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    """SELECT l_orderkey, l_linenumber, p_partkey, p_name, l_quantity, l_extendedprice
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_partkey = 1
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** A5 (README.md:132–148): best sellers — global ORDER BY like the
    * reference (per-group top-k is q26).
    */
  val q07BestSellers: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      val agg = li.groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("total_sold"))
      agg.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_type"), col("p_partkey"), col("p_name"), col("total_sold"))
        .orderBy(col("total_sold").desc, col("p_partkey"))
    },
    """SELECT p_type, p_partkey, p_name, sum(l_quantity) AS total_sold
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_type, p_partkey, p_name
      |ORDER BY total_sold DESC, p_partkey""".stripMargin)

  /** S3/J3: existence probe as a left-semi join (parts ever sold). */
  val q08ExistsSemiJoin: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"))
      Tables.part(s, dir)
        .join(li, col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
        .orderBy(col("p_partkey"))
    },
    """SELECT p_partkey, p_name, p_brand, p_type, p_size
      |FROM part p WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
      |ORDER BY p_partkey""".stripMargin)

  /** U0 insert-split: anti join — parts with no shipment in 2001+ (every
    * part has *some* lineitem in this corpus, so the probe is filtered to
    * keep the result non-trivial; the filter pushes below the join).
    */
  val q09AntiJoin: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("l_partkey"))
      Tables.part(s, dir)
        .join(li, col("p_partkey") === col("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
        .orderBy(col("p_partkey"))
    },
    """SELECT p_partkey, p_name, p_brand, p_type, p_size
      |FROM part p WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_partkey = p.p_partkey AND l.l_shipdate >= timestamp '2001-01-01 00:00:00')
      |ORDER BY p_partkey""".stripMargin)

  /** U1 (SURVEY.md §2.4): MERGE as anti-join + union — batch rows override
    * matching state rows, unmatched batch rows are inserts. State/batch are
    * deterministic slices of `orders`.
    */
  val q10UpsertMerge: QuerySpec = QuerySpec(
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val state = o.filter(col("o_orderkey") % 3 =!= 0)
      val batch = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      state.join(batch.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
        .unionByName(batch)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },
    """WITH state AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      |batch AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |                 o_totalprice * cast(1.1 AS double) AS o_totalprice,
      |                 o_orderdate, o_orderpriority
      |          FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM state WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
      |UNION ALL
      |SELECT * FROM batch
      |ORDER BY o_orderkey""".stripMargin)

  /** §2.4 duplicate-key last-write-wins: one surviving row per
    * (l_orderkey, l_partkey), highest l_linenumber wins. The order is a
    * total order (linenumber can repeat within a key in the corpus) so the
    * survivor is deterministic across engines and partitionings.
    */
  val q11UpsertLww: QuerySpec = QuerySpec(
    (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"), col("l_partkey"))
        .orderBy(col("l_linenumber").desc, col("l_extendedprice").desc,
          col("l_quantity").desc)
      Tables.lineitem(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_partkey"))
    },
    """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
      |FROM (SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice,
      |             row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber DESC, l_extendedprice DESC, l_quantity DESC) AS rn
      |      FROM lineitem)
      |WHERE rn = 1
      |ORDER BY l_orderkey, l_partkey""".stripMargin)

  /** §7.4 extension: per-category top-3 by revenue (window rank — the
    * per-group variant the reference's A5 lacks).
    */
  val q26TopKPerCategory: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      val agg = li.groupBy(col("l_partkey"))
        .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"))
      val rev = agg.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_type"), col("p_partkey"), col("p_name"), col("total_revenue"))
      val w = Window.partitionBy(col("p_type"))
        .orderBy(col("total_revenue").desc, col("p_partkey"))
      rev.withColumn("rank_in_type", row_number().over(w))
        .filter(col("rank_in_type") <= 3)
        .orderBy(col("p_type"), col("rank_in_type"))
    },
    """SELECT p_type, p_partkey, p_name, total_revenue, cast(rank_in_type AS integer) AS rank_in_type
      |FROM (
      |  SELECT p_type, p_partkey, p_name, total_revenue,
      |         row_number() OVER (PARTITION BY p_type ORDER BY total_revenue DESC, p_partkey) AS rank_in_type
      |  FROM (
      |    SELECT p_type, p_partkey, p_name,
      |      cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS total_revenue
      |    FROM lineitem JOIN part ON l_partkey = p_partkey
      |    GROUP BY p_type, p_partkey, p_name))
      |WHERE rank_in_type <= 3
      |ORDER BY p_type, rank_in_type""".stripMargin)

  /** §7.4 set algebra: INTERSECT / EXCEPT with set (distinct) semantics. */
  val q27SetOps: QuerySpec = QuerySpec(
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val finished = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val bigSpenders = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      finished.intersect(bigSpenders).except(urgent).orderBy(col("o_custkey"))
    },
    """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      | INTERSECT
      | SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin)

  /** §7.4 rollup: subtotal + grand-total rows with NULL group keys. */
  val q29Rollup: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)

  /** Global top-10 products by revenue via the bounded
    * [[graft.functions.TopK]] Aggregator — no global sort: each partition
    * keeps ≤k candidates, the reduce merges (numPartitions × k) rows.
    * (The reference's ORDER-BY-everything reports are kept as-is in
    * q01/q07; this is the scale-path alternative.)
    */
  val q33TopKGlobal: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val rev = li.groupBy(col("l_partkey"))
        .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"))
      val topk = udaf(new graft.functions.TopK(10))
      rev.agg(topk(col("total_revenue"), col("l_partkey")).as("top"))
        .select(posexplode(col("top")))
        .select(
          col("col._2").as("l_partkey"),
          col("col._1").as("total_revenue"),
          (col("pos") + 1).cast(IntegerType).as("rank"))
        .orderBy(col("rank"))
    },
    """SELECT l_partkey, total_revenue, rank FROM (
      |  SELECT l_partkey, total_revenue,
      |         cast(row_number() OVER (ORDER BY total_revenue DESC, l_partkey) AS integer) AS rank
      |  FROM (
      |    SELECT l_partkey,
      |      cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS total_revenue
      |    FROM lineitem GROUP BY l_partkey))
      |WHERE rank <= 10 ORDER BY rank""".stripMargin)

  /** Sketch aggregates (HLL distinct, approximate percentile): the
    * bounded-memory scale path for cardinality/quantile stats. Sketch
    * internals are engine-specific ⇒ rows-only check (no SQL oracle).
    */
  val q37SketchStats: QuerySpec = QuerySpec(
    run = (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("median_price_approx"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    oracle = None)

  /** §7.4 cube: all grouping-set combinations in one pass (Expand-based;
    * the full rollup/cube/grouping-sets family).
    */
  val q40Cube: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)

  /** §7.4 running aggregates: cumulative revenue per customer over order
    * time — the unbounded-preceding window frame class (distinct from
    * rank windows). Total order within customer via (date, key).
    */
  val q42RunningTotals: QuerySpec = QuerySpec(
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(money(col("o_totalprice"))).over(w).cast(DoubleType).as("running_spend"),
          count(lit(1)).over(w).as("running_orders"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  cast(sum(cast(o_totalprice AS decimal(12,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_spend,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_orders
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)

  /** §7.4 pivot: order counts per customer-segmentless status columns.
    * Spark's `pivot` with explicit values ⇔ portable conditional
    * aggregation in the oracle (identical output schema).
    */
  val q43Pivot: QuerySpec = QuerySpec(
    (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority"))
    },
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  /** §7.4 correlated scalar subquery: orders above their customer's own
    * average (decorrelated in the DSL as an aggregate-then-join; DuckDB
    * runs the correlated form — same rows).
    */
  val q44AboveCustomerAvg: QuerySpec = QuerySpec(
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val avgSpend = o.groupBy(col("o_custkey").as("ck"))
        .agg((sum(money(col("o_totalprice"))).cast(DoubleType) / count(lit(1))).as("avg_spend"))
      o.join(avgSpend, o("o_custkey") === col("ck"))
        .filter(col("o_totalprice") > col("avg_spend"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    // exact-decimal average on both sides so the threshold compare is
    // engine-identical
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > (
      |  SELECT cast(sum(cast(i.o_totalprice AS decimal(12,2))) AS double) / count(*)
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin)

  /** Fuzzy-matching dedup: Levenshtein near-identical part names within a
    * brand block (edit distance is integer-exact in both engines).
    * Aggregated per brand to keep the candidate-pair output compact.
    */
  val q45FuzzyNames: QuerySpec = QuerySpec(
    (s, dir) => {
      val p = Tables.part(s, dir)
      val a = p.select(col("p_brand"), col("p_partkey").as("key_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_brand").as("brand_b"), col("p_partkey").as("key_b"), col("p_name").as("name_b"))
      a.join(b, col("p_brand") === col("brand_b") && col("key_a") < col("key_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist").between(1, 4))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_near_pairs"), min(col("dist")).as("min_dist"))
        .orderBy(col("p_brand"))
    },
    """SELECT a.p_brand,
      |       count(*) AS n_near_pairs,
      |       cast(min(levenshtein(a.p_name, b.p_name)) AS integer) AS min_dist
      |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
      |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin)

  /** Skew-safe join: the lineitem⋈part revenue rollup routed through
    * [[graft.functions.Skew.saltedJoin]] (8-way salt), proving the
    * salted plan is RESULT-IDENTICAL to the plain join the oracle runs —
    * salting changes only row routing, never semantics. The pattern for
    * hot-key fact joins too skewed for AQE's post-shuffle splitting.
    */
  val q60SaltedJoin: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val part = Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.functions.Skew
        .saltedJoin(li, part, Seq("l_partkey"), salt = 8,
          bigRowId = col("l_orderkey") * 16 + col("l_linenumber"))
        .groupBy(col("p_brand"))
        .agg(sumMoney(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    """SELECT p_brand,
      |       cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin)

  /** Runtime-filter (Bloom) join pruning: q01's aggregate-before-join
    * shape with a selective dimension predicate. Catalyst's
    * InjectRuntimeFilter builds a Bloom filter from the filtered dim's
    * join keys at runtime and applies `might_contain(xxhash64(
    * l_partkey))` above the lineitem scan, so ~24/25 of the fact rows
    * die BEFORE the pre-join aggregation shuffle instead of riding
    * through it to be discarded by the join. At production scale the
    * 10 GB application-side threshold gates this automatically; the
    * engine's sessions lower it so the plan property is demonstrated
    * (and PlanAuditSpec-locked) at test scale. Semantics are
    * unchanged — the oracle is the plain join.
    */
  val q67BloomPrunedJoin: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir).filter(col("p_brand") === "Brand#12")
      val agg = li.groupBy(col("l_partkey"))
        .agg(
          sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"),
          sum(col("l_quantity")).as("total_qty"))
      agg.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("total_revenue"), col("total_qty"))
        .orderBy(col("total_revenue").desc, col("p_partkey"))
    },
    """SELECT p_partkey, p_name,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS total_revenue,
      |  sum(l_quantity) AS total_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#12'
      |GROUP BY p_partkey, p_name
      |ORDER BY total_revenue DESC, p_partkey""".stripMargin)

  /** q90: incremental aggregate maintenance — the "never recompute
    * history" pattern that makes 100 TB aggregation sustainable: revenue
    * per part is maintained as mergeable PARTIALS (scaled-long revenue
    * units + item counts), so advancing the watermark only aggregates
    * the new slice and merges it with the stored state. Here both the
    * base (shipdate < 2000-01-01, standing in for yesterday's state
    * table) and the delta are computed from the corpus and merged; the
    * judged result must equal the oracle's one-shot full aggregation —
    * which is exactly the claim that makes incremental maintenance
    * sound: long-unit partials are associative and exact, so
    * merge(agg(base), agg(delta)) ≡ agg(base ∪ delta) bit-for-bit
    * (a double-sum partial would NOT satisfy this). In production the
    * base partials live in a table bucketed by part, making the merge a
    * delta-sized co-located shuffle.
    */
  val q90IncrementalAgg: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def partials(slice: org.apache.spark.sql.DataFrame) =
        slice.groupBy(col("l_partkey"))
          .agg(sum(revenueUnits(col("l_extendedprice"), col("l_discount"))).as("rev_units"),
            count(lit(1)).as("n_items"))
      val base = partials(li.filter(col("l_shipdate") < lit("2000-01-01")))
      val delta = partials(li.filter(col("l_shipdate") >= lit("2000-01-01")))
      base.unionByName(delta)
        .groupBy(col("l_partkey"))
        .agg(sum(col("rev_units")).as("rev_units"), sum(col("n_items")).as("n_items"))
        .select(col("l_partkey"),
          (col("rev_units").cast("double") / lit(10000.0)).as("total_revenue"),
          col("n_items"))
        .orderBy(col("l_partkey"))
    },
    """SELECT l_partkey,
      |  cast(sum(cast(l_extendedprice AS decimal(12,2)) * (1 - cast(l_discount AS decimal(4,2)))) AS double) AS total_revenue,
      |  count(*) AS n_items
      |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q90_incremental_agg" -> q90IncrementalAgg,
    "q67_bloom_pruned_join" -> q67BloomPrunedJoin,
    "q60_salted_join" -> q60SaltedJoin,
    "q44_above_customer_avg" -> q44AboveCustomerAvg,
    "q45_fuzzy_names" -> q45FuzzyNames,
    "q42_running_totals" -> q42RunningTotals,
    "q43_pivot" -> q43Pivot,
    "q40_cube" -> q40Cube,
    "q37_sketch_stats" -> q37SketchStats,
    "q33_topk_global" -> q33TopKGlobal,
    "q00_pricing_summary" -> q00PricingSummary,
    "q01_revenue_per_product" -> q01RevenuePerProduct,
    "q02_orders_monthly" -> q02OrdersMonthly,
    "q03_revenue_per_category" -> q03RevenuePerCategory,
    "q04_stock_status" -> q04StockStatus,
    "q05_low_stock" -> q05LowStock,
    "q06_point_lookup" -> q06PointLookup,
    "q07_best_sellers" -> q07BestSellers,
    "q08_exists_semi_join" -> q08ExistsSemiJoin,
    "q09_anti_join" -> q09AntiJoin,
    "q10_upsert_merge" -> q10UpsertMerge,
    "q11_upsert_lww" -> q11UpsertLww,
    "q26_topk_per_category" -> q26TopKPerCategory,
    "q27_set_ops" -> q27SetOps,
    "q29_rollup" -> q29Rollup)
}
