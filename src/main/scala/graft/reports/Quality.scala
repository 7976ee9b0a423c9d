package graft.reports

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.tables.Tables

/** Declarative data-quality checks over the ingested tables — the
  * reference's own declared FUTURE work ("Implement data quality
  * checks", reference README.md:166–169), delivered here as a judged
  * operator: one DQ report row per check with exact violation counts,
  * the artifact a pipeline gates a publish on.
  *
  * Check families (the classic DQ taxonomy):
  *  - completeness: NULLs in required columns;
  *  - uniqueness: duplicate natural keys (lineitem's composite key and
  *    orders' primary key — the corpus genuinely carries duplicate
  *    lineitem keys, so this check FIRES and its count is judged);
  *  - validity: domain ranges (quantity > 0, discount ∈ [0,1],
  *    non-negative price);
  *  - referential integrity: orphaned foreign keys (lineitem→part/
  *    orders/supplier, orders→customer) — anti-join counts;
  *  - consistency: cross-table ordering (a lineitem shipped before its
  *    order was placed — fires on ~half the synthetic corpus, the kind
  *    of signal a generator bug would produce in production).
  *
  * Scale design: every single-table check rides ONE scan pass as
  * map-side-combined conditional sums — adding a check adds a column,
  * not a pass. Each RI check is a keyed anti-join the planner sizes
  * (dimension side broadcast at dim-fits scale, SMJ beyond); the
  * consistency check joins fact→orders on the co-keyed order key. The
  * report itself is ≤ a dozen rows.
  */
object Quality {

  private def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))

  val q138DataQuality: QuerySpec = QuerySpec(
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val p = Tables.part(s, dir)
      val sup = Tables.supplier(s, dir)
      val cust = Tables.customer(s, dir)
      // scalar 1-row count frames ride broadcast cross joins — no
      // driver-side count() action per report build
      val nLiF = li.agg(count(lit(1)).as("n_checked"))
      val nOF = o.agg(count(lit(1)).as("n_checked"))
      def row(check: String, v: DataFrame, checked: DataFrame): DataFrame =
        v.crossJoin(broadcast(checked))
          .select(lit(check).as("dq_check"), col("value"), col("n_checked"))
      // one pass over lineitem for every single-table lineitem check
      val liPass = li.agg(
        cnt(col("l_shipdate").isNull).as("null_shipdate"),
        cnt(col("l_quantity").isNull).as("null_quantity"),
        cnt(col("l_quantity").isNotNull && col("l_quantity") <= 0).as("bad_quantity"),
        cnt(col("l_discount") < 0 || col("l_discount") > 1).as("bad_discount"),
        cnt(col("l_extendedprice") < 0).as("bad_price"))
      def liCheck(name: String, colName: String): DataFrame =
        row(name, liPass.select(col(colName).as("value")), nLiF)
      val dupLi = li.groupBy(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("value"))
      val dupO = o.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("value"))
      // orphan = NON-NULL fk with no matching pk, in BOTH engines: a
      // bare left_anti counts a NULL fk row (NULL never equi-matches)
      // while SQL's NOT IN would skip it (NULL comparison), so the
      // explicit IS NOT NULL on both sides is what keeps the check's
      // definition engine-independent if a future table carries NULL FKs
      def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String): DataFrame =
        fact.filter(col(fk).isNotNull)
          .join(dim.select(col(pk)), fact(fk) === dim(pk), "left_anti")
          .agg(count(lit(1)).as("value"))
      val shipBefore = li.select(col("l_orderkey"), col("l_shipdate"))
        .join(o.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .agg(cnt(col("l_shipdate") < col("o_orderdate")).as("value"))
      Seq(
        liCheck("completeness_lineitem_shipdate", "null_shipdate"),
        liCheck("completeness_lineitem_quantity", "null_quantity"),
        liCheck("validity_lineitem_quantity_positive", "bad_quantity"),
        liCheck("validity_lineitem_discount_range", "bad_discount"),
        liCheck("validity_lineitem_price_nonnegative", "bad_price"),
        row("uniqueness_lineitem_key", dupLi, nLiF),
        row("uniqueness_orders_key", dupO, nOF),
        row("integrity_lineitem_part", orphans(li, "l_partkey", p, "p_partkey"), nLiF),
        row("integrity_lineitem_order", orphans(li, "l_orderkey", o, "o_orderkey"), nLiF),
        row("integrity_lineitem_supplier", orphans(li, "l_suppkey", sup, "s_suppkey"), nLiF),
        row("integrity_orders_customer", orphans(o, "o_custkey", cust, "c_custkey"), nOF),
        row("consistency_ship_after_order", shipBefore, nLiF))
        .reduce(_ unionAll _)
        .select(col("dq_check"), col("value").as("n_violations"), col("n_checked"),
          (col("value") === 0L).as("pass"))
        .orderBy(col("dq_check"))
    },
    """WITH li AS (SELECT * FROM lineitem), o AS (SELECT * FROM orders)
      |SELECT dq_check, cast(n_violations AS bigint) AS n_violations,
      |       cast(n_checked AS bigint) AS n_checked,
      |       n_violations = 0 AS pass
      |FROM (
      |  SELECT 'completeness_lineitem_shipdate' AS dq_check,
      |    (SELECT count(*) FROM li WHERE l_shipdate IS NULL) AS n_violations,
      |    (SELECT count(*) FROM li) AS n_checked
      |  UNION ALL SELECT 'completeness_lineitem_quantity',
      |    (SELECT count(*) FROM li WHERE l_quantity IS NULL),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'validity_lineitem_quantity_positive',
      |    (SELECT count(*) FROM li WHERE l_quantity IS NOT NULL AND l_quantity <= 0),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'validity_lineitem_discount_range',
      |    (SELECT count(*) FROM li WHERE l_discount < 0 OR l_discount > 1),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'validity_lineitem_price_nonnegative',
      |    (SELECT count(*) FROM li WHERE l_extendedprice < 0),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'uniqueness_lineitem_key',
      |    (SELECT coalesce(cast(sum(c - 1) AS bigint), 0) FROM (
      |       SELECT count(*) AS c FROM li
      |       GROUP BY l_orderkey, l_partkey, l_linenumber HAVING count(*) > 1)),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'uniqueness_orders_key',
      |    (SELECT coalesce(cast(sum(c - 1) AS bigint), 0) FROM (
      |       SELECT count(*) AS c FROM o GROUP BY o_orderkey HAVING count(*) > 1)),
      |    (SELECT count(*) FROM o)
      |  UNION ALL SELECT 'integrity_lineitem_part',
      |    (SELECT count(*) FROM li WHERE l_partkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM part d WHERE d.p_partkey = l_partkey)),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'integrity_lineitem_order',
      |    (SELECT count(*) FROM li WHERE l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM o d WHERE d.o_orderkey = l_orderkey)),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'integrity_lineitem_supplier',
      |    (SELECT count(*) FROM li WHERE l_suppkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM supplier d WHERE d.s_suppkey = l_suppkey)),
      |    (SELECT count(*) FROM li)
      |  UNION ALL SELECT 'integrity_orders_customer',
      |    (SELECT count(*) FROM o WHERE o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer d WHERE d.c_custkey = o_custkey)),
      |    (SELECT count(*) FROM o)
      |  UNION ALL SELECT 'consistency_ship_after_order',
      |    (SELECT count(*) FROM li JOIN o ON l_orderkey = o_orderkey
      |     WHERE l_shipdate < o_orderdate),
      |    (SELECT count(*) FROM li)
      |) ORDER BY dq_check""".stripMargin)

  val all: Map[String, QuerySpec] = Map(
    "q138_data_quality" -> q138DataQuality)
}
