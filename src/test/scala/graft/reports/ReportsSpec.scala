package graft.reports

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ingest.Ingest

/** Fixture expectations are hand-computed from the CSVs in
  * src/test/resources/fixtures (FIXTURES.md semantics).
  */
class ReportsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val orders = Ingest.readOrdersCsv(spark, TestSpark.fixture("orders_fixture.csv")).cache()
  private lazy val inv = Ingest.readInventoriesCsv(spark, TestSpark.fixture("inventory_fixture.csv")).cache()

  test("revenue per product: sums and descending order") {
    val rows = Reports.revenuePerProduct(orders, inv).collect()
    // prod1520: 1*7095.93 + 2*7095.93 = 21287.79 — top revenue
    assert(rows.head.getAs[String]("product_id") == "prod1520#prod100011001100")
    assert(math.abs(rows.head.getAs[Double]("total_revenue") - 21287.79) < 1e-9)
    assert(rows.length == 5) // 5 distinct ordered products
    val revs = rows.map(_.getAs[Double]("total_revenue"))
    assert(revs.sameElements(revs.sorted(Ordering[Double].reverse)))
  }

  test("low stock: threshold filter ascending") {
    val rows = Reports.lowStock(inv).collect()
    assert(rows.map(_.getAs[String]("product_id")).toSeq ==
      Seq("prod2306#prod102061000115", "prod2274#prod501111000201", "prod1520#prod100011001100"))
  }

  test("orders per month: groups by extracted month/year") {
    val rows = Reports.ordersPerMonth(orders, inv).collect()
    assert(rows.forall(_.getAs[Int]("year") == 2023))
    assert(rows.forall(_.getAs[Int]("month") == 2))
    assert(rows.map(_.getAs[Long]("total_orders")).sum == 9) // total quantity
  }

  test("inventory status: LEFT JOIN null propagation for unordered product") {
    val unordered = Reports.inventoryStatus(orders, inv, "prod8888#prod000000000099").collect()
    assert(unordered.length == 1)
    assert(unordered.head.isNullAt(unordered.head.fieldIndex("total_sold")))
    assert(unordered.head.isNullAt(unordered.head.fieldIndex("remaining_stock")))

    val ordered = Reports.inventoryStatus(orders, inv, "prod1520#prod100011001100").collect()
    assert(ordered.head.getAs[Long]("total_sold") == 3)
    assert(ordered.head.getAs[Long]("remaining_stock") == 5) // stock 8 - 3
  }

  test("revenue per category and most sold per category") {
    val cat = Reports.revenuePerCategory(orders, inv).collect()
    assert(cat.map(_.getAs[String]("category")).toSet == Set("Shoes", "Clothing", "Accessories"))
    val most = Reports.mostSoldPerCategory(orders, inv).collect()
    assert(most.head.getAs[Long]("total_sold") == 3)
  }

  test("q138's DQ report is non-vacuous: some checks fire, some pass") {
    // the oracle replays the same counts, so a corpus regeneration that
    // stopped planting duplicate lineitem keys (or randomized ship
    // dates past their order dates) would keep the oracle green while
    // turning the report into an all-pass rubber stamp — pin the
    // discriminating shape here
    val rows = Quality.q138DataQuality.run(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("uniqueness_lineitem_key") > 0,
      "the corpus's planted duplicate lineitem keys are gone")
    assert(rows("consistency_ship_after_order") > 0,
      "the ship-before-order inconsistency is gone")
    assert(rows.count(_._2 == 0L) >= 5,
      s"most checks should PASS on this corpus: $rows")
  }
}
