package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Semantics + plan shape for the relational OLAP pack. The DuckDB
  * hash-match lives in the driver gate; these pin the properties a
  * refactor could silently lose.
  */
class RelationalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("cents quantizes half-up and survives partial aggregation order") {
    val df = Seq(0.004, 0.005, 19.999, 44473.56).toDF("x")
    val got = df.select(Relational.cents(col("x")).as("c")).as[Long].collect().sorted
    assert(got.toSeq == Seq(0L, 1L, 2000L, 4447356L))
  }

  test("pricingSummary measures are exact integers and group count is complete") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val out = Relational.pricingSummary(li).collect()
    // every (returnflag, linestatus) combination present in the data appears
    val expectGroups = li.select("l_returnflag", "l_linestatus").distinct().count()
    assert(out.length == expectGroups)
    val totalRows = out.map(_.getAs[Long]("n_rows")).sum
    assert(totalRows == li.count())
    // discounted <= base, charged >= discounted (tax >= 0, discount >= 0)
    out.foreach { r =>
      assert(r.getAs[Long]("disc_cents") <= r.getAs[Long]("base_cents"))
      assert(r.getAs[Long]("charge_cents") >= r.getAs[Long]("disc_cents"))
    }
  }

  test("nationRevenue hard-broadcasts only the constant-size nation dim") {
    val plan = Relational.nationRevenue(
      spark.read.parquet(s"$sfDir/lineitem.parquet"),
      spark.read.parquet(s"$sfDir/orders.parquet"),
      spark.read.parquet(s"$sfDir/customer.parquet"),
      spark.read.parquet(s"$sfDir/supplier.parquet"),
      spark.read.parquet(s"$sfDir/nation.parquet"),
      spark.read.parquet(s"$sfDir/region.parquet"),
      regionName = "ASIA", orderYear = 1997)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"nation dim not broadcast:\n$plan")
    // the year filter must reach the orders scan, not sit above the join
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(o_orderdate)"),
      s"orders filter not near the scan:\n$plan")
  }

  test("nationRevenue keeps only same-nation customer/supplier pairs in the region/year") {
    val ts = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    val tsOff = java.sql.Timestamp.valueOf("1998-06-01 00:00:00")
    val li = Seq(
      (1L, 10L, 100.0, 0.0),  // order 1, supplier 10
      (2L, 11L, 100.0, 0.0),  // order 2, supplier 11 (different nation than cust)
      (3L, 10L, 100.0, 0.0))  // order 3: right pair, wrong year
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val ord = Seq((1L, 20L, ts), (2L, 20L, ts), (3L, 20L, tsOff))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((20L, 1)).toDF("c_custkey", "c_nationkey")
    val supp = Seq((10L, 1), (11L, 2)).toDF("s_suppkey", "s_nationkey")
    val nat = Seq((1, "ALPHA", 7), (2, "BETA", 7)).toDF("n_nationkey", "n_name", "n_regionkey")
    val reg = Seq((7, "ASIA")).toDF("r_regionkey", "r_name")
    val out = Relational.nationRevenue(li, ord, cust, supp, nat, reg, "ASIA", 1997)
      .collect()
    // only order 1 survives: order 2's supplier nation mismatches the
    // customer's, order 3 is outside the year
    assert(out.length == 1)
    assert(out.head.getString(0) == "ALPHA")
    assert(out.head.getLong(1) == 10000L && out.head.getLong(2) == 1L)
  }

  test("topCustomersByRevenue plans a bounded TakeOrdered before the dim join") {
    val plan = Relational.topCustomersByRevenue(
      spark.read.parquet(s"$sfDir/lineitem.parquet"),
      spark.read.parquet(s"$sfDir/orders.parquet"),
      spark.read.parquet(s"$sfDir/customer.parquet"), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$plan")
  }

  test("topCustomersByRevenue tie-breaks deterministically on custkey") {
    val li = Seq((1L, 100.0, 0.0), (2L, 100.0, 0.0), (3L, 50.0, 0.0))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Seq((1L, 11L), (2L, 10L), (3L, 12L))
      .toDF("o_orderkey", "o_custkey")
    val cust = Seq((10L, "a", "S"), (11L, "b", "S"), (12L, "c", "S"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
    val got = Relational.topCustomersByRevenue(li, ord, cust, k = 2)
      .select("c_custkey").as[Long].collect().toSeq
    // customers 10 and 11 tie at 10000 cents; lower custkey wins rank 1
    assert(got == Seq(10L, 11L))
  }

  test("orderPriorityPivot zero-fills empty cells and keeps explicit value order") {
    val orders = Seq(("O", "1-URGENT"), ("O", "1-URGENT"), ("F", "5-LOW"))
      .toDF("o_orderstatus", "o_orderpriority")
    val out = Relational.orderPriorityPivot(orders)
    assert(out.columns.toSeq ==
      Seq("o_orderstatus", "p_urgent", "p_high", "p_medium", "p_notspec", "p_low"))
    val rows = out.collect().map(r => r.getString(0) -> (1 to 5).map(r.getLong))
    assert(rows.toMap == Map("F" -> Seq(0L, 0L, 0L, 0L, 1L), "O" -> Seq(2L, 0L, 0L, 0L, 0L)))
  }

  test("orderStatusCube emits all four grouping sets consistently") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val out = Relational.orderStatusCube(orders).collect()
    val grand = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") == orders.count())
    // per-status subtotals sum to the grand total
    val statusRows = out.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    assert(statusRows.map(_.getAs[Long]("n_orders")).sum == orders.count())
    assert(statusRows.map(_.getAs[Long]("total_cents")).sum ==
      grand.head.getAs[Long]("total_cents"))
  }

  test("topPartsPerBrand rides the row_topk rewrite (no Window in the plan)") {
    SparkTestSession.withSetupSession {
      val plan = Relational.topPartsPerBrand(
        spark.read.parquet(s"$sfDir/part.parquet"), k = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("row_topk"), s"TopKWindowRewrite did not fire:\n$plan")
      assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    }
  }

  test("customerRunningTotals uses a ROWS frame: date ties accumulate row by row") {
    val d = Timestamp.valueOf("1997-03-01 00:00:00")
    val orders = Seq(
      (7L, 1L, d, 10.0), (7L, 2L, d, 20.0), (7L, 3L, d, 30.0))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val got = Relational.customerRunningTotals(orders)
      .select("cum_cents").as[Long].collect().toSeq
    // a RANGE frame would emit 6000,6000,6000 (all ties merged)
    assert(got == Seq(1000L, 3000L, 6000L))
  }

  test("empty inputs: pricingSummary yields no groups, urgentCustomerSplit puts everyone in the anti side") {
    val emptyLi = Seq.empty[(String, String, Double, Double, Double, Double)]
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    assert(Relational.pricingSummary(emptyLi).count() == 0)
    val cust = Seq((1L, "S"), (2L, "T")).toDF("c_custkey", "c_mktsegment")
    val emptyOrders = Seq.empty[(Long, String)].toDF("o_custkey", "o_orderpriority")
    val out = Relational.urgentCustomerSplit(cust, emptyOrders).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_with_urgent"), r.getAs[Long]("n_without_urgent")))
      .toMap
    assert(out == Map("S" -> ((0L, 1L)), "T" -> ((0L, 1L))))
  }

  test("urgentCustomerSplit partitions every customer exactly once per segment") {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val out = Relational.urgentCustomerSplit(cust, ord).collect()
    val total = out.map(r => r.getAs[Long]("n_with_urgent") + r.getAs[Long]("n_without_urgent")).sum
    assert(total == cust.count())
    val plan = Relational.urgentCustomerSplit(cust, ord)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"semi/anti pair not planned as such:\n$plan")
  }
}
