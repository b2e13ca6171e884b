package graft

import graft.operators.Stars
import graft.sources.Tables
import org.apache.spark.sql.functions._

class StarsSpec extends SparkSpecBase {
  import spark.implicits._

  test("semi and anti join partition the customer set") {
    val semi = Stars.customersWithBigOrders(spark, sf, 450000.0)
    val anti = Stars.customersWithoutBigOrders(spark, sf, 450000.0)
    val total = Tables.customer(spark, sf).count()
    assert(semi.count() + anti.count() == total)
    assert(semi.join(anti, "c_custkey").count() == 0)
  }

  test("upsertIfAbsent keeps existing rows, adds only absent keys, dedups incoming") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "B-NEW"), (3L, "c"), (3L, "c2")).toDF("k", "v")
    val out = Stars.upsertIfAbsent(existing, incoming, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a")
    assert(out(2L) == "b")        // existing wins (DO NOTHING semantics)
    assert(Set("c", "c2").contains(out(3L)))
    assert(out.size == 3)
  }

  test("absentRows: only incoming rows with an absent key, one per key") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "B-NEW"), (3L, "c"), (3L, "c2"), (4L, "d")).toDF("k", "v")
    val out = Stars.absentRows(existing, incoming, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.map(_._1).sorted.toSeq == Seq(3L, 4L)) // existing key 2 wins, 3 kept once
    assert(Set("c", "c2").contains(out.toMap.apply(3L)))
    assert(out.toMap.apply(4L) == "d")
  }

  test("star revenue equals the unjoined lineitem revenue total") {
    // region/nation/customer cover all custkeys, so the star join must not
    // drop or duplicate lineitem rows: total revenue is invariant.
    val star = Stars.revenueByRegionNation(spark, sf)
      .agg(sum("revenue"), sum("n_items")).as[(Double, Long)].head()
    val li = Tables.lineitem(spark, sf)
    val base = li.agg(
      sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(30,6)")).cast("double"), count(lit(1)))
      .as[(Double, Long)].head()
    assert(star._2 == base._2)
    assert(math.abs(star._1 - base._1) < 1e-3)
  }

  test("broadcast hints survive into the physical plan") {
    val plan = Stars.revenueByRegionNation(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
  }

  test("statusIntervals: gaps-and-islands compaction with exact interval bounds") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, 101L, ts("1998-01-01"), "O"),
      (1L, 102L, ts("1998-01-05"), "O"),
      (1L, 103L, ts("1998-01-09"), "F"),
      (1L, 104L, ts("1998-01-12"), "O"),   // status returns -> NEW interval
      (2L, 201L, ts("1998-02-01"), "P")
    ).toDF("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
    val out = Stars.statusIntervalsFrom(orders)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getString(3), r.getString(4), r.getLong(5))).toMap
    assert(out((1L, 1L)) == (("O", "1998-01-01", "1998-01-05", 2L)))
    assert(out((1L, 2L)) == (("F", "1998-01-09", "1998-01-09", 1L)))
    assert(out((1L, 3L)) == (("O", "1998-01-12", "1998-01-12", 1L)))
    assert(out((2L, 1L)) == (("P", "1998-02-01", "1998-02-01", 1L)))
    // partition property on the real table: intervals cover every order once
    val real = Stars.statusIntervals(spark, sf)
    val total = real.agg(org.apache.spark.sql.functions.sum("n_orders")).as[Long].head()
    assert(total == Tables.orders(spark, sf).count())
  }

  test("scd2Pit: hand stream — versioning, PIT attribution, pre-history 'none'") {
    // user 1: view@10, purchase@15 (-> view), click@20, purchase@25 (-> click),
    //         view@30 — and a pre-history purchase@5 (-> none)
    // user 2: two same-type events (no second version), purchase@50 (-> signup)
    val rows = Seq(
      (1L, 10L, 1L, "view", 1.0), (1L, 5L, 2L, "purchase", 2.0),
      (1L, 15L, 3L, "purchase", 3.0), (1L, 20L, 4L, "click", 4.0),
      (1L, 25L, 5L, "purchase", 5.0), (1L, 30L, 6L, "view", 6.0),
      (2L, 40L, 7L, "signup", 7.0), (2L, 45L, 8L, "signup", 8.0),
      (2L, 50L, 9L, "purchase", 9.0)
    ).toDF("user_id", "ts_ns", "event_id", "event_type", "value")
    val out = Stars.scd2Pit(rows).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // versions: view(u1@10), click(u1@20), view(u1@30), signup(u2@40)
    assert(out("view") == ((2L, 1L, 1L, 300L)), out.toString)
    assert(out("click") == ((1L, 1L, 1L, 500L)), out.toString)
    assert(out("signup") == ((1L, 1L, 1L, 900L)), out.toString)
    assert(out("none") == ((0L, 0L, 1L, 200L)), out.toString)
    assert(out.values.map(_._3).sum == 4L) // every purchase attributed once
  }
}
