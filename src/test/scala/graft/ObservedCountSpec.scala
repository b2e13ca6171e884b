package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.sources.Tables

/** `Tables.observedCount`: a row count that rides on another action, and
  * whose reader fails loudly when read before that action ran.
  */
class ObservedCountSpec extends SparkSpecBase {

  test("reading a count no action has run throws instead of blocking") {
    val (df, n) = Tables.observedCount(spark.range(10).toDF())
    // a blocking read would time the Await out instead of returning a failure
    val read = Await.result(Future(Try(n()))(ExecutionContext.global), 60.seconds)
    assert(read.failed.get.isInstanceOf[IllegalStateException])
    df.collect()
    assert(n() == 10L)
  }

  test("an empty relation reads 0") {
    val (df, n) = Tables.observedCount(spark.range(0).toDF())
    df.localCheckpoint()
    assert(n() == 0L)
  }

  test("a relation read through a join with an empty side still reads its own count") {
    // adaptive execution may drop the join, observed side included, once it
    // sees the empty side; the count must not read 0 then
    val (df, n) = Tables.observedCount(spark.range(10).toDF())
    assert(df.join(spark.range(20).filter("id > 100").toDF(), "id").collect().isEmpty)
    assert(n() == 10L)
  }

  test("a count observed on a cached relation is taken by the action that fills the cache") {
    val (df, n) = Tables.observedCount(spark.range(100).toDF())
    val cached = df.cache()
    try {
      assert(cached.filter("id % 2 = 0").count() == 50L)
      assert(n() == 100L)
    } finally cached.unpersist()
  }
}
