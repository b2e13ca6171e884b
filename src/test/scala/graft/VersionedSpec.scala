package graft

import java.nio.file.{Files, Paths}

import graft.sources.Versioned
import org.apache.spark.sql.functions._

/** Versioned (MVCC) table: snapshot isolation, atomic publish, rollback,
  * vacuum, change feed.
  */
class VersionedSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(): String =
    tempDir("graft_ver").toString + "/t"

  private def df(ids: Range) = ids.map(i => (i.toLong, s"row-$i")).toDF("id", "s")

  test("commit publishes monotonically; readers pin snapshots") {
    val t = freshTable()
    assert(Versioned.latestVersion(t) == 0)
    assert(Versioned.commit(df(0 until 10), t) == 1)
    assert(Versioned.commit(df(0 until 25), t) == 2)
    assert(Versioned.read(spark, t, 1).count() == 10) // v1 unchanged by v2
    assert(Versioned.read(spark, t).count() == 25)
    assert(Versioned.latestVersion(t) == 2)
  }

  test("rollback is O(1) pointer swap; vacuum removes the future version") {
    val t = freshTable()
    Versioned.commit(df(0 until 10), t)
    Versioned.commit(df(0 until 3), t) // bad write
    Versioned.rollback(t, 1)
    assert(Versioned.read(spark, t).count() == 10)
    val removed = Versioned.vacuum(t)
    assert(removed == Seq(2L))
    assert(!Files.exists(Paths.get(t, "v00002")))
    assert(Versioned.read(spark, t).count() == 10) // published survives vacuum
    // a new commit after rollback+vacuum reuses the freed number
    assert(Versioned.commit(df(0 until 7), t) == 2)
    assert(Versioned.read(spark, t).count() == 7)
  }

  test("vacuum keep=n retains only the trailing published versions") {
    val t = freshTable()
    (1 to 4).foreach(i => Versioned.commit(df(0 until i * 5), t))
    val removed = Versioned.vacuum(t, keep = 2)
    assert(removed == Seq(1L, 2L))
    assert(Versioned.read(spark, t, 3).count() == 15)
    assert(Versioned.read(spark, t).count() == 20)
    val err = intercept[IllegalArgumentException](Versioned.read(spark, t, 1))
    assert(err.getMessage.contains("vacuumed"))
  }

  test("changes: inserts, deletes, and bag-multiplicity differences") {
    val t = freshTable()
    val v1 = Seq((1L, "a"), (2L, "b"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val v2 = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("id", "s")
    Versioned.commit(v1, t); Versioned.commit(v2, t)
    val ch = Versioned.changes(spark, t, 1, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_.toString)
    // one (2,b) survives, the duplicate copy is a delete (bag semantics)
    assert(ch.toSeq == Seq((2L, "b", "delete"), (3L, "c", "delete"), (4L, "d", "insert")))
  }

  test("merge: upsert replaces, insert lands, delete removes, rest untouched") {
    val t = freshTable()
    Versioned.commit(df(0 until 5), t) // rows row-0..row-4
    val changes = Seq(
      (1L, "row-1-v2", "upsert"), // update existing
      (9L, "row-9", "upsert"),    // insert new key
      (3L, null.asInstanceOf[String], "delete") // remove
    ).toDF("id", "s", "_op")
    val v = Versioned.merge(spark, t, changes, "id")
    assert(v == 2)
    val got = Versioned.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "row-0", 1L -> "row-1-v2", 2L -> "row-2",
      4L -> "row-4", 9L -> "row-9"))
    // snapshot isolation: v1 still has the pre-merge content
    assert(Versioned.read(spark, t, 1).count() == 5)
  }

  private def lwwRows(t: String) =
    Versioned.read(spark, t).filter(!col("tombstone"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("mergeLww converges: any batching, any application order, same state") {
    def batch(rows: Seq[(Long, Long, String, Boolean)]) =
      rows.toDF("id", "ord", "s", "tombstone")
    // key 1: updated then deleted; key 2: updated twice; key 3: insert only
    val all = Seq((1L, 1L, "a1", false), (2L, 1L, "b1", false),
      (1L, 5L, "del", true), (2L, 3L, "b2", false), (3L, 2L, "c1", false))
    val expected = Set((2L, 3L, "b2"), (3L, 2L, "c1")) // 1 is tombstoned
    val splits = Seq(
      Seq(all),                            // one batch
      Seq(all.take(2), all.drop(2)),       // in order
      Seq(all.drop(2), all.take(2)),       // REVERSED batch order
      all.map(Seq(_)).reverse)             // row-at-a-time, fully reversed
    splits.foreach { bs =>
      val t = freshTable()
      bs.foreach(b => Versioned.mergeLww(spark, t, batch(b), "id", Seq("ord")))
      assert(lwwRows(t) == expected, s"split=$bs")
    }
  }

  test("mergeLww tombstone blocks resurrection by an out-of-order earlier write") {
    val t = freshTable()
    Versioned.mergeLww(spark, t,
      Seq((1L, 10L, "del", true)).toDF("id", "ord", "s", "tombstone"), "id", Seq("ord"))
    Versioned.mergeLww(spark, t,
      Seq((1L, 5L, "stale", false)).toDF("id", "ord", "s", "tombstone"), "id", Seq("ord"))
    assert(lwwRows(t) == Set.empty) // the ord=5 update must NOT resurrect key 1
    // but a genuinely NEWER write does revive it (delete is not forever)
    Versioned.mergeLww(spark, t,
      Seq((1L, 11L, "new", false)).toDF("id", "ord", "s", "tombstone"), "id", Seq("ord"))
    assert(lwwRows(t) == Set((1L, 11L, "new")))
  }

  test("bucketed COW merge: untouched buckets hard-link forward, touched rewrite") {
    val t = freshTable()
    val v1rows = (1L to 200L).map(i => (i, 1L, s"v$i", false))
    Versioned.mergeLwwBucketed(spark, t,
      v1rows.toDF("id", "ord", "s", "tombstone"), "id", Seq("ord"))
    val hot = spark.range(1)
      .select(pmod(hash(lit(7L)), lit(16)).as("b")).head().getInt(0)
    def files(v: Int, b: Int): Seq[java.nio.file.Path] = {
      val d = Paths.get(t, f"v$v%05d", s"_bucket=$b")
      if (!Files.exists(d)) Seq.empty
      else {
        val st = Files.list(d)
        try st.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq.sortBy(_.toString)
        finally st.close()
      }
    }
    Versioned.mergeLwwBucketed(spark, t,
      Seq((7L, 5L, "v7-new", false)).toDF("id", "ord", "s", "tombstone"),
      "id", Seq("ord"))
    (0 until 16).filter(_ != hot).foreach { b =>
      val (f1, f2) = (files(1, b), files(2, b))
      assert(f1.map(_.getFileName.toString) == f2.map(_.getFileName.toString), s"bucket $b")
      f1.zip(f2).foreach { case (a, c) =>
        assert(Files.isSameFile(a, c), s"bucket $b not hard-linked: $a") }
    }
    // the hot bucket was genuinely rewritten (fresh inodes)
    val hotPairs = files(1, hot).map(_.getFileName.toString)
      .intersect(files(2, hot).map(_.getFileName.toString))
    hotPairs.foreach { n =>
      assert(!Files.isSameFile(Paths.get(t, "v00001", s"_bucket=$hot", n),
        Paths.get(t, "v00002", s"_bucket=$hot", n)), s"hot bucket reused $n")
    }
    // semantics: byte-identical to the flat LWW merge
    val flat = freshTable()
    Versioned.mergeLww(spark, flat, v1rows.toDF("id", "ord", "s", "tombstone"),
      "id", Seq("ord"))
    Versioned.mergeLww(spark, flat,
      Seq((7L, 5L, "v7-new", false)).toDF("id", "ord", "s", "tombstone"),
      "id", Seq("ord"))
    val a = Versioned.read(spark, t).select("id", "ord", "s", "tombstone")
    val b = Versioned.read(spark, flat).select("id", "ord", "s", "tombstone")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // snapshot isolation: v1 still shows the pre-merge row
    val old = Versioned.read(spark, t, 1).filter(col("id") === 7L).collect()
    assert(old.map(_.getString(2)).toSeq == Seq("v7"))
  }

  test("write-audit-publish: failed audit never moves latest; success is atomic") {
    val t = freshTable()
    Versioned.commit(df(0 until 10), t) // published baseline
    val staged = Versioned.stage(df(0 until 3), t) // candidate (would shrink!)
    assert(staged == 2)
    // staging is invisible to published readers
    assert(Versioned.latestVersion(t) == 1)
    assert(Versioned.read(spark, t).count() == 10)
    // ...but auditable via the pinned version
    assert(Versioned.read(spark, t, staged).count() == 3)
    // audit fails -> vacuum discards the stage, latest untouched
    Versioned.vacuum(t)
    assert(!Files.exists(Paths.get(t, "v00002")))
    assert(Versioned.read(spark, t).count() == 10)
    // second attempt passes audit -> atomic publish
    val good = Versioned.stage(df(0 until 12), t)
    assert(good == 2)
    Versioned.publishStaged(t, good)
    assert(Versioned.latestVersion(t) == 2)
    assert(Versioned.read(spark, t).count() == 12)
  }

  test("gate materialization: published v2, v1 retained, bad v3 vacuumed") {
    val table = Versioned.ordersTable(spark, sf)
    assert(Versioned.latestVersion(table) == 2)
    assert(Files.exists(Paths.get(table, "v00001")))
    assert(!Files.exists(Paths.get(table, "v00003")))
    val n = graft.sources.Tables.orders(spark, sf).count()
    assert(Versioned.read(spark, table).count() == n)
    assert(Versioned.read(spark, table, 1).count() < n)
  }

  test("gate materialization self-heals from a crashed half-build") {
    val table = Versioned.ordersTable(spark, sf)
    val n = graft.sources.Tables.orders(spark, sf).count()
    // Simulate a crash that committed only v1 (the %3-filtered relation):
    // latest==1, no v2. The old `latest != 2` guard would replay the build
    // ON TOP of this state, publishing the FILTERED data as v2 — and then
    // never self-heal because the guard sees latest==2.
    Versioned.rollback(table, 1)
    Versioned.vacuum(table) // drops v2, leaving exactly the crash state
    assert(Versioned.latestVersion(table) == 1)
    assert(!Files.exists(Paths.get(table, "v00002")))
    val healed = Versioned.ordersTable(spark, sf)
    assert(healed == table)
    assert(Versioned.latestVersion(table) == 2)
    assert(Versioned.read(spark, table).count() == n) // published = FULL orders
    assert(Versioned.read(spark, table, 1).count() < n)
  }
}
