package graft

import graft.sources.Tables

/** Direct unit pins for the shared [[Tables.fingerprintedMv]] helper (round
  * 11) — the train-once/probe-many backbone under the copurchase-edge MV,
  * the PQ codebooks, and the stream full-join emission. The copurchase spec
  * pins content/reuse/staleness end-to-end; this one pins the BUILD-COUNT
  * contract directly: the `build` thunk runs exactly once per (source
  * fingerprint, name), again on source change, and again under refresh.
  */
class FingerprintedMvSpec extends SparkSpecBase {
  import spark.implicits._

  /** Delete every `${name}_<fp>` dir under the live MV root — the root is
    * shared across suite RUNS, so vacuum-sweep assertions must start
    * hermetic or they pick up a previous run's stale fingerprints. */
  private def purgeMvName(name: String): Unit = {
    // keepFp "none" matches no real fingerprint; two passes because the
    // sweep is two-phase (pass 1 marks unstamped dirs, pass 2 deletes)
    val now = System.currentTimeMillis()
    Tables.vacuumMvs(name, keepFp = "none", graceMs = 0L, nowMs = now)
    Tables.vacuumMvs(name, keepFp = "none", graceMs = 0L, nowMs = now + 1)
  }

  test("fingerprintedMv: build runs once per fingerprint, again on source change, again on refresh") {
    import java.nio.file.{Files, Paths}
    val work = tempDir("graft_fpmv_spec")
    val src = work.resolve("src.txt")
    Files.write(src, "v1".getBytes("UTF-8"))
    var builds = 0
    def mv(refresh: Boolean = false) =
      Tables.fingerprintedMv(spark, src, "fpmv_spec_probe", refresh) {
        builds += 1
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
    val r1 = mv().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(r1 == Set((1L, "a"), (2L, "b")) && builds == 1,
      s"first access must build exactly once (builds=$builds)")
    mv().count()
    assert(builds == 1, s"second access must serve the materialization (builds=$builds)")
    // source change (size AND mtime both move) => new fingerprint => rebuild
    Files.write(src, "v2-longer".getBytes("UTF-8"))
    mv().count()
    assert(builds == 2, s"changed source must miss the stale MV (builds=$builds)")
    // refresh forces a rebuild even on a fingerprint hit
    mv(refresh = true).count()
    assert(builds == 3, s"refresh=true must rebuild (builds=$builds)")
    // and the rebuilt MV serves without building again
    mv().count()
    assert(builds == 3, s"post-refresh access must reuse (builds=$builds)")
  }

  test("mvRoot: SPARK_GRAFT_MV_DIR overrides; tmpdir/graft_mv is the fallback") {
    import java.nio.file.Paths
    assert(Tables.mvRoot(_ => None) ==
      Paths.get(System.getProperty("java.io.tmpdir"), "graft_mv"),
      "default root must be tmpdir/graft_mv")
    assert(Tables.mvRoot(k => if (k == "SPARK_GRAFT_MV_DIR") Some("/mnt/shared/mv") else None) ==
      Paths.get("/mnt/shared/mv"),
      "SPARK_GRAFT_MV_DIR must override the root")
    // the live helper resolves through the real environment by default —
    // same rule, so a deployment exporting the env var redirects every MV
    assert(Tables.mvRoot() == sys.env.get("SPARK_GRAFT_MV_DIR").map(Paths.get(_))
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir"), "graft_mv")))
  }

  test("atomic publish: a markerless partial directory is swept and rebuilt; no temp dirs linger") {
    import java.nio.file.{Files, Paths}
    val work = tempDir("graft_fpmv_atomic")
    val src = work.resolve("src.txt")
    Files.write(src, "v1".getBytes("UTF-8"))
    var builds = 0
    def mv() = Tables.fingerprintedMv(spark, src, "fpmv_spec_atomic") {
      builds += 1
      Seq((1L, "a")).toDF("id", "v")
    }
    val mvDir = Paths.get(mv().inputFiles.head.stripPrefix("file:")).getParent
    assert(builds == 1 && Files.exists(mvDir.resolve("_SUCCESS")))
    // simulate a crashed pre-publish state: published dir without its marker
    Files.delete(mvDir.resolve("_SUCCESS"))
    mv().count()
    assert(builds == 2, "a markerless partial MV must be swept and rebuilt, never served")
    assert(Files.exists(mvDir.resolve("_SUCCESS")), "rebuild must republish the marker")
    // the build staged through a temp dir and renamed — nothing left behind
    val leftovers = Files.list(mvDir.getParent).toArray.map(_.toString)
      .filter(p => p.contains("fpmv_spec_atomic") && p.contains(".tmp-"))
    assert(leftovers.isEmpty, s"temp staging dirs must not linger: ${leftovers.mkString(",")}")
  }

  test("vacuum: superseded fingerprint is marked on publish, swept only after the grace period; live MV kept") {
    import java.nio.file.{Files, Paths}
    val work = tempDir("graft_fpmv_vac")
    val src = work.resolve("src.txt")
    Files.write(src, "v1".getBytes("UTF-8"))
    val name = "fpmv_spec_vacuum"
    purgeMvName(name) // the shared MV root outlives suite runs — hermetic start
    def mv() = Tables.fingerprintedMv(spark, src, name) {
      Seq((1L, "a")).toDF("id", "v")
    }
    val dir1 = Paths.get(mv().inputFiles.head.stripPrefix("file:")).getParent
    // regenerate the source => new fingerprint publishes => sibling vacuum
    Files.write(src, "v2-longer".getBytes("UTF-8"))
    val dir2 = Paths.get(mv().inputFiles.head.stripPrefix("file:")).getParent
    assert(dir1 != dir2, "regenerated source must land on a new fingerprint")
    assert(Files.exists(dir1.resolve("_SUPERSEDED")),
      "publish must MARK the superseded sibling (reader-safe two-phase sweep)")
    assert(Files.exists(dir1.resolve("_SUCCESS")),
      "a superseded MV inside the grace period must survive for in-flight readers")
    val fp2 = dir2.getFileName.toString.stripPrefix(name + "_")
    // inside the grace window: kept
    assert(Tables.vacuumMvs(name, fp2).isEmpty, "sweep inside grace must delete nothing")
    // past the grace window (injected clock): swept
    val markedAt = new String(Files.readAllBytes(dir1.resolve("_SUPERSEDED")), "UTF-8").trim.toLong
    val swept = Tables.vacuumMvs(name, fp2, nowMs = markedAt + Tables.MvVacuumGraceMs + 1)
    assert(swept == Seq(dir1.getFileName.toString), s"expected exactly the superseded dir, got $swept")
    assert(!Files.exists(dir1) && Files.exists(dir2.resolve("_SUCCESS")),
      "superseded dir gone, live MV intact")
  }

  test("vacuum: markerless sibling swept immediately; a source flip-flop un-stamps the again-current MV") {
    import java.nio.file.{Files, Paths}
    val work = tempDir("graft_fpmv_vac2")
    val src = work.resolve("src.txt")
    Files.write(src, "v1".getBytes("UTF-8"))
    val mt1 = Files.getLastModifiedTime(src)
    val name = "fpmv_spec_vacuum2"
    purgeMvName(name)
    def mv() = Tables.fingerprintedMv(spark, src, name) {
      Seq((1L, "a")).toDF("id", "v")
    }
    val dir1 = Paths.get(mv().inputFiles.head.stripPrefix("file:")).getParent
    // a markerless partial sibling (crashed pre-atomic-era build): no reader
    // can hold it (paths are only handed out after the _SUCCESS check)
    val partial = dir1.getParent.resolve(s"${name}_deadbeefdeadbeef")
    Files.createDirectories(partial)
    Files.write(partial.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val fp1 = dir1.getFileName.toString.stripPrefix(name + "_")
    assert(Tables.vacuumMvs(name, fp1) == Seq(partial.getFileName.toString),
      "a markerless sibling must be swept immediately, any age")
    // flip-flop: v1 -> v2 (marks dir1 superseded) -> v1 again (same fp as dir1)
    Files.write(src, "v2-longer".getBytes("UTF-8"))
    mv().count()
    assert(Files.exists(dir1.resolve("_SUPERSEDED")))
    Files.write(src, "v1".getBytes("UTF-8")); Files.setLastModifiedTime(src, mt1)
    val dirBack = Paths.get(mv().inputFiles.head.stripPrefix("file:")).getParent
    assert(dirBack == dir1, "identical source bytes+mtime must re-resolve the old fingerprint")
    assert(!Files.exists(dir1.resolve("_SUPERSEDED")),
      "an again-current MV must be un-stamped so a later sibling vacuum can never reap it")
  }

  test("striped locks: two DIFFERENT MVs build concurrently; the SAME MV builds once under racing threads") {
    import java.nio.file.Files
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val work = tempDir("graft_fpmv_lock")
    val src = work.resolve("src.txt")
    Files.write(src, "v1".getBytes("UTF-8"))
    // different-name overlap: builder A blocks until builder B has ENTERED
    // its build — impossible under the old object-level lock
    val aEntered = new CountDownLatch(1)
    val bEntered = new CountDownLatch(1)
    def build(entered: CountDownLatch, other: CountDownLatch) = {
      entered.countDown()
      assert(other.await(30, TimeUnit.SECONDS),
        "both builds must be in flight at once (striped, not object-level, locking)")
      Seq((1L, "a")).toDF("id", "v")
    }
    val ta = new Thread(() =>
      Tables.fingerprintedMv(spark, src, "fpmv_lock_a")(build(aEntered, bEntered)).count())
    val tb = new Thread(() =>
      Tables.fingerprintedMv(spark, src, "fpmv_lock_b")(build(bEntered, aEntered)).count())
    ta.start(); tb.start(); ta.join(60000); tb.join(60000)
    assert(!ta.isAlive && !tb.isAlive, "concurrent different-MV builds must both complete")
    // same-name race: the build thunk runs exactly once across racing threads
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map(_ => new Thread(() =>
      Tables.fingerprintedMv(spark, src, "fpmv_lock_same") {
        builds.incrementAndGet()
        Seq((1L, "a")).toDF("id", "v")
      }.count()))
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(builds.get() == 1, s"same (name, fp) must build exactly once, got ${builds.get()}")
  }

  test("vacuum: a build temp is live while its newest file is young; a crashed one is swept") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val name = "fpmv_spec_temps"
    val root = Tables.mvRoot()
    Files.createDirectories(root)
    val t0 = System.currentTimeMillis()
    val grace = Tables.MvVacuumGraceMs
    def temp(tag: String, dirMs: Long, partMs: Long) = {
      val d = root.resolve(s".${name}_0123456789abcdef.tmp-$tag")
      Files.createDirectories(d)
      Files.setLastModifiedTime(Files.write(d.resolve("part-0"), Array[Byte](1)),
        FileTime.fromMillis(partMs))
      Files.setLastModifiedTime(d, FileTime.fromMillis(dirMs))
      d
    }
    val crashed = temp("crashed", t0 - grace - 1, t0 - grace - 1)
    val young = temp("young", t0, t0)
    // the directory's own mtime stops moving once its children exist; a
    // slow build still writing part files is alive by its newest file
    val slow = temp("slow", t0 - grace - 1, t0)
    val swept = Tables.vacuumMvs(name, keepFp = "none", nowMs = t0)
    assert(swept == Seq(crashed.getFileName.toString), s"swept $swept")
    assert(Files.exists(young), "a young build temp must survive")
    assert(Files.exists(slow),
      "a build temp with a stale directory mtime but a young part file must survive")
    Tables.vacuumMvs(name, keepFp = "none", nowMs = t0 + grace)
    assert(!Files.exists(young) && !Files.exists(slow),
      "both temps are swept once their newest file is past the grace period")
  }

  test("two sources under one name: the one still resolved survives; the other's superseded fingerprint is swept") {
    import java.nio.file.{Files, Path}
    val name = "fpmv_spec_two_src"
    purgeMvName(name)
    val a = tempDir("graft_fpmv_src_a").resolve("src.txt")
    val b = tempDir("graft_fpmv_src_b").resolve("src.txt")
    Files.write(a, "a".getBytes("UTF-8"))
    var buildsA = 0
    def resolveA(): Path = Tables.fingerprintedMvPath(spark, a, name) {
      buildsA += 1; Seq((1L, "a")).toDF("id", "v")
    }
    var version = 0
    def publishB(): Path = {
      version += 1
      Files.write(b, ("b" * version).getBytes("UTF-8")) // new fingerprint
      Tables.fingerprintedMvPath(spark, b, name)(Seq((2L, "b")).toDF("id", "v"))
    }
    // stand-in for a grace period passing: back-date every stamp of `name`
    def passGrace(): Unit = {
      val l = Files.list(Tables.mvRoot())
      try l.filter(_.getFileName.toString.startsWith(name + "_")).forEach { d =>
        val stamp = d.resolve("_SUPERSEDED")
        if (Files.exists(stamp)) Files.write(stamp, (System.currentTimeMillis() -
          Tables.MvVacuumGraceMs - 1).toString.getBytes("UTF-8"))
      } finally l.close()
    }
    val dirA = resolveA()
    val b1 = publishB()
    assert(Files.exists(dirA.resolve("_SUPERSEDED")), "a publish for B stamps A")
    passGrace(); resolveA()
    val b2 = publishB() // stamps A afresh and B's first fingerprint
    passGrace(); resolveA()
    val b3 = publishB()
    assert(!Files.exists(b1), "B's superseded fingerprint must be swept past grace")
    assert(Files.exists(b2.resolve("_SUPERSEDED")) && Files.exists(b3.resolve("_SUCCESS")))
    assert(Files.exists(dirA.resolve("_SUCCESS")),
      "A, resolved within every grace period, must survive B's publishes")
    assert(resolveA() == dirA && !Files.exists(dirA.resolve("_SUPERSEDED")) && buildsA == 1,
      "A resolves to its original entry, un-stamped, without a rebuild")
    // the converse: unresolved for a full grace period, A goes
    publishB(); passGrace(); publishB()
    assert(!Files.exists(dirA), "an entry unresolved past grace is swept")
  }

  test("q58: two sessions share one bars_by_dt store entry and leave no per-session tmpdir layout") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def entries(dir: Path, keep: String => Boolean): Set[String] =
      if (!Files.isDirectory(dir)) Set.empty
      else {
        val l = Files.list(dir)
        try l.iterator().asScala.map(_.getFileName.toString).filter(keep).toSet
        finally l.close()
      }
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def perSession() = entries(tmp, _.startsWith("graft_part_"))
    // other corpora's entries may be stored too: count what the runs add
    def stored() = entries(Tables.mvRoot(), _.contains("bars_by_dt_"))
    val (partsBefore, storedBefore) = (perSession(), stored())
    val rows = Seq(spark.newSession(), spark.newSession()).map(s =>
      SparkEntry.queries("q58_partition_pruned_week")(s, sf).collect().toSeq)
    assert(rows.head.nonEmpty && rows(0) == rows(1), "the two sessions disagree")
    assert(perSession() == partsBefore, s"q58 left ${perSession() -- partsBefore} in $tmp")
    val entry = s"bars_by_dt_${Tables.mvFingerprint(Paths.get(sf, "events.parquet"))}"
    assert(stored().contains(entry), s"$entry is not stored")
    assert((stored() -- storedBefore).subsetOf(Set(entry)),
      s"q58 stored more than $entry: ${stored() -- storedBefore}")
  }

  test("copyRecursively keeps file mtimes and copies the marker") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val from = tempDir("graft_copy_from")
    val to = tempDir("graft_copy_to").resolve("dst")
    val stamped = (0 until 3).map { i =>
      val f = Files.write(from.resolve(s"part-$i.parquet"), Array[Byte](i.toByte))
      Files.setLastModifiedTime(f, FileTime.fromMillis(1000000000000L + i * 60000L))
      f.getFileName.toString -> (1000000000000L + i * 60000L)
    }
    Files.write(from.resolve("_SUCCESS"), Array.empty[Byte])
    Tables.copyRecursively(from, to)
    stamped.foreach { case (fn, ms) =>
      assert(Files.getLastModifiedTime(to.resolve(fn)).toMillis == ms,
        s"$fn lost its stamped mtime")
    }
    assert(Files.exists(to.resolve("_SUCCESS")))
  }
}
