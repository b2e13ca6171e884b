package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.sources.Formats.deleteRecursively
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A minimal versioned (MVCC) parquet table: every write lands a NEW
  * immutable version directory, then an atomic manifest rename publishes
  * it. Readers pin a version and never observe a half-written state.
  *
  * This is the scale-correct evolution of the reference's
  * truncate-and-reload overwrite (S3, `dags/financial_pipeline.py:39-49`):
  * at 100 TB an in-place truncate leaves concurrent readers mid-scan over
  * vanishing files, while version directories give snapshot isolation for
  * free — the mechanism (version log + atomic pointer swap + vacuum of
  * unreferenced data) is the core of the Delta/Iceberg table formats,
  * restated here over plain parquet with zero new dependencies.
  *
  * Layout:
  * {{{
  *   table/
  *     v00001/ ... parquet files ...
  *     v00002/ ...
  *     _latest          <- text file holding the published version number
  * }}}
  * The `_latest` pointer is written to a temp name and atomically renamed;
  * a crash mid-write leaves an orphan `vNNNNN` dir that `vacuum` removes.
  */
object Versioned {

  private def latestFile(table: String): Path = Paths.get(table, "_latest")

  /** java.util.stream.Stream holds a directory fd until closed — the same
    * try/finally discipline as Tables.mvFingerprint.
    */
  private def withStream[S <: java.util.stream.BaseStream[_, _], A](s: S)(f: S => A): A =
    try f(s) finally s.close()

  private def versionDir(table: String, v: Long): Path =
    Paths.get(table, f"v$v%05d")

  /** The published version, 0 when the table does not exist yet. */
  def latestVersion(table: String): Long = {
    val lf = latestFile(table)
    if (Files.exists(lf))
      new String(Files.readAllBytes(lf), StandardCharsets.UTF_8).trim.toLong
    else 0L
  }

  /** Write `df` as the next version and PUBLISH it atomically. Returns the
    * new version number. The data write (distributed, expensive) happens
    * entirely before the pointer swap (driver-side, O(1)); readers see the
    * old version until the rename lands.
    */
  def commit(df: DataFrame, table: String): Long = synchronized {
    Files.createDirectories(Paths.get(table))
    val v = latestVersion(table) + 1
    df.write.mode("overwrite").parquet(versionDir(table, v).toString)
    publish(table, v)
    v
  }

  /** Atomic pointer swap publishing version `v` as latest. */
  private def publish(table: String, v: Long): Unit = {
    val tmp = Paths.get(table, s"._latest.tmp${System.nanoTime()}")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, latestFile(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Snapshot read of a pinned version (defaults to the published one). */
  def read(spark: SparkSession, table: String, version: Long = -1L): DataFrame = {
    val v = if (version > 0) version else latestVersion(table)
    require(v > 0, s"versioned table $table has no published version")
    require(Files.exists(versionDir(table, v)), s"version $v missing (vacuumed?)")
    spark.read.parquet(versionDir(table, v).toString)
  }

  /** WRITE-AUDIT-PUBLISH support: write `df` as an UNPUBLISHED version dir
    * (no pointer swap). Readers of the published snapshot cannot see it;
    * an audit validates the staged data via [[read]] with the returned
    * version pinned, then either [[publishStaged]] promotes it atomically
    * or [[vacuum]] (which removes dirs newer than latest) discards it.
    * The Iceberg/Delta WAP workflow over plain parquet.
    */
  def stage(df: DataFrame, table: String): Long = synchronized {
    Files.createDirectories(Paths.get(table))
    val v = latestVersion(table) + 1
    df.write.mode("overwrite").parquet(versionDir(table, v).toString)
    v
  }

  /** Promote a staged version to latest — the O(1) atomic publish half of
    * write-audit-publish. Requires the staged dir to exist.
    */
  def publishStaged(table: String, v: Long): Unit = synchronized {
    require(Files.exists(versionDir(table, v)), s"staged v$v missing")
    publish(table, v)
  }

  /** Roll back by publishing an OLDER version as latest — O(1), no data
    * movement; the bad version's files stay until vacuum.
    */
  def rollback(table: String, to: Long): Unit = synchronized {
    require(Files.exists(versionDir(table, to)), s"cannot roll back to missing v$to")
    val tmp = Paths.get(table, s"._latest.tmp${System.nanoTime()}")
    Files.write(tmp, to.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, latestFile(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete version dirs NEWER than latest (crash orphans / rolled-back
    * futures) and, with `keep`, all but the last `keep` published versions.
    * Never touches the published version itself.
    */
  def vacuum(table: String, keep: Int = Int.MaxValue): Seq[Long] = synchronized {
    val latest = latestVersion(table)
    val dirs = withStream(Files.list(Paths.get(table))) { st =>
      st.toArray.map(_.asInstanceOf[Path])
        .filter(p => p.getFileName.toString.matches("v\\d{5}"))
        .map(p => p.getFileName.toString.drop(1).toLong).sorted
    }
    val dropNewer = dirs.filter(_ > latest)
    val dropOld = dirs.filter(_ <= latest).dropRight(keep)
    val victims = (dropNewer ++ dropOld).filter(_ != latest)
    victims.foreach(v => deleteRecursively(versionDir(table, v)))
    victims.toSeq
  }

  /** MERGE INTO: apply a keyed change set to the published snapshot and
    * commit the result as ONE new version — the lakehouse upsert. The
    * change relation carries the full payload plus an `_op` column:
    * 'upsert' rows replace-or-insert their key, 'delete' rows remove it.
    * One full-outer join keyed by the merge key — the same single keyed
    * shuffle as any MERGE implementation; readers of the old version are
    * untouched until the atomic publish.
    */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
            key: String): Long = {
    val cur = read(spark, table)
    val payload = cur.columns.filterNot(_ == key).toSeq
    val src = payload.foldLeft(changes)((df, c) => df.withColumnRenamed(c, s"__s_$c"))
    val merged = cur.join(src, Seq(key), "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "delete")
      .select(col(key) +: payload.map(c =>
        when(col("_op") === "upsert", col(s"__s_$c")).otherwise(col(c)).as(c)): _*)
    commit(merged, table)
  }

  /** LAST-WRITER-WINS CDC merge: apply one change batch to the published
    * snapshot, where the winner for each key is the row with the greatest
    * `ordCols` tuple ACROSS table and batch — not "the batch wins". With a
    * unique total order (here (ts_ns, event_id)) this makes the merge
    * CONVERGENT: any partition of a change stream into batches, in any
    * application order, reaches the same final state — the property that
    * lets a streaming foreachBatch apply be oracled by a plain batch query,
    * and lets replayed/re-ordered micro-batches (driver restarts, late
    * files) land harmlessly at 100 TB.
    *
    * Deletes are TOMBSTONES (a `tombstone` payload column), retained in the
    * table so an out-of-order earlier update cannot resurrect a deleted
    * key; readers filter them. One keyed shuffle for the per-key batch
    * argmax + one keyed full-outer join per batch — the same shape as any
    * lakehouse streaming MERGE.
    */
  /** Per-key argmax of a change batch by the `ordCols` tuple. */
  private def lwwReduce(batch: DataFrame, key: String,
                        ordCols: Seq[String]): DataFrame = {
    val cols = batch.columns.toSeq
    batch.groupBy(col(key))
      .agg(max_by(struct(cols.map(col): _*), struct(ordCols.map(col): _*)).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** The LWW full-outer combine: winner per key = greater `ordCols` tuple. */
  private def lwwCombine(cur: DataFrame, reduced: DataFrame, key: String,
                         ordCols: Seq[String], cols: Seq[String]): DataFrame = {
    def packed(df: DataFrame, as: String) =
      df.select(col(key), struct(cols.filterNot(_ == key).map(col): _*).as(as))
    def ordOf(side: String) = struct(ordCols.map(c => col(side).getField(c)): _*)
    packed(cur, "__c").join(packed(reduced, "__b"), Seq(key), "full_outer")
      .withColumn("__w",
        when(col("__c").isNull, col("__b"))
          .when(col("__b").isNull, col("__c"))
          .when(ordOf("__b") >= ordOf("__c"), col("__b"))
          .otherwise(col("__c")))
      .select(col(key) +: cols.filterNot(_ == key).map(c => col("__w").getField(c).as(c)): _*)
  }

  def mergeLww(spark: SparkSession, table: String, batch: DataFrame,
               key: String, ordCols: Seq[String]): Long = {
    val cols = batch.columns.toSeq
    val reduced = lwwReduce(batch, key, ordCols)
    if (latestVersion(table) == 0L) return commit(reduced, table)
    val cur = read(spark, table).select(cols.map(col): _*)
    commit(lwwCombine(cur, reduced, key, ordCols, cols), table)
  }

  // -------------------------------------------------------------------------
  // Partition-pruned copy-on-write (bucketed) LWW merge
  // -------------------------------------------------------------------------

  /** PARTITION-PRUNED COW MERGE: the scale refinement of [[mergeLww]]. The
    * table is laid out in `nBuckets` key-hash bucket directories
    * (`_bucket=N/`, Spark partitioned layout) inside each immutable version
    * dir; a merge REWRITES only buckets that contain batch keys and
    * HARD-LINKS every untouched bucket's files forward into the new
    * version — so a small change batch against a huge table costs
    * O(touched buckets), not a full-table rewrite (the copy-on-write
    * amplification the flat layout suffers; SCALING.md round-10 note).
    *
    * Bucket routing is `pmod(hash(key), n)` — it decides only WHERE a row
    * lives, never a result, so engine-specific hashing is fine. Snapshot
    * isolation is unchanged: readers of the old version hold directories
    * whose files are never mutated (hard links share immutable inodes;
    * rewritten buckets get fresh files), and the atomic `_latest` swap
    * publishes the new version. LWW semantics are byte-identical to
    * [[mergeLww]] because the combine runs per bucket on a key-disjoint
    * partition of the data.
    */
  def mergeLwwBucketed(spark: SparkSession, table: String, batch: DataFrame,
                       key: String, ordCols: Seq[String],
                       nBuckets: Int = 16): Long = synchronized {
    val cols = batch.columns.toSeq
    val bkt = pmod(hash(col(key)), lit(nBuckets))
    val reduced = lwwReduce(batch, key, ordCols).withColumn("_bucket", bkt)
    val latest = latestVersion(table)
    if (latest == 0L) {
      Files.createDirectories(Paths.get(table))
      reduced.write.partitionBy("_bucket")
        .parquet(versionDir(table, 1).toString)
      publish(table, 1)
      return 1L
    }
    // ≤ nBuckets ints to the driver — the pruning decision, not data
    val touched = reduced.select("_bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val oldDir = versionDir(table, latest)
    val newDir = versionDir(table, latest + 1)
    val curTouched = spark.read.parquet(oldDir.toString)
      .filter(col("_bucket").isin(touched.toSeq: _*))
      .select((cols :+ "_bucket").map(col): _*)
    val merged = lwwCombine(
      curTouched, reduced.filter(col("_bucket").isin(touched.toSeq: _*)),
      key, ordCols, cols).withColumn("_bucket", bkt)
    merged.write.partitionBy("_bucket").parquet(newDir.toString)
    // carry untouched buckets forward as hard links (copy fallback):
    // zero data movement, shared immutable inodes
    (0 until nBuckets).filterNot(touched).foreach { b =>
      val src = oldDir.resolve(s"_bucket=$b")
      if (Files.exists(src)) {
        val dst = newDir.resolve(s"_bucket=$b")
        Files.createDirectories(dst)
        val st = Files.list(src)
        try st.forEach { f =>
          val t = dst.resolve(f.getFileName.toString)
          try Files.createLink(t, f)
          catch { case _: UnsupportedOperationException =>
            Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING) }
        } finally st.close()
      }
    }
    publish(table, latest + 1)
    latest + 1
  }

  /** q166 gate: v1 = the LWW collapse of ALL events (bucketed layout);
    * v2 = a SMALL adjustment batch (one synthetic newest row per user with
    * user_id % 97 == 0) applied through the pruned COW merge. The oracle
    * replays both: last event per user, with the %97 users replaced by the
    * adjustment and error-tombstoned users filtered unless adjusted.
    */
  def bucketedMergeGate(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.mvFingerprint(Paths.get(dir, "events.parquet"))
    val table = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_versioned", fp, "events_cow").toString
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("tombstone", col("event_type") === "error")
    synchronized {
      if (latestVersion(table) != 2L) {
        deleteRecursively(Paths.get(table)) // self-heal: idempotent rebuild
        mergeLwwBucketed(spark, table, ev, "user_id", Seq("ts_ns", "event_id"))
        val maxTs = ev.agg(max(col("ts_ns"))).head().getLong(0) // one scalar
        val adjust = ev.filter(col("user_id") % 97 === 0)
          .select(col("user_id")).distinct()
          .select(col("user_id"), (lit(maxTs) + lit(1000L)).as("ts_ns"),
            (col("user_id") + lit(10000000L)).as("event_id"),
            lit("adjust").as("event_type"), lit(0.5).as("value"),
            lit(false).as("tombstone"))
        mergeLwwBucketed(spark, table, adjust, "user_id", Seq("ts_ns", "event_id"))
      }
    }
    read(spark, table).filter(!col("tombstone"))
      .select(col("user_id"), col("ts_ns"), col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** q147 materialization: a fresh versioned orders table (v1 = source)
    * with one deterministic MERGE batch applied as v2 — updates
    * (%7 keys: price +1000), deletes (%11 keys), inserts (%13 keys
    * re-keyed +10M under status 'X'); delete wins key overlaps by
    * construction (updates exclude %11).
    */
  private[graft] def mergedOrdersTable(spark: SparkSession, dir: String): String =
    synchronized {
      val fp = Tables.mvFingerprint(Paths.get(dir, "orders.parquet"))
      val table = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_versioned", fp, "orders_merge").toString
      val orders = Tables.orders(spark, dir)
      if (latestVersion(table) == 0L) commit(orders, table)
      if (latestVersion(table) == 1L) {
        val k = col("o_orderkey")
        val updates = orders.filter(k % 7 === 0 && k % 11 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("_op", lit("upsert"))
        val inserts = orders.filter(k % 13 === 0)
          .withColumn("o_orderkey", k + 10000000L)
          .withColumn("o_orderstatus", lit("X"))
          .withColumn("_op", lit("upsert"))
        val deletes = orders.filter(k % 11 === 0)
          .withColumn("_op", lit("delete"))
        merge(spark, table, updates.unionByName(inserts).unionByName(deletes),
          "o_orderkey")
      }
      table
    }

  /** q147: the merged snapshot profiled per status; the oracle replays the
    * construction set-algebraically over the source relation.
    */
  def mergeGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Fx._
    read(spark, mergedOrdersTable(spark, dir), 2)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        rd(exactSum(col("o_totalprice")), 4).as("total_price"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** Gate materialization (q138/q139), once per source fingerprint: v1 =
    * orders minus every third key, v2 = full orders, v3 = a "bad write"
    * that is rolled back and vacuumed — so the gate exercises commit,
    * rollback, and vacuum, and what remains is v1 + v2 with v2 published.
    */
  private[graft] def ordersTable(spark: SparkSession, dir: String): String =
    synchronized {
      val fp = Tables.mvFingerprint(Paths.get(dir, "orders.parquet"))
      val table = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_versioned", fp, "orders").toString
      if (latestVersion(table) != 2L) {
        // Wipe-and-rebuild on ANY mismatch: a crash that committed only v1
        // would otherwise see latest==1, replay the %3-filtered build as v2,
        // and publish filtered data as latest forever (the guard would then
        // read latest==2 and never self-heal). Starting from an empty dir
        // makes the construction idempotent regardless of prior state.
        deleteRecursively(Paths.get(table))
        val orders = Tables.orders(spark, dir)
        commit(orders.filter(col("o_orderkey") % 3 =!= 0), table) // v1
        commit(orders, table)                                     // v2
        commit(orders.filter(col("o_orderkey") % 5 =!= 0), table) // v3: bad write
        rollback(table, 2)
        vacuum(table) // removes the rolled-back v3, keeps v1 + v2
      }
      table
    }

  /** q138: snapshot isolation as data — the SAME table path serves both
    * pinned version 1 and the published latest, each aggregated; the
    * oracle restates the two construction predicates over the source.
    */
  def versionGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Fx._
    val table = ordersTable(spark, dir)
    def agg(df: DataFrame, v: Long): DataFrame =
      df.agg(count(lit(1)).as("n_orders"),
          rd(exactSum(col("o_totalprice")), 4).as("total_price"))
        .select(lit(v).as("version"), col("n_orders"), col("total_price"))
    agg(read(spark, table, 1), 1L)
      .unionByName(agg(read(spark, table), latestVersion(table)))
      .orderBy("version")
  }

  /** q139: change-data-feed v1 → v2 profiled per (change kind, status);
    * the construction makes the expected feed exactly the %3==0 inserts.
    */
  def changesGate(spark: SparkSession, dir: String): DataFrame = {
    val table = ordersTable(spark, dir)
    changes(spark, table, 1, 2)
      .groupBy(col("_change"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("n_keys"))
      .orderBy("_change", "o_orderstatus")
  }

  /** q171 gate: the full WRITE-AUDIT-PUBLISH workflow. v1 = the source
    * relation published; attempt A stages a CORRUPT batch (%5 keys nulled)
    * whose audit (no-null-keys) FAILS → vacuumed, latest untouched;
    * attempt B stages a valid repriced batch (%3 keys +10) whose audit
    * passes → atomically published as v2. The gate profiles the published
    * snapshot — hash equality with the oracle's replay of ONLY the good
    * batch proves the corrupt stage never leaked.
    */
  def wapGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Fx._
    val fp = Tables.mvFingerprint(Paths.get(dir, "orders.parquet"))
    val table = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_versioned", fp, "orders_wap").toString
    synchronized {
      if (latestVersion(table) != 2L) {
        deleteRecursively(Paths.get(table)) // idempotent rebuild
        val orders = Tables.orders(spark, dir)
        val k = col("o_orderkey")
        commit(orders, table) // v1: published baseline
        // attempt A: corrupt batch — audit fails, stage is discarded
        val bad = orders.withColumn("o_orderkey",
          when(k % 5 === 0, lit(null)).otherwise(k))
        val vBad = stage(bad, table)
        val badNulls = read(spark, table, vBad)
          .filter(col("o_orderkey").isNull).limit(1).count()
        require(badNulls > 0) // the audit genuinely trips
        vacuum(table) // discard the failed stage; latest still 1
        // attempt B: valid repricing — audit passes, publish atomically
        val good = orders.withColumn("o_totalprice",
          when(k % 3 === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
        val vGood = stage(good, table)
        val audit = read(spark, table, vGood)
        val ok = audit.filter(col("o_orderkey").isNull).limit(1).isEmpty &&
          audit.count() == orders.count()
        require(ok, "good batch failed its audit")
        publishStaged(table, vGood)
      }
    }
    read(spark, table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        rd(exactSum(col("o_totalprice")), 4).as("total_price"),
        count(when(col("o_orderkey").isNull, 1)).as("null_keys"))
      .orderBy("o_orderstatus")
  }

  /** Change-data-feed between two versions, keyed by full-row identity:
    * rows only in `to` are inserts, rows only in `from` are deletes
    * (an update = delete + insert). Bag semantics via exceptAll — duplicate
    * multiplicity differences surface as changes, which a join-based diff
    * would miss.
    */
  def changes(spark: SparkSession, table: String, from: Long, to: Long): DataFrame = {
    val a = read(spark, table, from)
    val b = read(spark, table, to)
    b.exceptAll(a).withColumn("_change", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
  }
}
