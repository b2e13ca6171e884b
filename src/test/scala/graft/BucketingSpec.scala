package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Bucketing: pre-shuffled table layout so repeated large-large joins on the
  * same key pay zero exchanges at read time — the co-location lever for fact
  * joins too big to broadcast (SURVEY.md §4 / the 100 TB brief).
  */
class BucketingSpec extends SparkSpecBase {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val wh = tempDir("graft_buckets").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_b LOCATION '$wh'")
    // disable broadcast so the join is sort-merge (the bucketed-layout case;
    // at real scale both sides are far beyond any broadcast threshold)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sf).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_b.orders_b")
      Tables.lineitem(spark, sf).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_b.lineitem_b")

      val joined = spark.table("graft_b.lineitem_b")
        .join(spark.table("graft_b.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum(col("l_quantity")).as("q"))

      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must read co-located buckets: the only exchange
      // allowed is the aggregation's
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joinSection.contains("SelectedBucketsCount") || joinSection.contains("Bucketed: true"),
        s"scan is not bucket-aware:\n$plan")

      // and it must produce the same result as the unbucketed join
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum(col("l_quantity")).as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP DATABASE IF EXISTS graft_b CASCADE")
    }
  }

  test("bucketed standing MV: merge-keyed join plans zero base-side exchange and zero base-side sort") {
    import spark.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: at standing-index scale neither side of
    // the merge join is broadcastable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // report the per-bucket sort order from the scan (one file per bucket —
    // the layout bucketedMvPath guarantees); off, Spark re-sorts the base
    // side per task even though the files are sorted
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val src = java.nio.file.Paths.get(sf, "lineitem.parquet")
      val baseRows = Seq((1L, 2L, 3L, 2L), (1L, 3L, 1L, 2L),
        (2L, 1L, 3L, 1L), (3L, 1L, 1L, 1L), (5L, 6L, 2L, 1L))
      // nBuckets = shuffle.partitions so the delta aggregate's own exchange
      // is already co-partitioned with the buckets (the deployment rule)
      val base = Tables.bucketedMv(spark, src, "bkt_spec_sym", 4,
        Seq("u", "v"), Seq("u", "v"), refresh = true) {
        baseRows.toDF("u", "v", "w", "deg_u")
      }
      val delta = Seq((1L, 2L, 5L), (4L, 1L, 1L), (1L, 2L, 2L))
        .toDF("u", "v", "dw").groupBy("u", "v")
        .agg(sum(col("dw")).as("dw"))
      val joined = base.join(delta, Seq("u", "v"), "left")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"base scan is not bucket-aware:\n$plan")
      // exactly ONE hash exchange in the whole plan — the delta
      // aggregate's; the base is read co-located
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"base side of the merge join shuffles:\n$plan")
      // and exactly ONE sort — the delta side's; the base buckets are
      // written one file per bucket, so the scan reports the sort order
      assert("\\bSort \\[".r.findAllIn(plan).length == 1,
        s"base side of the merge join re-sorts:\n$plan")

      // value parity: catalog read-back ≡ plain path read, and the join
      // result matches the unbucketed join
      val mvPath = Tables.bucketedMvPath(spark, src, "bkt_spec_sym", 4,
        Seq("u", "v"), Seq("u", "v"))(sys.error("must be published"))
      val plain = spark.read.parquet(mvPath.toString)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(key(base) == key(plain))
      assert(key(joined) == key(plain.join(delta, Seq("u", "v"), "left")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }

  test("mergeSymDelta / mergeShingleDfDelta: the delta derivation is materialized ONCE — the consuming plan re-derives nothing (round-15, VERDICT r14 item 1)") {
    import spark.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val src = java.nio.file.Paths.get(sf, "lineitem.parquet")
      val base = Tables.bucketedMv(spark, src, "bkt_spec_merge1", 4,
        Seq("u", "v"), Seq("u", "v"), refresh = true) {
        Seq((1L, 2L, 3L, 2L), (1L, 3L, 1L, 2L), (2L, 1L, 3L, 1L),
          (3L, 1L, 1L, 1L), (5L, 6L, 2L, 1L)).toDF("u", "v", "w", "deg_u")
      }
      val delta = Seq((1L, 2L, 5L), (4L, 1L, 1L)).toDF("src", "dst", "w")
      val merged = graft.operators.GraphOps.mergeSymDelta(base, delta)
      val plan = merged.queryExecution.executedPlan.toString
      // the DELTA aggregate (the only sum in the merge) was checkpointed
      // once inside the merge, so the consuming plan never re-derives it —
      // no sum-aggregate anywhere. The base-SHAPED derivations (anti-join,
      // degree distinct, fresh count) stay lazy BY MEASUREMENT (SCALING.md
      // round 15: checkpointing them serialized full base passes, 2–3×
      // slower), so count/distinct aggregates are expected here.
      assert(!plan.contains("functions=[sum("),
        s"merge plan re-derives the delta sum aggregate:\n$plan")
      // the checkpointed delta aggregate surfaces as an RDD scan
      assert(plan.contains("ExistingRDD"),
        s"expected a checkpointed delta scan in the merge plan:\n$plan")

      // value parity against an independent driver-side reference (the
      // merge contract: grown weights + fresh pairs + adjusted degrees)
      val got = merged.select(col("u"), col("v"), col("w").cast("long"),
        col("deg_u").cast("long")).as[(Long, Long, Long, Long)].collect().toSet
      val baseRows = Set((1L, 2L, 3L, 2L), (1L, 3L, 1L, 2L), (2L, 1L, 3L, 1L),
        (3L, 1L, 1L, 1L), (5L, 6L, 2L, 1L))
      val deltaSym = Seq((1L, 2L, 5L), (2L, 1L, 5L), (4L, 1L, 1L), (1L, 4L, 1L))
      val grown = baseRows.map { case (u, v, w, d) =>
        val dw = deltaSym.collectFirst { case (du, dv, dww) if du == u && dv == v => dww }.getOrElse(0L)
        (u, v, w + dw, d)
      }
      val freshPairs = deltaSym.filterNot { case (u, v, _) =>
        baseRows.exists(b => b._1 == u && b._2 == v) }
      val freshByU = freshPairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val newDegs = (baseRows.map(b => b._1 -> b._4).toMap.keySet ++ freshByU.keySet).map { u =>
        u -> (baseRows.find(_._1 == u).map(_._4).getOrElse(0L) + freshByU.getOrElse(u, 0L))
      }.toMap
      val expected = grown.map { case (u, v, w, _) => (u, v, w, newDegs(u)) } ++
        freshPairs.map { case (u, v, w) => (u, v, w, newDegs(u)) }
      assert(got == expected, s"merge values wrong:\n$got\nvs\n$expected")

      // mergeShingleDfDelta: same contract — the delta batch is tokenized
      // and aggregated exactly once (at checkpoint time); the consuming
      // plan carries the base join + an RDD scan, no aggregate, no
      // tokenizer expressions
      val baseDf = Tables.bucketedMv(spark, src, "bkt_spec_merge2", 4,
        Seq("sg"), Seq("sg"), refresh = true) {
        Seq(("a b c", 3L), ("b c d", 1L)).toDF("sg", "df")
      }
      val deltaDocs = Seq((1L, "a b c e f"), (2L, "x y z w")).toDF("doc_id", "text")
      val m2 = graft.operators.TextOps.mergeShingleDfDelta(baseDf, deltaDocs)
      val p2 = m2.queryExecution.executedPlan.toString
      assert(!p2.contains("HashAggregate") && !p2.contains("ObjectHashAggregate"),
        s"shingle merge plan re-derives the delta df aggregate:\n$p2")
      assert(!p2.contains("regexp_replace"),
        s"shingle merge plan re-tokenizes the delta batch:\n$p2")
      assert(p2.contains("ExistingRDD"), s"expected a checkpointed delta scan:\n$p2")
      val got2 = m2.select(col("sg"), col("df").cast("long"))
        .as[(String, Long)].collect().toSet
      assert(got2 == Set(("a b c", 4L), ("b c d", 1L), ("b c e", 1L),
        ("c e f", 1L), ("x y z", 1L), ("y z w", 1L)),
        s"shingle merge values wrong: $got2")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("q237 probe shape: file-level bucket pruning (Tables.bucketFiles) reads only the probed buckets' files and returns exactly their rows") {
    import spark.implicits._
    val src = java.nio.file.Paths.get(sf, "part.parquet")
    val path = Tables.bucketedMvPath(spark, src, "bkt_spec_ivf", 8,
      Seq("cell"), Seq("cell", "vec_id"), refresh = true) {
      (0L until 64L).map(i => (i % 8, i)).toDF("cell", "vec_id")
    }
    val byBucket = Tables.bucketFiles(path)
    assert(byBucket.keySet.subsetOf((0 until 8).toSet) && byBucket.nonEmpty)
    // the writer's murmur3+pmod rule, replayed the way the q237 probe does
    val cells = Seq(1L, 3L)
    val bIds = cells.toDF("cell")
      .select(pmod(hash(col("cell")), lit(8)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val files = bIds.toSeq.sorted.flatMap(byBucket.getOrElse(_, Nil))
    assert(files.nonEmpty && files.size <= 2,
      s"2 probed cells must map to <= 2 bucket files, got $files")
    val schema = spark.read.parquet(path.toString).schema
    val probed = spark.read.schema(schema).parquet(files: _*)
      .filter(col("cell").isin(cells: _*))
    // only the selected files are touched (inputFiles are file:// URIs)
    assert(probed.inputFiles.map(_.split('/').last).toSet ==
      files.map(_.split('/').last).toSet)
    // ...and the rows are exactly the probed cells'
    assert(probed.select("vec_id").as[Long].collect().toSet ==
      (0L until 64L).filter(i => i % 8 == 1 || i % 8 == 3).toSet)
  }

  test("oneFilePerBucket=false: the bucketed write keeps bucket pruning and row parity, writes at the plan's own parallelism (no pre-shuffle), and the merge-side read degrades to a sort, never an exchange") {
    import spark.implicits._
    val src = java.nio.file.Paths.get(sf, "part.parquet")
    val rows = (0L until 96L).map(i => (i % 8, i))
    val mv = Tables.bucketedMv(spark, src, "bkt_spec_kfiles", 8,
      Seq("cell"), Seq("cell", "vec_id"), refresh = true,
      oneFilePerBucket = false) {
      // 4 upstream partitions, each holding every cell -> k files per bucket
      rows.toDF("cell", "vec_id").repartition(4)
    }
    // row parity through the multi-file-bucket publish + read-back
    assert(mv.select("cell", "vec_id").as[(Long, Long)].collect().toSet ==
      rows.toSet)
    // multiple files for at least one bucket (the property traded away);
    // the path accessor returns the published dir without rebuilding
    val mvPath = Tables.bucketedMvPath(spark, src, "bkt_spec_kfiles", 8,
      Seq("cell"), Seq("cell", "vec_id"), refresh = false,
      oneFilePerBucket = false)(sys.error("already published"))
    val files = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(mvPath)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSeq
      finally l.close()
    }
    val perBucket = files.groupBy(f =>
      "_(\\d{5})\\.".r.findFirstMatchIn(f).map(_.group(1).toInt).getOrElse(-1))
    assert(perBucket.exists(_._2.size > 1),
      s"expected multi-file buckets from a 4-partition build, got $files")
    // file-level bucket pruning survives the multi-file layout: the
    // bucketFiles map hands back ALL of a bucket's files, and reading just
    // one bucket's files returns exactly its rows
    val byBucket = Tables.bucketFiles(mvPath)
    val b2 = spark.range(1).select(pmod(hash(lit(2L)), lit(8)).cast("int"))
      .head().getInt(0)
    val schema = spark.read.parquet(mvPath.toString).schema
    val pruned = spark.read.schema(schema).parquet(byBucket(b2): _*)
      .filter(col("cell") === 2L)
    assert(pruned.select("vec_id").as[Long].collect().toSet ==
      rows.filter(_._1 == 2L).map(_._2).toSet,
      "multi-file bucket prune returned wrong rows")
    // an aggregate keyed on the bucket column still plans ZERO exchange —
    // only the scan-reported SORT is forfeited
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = mv.groupBy("cell").agg(count(lit(1)).as("n"))
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("Exchange"),
        s"bucket-keyed aggregate over multi-file buckets still shuffles:\n$aplan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("dropBucketedMv: the q236 chain reset — publish gone, catalog entry gone, next touch rebuilds; no-op when never published") {
    import spark.implicits._
    val src = java.nio.file.Paths.get(sf, "nation.parquet")
    var builds = 0
    def make() = Tables.bucketedMv(spark, src, "bkt_spec_drop", 4,
      Seq("k"), Seq("k")) {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    }
    // dropping before any publish is a no-op
    Tables.dropBucketedMv(spark, src, "bkt_spec_drop")
    assert(make().count() == 2 && builds == 1)
    // cached: a second touch serves the publish without rebuilding
    assert(make().count() == 2 && builds == 1)
    val path = Tables.bucketedMvPath(spark, src, "bkt_spec_drop", 4,
      Seq("k"), Seq("k"))(sys.error("published above"))
    Tables.dropBucketedMv(spark, src, "bkt_spec_drop")
    assert(!java.nio.file.Files.exists(path), "publish survived the drop")
    assert(!spark.catalog.tableExists(
      s"graft_mv_bkt_spec_drop_${path.getFileName.toString.takeRight(16)}"),
      "catalog entry survived the drop")
    // next touch rebuilds from scratch
    assert(make().count() == 2 && builds == 2, "drop did not force a rebuild")
  }

  test("bucketed MV refresh: republish under the SAME fingerprint drops the stale catalog entry; later reads serve the fresh publish without rebuilding") {
    import spark.implicits._
    val src = java.nio.file.Paths.get(sf, "orders.parquet")
    val a = Tables.bucketedMv(spark, src, "bkt_spec_refresh", 4,
      Seq("k"), Seq("k"), refresh = true) { Seq((1L, "a")).toDF("k", "v") }
    assert(a.as[(Long, String)].collect().toSet == Set((1L, "a")))
    // refresh with the same source fingerprint replaces the files in place;
    // the session catalog entry over the OLD file listing must not survive
    val b = Tables.bucketedMv(spark, src, "bkt_spec_refresh", 4,
      Seq("k"), Seq("k"), refresh = true) { Seq((1L, "b"), (2L, "c")).toDF("k", "v") }
    assert(b.as[(Long, String)].collect().toSet == Set((1L, "b"), (2L, "c")))
    // a plain read is a cache hit: the build closure must never run
    val c = Tables.bucketedMv(spark, src, "bkt_spec_refresh", 4,
      Seq("k"), Seq("k")) { sys.error("must not rebuild on a published MV") }
    assert(c.as[(Long, String)].collect().toSet == Set((1L, "b"), (2L, "c")))
  }
}
