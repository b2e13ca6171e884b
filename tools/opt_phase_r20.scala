// Round-20 OPTIMIZATION phase decomposition: q217 (sym-incremental base
// build vs merge) and the graph-iterative family (pin build vs rounds).
// Guide §1: attribute before changing.
//   /opt/spark/bin/spark-shell --master 'local[32]' --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC --conf spark.sql.shuffle.partitions=32 \
//     --conf spark.sql.codegen.cache.maxEntries=2000 --driver-memory 8g \
//     --jars target/scala-2.13/airflowetlfinancemarketspark_2.13-0.1.0.jar \
//     -I tools/opt_phase_r20.scala
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.GraphOps

val dir = sys.env.getOrElse("OPT_SF", "/root/testdata/sf0.1")
def t[A](tag: String)(f: => A): A = {
  val t0 = System.nanoTime(); val r = f
  println(f"PHASE $tag ${(System.nanoTime() - t0) / 1e9}%.3f"); r
}
def canary(): Double = {
  val t0 = System.nanoTime()
  spark.range(0L, 10000000L, 1L, 32).selectExpr("(id*2654435761)%1000003 AS k", "id%97 AS v").groupBy("k").agg(sum("v").as("s")).orderBy(col("s").desc).limit(10).count()
  (System.nanoTime() - t0) / 1e9
}
canary(); println(f"PHASE canary ${canary()}%.3f")

// ---------- q217 decomposition ----------
t("warm_q217_full") { graft.SparkEntry.queries("q217_sym_incremental")(spark, dir).count() }
val li = Tables.lineitem(spark, dir).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
for (r <- 1 to 2) {
  val baseEdges = GraphOps.copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0))
  t(s"r${r}_q217_baseEdges_noop") { baseEdges.write.format("noop").mode("overwrite").save() }
  val baseSym = GraphOps.symmetrizeWithDegrees(baseEdges)
  t(s"r${r}_q217_baseSym_noop") { baseSym.write.format("noop").mode("overwrite").save() }
  val baseCkpt = t(s"r${r}_q217_baseSym_ckpt") { baseSym.localCheckpoint(true) }
  val delta = GraphOps.copurchaseEdgesOf(li.filter(col("ok") % 10 === 0))
  t(s"r${r}_q217_delta_noop") { delta.write.format("noop").mode("overwrite").save() }
  t(s"r${r}_q217_merge_noop") {
    GraphOps.mergeSymDelta(baseCkpt, delta).write.format("noop").mode("overwrite").save()
  }
  t(s"r${r}_q217_full") { graft.SparkEntry.queries("q217_sym_incremental")(spark, dir).count() }
  baseCkpt.unpersist(true)
}

// ---------- graph family: pin build vs iterative rounds ----------
// warm builds the MVs + JVM pins exactly like the bench warmup does
for (q <- Seq("q98_copurchase_pagerank", "q206_communities", "q144_bfs_rings",
              "q184_weighted_paths", "q211_kcore"))
  t(s"warm_$q") { graft.SparkEntry.queries(q)(spark, dir).count() }
for (r <- 1 to 2; q <- Seq("q98_copurchase_pagerank", "q206_communities",
                           "q144_bfs_rings", "q184_weighted_paths", "q211_kcore"))
  t(s"r${r}_$q") { graft.SparkEntry.queries(q)(spark, dir).count() }

// q98 sub-decomposition: how much is the 5-iteration loop vs the final join?
locally {
  import org.apache.spark.sql.DataFrame
  val mvPath = GraphOps.symAdjMVPath(spark, dir)
  val symPin = spark.read.parquet(mvPath.toString).select(col("u"), col("v"), col("deg_u")).localCheckpoint(true)
  val degPin = spark.read.parquet(GraphOps.nodeDegMVPath(spark, dir).toString).localCheckpoint(true)
  println(s"PHASE sym_rows ${symPin.count()} deg_rows ${degPin.count()}")
  t("q98_symscan_noop") { symPin.write.format("noop").mode("overwrite").save() }
  for (it <- Seq(1, 3, 5))
    t(s"q98_pageRankOn_iter$it") {
      GraphOps.pageRankOn(symPin, degPin, it, bcast = true).write.format("noop").mode("overwrite").save()
    }
  // one raw iteration body: join + agg only
  t("q98_one_contrib_agg") {
    val ranks = degPin.select(col("node"), lit(1.0).as("rank"))
    symPin.join(broadcast(ranks), symPin("u") === ranks("node"))
      .select(col("v"), (col("rank") / col("deg_u")).as("c"))
      .groupBy("v").agg(sum("c").as("inflow"))
      .write.format("noop").mode("overwrite").save()
  }
}
println(f"PHASE canary_end ${canary()}%.3f")
sys.exit(0)
