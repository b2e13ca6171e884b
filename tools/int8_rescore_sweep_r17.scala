// Round-17 rescoreFactor sweep (VERDICT r16 item 5): recall@3 of the q240
// coarse-int8-then-float-rescore durable probe vs the float q238 probe
// (same centroids, same chain state) and vs brute force, at each
// rescoreFactor. Each int8 leg re-runs the full gate (reset + 2 chain
// steps + probe) — the chain state is identical across legs, only the
// coarse cut width changes. Results land in DEDUP_QUALITY.md §int8-IVF.
//
// Run: /opt/spark/bin/spark-shell --master 'local[32]' --conf spark.ui.enabled=false \
//   --conf spark.sql.session.timeZone=UTC --conf spark.sql.shuffle.partitions=32 \
//   --jars target/scala-2.13/airflowetlfinancemarketspark_2.13-0.1.0.jar \
//   -I tools/int8_rescore_sweep_r17.scala
import graft.operators.Similarity
import graft.sources.Tables
val dir = sys.env.getOrElse("SWEEP_DIR", "/root/testdata/sf0.1")
def ns(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df.select("q_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
val fl = ns(Similarity.ivfDurableRefreshBucketed(spark, dir))
val br = ns(Similarity.bruteKnnFrom(Tables.embeddings(spark, dir), Similarity.IvfNQueries, Similarity.IvfK))
println(f"ZZ floatVsBrute=${fl.intersect(br).size.toDouble / br.size}%.4f")
for (rf <- Seq(1, 2, 4, 8)) { val i8 = ns(Similarity.int8IvfDurableRefresh(spark, dir, rescoreFactor = rf)); println(f"ZZ rf=$rf vsFloat=${i8.intersect(fl).size.toDouble / fl.size}%.4f vsBrute=${i8.intersect(br).size.toDouble / br.size}%.4f") }
sys.exit(0)
