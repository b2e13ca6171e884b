package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpecBase {
  import spark.implicits._

  // 90% of rows on one hot key, values with heavy repetition
  private lazy val skewed = (
    (1 to 9000).map(i => ("hot", s"v${i % 700}")) ++
    (1 to 1000).map(i => (s"k${i % 10}", s"v${i % 50}"))
  ).toDF("key", "value").repartition(8)

  test("saltedDistinctCount is exact under skew") {
    val salted = Skew.saltedDistinctCount(skewed, "key", "value", 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = skewed.groupBy("key").agg(countDistinct(col("value")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("hot") == 700L)
  }

  test("binaryFile ingestion reads real files as binary payloads") {
    val dir = tempDir("graft_media")
    java.nio.file.Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.bin"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](9))
    val out = graft.operators.Multimodal.readBinaryDir(spark, dir.toString, "*.bin")
      .select("length").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L, 3L))
  }
}
