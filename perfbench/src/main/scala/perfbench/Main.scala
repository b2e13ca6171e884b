package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes what it measured as JSON:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE
  *
  * Untraced runs time whole operations in a closed loop with one client.
  * Traced runs also run each operation under a `Tracer`, span by span.
  * `run.py` starts this, checks the results against DuckDB and prints the
  * metrics.
  */
object Main {

  // Input sizes. Every workload runs on one process with local[nproc].
  val Tickers = 30
  val Days = 5000
  val CorpusDocs = 500
  val ExactCopyRate = 0.10
  val NearCopyRate = 0.05

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceMode = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Spark's status store keeps jobs, stages and SQL executions up to these
      // limits; capped low, it fills during set-up, and the heap after GC
      // holds what the engine keeps alive, not how many operations ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workloadName match {
      case "dag_daily" => new DagDaily(spark, work, seed, Tickers, Days)
      case "analyst_gold" => new AnalystGold(spark, work, seed, Tickers, Days)
      case "corpus_prep" => new CorpusPrep(spark, work, seed, CorpusDocs, ExactCopyRate, NearCopyRate)
      case other => sys.error(s"unknown workload $other")
    }
    val setupS = (1 to w.setups).map { _ =>
      spark.catalog.clearCache()
      time(w.setup())._2
    }

    // The loop runs until the operations' own time reaches --seconds (in a
    // traced run: the time of whole traced iterations), and only stops at
    // the end of a rotation (or after 90 s of wall time, so operations that
    // fail at once cannot spin). Untimed between rotations: full GCs, after
    // which the live heap is read.
    val ops = Seq.newBuilder[Map[String, Any]]
    var opTime = 0.0
    var heapPeak = 0L
    var spans = Seq.empty[(String, Map[String, Double])]
    val tr = new Tracer(spark.sparkContext)
    val untraced, tracedWall, unattributed = Seq.newBuilder[Double]
    val useful = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val hardStop = System.nanoTime() + 90L * 1000000000L
    var i = 0
    while ((i % w.rotation != 0 || opTime < seconds) && System.nanoTime() < hardStop) {
      if (!traceMode) {
        val op = runOp(w, i)
        opTime += op("s").asInstanceOf[Double]
        ops += op
      } else {
        // replay, traced entry point, untraced operation, replay: the
        // replays' mean sits half a step after the entry point and the
        // untraced operation one step after it, so the JIT's ongoing warm-up
        // can only overstate unattributed time and tracing overhead
        def traced[T](f: => T): Either[String, T] = {
          spark.sparkContext.addSparkListener(tr)
          try Right(f) catch { case NonFatal(e) => Left(e.toString) }
          finally {
            // the last job's events may still be queued
            org.apache.spark.ListenerBusDrain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(tr)
          }
        }
        def replay(): Either[String, Option[String]] = traced(w.replay(i, tr).map {
          case (fp, ratios) =>
            ratios.foreach { case (k, v) => useful(k) = useful.getOrElse(k, Nil) :+ v }
            w.after(i, fp)
        })
        val t0 = System.nanoTime()
        val first = replay()
        val real = traced(w.after(i, tr.span(w.spanName(i))(w.op(i))))
        val op = runOp(w, i)
        untraced += op("s").asInstanceOf[Double]
        val second = replay()
        opTime += (System.nanoTime() - t0) / 1e9
        val wrong = (Seq(first, second).flatMap(_.fold(e => Seq(Left(e)), _.map(Right(_)))) :+ real)
          .collect {
            case Left(e) => e
            case Right(fp) if fp != w.expected(i) => s"traced result $fp != expected ${w.expected(i)}"
          }
        val iterSpans = tr.spans()
        tr.reset()
        val whole = iterSpans.filter(_._1 == w.spanName(i)).map(_._2("s"))
        val replayed = iterSpans.filter(_._1 != "pipeline.run")
        tracedWall ++= whole
        if (w.spanName(i) == "pipeline.run") {
          // against the mean wall time of the two replays
          val replayS = replayed.map(_._2("s")).sum / 2
          whole.foreach(r => unattributed += r - replayS)
        }
        spans ++= replayed
        ops += op ++ Map("ok" -> (op("ok") == true && wrong.isEmpty),
          "error" -> (op("error").toString +: wrong).filter(_.nonEmpty).mkString("; "))
      }
      i += 1
      if (i % w.rotation == 0) heapPeak = math.max(heapPeak, liveHeap())
    }
    val layer = useful.map { case (k, v) => k -> median(v) }.toMap ++ (
      if (!traceMode) Map.empty else Map(
        "pipeline.tracing.overhead_ratio" -> median(tracedWall.result()) / median(untraced.result()),
        "pipeline.unattributed.s" -> median(unattributed.result())))

    // diagnostics, traced runs only: the host's speed next to the spans
    val (canaryCpu, canaryShuffle) = if (traceMode) canaries(spark) else (0.0, 0.0)
    val result = Map[String, Any](
      "workload" -> workloadName,
      "cpus" -> cpus,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "op_time_s" -> opTime,
      "ops" -> ops.result(),
      "heap_peak_mb" -> heapPeak / (1024.0 * 1024.0),
      "store_bytes" -> w.storeBytes,
      "input_bytes" -> w.inputBytes,
      "check" -> w.checkFacts,
      "spans" -> spans.groupBy(_._1).map { case (name, xs) =>
        name -> xs.head._2.keys.map(m => m -> median(xs.map(_._2(m)))).toMap
      },
      "layer" -> layer,
      "canary_cpu_s" -> canaryCpu,
      "canary_shuffle_s" -> canaryShuffle)
    Files.write(Paths.get(opt("out")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** One timed operation and its correctness check (untimed). A thrown
    * exception or a wrong fingerprint makes it a failure.
    */
  private def runOp(w: Workload, i: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    val res = try Right(w.op(i)) catch { case NonFatal(e) => Left(e.toString) }
    val s = (System.nanoTime() - t0) / 1e9
    val checked = res.flatMap { fp =>
      try {
        val full = w.after(i, fp)
        if (full == w.expected(i)) Right(full)
        else Left(s"fingerprint $full != expected ${w.expected(i)}")
      } catch { case NonFatal(e) => Left(e.toString) }
    }
    Map("name" -> w.opName(i), "s" -> s, "ok" -> checked.isRight,
      "error" -> checked.left.getOrElse(""))
  }

  /** Heap in use after full collections. Spark's cleaner releases the
    * checkpoint and shuffle blocks of dropped relations only after a
    * collection has found them unreachable, and on its own thread, so this
    * collects again until the heap stops shrinking (at most 6 times).
    */
  private def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var used = collect()
    var k = 1
    var shrinking = true
    while (shrinking && k < 6) {
      Thread.sleep(200)
      val next = collect()
      shrinking = next < used - (1L << 20)
      used = math.min(used, next)
      k += 1
    }
    used
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The two host canaries of `graft.Bench` (CPU hash+agg+sort over 10M
    * generated rows; 2M rows through two exchanges under 32-hex string keys),
    * one pass each. Diagnostics only: they say how fast the host was.
    */
  private def canaries(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions._
    val cpu = time {
      spark.range(0L, 10000000L, 1L, 32)
        .selectExpr("(id * 2654435761) % 1000003 AS k", "id % 97 AS v")
        .groupBy("k").agg(sum("v").as("s"))
        .orderBy(col("s").desc).limit(10)
        .count()
    }._2
    val shuffle = time {
      spark.range(0L, 2000000L, 1L, 32)
        .selectExpr("md5(cast(id as string)) AS k", "id % 1000 AS g", "id AS v")
        .groupBy("k", "g").agg(sum("v").as("s"))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("s").as("t"))
        .orderBy(col("t").desc).limit(10)
        .count()
    }._2
    (cpu, shuffle)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
