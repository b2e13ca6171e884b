package graft.sources

import graft.sources.Formats.deleteRecursively
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source layer (SURVEY.md §2.1, S1–S8).
  *
  * The reference ingests a 750K-row OHLCV CSV into a Postgres staging table via
  * `COPY` (reference `dags/financial_pipeline.py:45-49`) and persists derived
  * tables/materialized views. Here every table is a parquet-backed DataFrame:
  * the scan is partitioned and parallel, schemas are declared (never inferred),
  * and filters/column pruning push down to the parquet reader — the properties
  * that keep this layer viable at 100 TB.
  */
object Tables {

  /** Stable per-session id for memo caches: the classic SparkSession carries
    * a `sessionUUID` (Scala package-private, public in bytecode — reached via
    * reflection); the identity-hash fallback only exists for session
    * implementations without one (an identity hash can in principle be reused
    * after GC, which is why the UUID is preferred).
    */
  def sessionUuid(spark: SparkSession): String =
    try spark.getClass.getMethod("sessionUUID").invoke(spark).asInstanceOf[String]
    catch { case _: ReflectiveOperationException => "idhash-" + System.identityHashCode(spark) }

  /** Explicit Bronze/staging schema for CSV ingest (S2/S4).
    * Mirrors reference `sql/setup_staging.sql:4-12`; NUMERIC → DoubleType per
    * SURVEY.md §1.2 (observable semantics are float64).
    */
  val stagingSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = true),
    StructField("symbol", StringType, nullable = true),
    StructField("open", DoubleType, nullable = true),
    StructField("high", DoubleType, nullable = true),
    StructField("low", DoubleType, nullable = true),
    StructField("close", DoubleType, nullable = true),
    StructField("volume", LongType, nullable = true)
  ))

  /** Exact-NUMERIC staging schema: the reference stores prices as Postgres
    * NUMERIC (`sql/setup_staging.sql:7-10`); the engine default is
    * DoubleType (SURVEY.md §1.2 — observable semantics of the reference's
    * pandas analytics are float64), but pipelines that demand exact decimal
    * parity (no binary-FP representation error, order-independent sums by
    * construction) can ingest with this schema instead. DecimalType(38,6)
    * arithmetic stays whole-stage-codegen'd; aggregate-heavy paths cost
    * ~2–3× double's throughput, which is the documented trade.
    */
  val stagingSchemaDecimal: StructType = StructType(stagingSchema.fields.map {
    case StructField(n, DoubleType, nul, m) => StructField(n, DecimalType(38, 6), nul, m)
    case f => f
  })

  /** S2 variant: exact-decimal ingest (see `stagingSchemaDecimal`). */
  def readStagingCsvDecimal(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(stagingSchemaDecimal).option("header", "true").csv(path)

  /** S1: fail-fast existence check (reference `dags/financial_pipeline.py:20-29`). */
  def requireExists(path: String): Unit =
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(path)),
      s"input not found: $path")

  /** S2: bulk CSV ingest with a declared schema — never inferSchema (a schema
    * inference pass would be a second full scan of 100 TB).
    */
  def readStagingCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(stagingSchema).option("header", "true").csv(path)

  /** S2 variant: lenient ingest — malformed rows land in `_corrupt_record`
    * instead of failing the job (the reference's COPY aborts the whole load
    * on one bad row; at 100 TB you quarantine and continue). Callers split
    * on `_corrupt_record IS NULL` for the clean/quarantine streams.
    */
  def readStagingCsvLenient(spark: SparkSession, path: String): DataFrame = {
    val withCorrupt = StructType(stagingSchema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    spark.read.schema(withCorrupt)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  // ---------------------------------------------------------------------------
  // JDBC boundary (round-9 VERDICT item 5). The reference's ACTUAL I/O edge is
  // Postgres — COPY into staging (`dags/financial_pipeline.py:39-49`) and
  // psycopg2 reads in the analysis notebook. SURVEY §1.3 deliberately re-hosts
  // the engine's tables on parquet (the right substrate at 100 TB), but the
  // boundary KIND belongs in the source layer too: any JDBC relation can be an
  // engine source or sink through Spark's built-in jdbc format. Scale levers:
  //   - reads parallelize via (partitionColumn, lowerBound, upperBound,
  //     numPartitions): one connection PER SLICE pulling a bounded range —
  //     never a single-connection full-table pull through one executor;
  //   - writes go executor-parallel, `batchsize` rows per INSERT batch;
  //   - predicates/column pruning push into the remote SQL (Catalyst emits
  //     WHERE/SELECT-list into the JDBC subquery).
  // Spec'd against embedded Derby (the JDK-local JDBC endpoint on the fixed
  // classpath): engine-over-JDBC ≡ engine-over-parquet on the staging relation.
  // ---------------------------------------------------------------------------

  /** JDBC source. `partitioning = Some((column, lower, upper, n))` splits the
    * read into n range-sliced parallel queries on a numeric column — REQUIRED
    * for any relation that doesn't fit one executor's pull.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               partitioning: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    partitioning.fold(r) { case (c, lo, hi, n) =>
      r.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** JDBC sink: executor-parallel batched INSERTs. `overwrite` is the
    * reference's truncate-and-reload (S3) at this boundary. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: String = "overwrite", batchSize: Int = 10000): Unit =
    df.write.format("jdbc").option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
      .mode(mode).save()

  /** The staging relation over a JDBC endpoint instead of CSV/parquet —
    * column-compatible with [[readStagingCsv]], so every downstream operator
    * is source-agnostic. */
  def readStagingJdbc(spark: SparkSession, url: String, table: String = "staging",
                      partitioning: Option[(String, Long, Long, Int)] = None): DataFrame =
    readJdbc(spark, url, table, partitioning)
      .select(stagingSchema.fieldNames.map(col).toSeq: _*)

  /** Parquet table loader for the driver testdata layout (`TESTDATA.md`). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` timestamp handling, adaptive to the physical layout: older
    * corpus layouts carry parquet INT64 TIMESTAMP(NANOS), which Spark only
    * reads as LongType via `spark.sql.legacy.parquet.nanosAsLong`; newer
    * layouts carry TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Either way
    * downstream code sees the SAME contract: `ts_ns` — an exact integer
    * nanosecond ordering key (no float, no precision loss) — plus a
    * microsecond TimestampType `ts` and event DateType `date` for calendar
    * logic. The NTZ→LTZ cast is instant-preserving under the engine's
    * pinned UTC session timezone.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shapeEvents(table(spark, dir, "events"))
  }

  /** Shared batch/stream shaping of a raw events relation (see [[events]]). */
  def shapeEvents(raw: DataFrame): DataFrame = {
    val shaped = raw.schema("ts").dataType match {
      case LongType => // INT64 TIMESTAMP(NANOS) read as nanos-long
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ => // TIMESTAMP(MICROS), NTZ or LTZ
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
    shaped
      .withColumn("date", col("ts").cast(DateType))
      .select(col("event_id"), col("ts_ns"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("ts"), col("date"))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Declared schema for JSONL document corpora — the interchange format
    * training-data pipelines actually exchange (one JSON object per line).
    */
  val documentsJsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("n_chars", LongType, nullable = true),
    StructField("_corrupt_record", StringType, nullable = true)
  ))

  /** JSONL document ingest with the same contract as the lenient CSV path:
    * DECLARED schema (no inference pass over 100 TB), PERMISSIVE mode, and
    * malformed lines quarantined into `_corrupt_record` instead of failing
    * the job or silently disappearing. Returns (clean rows in the documents
    * schema, quarantined raw lines). The scan is line-splittable — JSONL
    * parallelizes like CSV, one partition per split.
    */
  def readDocumentsJsonl(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val raw = spark.read
      .schema(documentsJsonlSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // corrupt-record columns must be materialized before filtering on them
    val clean = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val quarantined = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (clean, quarantined)
  }

  /** JSONL writer — the export half of the interchange contract: one JSON
    * object per line, overwrite semantics, optionally partitioned (e.g. by
    * split) so downstream consumers prune directories like the parquet path.
    */
  def writeJsonl(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w).json(path)
  }

  /** S3/S6: truncate-and-reload ≡ overwrite; materialized-view refresh ≡
    * recompute + overwrite (reference `dags/financial_pipeline.py:43,182,203-212`).
    * `partitionByCols` is the 100 TB lever: facts written partitioned by date
    * give partition pruning to every downstream time-ranged read.
    */
  def overwrite(df: DataFrame, path: String, partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w).parquet(path)
  }

  /** `overwrite`, then the table read back with `df`'s own schema, so the
    * reader runs no job to infer it from the parquet footers. A partitioned
    * table reads back with its partition columns last; `df` must have them
    * there already for the two schemas to agree.
    */
  def overwriteAndRead(df: DataFrame, path: String,
                       partitionByCols: Seq[String] = Nil): DataFrame = {
    require(df.columns.takeRight(partitionByCols.size).toSeq == partitionByCols,
      s"partition columns ${partitionByCols.mkString(",")} must come last in ${df.columns.mkString(",")}")
    overwrite(df, path, partitionByCols)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** `df` with `aggs` observed on it, and the reader of their one row (with
    * no `aggs`, of the row count). The row is taken by the action that first
    * runs `df` (a cache materialization, a checkpoint, a write), so it costs
    * no job of its own; that action must run all of `df`. Spark hands
    * observed metrics to the listener bus after the action returns, so the
    * reader drains the bus when the row has not arrived yet, and then throws
    * if no action has run `df` (where `Observation.get` would block for
    * ever). When the action's plan had the observed node pruned away
    * (adaptive execution drops the subtrees it finds empty at run time), the
    * observation arrives without a value, and the reader computes `aggs`
    * over `df` itself, an extra job that it logs as a WARN naming the
    * observation and its aggregates. The drain is logged at INFO: Spark
    * completes an observation only from a listener on that bus, so a reader
    * that runs right after its action, as the pipeline's gate does after
    * its checkpoint, drains on every healthy run.
    */
  private[graft] def observedCount(df: DataFrame, aggs: Column*): (DataFrame, () => Row) = {
    val observed = if (aggs.isEmpty) Seq(count(lit(1)).as("n")) else aggs
    val obs = Observation()
    lazy val what = s"observedCount: observation ${obs.name} (${observed.mkString(", ")})"
    val log = org.apache.log4j.Logger.getLogger(getClass)
    (df.observe(obs, observed.head, observed.tail: _*), () => {
      if (!obs.future.isCompleted) {
        log.info(s"$what had not arrived when read; draining the listener bus")
        org.apache.spark.sql.graft.SqlShim.drainListenerBus(df.sparkSession)
      }
      obs.future.value.map(_.get) match {
        case Some(row) if row.length > 0 => row
        case Some(_) =>
          log.warn(s"$what arrived empty, its node pruned from the plan; recomputing it over the relation")
          df.agg(observed.head, observed.tail: _*).head()
        case None => throw new IllegalStateException(
          s"$what read before any action ran its relation")
      }
    })
  }

  /** Incremental materialized-view refresh: dynamic partition overwrite
    * replaces ONLY the partitions present in `df`, leaving every other
    * partition's files untouched. The 100 TB refresh lever the reference's
    * full-recompute REFRESH lacks: a daily run rewrites one day/year
    * partition, not the whole history. (Static overwrite — the plain
    * `overwrite` above — would truncate the entire table first.)
    */
  def overwritePartitions(df: DataFrame, path: String, partitionByCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionByCols: _*)
      .parquet(path)

  /** Root directory of the [[materializedPath]] store (MVs, bucketed MVs,
    * gate splits): the `SPARK_GRAFT_MV_DIR` environment variable when set
    * (the cluster deployment points this at the shared object-storage
    * prefix the derived relations live in, next to the tables), falling
    * back to tmpdir/graft_mv for the single-host case. The env accessor is
    * injectable so the resolution rule itself is unit-pinned.
    */
  def mvRoot(env: String => Option[String] = sys.env.get): java.nio.file.Path =
    java.nio.file.Paths.get(env("SPARK_GRAFT_MV_DIR").getOrElse(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_mv").toString))

  /** Fingerprint of a source file set: SHA-256 over the absolute srcPath
    * plus every file's (srcPath-RELATIVE path, size, mtime) — relative, not
    * just the leaf name, so two structurally different source trees whose
    * leaf names coincide can never alias one fingerprint; absolute-rooted,
    * so two different corpora never share an MV. 16 hex chars. */
  def mvFingerprint(srcPath: java.nio.file.Path): String = {
    import java.nio.file.Files
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(srcPath.toString.getBytes("UTF-8"))
    // relativize against the directory containing the source set (srcPath
    // itself when a directory, its parent when a single file)
    val base = if (Files.isDirectory(srcPath)) srcPath else srcPath.getParent
    val walk = Files.walk(srcPath)
    try walk.filter(p => Files.isRegularFile(p))
      .sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
      .forEach { p =>
        md.update(s"${base.relativize(p)}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}\n"
          .getBytes("UTF-8"))
      }
    finally walk.close()
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Per-(name, fingerprint) build monitors: two DIFFERENT entries may
    * build concurrently in one JVM, while two threads racing to the SAME
    * entry serialize to one build. */
  private val mvLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Grace period of the store's sweep (see [[vacuumMvs]]): how long a
    * superseded entry survives its `_SUPERSEDED` stamp, and how long a
    * build temp may go without a new file before it counts as crashed. */
  val MvVacuumGraceMs: Long = 3600000L

  /** Sweep the superseded fingerprints and crashed build temps of store
    * entry `name` under [[mvRoot]]; [[materializedPath]] runs it after each
    * publish. Returns the deleted directory names. `graceMs` and `nowMs`
    * are injectable so the rules are unit-pinned.
    *
    *   - A published sibling `<name>_<fp>` with fp != `keepFp` is STAMPED
    *     `_SUPERSEDED` on first sighting and deleted on a later sweep once
    *     the stamp is older than `graceMs`, so a reader that resolved the
    *     old path keeps it for the grace period. A resolve of that entry
    *     deletes the stamp ([[materializedPath]]), which restarts the count.
    *   - A sibling without `_SUCCESS` is deleted at once: paths are handed
    *     out only after the `_SUCCESS` check, so no reader holds it.
    *   - A build temp `.<name>_<fp>.tmp-*` is live while its NEWEST file is
    *     younger than `graceMs`, and deleted after that. A slow build keeps
    *     writing part files long after its directory's own mtime stops
    *     moving, so the directory mtime alone is not a liveness signal.
    */
  def vacuumMvs(name: String, keepFp: String,
                graceMs: Long = MvVacuumGraceMs,
                nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    import java.nio.file.Files
    val root = mvRoot()
    if (!Files.isDirectory(root)) return Nil
    val published = ("^" + java.util.regex.Pattern.quote(name + "_") + "[0-9a-f]{16}$").r
    val buildTemp = ("^" + java.util.regex.Pattern.quote(s".${name}_") +
      "[0-9a-f]{16}\\.tmp-").r
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val listing = Files.list(root)
    try listing.forEach { p =>
      val fn = p.getFileName.toString
      val dead =
        if (published.findFirstIn(fn).isDefined && fn != s"${name}_$keepFp") {
          val stamp = p.resolve("_SUPERSEDED")
          if (!Files.exists(p.resolve("_SUCCESS"))) true
          else if (!Files.exists(stamp)) {
            Files.write(stamp, nowMs.toString.getBytes("UTF-8")); false
          } else nowMs - scala.util.Try(new String(Files.readAllBytes(stamp),
            "UTF-8").trim.toLong).getOrElse(0L) >= graceMs
        } else buildTemp.findFirstIn(fn).isDefined &&
          nowMs - newestMtimeMs(p, nowMs) >= graceMs
      if (dead) { deleteRecursively(p); deleted += fn }
    } finally listing.close()
    deleted.toSeq
  }

  /** Newest mtime in a directory tree. A file or directory that cannot be
    * read (a concurrent sweep may be deleting the tree) counts as
    * `fallbackMs`, i.e. young: the sweep skips it and a later one collects
    * it once the other sweep is gone. */
  private def newestMtimeMs(p: java.nio.file.Path, fallbackMs: Long): Long = {
    import java.nio.file.Files
    scala.util.Try {
      val walk = Files.walk(p)
      try walk.mapToLong(q =>
          scala.util.Try(Files.getLastModifiedTime(q).toMillis)
            .getOrElse(fallbackMs))
        .max.orElse(Files.getLastModifiedTime(p).toMillis)
      finally walk.close()
    }.getOrElse(fallbackMs)
  }

  /** Publish a built MV temp directory to its final path. ATOMIC_MOVE is the
    * happy path; the catch discriminates (ADVICE r14 — the old blanket
    * FileSystemException catch discarded a good build on ANY move failure):
    *   - target-exists failures mean another JVM published between our check
    *     and the move — theirs wins (both built the same deterministic
    *     relation), ours is discarded;
    *   - a filesystem without atomic rename falls back to a plain move (the
    *     lock + `_SUCCESS` re-check still guard readers on such a host);
    *   - anything else (transient IO, permissions) PROPAGATES instead of
    *     masquerading as a lost race with a misleading "publish failed".
    */
  private def publishMv(tmp: java.nio.file.Path, mv: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption, FileAlreadyExistsException,
      DirectoryNotEmptyException, AtomicMoveNotSupportedException}
    try Files.move(tmp, mv, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: FileAlreadyExistsException | _: DirectoryNotEmptyException =>
        deleteRecursively(tmp)
      case _: AtomicMoveNotSupportedException =>
        try Files.move(tmp, mv)
        catch {
          case _: FileAlreadyExistsException =>
            deleteRecursively(tmp)
          case _: DirectoryNotEmptyException
              if Files.exists(mv.resolve("_SUCCESS")) =>
            // genuine lost race: a competing publish landed between our
            // existence check and the move — theirs wins
            deleteRecursively(tmp)
          case _: DirectoryNotEmptyException =>
            // NOT a race (ADVICE r15): on a host whose mvRoot spans file
            // stores, a plain move of a non-empty directory throws this
            // even with no competitor. Copy to a STAGING sibling on the
            // TARGET store first and rename from there — copying directly
            // into `mv` would leave a long markerless window at the
            // published path during which a competing JVM (mvLocks is
            // JVM-local) could sweep the partial and interleave its own
            // part files with ours under one eventual `_SUCCESS`. The stage
            // name follows the `.{name}_{fp}.tmp-*` builder-temp convention
            // so a crashed copy is vacuumed by the existing mtime-graced
            // sweep.
            val stage = mv.resolveSibling(
              s".${mv.getFileName}.tmp-stage-${java.util.UUID.randomUUID()}")
            try {
              copyRecursively(tmp, stage)
              try Files.move(stage, mv)
              catch {
                case _: FileAlreadyExistsException |
                     _: DirectoryNotEmptyException
                    if Files.exists(mv.resolve("_SUCCESS")) =>
                  // a competitor published while we staged — theirs wins
                  deleteRecursively(stage)
                case _: FileAlreadyExistsException |
                     _: DirectoryNotEmptyException =>
                  // ADVICE r16: a MARKERLESS partial at `mv` (left by a
                  // pre-fix crashed direct copy) is NOT a lost race —
                  // vacuumMvs never sweeps a markerless dir of the CURRENT
                  // fingerprint, so discarding our staged copy here would
                  // permanently starve every future publish of this
                  // name+fingerprint. Capture the partial by ATOMIC RENAME
                  // to a trash sibling — never delete in place (round-17
                  // review: a competitor's complete publish landing between
                  // the `_SUCCESS` check and an in-place recursive delete
                  // would be half-destroyed under a live reader; the rename
                  // either captures the whole directory or fails). If the
                  // capture raced a competitor, the re-check sees their
                  // marker and yields; if the capture itself grabbed a
                  // publish that completed in the window, our identical
                  // deterministic relation replaces it atomically below.
                  val trash = mv.resolveSibling(
                    s".${mv.getFileName}.tmp-trash-${java.util.UUID.randomUUID()}")
                  scala.util.Try(Files.move(mv, trash)): Unit
                  if (Files.exists(trash.resolve("_SUCCESS"))) {
                    // ADVICE r17: the capture grabbed a COMPLETE publish — a
                    // competitor's `_SUCCESS` landed between our markerless
                    // check and the trash rename. Deleting it would open a
                    // no-publish window (a concurrent cross-JVM reader
                    // mid-scan hits FileNotFound even though content would
                    // self-heal); restore it by atomic rename instead — the
                    // relation is deterministic, so theirs ≡ ours.
                    // ADVICE r18: if the restore move fails for a TRANSIENT
                    // reason (not a competitor republish — mv still has no
                    // _SUCCESS) while trash still holds the complete
                    // publish, deleting trash and re-staging reopens the
                    // no-publish window the restore exists to close. Retry
                    // the restore once, and log if it still fails (content
                    // is deterministic, so the subsequent own-stage publish
                    // keeps the outcome correct either way).
                    if (scala.util.Try(Files.move(trash, mv)).isFailure &&
                        Files.exists(trash.resolve("_SUCCESS")) &&
                        !Files.exists(mv.resolve("_SUCCESS")) &&
                        scala.util.Try(Files.move(trash, mv)).isFailure)
                      org.apache.log4j.Logger.getLogger(getClass).warn(
                        s"publishMv: restore of captured complete publish " +
                          s"$trash -> $mv failed twice; discarding trash and " +
                          "republishing own stage (deterministic content)")
                    if (Files.exists(trash)) deleteRecursively(trash)
                  } else deleteRecursively(trash)
                  if (Files.exists(mv.resolve("_SUCCESS")))
                    deleteRecursively(stage) // competitor (re)published meanwhile
                  else {
                    try Files.move(stage, mv)
                    catch {
                      case _: FileAlreadyExistsException |
                           _: DirectoryNotEmptyException
                          if Files.exists(mv.resolve("_SUCCESS")) =>
                        deleteRecursively(stage)
                    }
                  }
              }
            } catch {
              case e: Throwable => deleteRecursively(stage); throw e
            }
            deleteRecursively(tmp)
        }
    }
  }

  /** Depth-first tree copy for [[publishMv]]'s cross-file-store fallback —
    * the only publish path that cannot rename; the destination is a private
    * staging sibling, renamed into place once the copy (marker LAST) is
    * complete. File mtimes are copied too: the gate splits stamp them to
    * fix the file-source ingest order. */
  private[graft] def copyRecursively(from: java.nio.file.Path,
                                     to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    Files.createDirectories(to)
    val l = Files.list(from)
    val (markers, rest) =
      try l.iterator().asScala.toVector.partition(_.getFileName.toString == "_SUCCESS")
      finally l.close()
    (rest ++ markers).foreach { p =>
      val t = to.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) copyRecursively(p, t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** The store of source-fingerprinted scratch relations: every derived
    * relation that is a pure function of a source file set (the MVs, the
    * bucketed MVs, the streaming gates' file splits, the format and
    * compaction gates' copies) is built here once per (source fingerprint,
    * `name`) and found again by any later call, in this JVM or another.
    *
    *   - Layout: `mvRoot()/<name>_<fp>`, fp = [[mvFingerprint]] of
    *     `srcPath`. `SPARK_GRAFT_MV_DIR` (see [[mvRoot]]) moves all of them,
    *     the gate splits included.
    *   - Lock: one monitor per (name, fp); racing threads build once,
    *     different entries build in parallel.
    *   - Publish: `write` fills a private temp `<name>_<fp>` inside the
    *     hidden staging directory `.<name>_<fp>.tmp-<uuid>` (it may stamp
    *     mtimes or add files before the rename; it must leave a `_SUCCESS`
    *     marker, as Spark's writers do), which [[publishMv]] renames into
    *     place. The temp's own name is not hidden: Spark ignores a `.`- or
    *     `_`-prefixed leaf, so a writer that resolves its output as a
    *     relation (the bucketed MVs' `saveAsTable`) would find no files.
    *     Two JVMs racing to publish the same entry keep one copy; both
    *     built the same deterministic relation. The marker is checked
    *     after publish, a markerless directory at the path is rebuilt, and
    *     `refresh` rebuilds anyway. The staging directory is deleted
    *     whether the build succeeds or throws. After a publish,
    *     `published` runs under the lock (catalog and listing-cache
    *     invalidation), then [[vacuumMvs]] sweeps `name`.
    *   - Liveness: a build temp is live while its newest file is younger
    *     than [[MvVacuumGraceMs]] (see [[vacuumMvs]]).
    *   - Two sources under one name: the fingerprint covers the absolute
    *     source path, so two corpora get two entries. A publish for one
    *     stamps the other `_SUPERSEDED`, and every resolve of an entry
    *     deletes its stamp. An entry is deleted only after going a full
    *     grace period unresolved while another fingerprint of its name
    *     publishes.
    */
  private[graft] def materializedPath(srcPath: java.nio.file.Path, name: String,
                                      refresh: Boolean = false,
                                      published: java.nio.file.Path => Unit = _ => ())
                                     (write: java.nio.file.Path => Unit)
      : java.nio.file.Path = {
    import java.nio.file.Files
    val fp = mvFingerprint(srcPath)
    val root = mvRoot()
    val mv = root.resolve(s"${name}_$fp")
    mvLocks.computeIfAbsent(s"${name}_$fp", _ => new Object).synchronized {
      if (refresh || !Files.exists(mv.resolve("_SUCCESS"))) {
        val staging = root.resolve(s".${name}_$fp.tmp-${java.util.UUID.randomUUID()}")
        val tmp = staging.resolve(mv.getFileName)
        try {
          write(tmp)
          // re-checked: another JVM may have published since the check above
          if (Files.exists(mv) && (refresh || !Files.exists(mv.resolve("_SUCCESS"))))
            deleteRecursively(mv)
          publishMv(tmp, mv)
        } finally deleteRecursively(staging)
        require(Files.exists(mv.resolve("_SUCCESS")), s"MV publish failed: $mv")
        published(mv)
        vacuumMvs(name, fp)
      }
    }
    Files.deleteIfExists(mv.resolve("_SUPERSEDED"))
    mv
  }

  /** Source-fingerprinted materialized view: `build` runs once per distinct
    * (source file set, name) and is written as parquet to the
    * [[materializedPath]] store; a regenerated source invalidates it. The
    * train-once / probe-many lever for any expensive derived relation (edge
    * lists, k-means codebooks), and the derived relation a cluster
    * deployment would keep in object storage next to the table.
    *
    * Returns the published PATH — the stable cache key the JVM-shared
    * gate-pin layer needs (see `GraphOps`); [[fingerprintedMv]] is the
    * read-back convenience.
    */
  def fingerprintedMvPath(spark: SparkSession, srcPath: java.nio.file.Path,
                          name: String, refresh: Boolean = false)
                         (build: => DataFrame): java.nio.file.Path =
    // a republish under the SAME path must invalidate the JVM-shared
    // FileStatusCache, or later scans serve the stale file list
    materializedPath(srcPath, name, refresh,
      published = mv => spark.catalog.refreshByPath(mv.toString))(
      tmp => build.write.mode("overwrite").parquet(tmp.toString))

  /** [[fingerprintedMvPath]] + parquet read-back — the common-case API. */
  def fingerprintedMv(spark: SparkSession, srcPath: java.nio.file.Path,
                      name: String, refresh: Boolean = false)
                     (build: => DataFrame): DataFrame =
    spark.read.parquet(fingerprintedMvPath(spark, srcPath, name, refresh)(build).toString)

  /** Session-catalog table name for a published bucketed MV fingerprint. */
  private def bucketedTableName(name: String, fp: String): String =
    s"graft_mv_${name}_$fp"

  /** BUCKETED variant of [[fingerprintedMvPath]] — the standing-index
    * layout for INCREMENTAL maintenance: the relation is written as a
    * bucketed parquet table (`bucketBy` on `bucketCols`, `sortBy` on
    * `sortCols`, ONE file per bucket via an explicit pre-shuffle on the
    * bucket columns) so that a later merge keyed on the bucket columns
    * joins the base side with ZERO exchange and zero sort — only the delta
    * shuffles. q217's measured economics motivated this: merge (57 s) lost
    * to rebuild (47.8 s) at 100× because BOTH paid the standing relation's
    * (u,v) shuffle; bucketed, the base pays scan-only cost every refresh.
    *
    * Stored through [[materializedPath]]. Spark's bucketed writer is
    * catalog-coupled, so the build lands via a TEMPORARY catalog table over
    * the temp path (user-located tables are external — dropping the entry
    * keeps the files). Bucket ids ride the file NAMES, so the rename
    * preserves the layout and [[bucketedMv]] re-creates a catalog entry
    * over the published location in any later session.
    */
  def bucketedMvPath(spark: SparkSession, srcPath: java.nio.file.Path,
                     name: String, nBuckets: Int,
                     bucketCols: Seq[String], sortCols: Seq[String],
                     refresh: Boolean = false,
                     oneFilePerBucket: Boolean = true)
                    (build: => DataFrame): java.nio.file.Path = {
    import org.apache.spark.sql.functions.col
    // a refresh re-publishes under the SAME fingerprint — drop the session
    // catalog entry so the next read re-lists the fresh files, AND
    // invalidate the JVM-shared FileStatusCache for the path: the listing
    // cache is keyed by path with no TTL, so without this a later scan
    // (even through a freshly created catalog entry) serves the
    // pre-refresh file list and dies FILE_NOT_EXIST — the q236 per-batch
    // republish loop hit exactly this
    def invalidate(mv: java.nio.file.Path): Unit = {
      val fp = mv.getFileName.toString.takeRight(16)
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedTableName(name, fp)}`")
      spark.catalog.refreshByPath(mv.toString)
    }
    materializedPath(srcPath, name, refresh, published = invalidate) { tmp =>
      val tmpTable =
        s"graft_tmp_${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      // pre-shuffle on the bucket columns with numPartitions = nBuckets:
      // repartition's HashPartitioning is the same murmur3+pmod the
      // bucket writer assigns by, so each task holds exactly one bucket
      // and each bucket lands in ONE file — the single-file property is
      // what lets a later scan report the per-bucket sort order
      // (multi-file buckets forfeit it and every merge re-sorts).
      // oneFilePerBucket=false skips the explicit pre-shuffle. MEASURED
      // at 100× (isolated writes from identical block-manager input): for
      // merge-shaped inputs — already partitioned compatibly with the
      // bucket spec — Spark 4's planned write enforces the bucket
      // distribution itself, so the explicit repartition DOUBLE-pays the
      // 239M-row exchange (2–3× slower write-back) and both paths land the
      // identical one-file-per-bucket layout; merge write-backs (q236's
      // republish) therefore pass false. For inputs NOT already
      // bucket-partitioned, false can yield k files per bucket
      // (spec-pinned), forfeiting the scan-reported sort that the
      // zero-sort merge plan needs — standing-MV builds keep true. Readers
      // keep bucket pruning and co-partitioning either way, and a merge
      // over multi-file buckets pays one partition-local sort, never an
      // exchange
      (if (oneFilePerBucket) build.repartition(nBuckets, bucketCols.map(col): _*)
       else build)
        .write.format("parquet")
        .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .option("path", tmp.toString)
        .saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    }
  }

  /** Per-bucket data files of a bucketed-MV publish, keyed by bucket id
    * (parsed from the file NAME — `part-…_BBBBB.c000…`). Buckets with no
    * rows have no file and map to nothing; multi-file buckets
    * (oneFilePerBucket = false) map to all their files. This is the
    * conf-independent probe-pruning surface: Spark's own bucket-filter
    * pruning only engages when the planner keeps the bucketed scan
    * (autoBucketedScan disables it for filter-only queries), whereas
    * reading the listed files by path prunes unconditionally — the q237
    * probe pattern. */
  def bucketFiles(path: java.nio.file.Path): Map[Int, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val re = "_(\\d{5})\\.".r
    val l = java.nio.file.Files.list(path)
    try l.iterator().asScala
      .map(p => p.getFileName.toString -> p.toString)
      .filter(_._1.startsWith("part-"))
      .flatMap { case (fn, f) =>
        re.findFirstMatchIn(fn).map(m => m.group(1).toInt -> f)
      }
      .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    finally l.close()
  }

  /** Remove a bucketed MV's publish and catalog entry for this source's
    * CURRENT fingerprint — the reset a maintenance-chain gate (q236) needs
    * before replaying its refresh sequence from the pristine base. No-op if
    * never published. */
  def dropBucketedMv(spark: SparkSession, srcPath: java.nio.file.Path,
                     name: String): Unit = {
    val fp = mvFingerprint(srcPath)
    val mv = mvRoot().resolve(s"${name}_$fp")
    val lock = mvLocks.computeIfAbsent(s"${name}_$fp", _ => new Object)
    lock.synchronized {
      spark.sql(s"DROP TABLE IF EXISTS `${bucketedTableName(name, fp)}`")
      if (java.nio.file.Files.exists(mv)) {
        deleteRecursively(mv)
        spark.catalog.refreshByPath(mv.toString)
      }
    }
  }

  /** Whether `name` has a `_SUCCESS`-marked publish for this source's
    * CURRENT fingerprint. Pure filesystem probe — the replay guard of the
    * chained-republish discipline below must not touch the catalog or
    * trigger a build. */
  def mvPublished(srcPath: java.nio.file.Path, name: String): Boolean =
    publishedMvPath(srcPath, name).isDefined

  /** The `_SUCCESS`-marked publish directory of `name` for this source's
    * current fingerprint, if one exists — read-only path resolution (no
    * build, no catalog). */
  def publishedMvPath(srcPath: java.nio.file.Path,
                      name: String): Option[java.nio.file.Path] = {
    val p = mvRoot().resolve(s"${name}_${mvFingerprint(srcPath)}")
    if (java.nio.file.Files.exists(p.resolve("_SUCCESS"))) Some(p) else None
  }

  /** Published step ids of a [[chainStep]] republish chain (ascending).
    * Listing-derived, so it reflects exactly the durable state a restarted
    * driver would see — never a driver-side variable. */
  def chainPublishedIds(srcPath: java.nio.file.Path,
                        chainName: String): Seq[Long] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val fp = mvFingerprint(srcPath)
    val root = mvRoot()
    if (!Files.isDirectory(root)) return Nil
    val re = ("^" + java.util.regex.Pattern.quote(chainName) +
      "_b(\\d+)_" + fp + "$").r
    val l = Files.list(root)
    try l.iterator().asScala
      .map(_.getFileName.toString)
      .flatMap(fn => re.findFirstMatchIn(fn).map(_.group(1).toLong))
      .toSeq.sorted
      .filter(id => mvPublished(srcPath, s"${chainName}_b$id"))
    finally l.close()
  }

  /** REPLAY-IDEMPOTENT bucketed republish chain (round-16 — VERDICT r15
    * items 1 & 3): one maintenance step of a standing bucketed MV driven by
    * an at-least-once batch source (Structured Streaming's `foreachBatch`,
    * or a scheduled refresh job re-run after a crash). The hazard this
    * exists to close: a bare republish-in-place is NOT idempotent — a
    * failure between the republish and the source's offset commit replays
    * the batch, and a join-form merge then ADDS the delta into a publish
    * that already contains it (silently wrong weights).
    *
    * Discipline (the `nearDupStreamWithGrowingIndex` batch-partitioned
    * index applied to merge chains): each step publishes under a
    * batchId-STAMPED name (`{chainName}_b{batchId}`), so a replayed batch
    * finds its own `_SUCCESS`-marked publish and skips the merge entirely —
    * `build` is never applied twice. The previous step is resolved from the
    * DURABLE listing (greatest published id < batchId), never a driver
    * variable, so the resolution itself survives restart; and retention
    * (dropping superseded steps) runs only AFTER the current step's publish
    * is durable, so a replay arriving post-retention still hits the skip
    * path before it could ever need the dropped predecessor. Crash points:
    * mid-build → replay rebuilds from the intact predecessor; after publish,
    * before retention → replay skips, retention re-runs (drop is a no-op on
    * missing names); after retention, before offset commit → replay skips.
    *
    * `merge` receives Some(previous step's bucketed read-back) — base-side
    * scan-only, zero exchange — or None when no prior step is published
    * (first batch: the caller merges against its own pristine base MV).
    * Cost per step: the merge's delta-sized shuffles + one base scan + the
    * bucketed write-back.
    *
    * RETENTION (round-17 — VERDICT r16 item 3): `retain` is the number of
    * `_SUCCESS`-marked publishes kept once this step is durable; older
    * steps are vacuumed. The default 2 makes the chain CONCURRENT-READER
    * safe: a reader that resolved `chainPublishedIds(...).lastOption` just
    * before a writer's republish still scans an intact directory — the
    * republish supersedes its publish but does not delete it until the
    * NEXT step lands (one full refresh interval, the natural grace
    * window). `retain = 1` is the single-reader configuration (live
    * storage = exactly one publish; the gate specs exercise its
    * replay-after-drop crash window explicitly).
    */
  def chainStep(spark: SparkSession, srcPath: java.nio.file.Path,
                chainName: String, batchId: Long, nBuckets: Int,
                bucketCols: Seq[String], sortCols: Seq[String],
                oneFilePerBucket: Boolean = true, retain: Int = 2)
               (merge: Option[DataFrame] => DataFrame): Unit = {
    require(retain >= 1, s"chainStep retain must be >= 1, got $retain")
    val stepName = s"${chainName}_b$batchId"
    val prevIds = chainPublishedIds(srcPath, chainName).filter(_ < batchId)
    if (!mvPublished(srcPath, stepName)) {
      val prev = prevIds.lastOption.map { id =>
        bucketedMv(spark, srcPath, s"${chainName}_b$id", nBuckets,
          bucketCols, sortCols)(
          sys.error(s"chain publish ${chainName}_b$id vanished mid-chain"))
      }
      bucketedMv(spark, srcPath, stepName, nBuckets, bucketCols, sortCols,
        refresh = false, oneFilePerBucket = oneFilePerBucket)(merge(prev)): Unit
    }
    prevIds.dropRight(retain - 1)
      .foreach(id => dropBucketedMv(spark, srcPath, s"${chainName}_b$id"))
  }

  /** Latest published step of a [[chainStep]] chain, bucketed read-back;
    * None when the chain has published nothing. */
  def chainLatest(spark: SparkSession, srcPath: java.nio.file.Path,
                  chainName: String, nBuckets: Int,
                  bucketCols: Seq[String], sortCols: Seq[String])
      : Option[DataFrame] =
    chainPublishedIds(srcPath, chainName).lastOption.map { id =>
      bucketedMv(spark, srcPath, s"${chainName}_b$id", nBuckets,
        bucketCols, sortCols)(
        sys.error(s"chain publish ${chainName}_b$id vanished"))
    }

  /** Drop every published step of a [[chainStep]] chain — the reset a gate
    * runs before replaying its refresh sequence from the pristine base. */
  def resetChain(spark: SparkSession, srcPath: java.nio.file.Path,
                 chainName: String): Unit =
    chainPublishedIds(srcPath, chainName)
      .foreach(id => dropBucketedMv(spark, srcPath, s"${chainName}_b$id"))

  /** [[bucketedMvPath]] + catalog read-back: the returned DataFrame scans
    * with the bucket spec attached, so joins/aggregates keyed on (a superset
    * of) `bucketCols` see HashPartitioning and plan no exchange on this
    * side. Reading the same files by PATH instead (plain
    * `spark.read.parquet`) is always safe — it just forfeits the layout.
    *
    * The per-bucket SORT is additionally exploitable (the merge join's base
    * side plans neither exchange NOR sort — spec-pinned in BucketingSpec)
    * when the session sets
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`: since
    * Spark 3.0 the scan only reports its order under that conf because the
    * check lists files at planning time; this facility guarantees the
    * one-file-per-bucket layout the conf's cost warning is about, so merge
    * sessions should set it. Without it the base pays a partition-local
    * sort — still zero exchanges. */
  def bucketedMv(spark: SparkSession, srcPath: java.nio.file.Path,
                 name: String, nBuckets: Int,
                 bucketCols: Seq[String], sortCols: Seq[String],
                 refresh: Boolean = false,
                 oneFilePerBucket: Boolean = true)
                (build: => DataFrame): DataFrame = {
    val mv = bucketedMvPath(spark, srcPath, name, nBuckets, bucketCols,
      sortCols, refresh, oneFilePerBucket)(build)
    val fp = mv.getFileName.toString.takeRight(16)
    val tbl = bucketedTableName(name, fp)
    val lock = mvLocks.computeIfAbsent(s"${name}_$fp", _ => new Object)
    lock.synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        val schema = spark.read.parquet(mv.toString).schema.toDDL
        spark.sql(
          s"""CREATE TABLE `$tbl` ($schema) USING PARQUET
             |CLUSTERED BY (${bucketCols.mkString(", ")})
             |SORTED BY (${sortCols.mkString(", ")})
             |INTO $nBuckets BUCKETS
             |LOCATION '${mv.toUri}'""".stripMargin)
      }
    }
    // the resolved-relation cache (file listing included) is PER SESSION,
    // and a refresh may have been published by a DIFFERENT session — e.g.
    // the q236 maintenance loop republishes from the streaming clone, whose
    // DROP TABLE/refreshByPath can't reach this session's cache, leaving a
    // deleted file list live here (measured: FILE_NOT_EXIST on the gate's
    // final read). Re-listing ≤nBuckets files per read-back is noise next
    // to any scan, so validate unconditionally.
    spark.catalog.refreshTable(s"`$tbl`")
    spark.table(tbl)
  }
}
