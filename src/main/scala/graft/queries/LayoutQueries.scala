package graft.queries

import graft.functions.Fx._
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Table layout, file formats, schema evolution and versioned tables. */
object LayoutQueries {

  /** Morton bit-interleave as unrolled SQL arithmetic (q132): x in even bit
    * positions, y in odd — terms occupy disjoint bits, so `+` ≡ bitwise OR,
    * mirroring `Layout.zValue`'s shift/mask/or fold exactly.
    */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  val specs: Seq[QuerySpec] = Seq(
    // Z-order (Morton) layout: bit-interleaved (user, minute-of-day) key as
    // one unrolled codegen'd integer expression; the per-cell envelope
    // profile IS the pruning property — every coarse z-cell bounds both
    // dimensions (LayoutSpec measures actual file-skip rates on disk)
    QuerySpec("q132_zorder_profile", (s, dir) => Layout.zorderProfile(s, dir),
      // Morton interleave replayed as plain integer arithmetic: the unrolled
      // shift/mask terms occupy disjoint bits, so + ≡ bitwise OR
      Sql(s"""
WITH e AS (
  SELECT user_id AS x, CAST(hour(ts) * 60 + minute(ts) AS BIGINT) AS y FROM events
), z AS (
  SELECT x, y, ${zInterleaveSql("x", "y", 11)} AS z FROM e
)
SELECT z >> 14 AS cell, count(*) AS n,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM z GROUP BY 1 ORDER BY 1""")),
    // FORMAT BOUNDARY: orders through parquet → ORC → JSONL (declared
    // schemas on every read — no inference scans), aggregate on the JSONL
    // end; oracle reads the ORIGINAL parquet. Hash equality proves both
    // hops lossless (decimal-exact sums, µs timestamps, distinct keys)
    QuerySpec("q135_format_roundtrip", (s, dir) => graft.sources.Formats.roundtripGate(s, dir),
      // the oracle never sees ORC/JSONL — it reads the source parquet; the
      // engine side aggregates the far end of the two-hop format chain
      Sql("""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price,
       min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
       max(strftime(o_orderdate, '%Y-%m-%d')) AS last_date,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders GROUP BY 1 ORDER BY 1""")),
    // SMALL-FILE COMPACTION: the streaming-ingest pathology (48 tiny
    // files) rewritten by zero-shuffle split-packing (maxPartitionBytes
    // bin-pack, one output file per split); the aggregate runs on the
    // compacted copy, the oracle on the original relation
    QuerySpec("q136_compaction", (s, dir) => Layout.compactionGate(s, dir),
      // the oracle reads the pristine events relation; the engine reads its
      // fragmented-then-compacted copy
      Sql("""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS sum_value
FROM events GROUP BY 1 ORDER BY 1""")),
    // VERSIONED TABLE (MVCC): immutable version dirs + atomic pointer swap
    // — the scale-correct evolution of the reference's truncate-and-reload
    // (S3): snapshot isolation, O(1) rollback, vacuum. The gate pins v1
    // AND the published latest from the same path after a rolled-back +
    // vacuumed bad write
    QuerySpec("q138_versioned_table", (s, dir) => graft.sources.Versioned.versionGate(s, dir),
      // the two snapshot constructions restated over the source relation
      Sql("""
SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price
FROM orders WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0
FROM orders
ORDER BY version""")),
    // CHANGE DATA FEED: bag-semantics diff (exceptAll) between versions,
    // inserts/deletes profiled; construction makes the exact feed knowable
    QuerySpec("q139_version_changes", (s, dir) => graft.sources.Versioned.changesGate(s, dir),
      // v1 -> v2 adds back exactly the o_orderkey % 3 = 0 rows; no deletes
      Sql("""
SELECT 'insert' AS _change, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
FROM orders WHERE o_orderkey % 3 = 0
GROUP BY o_orderstatus
ORDER BY _change, o_orderstatus""")),
    // MERGE INTO a versioned table: one keyed change batch (updates,
    // deletes, inserts under an _op column) applied by a single full-outer
    // join and committed as a new version — the lakehouse upsert; readers
    // of the old snapshot untouched until the atomic publish
    QuerySpec("q147_versioned_merge", (s, dir) => graft.sources.Versioned.mergeGate(s, dir),
      // the MERGE batch replayed set-algebraically over the source
      Sql("""
WITH kept AS (
  SELECT * FROM orders WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 <> 0
), up AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
), ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
         'X' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0
), final AS (
  SELECT * FROM kept UNION ALL SELECT * FROM up UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM final GROUP BY 1 ORDER BY 1""")),

    // WRITE-AUDIT-PUBLISH: staged version -> audit -> atomic publish (or
    // vacuum on failure) — the Iceberg/Delta WAP workflow over the
    // versioned table. The gate's construction stages a CORRUPT batch
    // whose audit fails (discarded, latest untouched) then a valid batch
    // that publishes; hash equality with the good-batch-only oracle proves
    // the corrupt stage never leaked into the published snapshot.
    QuerySpec("q171_wap", (s, dir) => graft.sources.Versioned.wapGate(s, dir),
      // only the AUDITED, published batch: baseline repriced on %3 keys
      Sql("""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CASE WHEN o_orderkey % 3 = 0
                                THEN o_totalprice + 10.0
                                ELSE o_totalprice END AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys
FROM orders GROUP BY 1 ORDER BY o_orderstatus""")),

    // PARTITION-PRUNED COPY-ON-WRITE MERGE: the q155 scale refinement —
    // the versioned table laid out in 16 key-hash bucket dirs; a merge
    // rewrites ONLY buckets containing batch keys and hard-links the rest
    // forward, so a small batch against a huge table costs O(touched
    // buckets), not a full rewrite. Gate: full LWW collapse (v1) + a
    // sparse adjustment batch (v2, users %97) through the pruned path.
    QuerySpec("q166_cow_merge", (s, dir) =>
      graft.sources.Versioned.bucketedMergeGate(s, dir),
      // both merges replayed: last event per user, %97 users replaced by
      // the adjustment row, error-tombstoned users filtered unless adjusted
      Sql("""
WITH last AS (
  SELECT user_id, event_type, value, epoch_ns(ts) AS ts_ns,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
), base AS (
  SELECT user_id, ts_ns, event_type, value FROM last WHERE rk = 1
), mx AS (SELECT max(epoch_ns(ts)) AS m FROM events)
SELECT user_id,
       CASE WHEN user_id % 97 = 0 THEN (SELECT m FROM mx) + 1000 ELSE ts_ns END AS ts_ns,
       CASE WHEN user_id % 97 = 0 THEN 'adjust' ELSE event_type END AS event_type,
       CASE WHEN user_id % 97 = 0 THEN 0.5 ELSE value END AS value
FROM base
WHERE user_id % 97 = 0 OR event_type <> 'error'
ORDER BY user_id""")),

    // SCHEMA EVOLUTION: a pre-column generation and a post-column
    // generation of the orders layout read as ONE relation via mergeSchema
    // (the read-side union schema — the only viable path when backfilling
    // a column would rewrite petabytes); old rows surface NULL, coalesced
    // to 'legacy' so the gate never depends on engine NULL ordering
    QuerySpec("q156_schema_evolution", (s, dir) => {
      graft.sources.Formats.ordersTwoGenerations(s, dir)
        .groupBy(col("o_orderstatus"),
          coalesce(col("o_priority_class"), lit("legacy")).as("priority_class"))
        .agg(count(lit(1)).as("n_orders"),
          rd(exactSum(col("o_totalprice")), 4).as("total_price"))
        .orderBy("o_orderstatus", "priority_class")
    },
      // the evolution replayed as a UNION ALL over the source relation
      Sql("""
WITH m AS (
  SELECT o_orderstatus, 'legacy' AS priority_class, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderstatus,
         CASE WHEN o_totalprice >= 200000.0 THEN 'high' ELSE 'std' END,
         o_totalprice
  FROM orders WHERE o_orderkey % 2 <> 0
)
SELECT o_orderstatus, priority_class, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price
FROM m GROUP BY 1, 2 ORDER BY 1, 2""")),

    // REPRODUCIBLE SHARD MANIFEST: the deterministic hash-sharding a
    // training run uses to split a corpus across workers — shard =
    // md5(doc_id) mod 16 (engine-independent, rerun-stable), manifest =
    // per-shard doc count, char volume, and an order-free content checksum.
    // One map-side-combinable aggregate; the manifest is what makes a
    // 100 TB re-shard auditable without re-reading the data.
    QuerySpec("q157_shard_manifest", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 0)
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), h.as("h"))
        .groupBy((col("h") % 16).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("h").cast(dec)).as("checksum"))
        .select(col("shard"), col("n_docs"), col("n_chars"),
          col("checksum").cast("string").as("checksum"))
        .orderBy("shard")
    },
      Sql("""
WITH h AS (
  SELECT n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents
)
SELECT CAST(h % 16 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(CAST(h AS DECIMAL(30,0))) AS VARCHAR) AS checksum
FROM h GROUP BY 1 ORDER BY shard"""))
  )
}
