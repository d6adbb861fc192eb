package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface of the engine. The reference has no
  * streaming at all (SURVEY.md §2.10 — its "CDC" is incremental batch over
  * staged files), so this module is green-field Spark design: the SAME
  * transformations used by the batch queries (tumbling windows = q18, dedup =
  * CDC snapshot) run under `readStream` with watermarks bounding state.
  *
  * Everything below returns plans, not started queries — callers pick sink,
  * trigger, and checkpoint location (those are deployment decisions).
  */
object Streams {

  /** The events table under `readStream`: a file stream over `dir` whose
    * schema is its files' footer (streaming needs one up front; memoized by
    * [[graft.core.Tables.fileSchema]]), with `ts` normalized as the batch
    * loader does it, so either physical form of events.ts streams. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    graft.core.Tables.normalizeEventTs(spark.readStream
      .schema(graft.core.Tables.fileSchema(spark, dir)).parquet(dir))

  /** The q18 aggregate — events per (1-hour tumbling window, event type),
    * the count and the decimal(18,2) sum of `value` — written once for the
    * batch query and its streaming twin. The watermark bounds window state
    * under `readStream` (windows older than it are finalized and evicted);
    * Spark drops it from a batch plan (EliminateEventTimeWatermark). Epoch
    * seconds keep the oracle exact. */
  def tumblingStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("window_epoch"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming dedup by key within the watermark horizon — the streaming
    * form of the CDC latest-per-key snapshot. State is bounded: a key's
    * entry is dropped once the watermark passes it. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "2 hours"): DataFrame = {
    require(keys.nonEmpty, "dedupWithinWatermark needs at least one key " +
      "column (keyless streaming dedup would collapse the stream to one " +
      "row per watermark horizon — state it explicitly if that's intended)")
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  /** Stream-stream interval join: `probe` rows match `build` rows of the
    * same key whose event time falls within [probe.ts, probe.ts + within].
    * Both sides carry watermarks, so join state is bounded: a buffered row
    * is evicted once the other side's watermark passes its eligibility
    * window — the non-negotiable ingredient for an unbounded join at scale.
    * Column names must be disambiguated by the caller (prefix one side). */
  def intervalJoin(probe: DataFrame, build: DataFrame,
                   probeKey: String, buildKey: String,
                   probeTs: String, buildTs: String,
                   within: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    val p = probe.withWatermark(probeTs, watermark)
    val b = build.withWatermark(buildTs, watermark)
    p.join(b, expr(
      s"$probeKey = $buildKey AND " +
        s"$buildTs >= $probeTs AND $buildTs <= $probeTs + interval $within"))
  }

  /** Partition column of an [[upsertSink]] target: key-hash bucket. Readers
    * that want the original schema back drop it. */
  val UpsertBucketCol = "_kb"

  /** Micro-batch CDC upsert sink (`foreachBatch`): every micro-batch merges
    * into a parquet target by PK, newest `orderCol` wins — streaming upsert
    * without a table format. The target is laid out as parquet partitioned
    * by `_kb = pmod(xxhash64(pks), numBuckets)`, so a micro-batch merges
    * ONLY the key-hash partitions its rows land in: untouched partitions are
    * neither read (partition pruning on `_kb IN (...)`) nor rewritten
    * (dynamic partition overwrite replaces exactly the partitions present in
    * the merged output). Per-batch cost is O(|touched partitions|), not
    * O(|target|) — the property a table-format MERGE gives you, recovered on
    * plain parquet. At warehouse scale a Delta/Iceberg MERGE still wins
    * (row-level deletes, concurrent writers); the resolution logic
    * ([[graft.warehouse.Cdc.snapshot]]) is identical. */
  def upsertSink(stream: DataFrame, targetDir: String, checkpointDir: String,
                 pks: Seq[String], orderCol: String, numBuckets: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, targetDir, pks, orderCol, numBuckets)
      }

  private def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Bucket-count marker: the target layout is a function of `numBuckets`,
    * so a restart with a different value would hash keys into different
    * partitions and silently duplicate history. The count is pinned in a
    * marker file and validated every batch. */
  private def bucketMarker(targetDir: String) = s"$targetDir/.graft_buckets"

  /** Complete a COMMITTED staged merge: remove any pre-migration flat
    * files, swap every staged partition dir in, drop the staging dir.
    * Re-entrant — each step is individually idempotent, so a crash at any
    * point is healed by running it again: a staged partition survives until
    * its rename lands, which only happens after the live counterpart is
    * gone. Rename failure (e.g. an object store refusing the copy) throws —
    * the batch fails loudly and streaming retries, rather than dropping a
    * bucket on the floor. */
  private def completeSwap(spark: SparkSession, targetDir: String,
                           staging: String): Unit = {
    import graft.sources.FsOps
    FsOps.list(spark, targetDir).foreach { case (name, isDir, _) =>
      if (!isDir && name.endsWith(".parquet")) FsOps.delete(spark, name) }
    FsOps.list(spark, staging).foreach { case (name, isDir, _) =>
      val part = baseName(name)
      if (isDir && part.startsWith(UpsertBucketCol + "=")) {
        FsOps.delete(spark, s"$targetDir/$part")
        if (!FsOps.rename(spark, name, s"$targetDir/$part"))
          throw new IllegalStateException(
            s"upsert swap: rename failed for $name -> $targetDir/$part")
      }
    }
    FsOps.delete(spark, staging)
    ()
  }

  /** The protocol's OWN commit marker inside a staging dir. The job
    * committer's `_SUCCESS` is not reliable as a commit point — clusters
    * running object-store committers commonly set
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, and under
    * that config a crash mid-swap would make recovery misread a COMMITTED
    * staging dir (holding the only copy of buckets whose live counterpart
    * was already deleted) as an uncommitted write and discard it. */
  private def stagingCommitMarker(staging: String) = s"$staging/.graft_committed"

  /** Heal interrupted batches before touching the target: a staging dir
    * with the protocol's commit marker holds the complete new state of its
    * buckets (finish its swap); one without is an uncommitted write over an
    * intact target (discard it). After this, the target is in a consistent
    * state and the replayed batch merges against correct inputs.
    *
    * A committer `_SUCCESS` file is ALSO accepted as commit evidence, for
    * one reason: a staging dir written by a pre-marker build (which used
    * `_SUCCESS` as its commit point) that crashed mid-swap may hold the
    * only copy of buckets whose live counterparts were already removed —
    * discarding it on upgrade would lose them. The asymmetry is safe:
    * `_SUCCESS` present proves the staging write job completed, and
    * completing a swap from a COMPLETE staging dir is always correct (the
    * replayed batch re-merges idempotently); `_SUCCESS` absent proves
    * nothing, which is exactly why new writes commit via the marker. */
  private def recoverPendingSwaps(spark: SparkSession, targetDir: String): Unit = {
    import graft.sources.FsOps
    FsOps.list(spark, targetDir).foreach { case (name, isDir, _) =>
      if (isDir && baseName(name).startsWith(".graft_staging_")) {
        if (FsOps.exists(spark, stagingCommitMarker(name)) ||
            FsOps.exists(spark, s"$name/_SUCCESS"))
          completeSwap(spark, targetDir, name)
        else { FsOps.delete(spark, name); () }
      }
    }
  }

  /** One micro-batch of the partition-scoped upsert — the foreachBatch body,
    * exposed so replay idempotence and crash recovery are directly testable.
    *
    * Protocol: (1) heal any interrupted previous attempt
    * ([[recoverPendingSwaps]]); (2) merge the batch with the TOUCHED
    * key-hash partitions into a HIDDEN staging dir under the target
    * (dot-prefix = invisible to FileIndex readers) — one write job, the
    * merge plan reads the old partition files directly and the repartition
    * by bucket yields ONE file per touched partition; (3) swap the staged
    * dirs in ([[completeSwap]]). The protocol's own staging commit marker
    * ([[stagingCommitMarker]], written after the staging job succeeds) is
    * the commit point: crash before it → staging discarded, target untouched,
    * replay recomputes; crash after it → recovery finishes the swap from
    * staging (which still holds any bucket whose rename hadn't landed), and
    * the replayed batch then re-merges idempotently (snapshot keeps
    * newest-per-key). Data is always present in live, staging, or both —
    * never neither.
    *
    * A legacy FLAT parquet target (pre-partitioning layout) triggers a
    * one-time MIGRATE: the whole target is merged and bucketed — pruning
    * against a flat target would read `_kb` as null and silently drop all
    * history — and the flat files are removed inside the same swap.
    *
    * SINGLE WRITER assumed (the Structured Streaming driver): the protocol
    * has no fence against a zombie driver's in-flight attempt completing a
    * stale swap after a new driver has healed and moved on — run one query
    * per target (Spark's checkpoint lock enforces this for one checkpoint
    * dir), and use a transactional table format (Delta/Iceberg) when
    * concurrent writers are a real requirement. */
  def upsertBatch(batch0: DataFrame, batchId: Long, targetDir: String,
                  pks: Seq[String], orderCol: String, numBuckets: Int): Unit = {
    import graft.sources.FsOps
    val spark = batch0.sparkSession
    // Reserved-column guard (AsOfJoin/Ranked posture): a stream whose rows
    // legitimately carry a `_kb` column would otherwise have its values
    // silently replaced by the key-hash bucket, which readers drop — user
    // data lost with no error.
    require(!batch0.columns.contains(UpsertBucketCol),
      s"column '$UpsertBucketCol' is reserved by the upsert sink's bucket " +
        "layout; rename it before upserting")
    recoverPendingSwaps(spark, targetDir)
    if (FsOps.exists(spark, bucketMarker(targetDir))) {
      val prev = FsOps.readString(spark, bucketMarker(targetDir)).trim
      require(prev == numBuckets.toString,
        s"upsert target $targetDir was written with numBuckets=$prev; " +
          s"running with numBuckets=$numBuckets would hash keys into " +
          "different partitions and duplicate history. Keep the original " +
          "value, or rebuild the target.")
    }
    val batch = batch0.withColumn(UpsertBucketCol,
      pmod(xxhash64(pks.map(col): _*), lit(numBuckets.toLong)).cast("int"))
      // Two actions read this batch (the touched-bucket collect, then the
      // merge write); without a persist each re-executes the micro-batch
      // source plan — double scan per batch on the sink's hot path. The
      // unpersist below runs before the method returns, so nothing is
      // parked in the block manager across batches.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Buckets this batch touches — bounded by numBuckets, so the collect
      // is a tiny driver-side set, never O(rows).
      val touched = batch.select(UpsertBucketCol).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        // Target layout probe, through the Hadoop FS API so hdfs://, s3a://,
        // ... resolve correctly (a java.io.File probe would read any remote
        // target as absent and silently drop history). A bare/leftover empty
        // dir (failed first batch, eager mkdir) reads as empty.
        val entries = FsOps.list(spark, targetDir)
        val hasPartDirs = entries.exists { case (name, isDir, _) =>
          isDir && baseName(name).startsWith(UpsertBucketCol + "=") }
        val hasFlat = entries.exists { case (name, isDir, size) =>
          !isDir && name.endsWith(".parquet") && size > 0 }
        val existing =
          if (hasPartDirs)
            spark.read.schema(batch.schema).parquet(targetDir)
              .where(col(UpsertBucketCol).isin(touched: _*))
          else if (hasFlat)
            spark.read.schema(batch0.schema).parquet(targetDir)
              .withColumn(UpsertBucketCol, pmod(xxhash64(pks.map(col): _*),
                lit(numBuckets.toLong)).cast("int"))
          else batch.limit(0)
        // Pin the bucket count BEFORE any write exists that depends on it:
        // writing the marker after the staging commit left a crash window
        // (staging + _SUCCESS on disk, no marker) where a restart with a
        // different numBuckets passed the guard above, completed the old
        // swap, and then hashed keys into a different layout — exactly the
        // silent duplication the marker exists to prevent. A marker with no
        // data yet is harmless: the same-value require passes on replay,
        // and rebuilding an empty target means deleting the dir anyway.
        if (!FsOps.exists(spark, bucketMarker(targetDir)))
          FsOps.putString(spark, bucketMarker(targetDir), numBuckets.toString)
        val staging = s"$targetDir/.graft_staging_$batchId"
        graft.warehouse.Cdc.snapshot(
            existing.unionByName(batch), pks, Seq(orderCol))
          .repartition(col(UpsertBucketCol))
          .write.mode("overwrite").partitionBy(UpsertBucketCol)
          .parquet(staging)
        // The protocol's own commit point — written only after the staging
        // job fully succeeded, independent of whether the cluster's
        // committer emits _SUCCESS (see stagingCommitMarker).
        FsOps.putString(spark, stagingCommitMarker(staging), batchId.toString)
        completeSwap(spark, targetDir, staging)
      }
    } finally batch.unpersist(false)
    ()
  }

  // ---- custom state: sessionization --------------------------------------

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(nEvents: Long, sumValue: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, nEvents: Long, sumValue: Double,
                              closedAtMs: Long)

  /** Per-user session aggregation with an EVENT-TIME idle gap — the
    * `flatMapGroupsWithState` pattern for state Spark's built-in windows
    * can't express (variable-length sessions). Sessions split in BOTH
    * places a gap can appear: inside the data branch (events folded in
    * event-time order; one whose ts exceeds `lastTs + gap` closes the
    * running session and opens a new one — a watermark timeout between
    * two same-user arrivals is NOT guaranteed, so relying on it alone
    * merged sessions hours apart whenever no other traffic advanced the
    * clock) and via the event-time timeout (the watermark passing
    * `lastTs + gap` closes an idle session). `closedAtMs` is always
    * `lastTs + gap` — a function of the data, not of when the watermark
    * happened to fire — so output is deterministic under replay and
    * re-batching. State is bounded by the watermark — no session
    * outlives `gap + watermarkDelay`.
    *
    * Memory bound: one (user, micro-batch) group's events are sorted
    * IN-HEAP on a single task (flatMapGroupsWithState gives no secondary
    * sort), so per-task memory is O(events of the hottest key in one
    * micro-batch) — bound it at the source (`maxFilesPerTrigger` /
    * maxOffsetsPerTrigger), and pre-split pathological keys (bots) before
    * sessionizing if a single key can exceed a task's heap share. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000,
                 watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.nEvents, s.sumValue,
              s.lastTs + gapMs))
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            // Deep-late events — accepted by the watermark but predating
            // the OPEN session by more than the gap (possible whenever
            // watermarkDelay > gap) — belong to an earlier session and
            // must NOT merge into the open one (the forward-only split
            // below would silently absorb them, inflating the session
            // past its own gap bound). They sessionize among themselves
            // and close immediately: their own gap horizon is already in
            // the past, so nothing later can legally join them.
            val (late, current) = {
              val sorted = rows.toSeq.sortBy(_.ts.getTime)
              if (cur.nEvents == 0) (Seq.empty[Event], sorted)
              else sorted.partition(_.ts.getTime <= cur.lastTs - gapMs)
            }
            if (late.nonEmpty) {
              var prior = SessionState(0L, 0.0, 0L)
              late.foreach { e =>
                val t = e.ts.getTime
                if (prior.nEvents > 0 && t > prior.lastTs + gapMs) {
                  closed += SessionOut(userId, prior.nEvents, prior.sumValue,
                    prior.lastTs + gapMs)
                  prior = SessionState(0L, 0.0, 0L)
                }
                prior = SessionState(prior.nEvents + 1, prior.sumValue + e.value,
                  math.max(prior.lastTs, t))
              }
              closed += SessionOut(userId, prior.nEvents, prior.sumValue,
                prior.lastTs + gapMs)
            }
            current.foreach { e =>
              val t = e.ts.getTime
              if (cur.nEvents > 0 && t > cur.lastTs + gapMs) {
                closed += SessionOut(userId, cur.nEvents, cur.sumValue,
                  cur.lastTs + gapMs)
                cur = SessionState(0L, 0.0, 0L)
              }
              cur = SessionState(cur.nEvents + 1, cur.sumValue + e.value,
                math.max(cur.lastTs, t))
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.lastTs + gapMs)
            closed.iterator
          }
      }
  }

  /** Run a streaming plan to completion against a memory sink and return the
    * collected result — the standard harness for asserting streaming
    * semantics in tests without a long-running query. */
  def runToMemory(plan: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    // The memory sink registers its temp view in the PLAN's session (often
    // a clone); a separately-passed session was a footgun — reading the
    // table through the wrong one threw TABLE_OR_VIEW_NOT_FOUND after the
    // query had already run, and the orphaned sink table leaked in the
    // clone.
    val spark = plan.sparkSession
    val q = plan.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Copy the (small, bounded-by-watermark) result out of the memory sink
    // and DROP the sink table immediately: the table lives in this (often
    // cloned) session's temp catalog where no outer-session cleanup can
    // reach it, and a 100+ query suite of pinned sink tables is real heap
    // accumulation. The checkpointed copy keeps the returned DataFrame
    // valid after the drop.
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }
}
