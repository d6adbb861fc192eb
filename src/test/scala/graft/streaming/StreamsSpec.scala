package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class StreamsSpec extends SparkSpec {

  /** Stage the sf0.001 events as a one-file stream source. */
  private lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft-stream").toString
    graft.core.Tables.load(spark, sf, "events")
      .coalesce(1).write.mode("overwrite").parquet(d)
    d
  }

  test("streaming tumbling window equals the batch q18 plan") {
    val stream = Streams.readEventStream(spark, streamDir)
    val got = Streams.runToMemory(Streams.tumblingStats(stream), "tumbling_test")
    val want = graft.SparkEntry.queries("q18_tumbling_window")(spark, sf)
    assert(got.schema == want.schema)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("dedupWithinWatermark keeps one row per key") {
    val stream = Streams.readEventStream(spark, streamDir)
    val got = Streams.runToMemory(Streams.dedupWithinWatermark(stream, Seq("user_id")), "dedup_test",
      OutputMode.Append())
    val users = graft.core.Tables.load(spark, sf, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(got.count() == users)
  }

  test("intervalJoin matches same-user events within the time bound") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val base = 1700000000000L
    def t(ms: Long) = new java.sql.Timestamp(ms)

    val joined = Streams.intervalJoin(
      clicks.toDS().toDF("c_user", "c_ts"),
      buys.toDS().toDF("b_user", "b_ts"),
      "c_user", "b_user", "c_ts", "b_ts", within = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ivj_test")
      .outputMode("append").start()
    try {
      clicks.addData((1L, t(base)), (2L, t(base)))
      buys.addData((1L, t(base + 60000)),        // within the hour -> match
        (2L, t(base + 2 * 3600000)),             // beyond -> no match
        (3L, t(base + 1000)))                    // no click -> no match
      q.processAllAvailable()
      val got = rows(spark.table("ivj_test"))
        .map(r => r.getAs[Long]("c_user")).sorted
      assert(got == Seq(1L))
    } finally q.stop()
  }

  test("upsertSink merges micro-batches into the parquet target by key") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val base = Files.createTempDirectory("graft_upsert")
    val target = s"$base/target"
    val q = Streams.upsertSink(
      ms.toDS().toDF("id", "payload", "version"),
      target, s"$base/ckpt", Seq("id"), "version").start()
    try {
      ms.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      ms.addData((1L, "a2", 2L), (3L, "c", 1L))
      q.processAllAvailable()
      val got = Streams.readUpsertTarget(spark, target).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
      assert(got == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    } finally q.stop()
  }

  test("upsertSink rewrites only the key-hash partitions a batch touches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val base = Files.createTempDirectory("graft_upsert_part")
    val target = s"$base/target"
    // every data file under the target, keyed by path, with full bytes —
    // the strongest "untouched" assertion is byte identity
    def dataFiles(): Map[String, Array[Byte]] = {
      val root = java.nio.file.Paths.get(target)
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.readAllBytes(p)).toMap
      finally s.close()
    }
    val nb = 64
    val q = Streams.upsertSink(
      ms.toDS().toDF("id", "payload", "version"),
      target, s"$base/ckpt", Seq("id"), "version", numBuckets = nb).start()
    try {
      ms.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      val before = dataFiles()
      // buckets the SECOND batch (ids 1, 3) will touch, via the same hash
      val t2 = spark.range(1).select(
        pmod(xxhash64(lit(1L)), lit(nb.toLong)).cast("int").as("b1"),
        pmod(xxhash64(lit(3L)), lit(nb.toLong)).cast("int").as("b3")).first()
      val touched = Set(t2.getInt(0), t2.getInt(1))
      ms.addData((1L, "a2", 2L), (3L, "c", 1L))
      q.processAllAvailable()
      val after = dataFiles()
      val untouched = before.filter { case (p, _) =>
        !touched.exists(b => p.contains(s"${Streams.UpsertBucketCol}=$b/")) }
      assert(untouched.nonEmpty, "test ids must hash to distinct buckets")
      untouched.foreach { case (p, bytes) =>
        assert(after.contains(p) && java.util.Arrays.equals(after(p), bytes),
          s"untouched partition file changed: $p") }
      val got = Streams.readUpsertTarget(spark, target).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
      assert(got == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    } finally q.stop()
  }

  test("upsertBatch is idempotent: checkpointed replay of a batch is a no-op") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_replay")
    val target = s"$base/target"
    val b1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version")
    val b2 = Seq((1L, "a2", 2L), (3L, "c", 1L)).toDF("id", "payload", "version")
    Streams.upsertBatch(b1, 0L, target, Seq("id"), "version", 16)
    Streams.upsertBatch(b2, 1L, target, Seq("id"), "version", 16)
    def state() = Streams.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("payload"), r.getAs[Long]("version"))).toMap
    val afterOnce = state()
    // failure-recovery shape: the stream dies after merging batch 1 but
    // before the checkpoint commit, so batch 1 is re-delivered verbatim
    Streams.upsertBatch(b2, 1L, target, Seq("id"), "version", 16)
    assert(state() == afterOnce)
    assert(afterOnce == Map(1L -> ("a2", 2L), 2L -> ("b", 1L), 3L -> ("c", 1L)))
  }

  test("upsertBatch heals a crash between partition delete and rename") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_crash")
    val target = s"$base/target"
    Streams.upsertBatch(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version"),
      0L, target, Seq("id"), "version", 16)
    // simulate the worst crash window: a committed staging existed, the
    // live partition was deleted, the rename never landed — move one live
    // partition dir INTO a staged dir carrying the protocol's own commit
    // marker (NOT the job committer's _SUCCESS, which object-store-
    // committer clusters may not write at all)
    val fs = graft.sources.FsOps
    val victim = fs.list(spark, target)
      .collect { case (n, true, _) if n.contains(s"${Streams.UpsertBucketCol}=") => n }
      .head
    val staging = s"$target/.graft_staging_99"
    fs.mkdirs(spark, staging)
    fs.putString(spark, s"$staging/.graft_committed", "99")
    assert(fs.rename(spark, victim,
      s"$staging/${victim.substring(victim.lastIndexOf('/') + 1)}"))
    // next batch (any batch) must first heal the interrupted swap
    Streams.upsertBatch(
      Seq((3L, "c", 1L)).toDF("id", "payload", "version"),
      1L, target, Seq("id"), "version", 16)
    val got = Streams.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(!fs.exists(spark, staging), "healed staging dir must be removed")
  }

  test("upsertBatch recovery honors a legacy _SUCCESS-only commit marker") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_legacy")
    val target = s"$base/target"
    Streams.upsertBatch(
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version"),
      0L, target, Seq("id"), "version", 16)
    // staging written by a PRE-MARKER build that crashed mid-swap: the dir
    // carries only the committer's _SUCCESS, and holds the ONLY copy of a
    // bucket whose live counterpart was already removed. Recovery must
    // finish the swap, not discard the dir (which would lose the bucket).
    val fs = graft.sources.FsOps
    val victim = fs.list(spark, target)
      .collect { case (n, true, _) if n.contains(s"${Streams.UpsertBucketCol}=") => n }
      .head
    val staging = s"$target/.graft_staging_77"
    fs.mkdirs(spark, staging)
    fs.putString(spark, s"$staging/_SUCCESS", "")
    assert(fs.rename(spark, victim,
      s"$staging/${victim.substring(victim.lastIndexOf('/') + 1)}"))
    Streams.upsertBatch(
      Seq((3L, "c", 1L)).toDF("id", "payload", "version"),
      1L, target, Seq("id"), "version", 16)
    val got = Streams.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(!fs.exists(spark, staging), "healed staging dir must be removed")
  }

  test("upsertBatch refuses a numBuckets change against an existing target") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_nb")
    val target = s"$base/target"
    Streams.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "payload", "version"),
      0L, target, Seq("id"), "version", 16)
    val e = intercept[IllegalArgumentException] {
      Streams.upsertBatch(Seq((1L, "a2", 2L)).toDF("id", "payload", "version"),
        1L, target, Seq("id"), "version", 32)
    }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("upsertBatch migrates a legacy flat target without losing history") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_migrate")
    val target = s"$base/target"
    // pre-partitioning layout: flat parquet files at the target root
    Seq((1L, "old", 1L), (2L, "keep", 5L)).toDF("id", "payload", "version")
      .coalesce(1).write.parquet(target)
    val batch = Seq((1L, "new", 2L), (3L, "c", 1L)).toDF("id", "payload", "version")
    Streams.upsertBatch(batch, 0L, target, Seq("id"), "version", 16)
    val got = Streams.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("payload"), r.getAs[Long]("version"))).toMap
    // id=2 was ONLY in the flat history and the batch didn't touch its
    // bucket — surviving proves the migrate path merged the whole target
    assert(got == Map(1L -> ("new", 2L), 2L -> ("keep", 5L), 3L -> ("c", 1L)))
    // and the flat files are gone (no double-reads)
    val rootParquet = graft.sources.FsOps.list(spark, target)
      .filter { case (n, d, _) => !d && n.endsWith(".parquet") }
    assert(rootParquet.isEmpty, s"legacy flat files must be removed: $rootParquet")
  }

  test("StreamMetrics records per-batch progress for a completed query") {
    val recorder = StreamMetrics.attach(spark)
    try {
      val stream = Streams.readEventStream(spark, streamDir)
      Streams.runToMemory(Streams.tumblingStats(stream), "metrics_probe")
      // listener bus is async — wait for the progress event to fold in
      val deadline = System.currentTimeMillis() + 20000
      var stats = recorder.snapshot.get("metrics_probe")
      while (stats.forall(_.totalRows == 0) && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); stats = recorder.snapshot.get("metrics_probe")
      }
      assert(stats.exists(_.batches >= 1), s"no progress recorded: ${recorder.snapshot}")
      val expected = graft.core.Tables.load(spark, sf, "events").count()
      assert(stats.exists(_.totalRows == expected))
      assert(stats.exists(_.totalStateRows > 0), "windowed agg should carry state")
    } finally spark.streams.removeListener(recorder)
  }

  test("upsertSink survives a mid-run kill: restart from checkpoint equals the batch oracle") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_restart")
    val src = base.resolve("in").toString
    val target = s"$base/target"
    val chk = s"$base/ckpt"
    // Same micro-batch body upsertSink wires in, plus a kill switch that
    // fires AFTER batch 1's merge lands in the target but BEFORE the
    // checkpoint commit is written — the exact window a real process kill
    // leaves behind. foreachBatch is at-least-once; the restart MUST
    // replay batch 1 against the already-merged target, and the merge's
    // replay idempotence is what upgrades the pipeline to effective
    // exactly-once.
    @volatile var killAfterBatch = -1L
    def run(): Unit = {
      val q = spark.readStream
        .schema("id LONG, payload STRING, version LONG").parquet(src)
        .writeStream
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Append)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Streams.upsertBatch(b, id, target, Seq("id"), "version", 16)
          if (id == killAfterBatch) {
            killAfterBatch = -1L
            throw new RuntimeException("induced mid-run kill")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
          if e.getMessage.contains("induced mid-run kill") => ()
      }
    }
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version")
      .coalesce(1).write.mode("append").parquet(src)
    run()
    Seq((1L, "a2", 2L), (3L, "c", 1L)).toDF("id", "payload", "version")
      .coalesce(1).write.mode("append").parquet(src)
    killAfterBatch = 1L
    run() // dies with batch 1 merged but uncommitted
    run() // restart from the checkpoint: replays batch 1, then drains
    // Batch oracle: newest version per key over ALL delivered rows,
    // computed by the batch resolution the sink embeds.
    val want = graft.warehouse.Cdc.snapshot(
        spark.read.parquet(src), Seq("id"), Seq("version"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("payload"))
      .toMap
    val got = Streams.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(got == want && want == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("AvailableNow + checkpoint ingests each file exactly once across restarts") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_incr")
    val src = base.resolve("in").toString
    val out = base.resolve("out").toString
    val chk = base.resolve("chk").toString
    def run(): Unit = {
      val q = spark.readStream.schema("id LONG, v STRING").parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    run()
    assert(spark.read.parquet(out).count() == 2)
    // second batch of files lands; the SAME checkpoint resumes and must
    // process only the new file — no reprocessing, no loss
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    run()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("id")).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"expected exactly-once ingest, got $got")
  }

  test("sessionize closes a session when the watermark passes the idle gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Streams.Event]
    val base = 1700000000000L
    def ev(id: Long, user: Long, v: Double, tsMs: Long) =
      Streams.Event(id, new java.sql.Timestamp(tsMs), user, "t", v)

    val q = Streams.sessionize(ms.toDS(), gapMs = 60000, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      ms.addData(ev(1, 100L, 1.5, base), ev(2, 100L, 2.5, base + 1000))
      q.processAllAvailable() // session open, nothing emitted yet
      // An event 1h later pushes the watermark far past user 100's gap.
      ms.addData(ev(3, 200L, 9.0, base + 3600000))
      q.processAllAvailable()
      val got = rows(spark.table("sess_test"))
        .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("nEvents"), r.getAs[Double]("sumValue")))
      assert(got.contains(100L -> (2L, 4.0)))
    } finally q.stop()
  }

  test("sessionize: a deep-late accepted event forms its own session, not a merge") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Streams.Event]
    val base = 1700000000000L
    def ev(id: Long, user: Long, v: Double, tsMs: Long) =
      Streams.Event(id, new java.sql.Timestamp(tsMs), user, "t", v)
    // watermarkDelay (2h) >> gap (1 min): an event 90 min older than the
    // open session is ACCEPTED by the watermark but predates the session
    // by more than the gap — pre-fix the forward-only split silently
    // absorbed it into the open session (one "session" spanning 1.5h).
    val q = Streams.sessionize(ms.toDS(), gapMs = 60000,
        watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sess_late_test")
      .outputMode("append").start()
    try {
      ms.addData(ev(1, 100L, 1.0, base))
      q.processAllAvailable() // session open at `base`
      ms.addData(ev(2, 100L, 5.0, base - 5400000)) // 90 min earlier
      q.processAllAvailable()
      val got = rows(spark.table("sess_late_test"))
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("nEvents"),
          r.getAs[Double]("sumValue"), r.getAs[Long]("closedAtMs")))
      assert(got.contains((100L, 1L, 5.0, base - 5400000 + 60000)),
        s"deep-late event must close as its OWN session, got $got")
    } finally q.stop()
  }

  test("upsertBatch refuses a reserved _kb column loudly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_upsert_kb")
    val bad = Seq((1L, "a", 1L, 9)).toDF("id", "payload", "version",
      Streams.UpsertBucketCol)
    val e = intercept[IllegalArgumentException] {
      Streams.upsertBatch(bad, 0L, s"$base/target", Seq("id"), "version", 16)
    }
    assert(e.getMessage.contains(Streams.UpsertBucketCol))
  }

  test("dedupWithinWatermark refuses empty keys with a clear message") {
    import spark.implicits._
    val df = Seq((1L, new java.sql.Timestamp(0L))).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException] {
      Streams.dedupWithinWatermark(df, Seq.empty)
    }
    assert(e.getMessage.contains("at least one key"))
  }

  test("sessionize splits same-user sessions separated by more than the gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Streams.Event]
    val base = 1700000000000L
    def ev(id: Long, user: Long, v: Double, tsMs: Long) =
      Streams.Event(id, new java.sql.Timestamp(tsMs), user, "t", v)
    val q = Streams.sessionize(ms.toDS(), gapMs = 60000, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("sess_gap_test")
      .outputMode("append").start()
    try {
      // Two same-user events 2h apart with NO other traffic: the watermark
      // never fires a timeout between them, so the split must come from the
      // DATA branch — pre-fix these merged into one 2h "session".
      ms.addData(ev(1, 100L, 1.0, base))
      q.processAllAvailable()
      ms.addData(ev(2, 100L, 2.0, base + 7200000))
      q.processAllAvailable()
      // In-batch straddle too: one batch carrying both sides of a gap.
      ms.addData(ev(3, 300L, 5.0, base + 7200000),
        ev(4, 300L, 6.0, base + 7200000 + 120000))
      q.processAllAvailable()
      val got = rows(spark.table("sess_gap_test"))
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("nEvents"),
          r.getAs[Double]("sumValue"), r.getAs[Long]("closedAtMs")))
      assert(got.contains((100L, 1L, 1.0, base + 60000)),
        s"first session must close at lastTs+gap, got $got")
      assert(got.contains((300L, 1L, 5.0, base + 7200000 + 60000)),
        s"in-batch gap must split, got $got")
    } finally q.stop()
  }
}
