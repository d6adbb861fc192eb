package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec
import graft.streaming.Streams

/** The process-memory state store's contract: versioned commits and
  * within-process reload (task retry), loud refusal of cross-process
  * recovery, and end-to-end parity with the durable default provider on
  * the engine's streaming operators. Lives in the provider's package so
  * the spec can drive the store API directly. */
class MemoryStateStoreSpec extends SparkSpec {

  private val keySchema = StructType(Seq(StructField("k", LongType)))
  private val valueSchema = StructType(Seq(StructField("v", LongType)))

  private def row(x: Long): UnsafeRow =
    UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](LongType))
      .apply(org.apache.spark.sql.catalyst.InternalRow(x)).copy()

  private def freshProvider(chk: String): MemoryStateStoreProvider = {
    val p = new MemoryStateStoreProvider
    p.init(StateStoreId(chk, 0L, 0), keySchema, valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema), useColumnFamilies = false,
      StateStoreConf.empty, new org.apache.hadoop.conf.Configuration(),
      useMultipleValuesPerKey = false, None)
    p
  }

  test("versioned commits, within-process reload, and abort") {
    val chk = graft.core.Scratch.tempDir("memstore").toString
    val p = freshProvider(chk)
    try {
      // batch 0: empty base, write one key
      val s0 = p.getStore(0, None)
      assert(s0.get(row(1), StateStore.DEFAULT_COL_FAMILY_NAME) == null)
      s0.put(row(1), row(10), StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(s0.commit() == 1L)
      // batch 1 sees version 1; a RETRY of batch 1 reloads version 1 too
      (1 to 2).foreach { _ =>
        val s1 = p.getStore(1, None)
        assert(s1.get(row(1), StateStore.DEFAULT_COL_FAMILY_NAME).getLong(0) == 10L)
        s1.abort() // aborted attempt must not advance state
      }
      val s1 = p.getStore(1, None)
      s1.put(row(2), row(20), StateStore.DEFAULT_COL_FAMILY_NAME)
      s1.remove(row(1), StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(s1.commit() == 2L)
      val s2 = p.getStore(2, None)
      assert(s2.get(row(1), StateStore.DEFAULT_COL_FAMILY_NAME) == null)
      assert(s2.get(row(2), StateStore.DEFAULT_COL_FAMILY_NAME).getLong(0) == 20L)
      // iterator sees exactly the committed pairs; metrics count them
      val it = s2.iterator(StateStore.DEFAULT_COL_FAMILY_NAME)
      assert(it.map(p => (p.key.getLong(0), p.value.getLong(0))).toSet ==
        Set(2L -> 20L))
      assert(s2.metrics.numKeys == 1L)
      s2.abort()
      // version 1 is STILL loadable after version 2 committed (retention)
      assert(p.getStore(1, None)
        .get(row(1), StateStore.DEFAULT_COL_FAMILY_NAME).getLong(0) == 10L)
    } finally p.close()
  }

  test("cross-process recovery refused loudly; close drops resident state") {
    val chk = graft.core.Scratch.tempDir("memstore").toString
    val p = freshProvider(chk)
    // a version this process never committed = someone else's checkpoint
    intercept[IllegalStateException](p.getStore(3, None))
    val s0 = p.getStore(0, None)
    s0.put(row(1), row(10), StateStore.DEFAULT_COL_FAMILY_NAME)
    s0.commit()
    p.close() // query ended: resident state dies with the provider
    val p2 = freshProvider(chk)
    try intercept[IllegalStateException](p2.getStore(1, None))
    finally p2.close()
  }

  test("unsupported surface fails loudly (column families, prefix scan)") {
    val chk = graft.core.Scratch.tempDir("memstore").toString
    val p = freshProvider(chk)
    try {
      val s = p.getStore(0, None)
      intercept[Exception](s.put(row(1), row(1), "otherFamily"))
      intercept[Exception](s.prefixScan(row(1),
        StateStore.DEFAULT_COL_FAMILY_NAME))
      s.abort()
    } finally p.close()
  }

  test("StateStore.stop (the bench's per-rep quiesce) drains the registry") {
    // The bench quiesces between reps via Bridge.stopStateStores(), which
    // closes every loaded provider; close() must drop the provider's
    // registry entry, so NO state survives from one rep to the next —
    // every timed rep recomputes from the parquet inputs.
    val chk = graft.core.Scratch.tempDir("memstore").toString
    val p = freshProvider(chk)
    val s = p.getStore(0, None)
    s.put(row(1), row(10), StateStore.DEFAULT_COL_FAMILY_NAME)
    s.commit()
    assert(MemoryStateStoreProvider.registeredStores >= 1)
    p.close()
    Bridge.stopStateStores() // idempotent with close(); drains any residue
    assert(MemoryStateStoreProvider.registeredStores == 0,
      "a bench rep must not inherit state from the previous one")
  }

  test("streaming agg and dedup: memory provider matches the durable default") {
    import spark.implicits._
    val dir = graft.core.Scratch.tempDir("memstream")
    val rows = (0L until 300L).map(i =>
      (i, new java.sql.Timestamp(1700000000000L + (i % 7) * 3600000L),
        i % 11, if (i % 3 == 0) "view" else "purchase", i * 1.5))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir.resolve("events").toString)

    def run(provider: Option[String]): (Set[String], Set[String]) = {
      val s = Bridge.cloneSession(spark)
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.streaming.checkpointLocation",
        graft.core.Scratch.tempDir("memchk").toString)
      provider.foreach(
        s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      val events = dir.resolve("events").toString
      val agg = Streams.runToMemory(
        Streams.tumblingStats(Streams.readEventStream(s, events)),
        "m_agg_" + java.util.UUID.randomUUID.toString.replace("-", ""),
        OutputMode.Complete())
        .collect().map(_.toString).toSet
      val ded = Streams.runToMemory(
        Streams.dedupWithinWatermark(Streams.readEventStream(s, events),
            Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type")),
        "m_ded_" + java.util.UUID.randomUUID.toString.replace("-", ""),
        OutputMode.Append())
        .collect().map(_.toString).toSet
      (agg, ded)
    }

    val mem = run(Some(MemoryStateStoreProvider.ProviderName))
    val hdfs = run(None)
    assert(mem._1 == hdfs._1, "windowed agg diverged between providers")
    assert(mem._2 == hdfs._2, "streaming dedup diverged between providers")
    assert(mem._1.nonEmpty && mem._2.nonEmpty)
  }
}
