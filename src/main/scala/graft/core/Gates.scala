package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Every size gate's policy in ONE place: the session-conf key, its
  * built-in default, and the two decision primitives the gated operators
  * call. A gate chooses between a driver or broadcast fast path and its
  * distributed twin; no operator reads a `spark.graft.*` conf or clamps a
  * limit itself.
  *
  * One rule for every gate: the fast path runs only while the key's value
  * is positive and the input is within it. So 0 forces the twin — which is
  * how the all-twins mode ([[forceTwinsFromEnv]]) makes every fallback
  * primary by setting each key in [[All]] to 0. The keys are
  * shared constants so a rename on either side is a compile error, not a
  * dead conf that would certify fallbacks that never ran.
  */
object Gates {

  /** Broadcast pair-kernel corpus-row guard (Dedup.embeddingNearDups,
    * Dedup.semanticDedupIvf, Dedup.jaccardPairs). Honest footprint at the
    * 500k default, dim 64: ~256 MB of primitive doubles collected plus one
    * serialized broadcast copy — ~0.5-0.8 GB transient on the driver.
    * jaccardPairs takes its kernel only while the shingle sets also fit
    * the 128 MiB set-broadcast cap, so its driver share is at most ~128 MB
    * of collected hashes, one sorted copy of them, plus int ranks and the
    * CSR prefix index (≤ 4 B per posting each). Size it to the driver heap
    * on a real cluster. */
  val DedupKernelMaxCorpusRows = "spark.graft.dedup.kernelMaxCorpusRows"

  /** Edges collected to the driver by the graph fast paths: union-find
    * (Dedup.dupClusters), BFS (Reach.shortestHops) and power iteration
    * (analytics.Graph.pagerank). The 2M default is far above any
    * dimension-keyed graph (a top-k per-source graph over a dimension key
    * is ≤ k·|dim| edges) and far below driver-memory risk. */
  val DriverEdgeLimit = "spark.graft.driverEdgeLimit"

  /** Basket rescan-vs-materialize input-size gate, in summed leaf bytes.
    * Rescanning is strictly faster below ~1 GiB on measured hardware (the
    * shuffle being shared is at most input-sized, and the block-manager
    * write it avoids is comparable to the shuffle itself); above it, one
    * materialization amortizes across the three consumers. */
  val BasketRescanMaxInputBytes = "spark.graft.basket.rescanMaxInputBytes"

  /** Ranked plain-window small-input gate (operators.Ranked), against the
    * ×4-factored scan estimate: at or below it the plain partitioned
    * window runs instead of the range-partitioned decomposition. 64 MiB
    * (OPTIMIZATION_r12.md §3, sf0.1 events: plain 0.39s vs ranged-32
    * 1.61s, identical output) is far below what one task sorts
    * comfortably, so the |groups|-task window the decomposition exists to
    * remove is not a cliff below the gate. */
  val RankedSmallInputMaxBytes = "spark.graft.ranked.smallInputMaxBytes"

  /** termFrequencies exchange-shape gate (text.Corpus), against the
    * ×4-factored scan estimate: at or below it the corpus keeps the local
    * fanOut shape (narrow aggregated exchanges); above it, documents are
    * repartitioned BY ID pre-explode so one document-sized exchange serves
    * the tf agg and every per-doc consumer. 8 MiB ⇒ corpora up to ~2 MiB
    * compressed keep fanOut — set from the measured crossover
    * (OPTIMIZATION_r13.md §5: fanOut wins at 0.57 MiB, id-keyed from
    * 5.6 MiB up), erring toward the scale shape inside the unmeasured
    * band. */
  val CorpusTfSmallInputMaxBytes = "spark.graft.corpus.tfSmallInputMaxBytes"

  /** Streaming memory-state-store gate, a switch: while positive the
    * engine's bounded-replay AvailableNow streaming queries run on the
    * process-memory state-store provider
    * ([[org.apache.spark.sql.graft.MemoryStateStoreProvider]] — no
    * per-batch delta-file commits; no cross-process recovery, which
    * bounded replays with fresh checkpoints never need). 0 = the durable
    * default provider, the long-lived-stream / 100 TB posture. */
  val StreamMemoryStateStore = "spark.graft.stream.memoryStateStore"

  private val defaults = scala.collection.immutable.ListMap(
    DedupKernelMaxCorpusRows -> 500000L,
    DriverEdgeLimit -> 2000000L,
    BasketRescanMaxInputBytes -> (1L << 30),
    RankedSmallInputMaxBytes -> (64L << 20),
    CorpusTfSmallInputMaxBytes -> (8L << 20),
    StreamMemoryStateStore -> 1L)

  /** Every gate key — the set the all-twins mode forces to 0. A key gets
    * in here only together with its default. */
  val All: Seq[String] = defaults.keys.toSeq

  /** The all-twins switch, read here and nowhere else: with
    * `SPARK_GRAFT_FORCE_TWINS=1` in `env`, every key in [[All]] is set to 0
    * on `spark`, so every gated operator runs its twin. Returns whether it
    * did. */
  def forceTwinsFromEnv(spark: SparkSession,
                        env: Map[String, String] = sys.env): Boolean = {
    val force = env.get("SPARK_GRAFT_FORCE_TWINS").contains("1")
    if (force) All.foreach(k => spark.conf.set(k, "0"))
    force
  }

  /** The session conf wins over the default, so a whole suite can repoint
    * every gate without threading knobs through callers. */
  private def setting(spark: SparkSession, key: String): Long =
    spark.conf.get(key, defaults(key).toString).toLong

  /** Row-gate limit, clamped below Int.MaxValue: the probe and the collect
    * use limit(n + 1), and a gate RAISED to Int.MaxValue (the "size it to
    * the driver heap" advice) must not wrap negative and make
    * Dataset.limit throw. */
  private def rowLimit(spark: SparkSession, key: String): Int =
    math.min(setting(spark, key), Int.MaxValue - 1L).toInt

  /** The gate rule against a size the caller already knows (a byte
    * estimate, an exact count, or 0 for a switch): the fast path runs iff
    * the key's value is positive and `size` is within it. */
  def within(spark: SparkSession, key: String, size: BigInt): Boolean = {
    val limit = setting(spark, key)
    limit > 0 && size <= limit
  }

  /** Byte gate on a scan estimate: the analyzed plan's size estimate × 4.
    * For a parquet scan the estimate is the COMPRESSED file size, and
    * columnar text/fact data commonly decompresses 4-10×, so comparing it
    * raw against a raw-sized threshold would under-gate by that ratio.
    * Multiplying errs toward the twin (the scale path); estimates that are
    * already raw-size (LogicalRDD, join outputs) only get more
    * conservative. */
  def scanWithin(df: DataFrame, key: String): Boolean =
    within(df.sparkSession, key,
      df.queryExecution.analyzed.stats.sizeInBytes * DecompressionSafetyFactor)

  private val DecompressionSafetyFactor = 4

  /** Row gate, probe half: does `probe` hold at most the key's limit rows?
    * A COUNT over limit(n + 1) aggregates on the executors, so deciding
    * "too big" ships one long to the driver — not n + 1 rows — and one row
    * past the limit proves it without counting everything. The probe may
    * be a narrow projection of the rows the caller will collect: it only
    * needs their count. */
  def rowsWithin(probe: DataFrame, key: String): Boolean = {
    val n = rowLimit(probe.sparkSession, key)
    n > 0 && probe.limit(n + 1).count() <= n
  }

  /** Row gate, collect half: the rows of `rows` if it evaluates to at
    * most the key's limit, else None (the caller's twin runs). The collect
    * itself is limit(n + 1)-bounded, so an input that re-evaluates larger
    * than its probe saw (non-deterministic source, TOCTOU) degrades to the
    * twin instead of landing unbounded on the driver. (CollectLimit scans
    * partitions in growing batches — 1, then 4×, … — which costs ~25ms of
    * latency rounds at sf0.1; the knob that avoids it,
    * spark.sql.limit.initialNumPartitions, is session-scoped, and setting
    * it here would race concurrent queries on the session.) */
  def collectWithin[T](rows: Dataset[T], key: String): Option[Array[T]] = {
    val n = rowLimit(rows.sparkSession, key)
    if (n <= 0) None
    else Some(rows.limit(n + 1).collect()).filter(_.length <= n)
  }
}
