package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** events.ts has shipped in two physical forms across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read as raw longs via legacy.parquet.nanosAsLong and truncated
    * ns→µs with integer division, the same truncation DuckDB applies, keeping
    * the oracle exact; plain `/` would go through DOUBLE and lose precision
    * above 2^53) and native TIMESTAMP(MICROS) without UTC adjustment (which
    * Spark reads as TIMESTAMP_NTZ). [[normalizeEventTs]] maps both to
    * TimestampType; under the fixed UTC session timezone the NTZ→LTZ cast is
    * value-identical, so plans and oracle hashes match either generation.
    *
    * Loads are MEMOIZED per (session, path): `spark.read.parquet` pays
    * ~100 ms of file listing + footer schema inference on every call, which
    * dominates sub-second queries (a 77-query suite re-listed the same ten
    * immutable tables hundreds of times). The cached value is just the
    * analyzed plan with its resolved FileIndex — no data is pinned. Safe
    * because the driver test tables are immutable by contract (TESTDATA.md);
    * anything mutable (scratch dirs, stream targets) is read directly, not
    * through this loader. Keyed by session so cloned/restarted sessions
    * re-resolve; bounded against long test runs accumulating sessions. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (cache.size > 512) cache.clear()
    cache.computeIfAbsent((spark, s"$sfDir/$name.parquet"), { case (s, path) =>
      val df = s.read.parquet(path)
      if (name == "events") normalizeEventTs(df) else df
    })
  }

  /** Physical file schema, for streaming readers that must declare one up
    * front. Memoized on the path ALONE (a schema is session-independent),
    * so pass only immutable paths — test tables and the stream queries'
    * staged copies of them: the four events streams, which read the same
    * staged dir, stop paying ~100 ms of listing + footer inference per
    * invocation. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def fileSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)

  /** Normalize events.ts to TimestampType regardless of which physical form
    * the driver wrote (see the class doc). Works on batch and streaming
    * frames alike — it only inspects the analyzed schema. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType          => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                 => df
    }
  }

  /** Register every table as a temp view (for spark.sql-level operators). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
