package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range-partitioned decompositions of the order-prefix window functions
  * (row_number, running sum) for TOTAL orders or LOW-CARDINALITY window
  * partitions — the shapes where a plain `Window.partitionBy(group)
  * .orderBy(...)` funnels the whole fact through |groups| tasks (1 for a
  * global order), each sorting and buffering its entire partition.
  *
  * Decomposition: range-partition the rows by (group, order...) — equal
  * full keys stay in one partition, ascending ranges land in ascending
  * `spark_partition_id()`s — compute the function WITHIN each (group,
  * range) via an ordinary partitioned window (parallelism = groups ×
  * ranges), then add a per-(group, range) carry-in combined from a tiny
  * summary (groups × ranges rows) that broadcasts back. Exact — not an
  * approximation: row_number and running sum are order-prefix
  * decomposable, and ties of the FULL ordering tuple never straddle a
  * range (callers wanting deterministic output order their tuples totally,
  * exactly as they must for the plain window).
  *
  * Correctness anchor: the summary arm and the main arm share the range
  * exchange, and Spark's exchange reuse (`spark.sql.exchange.reuse`,
  * default on) executes it ONCE — both arms therefore see identical range
  * boundaries (RangePartitioner samples with an instance-derived seed, so
  * two independent executions could legally choose different boundaries).
  * PlanRegressionSpec pins the ReusedExchange in a gated consumer.
  *
  * Cost: two exchanges of the data (range, then hash for the local
  * window) instead of the plain window's one — the price of turning a
  * |groups|-task sort into a groups×ranges-task one. Use the plain window
  * when |groups| already exceeds the cluster's parallelism. */
object Ranked {

  /** Internal working-column prefix; inputs carrying a column with this
    * prefix would be silently overwritten by the withColumns below and the
    * final select would return internal values under the user's name —
    * corrupt output with no error. Guarded like AsOfJoin's reserved set. */
  private def guardColumns(df: DataFrame, outName: String): Unit = {
    val reserved = df.columns.filter(_.startsWith("_rr_"))
    require(reserved.isEmpty,
      s"input columns ${reserved.mkString(", ")} collide with Ranked's " +
        "internal _rr_* working columns; rename them first")
    require(!df.columns.contains(outName),
      s"output column '$outName' already exists in the input; pick a " +
        "fresh name (the final projection would otherwise be ambiguous)")
  }

  /** Small-input gate (r12, guide §2.4 "remove shuffles outright" applied
    * in reverse to insurance machinery): within the
    * [[graft.core.Gates.RankedSmallInputMaxBytes]] byte gate the plain
    * partitioned window is strictly cheaper than the decomposition — one
    * exchange + one sort versus a range-sampling pass over the input
    * lineage, a range exchange, a hash exchange, and the carry join;
    * above it — any real fact table — the ranged path engages unchanged.
    * Estimated from the analyzed plan's stats (same source as
    * [[graft.core.Parallelize]]; join/explode estimates only ever err
    * UPWARD, toward the scale path) with the gate's ×4 decompression
    * factor: a table just under 64 MiB compressed could be half a GiB raw,
    * so the net gate is ~16 MiB compressed ≈ up to ~160 MiB raw on the
    * plain path, which one spilling window sort handles without an
    * executor-memory hazard. The all-twins suite gate forces 0 so the
    * ranged path runs primary end-to-end, and RankedSpec/PlanRegressionSpec
    * pin both shapes. */
  private[operators] def useRanged(df: DataFrame): Boolean =
    !graft.core.Gates.scanWithin(df, graft.core.Gates.RankedSmallInputMaxBytes)

  /** Resolve the range count: 0 (the default) means "the session's
    * shuffle-partition width" — the knob deployments already size to their
    * cluster, so the decomposition's parallelism (groups × ranges) scales
    * with the deployment instead of a hard-coded constant. The previous
    * fixed 64 over-sharded local runs (64 ranges × ~4 groups = 256 window
    * tasks for a sub-second query: measured at sf0.1, q72's ranked core
    * ran 0.97s at 64 ranges vs 0.76s at 32 — pure per-task scheduling
    * overhead) while under-sharding a 1000-executor cluster. */
  private[operators] def resolveRanges(df: DataFrame, ranges: Int): Int =
    if (ranges > 0) ranges
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** The decomposition is only correct when the range exchange executes
    * ONCE (see the correctness anchor above): RangePartitioner's sample
    * seed is RDD-instance-derived, so with `spark.sql.exchange.reuse`
    * disabled the carry arm and the main arm could sample DIFFERENT range
    * boundaries and silently mis-number. When a session has reuse off,
    * materialize the ranged layout eagerly (localCheckpoint) so both arms
    * read one pinned computation instead of re-sampling. */
  private[operators] def pinIfNoReuse(parted: DataFrame): DataFrame = {
    val reuseOn = parted.sparkSession.conf
      .get("spark.sql.exchange.reuse", "true").toBoolean
    if (reuseOn) parted else parted.localCheckpoint()
  }

  /** `row_number() OVER (PARTITION BY partCols ORDER BY orderExprs)` as a
    * LONG column `rnName`, at groups×ranges parallelism. `orderExprs` may
    * carry directions (`col.desc`); make the tuple a total order for
    * deterministic numbering (same requirement as the plain window). */
  def rowNumberRanged(df: DataFrame, partCols: Seq[String],
                      orderExprs: Seq[Column], rnName: String,
                      ranges: Int = 0): DataFrame = {
    require(ranges >= 0, "ranges must be non-negative (0 = auto)")
    guardColumns(df, rnName)
    if (!useRanged(df)) {
      val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderExprs: _*)
      return df.withColumn(rnName, row_number().over(w).cast("long"))
    }
    val parted = pinIfNoReuse(df
      .repartitionByRange(resolveRanges(df, ranges),
        (partCols.map(col) ++ orderExprs): _*)
      .withColumn("_rr_pid", spark_partition_id()))
    val wLocal = Window
      .partitionBy((partCols.map(col) :+ col("_rr_pid")): _*)
      .orderBy(orderExprs: _*)
    val withLocal = parted
      .withColumn("_rr_local", row_number().over(wLocal).cast("long"))
    // per-(group, range) row counts == max local rn (no extra agg pass
    // over the rows' values needed)
    val perRange = withLocal
      .groupBy((partCols.map(col) :+ col("_rr_pid")): _*)
      .agg(max(col("_rr_local")).as("_rr_cnt"))
    val wCarry = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col("_rr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = perRange
      .withColumn("_rr_carry", coalesce(sum(col("_rr_cnt")).over(wCarry), lit(0L)))
      .select((partCols.map(col) :+ col("_rr_pid") :+ col("_rr_carry")): _*)
    joinCarry(withLocal, carry, partCols)
      .withColumn(rnName, col("_rr_carry") + col("_rr_local"))
      .select((df.columns.map(col) :+ col(rnName)): _*)
  }

  /** Null-safe carry join: a NULL group key is one window partition in the
    * plain formulation, so the carry must attach to it too — a plain
    * equi-join (null != null) silently DROPPED null-group rows. The carry
    * side's keys are renamed and matched with `<=>`. */
  private def joinCarry(rows: DataFrame, carry: DataFrame,
                        partCols: Seq[String]): DataFrame = {
    val renamed = carry.select(
      (partCols.zipWithIndex.map { case (c, i) => col(c).as(s"_rr_k$i") } :+
        col("_rr_pid").as("_rr_pid2") :+ col("_rr_carry")): _*)
    val cond = (partCols.zipWithIndex.map { case (c, i) =>
      col(c) <=> col(s"_rr_k$i")
    } :+ (col("_rr_pid") === col("_rr_pid2"))).reduce(_ && _)
    rows.join(broadcast(renamed), cond)
  }

  /** Running `sum(valueExpr) OVER (PARTITION BY partCols ORDER BY
    * orderExprs ROWS UNBOUNDED PRECEDING)` as column `outName`, same
    * decomposition: within-range running sum + a carry-in of earlier
    * ranges' totals. `valueExpr` must be exactly summable (longs /
    * decimals — the engine's integer-arithmetic discipline). */
  def prefixSumRanged(df: DataFrame, partCols: Seq[String],
                      orderExprs: Seq[Column], valueExpr: Column,
                      outName: String, ranges: Int = 0): DataFrame = {
    require(ranges >= 0, "ranges must be non-negative (0 = auto)")
    guardColumns(df, outName)
    // The decomposition's local-sum + carry-sum addition widens decimal
    // types past what the plain window's single sum produces; both paths
    // must emit ONE type, so the ranged result is cast back to the plain
    // sum's type (a value the plain window could represent by definition —
    // the two compute the same number).
    val sumType = df.select(sum(valueExpr)).schema.head.dataType
    if (!useRanged(df)) {
      val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderExprs: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      return df.withColumn(outName, sum(valueExpr).over(w).cast(sumType))
    }
    val parted = pinIfNoReuse(df
      .repartitionByRange(resolveRanges(df, ranges),
        (partCols.map(col) ++ orderExprs): _*)
      .withColumn("_rr_pid", spark_partition_id()))
      .withColumn("_rr_v", valueExpr)
    val wLocal = Window
      .partitionBy((partCols.map(col) :+ col("_rr_pid")): _*)
      .orderBy(orderExprs: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withLocal = parted
      .withColumn("_rr_local", sum(col("_rr_v")).over(wLocal))
    val perRange = withLocal
      .groupBy((partCols.map(col) :+ col("_rr_pid")): _*)
      .agg(sum(col("_rr_v")).as("_rr_tot"))
    val wCarry = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col("_rr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = perRange
      .withColumn("_rr_carry", sum(col("_rr_tot")).over(wCarry))
      .select((partCols.map(col) :+ col("_rr_pid") :+ col("_rr_carry")): _*)
    joinCarry(withLocal, carry, partCols)
      // NULL-measure parity with the plain window (r12): sum() skips
      // nulls, so a row whose value is NULL still carries the running sum
      // of earlier non-null values — the plain window yields NULL only
      // when NO non-null value precedes it. `_rr_local` is NULL for a
      // null-valued row at its range's start even when EARLIER RANGES
      // carried values, so a bare local+carry addition null-poisoned
      // exactly those rows; emit NULL only when both arms are NULL
      // (= no non-null predecessor anywhere), else treat each NULL arm
      // as 0. Spec-pinned against the plain window in RankedSpec.
      .withColumn(outName,
        when(col("_rr_local").isNotNull || col("_rr_carry").isNotNull,
          coalesce(col("_rr_local"), lit(0)) +
            coalesce(col("_rr_carry"), lit(0)))
          .otherwise(lit(null)).cast(sumType))
      .select((df.columns.map(col) :+ col(outName)): _*)
  }

  /** Reconstruct `ntile(buckets)` EXACTLY from a row number and the
    * partition size: ntile gives the first `n % buckets` tiles
    * `n div buckets + 1` rows and the rest `n div buckets`. Division goes
    * through floor-of-double (the Column `/` on longs is double), exact
    * for operands < 2^53 — i.e. up to ~9e15 rows per window partition,
    * far past any real group. `greatest(q, 1)` keeps the never-taken
    * branch division-safe when n < buckets. */
  def ntileFromRowNumber(rn: Column, n: Column, buckets: Int): Column = {
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val b = lit(buckets.toLong)
    val q = idiv(n, b)
    val r = n % b
    val cut = r * (q + lit(1L))
    when(rn <= cut, idiv(rn - lit(1L), q + lit(1L)) + lit(1L))
      .otherwise(r + idiv(rn - cut - lit(1L), greatest(q, lit(1L))) + lit(1L))
  }
}
