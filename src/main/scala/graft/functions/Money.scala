package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact money aggregation without decimal-typed hot loops.
  *
  * Spark's decimal aggregation pays a per-row penalty the magnitude of the
  * whole scan: every input double is converted to a `Decimal` object, the
  * sum buffer is a `Decimal`, and the multiply in a discounted-price
  * expression runs in scaled-BigInteger arithmetic — measured 1.01s vs a
  * 0.23s scan floor on TPC-H Q1's shape at sf0.1 (PLANS.md, "Round 8
  * (cont.): money aggregation goes long-cents"). But the
  * money columns themselves are exact two-decimal values, so the identical
  * result is available from integer arithmetic: quantize each value ONCE
  * to long cents, sum longs, and only present the total in decimal.
  *
  * The naive long sum reintroduces an overflow at warehouse scale (a
  * 4-group aggregate over ~10¹¹ rows of 10⁹-unit products exceeds 2⁶³ —
  * the q99 lesson: 32/64-bit ceilings ARE reachable at the design target).
  * [[sumUnitsExact]] therefore aggregates in TWO stages:
  *
  *  1. partial long sums per (group, input partition, ≤2²²-row chunk) —
  *     the chunk key bounds every partial to 2²² rows REGARDLESS of how
  *     the input is partitioned, so the proof does not lean on scan
  *     splits: a skew-inflated shuffle-join partition or an AQE-coalesced
  *     one is chunked the same way. 2²² rows × 10⁹ units/row ≈ 4.2·10¹⁵,
  *     ~2000× below the long ceiling (a naive long sum would need a
  *     partition above ~9.2·10⁹ such rows to wrap — silently, since
  *     non-ANSI sum wraps without error);
  *  2. a decimal(38,0) combine of the per-chunk partials — at most
  *     #groups × #chunks tiny rows, so the decimal cost lands on
  *     thousands of rows, not billions.
  *
  * Same single shuffle as a plain groupBy (the partials ARE the map-side
  * combine), decimal exactness end-to-end, long-speed hot loop.
  *
  * Quantization parity: money inputs are exact 2-decimal values, so
  * `floor(x·100 + 0.5)` recovers the cent count exactly — identical to
  * the `CAST(x AS DECIMAL(18,2))` every oracle restatement uses (no
  * rounding ties exist: a 2-decimal value's double representation is
  * never exactly halfway between cents).
  */
object Money {

  /** Exact cents of a 2-decimal money column (half-up, tie-free on money
    * inputs — see object doc). */
  def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("long")

  /** Call-site audit (round 11, every [[partialUnits]]/[[sumUnitsExact]]
    * caller in the repo vs the retry-determinism rule below — shuffle-fed
    * inputs MUST pass `chunkBy`; scan-fed and broadcast-join-fed inputs
    * replay in deterministic order, so the positional chunk is safe):
    *
    * {{{
    * caller                          input shape                          chunk
    * ------------------------------- ------------------------------------ --------------------
    * q01  CoreQueries.scala          lineitem scan (filter pushed)        positional (scan-fed)
    * q16  CoreQueries.scala          lineitem scan                        positional (scan-fed)
    * q48  CoreQueries.scala          SMJ output (li⋈orders⋈cust)          chunkBy = l_orderkey*8+l_linenumber ✓
    * q49  CoreQueries.scala          orders scan + broadcast-only joins   positional (broadcast preserves streamed order)
    * q57  AdvancedQueries.scala      lineitem scan                        positional (scan-fed)
    * q98  AnalyticsQueries.scala     lineitem scan                        positional (scan-fed)
    * q100 AnalyticsQueries.scala     lineitem scan + withColumn (narrow)  positional (scan-fed)
    * q104 AnalyticsQueries.scala     lineitem scan + unpivot (narrow)     positional (scan-fed)
    * }}}
    *
    * The single shuffle-fed caller (q48) passes a content-derived chunk;
    * every other input is a scan or a broadcast join over one, whose row
    * order is retry-stable. A NEW caller feeding a sort-merge-join or
    * aggregation output must add itself to this table with a `chunkBy`.
    * MoneySpec pins hash-path parity and the positional-path fan-out. */

  /** Rows per long partial: 2²² ≈ 4.2M. See the overflow bound in the
    * object doc. */
  private val ChunkShift = 22

  /** Hash-chunk fan-out for the deterministic `chunkBy` path: each
    * (group, partition) splits into ≤2¹⁰ hash buckets, so a cell holds
    * ~partitionGroupRows/1024 rows — ≤2²² for any partition below 2³²
    * rows (Spark caps partitions well under that). */
  private val HashChunks = 1024

  /** Present an exact decimal/long unit total in major units with ONE
    * float rounding: divide in decimal (exact — unit totals are whole
    * multiples of the unit), THEN cast to double, matching the oracle's
    * `CAST(SUM(decimal) AS DOUBLE)`. Casting to double first and dividing
    * after rounds twice, which can differ in the last ulp once totals
    * pass 2⁵³ — true at the 100 TB design target even though both
    * formulations agree at test scale. */
  def toMajor(unitTotal: Column, unitsPerMajor: Long): Column =
    (unitTotal.cast("decimal(38,0)") / lit(unitsPerMajor)).cast("double")

  /** Stage 1 alone: exact long partial sums per (`keys`, input partition,
    * ≤2²²-row chunk) — for callers whose OWN re-aggregation (cube/rollup/
    * grouping sets) is the decimal combine, so the partials feed it
    * directly with no redundant middle exchange. Combine partial columns
    * with `sum(col(n).cast("decimal(38,0)"))`.
    *
    * The chunk key makes the overflow bound partitioning-independent:
    * `monotonically_increasing_id`'s low 33 bits are the per-partition
    * row counter (Spark caps partitions below 2³³ rows), so
    * `counter >> 22` splits ANY partition — scan split, shuffle-join
    * output, AQE-coalesced, skewed — into consecutive ≤2²²-row chunks.
    * Sums reassociate exactly over the finer grouping; the cost is one
    * extra long in the partial-agg key and one extra partial row per
    * 4.2M input rows — A/B'd at sf0.1 min-of-4 as within noise (round
    * 10: q01 0.38s chunked vs 0.47s not, q98 0.21 vs 0.23, q57 0.22 vs
    * 0.22, q104 0.37 vs 0.37).
    *
    * '''Retry determinism.''' `_pid` and `_chunk` are derived from
    * partition id and per-partition row ORDER. A row's partition is a
    * deterministic function of the plan (scan split assignment, shuffle
    * key hash), so `_pid` is retry-stable. Row order is deterministic for
    * scan-fed and broadcast-join-fed inputs (file scans replay in file
    * order; broadcast joins preserve streamed-side order) — every such
    * caller re-chunks identically on task retry. Order is NOT guaranteed
    * for a shuffle OUTPUT (sort-merge-join result, reduce side): there a
    * fetch-failure retry that re-runs a subset of map tasks can re-chunk
    * rows differently between attempts, and Spark's indeterminate-stage
    * rollback does not know these keys are order-sensitive — a partial
    * recompute could double-count or drop rows. Callers feeding a shuffle
    * output MUST pass `chunkBy` (a content-derived, roughly-unique
    * column, e.g. the fact table's key): the chunk becomes
    * `xxhash64(chunkBy) % 1024` — deterministic under any replay order.
    * The hash bound is distributional rather than positional (a single
    * value flooding one bucket concentrates a cell), but ANSI mode
    * (Spark 4 default) turns any residual long overflow into a loud
    * ArithmeticException, never a silent wrap. */
  def partialUnits(df: DataFrame, keys: Seq[String],
                   units: Seq[(String, Column)],
                   countAs: Option[String] = None,
                   chunkBy: Option[Column] = None): DataFrame = {
    val partialAggs = units.map { case (n, c) => sum(c).as(n) } ++
      countAs.map(n => count(lit(1)).as(n))
    val chunk = chunkBy match {
      case Some(c) => pmod(xxhash64(c), lit(HashChunks.toLong)).as("_chunk")
      case None => shiftright(
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)),
        ChunkShift).as("_chunk")
    }
    df.groupBy((keys.map(col) :+ spark_partition_id().as("_pid") :+ chunk): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
  }

  /** Two-stage exact sum of long `units` expressions per `keys`: long
    * partials per input-partition chunk, decimal(38,0) totals. Output columns:
    * keys, one decimal(38,0) column per unit name, and an optional exact
    * row count. Callers scale/present the totals (e.g. `/ 100.0`). */
  def sumUnitsExact(df: DataFrame, keys: Seq[String],
                    units: Seq[(String, Column)],
                    countAs: Option[String] = None,
                    chunkBy: Option[Column] = None): DataFrame = {
    val finalAggs = units.map { case (n, _) =>
      sum(col(n).cast("decimal(38,0)")).as(n)
    } ++ countAs.map(n => sum(col(n)).as(n))
    partialUnits(df, keys, units, countAs, chunkBy).groupBy(keys.map(col): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }
}
