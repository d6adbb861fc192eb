package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal-signal and robust-statistics operators, kept exact across
  * engines under the same discipline as [[Stats]]: integer/decimal
  * arithmetic everywhere order could matter, doubles only in a fixed final
  * expression, one floor(x·scale + 0.5) quantization, filters threshold on
  * the resulting integers.
  *
  * The common thread: each of these is textbook-sequential (median-of-a-
  * stream, interval sweep, CUSUM recursion) re-expressed as distributed
  * window algebra — partition-local sorts after one hash exchange on the
  * group key, no driver loops, no UDFs.
  */
object Signal {

  /** Robust (median/MAD) outliers: rows whose |y − median| exceeds
    * `thresholdBp/1e4` × 1.4826·MAD within their group. The two medians are
    * EXACT (`percentile`, full per-group sort) because the cross-engine hash
    * gate demands it — at warehouse scale swap `percentile` for
    * `approx_percentile` and keep the scoring shape. Group stats are tiny
    * (one row per group) and ride broadcast joins back onto the rows.
    *
    * Exactness: y is integer-quantized by the caller; medians of integers /
    * half-integers are dyadic rationals, exact in doubles; the robust-z is
    * one fixed double expression, floor-quantized to basis points, and the
    * filter thresholds the integer.
    *
    * MAD = 0 groups (a majority of identical values — the classic MAD
    * degenerate case) are DROPPED WHOLE by `where(mad > 0)`: the robust-z
    * is undefined there, and this is the ORACLE's edge too (its SQL
    * carries the same WHERE mad > 0). Callers hunting outliers in
    * near-constant groups should pre-split those groups and apply an
    * exact-inequality rule instead — a MAD yardstick of zero cannot rank
    * them. Same deliberate oracle-defined-edge policy as zscoreOutliers'
    * single-row groups (Stats.scala). */
  def madOutliers(df: DataFrame, groupCol: String, yq: Column,
                  keepCols: Seq[String], thresholdBp: Long): DataFrame = {
    val q = df.select(
      (groupCol +: keepCols).map(col) :+ yq.cast("long").as("y"): _*)
    val med = q.groupBy(col(groupCol))
      .agg(expr("percentile(y, 0.5D)").as("med"))
    val mad = q.join(broadcast(med), groupCol)
      .select(col(groupCol),
        abs(col("y").cast("double") - col("med")).as("adev"))
      .groupBy(col(groupCol))
      .agg(expr("percentile(adev, 0.5D)").as("mad"))
    val rzD = (col("y").cast("double") - col("med")) /
      (col("mad") * lit(1.4826))
    q.join(broadcast(med), groupCol)
      .join(broadcast(mad), groupCol)
      .where(col("mad") > lit(0.0))
      .withColumn("rz_bp", floor(rzD * lit(1e4) + lit(0.5)).cast("long"))
      .where(abs(col("rz_bp")) > lit(thresholdBp))
      .select((groupCol +: keepCols).map(col) :+ col("rz_bp"): _*)
  }

  /** Peak interval concurrency per group — the sweep-line algorithm as
    * window algebra. Each interval [t0, t1) contributes a (+1 @ t0) and a
    * (−1 @ t1) point; the running sum over the total order (t, delta, id)
    * is the live count, its max the peak. Ends sort before starts at equal
    * t (−1 < +1), so half-open touching intervals never overlap.
    *
    * One exchange on the group key, one partition-local sort: the same
    * shape a 1000-executor run wants. All-integer, so the gate is exact.
    * Returns (group, peak, t_at_peak) with the EARLIEST time attaining the
    * peak.
    *
    * NULL endpoints: an interval with a NULL start or end is EXCLUDED —
    * without the filter a NULL-end row (the usual encoding for a
    * still-open session) sorts FIRST under the ascending window order, its
    * −1 lands before any +1, and every running count in the group is
    * silently off by one. Callers with open intervals close them
    * explicitly (e.g. coalesce(end, now)) so the semantics are theirs. */
  def peakConcurrency(df: DataFrame, groupCol: String, startS: Column,
                      endS: Column, idCol: Column): DataFrame = {
    val defined = df.where(startS.isNotNull && endS.isNotNull)
    val starts = defined.select(col(groupCol), startS.cast("long").as("t"),
      lit(1).as("delta"), idCol.cast("long").as("pid"))
    val ends = defined.select(col(groupCol), endS.cast("long").as("t"),
      lit(-1).as("delta"), idCol.cast("long").as("pid"))
    // Running count via the range-partitioned prefix sum: a window
    // partitioned by the group alone put a whole group's 2·|intervals|
    // sweep points on ONE task (groups are few — event types — so at the
    // 100 TB point single tasks owned whole-fact partitions); the ranged
    // decomposition keeps the identical running sum at groups×ranges
    // parallelism (parity: RankedSpec + the hand-traced cases here).
    val live = graft.operators.Ranked.prefixSumRanged(
      starts.unionAll(ends), Seq(groupCol),
      Seq(col("t"), col("delta"), col("pid")), col("delta"), "conc")
    // One pass for (peak, earliest t at peak): max of (conc, −t) is the
    // argmax on conc with ties broken toward the smallest t.
    live.groupBy(col(groupCol))
      .agg(max(struct(col("conc"), (-col("t")).as("negt"))).as("s"))
      .select(col(groupCol), col("s.conc").as("peak"),
        (-col("s.negt")).as("t_at_peak"))
  }

  /** Exact rolling median of the last `width` observations per group — a
    * bounded-frame order statistic Spark has no built-in for. collect_list
    * over the row frame keeps O(width) values per row (constant memory),
    * sort_array orders them, and the median interpolates the two middles on
    * even counts — the same lower+(upper−lower)·0.5 contract as
    * quantile_cont, exact in doubles for integer inputs. Appends `medCol`
    * (double) to the frame's rows. */
  def rollingMedian(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                    y: Column, width: Int, medCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)
      .rowsBetween(-(width - 1).toLong, 0)
    val arr = sort_array(collect_list(y).over(w))
    val withArr = df.withColumn("_rm_arr", arr)
    val s = size(col("_rm_arr"))
    val mid = element_at(col("_rm_arr"), ((s + lit(1)) / lit(2)).cast("int"))
    val lo = element_at(col("_rm_arr"), (s / lit(2)).cast("int"))
    val hi = element_at(col("_rm_arr"), (s / lit(2)).cast("int") + lit(1))
    withArr
      .withColumn(medCol,
        // collect_list SKIPS nulls, so a frame of only-null y values is
        // an EMPTY array: the even branch would evaluate element_at(arr,
        // 0) and throw INVALID_INDEX_OF_ZERO (ANSI and non-ANSI alike) —
        // one null measure killed the whole job. No observations → NULL
        // median.
        when(s === 0, lit(null).cast("double"))
          .when(s % 2 === 1, mid.cast("double"))
          .otherwise((lo + hi).cast("double") / lit(2.0)))
      .drop("_rm_arr")
  }

  /** CUSUM change detection, distributed via the prefix-sum identity.
    * The textbook recursion C_t = max(0, C_{t−1} + y_t − target − slack) is
    * sequential, but C_t = S_t − min_{0≤j≤t} S_j where S is the running sum
    * of (y − target − slack) and S_0 = 0: a cumulative sum plus a running
    * min (clamped to include the empty prefix — without the S_0 term a
    * series that drifts upward from the very first row underestimates by
    * min_j S_j and the earliest rows can never alarm) — two pipelined
    * window passes over ONE exchange+sort on the group key.
    * target is the per-group integer mean (decimal-sum div count, exact);
    * slack = target div `slackDiv`. Returns rows whose CUSUM exceeds
    * `threshold` (all-integer; alarms can't flip on a float ulp). */
  def cusum(df: DataFrame, groupCol: String, orderCols: Seq[Column],
            yq: Column, slackDiv: Long, threshold: Long,
            keepCols: Seq[String]): DataFrame = {
    // slackDiv is spliced into SQL: 0 would DIVIDE_BY_ZERO under ANSI (or
    // NULL-poison every cusum under ansi=false — an empty result with no
    // error), and a negative value silently flips the slack's sign.
    require(slackDiv > 0, s"cusum needs a positive slackDiv, got $slackDiv")
    val q = df.select(
      (groupCol +: keepCols).map(col) ++ orderCols :+
        yq.cast("long").as("y"): _*)
    val tgt = q.groupBy(col(groupCol))
      .agg(expr("cast(sum(cast(y as decimal(38,0))) div count(1) as bigint)")
        .as("target"))
    val w = Window.partitionBy(col(groupCol)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    q.join(broadcast(tgt), groupCol)
      .withColumn("_run",
        sum(col("y") - col("target") - expr(s"target div $slackDiv")).over(w))
      .withColumn("cusum",
        col("_run") - least(min(col("_run")).over(w), lit(0L)))
      .where(col("cusum") > lit(threshold))
      .select((groupCol +: keepCols).map(col) :+ col("cusum"): _*)
  }
}
