package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked string-similarity join: edit-distance near-duplicate pairs
  * without the n² cross product. Classic record-linkage blocking — pairs
  * are only generated inside (blocking key, first token, ±`maxLenDiff`
  * length) blocks, so the candidate count is Σ block², never n², and the
  * block key is an equi-join Catalyst can hash-partition; AQE splits any
  * skewed block at runtime.
  *
  * The residual `levenshtein(a, b, maxDist)` uses Spark's threshold
  * overload — the banded O(maxDist·len) DP that abandons a pair the moment
  * its distance provably exceeds the cap, rather than filtering after a
  * full O(len²) computation.
  */
object StringSim {

  /** Pairs (a_id < b_id) within the same (`blockCols`, first
    * whitespace-token) block whose names differ by 1..`maxDist` edits and
    * at most `maxLenDiff` characters of length. Distance 0 (exact dups) is
    * excluded — that's exact dedup's job, done without pairing.
    *
    * `maxBlockSize` is the skew guard the LSH paths already have
    * (Dedup's maxBucketSize): in-block work is quadratic, so one hot
    * (blockCols, first-token) block — a brand whose every product starts
    * with the same word — costs block²·O(maxDist·len) DP cells no matter
    * how AQE splits it. Blocks larger than the cap are dropped WHOLE
    * (pairs wholly inside them are not generated) and the drop is logged;
    * the default keeps the guard off, matching exact semantics. */
  def blockedEditPairs(df: DataFrame, idCol: String, nameCol: String,
                       blockCols: Seq[String], maxLenDiff: Int,
                       maxDist: Int,
                       maxBlockSize: Int = Int.MaxValue): DataFrame = {
    val inBounds =
      if (maxBlockSize == Int.MaxValue) df
      else {
        // Block sizes are one narrow agg over the (few-column) key
        // projection; the count of dropped blocks is a deliberate extra
        // action so the skew decision is VISIBLE in logs, mirroring
        // Dedup.capBuckets.
        val keyCols = blockCols.map(col) :+
          split_part(col(nameCol), lit(" "), lit(1)).as("__tok")
        // Renamed key columns: both join sides descend from `df`, and
        // same-lineage attribute references would resolve ambiguously.
        val sizes = df.groupBy(keyCols: _*).agg(count(lit(1)).as("__bsz"))
          .toDF(blockCols.map(c => s"__k_$c") ++ Seq("__tok", "__bsz"): _*)
        val dropped = sizes.filter(col("__bsz") > maxBlockSize).count()
        if (dropped > 0)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"blockedEditPairs: dropped $dropped block(s) larger " +
              s"than $maxBlockSize rows (quadratic-skew guard; pairs " +
              "wholly inside a dropped block are not generated)")
        df.join(
          sizes.filter(col("__bsz") <= maxBlockSize).drop("__bsz"),
          blockCols.map(c => col(c) === col(s"__k_$c"))
            .reduce(_ && _) &&
            split_part(col(nameCol), lit(" "), lit(1)) === col("__tok"),
          "left_semi")
      }
    def side(tag: String): DataFrame =
      inBounds.select(blockCols.map(col) ++ Seq(
        col(idCol).as(s"${tag}_id"),
        col(nameCol).as(s"${tag}_name"),
        split_part(col(nameCol), lit(" "), lit(1)).as(s"${tag}_tok"),
        length(col(nameCol)).as(s"${tag}_len")): _*)
    // Parallelism of the quadratic in-block work is governed by the PROBE
    // side's partitioning, not the data volume: a dim table small enough to
    // broadcast is usually also small enough to arrive as ONE scan partition,
    // and then every in-block levenshtein runs in a single task (measured 5×
    // against the oracle engine on q108). Parallelize.fanOut spreads the
    // pair enumeration + banded DP across the cluster for one tiny exchange
    // — and passes big many-partition inputs through untouched.
    val a = graft.core.Parallelize.fanOut(side("a"), minBytes = 0L)
    val b = side("b").withColumnsRenamed(
      blockCols.map(c => c -> s"b_$c").toMap)
    val joinCond = blockCols.map(c => col(c) === col(s"b_$c"))
      .reduce(_ && _) &&
      col("a_tok") === col("b_tok") &&
      col("a_id") < col("b_id") &&
      abs(col("a_len") - col("b_len")) <= lit(maxLenDiff)
    val d = levenshtein(col("a_name"), col("b_name"), maxDist)
    a.join(b, joinCond)
      .withColumn("d", d.cast("int"))
      .where(col("d").between(1, maxDist))
      .select(col("a_id"), col("b_id"), col("d"))
  }
}
