package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence: which items appear together in the same
  * order more often than independence predicts.
  *
  * Plan shape (round 12): one repartition on the order key feeds ONE
  * grouped pass — `groupBy(order).agg(sort_array(collect_set(item)))` —
  * and every consumer derives from that basket table: pair counts
  * (generator-chain pair expansion → hash agg), per-item supports
  * (explode of the same arrays), and the order count (`count(1)` over the
  * grouped result). `collect_set` already dedups (order, item), so the
  * previous separate `distinct()` stage is gone, and the two former
  * rescans of the distinct projection (supports via a second hash agg,
  * order count via a third) collapse into cheap derivations of the basket
  * arm; AQE exchange reuse shares the one input shuffle across the
  * consumers. Measured at sf0.1 (PLANS.md "Round 12", min-of-4,
  * late-position A/B): 0.87s vs the round-11 shape's 0.99s, with a FLAT
  * rep profile (first execution 0.92s vs the old shape's 1.3-5s ramp) — the
  * basket-derived arms compile far fewer distinct codegen stages.
  *
  * NULL semantics are unchanged: an order whose only items are NULL still
  * forms a group (empty set) and is counted in `n_orders`, exactly as it
  * was in the distinct-projection count; `collect_set` drops NULL items,
  * which only removes rows the inner support joins discarded anyway.
  *
  * Materialization is SIZE-GATED, not unconditional. Round 7 measured an
  * always-on persist of the fused aggregate at 6-7× slower cold (block-
  * manager write on the hot path); below the gate, letting Catalyst slice
  * the plan per consumer wins. At warehouse scale the trade flips: re-
  * scanning a 100 TB fact per consumer is multiple input shuffles instead
  * of one, so once the summed LEAF input size crosses
  * [[RescanMaxInputBytes]] the basket table — one row per order, far
  * smaller than the fact — is materialized once with an eager
  * localCheckpoint and every consumer reads it. */
object Basket {

  /** Input size above which the basket table is materialized once instead
    * of re-derived per consumer. Rescanning is strictly faster below
    * ~1 GiB on measured hardware (the shuffle being shared is at most
    * input-sized, and the block-manager write it avoids is comparable to
    * the shuffle itself); above it, one materialization amortizes across
    * the three consumers. */
  private val RescanMaxInputBytes = BigInt(1L << 30)

  /** Co-purchase pairs (pa < pb) with support and integer-ppm lift:
    * lift = P(ab) / (P(a)·P(b)) = n_ab·N / (n_a·n_b), emitted as
    * (n_ab·N·1e6) div (n_a·n_b). `minItemSupport` drops pairs involving
    * rare items; `minPairSupport` bounds the output. All counts and the
    * lift ratio stay integer (decimal-product div), so the result is
    * engine- and partitioning-independent. */
  def copurchaseLift(df: DataFrame, orderCol: String, itemCol: String,
                     minItemSupport: Long, minPairSupport: Long): DataFrame = {
    // Repartition on the order key ONCE; hashpartitioning(o) satisfies the
    // clustering requirement of the grouped pass, so no consumer adds an
    // input-sized exchange of its own.
    val baskets0 = df.select(col(orderCol).as("o"), col(itemCol).as("p"))
      .repartition(col("o"))
      .groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("items"))
    // Gate on the SUM OF LEAF relation sizes, not the analyzed root's
    // estimate: without CBO stats the root estimate multiplies child
    // sizes through joins, so a tiny join-derived input could report
    // >1 GiB and re-enable the exact always-persist regression this gate
    // exists to avoid. Leaf sizes are real for file relations; inputs
    // with unknown leaves (LogicalRDD from a checkpoint) read as huge and
    // conservatively materialize — the safe direction for the 100 TB
    // case this branch serves.
    val inputBytes = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    // Session override (spark.graft.basket.rescanMaxInputBytes) beats the
    // built-in threshold — setting it to 0 forces the at-scale
    // materialization path (the all-twins gate's posture).
    val gate = BigInt(graft.core.Gates.effectiveLimit(df.sparkSession,
      graft.core.Gates.BasketRescanMaxInputBytes,
      RescanMaxInputBytes.toLong))
    val baskets =
      if (inputBytes > gate) baskets0.localCheckpoint()
      else baskets0
    // Pair generation stays in codegen'd generators (posexplode + slice
    // explode), not array HOFs: measured ~2× faster at sf0.1, and resident
    // memory per task is O(basket) — the slice for outer position ki is
    // one ≤k-element array, never the k²/2 pair set, so one adversarial
    // giant basket degrades to quadratic TIME (inherent in its pair
    // count) without a quadratic allocation. The sorted array gives
    // pa < pb by position, no comparison filter needed.
    val pairRows = baskets
      .select(col("items"), posexplode(col("items")).as(Seq("ki", "ka")))
      .select(col("ka"),
        explode(expr("slice(items, ki + 2, size(items) - ki - 1)")).as("kb"))
    val pairs = pairRows.groupBy(col("ka"), col("kb"))
      .agg(count(lit(1)).as("n_ab")).where(col("n_ab") >= minPairSupport)
      .select(col("ka").as("pa"), col("kb").as("pb"), col("n_ab"))
    // Item supports from the same grouped pass: explode of the basket
    // arrays is exactly the distinct (order, item) projection (sets dedup
    // per order), so the count per item is the number of baskets
    // containing it — no second aggregation over the fact.
    val item = baskets.select(explode(col("items")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
      .where(col("n") >= minItemSupport)
    // Order count over the grouped result — Catalyst prunes the array
    // aggregate for this arm (a count needs only the groups), so it costs
    // a keys-only distinct, not a third pass over the projection.
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    // A pair survives iff both items meet `minItemSupport`, and n_ab is
    // unaffected by when rare items are dropped, so attaching support via
    // inner join after the pair agg is equivalent to pre-filtering. The
    // frequent-item table is far smaller than the pair table — broadcast
    // it (drop the hint only if frequent items outgrow executor memory,
    // ~100M+ distinct items).
    pairs
      .join(broadcast(item.select(col("p").as("pa"), col("n").as("n_a"))), "pa")
      .join(broadcast(item.select(col("p").as("pb"), col("n").as("n_b"))), "pb")
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        expr("cast(n_ab as decimal(38,0)) * n_orders * 1000000" +
          " div (cast(n_a as decimal(38,0)) * n_b)").as("lift_ppm"))
  }
}
