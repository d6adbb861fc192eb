package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bounded-hops reachability (BFS shortest-hops) over a derived edge list.
  *
  * Two execution paths behind one semantic, mirroring the q44 union-find
  * design (driver fast path under a size guard, distributed fallback):
  *
  *  - '''Driver BFS''' when the edge list fits under `driverEdgeLimit`:
  *    collect the (already distributed-derived and materialized) edges and
  *    walk them in microseconds. This is the default because the graphs
  *    this operator targets are ''structurally'' tiny at any data scale —
  *    e.g. q97's top-3-per-source nation trade graph is ≤ 3·|nations| rows
  *    whether the fact table is 6 GB or 100 TB; only its DERIVATION grows
  *    with data, and that stays distributed. Walking a bounded graph with
  *    a distributed recursion pays 5-6 scheduler rounds (plus cluster
  *    barriers) for nothing: measured at sf0.1, every declarative variant
  *    — single-hop, frontier-seeded anchor, AQE-off/1-partition, pointer-
  *    doubled {2,2,1} — costs the same ~0.75s warm (the floor is the
  *    per-statement recursion machinery, not the round count; see
  *    PLANS.md "Round 9", q97 Reach redesign), while the driver walk is 0.07s. On a barrier-
  *    dominated real cluster the gap widens by the per-round barrier cost.
  *
  *  - '''Declarative recursion''' (Spark 4 `WITH RECURSIVE`, UnionLoop)
  *    when the edge list exceeds the guard — the genuinely-distributed
  *    walk for graphs that are NOT bounded: same bounded-frontier
  *    semantics, min-dist aggregated outside the loop. The two paths are
  *    parity-gated against each other in AnalyticsSpec.
  */
object Reach {

  /** Default driver guard: far above any dimension-keyed graph (a top-k
    * per-source graph over a dimension key is ≤ k·|dim| edges) and far
    * below driver-memory risk — same posture as Dedup's driverEdgeLimit. */
  val DefaultDriverEdgeLimit = 2000000

  /** Shortest hop count from `source` to every node reachable in ≤
    * `maxHops` over `edgesView` (a registered temp view with integer-typed
    * `src`, `dst` columns, already materialized). Output: (node BIGINT,
    * hops INT), one row per reached node including the source at 0. */
  def shortestHops(s: SparkSession, edgesView: String, source: Long,
                   maxHops: Int,
                   driverEdgeLimit: Int = DefaultDriverEdgeLimit): DataFrame = {
    val edges = s.table(edgesView)
    // Session override (spark.graft.reach.driverEdgeLimit) beats the call
    // parameter — same posture as Dedup's guard; how the all-twins gate
    // forces the recursive distributed path suite-wide.
    // Clamped below Int.MaxValue: the probes use limit + 1, and a session
    // forcing the driver path with limit=Int.MaxValue would otherwise wrap
    // negative and make Dataset.limit throw.
    val limit = math.min(graft.core.Gates.effectiveLimit(s,
      graft.core.Gates.ReachDriverEdgeLimit, driverEdgeLimit.toLong),
      (Int.MaxValue - 1).toLong).toInt
    // Probe with a COUNT over limit(n+1): the count aggregates on the
    // executors, so deciding "too big" ships one long to the driver — not
    // limit+1 rows — and one row past the limit proves "too big"
    // without counting the full list. Only a winning guard then collects
    // (a second tiny job; the view is already materialized, so both jobs
    // read cached/local data).
    val probeCount = edges.limit(limit + 1).count()
    if (probeCount <= limit) {
      // limit(n+1) on the winning-guard collect too: the count above bounds
      // what the FIRST evaluation held; a view whose re-evaluation is not
      // deterministic (lazy re-registration, non-deterministic derivation)
      // could return more rows the second time, and the limit keeps that
      // from shipping an unbounded result to the driver. More than n rows
      // here would silently truncate the BFS, so it falls back instead.
      val adj0 = edges.limit(limit + 1).collect()
      if (adj0.length > limit)
        return shortestHopsRecursive(s, edgesView, source, maxHops)
      // Drop NULL-keyed edges BEFORE dereferencing: the recursive twin's
      // join never matches NULL, so filtering here keeps the two paths
      // semantically identical — without it the driver path NPEd on the
      // same row the declarative path tolerated.
      val adj = adj0
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
        .groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
      val dist = scala.collection.mutable.LinkedHashMap(source -> 0)
      var frontier = Seq(source)
      var d = 0
      while (frontier.nonEmpty && d < maxHops) {
        d += 1
        frontier = frontier
          .flatMap(n => adj.getOrElse(n, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(n => dist(n) = d)
      }
      import s.implicits._
      dist.toSeq.toDF("node", "hops")
        .select(col("node").cast("bigint").as("node"),
          col("hops").cast("int").as("hops"))
    } else shortestHopsRecursive(s, edgesView, source, maxHops)
  }

  /** Distributed fallback: bounded-frontier declarative recursion —
    * the same semantics q44 expresses with min-label propagation.
    * The DISTINCT inside the recursive step is load-bearing: without
    * it the CTE enumerates every WALK of length ≤ maxHops, and on the
    * dense cyclic graphs that actually exceed the driver guard the
    * intermediate row count grows like degree^maxHops before the MIN
    * ever runs. Deduplicating each level caps level d at ≤ |nodes|
    * rows, so the whole recursion materializes ≤ maxHops·|nodes| rows
    * (a node can still reappear at several depths — no cross-level
    * visited set — which the outer MIN resolves exactly). */
  private def shortestHopsRecursive(s: SparkSession, edgesView: String,
                                    source: Long, maxHops: Int): DataFrame =
    s.sql(s"""
      WITH RECURSIVE walk(node, dist) AS (
        SELECT CAST($source AS BIGINT), 0
        UNION ALL
        SELECT DISTINCT h.dst, w.dist + 1 FROM walk w
        JOIN $edgesView h ON h.src = w.node
        WHERE w.dist < $maxHops AND h.dst IS NOT NULL)
      SELECT CAST(node AS BIGINT) AS node, CAST(MIN(dist) AS INT) AS hops
      FROM walk GROUP BY node""")
}
