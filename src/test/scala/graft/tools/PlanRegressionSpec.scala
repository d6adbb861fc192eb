package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

import graft.{SparkEntry, SparkSpec, TestSession}

/** Plan-shape regression guards: the properties that make these queries
  * scale are asserted, not just observed — a future edit that silently
  * un-pushes a filter, turns a broadcast star join into a sort-merge
  * cascade, or degrades top-k into a global sort fails here, at test time,
  * instead of at 100 TB.
  *
  * AQE is disabled for plan inspection only (under AQE, codegen collapse
  * and join finalization happen per stage at runtime); production sessions
  * keep it on.
  */
class PlanRegressionSpec extends SparkSpec {

  /** Every node of a physical plan, subqueries included. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p.children ++ p.subqueries).flatMap(allNodes)

  override lazy val spark: SparkSession = {
    val s = TestSession.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01/q02: filters reach the parquet scan (PushedFilters)") {
    assert(plan("q01_pricing_summary").contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val p2 = plan("q02_filter_project")
    assert(p2.contains("PushedFilters:") && p2.contains("EqualTo(l_returnflag,R)"))
  }

  test("q02: scan reads only the projected columns (ReadSchema pruning)") {
    val p = plan("q02_filter_project")
    val schema = "ReadSchema: [^\n]*".r.findFirstIn(p).get
    // 4 output + filter columns only — never the full 11-column lineitem
    assert(!schema.contains("l_extendedprice") && !schema.contains("l_comment"))
  }

  test("q03: star join broadcasts every dimension, no sort-merge join") {
    val p = plan("q03_star_join_agg")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q04/q05: anti and semi joins stay anti/semi in the physical plan") {
    assert(plan("q04_anti_join").toLowerCase.contains("leftanti"))
    assert(plan("q05_semi_join").toLowerCase.contains("leftsemi"))
  }

  test("q09: global top-k is TakeOrderedAndProject, not a full sort") {
    val p = plan("q09_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Sort ["))
  }

  test("q45/q46: as-of and range joins never plan a nested-loop join") {
    assert(!plan("q45_asof_join").contains("NestedLoop"))
    assert(!plan("q46_range_join").contains("NestedLoop"))
  }

  test("q01: aggregation is two-phase (partial before the exchange)") {
    val p = plan("q01_pricing_summary")
    val firstHashAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstHashAgg >= 0 && exchange >= 0,
      "expected hash aggregate + exchange in plan")
    // partial aggregate appears below (after in tree print) the exchange
    assert(p.lastIndexOf("HashAggregate") > exchange,
      "map-side partial aggregation missing")
  }

  test("q57: CUBE expands over exact money partials, one fact pass") {
    // Stage 1: long-cents partials per (flag, status, partition) — the
    // fact-table exchange carries groups×partitions tiny rows. Stage 2:
    // the cube's Expand + hash-agg (the decimal combine) over partials.
    // The empty-relation correction branch (SQL-standard () row) must
    // REUSE the fact exchange, not rescan: exactly one FileScan, and a
    // ReusedExchange feeding the global-agg arm.
    val p = plan("q57_cube")
    assert(p.contains("Expand"), "grouping sets should expand, not rescan")
    assert("FileScan".r.findAllIn(p).size == 1,
      "correction branch must not add a second fact scan")
    assert(p.contains("ReusedExchange"),
      "correction branch should read the reused partials exchange")
    // Bound the number of PHYSICAL exchanges: the single-FileScan +
    // ReusedExchange asserts alone still pass if a refactor inserts an
    // extra shuffle (e.g. before the cube agg), so a shuffle regression
    // would ship silently without this. Count operator LINES whose first
    // token is "Exchange" — a ReusedExchange line renders as
    // "ReusedExchange [...], Exchange hashpartitioning(...)" and matched a
    // bare "Exchange" regex twice, which is the brittleness the old exact
    // count died of; line-anchored counting is stable against it.
    val realExchanges = p.linesIterator
      .count(_.dropWhile(!_.isLetter).startsWith("Exchange"))
    assert(realExchanges <= 3,
      s"plan grew a new shuffle: $realExchanges physical exchanges")
    // The Expand must sit ABOVE the fact exchange (tree prints top-down):
    // expanding before the partial agg would 4x the fact rows.
    assert(p.indexOf("Expand") < p.indexOf("ReusedExchange"),
      "Expand should run over partials, not the fact scan")
  }

  test("q58: subquery predicates are pushed into the lineitem scans") {
    val p = plan("q58_subqueries")
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    assert(p.contains("GreaterThan(l_tax,0.07)"))
    assert(!p.contains("SortMergeJoin"), "decorrelated joins should broadcast")
  }

  test("q59/q65: sessionize is one exchange; LSH sizes via agg, never a bucket window") {
    assert("Exchange".r.findAllIn(plan("q59_sessionize")).size == 1)
    // q65's bucket_size comes from a map-side-combinable aggregate joined
    // back by broadcast — a window partitioned by the <=256 skewed LSH
    // buckets (capping parallelism and buffering whole buckets) must not
    // reappear.
    val p65 = plan("q65_hyperplane_lsh")
    assert(!p65.contains("Window"), "q65 must not window by bucket")
    assert(p65.contains("BroadcastHashJoin"),
      "the <=256-row bucket-size table must broadcast back")
  }

  test("q61: token chunking is shuffle-free (zero exchanges)") {
    assert(!plan("q61_doc_chunks").contains("Exchange"))
  }

  test("q78: cross-corpus band join is an equi hash join, never nested-loop") {
    val p = plan("q78_neardup_contamination")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q79: vocab top-k is TakeOrdered and the vocab join broadcasts") {
    val p = plan("q79_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"),
      "vocab selection must be distributed top-k, not a global sort/window")
    assert(p.contains("BroadcastHashJoin"),
      "the k-row vocabulary must broadcast, not shuffle the token stream")
  }

  test("q80: repetition features are per-row (only the fanOut exchange)") {
    // Parallelize.fanOut contributes the one round-robin exchange on small
    // corpora (single-split scan floor); the feature math itself stays
    // per-row — no aggregation/join exchange may appear.
    val p = plan("q80_ngram_repetition")
    assert("Exchange".r.findAllIn(p).size <= 1)
    assert(!p.contains("Exchange hashpartitioning"),
      "repetition features must not introduce a keyed shuffle")
  }

  test("q18: the shared tumbling aggregate plans without its watermark") {
    // q18 and q42 run one definition (Streams.tumblingStats); on a batch
    // input Spark drops its watermark (EliminateEventTimeWatermark),
    // leaving q18's plain two-phase hash-agg over one scan and one exchange.
    import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
    val qe = SparkEntry.queries("q18_tumbling_window")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collectFirst { case w: EventTimeWatermark => w }.isEmpty)
    val p = qe.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1)
    assert("HashAggregate".r.findAllIn(p).size == 2)
    assert("FileScan".r.findAllIn(p).size == 1)
  }

  test("q81: sliding window is one Expand + two-phase hash-agg, one exchange") {
    val p = plan("q81_sliding_window")
    assert(p.contains("Expand"), "window membership should expand rows, not join")
    assert("Exchange".r.findAllIn(p).size == 1)
  }

  test("q82: winsorize broadcasts group bounds, no window over the fact table") {
    val p = plan("q82_winsorize")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window"), "per-row clip must not sort the fact table")
  }

  test("q84: salted agg is two exchange stages, no reducer owns a whole key") {
    val p = plan("q84_salted_agg")
    assert("Exchange".r.findAllIn(p).size == 2,
      "expect the (key, salt) pre-aggregate exchange plus the key combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"))
  }

  test("q88: every funnel step's type filter reaches its scan") {
    val p = plan("q88_funnel")
    Seq("signup", "view", "click", "purchase").foreach(step =>
      assert(p.contains(s"EqualTo(event_type,$step)"),
        s"step $step filter must push to the parquet scan"))
    assert(!p.contains("SortMergeJoin"),
      "shrinking per-step build sides must broadcast, not sort-merge")
  }

  test("q90/q95: exact-moment stats are hash-aggs, never a fact-table window") {
    assert(!plan("q90_linreg").contains("Window"))
    val p95 = plan("q95_zscore_outliers")
    assert(!p95.contains("Window"))
    assert(p95.contains("BroadcastHashJoin"),
      "per-group stats must broadcast back onto the rows")
  }

  test("q96: skyline is the linear sort-scan shape, not a quadratic self-join") {
    val p = plan("q96_pareto")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the NOT EXISTS formulation belongs to the oracle only")
  }

  test("q106: MAD stats broadcast back onto rows, no fact-table window") {
    val p = plan("q106_mad_outliers")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"))
  }

  /** Pin the at-scale Ranked shape: the r12 small-input gate routes tiny
    * inputs through the plain window, so shape pins force the gate off —
    * exactly what any real fact table (or the all-twins suite conf) does. */
  private def forceRanged[T](body: => T): T =
    withConf(graft.core.Gates.RankedSmallInputMaxBytes -> "0")(body)

  test("q107: sweep-line runs the RANGED prefix sum, windows partitioned by (group, range)") {
    // The running count decomposes through Ranked.prefixSumRanged: local
    // windows keyed by (group, range-partition id) — never a window
    // partitioned by the few event types alone, which put a whole type's
    // sweep points on one task. The carry summary must broadcast back.
    // (Above the small-input gate; at test sf the gate would take the
    // plain window, pinned separately below.)
    val p = forceRanged { plan("q107_peak_concurrency") }
    assert(p.contains("_rr_pid"),
      "running count must go through the range-partitioned decomposition")
    assert(p.contains("BroadcastHashJoin"),
      "the per-(group, range) carry summary must broadcast back")
    // and below the gate, the plain-window fast path — no sampling pass
    val small = plan("q107_peak_concurrency")
    assert(!small.contains("_rr_pid") && !small.contains("rangepartitioning"),
      "small inputs must take the single-exchange plain window")
  }

  test("q60: tf exchange shape flips with the corpus size gate (r13)") {
    // Above the gate (forced via 0) the documents are repartitioned BY ID
    // before the explode — one document-sized exchange serves the tf agg
    // and the per-doc window. Below it (the default at test sf) the
    // repartition must NOT appear: the local fanOut shape's narrow
    // aggregated exchanges win at this size (OPTIMIZATION_r13.md §5).
    val idKeyed = withConf(graft.core.Gates.CorpusTfSmallInputMaxBytes -> "0") {
      plan("q60_tfidf")
    }
    assert(idKeyed.contains("hashpartitioning(doc_id"),
      "scale shape must exchange documents by id pre-explode")
    val local = plan("q60_tfidf")
    assert(!local.contains("hashpartitioning(doc_id"),
      "small corpora must keep the fanOut shape (no doc-id exchange)")
  }

  test("Ranked consumers: no fact-buffering window shape can silently return") {
    // q72/q94/q99/q107/q131 route their rank / running-sum through the
    // range-partitioned Ranked primitives. The shape that must NEVER come
    // back is a WindowExec that buffers a fact-sized, non-aggregated
    // child on |groups| tasks (|groups| is 1 for q94's global rank, ~4
    // event types for q72/q107 — the single-task cliffs removed in round
    // 11). Legal windows in these plans are exactly: the local window
    // keyed by (..., _rr_pid) — parallelism = groups × ranges — and the
    // carry window over the tiny aggregated per-(group, range) summary.
    // Assert every WindowExec is one of those two, structurally.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
      ObjectHashAggregateExec, SortAggregateExec}
    // The window's DIRECT input chain (through unary nodes only) must end
    // at an aggregate — "an aggregate exists somewhere in the subtree"
    // would also accept a fact-sized window sitting above a join whose
    // small side happens to be aggregated, which is exactly the cliff
    // shape this pin exists to refuse.
    @annotation.tailrec
    def summarySized(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec
           | _: SortAggregateExec => true
      case u if u.children.size == 1 => summarySized(u.children.head)
      case _ => false
    }
    Seq("q72_histogram", "q94_spend_deciles", "q99_percent_rank",
      "q107_peak_concurrency", "q131_gini_spend").foreach { q =>
      val exec = forceRanged {
        SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      }
      val windows = allNodes(exec).collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: expected the Ranked window arms")
      windows.foreach { w =>
        val ranged = w.partitionSpec.exists(_.references.exists(
          _.name == "_rr_pid"))
        assert(ranged || summarySized(w.child),
          s"$q: a WindowExec buffers a non-summary child without the " +
            s"range id in its partitioning — the single-task/few-task " +
            s"window cliff Ranked exists to remove:\n$w")
      }
    }
  }

  test("q108: blocked edit-distance join is an equi hash join, never all-pairs") {
    val p = plan("q108_name_edit_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "blocking keys must drive an equi join; the residual stays a filter")
  }

  test("q109/q110: signal windows run on a single exchange per fact pass") {
    val p9 = plan("q109_rolling_median")
    assert("Exchange".r.findAllIn(p9).size == 1)
    val p10 = plan("q110_cusum_drift")
    assert(p10.contains("BroadcastHashJoin"),
      "per-type targets must broadcast back onto the event stream")
    assert(!p10.contains("SortMergeJoin"))
  }

  test("q111-q113: basket and graph joins never degrade to sort-merge or all-pairs") {
    Seq("q111_copurchase_lift", "q112_trade_triangles", "q113_pagerank")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("SortMergeJoin"), s"$q: expected broadcast/hash joins")
        assert(!p.contains("CartesianProduct"), s"$q: all-pairs join appeared")
      }
  }

  test("q111: quadratic pair expansion runs once; small consumers rescan, not cache") {
    // Round-8 shape (PLANS.md "Round 8", q111 redesign, min-of-4 at
    // sf0.1): below the
    // materialization gate the plan must NOT cache — the block-manager
    // write made the cold execution 6-7× slower than letting Catalyst
    // slice the three consumers, each column-pruned and partial-agged.
    // What must hold instead: the O(Σ basket²) stage — the collect_set
    // basket build and its generator-chain pair expansion — appears in
    // exactly ONE consumer slice, and the support/order-count sides reach
    // the pair table as broadcasts, never sort-merge.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = SparkEntry.queries("q111_copurchase_lift")(spark, sf)
    val executed = allNodes(df.queryExecution.executedPlan)
    assert(!executed.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "q111: bench-scale plan must not pay a cache build (size gate broken?)")
    val p = df.queryExecution.executedPlan.toString
    // Round-12 shape: every consumer derives from the grouped basket
    // arm, so collect_set legitimately appears in the pair slice and the
    // two (AQE-reusable) support slices — but the QUADRATIC stage, the
    // posexplode + slice pair expansion, must still appear exactly once.
    assert("posexplode".r.findAllIn(p).size == 1,
      "q111: pair expansion entry (posexplode) must appear exactly once")
    assert("slice\\(".r.findAllIn(p).size == 1,
      "q111: the slice pair expansion (the O(basket²) stage) must run once")
    assert("collect_set".r.findAllIn(p).size <= 6, // partial+final × ≤3 slices
      "q111: basket build must not appear beyond the three consumer slices")
  }

  test("q114/q116: governance audits are single hash-agg passes") {
    val p14 = plan("q114_kanonymity")
    assert("Exchange".r.findAllIn(p14).size == 1)
    assert(!p14.contains("Join"))
    val p16 = plan("q116_benford")
    assert(!p16.contains("Join"),
      "the denominator must ride the 9-row window, not a second scan join")
    assert("FileScan".r.findAllIn(p16).size == 1,
      "benford must read the fact table exactly once")
  }

  test("q115: the source-rate table broadcasts back onto the corpus") {
    val p = plan("q115_source_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q120/q121: salted join broadcasts; bucketed join needs no join exchange") {
    val p20 = plan("q120_salted_join")
    assert(!p20.contains("SortMergeJoin") && !p20.contains("CartesianProduct"))
    val p21 = plan("q121_bucketed_join")
    // the only SHUFFLE exchange is the final rollup's — the fact-to-fact
    // join reads co-bucketed inputs with no repartitioning of either side
    // (at sf0.001 the small side legitimately broadcasts; the broadcast-
    // disabled zero-exchange shape is pinned in BucketingSpec)
    assert("Exchange hashpartitioning".r.findAllIn(p21).size == 1,
      "bucketed co-located join must not shuffle either side")
  }

  // ---- round-5/6 pack (q118-q133): pins matching the PLANS.md rows ----

  test("q118: neardup pipeline composes without SMJ or any pairwise scan") {
    val p = plan("q118_neardup_pipeline")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop") &&
      !p.contains("CartesianProduct"))
  }

  test("q25: the default plan is the broadcast kernel — no Exchange, Window or SMJ") {
    // Under the dedup row gate the prefix index is built on the driver and
    // verification streams spark.range under one broadcast: the df
    // aggregate, the prefix window and both set joins are gone.
    val p = plan("q25_ngram_jaccard")
    assert(p.contains("MapPartitions"), "jaccard kernel missing")
    assert(!p.contains("Exchange") && !p.contains("Window") &&
      !p.contains("SortMergeJoin"), p)
  }

  test("q25 at gate 0: the shingle-set column is never filtered; sets broadcast once") {
    // The twin reads ShingleSetExpr once per consumer: no predicate may
    // carry the expression below its projection (an inferred
    // size(sh) > 0 from an inner explode would run it twice per row), and
    // the verification set table broadcasts ONCE, its second join reusing
    // the exchange.
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.types.ArrayType
    val nodes = withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "0") {
      allNodes(SparkEntry.queries("q25_ngram_jaccard")(spark, sf)
        .queryExecution.executedPlan)
    }
    assert(nodes.exists(_.getClass.getSimpleName == "WindowExec"),
      "gate 0 must plan the twin")
    def isShingleSet(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.isInstanceOf[graft.functions.ShingleSetExpr]
    assert(nodes.exists(_.expressions.exists(_.find(isShingleSet).isDefined)))
    assert(!nodes.collect { case f: FilterExec => f }
        .exists(_.condition.find(isShingleSet).isDefined),
      "ShingleSetExpr must not be pushed into a Filter")
    def carriesSets(p: org.apache.spark.sql.execution.SparkPlan) =
      p.output.exists(_.dataType.isInstanceOf[ArrayType])
    val setBroadcasts = nodes.collect { case b: BroadcastExchangeExec if carriesSets(b) => b }
    assert(setBroadcasts.size == 1, s"sets broadcast ${setBroadcasts.size} times")
    assert(nodes.exists {
      case r: ReusedExchangeExec => r.child.isInstanceOf[BroadcastExchangeExec] && carriesSets(r)
      case _ => false
    }, "the second set join must reuse the broadcast")
  }

  test("q119/q129: pure window passes — one exchange, no join") {
    for (n <- Seq("q119_sequence_packing", "q129_rapid_repeats")) {
      val p = plan(n)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, n)
      assert(!p.contains("Join"), s"$n must not join")
      assert(p.contains("Window"), s"$n rides a window")
    }
  }

  test("q122: windows run over the weight histogram, not the fact sort") {
    // Round 8: the crossing rule computes over the (group, value-cents)
    // histogram — the fact table meets ONE hash-agg (exchange 1, full
    // parallelism); the second exchange + the single shared sort serve
    // the ~150-row histogram windows. A fact-table Sort would put the
    // whole table through |groups| window reducers.
    val p = plan("q122_weighted_median")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2)
    assert("Sort \\[".r.findAllIn(p).size == 1,
      "compatible window specs must reuse one sort (over the histogram)")
    // The aggregate must sit BELOW the window machinery in execution
    // order (above it in the printed tree): histogram first, then sort.
    assert(p.indexOf("Window") < p.lastIndexOf("HashAggregate"),
      "expected the histogram hash-agg under the window")
  }

  test("q123: vocab top-k uses the partial+final TopKPerKey operator") {
    val p = plan("q123_vocab_topk")
    assert("TopKPerKey".r.findAllIn(p).size >= 2,
      "expect partial and final TopKPerKeyExec nodes")
    assert(!p.contains("Window"), "must not fall back to row_number")
  }

  test("q124/q127: blocked self-joins stay broadcast-equi, never pairwise") {
    for (n <- Seq("q124_source_overlap", "q127_record_linkage")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n expects broadcast joins")
      assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop") &&
        !p.contains("CartesianProduct"), s"$n must not go pairwise")
    }
  }

  test("q125: the only nested loop is the 1-row decay-anchor scalar") {
    val p = plan("q125_decay_leaderboard")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q126: dim-grid cross joins are the only nested loops; no SMJ") {
    val p = plan("q126_seasonal_anomaly")
    // types × days densification grid: two tiny-distinct cross joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q128: funnel stage joins never degrade to cartesian/nested loop") {
    val p = plan("q128_funnel_rates")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q130: recall joins broadcast the materialized neighbor sets (no SMJ)") {
    val p = plan("q130_ivf_recall")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "checkpointed |queries|*k sides must be broadcast-hinted")
  }

  test("q131: gini windows sort once per segment partition; no SMJ") {
    val p = plan("q131_gini_spend")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"))
  }

  test("q132/q133: roundtrip read is scan-only; bucketing aggregates two-phase") {
    val p32 = plan("q132_zip_roundtrip")
    assert(!p32.contains("Exchange") && !p32.contains("Join"),
      "zip read side is a pure scan+project")
    val p33 = plan("q133_difficulty_buckets")
    assert("Exchange hashpartitioning".r.findAllIn(p33).size == 1)
    assert("HashAggregate".r.findAllIn(p33).size == 2,
      "partial+final aggregation expected")
  }

  // ---- round-9 pins: the round-8 headline claims, asserted ----

  test("signature derivation is shuffle-free: MinHash/SimHash kernels sit on the scan") {
    // The round-8 headline — signatures derive at scan parallelism with
    // ZERO data movement (only fixed-width (id, signature) rows enter the
    // band joins) — pinned on the two shared derivation stages every
    // dedup/contamination query routes through (q24/q26/q40/q75/q78/q85/
    // q118 via minhashSignatures / simhashSignatures; the composites
    // checkpoint the result, so the kernel is only visible in THESE
    // plans). The single permitted exchange is Parallelize.fanOut's
    // round-robin (the single-split scan floor) — never a keyed one.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val docs = graft.core.Tables.load(spark, sf, "documents")
    val stages = Seq(
      "MinHashExpr" ->
        graft.dedup.Dedup.minhashSignatures(docs, "doc_id", "text", 16, 3),
      "SimHash31Expr" ->
        graft.dedup.Dedup.simhashSignatures(docs, "doc_id", "text"))
    for ((kernel, df) <- stages) {
      val nodes = allNodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.expressions.exists(
          _.find(_.getClass.getSimpleName == kernel).isDefined)),
        s"$kernel kernel missing from the derivation plan")
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
        s"$kernel derivation must not shuffle the corpus on a key")
      assert(shuffles.size <= 1,
        s"$kernel derivation allows only the fanOut round-robin exchange")
      // one kernel evaluation per row: the NULL-signature filter must not
      // be pushed below the projection with the kernel inlined into it
      assert(!nodes.collect { case f: org.apache.spark.sql.execution.FilterExec => f }
          .exists(_.condition.find(_.getClass.getSimpleName == kernel).isDefined),
        s"$kernel must not be evaluated inside a Filter")
    }
  }

  test("q01/q57: the aggregate over the fact scan is long partials, never decimal") {
    // functions.Money's two-stage shape: the hot loop over lineitem sums
    // LONGS (decimal-typed aggregation costs ~4x the scan — PLANS.md,
    // "Round 8 (cont.): money aggregation"); decimal appears only in the combine over the tiny
    // partial set. A refactor that reintroduces sum(decimal) over the
    // scan fails here.
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.types.DecimalType
    for (q <- Seq("q01_pricing_summary", "q57_cube")) {
      val nodes = allNodes(
        SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      val aggs = nodes.collect { case h: HashAggregateExec => h }
      // the scan-side aggregates = those with no aggregate below them
      val bottom = aggs.filter(h =>
        allNodes(h).count(_.isInstanceOf[HashAggregateExec]) == 1)
      assert(bottom.nonEmpty, s"$q: no scan-side aggregate found")
      bottom.foreach { h =>
        assert(!h.aggregateExpressions.exists(
            _.aggregateFunction.dataType.isInstanceOf[DecimalType]),
          s"$q: decimal-typed aggregation over the fact scan")
      }
      // and the decimal combine DOES exist above (exactness is decimal)
      assert(aggs.exists(_.aggregateExpressions.exists(
          _.aggregateFunction.dataType.isInstanceOf[DecimalType])),
        s"$q: the decimal(38,0) combine stage is missing")
    }
  }

  test("q102: custom top-k plans as partial+final exec, exactly one exchange") {
    val p = plan("q102_topk_per_group")
    assert("TopKPerKey".r.findAllIn(p).size >= 2,
      "expect partial and final TopKPerKeyExec nodes")
    assert("Exchange".r.findAllIn(p).size == 1)
    assert(!p.contains("Window") && !p.contains("Sort ["),
      "the custom operator must not fall back to window/sort")
  }

  test("q39/q134: pair scoring runs in the broadcast kernel, never a pairwise join") {
    // The round-10 headline: under the corpus guard, the O(pairs) cosine
    // work happens in the broadcast kernels' mapPartitions over primitive
    // arrays — a BNLJ or cluster-keyed join materializing both vectors per
    // pair (~1 KB/pair) must not reappear (10×: q39 8.0→1.2s,
    // q134 21.6→1.75s). Since round 11, q134 goes through the accounting
    // kernel (semanticDedupAccounting): the kept flags come straight out
    // of the single range job, so its plan carries NO join and NO exchange
    // at all — the survivor left-join + distinct shuffle exist only in the
    // past-guard twin.
    // plan(q) is not free for these queries (each build runs the guard
    // probe and the bounded corpus collect before a plan string exists),
    // so build each plan once and run every assertion against it.
    val plans = Seq("q39_embedding_neardup", "q134_semantic_dedup")
      .map(q => q -> plan(q))
    for ((q, p) <- plans) {
      assert(p.contains("MapPartitions"), s"$q: kernel mapPartitions missing")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$q must not score pairs in a join")
    }
    val p134 = plans.toMap.apply("q134_semantic_dedup")
    assert(!p134.contains("Join") && !p134.contains("Exchange"),
      "q134's accounting kernel must emit kept flags with no join/shuffle")
  }
}
