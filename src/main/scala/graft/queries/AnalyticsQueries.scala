package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Behavior, Stats}
import graft.core.Tables
import graft.functions.ColumnOps
import graft.operators.Pareto
import graft.text.Corpus

/** Round-5 query pack: behavioral sequence analytics (ordered funnel,
  * Markov transitions), exact grouped OLS/correlation, BM25 term weighting,
  * JSON property extraction, canonical-corpus selection, ntile deciles,
  * z-score outliers, and a Pareto skyline — each hash-gated against a
  * DuckDB restatement.
  *
  * Exactness discipline (MEMORY: oracle-exactness-rules): probabilities and
  * scores leave the engines as INTEGERS (ppm / micro / basis points) minted
  * by exact integer arithmetic or one floor(x·scale + 0.5) over an
  * identical double expression; filters threshold on those integers, never
  * on raw floats; double sums ride DECIMAL; timestamps compare in µs.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Ordered conversion funnel: users reaching each step strictly after
    // their earliest qualifying previous step. Stage k is a user-key join
    // against a monotonically shrinking build side — AQE broadcasts it.
    "q88_funnel" -> ((s, dir) =>
      Behavior.funnel(t(s, dir, "events"),
        Seq("signup", "view", "click", "purchase"))),

    // First-order Markov transition matrix of each user's event-type
    // sequence; probability as exact integer ppm.
    "q89_markov" -> ((s, dir) =>
      Behavior.transitions(t(s, dir, "events"))),

    // Per-type OLS of value (µ-units) on event hour + Pearson r — exact
    // moments (decimal sums), one final float expression, floor-quantized.
    "q90_linreg" -> ((s, dir) =>
      Stats.linearFit(t(s, dir, "events"), Seq("event_type"),
        expr("unix_micros(ts) div 3600000000"),
        floor(col("value") * lit(1e6) + lit(0.5)))),

    // BM25 top-3 terms per document (integer-deterministic ranking).
    "q91_bm25" -> ((s, dir) =>
      Corpus.bm25TopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")),

    // JSON property extraction + per-type rollup of the extracted field —
    // the semi-structured payload path (events.props is a JSON object).
    "q92_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"))),

    // Canonical-corpus selection: one winner (min doc_id) per exact-content
    // cluster; per-source kept/dropped accounting for the dedup report.
    "q93_canonical_corpus" -> ((s, dir) => {
      // keep_id via a window min per content_hash instead of groupBy +
      // self-join: one scan of the corpus and ONE md5 pass (the join shape
      // read documents — and hashed every text — twice, its branches
      // diverging below any reusable exchange). Window partitions are the
      // dup-clusters themselves: tiny and fully parallel.
      val docs = t(s, dir, "documents")
        .withColumn("content_hash", ColumnOps.contentHash(col("text")))
      val wHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash"))
      docs.withColumn("keep_id", min(col("doc_id")).over(wHash))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("doc_id") === col("keep_id"), col("n_chars"))
            .otherwise(0L)).as("chars_kept"))
    }),

    // Customer-spend deciles: ntile(10) over a TOTAL order (spend desc,
    // custkey) on the 1-row-per-customer aggregate, then per-bucket stats.
    "q94_spend_deciles" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("spend"))
      Stats.ntileSummary(spend, col("spend"), 10,
          Seq(col("spend").desc, col("o_custkey").asc))
        .select(col("bucket").cast("int").as("decile"),
          col("n").as("n_cust"), col("total").as("total_spend"),
          col("lo").as("min_spend"), col("hi").as("max_spend"))
    }),

    // Per-type z-score outliers (|z| > 2.5σ), thresholded on integer basis
    // points so row membership can't flip on a float ulp.
    "q95_zscore_outliers" -> ((s, dir) =>
      Stats.zscoreOutliers(t(s, dir, "events"), "event_type",
        floor(col("value") * lit(1e6) + lit(0.5)),
        Seq("event_id"), thresholdBp = 25000L)
        .select(col("event_id"), col("event_type"), col("z_bp"))),

    // Pareto frontier of parts on (min retailprice, min size) — sort-scan
    // skyline in Spark, independently restated as NOT EXISTS in the oracle.
    "q96_pareto" -> ((s, dir) =>
      Pareto.skyline2d(
        t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"),
          col("p_size")),
        "p_retailprice", "p_size")),

    // Recursive CTE (Spark 4 WITH RECURSIVE): BFS shortest-hops from nation
    // 0 over the top-3-per-source heaviest trade edges (customer nation →
    // supplier nation). The edge derivation is plain joins+rank; the
    // UnionLoop recursion is bounded by dist < 5 and min-dist is aggregated
    // outside the loop — the same bounded-frontier semantics as the
    // distributed pointer-jumping in q44, expressed declaratively.
    "q97_recursive_reach" -> ((s, dir) => {
      Seq("lineitem", "orders", "customer", "supplier").foreach(n =>
        t(s, dir, n).createOrReplaceTempView(s"g5_$n"))
      // Materialize the (≤ 3·|nations|-row) edge list BEFORE the loop:
      // a recursive CTE reference is re-planned per iteration, so leaving
      // the 4-way fact join inside the CTE chain would re-execute it every
      // hop (measured 6× cost at sf0.1). localCheckpoint truncates the
      // lineage — each iteration now joins the tiny cached edge set.
      s.sql("""
        WITH e AS (
          SELECT c.c_nationkey AS src, sp.s_nationkey AS dst, COUNT(*) AS n
          FROM g5_lineitem l
          JOIN g5_orders o ON l.l_orderkey = o.o_orderkey
          JOIN g5_customer c ON o.o_custkey = c.c_custkey
          JOIN g5_supplier sp ON l.l_suppkey = sp.s_suppkey
          WHERE c.c_nationkey <> sp.s_nationkey
          GROUP BY 1, 2),
        ranked AS (
          SELECT src, dst, row_number() OVER (
            PARTITION BY src ORDER BY n DESC, dst ASC) AS r
          FROM e)
        SELECT src, dst FROM ranked WHERE r <= 3""")
        .localCheckpoint(true).createOrReplaceTempView("g5_heavy")
      // The walk: operators.Reach — driver BFS under a size guard
      // (this graph is structurally ≤ 3·|nations| edges at ANY data
      // scale; only the derivation above grows with the fact table),
      // with the Spark 4 WITH RECURSIVE walk as the distributed
      // fallback for unbounded graphs. Measured (PLANS.md, "Round 9":
      // q97 Reach redesign; warm, sf0.1): every declarative-recursion variant — single-hop,
      // frontier-seeded anchor, AQE-off/1-partition, pointer-doubled
      // {2,2,1} — costs the same ~0.75s (the floor is per-statement
      // recursion machinery, not round count); the bounded driver walk
      // is 0.07s, and on a barrier-dominated real cluster the gap only
      // widens. The two paths are parity-gated in AnalyticsSpec.
      graft.operators.Reach.shortestHops(s, "g5_heavy", source = 0L,
        maxHops = 5)
    }),

    // Explicit GROUPING SETS — the asymmetric subtotal shape rollup/cube
    // can't express ((flag), (status), ()); gid disambiguates subtotal
    // rows from real NULL groups. The grouping-sets expansion runs over
    // the handful of exact (flag, status) long-cents partials
    // (functions.Money) — same subtotals, decimal combine off the fact
    // pass.
    "q98_grouping_sets" -> ((s, dir) => {
      graft.functions.Money.partialUnits(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq("sq" -> graft.functions.Money.cents(col("l_quantity"))),
          countAs = Some("pn"))
        .createOrReplaceTempView("g5_li_partial")
      // The UNION ALL arm restores SQL-standard empty-relation semantics
      // (see q57_cube): Spark's GROUPING SETS over an empty input emits
      // zero rows where the standard emits the () row with COUNT 0. A
      // global aggregate always produces one row; HAVING n = 0 keeps it
      // exactly when the input was empty. Both arms read the same partial
      // view, so the fact pass is shared (ReusedExchange).
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(sq AS DECIMAL(38,0))) / 100 AS DOUBLE) AS sum_qty,
          SUM(pn) AS n,
          CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
        FROM g5_li_partial
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        UNION ALL
        SELECT CAST(NULL AS STRING), CAST(NULL AS STRING),
          CAST(SUM(CAST(sq AS DECIMAL(38,0))) / 100 AS DOUBLE),
          COALESCE(SUM(pn), 0), 3
        FROM g5_li_partial
        HAVING COALESCE(SUM(pn), 0) = 0""")
    }),

    // Percent rank as exact integer ppm over a TOTAL order — top 5% orders
    // within each order month. rank/count stay integers end-to-end; the
    // filter thresholds the integer, so membership can't flip on a float.
    // The per-month rank comes from Ranked.rowNumberRanged (window
    // partitions were the ~84 months — each month's entire order volume
    // sorted and buffered on ONE task, a skew cliff AQE cannot split);
    // the per-month count comes from a map-side-combinable aggregate
    // broadcast back, not an unbounded-frame count window that buffers
    // the month all over again.
    "q99_percent_rank" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("int").as("ym"))
      val ranked = graft.operators.Ranked.rowNumberRanged(base, Seq("ym"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), "rk")
      val counts = base.groupBy(col("ym")).agg(count(lit(1)).as("n"))
      ranked.join(broadcast(counts), "ym")
        .where(col("n") > 1)
        .withColumn("prank_ppm",
          expr("((rk - 1) * 1000000) div (n - 1)")) // rk already long
        .where(col("prank_ppm") < 50000L)
        .select(col("o_orderkey"), col("ym"), col("rk"), col("prank_ppm"))
    }),

    // Incremental re-aggregation: daily partials combined into monthly
    // totals, gated against the oracle's DIRECT monthly aggregation — the
    // materialized-rollup pattern (store day-grain partial moments, serve
    // any coarser grain by re-aggregating) proven lossless because every
    // carried moment (decimal sum, count) reassociates exactly.
    "q100_partial_reagg" -> ((s, dir) => {
      // Day-grain moments carried as exact long cents with a decimal
      // combine (functions.Money) — the same reassociation proof, minus
      // the decimal-typed hot loop on the fact pass.
      val daily = graft.functions.Money.sumUnitsExact(
        t(s, dir, "lineitem").withColumn("ymd",
          (year(col("l_shipdate")) * 10000 + month(col("l_shipdate")) * 100 +
            dayofmonth(col("l_shipdate"))).cast("int")),
        Seq("ymd", "l_returnflag"),
        Seq("sq" -> graft.functions.Money.cents(col("l_quantity"))),
        countAs = Some("nd"))
      daily
        .groupBy(expr("ymd div 100").cast("int").as("ym"), col("l_returnflag"))
        .agg(graft.functions.Money.toMajor(sum(col("sq")), 100).as("sum_qty"),
          sum(col("nd")).as("n"))
    }),

    // Last-touch attribution: each purchase credits the user's most recent
    // preceding non-purchase event type — IGNORE NULLS lag carries the last
    // touch forward (the same carry-forward mechanics as LOCF gap filling).
    "q101_last_touch" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("touch",
          lag(when(col("event_type") =!= "purchase", col("event_type")),
            1, null, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase" && col("touch").isNotNull)
        .groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(dec(col("value"))).cast("double").as("attributed_value"))
    }),

    // Custom whole-operator path (plans.TopK): top-3 orders per customer
    // through the TopKPerKeyNode → TopKStrategy → partial/final bounded-heap
    // execution — ships ≤ k rows per (key, partition) through the exchange
    // where the window formulation ships and sorts everything. Oracle
    // restates the row_number window semantics.
    "q102_topk_per_group" -> ((s, dir) =>
      graft.plans.TopK.perKey(t(s, dir, "orders"),
          keys = Seq("o_custkey"),
          orderBy = Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // Cross-engine reconciliation checksum: per-group order-independent sum
    // of 48-bit row hashes — the oracle computes the SAME checksum from the
    // same md5 bytes, so the gate literally performs a Spark↔DuckDB table
    // reconciliation.
    "q103_table_checksum" -> ((s, dir) =>
      graft.quality.Checksums.grouped(t(s, dir, "lineitem"),
        Seq("l_returnflag"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))),

    // Wide→long unpivot (melt) + per-metric rollup — the inverse of q52's
    // pivot; Spark's native unpivot emits (id, metric, value) without a
    // join or union of scans.
    "q104_unpivot" -> ((s, dir) => {
      // Per-metric rollup over the melted rows via long-cents partials
      // (functions.Money) — the unpivot quadruples the fact rows, so the
      // decimal hot loop it fed was the suite's largest.
      import graft.functions.Money
      Money.sumUnitsExact(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
              col("l_discount"), col("l_tax"))
            .unpivot(Array(col("l_orderkey")),
              Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
                col("l_tax")),
              "metric", "v"),
          Seq("metric"),
          Seq("sv" -> Money.cents(col("v"))), countAs = Some("n"))
        .select(col("metric"), col("n"),
          Money.toMajor(col("sv"), 100).as("sum_v"))
    }),

    // LOCF imputation on the hourly spine: where q86 fills gaps with
    // explicit zeros, this carries the LAST OBSERVED value forward (the
    // standard imputation for state-like series: price, level, gauge).
    // last(…, ignoreNulls) over an unbounded-preceding frame — hours before
    // a type's first observation stay null in both engines.
    "q105_locf_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // ONE scan of the fact (the q86/q126 pattern): bounds and the type
      // dimension derive from the checkpointed hourly aggregate instead of
      // re-reading the fact in two more independent subtrees.
      val hourly = ev
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(sum(dec(col("value"))).cast("double").as("sv"))
        .localCheckpoint(true)
      val bounds = hourly.agg(
        min(col("hour_epoch")).as("lo"), max(col("hour_epoch")).as("hi"))
      val spine = bounds.select(
        explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour_epoch"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      spine.crossJoin(hourly.select(col("event_type")).distinct())
        .join(hourly, Seq("hour_epoch", "event_type"), "left")
        .select(col("hour_epoch"), col("event_type"),
          col("sv").isNotNull.as("observed"),
          last(col("sv"), ignoreNulls = true).over(w).as("sv_locf"))
    })
  )

  /** DuckDB funnel-step CTE chain (strictly-after semantics) — shared with
    * q128's conversion-rate oracle in [[SignalQueries]] so the two gates
    * can't drift apart. */
  private[queries] val funnelStepsSql: String =
    """s1 AS (SELECT user_id, MIN(ts) AS t FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
      |       WHERE e.event_type = 'view' GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |s4 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |       JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
      |       WHERE e.event_type = 'purchase' GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q88_funnel" ->
      s"""WITH $funnelStepsSql
        |SELECT 1 AS step_idx, 'signup' AS step, (SELECT COUNT(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
        |UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT COUNT(*) FROM s4)""".stripMargin,

    "q89_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, next_type, COUNT(*) AS n FROM seq
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST((n * 1000000) // (SUM(n) OVER (PARTITION BY prev_type)) AS BIGINT)
        |    AS ppm
        |FROM c""".stripMargin,

    "q90_linreg" ->
      """WITH q AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS x,
        |    CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx,
        |    CAST(SUM(x * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(y * y) AS HUGEINT) AS syy
        |  FROM q GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(FLOOR(
        |    (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS slope_micro,
        |  CAST(FLOOR(
        |    ((CAST(sy AS DOUBLE)
        |      - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS intercept_micro,
        |  CAST(FLOOR(
        |    (CAST(n * sxy - sx * sy AS DOUBLE)
        |     / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * SQRT(CAST(n * syy - sy * sy AS DOUBLE))))
        |    * 1000000.0 + 0.5) AS BIGINT) AS corr_micro
        |FROM m""".stripMargin,

    "q91_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, word AS term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |ag AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot, COUNT(*) AS n_with FROM dl),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl,
        |    CAST(FLOOR(
        |      ((LN((n.n_docs::DOUBLE - dfreq.df::DOUBLE + 0.5)
        |            / (dfreq.df::DOUBLE + 0.5) + 1.0)
        |        * (tf.tf::DOUBLE * (1.2 + 1.0)))
        |       / (tf.tf::DOUBLE
        |          + 1.2 * ((1.0 - 0.75)
        |                   + 0.75 * dl.dl::DOUBLE
        |                     / (ag.tot::DOUBLE / ag.n_with::DOUBLE))))
        |      * 1000000.0 + 0.5) AS BIGINT) AS score_micro
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term)
        |  CROSS JOIN n CROSS JOIN ag),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS INT)
        |    AS term_rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, dl, score_micro, term_rank
        |FROM ranked WHERE term_rank <= 3""".stripMargin,

    "q92_json_props" ->
      """SELECT event_type,
        |  COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  COUNT(DISTINCT k) AS n_distinct_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY 1""".stripMargin,

    "q93_canonical_corpus" ->
      """WITH fp AS (
        |  SELECT doc_id, source, n_chars,
        |    md5(concat_ws('~', COALESCE(text, chr(0)))) AS content_hash
        |  FROM documents),
        |w AS (SELECT content_hash, MIN(doc_id) AS keep_id FROM fp GROUP BY 1)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN doc_id = keep_id THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_kept
        |FROM fp JOIN w USING (content_hash) GROUP BY 1""".stripMargin,

    "q94_spend_deciles" ->
      """WITH spend AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1),
        |b AS (SELECT o_custkey, spend,
        |        ntile(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS decile
        |      FROM spend)
        |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_cust,
        |  CAST(SUM(spend) AS DOUBLE) AS total_spend,
        |  CAST(MIN(spend) AS DOUBLE) AS min_spend,
        |  CAST(MAX(spend) AS DOUBLE) AS max_spend
        |FROM b GROUP BY 1""".stripMargin,

    "q95_zscore_outliers" ->
      """WITH q AS (
        |  SELECT event_id, event_type,
        |    CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(y * y) AS HUGEINT) AS syy
        |  FROM q GROUP BY 1)
        |SELECT event_id, q.event_type,
        |  CAST(FLOOR(
        |    ((CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |     / SQRT(CAST(n * syy - sy * sy AS DOUBLE)
        |            / CAST(n * (n - 1) AS DOUBLE)))
        |    * 10000.0 + 0.5) AS BIGINT) AS z_bp
        |FROM q JOIN m ON q.event_type = m.event_type
        |WHERE ABS(CAST(FLOOR(
        |    ((CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |     / SQRT(CAST(n * syy - sy * sy AS DOUBLE)
        |            / CAST(n * (n - 1) AS DOUBLE)))
        |    * 10000.0 + 0.5) AS BIGINT)) > 25000""".stripMargin,

    "q96_pareto" ->
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
        |FROM part p
        |WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
        |  AND NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))""".stripMargin,

    "q97_recursive_reach" ->
      """WITH RECURSIVE e AS (
        |  SELECT c.c_nationkey AS src, sp.s_nationkey AS dst, COUNT(*) AS n
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
        |  WHERE c.c_nationkey <> sp.s_nationkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT src, dst, row_number() OVER (
        |    PARTITION BY src ORDER BY n DESC, dst ASC) AS r
        |  FROM e),
        |heavy AS (SELECT src, dst FROM ranked WHERE r <= 3),
        |walk(node, dist) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT h.dst, w.dist + 1 FROM walk w
        |  JOIN heavy h ON h.src = w.node WHERE w.dist < 5)
        |SELECT CAST(node AS BIGINT) AS node, CAST(MIN(dist) AS INT) AS hops
        |FROM walk GROUP BY node""".stripMargin,

    "q98_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q99_percent_rank" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym
        |  FROM orders),
        |w AS (
        |  SELECT o_orderkey, ym,
        |    row_number() OVER (PARTITION BY ym
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk,
        |    COUNT(*) OVER (PARTITION BY ym) AS n
        |  FROM r)
        |SELECT o_orderkey, ym, CAST(rk AS BIGINT) AS rk,
        |  CAST(((rk - 1) * 1000000) // (n - 1) AS BIGINT) AS prank_ppm
        |FROM w
        |WHERE n > 1 AND ((rk - 1) * 1000000) // (n - 1) < 50000""".stripMargin,

    // Direct monthly aggregation — the Spark side must reproduce it from
    // day-grain partials exactly.
    "q100_partial_reagg" ->
      """SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ym,
        |  l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q101_last_touch" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    lag(CASE WHEN event_type <> 'purchase' THEN event_type END
        |        IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS touch
        |  FROM events)
        |SELECT touch, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM x
        |WHERE event_type = 'purchase' AND touch IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q102_topk_per_group" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM r WHERE rn <= 3""".stripMargin,

    "q103_table_checksum" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(('0x' || substring(md5(concat_ws('~',
        |        COALESCE(CAST(l_orderkey AS VARCHAR), chr(0)),
        |        COALESCE(CAST(l_partkey AS VARCHAR), chr(0)),
        |        COALESCE(CAST(l_suppkey AS VARCHAR), chr(0)),
        |        COALESCE(CAST(l_linenumber AS VARCHAR), chr(0)),
        |        COALESCE(CAST(l_returnflag AS VARCHAR), chr(0)),
        |        COALESCE(CAST(l_linestatus AS VARCHAR), chr(0)))), 1, 12))
        |      AS BIGINT)) AS VARCHAR) AS checksum
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q104_unpivot" ->
      """WITH long AS (
        |  SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, 'l_tax', l_tax FROM lineitem)
        |SELECT metric, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM long GROUP BY 1""".stripMargin,

    "q105_locf_gap_fill" ->
      """WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS hour_epoch,
        |    event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT MIN(epoch_us(date_trunc('hour', ts)) // 1000000) AS lo,
        |         MAX(epoch_us(date_trunc('hour', ts)) // 1000000) AS hi
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, 3600)) AS hour_epoch FROM bounds),
        |grid AS (
        |  SELECT s.hour_epoch, t.event_type
        |  FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t)
        |SELECT g.hour_epoch, g.event_type,
        |  h.sv IS NOT NULL AS observed,
        |  last_value(h.sv IGNORE NULLS) OVER (
        |    PARTITION BY g.event_type ORDER BY g.hour_epoch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv_locf
        |FROM grid g LEFT JOIN hourly h
        |  ON g.hour_epoch = h.hour_epoch AND g.event_type = h.event_type""".stripMargin
  )
}
