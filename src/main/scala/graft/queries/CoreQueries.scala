package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.ColumnOps
import graft.functions.IsoDuration

/** Core relational + scalar-function query pack, each paired with an ANSI-SQL
  * oracle the driver runs in DuckDB (SURVEY.md §2.2-2.8 coverage).
  *
  * Cross-engine exactness rules used throughout:
  *  - sums/avgs of doubles go through DECIMAL casts (exact in both engines),
  *    then cast back to DOUBLE for a stable output schema;
  *  - no raw timestamps in outputs (parquet tz-annotation differences) —
  *    epoch seconds or formatted strings instead;
  *  - every computed column is aliased identically in Spark and SQL.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1/A2: grouped aggregation with map-side partial agg; the filter is
    // pushed to the parquet scan (PushedFilters) and only 7 of 11 columns
    // are read (ReadSchema pruning). Money sums run through the two-stage
    // long-cents/decimal-combine path (functions.Money): decimal-typed hot
    // loops cost 4× the scan on this shape, and the long partials stay
    // exact per-partition while the decimal combine keeps the 100 TB
    // 4-group total overflow-proof. disc_price multiplies in 10⁻⁴ units:
    // cents(ep)·(100 − cents(disc)) — the same integers the decimal
    // formulation multiplies, so totals match the oracle digit-for-digit.
    "q01_pricing_summary" -> ((s, dir) => {
      import graft.functions.Money
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      Money.sumUnitsExact(li, Seq("l_returnflag", "l_linestatus"),
          Seq("sum_qty" -> Money.cents(col("l_quantity")),
            "sum_base_price" -> Money.cents(col("l_extendedprice")),
            "sum_disc_price" -> (Money.cents(col("l_extendedprice")) *
              (lit(100L) - Money.cents(col("l_discount"))))),
          countAs = Some("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          Money.toMajor(col("sum_qty"), 100).as("sum_qty"),
          Money.toMajor(col("sum_base_price"), 100).as("sum_base_price"),
          Money.toMajor(col("sum_disc_price"), 10000).as("sum_disc_price"),
          col("count_order"))
    }),

    // P2/P4: projection + compound predicate — entirely pushed down.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
    }),

    // J1/J2-shape: fact-to-dims star join. nation/region carry an
    // explicit broadcast hint (25/5 rows at EVERY scale factor); customer
    // does NOT — it scales with SF (~15B rows at the 100 TB point, far
    // past the 8 GB broadcast cap), so the planner decides from size:
    // auto-broadcast at bench scale, shuffle join at warehouse scale,
    // instead of a hint that becomes a hard job-abort.
    "q03_star_join_agg" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // J4: left-anti — customers that never ordered.
    "q04_anti_join" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // left-semi — customers with at least one open order.
    "q05_semi_join" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      customer.join(open, customer("c_custkey") === open("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // W1: row_number latest-per-key snapshot (the CDC dedup window),
    // deterministic via the unique event_id tiebreak.
    "q06_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // A4/Q1-shape: duplicate-key counting (the DQ 'unique' rule denominator).
    "q07_dup_count" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
    }),

    // U1/U4: union of two branches + distinct.
    "q08_union_dedup" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val a = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"))
      val b = orders.filter(col("o_totalprice") > 200000.0)
        .select(col("o_orderkey"), col("o_custkey"))
      a.unionByName(b).dropDuplicates()
    }),

    // O1: global top-k with a unique-key tiebreak (TakeOrderedAndProject —
    // no full sort, each partition keeps k rows then the driver merges).
    "q09_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(20)
    }),

    // F3/F4/F12/F17: scalar string surface — nvl, null-if-blank, md5
    // content hash, casing, length.
    "q10_scalar_strings" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        ColumnOps.nvl(ColumnOps.nullIfBlank(col("c_name")), "-").as("name_nvl"),
        upper(col("c_mktsegment")).as("seg_upper"),
        ColumnOps.contentHash(col("c_name"), col("c_mktsegment")).as("content_hash"),
        length(col("c_name")).as("name_len"))
    }),

    // F13/F15-shape: datetime parts + formatted output (no raw timestamps
    // in the result — parquet tz annotations differ between engines).
    "q11_datetime_parts" -> ((s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"),
        date_format(col("ts"), "yyyy-MM-dd").as("day_str"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
    }),

    // A3: group + HAVING (post-aggregation filter). Long-cents partials +
    // decimal combine (functions.Money) — totals identical, HAVING applied
    // to the same double.
    "q16_having" -> ((s, dir) => {
      import graft.functions.Money
      Money.sumUnitsExact(t(s, dir, "lineitem"), Seq("l_suppkey"),
          Seq("tq" -> Money.cents(col("l_quantity"))))
        .select(col("l_suppkey"),
          Money.toMajor(col("tq"), 100).as("total_qty"))
        .filter(col("total_qty") > 24000.0)
    }),

    // A6: word count — split/explode/count (the RDD demo, DataFrame-native).
    "q17_wordcount" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), "\\s+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
    }),

    // Streaming-semantics batch check: tumbling 1-hour window per type —
    // the one aggregate q42 runs unchanged under readStream.
    "q18_tumbling_window" -> ((s, dir) =>
      graft.streaming.Streams.tumblingStats(t(s, dir, "events"))),

    // Cohort retention: users bucketed by first-seen week; how many are
    // still active k weeks later. Two hash-aggs and one key join — the
    // fact table shuffles once on user_id; integer week indices keep the
    // oracle exact.
    "q87_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_timestamp(ts) div 604800").as("week"))
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      ev.join(cohorts, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Time-spine gap filling: hourly aggregates INCLUDING empty hours —
    // the resampling step every time-series feature pipeline needs (a
    // missing bucket must be an explicit zero, not an absent row). The
    // spine is generated (sequence + explode from the corpus's own min/max
    // hour), crossed with the observed type dimension, then left-joined
    // against the real aggregates — generation is free parallelism, no
    // shuffle of the fact table beyond the one hourly groupBy.
    "q86_time_spine" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // ONE scan of the fact: bounds and the observed type dimension are
      // exactly derivable from the hourly aggregate (min/max of its
      // hour_epoch, distinct of its event_type), so they are computed from
      // the checkpointed aggregate instead of two more independent
      // subtrees that would each re-read the 100 TB fact (no exchange
      // reuse across differing subtrees). The q126 pattern.
      val hourly = ev
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("sv"))
        .localCheckpoint(true)
      val bounds = hourly.agg(
        min(col("hour_epoch")).as("lo"), max(col("hour_epoch")).as("hi"))
      val spine = bounds.select(
        explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_epoch"))
      val types = hourly.select(col("event_type")).distinct()
      spine.crossJoin(types)
        .join(hourly, Seq("hour_epoch", "event_type"), "left")
        .select(col("hour_epoch"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sv"), lit(0.0)).as("sum_value"))
    }),

    // Salted two-stage aggregation — the hot-key mitigation as a GATED
    // query: pre-aggregate on (key, salt) so no reducer owns a whole hot
    // key, then combine the 16 partials per key. Result provably equals
    // the plain aggregate (the oracle IS the plain aggregate); decimal
    // partials keep the regrouped sum exact. lineitem has only 3 return
    // flags — exactly the shape where an unsalted shuffle melts a reducer.
    "q84_salted_agg" -> ((s, dir) => {
      // Salt partials carry exact long cents; the 16-partial combine runs
      // in decimal — the money discipline applied to the salted shape.
      import graft.functions.Money
      val salted = t(s, dir, "lineitem")
        .withColumn("_salt", pmod(xxhash64(col("l_orderkey")), lit(16L)))
      salted.groupBy(col("l_returnflag"), col("_salt"))
        .agg(sum(Money.cents(col("l_quantity"))).as("pq"), count(lit(1)).as("pn"))
        .groupBy(col("l_returnflag"))
        .agg(Money.toMajor(sum(col("pq").cast("decimal(38,0)")), 100)
            .as("sum_qty"),
          sum(col("pn")).as("n"))
    }),

    // Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    // event lands in duration/slide = 2 windows. Same built-in window()
    // operator as q18 with a slide argument; the restatement expands the
    // window membership explicitly (grid point and its predecessor).
    "q81_sliding_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("window_epoch"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // As-of (point-in-time) join: each event picks the latest order of the
    // same customer at-or-before the event time — union+window plan (one
    // key shuffle, linear), never an inequality join. Right side deduped
    // per (key, ts) so both engines' ASOF pick the same row.
    "q45_asof_join" -> ((s, dir) => {
      import graft.operators.AsOfJoin
      val events = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = AsOfJoin.latestPerKeyTs(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"), "o_orderdate", "o_orderkey")
      AsOfJoin.asofJoin(events, orders,
          leftKeys = Seq("user_id"), rightKeys = Seq("o_custkey"),
          leftTs = "ts", rightTs = "o_orderdate",
          rightCols = Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"),
          col("o_totalprice"))
    }),

    // Range (interval) join: every 10th event opens a 1-hour window; the
    // other events join into same-user windows containing their timestamp.
    // Bucketed equi-join formulation — never an inequality BNLJ.
    "q46_range_join" -> ((s, dir) => {
      import graft.operators.RangeJoin
      val e = t(s, dir, "events")
      val points = e.filter(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("user_id"), col("ts"))
      val intervals = e.filter(col("event_id") % 10 === 0)
        .select(col("user_id").as("iv_user"), col("event_id").as("interval_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      RangeJoin.pointInInterval(points, intervals,
          pointKeys = Seq("user_id"), intervalKeys = Seq("iv_user"),
          tsCol = "ts", startCol = "start_ts", endCol = "end_ts",
          intervalCols = Seq("interval_id"))
        .select(col("event_id"), col("user_id"), col("interval_id"))
    }),

    // TPC-H Q3 shape: segment-filtered 3-way join, grouped revenue, top-10
    // by revenue. Dims broadcast; the only wide shuffle is the final group.
    "q47_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("2000-06-30").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("2000-06-30").cast("timestamp"))
      // Revenue in 10⁻⁴-unit longs: the group is ONE order (≤7 lineitems),
      // so the long sum is overflow-safe at any scale — no decimal in the
      // per-row multiply or the agg buffer (same integers as the decimal
      // formulation, totals digit-identical).
      import graft.functions.Money
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(cust, orders("o_custkey") === cust("c_custkey")) // SF-scaling: no hint
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(Money.toMajor(sum(Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.cents(col("l_discount")))), 10000)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-way join down the region axis — customer and
    // supplier must sit in the same nation (the classic co-location
    // predicate), revenue per nation.
    "q48_local_supplier_volume" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      // Per-nation revenue through the two-stage money path: a nation
      // group spans the whole fact table, so the long partials stay
      // per-partition and the decimal combine keeps the 100 TB total
      // overflow-proof.
      import graft.functions.Money
      val joined = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .join(supp, li("l_suppkey") === supp("s_suppkey")) // SF-scaling: no hint
        .filter(cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      // chunkBy: the partials' input is a sort-merge-join OUTPUT, whose
      // row order a fetch-failure retry may replay differently — the
      // content-derived chunk keeps re-chunking deterministic (see
      // Money.partialUnits retry-determinism doc). (l_orderkey,
      // l_linenumber) is the fact row's unique key, so buckets stay
      // uniform even under order-key skew.
      Money.sumUnitsExact(joined, Seq("n_name"),
          Seq("rev" -> (Money.cents(col("l_extendedprice")) *
            (lit(100L) - Money.cents(col("l_discount"))))),
          chunkBy = Some(li("l_orderkey") * 8 + li("l_linenumber")))
        .select(col("n_name"),
          Money.toMajor(col("rev"), 10000).as("revenue"))
    }),

    // ROLLUP subtotals (beyond the reference's flat GROUP BY): revenue per
    // (region, nation), per region, and grand total in ONE pass — Spark
    // expands grouping sets before the shuffle, so it's still a single
    // aggregation, not three scans. grouping_id disambiguates subtotal
    // NULLs from real NULLs.
    "q49_rollup" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      // Long-cents partials per (region, nation) off the joined fact rows
      // (functions.Money), then the rollup expands over ≤|nations| exact
      // partials — subtotal semantics and gid unchanged, decimal combine
      // off the hot path.
      val joined = orders
        .join(customer, orders("o_custkey") === customer("c_custkey")) // SF-scaling: no hint
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      val p = graft.functions.Money.partialUnits(joined,
          Seq("r_name", "n_name"),
          Seq("rev" -> graft.functions.Money.cents(col("o_totalprice"))),
          countAs = Some("pn"))
      val rolled = p.rollup(col("r_name"), col("n_name"))
        .agg(graft.functions.Money
            .toMajor(sum(col("rev").cast("decimal(38,0)")), 100)
            .as("revenue"),
          sum(col("pn")).as("n_orders"),
          grouping_id(col("r_name"), col("n_name")).cast("int").as("gid"))
      // SQL-standard empty-relation semantics — the shared shape
      // (QueryShapes.emptyGroupingCorrection; rationale at q57_cube).
      val globalIfEmpty = QueryShapes.emptyGroupingCorrection(p,
        centsCol = "rev", moneyAlias = "revenue",
        countCol = "pn", countAlias = "n_orders",
        nullCols = Seq("r_name", "n_name"), gid = 3)
      rolled.unionByName(globalIfEmpty)
    }),

    // Window-frame family the reference never exposes (SURVEY §2.5): lag,
    // lead, and a 3-row moving average per customer ordered by order date.
    "q50_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val frame = w.rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        round(avg(dec(col("o_totalprice"))).over(frame).cast("double"), 6)
          .as("moving_avg3"))
    }),

    // INTERSECT / EXCEPT (absent from the reference, SURVEY §2.7): customers
    // with both open and finished orders vs open-only, tagged and unioned
    // into one result set.
    "q51_set_ops" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val open = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val done = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      open.intersect(done).withColumn("tag", lit("both"))
        .unionByName(open.except(done).withColumn("tag", lit("open_only")))
    }),

    // Pivot (wide conditional aggregation): order counts per market segment
    // by order status — Spark's pivot with pinned values compiles to the
    // same single-pass conditional aggregate the SQL restates.
    "q52_pivot" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders.join(customer, orders("o_custkey") === customer("c_custkey")) // SF-scaling: no hint
        .groupBy(col("c_mktsegment"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        // absent (segment, status) combos pivot to null; the SQL FILTER
        // restatement counts them as 0 — align.
        .select(col("c_mktsegment"), coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // F8/F9 + custom Catalyst expressions: ISO-8601 duration parse → add →
    // integer-micros avg → ISO format at the string boundary.
    "q19_iso_duration" -> ((s, dir) => {
      val withIso = t(s, dir, "events").select(
        col("event_type"),
        concat(lit("PT"), (col("user_id") % 120).cast("string"), lit("M")).as("iso_m"),
        concat(lit("PT"), (col("event_id") % 50).cast("string"), lit("S")).as("iso_s"))
      withIso
        .withColumn("total_micros",
          IsoDuration.durationMicros(col("iso_m")) + IsoDuration.durationMicros(col("iso_s")))
        .groupBy(col("event_type"))
        .agg(sum(col("total_micros")).as("sum_micros"), count(lit(1)).as("n"))
        .select(col("event_type"),
          // Integer `div`, not floor(double /): the oracle's `//` is exact
          // integer division, and long/long in Spark widens to DOUBLE —
          // past 2^53 µs-sums (reachable at large SF) the rounded quotient
          // can differ from the exact one by 1 µs and flip the formatted
          // string. Same bug class as RangeJoin's bucket ids.
          IsoDuration.formatDuration(expr("sum_micros div n")).as("avg_duration"))
    })
  )

  /** ISO-duration formatter as DuckDB SQL over integer microseconds. */
  private def isoSql(m: String): String =
    s"""CASE WHEN $m = 0 THEN 'P0D' ELSE
       |'P' || CASE WHEN ($m // 86400000000) > 0 THEN ($m // 86400000000)::VARCHAR || 'D' ELSE '' END ||
       |CASE WHEN ($m % 86400000000) > 0 THEN 'T' ||
       |  CASE WHEN ($m % 86400000000 // 3600000000) > 0 THEN ($m % 86400000000 // 3600000000)::VARCHAR || 'H' ELSE '' END ||
       |  CASE WHEN ($m % 3600000000 // 60000000) > 0 THEN ($m % 3600000000 // 60000000)::VARCHAR || 'M' ELSE '' END ||
       |  CASE WHEN ($m % 60000000) > 0 THEN
       |    CASE WHEN ($m % 1000000) = 0 THEN ($m % 60000000 // 1000000)::VARCHAR
       |         ELSE ($m % 60000000 // 1000000)::VARCHAR || '.' || rtrim(format('{:06d}', $m % 1000000), '0') END || 'S'
       |  ELSE '' END
       |ELSE '' END END""".stripMargin.replace("\n", " ")

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 45
        |  AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'""".stripMargin,

    "q03_star_join_agg" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q04_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin,

    "q06_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1""".stripMargin,

    "q07_dup_count" ->
      """SELECT o_custkey, COUNT(*) AS cnt FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) > 1""".stripMargin,

    "q08_union_dedup" ->
      """SELECT DISTINCT o_orderkey, o_custkey FROM (
        | SELECT o_orderkey, o_custkey FROM orders WHERE o_orderstatus = 'F'
        | UNION ALL
        | SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 200000.0)""".stripMargin,

    "q09_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q10_scalar_strings" ->
      """SELECT c_custkey,
        | COALESCE(NULLIF(TRIM(c_name), ''), '-') AS name_nvl,
        | UPPER(c_mktsegment) AS seg_upper,
        | md5(concat_ws('~', COALESCE(c_name, chr(0)), COALESCE(c_mktsegment, chr(0)))) AS content_hash,
        | LENGTH(c_name) AS name_len
        |FROM customer""".stripMargin,

    "q11_datetime_parts" ->
      """SELECT event_id,
        | year(ts) AS y, month(ts) AS m, dayofmonth(ts) AS d, hour(ts) AS h,
        | strftime(ts, '%Y-%m-%d') AS day_str,
        | epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch
        |FROM events""".stripMargin,

    "q16_having" ->
      """SELECT l_suppkey,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 24000.0""".stripMargin,

    "q17_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        | SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word""".stripMargin,

    "q18_tumbling_window" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_epoch, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q87_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000::BIGINT AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY cohort_week, week - cohort_week""".stripMargin,

    "q86_time_spine" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS h, event_type, value
        |  FROM events),
        |hourly AS (
        |  SELECT h, event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
        |  FROM e GROUP BY h, event_type),
        |b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM e),
        |spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS h FROM b),
        |types AS (SELECT DISTINCT event_type FROM e)
        |SELECT s.h AS hour_epoch, t.event_type,
        |  COALESCE(hourly.n, 0) AS n_events,
        |  COALESCE(hourly.sv, 0.0) AS sum_value
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN hourly ON hourly.h = s.h AND hourly.event_type = t.event_type""".stripMargin,

    "q84_salted_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q81_sliding_window" ->
      """SELECT w AS window_epoch, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT unnest([(epoch_us(ts) // 1800000000) * 1800,
        |                 (epoch_us(ts) // 1800000000) * 1800 - 1800]) AS w,
        |         event_type, value
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin,

    "q45_asof_join" ->
      """WITH o AS (
        | SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                               ORDER BY o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin,

    "q51_set_ops" ->
      """SELECT o_custkey, 'both' AS tag FROM (
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT o_custkey, 'open_only' AS tag FROM (
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | EXCEPT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,

    "q52_pivot" ->
      """SELECT c_mktsegment,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        | COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        | COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q49_rollup" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_orders,
        | CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q50_window_frames" ->
      """SELECT o_orderkey, o_custkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | round(CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS moving_avg3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,

    "q47_shipping_priority" ->
      """SELECT l_orderkey, o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-06-30 00:00:00'
        |  AND l_shipdate > TIMESTAMP '2000-06-30 00:00:00'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q48_local_supplier_volume" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
        |GROUP BY n_name""".stripMargin,

    "q46_range_join" ->
      """WITH iv AS (
        | SELECT user_id AS iv_user, event_id AS interval_id,
        |        ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts
        | FROM events WHERE event_id % 10 = 0),
        |pt AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 10 <> 0)
        |SELECT pt.event_id, pt.user_id, iv.interval_id
        |FROM pt JOIN iv ON pt.user_id = iv.iv_user
        |  AND pt.ts >= iv.start_ts AND pt.ts < iv.end_ts""".stripMargin,

    "q19_iso_duration" -> {
      // CAST: DuckDB SUM(int) yields HUGEINT, which format('{:06d}') rejects.
      val avg = "CAST(SUM((user_id % 120) * 60000000 + (event_id % 50) * 1000000) // COUNT(*) AS BIGINT)"
      s"""SELECT event_type, ${isoSql(s"($avg)")} AS avg_duration
         |FROM events GROUP BY event_type""".stripMargin
    }
  )
}
