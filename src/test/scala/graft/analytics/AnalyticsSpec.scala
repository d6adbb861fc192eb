package graft.analytics

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Pareto
import graft.text.Corpus

/** Crafted-input semantics for the round-5 analytics pack: funnel ordering,
  * transition probabilities, exact OLS, z-score membership, skyline
  * dominance (including duplicate points), and BM25 ranking. The
  * corpus-level gates live in the q88–q96 oracle checks; these specs pin
  * the EDGE semantics the oracle data may never exercise.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private val ev = Seq(
    // user 1 completes signup -> view -> click, but the purchase PRECEDES
    // the click, so the funnel must not count it.
    (1L, ts(10), 1L, "signup", 1.0),
    (2L, ts(20), 1L, "view", 1.0),
    (3L, ts(25), 1L, "purchase", 1.0),
    (4L, ts(30), 1L, "click", 1.0),
    // user 2: view BEFORE signup — only the signup step counts.
    (5L, ts(40), 2L, "view", 1.0),
    (6L, ts(50), 2L, "signup", 1.0),
    // user 3: full funnel in order.
    (7L, ts(10), 3L, "signup", 1.0),
    (8L, ts(11), 3L, "view", 1.0),
    (9L, ts(12), 3L, "click", 1.0),
    (10L, ts(13), 3L, "purchase", 1.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("funnel counts only strictly-ordered completions") {
    val out = Behavior.funnel(ev, Seq("signup", "view", "click", "purchase"))
      .orderBy("step_idx").collect()
    assert(out.map(r => (r.getAs[String]("step"), r.getAs[Long]("users"))).toSeq ==
      Seq(("signup", 3L), ("view", 2L), ("click", 2L), ("purchase", 1L)))
  }

  test("transitions: per-prev ppm sums to <= 1e6 and counts are exact") {
    val tr = Behavior.transitions(ev).collect()
    val m = tr.map(r => ((r.getString(0), r.getString(1)), r.getAs[Long]("n"))).toMap
    // user 1: signup->view->purchase->click; user 2: view->signup;
    // user 3: signup->view->click->purchase
    assert(m(("signup", "view")) == 2L && m(("view", "purchase")) == 1L)
    val byPrev = tr.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Long]("ppm")).sum)
    byPrev.foreach { case (_, s) => assert(s <= 1000000L && s > 900000L) }
  }

  test("linearFit recovers an exact known line and corr ±1") {
    // y = 3x + 7 exactly: slope_micro 3e6, intercept_micro 7e6, corr 1e6.
    val pts = Seq((0L, 7L), (1L, 10L), (2L, 13L), (3L, 16L))
      .toDF("x", "y").withColumn("g", lit("a"))
    val fit = Stats.linearFit(pts, Seq("g"), col("x"), col("y")).collect().head
    assert(fit.getAs[Long]("slope_micro") == 3000000L)
    assert(fit.getAs[Long]("intercept_micro") == 7000000L)
    assert(fit.getAs[Long]("corr_micro") == 1000000L)
  }

  test("zscoreOutliers flags exactly the planted outlier") {
    val df = (Seq.fill(20)(100L) :+ 100000L).zipWithIndex
      .map { case (v, i) => (i.toLong, "t", v) }
      .toDF("event_id", "event_type", "y")
    val out = Stats.zscoreOutliers(df, "event_type", col("y"),
      Seq("event_id"), thresholdBp = 25000L).collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(20L))
    assert(out.head.getAs[Long]("z_bp") > 40000L)
  }

  test("degenerate groups yield NULL stats (the oracle's /0), never an ANSI abort") {
    // A single-row group zeroes linearFit's denX and zscore's n·(n−1); a
    // constant group zeroes the variance. DuckDB's division yields NULL
    // there (q90 keeps the row with NULL measures, q95's WHERE drops the
    // group) — one bad group must not abort the whole job.
    val pts = Seq((1L, 5L, "solo"), (0L, 7L, "line"), (1L, 10L, "line"),
      (2L, 13L, "line")).toDF("x", "y", "g")
    val fits = Stats.linearFit(pts, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(fits("line").getAs[Long]("slope_micro") == 3000000L)
    val solo = fits("solo")
    assert(solo.isNullAt(solo.fieldIndex("slope_micro")) &&
      solo.isNullAt(solo.fieldIndex("intercept_micro")) &&
      solo.isNullAt(solo.fieldIndex("corr_micro")))
    val z = (Seq((0L, "solo", 5L), (1L, "const", 9L), (2L, "const", 9L)) ++
      Seq.fill(20)(100L).zipWithIndex.map { case (v, i) => (i + 3L, "t", v) } :+
      ((24L, "t", 100000L)))
      .toDF("event_id", "event_type", "y")
    val out = Stats.zscoreOutliers(z, "event_type", col("y"),
      Seq("event_id"), thresholdBp = 25000L).collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(24L),
      "single-row and zero-variance groups emit no outliers, and no error")
  }

  test("skyline2d keeps the frontier, drops dominated, keeps duplicates") {
    val parts = Seq(
      (1L, 1.0, 10), // frontier (cheapest)
      (2L, 2.0, 5), // frontier (smaller than everything cheaper)
      (3L, 2.0, 5), // exact duplicate of 2 — kept (no strict dominance)
      (4L, 2.0, 7), // dominated by 2 (same price, bigger)
      (5L, 3.0, 5), // dominated by 2 (same size, pricier)
      (6L, 4.0, 1), // frontier
      (7L, 5.0, 2) // dominated by 6
    ).toDF("id", "price", "size")
    val kept = Pareto.skyline2d(parts, "price", "size")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 6L))
  }

  test("skyline2d excludes NULL-objective rows, matching the NOT EXISTS twin") {
    // A row with an unknown objective cannot be certified non-dominated;
    // pre-fix the two formulations DISAGREED on such rows (the semi-join
    // dropped them, a bare NOT EXISTS kept them).
    val parts = Seq(
      (1L, Some(1.0), Some(10)),
      (2L, Option.empty[Double], Some(1)),
      (3L, Some(2.0), Option.empty[Int])
    ).toDF("id", "price", "size")
    val kept = Pareto.skyline2d(parts, "price", "size")
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L), s"NULL-objective rows must be excluded: $kept")
  }

  test("skyline2dRanged matches skyline2d exactly (near-unique x, ties, NULLs)") {
    // The range-partitioned variant decomposes the prefix-min scan; it
    // must agree row-for-row with the single-window formulation on a
    // near-unique x (every row its own x), exact-duplicate rows, same-x
    // different-y, NULL objectives — across several range counts,
    // including ranges > |distinct x| (empty partitions).
    val rnd = new scala.util.Random(42)
    val rows = (1 to 500).map { i =>
      (i.toLong, rnd.nextDouble() * 100, rnd.nextInt(1000))
    } ++ Seq(
      (1001L, 13.5, 7), (1002L, 13.5, 7),     // exact duplicates
      (1003L, 13.5, 9))                        // same-x dominated
    val parts0 = rows.toDF("id", "price", "size")
    val withNulls = parts0.unionByName(Seq(
      (2001L, Option.empty[Double], Option(1)),
      (2002L, Option(0.001), Option.empty[Int]))
      .toDF("id", "price", "size"))
    val base = Pareto.skyline2d(withNulls, "price", "size")
      .select("id").as[Long].collect().sorted.toSeq
    assert(base.nonEmpty && base.size < rows.size)
    for (r <- Seq(1, 7, 64, 1024)) {
      val ranged = Pareto.skyline2dRanged(withNulls, "price", "size", r)
        .select("id").as[Long].collect().sorted.toSeq
      assert(ranged == base, s"ranges=$r diverged from skyline2d")
    }
  }

  test("skyline2dRanged stays exact with exchange reuse disabled (pinned layout)") {
    // Same boundary-consistency hazard as Ranked: with reuse off the two
    // arms would re-sample range boundaries independently; the shared
    // pinIfNoReuse must keep the skyline exact.
    val rows = (1 to 300).map(i => (i.toLong, (i % 37).toDouble, i % 11))
      .toDF("id", "price", "size")
    val base = Pareto.skyline2d(rows, "price", "size")
      .select("id").as[Long].collect().sorted.toSeq
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val ranged = Pareto.skyline2dRanged(rows, "price", "size", 8)
        .select("id").as[Long].collect().sorted.toSeq
      assert(ranged == base)
    } finally spark.conf.set("spark.sql.exchange.reuse", "true")
  }

  test("Reach: a NULL-keyed edge is ignored by BOTH paths, not an NPE") {
    // The recursive twin's join never matches NULL; the driver path must
    // drop the same rows instead of dereferencing them.
    Seq((Some(0L), Some(1L)), (Some(1L), None), (None, Some(2L)),
      (Some(1L), Some(2L)))
      .toDF("src", "dst").createOrReplaceTempView("reach_null_edges")
    val bfs = graft.operators.Reach
      .shortestHops(spark, "reach_null_edges", source = 0L, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val rec = withConf(graft.core.Gates.DriverEdgeLimit -> "0") {
      graft.operators.Reach
        .shortestHops(spark, "reach_null_edges", source = 0L, maxHops = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    }
    assert(bfs == Seq((0L, 0), (1L, 1), (2L, 2)))
    assert(rec == bfs)
  }

  test("bm25 ranks rarer terms above saturated common ones") {
    val docs = Seq(
      (1L, "rare common common common common"),
      (2L, "common common common common common"),
      (3L, "common filler words here common")
    ).toDF("doc_id", "text")
    val top = Corpus.bm25TopTerms(docs, "doc_id", "text", 1)
      .where(col("id") === 1L).collect().head
    assert(top.getAs[String]("term") == "rare")
    assert(top.getAs[Long]("score_micro") > 0L)
  }

  test("Reach: driver BFS and recursive-CTE walk agree (parity gate)") {
    // Diamond with a shortcut, a far chain, and an unreachable island:
    //   0→1→3→4→5→6→7 (chain), 0→2→3 (diamond), 1→4 (shortcut), 8→9.
    Seq((0, 1), (0, 2), (1, 3), (2, 3), (1, 4), (3, 4), (4, 5), (5, 6),
      (6, 7), (8, 9))
      .toDF("src", "dst").createOrReplaceTempView("reach_edges")
    val bfs = graft.operators.Reach
      .shortestHops(spark, "reach_edges", source = 0L, maxHops = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // force the distributed WITH RECURSIVE path
    val rec = withConf(graft.core.Gates.DriverEdgeLimit -> "0") {
      graft.operators.Reach
        .shortestHops(spark, "reach_edges", source = 0L, maxHops = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    }
    assert(rec == bfs)
    // Min-dist semantics: 4 via the 1→4 shortcut is 2 hops, not 3; the
    // 5-hop bound admits 6 (5 hops) but not 7; the island stays out.
    assert(bfs == Seq((0L, 0), (1L, 1), (2L, 1), (3L, 2), (4L, 2),
      (5L, 3), (6L, 4), (7L, 5)))
  }
}
