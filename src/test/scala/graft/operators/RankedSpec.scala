package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RankedSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(7)
    // 4 groups, duplicate measure values (tie runs), unique tiebreak id
    (1 to 800).map { i =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(50).toLong, i.toLong)
    }.toDF("grp", "v", "id")
  }

  /** The spec corpora are tiny, so the r12 small-input gate would route
    * every call through the plain window and leave the ranged machinery
    * untested — force the ranged path for the tests that exist to pin it
    * (the same conf the all-twins suite gate sets). */
  private def forceRanged[T](body: => T): T =
    withConf(graft.core.Gates.RankedSmallInputMaxBytes -> "0")(body)

  test("rowNumberRanged equals the plain window, grouped and global, any range count") { forceRanged {
    val df = corpus
    val wanted = df.withColumn("rn",
        row_number().over(Window.partitionBy(col("grp"))
          .orderBy(col("v"), col("id"))).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    for (ranges <- Seq(1, 5, 64, 2048)) { // incl. ranges >> rows (empty parts)
      val got = Ranked.rowNumberRanged(df, Seq("grp"),
          Seq(col("v"), col("id")), "rn", ranges)
        .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
      assert(got == wanted, s"grouped diverged at ranges=$ranges")
    }
    // global (no partition columns), descending order direction
    val wantedG = df.withColumn("rn",
        row_number().over(Window.orderBy(col("v").desc, col("id").asc)).cast("long"))
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val gotG = Ranked.rowNumberRanged(df, Nil,
        Seq(col("v").desc, col("id").asc), "rn", 16)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(gotG == wantedG)
  }}

  test("prefixSumRanged equals the running-sum window") { forceRanged {
    val df = corpus
    val w = Window.partitionBy(col("grp")).orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wanted = df.withColumn("rs", sum(col("v")).over(w))
      .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    for (ranges <- Seq(1, 7, 64)) {
      val got = Ranked.prefixSumRanged(df, Seq("grp"),
          Seq(col("v"), col("id")), col("v"), "rs", ranges)
        .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
      assert(got == wanted, s"diverged at ranges=$ranges")
    }
  }}

  test("ntileFromRowNumber reproduces ntile exactly, incl. n < buckets and n % b != 0") {
    for (n <- Seq(3L, 10L, 11L, 97L, 800L); b <- Seq(4, 10)) {
      val rows = (1L to n).toDF("rn")
      val viaNtile = rows
        .withColumn("t", ntile(b).over(Window.orderBy(col("rn"))).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaFormula = rows
        .withColumn("t", Ranked.ntileFromRowNumber(col("rn"), lit(n), b))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaFormula == viaNtile, s"n=$n b=$b")
    }
  }

  test("NULL group keys rank like the plain window (null-safe carry join)") { forceRanged {
    // A NULL partition value is ONE window partition; a plain equi-join on
    // the carry keys would silently drop those rows.
    val df = Seq((Option("a"), 1L, 1L), (Option("a"), 2L, 2L),
      (Option.empty[String], 1L, 3L), (Option.empty[String], 2L, 4L),
      (Option.empty[String], 2L, 5L)).toDF("grp", "v", "id")
    val wanted = df.withColumn("rn",
        row_number().over(Window.partitionBy(col("grp"))
          .orderBy(col("v"), col("id"))).cast("long"))
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    val got = Ranked.rowNumberRanged(df, Seq("grp"),
        Seq(col("v"), col("id")), "rn", 4)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(got == wanted, s"null-group rows must rank, not vanish: $got")
  }}

  test("the two arms share ONE range exchange (the boundary-consistency anchor)") { forceRanged {
    // RangePartitioner samples with an instance-derived seed, so two
    // independent executions of the range exchange could pick different
    // boundaries and desynchronize the carry join from the local ranks —
    // exchange/stage reuse (default on) is what makes both arms see the
    // same boundaries. Execute THIS Dataset (AQE finalizes its
    // queryExecution in place) and pin the reuse in the final plan.
    val out = Ranked.rowNumberRanged(corpus, Seq("grp"),
      Seq(col("v"), col("id")), "rn", 8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"range exchange must be reused across the rank and carry arms:\n${plan.take(3000)}")
  }}

  test("reuse disabled: the ranged layout is pinned, results stay exact") { forceRanged {
    // With spark.sql.exchange.reuse off the two arms would re-sample range
    // boundaries independently (instance-derived seed) and could silently
    // mis-number; the entry points must pin the layout instead of relying
    // on a config that a user session may have turned off.
    val df = corpus
    val expected = df.withColumn("rn",
        row_number().over(Window.partitionBy(col("grp"))
          .orderBy(col("v"), col("id"))).cast("long"))
      .select("grp", "v", "id", "rn").collect().toSet
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val got = Ranked.rowNumberRanged(df, Seq("grp"),
        Seq(col("v"), col("id")), "rn", 8)
        .select("grp", "v", "id", "rn").collect().toSet
      assert(got == expected)
      val sums = Ranked.prefixSumRanged(df, Seq("grp"),
        Seq(col("v"), col("id")), col("v"), "rs", 8)
        .select("grp", "v", "id", "rs").collect().toSet
      val expSums = df.withColumn("rs",
          sum(col("v")).over(Window.partitionBy(col("grp"))
            .orderBy(col("v"), col("id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select("grp", "v", "id", "rs").collect().toSet
      assert(sums == expSums)
    } finally spark.conf.set("spark.sql.exchange.reuse", "true")
  }}

  test("internal-column and output-name collisions are refused, not corrupted") {
    val bad = corpus.withColumn("_rr_pid", lit(1))
    val e1 = intercept[IllegalArgumentException] {
      Ranked.rowNumberRanged(bad, Seq("grp"), Seq(col("id")), "rn")
    }
    assert(e1.getMessage.contains("_rr_"))
    val e2 = intercept[IllegalArgumentException] {
      Ranked.prefixSumRanged(corpus, Seq("grp"), Seq(col("id")), col("v"), "v")
    }
    assert(e2.getMessage.contains("already exists"))
  }

  test("prefixSumRanged matches the plain window on NULL measures, any range count") {
    // sum() skips nulls: a null-valued row still carries the running sum
    // of earlier non-null values, and is NULL only when nothing non-null
    // precedes it. The ranged arm used to null-poison a null-valued row
    // sitting at a range start whose carry was non-null — and with the
    // r12 small-input gate, that would have made the OUTPUT depend on
    // which path ran. Leading nulls (expect NULL), interior nulls (expect
    // the running sum), one group entirely null.
    val df = Seq(
      ("a", Option.empty[Long], 1L), ("a", Option(2L), 2L),
      ("a", Option.empty[Long], 3L), ("a", Option(5L), 4L),
      ("b", Option.empty[Long], 5L), ("b", Option.empty[Long], 6L))
      .toDF("grp", "v", "id")
    val w = Window.partitionBy(col("grp")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wanted = df.withColumn("rs", sum(col("v")).over(w))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    for (ranges <- Seq(1, 3, 64)) {
      val got = forceRanged {
        Ranked.prefixSumRanged(df, Seq("grp"), Seq(col("id")), col("v"),
          "rs", ranges)
      }.collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      assert(got == wanted, s"null-measure parity broke at ranges=$ranges")
    }
    val plain = Ranked.prefixSumRanged(df, Seq("grp"), Seq(col("id")),
      col("v"), "rs")
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(plain == wanted)
  }

  test("small inputs take the plain window; gate=0 restores the decomposition") {
    // r12 gate: below Gates.RankedSmallInputMaxBytes the plain partitioned
    // window runs (one exchange, no sampling pass); the ranged shape must
    // be reachable via the conf (the all-twins suite sets it to 0), and the
    // two paths must agree exactly.
    val df = corpus
    val plainOut = Ranked.rowNumberRanged(df, Seq("grp"),
      Seq(col("v"), col("id")), "rn")
    plainOut.collect()
    val plainPlan = plainOut.queryExecution.executedPlan.toString
    assert(!plainPlan.contains("_rr_pid") && !plainPlan.contains("rangepartitioning"),
      s"tiny input must take the plain window:\n${plainPlan.take(2000)}")
    val (ranked, sums) = forceRanged {
      (Ranked.rowNumberRanged(df, Seq("grp"), Seq(col("v"), col("id")), "rn"),
       Ranked.prefixSumRanged(df, Seq("grp"), Seq(col("v"), col("id")),
         col("v"), "rs"))
    }
    assert(ranked.queryExecution.executedPlan.toString.contains("_rr_pid"),
      "gate=0 must force the range-partitioned decomposition")
    assert(ranked.select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      plainOut.select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val plainSums = Ranked.prefixSumRanged(df, Seq("grp"),
      Seq(col("v"), col("id")), col("v"), "rs")
    assert(plainSums.schema("rs").dataType == sums.schema("rs").dataType,
      "both paths must emit one output type")
    assert(sums.select("id", "rs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      plainSums.select("id", "rs").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }
}
