package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Edge-case specs mirroring the reference's unit tests (FIXTURES.md §9:
  * tests/test_helpers.py:25-66, tests/test_recipe_tasks.py:71-90). */
class IsoDurationSpec extends SparkSpec {

  test("parse edge cases match isodate semantics") {
    assert(IsoDuration.parseMicros("PT") == 0L)
    assert(IsoDuration.parseMicros("P0D") == 0L)
    assert(IsoDuration.parseMicros("PT100M") == 100L * 60 * 1000000)
    assert(IsoDuration.parseMicros("PT2H5M") == (2L * 3600 + 5 * 60) * 1000000)
    assert(IsoDuration.parseMicros("P1W") == 7L * 86400 * 1000000)
    assert(IsoDuration.parseMicros("PT0.5S") == 500000L)
    assert(IsoDuration.parseMicros("-PT1M") == -60L * 1000000)
    assert(IsoDuration.tryParseMicros("").isEmpty)
    assert(IsoDuration.tryParseMicros("ABC").isEmpty)
    intercept[IllegalArgumentException](IsoDuration.parseMicros("ABC"))
  }

  test("format reproduces isodate.duration_isoformat exactly") {
    assert(IsoDuration.format(0L) == "P0D")
    assert(IsoDuration.format(100L * 60 * 1000000) == "PT1H40M")
    // golden-file shapes (BASELINE.md): fractional seconds, 6dp, zero-trimmed
    assert(IsoDuration.format(425086705L) == "PT7M5.086705S")
    assert(IsoDuration.format(9817105263L) == "PT2H43M37.105263S")
    assert(IsoDuration.format(2513288136L) == "PT41M53.288136S")
    assert(IsoDuration.format(86400L * 1000000) == "P1D")
    assert(IsoDuration.format(1500000L) == "PT1.5S")
  }

  test("round-trip parse∘format is identity on micros") {
    for (m <- Seq(0L, 1L, 999999L, 60000000L, 3600000000L, 90061000001L))
      assert(IsoDuration.parseMicros(IsoDuration.format(m)) == m)
  }

  test("difficulty classifier boundaries (30/60 min exact)") {
    import spark.implicits._
    val df = Seq(29L, 30L, 60L, 61L).map(_ * 60 * 1000000)
      .toDF("total_micros")
      .select(IsoDuration.difficulty(col("total_micros")).as("d"))
    assert(rows(df).map(_.getString(0)) == Seq("easy", "medium", "medium", "hard"))
    val nullRow = Seq(Option.empty[Long]).toDF("total_micros")
      .select(IsoDuration.difficulty(col("total_micros")).as("d"))
    assert(rows(nullRow).head.getString(0) == "unknown")
  }

  test("avgDuration aggregator matches timedelta-mean semantics") {
    import spark.implicits._
    val df = Seq("PT1M", "PT2M", "PT4M").toDF("iso")
      .select(IsoDuration.durationMicros(col("iso")).as("m"))
      .agg(IsoDuration.avgDuration(col("m")).as("avg"))
    assert(rows(df).head.getString(0) == "PT2M20S")
  }

  test("avgDuration sum overflow is LOUD, never a wrapped garbage mean") {
    // ~1.1e8 day-scale durations exceed a long micros sum — reachable at
    // the design target; a plain + inside an Aggregator wraps silently
    // even under ANSI. addExact turns that into an ArithmeticException.
    val near = Long.MaxValue - 5L
    intercept[ArithmeticException] {
      IsoDuration.AvgDuration.reduce((near, 1L), java.lang.Long.valueOf(10L))
    }
    intercept[ArithmeticException] {
      IsoDuration.AvgDuration.merge((near, 1L), (10L, 1L))
    }
  }

  test("catalyst expressions: parse is null-safe, strict throws") {
    import spark.implicits._
    val df = Seq("PT1M", "junk", null).toDF("iso")
      .select(IsoDuration.durationMicros(col("iso")).as("m"))
    assert(rows(df).map(r => if (r.isNullAt(0)) null else r.getLong(0)) ==
      Seq(60000000L, null, null))
  }
}

class ColumnOpsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  test("nvl / nullIfBlank / isNullOrBlank") {
    import spark.implicits._
    val df = Seq("x", " ", "", null).toDF("c").select(
      ColumnOps.nvl(ColumnOps.nullIfBlank(col("c")), "-").as("nvl"),
      ColumnOps.isNullOrBlank(col("c")).as("blank"))
    assert(rows(df) == Seq(Row("x", false), Row("-", true), Row("-", true), Row("-", true)))
  }

  test("string hygiene: singleSpace, removeNonWord") {
    import spark.implicits._
    val df = Seq("  a   b\t c ").toDF("c").select(
      ColumnOps.singleSpace(col("c")).as("s"),
      ColumnOps.removeAllWhitespace(col("c")).as("r"))
    assert(rows(df).head == Row("a b c", "abc"))
  }

  test("lookup maps ;-separated codes through a broadcast-literal map") {
    import spark.implicits._
    val df = Seq("A;B;Z").toDF("c")
      .select(ColumnOps.lookup(col("c"), Map("A" -> "Alpha", "B" -> "Beta")).as("l"))
    assert(rows(df).head.getString(0) == "Alpha;Beta;Z")
  }

  test("stable64 is deterministic and non-negative") {
    import spark.implicits._
    val df = Seq("x", "x", "y").toDF("c").select(ColumnOps.stable64(col("c")).as("h"))
    val hs = rows(df).map(_.getLong(0))
    assert(hs(0) == hs(1) && hs(0) != hs(2) && hs.forall(_ >= 0))
  }

  test("stable64 kernel == portable conv/substring/md5 formulation") {
    import spark.implicits._
    // The codegen kernel must be bit-for-bit the formulation every oracle
    // restatement runs, including multi-byte UTF-8, empty strings, NULL,
    // and non-string inputs going through the string cast.
    val strs = Seq(Some("héllo 你好"), Some(""), Some("  a\tb "),
      Some("x" * 5000), None).toDF("c")
    val sGot = strs.select(ColumnOps.stable64(col("c")).as("fast"),
      conv(substring(md5(col("c").cast("string")), 1, 15), 16, 10)
        .cast("long").as("portable"))
    assert(sGot.where(col("fast") =!= col("portable") ||
      col("fast").isNull =!= col("portable").isNull).count() == 0L)
    val nums = Seq(0L, -1L, Long.MaxValue, 42L).toDF("c")
    val nGot = nums.select(ColumnOps.stable64(col("c")).as("fast"),
      conv(substring(md5(col("c").cast("string")), 1, 15), 16, 10)
        .cast("long").as("portable"))
    assert(nGot.where(col("fast") =!= col("portable")).count() == 0L)
  }

  test("datetimeToGmt converts LA local time to UTC") {
    import spark.implicits._
    val df = Seq("2024-01-15 10:00:00").toDF("c")
      .select(ColumnOps.datetimeToGmt(col("c"), "yyyy-MM-dd HH:mm:ss").cast("string").as("utc"))
    assert(rows(df).head.getString(0) == "2024-01-15 18:00:00")
  }
}

class TextOpsSpec extends SparkSpec {

  test("token stats on an empty/whitespace doc: NULL mean length, no ANSI abort") {
    import spark.implicits._
    // The q21 formulation: mean token length divides by the token count.
    // Empty and whitespace-only docs have zero tokens — the DuckDB oracle's
    // bare `/` yields NULL there, and one such doc must not abort the job
    // (ANSI DIVIDE_BY_ZERO), so the query divides with try_divide.
    val df = Seq((1L, "hello world"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val toks = TextOps.tokens(col("text"))
    val got = rows(df.select(col("doc_id"), size(toks).as("n_tokens"),
        round(try_divide(
          aggregate(transform(toks, t => length(t)), lit(0L), (a, x) => a + x)
            .cast("double"), size(toks).cast("double")), 6).as("avg_token_len"))
      .orderBy("doc_id"))
    assert(got.head.getDouble(2) == 5.0)
    assert(got.tail.forall(r => r.getInt(1) == 0 && r.isNullAt(2)))
    // the guarded ratio features define the same edge as 0.0 (their
    // oracles' explicit CASE WHEN len = 0), not NULL — also abort-free
    val q = rows(df.filter(col("doc_id") === 2L).select(
      TextOps.stopwordRatio(col("text")), TextOps.punctRatio(col("text")))).head
    assert(q.getDouble(0) == 0.0 && q.getDouble(1) == 0.0)
  }

  test("wordShingles: distinct n-grams; short docs yield empty") {
    import spark.implicits._
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextOps.wordShingles(col("text"), 3).as("sh"))
    val got = rows(df).map(_.getSeq[String](0))
    assert(got.head == Seq("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("scrubPii redacts urls, emails, and phone runs in order") {
    import spark.implicits._
    val df = Seq(
      "mail me at a.b+c@ex-ample.co.uk today",
      "see https://x.io/p?e=a@b.co for info",
      "call +1 (555) 123-4567 now",
      "clean text stays clean").toDF("t")
    val got = df.select(TextOps.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0))
    assert(got(0) == "mail me at <EMAIL> today")
    assert(got(1) == "see <URL> for info") // email inside URL not double-hit
    assert(got(2) == "call <PHONE> now")
    assert(got(3) == "clean text stays clean")
  }

  test("hash sampling is subset-monotone and stratified quota caps strata") {
    import spark.implicits._
    import graft.sampling.Sampling
    val df = (1L to 500L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "s")
    val p10 = Sampling.hashSample(df, col("id"), 10).select("id").collect().map(_.getLong(0)).toSet
    val p30 = Sampling.hashSample(df, col("id"), 30).select("id").collect().map(_.getLong(0)).toSet
    assert(p10.subsetOf(p30), "raising the rate must keep prior members")
    assert(p30.size > p10.size && p10.nonEmpty)
    val quota = Sampling.stratifiedQuota(df, col("s"), col("id"), 7)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(quota == Map("a" -> 7L, "b" -> 7L))
  }

  test("weightedSample favors heavy rows, excludes w<=0, plans as top-k") {
    import spark.implicits._
    import graft.sampling.Sampling
    // ids 1..400 weight 1; ids 401..500 weight 1000 — heavy rows should
    // dominate a 50-row sample overwhelmingly
    val df = (1L to 500L).map(i => (i, if (i > 400) 1000L else 1L))
      .toDF("id", "w")
    val sampled = Sampling.weightedSample(df, col("id"), col("w"), 50)
    val ids = rows(sampled).map(_.getAs[Long]("id"))
    assert(ids.size == 50)
    assert(ids.count(_ > 400) >= 45, s"heavy rows underrepresented: $ids")
    // deterministic across reruns
    val again = rows(Sampling.weightedSample(df, col("id"), col("w"), 50))
      .map(_.getAs[Long]("id"))
    assert(again == ids)
    // zero/negative weights never selected
    val withBad = df.union(Seq((501L, 0L), (502L, -5L)).toDF("id", "w"))
    val ids2 = rows(Sampling.weightedSample(withBad, col("id"), col("w"), 600))
      .map(_.getAs[Long]("id"))
    assert(!ids2.contains(501L) && !ids2.contains(502L))
    // distributed top-k, not a global sort or single-partition window
    val plan = sampled.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("rollingHash matches a reference implementation") {
    import spark.implicits._
    def ref(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)
    val df = Seq("hello world").toDF("text").select(TextOps.rollingHash(col("text")).as("h"))
    assert(rows(df).head.getLong(0) == ref("hello world"))
  }

  test("rollingHash kernel == portable split/ascii HOF fold") {
    import spark.implicits._
    // Includes multi-byte UTF-8 and astral-plane code points (𝄞 is a
    // surrogate pair in UTF-16): Spark's empty-pattern split yields code
    // points and ascii is codePointAt(0), and the kernel must fold the
    // identical sequence. Empty string and NULL included.
    val df = Seq(Some("hello world"), Some("héllo wörld 你好"),
      Some("music 𝄞 and emoji 🎵"), Some(""),
      Some(" \t\n "), Some("x" * 3000), None).toDF("text")
    val got = df.select(TextOps.rollingHash(col("text")).as("fast"),
      TextOps.rollingHashHof(col("text")).as("portable"))
    assert(got.where(col("fast") =!= col("portable") ||
      col("fast").isNull =!= col("portable").isNull).count() == 0L)
  }

  test("every string kernel refuses a non-string column at analysis") {
    val kernels: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] =
      Seq("md5_prefix48" -> (c => Md5Prefix.prefix48(c)),
        "md5_prefix60" -> (c => Md5Prefix.prefix60(c)),
        "shingle_set" -> (c => ShingleSet.hashes(c, 3)),
        "simhash31" -> (c => SimHash31.simhash(c)),
        "minhash_sig" -> (c => MinHash.signature(c, 16, 3)),
        "rolling_hash31" -> (c => TextOps.rollingHash(c)),
        "ngram_stats" -> (c => TextOps.ngramStats(c, 2)),
        "char_entropy" -> (c => CharEntropy.charEntropy(c)))
    for ((name, kernel) <- kernels) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).select(kernel(col("id"))).queryExecution.assertAnalyzed())
      assert(e.getMessage.contains(s"$name requires a string column, got LongType"),
        s"$name: ${e.getMessage}")
    }
  }

  test("langId picks marker-profile argmax, und when no markers") {
    import spark.implicits._
    val df = Seq("the cat of the house", "el gato de la casa que", "xyzzy plugh")
      .toDF("text").select(TextOps.langId(col("text")).as("l"))
    assert(rows(df).map(_.getString(0)) == Seq("en", "es", "und"))
  }

  test("qualityScore is bounded and penalizes stuffing") {
    import spark.implicits._
    val df = Seq("the the the the", "informative content with varied words here")
      .toDF("text").select(TextOps.qualityScore(col("text")).as("q"))
    val Seq(stuffed, real) = rows(df).map(_.getDouble(0))
    assert(stuffed < real && real <= 1.0 && stuffed >= 0.0)
  }

  test("reference helpers no query calls: documented examples, NULL and blank inputs") {
    import spark.implicits._
    import graft.core.Sessions
    import graft.sources.Standardize
    // (helper, expression over string columns a/b/c, rows (a, b, c) → result)
    val (a, b, c) = (col("a"), col("b"), col("c"))
    val columnCases: Seq[(String, Column, Seq[((String, String, String), Any)])] = Seq(
      ("antiTrim", ColumnOps.antiTrim(a), Seq(
        (" this has some ", null, null) -> " thishassome ",
        ("   ", null, null) -> "   ",
        ("", null, null) -> "",
        (null, null, null) -> null)),
      ("removeNonWordCharacters", ColumnOps.removeNonWordCharacters(a), Seq(
        ("I?like!fish>", null, null) -> "Ilikefish",
        ("snake_case stays", null, null) -> "snake_case stays",
        ("", null, null) -> "",
        (null, null, null) -> null)),
      ("isTruthy", ColumnOps.isTruthy(a), Seq(
        ("yes", null, null) -> true,
        ("1", null, null) -> true,
        ("0.0", null, null) -> false,
        ("  ", null, null) -> false,
        ("", null, null) -> false,
        (null, null, null) -> false)),
      ("isNotIn", ColumnOps.isNotIn(a, Seq("x", "y")), Seq(
        ("z", null, null) -> true,
        ("x", null, null) -> false,
        ("", null, null) -> true,
        (null, null, null) -> null)),
      // NULL bounds are unbounded; a NULL value compares to NULL
      ("nullBetween", ColumnOps.nullBetween(a, b, c), Seq(
        ("m", "a", "z") -> true,
        ("m", "n", "z") -> false,
        ("m", null, "z") -> true,
        ("m", "n", null) -> false,
        ("m", null, null) -> true,
        ("", "a", "z") -> false,
        (null, "a", "z") -> null)),
      ("multiEquals", ColumnOps.multiEquals("x", a, b), Seq(
        ("x", "x", null) -> true,
        ("x", "y", null) -> false,
        ("", "", null) -> false,
        ("x", null, null) -> null)),
      ("addDurations", IsoDuration.addDurations(a, b), Seq(
        ("PT1H", "PT30M", null) -> "PT1H30M",
        ("P1D", "PT1H", null) -> "P1DT1H",
        ("PT7M5.086705S", "PT0S", null) -> "PT7M5.086705S",
        ("PT", "PT", null) -> "P0D",
        ("", "PT1M", null) -> null,
        ("PT1H", null, null) -> null)),
      ("toDateSafe", ColumnOps.toDateSafe(a, "yyyy-MM-dd").cast("string"), Seq(
        ("2024-02-29", null, null) -> "2024-02-29",
        ("2024-02-30", null, null) -> null,
        ("", null, null) -> null,
        (null, null, null) -> null)))
    columnCases.foreach { case (name, expr, table) =>
      val got = table.map(_._1).toDF("a", "b", "c").select(expr)
        .collect().map(_.get(0)).toSeq
      assert(got == table.map(_._2), s"$name: $got")
    }
    // snakeCaseColumnNames: every column renamed, blank-padded names trimmed
    val snake = Seq((1, 2, 3, 4)).toDF("orderDate", "HTTPServer", " Unit Price ", "id")
    assert(Standardize.snakeCaseColumnNames(snake).columns.toSeq ==
      Seq("order_date", "http_server", "unit_price", "id"))
    // reviseShufflePartitions: executors × cores × multiplier, on a
    // session of its own so the shared one keeps its width
    val own = spark.newSession()
    Seq((2, 4, 1) -> "8", (3, 2, 4) -> "24").foreach { case ((e, k, m), want) =>
      Sessions.reviseShufflePartitions(own, e, k, m)
      assert(own.conf.get("spark.sql.shuffle.partitions") == want)
    }
  }

  test("isFalsy covers every documented falsy rendering, ANSI-safe") {
    import spark.implicits._
    import graft.functions.ColumnOps
    // Documented contract: null, false, numeric zero, blank. Pre-fix,
    // 0.0 / 0.00 / FALSE read as truthy (only the literal strings
    // "false"/"0" matched), and a numeric-cast approach would throw
    // under ANSI on non-numeric strings like "abc".
    val got = Seq("false", "FALSE", "0", "0.0", "0.00", "-0", "", "  ",
        "abc", "1", "0.5", "true")
      .toDF("v").select(col("v"), ColumnOps.isFalsy(col("v")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val falsy = Seq("false", "FALSE", "0", "0.0", "0.00", "-0", "", "  ")
    falsy.foreach(v => assert(got(v), s"'$v' must be falsy"))
    Seq("abc", "1", "0.5", "true").foreach(v =>
      assert(!got(v), s"'$v' must be truthy"))
    // null → falsy (isFalsy itself, not the || chain's null)
    val nf = Seq[Option[String]](None).toDF("v")
      .select(ColumnOps.isFalsy(col("v")).as("f")).collect().head.getBoolean(0)
    assert(nf)
  }

  test("isFalsy covers scientific renderings of zero (high-scale decimals)") {
    import spark.implicits._
    import graft.functions.ColumnOps
    // BigDecimal prints a decimal(38,7) zero as "0E-7" — a rendering the
    // plain zero pattern missed, breaking the "numeric zero in any
    // rendering" contract for scale >= 7.
    val dec = Seq(("z", "0"), ("nz", "0.0000001"))
      .toDF("k", "s")
      .select(col("k"), col("s").cast("decimal(38,7)").as("v"))
      .select(col("k"), ColumnOps.isFalsy(col("v")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(dec("z"), "decimal(38,7) zero (rendered 0E-7) must be falsy")
    assert(!dec("nz"), "a genuinely tiny decimal must stay truthy")
    // string forms of the same renderings, both exponent signs
    val got = Seq("0E-7", "0e-7", "0E+7", "-0E-10", "1E-7", "2e3")
      .toDF("v").select(col("v"), ColumnOps.isFalsy(col("v")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    Seq("0E-7", "0e-7", "0E+7", "-0E-10").foreach(v =>
      assert(got(v), s"'$v' must be falsy"))
    Seq("1E-7", "2e3").foreach(v => assert(!got(v), s"'$v' must be truthy"))
    // plus-signed zeros (a %+d formatter / signed-CSV rendering)
    val plus = Seq("+0", "+0.0", "+0E-7", "+1")
      .toDF("v").select(col("v"), ColumnOps.isFalsy(col("v")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    Seq("+0", "+0.0", "+0E-7").foreach(v => assert(plus(v), s"'$v' must be falsy"))
    assert(!plus("+1"))
  }
}
