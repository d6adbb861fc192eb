package graft.warehouse

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.quality.DataQuality
import graft.quality.DataQuality._

class CdcSpec extends SparkSpec {

  private def oldDf = {
    import spark.implicits._
    Cdc.addContentHash(Seq(
      (1L, "a", 1), (2L, "b", 1), (3L, "c", 1), (3L, "c-old", 0) // dup key, older
    ).toDF("id", "payload", "ts"), Seq("id", "payload"))
  }

  private def newDf = {
    import spark.implicits._
    Cdc.addContentHash(Seq(
      (2L, "b", 2),        // unchanged payload
      (3L, "c2", 2),       // updated payload
      (4L, "d", 2)         // brand new
    ).toDF("id", "payload", "ts"), Seq("id", "payload"))
  }

  test("snapshot keeps the newest row per key") {
    val snap = rows(Cdc.snapshot(oldDf, Seq("id"), Seq("ts")))
    assert(snap.length == 3)
    assert(snap.find(_.getLong(0) == 3L).get.getString(1) == "c")
  }

  test("snapshot refuses empty partition keys (global-window hazard)") {
    intercept[IllegalArgumentException](Cdc.snapshot(oldDf, Nil, Seq("ts")))
  }

  test("scd2Merge opens/closes versions across two batches") {
    import spark.implicits._
    def batch(rows: (Long, String)*) =
      Cdc.addContentHash(rows.toSeq.toDF("id", "payload"), Seq("id", "payload"))
    val empty = batch().withColumn("effective_from", lit(0L))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .limit(0)
    // batch 1: two keys open
    val h1 = Cdc.scd2Merge(empty, batch(1L -> "a", 2L -> "b"), Seq("id"), asOf = 10L)
    assert(h1.count() == 2 && h1.filter(col("is_current")).count() == 2)
    // batch 2: key 1 changes, key 2 unchanged, key 3 new
    val h2 = Cdc.scd2Merge(h1, batch(1L -> "a2", 2L -> "b", 3L -> "c"), Seq("id"), asOf = 20L)
    val byKey = rows(h2).groupBy(_.getAs[Long]("id"))
    assert(h2.count() == 4)
    // key 1: closed v1 (10..20) + open v2 (20..)
    val k1 = byKey(1L).sortBy(_.getAs[Long]("effective_from"))
    assert(k1.map(_.getAs[String]("payload")) == Seq("a", "a2"))
    assert(!k1.head.getAs[Boolean]("is_current") &&
      k1.head.getAs[Long]("effective_to") == 20L)
    assert(k1.last.getAs[Boolean]("is_current") && k1.last.isNullAt(
      k1.last.fieldIndex("effective_to")))
    // key 2: single still-current version from batch 1
    assert(byKey(2L).map(r => (r.getAs[Boolean]("is_current"),
      r.getAs[Long]("effective_from"))) == Seq((true, 10L)))
    // key 3: opened at 20
    assert(byKey(3L).map(_.getAs[Long]("effective_from")) == Seq(20L))
  }

  test("scd2Merge lazy-checkpoint fold is deterministic (q71 precondition)") {
    // q71 folds three scd2Merge batches with LAZY localCheckpoints; before
    // h's blocks are cached, scd2Merge's two reads of h (cur/closed
    // filters) can compute h's partitions INDEPENDENTLY, so the lazy/eager
    // parity rests on scd2Merge being fully deterministic per input
    // partition. This canary pins that precondition: two independent
    // evaluations of the same lazy fold must agree row-for-row, and the
    // history must stay internally consistent (exactly one current row per
    // key). If scd2Merge ever gains a nondeterministic step (sampling,
    // tie-breaking row_number, rand), this has a real chance to diverge —
    // restore q71's eager checkpoints in that case.
    import spark.implicits._
    def batch(i: Int) = Cdc.addContentHash(
      (0L until 40L).map(k => (k, s"p${(k + i) % 7}")).toDF("id", "payload"),
      Seq("id", "payload"))
    val schema = batch(0)
      .withColumn("effective_from", lit(null).cast("long"))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true)).schema
    def fold() = {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      (0 until 3).foldLeft(empty) { (h, i) =>
        Cdc.scd2Merge(h, batch(i), Seq("id"), asOf = i.toLong)
          .localCheckpoint(false)
      }
    }
    val a = rows(fold()).map(_.toString).sorted
    val b = rows(fold()).map(_.toString).sorted
    assert(a == b, "two evaluations of the lazy scd2 fold diverged")
    val multiCurrent = fold().filter(col("is_current"))
      .groupBy(col("id")).count().filter(col("count") =!= 1).count()
    assert(multiCurrent == 0, "exactly one current row per key")
  }

  test("addAuditColumns stamps the source file's basename and a load time") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_audit").resolve("t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "payload").coalesce(1)
      .write.parquet(dir.toString)
    val file = dir.toFile.listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(file.length == 1)
    val got = rows(Cdc.addAuditColumns(spark.read.parquet(dir.toString)))
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getAs[String]("spark_file_name") == file.head)
      assert(r.getAs[java.sql.Timestamp]("spark_timestamp") != null)
    }
  }

  test("classifyChanges tags inserts and hash-diff updates") {
    val old = Cdc.snapshot(oldDf, Seq("id"), Seq("ts"))
    val got = rows(Cdc.classifyChanges(old, newDf, Seq("id")))
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("change_type")).toMap
    assert(got == Map(4L -> "I", 3L -> "U")) // id 2 unchanged → absent
  }

  test("mergeClassify partitions keys into I/U/D/N") {
    val old = Cdc.snapshot(oldDf, Seq("id"), Seq("ts"))
    val got = rows(Cdc.mergeClassify(old, newDf, Seq("id")))
      .map(r => Option(r.getAs[Any]("id")).map(_.asInstanceOf[Long]) ->
        r.getAs[String]("change_type"))
    // D rows carry the OLD side's key (a delete must be addressable —
    // the pre-fix null key made every delete indistinguishable).
    assert(got.toMap == Map(Some(4L) -> "I", Some(3L) -> "U",
      Some(2L) -> "N", Some(1L) -> "D"))
  }

  test("mergeClassify: a legitimately-NULL leading key is not misread as presence") {
    import spark.implicits._
    // Presence must be decided on the never-null hashcode columns: an
    // old-side-only row whose pk.head VALUE is NULL used to classify as
    // 'I' (insert) instead of 'D' (delete), re-inserting deleted rows in
    // any change_type-splitting writer. NULL keys never join (SQL
    // equality), so each side's NULL-key row is unmatched by design.
    val old = Cdc.snapshot(Cdc.addContentHash(
      Seq((Option.empty[Long], "gone", 1L), (Some(7L), "keep", 1L))
        .toDF("id", "v", "ts"), Seq("id", "v")), Seq("id"), Seq("ts"))
    val nw = Cdc.snapshot(Cdc.addContentHash(
      Seq((Some(7L), "keep", 2L), (Option.empty[Long], "fresh", 2L))
        .toDF("id", "v", "ts"), Seq("id", "v")), Seq("id"), Seq("ts"))
    val got = rows(Cdc.mergeClassify(old, nw, Seq("id")))
      .map(r => (Option(r.getAs[Any]("v")), r.getAs[String]("change_type")))
    // The D row's non-key columns are null BY CONTRACT (there is no new
    // row), so it appears as (None, "D") — what matters is that the
    // old-side NULL-key row classifies as a delete at all (pre-fix it
    // read as an insert) and the new-side one as an insert.
    assert(got.count(_._2 == "D") == 1,
      "old NULL-key row must classify as D, not I")
    assert(got.contains((Some("fresh"), "I")),
      "new NULL-key row must classify as I")
    assert(got.contains((Some("keep"), "N")))
    assert(got.size == 3)
  }
}

class DataQualitySpec extends SparkSpec {

  private def df = {
    import spark.implicits._
    Seq((1, "x"), (1, "y"), (2, ""), (3, null.asInstanceOf[String]))
      .toDF("id", "name")
  }

  test("unique / not-null / query rules compute violations") {
    val report = DataQuality.run(spark, df, "t", Seq(
      UniqueRule("u1", "ids unique", Seq("id")),
      NotNullRule("n1", "name present", Seq("name")),
      QueryRule("q1", "no id over 10", "SELECT * FROM temp WHERE id > 10")))
    val byId = report.results.map(r => r.ruleId -> r).toMap
    assert(byId("u1").violations == 1 && !byId("u1").passed) // id=1 dup group
    assert(byId("n1").violations == 2 && !byId("n1").passed) // blank + null
    assert(byId("q1").violations == 0 && byId("q1").passed)
    assert(!report.overallPassed)
  }

  test("summarize fuses all rules into one aggregation with same verdicts") {
    val got = rows(DataQuality.summarize(df,
      Seq(UniqueRule("u1", "", Seq("id"))), Seq(NotNullRule("n1", "", Seq("name"))))).head
    assert(got.getAs[Long]("excess_u1") == 1L)
    assert(got.getAs[Long]("nullblank_n1") == 2L)
  }

  test("range and fk rules catch out-of-domain values and orphans") {
    import spark.implicits._
    val child = Seq((1, 10.0), (2, -5.0), (3, 200.0), (9, 50.0))
      .toDF("fk", "amount")
    val parent = Seq(1, 2, 3).toDF("pk")
    val report = DataQuality.run(spark, child, "t", Seq(
      RangeRule("rg", "amount in [0,100]", "amount", Some(0.0), Some(100.0)),
      FkRule("fk1", "fk resolves", Seq("fk"), parent, Seq("pk"))))
    val byId = report.results.map(r => r.ruleId -> r).toMap
    assert(byId("rg").violations == 2 && !byId("rg").passed)   // -5 and 200
    assert(byId("fk1").violations == 1 && !byId("fk1").passed) // fk=9 orphan
  }

  test("JSON range rule parses with open bounds") {
    val (_, rules) = DataQuality.rulesFromJson(
      """{"dq_id":"d","rules":[
        |{"rule_id":"r","name":"amt","rule_type":"range","column":"amount","min":0}
        |]}""".stripMargin)
    assert(rules == Seq(RangeRule("r", "amt", "amount", Some(0.0), None)))
  }

  test("JSON explicit null reads as absent, not zero (Jackson NullNode)") {
    // "min": null used to parse as Some(0.0) — an open lower bound became
    // a zero bound and every negative value a violation.
    val (_, rules) = DataQuality.rulesFromJson(
      """{"dq_id":"d","rules":[
        |{"rule_id":"r","name":null,"rule_type":"range","column":"amount","min":null,"max":100}
        |]}""".stripMargin)
    assert(rules == Seq(RangeRule("r", "r", "amount", None, Some(100.0))))
  }

  test("query rule SQL keeps 'temp' string literals and resolves TEMP case-insensitively") {
    import spark.implicits._
    val cat = Seq((1, "temp"), (2, "humidity")).toDF("id", "category")
    // Pre-fix, the \btemp\b token rewrite mangled the LITERAL 'temp' into
    // the generated view name (rule silently passed on 0 rows), and an
    // uppercase FROM TEMP failed unresolved. Both must work now.
    val report = DataQuality.run(spark, cat, "t", Seq(
      QueryRule("lit", "no temp rows", "SELECT * FROM temp WHERE category = 'temp'"),
      QueryRule("up", "none over 10", "SELECT * FROM TEMP WHERE id > 10")))
    val byId = report.results.map(r => r.ruleId -> r).toMap
    assert(byId("lit").violations == 1 && !byId("lit").passed,
      s"literal 'temp' must survive: ${byId("lit")}")
    assert(byId("up").violations == 0 && byId("up").passed,
      s"FROM TEMP must resolve: ${byId("up")}")
  }

  test("query rule leaves a user's own temp view named temp untouched") {
    import spark.implicits._
    // The rule runs in a cloned session with a private temp catalog, so
    // it neither clobbers the user's view nor reads it by accident.
    Seq(1, 20).toDF("id").createOrReplaceTempView("temp")
    try {
      val r = DataQuality.runRule(spark, df,
        QueryRule("q", "q", "SELECT * FROM temp WHERE id > 10"))
      // runs against df (ids 1,1,2,3 — none over 10), NOT the user view
      assert(r.passed && r.violations == 0, s"$r")
      val mine = spark.table("temp").collect().map(_.getInt(0)).sorted
      assert(mine.toSeq == Seq(1, 20), "user view must survive untouched")
    } finally spark.catalog.dropTempView("temp")
  }

  test("query rule SQL can still join the caller's OTHER temp views") {
    import spark.implicits._
    // The scoped session is a CLONE of the caller's (inherits its temp
    // catalog) — a newSession() with an empty catalog broke lookup-table
    // rules like this anti-join against a caller-registered view.
    Seq("x").toDF("name").createOrReplaceTempView("valid_names")
    try {
      val r = DataQuality.runRule(spark, df, QueryRule("q", "names valid",
        "SELECT t.* FROM temp t LEFT ANTI JOIN valid_names v ON t.name = v.name"))
      assert(r.error.isEmpty, s"rule must resolve valid_names: $r")
      assert(r.violations == 3 && !r.passed, s"$r") // y, blank, null
    } finally spark.catalog.dropTempView("valid_names")
  }

  test("JSON config with missing required fields names the rule and field") {
    val e = intercept[IllegalArgumentException] {
      DataQuality.rulesFromJson(
        """{"dq_id":"d","rules":[{"rule_id":"r9","rule_type":"query"}]}""")
    }
    assert(e.getMessage.contains("r9") && e.getMessage.contains("query"))
    val noRules = intercept[IllegalArgumentException] {
      DataQuality.rulesFromJson("""{"dq_id":"d"}""")
    }
    assert(noRules.getMessage.contains("rules"))
    val noId = intercept[IllegalArgumentException] {
      DataQuality.rulesFromJson(
        """{"dq_id":"d","rules":[{"rule_type":"unique","columns":["id"]}]}""")
    }
    assert(noId.getMessage.contains("rule_id"))
  }

  test("summarize with no rules fails loudly, not with empty.head") {
    val e = intercept[IllegalArgumentException] {
      DataQuality.summarize(df, Nil, Nil)
    }
    assert(e.getMessage.contains("at least one"))
  }

  test("JSON rule config round-trips") {
    val (dqId, parsed) = DataQuality.rulesFromJson(
      """{"dq_id":"demo","rules":[
        |{"rule_id":"r1","name":"u","rule_type":"unique","columns":["id"]},
        |{"rule_id":"r2","name":"nn","rule_type":"not null","columns":["name","id"]},
        |{"rule_id":"r3","name":"q","rule_type":"query","query":"SELECT 1 FROM temp WHERE false"}
        |]}""".stripMargin)
    assert(dqId == "demo")
    assert(parsed == Seq(
      UniqueRule("r1", "u", Seq("id")),
      NotNullRule("r2", "nn", Seq("name", "id")),
      QueryRule("r3", "q", "SELECT 1 FROM temp WHERE false")))
  }

  test("HTML report renders pass/fail sections") {
    val report = DqReport("demo", Seq(
      RuleResult("r1", "u", "unique", 0, passed = true),
      RuleResult("r2", "nn", "not null", 5, passed = false)))
    val html = DataQuality.htmlReport(report)
    assert(html.contains("FAILED") && html.contains("r2") && html.contains("Passed rules"))
  }

  test("HTML report escapes markup in caller-supplied rule names") {
    val report = DqReport("demo", Seq(
      RuleResult("r1", "checks <orders> & returns", "unique", 0, passed = true)))
    val html = DataQuality.htmlReport(report)
    assert(html.contains("checks &lt;orders&gt; &amp; returns"))
    assert(!html.contains("<orders>"))
  }
}
