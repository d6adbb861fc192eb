package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The all-twins gate is only as strong as its conf keys actually
  * REACHING their guards: if a key drifted, FORCE_TWINS would set a dead
  * conf, the fast paths would keep running, and the "134/134 all-twins"
  * artifact would certify fallbacks that never executed. Each plan test
  * sets one Gates.All key to 0 and asserts the operator's PLAN visibly
  * flips to its fallback/materialized shape (outputs are identical by
  * design, so the plan is the only observable); the table-driven case
  * then holds both sides to the same result on adversarial input. */
class GatesSpec extends SparkSpec {
  import spark.implicits._

  /** The keys the plan cases below set to 0, one case each. A key added to
    * Gates.All without a case here fails "every gate key has a case". */
  private val zeroedByCase = Seq(Gates.DriverEdgeLimit,
    Gates.BasketRescanMaxInputBytes, Gates.RankedSmallInputMaxBytes,
    Gates.DedupKernelMaxCorpusRows, Gates.CorpusTfSmallInputMaxBytes,
    Gates.StreamMemoryStateStore)

  test("every gate key has a case that sets it to 0") {
    assert(Gates.All.toSet -- zeroedByCase == Set.empty[String])
    assert(Gates.All.toSet -- adversarial.map(_._1) == Set.empty[String])
  }

  test("forceTwinsFromEnv: SPARK_GRAFT_FORCE_TWINS=1 zeroes exactly Gates.All") {
    val s = spark.newSession()
    val before = s.conf.getAll
    assert(!Gates.forceTwinsFromEnv(s, Map("SPARK_GRAFT_FORCE_TWINS" -> "0")))
    assert(!Gates.forceTwinsFromEnv(s, Map.empty))
    assert(s.conf.getAll == before)
    assert(Gates.forceTwinsFromEnv(s, Map("SPARK_GRAFT_FORCE_TWINS" -> "1")))
    assert(s.conf.getAll == before ++ Gates.All.map(_ -> "0"))
  }

  test("row gate: n rows fit limit n, n+1 do not, 0 runs nothing, no overflow") {
    val key = Gates.DriverEdgeLimit
    val three = Seq(1L, 2L, 3L).toDS()
    assert(Gates.rowsWithin(three.toDF(), key), "3 rows fit the 2M default")
    withConf(key -> "3") {
      assert(Gates.rowsWithin(three.toDF(), key))
      assert(Gates.collectWithin(three, key).map(_.sorted.toSeq) ==
        Some(Seq(1L, 2L, 3L)))
    }
    withConf(key -> "2") {
      assert(!Gates.rowsWithin(three.toDF(), key))
      assert(Gates.collectWithin(three, key).isEmpty)
    }
    // 0 selects the twin without evaluating anything: an input that
    // throws when run proves no probe or collect job was launched
    val poisoned = Seq(1L).toDS().map(i => if (i > 0) sys.error("evaluated") else i)
    withConf(key -> "0") {
      assert(!Gates.rowsWithin(poisoned.toDF(), key))
      assert(Gates.collectWithin(poisoned, key).isEmpty)
      assert(!Gates.rowsWithin(spark.emptyDataset[Long].toDF(), key),
        "an empty input still takes the twin at 0")
    }
    // a gate raised past Int range must not wrap limit(n + 1) negative
    for (raised <- Seq(Int.MaxValue.toString, Long.MaxValue.toString))
      withConf(key -> raised) {
        assert(Gates.rowsWithin(three.toDF(), key))
        assert(Gates.collectWithin(three, key).map(_.length) == Some(3))
      }
  }

  test("dupClusters: zeroing the edge guard forces the distributed path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def planOf(df: DataFrame) = df.queryExecution.executedPlan.toString
    // driver union-find returns a local relation; the distributed
    // propagation is a join/agg pipeline
    val fast = graft.dedup.Dedup.dupClusters(pairs)
    assert(planOf(fast).contains("LocalTableScan"),
      "tiny edge set must take the driver union-find by default")
    withConf(Gates.DriverEdgeLimit -> "0") {
      val twin = graft.dedup.Dedup.dupClusters(pairs)
      assert(!planOf(twin).contains("LocalTableScan"),
        "guard=0 must force the distributed label propagation")
      // and the outputs agree
      val a = fast.as[(Long, Long)].collect().toSet
      val b = twin.select(col("id").cast("long"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(a == b)
    }
  }

  test("shortestHops: zeroing the edge guard forces the recursive path") {
    Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
      .createOrReplaceTempView("gates_edges")
    val fast = graft.operators.Reach.shortestHops(spark, "gates_edges", 0L, 3)
    assert(fast.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "tiny graph must take the driver BFS by default")
    withConf(Gates.DriverEdgeLimit -> "0") {
      val twin = graft.operators.Reach.shortestHops(spark, "gates_edges", 0L, 3)
      assert(!twin.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "guard=0 must force the declarative recursion")
      assert(twin.as[(Long, Int)].collect().toSet ==
        fast.as[(Long, Int)].collect().toSet)
    }
  }

  test("copurchaseLift: zeroing the rescan gate forces the materialization") {
    val rows = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"))
      .toDF("o", "p")
    def hasCheckpointScan(df: DataFrame) =
      df.queryExecution.analyzed.collectLeaves()
        .exists(_.getClass.getSimpleName.contains("LogicalRDD"))
    val fast = graft.analytics.Basket.copurchaseLift(rows, "o", "p", 1L, 1L)
    assert(!hasCheckpointScan(fast),
      "tiny input must rescan, not materialize (the round-7 regression)")
    withConf(Gates.BasketRescanMaxInputBytes -> "0") {
      val twin = graft.analytics.Basket.copurchaseLift(rows, "o", "p", 1L, 1L)
      assert(hasCheckpointScan(twin),
        "gate=0 must force the basket-table localCheckpoint")
      assert(twin.collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getString(0), r.getString(1), r.getLong(2))) ==
        fast.collect().toSet.map((r: org.apache.spark.sql.Row) =>
          (r.getString(0), r.getString(1), r.getLong(2))))
    }
  }

  test("pagerank: zeroing the edge guard forces the distributed loop") {
    val edges = Seq((1, 2, 3L), (2, 1, 1L)).toDF("src", "dst", "w")
    val fast = graft.analytics.Graph.pagerank(edges, 2)
    assert(fast.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "tiny graph must take the driver kernel by default")
    withConf(Gates.DriverEdgeLimit -> "0") {
      val twin = graft.analytics.Graph.pagerank(edges, 2)
      assert(!twin.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "guard=0 must force the distributed power iteration")
      assert(twin.as[(Int, Long)].collect().toSet ==
        fast.as[(Int, Long)].collect().toSet)
    }
  }

  test("Ranked: zeroing the small-input gate forces the ranged decomposition") {
    val df = Seq(("a", 2L, 1L), ("a", 1L, 2L), ("b", 5L, 3L))
      .toDF("grp", "v", "id")
    val fast = graft.operators.Ranked.rowNumberRanged(df, Seq("grp"),
      Seq(col("v"), col("id")), "rn")
    assert(!fast.queryExecution.executedPlan.toString.contains("_rr_pid"),
      "tiny input must take the plain window by default")
    withConf(Gates.RankedSmallInputMaxBytes -> "0") {
      val twin = graft.operators.Ranked.rowNumberRanged(df, Seq("grp"),
        Seq(col("v"), col("id")), "rn")
      assert(twin.queryExecution.executedPlan.toString.contains("_rr_pid"),
        "gate=0 must force the range-partitioned decomposition")
      assert(twin.select("id", "rn").collect().toSet ==
        fast.select("id", "rn").collect().toSet)
    }
  }

  test("embeddingNearDups: zeroing the corpus-row guard forces the BNLJ twin") {
    val rows = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.001)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val fast = graft.dedup.Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
    assert(fast.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "tiny corpus must take the broadcast kernel by default")
    withConf(Gates.DedupKernelMaxCorpusRows -> "0") {
      val twin = graft.dedup.Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
      assert(!twin.queryExecution.executedPlan.toString.contains("MapPartitions"),
        "guard=0 must force the declarative twin")
      assert(twin.collect().toSet == fast.collect().toSet)
    }
  }

  test("termFrequencies: zeroing the small-corpus gate forces the id-keyed exchange") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    def idKeyed(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("hashpartitioning(doc_id")
    val fast = graft.text.Corpus.termFrequencies(docs, "doc_id", "text")
    assert(!idKeyed(fast), "tiny corpus must keep the fanOut shape by default")
    withConf(Gates.CorpusTfSmallInputMaxBytes -> "0") {
      val twin = graft.text.Corpus.termFrequencies(docs, "doc_id", "text")
      assert(idKeyed(twin), "gate=0 must repartition documents by id")
      assert(twin.collect().toSet == fast.collect().toSet)
    }
  }

  /** `.delta` files under the streaming checkpoint root: the durable
    * default provider commits each state version as one, the
    * process-memory provider writes none. */
  private def deltaFiles(): Set[String] = {
    val root = java.nio.file.Paths.get(Scratch.checkpointBase)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.toString).filter(_.endsWith(".delta")).toSet
    } finally walk.close()
  }

  /** The stream queries that keep operator state: each must keep it in
    * memory by default and commit it durably at gate 0. */
  private val statefulStreams = Seq("q42_stream_tumbling",
    "q62_stream_interval_join", "q77_stream_enrich", "q117_stream_dedup")
    .map(n => n -> graft.queries.StreamQueries.queries(n))

  test("stream queries: zeroing the memory-store gate restores the durable provider") {
    // The provider choice is not in the plan; the checkpoint shows it.
    for ((name, q) <- statefulStreams) {
      val before = deltaFiles()
      val memory = norm(q(spark, sf))
      assert(memory.nonEmpty, name)
      assert(deltaFiles() == before, s"$name: default gate must keep state in memory")
      withConf(Gates.StreamMemoryStateStore -> "0") {
        val durable = norm(q(spark, sf))
        assert((deltaFiles() -- before).nonEmpty,
          s"$name: gate=0 must commit state through the durable provider")
        assert(durable == memory, name)
      }
    }
  }

  // ---- both sides of every gate on adversarial input ---------------------

  /** A result in comparable form: every row as text, sorted (a multiset,
    * and NaN-safe, unlike Row equality). */
  private def norm(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val rnd = new scala.util.Random(20261017)
  private def vec(): Seq[Double] = Seq(rnd.nextDouble(), rnd.nextDouble())
  private val hotVec = Seq(1.0, 0.5)
  private val unicode = Seq("café", "café", "日本語", "", "😀 emoji")

  /** (id, vector) corpora: empty, all-NULL ids, duplicate ids, one hot
    * vector shared by every row. */
  private lazy val vectorFrames: Seq[(String, DataFrame)] = Seq(
    "empty" -> Seq.empty[(java.lang.Long, Seq[Double])],
    "null ids" -> Seq.fill(5)((null: java.lang.Long, vec())),
    "duplicate ids" -> Seq(1L, 1L, 2L, 2L, 3L).map(i => (java.lang.Long.valueOf(i), vec())),
    "hot vector" -> (1L to 20L).map(i => (java.lang.Long.valueOf(i), hotVec))
  ).map { case (n, r) => n -> r.toDF("vec_id", "embedding") }

  /** (src, dst, w) edge lists: empty, all-NULL keys, duplicate edges, one
    * hot hub node. */
  private lazy val edgeFrames: Seq[(String, DataFrame)] = {
    def e(s: java.lang.Long, d: java.lang.Long) = (s, d, 1L)
    def l(i: Long): java.lang.Long = java.lang.Long.valueOf(i)
    Seq(
      "empty" -> Seq.empty[(java.lang.Long, java.lang.Long, Long)],
      "null keys" -> Seq(e(null, l(1)), e(l(1), null), e(null, null)),
      "duplicate edges" -> Seq(e(l(0), l(1)), e(l(0), l(1)), e(l(1), l(2)),
        e(l(1), l(2)), e(l(2), l(0))),
      "hot hub" -> (1L to 30L).flatMap(i => Seq(e(l(0), l(i)), e(l(i), l(0))))
    ).map { case (n, r) => n -> r.toDF("src", "dst", "w") }
  }

  /** (order, item) baskets: empty, all-NULL orders, duplicate rows, one
    * hot order, unicode and empty item names. */
  private lazy val basketFrames: Seq[(String, DataFrame)] = {
    def l(i: Long): java.lang.Long = java.lang.Long.valueOf(i)
    Seq(
      "empty" -> Seq.empty[(java.lang.Long, String)],
      "null orders" -> Seq((null: java.lang.Long, "a"), (null, "b"), (null, "a")),
      "duplicate rows" -> Seq((l(1), "a"), (l(1), "a"), (l(1), "b"), (l(2), "a"),
        (l(2), "b"), (l(2), "b")),
      "hot order" -> ((0 until 30).map(i => (l(1), s"i$i")) ++
        (2L to 5L).flatMap(o => Seq((l(o), "i0"), (l(o), s"i$o")))),
      "unicode items" -> ((1L to 3L).flatMap(o => unicode.map(u => (l(o), u))) :+
        ((l(4), null: String)))
    ).map { case (n, r) => n -> r.toDF("o", "p") }
  }

  /** (grp, v, id) rank inputs: empty, all-NULL groups, fully duplicated
    * rows (ties rank alike on both sides), one hot group, unicode keys. */
  private lazy val rankFrames: Seq[(String, DataFrame)] = Seq(
    "empty" -> Seq.empty[(String, Long, Long)],
    "null groups" -> (1L to 20L).map(i => (null: String, i % 3, i)),
    "duplicate rows" -> Seq(("g", 1L, 1L), ("g", 1L, 1L), ("g", 2L, 2L), ("h", 1L, 1L)),
    "hot group" -> (1L to 200L).map(i => ("g", rnd.nextInt(20).toLong, i)),
    "unicode groups" -> (1L to 40L).map(i => (unicode((i % 5).toInt), i % 4, i))
  ).map { case (n, r) => n -> r.toDF("grp", "v", "id") }

  /** (doc_id, text) corpora: empty, all-NULL ids, duplicate ids, one hot
    * term, one shingle every document shares, empty / NULL / unicode
    * text. */
  private lazy val docFrames: Seq[(String, DataFrame)] = {
    def l(i: Long): java.lang.Long = java.lang.Long.valueOf(i)
    Seq(
      "empty" -> Seq.empty[(java.lang.Long, String)],
      "null ids" -> Seq((null: java.lang.Long, "a b"), (null, "c a")),
      "duplicate ids" -> Seq((l(1), "a b"), (l(1), "a c"), (l(2), "b")),
      "hot term" -> Seq((l(1), Seq.fill(300)("x").mkString(" ")), (l(2), "x y")),
      "hot shingle" -> (1L to 20L).map(i => (l(i), s"shared wörds 東京${i % 4}")),
      "unicode text" -> (unicode.zipWithIndex.map { case (t, i) => (l(i.toLong), t) } ++
        Seq((l(10), null: String), (l(11), "   ")))
    ).map { case (n, r) => n -> r.toDF("doc_id", "text") }
  }

  /** Seeded events tables for the stream queries (q42 windows on ts and
    * event_type, q62 joins on user_id, q117 dedups on user_id and
    * event_type), each in its own directory as the single `events.parquet`
    * file the stream stages: empty, all-NULL keys, duplicate event ids,
    * one hot user with unicode event types. */
  private lazy val eventDirs: Seq[(String, String)] = {
    val events = spark.read.parquet(s"$sf/events.parquet").limit(40)
    Seq(
      "empty" -> events.limit(0),
      "null keys" -> events.withColumn("user_id", lit(null).cast("long"))
        .withColumn("event_type", lit(null).cast("string")),
      "duplicate ids" -> events.unionAll(events),
      "hot unicode key" -> events.withColumn("user_id", lit(7L)).withColumn("event_type",
        element_at(typedLit(unicode), (col("event_id") % unicode.length + 1).cast("int")))
    ).map { case (n, df) =>
      val dir = Scratch.tempDir("gates-events")
      val out = dir.resolve("w")
      df.coalesce(1).write.parquet(out.toString)
      val file = out.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(file.toPath, dir.resolve("events.parquet"))
      n -> dir.toString
    }
  }

  private val centroids = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))

  /** key → (operator, frames it runs on, the run). Every Gates.All key
    * must appear (asserted above). */
  private lazy val adversarial: Seq[(String, String, Seq[(String, () => DataFrame)])] = {
    import graft.dedup.Dedup
    def over(frames: Seq[(String, DataFrame)])(run: DataFrame => DataFrame) =
      frames.map { case (n, df) => n -> (() => run(df)) }
    Seq(
      (Gates.DedupKernelMaxCorpusRows, "embeddingNearDups", over(vectorFrames)(
        Dedup.embeddingNearDups(_, "vec_id", "embedding", 0.9))),
      (Gates.DedupKernelMaxCorpusRows, "semanticDedupIvf", over(vectorFrames)(
        Dedup.semanticDedupIvf(_, centroids, 0.9))),
      (Gates.DriverEdgeLimit, "dupClusters", over(edgeFrames)(e =>
        Dedup.dupClusters(e.select(col("src").as("id_a"), col("dst").as("id_b"))))),
      (Gates.DriverEdgeLimit, "shortestHops", over(edgeFrames) { e =>
        e.select("src", "dst").createOrReplaceTempView("gates_adv_edges")
        graft.operators.Reach.shortestHops(spark, "gates_adv_edges", 0L, 3)
      }),
      (Gates.DriverEdgeLimit, "pagerank", over(edgeFrames)(
        graft.analytics.Graph.pagerank(_, 3))),
      (Gates.BasketRescanMaxInputBytes, "copurchaseLift", over(basketFrames)(
        graft.analytics.Basket.copurchaseLift(_, "o", "p", 1L, 1L))),
      (Gates.RankedSmallInputMaxBytes, "rowNumberRanged", over(rankFrames)(
        graft.operators.Ranked.rowNumberRanged(_, Seq("grp"),
          Seq(col("v"), col("id")), "rn"))),
      (Gates.DedupKernelMaxCorpusRows, "jaccardPairs", over(docFrames)(
        Dedup.jaccardPairs(_, "doc_id", "text", 2, 0.3))),
      (Gates.CorpusTfSmallInputMaxBytes, "termFrequencies", over(docFrames)(
        graft.text.Corpus.termFrequencies(_, "doc_id", "text"))),
    ) ++ statefulStreams.collect {
      // q77 also reads the customer table, which the seeded dirs lack
      case (name, q) if name != "q77_stream_enrich" =>
        (Gates.StreamMemoryStateStore, name,
          eventDirs.map { case (n, dir) => n -> (() => q(spark, dir)) })
    }
  }

  test("both sides of every gate agree on adversarial input") {
    for ((key, op, cases) <- adversarial; (frame, run) <- cases) {
      val fast = norm(run())
      val twin = withConf(key -> "0")(norm(run()))
      assert(twin == fast, s"$op on '$frame': $key at default and at 0 differ")
    }
  }
}
