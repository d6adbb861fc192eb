package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The all-twins gate is only as strong as its conf keys actually
  * REACHING their guards: if a key drifted, FORCE_TWINS would set a dead
  * conf, the fast paths would keep running, and the "134/134 all-twins"
  * artifact would certify fallbacks that never executed. Each test sets
  * one Gates.All key to 0 and asserts the operator's PLAN visibly flips
  * to its fallback/materialized shape (outputs are identical by design,
  * so the plan is the only observable). */
class GatesSpec extends SparkSpec {
  import spark.implicits._

  private def withConf(key: String, v: String)(body: => Unit): Unit = {
    spark.conf.set(key, v)
    try body finally spark.conf.unset(key)
  }

  /** The keys the cases below set to 0, one case each. A key added to
    * Gates.All without a case here fails "every gate key has a case". */
  private val zeroedByCase = Seq(Gates.DedupDriverEdgeLimit,
    Gates.ReachDriverEdgeLimit, Gates.BasketRescanMaxInputBytes,
    Gates.GraphDriverEdgeLimit, Gates.RankedSmallInputMaxBytes,
    Gates.DedupKernelMaxCorpusRows, Gates.CorpusTfSmallInputMaxBytes,
    Gates.StreamMemoryStateStore)

  test("every gate key has a case that sets it to 0") {
    assert(Gates.All.toSet -- zeroedByCase == Set.empty[String])
  }

  test("effectiveLimit: session conf wins over the call-site default") {
    assert(Gates.effectiveLimit(spark, Gates.ReachDriverEdgeLimit, 42L) == 42L)
    withConf(Gates.ReachDriverEdgeLimit, "7") {
      assert(Gates.effectiveLimit(spark, Gates.ReachDriverEdgeLimit, 42L) == 7L)
    }
  }

  test("dupClusters: zeroing the edge guard forces the distributed path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // driver union-find returns a local relation; the distributed
    // propagation is a join/agg pipeline
    val fast = graft.dedup.Dedup.dupClusters(pairs)
    assert(planOf(fast).contains("LocalTableScan"),
      "tiny edge set must take the driver union-find by default")
    withConf(Gates.DedupDriverEdgeLimit, "0") {
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
    withConf(Gates.ReachDriverEdgeLimit, "0") {
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
    def hasCheckpointScan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves()
        .exists(_.getClass.getSimpleName.contains("LogicalRDD"))
    val fast = graft.analytics.Basket.copurchaseLift(rows, "o", "p", 1L, 1L)
    assert(!hasCheckpointScan(fast),
      "tiny input must rescan, not materialize (the round-7 regression)")
    withConf(Gates.BasketRescanMaxInputBytes, "0") {
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
    withConf(Gates.GraphDriverEdgeLimit, "0") {
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
    withConf(Gates.RankedSmallInputMaxBytes, "0") {
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
    withConf(Gates.DedupKernelMaxCorpusRows, "0") {
      val twin = graft.dedup.Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
      assert(!twin.queryExecution.executedPlan.toString.contains("MapPartitions"),
        "guard=0 must force the declarative twin")
      assert(twin.collect().toSet == fast.collect().toSet)
    }
  }

  test("termFrequencies: zeroing the small-corpus gate forces the id-keyed exchange") {
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    def idKeyed(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("hashpartitioning(doc_id")
    val fast = graft.text.Corpus.termFrequencies(docs, "doc_id", "text")
    assert(!idKeyed(fast), "tiny corpus must keep the fanOut shape by default")
    withConf(Gates.CorpusTfSmallInputMaxBytes, "0") {
      val twin = graft.text.Corpus.termFrequencies(docs, "doc_id", "text")
      assert(idKeyed(twin), "gate=0 must repartition documents by id")
      assert(twin.collect().toSet == fast.collect().toSet)
    }
  }

  test("stream queries: zeroing the memory-store gate restores the durable provider") {
    // The provider choice is not in the plan; the checkpoint shows it: the
    // durable default provider commits each state version as a .delta
    // file, the process-memory provider writes none.
    def deltaFiles(): Set[String] = {
      val root = java.nio.file.Paths.get(Scratch.checkpointBase)
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(_.toString).filter(_.endsWith(".delta")).toSet
      } finally walk.close()
    }
    val q117 = graft.queries.StreamQueries.queries("q117_stream_dedup")
    val before = deltaFiles()
    val memory = q117(spark, sf).collect().toSet
    assert(memory.nonEmpty)
    assert(deltaFiles() == before, "default gate must keep state in memory")
    withConf(Gates.StreamMemoryStateStore, "0") {
      val durable = q117(spark, sf).collect().toSet
      assert((deltaFiles() -- before).nonEmpty,
        "gate=0 must commit state through the durable provider")
      assert(durable == memory)
    }
  }
}
