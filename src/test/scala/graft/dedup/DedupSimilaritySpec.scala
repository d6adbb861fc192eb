package graft.dedup

import org.apache.spark.sql.functions._

import graft.{HostileText, SparkSpec}
import graft.similarity.Similarity

class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
      (3L, "completely different content about spark shuffles and partitions"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("exactDupGroups collapses identical content") {
    val got = rows(Dedup.exactDupGroups(docs, "doc_id", col("text"))
      .orderBy(col("keep_id")))
    assert(got.length == 3)
    val g1 = got.find(_.getAs[Long]("keep_id") == 1L).get
    assert(g1.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH surfaces the near-dup pair with high estimated jaccard") {
    val pairs = rows(Dedup.minhashCandidatePairs(docs, "doc_id", "text"))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("est_jaccard")))
    // 1-2 (near-dup) and 1-4 (exact) must both surface; exact pair estimates 1.0
    assert(pairs.exists { case (a, b, _) => a == 1L && b == 4L })
    assert(pairs.find { case (a, b, _) => a == 1L && b == 4L }.get._3 == 1.0)
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j >= 0.5 })
  }

  test("jaccardPairs computes exact set similarity above threshold") {
    val got = rows(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    assert(got.find { case (a, b, _) => a == 1L && b == 4L }.get._3 == 1.0)
    assert(got.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.5 && j < 1.0 })
    assert(!got.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  private def jaccardRows(df: org.apache.spark.sql.DataFrame) =
    rows(df).map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Double]("jaccard"))).toSet

  private def planOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.toString

  test("jaccardPairs: stats-less input skips the sizing scan, shuffle path agrees") {
    // When 2x the analyzed size estimate already exceeds the broadcast
    // cap, the octet sizing scan is skipped and the twin's shuffle
    // verification runs. A frame over a bare RDD has no stats (its
    // LogicalRDD estimates spark.sql.defaultSizeInBytes), so it exercises
    // exactly that branch — output must match the kernel bit-for-bit. (A
    // localCheckpoint'd frame keeps its origin's stats and would still
    // take the kernel.)
    val viaKernel = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    assert(planOf(viaKernel).contains("MapPartitions") &&
      !planOf(viaKernel).contains("Window"), "small corpus must take the kernel")
    val statless = spark.createDataFrame(docs.rdd, docs.schema)
    val viaShuffle = Dedup.jaccardPairs(statless, "doc_id", "text", 3, 0.5)
    assert(planOf(viaShuffle).contains("Window") &&
      !planOf(viaShuffle).contains("MapPartitions"),
      "the stats-less side must plan the twin")
    assert(jaccardRows(viaShuffle) == jaccardRows(viaKernel))
  }

  /** Near-dup families over a shared vocabulary: exact copies, one-word
    * edits, a header shingle a fifth of the corpus shares, unicode,
    * short/empty/NULL text and two NULL ids (which the kernel's
    * duplicate-id check must not count as a repeat). */
  private def jaccardCorpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val rows = (1L to 40L).map { i =>
      val t = (i % 5) match {
        case 0 => s"$base today"
        case 1 => s"$base tonight variant ${i % 3}"
        case 2 => s"completely different content number ${i % 4} about spark shuffles"
        case 3 => s"shared header words then unique tail $i and more ${i % 2}"
        case _ => s"naïve café déjà-vu 東京 数据 😀 line ${i % 2}"
      }
      (java.lang.Long.valueOf(i), t)
    } ++ Seq((java.lang.Long.valueOf(41L), "two words"),
      (java.lang.Long.valueOf(42L), ""), (java.lang.Long.valueOf(43L), null: String),
      (null: java.lang.Long, s"$base today"), (null: java.lang.Long, s"$base today"))
    rows.toDF("doc_id", "text")
  }

  test("jaccardPairs: broadcast kernel equals the twin forced by gate 0") {
    val corpus = jaccardCorpus
    for (n <- Seq(1, 2, 3); t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val kernel = Dedup.jaccardPairs(corpus, "doc_id", "text", n, t)
      assert(planOf(kernel).contains("MapPartitions"), s"n=$n t=$t: kernel missing")
      val twin = withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "0") {
        val tw = Dedup.jaccardPairs(corpus, "doc_id", "text", n, t)
        assert(planOf(tw).contains("Window") && !planOf(tw).contains("MapPartitions"),
          s"n=$n t=$t: gate 0 must plan the twin")
        jaccardRows(tw)
      }
      val got = jaccardRows(kernel)
      assert(got.nonEmpty, s"n=$n t=$t: the corpus plants pairs")
      assert(got == twin, s"n=$n t=$t: kernel ${got -- twin} vs twin ${twin -- got}")
    }
  }

  test("jaccardPairs: duplicate or string ids and TOCTOU growth fall to the twin") {
    import spark.implicits._
    val corpus = jaccardCorpus
    val expected = jaccardRows(Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.5))
    // a duplicated id — even on an empty-text row — refuses the kernel
    val dup = corpus.union(Seq((7L, "")).toDF("doc_id", "text"))
    val kernelIn = dup.select(col("doc_id"),
      graft.functions.ShingleSet.hashes(col("text"), 3))
    assert(Dedup.jaccardKernel(kernelIn, 0.5).isEmpty)
    val viaDup = Dedup.jaccardPairs(dup, "doc_id", "text", 3, 0.5)
    assert(planOf(viaDup).contains("Window"), "duplicate ids must plan the twin")
    assert(jaccardRows(viaDup) == expected)
    // string ids dispatch to the twin, same pairs
    val viaString = Dedup.jaccardPairs(
      corpus.withColumn("doc_id", col("doc_id").cast("string")), "doc_id", "text", 3, 0.5)
    assert(planOf(viaString).contains("Window"), "string ids must plan the twin")
    // (pairs are ordered by the id type: "10" < "5" as strings)
    assert(rows(viaString).map { r =>
      val (a, b) = (r.getString(0).toLong, r.getString(1).toLong)
      (math.min(a, b), math.max(a, b), r.getDouble(2))
    }.toSet == expected)
    // the bounded collect sees more rows than the gate → None
    val ok = corpus.select(col("doc_id"), graft.functions.ShingleSet.hashes(col("text"), 3))
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "10") {
      assert(Dedup.jaccardKernel(ok, 0.5).isEmpty,
        "a 43-row collect must not pass a 10-row gate")
    }
  }

  test("simhashNearDupPairs surfaces exact and near dups via band join") {
    val got = rows(Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    assert(got.exists { case (a, b, h) => a == 1L && b == 4L && h == 0 })
    // each surviving pair reports exact hamming <= 3 and no duplicates
    assert(got.distinct.length == got.length)
    assert(got.forall(_._3 <= 3))
  }

  test("maxBucketSize drops boilerplate mega-buckets, keeps normal pairs") {
    import spark.implicits._
    // 50 identical boilerplate docs: one 50-row LSH bucket per band whose
    // Σ bucket² join would contribute 1225 junk pairs
    val boiler = (0 until 50).map(i =>
      (100L + i, "all rights reserved copyright notice template page boilerplate text legal footer"))
    val corpus = (boiler :+
      (1L, "the quick brown fox jumps over the lazy dog again and again today") :+
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight") :+
      (3L, "the quick brown fox jumps over the lazy dog again and again today")) // exact dup of 1
      .toDF("doc_id", "text")
    val uncapped = rows(Dedup.minhashCandidatePairs(corpus, "doc_id", "text"))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(uncapped.count { case (a, _) => a >= 100L } == 50 * 49 / 2)
    val capped = rows(Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
        maxBucketSize = 10))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(capped.contains((1L, 2L)), "normal near-dup must survive the cap")
    assert(!capped.exists { case (a, _) => a >= 100L },
      "boilerplate bucket must be dropped")
    // same guard on the simhash band join (1-3 are exact dups: hamming 0)
    val cappedSh = rows(Dedup.simhashNearDupPairs(corpus, "doc_id", "text",
        maxHamming = 3, maxBucketSize = 10))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(cappedSh.contains((1L, 3L)), "exact dup must survive the cap")
    assert(!cappedSh.exists(_._1 >= 100L), "boilerplate bucket must be dropped")
  }

  test("simhashCrossPairs finds cross-corpus near-dups, directionally") {
    import spark.implicits._
    val evalDocs = docs.filter(col("doc_id").isin(1L, 3L))
    val trainDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 1
      (11L, "unrelated text about weighted reservoir sampling at scale")
    ).toDF("doc_id", "text")
    val got = rows(Dedup.simhashCrossPairsFromSigs(
        Dedup.simhashSignatures(evalDocs, "doc_id", "text").localCheckpoint(true),
        Dedup.simhashSignatures(trainDocs, "doc_id", "text").localCheckpoint(true), 3))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    assert(got.exists { case (a, b, h) => a == 1L && b == 10L && h == 0 })
    assert(got.forall { case (a, b, _) => Set(1L, 3L)(a) && Set(10L, 11L)(b) })
  }

  test("dupClusters: NULL-keyed pairs are dropped by BOTH paths, never an NPE") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)))
      .toDF("id_a", "id_b")
    // driver path (tiny edge set): the typed collect used to crash on the
    // non-nullable encoder field
    val fast = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toSet
    assert(fast == Set((1L, 1L), (2L, 1L)))
    // distributed path: same semantic
    val twin = withConf(graft.core.Gates.DriverEdgeLimit -> "0") {
      Dedup.dupClusters(pairs)
        .select(col("id").cast("long"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    }
    assert(twin == fast)
  }

  test("a RAISED kernel guard (Int.MaxValue) must not wrap the probe limit") {
    import spark.implicits._
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> Int.MaxValue.toString) {
      val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
        (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
      val got = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)))
    }
  }

  test("dupClusters resolves pairs into min-id connected components") {
    import spark.implicits._
    // chain 1-2-3 (via two pairs), isolated pair 7-9, transitive 4-5-6
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (5L, 6L), (4L, 6L))
      .toDF("id_a", "id_b")
    val got = rows(Dedup.dupClusters(pairs))
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    // distributed label-propagation path (driver fast path disabled) agrees
    val distributed = withConf(graft.core.Gates.DriverEdgeLimit -> "0") {
      rows(Dedup.dupClusters(pairs))
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    }
    assert(distributed == got)
  }

  test("simhashComponents lifts sig-level components to the doc-pair answer") {
    // must equal dupClusters over the enumerated pair graph, plus explicit
    // singletons (cluster_id = id) for docs with no near-dup
    val viaPairs = rows(Dedup.dupClusters(
        Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3)))
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    val viaSigs = rows(Dedup.simhashComponents(docs, "doc_id", "text", 3))
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    val allIds = rows(docs.select(col("doc_id"))).map(_.getLong(0)).toSet
    assert(viaSigs.keySet == allIds)
    viaPairs.foreach { case (id, c) => assert(viaSigs(id) == c) }
    (allIds -- viaPairs.keySet).foreach(id => assert(viaSigs(id) == id))
  }

  test("embeddingNearDups finds the planted high-cosine pair, IVF variant agrees in-cluster") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f, 0.0f)), // near-dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val exact = rows(Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.9))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(exact == Seq((0L, 1L)))
    // IVF-bucketed path: centroids at 0 and 2 — pair (0,1) shares cluster 0
    val centroids = Array(
      (0L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)))
    val ivf = rows(Dedup.embeddingNearDupsIvf(emb, centroids, 0.9))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(ivf == Seq((0L, 1L)))
  }

  test("embeddingNearDups: broadcast kernel is bit-identical to the BNLJ twin") {
    // Real corpus (sf0.001 embeddings, inexact float coordinates) at a
    // threshold low enough to emit many pairs, including ones sitting
    // near the 6-dp rounding boundary. EXACT equality — the kernel claims
    // the same IEEE op sequence (seq-fold dot, sqrt per row, dot/(na*nb),
    // Spark round), not approximate agreement.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val kernel = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.2)
    val bnlj = Dedup.embeddingNearDupsBnlj(emb, "vec_id", "embedding", 0.2)
    assert(kernel.count() > 100, "test corpus should emit many pairs")
    assert(kernel.exceptAll(bnlj).count() == 0L &&
      bnlj.exceptAll(kernel).count() == 0L)
    // names+types must match (nullability may differ: kernel tuples are
    // primitive-backed, join outputs are nullable)
    assert(kernel.schema.map(f => (f.name, f.dataType)) ==
      bnlj.schema.map(f => (f.name, f.dataType)))
  }

  test("embeddingNearDups: null id/vector rows drop like the twin, no NPE") {
    import spark.implicits._
    val rows = Seq(
      (java.lang.Long.valueOf(1L), Seq(1.0, 0.0)),
      (java.lang.Long.valueOf(2L), Seq(1.0, 0.001)),
      (java.lang.Long.valueOf(3L), null: Seq[Double]),
      (null: java.lang.Long, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val kernel = Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
    val bnlj = Dedup.embeddingNearDupsBnlj(rows, "vec_id", "embedding", 0.9)
    assert(kernel.collect().toSet == bnlj.collect().toSet)
    assert(kernel.count() == 1L) // only the (1,2) pair survives
  }

  test("embeddingNearDups: non-long ids dispatch to the twin, same pairs") {
    import spark.implicits._
    val longIds = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.001)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val intIds = longIds.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    val viaKernel = Dedup.embeddingNearDups(longIds, "vec_id", "embedding", 0.9)
    val viaTwin = Dedup.embeddingNearDups(intIds, "vec_id", "embedding", 0.9)
    assert(viaTwin.schema("id_a").dataType ==
      org.apache.spark.sql.types.IntegerType) // guard refused, twin ran
    assert(viaKernel.select(col("id_a").cast("int"), col("id_b").cast("int"),
      col("cos_sim")).collect().toSet == viaTwin.collect().toSet)
  }

  test("embeddingNearDups: past-guard long-id corpora fall back to the twins") {
    import spark.implicits._
    val rows = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.001)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val viaKernel = Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
    assert(viaKernel.queryExecution.executedPlan.toString.contains("MapPartitions"))
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "1") {
      val exact = Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
      assert(!exact.queryExecution.executedPlan.toString.contains("MapPartitions"),
        "guard must route past-limit corpora to the BNLJ twin")
      assert(exact.collect().toSet == viaKernel.collect().toSet)
      // the IVF pairs path is the cluster-keyed join at any gate setting
      val centroids = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
      val ivf = Dedup.embeddingNearDupsIvf(rows, centroids, 0.9, "vec_id", "embedding")
      assert(!ivf.queryExecution.executedPlan.toString.contains("MapPartitions"),
        "the IVF pairs path must be the cluster-join, never a kernel")
      assert(ivf.collect().toSet == viaKernel.collect().toSet)
    }
  }

  test("embeddingNearDups: null vector ELEMENTS score like the twin (0.0 slots)") {
    import spark.implicits._
    // The twin's DotProduct fold reads a null array slot as 0.0
    // (UnsafeArrayData zeroes the value region); the kernel coalesces null
    // elements to 0.0 in its projection. Both engines must agree exactly —
    // row 2's null second element makes it orthogonal-ish to nothing, so
    // (1,2) still clears the 0.9 bar on the first component alone.
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 0.0)),
      (2L, Seq[java.lang.Double](1.0, null)),
      (3L, Seq[java.lang.Double](null, 1.0)))
      .toDF("vec_id", "embedding")
    val kernel = Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.5)
    val bnlj = Dedup.embeddingNearDupsBnlj(rows, "vec_id", "embedding", 0.5)
    assert(kernel.collect().toSet == bnlj.collect().toSet)
    assert(kernel.select(col("id_a"), col("id_b")).collect().toSet ==
      Set(org.apache.spark.sql.Row(1L, 2L)))
  }

  test("embeddingNearDups: zero-norm dropped, NaN-element kept — kernel == twin == oracle rule") {
    import spark.implicits._
    // The semantics, defined ONCE (Dedup.pairScoreKernel scaladoc) from
    // the DuckDB oracle's behavior:
    //  * norm product == 0 (all-zero row 3, all-null-element row 4) →
    //    DuckDB's /0 yields NULL → the >= filter DROPS the pair. The
    //    twins get this from try_divide; ANSI Spark's bare `/` would
    //    instead THROW mid-join (non-ANSI Divide also yields NULL, so
    //    try_divide only changes the ANSI case; NaN arises solely in the
    //    kernel's raw IEEE division, guarded by its d != 0 test).
    //  * NaN elements with a NONZERO norm product (row 5: its norm is
    //    NaN, and NaN ≠ 0) → NaN cosine propagates and compares GREATER
    //    than the threshold in both engines → pair KEPT.
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 0.0)),
      (2L, Seq[java.lang.Double](1.0, 0.001)),
      (3L, Seq[java.lang.Double](0.0, 0.0)),
      (4L, Seq[java.lang.Double](null, null)),
      (5L, Seq[java.lang.Double](Double.NaN, 1.0)))
      .toDF("vec_id", "embedding")
    val kernel = Dedup.embeddingNearDups(rows, "vec_id", "embedding", 0.9)
    assert(kernel.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "corpus under the guard must take the kernel path")
    val bnlj = Dedup.embeddingNearDupsBnlj(rows, "vec_id", "embedding", 0.9)
    // exceptAll (NaN-safe equality), not collect().toSet — Scala's
    // Double NaN != NaN would make identical outputs compare unequal.
    assert(kernel.exceptAll(bnlj).count() == 0L &&
      bnlj.exceptAll(kernel).count() == 0L)
    // (1,2) real + NaN-divisor pairs touching row 5: (1,5),(2,5),(3,5),
    // (4,5) — note (3,5)/(4,5) divisors are 0·NaN = NaN ≠ 0, so they
    // divide and keep. Zero-divisor pairs (1,3),(1,4),(2,3),(2,4),(3,4)
    // are dropped.
    assert(kernel.count() == 5L)
    assert(kernel.filter(isnan(col("cos_sim"))).count() == 4L)
    // the IVF path applies the same rule: its cluster-keyed join keeps
    // exactly the kernel's same-cluster pairs on this corpus too
    val centroids = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val ivf = Dedup.embeddingNearDupsIvf(rows, centroids, 0.9, "vec_id", "embedding")
    val same = sameClusterPairs(kernel, rows, centroids)
    assert(ivf.exceptAll(same).count() == 0L && same.exceptAll(ivf).count() == 0L)
  }

  test("pairScoreKernel: driver collect is limit-bounded, None past the guard") {
    import spark.implicits._
    // TOCTOU backstop: even when the dispatch-time probe approved the
    // kernel, the collect itself is the row gate's limit(n + 1)-bounded
    // collect — a corpus whose re-evaluation exceeds the guard yields
    // None (caller falls back to the twin) instead of an unbounded driver
    // collect.
    val k = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.001)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => coalesce(x, lit(0.0))).as("v"))
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "2") {
      assert(Dedup.pairScoreKernel(k, 0.9).isEmpty,
        "3-row corpus must not pass a 2-row guard at collect time")
    }
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "3") {
      val ok = Dedup.pairScoreKernel(k, 0.9)
      assert(ok.isDefined && ok.get.count() == 1L) // the (1,2) pair
    }
  }

  /** The exact path's pairs whose two ids share an IVF cluster — what the
    * cluster-keyed IVF join must emit, pair for pair. */
  private def sameClusterPairs(exact: org.apache.spark.sql.DataFrame,
                               df: org.apache.spark.sql.DataFrame,
                               centroids: Array[(Long, Array[Double])]) = {
    val cluster = Similarity.ivfAssign(df, centroids)
      .select(col("vec_id"), col("cluster_id"))
    exact.join(cluster.toDF("id_a", "ca"), "id_a")
      .join(cluster.toDF("id_b", "cb"), "id_b")
      .filter(col("ca") === col("cb"))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  test("embeddingNearDupsIvf: cluster join equals the kernel's same-cluster pairs") {
    // Same recipe as q134: real corpus, first 8 vectors as seed centroids,
    // threshold low enough to emit many within-cluster pairs. EXACT
    // equality — Similarity.cosine runs the same IEEE op sequence per pair
    // as the broadcast kernel, which hoists norms per row.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), graft.similarity.Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val ivf = Dedup.embeddingNearDupsIvf(emb, centroids, 0.2)
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.2)
    assert(exact.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "the exact reference must come from the broadcast kernel")
    val same = sameClusterPairs(exact, emb, centroids)
    assert(ivf.count() > 20, "test corpus should emit many within-cluster pairs")
    assert(ivf.exceptAll(same).count() == 0L &&
      same.exceptAll(ivf).count() == 0L)
    assert(ivf.schema.map(f => (f.name, f.dataType)) ==
      exact.schema.map(f => (f.name, f.dataType)))
  }

  test("semantic dedup survivor rule: lower id survives, cross-cluster dups ignored") {
    import spark.implicits._
    // 0-1 near-dups in cluster 0 (1 must drop); 2-3 near-dups but in
    // DIFFERENT clusters (both survive — the documented IVF recall trade);
    // 4 alone in cluster 0 (survives).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.14f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f)),   // nearer centroid 1
      (3L, Array(0.8f, 0.6f, 0.0f)),   // nearer centroid 0, cos(2,3)=0.96
      (4L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val centroids = Array(
      (0L, Array(1.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0)))
    val pairs = rows(Dedup.embeddingNearDupsIvf(emb, centroids, 0.9))
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(2L, 3L) },
      "cross-cluster pair must not surface in the bucketed path")
    val droppedIds = pairs.map(_._2)
    assert(droppedIds.contains(1L) && !droppedIds.contains(0L) &&
      !droppedIds.contains(4L))
  }

  test("semanticDedupIvf: accounting kernel is bit-identical to the join twin") {
    // Same recipe as q134: real corpus, first 8 vectors as seed centroids,
    // threshold low enough that many vectors drop. EXACT equality with the
    // declarative twin — the kernel emits each vector's raw max cosine and
    // leaves the round(·,6) >= t decision to Spark, so rounding semantics
    // are shared by construction (round is monotone: round(max c) >= t
    // ⟺ ∃ pair round(c) >= t).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val kernel = Dedup.semanticDedupIvf(emb, centroids, 0.2)
    assert(kernel.queryExecution.executedPlan.toString.contains("MapPartitions"),
      "corpus under the guard must take the accounting kernel")
    val twin = Dedup.semanticDedupIvfJoin(emb, centroids, 0.2)
    assert(kernel.count() == emb.count(), "one accounting row per input row")
    assert(kernel.filter(col("kept") === 0).count() > 20,
      "test corpus should drop many vectors at this threshold")
    assert(kernel.exceptAll(twin).count() == 0L &&
      twin.exceptAll(kernel).count() == 0L)
    assert(kernel.schema.map(f => (f.name, f.dataType)) ==
      twin.schema.map(f => (f.name, f.dataType)))
  }

  test("semanticDedupIvf: dirty corpus (null id/vec, zero-norm, NaN) matches the twin") {
    import spark.implicits._
    // Row 2 drops against row 1 (cos ≈ 1 ≥ 0.9). Zero-norm row 3 and
    // all-null row 4 pair with nobody (divisor 0 → twin's try_divide NULL).
    // NaN-element rows get NaN distances to every centroid, so ivfAssign's
    // argmin keeps the -1 seed: rows 5 and 7 land TOGETHER in cluster -1,
    // their pair's divisor is NaN ≠ 0, the cosine is NaN ≥ t in both
    // engines → the higher id 7 drops, 5 survives. Null-id and null-vec
    // rows pass through kept = 1 (they fail the twin's join/filter); the
    // two null-id rows must not count as a duplicate id, which would
    // silently route the whole corpus to the twin.
    val rows = Seq(
      (java.lang.Long.valueOf(1L), Seq[java.lang.Double](1.0, 0.0)),
      (java.lang.Long.valueOf(2L), Seq[java.lang.Double](1.0, 0.001)),
      (java.lang.Long.valueOf(3L), Seq[java.lang.Double](0.0, 0.0)),
      (java.lang.Long.valueOf(4L), Seq[java.lang.Double](null, null)),
      (java.lang.Long.valueOf(5L), Seq[java.lang.Double](Double.NaN, 1.0)),
      (java.lang.Long.valueOf(6L), null: Seq[java.lang.Double]),
      (java.lang.Long.valueOf(7L), Seq[java.lang.Double](Double.NaN, 2.0)),
      (null: java.lang.Long, Seq[java.lang.Double](1.0, 0.0)),
      (null: java.lang.Long, Seq[java.lang.Double](1.0, 0.001)))
      .toDF("vec_id", "embedding")
    val centroids = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val kernel = Dedup.semanticDedupIvf(rows, centroids, 0.9)
    assert(kernel.queryExecution.executedPlan.toString.contains("MapPartitions"))
    val twin = Dedup.semanticDedupIvfJoin(rows, centroids, 0.9)
    assert(kernel.exceptAll(twin).count() == 0L &&
      twin.exceptAll(kernel).count() == 0L)
    val kept = kernel.collect()
      .map(r => (if (r.isNullAt(0)) -99L else r.getLong(0)) -> r.getInt(2))
    assert(kept.sortBy(_._1).toSeq == Seq(-99L -> 1, -99L -> 1, 1L -> 1, 2L -> 0,
      3L -> 1, 4L -> 1, 5L -> 1, 6L -> 1, 7L -> 0))
  }

  test("semanticDedupIvf: duplicate ids route to the twin's id-level semantics") {
    import spark.implicits._
    // id 2 occurs twice: one row near-dups id 1, the other is orthogonal.
    // The id-level contract drops EVERY row of a dropped id (join on id),
    // so both id-2 rows read kept = 0 — per-row accounting would keep the
    // orthogonal one, which is why the accounting kernel refuses duplicate
    // ids and the declarative twin runs.
    val rows = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(1.0, 0.001)),
      (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val centroids = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val got = Dedup.semanticDedupIvf(rows, centroids, 0.9)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("Join"),
      "dup-id fallback must take id-level semantics from the survivor join")
    val byId = got.collect().groupBy(_.getLong(0))
    assert(byId(2L).map(_.getInt(2)).toSeq == Seq(0, 0),
      "both rows of a dropped id must read kept = 0")
    assert(byId(1L).head.getInt(2) == 1)
    // and the fully declarative twin agrees row-for-row
    val twin = Dedup.semanticDedupIvfJoin(rows, centroids, 0.9)
    assert(got.exceptAll(twin).count() == 0L &&
      twin.exceptAll(got).count() == 0L)
  }

  test("semanticDedupIvf: past-guard corpora fall back to the twin, same accounting") {
    import spark.implicits._
    val rows = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.001)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val centroids = Array((0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)))
    val viaKernel = Dedup.semanticDedupIvf(rows, centroids, 0.9)
    assert(viaKernel.queryExecution.executedPlan.toString.contains("MapPartitions"))
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "1") {
      val twin = Dedup.semanticDedupIvf(rows, centroids, 0.9)
      assert(!twin.queryExecution.executedPlan.toString.contains("MapPartitions"),
        "guard must route past-limit corpora to the join twin")
      assert(twin.collect().toSet == viaKernel.collect().toSet)
    }
    // TOCTOU backstop: the accounting collect itself is limit-bounded
    val k = rows.select(col("vec_id"), lit(0L).as("key"),
      transform(col("embedding"), x => coalesce(x, lit(0.0))).as("v"))
    withConf(graft.core.Gates.DedupKernelMaxCorpusRows -> "2") {
      assert(Dedup.semanticDedupAccounting(k, 0.9, "vec_id").isEmpty,
        "3-row corpus must not pass a 2-row guard at collect time")
    }
  }

  test("simhash: identical docs collide, near-dups are hamming-close") {
    import spark.implicits._
    val sh = rows(docs.select(col("doc_id"), Dedup.simhash31(col("text")).as("s")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("SimHash31Expr matches the independent HOF formulation bit-for-bit") {
    import spark.implicits._
    // Two independent implementations of the same spec: the interpreted
    // HOF majority-vote chain and the codegen'd expression. Unicode,
    // repeated tokens, mixed whitespace, single-token docs and the hostile
    // text fixture included, in both expression factory modes.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "naïve café déjà-vu ünïcödé 東京 数据",
      "a a a a a b b b c", "x", "  tabs\tand\nnewlines  mixed\r\nhere ",
      "punct! punct? (parens) [brackets] {braces}", "   \t\n ")
    val df = HostileText.frame(spark, texts)
    for ((mode, confs) <- HostileText.factoryModes) withConf(confs: _*) {
      val got = rows(df.select(col("doc_id"),
        graft.functions.SimHash31.simhash(col("text")).as("e"),
        Dedup.simhash31(col("text")).as("h"),
        size(graft.functions.TextOps.tokens(col("text"))).as("n")))
      assert(got.length == HostileText.rowCount(texts))
      got.foreach { r =>
        // token-less docs: the expression yields NULL (signatures drop
        // the row), where the HOF's empty-input value is 0
        if (r.isNullAt(1)) assert(r.isNullAt(3) || r.getInt(3) <= 0,
          s"$mode doc ${r.getLong(0)}: NULL signature for a doc with tokens")
        else assert(r.getLong(1) == r.getLong(2),
          s"$mode doc ${r.getLong(0)}: expr ${r.getLong(1)} != hof ${r.getLong(2)}")
      }
      assert(got.count(_.isNullAt(1)) == 3, s"$mode: NULL, empty and blank docs")
    }
    assert(rows(Dedup.simhashSignatures(
      Seq((0L, ""), (1L, "hello world")).toDF("doc_id", "text"),
      "doc_id", "text")).map(_.getLong(0)) == Seq(1L))
  }

  test("SortedIntersectCountExpr matches size(array_intersect) on sorted input") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 9L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(2L, 2L, 2L), Seq(2L, 2L)), // duplicate runs count once
      (Seq(-5L, 0L, 5L), Seq(-5L, 0L, 5L)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)))
    val df = cases.toDF("a", "b")
    rows(df.select(
      graft.functions.Intersect.sortedCount(col("a"), col("b")).as("fused"),
      size(array_intersect(col("a"), col("b"))).as("builtin")))
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("MinHashExpr matches the independent HOF formulation element-wise") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs today",
      "naïve café déjà-vu ünïcödé 東京 数据 tokens here",
      "a b a b a b a b a b", "one two three")
    val df = HostileText.frame(spark, texts)
    for ((mode, confs) <- HostileText.factoryModes) withConf(confs: _*) {
      val got = rows(df.select(col("doc_id"),
        graft.functions.MinHash.signature(col("text"), 16, 3).as("e"),
        Dedup.minhashSignature(col("text"), 16, 3).as("h")))
      assert(got.length == HostileText.rowCount(texts))
      got.foreach { r =>
        val (e, h) = (Option(r.getSeq[Long](1)), Option(r.getSeq[Long](2)))
        assert(e == h, s"$mode doc ${r.getLong(0)}: expr $e != hof $h")
      }
      // agree-count kernel vs the HOF spelling, on signature pairs
      val agree = rows(df.as("a").crossJoin(df.as("b")).select(
        graft.functions.MinHash.agreeCount(
          graft.functions.MinHash.signature(col("a.text"), 16, 3),
          graft.functions.MinHash.signature(col("b.text"), 16, 3)).as("e"),
        size(filter(zip_with(
          Dedup.minhashSignature(col("a.text"), 16, 3),
          Dedup.minhashSignature(col("b.text"), 16, 3),
          (x, y) => x === y), e => e)).as("h")))
      agree.foreach(r => assert(r.get(0) == r.get(1), s"$mode: $r"))
    }
    // fewer than shingleN tokens → NULL signature, in BOTH formulations.
    // The HOF twin used to emit [NULL × numPerms] instead of NULL: every
    // short doc then passed an isNotNull filter, all of them landed in
    // one mega LSH bucket (concat_ws skips NULLs), and null agreement
    // slots read as matches.
    // ...including NULL text (shingle array NULL, not just empty — the
    // size(...)===0 guard alone fell through on it).
    val short = rows(Seq((0L, "two tokens"), (1L, ""), (2L, null))
      .toDF("doc_id", "text")
      .select(graft.functions.MinHash.signature(col("text"), 16, 3).as("e"),
        Dedup.minhashSignature(col("text"), 16, 3).as("h")))
    assert(short.forall(r => r.isNullAt(0) && r.isNullAt(1)),
      s"short/empty/null docs must yield NULL signatures in both forms: $short")
    assert(rows(Dedup.minhashSignatures(
      Seq((0L, "a b"), (1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", 16, 3)).map(_.getLong(0)) == Seq(1L))
  }

  test("ShingleSetExpr matches the HOF formulation, codegen and interpreted") {
    import graft.functions.{ColumnOps, ShingleSet, TextOps}
    val df = HostileText.frame(spark)
    for ((mode, confs) <- HostileText.factoryModes; n <- Seq(1, 2, 3, 5))
      withConf(confs: _*) {
        val got = rows(df.select(col("doc_id"),
          ShingleSet.hashes(col("text"), n).as("e"),
          sort_array(transform(TextOps.wordShingles(col("text"), n),
            s => ColumnOps.stable64(s))).as("h")))
        assert(got.length == HostileText.rowCount())
        got.foreach { r =>
          val (e, h) = (Option(r.getSeq[Long](1)), Option(r.getSeq[Long](2)))
          assert(e == h, s"$mode n=$n doc ${r.getLong(0)}: expr $e != hof $h")
          assert(e.forall(s => s == s.distinct.sorted))
        }
        // NULL text is NULL; short text is empty, not NULL
        val byId = got.map(r => r.getLong(0) -> r).toMap
        assert(byId(0L).isNullAt(1))
        assert(byId(1L).getSeq[Long](1).isEmpty)
      }
  }
}

class SimilaritySpec extends SparkSpec {

  test("cosine: self-similarity is 1, orthogonal is 0") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val got = rows(df.select(
      Similarity.cosine(Similarity.toDoubleVec(col("a")), Similarity.toDoubleVec(col("b"))).as("self"),
      Similarity.cosine(Similarity.toDoubleVec(col("a")), Similarity.toDoubleVec(col("c"))).as("orth"))).head
    assert(got.getDouble(0) == 1.0 && got.getDouble(1) == 0.0)
  }

  test("bruteForceTopK: separate query table keeps coincidental id matches") {
    import spark.implicits._
    val corpus = Seq((7L, Seq(1.0, 0.0)), (8L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((7L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    // default self-search semantics exclude the equal-id pair...
    val self = graft.similarity.Similarity
      .bruteForceTopK(queries, corpus, 1).select("neighbor_id")
      .as[Long].collect().toSeq
    assert(self == Seq(8L))
    // ...but a DISTINCT query table must keep corpus row 7 — its id
    // collision is coincidental and it is the true top-1
    val cross = graft.similarity.Similarity
      .bruteForceTopK(queries, corpus, 1, excludeSelf = false)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(cross == Seq(7L))
  }

  test("hyperplaneBucket refuses more planes than a long has bits") {
    val planes = (0 until 65).map(i => Seq(i.toDouble, 1.0))
    val e = intercept[IllegalArgumentException] {
      graft.similarity.Similarity.hyperplaneBucket(col("v"), planes)
    }
    assert(e.getMessage.contains("64"))
  }

  test("trainCentroids returns the sample size when it is under k, loudly not wrongly") {
    import spark.implicits._
    val df = (1 to 5).map(i => (i.toLong, Seq(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    val cs = graft.similarity.Similarity.trainCentroids(df, k = 16, iters = 1)
    assert(cs.length == 5)
  }

  test("cosine zero-norm rule holds in the ANN paths: NULL, ranked last, never a throw") {
    import spark.implicits._
    // Same oracle-defined rule the near-dup twins got in round 11
    // (norm product 0 → NULL → dropped by thresholds, NULLS LAST under
    // cos_sim DESC in both engines): the ANN scorers share cosine(), so a
    // zero vector in a user corpus must rank LAST with a NULL cos_sim —
    // not blow up the whole job with ANSI DIVIDE_BY_ZERO.
    val zc = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = rows(Similarity.bruteForceTopK(zc.filter(col("vec_id") === 0), zc, 3))
      .sortBy(_.getAs[Int]("rank"))
    assert(got.map(_.getAs[Long]("neighbor_id")) == Seq(1L, 2L),
      "zero-norm neighbor must still appear, after every real cosine")
    assert(got.last.isNullAt(got.last.fieldIndex("cos_sim")),
      "zero-norm cosine must be NULL (the oracle's x/0), not NaN or an error")
    // and a zero-norm QUERY scores every neighbor NULL instead of throwing
    val qz = rows(Similarity.bruteForceTopK(zc.filter(col("vec_id") === 2), zc, 2))
    assert(qz.map(_.getAs[Long]("neighbor_id")).sorted == Seq(0L, 1L) &&
      qz.forall(_.isNullAt(qz.head.fieldIndex("cos_sim"))))
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
    val got = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 2), emb, 3)
    val byQ = rows(got).groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted == Seq(1, 2, 3))
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims == sims.sorted.reverse, "ranks must follow descending similarity")
    }
  }

  test("ivfAssign puts every centroid in its own cluster at distance 0") {
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
    val centroids = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val assigned = Similarity.ivfAssign(emb, centroids)
    val own = rows(assigned.filter(col("vec_id") < 4))
    own.foreach { r =>
      assert(r.getAs[Long]("cluster_id") == r.getAs[Long]("vec_id"))
      assert(r.getAs[Double]("cluster_dist") == 0.0)
    }
    // ivfTopK only scores within the query's bucket
    val q = assigned.filter(col("vec_id") < 4)
    val topk = rows(Similarity.ivfTopK(assigned, q, 2))
    val clusters = rows(assigned).map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    topk.foreach { r =>
      assert(clusters(r.getAs[Long]("neighbor_id")) == clusters(r.getAs[Long]("query_id")))
    }
  }

  test("trainCentroids: k-means tightens clusters and IVF recall vs exact top-5 is high") {
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
    val seeds = Similarity.trainCentroids(emb, k = 8, iters = 0)
    val trained = Similarity.trainCentroids(emb, k = 8, iters = 5)
    assert(trained.length == 8 && trained.forall(_._2.length == 64))
    // integer-quantized means make training exactly reproducible
    val again = Similarity.trainCentroids(emb.repartition(7), k = 8, iters = 5)
    assert(trained.zip(again).forall { case ((c1, v1), (c2, v2)) =>
      c1 == c2 && java.util.Arrays.equals(v1, v2) },
      "trainCentroids must be deterministic across partitionings")
    // Lloyd iterations must not worsen the objective (mean sq distance)
    def objective(cs: Array[(Long, Array[Double])]): Double =
      Similarity.ivfAssign(emb, cs)
        .agg(avg(col("cluster_dist"))).head().getDouble(0)
    val (objSeed, objTrained) = (objective(seeds), objective(trained))
    assert(objTrained <= objSeed,
      s"k-means worsened the objective: $objSeed -> $objTrained")

    // Multi-probe IVF search from trained centroids vs the exact baseline:
    // each query row is repeated once per probe (its 4 nearest of the 8
    // lists) and ivfTopK ranks the union per query. nprobe=4 scores ~half
    // the corpus per query — the standard recall/cost dial (this corpus is
    // near-uniform, so nprobe=1 recall is structurally low; clustered
    // corpora need fewer probes).
    import spark.implicits._
    val assigned = Similarity.ivfAssign(emb, trained)
    val queries = emb.filter(col("vec_id") < 20)
    val probes = rows(queries.select(col("vec_id"), col("embedding")))
      .flatMap { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        trained.sortBy { case (cid, c) =>
          (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid) }
          .take(4).map(_._1).map(cid => (r.getLong(0), cid))
      }
    val probed = queries.join(probes.toDF("vec_id", "cluster_id"), "vec_id")
    val ivf = rows(Similarity.ivfTopK(assigned, probed, 5))
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = rows(Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), emb, 5))
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recall = exact.map { case (q, want) =>
      ivf.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }.sum / exact.size
    assert(recall >= 0.8, s"IVF(nprobe=1, trained) recall too low: $recall")
  }

  test("hyperplane LSH: identical vectors share a bucket; opposite vectors split") {
    import spark.implicits._
    val planes = Similarity.gridPlanes(k = 4, dim = 3)
    assert(planes.length == 4 && planes.forall(_.length == 3))
    assert(planes.flatten.forall(v => v >= -1000 && v <= 1000))
    val emb = Seq(
      (0L, Array(1.0f, 0.2f, 0.1f)),
      (1L, Array(1.0f, 0.2f, 0.1f)),   // exact dup of 0
      (2L, Array(-1.0f, -0.2f, -0.1f)) // antipode: all sign bits flip
    ).toDF("vec_id", "embedding")
    val b = rows(emb.select(col("vec_id"),
        Similarity.hyperplaneBucket(
          Similarity.toDoubleVec(col("embedding")), planes).as("bucket")))
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b(0L) == b(1L))
    // antipodal vector flips every non-zero dot → complement bucket
    assert(b(2L) == (~b(0L) & 0xFL))
  }
}
