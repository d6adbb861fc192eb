package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("triangles enumerates each undirected triangle once, ignoring direction") {
    // 1-2, 2-3, 3-1 (one stored reversed), plus a dangling 3-4 edge and a
    // duplicate orientation of 1-2: exactly one triangle (1,2,3).
    val edges = Seq((1, 2), (2, 3), (1, 3), (2, 1), (3, 4))
      .toDF("src", "dst")
    val got = Graph.triangles(edges).as[(Int, Int, Int)].collect().toSeq
    assert(got == Seq((1, 2, 3)))
  }

  test("pagerank: symmetric 2-cycle splits mass equally; total mass ≈ 1e6") {
    val edges = Seq((1, 2, 10L), (2, 1, 10L)).toDF("src", "dst", "w")
    val pr = Graph.pagerank(edges, iters = 3)
      .as[(Int, Long)].collect().toMap
    assert(pr(1) == pr(2))
    // truncating div loses at most a few ppm per node per iteration.
    // NOTE: mass conservation holds only on sink-free graphs like this
    // cycle — dangling nodes leak 85% of their inflow per iteration (the
    // documented no-dangling-redistribution simplification in pagerank).
    assert(math.abs(pr.values.sum - 1000000L) < 100L)
  }

  test("pagerank on a graph with a sink leaks dangling mass (documented)") {
    // 1→2, 2 has no out-edges: node 2's inflow is never redistributed, so
    // total mass settles well below 1e6 — pin the documented behavior.
    val edges = Seq((1, 2, 1L)).toDF("src", "dst", "w")
    val pr = Graph.pagerank(edges, iters = 5).as[(Int, Long)].collect().toMap
    assert(pr.values.sum < 900000L)
    assert(pr(2) > pr(1)) // the sink still accumulates more than its source
  }

  test("pagerank is partitioning-independent (integer arithmetic)") {
    val edges = Seq((1, 2, 5L), (2, 3, 5L), (3, 1, 5L), (1, 3, 1L))
      .toDF("src", "dst", "w")
    val a = Graph.pagerank(edges, 3).as[(Int, Long)].collect().toMap
    val b = Graph.pagerank(edges.repartition(7), 3)
      .as[(Int, Long)].collect().toMap
    assert(a == b)
  }

  test("pagerank is weight-scale-invariant, incl. micro-unit weights past long range") {
    // (850·pr·cw) div (1000·c·outw) = (850·pr·w) div (1000·outw) exactly
    // (integer division is invariant under a common positive factor), so
    // scaling every weight by 2e10 must reproduce the small-weight ranks
    // bit-for-bit. Pre-fix, 850·pr·w wrapped long at micro-unit weights
    // (~2.5e10) and the heavy edges got silently garbage contributions.
    val small = Seq((1, 2, 5L), (2, 3, 5L), (3, 1, 5L), (1, 3, 1L))
      .toDF("src", "dst", "w")
    val big = small.withColumn("w", col("w") * lit(20000000000L))
    val a = Graph.pagerank(small, 3).as[(Int, Long)].collect().toMap
    val b = Graph.pagerank(big, 3).as[(Int, Long)].collect().toMap
    assert(a == b)
    assert(a.values.forall(_ >= 0L), "wrapped ranks would go negative")
  }

  test("pagerank: driver kernel and distributed loop agree bit-for-bit") {
    // r12 driver shortcut: same graphs the suite pins elsewhere — a cycle,
    // a sink (dangling-mass leak), micro-unit weights past long range, and
    // a graph with an isolated-sink fan-in. gate=0 forces the distributed
    // loop; default takes the kernel; outputs must be identical maps.
    val graphs = Seq(
      Seq((1, 2, 10L), (2, 1, 10L)),
      Seq((1, 2, 1L)),
      Seq((1, 2, 5L), (2, 3, 5L), (3, 1, 5L), (1, 3, 1L)),
      Seq((1, 2, 20000000000L), (2, 3, 20000000000L), (3, 1, 20000000000L)))
    graphs.foreach { g =>
      val edges = g.toDF("src", "dst", "w")
      val fast = Graph.pagerank(edges, 4)
      assert(fast.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "tiny graph must take the driver kernel by default")
      val a = fast.as[(Int, Long)].collect().toMap
      withConf(graft.core.Gates.DriverEdgeLimit -> "0") {
        val slow = Graph.pagerank(edges, 4)
        assert(!slow.queryExecution.executedPlan.toString.contains("LocalTableScan"),
          "guard=0 must force the distributed loop")
        assert(slow.as[(Int, Long)].collect().toMap == a, s"diverged on $g")
      }
    }
  }

  test("pagerank bounces an over-limit graph to the distributed loop (count gate)") {
    // r13: the kernel gates on the row gate's cheap count probe of the
    // materialized edge list BEFORE collecting (a 2M-row limit+1 collect
    // just to discover the graph is oversize was a multi-hundred-MB
    // driver allocation).
    // An edge count over the guard must take the distributed path and
    // still compute correct ranks.
    val edges = Seq((1, 2, 10L), (2, 3, 10L), (3, 1, 10L)).toDF("src", "dst", "w")
    val expected = Graph.pagerank(edges, 3).as[(Int, Long)].collect().toMap
    withConf(graft.core.Gates.DriverEdgeLimit -> "2") {
      val out = Graph.pagerank(edges, 3)
      assert(!out.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        "3 edges over a guard of 2 must run distributed")
      assert(out.as[(Int, Long)].collect().toMap == expected)
    }
  }

  test("pagerank driver kernel refuses NULL keys/weights to the distributed loop") {
    // A NULL src/dst/weight has join/agg semantics the kernel does not
    // reimplement — the collected buffer must bounce such graphs to the
    // distributed path, not approximate them.
    val edges = Seq((Option(1), Option(2), Option(1L)),
        (Option(2), Option.empty[Int], Option(1L)))
      .toDF("src", "dst", "w")
    val out = Graph.pagerank(edges, 2)
    assert(!out.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "null-carrying graphs must run the distributed semantics")
    out.collect() // and execute green
  }

  test("copurchaseLift prunes by support and computes integer lift") {
    // orders: (1: A,B) (2: A,B) (3: A,C) (4: B) — with minItemSupport=2
    // C (n=1) is pruned; pair (A,B) n_ab=2, n_a=3, n_b=3, N=4 →
    // lift = 2·4·1e6 div 9 = 888888.
    val rows = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B")).toDF("o", "p")
    val got = Basket.copurchaseLift(rows, "o", "p", 2L, 2L)
      .select("pa", "pb", "n_ab", "lift_ppm")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("A", "B", 2L, 888888L)))
  }
}
