package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers, per the standard ANN playbook:
  *  - [[bruteForceTopK]] — exact cosine top-k, the correctness baseline:
  *    broadcast the (small) query set against the (huge) corpus, score
  *    per-row inside codegen, keep k per query with a bounded window.
  *  - [[ivfAssign]] / [[ivfTopK]] — the scale path: assign every vector to
  *    its nearest centroid (broadcast argmin, no shuffle), then search only
  *    within the probed bucket(s), cutting the scored candidates by ~nlist×.
  *
  * All float math is widened to double and folded **sequentially left-to-
  * right** (`aggregate` over `zip_with`) so scores are deterministic and
  * bit-identical to the DuckDB oracle's `list_reduce` restatement — a
  * SIMD/tree-reduction dot product would be faster per-row but
  * non-reproducible across engines.
  */
object Similarity {

  /** Widen array<float> → array<double> (all scoring happens in double). */
  def toDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Codegen'd sequential-fold vector kernels. The HOF formulation
    * (`aggregate(zip_with(...))`) computes the same value but runs
    * interpreted with a zipped-array allocation per call — at n² pair
    * volume that is the whole query cost. These loop directly over the two
    * `ArrayData` in generated Java (no allocation, stays inside whole-stage
    * codegen) while keeping STRICT left-to-right accumulation, so results
    * stay bit-identical to the DuckDB oracle's `list_reduce`.
    * Contract: array<double> with non-null elements. */
  abstract class VectorFold extends BinaryExpression {
    override def dataType: DataType = DoubleType
    /** Per-element term in Java source; `x`/`y` are double element values. */
    protected def termJava(x: String, y: String): String
    protected def termEval(x: Double, y: Double): Double
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val n = math.min(xs.numElements(), ys.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += termEval(xs.getDouble(i), ys.getDouble(i)); i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (xs, ys) => {
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        s"""
        int $n = Math.min($xs.numElements(), $ys.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += ${termJava(s"$xs.getDouble($i)", s"$ys.getDouble($i)")};
        }
        ${ev.value} = $s;
        """
      })
  }

  case class DotProduct(left: Expression, right: Expression) extends VectorFold {
    override def prettyName: String = "dot_product"
    override protected def termJava(x: String, y: String): String = s"$x * $y"
    override protected def termEval(x: Double, y: Double): Double = x * y
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  case class L2SqDistance(left: Expression, right: Expression) extends VectorFold {
    override def prettyName: String = "l2sq_distance"
    override protected def termJava(x: String, y: String): String = s"($x - $y) * ($x - $y)"
    override protected def termEval(x: Double, y: Double): Double = (x - y) * (x - y)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Sequential dot product — deterministic summation order. */
  def dot(a: Column, b: Column): Column =
    Bridge.toColumn(DotProduct(Bridge.toExpr(a), Bridge.toExpr(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 dp (rounding absorbs any last-ulp
    * divergence between engines' division).
    *
    * '''Zero-norm semantics — ONE rule for every consumer''' (near-dup
    * twins, ANN top-k, LSH candidate scoring), taken from the DuckDB
    * oracle: division by a ZERO norm product yields NULL (DuckDB's
    * `x / 0.0`) — a `>= threshold` filter then drops the pair, and a
    * `cos_sim DESC` ranking puts it last (both engines default NULLS
    * LAST on DESC) — instead of ANSI Spark's DIVIDE_BY_ZERO error.
    * (Non-ANSI Spark's `Divide` ALSO returns NULL on a zero divisor —
    * verified on this Spark: `0.0/0.0` is NULL with ansi=false, never
    * NaN — so `try_divide` changes behavior only under ANSI, the 4.x
    * default. NaN enters only through the IMPERATIVE kernel's raw IEEE
    * division, which is what pairScoreKernel's explicit `d != 0.0`
    * divisor test is for.)
    * `try_divide` is the same IEEE division for any nonzero divisor, so
    * nonzero-norm cosines are bit-identical to a bare `/`; a NaN divisor
    * (NaN elements) is nonzero and propagates, matching the oracle. The
    * near-dup broadcast kernel implements the identical rule imperatively
    * (Dedup.pairScoreKernel). */
  def cosine(a: Column, b: Column): Column =
    round(try_divide(dot(a, b), norm(a) * norm(b)), 6)

  /** Cosine from precomputed norms — same float-op sequence as [[cosine]]
    * (dot / (na * nb), identical zero-norm rule), but the norms are
    * computed once per ROW instead of once per PAIR: at n² pair volume
    * that deletes two thirds of the work. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    round(try_divide(dot(a, b), na * nb), 6)

  /** Squared L2 distance, sequential fold. */
  def l2sq(a: Column, b: Column): Column =
    Bridge.toColumn(L2SqDistance(Bridge.toExpr(a), Bridge.toExpr(b)))

  /** Exact cosine top-k: every corpus row scored against every (broadcast)
    * query, then `row_number <= k` per query. The join is a broadcast
    * nested loop — no shuffle of the corpus; the window partitions by
    * query id so the rank shuffle is |queries|-wide, tiny.
    */
  /** `excludeSelf` drops pairs with equal ids — correct when the queries
    * ARE corpus rows (the default self-search shape). Pass false when the
    * queries come from a SEPARATE table: there an id collision is
    * coincidental, and excluding it silently dropped a true (possibly
    * top-1) neighbor. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), toDoubleVec(col(vecCol)).as("qv"))
    // fanOut(0): the corpus is the BNLJ stream side — |queries|·|corpus|
    // dot products run at the SCAN's parallelism unless spread
    val c = graft.core.Parallelize.fanOut(corpus, 0L)
      .select(col(idCol).as("neighbor_id"), toDoubleVec(col(vecCol)).as("cv"))
    val pairCond =
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val scored = c.join(broadcast(q), pairCond)
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF bucket assignment: nearest centroid by squared L2, argmin via a
    * left fold over the broadcast centroid array (per-row, zero shuffle).
    * `centroids` must be small enough to collect — at scale it comes from a
    * sampled k-means; here any small DataFrame of (id, vector) works.
    */
  def ivfAssign(df: DataFrame, centroids: Array[(Long, Array[Double])],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Literal array of {cid, cvec} structs baked into the plan (ships once
    // per executor inside the serialized plan, like a broadcast).
    val centroidLit = array(centroids.map { case (cid, v) =>
      struct(lit(cid).as("cid"), array(v.map(lit): _*).as("cvec"))
    }: _*)
    val v = toDoubleVec(col(vecCol))
    val best = aggregate(
      centroidLit,
      struct(lit(-1L).as("cid"), lit(Double.MaxValue).as("d")),
      (acc, cen) => {
        val d = l2sq(v, cen.getField("cvec"))
        when(d < acc.getField("d"),
          struct(cen.getField("cid").as("cid"), d.as("d"))).otherwise(acc)
      })
    df.select(col(idCol), col(vecCol),
      best.getField("cid").as("cluster_id"),
      round(best.getField("d"), 6).as("cluster_dist"))
  }

  /** Sampled Lloyd k-means trainer for the IVF path — makes [[ivfAssign]] /
    * [[ivfTopK]] self-contained instead of relying on caller-supplied seed
    * centroids.
    *
    * Scale design: the training set is a HASH-sampLED slice of the corpus
    * (deterministic and partition-independent — `xxhash64(id)` keeps the
    * same rows regardless of file split or cluster width), materialized once
    * and re-scanned `iters` times. Each iteration is one distributed
    * assign-and-average pass: nearest-centroid argmin per row (broadcast
    * centroid literals, zero shuffle) then a `posexplode` + groupBy(cluster,
    * dim) mean whose shuffle is k×dim rows — only k×dim doubles ever reach
    * the driver, so a 100 TB corpus trains from, say, a 10⁻⁵ sample at
    * constant driver cost. Empty clusters keep their previous centroid
    * (standard Lloyd fallback). Seeds are the k sample vectors with the
    * smallest key hash — deterministic without any ordering assumption on
    * the input.
    */
  def trainCentroids(df: DataFrame, k: Int, sampleFraction: Double = 1.0,
                     iters: Int = 5, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[(Long, Array[Double])] = {
    require(k > 0 && iters >= 0)
    val million = 1000000L
    val keep = (sampleFraction * million).toLong
    val sampled = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .where(if (sampleFraction >= 1.0) lit(true)
             else pmod(xxhash64(col("id")), lit(million)) < lit(keep))
    val vecs = sampled.persist()
    try {
      val seedRows = vecs.orderBy(xxhash64(col("id")), col("id")).limit(k).collect()
      require(seedRows.nonEmpty, "empty training sample")
      if (seedRows.length < k)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"trainCentroids: the training sample has only ${seedRows.length} " +
            s"rows for k=$k — returning ${seedRows.length} centroids; " +
            "downstream IVF runs with fewer clusters than sized for " +
            "(raise sampleFraction or lower k)")
      var centroids: Array[(Long, Array[Double])] =
        seedRows.zipWithIndex.map { case (r, i) =>
          (i.toLong, r.getSeq[Double](r.fieldIndex("v")).toArray) }
      for (_ <- 0 until iters) {
        val assigned = ivfAssign(vecs, centroids, "id", "v")
        // Means via per-element quantization to integer nano-units, then
        // integer sums: a float avg() depends on partition/accumulation
        // order, so trained centroids would differ run to run; integer
        // addition is associative, making the trainer deterministic under
        // any parallelism (the 1e-9 quantization is far below k-means'
        // own tolerance).
        val means = assigned
          .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cluster_id", "pos")
          .agg(sum(floor(col("x") * 1e9 + 0.5).cast("long")).as("sq"),
            count(lit(1)).as("n"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.sortBy(_.getInt(1))
              .map(r => r.getLong(2).toDouble / (r.getLong(3) * 1e9)) }
        centroids = centroids.map { case (cid, old) =>
          (cid, means.getOrElse(cid, old)) }
      }
      centroids
    } finally { vecs.unpersist(); () }
  }

  /** The IVF search path: score only vectors in the query's own bucket.
    * nprobe=1 for clarity; widen by unioning more buckets. */
  def ivfTopK(assigned: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("qv"), col("cluster_id").as("qc"))
    val c = assigned.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("cv"), col("cluster_id"))
    val scored = c.join(broadcast(q),
        col("qc") === col("cluster_id") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ---- random-hyperplane LSH ----------------------------------------------

  /** Deterministic integer-grid hyperplanes for tests/oracles: component
    * (i, j) = ((1 + 7i + 13j) · 2654435761) mod 2001 − 1000, a Weyl-style
    * low-discrepancy lattice in [−1000, 1000]. Production would draw
    * Gaussian planes from a seeded RNG; the bucketing math is identical and
    * this formula can be restated verbatim in any SQL engine. */
  def gridPlanes(k: Int, dim: Int): Seq[Seq[Double]] =
    (0 until k).map(i => (0 until dim).map(j =>
      (((1L + 7L * i + 13L * j) * 2654435761L) % 2001L - 1000L).toDouble))

  /** Sign-bit LSH bucket over `planes`: bit i set iff dot(vec, plane_i) ≥ 0.
    * Random hyperplane LSH (Charikar, STOC'02): P[bit match] =
    * 1 − θ/π, so high-cosine vectors collide in all K bits. Per-row,
    * shuffle-free, sequential-fold dots — deterministic across engines. */
  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    // 1L << i wraps at 64 (shift count mod 64), silently ALIASING plane
    // 64's bit onto plane 0's — distinct sign patterns would share
    // buckets and the within-bucket quadratic join would explode with
    // low-cosine junk. 64 planes fill the long exactly; band multiple
    // plane sets for more bits.
    require(planes.length <= 64,
      s"hyperplaneBucket supports at most 64 planes per bucket (got " +
        s"${planes.length}); band multiple plane sets instead")
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0d, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
