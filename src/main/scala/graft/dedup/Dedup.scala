package graft.dedup

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

import graft.functions.{ColumnOps, ShingleSet, TextOps}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard — each designed for the 100 TB shape, not the
  * 500-row test shape:
  *
  *  - signatures and shingle sets are computed **per row by codegen'd
  *    expressions** ([[graft.functions.MinHashExpr]],
  *    [[graft.functions.SimHash31Expr]], [[graft.functions.ShingleSetExpr]];
  *    no explode → no shuffle) so the only shuffles are the ones inherent to
  *    the algorithm: one groupBy per LSH band bucket / inverted-index term;
  *  - candidate generation is **bucket-join**, never all-pairs: the self-join
  *    key is (band, bandHash) or shingle, so cost is Σ bucket², not n²;
  *  - all hashes are md5-derived (deterministic across engines/partitionings,
  *    see [[TextOps.h31]]) so dedup decisions are reproducible run-to-run.
  */
object Dedup {

  import TextOps.P31

  /** Cap on the ESTIMATED derived-table bytes below which [[jaccardPairs]]
    * takes its broadcast kernel or broadcasts the twin's per-doc
    * verification sets (and [[minhashCandidatePairs]] its signature table)
    * instead of shuffle-joining them. Callers pass an estimate of the
    * table actually shipped — postings × 8 B for shingle sets, rows ×
    * numPerms × 8 B for signatures — not raw input bytes, which
    * under-counts short-doc / high-numPerms corpora. */
  private val SetsBroadcastMaxInputBytes = BigInt(128L << 20)

  /** Byte cap for re-broadcasting the connected-components label table
    * each propagation round ([[dupClusters]]). Estimated, not measured:
    * the threshold exists to stop a 10M-node label table (hundreds of MB
    * as a HashedRelation) being shipped to every executor per iteration. */
  private val LabelBroadcastMaxBytes = 64L << 20

  // ---- exact -------------------------------------------------------------

  /** Exact dedup by content hash: one row per distinct content with the
    * smallest id kept and the duplicate count. A single hash-groupBy —
    * map-side partial aggregation makes this the cheapest possible dedup at
    * scale (reference's full-row `dropDuplicates`, change_data_capture.py:74,
    * generalized to chosen key columns).
    */
  def exactDupGroups(df: DataFrame, idCol: String, contentCols: Column*): DataFrame =
    df.groupBy(ColumnOps.contentHash(contentCols: _*).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash + LSH -----------------------------------------------------

  /** MinHash signature (array of `numPerms` longs) over word-`shingleN`-gram
    * shingles, computed entirely per-row: for each permutation i, the min of
    * (a·h31(shingle)+b) mod P over the shingle set, with a = 2i+3 and
    * b = 7919i+1 (affine, so the DuckDB oracle restates them literally).
    * Null signature for docs too short to shingle. */
  def minhashSignature(text: Column, numPerms: Int, shingleN: Int): Column = {
    // Shingle hashes bound via single-element array so the md5s are computed
    // once per row, not once per permutation (HOF lambdas don't hoist
    // loop-invariant subtrees — see TextOps.wordShingles).
    // A doc too short to shingle yields a NULL SIGNATURE — the documented
    // contract and what the codegen twin (MinHash.signature) returns. The
    // old spelling let array_min over the empty shingle set produce
    // [NULL × numPerms] instead: isNotNull filters kept every short doc,
    // lshBandKeys (concat_ws skips NULLs) sent them ALL to one mega
    // bucket, and the agreement count read null slots as matching zeros.
    // coalesce(size(...), 0): NULL TEXT makes the shingle array itself
    // NULL (size(NULL) is NULL, not 0), and a bare === 0 test would fall
    // through to the otherwise-branch and emit [NULL × numPerms] for
    // null-text docs — the same mega-bucket bug, one input class over.
    element_at(transform(
      array(transform(TextOps.wordShingles(text, shingleN), s => TextOps.h31(s))),
      hashes => when(coalesce(size(hashes), lit(0)) === 0, lit(null))
        .otherwise(transform(sequence(lit(0), lit(numPerms - 1)),
          i => array_min(transform(hashes,
            h => (h * (i * 2L + 3L) + (i * 7919L + 1L)) % P31))))), 1)
  }

  /** LSH band keys: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band to a string bucket key. Docs agreeing on ANY band
    * land in the same bucket. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("_", b.cast("string"),
        concat_ws("_", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))))

  /** MinHash signatures as a DataFrame (id, sig array) via the industrial
    * formulation: explode shingles, hash each ONCE, then take `numPerms`
    * `min()` aggregates with map-side partial aggregation. One shuffle of
    * (id, 16 longs) — versus the per-row array formulation whose md5s the
    * optimizer may inline (and thus recompute) into every permutation lambda
    * and every downstream operator. The aggregation is also a materialization
    * barrier, so self-joins downstream reference attributes, not recomputed
    * expression trees. Docs with < shingleN tokens drop out (no shingles).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numPerms: Int, shingleN: Int): DataFrame =
    // Per-row codegen'd signature (graft.functions.MinHashExpr): zero
    // shuffle, one shingle-hash pass per document — replaces the explode
    // of every shingle into a corpus×shingles exchange feeding numPerms
    // min-aggregates. Docs with fewer than shingleN tokens produce NULL
    // and are dropped, matching the explode shape (no shingle rows).
    nonNullPerRow(df, idCol, "sig",
      graft.functions.MinHash.signature(col(textCol), numPerms, shingleN))

  /** (id, `name`) rows of a per-row kernel, the rows whose value is NULL
    * dropped — with the kernel evaluated ONCE per row. The plain
    * `.select(kernel.as(name)).filter(col(name).isNotNull)` runs it twice:
    * the optimizer pushes the predicate below the projection, inlining the
    * kernel into a Filter. A Generate over the one-element array of the
    * non-NULL value is opaque to that pushdown (and, its input not being a
    * bare attribute, gets no inferred size filter either). */
  private def nonNullPerRow(df: DataFrame, idCol: String, name: String,
                            kernel: Column): DataFrame =
    graft.core.Parallelize.fanOut(df)
      .select(col(idCol).as("id"), explode(array_compact(array(kernel))).as(name))

  /** Candidate near-dup pairs via MinHash LSH: band the signatures, self-join
    * on the bucket, keep each (a<b) pair once with its signature-estimated
    * similarity. The join key (band bucket) keeps the shuffle proportional to
    * Σ bucket² — at 100 TB, skewed buckets (boilerplate docs) are the risk;
    * `spark.sql.adaptive.skewJoin` or a bucket-size cap handles them. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            numPerms: Int = 16, bands: Int = 4,
                            shingleN: Int = 3,
                            maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must be a multiple of bands ($bands): integer " +
        "division would silently drop trailing signature positions from every " +
        "band, reducing recall while est_jaccard still uses the full signature")
    val rows = numPerms / bands
    // signatures are referenced by the banding AND the two estimate joins —
    // materialize once so the explode+min-agg derivation runs once
    val sigs = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
      .localCheckpoint(true)
    // The bucket self-join carries NARROW (id, bucket) rows; signature
    // arrays (numPerms longs per side) attach only after the pair distinct,
    // so the Σ bucket² join and the distinct shuffle 16-byte rows instead
    // of ~2·numPerms·8 B. est_jaccard is a pure function of the pair, so
    // distinct-then-estimate equals estimate-then-distinct. The estimate
    // joins broadcast the corpus-sized signature table only when it is
    // small (the same cap as jaccardPairs' set table).
    val buckets = capBuckets(sigs.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rows)).as("bucket")),
      maxBucketSize, "minhashCandidatePairs")
    val cands = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Broadcast decision sized on the DERIVED table, not the input text:
    // a signature row is numPerms longs regardless of doc length, so a
    // corpus of short docs can have signatures far larger than its text
    // (1M 50-byte docs at numPerms=128 → 50 MB text, ~1 GB signatures).
    // sigs is already materialized (eager localCheckpoint), so the row
    // count is a cheap cached-scan action.
    val sigBytes = BigInt(sigs.count()) * (numPerms.toLong * 8L + 48L)
    val sigSide =
      if (sigBytes < SetsBroadcastMaxInputBytes) broadcast(sigs) else sigs
    cands
      .join(sigSide.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigSide.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        // codegen'd position-agreement count — the HOF spelling ran
        // interpreted lambdas + two array allocations per candidate pair
        (graft.functions.MinHash.agreeCount(col("sig_a"), col("sig_b"))
          .cast("double") / numPerms.toDouble).as("est_jaccard"))
  }

  // ---- exact n-gram Jaccard via inverted index ---------------------------

  /** Exact Jaccard near-dup pairs above `threshold` via PREFIX-FILTERED
    * inverted-index self-join (AllPairs family — Bayardo/Ma/Srikant, WWW'07;
    * Chaudhuri/Ganti/Kaushik, ICDE'06). The naive inverted-index join counts
    * every co-occurring shingle of every pair: Σ df² join rows and — far
    * worse at scale — one AGGREGATION GROUP per pair sharing even a single
    * shingle. On a corpus of 50k docs with 10 near-replicas each, that was
    * 142M join rows and 116.7M distinct groups (measured): the partial
    * hash-agg degenerates (1.2 rows/group) and the group state, not the
    * join, is what kills the stage.
    *
    * Prefix filtering makes the candidate set proportional to the TRUE
    * near-dup pairs instead: order every doc's shingles by global
    * (df ASC, shingle ASC) — rarest first — and index only the first
    * ⌊(1−t)·n⌋+1 of them. Any pair with jaccard ≥ t must share an INDEXED
    * shingle (prefix lemma: a pair needs inter ≥ t/(1+t)·(n_a+n_b), and
    * since survivors also satisfy n_b ≥ t·n_a, inter ≥ ⌈t·n_a⌉ — so
    * skipping the ⌈t·n_a⌉−1 most-common shingles of a doc cannot skip ALL
    * shared ones). High-df boilerplate shingles sort to the ends and never
    * generate candidates. Candidates are then verified exactly with a
    * sorted-merge intersection count against the two full shingle sets.
    * Candidate generation runs at [[prefilterBound]]`(t)`, so the 6-decimal
    * rounding of the reported jaccard can't admit a pair the prefix bound
    * excluded. The result is the set of pairs whose rounded jaccard
    * reaches `threshold`, whatever global order the prefixes were cut from.
    *
    * Constant-factor hardenings, each measured on an adversarially DENSE
    * corpus (50k distinct ~300-char docs over only 35k distinct shingles —
    * every shingle common, so the prefix alone cut join rows just 2.9×,
    * 287M→100M, and left 31.8M candidates):
    *
    *  - **One shingle-set column** ([[ShingleSet.hashes]]): each document's
    *    distinct shingles as sorted 60-bit md5 hashes, in one codegen'd pass
    *    per row. Candidate generation and intersection counts are hash-set
    *    arithmetic either way; on longs the sets are ~8 B/element instead
    *    of ~17-byte strings and every join/merge compares words, not bytes.
    *    Collisions (~n_pair·|union|²/2⁶¹) are negligible at any realistic
    *    corpus size, and the REPORTED jaccard is pure set-count arithmetic,
    *    so a string-computing reference engine agrees bit-for-bit.
    *  - **Positional filter** (PPJoin, Xiao/Wang/Lin/Yu, WWW'08): a match
    *    at per-doc sorted positions (i, j) caps the achievable overlap at
    *    min(n_a−i, n_b−j)+1, which must reach ⌈t/(1+t)·(n_a+n_b)⌉ — late-
    *    position-only matches prune before verification.
    *  - **Size filter**: jaccard ≥ t forces inter ≥ t·max(n_a,n_b) while
    *    inter ≤ min(n_a,n_b), so min ≥ t·max.
    *
    * Two paths, decided by one sizing aggregate (text bytes and rows):
    *  - a corpus under the [[graft.core.Gates.DedupKernelMaxCorpusRows]]
    *    row gate whose sets fit the broadcast cap, with bigint ids, runs
    *    [[jaccardKernel]] — df, prefixes and the index are built once on
    *    the driver and verification runs range-parallel under a broadcast;
    *  - everything else (and every kernel refusal) runs the declarative
    *    [[jaccardTwin]], whose exchanges all carry data proportional to
    *    corpus postings or surviving pairs — nothing Σ df². */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, threshold: Double): DataFrame = {
    // The set table is postings × 8 B (one hashed long per word shingle).
    // Shingle count ≤ word count, and a whitespace-separated word occupies
    // ≥5 input bytes on real text, so the sets are ≤ ~2× the input TEXT
    // bytes. That factor must apply to the TRUE text bytes, measured with
    // one cheap octet_length aggregate — the analyzed-plan stats are the
    // parquet scan's COMPRESSED file size, and near-dup-heavy text (this
    // operator's target workload) compresses 5-10×, so a 60 MB file could
    // gate a ~1 GB set table into a broadcast. The same aggregate counts
    // the rows for the kernel's row gate. The scan reads text only (no
    // tokenization), and it is ONE single-stage job: per-partition
    // (bytes, rows) partials summed on the driver, where a SQL global
    // aggregate plans an exchange — two jobs and a re-plan under AQE,
    // ~2× the latency on a small corpus.
    // Skip the scan when the decision is already determined: compression
    // never inflates text, so raw ≥ compressed, and once 2×compressed
    // exceeds the cap, 2×raw does too — the twin's shuffle path is decided
    // without reading a byte (at warehouse scale this removes one full
    // corpus pass from every call, the case that can least afford it). The
    // opposite shortcut (broadcast without the scan) is NOT taken: it would
    // rest on an upper bound for the text ratio, and a wrong guess there is
    // an executor-memory hazard, not a lost scan. The estimate reads the
    // PROJECTED text column, not the full input width: a wide input whose
    // bulk is non-text columns must not trip the shortcut.
    val statsBytes =
      df.select(col(textCol)).queryExecution.analyzed.stats.sizeInBytes
    val (setsBytes, rows) =
      if (statsBytes * 2 >= SetsBroadcastMaxInputBytes) (statsBytes * 2, None)
      else {
        val (bytes, n) = df.select(coalesce(octet_length(col(textCol)), lit(0)))
          .queryExecution.toRdd
          .mapPartitions { it =>
            var b = 0L
            var n = 0L
            while (it.hasNext) { b += it.next().getInt(0); n += 1 }
            Iterator.single((b, n))
          }
          .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
        (BigInt(bytes) * 2, Some(n))
      }
    val small = setsBytes < SetsBroadcastMaxInputBytes
    val kernel = rows
      .filter(n => small &&
        df.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
        graft.core.Gates.within(df.sparkSession,
          graft.core.Gates.DedupKernelMaxCorpusRows, n))
      .flatMap(_ => jaccardKernel(df.select(col(idCol),
        ShingleSet.hashes(col(textCol), shingleN)), threshold))
    kernel.getOrElse(jaccardTwin(df, idCol, textCol, shingleN, threshold, small))
  }

  /** The one scaffold of the broadcast kernels ([[jaccardKernel]],
    * [[pairScoreKernel]], [[semanticDedupAccounting]]): each supplies only
    * its driver `build` and its per-index `probe`; the steps they share
    * live here.
    *
    *  - `rows` is collected ONCE through the
    *    [[graft.core.Gates.DedupKernelMaxCorpusRows]] row gate's bounded
    *    collect: a gate of 0, or a corpus that re-evaluates past the gate
    *    (non-deterministic source, TOCTOU), gives None and the caller's
    *    twin runs instead of an unbounded driver collect.
    *  - `build` turns the collected rows into primitive-array state and the
    *    number of probe indices, or refuses (None, the twin runs).
    *  - The state is broadcast once, and the distributed stream is
    *    `spark.range` over the indices: tasks ship nothing but range
    *    bounds, the probe loop runs at range parallelism whatever the
    *    source scan's split count, and the stream cannot diverge from the
    *    corpus under a non-deterministic source — it IS the collected
    *    corpus.
    *  - `probe` runs once per partition on the broadcast value (any
    *    per-partition scratch state lives in its closure) and gives each
    *    index's output rows.
    *
    * '''Broadcast lifecycle''': the broadcast is captured by the returned
    * plan's mapPartitions closure and must outlive it (the Dataset is lazy
    * and re-executable), so it is NOT destroyed here. Once the caller
    * drops the Dataset, the closure — and with it the broadcast handle —
    * becomes unreachable and ContextCleaner reclaims the blocks at the
    * next GC (Bench's per-query quiesce forces one; long-lived sessions
    * get it from ordinary GC pressure). */
  private def broadcastKernel[R, S: ClassTag, O: Encoder](rows: Dataset[R])(
      build: Array[R] => Option[(S, Int)])(
      probe: S => Int => IterableOnce[O]): Option[Dataset[O]] = {
    val spark = rows.sparkSession
    graft.core.Gates.collectWithin(rows, graft.core.Gates.DedupKernelMaxCorpusRows)
      .flatMap(build).map { case (state, n) =>
        val bc = spark.sparkContext.broadcast(state)
        spark.range(n.toLong).mapPartitions { it =>
          val at = probe(bc.value)
          it.flatMap(i => at(i.toInt))
        }
      }
  }

  /** The raw-score floor of the kernels' prefilters and of the jaccard
    * prefix cut: `threshold − 1e-6`. Every output is filtered on Spark's
    * own `round(score, 6) >= threshold` on top, so rounding is shared with
    * the twins by construction; 6-dp HALF_UP rounding moves a value by at
    * most 5e-7 (+1 ulp), so no pair the rounded filter keeps is ever
    * dropped at the floor. */
  private def prefilterBound(threshold: Double): Double = threshold - 1e-6

  /** Whether `ids` holds some value twice, by one primitive sort of
    * `ids` in place. Callers pass a fresh array of the non-NULL ids only: a
    * NULL id pairs with nothing, so NULL rows never collide. */
  private def repeats(ids: Array[Long]): Boolean = {
    java.util.Arrays.sort(ids)
    (1 until ids.length).exists(k => ids(k) == ids(k - 1))
  }

  /** (id_a, id_b, jaccard) of (id_a, id_b, inter, n_a, n_b) pair rows
    * whose 6-dp jaccard reaches `threshold` — the one output projection of
    * [[jaccardKernel]] and [[jaccardTwin]]. */
  private def roundedJaccard(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"), round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Broadcast jaccard pair kernel on [[broadcastKernel]]. The input must
    * project exactly (id: long, sh: array<bigint> sorted distinct, i.e.
    * [[ShingleSet.hashes]]). The build, in primitive arrays only: one sort
    * of every posting gives each hash's df, a counting sort by df ranks
    * every hash in the global (df, h) order, and each document becomes its
    * ascending run of ranks in one CSR array — its prefix is the first
    * ⌊(1−t)·n⌋+1 ranks, and an inverted CSR index maps each rank to the
    * (doc, position) prefix entries that hold it. The probe of a document
    * takes, from the index lists of its prefix, the candidates it owns
    * ([[owns]]), runs the size and positional filters as in the twin (both
    * are symmetric in the pair), verifies each candidate once by a merge
    * count over the two rank runs (ranks are a bijection of the hashes, so
    * the count is the hash-set intersection), and emits (id_a, id_b,
    * inter, n_a, n_b) rows with raw jaccard ≥ [[prefilterBound]]; the
    * output is [[roundedJaccard]] of those rows.
    *
    * Semantics are the twin's: NULL ids are dropped, and NULL, empty or
    * short text has no shingles and so no pairs. Duplicate non-NULL ids
    * (empty-set rows included) → None, and the caller runs the twin: its
    * joins pair rows, not ids. */
  private[graft] def jaccardKernel(corpus: DataFrame,
                                   threshold: Double): Option[DataFrame] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val tau = prefilterBound(threshold)
    broadcastKernel(corpus.toDF("id", "sh").filter(col("id").isNotNull)
        .as[(Long, Array[Long])]) { collected =>
      if (repeats(collected.map(_._1))) None
      else {
        val docs = collected.filter(r => r._2 != null && r._2.nonEmpty)
        val (off, rk, idxOff, idxDoc, idxPos) = prefixIndex(docs.map(_._2), tau)
        Some(((docs.map(_._1), off, rk, idxOff, idxDoc, idxPos), docs.length))
      }
    } { case (ids, off, rk, idxOff, idxDoc, idxPos) =>
      // mark(b) == a + 1: b is already a candidate of a
      val mark = new Array[Int](ids.length)
      a => {
        val ida = ids(a)
        val sa = off(a)
        val na = off(a + 1) - sa
        val pa = prefixLength(na, tau)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Int)]
        var x = 0
        while (x < pa) {
          val r = rk(sa + x)
          var e = idxOff(r)
          while (e < idxOff(r + 1)) {
            val b = idxDoc(e)
            if (b != a && owns(ida, ids(b)) && mark(b) != a + 1) {
              val sb = off(b)
              val nb = off(b + 1) - sb
              if (math.min(na, nb).toDouble >= math.max(na, nb) * tau &&
                  (math.min(na - x - 1, nb - idxPos(e) - 1) + 1).toDouble *
                    (1.0 + tau) >= (na + nb).toDouble * tau) {
                mark(b) = a + 1
                val inter = mergeCount(rk, sa, na, sb, nb)
                if (inter.toDouble / (na + nb - inter).toDouble >= tau)
                  out += ((math.min(ida, ids(b)), math.max(ida, ids(b)), inter, na, nb))
              }
            }
            e += 1
          }
          x += 1
        }
        out
      }
    }.map(pairs => roundedJaccard(pairs.toDF("id_a", "id_b", "inter", "n_a", "n_b"),
      threshold))
  }

  /** Whether the document with id `ida` probes its pair with `idb` in
    * [[jaccardKernel]]: a bit mixed from both ids (so both sides agree)
    * picks the lower or the higher id, and each document owns about half
    * of its pairs wherever it sits in the range. "The lower id probes"
    * would give the first of four range tasks ~7/16 of an id-ordered
    * corpus's pairs and the last ~1/16. */
  private def owns(ida: Long, idb: Long): Boolean =
    if ((((ida ^ idb) * 0x9E3779B97F4A7C15L) >>> 63) == 0L) ida < idb else ida > idb

  /** Prefix length of an n-shingle set at threshold tau — the twin's
    * `floor(n_sh * (1 - tau)) + 1`, in the same double arithmetic. */
  private def prefixLength(n: Int, tau: Double): Int =
    math.min(n, math.floor(n * (1.0 - tau)).toInt + 1)

  /** [[jaccardKernel]]'s driver build over non-empty sorted distinct hash
    * sets: (off, rk) is the CSR of each set as ascending global (df, h)
    * ranks; (idxOff, idxDoc, idxPos) the CSR inverted index from rank to
    * the (set, 0-based position) prefix entries holding it, in set
    * order. */
  private def prefixIndex(sets: Array[Array[Long]], tau: Double)
      : (Array[Int], Array[Int], Array[Int], Array[Int], Array[Int]) = {
    val n = sets.length
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + sets(i).length; i += 1 }
    val all = new Array[Long](off(n))
    i = 0
    while (i < n) {
      System.arraycopy(sets(i), 0, all, off(i), sets(i).length); i += 1
    }
    java.util.Arrays.sort(all)
    // distinct hashes (ascending) and their document frequencies
    val uniq = new Array[Long](all.length)
    val df = new Array[Int](all.length)
    var u = 0
    var maxDf = 0
    i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j) == all(i)) j += 1
      uniq(u) = all(i); df(u) = j - i; maxDf = math.max(maxDf, j - i)
      u += 1; i = j
    }
    // counting sort by df, stable over ascending h: rank = (df, h) order
    val start = new Array[Int](maxDf + 2)
    i = 0
    while (i < u) { start(df(i) + 1) += 1; i += 1 }
    i = 1
    while (i <= maxDf + 1) { start(i) += start(i - 1); i += 1 }
    val rank = new Array[Int](u)
    i = 0
    while (i < u) { rank(i) = start(df(i)); start(df(i)) += 1; i += 1 }
    val rk = new Array[Int](off(n))
    val idxOff = new Array[Int](u + 1)
    i = 0
    while (i < n) {
      var j = off(i)
      while (j < off(i + 1)) {
        rk(j) = rank(java.util.Arrays.binarySearch(uniq, 0, u, sets(i)(j - off(i))))
        j += 1
      }
      java.util.Arrays.sort(rk, off(i), off(i + 1))
      j = 0
      while (j < prefixLength(off(i + 1) - off(i), tau)) {
        idxOff(rk(off(i) + j) + 1) += 1; j += 1
      }
      i += 1
    }
    i = 1
    while (i <= u) { idxOff(i) += idxOff(i - 1); i += 1 }
    val fill = java.util.Arrays.copyOf(idxOff, u)
    val idxDoc = new Array[Int](idxOff(u))
    val idxPos = new Array[Int](idxOff(u))
    i = 0
    while (i < n) {
      var j = 0
      while (j < prefixLength(off(i + 1) - off(i), tau)) {
        val r = rk(off(i) + j)
        idxDoc(fill(r)) = i; idxPos(fill(r)) = j; fill(r) += 1
        j += 1
      }
      i += 1
    }
    (off, rk, idxOff, idxDoc, idxPos)
  }

  /** Intersection size of two ascending distinct runs of `xs`. */
  private def mergeCount(xs: Array[Int], sa: Int, na: Int, sb: Int, nb: Int): Int = {
    var i = sa
    var j = sb
    var c = 0
    while (i < sa + na && j < sb + nb) {
      if (xs(i) < xs(j)) i += 1
      else if (xs(i) > xs(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Declarative twin of [[jaccardKernel]] — the scale path, the fallback
    * for every kernel refusal, and its parity oracle. Plan shape: one
    * shingle-set projection per consumer (no `size > 0` filter: an
    * explode_outer infers none, so the set expression is never duplicated
    * into a pushed-down predicate; empty and NULL sets yield one NULL
    * posting the df join drops) → df hash-agg → posting/df join → one
    * window pass on id (prefix rank) → prefix self-join with the size and
    * positional filters → distinct candidates → two id-keyed joins of the
    * set table, broadcast (one exchange, reused) when `broadcastSets`. */
  private[graft] def jaccardTwin(df: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int, threshold: Double,
                                 broadcastSets: Boolean): DataFrame = {
    val tau = prefilterBound(threshold)
    val sets = graft.core.Parallelize.fanOut(df)
      .select(col(idCol).as("id"), ShingleSet.hashes(col(textCol), shingleN).as("sh"))
      .select(col("id"), size(col("sh")).as("n_sh"), col("sh"))
    val postings = sets.select(col("id"), col("n_sh"), explode_outer(col("sh")).as("h"))
    val dfreq = postings.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // Per-doc prefix of the global (df, h) order; rn (the sorted position)
    // rides along for the positional filter.
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df").asc, col("h").asc)
    val prefix = postings.join(dfreq, "h")
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <=
        floor(col("n_sh") * lit(1.0 - tau)).cast("int") + lit(1))
      .select(col("id"), col("n_sh"), col("rn"), col("h"))
    // Both filters evaluate inside the join, so size-incompatible and
    // late-position-only matches never reach the candidate distinct; a
    // pair survives iff ANY of its prefix matches passes.
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
            greatest(col("a.n_sh"), col("b.n_sh")) * lit(tau) &&
          (least(col("a.n_sh") - col("a.rn"), col("b.n_sh") - col("b.rn"))
            + lit(1)).cast("double") * lit(1.0 + tau) >=
            (col("a.n_sh") + col("b.n_sh")).cast("double") * lit(tau))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // The sets are sorted, so verification is a fused two-pointer merge
    // count (SortedIntersectCountExpr): zero allocation per candidate pair.
    val setSide = if (broadcastSets) broadcast(sets) else sets
    roundedJaccard(candidates
      .join(setSide.select(col("id").as("id_a"), col("n_sh").as("n_a"),
        col("sh").as("sh_a")), "id_a")
      .join(setSide.select(col("id").as("id_b"), col("n_sh").as("n_b"),
        col("sh").as("sh_b")), "id_b")
      .withColumn("inter",
        graft.functions.Intersect.sortedCount(col("sh_a"), col("sh_b"))),
      threshold)
  }

  // ---- dup-cluster resolution (connected components) ---------------------

  /** Resolve near-dup PAIRS into clusters: connected components by
    * iterative min-label propagation, returning (id, cluster_id) where
    * cluster_id = the smallest id in the component (the canonical survivor
    * every dedup pipeline keeps). Converges in O(component diameter)
    * rounds — near-dup components are shallow (stars around a template),
    * so 3-5 rounds covers real corpora; each round is one shuffle of the
    * label table. `localCheckpoint` truncates the iterative lineage so the
    * plan doesn't grow with rounds (the classic iterative-algorithm trap).
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxIter: Int = 20): DataFrame = {
    // Materialize the edge list once — every propagation round joins it,
    // and without the checkpoint each round would re-execute the (often
    // expensive) pair-generation plan feeding this operator. Near-dup edge
    // sets are tiny relative to the corpus, so also right-size the
    // per-round shuffle width to the data (≈500k edges/partition) instead
    // of inheriting the session default — 10 rounds × 32 near-empty
    // partitions is pure scheduler overhead at bench scale, while big edge
    // sets still fan out.
    // Checkpoint the DIRECTED pairs first, then mirror: a union of two
    // selects over the raw `pairs` plan would execute the (expensive)
    // pair-generation twice to materialize it.
    // NULL ids cannot cluster: the distributed propagation's equi-joins
    // never match them, while the driver path's typed collect CRASHED on
    // them (non-nullable encoder field) — same input, path-dependent
    // crash. Dropping NULL-keyed edges up front gives both paths one
    // semantic.
    val p0 = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint()
    val edges0 = p0.unionByName(
      p0.select(col("dst").as("src"), col("src").as("dst")))
    val nEdges = 2L * p0.count()
    // Small-edge-set fast path: near-dup edges are a vanishing fraction of
    // the corpus (the corpus never leaves the cluster — only the PAIRS
    // arrive here). When they fit comfortably on the driver, a single
    // collect + union-find replaces O(log diameter) join-shuffle rounds —
    // exact same output (component min = canonical survivor, enforced by
    // union-by-min), at the cost of one task instead of ~5 stages. The
    // distributed propagation below remains the path for genuinely large
    // edge sets (past the driver edge gate). The full count above is the
    // gate's size — it also sizes the propagation's partitions — and `p0`
    // is checkpointed, so the collect cannot see more rows than it counted.
    val srcType = edges0.schema("src").dataType
    val integral = srcType == org.apache.spark.sql.types.LongType ||
      srcType == org.apache.spark.sql.types.IntegerType ||
      srcType == org.apache.spark.sql.types.ShortType
    if (integral && graft.core.Gates.within(pairs.sparkSession,
        graft.core.Gates.DriverEdgeLimit, nEdges)) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = p0.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      return parent.keysIterator.map(k => (k, find(k))).toSeq
        .toDF("id", "cluster_id")
        .select(col("id").cast(srcType), col("cluster_id").cast(srcType))
    }
    val parts = math.max(1, math.min(edges0.rdd.getNumPartitions,
      (nEdges / 500000L).toInt + 1))
    val edges = edges0.repartition(parts).localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // The label table is NODE-sized while the join probe is EDGE-sized;
    // near-dup graphs are dense (few nodes, many pair edges), so when the
    // node set is modest, broadcasting labels spares every propagation
    // round the full-edge exchange (checkpointed tables carry no stats —
    // the static planner would sort-merge): on a 46k-node / 47M-edge graph
    // (PLANS.md "Round 8", connected components at real volume) the
    // converged run lands at ~12-20s warm,
    // bounded by the per-round scan of the materialized edge list, versus
    // ~50s with the per-round edge shuffle. Node count is round-invariant,
    // so decide once; big node sets keep the shuffle join, which is the
    // correct plan at that shape. The gate is a BYTE estimate, not a node
    // count: the table is rebroadcast every round, so the cap is what one
    // executor comfortably re-receives per iteration (~64 MiB), estimated
    // at two ids per row plus HashedRelation overhead — ~32 B for integral
    // ids, ~96 B for strings.
    val nNodes = labels.count()
    val labelRowBytes = if (integral) 32L else 96L
    val hintLabels: DataFrame => DataFrame =
      if (nNodes * labelRowBytes <= LabelBroadcastMaxBytes) broadcast
      else identity
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val neighborMin = edges.join(hintLabels(labels), edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      // Pointer jumping: also adopt the label OF my label (labels form a
      // pointer forest toward component minima), so label distances halve
      // each round — O(log diameter) rounds instead of O(diameter).
      val viaLabel = labels.as("a")
        .join(hintLabels(labels.as("b")), col("a.label") === col("b.id"), "left")
        .select(col("a.id").as("jid"),
          coalesce(col("b.label"), col("a.label")).as("jlabel"))
      val updated = labels.as("l")
        .join(neighborMin.as("n"), col("l.id") === col("n.src"), "left")
        .join(viaLabel.as("j"), col("l.id") === col("j.jid"), "left")
        .select(col("l.id").as("id"), col("l.label").as("old_label"),
          least(col("l.label"),
            coalesce(col("n.nlabel"), col("l.label")),
            coalesce(col("j.jlabel"), col("l.label"))).as("label"))
        .localCheckpoint()
      converged = updated.filter(col("label") =!= col("old_label")).isEmpty
      labels = updated.select(col("id"), col("label"))
      i += 1
    }
    // Non-convergence must be VISIBLE: pointer jumping converges in
    // O(log diameter) rounds, so maxIter=20 covers diameters to ~2^20 —
    // but a pathological chain that still isn't done would otherwise
    // return one component carrying SEVERAL cluster ids, and downstream
    // survivor selection would keep multiple "canonical" docs per dup
    // cluster with nothing distinguishing that from a converged result.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"dupClusters: label propagation did NOT converge in " +
          s"$maxIter rounds — returned labels may split one connected " +
          "component into several cluster_ids; raise maxIter for " +
          "extreme-diameter graphs")
    labels.withColumnRenamed("label", "cluster_id")
  }

  // ---- embedding-cosine near-dup -----------------------------------------

  /** Embedding-cosine near-duplicate pairs: every (a < b) pair with cosine
    * similarity >= `threshold`. Exact all-pairs: under the
    * [[graft.core.Gates.DedupKernelMaxCorpusRows]] row gate (bigint ids
    * only) the broadcast [[pairScoreKernel]] scores them; past it the
    * declarative BNLJ twin runs — O(n²) scores but zero shuffle of the
    * corpus (the smaller side broadcasts). For the 100 TB shape, cut the
    * pair space first: [[graft.similarity.Similarity.ivfAssign]] and compare
    * only within a cluster ([[embeddingNearDupsIvf]]), or LSH-bucket by
    * hyperplane signs — both trade recall near the threshold boundary. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    // Double-gated: the cheap id-only probe routes obviously-oversized
    // corpora to the twin without shipping vectors; the kernel's own
    // bounded collect then re-checks at materialization time, so an
    // input whose re-evaluation grows past the guard (non-deterministic
    // source, TOCTOU) degrades to the twin instead of an unbounded
    // driver collect. No fanOut on the kernel side: the O(n²) loop runs
    // on the kernel's index-range stream at range parallelism regardless
    // of the scan's split count, and the collect only evaluates the
    // cast/coalesce projection — not worth a corpus-wide shuffle.
    val kernel =
      if (fitsKernel(df, idCol))
        pairScoreKernel(df.select(col(idCol).cast("long"), kernelVec(col(vecCol))),
          threshold)
      else None
    kernel.getOrElse(embeddingNearDupsBnlj(df, idCol, vecCol, threshold))
  }

  /** Kernel row-gate probe. Only the id column goes through the
    * limit+count (the decision needs a row count, not the vectors —
    * probing the full rows would ship up to n·dim doubles through the
    * single-partition CollectLimit just to produce one boolean). */
  private def fitsKernel(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType == org.apache.spark.sql.types.LongType &&
      graft.core.Gates.rowsWithin(df.select(col(idCol)),
        graft.core.Gates.DedupKernelMaxCorpusRows)

  /** [start, end) bounds of each equal-key run in an already-sorted key
    * array, aligned per row — the cluster index
    * [[semanticDedupAccounting]] scans. */
  private def keyGroupBounds(keys: Array[Long]): (Array[Int], Array[Int]) = {
    val n = keys.length
    val gs = new Array[Int](n)
    val ge = new Array[Int](n)
    var s = 0
    while (s < n) {
      var e = s
      while (e < n && keys(e) == keys(s)) e += 1
      var i = s
      while (i < e) { gs(i) = s; ge(i) = e; i += 1 }
      s = e
    }
    (gs, ge)
  }

  /** Element-order dot product — the same IEEE op sequence as
    * `DotProduct`'s generated loop, so kernel cosines are bit-identical
    * to the declarative twins'. */
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Kernel-side vector projection: cast to double and zero null ELEMENTS.
    * The declarative twins' `DotProduct` fold reads a null array slot as
    * 0.0 (UnsafeArrayData zeroes the value region), so the coalesce keeps
    * the kernel bit-identical on dirty vectors instead of NPE-ing in the
    * encoder — and it makes the element type non-nullable, so the typed
    * collect materializes primitive `Array[Double]`s, not boxed. */
  private def kernelVec(c: Column): Column =
    transform(c, x => coalesce(x.cast("double"), lit(0.0)))

  /** Broadcast cosine pair kernel on [[broadcastKernel]]. The input must
    * project exactly (id: long, vec: array<double>); the collected corpus
    * serves both sides of the self-pairing: the build is flat (id, vector,
    * norm) arrays, and each probe row is scored in a primitive-double loop
    * against every higher id, emitting only pairs with raw cosine ≥
    * [[prefilterBound]]. The BNLJ twin is ~30× more per-pair overhead, all
    * row plumbing: every joined pair materializes BOTH 64-double vectors
    * into an output row (~1 KB copied per pair) before the dot runs —
    * measured 2.38s vs 0.35s at 2k vectors and 8.0s vs 1.1s at 20k,
    * identical rows.
    *
    * Bit-exactness with the twin (and so with the DuckDB oracle): the
    * while-loop accumulates `s += a(i)*b(i)` in element order — the same
    * IEEE op sequence as `DotProduct`'s generated loop — norms are
    * `sqrt(seq-dot)` once per row as in the twin, the raw cosine is
    * `dot / (na * nb)`, and Spark's own `round(cos, 6) >= threshold` makes
    * the output. Parity (kernel ≡ BNLJ, exact equality) is spec-gated in
    * DedupSimilaritySpec.
    *
    * '''Zero-norm semantics (defined once, all engines agree)''': a pair
    * whose norm product is ZERO (an all-zero or all-null-element vector)
    * is DROPPED — the DuckDB oracle's division by zero yields NULL, which
    * its `>= threshold` filter removes. The kernel tests the divisor
    * explicitly; the twins divide with `try_divide` (NULL exactly when the
    * divisor is 0, the same IEEE division otherwise — also what keeps ANSI
    * mode from throwing DIVIDE_BY_ZERO mid-join). A pair whose cosine is
    * NaN with a NONZERO divisor (NaN vector elements) is KEPT: NaN
    * propagates through both engines' division and orders greater than
    * every double in both engines' comparisons. Both cases are parity
    * spec-gated in DedupSimilaritySpec.
    *
    * Whole-null id/vector rows: the declarative twins drop them silently
    * (a null id fails the `<` join condition, a null vector yields a null
    * cosine the threshold filter removes); na.drop gives the kernel the
    * same semantics instead of an encoder NPE. Null ELEMENTS are handled
    * by [[kernelVec]] in the caller's projection. */
  private[graft] def pairScoreKernel(corpus: DataFrame,
                                     threshold: Double): Option[DataFrame] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pre = prefilterBound(threshold)
    broadcastKernel(corpus.na.drop("any").as[(Long, Array[Double])]) { collected =>
      val vecs = collected.map(_._2)
      Some(((collected.map(_._1), vecs, vecs.map(v => math.sqrt(seqDot(v, v)))),
        collected.length))
    } { case (ids, vecs, norms) =>
      i => {
        val ida = ids(i)
        val va = vecs(i)
        val na = norms(i)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = 0
        while (j < ids.length) {
          if (ids(j) > ida) {
            val d = na * norms(j)
            // d == 0 → drop (oracle's /0 = NULL); d is NaN → != 0,
            // divide, and keep the NaN cosine (oracle keeps NaN).
            // See the zero-norm paragraph above.
            if (d != 0.0) {
              val c = seqDot(va, vecs(j)) / d
              if (c >= pre || java.lang.Double.isNaN(c))
                out += ((ida, ids(j), c))
            }
          }
          j += 1
        }
        out
      }
    }.map(_.toDF("id_a", "id_b", "cos_raw")
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold))
  }

  /** Declarative BNLJ twin of [[pairScoreKernel]] — the fallback for
    * corpora past the broadcast guard and the parity oracle for the
    * kernel. Norms computed once per row (not per pair) — identical
    * float-op sequence to cosine(), so still oracle-exact. fanOut(0): the
    * BNLJ stream side inherits the scan partitioning, so a single-split
    * embedding table would run all O(n²) dot products on one core
    * (measured 156s -> 6.5s on a 20k-vector corpus). */
  private[graft] def embeddingNearDupsBnlj(df: DataFrame, idCol: String,
                                           vecCol: String,
                                           threshold: Double): DataFrame = {
    import graft.similarity.Similarity
    val a = graft.core.Parallelize.fanOut(df, 0L)
      .select(col(idCol).as("id_a"), Similarity.toDoubleVec(col(vecCol)).as("va"))
      .withColumn("na", Similarity.norm(col("va")))
    val b = df.select(col(idCol).as("id_b"), Similarity.toDoubleVec(col(vecCol)).as("vb"))
      .withColumn("nb", Similarity.norm(col("vb")))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** The scale path: near-dup pairs only within the same IVF cluster —
    * pair cost drops from O(n²) to Σ cluster². Pairs straddling a
    * cluster boundary are missed (recall/cost trade; raise nlist quality or
    * probe neighboring clusters to recover). The join shuffles on
    * cluster_id so AQE can split skewed clusters. */
  def embeddingNearDupsIvf(df: DataFrame, centroids: Array[(Long, Array[Double])],
                           threshold: Double, idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    import graft.similarity.Similarity
    val assigned = Similarity.ivfAssign(df, centroids, idCol, vecCol)
    val a = assigned.select(col(idCol).as("id_a"), col("cluster_id"),
      Similarity.toDoubleVec(col(vecCol)).as("va"))
    val b = assigned.select(col(idCol).as("id_b"), col("cluster_id"),
      Similarity.toDoubleVec(col(vecCol)).as("vb"))
    a.join(b, Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("va"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SemDeDup end-to-end: per-vector keep/drop accounting in ONE call —
    * IVF-assign, score pairs within a cluster, and apply the survivor rule
    * (a vector is dropped iff some LOWER-id vector in its cluster is
    * ≥ threshold cosine-similar). Output: (idCol, cluster_id, kept 1/0),
    * one row per input row.
    *
    * Under the [[graft.core.Gates.DedupKernelMaxCorpusRows]] row gate this
    * runs a single-job accounting kernel ([[semanticDedupAccounting]]): the
    * bounded corpus collect already holds every (id, cluster, vector), so
    * the kernel emits each vector's MAX cosine against its lower-id
    * cluster neighbors directly — no pair materialization, no distinct
    * shuffle, no re-scan for the assignment side, no join. The keep
    * decision stays in Spark (`round(cos_max, 6) >= threshold`): `round`
    * is monotone non-decreasing on non-NaN doubles, so
    * `round(max c) >= t  ⟺  ∃ pair round(c) >= t` — the kernel never has
    * to replicate Spark's HALF_UP rounding. Measured vs the
    * pairs+distinct+join formulation it replaces (q134 at sf0.1): the
    * accounting plan drops two shuffles and a second argmin scan.
    *
    * Every refusal — past the gate, non-long ids, duplicate non-null ids,
    * or a TOCTOU re-evaluation past the guard — runs the declarative
    * [[semanticDedupIvfJoin]] twin. Duplicate ids refuse because the
    * twin's contract is id-level (its join drops every row OF a dropped
    * id), where a per-row max would drop only the rows whose own vector
    * matched. */
  def semanticDedupIvf(df: DataFrame, centroids: Array[(Long, Array[Double])],
                       threshold: Double, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    import graft.similarity.Similarity
    val kernel =
      if (fitsKernel(df, idCol))
        semanticDedupAccounting(Similarity.ivfAssign(df, centroids, idCol, vecCol)
          .select(col(idCol).cast("long"), col("cluster_id"), kernelVec(col(vecCol))),
          threshold, idCol)
      else None
    kernel.getOrElse(semanticDedupIvfJoin(df, centroids, threshold, idCol, vecCol))
  }

  /** Declarative twin of the accounting kernel — the fallback past the
    * guard and the parity oracle (spec-gated exceptAll-both-ways in
    * DedupSimilaritySpec): IVF assignment left-joined against the distinct
    * set of dropped ids from the pair formulation. */
  private[graft] def semanticDedupIvfJoin(df: DataFrame,
                                          centroids: Array[(Long, Array[Double])],
                                          threshold: Double,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding"): DataFrame = {
    import graft.similarity.Similarity
    val assigned = Similarity.ivfAssign(df, centroids, idCol, vecCol)
      .select(col(idCol), col("cluster_id"))
    val dropped = embeddingNearDupsIvf(df, centroids, threshold, idCol, vecCol)
      .select(col("id_b").as(idCol)).distinct().withColumn("dup", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        when(col("dup").isNull, lit(1)).otherwise(lit(0)).as("kept"))
  }

  /** Accounting kernel over a KEYED corpus on [[broadcastKernel]]: exactly
    * (id: long, key: long, vec: array<double>), under [[pairScoreKernel]]'s
    * zero-norm and bit-exactness notes, emitting one (id, key, kept) row
    * PER INPUT ROW: the build sorts the clean rows by key into flat
    * arrays with each row's key-group bounds, and appends the dirty rows.
    *
    * Parity with [[semanticDedupIvfJoin]], case by case:
    *  - clean rows pair within their key group under `id_a < id_b`; the
    *    kernel tracks the max cosine over a row's LOWER-id neighbors,
    *    skipping zero-divisor pairs (the twin's try_divide NULL) and
    *    short-circuiting to NaN when a NaN cosine appears (NaN compares
    *    greater than every double in Spark, so it IS the max);
    *  - a row with a null id or null vector can neither drop nor be
    *    dropped (null ids fail the twin's join and `<`; null vectors
    *    yield null cosines its filter removes) → passthrough, kept = 1;
    *  - duplicate non-null ids → None, the caller runs the twin (id-level
    *    vs row-level drop semantics — see [[semanticDedupIvf]]). */
  private[graft] def semanticDedupAccounting(corpusKeyed: DataFrame,
                                             threshold: Double,
                                             idName: String): Option[DataFrame] = {
    val spark = corpusKeyed.sparkSession
    import spark.implicits._
    broadcastKernel(
        corpusKeyed.as[(Option[Long], Option[Long], Option[Array[Double]])]) { collected =>
      if (repeats(collected.flatMap(_._1))) None
      else {
        val (clean0, dirty) = collected.partition(r =>
          r._1.isDefined && r._2.isDefined && r._3.isDefined)
        val clean = clean0.sortBy(_._2.get)
        val keys = clean.map(_._2.get)
        val vecs = clean.map(_._3.get)
        val (gs, ge) = keyGroupBounds(keys)
        val dirtyRows: Array[(Option[Long], Option[Long], Option[Double])] =
          dirty.map(r => (r._1, r._2, None))
        Some(((clean.map(_._1.get), keys, vecs, vecs.map(v => math.sqrt(seqDot(v, v))),
          gs, ge, dirtyRows), clean.length + dirty.length))
      }
    } { case (ids, keys, vecs, norms, gs, ge, dirtyRows) =>
      i => Iterator.single[(Option[Long], Option[Long], Option[Double])](
        if (i >= ids.length) dirtyRows(i - ids.length)
        else {
          val ida = ids(i)
          val va = vecs(i)
          val na = norms(i)
          var m = 0.0
          var has = false
          var j = gs(i)
          while (j < ge(i)) {
            if (ids(j) < ida) {
              val d = na * norms(j)
              // d == 0 → skip (oracle's /0 = NULL pair, filtered); NaN
              // cosine → it IS the max (NaN > every double in Spark).
              if (d != 0.0) {
                val c = seqDot(va, vecs(j)) / d
                if (java.lang.Double.isNaN(c)) { m = c; has = true; j = ge(i) }
                else if (!has || c > m) { m = c; has = true }
              }
            }
            j += 1
          }
          (Some(ida), Some(keys(i)), if (has) Some(m) else None)
        })
    }.map(_.toDF(idName, "cluster_id", "cos_max")
      .select(col(idName), col("cluster_id"),
        when(round(col("cos_max"), 6) >= threshold, lit(0))
          .otherwise(lit(1)).as("kept")))
  }

  // ---- SimHash -----------------------------------------------------------

  /** Bit-position weights 2^0..2^30 (h31 is 31-bit, so bit 31+ never set). */
  private val Pow2: Seq[Long] = (0 until 31).map(j => 1L << j)

  /** 31-bit SimHash over distinct whitespace tokens, computed per-row with
    * no shuffle: bit j is set iff more token hashes have bit j set than not
    * (bit test via `h mod 2e >= e`, which both engines evaluate identically —
    * no shift builtins needed inside lambdas). Near-dup pairs are then
    * `bit_count(xor) <= d` within LSH-style bucket joins on simhash bytes.
    *
    * EDGE: token-less text (empty/whitespace-only) — and NULL text, which
    * flows through the size() comparisons as 0 votes per bit — yields
    * signature 0, NOT NULL. Do not band this column directly on a dirty
    * corpus: every such document would pair as a hamming-0 "duplicate" of
    * the others (the mega-bucket failure mode). [[simhashSignatures]] is
    * the banding-safe form — it drops token-less docs (NULL signature)
    * before any bucket join; this HOF form exists as the oracle's
    * restatement and keeps its exact totality.
    */
  def simhash31(text: Column): Column = {
    // Token hashes bound once (single-element-array trick) — referencing the
    // md5 chain inside the per-bit lambda would recompute every token hash
    // 31 times per row.
    element_at(transform(
      array(transform(array_distinct(TextOps.tokens(text)), t => TextOps.h31(t))),
      hashes => aggregate(
        typedlit(Pow2),
        lit(0L),
        (acc, e) => acc + when(
          size(filter(hashes, h => h % (e * 2L) >= e)) * 2 > size(hashes), e)
          .otherwise(0L))), 1)
  }

  /** Identical-signature mega-group cap shared by the simhash pair and
    * component formulations — ONE implementation so the logged-drop
    * discipline cannot drift between them (the two inline copies' warn
    * texts already had). Input must already be materialized (both
    * callers localCheckpoint the signature table). */
  private def capSigGroups(sigs0: DataFrame, maxBucketSize: Int,
                           what: String, consequence: String): DataFrame =
    if (maxBucketSize == Int.MaxValue) sigs0
    else {
      val sizes = sigs0.groupBy(col("simhash")).agg(count(lit(1)).as("g"))
      val dropped = sizes.filter(col("g") > maxBucketSize).count()
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"$what: dropped $dropped identical-signature group(s) " +
            s"larger than $maxBucketSize docs (boilerplate skew guard; " +
            s"$consequence)")
      sigs0.join(sizes.filter(col("g") <= maxBucketSize)
        .select(col("simhash")), "simhash")
    }

  /** SimHash near-duplicate pairs, computed at the SIGNATURE level and
    * expanded back to documents. Near-dup corpora concentrate onto few
    * distinct signatures (replica groups hash identically), so doc-level
    * band joins pay Σ bucket² over DOCUMENTS for work that only depends on
    * the distinct signature values: on a 50k-doc corpus with 17k distinct
    * signatures, doc-level 8-bit bands cost 1.96G join rows where the
    * sig-level join costs 3.2M (both measured). Three stages:
    *
    *  1. **Identical-signature groups** pair directly (hamming 0) via one
    *     equi-join on the signature — output-proportional.
    *  2. **Distinct signatures** band-join with `maxHamming + 1` bands of
    *     ~31/(maxHamming+1) bits: by pigeonhole, ≤ maxHamming differing
    *     bits cannot touch every band, so recall is PERFECT for any
    *     maxHamming ≤ 30 — and fewer, wider bands mean exponentially finer
    *     buckets than fixed 8-bit bands (16-bit bands are 256× finer).
    *  3. Surviving signature pairs (≤ the corpus's true near-dup sig
    *     structure; materialized, counted, and broadcast when small)
    *     expand through two id joins — again output-proportional.
    *
    * `maxBucketSize` is the boilerplate mega-group guard: identical-
    * signature groups larger than it are dropped from BOTH stages (their
    * C(g,2) self-pairs are exactly the junk output a boilerplate template
    * generates), with the dropped-group count logged — same explicit
    * recall trade as [[minhashCandidatePairs]]'s bucket cap. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int,
                          maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // signatures are referenced by both stages and the distinct —
    // materialize once (deriving them is the dominant cost)
    val sigs0 = simhashSignatures(df, idCol, textCol).localCheckpoint(true)
    val sigs = capSigGroups(sigs0, maxBucketSize, "simhashNearDupPairs",
      "pairs involving a dropped group are not generated")
    val within = sigs.as("a")
      .join(sigs.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    val cross = sigPairs(sigs.select(col("simhash")).distinct(),
        sigs.select(col("simhash")).distinct(), maxHamming, ordered = true)
      .join(sigs.select(col("simhash").as("s1"), col("id").as("ida")), "s1")
      .join(sigs.select(col("simhash").as("s2"), col("id").as("idb")), "s2")
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
    within.unionAll(cross)
  }

  /** Cross-corpus simhash near-dup pairs — the CONTAMINATION shape: every
    * (left, right) doc pair within `maxHamming`, directionally (no `id <`
    * triangle — eval×train is the point) — over PRE-DERIVED signature
    * tables (id, simhash), both already materialized. Same sig-level band
    * join + expansion as [[simhashNearDupPairs]], with equal signatures
    * flowing through the band join (every band matches), so no separate
    * within-group stage. Recall is perfect for maxHamming ≤ 30. When the
    * two sides partition ONE corpus (the train/eval contamination shape),
    * derive signatures once over the whole corpus and filter the sig table
    * per side — signature derivation is the dominant cost and halves
    * versus deriving per side (one corpus scan instead of two at warehouse
    * scale). */
  def simhashCrossPairsFromSigs(sl: DataFrame, sr: DataFrame,
                                maxHamming: Int): DataFrame =
    sigPairs(sl.select(col("simhash")).distinct(),
        sr.select(col("simhash")).distinct(), maxHamming, ordered = false)
      .join(sl.select(col("simhash").as("s1"), col("id").as("id_a")), "s1")
      .join(sr.select(col("simhash").as("s2"), col("id").as("id_b")), "s2")
      .select(col("id_a"), col("id_b"), col("hamming"))

  /** Near-dup connected components WITHOUT materializing the doc-pair
    * graph: (id, cluster_id) for every doc, cluster_id = smallest doc id
    * in its near-dup component — the survivor-selection primitive a dedup
    * pipeline actually needs ([[graft.pipelines.PretrainCorpus]]).
    *
    * Components are computed over SIGNATURES and lifted: same-signature
    * docs form a clique through their shared sig node, and a sig-pair edge
    * connects all docs of both sigs, so doc components and sig components
    * coincide exactly — but the sig graph is near-dup-STRUCTURE-sized
    * (17k nodes / 29k edges where the doc-pair graph held 47M edges, 10×
    * corpus, hamming ≤ 1), which keeps [[dupClusters]] on its driver
    * union-find fast path long after the doc-pair formulation has pushed
    * into multi-round distributed propagation. Same output as
    * `dupClusters(simhashNearDupPairs(...))` plus explicit singleton rows
    * (cluster_id = id for docs with no near-dup).
    *
    * `maxBucketSize`: identical-signature groups larger than the cap are
    * EXCLUDED from the output entirely (their docs neither cluster nor
    * appear), matching the pair formulation where capped groups generate
    * no pairs — callers treat absent docs as self-survivors. */
  def simhashComponents(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val sigs0 = simhashSignatures(df, idCol, textCol).localCheckpoint(true)
    val sigs = capSigGroups(sigs0, maxBucketSize, "simhashComponents",
      "their docs neither cluster nor appear in the output")
    val dsig = sigs.select(col("simhash")).distinct()
    val sigComp = dupClusters(
      sigPairs(dsig, dsig, maxHamming, ordered = true)
        .select(col("s1").as("id_a"), col("s2").as("id_b")))
      .select(col("id").as("simhash"), col("cluster_id").as("sig_comp"))
    // one exchange on the component key; min-per-component as a window
    // over that same partitioning (a groupBy+join would shuffle twice)
    sigs.join(sigComp, Seq("simhash"), "left")
      .select(col("id"),
        coalesce(col("sig_comp"), col("simhash")).as("comp"))
      .withColumn("cluster_id",
        min(col("id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("comp"))))
      .select(col("id"), col("cluster_id"))
  }

  /** Signature pairs within `maxHamming` between two distinct-signature
    * sets, via the pigeonhole band join (`maxHamming + 1` bands). With
    * `ordered` the pair triangle (s1 < s2) is kept — the self-join shape;
    * without, all directed pairs including equal signatures — the
    * cross-corpus shape. The result is materialized (it is executed once
    * per expansion join otherwise) and broadcast when small enough that
    * the expansion joins can run map-side against corpus-sized id tables. */
  private def sigPairs(dsigA: DataFrame, dsigB: DataFrame, maxHamming: Int,
                       ordered: Boolean): DataFrame = {
    val nb = math.max(1, math.min(maxHamming + 1, 31))
    def bands(dsig: DataFrame): DataFrame =
      dsig.select(col("simhash"),
        explode(array(sigBandCols(col("simhash"), nb): _*)).as("band"))
    val pairCond =
      if (ordered) col("a.simhash") < col("b.simhash")
      else lit(true)
    val sp = bands(dsigA).as("a")
      .join(bands(dsigB).as("b"), col("a.band") === col("b.band") && pairCond &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int"))
      .localCheckpoint(true)
    // checkpointed → the count is a cheap scan; broadcast keeps the two
    // expansion joins shuffle-free on the corpus side when the near-dup
    // sig structure is small (it almost always is — it is bounded by the
    // corpus's true near-dup pair structure, not its size). The gate is
    // a BYTE budget like the file's other broadcast gates (~50 B/row as
    // a HashedRelation), not a raw row count — 5M rows was ~250-500 MB
    // shipped to every executor, far past the sibling 64 MB discipline.
    val maxRows = SigPairsBroadcastMaxBytes / 50L
    if (sp.count() <= maxRows) broadcast(sp) else sp
  }

  /** Broadcast budget for the near-dup signature-pair table (the two
    * expansion joins' build side), in estimated HashedRelation bytes. */
  private val SigPairsBroadcastMaxBytes = 64L * 1024 * 1024

  /** `numBands` contiguous bit slices of the 31-bit signature as join-key
    * strings, wider slices first (31 = base·n + extra). */
  private def sigBandCols(sig: Column, numBands: Int): Seq[Column] = {
    val base = 31 / numBands
    val extra = 31 % numBands
    val widths = Seq.tabulate(numBands)(k => base + (if (k < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until numBands).map(k =>
      concat_ws("_", lit(k.toString),
        (shiftright(sig, offsets(k)) % (1L << widths(k))).cast("string")))
  }

  /** Drop LSH buckets larger than `maxBucketSize` — the skew guard for the
    * Σ bucket² bucket joins. A boilerplate-heavy corpus (licence headers,
    * templated pages) produces a handful of huge buckets that carry almost
    * no dedup signal but dominate the join quadratically; capping bounds
    * any single bucket's contribution at maxBucketSize². The dropped-bucket
    * count is computed eagerly and logged — an explicit, visible recall
    * trade (the pairs wholly inside a dropped bucket are missed). No-op
    * (and no extra job) at the
    * default unbounded setting, which keeps exact-recall semantics. */
  private def capBuckets(buckets: DataFrame, maxBucketSize: Int, what: String,
                         bucketCol: String = "bucket"): DataFrame =
    if (maxBucketSize == Int.MaxValue) buckets
    else {
      // Materialize the banded rows: the signature+banding pipeline above
      // is the dominant cost, and without materialization it would run
      // three times (dropped-count job, size aggregation, final join
      // probe). localCheckpoint, NOT persist: persist registers in the
      // session CacheManager, whose strong reference ContextCleaner can
      // never reclaim, so every capped call leaked one corpus×bands cache
      // entry for the session lifetime (the round-5 mid-suite 8-58×
      // slowdowns Bench now quiesces against — but library callers get
      // no quiesce). Checkpoint blocks are reclaimed by ContextCleaner
      // as soon as the returned plan is dropped.
      val b = buckets.localCheckpoint(true)
      val sizes = b.groupBy(col(bucketCol)).agg(count(lit(1)).as("bsz"))
      val dropped = sizes.filter(col("bsz") > maxBucketSize).count()
      if (dropped > 0)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"$what: dropped $dropped LSH bucket(s) larger than " +
            s"$maxBucketSize rows (boilerplate skew guard; pairs wholly " +
            "inside a dropped bucket are not generated)")
      b.join(sizes.filter(col("bsz") <= maxBucketSize)
        .select(col(bucketCol)), bucketCol)
    }

  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // Per-row codegen'd signature (graft.functions.SimHash31Expr): zero
    // shuffle, linear token hashing, bit-for-bit the old explode + 31-sum
    // aggregation formulation — which paid a corpus×tokens exchange into
    // a 31-aggregate hash agg, the largest exchange in the dedup family
    // at warehouse scale. Token-less docs produce NULL and are dropped,
    // matching the explode shape where they generate no rows.
    nonNullPerRow(df, idCol, "simhash",
      graft.functions.SimHash31.simhash(col(textCol)))
}
