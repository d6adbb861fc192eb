package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Corpus-level text operators — statistics that need the whole document set
  * (document frequency, corpus size), unlike the per-row helpers in
  * [[graft.functions.TextOps]]. Training-data surface: TF-IDF term weighting
  * for quality filtering / topic balancing, and fixed-size token chunking
  * with overlap (the standard pre-tokenizer step that turns documents into
  * training windows).
  *
  * Scale shape: TF is one explode + hash-agg on (doc, term) — map-side
  * combine collapses repeats before the shuffle; DF is a second hash-agg on
  * term; the corpus size N is a broadcast scalar. No self-joins. Chunking is
  * purely per-row (explode over computed chunk starts) — embarrassingly
  * parallel, no shuffle at all.
  */
object Corpus {

  /** Concat-and-chunk sequence packing: documents are laid end-to-end per
    * stream (in `idCol` order) and cut every `budget` tokens — the standard
    * pretraining packing step. Each document is assigned to the chunk its
    * FIRST token lands in: chunk = (exclusive running token count) div
    * budget — a window cumsum plus integer division, all exact, so the
    * packing layout is reproducible across engines and partitionings.
    * Returns per (stream, chunk): document count, token mass, id range.
    * One exchange on the stream key; the cumsum is a partition-local scan. */
  def packChunks(docs: DataFrame, streamCol: String, idCol: String,
                 textCol: String, budget: Long): DataFrame = {
    // Same guard as chunk(): `start div 0` is NULL (non-ANSI), which
    // would silently collapse every document into one chunk_id=NULL
    // group per stream — well-formed wrong data for a mis-unit budget.
    require(budget > 0, s"packChunks needs a positive token budget, got $budget")
    // Order by (id, n_tok): a ROWS cumsum over tied ids is otherwise
    // shuffle-order-dependent — duplicate (stream, id) rows with different
    // token counts got nondeterministic chunk assignments, violating the
    // reproducibility contract. With n_tok in the order, remaining ties
    // are content-identical rows, which are interchangeable (any order
    // yields the same chunk stats).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(streamCol)).orderBy(col("id"), col("n_tok"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.select(col(streamCol), col(idCol).as("id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"))
      .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("chunk_id", expr(s"start div $budget"))
      .groupBy(col(streamCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("id")).as("first_doc"), max(col("id")).as("last_doc"))
  }

  /** (id, term, tf) — term frequency per document, whitespace tokens.
    *
    * r12 exchange placement (guide §2.3/§2.4): the documents are
    * hash-repartitioned BY ID before the explode, so ONE exchange carrying
    * each document's text once serves the whole per-doc chain —
    * hash(id) satisfies the (id, term) clustering of the tf agg, and every
    * downstream per-doc aggregate / top-k window (topTerms, bm25's dl,
    * surprisal's per-doc mean) reuses the same layout instead of paying a
    * second exchange of posting-level rows. The repartition also subsumes
    * the old fanOut (the explode runs post-exchange at cluster
    * parallelism even when the corpus is one parquet split). Same-session
    * A/B (OPTIMIZATION_r12.md §4): q60 0.88→0.82s at sf0.1, identical rows —
    * small here, but the exchange this removes is posting-sized at any
    * scale. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Shape gate (r13, closing the r12 verdict's q76/q91 question): the
    // id-keyed exchange is the AT-SCALE shape (one document-sized exchange
    // replaces a posting-sized one and serves every per-doc consumer), but
    // locally the full-text repartition costs more than the narrow
    // aggregated exchange it saves (driver-artifact + builder runs agreed:
    // q76 −9%, q91 −15% in r12). Below the small-corpus gate (compressed
    // estimate × 4 decompression factor, the Ranked discipline) keep the
    // r11 fanOut shape; above it take the id-keyed exchange. Crossover
    // measured same-session alternating, parity true (OPTIMIZATION_r13.md
    // §5): at 0.57 MiB compressed fanOut wins (q76 0.77 vs 0.90s, q91
    // 1.09 vs 1.16); at 5.6 MiB id-keyed already wins (q60 2.45 vs 2.73,
    // q91 2.90 vs 3.48); at 16.6 MiB decisively (q60 2.78 vs 6.05, q76
    // 1.78 vs 3.45). 0 forces id-keyed always (the 100 TB posture, what
    // the all-twins suite runs primary).
    val limit = graft.core.Gates.effectiveLimit(docs.sparkSession,
      graft.core.Gates.CorpusTfSmallInputMaxBytes, SmallCorpusMaxBytesDefault)
    val idKeyed = docs.queryExecution.analyzed.stats.sizeInBytes *
      graft.core.Gates.DecompressionSafetyFactor > BigInt(limit)
    val prepped =
      if (idKeyed) docs.repartition(col(idCol))
      else graft.core.Parallelize.fanOut(docs)
    prepped
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Default small-corpus gate for [[termFrequencies]]' exchange shape:
    * 8 MiB against the ×4-factored estimate ⇒ corpora up to ~2 MiB
    * compressed (≈ up to ~20 MiB raw text) keep the local fanOut shape.
    * Set from the measured crossover above (fanOut wins at 0.57 MiB,
    * id-keyed from 5.6 MiB up), erring toward the scale shape inside the
    * unmeasured band. */
  val SmallCorpusMaxBytesDefault: Long = 8L << 20

  /** (id, term, tf, df, tfidf): tfidf = tf * ln((N + 1) / (df + 1)). The
    * +1 smoothing bounds the weight away from negative values; a term
    * present in EVERY document (df = N) gets weight exactly 0.0 — present
    * rows with zero weight are still emitted, distinguishing "everywhere,
    * uninformative" (row, 0.0) from "absent" (no row).
    * N = number of documents (all rows of `docs`), carried as a broadcast
    * scalar so the plan stays a chain of hash-aggs + one broadcast join. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    // No broadcast hint on the vocabulary join: df is "distinct terms",
    // which at web scale is itself huge (heavy-tailed vocab) — AQE will
    // still convert to broadcast at runtime when the measured size is
    // small, without baking in an assumption that breaks at 100 TB.
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("id"), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")),
          6).as("tfidf"))
  }

  /** Top-k terms per document under the integer-deterministic ranking
    * (tf DESC, df ASC, term ASC). NOTE: this ranking is the CONTRACT, a
    * frequency-then-rarity proxy chosen so the oracle can't diverge on a
    * last-ulp double tie — it is NOT argmax of the carried tfidf column,
    * and is not monotone in it: a rare term with higher tfidf can rank
    * below a frequent one (tf dominates). Consumers that want strict
    * tfidf-maximal terms should rank on a quantized tfidf with the same
    * integer tiebreaks; the weight is carried (rounded) so they can. */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tfidf(docs, idCol, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-document mean unigram negative log-likelihood under the corpus's
    * own unigram model — the cheap perplexity proxy used to rank documents
    * by "typicality" before an LM-based quality filter is affordable:
    * gibberish and boilerplate both land far from the corpus mean.
    * score(d) = −(1/|d|) Σ_t ln( tf_corpus(t) / N_tokens ). Smoothing-free
    * because every scored token exists in the corpus (it came from it).
    * Plan: the q60 TF chain + one broadcast scalar + one per-doc hash-agg —
    * corpus-linear, no self-joins. */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val corpus = tf.groupBy(col("term"))
      .agg(sum(col("tf")).as("ctf"))
    val total = corpus.select(sum(col("ctf")).as("n_tokens"))
    // Each term's ln(p) is quantized ONCE to integer nano-units via
    // floor(x·1e9 + 0.5): ROUND(double, n) semantics differ between
    // engines, and a raw double Σ is summation-order-dependent — after
    // this point everything is exact integer arithmetic (order-free sums,
    // integer half-up division), so the result is engine-identical.
    val termQ = floor(log(col("ctf").cast("double") /
      col("n_tokens").cast("double")) * 1e9 + 0.5).cast("long")
    tf.join(corpus, "term")
      .crossJoin(broadcast(total))
      .select(col("id"), col("tf"), (termQ * col("tf")).as("contrib"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_doc_tokens"), sum(col("contrib")).as("s"))
      .select(col("id"), col("n_doc_tokens"),
        // mean in µ-units, half-up: floor((2·(−S) + n·1000) / (2·n·1000))
        (expr("(-s * 2 + n_doc_tokens * 1000) div (2 * n_doc_tokens * 1000)")
          .cast("double") / 1e6).as("mean_surprisal"))
  }

  /** Explode each document into fixed-size token chunks with `overlap`
    * shared tokens between consecutive chunks (training-window shaping).
    * Chunk starts step by (size - overlap); a trailing chunk is emitted only
    * if it contributes tokens beyond the previous chunk's coverage:
    * nChunks = max(1, ceil((n - overlap) / step)) — integer arithmetic only.
    * Documents with no tokens produce no chunks. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    val toks = docs.select(col(idCol).as("id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("n_toks", size_(col("toks")))
      .filter(col("n_toks") > 0)
    toks
      .withColumn("n_chunks", greatest(lit(1L),
        expr(s"(n_toks - $overlap + ${step - 1}) div $step")))
      .select(col("id"), col("toks"), col("n_toks"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_idx"))
      .withColumn("start", col("chunk_idx") * step)
      .select(col("id"), col("chunk_idx"),
        least(lit(size.toLong), col("n_toks") - col("start")).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(size)))
          .as("chunk_text"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-K
    * frequency vocabulary — the tokenizer-coverage check run before
    * committing to a vocab size (high OOV ⇒ wasted UNK mass at training).
    * Vocabulary ranking is integer-deterministic (count DESC, term ASC) and
    * the rate is integer ppm (half-up), so the result is engine-exact.
    * Plan: tokenize ONCE into per-doc token arrays and checkpoint those
    * (the regex tokenizer is the per-row heavy step; the vocab branch and
    * the join branch would otherwise each run it — 2× the dominant cost;
    * exploding from a materialized array is cheap by comparison); then
    * TF hash-agg → TakeOrdered(k) (distributed top-k, never a global
    * single-partition window) → broadcast left join (vocab is k rows by
    * construction — the hint is safe) → per-doc hash-agg. Corpus-linear;
    * the checkpoint holds the tokenized corpus in executor storage —
    * same size class as the input scan, partitioned, never driver-side.
    *
    * localCheckpoint trade (deliberate): it deduplicates the tokenizer
    * across the vocab and join branches (measured 0.55→0.46s at sf0.1)
    * WITHOUT the CacheManager strong reference a persist would leak, at
    * the price of truncated lineage — non-replicated blocks, so one lost
    * executor mid-query fails the query instead of recomputing (Spark
    * retries the batch). On a cluster where executor churn is routine,
    * swap for persist(MEMORY_AND_DISK) + caller-side unpersist, or a
    * reliable checkpoint dir. */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val tokArrays = graft.core.Parallelize.fanOut(docs)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .localCheckpoint(true)
    val toks = tokArrays.select(col("id"), explode(col("toks")).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("ctf"))
      .orderBy(col("ctf").desc, col("term").asc).limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 2000000 + n_tokens) div (2 * n_tokens)").as("oov_ppm"))
  }

  /** Gopher-style repetition features: the duplicate word-n-gram fraction
    * per document (templated/spammy text repeats itself; a high duplicate
    * fraction is a standard pre-training quality-filter signal). Entirely
    * per-row (one pass over each doc's shingle multiset), integer-ppm
    * output, engine-exact; fanOut(0) because the per-row shingle multiset
    * work dwarfs the scan (no shuffle once the corpus scans wide). */
  def ngramRepetition(docs: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    graft.core.Parallelize.fanOut(docs, 0L)
      .select(col(idCol).as("id"),
        TextOps.ngramStats(col(textCol), n).as("g"))
      .filter(col("g").isNotNull)
      .select(col("id"), col("g.n_grams").as("n_grams"),
        col("g.n_distinct").as("n_distinct"))
      .select(col("id"), col("n_grams"), col("n_distinct"),
        repetitionPpm(col("n_grams"), col("n_distinct")).as("rep_ppm"))

  /** The shingle-array formulation of [[ngramRepetition]]'s stats — the
    * parity twin CorpusSpec checks the one-pass kernel against (it IS
    * the shape the q80 oracle restates). */
  private[graft] def ngramRepetitionArrays(docs: DataFrame, idCol: String,
                                           textCol: String, n: Int): DataFrame =
    graft.core.Parallelize.fanOut(docs, 0L)
      .select(col(idCol).as("id"),
        TextOps.wordShinglesAll(col(textCol), n).as("grams"))
      .select(col("id"), size_(col("grams")).cast("long").as("n_grams"),
        size_(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .filter(col("n_grams") > 0)
      .select(col("id"), col("n_grams"), col("n_distinct"),
        repetitionPpm(col("n_grams"), col("n_distinct")).as("rep_ppm"))

  /** Duplicate-fraction in integer ppm, half-up — the single source of the
    * repetition formula (the q80 oracle and the PretrainCorpus quality gate
    * restate the SAME expression; a rounding change here is a change in
    * both, never a silent drift). Inputs must be long columns; the `div`
    * is Spark's integer division (exact, unlike `/` which widens to
    * double). */
  def repetitionPpm(nGrams: org.apache.spark.sql.Column,
                    nDistinct: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.Bridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.Bridge.toExpr(
          (nGrams - nDistinct) * lit(2000000L) + nGrams),
        org.apache.spark.sql.graft.Bridge.toExpr(nGrams * lit(2L))))

  /** Per-document Shannon character entropy in µnats — low entropy flags
    * repetitive/templated or degenerate text (another Gopher-class quality
    * gate). Same integer-exactness discipline as [[unigramSurprisal]]: each
    * ln(p) is quantized once to nano-units, then every sum and the final
    * half-up division are exact integer arithmetic — engine-identical.
    *
    * Computed by the one-pass [[graft.functions.CharEntropyExpr]] codegen
    * kernel: entropy needs no corpus statistics, so the per-row form runs
    * at scan parallelism with zero shuffle — where the explode formulation
    * (kept below as the spec's parity twin and the oracle restatement)
    * shuffles a corpus×CHARS-sized exchange through two hash-aggs and a
    * join. fanOut still applies: per-row cost is document-sized, and a
    * sub-split corpus would otherwise fold single-core. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Parallelize.fanOut(docs)
      .select(col(idCol).as("id"),
        graft.functions.CharEntropy.charEntropy(col(textCol)).as("e"))
      .filter(col("e").isNotNull)
      .select(col("id"), col("e.n_chars").as("n_chars"),
        col("e.entropy").as("entropy"))

  /** The explode/aggregate formulation of [[charEntropy]] — the parity
    * twin CorpusSpec checks the kernel against (it IS the shape the
    * DuckDB oracle restates). Codepoint-aware split: Java regex `.`
    * matches a full code POINT, so astral-plane characters count once —
    * `split(text, "")` would halve surrogate pairs and diverge from
    * DuckDB's codepoint string_split. */
  private[graft] def charEntropyExploded(docs: DataFrame, idCol: String,
                                         textCol: String): DataFrame = {
    val chars = graft.core.Parallelize.fanOut(docs)
      .select(col(idCol).as("id"),
        explode(regexp_extract_all(col(textCol), lit("(?s)."), lit(0))).as("ch"))
      .filter(col("ch") =!= "")
    val cc = chars.groupBy(col("id"), col("ch")).agg(count(lit(1)).as("nc"))
    val tot = cc.groupBy(col("id")).agg(sum(col("nc")).as("n"))
    val q = floor(log(col("nc").cast("double") / col("n").cast("double")) * 1e9
      + 0.5).cast("long")
    cc.join(tot, "id")
      .select(col("id"), col("nc"), (q * col("nc")).as("contrib"))
      .groupBy(col("id"))
      .agg(sum(col("nc")).as("n_chars"), sum(col("contrib")).as("s"))
      .select(col("id"), col("n_chars"),
        (expr("(-s * 2 + n_chars * 1000) div (2 * n_chars * 1000)")
          .cast("double") / 1e6).as("entropy"))
  }

  /** BM25 top-k terms per document (Okapi weighting, the retrieval-grade
    * upgrade of [[topTerms]]'s raw TF-IDF: term saturation via k1, document
    * -length normalization via b). idf uses the +1 form
    * ln((N − df + 0.5)/(df + 0.5) + 1), always positive.
    *
    * Exactness: every input to the score (tf, df, dl, N, Σdl) is an exact
    * integer from hash-aggs; the score is ONE fixed double expression over
    * them quantized ONCE to integer micro-units (floor(x·1e6 + 0.5)), and
    * the per-doc ranking orders by that integer — so rank and output are
    * engine-identical, no float tie can flip them.
    *
    * Plan shape = [[tfidf]]'s: explode → two hash-aggs (tf, df) + one per
    * -doc agg (dl) + two broadcast scalars, then a per-doc top-k window
    * over ≤|doc terms| rows. Corpus-linear, no self-joins. */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = termFrequencies(docs, idCol, textCol)
    val dl = tf.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val ag = dl.agg(sum(col("dl")).as("tot_tokens"), count(lit(1)).as("n_with"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val avgdl = dd(col("tot_tokens")) / dd(col("n_with"))
    val idf = log((dd(col("n_docs")) - dd(col("df")) + lit(0.5)) /
      (dd(col("df")) + lit(0.5)) + lit(1.0))
    val score = (idf * (dd(col("tf")) * lit(k1 + 1.0))) /
      (dd(col("tf")) + lit(k1) *
        (lit(1.0 - b) + lit(b) * dd(col("dl")) / avgdl))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    tf.join(dl, "id").join(dfreq, "term")
      .crossJoin(broadcast(n)).crossJoin(broadcast(ag))
      .withColumn("score_micro",
        floor(score * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("id"), col("term"), col("tf"), col("df"), col("dl"),
        col("score_micro"), col("term_rank"))
  }

  // functions.size shadowed by the Int parameter name in chunk()
  private def size_(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.size(c)
}
