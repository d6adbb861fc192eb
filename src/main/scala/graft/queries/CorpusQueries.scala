package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.dedup.Dedup
import graft.text.Corpus

/** Corpus-assembly pack: the end-to-end near-dup dedup pipeline (candidate
  * pairs → connected components → canonical winners → per-source
  * accounting) and concat-and-chunk sequence packing — the two steps that
  * turn a raw document pile into training sequences.
  */
object CorpusQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Near-dup dedup END-TO-END: 3-gram Jaccard pairs (≥ 0.5, inverted
    // index) → connected components → min-id canonical per cluster →
    // per-source kept/dropped accounting. q93 is the exact-hash canonical;
    // this is its near-dup sibling, composing q25's pair generation and
    // q44's components into the pipeline a corpus release actually runs.
    "q118_neardup_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(
        Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5))
        .withColumnRenamed("id", "doc_id")
      docs.join(clusters, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("rep"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("doc_id") === col("rep"), col("n_chars"))
            .otherwise(0L)).as("chars_kept"),
          countDistinct(col("rep")).as("n_clusters"))
    }),

    // Sequence packing: per-source concat-and-chunk at a 2048-token budget;
    // documents assigned to the chunk their first token lands in.
    "q119_sequence_packing" -> ((s, dir) =>
      Corpus.packChunks(t(s, dir, "documents"), "source", "doc_id", "text",
        budget = 2048L)),

    // Source-overlap matrix: pairwise shingle Jaccard BETWEEN sources —
    // which feeds duplicate each other before any doc-level dedup runs.
    // r12 optimization (guide §2.3/§2.4, OPTIMIZATION_r12.md §1 —
    // shipped 1.12s vs 0.74s, identical 190 rows): ONE
    // groupBy(shingle).agg(collect_set(source)) pass replaces the old
    // distinct → localCheckpoint → shingle self-join. collect_set dedups
    // (the distinct disappears into the aggregate's map side), pair
    // expansion happens per shingle on the sorted ≤|sources| set
    // (sources² per shingle, never postings²), per-source counts explode
    // the same grouped table — the self-join and its posting-sized build
    // exchange are gone. The tokenize+explode map side fans out
    // (minBytes=0): the corpus is one parquet split at bench scale, so
    // the whole regex-shingling otherwise ran on ONE task (q75/q108
    // rationale); at warehouse scale fanOut passes through untouched.
    "q124_source_overlap" -> ((s, dir) => {
      val docs = graft.core.Parallelize.fanOut(t(s, dir, "documents"), 0L)
      // referenced twice (pair expansion + per-source counts):
      // materialize the grouped pass once (MEMORY: spark-materialize-before-reuse)
      val bySh = docs.select(col("source"),
          explode(graft.functions.TextOps.wordShingles(col("text"), 3)).as("sh"))
        .groupBy(col("sh"))
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .select(col("srcs"))
        .localCheckpoint(true)
      val counts = bySh.select(explode(col("srcs")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      // ordered pairs (a < b) straight off the sorted set — exactly the
      // rows the old `a.sh = b.sh AND a.source < b.source` self-join made
      val inter = bySh
        .select(explode(expr(
          """flatten(transform(srcs, (x, i) ->
            |  transform(slice(srcs, i + 2, size(srcs)),
            |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("source"), col("p.b").as("source_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(counts.select(col("source"), col("n").as("n_a"))),
          "source")
        .join(broadcast(counts.select(col("source").as("source_b"),
          col("n").as("n_b"))), "source_b")
        .select(col("source").as("source_a"), col("source_b"), col("n_common"),
          col("n_a"), col("n_b"),
          expr("(n_common * 1000000) div (n_a + n_b - n_common)")
            .as("jaccard_ppm"))
    })
  )

  val oracles: Map[String, String] = Map(

    // q44's shingle/pair/closure blocks (verified there), extended with the
    // canonical join + per-source rollup. Multiply-referenced CTEs are
    // MATERIALIZED (MEMORY: duckdb-oracle-cte-materialization).
    "q118_neardup_pipeline" ->
      """WITH RECURSIVE
        |s AS MATERIALIZED (SELECT doc_id,
        |  list_distinct(CASE WHEN len(string_split_regex(text,'\s+')) < 3 THEN []::VARCHAR[]
        |   ELSE [array_to_string(list_slice(string_split_regex(text,'\s+'), i, i+2), ' ')
        |         for i in range(1, len(string_split_regex(text,'\s+')) - 1)] END) AS shingles
        |  FROM documents),
        |e AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
        |      FROM s WHERE len(shingles) > 0),
        |pairs AS MATERIALIZED (
        | SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   round(COUNT(*)::DOUBLE / (a.n_sh + b.n_sh - COUNT(*))::DOUBLE, 6) AS jaccard
        |  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
        | WHERE jaccard >= 0.5),
        |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |closure(a, b) AS (
        | SELECT src, dst FROM edges
        | UNION
        | SELECT c.a, ed.dst FROM closure c JOIN edges ed ON c.b = ed.src),
        |clusters AS MATERIALIZED (
        | SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id
        | FROM closure GROUP BY a)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN d.doc_id = COALESCE(c.cluster_id, d.doc_id)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN d.doc_id = COALESCE(c.cluster_id, d.doc_id)
        |    THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
        |  COUNT(DISTINCT COALESCE(c.cluster_id, d.doc_id)) AS n_clusters
        |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
        |GROUP BY 1""".stripMargin,

    "q124_source_overlap" ->
      """WITH sh AS MATERIALIZED (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(
        |      CASE WHEN len(string_split_regex(text,'\s+')) < 3 THEN []::VARCHAR[]
        |      ELSE [array_to_string(list_slice(string_split_regex(text,'\s+'), i, i+2), ' ')
        |            for i in range(1, len(string_split_regex(text,'\s+')) - 1)] END))
        |      AS sh
        |  FROM documents),
        |c AS MATERIALIZED (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
        |i AS (
        |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.source_a, i.source_b, i.n_common, ca.n AS n_a, cb.n AS n_b,
        |  CAST((CAST(i.n_common AS HUGEINT) * 1000000)
        |    // (ca.n + cb.n - i.n_common) AS BIGINT) AS jaccard_ppm
        |FROM i JOIN c ca ON ca.source = i.source_a
        |JOIN c cb ON cb.source = i.source_b""".stripMargin,

    "q119_sequence_packing" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))::BIGINT
        |      AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM d)
        |SELECT source, CAST(start // 2048 AS BIGINT) AS chunk_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2""".stripMargin
  )
}
