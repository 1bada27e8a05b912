package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Query
import graft.sources.Tables

/** Hybrid retrieval — the fusion layer of a corpus search stack: a
  * keyword ranking (q84's inverted-index shape) and an embedding
  * ranking (q19's exact-cosine shape) combined with Reciprocal Rank
  * Fusion (RRF, Cormack et al. SIGIR 2009): each candidate list
  * contributes `1 / (K + rank)` and the fused order is the sum. RAG
  * data curation uses exactly this to mine "hard" documents that only
  * one modality surfaces.
  *
  * Engine-parity design: RRF is computed from the RANKS — small
  * integers — not from the raw scores, so the fused score is a sum of
  * two IEEE divisions with integer operands in a fixed written order:
  * bit-identical in Spark and DuckDB (the raw keyword score is an
  * integer tf sum; the cosine score reuses the q19 dot/norm shape
  * already proven engine-stable by its oracle). That is also WHY RRF
  * exists: rank fusion needs no cross-modality score calibration.
  *
  * Scale shape: each side is an independently bounded top-`nCand`
  * ranking. The keyword side filters postings to the query terms
  * BEFORE any exchange and plans its cut as TakeOrdered; the vector
  * side broadcasts the single query vector and streams the corpus
  * once. The final rank assignment and the full-outer fusion join run
  * on ≤ `nCand`-row frames — driver-bounded constants, never corpus-
  * sized. A corpus-sized window never appears.
  */
object Retrieval {

  /** Keyword candidates: top-`nCand` docs by summed term frequency over
    * the matched query terms (disjunctive — any term qualifies), ties
    * to smallest doc_id; `kw_rank` is assigned AFTER the TakeOrdered
    * cut, so the rank window only ever sees `nCand` rows. */
  def keywordRanks(docs: DataFrame, terms: Seq[String], nCand: Int): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      s"query terms must be non-empty and distinct: $terms")
    val cut = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(nCand)
    cut.withColumn("kw_rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast("int"))
      .select(col("doc_id"), col("kw_rank"))
  }

  /** Vector candidates: top-`nCand` corpus vectors by exact cosine to
    * the query vector `queryId` (ties to smallest vec_id), rank
    * assigned after the cut — same bounded-window argument. */
  def vectorRanks(emb: DataFrame, queryId: Long, nCand: Int): DataFrame = {
    val prep = Similarity.prepared(emb)
    val q = prep.filter(col("vec_id") === queryId)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val cut = prep.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        Similarity.cosine(col("q_emb"), col("q_nrm"), col("emb"), col("nrm"))
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(nCand)
    cut.withColumn("vec_rank",
      row_number().over(Window.orderBy(col("score").desc, col("vec_id")))
        .cast("int"))
      .select(col("vec_id"), col("vec_rank"))
  }

  /** RRF fusion of the two candidate lists (doc_id and vec_id share the
    * id space in the test corpus): `rrf = 1/(K + kw_rank) + 1/(K +
    * vec_rank)`, absent list contributing 0. Top-`k` by (rrf DESC,
    * doc_id). Both inputs are ≤ nCand rows, so the join broadcasts and
    * the final sort is trivially bounded. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryId: Long, nCand: Int, k: Int, rrfK: Int = 60): DataFrame = {
    val kw = keywordRanks(docs, terms, nCand)
    val vec = vectorRanks(emb, queryId, nCand)
      .withColumnRenamed("vec_id", "doc_id")
    kw.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("kw_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("kw_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  val queries: Seq[Query] = Seq(
    Query(
      "q85_hybrid_rrf",
      "Hybrid retrieval with Reciprocal Rank Fusion: top-50 keyword " +
        "candidates for {spark, join, filter} (disjunctive summed tf, the " +
        "q84 postings shape) fused with the top-50 exact-cosine candidates " +
        "for query vector 7 (the q19 shape) via rrf = 1/(60+rank) + " +
        "1/(60+rank), top-20 overall. Ranks are assigned after each side's " +
        "TakeOrdered cut, so every window and the fusion join are bounded " +
        "by the 50-candidate constant — RRF from integer ranks keeps the " +
        "fused double bit-identical across engines.",
      (s, dir) => hybridRrf(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        Seq("spark", "join", "filter"), queryId = 7L, nCand = 50, k = 20),
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
          FROM documents
        ), kw AS (
          SELECT doc_id, COUNT(*) AS score
          FROM toks WHERE term IN ('spark', 'join', 'filter')
          GROUP BY doc_id
          ORDER BY score DESC, doc_id
          LIMIT 50
        ), kwr AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS kw_rank
          FROM kw
        ), e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
          SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
        ), vs AS (
          SELECT c.vec_id,
                 list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS score
          FROM n q JOIN n c ON q.vec_id = 7 AND c.vec_id != 7
          ORDER BY score DESC, c.vec_id
          LIMIT 50
        ), vr AS (
          SELECT vec_id,
                 CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT) AS vec_rank
          FROM vs
        )
        SELECT COALESCE(k.doc_id, v.vec_id) AS doc_id,
               k.kw_rank, v.vec_rank,
               COALESCE(1.0::DOUBLE / (60 + k.kw_rank), 0.0::DOUBLE) +
               COALESCE(1.0::DOUBLE / (60 + v.vec_rank), 0.0::DOUBLE) AS rrf
        FROM kwr k FULL OUTER JOIN vr v ON k.doc_id = v.vec_id
        ORDER BY rrf DESC, doc_id
        LIMIT 20"""))
  )
}
