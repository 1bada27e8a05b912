package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType, StringType}

import graft.functions._
import graft.operators.{Curation, Dedup, Profiling, Retrieval, Vocab}

/** `SparkSessionExtensions` wiring: registers the engine's native
  * Catalyst expressions as SQL functions, so `spark.sql("SELECT
  * minhash_signature(hs, 128) …")` works exactly like the Column API —
  * the registration path any BI/SQL-only consumer of the library uses.
  *
  * Enable with `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[GraftSession]]) or pass to `SparkSession.builder.withExtensions`.
  *
  * Shape arguments (k, n, tables, bits, dim) are part of the
  * expression's STRUCTURE (they size generated code and plane
  * matrices), so they must be foldable integer literals — enforced
  * here with a clear error instead of a ClassCastException inside
  * planning. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(fn: String, which: String, e: Expression): Int = e match {
    case lit: Literal if lit.dataType == IntegerType && lit.value != null =>
      lit.value.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn: $which must be an integer literal, got $other")
  }

  private def strArg(fn: String, which: String, e: Expression): String = e match {
    case lit: Literal if lit.dataType == StringType && lit.value != null =>
      lit.value.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $which must be a string literal, got $other")
  }

  /** Fraction arguments arrive as whatever literal the SQL text parses
    * to — `0.25` is DECIMAL under ANSI, `0.25D` is DOUBLE — so accept
    * both rather than forcing callers to remember the suffix. */
  private def doubleArg(fn: String, which: String, e: Expression): Double = e match {
    case lit: Literal if lit.value != null => lit.dataType match {
      case DoubleType => lit.value.asInstanceOf[Double]
      case _: DecimalType => lit.value.asInstanceOf[Decimal].toDouble
      case IntegerType => lit.value.asInstanceOf[Int].toDouble
      case _ => throw new IllegalArgumentException(
        s"$fn: $which must be a numeric literal, got $lit")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: $which must be a numeric literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Map-side combine under an explicit repartition. Spark runs the
    // post-planner hook only inside adaptive execution (before its
    // EnsureRequirements); without AQE the same rule runs as a
    // pre-columnar rule, after EnsureRequirements, which adds nothing to
    // the matched shape. Under AQE that second hook sees only query
    // stages, never a bare exchange, so it matches nothing there.
    ext.injectQueryPostPlannerStrategyRule(_ => PartialAggregateBeforeRepartition)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = PartialAggregateBeforeRepartition
    })
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(hashes, k) - k-slot MinHash signature of an array<bigint>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_signature(hashes, k)")
        MinHashSignature(args.head, intArg("minhash_signature", "k", args(1)))
      }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(hashes) - 64-bit SimHash of an array<bigint>"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(hashes)")
        SimHash64(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("ngram_xxhash64"),
      info("ngram_xxhash64", "ngram_xxhash64(tokens, n) - chained xxhash64 per word n-gram"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "ngram_xxhash64(tokens, n)")
        NgramXxHash64(args.head, intArg("ngram_xxhash64", "n", args(1)))
      }))
    ext.injectFunction((FunctionIdentifier("srp_signatures"),
      info("srp_signatures", "srp_signatures(emb, tables, bits, dim) - packed sign-random-projection signatures"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "srp_signatures(emb, tables, bits, dim)")
        SrpSignatures(args.head,
          intArg("srp_signatures", "tables", args(1)),
          intArg("srp_signatures", "bits", args(2)),
          intArg("srp_signatures", "dim", args(3)))
      }))
    ext.injectFunction((FunctionIdentifier("vector_dot"),
      info("vector_dot", "vector_dot(a, b) - dot product of two array<double>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vector_dot(a, b)")
        VectorDot(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("bottomk_ngram_md5"),
      info("bottomk_ngram_md5", "bottomk_ngram_md5(tokens, n, k) - bottom-k md5 n-gram fingerprint struct"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "bottomk_ngram_md5(tokens, n, k)")
        BottomKNgramMd5(args.head,
          intArg("bottomk_ngram_md5", "n", args(1)),
          intArg("bottomk_ngram_md5", "k", args(2)))
      }))
    ext.injectFunction((FunctionIdentifier("repetition_stats"),
      info("repetition_stats", "repetition_stats(tokens) - per-doc repetition signal struct"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "repetition_stats(tokens)")
        RepetitionStats(args.head)
      }))
    ext.injectFunction((FunctionIdentifier("deflate_stats"),
      info("deflate_stats", "deflate_stats(text) - struct<n_bytes, n_deflate> DEFLATE compressibility signal"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "deflate_stats(text)")
        DeflateStats(args.head)
      }))
    // ---- operator-level TABLE functions ------------------------------
    // The flagship curation operators as SQL table-valued functions, so
    // a spark-sql-only consumer can run the curation path — not just the
    // scalar primitives above. Each builder instantiates the SAME
    // DataFrame pipeline the Column-API catalog entry uses (no SQL
    // re-implementation to drift out of sync) and returns its raw
    // logical plan; the outer analysis resolves it in place, so every
    // scale property (broadcast thresholds, map-side combines, the
    // bucketed percentile rank) carries over verbatim. View-name
    // arguments resolve against the session catalog at analysis time.

    ext.injectTableFunction((FunctionIdentifier("graft_dedup_keep"),
      info("graft_dedup_keep",
        "graft_dedup_keep(view) - exact-dedup keep list over a documents view: lowest doc_id per normalized SHA-256 content hash, with copy counts"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_dedup_keep(view)")
        val t = SparkSession.active.table(strArg("graft_dedup_keep", "view", args.head))
        Dedup.exactKeepList(t).queryExecution.logical: LogicalPlan
      }))
    ext.injectTableFunction((FunctionIdentifier("graft_quantile_gate"),
      info("graft_quantile_gate",
        "graft_quantile_gate(view, groupCol, measureExpr, p) - rows of `view` whose measure clears their own group's exact p-quantile (scale-safe bucketed rank, broadcast thresholds)"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_quantile_gate(view, groupCol, measureExpr, p)")
        val t = SparkSession.active.table(strArg("graft_quantile_gate", "view", args.head))
        val grp = strArg("graft_quantile_gate", "groupCol", args(1))
        val x = strArg("graft_quantile_gate", "measureExpr", args(2))
        val p = doubleArg("graft_quantile_gate", "p", args(3))
        // `x`/`thr` are the gate's internal working columns (the
        // quantileFilter input contract) — dropped so the function
        // returns exactly the view's own columns, gated
        Curation.quantileFilter(t.withColumn("x", expr(x).cast("double")), grp, p)
          .drop("x", "thr").queryExecution.logical: LogicalPlan
      }))
    ext.injectTableFunction((FunctionIdentifier("graft_histogram_drift"),
      info("graft_histogram_drift",
        "graft_histogram_drift(view, groupExpr, cohortExpr, measureExpr, bins) - per-group scaled-L1 drift between cohort 0/1 equi-width histograms over shared global bounds (integer-exact)"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "graft_histogram_drift(view, groupExpr, cohortExpr, measureExpr, bins)")
        val t = SparkSession.active.table(strArg("graft_histogram_drift", "view", args.head))
        Profiling.histogramDrift(t,
          expr(strArg("graft_histogram_drift", "groupExpr", args(1))),
          expr(strArg("graft_histogram_drift", "cohortExpr", args(2))),
          expr(strArg("graft_histogram_drift", "measureExpr", args(3))),
          intArg("graft_histogram_drift", "bins", args(4)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_search"),
      info("graft_search",
        "graft_search(docsView, embView, termsCsv, queryId, nCand, k) - hybrid " +
          "keyword+vector retrieval: top-nCand keyword candidates (summed tf) " +
          "and top-nCand exact-cosine candidates fused by reciprocal rank " +
          "fusion 1/(60+rank), top-k overall"),
      (args: Seq[Expression]) => {
        require(args.length == 6,
          "graft_search(docsView, embView, termsCsv, queryId, nCand, k)")
        val docs = SparkSession.active.table(strArg("graft_search", "docsView", args.head))
        val emb = SparkSession.active.table(strArg("graft_search", "embView", args(1)))
        // normalize to the tokenizer's domain (lowercase) and de-dup:
        // 'Data,Model' would otherwise silently match nothing (tokens
        // are lowercased), and a duplicate term would surface as a raw
        // require() from inside SQL resolution instead of a clear error
        val terms = strArg("graft_search", "termsCsv", args(2))
          .split(',').toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
        if (terms.isEmpty) throw new IllegalArgumentException(
          "graft_search: termsCsv must contain at least one non-empty term")
        Retrieval.hybridRrf(docs, emb, terms,
          queryId = intArg("graft_search", "queryId", args(3)).toLong,
          nCand = intArg("graft_search", "nCand", args(4)),
          k = intArg("graft_search", "k", args(5)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_segment_dedup"),
      info("graft_segment_dedup",
        "graft_segment_dedup(view, w) - C4-style segment dedup with " +
          "reassembly over a documents view: only the first corpus-wide " +
          "occurrence of each w-token segment survives; per doc " +
          "(doc_id, n_segments, n_kept, text_kept)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_segment_dedup(view, w)")
        val t = SparkSession.active.table(
          strArg("graft_segment_dedup", "view", args.head))
        graft.operators.Dedup.segmentDedup(t,
          w = intArg("graft_segment_dedup", "w", args(1)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_bm25"),
      info("graft_bm25",
        "graft_bm25(docsView, termsCsv, k) - BM25-ranked disjunctive " +
          "keyword search over a documents view (Lucene idf, k1=1.2, " +
          "b=0.75): top-k (doc_id, n_terms, score, tf_sum, dl), ties to smallest " +
          "doc_id; the q108 plan with document length riding through " +
          "the explode"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_bm25(docsView, termsCsv, k)")
        val docs = SparkSession.active.table(
          strArg("graft_bm25", "docsView", args.head))
        // same normalization as graft_search: lowercase to the
        // tokenizer's domain, drop empties, de-dup
        val terms = strArg("graft_bm25", "termsCsv", args(1))
          .split(',').toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
        if (terms.isEmpty) throw new IllegalArgumentException(
          "graft_bm25: termsCsv must contain at least one non-empty term")
        graft.operators.TextIndex.bm25Search(docs, terms,
          k = intArg("graft_bm25", "k", args(2)), k1 = 1.2, b = 0.75)
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_bm25_indexed"),
      info("graft_bm25_indexed",
        "graft_bm25_indexed(dataDir, termsCsv, k) - graft_bm25 served " +
          "from the persisted term-bucketed index of dataDir's " +
          "documents table (built once, content-keyed, committed by " +
          "atomic rename; later calls reuse it): top-k (doc_id, " +
          "n_terms, score, tf_sum, dl) at index cost — the query plan never " +
          "tokenizes or reads the documents table. Interactive " +
          "retrieval's SQL front door"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_bm25_indexed(dataDir, termsCsv, k)")
        val dir = strArg("graft_bm25_indexed", "dataDir", args.head)
        val terms = strArg("graft_bm25_indexed", "termsCsv", args(1))
          .split(',').toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
        if (terms.isEmpty) throw new IllegalArgumentException(
          "graft_bm25_indexed: termsCsv must contain at least one non-empty term")
        graft.operators.TextIndex.bm25SearchIndexed(SparkSession.active, dir,
          terms, k = intArg("graft_bm25_indexed", "k", args(2)),
          k1 = 1.2, b = 0.75)
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_edit_join"),
      info("graft_edit_join",
        "graft_edit_join(view, k) - edit-distance similarity self-join " +
          "over a (id, name) view: all pairs within Levenshtein k " +
          "(k in {1,2}) via symmetric-deletion candidates — an " +
          "equi-join on shared deletion variants, never an all-pairs " +
          "product; (id_a, id_b, name_a, name_b, dist)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_edit_join(view, k)")
        val t = SparkSession.active.table(
          strArg("graft_edit_join", "view", args.head))
        graft.operators.Fuzzy.editJoin(t,
          k = intArg("graft_edit_join", "k", args(1)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_scd2"),
      info("graft_scd2",
        "graft_scd2(view, keyCol, tsCol, tiebreakCol, stateCol) - " +
          "type-2 SCD build from a change-log view: consecutive " +
          "same-state runs collapse to version rows with validity " +
          "intervals; (key, version, state, valid_from, valid_to, " +
          "is_current); per-entity windows only"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "graft_scd2(view, keyCol, tsCol, tiebreakCol, stateCol)")
        val t = SparkSession.active.table(strArg("graft_scd2", "view", args.head))
        graft.operators.SnapshotDiff.scd2(t,
          key = strArg("graft_scd2", "keyCol", args(1)),
          ts = strArg("graft_scd2", "tsCol", args(2)),
          tiebreak = strArg("graft_scd2", "tiebreakCol", args(3)),
          state = strArg("graft_scd2", "stateCol", args(4)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_lm_bigram"),
      info("graft_lm_bigram",
        "graft_lm_bigram(corpusView, refView, floor) - bigram-LM " +
          "fluency profile of a documents view against Stupid-Backoff-" +
          "structured models trained on a reference view (the q106 " +
          "shape): per doc (n_bigrams, floored-bigram-model hits and " +
          "their summed counts, misses backing off to unigram " +
          "continuation mass with that mass, continuation-OOV misses); " +
          "integer-exact columns"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_lm_bigram(corpusView, refView, floor)")
        val corpus = SparkSession.active.table(
          strArg("graft_lm_bigram", "corpusView", args.head))
        val ref = SparkSession.active.table(
          strArg("graft_lm_bigram", "refView", args(1)))
        val floor = intArg("graft_lm_bigram", "floor", args(2))
        require(floor >= 1, s"graft_lm_bigram: floor must be >= 1, got $floor")
        Vocab.bigramBackoffScore(corpus,
          Vocab.bigramModel(ref, floor.toLong), Vocab.unigramModel(ref))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_bpe_encode"),
      info("graft_bpe_encode",
        "graft_bpe_encode(view, merges) - subword-id encoding of a " +
          "documents view under BPE merges learned on that view " +
          "(Sennrich et al. 2016): (doc_id, n_words, n_subwords, ids) " +
          "with ids the space-joined dense subword ids. Learning runs " +
          "at resolution time via the O(1)-job driver path " +
          "(Bpe.learnCollected) and is MEMOIZED per (view plan, " +
          "merges) for the session, so repeated SQL calls — or the " +
          "analyzer resolving the same query twice (EXPLAIN, then " +
          "run) — pay the training once; the memo holds only the " +
          "Heaps'-bounded word table, no cached corpus frames"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_bpe_encode(view, merges)")
        val t = SparkSession.active.table(
          strArg("graft_bpe_encode", "view", args.head))
        val m = intArg("graft_bpe_encode", "merges", args(1))
        require(m > 0, s"graft_bpe_encode: merges must be positive, got $m")
        val (_, words) = graft.operators.Bpe.learnMemo(t, merges = m)
        graft.operators.Bpe.encode(t,
          words.select("word", "syms"),
          graft.operators.Bpe.subwordIds(
            graft.operators.Bpe.subwordVocab(words)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_containment"),
      info("graft_containment",
        "graft_containment(view, n, tau) - asymmetric containment pairs " +
          "over a documents view: (inner_doc, outer_doc, containment) " +
          "where |grams(inner) ∩ grams(outer)| / |grams(inner)| >= tau, " +
          "via the lossless one-sided prefix filter"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_containment(view, n, tau)")
        val t = SparkSession.active.table(
          strArg("graft_containment", "view", args.head))
        graft.operators.Dedup.containmentJoinMemo(t,
          n = intArg("graft_containment", "n", args(1)),
          tau = doubleArg("graft_containment", "tau", args(2)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_auc"),
      info("graft_auc",
        "graft_auc(scoredView, scoreCol, labelCol) - exact tie-aware " +
          "ROC AUC + decile reliability bins over a scored view (the " +
          "q133 shape): one row per touched bin carrying the global " +
          "integer AUC ratio; global ranks are never computed (score-" +
          "keyed aggregate + bucket-decomposed prefix scan)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_auc(scoredView, scoreCol, labelCol)")
        val t = SparkSession.active.table(
          strArg("graft_auc", "scoredView", args.head))
        graft.operators.Eval.aucReliability(t,
          score = strArg("graft_auc", "scoreCol", args(1)),
          label = strArg("graft_auc", "labelCol", args(2)))
          .queryExecution.logical: LogicalPlan
      }))

    ext.injectTableFunction((FunctionIdentifier("graft_dsir"),
      info("graft_dsir",
        "graft_dsir(docsView, targetLang, k) - importance-resampling " +
          "selection (the q134 DSIR shape) over a (doc_id, lang, text) " +
          "view: hashed unigram+bigram LMs fit on the lang-slice vs " +
          "the rest, top-k raw docs by log-likelihood-ratio weight; " +
          "(doc_id, w_u) with the weight in micro-units. The lambda " +
          "fit (one bounded 4,096-row aggregate) runs at resolution " +
          "time, like the index-building TVFs"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_dsir(docsView, targetLang, k)")
        val spark = SparkSession.active
        val t = spark.table(strArg("graft_dsir", "docsView", args.head))
        val lang = strArg("graft_dsir", "targetLang", args(1))
        val gb = graft.operators.Dsir.gramBuckets(t,
          org.apache.spark.sql.functions.col("lang") === lang)
        val w = graft.operators.Dsir.docWeights(gb,
          graft.operators.Dsir.bucketLogRatios(spark, gb))
        graft.operators.Dsir.selectTopK(
          w.withColumn("w_u", org.apache.spark.sql.functions.floor(
            w("w").cast("decimal(22,15)") *
              org.apache.spark.sql.functions.lit(1000000)).cast("long")),
          k = intArg("graft_dsir", "k", args(2)))
          .queryExecution.logical: LogicalPlan
      }))

    // aggregate function: the analyzer wraps a bare AggregateFunction in
    // an AggregateExpression itself, same as built-in registry entries
    ext.injectFunction((FunctionIdentifier("frequent_items"),
      info("frequent_items", "frequent_items(item, k) - Misra-Gries top items as array<struct<item,count>>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "frequent_items(item, k)")
        FrequentItemsSketch(args.head, intArg("frequent_items", "k", args(1)))
      }))

    ext.injectFunction((FunctionIdentifier("moment_sketch"),
      info("moment_sketch",
        "moment_sketch(vec, d) - exact decimal first/second-moment row " +
          "of a d-wide vector column as array<decimal(38,15)>: " +
          "[count, sums, upper-triangle second moments] - order-free " +
          "and bit-deterministic at any partition count"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "moment_sketch(vec, d)")
        graft.functions.MomentSketch(args.head,
          intArg("moment_sketch", "d", args(1)))
      }))
  }
}
