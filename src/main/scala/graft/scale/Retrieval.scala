package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Sparse lexical retrieval over the corpus — BM25 ranking on an inverted
  * index. The training-data use case is retrieval-BASED curation: given a
  * set of probe queries (eval-set passages, quality exemplars, contamination
  * suspects), rank the corpus documents that match and feed the top-k to a
  * verifier (n-gram overlap, an LLM judge, a human) — the fuzzy complement
  * to [[Decontam]]'s exact n-gram membership tests.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - the INDEX is the corpus-sized object: postings (token, doc_id, tf)
  *    from one explode + one hash-agg shuffle, volume bounded by distinct
  *    (doc, token) pairs — the [[TextOps.tokenFrequency]] shape. Build it
  *    once per corpus snapshot and persist it partitioned by token (the
  *    same amortization contract as [[NearDup.buildMinHashIndex]]).
  *  - the QUERY side is small by construction (probe sets are thousands,
  *    not billions) and rides broadcast joins: the only corpus-sized work
  *    per probe batch is ONE pass of the postings against the broadcast
  *    query-term set — matched postings, document frequencies, and scores
  *    are all candidate-sized from there on. No exchange ever carries a
  *    row of the index that the broadcast join hasn't first reduced to a
  *    candidate.
  *  - scoring is plain column arithmetic (codegen'd); ranking is one
  *    window over (query, candidate) rows, partition count = |queries|.
  *    Every probe form ranks through one private scorer, so they differ
  *    only in where candidates and corpus statistics come from.
  *
  * Corpus statistics: N is the number of documents with at least one
  * posting (a null text has no tokens, so it is neither indexed nor
  * counted; any non-null text has at least one), avgdl their mean length.
  */
object Retrieval {

  /** BM25 top-k: for each probe query (rows of (qIdCol, termCol), one row
    * per query term), the `k` best-scoring documents under
    * `score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with the Robertson/Lucene idf `ln(1 + (N − df + ½)/(df + ½))` and the
    * fixed Lucene constants k1 = 1.2, b = 0.75.
    *
    * Scores are rounded to 4 decimals BEFORE ranking so the ordering (and
    * any cross-engine comparison) never hinges on last-ulp float noise;
    * rank ties break by doc_id. Duplicate query terms are collapsed —
    * each distinct term contributes once.
    *
    * `maxDfFrac` is the candidate-volume dial (the analogue of the LSH
    * band and df-capped fingerprint dials): query terms whose document
    * frequency exceeds `maxDfFrac·N` are DROPPED before scoring — their
    * idf is near zero, so they change rankings marginally while matching
    * nearly every document (on a small-vocabulary corpus an uncapped
    * common term degenerates the candidate set to all-pairs). 1.0 (the
    * default) keeps every term. Lucene-family engines prune the same way
    * (stop lists / WAND). A query whose every term is capped returns no
    * rows for that q_id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qIdCol: String, termCol: String,
               k: Int = 10, maxDfFrac: Double = 1.0): DataFrame = {
    // the ONE corpus-sized postings pass is the index build, with dl
    // DENORMALIZED onto the row (r13: dl riding the candidate row replaced
    // a corpus-sized dl⋈candidates scoring join, the corpus's THIRD full
    // tokenization). Corpus stats come from one map-only
    // tokenize-and-count pass into a 1-row broadcast dimension, never an
    // explode. (Deriving them from the index subtree instead was measured
    // and rejected: column pruning cannot remove `token` from the build's
    // grouping keys, so the stats pass re-ran the whole
    // explode+shuffle+agg where a map-only size(tokens) projection
    // suffices.) Null texts are filtered so N matches the index's.
    val units = docs.filter(col(textCol).isNotNull)
      .select(size(TextOps.tokens(col(textCol))).cast(DoubleType).as("dl"))
    scoreTopK(buildBm25Index(docs, idCol, textCol), units, queries,
      qIdCol, termCol, "doc_id", k, maxDfFrac)
  }

  private val K1 = 1.2
  private val B = 0.75

  /** The BM25 scoring chain shared by [[bm25TopK]], [[bm25TopKIndexed]],
    * `StreamingRetrieval.bm25TopKLive` and `StreamingChunkIndex.chunkHitsLive`;
    * each caller supplies only its candidate source and corpus stats.
    *
    * `postings` has (token, `unit`, dl, tf) rows; `live` keeps the live
    * ones among the token-reduced candidates (identity for a static
    * corpus); `units` holds one `dl` row per scored unit, giving N and
    * avgdl. Output: (q_id, `unit`, score, rank), top `k` per query.
    *
    * Plan shape: ONE pass of the postings against the broadcast distinct
    * query-TOKEN set (not the (q_id, token) pairs — the q_id fanout must
    * not multiply rows before df is counted). Everything downstream is
    * candidate-sized and the plan stays LINEAR: df is a window count over
    * this same candidate set (no cache, no second aggregate branch, so a
    * re-probe of a grown index always rereads the current segments).
    */
  private[graft] def scoreTopK(postings: DataFrame, units: DataFrame,
                               queries: DataFrame, qIdCol: String, termCol: String,
                               unit: String, k: Int, maxDfFrac: Double,
                               live: DataFrame => DataFrame = identity): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val qterms = queries
      .select(col(qIdCol).as("q_id"), col(termCol).as("token")).distinct()
    val qtokens = qterms.select("token").distinct()
    val cand1 = live(postings.join(broadcast(qtokens), Seq("token")))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
    val stats = units
      .agg(count(lit(1)).cast(DoubleType).as("n_docs"), avg("dl").as("avgdl"))

    // df cap, then the q_id fanout via the broadcast (q_id, token) pairs.
    // NO broadcast hint on the scoring join: candidates are usually small
    // (AQE broadcasts them), but a degenerate corpus — tiny vocabulary,
    // every doc matching every term — can make them table-sized, and a
    // forced broadcast would then bottleneck on the driver (the LangModel
    // advisory lesson).
    val scored = cand1.crossJoin(broadcast(stats))
      .filter(col("df") <= lit(maxDfFrac) * col("n_docs"))
      .join(broadcast(qterms), Seq("token"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("tfn",
        col("tf") * (K1 + 1.0) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy("q_id", unit)
      .agg(round(sum(col("idf") * col("tfn")), 4).as("score"))

    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col(unit))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of per-query
    * rankings from heterogeneous retrievers — the standard way to combine a
    * lexical [[bm25TopK]] list with an embedding [[Similarity]] top-k before
    * a verifier, without comparing incomparable scores: each system
    * contributes `1/(k0 + rank)` per (query, doc) and the fused list ranks
    * by the sum. `k0 = 60` is the paper's constant; larger values flatten
    * the head. Inputs need columns (q_id, doc_id, rank); a doc missing from
    * a system's list simply contributes nothing for it.
    *
    * Scale shape: inputs are top-k lists, so everything here is
    * candidate-sized — one union, one hash-agg on (q_id, doc_id), one rank
    * window partitioned by query. Fused scores are rounded to 6 decimals
    * before ranking (ties break by doc_id) so the ordering is reproducible
    * across engines.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0, s"k must be positive, got $k")
    require(k0 >= 0, s"k0 must be non-negative, got $k0")
    val unioned = rankings.map(_.select("q_id", "doc_id", "rank")).reduce(_ unionByName _)
    val fused = unioned.groupBy("q_id", "doc_id")
      .agg(round(sum(lit(1.0) / (lit(k0) + col("rank"))), 6).as("rrf"))
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persistable postings-index artifact: one row per (doc, token) with the
    * term frequency AND the document length denormalized onto the row —
    * schema (token, doc_id, dl, tf) — so a probe never has to rejoin the
    * corpus. Build once per corpus snapshot (ONE tokenize pass), persist
    * partitioned by token; daily probe batches then pay only the index
    * semi-join — the same build/probe amortization contract as
    * [[NearDup.buildMinHashIndex]]. Unlike MinHash signatures the rows are
    * plain token counts, reproducible by any engine, so the artifact
    * carries no version stamp: it is safe to persist, merge, and reread
    * across library versions.
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = docs.sparkSession.sessionState.conf.numShufflePartitions
    // `dl` is STAGED below the explode: spelling it size(tokens(text))
    // next to explode(tokens(text)) in one select puts the size() in the
    // Project ABOVE the Generate (generator extraction keeps only the
    // generator below), so the full text was re-tokenized once per
    // EXPLODED TOKEN ROW — O(tokens²) per document, and the chunk-postings
    // builds re-joined/re-split every chunk per chunk-token (r14
    // stage profile: the single hottest stage of the bm25/chunk family).
    // With the token array projected first, the text is split once per
    // document below the Generate and dl is size() of that staged array
    // (an array length, wherever the planner places it); value-identical
    // output. PlanShapeSpec pins this shape.
    docs.repartition(n)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).cast(DoubleType).as("dl"),
        explode(col("_toks")).as("token"))
      .groupBy("token", "doc_id", "dl").agg(count(lit(1)).as("tf"))
  }

  /** [[bm25TopK]] against a prebuilt [[buildBm25Index]] artifact — the
    * shape a 100 TB deployment actually runs: the corpus is never
    * re-tokenized; the index is scanned twice (probe semi-join + the
    * column-pruned (doc_id, dl) pass for N/avgdl) and everything shuffled
    * is candidate-sized. Same scorer as [[bm25TopK]], so the two agree at
    * the rounded-score level (RetrievalSpec pins equality on the fixture
    * corpus).
    */
  def bm25TopKIndexed(index: DataFrame, queries: DataFrame,
                      qIdCol: String, termCol: String,
                      k: Int = 10, maxDfFrac: Double = 1.0): DataFrame =
    // N and avgdl from the index itself: dl is functionally dependent on
    // doc_id, and every indexed doc has at least one posting
    scoreTopK(index, index.select("doc_id", "dl").distinct(), queries,
      qIdCol, termCol, "doc_id", k, maxDfFrac)
}
