package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — TF-IDF statistics and BM25 top-k
  * (Robertson & Zaragoza 2009, the Okapi BM25 formulation with the
  * Lucene-style non-negative idf). Training-data pipelines use this for
  * quality-by-retrievability scoring, nearest-document audits of benchmark
  * contamination, and as the lexical leg of hybrid (BM25 + embedding)
  * dedup candidates next to [[Similarity.bruteForceTopK]].
  *
  * Scale shape (100 TB): the posting table (doc, term, tf) is ONE groupBy
  * over exploded tokens (map-side combine collapses repeats before the
  * shuffle). Document frequencies reduce the posting table per term.
  * Scoring never shuffles the corpus: query terms are a small set, so
  * (query, term, df) is assembled query-side and BROADCAST against the
  * posting table — candidates are exactly the postings of query terms, the
  * inverted-index access pattern re-expressed as one broadcast equi-join.
  * Corpus-level scalars (N, avgdl) ride a one-row broadcast
  * ([[LanguageModel.scoreDocuments]]'s discipline), and the per-query
  * top-k runs the [[Sampling.groupCap]] two-phase funnel so a query hitting
  * a stop-word's posting list never sorts it in one task.
  *
  * Determinism contract (oracle parity): each (query, term, doc)
  * contribution is quantized to integer MICRO-UNITS (round(idf·tfn·10⁶))
  * BEFORE the per-(query, doc) sum — exact integer addition in any order,
  * any engine. idf and the tf normalization are single double expressions
  * with a fixed operation order, identical in SQL.
  */
object Retrieval {

  /** Posting-list statistics: one row per (doc_id, term) with the term
    * frequency and the document's token length. The persistence unit of a
    * lexical index (write once, score many query batches). */
  def docTermStats(corpus: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    // dlen via the native byte-scan counter + codegen'd exploded tokens
    // (the array-materializing shape ran ArrayFilter interpreted under
    // the corpus-wide explode)
    TextAnalysis.explodeTokens(corpus, col(textCol), "term",
        Seq(col(idCol).as("doc_id"),
          TextAnalysis.tokenCount(col(textCol)).cast("int").as("dlen")))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dlen")).as("dlen"))

  /** BM25 top-k documents per query. `queries` is a small (query_id, text)
    * set; its DISTINCT terms retrieve. Output one row per retained
    * (query_id, rank, doc_id, n_terms, score_micro), rank by
    * (score desc, doc_id) — ties fully deterministic. Documents sharing no
    * term with the query never appear (score zero).
    *
    * `subPartitions` > 1 enables the exact two-phase top-k funnel (phase 1
    * ranks within (query, doc-hash sub-partition) — a global top-k row is
    * top-k in its sub-partition, so the cut is lossless). */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75, subPartitions: Int = 1,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "text"): DataFrame =
    rankTopK(bm25Scored(corpus, queries, k1, b, idCol, textCol,
      queryIdCol, queryTextCol), k, subPartitions)

  /** Every (query, doc) BM25 score — [[bm25TopK]] before its rank cut:
    * (query_id, doc_id, n_terms, score_micro), zero-overlap pairs absent. */
  def bm25Scored(corpus: DataFrame, queries: DataFrame,
                 k1: Double = 1.2, b: Double = 0.75,
                 idCol: String = "doc_id", textCol: String = "text",
                 queryIdCol: String = "query_id",
                 queryTextCol: String = "text"): DataFrame = {
    val dt = docTermStats(corpus, idCol, textCol)
    val stats = corpus
      .select(TextAnalysis.tokenCount(col(textCol)).cast("long").as("__dlen"))
      .agg(count(lit(1)).as("__nd"), sum(col("__dlen")).as("__tok_total"))
    val qt = queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col(queryTextCol))))
          .as("term"))
    // postings of query terms only — df over this subset equals df over
    // the full table (the semi-join keeps every posting of a kept term),
    // and the vocabulary-wide aggregation never runs. Checkpointed: it
    // feeds both the df aggregation and the scoring join
    val dtq = dt.join(broadcast(qt.select(col("term")).distinct()),
        Seq("term"), "left_semi")
      .localCheckpoint(true)
    val dfreq = dtq.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // (query_id, term, df): query-sized — the broadcast side of the one
    // corpus-touching join below
    val qterms = qt.join(dfreq, Seq("term"))
    val avgdl: Column = col("__tok_total").cast("double") /
      col("__nd").cast("double")
    val idf: Column = log(
      ((col("__nd") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfn: Column = (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * (col("dlen").cast("double") / avgdl)))
    val contrib = dtq.join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * tfn * lit(1e6)).cast("long").as("__c"))
    contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__c")).as("score_micro"))
  }

  /** The per-query top-k cut over a [[bm25Scored]]-shaped frame (score
    * desc, doc_id asc — fully deterministic), with the exact two-phase
    * funnel at `subPartitions` > 1. */
  private def rankTopK(scored: DataFrame, k: Int,
                       subPartitions: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    require(subPartitions >= 1, s"subPartitions=$subPartitions")
    val funneled =
      if (subPartitions == 1) scored
      else {
        val w1 = Window
          .partitionBy(col("query_id"),
            pmod(xxhash64(col("doc_id")), lit(subPartitions.toLong)))
          .orderBy(col("score_micro").desc, col("doc_id").asc)
        scored.withColumn("__r1", row_number().over(w1))
          .filter(col("__r1") <= k).drop("__r1")
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    funneled.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms"),
        col("score_micro"))
  }

  /** Hard-negative mining for dense-retriever training (Karpukhin et al.
    * 2020, DPR §4.2: the strongest negatives are the top BM25 documents
    * that are NOT labeled relevant — lexically close, semantically
    * wrong): per query, the top-k [[bm25Scored]] documents after an
    * anti-join against the (query_id, doc_id) `positives` pairs. The
    * anti-join runs BEFORE the rank cut, so every query yields k true
    * negatives even when its positives dominate the score order (a
    * filter-after-top-k would come up short exactly for the queries
    * with the best positives).
    *
    * Scale shape: [[bm25TopK]]'s joins unchanged; the positives frame is
    * keyed (query_id, doc_id) like the scored frame — one extra
    * hash-anti-join at query-set scale. Output contract identical to
    * [[bm25TopK]]. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    positives: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75,
                    subPartitions: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id",
                    queryTextCol: String = "text"): DataFrame = {
    val scored = bm25Scored(corpus, queries, k1, b, idCol, textCol,
      queryIdCol, queryTextCol)
    val pos = positives.select(col(queryIdCol).as("query_id"),
      col(idCol).as("doc_id"))
    rankTopK(scored.join(pos, Seq("query_id", "doc_id"), "left_anti"),
      k, subPartitions)
  }

  /** Per-document TF-IDF keyword extraction: the top-k most
    * distinguishing terms of every document — the summarization /
    * topic-tagging / index-pruning primitive (keep only each document's
    * top terms in a lexical index and the posting table shrinks by the
    * stop-word mass).
    *
    * idf = ln((N+1)/(df+1)), quantized ONCE per term to integer
    * micro-nats on the vocabulary-sized (term, df) frame (the
    * [[Dsir]] discipline — the only cross-engine float op runs at
    * vocabulary scale, never per posting); a term's score is then the
    * exact integer tf · idf_micro. Rank ties break by term.
    *
    * Scale shape: one posting aggregation (map-side combined), one
    * term-keyed df reduction of it, a one-row N broadcast, and a term-keyed
    * join back. The per-doc top-k window partitions by doc_id — bounded by
    * a document's DISTINCT TERM COUNT (≤ its token count), so there is no
    * hot-partition funnel to cut, unlike the per-query/per-group rank paths. */
  def tfidfKeywords(corpus: DataFrame, k: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k=$k")
    val dt = docTermStats(corpus, idCol, textCol)
      .select(col("doc_id"), col("term"), col("tf"))
    val nd = corpus.agg(count(lit(1)).as("__nd"))
    val idfMicro = floor(log(
      (col("__nd") + 1).cast("double") / (col("df") + 1).cast("double"))
      * 1e6).cast("long")
    val idf = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("term"), idfMicro.as("__idf"))
    val scored = dt.join(idf, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf") * col("__idf")).as("score_micro"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("score_micro"))
  }
}
