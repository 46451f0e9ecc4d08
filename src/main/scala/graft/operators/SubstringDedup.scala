package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring-level deduplication: find every token-position range
  * whose k-gram occurs more than once ANYWHERE in the corpus (including
  * elsewhere in the same document) and merge the overlapping hits into
  * maximal duplicated spans per document — the "ExactSubstr" dedup of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better"), which removes repeated PASSAGES that document-level dedup
  * (hash / MinHash over whole documents) cannot see: boilerplate headers,
  * quoted replies, licence blocks shared across otherwise-distinct pages.
  *
  * The paper builds a corpus-wide suffix array; a suffix array is a
  * single global ordered structure and the wrong shape for a shuffle-based
  * engine. The k-gram formulation below is the standard distributed
  * equivalent for a FIXED minimum match length k: a position is inside a
  * duplicated span of length ≥ k iff some k-gram covering it occurs twice,
  * and merging the duplicated k-gram start positions reconstructs exactly
  * the maximal duplicated regions at k-token resolution.
  *
  * Scale shape (100 TB):
  *  - occurrence generation is a narrow projection off the scan (tokens
  *    materialized once per document, k-grams hashed to 64 bits so the
  *    shuffle carries (doc_id, pos, int64), never gram text);
  *  - the duplicated-gram set comes from ONE count aggregation keyed on
  *    the gram hash (map-side partial aggregation absorbs within-partition
  *    repeats — boilerplate grams are exactly the ones that collapse);
  *  - the join back is an equi-join on the same hash key, so AQE can ride
  *    the existing shuffle; nothing is quadratic and nothing broadcasts
  *    corpus-sized state;
  *  - span merging is one doc_id-keyed window — rows per document are
  *    bounded by its duplicated-gram count, not the corpus.
  *
  * Documents shorter than k tokens emit no grams and are never flagged —
  * the standard minimum-match-length floor (document-level dedup catches
  * short exact duplicates).
  */
object SubstringDedup {

  /** All k-gram occurrences as (doc_id, pos, gram hash) — every start
    * position, repeats included (unlike [[Dedup.shinglePostings]], which
    * dedups per document: substring detection needs within-document
    * repeats to count toward the occurrence threshold). */
  def kgramOccurrences(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", k: Int = 5): DataFrame = {
    require(k >= 1, s"k=$k: the minimum match length is 1 token")
    // native all-windows scan: windows come out in start order, so
    // posexplode's ordinal IS the 0-based token start position — the
    // same (pos, gram-hash) rows the old HOF transform built interpreted
    // (ArrayFilter + ArrayTransform + per-gram slice) per document
    docs
      .select(col(idCol).as("doc_id"), posexplode(
        graft.functions.WordShingles.allShingles(col(textCol), k)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("gram"))
  }

  /** Maximal duplicated token spans per document: (doc_id, span_start,
    * span_end) in token coordinates, end-exclusive, overlapping and
    * touching hits merged. A span means every k-gram window starting in
    * [span_start, span_end - k] occurs at least `minCount` times corpus-
    * wide. Only documents containing duplicated material are returned. */
  def duplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 5,
                      minCount: Int = 2): DataFrame = {
    require(minCount >= 2, s"minCount=$minCount: below 2 every gram matches")
    // occurrences feed BOTH the duplicated-gram aggregation and the join
    // back — checkpointed so tokenize/shingle/hash runs once
    val occ = kgramOccurrences(docs, idCol, textCol, k).localCheckpoint(true)
    // grams hit by the occurrence threshold; count(*) not count(distinct
    // doc): a passage pasted twice into ONE document is duplicated text
    val dup = occ.groupBy(col("gram"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("gram"))
    mergeStartPositions(occ.join(dup, Seq("gram")), k)
  }

  /** Classic interval merge over duplicated k-gram START positions: each
    * hit covers [pos, pos + k); a hit opens a new span iff it starts past
    * the running max end of every earlier hit in its document. `hits` is
    * any (doc_id, pos) frame (extra columns ignored; duplicate positions
    * harmless). One doc_id-keyed window — rows per document bounded by
    * its hit count. Shared by the k-gram path above and the suffix-array
    * path ([[SuffixArray.duplicatedSpans]]), which must produce identical
    * spans from identical position sets. */
  private[operators] def mergeStartPositions(hits: DataFrame,
                                             k: Int): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runningEnd = max(col("span_end"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .select(col("doc_id"), col("pos"), (col("pos") + k).as("span_end"))
      .withColumn("__new", when(col("pos") > coalesce(runningEnd, lit(-1)), 1)
        .otherwise(0))
      .withColumn("__grp", sum(col("__new"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"), max(col("span_end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** The scrubbed corpus: every document with its duplicated spans removed
    * (tokens outside the spans rejoined with single spaces — token-level
    * scrubbing normalizes whitespace, like every tokenized rewrite here).
    * `spans` is [[duplicatedSpans]] output or any (doc_id, span_start,
    * span_end) frame with non-overlapping spans per document.
    *
    * Scale shape: spans collapse to one array per flagged document (small:
    * merged spans are non-overlapping, so a document carries at most
    * len/k of them), the corpus equi-joins on doc_id, and untouched
    * documents (the left-join majority) pass through — no non-equi join
    * anywhere. The per-row scrub is the native codegen'd
    * [[graft.functions.SpanScrub]] single pass: the nested
    * filter/exists HOF shape it replaced was CodegenFallback —
    * interpreted per token per document — and its interpreter traffic
    * demonstrably poisoned JIT profiles for the REST of a shared
    * session (see SpanScrub's doc; a bench family running this query
    * left the flagship coding query 3× slower for the JVM's life). */
  def scrubSpans(docs: DataFrame, spans: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spanLists = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").cast("int").as("s"),
        col("span_end").cast("int").as("e"))).as("__spans"))
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spanLists, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.SpanScrub.scrub(col("__text"),
          coalesce(col("__spans"),
            array().cast("array<struct<s:int,e:int>>")))
          .as("text_dedup"))
  }
}
