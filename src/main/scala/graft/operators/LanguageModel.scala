package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring for corpus quality filtering — the
  * distributed core of CCNet-style perplexity filtering (Wenzek et al.
  * 2020: score web text under an LM trained on a trusted corpus, keep the
  * low-perplexity band). Two smoothing tiers share one model frame and
  * one scoring join shape: add-k ([[scoreDocuments]] — the cheap
  * filtering signal) and interpolated MODIFIED KNESER-NEY
  * ([[scoreDocumentsKn]] — the smoothing KenLM actually ships, whose
  * auxiliary statistics are all MODEL-sized aggregations, so "a full KN
  * doesn't fit a shuffle engine" turns out false for the bigram tier).
  *
  * Scale shape (100 TB):
  *  - training is ONE groupBy over the corpus's (context, token)
  *    transitions with map-side partial aggregation (hot n-grams — exactly
  *    the frequent ones — collapse before the shuffle); context totals
  *    derive from the MODEL (model-sized, not corpus-sized);
  *  - scoring shuffles corpus transitions against the model in a single
  *    (context, token) equi-join; the context-total join rides the same
  *    key prefix, and AQE broadcasts the model side when the trusted
  *    corpus is small (the common CCNet shape: Wikipedia-sized model,
  *    web-sized corpus);
  *  - the vocabulary size is a one-row broadcast, never a driver action.
  *
  * Determinism contract (oracle parity): each transition's log-probability
  * is quantized to integer MICRO-NATS (round(ln(p)·10⁶) as int64) before
  * the per-document sum, so aggregation order cannot perturb the result —
  * the sum is exact integer math in any engine. Perplexity follows as
  * exp(-lm_score / 1e6 / n_trans) when a float is wanted downstream.
  */
object LanguageModel {

  /** A model the scorers read several times: a frame the caller already
    * persisted or checkpointed as it is, a derived plan as an eager local
    * checkpoint, so its training explode runs once. */
  private def materialized(model: DataFrame): DataFrame =
    if (model.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        model.queryExecution.logical
          .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]) model
    else model.localCheckpoint(true)

  /** Corpus transitions: one row per n-gram occurrence, context = the
    * n-1 preceding tokens joined by single spaces. Documents shorter than
    * n tokens emit nothing. */
  def transitions(corpus: DataFrame, n: Int = 2, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n=$n: a language model needs at least bigrams")
    // native all-windows n-gram scan, split at the last space: tokens
    // never contain whitespace, so the first n-1 space-separated parts
    // ARE the context and the last part the predicted token — identical
    // (context, token) multiset to the old per-row HOF transform, which
    // ran ArrayFilter/ArrayTransform interpreted under the corpus-wide
    // explode. substring_index is codegen'd.
    corpus
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.WordShingles.allShingles(col(textCol), n))
          .as("__g"))
      .select(col("doc_id"),
        substring_index(col("__g"), " ", n - 1).as("context"),
        substring_index(col("__g"), " ", -1).as("token"))
  }

  /** Train: (context, token, cnt) counts over the corpus's transitions —
    * the whole model. Everything scoring needs (context totals, vocabulary
    * size) derives from this frame, so it is also the natural persistence
    * unit (write it as parquet partitioned-by-nothing; it is tiny next to
    * the corpus that produced it). */
  def ngramCounts(corpus: DataFrame, n: Int = 2, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    transitions(corpus, n, idCol, textCol)
      .groupBy(col("context"), col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** Score documents under a trained model ([[ngramCounts]] output).
    *
    * Per transition: p = (c + k) / (c_ctx + k·V) where c is the model
    * count for (context, token), c_ctx the model's context total, and V
    * the model vocabulary (distinct predicted tokens). Unseen contexts
    * back off to p = 1/V; add-k keeps every probability finite. The
    * per-transition quantized log-prob (micro-nats, see object doc) sums
    * exactly per document.
    *
    * Output, one row per input document (short docs score zero):
    * (doc_id, n_trans, n_hit, lm_score) — transition count, transitions
    * the model has seen (c > 0), and the total micro-nat log-probability
    * (≤ 0; closer to 0 = more predictable text). */
  def scoreDocuments(docs: DataFrame, model: DataFrame, n: Int = 2,
                     addK: Double = 1.0, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(addK > 0, s"addK=$addK: smoothing mass must be positive")
    // the model is read three times (scoring join, context totals,
    // vocabulary) — when it is a DERIVED plan (trained in-session from a
    // corpus), each read re-runs the tokenize/transitions explode, so it
    // is checkpointed first ([[materialized]]). An earlier note measured
    // "no win" from caching, but under the count-pruned bench basis that
    // measurement timed scan-only plans; the honest full-output basis
    // shows the recompute. Callers scoring many batches against one model
    // should still write it once and read it back — a parquet-backed
    // model is the production shape (scan-backed reads give pushdown +
    // accurate stats, and AQE sees real sizes for the broadcast decision).
    val m = materialized(model)
    val ctot = m.groupBy(col("context")).agg(sum(col("cnt")).as("__ctot"))
    val vocab = m.select(col("token")).distinct()
      .agg(count(lit(1)).as("__vocab"))
    val term: Column = round(
      log((coalesce(col("cnt"), lit(0L)) + lit(addK)) /
        (coalesce(col("__ctot"), lit(0L)) + lit(addK) * col("__vocab")))
        * lit(1e6)).cast("long")
    val scored = transitions(docs, n, idCol, textCol)
      .join(m, Seq("context", "token"), "left")
      .join(ctot, Seq("context"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("cnt"), term.as("__term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(col("__term")).as("lm_score"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("lm_score"), lit(0L)).as("lm_score"))
  }

  /** Unigram model: (token, cnt) — the n=1 tier of [[ngramCounts]] (no
    * context column; totals and vocabulary both derive from this frame).
    * The weak-baseline model of choice: domain-reweighting recipes use it
    * as the "no context" proxy against a contextual reference. */
  def unigramCounts(corpus: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    TextAnalysis.explodeTokens(
        corpus.select(col(textCol)), col(textCol), "token", Seq.empty)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** Score documents under a unigram model ([[unigramCounts]] output):
    * p = (c + k) / (T + k·V) per token, micro-nat quantized terms, exact
    * integer per-document sums — the [[scoreDocuments]] contract one tier
    * down. T and V are one-row broadcasts of the MODEL frame (never a
    * corpus action). Output: (doc_id, n_tokens, n_hit, lm_score), one row
    * per input document; empty docs score zero. */
  def scoreDocumentsUnigram(docs: DataFrame, model: DataFrame,
                            addK: Double = 1.0, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(addK > 0, s"addK=$addK: smoothing mass must be positive")
    val m = materialized(model)
    val scal = m.agg(sum(col("cnt")).as("__tot"),
      count(lit(1)).as("__vocab"))
    val term: Column = round(
      log((coalesce(col("cnt"), lit(0L)) + lit(addK)) /
        (col("__tot") + lit(addK) * col("__vocab")))
        * lit(1e6)).cast("long")
    val scored = TextAnalysis.explodeTokens(
        docs.select(col(idCol).as("doc_id"), col(textCol)),
        col(textCol), "token", Seq(col("doc_id")))
      .join(m, Seq("token"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"), col("cnt"), term.as("__term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(col("__term")).as("lm_score"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("lm_score"), lit(0L)).as("lm_score"))
  }

  /** Score documents under interpolated MODIFIED Kneser-Ney smoothing
    * (Chen & Goodman 1999 — the KenLM/CCNet production smoothing), bigram
    * tier. Every auxiliary statistic is an aggregation of the MODEL frame
    * (model-sized or one-row — never another corpus pass):
    *
    *  - per context: total `ctot` and the discount masses n1c/n2c/n3c
    *    (count of continuation types seen exactly once / twice / 3+);
    *  - per token: the continuation count N1+(·,w) (distinct contexts the
    *    token follows) — KN's signature: "York" is frequent but follows
    *    almost nothing, so its continuation probability is tiny;
    *  - scalars: B (distinct bigrams), V (vocabulary), and the
    *    counts-of-counts n1..n4 that estimate the three discounts
    *    D1 = 1 − 2Y·n2/n1, D2 = 2 − 3Y·n3/n2, D3 = 3 − 4Y·n4/n3 with
    *    Y = n1/(n1 + 2n2), each clamped into [0, k] (degenerate
    *    counts-of-counts on tiny corpora can push the raw estimate
    *    outside the valid range; if ANY of n1..n4 is zero all three fall
    *    back to the classic 0.75).
    *
    * Per transition with c = model count (0 when unseen), D(c) the
    * count-matched discount:
    *
    *   p = (c − D(c))⁺/ctot + γ(ctx)·P_cont(w)        seen context
    *   p = P_cont(w)                                   unseen context
    *   γ(ctx)  = (D1·n1c + D2·n2c + D3·n3c)/ctot
    *   P_cont(w) = (N1+(·,w) + 1)/(B + V + 1)
    *
    * P_cont carries add-1 smoothing at the continuation level so OOV
    * tokens get the 1/(B+V+1) floor and every p is strictly positive.
    * Determinism: every input to the float expression is an exact
    * integer count; the expression is a fixed sequence of correctly-
    * rounded IEEE ops mirrored verbatim by the oracle, and the
    * per-transition log quantizes to integer micro-nats before the
    * per-document sum (the object-doc contract).
    *
    * Output: (doc_id, n_trans, n_hit, kn_score) — kn_score in micro-nats,
    * ≤ 0, closer to 0 = more predictable text. */
  def scoreDocumentsKn(docs: DataFrame, model: DataFrame, n: Int = 2,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val m = materialized(model)
    val ctxStats = m.groupBy(col("context")).agg(
      sum(col("cnt")).as("__ctot"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("__n1c"),
      sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("__n2c"),
      sum(when(col("cnt") >= 3, 1L).otherwise(0L)).as("__n3c"))
    // model rows are distinct (context, token), so count(*) per token IS
    // N1+(·,w)
    val contCounts = m.groupBy(col("token"))
      .agg(count(lit(1)).as("__cw"))
    val scalars = {
      val voc = m.select(col("token")).distinct()
        .agg(count(lit(1)).as("__vocab"))
      val cc = m.agg(
        count(lit(1)).as("__bigrams"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("__k1"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("__k2"),
        sum(when(col("cnt") === 3, 1L).otherwise(0L)).as("__k3"),
        sum(when(col("cnt") === 4, 1L).otherwise(0L)).as("__k4"))
      val y = col("__k1").cast("double") /
        (col("__k1") + lit(2L) * col("__k2")).cast("double")
      def clamp(raw: Column, k: Double): Column =
        least(greatest(raw, lit(0.0)), lit(k))
      val healthy = col("__k1") > 0 && col("__k2") > 0 &&
        col("__k3") > 0 && col("__k4") > 0
      cc.crossJoin(voc).select(
        col("__bigrams"), col("__vocab"),
        when(healthy, clamp(lit(1.0) - lit(2.0) * y *
          (col("__k2").cast("double") / col("__k1").cast("double")), 1.0))
          .otherwise(lit(0.75)).as("__d1"),
        when(healthy, clamp(lit(2.0) - lit(3.0) * y *
          (col("__k3").cast("double") / col("__k2").cast("double")), 2.0))
          .otherwise(lit(0.75)).as("__d2"),
        when(healthy, clamp(lit(3.0) - lit(4.0) * y *
          (col("__k4").cast("double") / col("__k3").cast("double")), 3.0))
          .otherwise(lit(0.75)).as("__d3"))
    }
    val c = coalesce(col("cnt"), lit(0L))
    val dsel = when(c === 1, col("__d1")).when(c === 2, col("__d2"))
      .otherwise(col("__d3"))
    val puni = (coalesce(col("__cw"), lit(0L)) + lit(1L)).cast("double") /
      (col("__bigrams") + col("__vocab") + lit(1L)).cast("double")
    val gamma = (col("__d1") * col("__n1c").cast("double") +
      col("__d2") * col("__n2c").cast("double") +
      col("__d3") * col("__n3c").cast("double")) /
      col("__ctot").cast("double")
    // Floor p at 1e-12: on skewed counts-of-counts a discount can clamp
    // to 0.0 and a seen context whose mass is all at that count gets
    // gamma = 0 — an unseen token under it would score p = 0 and its
    // log(0) = -Inf term would corrupt the document sum (ADVICE r12).
    // The floor is one exact max, mirrored in the oracle.
    val p = greatest(when(col("__ctot").isNotNull,
      greatest(c.cast("double") - dsel, lit(0.0)) /
        col("__ctot").cast("double") + gamma * puni)
      .otherwise(puni), lit(1e-12))
    val term = round(log(p) * lit(1e6)).cast("long")
    val scored = transitions(docs, n, idCol, textCol)
      .join(m, Seq("context", "token"), "left")
      .join(ctxStats, Seq("context"), "left")
      .join(contCounts, Seq("token"), "left")
      .crossJoin(broadcast(scalars))
      .select(col("doc_id"), col("cnt"), term.as("__term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(col("__term")).as("kn_score"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("kn_score"), lit(0L)).as("kn_score"))
  }

  /** CCNet's head/middle/tail split: per LANGUAGE, documents are bucketed
    * by perplexity terciles under a reference model — `head` is the most
    * model-like third (kept for training as-is), `tail` the least (dropped
    * or heavily filtered), `middle` in between. Perplexity here is the
    * micro-nat [[scoreDocuments]] score normalized per transition
    * (ppx = −lm_score / n_trans, higher = less predictable), so the split
    * inherits the scoring contract's engine-exactness.
    *
    * Scale shape — the CCNet split WITHOUT a per-language sort: tercile
    * CUTS come from one exact-percentile aggregation over the scored frame
    * (language-keyed, map-side partials), joined back as a language-sized
    * broadcast; the label is then a pure comparison projection. An
    * `ntile(3)` window would need a total sort per language = one task per
    * language holding that language's whole corpus; the threshold join
    * never materializes an ordering. Cut ties (ppx exactly at a boundary)
    * go down-bucket (`<=`), deterministic by construction.
    *
    * Documents with no transitions (shorter than the model order) have no
    * perplexity and are excluded — routing them is a length-filter
    * decision ([[graft.operators.CorpusStats.lengthBandFilter]] territory),
    * not a perplexity one.
    *
    * Output: (doc_id, langCol, ppx, bucket ∈ head|middle|tail). */
  def perplexityBuckets(docs: DataFrame, model: DataFrame, n: Int = 2,
                        addK: Double = 1.0, idCol: String = "doc_id",
                        textCol: String = "text",
                        langCol: String = "lang"): DataFrame = {
    // read twice (tercile cuts + labeling) — checkpointed or the whole
    // scoring join runs double. Narrow (id, lang, ppx), but corpus-sized:
    // callers at the 100 TB tier that cannot afford the local blocks
    // should write it out and bucket it instead.
    val scored = scoreDocuments(docs, model, n, addK, idCol, textCol)
      .filter(col("n_trans") > 0)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol)),
        Seq("doc_id"))
      .select(col("doc_id"), col(langCol),
        (-col("lm_score").cast("double") / col("n_trans").cast("double"))
          .as("ppx"))
      .localCheckpoint(true)
    val cuts = scored.groupBy(col(langCol))
      .agg(percentile(col("ppx"), lit(1.0 / 3)).as("__c1"),
        percentile(col("ppx"), lit(2.0 / 3)).as("__c2"))
    scored.join(cuts, Seq(langCol))
      .select(col("doc_id"), col(langCol), col("ppx"),
        when(col("ppx") <= col("__c1"), lit("head"))
          .when(col("ppx") <= col("__c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** The tercile cuts [[perplexityBuckets]] fits internally, as a
    * persistable (langCol, c1, c2) frame — the FIT half of the CCNet
    * split. Batch-compute these once (plus the [[ngramCounts]] model),
    * then label an ingest stream with [[bucketsStateless]]. */
  def perplexityCuts(docs: DataFrame, model: DataFrame, n: Int = 2,
                     addK: Double = 1.0, idCol: String = "doc_id",
                     textCol: String = "text",
                     langCol: String = "lang"): DataFrame =
    scoreDocuments(docs, model, n, addK, idCol, textCol)
      .filter(col("n_trans") > 0)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol)), Seq("doc_id"))
      .select(col(langCol),
        (-col("lm_score").cast("double") / col("n_trans").cast("double"))
          .as("ppx"))
      .groupBy(col(langCol))
      .agg(percentile(col("ppx"), lit(1.0 / 3)).as("c1"),
        percentile(col("ppx"), lit(2.0 / 3)).as("c2"))

  /** The trained model packed into ONE broadcastable row: (context␁token)
    * → cnt map, context → total map, vocabulary size, plus a constant
    * join key. `\\u0001` never appears in whitespace-split tokens, so the
    * concatenated key is collision-free.
    *
    * SIZE CONTRACT: the whole model becomes ONE row, so it must fit the
    * single-row/broadcast limits — this stateless path is for
    * snapshot-sized trusted models (the CCNet shape: a few hundred
    * thousand transitions from a clean reference corpus), NOT for
    * corpus-derived open-vocabulary models. A runtime guard fails fast
    * with a clear message past [[MaxPackedTransitions]] transitions
    * (~100 B/entry ≈ 2 GiB packed, where Spark's single-row and
    * broadcast limits would otherwise surface as opaque OOM/2 GB
    * failures); larger models belong on the batch [[scoreDocuments]]
    * join path. */
  val MaxPackedTransitions: Int = 20_000_000

  private def packedModel(model: DataFrame): DataFrame = {
    val ct = model.groupBy().agg(map_from_entries(collect_list(
      struct(concat(col("context"), lit("\u0001"), col("token")),
        col("cnt")))).as("__ct0"))
      // guard rides the same aggregation job - no extra pass over the model
      .select(when(size(col("__ct0")) <= MaxPackedTransitions, col("__ct0"))
        .otherwise(raise_error(concat(
          lit("packedModel: model has "), size(col("__ct0")).cast("string"),
          lit(s" transitions, over the $MaxPackedTransitions single-row " +
            "broadcast bound - use the batch scoreDocuments join path"))))
        .as("__ct"))
    val ctot = model.groupBy(col("context"))
      .agg(sum(col("cnt")).as("__s"))
      .groupBy().agg(map_from_entries(collect_list(
        struct(col("context"), col("__s")))).as("__ctot"))
    val vocab = model.select(col("token")).distinct()
      .agg(count(lit(1)).as("__vocab"))
    broadcast(ct.crossJoin(ctot).crossJoin(vocab).withColumn("__k", lit(1)))
  }

  /** Stateless scoring twin of [[scoreDocuments]]: the model packs into
    * one broadcast row ([[packedModel]]) and each document's score is an
    * in-row fold over its transition array — no explode, no join shuffle,
    * no aggregation state — so it runs UNCHANGED on a streaming frame
    * (append mode, no watermark), the [[Dsir.scoreStateless]] discipline.
    * Per-transition terms are the exact [[scoreDocuments]] expression
    * (micro-nat quantization before the sum; integer in-row fold = the
    * batch path's any-order integer sum), spec-checked identical. Pass a
    * CHECKPOINTED or parquet-backed model: the static side of a
    * stream-static join re-evaluates per micro-batch. */
  def scoreStateless(docs: DataFrame, model: DataFrame, n: Int = 2,
                     addK: Double = 1.0, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n=$n: a language model needs at least bigrams")
    require(addK > 0, s"addK=$addK: smoothing mass must be positive")
    docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__k", lit(1))
      .join(packedModel(model), Seq("__k"))
      .withColumn("__sc", scoreFold(n, addK))
      .select(col(idCol).as("doc_id"),
        col("__sc.n").as("n_trans"), col("__sc.hit").as("n_hit"),
        col("__sc.s").as("lm_score"))
  }

  /** In-row transition fold over `__toks` with the packed model columns
    * (`__ct`, `__ctot`, `__vocab`) in scope: struct(n, hit, s) with the
    * exact [[scoreDocuments]] per-transition term. */
  private def scoreFold(n: Int, addK: Double): Column = {
    val trans = when(size(col("__toks")) >= n,
      transform(sequence(lit(n - 1), size(col("__toks")) - 1),
        i => struct(
          concat_ws(" ", slice(col("__toks"), i - (n - 2), lit(n - 1)))
            .as("context"),
          element_at(col("__toks"), i + 1).as("token"))))
      .otherwise(array().cast("array<struct<context:string,token:string>>"))
    aggregate(trans,
      struct(lit(0L).as("n"), lit(0L).as("hit"), lit(0L).as("s")),
      (acc, t) => {
        val cnt = element_at(col("__ct"),
          concat(t.getField("context"), lit("\u0001"), t.getField("token")))
        val ctot = element_at(col("__ctot"), t.getField("context"))
        val term = round(
          log((coalesce(cnt, lit(0L)) + lit(addK)) /
            (coalesce(ctot, lit(0L)) + lit(addK) * col("__vocab")))
            * lit(1e6)).cast("long")
        struct((acc.getField("n") + lit(1L)).as("n"),
          (acc.getField("hit") +
            when(cnt.isNotNull, 1L).otherwise(0L)).as("hit"),
          (acc.getField("s") + term).as("s"))
      })
  }

  /** Streaming CCNet labeling: score statelessly under a batch-trained
    * model, then label against batch-fitted [[perplexityCuts]] via a
    * stream-static equi-join on the language — append-mode throughout.
    * Matches [[perplexityBuckets]] row-for-row on the corpus the cuts
    * were fitted from (spec-enforced); on fresh stream content the cuts
    * are the frozen calibration, which is exactly the production CCNet
    * arrangement (the reference model and its terciles come from a
    * trusted snapshot, not from the stream being filtered). Every input
    * column passes through UNDER ITS OWN NAME (no id renaming) so the
    * twin chains inside a composed stream. */
  def bucketsStateless(docs: DataFrame, model: DataFrame, cuts: DataFrame,
                       n: Int = 2, addK: Double = 1.0,
                       textCol: String = "text",
                       langCol: String = "lang"): DataFrame =
    docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("__k", lit(1))
      .join(packedModel(model), Seq("__k"))
      .withColumn("__sc", scoreFold(n, addK))
      .filter(col("__sc.n") > 0)
      .withColumn("ppx",
        -col("__sc.s").cast("double") / col("__sc.n").cast("double"))
      .join(cuts, Seq(langCol))
      // carry-through: every input column survives so the twin chains
      // inside a composed stream (langCol comes first — the cuts join key)
      .select(col(langCol) +:
        docs.columns.toSeq.filter(_ != langCol).map(n => col(s"`$n`")) ++:
        Seq(col("ppx"),
          when(col("ppx") <= col("c1"), lit("head"))
            .when(col("ppx") <= col("c2"), lit("middle"))
            .otherwise(lit("tail")).as("bucket")): _*)
}
