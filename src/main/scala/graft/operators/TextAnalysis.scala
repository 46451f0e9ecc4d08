package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  *
  * All pure column expressions (codegen'd, no UDFs) — at 100 TB these are
  * narrow projections that pipeline with the parquet scan; nothing shuffles.
  */
object TextAnalysis {

  /** Whitespace tokens with empties removed. NOTE for corpus-wide
    * EXPLODE call sites: `filter` over an array is ArrayFilter —
    * CodegenFallback, interpreted per row — so exploding this column
    * keeps the scan's hottest loop out of whole-stage codegen; use
    * [[explodeTokens]] (identical token multiset, codegen'd) there. As a
    * per-row projection input (quality/gopher/langid feature columns)
    * the HOF shape is fine. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Exploded whitespace tokens as ROWS, codegen-safe: `explode(split)`
    * then a ROW filter. The emitted token multiset is exactly
    * `explode(tokens(text))` — empties drop either way, and a blank-only
    * document emits nothing — but split/explode/filter all stay inside
    * whole-stage codegen (measured ~2× on corpus-wide token scans).
    * `carry` columns project through unchanged. */
  def explodeTokens(df: DataFrame, text: Column, out: String,
                    carry: Seq[Column]): DataFrame =
    df.select(carry :+ explode(split(text, "\\s+")).as(out): _*)
      .filter(col(out) =!= "")

  /** Token COUNT without materializing the token array — the native
    * [[graft.functions.TokenCount]] byte-scan (spec-checked equivalent to
    * `size(tokens(text))`). Use at count-only call sites; they dominate
    * the corpus reporting/mixing paths. */
  def tokenCount(text: Column): Column =
    graft.functions.TokenCount.tokenCount(text)

  /** Token count under a BPE-ish regex lexer: word pieces, digit runs,
    * single punctuation. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Skip-gram (center, context) PAIR COUNTS — word2vec-style embedding
    * training data (Mikolov et al. 2013): every token paired with its
    * neighbors within ±`window` positions, with the signed distance kept
    * (callers fold or weight it; the classic 1/d weighting is a
    * projection away).
    *
    * Scale shape — NO self-join: the naive formulation joins positioned
    * tokens per document on |Δpos| ≤ w, which materializes n² rows per
    * document before the distance filter. Here the corpus explodes ONCE
    * into positioned tokens and the 2w context columns are `lag`/`lead`
    * window functions riding a single per-document sort; pairs unpivot
    * as a projection (document edges yield nulls, filtered). Work is
    * strictly linear in corpus tokens × window. */
  def skipGramPairs(docs: DataFrame, window: Int = 2,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window=$window")
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.WordShingles.allShingles(col(textCol), 1))
        .as(Seq("pos", "tok")))
    val withCtx = (1 to window).foldLeft(tok) { (df, k) =>
      df.withColumn(s"__m$k", lag(col("tok"), k).over(byPos))
        .withColumn(s"__p$k", lead(col("tok"), k).over(byPos))
    }
    val pairs = (1 to window).flatMap(k => Seq(
      struct(lit(-k).as("dist"), col(s"__m$k").as("ctx")),
      struct(lit(k).as("dist"), col(s"__p$k").as("ctx"))))
    withCtx
      .select(col("tok").as("center"),
        explode(array(pairs: _*)).as("__pc"))
      .filter(col("__pc.ctx").isNotNull)
      .groupBy(col("center"), col("__pc.ctx").as("context"),
        col("__pc.dist").as("dist"))
      .agg(count(lit(1)).as("n"))
  }

  /** Frequency-based token SUBSAMPLING (the word2vec t-threshold,
    * Mikolov et al. 2013): each token occurrence survives with
    * P(keep) = min(1, sqrt(t/r) + t/r) where r is the token's corpus
    * frequency ratio — stopwords thin aggressively, rare words always
    * survive. The standard companion to [[skipGramPairs]] (subsample,
    * THEN pair) and a quality lever for any frequency-skewed corpus.
    *
    * Deterministic: the per-occurrence draw is the engine's md5 uniform
    * keyed on (doc_id, pos); the keep probability is a fixed sequence of
    * correctly-rounded IEEE ops (sqrt included) over exact counts, and
    * the comparison runs in double on the exact 32-bit draw value — all
    * mirrored by the oracle.
    *
    * Scale shape: positioned tokens explode once; the frequency table is
    * vocabulary-sized (broadcast join) and the total is a one-row cross
    * join; the filter is a projection. One corpus aggregation + one
    * linear pass. */
  def subsampleTokens(docs: DataFrame, t: Double = 1e-3,
                      salt: String = "w2v", idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(t > 0, s"t=$t")
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.WordShingles.allShingles(col(textCol), 1))
        .as(Seq("pos", "tok")))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("__f"))
      .localCheckpoint(true)
    val total = freq.agg(sum(col("__f")).as("__n"))
    val ratio = col("__f").cast("double") / col("__n").cast("double")
    val pKeep = least(lit(1.0), sqrt(lit(t) / ratio) + lit(t) / ratio)
    val draw = conv(Sampling.draw(
      concat(col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string")), salt), 16, 10)
      .cast("long").cast("double")
    tok
      .join(broadcast(freq), Seq("tok"))
      .crossJoin(broadcast(total))
      .filter(draw < pKeep * lit(4294967296.0))
      .select(col("doc_id"), col("pos"), col("tok"))
  }

  /** Word2vec NEGATIVE SAMPLING (Mikolov et al. 2013): `k` deterministic
    * draws per (center, context, dist) pair from the unigram^`power`
    * noise distribution — the third leg of the word2vec data trio
    * ([[skipGramPairs]], [[subsampleTokens]], this).
    *
    * Weighted sampling without a hot spot, engine-exactly:
    *  - weights quantize to integer micro-units (round(f^p·10⁶) — the
    *    micro-nat discipline: pow's last-ulp variance is absorbed before
    *    any arithmetic that could cascade);
    *  - the cumulative interval table builds with a TWO-PHASE cumsum
    *    (per-prefix bucket sums → exclusive bases over the tiny bucket
    *    aggregate → in-bucket window + base), so no single task ever
    *    sorts the whole vocabulary — the [[Packing.shardAssign]] cut
    *    discipline, and the gate oracle is the single-window formulation,
    *    so parity doubles as two-phase-exactness evidence;
    *  - each draw maps its 32-bit md5 value onto [0, W) as
    *    min(⌊u/2³²·W⌋, W−1) — two correctly-rounded IEEE ops + an exact
    *    floor (u·W in integers would overflow past W ≈ 2³¹; doubles are
    *    exact to W < 2⁵³, and the clamp absorbs the one representable
    *    round-up at the top) — and probes a BUCKETIZED interval index
    *    (each interval exploded into the fixed-width buckets it
    *    overlaps) — an EQUI-join, so no per-draw vocabulary scan and no
    *    broadcast-nested-loop anywhere.
    *
    * Output: pairs columns + (j, neg) for j in 0..k-1. */
  def negativeSamples(pairs: DataFrame, corpus: DataFrame, k: Int = 2,
                      power: Double = 0.75, numBuckets: Option[Int] = None,
                      salt: String = "neg", textCol: String = "text")
      : DataFrame = {
    require(k >= 1 && numBuckets.forall(_ >= 1),
      s"k=$k numBuckets=$numBuckets")
    val freq = corpus
      .select(explode(graft.functions.WordShingles
        .allShingles(col(textCol), 1)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("__f"))
      .withColumn("__wq",
        round(pow(col("__f").cast("double"), power) * lit(1e6)).cast("long"))
    // two-phase exclusive cumsum in lexicographic token order: prefix
    // buckets ARE order prefixes, so (prefix, tok) order == tok order
    val pfx = substring(col("tok"), 1, 1)
    val bucketSums = freq.groupBy(pfx.as("__pfx"))
      .agg(sum(col("__wq")).as("__bs"))
    val bases = bucketSums
      .withColumn("__base", coalesce(sum(col("__bs")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__pfx"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .select(col("__pfx"), col("__base"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(pfx).orderBy(col("tok"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val intervals = freq
      .withColumn("__incum", coalesce(sum(col("__wq")).over(wIn), lit(0L)))
      .join(broadcast(bases), pfx === col("__pfx"))
      .select(col("tok"), (col("__base") + col("__incum")).as("__lo"),
        (col("__base") + col("__incum") + col("__wq")).as("__hi"))
      .localCheckpoint(true)
    val total = intervals.agg(max(col("__hi")).as("__w"))
    // bucket count ~ vocabulary size (a vocab-sized count job — the
    // model-scale driver boundary): a FIXED small count would make every
    // draw's probe scan ~V/nb candidate intervals before the range
    // filter, exactly the per-draw vocabulary scan the index exists to
    // avoid; explicit numBuckets remains for tests/tuning
    val nb = numBuckets.getOrElse(math.max(64L, intervals.count()).toInt)
    // bucketized interval index: equi-join key for the draws
    val index = intervals.crossJoin(broadcast(total))
      .withColumn("__bw", expr(s"(__w - 1) div $nb + 1"))
      .select(col("tok"), col("__lo"), col("__hi"),
        explode(sequence(expr("__lo div __bw"),
          expr("(__hi - 1) div __bw"))).as("__b"))
    val draws = pairs
      .crossJoin(broadcast(total))
      .withColumn("__bw", expr(s"(__w - 1) div $nb + 1"))
      .select(pairs.columns.map(c => col(s"`$c`")) ++ Seq(
        col("__w"), col("__bw"),
        explode(sequence(lit(0), lit(k - 1))).as("j")): _*)
      // \u0001 separators keep the draw key unambiguous (tokens are
      // whitespace-free; adjacent fields must not be confusable)
      .withColumn("__u", conv(Sampling.draw(
        concat_ws("\u0001", col("center"), col("context"),
          col("dist").cast("string"), col("j").cast("string")), salt),
        16, 10).cast("long"))
      .withColumn("__pos", least(
        floor(col("__u").cast("double") / lit(4294967296.0) *
          col("__w").cast("double")).cast("long"),
        col("__w") - 1L))
      .withColumn("__b", expr("__pos div __bw"))
    draws
      .join(index, Seq("__b"))
      .filter(col("__pos") >= col("__lo") && col("__pos") < col("__hi"))
      .select(pairs.columns.map(c => col(s"`$c`")) ++
        Seq(col("j"), col("tok").as("neg")): _*)
  }

  /** Tokenizer FERTILITY / compression evaluation per language — the
    * standard metric battery for choosing a vocabulary (fertility =
    * subword tokens per whitespace word; bytes per subword token =
    * compression). A multilingual tokenizer with high fertility on some
    * language inflates that language's effective sequence length and
    * training cost — this is the report that decision reads.
    *
    * Scale shape: per-document counts are three codegen'd byte-scan
    * projections (native [[graft.functions.TokenCount]] /
    * [[graft.functions.SubwordTokenCount]] — no token materialization),
    * then ONE language-keyed aggregation with map-side partials; the
    * ratios are double divisions of exact integer sums (language-table
    * sized — the oracle-parity discipline). */
  def tokenizerFertility(docs: DataFrame, vocab: Seq[String],
                         textCol: String = "text",
                         langCol: String = "lang"): DataFrame =
    docs.select(col(langCol),
        tokenCount(col(textCol)).cast("long").as("__w"),
        graft.functions.SubwordTokenCount
          .subwordTokenCount(col(textCol), vocab).cast("long").as("__s"),
        octet_length(col(textCol)).cast("long").as("__b"))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__w")).as("n_words"),
        sum(col("__s")).as("n_subwords"), sum(col("__b")).as("n_bytes"))
      .select(col(langCol), col("n_docs"), col("n_words"),
        col("n_subwords"), col("n_bytes"),
        when(col("n_words") > 0,
          col("n_subwords").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("fertility"),
        when(col("n_subwords") > 0,
          col("n_bytes").cast("double") / col("n_subwords").cast("double"))
          .otherwise(lit(0.0)).as("bytes_per_token"))

  /** Vocabulary coverage / OOV report (L138) — the "how big must V be"
    * table a closed-vocabulary tokenizer decision reads: per language,
    * what share of token TYPES and token OCCURRENCES the vocabulary
    * covers, and the heaviest uncovered token (the next candidate for
    * admission). Complements [[tokenizerFertility]] (which measures
    * subword segmentation of an open vocab, not whole-word coverage of a
    * closed one).
    *
    * Coverage ratios are integer micro units (covered·10⁶ div total —
    * engine-exact); the top-OOV argmax is deterministic: max count, ties
    * to the lexicographically SMALLEST token, computed as a max-count
    * aggregation plus a min-token pass at that count (no struct-ordering
    * ambiguity across engines). Languages with zero OOV types emit a
    * null token and count 0.
    *
    * Scale shape: one (lang, token)-keyed aggregation with map-side
    * combine builds the type frame; the vocabulary joins BROADCAST; the
    * rollup and the two argmax passes are lang-keyed aggregations over
    * the vocabulary-sized type frame — the corpus is scanned once. */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
                    vocabCol: String = "token", textCol: String = "text",
                    langCol: String = "lang"): DataFrame = {
    val tf = docs
      .select(col(langCol).as("lang"),
        explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col("lang"), col("__tok"))
      .agg(count(lit(1)).as("__cnt"))
    val v = vocab.select(col(vocabCol).as("__tok")).distinct()
      .withColumn("__inv", lit(true))
    val j = tf.join(broadcast(v), Seq("__tok"), "left")
      .withColumn("__inv", coalesce(col("__inv"), lit(false)))
    val roll = j.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("__inv"), 1L).otherwise(0L)).as("n_types_in_vocab"),
        sum(col("__cnt")).as("n_occ"),
        sum(when(col("__inv"), col("__cnt")).otherwise(0L))
          .as("n_occ_in_vocab"))
    val oov = j.filter(!col("__inv"))
    val mx = oov.groupBy(col("lang")).agg(max(col("__cnt")).as("__mx"))
    val top = oov.join(mx, Seq("lang"))
      .filter(col("__cnt") === col("__mx"))
      .groupBy(col("lang"))
      .agg(min(col("__tok")).as("top_oov_token"),
        max(col("__cnt")).as("top_oov_count"))
    roll.join(top, Seq("lang"), "left")
      .select(col("lang"), col("n_types"), col("n_types_in_vocab"),
        col("n_occ"), col("n_occ_in_vocab"),
        expr("(n_types_in_vocab * 1000000) div n_types")
          .as("type_cov_micro"),
        expr("(n_occ_in_vocab * 1000000) div n_occ").as("occ_cov_micro"),
        col("top_oov_token"),
        coalesce(col("top_oov_count"), lit(0L)).as("top_oov_count"))
  }

  /** Quality features: length, token stats, stopword & punctuation ratios,
    * and a composite score in [0,1]. Ratios are double divisions of exact
    * integer counts — deterministic across engines.
    *
    * Pass a materialized token column (`tokens(text)` projected beforehand)
    * when scanning a corpus — HOF lambdas don't CSE, so inline tokenization
    * would re-split the text once per feature. */
  def qualityColumns(text: Column): Seq[(String, Column)] =
    qualityColumnsFromTokens(text, tokens(text))

  def qualityColumnsFromTokens(text: Column, toks: Column): Seq[(String, Column)] = {
    val nTokens = size(toks)
    val nChars = length(text)
    val stopwords = Seq("the", "a", "of", "and", "to", "in")
    val nStop = size(filter(toks, t => stopwords.map(s => t === s).reduce(_ || _)))
    val nPunct = size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0)))
    val avgTokenLen = when(nTokens > 0,
      (nChars - (nTokens - 1)).cast("double") / nTokens.cast("double")).otherwise(lit(0.0))
    val stopRatio = when(nTokens > 0,
      nStop.cast("double") / nTokens.cast("double")).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      nPunct.cast("double") / nChars.cast("double")).otherwise(lit(0.0))
    // composite: long enough, some stopwords (natural language), low punct noise
    val score =
      when(nTokens >= 5, lit(0.4)).otherwise(lit(0.0)) +
      when(stopRatio >= 0.05 && stopRatio <= 0.6, lit(0.3)).otherwise(lit(0.0)) +
      when(punctRatio <= 0.2, lit(0.3)).otherwise(lit(0.0))
    Seq(
      "n_tokens" -> nTokens,
      "n_chars_calc" -> nChars,
      "avg_token_len" -> avgTokenLen,
      "stopword_ratio" -> stopRatio,
      "punct_ratio" -> punctRatio,
      "quality_score" -> score)
  }

  /** Gopher-rule quality gate (Rae et al. 2021, appendix A — the published
    * heuristic battery most production corpus filters start from), as one
    * narrow projection over a materialized token column. Every metric is
    * exact integer counting or a single double division of exact ints —
    * deterministic across engines. Rules (a document must pass ALL):
    *  - word count in [minWords, maxWords];
    *  - mean word length in [3, 10] characters;
    *  - symbol-to-word ratio (# and ... occurrences / words) below 0.1;
    *  - at least 80% of words contain an alphabetic character;
    *  - at least 2 hits from the 8-stopword list (the "natural language"
    *    tripwire — tables and code rarely contain them).
    * Thresholds are the paper's; bounds are inclusive where the paper
    * states inclusive ranges. */
  def gopherColumns(text: Column,
                    minWords: Int = 50, maxWords: Int = 100000): Seq[(String, Column)] = {
    // token-level stats come from ONE native codegen'd byte pass — the
    // aggregate/filter lambda-HOF formulation ran three interpreted
    // tree-walks per document (and interpreter traffic poisons shared-JVM
    // JIT profiles — see functions.SpanScrub). The repeated stats subtree
    // below is deduplicated by codegen subexpression elimination.
    val stats = graft.functions.GopherStats.stats(text)
    val nWords = stats.getField("n_words")
    val charSum = stats.getField("char_sum")
    val meanLen = when(nWords > 0,
      charSum.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    // non-overlapping occurrence counts via replace-and-diff — identical
    // left-to-right greedy semantics in Spark and DuckDB
    val nHash = length(text) - length(regexp_replace(text, lit("#"), lit("")))
    val nEllipsis = ((length(text) -
      length(regexp_replace(text, lit("\\.\\.\\."), lit("")))) / 3).cast("int")
    val symbolRatio = when(nWords > 0,
      (nHash + nEllipsis).cast("double") / nWords.cast("double"))
      .otherwise(lit(0.0))
    val nAlpha = stats.getField("n_alpha")
    val alphaFrac = when(nWords > 0,
      nAlpha.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val nStop = stats.getField("n_stop")
    val keep = nWords >= minWords && nWords <= maxWords &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symbolRatio < 0.1 && alphaFrac >= 0.8 && nStop >= 2
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanLen,
      "symbol_word_ratio" -> symbolRatio,
      "alpha_word_frac" -> alphaFrac,
      "n_gopher_stopwords" -> nStop,
      "gopher_keep" -> keep)
  }

  /** Per-document Gopher rule evaluation: (id, metrics…, gopher_keep). */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val cols = gopherColumns(col("__text"), minWords, maxWords)
      .map { case (n, c) => c.as(n) }
    base.select(col("doc_id") +: cols: _*)
  }

  /** Marker-word language scores; prediction = argmax with lexical tiebreak.
    * An n-gram-frequency heuristic in the same shape real lang-ID uses —
    * marker lists stand in for trained n-gram tables. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "la", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "he"))

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresFromTokens(tokens(lower(text)))

  def langScoresFromTokens(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))
    }

  /** argmax over scores, ties broken by language code order. */
  def predictedLang(text: Column): Column =
    predictedLangFromTokens(tokens(lower(text)))

  def predictedLangFromTokens(toks: Column): Column = {
    val scores = langScoresFromTokens(toks)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lang).otherwise(acc)
    }
    // foldRight so earlier languages win ties (first match in order)
  }

  /** Canonical content fingerprint: md5 over the sorted distinct token set.
    * Identical content up to token order/duplication gets one fingerprint. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(lower(text))))).cast("binary"))

  /** Unicode-script profile per document — the pre-language-ID routing
    * signal multilingual pipelines split on (a token-marker language model
    * is useless on the wrong script, and mixed-script documents are a
    * quality signal of their own): code-point counts for the four
    * highest-volume scripts, ASCII digits, whitespace, and the remainder,
    * plus the dominant script.
    *
    * Counting is `length(regexp_replace(text, [^class], ""))` — Spark's
    * `length` counts CODE POINTS (UTF8String.numChars), matching DuckDB
    * and Python semantics, so supplementary-plane CJK counts as 1. The
    * digit class is ASCII [0-9] only (script=Common — Arabic-Indic digits
    * are script=Arabic and would double-count against a \p{Nd} class).
    * Classes are therefore disjoint and n_other is an exact remainder.
    * Dominant-script ties break in fixed order latin > cyrillic > han >
    * arabic; an all-zero profile is "none".
    *
    * Pure codegen'd projection — pipelines with the scan, no shuffle. */
  def scriptColumns(text: Column): Seq[(String, Column)] = {
    def cnt(cls: String): Column =
      length(regexp_replace(text, s"[^$cls]", ""))
    val lat = cnt("\\p{IsLatin}")
    val cyr = cnt("\\p{IsCyrillic}")
    val han = cnt("\\p{IsHan}")
    val ara = cnt("\\p{IsArabic}")
    val dig = cnt("0-9")
    val spc = cnt("\\s")
    val other = length(text) - lat - cyr - han - ara - dig - spc
    val dominant =
      when(lat + cyr + han + ara === 0, "none")
        .when(lat >= cyr && lat >= han && lat >= ara, "latin")
        .when(cyr >= han && cyr >= ara, "cyrillic")
        .when(han >= ara, "han")
        .otherwise("arabic")
    Seq(
      "n_latin" -> lat,
      "n_cyrillic" -> cyr,
      "n_han" -> han,
      "n_arabic" -> ara,
      "n_digit" -> dig,
      "n_space" -> spc,
      "n_other" -> other,
      "dominant_script" -> dominant)
  }

  /** Character-distribution entropy per document — the gibberish/binary
    * tripwire quality filters pair with the Gopher rules: natural prose
    * sits near 2.5-3.2 nats of character entropy, base64/hex blobs and
    * key-mash runs sit far higher or lower, and single-char flood spam
    * sits at ~0.
    *
    * Determinism contract: each character's contribution
    * floor((c/n)·ln(n/c)·10⁶) is quantized to integer micro-nats BEFORE
    * the per-doc sum ([[graft.operators.Dsir]] discipline) — exact integer
    * addition in any order, and the only cross-engine float op (ln) runs
    * once per (doc, char) row. The floor under-counts by at most
    * n_distinct micro-nats (≤ alphabet size — noise).
    *
    * Scale shape: entropy per document is a pure function of the document,
    * so this is ONE native in-row scan ([[graft.functions.CharEntropyStats]]
    * — the [[graft.functions.TokenCount]] pattern): no explode, no
    * aggregation, no join, pipelines with the parquet scan. (The exploded
    * (doc, char) aggregate formulation measured 4.0 s at sf0.1 against
    * ~0.4 s for the scan — a ×length row blow-up plus three exchanges for
    * a value computable in place.) Output: (doc_id, n_chars,
    * n_distinct_chars, entropy_micro_nats); empty documents score 0. */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val st = graft.functions.CharEntropyStats.charEntropyStats(col(textCol))
    docs
      .withColumn("__st", st)
      .select(col(idCol).as("doc_id"),
        element_at(col("__st"), 1).as("n_chars"),
        element_at(col("__st"), 2).as("n_distinct_chars"),
        element_at(col("__st"), 3).as("entropy_micro_nats"))
  }

  /** Repetition features per document (the Gopher-rule staples a quality
    * filter thresholds on): duplicate-word fraction and the share of the
    * most frequent word bigram. Word stats are a narrow projection; the
    * bigram mode needs one (doc_id, bigram) aggregation — shuffle volume
    * is O(total bigrams), grouped on composite keys, never any per-doc
    * collection. Docs under two tokens have no bigrams: share 0. */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val withToks = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("t"))
    val words = withToks.select(col("doc_id"),
      size(col("t")).as("word_total"),
      size(array_distinct(col("t"))).as("word_distinct"))
    // native all-windows bigram scan: non-distinct windows in order, []
    // for sub-2-token docs — the old HOF chain's filter + shingle
    // transform ran interpreted under the corpus-wide explode
    val topBigram = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.WordShingles.allShingles(col(textCol), 2))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("top_n"))
    words.join(topBigram, Seq("doc_id"), "left")
      .select(col("doc_id"), col("word_total"), col("word_distinct"),
        when(col("word_total") > 0,
          lit(1.0) - col("word_distinct").cast("double") /
            col("word_total").cast("double"))
          .as("dup_word_frac"),
        when(col("word_total") >= 2,
          col("top_n").cast("double") /
            (col("word_total") - 1).cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_share"))
  }

  /** Line-level repetition battery (L116) — the half of Gopher's
    * repetition rules [[repetition]] doesn't cover (Rae et al. 2021,
    * appendix A.1.1: "fraction of duplicate lines" / "fraction of
    * characters in duplicate lines", plus the bullet-start and
    * ellipsis-end line fractions from the formatting rules). A line is a
    * duplicate on its SECOND and later occurrences within the document —
    * the first copy is content, the repeats are boilerplate.
    *
    * Scale shape: one (doc_id, line) keyed aggregation (shuffle volume
    * O(total lines), map-side partials) followed by one doc-keyed rollup
    * — no window, no join, no per-doc collection. Line flags (bullet
    * start / ellipsis end) are computed once per DISTINCT line after the
    * first aggregation, not per occurrence.
    *
    * Fractions are single double divisions of exact integer counts (the
    * oracle-parity discipline). Documents are never dropped: a document
    * with no newline is one line. Empty lines count as lines (they carry
    * zero characters, so they can only inflate the line-count fractions —
    * which is what a format filter wants to see).
    *
    * Output: (doc_id, n_lines, n_distinct_lines, dup_line_frac,
    * dup_line_char_frac, bullet_line_frac, ellipsis_line_frac). */
  def lineRepetition(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n", -1)).as("line"))
      .groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("__cnt"))
      .select(col("doc_id"), col("__cnt"), length(col("line")).as("__len"),
        when(col("line").startsWith("- ") || col("line").startsWith("* ") ||
          col("line").startsWith("•"), 1L).otherwise(0L).as("__bul"),
        when(col("line").endsWith("...") || col("line").endsWith("…"),
          1L).otherwise(0L).as("__ell"))
    val agg = lines.groupBy(col("doc_id")).agg(
      sum(col("__cnt")).as("n_lines"),
      count(lit(1)).as("n_distinct_lines"),
      sum((col("__cnt") - 1) * col("__len")).as("__dupChars"),
      sum(col("__cnt") * col("__len")).as("__totChars"),
      sum(col("__cnt") * col("__bul")).as("__bullets"),
      sum(col("__cnt") * col("__ell")).as("__ellipses"))
    val nl = col("n_lines").cast("double")
    agg.select(col("doc_id"), col("n_lines"), col("n_distinct_lines"),
      ((col("n_lines") - col("n_distinct_lines")).cast("double") / nl)
        .as("dup_line_frac"),
      when(col("__totChars") > 0,
        col("__dupChars").cast("double") / col("__totChars").cast("double"))
        .otherwise(lit(0.0)).as("dup_line_char_frac"),
      (col("__bullets").cast("double") / nl).as("bullet_line_frac"),
      (col("__ellipses").cast("double") / nl).as("ellipsis_line_frac"))
  }

  /** Within-document duplicated n-gram coverage (L117) — Gopher's
    * "fraction of characters in duplicate n-grams" (Rae et al. 2021,
    * appendix A.1.1, n = 5…10): the share of a document's token
    * positions (and token characters) covered by some n-gram that occurs
    * at least twice IN THAT DOCUMENT. Coverage is a set union — the
    * interval-merge discipline of [[SubstringDedup.duplicatedSpans]]
    * scoped per document — so overlapping repeats are never double
    * counted. Character weight is the sum of covered TOKEN lengths
    * (inter-token whitespace is normalization noise, not content — the
    * token-level contract every tokenized rewrite here uses).
    *
    * Scale shape: one all-windows shingle explode (native
    * [[graft.functions.WordShingles]] scan), one (doc_id, gram) count,
    * one (doc_id, pos) equi-join back, one per-doc window interval
    * merge, and a bounded position re-expansion (merged spans cover at
    * most n_tokens positions per doc) joined to per-position token
    * lengths — every stage keyed by doc_id, nothing corpus-global.
    *
    * Output: (doc_id, n_tokens, token_chars, covered_tokens,
    * covered_chars, dup_ngram_token_frac, dup_ngram_char_frac); docs
    * with no within-doc duplicate report zero coverage. */
  def dupNgramCoverage(docs: DataFrame, k: Int = 5,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k=$k: the minimum window is 1 token")
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    // (doc, pos, token length) + per-doc totals from ONE token explode
    val tokLens = base
      .select(col("doc_id"), posexplode(
        graft.functions.WordShingles.allShingles(col("__text"), 1)))
      .select(col("doc_id"), col("pos"), length(col("col")).as("__tlen"))
    // totals re-attach to the full id set so zero-token docs are kept
    val totals = base.select(col("doc_id")).join(
      tokLens.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"), sum(col("__tlen")).as("token_chars")),
      Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_chars"), lit(0L)).as("token_chars"))
    // within-doc duplicated k-gram start positions
    val occ = base
      .select(col("doc_id"), posexplode(
        graft.functions.WordShingles.allShingles(col("__text"), k)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("__gram"))
    val dup = occ.groupBy(col("doc_id"), col("__gram"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2)
      .select(col("doc_id"), col("__gram"))
    // interval merge per doc (the duplicatedSpans window), then re-expand
    // the merged spans to covered positions and weigh by token length
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runningEnd = max(col("__e"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val spans = occ.join(dup, Seq("doc_id", "__gram"))
      .select(col("doc_id"), col("pos"), (col("pos") + k).as("__e"))
      .withColumn("__new",
        when(col("pos") > coalesce(runningEnd, lit(-1)), 1).otherwise(0))
      .withColumn("__grp", sum(col("__new"))
        .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("pos")).as("__s"), max(col("__e")).as("__e"))
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("__s"), col("__e") - 1)).as("pos"))
      .join(tokLens, Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("covered_tokens"),
        sum(col("__tlen")).as("covered_chars"))
    totals.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("token_chars"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"),
        when(col("n_tokens") > 0,
          coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("dup_ngram_token_frac"),
        when(col("token_chars") > 0,
          coalesce(col("covered_chars"), lit(0L)).cast("double") /
            col("token_chars").cast("double"))
          .otherwise(lit(0.0)).as("dup_ngram_char_frac"))
  }

  /** Hashed-feature linear quality classifier — the fasttext-shaped scoring
    * pass real pipelines run to rank documents (a trained model is a
    * weights-per-bucket table; here the weights are a fixed deterministic
    * function of the bucket id, so the SCORING machinery — hashing,
    * bucketing, weight lookup, mean-pooling — is real and engine-checkable
    * while staying oracle-reproducible).
    *
    * token → bucket: first 6 md5 hex digits mod `buckets` (md5 is the
    * cross-engine hash discipline); bucket → weight: (bucket mod 1001)/1000
    * − 0.5, a fixed pseudo-random weight in [−0.5, 0.5]. Score = mean
    * weight over the document's tokens (logistic squashing is monotone, so
    * thresholding the mean ≡ thresholding the sigmoid — and exp() is not
    * bit-identical across engines, so it stays out of the gated output).
    *
    * Scale shape: explode → pure column arithmetic (codegen'd, no lambda
    * HOFs — those run interpreted) → one doc-keyed aggregation with
    * map-side partial sums. Swapping real trained weights in means joining
    * a broadcast (bucket → weight) table instead of computing the weight
    * expression — same plan shape. */
  def classifierScores(docs: DataFrame, buckets: Int = 4096,
                       idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val tok = explodeTokens(docs, col(textCol), "tok",
      Seq(col(idCol).as("doc_id")))
    val bucket = pmod(graft.functions.Md5Prefix.prefix(col("tok"), 6),
      lit(buckets.toLong))
    // weight·1000 as an INTEGER summand: summing doubles is
    // accumulation-order-sensitive (partial-aggregation order is partition
    // layout, not a contract) — sum exact integers, divide once at the end
    val milliWeight = pmod(bucket, lit(1001L)) - 500L
    tok.select(col("doc_id"), milliWeight.as("mw"))
      .groupBy("doc_id")
      .agg((sum(col("mw")).cast("double") /
        (count(lit(1)) * 1000L).cast("double")).as("score"))
  }

  /** Corpus vocabulary: the `topK` tokens by total frequency with document
    * frequency alongside — the first step of any tokenizer/vocab build and
    * the usual corpus-sanity report. Deterministic tiebreak: token
    * ascending at equal frequency.
    *
    * Scale shape: token-keyed aggregation with map-side combine for the
    * term counts; document frequency needs the distinct (token, doc) pass —
    * both exchanges are keyed on the token, and the top-K is a
    * TakeOrderedAndProject (per-partition heaps, never a global sort). */
  def vocabulary(docs: DataFrame, topK: Int,
                 idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val tok = explodeTokens(docs, col(textCol), "token",
      Seq(col(idCol).as("doc_id")))
    val tf = tok.groupBy("token").agg(count(lit(1)).as("term_freq"))
    val df = tok.select("token", "doc_id").distinct()
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
    tf.join(df, Seq("token"))
      .orderBy(col("term_freq").desc, col("token").asc)
      .limit(topK)
  }

  /** Per-GROUP top-K tokens (heavy hitters per language/source/domain) —
    * the per-stratum vocabulary report behind tokenizer-coverage and
    * contamination checks. One aggregation keyed by (group, token), then
    * the TWO-PHASE heavy-hitter cut: rank within (group, xxhash64(token)
    * mod `buckets`) sub-partitions first, keep each sub-partition's top-K,
    * then rank the ≤ buckets × K survivors per group. EXACT, not
    * approximate: a group's global top-K token is top-K within its own
    * bucket under the same (count desc, token asc) order, so the bucket
    * union provably contains the global top-K. A single-window-per-group
    * formulation funnels each group's whole distinct-token set (10⁸⁺ for
    * a web-scale language: typos, numbers, URL fragments) through ONE
    * sort task; the bucketed cut caps any task's sort at the largest
    * (group, bucket) slice and the final window at buckets × K rows.
    * Deterministic tiebreak: count desc, token asc. `buckets = 1`
    * degenerates to the single-window plan (the small-group fast path —
    * one exchange fewer; spec-checked identical output). */
  def vocabularyPerGroup(docs: DataFrame, groupCol: String, topK: Int,
                         textCol: String = "text",
                         buckets: Int = 64): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val counts = explodeTokens(docs, col(textCol), "token",
      Seq(col(groupCol)))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("term_freq"))
    val W = org.apache.spark.sql.expressions.Window
    val pruned =
      if (buckets == 1) counts
      else {
        val bw = W.partitionBy(col(groupCol), col("__bkt"))
          .orderBy(col("term_freq").desc, col("token").asc)
        counts
          .withColumn("__bkt", pmod(xxhash64(col("token")), lit(buckets.toLong)))
          .withColumn("__brank", row_number().over(bw))
          .filter(col("__brank") <= topK)
          .drop("__bkt", "__brank")
      }
    val w = W.partitionBy(col(groupCol))
      .orderBy(col("term_freq").desc, col("token").asc)
    pruned
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** Top-K collocations by PMI-annotated bigram count (L141) — the
    * phrase-mining report (word2phrase, Mikolov et al. 2013: adjacent
    * pairs whose joint frequency far exceeds chance are phrases worth
    * fusing into single tokens before embedding/tokenizer training).
    * PMI = ln P(xy) − ln P(x) − ln P(y), realized as a SUM OF
    * MICRO-QUANTIZED LOG TERMS (round(ln·10⁶) per count, integer
    * arithmetic after) — the [[LanguageModel]] micro-nat discipline;
    * quantize-then-sum keeps every term inside IEEE-exact range at ANY
    * corpus size, where ln of the assembled ratio would overflow the
    * 2⁵³ integer-exact window on the n_pair·N² product.
    *
    * Scale shape: bigram + unigram counts are map-side-combined
    * aggregations; the top-K rides the exact bucketed two-phase funnel
    * ([[topNgrams]]); unigram counts aggregate WINNERS-ONLY (semi-join
    * before the count, so the per-token pass runs on ≤ 2K tokens, not
    * the corpus vocabulary); corpus totals are one-row broadcast
    * frames, never driver scalars. */
  def collocations(docs: DataFrame, topK: Int = 30, minCount: Long = 5,
                   textCol: String = "text",
                   buckets: Int = 64): DataFrame = {
    require(topK >= 1, s"topK=$topK"); require(minCount >= 1, s"minCount=$minCount")
    require(buckets >= 1, s"buckets=$buckets")
    val W = org.apache.spark.sql.expressions.Window
    def q(c: Column): Column = round(log(c.cast("double")) * lit(1e6)).cast("long")
    val bg = docs.select(explode(
        graft.functions.WordShingles.allShingles(col(textCol), 2)).as("__g"))
      .select(substring_index(col("__g"), " ", 1).as("w1"),
        substring_index(col("__g"), " ", -1).as("w2"))
    val pc = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val order: Seq[Column] =
      Seq(col("n_pair").desc, col("w1").asc, col("w2").asc)
    val pruned =
      if (buckets == 1) pc
      else {
        val bw = W.partitionBy(pmod(xxhash64(col("w1"), col("w2")),
            lit(buckets.toLong))).orderBy(order: _*)
        pc.withColumn("__brank", row_number().over(bw))
          .filter(col("__brank") <= topK).drop("__brank")
      }
    val top = pruned
      .withColumn("rank", row_number().over(W.partitionBy().orderBy(order: _*)))
      .filter(col("rank") <= topK)
      .localCheckpoint(true)
    val winners = top.select(col("w1").as("__tok"))
      .unionByName(top.select(col("w2").as("__tok"))).distinct()
    val toks = docs.select(explode(tokens(col(textCol))).as("__tok"))
    val uc = toks.join(broadcast(winners), Seq("__tok"), "left_semi")
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val nTok = toks.agg(count(lit(1)).as("__n"))
    val nBg = bg.agg(count(lit(1)).as("__nb"))
    top
      .join(broadcast(uc.toDF("w1", "n_w1")), Seq("w1"))
      .join(broadcast(uc.toDF("w2", "n_w2")), Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .select(col("rank"), col("w1"), col("w2"), col("n_pair"),
        col("n_w1"), col("n_w2"),
        (q(col("n_pair")) + lit(2L) * q(col("__n"))
          - q(col("n_w1")) - q(col("n_w2")) - q(col("__nb")))
          .as("pmi_micro"))
  }

  /** Corpus-level top-K repeated n-grams — the boilerplate-mining report
    * (the phrases a curation run turns into scrub rules or
    * stop-fingerprints: navigation chrome, license blurbs, templated
    * headers surface as high-frequency n-grams): every n-token window
    * (multiplicity kept) aggregated to (gram, term_freq, doc_freq),
    * ranked (term_freq desc, gram asc).
    *
    * Scale shape: [[vocabularyPerGroup]]'s exact bucketed two-phase
    * heavy-hitter cut with a constant group — phase 1 ranks within
    * xxhash64(gram) mod `buckets` sub-partitions (a global top-K gram is
    * top-K in its own bucket), phase 2 ranks the ≤ buckets·topK
    * survivors; the doc-frequency pass joins only the surviving grams
    * (semi-join BEFORE the distinct-count, so the per-doc distinct
    * aggregation runs on the winners, not the corpus vocabulary). */
  def topNgrams(docs: DataFrame, n: Int, topK: Int,
                idCol: String = "doc_id", textCol: String = "text",
                buckets: Int = 64): DataFrame = {
    require(n >= 1, s"n=$n"); require(topK >= 1, s"topK=$topK")
    require(buckets >= 1, s"buckets=$buckets")
    val W = org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol).as("doc_id"), explode(
        graft.functions.WordShingles.allShingles(col(textCol), n))
      .as("gram"))
    val counts = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("term_freq"))
    val pruned =
      if (buckets == 1) counts
      else {
        val bw = W.partitionBy(pmod(xxhash64(col("gram")), lit(buckets.toLong)))
          .orderBy(col("term_freq").desc, col("gram").asc)
        counts.withColumn("__brank", row_number().over(bw))
          .filter(col("__brank") <= topK).drop("__brank")
      }
    val w = W.partitionBy().orderBy(col("term_freq").desc, col("gram").asc)
    val top = pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .localCheckpoint(true)
    val df = grams.join(broadcast(top.select(col("gram"))), Seq("gram"),
        "left_semi")
      .select(col("gram"), col("doc_id")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("doc_freq"))
    top.join(broadcast(df), Seq("gram"))
      .select(col("rank"), col("gram"), col("term_freq"), col("doc_freq"))
  }
}
