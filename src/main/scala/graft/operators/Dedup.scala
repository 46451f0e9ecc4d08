package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Embedding near-dup lives in [[Similarity]].
  *
  * Design for 100 TB:
  *  - exact dedup is one hash aggregation on a 16-byte digest (shuffle keys
  *    are digests, not documents);
  *  - shingle/LSH paths shuffle (shingle → docs) or (band-signature → docs)
  *    postings, never document pairs, so candidate generation is linear in
  *    corpus size + output pairs — the classic scalable formulation;
  *  - content hashing starts from md5 (deterministic across engines and
  *    runs; no seed state to distribute); minhash permutations derive from
  *    ONE digest per shingle via fixed universal-hash constants (see
  *    [[minhashes]] — the constants are mirrored by the DuckDB oracle,
  *    change both or neither);
  *  - an intermediate that several branches read (postings, posting lists,
  *    band signatures) is an eager local checkpoint, not a lazy cache: the
  *    returned frame owns its blocks and the ContextCleaner frees them once
  *    nothing reads it, so no call leaves anything to release.
  */
object Dedup {

  /** Does nothing and returns 0. The intermediates this object once parked
    * in the session's cache are eager local checkpoints now, freed once no
    * frame reads them; kept only for perfbench's `CurationGates.release`,
    * which still calls it between gates. */
  def releaseIntermediateCaches(blocking: Boolean = false): Int = 0

  /** Shingles from an already-materialized token array. IMPORTANT: pass a
    * bound column, not an expression — Catalyst does not CSE across
    * higher-order-function lambdas, so an inline `tokens(text)` here would
    * re-tokenize the document once per shingle (measured ~4× slowdown). */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Word-level shingles of length `k` joined by single spaces (convenience
    * for small inputs; hot paths go through [[shinglesFromTokens]]). */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), k)

  /** Exact dedup: group documents by content digest; representative = lowest
    * id; emit group size so downstream can keep/drop. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** (doc_id, shingle) postings, distinct per doc — the native
    * [[graft.functions.WordShingles]] single-pass scan (the HOF chain it
    * replaced — tokens + transform + per-shingle slice — was
    * CodegenFallback end-to-end and interpreted once per document across
    * every near-dup detector; equivalence is property-checked and pinned
    * by the consuming oracle gates). */
  def shinglePostings(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.WordShingles.shingles(col(textCol), k))
        .as("shingle"))

  /** Hashed (doc_id, gram) postings — [[shinglePostings]] with each shingle
    * collapsed to its 64-bit xxhash64 (collision odds ~|shingles|²/2⁶⁴,
    * ~4× less shuffle volume than the strings) — an EAGER local checkpoint,
    * shared by reference across consumers: [[jaccardPairs]] /
    * [[containmentPairs]] (`grams`) and
    * [[Decontaminate.overlap]] (`docGrams`) accept this frame so a
    * composed pipeline shingles its pool ONCE instead of once per leg.
    * Its blocks go when the last frame reading it does. */
  def cacheHashedPostings(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", k: Int = 3): DataFrame =
    // r16 probe REJECTED: fanOutSmall here (spread the one-partition
    // cache build that runs as a ~1.1 s straggler inside the first
    // consuming stage) made corpus_pipeline 5.25 → 7.21 s min — the
    // 32-partition materialized frame flips the downstream candFanOut gauge
    // (postings no longer < cores), so the prefix engine's verify
    // fan-out stops firing and every consumer pays 32-task read overhead
    // on a tiny cache besides.
    shinglePostings(docs, idCol, textCol, k)
      .select(col("doc_id"), xxhash64(col("shingle")).as("gram"))
      .localCheckpoint(true)

  /** N-gram Jaccard near-dup pairs via the postings self-join:
    * |A∩B| from the shingle join, |A|,|B| from per-doc counts; emit pairs
    * with jaccard ≥ threshold. No O(n²) pair scan — the shuffle key is the
    * shingle, so cost is Σ posting-list².
    *
    * @param maxShingleDf skew guard: drop shingles whose document frequency
    *        exceeds this cap BEFORE pair generation. A stop-shingle ("in the
    *        beginning", boilerplate headers) with document frequency f costs
    *        f² pair rows — one shingle in 1M docs is 10¹² candidate rows at
    *        corpus scale. Dropped shingles leave both the intersection and
    *        the per-doc sizes, so pairs whose overlap is only boilerplate
    *        fall below threshold (the standard stop-shingle Jaccard).
    *        Setting the cap also switches pair generation to the cheaper
    *        POSTING-LIST formulation (per-shingle doc lists, pairs exploded
    *        as a projection — the cap bounds the list buffers); without a
    *        cap the postings self-join runs instead, which never buffers a
    *        hot shingle's membership. With a cap above the corpus's max DF
    *        the output is exactly the unguarded result (spec-verified). */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   k: Int = 3, maxShingleDf: Option[Int] = None,
                   grams: Option[DataFrame] = None): DataFrame =
    pairCounts(docs, idCol, textCol, k, maxShingleDf, grams)
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))

  /** Containment (overlap-coefficient) near-dup pairs:
    * |A∩B| / min(|A|, |B|) ≥ threshold over the same distinct-shingle
    * postings as [[jaccardPairs]]. Containment catches the pair family
    * Jaccard structurally under-scores — a SHORT document embedded whole
    * in a long one (quote expansion, article + appended boilerplate,
    * chunk-of-parent): A ⊆ B gives containment 1.0 while jaccard =
    * |A|/|B| can be arbitrarily small. Same plan shape as jaccardPairs
    * (the shuffle key is the shingle; `maxShingleDf` applies identically)
    * — only the final score differs. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       k: Int = 3, maxShingleDf: Option[Int] = None,
                       grams: Option[DataFrame] = None): DataFrame =
    pairCounts(docs, idCol, textCol, k, maxShingleDf, grams)
      .withColumn("containment", col("n_common").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("containment"))

  /** Prefix-filtered n-gram Jaccard pairs — the AllPairs/PPJoin candidate
    * discipline (Bayardo et al. 2007; Xiao et al. 2008): under a GLOBAL
    * rarity order on grams (ascending document frequency, ties on the
    * hash), a pair with jaccard ≥ t must share at least one gram inside
    * each side's first `n − ⌈t·n⌉ + 1` grams, so candidate generation
    * self-joins PREFIX postings only and the exact intersection count
    * runs over the candidate set instead of every posting pair. Output
    * is IDENTICAL to [[jaccardPairs]] (property-checked on random
    * corpora; the gate shares the jaccard oracle).
    *
    * Scale shape vs the capped posting-list formulation: the prefix drops
    * ~t of every document's grams, and — because the order is
    * rarity-first — stop-shingles sort to the SUFFIX and fall out of
    * candidate generation for ordinary documents, so no DF cap (with its
    * borderline-pair semantics) is needed: this path is exact at every
    * threshold. Verification cost is |candidates| × avg posting length,
    * the quantity prefix filtering exists to bound; at 100 TB the
    * candidate set is output-shaped (near-dup pairs + survivors of the
    * prefix test), orders below the all-pairs join. The per-doc rank
    * windows partition by doc_id — bounded by a document's gram count,
    * never corpus-wide. */
  /** Every posting with its doc's size and the gram's rank under the
    * global (df, g) rarity order — the shared windowed core of the
    * prefix-filtered engines. One window exec: row_number and the
    * per-doc total share the same (partition, order) spec — different
    * frames, one exchange + sort. LAZY (no checkpoint): each caller
    * stages the subset it actually re-reads. */
  private def withRarityRanks(postings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfs = postings.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val wAll =
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // r16 probe REJECTED here: fanOutSmall on the window input (doc_id,
    // machine width) moved the rank stage from 3 to 32 tasks but the
    // stage wall was flat (0.30 → 0.27 s) while Σtask went 0.8 → 7.4 s —
    // every task re-deserializes the g-keyed broadcast built for the dfs
    // join, and that fixed cost dwarfs the spread rank work. The verify
    // stage (candFanOut) is where the fan-out pays.
    postings.join(dfs, Seq("g"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .select(col("doc_id"), col("g"), col("__n"), col("__rn"))
  }

  /** The per-doc Jaccard prefix length under threshold `t`:
    * `n − ⌈t·n⌉ + 1` (also the containment probe-side length — there the
    * floor is c ≥ t·min and the probe IS the min side). The 1e-9 slack
    * guards an fp product landing just ABOVE an exact integer (which
    * would shorten the prefix and could MISS a pair); landing below only
    * lengthens it — more candidates, still exact. */
  private def inPrefix(threshold: Double): Column =
    col("__rn") <=
      col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1

  /** The per-doc prefix frame of the PPJoin candidate stage:
    * (doc_id, g, __n = doc's distinct-gram count, __rn = the gram's rank
    * under the global (df, g) rarity order), restricted to each doc's
    * [[inPrefix]] ranks and EAGERLY checkpointed (the candidate self-join
    * reads it twice above its exchange). */
  private def prefixFrame(postings: DataFrame,
                          threshold: Double): DataFrame =
    withRarityRanks(postings)
      .filter(inPrefix(threshold))
      .localCheckpoint(true)

  /** The PPJoin candidate-join condition over two [[prefixFrame]] aliases
    * `p1`/`p2`:
    *  - shared gram, canonical id order;
    *  - LENGTH filter: jaccard ≥ t needs c ≥ t·max(n_a, n_b) and
    *    c ≤ min(n_a, n_b), so size-incompatible pairs (min < t·max)
    *    can never qualify;
    *  - POSITIONAL filter: through a common gram at ranks (i, j), the
    *    overlap is at most 1 + min(n_a − i, n_b − j), and jaccard ≥ t
    *    needs overlap ≥ t/(1+t)·(n_a + n_b). Both docs rank grams under
    *    the SAME global order, so the common-gram subsequence appears in
    *    the same relative order in both — for the pair's FIRST common
    *    gram the bound is the true PPJoin upper bound, and per-row
    *    filtering is exact: if that row fails, every later common row's
    *    bound is tighter and the pair truly cannot reach the floor.
    * The 1e-9 slacks keep borderline fp products from excluding an
    * exactly-qualifying pair. */
  private def prefixCandCondition(threshold: Double): Column =
    col("p1.g") === col("p2.g") && col("p1.doc_id") < col("p2.doc_id") &&
      col("p1.__n").cast("double") >=
        lit(threshold) * col("p2.__n") - lit(1e-9) &&
      col("p2.__n").cast("double") >=
        lit(threshold) * col("p1.__n") - lit(1e-9) &&
      lit(1.0) + least(col("p1.__n") - col("p1.__rn"),
        col("p2.__n") - col("p2.__rn")).cast("double") >=
        lit(threshold / (1.0 + threshold)) *
          (col("p1.__n") + col("p2.__n")) - lit(1e-9)

  /** Scale-adaptive verify fan-out for the prefix pair engines (r16,
    * guide §2.5 input skew): AQE coalesces post-shuffle partitions by
    * BYTES, but the PPJoin verify's cost is per candidate ROW (two gram
    * ARRAY attachments + an array_intersect over the doc's gram set —
    * hundreds of ops per shuffled byte), so on a machine-trivial corpus
    * the coalesced verify stage ran 3-4 tasks on 32 cores (measured:
    * 3.7 s Σtask inside a 1.2 s stage). When the materialized postings
    * frame occupies fewer partitions than cores — the fixture condition;
    * corpus-scale postings always exceed it — pin the candidate frame's
    * partitioning to cores (explicit count = AQE keeps it) so the verify
    * stage is machine-wide. Identity at scale: no exchange added. */
  private def candFanOut(postings: DataFrame, cand: DataFrame,
                         keys: Seq[String]): DataFrame =
    // hash on the FIRST pair id only: repartitioning on the exact
    // (doc_a, doc_b) grouping key is provably satisfied by the groupBy's
    // own exchange, so the planner elides it and AQE coalesces the
    // surviving ENSURE_REQUIREMENTS exchange right back to the byte-sized
    // partition count this helper exists to avoid
    fanOutSmall(postings, cand, keys.head)

  /** The [[candFanOut]] gate as a reusable primitive: when the gauge
    * frame (the corpus-scale postings) occupies fewer partitions than
    * cores, hash-repartition `df` on `key` to machine width with an
    * EXPLICIT partition count (REPARTITION_BY_NUM — AQE keeps it); at
    * corpus scale the gate is false and the plan is untouched. */
  private def fanOutSmall(gauge: DataFrame, df: DataFrame,
                          key: String): DataFrame = {
    val cores = gauge.sparkSession.sparkContext.defaultParallelism
    if (gauge.rdd.getNumPartitions < cores) df.repartition(cores, col(key))
    else df
  }

  def jaccardPairsPrefix(docs: DataFrame, threshold: Double,
                         idCol: String = "doc_id", textCol: String = "text",
                         k: Int = 3,
                         grams: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold: prefix length n - ceil(t*n) + 1 needs t in (0, 1]")
    // EAGER checkpoints, not lazy caches: postings is a narrow pipeline
    // (scan → shingle → hash, no exchange) consumed by three branches
    // keyed three different ways (dfs by g, verify by doc_a and
    // (doc_b, g)) — nothing for ReusedExchange to share, so a lazy cache
    // races across the branches and re-shingles per branch (measured:
    // the one-job formulation ran 3.5-4 s; eager staging ~2× less). Same
    // for the windowed prefix frame, which the candidate self-join reads
    // twice above its exchange. The connectedComponents discipline.
    // A caller-shared [[cacheHashedPostings]] frame substitutes verbatim
    // (already checkpointed by the caller — no second materialization).
    val postings = grams
      .map(_.select(col("doc_id"), col("gram").as("g")))
      .getOrElse(shinglePostings(docs, idCol, textCol, k)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g"))
        .localCheckpoint(true))
    val prefix = prefixFrame(postings, threshold)
    val cand = candFanOut(postings, prefix.as("p1")
      .join(prefix.as("p2"), prefixCandCondition(threshold))
      .groupBy(col("p1.doc_id").as("doc_a"), col("p2.doc_id").as("doc_b"))
      .agg(first(col("p1.__n")).as("n_a"), first(col("p2.__n")).as("n_b")),
      Seq("doc_a", "doc_b"))
    // exact verification: per-doc gram ARRAYS + in-row array_intersect —
    // the classic PPJoin verify. The per-gram join formulation shuffled
    // |candidates| × |grams(doc)| rows (measured 6.2 s vs 0.5 s at sf0.1
    // on 648k candidates); here the candidate frame never explodes — two
    // equi-joins attach the gram arrays (one row per doc, broadcast when
    // small, plain shuffle joins at scale) and the intersection count is
    // a codegen'd in-row set op. Postings are distinct per doc, so
    // array_intersect's dedup is a no-op and the count is exact.
    val docArrays = postings.groupBy(col("doc_id"))
      .agg(collect_list(col("g")).as("gs"))
    cand
      .join(docArrays.select(col("doc_id").as("doc_a"), col("gs").as("__ga")),
        Seq("doc_a"))
      .join(docArrays.select(col("doc_id").as("doc_b"), col("gs").as("__gb")),
        Seq("doc_b"))
      .withColumn("n_common",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** Prefix-filtered containment pairs — the ASYMMETRIC variant of the
    * AllPairs/PPJoin discipline for overlap-coefficient joins. Containment
    * bounds the intersection by the SMALLER document only
    * (c ≥ t·min(n_a, n_b)), so a symmetric prefix self-join is unsound: a
    * tiny document embedded whole in a huge one can miss the huge side's
    * prefix entirely. The sound arrangement indexes the FULL ranked
    * postings and probes with the SMALLER side's prefix:
    *  - probe side: each doc's first `n − ⌈t·n⌉ + 1` grams under the
    *    global rarity order (if a qualifying pair shared none of the
    *    probe's prefix, c ≤ ⌈t·n_probe⌉ − 1 < t·n_probe — contradiction);
    *  - index side: every posting, with ranks (the small-side grams can
    *    sit ANYWHERE in the large side);
    *  - roles are fixed by (size, id) order, so each unordered pair is
    *    generated exactly once with the probe as its min side;
    *  - positional filter: through the pair's FIRST common gram at ranks
    *    (i, j), c ≤ 1 + min(n_p − i, n_x − j); requiring that bound to
    *    reach t·n_probe is exact per candidate row (later common rows
    *    only tighten it — the [[prefixCandCondition]] argument).
    * Candidate volume is Σ_g prefixDF(g)·DF(g): a stop-gram's document
    * frequency multiplies its PREFIX frequency — and rarity ordering
    * pushes stop-grams out of prefixes, so the product stays linear-ish
    * where the unfiltered posting join pays DF². No DF cap, exact at
    * every threshold; output identical to [[containmentPairs]]
    * (property-checked; the gate shares its oracle). */
  /** The asymmetric containment candidate-join condition over a PREFIX
    * alias `p1` (probe, the pair's min side) and a FULL ranked-postings
    * alias `p2` (index): shared gram; roles fixed by (size, id) so each
    * unordered pair is generated exactly once with the probe as its min
    * side; the PPJoin positional bound against `t·n_probe` (valid for
    * the pair's FIRST common gram under the shared global order — later
    * common rows only tighten it, so per-row filtering is exact). */
  private def containmentCandCondition(threshold: Double): Column =
    col("p1.g") === col("p2.g") &&
      (col("p1.__n") < col("p2.__n") ||
        (col("p1.__n") === col("p2.__n") &&
          col("p1.doc_id") < col("p2.doc_id"))) &&
      lit(1.0) + least(col("p1.__n") - col("p1.__rn"),
        col("p2.__n") - col("p2.__rn")).cast("double") >=
        lit(threshold) * col("p1.__n") - lit(1e-9)

  def containmentPairsPrefix(docs: DataFrame, threshold: Double,
                             idCol: String = "doc_id",
                             textCol: String = "text", k: Int = 3,
                             grams: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold: probe prefix length n - ceil(t*n) + 1 needs t in (0, 1]")
    val postings = grams
      .map(_.select(col("doc_id"), col("gram").as("g")))
      .getOrElse(shinglePostings(docs, idCol, textCol, k)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g"))
        .localCheckpoint(true))
    // the candidate join reads the ranked frame on BOTH sides (full index
    // + prefix subset) above its exchange — stage it once, filter for the
    // probe side (the jaccard engine checkpoints the filtered frame
    // instead because it never needs the full ranks)
    val ranked = withRarityRanks(postings).localCheckpoint(true)
    val probe = ranked.filter(inPrefix(threshold))
    val cand = candFanOut(postings, probe.as("p1")
      .join(ranked.as("p2"), containmentCandCondition(threshold))
      .groupBy(col("p1.doc_id").as("__u"), col("p2.doc_id").as("__v"))
      .agg(first(col("p1.__n")).as("n_u"), first(col("p2.__n")).as("n_v")),
      Seq("__u", "__v"))
    val docArrays = postings.groupBy(col("doc_id"))
      .agg(collect_list(col("g")).as("gs"))
    cand
      .join(docArrays.select(col("doc_id").as("__u"), col("gs").as("__ga")),
        Seq("__u"))
      .join(docArrays.select(col("doc_id").as("__v"), col("gs").as("__gb")),
        Seq("__v"))
      .withColumn("n_common",
        size(array_intersect(col("__ga"), col("__gb"))).cast("long"))
      .withColumn("containment", col("n_common").cast("double") /
        col("n_u").cast("double")) // n_u = min(n_u, n_v) by role
      .filter(col("containment") >= threshold)
      .select(least(col("__u"), col("__v")).as("doc_a"),
        greatest(col("__u"), col("__v")).as("doc_b"),
        col("n_common"), col("containment"))
  }

  /** Shared core of the posting-formulated pair scorers: candidate pairs
    * with their intersection and per-doc distinct-shingle sizes —
    * (doc_a < doc_b, n_common, n_a, n_b). See [[jaccardPairs]] for the
    * formulation and the `maxShingleDf` skew-guard contract. */
  private def pairCounts(docs: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, maxShingleDf: Option[Int],
                         grams: Option[DataFrame] = None): DataFrame = {
    // pair on a 64-bit shingle hash instead of the shingle string: same pair
    // counts (collision odds ~|shingles|²/2⁶⁴), ~4× less shuffle volume.
    // A caller-shared [[cacheHashedPostings]] frame substitutes verbatim.
    val raw = grams
      .map(_.select(col("doc_id"), col("gram").as("shingle")))
      .getOrElse(shinglePostings(docs, idCol, textCol, k)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")))
    val (common, counts) = maxShingleDf match {
      case Some(cap) =>
        // POSTING-LIST formulation: one aggregation builds each shingle's
        // document list; the DF guard is a plain size filter on it, and
        // candidate pairs EXPLODE out of the list as a projection — no
        // window, no self-join, two fewer exchanges than the join
        // formulation. The aggregation buffer is bounded by the caller's
        // cap... almost: one overflowing stop-shingle buffers cap+ entries
        // before the filter drops it, which is exactly the memory the
        // caller budgeted for pair generation anyway (a bucket of f docs
        // is f·8 bytes buffered vs f² join rows downstream — the buffer
        // is never the binding constraint). Checkpointed: pairs and per-doc
        // counts both read it, and it is ~10× smaller than the postings.
        val byShingle = raw.groupBy(col("shingle"))
          .agg(collect_list(col("doc_id")).as("__ds"))
          .filter(size(col("__ds")) <= cap)
          .localCheckpoint(true)
        val common = pairStream(byShingle.select(col("__ds")))
          // duplicate doc_id rows put the same id in one list twice; the
          // self-join formulation's strict < never pairs an id with itself,
          // so drop (x, x) here too — the cap/no-cap equivalence is a
          // documented contract
          .filter(col("__a") =!= col("__b"))
          .groupBy(col("__a").as("doc_a"), col("__b").as("doc_b"))
          .agg(count(lit(1)).as("n_common"))
        val counts = byShingle.select(explode(col("__ds")).as("doc_id"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
        (common, counts)
      case None =>
        // unguarded: the postings SELF-JOIN (shuffle keyed on the shingle,
        // cost Σ posting-list²) — no per-shingle buffering at all, for
        // callers who cannot bound the hot-shingle document frequency.
        // Checkpointed: the self-join + counts would otherwise re-run the
        // tokenize/shingle pipeline three times. (A caller-shared grams
        // frame is already checkpointed — don't stack a second copy on it.)
        val postings = if (grams.isDefined) raw else raw.localCheckpoint(true)
        val counts = postings.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"))
        val common = postings.as("p1")
          .join(postings.as("p2"), col("p1.shingle") === col("p2.shingle") &&
            col("p1.doc_id") < col("p2.doc_id"))
          .groupBy(col("p1.doc_id").as("doc_a"), col("p2.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_common"))
        (common, counts)
    }
    common
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), Seq("doc_a"))
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), Seq("doc_b"))
  }

  /** All unordered pairs of each row's `__ds` array, STREAMED as rows
    * (`__a`, `__b`), canonically (min, max)-ordered — the pair generator
    * the posting-list dedup formulations consume. Two pipelined generates
    * (posexplode the list, then explode each element's tail slice) keep
    * the peak per-row allocation O(f): the previous single-column
    * formulation (`flatten(transform(transform(...)))`) materialized the
    * ENTIRE f²/2-struct pair array per hot row before exploding it — a
    * 1000-doc capped list is ~500k structs (~24 MB) held at once, and ×32
    * concurrent tasks that transient spike was most of an 8 GB heap
    * (observed: bench reps of `dedup_containment` monotonically degrading
    * 2.6→6.9→17.4 s as GC debt accumulated). Output is identical; the
    * O(f²) pair ROWS still stream through codegen one at a time. */
  private def pairStream(lists: DataFrame): DataFrame =
    lists
      .select(col("__ds"), posexplode(col("__ds")).as(Seq("__i", "__x")))
      .select(col("__x"),
        explode(slice(col("__ds"), col("__i") + lit(2),
          greatest(size(col("__ds")) - col("__i") - 1, lit(0)))).as("__y"))
      .select(least(col("__x"), col("__y")).as("__a"),
        greatest(col("__x"), col("__y")).as("__b"))

  /** Fixed per-permutation universal-hash constants (odd multipliers +
    * offsets) for [[minhashes]]. Mirrored VERBATIM by the DuckDB oracle —
    * change both or neither. */
  private[operators] val MinhashA = Seq(981238597L, 673562387L, 552963643L,
    413158523L, 316199399L, 247073897L, 198491317L, 153889403L,
    122949829L, 104395301L)
  private[operators] val MinhashB = Seq(825377933L, 743900233L, 621445373L,
    536870923L, 433024253L, 362867483L, 297779117L, 247073891L,
    198491329L, 153889409L)
  private[operators] val MinhashMod = 1L << 28

  /** MinHash signatures via DERIVED permutations: ONE md5 per shingle
    * yields a 28-bit shingle hash h, and permutation i's value is the
    * universal-hash `(Aᵢ·h + Bᵢ) mod 2²⁸` with FIXED per-permutation odd
    * constants — the standard one-strong-hash + affine-permutation minwise
    * family (constants per PERMUTATION, not per shingle: deriving from the
    * shingle digest makes permutations correlated — the same shingle wins
    * every i — which measurably inflated candidate pairs). minhash_i = min
    * over the doc's shingles. Replaces hashing every shingle `numHashes`
    * times (md5 dominated the signature stage); all arithmetic is exact in
    * signed 64-bit (Aᵢ·h < 2⁶⁰), so every engine computes identical
    * signatures. All mins run in ONE hash aggregation over the postings
    * (no ×numHashes explode): one shuffle, codegen'd min.
    * Output: (doc_id, mh0..mh{n-1}) as longs. */
  def minhashes(docs: DataFrame, numHashes: Int,
                idCol: String = "doc_id", textCol: String = "text",
                k: Int = 3): DataFrame = {
    require(numHashes <= MinhashA.length,
      s"permutation-constant table sized for numHashes <= ${MinhashA.length}")
    val hashed = shinglePostings(docs, idCol, textCol, k)
      .select(col("doc_id"),
        graft.functions.Md5Prefix.prefix(col("shingle"), 7).as("__h"))
    def perm(i: Int) =
      pmod(lit(MinhashA(i)) * col("__h") + lit(MinhashB(i)), lit(MinhashMod))
    hashed.groupBy(col("doc_id"))
      .agg(
        min(perm(0)).as("mh0"),
        (1 until numHashes).map(i => min(perm(i)).as(s"mh$i")): _*)
  }

  /** MinHash-LSH candidate pairs: band the signature (`bandSize` hashes per
    * band), bucket docs by md5(band signature), join within buckets. Band
    * signatures are built from the wide minhash row (no extra shuffle);
    * for numHashes ≤ 10 the index-order concat equals the sorted concat of
    * "i|mh_i" strings, matching the order-insensitive definition. */
  /** @param maxBucketSize skew guard: skip (band, signature) buckets holding
    *        more than this many documents. One degenerate signature (empty
    *        or boilerplate documents all hashing alike) makes its bucket
    *        quadratic — b docs emit b²/2 candidate pairs inside the bucket
    *        regardless of corpus-side banding. Oversized buckets are almost
    *        always a degenerate content class, not genuine near-dups of one
    *        another; real members still pair through their other bands.
    *        Setting the cap switches to the posting-list formulation (one
    *        (band, sig) aggregation with cap-bounded list buffers, pairs
    *        exploded as a projection); without it the bucket self-join
    *        runs, which never buffers a bucket's membership. With a cap
    *        above the corpus's max bucket size the output is exactly the
    *        unguarded result (spec-verified). */
  /** (band, signature) structs over a wide minhash row — the ONE definition
    * of the banding scheme, shared by the pair join, the skew stats and
    * [[Decontaminate.fuzzyOverlap]]'s cross-frame candidates so they can
    * never drift apart. */
  private[operators] def bandStructs(numHashes: Int, bandSize: Int): Seq[Column] = {
    require(numHashes <= 10, "index-order concat assumes single-digit hash ids")
    (0 until numHashes / bandSize).map { b =>
      val parts = (b * bandSize until (b + 1) * bandSize)
        .map(i => concat_ws("|", lit(i), col(s"mh$i")))
      struct(lit(b).as("band"), md5(concat(parts: _*).cast("binary")).as("sig"))
    }
  }

  def minhashLshPairs(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 2,
                      idCol: String = "doc_id", textCol: String = "text",
                      k: Int = 3, maxBucketSize: Option[Int] = None): DataFrame = {
    val mh = minhashes(docs, numHashes, idCol, textCol, k)
    val rawBands = mh.select(col("doc_id"),
        explode(array(bandStructs(numHashes, bandSize): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    maxBucketSize match {
      case Some(cap) =>
        // posting-list formulation (see jaccardPairs): one (band, sig)
        // aggregation, size-capped lists, pairs exploded as a projection —
        // replaces the window guard + bucket self-join and their exchanges
        pairStream(rawBands.groupBy(col("band"), col("sig"))
            .agg(collect_list(col("doc_id")).as("__ds"))
            .filter(size(col("__ds")) <= cap)
            .select(col("__ds")))
          .filter(col("__a") =!= col("__b")) // see jaccardPairs
          .select(col("__a").as("doc_a"), col("__b").as("doc_b"))
          .distinct()
      case None =>
        // unguarded: bucket self-join, no per-bucket buffering.
        // Checkpointed — both join sides would re-run shingling + the
        // signature aggregation otherwise.
        val bands = rawBands.localCheckpoint(true)
        bands.as("b1")
          .join(bands.as("b2"), col("b1.band") === col("b2.band") &&
            col("b1.sig") === col("b2.sig") && col("b1.doc_id") < col("b2.doc_id"))
          .select(col("b1.doc_id").as("doc_a"), col("b2.doc_id").as("doc_b"))
          .distinct()
    }
  }

  /** Group-level MinHash similarity matrix via MERGEABLE sketches (L142)
    * — "how much does source A's content overlap source B's?" answered
    * WITHOUT ever pairing documents: a group's signature is the
    * elementwise MIN of its shingles' permutation hashes (minwise
    * signatures are mergeable — min(A ∪ B) = min(min A, min B) — so one
    * map-side-combined aggregation per group builds them, and snapshots
    * combine by another min), and the pairwise estimate is signature
    * agreement. Complements [[pairGroupMatrix]] (which counts actual
    * near-dup PAIRS and pays pair generation): the sketch matrix reads
    * whole-group set overlap at one signature row per group.
    *
    * est_micro = n_agree·10⁶ div numHashes — integer, engine-exact.
    *
    * Scale shape: the corpus is scanned ONCE (shingle postings keyed by
    * the group); signatures are one groupBy(min…) with map-side combine;
    * the pairing join touches only the GROUPS-sized signature frame. For
    * millions of groups, band the signatures first (the
    * [[minhashLshPairs]] arrangement on the signature frame) — at the
    * sources/domains granularity this report targets, the direct
    * triangular join is the right shape. */
  def minhashMatrix(docs: DataFrame, groupCol: String, numHashes: Int = 8,
                    textCol: String = "text", k: Int = 3): DataFrame = {
    val sig = minhashes(docs, numHashes, groupCol, textCol, k)
      .localCheckpoint(true)
    val a = sig.toDF("src_a" +: (0 until numHashes).map(i => s"__a$i"): _*)
    val b = sig.toDF("src_b" +: (0 until numHashes).map(i => s"__b$i"): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("n_agree", agree)
      .select(col("src_a"), col("src_b"), col("n_agree"),
        expr(s"(n_agree * 1000000) div $numHashes").as("est_micro"))
  }

  /** MinHash estimator calibration (L137) — the reliability table a
    * dedup tier owes before its LSH threshold gates a corpus (the
    * [[graft.operators.QualityModel.calibrationReport]] discipline
    * applied to similarity estimates): per agreement level
    * n_agree ∈ [0, numHashes], how far does the MinHash estimate
    * n_agree/numHashes sit from the mean EXACT Jaccard of the candidate
    * pairs that landed there? A mis-calibrated band (estimate far above
    * exact) means the (numHashes, bandSize) choice admits junk pairs at
    * the configured threshold.
    *
    * All integer micro units: est_micro = n_agree·10⁶ div numHashes
    * (constant per row), exact per pair = |A∩B|·10⁶ div |A∪B| over
    * distinct k-shingles, means as floor divisions — engine-exact.
    *
    * Scale shape: candidates from the banded self-join (the
    * [[minhashLshPairs]] shape, one shared signature frame feeding both
    * the banding and the agreement join); agreement is a projection over
    * the wide signature rows joined to the OUTPUT-sized pair frame;
    * exact Jaccard joins per-doc distinct-shingle ARRAYS to the pair
    * frame (in-row array_intersect, the [[jaccardPairsPrefix]] verify
    * idiom); the final rollup is a ≤ numHashes+1-row aggregation. The
    * corpus is scanned twice (signatures, shingle arrays) and never
    * self-joins outside the banded candidate join. */
  def minhashCalibration(docs: DataFrame, numHashes: Int = 8,
                         bandSize: Int = 2, idCol: String = "doc_id",
                         textCol: String = "text", k: Int = 3): DataFrame = {
    val mh = minhashes(docs, numHashes, idCol, textCol, k)
      .localCheckpoint(true)
    val bands = mh.select(col("doc_id"),
        explode(array(bandStructs(numHashes, bandSize): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val pairs = bands.as("b1")
      .join(bands.as("b2"), col("b1.band") === col("b2.band") &&
        col("b1.sig") === col("b2.sig") && col("b1.doc_id") < col("b2.doc_id"))
      .select(col("b1.doc_id").as("doc_a"), col("b2.doc_id").as("doc_b"))
      .distinct()
    val aSide = mh.toDF("doc_a" +: (0 until numHashes).map(i => s"__a$i"): _*)
    val bSide = mh.toDF("doc_b" +: (0 until numHashes).map(i => s"__b$i"): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val grams = docs.select(col(idCol).as("doc_id"),
      array_distinct(graft.functions.WordShingles.shingles(col(textCol), k))
        .as("__g"))
    val ga = grams.select(col("doc_id").as("doc_a"), col("__g").as("__ga"))
    val gb = grams.select(col("doc_id").as("doc_b"), col("__g").as("__gb"))
    val scored = pairs
      .join(aSide, Seq("doc_a")).join(bSide, Seq("doc_b"))
      .withColumn("n_agree", agree)
      .select(col("doc_a"), col("doc_b"), col("n_agree"))
      .join(ga, Seq("doc_a")).join(gb, Seq("doc_b"))
      .withColumn("__i", size(array_intersect(col("__ga"), col("__gb")))
        .cast("long"))
      .withColumn("__u",
        size(col("__ga")).cast("long") + size(col("__gb")) - col("__i"))
      .withColumn("exact_micro", expr("(__i * 1000000) div __u"))
    scored.groupBy(col("n_agree"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("exact_micro")).as("__sum"))
      .select(col("n_agree"),
        col("n_pairs"),
        expr(s"(n_agree * 1000000) div $numHashes").as("est_micro"),
        expr("__sum div n_pairs").as("mean_exact_micro"))
      .withColumn("gap_micro",
        abs(col("est_micro") - col("mean_exact_micro")))
  }

  /** Skew counters for the [[jaccardPairs]] guard: one row with the max
    * shingle document frequency, how many shingles a given cap would drop,
    * and how many postings they carry. Run (and log) when tuning
    * `maxShingleDf` — the operators themselves stay pure plan builders. */
  def jaccardSkewStats(docs: DataFrame, cap: Int, idCol: String = "doc_id",
                       textCol: String = "text", k: Int = 3): DataFrame =
    shinglePostings(docs, idCol, textCol, k)
      .groupBy(xxhash64(col("shingle")).as("shingle"))
      .agg(count(lit(1)).as("df"))
      .agg(max(col("df")).as("max_shingle_df"),
        sum(when(col("df") > cap, 1L).otherwise(0L)).as("n_shingles_dropped"),
        sum(when(col("df") > cap, col("df")).otherwise(0L)).as("n_postings_dropped"))

  /** Skew counters for the [[minhashLshPairs]] guard: max bucket size and
    * what a given `maxBucketSize` cap would drop. */
  def lshSkewStats(docs: DataFrame, cap: Int, numHashes: Int = 8,
                   bandSize: Int = 2, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 3): DataFrame = {
    val mh = minhashes(docs, numHashes, idCol, textCol, k)
    mh.select(col("doc_id"),
        explode(array(bandStructs(numHashes, bandSize): _*)).as("bs"))
      .groupBy(col("bs.band").as("band"), col("bs.sig").as("sig"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("max_bucket_size"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_buckets_dropped"),
        sum(when(col("n") > cap, col("n")).otherwise(0L)).as("n_docs_in_dropped"))
  }

  /** 16-bit SimHash from per-token md5 digests: bit j is the sign of the sum
    * over tokens of ±1 according to the parity of hex nibble j. Token
    * multiplicity counts (standard SimHash weighting by term frequency). */
  def simhash(text: Column, bits: Int = 16): Column = {
    val toks = TextAnalysis.tokens(text)
    val digests = transform(toks, t => md5(t.cast("binary")))
    val bitCols = (1 to bits).map { j =>
      val contrib = aggregate(digests, lit(0),
        (acc, d) => acc +
          (instr(lit("0123456789abcdef"), substring(d, j, 1)) - 1) % 2 * 2 - 1)
      when(contrib > 0, lit(1L << (j - 1))).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** SimHash dup candidates: documents sharing an identical 16-bit sketch.
    *
    * Set-based formulation: explode tokens → md5 once per token → ONE
    * codegen'd hash aggregation computing all 16 bit sums (the per-row
    * [[simhash]] column is a 16-pass interpreted fold — fine for a few rows,
    * wrong shape for a corpus).
    *
    * Output per sketch group: `n_docs`, the canonical `keep_id` (min id),
    * and `doc_ids` — a BOUNDED sample of the `sampleSize` smallest member
    * ids, not the full membership. A degenerate sketch (near-empty docs all
    * hashing to one group) would otherwise make one output row carry the
    * whole class. The sample is a TWO-PHASE cut so no single task ever
    * sorts a whole sketch group: phase 1 ranks within (sim, id-hash
    * sub-partition) — a degenerate sketch's membership spreads over
    * `samplePartitions` tasks — and keeps only ranks ≤ sampleSize (the
    * global sampleSize smallest ids are each among their own
    * sub-partition's smallest sampleSize, so the union provably contains
    * them); phase 2 merges the ≤ samplePartitions × sampleSize survivors
    * per sketch and slices the final sampleSize. Counts and keep_id
    * aggregate per (sim, sub-partition) first, riding phase 1's exchange,
    * then fold in a second aggregation over the already-tiny per-bucket
    * rows. Full membership, when needed, is a join back on `sim` — not a
    * wide row. */
  def simhashGroups(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", bits: Int = 16,
                    sampleSize: Int = 16, samplePartitions: Int = 16): DataFrame = {
    val perToken = TextAnalysis.explodeTokens(docs, col(textCol), "tk",
        Seq(col(idCol).as("doc_id")))
      .select(col("doc_id"), md5(col("tk").cast("binary")).as("h"))
    val bitSums = perToken.groupBy(col("doc_id"))
      .agg(
        sum((instr(lit("0123456789abcdef"), substring(col("h"), 1, 1)) - 1) % 2 * 2 - 1).as("s1"),
        (2 to bits).map(j =>
          sum((instr(lit("0123456789abcdef"), substring(col("h"), j, 1)) - 1) % 2 * 2 - 1)
            .as(s"s$j")): _*)
    val sim = (1 to bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L))).reduce(_ + _)
    val rn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sim"), col("__pfx")).orderBy(col("doc_id"))
    bitSums.select(col("doc_id"), sim.as("sim"))
      .withColumn("__pfx", pmod(xxhash64(col("doc_id")), lit(samplePartitions.toLong)))
      .withColumn("__rn", row_number().over(rn))
      // phase 1: per (sim, sub-partition) — rides the window's exchange;
      // collect_list skips nulls: only the sampleSize lowest-ranked ids of
      // each sub-partition ever enter the buffer
      .groupBy(col("sim"), col("__pfx"))
      .agg(count(lit(1)).as("__n"), min(col("doc_id")).as("__min"),
        collect_list(when(col("__rn") <= sampleSize, col("doc_id"))).as("__ids"))
      // phase 2: ≤ samplePartitions rows per sketch — the merge buffer is
      // bounded by samplePartitions × sampleSize regardless of group size
      .groupBy(col("sim"))
      .agg(sum(col("__n")).as("n_docs"), min(col("__min")).as("keep_id"),
        slice(sort_array(flatten(collect_list(col("__ids")))), 1, sampleSize)
          .as("doc_ids"))
      .filter(col("n_docs") > 1)
  }

  /** Connected components over an undirected near-dup pair list — the step
    * that turns detector output (pairs, possibly from SEVERAL detectors
    * unioned) into dedup clusters and a canonical survivor per cluster.
    *
    * Algorithm: min-label propagation (BSP) — each round every vertex takes
    * the min label among itself and its neighbors; converges in O(cluster
    * diameter) rounds. Near-dup clusters are near-cliques (diameter 2-3),
    * so 3-4 rounds in practice; `maxIter` caps adversarial chains (the
    * large-star/small-star variant is the drop-in upgrade if long paths
    * ever matter). Each round is one join + one min-aggregation — shuffle
    * volume is O(edges), never materializing anything quadratic.
    *
    * Per-round cost is ONE materialization job: labels carry their
    * previous value through the min-aggregation (`min` skips the nulls the
    * propagated branch contributes), and the convergence probe OBSERVES
    * that job (`Dataset.observe` riding the eager checkpoint — delivery is
    * spec-pinned) instead of running any job of its own; if the metric is
    * ever missing, a scalar aggregation over the checkpointed blocks is
    * the exact fallback. Rounds 1 AND 2 are folded into initialization:
    * with identity labels, one propagation round IS
    * `min(id, min(neighbors))` — a single aggregation over the edge list —
    * and the second is one more join + aggregation over that label frame,
    * with no checkpoint between them and no probe (the loop's convergence
    * evidence always compares within its own round). Near-dup clusters
    * have diameter 2-4, so the folded init covers distance-2 reach
    * outright and the FIRST probed round both finishes diameter-3/4
    * graphs and proves fixpoint for diameter ≤ 2.
    * Every round ends in an eager localCheckpoint so the
    * logical plan — not just the data — stays round-sized (persist alone
    * leaves analysis re-walking every previous round's nested plan).
    * localCheckpoint trades fault tolerance for speed: its blocks do not
    * recompute from lineage, so on clusters with executor churn (dynamic
    * allocation, spot nodes) a lost executor fails the job — pass
    * `reliableCheckpoints = true` there (requires
    * `SparkContext.setCheckpointDir` on durable storage; rounds then
    * survive any executor loss). Intermediate rounds' blocks become
    * unreachable as soon as the loop advances and are released by the
    * ContextCleaner (deferred, not leaked).
    *
    * Output: (id, component, is_canonical) where component = min id
    * reachable, is_canonical marks the survivor a keep-list retains.
    * Only ids appearing in `pairs` are emitted (singletons are trivially
    * canonical and usually vastly outnumber members — callers anti-join).
    *
    * `maxIter` counts TOTAL propagation rounds including the TWO folded
    * into initialization — but convergence is only observable from round
    * 3 onward (the probe rides each probed round's label update), so the
    * minimum usable budget is 3: a graph already at fixpoint after the
    * folded rounds still needs one probe round to prove it.
    *
    * SIZE-GATED LOCAL FAST PATH (`maxLocalEdges`): after the edge list
    * materializes (pair GENERATION is always distributed — that is the
    * corpus-sized work), a pair graph at or under the threshold with
    * integral ids is solved by one driver-side union-find over the
    * collected edges — identical labels (component = min reachable id)
    * with ZERO label-round jobs. This is the broadcast-join discipline
    * applied to components: the engine picks the physical strategy from
    * the measured size, because near-dup pair graphs are output-sized
    * (pairs ABOVE a similarity threshold), typically orders below the
    * corpus, and the BSP's per-round checkpoint latency dominates end to
    * end on them (probed: ~0.6 s of label rounds for a 47-component
    * graph). The default (500k edges ≈ 8 MB collected) is far under
    * driver budgets; graphs above it — or with non-integral ids — run
    * the BSP rounds unchanged, and `maxLocalEdges = 0` forces BSP (the
    * specs pinning round mechanics do). Convergence-budget semantics:
    * the local path is exact regardless of diameter, so `maxIter` only
    * governs the distributed route (the documented throw still covers
    * long chains past the threshold). */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxIter: Int = 25,
                          reliableCheckpoints: Boolean = false,
                          maxLocalEdges: Long = 500000L): DataFrame = {
    require(maxIter >= 3,
      s"maxIter=$maxIter: the budget counts the two rounds folded into " +
        "initialization, and convergence is first observable on round 3 — " +
        "pass maxIter >= 3")
    def checkpointed(df: DataFrame): DataFrame =
      if (!reliableCheckpoints) df.localCheckpoint(true)
      else {
        // persist-then-checkpoint: without the persist, the eager count
        // materializes the plan once and the checkpoint WRITE recomputes
        // the whole lineage a second time (documented RDD.checkpoint
        // behavior). NOTE reliable checkpoint files are not auto-deleted
        // (spark.cleaner.referenceTracking.cleanCheckpoints defaults to
        // false) — enable that conf or clean the checkpoint dir after
        // long runs.
        val cached = df.persist()
        val out = cached.checkpoint(true)
        cached.unpersist()
        out
      }
    // pairs appears twice in the symmetric-closure plan (both directions),
    // and a self-union recomputes its whole upstream pipeline per branch —
    // persist for the one job that materializes edges, then release (but
    // never clobber a persistence the CALLER established).
    val callerPersisted =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerPersisted) pairs else pairs.persist()
    // the size-gate count IS the materializing job: persist the symmetric
    // closure, count it (fills the cache), and only the BSP route pays a
    // checkpoint — written FROM the cache, so pair generation runs exactly
    // once either way. (The previous shape checkpointed first and then
    // counted, spending one extra scheduling+scan round-trip per call —
    // measured ~0.1 s of the corpus_pipeline floor.)
    val sym = p
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(p.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist()
    val edgeCount = sym.count()
    if (!callerPersisted) p.unpersist()
    // integral ids only, so the min-label ordering is unambiguous across
    // engines
    val idType = sym.schema("src").dataType
    val integralIds =
      idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType
    if (integralIds && maxLocalEdges > 0 && edgeCount <= maxLocalEdges) {
      val es = sym
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      sym.unpersist()
      // union-find; component label = min id reachable, exactly the BSP's
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val comp = parent.keys.map(id => id -> find(id)).toMap
      val minOf = comp.groupBy(_._2).map { case (root, ids) =>
        root -> ids.keys.min }
      val rows = comp.toSeq.sorted.map { case (id, root) =>
        (id, minOf(root), id == minOf(root)) }
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = rows.toDF("id", "component", "is_canonical")
      return if (idType == org.apache.spark.sql.types.IntegerType)
        out.select(col("id").cast("int").as("id"),
          col("component").cast("int").as("component"),
          col("is_canonical"))
      else out
    }
    // BSP route: edges is CHECKPOINTED, not just persisted — every round's
    // query references it, and analysis would re-walk the full upstream
    // pair-generation plan each time. The write reads sym's cached blocks.
    val edges = checkpointed(sym)
    sym.unpersist()
    // rounds 1 AND 2 folded into initialization: the symmetric closure
    // makes every vertex a `src`, so min(src, min(dst)) IS the first
    // propagation round (one aggregation over edges), and the second is
    // one join + aggregation over that label frame — label1 appears twice
    // in the plan (self + propagated branch), which re-runs the small
    // edge aggregation against edges' CHECKPOINTED blocks, cheaper than
    // interposing another eager checkpoint. Neither folded round probes:
    // labels may change in either without affecting the loop's evidence
    // (the probe always compares within its own round).
    val label1 = edges.groupBy(col("src").as("id"))
      .agg(least(first(col("src")), min(col("dst"))).as("comp"))
    var labels = checkpointed(label1
      .unionByName(edges
        .join(label1.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp")))
      .groupBy("id").agg(min("comp").as("comp")))
    // Each round ends in an EAGER localCheckpoint: caching alone is not
    // enough for iterative plans — the logical plan still nests every
    // previous round, so driver-side analysis/optimization grows per round
    // and dominates small-graph wall time (measured 5.6 s for 264 edges).
    // The checkpoint truncates lineage to the materialized blocks, keeping
    // planning O(1) per round. The convergence probe (exact changed-label
    // count — labels only ever decrease, zero = fixed point) rides the same
    // aggregation: the self branch carries `prev`, the propagated branch
    // contributes null there, and min() ignores nulls — so `prev` survives
    // the groupBy and the probe is a scalar agg over the checkpointed
    // blocks instead of a second join job per round.
    var iter = 2
    var converged = false
    while (!converged && iter < maxIter) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        // null "prev" OF COMP'S OWN TYPE (ids may be long or string): the
        // when(false) trick types the null without naming the type
        .select(col("dst").as("id"), col("comp"),
          when(lit(false), col("comp")).as("prev"))
      val self = labels.select(col("id"), col("comp"),
        col("comp").as("prev"))
      // the probe OBSERVES the checkpoint's own materialization job
      // (CollectMetrics accumulates during the eager count) — zero extra
      // jobs per round; if the metric hasn't been delivered (getOrEmpty
      // is non-blocking modulo a 100 ms grace), fall back to a scalar
      // aggregation over the just-checkpointed blocks
      val obs = org.apache.spark.sql.Observation()
      val next = checkpointed(self.unionByName(propagated)
        .groupBy("id").agg(min("comp").as("comp"), min("prev").as("prev"))
        .observe(obs, sum(when(col("comp") < col("prev"), 1L)).as("changed")))
      val changed = org.apache.spark.sql.GraftColumnBridge
        .observedOrEmpty(obs).get("changed") match {
        case Some(n: java.lang.Long) => n.longValue()
        case Some(null)              => 0L // empty graph: sum over no rows
        case _ => next
          .agg(coalesce(sum(when(col("comp") < col("prev"), 1L)), lit(0L)))
          .head().getLong(0)
      }
      labels = next.select(col("id"), col("comp"))
      converged = changed == 0
      iter += 1
    }
    // silent under-merge would split true clusters into several survivors
    // (and fail any exact oracle); a diameter above maxIter means the
    // caller should raise it or switch to large-star/small-star
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "pair graph diameter exceeds maxIter")
    labels.select(col("id"), col("comp").as("component"),
      (col("comp") === col("id")).as("is_canonical"))
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", Algorithm 2) — the long-path upgrade over
    * [[connectedComponents]]' min-label propagation: label propagation
    * needs O(diameter) rounds (an adversarial 10⁶-node chain is 10⁶
    * rounds), star contraction converges in O(log² n) regardless of
    * diameter. Near-dup clusters are near-cliques, so the BSP default
    * stays the right tool there; reach for this when the pair graph can
    * contain long chains (transitive similarity at loose thresholds,
    * entity-resolution edges).
    *
    * One round = large-star (every node hangs its LARGER neighbors onto
    * its closed-neighborhood min) then small-star (smaller neighbors and
    * itself onto the min). Each is one aggregation + one join over the
    * edge set — O(edges) shuffle per op, nothing quadratic; every op ends
    * in the same eager-checkpoint discipline as the BSP (O(1) planning per
    * round). Fixpoint = the edge set is a star forest (leaf → component
    * min); convergence is detected STRUCTURALLY — every node is a pure
    * center or a pure single-edge leaf — by a probe riding the round's
    * large-star aggregation via `observe` (zero jobs of its own, the BSP
    * discipline), which both drops the old union-distinct equality job
    * and stops one full round earlier (star-forest-ness of the round's
    * input needs no next == edges comparison).
    *
    * Output contract is identical to [[connectedComponents]]:
    * (id, component, is_canonical), only ids that appear in `pairs`,
    * component = min reachable id, self-loop-only ids kept as canonical
    * singletons (spec-checked equal on random graphs incl. self-loops). */
  def connectedComponentsStars(pairs: DataFrame, aCol: String = "a",
                               bCol: String = "b", maxIter: Int = 20,
                               reliableCheckpoints: Boolean = false): DataFrame = {
    def checkpointed(df: DataFrame): DataFrame =
      if (!reliableCheckpoints) df.localCheckpoint(true)
      else {
        val cached = df.persist()
        val out = cached.checkpoint(true)
        cached.unpersist()
        out
      }
    // pairs is read twice below (edges + self-loop ids) — persist for the
    // two materializing jobs unless the caller already did, then release
    val callerPersisted =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerPersisted) pairs else pairs.persist()
    // canonical (larger, smaller) direction, self-loops and dups dropped
    var edges = checkpointed(p
      .select(col(aCol).as("x"), col(bCol).as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct())
    // ids whose ONLY edges are self-loops (a, a) would otherwise vanish
    // with the filter above, while [[connectedComponents]] keeps them as
    // canonical singletons (the symmetric closure makes (a, a) a real
    // vertex there) — capture them now and re-attach any the star forest
    // doesn't surface. Checkpointed: referenced after the loop, long
    // after p is unpersisted.
    val selfIds = checkpointed(p.filter(col(aCol) === col(bCol))
      .select(col(aCol).as("id")).distinct())
    if (!callerPersisted) p.unpersist()
    var iter = 0
    var converged = false
    // per-node star-forest violation test over the symmetric view: a node
    // is either a pure CENTER (all neighbors larger — its closed-
    // neighborhood min is itself) or a pure LEAF (exactly one neighbor,
    // smaller); a directed-distinct edge set is the alternation's fixpoint
    // iff NO node violates this (disjoint stars map to themselves under
    // both ops, anything else changes)
    def starStats(sym: DataFrame): DataFrame = sym.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"),
        count(lit(1)).as("__deg"), max(col("v")).as("__maxv"))
    def violations: Column = coalesce(sum(when(!(col("m") === col("u") ||
      (col("__deg") === lit(1L) && col("__maxv") < col("u"))), 1L)),
      lit(0L))
    while (!converged && iter < maxIter) {
      // large-star: group the SYMMETRIC view by node, hang larger
      // neighbors onto min(closed neighborhood)
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      // the convergence probe rides THIS aggregation via observe (the
      // [[connectedComponents]] discipline — no job of its own): checking
      // star-forest-ness of the round's INPUT stops as soon as the
      // previous round emitted the star forest, where the old
      // count + set-equality check paid one MORE full round (to observe
      // next == edges) plus a union-distinct job per candidate round. The
      // detection round itself only runs the large-star half (over a star
      // forest ls ≡ edges, discarded); scalar-aggregation fallback over
      // the checkpointed edges if the metric is ever missing.
      val obs = org.apache.spark.sql.Observation()
      val lsMin = starStats(sym)
        .observe(obs, violations.as("bad"))
        .select(col("u"), col("m"))
      val ls = checkpointed(sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      val bad = org.apache.spark.sql.GraftColumnBridge
        .observedOrEmpty(obs).get("bad") match {
        case Some(n: java.lang.Long) => n.longValue()
        case Some(null)              => 0L // empty edge set
        case _ => starStats(sym).agg(violations).head().getLong(0)
      }
      if (bad == 0L) {
        converged = true // edges IS the star forest; ls ≡ edges, unused
      } else {
        // small-star: large-star output is already (larger → smaller)-
        // directed, which IS small-star's grouping form; smaller
        // neighbors and the node itself hang onto the min
        val ssMin = ls.groupBy("u")
          .agg(least(min(col("v")), first(col("u"))).as("m"))
        edges = checkpointed(ls.join(ssMin, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(ssMin.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .distinct())
      }
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStars did not converge in $maxIter rounds")
    // fixpoint is a star forest: every leaf holds one (leaf → center)
    // edge; centers are their own component
    val members =
      edges.select(col("u").as("id"), col("v").as("component"))
        .unionByName(edges.select(col("v").as("id"), col("v").as("component")))
        .distinct()
    // self-loop-only ids come back as their own singleton components
    // (identical to the BSP's output for (a, a) inputs)
    val singletons = selfIds
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    members.unionByName(singletons)
      .select(col("id"), col("component"),
        (col("component") === col("id")).as("is_canonical"))
  }

  /** The deduplicated corpus: every document except non-canonical cluster
    * members — the terminal step of the dedup pipeline (detectors → pairs
    * → [[connectedComponents]] → keep list). A left-anti join against the
    * (small) non-canonical id set: the corpus never shuffles more than its
    * id column, and untouched documents (the overwhelming majority) pass
    * through unexamined. */
  def applyKeepList(docs: DataFrame, components: DataFrame,
                    idCol: String = "doc_id"): DataFrame =
    docs.join(
      components.filter(!col("is_canonical")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** [[applyKeepList]] with a QUALITY keep rule: per duplicate cluster,
    * keep the member maximizing `rank` (ties to the lowest id) instead of
    * the canonical min-id — the production choice when near-duplicates
    * differ in worth (keep the longest copy, the highest quality score,
    * the newest crawl). `rank` is any NUMERIC expression over `docs`'
    * columns (the tie-break negates it).
    *
    * Scale shape: the cluster-membership table is tiny next to the corpus;
    * the rank join projects (id, rank) for MEMBER docs only, the winner is
    * one component-keyed aggregation, and the corpus pays a single id-only
    * anti-join — untouched documents (the overwhelming majority) pass
    * through unexamined, exactly like [[applyKeepList]]. */
  def applyKeepListBest(docs: DataFrame, components: DataFrame, rank: Column,
                        idCol: String = "doc_id"): DataFrame = {
    val members = components.select(col("id"), col("component"))
    val scored = docs.select(col(idCol).as("id"), rank.as("__q"))
      .join(members, Seq("id"))
    val winners = scored.groupBy(col("component"))
      .agg(min(struct(negate(col("__q")).as("nq"), col("id").as("id")))
        .as("__w"))
      .select(col("__w.id").as("id"))
    val dropIds = members.select(col("id"))
      .join(winners, Seq("id"), "left_anti")
    docs.join(dropIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** [[applyKeepListBest]] generalized to a KEEP-K policy: per duplicate
    * cluster keep the TOP-K members by `rank` (ties to the lowest id)
    * instead of a single winner — the diversity-preserving choice when a
    * modern mix wants in-cluster variation retained (near-duplicate
    * paraphrases, translations, version histories) while still capping
    * redundancy. `k = 1` is EXACTLY [[applyKeepListBest]] (spec-checked:
    * both order by (−rank, id)).
    *
    * Scale shape unchanged from keep-best: the per-component ranking is
    * one window over the OUTPUT-sized member frame (partitioned by
    * component — never a global window), and the corpus pays the same
    * single id-only anti-join. */
  def applyKeepListK(docs: DataFrame, components: DataFrame, rank: Column,
                     k: Int, idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k=$k: need >= 1")
    val members = components.select(col("id"), col("component"))
    val scored = docs.select(col(idCol).as("id"), rank.as("__q"))
      .join(members, Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(negate(col("__q")), col("id"))
    val dropIds = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > k).select(col("id"))
    docs.join(dropIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Component-size histogram — the dedup SUMMARY a curation run prints:
    * per near-dup cluster size, how many clusters, how many documents
    * they hold, how many a keep-one policy removes (size −1 each), and
    * how many a KEEP-K policy would remove (max(0, size − keepK) each —
    * the [[applyKeepListK]] budget column, r13). Input is any
    * [[connectedComponents]]-shaped frame; singletons are not in the
    * pair graph (the CC contract) and report via the corpus total the
    * caller already has. Two component-keyed aggregations over the
    * OUTPUT-sized label frame — the corpus never appears. */
  def componentSizeReport(components: DataFrame, keepK: Int = 1): DataFrame = {
    require(keepK >= 1, s"keepK=$keepK: need >= 1")
    components.groupBy(col("component")).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"), sum(col("__sz")).as("n_docs"))
      .withColumn("n_removed", col("n_docs") - col("n_components"))
      .withColumn("n_removed_at_k",
        col("n_components") *
          greatest(col("component_size") - lit(keepK.toLong), lit(0L)))
  }

  /** Cross-GROUP duplication matrix — dedup forensics: which sources /
    * domains / crawl snapshots duplicate WHICH (mirror detection, content
    * laundering, snapshot overlap). `pairs` are near-dup pairs from any
    * pair engine ([[minhashLshPairs]], [[jaccardPairs]], …); `membership`
    * maps ids to groups; each pair lands on its unordered (least,
    * greatest) group pair. A pair whose id is missing from `membership`
    * drops (inner joins), and a NULL group is treated as missing
    * membership — least/greatest skip nulls, so keeping such rows would
    * fabricate an intra-group (g, g) pair out of (null, g). Run the
    * matrix over the same corpus the pairs came from.
    * `membership` must be UNIQUE per id (a duplicate id row
    * multiplies every pair it touches — the joins are taken as given, not
    * deduplicated, so a caller aggregating per-snapshot membership keeps
    * control of that semantics).
    *
    * Scale shape: two id-keyed joins on the OUTPUT-sized pair frame plus
    * one aggregation keyed on the group pair — the corpus itself never
    * re-shuffles here (pair generation upstream is the corpus-scale
    * work). Output: (group_a, group_b, n_pairs), group_a <= group_b. */
  def pairGroupMatrix(pairs: DataFrame, membership: DataFrame,
                      idCol: String = "doc_id", groupCol: String = "group",
                      aCol: String = "doc_a",
                      bCol: String = "doc_b"): DataFrame = {
    val m = membership.select(col(idCol).as("__id"), col(groupCol).as("__g"))
      .filter(col("__g").isNotNull)
    pairs.select(col(aCol), col(bCol))
      .join(m.select(col("__id").as(aCol), col("__g").as("__ga")), Seq(aCol))
      .join(m.select(col("__id").as(bCol), col("__g").as("__gb")), Seq(bCol))
      .select(least(col("__ga"), col("__gb")).as("group_a"),
        greatest(col("__ga"), col("__gb")).as("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Blocked-Levenshtein near-duplicate pairs over a SHORT key column —
    * the record-linkage tier (titles, names, product strings: fields
    * where "one typo apart" is the duplicate signal k-gram Jaccard
    * misses on short text). Standard ER blocking: only rows sharing the
    * key's first `blockLen` characters ever compare (a leading-character
    * edit escapes the block — the classic blocking trade-off; run again
    * with a different block, e.g. a suffix, to tighten recall), and the
    * candidate pairs verify with exact unit-cost edit distance —
    * Levenshtein's integer DP is bit-identical in any engine, so the
    * gate needs no quantization.
    *
    * `maxBlockSize` drops blocks with more distinct rows than the bound
    * before pairing (the hot-prefix quadratic defense — same contract as
    * [[minhashLshPairs]]'s maxBucketSize); `None` disables.
    *
    * Output: (id_a, id_b, key_a, key_b, distance), id_a < id_b,
    * distance ≤ maxDistance. Null/empty keys block together under the
    * empty prefix and compare by their (short) distance like any pair. */
  def levenshteinPairs(df: DataFrame, keyCol: String, blockLen: Int,
                       maxDistance: Int, idCol: String = "doc_id",
                       maxBlockSize: Option[Int] = Some(1000)): DataFrame = {
    require(blockLen >= 1, s"blockLen=$blockLen")
    require(maxDistance >= 0, s"maxDistance=$maxDistance")
    val keyed = df.select(col(idCol).as("__id"),
        coalesce(col(keyCol), lit("")).as("__k"))
      .withColumn("__blk", substring(col("__k"), 1, blockLen))
    val guarded = maxBlockSize match {
      case Some(m) =>
        require(m >= 2, s"maxBlockSize=$m")
        val hot = keyed.groupBy(col("__blk"))
          .agg(count(lit(1)).as("__nb")).filter(col("__nb") > m)
          .select(col("__blk"))
        keyed.join(hot, Seq("__blk"), "left_anti")
      case None => keyed
    }
    val a = guarded.select(col("__blk"), col("__id").as("id_a"),
      col("__k").as("key_a"))
    val b = guarded.select(col("__blk"), col("__id").as("id_b"),
      col("__k").as("key_b"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("distance", levenshtein(col("key_a"), col("key_b")))
      .filter(col("distance") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        col("distance"))
  }
}
