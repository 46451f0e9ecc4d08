package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix array over a tokenized corpus — the data structure
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better") build their ExactSubstr dedup on, constructed the way a
  * shuffle engine should: PREFIX DOUBLING (Manber & Myers 1990; the
  * distributed formulation follows Flick & Sundar 2015, "Parallel
  * distributed memory construction of suffix and LCP arrays", SC'15).
  * [[SubstringDedup]] is the fixed-k approximation of the same paper;
  * this operator is the exact-resolution twin: it knows the FULL length
  * of every repeat, not just "≥ k", so it also answers "what is the
  * longest duplicated passage in the corpus?" — the audit question a
  * contamination investigation starts with.
  *
  * Suffixes never cross document boundaries (each document is implicitly
  * terminated), but ranks are GLOBAL — the array interleaves suffixes of
  * every document, which is exactly what makes cross-document repeats
  * adjacent. Order is token-wise lexicographic (token = whitespace word,
  * compared as a whole string), with a shorter suffix sorting before any
  * suffix it prefixes.
  *
  * Algorithm, each round one shuffle pair:
  *  - round 0: rank₁ = global dense rank of the single token;
  *  - round i: rank₂ₖ(p) = global dense rank of (rankₖ(p), rankₖ(p+k)),
  *    missing partner → 0 (sorts first — the shorter-suffix rule);
  *  - after log₂(maxPrefix) rounds ranks order suffixes by their first
  *    maxPrefix tokens; with maxPrefix ≥ the longest document they are
  *    the exact suffix ranks (dense: identical suffixes share a rank).
  *
  * Global dense ranking is the TWO-PHASE range shape ([[globalDenseRank]]):
  * range-repartition on the keys, per-partition dense_rank, plus
  * partition offsets from a partition-count-sized aggregate — no global
  * single-task window anywhere. Every round ends in an eager checkpoint
  * (the BSP lineage discipline); intermediate rank tables are RETAINED —
  * they are exactly the binary-lifting tables that answer LCP queries in
  * log rounds ([[lcpAdjacent]]), the same reuse Flick & Sundar make. The
  * rounds run on the first read of the model's rank tables ([[Model]]):
  * a `.sa` reader, or a consumer above the size gate. Under the gate the
  * consumers replay the doubling on the driver ([[LocalSa]]) and no
  * round runs at all.
  *
  * Scale shape (100 TB): every frame is (doc_id, pos)-keyed and
  * corpus-token-sized; each round is ONE doc-keyed window (the partner
  * rank at pos+k is lead(rank, k) — positions are dense per document,
  * so no self-join exists) + one range exchange for the re-rank. Rounds
  * are log₂ of the LONGEST DOCUMENT (not the corpus) and stop early on
  * rank convergence: 4096-token documents cost ≤ 12 rounds regardless
  * of corpus size. The LCP descent joins are all (doc_id, pos)
  * equi-joins over the adjacent-pair frame, planned as one linear job.
  */
object SuffixArray {

  /** A fitted suffix array: the (doc_id, pos, token) frame that builds
    * it (checkpointed by [[fit]]), the prefix budget and the fit's own
    * suffix count. The rank tables by doubling level (`levels`, k →
    * (doc_id, pos, rank)), the final suffix array frame (`sa`, the last
    * level) and the per-doc token lengths (`lens`) are built on their
    * first read: by a `.sa` reader such as [[saIndex]], or by
    * [[lcpAdjacent]] or [[crossMaxMatch]] above the size gate. Under the
    * gate those two replay the doubling from `toks` on the driver and
    * read none of the three. */
  final case class Model(toks: DataFrame, maxPrefix: Int, nSuffixes: Long) {
    lazy val levels: Seq[(Int, DataFrame)] =
      doubling(toks, maxPrefix, nSuffixes)
    lazy val sa: DataFrame = levels.last._2
    lazy val lens: DataFrame = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("len")).localCheckpoint(true)
  }

  /** Global dense rank of `df` rows by `keys`, appended as column `out`
    * (long, 1-based; equal keys share a rank).
    *
    * Two-phase: range-repartition on the keys (equal keys land in one
    * partition, partitions are ordered and disjoint), per-partition
    * dense_rank windows, then global rank = local rank + the count of
    * distinct keys in earlier partitions. The offsets frame has one row
    * per shuffle partition — its ordering window is bounded by the
    * partition count, never the data. The partitioned frame is
    * checkpointed eagerly so both consumers (ranking window, offset
    * aggregate) see ONE materialization: partition ids must not be
    * re-drawn between them. Output ranks are a pure function of the data
    * (local rank + distinct-count offsets are invariant to where the
    * range boundaries fall). */
  def globalDenseRank(df: DataFrame, keys: Seq[String],
                      out: String): DataFrame =
    rankWithCount(df, keys, out)._1

  /** [[globalDenseRank]] plus the TOTAL distinct-key count — the
    * convergence signal [[fit]] stops on. The per-partition distinct
    * counts are collected (bounded: one row per shuffle partition) and
    * the cumulative offsets re-enter as a broadcast literal frame — no
    * single-task window anywhere, and the total rides along free. */
  private def rankWithCount(df: DataFrame, keys: Seq[String],
                            out: String): (DataFrame, Long) = {
    require(keys.nonEmpty, "globalDenseRank: no keys")
    val keyCols = keys.map(col)
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val mat = df.repartitionByRange(n, keyCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val w = Window.partitionBy(col("__pid")).orderBy(keyCols: _*)
    val local = mat.withColumn("__lr", dense_rank().over(w).cast("long"))
    val cnts = mat.groupBy(col("__pid"))
      .agg(countDistinct(struct(keyCols: _*)).as("__nd"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = cnts.toSeq.map { case (pid, nd) =>
      val o = (pid, acc); acc += nd; o
    }
    val total = acc
    import spark.implicits._
    val offsDf = offs.toDF("__pid", "__off")
    (local.join(broadcast(offsDf), Seq("__pid"))
      .withColumn(out, col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off"), total)
  }

  /** Fit the suffix array over the corpus: one checkpoint of its
    * (doc_id, pos, token) rows and their count; the doubling rounds run
    * on the first read of the model's rank tables ([[Model]]).
    * `maxPrefix` (a power of two ≥ the longest document's token count)
    * bounds the compared prefix: ranks are exact suffix ranks for
    * documents up to maxPrefix tokens, and longer documents compare by
    * their first maxPrefix tokens (callers chunk or raise the budget —
    * rounds grow as log₂, so 4096 costs 12). */
  def fit(docs: DataFrame, maxPrefix: Int, idCol: String = "doc_id",
          textCol: String = "text"): Model = {
    require(maxPrefix >= 1 && (maxPrefix & (maxPrefix - 1)) == 0,
      s"maxPrefix=$maxPrefix must be a power of two")
    val toks = docs
      .select(col(idCol).as("doc_id"), posexplode(
        graft.functions.WordShingles.allShingles(col(textCol), 1)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .localCheckpoint(true)
    Model(toks, maxPrefix, toks.count())
  }

  /** The distributed prefix-doubling rounds over `toks`: the rank table
    * of every level, ascending in k, the last one the suffix array. */
  private def doubling(toks: DataFrame, maxPrefix: Int,
                       nSuffixes: Long): Seq[(Int, DataFrame)] = {
    val (r0, d0) = rankWithCount(toks, Seq("token"), "rank")
    var cur = r0.select(col("doc_id"), col("pos"), col("rank"))
      .localCheckpoint(true)
    var levels = Seq(1 -> cur)
    var k = 1
    // Convergence early-exit (the standard prefix-doubling termination):
    // stop once every rank is unique, or once a doubling fails to refine
    // the partition — rank_k and rank_2k induce NESTED partitions, so an
    // unchanged distinct count means equal-rank suffixes are IDENTICAL
    // (to the cap) and ranks are final. Real text converges well before
    // log₂(maxDocLen): only repeated passages keep refining deep rounds.
    // Detection lags one round on the partition-stall path (the stalled
    // level must be computed to be observed); it is kept in `levels` —
    // harmless to the LCP descent, whose full-tie clamp covers it.
    var lastDistinct = d0
    var done = d0 == nSuffixes
    // the partner rank at pos+k is a LEAD over the per-document position
    // order (positions are dense 0..len-1), not a join: one doc_id-keyed
    // exchange per round instead of a two-sided self-join
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    while (k < maxPrefix && !done) {
      val paired = cur.withColumn("__r2",
        coalesce(lead(col("rank"), k).over(byDoc), lit(0L)))
      val (nxt, dist) = rankWithCount(paired, Seq("rank", "__r2"), "__nr")
      cur = nxt.select(col("doc_id"), col("pos"), col("__nr").as("rank"))
        .localCheckpoint(true)
      k *= 2
      levels :+= k -> cur
      done = dist == lastDistinct || dist == nSuffixes
      lastDistinct = dist
    }
    levels
  }

  /** Size gate for the consumers' local fast paths ([[lcpAdjacent]],
    * [[crossMaxMatch]]): at or under this many (doc, pos, token) suffix
    * rows the LCP/scan machinery replays on the driver with bit-identical
    * arithmetic (the doubling ranks are global dense ranks — a pure
    * function of the data — and the descent/scan are integer ops); above
    * it, or when forced with 0, the distributed rounds run unchanged. At
    * corpus scale the suffix frame is token-count-sized and the gate is
    * always false. */
  val DefaultMaxLocalSuffixes = 1000000L

  /** Bits of a packed sort key that hold the suffix index: the driver
    * replay numbers at most 2^20 - 1 suffixes, above that the size gate
    * sends every model to the distributed rounds. */
  private val IdxBits = 20
  private val IdxMask = (1L << IdxBits) - 1

  /** Driver-side replay of the doubling trajectory + SA order + adjacent
    * LCP descent, from the model's `toks` alone: it reads none of the
    * model's rank tables, so none is built. The same integer semantics
    * as the distributed rounds: dense ranks (UTF-8-binary token order —
    * [[BpeLearn.utf8Less]], how the engine compares strings), the fit's
    * exact convergence rule, the greedy top-down descent over retained
    * levels, and the final clamp to both suffixes' remaining lengths.
    *
    * On primitive arrays: suffixes are numbered 0..n-1 in (doc_id, pos)
    * order, `end(i)` is one past the last suffix of i's document, and a
    * level is an `Array[Long]` of ranks, so the partner at pos+k is i+k
    * while i+k < end(i) and rank 0 (absent) past the document end. A
    * dense re-rank is one sort of the keys r1·(n+1)+r2, each packed
    * with its suffix index into one long (< 2^60 while n < 2^20). */
  private final class LocalSa(model: Model) {
    private val rows = model.toks
      .select(col("doc_id"), col("pos"), col("token")).collect()
      .sortBy(r => (r.getLong(0), r.getLong(1)))
    private val n = rows.length
    val doc: Array[Long] = rows.map(_.getLong(0))
    val pos: Array[Long] = rows.map(_.getLong(1))
    private val end: Array[Int] = {
      val e = new Array[Int](n)
      var i = n - 1
      while (i >= 0) {
        e(i) = if (i == n - 1 || doc(i + 1) != doc(i)) i + 1 else e(i + 1)
        i -= 1
      }
      e
    }
    /** dense 1-based ranks of `key` and their distinct count */
    private def dense(key: Array[Long]): (Array[Long], Long) = {
      val packed = Array.tabulate(n)(i => key(i) << IdxBits | i)
      java.util.Arrays.sort(packed)
      val out = new Array[Long](n)
      var r = 0L
      var i = 0
      while (i < n) {
        if (i == 0 || packed(i) >>> IdxBits != packed(i - 1) >>> IdxBits) r += 1
        out((packed(i) & IdxMask).toInt) = r
        i += 1
      }
      (out, r)
    }
    /** levels in ASCENDING k, exactly the fit's trajectory */
    private val levels: Seq[(Int, Array[Long])] = {
      val vocab = rows.map(_.getString(2)).distinct.sortWith(BpeLearn.utf8Less)
      val tokRank = new java.util.HashMap[String, Int]()
      vocab.indices.foreach(j => tokRank.put(vocab(j), j))
      val (r0, d0) = dense(rows.map(r => tokRank.get(r.getString(2)).toLong))
      var cur = r0
      var lvls = Seq(1 -> cur)
      var k = 1
      var lastDistinct = d0
      var done = d0 == n
      while (k < model.maxPrefix && !done) {
        val (c, kk) = (cur, k)
        val (nxt, dist) = dense(Array.tabulate(n)(i =>
          c(i) * (n + 1) + (if (i + kk < end(i)) c(i + kk) else 0L)))
        cur = nxt
        k *= 2
        lvls :+= k -> cur
        done = dist == lastDistinct || dist == n
        lastDistinct = dist
      }
      lvls
    }
    private val levelsDesc = levels.reverse
    /** suffix indices in SA order: final rank, ties by (doc_id, pos) */
    val order: Array[Int] = {
      val fin = levels.last._2
      val packed = Array.tabulate(n)(i => fin(i) << IdxBits | i)
      java.util.Arrays.sort(packed)
      packed.map(p => (p & IdxMask).toInt)
    }
    /** the descent, verbatim: greedy top-down over retained levels, both
      * ranks present and equal → advance by k; clamp to remaining. */
    def lcp(a: Int, b: Int): Long = {
      var acc = 0L
      levelsDesc.foreach { case (k, rk) =>
        if (a + acc < end(a) && b + acc < end(b) &&
            rk((a + acc).toInt) == rk((b + acc).toInt)) acc += k
      }
      math.min(acc, math.min(end(a) - a, end(b) - b))
    }
  }

  /** One row per ADJACENT pair in the suffix array's total order (ranks,
    * ties broken by (doc_id, pos)): (d1, p1, d2, p2, sa_idx, lcp) with
    * lcp = the exact length of the pair's common token prefix.
    *
    * LCP runs as binary descent over the retained rank tables, all pairs
    * at once: from the highest doubling level down, if both suffixes'
    * ranks at offset `acc` agree at level k, the first k·tokens match —
    * advance acc by k. A level's rank row is absent past the document
    * end, which correctly reads as "no match". Full ties overshoot by
    * construction (level sums exceed the remainder), so the final lcp
    * clamps to both suffixes' remaining lengths. One (doc_id, pos)-keyed
    * join pair per RETAINED level (convergence-bounded, ≤
    * log₂(maxPrefix)), all planned as one linear job — no per-level
    * barrier. */
  def lcpAdjacent(model: Model,
                  maxLocalSuffixes: Long = DefaultMaxLocalSuffixes): DataFrame =
    if (localGate(model, maxLocalSuffixes)) {
      val ls = new LocalSa(model)
      val o = ls.order
      val out = (0 until o.length - 1).map { i =>
        val (a, b) = (o(i), o(i + 1))
        (ls.doc(a), ls.pos(a), ls.doc(b), ls.pos(b), i + 1L, ls.lcp(a, b))
      }
      val spark = model.toks.sparkSession
      import spark.implicits._
      out.toDF("d1", "p1", "d2", "p2", "sa_idx", "lcp")
    } else lcpAdjacentFrom(model, saIndex(model))

  /** True when the model is small enough for the driver replay: at most
    * `maxLocalSuffixes` suffixes, and fewer than 2^20 whatever the caller
    * passes (the replay's packed sort keys hold the index in 20 bits). */
  private def localGate(model: Model, maxLocalSuffixes: Long): Boolean =
    maxLocalSuffixes > 0 && model.nSuffixes <= math.min(maxLocalSuffixes, IdxMask)

  /** The suffix array's total order as a dense 1-based index per suffix —
    * ranks tie-broken by (doc_id, pos), materialized once so both the
    * LCP descent and the cross-corpus scan ([[crossMaxMatch]]) share it. */
  def saIndex(model: Model): DataFrame =
    globalDenseRank(model.sa, Seq("rank", "doc_id", "pos"), "sa_idx")
      .select(col("doc_id"), col("pos"), col("sa_idx"))
      .localCheckpoint(true)

  private def lcpAdjacentFrom(model: Model, idx: DataFrame): DataFrame = {
    val right = idx.select((col("sa_idx") - 1).as("sa_idx"),
      col("doc_id").as("d2"), col("pos").as("p2"))
    var pairs = idx
      .select(col("sa_idx"), col("doc_id").as("d1"), col("pos").as("p1"))
      .join(right, Seq("sa_idx"))
      .withColumn("__acc", lit(0L))
    model.levels.sortBy(-_._1).foreach { case (k, rk) =>
      val a = rk.select(col("doc_id").as("d1"), col("pos").as("__qa"),
        col("rank").as("__ra"))
      val b = rk.select(col("doc_id").as("d2"), col("pos").as("__qb"),
        col("rank").as("__rb"))
      // no checkpoint: each level is consumed exactly once, so lineage
      // stays LINEAR (2 equi-joins per level) — Catalyst plans the whole
      // descent as one job instead of one barrier per level
      pairs = pairs
        .withColumn("__qa", col("p1") + col("__acc"))
        .withColumn("__qb", col("p2") + col("__acc"))
        .join(a, Seq("d1", "__qa"), "left")
        .join(b, Seq("d2", "__qb"), "left")
        .withColumn("__acc",
          when(col("__ra").isNotNull && col("__ra") === col("__rb"),
            col("__acc") + k).otherwise(col("__acc")))
        .drop("__qa", "__qb", "__ra", "__rb")
    }
    val l1 = model.lens.select(col("doc_id").as("d1"), col("len").as("__l1"))
    val l2 = model.lens.select(col("doc_id").as("d2"), col("len").as("__l2"))
    pairs.join(l1, Seq("d1")).join(l2, Seq("d2"))
      .select(col("d1"), col("p1"), col("d2"), col("p2"), col("sa_idx"),
        least(col("__acc"), col("__l1") - col("p1"),
          col("__l2") - col("p2")).as("lcp"))
  }

  /** The corpus's longest duplicated passages: top-k adjacent-pair LCPs
    * (the maximum LCP anywhere is always realized by an adjacent pair),
    * with the repeated token prefix spelled out. Deterministic order:
    * (lcp desc, d1, p1, d2, p2). The text join touches only the k winner
    * rows (broadcast), never the corpus. */
  def longestDuplicated(model: Model, topK: Int = 10,
                        maxLocalSuffixes: Long = DefaultMaxLocalSuffixes): DataFrame = {
    require(topK >= 1, s"topK=$topK")
    val winners = lcpAdjacent(model, maxLocalSuffixes)
      .filter(col("lcp") >= 1)
      .orderBy(col("lcp").desc, col("d1"), col("p1"), col("d2"), col("p2"))
      .limit(topK)
      .select(col("lcp"), col("d1"), col("p1"), col("d2"), col("p2"))
      .localCheckpoint(true)
    model.toks
      .join(broadcast(winners), model.toks("doc_id") === winners("d1") &&
        col("pos") >= col("p1") && col("pos") < col("p1") + col("lcp"))
      .groupBy(col("lcp"), col("d1"), col("p1"), col("d2"), col("p2"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("token")))),
        x => x.getField("token")), " ").as("gram"))
  }

  /** ExactSubstr duplicated spans from the suffix array: a position
    * starts a duplicated run of ≥ minLen tokens iff its LCP with an SA
    * NEIGHBOR reaches minLen (suffixes sharing an L-prefix form a
    * contiguous SA block, so every member of a ≥2 block sees one
    * neighbor inside it); marked starts merge per document exactly like
    * [[SubstringDedup.duplicatedSpans]] — by construction the two paths
    * produce IDENTICAL spans on the same corpus (equivalence is
    * spec-pinned and oracle-gated against the k-gram oracle). */
  def duplicatedSpans(model: Model, minLen: Int,
                      maxLocalSuffixes: Long = DefaultMaxLocalSuffixes): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen")
    val adj = lcpAdjacent(model, maxLocalSuffixes).filter(col("lcp") >= minLen)
    val hits = adj.select(col("d1").as("doc_id"), col("p1").as("pos"))
      .unionByName(adj.select(col("d2").as("doc_id"), col("p2").as("pos")))
    SubstringDedup.mergeStartPositions(hits, minLen)
  }

  /** FUSED two-phase pass for [[crossMaxMatch]]: global dense rank of
    * (rank, doc_id, pos) as `sa_idx` AND the inclusive global running
    * count of the train flag as `__ca`, in one range exchange — both
    * scans ride the SAME partitioning+order (the cumsum's order key IS
    * the ranking key), so per-partition windows and ONE collect of
    * (distinct-count, flag-sum) per partition serve both. Returns the
    * augmented frame (checkpointed) and the train-suffix total. */
  private def indexWithTrainScan(tagged: DataFrame): (DataFrame, Long) = {
    val spark = tagged.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val keyCols = Seq(col("rank"), col("doc_id"), col("pos"))
    val mat = tagged.repartitionByRange(n, keyCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val wr = Window.partitionBy(col("__pid")).orderBy(keyCols: _*)
    val wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = mat.groupBy(col("__pid"))
      .agg(countDistinct(struct(keyCols: _*)).as("__nd"),
        sum(col("__trf")).cast("long").as("__ts"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var accR = 0L
    var accT = 0L
    val offs = stats.toSeq.map { case (pid, nd, ts) =>
      val o = (pid, accR, accT); accR += nd; accT += ts; o
    }
    val total = accT
    import spark.implicits._
    val offsDf = offs.toDF("__pid", "__roff", "__coff")
    (mat
      .withColumn("__lr", dense_rank().over(wr).cast("long"))
      .withColumn("__lc", sum(col("__trf")).over(wc).cast("long"))
      .join(broadcast(offsDf), Seq("__pid"))
      .withColumn("sa_idx", col("__roff") + col("__lr"))
      .withColumn("__ca", col("__coff") + col("__lc"))
      .drop("__pid", "__lr", "__lc", "__roff", "__coff")
      .localCheckpoint(true), total)
  }

  /** Cross-corpus exact-substring matching — the decontamination view of
    * the suffix array (Lee et al. 2022 §4.1 run ACROSS corpora): build
    * [[fit]] over the union of a training corpus and an eval/benchmark
    * corpus, then for every EVAL suffix report the length of its longest
    * common prefix with ANY training suffix. N-gram decontamination
    * ([[Decontaminate]]) answers "≥ k?"; this answers "exactly how long
    * is the longest verbatim leak?" — the audit number a contamination
    * report leads with.
    *
    * Method: in suffix-sorted order, the max common prefix between a
    * suffix and a SET of suffixes is attained at the set's nearest member
    * above or below (lexicographic order: a ≤ b ≤ c ⇒ lcp(a,c) =
    * min(lcp(a,b), lcp(b,c)), so LCP can only shrink with sorted
    * distance). Both "nearest train" LCPs come from ONE adjacent-LCP
    * frame ([[lcpAdjacent]]) by a running min over the segments between
    * consecutive train suffixes: segment ids are a global cumsum of the
    * train flag, FUSED with the sa_idx ranking into one two-phase range
    * exchange ([[indexWithTrainScan]] — same partitioning, same order,
    * one collect serves both offsets), the running min a segment-keyed
    * window in each direction. No join against the train side ever
    * happens — the scan is linear in the union's token count.
    *
    * Skew note: a running-min window partition is one train-to-train
    * gap. With train ≫ eval (the production shape — benchmarks are tiny)
    * gaps are short; the degenerate all-eval corpus would collapse to
    * one partition, which is the caller holding it wrong (nothing to
    * decontaminate against).
    *
    * @param isTrain (doc_id, is_train boolean) covering every doc in the
    *                fitted corpus.
    * @return (doc_id, pos, match_len) for every EVAL suffix — match_len 0
    *         when no train suffix shares even one token. */
  def crossMaxMatch(model: Model, isTrain: DataFrame,
                    maxLocalSuffixes: Long = DefaultMaxLocalSuffixes): DataFrame = {
    if (localGate(model, maxLocalSuffixes))
      return crossMaxMatchLocal(model, isTrain)
    // ONE doc-keyed join tags the suffix frame (isTrain is doc-count-
    // sized — corpus-scale at 100 TB, so no unconditional broadcast),
    // then the FUSED two-phase pass assigns sa_idx and the running
    // train count in a single range exchange
    val tagged0 = model.sa
      .join(isTrain.select(col("doc_id"),
        col("is_train").cast("boolean").as("__tr")), Seq("doc_id"))
      .withColumn("__trf", col("__tr").cast("int"))
    val (indexed, totalTrain) = indexWithTrainScan(tagged0)
    val adj = lcpAdjacentFrom(model,
        indexed.select(col("doc_id"), col("pos"), col("sa_idx")))
      .select(col("sa_idx"), col("lcp")).localCheckpoint(true)
    val tagged = indexed
      .join(adj.select(col("sa_idx"), col("lcp").as("__lead")),
        Seq("sa_idx"), "left")
      .join(adj.select((col("sa_idx") + 1).as("sa_idx"),
        col("lcp").as("__lag")), Seq("sa_idx"), "left")
    // __ca = #train suffixes at sa_idx ≤ i (inclusive): a train row opens
    // its own above-segment. __cb = #train at sa_idx ≥ i: a train row
    // closes its own below-segment. Train rows' own lag/lead LCPs are
    // masked out of the running mins — they span the wrong pair.
    val scan = tagged.withColumn("__cb",
      lit(totalTrain) - col("__ca") + col("__trf"))
    val wa = Window.partitionBy(col("__ca")).orderBy(col("sa_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.partitionBy(col("__cb")).orderBy(col("sa_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val masked = when(!col("__tr"), col("__lag"))
    val maskedLead = when(!col("__tr"), col("__lead"))
    scan
      .withColumn("__above",
        when(col("__ca") >= 1, min(masked).over(wa)))
      .withColumn("__below",
        when(col("__cb") >= 1, min(maskedLead).over(wb)))
      .filter(!col("__tr"))
      .select(col("doc_id"), col("pos"),
        greatest(coalesce(col("__above"), lit(0L)),
          coalesce(col("__below"), lit(0L))).as("match_len"))
  }

  /** Driver replay of [[crossMaxMatch]] — the same linear scan the
    * distributed windows run: the tagged subset in SA order, adjacent
    * LCPs from the same descent, the inclusive running train count, and
    * per-segment running minima of the masked lag/lead LCPs in each
    * direction (a train row opens its own above-segment and closes its
    * own below-segment; its own lag/lead are masked out — identical to
    * the window formulation's `when(!__tr, ...)`). Absent minima read 0
    * through the same coalesce. */
  private def crossMaxMatchLocal(model: Model, isTrain: DataFrame): DataFrame = {
    val ls = new LocalSa(model)
    val trMap = new java.util.HashMap[Long, Boolean]()
    isTrain.select(col("doc_id"),
        col("is_train").cast("boolean").as("__tr")).collect()
      .foreach(r => trMap.put(r.getLong(0), r.getBoolean(1)))
    val sub = ls.order.filter(i => trMap.containsKey(ls.doc(i)))
    val n = sub.length
    val tr = sub.map(i => trMap.get(ls.doc(i)).booleanValue)
    // adjacent LCPs within the tagged subset (the descent runs over the
    // FULL corpus's rank tables, exactly like lcpAdjacentFrom over the
    // subset's sa_idx frame)
    val lead = Array.tabulate(math.max(n - 1, 0))(i => ls.lcp(sub(i), sub(i + 1)))
    // one pass per direction: the running min of the masked lag (forward,
    // within each __ca segment) or lead (backward, within each __cb
    // segment — __cb changes value exactly when the scan passes a train
    // row going down). A train row resets it and contributes nothing; a
    // row before the first train row in scan order, or with no minimum
    // yet, reads the coalesced 0.
    val none = Long.MaxValue
    def scan(rows: Range, nb: Int => Long): Array[Long] = {
      val out = new Array[Long](n)
      var curMin = none
      var seen = false
      rows.foreach { i =>
        if (tr(i)) { seen = true; curMin = none }
        else curMin = math.min(curMin, nb(i))
        out(i) = if (seen && curMin != none) curMin else 0L
      }
      out
    }
    val above = scan(0 until n, i => if (i == 0) none else lead(i - 1))
    val below = scan(n - 1 to 0 by -1, i => if (i == n - 1) none else lead(i))
    val out = (0 until n).filter(j => !tr(j)).map { j =>
      (ls.doc(sub(j)), ls.pos(sub(j)), math.max(above(j), below(j)))
    }
    val spark = model.toks.sparkSession
    import spark.implicits._
    out.toDF("doc_id", "pos", "match_len")
  }

  /** Per-EVAL-document contamination report over [[crossMaxMatch]]:
    * the longest verbatim training overlap anywhere in the document and
    * the number of positions starting a ≥ `minLen` leak. Every eval doc
    * reports — "clean" (0, 0) is a result, not an absence; docs with no
    * tokens report zeros. */
  def leakageReport(model: Model, isTrain: DataFrame, minLen: Int,
                    maxLocalSuffixes: Long = DefaultMaxLocalSuffixes): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen")
    val perDoc = crossMaxMatch(model, isTrain, maxLocalSuffixes)
      .groupBy(col("doc_id"))
      .agg(max(col("match_len")).as("__mm"),
        sum(when(col("match_len") >= minLen, 1L).otherwise(0L)).as("__nl"))
    isTrain.filter(!col("is_train")).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__mm"), lit(0L)).as("max_match"),
        coalesce(col("__nl"), lit(0L)).as("n_leak_starts"))
  }
}
