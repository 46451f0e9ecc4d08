package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary learning (Sennrich et al.
  * 2016) — the merge-table side of training a subword tokenizer on the
  * corpus the engine is already processing.
  *
  * BPE is inherently sequential in its MERGES (merge m+1's counts depend
  * on merge m having been applied), so the distribution boundary is drawn
  * where the data is: each round is one full-parallel pair-count
  * aggregation + one map over the word table, and only the single winning
  * pair crosses the driver (O(1) rows per merge). The state the loop
  * iterates on is the WORD-FREQUENCY table — vocabulary-sized (millions of
  * rows), not corpus-sized — because [[wordFrequencies]] collapses the
  * corpus first with one map-side-combined aggregation; a 100 TB corpus
  * and a 1 GB corpus iterate over the same-shaped state.
  *
  * Scale notes:
  *  - pair counting explodes adjacent piece pairs weighted by word count —
  *    O(total pieces) rows per round, keyed on (left, right) with partial
  *    aggregation; the argmax is a sort-limit(1), which Spark executes as
  *    a per-partition top-1 + driver merge (TakeOrderedAndProject), not a
  *    global sort;
  *  - each round's new segmentation is eagerly localCheckpointed — the
  *    HOF-fold rewrite would otherwise nest one lambda layer per merge
  *    and planning would grow quadratically (same discipline as
  *    [[Dedup.connectedComponents]]);
  *  - applying the learned merges to UNSEEN text at serving time is a
  *    different operation (encode in merge order, or the standard
  *    greedy-longest-match deployment); feed the learned symbol set to
  *    [[graft.functions.SubwordTokenCount]]'s trie for the codegen'd
  *    scale path.
  */
object BpeLearn {

  /** One learned merge: rank = order learned (0-based), `left`+`right` →
    * the concatenated symbol, weight = the pair's corpus frequency when
    * it won. */
  final case class Merge(rank: Int, left: String, right: String,
                         merged: String, weight: Long)

  /** (word, cnt) frequencies — the corpus collapse that makes the learning
    * loop vocabulary-sized. */
  def wordFrequencies(corpus: DataFrame, textCol: String = "text"): DataFrame =
    TextAnalysis.explodeTokens(corpus, col(textCol), "word", Seq.empty)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Initial segmentation: one single-character piece per code unit, plus
    * the end-of-word marker as its own trailing symbol (the classic setup
    * — the marker lets a merged symbol distinguish word-final from
    * word-internal occurrences). */
  private def initialPieces(word: Column, endOfWord: Option[String]): Column = {
    val chars = transform(sequence(lit(1), length(word)),
      i => word.substr(i, lit(1)))
    endOfWord match {
      case Some(m) => concat(chars, array(lit(m)))
      case None    => chars
    }
  }

  /** Greedy left-to-right application of ONE merge to a pieces array —
    * non-overlapping by construction ("a a a" under (a,a) → ["aa", "a"],
    * like the reference implementation). Runs as the native codegen'd
    * [[graft.functions.ApplyMerges]] single-member batch; the aggregate
    * HOF fold it replaced re-walked an interpreted tree and reallocated
    * the accumulator array per piece (semantics property-checked). */
  private def applyMerge(pieces: Column, left: String, right: String): Column =
    graft.functions.ApplyMerges(pieces, Seq((left, right)))

  /** Learn `numMerges` merges from a corpus. Stops early when no pair
    * reaches `minFrequency` (the reference's --min-frequency floor: a
    * merge seen once generalizes to nothing).
    *
    * Deterministic: ties on pair weight break lexicographically on
    * (left, right), so the merge sequence is a pure function of the
    * corpus. */
  def learn(corpus: DataFrame, numMerges: Int, textCol: String = "text",
            minFrequency: Long = 2L,
            endOfWord: Option[String] = Some("</w>"),
            maxLocalWords: Long = 1000000L): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    // SIZE-GATED LOCAL FAST PATH (r16; the connectedComponents
    // discipline): the corpus collapses to the vocabulary-sized word
    // table distributed (the corpus-scale pass); a word table at or
    // under the threshold replays the merge loop on the driver — same
    // code-point pieces, same long pair sums, same UTF-8-binary
    // lexicographic ties, same greedy non-overlapping re-segmentation —
    // so the merge sequence is bit-identical (spec-pinned; the BPE
    // oracles replay it at every SF). Measured motivation: each merge
    // round is an aggregation + TakeOrdered + checkpoint of ~4 one-task
    // scheduler jobs on a vocabulary that fits in one partition.
    // Web-scale vocabularies (the gate false) run the distributed
    // rounds unchanged; maxLocalWords = 0 forces them.
    val words = wordFrequencies(corpus, textCol).localCheckpoint(true)
    if (maxLocalWords > 0 && words.count() <= maxLocalWords) {
      val wf = words.collect().map(r => (r.getString(0), r.getLong(1)))
      return learnLocal(wf, numMerges, minFrequency, endOfWord)
    }
    var st = words
      .select(col("cnt"), initialPieces(col("word"), endOfWord).as("pieces"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val best = st
        .select(col("cnt"), explode(
          when(size(col("pieces")) >= 2,
            transform(sequence(lit(1), size(col("pieces")) - 1),
              i => struct(element_at(col("pieces"), i).as("l"),
                element_at(col("pieces"), i + 1).as("r"))))
            .otherwise(array().cast(
              "array<struct<l:string,r:string>>"))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("cnt")).as("w"))
        .orderBy(col("w").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      best.headOption match {
        case Some(row) if row.getLong(2) >= minFrequency =>
          val (l, r, w) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += Merge(rank, l, r, l + r, w)
          st = st.select(col("cnt"),
            applyMerge(col("pieces"), l, r).as("pieces")).localCheckpoint(true)
          rank += 1
        case _ => exhausted = true
      }
    }
    merges.result()
  }

  // ------------------------------------------------------------------
  // Driver replay primitives shared by the local fast paths (BPE here,
  // WordPiece's likelihood variant in [[WordPiece]]): exactly the
  // engine's semantics — code-point pieces, UTF-8-binary string order,
  // greedy non-overlapping merge application.
  // ------------------------------------------------------------------

  /** UTF-8 binary order — how the engine compares strings; Java's
    * UTF-16 `compareTo` differs for supplementary characters. */
  private[operators] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Code-point split — mirrors `substr` over the engine's
    * code-point-indexed strings (a supplementary character is ONE piece
    * of two Java chars). */
  private[operators] def splitCodePoints(word: String): Array[String] =
    word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Greedy left-to-right non-overlapping application of a merge batch —
    * the [[graft.functions.ApplyMerges]] kernel's exact semantics. */
  private[operators] def applyBatchLocal(ps: Array[String],
      pairs: Seq[(String, String)]): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < ps.length) {
      var merged: String = null
      if (i + 1 < ps.length) {
        val it = pairs.iterator
        while (merged == null && it.hasNext) {
          val (l, r) = it.next()
          if (ps(i) == l && ps(i + 1) == r) merged = l + r
        }
      }
      if (merged != null) { out += merged; i += 2 }
      else { out += ps(i); i += 1 }
    }
    out.result()
  }

  /** Adjacent-pair weights of a (cnt, pieces) state — the per-round
    * aggregation, locally. */
  private def pairWeightsLocal(st: Array[(Long, Array[String])])
      : scala.collection.mutable.HashMap[(String, String), Long] = {
    val pw = scala.collection.mutable.HashMap.empty[(String, String), Long]
    st.foreach { case (cnt, ps) =>
      var i = 0
      while (i + 1 < ps.length) {
        val k = (ps(i), ps(i + 1))
        pw(k) = pw.getOrElse(k, 0L) + cnt
        i += 1
      }
    }
    pw
  }

  /** Driver replay of [[learn]]'s merge loop over the collected word
    * table — identical argmax (weight desc, UTF-8 (l, r) asc), floor and
    * re-segmentation, so the merge sequence is bit-identical. */
  private def learnLocal(wf: Array[(String, Long)], numMerges: Int,
                         minFrequency: Long,
                         endOfWord: Option[String]): Seq[Merge] = {
    var st = wf.map { case (w, cnt) =>
      (cnt, splitCodePoints(w) ++ endOfWord.toArray)
    }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val pw = pairWeightsLocal(st)
      var best: ((String, String), Long) = null
      pw.foreach { case (k, w) =>
        if (best == null || w > best._2 ||
            (w == best._2 && (utf8Less(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Less(k._2, best._1._2)))))
          best = (k, w)
      }
      if (best == null || best._2 < minFrequency) exhausted = true
      else {
        val ((l, r), w) = best
        merges += Merge(rank, l, r, l + r, w)
        st = st.map { case (cnt, ps) =>
          (cnt, applyBatchLocal(ps, Seq((l, r))))
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** Greedy application of a BATCH of symbol-disjoint merges in one fold
    * pass: the pairs share no symbol, so at most one can match at any
    * position and one combined scan equals applying them sequentially in
    * any order (a merged symbol is NEW — it cannot be a member of another
    * batch pair, which were all drawn from the pre-batch symbol table). */
  private def applyMergeBatch(pieces: Column,
                              ms: Seq[(String, String)]): Column =
    graft.functions.ApplyMerges(pieces, ms)

  /** [[learn]]'s batched production shape: per round, take the top pair
    * candidates and greedily accept up to `batchSize` of them that are
    * pairwise SYMBOL-DISJOINT (no left/right in common), then apply the
    * whole batch in one re-segmentation pass — driver round-trips and
    * checkpoints drop from numMerges to ~numMerges/batchSize, the lever
    * that makes 30k-merge vocabularies practical.
    *
    * Contract vs [[learn]]: batch counts are exact AT BATCH START, and
    * batch members never perturb each other (disjointness), but a symbol
    * minted mid-batch could have out-counted a LATER batch member in the
    * strict sequential order — the standard large-vocab training trade.
    * At `batchSize = 1` the selection degenerates to the argmax and the
    * result is IDENTICAL to [[learn]] (spec-checked). Deterministic for
    * any batchSize: candidate order is (weight desc, left, right) and the
    * greedy scan is a pure function of it. */
  def learnBatched(corpus: DataFrame, numMerges: Int, batchSize: Int,
                   textCol: String = "text", minFrequency: Long = 2L,
                   endOfWord: Option[String] = Some("</w>"),
                   onRound: (Int, Int, Int) => Unit = (_, _, _) => (),
                   maxLocalWords: Long = 1000000L): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    require(batchSize >= 1, s"batchSize=$batchSize")
    // size-gated driver replay (see [[learn]]) — REPLICATES the adaptive
    // candidate-ask machinery below verbatim (same ask sequence, same
    // greedy disjoint scan, same retune), so batched-local ≡
    // batched-distributed even on rounds the ask truncates
    val words = wordFrequencies(corpus, textCol).localCheckpoint(true)
    if (maxLocalWords > 0 && words.count() <= maxLocalWords) {
      val wf = words.collect().map(r => (r.getString(0), r.getLong(1)))
      return learnBatchedLocal(wf, numMerges, batchSize, minFrequency,
        endOfWord, onRound)
    }
    var st = words
      .select(col("cnt"), initialPieces(col("word"), endOfWord).as("pieces"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    // ADAPTIVE candidate headroom (round 12): the ask starts at the 3×
    // a conflicted round needs on gate-sized corpora, and RETUNES from
    // each round's observed greedy yield. A fixed 3× ask pinned large
    // builds at ~92 acceptances per 768-candidate round (the
    // symbol-disjointness scan exhausts the list long before `want`
    // fills — measured r11: ~325 rounds for any batch ≥ 256); growing
    // the ask when a FULL list exhausts, and tracking the observed
    // scan-to-fill ratio when it fills, lets each round accept close to
    // the full batch. Deterministic: the multiplier is a pure function
    // of the prior rounds' candidate lists. Rounds that fill within the
    // first 3× candidates are UNCHANGED for any multiplier (same sorted
    // prefix, same greedy scan), so batchSize = 1 stays exactly [[learn]]
    // and the oracle gates (every round fills) are ask-invariant; only
    // rounds the fixed ask artificially truncated accept deeper tails.
    val MaxAsk = 500000 // driver-collect bound, ~tens of MB of pair rows
    var mult = 3.0
    while (rank < numMerges && !exhausted) {
      val want = math.min(numMerges - rank, batchSize)
      val ask = math.min(MaxAsk.toDouble,
        math.max(want * 3.0, want * mult)).toInt
      val top = st
        .select(col("cnt"), explode(
          when(size(col("pieces")) >= 2,
            transform(sequence(lit(1), size(col("pieces")) - 1),
              i => struct(element_at(col("pieces"), i).as("l"),
                element_at(col("pieces"), i + 1).as("r"))))
            .otherwise(array().cast(
              "array<struct<l:string,r:string>>"))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("cnt")).as("w"))
        .orderBy(col("w").desc, col("l").asc, col("r").asc)
        .limit(ask)
        .collect()
      val used = scala.collection.mutable.Set.empty[String]
      val batch = Seq.newBuilder[(String, String, Long)]
      var n = 0
      var scanned = 0
      top.iterator.foreach { row =>
        val (l, r, w) = (row.getString(0), row.getString(1), row.getLong(2))
        if (n < want) {
          scanned += 1
          if (w >= minFrequency && !used(l) && !used(r)) {
            batch += ((l, r, w)); used += l; used += r; n += 1
          }
        }
      }
      val accepted = batch.result()
      // retune: a FULL list that exhausted before filling means the cap
      // truncated the batch — double the ask. Growing cannot help when
      // (a) the list came back short (the corpus has no more pairs) or
      // (b) the list's TAIL is already below minFrequency (weights are
      // sorted descending, so every deeper candidate is below the floor
      // too — without this guard, late rounds of a large build double
      // toward MaxAsk and collect half a million sorted pair rows per
      // round for a yield pinned by the frequency floor). A filled round
      // re-centers on the observed scan-to-fill ratio with 50% slack.
      if (accepted.length < want) {
        val tailQualifies = top.nonEmpty && top.last.getLong(2) >= minFrequency
        if (top.length == ask && ask < MaxAsk && tailQualifies)
          mult = math.min(mult * 2.0, MaxAsk.toDouble / math.max(1, want))
      } else {
        mult = math.max(3.0, 1.5 * scanned.toDouble / want)
      }
      // instrumentation hook (sizing probes): round's ask vs acceptance
      onRound(rank, want, accepted.length)
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.foreach { case (l, r, w) =>
          merges += Merge(rank, l, r, l + r, w); rank += 1
        }
        st = st.select(col("cnt"),
          applyMergeBatch(col("pieces"),
            accepted.map { case (l, r, _) => (l, r) }).as("pieces"))
          .localCheckpoint(true)
      }
    }
    merges.result()
  }

  /** Driver replay of [[learnBatched]] — including the adaptive
    * candidate-ask (ask prefix of the fully-sorted pair list, greedy
    * disjoint scan, multiplier retune), so the accepted batches match the
    * distributed route round for round even when the ask truncates. */
  private def learnBatchedLocal(wf: Array[(String, Long)], numMerges: Int,
      batchSize: Int, minFrequency: Long, endOfWord: Option[String],
      onRound: (Int, Int, Int) => Unit): Seq[Merge] = {
    var st = wf.map { case (w, cnt) =>
      (cnt, splitCodePoints(w) ++ endOfWord.toArray)
    }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    val MaxAsk = 500000
    var mult = 3.0
    val ord = new Ordering[((String, String), Long)] {
      def compare(a: ((String, String), Long), b: ((String, String), Long))
          : Int = {
        if (a._2 != b._2) return if (a._2 > b._2) -1 else 1 // weight desc
        if (a._1._1 != b._1._1)
          return if (utf8Less(a._1._1, b._1._1)) -1 else 1
        if (a._1._2 != b._1._2)
          return if (utf8Less(a._1._2, b._1._2)) -1 else 1
        0
      }
    }
    while (rank < numMerges && !exhausted) {
      val want = math.min(numMerges - rank, batchSize)
      val ask = math.min(MaxAsk.toDouble,
        math.max(want * 3.0, want * mult)).toInt
      val top = pairWeightsLocal(st).toArray.sorted(ord).take(ask)
      val used = scala.collection.mutable.Set.empty[String]
      val batch = Seq.newBuilder[(String, String, Long)]
      var n = 0
      var scanned = 0
      top.iterator.foreach { case ((l, r), w) =>
        if (n < want) {
          scanned += 1
          if (w >= minFrequency && !used(l) && !used(r)) {
            batch += ((l, r, w)); used += l; used += r; n += 1
          }
        }
      }
      val accepted = batch.result()
      if (accepted.length < want) {
        val tailQualifies = top.nonEmpty && top.last._2 >= minFrequency
        if (top.length == ask && ask < MaxAsk && tailQualifies)
          mult = math.min(mult * 2.0, MaxAsk.toDouble / math.max(1, want))
      } else {
        mult = math.max(3.0, 1.5 * scanned.toDouble / want)
      }
      onRound(rank, want, accepted.length)
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.foreach { case (l, r, w) =>
          merges += Merge(rank, l, r, l + r, w); rank += 1
        }
        val ms = accepted.map { case (l, r, _) => (l, r) }
        st = st.map { case (cnt, ps) => (cnt, applyBatchLocal(ps, ms)) }
      }
    }
    merges.result()
  }

  /** Adjacent-pair counts of a (cnt, pieces) word frame — the per-round
    * aggregation both learners run; factored so the incremental path
    * can run it over the TOUCHED subset only. */
  private def pairCountsOf(st: DataFrame): DataFrame = st
    .select(col("cnt"), explode(
      when(size(col("pieces")) >= 2,
        transform(sequence(lit(1), size(col("pieces")) - 1),
          i => struct(element_at(col("pieces"), i).as("l"),
            element_at(col("pieces"), i + 1).as("r"))))
        .otherwise(array().cast(
          "array<struct<l:string,r:string>>"))).as("__p"))
    .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
    .agg(sum(col("cnt")).as("w"))

  /** [[learnBatched]] with INCREMENTAL pair-count maintenance — the
    * round-floor lever VERDICT r12 #7 names: instead of re-aggregating
    * pair counts over the FULL word table every round, carry the
    * (l, r, w) pair frame across rounds and delta-update it from the
    * words the last batch actually touched.
    *
    * Why this is sound: a word's pair multiset changes iff
    * [[graft.functions.ApplyMerges]] changes its pieces, which requires
    * some batch (l, r) to occur ADJACENTLY in it — and any such word
    * contains both l and r as members. `arrays_overlap(pieces,
    * batchSymbols)` therefore selects a SUPERSET of the changed words;
    * unchanged words in the superset contribute identical before/after
    * pair rows whose delta is zero, so the maintained frame equals the
    * full re-aggregation EXACTLY, round for round (spec-checked: merge
    * sequences identical to [[learnBatched]]).
    *
    * Scale shape per round: ONE signed aggregation over the touched
    * SLIVER (each touched word emits its old pairs at −cnt and its
    * re-segmented pairs at +cnt in the same projection — no before/after
    * join, no touched-frame materialization), one union+re-aggregate of
    * the pair frame (symbol-pair cardinality, far below total pieces),
    * and the same full-frame re-segmentation + checkpoint the plain
    * path pays anyway. Late rounds of a big vocabulary touch few words —
    * exactly where the full re-aggregation was the floor. The candidate
    * selection (sort-limit over the maintained frame) and the greedy
    * symbol-disjoint scan are byte-identical to [[learnBatched]],
    * including the adaptive ask.
    *
    * MEASURED (sizing probe, sf0.1 expand=2000, ~52k words, 30k merges at
    * batch 1024 — NOTES r13): batched 68 s, incremental 151 s, merge
    * sequences IDENTICAL across all 30k merges and 214 rounds. The
    * plain path wins at probe scale, and the r12 premise that delta
    * maintenance is "the route below the ~50 s floor" is REFUTED there:
    * the floor is rounds × fixed job latency (~0.32 s/round), not the
    * pair aggregation (52k words aggregate in milliseconds), and the
    * maintenance adds one pair-frame shuffle job per round (+0.38
    * s/round measured). The crossover needs a word table large enough
    * that the full per-round aggregation dominates job latency AND a
    * touched fraction well under 1 (late rounds of a many-million-word
    * vocabulary — the 100 TB corpus shape the probe cannot reach). Kept
    * as the documented huge-vocab path, equivalence-pinned. */
  def learnBatchedIncremental(corpus: DataFrame, numMerges: Int,
                              batchSize: Int, textCol: String = "text",
                              minFrequency: Long = 2L,
                              endOfWord: Option[String] = Some("</w>"),
                              onRound: (Int, Int, Int) => Unit =
                                (_, _, _) => ()): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges")
    require(batchSize >= 1, s"batchSize=$batchSize")
    val words = wordFrequencies(corpus, textCol)
    var st = words
      .select(col("cnt"), initialPieces(col("word"), endOfWord).as("pieces"))
      .localCheckpoint(true)
    var pc = pairCountsOf(st).localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    val MaxAsk = 500000
    var mult = 3.0
    while (rank < numMerges && !exhausted) {
      val want = math.min(numMerges - rank, batchSize)
      val ask = math.min(MaxAsk.toDouble,
        math.max(want * 3.0, want * mult)).toInt
      val top = pc.orderBy(col("w").desc, col("l").asc, col("r").asc)
        .limit(ask).collect()
      val used = scala.collection.mutable.Set.empty[String]
      val batch = Seq.newBuilder[(String, String, Long)]
      var n = 0
      var scanned = 0
      top.iterator.foreach { row =>
        val (l, r, w) = (row.getString(0), row.getString(1), row.getLong(2))
        if (n < want) {
          scanned += 1
          if (w >= minFrequency && !used(l) && !used(r)) {
            batch += ((l, r, w)); used += l; used += r; n += 1
          }
        }
      }
      val accepted = batch.result()
      if (accepted.length < want) {
        val tailQualifies = top.nonEmpty && top.last.getLong(2) >= minFrequency
        if (top.length == ask && ask < MaxAsk && tailQualifies)
          mult = math.min(mult * 2.0, MaxAsk.toDouble / math.max(1, want))
      } else {
        mult = math.max(3.0, 1.5 * scanned.toDouble / want)
      }
      onRound(rank, want, accepted.length)
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.foreach { case (l, r, w) =>
          merges += Merge(rank, l, r, l + r, w); rank += 1
        }
        val pairs = accepted.map { case (l, r, _) => (l, r) }
        val symArr = array(
          pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(lit): _*)
        // signed delta in ONE pass over the touched sliver: each touched
        // word contributes its old pairs at −cnt and its re-segmented
        // pairs at +cnt; one aggregation nets them out. No before/after
        // join, no touched-frame materialization — the filter rescans
        // st's checkpointed blocks.
        def pairsOf(p: Column): Column =
          when(size(p) >= 2,
            transform(sequence(lit(1), size(p) - 1),
              i => struct(element_at(p, i).as("l"),
                element_at(p, i + 1).as("r"))))
            .otherwise(array().cast("array<struct<l:string,r:string>>"))
        val delta = st
          .filter(arrays_overlap(col("pieces"), symArr))
          .select(col("cnt"), explode(concat(
            transform(pairsOf(col("pieces")),
              p => struct(p.getField("l").as("l"), p.getField("r").as("r"),
                lit(-1L).as("sgn"))),
            transform(pairsOf(applyMergeBatch(col("pieces"), pairs)),
              p => struct(p.getField("l").as("l"), p.getField("r").as("r"),
                lit(1L).as("sgn"))))).as("__p"))
          .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
          .agg(sum(col("__p.sgn") * col("cnt")).as("w"))
        // pc update = union + re-aggregate (one shuffle of the pair
        // frame, no outer join); exact-zero rows drop
        pc = pc.unionByName(delta)
          .groupBy(col("l"), col("r")).agg(sum(col("w")).as("w"))
          .filter(col("w") > 0L)
          .localCheckpoint(true)
        // full-frame re-segmentation — identical to learnBatched's (the
        // kernel is a no-op on untouched words; the checkpoint is the
        // shared floor both paths pay)
        st = st.select(col("cnt"),
          applyMergeBatch(col("pieces"), pairs).as("pieces"))
          .localCheckpoint(true)
      }
    }
    merges.result()
  }

  /** The learned merge table as a DataFrame (rank, left, right, merged,
    * weight) — the persistable artifact, and the gate surface. */
  def learnTable(spark: SparkSession, corpus: DataFrame, numMerges: Int,
                 textCol: String = "text", minFrequency: Long = 2L,
                 endOfWord: Option[String] = Some("</w>")): DataFrame = {
    import spark.implicits._
    learn(corpus, numMerges, textCol, minFrequency, endOfWord).toDF()
  }

  /** Segment a word column under an ordered merge list — reference
    * semantics (apply each merge corpus-wide in learned order). Builds one
    * fold layer PER MERGE: right for validation and modest merge counts;
    * encode big vocabularies at serving time with the trie instead (see
    * object doc). */
  def segmentWords(words: DataFrame, merges: Seq[Merge],
                   wordCol: String = "word",
                   endOfWord: Option[String] = Some("</w>")): DataFrame = {
    val init = initialPieces(col(wordCol), endOfWord)
    val pieces = merges.foldLeft(init) { (acc, m) =>
      applyMerge(acc, m.left, m.right)
    }
    words.withColumn("pieces", pieces)
  }
}
