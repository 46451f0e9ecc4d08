package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{BpeLearn, Dedup, FillInMiddle, KMeans, LanguageModel, Packing, ProductQuantization, Retrieval, SemDedup, Similarity, SpanCorruption, SubstringDedup, SuffixArray, TextAnalysis, UnigramLm, WordPiece}

/** Gate queries for the training-data-pipeline operators: text analysis,
  * deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding
  * cosine) and similarity search (brute-force + LSH ANN).
  *
  * Oracle-parity discipline:
  *  - all hashes are md5 hex (identical in Spark and DuckDB);
  *  - dot products are fixed-order left folds in double (both engines);
  *  - ratios are double divisions of exact integer counts;
  *  - every aggregate over hex strings sorts before concatenating.
  */
object TrainingDataQueries extends QueryPack {

  /** Shared DuckDB CTE: whitespace tokens per document. */
  private val toksCte =
    """toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |         FROM documents)""".stripMargin

  /** Shared DuckDB CTE fragments for distinct 3-shingles per doc. */
  private val shinglesCte =
    s"""$toksCte,
       |sh AS (SELECT doc_id, unnest(list_distinct(
       |         CASE WHEN len(t) >= 3
       |              THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
       |              ELSE [array_to_string(t, ' ')] END)) AS shingle
       |       FROM toks)""".stripMargin

  /** Shared DuckDB CTE chain: maximal duplicated 5-gram spans per document
    * (mirrors SubstringDedup.duplicatedSpans at k=5, minCount=2 — interval
    * merge over duplicated k-gram start positions; all-integer math). */
  private val substrSpansCte =
    s"""$toksCte,
       |g5 AS (SELECT doc_id, pos, array_to_string(t[pos+1:pos+5], ' ') AS gram
       |       FROM (SELECT doc_id, t,
       |               unnest(range(CASE WHEN len(t) >= 5 THEN len(t) - 4 ELSE 0 END)) AS pos
       |             FROM toks)),
       |dup5 AS (SELECT gram FROM g5 GROUP BY gram HAVING count(*) >= 2),
       |hit5 AS (SELECT doc_id, pos, pos + 5 AS e FROM g5 JOIN dup5 USING (gram)),
       |mrg5 AS (SELECT doc_id, pos, e,
       |           max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
       |         FROM hit5),
       |flg5 AS (SELECT doc_id, pos, e,
       |           CASE WHEN runmax IS NULL OR pos > runmax THEN 1 ELSE 0 END AS nf
       |         FROM mrg5),
       |grp5 AS (SELECT doc_id, pos, e,
       |           sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS UNBOUNDED PRECEDING) AS gid
       |         FROM flg5),
       |spans5 AS (SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
       |           FROM grp5 GROUP BY doc_id, gid)""".stripMargin

  /** Merge count for the `bpe_merges` gate — ONE constant feeds both the
    * Spark learner and the generated DuckDB oracle below. */
  private[queries] val BpeMergeCount = 8

  /** Power-iteration round count for the `host_pagerank` gate — ONE
    * constant feeds the Spark operator call and the unrolled DuckDB
    * oracle rounds. */
  private[queries] val PrIterations = 5

  /** Propagation round count for the `host_label_prop` gate. */
  private[queries] val LpIterations = 3

  /** Deterministic pseudo-link HOST graph shared by the link-graph gates
    * (`host_pagerank`, `host_label_prop`): each document links its host to
    * a hash-drawn host, the lexicographically-last host's out-edges are
    * dropped (so a dangling node exists), self-links are dropped. The
    * graph is HOST-sized; the corpus-scale work is this one projection. */
  private def hostEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val srcs = docs.select(col("source")).distinct()
    // host-sized frame (dozens of rows): single-partition window is fine
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("source"))
    val srcIdx = srcs.select(col("source").as("__dsts"),
      (row_number().over(w) - 1).cast("long").as("__i"))
    val bounds = srcs.agg(count(lit(1)).as("__ns"),
      max(col("source")).as("__last"))
    docs.select(col("doc_id"), col("source").as("src"))
      .crossJoin(broadcast(bounds))
      .filter(col("src") =!= col("__last"))
      .withColumn("__i", pmod(graft.functions.Md5Prefix.prefix(
        concat(col("doc_id").cast("string"), lit(":pr")), 8), col("__ns")))
      .join(broadcast(srcIdx), Seq("__i"))
      .filter(col("src") =!= col("__dsts"))
      .select(col("src"), col("__dsts").as("dst"))
  }

  /** Seed labels for `host_label_prop`: the four lexicographically-first
    * hosts, alternating between two labels. */
  private def hostSeeds(s: SparkSession, dir: String): DataFrame = {
    val srcs = Tables.documents(s, dir).select(col("source")).distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("source"))
    srcs.select(col("source").as("node"),
        (row_number().over(w) - 1).cast("long").as("__i"))
      .filter(col("__i") < 4)
      .select(col("node"),
        when(col("__i") % 2 === 0, lit("edu")).otherwise(lit("ref"))
          .as("label"))
  }

  /** The DuckDB mirror of [[hostEdges]] — the shared CTE prefix of both
    * link-graph oracles. */
  private val hostGraphCte =
    """srcs AS MATERIALIZED (SELECT source,
      |    row_number() OVER (ORDER BY source) - 1 AS i
      |  FROM (SELECT DISTINCT source FROM documents)),
      |ns AS MATERIALIZED (SELECT count(*) AS c, max(source) AS last FROM srcs),
      |edges AS MATERIALIZED (SELECT DISTINCT d.source AS src, s.source AS dst
      |  FROM documents d CROSS JOIN ns
      |  JOIN srcs s ON s.i = (CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':pr'), 1, 8) AS BIGINT) % ns.c)
      |  WHERE d.source <> ns.last AND d.source <> s.source)""".stripMargin

  /** Generated DuckDB oracle for [[graft.operators.LinkGraph.labelPropagate]]:
    * symmetrized host graph, clamped seeds, [[LpIterations]] unrolled
    * synchronous majority rounds (ties to the smallest label; a node with
    * no labeled neighbor keeps its previous label). */
  /** The LP CTE chain (symmetrized graph, seeds, unrolled rounds) with a
    * parameterized node-CTE name so it can coexist with the PR chain in
    * one composed WITH scope. Final labels live in `l<LpIterations>`. */
  private def labelPropCtes(nodesCte: String): String = {
    val rounds = (1 to LpIterations).map { i =>
      val p = if (i == 1) "l0" else s"l${i - 1}"
      s"""v$i AS MATERIALIZED (SELECT e.dst AS node, l.label AS nl, count(*) AS c
         |  FROM eu e JOIN $p l ON l.node = e.src
         |  WHERE l.label IS NOT NULL GROUP BY e.dst, l.label),
         |p$i AS MATERIALIZED (SELECT node, nl FROM
         |  (SELECT node, nl, row_number() OVER
         |     (PARTITION BY node ORDER BY c DESC, nl) AS rn FROM v$i)
         |  WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT n.node,
         |    COALESCE(s.label, p.nl, l.label) AS label
         |  FROM $nodesCte n LEFT JOIN seeds s ON s.node = n.node
         |  LEFT JOIN p$i p ON p.node = n.node
         |  LEFT JOIN $p l ON l.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""eu AS MATERIALIZED (SELECT src, dst FROM edges
       |  UNION SELECT dst, src FROM edges),
       |$nodesCte AS MATERIALIZED (SELECT DISTINCT src AS node FROM eu),
       |seeds AS MATERIALIZED (SELECT source AS node,
       |    CASE WHEN i % 2 = 0 THEN 'edu' ELSE 'ref' END AS label
       |  FROM srcs WHERE i < 4),
       |l0 AS MATERIALIZED (SELECT n.node, s.label
       |  FROM $nodesCte n LEFT JOIN seeds s ON s.node = n.node),
       |$rounds""".stripMargin
  }

  private def labelPropOracle: String =
    s"""WITH $hostGraphCte,
       |${labelPropCtes("nodes")}
       |SELECT l.node, l.label, (s.node IS NOT NULL) AS is_seed
       |FROM l$LpIterations l LEFT JOIN seeds s ON s.node = l.node
       |ORDER BY l.node""".stripMargin

  /** Generated DuckDB oracle for [[graft.operators.LinkGraph.pageRank]]:
    * the same deterministic host graph the gate synthesizes (hash-drawn
    * destination host per document, last host's out-edges dropped so a
    * dangling node exists), then [[PrIterations]] unrolled rounds of the
    * exact fixed-point update — every division an integer floor, so the
    * trajectory matches Spark bit for bit. */
  /** The PR CTE chain (nodes, degrees, unrolled fixed-point rounds) —
    * final masses live in `r<PrIterations>`; node CTE name parameterized
    * for composed WITH scopes. */
  private def pageRankCtes(nodesCte: String): String = {
    val scale = graft.operators.LinkGraph.Scale
    val rounds = (1 to PrIterations).map { i =>
      val p = if (i == 1) "r0" else s"r${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT COALESCE(sum(r.r), 0) AS dang
         |  FROM $p r LEFT JOIN deg g ON g.node = r.node WHERE g.dg IS NULL),
         |c$i AS MATERIALIZED (SELECT e.dst AS node, sum(r.r // g.dg) AS inc
         |  FROM edges e JOIN $p r ON r.node = e.src
         |  JOIN deg g ON g.node = e.src GROUP BY e.dst),
         |r$i AS MATERIALIZED (SELECT n.node,
         |    ((100 - 85) * ($scale // nn.n)) // 100
         |    + (85 * (COALESCE(c.inc, 0) + (d.dang // nn.n))) // 100 AS r
         |  FROM $nodesCte n CROSS JOIN nn CROSS JOIN d$i d
         |  LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""$nodesCte AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM $nodesCte),
       |deg AS MATERIALIZED (SELECT src AS node, count(*) AS dg FROM edges GROUP BY src),
       |r0 AS MATERIALIZED (SELECT node, $scale // nn.n AS r FROM $nodesCte CROSS JOIN nn),
       |$rounds""".stripMargin
  }

  private def pageRankOracle: String =
    s"""WITH $hostGraphCte,
       |${pageRankCtes("nodes")}
       |SELECT node, CAST(r AS BIGINT) AS rank_int
       |FROM r$PrIterations ORDER BY node""".stripMargin

  /** Composed oracle for `host_report`: ONE host graph, the PR chain and
    * the LP chain side by side (distinct node-CTE names), plus per-host
    * document aggregates — the reputation table joined exactly as the
    * Spark gate joins it. */
  private def hostReportOracle: String =
    s"""WITH $toksCte,
       |$hostGraphCte,
       |${pageRankCtes("prnodes")},
       |${labelPropCtes("lpnodes")},
       |agg AS MATERIALIZED (SELECT d.source AS node,
       |    count(*) AS n_docs,
       |    CAST(sum(len(t)) AS BIGINT) AS total_tokens
       |  FROM documents d JOIN toks USING (doc_id) GROUP BY d.source)
       |SELECT l.node, l.label, (s.node IS NOT NULL) AS is_seed,
       |  CAST(p.r AS BIGINT) AS rank_int,
       |  COALESCE(a.n_docs, 0) AS n_docs,
       |  COALESCE(a.total_tokens, 0) AS total_tokens
       |FROM l$LpIterations l
       |JOIN r$PrIterations p ON p.node = l.node
       |LEFT JOIN seeds s ON s.node = l.node
       |LEFT JOIN agg a ON a.node = l.node
       |ORDER BY l.node""".stripMargin

  /** Shared DuckDB CTE chain: MinHash band signatures (shingles → 28-bit
    * base hash → 8 fixed universal-hash permutations → 2-hash band
    * digests) — the pair-generation prefix both `dedup_minhash_lsh` and
    * `dedup_source_matrix` replay. Constants mirror
    * [[graft.operators.Dedup.MinhashA]]/[[graft.operators.Dedup.MinhashB]]
    * VERBATIM. */
  private def lshBandsCtes: String =
    s"""$shinglesCte,
       |hs AS (SELECT doc_id,
       |         CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS h
       |       FROM sh),
       |perm(i, pa, pb) AS (VALUES
       |  (0, 981238597, 825377933), (1, 673562387, 743900233),
       |  (2, 552963643, 621445373), (3, 413158523, 536870923),
       |  (4, 316199399, 433024253), (5, 247073897, 362867483),
       |  (6, 198491317, 297779117), (7, 153889403, 247073891)),
       |mh AS (SELECT doc_id, i, min((pa * h + pb) % 268435456) AS mh
       |       FROM hs CROSS JOIN perm GROUP BY 1, 2),
       |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
       |            md5(string_agg(CAST(i AS VARCHAR) || '|' || mh, ''
       |                ORDER BY CAST(i AS VARCHAR) || '|' || mh)) AS sig
       |          FROM mh GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTE chain for the n-gram-heuristic language id —
    * mirrors TextAnalysis.langScoresFromTokens/predictedLangFromTokens;
    * `pred` carries (doc_id, predicted, score_*). Feeds `text_langid`
    * and `langid_confusion`. */
  private val langidCtes: String =
    s"""lt AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
       |            FROM documents),
       |lsc AS (SELECT doc_id,
       |  len(list_filter(t, x -> x IN ('der','die','und','ist'))) AS score_de,
       |  len(list_filter(t, x -> x IN ('the','a','of','and'))) AS score_en,
       |  len(list_filter(t, x -> x IN ('el','la','de','y'))) AS score_es,
       |  len(list_filter(t, x -> x IN ('le','la','et','est'))) AS score_fr,
       |  len(list_filter(t, x -> x IN ('de','shi','le','he'))) AS score_zh
       |  FROM lt),
       |pred AS (SELECT doc_id,
       |  CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_de > 0 THEN 'de'
       |       WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_en > 0 THEN 'en'
       |       WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_es > 0 THEN 'es'
       |       WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_fr > 0 THEN 'fr'
       |       WHEN score_zh = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_zh > 0 THEN 'zh'
       |       ELSE 'und' END AS predicted,
       |  score_de, score_en, score_es, score_fr, score_zh
       |FROM lsc)""".stripMargin

  /** Shared DuckDB CTE chain for the ensemble-rank gates: three integer
    * signals → per-signal cumulative-percentile ranks → `ens` carrying
    * (doc_id, n_tok, n_distinct, n_chars, rank_*, ensemble_micro).
    * Feeds `quality_ensemble` and the L148 domain-prior blend. */
  private def ensembleCtes: String =
    s"""$toksCte,
       |sig AS (SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tok,
       |          CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       |          CAST(length(d.text) AS BIGINT) AS n_chars
       |        FROM documents d JOIN toks USING (doc_id)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sig),
       |c1 AS (SELECT v, (CAST(sum(c) OVER (ORDER BY v
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |          * 1000000) // (SELECT n FROM nn) AS r
       |       FROM (SELECT n_tok AS v, count(*) AS c FROM sig GROUP BY 1)),
       |c2 AS (SELECT v, (CAST(sum(c) OVER (ORDER BY v
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |          * 1000000) // (SELECT n FROM nn) AS r
       |       FROM (SELECT n_distinct AS v, count(*) AS c FROM sig GROUP BY 1)),
       |c3 AS (SELECT v, (CAST(sum(c) OVER (ORDER BY v
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |          * 1000000) // (SELECT n FROM nn) AS r
       |       FROM (SELECT n_chars AS v, count(*) AS c FROM sig GROUP BY 1)),
       |ens AS MATERIALIZED (SELECT s.doc_id, s.n_tok, s.n_distinct,
       |    s.n_chars, c1.r AS rank_n_tok, c2.r AS rank_n_distinct,
       |    c3.r AS rank_n_chars,
       |    (c1.r + c2.r + c3.r) // 3 AS ensemble_micro
       |  FROM sig s JOIN c1 ON s.n_tok = c1.v
       |  JOIN c2 ON s.n_distinct = c2.v JOIN c3 ON s.n_chars = c3.v)""".stripMargin

  /** Shared SFT-pair curation rule set (L144) — ONE ordered definition
    * feeds the Spark rules and the generated oracle, the
    * [[CurationRuleSql]] discipline. Signals: itok/rtok (whitespace
    * tokens of instruction/response), plus the raw strings. */
  private val SftRuleSql = Seq(
    "resp_min_tokens" -> "(rtok >= 5)",
    "len_ratio" -> "(rtok * 10 >= itok AND rtok <= itok * 30)",
    "no_refusal" -> ("(NOT (position('i cannot' IN response) > 0 " +
      "OR position('as an ai' IN response) > 0 " +
      "OR position('i am sorry' IN response) > 0))"),
    "resp_not_echo" -> "(response <> instruction)")

  /** Spark twin of [[SftRuleSql]]. */
  private def sftRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "resp_min_tokens" -> (col("rtok") >= 5),
    "len_ratio" ->
      (col("rtok") * 10 >= col("itok") && col("rtok") <= col("itok") * 30),
    "no_refusal" -> !(col("response").contains("i cannot") ||
      col("response").contains("as an ai") ||
      col("response").contains("i am sorry")),
    "resp_not_echo" -> (col("response") =!= col("instruction")))

  /** Shared DuckDB CTE chain for the L139 tiling gates: positioned
    * tokens → 8-token block term counts → adjacent-block histogram
    * intersection → windowed (±2) valley depths → per-doc mean cutoff;
    * `tile` carries (doc_id, gap_idx, sim, depth, boundary). */
  private def tilingCtes: String =
    s"""$toksCte,
       |tp AS MATERIALIZED (SELECT doc_id, i AS pos, t[i+1] AS tok
       |  FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)),
       |bt AS MATERIALIZED (SELECT doc_id, pos // 8 AS blk, tok,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tp GROUP BY 1, 2, 3),
       |tsims AS (SELECT l.doc_id, l.blk + 1 AS gap_idx,
       |    CAST(sum(least(l.c, r.c)) AS BIGINT) AS sim
       |  FROM bt l JOIN bt r ON l.doc_id = r.doc_id AND r.blk = l.blk + 1
       |    AND l.tok = r.tok
       |  GROUP BY 1, 2),
       |tgaps AS (SELECT DISTINCT doc_id, blk AS gap_idx FROM bt WHERE blk > 0),
       |tsc AS (SELECT g.doc_id, g.gap_idx, COALESCE(s.sim, 0) AS sim
       |  FROM tgaps g LEFT JOIN tsims s ON s.doc_id = g.doc_id
       |    AND s.gap_idx = g.gap_idx),
       |tdep AS (SELECT doc_id, gap_idx, sim,
       |    (max(sim) OVER (PARTITION BY doc_id ORDER BY gap_idx
       |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) - sim)
       |  + (max(sim) OVER (PARTITION BY doc_id ORDER BY gap_idx
       |       ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) - sim) AS depth
       |  FROM tsc),
       |tst AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(depth) AS BIGINT) AS sm FROM tdep GROUP BY 1),
       |tile AS (SELECT d.doc_id, d.gap_idx, d.sim, d.depth,
       |    d.depth * tst.n > tst.sm AS boundary
       |  FROM tdep d JOIN tst USING (doc_id))""".stripMargin

  /** The curation rule set shared by the `filter_provenance` /
    * `filter_ablation` gates — ONE ordered definition feeds the Spark
    * rules, the DuckDB predicates, and both oracles. Signals: ntok
    * (whitespace tokens), n_chars, divr (distinct/total tokens, 0.0 for
    * empty docs), lang. */
  private val CurationRuleSql = Seq(
    "min_tokens" -> "(ntok >= 25)",
    "max_chars" -> "(n_chars <= 400)",
    "diversity" -> "(divr >= 0.35)",
    "english" -> "(lang = 'en')")

  /** Spark twin of [[CurationRuleSql]] over the signals frame below. */
  private def curationRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "min_tokens" -> (col("ntok") >= 25),
    "max_chars" -> (col("n_chars") <= 400),
    "diversity" -> (col("divr") >= 0.35),
    "english" -> (col("lang") === "en"))

  private def curationSignals(s: SparkSession, dir: String): DataFrame = {
    val all = graft.functions.WordShingles.allShingles(col("text"), 1)
    val dst = graft.functions.WordShingles.shingles(col("text"), 1)
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      col("n_chars"), size(all).as("ntok"),
      when(size(all) > 0, size(dst).cast("double") / size(all))
        .otherwise(lit(0.0)).as("divr"))
  }

  // ---- builders shared by the six signal gates and the
  // quality_signals composition, which joins their frames -----------------
  private def qualityFrame(docs: DataFrame): DataFrame = {
    val withToks = docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("__toks"))
    val cols = TextAnalysis.qualityColumnsFromTokens(col("text"), col("__toks"))
      .map { case (n, c) => c.as(n) }
    withToks.select(col("doc_id") +: cols: _*)
  }

  private def langidFrame(docs: DataFrame): DataFrame = {
    val withToks = docs
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("__toks"))
    val scores = TextAnalysis.langScoresFromTokens(col("__toks"))
      .map { case (l, c) => c.as(s"score_$l") }
    withToks.select(Seq(col("doc_id"),
      TextAnalysis.predictedLangFromTokens(col("__toks")).as("predicted")) ++
      scores: _*)
  }

  private def fingerprintFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Shared DuckDB CTE: the per-document rule predicates p0..pN. */
  private def curationPredCte: String = {
    val preds = CurationRuleSql.zipWithIndex
      .map { case ((_, sql), i) => s"$sql AS p$i" }.mkString(", ")
    s"""$toksCte,
       |sig AS MATERIALIZED (SELECT d.doc_id, d.lang, d.n_chars,
       |    len(t) AS ntok,
       |    CASE WHEN len(t) > 0
       |         THEN CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
       |         ELSE 0.0 END AS divr
       |  FROM toks JOIN documents d USING (doc_id)),
       |p AS MATERIALIZED (SELECT doc_id, $preds FROM sig)""".stripMargin
  }

  private def filterProvenanceOracle: String = {
    val idx = CurationRuleSql.indices
    val lists = CurationRuleSql.zipWithIndex.map { case ((n, _), i) =>
      s"(CASE WHEN p$i THEN CAST([] AS VARCHAR[]) ELSE ['$n'] END)"
    }.mkString(" || ")
    s"""WITH $curationPredCte
       |SELECT doc_id,
       |  (${idx.map(i => s"p$i").mkString(" AND ")}) AS keep,
       |  (${idx.map(i => s"CASE WHEN p$i THEN 0 ELSE 1 END").mkString(" + ")})
       |    AS n_fails,
       |  COALESCE(array_to_string($lists, '|'), '') AS fail_reasons,
       |  ($lists)[1] AS first_fail
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** Generated DuckDB oracle for `drift_report`: per signal, reference
    * quantile_cont cuts, bucket counts on both sides over the full
    * bucket domain, add-one smoothed proportions, and micro-quantized
    * PSI terms summed as integers — every float op in the same order as
    * [[graft.operators.CorpusStats.driftReport]]. */
  private def driftOracle: String = {
    val b = 5
    val sigs = Seq("ntok", "n_chars")
    val ctes = sigs.map { sig =>
      val cond = (1 until b)
        .map(i => s"CASE WHEN $sig > c[$i] THEN 1 ELSE 0 END")
        .mkString(" + ")
      val fr = (1 until b).map(i => s"${i.toDouble / b}").mkString(", ")
      s"""q_$sig AS MATERIALIZED (SELECT quantile_cont(CAST($sig AS DOUBLE),
         |    [$fr]) AS c
         |  FROM sig WHERE lang = 'en'),
         |b_$sig AS MATERIALIZED (SELECT (lang = 'en') AS isref,
         |    ($cond) AS bk FROM sig CROSS JOIN q_$sig),
         |g_$sig AS MATERIALIZED (SELECT
         |    coalesce(r.n, 0) AS nr, coalesce(cu.n, 0) AS nc
         |  FROM (SELECT unnest(range($b)) AS bk) d
         |  LEFT JOIN (SELECT bk, count(*) AS n FROM b_$sig
         |             WHERE isref GROUP BY bk) r ON r.bk = d.bk
         |  LEFT JOIN (SELECT bk, count(*) AS n FROM b_$sig
         |             WHERE NOT isref GROUP BY bk) cu ON cu.bk = d.bk),
         |p_$sig AS MATERIALIZED (SELECT
         |    CAST(nr + 1 AS DOUBLE)
         |      / CAST((SELECT sum(nr) FROM g_$sig) + $b AS DOUBLE) AS pr,
         |    CAST(nc + 1 AS DOUBLE)
         |      / CAST((SELECT sum(nc) FROM g_$sig) + $b AS DOUBLE) AS pc,
         |    (SELECT CAST(sum(nr) AS BIGINT) FROM g_$sig) AS tr,
         |    (SELECT CAST(sum(nc) AS BIGINT) FROM g_$sig) AS tc
         |  FROM g_$sig)""".stripMargin
    }.mkString(",\n")
    val rows = sigs.map { sig =>
      s"""SELECT '$sig' AS signal,
         |  CAST(CAST(sum(CAST(round((pc - pr) * ln(pc / pr) * 1e6)
         |    AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6 AS psi,
         |  first(tr) AS n_ref, first(tc) AS n_cur
         |FROM p_$sig""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $curationPredCte,
       |$ctes
       |SELECT * FROM ($rows) ORDER BY signal""".stripMargin
  }

  private def filterAblationOracle: String = {
    val rows = CurationRuleSql.zipWithIndex.map { case ((n, _), i) =>
      val others = CurationRuleSql.indices.filter(_ != i)
        .map(j => s"p$j").mkString(" AND ")
      val prefix = (0 to i).map(j => s"p$j").mkString(" AND ")
      s"""SELECT '$n' AS rule, $i AS rule_idx,
         |  (SELECT count(*) FROM p WHERE NOT p$i) AS n_fail,
         |  (SELECT count(*) FROM p WHERE NOT p$i AND $others)
         |    AS n_unique_fail,
         |  (SELECT count(*) FROM p WHERE NOT ($prefix)) AS n_cum_killed,
         |  (SELECT count(*) FROM p) AS n_docs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $curationPredCte
       |$rows
       |ORDER BY rule_idx""".stripMargin
  }

  /** Batch size for the `bpe_merges_batched` gate (the production path's
    * contract: per round, greedily accept up to batchSize symbol-disjoint
    * candidates from the top weight-ranked pairs, apply them in ONE
    * re-segmentation pass). The oracle unrolls ceil(count/batch) rounds;
    * on this corpus every round accepts a full batch at sf0.001/0.01/0.1
    * (checked by simulation), so the unroll depth is exact — an
    * under-accepting round would change the round count and fail the gate
    * loudly rather than silently. */
  private[queries] val BpeBatchSize = 4

  /** Generated DuckDB oracle for BPE learning: the merge loop is
    * sequential, so for the FIXED gate merge count it unrolls into chained
    * CTE layers — each layer counts adjacent piece pairs, takes the
    * (weight desc, left, right) argmax, and re-segments via a
    * string-encoded greedy fold (pieces joined by single spaces; tokens
    * are whitespace-split so pieces never contain one). Mirrors
    * BpeLearn.learn with endOfWord = "</w>". */
  private def bpeOracle: String = {
    val selects = (0 until BpeMergeCount).map { k =>
      s"""SELECT $k AS "rank", l AS "left", r AS "right", l || r AS merged, w AS weight FROM b$k"""
    }
    bpeLayerCtes(endOfWord = true, materialized = false)
      .mkString("WITH ", ",\n", "\n") +
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"rank\"")
  }

  /** The BPE learning replay as reusable CTE layers (toks/wf/seg0 +
    * one p$k/b$k/seg$k triple per merge). `endOfWord=false` drops the
    * `</w>` marker (the tokenizer-pipeline shape, whose learned symbols
    * must be servable against raw text); `materialized` wraps every CTE
    * for consumers that reference layers more than once. */
  private def bpeLayerCtes(endOfWord: Boolean,
                           materialized: Boolean): Seq[String] = {
    val m = if (materialized) " MATERIALIZED" else ""
    val eow = if (endOfWord) " || ' </w>'" else ""
    val base = Seq(
      toksCte,
      s"""wf AS$m (SELECT word, count(*) AS cnt
         |       FROM (SELECT unnest(t) AS word FROM toks) GROUP BY 1)""".stripMargin,
      s"""seg0 AS$m (SELECT cnt,
         |           array_to_string(list_transform(range(len(word)),
         |             i -> word[i+1:i+1]), ' ')$eow AS s
         |         FROM wf)""".stripMargin)
    val layers = (0 until BpeMergeCount).flatMap { k =>
      val pair =
        s"""p$k AS$m (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS w
           |        FROM (SELECT cnt, parts[i+1] AS l, parts[i+2] AS r
           |              FROM (SELECT cnt, parts, unnest(range(len(parts) - 1)) AS i
           |                    FROM (SELECT cnt, string_split(s, ' ') AS parts
           |                          FROM seg$k)))
           |        GROUP BY 1, 2)""".stripMargin
      val best = s"b$k AS$m (SELECT l, r, w FROM p$k ORDER BY w DESC, l, r LIMIT 1)"
      val reseg = if (k == BpeMergeCount - 1) Nil else Seq(
        s"""seg${k + 1} AS$m (SELECT cnt, list_reduce(string_split(s, ' '), (acc, x) ->
           |  CASE WHEN acc = b.l AND x = b.r THEN b.l || b.r
           |       WHEN len(acc) > len(b.l) AND acc[len(acc)-len(b.l):] = ' ' || b.l AND x = b.r
           |         THEN acc[1:len(acc)-len(b.l)-1] || ' ' || b.l || b.r
           |       ELSE acc || ' ' || x END) AS s
           |  FROM seg$k, b$k b)""".stripMargin)
      Seq(pair, best) ++ reseg
    }
    base ++ layers
  }

  /** Generated DuckDB oracle for BATCHED BPE learning ([[BpeLearn
    * .learnBatched]]): each unrolled round counts pairs exactly like the
    * sequential oracle, ranks the top batchSize×3 candidates, replays the
    * greedy symbol-disjoint selection as a RECURSIVE scan down the rank
    * order (the accumulator carries the used-symbol list — the sequential
    * dependence that has no closed window form), and applies the whole
    * accepted batch in ONE string-fold re-segmentation. At most one batch
    * pair can match at any position (the disjointness the selection
    * enforced), so the fold's branch order is immaterial — the same
    * argument that makes the Spark batch apply order-free. Merge ranks are
    * data-driven (earlier rounds' accepted counts), so an under-accepting
    * round misaligns the unroll and fails the gate loudly. */
  private def bpeBatchedOracle: String = {
    val rounds = (BpeMergeCount + BpeBatchSize - 1) / BpeBatchSize
    val base = Seq(
      toksCte,
      """wf AS (SELECT word, count(*) AS cnt
        |       FROM (SELECT unnest(t) AS word FROM toks) GROUP BY 1)""".stripMargin,
      """seg0 AS MATERIALIZED (SELECT cnt,
        |           array_to_string(list_transform(range(len(word)),
        |             i -> word[i+1:i+1]), ' ') || ' </w>' AS s
        |         FROM wf)""".stripMargin)
    val layers = (0 until rounds).flatMap { k =>
      val want = math.min(BpeMergeCount - k * BpeBatchSize, BpeBatchSize)
      val pair =
        s"""p$k AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS w
           |        FROM (SELECT cnt, parts[i+1] AS l, parts[i+2] AS r
           |              FROM (SELECT cnt, parts, unnest(range(len(parts) - 1)) AS i
           |                    FROM (SELECT cnt, string_split(s, ' ') AS parts
           |                          FROM seg$k)))
           |        GROUP BY 1, 2)""".stripMargin
      val cand =
        s"""c$k AS MATERIALIZED (SELECT l, r, w, rn FROM (
           |        SELECT l, r, w,
           |          row_number() OVER (ORDER BY w DESC, l, r) AS rn
           |        FROM p$k) WHERE rn <= ${want * 3})""".stripMargin
      val ok = s"(s.n < $want AND c.w >= 2 AND NOT list_contains(s.used, c.l)" +
        " AND NOT list_contains(s.used, c.r))"
      val sel =
        s"""sel$k(rn, n, used, acc) AS (
           |  SELECT CAST(0 AS BIGINT), 0, CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[])
           |  UNION ALL
           |  SELECT c.rn,
           |    CASE WHEN $ok THEN s.n + 1 ELSE s.n END,
           |    CASE WHEN $ok THEN s.used || [c.l, c.r] ELSE s.used END,
           |    CASE WHEN $ok
           |         THEN s.acc || [c.l || chr(9) || c.r || chr(9) || CAST(c.w AS VARCHAR)]
           |         ELSE s.acc END
           |  FROM sel$k s JOIN c$k c ON c.rn = s.rn + 1)""".stripMargin
      val accepted =
        s"""bt$k AS MATERIALIZED (SELECT CAST(u[2] AS INT) - 1 AS idx,
           |          string_split(u[1], chr(9))[1] AS l,
           |          string_split(u[1], chr(9))[2] AS r,
           |          CAST(string_split(u[1], chr(9))[3] AS BIGINT) AS w
           |        FROM (SELECT unnest(list_zip(acc, range(1, len(acc) + 1))) AS u
           |              FROM sel$k WHERE rn = (SELECT max(rn) FROM c$k)))""".stripMargin
      val pivot = {
        val cols = (0 until BpeBatchSize).map(i =>
          s"max(CASE WHEN idx = $i THEN l END) AS l$i, " +
            s"max(CASE WHEN idx = $i THEN r END) AS r$i").mkString(",\n          ")
        s"""pv$k AS MATERIALIZED (SELECT
           |          $cols
           |        FROM bt$k)""".stripMargin
      }
      val reseg = if (k == rounds - 1) Nil else {
        val branches = (0 until BpeBatchSize).map { i =>
          s"""WHEN b.l$i IS NOT NULL AND acc = b.l$i AND x = b.r$i THEN b.l$i || b.r$i
             |       WHEN b.l$i IS NOT NULL AND len(acc) > len(b.l$i)
             |            AND acc[len(acc)-len(b.l$i):] = ' ' || b.l$i AND x = b.r$i
             |         THEN acc[1:len(acc)-len(b.l$i)-1] || ' ' || b.l$i || b.r$i""".stripMargin
        }.mkString("\n       ")
        Seq(
          s"""seg${k + 1} AS MATERIALIZED (SELECT cnt, list_reduce(string_split(s, ' '), (acc, x) ->
             |  CASE $branches
             |       ELSE acc || ' ' || x END) AS s
             |  FROM seg$k, pv$k b)""".stripMargin)
      }
      Seq(pair, cand, sel, accepted, pivot) ++ reseg
    }
    val selects = (0 until rounds).map { k =>
      val offset =
        if (k == 0) "0"
        else (0 until k).map(j => s"(SELECT count(*) FROM bt$j)").mkString(" + ")
      s"""SELECT CAST($offset + idx AS INT) AS "rank", l AS "left", r AS "right", l || r AS merged, w AS weight FROM bt$k"""
    }
    (base ++ layers).mkString("WITH RECURSIVE ", ",\n", "\n") +
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"rank\"")
  }

  /** Merge count for the WordPiece gates — ONE constant feeds the Spark
    * learner and both generated DuckDB oracles below. */
  private[queries] val WpMergeCount = 8

  /** Shared CTE layers replaying [[WordPiece.learn]] in DuckDB: per round,
    * pair counts + symbol counts, the likelihood argmax
    * (w / (cl·cr) — ONE correctly-rounded IEEE division of exact
    * long→double casts, bit-identical across engines; ties lexicographic
    * on (l, r)), then the same string-fold re-segmentation as the BPE
    * oracle. Every CTE is MATERIALIZED: seg$k is referenced THREE times
    * (pairs, symbol counts, next layer) and DuckDB inlines plain CTEs —
    * an 8-layer chain would recompute 3^8 times (the corpus_pipeline
    * lesson). Returns (CTE list, final round index). */
  private def wordpieceLayers: Seq[String] = {
    val base = Seq(
      toksCte,
      """wf AS (SELECT word, count(*) AS cnt
        |       FROM (SELECT unnest(t) AS word FROM toks) GROUP BY 1)""".stripMargin,
      """seg0 AS MATERIALIZED (SELECT cnt,
        |           array_to_string(list_transform(range(len(word)),
        |             i -> CASE WHEN i = 0 THEN word[i+1:i+1]
        |                       ELSE '##' || word[i+1:i+1] END), ' ') AS s
        |         FROM wf)""".stripMargin)
    val layers = (0 until WpMergeCount).flatMap { k =>
      val pair =
        s"""p$k AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS w
           |        FROM (SELECT cnt, parts[i+1] AS l, parts[i+2] AS r
           |              FROM (SELECT cnt, parts, unnest(range(len(parts) - 1)) AS i
           |                    FROM (SELECT cnt, string_split(s, ' ') AS parts
           |                          FROM seg$k)))
           |        GROUP BY 1, 2)""".stripMargin
      val syms =
        s"""y$k AS MATERIALIZED (SELECT x AS sym, CAST(sum(cnt) AS BIGINT) AS c
           |        FROM (SELECT cnt, unnest(string_split(s, ' ')) AS x FROM seg$k)
           |        GROUP BY 1)""".stripMargin
      val best =
        s"""b$k AS MATERIALIZED (SELECT l, r, w, cl, cr FROM (
           |        SELECT p.l, p.r, p.w AS w, yl.c AS cl, yr.c AS cr,
           |          CAST(p.w AS DOUBLE) / (CAST(yl.c AS DOUBLE) * CAST(yr.c AS DOUBLE)) AS score
           |        FROM p$k p JOIN y$k yl ON yl.sym = p.l JOIN y$k yr ON yr.sym = p.r
           |        WHERE p.w >= 2)
           |      ORDER BY score DESC, l, r LIMIT 1)""".stripMargin
      val reseg = if (k == WpMergeCount - 1) Nil else Seq(
        s"""seg${k + 1} AS MATERIALIZED (SELECT cnt, list_reduce(string_split(s, ' '), (acc, x) ->
           |  CASE WHEN acc = b.l AND x = b.r THEN b.l || b.r
           |       WHEN len(acc) > len(b.l) AND acc[len(acc)-len(b.l):] = ' ' || b.l AND x = b.r
           |         THEN acc[1:len(acc)-len(b.l)-1] || ' ' || b.l || b.r
           |       ELSE acc || ' ' || x END) AS s
           |  FROM seg$k, b$k b)""".stripMargin)
      Seq(pair, syms, best) ++ reseg
    }
    base ++ layers
  }

  /** DuckDB display-form expression for an internal WordPiece symbol
    * `e`: strip constituent-boundary `##` markers, keep a word-initial
    * one (mirrors [[WordPiece.display]]). */
  private def wpDisplaySql(e: String): String =
    s"CASE WHEN $e LIKE '##%' THEN '##' || replace(substr($e, 3), '##', '') " +
      s"ELSE replace($e, '##', '') END"

  /** Batch size for the `wordpiece_merges_batched` gate (same contract
    * as [[BpeBatchSize]]: per round, greedily accept up to batchSize
    * symbol-disjoint candidates from the top SCORE-ranked pairs). The
    * oracle unrolls ceil(count/batch) rounds; an under-accepting round
    * misaligns the unroll and fails the gate loudly. */
  private[queries] val WpBatchSize = 4

  /** Generated DuckDB oracle for BATCHED WordPiece learning
    * ([[graft.operators.WordPiece.learnBatched]]): each unrolled round
    * counts pairs and symbols exactly like the sequential
    * [[wordpieceLayers]], ranks the top batchSize×3 candidates by the
    * likelihood score (w/(cl·cr) — one correctly-rounded IEEE division
    * of exact counts; ties lexicographic on (l, r)), replays the greedy
    * symbol-disjoint selection as a RECURSIVE scan down the rank order
    * (the [[bpeBatchedOracle]] machinery — the accumulator carries the
    * used-symbol list), and applies the whole accepted batch in ONE
    * string-fold re-segmentation. Disjointness makes the fold's branch
    * order immaterial, the same argument as BPE's. */
  private def wordpieceBatchedOracle: String = {
    val rounds = (WpMergeCount + WpBatchSize - 1) / WpBatchSize
    val base = Seq(
      toksCte,
      """wf AS (SELECT word, count(*) AS cnt
        |       FROM (SELECT unnest(t) AS word FROM toks) GROUP BY 1)""".stripMargin,
      """seg0 AS MATERIALIZED (SELECT cnt,
        |           array_to_string(list_transform(range(len(word)),
        |             i -> CASE WHEN i = 0 THEN word[i+1:i+1]
        |                       ELSE '##' || word[i+1:i+1] END), ' ') AS s
        |         FROM wf)""".stripMargin)
    val layers = (0 until rounds).flatMap { k =>
      val want = math.min(WpMergeCount - k * WpBatchSize, WpBatchSize)
      val pair =
        s"""p$k AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS w
           |        FROM (SELECT cnt, parts[i+1] AS l, parts[i+2] AS r
           |              FROM (SELECT cnt, parts, unnest(range(len(parts) - 1)) AS i
           |                    FROM (SELECT cnt, string_split(s, ' ') AS parts
           |                          FROM seg$k)))
           |        GROUP BY 1, 2)""".stripMargin
      val syms =
        s"""y$k AS MATERIALIZED (SELECT x AS sym, CAST(sum(cnt) AS BIGINT) AS c
           |        FROM (SELECT cnt, unnest(string_split(s, ' ')) AS x FROM seg$k)
           |        GROUP BY 1)""".stripMargin
      val cand =
        s"""c$k AS MATERIALIZED (SELECT l, r, w, cl, cr, rn FROM (
           |        SELECT p.l, p.r, p.w AS w, yl.c AS cl, yr.c AS cr,
           |          row_number() OVER (ORDER BY
           |            CAST(p.w AS DOUBLE) / (CAST(yl.c AS DOUBLE) * CAST(yr.c AS DOUBLE)) DESC,
           |            p.l, p.r) AS rn
           |        FROM p$k p JOIN y$k yl ON yl.sym = p.l JOIN y$k yr ON yr.sym = p.r
           |        WHERE p.w >= 2) WHERE rn <= ${want * 3})""".stripMargin
      val ok = s"(s.n < $want AND NOT list_contains(s.used, c.l)" +
        " AND NOT list_contains(s.used, c.r))"
      val sel =
        s"""sel$k(rn, n, used, acc) AS (
           |  SELECT CAST(0 AS BIGINT), 0, CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[])
           |  UNION ALL
           |  SELECT c.rn,
           |    CASE WHEN $ok THEN s.n + 1 ELSE s.n END,
           |    CASE WHEN $ok THEN s.used || [c.l, c.r] ELSE s.used END,
           |    CASE WHEN $ok
           |         THEN s.acc || [c.l || chr(9) || c.r || chr(9) || CAST(c.w AS VARCHAR)
           |                        || chr(9) || CAST(c.cl AS VARCHAR) || chr(9) || CAST(c.cr AS VARCHAR)]
           |         ELSE s.acc END
           |  FROM sel$k s JOIN c$k c ON c.rn = s.rn + 1)""".stripMargin
      val accepted =
        s"""bt$k AS MATERIALIZED (SELECT CAST(u[2] AS INT) - 1 AS idx,
           |          string_split(u[1], chr(9))[1] AS l,
           |          string_split(u[1], chr(9))[2] AS r,
           |          CAST(string_split(u[1], chr(9))[3] AS BIGINT) AS w,
           |          CAST(string_split(u[1], chr(9))[4] AS BIGINT) AS cl,
           |          CAST(string_split(u[1], chr(9))[5] AS BIGINT) AS cr
           |        FROM (SELECT unnest(list_zip(acc, range(1, len(acc) + 1))) AS u
           |              FROM sel$k WHERE rn = (SELECT max(rn) FROM c$k)))""".stripMargin
      val pivot = {
        val cols = (0 until WpBatchSize).map(i =>
          s"max(CASE WHEN idx = $i THEN l END) AS l$i, " +
            s"max(CASE WHEN idx = $i THEN r END) AS r$i").mkString(",\n          ")
        s"""pv$k AS MATERIALIZED (SELECT
           |          $cols
           |        FROM bt$k)""".stripMargin
      }
      val reseg = if (k == rounds - 1) Nil else {
        val branches = (0 until WpBatchSize).map { i =>
          s"""WHEN b.l$i IS NOT NULL AND acc = b.l$i AND x = b.r$i THEN b.l$i || b.r$i
             |       WHEN b.l$i IS NOT NULL AND len(acc) > len(b.l$i)
             |            AND acc[len(acc)-len(b.l$i):] = ' ' || b.l$i AND x = b.r$i
             |         THEN acc[1:len(acc)-len(b.l$i)-1] || ' ' || b.l$i || b.r$i""".stripMargin
        }.mkString("\n       ")
        Seq(
          s"""seg${k + 1} AS MATERIALIZED (SELECT cnt, list_reduce(string_split(s, ' '), (acc, x) ->
             |  CASE $branches
             |       ELSE acc || ' ' || x END) AS s
             |  FROM seg$k, pv$k b)""".stripMargin)
      }
      Seq(pair, syms, cand, sel, accepted, pivot) ++ reseg
    }
    val selects = (0 until rounds).map { k =>
      val offset =
        if (k == 0) "0"
        else (0 until k).map(j => s"(SELECT count(*) FROM bt$j)").mkString(" + ")
      s"""SELECT CAST($offset + idx AS INT) AS "rank", l AS "left", r AS "right",
         |  ${wpDisplaySql("l || r")} AS merged,
         |  w AS weight, cl AS left_cnt, cr AS right_cnt FROM bt$k""".stripMargin
    }
    (base ++ layers).mkString("WITH RECURSIVE ", ",\n", "\n") +
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"rank\"")
  }

  /** Generated oracle for `wordpiece_merges`. */
  private def wordpieceOracle: String = {
    val selects = (0 until WpMergeCount).map { k =>
      s"""SELECT $k AS "rank", l AS "left", r AS "right",
         |  ${wpDisplaySql("l || r")} AS merged,
         |  w AS weight, cl AS left_cnt, cr AS right_cnt FROM b$k""".stripMargin
    }
    wordpieceLayers.mkString("WITH ", ",\n", "\n") +
      selects.mkString("", "\nUNION ALL\n", "\nORDER BY \"rank\"")
  }

  /** Generated oracle for `wordpiece_tokenize`: re-learns the merges via
    * [[wordpieceLayers]], induces the vocabulary (corpus alphabet in
    * initial/continuation form + merged display forms), then replays
    * MaxMatch as a recursive CTE — at each position the LONGEST matching
    * fragment, initial entries only at position 1, continuations after,
    * and a word with any unmatched position collapses to '[UNK]'. */
  private def wordpieceTokenizeOracle: String = {
    val mergedRows = (0 until WpMergeCount)
      .map(k => s"SELECT ${wpDisplaySql("l || r")} AS piece FROM b$k")
      .mkString("\nUNION ALL\n")
    val vocabCtes = Seq(
      s"""alpha AS MATERIALIZED (SELECT DISTINCT
         |    CASE WHEN i = 0 THEN word[i+1:i+1] ELSE '##' || word[i+1:i+1] END AS piece
         |  FROM (SELECT word, unnest(range(len(word))) AS i FROM wf))""".stripMargin,
      s"""vocabx AS MATERIALIZED (SELECT DISTINCT piece,
         |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS frag,
         |    (piece LIKE '##%') AS is_cont
         |  FROM (SELECT piece FROM alpha UNION ALL $mergedRows)
         |  WHERE NOT (piece LIKE '##%' AND length(piece) <= 2))""".stripMargin,
      // token occurrences keyed by (doc_id, list ordinal)
      """wocc AS MATERIALIZED (SELECT doc_id, u[1] AS w, u[2] AS widx
        |  FROM (SELECT doc_id, unnest(list_zip(t, range(1, len(t)+1))) AS u
        |        FROM toks))""".stripMargin,
      // MaxMatch per DISTINCT word (occurrences join back after)
      """uw AS MATERIALIZED (SELECT DISTINCT w FROM wocc)""",
      // best hop per (word, position, side) precomputed NON-recursively —
      // a correlated vocabulary subquery inside the recursive term
      // silently returns NULL against a MATERIALIZED CTE (DuckDB 1.0;
      // bisected), so the recursion below only FOLLOWS these pointers
      """hops AS MATERIALIZED (
        |  SELECT w, pos, is_cont, frag FROM (
        |    SELECT p.w, p.pos, v.is_cont, v.frag,
        |      row_number() OVER (PARTITION BY p.w, p.pos, v.is_cont
        |                         ORDER BY length(v.frag) DESC) AS rn
        |    FROM (SELECT w, unnest(range(1, length(w) + 1)) AS pos FROM uw) p
        |    JOIN vocabx v ON v.frag = substr(p.w, CAST(p.pos AS INT), length(v.frag)))
        |  WHERE rn = 1)""".stripMargin,
      """mm AS (
        |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS step,
        |         CAST(NULL AS VARCHAR) AS piece, FALSE AS stuck
        |  FROM uw
        |  UNION ALL
        |  SELECT m.w,
        |    CASE WHEN h.frag IS NULL THEN length(m.w) + 1 ELSE m.pos + length(h.frag) END,
        |    m.step + 1,
        |    CASE WHEN h.frag IS NULL THEN NULL
        |         WHEN m.pos = 1 THEN h.frag ELSE '##' || h.frag END,
        |    h.frag IS NULL
        |  FROM mm m LEFT JOIN hops h
        |    ON h.w = m.w AND h.pos = m.pos AND h.is_cont = (m.pos > 1)
        |  WHERE m.pos <= length(m.w) AND NOT m.stuck)""".stripMargin,
      """wpieces AS MATERIALIZED (
        |  SELECT w,
        |    CASE WHEN bool_or(stuck) THEN ['[UNK]']
        |         ELSE list(piece ORDER BY step) END AS pieces
        |  FROM mm WHERE piece IS NOT NULL OR stuck GROUP BY w)""".stripMargin)
    val finalSel =
      """SELECT doc_id, piece, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT o.doc_id, unnest(p.pieces) AS piece
        |      FROM wocc o JOIN wpieces p USING (w))
        |GROUP BY 1, 2
        |ORDER BY doc_id, piece""".stripMargin
    (wordpieceLayers ++ vocabCtes).mkString("WITH RECURSIVE ", ",\n", "\n") +
      finalSel
  }

  /** Span-corruption gate constants — ONE pair feeds the Spark operator
    * and the generated oracle below. */
  private[queries] val SpanCorrProb = 0.05
  private[queries] val SpanCorrLen = 3

  /** FIM gate rate — feeds the operator and the generated oracle. */
  private[queries] val FimRate = 0.5

  /** Per-language epoch weights for the `epoch_schedule` gate — ONE map
    * feeds the Spark operator and the generated oracle (fractional
    * weights exercise the md5-gated partial epoch on every stratum
    * class: sub-1, integral, and mixed). */
  private[queries] val EpochWeights: Map[String, Double] = Map(
    "en" -> 1.5, "fr" -> 2.25, "de" -> 1.0, "es" -> 0.5, "zh" -> 3.0)

  /** Generated oracle for `epoch_schedule`: the same weight CASE, the
    * same fractional-epoch draw, the epoch explode, then the
    * epoch_interleave SINGLE-WINDOW order replay per (lang, epoch) —
    * the Spark side runs the two-phase rank, so parity doubles as
    * two-phase-exactness evidence on the composite strata. */
  private def epochScheduleOracle: String = {
    val caseW = EpochWeights.toSeq.sortBy(_._1).map { case (l, w) =>
      s"WHEN '$l' THEN $w" }.mkString(" ")
    s"""WITH d AS (SELECT doc_id, lang,
       |    CASE lang $caseW END AS w
       |  FROM documents),
       |e AS (SELECT doc_id, lang, w,
       |    CAST(floor(w) AS BIGINT)
       |    + CASE WHEN CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':es:frac'), 1, 8) AS BIGINT) AS DOUBLE)
       |             < (w - floor(w)) * 4294967296.0 THEN 1 ELSE 0 END AS tot
       |  FROM d WHERE w IS NOT NULL),
       |x AS (SELECT doc_id, lang, unnest(range(tot)) AS epoch
       |      FROM e WHERE tot > 0),
       |h AS (SELECT doc_id, lang, epoch,
       |    CAST(doc_id AS VARCHAR) || chr(1) || CAST(epoch AS VARCHAR) AS ek,
       |    substring(md5(CAST(doc_id AS VARCHAR) || chr(1) || CAST(epoch AS VARCHAR) || ':es'), 1, 8) AS hh
       |  FROM x),
       |r AS (SELECT doc_id, lang, epoch,
       |    CAST(row_number() OVER (PARTITION BY lang, epoch ORDER BY hh, ek)
       |      AS BIGINT) - 1 AS epoch_rank
       |  FROM h),
       |n AS (SELECT lang, epoch, count(*) AS ns FROM h GROUP BY 1, 2)
       |SELECT r.doc_id, r.lang, r.epoch, r.epoch_rank,
       |  (CAST(r.epoch_rank AS DOUBLE) + 0.5) / CAST(n.ns AS DOUBLE) AS order_key
       |FROM r JOIN n USING (lang, epoch)
       |ORDER BY r.doc_id, r.epoch""".stripMargin
  }

  /** Generated oracle for [[graft.operators.LanguageModel
    * .scoreDocumentsKn]] at order `n` — mirrors the Spark float
    * expression op-for-op (same cast points, same op order, micro-nat
    * rounding before the per-document sum). Only the transition CTE
    * depends on n: contexts are opaque strings to every downstream
    * statistic. */
  private def knOracleFor(n: Int): String = {
    require(n >= 2)
    val tr =
      if (n == 2)
        """tr AS (SELECT doc_id, t[i] AS ctx, t[i+1] AS tok
          |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks))""".stripMargin
      else
        s"""tr AS (SELECT doc_id, array_to_string(t[i:i+${n - 2}], ' ') AS ctx, t[i+${n - 1}] AS tok
           |       FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${n - 2})) AS i FROM toks))""".stripMargin
    s"""WITH $toksCte,
       |$tr,
       |cnt AS MATERIALIZED (SELECT ctx, tok, count(*) AS c FROM tr GROUP BY 1, 2),
       |cstat AS MATERIALIZED (SELECT ctx, CAST(sum(c) AS BIGINT) AS ct,
       |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1c,
       |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2c,
       |         CAST(sum(CASE WHEN c >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3c
       |       FROM cnt GROUP BY 1),
       |cont AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS cw
       |       FROM cnt GROUP BY 1),
       |scal AS MATERIALIZED (SELECT * FROM (
       |  SELECT CAST(count(*) AS BIGINT) AS bigrams,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
       |    CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
       |    CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
       |  FROM cnt) CROSS JOIN (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM cnt)),
       |disc AS MATERIALIZED (SELECT bigrams, v,
       |  CASE WHEN healthy THEN least(greatest(1.0 - 2.0 * y * (CAST(k2 AS DOUBLE) / CAST(k1 AS DOUBLE)), 0.0), 1.0) ELSE 0.75 END AS d1,
       |  CASE WHEN healthy THEN least(greatest(2.0 - 3.0 * y * (CAST(k3 AS DOUBLE) / CAST(k2 AS DOUBLE)), 0.0), 2.0) ELSE 0.75 END AS d2,
       |  CASE WHEN healthy THEN least(greatest(3.0 - 4.0 * y * (CAST(k4 AS DOUBLE) / CAST(k3 AS DOUBLE)), 0.0), 3.0) ELSE 0.75 END AS d3
       |  FROM (SELECT bigrams, v, k1, k2, k3, k4,
       |          CAST(k1 AS DOUBLE) / CAST(k1 + 2 * k2 AS DOUBLE) AS y,
       |          (k1 > 0 AND k2 > 0 AND k3 > 0 AND k4 > 0) AS healthy
       |        FROM scal)),
       |sc AS (SELECT r.doc_id, cn.c AS c,
       |         CAST(round(ln(greatest(
       |           CASE WHEN cs.ct IS NOT NULL THEN
       |             greatest(CAST(coalesce(cn.c, 0) AS DOUBLE) -
       |               (CASE WHEN coalesce(cn.c, 0) = 1 THEN d.d1
       |                     WHEN coalesce(cn.c, 0) = 2 THEN d.d2
       |                     ELSE d.d3 END), 0.0) / CAST(cs.ct AS DOUBLE)
       |             + ((d.d1 * CAST(cs.n1c AS DOUBLE) + d.d2 * CAST(cs.n2c AS DOUBLE) + d.d3 * CAST(cs.n3c AS DOUBLE)) / CAST(cs.ct AS DOUBLE))
       |               * (CAST(coalesce(co.cw, 0) + 1 AS DOUBLE) / CAST(d.bigrams + d.v + 1 AS DOUBLE))
       |           ELSE CAST(coalesce(co.cw, 0) + 1 AS DOUBLE) / CAST(d.bigrams + d.v + 1 AS DOUBLE) END
       |         , 1e-12)) * 1000000) AS BIGINT) AS term
       |       FROM tr r
       |       LEFT JOIN cnt cn ON r.ctx = cn.ctx AND r.tok = cn.tok
       |       LEFT JOIN cstat cs ON r.ctx = cs.ctx
       |       LEFT JOIN cont co ON r.tok = co.tok
       |       CROSS JOIN disc d),
       |agg AS (SELECT doc_id, count(*) AS n_trans,
       |          CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |          CAST(sum(term) AS BIGINT) AS kn_score
       |        FROM sc GROUP BY 1)
       |SELECT d.doc_id, coalesce(a.n_trans, 0) AS n_trans,
       |       coalesce(a.n_hit, 0) AS n_hit,
       |       coalesce(a.kn_score, 0) AS kn_score
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Generated oracle for `fill_in_middle`: the same three md5 draws
    * (gate vs rate threshold; two cut draws mod n+1, ordered), spans via
    * list slicing, one array_to_string. */
  private def fillInMiddleOracle: String = {
    val thr = graft.operators.Sampling.thresholdHex(FimRate)
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
       |        (substring(md5(CAST(doc_id AS VARCHAR) || ':fim'), 1, 8) < '$thr') AS gate,
       |        CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim:a'), 1, 8) AS BIGINT)
       |          % (CAST(len(t) AS BIGINT) + 1) AS BIGINT) AS c1raw,
       |        CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim:b'), 1, 8) AS BIGINT)
       |          % (CAST(len(t) AS BIGINT) + 1) AS BIGINT) AS c2raw
       |      FROM toks),
       |e AS (SELECT doc_id, t, n, (gate AND n > 0) AS fim,
       |        least(c1raw, c2raw) AS c1, greatest(c1raw, c2raw) AS c2
       |      FROM d)
       |SELECT doc_id, fim,
       |  CASE WHEN fim THEN array_to_string(
       |         ['<fim_pre>'] || t[1:CAST(c1 AS INT)] ||
       |         ['<fim_suf>'] || t[CAST(c2 + 1 AS INT):CAST(n AS INT)] ||
       |         ['<fim_mid>'] || t[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' ')
       |       ELSE array_to_string(t, ' ') END AS text_fim,
       |  CASE WHEN fim THEN c1 ELSE 0 END AS n_prefix,
       |  CASE WHEN fim THEN c2 - c1 ELSE 0 END AS n_middle,
       |  CASE WHEN fim THEN n - c2 ELSE 0 END AS n_suffix
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Generated oracle for `span_corruption`: replays the operator's three
    * windows (trailing-max membership, rising-edge starts, running
    * sentinel count) and the md5 position draws, assembling input/target
    * with ordered string_agg. */
  private def spanCorruptionOracle: String = {
    val thr = graft.operators.Sampling.thresholdHex(SpanCorrProb)
    val lPrec = SpanCorrLen - 1
    s"""WITH $toksCte,
       |tp AS (SELECT doc_id, i AS pos, t[i+1] AS tok
       |       FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)),
       |st AS (SELECT doc_id, pos, tok,
       |         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |                CAST(pos AS VARCHAR) || ':t5'), 1, 8) < '$thr'
       |              THEN 1 ELSE 0 END AS prop
       |       FROM tp),
       |ins AS (SELECT *, max(prop) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN $lPrec PRECEDING AND CURRENT ROW) AS inside
       |        FROM st),
       |stt AS (SELECT *, CASE WHEN inside = 1 AND
       |          coalesce(lag(inside) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
       |          THEN 1 ELSE 0 END AS strt
       |        FROM ins),
       |kk AS (SELECT *, sum(strt) OVER (PARTITION BY doc_id ORDER BY pos
       |         ROWS UNBOUNDED PRECEDING) - 1 AS k
       |       FROM stt),
       |pieces AS (SELECT doc_id, pos, strt,
       |    CASE WHEN strt = 1 THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
       |         WHEN inside = 1 THEN NULL ELSE tok END AS in_piece,
       |    CASE WHEN strt = 1 THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
       |         WHEN inside = 1 THEN tok ELSE NULL END AS tgt_piece
       |  FROM kk),
       |agg AS (SELECT doc_id,
       |          string_agg(in_piece, ' ' ORDER BY pos) AS input0,
       |          string_agg(tgt_piece, ' ' ORDER BY pos) AS tgt0,
       |          CAST(sum(strt) AS BIGINT) AS n
       |        FROM pieces GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(a.input0, '') AS input,
       |  CASE WHEN coalesce(a.n, 0) > 0
       |       THEN a.tgt0 || ' <extra_id_' || CAST(a.n AS VARCHAR) || '>'
       |       ELSE '<extra_id_0>' END AS target,
       |  coalesce(a.n, 0) AS n_spans
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Generated oracle for the COMPOSED `tokenizer_pipeline` gate: learn
    * the BPE merges (no end-of-word marker), induce the serving
    * vocabulary (corpus alphabet + merged symbols, ids = lexicographic
    * rank), greedy-tokenize every word occurrence (hop-table recursion —
    * see the wordpiece oracle for why the hop table is precomputed),
    * encode to id strings, then replay the concat-and-slice packing over
    * the id stream. Every stage is the proven fragment from its
    * individual gate. */
  private def tokenizerPipelineOracle: String = {
    val mergedRows = (0 until BpeMergeCount)
      .map(k => s"SELECT l || r AS piece FROM b$k")
      .mkString("\nUNION ALL\n")
    val vocabCtes = Seq(
      """alpha AS MATERIALIZED (SELECT DISTINCT word[i+1:i+1] AS piece
        |  FROM (SELECT word, unnest(range(len(word))) AS i FROM wf))""".stripMargin,
      s"""vocabx AS MATERIALIZED (SELECT piece,
         |    CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS id
         |  FROM (SELECT DISTINCT piece
         |        FROM (SELECT piece FROM alpha UNION ALL $mergedRows)))""".stripMargin,
      """wocc AS MATERIALIZED (SELECT doc_id, u[1] AS w, u[2] AS widx
        |  FROM (SELECT doc_id, unnest(list_zip(t, range(1, len(t)+1))) AS u
        |        FROM toks))""".stripMargin,
      """uw AS MATERIALIZED (SELECT DISTINCT w FROM wocc)""",
      """hops AS MATERIALIZED (
        |  SELECT w, pos, frag FROM (
        |    SELECT p.w, p.pos, v.piece AS frag,
        |      row_number() OVER (PARTITION BY p.w, p.pos
        |                         ORDER BY length(v.piece) DESC) AS rn
        |    FROM (SELECT w, unnest(range(1, length(w) + 1)) AS pos FROM uw) p
        |    JOIN vocabx v ON v.piece = substr(p.w, CAST(p.pos AS INT), length(v.piece)))
        |  WHERE rn = 1)""".stripMargin,
      // UNK fallback (one code point) mirrors the greedy trie kernel; the
      // induced alphabet is corpus-complete so it cannot fire here
      """mm AS (
        |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS step,
        |         CAST(NULL AS VARCHAR) AS piece
        |  FROM uw
        |  UNION ALL
        |  SELECT m.w,
        |    m.pos + length(coalesce(h.frag, substr(m.w, CAST(m.pos AS INT), 1))),
        |    m.step + 1,
        |    coalesce(h.frag, substr(m.w, CAST(m.pos AS INT), 1))
        |  FROM mm m LEFT JOIN hops h ON h.w = m.w AND h.pos = m.pos
        |  WHERE m.pos <= length(m.w))""".stripMargin,
      """wpcs AS MATERIALIZED (SELECT w, step, piece FROM mm WHERE piece IS NOT NULL)""",
      """docids AS MATERIALIZED (
        |  SELECT o.doc_id,
        |    string_agg(CAST(coalesce(v.id, 0) AS VARCHAR), ' '
        |               ORDER BY o.widx, p.step) AS ids_text
        |  FROM wocc o JOIN wpcs p USING (w)
        |  LEFT JOIN vocabx v ON v.piece = p.piece
        |  GROUP BY 1)""".stripMargin,
      """alldocs AS MATERIALIZED (SELECT d.doc_id, coalesce(di.ids_text, '') AS ids_text
        |  FROM documents d LEFT JOIN docids di USING (doc_id))""".stripMargin)
    val sliceCtes = Seq(
      """sld AS (SELECT doc_id,
        |  list_filter(string_split(ids_text, ' '), x -> x <> '') || ['<eod>'] AS tk
        |  FROM alldocs)""".stripMargin,
      """slb AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
        |  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':slice'), 1, 8) AS BIGINT) % 8 AS INT) AS bucket
        |  FROM sld)""".stripMargin,
      """slc AS (SELECT *, CAST(sum(n) OVER (PARTITION BY bucket ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS s
        |  FROM slb)""".stripMargin,
      """slx AS (SELECT bucket, q AS seq_id, s,
        |    array_to_string(tk[CAST(greatest(q * 32, s) - s + 1 AS INT):
        |                       CAST(least((q + 1) * 32, s + n) - s AS INT)], ' ') AS piece,
        |    least((q + 1) * 32, s + n) - greatest(q * 32, s) AS plen
        |  FROM (SELECT *, unnest(range(s // 32, (s + n - 1) // 32 + 1)) AS q
        |        FROM slc))""".stripMargin)
    val finalSel =
      """SELECT bucket, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(plen) AS BIGINT) AS n_tokens,
        |  string_agg(piece, ' ' ORDER BY s) AS seq_text
        |FROM slx GROUP BY 1, 2
        |ORDER BY bucket, seq_id""".stripMargin
    (bpeLayerCtes(endOfWord = false, materialized = true) ++
      vocabCtes ++ sliceCtes)
      .mkString("WITH RECURSIVE ", ",\n", "\n") + finalSel
  }

  /** DuckDB left-fold dot product over double lists (matches Spark's
    * aggregate(zip_with(...)) accumulation order). */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(range(len($a)), i -> $a[i+1] * $b[i+1]), (x, y) -> x + y)"

  /** DuckDB left-fold squared-L2 distance (matches Similarity.sqDist). */
  private def sqDistSql(a: String, b: String) =
    s"list_reduce(list_transform(range(len($a)), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])), (x, y) -> x + y)"

  /** k and iteration budget for the kmeans gates — ONE pair of constants
    * feeds the Spark trainer and the generated DuckDB oracle. */
  private[queries] val KmeansK = 8
  private[queries] val KmeansIters = 3

  /** Candidate sequence lengths for the `packing_efficiency` sweep —
    * ONE list feeds the Spark gate and the generated oracle. */
  private[queries] val PackSweepLens = Seq(32, 64, 96, 128)

  /** Generated oracle for `packing_efficiency`: the same per-bucket
    * stream cumsum as the concat_slice oracle, per-bucket partial sums
    * per candidate L, and the numBuckets-row rollup where ⌈fit/L⌉ and
    * stream div/mod fold — mirroring [[graft.operators.Packing
    * .packingEfficiency]] aggregate-for-aggregate. */
  private def packingEfficiencyOracle: String = {
    val perL = PackSweepLens.zipWithIndex.flatMap { case (l, i) =>
      Seq(
        s"CAST(sum(CASE WHEN s // $l <> (s + sn - 1) // $l THEN 1 ELSE 0 END) AS BIGINT) AS st$i",
        s"CAST(sum(CASE WHEN n > $l THEN 1 ELSE 0 END) AS BIGINT) AS ov$i",
        s"CAST(sum(greatest(n - $l, 0)) AS BIGINT) AS of$i",
        s"CAST(sum(least(n, $l)) AS BIGINT) AS fit$i")
    }.mkString(",\n        ")
    val perLG = PackSweepLens.zipWithIndex.flatMap { case (l, i) =>
      Seq(
        s"CAST(sum(st$i) AS BIGINT) AS st$i",
        s"CAST(sum(ov$i) AS BIGINT) AS ov$i",
        s"CAST(sum(of$i) AS BIGINT) AS of$i",
        s"CAST(sum(fit$i) AS BIGINT) AS fit$i",
        s"CAST(sum((fit$i + ${l - 1}) // $l) AS BIGINT) AS lb$i",
        s"CAST(sum(stream // $l) AS BIGINT) AS cs$i",
        s"CAST(sum(stream % $l) AS BIGINT) AS ct$i")
    }.mkString(",\n        ")
    val selects = PackSweepLens.zipWithIndex.map { case (l, i) =>
      s"""SELECT $l AS seq_len, docs AS n_docs, toks AS total_tokens,
         |  ov$i AS n_oversize, of$i AS overflow_tokens,
         |  lb$i AS lb_sequences, CAST(lb$i * $l - fit$i AS BIGINT) AS lb_padding,
         |  cs$i AS concat_sequences, ct$i AS concat_tail_tokens,
         |  st$i AS n_straddle FROM g""".stripMargin
    }
    s"""WITH $toksCte,
       |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks),
       |b AS (SELECT doc_id, n, n + 1 AS sn,
       |        CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':slice'), 1, 8) AS BIGINT) % 8 AS INT) AS bucket
       |      FROM d),
       |c AS (SELECT *, CAST(sum(sn) OVER (PARTITION BY bucket ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sn AS BIGINT) AS s
       |      FROM b),
       |bk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS docs,
       |        CAST(sum(n) AS BIGINT) AS toks, CAST(sum(sn) AS BIGINT) AS stream,
       |        $perL
       |      FROM c GROUP BY bucket),
       |g AS (SELECT CAST(sum(docs) AS BIGINT) AS docs,
       |        CAST(sum(toks) AS BIGINT) AS toks,
       |        $perLG
       |      FROM bk)
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY seq_len""".stripMargin
  }

  /** Ordered blocklist for the `url_category_filter` gate — ONE list
    * feeds [[graft.operators.UrlOps.categorize]] and the generated
    * oracle. All three rule kinds represented; first match wins. */
  private[queries] val UrlBlockRules: Seq[(String, String, String)] = Seq(
    ("gambling", "domain", "bad-casino.com"),
    ("social", "host_suffix", "src1.example.com"),
    ("ads", "path_kw", "/promo"))

  /** Generated oracle for `url_category_filter`: the same URL synthesis,
    * the url_normalize oracle's host/domain extraction, and the rule
    * ladder as one CASE chain (first match wins — CASE order IS rule
    * order). */
  private def urlCategoryOracle: String = {
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)\\??([^#]*)#?(.*)$"
    val slTlds = graft.operators.UrlOps.SecondLevelTlds
      .map(t => s"'$t'").mkString(", ")
    val branches = UrlBlockRules.map { case (c, kind, p) =>
      val cond = kind match {
        case "domain"      => s"domain = '$p'"
        case "host_suffix" => s"(h = '$p' OR h LIKE '%.' || '$p')"
        case "path_kw"     => s"contains(pa, '$p')"
      }
      s"WHEN $cond THEN '$c'"
    }.mkString(" ")
    s"""WITH u AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
       |    || '://'
       |    || (CASE WHEN doc_id % 7 = 0 THEN 'bad-casino.com'
       |             ELSE 'www.' || source || '.example.com' END)
       |    || '/p/' || CAST(doc_id AS VARCHAR)
       |    || (CASE WHEN doc_id % 3 = 0 THEN '/promo' ELSE '' END) AS url
       |  FROM documents),
       |p AS (SELECT doc_id,
       |    lower(regexp_extract(regexp_extract(url, '$pat', 2), '^([^:]*)', 1)) AS h,
       |    regexp_extract(url, '$pat', 3) AS pa
       |  FROM u),
       |d AS (SELECT *, string_split(h, '.') AS l FROM p),
       |dd AS (SELECT doc_id, h, pa,
       |    CASE WHEN len(l) <= 2 THEN h
       |         WHEN array_to_string(l[-2:], '.') IN ($slTlds)
       |           THEN array_to_string(l[-3:], '.')
       |         ELSE array_to_string(l[-2:], '.') END AS domain
       |  FROM d)
       |SELECT doc_id, h AS host, domain,
       |  CASE $branches ELSE NULL END AS category,
       |  (CASE $branches ELSE NULL END) IS NOT NULL AS blocked
       |FROM dd ORDER BY doc_id""".stripMargin
  }

  /** Derived corpus shared by the three suffix-array gates (L119-L121):
    * every 10th document, capped at its first 64 tokens. The cap bounds
    * the doubling rounds (log₂ 64 = 6) and keeps the oracle's direct
    * suffix-string sort at O(slice · 64) strings; the SLICE keeps the
    * quadratic-ish oracle payload flat across SFs. Both engines apply
    * the identical derivation. */
  private def saCorpus(s: SparkSession, dir: String): DataFrame = {
    // every 3rd slice doc carries a shared 8-token preamble so the
    // corpus has guaranteed cross-document repeats at every SF (without
    // it the capped slice can be repeat-free and the span gate vacuous)
    val withPre = when(col("doc_id") % 30 === 0,
      concat(lit(SaPreamble + " "), col("text"))).otherwise(col("text"))
    Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), concat_ws(" ",
        slice(graft.functions.WordShingles.allShingles(withPre, 1),
          1, 64)).as("text"))
  }

  /** The injected shared passage — ONE constant feeds both engines. */
  private[queries] val SaPreamble =
    "alpha beta gamma delta epsilon zeta eta theta"

  /** The suffix array over [[saCorpus]] behind the `suffix_array`,
    * `sa_longest_dup` and `dedup_substring_sa` gates; each gate fits it
    * (a checkpoint and a count), and only `suffix_array`'s `.sa` runs
    * the doubling rounds. */
  private def saFit(s: SparkSession, dir: String): SuffixArray.Model =
    SuffixArray.fit(saCorpus(s, dir), maxPrefix = 64)

  /** Union corpus for the `decontaminate_sa` gate: TRAIN = [[saCorpus]];
    * EVAL = (a) every %40 train doc's tokens 10..25 verbatim plus a novel
    * trailing token (a guaranteed 16-token leak, ids +10⁹) and (b) clean
    * non-train docs (%10==7 ∧ %3==0, first 32 tokens, ids +2·10⁹).
    * Returns (docs, tags) — tags = (doc_id, is_train). */
  private def deconSaCorpus(s: SparkSession,
                            dir: String): (DataFrame, DataFrame) = {
    val train = saCorpus(s, dir)
    val trainToks = graft.functions.WordShingles.allShingles(col("text"), 1)
    val ev1 = train.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        concat_ws(" ", concat(slice(trainToks, 10, 16),
          array(lit("zzleak")))).as("text"))
    val ev2 = Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 7 && col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000000L).as("doc_id"),
        concat_ws(" ", slice(
          graft.functions.WordShingles.allShingles(col("text"), 1),
          1, 32)).as("text"))
    val all = train.unionByName(ev1).unionByName(ev2)
    (all, all.select(col("doc_id"),
      (col("doc_id") < 1000000000L).as("is_train")))
  }

  /** The trained quality classifier's per-document scores: the 8-step
    * full-batch GD trajectory behind `quality_lr`, which outputs them, and
    * `classifier_calibration`, which rolls them up into the reliability
    * report. */
  private def qualityScored(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityModel
    val docs = Tables.documents(s, dir)
    val label = size(filter(
      graft.operators.TextAnalysis.tokens(col("text")),
      _ === "spark")) >= 2
    val feats = QualityModel.features(docs, buckets = 8, labelExpr = label)
      .localCheckpoint(true) // train loop + scoring reuse, one build
    val w = QualityModel.train(feats, buckets = 8, iters = 8, lr = 4.0)
    QualityModel.score(feats, w, buckets = 8)
  }

  /** Synthesized 16×16 luma rasters for the perceptual-hash gates (the
    * pre-decoded pixel table a real multimodal corpus would carry after
    * [[graft.operators.Multimodal]] decode): documents group by
    * base = doc_id div 4 into a shared base image — 64 md5-derived
    * bits, one per 2×2 block, rendered at two luma levels (bit·200)
    * plus an in-block jitter (idx·7 mod 40) so the operator's box
    * filter has real sums to reduce (the jitter band is ~80 luma away
    * from the threshold mean, so designed bits survive it). Per-doc
    * perturbation: %4∈{0,3} verbatim, %4==1 inverts 2 base-derived
    * cells (near-dup), %4==2 inverts 10 (beyond the radius). ALL
    * integer/md5 arithmetic — the oracle replays it row-for-row. */
  private def phashPixels(s: SparkSession, dir: String): DataFrame = {
    def idiv(a: org.apache.spark.sql.Column, b: Long) =
      floor(a / lit(b.toDouble)).cast("long")
    val base = expr("doc_id div 4")
    // stage 1: the 64 per-cell luma BITS (md5 base pattern XOR the
    // per-doc perturbation) — 64 interpreted md5 draws per row, and the
    // checkpoint makes `bits` an attribute (HOF lambdas don't CSE: an
    // inlined alias would re-run all 64 draws once per downstream
    // reference — a measured ~10⁴× blow-up in the first formulation
    // that synthesized all 256 pixels with inline md5)
    val cellBits = transform(sequence(lit(0L), lit(63L)), c => {
      val b0 = conv(substring(md5(concat(base.cast("string"), lit(":"),
        c.cast("string"))), 1, 1), 16, 10).cast("long") % 2L
      val flip = when(col("doc_id") % 4 === 1 &&
          (c === base % 64L || c === (base * 31L + 7L) % 64L), lit(1L))
        .when(col("doc_id") % 4 === 2 && array_contains(
          transform(sequence(lit(0L), lit(9L)),
            j => (base * 13L + j * 17L + 3L) % 64L), c), lit(1L))
        .otherwise(lit(0L))
      (b0 + flip) % 2L
    })
    // r16: fanOut — the 64 interpreted md5 draws per row are this
    // fixture's heaviest serial kernel; the one-split scan ran them on
    // one core (Tables.fanOut: identity at scale). Measured 1.88→1.05 s.
    val staged = Tables.fanOut(s, Tables.documents(s, dir), dir,
        "documents", col("doc_id"))
      .select(col("doc_id"), cellBits.as("__bits"))
      .localCheckpoint(true)
    // stage 2: expand bits to the 16×16 raster — cheap element_at reads
    // of the materialized attribute plus the in-block jitter
    val pixels = transform(sequence(lit(0L), lit(255L)), idx => {
      val row = idiv(idx, 16L)
      val cm = idx % 16
      val c = idiv(row, 2L) * 8L + idiv(cm, 2L)
      element_at(col("__bits"), (c + 1L).cast("int")) * 200L +
        (idx * 7L) % 40L
    })
    staged.select(col("doc_id"), pixels.as("pixels")).localCheckpoint(true)
  }

  /** The L160 web-curation chain (broadcast blocklist → langid →
    * Gopher over the survivors) as a reusable frame — the
    * `web_pipeline` gate body, also the text leg of `web_pipeline_mm`.
    * Blocklist survivors checkpoint ONCE and feed both content stages. */
  private def webPipelineFrame(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UrlOps
    import s.implicits._
    val url = concat(
      when(col("doc_id") % 2 === 0, "https").otherwise(lit("http")),
      lit("://"),
      when(col("doc_id") % 7 === 0, lit("bad-casino.com"))
        .otherwise(concat(lit("www."), col("source"), lit(".example.com"))),
      lit("/p/"), col("doc_id").cast("string"),
      when(col("doc_id") % 3 === 0, "/promo").otherwise(lit(""))).as("url")
    val rules = UrlBlockRules.zipWithIndex
      .map { case ((c, k, p), i) => (c, k, p, i.toLong) }
      .toDF("category", "kind", "pattern", "rule_pos")
    val cat = UrlOps.categorizeBroadcast(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"), url),
      "url", "doc_id", rules)
    // blocklist survivors feed both content stages off one checkpoint
    val unblocked = cat.filter(!col("blocked"))
      .select(col("doc_id"), col("lang"), col("host"), col("domain"),
        col("text"))
      .localCheckpoint(true)
    val gopherKeep = TextAnalysis.gopherColumns(col("text"))
      .toMap.apply("gopher_keep")
    unblocked
      .withColumn("__lt", TextAnalysis.tokens(lower(col("text"))))
      .withColumn("plang",
        TextAnalysis.predictedLangFromTokens(col("__lt")))
      .filter(gopherKeep)
      .select(col("doc_id"), col("lang"), col("plang"), col("host"),
        col("domain"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        md5(col("text").cast("binary")).as("text_md5"))
  }

  /** The L161 image keep list (phash near-dup pairs → connected
    * components → canonical min-id survives) as a reusable frame —
    * the `dedup_phash_keep` gate body, also the image leg of the
    * composed `web_pipeline_mm` curation gate. */
  private def phashKeepIds(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PerceptualHash
    val imgs = phashPixels(s, dir).select(col("doc_id"),
      graft.functions.PhashExprs
        .ahashBands(col("pixels"), w = 16, h = 16).as("bands"))
      .localCheckpoint(true)
    val pairs = PerceptualHash.nearDupPairs(imgs, numBands = 4,
        maxHamming = 3, maxBucketSize = Some(1000),
        failOnHotBucket = true)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = Dedup.connectedComponents(pairs)
    Dedup.applyKeepList(imgs.select(col("doc_id")), comps)
  }

  /** Shared DuckDB CTE chain for the perceptual-hash gates: the
    * [[phashPixels]] synthesis replayed per (doc, pixel), the operator's
    * block-mean → threshold → MSB-first 16-bit band packing re-derived
    * in integer SQL, ending in `phband` (doc_id, bi, bv) for aHash and
    * `phdband` for the wrap-gradient dHash. */
  private def phashCtes: String =
    """phpx AS (SELECT d.doc_id, d.doc_id // 4 AS base, i.idx
      |         FROM documents d, (SELECT unnest(range(256)) AS idx) i),
      |phc AS (SELECT doc_id, base, idx,
      |          ((idx // 16) // 2) * 8 + ((idx % 16) // 2) AS c
      |        FROM phpx),
      |phb AS (SELECT doc_id, c, idx,
      |    CAST(CAST('0x' || substring(md5(CAST(base AS VARCHAR) || ':' ||
      |      CAST(c AS VARCHAR)), 1, 1) AS INT) % 2 AS BIGINT) AS b0,
      |    CASE WHEN doc_id % 4 = 1
      |           AND (c = base % 64 OR c = (base * 31 + 7) % 64) THEN 1
      |         WHEN doc_id % 4 = 2 AND list_contains(
      |           list_transform(range(10), j -> (base * 13 + j * 17 + 3) % 64), c)
      |           THEN 1
      |         ELSE 0 END AS fl
      |  FROM phc),
      |phv AS (SELECT doc_id, c,
      |          ((b0 + fl) % 2) * 200 + (idx * 7) % 40 AS v
      |        FROM phb),
      |phcell AS (SELECT doc_id, c, CAST(sum(v) // 4 AS BIGINT) AS cell
      |           FROM phv GROUP BY 1, 2),
      |phmean AS (SELECT doc_id, CAST(sum(cell) // 64 AS BIGINT) AS m
      |           FROM phcell GROUP BY 1),
      |phbit AS (SELECT p.doc_id, p.c,
      |            CASE WHEN p.cell >= m.m THEN 1 ELSE 0 END AS bit
      |          FROM phcell p JOIN phmean m USING (doc_id)),
      |phband AS (SELECT doc_id, c // 16 AS bi,
      |    CAST(sum(CAST(bit AS BIGINT)
      |      * (CAST(1 AS BIGINT) << CAST(15 - (c % 16) AS INT))) AS BIGINT) AS bv
      |  FROM phbit GROUP BY 1, 2),
      |phdbit AS (SELECT a.doc_id, a.c,
      |             CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
      |           FROM phcell a JOIN phcell b ON a.doc_id = b.doc_id
      |             AND b.c = (a.c // 8) * 8 + ((a.c % 8) + 1) % 8),
      |phdband AS (SELECT doc_id, c // 16 AS bi,
      |    CAST(sum(CAST(bit AS BIGINT)
      |      * (CAST(1 AS BIGINT) << CAST(15 - (c % 16) AS INT))) AS BIGINT) AS bv
      |  FROM phdbit GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB CTE chain for the suffix-array oracles: the derived
    * corpus, capped token lists, and one row per suffix with its sort
    * key (tokens joined by chr(1) — sorts exactly like the token
    * sequence, shorter-prefix first) and its token-list suffix. */
  private def saSfxCtes =
    s"""sacorp AS (SELECT doc_id,
       |    CASE WHEN doc_id % 30 = 0 THEN '$SaPreamble ' || text
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 = 0),
       |stoks AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[1:64] AS t
       |  FROM sacorp),
       |sfx AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:], chr(1)) AS s,
       |          t[i+1:] AS sl
       |        FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM stoks))""".stripMargin

  /** The CCNet bucket chain — shared by the labeling gate and the
    * keep filter composed over it. */
  private def ccnetBucketsOracle: String =
    s"""WITH $toksCte,
       |tr AS (SELECT doc_id, t[i] AS ctx, t[i+1] AS tok
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
       |cnt AS (SELECT ctx, tok, count(*) AS c FROM tr GROUP BY 1, 2),
       |ctot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1),
       |voc AS (SELECT count(DISTINCT tok) AS v FROM cnt),
       |sc AS (SELECT r.doc_id,
       |         CAST(round(ln((coalesce(cn.c, 0) + 1.0)
       |                       / (coalesce(ct.ct, 0) + 1.0 * voc.v))
       |                    * 1000000) AS BIGINT) AS term
       |       FROM tr r
       |       LEFT JOIN cnt cn ON r.ctx = cn.ctx AND r.tok = cn.tok
       |       LEFT JOIN ctot ct ON r.ctx = ct.ctx
       |       CROSS JOIN voc),
       |agg AS (SELECT doc_id, count(*) AS n_trans,
       |          CAST(sum(term) AS BIGINT) AS lm_score
       |        FROM sc GROUP BY 1),
       |px AS (SELECT a.doc_id, d.lang,
       |         -CAST(a.lm_score AS DOUBLE) / CAST(a.n_trans AS DOUBLE) AS ppx
       |       FROM agg a JOIN documents d USING (doc_id)
       |       WHERE a.n_trans > 0),
       |cuts AS (SELECT lang,
       |           quantile_cont(ppx, CAST(1 AS DOUBLE)/3) AS c1,
       |           quantile_cont(ppx, CAST(2 AS DOUBLE)/3) AS c2
       |         FROM px GROUP BY 1)
       |SELECT p.doc_id, p.lang, p.ppx,
       |       CASE WHEN p.ppx <= c.c1 THEN 'head'
       |            WHEN p.ppx <= c.c2 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM px p JOIN cuts c USING (lang)
       |ORDER BY p.doc_id""".stripMargin

  /** The K-GRAM ExactSubstr formulation over the SA gates' derived
    * corpus — the shared oracle for `dedup_substring_sa` (prefix-doubling
    * suffix array) AND `dedup_substring_sam` (generalized suffix
    * automaton): three independent algorithms, one pinned answer. */
  private def saKgramOracle: String =
    s"""WITH $saSfxCtes,
       |g5 AS (SELECT doc_id, pos, array_to_string(t[pos+1:pos+5], ' ') AS gram
       |       FROM (SELECT doc_id, t,
       |               unnest(range(CASE WHEN len(t) >= 5 THEN len(t) - 4 ELSE 0 END)) AS pos
       |             FROM stoks)),
       |dup5 AS (SELECT gram FROM g5 GROUP BY gram HAVING count(*) >= 2),
       |hit5 AS (SELECT doc_id, pos, pos + 5 AS e FROM g5 JOIN dup5 USING (gram)),
       |mrg5 AS (SELECT doc_id, pos, e,
       |           max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
       |         FROM hit5),
       |flg5 AS (SELECT doc_id, pos, e,
       |           CASE WHEN runmax IS NULL OR pos > runmax THEN 1 ELSE 0 END AS nf
       |         FROM mrg5),
       |grp5 AS (SELECT doc_id, pos, e,
       |           sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS UNBOUNDED PRECEDING) AS gid
       |         FROM flg5),
       |spans5 AS (SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
       |           FROM grp5 GROUP BY doc_id, gid)
       |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       |       CAST(span_end AS BIGINT) AS span_end
       |FROM spans5 ORDER BY doc_id, span_start""".stripMargin

  /** Cosine threshold for the `eval_nn_leakage` leaked verdict — ONE
    * constant feeds the Spark gate and the oracle. 0.35 sits inside the
    * synthetic corpus's max-cos range (0.29–0.42 at sf0.01), so the gate
    * exercises BOTH verdicts. */
  private[queries] val NnLeakThreshold = 0.35

  /** Accept threshold (margin·10⁶) for the `bitext_margin` gate — inside
    * the fixture's best-margin range (0.94–1.46 at sf0.01; ~1.06 is the
    * paper's production setting), so both verdicts fire. */
  private[queries] val BitextThresholdMicro = 1150000L

  /** Unrolled integer power-iteration rounds replaying
    * EmbeddingPca.topComponent (floor(v·10⁹) ingestion, truncated-mean
    * centering, per-round dot/mat-vec/max-renormalize in truncating
    * integer division) — ends at `px$iters(pos, x)`. Shared by the
    * `embedding_top_pc` and `embedding_pc_coef` oracles. */
  private def pcaCtes(iters: Int): String = {
    val base = Seq(
      s"""pv AS (SELECT vec_id, CAST(i AS INT) AS pos,
         |         CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1e9) AS BIGINT) AS vi
         |       FROM (SELECT vec_id, embedding,
         |               unnest(range(len(embedding))) AS i FROM embeddings))""".stripMargin,
      "pmu AS (SELECT pos, CAST(sum(vi) AS BIGINT) // count(*) AS mu FROM pv GROUP BY 1)",
      "pu AS (SELECT vec_id, pv.pos, vi - mu AS u FROM pv JOIN pmu USING (pos))",
      s"""px0 AS (SELECT DISTINCT pos,
         |          CASE WHEN pos = 0 THEN CAST(1000000 AS BIGINT)
         |               ELSE CAST(0 AS BIGINT) END AS x
         |        FROM pu)""".stripMargin)
    val rounds = (1 to iters).flatMap { r =>
      Seq(
        s"""pd$r AS (SELECT vec_id, CAST(sum(u * x) AS BIGINT) // 1000000000000 AS d
           |        FROM pu JOIN px${r - 1} USING (pos) GROUP BY 1)""".stripMargin,
        s"""py$r AS (SELECT pos, CAST(sum(d * u) AS BIGINT) AS y
           |        FROM pu JOIN pd$r USING (vec_id) GROUP BY 1)""".stripMargin,
        s"""ps$r AS (SELECT greatest(CAST(1 AS BIGINT),
           |          CAST(max(abs(y)) AS BIGINT) // 1000000) AS sc FROM py$r)""".stripMargin,
        s"px$r AS (SELECT pos, y // sc AS x FROM py$r, ps$r)")
    }
    (base ++ rounds).mkString(",\n")
  }

  /** Shared DuckDB chain for the excess-loss oracles: per-doc unigram
    * (add-one, micro-nat) and bigram scoring sums ending in
    * `uagg(doc_id, n, sc)` / `bagg(doc_id, n, sc)` — consumed by
    * `domain_reweight`'s domain rollup and `select_excess_loss`'s
    * per-doc selection. */
  private lazy val lmDocScoreCtes: String =
    s"""$toksCte,
       |ut AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |uc AS (SELECT tok, count(*) AS c FROM ut GROUP BY 1),
       |us AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS v FROM uc),
       |usc AS (SELECT u.doc_id,
       |          CAST(round(ln((coalesce(uc.c, 0) + 1.0) / (us.tt + 1.0 * us.v))
       |               * 1000000) AS BIGINT) AS term
       |        FROM ut u LEFT JOIN uc ON u.tok = uc.tok CROSS JOIN us),
       |uagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |           CAST(sum(term) AS BIGINT) AS sc FROM usc GROUP BY 1),
       |tr AS (SELECT doc_id, t[i] AS ctx, t[i+1] AS tok
       |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
       |cnt AS (SELECT ctx, tok, count(*) AS c FROM tr GROUP BY 1, 2),
       |ctot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1),
       |voc AS (SELECT count(DISTINCT tok) AS v FROM cnt),
       |bsc AS (SELECT r.doc_id,
       |          CAST(round(ln((coalesce(cn.c, 0) + 1.0)
       |                        / (coalesce(ct.ct, 0) + 1.0 * voc.v))
       |               * 1000000) AS BIGINT) AS term
       |        FROM tr r LEFT JOIN cnt cn ON r.ctx = cn.ctx AND r.tok = cn.tok
       |        LEFT JOIN ctot ct ON r.ctx = ct.ctx CROSS JOIN voc),
       |bagg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |           CAST(sum(term) AS BIGINT) AS sc FROM bsc GROUP BY 1)""".stripMargin

  /** The full replayed quality_lr GD trajectory as a WITH chain ending in
    * `scored(doc_id, label, z_nano, prob_micro, predicted)` — shared by
    * the `quality_lr` per-doc gate and the `classifier_calibration`
    * rollup (mirrors QualityModel.train+score expression-for-expression:
    * same cast points, same op order, nano margins, micro gradients). */
  private lazy val qualityLrScoredWith: String = {
    val B = 8
    val iters = 8
    val lr = "4.0"
    val xs = (0 until B).map(j =>
      s"CAST(sum(CASE WHEN b = $j THEN 1 ELSE 0 END) AS DOUBLE)" +
        s" / CAST(count(*) AS DOUBLE) AS x$j").mkString(",\n         ")
    def zExpr(w: String) =
      ((0 until B).map(j =>
        s"CAST(round($w.w_$j * f.x$j * 1e9) AS BIGINT)") :+
        s"CAST(round($w.w_$B * 1.0 * 1e9) AS BIGINT)").mkString(" + ")
    val sExpr = "0.5 + (CAST(znano AS DOUBLE) / 1e9)" +
      " / (2.0 * (1.0 + abs(CAST(znano AS DOUBLE) / 1e9)))"
    val w0 = (0 to B).map(j => s"0.0 AS w_$j").mkString(", ")
    val layers = (1 to iters).map { k =>
      val xCols = (0 until B).map(j => s"f.x$j").mkString(", ")
      val gs = ((0 until B).map(j =>
        s"CAST(sum(CAST(round((($sExpr) - y) * x$j * 1e6) AS BIGINT))" +
          s" AS BIGINT) AS g_$j") :+
        s"CAST(sum(CAST(round((($sExpr) - y) * 1.0 * 1e6) AS BIGINT))" +
          s" AS BIGINT) AS g_$B").mkString(",\n          ")
      val ws = (0 to B).map(j =>
        s"w.w_$j - $lr * ((CAST(g.g_$j AS DOUBLE) / 1e6) / g.n) AS w_$j")
        .mkString(",\n          ")
      s"""z$k AS (SELECT f.doc_id, l.y, $xCols, (${zExpr("w")}) AS znano
         |        FROM feat f JOIN lab l USING (doc_id)
         |        CROSS JOIN w${k - 1} w),
         |g$k AS (SELECT
         |          $gs,
         |          count(*) AS n
         |        FROM z$k),
         |w$k AS (SELECT
         |          $ws
         |        FROM w${k - 1} w CROSS JOIN g$k g)""".stripMargin
    }.mkString(",\n")
    s"""WITH $toksCte,
       |tb AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 6))::BIGINT % $B AS b
       |       FROM (SELECT doc_id, unnest(t) AS tok FROM toks)),
       |lab AS (SELECT doc_id,
       |          CASE WHEN len(list_filter(t, x -> x = 'spark')) >= 2
       |          THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
       |        FROM toks),
       |feat AS (SELECT doc_id,
       |         $xs
       |         FROM tb GROUP BY doc_id),
       |w0 AS (SELECT $w0),
       |$layers,
       |zf AS (SELECT f.doc_id, l.y, (${zExpr("w")}) AS znano
       |       FROM feat f JOIN lab l USING (doc_id)
       |       CROSS JOIN w$iters w),
       |scored AS (SELECT doc_id, CAST(y AS BIGINT) AS label, znano AS z_nano,
       |             CAST(round(($sExpr) * 1e6) AS BIGINT) AS prob_micro,
       |             znano >= 0 AS predicted
       |           FROM zf)""".stripMargin
  }

  /** Generated DuckDB CTE chain replaying KMeans.fit over `vecSql` (a
    * double-list expression over `embeddings`): Lloyd is sequential, so
    * the FIXED iteration budget unrolls into one CTE layer per round —
    * broadcast-shaped assignment (argmin by left-fold squared L2, ties to
    * the lowest cell), fixed-point per-dimension means (exact integer
    * sums of floor(v·10⁹), one double division), empty cells carrying the
    * previous centroid. All CTE names carry prefix `t` so several
    * trainings (the PQ subspaces) can share one statement; the final
    * table is `${t}cent$iters`. */
  private def kmeansCtesFor(t: String, vecSql: String, k: Int,
                            iters: Int): String = {
    val base = Seq(
      s"""${t}emb AS (SELECT vec_id, $vecSql AS v FROM embeddings)""",
      s"""${t}cent0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS c
         |          FROM (SELECT vec_id, v FROM ${t}emb ORDER BY vec_id LIMIT $k))""".stripMargin)
    val rounds = (0 until iters).flatMap { i =>
      Seq(
        s"""${t}asg$i AS (SELECT e.vec_id, e.v, c.cell, ${sqDistSql("e.v", "c.c")} AS d
           |          FROM ${t}emb e, ${t}cent$i c)""".stripMargin,
        s"""${t}best$i AS (SELECT vec_id, v, cell FROM (
           |            SELECT vec_id, v, cell,
           |              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
           |            FROM ${t}asg$i) WHERE rn = 1)""".stripMargin,
        s"""${t}mean$i AS (SELECT cell, pos,
           |             CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE)
           |               / (count(*) * 1e9) AS mv
           |           FROM (SELECT cell, CAST(unnest(range(len(v))) AS INT) AS pos,
           |                        unnest(v) AS x
           |                 FROM ${t}best$i)
           |           GROUP BY 1, 2)""".stripMargin,
        s"${t}newc$i AS (SELECT cell, list(mv ORDER BY pos) AS c FROM ${t}mean$i GROUP BY cell)",
        s"""${t}cent${i + 1} AS (SELECT o.cell, coalesce(n.c, o.c) AS c
           |                 FROM ${t}cent$i o LEFT JOIN ${t}newc$i n USING (cell))""".stripMargin)
    }
    (base ++ rounds).mkString(",\n")
  }

  private def kmeansCtes: String = kmeansCtesFor("",
    "list_transform(embedding, x -> CAST(x AS DOUBLE))", KmeansK, KmeansIters)

  /** Cosine threshold for the `semdedup_prune` gate — low vs the paper's
    * ≥ 0.9 so the synthetic corpus actually exercises the drop path. */
  private[queries] val SemDedupTau = 0.4

  /** Fixture query set + k for the `bm25_topk` gate: corpus-lexicon terms
    * spanning common (high-df) and rare (`dup`) so the idf spread is real;
    * ONE constant feeds the Spark frame and the generated VALUES list. */
  private[queries] val Bm25QuerySet: Seq[(Int, String)] = Seq(
    (0, "table scan fast"),
    (1, "spark stream window dup"),
    (2, "customer query join batch"))
  private[queries] val Bm25K = 10

  /** Shared DuckDB chain replaying Retrieval.bm25Scored (query terms,
    * query-term postings, micro-quantized per-(query,term,doc)
    * contributions, exact integer sums) ending in
    * `sc(query_id, doc_id, n_terms, score_micro)` — consumed by the
    * `bm25_topk` rank tail and the `hard_negatives` anti-join tail. */
  private lazy val bm25ScoredCtes: String = {
    val values = Bm25QuerySet
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""$toksCte,
       |q AS (SELECT * FROM (VALUES $values) AS t(query_id, qtext)),
       |qt AS (SELECT query_id, unnest(list_distinct(list_filter(
       |         regexp_split_to_array(qtext, '\\s+'), x -> x <> ''))) AS term
       |       FROM q),
       |dl AS (SELECT doc_id, len(t) AS dlen FROM toks),
       |dt AS (SELECT doc_id, term, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
       |dtq AS (SELECT dt.doc_id, dt.term, dt.tf, dl.dlen
       |        FROM dt JOIN dl USING (doc_id)
       |        JOIN (SELECT DISTINCT term FROM qt) USING (term)),
       |stats AS (SELECT count(*) AS nd, CAST(sum(len(t)) AS BIGINT) AS tok_total
       |          FROM toks),
       |dfq AS (SELECT term, count(*) AS df FROM dtq GROUP BY 1),
       |c AS (SELECT qt.query_id, dtq.doc_id,
       |        CAST(round(
       |          ln((CAST(s.nd - f.df AS DOUBLE) + 0.5)
       |             / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
       |          * ((CAST(dtq.tf AS DOUBLE) * (1.2 + 1.0))
       |             / (CAST(dtq.tf AS DOUBLE)
       |                + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dtq.dlen AS DOUBLE)
       |                    / (CAST(s.tok_total AS DOUBLE) / CAST(s.nd AS DOUBLE))))))
       |          * 1e6) AS BIGINT) AS c
       |      FROM dtq JOIN qt USING (term) JOIN dfq f USING (term)
       |      CROSS JOIN stats s),
       |sc AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |         CAST(sum(c) AS BIGINT) AS score_micro
       |       FROM c GROUP BY 1, 2)""".stripMargin
  }

  /** Bucket width for the `dsir_weights` gate's hashed-n-gram feature
    * space (small vs the paper's 10⁴ so collisions are exercised). */
  private[queries] val DsirBuckets = 256

  /** PQ gate constants: 2 subspaces × 32 dims, 4 cells, 2 Lloyd rounds. */
  private[queries] val PqM = 2
  private[queries] val PqSubDim = 32
  private[queries] val PqK = 4
  private[queries] val PqIters = 2

  /** Generated oracle for [[graft.operators.ProductQuantization]] codes:
    * one unrolled k-means chain per subspace over the sliced embedding,
    * then the per-subspace nearest-cell assignment, flattened to
    * (vec_id, subspace, code). */
  private def pqOracle: String = {
    val trainings = (0 until PqM).map { j =>
      val lo = j * PqSubDim + 1
      val hi = (j + 1) * PqSubDim
      kmeansCtesFor(s"s$j",
        s"list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE))",
        PqK, PqIters)
    }
    val assigns = (0 until PqM).map { j =>
      s"""fin$j AS (SELECT e.vec_id, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |          FROM s${j}emb e, s${j}cent$PqIters c),
         |b$j AS (SELECT vec_id, cell FROM (
         |          SELECT vec_id, cell,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |          FROM fin$j) WHERE rn = 1)""".stripMargin
    }
    "WITH " + (trainings ++ assigns).mkString(",\n") + "\n" +
      (0 until PqM).map(j =>
        s"SELECT vec_id, $j AS subspace, cell AS code FROM b$j")
        .mkString("\nUNION ALL\n") +
      "\nORDER BY vec_id, subspace"
  }

  /** IVF-PQ gate constants: 4 trained coarse cells (2 Lloyd rounds),
    * 2 probes, top-5 — the PQ codebooks reuse the `pq_codes` constants. */
  private[queries] val IvfPqCoarseK = 4
  private[queries] val IvfPqIters = 2
  private[queries] val IvfPqNProbe = 2
  private[queries] val IvfPqTopK = 5

  /** Generated oracle for [[graft.operators.ProductQuantization.ivfPqTopK]]:
    * one unrolled coarse k-means chain (prefix `c`) + the two per-subspace
    * codebook chains of [[pqOracle]], then probe routing, candidate
    * generation, and ADC scoring — the left-fold 0.0 + d₀ + d₁ matches the
    * Spark `aggregate` accumulation order. */
  private def ivfPqOracle: String = {
    val coarse = kmeansCtesFor("c",
      "list_transform(embedding, x -> CAST(x AS DOUBLE))",
      IvfPqCoarseK, IvfPqIters)
    val trainings = (0 until PqM).map { j =>
      val lo = j * PqSubDim + 1
      val hi = (j + 1) * PqSubDim
      kmeansCtesFor(s"s$j",
        s"list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE))",
        PqK, PqIters)
    }
    val codeAssigns = (0 until PqM).map { j =>
      s"""fin$j AS (SELECT e.vec_id, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |          FROM s${j}emb e, s${j}cent$PqIters c),
         |b$j AS (SELECT vec_id, cell FROM (
         |          SELECT vec_id, cell,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |          FROM fin$j) WHERE rn = 1)""".stripMargin
    }
    val search = Seq(
      s"""cfin AS (SELECT e.vec_id, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |         FROM cemb e, ccent$IvfPqIters c)""".stripMargin,
      s"""casg AS (SELECT vec_id, cell FROM (
         |           SELECT vec_id, cell,
         |             row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |           FROM cfin) WHERE rn = 1)""".stripMargin,
      s"""probes AS (SELECT vec_id AS query_id, cell FROM (
         |             SELECT vec_id, cell,
         |               row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS pr
         |             FROM cfin WHERE vec_id < 5) WHERE pr <= $IvfPqNProbe)""".stripMargin,
      """cand AS (SELECT p.query_id, a.vec_id
        |         FROM casg a JOIN probes p ON a.cell = p.cell
        |         WHERE a.vec_id <> p.query_id)""".stripMargin,
      s"""adc AS (SELECT cand.query_id, cand.vec_id,
         |          0.0${(0 until PqM).map(j =>
                      s" + (${sqDistSql(s"q$j.v", s"c$j.c")})").mkString} AS adc_dist
         |        FROM cand${(0 until PqM).map(j =>
                      s"""
         |        JOIN b$j ON b$j.vec_id = cand.vec_id
         |        JOIN s${j}cent$PqIters c$j ON c$j.cell = b$j.cell
         |        JOIN s${j}emb q$j ON q$j.vec_id = cand.query_id""").mkString})""".stripMargin)
    "WITH " + ((Seq(coarse) ++ trainings ++ codeAssigns ++ search)
      .mkString(",\n")) + "\n" +
      s"""SELECT query_id, CAST(rank AS INT) AS rank, vec_id AS neighbor_id, adc_dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, vec_id) AS rank
         |  FROM adc) WHERE rank <= $IvfPqTopK
         |ORDER BY query_id, rank""".stripMargin
  }

  /** Fixture subword vocabulary for the `text_token_subword` gate:
    * multi-character subwords over the synthetic corpus's lexicon, with
    * deliberate gaps (no standalone `d`, `g`, …) so the one-code-point UNK
    * path is exercised. ONE definition feeds both the Spark trie and the
    * generated DuckDB `VALUES` list — they cannot drift. */
  private[queries] val SubwordVocab: Seq[String] = Seq(
    "table", "tab", "ta", "the", "a", "scan", "sca", "val", "value", "ue",
    "row", "key", "agg", "spark", "spa", "rk", "window", "wind", "ow",
    "batch", "bat", "ch", "er", "or", "ar", "st", "str", "eam", "line",
    "li", "ne", "fast", "fa", "sl", "slow", "big", "sm", "all", "gr",
    "oup", "data", "da", "que", "ry", "jo", "in", "co", "lumn", "fil",
    "ter", "so", "rt", "ha", "sh", "me", "rge", "part", "pa", "ve",
    "ctor", "cu", "stomer", "qu")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Subword (BPE/WordPiece-shaped) token counts under greedy
    // longest-match against the fixture vocabulary — the counting pass
    // budget arithmetic should run on where whitespace counts mislead
    // (CJK, code).
    "text_token_subword" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.SubwordTokenCount
            .subwordTokenCount(col("text"), SubwordVocab)
            .cast("long").as("n_subword"))
    }),

    // Tokenizer fertility / compression evaluation (L80): per language,
    // subword tokens per word and bytes per subword token under the
    // fixture vocabulary — the report a vocabulary-size decision reads.
    "tokenizer_fertility" -> ((s, dir) => {
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir), SubwordVocab)
    }),

    // The segmentation twin: the pieces themselves, space-joined so the
    // whole segmentation is one comparable string per document.
    "text_subword_segments" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat_ws(" ", graft.functions.SubwordTokenCount
            .subwordTokens(col("text"), SubwordVocab)).as("segments"))
    }),

    "text_token_count" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.regexTokenCount(col("text")).as("n_regex_tokens"))
    }),

    "text_quality" -> ((s, dir) => {
      qualityFrame(Tables.documents(s, dir))
    }),

    "text_langid" -> ((s, dir) => {
      langidFrame(Tables.documents(s, dir))
    }),

    // Language-id confusion matrix (L109): declared vs predicted counts
    // plus per-declared-language shares — the langid QA artifact a
    // multilingual curation run reads before trusting either label.
    // One corpus aggregation; the share rides a langs²-sized window.
    "langid_confusion" -> ((s, dir) => {
      // r16: fanOut — the langid token pass ran fused into the one-split
      // scan (per-stage profile: one 0.97 s task)
      val cm = Tables.fanOut(s, Tables.documents(s, dir), dir,
          "documents", col("doc_id"))
        .select(col("lang"), TextAnalysis.predictedLangFromTokens(
          TextAnalysis.tokens(lower(col("text")))).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      cm.withColumn("lang_total", sum(col("n")).over(w))
        .withColumn("share",
          col("n").cast("double") / col("lang_total").cast("double"))
    }),

    "text_fingerprint" -> ((s, dir) => {
      fingerprintFrame(Tables.documents(s, dir))
    }),

    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir))
    }),

    // Deterministic Lloyd k-means: trained centroids (flattened to one row
    // per dimension) and the final hard assignment over the embeddings.
    "kmeans_centroids" -> ((s, dir) => {
      KMeans.fit(Tables.embeddings(s, dir), k = KmeansK, iters = KmeansIters)
        .select(col("cell"), posexplode(col("centroid")).as(Seq("pos", "mean")))
    }),

    "kmeans_assign" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      KMeans.assign(e, KMeans.fit(e, k = KmeansK, iters = KmeansIters))
        .select(col("vec_id"), col("cell"))
    }),

    // One representative per semantic cluster (round 14): the member
    // nearest its fitted centroid (ties to the lowest id) + cell size —
    // the coreset selection view over the same deterministic k-means.
    // The float rep_dist stays out of the gate (the ordering pins it);
    // the oracle replays the assignment and both windowed cuts.
    "cluster_representatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      KMeans.representatives(e,
          KMeans.fit(e, k = KmeansK, iters = KmeansIters))
        .select(col("cell"), col("representative_id"), col("n_members"))
    }),

    // DSIR importance weights: hashed unigram+bigram distributions on the
    // en-language slice (target) vs the whole pool (raw); micro-nat
    // quantized per-bucket log ratios, exact integer per-doc sums.
    "dsir_weights" -> ((s, dir) => {
      // r16: fanOut PROBED AND REJECTED — paired A/B read 1.15 s without
      // vs 1.34 s with: the target/corpus legs both pay the exchange of
      // the full text and the hashed-gram passes are cheap next to it
      val docs = Tables.documents(s, dir)
      graft.operators.Dsir.importanceWeights(docs,
        docs.filter(col("lang") === "en"), numBuckets = DsirBuckets)
    }),

    // BM25 top-k retrieval: posting-table scoring of the fixture query
    // set, micro-unit-quantized contributions, two-phase top-k funnel ON
    // (the oracle is the single-window formulation, so parity doubles as
    // funnel-exactness evidence).
    "bm25_topk" -> ((s, dir) => {
      val q = s.createDataFrame(Bm25QuerySet).toDF("query_id", "text")
      Retrieval.bm25TopK(Tables.documents(s, dir), q, k = Bm25K,
        subPartitions = 4)
    }),

    // DPR-style hard-negative mining (L126): top-k BM25 docs that are NOT
    // labeled relevant, anti-joined BEFORE the rank cut so every query
    // yields k true negatives. Relevance label: contains ALL the query's
    // terms (264/12/241 positives per query at sf0.01 — the anti-join
    // visibly reshapes the top-k vs bm25_topk).
    "hard_negatives" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val q = s.createDataFrame(Bm25QuerySet).toDF("query_id", "text")
      val qt = q.select(col("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("term"))
      val posts = TextAnalysis.explodeTokens(docs, col("text"), "term",
        Seq(col("doc_id"))).select(col("doc_id"), col("term")).distinct()
      val qn = qt.groupBy(col("query_id")).agg(count(lit(1)).as("__nq"))
      val positives = qt.join(posts, Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("__nm"))
        .join(broadcast(qn), Seq("query_id"))
        .filter(col("__nm") === col("__nq"))
        .select(col("query_id"), col("doc_id"))
      Retrieval.hardNegatives(docs, q, positives, k = Bm25K,
        subPartitions = 4)
    }),

    // Excess-loss data selection (L127, the RHO-loss signal at the
    // corpus-prep tier): per-doc unigram-proxy vs bigram-ref mean losses,
    // keep documents at or above the exact 75th-percentile excess —
    // "train on the top quarter most informative data"; ties at the
    // threshold kept (the deterministic policy).
    "select_excess_loss" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val proxy = LanguageModel.scoreDocumentsUnigram(docs,
          LanguageModel.unigramCounts(docs))
        .select(col("doc_id"), col("n_tokens"), col("lm_score"))
      val ref = LanguageModel.scoreDocuments(docs,
          LanguageModel.ngramCounts(docs))
        .select(col("doc_id"), col("n_trans"), col("lm_score"))
      // r16: the excess frame is a fan-out frame — selectByExcess consumes
      // it TWICE (histogram-quantile threshold, then the keep filter), and
      // the second consumer re-ran the post-shuffle join tail on ONE
      // AQE-coalesced task (~1.3 s serial; per-stage profile #121/#122). The
      // eager checkpoint is the standard discipline for two-consumer
      // frames: one materialization, both branches read narrow rows.
      graft.operators.DomainReweight.selectByExcess(
          graft.operators.DomainReweight.docExcess(proxy, ref)
            .localCheckpoint(true),
          keepFraction = 0.25)
    }),

    // SemDeDup: k-means cells + in-cell cosine prune — kept=0 iff a
    // lower-id vector in the same cell is within the threshold.
    "semdedup_prune" -> ((s, dir) => {
      SemDedup.prune(Tables.embeddings(s, dir), k = KmeansK,
        iters = KmeansIters, threshold = SemDedupTau)
    }),

    // Product quantization: per-subspace codebooks (KMeans) + corpus codes,
    // flattened to (vec_id, subspace, code) for the oracle compare.
    "pq_codes" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val books = ProductQuantization.fit(e, dim = 64, m = PqM, k = PqK,
        iters = PqIters)
      ProductQuantization.encode(e, books, m = PqM)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("subspace", "code")))
    }),

    // IVF-PQ composed ANN: trained coarse router + per-subspace codebooks,
    // ADC scoring restricted to the probed cells.
    "ann_ivfpq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // coarse router + all codebooks from ONE keyed Lloyd loop — the
      // unchanged oracle (solo-training replay) is the bit-equality proof
      val (coarse, books) = ProductQuantization.ivfPqFit(e, dim = 64,
        m = PqM, coarseK = IvfPqCoarseK, pqK = PqK, iters = IvfPqIters)
      ProductQuantization.ivfPqTopK(e, e.filter(col("vec_id") < 5), coarse,
        books, m = PqM, k = IvfPqTopK, nProbe = IvfPqNProbe)
    }),

    // BPE vocabulary learning: first 8 merges over the corpus's word
    // frequencies (deterministic — ties break lexicographically).
    "bpe_merges" -> ((s, dir) => {
      BpeLearn.learnTable(s, Tables.documents(s, dir),
        numMerges = BpeMergeCount)
    }),

    // The BATCHED production path (numMerges/batchSize driver round-trips
    // instead of numMerges): same merge count, batchSize=4 symbol-disjoint
    // merges accepted per round from exact batch-start counts. The oracle
    // replays the greedy disjoint selection recursively — this gate pins
    // the batched contract itself, not just its batchSize=1 degeneration
    // (which the equivalence spec covers).
    "bpe_merges_batched" -> ((s, dir) => {
      import s.implicits._
      BpeLearn.learnBatched(Tables.documents(s, dir),
        numMerges = BpeMergeCount, batchSize = BpeBatchSize).toDF()
    }),

    // WordPiece vocabulary learning (L78): 8 likelihood-argmax merges
    // (score = pair count / (left count · right count)) — the BERT
    // trainer, completing the BPE/unigram/WordPiece family.
    "wordpiece_merges" -> ((s, dir) => {
      WordPiece.learnTable(s, Tables.documents(s, dir),
        numMerges = WpMergeCount)
    }),

    // BATCHED WordPiece learning (L111, round 13): the production path
    // for BERT-scale (30k) vocabularies — per round greedily accept up
    // to WpBatchSize symbol-disjoint pairs from the score-ranked
    // candidates, apply them in one re-segmentation pass. The oracle
    // replays the greedy disjoint selection recursively, pinning the
    // batched contract itself (the batchSize=1 ≡ sequential degeneration
    // is spec-covered).
    "wordpiece_merges_batched" -> ((s, dir) => {
      WordPiece.learnBatchedTable(s, Tables.documents(s, dir),
        numMerges = WpMergeCount, batchSize = WpBatchSize)
    }),

    // WordPiece serving side (L78): MaxMatch tokenization of every word
    // occurrence under the vocabulary the 8 learned merges induce
    // (alphabet + merged display forms) — train → vocab → tokenize
    // composed end-to-end; the oracle re-learns the merges in SQL and
    // replays MaxMatch (initial/continuation split + whole-word UNK) as
    // a recursive CTE.
    "wordpiece_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = WordPiece.learn(docs, numMerges = WpMergeCount)
      val vocab = WordPiece.vocabulary(docs, merges)
        .collect().map(_.getString(0)).toSet
      // r16: fanOut — the tokenize+MaxMatch serving pass ran fused into
      // the one-split scan (per-stage profile: one 0.63 s task)
      val toks = TextAnalysis.explodeTokens(
        Tables.fanOut(s, docs, dir, "documents", col("doc_id")),
        col("text"), "word", Seq(col("doc_id")))
      WordPiece.maxMatch(toks, vocab)
        .select(col("doc_id"), explode(col("pieces")).as("piece"))
        .groupBy(col("doc_id"), col("piece"))
        .agg(count(lit(1)).as("n"))
    }),

    // COMPOSED quality-signals table (L85): the Dolma-style per-document
    // attributes artifact — six signal gates joined on doc_id, each the
    // REAL gate builder (zero drift: the gates and this composition call
    // the same builder functions), composed as one plan with no per-leg
    // barrier.
    "quality_signals" -> ((s, dir) => {
      // r16 part 3: all six legs read ONE fanned documents frame — the
      // six identical scan+exchange subtrees dedupe via ReuseExchange,
      // each leg's kernel runs machine-wide instead of fused into its
      // own one-split scan (per-stage profile: two 0.7-0.8 s single-task
      // stages), and the doc_id hash partitioning feeds the six-way join
      // exchange-free (identity at scale: fanOut adds no exchange there)
      val docs = Tables.fanOut(s, Tables.documents(s, dir), dir,
        "documents", col("doc_id"))
      val e = TextAnalysis.charEntropy(docs)
      val q = qualityFrame(docs)
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("stopword_ratio"), col("punct_ratio"), col("quality_score"))
      val r = TextAnalysis.repetition(docs)
      val l = langidFrame(docs)
        .select(col("doc_id"), col("predicted"))
      val g = TextAnalysis.gopherRules(docs)
      val f = fingerprintFrame(docs)
      e.join(q, Seq("doc_id")).join(r, Seq("doc_id")).join(l, Seq("doc_id"))
        .join(g, Seq("doc_id")).join(f, Seq("doc_id"))
    }),

    // COMPOSED tokenizer pipeline (L84): learn BPE merges on the corpus
    // (no end-of-word marker → servable symbols), induce the vocabulary
    // (alphabet + merged symbols, ids = lexicographic rank), encode every
    // document with the greedy trie server, then concat-and-slice the id
    // stream into exact 32-token training sequences — tokenizer training
    // through pretraining feed as ONE gated chain, every stage the real
    // operator.
    "tokenizer_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = BpeLearn.learn(docs, numMerges = BpeMergeCount,
        endOfWord = None)
      // alphabet from the (vocabulary-sized) word table — the same
      // driver boundary the learn loop already has. CODE POINTS, not
      // UTF-16 code units: a supplementary character must enter the
      // trie as its real 4-byte sequence, matching the oracle's
      // code-point alphabet (lone surrogates encode as replacement
      // bytes and could never match)
      val alpha = BpeLearn.wordFrequencies(docs).select(col("word"))
        .collect().flatMap(_.getString(0).codePoints().toArray
          .map(cp => new String(Character.toChars(cp)))).distinct
      val pieces = (alpha ++ merges.map(_.merged)).distinct.sorted.toSeq
      val idMap = map(pieces.zipWithIndex.flatMap { case (v, i) =>
        Seq(lit(v), lit(i.toLong)) }: _*)
      // r16: fanOut — the subword-trie tokenize projection ran fused
      // into the one-split scan; spread it like wordpiece_tokenize's
      val ids = Tables.fanOut(s, docs, dir, "documents", col("doc_id"))
        .select(col("doc_id"),
        concat_ws(" ", transform(
          graft.functions.SubwordTokenCount.subwordTokens(col("text"), pieces),
          p => coalesce(element_at(idMap, p), lit(0L)).cast("string")))
          .as("ids_text"))
      Packing.concatSlice(ids, seqLen = 32, textCol = "ids_text",
        numBuckets = 8)
    }),

    // Unigram-LM tokenizer (L77), seed stage: candidate substrings
    // (length 1..4) of the corpus's words weighted by word frequency —
    // the vocabulary initialization of SentencePiece's unigram trainer.
    "unigram_seed" -> ((s, dir) => {
      val words = BpeLearn.wordFrequencies(Tables.documents(s, dir))
      UnigramLm.seedCandidates(words, maxPieceLen = 4)
        .filter(col("w") >= 2)
        .orderBy(col("w").desc, col("piece").asc).limit(200)
    }),

    // Unigram-LM tokenizer, serving stage: per-document piece counts
    // from Viterbi-segmenting every (alnum, len<=12) token occurrence
    // under the FIXED demo vocabulary (one Scala constant feeds the
    // kernel and the generated oracle, which replays the DP as an
    // EXHAUSTIVE segmentation enumeration + the same tie ladder — the
    // strongest possible pin on the codegen'd kernel). The trained-vocab
    // path is property-checked against a plain-Scala reference EM
    // (UnigramSpec tests); a trained vocabulary is runtime data, not a
    // constant an oracle can share.
    "unigram_segment" -> ((s, dir) => {
      // r16: fanOut — the in-row Viterbi kernel ran fused into the
      // one-split scan (profiled 1.3 s of task time on ~1 core)
      val toks = TextAnalysis
        .explodeTokens(Tables.fanOut(s, Tables.documents(s, dir), dir,
            "documents", col("doc_id")), col("text"),
          "word", Seq(col("doc_id")))
        .filter(length(col("word")).between(1, 12) &&
          col("word").rlike("^[A-Za-z0-9]+$"))
      UnigramLm.segment(toks, DemoUnigramVocab,
          wordCol = "word", unkScore = DemoUnigramUnk)
        .select(col("doc_id"), explode(col("pieces")).as("piece"))
        .groupBy(col("doc_id"), col("piece"))
        .agg(count(lit(1)).as("n"))
    }),

    // Fill-in-the-middle transform (L83): PSM rearrangement of a
    // deterministic doc slice — pure projection, zero shuffle.
    "fill_in_middle" -> ((s, dir) => {
      FillInMiddle.transform(Tables.documents(s, dir), fimRate = FimRate)
    }),

    // GPT-style concat-and-slice sequences (L82): per-bucket document
    // streams with <eod> separators cut into exact 32-token sequences,
    // documents straddling boundaries — zero padding waste.
    "concat_slice" -> ((s, dir) => {
      Packing.concatSlice(Tables.documents(s, dir), seqLen = 32,
        numBuckets = 8)
    }),

    // Packing-efficiency sweep (L114, round 13): the "choose your
    // sequence length" table — per candidate seqLen the padding floor,
    // truncation loss and straddle counts of the packing disciplines,
    // in ONE corpus pass (static struct array + unpivot, the
    // filter_ablation discipline).
    "packing_efficiency" -> ((s, dir) => {
      val lens = Tables.documents(s, dir).select(col("doc_id"),
        size(graft.functions.WordShingles.allShingles(col("text"), 1))
          .cast("long").as("len"))
      Packing.packingEfficiency(lens, "len", PackSweepLens,
          keyCol = "doc_id", numBuckets = 8)
    }),

    // T5-style span corruption (L81): sentinel-masked input/target pairs
    // under deterministic md5 span draws — p=0.05, L=3 ≈ the T5 recipe's
    // 15% noise density at mean span 3.
    "span_corruption" -> ((s, dir) => {
      // r16: fanOut — the corruption kernel ran in a 3-task scan stage
      // (per-stage profile: 0.58 s max task)
      SpanCorruption.corrupt(Tables.fanOut(s, Tables.documents(s, dir),
          dir, "documents", col("doc_id")),
        spanStartProb = SpanCorrProb, spanLen = SpanCorrLen)
    }),

    // CCNet-shaped LM scoring: train an add-1 bigram model on the corpus,
    // score every document under it (micro-nat quantized log-probs — see
    // LanguageModel's determinism contract).
    "lm_score_bigram" -> ((s, dir) => {
      // r16 part 3: fanOut PROBED AND REJECTED (ABAB paired, off/on):
      // 1.26/1.24 without vs 1.59/1.47 with — the heavy model/score
      // stages are already machine-wide post-exchange and the full-text
      // fan-out exchange costs more than the cheap explode it frees
      val docs = Tables.documents(s, dir)
      LanguageModel.scoreDocuments(docs, LanguageModel.ngramCounts(docs))
    }),

    // DoReMi-style domain reweighting (L118): one exponentiated-gradient
    // step on the domain weights in integer micro-nat LOG space (exp()
    // is not cross-engine-exact, so the float mixture stays spec-only —
    // the NOTES r13 design question answered). Proxy = context-free
    // unigram LM (the still-learning stand-in), reference = bigram —
    // excess loss is where context buys the most and it varies ~3× by
    // domain at sf0.01 (the zero-clamp branch is spec-covered; on real
    // corpora it fires for domains the proxy already masters).
    "domain_reweight" -> ((s, dir) => {
      // r16 part 3: fanOut PROBED AND REJECTED (ABAB paired, off/on):
      // 1.51/1.52 without vs 1.93/1.69 with. A first noisy pair read
      // the opposite (off-run carried 2.3 foreign cores) — the clean
      // ABAB shows the LanguageModel stages are already machine-wide
      // post-exchange and the full-text fan-out exchange is pure cost,
      // the same verdict as the lm_score_* family
      val docs = Tables.documents(s, dir)
      val proxy = LanguageModel.scoreDocumentsUnigram(docs,
          LanguageModel.unigramCounts(docs))
        .select(col("doc_id"), col("n_tokens"), col("lm_score"))
      val ref = LanguageModel.scoreDocuments(docs,
          LanguageModel.ngramCounts(docs))
        .select(col("doc_id"), col("n_trans"), col("lm_score"))
      graft.operators.DomainReweight.excessWeights(docs, proxy, ref)
    }),

    // Interpolated MODIFIED Kneser-Ney bigram scoring (L79): the KenLM/
    // CCNet production smoothing — continuation counts, per-context
    // discount masses, and counts-of-counts-estimated discounts are all
    // MODEL-sized aggregations over the same trained frame.
    "lm_score_kn" -> ((s, dir) => {
      // r16 part 3: fanOut probed and rejected (see lm_score_bigram; the
      // KN stages profile machine-wide already)
      val docs = Tables.documents(s, dir)
      LanguageModel.scoreDocumentsKn(docs, LanguageModel.ngramCounts(docs))
    }),

    // the trigram tier of the same machinery — contexts are opaque
    // strings to every KN statistic, so only the transition scan widens
    "lm_score_kn3" -> ((s, dir) => {
      // r16 part 3: fanOut probed and rejected (see lm_score_bigram; the
      // KN stages profile machine-wide already)
      val docs = Tables.documents(s, dir)
      LanguageModel.scoreDocumentsKn(docs,
        LanguageModel.ngramCounts(docs, n = 3), n = 3)
    }),

    // Exact substring dedup (ExactSubstr, Lee et al. 2022): maximal token
    // spans whose 5-grams occur at least twice corpus-wide, merged per doc.
    "dedup_substring_spans" -> ((s, dir) => {
      SubstringDedup.duplicatedSpans(Tables.documents(s, dir), k = 5)
    }),

    // Distributed suffix array by prefix doubling (L119): global dense
    // suffix ranks over the capped slice corpus (every 10th doc, first 64
    // tokens — the cap keeps the DuckDB direct-suffix-sort oracle linear
    // while the Spark side runs the real log-round construction). The
    // oracle sorts suffix strings joined with chr(1) — below any token
    // byte, so string order IS token-sequence order with the
    // shorter-prefix-first rule.
    "suffix_array" -> ((s, dir) => {
      saFit(s, dir).sa
        .select(col("doc_id"), col("pos"), col("rank"))
    }),

    // Longest duplicated passages (L120): top-10 adjacent-suffix LCPs
    // with the repeated prefix spelled out — the binary-descent LCP over
    // the retained doubling tables, clamped at full ties.
    "sa_longest_dup" -> ((s, dir) => {
      SuffixArray.longestDuplicated(saFit(s, dir), topK = 10)
    }),

    // ExactSubstr spans from the suffix array (L121): neighbor-LCP ≥ 5
    // marks duplicated starts; merged per doc. The oracle is the K-GRAM
    // formulation over the same corpus — parity IS the cross-algorithm
    // equivalence proof (and the spec pins it on random corpora).
    "dedup_substring_sa" -> ((s, dir) => {
      SuffixArray.duplicatedSpans(saFit(s, dir), minLen = 5)
    }),

    // ExactSubstr spans from the generalized suffix AUTOMATON (round-14
    // twin): per-partition SAM resolves within-partition repeats with
    // exact string matching and zero shuffle; only locally-unique grams
    // shuffle for the cross-partition count. Shares the k-gram oracle —
    // three independent algorithms pinned to one answer.
    "dedup_substring_sam" -> ((s, dir) => {
      graft.operators.SuffixAutomaton
        .duplicatedSpans(saCorpus(s, dir), minLen = 5)
    }),

    // Cross-corpus ExactSubstr decontamination (L122): suffix array over
    // train ∪ eval, per-eval-suffix longest verbatim train overlap by
    // running-min over the segments between train suffixes (sorted-order
    // nearest-neighbor property). Eval side: verbatim 16-token slices of
    // train docs (+ a novel tail token) plus clean non-train docs — both
    // verdict shapes fire at every SF. Oracle computes each eval suffix's
    // LCP against its nearest train suffix above/below in direct
    // token-list comparison — the PROPERTY, not the algorithm.
    "decontaminate_sa" -> ((s, dir) => {
      val (docs, tags) = deconSaCorpus(s, dir)
      SuffixArray.leakageReport(
        SuffixArray.fit(docs, maxPrefix = 64), tags, minLen = 5)
    }),

    // The scrubbed corpus: duplicated spans removed, every document kept
    // (untouched documents pass through with whitespace normalized).
    "dedup_substring_scrub" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      SubstringDedup.scrubSpans(docs,
        SubstringDedup.duplicatedSpans(docs, k = 5))
    }),

    "dedup_jaccard" -> ((s, dir) => {
      // skew guard on (observed max shingle DF is 25 at sf0.1, so a cap of
      // 1000 is exercise-without-effect here; at corpus scale it is the
      // stop-shingle defense)
      Dedup.jaccardPairs(Tables.documents(s, dir), threshold = 0.3,
        maxShingleDf = Some(1000))
    }),

    // Same pair set through the prefix-filtered candidate engine
    // (AllPairs/PPJoin): rarity-ordered per-doc prefixes generate the
    // candidates, exact verification scores them — the 100 TB path that
    // needs no stop-shingle DF cap. Shares dedup_jaccard's oracle.
    "dedup_jaccard_prefix" -> ((s, dir) => {
      Dedup.jaccardPairsPrefix(Tables.documents(s, dir), threshold = 0.3)
    }),

    "dedup_minhash_lsh" -> ((s, dir) => {
      // bucket-size guard on (observed max bucket is 13 at sf0.1; 1000 is
      // exercise-without-effect here, the hot-bucket defense at scale)
      Dedup.minhashLshPairs(Tables.documents(s, dir), numHashes = 8,
        bandSize = 2, maxBucketSize = Some(1000))
    }),

    // Blocked-Levenshtein near-dup pairs (L130): record linkage over a
    // derived title (first 4 tokens) — 6-char blocking, edit distance
    // ≤ 2 (27 pairs from 2126 block candidates at sf0.01).
    "dedup_levenshtein" -> ((s, dir) => {
      val titled = Tables.documents(s, dir)
        .select(col("doc_id"), concat_ws(" ", slice(
          graft.functions.WordShingles.allShingles(col("text"), 1),
          1, 4)).as("title"))
      Dedup.levenshteinPairs(titled, keyCol = "title", blockLen = 6,
          maxDistance = 2, maxBlockSize = Some(64))
    }),

    // All-but-the-top (L132, Mu & Viswanath 2018): the embedding set's
    // top principal direction by 4 rounds of INTEGER power iteration
    // (floor(v·1e9) quantization, truncating divisions both engines
    // share, max-|component| renormalization — no sqrt, no per-round
    // float, engine-exact trajectory).
    "embedding_top_pc" -> ((s, dir) => {
      graft.operators.EmbeddingPca
        .topComponent(Tables.embeddings(s, dir), iters = 4)
    }),

    // the per-vector removal coefficients under the same fitted
    // direction — the magnitude all-but-the-top subtracts
    "embedding_pc_coef" -> ((s, dir) => {
      import graft.operators.EmbeddingPca
      val e = Tables.embeddings(s, dir)
      // r16: fit and projection share ONE centered frame (the explode +
      // per-dim mean + join pass ran twice — once inside topComponent,
      // once inside projections; same deterministic frame, same output)
      val u = EmbeddingPca.centeredInt(e).localCheckpoint(true)
      EmbeddingPca.projectionsCentered(u,
          EmbeddingPca.topComponentCentered(u, iters = 4))
    }),

    // Margin-based bitext mining (L131): embeddings split into two
    // "language" sides by vec_id parity; per side-A vector its best
    // ratio-margin candidate with the accept verdict (threshold 1.15 —
    // best-margin range 0.94–1.46 at sf0.01, so both verdicts fire).
    "bitext_margin" -> ((s, dir) => {
      // r16: fanOut — the cross join inherits the left scan's ONE split,
      // so the 1M-candidate dot-product pass ran serial (profiled 3.5 s
      // of task time inside 2.1 s wall, ~1 busy core)
      val e = Tables.fanOut(s, Tables.embeddings(s, dir), dir,
        "embeddings", col("vec_id"))
      Similarity.bitextMarginPairs(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          k = 4, thresholdMicro = BitextThresholdMicro)
    }),

    // Mutual-best bitext pairs (L146): the CCMatrix precision tier —
    // forward-backward argmax agreement over the same margin frame.
    "bitext_mutual" -> ((s, dir) => {
      // r16: fanOut — same serial-cross-join motivation as bitext_margin
      val e = Tables.fanOut(s, Tables.embeddings(s, dir), dir,
        "embeddings", col("vec_id"))
      Similarity.bitextMutualBest(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          k = 4, thresholdMicro = BitextThresholdMicro)
    }),

    // Winnowing fingerprint matches (L123, Schleimer et al. 2003 / MOSS):
    // rightmost-min-per-window fingerprint sketches, then doc pairs
    // sharing ≥ 2 fingerprint values under a hot-fingerprint guard —
    // the LOCAL-overlap detector (any ≥ w+k−1 = 6-token verbatim match
    // shares a fingerprint) that MinHash's whole-doc similarity misses.
    "winnow_pairs" -> ((s, dir) => {
      import graft.operators.Winnow
      Winnow.matchPairs(
          Winnow.fingerprints(Tables.documents(s, dir), k = 3, w = 4),
          minShared = 2, maxBucketSize = Some(64))
    }),

    // Dedup summary report (L110): the component-size histogram a
    // curation run prints — per cluster size: #clusters, #docs, #removed
    // under keep-one. Same pair chain as dedup_components; the report is
    // two aggregations over the OUTPUT-sized label frame.
    "dedup_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      Dedup.componentSizeReport(
          Dedup.connectedComponents(jp.unionByName(ep)), keepK = ReportKeepK)
    }),

    // Cross-source duplication matrix (L106): the LSH near-dup pairs
    // aggregated per unordered source pair — mirror/overlap forensics.
    "dedup_source_matrix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLshPairs(docs, numHashes = 8, bandSize = 2,
        maxBucketSize = Some(1000))
      Dedup.pairGroupMatrix(pairs, docs.select(col("doc_id"), col("source")),
          idCol = "doc_id", groupCol = "source")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // r16: fanOut — the simhash signature pass ran fused into the
      // one-split scan (per-stage profile: one 0.87 s task)
      Dedup.simhashGroups(Tables.fanOut(s, Tables.documents(s, dir),
          dir, "documents", col("doc_id")))
        .select(col("sim"), col("n_docs"), col("keep_id"),
          concat_ws(",", col("doc_ids")).as("doc_ids"))
    }),

    "text_repetition" -> ((s, dir) => {
      TextAnalysis.repetition(Tables.documents(s, dir))
    }),

    // Line-level repetition battery (L116): the Gopher line rules over the
    // derived multi-line view (same ' table ' → newline derivation as
    // line_dedup/boilerplate_scrub); every 4th doc gets a deterministic
    // trailer with a duplicated ellipsis line and a bullet line so all
    // four fractions fire in both engines.
    "text_line_repetition" -> ((s, dir) => {
      val trailer = "\nfoo bar...\nfoo bar...\n- item"
      val lined = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(expr("replace(text, ' table ', '\n')"),
            when(col("doc_id") % 4 === 0, trailer).otherwise(lit("")))
            .as("text"))
      TextAnalysis.lineRepetition(lined)
    }),

    // Within-doc duplicated 5-gram coverage (L117): Gopher's duplicate
    // n-gram character fraction — every 7th doc is self-concatenated so
    // full-coverage and zero-coverage docs both exist at every SF.
    "text_dup_ngram_coverage" -> ((s, dir) => {
      val derived = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), col("text")))
            .otherwise(col("text")).as("text"))
      TextAnalysis.dupNgramCoverage(derived, k = 5)
    }),

    // Detector consolidation: exact-dup pairs ∪ jaccard near-dup pairs →
    // connected components → canonical survivor per cluster (the keep-list
    // step every multi-detector dedup pipeline ends with).
    "dedup_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      Dedup.connectedComponents(jp.unionByName(ep))
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"),
          col("is_canonical"))
    }),

    // Same pair graph through the O(log² n)-round star-contraction
    // implementation — the long-chain-safe alternative; one oracle checks
    // both (the cluster map is algorithm-independent).
    "dedup_components_stars" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      Dedup.connectedComponentsStars(jp.unionByName(ep))
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"),
          col("is_canonical"))
    }),

    // The terminal dedup artifact: the corpus with non-canonical cluster
    // members dropped (same pair sources as dedup_components).
    "dedup_keep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      val comps = Dedup.connectedComponents(jp.unionByName(ep))
      Dedup.applyKeepList(docs, comps)
        .select(col("doc_id"))
    }),

    // Quality keep rule over the same detector chain: per duplicate
    // cluster keep the LONGEST member (token count, ties to lowest id)
    // instead of the canonical min id.
    "dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      val comps = Dedup.connectedComponents(jp.unionByName(ep))
      Dedup.applyKeepListBest(docs, comps,
        TextAnalysis.tokenCount(col("text")).cast("long"))
        .select(col("doc_id"))
    }),

    // KEEP-K policy over the same detector chain (L112, round 13): per
    // duplicate cluster keep the ReportKeepK longest members (ties to
    // lowest id) — the diversity-preserving alternative to keep-one;
    // same id-only anti-join scale shape, ranking is one window over the
    // OUTPUT-sized member frame.
    "dedup_keep_k" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      val comps = Dedup.connectedComponents(jp.unionByName(ep))
      Dedup.applyKeepListK(docs, comps,
        TextAnalysis.tokenCount(col("text")).cast("long"), k = ReportKeepK)
        .select(col("doc_id"))
    }),

    // Incremental dedup of an ingest batch against corpus history: the
    // history (doc_id % 7 == 0) is Bloom-sketched once; the batch streams
    // past the sketch and only the flagged sliver is confirmed exactly.
    // The two-tier result provably equals the plain anti-join the oracle
    // runs.
    "dedup_incremental" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val docs = Tables.documents(s, dir)
        .withColumn("digest", md5(col("text")))
      val history = docs.filter(col("doc_id") % 7 === 0)
      val batch = docs.filter(col("doc_id") % 7 =!= 0)
      val sk = IncrementalDedup.sketch(history, "digest",
        expectedItems = 100000L)
      IncrementalDedup.filterUnseenExact(batch, history, "digest", sk)
        .select(col("doc_id"))
    }),

    "dedup_embedding" -> ((s, dir) => {
      Similarity.embeddingDupPairs(Tables.embeddings(s, dir),
        threshold = 0.4, blockCol = "label")
    }),

    "ann_bruteforce" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
    }),

    // Eval-set embedding-NN leakage report (L113, round 13): per
    // benchmark vector its max-cosine TRAINING neighbor + a leaked
    // verdict — the semantic-contamination audit n-gram decontamination
    // (L20/L53) cannot see. One corpus scan, broadcast bench, map-side
    // partial max — the train×bench score frame never shuffles.
    "eval_nn_leakage" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.nnLeakageReport(
          e.filter(col("vec_id") % 23 =!= 0),
          e.filter(col("vec_id") % 23 === 0),
          threshold = NnLeakThreshold)
    }),

    // IVF ANN: fixed seed-vector coarse quantizer, nProbe nearest cells
    // searched per query — the inverted-file scale path alongside LSH.
    "ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), k = 3,
        numCells = 16, nProbe = 4)
    }),

    "ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 3, bits = 8)
    }),

    // Recall@k of the IVF index against brute-force ground truth — the
    // index-quality measurement that gates nProbe widening; oracle replays
    // both searches and the truth-sized-denominator recall join.
    "ann_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.ivfTopK(e, q, k = 3, numCells = 16, nProbe = 4),
        Similarity.bruteForceTopK(e, q, k = 3), k = 3)
    }),

    // the recall CURVE behind the nProbe choice (round 14): one search
    // at the widest depth, candidates carry their probe rank, each
    // narrower depth is a filter — recall@3 per nProbe ∈ {1,2,4,8} as a
    // pooled-truth integer tuning table.
    "ann_recall_sweep" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfRecallSweep(e, e.filter(col("vec_id") < 10), k = 3,
          numCells = 16, nProbes = Seq(1, 2, 4, 8))
    }),

    // gap-based sessionization via Spark's native session_window. Boundary
    // note: an event at exactly gap distance starts a new session in Spark
    // and merges in the lag-based oracle — unreachable with microsecond
    // timestamps.
    "sessionize" -> ((s, dir) => {
      import graft.operators.Sessionize
      Sessionize.sessions(Tables.events(s, dir), "user_id", "ts", "30 minutes")
    }),

    // Word2vec negative sampling (L89): k deterministic draws per
    // skip-gram pair from the unigram^0.75 noise distribution —
    // two-phase cumsum intervals + bucketized equi-join probe.
    "negative_samples" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.negativeSamples(
        TextAnalysis.skipGramPairs(docs, window = 2), docs, k = 2)
    }),

    // Frequency-based token subsampling (L88): the word2vec t-threshold
    // — stopwords thin, rare tokens always survive; deterministic
    // per-occurrence md5 draws against a count-derived keep probability.
    "token_subsample" -> ((s, dir) => {
      TextAnalysis.subsampleTokens(Tables.documents(s, dir),
        t = 1e-3)
    }),

    // Skip-gram pair counts (L87): word2vec-style embedding training
    // data — lead/lag context columns over one per-doc sort, no
    // self-join anywhere.
    "skipgram_pairs" -> ((s, dir) => {
      TextAnalysis.skipGramPairs(Tables.documents(s, dir), window = 2)
    }),

    // Session event-sequence corpus (L86): the behavioral documents a
    // sequence model pretrains on — per session, the ordered event-type
    // token string (ties on ts break on event_id, else the emitted order
    // would be partition-layout-dependent).
    "session_sequences" -> ((s, dir) => {
      import graft.operators.Sessionize
      Sessionize.sessionSequences(Tables.events(s, dir), "user_id", "ts",
        "30 minutes")
    }),

    "multimodal_decode" -> ((s, dir) => {
      import graft.operators.Multimodal
      val media = Multimodal.attachMedia(Tables.documents(s, dir))
      // ForceFake pins the deterministic codec: this output is verified
      // against a SQL oracle, which cannot recompute a real pixel decode
      val feats = Multimodal.decodeFeatures(media, Multimodal.ForceFake)
      Multimodal.resize(feats, maxDim = 512)
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
          col("n_frames"), col("digest"), col("out_width"), col("out_height"))
    }),

    // Per-image perceptual hashes (L158): aHash + dHash band values over
    // the synthesized 16×16 luma rasters — pins the integer block-mean /
    // threshold / band-packing math bit-for-bit (the pair gate below
    // composes it; this gate is the direct hash audit). Pure per-row
    // projection, zero shuffle.
    "phash" -> ((s, dir) => {
      // NATIVE kernel (PhashExprs), not the HOF reference shape:
      // interpreted HOF hashing costs ~10⁴ node evals per row (135 s at
      // sf0.1, measured); the kernel is one codegen'd O(pixels) pass,
      // spec-pinned ≡ the HOF shape
      val hashed = phashPixels(s, dir).select(col("doc_id"),
        graft.functions.PhashExprs
          .ahashBands(col("pixels"), w = 16, h = 16).as("__a"),
        graft.functions.PhashExprs
          .dhashBands(col("pixels"), w = 16, h = 16).as("__d"))
        .localCheckpoint(true) // hash once; the unpack reads attributes
      hashed.select(col("doc_id") +:
          (0 until 4).map(i => element_at(col("__a"), i + 1).as(s"a$i")) ++:
          (0 until 4).map(i => element_at(col("__d"), i + 1).as(s"d$i")): _*)
    }),

    // Perceptual-hash image near-dup pairs (L159): aHash banded into
    // 4×16-bit buckets, candidate pairs from the band equi-join, exact
    // in-row popcount verification at Hamming ≤ 3 — recall-1.0 by
    // pigeonhole (≤3 differing bits can't touch all 4 bands). The
    // fixture plants doc groups of 4 sharing a base image: %4∈{0,3}
    // identical (hamming 0), %4==1 two cells inverted (≤2), %4==2 ten
    // cells inverted (≫3, excluded) — every verdict shape fires at
    // every SF. Bucket cap 1000 is the hot-bucket guard, the
    // monochrome-thumbnail defense at corpus scale; the oracle applies
    // NO cap, so the gate runs failOnHotBucket=true — a bucket above
    // the cap fails the run loudly instead of silently dropping pairs
    // the oracle keeps (ADVICE r15: the no-effect claim is enforced,
    // not assumed).
    "dedup_phash" -> ((s, dir) => {
      import graft.operators.PerceptualHash
      val imgs = phashPixels(s, dir).select(col("doc_id"),
        graft.functions.PhashExprs
          .ahashBands(col("pixels"), w = 16, h = 16).as("bands"))
        .localCheckpoint(true) // hash once; the pair engine re-reads bands
      PerceptualHash.nearDupPairs(imgs, numBands = 4, maxHamming = 3,
          maxBucketSize = Some(1000), failOnHotBucket = true)
    }),

    // aHash-candidate ∧ dHash-verify conjunction (the production
    // false-positive damper for flat-luma/template images — VERDICT
    // r15 #3): candidates exactly as dedup_phash (pigeonhole recall on
    // the aHash bands), each candidate additionally vetoed unless its
    // dHash gradient signature also sits within the verify radius. One
    // extra in-row popcount on the OUTPUT-sized candidate frame, no
    // new shuffle. The fixture's 2-cell perturbations move up to 2
    // aHash bits but up to 4 dHash bits (each inverted cell disturbs
    // its own and its left neighbour's gradient), so verify radius 3
    // genuinely drops some aHash-passing pairs — the conjunction is
    // load-bearing in the gate, not a tautology.
    "dedup_phash_and" -> ((s, dir) => {
      import graft.operators.PerceptualHash
      val imgs = phashPixels(s, dir).select(col("doc_id"),
        graft.functions.PhashExprs
          .ahashBands(col("pixels"), w = 16, h = 16).as("bands"),
        graft.functions.PhashExprs
          .dhashBands(col("pixels"), w = 16, h = 16).as("vbands"))
        .localCheckpoint(true)
      PerceptualHash.nearDupPairsAnd(imgs, numBands = 4, maxHamming = 3,
          maxHammingVerify = 3, maxBucketSize = Some(1000),
          failOnHotBucket = true)
    }),

    // The keep list image dedup exists FOR (L161): phash near-dup pairs
    // → connected components (the same BSP walk every text-dedup tier
    // uses — a near-dup RELATION isn't transitive, the cluster is) →
    // canonical min-id survives per cluster, untouched images pass
    // through. Composes L159's exact banded engine with the shared
    // components machinery; the oracle replays pairs + the recursive
    // min-label walk + the NOT IN drop.
    "dedup_phash_keep" -> ((s, dir) =>
      phashKeepIds(s, dir)),

    // Corpus scrub pass: tag strip + email/URL redaction + whitespace
    // collapse, plus per-doc redaction counts. md5 of the scrubbed text
    // hash-checks the whole transformation.
    "text_scrub" -> ((s, dir) => {
      import graft.operators.TextNormalize
      val counts = TextNormalize.redactionCounts(col("text"))
        .map { case (n, c) => c.cast("long").as(n) }
      Tables.documents(s, dir)
        .select(Seq(col("doc_id"),
          md5(TextNormalize.scrub(col("text")).cast("binary")).as("scrub_md5")) ++
          counts: _*)
    }),

    // Full PII scrub (emails, URLs, IPv4, phones). The corpus carries no
    // natural PII, so a deterministic per-doc suffix (3-3-4 phone, E.164,
    // dotted quad — all derived from doc_id, identical in both engines)
    // exercises the patterns for real.
    "text_scrub_pii" -> ((s, dir) => {
      import graft.operators.TextNormalize
      val pii = concat(col("text"),
        lit(" call 555-123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" or +1415555"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(100)).cast("string"), lit(".7"))
      val counts = TextNormalize.piiCounts(pii)
        .map { case (n, c) => c.cast("long").as(n) }
      Tables.documents(s, dir)
        .select(Seq(col("doc_id"),
          md5(TextNormalize.scrubPii(pii).cast("binary")).as("scrub_md5")) ++
          counts: _*)
    }),

    // Unicode NFC canonicalization (native codegen'd expression) — the
    // corpus is ASCII, so decomposed sequences (e+U+0301, A+U+030A) are
    // appended identically in both engines to give normalization real
    // work; n_composed counts the code points composition removed.
    "text_nfc" -> ((s, dir) => {
      import graft.functions.NfcNormalize
      val t = concat(col("text"),
        lit(" cafe\u0301"), lit(" angstrom A\u030A"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(NfcNormalize.nfc(t).cast("binary")).as("nfc_md5"),
          (length(t) - length(NfcNormalize.nfc(t))).cast("long")
            .as("n_composed"))
    }),

    // Per-label embedding centroids (clustering/reporting surface):
    // elementwise means, decimal-summed for engine-stable determinism.
    "embedding_centroids" -> ((s, dir) => {
      import graft.operators.Similarity
      Similarity.centroids(Tables.embeddings(s, dir), "label", "embedding")
    }),

    // Sequence packing: documents assigned to fixed-token-budget training
    // examples — hash-bucketed parallel streams, window cumsum cut at the
    // budget (start-offset assignment).
    "pack_sequences" -> ((s, dir) => {
      import graft.operators.{Packing, TextAnalysis}
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      Packing.packByBudget(docs, "n_tokens", budget = 2048,
        keyCol = "doc_id", numBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("example_id"),
          col("n_tokens"))
    }),

    // Fixed-token-window chunking with overlap: long documents split into
    // training-length windows, each re-reading 8 tokens of context.
    "chunk_documents" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.chunkDocuments(Tables.documents(s, dir), maxTokens = 40,
        overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
          col("chunk_tokens"))
    }),

    // Deterministic stratified sampling: downsample English, keep German
    // whole, halve French, default quarter — hash-gated, so the sample is a
    // pure function of doc_id and reproducible on any engine/cluster.
    "sample_stratified" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.stratified(Tables.documents(s, dir), "lang",
        Map("en" -> 0.1, "de" -> 1.0, "fr" -> 0.5),
        keyCol = "doc_id", defaultFraction = 0.25, salt = "s1")
        .select(col("doc_id"), col("lang"))
    }),

    // Gopher heuristic battery (Rae et al. 2021): per-doc rule metrics and
    // the composite keep flag.
    "quality_gopher" -> ((s, dir) => {
      TextAnalysis.gopherRules(Tables.documents(s, dir))
    }),

    // Per-source quota cap (CommonCrawl-style per-domain cap): at most 10
    // docs per source, hash-chosen; the skew-safe two-phase funnel is on
    // (subPartitions=4) and must equal the plain per-group window.
    "sample_group_cap" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.groupCap(Tables.documents(s, dir), "source",
        maxPerGroup = 10, keyCol = "doc_id", salt = "gc", subPartitions = 4)
        .select(col("doc_id"), col("source"))
    }),

    // Deterministic train/val/test assignment by cumulative hash ranges —
    // the same doc lands in the same split in every reprocessing run
    // (leak-free eval sets).
    "sample_split" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.splitAssign(Tables.documents(s, dir),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        keyCol = "doc_id", salt = "sp")
        .select(col("doc_id"), col("split"))
    }),

    // SQ reconstruction-error report (L151): per vector the nano-cosine
    // between the original and its int8 decode(encode(.)) round trip —
    // the QA the quantized ANN tier owes before codes replace floats.
    "embedding_sq_error" -> ((s, dir) => {
      import graft.operators.ScalarQuant
      ScalarQuant.reconstructionReport(Tables.embeddings(s, dir))
    }),

    // Embedding-space hard negatives (L150): per query vector the top-5
    // cosine neighbors of a DIFFERENT label, filter before the cut —
    // the dense twin of the BM25 hard-negative miner.
    "embedding_hard_negatives" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.embeddingHardNegatives(e,
          e.filter(col("vec_id") < 10), k = 5)
    }),

    // Contrastive independent crops (L149): two deterministic 12-token
    // crops per doc + their overlap — the Contriever/SimCSE positive
    // pair prep, a pure projection.
    "contrastive_crops" -> ((s, dir) => {
      import graft.operators.SpanCorruption
      SpanCorruption.contrastiveCrops(Tables.documents(s, dir))
    }),

    // Per-domain quality prior + blend (L148): the REAL ensemble rank
    // feeds a lang-keyed floor-mean prior, blended 1:1 with the doc's
    // own score — a mediocre doc on a good domain survives.
    "quality_domain_blend" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val docs = Tables.documents(s, dir)
      val ens = CorpusStats.ensembleRank(docs, "doc_id", Seq(
          ("n_tok", TextAnalysis.tokenCount(col("text")).cast("long")),
          ("n_distinct",
            size(array_distinct(TextAnalysis.tokens(col("text"))))
              .cast("long")),
          ("n_chars", length(col("text")).cast("long"))))
        .select(col("doc_id"), col("ensemble_micro"))
      val withDomain = ens
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.operators.QualityModel
        .domainPriorBlend(withDomain, "lang", "ensemble_micro")
        .select(col("doc_id"), col("lang"), col("ensemble_micro"),
          col("domain_prior_micro"), col("blend_micro"))
    }),

    // Size-balanced sharding (L147): sorted round-robin by token count
    // (size desc, md5 draw, id) dealt mod 8 — the token-spread-bounded
    // alternative to hash sharding; two-phase (size, draw-prefix) rank
    // vs the oracle's single window, so parity proves the cut exact.
    "shard_balanced" -> ((s, dir) => {
      import graft.operators.Packing
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.shardBalancedBySize(d, numShards = 8, sizeCol = "n_tokens",
          keyCol = "doc_id", salt = "bal")
    }),

    // The balance rollup of L147: per-shard doc/token totals + the
    // global max-min spread as a micro ratio.
    "shard_balance_report" -> ((s, dir) => {
      import graft.operators.Packing
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.shardBalanceReport(
          Packing.shardBalancedBySize(d, numShards = 8,
            sizeCol = "n_tokens", keyCol = "doc_id", salt = "bal"),
          "n_tokens")
    }),

    // Vocabulary-growth / Heaps-curve report (L145): per 50-doc ingest
    // batch, token volume and NEW types (first-bucket attribution) with
    // both cumulative curves — the vocabulary-saturation health check.
    "vocab_growth" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val batched = Tables.documents(s, dir)
        .select(expr("doc_id div 50").as("batch"), col("text"))
      CorpusStats.vocabGrowth(batched, "batch")
    }),

    // SFT-pair heuristic curation (L144): the Alpaca-cleaning rule
    // battery (length floor, instruction/response ratio band, refusal
    // phrases, echo detection) over adjacent-doc (instruction, response)
    // pairs, composed through the REAL provenance filter; short-response
    // and refusal corruptions injected so every rule fires.
    "sft_curation" -> ((s, dir) => {
      import graft.operators.Curation
      val d = Tables.documents(s, dir)
      val instr = d.filter(col("doc_id") % 2 === 0)
        .select(expr("doc_id div 2").as("pair_id"),
          col("text").as("instruction"))
      val resp0 = d.filter(col("doc_id") % 2 === 1)
        .select(expr("doc_id div 2").as("pair_id"), col("text").as("__r0"))
      val pairs = instr.join(resp0, Seq("pair_id"))
        .withColumn("response",
          when(col("pair_id") % 17 === 0, concat_ws(" ",
            slice(TextAnalysis.tokens(col("__r0")), 1, 2)))
          .when(col("pair_id") % 13 === 0,
            concat(lit("i cannot help with that "), col("__r0")))
          .otherwise(col("__r0")))
        .withColumn("itok",
          TextAnalysis.tokenCount(col("instruction")).cast("long"))
        .withColumn("rtok",
          TextAnalysis.tokenCount(col("response")).cast("long"))
        .drop("__r0")
      Curation.filterWithProvenance(pairs, sftRules)
        .select(col("pair_id"), col("itok"), col("rtok"), col("keep"),
          col("n_fails"), col("fail_reasons"), col("first_fail"))
    }),

    // KV-cache prefix-sharing report (L143): template-rendered prompts
    // (three 5-token templates on even docs, raw text on odd) grouped by
    // their first 4 tokens — the prefill-savings planning table.
    "prefix_cache_report" -> ((s, dir) => {
      import graft.operators.SftPrep
      val tpl = when(col("doc_id") % 2 =!= 0, lit(""))
        .when(expr("(doc_id div 2) % 3") === 0,
          lit("summarize the following article text : "))
        .when(expr("(doc_id div 2) % 3") === 1,
          lit("translate this text into french now : "))
        .otherwise(lit("answer the question below very briefly : "))
      val prompts = Tables.documents(s, dir)
        .select(concat(tpl, col("text")).as("text"))
      SftPrep.prefixCacheReport(prompts, prefixTokens = 4)
    }),

    // Mergeable-sketch group similarity matrix (L142): per 100-doc
    // source group, one minwise signature (elementwise min — mergeable);
    // pairwise overlap estimates from signature agreement, the corpus
    // never pairs.
    "dedup_sketch_matrix" -> ((s, dir) => {
      val grouped = Tables.documents(s, dir).select(
        concat(lit("s"), expr("doc_id div 100").cast("string")).as("grp"),
        col("text"))
      Dedup.minhashMatrix(grouped, "grp")
    }),

    // PMI collocations (L141): top-30 bigrams by count with the
    // phrase-mining PMI signal as a sum of micro-quantized log terms.
    "collocations" -> ((s, dir) => {
      TextAnalysis.collocations(Tables.documents(s, dir),
          topK = 30, minCount = 5)
    }),

    // Consistent pseudonymization (L140): injected emails (shared across
    // docs via doc_id % 50 / % 7) map to stable md5-derived tokens —
    // same entity, same token, corpus-wide, zero shuffle.
    "text_pseudonymize" -> ((s, dir) => {
      import graft.operators.TextNormalize
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          (col("doc_id") % 50).cast("string"),
          lit("@mail.com or admin@site"),
          (col("doc_id") % 7).cast("string"), lit(".org now")).as("text"))
      withPii.select(col("doc_id"),
          TextNormalize.pseudonymize(col("text")).as("text"),
          regexp_count(col("text"), lit(TextNormalize.EmailPattern))
            .cast("long").as("n_entities"))
    }),

    // TextTiling-shaped topic segmentation (L139): integer
    // histogram-intersection gap scores between adjacent 8-token blocks,
    // windowed valley depths, mean-depth boundary cutoff.
    "topic_gap_scores" -> ((s, dir) => {
      import graft.operators.TopicTiling
      // r16: fanOut — the block tokenize/explode fused into the one-split
      // documents scan (paired A/B win, see OPTIMIZATION_r16.md)
      TopicTiling.gapScores(Tables.fanOut(s, Tables.documents(s, dir),
          dir, "documents", col("doc_id")))
    }),

    // The consumer view of L139: every token block labeled with its
    // topic segment (cumulative boundary count per doc).
    "topic_segments" -> ((s, dir) => {
      import graft.operators.TopicTiling
      // r16: fanOut — same serial block-explode motivation as
      // topic_gap_scores (segments re-runs gapScores plus the block walk)
      TopicTiling.segments(Tables.fanOut(s, Tables.documents(s, dir),
          dir, "documents", col("doc_id")))
    }),

    // Vocabulary coverage / OOV report (L138): per language, type and
    // occurrence coverage of the top-50 corpus vocabulary (the REAL
    // vocabulary operator feeds the REAL coverage operator) plus the
    // heaviest uncovered token — the closed-vocab sizing table.
    "tokenizer_oov" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.vocabCoverage(docs,
          TextAnalysis.vocabulary(docs, topK = 50))
    }),

    // MinHash estimator calibration (L137): the reliability table the
    // LSH dedup tier owes before its threshold gates a corpus — per
    // signature-agreement level, the integer-micro gap between the
    // MinHash estimate and the mean exact Jaccard of the candidate pairs
    // that landed there.
    "dedup_minhash_calibration" -> ((s, dir) => {
      Dedup.minhashCalibration(Tables.documents(s, dir))
    }),

    // URL-parallel bitext alignment (L136): the ParaCrawl baseline —
    // pages whose URLs differ only by a language marker (host label /
    // path segment / lang query param, all three kinds synthesized) are
    // translation candidates; kinds 1 and 2 strip to the SAME site key,
    // so cross-kind pairing is exercised.
    "bitext_url_pairs" -> ((s, dir) => {
      import graft.operators.UrlOps
      val gid = expr("doc_id div 10").cast("string")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("https://"), col("lang"), lit(".site"), gid,
            lit(".example.com/art/"), gid))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://www.site"), gid, lit(".example.com/"),
            col("lang"), lit("/art/"), gid))
        .otherwise(concat(lit("https://www.site"), gid,
          lit(".example.com/art/"), gid, lit("?lang="), col("lang")))
      UrlOps.parallelUrlPairs(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
          "url", "doc_id", langs = Seq("en", "de", "fr", "es", "zh"),
          maxPerKey = 16)
    }),

    // Conversation-tree flattening (L135): ShareGPT-style branching turns
    // (a binary-heap forest derived from doc_id, 16-turn blocks, depth <= 5)
    // -> ONE linear conversation per root-to-leaf path, by pointer doubling
    // (3 node-keyed self-joins for maxDepth=8, never a driver walk); turn
    // text rides ONE render join at the end, not the doubling.
    "sft_tree_paths" -> ((s, dir) => {
      import graft.operators.ConvTree
      val turns = Tables.documents(s, dir).select(
        col("doc_id").as("node_id"),
        when(col("doc_id") % 16 === 0, lit(null).cast("long"))
          .otherwise(expr("(doc_id div 16) * 16") +
            expr("((doc_id % 16) - 1) div 2")).as("parent_id"),
        substring(col("text"), 1, 12).as("text"))
      ConvTree.leafConversations(turns, maxDepth = 8)
    }),

    // Weighted sampling WITHOUT replacement (L134, Efraimidis & Spirakis
    // 2006): exactly 100 docs, token-count-weighted — the quality-biased
    // exact-k subsample per-row Bernoulli can't hit. The E-S key
    // u^(1/w) is realized as an integer micro-nat division
    // (round(ln(u)·1e6) div w — both engines truncate toward zero), so
    // the kept set is engine-exact; the Spark side runs the bucketed
    // two-phase top-k funnel, so parity also proves the funnel exact.
    "sample_weighted" -> ((s, dir) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
        .withColumn("w", TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.weightedSample(docs, k = 100, weightCol = "w",
        keyCol = "doc_id", salt = "es", buckets = 64)
        .select(col("rank"), col("doc_id"), col("w"), col("es_micro"))
    }),

    // Benchmark decontamination: training docs sharing any 3-gram with the
    // held-out "benchmark" slice (doc_id % 97 == 0 — an in-table derivation
    // both engines compute identically).
    "decontaminate" -> ((s, dir) => {
      import graft.operators.Decontaminate
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      Decontaminate.overlap(train, bench, k = 3)
    }),

    // Fuzzy decontamination: MinHash-LSH candidates across train × bench,
    // each verified with its exact shingle-set Jaccard — catches
    // paraphrased leaks the exact k-gram count under-reports.
    "decontaminate_fuzzy" -> ((s, dir) => {
      import graft.operators.Decontaminate
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 5 === 3)
      val train = docs.filter(col("doc_id") % 5 =!= 3)
      Decontaminate.fuzzyOverlap(train, bench, threshold = 0.5)
    }),

    // Reverse decontamination report: per benchmark item, how much of the
    // training corpus collides with it (zero-hit items included — clean is
    // a result).
    "decontaminate_report" -> ((s, dir) => {
      import graft.operators.Decontaminate
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      Decontaminate.evalReport(train, bench, k = 3)
    }),

    // Corpus-level duplicated-line removal (CCNet pass). The corpus has no
    // newlines, so a multi-line view is derived by turning ' table ' into
    // line breaks — a literal left-to-right replace both engines agree on.
    "line_dedup" -> ((s, dir) => {
      import graft.operators.TextNormalize
      val lined = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("replace(text, ' table ', '\n')").as("text"))
      TextNormalize.dedupLines(lined, maxDocFrequency = 5)
    }),

    // Hashed-feature linear quality score (fasttext-shaped scoring pass).
    "quality_classifier" -> ((s, dir) => {
      TextAnalysis.classifierScores(Tables.documents(s, dir), buckets = 4096)
    }),

    // Corpus vocabulary: top-50 tokens by term frequency with document
    // frequency, token-ascending tiebreak.
    "vocab_topk" -> ((s, dir) => {
      TextAnalysis.vocabulary(Tables.documents(s, dir), topK = 50)
    }),

    // Per-language top-5 tokens (group-wise heavy hitters).
    "vocab_per_lang" -> ((s, dir) => {
      TextAnalysis.vocabularyPerGroup(Tables.documents(s, dir), "lang",
        topK = 5)
    }),

    // Multi-signal quality ensemble (L133): blended exact-percentile
    // rank over three integer signals (tokens, distinct tokens, chars) —
    // the FineWeb-style blend when no single signal is trusted;
    // all-integer, value-histogram percentiles, corpus never self-joins.
    "quality_ensemble" -> ((s, dir) => {
      import graft.operators.CorpusStats
      CorpusStats.ensembleRank(Tables.documents(s, dir), "doc_id", Seq(
        ("n_tok", TextAnalysis.tokenCount(col("text")).cast("long")),
        ("n_distinct",
          size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long")),
        ("n_chars", length(col("text")).cast("long"))))
    }),

    // Corpus-level top-30 repeated 5-grams (L129): the boilerplate-mining
    // report — two-phase bucketed heavy-hitter cut, doc frequency joined
    // for the winners only.
    "corpus_top_ngrams" -> ((s, dir) => {
      TextAnalysis.topNgrams(Tables.documents(s, dir), n = 5, topK = 30)
    }),

    // Per-language corpus report: doc count, token volume, source
    // diversity, exact median document length.
    "corpus_stats" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      CorpusStats.stats(docs, "lang", "n_tokens", "source")
    }),

    // Per-language length-band outlier filter: keep docs inside their own
    // language's [10%, 90%] token-count percentile band.
    "length_band_filter" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      CorpusStats.lengthBandFilter(docs, "lang", "n_tokens",
        loQ = 0.1, hiQ = 0.9)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // Weighted training mix under per-language token budgets: hash-ordered
    // prefix per stratum, hard budget caps, absent strata dropped.
    "corpus_mix" -> ((s, dir) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.tokenBudgetMix(docs, "lang",
        Map("en" -> 2000L, "de" -> 1000L, "fr" -> 800L),
        tokenCountCol = "n_tokens", keyCol = "doc_id", salt = "m1")
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // Temperature-flattened multilingual mix (alpha = 0.5, token-weighted):
    // the smallest language is kept whole, larger ones hash-downsample
    // toward sqrt-share proportions.
    "sample_temperature" -> ((s, dir) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.temperatureMix(docs, "lang", alpha = 0.5, keyCol = "doc_id",
        weightCol = Some("n_tokens"), salt = "tm")
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // Deterministic global shuffle -> round-robin shard assignment; the
    // two-phase (bucketed) global-position cut is on and must equal the
    // single-window order.
    "shard_assign" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.shardAssign(Tables.documents(s, dir), numShards = 4,
        keyCol = "doc_id", salt = "sh")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
    }),

    // Scalar int8 quantization: per-dimension min-max codes, flattened to
    // (vec_id, pos, code) for the compare.
    "embedding_quantize" -> ((s, dir) => {
      import graft.operators.ScalarQuant
      ScalarQuant.quantize(Tables.embeddings(s, dir))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("pos", "code")))
    }),

    // Unicode-script profile over a mixed-script view (the ASCII corpus is
    // augmented with Cyrillic/Han/Arabic digit transliterations of doc_id —
    // an in-table derivation both engines compute identically).
    "text_script" -> ((s, dir) => {
      val aug = concat_ws(" ", col("text"),
        translate(col("doc_id").cast("string"), "0123456789", "абвгдежзий"),
        translate(col("doc_id").cast("string"), "0123456789", "零一二三四五六七八九"),
        translate(col("doc_id").cast("string"), "0123456789", "ابتثجحخدذر"))
      val withAug = Tables.documents(s, dir)
        .select(col("doc_id"), aug.as("__aug"))
      val cols = TextAnalysis.scriptColumns(col("__aug"))
        .map { case (n, c) => c.as(n) }
      withAug.select(col("doc_id") +: cols: _*)
    }),

    // Per-document TF-IDF keywords: top-5 distinguishing terms, micro-nat
    // quantized idf, exact integer scores.
    "tfidf_keywords" -> ((s, dir) => {
      Retrieval.tfidfKeywords(Tables.documents(s, dir), k = 5)
    }),

    // Containment near-dup pairs: |A∩B| / min(|A|,|B|) — the subset-pair
    // detector Jaccard under-scores. Same postings machinery, DF guard on.
    "dedup_containment" -> ((s, dir) => {
      Dedup.containmentPairs(Tables.documents(s, dir),
        threshold = 0.6, maxShingleDf = Some(1000))
    }),

    // Same pair set through the ASYMMETRIC prefix engine (small-side
    // prefix probes the full ranked index — the sound PPJoin arrangement
    // for overlap joins, where a tiny doc embedded whole in a huge one
    // can miss the huge side's prefix). Exact at every threshold, no DF
    // cap; shares dedup_containment's oracle.
    "dedup_containment_prefix" -> ((s, dir) => {
      Dedup.containmentPairsPrefix(Tables.documents(s, dir),
        threshold = 0.6)
    }),

    // Character-entropy quality signal: micro-nat quantized contributions,
    // exact integer per-doc sums.
    "text_entropy" -> ((s, dir) => {
      TextAnalysis.charEntropy(Tables.documents(s, dir))
    }),

    // Mojibake repair over a corpus corrupted with the EXACT bug the table
    // inverts (every doc gets a mis-decoded suffix; both engines append the
    // same corrupted literal and must reproduce the same repaired text).
    "text_fix_mojibake" -> ((s, dir) => {
      import graft.operators.TextNormalize
      val corrupted = TextNormalize.asMojibake(MojibakePhrase)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextNormalize.fixMojibake(concat(col("text"), lit(corrupted)))
            .as("fixed"))
    }),

    // URL canonicalization + domain extraction over synthesized URLs
    // (scheme/port/query/fragment variation derived from doc_id — an
    // in-table derivation both engines compute identically).
    // URL blocklist / category filter (L115, round 13): the UT1-shaped
    // first filter of web curation — ordered (category, kind, pattern)
    // rules over domain / host-suffix / path-keyword, first match wins;
    // a pure in-row coalesce of when-chains, zero shuffle. The synthesis
    // exercises all three kinds and the priority order (doc 21 hits both
    // the gambling domain and the promo path — domain rule is first).
    "url_category_filter" -> ((s, dir) => {
      import graft.operators.UrlOps
      val url = concat(
        when(col("doc_id") % 2 === 0, "https").otherwise(lit("http")),
        lit("://"),
        when(col("doc_id") % 7 === 0, lit("bad-casino.com"))
          .otherwise(concat(lit("www."), col("source"), lit(".example.com"))),
        lit("/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, "/promo").otherwise(lit("")))
      UrlOps.categorize(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
          "url", UrlBlockRules)
        .select(col("doc_id"), col("host"), col("domain"),
          col("category"), col("blocked"))
    }),

    // the BROADCAST-JOIN twin of url_category_filter (round 14): the
    // same ordered rules as a broadcast table (the production shape — a
    // UT1-sized blocklist can't compile to a when-chain), host suffixes
    // exploded to make "endsWith" an equi-join, min-rule_pos aggregation
    // for first-match-wins. Shares the literal-fold gate's oracle: two
    // plans, one pinned answer.
    "url_category_broadcast" -> ((s, dir) => {
      import graft.operators.UrlOps
      val url = concat(
        when(col("doc_id") % 2 === 0, "https").otherwise(lit("http")),
        lit("://"),
        when(col("doc_id") % 7 === 0, lit("bad-casino.com"))
          .otherwise(concat(lit("www."), col("source"), lit(".example.com"))),
        lit("/p/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, "/promo").otherwise(lit(""))).as("url")
      import s.implicits._
      val rules = UrlBlockRules.zipWithIndex
        .map { case ((c, k, p), i) => (c, k, p, i.toLong) }
        .toDF("category", "kind", "pattern", "rule_pos")
      // r16: fanOut — URL build + host/domain extraction + three
      // broadcast rule legs fused into the one-split scan (StageProfile:
      // one 0.64 s task); spread the scan first. Part 3: PROJECT BEFORE
      // THE EXCHANGE (guide §2.3) — the fan-out shuffle carried the full
      // document text for a gate that reads only (doc_id, source):
      // the per-stage profile showed the exchange's one-task map side at 0.70 s,
      // mostly serializing text bytes the select then dropped
      UrlOps.categorizeBroadcast(
          Tables.fanOut(s, Tables.documents(s, dir)
            .select(col("doc_id"), url), dir, "documents",
            col("doc_id")), "url",
          "doc_id", rules)
        .select(col("doc_id"), col("host"), col("domain"),
          col("category"), col("blocked"))
    }),

    "url_normalize" -> ((s, dir) => {
      import graft.operators.UrlOps
      val url = concat(
        when(col("doc_id") % 2 === 0, "HTTPS").otherwise(lit("HTTP")),
        lit("://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, ":443")
          .when(col("doc_id") % 3 === 1, ":8080").otherwise(lit("")),
        lit("/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, "?utm_source=x&b=2&a=1&fbclid=zz")
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, "#frag").otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), url.as("__u"))
        .select(col("doc_id"),
          UrlOps.canonicalize(col("__u")).as("url"),
          UrlOps.host(col("__u")).as("host"),
          UrlOps.registeredDomain(UrlOps.host(col("__u"))).as("domain"))
    }),

    // Per-domain boilerplate scrub (RefinedWeb/C4 site-template rule):
    // lines in more than 4% of a domain's docs are that domain's template
    // and are stripped from that domain only. Same derived multi-line view
    // as line_dedup. At sf0.01 the threshold catches a small hot set
    // (domain DF 2 of 25); the rule is share-based so a corpus 10× larger
    // needs proportionally more repeats to fire — scale-correct semantics,
    // exercised where the gate runs.
    "boilerplate_scrub" -> ((s, dir) => {
      import graft.operators.TextNormalize
      val lined = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr("replace(text, ' table ', '\n')").as("text"))
      TextNormalize.scrubBoilerplate(lined, maxDocShare = 0.04,
        minDomainDocs = 5)
    }),

    // CCNet head/middle/tail: per-language perplexity terciles under the
    // corpus's own bigram model — threshold join, no per-language sort.
    "ccnet_buckets" -> ((s, dir) => {
      import graft.operators.LanguageModel
      val docs = Tables.documents(s, dir)
      LanguageModel.perplexityBuckets(docs, LanguageModel.ngramCounts(docs))
    }),

    // the KEEP rule those buckets exist for (round 14): CCNet retains
    // head+middle and drops the tail tercile — the composition a real
    // curation pass executes, as its own gated artifact
    "ccnet_filter" -> ((s, dir) => {
      import graft.operators.LanguageModel
      val docs = Tables.documents(s, dir)
      LanguageModel.perplexityBuckets(docs, LanguageModel.ngramCounts(docs))
        .filter(col("bucket").isin("head", "middle"))
    }),

    // Segmentation → vocabulary ids (the learn → segment → ids → pack
    // chain's id step): greedy pieces mapped through a broadcast id map
    // in-row — zero shuffle; UNK pieces (not in vocab) map to 0. Ids are
    // 1-based fixture positions, space-joined into one comparable string.
    "tokenize_to_ids" -> ((s, dir) => {
      val idMap = map(SubwordVocab.zipWithIndex.flatMap { case (v, i) =>
        Seq(lit(v), lit(i + 1)) }: _*)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.SubwordTokenCount
            .subwordTokens(col("text"), SubwordVocab).as("__p"))
        .select(col("doc_id"),
          concat_ws(" ", transform(col("__p"),
            p => coalesce(element_at(idMap, p), lit(0)).cast("string")))
            .as("token_ids"),
          size(col("__p")).cast("long").as("n_ids"))
    }),

    // TRAINED quality classifier: 8 full-batch GD steps of logistic
    // regression (8 md5-hash buckets + bias, rational fast-sigmoid link,
    // integer-quantized margins/gradients) on an in-table label (≥2
    // occurrences of 'spark'; base rate 0.47 at sf0.01), then the corpus
    // scored under the learned weights — non-degenerate predictions above
    // majority-class accuracy (0.64 vs 0.53; lr 4.0 is just under this
    // fixture's divergence knee, ≥5 oscillates to all-positive). The
    // oracle re-derives the whole trajectory as unrolled CTE layers from
    // the same constants.
    "quality_lr" -> ((s, dir) => qualityScored(s, dir)),

    // Calibration / reliability report (L124) over the SAME trained
    // classifier: per probability CENTILE (the fast sigmoid compresses
    // this fixture into [0.51, 0.56], so deciles would collapse to one
    // row) — size, mean predicted
    // probability, empirical positive rate, |gap|, all integer micro
    // units (ECE·10⁶ = Σ n·gap/N over the rows). The oracle re-derives
    // the full GD trajectory and rolls the scored frame up.
    "classifier_calibration" -> ((s, dir) => {
      graft.operators.QualityModel
        .calibrationReport(qualityScored(s, dir), bins = 100)
    }),

    // Proportional-interleave epoch order: per-language reproducible
    // permutation, order_key = (rank + 0.5) / n_lang — every prefix of
    // the global order carries each language in proportion. Two-phase
    // rank (strata × 256 tasks); oracle is the single-window-per-stratum
    // formulation, so parity doubles as two-phase-exactness evidence.
    "epoch_interleave" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.epochInterleave(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        strataCol = "lang", keyCol = "doc_id", salt = "ep")
    }),

    // Multi-epoch schedule (L90): per-stratum epoch counts with a
    // fractional last epoch — the Llama-style repeat plan; each
    // (stratum, epoch) gets its own proportional interleave permutation.
    "epoch_schedule" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.epochSchedule(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        strataCol = "lang", epochs = EpochWeights, keyCol = "doc_id",
        salt = "es")
    }),

    // UniMax budget-constrained epoch allocation (L125, Chung et al.
    // 2023): per-language token counts, budget = 3/4 of the corpus,
    // epoch cap 1 — smallest-first integer allocation; with this
    // fixture's language mix the two smallest saturate at the cap and
    // the rest split the remainder (BOTH min() arms fire at every SF).
    // Pure integer table;
    // the oracle replays the sequential scan as a recursive CTE.
    "epoch_allocation" -> ((s, dir) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      val total = docs.agg(sum(col("n_tok"))).head().getLong(0)
      Sampling.epochAllocation(docs, "lang", "n_tok",
          totalBudget = total * 3 / 4, maxEpochs = 1)
    }),

    // Snapshot delta between two corpus versions (recrawl step) — old/new
    // derived from the one table by in-table rules both engines compute:
    // doc_id%7==3 absent from old (-> added), %11==5 absent from new
    // (-> removed), %5==0 rewritten in new (-> changed).
    "corpus_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 3)
      val newSnap = d.filter(col("doc_id") % 11 =!= 5)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.sources.CorpusIO.snapshotDiff(oldSnap, newSnap)
    }),

    // Leakage-safe split: the split draw keys on the DOMAIN, so every doc
    // of a domain lands in one split and near-dups within a site can never
    // straddle train/val — the group-aware variant of sample_split.
    "split_by_group" -> ((s, dir) => {
      import graft.operators.Sampling
      Sampling.splitAssign(Tables.documents(s, dir),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        keyCol = "source", salt = "gs")
        .select(col("doc_id"), col("source"), col("split"))
    }),

    // Cluster-aware leakage-safe split (L152): near-dup CLUSTERS (the
    // dedup_components pair graph) are the split unit — keying the
    // split draw on the doc misses near-dups straddling train/val, and
    // keying on the domain misses cross-site mirrors; the cluster key
    // (component label, singletons their own id) is the unit that
    // actually carries the leak. Composes the REAL components walk with
    // the REAL split assigner.
    "split_by_cluster" -> ((s, dir) => {
      import graft.operators.Sampling
      val docs = Tables.documents(s, dir)
      val jp = Dedup.jaccardPairs(docs, threshold = 0.3,
        maxShingleDf = Some(1000))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = docs
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      val comps = Dedup.connectedComponents(jp.unionByName(ep))
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"))
      val keyed = docs.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      Sampling.splitAssign(keyed,
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
          keyCol = "cluster", salt = "cs")
        .select(col("doc_id"), col("cluster"), col("split"))
    }),

    // ——— THE COMPOSED CURATION PIPELINE: the chain a real corpus pass
    // executes, as ONE oracle-gated artifact. Every stage is a first-class
    // operator that also carries its own individual gate; this gate proves
    // they compose — each stage consumes the previous stage's actual
    // output, and one DuckDB oracle replays the whole chain:
    //   URL canonicalize (domain) → mojibake repair (a 1-in-13 slice ships
    //   the corrupted suffix, so the repair does real work and its output
    //   feeds everything downstream) → language id (computed over the
    //   repaired text and hash-checked per row; on this corpus it
    //   collapses to 'en' for every quality survivor, so the DECLARED
    //   lang drives the mix strata — langid as verification signal, the
    //   realistic arrangement when the two agree) → Gopher quality
    //   filter → benchmark holdout (doc_id % 97 == 0 never trains) →
    //   exact-dup + n-gram-Jaccard detectors → connected components →
    //   keep-BEST (longest member survives) → decontamination vs the
    //   holdout (3-gram contamination ≥ 0.2 dropped — at 3-gram length
    //   every doc shares SOME common phrases with a benchmark this size,
    //   so the leak rule is "a fifth of the doc's shingles": 0 drops at
    //   sf0.01, 10 at sf0.1, and the anti-join is parity-gated at both
    //   scales) → temperature mix
    //   (α = 0.5, token-weighted over lang) → train/val/test split →
    //   sequence packing → shard assignment → epoch interleave
    //   (the last three over the train split only; -1 marks non-train).
    // Output: one row per mixed document with its full curation metadata,
    // text_md5 hash-checking the entire text-transformation prefix.
    "corpus_pipeline" -> ((s, dir) => {
      import graft.operators.{Decontaminate, Packing, Sampling, TextNormalize, UrlOps}
      val raw = Tables.fanOut(s, Tables.documents(s, dir), dir,
        "documents", col("doc_id"))
      val url = concat(
        when(col("doc_id") % 2 === 0, "HTTPS").otherwise(lit("HTTP")),
        lit("://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, ":443")
          .when(col("doc_id") % 3 === 1, ":8080").otherwise(lit("")),
        lit("/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, "?utm_source=x&b=2&a=1&fbclid=zz")
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, "#frag").otherwise(lit("")))
      // stages 1+2: registered domain off the canonicalized URL; mojibake
      // repair over the slice that ships mis-decoded bytes. Checkpointed:
      // langid, the Gopher battery, both dedup detectors and the
      // decontamination leg all re-read this frame. MEASURED (probe,
      // round 12): replacing this and/or `pool` with a lazy cache() is
      // SLOWER (4.8 → 5.4-6.0 s) — the first consuming job's independent
      // branches race to fill the cache and recompute the repair per
      // branch, costing more than the eager job's scheduling round-trip.
      val fixed = raw
        .select(col("doc_id"), col("lang"), url.as("__u"),
          when(col("doc_id") % 13 === 7,
            concat(col("text"), lit(TextNormalize.asMojibake(MojibakePhrase))))
            .otherwise(col("text")).as("__t"))
        .select(col("doc_id"), col("lang"),
          UrlOps.registeredDomain(UrlOps.host(col("__u"))).as("domain"),
          TextNormalize.fixMojibake(col("__t")).as("text"))
        .localCheckpoint(true)
      // stage 3: language id over the REPAIRED text (bound token column —
      // HOF lambdas don't CSE)
      val langed = fixed
        .withColumn("__lt", TextAnalysis.tokens(lower(col("text"))))
        .withColumn("plang", TextAnalysis.predictedLangFromTokens(col("__lt")))
        .select(col("doc_id"), col("lang"), col("domain"), col("text"),
          col("plang"))
      // stage 4: Gopher battery; stage 5: the eval slice never trains.
      // The battery is a pure per-row predicate over the SAME checkpointed
      // text, so it rides the langid projection instead of a doc_id
      // equi-join (doc_id is unique, so semi-join ≡ row-local filter —
      // the oracle keeps its join formulation and parity pins the
      // equivalence). One scan and one exchange fewer per pipeline run.
      val gopherKeep = TextAnalysis.gopherColumns(col("text"))
        .toMap.apply("gopher_keep")
      val pool = langed
        .filter(gopherKeep)
        .filter(col("doc_id") % 97 =!= 0)
        .localCheckpoint(true)
      val bench = fixed.filter(col("doc_id") % 97 === 0)
      // stage 6: detectors → components → keep-best (longest member wins).
      // The pool's hashed 3-gram postings are shingled ONCE (an eager
      // checkpoint) and shared by reference by the Jaccard detector here
      // and the decontamination leg below — the two legs otherwise
      // re-tokenize the same checkpointed text.
      val poolGrams = Dedup.cacheHashedPostings(pool, k = 3)
      // PREFIX-FILTERED engine (L75), not the capped posting join: the
      // composed oracle's jp CTE is the EXACT jaccard, which the DF-capped
      // formulation only matches while no gram's document frequency crosses
      // the cap — true at the tested SFs, not a property of the operator.
      // The prefix path is exact at EVERY scale (stop-shingles sort to the
      // suffix and fall out of candidate generation instead of being
      // dropped), so pipeline parity stops depending on corpus statistics.
      val jp = Dedup.jaccardPairsPrefix(pool, threshold = 0.3,
        grams = Some(poolGrams))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val ep = pool
        .select(col("doc_id"), min(col("doc_id")).over(w).as("a"))
        .filter(col("a") =!= col("doc_id"))
        .select(col("a"), col("doc_id").as("b"))
      val comps = Dedup.connectedComponents(jp.unionByName(ep))
      val kept = Dedup.applyKeepListBest(pool, comps,
        TextAnalysis.tokenCount(col("text")).cast("long"))
      // stage 7: decontaminate the survivors against the holdout — the
      // survivors' grams are the shared pool postings semi-joined to the
      // kept ids (text is unchanged through dedup, so the subset is exact)
      val cont = Decontaminate.overlap(kept, bench, k = 3,
        docGrams = Some(poolGrams.join(kept.select(col("doc_id")),
          Seq("doc_id"), "left_semi")))
        .filter(col("contamination") >= 0.2).select(col("doc_id"))
      val clean = kept.join(cont, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      // stage 8: temperature-flattened mix over the declared language
      val mixed = Sampling.temperatureMix(clean, "lang", alpha = 0.5,
        keyCol = "doc_id", weightCol = Some("n_tokens"), salt = "cptm")
      // stage 9: leak-free split assignment
      val split = Sampling.splitAssign(mixed,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        keyCol = "doc_id", salt = "cpsp")
        .localCheckpoint(true)
      // stages 10-12 over the train split
      val train = split.filter(col("split") === "train")
        .select(col("doc_id"), col("lang"), col("n_tokens"))
      val packed = Packing.packByBudget(train, "n_tokens", budget = 2048,
        keyCol = "doc_id", numBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("example_id"))
      val sharded = Packing.shardAssign(train.select(col("doc_id")),
        numShards = 4, keyCol = "doc_id", salt = "cpsh")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
      val epoch = Packing.epochInterleave(
        train.select(col("doc_id"), col("lang")),
        strataCol = "lang", keyCol = "doc_id", salt = "cpep")
        .select(col("doc_id"), col("epoch_rank"), col("order_key"))
      split
        .select(col("doc_id"), col("domain"), col("lang"), col("plang"),
          col("n_tokens"),
          md5(col("text").cast("binary")).as("text_md5"), col("split"))
        .join(packed, Seq("doc_id"), "left")
        .join(sharded, Seq("doc_id"), "left")
        .join(epoch, Seq("doc_id"), "left")
        .select(col("doc_id"), col("domain"), col("lang"), col("plang"),
          col("n_tokens"), col("text_md5"), col("split"),
          coalesce(col("bucket").cast("long"), lit(-1L)).as("pack_bucket"),
          coalesce(col("example_id"), lit(-1L)).as("example_id"),
          coalesce(col("shard").cast("long"), lit(-1L)).as("shard"),
          coalesce(col("pos_in_shard"), lit(-1L)).as("pos_in_shard"),
          coalesce(col("epoch_rank"), lit(-1L)).as("epoch_rank"),
          coalesce(col("order_key"), lit(-1.0)).as("order_key"))
    }),

    // FineWeb-shaped web-curation lead (L160): a real crawl run LEADS
    // with the URL blocklist before any content model touches bytes —
    // this gate composes the BROADCAST-JOIN blocklist (L154, the
    // production-sized arrangement) with language id and the Gopher
    // battery over the survivors: blocklist → drop blocked → langid →
    // gopher keep. Output one row per surviving document with its URL
    // verdict columns, predicted language, token count, and text md5.
    // Complements corpus_pipeline (which gates the full 14-stage chain
    // with the literal-fold normalize) — this is the crawl-front slice
    // with the broadcast engine in the composition seat.
    "web_pipeline" -> ((s, dir) =>
      webPipelineFrame(s, dir)),

    // The flagship composition's multimodal seat (VERDICT r15 #5): a
    // real curation run drops near-dup IMAGES alongside the text gates.
    // This composes the full L160 crawl-front chain (broadcast
    // blocklist → langid → Gopher) with the L161 image keep list over
    // the doc↔image fixture join (doc_id IS the join key: the fixture's
    // rasters are per-document media) — a document survives iff its
    // text passes every content gate AND its image is the canonical
    // representative of its near-dup cluster. One left-semi join
    // against the OUTPUT-sized keep frame; both legs keep their own
    // verified shapes.
    "web_pipeline_mm" -> ((s, dir) =>
      webPipelineFrame(s, dir)
        .join(phashKeepIds(s, dir), Seq("doc_id"), "left_semi")),

    // SFT example construction (L91): deterministic (prompt, response)
    // split rendered through the chat template with the LOSS-MASK span —
    // [mask_start, mask_end) covers the assistant response + end tag, so
    // only the response trains. Pure projection, zero shuffle.
    "sft_format" -> ((s, dir) => {
      import graft.operators.SftPrep
      SftPrep.formatExamples(Tables.documents(s, dir))
    }),

    // Multi-turn chat formatting (L128): documents quartered into
    // user/assistant/user/assistant turns (docs under 4 tokens drop),
    // rendered with role tags + assistant <|eot|>, per-turn loss-mask
    // spans over the conversation's token indices.
    "sft_chat_format" -> ((s, dir) => {
      import graft.operators.SftPrep
      val toks = graft.functions.WordShingles.allShingles(col("text"), 1)
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("__t"))
        .withColumn("__n", size(col("__t")).cast("long"))
        .filter(col("__n") >= 4)
        .withColumn("__q", expr("__n div 4"))
      val turns = base.select(col("doc_id").as("conv_id"),
          explode(array(
            struct(lit(0L).as("turn_idx"), lit("user").as("role"),
              slice(col("__t"), lit(1), col("__q").cast("int")).as("tt")),
            struct(lit(1L).as("turn_idx"), lit("assistant").as("role"),
              slice(col("__t"), (col("__q") + 1).cast("int"),
                col("__q").cast("int")).as("tt")),
            struct(lit(2L).as("turn_idx"), lit("user").as("role"),
              slice(col("__t"), (col("__q") * 2 + 1).cast("int"),
                col("__q").cast("int")).as("tt")),
            struct(lit(3L).as("turn_idx"), lit("assistant").as("role"),
              slice(col("__t"), (col("__q") * 3 + 1).cast("int"),
                (col("__n") - col("__q") * 3).cast("int")).as("tt"))))
            .as("tu"))
        .select(col("conv_id"), col("tu.turn_idx").as("turn_idx"),
          col("tu.role").as("role"),
          concat_ws(" ", col("tu.tt")).as("text"))
      SftPrep.formatConversation(turns)
    }),

    // No-straddle greedy packing (L92): first-fit whole-document bins in
    // md5-draw order — the SFT packing contract (an example never splits
    // across sequences). maxLocalExamples = 0 FORCES the doubling-route
    // FORMULATION (per-bucket prefix sums + the sorted-merge hop-rank
    // pass + the orbit of 0 under f) so the oracle's sequential
    // recursive walk gates the scale path's hop function; the size-gated
    // driver walk is the production default at this size and is gated
    // by the composed sft_pipeline below. r16: within the doubling
    // route, the orbit itself replays on the driver while the hop table
    // is under maxLocalOrbit (it is example-sized by construction; the
    // pointer-doubling rounds — unchanged, spec-pinned bit-equal — run
    // whenever it is not).
    "pack_greedy" -> ((s, dir) => {
      import graft.operators.SftPrep
      val lens = Tables.documents(s, dir).select(col("doc_id"),
        size(graft.functions.WordShingles.allShingles(col("text"), 1))
          .cast("long").as("len"))
      SftPrep.packGreedy(lens, "len", seqLen = 64, keyCol = "doc_id",
        numBuckets = 4, maxLocalExamples = 0)
    }),

    // Preference-pair mining (L93): per source stratum, rank-i best by
    // quality score pairs with rank-i worst (margin-gated) — the
    // DPO/RLHF data shape. Spark runs the TWO-PHASE k-bounded funnel
    // (subPartitions = 4); the oracle is the single-window formulation,
    // so parity doubles as funnel-exactness evidence.
    "preference_pairs" -> ((s, dir) => {
      import graft.operators.SftPrep
      // r16: fanOut PROBED AND REJECTED — paired A/B read 0.80 s without
      // vs 1.01 s with: the k-bounded funnel is the wall, not the score
      // pass, and the exchange of the full text costs more than it frees
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.tokens(col("text")).as("__toks"))
      val score = TextAnalysis
        .qualityColumnsFromTokens(col("text"), col("__toks"))
        .toMap.apply("quality_score")
      SftPrep.preferencePairs(
        docs.select(col("doc_id"), col("source"), score.as("score")),
        strataCol = "source", scoreCol = "score", idCol = "doc_id",
        k = 20, minMargin = 0.3, subPartitions = 4)
    }),

    // Rejection sampling / best-of-n selection (L100): candidates group
    // by prompt (doc_id mod 40), reward = lexical diversity (distinct
    // tokens / tokens — one native shingle pass each); keep the top 3
    // per prompt clearing reward >= 0.5, through the two-phase funnel
    // (subPartitions=4) — parity vs the single-window oracle doubles as
    // funnel-exactness evidence.
    "rejection_sample" -> ((s, dir) => {
      import graft.operators.SftPrep
      val all = graft.functions.WordShingles.allShingles(col("text"), 1)
      val dst = graft.functions.WordShingles.shingles(col("text"), 1)
      val cands = Tables.documents(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(40L)).as("prompt_id"),
          (size(dst).cast("double") / size(all)).as("reward"),
          size(all).as("__n"))
        .filter(col("__n") > 0).drop("__n")
      SftPrep.rejectionSample(cands, promptCol = "prompt_id",
          scoreCol = "reward", idCol = "doc_id", k = 3, minScore = 0.5,
          subPartitions = 4)
    }),

    // DEFLATE compression-ratio quality signal (L107): templated/looping
    // text compresses far below prose — the RedPajama-v2/Dolma attribute.
    // Distribution drift report (L105): PSI per signal between the 'en'
    // reference slice and the rest of the pool — the monitoring gate a
    // continuously-fed corpus runs on a new crawl batch. Reference-
    // quantile buckets, add-one smoothing, micro-quantized terms.
    "drift_report" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val sigs = curationSignals(s, dir)
      CorpusStats.driftReport(
          sigs.filter(col("lang") === "en"),
          sigs.filter(col("lang") =!= "en"),
          signalCols = Seq("ntok", "n_chars"), numBuckets = 5)
    }),

    // Semantic context groups (L104, the in-context-pretraining
    // arrangement): KMeans cells as strata, members dealt into groups of
    // 16 under the md5 permutation — each ctx_group is one context
    // window's semantically-adjacent membership. Composes the REAL
    // kmeans fit/assign; two-phase ranks vs single-window oracle.
    "semantic_pack" -> ((s, dir) => {
      import graft.operators.{KMeans, Packing}
      val e = Tables.embeddings(s, dir)
      val assigned = KMeans
        .assign(e, KMeans.fit(e, k = KmeansK, iters = KmeansIters))
        .select(col("vec_id"), col("cell"))
      Packing.contextGroups(assigned, strataCol = "cell",
          keyCol = "vec_id", groupSize = 16, salt = "icp")
    }),

    // Composed host reputation report (L108): PageRank centrality ×
    // propagated labels × per-host corpus aggregates in one table — the
    // per-host view a curation run consults before weighting sources.
    // ONE edge materialization feeds both graph algorithms.
    "host_report" -> ((s, dir) => {
      import graft.operators.LinkGraph
      val e = hostEdges(s, dir).localCheckpoint(true)
      val pr = LinkGraph.pageRank(e, iterations = PrIterations)
        .select(col("node"), col("rank_int"))
      val lp = LinkGraph.labelPropagate(e, hostSeeds(s, dir),
        iterations = LpIterations)
      val agg = Tables.documents(s, dir)
        .groupBy(col("source").as("node"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(graft.functions.WordShingles.allShingles(col("text"), 1))
            .cast("long")).as("total_tokens"))
      lp.join(pr, Seq("node"))
        .join(agg, Seq("node"), "left")
        .select(col("node"), col("label"), col("is_seed"), col("rank_int"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"))
    }),

    // Rule-based curation with an audit trail (L102): every document
    // tagged keep/drop with the ordered '|'-joined names of the rules it
    // fails and the first failure — the Dolma-mixer contract (decisions
    // reproducible and debuggable). Pure codegen'd projection.
    "filter_provenance" -> ((s, dir) => {
      import graft.operators.Curation
      Curation.filterWithProvenance(curationSignals(s, dir), curationRules)
        .select(col("doc_id"), col("keep"), col("n_fails"),
          col("fail_reasons"), col("first_fail"))
    }),

    // Filter ablation report (L103): per rule its total kills, UNIQUE
    // kills (what dropping the rule buys back), and the cumulative kill
    // curve in rule order — the curation tuning table, one narrow
    // aggregation unpivoted through a static struct array.
    "filter_ablation" -> ((s, dir) => {
      import graft.operators.Curation
      Curation.filterAblation(curationSignals(s, dir), curationRules)
    }),

    // Curriculum training order (L101): 4 equal-population difficulty
    // bands over token count (short = easy), md5-shuffled within band;
    // curriculum_key = (band + order_key)/4 replays the whole order as
    // one sort key. Two-phase ranks vs the oracle's single window —
    // parity doubles as two-phase exactness on the band strata.
    "curriculum_order" -> ((s, dir) => {
      import graft.operators.Packing
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(graft.functions.WordShingles.allShingles(col("text"), 1))
          .cast("double").as("score"))
      Packing.curriculumOrder(docs, scoreCol = "score", keyCol = "doc_id",
          numBands = 4, salt = "cur")
    }),

    // Exact histogram quantiles (L95): per-language token-count
    // quantiles through the (group, value) histogram — EXACT with NO
    // per-group value buffer (the third tier beside the exact-buffer and
    // t-digest stats); cardinality-bounded state at any corpus size.
    "exact_quantiles" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val lens = Tables.documents(s, dir).select(col("lang"),
        size(graft.functions.WordShingles.allShingles(col("text"), 1))
          .cast("long").as("len"))
      CorpusStats.histogramQuantiles(lens, "lang", "len")
    }),

    // Dataset-card rollup (L96): doc/token counts over every grouping
    // set of (lang, source) in ONE corpus pass; gid disambiguates
    // rolled-up rows from genuine NULL dimension values.
    "corpus_rollup" -> ((s, dir) => {
      import graft.operators.CorpusStats
      val lens = Tables.documents(s, dir).select(col("lang"), col("source"),
        size(graft.functions.WordShingles.allShingles(col("text"), 1))
          .cast("long").as("len"))
      CorpusStats.rollupReport(lens, "lang", "source", "len")
    }),

    // Shard reproducibility manifest (L97): per shard the member count,
    // token total, position span, and the ORDER-DEFINED md5 digest over
    // ids in pos_in_shard order — the one-row-per-shard artifact two
    // runs compare to assert byte-identical training order.
    "shard_manifest" -> ((s, dir) => {
      import graft.operators.Packing
      val lens = Tables.documents(s, dir).select(col("doc_id"),
        size(graft.functions.WordShingles.allShingles(col("text"), 1))
          .cast("long").as("len"))
      Packing.shardManifest(
        Packing.shardAssign(lens, numShards = 4, keyCol = "doc_id",
          salt = "mani"),
        idCol = "doc_id", tokenCountCol = "len")
    }),

    // Host-graph PageRank quality signal (L98): a deterministic
    // pseudo-link graph over the source hosts (each document links its
    // host to a hash-drawn host; the lexicographically-last host's
    // out-edges are dropped so the gate exercises the dangling-mass
    // redistribution), then PrIterations exact fixed-point power
    // iterations. The graph is HOST-sized — the corpus-scale work is the
    // one edge-extraction projection. The gate contract is INTEGER-PURE
    // (node, rank_int): the convenience DOUBLE rank = rank_int/1e12 stays
    // in the operator's API, pinned by spec — keeping the hashed contract
    // free of IEEE values (round-12 adjudication: the float column was
    // the only delta between the red PR gates and the green LP gate).
    "host_pagerank" -> ((s, dir) => {
      import graft.operators.LinkGraph
      LinkGraph.pageRank(hostEdges(s, dir), iterations = PrIterations)
        .select(col("node"), col("rank_int"))
    }),

    // Seeded label propagation (L99): a curated 4-host labeling spreads
    // over the symmetrized host graph in LpIterations synchronous
    // majority rounds (ties to the smallest label, seeds clamped) — the
    // whitelist-expansion step of web-scale curation.
    "host_label_prop" -> ((s, dir) => {
      import graft.operators.LinkGraph
      LinkGraph.labelPropagate(hostEdges(s, dir), hostSeeds(s, dir),
          iterations = LpIterations)
    }),

    // ——— THE COMPOSED SFT PIPELINE (L94): quality gate → example
    // construction with loss masks → no-straddle packing, each stage the
    // REAL operator; one oracle replays the chain, so the composition
    // can never drift from the stages it claims to run.
    "sft_pipeline" -> ((s, dir) => {
      import graft.operators.SftPrep
      val docs = Tables.documents(s, dir)
      val keep = TextAnalysis.gopherRules(docs)
        .filter(col("gopher_keep")).select(col("doc_id"))
      val ex = SftPrep.formatExamples(docs.join(keep, Seq("doc_id")))
        .select(col("doc_id"), col("n_tokens"), col("mask_start"),
          col("mask_end"))
      SftPrep.packGreedy(ex, "n_tokens", seqLen = 96, keyCol = "doc_id",
        numBuckets = 4)
    })
  )

  /** Repaired-form fixture for the `text_fix_mojibake` gate: curly quotes,
    * dash, ellipsis, accented letters — every non-ASCII char is a repair
    * target, so corrupt → fix must round-trip exactly. ONE constant feeds
    * the Spark gate and the generated oracle. */
  private[queries] val MojibakePhrase =
    " café’s — naïve… “ok”"

  /** Fixed demo vocabulary for the `unigram_segment` gate — ONE constant
    * feeds the Viterbi kernel and the generated exhaustive-enumeration
    * oracle. Scores sit on a COARSE micro-nat grid (multiples of 100k,
    * several pieces sharing a score, unk = two multi-piece scores' gap)
    * so equal-total segmentations occur in the corpus and the
    * deterministic tie ladder is exercised by parity, not just by
    * specs. */
  private[queries] val DemoUnigramVocab: Seq[(String, Long)] = Seq(
    ("th", -1500000L), ("he", -1500000L), ("in", -1500000L),
    ("er", -1500000L), ("an", -1500000L), ("re", -1500000L),
    ("nd", -1500000L),
    ("the", -1200000L), ("ing", -1200000L), ("and", -1200000L),
    ("tion", -1000000L), ("ment", -1000000L))

  private[queries] val DemoUnigramUnk = -1000000L

  /** Exhaustive-enumeration oracle for `unigram_segment`: a recursive CTE
    * walks EVERY segmentation of every distinct word (vocab pieces plus
    * the single-char fallback), the window picks the argmax under the
    * kernel's exact tie ladder (score desc, piece count asc, piece-length
    * sequence longer-first — encoded fixed-width so plain string order IS
    * the sequence order), and the winning pieces fan back out over the
    * token occurrences. The vocab VALUES are generated from
    * [[DemoUnigramVocab]] — one constant, both engines. */
  private lazy val unigramSegmentOracle: String = {
    val vocValues = DemoUnigramVocab
      .map { case (p, s) => s"('$p', $s)" }.mkString(", ")
    s"""WITH RECURSIVE toks AS MATERIALIZED (SELECT doc_id, unnest(list_filter(
       |    regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
       |  FROM documents),
       |ft AS MATERIALIZED (SELECT doc_id, w FROM toks
       |  WHERE len(w) BETWEEN 1 AND 12 AND regexp_matches(w, '^[A-Za-z0-9]+$$')),
       |wr AS MATERIALIZED (SELECT DISTINCT w AS word FROM ft),
       |voc(piece, s) AS (VALUES $vocValues),
       |chars AS MATERIALIZED (SELECT DISTINCT unnest(list_transform(
       |    range(1, len(word)+1), i -> substr(word, CAST(i AS INT), 1))) AS piece
       |  FROM wr),
       |steps AS MATERIALIZED (SELECT piece, CAST(s AS BIGINT) AS s FROM voc
       |  UNION ALL
       |  SELECT c.piece, CAST($DemoUnigramUnk AS BIGINT) FROM chars c
       |  WHERE c.piece NOT IN (SELECT piece FROM voc)),
       |p(word, pos, score, pieces, np, lenstr) AS (
       |  SELECT word, 0, CAST(0 AS BIGINT), '', 0, '' FROM wr
       |  UNION ALL
       |  SELECT p.word, p.pos + len(s.piece), p.score + s.s,
       |         CASE WHEN p.pieces = '' THEN s.piece
       |              ELSE p.pieces || ' ' || s.piece END,
       |         p.np + 1, p.lenstr || printf('%02d', len(s.piece))
       |  FROM p JOIN steps s ON p.pos + len(s.piece) <= len(p.word)
       |    AND substr(p.word, p.pos + 1, len(s.piece)) = s.piece),
       |best AS MATERIALIZED (SELECT word, pieces FROM (
       |  SELECT word, pieces,
       |    row_number() OVER (PARTITION BY word
       |      ORDER BY score DESC, np ASC, lenstr DESC) AS rn
       |  FROM p WHERE pos = len(word)) WHERE rn = 1),
       |bp AS MATERIALIZED (SELECT word,
       |    unnest(string_split(pieces, ' ')) AS piece FROM best)
       |SELECT t.doc_id, b.piece, CAST(count(*) AS BIGINT) AS n
       |FROM ft t JOIN bp b ON b.word = t.w
       |GROUP BY 1, 2 ORDER BY doc_id, piece""".stripMargin
  }

  /** One oracle for BOTH Jaccard pair engines (posting join and
    * prefix-filtered): the pair set is a function of corpus + threshold,
    * not of the candidate strategy. */
  private lazy val jaccardOracle: String =
    s"""WITH $shinglesCte,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) AS jaccard
       |FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
       |WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3
       |ORDER BY 1, 2""".stripMargin

  /** One oracle for BOTH connected-components implementations (min-label
    * BSP and star contraction): the cluster map is a function of the pair
    * graph, not of the algorithm. */
  /** The components CTE chain (pair generation + recursive min-label
    * walk) — shared by [[componentsOracle]] and the dedup-report oracle;
    * the final labels aggregate from `walk`. */
  private lazy val componentsCtes: String =
    s"""$shinglesCte,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |jp AS (SELECT doc_a AS a, doc_b AS b
       |       FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
       |       WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3),
       |ep AS (SELECT a, b FROM (
       |         SELECT min(doc_id) OVER (PARTITION BY text) AS a, doc_id AS b
       |         FROM documents) WHERE a <> b),
       |edges AS (SELECT a, b FROM jp UNION SELECT a, b FROM ep
       |          UNION SELECT b, a FROM jp UNION SELECT b, a FROM ep),
       |walk(id, lab) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id)""".stripMargin

  private lazy val componentsOracle: String =
    s"""WITH RECURSIVE $componentsCtes
       |SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS component,
       |       (min(lab) = id) AS is_canonical
       |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin

  /** Composed oracle for `dedup_report`: the same walk, aggregated to the
    * component-size histogram (singletons are not in the pair graph and
    * report via the corpus total). */
  private lazy val dedupReportOracle: String =
    s"""WITH RECURSIVE $componentsCtes,
       |comp AS MATERIALIZED (SELECT id, min(lab) AS component
       |  FROM walk GROUP BY id),
       |szs AS MATERIALIZED (SELECT component, CAST(count(*) AS BIGINT) AS sz
       |  FROM comp GROUP BY component)
       |SELECT sz AS component_size,
       |  CAST(count(*) AS BIGINT) AS n_components,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  CAST(sum(sz) - count(*) AS BIGINT) AS n_removed,
       |  CAST(count(*) * greatest(sz - $ReportKeepK, 0) AS BIGINT) AS n_removed_at_k
       |FROM szs GROUP BY sz ORDER BY sz""".stripMargin

  /** keep-k budget the `dedup_report` histogram prices (and the k the
    * `dedup_keep_k` gate applies) — ONE constant feeds the Spark gates
    * and both oracles. */
  private[queries] val ReportKeepK = 2

  /** Generated DuckDB oracle replaying the COMPOSED curation chain — see
    * the `corpus_pipeline` query for the stage list. Every stage reuses its
    * individual gate's oracle formulation, re-rooted on the previous
    * stage's CTE instead of the raw table; the dedup closure is the same
    * recursive min-label walk as [[componentsOracle]] with the keep-BEST
    * winner rule, and the packing/sharding/interleave tails are the
    * single-window reference formulations (so pipeline parity doubles as
    * two-phase-exactness evidence for the composed plan too). */
  private lazy val corpusPipelineOracle: String = {
    def esc(s: String) = s.replace("'", "''")
    val corrupted = esc(graft.operators.TextNormalize.asMojibake(MojibakePhrase))
    // ONE repair chain over a CASE input — exactly the Spark shape
    // (fixMojibake applied to the conditionally-corrupted column)
    val fixInput = s"(CASE WHEN doc_id % 13 = 7 THEN text || '$corrupted' ELSE text END)"
    val fixChain = graft.operators.TextNormalize.MojibakeTable
      .foldLeft(fixInput) { case (acc, (bad, good)) =>
        s"replace($acc, '${esc(bad)}', '${esc(good)}')"
      }
    val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)\\??([^#]*)#?(.*)$"
    val slTlds = graft.operators.UrlOps.SecondLevelTlds
      .map(t => s"'$t'").mkString(", ")
    s"""WITH RECURSIVE
       |u AS MATERIALIZED (SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END)
       |    || '://WWW.' || source || '.Example.COM'
       |    || (CASE WHEN doc_id % 3 = 0 THEN ':443'
       |             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
       |    || '/Path/' || CAST(doc_id AS VARCHAR)
       |    || (CASE WHEN doc_id % 2 = 0
       |             THEN '?utm_source=x&b=2&a=1&fbclid=zz' ELSE '' END)
       |    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
       |  FROM documents),
       |pu AS MATERIALIZED (SELECT doc_id,
       |    lower(regexp_extract(regexp_extract(url, '$pat', 2), '^([^:]*)', 1)) AS h
       |  FROM u),
       |dom AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN len(l) <= 2 THEN h
       |         WHEN array_to_string(l[-2:], '.') IN ($slTlds)
       |           THEN array_to_string(l[-3:], '.')
       |         ELSE array_to_string(l[-2:], '.') END AS domain
       |  FROM (SELECT doc_id, h, string_split(h, '.') AS l FROM pu)),
       |fx AS MATERIALIZED (SELECT doc_id, $fixChain AS text FROM documents),
       |toks AS MATERIALIZED (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t FROM fx),
       |lt AS MATERIALIZED (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t FROM fx),
       |sc AS MATERIALIZED (SELECT doc_id,
       |  len(list_filter(t, x -> x IN ('der','die','und','ist'))) AS score_de,
       |  len(list_filter(t, x -> x IN ('the','a','of','and'))) AS score_en,
       |  len(list_filter(t, x -> x IN ('el','la','de','y'))) AS score_es,
       |  len(list_filter(t, x -> x IN ('le','la','et','est'))) AS score_fr,
       |  len(list_filter(t, x -> x IN ('de','shi','le','he'))) AS score_zh
       |  FROM lt),
       |pl AS MATERIALIZED (SELECT doc_id,
       |  CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_de > 0 THEN 'de'
       |       WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_en > 0 THEN 'en'
       |       WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_es > 0 THEN 'es'
       |       WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_fr > 0 THEN 'fr'
       |       WHEN score_zh = greatest(score_de, score_en, score_es, score_fr, score_zh) AND score_zh > 0 THEN 'zh'
       |       ELSE 'und' END AS plang
       |  FROM sc),
       |gm AS MATERIALIZED (SELECT d.doc_id, len(t) AS n_words,
       |    coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS char_sum,
       |    len(d.text) - len(replace(d.text, '#', '')) AS n_hash,
       |    CAST((len(d.text) - len(replace(d.text, '...', ''))) / 3 AS INT) AS n_ell,
       |    len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
       |    len(list_filter(t, x -> list_contains(
       |      ['the','be','to','of','and','that','have','with'], lower(x)))) AS n_stop
       |  FROM toks JOIN fx d USING (doc_id)),
       |keepq AS MATERIALIZED (SELECT doc_id FROM (
       |    SELECT doc_id, n_words, n_stop,
       |      CASE WHEN n_words > 0 THEN CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mwl,
       |      CASE WHEN n_words > 0 THEN CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END AS swr,
       |      CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END AS awf
       |    FROM gm)
       |  WHERE n_words >= 50 AND n_words <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
       |    AND swr < 0.1 AND awf >= 0.8 AND n_stop >= 2),
       |pool AS MATERIALIZED (SELECT f.doc_id, f.text FROM fx f JOIN keepq USING (doc_id)
       |         WHERE f.doc_id % 97 <> 0),
       |sha AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
       |          CASE WHEN len(t) >= 3
       |               THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
       |               ELSE [array_to_string(t, ' ')] END)) AS shingle
       |        FROM toks),
       |sh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sha s JOIN pool USING (doc_id)),
       |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |common AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |jp AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b
       |       FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
       |       WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3),
       |epr AS MATERIALIZED (SELECT a, b FROM (
       |          SELECT min(doc_id) OVER (PARTITION BY text) AS a, doc_id AS b
       |          FROM pool) WHERE a <> b),
       |edges AS MATERIALIZED (SELECT a, b FROM jp UNION SELECT a, b FROM epr
       |          UNION SELECT b, a FROM jp UNION SELECT b, a FROM epr),
       |walk(id, lab) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
       |memb AS MATERIALIZED (SELECT id, min(lab) AS comp FROM walk GROUP BY id),
       |scored AS MATERIALIZED (SELECT m.id, m.comp, len(t.t) AS q
       |           FROM memb m JOIN toks t ON t.doc_id = m.id),
       |win AS MATERIALIZED (SELECT id FROM (
       |          SELECT id, row_number() OVER (PARTITION BY comp
       |            ORDER BY q DESC, id) AS rn
       |          FROM scored) WHERE rn = 1),
       |kept AS MATERIALIZED (SELECT doc_id FROM pool WHERE doc_id NOT IN (
       |           SELECT s.id FROM scored s WHERE s.id NOT IN (SELECT id FROM win))),
       |cont AS MATERIALIZED (SELECT t.doc_id
       |         FROM (SELECT s.doc_id, s.shingle FROM sh s JOIN kept USING (doc_id)) t
       |         LEFT JOIN (SELECT DISTINCT shingle FROM sha WHERE doc_id % 97 = 0) b
       |           USING (shingle)
       |         GROUP BY 1
       |         HAVING CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE) >= 0.2),
       |clean AS MATERIALIZED (SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |cd AS MATERIALIZED (SELECT c.doc_id, d.lang, CAST(len(t.t) AS BIGINT) AS n_tokens
       |       FROM clean c JOIN documents d USING (doc_id)
       |       JOIN toks t ON t.doc_id = c.doc_id),
       |wts AS MATERIALIZED (SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS w
       |        FROM cd GROUP BY 1 HAVING sum(n_tokens) > 0),
       |mws AS MATERIALIZED (SELECT min(w) AS mw FROM wts),
       |thr AS MATERIALIZED (SELECT lang, CAST(floor(pow(mw / w, 0.5) * 1e6) AS BIGINT) AS tm
       |        FROM wts, mws),
       |th AS MATERIALIZED (SELECT lang,
       |         CASE WHEN tm >= 1000000 THEN 'g'
       |              ELSE printf('%08x', CAST(floor(
       |                CAST(tm AS DOUBLE) * 4294967296 / 1000000) AS BIGINT))
       |         END AS h
       |       FROM thr),
       |mix AS MATERIALIZED (SELECT cd.doc_id, cd.lang, cd.n_tokens
       |        FROM cd JOIN th USING (lang)
       |        WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':cptm'), 1, 8) < h),
       |spl AS MATERIALIZED (SELECT doc_id, lang, n_tokens,
       |          CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cpsp'), 1, 8) < 'cccccccc' THEN 'train'
       |               WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cpsp'), 1, 8) < 'e6666666' THEN 'val'
       |               ELSE 'test' END AS split
       |        FROM mix),
       |tr AS MATERIALIZED (SELECT * FROM spl WHERE split = 'train'),
       |pk AS MATERIALIZED (SELECT doc_id, bucket, CAST((cum - n_tokens) // 2048 AS BIGINT) AS example_id
       |       FROM (SELECT doc_id, n_tokens, bucket,
       |               sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |             FROM (SELECT doc_id, n_tokens,
       |                     CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8) AS BIGINT) % 8 AS INT) AS bucket
       |                   FROM tr))),
       |shd AS MATERIALIZED (SELECT doc_id, CAST(pos % 4 AS INT) AS shard, pos // 4 AS pos_in_shard
       |        FROM (SELECT doc_id,
       |                row_number() OVER (ORDER BY
       |                  substring(md5(CAST(doc_id AS VARCHAR) || ':cpsh'), 1, 8), doc_id) - 1 AS pos
       |              FROM tr)),
       |epo AS MATERIALIZED (SELECT r.doc_id, r.epoch_rank,
       |          (CAST(r.epoch_rank AS DOUBLE) + 0.5) / CAST(n.ns AS DOUBLE) AS order_key
       |        FROM (SELECT doc_id, lang,
       |                CAST(row_number() OVER (PARTITION BY lang ORDER BY
       |                  substring(md5(CAST(doc_id AS VARCHAR) || ':cpep'), 1, 8), doc_id)
       |                  AS BIGINT) - 1 AS epoch_rank
       |              FROM tr) r
       |        JOIN (SELECT lang, count(*) AS ns FROM tr GROUP BY 1) n USING (lang))
       |SELECT s.doc_id, d.domain, s.lang, pl.plang, s.n_tokens,
       |  md5(f.text) AS text_md5, s.split,
       |  coalesce(CAST(pk.bucket AS BIGINT), -1) AS pack_bucket,
       |  coalesce(pk.example_id, -1) AS example_id,
       |  coalesce(CAST(shd.shard AS BIGINT), -1) AS shard,
       |  coalesce(shd.pos_in_shard, -1) AS pos_in_shard,
       |  coalesce(epo.epoch_rank, -1) AS epoch_rank,
       |  coalesce(epo.order_key, -1.0) AS order_key
       |FROM spl s JOIN dom d USING (doc_id) JOIN fx f USING (doc_id)
       |JOIN pl USING (doc_id)
       |LEFT JOIN pk USING (doc_id) LEFT JOIN shd USING (doc_id)
       |LEFT JOIN epo USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Spec-only query surfaces — operators whose VALUE DuckDB cannot
    * reproduce (no zlib), so they carry no driver gate: delisted from
    * [[queries]] round 13 (a permanent `no_oracle` red row trains readers
    * to ignore red rows — ADVICE r12). The DEFLATE semantics stay pinned
    * by the `java.util.zip` reference spec in TrainingDataSpec; the plan
    * shape stays pinned by PlanInvarianceSpec through this map. */
  private[graft] val specOnlyQueries
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_compress_ratio" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.CompressRatio.ratio(col("text"))
          .as("compress_ratio"))
    })
  )

  override def oracles: Map[String, String] =
    coreOracles + ("quality_signals" -> qualitySignalsOracle) +
      ("negative_samples" -> negativeSamplesOracle) +
      ("preference_pairs" -> preferencePairsOracle) +
      ("sft_pipeline" -> sftPipelineOracle) +
      ("web_pipeline" -> webPipelineOracle) +
      ("web_pipeline_mm" -> webPipelineMmOracle)

  /** The L161 keep-list oracle (phash pairs + the recursive min-label
    * walk + the NOT IN drop) — the `dedup_phash_keep` entry, also
    * spliced as the image-leg subquery of [[webPipelineMmOracle]]. */
  private def phashKeepOracle: String =
    s"""WITH RECURSIVE $phashCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM phband a JOIN phband b
       |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |hx AS (SELECT c.doc_a, c.doc_b,
       |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
       |  FROM cand c
       |  JOIN phband x ON x.doc_id = c.doc_a
       |  JOIN phband y ON y.doc_id = c.doc_b AND y.bi = x.bi
       |  GROUP BY 1, 2),
       |pp AS (SELECT doc_a AS a, doc_b AS b FROM hx WHERE hamming <= 3),
       |edges AS (SELECT a, b FROM pp UNION SELECT b, a FROM pp),
       |walk(id, lab) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
       |drop_ids AS (SELECT id FROM walk GROUP BY id HAVING min(lab) <> id)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
       |ORDER BY doc_id""".stripMargin

  /** Composed oracle for `web_pipeline`: the L115/L154 URL-verdict
    * oracle, the langid oracle, and the Gopher oracle embedded as
    * subqueries (each keeps its own WITH scope) joined on doc_id, with
    * the two keep predicates applied — the same stage outputs the Spark
    * composition chains, pinned stage-for-stage by the per-gate
    * parities and here in composition. `extraPredicate` splices an
    * additional conjunct ahead of ORDER BY (the multimodal variant). */
  private def webPipelineOracleWith(extraPredicate: String): String =
    // subqueries splice AFTER stripMargin: the url oracle's own content
    // has lines beginning with `||` (string concat), which an outer
    // stripMargin would corrupt into `|`
    """WITH cat AS (SELECT doc_id, host, domain, blocked
      |  FROM (__CAT__)),
      |lid AS (SELECT doc_id, predicted FROM (__LID__)),
      |gop AS (SELECT doc_id, gopher_keep
      |  FROM (__GOP__)),
      |tk AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents)
      |SELECT c.doc_id, d.lang, l.predicted AS plang, c.host, c.domain,
      |  CAST(len(tk.t) AS BIGINT) AS n_tokens, md5(d.text) AS text_md5
      |FROM cat c JOIN documents d USING (doc_id)
      |JOIN lid l USING (doc_id)
      |JOIN gop g USING (doc_id)
      |JOIN tk USING (doc_id)
      |WHERE NOT c.blocked AND g.gopher_keep __EXTRA__
      |ORDER BY c.doc_id""".stripMargin
      .replace("__EXTRA__", extraPredicate)
      .replace("__CAT__", urlCategoryOracle)
      .replace("__LID__", coreOracles("text_langid"))
      .replace("__GOP__", coreOracles("quality_gopher"))

  private def webPipelineOracle: String = webPipelineOracleWith("")

  /** `web_pipeline_mm`: the web-curation oracle with the L161 keep
    * list as one more conjunct — a document survives iff its text
    * passes every content gate AND its image is its cluster's
    * canonical representative (the keep oracle embeds with its own
    * WITH RECURSIVE scope). */
  private def webPipelineMmOracle: String =
    webPipelineOracleWith(
      "AND c.doc_id IN (SELECT doc_id FROM (__KEEP__))")
      .replace("__KEEP__", phashKeepOracle)

  /** Composed oracle for `negative_samples`: the skip-gram oracle embeds
    * as a subquery (own WITH scope); intervals come from the
    * SINGLE-WINDOW cumsum in lexicographic token order (the Spark side
    * runs the two-phase cut, so parity doubles as two-phase-exactness
    * evidence); each draw maps and probes the intervals by range. */
  private def negativeSamplesOracle: String = {
    s"""WITH $toksCte,
       |f AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS cf
       |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
       |wq AS MATERIALIZED (SELECT tok,
       |  CAST(round(pow(CAST(cf AS DOUBLE), 0.75) * 1000000) AS BIGINT) AS w
       |  FROM f),
       |iv AS MATERIALIZED (SELECT tok,
       |  CAST(coalesce(sum(w) OVER (ORDER BY tok
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lo,
       |  CAST(sum(w) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
       |  FROM wq),
       |tot AS MATERIALIZED (SELECT max(hi) AS tw FROM iv),
       |pairsq AS MATERIALIZED (SELECT * FROM (${coreOracles("skipgram_pairs")})),
       |draws AS MATERIALIZED (SELECT center, context, dist, n, j,
       |  least(CAST(floor(
       |    CAST(CAST('0x' || substring(md5(center || chr(1) || context || chr(1) ||
       |      CAST(dist AS VARCHAR) || chr(1) || CAST(j AS VARCHAR) || ':neg'), 1, 8)
       |      AS BIGINT) AS DOUBLE) / 4294967296.0 * CAST(tw AS DOUBLE)) AS BIGINT),
       |    tw - 1) AS pos
       |  FROM pairsq CROSS JOIN (SELECT unnest([0, 1]) AS j) CROSS JOIN tot)
       |SELECT d.center, d.context, d.dist, d.n, d.j, iv.tok AS neg
       |FROM draws d JOIN iv ON d.pos >= iv.lo AND d.pos < iv.hi
       |ORDER BY d.center, d.context, d.dist, d.j""".stripMargin
  }

  /** The greedy no-straddle pack replay as reusable CTE chain — expects a
    * `plens(doc_id, len)` CTE upstream and a `WITH RECURSIVE` header. The
    * hop f(c) = max(c+1, #{j : S_j <= S_c + L}) is precomputed
    * NON-recursively (join-aggregate — the correlated-subquery landmine
    * documented on the wordpiece oracle), and the recursion only follows
    * the pointers: cuts are the orbit of 0 under f, exactly the Spark
    * side's pointer-doubling result walked sequentially — parity proves
    * the doubling exact. */
  private def packOracleCtes(seqLen: Int, numBuckets: Int): String =
    s"""pb AS MATERIALIZED (SELECT doc_id, len,
       |    substring(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8) AS draw
       |  FROM plens),
       |pbb AS MATERIALIZED (SELECT doc_id, len, draw,
       |    CAST(CAST('0x' || draw AS BIGINT) % $numBuckets AS INT) AS bucket
       |  FROM pb),
       |ppos AS MATERIALIZED (SELECT bucket, doc_id, len,
       |    CAST(row_number() OVER (PARTITION BY bucket ORDER BY draw, doc_id)
       |      AS BIGINT) AS idx,
       |    CAST(sum(len) OVER (PARTITION BY bucket ORDER BY draw, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS S
       |  FROM pbb),
       |pm AS MATERIALIZED (SELECT bucket, max(idx) AS m FROM ppos GROUP BY 1),
       |pq AS MATERIALIZED (SELECT bucket, idx - 1 AS c, S - len + $seqLen AS qv
       |  FROM ppos),
       |pcnt AS MATERIALIZED (SELECT q.bucket, q.c, count(*) AS cnt
       |  FROM pq q JOIN ppos p ON p.bucket = q.bucket AND p.S <= q.qv
       |  GROUP BY 1, 2),
       |phop AS MATERIALIZED (SELECT q.bucket, q.c,
       |    least(m.m, greatest(coalesce(cc.cnt, 0), q.c + 1)) AS f
       |  FROM pq q JOIN pm m USING (bucket)
       |  LEFT JOIN pcnt cc ON cc.bucket = q.bucket AND cc.c = q.c),
       |pcuts AS (SELECT bucket, CAST(0 AS BIGINT) AS c FROM pm
       |  UNION ALL
       |  SELECT h.bucket, h.f FROM pcuts r
       |  JOIN phop h ON h.bucket = r.bucket AND h.c = r.c
       |  JOIN pm m ON m.bucket = r.bucket
       |  WHERE h.f < m.m),
       |pasn AS (SELECT p.bucket, p.idx, count(*) - 1 AS bin_id,
       |    p.idx - max(c.c) - 1 AS pos_in_bin
       |  FROM ppos p JOIN pcuts c ON c.bucket = p.bucket AND c.c < p.idx
       |  GROUP BY 1, 2)""".stripMargin

  /** Composed oracle for `sft_pipeline`: Gopher keep → SFT example
    * construction (the sft_format expressions) → no-straddle pack replay.
    * The embedded quality_gopher oracle keeps its own WITH scope. */
  private def sftPipelineOracle: String =
    s"""WITH RECURSIVE $toksCte,
       |kept AS MATERIALIZED (SELECT doc_id
       |  FROM (${coreOracles("quality_gopher")}) WHERE gopher_keep),
       |fe AS MATERIALIZED (SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n,
       |    CAST((len(t.t) + 2) // 3 AS BIGINT) AS p
       |  FROM toks t JOIN kept k USING (doc_id) WHERE len(t.t) >= 2),
       |plens AS MATERIALIZED (SELECT doc_id, n + 3 AS len FROM fe),
       |${packOracleCtes(96, 4)}
       |SELECT f.doc_id, f.n + 3 AS n_tokens, f.p + 2 AS mask_start,
       |  f.n + 3 AS mask_end, p.bucket, p.idx AS pack_idx, a.bin_id,
       |  a.pos_in_bin, p.len > 96 AS overlong
       |FROM ppos p JOIN pasn a ON a.bucket = p.bucket AND a.idx = p.idx
       |JOIN fe f ON f.doc_id = p.doc_id
       |ORDER BY p.bucket, pack_idx""".stripMargin

  /** Oracle for `preference_pairs`: the SINGLE-window per-stratum ranks
    * (the Spark side funnels through sub-partitions, so parity doubles
    * as funnel-exactness evidence); the embedded text_quality oracle
    * supplies the identical composite score. */
  private def preferencePairsOracle: String =
    s"""WITH base AS MATERIALIZED (
       |  SELECT d.source AS stratum, q.quality_score AS score, d.doc_id
       |  FROM (${coreOracles("text_quality")}) q
       |  JOIN documents d USING (doc_id)),
       |m AS MATERIALIZED (SELECT stratum, count(*) AS m FROM base GROUP BY 1),
       |top AS (SELECT stratum, row_number() OVER (PARTITION BY stratum
       |    ORDER BY score DESC, doc_id) AS pair_rank,
       |    doc_id AS chosen_id, score AS chosen_score FROM base),
       |bot AS (SELECT stratum, row_number() OVER (PARTITION BY stratum
       |    ORDER BY score ASC, doc_id) AS pair_rank,
       |    doc_id AS rejected_id, score AS rejected_score FROM base)
       |SELECT t.stratum, CAST(t.pair_rank AS BIGINT) AS pair_rank,
       |  t.chosen_id, b.rejected_id,
       |  CAST(t.chosen_score AS DOUBLE) AS chosen_score,
       |  CAST(b.rejected_score AS DOUBLE) AS rejected_score,
       |  CAST(t.chosen_score AS DOUBLE) - CAST(b.rejected_score AS DOUBLE)
       |    AS margin
       |FROM top t JOIN bot b ON t.stratum = b.stratum
       |  AND t.pair_rank = b.pair_rank
       |JOIN m ON m.stratum = t.stratum
       |WHERE t.pair_rank <= least(20, m.m // 2)
       |  AND CAST(t.chosen_score AS DOUBLE) - CAST(b.rejected_score AS DOUBLE)
       |    >= 0.3
       |ORDER BY t.stratum, t.pair_rank""".stripMargin

  /** Composed oracle for `quality_signals`: the six per-signal oracles
    * embedded verbatim as subqueries joined on doc_id — each keeps its
    * own WITH scope (DuckDB scopes CTE names per subquery), so the gate
    * can never drift from the signals it composes. */
  private def qualitySignalsOracle: String = {
    s"""SELECT e.doc_id, e.n_chars, e.n_distinct_chars, e.entropy_micro_nats,
       |  q.n_tokens, q.avg_token_len, q.stopword_ratio, q.punct_ratio, q.quality_score,
       |  r.word_total, r.word_distinct, r.dup_word_frac, r.top_bigram_share,
       |  l.predicted, g.n_words, g.mean_word_len, g.symbol_word_ratio,
       |  g.alpha_word_frac, g.n_gopher_stopwords, g.gopher_keep, f.fp
       |FROM (${coreOracles("text_entropy")}) e
       |JOIN (${coreOracles("text_quality")}) q USING (doc_id)
       |JOIN (${coreOracles("text_repetition")}) r USING (doc_id)
       |JOIN (${coreOracles("text_langid")}) l USING (doc_id)
       |JOIN (${coreOracles("quality_gopher")}) g USING (doc_id)
       |JOIN (${coreOracles("text_fingerprint")}) f USING (doc_id)
       |ORDER BY e.doc_id""".stripMargin
  }

  private def coreOracles: Map[String, String] = Map(
    "corpus_pipeline" -> corpusPipelineOracle,
    // greedy longest-match reimplemented as a recursive CTE: each step
    // advances by the longest vocab entry matching at `pos` (or 1 char for
    // UNK) and counts 1 — the per-word fixpoint row count is the subword
    // count. The VALUES list is generated from the same Seq the Spark trie
    // compiles from.
    "text_token_subword" -> {
      val values = SubwordVocab.map(v => s"('$v')").mkString(", ")
      // the word key is (doc_id, list ordinal) — NOT row_number() OVER ()
      // without an ORDER BY, whose assignment order is not guaranteed once
      // the scan parallelizes
      s"""WITH RECURSIVE $toksCte,
         |vocab(v) AS (VALUES $values),
         |w AS (SELECT doc_id, u[1] AS w, u[2] AS widx
         |      FROM (SELECT doc_id, unnest(list_zip(t, range(1, len(t)+1))) AS u
         |            FROM toks)),
         |m AS (
         |  SELECT doc_id, widx, w, CAST(1 AS BIGINT) AS pos,
         |         CAST(0 AS BIGINT) AS cnt
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, widx, w,
         |    pos + coalesce((SELECT max(length(v)) FROM vocab
         |                    WHERE v = substr(w, CAST(pos AS INT), length(v))), 1),
         |    cnt + 1
         |  FROM m WHERE pos <= length(w)
         |),
         |f AS (SELECT doc_id, widx, max(cnt) AS wcnt FROM m GROUP BY 1, 2),
         |per_doc AS (SELECT doc_id, sum(wcnt) AS n FROM f GROUP BY 1)
         |SELECT doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_subword
         |FROM documents LEFT JOIN per_doc USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // the same greedy-count recursion as text_token_subword, aggregated
    // to the language level with exact integer sums; ratios are double
    // divisions mirroring TextAnalysis.tokenizerFertility
    "tokenizer_fertility" -> {
      val values = SubwordVocab.map(v => s"('$v')").mkString(", ")
      s"""WITH RECURSIVE $toksCte,
         |vocab(v) AS (VALUES $values),
         |w AS (SELECT doc_id, u[1] AS w, u[2] AS widx
         |      FROM (SELECT doc_id, unnest(list_zip(t, range(1, len(t)+1))) AS u
         |            FROM toks)),
         |m AS (
         |  SELECT doc_id, widx, w, CAST(1 AS BIGINT) AS pos,
         |         CAST(0 AS BIGINT) AS cnt
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, widx, w,
         |    pos + coalesce((SELECT max(length(v)) FROM vocab
         |                    WHERE v = substr(w, CAST(pos AS INT), length(v))), 1),
         |    cnt + 1
         |  FROM m WHERE pos <= length(w)
         |),
         |f AS (SELECT doc_id, widx, max(cnt) AS wcnt FROM m GROUP BY 1, 2),
         |per_doc AS (SELECT doc_id, sum(wcnt) AS n FROM f GROUP BY 1),
         |tw AS (SELECT doc_id, len(t) AS nw FROM toks),
         |agg AS (SELECT d.lang, count(*) AS n_docs,
         |          CAST(sum(coalesce(tw.nw, 0)) AS BIGINT) AS n_words,
         |          CAST(sum(coalesce(pd.n, 0)) AS BIGINT) AS n_subwords,
         |          CAST(sum(strlen(d.text)) AS BIGINT) AS n_bytes
         |        FROM documents d
         |        LEFT JOIN tw USING (doc_id)
         |        LEFT JOIN per_doc pd USING (doc_id)
         |        GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_subwords, n_bytes,
         |  CASE WHEN n_words > 0
         |       THEN CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)
         |       ELSE 0.0 END AS fertility,
         |  CASE WHEN n_subwords > 0
         |       THEN CAST(n_bytes AS DOUBLE) / CAST(n_subwords AS DOUBLE)
         |       ELSE 0.0 END AS bytes_per_token
         |FROM agg ORDER BY lang""".stripMargin
    },

    // same recursive walk, carrying the matched piece per step; pieces
    // re-join in (word, step) order — the whole-document segmentation.
    "text_subword_segments" -> {
      val values = SubwordVocab.map(v => s"('$v')").mkString(", ")
      // word key = (doc_id, list ordinal), see text_token_subword
      s"""WITH RECURSIVE $toksCte,
         |vocab(v) AS (VALUES $values),
         |w AS (SELECT doc_id, u[1] AS w, u[2] AS widx
         |      FROM (SELECT doc_id, unnest(list_zip(t, range(1, len(t)+1))) AS u
         |            FROM toks)),
         |m AS (
         |  SELECT doc_id, widx, w, CAST(1 AS BIGINT) AS pos,
         |         CAST(0 AS BIGINT) AS step, CAST(NULL AS VARCHAR) AS piece
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, widx, w,
         |    pos + coalesce((SELECT max(length(v)) FROM vocab
         |                    WHERE v = substr(w, CAST(pos AS INT), length(v))), 1),
         |    step + 1,
         |    substr(w, CAST(pos AS INT),
         |      CAST(coalesce((SELECT max(length(v)) FROM vocab
         |                     WHERE v = substr(w, CAST(pos AS INT), length(v))), 1) AS INT))
         |  FROM m WHERE pos <= length(w)
         |),
         |wp AS (SELECT doc_id, widx,
         |         string_agg(piece, ' ' ORDER BY step) AS pieces
         |       FROM m WHERE piece IS NOT NULL GROUP BY 1, 2),
         |per_doc AS (SELECT doc_id, string_agg(pieces, ' ' ORDER BY widx) AS segs
         |            FROM wp GROUP BY 1)
         |SELECT doc_id, coalesce(segs, '') AS segments
         |FROM documents LEFT JOIN per_doc USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "text_token_count" ->
      s"""WITH $toksCte
         |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]')) AS INT) AS n_regex_tokens
         |FROM documents JOIN toks USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH $toksCte,
         |f AS (SELECT doc_id,
         |  len(t) AS n_tokens,
         |  length((SELECT text FROM documents d WHERE d.doc_id = toks.doc_id)) AS n_chars,
         |  len(list_filter(t, x -> x IN ('the','a','of','and','to','in'))) AS n_stop
         |  FROM toks),
         |p AS (SELECT doc_id, len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct
         |      FROM documents)
         |SELECT f.doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |  CAST(n_chars AS INT) AS n_chars_calc,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS avg_token_len,
         |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         |  CAST(CASE WHEN n_tokens >= 5 THEN 0.4 ELSE 0.0 END
         |   + CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) BETWEEN 0.05 AND 0.6 THEN 0.3 ELSE 0.0 END
         |   + CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) <= 0.2 THEN 0.3 ELSE 0.0 END AS DOUBLE) AS quality_score
         |FROM f JOIN p ON f.doc_id = p.doc_id
         |ORDER BY f.doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH $langidCtes
         |SELECT doc_id, predicted,
         |  CAST(score_de AS INT) AS score_de, CAST(score_en AS INT) AS score_en,
         |  CAST(score_es AS INT) AS score_es, CAST(score_fr AS INT) AS score_fr,
         |  CAST(score_zh AS INT) AS score_zh
         |FROM pred ORDER BY doc_id""".stripMargin,

    // the same langid CTE chain, joined back to the declared language —
    // per (lang, predicted) counts and the per-lang share via a window
    "langid_confusion" ->
      s"""WITH $langidCtes,
         |cm AS MATERIALIZED (SELECT d.lang, p.predicted,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM pred p JOIN documents d USING (doc_id)
         |  GROUP BY d.lang, p.predicted)
         |SELECT lang, predicted, n,
         |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
         |  CAST(n AS DOUBLE)
         |    / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS share
         |FROM cm ORDER BY lang, predicted""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "bpe_merges" -> bpeOracle,

    "bpe_merges_batched" -> bpeBatchedOracle,

    "tokenizer_pipeline" -> tokenizerPipelineOracle,

    "wordpiece_merges" -> wordpieceOracle,
    "wordpiece_merges_batched" -> wordpieceBatchedOracle,

    "wordpiece_tokenize" -> wordpieceTokenizeOracle,

    "unigram_seed" ->
      """WITH toks AS MATERIALIZED (SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |wf AS MATERIALIZED (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
        |subs AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS w FROM (
        |   SELECT unnest(flatten(list_transform(range(1, len(w)+1), i ->
        |     list_transform(range(1, least(4, len(w)-i+1)+1),
        |       l -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece, cnt
        |   FROM wf) GROUP BY 1)
        |SELECT piece, w FROM subs WHERE w >= 2
        |ORDER BY w DESC, piece ASC LIMIT 200""".stripMargin,

    "unigram_segment" -> unigramSegmentOracle,

    "pq_codes" -> pqOracle,

    "ann_ivfpq" -> ivfPqOracle,

    "kmeans_centroids" ->
      s"""WITH $kmeansCtes
         |SELECT cell, CAST(unnest(range(len(c))) AS INT) AS pos, unnest(c) AS mean
         |FROM cent$KmeansIters ORDER BY cell, pos""".stripMargin,

    "kmeans_assign" ->
      s"""WITH $kmeansCtes,
         |fin AS (SELECT e.vec_id, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |        FROM emb e, cent$KmeansIters c)
         |SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM fin) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // the same assignment, then per cell the nearest member (ties to the
    // lowest id) and the member count — both windows replayed
    "cluster_representatives" ->
      s"""WITH $kmeansCtes,
         |fin AS (SELECT e.vec_id, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |        FROM emb e, cent$KmeansIters c),
         |asg AS (SELECT vec_id, cell, d FROM (
         |  SELECT vec_id, cell, d,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM fin) WHERE rn = 1),
         |rep AS (SELECT cell, vec_id, d,
         |          row_number() OVER (PARTITION BY cell ORDER BY d, vec_id) AS rr,
         |          CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_members
         |        FROM asg)
         |SELECT cell, vec_id AS representative_id, n_members
         |FROM rep WHERE rr = 1 ORDER BY cell""".stripMargin,

    "dsir_weights" ->
      s"""WITH $toksCte,
         |grams AS (SELECT doc_id, unnest(list_concat(t,
         |            CASE WHEN len(t) >= 2
         |                 THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
         |                 ELSE [] END)) AS gram
         |          FROM toks),
         |gb AS (SELECT g.doc_id,
         |         CAST('0x' || substr(md5(gram || ':dsir'), 1, 6) AS BIGINT)
         |           % $DsirBuckets AS bucket,
         |         d.lang
         |       FROM grams g JOIN documents d ON g.doc_id = d.doc_id),
         |feat AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
         |         FROM gb GROUP BY 1, 2),
         |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct
         |       FROM gb WHERE lang = 'en' GROUP BY 1),
         |rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM gb GROUP BY 1),
         |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM tc),
         |rt AS (SELECT CAST(sum(cr) AS BIGINT) AS tr FROM rc),
         |ratio AS (SELECT rc.bucket,
         |            CAST(round((ln((CAST(coalesce(tc.ct, 0) AS DOUBLE) + 1.0)
         |                           / (CAST(tt.tt AS DOUBLE) + 1.0 * ${DsirBuckets.toDouble}))
         |                        - ln((CAST(rc.cr AS DOUBLE) + 1.0)
         |                           / (CAST(rt.tr AS DOUBLE) + 1.0 * ${DsirBuckets.toDouble})))
         |                       * 1e6) AS BIGINT) AS r
         |          FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tt CROSS JOIN rt),
         |sc AS (SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_feat,
         |         CAST(sum(f.cnt * ratio.r) AS BIGINT) AS logw_micro
         |       FROM feat f JOIN ratio USING (bucket) GROUP BY 1)
         |SELECT d.doc_id, coalesce(sc.n_feat, 0) AS n_feat,
         |       coalesce(sc.logw_micro, 0) AS logw_micro
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "bm25_topk" ->
      s"""WITH $bm25ScoredCtes,
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score_micro DESC, doc_id) AS rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, n_terms, score_micro
         |FROM r WHERE rank <= $Bm25K
         |ORDER BY query_id, rank""".stripMargin,

    // the same scored frame anti-joined against the all-terms relevance
    // pairs BEFORE the rank cut (mirrors Retrieval.hardNegatives)
    "hard_negatives" ->
      s"""WITH $bm25ScoredCtes,
         |qn AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY 1),
         |pos AS (SELECT m.query_id, m.doc_id
         |        FROM (SELECT qt.query_id, dtq.doc_id, count(DISTINCT dtq.term) AS nm
         |              FROM qt JOIN dtq USING (term) GROUP BY 1, 2) m
         |        JOIN qn USING (query_id) WHERE m.nm = qn.nq),
         |neg AS (SELECT sc.* FROM sc
         |        LEFT JOIN pos p ON sc.query_id = p.query_id
         |          AND sc.doc_id = p.doc_id
         |        WHERE p.doc_id IS NULL),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score_micro DESC, doc_id) AS rank
         |      FROM neg)
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, n_terms, score_micro
         |FROM r WHERE rank <= $Bm25K
         |ORDER BY query_id, rank""".stripMargin,

    "semdedup_prune" ->
      s"""WITH $kmeansCtes,
         |fin AS (SELECT e.vec_id, e.v, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |        FROM emb e, cent$KmeansIters c),
         |asg AS (SELECT vec_id, v, cell FROM (
         |          SELECT vec_id, v, cell,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |          FROM fin) WHERE rn = 1),
         |drp AS (SELECT DISTINCT b.vec_id
         |        FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |        WHERE ${dotSql("a.v", "b.v")}
         |              / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")}))
         |              >= $SemDedupTau)
         |SELECT a.vec_id, a.cell,
         |       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
         |FROM asg a LEFT JOIN drp d USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,

    "lm_score_bigram" ->
      s"""WITH $toksCte,
         |tr AS (SELECT doc_id, t[i] AS ctx, t[i+1] AS tok
         |       FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
         |cnt AS (SELECT ctx, tok, count(*) AS c FROM tr GROUP BY 1, 2),
         |ctot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY 1),
         |voc AS (SELECT count(DISTINCT tok) AS v FROM cnt),
         |sc AS (SELECT r.doc_id, cn.c AS c,
         |         CAST(round(ln((coalesce(cn.c, 0) + 1.0)
         |                       / (coalesce(ct.ct, 0) + 1.0 * voc.v))
         |                    * 1000000) AS BIGINT) AS term
         |       FROM tr r
         |       LEFT JOIN cnt cn ON r.ctx = cn.ctx AND r.tok = cn.tok
         |       LEFT JOIN ctot ct ON r.ctx = ct.ctx
         |       CROSS JOIN voc),
         |agg AS (SELECT doc_id, count(*) AS n_trans,
         |          CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |          CAST(sum(term) AS BIGINT) AS lm_score
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_trans, 0) AS n_trans,
         |       coalesce(a.n_hit, 0) AS n_hit,
         |       coalesce(a.lm_score, 0) AS lm_score
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // mirrors DomainReweight.excessWeights over unigram-proxy/bigram-ref
    // scoring: micro-nat terms, exact integer sums, positive-numerator
    // floor divisions, and the EG step as integer arithmetic
    "domain_reweight" ->
      s"""WITH $lmDocScoreCtes,
         |j AS (SELECT d.doc_id, d.source AS domain,
         |        coalesce(u.n, 0) AS un, coalesce(-u.sc, 0) AS ul,
         |        coalesce(b.n, 0) AS bn, coalesce(-b.sc, 0) AS bl
         |      FROM documents d LEFT JOIN uagg u USING (doc_id)
         |      LEFT JOIN bagg b USING (doc_id)),
         |g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(un) AS BIGINT) AS units_proxy,
         |        CAST(sum(bn) AS BIGINT) AS units_ref,
         |        CAST(sum(ul) AS BIGINT) AS lp, CAST(sum(bl) AS BIGINT) AS lr
         |      FROM j GROUP BY 1),
         |f AS (SELECT domain, n_docs, units_proxy, units_ref,
         |        CAST(CASE WHEN units_proxy > 0 THEN lp // units_proxy ELSE 0 END AS BIGINT)
         |          AS loss_proxy_micro,
         |        CAST(CASE WHEN units_ref > 0 THEN lr // units_ref ELSE 0 END AS BIGINT)
         |          AS loss_ref_micro
         |      FROM g)
         |SELECT domain, n_docs, units_proxy, units_ref,
         |  loss_proxy_micro, loss_ref_micro,
         |  greatest(loss_proxy_micro - loss_ref_micro, 0) AS excess_micro,
         |  CAST((1 * greatest(loss_proxy_micro - loss_ref_micro, 0)) // 2 AS BIGINT)
         |    AS log_weight_micro
         |FROM f ORDER BY domain""".stripMargin,

    // the per-doc tier of the same chains: floor-div mean losses, clamped
    // excess, exact histogram-quantile threshold (min value whose rank
    // reaches ceil(p·n)), ties at the threshold kept
    "select_excess_loss" ->
      s"""WITH $lmDocScoreCtes,
         |exc AS (SELECT d.doc_id,
         |          CAST(CASE WHEN coalesce(u.n, 0) > 0
         |               THEN (-u.sc) // u.n ELSE 0 END AS BIGINT) AS loss_proxy_micro,
         |          CAST(CASE WHEN coalesce(b.n, 0) > 0
         |               THEN (-b.sc) // b.n ELSE 0 END AS BIGINT) AS loss_ref_micro
         |        FROM documents d LEFT JOIN uagg u USING (doc_id)
         |        LEFT JOIN bagg b USING (doc_id)),
         |exc2 AS (SELECT doc_id, loss_proxy_micro, loss_ref_micro,
         |           greatest(loss_proxy_micro - loss_ref_micro, 0) AS excess_micro
         |         FROM exc),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM exc2),
         |rk AS (SELECT excess_micro,
         |         row_number() OVER (ORDER BY excess_micro) AS rn FROM exc2),
         |thr AS (SELECT min(excess_micro) AS t FROM rk CROSS JOIN nn
         |        WHERE rn >= greatest(1, CAST(ceil(0.75 * c) AS BIGINT)))
         |SELECT e.doc_id, e.loss_proxy_micro, e.loss_ref_micro, e.excess_micro
         |FROM exc2 e CROSS JOIN thr WHERE e.excess_micro >= thr.t
         |ORDER BY e.doc_id""".stripMargin,

    "span_corruption" -> spanCorruptionOracle,

    "fill_in_middle" -> fillInMiddleOracle,

    "epoch_schedule" -> epochScheduleOracle,

    // mirrors Packing.concatSlice: same bucket draw, same cumsum offsets,
    // same intersect-range explode via generate_series, ordered string_agg
    "concat_slice" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, coalesce(t, []) || ['<eod>'] AS tk FROM toks),
         |b AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
         |        CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':slice'), 1, 8) AS BIGINT) % 8 AS INT) AS bucket
         |      FROM d),
         |c AS (SELECT *, CAST(sum(n) OVER (PARTITION BY bucket ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS s
         |      FROM b),
         |x AS (SELECT bucket, q AS seq_id, s,
         |        array_to_string(tk[CAST(greatest(q * 32, s) - s + 1 AS INT):
         |                           CAST(least((q + 1) * 32, s + n) - s AS INT)], ' ') AS piece,
         |        least((q + 1) * 32, s + n) - greatest(q * 32, s) AS plen
         |      FROM (SELECT *, unnest(range(s // 32, (s + n - 1) // 32 + 1)) AS q
         |            FROM c))
         |SELECT bucket, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(plen) AS BIGINT) AS n_tokens,
         |  string_agg(piece, ' ' ORDER BY s) AS seq_text
         |FROM x GROUP BY 1, 2
         |ORDER BY bucket, seq_id""".stripMargin,

    "packing_efficiency" -> packingEfficiencyOracle,

    // mirrors LanguageModel.scoreDocumentsKn expression-for-expression:
    // same cast points, same op order, micro-nat rounding before the sum
    "lm_score_kn" -> knOracleFor(2),

    // the same statistics and formula at the trigram tier — nothing in
    // the KN machinery is bigram-specific (contexts are opaque strings)
    "lm_score_kn3" -> knOracleFor(3),

    "dedup_substring_spans" ->
      s"""WITH $substrSpansCte
         |SELECT doc_id, CAST(span_start AS INT) AS span_start,
         |       CAST(span_end AS INT) AS span_end
         |FROM spans5 ORDER BY doc_id, span_start""".stripMargin,

    // direct suffix-string sort — algorithm-independent final-state
    // oracle for the prefix-doubling construction
    "suffix_array" ->
      s"""WITH $saSfxCtes
         |SELECT doc_id, pos,
         |  CAST(dense_rank() OVER (ORDER BY s) AS BIGINT) AS rank
         |FROM sfx ORDER BY doc_id, pos""".stripMargin,

    // adjacency by the same (suffix, doc, pos) total order; LCP by direct
    // token-list comparison (first mismatch index, ties fall to min len)
    "sa_longest_dup" ->
      s"""WITH $saSfxCtes,
         |ord AS (SELECT doc_id, pos, sl,
         |          lead(doc_id) OVER w AS d2, lead(pos) OVER w AS p2,
         |          lead(sl) OVER w AS sl2
         |        FROM sfx WINDOW w AS (ORDER BY s, doc_id, pos)),
         |lc AS (SELECT doc_id AS d1, pos AS p1, d2, p2,
         |         -- list_position yields 0 (not NULL) when no mismatch
         |         -- exists: nullif routes the full-tie case to min-len
         |         CAST(coalesce(
         |           nullif(list_position(list_transform(
         |             range(least(len(sl), len(sl2))),
         |             i -> sl[i+1] = sl2[i+1]), false), 0) - 1,
         |           least(len(sl), len(sl2))) AS BIGINT) AS lcp
         |       FROM ord WHERE d2 IS NOT NULL),
         |top AS (SELECT * FROM lc WHERE lcp >= 1
         |        ORDER BY lcp DESC, d1, p1, d2, p2 LIMIT 10)
         |SELECT t.lcp, t.d1, t.p1, t.d2, t.p2,
         |  array_to_string(st.t[CAST(t.p1 + 1 AS INT):CAST(t.p1 + t.lcp AS INT)], ' ') AS gram
         |FROM top t JOIN stoks st ON st.doc_id = t.d1
         |ORDER BY t.lcp DESC, t.d1, t.p1, t.d2, t.p2""".stripMargin,

    // the K-GRAM formulation over the SA gates' derived corpus — parity
    // against the suffix-array path IS the cross-algorithm equivalence
    "dedup_substring_sa" -> saKgramOracle,

    // the suffix-AUTOMATON formulation over the same corpus shares the
    // oracle: three independent algorithms (hashed k-grams, prefix-
    // doubling SA, generalized SAM), one pinned answer
    "dedup_substring_sam" -> saKgramOracle,

    // cross-corpus max-match by the sorted-order nearest-train property
    // (lexicographic order: lcp(a,c) = min(lcp(a,b), lcp(b,c)) for
    // a ≤ b ≤ c, so the longest train prefix is at the nearest train
    // suffix above or below) — direct token-list LCPs, NOT the Spark
    // side's doubling-table descent: parity proves the algorithm
    "decontaminate_sa" ->
      s"""WITH dcorp AS (SELECT doc_id,
         |    CASE WHEN doc_id % 30 = 0 THEN '$SaPreamble ' || text
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |dtr AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[1:64] AS t,
         |    true AS is_train
         |  FROM dcorp),
         |dev1 AS (SELECT doc_id + 1000000000 AS doc_id,
         |    t[10:25] || ['zzleak'] AS t, false AS is_train
         |  FROM dtr WHERE doc_id % 40 = 0),
         |dev2 AS (SELECT doc_id + 2000000000 AS doc_id,
         |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[1:32] AS t,
         |    false AS is_train
         |  FROM documents WHERE doc_id % 10 = 7 AND doc_id % 3 = 0),
         |dall AS (SELECT * FROM dtr UNION ALL SELECT * FROM dev1
         |         UNION ALL SELECT * FROM dev2),
         |dsfx AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:], chr(1)) AS s,
         |           t[i+1:] AS sl, is_train
         |         FROM (SELECT doc_id, t, is_train, unnest(range(len(t))) AS i
         |               FROM dall)),
         |dord AS (SELECT doc_id, pos, sl, is_train,
         |    last_value(CASE WHEN is_train THEN sl END IGNORE NULLS)
         |      OVER (ORDER BY s, doc_id, pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS psl,
         |    first_value(CASE WHEN is_train THEN sl END IGNORE NULLS)
         |      OVER (ORDER BY s, doc_id, pos
         |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nsl
         |  FROM dsfx),
         |dmm AS (SELECT doc_id, pos, greatest(
         |    coalesce(CAST(coalesce(nullif(list_position(list_transform(
         |      range(least(len(sl), len(psl))), i -> sl[i+1] = psl[i+1]),
         |      false), 0) - 1, least(len(sl), len(psl))) AS BIGINT), 0),
         |    coalesce(CAST(coalesce(nullif(list_position(list_transform(
         |      range(least(len(sl), len(nsl))), i -> sl[i+1] = nsl[i+1]),
         |      false), 0) - 1, least(len(sl), len(nsl))) AS BIGINT), 0)
         |  ) AS match_len
         |  FROM dord WHERE NOT is_train)
         |SELECT e.doc_id,
         |  coalesce(max(m.match_len), 0) AS max_match,
         |  CAST(coalesce(sum(CASE WHEN m.match_len >= 5 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_leak_starts
         |FROM (SELECT doc_id FROM dall WHERE NOT is_train) e
         |LEFT JOIN dmm m USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // winnowing: window minima over ALL gram rows first (SQL's WHERE
    // runs before window functions, so the complete-window filter must
    // come a CTE later), rightmost tie via the bounded per-window join
    "winnow_pairs" ->
      s"""WITH $toksCte,
         |wg AS (SELECT doc_id, pos,
         |    ('0x' || substr(md5(array_to_string(t[pos+1:pos+3], ' ')), 1, 12))::BIGINT AS h
         |  FROM (SELECT doc_id, t,
         |          unnest(range(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END)) AS pos
         |        FROM toks)),
         |wn AS (SELECT doc_id, count(*) AS ng FROM wg GROUP BY 1),
         |wmin AS (SELECT doc_id, pos AS s,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
         |  FROM wg),
         |wsel AS (SELECT m.doc_id, m.s, m.mn FROM wmin m JOIN wn n USING (doc_id)
         |         WHERE m.s <= n.ng - 4 OR (n.ng < 4 AND m.s = 0)),
         |wtie AS (SELECT w.doc_id, w.s, w.mn, max(g.pos) AS fpos
         |         FROM wsel w JOIN wg g ON g.doc_id = w.doc_id
         |           AND g.pos BETWEEN w.s AND w.s + 3 AND g.h = w.mn
         |         GROUP BY 1, 2, 3),
         |wdf AS (SELECT DISTINCT doc_id, mn AS fp FROM wtie),
         |wok AS (SELECT * FROM wdf WHERE fp NOT IN
         |        (SELECT fp FROM wdf GROUP BY fp HAVING count(*) > 64))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM wok a JOIN wok b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin,

    // the UniMax sequential allocation replayed as a recursive CTE over
    // the (tokens, lang)-ascending stratum order — all-integer state
    "epoch_allocation" ->
      s"""WITH RECURSIVE $toksCte,
         |tc AS (SELECT d.lang, CAST(sum(len(t)) AS BIGINT) AS n_tokens
         |       FROM toks JOIN documents d USING (doc_id)
         |       GROUP BY 1 HAVING sum(len(t)) > 0),
         |ord AS (SELECT lang, n_tokens,
         |          CAST(row_number() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS i
         |        FROM tc),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |          (SELECT 3 * CAST(sum(len(t)) AS BIGINT) // 4 FROM toks) AS budget
         |        FROM ord),
         |alloc AS (
         |  SELECT CAST(0 AS BIGINT) AS i, CAST(NULL AS VARCHAR) AS lang,
         |    CAST(0 AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS alloc_tokens,
         |    (SELECT budget FROM tot) AS remaining, (SELECT k FROM tot) AS left_k
         |  UNION ALL
         |  SELECT o.i, o.lang, o.n_tokens,
         |    least(o.n_tokens * 1, a.remaining // a.left_k),
         |    a.remaining - least(o.n_tokens * 1, a.remaining // a.left_k),
         |    a.left_k - 1
         |  FROM alloc a JOIN ord o ON o.i = a.i + 1)
         |SELECT lang, n_tokens, alloc_tokens,
         |  CAST(alloc_tokens * 1000000 // n_tokens AS BIGINT) AS epochs_micro
         |FROM alloc WHERE i > 0 ORDER BY n_tokens, lang""".stripMargin,

    "dedup_substring_scrub" ->
      s"""WITH $substrSpansCte,
         |tokpos AS (SELECT doc_id, pos, t[pos+1] AS tok
         |           FROM (SELECT doc_id, t, unnest(range(len(t))) AS pos FROM toks)),
         |keep AS (SELECT p.doc_id, p.pos, p.tok FROM tokpos p
         |         LEFT JOIN spans5 sp ON p.doc_id = sp.doc_id
         |           AND p.pos >= sp.span_start AND p.pos < sp.span_end
         |         WHERE sp.doc_id IS NULL),
         |rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
         |            FROM keep GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(r.txt, '') AS text_dedup
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH $toksCte,
         |w AS (SELECT doc_id, len(t) AS word_total,
         |             len(list_distinct(t)) AS word_distinct FROM toks),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(range(len(t) - 1),
         |                i -> t[i+1] || ' ' || t[i+2])) AS b
         |       FROM toks WHERE len(t) >= 2),
         |bgc AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(n) AS top_n FROM bgc GROUP BY 1)
         |SELECT w.doc_id,
         |  CAST(word_total AS INT) AS word_total,
         |  CAST(word_distinct AS INT) AS word_distinct,
         |  CASE WHEN word_total > 0
         |       THEN 1.0 - CAST(word_distinct AS DOUBLE) / CAST(word_total AS DOUBLE)
         |       ELSE NULL END AS dup_word_frac,
         |  CASE WHEN word_total >= 2
         |       THEN CAST(top_n AS DOUBLE) / CAST(word_total - 1 AS DOUBLE)
         |       ELSE 0.0 END AS top_bigram_share
         |FROM w LEFT JOIN top ON w.doc_id = top.doc_id
         |ORDER BY w.doc_id""".stripMargin,

    // mirrors TextAnalysis.lineRepetition over the same derived lined view
    "text_line_repetition" ->
      s"""WITH lined AS (SELECT doc_id,
         |    replace(text, ' table ', chr(10))
         |    || CASE WHEN doc_id % 4 = 0
         |            THEN chr(10) || 'foo bar...' || chr(10) || 'foo bar...'
         |                 || chr(10) || '- item'
         |            ELSE '' END AS text
         |  FROM documents),
         |ln AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
         |       FROM lined),
         |g AS (SELECT doc_id, line, count(*) AS cnt FROM ln GROUP BY 1, 2),
         |f AS (SELECT doc_id, cnt, length(line) AS l,
         |        CASE WHEN line LIKE '- %' OR line LIKE '* %'
         |               OR line LIKE '•%' THEN 1 ELSE 0 END AS bul,
         |        CASE WHEN line LIKE '%...' OR line LIKE '%…'
         |             THEN 1 ELSE 0 END AS ell
         |      FROM g),
         |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
         |        CAST(count(*) AS BIGINT) AS n_distinct_lines,
         |        CAST(sum((cnt - 1) * l) AS BIGINT) AS dc,
         |        CAST(sum(cnt * l) AS BIGINT) AS tc,
         |        CAST(sum(cnt * bul) AS BIGINT) AS bu,
         |        CAST(sum(cnt * ell) AS BIGINT) AS el
         |      FROM f GROUP BY 1)
         |SELECT doc_id, n_lines, n_distinct_lines,
         |  CAST(n_lines - n_distinct_lines AS DOUBLE) / CAST(n_lines AS DOUBLE)
         |    AS dup_line_frac,
         |  CASE WHEN tc > 0 THEN CAST(dc AS DOUBLE) / CAST(tc AS DOUBLE)
         |       ELSE 0.0 END AS dup_line_char_frac,
         |  CAST(bu AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_line_frac,
         |  CAST(el AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_line_frac
         |FROM a ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.dupNgramCoverage at k=5 over the self-concat
    // derivation: within-doc duplicated 5-grams, interval merge, covered
    // positions weighed by token length
    "text_dup_ngram_coverage" ->
      s"""WITH t2 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
         |         FROM t2),
         |tl AS (SELECT doc_id, i AS pos, length(t[i+1]) AS l
         |       FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |          CAST(sum(l) AS BIGINT) AS token_chars
         |        FROM tl GROUP BY 1),
         |g5 AS (SELECT doc_id, pos, array_to_string(t[pos+1:pos+5], ' ') AS gram
         |       FROM (SELECT doc_id, t,
         |               unnest(range(CASE WHEN len(t) >= 5 THEN len(t) - 4 ELSE 0 END)) AS pos
         |             FROM toks)),
         |dup AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING count(*) >= 2),
         |hit AS (SELECT g.doc_id, g.pos, g.pos + 5 AS e
         |        FROM g5 g JOIN dup d ON g.doc_id = d.doc_id AND g.gram = d.gram),
         |mrg AS (SELECT doc_id, pos, e,
         |          max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
         |        FROM hit),
         |flg AS (SELECT doc_id, pos, e,
         |          CASE WHEN runmax IS NULL OR pos > runmax THEN 1 ELSE 0 END AS nf
         |        FROM mrg),
         |grp AS (SELECT doc_id, pos, e,
         |          sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS UNBOUNDED PRECEDING) AS gid
         |        FROM flg),
         |spans AS (SELECT doc_id, min(pos) AS s, max(e) AS e FROM grp GROUP BY doc_id, gid),
         |cov AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM spans),
         |cv AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS ct,
         |         CAST(sum(l) AS BIGINT) AS cc
         |       FROM cov c JOIN tl USING (doc_id, pos) GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(tot.n_tokens, 0) AS n_tokens,
         |  coalesce(tot.token_chars, 0) AS token_chars,
         |  coalesce(cv.ct, 0) AS covered_tokens,
         |  coalesce(cv.cc, 0) AS covered_chars,
         |  CASE WHEN coalesce(tot.n_tokens, 0) > 0
         |       THEN CAST(coalesce(cv.ct, 0) AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE)
         |       ELSE 0.0 END AS dup_ngram_token_frac,
         |  CASE WHEN coalesce(tot.token_chars, 0) > 0
         |       THEN CAST(coalesce(cv.cc, 0) AS DOUBLE) / CAST(tot.token_chars AS DOUBLE)
         |       ELSE 0.0 END AS dup_ngram_char_frac
         |FROM documents d LEFT JOIN tot ON d.doc_id = tot.doc_id
         |LEFT JOIN cv ON d.doc_id = cv.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_keep" ->
      s"""WITH RECURSIVE $shinglesCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |jp AS (SELECT doc_a AS a, doc_b AS b
         |       FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
         |       WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3),
         |ep AS (SELECT a, b FROM (
         |         SELECT min(doc_id) OVER (PARTITION BY text) AS a, doc_id AS b
         |         FROM documents) WHERE a <> b),
         |edges AS (SELECT a, b FROM jp UNION SELECT a, b FROM ep
         |          UNION SELECT b, a FROM jp UNION SELECT b, a FROM ep),
         |walk(id, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         |drop_ids AS (SELECT id FROM walk GROUP BY id HAVING min(lab) <> id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
         |ORDER BY doc_id""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $shinglesCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |jp AS (SELECT doc_a AS a, doc_b AS b
         |       FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
         |       WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3),
         |ep AS (SELECT a, b FROM (
         |         SELECT min(doc_id) OVER (PARTITION BY text) AS a, doc_id AS b
         |         FROM documents) WHERE a <> b),
         |edges AS (SELECT a, b FROM jp UNION SELECT a, b FROM ep
         |          UNION SELECT b, a FROM jp UNION SELECT b, a FROM ep),
         |walk(id, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         |memb AS (SELECT id, min(lab) AS comp FROM walk GROUP BY id),
         |scored AS (SELECT m.id, m.comp, len(t.t) AS q
         |           FROM memb m JOIN toks t ON t.doc_id = m.id),
         |win AS (SELECT id FROM (
         |          SELECT id, row_number() OVER (PARTITION BY comp
         |            ORDER BY q DESC, id) AS rn
         |          FROM scored) WHERE rn = 1),
         |drop_ids AS (SELECT s.id FROM scored s
         |             WHERE s.id NOT IN (SELECT id FROM win))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
         |ORDER BY doc_id""".stripMargin,

    // keep-best's window generalized to rn <= k — the keep-k policy
    "dedup_keep_k" ->
      s"""WITH RECURSIVE $shinglesCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |jp AS (SELECT doc_a AS a, doc_b AS b
         |       FROM common JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
         |       WHERE CAST(n_common AS DOUBLE) / CAST(x.n + y.n - n_common AS DOUBLE) >= 0.3),
         |ep AS (SELECT a, b FROM (
         |         SELECT min(doc_id) OVER (PARTITION BY text) AS a, doc_id AS b
         |         FROM documents) WHERE a <> b),
         |edges AS (SELECT a, b FROM jp UNION SELECT a, b FROM ep
         |          UNION SELECT b, a FROM jp UNION SELECT b, a FROM ep),
         |walk(id, lab) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.id),
         |memb AS (SELECT id, min(lab) AS comp FROM walk GROUP BY id),
         |scored AS (SELECT m.id, m.comp, len(t.t) AS q
         |           FROM memb m JOIN toks t ON t.doc_id = m.id),
         |win AS (SELECT id FROM (
         |          SELECT id, row_number() OVER (PARTITION BY comp
         |            ORDER BY q DESC, id) AS rn
         |          FROM scored) WHERE rn <= $ReportKeepK),
         |drop_ids AS (SELECT s.id FROM scored s
         |             WHERE s.id NOT IN (SELECT id FROM win))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM drop_ids)
         |ORDER BY doc_id""".stripMargin,

    // min-label closure as a recursive CTE: seed every edge endpoint with
    // its own id, propagate along (symmetric) edges, take the min label —
    // set-semantics UNION terminates the recursion at the fixed point.
    "dedup_components" -> componentsOracle,
    // the star-contraction implementation must produce the identical
    // cluster map — one oracle, two engines' worth of evidence
    "dedup_components_stars" -> componentsOracle,

    // the same recursive walk, aggregated to the size histogram
    "dedup_report" -> dedupReportOracle,

    "dedup_jaccard" -> jaccardOracle,

    // the prefix-filtered path is a different CANDIDATE strategy, not a
    // different similarity: the pair set is a function of the corpus and
    // the threshold, so one oracle gates both engines' worth of evidence
    // (the componentsOracle discipline)
    "dedup_jaccard_prefix" -> jaccardOracle,

    // permutation constants mirror Dedup.MinhashA/B/Mod verbatim
    "dedup_minhash_lsh" ->
      s"""WITH $lshBandsCtes
         |SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
         |FROM bands b1 JOIN bands b2
         |  ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id
         |ORDER BY 1, 2""".stripMargin,

    // the LSH pair chain + two membership joins + canonicalized group agg
    "dedup_source_matrix" ->
      s"""WITH $lshBandsCtes,
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM bands b1 JOIN bands b2
         |    ON b1.band = b2.band AND b1.sig = b2.sig AND b1.doc_id < b2.doc_id)
         |SELECT least(da.source, db.source) AS group_a,
         |  greatest(da.source, db.source) AS group_b,
         |  count(*) AS n_pairs
         |FROM prs JOIN documents da ON da.doc_id = prs.doc_a
         |JOIN documents db ON db.doc_id = prs.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
         |md AS (SELECT doc_id, md5(tk) AS h FROM tok),
         |bits AS (SELECT doc_id, j,
         |           sum(((strpos('0123456789abcdef', substr(h, j, 1)) - 1) % 2) * 2 - 1) AS s
         |         FROM md CROSS JOIN (SELECT unnest(range(1, 17)) AS j) GROUP BY 1, 2),
         |sims AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1 << (j - 1) ELSE 0 END) AS BIGINT) AS sim
         |         FROM bits GROUP BY 1),
         |rk AS (SELECT doc_id, sim,
         |         row_number() OVER (PARTITION BY sim ORDER BY doc_id) AS rn
         |       FROM sims)
         |SELECT sim, count(*) AS n_docs, min(doc_id) AS keep_id,
         |  string_agg(CASE WHEN rn <= 16 THEN CAST(doc_id AS VARCHAR) END,
         |             ',' ORDER BY doc_id) AS doc_ids
         |FROM rk GROUP BY 1 HAVING count(*) > 1 ORDER BY sim""".stripMargin,

    "dedup_incremental" ->
      """SELECT doc_id FROM documents b
        |WHERE doc_id % 7 <> 0
        |  AND md5(b.text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id % 7 = 0)
        |ORDER BY doc_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS av, b.v AS bv
         |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
         |s AS (SELECT vec_a, vec_b,
         |        ${dotSql("av", "bv")} AS d,
         |        sqrt(${dotSql("av", "av")}) AS na,
         |        sqrt(${dotSql("bv", "bv")}) AS nb
         |      FROM p)
         |SELECT vec_a, vec_b, d / (na * nb) AS cos
         |FROM s WHERE d / (na * nb) >= 0.4
         |ORDER BY 1, 2""".stripMargin,

    // the leakage report replays brute-force max-cosine per bench vector;
    // row_number (cos DESC, nid) top-1 ≡ Spark's max(struct(cos, −nid))
    "eval_nn_leakage" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id AS doc_id, v AS qv FROM e WHERE vec_id % 23 = 0),
         |c AS (SELECT vec_id AS nid, v AS cv FROM e WHERE vec_id % 23 <> 0),
         |s AS (SELECT q.doc_id, c.nid,
         |        ${dotSql("q.qv", "c.cv")} / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("c.cv", "c.cv")})) AS cos
         |      FROM q, c),
         |r AS (SELECT doc_id, nid, cos,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY cos DESC, nid) AS rn
         |      FROM s)
         |SELECT doc_id, nid AS neighbor_id, cos AS max_cos,
         |  (cos >= $NnLeakThreshold) AS leaked
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // 6-char blocking + exact integer edit distance; the hot-block guard
    // mirrored (no block exceeds 64 at any SF — exercise-without-effect
    // here, the quadratic defense at scale)
    "dedup_levenshtein" ->
      s"""WITH $toksCte,
         |ti AS (SELECT doc_id, array_to_string(t[1:4], ' ') AS title FROM toks),
         |bl AS (SELECT doc_id, title, substr(title, 1, 6) AS blk FROM ti),
         |ok AS (SELECT * FROM bl WHERE blk NOT IN
         |       (SELECT blk FROM bl GROUP BY blk HAVING count(*) > 64))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  a.title AS key_a, b.title AS key_b,
         |  CAST(levenshtein(a.title, b.title) AS INT) AS distance
         |FROM ok a JOIN ok b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.title, b.title) <= 2
         |ORDER BY id_a, id_b""".stripMargin,

    // the unrolled integer power-iteration trajectory, round for round
    "embedding_top_pc" ->
      s"""WITH ${pcaCtes(4)}
         |SELECT pos, x AS pc_micro FROM px4 ORDER BY pos""".stripMargin,

    // same trajectory + the staged coefficient divisions
    "embedding_pc_coef" ->
      s"""WITH ${pcaCtes(4)},
         |pxn AS (SELECT greatest(CAST(1 AS BIGINT),
         |          CAST(sum(x * x) AS BIGINT) // 1000000) AS x6 FROM px4),
         |ppf AS (SELECT vec_id, CAST(sum(u * x) AS BIGINT) // 1000000 AS p6
         |        FROM pu JOIN px4 USING (pos) GROUP BY 1)
         |SELECT vec_id, (p6 * 1000) // x6 AS coef_micro
         |FROM ppf, pxn ORDER BY vec_id""".stripMargin,

    // ratio margin in pure integers over nano-quantized cosines; k-NN
    // averages as truncating divisions; per-A-vector argmax (margin desc, id)
    "bitext_margin" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |sa AS (SELECT vec_id AS ia, v FROM e WHERE vec_id % 2 = 0),
         |sb AS (SELECT vec_id AS ib, v FROM e WHERE vec_id % 2 = 1),
         |x AS (SELECT sa.ia, sb.ib,
         |        CAST(round(${dotSql("sa.v", "sb.v")}
         |          / (sqrt(${dotSql("sa.v", "sa.v")}) * sqrt(${dotSql("sb.v", "sb.v")}))
         |          * 1e9) AS BIGINT) AS cn
         |      FROM sa, sb),
         |ka AS (SELECT ia, CAST(sum(cn) AS BIGINT) // count(*) AS av
         |       FROM (SELECT *, row_number() OVER (PARTITION BY ia
         |               ORDER BY cn DESC, ib) AS rn FROM x)
         |       WHERE rn <= 4 GROUP BY 1),
         |kb AS (SELECT ib, CAST(sum(cn) AS BIGINT) // count(*) AS bv
         |       FROM (SELECT *, row_number() OVER (PARTITION BY ib
         |               ORDER BY cn DESC, ia) AS rn FROM x)
         |       WHERE rn <= 4 GROUP BY 1),
         |m AS (SELECT x.ia, x.ib, x.cn,
         |        CAST((2 * x.cn * 1000000) // (ka.av + kb.bv) AS BIGINT) AS mm
         |      FROM x JOIN ka USING (ia) JOIN kb USING (ib)
         |      WHERE x.cn >= 0 AND ka.av + kb.bv > 0)
         |SELECT ia AS vec_id_a, ib AS vec_id_b, cn AS cos_nano,
         |  mm AS margin_micro, mm >= $BitextThresholdMicro AS accepted
         |FROM (SELECT *, row_number() OVER (PARTITION BY ia
         |        ORDER BY mm DESC, ib) AS rn FROM m)
         |WHERE rn = 1 ORDER BY vec_id_a""".stripMargin,

    // same margin chain; both argmax directions joined on equality
    "bitext_mutual" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |sa AS (SELECT vec_id AS ia, v FROM e WHERE vec_id % 2 = 0),
         |sb AS (SELECT vec_id AS ib, v FROM e WHERE vec_id % 2 = 1),
         |x AS (SELECT sa.ia, sb.ib,
         |        CAST(round(${dotSql("sa.v", "sb.v")}
         |          / (sqrt(${dotSql("sa.v", "sa.v")}) * sqrt(${dotSql("sb.v", "sb.v")}))
         |          * 1e9) AS BIGINT) AS cn
         |      FROM sa, sb),
         |ka AS (SELECT ia, CAST(sum(cn) AS BIGINT) // count(*) AS av
         |       FROM (SELECT *, row_number() OVER (PARTITION BY ia
         |               ORDER BY cn DESC, ib) AS rn FROM x)
         |       WHERE rn <= 4 GROUP BY 1),
         |kb AS (SELECT ib, CAST(sum(cn) AS BIGINT) // count(*) AS bv
         |       FROM (SELECT *, row_number() OVER (PARTITION BY ib
         |               ORDER BY cn DESC, ia) AS rn FROM x)
         |       WHERE rn <= 4 GROUP BY 1),
         |m AS (SELECT x.ia, x.ib, x.cn,
         |        CAST((2 * x.cn * 1000000) // (ka.av + kb.bv) AS BIGINT) AS mm
         |      FROM x JOIN ka USING (ia) JOIN kb USING (ib)
         |      WHERE x.cn >= 0 AND ka.av + kb.bv > 0),
         |ba AS (SELECT ia, ib, cn, mm FROM (
         |         SELECT *, row_number() OVER (PARTITION BY ia
         |           ORDER BY mm DESC, ib) AS rn FROM m) WHERE rn = 1),
         |bb AS (SELECT ia, ib FROM (
         |         SELECT *, row_number() OVER (PARTITION BY ib
         |           ORDER BY mm DESC, ia) AS rn FROM m) WHERE rn = 1)
         |SELECT ba.ia AS vec_id_a, ba.ib AS vec_id_b, ba.cn AS cos_nano,
         |  ba.mm AS margin_micro, ba.mm >= $BitextThresholdMicro AS accepted
         |FROM ba JOIN bb ON ba.ia = bb.ia AND ba.ib = bb.ib
         |ORDER BY vec_id_a""".stripMargin,

    "ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        ${dotSql("q.v", "c.v")} / (sqrt(${dotSql("q.v", "q.v")}) * sqrt(${dotSql("c.v", "c.v")})) AS cos
         |      FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |      WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "ann_ivf" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cell, vv AS cv FROM v WHERE vec_id < 16),
         |ad AS (SELECT v.vec_id, c.cell, ${sqDistSql("v.vv", "c.cv")} AS d FROM v, c),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ad)
         |        WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 10),
         |qd AS (SELECT q.query_id, q.qv, c.cell, ${sqDistSql("q.qv", "c.cv")} AS d FROM q, c),
         |probes AS (SELECT query_id, qv, cell FROM (
         |             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd)
         |           WHERE rn <= 4),
         |cand AS (SELECT p.query_id, p.qv, a.vec_id FROM probes p
         |         JOIN asg a USING (cell) WHERE a.vec_id <> p.query_id),
         |scored AS (SELECT cand.query_id, cand.vec_id AS neighbor_id,
         |             ${dotSql("cand.qv", "v.vv")} /
         |               (sqrt(${dotSql("cand.qv", "cand.qv")}) * sqrt(${dotSql("v.vv", "v.vv")})) AS cos
         |           FROM cand JOIN v ON cand.vec_id = v.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "ann_recall" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
         |           FROM embeddings),
         |ex AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("q.vv", "c.vv")} /
         |           (sqrt(${dotSql("q.vv", "q.vv")}) * sqrt(${dotSql("c.vv", "c.vv")})) AS cos
         |       FROM v q JOIN v c ON c.vec_id <> q.vec_id
         |       WHERE q.vec_id < 10),
         |exr AS (SELECT query_id, neighbor_id FROM (
         |          SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY cos DESC, neighbor_id) AS rank FROM ex)
         |        WHERE rank <= 3),
         |c AS (SELECT vec_id AS cell, vv AS cv FROM v WHERE vec_id < 16),
         |ad AS (SELECT v.vec_id, c.cell, ${sqDistSql("v.vv", "c.cv")} AS d FROM v, c),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ad)
         |        WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 10),
         |qd AS (SELECT q.query_id, q.qv, c.cell, ${sqDistSql("q.qv", "c.cv")} AS d FROM q, c),
         |probes AS (SELECT query_id, qv, cell FROM (
         |             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd)
         |           WHERE rn <= 4),
         |cand AS (SELECT p.query_id, p.qv, a.vec_id FROM probes p
         |         JOIN asg a USING (cell) WHERE a.vec_id <> p.query_id),
         |apx AS (SELECT cand.query_id, cand.vec_id AS neighbor_id,
         |          ${dotSql("cand.qv", "v.vv")} /
         |            (sqrt(${dotSql("cand.qv", "cand.qv")}) * sqrt(${dotSql("v.vv", "v.vv")})) AS cos
         |        FROM cand JOIN v ON cand.vec_id = v.vec_id),
         |apxr AS (SELECT query_id, neighbor_id FROM (
         |           SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, neighbor_id) AS rank FROM apx)
         |         WHERE rank <= 3),
         |tn AS (SELECT query_id, count(*) AS n FROM exr GROUP BY 1),
         |h AS (SELECT e.query_id, count(*) AS hits
         |      FROM exr e JOIN apxr a
         |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |      GROUP BY 1)
         |SELECT tn.query_id,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / CAST(tn.n AS DOUBLE) AS recall
         |FROM tn LEFT JOIN h USING (query_id)
         |ORDER BY tn.query_id""".stripMargin,

    // the sweep oracle replays the widest search ONCE and cuts per
    // depth, exactly the Spark formulation (a probe at rank p is inside
    // every depth >= p); recall is pooled-truth integer micro units
    "ann_recall_sweep" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
         |           FROM embeddings),
         |ex AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         ${dotSql("q.vv", "c.vv")} /
         |           (sqrt(${dotSql("q.vv", "q.vv")}) * sqrt(${dotSql("c.vv", "c.vv")})) AS cos
         |       FROM v q JOIN v c ON c.vec_id <> q.vec_id
         |       WHERE q.vec_id < 10),
         |exr AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |          SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY cos DESC, neighbor_id) AS rank FROM ex)
         |        WHERE rank <= 3),
         |c AS (SELECT vec_id AS cell, vv AS cv FROM v WHERE vec_id < 16),
         |ad AS (SELECT v.vec_id, c.cell, ${sqDistSql("v.vv", "c.cv")} AS d FROM v, c),
         |asg AS (SELECT vec_id, cell FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ad)
         |        WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, vv AS qv FROM v WHERE vec_id < 10),
         |qd AS (SELECT q.query_id, q.qv, c.cell, ${sqDistSql("q.qv", "c.cv")} AS d FROM q, c),
         |probes AS (SELECT query_id, qv, cell, rn AS pr FROM (
         |             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cell) AS rn FROM qd)
         |           WHERE rn <= 8),
         |cand AS (SELECT p.query_id, p.qv, p.pr, a.vec_id FROM probes p
         |         JOIN asg a USING (cell) WHERE a.vec_id <> p.query_id),
         |sc AS MATERIALIZED (SELECT cand.query_id, cand.pr, cand.vec_id AS neighbor_id,
         |        ${dotSql("cand.qv", "v.vv")} /
         |          (sqrt(${dotSql("cand.qv", "cand.qv")}) * sqrt(${dotSql("v.vv", "v.vv")})) AS cos
         |      FROM cand JOIN v ON cand.vec_id = v.vec_id),
         |np(n_probe) AS (VALUES (1), (2), (4), (8)),
         |apxr AS (SELECT n_probe, query_id, neighbor_id FROM (
         |           SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
         |             ORDER BY cos DESC, neighbor_id) AS rank
         |           FROM sc CROSS JOIN np WHERE pr <= n_probe)
         |         WHERE rank <= 3),
         |tot AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |          CAST(count(*) AS BIGINT) AS sum_truth FROM exr),
         |h AS (SELECT a.n_probe, CAST(count(*) AS BIGINT) AS sum_hits
         |      FROM apxr a JOIN exr e
         |        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |      GROUP BY 1)
         |SELECT np.n_probe, tot.n_queries, tot.sum_truth,
         |  COALESCE(h.sum_hits, 0) AS sum_hits,
         |  CASE WHEN tot.sum_truth = 0 THEN 0
         |       ELSE (1000000 * COALESCE(h.sum_hits, 0)) // tot.sum_truth
         |  END AS recall_micro
         |FROM np CROSS JOIN tot LEFT JOIN h USING (n_probe)
         |ORDER BY np.n_probe""".stripMargin,

    "ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v,
         |        CAST((CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
         |           + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
         |           + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END) + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
         |           + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END) + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS BIGINT) AS bucket
         |      FROM e),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        ${dotSql("q.v", "c.v")} / (sqrt(${dotSql("q.v", "q.v")}) * sqrt(${dotSql("c.v", "c.v")})) AS cos
         |      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |      WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM l)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  date_diff('millisecond', min(ts), max(ts)) AS duration_ms
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // same draws, same IEEE op order (sqrt is correctly rounded in both
    // engines), double compare on the exact 32-bit draw value
    "token_subsample" ->
      s"""WITH $toksCte,
         |tp AS MATERIALIZED (SELECT doc_id, i AS pos, t[i+1] AS tok
         |  FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)),
         |f AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tp GROUP BY 1),
         |n AS (SELECT CAST(sum(cf) AS BIGINT) AS cn FROM f)
         |SELECT doc_id, CAST(pos AS INT) AS pos, tok
         |FROM tp JOIN f USING (tok) CROSS JOIN n
         |WHERE CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
         |        CAST(pos AS VARCHAR) || ':w2v'), 1, 8) AS BIGINT) AS DOUBLE)
         |      < least(1.0, sqrt(0.001 / (CAST(cf AS DOUBLE) / CAST(cn AS DOUBLE)))
         |               + 0.001 / (CAST(cf AS DOUBLE) / CAST(cn AS DOUBLE))) * 4294967296.0
         |ORDER BY doc_id, pos""".stripMargin,

    // the same lead/lag unpivot over positioned tokens (window = 2)
    "skipgram_pairs" ->
      s"""WITH $toksCte,
         |tp AS MATERIALIZED (SELECT doc_id, i AS pos, t[i+1] AS tok
         |  FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)),
         |px AS (
         |  SELECT tok AS center, -1 AS dist,
         |    lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS ctx FROM tp
         |  UNION ALL
         |  SELECT tok, 1, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) FROM tp
         |  UNION ALL
         |  SELECT tok, -2, lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) FROM tp
         |  UNION ALL
         |  SELECT tok, 2, lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) FROM tp)
         |SELECT center, ctx AS context, dist, CAST(count(*) AS BIGINT) AS n
         |FROM px WHERE ctx IS NOT NULL
         |GROUP BY 1, 2, 3
         |ORDER BY center, context, dist""".stripMargin,

    // sessionize's island formulation extended with the ordered
    // event-type string (same gap break, ties on event_id both sides)
    "session_sequences" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM l)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // the deterministic decode stub doubles as the oracle formula
    "multimodal_decode" ->
      """WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |             md5(text) AS digest
        |           FROM documents),
        |f AS (SELECT doc_id, byte_len,
        |        CAST(64 + byte_len % 576 AS INT) AS width,
        |        CAST(64 + (byte_len * 7) % 296 AS INT) AS height,
        |        CAST(byte_len // 100 + 1 AS INT) AS n_frames, digest
        |      FROM m),
        |r AS (SELECT *, CASE WHEN greatest(width, height) > 512
        |                     THEN CAST(512 AS DOUBLE) / CAST(greatest(width, height) AS DOUBLE)
        |                     ELSE 1.0 END AS scale
        |      FROM f)
        |SELECT doc_id, byte_len, width, height, n_frames, digest,
        |  CAST(floor(width * scale) AS INT) AS out_width,
        |  CAST(floor(height * scale) AS INT) AS out_height
        |FROM r ORDER BY doc_id""".stripMargin,

    // the whole hash derivation replayed in integer SQL, band by band
    "phash" ->
      s"""WITH $phashCtes,
         |aa AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN bi = 0 THEN bv ELSE 0 END) AS BIGINT) AS a0,
         |    CAST(sum(CASE WHEN bi = 1 THEN bv ELSE 0 END) AS BIGINT) AS a1,
         |    CAST(sum(CASE WHEN bi = 2 THEN bv ELSE 0 END) AS BIGINT) AS a2,
         |    CAST(sum(CASE WHEN bi = 3 THEN bv ELSE 0 END) AS BIGINT) AS a3
         |  FROM phband GROUP BY 1),
         |dd AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN bi = 0 THEN bv ELSE 0 END) AS BIGINT) AS d0,
         |    CAST(sum(CASE WHEN bi = 1 THEN bv ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN bi = 2 THEN bv ELSE 0 END) AS BIGINT) AS d2,
         |    CAST(sum(CASE WHEN bi = 3 THEN bv ELSE 0 END) AS BIGINT) AS d3
         |  FROM phdband GROUP BY 1)
         |SELECT doc_id, a0, a1, a2, a3, d0, d1, d2, d3
         |FROM aa JOIN dd USING (doc_id) ORDER BY doc_id""".stripMargin,

    // band-bucket candidates + exact popcount — the pigeonhole property
    // (radius ≤ bands-1 ⇒ some band matches) makes the banded candidate
    // set EXACT, so the oracle can use the same bucketing without being
    // the same code path: the Spark side buckets via posexplode + cap
    // guard + posting lists, the oracle via a direct band self-join
    "dedup_phash" ->
      s"""WITH $phashCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM phband a JOIN phband b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |hx AS (SELECT c.doc_a, c.doc_b,
         |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
         |  FROM cand c
         |  JOIN phband x ON x.doc_id = c.doc_a
         |  JOIN phband y ON y.doc_id = c.doc_b AND y.bi = x.bi
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, hamming FROM hx
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // aHash candidates, both hamming distances, both thresholds — the
    // conjunction replayed from the shared CTE chain (candidates still
    // come from phband alone, exactly the Spark engine's contract)
    "dedup_phash_and" ->
      s"""WITH $phashCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM phband a JOIN phband b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |hx AS (SELECT c.doc_a, c.doc_b,
         |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
         |  FROM cand c
         |  JOIN phband x ON x.doc_id = c.doc_a
         |  JOIN phband y ON y.doc_id = c.doc_b AND y.bi = x.bi
         |  GROUP BY 1, 2),
         |hd AS (SELECT c.doc_a, c.doc_b,
         |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming_verify
         |  FROM cand c
         |  JOIN phdband x ON x.doc_id = c.doc_a
         |  JOIN phdband y ON y.doc_id = c.doc_b AND y.bi = x.bi
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, hamming, hamming_verify
         |FROM hx JOIN hd USING (doc_a, doc_b)
         |WHERE hamming <= 3 AND hamming_verify <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the L159 pair set fed through the shared recursive min-label walk;
    // survivors = canonical ids + untouched images
    "dedup_phash_keep" -> phashKeepOracle,

    "text_scrub" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '<[^<>]+>', ' ', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '[ \t\n]+', ' ', 'g'))) AS scrub_md5,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS n_urls,
        |  len(regexp_extract_all(text, '<[^<>]+>')) AS n_tags
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_nfc" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' cafe' || chr(769) || ' angstrom A' || chr(778) AS t
        |  FROM documents)
        |SELECT doc_id, md5(nfc_normalize(t)) AS nfc_md5,
        |  CAST(length(t) - length(nfc_normalize(t)) AS BIGINT) AS n_composed
        |FROM p ORDER BY doc_id""".stripMargin,

    "text_scrub_pii" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       || ' or +1415555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |       || '.' || CAST(doc_id % 100 AS VARCHAR) || '.7' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(t, '<[^<>]+>', ' ', 'g'),
        |            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |          'https?://[^ \t\n]+', '<URL>', 'g'),
        |        '\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\b', '<IP>', 'g'),
        |      '\+[0-9]{7,15}\b|\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g'),
        |    '[ \t\n]+', ' ', 'g'))) AS scrub_md5,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, 'https?://[^ \t\n]+')) AS n_urls,
        |  len(regexp_extract_all(t, '<[^<>]+>')) AS n_tags,
        |  len(regexp_extract_all(t, '\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\b')) AS n_ips,
        |  len(regexp_extract_all(t, '\+[0-9]{7,15}\b|\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phones
        |FROM p ORDER BY doc_id""".stripMargin,

    "embedding_centroids" ->
      """WITH e AS (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS pos,
        |         unnest(embedding) AS val
        |  FROM embeddings)
        |SELECT label, pos,
        |  CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
        |    / (count(*) * 1e9) AS mean
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "pack_sequences" ->
      s"""WITH $toksCte,
         |n AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
         |b AS (SELECT doc_id, n_tokens,
         |  CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8) AS BIGINT) % 8 AS INT) AS bucket
         |  FROM n),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b)
         |SELECT doc_id, bucket, CAST((cum - n_tokens) // 2048 AS BIGINT) AS example_id, n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    // maxTokens=40, overlap=8 → stride 32; chunk count ceil((n-8)/32) min 1
    "chunk_documents" ->
      s"""WITH $toksCte,
         |c AS (SELECT doc_id, t,
         |        greatest(CAST(ceil(CAST(len(t) - 8 AS DOUBLE) / 32) AS INT), 1) AS nc
         |      FROM toks),
         |ch AS (SELECT doc_id, CAST(unnest(range(nc)) AS INT) AS chunk_id, t
         |       FROM c)
         |SELECT doc_id, chunk_id,
         |  array_to_string(t[chunk_id * 32 + 1 : chunk_id * 32 + 40], ' ') AS chunk_text,
         |  CAST(len(t[chunk_id * 32 + 1 : chunk_id * 32 + 40]) AS INT) AS chunk_tokens
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    // Hex thresholds are Sampling.thresholdHex's exact output:
    // 0.1->19999999, 0.25->40000000, 0.5->80000000, 1.0->'g' (admits all);
    // the draw is the first 8 md5 hex digits of "<doc_id>:<salt>".
    "quality_gopher" ->
      s"""WITH $toksCte,
         |m AS (SELECT d.doc_id,
         |        len(t) AS n_words,
         |        coalesce(list_sum(list_transform(t, x -> len(x))), 0) AS char_sum,
         |        len(d.text) - len(replace(d.text, '#', '')) AS n_hash,
         |        CAST((len(d.text) - len(replace(d.text, '...', ''))) / 3 AS INT) AS n_ell,
         |        len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         |        len(list_filter(t, x -> list_contains(
         |          ['the','be','to','of','and','that','have','with'], lower(x)))) AS n_stop
         |      FROM toks JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id,
         |        CAST(n_words AS INT) AS n_words,
         |        CASE WHEN n_words > 0
         |             THEN CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE)
         |             ELSE 0.0 END AS mean_word_len,
         |        CASE WHEN n_words > 0
         |             THEN CAST(n_hash + n_ell AS DOUBLE) / CAST(n_words AS DOUBLE)
         |             ELSE 0.0 END AS symbol_word_ratio,
         |        CASE WHEN n_words > 0
         |             THEN CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
         |             ELSE 0.0 END AS alpha_word_frac,
         |        CAST(n_stop AS INT) AS n_gopher_stopwords
         |      FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         |       alpha_word_frac, n_gopher_stopwords,
         |       (n_words >= 50 AND n_words <= 100000
         |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |        AND symbol_word_ratio < 0.1 AND alpha_word_frac >= 0.8
         |        AND n_gopher_stopwords >= 2) AS gopher_keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // the oracle is the SINGLE-window formulation — the Spark side runs the
    // two-phase funnel, so parity also proves the funnel exact
    "sample_group_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':gc'), 1, 8), doc_id) AS rn
        |  FROM documents) WHERE rn <= 10
        |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':s1'), 1, 8) <
        |  CASE lang WHEN 'en' THEN '19999999'
        |            WHEN 'de' THEN 'g'
        |            WHEN 'fr' THEN '80000000'
        |            ELSE '40000000' END
        |ORDER BY doc_id""".stripMargin,

    // cumulative cuts: 0.8->cccccccc, 0.9->e6666666
    "sample_split" ->
      """WITH d AS (SELECT doc_id,
        |  substring(md5(CAST(doc_id AS VARCHAR) || ':sp'), 1, 8) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN h < 'cccccccc' THEN 'train'
        |       WHEN h < 'e6666666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM d ORDER BY doc_id""".stripMargin,

    // the embedding_quantize chain extended with midpoint decode and the
    // ordered-list fold cosine (sum-aggregation dots would be
    // order-dependent in IEEE; list(ORDER BY pos) + the shared fold is
    // exact both sides)
    "embedding_sq_error" ->
      s"""WITH e AS (SELECT vec_id,
         |       CAST(unnest(range(len(embedding))) AS INT) AS pos,
         |       unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
         |     FROM embeddings),
         |st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY 1),
         |d AS (SELECT vec_id, pos, x,
         |    CASE WHEN mx = mn THEN mn
         |         ELSE mn + (CAST(least(255,
         |             CAST(floor((x - mn) / (mx - mn) * 256.0) AS INT))
         |           AS DOUBLE) + 0.5) * (mx - mn) / 256.0
         |    END AS dx
         |  FROM e JOIN st USING (pos)),
         |v AS (SELECT vec_id, list(x ORDER BY pos) AS xv,
         |        list(dx ORDER BY pos) AS dv
         |      FROM d GROUP BY 1),
         |c AS (SELECT vec_id,
         |    CAST(round(${dotSql("xv", "dv")}
         |      / (sqrt(${dotSql("xv", "xv")}) * sqrt(${dotSql("dv", "dv")}))
         |      * 1e9) AS BIGINT) AS cos_nano
         |  FROM v)
         |SELECT vec_id, cos_nano, 1000000000 - cos_nano AS err_nano
         |FROM c ORDER BY vec_id""".stripMargin,

    // the ann_bruteforce chain with the label anti-filter BEFORE the
    // rank window
    "embedding_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label,
         |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        c.label AS neighbor_label,
         |        ${dotSql("q.v", "c.v")} / (sqrt(${dotSql("q.v", "q.v")})
         |          * sqrt(${dotSql("c.v", "c.v")})) AS cos
         |      FROM e q JOIN e c
         |        ON c.vec_id <> q.vec_id AND c.label <> q.label
         |      WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, neighbor_label, cos
         |FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // draw -> offset mod (n-l+1) -> inclusive-bound slice; overlap =
    // min(off)+l - max(off) clamped at 0
    "contrastive_crops" ->
      s"""WITH $toksCte,
         |b AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
         |        least(12, CAST(len(t) AS BIGINT)) AS l
         |      FROM toks WHERE len(t) >= 1),
         |c AS (SELECT doc_id, t, l,
         |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
         |      || ':cropa'), 1, 8) AS BIGINT) % (n - l + 1) AS BIGINT) AS oa,
         |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
         |      || ':cropb'), 1, 8) AS BIGINT) % (n - l + 1) AS BIGINT) AS ob
         |  FROM b)
         |SELECT doc_id,
         |  array_to_string(t[oa+1 : oa+l], ' ') AS crop_a,
         |  array_to_string(t[ob+1 : ob+l], ' ') AS crop_b,
         |  greatest(0, least(oa, ob) + l - greatest(oa, ob))
         |    AS overlap_tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    // the shared ensemble chain + a lang-keyed floor-mean prior + the
    // 1:1 integer blend
    "quality_domain_blend" ->
      s"""WITH $ensembleCtes,
         |wd AS (SELECT e.doc_id, d.lang, e.ensemble_micro
         |  FROM ens e JOIN documents d USING (doc_id)),
         |pr AS (SELECT lang,
         |    CAST(sum(ensemble_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
         |      AS domain_prior_micro
         |  FROM wd GROUP BY 1)
         |SELECT wd.doc_id, wd.lang, wd.ensemble_micro,
         |  pr.domain_prior_micro,
         |  (1 * pr.domain_prior_micro + 1 * wd.ensemble_micro) // 2
         |    AS blend_micro
         |FROM wd JOIN pr USING (lang)
         |ORDER BY wd.doc_id""".stripMargin,

    // single-window (size desc, draw, id) rank dealt mod 8 — the
    // two-phase Spark cut must match exactly
    "shard_balanced" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |        substring(md5(CAST(doc_id AS VARCHAR) || ':bal'), 1, 8) AS dr
         |      FROM toks),
         |r AS (SELECT doc_id, n_tokens,
         |        row_number() OVER (ORDER BY n_tokens DESC, dr, doc_id) - 1
         |          AS pos
         |      FROM d)
         |SELECT doc_id, n_tokens, CAST(pos % 8 AS INT) AS shard
         |FROM r ORDER BY doc_id""".stripMargin,

    "shard_balance_report" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |        substring(md5(CAST(doc_id AS VARCHAR) || ':bal'), 1, 8) AS dr
         |      FROM toks),
         |r AS (SELECT n_tokens,
         |        CAST((row_number() OVER (ORDER BY n_tokens DESC, dr, doc_id)
         |          - 1) % 8 AS INT) AS shard
         |      FROM d),
         |roll AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |  FROM r GROUP BY 1),
         |mm AS (SELECT max(total_tokens) AS mx, min(total_tokens) AS mn
         |  FROM roll)
         |SELECT shard, n_docs, total_tokens,
         |  CASE WHEN mx = 0 THEN 0 ELSE ((mx - mn) * 1000000) // mx END
         |    AS imbalance_micro
         |FROM roll CROSS JOIN mm ORDER BY shard""".stripMargin,

    // first-bucket attribution via min(batch) per token + cumulative
    // windows over the buckets-sized rollup
    "vocab_growth" ->
      s"""WITH $toksCte,
         |tok AS MATERIALIZED (SELECT doc_id // 50 AS bucket, unnest(t) AS tok
         |  FROM toks),
         |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM tok GROUP BY 1),
         |nt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_types
         |  FROM (SELECT tok, min(bucket) AS bucket FROM tok GROUP BY 1)
         |  GROUP BY 1)
         |SELECT pb.bucket, pb.n_tokens,
         |  COALESCE(nt.n_new_types, 0) AS n_new_types,
         |  CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |  CAST(sum(COALESCE(nt.n_new_types, 0)) OVER (ORDER BY pb.bucket
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
         |FROM pb LEFT JOIN nt USING (bucket)
         |ORDER BY pb.bucket""".stripMargin,

    // pair synthesis + the shared rule predicates; fail arrays replayed
    // in rule order, the filterProvenanceOracle shape
    "sft_curation" -> {
      val idx = SftRuleSql.indices
      val preds = SftRuleSql.zipWithIndex
        .map { case ((_, sql), i) => s"$sql AS p$i" }.mkString(", ")
      val lists = SftRuleSql.zipWithIndex.map { case ((n, _), i) =>
        s"(CASE WHEN p$i THEN CAST([] AS VARCHAR[]) ELSE ['$n'] END)"
      }.mkString(" || ")
      s"""WITH $toksCte,
         |ev AS (SELECT doc_id // 2 AS pair_id, text AS instruction
         |  FROM documents WHERE doc_id % 2 = 0),
         |od AS (SELECT d.doc_id // 2 AS pair_id, d.text AS r0, t
         |  FROM documents d JOIN toks USING (doc_id) WHERE d.doc_id % 2 = 1),
         |pr AS (SELECT pair_id, instruction,
         |    CASE WHEN pair_id % 17 = 0 THEN array_to_string(t[1:2], ' ')
         |         WHEN pair_id % 13 = 0
         |           THEN 'i cannot help with that ' || r0
         |         ELSE r0 END AS response
         |  FROM ev JOIN od USING (pair_id)),
         |sg AS (SELECT pair_id, instruction, response,
         |    CAST(len(list_filter(regexp_split_to_array(instruction, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS itok,
         |    CAST(len(list_filter(regexp_split_to_array(response, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS rtok
         |  FROM pr),
         |p AS (SELECT pair_id, itok, rtok, $preds FROM sg)
         |SELECT pair_id, itok, rtok,
         |  (${idx.map(i => s"p$i").mkString(" AND ")}) AS keep,
         |  (${idx.map(i => s"CASE WHEN p$i THEN 0 ELSE 1 END").mkString(" + ")})
         |    AS n_fails,
         |  COALESCE(array_to_string($lists, '|'), '') AS fail_reasons,
         |  ($lists)[1] AS first_fail
         |FROM p ORDER BY pair_id""".stripMargin
    },

    // same template derivation, first-4-token key, one keyed aggregation
    "prefix_cache_report" ->
      """WITH p AS (SELECT
        |    (CASE WHEN doc_id % 2 <> 0 THEN ''
        |          WHEN (doc_id // 2) % 3 = 0
        |            THEN 'summarize the following article text : '
        |          WHEN (doc_id // 2) % 3 = 1
        |            THEN 'translate this text into french now : '
        |          ELSE 'answer the question below very briefly : '
        |     END) || text AS prompt
        |  FROM documents),
        |k AS (SELECT
        |    array_to_string(t[1:4], ' ') AS prefix,
        |    CAST(len(t) AS BIGINT) AS n
        |  FROM (SELECT list_filter(regexp_split_to_array(prompt, '\s+'),
        |          x -> x <> '') AS t FROM p)
        |  WHERE len(t) > 0),
        |g AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_prompts,
        |    least(min(n), 4) AS prefix_len,
        |    CAST(sum(n) AS BIGINT) AS total_tokens
        |  FROM k GROUP BY 1 HAVING count(*) >= 2)
        |SELECT prefix, n_prompts, prefix_len, total_tokens,
        |  (n_prompts - 1) * prefix_len AS saved_tokens,
        |  ((n_prompts - 1) * prefix_len * 1000000) // total_tokens
        |    AS saved_micro
        |FROM g ORDER BY prefix""".stripMargin,

    // group-keyed minwise signatures (same 8 fixed permutations as the
    // lsh chain) + triangular agreement join on the groups-sized frame
    "dedup_sketch_matrix" ->
      s"""WITH $shinglesCte,
         |gh AS MATERIALIZED (SELECT DISTINCT
         |    's' || CAST(doc_id // 100 AS VARCHAR) AS grp,
         |    CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS h
         |  FROM sh),
         |perm(i, pa, pb) AS (VALUES
         |  (0, 981238597, 825377933), (1, 673562387, 743900233),
         |  (2, 552963643, 621445373), (3, 413158523, 536870923),
         |  (4, 316199399, 433024253), (5, 247073897, 362867483),
         |  (6, 198491317, 297779117), (7, 153889403, 247073891)),
         |gm AS MATERIALIZED (SELECT grp, i,
         |    min((pa * h + pb) % 268435456) AS mh
         |  FROM gh CROSS JOIN perm GROUP BY 1, 2),
         |agr AS (SELECT a.grp AS src_a, b.grp AS src_b,
         |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM gm a JOIN gm b ON a.i = b.i AND a.grp < b.grp
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_agree,
         |  (n_agree * 1000000) // 8 AS est_micro
         |FROM agr ORDER BY src_a, src_b""".stripMargin,

    // single-window top-30 over bigram counts; PMI mirrored term-for-term
    // as the same micro-quantized log sum
    "collocations" ->
      s"""WITH $toksCte,
         |bg AS MATERIALIZED (SELECT t[i+1] AS w1, t[i+2] AS w2
         |  FROM (SELECT t, unnest(range(CASE WHEN len(t) >= 2
         |          THEN len(t) - 1 ELSE 0 END)) AS i FROM toks)),
         |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
         |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
         |top AS (SELECT w1, w2, n_pair,
         |    CAST(row_number() OVER (ORDER BY n_pair DESC, w1, w2) AS INT)
         |      AS rank
         |  FROM pc QUALIFY rank <= 30),
         |tok AS (SELECT unnest(t) AS tok FROM toks),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
         |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok
         |  WHERE tok IN (SELECT w1 FROM top UNION SELECT w2 FROM top)
         |  GROUP BY 1)
         |SELECT rank, w1, w2, n_pair, a.c AS n_w1, b.c AS n_w2,
         |  CAST(round(ln(CAST(n_pair AS DOUBLE)) * 1000000.0) AS BIGINT)
         |  + 2 * CAST(round(ln(CAST(nn.n AS DOUBLE)) * 1000000.0) AS BIGINT)
         |  - CAST(round(ln(CAST(a.c AS DOUBLE)) * 1000000.0) AS BIGINT)
         |  - CAST(round(ln(CAST(b.c AS DOUBLE)) * 1000000.0) AS BIGINT)
         |  - CAST(round(ln(CAST(nb.n AS DOUBLE)) * 1000000.0) AS BIGINT)
         |    AS pmi_micro
         |FROM top JOIN uc a ON a.tok = top.w1 JOIN uc b ON b.tok = top.w2
         |CROSS JOIN nn CROSS JOIN nb
         |ORDER BY rank""".stripMargin,

    // split/extract/interleave rebuild: segment i, then the i-th match's
    // md5-prefix token — per-match computed replacements in pure SQL
    "text_pseudonymize" -> {
      val ep = graft.operators.TextNormalize.EmailPattern
      s"""WITH wp AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id % 50 AS VARCHAR)
         |      || '@mail.com or admin@site' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.org now' AS text
         |  FROM documents),
         |x AS (SELECT doc_id,
         |    regexp_split_to_array(text, '$ep') AS segs,
         |    regexp_extract_all(text, '$ep') AS ms
         |  FROM wp)
         |SELECT doc_id,
         |  array_to_string(list_transform(range(len(segs)),
         |    i -> segs[i+1] || CASE WHEN i+1 <= len(ms)
         |         THEN '<email_' || substring(md5(ms[i+1]), 1, 8) || '>'
         |         ELSE '' END), '') AS text,
         |  CAST(len(ms) AS BIGINT) AS n_entities
         |FROM x ORDER BY doc_id""".stripMargin
    },

    // shared tiling chain (block term counts -> histogram intersection
    // -> windowed depths -> mean cutoff), gap view
    "topic_gap_scores" ->
      s"""WITH $tilingCtes
         |SELECT doc_id, gap_idx, sim, depth, boundary
         |FROM tile ORDER BY doc_id, gap_idx""".stripMargin,

    // same chain, consumer view: cumulative boundary count labels every
    // token block with its segment
    "topic_segments" ->
      s"""WITH $tilingCtes,
         |blocks AS (SELECT doc_id,
         |    unnest(range((len(t) - 1) // 8 + 1)) AS blk
         |  FROM toks WHERE len(t) > 0)
         |SELECT b.doc_id, b.blk AS block,
         |  CAST(sum(CASE WHEN x.gap_idx IS NOT NULL THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY b.doc_id ORDER BY b.blk
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment
         |FROM blocks b
         |LEFT JOIN (SELECT doc_id, gap_idx FROM tile WHERE boundary) x
         |  ON x.doc_id = b.doc_id AND x.gap_idx = b.blk
         |ORDER BY b.doc_id, block""".stripMargin,

    // top-50 vocab replay (term_freq desc, token asc), (lang, token)
    // type frame, coverage rollup + deterministic max-count/min-token
    // argmax for the heaviest OOV token
    "tokenizer_oov" ->
      s"""WITH $toksCte,
         |tok AS MATERIALIZED (SELECT d.lang, unnest(t) AS tok
         |  FROM documents d JOIN toks USING (doc_id)),
         |tf AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
         |voc AS (SELECT tok FROM tf
         |        QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= 50),
         |lt AS MATERIALIZED (SELECT lang, tok,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |j AS MATERIALIZED (SELECT l.lang, l.tok, l.cnt,
         |    (v.tok IS NOT NULL) AS inv
         |  FROM lt l LEFT JOIN voc v USING (tok)),
         |roll AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN inv THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_types_in_vocab,
         |    CAST(sum(cnt) AS BIGINT) AS n_occ,
         |    CAST(sum(CASE WHEN inv THEN cnt ELSE 0 END) AS BIGINT)
         |      AS n_occ_in_vocab
         |  FROM j GROUP BY 1),
         |mx AS (SELECT lang, max(cnt) AS m FROM j WHERE NOT inv GROUP BY 1),
         |top AS (SELECT j.lang, min(j.tok) AS top_oov_token,
         |    max(j.cnt) AS top_oov_count
         |  FROM j JOIN mx ON j.lang = mx.lang AND j.cnt = mx.m
         |  WHERE NOT j.inv GROUP BY 1)
         |SELECT r.lang, n_types, n_types_in_vocab, n_occ, n_occ_in_vocab,
         |  (n_types_in_vocab * 1000000) // n_types AS type_cov_micro,
         |  (n_occ_in_vocab * 1000000) // n_occ AS occ_cov_micro,
         |  t.top_oov_token, COALESCE(t.top_oov_count, 0) AS top_oov_count
         |FROM roll r LEFT JOIN top t USING (lang)
         |ORDER BY r.lang""".stripMargin,

    // the shared LSH band chain feeds both the candidate join and the
    // per-permutation agreement count; exact Jaccard replays the shingle
    // co-occurrence join on the pair frame
    "dedup_minhash_calibration" ->
      s"""WITH $lshBandsCtes,
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
         |  FROM bands b1 JOIN bands b2
         |    ON b1.band = b2.band AND b1.sig = b2.sig
         |    AND b1.doc_id < b2.doc_id),
         |agr AS MATERIALIZED (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM prs p JOIN mh a ON a.doc_id = p.doc_a
         |  JOIN mh b ON b.doc_id = p.doc_b AND b.i = a.i
         |  GROUP BY 1, 2),
         |cnt AS MATERIALIZED (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         |cmn AS MATERIALIZED (
         |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS c
         |  FROM prs p JOIN sh x ON x.doc_id = p.doc_a
         |  JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT g.n_agree,
         |    (COALESCE(m.c, 0) * 1000000)
         |      // (ca.n + cb.n - COALESCE(m.c, 0)) AS exact_micro
         |  FROM agr g
         |  LEFT JOIN cmn m ON m.doc_a = g.doc_a AND m.doc_b = g.doc_b
         |  JOIN cnt ca ON ca.doc_id = g.doc_a
         |  JOIN cnt cb ON cb.doc_id = g.doc_b)
         |SELECT n_agree, CAST(count(*) AS BIGINT) AS n_pairs,
         |  (n_agree * 1000000) // 8 AS est_micro,
         |  CAST(sum(exact_micro) AS BIGINT) // CAST(count(*) AS BIGINT)
         |    AS mean_exact_micro,
         |  abs((n_agree * 1000000) // 8
         |    - CAST(sum(exact_micro) AS BIGINT) // CAST(count(*) AS BIGINT))
         |    AS gap_micro
         |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin,

    // same marker-priority + strip replay over the same synthesized URLs;
    // RE2 spells these patterns exactly like Java (no script classes)
    "bitext_url_pairs" -> {
      val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)\\??([^#]*)#?(.*)$"
      val ls = Seq("en", "de", "fr", "es", "zh")
        .map(l => s"'$l'").mkString(", ")
      s"""WITH urls AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN
         |           'https://' || lang || '.site' || CAST(doc_id // 10 AS VARCHAR)
         |           || '.example.com/art/' || CAST(doc_id // 10 AS VARCHAR)
         |         WHEN doc_id % 3 = 1 THEN
         |           'https://www.site' || CAST(doc_id // 10 AS VARCHAR)
         |           || '.example.com/' || lang || '/art/' || CAST(doc_id // 10 AS VARCHAR)
         |         ELSE
         |           'https://www.site' || CAST(doc_id // 10 AS VARCHAR)
         |           || '.example.com/art/' || CAST(doc_id // 10 AS VARCHAR)
         |           || '?lang=' || lang
         |    END AS url
         |  FROM documents),
         |mk AS (SELECT doc_id, h, pa,
         |    regexp_extract(h, '^([^.]+)\\.', 1) AS hl,
         |    lower(regexp_extract(pa, '^/([^/]+)', 1)) AS s1,
         |    lower(regexp_extract(q, '(?:^|&)(?:lang|locale|hl)=([^&]*)', 1)) AS ql,
         |    regexp_replace(regexp_replace(regexp_replace(q,
         |      '(?:lang|locale|hl)=[^&]*', '', 'g'), '&&+', '&', 'g'),
         |      '^&|&$$', '', 'g') AS q2
         |  FROM (SELECT doc_id,
         |      lower(regexp_extract(regexp_extract(url, '$pat', 2), '^([^:]*)', 1)) AS h,
         |      regexp_extract(url, '$pat', 3) AS pa,
         |      regexp_extract(url, '$pat', 4) AS q
         |    FROM urls)),
         |tag AS (SELECT doc_id,
         |    CASE WHEN hl IN ($ls) THEN hl
         |         WHEN s1 IN ($ls) THEN s1
         |         WHEN ql IN ($ls) THEN ql END AS lang,
         |    (CASE WHEN hl IN ($ls)
         |          THEN regexp_replace(h, '^[^.]+\\.', '') ELSE h END)
         |    || (CASE WHEN hl NOT IN ($ls) AND s1 IN ($ls)
         |             THEN regexp_replace(pa, '^/[^/]+', '') ELSE pa END)
         |    || (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS site_key
         |  FROM mk),
         |t AS (SELECT * FROM tag WHERE lang IS NOT NULL),
         |ok AS (SELECT site_key FROM t GROUP BY 1 HAVING count(*) <= 16)
         |SELECT a.site_key, a.doc_id AS doc_a, a.lang AS lang_a,
         |       b.doc_id AS doc_b, b.lang AS lang_b
         |FROM t a JOIN t b ON a.site_key = b.site_key AND a.lang < b.lang
         |JOIN ok ON a.site_key = ok.site_key
         |ORDER BY a.site_key, doc_a, doc_b""".stripMargin
    },

    // the sequential recursive root-down walk — the Spark side computes
    // the same paths by pointer doubling; leaves = nobody's parent
    "sft_tree_paths" ->
      """WITH RECURSIVE nodes AS MATERIALIZED (
        |  SELECT doc_id AS node_id,
        |    CASE WHEN doc_id % 16 = 0 THEN NULL
        |         ELSE (doc_id // 16) * 16 + ((doc_id % 16 - 1) // 2)
        |    END AS parent_id,
        |    substring(text, 1, 12) AS t
        |  FROM documents),
        |walk AS (
        |  SELECT node_id, node_id AS root_id, 1 AS depth,
        |         CAST(node_id AS VARCHAR) AS path_str, t AS conv_text
        |  FROM nodes WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT n.node_id, w.root_id, w.depth + 1,
        |         w.path_str || '>' || CAST(n.node_id AS VARCHAR),
        |         w.conv_text || ' | ' || n.t
        |  FROM nodes n JOIN walk w ON n.parent_id = w.node_id)
        |SELECT w.node_id AS leaf_id, w.root_id, w.depth, w.path_str,
        |       w.conv_text
        |FROM walk w
        |WHERE w.node_id NOT IN
        |  (SELECT parent_id FROM nodes WHERE parent_id IS NOT NULL)
        |ORDER BY leaf_id""".stripMargin,

    // the oracle is the SINGLE global window over the integer E-S keys —
    // the Spark side runs the bucketed two-phase funnel, so parity also
    // proves the funnel exact; `//` truncates toward zero like Spark div
    "sample_weighted" ->
      s"""WITH $toksCte,
         |s AS (SELECT d.doc_id, CAST(len(t) AS BIGINT) AS w,
         |        CAST(round(ln((CAST(CAST('0x' ||
         |            substring(md5(CAST(d.doc_id AS VARCHAR) || ':es'), 1, 8)
         |          AS BIGINT) AS DOUBLE) + 1) / 4294967296.0) * 1000000.0)
         |          AS BIGINT) AS lnm
         |      FROM documents d JOIN toks USING (doc_id)
         |      WHERE len(t) >= 1)
         |SELECT rank, doc_id, w, es_micro FROM (
         |  SELECT doc_id, w, lnm // w AS es_micro,
         |    CAST(row_number() OVER (ORDER BY (lnm // w) DESC, doc_id)
         |      AS INT) AS rank
         |  FROM s) WHERE rank <= 100
         |ORDER BY rank""".stripMargin,

    "decontaminate" ->
      s"""WITH $shinglesCte
         |SELECT t.doc_id, count(*) AS n_shingles,
         |       count(b.shingle) AS n_matched,
         |       CAST(count(b.shingle) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |         AS contamination
         |FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) t
         |LEFT JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0) b
         |  USING (shingle)
         |GROUP BY 1 HAVING count(b.shingle) > 0
         |ORDER BY 1""".stripMargin,

    "decontaminate_fuzzy" ->
      s"""WITH $shinglesCte,
         |hs AS (SELECT doc_id,
         |         CAST(('0x' || substring(md5(shingle), 1, 7)) AS BIGINT) AS h
         |       FROM sh),
         |perm(i, pa, pb) AS (VALUES
         |  (0, 981238597, 825377933), (1, 673562387, 743900233),
         |  (2, 552963643, 621445373), (3, 413158523, 536870923),
         |  (4, 316199399, 433024253), (5, 247073897, 362867483),
         |  (6, 198491317, 297779117), (7, 153889403, 247073891)),
         |mh AS (SELECT doc_id, i, min((pa * h + pb) % 268435456) AS mh
         |       FROM hs CROSS JOIN perm GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |            md5(string_agg(CAST(i AS VARCHAR) || '|' || mh, ''
         |                ORDER BY CAST(i AS VARCHAR) || '|' || mh)) AS sig
         |          FROM mh GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT t.doc_id AS tid, b.doc_id AS bid
         |         FROM bands t JOIN bands b ON t.band = b.band AND t.sig = b.sig
         |         WHERE t.doc_id % 5 <> 3 AND b.doc_id % 5 = 3),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS tid, b.doc_id AS bid, count(*) AS nc
         |           FROM sh a JOIN sh b ON a.shingle = b.shingle
         |           WHERE a.doc_id % 5 <> 3 AND b.doc_id % 5 = 3 GROUP BY 1, 2),
         |ver AS (SELECT c.tid, c.bid, m.nc,
         |          CAST(m.nc AS DOUBLE) / CAST(x.n + y.n - m.nc AS DOUBLE) AS j
         |        FROM cand c JOIN common m ON c.tid = m.tid AND c.bid = m.bid
         |        JOIN cnt x ON c.tid = x.doc_id JOIN cnt y ON c.bid = y.doc_id)
         |SELECT tid AS doc_id, bid AS bench_id, CAST(nc AS BIGINT) AS n_common,
         |       j AS jaccard
         |FROM ver WHERE j >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin,

    "decontaminate_report" ->
      s"""WITH $shinglesCte,
         |t AS (SELECT doc_id AS tid, shingle FROM sh WHERE doc_id % 97 <> 0),
         |b AS (SELECT doc_id AS bid, shingle FROM sh WHERE doc_id % 97 = 0),
         |h AS (SELECT bid,
         |        count(DISTINCT tid) AS hits_docs, count(*) AS hits_grams
         |      FROM b JOIN t USING (shingle) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(hits_docs, 0) AS BIGINT) AS n_contaminating_docs,
         |  CAST(coalesce(hits_grams, 0) AS BIGINT) AS n_shared_grams
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 = 0) d
         |LEFT JOIN h ON d.doc_id = h.bid
         |ORDER BY d.doc_id""".stripMargin,

    "line_dedup" ->
      """WITH lined AS (SELECT doc_id,
        |       string_split(replace(text, ' table ', chr(10)), chr(10)) AS l
        |       FROM documents),
        |lines AS (SELECT doc_id, unnest(list_transform(range(len(l)),
        |       i -> {'pos': i, 'line': l[i+1]}), recursive := true) FROM lined),
        |df AS (SELECT line, count(DISTINCT doc_id) AS d FROM lines GROUP BY 1),
        |kept AS (SELECT doc_id, pos, line FROM lines JOIN df USING (line)
        |         WHERE d <= 5)
        |SELECT l.doc_id,
        |       coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
        |       count(*) AS n_lines,
        |       count(*) - count(k.line) AS n_removed
        |FROM lines l LEFT JOIN kept k ON l.doc_id = k.doc_id AND l.pos = k.pos
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // weight*1000 is the exact integer (bucket % 1001) - 500; summing
    // integers then dividing once keeps the double bit-identical
    "quality_classifier" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |w AS (SELECT doc_id,
         |        (('0x' || substr(md5(tok), 1, 6))::BIGINT % 4096) % 1001 - 500
         |          AS mw
         |      FROM tok)
         |SELECT doc_id,
         |       CAST(sum(mw) AS DOUBLE) / CAST(count(*) * 1000 AS DOUBLE)
         |         AS score
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "vocab_topk" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
         |tf AS (SELECT token, count(*) AS term_freq FROM tok GROUP BY 1),
         |df AS (SELECT token, count(DISTINCT doc_id) AS doc_freq
         |       FROM tok GROUP BY 1)
         |SELECT token, term_freq, doc_freq FROM tf JOIN df USING (token)
         |ORDER BY term_freq DESC, token LIMIT 50""".stripMargin,

    "vocab_per_lang" ->
      s"""WITH $toksCte,
         |tok AS (SELECT lang, unnest(t) AS token
         |        FROM toks JOIN documents USING (doc_id)),
         |c AS (SELECT lang, token, count(*) AS term_freq
         |      FROM tok GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY term_freq DESC, token) AS INT) AS rank
         |      FROM c)
         |SELECT lang, token, term_freq, rank FROM r WHERE rank <= 5
         |ORDER BY lang, rank""".stripMargin,

    "corpus_stats" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, lang, source, CAST(len(t) AS BIGINT) AS n_tokens
         |      FROM toks JOIN documents USING (doc_id))
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       count(DISTINCT source) AS n_distinct,
         |       quantile_cont(n_tokens, 0.5) AS median_tokens
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "length_band_filter" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens
         |      FROM toks JOIN documents USING (doc_id)),
         |b AS (SELECT lang, quantile_cont(n_tokens, 0.1) AS lo,
         |        quantile_cont(n_tokens, 0.9) AS hi
         |      FROM d GROUP BY 1)
         |SELECT doc_id, lang, n_tokens FROM d JOIN b USING (lang)
         |WHERE n_tokens >= lo AND n_tokens <= hi
         |ORDER BY doc_id""".stripMargin,

    "corpus_mix" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens,
         |        substring(md5(CAST(doc_id AS VARCHAR) || ':m1'), 1, 8) AS h
         |      FROM toks JOIN documents USING (doc_id)),
         |c AS (SELECT doc_id, lang, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM d)
         |SELECT doc_id, lang, n_tokens FROM c
         |WHERE cum <= CASE lang WHEN 'en' THEN 2000
         |                       WHEN 'de' THEN 1000
         |                       WHEN 'fr' THEN 800 END
         |ORDER BY doc_id""".stripMargin,

    // f_s = (min_w / w_s)^0.5 quantized to micro-probabilities, then the
    // micro->hex threshold mirrors Spark's double multiply-divide-floor
    // (NOT integer //: Spark has no integer division, so both engines run
    // the same IEEE ops)
    "sample_temperature" ->
      s"""WITH $toksCte,
         |d AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tokens
         |      FROM toks JOIN documents USING (doc_id)),
         |w AS (SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS w FROM d GROUP BY 1),
         |m AS (SELECT min(w) AS mw FROM w),
         |thr AS (SELECT lang,
         |          CAST(floor(pow(mw / w, 0.5) * 1e6) AS BIGINT) AS tm
         |        FROM w, m),
         |th AS (SELECT lang,
         |         CASE WHEN tm >= 1000000 THEN 'g'
         |              ELSE printf('%08x', CAST(floor(
         |                CAST(tm AS DOUBLE) * 4294967296 / 1000000) AS BIGINT))
         |         END AS h
         |       FROM thr)
         |SELECT doc_id, lang, n_tokens
         |FROM d JOIN th USING (lang)
         |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':tm'), 1, 8) < h
         |ORDER BY doc_id""".stripMargin,

    // the oracle is the SINGLE-window global order — the Spark side runs
    // the two-phase bucketed position cut, so parity proves the cut exact
    "shard_assign" ->
      """WITH d AS (SELECT doc_id,
        |       substring(md5(CAST(doc_id AS VARCHAR) || ':sh'), 1, 8) AS h
        |     FROM documents),
        |p AS (SELECT doc_id,
        |        row_number() OVER (ORDER BY h, doc_id) - 1 AS pos FROM d)
        |SELECT doc_id, CAST(pos % 4 AS INT) AS shard, pos // 4 AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin,

    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id,
        |       CAST(unnest(range(len(embedding))) AS INT) AS pos,
        |       unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
        |     FROM embeddings),
        |st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY 1)
        |SELECT vec_id, pos,
        |  CAST(CASE WHEN mx = mn THEN 0
        |       ELSE least(255, CAST(floor((x - mn) / (mx - mn) * 256.0) AS INT))
        |  END AS INT) AS code
        |FROM e JOIN st USING (pos)
        |ORDER BY vec_id, pos""".stripMargin,

    // RE2 spells scripts \p{Latin}; Java spells them \p{IsLatin} — same
    // Unicode script property. length() counts code points in both engines.
    "text_script" ->
      """WITH a AS (SELECT doc_id, concat_ws(' ', text,
        |       translate(CAST(doc_id AS VARCHAR), '0123456789', 'абвгдежзий'),
        |       translate(CAST(doc_id AS VARCHAR), '0123456789', '零一二三四五六七八九'),
        |       translate(CAST(doc_id AS VARCHAR), '0123456789', 'ابتثجحخدذر')) AS s
        |     FROM documents),
        |c AS (SELECT doc_id,
        |  length(regexp_replace(s, '[^\p{Latin}]', '', 'g')) AS n_latin,
        |  length(regexp_replace(s, '[^\p{Cyrillic}]', '', 'g')) AS n_cyrillic,
        |  length(regexp_replace(s, '[^\p{Han}]', '', 'g')) AS n_han,
        |  length(regexp_replace(s, '[^\p{Arabic}]', '', 'g')) AS n_arabic,
        |  length(regexp_replace(s, '[^0-9]', '', 'g')) AS n_digit,
        |  length(regexp_replace(s, '[^\s]', '', 'g')) AS n_space,
        |  length(s) AS n
        |  FROM a)
        |SELECT doc_id, CAST(n_latin AS INT) AS n_latin,
        |  CAST(n_cyrillic AS INT) AS n_cyrillic, CAST(n_han AS INT) AS n_han,
        |  CAST(n_arabic AS INT) AS n_arabic, CAST(n_digit AS INT) AS n_digit,
        |  CAST(n_space AS INT) AS n_space,
        |  CAST(n - n_latin - n_cyrillic - n_han - n_arabic - n_digit - n_space AS INT) AS n_other,
        |  CASE WHEN n_latin + n_cyrillic + n_han + n_arabic = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrillic AND n_latin >= n_han AND n_latin >= n_arabic THEN 'latin'
        |       WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic THEN 'cyrillic'
        |       WHEN n_han >= n_arabic THEN 'han'
        |       ELSE 'arabic' END AS dominant_script
        |FROM c ORDER BY doc_id""".stripMargin,

    // generated replace chain over the same table the Spark projection
    // folds; the corrupted suffix is the same Scala-built literal
    "text_fix_mojibake" -> {
      def esc(s: String) = s.replace("'", "''")
      val corrupted = esc(graft.operators.TextNormalize
        .asMojibake(MojibakePhrase))
      val chain = graft.operators.TextNormalize.MojibakeTable
        .foldLeft(s"text || '$corrupted'") { case (acc, (bad, good)) =>
          s"replace($acc, '${esc(bad)}', '${esc(good)}')"
        }
      s"""SELECT doc_id, $chain AS fixed
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // full canonicalization replay: parse regex, tracking-param filter,
    // param sort, default-port strip, domain extraction — RE2 spells the
    // patterns exactly like Java here (no script classes involved)
    "url_category_filter" -> urlCategoryOracle,

    // the broadcast-join twin is graded against the SAME oracle — the
    // literal-fold and join formulations must agree cell for cell
    "url_category_broadcast" -> urlCategoryOracle,

    "url_normalize" -> {
      val pat = "^([A-Za-z][A-Za-z0-9+.-]*)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)\\??([^#]*)#?(.*)$"
      val tracking = "^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_eid|mc_cid)(=.*)?$"
      val slTlds = graft.operators.UrlOps.SecondLevelTlds
        .map(t => s"'$t'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
         |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END)
         |    || '://WWW.' || source || '.Example.COM'
         |    || (CASE WHEN doc_id % 3 = 0 THEN ':443'
         |             WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)
         |    || '/Path/' || CAST(doc_id AS VARCHAR)
         |    || (CASE WHEN doc_id % 2 = 0
         |             THEN '?utm_source=x&b=2&a=1&fbclid=zz' ELSE '' END)
         |    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
         |  FROM documents),
         |p AS (SELECT doc_id,
         |    lower(regexp_extract(url, '$pat', 1)) AS sch,
         |    lower(regexp_extract(regexp_extract(url, '$pat', 2), '^([^:]*)', 1)) AS h,
         |    regexp_extract(regexp_extract(url, '$pat', 2), ':([0-9]+)$$', 1) AS pt,
         |    regexp_extract(url, '$pat', 3) AS pa,
         |    regexp_extract(url, '$pat', 4) AS q
         |  FROM u),
         |cq AS (SELECT doc_id, sch, h, pt, pa,
         |    array_to_string(list_sort(list_filter(string_split(q, '&'),
         |      x -> x <> '' AND NOT regexp_matches(x, '$tracking'))), '&') AS cq
         |  FROM p),
         |lbl AS (SELECT *, string_split(h, '.') AS l FROM cq)
         |SELECT doc_id,
         |  sch || '://' || h
         |  || (CASE WHEN pt <> '' AND NOT (sch = 'http' AND pt = '80')
         |                AND NOT (sch = 'https' AND pt = '443')
         |           THEN ':' || pt ELSE '' END)
         |  || (CASE WHEN pa = '' THEN '/' ELSE pa END)
         |  || (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS url,
         |  h AS host,
         |  CASE WHEN len(l) <= 2 THEN h
         |       WHEN array_to_string(l[-2:], '.') IN ($slTlds)
         |         THEN array_to_string(l[-3:], '.')
         |       ELSE array_to_string(l[-2:], '.') END AS domain
         |FROM lbl ORDER BY doc_id""".stripMargin
    },

    "dedup_containment" ->
      s"""WITH $shinglesCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             count(*) AS n_common
         |           FROM sh a JOIN sh b
         |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       CAST(n_common AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE)
         |         AS containment
         |FROM common JOIN cnt x ON doc_a = x.doc_id
         |            JOIN cnt y ON doc_b = y.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // one oracle for BOTH containment engines: the pair set is a function
    // of corpus + threshold, not of the candidate strategy
    "dedup_containment_prefix" ->
      s"""WITH $shinglesCte,
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             count(*) AS n_common
         |           FROM sh a JOIN sh b
         |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       CAST(n_common AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE)
         |         AS containment
         |FROM common JOIN cnt x ON doc_a = x.doc_id
         |            JOIN cnt y ON doc_b = y.doc_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(least(x.n, y.n) AS DOUBLE) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,

    "text_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS n,
        |       unnest(list_transform(range(length(text)),
        |         i -> text[i+1:i+1])) AS c
        |     FROM documents WHERE length(text) > 0),
        |pc AS (SELECT doc_id, n, c, count(*) AS k FROM ch GROUP BY 1, 2, 3),
        |sc AS (SELECT doc_id, n, count(*) AS nd,
        |         CAST(sum(CAST(floor((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
        |             * ln(CAST(n AS DOUBLE) / CAST(k AS DOUBLE)) * 1e6)
        |           AS BIGINT)) AS BIGINT) AS e
        |       FROM pc GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n, 0) AS BIGINT) AS n_chars,
        |  CAST(coalesce(sc.nd, 0) AS BIGINT) AS n_distinct_chars,
        |  coalesce(sc.e, 0) AS entropy_micro_nats
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "tfidf_keywords" ->
      s"""WITH $toksCte,
         |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
         |nd AS (SELECT count(*) AS n FROM documents),
         |idf AS (SELECT term, CAST(floor(ln(CAST(n + 1 AS DOUBLE)
         |          / CAST(df + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS idfm
         |        FROM (SELECT term, count(*) AS df FROM dt GROUP BY 1), nd),
         |sc AS (SELECT doc_id, term, tf, tf * idfm AS score_micro
         |       FROM dt JOIN idf USING (term))
         |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, score_micro FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_micro DESC, term) AS rank FROM sc)
         |WHERE rank <= 5
         |ORDER BY doc_id, rank""".stripMargin,

    // per-domain line share rule; anti join expressed as LEFT JOIN + NULL
    "boilerplate_scrub" ->
      """WITH lined AS (SELECT doc_id, source,
        |       string_split(replace(text, ' table ', chr(10)), chr(10)) AS l
        |       FROM documents),
        |lines AS (SELECT doc_id, source, unnest(list_transform(range(len(l)),
        |       i -> {'pos': i, 'line': l[i+1]}), recursive := true) FROM lined),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |df AS (SELECT source, line, count(DISTINCT doc_id) AS d
        |       FROM lines GROUP BY 1, 2),
        |hot AS (SELECT source, line FROM df JOIN nd USING (source)
        |        WHERE n_docs >= 5
        |          AND CAST(d AS DOUBLE) > CAST(n_docs AS DOUBLE) * 0.04),
        |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
        |         LEFT JOIN hot h ON l.source = h.source AND l.line = h.line
        |         WHERE h.line IS NULL)
        |SELECT l.doc_id, l.source,
        |       coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
        |       count(*) AS n_lines,
        |       count(*) - count(k.line) AS n_removed
        |FROM lines l LEFT JOIN kept k ON l.doc_id = k.doc_id AND l.pos = k.pos
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    // lm_score_bigram's scoring chain + per-language tercile cuts; the
    // tercile fractions are the SAME IEEE division (1/3 in doubles) both
    // engines perform, and quantile_cont's interpolation matches Spark's
    // exact percentile (lower + frac·(upper−lower))
    "ccnet_buckets" -> ccnetBucketsOracle,

    // the keep rule over the same chain — head+middle survive
    "ccnet_filter" ->
      s"""SELECT * FROM ($ccnetBucketsOracle)
         |WHERE bucket IN ('head', 'middle') ORDER BY doc_id""".stripMargin,

    // the text_subword_segments recursive walk, pieces mapped to 1-based
    // fixture ids (UNK → 0) — VALUES list generated from the same Seq
    "tokenize_to_ids" -> {
      val values = SubwordVocab.zipWithIndex
        .map { case (v, i) => s"('$v', ${i + 1})" }.mkString(", ")
      s"""WITH RECURSIVE $toksCte,
         |vocab(v, id) AS (VALUES $values),
         |w AS (SELECT doc_id, u[1] AS w, u[2] AS widx
         |      FROM (SELECT doc_id, unnest(list_zip(t, range(1, len(t)+1))) AS u
         |            FROM toks)),
         |m AS (
         |  SELECT doc_id, widx, w, CAST(1 AS BIGINT) AS pos,
         |         CAST(0 AS BIGINT) AS step, CAST(NULL AS VARCHAR) AS piece
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, widx, w,
         |    pos + coalesce((SELECT max(length(v)) FROM vocab
         |                    WHERE v = substr(w, CAST(pos AS INT), length(v))), 1),
         |    step + 1,
         |    substr(w, CAST(pos AS INT),
         |      CAST(coalesce((SELECT max(length(v)) FROM vocab
         |                     WHERE v = substr(w, CAST(pos AS INT), length(v))), 1) AS INT))
         |  FROM m WHERE pos <= length(w)
         |),
         |wp AS (SELECT m.doc_id, m.widx,
         |         string_agg(CAST(coalesce(vo.id, 0) AS VARCHAR), ' '
         |           ORDER BY m.step) AS ids,
         |         count(*) AS nw
         |       FROM m LEFT JOIN vocab vo ON vo.v = m.piece
         |       WHERE m.piece IS NOT NULL GROUP BY 1, 2),
         |per_doc AS (SELECT doc_id, string_agg(ids, ' ' ORDER BY widx) AS token_ids,
         |            CAST(sum(nw) AS BIGINT) AS n_ids FROM wp GROUP BY 1)
         |SELECT d.doc_id, coalesce(p.token_ids, '') AS token_ids,
         |       CAST(coalesce(p.n_ids, 0) AS BIGINT) AS n_ids
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // the GD trajectory unrolled: one (z, gradient, weights) CTE layer per
    // iteration, generated from the SAME (buckets, iters, lr) constants as
    // the Spark gate; margin/gradient quantization and the rational
    // sigmoid mirror QualityModel expression-for-expression
    "quality_lr" ->
      s"""$qualityLrScoredWith
         |SELECT doc_id, label, z_nano, prob_micro, predicted
         |FROM scored ORDER BY doc_id""".stripMargin,

    // the calibration rollup over the SAME replayed GD trajectory —
    // integer micro means via floor division, deciles, 10⁶ folded into
    // the top bin (mirrors QualityModel.calibrationReport)
    "classifier_calibration" ->
      s"""$qualityLrScoredWith
         |SELECT bin, n, n_pos, mean_pred_micro, pos_rate_micro,
         |  abs(mean_pred_micro - pos_rate_micro) AS gap_micro
         |FROM (SELECT least(prob_micro * 100 // 1000000, 99) AS bin,
         |        CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(label) AS BIGINT) AS n_pos,
         |        CAST(sum(prob_micro) // count(*) AS BIGINT) AS mean_pred_micro,
         |        CAST((sum(label) * 1000000) // count(*) AS BIGINT) AS pos_rate_micro
         |      FROM scored GROUP BY 1)
         |ORDER BY bin""".stripMargin,

    // the single-window reference formulation of the two-phase rank
    "epoch_interleave" ->
      """WITH d AS (SELECT doc_id, lang,
        |  substring(md5(CAST(doc_id AS VARCHAR) || ':ep'), 1, 8) AS h
        |  FROM documents),
        |r AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
        |    AS BIGINT) - 1 AS epoch_rank FROM d),
        |n AS (SELECT lang, count(*) AS ns FROM documents GROUP BY 1)
        |SELECT doc_id, lang, epoch_rank,
        |  (CAST(epoch_rank AS DOUBLE) + 0.5) / CAST(ns AS DOUBLE)
        |    AS order_key
        |FROM r JOIN n USING (lang) ORDER BY doc_id""".stripMargin,

    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents
        |           WHERE doc_id % 7 <> 3),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |                 ELSE text END) AS new_hash
        |      FROM documents WHERE doc_id % 11 <> 5)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.old_hash IS NULL THEN 'added'
        |       WHEN n.new_hash IS NULL THEN 'removed'
        |       WHEN o.old_hash <> n.new_hash THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  o.old_hash, n.new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin,

    // the shared components walk + per-doc cluster key + the cumulative
    // md5 split cuts (0.9 -> e6666666, 0.95 -> f3333333)
    "split_by_cluster" ->
      s"""WITH RECURSIVE $componentsCtes,
         |comp AS MATERIALIZED (SELECT id AS doc_id,
         |    CAST(min(lab) AS BIGINT) AS component
         |  FROM walk GROUP BY id),
         |k AS (SELECT d.doc_id,
         |    COALESCE(c.component, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id, cluster,
         |  CASE WHEN substring(md5(CAST(cluster AS VARCHAR) || ':cs'), 1, 8)
         |            < 'e6666666' THEN 'train'
         |       WHEN substring(md5(CAST(cluster AS VARCHAR) || ':cs'), 1, 8)
         |            < 'f3333333' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM k ORDER BY doc_id""".stripMargin,

    // sample_split's CASE ladder with the draw keyed on the domain string
    "split_by_group" ->
      """WITH d AS (SELECT doc_id, source,
        |  substring(md5(source || ':gs'), 1, 8) AS h FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN h < 'e6666666' THEN 'train'
        |       WHEN h < 'f3333333' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM d ORDER BY doc_id""".stripMargin,

    // the histogram-cum formulation mirrored literally (rank
    // r_p = max(1, ceil(p*n)) on the DOUBLE product — engine-exact)
    "exact_quantiles" -> {
      val qSel = Seq(0.25, 0.5, 0.75, 0.95).map { p =>
        val nm = "q_" + math.round(p * 100)
        s"""CAST(min(CASE WHEN cum >= greatest(1, CAST(ceil($p * CAST(n AS DOUBLE)) AS BIGINT))
           |  THEN len END) AS BIGINT) AS $nm""".stripMargin
      }.mkString(",\n")
      s"""WITH $toksCte,
         |lv AS (SELECT d.lang, CAST(len(t.t) AS BIGINT) AS len
         |       FROM toks t JOIN documents d USING (doc_id)),
         |h AS MATERIALIZED (SELECT lang, len, count(*) AS cnt
         |  FROM lv GROUP BY 1, 2),
         |c AS (SELECT lang, len,
         |  sum(cnt) OVER (PARTITION BY lang ORDER BY len
         |    ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(cnt) OVER (PARTITION BY lang) AS n
         |  FROM h)
         |SELECT lang, CAST(max(n) AS BIGINT) AS n,
         |$qSel
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin
    },

    // the shardAssign single-window replay + ORDER BY pos_in_shard
    // string_agg digest (ids join in replay order, never sorted as text)
    "shard_manifest" ->
      s"""WITH $toksCte,
         |lv AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM toks),
         |shd AS MATERIALIZED (SELECT doc_id, len,
         |    CAST(pos % 4 AS INT) AS shard, pos // 4 AS pos_in_shard
         |  FROM (SELECT doc_id, len,
         |          row_number() OVER (ORDER BY
         |            substring(md5(CAST(doc_id AS VARCHAR) || ':mani'), 1, 8),
         |            doc_id) - 1 AS pos
         |        FROM lv))
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len) AS BIGINT) AS total_tokens,
         |  min(pos_in_shard) AS first_pos, max(pos_in_shard) AS last_pos,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), '|'
         |    ORDER BY pos_in_shard)) AS members_md5
         |FROM shd GROUP BY shard ORDER BY shard""".stripMargin,

    // the same deterministic host graph + unrolled fixed-point rounds
    "host_pagerank" -> pageRankOracle,

    // symmetrized host graph + unrolled synchronous majority rounds
    "host_label_prop" -> labelPropOracle,

    // both unrolled graph chains over ONE host graph + the doc aggregate
    "host_report" -> hostReportOracle,

    // reference-quantile buckets + micro-quantized PSI terms per signal
    "drift_report" -> driftOracle,

    // the kmeans assignment (unrolled rounds) + per-cell md5-permutation
    // window + integer group split
    "semantic_pack" ->
      s"""WITH $kmeansCtes,
         |fin AS (SELECT e.vec_id, c.cell, ${sqDistSql("e.v", "c.c")} AS d
         |        FROM emb e, cent$KmeansIters c),
         |a AS MATERIALIZED (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
         |  FROM fin) WHERE rn = 1),
         |r AS (SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY substring(md5(CAST(vec_id AS VARCHAR) || ':icp'), 1, 8),
         |        vec_id) - 1 AS ctx_rank
         |  FROM a)
         |SELECT vec_id, cell, CAST(ctx_rank AS BIGINT) AS ctx_rank,
         |  CAST(ctx_rank // 16 AS BIGINT) AS ctx_group,
         |  CAST(ctx_rank % 16 AS BIGINT) AS pos_in_group
         |FROM r ORDER BY vec_id""".stripMargin,

    // the per-rule predicate CTE + list-concat provenance assembly
    "filter_provenance" -> filterProvenanceOracle,

    // per-rule scalar-subquery counts over the same predicate CTE
    "filter_ablation" -> filterAblationOracle,

    // quantile_cont cuts (matches Spark's exact percentile), band =
    // #cuts strictly below, single-window within-band ranks, and the
    // same float op order for curriculum_key
    "curriculum_order" ->
      s"""WITH $toksCte,
         |sc AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS DOUBLE) AS score
         |  FROM toks),
         |q AS MATERIALIZED (SELECT quantile_cont(score, [0.25, 0.5, 0.75]) AS c
         |  FROM sc),
         |b AS MATERIALIZED (SELECT doc_id, score,
         |    (CASE WHEN score > c[1] THEN 1 ELSE 0 END
         |     + CASE WHEN score > c[2] THEN 1 ELSE 0 END
         |     + CASE WHEN score > c[3] THEN 1 ELSE 0 END) AS band,
         |    substring(md5(CAST(doc_id AS VARCHAR) || ':cur'), 1, 8) AS d
         |  FROM sc CROSS JOIN q),
         |n AS MATERIALIZED (SELECT band, count(*) AS ns FROM b GROUP BY band),
         |r AS (SELECT b.doc_id, b.score, b.band,
         |    row_number() OVER (PARTITION BY b.band
         |      ORDER BY b.d, b.doc_id) - 1 AS band_rank,
         |    n.ns
         |  FROM b JOIN n USING (band))
         |SELECT doc_id, score, band, CAST(band_rank AS BIGINT) AS band_rank,
         |  (CAST(band AS DOUBLE)
         |   + (CAST(band_rank AS DOUBLE) + 0.5) / CAST(ns AS DOUBLE)) / 4
         |  AS curriculum_key
         |FROM r ORDER BY doc_id""".stripMargin,

    // single-window replay of the two-phase funnel: threshold, then
    // rank per prompt by (reward desc, doc_id)
    "rejection_sample" ->
      s"""WITH $toksCte,
         |sc AS MATERIALIZED (SELECT doc_id, doc_id % 40 AS prompt_id,
         |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS reward
         |  FROM toks WHERE len(t) > 0),
         |r AS (SELECT prompt_id, doc_id, reward,
         |    row_number() OVER (PARTITION BY prompt_id
         |      ORDER BY reward DESC, doc_id) AS sample_rank
         |  FROM sc WHERE reward >= 0.5)
         |SELECT prompt_id, CAST(sample_rank AS BIGINT) AS sample_rank,
         |  doc_id, reward
         |FROM r WHERE sample_rank <= 3
         |ORDER BY prompt_id, sample_rank""".stripMargin,

    // DuckDB GROUPING() emits the same bit encoding as Spark's
    // grouping_id (first dim = high bit; verified empirically)
    "corpus_rollup" ->
      s"""WITH $toksCte,
         |lv AS (SELECT d.lang, d.source, CAST(len(t.t) AS BIGINT) AS len
         |       FROM toks t JOIN documents d USING (doc_id))
         |SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len) AS BIGINT) AS total_tokens
         |FROM lv GROUP BY CUBE(lang, source)
         |ORDER BY gid, lang, source""".stripMargin,

    // exact integer math both sides: p = ceil(n/3) = (n+2) div 3;
    // 1 <= p <= n-1 for every kept doc (n >= 2)
    "sft_format" ->
      s"""WITH $toksCte,
         |e AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
         |        CAST((len(t) + 2) // 3 AS BIGINT) AS p
         |      FROM toks WHERE len(t) >= 2)
         |SELECT doc_id,
         |  '<|user|> ' || array_to_string(t[1:CAST(p AS INT)], ' ') ||
         |  ' <|assistant|> ' ||
         |  array_to_string(t[CAST(p + 1 AS INT):CAST(n AS INT)], ' ') ||
         |  ' <|eot|>' AS sft_text,
         |  n + 3 AS n_tokens, p AS n_prompt_tokens,
         |  n - p AS n_response_tokens, p + 2 AS mask_start,
         |  n + 3 AS mask_end
         |FROM e ORDER BY doc_id""".stripMargin,

    // the multi-turn tier: quartered turns, role-tag + eot rendering,
    // exclusive-cumsum spans, ordered string_agg conversation text
    "sft_chat_format" ->
      s"""WITH $toksCte,
         |c4 AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
         |         CAST(len(t) // 4 AS BIGINT) AS q
         |       FROM toks WHERE len(t) >= 4),
         |trn AS (SELECT doc_id AS conv_id, i AS turn_idx,
         |          CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         |          CASE i WHEN 0 THEN t[1:CAST(q AS INT)]
         |                 WHEN 1 THEN t[CAST(q + 1 AS INT):CAST(2 * q AS INT)]
         |                 WHEN 2 THEN t[CAST(2 * q + 1 AS INT):CAST(3 * q AS INT)]
         |                 ELSE t[CAST(3 * q + 1 AS INT):CAST(n AS INT)] END AS tt
         |        FROM (SELECT *, CAST(unnest(range(4)) AS BIGINT) AS i FROM c4)),
         |rt AS (SELECT conv_id, turn_idx, role,
         |         ['<|' || role || '|>'] || tt ||
         |           (CASE WHEN role = 'assistant' THEN ['<|eot|>']
         |                 ELSE CAST([] AS VARCHAR[]) END) AS r
         |       FROM trn),
         |sp AS (SELECT conv_id, turn_idx, role, r,
         |         CAST(len(r) AS BIGINT) AS tlen,
         |         CAST(coalesce(sum(len(r)) OVER (PARTITION BY conv_id
         |             ORDER BY turn_idx
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS s
         |       FROM rt),
         |conv AS (SELECT conv_id,
         |           string_agg(array_to_string(r, ' '), ' ' ORDER BY turn_idx)
         |             AS sft_text,
         |           CAST(sum(tlen) AS BIGINT) AS n_tokens
         |         FROM sp GROUP BY 1)
         |SELECT sp.conv_id, sp.turn_idx, sp.role,
         |  sp.s AS span_start, sp.s + sp.tlen AS span_end,
         |  sp.role = 'assistant' AS masked,
         |  CASE WHEN sp.role = 'assistant' THEN sp.s + 1
         |       ELSE sp.s + sp.tlen END AS mask_start,
         |  sp.s + sp.tlen AS mask_end,
         |  c.n_tokens, c.sft_text
         |FROM sp JOIN conv c USING (conv_id)
         |ORDER BY sp.conv_id, sp.turn_idx""".stripMargin,

    // per-signal value histograms + cumulative windows over the
    // distinct-value frames, value-keyed joins back, integer mean
    // (shared ensembleCtes — the L148 blend oracle rides the same chain)
    "quality_ensemble" ->
      s"""WITH $ensembleCtes
         |SELECT doc_id, n_tok, n_distinct, n_chars,
         |  rank_n_tok, rank_n_distinct, rank_n_chars, ensemble_micro
         |FROM ens ORDER BY doc_id""".stripMargin,

    // top-30 corpus 5-grams by total frequency, gram-ascending tiebreak,
    // doc frequency alongside
    "corpus_top_ngrams" ->
      s"""WITH $toksCte,
         |g AS (SELECT doc_id, array_to_string(t[i+1:i+5], ' ') AS gram
         |      FROM (SELECT doc_id, t,
         |              unnest(range(CASE WHEN len(t) >= 5 THEN len(t) - 4 ELSE 0 END)) AS i
         |            FROM toks)),
         |tf AS (SELECT gram, CAST(count(*) AS BIGINT) AS term_freq
         |       FROM g GROUP BY 1),
         |top AS (SELECT gram, term_freq,
         |          CAST(row_number() OVER (ORDER BY term_freq DESC, gram)
         |            AS INT) AS rank
         |        FROM tf QUALIFY rank <= 30),
         |df AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
         |       FROM g JOIN top USING (gram) GROUP BY 1)
         |SELECT rank, top.gram, term_freq, doc_freq
         |FROM top JOIN df USING (gram)
         |ORDER BY rank""".stripMargin,

    // the sequential recursive walk of the greedy recurrence — the Spark
    // side computes the same orbit by pointer doubling
    "pack_greedy" ->
      s"""WITH RECURSIVE $toksCte,
         |plens AS MATERIALIZED (SELECT doc_id, CAST(len(t) AS BIGINT) AS len
         |  FROM toks),
         |${packOracleCtes(64, 4)}
         |SELECT p.doc_id, p.len, p.bucket, p.idx AS pack_idx, a.bin_id,
         |  a.pos_in_bin, p.len > 64 AS overlong
         |FROM ppos p JOIN pasn a ON a.bucket = p.bucket AND a.idx = p.idx
         |ORDER BY p.bucket, pack_idx""".stripMargin
  )
}
