package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED document-quality classifier: full-batch logistic regression over
  * hashed bag-of-words features, learned with gradient descent — the
  * fastText-shaped "train a filter on labels, score the corpus" step of a
  * curation pipeline (reference quality scoring is heuristic-only; this is
  * the learning sibling of [[KMeans]] and [[BpeLearn]]).
  *
  * ENGINE-EXACT TRAINING, like every learned loop here:
  *  - features are token-count fractions over `buckets` md5-derived hash
  *    buckets (the [[TextAnalysis.classifierScores]] hash convention) plus
  *    a bias; each is ONE double division;
  *  - the margin z = w·x quantizes each product to integer NANO units
  *    before the in-row sum, so neither engine's addition order matters;
  *  - the link is the RATIONAL "fast sigmoid" σ(z) = 0.5 + z/(2·(1+|z|)) —
  *    +, ×, /, abs are all correctly-rounded IEEE ops, so both engines get
  *    the same bits; libm `exp` is NOT correctly rounded and Java/DuckDB
  *    may legally differ in the last ulp, which a hash gate would catch;
  *  - per-document gradient contributions quantize to integer MICRO units
  *    and integer-sum across the corpus (exact, order-free); only the
  *    per-iteration weight update runs in doubles, on identical inputs
  *    with identical expression shape both engines reproduce.
  *
  * Scale shape: the feature frame (doc_id, label, buckets+1 doubles) is
  * built once — one narrow aggregation with conditional sums, no pivot, no
  * explode-regroup — and persisted; each iteration is ONE map-side-
  * combined scalar aggregation over it (buckets+1 integer sums + a count)
  * followed by a one-row weight projection, and the WHOLE trajectory is
  * one chained query executed by a single collect (see [[train]]).
  * Iterations cost no shuffle of the corpus, and the model never exists as
  * anything but literals in the scoring projection — scoring is
  * shuffle-free.
  */
object QualityModel {

  /** md5-derived token hash bucket (shared convention with
    * [[TextAnalysis.classifierScores]] and its proven oracle twin).
    *
    * ACCEPTED FLOOR — md5 is the contract, not a residual: the bucket
    * function must be computed identically by this engine and the DuckDB
    * oracle, and md5 is the ONLY hash both implement bit-identically
    * (checked against `duckdb_functions()`: DuckDB ships `hash` — its own
    * algorithm, incompatible with Spark's — plus md5/sha; Spark's
    * xxhash64/murmur have no DuckDB counterpart). The native [[
    * graft.functions.Md5Prefix]] already strips the hex-string
    * materialization, so the remaining per-token cost is one md5 block —
    * the same price the oracle pays. A production deployment free of the
    * cross-engine parity contract would swap `xxhash64(tok)` in here (one
    * line) for ~3× cheaper bucketing. */
  private def bucketOf(tok: Column, buckets: Int): Column =
    pmod(graft.functions.Md5Prefix.prefix(tok, 6), lit(buckets.toLong))

  /** Per-document features: x_j = (tokens in bucket j) / (doc tokens) for
    * j < buckets; callers append the implicit bias x_buckets = 1.0 in the
    * margin. `labelExpr` evaluates over the raw doc row to 0.0/1.0.
    * Zero-token documents have no features and drop (nothing to score). */
  def features(docs: DataFrame, buckets: Int, labelExpr: Column,
               idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    // explode(split) + a ROW filter, not explode(tokens(...)): the token
    // multiset is identical (empties dropped either way, and a blank-only
    // doc drops entirely in both shapes), but ArrayFilter is
    // CodegenFallback — interpreting it under a corpus-wide explode cost
    // ~2× on the whole feature build — while split/explode/filter-row
    // stay inside whole-stage codegen
    val tok = docs
      .select(col(idCol).as("doc_id"), labelExpr.cast("double").as("y"),
        explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("__b", bucketOf(col("tok"), buckets))
    // .otherwise(0L) is load-bearing: without it a bucket no token hits
    // sums to NULL (not 0), nulling the margin and silently dropping the
    // doc's gradient contribution
    val xs = (0 until buckets).map(j =>
      (sum(when(col("__b") === j, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as(s"x$j"))
    tok.groupBy(col("doc_id"), col("y")).agg(xs.head, xs.tail: _*)
  }

  /** STREAMING-SAFE feature twin of [[features]]: the same per-document
    * feature row computed as a pure in-row projection — tokens hash to
    * buckets once via an in-row transform, each x_j is a count over the
    * small int array — no explode, no groupBy, no state, so it runs in an
    * append-mode stream as-is (score incoming documents under a
    * batch-trained model, the [[Dsir.scoreStateless]] discipline).
    * Equivalence to the aggregation formulation is spec-enforced; the
    * BATCH trainer stays on [[features]] (the HOFs here are
    * CodegenFallback — fine per-row in a stream, wrong for the corpus-wide
    * training scan). Zero-token documents drop, matching [[features]]. */
  def featuresInRow(docs: DataFrame, buckets: Int, labelExpr: Column,
                    idCol: String = "doc_id", textCol: String = "text")
      : DataFrame = {
    val xs = (0 until buckets).map(j =>
      (size(filter(col("__bs"), b => b === j)).cast("double") /
        size(col("__bs")).cast("double")).as(s"x$j"))
    docs
      .select(col(idCol).as("doc_id"), labelExpr.cast("double").as("y"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      // hash every token ONCE; the per-bucket counts then scan a small
      // int array instead of re-hashing per bucket
      .withColumn("__bs", transform(col("__toks"),
        t => bucketOf(t, buckets)))
      .select(col("doc_id") +: col("y") +: xs: _*)
  }

  /** z in NANO units as an integer column over a feature row: each
    * w_j·x_j product rounds to nanos independently, the sum is exact.
    * Weights may be literals (scoring) or columns (the fused training
    * plan) — the multiply is the same IEEE op either way. */
  private def zNanoOf(w: Int => Column, buckets: Int): Column =
    (0 until buckets).map(j =>
      round(w(j) * col(s"x$j") * lit(1e9)).cast("long"))
      .reduce(_ + _) +
      round(w(buckets) * lit(1.0) * lit(1e9)).cast("long")

  private def zNano(w: Array[Double], buckets: Int): Column =
    zNanoOf(j => lit(w(j)), buckets)

  /** Fast sigmoid over a nano-quantized margin. EXPRESSION SHAPE IS
    * CONTRACT: the oracle mirrors it verbatim — change both or neither. */
  private def sigmoid(zn: Column): Column = {
    val z = zn.cast("double") / lit(1e9)
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
  }

  /** Train `iters` full-batch GD steps from w = 0; returns the learned
    * weights (length buckets+1, bias last).
    *
    * The whole trajectory is built as ONE chained plan — per step, the
    * current one-row weight frame broadcast-crossJoins the features, the
    * gradient sums aggregate, and the next weights are a projection over
    * that one row — and a single collect at the end
    * executes it. GD steps therefore cost exchanges inside one query, not
    * `iters` separate collect round-trips (the old shape: ~0.6 s of fixed
    * job latency per step at sf0.1, iteration- not data-bound). The
    * weight-update expression `w - lr * ((g / 1e6) / n)` runs the exact
    * IEEE ops the driver loop ran, on the same integer-exact gradient
    * sums, so the trajectory — and the unrolled-CTE oracle — is unchanged
    * bit for bit.
    *
    * The one query reads `feats` once per step, so pass a materialized
    * frame (`TrainingDataQueries.qualityScored`, the one caller, passes a
    * local checkpoint), not a plan that would recompute the features
    * `iters` times. */
  def train(feats: DataFrame, buckets: Int, iters: Int, lr: Double)
      : Array[Double] = {
    require(iters >= 1, s"iters=$iters: need at least one step")
    val spark = feats.sparkSession
    // AQE off for the trajectory query only: every exchange here is a
    // 1-row aggregate or broadcast, and AQE's per-exchange query-stage
    // materialization is pure fixed cost at that size (measured 2.8 s ->
    // 1.6 s for 8 steps at sf0.1, identical weights). Conf flips are
    // session-scoped; a concurrent query compiled in this window would
    // plan without AQE — correct, just unoptimized — and the flag is
    // restored before returning.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      var wdf = spark.range(1)
        .select((0 to buckets).map(j => lit(0.0).as(s"w$j")): _*)
      var it = 0
      while (it < iters) {
        val resid = sigmoid(zNanoOf(j => col(s"w$j"), buckets)) - col("y")
        val gs = (0 until buckets).map(j =>
          sum(round(resid * col(s"x$j") * lit(1e6)).cast("long"))
            .as(s"g$j")) :+
          sum(round(resid * lit(1.0) * lit(1e6)).cast("long"))
            .as(s"g$buckets") :+ count(lit(1)).as("n")
        // weights are constant across the crossJoined rows; min() carries
        // them through the aggregation to the next projection
        val carry = (0 to buckets).map(j => min(col(s"w$j")).as(s"w$j"))
        val all = gs ++ carry
        wdf = feats.crossJoin(broadcast(wdf))
          .agg(all.head, all.tail: _*)
          .select((0 to buckets).map(j =>
            (col(s"w$j") - lit(lr) *
              ((col(s"g$j").cast("double") / lit(1e6)) /
                col("n").cast("double"))).as(s"w$j")): _*)
        it += 1
      }
      val row = wdf.head()
      Array.tabulate(buckets + 1)(row.getDouble)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  /** Score a feature frame under learned weights: margin in nano units,
    * fast-sigmoid probability in micro units, predicted = z >= 0. Pure
    * projection over literals — shuffle-free. */
  def score(feats: DataFrame, w: Array[Double], buckets: Int): DataFrame = {
    val zn = zNano(w, buckets)
    feats.select(col("doc_id"), col("y").cast("long").as("label"),
      zn.as("z_nano"),
      round(sigmoid(zn) * lit(1e6)).cast("long").as("prob_micro"),
      (zn >= 0L).as("predicted"))
  }

  /** Calibration / reliability report over a [[score]] output — the
    * standard check before a classifier's scores gate a corpus (a
    * quality filter that says "0.9" should be right ~90% of the time;
    * Guo et al. 2017's ECE is this table's weighted column sum):
    * predicted probabilities bucket into `bins` equal-width bins and each
    * bin reports its size, mean predicted probability, and empirical
    * positive rate — all in INTEGER micro units (sums of micro
    * probabilities are exact; means are floor divisions), so the table
    * is engine-exact. ECE·10⁶ = Σ n·gap_micro / N over the rows.
    *
    * Scale shape: one map-side-combined aggregation to a `bins`-sized
    * frame; the corpus never shuffles (the bin key is a pure projection
    * of prob_micro). Empty bins are absent — a report row says what was
    * observed, not what wasn't. */
  def calibrationReport(scored: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins=$bins")
    // prob_micro spans [0, 10^6]; the 10^6 endpoint folds into the top bin
    val bin = least(floor(col("prob_micro") * bins / 1000000L), lit(bins - 1))
      .cast("long")
    scored
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("prob_micro")).as("__sp"),
        sum(col("label")).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        // `div` is INTEGER floor division — exact at any corpus size (a
        // double-division detour loses bits once sums pass 2^53)
        expr("__sp div n").as("mean_pred_micro"),
        expr("(n_pos * 1000000) div n").as("pos_rate_micro"))
      .withColumn("gap_micro",
        abs(col("mean_pred_micro") - col("pos_rate_micro")))
  }

  /** Per-domain quality prior + blended score (L148) — the FineWeb-era
    * move: a document's keep decision reads BOTH its own signal and its
    * domain's track record (a mediocre page on a consistently-good
    * domain survives; a polished page on a spam domain doesn't).
    * prior(domain) = floor-mean of the integer score over the domain;
    * blend = (priorNum·prior + (priorDen−priorNum)·score) div priorDen
    * — all integer, engine-exact.
    *
    * Scale shape: one domain-keyed aggregation with map-side combine
    * (domains-sized output) joined back BROADCAST; the corpus is
    * scanned once and never shuffles. */
  def domainPriorBlend(scored: DataFrame, domainCol: String,
                       scoreCol: String, priorNum: Long = 1,
                       priorDen: Long = 2): DataFrame =
    domainPriorBlendStateless(scored,
      domainPrior(scored, domainCol, scoreCol), domainCol, scoreCol,
      priorNum, priorDen)

  /** The batch-fitted per-domain prior behind [[domainPriorBlend]]: ONE
    * domains-sized floor-mean aggregation — the frozen model a stream
    * scores under ([[domainPriorBlendStateless]]). */
  def domainPrior(scored: DataFrame, domainCol: String,
                  scoreCol: String): DataFrame =
    scored.groupBy(col(domainCol))
      .agg(expr(s"sum($scoreCol) div count(1)").as("domain_prior_micro"))

  /** Stateless streaming twin of [[domainPriorBlend]]: the prior is a
    * batch-fitted [[domainPrior]] frame, the blend a pure per-row
    * projection after a broadcast equi-join — append mode, no watermark,
    * the [[Dsir.scoreStateless]] fit-batch/apply-stream discipline.
    * Drained-stream output ≡ batch on the same corpus by construction
    * (same join, same integer blend).
    *
    * Unseen domains — a frozen prior has no opinion on a domain the fit
    * never saw, and on a production stream new domains WILL arrive:
    *  - `defaultPrior = None` (the strict default): unseen-domain rows
    *    are DROPPED (inner join). Only safe when stream domains are a
    *    subset of fitted domains by construction; otherwise this is
    *    silent data loss — prefer the explicit default.
    *  - `defaultPrior = Some(p)`: LEFT join; unseen rows blend against
    *    `p` (e.g. the corpus-median prior) and are flagged
    *    `prior_seen = false` so callers can count or route them instead
    *    of losing them invisibly. */
  def domainPriorBlendStateless(scored: DataFrame, prior: DataFrame,
                                domainCol: String, scoreCol: String,
                                priorNum: Long = 1,
                                priorDen: Long = 2,
                                defaultPrior: Option[Long] = None): DataFrame = {
    require(priorDen >= 1 && priorNum >= 0 && priorNum <= priorDen,
      s"blend $priorNum/$priorDen: need 0 <= num <= den, den >= 1")
    val reserved = Seq("domain_prior_micro", "blend_micro", "prior_seen")
    require(!scored.columns.exists(reserved.contains),
      s"${reserved.mkString("/")} are reserved by domainPriorBlend")
    val blend = expr(s"($priorNum * domain_prior_micro + " +
      s"(${priorDen - priorNum}) * $scoreCol) div $priorDen")
    defaultPrior match {
      case None =>
        scored.join(broadcast(prior), Seq(domainCol))
          .withColumn("blend_micro", blend)
      case Some(p) =>
        scored.join(broadcast(prior), Seq(domainCol), "left")
          .withColumn("prior_seen", col("domain_prior_micro").isNotNull)
          .withColumn("domain_prior_micro",
            coalesce(col("domain_prior_micro"), lit(p)))
          .withColumn("blend_micro", blend)
    }
  }
}
