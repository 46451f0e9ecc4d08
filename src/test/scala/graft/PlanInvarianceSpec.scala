package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Scale-invariance of the composed pipeline's PLAN SHAPE: the 100×
  * claim (sf0.001 → sf0.1 and onward) should ride on the plans staying
  * structurally identical — same exchanges, same join strategies — not
  * just on result parity. The gate runs eager checkpoints stage by
  * stage, so the real pipeline is only visible as the SEQUENCE of SQL
  * executions it launches; a listener collects every execution's initial
  * plan and the spec compares the aggregate shape across scale factors.
  *
  * Size-based broadcast demotion is disabled during the capture
  * (`autoBroadcastJoinThreshold = -1`, restored after): checkpointed
  * frames report SF-dependent size stats, so threshold decisions would
  * legitimately differ across SFs — the invariant under test is the
  * STRUCTURAL shape (explicit broadcast() hints included; they are the
  * scale-critical ones), not the size heuristics AQE retunes at runtime
  * anyway.
  */
class PlanInvarianceSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private final case class Shape(hashExchanges: Int, broadcasts: Int,
                                 joins: Map[String, Int])

  /** All SQL executions (checkpoints, guard jobs, the gate's own plan)
    * launched while constructing + forcing the named gate at `dir`,
    * summarized as plan-shape counts. The gate is forced through a `noop`
    * write, which runs as an SQL execution carrying its whole plan
    * (`toRdd.count()` starts none); the spec checks that this write is the
    * last execution captured. */
  private def capture(name: String, dir: String): Seq[Shape] = {
    val infos = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart => infos.add(e.sparkPlanInfo)
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // spec-only surfaces (no DuckDB oracle exists) keep their plan pin
      // through the specOnlyQueries side map
      SparkEntry.queries
        .getOrElse(name, graft.queries.TrainingDataQueries.specOnlyQueries(name))
        .apply(spark, dir).write.format("noop").mode("overwrite").save()
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    spark.catalog.clearCache()
    def walk(i: SparkPlanInfo)(f: SparkPlanInfo => Unit): Unit = {
      f(i); i.children.foreach(walk(_)(f))
    }
    import scala.jdk.CollectionConverters._
    val roots = infos.asScala.toSeq
    assert(roots.lastOption.exists(_.nodeName == "OverwriteByExpression"),
      s"$name: the last execution is not the gate's own write: " +
        roots.lastOption.map(_.nodeName))
    roots.map { root =>
      var hash = 0; var bcast = 0
      val joins = scala.collection.mutable.Map.empty[String, Int]
      walk(root) { n =>
        if (n.nodeName == "Exchange" &&
            n.simpleString.contains("hashpartitioning")) hash += 1
        if (n.nodeName.startsWith("BroadcastExchange")) bcast += 1
        if (n.nodeName.contains("Join"))
          joins(n.nodeName) = joins.getOrElse(n.nodeName, 0) + 1
      }
      Shape(hash, bcast, joins.toMap)
    }
  }

  private def total(ss: Seq[Shape]): Shape = Shape(
    ss.map(_.hashExchanges).sum, ss.map(_.broadcasts).sum,
    ss.flatMap(_.joins.toSeq).groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sum })

  /** Pin a gate's plan shape across the 100× span. Strict mode asserts
    * the execution SEQUENCE aligns pairwise (construction order is
    * deterministic, so this pins WHERE any future divergence appears).
    * Iterative gates (`roundMultiplicityVaries`) launch one execution per
    * contraction/label round and converge in a data-dependent number of
    * rounds — there the invariant is the plan VOCABULARY: every shape
    * that appears at one SF appears at the other, so rounds stay
    * structurally identical even when their count differs. */
  private def assertScaleInvariant(name: String,
                                   roundMultiplicityVaries: Boolean = false)
  : Unit = {
    val thresholdBefore =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val small = capture(name, "/root/testdata/sf0.001")
      val large = capture(name, "/root/testdata/sf0.1")
      if (!roundMultiplicityVaries) {
        // the same stage sequence launches the same executions...
        assert(small.size === large.size,
          s"$name execution count differs: sf0.001=${small.size} sf0.1=${large.size}")
        // ...and the pipeline's aggregate shape — every hash exchange,
        // every broadcast, every join strategy — is count-identical
        val (s, l) = (total(small), total(large))
        assert(s === l,
          s"$name aggregate plan shape differs:\n  sf0.001=$s\n  sf0.1  =$l")
        small.zip(large).zipWithIndex.foreach { case ((a, b), i) =>
          assert(a === b,
            s"$name execution $i shape differs: sf0.001=$a sf0.1=$b")
        }
      } else {
        assert(small.toSet === large.toSet,
          s"$name plan-shape vocabulary differs across SFs:\n" +
            s"  sf0.001-only=${(small.toSet -- large.toSet)}\n" +
            s"  sf0.1-only  =${(large.toSet -- small.toSet)}")
      }
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }

  test("corpus_pipeline plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("corpus_pipeline")
  }

  // the other four heaviest bench queries (VERDICT r11 plan-audit table):
  // their 100× claims ride on pinned plan shape too, not just result parity
  test("quality_lr plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("quality_lr")
  }

  test("a6_multiple_link plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("a6_multiple_link")
  }

  test("dedup_keep_best plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_keep_best")
  }

  // both prefix-filtered pair engines (L75/L76): the cap-free exact
  // dedup paths' 100× story is precisely their candidate-join shape —
  // pin it across the span
  test("dedup_jaccard_prefix plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_jaccard_prefix")
  }

  test("dedup_containment_prefix plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_containment_prefix")
  }

  test("unigram_segment plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("unigram_segment")
  }

  // round-12 continuation additions: the composed WordPiece serving gate
  // (8 learn rounds + vocabulary + MaxMatch count — a fixed execution
  // sequence at any corpus size) and the modified-KN scoring chain
  // (model-sized broadcast stats + one corpus join pipeline)
  test("wordpiece_tokenize plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("wordpiece_tokenize")
  }

  test("lm_score_kn plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("lm_score_kn")
  }

  // the sample-prep trio (L81-L83): window/projection pipelines whose
  // 100× story is "no join appears at scale"
  test("span_corruption plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("span_corruption")
  }

  test("concat_slice plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("concat_slice")
  }

  test("fill_in_middle plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("fill_in_middle")
  }

  // the composed tokenizer pipeline (L84): learn rounds + vocab collect +
  // encode + slice launch a FIXED execution sequence at any corpus size
  test("tokenizer_pipeline plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("tokenizer_pipeline")
  }

  // the L85-L88 additions: composed signals join, events islands,
  // lead/lag unpivot, and the subsample broadcast-filter
  test("quality_signals plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("quality_signals")
  }

  test("session_sequences plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("session_sequences")
  }

  test("skipgram_pairs plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("skipgram_pairs")
  }

  test("token_subsample plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("token_subsample")
  }

  test("negative_samples plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("negative_samples")
  }

  test("epoch_schedule plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("epoch_schedule")
  }

  test("dedup_components_stars round vocabulary is identical at sf0.001 and sf0.1") {
    // star contraction converges in a graph-dependent number of rounds —
    // the distributed route runs at BOTH SFs (no size gate in
    // connectedComponentsStars), so this pins the per-round distributed
    // shape itself
    assertScaleInvariant("dedup_components_stars",
      roundMultiplicityVaries = true)
  }

  // the L91-L94 SFT tier: the template render is a pure projection, the
  // preference funnel is two windows + a rank join, and the composed
  // pipeline runs the size-gated local boundary walk (fixed execution
  // sequence at any SF)
  test("sft_format plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sft_format")
  }

  test("preference_pairs plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("preference_pairs")
  }

  test("sft_pipeline plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sft_pipeline")
  }

  test("pack_greedy round vocabulary is identical at sf0.001 and sf0.1") {
    // the gate forces the pointer-doubling route; the orbit needs
    // ceil(log2(m+1)) rounds, so the execution COUNT is data-sized while
    // every round's shape must be scale-invariant
    assertScaleInvariant("pack_greedy", roundMultiplicityVaries = true)
  }

  // L95/L96 reporting ops: one narrow aggregation + small-frame window,
  // and the single-pass cube expansion — fixed execution sequences
  test("exact_quantiles plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("exact_quantiles")
  }

  test("corpus_rollup plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("corpus_rollup")
  }

  // L97-L101: the shard digest (one window + one agg), both link-graph
  // gates (FIXED round counts — the edge/node/degree checkpoints plus
  // one execution per unrolled round, the same sequence at any corpus
  // size), the rejection funnel (two windows), and the curriculum ramp
  // (one percentile agg + the two-phase rank windows)
  test("shard_manifest plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("shard_manifest")
  }

  test("host_pagerank plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("host_pagerank")
  }

  test("host_label_prop plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("host_label_prop")
  }

  test("rejection_sample plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("rejection_sample")
  }

  test("curriculum_order plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("curriculum_order")
  }

  // L102/L103: the provenance tagger is a pure projection and the
  // ablation report one aggregation + static unpivot — no join, no
  // window, at any corpus size
  test("filter_provenance plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("filter_provenance")
  }

  test("filter_ablation plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("filter_ablation")
  }

  // L104: kmeans fit (fixed rounds) + in-row assign + the two-phase
  // context-group ranks — a fixed execution sequence at any corpus size
  test("semantic_pack plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("semantic_pack")
  }

  // L105: per signal one reference percentile agg + broadcast cut row +
  // two bucket counts — the corpus never shuffles
  test("drift_report plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("drift_report")
  }

  // L106: the LSH pair chain + two id-keyed joins on the output-sized
  // pair frame + one group-pair aggregation
  test("dedup_source_matrix plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_source_matrix")
  }

  // L107: one codegen'd projection
  test("text_compress_ratio plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("text_compress_ratio")
  }

  // L108: one shared edge checkpoint + both fixed-round graph chains +
  // the per-host aggregate join — a fixed execution sequence at any SF
  test("host_report plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("host_report")
  }

  // L110: the components rounds are data-dependent (same as
  // dedup_components_stars) — pin the plan VOCABULARY
  test("dedup_report round vocabulary is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_report", roundMultiplicityVaries = true)
  }

  // Round-13 additions (L111-L114): batched WordPiece (fixed
  // ceil(8/4)=2 learn rounds — the adaptive ask retunes a limit, never
  // the per-round job sequence), the keep-k policy (keep-best's chain
  // plus one window), the NN-leakage audit (one broadcast + one
  // hash-aggregate pass, no window), and the packing sweep (one window
  // cumsum + two aggregations at ANY candidate count)
  test("wordpiece_merges_batched plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("wordpiece_merges_batched")
  }

  test("dedup_keep_k round vocabulary is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_keep_k", roundMultiplicityVaries = true)
  }

  test("eval_nn_leakage plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("eval_nn_leakage")
  }

  test("packing_efficiency plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("packing_efficiency")
  }

  // L115: the blocklist compiles to one coalesce of when-chains — a pure
  // codegen'd projection at any corpus size
  test("url_category_filter plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("url_category_filter")
  }

  // L116/L117 (Gopher line + n-gram repetition): fixed aggregation
  // chains — a (doc, line) rollup, and the shingle-count + interval-merge
  // + length-join pipeline — identical shape at any corpus size
  test("text_line_repetition plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("text_line_repetition")
  }

  test("text_dup_ngram_coverage plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("text_dup_ngram_coverage")
  }

  // L118: two LM scoring chains + ONE dimension-sized domain rollup —
  // the EG step itself is pure integer projection
  test("domain_reweight plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("domain_reweight")
  }

  // L119 (suffix array): `.sa` runs the doubling construction, which
  // stops on rank convergence (data-dependent round count — the
  // dedup_components situation), so the pin is on the plan VOCABULARY
  test("suffix_array round vocabulary is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("suffix_array", roundMultiplicityVaries = true)
  }

  // L120-L122: under the size gate (true at every testdata scale) the
  // consumers replay the doubling on the driver and run no round, so the
  // execution sequence itself is pinned
  test("sa_longest_dup plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sa_longest_dup")
  }

  test("dedup_substring_sa plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_substring_sa")
  }

  test("decontaminate_sa plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("decontaminate_sa")
  }

  // L123: one doc-keyed window + value-bucketed pair join — the
  // hot-fingerprint guard's anti-join included
  test("winnow_pairs plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("winnow_pairs")
  }

  // L124: the quality_lr trajectory + ONE bins-sized rollup
  test("classifier_calibration plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("classifier_calibration")
  }

  // L125: one map-side-combined stratum aggregation; the sequential
  // allocation runs on the collected stratum table
  test("epoch_allocation plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("epoch_allocation")
  }

  // L126: bm25_topk's joins + ONE anti-join before the rank cut
  test("hard_negatives plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("hard_negatives")
  }

  // L127: two LM scoring chains + histogram-quantile threshold broadcast
  test("select_excess_loss plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("select_excess_loss")
  }

  // L128: conv-keyed window cumsum + ordered-collection assembly + one
  // conv-keyed join back
  test("sft_chat_format plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sft_chat_format")
  }

  // L129: bucketed heavy-hitter cut + winners-only doc-frequency join
  test("corpus_top_ngrams plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("corpus_top_ngrams")
  }

  // L130: blocked self-join + hot-block anti-join, edit-distance verify
  test("dedup_levenshtein plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_levenshtein")
  }

  // L131: one checkpointed cross score frame feeding two k-NN cuts + the
  // margin join — the exact tier's fixed shape
  test("bitext_margin plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("bitext_margin")
  }

  // L132: fixed-round integer power iteration — the PageRank shape
  // (broadcast-x dot pass + vec-keyed mat-vec + one-row max per round)
  test("embedding_top_pc plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("embedding_top_pc")
  }

  // L133: K value-histogram passes + value-keyed joins back — no
  // corpus self-join, no document-keyed window
  test("quality_ensemble plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("quality_ensemble")
  }

  // L134: one scan + bucketed two-phase top-k funnel — the corpus is
  // never sorted through a single task
  test("sample_weighted plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sample_weighted")
  }

  // L135: fixed pointer-doubling rounds (node-keyed self-joins) + ONE
  // render join — text never rides the doubling
  test("sft_tree_paths plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sft_tree_paths")
  }

  // L136: pure codegen'd marker projection + key-keyed hot-guard agg +
  // one equi-join — no corpus window
  test("bitext_url_pairs plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("bitext_url_pairs")
  }

  // L137: one shared signature frame -> banded candidate join, pair-frame
  // agreement + array-verify joins, <= numHashes+1-row rollup
  test("dedup_minhash_calibration plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_minhash_calibration")
  }

  // L138: one (lang, token) aggregation + broadcast vocab join +
  // lang-keyed rollup/argmax passes over the type frame
  test("tokenizer_oov plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("tokenizer_oov")
  }

  // L139: block-term aggregation + one adjacent self-join + doc-keyed
  // gap windows — nothing corpus-global
  test("topic_gap_scores plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("topic_gap_scores")
  }
  test("topic_segments plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("topic_segments")
  }

  // L140: one native codegen'd projection — zero shuffle
  test("text_pseudonymize plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("text_pseudonymize")
  }

  // L141: two map-side-combined count aggs + bucketed funnel +
  // winners-only unigram join + one-row total broadcasts
  test("collocations plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("collocations")
  }

  // L142: one group-keyed signature aggregation + triangular join on the
  // groups-sized frame — the corpus never pairs
  test("dedup_sketch_matrix plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_sketch_matrix")
  }

  // L143: one codegen'd prefix projection + one keyed aggregation
  test("prefix_cache_report plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("prefix_cache_report")
  }

  // L144: pair join + pure codegen'd rule projection (the provenance
  // filter compiles to one when-chain)
  test("sft_curation plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("sft_curation")
  }

  // L145: two map-side-combined aggregations + buckets-sized rollup
  test("vocab_growth plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("vocab_growth")
  }

  // L146: one checkpointed margin frame + two argmax windows + one
  // equi-join of the output-sized best frames
  test("bitext_mutual plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("bitext_mutual")
  }

  // L147: two-phase (size, draw-prefix) rank — narrow count agg +
  // broadcast bases + in-bucket windows, no single-task global sort
  test("shard_balanced plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("shard_balanced")
  }
  test("shard_balance_report plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("shard_balance_report")
  }

  // L148: ensemble chain + one domains-sized floor-mean agg joined back
  // broadcast — the corpus never re-shuffles
  test("quality_domain_blend plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("quality_domain_blend")
  }

  // L149: one codegen'd draw/slice projection — zero shuffle
  test("contrastive_crops plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("contrastive_crops")
  }

  // L150: broadcast query side + label filter BEFORE the per-query rank
  test("embedding_hard_negatives plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("embedding_hard_negatives")
  }

  // L151: dims-sized fit-collect + one codegen'd round-trip projection
  test("embedding_sq_error plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("embedding_sq_error")
  }

  // L152: the components chain (round-vocabulary mode — CC round count
  // is graph-dependent) + one left join + the split projection
  test("split_by_cluster round vocabulary is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("split_by_cluster", roundMultiplicityVaries = true)
  }

  // round 14: per-partition SAM tier-1 + gram-keyed count agg + one
  // equi-join — no cross join, no corpus-wide window
  test("dedup_substring_sam plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_substring_sam")
  }

  // round 14: three broadcast rule legs (two equi, one contains-theta
  // over the keyword subset) + hit-sized min agg + one join back — the
  // corpus never explodes
  test("url_category_broadcast plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("url_category_broadcast")
  }

  // round 14: one widest-depth candidate frame swept by filters — the
  // per-depth cuts add no scan and no join
  test("ann_recall_sweep plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("ann_recall_sweep")
  }

  // round 14: the assign projection + ONE cell-keyed window (rank and
  // count share the partitioning) — cells-sized output
  test("cluster_representatives plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("cluster_representatives")
  }

  // L157: the ccnet_buckets chain + ONE in-row keep predicate — the
  // filter adds no exchange and no join to the bucket chain's shape
  test("ccnet_filter plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("ccnet_filter")
  }

  // L158: pure per-row hash projections over the materialized pixel
  // table — the gate's own plan adds no exchange to the pixel checkpoints
  test("phash plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("phash")
  }

  // L159: band posting-list aggregation + pair explode + one pair-keyed
  // agg — candidates never all-pairs, verification in-row
  test("dedup_phash plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_phash")
  }

  // L160: the broadcast blocklist legs + the two in-row content keeps —
  // the composition adds no exchange over the L154 shape
  test("web_pipeline plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("web_pipeline")
  }

  // L161: phash pair engine + the components walk (round-vocabulary —
  // CC round count is graph-dependent) + one anti-join
  test("dedup_phash_keep round vocabulary is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_phash_keep", roundMultiplicityVaries = true)
  }

  // L162: the L159 shape + one extra in-row popcount on the candidate
  // frame — the dHash veto adds no exchange and no join
  test("dedup_phash_and plan shape is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("dedup_phash_and")
  }

  // L165: the L160 chain + one left-semi join against the OUTPUT-sized
  // keep frame (CC round-vocabulary varies with the pair graph)
  test("web_pipeline_mm round vocabulary is identical at sf0.001 and sf0.1") {
    assertScaleInvariant("web_pipeline_mm", roundMultiplicityVaries = true)
  }
}
