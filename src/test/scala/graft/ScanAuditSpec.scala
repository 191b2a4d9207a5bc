package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** CI enforcement of the repeated-scan audit (PLANS.md "Repeated-scan
  * audit"): each same-table parquet scan beyond the first in a query's
  * POST-EXECUTION plan is a repeated full corpus pass at 100 TB. The
  * audit used to live only as a dev tool (`tools.Dev scans`) + prose,
  * which let any refactor silently re-introduce a duplicate pass — this
  * spec pins every audited query's scan count as a CEILING, measured
  * from the plan AQE actually ran (ReuseExchange dedups identical
  * subtrees at runtime, so the static plan over-reports).
  *
  * Ceilings are the audited values, not all 1: multi-table joins scan
  * each table once; the documented deliberate multi-scans (ann_pq's
  * re-rank fetch, dd_edit_pairs' signature+verify passes, dd_cascade's
  * stage census, ta_novelty's gram build) keep their audited counts; 0
  * means the corpus pass happens inside a localCheckpoint materialized
  * before the final plan. A count DROPPING below the ceiling is fine
  * (that's an improvement); rising is the regression this catches. */
class ScanAuditSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-scan-audit-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def scans(name: String): Int =
    tools.Dev.parquetScans(tools.Dev.finalPlan(SparkEntry.queries(name)(spark, sf)))

  // query -> audited ceiling (sf0.001, round 6). Grouped by corpus table
  // so a failure names the family whose scan discipline broke.
  private val ceilings: Seq[(String, Int)] = Seq(
    // lineitem/orders relational core
    "q1_pricing" -> 1, "q6_filter_agg" -> 1, "q_topk_global" -> 1,
    "q_histogram" -> 1, "q_ntile" -> 1, "q_window_rank" -> 1,
    "q15_top_supplier" -> 2, "q17_small_qty" -> 2, "q21_waiting_supplier" -> 3,
    // events analytics (the 100 TB stream corpus)
    "q_window_dist" -> 1, "ev_rfm" -> 0, "ev_trend" -> 0, "ev_forecast" -> 0,
    "ev_funnel" -> 1, "ev_funnel_timing" -> 1, "ev_asof_join" -> 1,
    "ev_sessions" -> 1, "ev_session_stats" -> 1, "ev_throttle" -> 1,
    "ev_top_paths" -> 1, "ev_attribution" -> 1, "ev_cumulative_users" -> 1,
    // sl_lookback: r7 checkpoint-pins the committed frame, last-100 via
    // TopKPerGroup heaps instead of a per-type desc row-number window
    "sl_lookback" -> 0,
    // ChunkedPrefix consumers: 2 audited scans each — the row branch
    // plus the column-pruned per-chunk summary branch (the documented
    // trade vs checkpointing a corpus-sized frame); a third scan means
    // a new consumer snuck in without a pin
    "sl_watermark" -> 2, "sl_gap_detect" -> 2, "sl_batch_assign" -> 2,
    "sl_byte_batches" -> 2, "ev_late_data" -> 2, "ev_inter_arrival" -> 2,
    "pipe_interleave" -> 2, "q_gaps_islands" -> 2,
    "cl_diverse_sample" -> 1,
    // documents dedup/text/pipeline (dd_dup_span/dd_substring: the r7
    // hot-hash rewrite localCheckpoints the single tokenize pass, then
    // feeds it to both the per-hash total branch and the join-back
    // branch — 0 scans in the final plan, no Window.partitionBy(h))
    "dd_exact" -> 1, "dd_lsh_pairs" -> 1, "dd_dup_groups" -> 1,
    "dd_ppjoin" -> 0, "dd_lsh_recall" -> 1, "dd_edit_pairs" -> 3,
    // dd_sig_width: the truth side lives in ppjoin's checkpoint pin; the
    // one live scan is the single widest (32-perm) signature pass
    "dd_sig_width" -> 1,
    // dd_sig_plan: truth pairs + the 16-row (r, b) grid all land in
    // checkpoint pins; the final plan joins pinned card frames
    "dd_sig_plan" -> 0,
    "dd_cascade" -> 3, "dd_dup_span" -> 0, "dd_substring" -> 0,
    // dd_line_dup: the ddSubstring transplant — segmentation pass lands
    // in the collapsed (h, doc) checkpoint pin, 0 scans in the final plan
    "dd_line_dup" -> 0,
    // dd_line_census: one segmentation scan, TakeOrdered top-25
    "dd_line_census" -> 1,
    "ta_tfidf" -> 2, "ta_surprisal" -> 1, "ta_collocations" -> 1,
    "ta_novelty" -> 2, "ta_zipf" -> 1,
    // round-6 corpus-health ops (ta_jsd/ta_hapax: tokenize pass + the
    // doc/total census branch; cl_outliers: gate pass only — centroid
    // and stats passes land in localCheckpoints)
    "ta_jsd" -> 2, "ta_gopher_rules" -> 1, "ta_hapax" -> 2, "ta_script" -> 1,
    // ta_script_langid: one census scan; the per-lang window rides the
    // |langs|x|classes| cross-tab card, never the corpus
    "ta_script_langid" -> 1,
    // ta_jsd_ref: the (source, term) count pass lands in a checkpoint
    "ta_jsd_ref" -> 0,
    // ta_dsir: the documented two passes are the histogram build (inside
    // the B-row cnt checkpoint pin — grand + ratio would otherwise defeat
    // exchange reuse and run it twice) and the scoring re-derivation, the
    // only scan left in the final plan; the min(source) target scalar is
    // a 1-row checkpoint pin
    "ta_dsir" -> 1,
    // round-7 cards: single aggregate pass each
    "ev_gini" -> 1, "pipe_alpha_sweep" -> 1, "ev_bot_census" -> 1,
    // ann_recall_card: all three audited ANN pipelines run ONCE inside
    // the truth/cand checkpoint pins (two consumers each — lazy, they
    // would re-execute whole pipelines); the final plan joins pinned RDDs
    "ann_recall_card" -> 0,
    "cl_outliers" -> 1, "q_profile_approx" -> 1, "mm_cdc_chunk" -> 1,
    // pipe_budget_mix: r7 checkpoint-pins the tokenize pass (pipePacking
    // idiom) before the chunked-prefix fan-out — 0 scans in the final plan
    "pipe_budget_mix" -> 0, "pipe_curriculum" -> 1, "mm_dedup" -> 1,
    // embeddings
    "cl_drift" -> 1, "cl_kmeans" -> 1, "cl_silhouette" -> 1,
    // cl_dbscan: pair/degree/core frames and the hash-min rounds all land
    // in checkpoints; the only live scan is the noise anti-join's
    "cl_dbscan" -> 1,
    // round-8 ops: kcenter's K argmax passes run at TRAIN time (driver
    // loop) — the final assignment plan scans once; abtest/incr_agg's two
    // scans are their documented structural passes (arm denominators +
    // reach; snapshot + delta); skyline reads the part dim twice in the
    // final plan (grouped minima + join-back) — its plan-construction
    // price-domain sizing agg is a separate light job outside this
    // plan's scan count; the phash pair search and BPE training run
    // entirely inside checkpoint pins / driver-held tables
    "cl_kcenter" -> 1, "ev_abtest" -> 2, "sl_incr_agg" -> 2, "ev_lorenz" -> 1,
    "q_skyline" -> 2, "mm_phash" -> 1, "mm_phash_pairs" -> 0,
    "pipe_len_buckets" -> 1, "ta_bpe_train" -> 0, "ta_bpe_apply" -> 1,
    // ann_ivfpq's residual coding adds one corpus pass (assignment must
    // precede coding); the other 6 scans are vec_id-pruned seed/query
    // fetches (predicate pushdown) + the documented re-rank re-read
    "ann_pq" -> 5, "ann_ivfpq" -> 8, "ann_ivfpq_sqrt" -> 8,
    // ann_dim_trunc: truth + per-width shortlists all land in lazy pins
    "ann_dim_trunc" -> 0,
    // round-12 ops: dd_line_trim's segmentation pass lands in the
    // position-frame checkpoint pin (the dd_line_dup discipline);
    // mm_integrity's doc/emb id spines are both pinned before the
    // anti/semi fan-out; ann_ivf_sqrt = ann_ivf's 3 (corpus assignment +
    // two vec_id-pruned seed/query fetches) + the two-level MAP-ONLY
    // build's 3 extra vec_id-pruned METADATA fetches (flattened
    // codebook, super-cell table, centroid-parent table — ≤K rows each,
    // round 13; the price of zero corpus shuffle); ann_ivf_health's
    // per-scheme assignment passes land inside the ≤K-row cell-frame
    // checkpoint pins, so the final plan joins pinned RDDs only
    "dd_line_trim" -> 0, "mm_integrity" -> 0,
    "ann_ivf_sqrt" -> 6, "ann_ivf_health" -> 0,
    // pipe_trim_budget: the trim pipeline rides dd_line_trim's pinned
    // segment frame; the one live scan is the (doc_id, lang, source)
    // metadata side of the budget join
    "pipe_trim_budget" -> 1,
    // round-13 quality classifier: the B-row weight table (histogram +
    // gradient chain) is checkpoint-pinned, so ql_train presents the pin
    // (0 scans) and ql_score/ql_eval pay exactly the ONE re-tokenize
    // scoring pass over documents (the taDsir two-pass shape)
    // ql_auc pays the scoring pass + ChunkedPrefix's documented second
    // column-pruned pass for the carry-summary branch
    "ql_train" -> 0, "ql_score" -> 1, "ql_eval" -> 1, "ql_calibration" -> 1,
    "ql_auc" -> 2,
    // round-13 manifest census: doc and manifest spines both pinned
    // before the window/join fan-out
    "mm_manifest_integrity" -> 0,
    // round-14 trained-codebook IVF: the Lloyd sweep runs at plan
    // construction (driver loop over the bounded sample) and the
    // trained centroids enter the plan as a LocalRelation — so unlike
    // ann_ivf_sqrt's 6 (which derives cents/super-cells from vec_id-
    // pruned scans), the final plan scans only the corpus assignment
    // pass and the budgeted query fetch
    "ann_ivf_trained" -> 2,
    // trained IVF-PQ keeps ann_ivfpq_sqrt's audited shape minus the
    // cents-derived metadata fetches (LocalRelation book)
    "ann_ivfpq_trained" -> 8,
    // ql_pr_curve: the scoring pass lands inside the 20-row histogram
    // pin; the sweep joins pinned metadata only
    "ql_pr_curve" -> 0,
    // round-14 retrieval: ir_bm25 keeps the ta_tfidf exchange-reuse
    // shape (tf pass + the df re-aggregation branch); ann_sq8's trained
    // bounds, MSE and shortlist frames all land in pins, so the final
    // plan joins pinned metadata only
    "ir_bm25" -> 2, "ann_sq8" -> 0,
    // ir_phrase: phrase terms + phrase strings are metadata pins; the
    // one live scan is the positional-postings pass
    "ir_phrase" -> 1,
    // ir_eval: the truth side's distinct-token/intersection pass + the
    // doc-size branch (the bm25 ranking's own 2 scans share AQE-reused
    // exchanges here; the sample/stats passes live in the session memo)
    "ir_eval" -> 2,
    // round-15 ops: dd_span_trim's one live scan is the corpus
    // join-back (the position frame is pinned); ann_beam's graph +
    // per-round states and ir_fusion's truth/top frames all live in
    // pins, so their final plans join pinned metadata only
    "dd_span_trim" -> 1, "ann_beam" -> 0, "ir_fusion" -> 0)

  behavior of "post-execution scan counts"

  it should "stay at or below every audited ceiling" in {
    val over = ceilings.flatMap { case (name, ceiling) =>
      val n = scans(name)
      if (n > ceiling) Some(s"$name: $n scans > audited ceiling $ceiling") else None
    }
    withClue(over.mkString("; ")) { over shouldBe empty }
  }

  behavior of "corpus-hash window elimination (r7)"

  // The r6 verdict's scale-killer: Window.partitionBy(h) over the
  // exploded corpus puts every position of one hot boilerplate 8-gram
  // in a single unsplittable WindowExec partition. The r7 rewrite
  // replaces it with groupBy(h) + join-back; these ceilings pin the
  // number of Window nodes in the EXECUTED plan so a refactor cannot
  // quietly bring the hash window back (dd_dup_span keeps exactly one
  // Window — the doc-keyed island merge, bounded by doc length).
  it should "keep dd_substring Window-free and dd_dup_span at one doc-keyed window" in {
    val winCount = (name: String) =>
      "\\bWindow\\b".r.findAllIn(tools.Dev.finalPlan(SparkEntry.queries(name)(spark, sf))).length
    winCount("dd_substring") shouldBe 0
    winCount("dd_dup_span") should be <= 1
    winCount("dd_line_dup") shouldBe 0
    // dd_line_trim reassembles per doc via aggregation (collect_list),
    // never a corpus-hash window
    winCount("dd_line_trim") shouldBe 0
    // dd_span_trim keeps the census's shape: at most the doc-keyed
    // island window; the cut itself is a record-local array filter
    winCount("dd_span_trim") should be <= 1
  }
}
