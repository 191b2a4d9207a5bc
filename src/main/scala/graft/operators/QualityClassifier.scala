package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained quality-classifier family (round 13, r12 verdict item 2) —
  * the DISCRIMINATIVE sibling of ta_dsir and the third member of the
  * published quality-filter lineage every 100 TB pipeline runs (GPT-3 /
  * CCNet train a classifier with the reference corpus as the positive
  * class and the raw crawl as the negative, then keep raw documents the
  * classifier scores reference-like; reference bar per the r12 verdict).
  *
  * Model: one logistic weight per hashed n-gram bucket, trained by
  * [[QlRounds]] DETERMINISTIC gradient rounds on the B-row class
  * histogram (the train-small/apply-big discipline — the histogram is
  * the training set). Per bucket, with Laplace-smoothed class rates
  * a = (tc+1)/(tn+B) and c = (rc+1)/(rn+B) and target share
  * u = a/(a+c), the weight follows the univariate logistic gradient
  * w ← w + η·(u − σ(w)) from w₀ = 0 — fixed point σ(w) = u, i.e.
  * w* = logit(u) = the class-balanced log-odds (ta_dsir's log-ratio,
  * logistic-calibrated); at η = 4 the map is non-expansive (4·σ′ ≤ 1),
  * so the iteration converges monotonically and the finite round count
  * acts as an implicit regularizer clipping extreme log-odds — the
  * smoothing a rare bucket needs. Every input to the iteration is an
  * exact integer, so the weights are bit-identical across engines
  * (exp parity per the ta_surprisal precedent).
  *
  * Scoring: a document's score is the MEAN weight over its feature
  * occurrences (tf-weighted linear classifier; length-invariant, so one
  * threshold serves all document sizes), prob = σ(score), keep =
  * score ≥ 0 (the balanced-prior acceptance line — the class weighting
  * above makes 0 the natural threshold despite the skewed corpus).
  *
  * Feature space = ta_dsir's: unigram + bigram md5 buckets, B =
  * [[TextCorpus.DsirBuckets]], through the same codegen'd
  * `graft_gram_buckets` kernel — a bucket scored here IS the bucket the
  * histogram counted. Target class = the alphabetically-first source
  * (the ta_dsir convention standing in for the curated reference).
  *
  * Scale shape (the taDsir shape exactly): pass 1 folds the class
  * histogram in one map-side-combined groupBy(bucket) (≤ B rows out per
  * map task); the B-row weight table broadcasts; pass 2 re-derives
  * features and combines per doc. No corpus-sized shuffle beyond the
  * two tokenize passes; the gradient rounds run over the B-row frame as
  * a linear projection chain.
  */
object QualityClassifier {

  type Q = (SparkSession, String) => DataFrame

  /** Gradient rounds / step for the per-bucket univariate logistic.
    * Convergence: |w_T − logit(u)| shrinks monotonically; 8 rounds at
    * η = 4 reach the fixed point to ~1e-2 for moderate u and plateau
    * near |w| ≈ 3.6 for extreme u (the implicit clip: from w₀ = 0 with
    * u → 1 the steps shrink as η·e^−w, so the 8-round trajectory is
    * 2, 2.48, 2.79, 3.01, …, ≈ 3.59 — [[WBound]] derives the exact
    * figure so the AUC chunk band below can never drift from it). */
  val QlRounds = 8
  val QlStep = 4.0

  /** Tight magnitude bound on any trained weight — the worst case is
    * u = 1 (or symmetrically u = 0) driven for all [[QlRounds]] rounds,
    * computed by RUNNING that recurrence rather than quoting a figure
    * (r13 advice: the previously stated |w| ≈ 7 plateau was wrong, and
    * a hand-written band can silently under-cover if QlRounds/QlStep
    * change). A document score is a MEAN of weights, so |score| ≤
    * [[WBound]] too — [[aucOf]]'s range-chunk band reads this value. */
  private[graft] val WBound: Double = {
    var w = 0.0
    for (_ <- 1 to QlRounds) w += QlStep * (1.0 - 1.0 / (1.0 + math.exp(-w)))
    math.ceil(w)
  }

  private def B = TextCorpus.DsirBuckets

  /** (doc_id, source, y, b) — one row per feature OCCURRENCE, labeled
    * against the broadcast 1-row target pin. */
  private def labeledFeats(docs: DataFrame, target: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("source"),
      explode(concat(
        call_function("graft_gram_buckets", col("tk"), lit(1), lit(8), lit(B)),
        call_function("graft_gram_buckets", col("tk"), lit(2), lit(8), lit(B)))).as("b"))
    .crossJoin(broadcast(target))
    .withColumn("y", col("source") === col("ts"))

  private def corpus(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    // widened (round 15): the gram-bucket kernel + feature explode run
    // directly on this scan, which a single small file serializes
    Tables.widen(Tables.documents(s, d))
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
  }

  // Trained model memoized per (session, dir + data fingerprint) —
  // round 14, r13 verdict item 1: the five ql_* queries each rebuilt the
  // histogram + gradient chain behind their own pins (~4 redundant
  // full-corpus tokenize passes per evaluation suite; at 100 TB four
  // wasted corpus scans). One training run now serves the whole family,
  // the Clustering.trainedCents discipline exactly: keyed by DIR with
  // the documents-parquet fingerprint stored alongside (a refreshed
  // corpus under the same dir REPLACES the stale entry), weak session
  // keys so stopped test sessions are not kept alive. The cached value
  // is the (1-row target pin, B-row weight pin) PAIR — scoring needs
  // the same frozen target the weights were trained against, and
  // caching them together keeps the two from ever drifting.
  private[graft] val modelMemo =
    new graft.util.SessionMemo[(DataFrame, DataFrame)]("documents")

  /** The memoized (target pin, weight-table pin) pair — ONE training
    * run per (session, dir) shared by all five ql_* queries and
    * [[trainedWeights]]. Both frames are lazily checkpoint-pinned, so
    * the corpus passes behind them execute once at first action and
    * every later consumer reads the materialized RDDs. Caching them
    * TOGETHER keeps the frozen target and the weights trained against
    * it from ever drifting. */
  private[graft] def trainedModel(s: SparkSession, d: String): (DataFrame, DataFrame) =
    modelMemo.getOrCompute(s, d) {
      val docs = corpus(s, d)
      val target = targetOf(docs)
      (target, weightTableFor(docs, target))
    }

  /** B-row weight table (b, tc, rc, u, w) — histogram + gradient chain.
    * localCheckpoint-pinned and memoized ([[trainedModel]]):
    * ql_score/ql_eval broadcast-join it while ql_train presents it, and
    * the histogram pass behind it is a full corpus tokenize paid ONCE
    * per (session, dir). */
  private def weightTable(s: SparkSession, d: String): DataFrame =
    trainedModel(s, d)._2

  private def targetOf(docs: DataFrame): DataFrame =
    docs.agg(min(col("source")).as("ts")).localCheckpoint(false)

  private def weightTableFor(docs: DataFrame, target: DataFrame): DataFrame = {
    val cnt = labeledFeats(docs, target).groupBy(col("b")).agg(
      sum(when(col("y"), 1L).otherwise(0L)).as("tc"),
      sum(when(!col("y"), 1L).otherwise(0L)).as("rc"))
      .localCheckpoint(false)
    val grand = cnt.agg(sum(col("tc")).as("tn"), sum(col("rc")).as("rn"))
    val withU = cnt.crossJoin(broadcast(grand))
      .withColumn("a", (col("tc") + 1).cast("double") / (col("tn") + B).cast("double"))
      .withColumn("c", (col("rc") + 1).cast("double") / (col("rn") + B).cast("double"))
      .withColumn("u", col("a") / (col("a") + col("c")))
    (1 to QlRounds).foldLeft(withU.withColumn("w", lit(0.0))) { (df, _) =>
      df.withColumn("w",
        col("w") + lit(QlStep) * (col("u") - lit(1.0) / (lit(1.0) + exp(-col("w")))))
    }.select(col("b"), col("tc"), col("rc"), col("u"), col("w"))
      .localCheckpoint(false)
  }

  // The scored frame memoized per (session, dir + data fingerprint) —
  // round-15 optimization (guide §2.4, remove redundant passes): the
  // five ql_* consumers each re-ran the gram-bucket feature explode +
  // weight join + per-doc combine behind their own aggregates — four
  // redundant full-corpus scoring passes per evaluation suite (the
  // trainedModel memo stopped re-TRAINING in r14; this stops
  // re-SCORING). Production shape: a deployed filter scores the corpus
  // once and every card reads the score column. One narrow row per doc
  // (7 flat columns), lazily checkpoint-pinned — MEMORY_AND_DISK, so at
  // cluster scale it spills to local disk like any scored-corpus
  // artifact. Priced as a shared build after eviction
  // (graft.SparkEntry.SharedBuilds).
  private[graft] val scoredMemo = new graft.util.SessionMemo[DataFrame]("documents")

  /** Per-doc scores (doc_id, source, label, n_feats, score, prob, keep)
    * with score/prob UNROUNDED — [[qlScore]] presents the rounded card;
    * ql_eval aggregates the raw values. Memoized + pinned: the scoring
    * pass executes once per (session, dir); every consumer reads the
    * materialized frame. */
  private[graft] def scored(s: SparkSession, d: String): DataFrame =
    scoredMemo.getOrCompute(s, d) {
      val docs = corpus(s, d)
      val (target, weights) = trainedModel(s, d)
      val w = weights.select(col("b"), col("w"))
      labeledFeats(docs, target)
        .join(broadcast(w), "b")
        .groupBy(col("doc_id"), col("source"))
        .agg(max(when(col("y"), 1L).otherwise(0L)).as("label"), // constant per doc
          count(lit(1)).as("n_feats"),
          (sum(col("w").cast("decimal(38,18)")).cast("double") / count(lit(1))).as("score"))
        .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("score"))))
        .withColumn("keep", when(col("score") >= 0, 1L).otherwise(0L))
        // EAGER pin (round 16, r15 advice item 2): a lazy pin here races
        // if two consumers materialize concurrently (e.g. a future
        // card-pool migration of the ql cards) and the corpus scoring
        // pass would silently run twice — the exact race annSq8's
        // bounds pin went eager for. Inside the memo compute, so the
        // pass still runs exactly once per (session, dir).
        .localCheckpoint(true)
    }

  /** The trained-model card: per bucket its class counts, smoothed
    * target share and trained weight. */
  def qlTrain: Q = (s, d) =>
    weightTable(s, d).select(col("b"), col("tc"), col("rc"),
      Exact.floorRound(col("u"), 6).as("u"),
      Exact.floorRound(col("w"), 6).as("w"))
      .orderBy(col("b"))

  /** Per-document quality scores under the trained weights. */
  def qlScore: Q = (s, d) =>
    scored(s, d).select(col("doc_id"), col("source"), col("label"),
      col("n_feats"),
      Exact.floorRound(col("score"), 6).as("score"),
      Exact.floorRound(col("prob"), 6).as("prob"), col("keep"))
      .orderBy(col("doc_id"))

  /** Training-set separation card: per class, doc count, kept count,
    * mean probability and accuracy of the keep decision — the
    * threshold-picking readout (a mean_prob gap near zero says the
    * sources are indistinguishable at this feature space; keep_rate on
    * label 0 is the raw-corpus acceptance rate the token budget cares
    * about). */
  def qlEval: Q = (s, d) =>
    scored(s, d).groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_keep"),
        Exact.floorRound(
          sum(col("prob").cast("decimal(38,18)")).cast("double") / count(lit(1)), 6)
          .as("mean_prob"),
        Exact.floorRound(
          sum(when(col("keep") === col("label"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("accuracy"))
      .orderBy(col("label"))

  /** Calibration (reliability) card: scored docs bucketed into 20
    * probability bins of 0.05; per bin the doc count, positive count,
    * mean predicted probability and the EMPIRICAL positive rate — the
    * reliability diagram a deployed filter publishes before its scores
    * feed a sampling temperature (a well-calibrated bin has mean_prob ≈
    * pos_rate; the histogram-trained model is NB-flavored, so this card
    * is where its over/under-confidence shows). Bins with no docs are
    * absent by construction (the card reads the score distribution, not
    * a bin spine). One |bins|-row aggregate over the scored frame. */
  def qlCalibration: Q = (s, d) =>
    scored(s, d)
      .withColumn("bin", least(floor(col("prob") * 20).cast("long"), lit(19L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label")).as("n_pos"),
        Exact.floorRound(
          sum(col("prob").cast("decimal(38,18)")).cast("double") / count(lit(1)), 6)
          .as("mean_prob"),
        Exact.floorRound(
          sum(col("label")).cast("double") / count(lit(1)), 6).as("pos_rate"))
      .orderBy(col("bin"))

  /** Precision/recall operating-point card (round 14) — the
    * threshold-sweep table a deployed filter publishes next to its
    * calibration card: per candidate acceptance threshold (the 20
    * probability bins of 0.05 — the SAME `floor(prob·20)` binning as
    * [[qlCalibration]], so "keep at bin ≥ i" is exact on both engines
    * with no float-boundary knife edges), the kept-document count,
    * true positives, and precision / recall / F1. This is where the
    * token-budget ↔ purity trade reads off: recall is the share of
    * reference-like docs a threshold keeps, precision the purity of
    * the kept stream. F1 folds as the exact integer identity
    * 2·tp / (n_keep + P) (= 2TP/(2TP+FP+FN)) — one floor-rounded
    * division, no compounded ratios.
    *
    * Scale shape: ONE scoring pass collapses to the 20-row bin
    * histogram (the calibration aggregate); the threshold sweep is a
    * 20×20 spine join over that metadata-sized frame — never a second
    * corpus pass, never a partition-less window. */
  def qlPrCurve: Q = (s, d) => {
    val binned = scored(s, d)
      .withColumn("bin", least(floor(col("prob") * 20).cast("long"), lit(19L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("n_pos"))
      .localCheckpoint(false) // 20-row histogram; feeds the sweep + totals
    val totals = binned.agg(
      sum(col("n_docs")).as("n_total"), sum(col("n_pos")).as("p_total"))
    val spine = s.range(20).select(col("id").as("thr_bin"))
    spine.join(binned, col("bin") >= col("thr_bin"), "left")
      .groupBy(col("thr_bin"))
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_keep"),
        coalesce(sum(col("n_pos")), lit(0L)).as("tp"))
      .crossJoin(broadcast(totals))
      .select(col("thr_bin"), col("n_keep"), col("tp"),
        when(col("n_keep") > 0, Exact.floorRound(
          col("tp").cast("double") / col("n_keep"), 6)).as("precision"),
        when(col("p_total") > 0, Exact.floorRound(
          col("tp").cast("double") / col("p_total"), 6)).as("recall"),
        when(col("n_keep") + col("p_total") > 0, Exact.floorRound(
          lit(2.0) * col("tp") / (col("n_keep") + col("p_total")), 6)).as("f1"))
      .orderBy(col("thr_bin"))
  }

  /** Exact ROC-AUC (tie-corrected Mann–Whitney U) over `(label, score)`
    * — the threshold-free separation number ql_eval's fixed-threshold
    * accuracy cannot give. With ranks ascending by score and ties at
    * average rank, AUC = (Σ_pos rank − P(P+1)/2) / (P·N); doubling the
    * rank sum keeps EVERYTHING integer: per distinct score s (count c,
    * positives np, strictly-below count cum), 2·Σ_pos rank folds as
    * Σ np·(2·cum + c + 1), so AUC = (S₂ − P(P+1)) / (2·P·N) — an exact
    * integer quotient, floor-rounded once (cross-engine deterministic;
    * the only doubles are the final division's operands).
    *
    * Scale shape: the distinct-score frame is built by one partial-
    * combined groupBy(score); the strictly-below cumulative runs as a
    * CHUNKED prefix over it ([[graft.plans.ChunkedPrefix.runningSum]],
    * score-range chunks — scores live in the weight clip's ±[[WBound]]
    * band, derived from (QlRounds, QlStep)) —
    * NEVER a partition-less ordered window, which would serialize the
    * near-unique score domain at any cluster size; the card is a 1-row
    * aggregate. Products fold through decimal(38,0) (HUGEINT on the
    * oracle side) — at 10¹² docs the doubled rank sum passes 2⁶³. */
  private[graft] def aucOf(sc: DataFrame): DataFrame = {
    val byScore = sc.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("label")).as("np"))
      .withColumn("k", lit(0))
    val withCum = graft.plans.ChunkedPrefix.runningSum(
      byScore, Seq("k"), Seq(col("score").asc),
      // band = ±WBound, DERIVED from (QlRounds, QlStep) so the two can
      // never drift (r13 advice item 2); scores are mean weights, so
      // the band covers by construction and rangeChunks clamps anyway
      graft.plans.ChunkedPrefix.rangeChunks(col("score"), -WBound, WBound, 1024),
      col("c"), "cum_below", inclusive = false)
    withCum.agg(
        sum(col("np")).as("n_pos"),
        sum(col("c") - col("np")).as("n_neg"),
        sum(col("np").cast("decimal(38,0)") *
          (lit(2L) * col("cum_below") + col("c") + lit(1L)).cast("decimal(38,0)"))
          .as("s2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0, Exact.floorRound(
          (col("s2") - col("n_pos").cast("decimal(38,0)") *
            (col("n_pos") + 1).cast("decimal(38,0)")).cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  def qlAuc: Q = (s, d) => aucOf(scored(s, d))

  /** Frozen weights for the streaming twin
    * ([[graft.streaming.Transforms.qlScore]]) and any deployment that
    * scores outside this session — the dsirScore split: train offline
    * here, apply record-locally online. */
  def trainedWeights(s: SparkSession, d: String): Map[Long, Double] =
    weightTable(s, d).select(col("b"), col("w")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  // ---- oracles -----------------------------------------------------------

  private val corpusCte: String =
    """t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
      |t2 AS (SELECT * FROM t WHERE len(tk) >= 1),
      |tgt AS (SELECT min(source) AS ts FROM t2),
      |feat AS (
      |  SELECT doc_id, source, tok AS f FROM t2, unnest(tk) AS u(tok)
      |  UNION ALL
      |  SELECT doc_id, source, tk[i] || ' ' || tk[i + 1] AS f
      |  FROM t2, unnest(range(1, len(tk))) AS u(i))""".stripMargin

  private def weightCtes: String = {
    val base =
      s"""fb AS (SELECT doc_id, source,
         |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % $B AS b
         |  FROM feat),
         |lab AS (SELECT fb.doc_id, fb.source, fb.b, (fb.source = tgt.ts) AS y FROM fb, tgt),
         |cnt AS (SELECT b,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS rc
         |  FROM lab GROUP BY 1),
         |grand AS (SELECT sum(tc)::BIGINT AS tn, sum(rc)::BIGINT AS rn FROM cnt),
         |w0 AS (SELECT b, tc, rc,
         |    (CAST(tc + 1 AS DOUBLE) / CAST(tn + $B AS DOUBLE))
         |      / ((CAST(tc + 1 AS DOUBLE) / CAST(tn + $B AS DOUBLE))
         |        + (CAST(rc + 1 AS DOUBLE) / CAST(rn + $B AS DOUBLE))) AS u,
         |    0.0 AS w
         |  FROM cnt CROSS JOIN grand)""".stripMargin
    val rounds = (1 to QlRounds).map { r =>
      s"w$r AS (SELECT b, tc, rc, u, (w + $QlStep * (u - 1.0 / (1.0 + exp(-(w))))) AS w FROM w${r - 1})"
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  val qlTrainSql: String =
    s"""WITH $corpusCte,
       |$weightCtes
       |SELECT b, tc, rc,
       |  ${Exact.floorRoundSql("u", 6)} AS u,
       |  ${Exact.floorRoundSql("w", 6)} AS w
       |FROM w$QlRounds ORDER BY b""".stripMargin

  private def scoredCtes: String =
    s"""$weightCtes,
       |sc AS (
       |  SELECT lab.doc_id, lab.source,
       |    CAST(max(CASE WHEN lab.y THEN 1 ELSE 0 END) AS BIGINT) AS label,
       |    count(*) AS n_feats,
       |    sum(w.w::DECIMAL(38,18))::DOUBLE / count(*) AS score
       |  FROM lab JOIN w$QlRounds w USING (b)
       |  GROUP BY 1, 2),
       |scp AS (SELECT *, 1.0 / (1.0 + exp(-(score))) AS prob,
       |    CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |  FROM sc)""".stripMargin

  val qlScoreSql: String =
    s"""WITH $corpusCte,
       |$scoredCtes
       |SELECT doc_id, source, label, n_feats,
       |  ${Exact.floorRoundSql("score", 6)} AS score,
       |  ${Exact.floorRoundSql("prob", 6)} AS prob, keep
       |FROM scp ORDER BY doc_id""".stripMargin

  val qlEvalSql: String =
    s"""WITH $corpusCte,
       |$scoredCtes
       |SELECT label, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_keep,
       |  ${Exact.floorRoundSql("sum(prob::DECIMAL(38,18))::DOUBLE / count(*)", 6)} AS mean_prob,
       |  ${Exact.floorRoundSql(
            "CAST(sum(CASE WHEN keep = label THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS accuracy
       |FROM scp GROUP BY 1 ORDER BY label""".stripMargin

  val qlCalibrationSql: String =
    s"""WITH $corpusCte,
       |$scoredCtes,
       |binned AS (SELECT least(CAST(floor(prob * 20) AS BIGINT), 19) AS bin, label, prob FROM scp)
       |SELECT bin, count(*) AS n_docs, CAST(sum(label) AS BIGINT) AS n_pos,
       |  ${Exact.floorRoundSql("sum(prob::DECIMAL(38,18))::DOUBLE / count(*)", 6)} AS mean_prob,
       |  ${Exact.floorRoundSql("CAST(sum(label) AS DOUBLE) / count(*)", 6)} AS pos_rate
       |FROM binned GROUP BY 1 ORDER BY bin""".stripMargin

  val qlPrCurveSql: String =
    s"""WITH $corpusCte,
       |$scoredCtes,
       |binned AS (
       |  SELECT least(CAST(floor(prob * 20) AS BIGINT), 19) AS bin,
       |    count(*) AS n_docs, CAST(sum(label) AS BIGINT) AS n_pos
       |  FROM scp GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
       |    CAST(sum(n_pos) AS BIGINT) AS p_total FROM binned),
       |spine AS (SELECT unnest(generate_series(0, 19)) AS thr_bin),
       |sw AS (
       |  SELECT s.thr_bin,
       |    CAST(coalesce(sum(b.n_docs), 0) AS BIGINT) AS n_keep,
       |    CAST(coalesce(sum(b.n_pos), 0) AS BIGINT) AS tp
       |  FROM spine s LEFT JOIN binned b ON b.bin >= s.thr_bin
       |  GROUP BY 1)
       |SELECT CAST(thr_bin AS BIGINT) AS thr_bin, n_keep, tp,
       |  CASE WHEN n_keep > 0 THEN ${Exact.floorRoundSql("tp::DOUBLE / n_keep", 6)} END AS "precision",
       |  CASE WHEN p_total > 0 THEN ${Exact.floorRoundSql("tp::DOUBLE / p_total", 6)} END AS recall,
       |  CASE WHEN n_keep + p_total > 0 THEN ${Exact.floorRoundSql("2.0 * tp / (n_keep + p_total)", 6)} END AS f1
       |FROM sw CROSS JOIN tot ORDER BY thr_bin""".stripMargin

  val qlAucSql: String =
    s"""WITH $corpusCte,
       |$scoredCtes,
       |byscore AS (
       |  SELECT score, count(*) AS c, CAST(sum(label) AS BIGINT) AS np
       |  FROM scp GROUP BY 1),
       |cum AS (
       |  SELECT score, c, np,
       |    coalesce(sum(c) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_below
       |  FROM byscore),
       |agg AS (
       |  SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |    CAST(sum(c - np) AS BIGINT) AS n_neg,
       |    sum(CAST(np AS HUGEINT) * (2 * cum_below + c + 1)) AS s2
       |  FROM cum)
       |SELECT n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN ${Exact.floorRoundSql(
            "CAST(s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE) / (2.0 * n_pos * n_neg)", 6)}
       |  END AS auc
       |FROM agg""".stripMargin

  def queries: Map[String, Q] = Map(
    "ql_train" -> qlTrain,
    "ql_score" -> qlScore,
    "ql_eval" -> qlEval,
    "ql_calibration" -> qlCalibration,
    "ql_pr_curve" -> qlPrCurve,
    "ql_auc" -> qlAuc)

  def oracleSql: Map[String, String] = Map(
    "ql_train" -> qlTrainSql,
    "ql_score" -> qlScoreSql,
    "ql_eval" -> qlEvalSql,
    "ql_calibration" -> qlCalibrationSql,
    "ql_pr_curve" -> qlPrCurveSql,
    "ql_auc" -> qlAucSql)
}
