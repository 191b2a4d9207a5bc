package graft.operators

import graft.Tables
import graft.functions.TextFns._
import graft.streaming.Transforms.Bloom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over `documents` (SURVEY.md §2f) — the corpus
  * search primitive a training-data pipeline runs for decontamination
  * audits ("which corpus docs answer this benchmark query?"), curation
  * spot-checks and targeted sampling. `ta_tfidf` ranks a document's own
  * terms; this ranks DOCUMENTS for a query — the Okapi BM25 form every
  * published text pipeline (CCNet, Dolma, RefinedWeb audits) reaches for.
  *
  * Reference analog: the loader ships data INTO engines whose first
  * consumer query is retrieval-shaped (`clickhouse/ClickHouseLoader.scala`
  * semantics); here the index build and the scoring are the engine.
  *
  * Scale shape (the inverted-index argument): the query set is a FIXED
  * budget (the ANN [[Similarity.QueryBudget]] discipline — a sample whose
  * size buys confidence, not corpus coverage), so query terms are
  * metadata-sized and BROADCAST onto the postings stream. The only
  * corpus-sized shuffle is the (doc_id, term) term-frequency aggregation;
  * document frequencies are a re-aggregation of the query-term-restricted
  * postings (map-side partial collapse — the `ta_tfidf` exchange-reuse
  * shape), and the per-(query, doc) score aggregation runs on the
  * restricted stream. Top-k rides [[graft.plans.TopKPerGroup]] bounded
  * heaps; the rank window only ever sees k·|Q| rows.
  *
  * Cross-engine exactness: every per-(doc, term) BM25 term is pure double
  * arithmetic with operator order mirrored in the oracle (bit-identical —
  * ln parity included), per-(query, doc) sums go through decimal(38,18)
  * (Exact idiom 3, order-independent), and the top-k cut ranks on the
  * ROUNDED score with a doc_id tie-break (the ev_bot_census discipline:
  * a sub-1e-6 cross-engine residual in the decimal cast can never flip
  * an emitted rank).
  */
object Retrieval {

  type Q = (SparkSession, String) => DataFrame

  /** Fixed retrieval-evaluation budget: how many corpus docs pose as
    * queries (hash-stratified sample — the [[Similarity.QueryBudget]]
    * argument: a card's query set must not grow with the corpus). */
  private[graft] val QueryDocs = 16

  /** Query length: the first `QueryTerms` tokens of each sampled doc. */
  private[graft] val QueryTerms = 6

  private val K1 = 1.2
  private val B = 0.75

  // Sampled queries + corpus stats memoized per (session, dir + data
  // fingerprint) — the Similarity.corpusCount / QualityClassifier
  // trained-model discipline (the r13-verdict memo family): ir_bm25 /
  // ir_phrase / ir_eval each need the SAME md5-stratified 16-doc sample,
  // and BM25 additionally the corpus length stats; previously every
  // invocation re-ran the sample and stats passes. One computation per
  // (session, dir) now serves the whole family plus the frozen-stats
  // helpers, entering each plan as a LocalRelation — zero
  // plan-construction jobs after the first. Invalidation/locking
  // semantics live in the shared [[graft.util.SessionMemo]] (round 15).
  private[graft] val sampleMemo =
    new graft.util.SessionMemo[(Long, Double, Seq[(Long, Seq[String])])](
      "documents")

  // The query-term document frequencies [[frozenStats]] needs (round 15,
  // r14 verdict item 7): the sample itself was memoized but the df
  // aggregation re-ran per deployment call — one wasted corpus pass per
  // additional caller. Same table, same invalidation.
  private[graft] val dfMemo = new graft.util.SessionMemo[Map[String, Long]]("documents")

  // Round-15 optimization (the annTruth discipline applied to this
  // family's own evaluation artifacts): the token/shingle relevance
  // truths and the self-excluded BM25 top-10 were each rebuilt from the
  // corpus inside EVERY card that consumes them — ir_eval, ir_eval_strict
  // and ir_fusion re-ran the same Θ(16·N) truth pass (up to 4 rebuilds
  // per session: 2 token + 1 shingle + the tops) and the same BM25
  // ranking (3 rebuilds). All three artifacts are deterministic
  // functions of the corpus (exact integer truth; decimal-rounded,
  // tie-broken ranks), so the memo is exact; each is lazily
  // checkpoint-pinned ≤ shortlist/truth-sized, and each build is priced
  // as its own shared build after eviction (graft.SparkEntry.SharedBuilds).
  private[graft] val truthMemo = new graft.util.SessionMemo[DataFrame]("documents")
  private[graft] val truthShingleMemo = new graft.util.SessionMemo[DataFrame]("documents")
  private[graft] val topMemo = new graft.util.SessionMemo[DataFrame]("documents")

  /** Memoized (nDocs, avgdl, sample) — corpus size, average doc length
    * (driver IEEE division of the exact longs ≡ the Catalyst/DuckDB
    * division it replaces), and the [[QueryDocs]] sampled docs' first
    * [[QueryTerms]] tokens (the phrase sample tokens 2–4 are a slice of
    * this prefix, so one sample serves both index families). */
  private[graft] def corpusSample(s: SparkSession, d: String)
      : (Long, Double, Seq[(Long, Seq[String])]) =
    sampleMemo.getOrCompute(s, d) {
      val docs = Tables.documents(s, d)
      val st = docs.select(tokens(col("text")).as("tk"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(col("tk")).cast("long")).as("n_toks"))
        .collect()(0)
      val nDocs = st.getAs[Long]("n_docs")
      val avgdl =
        if (nDocs == 0 || st.isNullAt(1)) 0.0
        else st.getAs[Long]("n_toks").toDouble / nDocs
      val sample = docs
        .orderBy(md5(col("doc_id").cast("string").cast("binary")),
          col("doc_id"))
        .limit(QueryDocs)
        .select(col("doc_id").as("query_id"),
          slice(tokens(col("text")), 1, QueryTerms).as("qt"))
        .collect()
        .map(r => r.getAs[Long]("query_id") ->
          // null-text sampled doc → null slice → no query terms
          // (the explode/filter semantics of the pre-memo frames)
          Option(r.getSeq[String](1)).map(_.toList).getOrElse(Nil))
        .toSeq
      (nDocs, avgdl, sample)
    }

  /** Okapi BM25 top-10 docs per query. Queries are the [[QueryDocs]]
    * corpus docs with the smallest md5(doc_id) (each contributes its
    * first [[QueryTerms]] distinct tokens); scores use the standard
    * `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with the
    * non-negative idf `ln(1 + (N − df + ½)/(df + ½))` (the Lucene form).
    * Self-hits are kept — a query doc failing to retrieve itself is the
    * card's own sanity signal. */
  def irBm25: Q = (s, d) => bm25TopK(s, d, excludeSelf = false)

  /** Shared BM25 ranking core — ONE definition behind [[irBm25]]
    * (self-hits kept) and [[irEval]] (self excluded: retrieving
    * yourself is not an achievement the evaluation should credit). */
  private def bm25TopK(s: SparkSession, d: String,
      excludeSelf: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    // stats + query terms from the memoized sample — LocalRelations,
    // no plan-construction jobs (≤ QueryDocs·QueryTerms rows)
    val (nDocs, avgdl, sample) = corpusSample(s, d)
    import s.implicits._
    val stats = Seq((nDocs, avgdl)).toDF("n_docs", "avgdl")
    val qtermRows = sample.flatMap { case (q, ts) => ts.distinct.map(q -> _) }
    val qterms = qtermRows.toDF("query_id", "term")
    val qt = qtermRows.map(_._2).distinct.toDF("term")
    // postings restricted to query terms BEFORE any shuffle: the corpus
    // scan meets a broadcast semi-filter, so the (doc_id, term) agg only
    // carries matching tokens however large the corpus
    val tfq = base
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .join(broadcast(qt), "term")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // df = re-aggregation of the restricted postings (its rows are unique
    // per (doc, term), so count ≡ document frequency); the tf > 0
    // predicate keeps the subtree canonically identical to the scoring
    // branch so AQE reuses one tokenize scan (the ta_tfidf lesson)
    val dfF = tfq.groupBy(col("term"))
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    // operator order mirrors the oracle EXACTLY — ((idf · num) / den),
    // never idf · (num/den): the two associations differ by an ulp,
    // which is a 6-dp knife-edge hazard (the Exact idiom-2 discipline)
    val st = idf * (col("tf") * (lit(K1) + lit(1.0))) /
      (col("tf") + lit(K1) * (lit(1.0) - lit(B) +
        lit(B) * (col("dl").cast("double") / col("avgdl"))))
    val scored = tfq
      .join(broadcast(dfF), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .withColumn("st", st)
    val perDocAll = scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("st").cast("decimal(38,18)")).as("sdec"),
        count(lit(1)).cast("long").as("n_terms"))
      .withColumn("score", round(col("sdec"), 6).cast("double"))
    val perDoc =
      if (excludeSelf) perDocAll.filter(col("doc_id") =!= col("query_id"))
      else perDocAll
    val top = graft.plans.TopKPerGroup.transform(perDoc,
      Seq(col("query_id")), Seq(col("score").desc, col("doc_id").asc), 10)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rnk"), col("doc_id"), col("n_terms"),
        col("score"))
      .orderBy(col("query_id"), col("rnk"))
  }

  val irBm25Sql: String = bm25FullSql("")

  /** SQL twin of [[bm25TopK]] — `selfWhere` mirrors the excludeSelf
    * switch (filtering on the (query, doc) group keys commutes with the
    * aggregation, so before-agg SQL ≡ after-agg Spark). */
  private def bm25FullSql(selfWhere: String): String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl
       |  FROM base),
       |qdocs AS (
       |  SELECT doc_id AS query_id, tk[1:$QueryTerms] AS qt FROM base
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $QueryDocs),
       |qterms AS (SELECT DISTINCT query_id, unnest(qt) AS term FROM qdocs),
       |qt AS (SELECT DISTINCT term FROM qterms),
       |tfq AS (
       |  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
       |  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM base)
       |  JOIN qt USING (term) GROUP BY 1, 2),
       |dff AS (SELECT term, count(*) AS df FROM tfq WHERE tf > 0 GROUP BY 1),
       |scored AS (
       |  SELECT q.query_id, t.doc_id,
       |    ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
       |      (t.tf * ($K1 + 1.0)) /
       |      (t.tf + $K1 * (1.0 - $B + $B * (CAST(t.dl AS DOUBLE) / s.avgdl))) AS st
       |  FROM tfq t JOIN dff f USING (term) JOIN qterms q USING (term)
       |  CROSS JOIN stats s),
       |perdoc AS (
       |  SELECT query_id, doc_id,
       |    CAST(round(sum(CAST(st AS DECIMAL(38,18))), 6) AS DOUBLE) AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM scored $selfWhere GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY score DESC, doc_id) AS rnk
       |  FROM perdoc)
       |SELECT query_id, rnk, doc_id, n_terms, score
       |FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  /** Retrieval-quality evaluation card (round 14) — the
    * [[Similarity.annRecallCard]] discipline applied to text retrieval:
    * measure [[irBm25]]'s 6-term queries against an INDEPENDENT
    * relevance truth — a candidate is relevant to a query doc when
    * their distinct-token sets overlap at Jaccard ≥ ½ (the exact
    * `dd_jaccard` column's definition, so the card answers "does
    * 6-term BM25 surface the vocabulary near-duplicates the dedup
    * suite measures?" against the same ruler), kept fully integer via
    * the cross-multiplication `2·|A∩B| ≥ |A∪B|`. Self-hits are
    * excluded on BOTH sides (retrieving yourself is not an
    * achievement). Reports macro precision@10 (the headline — with a
    * broad truth set, @10 precision is the operative number, the TREC
    * convention), recall@10 and MRR over the queries that have at
    * least one relevant doc. Measured sf0.01: P@10 0.97, MRR 0.97 —
    * the cheap 6-term probe almost always fills its page with true
    * vocabulary near-dups and puts one at rank 1.
    *
    * Scale shape: the truth side is ONE corpus distinct-token pass;
    * the (query, doc) intersection is a SHUFFLE-HASH join keyed on the
    * token (round 15, r14 advice: the query-doc token sets are bounded
    * only by the 16 sampled docs' vocabulary — 16 book-sized docs is
    * ~1M rows, NOT broadcastable; the family's broadcast discipline is
    * "shortlist-sized frames only"), so the pair stream is Θ(16·N)
    * worst case (a constant multiple of the corpus scan, never
    * all-pairs), partial-agg-collapsed map-side; doc sizes join keyed.
    * The hit join broadcasts `top` (bounded at 10·[[QueryDocs]] rows)
    * and STREAMS truth — on a near-duplicate-heavy corpus (this
    * pipeline's target domain) truth is Θ(16·N) rows worst case, the
    * wrong side to materialize on the driver.
    * Truth and the metadata frames pin; metrics join pinned frames.
    * Exactness: truth is pure integers; per-query precision/recall/rr
    * are exact integer quotients (bit-identical doubles); the three
    * macro means go through decimal(38,18) sums, 6-dp floor-rounded. */
  def irEval: Q = (s, d) => evalMetrics(bm25EvalTop(s, d), truthFrame(s, d))

  /** The memoized self-excluded BM25 top-10 (query_id, rnk, doc_id) —
    * ONE ranking pass per (session, dir + fingerprint) behind [[irEval]],
    * [[irEvalStrict]] and [[irFusion]] (each previously re-ran the whole
    * corpus scoring). Lazily pinned at ≤ 10·[[QueryDocs]] rows. */
  private[graft] def bm25EvalTop(s: SparkSession, d: String): DataFrame =
    topMemo.getOrCompute(s, d) {
      bm25TopK(s, d, excludeSelf = true)
        .select(col("query_id"), col("rnk"), col("doc_id"))
        .localCheckpoint(false)
    }

  /** The relevance-truth frame (query_id, doc_id) — token-set Jaccard
    * ≥ ½ against the sampled query docs, self excluded; ONE rule behind
    * [[irEval]] and every [[irFusion]] method row. Memoized + pinned
    * (round 15): feeds the hit joins + the per-query census of three
    * cards, previously rebuilt per card. */
  private[graft] def truthFrame(s: SparkSession, d: String): DataFrame =
    truthMemo.getOrCompute(s, d)(
      truthFrameBy(s, d, tk => tk).localCheckpoint(false))

  /** The SHINGLE-STRICT truth (round 15, r14 verdict item 5): relevance
    * = 3-gram shingle-set Jaccard ≥ ½ ([[shingles3]] — the exact
    * feature the MinHash dedup family estimates), a strictly
    * order-sensitive notion where the token truth is bag-of-words.
    * Sparse on vocabulary-only near-dup corpora (the reason it is the
    * SECOND row of [[irEvalStrict]], not a replacement) — ScaleGen's
    * `shingleDups` mode synthesizes the dense-truncation corpora where
    * it becomes statistically meaningful (spec-pinned there, with the
    * shingle ⊆ token containment). */
  private[graft] def truthFrameShingle(s: SparkSession, d: String): DataFrame =
    truthShingleMemo.getOrCompute(s, d)(
      truthFrameBy(s, d, tk => shingles3(tk)).localCheckpoint(false))

  /** Plan-evidence hooks (round 16): the UNPINNED truth-build frames,
    * so `tools.Dev plan` can dump the bloom-bounded join plan the memo hides
    * behind a checkpoint scan. */
  private[graft] def truthBuildPlan(s: SparkSession, d: String,
      shingle: Boolean): DataFrame =
    if (shingle) truthFrameBy(s, d, tk => shingles3(tk))
    else truthFrameBy(s, d, tk => tk)

  /** Generalized truth builder: relevance = Jaccard ≥ ½ over
    * `featsOf(tokens)` distinct-feature sets.
    *
    * Round-16 scale fix (r15 verdict item 4 — the c8 capture measured
    * the priced shingle-truth build at 127× its c32 time, far beyond
    * the 4× core cut): the intersection join's corpus side is
    * pre-filtered by a BLOOM filter over the query feature set (guide
    * §3.2) BEFORE the feature-keyed exchange. A corpus feature matching
    * no query feature can never contribute to `ni`, so dropping it
    * map-side is exact (false positives are removed by the join
    * itself), and the shuffle carries only the Θ(16·N)-bounded matching
    * stream instead of the full corpus feature explode. The filter is
    * built from the pinned qtok frame (one small job) and is
    * metadata-sized by the [[QueryDocs]] budget — built and probed by
    * the streaming history gate's Bloom toolkit ([[truthFilter]]).
    *
    * Negative result, kept on purpose (§1.2 measure-first): replacing
    * the sizes explode+groupBy with a map-only `size(array_distinct(…))`
    * projection measured 1.6 → 35 s at sf0.1/c32 — materializing the
    * per-doc feature ARRAY as projected row data (instead of streaming
    * it through Generate) is ~20× the cost of the exchange it saves.
    * The dtk/sizes shapes below are therefore exactly r15's. */
  private def truthFrameBy(s: SparkSession, d: String,
      featsOf: Column => Column): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val dtk = base.select(col("doc_id"),
      explode(array_distinct(featsOf(col("tk")))).as("t"))
    val sizes = dtk.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sparkS = s; import sparkS.implicits._
    val qids = corpusSample(s, d)._3.map(_._1).toDF("query_id")
    val qtok = dtk.join(broadcast(qids), col("doc_id") === col("query_id"))
      .select(col("query_id"), col("t"))
      .localCheckpoint(false)
    val qsizes = qtok.groupBy(col("query_id")).agg(count(lit(1)).as("nq"))
      .localCheckpoint(false)
    // empty query set → empty filter → no token passes (the join below
    // is empty either way; EmptyInputSpec's contract)
    val dtkF = dtk.filter(Bloom.mightContain(truthFilter(qtok), xxhash64(col("t"))))
    // shuffle-hash, not broadcast: qtok is bounded by the sampled docs'
    // VOCABULARY (unbounded per doc length), and the joined stream must
    // shuffle for the (query, doc) agg regardless — the hash build side
    // is partition-sliced, so no driver/executor materialization of the
    // whole token set (r14 advice, the line-283 finding)
    val inter = dtkF.join(qtok.hint("shuffle_hash"), "t")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(sizes, "doc_id")
      .join(broadcast(qsizes), "query_id")
      .filter(col("doc_id") =!= col("query_id") &&
        lit(2) * col("ni") >= col("nq") + col("n") - col("ni"))
      .select(col("query_id"), col("doc_id"))
  }

  /** [[truthFrameBy]]'s pre-filter over the query features `t` of
    * `qtok` (null for an empty query set), at fpp 1% under clamps that
    * respect Spark's BloomFilterAggregate caps (4M items / 64Mbit). The
    * count also materializes the qtok pin (its first consumer would
    * anyway). */
  private[graft] def truthFilter(qtok: DataFrame): Array[Byte] = {
    val s = Bloom.sizing(math.min(math.max(1L, qtok.count()), 4000000L), 0.01)
    Bloom.build(qtok, xxhash64(col("t")),
      s.copy(bits = math.min(67108864L, math.max(64L, s.bits))))
  }

  /** The macro P@10 / recall@10 / MRR aggregate over one retriever's
    * (query_id, rnk, doc_id) top-10 — the metric block [[irEval]] and
    * every [[irFusion]] row share. Broadcasts the ≤10·[[QueryDocs]]-row
    * top and STREAMS the corpus-dependent truth (r14 advice: on a
    * near-dup-heavy corpus truth is Θ(16·N) rows — the wrong side to
    * materialize). */
  private def evalMetrics(top: DataFrame, truth: DataFrame): DataFrame = {
    val hits = truth.join(broadcast(top), Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("nh"), min(col("rnk")).as("fr"))
    val tc = truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val pq = tc.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("nh"), lit(0L)).as("nh"),
        (coalesce(col("nh"), lit(0L)).cast("double") / lit(10.0)).as("precision"),
        (coalesce(col("nh"), lit(0L)).cast("double") / col("n_rel")).as("recall"),
        when(col("fr").isNull, lit(0.0)).otherwise(lit(1.0) / col("fr")).as("rr"))
    pq.agg(count(lit(1)).cast("long").as("n_queries"),
        sum(col("n_rel")).cast("long").as("n_rel"),
        sum(col("nh")).cast("long").as("n_hits"),
        sum(col("precision").cast("decimal(38,18)")).as("ps"),
        sum(col("recall").cast("decimal(38,18)")).as("rs"),
        sum(col("rr").cast("decimal(38,18)")).as("rrs"))
      .select(col("n_queries"), col("n_rel"), col("n_hits"),
        when(col("n_queries") > 0, Exact.floorRound(
          col("ps").cast("double") / col("n_queries"), 6)).as("precision_at_10"),
        when(col("n_queries") > 0, Exact.floorRound(
          col("rs").cast("double") / col("n_queries"), 6)).as("recall_at_10"),
        when(col("n_queries") > 0, Exact.floorRound(
          col("rrs").cast("double") / col("n_queries"), 6)).as("mrr"))
  }

  /** The union-keyed twin of [[evalMetrics]] (round 16, r15 verdict
    * item 7): the multi-row cards previously ran one [[evalMetrics]]
    * block PER row — three truth joins + three truth censuses for
    * [[irFusion]], two for [[irEvalStrict]] — over the same pinned
    * frames. Here both sides arrive labeled (`labelCol` rides the union
    * of the tops and/or the truth), so ONE hit join + ONE truth census
    * serve every row, and the per-label aggregation reproduces each
    * row's [[evalMetrics]] arithmetic exactly: the per-(label, query)
    * precision/recall/rr quotients are identical, and the decimal(38,18)
    * macro sums are order-independent by construction. The `labels`
    * spine left-join reproduces the agg-without-groupBy contract on an
    * empty truth (every label still reports one row: n_queries 0, null
    * sums/metrics — bit-identical to the per-row blocks). */
  private def evalMetricsBy(tops: DataFrame, truth: DataFrame,
      labelCol: String, labels: Seq[String]): DataFrame = {
    val sparkS = truth.sparkSession
    import sparkS.implicits._
    val hits = truth.join(broadcast(tops),
        Seq(labelCol, "query_id", "doc_id"))
      .groupBy(col(labelCol), col("query_id"))
      .agg(count(lit(1)).as("nh"), min(col("rnk")).as("fr"))
    val tc = truth.groupBy(col(labelCol), col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val pq = tc.join(hits, Seq(labelCol, "query_id"), "left")
      .select(col(labelCol), col("query_id"), col("n_rel"),
        coalesce(col("nh"), lit(0L)).as("nh"),
        (coalesce(col("nh"), lit(0L)).cast("double") / lit(10.0)).as("precision"),
        (coalesce(col("nh"), lit(0L)).cast("double") / col("n_rel")).as("recall"),
        when(col("fr").isNull, lit(0.0)).otherwise(lit(1.0) / col("fr")).as("rr"))
    val agg = pq.groupBy(col(labelCol))
      .agg(count(lit(1)).cast("long").as("n_queries"),
        sum(col("n_rel")).cast("long").as("n_rel"),
        sum(col("nh")).cast("long").as("n_hits"),
        sum(col("precision").cast("decimal(38,18)")).as("ps"),
        sum(col("recall").cast("decimal(38,18)")).as("rs"),
        sum(col("rr").cast("decimal(38,18)")).as("rrs"))
    labels.toDF(labelCol).join(agg, Seq(labelCol), "left")
      .select(col(labelCol),
        coalesce(col("n_queries"), lit(0L)).as("n_queries"),
        col("n_rel"), col("n_hits"),
        when(col("n_queries") > 0, Exact.floorRound(
          col("ps").cast("double") / col("n_queries"), 6)).as("precision_at_10"),
        when(col("n_queries") > 0, Exact.floorRound(
          col("rs").cast("double") / col("n_queries"), 6)).as("recall_at_10"),
        when(col("n_queries") > 0, Exact.floorRound(
          col("rrs").cast("double") / col("n_queries"), 6)).as("mrr"))
  }

  /** The shared base CTEs: tokenized docs + the sampled query ids. */
  private val irBaseCtesSql: String =
    s"""base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |qids AS (
       |  SELECT doc_id AS query_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $QueryDocs)""".stripMargin

  /** Truth CTE chain ending in `${p}truth` — the SQL twin of
    * [[truthFrameBy]]: `featsSql` is the feature-list expression over
    * `tk` (tokens, or 3-gram shingles for the strict variant). */
  private def irTruthCtesSqlBy(p: String, featsSql: String): String =
    s"""${p}dtk AS (SELECT doc_id, unnest(list_distinct($featsSql)) AS t FROM base),
       |${p}sizes AS (SELECT doc_id, count(*) AS n FROM ${p}dtk GROUP BY 1),
       |${p}qtok AS (SELECT query_id, t FROM ${p}dtk JOIN qids ON ${p}dtk.doc_id = qids.query_id),
       |${p}qsizes AS (SELECT query_id, count(*) AS nq FROM ${p}qtok GROUP BY 1),
       |${p}inter AS (
       |  SELECT q.query_id, d.doc_id, count(*) AS ni
       |  FROM ${p}dtk d JOIN ${p}qtok q USING (t) GROUP BY 1, 2),
       |${p}truth AS (
       |  SELECT i.query_id, i.doc_id
       |  FROM ${p}inter i JOIN ${p}sizes s ON s.doc_id = i.doc_id
       |  JOIN ${p}qsizes qs ON qs.query_id = i.query_id
       |  WHERE i.doc_id <> i.query_id AND 2 * i.ni >= qs.nq + s.n - i.ni)""".stripMargin

  /** [[shingles3]]'s SQL twin over `tk` (space-joined word 3-grams). */
  private val shingleFeatsSql: String =
    "list_transform(generate_series(1, len(tk) - 2), " +
      "i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2]))"

  /** The token-truth chain under the default names. */
  private val irTruthCtesSql: String =
    s"$irBaseCtesSql,\n${irTruthCtesSqlBy("", "tk")}"

  /** Metric SELECT over a (query_id, rnk, doc_id) top-10 CTE — the SQL
    * twin of [[evalMetrics]]; `label` prepends a (column, value) tag —
    * the fusion card's `method`, the strict card's `truth_def` (None =
    * [[irEvalSql]]'s original schema); `truthCte` names the truth
    * chain to evaluate against. */
  private def evalSqlFor(label: Option[(String, String)], topCte: String,
      truthCte: String = "truth"): String = {
    val methodCol = label.map { case (c, v) => s"'$v' AS $c, " }.getOrElse("")
    s"""SELECT ${methodCol}CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(n_rel) AS BIGINT) AS n_rel,
       |  CAST(sum(nh) AS BIGINT) AS n_hits,
       |  CASE WHEN count(*) > 0 THEN ${Exact.floorRoundSql(
        "CAST(sum(CAST(precision AS DECIMAL(38,18))) AS DOUBLE) / count(*)", 6)}
       |  END AS precision_at_10,
       |  CASE WHEN count(*) > 0 THEN ${Exact.floorRoundSql(
        "CAST(sum(CAST(recall AS DECIMAL(38,18))) AS DOUBLE) / count(*)", 6)}
       |  END AS recall_at_10,
       |  CASE WHEN count(*) > 0 THEN ${Exact.floorRoundSql(
        "CAST(sum(CAST(rr AS DECIMAL(38,18))) AS DOUBLE) / count(*)", 6)}
       |  END AS mrr
       |FROM (
       |  SELECT tc.query_id, tc.n_rel, coalesce(h.nh, 0) AS nh,
       |    CAST(coalesce(h.nh, 0) AS DOUBLE) / 10.0 AS precision,
       |    CAST(coalesce(h.nh, 0) AS DOUBLE) / tc.n_rel AS recall,
       |    CASE WHEN h.fr IS NULL THEN 0.0 ELSE 1.0 / h.fr END AS rr
       |  FROM (SELECT query_id, count(*) AS n_rel FROM $truthCte GROUP BY 1) tc
       |  LEFT JOIN (
       |    SELECT t.query_id, count(*) AS nh, min(t.rnk) AS fr
       |    FROM $topCte t JOIN $truthCte USING (query_id, doc_id) GROUP BY 1) h
       |  USING (query_id)) pq""".stripMargin
  }

  val irEvalSql: String =
    s"""WITH $irTruthCtesSql,
       |top AS (
       |  SELECT query_id, rnk, doc_id
       |  FROM (${bm25FullSql("WHERE query_id <> doc_id")}))
       |${evalSqlFor(None, "top")}""".stripMargin

  /** Dual-truth evaluation card (round 15, r14 verdict item 5) — the
    * [[irEval]] metrics under BOTH relevance definitions side by side:
    * `token` (distinct-token Jaccard ≥ ½ — bag-of-words, the broad
    * vocabulary-near-dup truth) and `shingle` (3-gram shingle Jaccard
    * ≥ ½ — order-sensitive, the verbatim-overlap truth the MinHash
    * family estimates). The strict row answers "does BM25 surface
    * VERBATIM near-dups, not just vocabulary cousins?" — but shingle
    * truth is sparse on vocabulary-only corpora (2 queries at sf0.01,
    * statistically void there by design), so its meaningful
    * measurement runs on ScaleGen `shingleDups` corpora (truncation
    * near-dups with dense shingle overlap; OperatorsSpec pins a
    * populated strict row AND the shingle ⊆ token truth containment
    * there). Same bm25 top-10 evaluated against both pinned truths —
    * the top is built once. */
  def irEvalStrict: Q = (s, d) => {
    val top = bm25EvalTop(s, d) // both truth rows evaluate the same top
    // ONE union-keyed metrics pass (round 16): the two pinned truths
    // ride the label column, so the card runs one hit join + one truth
    // census instead of two of each (r15 verdict item 7's discipline,
    // applied to this card too)
    val truths = truthFrameShingle(s, d)
      .select(lit("shingle").as("truth_def"), col("query_id"), col("doc_id"))
      .unionByName(truthFrame(s, d)
        .select(lit("token").as("truth_def"), col("query_id"), col("doc_id")))
    val sparkS = s; import sparkS.implicits._
    val tops = top.crossJoin(
      broadcast(Seq("shingle", "token").toDF("truth_def")))
    evalMetricsBy(tops, truths, "truth_def", Seq("shingle", "token"))
      .orderBy(col("truth_def"))
  }

  val irEvalStrictSql: String =
    s"""WITH $irBaseCtesSql,
       |${irTruthCtesSqlBy("", "tk")},
       |${irTruthCtesSqlBy("sh_", shingleFeatsSql)},
       |top AS (
       |  SELECT query_id, rnk, doc_id
       |  FROM (${bm25FullSql("WHERE query_id <> doc_id")}))
       |SELECT * FROM (
       |  ${evalSqlFor(Some("truth_def" -> "shingle"), "top", "sh_truth")}
       |  UNION ALL
       |  ${evalSqlFor(Some("truth_def" -> "token"), "top", "truth")})
       |ORDER BY truth_def""".stripMargin

  /** Reciprocal-rank-fusion constant — the standard k=60 (Cormack &
    * Clarke's RRF): score(d) = Σ 1/(k + rank_d) over the retrievers
    * that returned d. */
  private[graft] val RrfK = 60

  /** Hybrid-retrieval fusion card (round 15, r14 verdict item 4) — the
    * first place the repo's LEXICAL retriever ([[irBm25]]) and its
    * VECTOR family meet: for the same [[QueryDocs]] sampled queries,
    * rank documents three ways — BM25 top-10, embedding-cosine top-10
    * (doc_id ≡ vec_id, the hygiene `mm_integrity` audits), and their
    * reciprocal-rank fusion `Σ 1/(60 + rank)` — and report each
    * method's [[irEval]] metrics against the SAME token-Jaccard truth.
    * This is the "which retriever for contamination review" decision
    * card: one table answers whether the cheap lexical probe, the
    * embedding index, or the standard fusion of the two surfaces the
    * near-duplicates the dedup suite measures.
    *
    * Exactness: RRF is rank arithmetic — `1.0/(60 + rank)` doubles
    * summed in a fixed written order (two terms, coalesce-mirrored), so
    * scores are bit-identical cross-engine; the fused cut ranks on
    * (score DESC, doc_id). Cosine ranks cut on the raw fold with
    * doc_id tie-breaks (the bruteforce discipline); metrics are the
    * shared [[evalMetrics]] block.
    *
    * Scale shape: the vector side is ONE broadcast-query corpus scan
    * through TopKPerGroup heaps (the [[Similarity.annBruteforceFor]]
    * contract — the 16-query frame is the broadcast side); the fusion
    * join unions two ≤10·[[QueryDocs]]-row frames; truth streams
    * against broadcast tops (the r14-advice direction). */
  def irFusion: Q = (s, d) => {
    val truth = truthFrame(s, d)
    val bmTop = bm25EvalTop(s, d) // feeds its metric row + the fusion join
    val v = Similarity.vectors(s, d)
    val sparkS = s; import sparkS.implicits._
    val qids = corpusSample(s, d)._3.map(_._1).toDF("query_id")
    val q = v.join(broadcast(qids), col("vec_id") === col("query_id"))
      .select(col("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        (graft.functions.VecFns.dot(col("qe"), col("e")) /
          (col("qn") * col("nrm"))).as("cos"))
    val vecCut = graft.plans.TopKPerGroup.transform(scored,
      Seq(col("query_id")), Seq(col("cos").desc, col("doc_id").asc), 10)
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    val vecTop = vecCut.withColumn("rnk", row_number().over(wv).cast("long"))
      .select(col("query_id"), col("rnk"), col("doc_id"))
      .localCheckpoint(false) // feeds its metric row + the fusion join
    val fused = bmTop.select(col("query_id"), col("doc_id"),
        col("rnk").as("brnk"))
      .join(vecTop.select(col("query_id"), col("doc_id"),
        col("rnk").as("vrnk")), Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("brnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vrnk")), lit(0.0))).as("score"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val rrfTop = fused.withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("rnk"), col("doc_id"))
    // ONE union-keyed metrics pass (round 16, r15 verdict item 7): the
    // three method tops ride the label column and the pinned truth is
    // replicated per label in ONE scan, so the card runs one hit join +
    // one truth census instead of three of each
    val methods = Seq("bm25", "rrf", "vector")
    val tops = bmTop.select(lit("bm25").as("method"), col("query_id"),
        col("rnk"), col("doc_id"))
      .unionByName(rrfTop.select(lit("rrf").as("method"), col("query_id"),
        col("rnk"), col("doc_id")))
      .unionByName(vecTop.select(lit("vector").as("method"), col("query_id"),
        col("rnk"), col("doc_id")))
    val truths = truth.crossJoin(broadcast(methods.toDF("method")))
      .select(col("method"), col("query_id"), col("doc_id"))
    evalMetricsBy(tops, truths, "method", methods)
      .orderBy(col("method"))
  }

  val irFusionSql: String = {
    val cos = "list_reduce(list_transform(generate_series(1, 64), " +
      "i -> vq.qe[i] * ve.e[i]), (x, y) -> x + y) / (vq.qn * ve.nrm)"
    s"""WITH $irTruthCtesSql,
       |bm_top AS (
       |  SELECT query_id, rnk, doc_id
       |  FROM (${bm25FullSql("WHERE query_id <> doc_id")})),
       |${Similarity.vectorsCteSql("ve")},
       |vq AS (
       |  SELECT query_id, e AS qe, nrm AS qn
       |  FROM ve JOIN qids ON ve.vec_id = qids.query_id),
       |vs AS (
       |  SELECT vq.query_id, ve.vec_id AS doc_id, $cos AS cos
       |  FROM ve JOIN vq ON ve.vec_id <> vq.query_id),
       |vec_top AS (
       |  SELECT query_id, rn AS rnk, doc_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, doc_id) AS rn FROM vs) WHERE rn <= 10),
       |rj AS (
       |  SELECT coalesce(b.query_id, vt.query_id) AS query_id,
       |    coalesce(b.doc_id, vt.doc_id) AS doc_id,
       |    coalesce(1.0 / ($RrfK + b.rnk), 0.0) +
       |      coalesce(1.0 / ($RrfK + vt.rnk), 0.0) AS score
       |  FROM bm_top b FULL OUTER JOIN vec_top vt
       |    ON b.query_id = vt.query_id AND b.doc_id = vt.doc_id),
       |rrf_top AS (
       |  SELECT query_id, rn AS rnk, doc_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rn FROM rj) WHERE rn <= 10)
       |SELECT * FROM (
       |  ${evalSqlFor(Some("method" -> "bm25"), "bm_top")}
       |  UNION ALL
       |  ${evalSqlFor(Some("method" -> "rrf"), "rrf_top")}
       |  UNION ALL
       |  ${evalSqlFor(Some("method" -> "vector"), "vec_top")})
       |ORDER BY method""".stripMargin
  }

  /** Exact phrase search over a POSITIONAL inverted index (round 14) —
    * the second classic index structure next to [[irBm25]]'s frequency
    * postings: each sampled query doc contributes one 3-token contiguous
    * phrase (tokens 2–4), and the operator finds every corpus document
    * containing that exact phrase via the standard positional-postings
    * adjacency join (`term` matches at position `start + offset` for all
    * offsets ⇒ the phrase starts at `start`). The pipeline's use: literal
    * benchmark-string contamination lookups and boilerplate provenance
    * ("which docs carry this exact sentence?") where token-set overlap
    * (`dd_decontaminate`) is too coarse.
    *
    * Scale shape: ONE corpus tokenize → positional explode, restricted
    * by a broadcast join on the ≤ 3·[[QueryDocs]] phrase terms BEFORE
    * any shuffle (each posting meets at most |phrase terms| offsets, so
    * the joined stream is bounded by the restricted postings × 3); the
    * (query, doc, start) aggregation and everything after runs on the
    * restricted stream. Pure integer arithmetic end to end — positions,
    * counts and offsets hash-match trivially cross-engine. */
  def irPhrase: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    // phrase per sampled query doc: tokens 2-4 (0-based offsets 0..2),
    // eligible when the doc has ≥ 4 tokens — a slice of the memoized
    // sample prefix, entering the plan as ≤ QueryDocs·3 LocalRelation rows
    val phs = corpusSample(s, d)._3
      .map { case (q, ts) => q -> ts.slice(1, 4) }
      .filter(_._2.length == 3)
    import s.implicits._
    val qphrase = phs.map { case (q, ph) => q -> ph.mkString(" ") }
      .toDF("query_id", "phrase")
    val qterms = phs.flatMap { case (q, ph) =>
      ph.zipWithIndex.map { case (t, o) => (q, o, t) }
    }.toDF("query_id", "off", "term")
    // positional postings restricted to phrase terms before the shuffle
    val hits = base
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "term")))
      .join(broadcast(qterms), "term")
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).cast("long").as("start"))
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("n_off"))
      .filter(col("n_off") === 3 && col("start") >= 0)
    hits
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"), min(col("start")).as("first_pos"))
      .join(broadcast(qphrase), "query_id")
      .select(col("query_id"), col("phrase"), col("doc_id"), col("n_occ"),
        col("first_pos"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  val irPhraseSql: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |qdocs AS (
       |  SELECT * FROM (
       |    SELECT doc_id AS query_id, tk[2:4] AS ph FROM base
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $QueryDocs)
       |  WHERE len(ph) = 3),
       |qphrase AS (
       |  SELECT query_id, list_reduce(ph, (a, b) -> a || ' ' || b) AS phrase
       |  FROM qdocs),
       |qterms AS (
       |  SELECT query_id, i - 1 AS off, ph[i] AS term
       |  FROM qdocs CROSS JOIN UNNEST(generate_series(1, 3)) AS u(i)),
       |postings AS (
       |  SELECT doc_id, p - 1 AS pos, tk[p] AS term
       |  FROM base CROSS JOIN UNNEST(generate_series(1, len(tk))) AS s(p)),
       |starts AS (
       |  SELECT query_id, doc_id, CAST(pos - off AS BIGINT) AS start,
       |    count(*) AS n_off
       |  FROM postings JOIN qterms USING (term)
       |  GROUP BY 1, 2, 3),
       |occs AS (
       |  SELECT query_id, doc_id, count(*) AS n_occ, min(start) AS first_pos
       |  FROM starts WHERE n_off = 3 AND start >= 0
       |  GROUP BY 1, 2)
       |SELECT query_id, phrase, doc_id, n_occ, first_pos
       |FROM occs JOIN qphrase USING (query_id)
       |ORDER BY query_id, doc_id""".stripMargin

  /** Driver-side frozen phrase registry — the TRAIN half of the
    * [[graft.streaming.Transforms.phraseGate]] online split: the same
    * md5-sampled 3-token phrases [[irPhrase]] searches, keyed by query
    * id. Metadata-sized by the [[QueryDocs]] budget. */
  def frozenPhrases(s: SparkSession, d: String): Map[Long, Seq[String]] =
    corpusSample(s, d)._3
      .map { case (q, ts) => q -> ts.slice(1, 4) }
      .filter(_._2.length == 3).toMap

  /** Driver-side frozen retrieval stats — the TRAIN half of the
    * [[graft.streaming.Transforms.bm25Score]] online split (the dsirScore
    * convention: fit offline over the corpus, apply record-locally
    * online). Returns (nDocs, avgdl, queries, df): corpus size, average
    * doc length (the exact double the batch scorer divides by), the
    * sampled query terms per query id, and the document frequency of
    * every query term. All four are metadata-sized (the fixed
    * [[QueryDocs]]·[[QueryTerms]] budget bounds the term set) however
    * large the corpus; the corpus passes behind them are the same
    * aggregations [[irBm25]] runs. */
  def frozenStats(s: SparkSession, d: String)
      : (Long, Double, Map[Long, Seq[String]], Map[String, Long]) = {
    val (nDocs, avgdl, sample) = corpusSample(s, d)
    val queries = sample
      .map { case (q, ts) => q -> ts.distinct.sorted }
      .filter(_._2.nonEmpty).toMap
    val terms = sample.flatMap(_._2).distinct
    // memoized (round 15): the corpus df pass runs once per (session,
    // dir + fingerprint) however many deployments call frozenStats —
    // the sample the terms derive from shares the same fingerprint, so
    // the two memos can never disagree about the corpus state
    val dfMap = dfMemo.getOrCompute(s, d) {
      if (terms.isEmpty) Map.empty[String, Long]
      else Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(terms.map(x => x: Any): _*))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("df"))
        .toMap
    }
    (nDocs, avgdl, queries, dfMap)
  }

  val queries: Map[String, Q] = Map(
    "ir_bm25" -> irBm25,
    "ir_phrase" -> irPhrase,
    "ir_eval" -> irEval,
    "ir_eval_strict" -> irEvalStrict,
    "ir_fusion" -> irFusion)

  val oracleSql: Map[String, String] = Map(
    "ir_bm25" -> irBm25Sql,
    "ir_phrase" -> irPhraseSql,
    "ir_eval" -> irEvalSql,
    "ir_eval_strict" -> irEvalStrictSql,
    "ir_fusion" -> irFusionSql)
}
