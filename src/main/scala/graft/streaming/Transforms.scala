package graft.streaming

import graft.plans.GraftFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming transforms (SURVEY.md §2h): watermarked windowed aggregation,
  * in-watermark dedup (the RewindingPartitionGroupSinker replay window),
  * gap sessionization via the native session_window, and a
  * mapGroupsWithState custom-state operator. Serializable (as the module
  * proxy): a keyed fold's step may call the time helpers below on executors.
  */
object Transforms extends Serializable {

  /** Event-time as epoch micros — the ONE Timestamp→Long conversion all
    * keyed-state transforms fold-order on (a precision fix must not be
    * applied to N local copies). */
  private def us(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  private def fromUs(u: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(u, java.time.temporal.ChronoUnit.MICROS))

  /** The keyed event-time fold every stateful operator below runs
    * through: SURVEY §1's per-partition sinkers and hand-held keyed state
    * as one `flatMapGroupsWithState` under the watermark-plus-timeout
    * model of Structured Streaming (Armbrust et al., SIGMOD 2018). An
    * operator states its rows, key, fold order, `step` and `deadline`;
    * the policy they share is decided here once:
    *
    *  - eviction: with a `watermark` (the rows carry the `ts` event-time
    *    column), rows later than the watermark are dropped before the
    *    step, each key's timeout is armed at max(deadline, watermark + 1)
    *    after every call (event-time timeouts must lie past the current
    *    watermark), and a timed-out key goes to `onTimeout` — by default
    *    removed with nothing emitted. With `None` there is no watermark
    *    and no timeout: every delivered row is folded, however late, and
    *    state never expires;
    *  - fold order: a key's rows of one microbatch reach `step` sorted by
    *    `order`, so a replayed epoch emits identical rows — the
    *    determinism contract every graft sink assumes;
    *  - state: `step` gets the key's state (None for a new key), its rows
    *    and the current watermark (ms; Long.MinValue without eviction),
    *    and returns the next state — None removes the key — with the rows
    *    to emit (append output). */
  private def keyedFold[R, K: Encoder, T: Ordering, S: Encoder, O: Encoder](
      rows: Dataset[R], watermark: Option[String])(key: R => K, order: R => T)(
      step: (K, Option[S], Seq[R], Long) => (Option[S], Seq[O]))(
      deadline: (K, S) => Long = (_: K, _: S) => Long.MaxValue,
      onTimeout: (K, S, Long) => (Option[S], Seq[O]) = (_: K, _: S, _: Long) => (None, Nil))
      : Dataset[O] = {
    val evict = watermark.isDefined
    watermark.fold(rows)(rows.withWatermark("ts", _))
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append,
        if (evict) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[R], state: GroupState[S]) =>
          val wm = if (evict) state.getCurrentWatermarkMs else Long.MinValue
          val (next, out) =
            if (state.hasTimedOut) onTimeout(k, state.get, wm)
            else step(k, state.getOption, it.toSeq.sortBy(order), wm)
          next match {
            case Some(st) =>
              state.update(st)
              if (evict) state.setTimeoutTimestamp(math.max(deadline(k, st), wm + 1))
            case None => if (state.exists) state.remove()
          }
          out.iterator
      }
  }

  /** Watermarked tumbling-window aggregation per event type. */
  def windowedAggregation(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Exactly-once replay protection: drop duplicate offsets that arrive
    * within the watermark (reference: RewindingPartitionGroupSinker keeps
    * a replay window and skips already-loaded records). */
  def streamDedup(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** CONTENT dedup on ingest — the batch `dd_exact_norm` operator as a
    * streaming gate: documents whose normalized text ([[graft.functions
    * .TextFns.normText]], the same single definition the batch dedup and
    * curation use) hashes to an already-seen value within the watermark
    * horizon are dropped; the FIRST arrival passes through. State is one
    * md5 per distinct content hash, evicted by the watermark — bounded
    * the same way streamDedup's offset state is, so a re-crawled
    * boilerplate page cannot grow state forever. Requires a `ts` event
    * time and a `text` column; everything else rides along. */
  def contentDedup(docs: DataFrame, watermark: String = "30 minutes"): DataFrame =
    docs
      .withColumn("_content_hash",
        md5(graft.functions.TextFns.normText(col("text")).cast("binary")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("_content_hash"))
      .drop("_content_hash")

  /** PERCEPTUAL dedup on ingest — the media twin of [[contentDedup]]:
    * payloads whose DOWNSCALED SIGNAL (the 64-sample signature behind
    * the batch `mm_phash` family —
    * [[graft.operators.Multimodal.sampledSignature]], one shared kernel)
    * was already seen inside the watermark horizon are dropped; the
    * first arrival passes. Where the md5 gate only stops byte-identical
    * re-crawls, this also stops re-encodes that shift unsampled bytes
    * but not signal. The key is the md5 of the full sample vector, NOT
    * the 16-bit phash: a drop gate must not act on compact-hash equality
    * (birthday-bound false drops of genuinely distinct payloads within a
    * busy watermark — equal phashes are verify-stage CANDIDATES, the
    * mm_phash_pairs contract), so the gate's false-drop rate is
    * md5-class while the perceptual tolerance is the sampling grid's.
    * Empty payloads carry no signal and fall back to the exact md5
    * class — the first passes, later ones drop, stated explicitly rather
    * than left to NULL-key equality. State is one md5 per distinct
    * signature, watermark-evicted; requires `ts` event time and a `text`
    * payload column, everything else rides along. */
  def perceptualDedup(docs: DataFrame, watermark: String = "30 minutes"): DataFrame =
    docs
      .withColumn("_psig", coalesce(
        graft.operators.Multimodal.sampledSignature,
        md5(col("text").cast("binary"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("_psig"))
      .drop("_psig")

  /** Gap-based sessionization with the native session_window — state is
    * merged-window per (user, session), pruned by the watermark. */
  def sessionize(
      events: DataFrame,
      watermark: String = "30 minutes",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stream-static enrichment: join the stream against a (small) static
    * dimension — the dimension is broadcast per epoch, no stream state.
    * (RecordFormatter-with-lookup analog: enrich records on the way in.) */
  def enrich(events: DataFrame, dim: DataFrame, joinCol: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), joinCol)

  /** Stream-stream interval join: pair each click with the same user's
    * views from the preceding `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered state on both sides — the streaming twin
    * of the batch `ev_range_join` binning operator (state here, bins
    * there; both bound the pairing work). */
  def clickViewJoin(clicks: DataFrame, views: DataFrame,
      watermark: String = "10 minutes", windowMinutes: Int = 10): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    c.join(v,
      col("user_id") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("click_ts"), col("view_id"), col("view_ts"))
  }

  /** An open session's first and last event time, in epoch micros. */
  case class OpenSession(start: Long, end: Long, n: Long, value: Double)
  case class OpenSessions(sessions: List[OpenSession])
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, session_value: Double)

  /** Sessionization that emits each session exactly once, WHEN IT CLOSES
    * — flatMapGroupsWithState with an event-time timeout. State per key
    * is the LIST of still-open sessions (not just the latest): every
    * event lands as a singleton and open sessions are re-coalesced under
    * the half-open session_window rule (merge iff next.start < end + gap
    * — an event exactly `gap` after a session starts a new one, matching
    * the batch twin `sessionize`). Out-of-order events within the
    * watermark therefore merge into — or bridge — whatever sessions they
    * belong to, exactly as session_window would. A session is emitted
    * only when the watermark passes its end + gap (the state timeout),
    * so each session appears exactly once, complete; state is bounded by
    * the number of open sessions inside the watermark horizon. This is
    * the emit-on-close shape the reference's per-partition sinkers give
    * loaders, with append-mode output a transactional sink can consume. */
  def sessionizeOnClose(spark: SparkSession, events: DataFrame,
      watermark: String = "30 minutes", gapMs: Long = 1800000L): Dataset[ClosedSession] = {
    import spark.implicits._
    // session_end = last event + gap: the session_window BOUNDARY, so the
    // emitted rows agree column-for-column with the batch twin
    // [[sessionize]] (which selects session_window.end) — a consumer
    // keyed on (user_id, session_end) can switch between the two paths.
    // Sessions hold µs event time, as session_window does; the
    // watermark and the timeout deadline stay in ms.
    val gapUs = gapMs * 1000L
    def close(user: Long, s: OpenSession) = ClosedSession(user,
      fromUs(s.start), fromUs(s.end + gapUs), s.n, s.value)
    def coalesce(ss: List[OpenSession]): List[OpenSession] =
      ss.sortBy(s => (s.start, s.end)).foldLeft(List.empty[OpenSession]) {
        case (acc @ (cur :: rest), nxt) if nxt.start < cur.end + gapUs =>
          OpenSession(cur.start, math.max(cur.end, nxt.end),
            cur.n + nxt.n, cur.value + nxt.value) :: rest
        case (acc, nxt) => nxt :: acc
      }.reverse
    def fold(user: Long, prev: Option[OpenSessions], rows: Seq[(Long, java.sql.Timestamp, Double)],
        wm: Long): (Option[OpenSessions], Seq[ClosedSession]) = {
      val merged = coalesce(prev.fold(List.empty[OpenSession])(_.sessions) ++
        rows.map(e => OpenSession(us(e._2), us(e._2), 1L, e._3)))
      // closed = watermark has passed end + gap: no admissible event
      // (≥ watermark) can extend or bridge them anymore
      val (done, open) = merged.partition(_.end + gapUs <= wm * 1000L)
      (if (open.isEmpty) None else Some(OpenSessions(open)),
        done.sortBy(_.start).map(close(user, _)))
    }
    keyedFold(events.selectExpr("user_id", "ts", "value").as[(Long, java.sql.Timestamp, Double)],
        Some(watermark))(_._1, r => us(r._2))(fold)(
      // earliest close time
      (_, st) => Math.floorDiv(st.sessions.map(_.end + gapUs).min, 1000L),
      // a timeout emits what the watermark closed and re-arms the rest
      (user, st, wm) => fold(user, Some(st), Nil, wm))
  }

  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user totals
    * (the shape any bespoke stateful operator takes in graft). State
    * never expires — fine for bounded key spaces; for corpus-scale key
    * spaces use [[runningUserTotalsWithTtl]]. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotal] = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          val batch = rows.toSeq
          val next = UserTotal(user, prev.n_events + batch.size,
            prev.total_value + batch.map(_._2).sum)
          state.update(next)
          next
      }
  }

  case class UserTotalTtlState(total: UserTotal, lastSeenMs: Long)

  /** Online model inference on a stream: assign each incoming embedding
    * to its nearest trained centroid. The centroid matrix (e.g. from
    * [[graft.operators.Clustering]]'s batch training) inlines as plan
    * literals — a stateless codegen-able projection, no join, no state,
    * so it rides any stream at full scan speed. Input needs an `e`
    * array column; all columns pass through plus (cluster, dist). */
  def centroidAssign(vecs: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    vecs.withColumn("m", graft.functions.VecFns.nearestCentroid(col("e"), cents))
      .withColumn("cluster", col("m.cid").cast("long"))
      .withColumn("dist", col("m.d"))
      .drop("m")

  /** Drift monitor over [[centroidAssign]]: per tumbling window and
    * cluster, arrival count and mean distance-to-centroid. Rising mean
    * distance = the live stream is leaving the trained manifold — the
    * retrain signal every deployed clustering needs. Watermarked
    * windowed agg: bounded state, append output. */
  def centroidDrift(
      vecs: DataFrame,
      cents: Seq[(Int, Seq[Double])],
      watermark: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame =
    centroidAssign(vecs, cents)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("cluster"))
      .agg(count(lit(1)).as("n"), avg(col("dist")).as("mean_dist"))
      .select(col("window.start").as("window_start"), col("cluster"),
        col("n"), col("mean_dist"))

  /** Streaming count-min-sketch build: per tumbling window, the d×w
    * counter cells estimating per-user event counts — the streaming twin
    * of `ev_heavy_hitters`' sketch build (same [[graft.functions.SketchFns]]
    * hashes, so batch and stream cells are bit-identical; parity pinned
    * in spec). State is the watermarked windowed agg over a FIXED
    * depth×width key space per window — the sketch's whole point at
    * 100 TB: the heavy-hitter query downstream reads d×w cells, never
    * the user cardinality. */
  def countMinCells(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLength: String = "1 hour",
      depth: Int = 4,
      width: Int = 32): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        explode(graft.functions.SketchFns.cmPairs(col("user_id"), depth, width)).as("rb"))
      .select(col("ts"), col("rb.j").as("j"), col("rb.b").as("b"))
      .groupBy(window(col("ts"), windowLength), col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("window_start"), col("j"), col("b"), col("c"))

  /** Quality-filter on ingest: per streamed document, mean unigram-LM
    * surprisal and a keep flag — the streaming twin of the batch
    * `ta_surprisal` scorer, deployed the way a pre-training pipeline
    * actually runs it (score documents as they arrive against a FROZEN
    * reference LM trained offline, drop the tails).
    *
    * The LM ships as plan literals (a map of the top-V terms → counts,
    * like [[centroidAssign]]'s centroid matrix): scoring is one
    * record-local higher-order-function fold — STATELESS, append-mode,
    * no shuffle, no per-microbatch join, and unseen terms fall back to
    * `oovCount` (a frozen vocabulary must price the out-of-vocabulary
    * mass or junk scores as clean). A quality-filter LM is top-V by
    * construction (V is config-sized), so the literal map stays bounded
    * however large the corpus the LM was trained on.
    *
    * The fold is a per-token double sum in document order; the batch op
    * sums decimal-hardened per-distinct-term contributions, so agreement
    * is within floating-point fold tolerance (the parity spec pins 1e-5),
    * not bit-exact — a doc whose avg_nll sits exactly on `maxNll` could
    * flip `keep` between the paths. Set the ceiling away from score mass
    * (the default 12.0 is far above any natural-text corpus). */
  def surprisalScore(docs: DataFrame, lm: Map[String, Long], nTotal: Long,
      maxNll: Double = 12.0, oovCount: Long = 1L): DataFrame = {
    val lmCol = if (lm.isEmpty) map().cast("map<string,bigint>")
      else map(lm.toSeq.flatMap { case (t, c) => Seq(lit(t), lit(c)) }: _*)
    val toks = graft.functions.TextFns.tokens(col("text"))
    val nll = aggregate(
      transform(toks, t =>
        -log(coalesce(element_at(lmCol, t), lit(oovCount)).cast("double") / nTotal)),
      lit(0.0), (acc, x) => acc + x)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_nll",
        when(col("n_tokens") > 0, round(nll / col("n_tokens"), 6)).otherwise(null))
      .withColumn("keep", col("n_tokens") > 0 && col("avg_nll") <= maxNll)
  }

  /** Streaming DSIR gate — the ONLINE half of the importance-resampling
    * pair (batch `ta_dsir` trains the target/raw bucket histograms over
    * the full corpus; this applies the FROZEN per-bucket log-ratio table
    * record-locally to arriving documents, the same trained-offline /
    * applied-online split as [[surprisalScore]]'s LM). Emits per doc the
    * hashed-feature count, logw = Σ_f log(p_target(f)/p_raw(f)), its
    * length-normalized variant, and `keep` = logw_per_feat ≥ threshold —
    * per-feature ≥ 0 means "more target-like than raw-like", the natural
    * acceptance line.
    *
    * Feature hashing goes through the same codegen'd
    * `graft_gram_buckets` kernel as the batch op, so a bucket computed
    * here IS the bucket the ratio table was trained on. A bucket absent
    * from the table (possible online: the stream drifts past the
    * training corpus) contributes 0 — neutral, neither target- nor
    * raw-evidence; the batch op cannot hit this case (it inner-joins
    * buckets observed in training).
    *
    * Scale: the ratio table is ≤ `buckets` rows (B doubles — a literal
    * map, bounded by config however large the training corpus), and
    * scoring is record-local: no state, no shuffle, any throughput. */
  def dsirScore(docs: DataFrame, logRatio: Map[Long, Double],
      minLogwPerFeat: Double = 0.0,
      buckets: Int = graft.operators.TextCorpus.DsirBuckets): DataFrame = {
    val lrCol = if (logRatio.isEmpty) map().cast("map<bigint,double>")
      else map(logRatio.toSeq.flatMap { case (b, r) => Seq(lit(b), lit(r)) }: _*)
    val toks = graft.functions.TextFns.tokens(col("text"))
    val bkts = concat(
      GraftFunctions.call("graft_gram_buckets", toks, lit(1), lit(8), lit(buckets)),
      GraftFunctions.call("graft_gram_buckets", toks, lit(2), lit(8), lit(buckets)))
    val logw = aggregate(
      transform(bkts, b => coalesce(element_at(lrCol, b), lit(0.0))),
      lit(0.0), (acc, x) => acc + x)
    docs
      .withColumn("n_feats", size(bkts).cast("long"))
      .withColumn("logw",
        when(col("n_feats") > 0, round(logw, 6)).otherwise(null))
      .withColumn("logw_per_feat",
        when(col("n_feats") > 0, round(logw / col("n_feats"), 6)).otherwise(null))
      .withColumn("keep",
        col("n_feats") > 0 && col("logw_per_feat") >= minLogwPerFeat)
  }

  /** Streaming quality-classifier gate — the ONLINE half of the
    * trained-classifier pair (round 13: batch `ql_train` fits one
    * logistic weight per hashed n-gram bucket on the class histogram;
    * this applies the FROZEN weight table record-locally to arriving
    * documents — the dsirScore split). Emits per doc the feature count,
    * score = MEAN weight over feature occurrences (length-invariant),
    * prob = σ(score), and `keep` = score ≥ `minScore` (0.0 default —
    * the class-balanced training makes 0 the natural acceptance line).
    *
    * Feature hashing goes through the same codegen'd
    * `graft_gram_buckets` kernel as the batch trainer, so a bucket
    * scored here IS the bucket the weight was trained on. A bucket
    * absent from the table (possible online: the stream drifts past
    * the training corpus) contributes 0 — neutral evidence, the
    * dsirScore convention.
    *
    * Scale: the weight table is ≤ `buckets` doubles (a literal map,
    * bounded by config however large the training corpus); scoring is
    * record-local — no state, no shuffle, any throughput. */
  def qlScore(docs: DataFrame, weights: Map[Long, Double],
      minScore: Double = 0.0,
      buckets: Int = graft.operators.TextCorpus.DsirBuckets): DataFrame = {
    val wCol = if (weights.isEmpty) map().cast("map<bigint,double>")
      else map(weights.toSeq.flatMap { case (b, w) => Seq(lit(b), lit(w)) }: _*)
    val toks = graft.functions.TextFns.tokens(col("text"))
    val bkts = concat(
      GraftFunctions.call("graft_gram_buckets", toks, lit(1), lit(8), lit(buckets)),
      GraftFunctions.call("graft_gram_buckets", toks, lit(2), lit(8), lit(buckets)))
    val wsum = aggregate(
      transform(bkts, b => coalesce(element_at(wCol, b), lit(0.0))),
      lit(0.0), (acc, x) => acc + x)
    docs
      .withColumn("n_feats", size(bkts).cast("long"))
      // Exact.floorRound, NOT Spark round() (r13 advice item 4): the
      // batch twin floor-rounds (floor(x·p + 0.5) — negative halves
      // toward +∞) while round() is HALF_UP (negative halves away from
      // zero), so the two could disagree by 1e-6 on negative knife-edge
      // scores; the online twin must share the batch rounding rule.
      .withColumn("score",
        when(col("n_feats") > 0,
          graft.operators.Exact.floorRound(wsum / col("n_feats"), 6)).otherwise(null))
      .withColumn("prob",
        when(col("n_feats") > 0, graft.operators.Exact.floorRound(
          lit(1.0) / (lit(1.0) + exp(-(wsum / col("n_feats")))), 6)).otherwise(null))
      .withColumn("keep",
        col("n_feats") > 0 && (wsum / col("n_feats")) >= minScore)
  }

  /** Streaming BM25 standing-query scorer (round 14) — the ONLINE half
    * of the [[graft.operators.Retrieval]] pair (the dsirScore split:
    * corpus stats fit offline, scoring applied record-locally online).
    * Production shape: standing queries (benchmark prompts for
    * decontamination review, topic probes for targeted sampling) are
    * registered against FROZEN corpus statistics
    * ([[graft.operators.Retrieval.frozenStats]]: N, avgdl, per-term df);
    * each arriving document emits one row per query it matches (≥ 1
    * query term present) carrying the match count and the BM25 score —
    * a router: downstream sinks subscribe per query id.
    *
    * Exactness contract: per-term scores run the batch scorer's exact
    * arithmetic (idf is precomputed driver-side with the same IEEE op
    * sequence the batch Catalyst expression folds), and the per-(doc,
    * query) sum goes through the same decimal(38,18) route — a streamed
    * score EQUALS the batch `ir_bm25` score bit-for-bit under the same
    * frozen stats (spec-pinned, exact equality, not tolerance). A term
    * absent from the df map scores idf against df = 0 (maximal
    * novelty — the stream may drift past the frozen corpus); a doc
    * matching no query (or with null text) emits nothing.
    *
    * Scale: stats and queries are literals bounded by the query budget,
    * scoring is record-local (tokenize once per record, ≤ |terms| array
    * scans) — no state, no shuffle, any throughput. */
  def bm25Score(docs: DataFrame, queries: Map[Long, Seq[String]],
      df: Map[String, Long], nDocs: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // no standing queries → nothing can match: an empty scored frame
    // with the contract schema (a zero-arg array() literal is
    // void-typed and would fail analysis, so the degenerate registry
    // needs its own branch — e.g. frozenStats over an empty corpus)
    if (queries.isEmpty) {
      return docs
        .withColumn("query_id", lit(null).cast("long"))
        .withColumn("n_terms", lit(null).cast("long"))
        .withColumn("score", lit(null).cast("double"))
        .filter(lit(false))
    }
    val toks = col("_toks")
    val dl = size(toks).cast("long")
    val tfNormDen = (tf: Column) =>
      tf + lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * (dl.cast("double") / lit(avgdl)))
    val zeroD = lit(0).cast("decimal(38,18)")
    val perQuery: Seq[Column] = queries.toSeq.sortBy(_._1).map {
      case (qid, terms) =>
        val parts = terms.distinct.map { t =>
          val dft = df.getOrElse(t, 0L)
          val idf = math.log((nDocs - dft + 0.5) / (dft + 0.5) + 1.0)
          val tf = size(filter(toks, x => x === lit(t)))
          val st = lit(idf) * (tf * (lit(k1) + lit(1.0))) / tfNormDen(tf)
          (when(tf > 0, st.cast("decimal(38,18)")).otherwise(zeroD),
            when(tf > 0, lit(1L)).otherwise(lit(0L)))
        }
        val sdec = parts.map(_._1).reduceOption(_ + _).getOrElse(zeroD)
        val nTerms = parts.map(_._2).reduceOption(_ + _)
          .getOrElse(lit(0L)).cast("long")
        struct(lit(qid).as("query_id"), nTerms.as("n_terms"),
          sdec.as("sdec"))
    }
    val keep = docs.columns.map(col).toSeq
    docs
      .withColumn("_toks", graft.functions.TextFns.tokens(col("text")))
      .withColumn("_m", explode(array(perQuery: _*)))
      .filter(col("_m.n_terms") > 0)
      .select(keep ++ Seq(col("_m.query_id").as("query_id"),
        col("_m.n_terms").as("n_terms"),
        round(col("_m.sdec"), 6).cast("double").as("score")): _*)
  }

  /** Token-keyed registry form of [[bm25Score]] (round 15, r14 verdict
    * item 6) — the LARGE-registry scorer: [[bm25Score]] scans the token
    * array once per registered TERM (|registry terms| scans per record
    * — right at the 16-query audit budget, wrong at a production
    * standing-query set of thousands); this form tokenizes once and
    * probes a literal term → (idf, query ids) INVERTED map, so
    * per-record cost is one distinct+probe pass plus work proportional
    * to the terms that actually MATCH, independent of registry size.
    * CONTRACT: standing-query registries are SELECTIVE (benchmark
    * prompts, topic probes — a record matches few queries); the
    * per-record grouping stage costs Θ(matched queries × matched
    * entries), so a registry of head tokens that every record matches
    * wholesale degrades BOTH forms and this one first — measured in
    * the bench's 1k-registry line, which draws mid-tail vocabulary
    * (the production shape) for exactly that reason.
    *
    * Equality with [[bm25Score]] (StreamingSpec pins row-set equality
    * on the audit registry AND a 1,000-query synthetic registry): idf
    * is the same driver-side IEEE computation baked into the kernel's
    * registry, the kernel's per-term st runs the identical JVM op
    * sequence, and the per-query sums run the same Catalyst
    * decimal(38,18) route on the emitted rows — the kernel only
    * gathers; every exactness-critical step stays in Catalyst. (Term
    * order inside a sum differs — term-sorted vs registration order —
    * which can move a sum by ~1e-17 before the 6-dp round, the same
    * sub-ulp residue the scan form already carries against the batch
    * SUM aggregate.) */
  def bm25ScoreIndexed(docs: DataFrame, queries: Map[Long, Seq[String]],
      df: Map[String, Long], nDocs: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    if (queries.isEmpty) {
      return docs
        .withColumn("query_id", lit(null).cast("long"))
        .withColumn("n_terms", lit(null).cast("long"))
        .withColumn("score", lit(null).cast("double"))
        .filter(lit(false))
    }
    // inverted registry: term -> (idf, ascending query ids), CSR-flat;
    // idf is the scan form's exact driver-side arithmetic
    val inv: Seq[(String, Double, Seq[Long])] = queries.toSeq
      .flatMap { case (qid, terms) => terms.distinct.map(_ -> qid) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, qs) =>
        val dft = df.getOrElse(t, 0L)
        val idf = math.log((nDocs - dft + 0.5) / (dft + 0.5) + 1.0)
        (t, idf, qs.map(_._2).distinct.sorted)
      }
    val qoffs = inv.scanLeft(0)((acc, e) => acc + e._3.length)
    val zeroD = lit(java.math.BigDecimal.ZERO).cast("decimal(38,18)")
    val probe = GraftFunctions.call("graft_bm25_probe",
      graft.functions.TextFns.tokens(col("text")),
      typedLit(inv.map(_._1)), typedLit(inv.map(_._2)),
      typedLit(qoffs), typedLit(inv.flatMap(_._3)),
      lit(k1), lit(b), lit(avgdl))
    val keep = docs.columns.map(col).toSeq
    docs
      .withColumn("_m", explode(probe)) // no matches / null text: no rows
      .select(keep ++ Seq(col("_m.qid").as("query_id"),
        size(col("_m.sts")).cast("long").as("n_terms"),
        // the scan form's decimal route: per-term cast, (38,17)-rounded
        // adds widened back to the fixed accumulator scale, 6-dp round
        round(aggregate(col("_m.sts"), zeroD, (acc, x) =>
          (acc + x.cast("decimal(38,18)")).cast("decimal(38,18)")), 6)
          .cast("double").as("score")): _*)
  }

  /** Streaming verbatim-phrase contamination gate (round 14) — the
    * ONLINE half of the `ir_phrase` pair: registered phrases (tokenized
    * benchmark strings, [[graft.operators.Retrieval.frozenPhrases]])
    * are checked against each arriving document by the same positional
    * adjacency rule the batch search runs (every phrase token at
    * `start + offset`), record-locally over the token array — the
    * ingest enforcement of literal-string decontamination, where
    * `ir_phrase` is the batch audit. Emits `matched_phrases` (the ids
    * of every phrase the doc contains, ascending) and `contaminated`;
    * a gate caller drops or quarantines on `contaminated`, an audit
    * caller keeps the ids. A doc with null/short text matches nothing
    * and passes clean (phrase evidence requires the phrase). Stateless,
    * no shuffle; cost is ≤ |phrases| array scans per record, bounded by
    * the registry budget. StreamingSpec pins streamed verdicts ≡ the
    * batch `ir_phrase` hit set over the same corpus and registry. */
  def phraseGate(docs: DataFrame,
      phrases: Map[Long, Seq[String]]): DataFrame = {
    // empty registry → every doc passes clean (same void-typed-array()
    // hazard as bm25Score's degenerate branch)
    if (phrases.isEmpty) {
      return docs
        .withColumn("matched_phrases", array().cast("array<long>"))
        .withColumn("contaminated", lit(false))
    }
    val toks = col("_toks")
    val perPhrase: Seq[Column] = phrases.toSeq.sortBy(_._1).map {
      case (pid, terms) =>
        val len = terms.length
        val windowHit = (i: Column) =>
          terms.zipWithIndex.map { case (t, off) =>
            element_at(toks, i + off) === lit(t)
          }.reduce(_ && _)
        val hit = when(size(toks) >= len,
          exists(sequence(lit(1), size(toks) - (len - 1)), windowHit))
          .otherwise(lit(false))
        when(hit, lit(pid)).otherwise(lit(null).cast("long"))
    }
    docs
      .withColumn("_toks", graft.functions.TextFns.tokens(col("text")))
      .withColumn("matched_phrases",
        filter(array(perPhrase: _*), x => x.isNotNull))
      .withColumn("contaminated", size(col("matched_phrases")) > 0)
      .drop("_toks")
  }

  /** Token-keyed registry form of [[phraseGate]] (round 15, r14 verdict
    * item 6) — the LARGE-registry gate: [[phraseGate]] runs one
    * positional exists-scan per registered PHRASE; this form walks the
    * token array once and probes a literal FIRST-TOKEN → candidate
    * phrases map, verifying only the (rare) candidate windows by slice
    * equality — per-record cost one pass plus work proportional to
    * first-token matches, independent of registry size. Emits the same
    * `matched_phrases` (ascending, deduplicated — the scan form's
    * one-entry-per-phrase order) and `contaminated` columns;
    * StreamingSpec pins verdict equality against the scan form on the
    * audit registry and a 1,000-phrase synthetic registry. */
  def phraseGateIndexed(docs: DataFrame,
      phrases: Map[Long, Seq[String]]): DataFrame = {
    val nonEmpty = phrases.filter(_._2.nonEmpty)
    if (nonEmpty.isEmpty) {
      return docs
        .withColumn("matched_phrases", array().cast("array<long>"))
        .withColumn("contaminated", lit(false))
    }
    // CSR phrase registry, pid-sorted for deterministic construction
    val ordered = nonEmpty.toSeq.sortBy(_._1)
    val poffs = ordered.scanLeft(0)((acc, p) => acc + p._2.length)
    val hits = GraftFunctions.call("graft_phrase_probe",
      graft.functions.TextFns.tokens(col("text")),
      typedLit(ordered.map(_._1)), typedLit(poffs),
      typedLit(ordered.flatMap(_._2)))
    docs
      .withColumn("matched_phrases",
        coalesce(hits, array().cast("array<long>"))) // null text: clean
      .withColumn("contaminated", size(col("matched_phrases")) > 0)
  }

  /** Streaming IVF cell router (round 13) — the INGEST half of the IVF
    * index pair: the batch build (`ann_ivf_sqrt` / `ann_ivfpq_sqrt`)
    * trains and freezes the coarse codebook; this routes each ARRIVING
    * embedding to its cell under the identical frozen book and rule —
    * the write path of a production vector store (a new vector must land
    * in the shard/cell the index will later probe for it). The codebook
    * comes from [[graft.operators.Similarity.frozenCodebook]]; routing
    * runs the same `graft_ivf_assign` kernel as the batch build, so a
    * routed cell IS a built cell by construction (parity spec-pinned).
    *
    * Emits `cell` and `routed`; an unroutable vector (null embedding,
    * zero-norm, or an empty codebook's -1 sentinel) KEEPS its row with
    * routed = false — ingest quarantines, it never silently drops (the
    * batch build filters instead: an unroutable vector cannot be
    * indexed, but a stream row must reach the DLQ). Zero-norm needs its
    * OWN guard (r13 advice item 1): with nrm = 0 every cosine is
    * 0/0 = NaN and the kernel's NaN-greatest tie rule would "assign"
    * the vector to the lowest probed cid — an all-zero failed-embed
    * sentinel silently indexed into cell 0 instead of reaching the DLQ.
    * The batch build drops the same vectors at load
    * ([[graft.operators.Similarity]]'s nrm > 0 filter), so gate and
    * build agree: a zero-norm vector is never in the index.
    *
    * Scale: the flattened book is (K+√K)·(dim+3) doubles as literals —
    * metadata-sized by the IVF family's broadcast contract, however
    * large the corpus it was trained on; routing is record-local, no
    * state, no shuffle, any throughput. */
  def ivfRoute(vectors: DataFrame, sb: Array[Double], cb: Array[Double],
      probes: Int, vecCol: String = "embedding"): DataFrame = {
    vectors
      .withColumn("_nrm", graft.functions.VecFns.l2norm(col(vecCol)))
      // nrm = 0 → -1 (quarantine); nrm null (null embedding) → null;
      // both read as routed = false below
      .withColumn("cell",
        when(col("_nrm") > 0, GraftFunctions.call("graft_ivf_assign",
          col(vecCol), col("_nrm"), lit(sb), lit(cb), lit(probes)))
        .when(col("_nrm").isNotNull, lit(-1L)))
      .withColumn("routed", coalesce(col("cell") >= 0, lit(false)))
      .drop("_nrm")
  }

  /** Manifest-epoch integrity gate for [[Sinks.TwoPhaseCommitSink]]
    * (round 14, r13 verdict item 6) — the STREAMING twin of the batch
    * `mm_manifest_integrity` census, enforced at publish time: the
    * epoch's manifest entries (doc_id, shard, n_bytes, rec_idx, offset)
    * are audited against the published `docs` table through the SAME
    * [[graft.operators.Multimodal.mmManifestIntegrityFor]] lanes the
    * batch census reports, and ANY dangling entry, length mismatch,
    * offset break or record-index break refuses the commit before the
    * epoch becomes visible — a dataloader can never seek garbage bytes
    * out of a committed shard index. The batch census REPORTS defects
    * in tables already published; this gate makes the defect
    * unpublishable.
    *
    * The census's corpus-level n_unsharded_docs lane is deliberately
    * NOT gated: an epoch shards a SUBSET of the corpus by design, so
    * "docs this epoch didn't index" is the normal case, not a defect.
    *
    * Scale shape: the audit is the census's — keyed joins on doc_id
    * (ids and byte counts move, never payloads), shard-partitioned
    * windows, a |shards|-row verdict collected to the driver. */
  def manifestEpochGate(docs: DataFrame): DataFrame => Option[String] = { epoch =>
    val lanes = graft.operators.Multimodal.mmManifestIntegrityFor(docs, epoch)
      .agg(sum(col("n_dangling")), sum(col("n_len_mismatch")),
        sum(col("n_offset_breaks")), sum(col("n_idx_breaks")))
      .collect()(0)
    val names = Seq("dangling entries", "length mismatches",
      "offset breaks", "record-index breaks")
    val bad = names.zipWithIndex.flatMap { case (n, i) =>
      val v = if (lanes.isNullAt(i)) 0L else lanes.getLong(i)
      if (v > 0) Some(s"$v $n") else None
    }
    if (bad.isEmpty) None else Some(bad.mkString(", "))
  }

  /** Streaming BPE tokenization under a FROZEN merge table — the
    * deployed half of the ta_bpe_train/ta_bpe_apply pair (the dsirScore
    * split: train offline, apply record-locally online). Each arriving
    * doc's words fold through the merges in rank order via the SAME
    * [[graft.operators.TextAnalysis.bpeEncode]] kernel the batch
    * trainer/applier use — a streamed piece is a batch piece by
    * construction. Adds the flattened piece array and its count;
    * stateless (pure projection), so it composes with any watermark or
    * downstream gate. */
  def bpeTokens(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val tk = graft.functions.TextFns.tokens(col("text"))
    docs
      .withColumn("pieces", flatten(transform(tk,
        w => graft.operators.TextAnalysis.bpeEncode(w, merges))))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** Encoding-damage ingest gate — the streaming twin of the batch
    * `ta_script` census (ONE shared `graft_script_census` kernel, so a
    * streamed verdict is a batch verdict by construction): drops
    * documents whose BAD-class codepoint share (U+FFFD replacement
    * chars, C0/C1 controls, noncharacters — markers healthy text never
    * carries in ANY script) exceeds `maxBadShare`. Deliberately NOT the
    * `other` share: `other` holds healthy-but-uncovered scripts (Greek,
    * Hebrew, Thai, …), and a data-destroying filter must never conflate
    * "script we didn't enumerate" with "encoding damage". Empty docs
    * AND null-text docs carry no signal and PASS (a null census takes
    * the `coalesce(n_cp, 0) = 0` branch — an explicit contract, not a
    * coalesce accident) — empty/null-doc policy belongs to the quality
    * rules, not this gate. STATELESS: a record-local filter, no
    * watermark or state store, safe at any throughput; requires a
    * `text` column. */
  def scriptGate(docs: DataFrame, maxBadShare: Double = 0.05): DataFrame = {
    require(maxBadShare >= 0.0 && maxBadShare <= 1.0,
      s"maxBadShare must be in [0, 1] (got $maxBadShare)")
    val cen = GraftFunctions.call("graft_script_census", col("text"))
    // bad = slot 9 of the census (ScriptCensus.SlotNames)
    docs.withColumn("_cen", cen)
      .filter(coalesce(element_at(col("_cen"), 1), lit(0L)) === 0 ||
        element_at(col("_cen"), 9).cast("double") <=
          lit(maxBadShare) * element_at(col("_cen"), 1).cast("double"))
      .drop("_cen")
  }

  case class TypeMoments(n: Long, mean: Double, m2: Double)
  case class AnomalyAlert(event_type: String, event_id: Long, value: Double,
    z: Double, n_seen: Long)

  /** Streaming anomaly alerts — the ONLINE half of the anomaly pair
    * (batch `ev_anomaly` is the offline auditor: robust MAD over the
    * full distribution; this is the deployed monitor: constant memory,
    * per-event decisions). Keyed state per event type holds Welford
    * running moments (n, mean, M2 — the numerically stable one-pass
    * recurrence; a naive Σx² cancels catastrophically once mean² ≫
    * variance). Each arriving event is z-scored against the moments
    * BEFORE it folds in, so an outlier can neither suppress its own
    * alert nor poison the batch it arrived in; alerts fire only after
    * `minN` observations (cold-start suppression) at |z| > zThresh.
    *
    * Scale: state is three numbers per EVENT TYPE — a config-sized key
    * space, so state size is independent of throughput and no
    * timeout/eviction is needed (contrast [[runningUserTotalsWithTtl]]'s
    * corpus-scale user keys). Within a microbatch each type folds in
    * (event_id) order, so replays of the same epoch emit identical
    * alerts — the determinism contract every graft sink assumes. */
  def anomalyAlerts(spark: SparkSession, events: DataFrame,
      minN: Long = 30L, zThresh: Double = 4.0): Dataset[AnomalyAlert] = {
    import spark.implicits._
    keyedFold(events.selectExpr("event_type", "event_id", "value").as[(String, Long, Double)],
        None)(_._1, _._2) {
      (etype: String, prev: Option[TypeMoments], rows: Seq[(String, Long, Double)], _: Long) =>
        var st = prev.getOrElse(TypeMoments(0L, 0.0, 0.0))
        val alerts = Seq.newBuilder[AnomalyAlert]
        rows.foreach { case (_, id, v) =>
          if (st.n >= minN) {
            val sd = math.sqrt(st.m2 / st.n)
            if (sd > 0) {
              val z = (v - st.mean) / sd
              if (math.abs(z) > zThresh) alerts += AnomalyAlert(etype, id, v, z, st.n)
            }
          }
          val n1 = st.n + 1
          val delta = v - st.mean
          val mean1 = st.mean + delta / n1
          st = TypeMoments(n1, mean1, st.m2 + delta * (v - mean1))
        }
        (Some(st), alerts.result())
    }()
  }

  case class BotState(lastUs: Long, m: Long, mean: Double, m2: Double,
    alerted: Boolean)
  case class BotAlert(user_id: Long, n_gaps: Long, mean_gap_s: Double,
    cv_gap: Double)

  /** Online bot/automation alerts — the streaming half of the
    * regularity pair (batch `ev_bot_census` is the offline auditor over
    * the full history; this is the deployed monitor): per-user Welford
    * moments over inter-arrival gaps, alerting the FIRST time a user
    * with ≥ `minGaps` gaps shows coefficient-of-variation below
    * `cvThresh` — metronomic arrival, the automation signature. One
    * alert per user (the `alerted` latch): a monitor pages once, the
    * batch census is where the full ranking lives.
    *
    * Within a microbatch events fold in (µs event time, event_id)
    * order and gaps are integer micros, as in the batch operator, so on
    * in-order delivery the gap sequence — and therefore the alert point
    * — is exactly the batch operator's (spec-pinned on a metronome/bursty
    * fixture and on a sub-millisecond metronome). A cross-batch arrival
    * BEHIND the max-seen event time is not a forward step of the arrival
    * process (its "gap" would be negative); it is skipped by the gap
    * statistics — the same first-delivery-wins realism as
    * [[throttledEvents]] — and the idle deadline runs from the max-seen
    * event time.
    *
    * Scale: state is five numbers per ACTIVE user, evicted by
    * event-time TTL (the [[runningUserTotalsWithTtl]] discipline) —
    * O(active users), not O(users ever seen); the Welford recurrence is
    * the numerically stable one-pass form (a naive Σg² cancels once
    * mean² ≫ variance). */
  def botAlerts(spark: SparkSession, events: DataFrame,
      minGaps: Long = 9L, cvThresh: Double = 0.3,
      watermark: String = "30 minutes", idleMs: Long = 3600000L): Dataset[BotAlert] = {
    import spark.implicits._
    keyedFold(events.selectExpr("user_id", "ts", "event_id").as[(Long, java.sql.Timestamp, Long)],
        Some(watermark))(_._1, r => (us(r._2), r._3)) {
      (user: Long, prev: Option[BotState], rows: Seq[(Long, java.sql.Timestamp, Long)], _: Long) =>
        var st = prev.getOrElse(BotState(Long.MinValue, 0L, 0.0, 0.0, alerted = false))
        val alerts = Seq.newBuilder[BotAlert]
        rows.foreach { case (_, ts, _) =>
          val t = us(ts)
          if (st.lastUs == Long.MinValue) st = st.copy(lastUs = t)
          else if (t >= st.lastUs) {
            val g = (t - st.lastUs).toDouble
            val m1 = st.m + 1
            val d = g - st.mean
            val mean1 = st.mean + d / m1
            st = BotState(t, m1, mean1, st.m2 + d * (g - mean1), st.alerted)
            if (!st.alerted && st.m >= minGaps && st.mean > 0) {
              val cv = math.sqrt(st.m2 / st.m) / st.mean
              if (cv < cvThresh) {
                alerts += BotAlert(user, st.m,
                  math.floor(st.mean / 1e6 * 1e6 + 0.5) / 1e6,
                  math.floor(cv * 1e6 + 0.5) / 1e6)
                st = st.copy(alerted = true)
              }
            }
          } // else: behind max-seen event time — no forward step
        }
        (Some(st), alerts.result())
    }((_, st) => Math.floorDiv(st.lastUs, 1000L) + idleMs)
  }

  /** The Bloom history-filter toolkit: every decision the four filter
    * kinds share, made once. Each kind names its LONG key column once
    * and its build and probe both read it — content `xxhash64(md5(normText))`,
    * band `xxhash64` of each LSH band key, line `xxhash64` of each line
    * segment, gram each `graft_gram_buckets` window hash — so every
    * filter is one serialized format that save/load, merge and saturation
    * all take. (The DataFrame-stat builder hashes with another scheme;
    * its filters would silently never match this probe.) */
  private[graft] object Bloom {
    case class Sizing(items: Long, bits: Long)

    /** The one sizing rule: `items` documents of `keysPerItem` keys over
      * `shards` filters at per-document fpp put n = ⌈items·keysPerItem /
      * shards⌉ keys in each, at p = fpp / keysPerItem: m = −n ln p / (ln 2)². */
    def sizing(items: Long, fpp: Double, keysPerItem: Int = 1, shards: Int = 1): Sizing = {
      require(shards >= 1, s"shards must be positive (got $shards)")
      require(items > 0, s"expected item count must be positive (got $items)")
      require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1) (got $fpp)")
      val n = math.max(1L, math.ceil(items.toDouble * keysPerItem / shards).toLong)
      Sizing(n, math.ceil(-n * math.log(fpp / keysPerItem) / (math.log(2) * math.log(2))).toLong)
    }

    /** The build aggregate: partial filters OR-merge map-side, one pass. */
    def agg(h: Column, s: Sizing): Column =
      GraftFunctions.call("graft_bloom_agg", h, lit(s.items), lit(s.bits))

    /** One filter over `key` of every row of `rows`. Spark's aggregate
      * answers null when no key was inserted; that is the empty filter of
      * the same sizing here, which every probe answers false and which
      * merges with any filter of that sizing. */
    def build(rows: DataFrame, key: Column, s: Sizing): Array[Byte] =
      Option(rows.select(key.as("h")).agg(agg(col("h"), s)).head().getAs[Array[Byte]](0))
        .getOrElse(empty(rows.sparkSession, s))

    /** The aggregate's own empty buffer: its item and bit caps are the
      * session's runtime Bloom filter limits. */
    private def empty(spark: SparkSession, s: Sizing): Array[Byte] = {
      import org.apache.spark.sql.internal.SQLConf
      def cap(key: String) = spark.conf.get(key).toLong
      val f = org.apache.spark.util.sketch.BloomFilter.create(
        math.min(s.items, cap(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS.key)),
        math.min(s.bits, cap(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS.key)))
      val out = new java.io.ByteArrayOutputStream()
      f.writeTo(out)
      out.toByteArray
    }

    /** The stateless codegen'd probe of a literal filter for key `h`. */
    def mightContain(filter: Array[Byte], h: Column): Column =
      GraftFunctions.call("graft_bloom_contains", lit(filter), h)

    /** The one shard count the sharded filter frames carry. */
    def numShards(filters: DataFrame*): Int = {
      val ns = filters.flatMap(_.select(col("num_shards")).distinct().collect().map(_.getInt(0))).distinct
      require(ns.length == 1, s"sharded filters must carry one num_shards value; got ${ns.mkString(",")}")
      ns.head
    }

    def read(filter: Array[Byte]): org.apache.spark.util.sketch.BloomFilter =
      org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(filter))
  }

  private def contentKey: Column =
    xxhash64(md5(graft.functions.TextFns.normText(col("text")).cast("binary")))

  /** Historical-corpus dedup gate — the 100 TB form of "drop anything
    * we already ingested": exact membership state for billions of seen
    * content hashes is TBs, but a Bloom filter at fpp=1% is ~1.2 bytes
    * per item, so the whole history rides in one broadcast value. The
    * filter BUILD is a distributed aggregate over the content key; the
    * gate probes it as a stateless codegen'd predicate — no join, no
    * keyed state, works identically on batch frames and streams.
    *
    * The asymmetry is the point: Bloom membership has ZERO false
    * negatives, so a true duplicate is ALWAYS dropped; at most `fpp` of
    * FRESH documents are falsely dropped (spec pins both sides). That
    * trade — lose ε of new data, never re-ingest old — is the right
    * polarity for training corpora, where duplicates hurt and marginal
    * fresh documents are fungible. For in-stream (not vs-history) dedup
    * use [[contentDedup]]'s watermarked exact state instead; the two
    * compose (bloom vs history, exact within the watermark). */
  def bloomDedup(docs: DataFrame, historical: DataFrame,
      expectedItems: Long, fpp: Double = 0.01): DataFrame =
    bloomGate(docs, buildBloom(historical, expectedItems, fpp))

  /** Build the serialized history filter distributed — the expensive
    * half of [[bloomDedup]], factored out so the production loop builds
    * ONCE, [[saveBloom]]s, and every later run [[loadBloom]]s +
    * [[bloomGate]]s (or [[extendBloom]]s) without touching the history
    * corpus again. */
  def buildBloom(historical: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] =
    Bloom.build(historical, contentKey, Bloom.sizing(expectedItems, fpp))

  /** Apply a built/loaded filter as the stateless ingest predicate. */
  def bloomGate(docs: DataFrame, filter: Array[Byte]): DataFrame =
    docs.filter(!Bloom.mightContain(filter, contentKey))

  /** Persist / restore the serialized filter of any kind through the
    * Hadoop FileSystem (file://, hdfs://, s3a:// alike — java.io would
    * silently miss URI paths). The save is [[Sinks.replace]]'s swap: it
    * never deletes the only complete copy, so a crashed save loads the
    * previous filter, never a truncated one. */
  def saveBloom(spark: SparkSession, filter: Array[Byte], path: String): Unit =
    Sinks.replace(spark, path, "") { (fs, tmp) =>
      val out = fs.create(tmp, true)
      try out.write(filter) finally out.close()
    }

  def loadBloom(spark: SparkSession, path: String): Array[Byte] = {
    Sinks.restore(spark, path, "")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Sharded history filters — the scale path past [[bloomDedup]]'s
    * single broadcast value. One filter at fpp=1% is ~1.2 bytes/item, so
    * at ≳10B historical items the monolithic filter is ≳12 GB: too big
    * for a plan literal, a broadcast, or one executor's probe-side heap.
    * Sharding by `pmod(contentKey, S)` splits the history into S
    * independent filters, each sized for n/S items, built in ONE
    * distributed pass (groupBy-shard aggregate — partial filters still
    * OR-merge map-side within each shard).
    *
    * Returns a frame `(shard INT, filter BINARY, num_shards INT)` — S
    * rows. The gate never needs them all in one place: see
    * [[bloomGateSharded]]. Per-shard fpp equals the configured fpp, and
    * each document probes exactly one shard, so the gate-wide
    * false-positive rate is unchanged.
    *
    * Shard count rule: pick S so one shard's filter stays comfortably
    * inside a task (≤ ~256 MB, i.e. S ≈ n · 1.2B / 256MB); over-sharding
    * only costs S small aggregate rows. Spark caps a single filter's
    * bits via `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` —
    * raise it alongside, or add shards instead. */
  def buildBloomSharded(historical: DataFrame, expectedItems: Long,
      fpp: Double = 0.01, shards: Int = 64): DataFrame = {
    val s = Bloom.sizing(expectedItems, fpp, shards = shards)
    historical
      .select(contentKey.as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)).cast("int"))
      .groupBy("shard")
      .agg(Bloom.agg(col("h"), s).as("filter"))
      .withColumn("num_shards", lit(shards))
  }

  /** Probe the sharded history: keep documents whose content key is in
    * no shard filter. Each document joins to exactly its shard's filter
    * row; above the broadcast threshold that is a shuffle join keyed by
    * shard, so a task holds AT MOST the filters of the shards it
    * processes (one-entry per-thread deserialization cache in
    * [[graft.functions.ShardedBloomProbe]]) — per-task memory is bounded
    * by one shard regardless of total history size. The price vs the
    * broadcast gate is one shuffle of the ingest batch; the history
    * itself never reshuffles.
    *
    * An absent shard row (no historical docs hashed there) gates nothing:
    * the probe is total and answers false on the join miss.
    *
    * `filters` should be persisted or [[loadBloomSharded]]-loaded — the
    * gate reads `num_shards` from it up front, and an unpersisted
    * build-side frame would recompute the whole build for that lookup. */
  def bloomGateSharded(docs: DataFrame, filters: DataFrame): DataFrame = {
    val shards = Bloom.numShards(filters)
    val hCol = "__graft_bloom_h"
    val sCol = "__graft_bloom_shard"
    val fCol = "__graft_bloom_filter"
    docs
      .withColumn(hCol, contentKey)
      .withColumn(sCol, pmod(col(hCol), lit(shards.toLong)).cast("int"))
      .join(filters.select(col("shard").as(sCol), col("filter").as(fCol)),
        Seq(sCol), "left")
      .filter(!GraftFunctions.call("graft_bloom_probe", col(sCol), col(fCol), col(hCol)))
      .drop(sCol, hCol, fCol)
  }

  /** Persist / restore the sharded filters as parquet — S rows, each
    * shard's bytes a separate value, so save/load never serializes the
    * whole history through one buffer. Same crash-safe swap as
    * [[saveBloom]]. */
  def saveBloomSharded(filters: DataFrame, path: String): Unit =
    Sinks.replace(filters.sparkSession, path, "")((_, tmp) => filters.write.parquet(tmp.toString))

  def loadBloomSharded(spark: SparkSession, path: String): DataFrame = {
    Sinks.restore(spark, path, "")
    spark.read.parquet(path)
  }

  /** OR-merge two serialized filters of the same kind. Bloom union is
    * exact: the merged filter answers "might contain" for precisely the
    * union of inserted keys, still with zero false negatives. Requires
    * identical sizing (same numBits / hash count — i.e. both built with
    * the same expectedItems and fpp arguments); anything else fails
    * loudly here rather than producing a silently wrong filter. */
  def mergeBloom(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = Bloom.read(a)
    val fb = Bloom.read(b)
    require(fa.isCompatible(fb),
      "cannot merge incompatible Bloom filters (different sizing params)")
    fa.mergeInPlace(fb)
    val bos = new java.io.ByteArrayOutputStream()
    fa.writeTo(bos)
    bos.toByteArray
  }

  /** Incremental history update — the production loop's steady state:
    * build a filter over ONLY the new batch (same sizing params as the
    * saved history, so the bitsets align), OR it into the loaded filter,
    * save back. The history corpus itself is never rescanned; each
    * run's cost is one pass over the increment. The other kinds extend
    * the same way, by [[saveBloom]] of [[mergeBloom]] over [[loadBloom]]
    * and the kind's builder.
    *
    * `expectedItems`/`fpp` MUST be the original build's values — they
    * size the bitset, and the merge requires identical sizing. The fp
    * rate is honest only while TOTAL insertions stay ≲ expectedItems;
    * size the original build for the history's growth horizon and
    * rebuild from the full corpus when it's outgrown (the builder can't
    * resize in place — a Bloom bitset has no "rehash"). */
  def extendBloom(spark: SparkSession, path: String, newDocs: DataFrame,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val merged = mergeBloom(loadBloom(spark, path),
      buildBloom(newDocs, expectedItems, fpp))
    saveBloom(spark, merged, path)
    merged
  }

  /** [[extendBloom]] for the sharded history: full-outer join the saved
    * and increment filter frames on shard and OR-merge pairwise. The
    * merge work is S rows of per-shard byte-level OR — metadata scale,
    * never row scale — so a lambda over the joined pair is the right
    * tool here (the row-path probe stays the codegen'd expression).
    * Shards present on only one side pass through unchanged. */
  def mergeBloomSharded(saved: DataFrame, increment: DataFrame): DataFrame = {
    val shards = Bloom.numShards(saved, increment)
    val a = saved.select(col("shard"), col("filter").as("fa"))
    val b = increment.select(col("shard"), col("filter").as("fb"))
    val mergeUdf = udf((fa: Array[Byte], fb: Array[Byte]) =>
      if (fa == null) fb else if (fb == null) fa else mergeBloom(fa, fb))
    a.join(b, Seq("shard"), "full_outer")
      .select(col("shard"), mergeUdf(col("fa"), col("fb")).as("filter"),
        lit(shards).as("num_shards"))
  }

  /** Saturation report for a saved filter. A Bloom bitset cannot rehash,
    * so [[extendBloom]]'s fp guarantee quietly erodes as insertions pass
    * the sizing horizon — this makes the erosion measurable so the loop
    * can trigger a full rebuild automatically instead of by operator
    * judgment. `estimatedItems` inverts the observed bit density
    * (n̂ = −(m/k)·ln(1 − X/m) — Spark's `cardinality()`);
    * `projectedFpp` = (1 − e^{−k·n̂/m})^k is the fp rate the gate is
    * ACTUALLY running at, vs the `targetFpp` it was sized for. */
  case class BloomSaturation(estimatedItems: Long, sizedForItems: Long,
      fillRatio: Double, projectedFpp: Double, targetFpp: Double,
      rebuildRecommended: Boolean)

  /** `sizedForItems`/`fpp` are the ORIGINAL build's sizing arguments
    * (the same values [[extendBloom]] already requires; a band filter
    * holds expectedDocs × NumBands keys). The hash count k is read from
    * the serialized header, not recomputed, so a filter sized under
    * different arguments is still reported honestly. */
  def bloomSaturation(filter: Array[Byte], sizedForItems: Long,
      fpp: Double = 0.01): BloomSaturation = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(filter))
    // header: version, numHashFunctions[, V2 seed], bitset — k is the
    // second int in both shipped versions (verified against Spark 4.1's
    // BloomFilterImpl/BloomFilterImplV2.writeTo)
    val version = in.readInt()
    require(version == 1 || version == 2,
      s"unknown Bloom serialization version $version")
    val k = in.readInt()
    val f = Bloom.read(filter)
    val m = f.bitSize().toDouble
    // cardinality() is the SET-BIT count X, not an item estimate; the
    // load factor X/m is the whole story: a probe false-positives iff
    // all k probed bits are set, so projectedFpp = (X/m)^k exactly, and
    // n̂ inverts the expected density, −(m/k)·ln(1 − X/m).
    val load = f.cardinality() / m
    val nHat =
      if (load >= 1.0) Long.MaxValue // fully saturated: every probe passes
      else math.round(-(m / k) * math.log1p(-load))
    val projected = math.pow(load, k.toDouble)
    BloomSaturation(nHat, sizedForItems, nHat.toDouble / sizedForItems,
      projected, fpp, rebuildRecommended = projected > fpp)
  }

  /** Per-shard saturation over a sharded history frame — S metadata
    * rows, same lambda rationale as [[mergeBloomSharded]]. Each shard
    * was sized by [[buildBloomSharded]]'s rule, and content-hash
    * sharding keeps fills near-uniform, so one hot shard flagging
    * `rebuild_recommended` means the horizon is genuinely outgrown, not
    * skewed. */
  def bloomSaturationSharded(filters: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val perShard = Bloom.sizing(expectedItems, fpp, shards = Bloom.numShards(filters)).items
    val satUdf = udf((f: Array[Byte]) => bloomSaturation(f, perShard, fpp))
    filters.select(col("shard"), satUdf(col("filter")).as("s"))
      .select(col("shard"), col("s.estimatedItems").as("estimated_items"),
        col("s.fillRatio").as("fill_ratio"),
        col("s.projectedFpp").as("projected_fpp"),
        col("s.rebuildRecommended").as("rebuild_recommended"))
  }

  // ---- Near-duplicate ingest gate -----------------------------------

  /** Near-dup twin of [[bloomDedup]]'s exact gate: drop incoming docs
    * that are LSH candidate near-duplicates of the history, not just
    * byte-identical to it. The filter holds the history's LSH band keys
    * (`operators.Dedup.bandKeysOf` — the SAME definition the batch
    * candidate-pair operators use, so ingest gating and batch audits
    * agree on what "near-dup" means); the gate computes an incoming
    * doc's 4 band keys record-locally and drops it if ANY key might be
    * present. No join, no keyed state, no shuffle — 4 stateless
    * codegen'd probes per row, batch ≡ stream.
    *
    * Polarity mirrors [[bloomDedup]]: zero false negatives (a doc
    * sharing a band with history is ALWAYS dropped — LSH candidacy is
    * the same recall contract dd_lsh_pairs runs on), while Bloom fp can
    * drop extra fresh docs — the filter is sized for fpp/NumBands per
    * probe, so the per-DOC false-drop rate stays ≤ ~fpp. Docs under 3
    * tokens have no shingles and pass ungated (they are below the
    * resolution of 3-gram MinHash; route them through [[bloomGate]]).
 */
  def buildNearDupBloom(historical: DataFrame, expectedDocs: Long,
      fpp: Double = 0.01): Array[Byte] =
    Bloom.build(withSig(historical).filter(sigPresent), explode(array(bandKeys: _*)),
      Bloom.sizing(expectedDocs, fpp, keysPerItem = graft.operators.Dedup.NumBands))

  /** Gate a batch frame or a stream through a built/loaded band filter. */
  def nearDupGate(docs: DataFrame, filter: Array[Byte]): DataFrame =
    withSig(docs)
      .filter(!sigPresent || !bandKeys.map(Bloom.mightContain(filter, _)).reduce(_ || _))
      .drop(SigCol)

  /** [[bloomDedup]]'s shape for the near-dup gate (build + gate in one
    * call — production loops should persist the build instead). */
  def nearDupDedup(docs: DataFrame, historical: DataFrame,
      expectedDocs: Long, fpp: Double = 0.01): DataFrame =
    nearDupGate(docs, buildNearDupBloom(historical, expectedDocs, fpp))

  /** The SAME segmentation the batch `dd_line_dup` census counts, so gate
    * and census can never disagree on what a "line" is. */
  private def lineSegs: Column =
    graft.functions.TextFns.lineSegments(col("text"), graft.operators.Dedup.LineDupWidth)

  /** Build the LINE-hash history filter — the boilerplate-gate twin of
    * [[buildBloom]] at line granularity, over every line segment of the
    * history corpus. `expectedLines` sizes the filter in SEGMENTS, not
    * documents (a 10-line page inserts 10 keys); under-sizing degrades
    * fpp, never correctness (no false negatives: a truly duplicated line
    * always probes true). */
  def buildLineBloom(historical: DataFrame, expectedLines: Long,
      fpp: Double = 0.01): Array[Byte] =
    Bloom.build(historical, explode(transform(lineSegs, xxhash64(_))),
      Bloom.sizing(expectedLines, fpp))

  /** Boilerplate ingest gate — the streaming twin of the batch
    * `dd_line_dup` census (C4/CCNet family): drops documents whose line
    * segments are mostly ALREADY KNOWN to the history filter — the
    * navigation/footer/cookie-banner pages a scrape re-serves millions
    * of times. Drop rule matches the census removal flag: duplicated
    * share ≥ `maxDupShare` (probed share here — Bloom false positives
    * can only round the measured share UP by ~fpp, never manufacture a
    * false negative). Docs with NO segments (empty, whitespace-only or
    * null text) carry no signal and PASS — empty-doc policy belongs to
    * the quality rules, not this gate. STATELESS: record-local filter,
    * no watermark, no state store. The segment array is evaluated a
    * bounded 2× per row (count + hit-count references; a constant
    * factor, unlike the per-chunk tokenizer re-evaluation the
    * fold-based segmentation exists to avoid). */
  def lineDupGate(docs: DataFrame, filter: Array[Byte],
      maxDupShare: Double = 0.3): DataFrame = {
    require(maxDupShare >= 0.0 && maxDupShare <= 1.0,
      s"maxDupShare must be in [0, 1] (got $maxDupShare)")
    val segs = lineSegs
    val nseg = size(segs) // -1 for null text
    // functions.filter qualified: the `filter` param (the bytes) shadows it
    val ndup = size(org.apache.spark.sql.functions.filter(segs, s =>
      Bloom.mightContain(filter, xxhash64(s))))
    // Boundary-exact drop rule for ANY practical share value (ADVICE
    // r11): the census removal flag compares in exact INTEGER
    // cross-multiplication (10·dup ≥ 3·n), and the float product
    // `maxDupShare * nseg` only happens to agree at every integer
    // boundary for the default 0.3. Take the share's shortest-decimal
    // rational num/denom (0.3 → 3/10 EXACTLY — BigDecimal(Double) via
    // valueOf round-trips the decimal literal, never the binary
    // expansion) and keep iff ndup·denom < num·nseg. The scale clamps
    // at 18: a share with more than 18 decimal digits rounds to the
    // nearest 1e-18 (half-up) rather than overflowing decimal(38,0) —
    // a sub-1e-18 distinction in a drop threshold has no observable
    // boundary below ~1e18 segments per doc. Decimal columns: denom
    // reaches 1e18, past long range once multiplied by a segment count.
    val share = BigDecimal(java.math.BigDecimal.valueOf(maxDupShare))
    val denom = BigDecimal(10).pow(math.min(math.max(share.scale, 0), 18))
    val num = (share * denom).setScale(0, BigDecimal.RoundingMode.HALF_UP)
    val numLit = lit(num.underlying()).cast("decimal(38,0)")
    val denomLit = lit(denom.underlying()).cast("decimal(38,0)")
    docs.filter(nseg <= 0 ||
      ndup.cast("decimal(18,0)") * denomLit < numLit * nseg.cast("decimal(18,0)"))
  }

  /** Boilerplate line TRIM at ingest — the streaming twin of the batch
    * `dd_line_trim` operator, completing the line family's stream side
    * ([[lineDupGate]] drops whole documents; this REMOVES the known
    * lines and keeps the remainder, the C4 behavior): `text` is
    * replaced by the kept segments (original order, newline-joined) and
    * per-doc accounting columns (`n_lines`, `kept_lines`,
    * `removed_lines`) are appended — the ledger a downstream budget
    * reads. A segment is removed iff the history filter CONTAINS it;
    * Bloom false positives can only remove ~fpp extra lines (size the
    * filter accordingly), never resurrect boilerplate. Docs with NO
    * segments (null/empty/whitespace text) pass through UNCHANGED with
    * zero accounting — a trim transform never drops rows; pair with
    * [[lineDupGate]] when whole-doc policy is wanted. STATELESS,
    * record-local; the same SHARED `TextFns.lineSegments` segmentation
    * as the whole family, so a streamed trim is a batch trim by
    * construction (StreamingSpec pins cleaned-text equality against
    * `dd_line_trim` on a corpus whose duplicated lines are the
    * history). The segment/kept arrays are each referenced a bounded
    * 2× per row (the lineDupGate constant-factor contract). */
  def lineTrim(docs: DataFrame, filter: Array[Byte]): DataFrame = {
    val segs = lineSegs
    val kept = org.apache.spark.sql.functions.filter(segs, s =>
      !Bloom.mightContain(filter, xxhash64(s)))
    val nseg = coalesce(size(segs), lit(-1)) // -1 for null text
    docs
      .withColumn("n_lines", greatest(nseg, lit(0)).cast("long"))
      .withColumn("kept_lines",
        when(nseg <= 0, 0L).otherwise(size(kept)).cast("long"))
      .withColumn("removed_lines", col("n_lines") - col("kept_lines"))
      .withColumn("text",
        when(nseg <= 0, col("text")).otherwise(array_join(kept, "\n")))
  }

  /** The SAME 8-gram window hash the batch `dd_span_trim` census counts. */
  private def grams(tokens: Column): Column =
    GraftFunctions.call("graft_gram_buckets", tokens, lit(8), lit(8), lit(0))

  /** [[buildBloom]] at SPAN granularity (round 15): the filter holds
    * every 8-gram window of the history corpus. `expectedGrams` sizes
    * the filter in WINDOWS (a doc of n tokens inserts n−7 keys);
    * under-sizing degrades fpp, never correctness. */
  def buildSpanBloom(historical: DataFrame, expectedGrams: Long,
      fpp: Double = 0.01): Array[Byte] =
    Bloom.build(historical, explode(grams(graft.functions.TextFns.tokens(col("text")))),
      Bloom.sizing(expectedGrams, fpp))

  /** Verbatim duplicated-span TRIM at ingest (round 15) — the streaming
    * twin of the batch `dd_span_trim` operator, completing the span
    * family's stream side the way [[lineTrim]] completes the line
    * family's: windows whose 8-gram hash the history filter CONTAINS
    * are flagged, consecutive flagged windows merge into runs, and runs
    * of `Dedup.SpanTrimTokens`+ tokens are excised record-locally by
    * the fused [[graft.functions.SpanTrim]] kernel (the span fold
    * consumes the flags array once — the HOF composition would re-derive
    * it per token, the minhash alias-inlining hazard). `text` is
    * replaced by the kept tokens (original order, space-joined — the
    * batch operator's token-normalized output) and the per-doc token
    * ledger (`n_tokens`, `kept_tokens`, `removed_tokens`) is appended.
    * Bloom false positives can only flag ~fpp extra WINDOWS, and a
    * false window still needs a ≥[[graft.operators.Dedup.SpanTrimTokens]]-token
    * run around it to cut anything — never a resurrection. Docs with NO
    * tokens (null/empty/whitespace text) pass through UNCHANGED with
    * zero accounting — a trim transform never drops rows. STATELESS,
    * record-local; each column expression is referenced a bounded
    * constant number of times per row (the lineDupGate contract).
    * StreamingSpec pins cleaned-text equality against `dd_span_trim`
    * on a corpus whose duplicated grams are all in the history. */
  def spanTrim(docs: DataFrame, filter: Array[Byte]): DataFrame = {
    val tk = graft.functions.TextFns.tokens(col("text"))
    val flags = transform(grams(tk), h => Bloom.mightContain(filter, h))
    val kept = GraftFunctions.call("graft_span_trim", tk, flags,
      lit(8), lit(graft.operators.Dedup.SpanTrimTokens))
    val ntk = coalesce(size(tk), lit(-1)) // -1 for null text
    docs
      .withColumn("n_tokens", greatest(ntk, lit(0)).cast("long"))
      .withColumn("kept_tokens",
        when(ntk <= 0, 0L).otherwise(size(kept)).cast("long"))
      .withColumn("removed_tokens", col("n_tokens") - col("kept_tokens"))
      .withColumn("text",
        when(ntk <= 0, col("text")).otherwise(concat_ws(" ", kept)))
  }

  private val SigCol = "__graft_nd_sig"

  /** Stage the minhash signature as a materialized column via the FUSED
    * `graft_minhash_tokens` expression (tokens → shingles → signature in
    * one linear native eval). See [[graft.functions.MinHashTokens]] for
    * why the column-composed form is an optimizer trap (alias inlining
    * into the shingle lambda re-evaluates the tokenizer per element —
    * measured 8× wall on this gate) and why the expression is flagged
    * nondeterministic so the gate's 5 references (presence check + 4
    * band probes) read one materialized attribute. Sub-3-token docs have
    * no shingles, so every signature slot is null — [[sigPresent]] is
    * the presence test. */
  private def withSig(docs: DataFrame): DataFrame =
    docs.withColumn(SigCol, GraftFunctions.call("graft_minhash_tokens",
      graft.functions.TextFns.tokens(col("text"))))

  /** A doc has a signature iff it has ≥1 shingle (first slot non-null). */
  private def sigPresent: Column =
    element_at(col(SigCol), 1).isNotNull

  private def bandKeys: Seq[Column] =
    graft.operators.Dedup.bandKeysOf(col(SigCol)).map(xxhash64(_))

  case class PathTail(t1: Option[String], t2: Option[String], lastSeenMs: Long)
  case class PathHit(user_id: Long, path: String)

  /** Online 3-step path emitter — the streaming twin of the batch
    * `ev_top_paths` miner: per-user keyed state carries the last TWO
    * event types, and every arrival with a full tail emits its
    * `a>b>c` triple immediately (append mode). Downstream, a windowed or
    * running `groupBy(path).count()` gives live path rankings where the
    * batch operator is the offline census.
    *
    * Semantics contract (same as [[funnelConversions]]): events fold in
    * (event-time, event_id) order WITHIN each microbatch and the tail
    * only rolls forward, so on a per-user in-order stream the emitted
    * triples match the batch window exactly (spec-pinned); cross-batch
    * out-of-order arrivals splice in delivery order.
    *
    * Scale: state is two short strings per active user — the same O(users)
    * class as the funnel tracker. With the default `watermark = None` it
    * is the exact operator: every delivered event is folded and state
    * never expires. With a watermark, a user idle past `idleMs` of EVENT
    * time loses their two-event tail (the [[runningUserTotalsWithTtl]]
    * discipline), so their next triple restarts from scratch. That is a
    * SEMANTIC choice, not just an optimization — a path step spanning a
    * month of inactivity is session noise, exactly what gap-based
    * sessionization already drops — which is why eviction is opt-in
    * rather than the default (the batch-parity spec counts gap-spanning
    * triples). Late in-watermark arrivals extend the deadline
    * monotonically. */
  def pathTriples(spark: SparkSession, events: DataFrame,
      watermark: Option[String] = None,
      idleMs: Long = 30L * 86400000L): Dataset[PathHit] = {
    import spark.implicits._
    keyedFold(events.selectExpr("user_id", "ts", "event_type", "event_id")
        .as[(Long, java.sql.Timestamp, String, Long)], watermark)(_._1, r => (us(r._2), r._4)) {
      (user: Long, prev: Option[PathTail], rows: Seq[(Long, java.sql.Timestamp, String, Long)],
          _: Long) =>
        var st = prev.getOrElse(PathTail(None, None, Long.MinValue))
        val out = Seq.newBuilder[PathHit]
        rows.foreach { case (_, ts, typ, _) =>
          (st.t1, st.t2) match {
            case (Some(a), Some(b)) => out += PathHit(user, s"$a>$b>$typ")
            case _ => ()
          }
          st = PathTail(st.t2, Some(typ), math.max(st.lastSeenMs, ts.getTime))
        }
        (Some(st), out.result())
    }((_, st) => st.lastSeenMs + idleMs)
  }

  case class FunnelProgress(view: Option[Long], click: Option[Long], done: Boolean)
  case class FunnelConversion(user_id: Long, t_view: java.sql.Timestamp,
    t_click: java.sql.Timestamp, t_purchase: java.sql.Timestamp, total_s: Double)

  /** Online funnel tracker — the streaming twin of the batch `ev_funnel`
    * chain (first view → first click ≥ view → first purchase ≥ click):
    * per-user keyed state advances through the stages as events arrive
    * and emits ONE conversion record the moment the purchase stage
    * qualifies (append mode — the live "conversion happened" signal,
    * where the batch op is the offline census).
    *
    * Semantics contract: events fold in (event-time, event_id) order
    * WITHIN each microbatch, and stage state only advances — so on a
    * per-user in-order stream the emitted conversions match the batch
    * operator exactly (spec-pinned); a cross-batch out-of-order arrival
    * (a view delivered after a later click) follows first-delivery-wins,
    * the standard online-funnel approximation. The `done` flag makes the
    * emission idempotent under replays of later batches.
    *
    * Scale: state is two optional longs + a flag per user seen — for
    * corpus-scale user spaces bound it with an event-time TTL exactly as
    * [[runningUserTotalsWithTtl]] does for totals (converted users
    * already shrink to the done flag; an idle-horizon timeout would
    * evict them and incomplete stragglers entirely). */
  def funnelConversions(spark: SparkSession, events: DataFrame): Dataset[FunnelConversion] = {
    import spark.implicits._
    keyedFold(events.selectExpr("user_id", "ts", "event_type", "event_id")
        .as[(Long, java.sql.Timestamp, String, Long)], None)(_._1, r => (us(r._2), r._4)) {
      (user: Long, prev: Option[FunnelProgress], rows: Seq[(Long, java.sql.Timestamp, String, Long)],
          _: Long) =>
        var st = prev.getOrElse(FunnelProgress(None, None, done = false))
        val out = Seq.newBuilder[FunnelConversion]
        rows.foreach { case (_, t, typ, _) =>
          val u = us(t)
          if (!st.done) typ match {
            case "view" if st.view.isEmpty =>
              st = st.copy(view = Some(u))
            case "click" if st.view.exists(_ <= u) && st.click.isEmpty =>
              st = st.copy(click = Some(u))
            case "purchase" if st.click.exists(_ <= u) =>
              out += FunnelConversion(user, fromUs(st.view.get), fromUs(st.click.get),
                fromUs(u), (u - st.view.get) / 1e6)
              st = st.copy(done = true)
            case _ => ()
          }
        }
        (Some(st), out.result())
    }()
  }

  /** [[runningUserTotals]] with bounded state: a user idle past
    * `idleMs` of EVENT time (watermark-driven, deterministic under
    * replay — processing-time TTLs are not) emits a final total and
    * leaves the store. At 100 TB the state then tracks ACTIVE users in
    * the idle horizon, not every user ever seen; a returning user simply
    * restarts from zero (downstream sums partials, the same contract as
    * the reference's periodic sinker flushes). */
  def runningUserTotalsWithTtl(spark: SparkSession, events: DataFrame,
      watermark: String = "30 minutes", idleMs: Long = 3600000L): Dataset[UserTotal] = {
    import spark.implicits._
    keyedFold(events.selectExpr("user_id", "ts", "value", "event_id")
        .as[(Long, java.sql.Timestamp, Double, Long)], Some(watermark))(
        _._1, r => (us(r._2), r._4)) {
      (user: Long, prev: Option[UserTotalTtlState],
          rows: Seq[(Long, java.sql.Timestamp, Double, Long)], _: Long) =>
        val p = prev.getOrElse(UserTotalTtlState(UserTotal(user, 0L, 0.0), Long.MinValue))
        (Some(UserTotalTtlState(
          UserTotal(user, p.total.n_events + rows.size, p.total.total_value + rows.map(_._3).sum),
          // last-seen lives in STATE, not just the current batch: a
          // late (in-watermark) out-of-order arrival must never
          // SHRINK the deadline, and the timeout must not depend on
          // how events happened to split across microbatches
          math.max(p.lastSeenMs, rows.map(_._2.getTime).max))),
          Nil) // totals surface on eviction (append output)
    }((_, st) => st.lastSeenMs + idleMs,
      // idle horizon passed: final emission, state evicted
      (_, st, _) => (None, Seq(st.total)))
  }

  case class ThrottledEvent(user_id: Long, event_id: Long, event_type: String,
    ts: java.sql.Timestamp)

  /** Online per-(user, hour) rate limiter — the streaming twin of the batch
    * `ev_throttle` census: pass through the first `cap` events per user per
    * hour in (event-time, event_id) order, drop the burst tail at the edge
    * BEFORE storage. Keyed by (user, hour-start) so state is ONE counter
    * per active key; events fold in (ts, event_id) order within each
    * microbatch, so on in-order delivery the kept set equals the batch
    * operator's row_number ≤ cap set exactly (spec-pinned). A cross-batch
    * late arrival that would have out-ranked an already-passed event
    * follows first-delivery-wins — the only online-feasible choice (a
    * passed event cannot be recalled).
    *
    * Scale: counters evict by EVENT-TIME TTL out of the box (the
    * [[runningUserTotalsWithTtl]] discipline): a (user, hour) key is
    * dead once the watermark passes the hour's end — every surviving
    * event for it would be watermark-late and filtered before the state
    * function — so eviction itself never changes an emitted row, and
    * state is O(active hours × active users), not O(users ever seen).
    * The watermark DOES adopt standard lateness semantics: an event
    * delivered later than `watermark` behind the stream's max event time
    * is dropped before the state function rather than throttled — the
    * trade every bounded-state streaming operator makes. Pass
    * `watermark = None` to restore the round-5 contract exactly
    * (process every delivered event, state unbounded). The counter
    * itself is O(1) however violent the burst. */
  def throttledEvents(spark: SparkSession, events: DataFrame,
      cap: Int = 2,
      watermark: Option[String] = Some("30 minutes")): Dataset[ThrottledEvent] = {
    import spark.implicits._
    keyedFold(events
        .withColumn("hour_start", date_trunc("hour", col("ts")))
        .selectExpr("user_id", "cast(hour_start as long) as hour_s", "event_id", "event_type", "ts")
        .as[(Long, Long, Long, String, java.sql.Timestamp)], watermark)(
        r => (r._1, r._2), r => (us(r._5), r._3)) {
      (_: (Long, Long), prev: Option[Long],
          rows: Seq[(Long, Long, Long, String, java.sql.Timestamp)], _: Long) =>
        var seen = prev.getOrElse(0L)
        val out = Seq.newBuilder[ThrottledEvent]
        rows.foreach { case (user, _, id, typ, ts) =>
          seen += 1
          if (seen <= cap) out += ThrottledEvent(user, id, typ, ts)
        }
        (Some(seen), out.result())
    }(
      // dead once the watermark clears the hour: any event of this hour
      // arriving after that is watermark-filtered upstream
      (key, _) => (key._2 + 3600L) * 1000L)
  }

  case class LastTouch(us: Long, touch_type: String)
  case class AttributionHit(user_id: Long, event_id: Long, touch_type: String)

  /** Online last-touch attribution — the streaming twin of the batch
    * `ev_attribution` census: per-user keyed state carries the most recent
    * view/click instant, and each purchase emits its credit (the touch
    * type if within 24 h, else "none") the moment it arrives. Events fold
    * in (event-time, event_id) order within each microbatch, so in-order
    * delivery reproduces the batch assignment exactly (spec-pinned);
    * cross-batch out-of-order touches follow first-delivery-wins.
    *
    * Scale: state is one (long, short string) per user, evicted by
    * EVENT-TIME TTL out of the box (the [[runningUserTotalsWithTtl]]
    * discipline): a touch older than `windowUs` behind the watermark
    * can never be credited again — any future in-watermark purchase is
    * already outside the attribution window — so eviction itself never
    * changes a credit (evicted state and expired state both credit
    * "none") and state is O(users active within the window). The
    * watermark DOES adopt standard lateness semantics: a purchase
    * delivered later than `watermark` behind the stream's max event time
    * is dropped before the state function (no row emitted, where the
    * batch census would still count it) — the trade every bounded-state
    * streaming operator makes. Pass `watermark = None` to restore the
    * round-5 contract exactly (every delivered purchase credited,
    * state unbounded). */
  def lastTouchAttribution(spark: SparkSession, events: DataFrame,
      windowUs: Long = 86400000000L,
      watermark: Option[String] = Some("30 minutes")): Dataset[AttributionHit] = {
    import spark.implicits._
    keyedFold(events.selectExpr("user_id", "ts", "event_type", "event_id")
        .as[(Long, java.sql.Timestamp, String, Long)], watermark)(_._1, r => (us(r._2), r._4)) {
      (user: Long, prev: Option[LastTouch], rows: Seq[(Long, java.sql.Timestamp, String, Long)],
          _: Long) =>
        var st = prev
        val out = Seq.newBuilder[AttributionHit]
        rows.foreach { case (_, ts, typ, id) =>
          val t = us(ts)
          typ match {
            case "view" | "click" => st = Some(LastTouch(t, typ))
            case "purchase" =>
              val credit = st.filter(_.us >= t - windowUs).fold("none")(_.touch_type)
              out += AttributionHit(user, id, credit)
            case _ => ()
          }
        }
        (st, out.result())
    }(
      // dead once the window has passed the touch
      (_, st) => (st.us + windowUs) / 1000L)
  }

  case class NewUserHit(user_id: Long, event_id: Long, day: Long)
  case class FirstSeen(day: Long, lastSeenMs: Long)

  /** First-seen detector — the streaming half of `ev_cumulative_users`:
    * per-user keyed state is the first-seen day (and the last-seen
    * instant the idle horizon runs from); a user's FIRST event emits a
    * NewUserHit, everything after is silent. Downstream, growth curves
    * are a plain per-day count over this (tiny) hit stream — the same
    * first-seen trick that makes the batch running COUNT(DISTINCT)
    * distributable makes the streaming state O(1) per user. Within a
    * batch, events fold in (event-time, event_id) order so the credited
    * first event is deterministic; cross-batch, first-delivery-wins (the
    * only online option). Parity: per-day hit counts equal the batch
    * operator's n_new_users on in-order delivery (spec-pinned).
    *
    * With the default `watermark = None` it is the exact operator: exact
    * first-seen requires O(users ever seen) state by definition. With a
    * watermark, a user idle past `idleMs` of EVENT time is evicted (the
    * [[runningUserTotalsWithTtl]] discipline) and counts as new AGAIN on
    * re-emergence. That is a DIFFERENT metric — "recurring-new within
    * the idle horizon", the resurrection-aware growth curve — so a
    * pipeline chooses its contract by choosing the argument. Late
    * in-watermark arrivals extend the deadline monotonically (max with
    * stored last-seen, never shrink). */
  def newUserEvents(spark: SparkSession, events: DataFrame,
      watermark: Option[String] = None,
      idleMs: Long = 30L * 86400000L): Dataset[NewUserHit] = {
    import spark.implicits._
    keyedFold(events.selectExpr("user_id", "ts", "event_id").as[(Long, java.sql.Timestamp, Long)],
        watermark)(_._1, r => (us(r._2), r._3)) {
      (user: Long, prev: Option[FirstSeen], rows: Seq[(Long, java.sql.Timestamp, Long)], _: Long) =>
        val lastSeenMs = rows.map(_._2.getTime).max
        prev match {
          case Some(st) => (Some(st.copy(lastSeenMs = math.max(st.lastSeenMs, lastSeenMs))), Nil)
          case None =>
            val (_, t, id) = rows.head
            val day = us(t) / 86400000000L
            (Some(FirstSeen(day, lastSeenMs)), Seq(NewUserHit(user, id, day)))
        }
    }((_, st) => st.lastSeenMs + idleMs)
  }
}
