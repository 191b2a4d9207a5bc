package graft.operators

import graft.Tables
import graft.functions.VecFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding clustering (SURVEY.md §2d/§2e adjunct): deterministic
  * Lloyd's k-means over the 64-dim `embeddings` table — the foundation
  * for semantic dedup and diversity-aware curation (cluster, then dedup
  * or downsample within clusters).
  *
  * The run is fully deterministic so it can be oracle-checked end to end:
  * seeds are the first K vectors by id, iterations are a fixed count, and
  * after every centroid update each coordinate is rounded to 6 dp — the
  * re-broadcast centroids are bit-identical in both engines, so the next
  * iteration's distances (ordered left folds) and argmin assignments
  * (ties broken by lowest centroid id via struct-min) match exactly.
  *
  * Scale shape — train small, apply big: centroids are K×64 doubles
  * (tiny) collected to the driver each round; each round over the corpus
  * is one codegen'd map (distance + struct argmin against a broadcast
  * literal) plus one partial-aggregated groupBy of K×DIM averages. No
  * joins, no row blowup — at 100 TB each iteration is a single scan, and
  * the driver loop carries only the K×64 centroid matrix.
  */
object Clustering {

  type Q = (SparkSession, String) => DataFrame

  val K = 10
  val Iters = 3
  val Dim = 64

  /** Hot-cluster bound for [[clSemanticDedup]]'s within-cluster pair
    * join: at most this many (smallest-id) members per cluster generate
    * pairs — O(cap²) worst-case pair work per cluster instead of
    * O(cluster²) when k-means collapses a skewed corpus into one cell.
    * Mirrored in the oracle SQL; far above any cluster in the test
    * corpus, so capped and uncapped results coincide there. */
  val MaxClusterMembers = 4096

  /** One assignment pass against literal centroids (see
    * [[graft.functions.VecFns.nearestCentroid]] for the struct-min
    * tie-break contract). Passes through every input column (e.g.
    * `label` for clPurity) so callers never re-scan the corpus. */
  private def assign(v: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    if (cents.isEmpty)
      // empty corpus ⇒ no seed vectors ⇒ no centroids: an empty literal
      // array types as VOID and fails analysis on the struct extract, so
      // keep the schema with typed null assignment columns (the frame
      // itself is empty — no row ever carries the nulls)
      v.withColumn("cid", lit(null).cast("int")).withColumn("d", lit(null).cast("double"))
    else
      v.withColumn("m", nearestCentroid(col("e"), cents))
        .select(v.columns.map(col) :+ col("m.cid").as("cid") :+ col("m.d").as("d"): _*)

  // Trained centroids memoized per (session, dir, data fingerprint):
  // training is fully deterministic (fixed seeds/rounds/rounding), so the
  // cl_* queries share one training run instead of each paying Iters-1
  // corpus passes. The fingerprint (file names + sizes + mtimes of the
  // embeddings parquet) invalidates the memo when the data at the path
  // changes — without it, overwriting the dir mid-session would silently
  // assign NEW vectors against centroids trained on the OLD corpus.
  // Weak session keys so stopped test sessions are not kept alive.
  // Keyed by DIR with the fingerprint stored alongside (not baked into
  // the key): a refreshed corpus under the same dir REPLACES the stale
  // entry instead of stranding it for the session lifetime — the bounded-
  // cache behavior a long-lived session needs.
  private[graft] val centsMemo =
    new graft.util.SessionMemo[Seq[(Int, Seq[Double])]]("embeddings")

  // The thresholded similarity-edge PAIRS (ddEmbedCosFor's sign-bucket
  // LSH candidates filtered by cosine > threshold) are the shared input
  // of cl_pagerank and cl_dbscan — the two graph operators of the suite.
  // Same discipline as the centroids above: the build is deterministic
  // given the corpus (exact rounded cosines), so memoize the LAZY
  // checkpoint-pinned frame per (session, dir+fingerprint, threshold)
  // and both consumers read ONE materialized pair set instead of each
  // re-running the bucketed self-join behind its own eager pin (the r8
  // verdict's double-payment finding). Lazy, not eager: the shared-RDD
  // consistency comes from the single cached RDD; eagerness would only
  // serialize plan construction (PLANS.md lazy-pin idiom).
  // Keyed by (dir, threshold) with the fingerprint stored ALONGSIDE the
  // frame, mirroring centsCache: a refreshed corpus under the same dir
  // replaces the stale entry, whose checkpoint blocks the ContextCleaner
  // reclaims once the dropped frame reference is GC'd — no strand for
  // the session lifetime.
  private[graft] val pairsMemo =
    new graft.util.SessionMemo.Keyed[(String, Double), DataFrame]("embeddings")

  /** Memoized undirected similarity candidate pairs (vec_a < vec_b). */
  private[graft] def simEdgePairs(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    pairsMemo.getOrCompute(s, d, (d, threshold)) {
      val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").as("e"))
      Dedup.ddEmbedCosFor(emb, Seq(1, 2, 3, 4), threshold)
        .select(col("vec_a"), col("vec_b"))
        .localCheckpoint(false)
    }

  /** The threshold cl_pagerank/cl_dbscan share (their one memo entry). */
  private[graft] val SimEdgeThreshold = 0.25

  /** Train `Iters` rounds and return the final per-vector assignment
    * (vec_id, e, label, cid, d) — the shared frame behind all cl_*
    * queries (label rides along unused except by clPurity; Catalyst
    * prunes it wherever it is not referenced). */
  private def finalAssign(s: SparkSession, d: String): DataFrame =
    assign(cleanVectors(s, d), trainedCents(s, d))

  /** Shared embedding load: null vectors (failed upstream embed) cannot
    * be assigned or trained on — dropped here so every cl_* path agrees
    * (NullInputSpec pins the no-crash contract). */
  private def cleanVectors(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"), col("label"))

  /** The memoized trained centroid matrix (see [[finalAssign]] — this is
    * the training half, split out so operators needing more than the
    * nearest centroid, e.g. [[clSilhouette]]'s second-nearest, can reuse
    * the same run). */
  private[graft] def trainedCents(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
      centsMemo.getOrCompute(s, d) {
    val v = cleanVectors(s, d)
    // seeds: the first K vectors by id, used RAW (no rounding) — the
    // oracle's c0 CTE is equally raw; only the UPDATED centroids are
    // rounded to 6 dp on both sides. Round one side's seeds without the
    // other and every cl_* oracle check fails.
    var cents: Seq[(Int, Seq[Double])] = v.filter(col("vec_id") < K)
      .select(col("vec_id").cast("int"), col("e")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq.sortBy(_._1)
    for (_ <- 1 to Iters - 1) {
      // EXACT-decimal sums, not double avg: decimal addition is
      // order-independent and both engines' double→decimal(38,18) casts
      // are correctly rounded, so the updated centroids are bit-identical
      // across engines BEFORE the 6-dp display rounding — no reliance on
      // rounding to absorb shuffle-order float noise, which matters here
      // because centroids feed back into the next round's assignments
      // (a single boundary flip would cascade into membership divergence)
      val means = (1 to Dim).map(i => round(
        sum(element_at(col("e"), i).cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as(s"m$i"))
      val updated = assign(v, cents)
        .groupBy(col("cid"))
        .agg(means.head, means.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> (1 to Dim).map(i => r.getDouble(i)).toSeq).toMap
      cents = cents.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
    }
    cents
  }

  /** Final assignment after `Iters` rounds: (vec_id, cluster, dist). */
  def clKmeans: Q = (s, d) =>
    finalAssign(s, d)
      .select(col("vec_id"), col("cid").cast("long").as("cluster"),
        round(col("d"), 6).as("dist"))
      .orderBy(col("vec_id"))

  /** Diversity-aware downsampling: the 5 vectors nearest their cluster
    * centroid, per cluster — the curation move of keeping representative
    * exemplars across the semantic space instead of a global top-k that
    * collapses onto one dense region. Ranking uses the 6-dp-rounded
    * distance with a vec_id tiebreak so both engines order identically.
    *
    * Scale (r7): the per-cluster pick rides [[graft.plans.TopKPerGroup]]
    * bounded heaps — with K ~10 clusters, the previous
    * `row_number over (partition by cluster)` sorted corpus/K vectors in
    * one unsplittable task; the heap pass keeps ≤5 rows per cluster per
    * input partition and shuffles O(5·K·partitions) rows, and the final
    * rank window runs over the ≤5·K survivors (metadata-sized). */
  def clDiverseSample: Q = (s, d) => {
    val picked = graft.plans.TopKPerGroup.transform(
      finalAssign(s, d)
        .select(col("vec_id"), col("cid").cast("long").as("cluster"),
          round(col("d"), 6).as("dist")),
      Seq(col("cluster")), Seq(col("dist"), col("vec_id")), 5)
    picked
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("dist"), col("vec_id"))).cast("long"))
      .select(col("cluster"), col("rnk"), col("vec_id"), col("dist"))
      .orderBy(col("cluster"), col("rnk"))
  }

  /** Cluster quality vs the held-out `label` column: per-cluster size,
    * dominant label and purity share (ties to the lowest label). */
  def clPurity: Q = (s, d) => {
    val byLabel = finalAssign(s, d)
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("label_n"))
    val w = Window.partitionBy(col("cid")).orderBy(col("label_n").desc, col("label"))
    byLabel
      .withColumn("rn", row_number().over(w))
      .withColumn("n", sum(col("label_n")).over(Window.partitionBy(col("cid"))))
      .filter(col("rn") === 1)
      .select(col("cid").cast("long").as("cluster"), col("n"),
        col("label").cast("long").as("top_label"), col("label_n").as("top_n"),
        (floor(col("label_n") / col("n") * 1e6 + 0.5) / 1e6).as("purity"))
      .orderBy(col("cluster"))
  }

  /** The oracle unrolls the same three rounds as CTEs; Spark's seed pass
    * is the oracle's `c0`, so Iters rounds = Iters assignment CTEs with
    * Iters-1 centroid updates between them. `a2` is the final
    * assignment frame shared by every cl_* oracle. */
  private val kmeansCtes: String = {
    def assignCte(cprev: String, a: String): String =
      s"""${a}_d AS (
         |  SELECT v.vec_id, v.e, c.cid,
         |    list_reduce(list_transform(generate_series(1, 64),
         |      i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])), (x, y) -> x + y) AS d
         |  FROM v CROSS JOIN $cprev c),
         |$a AS (
         |  SELECT vec_id, e, cid, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM ${a}_d) WHERE rn = 1)""".stripMargin
    def updateCte(a: String, cprev: String, c: String): String =
      s"""${c}_u AS (
         |  SELECT cid, i AS pos,
         |    round(sum(e[i]::DECIMAL(38,18))::DOUBLE / count(*), 6) AS m
         |  FROM $a CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY 1, 2),
         |$c AS (
         |  SELECT $cprev.cid, coalesce(l.c, $cprev.c) AS c
         |  FROM $cprev LEFT JOIN
         |    (SELECT cid, list(m ORDER BY pos) AS c FROM ${c}_u GROUP BY 1) l
         |  USING (cid))""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
       |c0 AS (SELECT vec_id::INT AS cid, e AS c FROM v WHERE vec_id < 10),
       |${assignCte("c0", "a0")},
       |${updateCte("a0", "c0", "c1")},
       |${assignCte("c1", "a1")},
       |${updateCte("a1", "c1", "c2")},
       |${assignCte("c2", "a2")}""".stripMargin
  }

  val clKmeansSql: String =
    s"""$kmeansCtes
       |SELECT vec_id, cid::BIGINT AS cluster, round(d, 6) AS dist
       |FROM a2 ORDER BY vec_id""".stripMargin

  val clDiverseSampleSql: String =
    s"""$kmeansCtes,
       |r AS (
       |  SELECT cid::BIGINT AS cluster, vec_id, round(d, 6) AS dist FROM a2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster
       |                               ORDER BY dist, vec_id) AS rnk
       |  FROM r)
       |SELECT cluster, rnk::BIGINT AS rnk, vec_id, dist
       |FROM ranked WHERE rnk <= 5 ORDER BY cluster, rnk""".stripMargin

  val clPuritySql: String =
    s"""$kmeansCtes,
       |bylabel AS (
       |  SELECT a2.cid, e.label, count(*) AS label_n
       |  FROM a2 JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cid
       |                               ORDER BY label_n DESC, label) AS rn,
       |    sum(label_n) OVER (PARTITION BY cid) AS n
       |  FROM bylabel)
       |SELECT cid::BIGINT AS cluster, n::BIGINT AS n, label::BIGINT AS top_label,
       |  label_n AS top_n, floor(label_n / n * 1e6 + 0.5) / 1e6 AS purity
       |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** Clustering health report: per-cluster population, inertia (the
    * k-means objective — sum of squared distances to the centroid),
    * mean SQUARED distance and corpus share. Falling share + rising
    * mean_sq_dist across retrains is the "this K no longer fits the
    * data" signal; the per-cluster inertia ranks which clusters to
    * split first. Reuses the memoized training run (no extra corpus
    * passes beyond the one assignment scan); the share denominator is
    * a window over the K aggregated rows, not the corpus. Distance
    * sums go through decimal(38,18) — double addition is
    * non-associative, so a raw double sum depends on partition combine
    * order and can flip a 6-dp rounding boundary between engines (the
    * same hardening the centroid updates use). */
  def clInertia: Q = (s, d) => {
    val dec = col("d").cast("decimal(38,18)")
    val g = finalAssign(s, d).groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round(sum(dec).cast("double"), 6).as("inertia"),
        round(sum(dec).cast("double") / count(lit(1)), 6).as("mean_sq_dist"))
    g.select(col("cid").cast("long").as("cluster"), col("n"), col("inertia"),
        col("mean_sq_dist"),
        (floor(col("n") / sum(col("n")).over(Window.partitionBy()) * 1e6 + 0.5) / 1e6).as("share"))
      .orderBy(col("cluster"))
  }

  val clInertiaSql: String =
    s"""$kmeansCtes,
       |g AS (
       |  SELECT cid, count(*) AS n,
       |    round(sum(d::DECIMAL(38,18))::DOUBLE, 6) AS inertia,
       |    round(sum(d::DECIMAL(38,18))::DOUBLE / count(*), 6) AS mean_sq_dist
       |  FROM a2 GROUP BY 1)
       |SELECT cid::BIGINT AS cluster, n, inertia, mean_sq_dist,
       |  floor(n / (sum(n) OVER ()) * 1e6 + 0.5) / 1e6 AS share
       |FROM g ORDER BY cluster""".stripMargin

  /** Semantic dedup, cluster-bucketed: near-dup pairs (cosine > 0.25,
    * the dd_embed_cos threshold) are only sought WITHIN a k-means
    * cluster, so pair work is O(Σ cluster²) instead of O(n²) — and
    * unlike a fixed sign-hash, the buckets follow the data's density.
    * Near-identical vectors share a nearest centroid, so the recall
    * loss vs all-pairs is confined to pairs straddling a cluster
    * boundary. Each vector reports its earliest (lowest-id) in-cluster
    * near-dup as dup_of, -1 if it is the cluster-canonical copy —
    * the greedy keep-first policy of dd_exact, lifted to semantic
    * space. */
  def clSemanticDedup: Q = (s, d) => {
    val asn = finalAssign(s, d).withColumn("nrm", l2norm(col("e")))
    // hot-cluster bound, same discipline as the LSH bucket cap: pair
    // generation runs over at most MaxClusterMembers (smallest vec_ids)
    // per cluster, so a skewed cluster costs O(cap²) instead of
    // O(cluster²); the oracle mirrors the cap with a row_number qualify
    val capped = graft.plans.TopKPerGroup.transform(asn,
      Seq(col("cid")), Seq(col("vec_id").asc), MaxClusterMembers)
    val a = capped.select(col("cid"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("nrm").as("na"))
    val b = capped.select(col("cid").as("cidb"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("nrm").as("nb"))
    val dupOf = a.join(b, col("cid") === col("cidb") && col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") > 0.25)
      .groupBy(col("vec_b"))
      .agg(min(col("vec_a")).as("dup_of"))
    asn.select(col("vec_id"), col("cid").cast("long").as("cluster"))
      .join(dupOf, col("vec_id") === col("vec_b"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy(col("vec_id"))
  }

  val clSemanticDedupSql: String =
    s"""$kmeansCtes,
       |an AS (
       |  SELECT vec_id, cid, e,
       |    sqrt(list_reduce(list_transform(generate_series(1, 64),
       |      i -> e[i] * e[i]), (x, y) -> x + y)) AS nrm
       |  FROM a2),
       |an_capped AS (
       |  SELECT vec_id, cid, e, nrm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
       |    FROM an)
       |  WHERE rn <= $MaxClusterMembers),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_reduce(list_transform(generate_series(1, 64),
       |      i -> a.e[i] * b.e[i]), (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS cos
       |  FROM an_capped a JOIN an_capped b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
       |dupof AS (
       |  SELECT vec_b, min(vec_a) AS dup_of FROM pairs WHERE cos > 0.25 GROUP BY 1)
       |SELECT an.vec_id, an.cid::BIGINT AS cluster,
       |  coalesce(d.dup_of, -1)::BIGINT AS dup_of
       |FROM an LEFT JOIN dupof d ON an.vec_id = d.vec_b
       |ORDER BY an.vec_id""".stripMargin

  /** Simplified (centroid-based) silhouette per cluster: for each vector
    * `a` = distance to its own centroid, `b` = distance to the
    * second-nearest centroid, score `(b − a) / max(a, b)` ∈ [−1, 1];
    * report each cluster's size and mean score. Scores near 0 mean the
    * cluster boundary cuts through a dense region (merge candidate, or K
    * too high); together with [[clInertia]] this is the standard retrain/
    * re-K health pair. The O(N·K) centroid form of silhouette — the
    * O(N²) pairwise original is not computable at corpus scale.
    *
    * Scale: one scan; per row K codegen'd distance folds and a K-struct
    * sort (K is config-sized), then a partially-aggregated groupBy of K
    * rows. Same train-small/apply-big shape as every cl_* op; per-cluster
    * sums go through decimal(38,18) for order independence. */
  def clSilhouette: Q = (s, d) => {
    val cents = trainedCents(s, d)
    if (cents.isEmpty) {
      // empty corpus: no centroids to rank against (the assign() guard
      // covers the shared path; silhouette builds its own 2-nearest
      // array, so an empty literal would type as VOID here too)
      import s.implicits._
      Seq.empty[(Long, Long, Double)].toDF("cluster", "n", "silhouette")
    } else {
      val arr = sort_array(array(cents.map { case (cid, c) =>
        struct(sqDistTo(col("e"), c).as("d"), lit(cid).as("cid"))
      }: _*))
      val a = sqrt(col("near").getItem(0).getField("d"))
      val b = sqrt(col("near").getItem(1).getField("d"))
      val score = when(greatest(a, b) > 0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
      cleanVectors(s, d)
        .select(col("vec_id"), slice(arr, 1, 2).as("near"))
        .groupBy(col("near").getItem(0).getField("cid").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"),
          round(sum(score.cast("decimal(38,18)")).cast("double") / count(lit(1)), 6)
            .as("silhouette"))
        .orderBy(col("cluster"))
    }
  }

  val clSilhouetteSql: String =
    s"""$kmeansCtes,
       |two AS (
       |  SELECT vec_id, cid, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |  FROM a2_d),
       |sil AS (
       |  SELECT f.vec_id, f.cid, sqrt(f.d) AS a, sqrt(s.d) AS b
       |  FROM two f JOIN two s ON f.vec_id = s.vec_id AND s.rn = 2
       |  WHERE f.rn = 1)
       |SELECT cid::BIGINT AS cluster, count(*) AS n,
       |  round(sum((CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
       |                  ELSE 0.0 END)::DECIMAL(38,18))::DOUBLE / count(*), 6)
       |    AS silhouette
       |FROM sil GROUP BY 1 ORDER BY cluster""".stripMargin

  // ---- PageRank centrality over the similarity graph ---------------------

  /** Fixed-point scale for [[clPagerank]]: ranks are integer micro-units
    * of 1e-12. Every operation in the power iteration — the initial
    * uniform mass, per-edge contributions, damping — is integer
    * arithmetic (`div`, exact long sums), so the result is bit-identical
    * cross-engine and independent of summation order. A double-valued
    * iteration would drift in the last ulp and the drift FEEDS BACK
    * through 3 iterations — the q11 rounding trap, amplified. */
  val PrScale = 1000000000000L
  val PrIters = 3

  /** PageRank over the embedding similarity graph — centrality-aware
    * curation: documents/vectors central to a semantic neighborhood are
    * kept (canonical exemplars), peripheral near-orphans can be
    * down-weighted. Edges are EXACTLY [[Dedup.ddEmbedCosFor]]'s
    * candidate contract (sign-bucket LSH, within-bucket cosine > 0.25),
    * so graph membership agrees with the near-dup audits; each surviving
    * pair is undirected (both directions). Dangling nodes keep teleport
    * mass only; their outflow is dropped (the standard dangling-mass
    * simplification, mirrored in the oracle).
    *
    * Scale shape: the edge build is the bucket-bounded self-join (never
    * O(n²)); each iteration is one keyed join edges⋈ranks plus one
    * partial-aggregated groupBy on dst — the canonical distributed power
    * iteration, 2 shuffles per round, no driver-side graph state. The
    * candidate pairs are the MEMOIZED [[simEdgePairs]] frame shared with
    * cl_dbscan (lazily checkpoint-pinned here; a bucketed table write at
    * cluster scale) so iterations — and sibling operators — never re-run
    * the self-join. */
  def clPagerank: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").as("e"))
    val n = emb.count() // driver scalar: node count (one narrow scan)
    val base = if (n == 0) 0L else PrScale / n // empty graph: no mass, empty result
    val tele = 15L * base / 100L
    val pairs = simEdgePairs(s, d, SimEdgeThreshold) // memoized, shared with cl_dbscan
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .union(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .localCheckpoint(false)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = emb.select(col("vec_id"))
    var ranks = nodes.select(col("vec_id"), lit(base).as("r"))
    for (_ <- 1 to PrIters) {
      val inflow = edges
        .join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .join(deg, "src")
        .groupBy(col("dst"))
        .agg(sum(expr("r div deg")).as("infl"))
      ranks = nodes
        .join(inflow.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(tele) + expr("(85 * coalesce(infl, 0)) div 100")).as("r"))
    }
    ranks.join(deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("n_neighbors"),
        col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("vec_id")).limit(20)
  }

  val clPagerankSql: String = {
    val simCte =
      """v AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
        |    sqrt(list_reduce(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm,
        |    concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
        |           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
        |           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
        |           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS sig
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
        |  WHERE round(list_reduce(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]), (x, y) -> x + y) / (a.nrm * b.nrm), 4) > 0.25)""".stripMargin
    val iters = (1 to PrIters).map { k =>
      s"""i$k AS (
         |  SELECT e.dst, CAST(sum(r.r // dg.deg) AS BIGINT) AS infl
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.vec_id
         |  JOIN deg dg ON dg.src = e.src
         |  GROUP BY e.dst),
         |r$k AS (
         |  SELECT v.vec_id,
         |    (15 * (SELECT base FROM consts)) // 100
         |      + (85 * COALESCE(i.infl, 0)) // 100 AS r
         |  FROM v LEFT JOIN i$k i ON i.dst = v.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $simCte,
       |edges AS (SELECT va AS src, vb AS dst FROM pairs
       |          UNION ALL SELECT vb, va FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |consts AS (SELECT $PrScale // count(*) AS base FROM embeddings),
       |r0 AS (SELECT vec_id, (SELECT base FROM consts) AS r FROM v),
       |$iters
       |SELECT r.vec_id, COALESCE(dg.deg, 0) AS n_neighbors, r.r AS rank_fp
       |FROM r$PrIters r LEFT JOIN deg dg ON dg.src = r.vec_id
       |ORDER BY rank_fp DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Embedding-distribution drift monitor: per-label centroid shift
    * between two deterministic corpus halves (vec_id parity — the stand-in
    * for yesterday's snapshot vs today's). Emits per label: half sizes,
    * cosine between the two half-centroids and their L2 distance — the
    * retrain/recalibrate alarm for any pipeline that trains on embedding
    * snapshots (falling cosine or rising L2 across runs = the upstream
    * encoder or corpus mix moved).
    *
    * Scale: posexplode is a map-side 64× row blowup immediately compressed
    * by partial aggregation — the shuffle carries only (labels × 64)
    * partial sums, and everything after operates on K-sized frames. ONE
    * corpus scan, no row-level joins: both halves aggregate as conditional
    * sums in the same pass (plan-audited — the filter-each-half-then-join
    * formulation compiles to three scans), and the half sizes fall out of
    * the same aggregate (every vector contributes exactly one row per
    * pos). Centroid sums go through decimal(38,18) (double addition is
    * combine-order-dependent), and the final quotients use the floor
    * idiom, so both engines emit identical 6-dp values. */
  def clDrift: Q = (s, d) => {
    val base = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")))
      .select(col("label"), col("half"), col("pos"), col("col").cast("double").as("x"))
    val means = base.groupBy(col("label"), col("pos"))
      .agg(
        (sum(when(col("half") === 0, col("x")).cast("decimal(38,18)")).cast("double") /
          count(when(col("half") === 0, lit(1)))).as("ma"),
        (sum(when(col("half") === 1, col("x")).cast("decimal(38,18)")).cast("double") /
          count(when(col("half") === 1, lit(1)))).as("mb"),
        count(when(col("half") === 0, lit(1))).as("na"),
        count(when(col("half") === 1, lit(1))).as("nb"))
    means.groupBy(col("label"))
      .agg(
        sum((col("ma") * col("mb")).cast("decimal(38,18)")).cast("double").as("sab"),
        sum((col("ma") * col("ma")).cast("decimal(38,18)")).cast("double").as("saa"),
        sum((col("mb") * col("mb")).cast("decimal(38,18)")).cast("double").as("sbb"),
        sum(((col("ma") - col("mb")) * (col("ma") - col("mb"))).cast("decimal(38,18)"))
          .cast("double").as("sl2"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
      .select(col("label"), col("n_a"), col("n_b"),
        (floor(col("sab") / (sqrt(col("saa")) * sqrt(col("sbb"))) * 1e6 + 0.5) / 1e6)
          .as("centroid_cos"),
        (floor(sqrt(col("sl2")) * 1e6 + 0.5) / 1e6).as("centroid_l2"))
      .orderBy(col("label"))
  }

  val clDriftSql: String =
    """WITH base AS (
      |  SELECT label::BIGINT AS label, vec_id % 2 AS half, i AS pos,
      |    embedding[i]::DOUBLE AS x
      |  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)),
      |means AS (
      |  SELECT label, pos,
      |    sum((CASE WHEN half = 0 THEN x END)::DECIMAL(38,18))::DOUBLE
      |      / count(CASE WHEN half = 0 THEN 1 END) AS ma,
      |    sum((CASE WHEN half = 1 THEN x END)::DECIMAL(38,18))::DOUBLE
      |      / count(CASE WHEN half = 1 THEN 1 END) AS mb,
      |    count(CASE WHEN half = 0 THEN 1 END) AS na,
      |    count(CASE WHEN half = 1 THEN 1 END) AS nb
      |  FROM base GROUP BY 1, 2)
      |SELECT label, max(na) AS n_a, max(nb) AS n_b,
      |  floor(sum((ma * mb)::DECIMAL(38,18))::DOUBLE
      |    / (sqrt(sum((ma * ma)::DECIMAL(38,18))::DOUBLE)
      |       * sqrt(sum((mb * mb)::DECIMAL(38,18))::DOUBLE)) * 1e6 + 0.5) / 1e6 AS centroid_cos,
      |  floor(sqrt(sum(((ma - mb) * (ma - mb))::DECIMAL(38,18))::DOUBLE) * 1e6 + 0.5) / 1e6 AS centroid_l2
      |FROM means GROUP BY label ORDER BY label""".stripMargin

  /** Per-label embedding outlier census — the mislabeled/corrupt-vector
    * detector a curation run applies before training on labeled
    * embeddings: distance of every vector to its LABEL centroid,
    * z-score-gated (d > mean + 2σ within the label) into per-label
    * outlier counts. A label whose outlier share spikes is either
    * heterogeneous (split it) or polluted (clean it).
    *
    * Parity: centroids are per-(label, pos) decimal(38,18) means
    * floor-rounded at 6 dp (the kmeans re-broadcast idiom — rounded
    * centroids are bit-identical cross-engine, so the distance folds
    * and the z-gate comparisons run on identical doubles). Scale: three
    * sequential corpus passes, the structural minimum — centroids must
    * exist before distances, and the per-label threshold before the
    * gate — each ONE scan, with the |labels|-row centroid and stats
    * frames localCheckpoint-pinned between passes (lazy branches each
    * re-derived them: audited 4 scans instead of 3). NOT a
    * Window.partitionBy(label): ~10 labels would put corpus/10 rows in
    * one task's partition (the q_window_dist hazard). */
  def clOutliers: Q = (s, d) => {
    val v = Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        toDouble(col("embedding")).as("e"))
    // |labels|-row frames localCheckpoint-pinned: cents feeds BOTH
    // distance passes and stats feeds both the threshold and the report
    // — lazy branches each re-derived them with their own pruning
    // (audited: 4 corpus scans instead of the structural 2)
    val cents = v
      .select(col("label"), posexplode(col("e")))
      .groupBy(col("label"), col("pos"))
      .agg((floor(sum(col("col").cast("decimal(38,18)")).cast("double") /
        count(lit(1)) * 1e6 + 0.5) / 1e6).as("m"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("c"))
      .localCheckpoint(true)
    def dist(vf: DataFrame): DataFrame = vf.join(broadcast(cents), "label")
      .withColumn("dd",
        sqrt(aggregate(zip_with(col("e"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)))
    val stats = dist(v).groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("dd").cast("decimal(38,18)")).cast("double") / count(lit(1))).as("mean_d"),
        (sum((col("dd") * col("dd")).cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("msq"),
        max(col("dd")).as("max_d"))
      .withColumn("sd", sqrt(greatest(col("msq") - col("mean_d") * col("mean_d"), lit(0.0))))
      .localCheckpoint(true)
    val outliers = dist(v).join(broadcast(stats.select(col("label"),
        (col("mean_d") + lit(2.0) * col("sd")).as("thresh"))), "label")
      .filter(col("dd") > col("thresh"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_out"))
    stats.join(outliers, Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        (floor(col("mean_d") * 1e6 + 0.5) / 1e6).as("mean_dist"),
        (floor(col("max_d") * 1e6 + 0.5) / 1e6).as("max_dist"),
        coalesce(col("n_out"), lit(0L)).as("n_outliers"))
      .withColumn("outlier_share",
        floor(col("n_outliers") / col("n_vecs") * 1e6 + 0.5) / 1e6)
      .orderBy(col("label"))
  }

  val clOutliersSql: String =
    """WITH v AS (
      |  SELECT vec_id, label::BIGINT AS label,
      |    list_transform(embedding, x -> x::DOUBLE) AS e
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |cm AS (
      |  SELECT label, i AS pos,
      |    floor(sum(e[i]::DECIMAL(38,18))::DOUBLE / count(*) * 1e6 + 0.5) / 1e6 AS m
      |  FROM v CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY 1, 2),
      |cents AS (SELECT label, list(m ORDER BY pos) AS c FROM cm GROUP BY label),
      |dists AS (
      |  SELECT v.vec_id, v.label,
      |    sqrt(list_reduce(list_transform(generate_series(1, 64),
      |      i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])), (x, y) -> x + y)) AS dd
      |  FROM v JOIN cents c USING (label)),
      |stats AS (
      |  SELECT label, count(*) AS n_vecs,
      |    sum(dd::DECIMAL(38,18))::DOUBLE / count(*) AS mean_d,
      |    sum((dd * dd)::DECIMAL(38,18))::DOUBLE / count(*) AS msq,
      |    max(dd) AS max_d
      |  FROM dists GROUP BY label),
      |st2 AS (
      |  SELECT *, sqrt(greatest(msq - mean_d * mean_d, 0.0)) AS sd FROM stats),
      |outl AS (
      |  SELECT d.label, count(*) AS n_out
      |  FROM dists d JOIN st2 ON st2.label = d.label
      |  WHERE d.dd > st2.mean_d + 2 * st2.sd
      |  GROUP BY d.label)
      |SELECT s.label, s.n_vecs,
      |  floor(s.mean_d * 1e6 + 0.5) / 1e6 AS mean_dist,
      |  floor(s.max_d * 1e6 + 0.5) / 1e6 AS max_dist,
      |  coalesce(o.n_out, 0) AS n_outliers,
      |  floor(coalesce(o.n_out, 0) / s.n_vecs * 1e6 + 0.5) / 1e6 AS outlier_share
      |FROM st2 s LEFT JOIN outl o ON o.label = s.label
      |ORDER BY s.label""".stripMargin

  /** Core-point degree threshold for [[clDbscan]] (neighbors within eps,
    * the point itself excluded — deg ≥ 3 ⇒ the classic minPts = 4 with
    * self counted). Shared with the oracle SQL. */
  val DbscanMinPts = 3

  /** Density-based clustering (DBSCAN, Ester et al. 1996) over the
    * cosine-similarity graph — the density complement to the centroid
    * family (k-means finds convex cells; DBSCAN finds arbitrary-shape
    * dense regions and, unlike k-means, names NOISE explicitly): core
    * points have ≥ [[DbscanMinPts]] neighbors at cos > 0.25, clusters
    * are connected components of the core-core graph, border points
    * attach to the lowest CLUSTER id among their core neighbors'
    * clusters, everything else
    * is noise. Output: per-cluster census (cluster_id = lowest core
    * vec_id — deterministic canonical label), core/border/total counts,
    * plus one cluster_id = −1 row for the noise mass. All integers —
    * the only floats are inside the pair threshold, which reuses
    * [[Dedup.ddEmbedCosFor]]'s exact hash-proven rounding.
    *
    * Scale shape: neighbor generation is the LSH-bucketed pair join
    * (O(bucket²) per bucket — scale sig bits with the corpus, see
    * ddEmbedCosFor's contract); degrees/cores are partial-agged keyed
    * counts. Components run hash-min label propagation
    * ([[graft.plans.ConnectedComponents]]): per round ONE keyed join +
    * ONE partial-agged min, driver carries only the
    * changed-row count (a scalar action, not data). Round-15
    * measurement: this core graph converges plain in 6 rounds and
    * jumped in 6 as well (the fixpoint needs the last all-quiet pass
    * either way), so jumping only ADDS its per-round label self-join
    * exchange — measured 3.8 s jumped vs 3.6 s plain at sf0.1; plain
    * stays. The per-round convergence probe is the shuffle-free
    * filter-count form (see ConnectedComponents.run).
    * The candidate pairs come from the MEMOIZED [[simEdgePairs]] frame
    * shared with cl_pagerank (one bucketed self-join per corpus, not
    * one per operator); edge/core frames are lazily checkpoint-pinned
    * (shared-RDD consistency, no plan-construction blocking); label
    * frames are |core|-row, pinned per round to cut lineage. The oracle's recursive CTE materializes the full
    * reachability closure — exact but O(Σ cluster²) rows, which is why
    * the ORACLE is the small-SF check and hash-min is the engine. */
  def clDbscan: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").as("e"))
    val pairs = simEdgePairs(s, d, SimEdgeThreshold) // memoized, shared with cl_pagerank
    val edges = pairs.select(col("vec_a").as("a"), col("vec_b").as("b"))
      .union(pairs.select(col("vec_b"), col("vec_a")))
      .localCheckpoint(false)
    val core = edges.groupBy(col("a")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= DbscanMinPts).select(col("a").as("node"))
      .localCheckpoint(false)
    val cedges = edges
      .join(core.withColumnRenamed("node", "a"), "a")
      .join(core.withColumnRenamed("node", "b"), "b")
      .select(col("a"), col("b"))
      .localCheckpoint(false)
    val clab = graft.plans.ConnectedComponents.labels(core, cedges)
      .withColumnRenamed("component", "cluster_id")
    val border = edges
      .join(clab.withColumnRenamed("node", "a"), "a")
      .join(core.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
      .groupBy(col("b")).agg(min(col("cluster_id")).as("cluster_id"))
      .select(col("b").as("node"), col("cluster_id"))
    val members = clab.withColumn("is_core", lit(1L))
      .unionByName(border.withColumn("is_core", lit(0L)))
    val clusters = members.groupBy(col("cluster_id"))
      .agg(sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"),
        count(lit(1)).as("n_total"))
    val noise = emb.select(col("vec_id").as("node"))
      .join(members.select(col("node")), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_total"))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_total"))
    clusters.unionByName(noise).orderBy(col("cluster_id"))
  }

  val clDbscanSql: String =
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
       |    sqrt(list_reduce(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm,
       |    concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
       |           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
       |           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
       |           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS sig
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |  WHERE round(list_reduce(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]), (x, y) -> x + y) / (a.nrm * b.nrm), 4) > 0.25),
       |edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
       |          UNION ALL SELECT vec_b, vec_a FROM pairs),
       |core AS (SELECT a AS node FROM edges GROUP BY a HAVING count(*) >= $DbscanMinPts),
       |cedges AS (SELECT e.a, e.b FROM edges e
       |  JOIN core ca ON ca.node = e.a JOIN core cb ON cb.node = e.b),
       |reach(node, lbl) AS (
       |  SELECT node, node FROM core
       |  UNION
       |  SELECT c.b, r.lbl FROM reach r JOIN cedges c ON c.a = r.node),
       |clab AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
       |border AS (
       |  SELECT e.b AS node, min(cl.cluster_id) AS cluster_id
       |  FROM edges e JOIN clab cl ON cl.node = e.a
       |  LEFT JOIN core k ON k.node = e.b
       |  WHERE k.node IS NULL
       |  GROUP BY e.b),
       |members AS (
       |  SELECT cluster_id, 1 AS is_core FROM clab
       |  UNION ALL SELECT cluster_id, 0 FROM border),
       |clusters AS (
       |  SELECT cluster_id, CAST(sum(is_core) AS BIGINT) AS n_core,
       |    CAST(sum(1 - is_core) AS BIGINT) AS n_border,
       |    count(*) AS n_total
       |  FROM members GROUP BY cluster_id),
       |noise AS (
       |  SELECT CAST(-1 AS BIGINT) AS cluster_id, CAST(0 AS BIGINT) AS n_core,
       |    CAST(0 AS BIGINT) AS n_border, count(*) AS n_total
       |  FROM v
       |  WHERE vec_id NOT IN (SELECT node FROM clab)
       |    AND vec_id NOT IN (SELECT node FROM border))
       |SELECT * FROM clusters UNION ALL SELECT * FROM noise
       |ORDER BY cluster_id""".stripMargin

  /** Centers picked by [[clKcenter]]'s farthest-first traversal. */
  val KCenters = 6

  /** k-center seeding by farthest-first traversal (Gonzalez 1985) — the
    * COVERAGE primitive the centroid family lacks: k-means minimizes
    * mean distortion and happily ignores small far-away modes, while
    * farthest-first greedily takes the point FARTHEST from every chosen
    * center, guaranteeing a 2-approximation of the optimal k-center
    * radius — the "every region of embedding space is represented"
    * property that diverse sampling and eval-set seeding actually want
    * (cl_diverse_sample picks nearest-to-centroid exemplars; this picks
    * the opposite — boundary coverage). Fully deterministic: seed =
    * lowest vec_id, argmax ties break to the lowest vec_id, assignment
    * ties to the lowest center order.
    *
    * Output per center: discovery order, center id, assigned population,
    * and coverage radius (max member distance, 6-dp floor) — the radius
    * sequence is the diminishing-returns curve that says when k is
    * enough. Scale: train-small/apply-big like cl_kmeans — the K-round
    * driver loop carries only K×64 coordinates; each round is ONE
    * corpus pass (a codegen'd least-of-distances projection into a
    * top-1 TakeOrderedAndProject — the argmax pass is inherent to
    * k-center, K passes total) and the final assignment is one more
    * pass against literal centers. No joins, no corpus-sized state. */
  def clKcenter: Q = (s, d) => {
    val v = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      .select(col("vec_id"), toDouble(col("embedding")).as("e"))
    val seed = v.orderBy(col("vec_id")).limit(1).collect().headOption
    seed match {
      case None =>
        v.limit(0).select(col("vec_id").as("center_order"),
          col("vec_id").as("center_id"), col("vec_id").as("n_assigned"),
          lit(0.0).as("radius"))
      case Some(row) =>
        var centers = Vector((0, row.getLong(0),
          row.getSeq[Double](1).toIndexedSeq))
        var k = 1
        var exhausted = false
        while (k < KCenters && !exhausted) {
          val md = centers.map { case (_, _, c) => sqDistTo(col("e"), c) }
            .reduce(least(_, _))
          val next = v.filter(!col("vec_id").isin(centers.map(_._2): _*))
            .select(col("vec_id"), col("e"), md.as("md"))
            .orderBy(col("md").desc, col("vec_id")).limit(1)
            .collect().headOption
          next match {
            case Some(w) =>
              centers :+= ((k, w.getLong(0), w.getSeq[Double](1).toIndexedSeq))
              k += 1
            case None => exhausted = true // corpus smaller than K
          }
        }
        val centerIds = array(centers.map(c => lit(c._2)): _*)
        val assigned = v
          .withColumn("a", nearestCentroid(col("e"),
            centers.map { case (ord, _, c) => (ord, c) }))
          .select(col("vec_id"), col("a.cid").as("ord"), col("a.d").as("dd"))
          .groupBy(col("ord"))
          .agg(count(lit(1)).as("n_assigned"),
            (floor(max(col("dd")) * 1e6 + 0.5) / 1e6).as("radius"))
        assigned
          .select(col("ord").cast("long").as("center_order"),
            element_at(centerIds, col("ord") + 1).as("center_id"),
            col("n_assigned"), col("radius"))
          .orderBy(col("center_order"))
    }
  }

  val clKcenterSql: String = {
    def dist(l: String, r: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> ($l.e[i] - $r.e[i]) * ($l.e[i] - $r.e[i])), (x, y) -> x + y)"
    val rounds = (1 until KCenters).map { k =>
      val prev = if (k == 1) "v" else s"m${k - 1}"
      val mdExpr = if (k == 1) dist("m", "c0")
        else s"least(m.md, ${dist("m", s"c${k - 1}")})"
      s"""m$k AS (SELECT m.vec_id, m.e, $mdExpr AS md
         |  FROM $prev m, c${k - 1} WHERE m.vec_id <> c${k - 1}.vec_id),
         |c$k AS (SELECT vec_id, e FROM m$k ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val centsUnion = (0 until KCenters)
      .map(k => s"SELECT $k AS ord, vec_id, e FROM c$k").mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |c0 AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 1),
       |$rounds,
       |cents AS (
       |  $centsUnion),
       |a1 AS (SELECT v.vec_id, c.ord, c.vec_id AS center_id, ${dist("v", "c")} AS dd
       |  FROM v, cents c),
       |a2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, ord) AS rn
       |  FROM a1)
       |SELECT CAST(ord AS BIGINT) AS center_order, center_id,
       |  count(*) AS n_assigned, floor(max(dd) * 1e6 + 0.5) / 1e6 AS radius
       |FROM a2 WHERE rn = 1 GROUP BY ord, center_id
       |ORDER BY center_order""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "cl_kcenter" -> clKcenter,
    "cl_dbscan" -> clDbscan,
    "cl_outliers" -> clOutliers,
    "cl_drift" -> clDrift,
    "cl_pagerank" -> clPagerank,
    "cl_silhouette" -> clSilhouette,
    "cl_kmeans" -> clKmeans,
    "cl_diverse_sample" -> clDiverseSample,
    "cl_purity" -> clPurity,
    "cl_inertia" -> clInertia,
    "cl_semantic_dedup" -> clSemanticDedup)

  def oracleSql: Map[String, String] = Map(
    "cl_kcenter" -> clKcenterSql,
    "cl_dbscan" -> clDbscanSql,
    "cl_outliers" -> clOutliersSql,
    "cl_drift" -> clDriftSql,
    "cl_pagerank" -> clPagerankSql,
    "cl_silhouette" -> clSilhouetteSql,
    "cl_kmeans" -> clKmeansSql,
    "cl_diverse_sample" -> clDiverseSampleSql,
    "cl_purity" -> clPuritySql,
    "cl_inertia" -> clInertiaSql,
    "cl_semantic_dedup" -> clSemanticDedupSql)
}
