package graft.operators

import graft.Tables
import graft.functions.TextFns._
import graft.functions.VecFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite (SURVEY.md §2d) over the `documents` and
  * `embeddings` tables — the operators a training-data pipeline runs at
  * 100 TB. Scale invariants: nothing here is O(n²); candidate generation
  * always goes through a key (content hash, LSH band bucket, sign bucket)
  * so the self-joins shuffle on keys with bounded group sizes.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  // ---- exact dedup -------------------------------------------------------

  /** Exact dedup: hash-groupBy on content md5, min-id representative. */
  def ddExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5s(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("rep_id"))

  val ddExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS rep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY rep_id""".stripMargin

  /** Normalized exact dedup: lowercase, strip non-alphanumerics, collapse
    * whitespace, then hash-groupBy. */
  def ddExactNorm: Q = (s, d) => {
    val norm = graft.functions.TextFns.normText(col("text"))
    Tables.documents(s, d)
      .groupBy(md5s(norm).as("content_hash"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("rep_id"))
  }

  val ddExactNormSql: String =
    s"""SELECT md5(${graft.functions.TextFns.normTextSql("text")}) AS content_hash,
       |  min(doc_id) AS rep_id, count(*) AS n_copies
       |FROM documents GROUP BY 1 ORDER BY rep_id""".stripMargin

  /** Cross-source phrase-overlap matrix: for every pair of ingest
    * sources, how many distinct word 5-grams appear in BOTH, and the
    * containment share `n_shared / min(|grams_a|, |grams_b|)` — the
    * provenance report behind "source B is (partly) a scrape of source A"
    * decisions. Phrase-level overlap catches cross-source duplication
    * that exact content hashing misses entirely (re-chunked, re-wrapped
    * or excerpted scrapes share phrases, not whole documents).
    *
    * Scale: ONE corpus-sized shuffle — `collect_set(source)` keyed on the
    * gram (partial_collect_set pre-dedupes map-side; the set is bounded
    * by the config-sized source count, never the corpus, so no hot-bucket
    * risk). The pair explode inflates each gram to ≤ k² rows for a gram
    * in k sources, KEEPING the (a = b) diagonal: after the pair count,
    * the diagonal row (s, s) IS source s's distinct-gram total, so both
    * containment denominators come from two |sources|²-sized windows over
    * the aggregate itself — no totals join, no second corpus pass.
    *
    * Two pitfalls this shape dodges (measured 3.0 s → 1.2 s at sf0.01):
    * a raw `tokens(col("text"))` inlined into the gram lambda re-splits
    * the text once per element_at (bind it to a column first — CSE does
    * not reach inside lambda bodies), and deriving totals from a second
    * aggregation re-ran the whole explode subtree (exchange reuse does
    * not fire across the differing aggregates). */
  def ddCrossSource: Q = (s, d) => {
    val grams = when(size(col("tk")) >= 5,
      transform(sequence(lit(1), size(col("tk")) - 4), i => concat_ws(" ",
        element_at(col("tk"), i), element_at(col("tk"), i + 1),
        element_at(col("tk"), i + 2), element_at(col("tk"), i + 3),
        element_at(col("tk"), i + 4))))
      .otherwise(array().cast("array<string>"))
    val srcsPerGram = Tables.widen(Tables.documents(s, d))
      .select(col("source"), tokens(col("text")).as("tk"))
      .select(col("source"), explode(grams).as("gram"))
      .groupBy(col("gram"))
      .agg(collect_set(col("source")).as("srcs"))
    val diagonal = max(when(col("src_a") === col("src_b"), col("n_shared")))
    srcsPerGram
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("grams_a", diagonal.over(Window.partitionBy(col("src_a"))))
      .withColumn("grams_b", diagonal.over(Window.partitionBy(col("src_b"))))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (floor(col("n_shared") / least(col("grams_a"), col("grams_b")) * 1e6 + 0.5) / 1e6)
          .as("containment"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val ddCrossSourceSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT source,
      |    concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) AS gram
      |  FROM tok, unnest(range(1, len(tk) - 3)) AS t(i)
      |  WHERE len(tk) >= 5),
      |tot AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
      |m AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |  floor(n_shared / least(ta.n_grams, tb.n_grams) * 1e6 + 0.5) / 1e6 AS containment
      |FROM m JOIN tot ta ON ta.source = m.src_a
      |       JOIN tot tb ON tb.source = m.src_b
      |ORDER BY src_a, src_b""".stripMargin

  // ---- MinHash + LSH -----------------------------------------------------

  private val NumHashes = 8
  private[graft] val NumBands = 4 // 2 rows per band

  /** The LSH band keys of a `graft_minhash` signature column — THE
    * definition of band membership, shared by the batch candidate-pair
    * operators and `streaming.Transforms.nearDupGate` so "near-dup"
    * means exactly the same thing at ingest time and in batch audits.
    * Band b hashes signature rows (2b, 2b+1); the band index rides in
    * the preimage so keys never collide across bands. */
  private[graft] def bandKeysOf(sig: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until NumBands).map { b =>
      md5s(concat_ws("|", lit(b),
        element_at(sig, 2 * b + 1), element_at(sig, 2 * b + 2)))
    }

  /** (doc_id, sig array): the minhash signature over word 3-gram
    * shingles, computed record-local in one pass by the native
    * MinHashSig expression — no explode, no shuffle (the
    * aggregation-shaped plan pays a ~300× row explosion for the same
    * result). */
  private def sigDf(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    // Round-4 hardening: fused tokenize+shingle+minhash in ONE native
    // expression (graft.functions.MinHashTokens) — the column-composed
    // chain is an optimizer trap: alias inlining into the shingle
    // transform lambda re-evaluates split() per element (O(tokens²) per
    // doc; measured 8× wall on the streaming near-dup gate). The
    // expression is FLAGGED nondeterministic (see its Scaladoc) so the
    // optimizer materializes it once per row; multi-reference consumers
    // (band keys read `sig` 8×) then read the attribute. Docs with <3
    // tokens have no shingles so every slot is null — the same exclusion
    // the old size(tk)>=3 filter expressed.
    // NOT widened (round 15): measured — the 8-slot kernel is light
    // enough that the widening exchange costs more than the extra
    // parallelism buys (dd_minhash_est 0.32→0.60 s with it); the 32-slot
    // pass in ddSigWidth and the shingle/phash kernels keep theirs.
    Tables.documents(s, d)
      .select(col("doc_id"),
        call_function("graft_minhash_tokens", tokens(col("text"))).as("sig"))
      .filter(element_at(col("sig"), 1).isNotNull)
  }

  private def minhashDf(s: SparkSession, d: String): DataFrame =
    sigDf(s, d).select(col("doc_id") +:
      (0 until NumHashes).map(j => element_at(col("sig"), j + 1).as(s"m$j")): _*)

  /** tok/shingle/minhash CTE chain at an arbitrary slot count — the
    * 8-slot instance is THE shipped signature; dd_sig_width widens it. */
  private def minhashCteN(nSlots: Int): String = {
    val mins = (0 until nSlots)
      .map(j => s"min(substr(md5('${j / 4}|' || s), ${8 * (j % 4) + 1}, 8)) AS m$j")
      .mkString(", ")
    s"""toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS tk FROM documents),
       |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
       |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s FROM toks),
       |mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)""".stripMargin
  }

  private val minhashCte: String = minhashCteN(NumHashes)

  /** Exact J ≥ 0.9 truth-pair CTE (tset/tp over `toks`) + the joined
    * a/b slot columns (`jj`) — the SQL twin of [[truthWithSignatures]],
    * shared by both banding-card oracles. */
  private def truthJoinCte(nSlots: Int): String = {
    val aSlots = (0 until nSlots).map(j => s"ma.m$j AS am$j").mkString(", ")
    val bSlots = (0 until nSlots).map(j => s"mb.m$j AS bm$j").mkString(", ")
    s"""tset AS (SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sk
       |  FROM toks WHERE len(tk) >= 3),
       |tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM tset a JOIN tset b ON b.doc_id > a.doc_id
       |  WHERE len(a.sk) >= 1 AND len(b.sk) >= 1
       |    AND 9 * greatest(len(a.sk), len(b.sk)) <= 10 * least(len(a.sk), len(b.sk))
       |    AND 10 * len(list_intersect(a.sk, b.sk)) >=
       |        9 * (len(a.sk) + len(b.sk) - len(list_intersect(a.sk, b.sk)))),
       |jj AS (SELECT $aSlots, $bSlots
       |  FROM tp JOIN mh ma ON ma.doc_id = tp.doc_a
       |          JOIN mh mb ON mb.doc_id = tp.doc_b)""".stripMargin
  }

  /** SQL twin of [[bandCollision]]. */
  private def bandCatchSql(nb: Int, nr: Int): String = (0 until nb).map { i =>
    "(" + (0 until nr).map(j => s"am${i * nr + j} = bm${i * nr + j}")
      .mkString(" AND ") + ")"
  }.mkString(" OR ")

  /** MinHash signatures per document (8 permutations, 3-gram shingles). */
  def ddMinhash: Q = (s, d) => minhashDf(s, d).orderBy(col("doc_id"))

  val ddMinhashSql: String =
    s"""WITH $minhashCte
       |SELECT * FROM mh ORDER BY doc_id""".stripMargin

  private val DefaultMaxBucketSize = 1024

  /** bands → hot-bucket cap → candidate pairs, shared by the three LSH
    * oracles so they stay index-identical with each other AND with the
    * Spark side: the row_number qualify mirrors TopKPerGroup's bucket
    * cap (the `DefaultMaxBucketSize` smallest doc_ids per (band, bkey)),
    * so a degenerate bucket larger than the cap truncates IDENTICALLY in
    * both engines instead of failing the gate on the first corpus with
    * >cap boilerplate documents in one bucket. */
  private val lshPairsCte: String = {
    val bandSelects = (0 until NumBands).map { b =>
      s"SELECT doc_id, $b AS band, md5('$b' || '|' || m${2 * b} || '|' || m${2 * b + 1}) AS bkey FROM mh"
    }.mkString("\nUNION ALL\n")
    s"""bands AS ($bandSelects),
       |bands_capped AS (
       |  SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey,
       |      row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
       |    FROM bands)
       |  WHERE rn <= $DefaultMaxBucketSize),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands_capped a JOIN bands_capped b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** LSH banding: 4 bands × 2 rows; docs sharing any band key are
    * candidate near-dup pairs. The band-key join bounds work to truly
    * similar docs — no quadratic blowup at scale. */
  /** Candidate pairs without the presentation sort (for internal reuse —
    * sorting before a downstream join/groupBy is wasted work).
    *
    * `maxBucketSize` bounds every (band, bkey) bucket: a degenerate band
    * key (boilerplate/near-empty docs all hashing together) would
    * otherwise build an unbounded `collect_list` array on one executor —
    * the classic LSH hot-bucket OOM at 100 TB. The cap runs through
    * TopKPerGroup's two-phase bounded heaps, so each input partition
    * ships at most `maxBucketSize` members per bucket into the shuffle
    * (memory AND network bounded, map-side); a truncated bucket keeps its
    * `maxBucketSize` smallest doc_ids — deterministic, and in dedup
    * practice oversize buckets are degenerate and get truncated or
    * skipped anyway. The default is far above any organic bucket in the
    * test corpus, so capped and uncapped results coincide there. */
  private[graft] def lshPairsUnsorted(
      s: SparkSession, d: String,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // Single minhash pass: explode the 4 band keys per doc, bucket docs by
    // (band, key), emit pairs inside each bucket. One aggregation, one
    // shuffle on band keys, no self-join recomputation of the signatures.
    val mh = sigDf(s, d)
    val members = mh.select(col("doc_id"),
      posexplode(array(bandKeysOf(col("sig")): _*)).as(Seq("band", "bkey")))
    graft.plans.TopKPerGroup.transform(
        members, Seq(col("band"), col("bkey")), Seq(col("doc_id").asc), maxBucketSize)
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), explode(col("ids")).as("doc_a"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  def ddLshPairs: Q = (s, d) =>
    lshPairsUnsorted(s, d).orderBy(col("doc_a"), col("doc_b"))

  val ddLshPairsSql: String =
    s"""WITH $minhashCte,
       |$lshPairsCte
       |SELECT doc_a, doc_b FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash Jaccard ESTIMATION on the same adjacent-id candidate set as
    * [[ddJaccard]]: the fraction of agreeing signature slots estimates
    * the true Jaccard (E[agree/m] = J) — the standard validation step
    * for an LSH dedup pipeline: compare this against [[ddJaccard]] to
    * size bands/rows before turning the banding loose on 100 TB.
    * Single signature pass: each doc posts its signature to BOTH pair
    * slots it participates in (pair p covers docs p and p+1), one
    * shuffle on the pair id — no self-join recomputing the signatures,
    * and the token sets never travel. */
  def ddMinhashEst: Q = (s, d) => {
    val sides = sigDf(s, d).select(explode(array(
        struct(col("doc_id").as("pid"), lit(0).as("side"), col("sig")),
        struct((col("doc_id") - 1).as("pid"), lit(1).as("side"), col("sig")))).as("e"))
      .select(col("e.pid").as("pid"), col("e.side").as("side"), col("e.sig").as("sig"))
    val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), x => x))
    sides.groupBy(col("pid"))
      .agg(first(when(col("side") === 0, col("sig")), ignoreNulls = true).as("sig_a"),
        first(when(col("side") === 1, col("sig")), ignoreNulls = true).as("sig_b"))
      .filter(col("sig_a").isNotNull && col("sig_b").isNotNull)
      .select(col("pid").as("doc_a"), (col("pid") + 1).as("doc_b"),
        agree.cast("long").as("n_agree"),
        round(agree / lit(NumHashes.toDouble), 4).as("est_jaccard"))
      .orderBy(col("doc_a"))
  }

  val ddMinhashEstSql: String = {
    val agree = (0 until NumHashes)
      .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $minhashCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($agree AS BIGINT) AS n_agree,
       |  round(($agree) / ${NumHashes}.0, 4) AS est_jaccard
       |FROM mh a JOIN mh b ON b.doc_id = a.doc_id + 1
       |ORDER BY doc_a""".stripMargin
  }

  /** Shared candidate-pair frame for the pairwise similarity measures:
    * adjacent doc ids (the deterministic candidate set for the synthetic
    * corpus — in production the pairs come from LSH banding upstream)
    * with the token-set sizes and overlap every measure derives from.
    * One definition so [[ddJaccard]] and [[ddContainment]] can never
    * drift apart on candidate semantics. */
  private def tokenPairs(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("tk"))
    val b = t.select(col("doc_id").as("b_id"), col("tk").as("b_tk"))
    t.join(b, col("b_id") === col("doc_id") + 1)
      .select(col("doc_id").as("doc_a"), col("b_id").as("doc_b"),
        size(col("tk")).cast("long").as("n_a"), size(col("b_tk")).cast("long").as("n_b"),
        size(array_intersect(col("tk"), col("b_tk"))).cast("long").as("n_common"),
        size(array_union(col("tk"), col("b_tk"))).cast("long").as("n_union"))
      // an empty token set has no definable Jaccard/containment — a
      // whitespace-only doc would divide by zero under ANSI
      // (DirtyTextSpec); mirrored in both oracle SQLs, vacuous on any
      // corpus whose docs tokenize non-empty
      .filter(col("n_a") > 0 && col("n_b") > 0)
  }

  /** Exact n-gram (token-set) Jaccard on candidate pairs — here adjacent
    * doc ids, the deterministic candidate set for the synthetic corpus. */
  def ddJaccard: Q = (s, d) =>
    tokenPairs(s, d)
      .withColumn("jaccard", floor(col("n_common") / col("n_union") * 1e4 + 0.5) / 1e4)
      .drop("n_union")
      .orderBy(col("doc_a"))

  val ddJaccardSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_distinct(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS tk
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(a.tk) AS n_a, len(b.tk) AS n_b,
      |  len(list_intersect(a.tk, b.tk)) AS n_common,
      |  floor(len(list_intersect(a.tk, b.tk)) /
      |        len(list_distinct(list_concat(a.tk, b.tk))) * 1e4 + 0.5) / 1e4 AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |WHERE len(a.tk) > 0 AND len(b.tk) > 0
      |ORDER BY doc_a""".stripMargin

  /** Directional n-gram containment on the candidate pairs: |A∩B|/|A|
    * and |A∩B|/|B|. Jaccard misses subset relationships — a snippet
    * fully contained in a larger page scores low Jaccard but
    * containment 1.0 from the snippet's side, and containment-based
    * dropping (keep the superset) is the standard fix for quote/excerpt
    * dups. Same keyed adjacent-pair shape as [[ddJaccard]] (shared
    * [[tokenPairs]] builder): candidates come from banding upstream,
    * never an all-pairs join. */
  def ddContainment: Q = (s, d) =>
    tokenPairs(s, d)
      .withColumn("containment_a", floor(col("n_common") / col("n_a") * 1e4 + 0.5) / 1e4)
      .withColumn("containment_b", floor(col("n_common") / col("n_b") * 1e4 + 0.5) / 1e4)
      .drop("n_union")
      .orderBy(col("doc_a"))

  val ddContainmentSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_distinct(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS tk
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(a.tk) AS n_a, len(b.tk) AS n_b,
      |  len(list_intersect(a.tk, b.tk)) AS n_common,
      |  floor(len(list_intersect(a.tk, b.tk)) / len(a.tk) * 1e4 + 0.5) / 1e4 AS containment_a,
      |  floor(len(list_intersect(a.tk, b.tk)) / len(b.tk) * 1e4 + 0.5) / 1e4 AS containment_b
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |WHERE len(a.tk) > 0 AND len(b.tk) > 0
      |ORDER BY doc_a""".stripMargin

  /** Exact-substring duplicate detection via winnowing (the MOSS
    * fingerprinting scheme): hash every word 5-gram, slide a window of 4
    * hashes and keep each window's minimum — any shared run of ≥ 8
    * tokens is GUARANTEED to select at least one common fingerprint in
    * both documents, which MinHash/SimHash (whole-document sketches)
    * cannot promise for a short plagiarized span inside an otherwise
    * unrelated page. Fingerprinting is record-local (one pass per doc,
    * arrays materialized through separate projections so HOF lambdas
    * never re-evaluate `split`); pairing is a keyed self-join on the
    * fingerprint value with the per-fingerprint group bounded through
    * TopKPerGroup heaps (cap 1024, deterministic keep-smallest ids;
    * the oracle mirrors the cap with a row_number qualify, so Spark
    * and DuckDB agree at any corpus size) so one degenerate boilerplate
    * fingerprint cannot go quadratic. Every pair sharing a fingerprint
    * is reported with its shared count — no minimum, because
    * overlapping windows inside a shared run routinely select the SAME
    * minimum, so even an arbitrarily long shared run can yield exactly
    * one distinct common fingerprint; a ≥2 floor would break the
    * guarantee. Consumers rank by n_shared. */
  def ddPhraseDup: Q = (s, d) => ddPhraseDupImpl(s, d, maxBucketSize = 1024)

  def ddPhraseDupImpl(s: SparkSession, d: String, maxBucketSize: Int): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
    graft.plans.GraftFunctions.register(s)
    // fused 5-gram hashing (graft_gram_buckets, mod 0) — bit-equal to
    // the md5/conv chain by GramBucketsSpec
    val hashed = docs.select(col("doc_id"),
      call_function("graft_gram_buckets", col("tk"), lit(5), lit(8), lit(0)).as("hs"))
    val fps = hashed.select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(1, size(hs) - 3), i -> array_min(slice(hs, i, 4)))"))).as("fp"))
    val bounded = graft.plans.TopKPerGroup.transform(
      fps, Seq(col("fp")), Seq(col("doc_id").asc), maxBucketSize)
    val a = bounded.select(col("fp"), col("doc_id").as("doc_a"))
    val b = bounded.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ddPhraseDupSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |d AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 8),
      |h AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 4),
      |    i -> CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
      |      || ' ' || tk[i + 3] || ' ' || tk[i + 4]), 1, 8)) AS BIGINT)) AS hs
      |  FROM d),
      |fp AS (SELECT DISTINCT doc_id, fp FROM (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(hs) - 3),
      |    i -> list_min(hs[i:i + 3]))) AS fp FROM h)),
      |fpb AS (
      |  SELECT doc_id, fp FROM (
      |    SELECT doc_id, fp,
      |      row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |    FROM fp) WHERE rn <= 1024),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM fpb a JOIN fpb b ON a.fp = b.fp AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, count(*) AS n_shared
      |FROM pairs GROUP BY 1, 2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup cluster assignment: connected components over the LSH
    * candidate-pair graph. SIZE-AWARE strategy — the candidate graph is
    * orders of magnitude smaller than the corpus (only near-dup pairs
    * survive banding), so:
    *
    *  - graphs up to `driverMaxEdges` run a path-compressed union-find
    *    ON THE DRIVER (one typed collect of (a, b) pairs, then
    *    O(E α(E)) locally): sub-second where the distributed loop pays
    *    ~4 Spark jobs PER ROUND of pure scheduling overhead. Driver
    *    memory at the 1M-edge default is ~100 MB counting the boxed
    *    tuple array plus the union-find maps — size `driverMaxEdges`
    *    to the driver heap, not to taste;
    *  - larger graphs run iterative min-label propagation with pointer
    *    jumping — each round relaxes labels across edges AND shortcuts
    *    `l(v) ← l(l(v))`, so convergence is O(log diameter) rounds, not
    *    O(diameter). Runs to the fixpoint — no silent round cap; a
    *    failure to converge throws. Each round is `localCheckpoint`ed
    *    (lineage stays O(1); at cluster scale use reliable `checkpoint`
    *    to survive executor loss), and the edge relation is cached
    *    pre-partitioned on the round join key so only the label side
    *    re-shuffles.
    *
    * Both paths produce the identical min-label-per-component fixpoint;
    * OperatorsSpec pins driver ≡ distributed on the same corpus.
    * Singletons keep their own id. Oracle: recursive-CTE transitive
    * closure (same fixpoint). */
  def ddDupGroups: Q = (s, d) => ddDupGroupsImpl(s, d, driverMaxEdges = 1000000L)

  private[graft] def ddDupGroupsImpl(
      s: SparkSession, d: String, driverMaxEdges: Long): DataFrame = {
    val pairs = lshPairsUnsorted(s, d).cache() // sizing count + whichever path runs
    val nEdges = pairs.count()
    val clustered =
      if (nEdges <= driverMaxEdges) driverUnionFind(s, pairs)
      else distributedMinLabel(pairs)
    pairs.unpersist()
    // singletons: documents not in any candidate pair
    val all = Tables.documents(s, d).select(col("doc_id"))
    all.join(clustered, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** Path-compressed union-find over a collected small edge list;
    * components relabel to their min member (deterministic). */
  private def driverUnionFind(s: SparkSession, pairs: DataFrame): DataFrame = {
    // typed collect: Tuple2 objects, not GenericRow wrappers (about half
    // the per-edge driver allocation of a Row collect)
    val edges = { import s.implicits._
      pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect() }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val reps = members.groupBy(find).flatMap { case (_, comp) =>
      val rep = comp.min
      comp.iterator.map(m => (m, rep))
    }
    import s.implicits._
    reps.toSeq.toDF("doc_id", "cluster_rep")
  }

  /** Distributed min-label propagation with pointer jumping (the
    * 100 TB path — see [[ddDupGroups]]). Delegates to the shared
    * [[graft.plans.ConnectedComponents.labelsJumped]] engine (one
    * fixpoint implementation in the repo, not two drifting copies: the
    * pre-partitioned edge relation, per-round checkpoint release, and
    * the jumped-rounds convergence guard all live there). */
  private def distributedMinLabel(pairs: DataFrame): DataFrame = {
    val cc = graft.plans.ConnectedComponents
    val edges = cc.symmetrize(pairs, "doc_a", "doc_b")
    val nodes = edges.select(col("a").as("node")).distinct()
    cc.labelsJumped(nodes, edges)
      .select(col("node").as("doc_id"), col("component").as("cluster_rep"))
  }

  val ddDupGroupsSql: String = {
    s"""WITH RECURSIVE $minhashCte,
       |$lshPairsCte,
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT e.doc_a, reach.r FROM reach JOIN edges e ON e.doc_b = reach.id),
       |clustered AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
       |FROM documents d LEFT JOIN clustered c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Dedup report: the cluster-size histogram produced after clustering —
    * how many clusters and documents sit at each duplication level, and
    * the share of the corpus that dedup would drop (docs − clusters).
    * Reads the [[ddDupGroups]] assignment; two tiny aggregations. */
  def ddClusterStats: Q = (s, d) =>
    ddDupGroups(s, d)
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("sz")).as("n_docs"),
        (count(lit(1)) * (col("sz") - 1)).as("n_droppable"))
      .orderBy(col("cluster_size"))

  val ddClusterStatsSql: String = {
    s"""WITH RECURSIVE $minhashCte,
       |$lshPairsCte,
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT e.doc_a, reach.r FROM reach JOIN edges e ON e.doc_b = reach.id),
       |clustered AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id),
       |assign AS (
       |  SELECT d.doc_id, coalesce(c.cluster_rep, d.doc_id) AS cluster_rep
       |  FROM documents d LEFT JOIN clustered c ON c.doc_id = d.doc_id),
       |szs AS (SELECT cluster_rep, count(*) AS sz FROM assign GROUP BY cluster_rep)
       |SELECT sz AS cluster_size, count(*) AS n_clusters,
       |  count(*) * sz AS n_docs, count(*) * (sz - 1) AS n_droppable
       |FROM szs GROUP BY sz ORDER BY cluster_size""".stripMargin
  }

  // ---- SimHash -----------------------------------------------------------

  /** 16-bit SimHash: per token, md5's first 4 hex nibbles supply the bits;
    * each bit votes ±1; fingerprint bit j is 1 iff the vote is positive. */
  def ddSimhash: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", md5s(col("t")))
    val withNibbles = (0 until 4).foldLeft(tok) { (df, k) =>
      df.withColumn(s"v$k",
        expr(s"instr('0123456789abcdef', substring(h, ${k + 1}, 1)) - 1"))
    }
    val voteAggs = (0 until 16).map { j =>
      val nib = j / 4; val shift = 3 - j % 4
      sum(when(expr(s"(v$nib div ${1 << shift}) % 2") === 1, 1).otherwise(-1)).as(s"vote$j")
    }
    val votes = withNibbles.groupBy(col("doc_id")).agg(voteAggs.head, voteAggs.tail: _*)
    val fp = (0 until 16).map(j => when(col(s"vote$j") > 0, 1L << j).otherwise(0L))
      .reduce(_ + _)
    votes.select(col("doc_id"), fp.as("simhash")).orderBy(col("doc_id"))
  }

  val ddSimhashSql: String = {
    val votes = (0 until 16).map { j =>
      val nib = j / 4; val shift = 3 - j % 4; val pos = nib + 1
      s"sum(CASE WHEN ((instr('0123456789abcdef', substring(h, $pos, 1)) - 1) // ${1 << shift}) % 2 = 1 THEN 1 ELSE -1 END) AS vote$j"
    }.mkString(",\n    ")
    val fp = (0 until 16).map(j => s"CASE WHEN vote$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(unnest(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0))) AS h
       |  FROM documents),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM tok GROUP BY doc_id)
       |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes ORDER BY doc_id""".stripMargin
  }

  // ---- embedding near-dup ------------------------------------------------

  /** Embedding-cosine near-dup: sign-bucket (4 bits) candidate generation,
    * then exact cosine within buckets; pairs above threshold survive.
    * The oracle-pinned query uses dims 1–4 on the test corpus; see
    * [[ddEmbedCosFor]] for the corpus-scaled form. */
  def ddEmbedCos: Q = (s, d) => {
    graft.plans.GraftFunctions.register(s)
    ddEmbedCosFor(
      Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").as("e")),
      Seq(1, 2, 3, 4), 0.25)
  }

  /** General form. `sigDims` picks the sign-hash dimensions; bucket count
    * is 2^bits, and within-bucket pair work is O((n/2^bits)²) per bucket,
    * so SCALE BITS WITH THE CORPUS: bits ≈ log2(n / targetBucketSize)
    * keeps expected bucket sizes (and executor memory/runtime per bucket)
    * constant as n grows — a fixed 4-bit sig that is fine at 10^5 vectors
    * is quadratic death at 10^9. More bits trade recall (true near-dup
    * pairs that straddle a flipped sign land in different buckets); for
    * high-threshold near-dup detection the loss stays small because
    * near-identical vectors agree on nearly all signs. */
  def ddEmbedCosFor(vectors: DataFrame, sigDims: Seq[Int], threshold: Double): DataFrame = {
    val v = vectors
      .withColumn("nrm", l2norm(col("e")))
      .withColumn("sig", signBucket(col("e"), sigDims))
    val a = v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na"), col("sig"))
    val b = v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb"), col("sig").as("sigb"))
    a.join(b, col("sig") === col("sigb") && col("vec_a") < col("vec_b"))
      .withColumn("cos", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") > threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val ddEmbedCosSql: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
      |    sqrt(list_reduce(list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)) AS nrm,
      |    concat(CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END,
      |           CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END,
      |           CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END,
      |           CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS sig
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  round(list_reduce(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]), (x, y) -> x + y) / (a.nrm * b.nrm), 4) AS cos
      |FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
      |WHERE round(list_reduce(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]), (x, y) -> x + y) / (a.nrm * b.nrm), 4) > 0.25
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Eval-set decontamination at the PUBLISHED overlap size (round 13,
    * r12 verdict item 5): per BENCHMARK document (stand-in: doc_id % 97
    * == 0 — in production the held-out eval corpus), how much of it has
    * leaked into the training corpus as shared word
    * [[DecontaminateGram]]-grams. 13 is the GPT-3 appendix-C
    * convention; the previous any-shared-3-gram rule over-fires on
    * natural language (3-grams are common phrases — at sf0.1 it flags
    * 4,636 of 5,000 docs where the 13-gram rule flags the 2 actually
    * cloned ones) and would discard half a real corpus.
    *
    * Per bench doc: its distinct-gram count, leaked distinct grams (the
    * matched spans), distinct contaminating corpus docs, total match
    * occurrences, and leaked_share — the removal/report threshold. A
    * clean bench doc reports zeros rather than vanishing (the census
    * must say "checked, clean", not nothing — and the card stays
    * non-vacuous at SFs where no 13-gram leaks exist at all). The
    * corpus-doc-flag view (which docs to drop) is
    * [[ddDecontaminatePairs]]; DecontaminationSpec pins the 13⊆3
    * pair-subset relation.
    *
    * Scale shape: the shingle join is keyed on the gram string (exact —
    * no hash false positives in a REMOVAL decision; at extreme scale a
    * hash prefilter + string verify keeps the same truth), so work is
    * bounded by true overlaps — the LSH candidate-bounding discipline.
    * The bench side is eval-corpus-sized by definition and pinned once;
    * the corpus side streams through one tokenize pass. */
  def ddDecontaminate: Q = (s, d) => {
    val n = DecontaminateGram
    val benchGrams = docGrams(Tables.documents(s, d), n)
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("g"))
      .localCheckpoint(false) // eval-sized; feeds the spine agg + the join
    // the spine comes from the bench DOCUMENTS, not the gram frame: a
    // bench doc under n tokens (or with null text) has no grams but
    // must still report as a checked row with n_grams 0 — "checked,
    // clean" holds for exactly the docs that cannot leak
    val spine = Tables.documents(s, d)
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"))
      .join(benchGrams.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("ng")), Seq("bench_id"), "left") // grams pre-deduped per doc
      .select(col("bench_id"), coalesce(col("ng"), lit(0L)).as("n_grams"))
    val hits = docGrams(Tables.documents(s, d), n)
      .filter(col("doc_id") % 97 =!= 0)
      .join(benchGrams, "g")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("g")).as("n_leaked_grams"),
        countDistinct(col("doc_id")).as("n_contam_docs"),
        count(lit(1)).as("n_shared_occurrences"))
    spine.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
        coalesce(col("n_shared_occurrences"), lit(0L)).as("n_shared_occurrences"))
      .withColumn("leaked_share", when(col("n_grams") > 0, Exact.floorRound(
        col("n_leaked_grams").cast("double") / col("n_grams"), 6)))
      .orderBy(col("bench_id"))
  }

  /** The published GPT-3 appendix-C overlap size. */
  private[graft] val DecontaminateGram = 13

  /** Per-doc distinct word n-grams (doc_id, g). */
  private def docGrams(docs: DataFrame, n: Int): DataFrame = docs
    .select(col("doc_id"), tokens(col("text")).as("tk"))
    .filter(size(col("tk")) >= n)
    .select(col("doc_id"),
      explode(array_distinct(graft.functions.TextFns.shinglesN(col("tk"), n))).as("g"))

  /** Corpus-doc flag view at gram size `n` — the REMOVAL input: every
    * (corpus doc, bench doc) pair sharing ≥1 word n-gram with its
    * shared-gram count. Same keyed-gram join shape as the census. */
  private[graft] def ddDecontaminatePairs(docs: DataFrame, n: Int): DataFrame = {
    val grams = docGrams(docs, n)
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(grams.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("g")), "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Decontamination ACTION stage (round 14, r13 verdict item 5) — the
    * removal twin of the [[ddDecontaminate]] census (the dd_line_trim
    * relationship: census reports, this one emits the cleaned corpus):
    * one row per CORPUS (non-bench) document with its contamination
    * accounting — distinct bench docs it shares a
    * [[DecontaminateGram]]-gram with, distinct shared grams — a `kept`
    * flag (kept = shares NO gram with any bench doc, the
    * doc-level-drop convention C4/Dolma-lineage pipelines apply), and
    * for kept rows the md5 of the surviving text, so the oracle
    * HASH-CHECKS the cleaned corpus itself, not just the flags (a drop
    * stage that silently mangled survivors would still fail). Dropped
    * rows stay in the card with text_md5 null — the accounting half; a
    * deployment materializes `kept = 1` and drops the column.
    *
    * Scale shape = the census's: one exact string-keyed gram join
    * (work bounded by true overlaps — no hash false positives in a
    * removal decision), the flag frame collapses to ≤|contaminated|
    * rows before the corpus-spine left join, and the hash is
    * record-local. */
  def ddDecontaminateDrop: Q = (s, d) => {
    val n = DecontaminateGram
    val docs = Tables.documents(s, d)
    val grams = docGrams(docs, n)
    val benchGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("g"))
    val flags = grams.filter(col("doc_id") % 97 =!= 0)
      .join(benchGrams, "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("nb"),
        countDistinct(col("g")).as("ng"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text"))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bench_docs"),
        coalesce(col("ng"), lit(0L)).as("n_shared_grams"),
        when(col("nb").isNull, 1L).otherwise(0L).as("kept"),
        when(col("nb").isNull, md5(col("text").cast("binary"))).as("text_md5"))
      .orderBy(col("doc_id"))
  }

  val ddDecontaminateDropSql: String = {
    val n = DecontaminateGram
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |    i -> list_aggregate(tk[i:i+${n - 1}], 'string_agg', ' ')))) AS g
       |  FROM toks WHERE len(tk) >= $n),
       |bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 97 = 0),
       |flags AS (
       |  SELECT g2.doc_id,
       |    count(DISTINCT b.bench_id) AS nb,
       |    count(DISTINCT g2.g) AS ng
       |  FROM grams g2 JOIN bench b ON b.g = g2.g
       |  WHERE g2.doc_id % 97 <> 0
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(f.nb, 0) AS BIGINT) AS n_bench_docs,
       |  CAST(coalesce(f.ng, 0) AS BIGINT) AS n_shared_grams,
       |  CAST(CASE WHEN f.nb IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  CASE WHEN f.nb IS NULL THEN md5(d.text) END AS text_md5
       |FROM documents d LEFT JOIN flags f USING (doc_id)
       |WHERE d.doc_id % 97 <> 0
       |ORDER BY d.doc_id""".stripMargin
  }

  val ddDecontaminateSql: String = {
    val n = DecontaminateGram
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk) - ${n - 1}),
       |    i -> list_aggregate(tk[i:i+${n - 1}], 'string_agg', ' ')))) AS g
       |  FROM toks WHERE len(tk) >= $n),
       |bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 97 = 0),
       |spine AS (
       |  SELECT d.doc_id AS bench_id, CAST(coalesce(bg.ng, 0) AS BIGINT) AS n_grams
       |  FROM documents d LEFT JOIN (
       |    SELECT bench_id, count(*) AS ng FROM bench GROUP BY 1) bg
       |  ON bg.bench_id = d.doc_id
       |  WHERE d.doc_id % 97 = 0),
       |hits AS (
       |  SELECT b.bench_id,
       |    count(DISTINCT g2.g) AS n_leaked_grams,
       |    count(DISTINCT g2.doc_id) AS n_contam_docs,
       |    count(*) AS n_shared_occurrences
       |  FROM grams g2 JOIN bench b ON b.g = g2.g
       |  WHERE g2.doc_id % 97 <> 0
       |  GROUP BY 1)
       |SELECT spine.bench_id, spine.n_grams,
       |  CAST(coalesce(h.n_leaked_grams, 0) AS BIGINT) AS n_leaked_grams,
       |  CAST(coalesce(h.n_contam_docs, 0) AS BIGINT) AS n_contam_docs,
       |  CAST(coalesce(h.n_shared_occurrences, 0) AS BIGINT) AS n_shared_occurrences,
       |  CASE WHEN spine.n_grams > 0 THEN ${Exact.floorRoundSql(
            "coalesce(h.n_leaked_grams, 0)::DOUBLE / spine.n_grams", 6)} END AS leaked_share
       |FROM spine LEFT JOIN hits h USING (bench_id)
       |ORDER BY bench_id""".stripMargin
  }

  /** Per-document duplicated-span share — the REMOVAL-decision metric
    * behind exact-substring dedup (cf. the reference-free "train-dedup"
    * pipelines): a doc whose token windows are largely seen elsewhere in
    * the corpus is boilerplate/scrape and gets dropped or trimmed, where
    * [[ddPhraseDup]] only reports WHICH pairs share spans. Every 8-token
    * window is hashed (8 hex digits of md5, same idiom as the winnowing
    * fingerprints); a window POSITION counts as duplicated when its hash
    * occurs more than once corpus-wide (intra-doc repeats included — a
    * doc that repeats itself is as removable as a scrape).
    *
    * Scale shape: the corpus-sized shuffle is keyed on (hash, doc_id)
    * so hash-aggregate partial combine collapses boilerplate windows
    * map-side BEFORE the exchange — the shuffle carries distinct
    * (window, doc) pairs, not every position. The per-hash total is a
    * second partial-combined `groupBy(h)` (NEVER a
    * `Window.partitionBy(h)`: a boilerplate 8-gram shared by millions
    * of docs would put all of them in ONE WindowExec partition, serial
    * at any cluster size, and AQE cannot split a window partition).
    * The duplicated-hash table — tiny relative to the corpus: only
    * hashes appearing in >1 (doc,window) pair survive — left-joins back
    * onto the pair frame; that join shuffles on h as a sort-merge join,
    * which AQE's skew-join splitting CAN break up when a hash is hot.
    * The collapsed pair frame feeds both the total branch and the join
    * branch, so it is localCheckpoint-pinned: one tokenize pass, one
    * block write of the already-collapsed frame (column pruning would
    * otherwise diverge between branches, defeat exchange reuse, and
    * re-run the tokenizer). */
  def ddSubstring: Q = (s, d) => {
    graft.plans.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
    // fused 8-gram hashing (graft_gram_buckets, mod 0 = raw 8-hex-digit
    // value) — bit-equal to the md5/conv chain by GramBucketsSpec, no
    // per-window gram string or hex round-trip in the hot pass
    val wins = docs.select(col("doc_id"), explode(
      call_function("graft_gram_buckets", col("tk"), lit(8), lit(8), lit(0))).as("h"))
    val perPair = wins.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // collapsed (h, doc) frame feeds both branches once
    val dupHashes = perPair.groupBy(col("h"))
      .agg(sum(col("c")).as("ntot"))
      .filter(col("ntot") > 1)
      .select(col("h"), lit(1).as("isdup"))
    perPair.join(dupHashes, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_windows"),
        coalesce(sum(when(col("isdup") === 1, col("c"))), lit(0L)).as("dup_windows"))
      // exact-integer quotient: both engines divide the same two longs, so
      // the double is bit-identical and the floor round is engine-agnostic
      .withColumn("dup_share",
        floor(col("dup_windows") / col("n_windows") * 1e4 + 0.5) / 1e4)
      .orderBy(col("doc_id"))
  }

  val ddSubstringSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(concat_ws(' ', tk[i], tk[i + 1], tk[i + 2],
      |      tk[i + 3], tk[i + 4], tk[i + 5], tk[i + 6], tk[i + 7])), 1, 8)) AS BIGINT) AS h
      |  FROM t, unnest(range(1, len(tk) - 6)) AS u(i)
      |  WHERE len(tk) >= 8),
      |pp AS (SELECT h, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
      |wt AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY h) AS ntot FROM pp)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
      |  CAST(coalesce(sum(c) FILTER (ntot > 1), 0) AS BIGINT) AS dup_windows,
      |  floor(coalesce(sum(c) FILTER (ntot > 1), 0) / sum(c) * 1e4 + 0.5) / 1e4 AS dup_share
      |FROM wt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Longest duplicated token run per document — the span-removal
    * threshold metric of exact-substring dedup (published pipelines cut
    * duplicated spans past ~50 tokens rather than dropping whole docs):
    * consecutive duplicated 8-token windows merge into runs
    * (gaps-and-islands), and a run of k windows covers k+7 tokens.
    * [[ddSubstring]] answers "how much of this doc is duplicated";
    * this answers "is there one long verbatim span worth cutting".
    * Only documents containing a duplicated run are emitted.
    *
    * Scale shape: n_windows = len−7 rides the explode as a record-local
    * constant — no second per-doc count pass. Positions must survive to
    * the island merge, so the per-hash total CANNOT ride a collapsed
    * frame; it is computed as a partial-combined `groupBy(h).count()`
    * (each map task pre-counts its share of a hot boilerplate hash, so
    * the h-shuffle carries at most |partitions| rows per hash) filtered
    * to duplicated hashes, then inner-joined back onto the position
    * frame on h. That join is a sort-merge join AQE's skew handling CAN
    * split when one 8-gram is corpus-hot — the previous
    * `count(*) over (partition by h)` put every position of a hot hash
    * in ONE WindowExec partition, serial at any cluster size (it was the
    * slowest query in BENCH_r06). The position frame feeds both the
    * count branch and the join branch, so it is localCheckpoint-pinned:
    * its materialized bytes are the same order as the old plan's
    * h-shuffle write, and the pin buys one tokenize+md5 pass instead of
    * two. After the join the frame is duplicated-positions-only; the
    * island window (doc-keyed — bounded by doc length) and the two
    * shrinking aggregates ride on it. */
  def ddDupSpan: Q = (s, d) => {
    graft.plans.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
    val wins = docs
      .select(col("doc_id"), (size(col("tk")) - 7).cast("long").as("n_windows"),
        // fused 8-gram hashing (graft_gram_buckets, mod 0) — bit-equal
        // to the md5/conv chain by GramBucketsSpec
        posexplode(call_function("graft_gram_buckets",
          col("tk"), lit(8), lit(8), lit(0)))
          .as(Seq("pos", "h")))
      .localCheckpoint(true) // position frame feeds count + join branches once;
    // its materialized bytes ≈ the old plan's h-shuffle write, so this
    // trades the second tokenize+md5 pass for a same-sized block write
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("ntot"))
      .filter(col("ntot") > 1)
      .select(col("h"))
    val dup = wins.join(dupHashes, "h")
    val islands = dup
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    islands
      .groupBy(col("doc_id"), col("n_windows"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"), col("n_windows"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("run_len")).as("max_run_windows"))
      .withColumn("max_run_tokens", col("max_run_windows") + 7)
      .orderBy(col("doc_id"))
  }

  val ddDupSpanSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, CAST(len(tk) - 7 AS BIGINT) AS n_windows, i AS pos,
      |    CAST(('0x' || substr(md5(concat_ws(' ', tk[i], tk[i + 1], tk[i + 2],
      |      tk[i + 3], tk[i + 4], tk[i + 5], tk[i + 6], tk[i + 7])), 1, 8)) AS BIGINT) AS h
      |  FROM t, unnest(range(1, len(tk) - 6)) AS u(i)
      |  WHERE len(tk) >= 8),
      |dup AS (
      |  SELECT doc_id, n_windows, pos FROM (
      |    SELECT doc_id, n_windows, pos, count(*) OVER (PARTITION BY h) AS ntot FROM w)
      |  WHERE ntot > 1),
      |isl AS (
      |  SELECT doc_id, n_windows,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM dup),
      |runs AS (
      |  SELECT doc_id, n_windows, count(*) AS run_len
      |  FROM isl GROUP BY doc_id, n_windows, grp)
      |SELECT doc_id, n_windows, count(*) AS n_runs,
      |  CAST(max(run_len) AS BIGINT) AS max_run_windows,
      |  CAST(max(run_len) + 7 AS BIGINT) AS max_run_tokens
      |FROM runs GROUP BY doc_id, n_windows ORDER BY doc_id""".stripMargin

  /** Span-cut threshold in TOKENS: a duplicated run this long or longer
    * is excised by [[ddSpanTrim]] — the published ~50-token verbatim-
    * span removal convention (the Lee et al. 2022 exact-substring
    * lineage: cut long verbatim repeats, keep the document remainder).
    * [[ddDupSpan]]'s `max_run_tokens` column measures against exactly
    * this threshold. */
  final val SpanTrimTokens = 50

  /** Verbatim duplicated-span TRIM (round 15, r14 verdict item 1) — the
    * REMOVAL twin of [[ddDupSpan]] at span granularity, completing the
    * report→act symmetry the line family already has ([[ddLineDup]] →
    * [[ddLineTrim]]): [[ddDupSpan]] measures the longest duplicated
    * token run per doc; this operator CUTS every duplicated run of
    * [[SpanTrimTokens]]+ tokens and emits the cleaned text (kept tokens
    * in original order, space-joined) plus the per-doc token ledger a
    * corpus budget is re-planned against. Whole-doc dropping
    * ([[ddExact]]) and line trimming ([[ddLineTrim]]) bracket this
    * operator; span cutting is the published middle — the ~50-token
    * verbatim-span convention that removes boilerplate repeats too long
    * to be legitimate quotation without sacrificing the document.
    *
    * ONE duplicated rule with the census: a window is duplicated iff
    * its fused 8-gram hash ([[graft.functions.GramBuckets]], the
    * dd_dup_span geometry) occurs more than once corpus-wide;
    * consecutive duplicated windows merge into runs (gaps-and-islands,
    * the census's exact frame); a run of windows [p0, p1] covers tokens
    * p0 .. p1+7. Every document is emitted — unaffected docs pass
    * through with their full token-joined text and zero removal (a trim
    * stage outputs the corpus, not a report; the dd_decontaminate_drop
    * spine discipline) — so the oracle hash-checks the whole cleaned
    * corpus.
    *
    * Scale shape: the position frame is pinned ONCE (one tokenize+hash
    * pass feeds census + join-back — the dd_dup_span pin); the census
    * is a partial-agged `groupBy(h)` and joins back keyed on h
    * (sort-merge, AQE-skew-splittable — never `Window.partitionBy(h)`);
    * islands ride a doc-keyed window bounded by doc length. The cut
    * itself joins ONE row per affected doc (the spans array — never a
    * token- or window-level frame) back onto the corpus keyed by
    * doc_id (AQE broadcasts it when small), and the excision is
    * RECORD-LOCAL: an index-aware `filter` over the token array probes
    * the ≤spans-per-doc array per token; no token-level shuffle, no
    * collect_list reassembly of documents. Pure integer/string
    * arithmetic end to end — hash-exact cross-engine. */
  def ddSpanTrim: Q = (s, d) => {
    graft.plans.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val wins = base.filter(size(col("tk")) >= 8)
      .select(col("doc_id"),
        posexplode(call_function("graft_gram_buckets",
          col("tk"), lit(8), lit(8), lit(0))).as(Seq("pos", "h")))
      .localCheckpoint(true) // one tokenize+hash pass feeds census + join
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("ntot"))
      .filter(col("ntot") > 1)
      .select(col("h"))
    val runs = wins.join(dupHashes, "h")
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      .filter(col("p1") - col("p0") + lit(8) >= SpanTrimTokens)
    val spans = runs.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("p0"), col("p1")))).as("spans"),
        count(lit(1)).cast("long").as("n_spans_cut"))
    // token index i (0-based) is cut iff some qualifying run [p0, p1]
    // covers it: p0 <= i <= p1 + 7. Runs are separated by >= 1 non-dup
    // WINDOW but their token shadows can overlap — the per-token probe
    // handles overlap without a distinct pass. `spans` is a materialized
    // join attribute (not an aliased subexpression), so the per-token
    // exists probe costs |spans per doc|, never a re-derivation.
    val keptArr = when(col("spans").isNull, col("tk")).otherwise(
      filter(col("tk"), (_, i) =>
        !exists(col("spans"), sp =>
          i >= sp.getField("p0") && i <= sp.getField("p1") + lit(7))))
    base.join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        concat_ws(" ", keptArr).as("cleaned_text"),
        when(col("tk").isNull, 0L)
          .otherwise(size(col("tk")).cast("long")).as("n_tokens"),
        when(col("tk").isNull, 0L)
          .otherwise(size(keptArr).cast("long")).as("kept_tokens"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"))
      .withColumn("removed_tokens", col("n_tokens") - col("kept_tokens"))
      .select(col("doc_id"), col("cleaned_text"), col("n_tokens"),
        col("kept_tokens"), col("removed_tokens"), col("n_spans_cut"))
      .orderBy(col("doc_id"))
  }

  /** Oracle twin of [[ddSpanTrim]] — [[ddDupSpanSql]]'s window/island
    * frame (1-based where Spark's is 0-based; each engine is internally
    * consistent, and the emitted text/counts are base-free), a
    * token-level cut set (DuckDB can afford the explode at oracle
    * scale; the Spark side cuts record-locally instead), and the
    * documents spine so untouched docs round-trip. */
  val ddSpanTrimSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, i AS pos,
       |    CAST(('0x' || substr(md5(concat_ws(' ', tk[i], tk[i + 1], tk[i + 2],
       |      tk[i + 3], tk[i + 4], tk[i + 5], tk[i + 6], tk[i + 7])), 1, 8)) AS BIGINT) AS h
       |  FROM t, unnest(range(1, len(tk) - 6)) AS u(i)
       |  WHERE len(tk) >= 8),
       |hc AS (SELECT h FROM (SELECT h, count(*) AS c FROM w GROUP BY 1) WHERE c > 1),
       |dup AS (SELECT doc_id, pos FROM w JOIN hc USING (h)),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup),
       |runs AS (
       |  SELECT doc_id, min(pos) AS p0, max(pos) AS p1
       |  FROM isl GROUP BY doc_id, grp
       |  HAVING max(pos) - min(pos) + 8 >= $SpanTrimTokens),
       |cut AS (
       |  SELECT DISTINCT doc_id, ti
       |  FROM runs, unnest(generate_series(p0, p1 + 7)) AS c(ti)),
       |toks AS (
       |  SELECT doc_id, ti, tk[ti] AS tok
       |  FROM t, unnest(generate_series(1, len(tk))) AS u(ti)),
       |j AS (
       |  SELECT toks.doc_id, toks.ti, toks.tok, (cut.ti IS NOT NULL) AS iscut
       |  FROM toks LEFT JOIN cut
       |  ON cut.doc_id = toks.doc_id AND cut.ti = toks.ti),
       |agg AS (
       |  SELECT doc_id,
       |    coalesce(string_agg(tok, ' ' ORDER BY ti) FILTER (NOT iscut), '') AS cleaned_text,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(count(*) FILTER (NOT iscut), 0) AS BIGINT) AS kept_tokens,
       |    CAST(coalesce(count(*) FILTER (iscut), 0) AS BIGINT) AS removed_tokens
       |  FROM j GROUP BY doc_id),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut
       |  FROM runs GROUP BY 1)
       |SELECT d.doc_id,
       |  coalesce(a.cleaned_text, '') AS cleaned_text,
       |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  CAST(coalesce(a.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       |  CAST(coalesce(s.n_spans_cut, 0) AS BIGINT) AS n_spans_cut
       |FROM documents d
       |LEFT JOIN agg a USING (doc_id)
       |LEFT JOIN sc s USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Bloom-gate dedup report — the batch face of
    * [[graft.streaming.Transforms.bloomDedup]]: treat even doc_ids as the
    * already-ingested history, run the whole corpus through the Bloom
    * gate, and report per-source arrival/kept/dropped counts. NO SQL
    * oracle BY DESIGN (DuckDB cannot reproduce Spark's BloomFilterImpl
    * bit pattern); the driver records a rows-only check and the
    * zero-false-negative + fpp-bounded-false-positive semantics are
    * pinned in StreamingSpec and OperatorsSpec instead — the same
    * treatment as `q_approx_distinct`'s sketch. Deterministic for a
    * given corpus: the filter's bits are a pure function of the inserted
    * hash set and sizing. */
  def ddBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // content-independent hash split for the synthetic history — doc_id
    // parity would correlate with `source` (id % 20) and make every lane
    // all-or-nothing, hiding per-lane false-positive behavior
    val hist = docs.filter(hashBucket("bloomhist|", col("doc_id"), 8, 2) === 0)
    val kept = graft.streaming.Transforms.bloomDedup(
      docs, hist, expectedItems = math.max(hist.count(), 1L), fpp = 0.01)
    val keptCounts = kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(keptCounts, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy(col("source"))
  }

  /** Batch audit of the streaming NEAR-dup ingest gate
    * [[graft.streaming.Transforms.nearDupDedup]] — [[ddBloom]]'s shape,
    * but the filter holds the history's LSH BAND keys (the
    * [[bandKeysOf]] contract) instead of content hashes, so docs that
    * are LSH candidate near-duplicates of the history are dropped, not
    * just byte-identical ones. Same rows-only treatment as dd_bloom (the
    * Bloom bit pattern is not reproducible in DuckDB); the
    * zero-false-negative / fpp-bounded-false-drop semantics are pinned
    * in StreamingSpec. Deterministic for a given corpus. */
  def ddNeardup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val hist = docs.filter(hashBucket("ndhist|", col("doc_id"), 8, 2) === 0)
    val kept = graft.streaming.Transforms.nearDupDedup(
      docs, hist, expectedDocs = math.max(hist.count(), 1L), fpp = 0.01)
    val keptCounts = kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(keptCounts, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy(col("source"))
  }

  /** Exact Jaccard-threshold self-join (J ≥ 0.9 over word 3-gram SHINGLE
    * sets — the similarity space MinHash actually estimates, so the
    * result is the ground truth [[ddLshPairs]]' banding approximates) via
    * prefix filtering — the AllPairs/PPJoin candidate scheme (Bayardo et
    * al. WWW'07; Xiao et al. WWW'08): unlike banding (probabilistic, can
    * miss pairs) this finds EVERY pair at or above the threshold without
    * an O(n²) comparison. Reference analogue: the dedup gate's candidate
    * generation (stream-loader dedups by exact key only; this is the
    * set-similarity upgrade a training corpus needs).
    *
    * Shingle sets, not token sets, deliberately: the synthetic corpus is
    * templated, so TOKEN-set Jaccard is degenerate (58% of ALL pairs at
    * J ≥ 0.6, ~1M pairs at ≥ 0.9 at sf0.1 — shared vocabulary, different
    * order) while shingle Jaccard is bimodal (~25 true rewrite-dup pairs
    * at sf0.01, everything else < 0.1) — phrase structure is what
    * near-dup dedup actually keys on, and it is what [[ddLshRecall]]
    * needs the truth set in.
    *
    * Scheme: shingles get a canonical global order (document frequency
    * ascending, shingle ascending — rarest first), each doc posts only
    * its first `|x| − ceil(t·|x|) + 1` ordered shingles to the inverted
    * index, and only docs sharing a posted shingle become candidates.
    * Symmetric prefix posting with each record's own bound is exact: if
    * the two prefixes were disjoint, every common shingle would lie past
    * the later prefix boundary, capping the overlap at ceil(t·|x|) − 1 <
    * the required ceil(t·|x|) (WLOG argument on the larger boundary
    * element). The length filter t·|y| ≤ |x| ≤ |y|/t prunes
    * size-incompatible pairs before the distinct. Threshold tests are
    * integer cross-multiplications (10·overlap ≥ 9·union) — no float
    * boundary.
    *
    * Execution:
    *  1. The canonical order is built RECORD-LOCALLY — each doc keyed-
    *     joins its shingles to their corpus df and sorts the (df,
    *     shingle) structs per record. No global rank table: a dense-rank
    *     re-encoding (row_number over the vocabulary) was measured 6×
    *     SLOWER here because the shingle vocab is ≈corpus-sized, so its
    *     single-partition rank window serializes and its broadcast
    *     bloats. (On a dense TOKEN-set corpus the trade flips — small
    *     vocab, millions of candidates — and int ranks + this same merge
    *     kernel took the verify stage from ~20 s to ~1 s at sf0.1.)
    *  2. Verification counts overlap with the codegen'd two-pointer
    *     merge `graft_overlap` (functions/SortedOverlap.scala) over
    *     lexicographically sorted shingle arrays instead of
    *     `array_intersect`'s per-row hash set.
    *  3. The candidate self-join is KEYED on the shingle (posting lists
    *     stay short under rare-first prefixes); the verify stage fetches
    *     each side's sorted shingle array with plain KEYED joins on doc
    *     id — the doc→shingles table is corpus-sized (one ~1 KB row per
    *     document), so a broadcast hint here would push the whole
    *     corpus's shingle sets through the driver at 100 TB. The
    *     candidate set is prefix-filter-bounded, so both joins are
    *     small-keyed shuffles (the dd_edit_pairs shape), and AQE is left
    *     free to broadcast if the verified side really is small.
    *
    * Scale: the index holds prefixes only, keyed by shingle with
    * rare-first order keeping posting lists short — the classic AllPairs
    * property that frequent elements are posted only by docs whose
    * prefix reaches them.
    * Two corpus scans (ScanAudit: documents=2) are DELIBERATE — the
    * structural minimum for a global-order re-encoding: pass 1 builds the
    * vocabulary ranks, pass 2 re-reads to encode against them. */
  def ddPpjoin: Q = (s, d) =>
    ppjoinPairsUnsorted(s, d).orderBy(col("doc_a"), col("doc_b"))

  // The exact J ≥ 0.9 truth-pair set memoized per (session, dir + data
  // fingerprint) — round-15 optimization (the annTruth discipline): FIVE
  // queries consume this pass (dd_ppjoin presents it; dd_lsh_recall,
  // dd_lsh_tuning, dd_sig_width and dd_sig_plan evaluate against it) and
  // each previously re-ran the whole shingle/prefix/verify pipeline. The
  // pass is deterministic (integer cross-multiplication thresholds,
  // exact overlap counts), so the memo is exact; the pinned frame is
  // truth-pair-sized (never O(n²), the prefix-filter contract) and the
  // build is priced as a shared build after eviction
  // (graft.SparkEntry.SharedBuilds).
  private[graft] val ppjoinMemo = new graft.util.SessionMemo[DataFrame]("documents")

  /** Drop the memoized truth so a timed call prices the
    * shingle/prefix/verify build the banding cards amortize. Kept with
    * this name and arity: perfbench's query_mix finds it and
    * [[ppjoinPairsUnsorted]] by reflection to price the memo in a traced
    * run. Quiescent paths only ([[graft.util.SessionMemo.Keyed.evict]]). */
  private[graft] def evictPpjoinTruth(s: SparkSession): Unit = ppjoinMemo.evict(s)

  /** [[ddPpjoin]] without the presentation sort (internal reuse —
    * [[ddLshRecall]] joins/aggregates downstream, so sorting first is
    * wasted work). Memoized + lazily pinned (round 15). */
  private[graft] def ppjoinPairsUnsorted(s: SparkSession, d: String): DataFrame =
    ppjoinMemo.getOrCompute(s, d)(
      ppjoinPairsBuild(s, d).localCheckpoint(false))

  private def ppjoinPairsBuild(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val (tNum, tDen) = (9, 10) // J >= 9/10 as an exact rational
    // Shingles WITHOUT higher-order functions: posexplode materializes
    // the token stream once, two leads over a doc-keyed window build the
    // 3-grams. The lambda shape (transform + element_at over a bound
    // tokens column) is an optimizer trap with teeth here: the size()>=1
    // filter pushes below the projections with split() re-inlined into
    // every element_at, and this operator's FOUR consumers of the
    // shingle set each repay that interpreted HOF cost — measured 10 s
    // per corpus pass at sf0.1, ~40 s for the query. The window version
    // tokenizes once per pass; localCheckpoint then pins the kilobyte
    // (doc, shingle) table so all four consumers share ONE corpus scan.
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val shingled = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1"), col("t2")).as("t"))
      .distinct()
      .localCheckpoint(true)
    val toks = shingled
    val dfreq = toks.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // Rare-first canonical order built RECORD-LOCALLY: keyed-join each
    // doc's shingles to their df, then sort the (df, shingle) structs
    // per doc. (A global dense-rank table — row_number over the
    // vocabulary — was measured 6× slower here: the shingle vocab is
    // ≈corpus-sized, so its single-partition rank window serializes and
    // its broadcast bloats, where this shape shuffles only on the
    // shingle key and sorts O(|doc|) per record.)
    val ordered = toks.join(dfreq, "t")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("st"))
      .select(col("doc_id"), size(col("st")).as("sz"),
        transform(col("st"), e => e.getField("t")).as("stk"))
    val pref = ordered.select(col("doc_id"), col("sz"),
        posexplode(slice(col("stk"), lit(1),
          col("sz") - expr(s"($tNum * sz + ${tDen - 1}) div $tDen") + 1)))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "t")
    // PPJoin positional filter (exact): for a true pair the FIRST shared
    // prefix shingle has all common shingles at or past its two
    // positions, so overlap ≤ min(sz−pos) incl. the match; pairs whose
    // best row misses the tight Jaccard overlap bound
    // ceil(t/(1+t)·(sa+sb)) drop BEFORE the distinct
    // (19·bound ≥ 9·(sa+sb) ⟺ bound ≥ that ceil).
    val cand = pref.select(col("t"), col("doc_id").as("id_a"),
        col("sz").as("sz_a"), col("p").as("p_a"))
      .join(pref.select(col("t"), col("doc_id").as("id_b"),
        col("sz").as("sz_b"), col("p").as("p_b")), "t")
      .filter(col("id_a") < col("id_b") &&
        lit(tNum) * greatest(col("sz_a"), col("sz_b")) <=
          lit(tDen) * least(col("sz_a"), col("sz_b")) &&
        lit(tNum + tDen) * least(col("sz_a") - col("p_a"), col("sz_b") - col("p_b")) >=
          lit(tNum) * (col("sz_a") + col("sz_b")))
      .select(col("id_a"), col("id_b")).distinct()
    // Verify on lexicographically sorted shingle arrays with the merge
    // kernel (sort_array's UTF8-binary order is graft_overlap's string
    // order, so the count equals |A∩B| with zero hashing).
    val sdocs = shingled.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("t"))).as("stk"))
    cand
      .join(sdocs.select(col("doc_id").as("id_a"), col("stk").as("s_a")), "id_a")
      .join(sdocs.select(col("doc_id").as("id_b"), col("stk").as("s_b")), "id_b")
      .withColumn("n_common",
        call_function("graft_overlap", col("s_a"), col("s_b")).cast("long"))
      .withColumn("n_union",
        size(col("s_a")).cast("long") + size(col("s_b")).cast("long") - col("n_common"))
      .filter(lit(tDen) * col("n_common") >= lit(tNum) * col("n_union"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("n_common"),
        (floor(col("n_common") / col("n_union") * 1e4 + 0.5) / 1e4).as("jaccard"))
  }

  /** LSH index-health report: recall of the [[ddLshPairs]] banding
    * measured against the EXACT J ≥ 0.9 truth set from [[ddPpjoin]], per
    * 0.05-wide Jaccard band — the validation loop an LSH dedup pipeline
    * runs before trusting 4×2 banding on a new corpus (the theoretical
    * catch probability 1−(1−J²)⁴ falls from 0.9993 at J=1 to ~0.98 at
    * J=0.9; this measures the real thing, estimator variance included).
    * Scale: the truth side is the prefix-filtered join (never O(n²)), the
    * LSH side one signature pass; the probe is a pair-keyed left join of
    * two pair sets, grouped to ≤3 output rows. */
  def ddLshRecall: Q = (s, d) => {
    val truth = ppjoinPairsUnsorted(s, d)
    val lsh = lshPairsUnsorted(s, d).withColumn("caught", lit(1))
    truth.join(lsh, Seq("doc_a", "doc_b"), "left")
      .select(col("jaccard"), coalesce(col("caught"), lit(0)).as("caught"))
      .withColumn("j_band", floor(col("jaccard") * 20) / 20)
      .groupBy(col("j_band"))
      .agg(count(lit(1)).as("n_true"), sum(col("caught")).cast("long").as("n_caught"))
      .withColumn("recall", floor(col("n_caught") / col("n_true") * 1e4 + 0.5) / 1e4)
      .orderBy(col("j_band"))
  }

  /** LSH banding TUNING card — [[ddLshRecall]] measures the shipped
    * 4×2 config; this sweeps every (bands × rows) arrangement of the
    * 8-hash signature — 8×1, 4×2, 2×4, 1×8 — and reports each config's
    * measured catch rate on the exact J ≥ 0.9 truth set: the actual
    * decision table for trading index size (more bands = more keys)
    * against precision (more rows = fewer false candidates) before
    * turning banding loose on a new corpus.
    *
    * Scale: the truth set is the prefix-filtered PPJoin pair set (tiny
    * by construction — true near-dups, never O(n²)); signatures join in
    * by doc id (AQE broadcasts the pair side), and band collision per
    * config is RECORD-LOCAL slot equality on the two 8-slot signatures
    * — equal slots ⟺ equal band keys, so no banding explode/join runs
    * at all. One minhash pass per signature side. */
  /** Exact J ≥ 0.9 truth pairs joined to per-doc signature slot columns
    * (`a_m*` / `b_m*`) — the shared scaffold of the two banding cards
    * ([[ddLshTuning]], [[ddSigWidth]]). */
  private def truthWithSignatures(s: SparkSession, d: String, mh: DataFrame): DataFrame = {
    val truth = ppjoinPairsUnsorted(s, d).select(col("doc_a"), col("doc_b"))
    val sa = mh.toDF(mh.columns.map(c => if (c == "doc_id") "doc_a" else "a_" + c): _*)
    val sb = mh.toDF(mh.columns.map(c => if (c == "doc_id") "doc_b" else "b_" + c): _*)
    truth.join(sa, "doc_a").join(sb, "doc_b")
  }

  /** Record-local band collision of an (nb × nr) arrangement over the
    * joined slot columns — equal slots ⟺ equal band keys, THE banding
    * predicate both cards measure. */
  private def bandCollision(nb: Int, nr: Int): org.apache.spark.sql.Column =
    (0 until nb).map { i =>
      (0 until nr).map(j => col(s"a_m${i * nr + j}") === col(s"b_m${i * nr + j}"))
        .reduce(_ && _)
    }.reduce(_ || _)

  def ddLshTuning: Q = (s, d) =>
    truthWithSignatures(s, d, minhashDf(s, d))
      .select(explode(array(LshConfigs.map { case (nb, nr) =>
        struct(lit(nb.toLong).as("bands"), lit(nr.toLong).as("rows_per_band"),
          when(bandCollision(nb, nr), 1L).otherwise(0L).as("c"))
      }: _*)).as("x"))
      .groupBy(col("x.bands").as("bands"), col("x.rows_per_band").as("rows_per_band"))
      .agg(count(lit(1)).as("n_true"), sum(col("x.c")).as("n_caught"))
      .withColumn("catch_rate",
        floor(col("n_caught") / col("n_true") * 1e4 + 0.5) / 1e4)
      .orderBy(col("bands").desc)

  private val LshConfigs = Seq((8, 1), (4, 2), (2, 4), (1, 8))

  /** Signature-WIDTH scaling card — the parameter [[ddLshTuning]] holds
    * fixed: the shipped 8-perm signature is sized for this corpus, but
    * MinHash catch probability at a fixed rows-per-band is
    * 1−(1−Jʳ)ᵇ, so the band count (= perms / rows) must GROW with the
    * corpus before banding is trusted at 100 TB. This card measures the
    * real catch rate of 8/16/32-perm signatures (rows-per-band 2 and 4)
    * on the exact J ≥ 0.9 truth set from [[ddPpjoin]], next to the
    * theoretical rate at the J = 0.9 threshold boundary (the worst case
    * inside the truth set) — the data-driven table for choosing
    * signature width at any scale, instead of folklore.
    *
    * Scale shape: ONE widest (32-perm) signature pass — salts are a
    * prefix chain ([[graft.functions.MinHashSig.computeFromTokensN]]),
    * so every narrower width is a slot-prefix slice of the same column;
    * the truth side is the prefix-filtered PPJoin pair set (never
    * O(n²)); band collision per config is RECORD-LOCAL slot equality on
    * the joined signature pair — no banding explode/join executes. The
    * predicted column is a per-config CONSTANT (exact 6-dp literal on
    * both engines; a per-pair mean would add float-sum order hazards
    * for no decision value). */
  def ddSigWidth: Q = (s, d) => {
    graft.plans.GraftFunctions.register(s)
    val wide = Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"),
        call_function("graft_minhash_tokens_w", tokens(col("text")), lit(8)).as("sig"))
      .filter(element_at(col("sig"), 1).isNotNull)
    val mh = wide.select(col("doc_id") +:
      (0 until 32).map(j => element_at(col("sig"), j + 1).as(s"m$j")): _*)
    truthWithSignatures(s, d, mh)
      .select(explode(array(SigWidthConfigs.map { case (perms, nb, nr) =>
        struct(lit(perms.toLong).as("perms"),
          lit(nb.toLong).as("bands"), lit(nr.toLong).as("rows_per_band"),
          when(bandCollision(nb, nr), 1L).otherwise(0L).as("c"))
      }: _*)).as("x"))
      .groupBy(col("x.perms").as("perms"), col("x.bands").as("bands"),
        col("x.rows_per_band").as("rows_per_band"))
      .agg(count(lit(1)).as("n_true"), sum(col("x.c")).as("n_caught"))
      .withColumn("catch_rate",
        floor(col("n_caught") / col("n_true") * 1e4 + 0.5) / 1e4)
      .withColumn("predicted_at_t",
        SigWidthConfigs.foldLeft(lit(null).cast("double")) {
          case (acc, (perms, nb, nr)) =>
            when(col("perms") === perms && col("bands") === nb,
              lit(predictedAtThreshold(nb, nr))).otherwise(acc)
        })
      .orderBy(col("perms"), col("bands"))
  }

  /** (perms, bands, rows): rows-per-band 2 and 4 at each width; the
    * first 4·g slots of the 32-perm signature ARE the 4·g-perm one. */
  private val SigWidthConfigs =
    Seq((8, 4, 2), (8, 2, 4), (16, 8, 2), (16, 4, 4), (32, 16, 2), (32, 8, 4))

  /** 1−(1−0.9ʳ)ᵇ rounded to 6 dp — a driver-side constant embedded as
    * the SAME literal in the Spark plan and the oracle SQL, so the
    * column is cross-engine exact by construction. */
  private def predictedAtThreshold(b: Int, r: Int): Double = {
    val p = 1.0 - math.pow(1.0 - math.pow(0.9, r), b)
    math.floor(p * 1e6 + 0.5) / 1e6
  }

  /** Signature-PLAN recommendation card — the decision step AFTER
    * [[ddSigWidth]]'s measurement: given the MEASURED Jaccard
    * distribution of the exact truth set, emit the minimal band count
    * (and implied perms) whose predicted catch rate reaches each target
    * — the "how wide do I build the signature for THIS corpus at THAT
    * recall" answer a 100 TB dedup operator actually needs, closed-form
    * per pair (catch(b) = 1−(1−Jʳ)ᵇ averaged over the truth pairs)
    * instead of folklore or the worst-case-only J=0.9 constant.
    *
    * Candidate band counts are POWERS OF TWO (1..128): doubling is how
    * signatures actually grow, and it keeps every power cross-engine
    * IEEE-exact — Jʳ and (1−Jʳ)ᵇ compose from MULTIPLICATIONS ONLY
    * (repeated squaring), never a libm pow whose last ulp may differ
    * between the JVM and DuckDB. The per-pair catch terms sum through
    * decimal(38,18) (the ev_decay idiom) so the truth-set mean is
    * independent of partition/sum order; the mean divides as
    * decimal-sum-derived double over the pair count with mirrored
    * operator order and floor-rounds to 4 dp before the ≥ target
    * comparison (identical doubles on both sides ⟹ identical
    * comparison).
    *
    * Scale shape: the truth side is the prefix-filtered PPJoin pair set
    * (never O(n²)) whose tokenize pass lands in [[ppjoinPairsUnsorted]]'s
    * checkpoint pin; the power chain is record-local arithmetic on that
    * tiny pair frame; the 16-row (r, b) grid is checkpoint-pinned for
    * its two consumers (threshold scan + plan lookup). Empty truth set
    * → empty card (nothing to recommend from). */
  def ddSigPlan: Q = (s, d) => {
    val tj = ppjoinPairsUnsorted(s, d).select(col("jaccard").as("j"))
    // miss bases per rows-per-band: 1 - J^r via multiplication only
    var dfx = tj
      .withColumn("j2", col("j") * col("j"))
      .withColumn("p_2_1", lit(1.0) - col("j2"))
      .withColumn("p_4_1", lit(1.0) - col("j2") * col("j2"))
      .drop("j2")
    // repeated squaring: p_r_b = (1 - J^r)^b for b = 2^k
    for (r <- SigPlanRows; k <- 1 to 7) {
      val b = 1 << k; val h = 1 << (k - 1)
      dfx = dfx.withColumn(s"p_${r}_$b", col(s"p_${r}_$h") * col(s"p_${r}_$h"))
    }
    val entries = for (r <- SigPlanRows; k <- 0 to 7; b = 1 << k) yield
      struct(lit(r.toLong).as("rows_per_band"), lit(b.toLong).as("bands"),
        (lit(1.0) - col(s"p_${r}_$b")).cast("decimal(38,18)").as("ct"))
    val grid = dfx.select(explode(array(entries: _*)).as("x"))
      .groupBy(col("x.rows_per_band").as("rows_per_band"), col("x.bands").as("bands"))
      .agg(count(lit(1)).as("n_true"), sum(col("x.ct")).as("sct"))
      .withColumn("predicted_catch",
        floor(col("sct").cast("double") / col("n_true") * 1e4 + 0.5) / 1e4)
      .withColumn("perms", col("bands") * col("rows_per_band"))
      .select(col("rows_per_band"), col("bands"), col("perms"), col("predicted_catch"))
      .localCheckpoint(true) // 16-row grid feeds the scan + lookup branches once
    val targets = s.range(1)
      .select(explode(array(SigPlanTargets.map(lit): _*)).as("target_catch"))
    val rec = grid.crossJoin(targets)
      .filter(col("predicted_catch") >= col("target_catch"))
      .groupBy(col("rows_per_band"), col("target_catch"))
      .agg(min(col("bands")).as("recommended_bands"))
    val lookup = grid.select(col("rows_per_band").as("r2"), col("bands").as("b2"),
      col("perms"), col("predicted_catch"))
    rec.join(lookup, rec("rows_per_band") === lookup("r2") &&
        rec("recommended_bands") === lookup("b2"))
      .select(col("rows_per_band"), col("target_catch"),
        col("recommended_bands"), col("perms").as("recommended_perms"),
        col("predicted_catch"))
      .orderBy(col("rows_per_band"), col("target_catch"))
  }

  private val SigPlanRows = Seq(2, 4)
  private val SigPlanTargets = Seq(0.95, 0.99)

  val ddSigPlanSql: String = {
    // the same repeated-squaring chain, one CTE per squaring step
    val sq = (1 to 7).map { k =>
      val b = 1 << k; val h = 1 << (k - 1)
      s"pw$k AS (SELECT *, ${SigPlanRows.map(r => s"p_${r}_$h * p_${r}_$h AS p_${r}_$b").mkString(", ")} FROM pw${k - 1})"
    }.mkString(",\n")
    val branches = (for (r <- SigPlanRows; k <- 0 to 7; b = 1 << k) yield
      s"SELECT CAST($r AS BIGINT) AS rows_per_band, CAST($b AS BIGINT) AS bands, " +
        s"CAST(1 - p_${r}_$b AS DECIMAL(38,18)) AS ct FROM pw7").mkString("\nUNION ALL ")
    val targets = SigPlanTargets.map(t => s"SELECT CAST($t AS DOUBLE) AS target_catch")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS tk
       |  FROM documents),
       |tset AS (SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sk
       |  FROM toks WHERE len(tk) >= 3),
       |tr AS (SELECT len(list_intersect(a.sk, b.sk)) AS n_common,
       |    len(a.sk) + len(b.sk) - len(list_intersect(a.sk, b.sk)) AS n_union
       |  FROM tset a JOIN tset b ON b.doc_id > a.doc_id
       |  WHERE len(a.sk) >= 1 AND len(b.sk) >= 1
       |    AND 9 * greatest(len(a.sk), len(b.sk)) <= 10 * least(len(a.sk), len(b.sk))),
       |tj AS (SELECT floor(n_common / n_union * 1e4 + 0.5) / 1e4 AS j
       |  FROM tr WHERE 10 * n_common >= 9 * n_union),
       |pw0 AS (SELECT j, 1 - j * j AS p_2_1, 1 - (j * j) * (j * j) AS p_4_1 FROM tj),
       |$sq,
       |x AS ($branches),
       |g AS (SELECT rows_per_band, bands, count(*) AS n_true, sum(ct) AS sct
       |  FROM x GROUP BY 1, 2),
       |g2 AS (SELECT rows_per_band, bands, bands * rows_per_band AS perms,
       |    floor(CAST(sct AS DOUBLE) / n_true * 1e4 + 0.5) / 1e4 AS predicted_catch
       |  FROM g),
       |t AS ($targets),
       |rec AS (SELECT g2.rows_per_band, t.target_catch,
       |    min(bands) AS recommended_bands
       |  FROM g2 CROSS JOIN t WHERE predicted_catch >= target_catch GROUP BY 1, 2)
       |SELECT rec.rows_per_band, rec.target_catch, rec.recommended_bands,
       |  CAST(g2.perms AS BIGINT) AS recommended_perms, g2.predicted_catch
       |FROM rec JOIN g2 ON g2.rows_per_band = rec.rows_per_band
       |  AND g2.bands = rec.recommended_bands
       |ORDER BY rec.rows_per_band, rec.target_catch""".stripMargin
  }

  val ddSigWidthSql: String = {
    val branches = SigWidthConfigs.map { case (perms, nb, nr) =>
      s"SELECT CAST($perms AS BIGINT) AS perms, CAST($nb AS BIGINT) AS bands, " +
        s"CAST($nr AS BIGINT) AS rows_per_band, " +
        s"CASE WHEN ${bandCatchSql(nb, nr)} THEN 1 ELSE 0 END AS c, " +
        s"CAST(${java.math.BigDecimal.valueOf(predictedAtThreshold(nb, nr)).toPlainString} AS DOUBLE) AS p FROM jj"
    }.mkString("\nUNION ALL ")
    s"""WITH ${minhashCteN(32)},
       |${truthJoinCte(32)},
       |x AS ($branches)
       |SELECT perms, bands, rows_per_band, count(*) AS n_true,
       |  CAST(sum(c) AS BIGINT) AS n_caught,
       |  floor(sum(c) / count(*) * 1e4 + 0.5) / 1e4 AS catch_rate,
       |  min(p) AS predicted_at_t
       |FROM x GROUP BY 1, 2, 3 ORDER BY perms, bands""".stripMargin
  }

  val ddLshTuningSql: String = {
    val branches = LshConfigs.map { case (nb, nr) =>
      s"SELECT CAST($nb AS BIGINT) AS bands, CAST($nr AS BIGINT) AS rows_per_band, " +
        s"CASE WHEN ${bandCatchSql(nb, nr)} THEN 1 ELSE 0 END AS c FROM jj"
    }.mkString("\nUNION ALL ")
    s"""WITH $minhashCte,
       |${truthJoinCte(NumHashes)},
       |x AS ($branches)
       |SELECT bands, rows_per_band, count(*) AS n_true,
       |  CAST(sum(c) AS BIGINT) AS n_caught,
       |  floor(sum(c) / count(*) * 1e4 + 0.5) / 1e4 AS catch_rate
       |FROM x GROUP BY 1, 2 ORDER BY bands DESC""".stripMargin
  }

  val ddLshRecallSql: String =
    s"""WITH $minhashCte,
       |$lshPairsCte,
       |tset AS (SELECT doc_id, list(DISTINCT s) AS tk FROM sh GROUP BY doc_id),
       |tr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.tk, b.tk)) AS n_common,
       |    len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS n_union
       |  FROM tset a JOIN tset b ON b.doc_id > a.doc_id
       |  WHERE 9 * greatest(len(a.tk), len(b.tk)) <= 10 * least(len(a.tk), len(b.tk))),
       |tj AS (SELECT doc_a, doc_b,
       |    floor(n_common / n_union * 1e4 + 0.5) / 1e4 AS jaccard
       |  FROM tr WHERE 10 * n_common >= 9 * n_union),
       |m AS (SELECT tj.jaccard,
       |    CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS caught
       |  FROM tj LEFT JOIN pairs p ON p.doc_a = tj.doc_a AND p.doc_b = tj.doc_b)
       |SELECT floor(jaccard * 20) / 20 AS j_band, count(*) AS n_true,
       |  CAST(sum(caught) AS BIGINT) AS n_caught,
       |  floor(sum(caught) / count(*) * 1e4 + 0.5) / 1e4 AS recall
       |FROM m GROUP BY 1 ORDER BY j_band""".stripMargin

  /** Brute-force twin: every pair a < b with 10·|A∩B| ≥ 9·|A∪B| over the
    * shingle sets — exactly what prefix filtering must reproduce (no
    * false negatives). */
  val ddPpjoinSql: String =
    """WITH tok AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk0
      |  FROM documents),
      |t AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(tk0) - 2),
      |      i -> tk0[i] || ' ' || tk0[i+1] || ' ' || tk0[i+2])) AS tk
      |  FROM tok WHERE len(tk0) >= 3),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.tk, b.tk)) AS n_common,
      |    len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS n_union
      |  FROM t a JOIN t b ON b.doc_id > a.doc_id
      |  WHERE len(a.tk) >= 1 AND len(b.tk) >= 1
      |    -- implied by J >= 9/10 (t·|y| <= |x| <= |y|/t): prunes the
      |    -- quadratic pair set before the list_intersect, result-neutral
      |    AND 9 * greatest(len(a.tk), len(b.tk)) <= 10 * least(len(a.tk), len(b.tk)))
      |SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
      |  floor(n_common / n_union * 1e4 + 0.5) / 1e4 AS jaccard
      |FROM p WHERE 10 * n_common >= 9 * n_union
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Edit-distance verification of the LSH candidate pairs: every banded
    * candidate scored with full Levenshtein distance on the raw text and
    * flagged near-dup when the distance is ≤30% of the longer doc
    * (integer cross-multiplication — no float threshold). The classic
    * two-stage near-dup pipeline: cheap signature banding generates,
    * exact character-level DP verifies — shingle-Jaccard (dd_ppjoin)
    * tolerates reordering, edit distance catches character-level edits
    * shingles blur. Every candidate is emitted with its distance (not
    * just survivors) so banding quality is auditable from the output.
    *
    * Scale: the pair set is LSH-bounded (never all-pairs) and each
    * verify is record-local O(len_a·len_b) DP inside codegen; the two
    * text joins are keyed equi-joins against the doc table. If verify
    * ever dominates, Spark's thresholded `levenshtein(l, r, k)` bails
    * out at band k — the Ukkonen cutoff — at the cost of mirroring its
    * -1 sentinel into the oracle. */
  def ddEditPairs: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    lshPairsUnsorted(s, d)
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("lev"),
        greatest(length(col("text_a")), length(col("text_b"))).cast("long").as("max_len"))
      .withColumn("is_near", lit(10) * col("lev") <= lit(3) * col("max_len"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ddEditPairsSql: String =
    s"""WITH $minhashCte,
       |$lshPairsCte
       |SELECT doc_a, doc_b,
       |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
       |  CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len,
       |  10 * levenshtein(da.text, db.text) <= 3 * greatest(length(da.text), length(db.text)) AS is_near
       |FROM pairs
       |JOIN documents da ON da.doc_id = doc_a
       |JOIN documents db ON db.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Staged-dedup attrition report — the one-row "dedup datacard" a
    * curation run publishes: corpus size, then survivors after each
    * stage of the standard cascade (exact hash → normalized hash →
    * near-dup connected-component representatives), with per-stage and
    * cumulative drop rates. Composes the SAME definitions the individual
    * operators use (md5 content hash = dd_exact, normText = dd_exact_norm,
    * LSH clusters = dd_dup_groups), so the report can never disagree
    * with its stages; null-text docs are reported as `n_null` and
    * excluded from the stages (no content ⇒ not dedupable — quarantine
    * input). Scale: one corpus aggregate (three distinct counts share
    * one pass) + the dup-groups pipeline; everything else is one-row
    * math. */
  def ddCascade: Q = (s, d) => {
    // NULL-text docs are counted separately (n_null) and excluded from
    // every stage: countDistinct skips nulls, so leaving them in would
    // report them dropped by the exact stage yet surviving the near-dup
    // stage (no shingles ⇒ singleton reps) — survivors would GROW through
    // the cascade. A doc with no content is not dedupable; it is
    // quarantine input, not cascade input.
    val base = Tables.documents(s, d).agg(
      count(when(col("text").isNotNull, lit(1))).as("n_raw"),
      count(when(col("text").isNull, lit(1))).as("n_null"),
      countDistinct(md5s(col("text"))).as("n_exact"),
      countDistinct(md5s(graft.functions.TextFns.normText(col("text")))).as("n_norm"))
    val reps = ddDupGroups(s, d)
      .join(Tables.documents(s, d).filter(col("text").isNotNull).select("doc_id"), "doc_id")
      .agg(countDistinct(col("cluster_rep")).as("n_neardup"))
    base.crossJoin(reps)
      // empty corpus: a global agg still emits one n_raw = 0 row and the
      // drop-rate quotients would divide by zero under ANSI — an empty
      // corpus reports no rows (the ev_session_stats discipline)
      .filter(col("n_raw") > 0)
      // Stage monotonicity: dd_dup_groups runs over the RAW corpus, and
      // its LSH hot-bucket cap (maxBucketSize) can leave excess exact
      // clones unpaired as singleton reps — on a boilerplate-heavy
      // corpus the rep count can then EXCEED n_norm, making the cascade
      // appear to grow. A sequential cascade hands stage 3 only stage
      // 2's survivors, so its survivor count is capped at n_norm;
      // clamping encodes that without re-running LSH on the deduped
      // frame (SkewInputSpec pins the 60-clone corpus case).
      .withColumn("n_neardup", least(col("n_neardup"), col("n_norm")))
      .select(col("n_raw"), col("n_null"), col("n_exact"), col("n_norm"), col("n_neardup"),
        Exact.floorRound(
          (col("n_raw") - col("n_exact")).cast("double") / col("n_raw"), 4)
          .as("exact_drop_rate"),
        Exact.floorRound(
          (col("n_exact") - col("n_norm")).cast("double") / col("n_raw"), 4)
          .as("norm_drop_rate"),
        Exact.floorRound(
          (col("n_raw") - col("n_neardup")).cast("double") / col("n_raw"), 4)
          .as("total_drop_rate"))
  }

  val ddCascadeSql: String =
    s"""WITH RECURSIVE $minhashCte,
       |$lshPairsCte,
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT e.doc_a, reach.r FROM reach JOIN edges e ON e.doc_b = reach.id),
       |clustered AS (SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY id),
       |reps AS (
       |  SELECT count(DISTINCT coalesce(c.cluster_rep, d.doc_id)) AS n_neardup
       |  FROM documents d LEFT JOIN clustered c ON c.doc_id = d.doc_id
       |  WHERE d.text IS NOT NULL),
       |base AS (
       |  SELECT count(CASE WHEN text IS NOT NULL THEN 1 END) AS n_raw,
       |    count(CASE WHEN text IS NULL THEN 1 END) AS n_null,
       |    count(DISTINCT md5(text)) AS n_exact,
       |    count(DISTINCT md5(${graft.functions.TextFns.normTextSql("text")})) AS n_norm
       |  FROM documents)
       |SELECT n_raw, n_null, n_exact, n_norm,
       |  least(n_neardup, n_norm) AS n_neardup,
       |  ${Exact.floorRoundSql("(n_raw - n_exact)::DOUBLE / n_raw", 4)} AS exact_drop_rate,
       |  ${Exact.floorRoundSql("(n_exact - n_norm)::DOUBLE / n_raw", 4)} AS norm_drop_rate,
       |  ${Exact.floorRoundSql("(n_raw - least(n_neardup, n_norm))::DOUBLE / n_raw", 4)} AS total_drop_rate
       |FROM base CROSS JOIN reps WHERE n_raw > 0""".stripMargin

  /** Duplicated-LINE census — the C4/CCNet-family boilerplate filter
    * ([[ddSubstring]]'s machinery at LINE granularity): scraped corpora
    * repeat navigation headers, footers and cookie banners verbatim
    * across millions of pages, and the standard filter drops or trims
    * documents whose LINES are mostly seen elsewhere in the corpus.
    * A "line" is a `\r?\n` segment (trimmed, empties dropped); any line
    * longer than [[LineDupWidth]] tokens further splits into ALIGNED
    * 16-token pseudo-lines — the unpunctuated-scrape fallback, so a
    * single-line wall of text still yields a meaningful census instead
    * of one corpus-unique hash. A line POSITION counts as duplicated
    * when its hash occurs more than once corpus-wide (intra-doc repeats
    * included — a page that repeats its own banner is as removable as a
    * scrape). Output per doc: line counts, duplicated share (4-decimal
    * floor round), and the removal flag at share ≥ 0.3 — compared in
    * exact INTEGER cross-multiplication (`10·dup ≥ 3·total`), never
    * against a float literal.
    *
    * Scale shape (the [[ddSubstring]] transplant, line-for-window): the
    * corpus-sized shuffle is keyed on (hash, doc_id) so hash-aggregate
    * partial combine collapses a hot boilerplate line map-side BEFORE
    * the exchange; the duplicated-hash table (only hashes in >1
    * (doc,line) pair survive) left-joins back as a sort-merge join that
    * AQE's skew splitting CAN break up — NEVER a
    * `Window.partitionBy(h)`, which would serialize a million-doc
    * cookie banner into one partition. The collapsed pair frame feeds
    * both the total branch and the join branch, so it is
    * localCheckpoint-pinned: one segmentation pass, one block write. */
  def ddLineDup: Q = (s, d) => {
    val perPair = lineSegFrame(s, d)
      .groupBy(substring(md5s(col("line")), 1, 16).as("h"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // collapsed (h, doc) frame feeds both branches once
    val dupHashes = perPair.groupBy(col("h"))
      .agg(sum(col("c")).as("ntot"))
      .filter(col("ntot") > 1)
      .select(col("h"), lit(1).as("isdup"))
    perPair.join(dupHashes, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_lines"),
        coalesce(sum(when(col("isdup") === 1, col("c"))), lit(0L)).as("dup_lines"))
      .withColumn("dup_line_share",
        floor(col("dup_lines") / col("n_lines") * 1e4 + 0.5) / 1e4)
      .withColumn("remove_flag",
        when(col("dup_lines") * 10 >= col("n_lines") * 3, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Pseudo-line width for [[ddLineDup]]'s long-line fallback. */
  final val LineDupWidth = 16

  /** The exploded (doc_id, line) frame — segmentation via the SHARED
    * TextFns.lineSegments expression (one aggregate fold per line,
    * array bound once), the same column the streaming lineDupGate
    * probes. ONE definition for [[ddLineDup]] and [[ddLineCensus]], so
    * the per-doc scores and the boilerplate report can never
    * desynchronize on what a "line" is. */
  private def lineSegFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(lineSegments(col("text"), LineDupWidth)).as("line"))

  /** Top duplicated lines corpus-wide — the REPORT half of the line
    * family ([[ddLineDup]] scores documents; this names the boilerplate
    * itself): the 25 most-repeated line segments with their position
    * and document counts, the list an operator eyeballs before turning
    * on removal (is it navigation chrome, or a licence header every doc
    * legitimately carries?). Same SHARED segmentation.
    *
    * Scale shape: groupBy(line) partial-agg — a million-doc cookie
    * banner collapses map-side to one row per map task before the
    * exchange; the distinct-doc count rides the same aggregate
    * (Spark's two-phase distinct expand, still keyed on line). Top-25
    * by (copies, docs, line) plans as TakeOrderedAndProject — no global
    * sort materializes. */
  def ddLineCensus: Q = (s, d) =>
    lineSegFrame(s, d).groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy(col("n_copies").desc, col("n_docs").desc, col("line"))
      .limit(25)

  val ddLineCensusSql: String =
    s"""WITH l0 AS (
       |  SELECT doc_id, trim(x) AS rawline
       |  FROM documents, unnest(string_split_regex(text, '\\r?\\n')) AS u(x)
       |  WHERE length(trim(x)) > 0),
       |t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(rawline, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM l0),
       |seg AS (
       |  SELECT doc_id, list_aggregate(
       |      tk[(i - 1) * $LineDupWidth + 1 : i * $LineDupWidth],
       |      'string_agg', ' ') AS line
       |  FROM t, unnest(range(1,
       |    CAST(ceil(len(tk) / $LineDupWidth.0) AS BIGINT) + 1)) AS u(i)
       |  WHERE len(tk) > 0)
       |SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_copies
       |FROM seg GROUP BY line HAVING count(*) > 1
       |ORDER BY n_copies DESC, n_docs DESC, line LIMIT 25""".stripMargin

  val ddLineDupSql: String =
    s"""WITH l0 AS (
       |  SELECT doc_id, trim(x) AS rawline
       |  FROM documents, unnest(string_split_regex(text, '\\r?\\n')) AS u(x)
       |  WHERE length(trim(x)) > 0),
       |t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(rawline, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM l0),
       |seg AS (
       |  SELECT doc_id, list_aggregate(
       |      tk[(i - 1) * $LineDupWidth + 1 : i * $LineDupWidth],
       |      'string_agg', ' ') AS line
       |  FROM t, unnest(range(1,
       |    CAST(ceil(len(tk) / $LineDupWidth.0) AS BIGINT) + 1)) AS u(i)
       |  WHERE len(tk) > 0),
       |pp AS (SELECT substr(md5(line), 1, 16) AS h, doc_id, count(*) AS c
       |  FROM seg GROUP BY 1, 2),
       |wt AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY h) AS ntot FROM pp)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
       |  CAST(coalesce(sum(c) FILTER (ntot > 1), 0) AS BIGINT) AS dup_lines,
       |  floor(coalesce(sum(c) FILTER (ntot > 1), 0) / sum(c) * 1e4 + 0.5) / 1e4
       |    AS dup_line_share,
       |  CAST(CASE WHEN coalesce(sum(c) FILTER (ntot > 1), 0) * 10 >= sum(c) * 3
       |    THEN 1 ELSE 0 END AS BIGINT) AS remove_flag
       |FROM wt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Duplicated-line TRIM (round 12, r11 verdict item 2) — the REMOVAL
    * half of the line family: [[ddLineDup]] flags whole documents, the
    * C4 pipeline instead REMOVES the duplicated lines and keeps the
    * document remainder. Emits the cleaned text (kept segments in
    * original order, newline-joined; empty string when every line was
    * boilerplate) plus per-doc kept/removed line AND token accounting —
    * the token ledger is what a corpus budget is re-planned against
    * after trimming. Same duplicated rule as the census: a line
    * POSITION is removed when its hash occurs more than once
    * corpus-wide (intra-doc repeats included), over the SHARED
    * `TextFns.lineSegments` segmentation — so trim ≡ census by
    * construction (OperatorsSpec pins `removed_tokens` totals against
    * [[ddLineDup]]'s dup counts and re-segments the cleaned text).
    *
    * Scale shape: the position-level segment frame is pinned ONCE (one
    * segmentation pass; it feeds the hash census and the join-back).
    * The census is a partial-agg `groupBy(h)` — a million-doc cookie
    * banner collapses map-side before the exchange; the duplicated-hash
    * table joins back keyed on h (sort-merge, AQE-skew-splittable —
    * NEVER `Window.partitionBy(h)`). Reassembly is doc-local:
    * `collect_list` per doc_id is bounded by document size, the same
    * bound the segmentation itself already holds in memory. */
  def ddLineTrim: Q = (s, d) => {
    val segs = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(lineSegments(col("text"), LineDupWidth)).as(Seq("pos", "line")))
      .withColumn("h", substring(md5s(col("line")), 1, 16))
      .localCheckpoint(true) // one segmentation pass feeds census + join-back
    val dupHashes = segs.groupBy(col("h"))
      .agg(count(lit(1)).as("ntot"))
      .filter(col("ntot") > 1)
      .select(col("h"), lit(1).as("isdup"))
    segs.join(dupHashes, Seq("h"), "left")
      // segments are single-space-joined nonempty tokens, so the token
      // count is exact on both engines without re-tokenizing
      .withColumn("ntk", size(split(col("line"), " ")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("isdup").isNull,
            struct(col("pos"), col("line"))))),
          x => x.getField("line"))).as("cleaned_text"),
        count(lit(1)).as("n_lines"),
        coalesce(sum(when(col("isdup").isNull, 1L)), lit(0L)).as("kept_lines"),
        coalesce(sum(when(col("isdup") === 1, 1L)), lit(0L)).as("removed_lines"),
        sum(col("ntk")).as("n_tokens"),
        coalesce(sum(when(col("isdup").isNull, col("ntk"))), lit(0L)).as("kept_tokens"),
        coalesce(sum(when(col("isdup") === 1, col("ntk"))), lit(0L)).as("removed_tokens"))
      .select(col("doc_id"), col("cleaned_text"), col("n_lines"),
        col("kept_lines"), col("removed_lines"), col("n_tokens"),
        col("kept_tokens"), col("removed_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Oracle twin of [[ddLineTrim]]: the census SQL's segmentation with
    * explicit (line, pseudo-line) indexes so the kept segments reassemble
    * in original order — (li, i) lexicographic ≡ Spark's flattened
    * segment position. */
  val ddLineTrimSql: String =
    s"""WITH d0 AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split_regex(text, '\\r?\\n'),
       |      x -> trim(x)), x -> length(x) > 0) AS ls
       |  FROM documents),
       |l0 AS (
       |  SELECT doc_id, li, ls[li] AS rawline
       |  FROM d0, unnest(generate_series(1, len(ls))) AS u(li)),
       |t AS (
       |  SELECT doc_id, li,
       |    list_filter(string_split_regex(rawline, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM l0),
       |seg AS (
       |  SELECT doc_id, li, i, list_aggregate(
       |      tk[(i - 1) * $LineDupWidth + 1 : i * $LineDupWidth],
       |      'string_agg', ' ') AS line
       |  FROM t, unnest(range(1,
       |    CAST(ceil(len(tk) / $LineDupWidth.0) AS BIGINT) + 1)) AS u(i)
       |  WHERE len(tk) > 0),
       |hc AS (SELECT substr(md5(line), 1, 16) AS h, count(*) AS ntot
       |  FROM seg GROUP BY 1),
       |j AS (SELECT s.doc_id, s.li, s.i, s.line, (c.ntot > 1) AS isdup,
       |    CAST(len(string_split(s.line, ' ')) AS BIGINT) AS ntk
       |  FROM seg s JOIN hc c ON c.h = substr(md5(s.line), 1, 16))
       |SELECT doc_id,
       |  coalesce(string_agg(line, chr(10) ORDER BY li, i) FILTER (NOT isdup), '') AS cleaned_text,
       |  CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(coalesce(count(*) FILTER (NOT isdup), 0) AS BIGINT) AS kept_lines,
       |  CAST(coalesce(count(*) FILTER (isdup), 0) AS BIGINT) AS removed_lines,
       |  CAST(sum(ntk) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(sum(ntk) FILTER (NOT isdup), 0) AS BIGINT) AS kept_tokens,
       |  CAST(coalesce(sum(ntk) FILTER (isdup), 0) AS BIGINT) AS removed_tokens
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "dd_line_trim" -> ddLineTrim,
    "dd_line_dup" -> ddLineDup,
    "dd_line_census" -> ddLineCensus,
    "dd_cascade" -> ddCascade,
    "dd_edit_pairs" -> ddEditPairs,
    "dd_ppjoin" -> ddPpjoin,
    "dd_lsh_recall" -> ddLshRecall,
    "dd_lsh_tuning" -> ddLshTuning,
    "dd_sig_width" -> ddSigWidth,
    "dd_sig_plan" -> ddSigPlan,
    "dd_neardup" -> ddNeardup,
    "dd_substring" -> ddSubstring,
    "dd_dup_span" -> ddDupSpan,
    "dd_span_trim" -> ddSpanTrim,
    "dd_bloom" -> ddBloom,
    "dd_decontaminate" -> ddDecontaminate,
    "dd_decontaminate_drop" -> ddDecontaminateDrop,
    "dd_exact" -> ddExact,
    "dd_cross_source" -> ddCrossSource,
    "dd_exact_norm" -> ddExactNorm,
    "dd_minhash" -> ddMinhash,
    "dd_minhash_est" -> ddMinhashEst,
    "dd_lsh_pairs" -> ddLshPairs,
    "dd_dup_groups" -> ddDupGroups,
    "dd_cluster_stats" -> ddClusterStats,
    "dd_jaccard" -> ddJaccard,
    "dd_containment" -> ddContainment,
    "dd_phrase_dup" -> ddPhraseDup,
    "dd_simhash" -> ddSimhash,
    "dd_embed_cos" -> ddEmbedCos)

  def oracleSql: Map[String, String] = Map(
    "dd_line_trim" -> ddLineTrimSql,
    "dd_line_dup" -> ddLineDupSql,
    "dd_line_census" -> ddLineCensusSql,
    "dd_cascade" -> ddCascadeSql,
    "dd_edit_pairs" -> ddEditPairsSql,
    "dd_ppjoin" -> ddPpjoinSql,
    "dd_lsh_recall" -> ddLshRecallSql,
    "dd_lsh_tuning" -> ddLshTuningSql,
    "dd_sig_width" -> ddSigWidthSql,
    "dd_sig_plan" -> ddSigPlanSql,
    "dd_substring" -> ddSubstringSql,
    "dd_dup_span" -> ddDupSpanSql,
    "dd_span_trim" -> ddSpanTrimSql,
    "dd_decontaminate" -> ddDecontaminateSql,
    "dd_decontaminate_drop" -> ddDecontaminateDropSql,
    "dd_exact" -> ddExactSql,
    "dd_cross_source" -> ddCrossSourceSql,
    "dd_exact_norm" -> ddExactNormSql,
    "dd_minhash" -> ddMinhashSql,
    "dd_minhash_est" -> ddMinhashEstSql,
    "dd_lsh_pairs" -> ddLshPairsSql,
    "dd_dup_groups" -> ddDupGroupsSql,
    "dd_cluster_stats" -> ddClusterStatsSql,
    "dd_jaccard" -> ddJaccardSql,
    "dd_containment" -> ddContainmentSql,
    "dd_phrase_dup" -> ddPhraseDupSql,
    "dd_simhash" -> ddSimhashSql,
    "dd_embed_cos" -> ddEmbedCosSql)
}
