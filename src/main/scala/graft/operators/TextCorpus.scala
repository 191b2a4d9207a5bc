package graft.operators

import graft.Tables
import graft.functions.TextFns._
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level text health (round 6, beyond SURVEY §2f's per-doc suite):
  * the between-source comparisons a large multi-source training corpus
  * needs before mixing — distribution drift, named quality-rule census,
  * lexical-diversity cards. All term-keyed or source-keyed aggregates:
  * no global windows, no driver-side data, embarrassingly parallel.
  */
object TextCorpus {

  type Q = (SparkSession, String) => DataFrame

  /** Jensen–Shannon divergence (nats) between every source pair's
    * unigram distribution — the drift metric run between corpus
    * snapshots / sources before deciding mixing weights (JSD is
    * symmetric, bounded by ln 2, and defined even where the supports
    * differ — exactly why it beats raw KL here; see [[taJsdRef]] for
    * the O(S·V) reference-snapshot variant). Per term with p, q the
    * term's probability in each source and m = (p+q)/2, the contribution
    * 0.5·(p·ln(p/m) + q·ln(q/m)) folds in decimal(38,18) for order
    * independence (the ta_entropy idiom: ln ulp noise sits far inside
    * the 6-dp rounding).
    *
    * Scale: one (source, term) count pass; probabilities via a
    * broadcast-joined per-source total (|sources| rows); the pair frame
    * is |sources|² rows and BROADCASTS against the term-keyed
    * distribution; the union-vocabulary alignment is a grouped
    * max-by-side, never a full-outer per pair. The aligned frame is
    * O(|sources|² · vocab) — fine for the tens-of-sources regime this
    * census targets; at thousands of sources run [[taJsdRef]]
    * (`ta_jsd_ref`) instead: each source vs ONE reference snapshot,
    * O(source-term pairs) total. */
  def taJsd: Q = (s, d) => {
    val tc = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    val tot = tc.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val p = tc.join(broadcast(tot), "source")
      .select(col("source"), col("t"), (col("c") / col("tot")).as("p"))
    val pairs = tot.select(col("source").as("sa"))
      .join(tot.select(col("source").as("sb")), col("sa") < col("sb"))
    val aligned = p.join(broadcast(pairs),
        col("source") === col("sa") || col("source") === col("sb"))
      .groupBy(col("sa"), col("sb"), col("t"))
      .agg(coalesce(max(when(col("source") === col("sa"), col("p"))), lit(0.0)).as("pa"),
        coalesce(max(when(col("source") === col("sb"), col("p"))), lit(0.0)).as("pb"))
    val m = (col("pa") + col("pb")) / 2
    val contrib = lit(0.5) * (
      when(col("pa") > 0, col("pa") * log(col("pa") / m)).otherwise(lit(0.0)) +
        when(col("pb") > 0, col("pb") * log(col("pb") / m)).otherwise(lit(0.0)))
    aligned
      .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
      .agg(count(lit(1)).as("n_terms_union"),
        round(sum(contrib.cast("decimal(38,18)")).cast("double"), 6).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val taJsdSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS t
      |  FROM documents),
      |tc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
      |tot AS (SELECT source, sum(c)::BIGINT AS tot FROM tc GROUP BY 1),
      |p AS (SELECT tc.source, tc.t, tc.c / tot.tot AS p
      |  FROM tc JOIN tot USING (source)),
      |prs AS (SELECT a.source AS sa, b.source AS sb
      |  FROM tot a, tot b WHERE a.source < b.source),
      |al AS (
      |  SELECT prs.sa, prs.sb, p.t,
      |    coalesce(max(CASE WHEN p.source = prs.sa THEN p.p END), 0.0) AS pa,
      |    coalesce(max(CASE WHEN p.source = prs.sb THEN p.p END), 0.0) AS pb
      |  FROM prs JOIN p ON p.source IN (prs.sa, prs.sb)
      |  GROUP BY 1, 2, 3)
      |SELECT sa AS source_a, sb AS source_b, count(*) AS n_terms_union,
      |  round(sum((0.5 * (CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0.0 END
      |    + CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0.0 END))::DECIMAL(38,18))::DOUBLE, 6) AS jsd
      |FROM al GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** [[taJsd]]'s O(S·V) reference-snapshot variant for the
    * thousands-of-sources regime: each source's unigram distribution
    * against ONE reference — the whole-corpus mixture — instead of
    * every source pair. The aligned frame never materializes S·V rows:
    * the reference support is a SUPERSET of every source's (it is their
    * sum), so a term absent from the source contributes exactly
    * 0.5·q·ln 2, and the whole absent-term tail folds to
    * 0.5·ln 2·(1 − Σ_present q) — the present-term inner join is all
    * the alignment needed, O(|source-term pairs|) total.
    *
    * Scale: the (source, term) count frame is localCheckpoint-pinned
    * (three consumers: per-source totals, the reference distribution,
    * and the probability join — lazy branches would tokenize the corpus
    * three times); everything downstream is term- or source-keyed with
    * map-side partial combines and metadata-sized broadcasts. Decimal
    * folding for order independence, floor-rounding for the
    * cross-engine 6-dp pin (the ta_jsd idioms). */
  def taJsdRef: Q = (s, d) => {
    val tc = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = tc.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val refT = tc.groupBy(col("t")).agg(sum(col("c")).as("ct")).localCheckpoint()
    val grand = refT.agg(sum(col("ct")).as("grand"),
      count(lit(1)).as("vocab_ref"))
    val p = tc.join(broadcast(tot), "source")
      .select(col("source"), col("t"), (col("c") / col("tot")).as("p"))
    val joined = p.join(refT.crossJoin(broadcast(grand))
      .select(col("t"), (col("ct") / col("grand")).as("q")), "t")
    val m = (col("p") + col("q")) / 2
    val contrib = lit(0.5) *
      (col("p") * log(col("p") / m) + col("q") * log(col("q") / m))
    joined.groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms_src"),
        sum(contrib.cast("decimal(38,18)")).cast("double").as("present"),
        sum(col("q").cast("decimal(38,18)")).cast("double").as("qmass"))
      .crossJoin(broadcast(grand.select(col("vocab_ref"))))
      .select(col("source"), col("n_terms_src"), col("vocab_ref"),
        (floor((col("present") +
          lit(0.5) * log(lit(2.0)) * (lit(1.0) - col("qmass"))) * 1e6 + 0.5) / 1e6)
          .as("jsd_vs_ref"))
      .orderBy(col("source"))
  }

  val taJsdRefSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS t
      |  FROM documents),
      |tc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
      |tot AS (SELECT source, sum(c)::BIGINT AS tot FROM tc GROUP BY 1),
      |reft AS (SELECT t, sum(c)::BIGINT AS ct FROM tc GROUP BY 1),
      |grand AS (SELECT sum(ct)::BIGINT AS grand, count(*) AS vocab_ref FROM reft),
      |p AS (SELECT tc.source, tc.t, tc.c / tot.tot AS p
      |  FROM tc JOIN tot USING (source)),
      |j AS (SELECT p.source, p.p, reft.ct / grand.grand AS q
      |  FROM p JOIN reft USING (t) CROSS JOIN grand),
      |agg AS (
      |  SELECT source, count(*) AS n_terms_src,
      |    sum((0.5 * (p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2))))::DECIMAL(38,18))::DOUBLE AS present,
      |    sum(q::DECIMAL(38,18))::DOUBLE AS qmass
      |  FROM j GROUP BY 1)
      |SELECT source, n_terms_src,
      |  (SELECT vocab_ref FROM grand) AS vocab_ref,
      |  floor((present + 0.5 * ln(2.0) * (1.0 - qmass)) * 1e6 + 0.5) / 1e6 AS jsd_vs_ref
      |FROM agg ORDER BY source""".stripMargin

  // ONE stopword list shared with ta_quality (TextFns.stopwords): the
  // census is documented as ta_quality's per-rule rollup twin, and a
  // drifted copy would silently desynchronize the two
  private def gopherStops = graft.functions.TextFns.stopwords

  /** Gopher-style quality-rule census — the per-RULE pass/fail datacard
    * (Rae et al. 2021's filter battery shape) a curation run publishes
    * before picking thresholds: word-count bounds, mean-word-length
    * bounds, symbol-to-token ratio, alphabetic-word share, and
    * stopword presence, each reported as corpus-wide pass counts. The
    * per-doc twin of these signals is ta_quality; this is the rollup
    * that says which RULE does the cutting. Null-text docs are
    * quarantine input, not rule input (the dd_cascade discipline).
    * One scan: per-doc flags are record-local column math, the census
    * is a 5-row aggregate. */
  def taGopherRules: Q = (s, d) => {
    val tk = tokens(col("text"))
    val n = size(tk)
    val meanLen = when(n > 0,
      aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x) / n)
    val symbols = n - size(filter(tk, t => !(t.contains("#") || t.contains("..."))))
    val alphaWords = size(filter(tk, t => t.rlike("[a-zA-Z]")))
    val stopsPresent = size(array_intersect(array_distinct(tk),
      array(gopherStops.map(lit): _*)))
    // coalesce to FALSE, mirroring the oracle's coalesce: a zero-token
    // doc's meanLen is NULL, and a NULL flag would count as neither pass
    // nor fail (sum(when(pass)) and sum(when(!pass)) both skip it) —
    // rule 2's denominator would silently drop the doc while the other
    // rules count it as fail
    val flags = Tables.documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        coalesce(n >= 10 && n <= 100000, lit(false)).as("f_word_count"),
        coalesce(meanLen >= 2 && meanLen <= 10, lit(false)).as("f_mean_word_len"),
        coalesce(n > 0 && symbols / n.cast("double") < 0.1, lit(false)).as("f_symbol_ratio"),
        coalesce(n > 0 && alphaWords / n.cast("double") > 0.8, lit(false)).as("f_alpha_share"),
        coalesce(stopsPresent >= 2, lit(false)).as("f_stopwords"))
    flags.select(explode(array(
        struct(lit("1_word_count_10_100k").as("rule"), col("f_word_count").as("pass")),
        struct(lit("2_mean_word_len_2_10").as("rule"), col("f_mean_word_len").as("pass")),
        struct(lit("3_symbol_ratio_lt_10pct").as("rule"), col("f_symbol_ratio").as("pass")),
        struct(lit("4_alpha_share_gt_80pct").as("rule"), col("f_alpha_share").as("pass")),
        struct(lit("5_stopwords_ge_2").as("rule"), col("f_stopwords").as("pass")))).as("r"))
      .groupBy(col("r.rule").as("rule"))
      .agg(sum(when(col("r.pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("r.pass"), 1L).otherwise(0L)).as("n_fail"))
      .withColumn("pass_rate",
        floor(col("n_pass") / (col("n_pass") + col("n_fail")) * 1e4 + 0.5) / 1e4)
      .orderBy(col("rule"))
  }

  val taGopherRulesSql: String = {
    val stopList = gopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |m AS (
       |  SELECT doc_id, len(tk) AS n,
       |    CASE WHEN len(tk) > 0 THEN
       |      list_reduce(list_transform(tk, x -> length(x)), (a, b) -> a + b) / len(tk)
       |    END AS mean_len,
       |    len(tk) - len(list_filter(tk, x -> NOT (contains(x, '#') OR contains(x, '...')))) AS symbols,
       |    len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha_words,
       |    len(list_intersect(list_distinct(tk), $stopList)) AS stops
       |  FROM t),
       |f AS (
       |  SELECT
       |    coalesce(n >= 10 AND n <= 100000, false) AS f_word_count,
       |    coalesce(mean_len >= 2 AND mean_len <= 10, false) AS f_mean_word_len,
       |    coalesce(n > 0 AND symbols / n::DOUBLE < 0.1, false) AS f_symbol_ratio,
       |    coalesce(n > 0 AND alpha_words / n::DOUBLE > 0.8, false) AS f_alpha_share,
       |    coalesce(stops >= 2, false) AS f_stopwords
       |  FROM m),
       |x AS (
       |  SELECT '1_word_count_10_100k' AS rule, f_word_count AS pass FROM f
       |  UNION ALL SELECT '2_mean_word_len_2_10', f_mean_word_len FROM f
       |  UNION ALL SELECT '3_symbol_ratio_lt_10pct', f_symbol_ratio FROM f
       |  UNION ALL SELECT '4_alpha_share_gt_80pct', f_alpha_share FROM f
       |  UNION ALL SELECT '5_stopwords_ge_2', f_stopwords FROM f)
       |SELECT rule,
       |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(sum(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT) AS n_fail,
       |  floor(sum(CASE WHEN pass THEN 1 ELSE 0 END) / count(*) * 1e4 + 0.5) / 1e4 AS pass_rate
       |FROM x GROUP BY rule ORDER BY rule""".stripMargin
  }

  /** Per-source hapax census — the frequency-spectrum slice ta_vocab
    * (volume/vocab/TTR) does NOT cover: hapax legomena (terms occurring
    * once) and dis legomena (twice) with their vocabulary shares. The
    * classic template/boilerplate detector: organic text runs
    * hapax-rich (Zipf puts ~half the vocabulary at count 1), templated
    * or synthetic sources hapax-poor — a per-source hapax_share dip
    * flags machine-generated or duplicated inflow before mixing. One
    * (source, term) count pass rolled up source-keyed; doc counts join
    * in from a |sources|-row aggregate. */
  def taHapax: Q = (s, d) => {
    val tc = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
    val lex = tc.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    docs.join(lex, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("vocab"), lit(0L)).as("vocab"),
        coalesce(col("hapax"), lit(0L)).as("hapax"),
        coalesce(col("dis"), lit(0L)).as("dis"))
      .withColumn("hapax_share", when(col("vocab") > 0,
        floor(col("hapax") / col("vocab") * 1e6 + 0.5) / 1e6))
      .withColumn("dis_share", when(col("vocab") > 0,
        floor(col("dis") / col("vocab") * 1e6 + 0.5) / 1e6))
      .orderBy(col("source"))
  }

  val taHapaxSql: String =
    """WITH tok AS (
      |  SELECT source,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS t
      |  FROM documents),
      |tc AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
      |lex AS (SELECT source, count(*) AS vocab,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis
      |  FROM tc GROUP BY 1),
      |d AS (SELECT source, count(*) AS n_docs FROM documents
      |  WHERE text IS NOT NULL GROUP BY 1)
      |SELECT d.source, d.n_docs,
      |  coalesce(lex.vocab, 0) AS vocab,
      |  coalesce(lex.hapax, 0) AS hapax,
      |  coalesce(lex.dis, 0) AS dis,
      |  CASE WHEN coalesce(lex.vocab, 0) > 0
      |    THEN floor(coalesce(lex.hapax, 0) / coalesce(lex.vocab, 0) * 1e6 + 0.5) / 1e6 END AS hapax_share,
      |  CASE WHEN coalesce(lex.vocab, 0) > 0
      |    THEN floor(coalesce(lex.dis, 0) / coalesce(lex.vocab, 0) * 1e6 + 0.5) / 1e6 END AS dis_share
      |FROM d LEFT JOIN lex USING (source)
      |ORDER BY source""".stripMargin

  /** Number of hashed-feature buckets for [[taDsir]] — small enough that
    * the two distribution tables broadcast (2·B longs), large enough that
    * bucket collisions stay rare on a unigram+bigram feature space. */
  val DsirBuckets = 1024

  /** DSIR-style importance-resampling weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how target-like its hashed n-gram feature
    * distribution is, logw = Σ_f log(p_target(f) / p_raw(f)) over the
    * doc's unigram+bigram features hashed into [[DsirBuckets]] buckets,
    * Laplace-smoothed. Sampling ∝ exp(logw) IS importance resampling;
    * this emits the per-doc weights (total and per-feature, the
    * length-normalized variant) that the selection step thresholds on.
    * The target here is the corpus's alphabetically-first source — a
    * stand-in for the high-quality reference corpus (Wikipedia in the
    * paper); target docs define p and are not scored.
    *
    * Scale shape: two full corpus passes plus one source-column-only
    * scan (the 1-row target pin), no corpus-sized shuffle beyond them —
    * pass 1 folds both bucket histograms in one map-side-combined
    * groupBy(bucket) (≤ B rows out per map task, the hot-bucket absorber);
    * pass 2 re-derives features and broadcast-joins the B-row log-ratio
    * table, then combines per doc. The B-row histogram/ratio frames and
    * the 1-row target/grand-total scalars are the only broadcasts. The
    * per-bucket log-ratio is computed once (B evaluations of ln), so the
    * per-doc sum is a pure decimal fold of bit-identical doubles. */
  def taDsir: Q = (s, d) => {
    val B = DsirBuckets
    val docs = Tables.documents(s, d)
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
    // 1-row metadata pin: lazily both feats passes would each re-derive
    // min(source) with its own column-pruned corpus scan (4 scans total)
    val target = docs.agg(min(col("source")).as("ts")).localCheckpoint()
    // unigram ++ bigram buckets via the fused kernel (graft_gram_buckets
    // — bit-equal to hashBucket's md5/conv chain by GramBucketsSpec, no
    // per-feature gram string or hex round-trip); the kernel emits empty
    // for size < n, so no bigram guard is needed
    def feats(frame: DataFrame): DataFrame = frame
      .select(col("doc_id"), col("source"),
        explode(concat(
          GraftFunctions.call("graft_gram_buckets", col("tk"), lit(1), lit(8), lit(B)),
          GraftFunctions.call("graft_gram_buckets", col("tk"), lit(2), lit(8), lit(B)))).as("b"))
      .crossJoin(broadcast(target))
    // B-row metadata pin: cnt feeds grand AND ratio — left lazy, the two
    // consumers' diverging projections defeat exchange reuse and the
    // histogram pass (a full tokenize+hash of the corpus) runs twice
    val cnt = feats(docs).groupBy(col("b")).agg(
      sum(when(col("source") === col("ts"), 1L).otherwise(0L)).as("tc"),
      sum(when(col("source") =!= col("ts"), 1L).otherwise(0L)).as("rc"))
      .localCheckpoint()
    val grand = cnt.agg(sum(col("tc")).as("tn"), sum(col("rc")).as("rn"))
    val ratio = cnt.crossJoin(broadcast(grand)).select(col("b"),
      log(((col("tc") + 1).cast("double") / (col("tn") + B).cast("double")) /
        ((col("rc") + 1).cast("double") / (col("rn") + B).cast("double"))).as("logr"))
    feats(docs).filter(col("source") =!= col("ts"))
      .join(broadcast(ratio), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feats"),
        Exact.floorRound(
          sum(col("logr").cast("decimal(38,18)")).cast("double"), 6).as("logw"),
        Exact.floorRound(
          sum(col("logr").cast("decimal(38,18)")).cast("double") / count(lit(1)), 6)
          .as("logw_per_feat"))
      .orderBy(col("doc_id"))
  }

  val taDsirSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
       |t2 AS (SELECT * FROM t WHERE len(tk) >= 1),
       |tgt AS (SELECT min(source) AS ts FROM t2),
       |feat AS (
       |  SELECT doc_id, source, tok AS f FROM t2, unnest(tk) AS u(tok)
       |  UNION ALL
       |  SELECT doc_id, source, tk[i] || ' ' || tk[i + 1] AS f
       |  FROM t2, unnest(range(1, len(tk))) AS u(i)),
       |fb AS (SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % $DsirBuckets AS b
       |  FROM feat),
       |cnt AS (SELECT b,
       |    CAST(sum(CASE WHEN source = (SELECT ts FROM tgt) THEN 1 ELSE 0 END) AS BIGINT) AS tc,
       |    CAST(sum(CASE WHEN source <> (SELECT ts FROM tgt) THEN 1 ELSE 0 END) AS BIGINT) AS rc
       |  FROM fb GROUP BY 1),
       |grand AS (SELECT sum(tc)::BIGINT AS tn, sum(rc)::BIGINT AS rn FROM cnt),
       |ratio AS (SELECT b,
       |    ln((CAST(tc + 1 AS DOUBLE) / CAST(tn + $DsirBuckets AS DOUBLE))
       |      / (CAST(rc + 1 AS DOUBLE) / CAST(rn + $DsirBuckets AS DOUBLE))) AS logr
       |  FROM cnt CROSS JOIN grand)
       |SELECT fb.doc_id, fb.source, count(*) AS n_feats,
       |  ${Exact.floorRoundSql("sum(logr::DECIMAL(38,18))::DOUBLE", 6)} AS logw,
       |  ${Exact.floorRoundSql("sum(logr::DECIMAL(38,18))::DOUBLE / count(*)", 6)} AS logw_per_feat
       |FROM fb JOIN ratio USING (b), tgt
       |WHERE fb.source <> tgt.ts
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "ta_jsd" -> taJsd,
    "ta_jsd_ref" -> taJsdRef,
    "ta_gopher_rules" -> taGopherRules,
    "ta_hapax" -> taHapax,
    "ta_dsir" -> taDsir)

  def oracleSql: Map[String, String] = Map(
    "ta_jsd" -> taJsdSql,
    "ta_jsd_ref" -> taJsdRefSql,
    "ta_gopher_rules" -> taGopherRulesSql,
    "ta_hapax" -> taHapaxSql,
    "ta_dsir" -> taDsirSql)
}
