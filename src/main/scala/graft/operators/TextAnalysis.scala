package graft.operators

import graft.Tables
import graft.functions.TextFns._
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis suite (SURVEY.md §2f) over `documents`: token counting,
  * quality scoring, language identification and order-insensitive
  * fingerprinting. All pure column expressions — whole-stage codegen, no
  * UDFs, embarrassingly parallel at any scale.
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  /** Token / char / byte counting with mean token length. */
  def taTokens: Q = (s, d) => {
    val tk = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        // zero-token guard (whitespace-only doc): mirrors the oracle's
        // CASE len(tk) = 0; an int 0/0 throws under ANSI (DirtyTextSpec)
        when(size(tk) > 0,
          round(aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x) /
            size(tk), 4)).as("avg_tok_len"))
      .orderBy(col("doc_id"))
  }

  val taTokensSql: String =
    """WITH t AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents)
      |SELECT doc_id, len(tk) AS n_tokens, length(text) AS n_chars,
      |  strlen(text) AS n_bytes,
      |  CASE WHEN len(tk) = 0 THEN NULL ELSE
      |    round(list_reduce(list_transform(tk, x -> length(x)), (a, b) -> a + b) / len(tk), 4)
      |  END AS avg_tok_len
      |FROM t ORDER BY doc_id""".stripMargin

  private def stopwords = graft.functions.TextFns.stopwords

  /** Quality scoring: punctuation ratio, stopword ratio, mean word length
    * and a combined keep/drop flag (the usual pre-training heuristics). */
  def taQuality: Q = (s, d) => {
    val tk = tokens(col("text"))
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))
    val stops = size(array_intersect(array_distinct(tk),
      array(stopwords.map(lit): _*)))
    Tables.documents(s, d)
      // zero-denominator guards (empty / whitespace-only docs): int 0/0
      // throws under ANSI; null ratios fail the is_quality gate exactly
      // as a degenerate doc should (DirtyTextSpec)
      .select(col("doc_id"), size(tk).cast("long").as("n_tokens"),
        when(nChars > 0, round(punct / nChars, 4)).as("punct_ratio"),
        when(size(array_distinct(tk)) > 0,
          round(stops / size(array_distinct(tk)), 4)).as("stop_ratio"),
        when(size(tk) > 0,
          round(aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x) /
            size(tk), 4)).as("mean_tok_len"))
      .withColumn("is_quality",
        col("n_tokens").between(20, 1000) && col("punct_ratio") < 0.1 &&
          col("stop_ratio") > 0.01 && col("mean_tok_len").between(2.0, 12.0))
      .orderBy(col("doc_id"))
  }

  val taQualitySql: String = {
    val stopList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
       |  FROM documents),
       |m AS (SELECT doc_id, len(tk) AS n_tokens,
       |    -- empty-token guards: DuckDB's list_reduce ERRORS on an empty
       |    -- list where Spark's aggregate/size yields NULL; mirror Spark
       |    CASE WHEN length(text) = 0 THEN NULL ELSE round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) / length(text), 4) END AS punct_ratio,
       |    round(len(list_intersect(list_distinct(tk), $stopList)) / nullif(len(list_distinct(tk)), 0), 4) AS stop_ratio,
       |    CASE WHEN len(tk) = 0 THEN NULL ELSE
       |      round(list_reduce(list_transform(tk, x -> length(x)), (a, b) -> a + b) / len(tk), 4)
       |    END AS mean_tok_len
       |  FROM t)
       |SELECT doc_id, n_tokens, punct_ratio, stop_ratio, mean_tok_len,
       |  (n_tokens BETWEEN 20 AND 1000) AND punct_ratio < 0.1
       |    AND stop_ratio > 0.01 AND (mean_tok_len BETWEEN 2.0 AND 12.0) AS is_quality
       |FROM m ORDER BY doc_id""".stripMargin
  }

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "los", "las", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Language ID via stopword-profile overlap (n-gram heuristic), with a
    * Han-script check for zh; deterministic argmax with fixed priority. */
  def taLangid: Q = (s, d) => {
    val tk = array_distinct(tokens(col("text")))
    val scores: Seq[(String, Column)] = profiles.map { case (l, ws) =>
      l -> size(array_intersect(tk, array(ws.map(lit): _*)))
    }
    val zh = length(col("text")) - length(regexp_replace(col("text"), "\\p{IsHan}", ""))
    val all = scores :+ ("zh" -> zh)
    val g = greatest(all.map(_._2): _*)
    val guessed = all.foldRight(lit("und")) { case ((l, sc), acc) =>
      when(g > 0 && sc === g, lit(l)).otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("lang"), guessed.as("guessed_lang"))
      .groupBy(col("lang"), col("guessed_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang").asc_nulls_last, col("guessed_lang"))
  }

  val taLangidSql: String = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val scoreCols = profiles.map { case (l, ws) =>
      s"len(list_intersect(tk, ${lst(ws)})) AS s_$l"
    }.mkString(",\n    ")
    val langs = profiles.map(_._1) :+ "zh"
    val gExpr = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseExpr = langs.map(l => s"WHEN s_$l = g THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang, text,
       |    list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)) AS tk
       |  FROM documents),
       |sc AS (SELECT doc_id, lang,
       |    $scoreCols,
       |    length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')) AS s_zh
       |  FROM t),
       |gg AS (SELECT *, $gExpr AS g FROM sc),
       |guessed AS (SELECT lang,
       |    CASE WHEN g <= 0 THEN 'und' $caseExpr ELSE 'und' END AS guessed_lang
       |  FROM gg)
       |SELECT lang, guessed_lang, count(*) AS n_docs
       |FROM guessed GROUP BY lang, guessed_lang ORDER BY lang, guessed_lang""".stripMargin
  }

  /** Order-insensitive fingerprint: md5 over the sorted distinct token set
    * (rolling-hash style canonicalization for shuffled near-dups). */
  def taFingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5s(concat_ws(" ", sort_array(array_distinct(tokens(col("text")))))).as("fingerprint"))
      .orderBy(col("doc_id"))

  val taFingerprintSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0))), ' ')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-ish subword-boundary token counting: word pieces and punctuation
    * as separate tokens (`\w+` | single non-space symbol), the common
    * pre-tokenizer shape; counts + unique ratio per doc. */
  def taBpeTokens: Q = (s, d) => {
    val toks = regexp_extract_all(col("text"), lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("bt"))
      .select(col("doc_id"), size(col("bt")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("bt"))).cast("long").as("n_unique"),
        // empty doc ⇒ zero pieces: null ratio, not an ANSI 0/0 throw
        when(size(col("bt")) > 0,
          round(size(array_distinct(col("bt"))) / size(col("bt")), 4)).as("unique_ratio"))
      .orderBy(col("doc_id"))
  }

  val taBpeTokensSql: String =
    """WITH t AS (SELECT doc_id,
      |    regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]') AS bt
      |  FROM documents)
      |SELECT doc_id, len(bt) AS n_bpe_tokens, len(list_distinct(bt)) AS n_unique,
      |  CASE WHEN len(bt) = 0 THEN NULL ELSE round(len(list_distinct(bt)) / len(bt), 4) END AS unique_ratio
      |FROM t ORDER BY doc_id""".stripMargin

  /** Corpus n-gram statistics: top-5 word bigrams per language by count.
    * Bigrams are built record-local (transform over the materialized
    * token array — no self-join), counted with partial aggregation, and
    * the per-language top-k runs on TopKPerGroup's bounded heaps instead
    * of sorting every (lang, bigram) count. */
  def taNgramFreq: Q = (s, d) => {
    val bigrams = expr(
      "transform(sequence(1, size(tk) - 1), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))")
    val counts = Tables.documents(s, d)
      .select(col("lang"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("lang"), explode(bigrams).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    val top = graft.plans.TopKPerGroup.transform(counts,
      Seq(col("lang")), Seq(col("n").desc, col("bigram").asc), 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("lang"), col("rnk"), col("bigram"), col("n"))
      .orderBy(col("lang").asc_nulls_last, col("rnk"))
  }

  val taNgramFreqSql: String =
    """WITH toks AS (
      |  SELECT lang, list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT lang, unnest(list_transform(generate_series(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
      |  FROM toks WHERE len(tk) >= 2),
      |cnt AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
      |ranked AS (
      |  SELECT lang, bigram, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
      |  FROM cnt)
      |SELECT lang, rnk, bigram, n FROM ranked WHERE rnk <= 5
      |ORDER BY lang, rnk""".stripMargin

  /** Repetition detection (the Gopher-style pre-training filters): per
    * document, the fraction of bigram instances claimed by the single
    * most frequent bigram and the fraction of trigram instances whose
    * trigram occurs more than once, plus a combined drop flag. Boiler-
    * plate, keyword stuffing and decoding loops all surface as one of
    * the two. Both stats are PER-DOCUMENT, so the whole operator is
    * record-local: one scan, ZERO corpus shuffles (the round-3 shape
    * exploded grams into two (doc_id, gram) groupBy passes — scale-safe
    * but two needless corpus shuffles). Each gram array is sorted and
    * folded once (`aggregate` HOF): the longest run IS the top gram
    * count and the mass of runs ≥ 2 IS the duplicated-instance count;
    * the instance totals are size(tk)−1 / size(tk)−2 directly. Flag
    * thresholds compare the 4-dp-rounded ratios so the cut is
    * bit-identical across engines. */
  def taRepetition: Q = (s, d) => {
    // run-length fold over the sorted n-gram array: best = longest run,
    // dups = total instances in runs of length >= 2 (closed on gram
    // change, with the final run folded in by the finish lambda)
    def gramStats(n: Int): String = {
      val gram = s"transform(sequence(1, size(tk) - ${n - 1}), i -> concat_ws(' ', " +
        (0 until n).map(j => s"element_at(tk, i + $j)").mkString(", ") + "))"
      s"""aggregate(
         |  array_sort($gram),
         |  named_struct('prev', '', 'run', 0L, 'best', 0L, 'dups', 0L),
         |  (a, x) -> named_struct(
         |    'prev', x,
         |    'run', IF(x = a.prev, a.run + 1L, 1L),
         |    'best', greatest(a.best, IF(x = a.prev, a.run + 1L, 1L)),
         |    'dups', IF(x <> a.prev AND a.run >= 2L, a.dups + a.run, a.dups)),
         |  a -> named_struct('best', a.best,
         |    'dups', a.dups + IF(a.run >= 2L, a.run, 0L)))""".stripMargin
    }
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .withColumn("bi", expr(gramStats(2)))
      .withColumn("tri", expr(gramStats(3)))
      .select(col("doc_id"),
        Exact.floorRound(col("bi.best") / (size(col("tk")) - 1).cast("long"), 4)
          .as("top_bigram_frac"),
        Exact.floorRound(col("tri.dups") / (size(col("tk")) - 2).cast("long"), 4)
          .as("dup_trigram_frac"))
      .withColumn("is_repetitive",
        col("top_bigram_frac") > 0.18 || col("dup_trigram_frac") > 0.3)
      .orderBy(col("doc_id"))
  }

  val taRepetitionSql: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |d AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 3),
      |bgc AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
      |      i -> tk[i] || ' ' || tk[i + 1])) AS g FROM d)
      |  GROUP BY 1, 2),
      |b AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_bigram_n FROM bgc GROUP BY 1),
      |tgc AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
      |      i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g FROM d)
      |  GROUP BY 1, 2),
      |tr AS (SELECT doc_id, sum(c) AS n_trigrams,
      |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_tri FROM tgc GROUP BY 1),
      |m AS (SELECT b.doc_id,
      |    floor((top_bigram_n / n_bigrams) * 10000 + 0.5) / 10000 AS top_bigram_frac,
      |    floor((dup_tri / n_trigrams) * 10000 + 0.5) / 10000 AS dup_trigram_frac
      |  FROM b JOIN tr USING (doc_id))
      |SELECT doc_id, top_bigram_frac, dup_trigram_frac,
      |  top_bigram_frac > 0.18 OR dup_trigram_frac > 0.3 AS is_repetitive
      |FROM m ORDER BY doc_id""".stripMargin

  /** PMI collocations: the corpus's top-20 word bigrams by pointwise
    * mutual information, ln((n_ab/B) / ((n_a/N)·(n_b/N))), min support
    * 5 — the phrase-mining signal (raw bigram counts just resurface
    * stopword pairs; PMI surfaces pairs that co-occur far above chance).
    *
    * ONE tokenize pass and ONE corpus-sized shuffle: each token position
    * becomes a (w1, next-token-or-null) struct, so the (w1, w2) count
    * table holds BOTH distributions — per-token unigram counts are the
    * w1-sums over that table (every instance contributes exactly one
    * row) and bigram counts are its non-null-w2 slice. n_a attaches as a
    * w1-window over the aggregated frame (vocab-bounded partitions —
    * nothing like the per-instance skew a term window over raw tf rows
    * would have); n_b needs the w1-sums looked up at w2, a keyed join of
    * the small unigram re-aggregation (which shares — and AQE reuses —
    * the count table's exchange; the base isNotNull(w1) keeps the
    * branches canonical, and the w2 predicates cannot push below the
    * window, so the shared subtree stays identical). Both totals are one
    * re-aggregation more, broadcast. b_total is the TOTAL bigram mass
    * (pre support filter): p(a,b) = n_ab / B over the whole corpus,
    * otherwise every PMI is inflated by a constant ln(B_all/B_kept).
    * Global top-20 plans as TakeOrderedAndProject. The PMI arithmetic
    * keeps one canonical operation order so the double is bit-identical
    * across engines, then rounds to 6 dp. */
  def taCollocations: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val pairs = when(size(col("tk")) >= 1, expr(
      "transform(sequence(1, size(tk)), i -> named_struct(" +
        "'w1', element_at(tk, i), " +
        "'w2', CASE WHEN i < size(tk) THEN element_at(tk, i + 1) END))"))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val gramCounts = toks
      .select(explode(pairs).as("g"))
      .select(col("g.w1"), col("g.w2"))
      .filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val uni = gramCounts.groupBy(col("w1")).agg(sum(col("n")).as("nw"))
    val totals = gramCounts.agg(
      sum(col("n")).cast("long").as("n_total"),
      sum(when(col("w2").isNotNull, col("n"))).cast("long").as("b_total"))
    gramCounts
      .withColumn("n_a", sum(col("n")).over(Window.partitionBy(col("w1"))))
      .filter(col("w2").isNotNull && col("n") >= 5)
      .join(uni.select(col("w1").as("wb"), col("nw").as("n_b")),
        col("w2") === col("wb"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        (col("n") / col("b_total")) /
          ((col("n_a") / col("n_total")) * (col("n_b") / col("n_total")))), 6))
      .select(col("w1"), col("w2"), col("n").as("n_ab"), col("n_a"), col("n_b"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val taCollocationsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS n_w FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
      |bi_all AS (
      |  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n_ab FROM (
      |    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
      |      i -> {'w1': tk[i], 'w2': tk[i + 1]})) AS b
      |    FROM toks WHERE len(tk) >= 2)
      |  GROUP BY 1, 2),
      |bi AS (SELECT * FROM bi_all WHERE n_ab >= 5),
      |tot AS (
      |  SELECT (SELECT sum(n_w) FROM uni) AS n_total,
      |         (SELECT sum(n_ab) FROM bi_all) AS b_total)
      |SELECT bi.w1, bi.w2, bi.n_ab, a.n_w AS n_a, b.n_w AS n_b,
      |  round(ln((bi.n_ab / tot.b_total) /
      |    ((a.n_w / tot.n_total) * (b.n_w / tot.n_total))), 6) AS pmi
      |FROM bi JOIN uni a ON a.w = bi.w1 JOIN uni b ON b.w = bi.w2 CROSS JOIN tot
      |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** Token-distribution entropy per document: H = -Σ p·ln(p) over the
    * doc's token frequencies, plus the normalized ratio H/ln(n_tokens)
    * (1.0 = all tokens distinct, →0 = one token repeated) — the junk
    * detector that catches what keyword filters miss: low entropy flags
    * decoder loops and boilerplate, anomalously LOW normalized entropy
    * at high length flags stuffing. Counts key on (doc_id, token) with
    * partial aggregation; each per-token term p·ln(p) is cast to
    * decimal(38,18) BEFORE the per-doc sum so the reduction is
    * order-independent (double addition is not associative — raw double
    * sums flip 6-dp rounding boundaries between engines). */
  def taEntropy: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
    // per-doc totals as a window over the single counts pass (state =
    // one doc's vocabulary) — a separate groupBy would recompute the
    // whole (doc_id, token) subtree: two corpus scans and two shuffles
    val wDoc = Window.partitionBy(col("doc_id"))
    val p = col("c") / col("n_tokens")
    counts
      .withColumn("n_tokens", sum(col("c")).over(wDoc))
      .withColumn("n_distinct", count(lit(1)).over(wDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .agg(round(-sum((p * log(p)).cast("decimal(38,18)")).cast("double"), 6).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_tokens") > 1,
          round(col("entropy") / log(col("n_tokens").cast("double")), 6))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("entropy"), col("norm_entropy"))
      .orderBy(col("doc_id"))
  }

  val taEntropySql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS t
      |  FROM documents),
      |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
      |n AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS n_distinct
      |  FROM cnt GROUP BY 1),
      |e AS (
      |  SELECT cnt.doc_id, n.n_tokens, n.n_distinct,
      |    round(-sum(((cnt.c / n.n_tokens) * ln(cnt.c / n.n_tokens))::DECIMAL(38,18))::DOUBLE, 6) AS entropy
      |  FROM cnt JOIN n USING (doc_id) GROUP BY 1, 2, 3)
      |SELECT doc_id, n_tokens, n_distinct, entropy,
      |  CASE WHEN n_tokens > 1 THEN round(entropy / ln(n_tokens::DOUBLE), 6)
      |       ELSE 0.0 END AS norm_entropy
      |FROM e ORDER BY doc_id""".stripMargin

  /** Vocabulary statistics per ingest source: token volume, exact
    * distinct-token count (vocabulary) and type-token ratio — the corpus
    * health metrics a pipeline tracks per source to catch boilerplate
    * floods (ratio collapses) or encoding junk (vocab explodes). Spark
    * plans `countDistinct` as a two-phase aggregate (partial distinct per
    * partition on (source, token), then merge), so the shuffle carries
    * per-partition distinct tokens, not the exploded corpus. */
  def taVocab: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("vocab"),
        round(countDistinct(col("t")) / count(lit(1)), 6).as("type_token_ratio"))
      .orderBy(col("source"))

  val taVocabSql: String =
    """SELECT source, count(*) AS n_tokens, count(DISTINCT t) AS vocab,
      |  round(count(DISTINCT t) / count(*), 6) AS type_token_ratio
      |FROM (SELECT source,
      |        unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS t
      |      FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  /** TF-IDF: top-5 terms per document by `tf * ln(n_docs / df)`.
    * Three keyed shuffles — term frequency on (doc_id, term), document
    * frequency on term (map-side partial), then the per-doc top-k window
    * on doc_id; the corpus size is a broadcast scalar. Ties in the raw
    * score only occur for identical (tf, df) pairs — bit-equal in both
    * engines — and are broken by term, so the rank is deterministic.
    *
    * df is a re-aggregation of the tf frame (partial agg collapses hot
    * terms map-side — a term-partitioned window would put all of a
    * stop-word's rows on one task), with an explicit isNotNull on `term`
    * keeping both branches' tf subtrees canonically identical so AQE
    * reuses one tokenize scan; n_docs is a 0-column footer-count scan.
    * `count(when(tf > 0, 1))` (≡ count(1): tf ≥ 1 always) is deliberate
    * — a bare count(1) lets the optimizer prune tf's count out of the df
    * branch entirely (and it rewrites count(tf) the same way, knowing tf
    * is non-null), which de-canonicalizes the shared exchange and
    * re-runs the tokenize scan; the predicate keeps tf referenced. */
  def taTfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("term"))
    // df is VOCABULARY-sized (one row per distinct term — 10⁸⁺ at
    // 100 TB): a plain keyed join on term, never a broadcast hint (the
    // dd_ppjoin lesson — AQE still broadcasts it when it really is
    // small). Only the one-row n_docs scalar broadcasts unconditionally.
    tf.join(df, "term")
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .withColumn("tfidf_raw",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        round(col("tfidf_raw"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val taTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * ln(n.n_docs / df.df::DOUBLE) AS tfidf_raw
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY tfidf_raw DESC, term) AS rnk
      |  FROM scored)
      |SELECT doc_id, rnk, term, tf, df, round(tfidf_raw, 6) AS tfidf
      |FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin

  /** Unigram-LM surprisal scoring — the classic perplexity-proxy quality
    * filter: score every document by the mean negative log-likelihood of
    * its tokens under the corpus unigram MLE (`p(t) = c_t / N`), plus the
    * per-doc perplexity `exp(avg_nll)`. Low-surprisal docs are repetitive
    * boilerplate; high-surprisal docs are encoding junk — the two tails a
    * pre-training pipeline trims (the KenLM-filter shape with the corpus
    * itself as the LM).
    *
    * Scale: token frequencies key on (doc_id, term) with partial
    * aggregation; the corpus unigram table is vocab-sized and broadcast,
    * the token total is one broadcast scalar. The only corpus-sized
    * shuffle is the (doc_id, term) count. Each term's `tf·(-ln p)`
    * contribution is cast to decimal(38,18) before the per-doc sum, so
    * the reduction is order-independent (same hardening as [[taEntropy]]
    * — raw double sums flip 6-dp rounding boundaries between engines).
    *
    * Plan shape — one tokenize pass AND no hot-term skew: `cnt` and the
    * corpus total are RE-AGGREGATIONS of the tf frame (map-side partial
    * agg at every level, so a Zipf-hot term like "the" collapses before
    * any shuffle — a term-partitioned window would instead funnel every
    * (doc, term) row of that term into one task), and the explicit
    * isNotNull on `term` keeps the tf subtree canonically identical in
    * all three branches so AQE's ReuseExchange executes the tokenize
    * scan and the (doc_id, term) exchange exactly once. The decomposed
    * algebra -ln(c/N) = ln N − ln c lets N enter as a broadcast scalar
    * after the per-doc aggregation; the oracle SQL uses the same
    * algebra, keeping the engines bit-aligned. */
  def taSurprisal: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val tot = cnt.agg(sum(col("c")).cast("long").as("n_total"))
    val avgNll = (log(col("n_total")) -
      sum((col("tf") * log(col("c"))).cast("decimal(38,18)")).cast("double") /
        sum(col("tf")))
    // cnt is VOCABULARY-sized — keyed join on term, not a broadcast
    // hint (see ta_tfidf); the one-row total stays a broadcast scalar
    tf.join(cnt, "term")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"), col("n_total"))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        round(avgNll, 6).as("avg_nll"),
        round(exp(avgNll), 6).as("ppl"))
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"), col("ppl"))
      .orderBy(col("doc_id"))
  }

  val taSurprisalSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |wc AS (SELECT doc_id, tf, sum(tf) OVER (PARTITION BY term) AS c FROM tf),
      |tot AS (SELECT sum(tf) AS n_total FROM tf)
      |SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
      |  round(ln(n_total) - sum((tf * ln(c))::DECIMAL(38,18))::DOUBLE / sum(tf), 6) AS avg_nll,
      |  round(exp(ln(n_total) - sum((tf * ln(c))::DECIMAL(38,18))::DOUBLE / sum(tf)), 6) AS ppl
      |FROM wc CROSS JOIN tot
      |GROUP BY doc_id, n_total ORDER BY doc_id""".stripMargin

  /** Corpus Zipf profile: vocabulary size, token total, the modal term,
    * and the log-log rank–frequency regression slope (Zipf's law predicts
    * ≈ −1 on natural text; a collapse toward 0 flags templated/boilerplate
    * corpora, a steep slope flags a degenerate vocabulary). One-row corpus
    * health summary tracked per ingest snapshot.
    *
    * Scale: everything after the term count is vocab-bounded — the global
    * rank window and the regression run over distinct terms, never the
    * corpus. The OLS slope is computed from explicit decimal(38,18)
    * Σx/Σy/Σxy/Σx² sums (x=ln rank, y=ln freq) rather than a double
    * `regr_slope` fold, so the result is order-independent and bit-equal
    * across engines. Ranks tie-break by term for determinism. */
  def taZipf: Q = (s, d) => {
    val cnt = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    // distributed rank, not row_number over a global Window: the term
    // vocabulary is corpus-derived (10⁸+ terms at 100 TB) and a
    // partition-less window would sort it on one task
    val ranked = graft.plans.DistributedRank.withGlobalRank(
      cnt, Seq(col("c").desc, col("term")), "rnk")
    val x = log(col("rnk").cast("double"))
    val y = log(col("c").cast("double"))
    val dec = (e: Column) => e.cast("decimal(38,18)")
    // decimal sums make the fold order-independent; the slope arithmetic
    // then runs in double on bit-identical inputs (decimal×decimal would
    // hit Spark's precision-loss rescaling, which DuckDB does not share)
    val n = col("vocab_size").cast("double")
    ranked
      .select(col("term"), col("c"), col("rnk"), dec(x).as("x"), dec(y).as("y"),
        dec(x * y).as("xy"), dec(x * x).as("xx"))
      .agg(count(lit(1)).as("vocab_size"), sum(col("c")).cast("long").as("n_tokens"),
        max(when(col("rnk") === 1, col("term"))).as("top_term"),
        max(when(col("rnk") === 1, col("c"))).as("top_freq"),
        sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
        sum(col("xy")).cast("double").as("sxy"), sum(col("xx")).cast("double").as("sxx"))
      .select(col("vocab_size"), col("n_tokens"), col("top_term"), col("top_freq"),
        round((n * col("sxy") - col("sx") * col("sy")) /
          (n * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  val taZipfSql: String =
    """WITH cnt AS (
      |  SELECT term, count(*) AS c FROM (
      |    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS term
      |    FROM documents) GROUP BY 1),
      |ranked AS (
      |  SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM cnt),
      |t AS (
      |  SELECT term, c, rnk,
      |    ln(rnk::DOUBLE)::DECIMAL(38,18) AS x, ln(c::DOUBLE)::DECIMAL(38,18) AS y,
      |    (ln(rnk::DOUBLE) * ln(c::DOUBLE))::DECIMAL(38,18) AS xy,
      |    (ln(rnk::DOUBLE) * ln(rnk::DOUBLE))::DECIMAL(38,18) AS xx
      |  FROM ranked),
      |s AS (
      |  SELECT count(*) AS vocab_size, sum(c)::BIGINT AS n_tokens,
      |    max(CASE WHEN rnk = 1 THEN term END) AS top_term,
      |    max(CASE WHEN rnk = 1 THEN c END) AS top_freq,
      |    sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
      |    sum(xy)::DOUBLE AS sxy, sum(xx)::DOUBLE AS sxx
      |  FROM t)
      |SELECT vocab_size, n_tokens, top_term, top_freq,
      |  round((vocab_size::DOUBLE * sxy - sx * sy) /
      |        (vocab_size::DOUBLE * sxx - sx * sx), 6) AS zipf_slope
      |FROM s""".stripMargin

  /** Per-document readability: Flesch reading ease and Flesch–Kincaid
    * grade from the classic surface proxies — sentences as runs of
    * `[.!?]`, words as whitespace tokens, syllables as ASCII vowel
    * groups `[aeiouy]+` (the standard dictionary-free approximation).
    * The difficulty band drives curriculum staging ([[Pipeline]]) and
    * quality gates the same way the length/punct heuristics do.
    *
    * Record-local (ONE scan, no shuffle at all before the output sort) —
    * at 100 TB this is a pure map stage. Cross-engine determinism: every
    * quotient divides two exact longs (bit-identical doubles on both
    * engines), the Flesch linear forms mirror operator order exactly,
    * and the 4-dp display round uses the half-boundary-proof floor
    * idiom; the band CASE tests the already-rounded score so the
    * branch can never straddle engines. */
  def taReadability: Q = (s, d) => {
    val tk = tokens(col("text"))
    val sents = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
    val sylls = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
    val r4 = (c: Column) => floor(c * 1e4 + 0.5) / 1e4
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(tk).cast("long").as("n_words"),
        sents.cast("long").as("n_sents"),
        sylls.cast("long").as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch", r4(lit(206.835) -
        lit(1.015) * (col("n_words") / col("n_sents")) -
        lit(84.6) * (col("n_syllables") / col("n_words"))))
      .withColumn("fk_grade", r4(lit(0.39) * (col("n_words") / col("n_sents")) +
        lit(11.8) * (col("n_syllables") / col("n_words")) - lit(15.59)))
      .withColumn("band", when(col("flesch") >= 60.0, lit("easy"))
        .when(col("flesch") >= 30.0, lit("standard")).otherwise(lit("hard")))
      .orderBy(col("doc_id"))
  }

  val taReadabilitySql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, n_words, n_sents, n_syllables,
      |    floor((206.835 - 1.015 * (n_words / n_sents) - 84.6 * (n_syllables / n_words)) * 1e4 + 0.5) / 1e4 AS flesch,
      |    floor((0.39 * (n_words / n_sents) + 11.8 * (n_syllables / n_words) - 15.59) * 1e4 + 0.5) / 1e4 AS fk_grade
      |  FROM m WHERE n_words > 0)
      |SELECT doc_id, n_words, n_sents, n_syllables, flesch, fk_grade,
      |  CASE WHEN flesch >= 60.0 THEN 'easy'
      |       WHEN flesch >= 30.0 THEN 'standard' ELSE 'hard' END AS band
      |FROM f ORDER BY doc_id""".stripMargin

  /** Per-document n-gram novelty vs the corpus in doc_id (arrival) order:
    * the fraction of a doc's DISTINCT word trigrams whose first corpus
    * occurrence is this doc. The dedup-aware curation signal — low-novelty
    * docs add little to a training mix even when no single pairwise dup
    * crosses a threshold; streaming ingest gates rank arrivals the same
    * way (Bloom-family transforms are the online analog).
    *
    * Scale: record-local trigram build + per-doc array_distinct bound the
    * explode. n_novel comes WITHOUT joining the gram frame back on the
    * gram key (the naive formulation's scale killer — that join shuffles
    * every exploded gram a second time): the gram→min(doc_id) aggregate
    * re-aggregates by its min into per-doc novel counts, so after the one
    * gram-keyed shuffle everything is doc-keyed and small. No pairwise
    * work — cost is O(total distinct grams), the same class as
    * ta_ngram_freq. */
  def taNovelty: Q = (s, d) => {
    val tri = expr(
      "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', " +
        "element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))")
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(array_distinct(tri)).as("g"))
    val novel = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      .join(novel, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (floor(coalesce(col("n_novel"), lit(0L)) / col("n_grams") * 1e6 + 0.5) / 1e6)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  val taNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0) AS tk
      |  FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2),
      |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
      |  FROM toks WHERE len(tk) >= 3),
      |novel AS (
      |  SELECT first_doc, count(*) AS n_novel
      |  FROM (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY 1) GROUP BY 1),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM gr GROUP BY 1)
      |SELECT doc_id, n_grams, coalesce(n_novel, 0) AS n_novel,
      |  floor(coalesce(n_novel, 0)::DOUBLE / n_grams * 1e6 + 0.5) / 1e6 AS novelty
      |FROM tot LEFT JOIN novel ON doc_id = first_doc ORDER BY doc_id""".stripMargin

  /** Per-doc bigram-LM surprisal: average −ln P(w₂|w₁) under the corpus
    * MLE bigram model (every doc's bigrams are in the corpus, so no
    * probability is ever zero — no smoothing constant to disagree on).
    * The fluency upgrade over [[taSurprisal]]'s unigram model: word salad
    * with common words scores well on unigrams but poorly here.
    *
    * Scale contrast with the unigram op, deliberate: unigram counts are
    * vocab-sized and broadcast; the bigram vocabulary is ~vocab² and must
    * NOT be broadcast — both count tables are window sums PARTITIONED BY
    * the gram key (high-cardinality, well-distributed), so the corpus
    * model costs two keyed shuffles of the doc-level bigram aggregate and
    * no driver-side table at any corpus size. Per-element decimal(38,18)
    * casts make the transcendental sum order-independent (Exact idiom 3). */
  def taBigramSurprisal: Q = (s, d) => {
    val docW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val c12W = Window.partitionBy(col("w1"), col("w2"))
    val c1W = Window.partitionBy(col("w1"))
    val avgNll = sum((col("tf") * (log(col("c1")) - log(col("c12"))))
      .cast("decimal(38,18)")).cast("double") / sum(col("tf"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(docW))
      .filter(col("w2").isNotNull)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("c12", sum(col("tf")).over(c12W))
      .withColumn("c1", sum(col("tf")).over(c1W))
      .groupBy(col("doc_id"))
      // floorRound, not round(): the quotient is a double (Exact idiom 2 —
      // engine round() on doubles diverges at x…5 boundaries)
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        Exact.floorRound(avgNll, 6).as("avg_nll2"),
        Exact.floorRound(exp(avgNll), 6).as("ppl2"))
      .orderBy(col("doc_id"))
  }

  val taBigramSurprisalSql: String =
    """WITH tok AS (
      |  SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS pos
      |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |                x -> length(x) > 0) AS tk
      |        FROM documents)
      |  WHERE len(tk) >= 2),
      |bi AS (
      |  SELECT doc_id, tk[pos] AS w1, tk[pos + 1] AS w2, count(*) AS tf
      |  FROM tok GROUP BY 1, 2, 3),
      |cc AS (
      |  SELECT doc_id, tf,
      |    sum(tf) OVER (PARTITION BY w1, w2) AS c12,
      |    sum(tf) OVER (PARTITION BY w1) AS c1
      |  FROM bi)
      |SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
      |  floor(sum((tf * (ln(c1) - ln(c12)))::DECIMAL(38,18))::DOUBLE / sum(tf) * 1e6 + 0.5) / 1e6 AS avg_nll2,
      |  floor(exp(sum((tf * (ln(c1) - ln(c12)))::DECIMAL(38,18))::DOUBLE / sum(tf)) * 1e6 + 0.5) / 1e6 AS ppl2
      |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Merge rounds trained by [[taBpeTrain]]. */
  val BpeMerges = 6

  /** BPE merge TRAINING (Sennrich et al. 2016) — where ta_bpe_tokens
    * merely counts pieces under a fixed pre-tokenizer, this LEARNS the
    * merge table, the artifact a tokenizer build actually ships: start
    * from characters, repeatedly take the most frequent adjacent symbol
    * pair (ties: lowest left, then right symbol — fully deterministic)
    * and fuse it corpus-wide, greedy leftmost-non-overlapping within
    * each word. Output: the merge table in training order with each
    * pair's frequency at selection time — rank, left, right, merged,
    * pair_count.
    *
    * Scale shape — the classic BPE trick: training runs on the WORD
    * HISTOGRAM (word, count), not the corpus — ONE corpus pass builds
    * it (checkpoint-pinned, stays distributed: vocabulary tables are
    * never driver-sized at 10⁸ terms, the ta_tfidf lesson), then each
    * merge round is a vocab-bounded explode + partial-agged count +
    * top-1 TakeOrderedAndProject. The driver holds only the K chosen
    * merges (the kmeans centroid discipline). The fuse step is a
    * codegen'd array fold — no UDF. Rows-only (no SQL oracle: per-round
    * greedy array folding is not sanely SQL-expressible); the spec pins
    * the full merge sequence against an independent driver-side trainer
    * on the collected histogram. */
  def taBpeTrain: Q = (s, d) => {
    import s.implicits._
    trainedBpeMerges(s, d)
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Greedy leftmost-non-overlapping fuse of the adjacent pair (l, r) —
    * shared by training, [[taBpeApply]], and the streaming tokenizer
    * ([[graft.streaming.Transforms.bpeTokens]]): a streamed merge is a
    * trained merge by construction. Codegen'd array fold, no UDF. */
  private[graft] def bpeFuse(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** All trained merges applied in rank order to a word's symbols, via
    * the native `graft_bpe_fuse` kernel: the merge table ships as ONE
    * array-literal pair and the rank loop runs at runtime, so plan size
    * is O(1) in the merge count — a shipped tokenizer's 10k–30k merges
    * compile fine, where the K-nested-[[bpeFuse]] chain (kept below as
    * [[bpeEncodeHof]], the spec's parity reference) blows plan
    * compilation past toy K. */
  private[graft] def bpeEncode(word: Column,
      merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) split(word, "")
    else GraftFunctions.call("graft_bpe_fuse", split(word, ""),
      typedLit(merges.map(_._1)), typedLit(merges.map(_._2)))

  /** The composed-HOF encode — SEMANTICS REFERENCE ONLY (BpeFuseSpec
    * pins [[bpeEncode]] against it); plan size grows linearly in the
    * merge count, so production paths use [[bpeEncode]]. */
  private[graft] def bpeEncodeHof(word: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(word, ""): Column) {
      case (syms, (l, r)) => bpeFuse(syms, l, r) }

  // Merge tables memoized per (session, dir + data fingerprint) —
  // training is fully deterministic, so taBpeTrain / taBpeApply / the
  // streaming tokenizer share one run instead of each paying BpeMerges
  // corpus actions. Round 15: moved onto the shared
  // [[graft.util.SessionMemo]], which also upgrades this cache to the
  // family's replace-on-refresh contract (the old dir|fp key stranded
  // stale entries for the session lifetime).
  private val mergeMemo =
    new graft.util.SessionMemo[Seq[(Long, String, String, String, Long)]](
      "documents")

  private[graft] def trainedBpeMerges(
      s: SparkSession, d: String): Seq[(Long, String, String, String, Long)] =
    mergeMemo.getOrCompute(s, d) { trainBpe(s, d) }

  private def trainBpe(s: SparkSession, d: String): Seq[(Long, String, String, String, Long)] = {
    val hist = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(split(col("w"), "").as("syms"), col("wc"))
      .localCheckpoint()
    var cur = hist
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < BpeMerges && !exhausted) {
      val top = cur
        .filter(size(col("syms")) >= 2)
        .select(explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"), col("wc"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect().headOption
      top match {
        case Some(row) =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((k.toLong, l, r, l + r, c))
          // same native kernel apply uses (one-entry table): a trained
          // merge is a streamed/applied merge by construction
          cur = cur.select(GraftFunctions.call("graft_bpe_fuse", col("syms"),
            typedLit(Seq(l)), typedLit(Seq(r))).as("syms"), col("wc"))
          k += 1
        case None => exhausted = true
      }
    }
    merges.result()
  }

  /** BPE APPLY — tokenize the corpus under the merges [[taBpeTrain]]
    * learned (the train-small/apply-big split: the K-row merge table is
    * driver-held metadata, application is one record-local codegen'd
    * pass — each word folds through the merges in rank order, the same
    * [[bpeFuse]] kernel training used, so apply(train(C)) is consistent
    * by construction). Per doc: word count, BPE piece count, merges
    * applied (chars − pieces), and the pieces-per-word compression the
    * budget planner reads. Rows-only like the trainer; the spec pins a
    * driver-side re-encoding, and the invariant n_pieces + n_merges =
    * n_chars (every fuse consumes exactly one symbol) ties the output
    * to ta_tokens' exact char accounting. */
  def taBpeApply: Q = (s, d) => {
    val merges = trainedBpeMerges(s, d).map(m => (m._2, m._3))
    val tk = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(tk).cast("long").as("n_words"),
        aggregate(transform(tk, w => size(bpeEncode(w, merges)).cast("long")),
          lit(0L), (a, x) => a + x).as("n_pieces"),
        aggregate(transform(tk, w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("n_word_chars"))
      .withColumn("n_merges", col("n_word_chars") - col("n_pieces"))
      .withColumn("pieces_per_word",
        when(col("n_words") > 0, Exact.floorRound(
          col("n_pieces").cast("double") / col("n_words"), 4)))
      .orderBy(col("doc_id"))
  }

  /** Unicode script census per document — the script-mix signal behind
    * standard corpus filters (mojibake → `bad` spike; lookalike
    * script injection → off-dominant share; language routing when the
    * `lang` column is missing or untrusted). One codepoint pass per doc
    * via the native [[graft.functions.ScriptCensus]] kernel (a
    * transform-over-positions chain would be O(len²) on multibyte text
    * — substr addresses codepoints by front-scan); the oracle states
    * the identical range comparisons over `ascii(substr(text, i, 1))`,
    * exact by the cross-engine codepoint agreement MultibytePhashSpec
    * pins. Dominant script = the first class in slot-priority order
    * holding the max count ('none' for empty/null docs); all counts are
    * integers — nothing to round. Scale: record-local, one scan, no
    * shuffle before the presentation sort. */
  def taScript: Q = (s, d) =>
    censusPerDoc(s, d).drop("lang").orderBy(col("doc_id"))

  /** The census classes in dominant-tiebreak priority order — ONE list
    * shared by [[taScript]] and [[taScriptLangid]] (the routing card
    * must read the same slots as the census it audits). */
  private val ScriptClasses = Seq("latin", "digit", "space", "punct",
    "cjk", "cyrillic", "arabic", "bad", "other")

  /** Shared per-doc census frame behind [[taScript]] / [[taScriptLangid]]:
    * doc_id, lang, slot counts and the dominant class. TWO projections
    * (the sigDf idiom): the census lands as ONE materialized attribute,
    * then slots read from it — embedding the (nondeterministic-flagged)
    * kernel 9x in a single select would run the full codepoint walk
    * once per slot. */
  private def censusPerDoc(s: SparkSession, d: String): DataFrame = {
    val classes = ScriptClasses
    val withCen = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        GraftFunctions.call("graft_script_census", col("text")).as("cen"))
    val base = withCen.select(
      col("doc_id") +: col("lang") +:
        coalesce(element_at(col("cen"), 1), lit(0L)).as("n_cp") +:
        classes.zipWithIndex.map { case (n, i) =>
          coalesce(element_at(col("cen"), i + 2), lit(0L)).as(s"n_$n") }: _*)
    val maxc = greatest(classes.map(n => col(s"n_$n")): _*)
    val dom = classes.tail.foldLeft(
        when(col(s"n_${classes.head}") === maxc, classes.head)) {
      (acc, n) => acc.when(col(s"n_$n") === maxc, n)
    }.otherwise("other")
    base.withColumn("dominant", when(col("n_cp") === 0, "none").otherwise(dom))
  }

  /** Script-vs-declared-language consistency card — the routing-hygiene
    * census a pipeline runs once [[taScript]] and [[taLangid]] both
    * exist: the cross-tab of (declared `lang`, dominant script) with
    * per-lang shares and a mismatch flag (declared=zh but
    * dominant=latin → mislabeled metadata or spam; the docs a router
    * would send to the wrong tokenizer/filter chain). `mismatch` fires
    * only when the declared language has a KNOWN expected script AND
    * the dominant class is a SCRIPT signal (latin/cjk/cyrillic/arabic/
    * other) differing from it — a digit/space/punct/none dominant is a
    * content-shape question for the quality rules, not a routing
    * signal. Share is the 4-dp floor round of exact long division.
    *
    * Scale: the census is record-local (one kernel pass, one scan);
    * the cross-tab is a partial-combined groupBy collapsing to
    * ≤ |langs|×|classes| rows, and the per-lang total window rides
    * THAT card-sized frame — never the corpus. */
  /** declared lang → expected dominant script: ONE table driving both
    * the Spark when-chain and the oracle's CASE (built from the same
    * rows in [[taScriptLangidSql]]), so the two can never drift. */
  private val ExpectedScript: Seq[(Seq[String], String)] = Seq(
    Seq("en", "es", "de", "fr", "it", "pt", "nl") -> "latin",
    Seq("zh", "ja", "ko") -> "cjk",
    Seq("ru", "uk", "bg", "sr") -> "cyrillic",
    Seq("ar", "fa", "ur") -> "arabic")

  def taScriptLangid: Q = (s, d) => {
    val expected = ExpectedScript.foldLeft(lit(null).cast("string")) {
      case (acc, (langs, script)) =>
        when(col("lang").isin(langs: _*), script).otherwise(acc)
    }
    censusPerDoc(s, d)
      .groupBy(col("lang"), col("dominant"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_docs", sum(col("n_docs"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
      .withColumn("share_of_lang",
        floor(col("n_docs") / col("lang_docs") * 1e4 + 0.5) / 1e4)
      .withColumn("mismatch",
        when(expected.isNotNull &&
          col("dominant").isin("latin", "cjk", "cyrillic", "arabic", "other") &&
          col("dominant") =!= expected, 1L).otherwise(0L))
      .orderBy(col("lang").asc_nulls_last, col("dominant"))
  }

  // the kernel's slotOf ranges, stated literally (disjoint by
  // construction, so independent CASE sums equal the if/else chain) —
  // ONE copy shared by the ta_script and ta_script_langid oracles
  private val scriptRangeSql: Seq[(String, String)] = Seq(
    "latin" -> "(c BETWEEN 65 AND 90) OR (c BETWEEN 97 AND 122) OR (c BETWEEN 192 AND 591)",
    "digit" -> "c BETWEEN 48 AND 57",
    "space" -> "(c BETWEEN 9 AND 13) OR c = 32 OR c = 160",
    "punct" -> "(c BETWEEN 33 AND 47) OR (c BETWEEN 58 AND 64) OR (c BETWEEN 91 AND 96) OR (c BETWEEN 123 AND 126)",
    "cjk" -> "(c BETWEEN 12352 AND 12543) OR (c BETWEEN 13312 AND 19903) OR (c BETWEEN 19968 AND 40959) OR (c BETWEEN 44032 AND 55215) OR (c BETWEEN 63744 AND 64255)",
    "cyrillic" -> "c BETWEEN 1024 AND 1279",
    "arabic" -> "(c BETWEEN 1536 AND 1791) OR (c BETWEEN 1872 AND 1919)",
    "bad" -> ("(c BETWEEN 0 AND 8) OR (c BETWEEN 14 AND 31) OR (c BETWEEN 127 AND 159)" +
      " OR (c BETWEEN 64976 AND 65007) OR c = 65533 OR c = 65534 OR c = 65535"))

  /** The cp/cls/filled/m census CTE chain shared by the ta_script and
    * ta_script_langid oracles; `extraDocCols` rides doc columns (e.g.
    * `, d.lang`) through the filled frame. */
  private def censusCteSql(extraDocCols: String): String = {
    val sums = scriptRangeSql
      .map { case (n, p) => s"sum(CASE WHEN $p THEN 1 ELSE 0 END) AS n_$n" }
      .mkString(",\n    ")
    s"""WITH cp AS (
       |  SELECT doc_id, ascii(substr(text, i, 1)) AS c
       |  FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
       |  WHERE length(text) > 0),
       |cls AS (
       |  SELECT doc_id, count(*) AS n_cp,
       |    $sums
       |  FROM cp GROUP BY doc_id),
       |filled AS (
       |  SELECT d.doc_id$extraDocCols, CAST(coalesce(n_cp, 0) AS BIGINT) AS n_cp,
       |    CAST(coalesce(n_latin, 0) AS BIGINT) AS n_latin,
       |    CAST(coalesce(n_digit, 0) AS BIGINT) AS n_digit,
       |    CAST(coalesce(n_space, 0) AS BIGINT) AS n_space,
       |    CAST(coalesce(n_punct, 0) AS BIGINT) AS n_punct,
       |    CAST(coalesce(n_cjk, 0) AS BIGINT) AS n_cjk,
       |    CAST(coalesce(n_cyrillic, 0) AS BIGINT) AS n_cyrillic,
       |    CAST(coalesce(n_arabic, 0) AS BIGINT) AS n_arabic,
       |    CAST(coalesce(n_bad, 0) AS BIGINT) AS n_bad,
       |    CAST(coalesce(n_cp, 0) - coalesce(n_latin, 0) - coalesce(n_digit, 0)
       |      - coalesce(n_space, 0) - coalesce(n_punct, 0) - coalesce(n_cjk, 0)
       |      - coalesce(n_cyrillic, 0) - coalesce(n_arabic, 0)
       |      - coalesce(n_bad, 0) AS BIGINT) AS n_other
       |  FROM documents d LEFT JOIN cls ON cls.doc_id = d.doc_id),
       |m AS (SELECT *, greatest(n_latin, n_digit, n_space, n_punct, n_cjk,
       |    n_cyrillic, n_arabic, n_bad, n_other) AS mx FROM filled)""".stripMargin
  }

  private val domCaseSql: String = Seq("latin", "digit", "space", "punct",
    "cjk", "cyrillic", "arabic", "bad")
    .map(n => s"WHEN n_$n = mx THEN '$n'").mkString(" ")

  val taScriptSql: String =
    s"""${censusCteSql("")}
       |SELECT doc_id, n_cp, n_latin, n_digit, n_space, n_punct, n_cjk,
       |  n_cyrillic, n_arabic, n_bad, n_other,
       |  CASE WHEN n_cp = 0 THEN 'none' $domCaseSql ELSE 'other' END AS dominant
       |FROM m ORDER BY doc_id""".stripMargin

  val taScriptLangidSql: String = {
    // the SAME ExpectedScript rows as the Spark when-chain
    val exp = "CASE " + ExpectedScript.map { case (langs, script) =>
      s"WHEN lang IN (${langs.map(l => s"'$l'").mkString(",")}) THEN '$script'"
    }.mkString("\n    ") + " END"
    s"""${censusCteSql(", d.lang")}
       |, dom AS (
       |  SELECT lang,
       |    CASE WHEN n_cp = 0 THEN 'none' $domCaseSql ELSE 'other' END AS dominant
       |  FROM m),
       |ct AS (SELECT lang, dominant, count(*) AS n_docs FROM dom GROUP BY 1, 2),
       |wt AS (SELECT lang, dominant, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_docs FROM ct)
       |SELECT lang, dominant, n_docs, lang_docs,
       |  floor(n_docs / lang_docs * 1e4 + 0.5) / 1e4 AS share_of_lang,
       |  CAST(CASE WHEN ($exp) IS NOT NULL
       |      AND dominant IN ('latin','cjk','cyrillic','arabic','other')
       |      AND dominant <> ($exp)
       |    THEN 1 ELSE 0 END AS BIGINT) AS mismatch
       |FROM wt ORDER BY lang, dominant""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "ta_script" -> taScript,
    "ta_script_langid" -> taScriptLangid,
    "ta_bpe_train" -> taBpeTrain,
    "ta_bpe_apply" -> taBpeApply,
    "ta_bigram_surprisal" -> taBigramSurprisal,
    "ta_novelty" -> taNovelty,
    "ta_readability" -> taReadability,
    "ta_surprisal" -> taSurprisal,
    "ta_zipf" -> taZipf,
    "ta_tfidf" -> taTfidf,
    "ta_bpe_tokens" -> taBpeTokens,
    "ta_tokens" -> taTokens,
    "ta_quality" -> taQuality,
    "ta_langid" -> taLangid,
    "ta_fingerprint" -> taFingerprint,
    "ta_ngram_freq" -> taNgramFreq,
    "ta_repetition" -> taRepetition,
    "ta_collocations" -> taCollocations,
    "ta_entropy" -> taEntropy,
    "ta_vocab" -> taVocab)

  def oracleSql: Map[String, String] = Map(
    "ta_script" -> taScriptSql,
    "ta_script_langid" -> taScriptLangidSql,
    "ta_bigram_surprisal" -> taBigramSurprisalSql,
    "ta_novelty" -> taNoveltySql,
    "ta_readability" -> taReadabilitySql,
    "ta_surprisal" -> taSurprisalSql,
    "ta_zipf" -> taZipfSql,
    "ta_tfidf" -> taTfidfSql,
    "ta_bpe_tokens" -> taBpeTokensSql,
    "ta_tokens" -> taTokensSql,
    "ta_quality" -> taQualitySql,
    "ta_langid" -> taLangidSql,
    "ta_fingerprint" -> taFingerprintSql,
    "ta_ngram_freq" -> taNgramFreqSql,
    "ta_repetition" -> taRepetitionSql,
    "ta_collocations" -> taCollocationsSql,
    "ta_entropy" -> taEntropySql,
    "ta_vocab" -> taVocabSql)
}
