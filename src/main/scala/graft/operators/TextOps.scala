package graft.operators

import graft.{QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Text-analysis operators for large-scale training-data pipelines
  * (north star beyond the reference surface, BASELINE.json:6): token
  * statistics, quality scoring, language identification, document
  * fingerprinting, per-language term frequencies — all over the
  * driver's `documents` table.
  *
  * Everything here is pure column algebra over Spark built-ins (split /
  * transform / filter / aggregate on arrays) — zero UDFs, so every
  * operator stays inside whole-stage codegen and scales embarrassingly
  * parallel: per-document work with no shuffle except where a groupBy
  * is semantically required (term frequencies).
  */
object TextOps {

  /** Whitespace tokens of the `text` column. */
  private[graft] val toks: Column = split(col("text"), " ")

  private val stopwords = Seq("the", "a", "of", "and", "to")

  /** Token statistics + quality score per document.
    * Quality heuristics (length, stopword ratio, type-token ratio) are
    * the standard cheap pre-filters a 100 TB corpus pass runs before
    * anything expensive — one scan, no shuffle, fully codegen'd. */
  def qTokenStats(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
    val nDistinct = size(array_distinct(toks))
    // tokens are single-space separated, so total token chars =
    // length - (n_tokens - 1) separators; integer-exact before division.
    val avgLen = (length(col("text")) - nTok + lit(1)).cast(DoubleType) / nTok
    val stopRatio = nStop.cast(DoubleType) / nTok
    val ttr = nDistinct.cast(DoubleType) / nTok
    Tables.documents(spark, sfDir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        nTok.as("n_tokens"),
        nDistinct.as("n_distinct"),
        nStop.as("n_stopwords"),
        avgLen.as("avg_token_len"),
        stopRatio.as("stopword_ratio"),
        ttr.as("type_token_ratio"),
        // composite quality score: lexical diversity damped by
        // stopword density — both terms in [0,1], deterministic doubles.
        (ttr * (lit(1.0) - stopRatio)).as("quality_score"))
  }

  val qTokenStatsOracle: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
      |s AS (SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(ts) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(ts)) AS INT) AS n_distinct,
      |  CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to'))) AS INT) AS n_stopwords
      |FROM t)
      |SELECT doc_id, n_chars, n_tokens, n_distinct, n_stopwords,
      |  CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS avg_token_len,
      |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
      |  CAST(n_distinct AS DOUBLE) / n_tokens AS type_token_ratio,
      |  (CAST(n_distinct AS DOUBLE) / n_tokens) * (1.0 - CAST(n_stopwords AS DOUBLE) / n_tokens) AS quality_score
      |FROM s ORDER BY doc_id""".stripMargin

  /** Language identification by marker-token profile: per-language
    * scores are counts of language-specific function words; argmax with
    * a fixed tie-break order. A real n-gram langid model is the same
    * plan shape (dot product of a profile against token counts) — one
    * scan, no shuffle, trivially 100 TB-able. */
  def qLangId(spark: SparkSession, sfDir: String): DataFrame = {
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => t.isin(markers: _*)))
    val en = score(Seq("the", "a", "of", "and"))
    val de = score(Seq("der", "die", "das", "und"))
    val es = score(Seq("el", "los", "las", "y"))
    val fr = score(Seq("le", "les", "et", "une"))
    val pred = when(en >= greatest(de, es, fr), "en")
      .when(de >= greatest(es, fr), "de")
      .when(es >= fr, "es")
      .otherwise("fr")
    Tables.documents(spark, sfDir).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        en.as("score_en"), de.as("score_de"),
        es.as("score_es"), fr.as("score_fr"),
        pred.as("predicted_lang"))
      .withColumn("agrees", (col("predicted_lang") === col("labeled_lang")).cast("int"))
  }

  val qLangIdOracle: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
      |s AS (SELECT doc_id, lang AS labeled_lang,
      |  CAST(len(list_filter(ts, x -> x IN ('the','a','of','and'))) AS INT) AS score_en,
      |  CAST(len(list_filter(ts, x -> x IN ('der','die','das','und'))) AS INT) AS score_de,
      |  CAST(len(list_filter(ts, x -> x IN ('el','los','las','y'))) AS INT) AS score_es,
      |  CAST(len(list_filter(ts, x -> x IN ('le','les','et','une'))) AS INT) AS score_fr
      |FROM t)
      |SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr,
      |  CASE WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
      |       WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
      |       WHEN score_es >= score_fr THEN 'es'
      |       ELSE 'fr' END AS predicted_lang,
      |  CAST(CASE WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
      |       WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
      |       WHEN score_es >= score_fr THEN 'es'
      |       ELSE 'fr' END = labeled_lang AS INT) AS agrees
      |FROM s ORDER BY doc_id""".stripMargin

  /** Document fingerprints: exact (md5 of raw text) and content
    * (md5 of the sorted distinct-token set — invariant to word order
    * and repetition, the cheap "bag-of-words fingerprint" used as a
    * pre-cluster key before MinHash in dedup pipelines). */
  def qFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("fp_exact"),
        md5(array_join(array_sort(array_distinct(toks)), " ").cast("binary"))
          .as("fp_content"))

  val qFingerprintOracle: String =
    """SELECT doc_id, md5(text) AS fp_exact,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp_content
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-language top-5 terms by frequency: explode → count → top-k
    * window. The explode inflates rows ~40× but partial aggregation
    * collapses them map-side before the single shuffle on
    * (lang, token) — the plan a 100 TB vocabulary build wants. */
  def qTermFreq(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("token"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  val qTermFreqOracle: String =
    """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |cnt AS (SELECT lang, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
      |rk AS (SELECT lang, token, n,
      |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank FROM cnt)
      |SELECT lang, token, n, rank FROM rk WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** BPE-style pre-tokenization via regex (the GPT-2 pre-tokenizer
    * family, restricted to constructs RE2 and Java regex share — no
    * lookahead): contractions, space-prefixed word/number runs,
    * punctuation runs. Token COUNTING is the 100 TB use: cost
    * estimation and length filtering before an expensive real BPE
    * encode; `regexp_extract_all` is codegen'd, one scan, no shuffle. */
  private val BpePattern = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def qBpeTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val pieces = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    Tables.documents(spark, sfDir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(pieces).as("n_pieces"),
        size(array_distinct(pieces)).as("n_distinct_pieces"),
        (length(col("text")).cast(DoubleType) / size(pieces)).as("chars_per_piece"),
        (size(pieces).cast(DoubleType) / size(toks)).as("pieces_per_word"))
  }

  val qBpeTokensOracle: String =
    """WITH p AS (SELECT doc_id, text,
      |  regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+') AS pieces,
      |  string_split(text, ' ') AS ts FROM documents)
      |SELECT doc_id,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(pieces) AS INT) AS n_pieces,
      |  CAST(len(list_distinct(pieces)) AS INT) AS n_distinct_pieces,
      |  CAST(length(text) AS DOUBLE) / len(pieces) AS chars_per_piece,
      |  CAST(len(pieces) AS DOUBLE) / len(ts) AS pieces_per_word
      |FROM p ORDER BY doc_id""".stripMargin

  /** TOKENIZER FERTILITY per language slice — the tokenizer-eval
    * metric that decides whether a vocabulary is fit for a corpus:
    * fertility = subword pieces per whitespace word (≈1 for a
    * well-fit vocab, blows up on unseen scripts), plus chars-per-
    * piece (compression). Uses the same BPE-ish piece regex as
    * [[qBpeTokens]] so the two reports agree by construction. Scale:
    * one codegen'd map pass collapses the corpus to a language-sized
    * rollup; each output ratio is ONE division of two exact long
    * sums (not an average of per-doc doubles), so engines agree
    * bit-for-bit before rounding. */
  def qFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val pieces = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        size(pieces).cast("long").as("pieces"),
        size(split(col("text"), " ")).cast("long").as("words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("n_chars"),
        sum(col("pieces")).as("n_pieces"),
        sum(col("words")).as("n_words"),
        round(sum(col("pieces")).cast(DoubleType) / sum(col("words")), 6)
          .as("fertility"),
        round(sum(col("chars")).cast(DoubleType) / sum(col("pieces")), 6)
          .as("chars_per_piece"))
  }

  val qFertilityOracle: String =
    """WITH p AS (SELECT lang,
      |  length(text) AS chars,
      |  len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS pieces,
      |  len(string_split(text, ' ')) AS words FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(chars) AS BIGINT) AS n_chars,
      |  CAST(SUM(pieces) AS BIGINT) AS n_pieces,
      |  CAST(SUM(words) AS BIGINT) AS n_words,
      |  round(CAST(SUM(pieces) AS DOUBLE) / SUM(words), 6) AS fertility,
      |  round(CAST(SUM(chars) AS DOUBLE) / SUM(pieces), 6) AS chars_per_piece
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  /** Rolling (Rabin-Karp polynomial) document fingerprint: per-token
    * values folded left-to-right as h = (h·B + v) mod M, plus the
    * minimum 3-token-window hash (winnowing's selection step — the
    * local-fingerprint family used for plagiarism/overlap detection).
    * Pure array algebra per document, no shuffle. The HOF fold is
    * interpreted (not codegen'd) — acceptable for a per-doc O(tokens)
    * pass; a native Expression is the promotion path if a bench ever
    * shows it hot (the DotProduct precedent). */
  def rollingHashes(docs: DataFrame): DataFrame = {
    val B = 31L; val M = 1000000007L
    val tv = (t: Column) =>
      (length(t).cast("long") * lit(B) + ascii(substring(t, 1, 1)).cast("long")) % lit(M)
    // hv MUST be materialized as a column before the window transform:
    // inlining the expression into the lambda re-evaluates the whole
    // per-token map for every element_at (quadratic per document —
    // measured 32 s vs 1 s at sf0.1)
    val staged = docs
      .withColumn("_hv", transform(toks, tv))
      .withColumn("_n", size(col("_hv")))
    val hv = col("_hv")
    val docHash = aggregate(hv, lit(0L), (acc, x) => (acc * lit(B) + x) % lit(M))
    val winHashes = transform(sequence(lit(0), col("_n") - 3), i =>
      ((element_at(hv, i + 1) * lit(B) + element_at(hv, i + 2)) * lit(B)
        + element_at(hv, i + 3)) % lit(M))
    staged.select(
        col("doc_id"),
        docHash.as("doc_hash"),
        when(col("_n") >= 3, array_min(winHashes)).otherwise(lit(null).cast("long"))
          .as("min_window_hash"))
  }

  def qRollingHash(spark: SparkSession, sfDir: String): DataFrame =
    rollingHashes(Tables.documents(spark, sfDir))

  val qRollingHashOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |v AS (SELECT doc_id,
      |  list_transform(ts, t -> (length(t)*31 + ascii(t[1:1])) % 1000000007) AS hv,
      |  len(ts) AS n FROM t)
      |SELECT doc_id,
      |  CAST(list_reduce(list_prepend(0, hv),
      |    (acc, x) -> (acc*31 + x) % 1000000007) AS BIGINT) AS doc_hash,
      |  CAST(CASE WHEN n >= 3 THEN list_min(list_transform(generate_series(1, n-2),
      |    i -> ((hv[i]*31 + hv[i+1])*31 + hv[i+2]) % 1000000007)) ELSE NULL END AS BIGINT)
      |    AS min_window_hash
      |FROM v ORDER BY doc_id""".stripMargin

  /** The per-document gate columns of the corpus filter chain —
    * n_tokens, quality_score, language-marker scores + prediction, and
    * the sorted-token-set content fingerprint — as ONE projection over
    * one scan, plus any extra columns the caller threads through.
    * Shared by [[qQualityPipeline]] and the end-to-end
    * `CorpusPipeline.qPipelineCorpus`, so the two stay bit-identical. */
  private[operators] def gatedDocs(docs: DataFrame, extraCols: Column*): DataFrame = {
    def score(markers: Seq[String]): Column =
      size(filter(toks, t => t.isin(markers: _*)))
    val nTok = size(toks)
    val ttr = size(array_distinct(toks)).cast(DoubleType) / nTok
    val stopRatio = score(stopwords).cast(DoubleType) / nTok
    docs
      .select((Seq(col("doc_id"), col("lang"),
        nTok.as("n_tokens"),
        (ttr * (lit(1.0) - stopRatio)).as("quality_score"),
        score(Seq("the", "a", "of", "and")).as("s_en"),
        score(Seq("der", "die", "das", "und")).as("s_de"),
        score(Seq("el", "los", "las", "y")).as("s_es"),
        score(Seq("le", "les", "et", "une")).as("s_fr"),
        md5(array_join(array_sort(array_distinct(toks)), " ").cast("binary"))
          .as("fp_content")) ++ extraCols): _*)
      .withColumn("predicted_lang",
        when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr")), "en")
          .when(col("s_de") >= greatest(col("s_es"), col("s_fr")), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
  }

  /** The composed training-data filter chain — the pipeline every LLM
    * corpus build runs, as ONE declarative query: quality gate (score +
    * length) → language gate (prediction agrees with label) → exact
    * dedup (keep only each content-fingerprint's min doc_id).
    *
    * Plan shape: every per-document gate is a COLUMN in one projection
    * over one scan (naively joining the individual queries would scan
    * `documents` four times); the only extra pass is the canonical-set
    * aggregation the dedup semantics require, and the only joins are
    * against that tiny aggregate. At 100 TB: one wide scan, one small
    * agg, one broadcastable join. */
  def qQualityPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val gated = gatedDocs(Tables.documents(spark, sfDir))
    val canonical = gated.groupBy(col("fp_content"))
      .agg(min(col("doc_id")).as("keep_id"))
    gated
      .filter(col("quality_score") >= 0.2 && col("n_tokens") >= 10 &&
        col("predicted_lang") === col("lang"))
      .join(canonical, col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("predicted_lang"),
        round(col("quality_score"), 6).as("quality_r"), col("n_tokens"))
  }

  val qQualityPipelineOracle: String =
    """WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ts FROM documents),
      |stats AS (SELECT doc_id,
      |  CAST(len(ts) AS INT) AS n_tokens,
      |  (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) *
      |    (1.0 - CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(ts))
      |    AS quality_score
      |  FROM t),
      |lid AS (SELECT doc_id, lang AS labeled_lang,
      |  CAST(len(list_filter(ts, x -> x IN ('the','a','of','and'))) AS INT) AS s_en,
      |  CAST(len(list_filter(ts, x -> x IN ('der','die','das','und'))) AS INT) AS s_de,
      |  CAST(len(list_filter(ts, x -> x IN ('el','los','las','y'))) AS INT) AS s_es,
      |  CAST(len(list_filter(ts, x -> x IN ('le','les','et','une'))) AS INT) AS s_fr
      |  FROM t),
      |pred AS (SELECT doc_id, labeled_lang,
      |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
      |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END AS predicted_lang
      |  FROM lid),
      |fp AS (SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp_content
      |  FROM documents),
      |canon AS (SELECT fp_content, min(doc_id) AS keep_id FROM fp GROUP BY 1)
      |SELECT s.doc_id, p.predicted_lang,
      |  round(s.quality_score, 6) AS quality_r, s.n_tokens
      |FROM stats s
      |JOIN pred p ON p.doc_id = s.doc_id AND p.predicted_lang = p.labeled_lang
      |JOIN canon c ON c.keep_id = s.doc_id
      |WHERE s.quality_score >= 0.2 AND s.n_tokens >= 10
      |ORDER BY s.doc_id""".stripMargin

  /** Repetition quality metrics (the Gopher/MassiveText repetition
    * rules, Rae et al. 2021 §A1.1): fraction of duplicate words, mass
    * of the most frequent word/bigram, and mass of all duplicated
    * bigrams. High values flag boilerplate/spam to drop before
    * training. Shape: explode → two (doc, gram) partial-aggregated
    * groupBys → join; each shuffles grams once with map-side combine —
    * the only scalable shape (per-row array algebra would re-walk each
    * document's token list per metric). */
  def qRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val wc = docs.select(col("doc_id"), explode(toks).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
    val w = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_tok"), max(col("c")).as("top_w"),
      (sum(col("c")) - count(lit(1))).as("dup_w"))
    val bg0 = docs.select(col("doc_id"), toks.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("ts")) - 2),
        i => concat_ws(" ", element_at(col("ts"), i + 1),
          element_at(col("ts"), i + 2)))).as("bg"))
    val bc = bg0.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
    val b = bc.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_bg"), max(col("c")).as("top_bg"),
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bg"))
    w.join(b, "doc_id")
      .select(col("doc_id"), col("n_tok"),
        (col("dup_w").cast(DoubleType) / col("n_tok")).as("dup_word_frac"),
        (col("top_w").cast(DoubleType) / col("n_tok")).as("top_word_frac"),
        (col("top_bg").cast(DoubleType) / col("n_bg")).as("top_bigram_frac"),
        (col("dup_bg").cast(DoubleType) / col("n_bg")).as("dup_bigram_frac"))
  }

  val qRepetitionOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |wc AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, MAX(c) AS top_w,
      |        CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_w FROM wc GROUP BY 1),
      |bg0 AS (SELECT doc_id, ts[g] || ' ' || ts[g+1] AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      |       unnest(generate_series(1, len(ts)-1)) AS u(g)),
      |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg0 GROUP BY 1, 2),
      |b AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg, MAX(c) AS top_bg,
      |        CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bg
      |      FROM bc GROUP BY 1)
      |SELECT w.doc_id, n_tok,
      |  CAST(dup_w AS DOUBLE) / n_tok AS dup_word_frac,
      |  CAST(top_w AS DOUBLE) / n_tok AS top_word_frac,
      |  CAST(top_bg AS DOUBLE) / n_bg AS top_bigram_frac,
      |  CAST(dup_bg AS DOUBLE) / n_bg AS dup_bigram_frac
      |FROM w JOIN b ON w.doc_id = b.doc_id
      |ORDER BY w.doc_id""".stripMargin

  /** GOPHER STRUCTURAL QUALITY RULES (Rae et al. 2021 §A1.1) — the
    * per-document threshold gate every large-corpus curation pass runs
    * before anything expensive, complementing [[qRepetition]] (the
    * same appendix's repetition rules) and [[qQualityPipeline]]'s
    * TTR/stopword score with the STRUCTURAL battery: word-count
    * bounds, mean-word-length bounds, minimum stopword evidence, and
    * a minimum fraction of alphabetic words. A document must pass
    * EVERY rule to survive; the per-rule booleans are kept so a
    * curation report can attribute the rejection mass rule by rule
    * (the number Gopher's appendix actually publishes).
    *
    * Thresholds are scaled to the synthetic corpus's distributions
    * (word counts 10–99, mean word length 3.7–5.1) so each rule
    * genuinely partitions the data rather than passing everything.
    * Mean word length is computed WITHOUT an array walk: the text is
    * single-space separated, so Σ|word| = len(text) − (n−1) — one
    * string-length per row against a per-word transform+fold, and the
    * identical single IEEE division in both engines.
    *
    * Scale: map-only — one projection over one pruned (doc_id, text)
    * scan, no shuffle (output order unspecified); at 100 TB this is
    * the embarrassingly-parallel gate it should be. */
  def qGopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val nWords = size(toks)
    val mwl = (length(col("text")) - nWords + 1).cast(DoubleType) / nWords
    val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
    val alphaFrac = size(filter(toks, t => t.rlike("[a-z]")))
      .cast(DoubleType) / nWords
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), nWords.as("n_words"), round(mwl, 6).as("mwl_r"),
        nStop.as("n_stop"), round(alphaFrac, 6).as("alpha_frac_r"),
        (nWords >= 25 && nWords <= 80).as("r_words"),
        (mwl >= 4.0 && mwl <= 4.9).as("r_mwl"),
        (nStop >= 2).as("r_stop"),
        (alphaFrac >= 0.8).as("r_alpha"))
      .withColumn("passes",
        col("r_words") && col("r_mwl") && col("r_stop") && col("r_alpha"))
  }

  val qGopherRulesOracle: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ts FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(len(ts) AS INT) AS n_words,
      |  CAST(len(text) - len(ts) + 1 AS DOUBLE) / len(ts) AS mwl,
      |  CAST(len(list_filter(ts, w -> w IN ('the','a','of','and','to'))) AS INT) AS n_stop,
      |  CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(ts) AS alpha_frac
      |  FROM t)
      |SELECT doc_id, n_words, round(mwl, 6) AS mwl_r, n_stop,
      |  round(alpha_frac, 6) AS alpha_frac_r,
      |  n_words >= 25 AND n_words <= 80 AS r_words,
      |  mwl >= 4.0 AND mwl <= 4.9 AS r_mwl,
      |  n_stop >= 2 AS r_stop,
      |  alpha_frac >= 0.8 AS r_alpha,
      |  (n_words >= 25 AND n_words <= 80) AND (mwl >= 4.0 AND mwl <= 4.9)
      |    AND n_stop >= 2 AND alpha_frac >= 0.8 AS passes
      |FROM m ORDER BY doc_id""".stripMargin

  /** PII redaction: mask emails and phone numbers before training.
    * The corpus is synthetic word soup, so deterministic PII is woven
    * in first (same construction on both engines): every 5th doc gains
    * an email, every 7th a phone number. Patterns stick to the regex
    * subset Java and RE2 share (no lookaround). One scan, no shuffle,
    * codegen'd `regexp_replace`/`regexp_count`. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def qPiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val withPii = Tables.documents(spark, sfDir).withColumn("text2",
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-010-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
    withPii.select(
        col("doc_id"),
        regexp_count(col("text2"), lit(EmailRe)).as("n_email"),
        regexp_count(col("text2"), lit(PhoneRe)).as("n_phone"),
        md5(regexp_replace(regexp_replace(col("text2"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").cast("binary")).as("redacted_md5"))
  }

  val qPiiRedactOracle: String =
    """WITH aug AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END AS text2
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
      |  CAST(len(regexp_extract_all(text2, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phone,
      |  md5(regexp_replace(regexp_replace(text2,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      |FROM aug ORDER BY doc_id""".stripMargin

  /** The k-anonymity / l-diversity operating point and the sensitive-
    * attribute bucket width — ONE set of constants shared by the batch
    * query, its oracle SQL, and the streaming monitor twin
    * ([[graft.streaming.StatefulOps.streamingKAnonMonitor]]) so the
    * thresholds can never drift between the three. */
  private[graft] val KAnonK = 5
  private[graft] val KAnonL = 3
  private[graft] val KAnonBucketWidth = 100L

  /** K-ANONYMITY / L-DIVERSITY risk report — the OTHER half of the
    * privacy gate [[qPiiRedact]] starts: redaction strips DIRECT
    * identifiers, but a released training corpus still re-identifies
    * people through QUASI-identifier combinations (Sweeney 2002;
    * Machanavajjhala et al. 2007 for l-diversity). Here the QI tuple
    * is (lang, source) — the metadata a corpus card publishes — and
    * the report prices every equivalence class: its size, whether it
    * breaks k=5 anonymity (fewer than k records share the releasable
    * tuple → each is near-identifiable), the diversity of the
    * length-bucket "sensitive attribute" within it, and whether it
    * breaks l=3 diversity (a class can be k-anonymous yet leak the
    * sensitive value when all members share it — the homogeneity
    * attack l-diversity exists to catch). Downstream, risky classes
    * are suppressed or generalized before release; this relation is
    * the decision table for that step.
    *
    * Both thresholds genuinely partition the synthetic corpus
    * (sf0.001: 99 classes, 51 under k, 30 under l — spec-asserted),
    * so neither gate is vacuous.
    *
    * Scale shape: ONE hash aggregation over a pruned 3-column scan —
    * class count and distinct-bucket count ride the same groupBy
    * (map-side partials absorb the per-class skew; the distinct is
    * Spark's standard 2-phase expand, keyed by the same QI tuple, so
    * no second corpus pass). Output is equivalence-class-sized —
    * (langs × sources), metadata scale at 100 TB — never row scale. */
  def qKAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("class_n"),
        // TRUNCATING integer division is the bucket convention on all
        // three sides: Spark's DIV, DuckDB's integer `//` (verified on
        // this repo's duckdb 1.0.0: -5 // 100 = 0 — it truncates
        // toward zero, NOT floor), and the streaming twin's Long `/`.
        // Exact at any magnitude (the ADVICE r11 point: floor of a
        // double division drifts above 2^53) and identical on a
        // corrupt negative length (the r12 review point — the first
        // "fix" paired a floor-div here with the truncating oracle).
        countDistinct(expr(s"n_chars DIV $KAnonBucketWidth")).as("n_buckets"))
      .select(col("lang"), col("source"), col("class_n"),
        (col("class_n") < KAnonK).as("k_risky"),
        col("n_buckets"),
        (col("n_buckets") < KAnonL).as("l_risky"))
  }

  val qKAnonymityOracle: String =
    s"""SELECT lang, source, COUNT(*) AS class_n,
       |  COUNT(*) < $KAnonK AS k_risky,
       |  CAST(COUNT(DISTINCT n_chars // $KAnonBucketWidth) AS BIGINT) AS n_buckets,
       |  COUNT(DISTINCT n_chars // $KAnonBucketWidth) < $KAnonL AS l_risky
       |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  /** Overlapping fixed-size chunking — the standard pre-tokenization
    * split of long documents into training windows (size 40 words,
    * stride 30 → 10-word overlap). Declarative cardinality: the chunk
    * starts are a `sequence` per doc, exploded; no UDF, no shuffle.
    * `ts` is materialized BEFORE the transform lambda (the HOF rule:
    * never index an array rebuilt inside the lambda). */
  def qChunking(spark: SparkSession, sfDir: String): DataFrame = {
    val (chunk, stride) = (40, 30)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), floor((size(col("ts")) - 1) / stride).cast("int")))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("ts"), col("chunk_id") * stride + 1, lit(chunk)).as("cw"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("cw")).as("n_words"),
        array_join(col("cw"), " ").as("chunk_text"))
  }

  val qChunkingOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |st AS (SELECT doc_id, ts, g AS chunk_id
      |  FROM d, unnest(generate_series(0, CAST(floor((len(ts)-1) / 30) AS BIGINT))) AS u(g)),
      |ch AS (SELECT doc_id, chunk_id,
      |         ts[chunk_id*30 + 1 : least(chunk_id*30 + 40, len(ts))] AS cw
      |       FROM st)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |  CAST(len(cw) AS INT) AS n_words,
      |  array_to_string(cw, ' ') AS chunk_text
      |FROM ch ORDER BY doc_id, chunk_id""".stripMargin

  /** TF-IDF top terms per document. The idf uses INTEGER-EXACT
    * arithmetic — `score_1000 = (tf * N * 1000) div df` — instead of a
    * float `ln(N/df)`: libm and the JVM may differ in the last ulp of
    * `ln`, and ranking/hashing must be bit-reproducible across engines.
    * Monotonicity in tf and 1/df is all a ranker needs. Shape: one
    * gram shuffle for tf (map-side combine), a vocabulary-keyed join
    * for df, a broadcast scalar for N, one window top-k per doc. */
  def qTfidf(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // persisted: tf feeds both the scored join and the df aggregation —
    // without it the token explode + count runs twice; released by the
    // query's scope like the dedup shingle caches
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .transform(scope.persist)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_1000").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_1000", expr("tf * n * 1000 DIV df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score_1000"))
  }

  /** Stored (term, df) IDF table + corpus doc count (as `_graft_meta`)
    * — the mine-once IDF model a production ranker ships: the
    * corpus-wide document-frequency aggregation runs ONCE per dataset
    * and lands in the durable artifact store; scoring any document
    * (including new ones that postdate the mine) is then a map-side
    * tf pass + one vocabulary-keyed join, never a second corpus
    * aggregation. */
  private[graft] def idfStored(spark: SparkSession, sfDir: String): (DataFrame, Long) = {
    val (dir, meta) = graft.Artifacts.getOrBuildMeta(spark, sfDir, "idf_table") { d =>
      val docs = Tables.documents(spark, sfDir)
      val n = docs.count()
      docs.select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .write.parquet(d)
      n.toString
    }
    (Tables.parquet(spark, dir), meta.trim.toLong)
  }

  /** [[qTfidf]] SERVED from the stored IDF artifact — identical
    * contract and oracle (verbatim-shared, the graph-family
    * discipline): the per-doc tf explode is the unavoidable map work
    * over whatever documents are being scored; the df side is the
    * artifact scan and the doc count N is a meta literal folded into
    * the scoring expression (no 1-row cross join at all). */
  def qTfidfStored(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (df, n) = idfStored(spark, sfDir)
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_1000").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score_1000", expr(s"tf * ${n}L * 1000 DIV df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score_1000"))
  }

  val qTfidfOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf.tf, df.df,
      |    CAST((tf.tf * n.n * 1000) // df.df AS BIGINT) AS score_1000
      |  FROM tf JOIN df USING (term), n),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |         ORDER BY score_1000 DESC, term) AS rk FROM scored)
      |SELECT doc_id, term, tf, df, score_1000
      |FROM rk WHERE rk <= 5 ORDER BY doc_id, term""".stripMargin

  /** BM25 constants and the fixed query — ONE set of interpolated
    * literals shared by the plan and the oracle SQL (the calFold
    * discipline) so neither the operating point nor the query can
    * drift between engines. k1+1 and 1−b are written as their OWN
    * literals ("2.2", "0.25") rather than derived, so both engines
    * parse the identical decimal instead of each folding `1.2 + 1`
    * in possibly different last-ulp ways. */
  private[graft] val Bm25K1 = "1.2"
  private[graft] val Bm25K1p1 = "2.2"
  private[graft] val Bm25B = "0.75"
  private[graft] val Bm25OneMinusB = "0.25"
  private[graft] val Bm25Terms = Seq("spark", "join", "vector")

  /** OKAPI BM25 ad-hoc retrieval scoring (Robertson et al., TREC-3) —
    * the retrieval-side scorer [[qTfidf]] deliberately is not: tf
    * SATURATES (a term's 10th occurrence adds less than its 2nd —
    * the k1 knob) and long documents are penalized toward the corpus
    * mean length (the b knob), which is what makes BM25 the default
    * first-stage ranker in front of the rerankers `sim_rank_eval`
    * prices. Scores the fixed [[Bm25Terms]] query against every
    * document with the Lucene-form idf ln(1 + (N−df+0.5)/(df+0.5))
    * (always positive) and emits the ranked top-20 with per-doc hit
    * counts.
    *
    * Scale shape — the inverted-posting discipline: the token explode
    * is FILTERED to the query's terms before any aggregation, so the
    * shuffle carries only the query's posting lists, never the
    * corpus vocabulary; doc length comes from a map-only
    * `size(split)` projection (NO second explode); df and the 1-row
    * (N, avgdl) aggregate are broadcast (terms-sized and 1-row — the
    * documented `allowNested` category); top-20 is the bounded heap.
    * A production deployment freezes (df, N, avgdl) into the
    * `idf_table`-style artifact and scores arrivals map-side — the
    * same serve-from-frozen split every stored twin here takes.
    * Float parity: the addend is ONE expression string interpolated
    * from shared constants into both engines, summed over ≤3 terms
    * per doc and rounded to 6 decimals (the ln-ratio convention).
    * The SUM's accumulation order is engine-chosen — the same
    * documented, fixture-verified risk every ln-sum query here
    * carries (nb scoring, entropy): with O(1) addends of O(1)
    * magnitude the order error is ~1e-16 against a 1e-6 rounding
    * grid, and the hash gate re-verifies the bet every round. */
  def qBm25(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val docs = Tables.documents(spark, sfDir)
    // persisted: the ~8-byte-per-doc length relation feeds both the
    // (N, avgdl) stats aggregate and the scored join — without it the
    // corpus is re-tokenized for each (r12 review)
    val dl = docs.select(col("doc_id"), size(toks).as("dl"))
      .transform(scope.persist)
    val stats = broadcast(dl.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl")))
    // persisted: the filtered posting relation feeds both df and the
    // scored join (the qTfidf discipline — without it the corpus
    // explode runs twice); released after the first action
    val tf = docs.select(col("doc_id"), explode(toks).as("tk"))
      .filter(col("tk").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      .transform(scope.persist)
    val df = broadcast(tf.groupBy(col("tk"))
      .agg(count(lit(1)).cast(DoubleType).as("df")))
    bm25Ranked(tf.join(df, "tk").join(dl, "doc_id").crossJoin(stats))
  }

  /** A formula string the DuckDB oracle interpolates verbatim, as a
    * Spark Column: each free column name of `sql` listed in `args` is
    * bound to its Column. A batch query binds columns; a serving twin
    * binds literals, which constant folding evaluates with the same
    * Spark expressions. */
  private def sqlKernel(sql: String, args: (String, Column)*): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    val bound = args.toMap
    GraftBridge.column(CatalystSqlParser.parseExpression(sql).transformUp {
      case a: UnresolvedAttribute if bound.contains(a.name) =>
        GraftBridge.expression(bound(a.name))
    })
  }

  /** The per-(term, doc) BM25 addend over columns (tf, df, dl, n,
    * avgdl) — ONE kernel string interpolated into both engines,
    * shared by the unweighted scorers and the RM3 rescorer (which
    * multiplies it by the term's mixture weight `fw`). */
  private[graft] val Bm25KernelSql: String =
    s"ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * $Bm25K1p1" +
      s" / (tf + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * dl / avgdl))"

  /** [[Bm25KernelSql]] as a Column: the batch scorers pass their
    * columns, the streaming twin
    * ([[graft.streaming.StatefulOps.streamingBm25]]) its per-term tf
    * column and the frozen model's df, N and avgdl as literals. */
  private[graft] def bm25Kernel(tf: Column, df: Column, dl: Column,
      n: Column, avgdl: Column): Column =
    sqlKernel(Bm25KernelSql,
      "tf" -> tf, "df" -> df, "dl" -> dl, "n" -> n, "avgdl" -> avgdl)

  /** [[bm25Kernel]] over the (tf, df, dl, n, avgdl) columns of a
    * scoring relation. */
  private def bm25Addend: Column =
    bm25Kernel(col("tf"), col("df"), col("dl"), col("n"), col("avgdl"))

  /** Per-doc BM25 rollup over a (doc_id, tk, tf, df, dl, n, avgdl)
    * relation — the scoring half of [[bm25Ranked]]. */
  private[graft] def bm25Scored(withStats: DataFrame,
      weighted: Boolean = false): DataFrame = {
    val addend = if (weighted) col("fw") * bm25Addend else bm25Addend
    withStats
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(addend).as("score"))
  }

  /** The shared BM25 ranking tail — ONE expression tree for the live
    * query (stats from the 1-row cross) and the stored twin (stats as
    * folded meta literals), so the two paths cannot drift and share
    * the oracle verbatim (the graph-family discipline). Selection AND
    * rank run on the 6-decimal ROUNDED score with the doc_id
    * tie-break (the qDsir rule, r12 advice): ln-sum accumulation
    * order is engine-chosen, so ranking the raw double could flip
    * membership at the rank-20 cutoff between Spark and the oracle;
    * rounding before the top-k makes the selected set engine-exact. */
  private def bm25Ranked(withStats: DataFrame,
      weighted: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scored(withStats, weighted)
      .withColumn("score_r", round(col("score"), 6))
      .orderBy(col("score_r").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_r").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_hit"), col("score_r"))
  }

  /** The mined BM25 model a production ranker ships — full-vocabulary
    * (tk, df) document frequencies in the durable artifact store with
    * the corpus doc count and total token count as `_graft_meta`: the
    * corpus-wide mining pass runs ONCE per dataset, and scoring any
    * query is then per-doc map work + a terms-sized broadcast join
    * against the artifact. */
  private[graft] def bm25Stored(spark: SparkSession, sfDir: String)
      : (DataFrame, Long, Long) = {
    val (dir, meta) = graft.Artifacts.getOrBuildMeta(
        spark, sfDir, "bm25_model") { d =>
      val docs = Tables.documents(spark, sfDir)
      val s = docs.agg(count(lit(1)), sum(size(toks))).head
      docs.select(col("doc_id"), explode(toks).as("tk"))
        .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
        .groupBy(col("tk")).agg(count(lit(1)).as("df"))
        .write.parquet(d)
      s"${s.getLong(0)},${s.getLong(1)}"
    }
    val Array(n, sumdl) = meta.trim.split(",").map(_.toLong)
    (Tables.parquet(spark, dir), n, sumdl)
  }

  /** [[qBm25]] SERVED from the stored model — identical contract and
    * oracle (verbatim-shared): the per-doc tf explode and length
    * projection are the unavoidable map work over whatever documents
    * are being scored; the df side is the artifact scan filtered to
    * the query's terms (a terms-sized broadcast), and (N, avgdl) are
    * meta literals FOLDED into the scoring expression — no 1-row
    * cross join at all, so unlike the live miner this plan needs no
    * `allowNested` entry. avgdl is the same exact-integer division
    * the live stats aggregate performs, so the doubles agree
    * bit-for-bit. */
  def qBm25Stored(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, n, sumdl) = bm25Stored(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val dl = docs.select(col("doc_id"), size(toks).as("dl"))
    val tf = docs.select(col("doc_id"), explode(toks).as("tk"))
      .filter(col("tk").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
    val df = broadcast(model.filter(col("tk").isin(Bm25Terms: _*))
      .select(col("tk"), col("df").cast(DoubleType).as("df")))
    bm25Ranked(tf.join(df, "tk").join(dl, "doc_id")
      .withColumn("n", lit(n.toDouble))
      .withColumn("avgdl", lit(sumdl.toDouble / n)))
  }

  lazy val qBm25Oracle: String = {
    val inList = Bm25Terms.map("'" + _ + "'").mkString("(", ",", ")")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, tk, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tk
       |    FROM documents) t
       |  WHERE tk IN $inList GROUP BY 1, 2),
       |df AS (SELECT tk, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
       |    SUM(ln(1 + (n - df + 0.5) / (df + 0.5)) * t.tf * $Bm25K1p1
       |      / (t.tf + $Bm25K1 * ($Bm25OneMinusB + $Bm25B * d.dl / avgdl)))
       |      AS score
       |  FROM tf t JOIN df USING (tk) JOIN dl d ON t.doc_id = d.doc_id, s
       |  GROUP BY 1),
       |rk AS (SELECT doc_id, n_hit, round(score, 6) AS score_r,
       |  row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
       |  FROM sc)
       |SELECT CAST(rank AS INT) AS rank, doc_id, n_hit, score_r
       |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** RM3 constants — each its own literal per the Bm25K1p1 discipline.
    * The original-term weight 0.2 is (1−λ)/|Q| with λ = 0.4 and the
    * fixed 3-term [[Bm25Terms]] query, written as one decimal so both
    * engines parse the identical double instead of folding 0.6/3. */
  private[graft] val Rm3FbDocs = 10
  private[graft] val Rm3FbTerms = 10
  private[graft] val Rm3OrigW = "0.2"
  private[graft] val Rm3ExpW = "0.4"

  /** The RM1 per-(term, feedback-doc) relevance contribution over
    * columns (kd, tf, dl), in EXACT integer fixed-point: the feedback
    * doc's 6-decimal-rounded BM25 score in micro-units (kd) times the
    * term's tf, scaled by 1e6 and divided by the doc length with
    * TRUNCATING integer division (the repo-wide bucket convention —
    * DuckDB `//` and Spark `div` agree on positive BIGINTs, verified
    * empirically in r12). Integer sums are order-invariant, so
    * expansion-term SELECTION carries zero float-rank risk — the one
    * stage of RM3 where a float formulation would race doubles at a
    * cutoff. Only the division token differs between engines.
    *
    * BIGINT headroom (r13 advice): kd·tf·1e6 must stay under 2^63 ≈
    * 9.2e18, i.e. kd·tf ≤ ~9.2e12. kd is a 6-decimal BM25 score in
    * micro-units — with the Lucene-form idf, score < |Q|·(k1+1)·ln(1+N)
    * so kd ≲ 2.2e8 even at a 1e12-doc corpus — and tf is one term's
    * count inside ONE feedback document, so the product has ~4 orders
    * of headroom until a single doc repeats one term ~40 000 times.
    * The failure modes DIVERGE outside it (DuckDB errors on BIGINT
    * overflow, non-ANSI Spark wraps silently), so a corpus whose docs
    * can exceed that needs a tf clamp on the feedback side before
    * this expression — not a silent widening to DOUBLE, which would
    * reintroduce the float-rank race this fixed-point form exists to
    * remove. */
  private[graft] def rm3ContribExpr(idiv: String): String =
    s"(kd * tf * 1000000) $idiv dl"

  /** RM3 PSEUDO-RELEVANCE FEEDBACK (Lavrenko & Croft 2001 relevance
    * models; the RM3 interpolation of Abdul-Jaleel et al., TREC 2004)
    * — the published step past [[qBm25]] on the retrieval ladder:
    * take the stored-model BM25 top-[[Rm3FbDocs]] as pseudo-relevant,
    * estimate a relevance model over their vocabulary (each term
    * weighted by feedback-doc score × tf/dl — integer fixed-point,
    * see [[rm3ContribExpr]]), keep the top-[[Rm3FbTerms]] expansion
    * terms, and re-score the corpus against the expanded query with
    * the original terms at weight 0.2 each and expansion terms
    * sharing λ = 0.4 proportionally to their RM1 mass (W = Σw is an
    * exact integer, so the mixture weights are single-division
    * doubles both engines compute identically).
    *
    * Scale shape: every corpus-sized pass keeps the inverted-posting
    * discipline — stage-1 tf is the explode FILTERED to the 3 query
    * terms; the RM1 pass explodes only the [[Rm3FbDocs]] feedback
    * docs (a broadcast semi-join BEFORE the explode); the rescoring
    * explode is filtered by a broadcast join against the 13-term
    * literal relation BEFORE aggregation, so the shuffle carries 13
    * posting lists, never the vocabulary. df and (N, avgdl) serve
    * from the frozen [[bm25Stored]] artifact (meta literals — no
    * 1-row cross anywhere). The expanded query itself is a bounded
    * driver-side fold (≤10 rows collected — the top-20 collect
    * precedent), the KenLM/stored-model discipline for model-sized
    * state. Ranking: selection and rank on the 6-decimal rounded
    * score with the doc_id tie-break at BOTH ranked stages (feedback
    * selection and final top-20) — the qDsir rule. */
  def qBm25Rm3(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, n, sumdl) = bm25Stored(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val dl = docs.select(col("doc_id"), size(toks).as("dl"))
    def withN(d: DataFrame): DataFrame = d
      .withColumn("n", lit(n.toDouble))
      .withColumn("avgdl", lit(sumdl.toDouble / n))
    // stage 1: pseudo-relevant docs = the stored-model BM25 top-k
    val tf1 = docs.select(col("doc_id"), explode(toks).as("tk"))
      .filter(col("tk").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
    val df1 = broadcast(model.filter(col("tk").isin(Bm25Terms: _*))
      .select(col("tk"), col("df").cast(DoubleType).as("df")))
    val fb = bm25Scored(withN(tf1.join(df1, "tk").join(dl, "doc_id")))
      .withColumn("score_r", round(col("score"), 6))
      .orderBy(col("score_r").desc, col("doc_id")).limit(Rm3FbDocs)
      .select(col("doc_id"),
        round(col("score_r") * lit(1000000)).cast("long").as("kd"))
    // stage 2: RM1 expansion weights — tokens of ≤ FbDocs docs only
    val expansion = docs.join(broadcast(fb), "doc_id")
      .select(col("doc_id"), col("kd"), explode(toks).as("tk"))
      .filter(!col("tk").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("kd"), col("tk"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .withColumn("c", expr(rm3ContribExpr("div")))
      .groupBy(col("tk")).agg(sum(col("c")).as("w"))
      .orderBy(col("w").desc, col("tk")).limit(Rm3FbTerms)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val wSum = expansion.map(_._2).sum
    // stage 3: the expanded query folds as a literal relation
    import spark.implicits._
    val termDf = broadcast((
      Bm25Terms.map(t => (t, Rm3OrigW.toDouble)) ++
        expansion.map { case (t, w) =>
          (t, Rm3ExpW.toDouble * w.toDouble / wSum.toDouble) })
      .toDF("tk", "fw"))
    // stage 4: weighted rescore against the expanded query
    val tf2 = docs.select(col("doc_id"), explode(toks).as("tk"))
      .join(termDf, "tk")
      .groupBy(col("doc_id"), col("tk"), col("fw"))
      .agg(count(lit(1)).as("tf"))
    val df2 = broadcast(model.join(termDf.select("tk"), "tk")
      .select(col("tk"), col("df").cast(DoubleType).as("df")))
    bm25Ranked(withN(tf2.join(df2, "tk").join(dl, "doc_id")),
      weighted = true)
  }

  lazy val qBm25Rm3Oracle: String = {
    val inList = Bm25Terms.map("'" + _ + "'").mkString("(", ",", ")")
    val origRows = Bm25Terms.map("('" + _ + "')").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |dtf AS (
       |  SELECT doc_id, tk, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tk
       |    FROM documents) t GROUP BY 1, 2),
       |dfv AS (SELECT tk, CAST(COUNT(*) AS DOUBLE) AS df FROM dtf GROUP BY 1),
       |j1 AS (
       |  SELECT t.doc_id, t.tf, dfv.df, d.dl, s.n, s.avgdl
       |  FROM dtf t JOIN dfv USING (tk) JOIN dl d ON t.doc_id = d.doc_id, s
       |  WHERE t.tk IN $inList),
       |s1 AS (SELECT doc_id, round(SUM($Bm25KernelSql), 6) AS score_r
       |  FROM j1 GROUP BY 1),
       |fb AS (SELECT doc_id, CAST(round(score_r * 1000000) AS BIGINT) AS kd,
       |  row_number() OVER (ORDER BY score_r DESC, doc_id) AS r FROM s1),
       |fbk AS (SELECT doc_id, kd FROM fb WHERE r <= $Rm3FbDocs),
       |rm1 AS (
       |  SELECT tk, SUM(${rm3ContribExpr("//")}) AS w FROM (
       |    SELECT dtf.tk, dtf.tf, fbk.kd, dl.dl
       |    FROM dtf JOIN fbk USING (doc_id) JOIN dl USING (doc_id)
       |    WHERE dtf.tk NOT IN $inList) z
       |  GROUP BY 1),
       |er AS (SELECT tk, w,
       |  row_number() OVER (ORDER BY w DESC, tk) AS r FROM rm1),
       |ex AS (SELECT tk, w FROM er WHERE r <= $Rm3FbTerms),
       |ws AS (SELECT SUM(w) AS ws FROM ex),
       |terms AS (
       |  SELECT tk, CAST($Rm3OrigW AS DOUBLE) AS fw
       |  FROM (VALUES $origRows) v(tk)
       |  UNION ALL
       |  SELECT tk, $Rm3ExpW * CAST(w AS DOUBLE)
       |    / CAST((SELECT ws FROM ws) AS DOUBLE) AS fw FROM ex),
       |j2 AS (
       |  SELECT t.doc_id, t.tf, dfv.df, d.dl, s.n, s.avgdl, q.fw
       |  FROM dtf t JOIN terms q USING (tk) JOIN dfv USING (tk)
       |  JOIN dl d ON t.doc_id = d.doc_id, s),
       |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
       |  round(SUM(fw * ($Bm25KernelSql)), 6) AS score_r FROM j2 GROUP BY 1),
       |rk AS (SELECT doc_id, n_hit, score_r,
       |  row_number() OVER (ORDER BY score_r DESC, doc_id) AS rank FROM sc)
       |SELECT CAST(rank AS INT) AS rank, doc_id, n_hit, score_r
       |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** Dirichlet smoothing constant μ = 2000 (the Zhai & Lafferty 2001
    * default) — one literal interpolated into both engines. */
  private[graft] val QlMu = "2000.0"

  /** The per-MATCHED-(term, doc) addend of the decomposed query
    * likelihood over columns (tf, ctf): ln(tf + μ·p(t|C)) − ln(μ·p(t|C))
    * with p(t|C) = ctf/C — the part of ln((tf + μp)/(dl + μ)) that
    * differs from an absent term. ONE string in both engines; only the
    * collection-size token `c` is engine-specific (Spark folds the
    * exact integer from the bm25_model meta, the oracle reads its own
    * 1-row total — the knLogpExpr discipline). */
  private[graft] def qlAddendExpr(c: String): String =
    s"ln(tf + $QlMu * ctf / $c) - ln($QlMu * ctf / $c)"

  /** [[qlAddendExpr]] as a Column over a tf and a ctf Column, with the
    * collection size C folded as its exact integer. */
  private[graft] def qlAddend(tf: Column, ctf: Column, c: Long): Column =
    sqlKernel(qlAddendExpr(c.toString), "tf" -> tf, "ctf" -> ctf)

  /** The full document score over columns (ms, dl): the matched sum
    * plus the all-absent constant K = Σ_t ln(μ·p(t|C)) minus the
    * per-doc length normalizer |Q|·ln(dl + μ), with |Q| = `nq`. K's
    * addends are written out IN ORDER (terms sorted) so both engines
    * add the same values in the same sequence. */
  private[graft] def qlScoreExpr(k: String, nq: String): String =
    s"COALESCE(ms, 0.0) + ($k) - $nq * ln(dl + $QlMu)"

  /** One query's K for [[qlScoreExpr]]: the addends ln(μ·ctf_t / C)
    * over the query's per-term collection frequencies `ctfs` (in
    * sorted term order), each ctf and C folded as its exact integer —
    * the prior of [[qlScore]] and of the rank eval's per-query QL arm. */
  private[graft] def qlPriorExpr(ctfs: Seq[Long], c: Long): String =
    ctfs.map(ctf => s"ln($QlMu * $ctf / $c)").mkString(" + ")

  /** The rounded document score [[qlScoreExpr]] over an `ms` and a
    * `dl` Column for the [[Bm25Terms]] query. */
  private[graft] def qlScore(ms: Column, dl: Column,
      ctf: Map[String, Long], c: Long): Column = {
    val k = qlPriorExpr(Bm25Terms.sorted.map(ctf), c)
    round(sqlKernel(qlScoreExpr(k, Bm25Terms.size.toString), "ms" -> ms, "dl" -> dl), 6)
  }

  /** QUERY LIKELIHOOD with DIRICHLET smoothing (Zhai & Lafferty 2001)
    * — the language-modeling first-stage ranker, the standard
    * alternative to [[qBm25]]: score(d) = Σ_t ln((tf + μ·p(t|C)) /
    * (dl + μ)). Unlike BM25, EVERY document scores (absent terms
    * contribute the collection prior; shorter docs win among no-hit
    * docs), which naively couples every doc to every query term. The
    * DECOMPOSITION fixes the scale shape: score = matched_sum + K −
    * |Q|·ln(dl+μ), where only terms PRESENT in the doc need the
    * posting join, K is a query-constant of in-engine ln's over
    * folded exact integers, and the rest is a map-only projection
    * over the doc-length relation — so the corpus-sized work is one
    * filtered posting pass plus a map, and the top-20 is a bounded
    * heap over (rounded score, doc_id). Collection statistics (C =
    * total tokens) serve from the frozen [[bm25Stored]] meta; per-term
    * collection frequencies are a terms-sized bounded collect folded
    * as literals (the stored-model discipline — no 1-row cross).
    * Float parity: addends and K are shared strings; the ln-sum
    * and round-6 conventions as every scorer here. */
  def qQlDirichlet(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val (_, _, sumdl) = bm25Stored(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val dl = docs.select(col("doc_id"), size(toks).as("dl"))
    // the filtered posting relation feeds both the ctf fold and the
    // matched-sum join (the qBm25 cache discipline)
    val tf = docs.select(col("doc_id"), explode(toks).as("tk"))
      .filter(col("tk").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      .transform(scope.persist)
    val ctf: Map[String, Long] = tf.groupBy(col("tk"))
      .agg(sum(col("tf")).as("ctf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // p(t|C) = 0 has no ln — a query term the corpus never saw must
    // fail with a readable message, not a late lookup error (the
    // streamingBm25 contract discipline)
    require(Bm25Terms.forall(ctf.contains),
      "qQlDirichlet: query terms absent from the corpus: " +
        Bm25Terms.filterNot(ctf.contains).mkString(", "))
    import spark.implicits._
    val termDf = broadcast(ctf.toSeq.sorted.toDF("tk", "ctf"))
    val ms = tf.join(termDf, "tk")
      .withColumn("a", qlAddend(col("tf"), col("ctf"), sumdl))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("a")).as("ms"))
    dl.join(ms, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("score_r", qlScore(col("ms"), col("dl"), ctf, sumdl))
      .orderBy(col("score_r").desc, col("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_r").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_hit"), col("score_r"))
  }

  /** The frozen QL collection statistics — per-term collection
    * frequency (count of occurrences, identical to the batch's
    * sum-of-per-doc-tf by construction) and the total token count
    * from the [[bm25Stored]] meta. The model the STREAMING twin
    * ([[graft.streaming.StatefulOps.streamingQlDirichlet]]) folds as
    * literals; terms-sized, never corpus-sized. */
  private[graft] def qlCollectionStats(spark: SparkSession, sfDir: String)
      : (Map[String, Long], Long) = {
    val (_, _, sumdl) = bm25Stored(spark, sfDir)
    val ctf = Tables.documents(spark, sfDir)
      .select(explode(toks).as("tk"))
      .filter(col("tk").isin(Bm25Terms: _*))
      .groupBy(col("tk")).agg(count(lit(1)).as("ctf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (ctf, sumdl)
  }

  lazy val qQlDirichletOracle: String = {
    val inList = Bm25Terms.map("'" + _ + "'").mkString("(", ",", ")")
    val kSql = Bm25Terms.sorted.map(t =>
      s"ln($QlMu * (SELECT ctf FROM ctf WHERE tk = '$t')" +
        " / (SELECT c FROM tot))").mkString(" + ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
       |tf AS (
       |  SELECT doc_id, tk, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tk
       |    FROM documents) t
       |  WHERE tk IN $inList GROUP BY 1, 2),
       |ctf AS (SELECT tk, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
       |ms AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
       |    SUM(${qlAddendExpr("(SELECT c FROM tot)")}) AS ms
       |  FROM (SELECT t.doc_id, t.tf, x.ctf
       |        FROM tf t JOIN ctf x USING (tk)) j
       |  GROUP BY 1),
       |sc AS (
       |  SELECT d.doc_id, COALESCE(ms.n_hit, 0) AS n_hit,
       |    round(${qlScoreExpr(kSql, Bm25Terms.size.toString)}, 6) AS score_r
       |  FROM dl d LEFT JOIN ms USING (doc_id)),
       |rk AS (SELECT doc_id, n_hit, score_r,
       |  row_number() OVER (ORDER BY score_r DESC, doc_id) AS rank FROM sc)
       |SELECT CAST(rank AS INT) AS rank, doc_id, n_hit, score_r
       |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** Rank-eval constants — query-doc count, fingerprint size, and the
    * serving cutoff. The (1−λ) RM3 mass as its own literal (the
    * Bm25K1p1 discipline): per-query |Q| is data here (a query doc
    * could yield fewer than 3 eligible terms), so the original-term
    * weight is (1−λ)/nq computed in-engine rather than the fixed-query
    * 0.2 literal [[qBm25Rm3]] uses. */
  private[graft] val RankEvalQueries = 10
  private[graft] val RankEvalFpTerms = 3
  private[graft] val RankEvalK = 10
  private[graft] val Rm3OneMinusLambda = "0.6"
  private[graft] val RrfK = 60
  private val Ln2 = math.log(2.0)

  /** TEXT-RETRIEVAL RANK EVAL — grades the whole retrieval ladder
    * ([[qBm25]] → [[qBm25Rm3]] → [[qQlDirichlet]]) with the rank-aware
    * discipline the ANN side already has (`sim_rank_eval`): without
    * this, the ladder has four rankers and zero evidence which
    * retrieves better. Deterministic pseudo-qrels are mined from the
    * corpus itself — for each of [[RankEvalQueries]] held-out query
    * docs, the query is its RARE-TERM FINGERPRINT (its
    * [[RankEvalFpTerms]] rarest corpus terms with df ≥ 2, ties by
    * term) and the graded truth is the other docs sharing those terms
    * (gain = #shared terms; truth rank by (gain desc, total shared tf
    * desc, doc_id) — all integers, and the tf layer keeps the cut
    * informative on template-vocabulary corpora where gain alone ties
    * hundreds of docs — the shared-truth pattern of `sim_rank_eval`'s
    * brute-force twin). Each
    * scorer serves its top-[[RankEvalK]] per query (query doc itself
    * excluded), a fourth RRF arm fuses the three served lists
    * (Cormack, Clarke & Büttcher 2009, k=[[RrfK]] — exact integer
    * fixed-point, so fusion selection cannot float-race), and ONE
    * metric tail prices all four: per-query
    * reciprocal rank and nDCG@10 in exact integer ppm (1e6 div
    * first_hit; round(1e6·DCG/IDCG)), then per-scorer means by integer
    * division — the final relation is all-integer, so the METRIC LAYER
    * adds no float risk of its own (the rm3ContribExpr discipline).
    * The serving cuts it consumes still carry the repo's documented
    * round-6 convention: each list is cut at rank 10 on a 6-decimal
    * rounded ln-sum whose accumulation order is engine-chosen, and
    * ndcg_ppm rounds a double ratio — the same fixture-verified risk
    * class as every scorer here, re-verified by the hash gate each
    * round, not eliminated by the integer output.
    *
    * Scorer shapes are the per-query relational re-expression of the
    * fixed-query originals, sharing their kernel strings verbatim
    * ([[Bm25KernelSql]], [[qlAddendExpr]], [[rm3ContribExpr]]) so the
    * formulas cannot drift: BM25 ranks the fingerprint postings; RM3
    * runs feedback → integer RM1 weights → per-query top-10 expansion
    * (window, not driver fold — the expansion is per-query data here)
    * → weighted rescore; QL uses the decomposed matched_sum + K_q −
    * nq·ln(dl+μ) with K_q a 3-addend relational rollup. The QL serving
    * list needs every doc only NOMINALLY: among no-hit docs the score
    * is strictly monotone in dl alone (Δscore ≈ nq·Δdl/(dl+μ) ≫ the
    * 1e-6 rounding grid until dl ~ 3M tokens, documented bound), so
    * the true top-10 is contained in matched docs ∪ the globally
    * ([[RankEvalK]]+1) shortest docs — a BOUNDED candidate union (the
    * +1 absorbs the per-query self-exclusion) instead of a
    * queries×corpus fan-out. That, plus fingerprint terms being rare
    * by construction (short posting lists), keeps every stage an
    * equi-join: NO cross, no non-equi join, nothing corpus×queries.
    *
    * Scale shape: ONE corpus explode total — the per-(doc, term)
    * count relation, aggregated BEFORE any query join (a query join
    * on raw occurrences would fan each occurrence by the number of
    * fingerprints sharing its term — ~10× on a template-vocabulary
    * corpus, measured 4× the whole-query price at sf0.1) — cached
    * and consumed by every arm through broadcast joins; the
    * vocabulary-sized model scan streams against the broadcast
    * query-term relation, never the reverse; the shortlist is a
    * bounded TakeOrdered collect (the RM3 ≤10-row fold precedent);
    * everything after the posting joins is queries×k-sized. At 100 TB this runs as a sampled retrieval
    * audit — the `sim_rank_eval` stratum discipline — never as a
    * serving path. */
  def qTextRankEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, n, sumdl) = bm25Stored(spark, sfDir)
    rankEvalOn(spark, Tables.documents(spark, sfDir), Some(model),
      Some((n, sumdl)), fullPanel = true)
  }

  /** Default stratum width for [[qTextRankEvalStratum]]: a quarter of
    * the md5 doc-id space — the [[graft.operators.DedupOps.LshAuditStratumPct]]
    * convention. On the fixture this keeps every surviving query's
    * posting lists populated; at 100 TB the knob goes as low as the
    * corpus allows. */
  val RankEvalStratumPct = 25

  /** The rank eval a 100 TB corpus actually runs (r14 verdict #4):
    * [[qTextRankEval]] restricted to a deterministic md5-bucket
    * document stratum — the `dedup_lsh_audit_stratum` discipline, so
    * "at 100 TB this runs as a sampled audit" is CODE with a plan
    * pin, not scaladoc prose. The sample is the corpus being
    * SEARCHED: fingerprints, postings, truth, every scorer, and the
    * collection statistics (n, Σdl, df, ctf) all come from the
    * filtered documents only, while the 10-doc query panel rides
    * exempt (a retrieval audit samples its corpus, never its query
    * workload — see [[rankEvalStratum]]); the metric means divide by
    * the surviving-query count (= the full panel here), the
    * ratio-estimator discipline. Total cost scales with pct/100 of
    * the full eval's ONE corpus explode (and the posting joins
    * shrink the same way, since within-sample df is expected
    * pct/100 of corpus df).
    *
    * Estimator note, documented not hidden: within-sample df
    * re-ranks which terms are a query doc's "rarest", so
    * fingerprints (and therefore qrels) are the sample's own — the
    * estimate tracks the full metric in distribution, not
    * row-for-row; the spec pins fixture-scale agreement beside the
    * plan pin (the `lshAuditStratum` precedent). */
  def qTextRankEvalStratum(spark: SparkSession, sfDir: String): DataFrame =
    rankEvalStratum(spark, sfDir, RankEvalStratumPct)

  def rankEvalStratum(spark: SparkSession, sfDir: String, pctDocs: Int): DataFrame = {
    require(pctDocs >= 1 && pctDocs <= 100, s"stratum pct $pctDocs not in [1,100]")
    // the QUERY PANEL is exempt from the stratum: a retrieval audit
    // samples the corpus being searched, never its query workload —
    // a pure doc stratum keeps only ~pct/100 of the 10 query docs
    // (a CONSTANT set, since md5(0..9) is scale-invariant: exactly 1
    // at pct=25) and a 1-query mean is quantized to thirds of a
    // ppm-million, too coarse to estimate anything. With the panel
    // held fixed the estimator averages the same 10 queries as the
    // full eval, over a pct/100 corpus sample.
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < RankEvalQueries ||
        SamplingOps.bucket100("doc_id") < pctDocs)
    rankEvalOn(spark, docs, None, None, fullPanel = false)
  }

  private def rankEvalOn(spark: SparkSession, docs: DataFrame,
      modelOpt: Option[DataFrame], statsOpt: Option[(Long, Long)],
      fullPanel: Boolean): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // THE one corpus explode: per-(doc, term) counts, aggregated
    // BEFORE any query join (a query join on raw occurrences would
    // fan every occurrence by the number of fingerprints sharing its
    // term — ~10x on a template-vocabulary corpus); dl (constant per
    // doc) rides the same aggregation so no arm ever joins the
    // doc-length relation
    val dtf = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("tk"))
      .groupBy(col("doc_id"), col("tk"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .transform(scope.persist)
    // model (tk, df): the full query serves it from the bm25_model
    // artifact; the stratum twin derives WITHIN-STRATUM df as a
    // vocabulary-sized rollup of the SAME cached explode (dtf is one
    // row per (doc, term)) — no second corpus pass, and the stored
    // full-corpus df would be the wrong statistic for a sample whose
    // truth relation lives inside the stratum
    // r17: the derived model has TWO consumers (the fingerprint
    // selection and the RM3 expansion's mdf join) and each re-ran the
    // vocabulary rollup over the full cached explode — persist the
    // vocabulary-sized result instead. The full eval's stored model is
    // a plain parquet artifact scan and needs no cache.
    val model = modelOpt.getOrElse(
      scope.persist(dtf.groupBy(col("tk")).agg(count(lit(1)).as("df"))))
    // Every model-sized relation below is a BOUNDED DRIVER FOLD (the
    // qBm25Rm3 expansion-fold precedent, ≤130 rows each): folded as
    // literal relations, the serving plan carries ZERO broadcast
    // subquery jobs for them. This is a deliberate price choice, not
    // just style — as live broadcast subqueries they execute eagerly,
    // concurrently, and per-run, re-racing the caches and re-paying
    // one AQE stage chain each (measured: the relational form ran 74
    // adaptive stages and 2x the wall clock of this shape at sf0.1).
    // The folds double as cache materializers: each collect runs on
    // the already-cached upstream, so the main action reads warm
    // caches only.
    // fingerprints: the query docs' distinct terms against the stored
    // model's df, rarest-first per query; df ≥ 2 guarantees nonempty
    // truth (at least one OTHER doc shares the term). The
    // vocabulary-sized model scan streams against the broadcast
    // 10-doc term relation — never the reverse.
    val wFp = Window.partitionBy(col("q_id"))
      .orderBy(col("df").asc, col("tk"))
    val qrelRel = model.filter(col("df") >= 2)
      .join(broadcast(dtf.filter(col("doc_id") < RankEvalQueries)
        .select(col("doc_id").as("q_id"), col("tk"))), "tk")
      .withColumn("fr", row_number().over(wFp))
      .filter(col("fr") <= RankEvalFpTerms)
      .select(col("q_id"), col("tk"), col("df").cast(DoubleType).as("df"))
    // postings for the ≤30 fingerprint terms — persisted: feeds ctf,
    // truth, the merged BM25+QL scoring pass, and RM1
    val post = dtf.join(broadcast(qrelRel), "tk")
      .select(col("q_id"), col("doc_id"), col("tk"), col("df"),
        col("tf"), col("dl"))
      .transform(scope.persist)
    // fold job 1 (materializes dtf + post) — r16 optimization round:
    // the three MUTUALLY INDEPENDENT bounded folds travel in ONE
    // tagged-union collect instead of three jobs (each extra job cost
    // 0.5-0.8 s of pure scheduling + warm-cache re-scan, measured per
    // fold with wall-clock timers):
    //   tag 0 — collection stats (n, Σdl): the full query reads them
    //     from the bm25_model artifact's meta (statsOpt — no tag-0
    //     branch at all); the stratum derives them from the SAME
    //     cached explode — every doc yields ≥ 1 dtf row (split of
    //     empty text is [""], so size(toks) ≥ 1 on both engines);
    //   tag 1 — fingerprints, their dfs, and per-(query, term)
    //     collection frequencies in one rollup of the posting relation
    //     (df rides as max — constant per (q, tk));
    //   tag 2 — the QL no-hit shortlist: the globally (k+1) shortest
    //     docs joined back to their dtf term rows (previously fold
    //     job 4, moved here because it depends only on dtf).
    // Values are bit-identical to the three separate folds — the union
    // only changes which job carries each row to the driver.
    val qstatsDf = post.groupBy(col("q_id"), col("tk"))
      .agg(max(col("df")).as("df"), sum(col("tf")).as("ctf"))
      .select(lit(1).as("tag"), col("q_id").as("l1"), col("tk").as("s1"),
        col("df").as("d1"), col("ctf").as("l2"))
    val shortDf = dtf.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .orderBy(col("dl").asc, col("doc_id")).limit(RankEvalK + 1)
      .join(dtf.select(col("doc_id"), col("tk")), "doc_id")
      .select(lit(2).as("tag"), col("doc_id").as("l1"), col("tk").as("s1"),
        lit(null).cast(DoubleType).as("d1"), col("dl").as("l2"))
    val statsDf = dtf.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("nn"), sum(col("dl")).as("sdl"))
      .select(lit(0).as("tag"), col("nn").as("l1"),
        lit(null).cast("string").as("s1"),
        lit(null).cast(DoubleType).as("d1"), col("sdl").as("l2"))
    val folded = (if (statsOpt.isEmpty) qstatsDf.unionByName(statsDf) else qstatsDf)
      .unionByName(shortDf).collect()
    val (n, sumdl) = statsOpt.getOrElse {
      val r = folded.find(_.getInt(0) == 0).get
      (r.getLong(1), r.getLong(4))
    }
    def withN(d: DataFrame): DataFrame = d
      .withColumn("n", lit(n.toDouble))
      .withColumn("avgdl", lit(sumdl.toDouble / n))
    val shortRows = folded.filter(_.getInt(0) == 2)
      .map(r => (r.getLong(1), r.getLong(4), r.getString(2))).toSeq
    val qstats = folded.filter(_.getInt(0) == 1)
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
      .toSeq.sorted
    val qrelRows = qstats.map { case (q, tk, df, _) => (q, tk, df) }
    val qrel = broadcast(qrelRows.toDF("q_id", "tk", "df"))
    val qTerms: Map[Long, Seq[String]] =
      qrelRows.groupBy(_._1).map { case (q, v) => q -> v.map(_._2) }
    // SURVIVING queries: the metric denominator is the count of query
    // docs that actually yielded a fingerprint — on a full corpus
    // that is all RankEvalQueries of them (spec-pinned), but a
    // stratum sample keeps only ~pct/100, and dividing its hit mass
    // by the full 10 would depress every mean by the sampling rate
    // instead of estimating the full metric (the lshAuditStratum
    // ratio-estimator discipline: normalize by what the sample
    // observed, not by the population constant)
    val qIds = qTerms.keys.toSeq.sorted
    val nQEff = qIds.size
    // ADVICE r15: nQEff is the metric DENOMINATOR — a corpus where no
    // query doc yields a df>=2 fingerprint term would divide by zero
    // (null metrics, NPE downstream), and in the FULL eval any
    // nQEff < RankEvalQueries silently redefines the spec-pinned means
    // on both engines at once (the hash gate cannot see it). Fail loud
    // instead.
    require(nQEff >= 1,
      "rank eval: no query doc yielded a df>=2 fingerprint term")
    if (fullPanel) require(nQEff == RankEvalQueries,
      s"full rank eval: surviving-query count $nQEff != $RankEvalQueries " +
        "— the spec-pinned metric definition would silently drift")
    val ctf: Map[(Long, String), Long] =
      qstats.map { case (q, tk, _, c) => (q, tk) -> c }.toMap
    val ctfLit = broadcast(ctf.toSeq.sortBy(_._1)
      .map { case ((q, tk), c) => (q, tk, c) }.toDF("q_id", "tk", "ctf"))
    // K_q per query: qlScore's prior over the query's own terms, in
    // sorted term order, evaluated by Spark
    val kCases = qTerms.toSeq.sortBy(_._1).map { case (q, ts) =>
      s"WHEN $q THEN ${qlPriorExpr(ts.sorted.map(t => ctf((q, t))), sumdl)}" }
    val krel = broadcast(qTerms.toSeq.sortBy(_._1)
      .map { case (q, ts) => (q, ts.size.toLong) }.toDF("q_id", "nq")
      .withColumn("k", expr(kCases.mkString("CASE q_id ", " ", " END"))))
    val postx = post.filter(col("doc_id") =!= col("q_id"))
    // BM25 + QL matched sums + the TRUTH aggregates in ONE pass over
    // the posting relation (r17 optimization round: truth previously
    // ran its own groupBy over the same postx with the SAME
    // (q_id, doc_id) keys — guide §2.4, two aggregations keyed the
    // same way share one exchange; here they share the whole pass).
    // The ctfLit join is 1:1 (every (q_id, tk) of postx is in ctf by
    // construction, ctf unique per key), so count(1)/sum(tf) over the
    // joined groups are bit-identical to the old postx-only rollup.
    // Persisted: the scored relation is the BM25 served list, RM3's
    // feedback, the QL matched side, AND the graded-truth base.
    val wS = Window.partitionBy(col("q_id"))
      .orderBy(col("score_r").desc, col("doc_id"))
    val s1 = withN(postx.join(ctfLit, Seq("q_id", "tk")))
      .withColumn("a", bm25Addend)
      .withColumn("qa", qlAddend(col("tf"), col("ctf"), sumdl))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("a")).as("score"), sum(col("qa")).as("ms"),
        max(col("dl")).as("dl"),
        count(lit(1)).as("sc"), sum(col("tf")).as("tfsum"))
      .withColumn("score_r", round(col("score"), 6))
      .withColumn("rk", row_number().over(wS))
      .transform(scope.persist)
    // graded truth + its ideal DCG — gain = #shared fingerprint terms,
    // ties broken by TOTAL shared term frequency before doc_id: on a
    // template-vocabulary corpus (this fixture: 31 terms) hundreds of
    // docs share all 3 fingerprint terms, and without the integer
    // tfsum layer the truth cut would be doc_id-arbitrary. Reads the
    // persisted s1 (partitioned by q_id post-window), so the rank_t
    // window needs a sort but no new exchange.
    val wT = Window.partitionBy(col("q_id"))
      .orderBy(col("sc").desc, col("tfsum").desc, col("doc_id"))
    val truth = s1
      .withColumn("rank_t", row_number().over(wT))
      .filter(col("rank_t") <= RankEvalK)
      .select(col("q_id"), col("doc_id"), col("sc"), col("rank_t"))
    val idcg = truth.groupBy(col("q_id"))
      .agg(sum(col("sc").cast(DoubleType) /
        (log(col("rank_t") + lit(1.0)) / lit(Ln2))).as("idcg"))
    val servedBm25 = s1.filter(col("rk") <= RankEvalK)
      .select(lit("bm25").as("scorer"), col("q_id"), col("doc_id"), col("rk"))
    // RM3: feedback fold (≤100 rows, kd in micro-units — the qBm25Rm3
    // shape per query), integer RM1 weights from the cached counts,
    // per-query top-10 expansion, mixture weights in the fold
    val fb = s1.filter(col("rk") <= Rm3FbDocs)
      .select(col("q_id"), col("doc_id"),
        round(col("score_r") * lit(1000000)).cast("long").as("kd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fbLit = broadcast(fb.sorted.toDF("q_id", "doc_id", "kd"))
    val wE = Window.partitionBy(col("q_id")).orderBy(col("w").desc, col("tk"))
    // fold job 3: RM1 weights + the expansion terms' model dfs in the
    // same job (the vocabulary-sized model scan joins AFTER the
    // ≤10-per-query cut, inside this job's plan)
    val exDf = dtf.join(fbLit, "doc_id")
      .join(qrel.select("q_id", "tk"), Seq("q_id", "tk"), "left_anti")
      .withColumn("c", expr(rm3ContribExpr("div")))
      .groupBy(col("q_id"), col("tk")).agg(sum(col("c")).as("w"))
      .withColumn("er", row_number().over(wE))
      .filter(col("er") <= Rm3FbTerms)
      .select(col("q_id"), col("tk"), col("w"))
      .join(model.withColumnRenamed("df", "mdf"), "tk")
    val ex = exDf.collect()
      .map(r => (r.getLong(1), r.getString(0), r.getLong(2), r.getLong(3)))
      .toSeq
    val wsum: Map[Long, Long] = ex.groupBy(_._1)
      .map { case (q, v) => q -> v.map(_._3).sum }
    val terms = broadcast((
      qrelRows.map { case (q, tk, df) =>
        (q, tk, Rm3OneMinusLambda.toDouble / qTerms(q).size, df) } ++
      ex.map { case (q, tk, w, mdf) =>
        (q, tk, Rm3ExpW.toDouble * w.toDouble / wsum(q).toDouble,
          mdf.toDouble) })
      .sorted.toDF("q_id", "tk", "fw", "df"))
    // weighted rescore — the cached counts against the folded
    // expanded-query relation; no second corpus pass
    val servedRm3 = withN(dtf.join(terms, "tk")
        .filter(col("doc_id") =!= col("q_id")))
      .withColumn("a", col("fw") * bm25Addend)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("a")).as("score"))
      .withColumn("score_r", round(col("score"), 6))
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= RankEvalK)
      .select(lit("rm3").as("scorer"), col("q_id"), col("doc_id"), col("rk"))
    // QL arm: the matched side rides the s1 pass; the bounded no-hit
    // candidates are the globally (k+1) shortest docs (among no-hit
    // docs the score is strictly monotone in dl — Δscore ≈
    // nq·Δdl/(dl+μ) ≫ the 1e-6 grid until dl ~ 3M tokens — so the
    // true top-10 is contained in matched ∪ shortlist), minus pairs
    // already matched, a membership test over two folded relations
    // (the shortlist fold rides the tag-2 branch of fold job 1 above)
    val short = shortRows.map(t => (t._1, t._2)).distinct.sorted
    val shortTerms: Map[Long, Set[String]] = shortRows.groupBy(_._1)
      .map { case (d, rs) => d -> rs.map(_._3).toSet }
    val qlShort = broadcast((for {
      q <- 0L until RankEvalQueries.toLong if qTerms.contains(q)
      (d, dlv) <- short
      if d != q && !qTerms(q).exists(shortTerms(d).contains)
    } yield (q, d, dlv, 0.0)).toDF("q_id", "doc_id", "dl", "ms"))
    val servedQl = s1.select(col("q_id"), col("doc_id"), col("dl"), col("ms"))
      .unionByName(qlShort)
      .join(krel, "q_id")
      .withColumn("score_r", round(expr(qlScoreExpr("k", "nq")), 6))
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= RankEvalK)
      .select(lit("ql").as("scorer"), col("q_id"), col("doc_id"), col("rk"))
    // reciprocal rank fusion over the three served lists (Cormack,
    // Clarke & Büttcher 2009, k=60) — the fused ranker graded beside
    // its components; the RRF score is EXACT integer fixed-point
    // (1e6 div (60+rank): all possible addends distinct, integer sums
    // order-invariant), so fusion selection carries zero float-rank
    // risk. The tiny (<=30x10-row) union persists for its two
    // consumers (fusion grouping, metric join).
    val base = servedBm25.unionByName(servedQl).unionByName(servedRm3)
      .transform(scope.persist)
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    val servedRrf = base.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(expr(s"CAST(1000000 div ($RrfK + rk) AS BIGINT)")).as("rrf"))
      .withColumn("rk", row_number().over(wF))
      .filter(col("rk") <= RankEvalK)
      .select(lit("rrf").as("scorer"), col("q_id"), col("doc_id"), col("rk"))
    // ONE metric tail for all four rankers, all-integer output
    val served = base.unionByName(servedRrf)
    val hits = served
      .join(truth.select("q_id", "doc_id", "sc"), Seq("q_id", "doc_id"))
      .groupBy(col("scorer"), col("q_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("rk")).as("first_hit"),
        sum(col("sc").cast(DoubleType) /
          (log(col("rk") + lit(1.0)) / lit(Ln2))).as("dcg"))
    val grid = qIds.toDF("q_id")
      .select(col("q_id"),
        explode(array(lit("bm25"), lit("ql"), lit("rm3"), lit("rrf")))
          .as("scorer"))
    val perQ = grid.join(hits, Seq("scorer", "q_id"), "left")
      .join(broadcast(idcg), Seq("q_id"), "left")
      .select(col("scorer"), col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(expr("CAST(1000000 div first_hit AS BIGINT)"), lit(0L))
          .as("rr_ppm"),
        coalesce(round(lit(1000000) * col("dcg") / col("idcg")).cast("long"),
          lit(0L)).as("ndcg_ppm"))
    perQ.groupBy(col("scorer"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_hits")).as("hits"),
        expr(s"CAST(sum(rr_ppm) div $nQEff AS BIGINT)").as("mrr_ppm"),
        expr(s"CAST(sum(ndcg_ppm) div $nQEff AS BIGINT)").as("ndcg_ppm"))
  }
  lazy val qTextRankEvalOracle: String =
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dl),
       |dtf AS (
       |  SELECT doc_id, tk, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tk
       |    FROM documents) t GROUP BY 1, 2),
       |dfv AS (SELECT tk, COUNT(*) AS df FROM dtf GROUP BY 1),
       |fpr AS (
       |  SELECT d.doc_id AS q_id, d.tk, f.df,
       |    row_number() OVER (PARTITION BY d.doc_id
       |      ORDER BY f.df ASC, d.tk) AS fr
       |  FROM (SELECT DISTINCT doc_id, tk FROM dtf
       |        WHERE doc_id < $RankEvalQueries) d
       |  JOIN dfv f USING (tk) WHERE f.df >= 2),
       |q AS (SELECT q_id, tk, CAST(df AS DOUBLE) AS df FROM fpr
       |      WHERE fr <= $RankEvalFpTerms),
       |post AS (
       |  SELECT q.q_id, t.doc_id, q.tk, q.df, t.tf
       |  FROM dtf t JOIN q USING (tk)),
       |ctf AS (SELECT q_id, tk, CAST(SUM(tf) AS BIGINT) AS ctf
       |        FROM post GROUP BY 1, 2),
       |krel AS (
       |  SELECT q_id, SUM(ln($QlMu * ctf / (SELECT c FROM tot))) AS k,
       |    COUNT(*) AS nq
       |  FROM ctf GROUP BY 1),
       |px AS (SELECT * FROM post WHERE doc_id != q_id),
       |truth AS (
       |  SELECT q_id, doc_id, sc, rank_t FROM (
       |    SELECT q_id, doc_id, COUNT(*) AS sc, SUM(tf) AS tfsum,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY COUNT(*) DESC, SUM(tf) DESC, doc_id) AS rank_t
       |    FROM px GROUP BY q_id, doc_id) z
       |  WHERE rank_t <= $RankEvalK),
       |idcg AS (
       |  SELECT q_id, SUM(CAST(sc AS DOUBLE)
       |    / (ln(rank_t + 1.0) / ln(2.0))) AS idcg
       |  FROM truth GROUP BY 1),
       |j1 AS (
       |  SELECT p.q_id, p.doc_id, p.tf, p.df, d.dl, s.n, s.avgdl
       |  FROM px p JOIN dl d ON p.doc_id = d.doc_id, s),
       |s1 AS (
       |  SELECT q_id, doc_id, round(SUM($Bm25KernelSql), 6) AS score_r
       |  FROM j1 GROUP BY 1, 2),
       |s1r AS (
       |  SELECT q_id, doc_id, score_r,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY score_r DESC, doc_id) AS rk
       |  FROM s1),
       |sb AS (SELECT 'bm25' AS scorer, q_id, doc_id, rk
       |       FROM s1r WHERE rk <= $RankEvalK),
       |fbk AS (
       |  SELECT q_id, doc_id, CAST(round(score_r * 1000000) AS BIGINT) AS kd
       |  FROM s1r WHERE rk <= $Rm3FbDocs),
       |rm1 AS (
       |  SELECT z.q_id, z.tk, SUM(${rm3ContribExpr("//")}) AS w FROM (
       |    SELECT f.q_id, t.tk, t.tf, f.kd, d.dl
       |    FROM dtf t JOIN fbk f USING (doc_id) JOIN dl d USING (doc_id)
       |    WHERE NOT EXISTS (SELECT 1 FROM q
       |      WHERE q.q_id = f.q_id AND q.tk = t.tk)) z
       |  GROUP BY 1, 2),
       |er AS (
       |  SELECT q_id, tk, w,
       |    row_number() OVER (PARTITION BY q_id ORDER BY w DESC, tk) AS er
       |  FROM rm1),
       |ex AS (SELECT q_id, tk, w FROM er WHERE er <= $Rm3FbTerms),
       |ws AS (SELECT q_id, SUM(w) AS ws FROM ex GROUP BY 1),
       |terms AS (
       |  SELECT q.q_id, q.tk,
       |    CAST($Rm3OneMinusLambda AS DOUBLE) / k.nq AS fw, q.df
       |  FROM q JOIN krel k USING (q_id)
       |  UNION ALL
       |  SELECT e.q_id, e.tk,
       |    $Rm3ExpW * CAST(e.w AS DOUBLE) / CAST(w2.ws AS DOUBLE) AS fw,
       |    CAST(f.df AS DOUBLE) AS df
       |  FROM ex e JOIN ws w2 USING (q_id) JOIN dfv f USING (tk)),
       |j4 AS (
       |  SELECT r.q_id, t.doc_id, r.fw, t.tf, r.df, d.dl, s.n, s.avgdl
       |  FROM dtf t JOIN terms r USING (tk) JOIN dl d ON t.doc_id = d.doc_id, s
       |  WHERE t.doc_id != r.q_id),
       |s4 AS (
       |  SELECT q_id, doc_id, round(SUM(fw * ($Bm25KernelSql)), 6) AS score_r
       |  FROM j4 GROUP BY 1, 2),
       |sr AS (SELECT 'rm3' AS scorer, q_id, doc_id, rk FROM (
       |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_r DESC, doc_id) AS rk FROM s4) z
       |  WHERE rk <= $RankEvalK),
       |ms AS (
       |  SELECT p.q_id, p.doc_id,
       |    SUM(${qlAddendExpr("(SELECT c FROM tot)")}) AS ms
       |  FROM (SELECT px.q_id, px.doc_id, px.tf, c.ctf
       |        FROM px JOIN ctf c USING (q_id, tk)) p
       |  GROUP BY 1, 2),
       |short AS (SELECT doc_id FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY dl ASC, doc_id) AS r
       |  FROM dl) z WHERE r <= ${RankEvalK + 1}),
       |qids AS (SELECT DISTINCT q_id FROM q),
       |cand AS (
       |  SELECT q_id, doc_id FROM ms
       |  UNION
       |  SELECT qi.q_id, sh.doc_id FROM qids qi, short sh
       |  WHERE sh.doc_id != qi.q_id),
       |sq AS (
       |  SELECT c.q_id, c.doc_id,
       |    round(COALESCE(m.ms, 0.0) + k.k - k.nq * ln(d.dl + $QlMu), 6)
       |      AS score_r
       |  FROM cand c JOIN dl d USING (doc_id) JOIN krel k USING (q_id)
       |  LEFT JOIN ms m ON m.q_id = c.q_id AND m.doc_id = c.doc_id),
       |qls AS (SELECT 'ql' AS scorer, q_id, doc_id, rk FROM (
       |  SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score_r DESC, doc_id) AS rk FROM sq) z
       |  WHERE rk <= $RankEvalK),
       |base AS (
       |  SELECT * FROM sb UNION ALL SELECT * FROM qls
       |  UNION ALL SELECT * FROM sr),
       |rrf AS (SELECT 'rrf' AS scorer, q_id, doc_id, rk FROM (
       |  SELECT q_id, doc_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY rrf DESC, doc_id) AS rk
       |  FROM (SELECT q_id, doc_id,
       |          SUM(1000000 // ($RrfK + rk)) AS rrf
       |        FROM base GROUP BY 1, 2) g) z
       |  WHERE rk <= $RankEvalK),
       |served AS (SELECT * FROM base UNION ALL SELECT * FROM rrf),
       |h AS (
       |  SELECT sv.scorer, sv.q_id, COUNT(*) AS n_hits,
       |    MIN(sv.rk) AS first_hit,
       |    SUM(CAST(t.sc AS DOUBLE) / (ln(sv.rk + 1.0) / ln(2.0))) AS dcg
       |  FROM served sv JOIN truth t
       |    ON t.q_id = sv.q_id AND t.doc_id = sv.doc_id
       |  GROUP BY 1, 2),
       |grid AS (
       |  SELECT sc2.scorer, qi.q_id
       |  FROM qids qi,
       |    (VALUES ('bm25'), ('ql'), ('rm3'), ('rrf')) sc2(scorer)),
       |pq AS (
       |  SELECT g.scorer, g.q_id,
       |    COALESCE(h.n_hits, 0) AS n_hits,
       |    COALESCE(1000000 // h.first_hit, 0) AS rr_ppm,
       |    COALESCE(CAST(round(1000000 * h.dcg / i.idcg) AS BIGINT), 0)
       |      AS ndcg_ppm
       |  FROM grid g
       |  LEFT JOIN h ON h.scorer = g.scorer AND h.q_id = g.q_id
       |  LEFT JOIN idcg i ON i.q_id = g.q_id)
       |SELECT scorer, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  CAST(SUM(n_hits) AS BIGINT) AS hits,
       |  CAST(SUM(rr_ppm) // (SELECT COUNT(*) FROM qids) AS BIGINT) AS mrr_ppm,
       |  CAST(SUM(ndcg_ppm) // (SELECT COUNT(*) FROM qids) AS BIGINT) AS ndcg_ppm
       |FROM pq GROUP BY 1 ORDER BY scorer""".stripMargin

  /** Stratum-eval oracle: the full-eval SQL with every `documents`
    * source restricted to the same md5 bucket stratum the Spark side
    * filters on (the [[graft.operators.DedupOps.qDedupLshAuditStratumOracle]]
    * substitution discipline — derived, so the two evals can never
    * drift in any other clause). Both corpus touches get the filter:
    * the `dl` CTE (collection stats n/Σdl/shortlist) and the `dtf`
    * CTE (postings, df, fingerprints, truth). */
  lazy val qTextRankEvalStratumOracle: String = {
    val filtered = s"FROM documents WHERE doc_id < $RankEvalQueries OR " +
      SamplingOps.bucket100Sql("doc_id") + s" < $RankEvalStratumPct)"
    def cnt(needle: String) =
      qTextRankEvalOracle.sliding(needle.length).count(_ == needle)
    // EVERY documents source must be the substitutable `FROM documents)`
    // shape — counting only that shape would let a future aliased
    // source (`FROM documents d`) silently score against the full
    // corpus (r15 review)
    require(cnt("FROM documents") == 2 && cnt("FROM documents)") == 2,
      "rank-eval oracle's `documents` sources changed shape or count; fix the stratum substitution")
    qTextRankEvalOracle.replace("FROM documents)", filtered)
  }

  /** Character-entropy quality signal: Shannon entropy of the per-doc
    * character distribution (low entropy ⇒ repetitive/degenerate text,
    * high ⇒ random noise — both filtered in web-corpus curation; cf.
    * the compression-ratio heuristics in Gopher-style pipelines). Two
    * keyed aggregations — (doc, char) counts, then the entropy fold —
    * both with map-side partials; the log ratio is rounded to 6
    * decimals per the float-parity convention. */
  def qCharEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val chars = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
    chars.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("distinct_chars"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      // H = log2(n) - (Σ c·ln c)/(n·ln 2): one pass, no per-row p=c/n
      .withColumn("entropy_bits", round(
        log(2.0, col("n")) - col("clogc") / (col("n") * lit(math.log(2.0))), 6))
      .select("doc_id", "n", "distinct_chars", "entropy_bits")
  }

  val qCharEntropyOracle: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS distinct_chars,
      |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
      |  FROM cc GROUP BY 1)
      |SELECT doc_id, n, distinct_chars,
      |  round(log2(n) - clogc / (n * ln(2.0)), 6) AS entropy_bits
      |FROM agg ORDER BY doc_id""".stripMargin

  /** SEQUENCE PACKING — the pretraining-prep step that concatenates
    * documents and slices the stream into fixed context windows
    * (GPT-style packing with boundary crossing): each document gets
    * its token offset in its shard's concatenated stream, the
    * context window (`first_pack`) it starts in, and how many window
    * boundaries it crosses. Docs are sharded by id-hash (shards pack
    * INDEPENDENTLY — the embarrassingly-parallel axis at 100 TB:
    * thousands of shards, one window-cumsum each, no cross-shard
    * coordination) and ordered by md5 hash within the shard, so the
    * packing is deterministic, unbiased w.r.t. crawl order, and
    * append-stable. One shuffle on the shard key; the cumulative sum
    * is a single running window over each shard's slice. */
  def qPackSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capacity = 2048
    val nShards = 8
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .withColumn("shard", SamplingOps.bucket100("doc_id") % nShards)
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_off"),
        // integer DIV, not `/` (which widens to double): offsets are
        // exact longs and must stay exact past 2^53 tokens
        expr(s"start_off DIV $capacity").as("first_pack"),
        expr(s"(start_off + n_tokens - 1) DIV $capacity - start_off DIV $capacity")
          .as("boundary_crossings"))
  }

  val qPackSequencesOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h,
      |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100) % 8 AS shard
      |  FROM documents),
      |o AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      |      AS BIGINT) AS start_off
      |  FROM d)
      |SELECT doc_id, CAST(shard AS INT) AS shard, n_tokens, start_off,
      |  CAST(start_off // 2048 AS BIGINT) AS first_pack,
      |  CAST((start_off + n_tokens - 1) // 2048 - start_off // 2048 AS BIGINT)
      |    AS boundary_crossings
      |FROM o ORDER BY doc_id""".stripMargin

  /** Unigram language-model score per document — the CCNet/DCLM-style
    * "perplexity filter" signal: avg over the doc's tokens of
    * ln p(token), with p estimated from the corpus itself. Low scores
    * = improbable token streams (mojibake, code dumps, boilerplate
    * soup) to cut before training.
    *
    * Shape: ONE explode into per-(doc, token) counts; the corpus
    * unigram table derives from that same relation by a second tiny
    * agg (vocabulary-sized, not corpus-sized), joins back on token,
    * and the per-doc score is Σ cnt·ln(tf) / Σ cnt − ln N. Token rows
    * shuffle once; the vocab relation is the broadcastable side at
    * 100 TB; N rides the documented 1-row broadcast pattern. */
  def qLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val dtf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("doc_id"), col("tk"))
      .agg(count(lit(1)).as("cnt"))
    val tf = dtf.groupBy(col("tk")).agg(sum(col("cnt")).as("c"))
    val total = tf.agg(sum(col("c")).as("n"))
    dtf.join(tf, "tk")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        (sum(col("cnt") * log(col("c"))) / sum(col("cnt"))).as("alc"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        round(col("alc") - log(col("n")), 6).as("avg_logp_r"))
  }

  /** Stored UNIGRAM LM (token, count) table + total token mass N as
    * `_graft_meta` — the KenLM-style stored language model: the
    * corpus frequency pass mines once per dataset; scoring any
    * document stream against the frozen model is then a map-side
    * explode + one vocabulary join. The second member of the
    * stored-model family ([[idfStored]]). */
  private[graft] def lmStored(spark: SparkSession, sfDir: String): (DataFrame, Long) = {
    val (dir, meta) = graft.Artifacts.getOrBuildMeta(spark, sfDir, "unigram_lm") { d =>
      QueryScope.eager(spark) { scope =>
        val tf = Tables.documents(spark, sfDir)
          .select(explode(split(col("text"), " ")).as("tk"))
          .groupBy(col("tk")).agg(count(lit(1)).as("c"))
          .transform(scope.persist)
        tf.write.parquet(d)
        tf.agg(sum(col("c"))).head.getLong(0).toString
      }
    }
    (Tables.parquet(spark, dir), meta.trim.toLong)
  }

  /** [[qLmScore]] SERVED from the stored unigram model — identical
    * contract and oracle (verbatim-shared): the per-doc term counts
    * are the unavoidable map pass over whatever is being scored; the
    * frequency side is the artifact scan and the total mass N is a
    * meta literal (no 1-row cross join). This is how a perplexity
    * filter actually deploys: the model is trained once on a
    * reference corpus and scores every incoming shard unchanged. */
  def qLmScoreStored(spark: SparkSession, sfDir: String): DataFrame =
    lmScoredDocs(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("avg_logp_r"))

  /** The stored-model scoring pass with the language slice kept:
    * (doc_id, lang, n_tokens, avg_logp_r). Shared by
    * [[qLmScoreStored]] and the CCNet-style perplexity-bucket
    * sampler in [[SamplingOps]]. */
  private[graft] def lmScoredDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val (tf, n) = lmStored(spark, sfDir)
    val dtf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("doc_id"), col("lang"), col("tk"))
      .agg(count(lit(1)).as("cnt"))
    dtf.join(tf, "tk")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
        (sum(col("cnt") * log(col("c"))) / sum(col("cnt"))).as("alc"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        lmDocScore(col("alc"), n).as("avg_logp_r"))
  }

  /** A document's unigram score from `alc`, the mean ln c(t) over its
    * in-vocabulary token occurrences, and the model's token total N:
    * round(alc − ln N, 6). Shared by [[lmScoredDocs]] and the
    * streaming perplexity filter
    * ([[graft.streaming.StatefulOps.streamingPerplexityFilter]]). */
  private[graft] def lmDocScore(alc: Column, n: Long): Column =
    round(alc - log(lit(n.toDouble)), 6)

  val qLmScoreOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |dtf AS (SELECT doc_id, tk, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
      |tf AS (SELECT tk, SUM(cnt) AS c FROM dtf GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tf),
      |d AS (
      |  SELECT dtf.doc_id,
      |    CAST(SUM(dtf.cnt) AS BIGINT) AS n_tokens,
      |    SUM(dtf.cnt * ln(tf.c)) / SUM(dtf.cnt) AS alc
      |  FROM dtf JOIN tf USING (tk) GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |  round(alc - ln((SELECT n FROM tot)), 6) AS avg_logp_r
      |FROM d ORDER BY doc_id""".stripMargin

  /** Map-side bigram extraction: zip the token array with its own
    * tail — zero shuffles until the aggregate, vs the posexplode +
    * self-join-on-(doc, pos+1) shape which shuffles the whole token
    * stream twice. Docs with fewer than 2 tokens contribute no rows
    * (both engines: an empty slice / empty `range`). */
  private[graft] def bigramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"),
        slice(col("l"), lit(1), size(col("l")) - 1).as("a"),
        slice(col("l"), lit(2), size(col("l")) - 1).as("b"))
      .select(col("doc_id"), explode(arrays_zip(col("a"), col("b"))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("w1"), col("bg.b").as("w2"))

  private def bigrams(spark: SparkSession, sfDir: String): DataFrame =
    bigramsOf(Tables.documents(spark, sfDir))

  /** Per-document BIGRAM conditional log-likelihood: avg over a doc's
    * bigram occurrences of ln(c2(w1,w2) / c1(w1)), the maximum-
    * likelihood 2-gram model score — the next rung of the perplexity-
    * filter ladder above [[qLmScore]]'s unigram surprise (KenLM-style
    * count models; cf. reference's per-message scoring loop shape at
    * source/postgres/postgres.go:242-296 applied per-token here).
    * c1 is derived FROM the bigram relation (sum of c2 over w1), so
    * conditional probabilities sum to exactly 1 per context by
    * construction. Scale: the doc→bigram pass is map-side
    * ([[bigrams]]); everything downstream aggregates on (w1,w2) /
    * (w1) keys — bigram-vocabulary-sized, never corpus-sized. */
  def qLmBigram(spark: SparkSession, sfDir: String): DataFrame = {
    val dbg = bigrams(spark, sfDir)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val c2 = dbg.groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    dbg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * (log(col("c2")) - log(col("c1")))) /
          sum(col("cnt")), 6).as("avg_logp"))
  }

  /** Stored BIGRAM LM: the (w1, w2, c2) count table as a durable
    * artifact — third member of the stored-model family
    * ([[idfStored]], [[lmStored]]). The context totals c1 are NOT
    * stored: they re-derive from the artifact itself at serve time
    * (a bigram-vocabulary-sized rollup), so the artifact stays a
    * single normalized relation with no denormalized column to drift. */
  private[graft] def lmBigramStored(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Artifacts.getOrBuild(spark, sfDir, "bigram_lm") { d =>
      bigrams(spark, sfDir)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .write.parquet(d)
    }
    Tables.parquet(spark, dir)
  }

  /** [[qLmBigram]] SERVED from the stored model (oracle shared
    * verbatim): per-doc bigram counts are the unavoidable map pass
    * over the text being scored; both model sides — c2 and its c1
    * rollup — come off the artifact scan. */
  def qLmBigramStored(spark: SparkSession, sfDir: String): DataFrame = {
    val c2 = lmBigramStored(spark, sfDir)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bigrams(spark, sfDir)
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * (log(col("c2")) - log(col("c1")))) /
          sum(col("cnt")), 6).as("avg_logp"))
  }

  /** STUPID BACKOFF (Brants et al. 2007, "Large Language Models in
    * Machine Translation") — the web-scale n-gram smoothing: score
    * S(w2|w1) = c2(w1,w2)/c1(w1) when the bigram was seen in the
    * REFERENCE corpus, else α·c(w2)/N with α = 0.4 (and an add-one
    * floor ln(1/N) for tokens the reference never saw at all). The
    * reference model is trained on the curated `doc_id % 10 == 0`
    * slice and persisted as TWO durable artifacts (bigram counts +
    * unigram counts with total mass as meta); every document —
    * including the held-out `% 10 != 0` majority, where backoff
    * genuinely fires — is scored against the frozen model (CCNet's
    * arrangement: the reference LM comes from a small trusted corpus,
    * the scored stream is everything else). This is the train/serve split
    * the stored-model family exists for, now with the fallback chain
    * a production perplexity filter actually uses. Scale: doc-side
    * bigram pass is map-side; all three model joins are vocabulary-
    * keyed LEFT equi-joins; N is a meta literal. */
  private def refDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 10 === 0)

  /** The reference-corpus bigram type table (w1, w2, c2) as a durable
    * artifact — the ONE model both smoothed scorers serve from:
    * [[qLmBackoff]] (Stupid Backoff) and [[qLmKneserNey]] (every KN
    * statistic — context totals, fan-out, continuation counts, type
    * total — is a rollup of this relation, so KN adds zero artifacts). */
  private[graft] def lmRefBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Artifacts.getOrBuild(spark, sfDir, "bigram_lm_ref") { d =>
      bigramsOf(refDocs(spark, sfDir))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .write.parquet(d)
    }
    Tables.parquet(spark, dir)
  }

  private[graft] def lmBackoffStored(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, Long) = {
    val c2 = lmRefBigrams(spark, sfDir)
    val (uniDir, meta) = graft.Artifacts.getOrBuildMeta(
        spark, sfDir, "unigram_lm_ref") { d =>
      QueryScope.eager(spark) { scope =>
        val tf = refDocs(spark, sfDir)
          .select(explode(split(col("text"), " ")).as("tk"))
          .groupBy(col("tk")).agg(count(lit(1)).as("cu"))
          .transform(scope.persist)
        tf.write.parquet(d)
        tf.agg(sum(col("cu"))).head.getLong(0).toString
      }
    }
    (c2, Tables.parquet(spark, uniDir), meta.trim.toLong)
  }

  def qLmBackoff(spark: SparkSession, sfDir: String): DataFrame = {
    val (c2, uni, n) = lmBackoffStored(spark, sfDir)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val logS = when(col("c2").isNotNull, log(col("c2")) - log(col("c1")))
      .otherwise(log(lit(0.4)) +
        log(coalesce(col("cu"), lit(1L)).cast(DoubleType)) -
        log(lit(n.toDouble)))
    bigramsOf(Tables.documents(spark, sfDir))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(uni.withColumnRenamed("tk", "w2"), Seq("w2"), "left")
      .withColumn("logs", logS)
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(when(col("c2").isNull, col("cnt")).otherwise(lit(0L)))
          .as("n_backoff"),
        round(sum(col("cnt") * col("logs")) / sum(col("cnt")), 6)
          .as("avg_logs"))
      .withColumn("held_out", col("doc_id") % 10 =!= 0)
  }

  val qLmBackoffOracle: String =
    """WITH ref AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
      |rl AS (SELECT string_split(text, ' ') AS l FROM ref),
      |c2 AS (
      |  SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS c2
      |  FROM rl, LATERAL (SELECT unnest(range(1, len(l))) AS i) r
      |  GROUP BY 1, 2),
      |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
      |cu AS (
      |  SELECT unnest(string_split(text, ' ')) AS tk FROM ref),
      |cuc AS (SELECT tk, COUNT(*) AS cu FROM cu GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM cuc),
      |dl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |dbg AS (
      |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS cnt
      |  FROM dl, LATERAL (SELECT unnest(range(1, len(l))) AS i) r
      |  GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT dbg.doc_id, dbg.cnt, c2.c2, c1.c1, cuc.cu
      |  FROM dbg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |  LEFT JOIN cuc ON cuc.tk = dbg.w2),
      |s AS (
      |  SELECT doc_id,
      |    CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |    CAST(SUM(CASE WHEN c2 IS NULL THEN cnt ELSE 0 END) AS BIGINT)
      |      AS n_backoff,
      |    SUM(cnt * CASE WHEN c2 IS NOT NULL THEN ln(c2) - ln(c1)
      |      ELSE ln(0.4) + ln(COALESCE(cu, 1)) - ln((SELECT n FROM tot))
      |      END) / SUM(cnt) AS a
      |  FROM j GROUP BY 1)
      |SELECT doc_id, n_bigrams, n_backoff, round(a, 6) AS avg_logs,
      |  doc_id % 10 != 0 AS held_out
      |FROM s ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser-Ney constants and the per-bigram log-score —
    * ONE formula string interpolated into both engines (the calFold /
    * BM25 discipline). The absolute discount D is the conventional
    * 0.75 (Chen & Goodman 1999 use counts-of-counts estimation; a
    * fixed D keeps the model pure integer-count algebra over the
    * stored artifact). The only engine-specific token is the bigram
    * TYPE total `t`: Spark folds the driver-computed integer as a
    * literal (the meta-literal discipline — no 1-row cross join), the
    * oracle computes it as a scalar subquery; both are the same exact
    * integer, so the arithmetic cannot diverge. */
  private[graft] val KnD = "0.75"

  /** logp over columns (c2, c1, n1p, cont): seen context ⇒
    * ln((max(c2−D,0) + D·n1p·Pcont(w2)) / c1) — the discounted ML
    * estimate plus the λ(w1)=D·n1p/c1 escape mass times the
    * CONTINUATION probability Pcont(w2)=N1+(·,w2)/T (how many distinct
    * contexts w2 follows — the KN insight: "Francisco" is frequent but
    * follows only "San", so its continuation probability is tiny);
    * unseen context ⇒ Pcont alone. COALESCE(cont,1) is the one-type
    * floor for words the reference never saw as a continuation — the
    * same floor convention as [[qLmBackoff]]'s COALESCE(cu,1). */
  private[graft] def knLogpExpr(t: String): String =
    s"""CASE WHEN c1 IS NULL
       |  THEN ln(CAST(COALESCE(cont, 1) AS DOUBLE) / $t)
       |  ELSE ln((CASE WHEN c2 IS NOT NULL THEN c2 - $KnD ELSE 0.0 END
       |    + $KnD * n1p * (CAST(COALESCE(cont, 1) AS DOUBLE) / $t)) / c1)
       |END""".stripMargin

  /** [[knLogpExpr]] over the (c2, c1, n1p, cont) columns of a joined
    * bigram relation, T folded as its exact integer. Shared by the
    * batch scorer and the streaming twin
    * ([[graft.streaming.StatefulOps.streamingKneserNey]]). */
  private[graft] def knLogp(t: Long): Column = expr(knLogpExpr(t.toString))

  /** INTERPOLATED KNESER-NEY bigram scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999) — the published step
    * past [[qLmBackoff]]'s Stupid Backoff on the perplexity-filter
    * ladder: instead of an unnormalized α·unigram fallback, every
    * bigram mixes a 0.75-discounted ML estimate with the context's
    * escape mass λ(w1) times the CONTINUATION unigram — the smoothing
    * serious LM-based quality filters (KenLM) actually ship.
    *
    * Model = the frozen [[lmRefBigrams]] artifact alone: c1 and the
    * context fan-out n1p are one (w1) rollup of it, continuation
    * counts one (w2) rollup, and the type total T a driver-side count
    * of the artifact (vocabulary-sized action, folded as a literal —
    * the bm25Stored meta discipline). Scale: doc-side bigram pass is
    * map-side ([[bigramsOf]]); the three model joins are vocabulary-
    * keyed LEFT equi-joins (broadcast-able in production); nothing
    * corpus-sized shuffles twice. Backoff genuinely fires on the
    * held-out `% 10 != 0` docs — both the unseen-bigram interpolation
    * (n_interp) and the unseen-context fallback (n_unseen_ctx) are
    * exercised and counted per doc. Float parity: the formula is one
    * shared string; the per-doc ln-sum carries the documented
    * accumulation-order risk every LM query here does, rounded to 6
    * decimals. */
  def qLmKneserNey(spark: SparkSession, sfDir: String): DataFrame = {
    val c2 = lmRefBigrams(spark, sfDir)
    val ctx = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = c2.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    knScored(spark, sfDir, c2, ctx, cont, c2.count())
  }

  /** The KN scoring pass over ANY (c2, ctx, cont, T) model relations —
    * ONE plan tail shared by the live query (serve-time rollups) and
    * the stored twin (materialized statistic tables), so the two paths
    * cannot drift and share the oracle verbatim. All model statistics
    * are integer columns, so the stored round-trip through parquet is
    * bit-exact and both variants produce identical doubles. */
  private def knScored(spark: SparkSession, sfDir: String, c2: DataFrame,
      ctx: DataFrame, cont: DataFrame, t: Long): DataFrame =
    bigramsOf(Tables.documents(spark, sfDir))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .withColumn("logp", knLogp(t))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(when(col("c1").isNull, col("cnt")).otherwise(lit(0L)))
          .as("n_unseen_ctx"),
        sum(when(col("c1").isNotNull && col("c2").isNull, col("cnt"))
          .otherwise(lit(0L))).as("n_interp"),
        round(sum(col("cnt") * col("logp")) / sum(col("cnt")), 6)
          .as("avg_logp"))
      .withColumn("held_out", col("doc_id") % 10 =!= 0)

  /** The PRECOMPUTED KN model: the context statistic table (w1, c1,
    * n1p) with the bigram type total T as meta, and the continuation
    * table (w2, cont) — materialized ONCE from [[lmRefBigrams]], the
    * KenLM arrangement (an ARPA file stores precomputed smoothing
    * statistics; the scorer never re-derives them from raw counts).
    * Both rollups are vocabulary-sized integer relations. */
  private[graft] def knStored(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val c2 = lmRefBigrams(spark, sfDir)
    val (ctxDir, meta) = graft.Artifacts.getOrBuildMeta(
        spark, sfDir, "kn_ctx_ref") { d =>
      c2.groupBy(col("w1"))
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
        .write.parquet(d)
      c2.count().toString
    }
    val contDir = graft.Artifacts.getOrBuild(spark, sfDir, "kn_cont_ref") { d =>
      c2.groupBy(col("w2")).agg(count(lit(1)).as("cont")).write.parquet(d)
    }
    (c2, Tables.parquet(spark, ctxDir), Tables.parquet(spark, contDir),
      meta.trim.toLong)
  }

  /** [[qLmKneserNey]] SERVING the precomputed model: the context and
    * continuation statistics come from the frozen [[knStored]]
    * artifacts and T from its meta — serve time is the doc-side
    * bigram pass plus three vocabulary-keyed LEFT equi-joins, with
    * zero model-side aggregation and zero driver-side count actions
    * (the live twin re-derives all three statistics per call — the
    * live-miner/stored-server split every stored family here makes).
    * Same oracle verbatim: the artifacts are the same rollups
    * materialized, integer-exact through parquet. */
  def qLmKneserNeyStored(spark: SparkSession, sfDir: String): DataFrame = {
    val (c2, ctx, cont, t) = knStored(spark, sfDir)
    knScored(spark, sfDir, c2, ctx, cont, t)
  }

  lazy val qLmKneserNeyOracle: String =
    s"""WITH ref AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
       |rl AS (SELECT string_split(text, ' ') AS l FROM ref),
       |c2t AS (
       |  SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS c2
       |  FROM rl, LATERAL (SELECT unnest(range(1, len(l))) AS i) r
       |  GROUP BY 1, 2),
       |ctx AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1p FROM c2t GROUP BY 1),
       |cw AS (SELECT w2, COUNT(*) AS cont FROM c2t GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS t FROM c2t),
       |dl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |dbg AS (
       |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS cnt
       |  FROM dl, LATERAL (SELECT unnest(range(1, len(l))) AS i) r
       |  GROUP BY 1, 2, 3),
       |j AS (
       |  SELECT dbg.doc_id, dbg.cnt, c2t.c2, ctx.c1, ctx.n1p, cw.cont
       |  FROM dbg LEFT JOIN c2t USING (w1, w2) LEFT JOIN ctx USING (w1)
       |  LEFT JOIN cw ON cw.w2 = dbg.w2),
       |s AS (
       |  SELECT doc_id,
       |    CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(CASE WHEN c1 IS NULL THEN cnt ELSE 0 END) AS BIGINT)
       |      AS n_unseen_ctx,
       |    CAST(SUM(CASE WHEN c1 IS NOT NULL AND c2 IS NULL THEN cnt ELSE 0 END)
       |      AS BIGINT) AS n_interp,
       |    SUM(cnt * (${knLogpExpr("(SELECT t FROM tot)")})) / SUM(cnt) AS a
       |  FROM j GROUP BY 1)
       |SELECT doc_id, n_bigrams, n_unseen_ctx, n_interp,
       |  round(a, 6) AS avg_logp, doc_id % 10 != 0 AS held_out
       |FROM s ORDER BY doc_id""".stripMargin

  /** Bigrams via 1-based list indexing over a lateral index range —
    * the same pairs as the Spark tail-zip. */
  val qLmBigramOracle: String =
    """WITH l AS (
      |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |bg AS (
      |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      |  FROM l, LATERAL (SELECT unnest(range(1, len(l))) AS i) r),
      |dbg AS (SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, SUM(cnt) AS c2 FROM dbg GROUP BY 1, 2),
      |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1)
      |SELECT dbg.doc_id,
      |  CAST(SUM(dbg.cnt) AS BIGINT) AS n_bigrams,
      |  round(SUM(dbg.cnt * (ln(c2.c2) - ln(c1.c1))) / SUM(dbg.cnt), 6)
      |    AS avg_logp
      |FROM dbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Per-document NOVELTY: the fraction of a document's distinct
    * 3-gram shingles whose FIRST corpus occurrence (minimum doc_id —
    * the deterministic stand-in for ingestion order) is this document.
    * The data-valuation / curriculum signal: a doc that only repeats
    * earlier material scores ~0, genuinely new text scores ~1 —
    * cheaper than pairwise dedup and complementary to it (novelty is
    * against the WHOLE prefix corpus, not a matched pair).
    *
    * Scale shape: one window over the shingle key (the same inverted-
    * index shuffle every dedup op pays — NOT a join, so a hot shingle
    * shared by millions of docs fans out nothing; each (doc, shingle)
    * row just reads its partition's min) and one doc_id aggregation.
    * Shingle definition shared verbatim with the dedup family
    * ([[DedupOps.shingles]]) so the two can never drift. */
  def qNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = DedupOps.shingles(Tables.documents(spark, sfDir))
    val w = Window.partitionBy(col("shingle"))
    sh.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast(DoubleType) / col("n_shingles"), 6).as("novelty_r"))
  }

  val qNoveltyOracle: String =
    s"""WITH ${DedupOps.shinglesSql},
       |f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
       |SELECT sh.doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS novelty_r
       |FROM sh JOIN f USING (shingle)
       |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin

  /** One BPE VOCABULARY-INDUCTION step: the frequency-weighted count
    * of every adjacent character pair, ranked — exactly the merge-
    * candidate table the BPE training loop consults each iteration
    * (the loop itself is driver-side bookkeeping; THIS count is the
    * corpus-scale step).
    *
    * Scale shape: the corpus is touched ONCE, by the word-frequency
    * aggregation (map-side partials absorb the "the"-scale skew);
    * the quadratic-ish pair explode then runs over the DISTINCT
    * vocabulary — orders of magnitude smaller than the corpus and
    * independent of duplication — with each pair weighted by `wfreq`.
    * That vocab-not-corpus split is what makes BPE training feasible
    * at 100 TB, and PlanAuditSpec pins it. */
  def qBpeLearn(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))
    val pairs = words
      .select(col("wfreq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => concat(col("word").substr(i, lit(1)), lit("+"),
            col("word").substr(i + 1, lit(1))))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wfreq")).as("freq"))
    // top-20 first (TakeOrdered — no global sort), then rank the 20
    pairs.orderBy(col("freq").desc, col("pair")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("pair"))))
      .select(col("rank"), col("pair"), col("freq"))
  }

  val qBpeLearnOracle: String =
    """WITH w AS (
      |  SELECT word, COUNT(*) AS wfreq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |  WHERE length(word) >= 2 GROUP BY 1),
      |p AS (
      |  SELECT substr(word, g, 1) || '+' || substr(word, g + 1, 1) AS pair,
      |    CAST(SUM(wfreq) AS BIGINT) AS freq
      |  FROM w, unnest(generate_series(1, length(word) - 1)) AS u(g)
      |  GROUP BY 1),
      |rk AS (SELECT pair, freq,
      |  row_number() OVER (ORDER BY freq DESC, pair) AS rank FROM p)
      |SELECT CAST(rank AS INT) AS rank, pair, freq FROM rk
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** HEAVY HITTERS via a count-min sketch ([[graft.functions
    * .CountMinSketch]]) probed at the exact top-20 words — the
    * fixed-memory frequency monitor a 100 TB vocab pass runs when
    * exact per-token counts don't fit (the exact twin here IS the
    * verification: at fixture scale both are computable, so the sketch
    * bound is checked against truth; at scale the exact side shrinks
    * to a sampled audit). Oracle pattern: the top-20 (word, n_exact)
    * rows hash-match DuckDB — real cross-engine content — while the
    * sketch gates (estimate ≥ truth always; overcount within 4·N/width
    * collision mass) are engine-private booleans. The sketch is
    * deterministic end-to-end: fixed MurmurHash3 seeds, elementwise-
    * add merge (ScalaCheck'd split-invariant in CountMinLaws) — no
    * RNG, so the gate outcome is replay-stable. Two corpus passes
    * (sketch + exact counts), both one-shuffle shapes. */
  def qHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cm = graft.functions.CountMinSketch(4, 1024)
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
    val sketch = words.as[String].select(cm.toColumn).head()
    // every sketch row sums to the total token count N
    val totalN = sketch.rows.take(cm.width).sum
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("word")).limit(20).collect()
    val rows = top.toSeq.map { r =>
      val w = r.getString(0); val n = r.getLong(1)
      val est = cm.estimate(sketch, w)
      (w, n, est >= n, est <= n + 4L * totalN / cm.width)
    }
    rows.toDF("word", "n_exact", "lower_bound_ok", "overcount_ok")
  }

  val qHeavyHittersOracle: String =
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT word, COUNT(*) AS n_exact FROM w
      |      WHERE length(word) >= 1 GROUP BY 1),
      |top AS (SELECT word, n_exact FROM c
      |        ORDER BY n_exact DESC, word LIMIT 20)
      |SELECT word, n_exact, TRUE AS lower_bound_ok, TRUE AS overcount_ok
      |FROM top ORDER BY n_exact DESC, word""".stripMargin

  /** ZIPF HEAD FIT — the corpus-health diagnostic that catches
    * template/spam floods and mojibake at a glance: natural-language
    * corpora follow count ∝ rank^s with s ≈ −1 over the frequency
    * head, and a slope far from −1 (or a collapsing r²) means the
    * token distribution is degenerate (machine-generated repetition
    * → flatter; boilerplate floods → steeper head). OLS of ln(count)
    * on ln(rank) over the TOP-K (K = 1000) tokens — the published
    * practice fits the head, where the power law actually holds.
    * Scale: the corpus collapses to the vocabulary histogram in one
    * shuffle; top-K is the bounded-heap TakeOrderedAndProject; the
    * rank window runs over K rows (the sweep walker recognizes a
    * global limit as bounded). One output row. */
  def qZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 1000
    val top = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tk")).limit(k)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("tk"))))
      .select(log(col("rank").cast(DoubleType)).as("x"),
        log(col("c").cast(DoubleType)).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("slope_c",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("n").as("k"),
        round(col("slope_c"), 6).as("slope"),
        round((col("sy") - col("slope_c") * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  val qZipfFitOracle: String =
    """WITH w AS (
      |  SELECT unnest(string_split(text, ' ')) AS tk FROM documents),
      |c AS (SELECT tk, COUNT(*) AS c FROM w GROUP BY 1),
      |top AS (SELECT tk, c FROM c ORDER BY c DESC, tk LIMIT 1000),
      |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tk) AS rank
      |       FROM top),
      |m AS (SELECT COUNT(*) AS n,
      |    SUM(ln(rank)) AS sx, SUM(ln(c)) AS sy,
      |    SUM(ln(rank) * ln(rank)) AS sxx, SUM(ln(c) * ln(c)) AS syy,
      |    SUM(ln(rank) * ln(c)) AS sxy
      |  FROM rk),
      |s AS (SELECT *,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_c FROM m)
      |SELECT n AS k, round(slope_c, 6) AS slope,
      |  round((sy - slope_c * sx) / n, 6) AS intercept,
      |  round(pow(n * sxy - sx * sy, 2) /
      |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM s""".stripMargin

  /** Cross-document boilerplate removal keyed by origin `source` — the
    * CCNet/MassiveText cleanup step (drop nav bars, cookie banners,
    * repeated templates) re-expressed at chunk granularity: a document
    * is split into disjoint 3-word chunks, and a chunk is boilerplate
    * when it recurs across ≥ max(2, nd/50) distinct documents OF THE
    * SAME SOURCE (nd = the source's doc count — the threshold scales
    * with corpus growth instead of flagging every benign 2-doc repeat
    * at web scale). The cleaned text is the kept chunks rejoined in
    * position order, plus kept/dropped counts for downstream quality
    * gates.
    *
    * Scale shape: the chunk relation is ~|tokens|/3 rows, produced by
    * ONE explode with the chunk list built declaratively per doc
    * (sequence → slice → array_join, no UDF). The document-frequency
    * table shuffles on (source, chunk) with map-side combine; the
    * per-source doc counts are a tiny broadcast. The flagged-chunk
    * join is an equi-join on the same (source, chunk) key, and the
    * reassembly is one groupBy(doc_id) whose payload is the kept
    * chunks only. No self-joins, no driver loops; every stage's key
    * cardinality is corpus-linear with a boilerplate table that is a
    * vanishing fraction of it. */
  def qBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = 3
    val docs = Tables.documents(spark, sfDir)
    val chunks = docs
      .select(col("doc_id"), col("source"), toks.as("ts"))
      .select(col("doc_id"), col("source"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("ts")) - 1) / w).cast("int")),
          i => array_join(slice(col("ts"), i * w + 1, lit(w)), " ")))
          .as(Seq("cid", "chunk")))
    val srcn = docs.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val dfreq = chunks.groupBy(col("source"), col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val boiler = dfreq.join(broadcast(srcn), "source")
      .filter(col("df") >= greatest(lit(2L), expr("nd DIV 50")))
      .select(col("source"), col("chunk"), lit(true).as("is_boiler"))
    chunks.join(boiler, Seq("source", "chunk"), "left_outer")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        count(col("is_boiler")).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("is_boiler").isNull,
            struct(col("cid"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("clean_text"))
  }

  val qBoilerplateOracle: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      |ch AS (SELECT doc_id, source, g AS cid,
      |         array_to_string(ts[g*3 + 1 : least(g*3 + 3, len(ts))], ' ') AS chunk
      |       FROM d, unnest(generate_series(0, CAST(floor((len(ts)-1) / 3) AS BIGINT))) AS u(g)),
      |srcn AS (SELECT source, COUNT(DISTINCT doc_id) AS nd FROM documents GROUP BY 1),
      |dfq AS (SELECT source, chunk, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1, 2),
      |boiler AS (SELECT dfq.source, dfq.chunk FROM dfq JOIN srcn USING (source)
      |           WHERE df >= GREATEST(2, nd // 50)),
      |fl AS (SELECT ch.doc_id, ch.source, ch.cid, ch.chunk,
      |         b.chunk IS NOT NULL AS is_b
      |       FROM ch LEFT JOIN boiler b
      |         ON b.source = ch.source AND b.chunk = ch.chunk)
      |SELECT doc_id, source,
      |  COUNT(*) AS n_chunks,
      |  COUNT(*) FILTER (WHERE is_b) AS n_dropped,
      |  COALESCE(string_agg(chunk, ' ' ORDER BY cid) FILTER (WHERE NOT is_b), '')
      |    AS clean_text
      |FROM fl GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** COLLOCATION / phrase mining (word2vec-phrases, Mikolov et al.
    * 2013 §4 — public): adjacent word pairs whose co-occurrence beats
    * independence by a lift threshold become multi-word tokens for
    * downstream tokenization. PMI is log(c_xy·P / (cl_x·cr_y)) with
    * marginals over the PAIR relation (P = total adjacent pairs,
    * cl_x = pairs with left word x, cr_y = pairs with right word y);
    * the gate "PMI ≥ log 3" is evaluated as the INTEGER
    * cross-multiplication c_xy·P > 3·cl_x·cr_y — no log, no float,
    * bit-exact in both engines. Long bounds: c_xy ≤ P and the gate
    * terms stay < 9·10¹⁸ up to P ≈ 10⁹ pairs per partition-of-
    * accounting; beyond that, widen the gate lane to DECIMAL(38,0) —
    * the plan shape is unchanged.
    *
    * Scale shape: ONE corpus scan explodes each doc into its
    * (size-1) adjacent pairs; pair counts shuffle once on (x, y)
    * with map-side combine and PERSIST — every downstream consumer
    * (both marginals, the total, the final join) reads the cached
    * vocabulary²-bounded relation, never the corpus. Marginals join
    * back on their own word key — plain equi-joins that AQE
    * broadcasts when the vocabulary is small; the total-pairs scalar
    * folds in as a plan literal (no 1-row join, same discipline as
    * the ANN sizing count). Support floor c_xy ≥ 3 keeps the output
    * noise-free and the result set tiny. The pair-count cache is
    * released by the query's scope — no caller clearCache contract. */
  def qCollocations(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val pairs = Tables.documents(spark, sfDir)
      .select(toks.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("x"),
          element_at(col("ts"), i + 1).as("y")))).as("p"))
      .select(col("p.x"), col("p.y"))
    val pc = pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .transform(scope.persist)
    val nPairs = pc.agg(sum(col("c_xy"))).head.getLong(0)
    val left = pc.groupBy(col("x")).agg(sum(col("c_xy")).as("cl_x"))
    val right = pc.groupBy(col("y")).agg(sum(col("c_xy")).as("cr_y"))
    pc.join(left, "x").join(right, "y")
      .filter(col("c_xy") >= 3 &&
        col("c_xy") * lit(nPairs) > lit(3L) * col("cl_x") * col("cr_y"))
      .select(col("x"), col("y"), col("c_xy"), col("cl_x"), col("cr_y"),
        lit(nPairs).as("n_pairs"))
  }

  /** Same pair relation, marginals, and integer cross-multiplied gate. */
  val qCollocationsOracle: String =
    """WITH d AS (SELECT string_split(text, ' ') AS ts FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |p AS (SELECT ts[i] AS x, ts[i + 1] AS y
      |      FROM d, unnest(generate_series(1, len(ts) - 1)) AS u(i)),
      |pc AS (SELECT x, y, COUNT(*) AS c_xy FROM p GROUP BY 1, 2),
      |l AS (SELECT x, SUM(c_xy) AS cl_x FROM pc GROUP BY 1),
      |r AS (SELECT y, SUM(c_xy) AS cr_y FROM pc GROUP BY 1),
      |t AS (SELECT SUM(c_xy) AS n_pairs FROM pc)
      |SELECT pc.x, pc.y, c_xy,
      |  CAST(cl_x AS BIGINT) AS cl_x, CAST(cr_y AS BIGINT) AS cr_y,
      |  CAST(n_pairs AS BIGINT) AS n_pairs
      |FROM pc JOIN l USING (x) JOIN r USING (y) CROSS JOIN t
      |WHERE c_xy >= 3 AND c_xy * n_pairs > 3 * cl_x * cr_y
      |ORDER BY c_xy DESC, x, y""".stripMargin

  /** VOCABULARY GROWTH curve (the empirical Heaps'-law table): docs
    * arrive in batches of 50 by id (standing in for crawl batches),
    * and each batch reports how many never-before-seen BIGRAM types
    * it contributes plus the running vocabulary size — the diagnostic
    * that sizes tokenizer merge tables and detects when a new crawl
    * stops adding phrases (the unigram vocabulary saturates in the
    * first batch on any real corpus; the bigram space is where the
    * Heaps curve lives, and it is exactly the BPE-merge candidate
    * space). First-seen attribution is exact: a type belongs to its
    * MINIMUM batch.
    *
    * Scale shape: one explode → one (type) groupBy taking min(batch)
    * with map-side combine (the corpus-sized step, one shuffle), then
    * per-batch counts + a running sum over the batch-count relation —
    * tens of rows. The cumulative window never touches the corpus. */
  def qVocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = Tables.documents(spark, sfDir)
      .select(expr("doc_id DIV 50").as("batch"), col("text"))
      .select(col("batch"), toks.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("batch"),
        explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => concat_ws(" ", element_at(col("ts"), i),
            element_at(col("ts"), i + 1)))).as("big"))
      .groupBy(col("big")).agg(min(col("batch")).as("batch"))
    firstSeen.groupBy(col("batch")).agg(count(lit(1)).as("new_tokens"))
      .withColumn("vocab_size", sum(col("new_tokens")).over(
        Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("batch"), col("new_tokens"), col("vocab_size"))
  }

  val qVocabGrowthOracle: String =
    """WITH d AS (SELECT doc_id // 50 AS batch, string_split(text, ' ') AS ts
      |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |tok AS (SELECT batch, ts[i] || ' ' || ts[i + 1] AS big
      |        FROM d, unnest(generate_series(1, len(ts) - 1)) AS u(i)),
      |fs AS (SELECT big, MIN(batch) AS batch FROM tok GROUP BY 1),
      |nb AS (SELECT batch, COUNT(*) AS new_tokens FROM fs GROUP BY 1)
      |SELECT CAST(batch AS BIGINT) AS batch, new_tokens,
      |  CAST(SUM(new_tokens) OVER (ORDER BY batch
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS vocab_size
      |FROM nb ORDER BY batch""".stripMargin

  /** LANGUAGE-ID CONFUSION MATRIX — the classifier eval every langid
    * rollout gates on: labeled vs predicted counts per cell, each
    * cell's recall within its labeled row as integer ppm, and the
    * diagonal flag. The |langs|² rollup is model-sized; the only
    * corpus-sized step is the same one-scan marker scoring as
    * `text_langid` (bit-identical arithmetic — the eval can never
    * drift from the classifier it grades). */
  def qLangIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val preds = qLangId(spark, sfDir)
      .select(col("labeled_lang"), col("predicted_lang"))
    val rowTotals = preds.groupBy(col("labeled_lang"))
      .agg(count(lit(1)).as("n_labeled"))
    preds.groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .join(rowTotals, "labeled_lang")
      .select(col("labeled_lang"), col("predicted_lang"), col("n"),
        col("n_labeled"),
        expr("n * 1000000 DIV n_labeled").as("row_ppm"),
        (col("labeled_lang") === col("predicted_lang")).as("is_diagonal"))
  }

  val qLangIdConfusionOracle: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
      |s AS (SELECT lang AS labeled_lang,
      |  CAST(len(list_filter(ts, x -> x IN ('the','a','of','and'))) AS INT) AS score_en,
      |  CAST(len(list_filter(ts, x -> x IN ('der','die','das','und'))) AS INT) AS score_de,
      |  CAST(len(list_filter(ts, x -> x IN ('el','los','las','y'))) AS INT) AS score_es,
      |  CAST(len(list_filter(ts, x -> x IN ('le','les','et','une'))) AS INT) AS score_fr
      |FROM t),
      |p AS (SELECT labeled_lang,
      |  CASE WHEN score_en >= greatest(score_de, score_es, score_fr) THEN 'en'
      |       WHEN score_de >= greatest(score_es, score_fr) THEN 'de'
      |       WHEN score_es >= score_fr THEN 'es'
      |       ELSE 'fr' END AS predicted_lang
      |FROM s),
      |rt AS (SELECT labeled_lang, COUNT(*) AS n_labeled FROM p GROUP BY 1),
      |c AS (SELECT labeled_lang, predicted_lang, COUNT(*) AS n FROM p GROUP BY 1, 2)
      |SELECT c.labeled_lang, c.predicted_lang, c.n, rt.n_labeled,
      |  CAST(c.n * 1000000 // rt.n_labeled AS BIGINT) AS row_ppm,
      |  c.labeled_lang = c.predicted_lang AS is_diagonal
      |FROM c JOIN rt USING (labeled_lang)
      |ORDER BY labeled_lang, predicted_lang""".stripMargin

  /** URL PARSE / NORMALIZE — the structural decomposition every
    * web-corpus pipeline runs before domain-level curation (source
    * filtering, per-site dedup, robots/blocklist joins all key on the
    * parsed host or registered domain, never the raw string). The
    * fixture ships no URL column, so one is DERIVED deterministically
    * from (source, lang, doc_id) — scheme/tld/path-depth/query all
    * vary — and then PARSED BACK with the same regex algebra a real
    * crawl table would use; every extraction reads only the `url`
    * string, so the operator drops onto a real column unchanged (the
    * derivation CTE is the only fixture-specific line).
    *
    * Scale shape: pure map-side column algebra — regex extractions
    * and a split count, no shuffle (output order unspecified). The
    * regexes
    * are anchored character-class patterns (no backtracking
    * pathologies, identical semantics in Java and DuckDB's RE2). */
  def qUrlParse(spark: SparkSession, sfDir: String): DataFrame = {
    val scheme = when(col("doc_id") % 10 < 8, "https").otherwise("http")
    val host = concat(col("source"), lit(".example."),
      when(length(col("source")) % 2 === 0, "com").otherwise("org"))
    val query = when(col("doc_id") % 3 === 0,
      concat(lit("?ref="), (col("doc_id") % 5).cast("string"))).otherwise("")
    val url = concat(scheme, lit("://"), host, lit("/"), col("lang"),
      lit("/doc/"), col("doc_id").cast("string"), query)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "^([a-z]+)://", 1).as("scheme"),
        regexp_extract(col("url"), "^[a-z]+://([^/]+)/", 1).as("host"),
        regexp_extract(col("url"), "^[a-z]+://[^/]*?([^./]+\\.[^./]+)/", 1)
          .as("domain"),
        regexp_extract(col("url"), "\\.([a-z]+)/", 1).as("tld"),
        (size(split(regexp_extract(col("url"),
          "^[a-z]+://[^/]+(/[^?]*)", 1), "/")) - 1).cast("int").as("path_depth"),
        col("url").contains("?").as("has_query"),
        regexp_extract(col("url"), "^([a-z]+)://", 1).equalTo("https")
          .as("is_secure"))
  }

  /** Same derivation + the same anchored extractions in DuckDB. */
  val qUrlParseOracle: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 10 < 8 THEN 'https' ELSE 'http' END) || '://' ||
      |    source || '.example.' ||
      |    (CASE WHEN len(source) % 2 = 0 THEN 'com' ELSE 'org' END) ||
      |    '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR)
      |          ELSE '' END) AS url
      |  FROM documents)
      |SELECT doc_id, url,
      |  regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
      |  regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
      |  regexp_extract(url, '^[a-z]+://[^/]*?([^./]+\.[^./]+)/', 1) AS domain,
      |  regexp_extract(url, '\.([a-z]+)/', 1) AS tld,
      |  CAST(len(string_split(
      |    regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1), '/')) - 1 AS INT)
      |    AS path_depth,
      |  contains(url, '?') AS has_query,
      |  regexp_extract(url, '^([a-z]+)://', 1) = 'https' AS is_secure
      |FROM u ORDER BY doc_id""".stripMargin

  /** OOV / VOCABULARY-COVERAGE REPORT — the tokenizer-fit audit every
    * pretraining corpus runs per language slice: freeze the top-K
    * corpus vocabulary (K = 100 here; the learned-vocab stand-in, with
    * the deterministic (freq desc, word) boundary tie-break) and
    * report each language's token mass, out-of-vocabulary mass, and
    * integer-ppm OOV rate. A language whose OOV rate is high is
    * under-served by the tokenizer (fertility blows up, effective
    * context shrinks) — this table is the evidence for re-weighting
    * vocab training data.
    *
    * Scale shape: the corpus is touched ONCE, by the (lang, word)
    * count aggregation (map-side combined; the persisted relation is
    * VOCABULARY-sized, not corpus-sized). The top-K vocab is a
    * TakeOrdered over the word re-aggregation, explicitly broadcast
    * back (K rows); the per-lang rollup then runs entirely on
    * vocab-sized inputs. No corpus-sized join anywhere. */
  def qOovRate(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val k = 100
    val lw = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      .transform(scope.persist)
    val vocab = lw.groupBy(col("word")).agg(sum(col("c")).as("wf"))
      .orderBy(col("wf").desc, col("word")).limit(k)
      .select(col("word"), lit(1).as("in_v"))
    val perLang = lw.join(broadcast(vocab), Seq("word"), "left_outer")
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_v").isNull, col("c")).otherwise(lit(0L))).as("n_oov"))
    val nDocs = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    perLang.join(nDocs, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 DIV n_tokens").as("oov_ppm"))
  }

  /** Same top-K vocabulary (tie-broken), masses, and integer ppm. */
  val qOovRateOracle: String =
    """WITH t AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
      |lw AS (SELECT lang, word, COUNT(*) AS c FROM t GROUP BY 1, 2),
      |v AS (SELECT word FROM (
      |  SELECT word, SUM(c) AS wf,
      |    row_number() OVER (ORDER BY SUM(c) DESC, word) AS rk
      |  FROM lw GROUP BY word) x WHERE rk <= 100),
      |a AS (
      |  SELECT lang, SUM(c) AS n_tokens,
      |    SUM(CASE WHEN v.word IS NULL THEN c ELSE 0 END) AS n_oov
      |  FROM lw LEFT JOIN v ON v.word = lw.word GROUP BY 1),
      |d AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT a.lang, d.n_docs,
      |  CAST(a.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(a.n_oov AS BIGINT) AS n_oov,
      |  CAST((a.n_oov * 1000000) // a.n_tokens AS BIGINT) AS oov_ppm
      |FROM a JOIN d USING (lang) ORDER BY lang""".stripMargin

  /** The "curated reference" slice for trained text models: documents
    * from the first three sources. Stands in for the trusted corpus
    * (Wikipedia/books vs general crawl) that quality classifiers and
    * importance samplers are trained against in the published
    * pipelines (GPT-3 appendix A, CCNet, DSIR). Shared by the NB
    * classifier below and [[SamplingOps.qDsir]]'s target LM. */
  private[graft] val curatedSources = Seq("src0", "src1", "src2")
  private[graft] def curatedPred: Column = col("source").isin(curatedSources: _*)

  /** Per-(doc, token) counts with the doc's source kept — the shared
    * map pass of the trained-classifier family. */
  private def docSourceTf(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("doc_id"), col("source"), col("tk"))
      .agg(count(lit(1)).as("cnt"))

  /** MULTINOMIAL NAIVE BAYES quality classifier — the GPT-3-style
    * "does this look like the curated corpus?" filter: positive class
    * = the curated sources, negative = everything else; add-one
    * smoothing over the shared vocabulary; per-doc score = class
    * prior + Σ cnt·(ln(cp+1) − ln(cq+1)) − n·(ln(Np+V) − ln(Nq+V)),
    * predicted positive when the (rounded) score clears 0.
    *
    * Why NB and not logistic regression here: it trains in ONE
    * distributed counting pass (the same explode+agg every text op
    * pays), the model is a vocabulary-sized relation (broadcastable
    * at 100 TB), and scoring is integer-count arithmetic plus ln of
    * integer ratios — bit-reproducible across engines, where an
    * iterative GD fit would compound float-sum nondeterminism per
    * step. Scale: token rows shuffle once; the model join is
    * vocabulary-keyed; the five scalars ride the documented 1-row
    * broadcast pattern. */
  def qNbQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val dtf = docSourceTf(spark, sfDir)
    val model = dtf.groupBy(col("tk")).agg(
      sum(when(curatedPred, col("cnt")).otherwise(lit(0L))).as("cp"),
      sum(when(curatedPred, lit(0L)).otherwise(col("cnt"))).as("cq"))
    val scal = model.agg(
      sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
      count(lit(1)).as("v"))
    val dc = Tables.documents(spark, sfDir).agg(
      sum(when(curatedPred, 1L).otherwise(0L)).as("dp"),
      sum(when(curatedPred, 0L).otherwise(1L)).as("dq"))
    dtf.join(model, "tk")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * (log(col("cp") + 1) - log(col("cq") + 1))).as("a"))
      .crossJoin(broadcast(scal)).crossJoin(broadcast(dc))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(log(col("dp")) - log(col("dq")) + col("a") -
          col("n_tokens").cast(DoubleType) *
            (log(col("np") + col("v")) - log(col("nq") + col("v"))), 6)
          .as("nb_score_r"))
      .withColumn("pred_pos", col("nb_score_r") > 0)
  }

  /** The NB model as a DURABLE artifact — (tk, cp, cq) counts plus the
    * five scalars (Np, Nq, V, docsP, docsQ) as meta. Counts, not
    * log-ratios, are stored so the serve-time arithmetic is the exact
    * expression the live twin evaluates (same ln of the same integer
    * args — the oracle is shared verbatim). */
  private[graft] def nbStored(spark: SparkSession, sfDir: String)
      : (DataFrame, Array[Long]) = {
    val (dir, meta) = graft.Artifacts.getOrBuildMeta(
        spark, sfDir, "nb_quality_model") { d =>
      QueryScope.eager(spark) { scope =>
        val model = docSourceTf(spark, sfDir).groupBy(col("tk")).agg(
          sum(when(curatedPred, col("cnt")).otherwise(lit(0L))).as("cp"),
          sum(when(curatedPred, lit(0L)).otherwise(col("cnt"))).as("cq"))
          .transform(scope.persist)
        model.write.parquet(d)
        val sums = model.agg(sum(col("cp")), sum(col("cq")), count(lit(1))).head
        val dcr = Tables.documents(spark, sfDir).agg(
          sum(when(curatedPred, 1L).otherwise(0L)),
          sum(when(curatedPred, 0L).otherwise(1L))).head
        Seq(sums.getLong(0), sums.getLong(1), sums.getLong(2),
          dcr.getLong(0), dcr.getLong(1)).mkString(",")
      }
    }
    (Tables.parquet(spark, dir), meta.trim.split(",").map(_.toLong))
  }

  /** [[qNbQuality]] SERVED from the stored model: the per-doc token
    * counts are the unavoidable map pass over whatever is being
    * scored; the model side is the artifact scan and the scalars are
    * meta literals (no 1-row cross joins). This is how a quality
    * classifier deploys: trained once on a labeled snapshot, scoring
    * every incoming shard against frozen counts. Oracle shared
    * verbatim with the live twin. */
  def qNbQualityStored(spark: SparkSession, sfDir: String): DataFrame =
    nbScoredDocs(spark, sfDir)

  /** The stored-model scoring pass, unsorted — shared by
    * [[qNbQualityStored]] and the classifier-eval queries
    * ([[qNbAuc]], [[qNbConfusion]]). */
  private[graft] def nbScoredDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, m) = nbStored(spark, sfDir)
    val Array(np, nq, v, dp, dq) = m
    val prior = math.log(dp.toDouble) - math.log(dq.toDouble)
    val kk = math.log((np + v).toDouble) - math.log((nq + v).toDouble)
    docSourceTf(spark, sfDir)
      .join(model, "tk")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * (log(col("cp") + 1) - log(col("cq") + 1))).as("a"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(lit(prior) + col("a") -
          col("n_tokens").cast(DoubleType) * lit(kk), 6).as("nb_score_r"))
      .withColumn("pred_pos", col("nb_score_r") > 0)
  }

  /** EXACT ROC-AUC of the NB quality classifier against its
    * curated-source labels — the eval a trained filter ships with.
    * AUC is the Mann–Whitney rank statistic, and the exact
    * tie-respecting form needs every document's AVERAGE rank under
    * the score order: ranks come from the score HISTOGRAM run through
    * the sharded global prefix sum ([[SamplingOps.withGlobalCumSum]]
    * — never an unpartitioned window; scores are 6-decimal-rounded so
    * the histogram is value-keyed but near doc cardinality, exactly
    * the class that primitive exists for). All integer arithmetic —
    * avg rank enters doubled (2·before + cnt + 1), so the single
    * division at the end is the only float op. */
  def qNbAuc(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val scored = nbScoredDocs(spark, sfDir)
      .select(col("nb_score_r"), curatedPred.cast("long").as("pos"))
    val h = scored.groupBy(col("nb_score_r"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("npos"))
    val cum = SamplingOps.withGlobalCumSum(scope,
      h, "cnt", "__before", col("nb_score_r"))
    cum.agg(
        sum(col("npos")).as("np"),
        sum(col("cnt") - col("npos")).as("nq"),
        sum(col("npos") * (lit(2) * col("__before") + col("cnt") + 1)).as("s2"))
      .select(col("np"), col("nq"),
        round((col("s2") - col("np") * (col("np") + 1)).cast(DoubleType) /
          (lit(2.0) * col("np") * col("nq")), 6).as("auc_r"))
  }

  lazy val qNbAucOracle: String = {
    val chain = qNbQualityOracle.stripSuffix("""
SELECT doc_id, source, n_tokens, nb_score_r, nb_score_r > 0 AS pred_pos
FROM r ORDER BY doc_id""")
    chain + """,
      |h AS (
      |  SELECT nb_score_r AS sc, COUNT(*) AS cnt,
      |    SUM(CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END)
      |      AS npos
      |  FROM r GROUP BY 1),
      |c AS (
      |  SELECT cnt, npos,
      |    COALESCE(SUM(cnt) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
      |  FROM h),
      |a AS (
      |  SELECT CAST(SUM(npos) AS BIGINT) AS np,
      |    CAST(SUM(cnt - npos) AS BIGINT) AS nq,
      |    CAST(SUM(npos * (2 * bef + cnt + 1)) AS BIGINT) AS s2
      |  FROM c)
      |SELECT np, nq,
      |  round(CAST(s2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nq), 6) AS auc_r
      |FROM a""".stripMargin
  }

  /** Confusion matrix + precision/recall/F1 of the NB classifier at
    * the PRIOR-COMPENSATED (balanced likelihood-ratio) threshold —
    * the companion readout to [[qNbAuc]]. The MAP threshold (score
    * > 0, [[qNbQuality]]'s `pred_pos`) is the Bayes decision, but
    * with a rare positive class it degenerates to all-negative; a
    * deployed quality filter thresholds the likelihood ratio
    * (score > prior ⇔ LR > 1) and tunes from there — that is the
    * operating point this report prices. Exact integer cells; F1 as
    * the single-division 2TP/(2TP+FP+FN) form; divisions guarded so
    * a degenerate corner reports 0, not an error. */
  def qNbConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val Array(_, _, _, dp, dq) = nbStored(spark, sfDir)._2
    val prior = math.log(dp.toDouble) - math.log(dq.toDouble)
    val predLr = col("nb_score_r") > lit(prior)
    nbScoredDocs(spark, sfDir)
      .select(curatedPred.as("pos"), predLr.as("pred"))
      .agg(
        sum(when(col("pos") && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("pos") && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("pos") && !col("pred"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pos") && !col("pred"), 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0, 0.0)
          .otherwise(round(col("tp").cast(DoubleType) /
            (col("tp") + col("fp")), 6)).as("precision_r"),
        when(col("tp") + col("fn") === 0, 0.0)
          .otherwise(round(col("tp").cast(DoubleType) /
            (col("tp") + col("fn")), 6)).as("recall_r"),
        when(lit(2) * col("tp") + col("fp") + col("fn") === 0, 0.0)
          .otherwise(round(lit(2.0) * col("tp") /
            (lit(2) * col("tp") + col("fp") + col("fn")), 6)).as("f1_r"))
  }

  lazy val qNbConfusionOracle: String = {
    val chain = qNbQualityOracle.stripSuffix("""
SELECT doc_id, source, n_tokens, nb_score_r, nb_score_r > 0 AS pred_pos
FROM r ORDER BY doc_id""")
    chain + """,
      |cm AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2')
      |      AND nb_score_r > ln((SELECT dp FROM dc)) - ln((SELECT dq FROM dc))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN source NOT IN ('src0','src1','src2')
      |      AND nb_score_r > ln((SELECT dp FROM dc)) - ln((SELECT dq FROM dc))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2')
      |      AND NOT nb_score_r > ln((SELECT dp FROM dc)) - ln((SELECT dq FROM dc))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |    CAST(SUM(CASE WHEN source NOT IN ('src0','src1','src2')
      |      AND NOT nb_score_r > ln((SELECT dp FROM dc)) - ln((SELECT dq FROM dc))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tn
      |  FROM r)
      |SELECT tp, fp, fn, tn,
      |  CASE WHEN tp + fp = 0 THEN 0.0
      |       ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision_r,
      |  CASE WHEN tp + fn = 0 THEN 0.0
      |       ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall_r,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
      |       ELSE round(2.0 * tp / (2 * tp + fp + fn), 6) END AS f1_r
      |FROM cm""".stripMargin
  }

  /** The calibration fold of the curated class — the key is
    * (doc_id div 20) mod 5 because the synthetic corpus assigns
    * source = doc_id mod 20, so a plain doc_id mod 5 fold would alias
    * with the label itself. The divisor/modulus/residue constants are
    * shared by the Spark predicate AND the oracle's [[CalFoldSql]]
    * (ADVICE r11: two independently hard-coded strings could drift,
    * surfacing only as a confusing oracle mismatch), and by the model
    * build and the calibration query so the exclusion can never
    * drift. */
  private val (calFoldDiv, calFoldMod, calFoldResidue) = (20, 5, 4)
  private def calFold: Column =
    expr(s"(doc_id DIV $calFoldDiv) % $calFoldMod = $calFoldResidue")

  /** The FOLD-EXCLUDED NB model for conformal calibration — the same
    * (tk, cp, cq) + five-scalar shape as [[nbStored]], trained on
    * every document EXCEPT the calibration fold. Split conformal
    * REQUIRES the score function to be fit on data disjoint from the
    * calibration set: training through the fold would bias the
    * calibration scores optimistic (their own tokens inflate cp),
    * set the threshold too high, and silently void the coverage
    * guarantee the query exists to provide. */
  private[graft] def nbCalModelStored(spark: SparkSession, sfDir: String)
      : (DataFrame, Array[Long]) = {
    val trainPred = !(curatedPred && calFold)
    val (dir, meta) = graft.Artifacts.getOrBuildMeta(
        spark, sfDir, "nb_model_cal") { d =>
      QueryScope.eager(spark) { scope =>
        val model = docSourceTf(spark, sfDir).filter(trainPred)
          .groupBy(col("tk")).agg(
            sum(when(curatedPred, col("cnt")).otherwise(lit(0L))).as("cp"),
            sum(when(curatedPred, lit(0L)).otherwise(col("cnt"))).as("cq"))
          .transform(scope.persist)
        model.write.parquet(d)
        val sums = model.agg(sum(col("cp")), sum(col("cq")), count(lit(1))).head
        val dcr = Tables.documents(spark, sfDir).filter(trainPred).agg(
          sum(when(curatedPred, 1L).otherwise(0L)),
          sum(when(curatedPred, 0L).otherwise(1L))).head
        Seq(sums.getLong(0), sums.getLong(1), sums.getLong(2),
          dcr.getLong(0), dcr.getLong(1)).mkString(",")
      }
    }
    (Tables.parquet(spark, dir), meta.trim.split(",").map(_.toLong))
  }

  /** Every document scored against the fold-excluded model — the
    * [[nbScoredDocs]] arithmetic with `nb_model_cal` in place of the
    * all-docs model (a token the fold-excluded vocabulary never saw
    * drops out of the inner join, i.e. unseen tokens contribute 0 —
    * mirrored by the oracle's inner JOIN USING (tk)). Factored so the
    * spec can audit the same relation the query calibrates on. */
  private[graft] def nbCalScoredDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, m) = nbCalModelStored(spark, sfDir)
    nbScoreAgainst(docSourceTf(spark, sfDir), model, m)
  }

  /** Score a (doc_id, source, tk, cnt) relation against a frozen NB
    * model whose vocabulary may NOT cover every token — the fold-
    * excluded calibration case. The model join is LEFT OUTER with the
    * unseen tokens contributing 0 to BOTH the log-ratio sum and the
    * in-vocabulary token count: an inner join here would silently
    * DROP any document all of whose tokens are out-of-vocabulary
    * (at 100 TB: a short doc in a domain concentrated in the
    * calibration fold — exactly the lowest-scoring docs), shrinking
    * the calibration set and biasing the conformal threshold high.
    * A fully-OOV document survives with score = the class prior,
    * which is what "no token evidence" means for NB. Factored so the
    * OOV edge — unreachable on the shared-vocabulary corpus — is
    * unit-tested against a synthetic fixture. */
  private[graft] def nbScoreAgainst(dtf: DataFrame, model: DataFrame,
      m: Array[Long]): DataFrame = {
    val Array(np, nq, v, dp, dq) = m
    val prior = math.log(dp.toDouble) - math.log(dq.toDouble)
    val kk = math.log((np + v).toDouble) - math.log((nq + v).toDouble)
    dtf.join(model, Seq("tk"), "left_outer")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        sum(when(col("cp").isNotNull, col("cnt")).otherwise(lit(0L)))
          .as("n_tokens"),
        sum(when(col("cp").isNotNull,
          col("cnt") * (log(col("cp") + 1) - log(col("cq") + 1)))
          .otherwise(lit(0.0))).as("a"))
      .select(col("doc_id"), col("source"),
        round(lit(prior) + col("a") -
          col("n_tokens").cast(DoubleType) * lit(kk), 6).as("nb_score_r"))
  }

  /** SPLIT-CONFORMAL calibration of the NB keep-gate (Papadopoulos et
    * al. 2002; Angelopoulos & Bates 2023 for the modern recipe) — the
    * missing piece of the classifier lifecycle (train → eval
    * AUC/confusion → refresh → serve → CALIBRATE): pick the keep
    * threshold with a finite-sample guarantee instead of the
    * LR-threshold folklore [[qNbConfusion]] prices. A held-out fifth
    * of the CURATED docs is the calibration set ([[calFold]]), the
    * score function is the NB model trained WITHOUT that fold
    * ([[nbCalModelStored]] — disjointness is what makes the math
    * hold), and the threshold is the k-th smallest calibration score
    * with k = ⌊α(n_cal+1)⌋ at α = 0.2: for an exchangeable new
    * curated doc, P(score ≥ thr) ≥ 1−α — the "keep ≥80% of good
    * docs" contract a production filter actually signs. The row
    * reports the threshold, the REALIZED keep rate on the held-in
    * positives, and the negative keep rate (the gate's efficiency),
    * all integer ppm.
    *
    * The order statistic is EXACT and decomposed: calibration-score
    * histogram → [[SamplingOps.withGlobalCumSum]] range-sharded
    * prefix sum → min score with cumulative count ≥ k (the
    * `q_ab_winsorized` p99 discipline — never an unpartitioned window
    * over a near-cardinality histogram, and never a driver-side sort:
    * at 100 TB the calibration set is millions of rows). Scoring
    * rides the STORED fold-excluded model (artifact scan + meta
    * literals); the 1-row (n_cal, thr) broadcasts are the documented
    * `allowNested` category. */
  def qNbConformal(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val scored = nbCalScoredDocs(spark, sfDir)
      .transform(scope.persist)
    val cal = scored.filter(curatedPred && calFold).select(col("nb_score_r"))
    val nc = cal.agg(count(lit(1)).as("n_cal"))
    val hist = cal.groupBy(col("nb_score_r")).agg(count(lit(1)).as("cnt"))
    val cum = SamplingOps.withGlobalCumSum(scope,
      hist, "cnt", "cum_excl", col("nb_score_r"))
    val thr = cum.crossJoin(broadcast(nc))
      .filter(col("cum_excl") + col("cnt") >= expr("(n_cal + 1) DIV 5"))
      .agg(min(col("nb_score_r")).as("thr"))
    val evalPos = curatedPred && !calFold
    scored.crossJoin(broadcast(thr)).crossJoin(broadcast(nc))
      .agg(first(col("n_cal")).as("n_cal"),
        first(expr("(n_cal + 1) DIV 5")).as("k_rank"),
        first(col("thr")).as("thr_r"),
        sum(when(evalPos, 1L).otherwise(0L)).as("n_eval_pos"),
        sum(when(evalPos && col("nb_score_r") >= col("thr"), 1L)
          .otherwise(0L)).as("pos_kept"),
        sum(when(!curatedPred, 1L).otherwise(0L)).as("n_neg"),
        sum(when(!curatedPred && col("nb_score_r") >= col("thr"), 1L)
          .otherwise(0L)).as("neg_kept"))
      .select(col("n_cal"), col("k_rank"), col("thr_r"),
        col("n_eval_pos"), col("pos_kept"),
        expr("pos_kept * 1000000 DIV n_eval_pos").as("pos_keep_ppm"),
        col("n_neg"), col("neg_kept"),
        expr("neg_kept * 1000000 DIV n_neg").as("neg_keep_ppm"))
      .withColumn("coverage_ok", col("pos_keep_ppm") >= 800000L)
  }

  /** The curated-class and calibration-fold predicates as SQL, built
    * from the SAME Scala constants the Spark side uses
    * ([[curatedSources]], [[calFold]]'s divisor/modulus/residue) so
    * the oracle's four uses cannot drift from the plan's. */
  private val CuratedSql: String =
    curatedSources.map("'" + _ + "'").mkString("source IN (", ",", ")")
  private val CalFoldSql: String =
    s"(doc_id // $calFoldDiv) % $calFoldMod = $calFoldResidue"

  /** The NB scoring chain REBUILT over the fold-excluded training
    * slice (model, scalars, and doc priors all exclude the
    * calibration fold — the disjointness split conformal requires),
    * then the conformal order statistic and the realized keep rates. */
  lazy val qNbConformalOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tk
       |  FROM documents),
       |dtf AS (
       |  SELECT doc_id, source, tk, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
       |tr AS (SELECT * FROM dtf WHERE NOT ($CuratedSql AND $CalFoldSql)),
       |model AS (
       |  SELECT tk,
       |    SUM(CASE WHEN $CuratedSql THEN cnt ELSE 0 END) AS cp,
       |    SUM(CASE WHEN $CuratedSql THEN 0 ELSE cnt END) AS cq
       |  FROM tr GROUP BY 1),
       |sc AS (
       |  SELECT CAST(SUM(cp) AS DOUBLE) AS np, CAST(SUM(cq) AS DOUBLE) AS nq,
       |    CAST(COUNT(*) AS DOUBLE) AS v FROM model),
       |dc AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN $CuratedSql THEN 1 ELSE 0 END) AS DOUBLE) AS dp,
       |    CAST(SUM(CASE WHEN $CuratedSql THEN 0 ELSE 1 END) AS DOUBLE) AS dq
       |  FROM documents WHERE NOT ($CuratedSql AND $CalFoldSql)),
       |s AS (
       |  SELECT doc_id, source,
       |    CAST(SUM(CASE WHEN cp IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
       |      AS n_tokens,
       |    SUM(CASE WHEN cp IS NOT NULL
       |        THEN cnt * (ln(cp + 1) - ln(cq + 1)) ELSE 0 END) AS a
       |  FROM dtf LEFT JOIN model USING (tk) GROUP BY 1, 2),
       |r AS (
       |  SELECT doc_id, source,
       |    round(ln(dc.dp) - ln(dc.dq) + a -
       |      n_tokens * (ln(sc.np + sc.v) - ln(sc.nq + sc.v)), 6) AS nb_score_r
       |  FROM s, sc, dc),
       |cal AS (SELECT nb_score_r FROM r WHERE $CuratedSql AND $CalFoldSql),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
       |hh AS (SELECT nb_score_r AS sv, COUNT(*) AS cnt FROM cal GROUP BY 1),
       |cc AS (SELECT sv, SUM(cnt) OVER (ORDER BY sv
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci FROM hh),
       |th AS (SELECT MIN(sv) AS thr FROM cc, nc WHERE ci >= (n_cal + 1) // 5),
       |f AS (
       |  SELECT nc.n_cal, (nc.n_cal + 1) // 5 AS k_rank, th.thr AS thr_r,
       |    CAST(SUM(CASE WHEN $CuratedSql AND NOT $CalFoldSql
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_pos,
       |    CAST(SUM(CASE WHEN $CuratedSql AND NOT $CalFoldSql
       |      AND r.nb_score_r >= th.thr
       |      THEN 1 ELSE 0 END) AS BIGINT) AS pos_kept,
       |    CAST(SUM(CASE WHEN NOT $CuratedSql
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       |    CAST(SUM(CASE WHEN NOT $CuratedSql
       |      AND r.nb_score_r >= th.thr THEN 1 ELSE 0 END) AS BIGINT)
       |      AS neg_kept
       |  FROM r, nc, th GROUP BY 1, 2, 3)
       |SELECT n_cal, k_rank, thr_r, n_eval_pos, pos_kept,
       |  pos_kept * 1000000 // n_eval_pos AS pos_keep_ppm,
       |  n_neg, neg_kept,
       |  neg_kept * 1000000 // n_neg AS neg_keep_ppm,
       |  pos_kept * 1000000 // n_eval_pos >= 800000 AS coverage_ok
       |FROM f""".stripMargin

  val qNbQualityOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |dtf AS (
      |  SELECT doc_id, source, tk, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
      |model AS (
      |  SELECT tk,
      |    SUM(CASE WHEN source IN ('src0','src1','src2') THEN cnt ELSE 0 END)
      |      AS cp,
      |    SUM(CASE WHEN source IN ('src0','src1','src2') THEN 0 ELSE cnt END)
      |      AS cq
      |  FROM dtf GROUP BY 1),
      |sc AS (
      |  SELECT CAST(SUM(cp) AS DOUBLE) AS np, CAST(SUM(cq) AS DOUBLE) AS nq,
      |    CAST(COUNT(*) AS DOUBLE) AS v FROM model),
      |dc AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS dp,
      |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 0 ELSE 1 END)
      |      AS DOUBLE) AS dq
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    SUM(cnt * (ln(cp + 1) - ln(cq + 1))) AS a
      |  FROM dtf JOIN model USING (tk) GROUP BY 1, 2),
      |r AS (
      |  SELECT doc_id, source, n_tokens,
      |    round(ln(dc.dp) - ln(dc.dq) + a -
      |      n_tokens * (ln(sc.np + sc.v) - ln(sc.nq + sc.v)), 6) AS nb_score_r
      |  FROM s, sc, dc)
      |SELECT doc_id, source, n_tokens, nb_score_r, nb_score_r > 0 AS pred_pos
      |FROM r ORDER BY doc_id""".stripMargin

  /** The PREVIOUS crawl snapshot's NB count model as a durable
    * artifact — the frozen classifier a nightly refresh patches.
    * Same (tk, cp, cq) relation as [[nbStored]], mined over the
    * simulated previous snapshot (docs `% 10 != 9` with
    * [[DedupOps.prevTextExpr]]'s content drift — the crawl-delta
    * convention every lifecycle query shares). */
  private[graft] def nbPrevModelStored(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Artifacts.getOrBuild(spark, sfDir, "nb_model_prev") { d =>
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 =!= 9)
        .select(col("source"),
          explode(split(DedupOps.prevTextExpr, " ")).as("tk"))
        .groupBy(col("tk"))
        .agg(sum(when(curatedPred, 1L).otherwise(0L)).as("cp"),
          sum(when(curatedPred, 0L).otherwise(1L)).as("cq"))
        .write.parquet(d)
    }
    Tables.parquet(spark, dir)
  }

  /** NB MODEL REFRESH from a crawl delta — the stored-MODEL
    * maintenance op completing the lifecycle the signature index
    * already has ([[DedupOps.qDedupIndexRefresh]]): instead of
    * re-counting the whole current crawl, PATCH the previous
    * snapshot's frozen (tk, cp, cq) model with token-count deltas
    * from the churn slice only — +counts of added/changed docs'
    * current text, −counts of changed/removed docs' previous text
    * (count models patch ARITHMETICALLY where the signature index
    * patches row-wise; that is why a production pipeline keeps the
    * model as integer counts, not log-ratios — deltas add). Tokens
    * whose total count reaches zero leave the vocabulary, exactly as
    * a from-scratch rebuild would never see them. The five NB scalars
    * (Np, Nq, V, and the doc priors) re-derive from the patched
    * relation by a vocabulary-sized rollup, so nothing else needs
    * patching.
    *
    * Output: the PATCHED model itself, which the oracle rebuilds
    * from scratch over the current snapshot — hash equality IS the
    * proof the patch algebra is exact (and TextModelSpec asserts the
    * same row-identity against a Spark-side rebuild).
    *
    * Scale: the only explodes are over the churn slice (added +
    * changed + removed — the crawl's churn fraction, ~‰ of a 100 TB
    * corpus per night); the previous model enters as an artifact
    * scan; the patch is one vocabulary-keyed full-outer join. Change
    * detection is fingerprint equality, not text comparison — the
    * same md5 frame [[DedupOps.qCrawlDelta]] ships. */
  def qNbRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = nbPrevModelStored(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"),
        DedupOps.prevTextExpr.as("p_text"))
      .withColumn("in_prev", col("doc_id") % 10 =!= 9)
      .withColumn("in_cur", col("doc_id") % 10 =!= 0)
      .withColumn("changed",
        col("in_prev") && col("in_cur") &&
          md5(col("p_text").cast("binary")) =!= md5(col("text").cast("binary")))
    val plus = docs
      .filter(col("in_cur") && (!col("in_prev") || col("changed")))
      .select(col("source"), explode(split(col("text"), " ")).as("tk"),
        lit(1L).as("sgn"))
    val minus = docs
      .filter(col("in_prev") && (!col("in_cur") || col("changed")))
      .select(col("source"), explode(split(col("p_text"), " ")).as("tk"),
        lit(-1L).as("sgn"))
    val delta = plus.unionByName(minus)
      .groupBy(col("tk"))
      .agg(sum(when(curatedPred, col("sgn")).otherwise(0L)).as("dcp"),
        sum(when(curatedPred, lit(0L)).otherwise(col("sgn"))).as("dcq"))
    nbPatch(prev, delta)
  }

  /** The patch join itself — frozen (tk, cp, cq) counts + signed
    * (tk, dcp, dcq) deltas, vocabulary-keyed full outer so tokens may
    * both ARRIVE (delta-only rows) and RETIRE (counts reaching zero
    * are filtered out, exactly as a from-scratch rebuild would never
    * see them). Factored out of [[qNbRefresh]] so the retirement /
    * arrival edge cases are unit-testable on a synthetic fixture —
    * the shared corpus's closed vocabulary never exercises them. */
  private[graft] def nbPatch(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.join(delta, Seq("tk"), "full_outer")
      .select(col("tk"),
        (coalesce(col("cp"), lit(0L)) + coalesce(col("dcp"), lit(0L))).as("cp"),
        (coalesce(col("cq"), lit(0L)) + coalesce(col("dcq"), lit(0L))).as("cq"))
      .filter(col("cp") + col("cq") > 0)

  /** From-scratch NB counts over the CURRENT crawl snapshot — what
    * the patch must reproduce exactly. */
  val qNbRefreshOracle: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tk
      |  FROM documents WHERE doc_id % 10 != 0)
      |SELECT tk,
      |  CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS cp,
      |  CAST(SUM(CASE WHEN source IN ('src0','src1','src2') THEN 0 ELSE 1 END)
      |    AS BIGINT) AS cq
      |FROM tok GROUP BY 1 ORDER BY tk""".stripMargin

  /** TARGET unigram LM for importance resampling: trained on the
    * curated sources only, stored durably next to the raw corpus LM
    * ([[lmStored]]); meta carries the target mass and the RAW
    * vocabulary size (the smoothing denominator both models share).
    * Mirrors CCNet/DSIR's arrangement: the target model comes from a
    * small trusted corpus, the raw model from everything. */
  private[graft] def lmCuratedStored(spark: SparkSession, sfDir: String)
      : (DataFrame, Long, Long) = {
    val (dir, meta) = graft.Artifacts.getOrBuildMeta(
        spark, sfDir, "unigram_lm_curated") { d =>
      QueryScope.eager(spark) { scope =>
        val tf = Tables.documents(spark, sfDir)
          .filter(curatedPred)
          .select(explode(split(col("text"), " ")).as("tk"))
          .groupBy(col("tk")).agg(count(lit(1)).as("ct"))
          .transform(scope.persist)
        tf.write.parquet(d)
        val n = tf.agg(sum(col("ct"))).head.getLong(0)
        val v = lmStored(spark, sfDir)._1.count()
        s"$n,$v"
      }
    }
    val Array(n, v) = meta.trim.split(",").map(_.toLong)
    (Tables.parquet(spark, dir), n, v)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_oov_rate" -> (qOovRate _),
    "text_url_parse" -> (qUrlParse _),
    "text_langid_confusion" -> (qLangIdConfusion _),
    "text_vocab_growth" -> (qVocabGrowth _),
    "text_collocations" -> (qCollocations _),
    "text_boilerplate" -> (qBoilerplate _),
    "text_heavy_hitters" -> (qHeavyHitters _),
    "text_novelty" -> (qNovelty _),
    "text_bpe_learn" -> (qBpeLearn _),
    "text_lm_score" -> (qLmScore _),
    "text_pack_sequences" -> (qPackSequences _),
    "text_char_entropy" -> (qCharEntropy _),
    "text_token_stats" -> (qTokenStats _),
    "text_langid" -> (qLangId _),
    "text_fingerprint" -> (qFingerprint _),
    "text_term_freq" -> (qTermFreq _),
    "text_bpe_tokens" -> (qBpeTokens _),
    "text_rolling_hash" -> (qRollingHash _),
    "text_quality_pipeline" -> (qQualityPipeline _),
    "text_repetition" -> (qRepetition _),
    "text_pii_redact" -> (qPiiRedact _),
    "text_chunking" -> (qChunking _),
    "text_tfidf" -> (qTfidf _),
    "text_tfidf_stored" -> (qTfidfStored _),
    "text_bm25" -> (qBm25 _),
    "text_bm25_stored" -> (qBm25Stored _),
    "text_bm25_rm3" -> (qBm25Rm3 _),
    "text_ql_dirichlet" -> (qQlDirichlet _),
    "text_rank_eval" -> (qTextRankEval _),
    "text_rank_eval_stratum" -> (qTextRankEvalStratum _),
    "text_lm_score_stored" -> (qLmScoreStored _),
    "text_lm_bigram" -> (qLmBigram _),
    "text_lm_bigram_stored" -> (qLmBigramStored _),
    "text_zipf_fit" -> (qZipfFit _),
    "text_fertility" -> (qFertility _),
    "text_lm_backoff" -> (qLmBackoff _),
    "text_lm_kn" -> (qLmKneserNey _),
    "text_lm_kn_stored" -> (qLmKneserNeyStored _),
    "text_nb_quality" -> (qNbQuality _),
    "text_nb_quality_stored" -> (qNbQualityStored _),
    "text_nb_auc" -> (qNbAuc _),
    "text_nb_confusion" -> (qNbConfusion _),
    "text_nb_refresh" -> (qNbRefresh _),
    "text_nb_conformal" -> (qNbConformal _),
    "text_gopher_rules" -> (qGopherRules _),
    "text_k_anonymity" -> (qKAnonymity _))

  val oracles: Map[String, String] = Map(
    "text_oov_rate" -> qOovRateOracle,
    "text_url_parse" -> qUrlParseOracle,
    "text_langid_confusion" -> qLangIdConfusionOracle,
    "text_vocab_growth" -> qVocabGrowthOracle,
    "text_collocations" -> qCollocationsOracle,
    "text_boilerplate" -> qBoilerplateOracle,
    "text_heavy_hitters" -> qHeavyHittersOracle,
    "text_novelty" -> qNoveltyOracle,
    "text_bpe_learn" -> qBpeLearnOracle,
    "text_lm_score" -> qLmScoreOracle,
    "text_pack_sequences" -> qPackSequencesOracle,
    "text_char_entropy" -> qCharEntropyOracle,
    "text_token_stats" -> qTokenStatsOracle,
    "text_langid" -> qLangIdOracle,
    "text_fingerprint" -> qFingerprintOracle,
    "text_term_freq" -> qTermFreqOracle,
    "text_bpe_tokens" -> qBpeTokensOracle,
    "text_rolling_hash" -> qRollingHashOracle,
    "text_quality_pipeline" -> qQualityPipelineOracle,
    "text_repetition" -> qRepetitionOracle,
    "text_pii_redact" -> qPiiRedactOracle,
    "text_chunking" -> qChunkingOracle,
    "text_tfidf" -> qTfidfOracle,
    "text_tfidf_stored" -> qTfidfOracle,
    "text_bm25" -> qBm25Oracle,
    // the stored twin shares the self-contained oracle VERBATIM: the
    // artifact is the same df mining pass materialized
    "text_bm25_stored" -> qBm25Oracle,
    "text_bm25_rm3" -> qBm25Rm3Oracle,
    "text_ql_dirichlet" -> qQlDirichletOracle,
    "text_rank_eval" -> qTextRankEvalOracle,
    "text_rank_eval_stratum" -> qTextRankEvalStratumOracle,
    "text_lm_score_stored" -> qLmScoreOracle,
    "text_lm_bigram" -> qLmBigramOracle,
    "text_lm_bigram_stored" -> qLmBigramOracle,
    "text_zipf_fit" -> qZipfFitOracle,
    "text_fertility" -> qFertilityOracle,
    "text_lm_backoff" -> qLmBackoffOracle,
    "text_lm_kn" -> qLmKneserNeyOracle,
    "text_lm_kn_stored" -> qLmKneserNeyOracle,
    "text_nb_quality" -> qNbQualityOracle,
    "text_nb_quality_stored" -> qNbQualityOracle,
    "text_nb_auc" -> qNbAucOracle,
    "text_nb_confusion" -> qNbConfusionOracle,
    "text_nb_refresh" -> qNbRefreshOracle,
    "text_nb_conformal" -> qNbConformalOracle,
    "text_gopher_rules" -> qGopherRulesOracle,
    "text_k_anonymity" -> qKAnonymityOracle)
}
