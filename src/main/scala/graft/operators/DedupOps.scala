package graft.operators

import graft.{Artifacts, QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deduplication operators for training-data pipelines (north star,
  * BASELINE.json:6): exact hash dedup, n-gram Jaccard similarity,
  * MinHash+LSH near-dup detection, SimHash clustering, and
  * embedding-cosine near-dup — over the driver's `documents` /
  * `embeddings` tables.
  *
  * Scale design (the part that matters at 100 TB):
  *   - Exact dedup is one hash-shuffle on the fingerprint — optimal.
  *   - Jaccard pairs use the INVERTED-INDEX join (explode shingles,
  *     self-join on shingle, count per pair): cost is Σ_s |docs(s)|²
  *     over shared shingles only, never the O(n²) cross join. Stop-
  *     shingle removal (drop shingles above a document-frequency cap)
  *     bounds the quadratic term under skew — same idea as salting.
  *   - MinHash+LSH replaces even that with O(n·bands) bucket joins:
  *     candidates are pairs agreeing on ≥1 of 4 bands of 3 hashes
  *     (catches Jaccard ≳ 0.5 w.h.p.), then only candidates pay the
  *     exact-Jaccard verification. This is THE shape for 100 TB dedup.
  *   - All hash functions are md5-derived so the DuckDB oracle can
  *     reproduce them bit-for-bit (no engine-private hash).
  */
object DedupOps {

  /** Distinct word-3-gram shingles of a pre-split token array column —
    * THE shingle definition, shared by the batch dedup family and the
    * streaming contamination twin so the two can never drift (and the
    * DuckDB oracle CTE mirrors exactly one expression). The caller
    * guards `size(toks) >= 3` (an unguarded `sequence(0, size-3)` is
    * invalid for shorter docs). */
  def shingleArray(toks: Column): Column =
    array_distinct(transform(
      sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ",
        element_at(toks, i + 1),
        element_at(toks, i + 2),
        element_at(toks, i + 3))))

  /** Tokenize `text` and explode its distinct 3-gram shingles,
    * preserving every other column — the FULL shingle definition
    * (split-on-space tokenizer + the size≥3 guard + [[shingleArray]])
    * in one place, shared by the batch family and the streaming
    * contamination twin so neither half can drift. */
  def shingled(df: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    df.withColumn("toks", toks)
      .filter(size(col("toks")) >= 3)
      .withColumn("shingle", explode(shingleArray(col("toks"))))
      .drop("toks", "text")
  }

  /** Distinct word-3-gram shingles per document, one row per
    * (doc_id, shingle). `array_distinct` runs BEFORE the explode, so
    * per-doc dedup is map-side — the shuffleless way. */
  def shingles(docs: DataFrame): DataFrame =
    shingled(Tables.spread(docs).select(col("doc_id"), col("text")))

  /** Shared oracle CTE: distinct 3-gram shingles (1-indexed lists). */
  private[operators] val shinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      |       unnest(generate_series(1, len(ts)-2)) AS u(g))""".stripMargin

  /** Exact-Jaccard pairs from a (doc_id, shingle) relation: inverted-
    * index join + per-pair intersection count. Returns
    * (a_id, b_id, inter, jaccard).
    *
    * CACHE LIFECYCLE: the persisted shingle relation is released by
    * this helper's own [[QueryScope]] as soon as the first action over
    * the returned pairs completes — no caller-side clearCache contract.
    * A caller that persisted `sh0` itself keeps owning that entry. */
  def jaccardPairs(sh0: DataFrame): DataFrame = QueryScope(sh0.sparkSession) { scope =>
    // sh feeds the per-doc counts and BOTH sides of the inverted-index
    // self-join — persist so the (exploded) relation is computed once
    val sh = scope.persist(sh0)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(counts.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
  }

  // ---- 1. exact dedup ----

  /** Exact dedup over a simulated re-crawl (corpus unioned with itself
    * under shifted ids): group by content hash, keep the smallest id as
    * canonical. One shuffle on the 128-bit fingerprint — at 100 TB this
    * is a single hash-partitioned pass; the min-id choice makes the
    * canonical pick deterministic under any partitioning. */
  def qDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val recrawl = d.withColumn("doc_id", col("doc_id") + lit(10000L))
    val all = d.unionByName(recrawl)
      .withColumn("fingerprint", md5(col("text").cast("binary")))
    all
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .select("doc_id", "fingerprint", "canonical_id", "is_dup")
  }

  val qDedupExactOracle: String =
    """WITH allc AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000, text FROM documents),
      |fp AS (SELECT doc_id, md5(text) AS fingerprint FROM allc)
      |SELECT doc_id, fingerprint,
      |  min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id,
      |  CAST(doc_id != min(doc_id) OVER (PARTITION BY fingerprint) AS INT) AS is_dup
      |FROM fp ORDER BY doc_id""".stripMargin

  /** PARAGRAPH-LEVEL corpus dedup — the CCNet preprocessing step
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", §3: paragraphs are hashed and
    * every DUPLICATED paragraph is dropped from every document —
    * no canonical copy survives, unlike [[qDedupExact]]'s min-id
    * election; that is how CCNet strips boilerplate that full-document
    * dedup can't see). Distinct from [[qDedupSubstring]], which mines
    * PAIRWISE k-token overlaps between specific documents: here the
    * unit is the paragraph and the signal is its CORPUS-WIDE frequency.
    *
    * The corpus has no newline structure, so the paragraph is the
    * deterministic stand-in every engine can reproduce: consecutive
    * non-overlapping 20-token windows (the [[TextOps.qChunking]]
    * slice discipline with stride = size). Per document: paragraph
    * count, duplicated-paragraph count and rate, and the md5 of the
    * text REASSEMBLED from surviving paragraphs in order — exact-copy
    * documents lose every paragraph and reassemble to the empty
    * string, which the fixture exercises.
    *
    * Scale shape: ONE explode (docs → paragraphs, a ~size/20 fan-out,
    * not the shingle family's per-token one), a paragraph-hash groupBy
    * with map-side combine, one hash-keyed equi-join back, and a
    * per-doc rollup whose reassembly is a sort_array over that doc's
    * own kept paragraphs (per-doc state bounded by doc length, never
    * corpus-sized). The paragraph relation persists across its two
    * consumers ([[qDedupJaccard]]'s cache discipline). */
  def qDedupParagraphs(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val P = 20
    val paras = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), floor((size(col("ts")) - 1) / P).cast("int")))
          .as("pid"))
      .select(col("doc_id"), col("pid"),
        array_join(slice(col("ts"), col("pid") * P + 1, lit(P)), " ").as("ptext"))
      .withColumn("h", md5(col("ptext").cast("binary")))
      .transform(scope.persist)
    val freq = paras.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    paras.join(freq, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_paras"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("cnt") === 1,
            struct(col("pid"), col("ptext"))))),
          s => s.getField("ptext")), " ").cast("binary")).as("kept_md5"))
      .withColumn("dup_rate_r",
        round(col("n_dup_paras") / col("n_paras").cast(DoubleType), 6))
      .select("doc_id", "n_paras", "n_dup_paras", "dup_rate_r", "kept_md5")
  }

  val qDedupParagraphsOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pp AS (SELECT doc_id, g AS pid,
      |    array_to_string(ts[g*20 + 1 : least(g*20 + 20, len(ts))], ' ')
      |      AS ptext
      |  FROM d, unnest(generate_series(0,
      |    CAST(floor((len(ts) - 1) / 20) AS BIGINT))) AS u(g)),
      |h AS (SELECT doc_id, pid, ptext, md5(ptext) AS h FROM pp),
      |f AS (SELECT h, COUNT(*) AS cnt FROM h GROUP BY 1),
      |j AS (SELECT doc_id, pid, ptext, cnt FROM h JOIN f USING (h))
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_paras,
      |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_paras,
      |  round(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) /
      |    CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate_r,
      |  md5(COALESCE(string_agg(CASE WHEN cnt = 1 THEN ptext END, ' '
      |    ORDER BY pid), '')) AS kept_md5
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** URL CANONICALIZATION DEDUP — the crawl-frontier dedup that runs
    * BEFORE any content fetch: the same page arrives under http/https,
    * with/without `www.`, mixed host case, a trailing slash, tracking
    * params (`utm_*`), and fragments. The canonicalizer folds all six
    * (lowercase → drop fragment → drop tracking query → drop scheme →
    * drop `www.` → drop trailing slash; every regex is RE2-safe and
    * anchored/single-match so both engines replace identically), then
    * elects min-doc_id per canonical key. URLs are synthesized
    * deterministically from (doc_id, source) — same discipline as
    * [[graft.operators.TextOps.qUrlParse]] — with page id
    * `doc_id % 50` so genuine collisions exist under every noise
    * combination. Scale: the derivation and canonicalization are pure
    * map-side; the only shuffle is the hash partition on the
    * canonical key (two scalar window aggregates over it — a
    * mega-duplicated URL makes a hot partition, at which point the
    * same stats come from a groupBy + broadcast join instead; the
    * per-key state is two longs either way). */
  def qUrlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = col("doc_id")
    val hostRaw = concat(
      when(d % 7 === 0, "WWW.").when(d % 5 === 0, "www.").otherwise(""),
      col("source"), lit(".example."),
      when(length(col("source")) % 2 === 0, "com").otherwise("org"))
    val host = when(d % 11 === 0, upper(hostRaw)).otherwise(hostRaw)
    val url = concat(
      when(d % 10 < 8, "https").otherwise("http"), lit("://"), host,
      lit("/p/"), (d % 50).cast("string"),
      when(d % 2 === 0, "/").otherwise(""),
      when(d % 3 === 0,
        concat(lit("?utm_source="), (d % 4).cast("string"))).otherwise(""),
      when(d % 6 === 0,
        concat(lit("#s"), (d % 5).cast("string"))).otherwise(""))
    val canonical = Seq[Column => Column](
      lower(_),
      regexp_replace(_, "#.*$", ""),
      regexp_replace(_, "\\?utm_[a-z_]+=[^#]*", ""),
      regexp_replace(_, "^https?://", ""),
      regexp_replace(_, "^www\\.", ""),
      regexp_replace(_, "/$", ""))
      .foldLeft(col("url"))((c, f) => f(c))
    val byCanon = Window.partitionBy(col("canonical"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), url.as("url"))
      .withColumn("canonical", canonical)
      .withColumn("group_size", count(lit(1)).over(byCanon))
      .withColumn("is_keeper", d === min(d).over(byCanon))
  }

  val qUrlCanonicalOracle: String =
    """WITH h0 AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 7 = 0 THEN 'WWW.'
      |          WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END) ||
      |    source || '.example.' ||
      |    (CASE WHEN len(source) % 2 = 0 THEN 'com' ELSE 'org' END) AS hraw
      |  FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 10 < 8 THEN 'https' ELSE 'http' END) || '://' ||
      |    (CASE WHEN doc_id % 11 = 0 THEN upper(hraw) ELSE hraw END) ||
      |    '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN '?utm_source=' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END) ||
      |    (CASE WHEN doc_id % 6 = 0
      |          THEN '#s' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
      |  FROM h0),
      |c AS (
      |  SELECT doc_id, url,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(lower(url), '#.*$', ''),
      |      '\?utm_[a-z_]+=[^#]*', ''), '^https?://', ''),
      |      '^www\.', ''), '/$', '') AS canonical
      |  FROM u)
      |SELECT doc_id, url, canonical,
      |  COUNT(*) OVER (PARTITION BY canonical) AS group_size,
      |  doc_id = MIN(doc_id) OVER (PARTITION BY canonical) AS is_keeper
      |FROM c ORDER BY doc_id""".stripMargin

  /** The PREVIOUS snapshot's text projection: docs `% 7 == 3` lose
    * their last token (the simulated content drift), the rest are
    * verbatim. Shared by the fingerprint projection ([[crawlPrev]])
    * and the previous-snapshot signature index
    * ([[qDedupDeltaClassify]]). */
  private[graft] def prevTextExpr: Column =
    when(col("doc_id") % 7 === 3,
        array_join(slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 1), " "))
      .otherwise(col("text"))

  /** The previous snapshot as a (doc_id, text) doc slice. */
  private[graft] def prevSnapshotDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), prevTextExpr.as("text"))

  /** The simulated PREVIOUS-crawl snapshot projection
    * (doc_id, source, fp) — shared by [[qCrawlDelta]] and the
    * streaming crawl-delta twin's replay spec so the two can never
    * drift on the text derivation. */
  private[graft] def crawlPrev(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), col("source"),
        md5(prevTextExpr.cast("binary")).as("fp"))

  /** The simulated CURRENT-crawl snapshot projection — see
    * [[crawlPrev]]. */
  private[graft] def crawlCur(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("fp"))

  /** CRAWL DELTA — the corpus-versioning report every recrawl
    * pipeline publishes (and the input to incremental reprocessing
    * decisions: only `added`+`changed` docs re-enter the dedup/
    * tokenize stages): a full-outer fingerprint join of two crawl
    * snapshots classifies every doc_id as added / removed / changed /
    * unchanged, rolled up per source with an integer churn ppm.
    *
    * Snapshot simulation (the driver ships one `documents` table):
    * the PREVIOUS crawl misses ids ≡ 9 (mod 10) (those are this
    * crawl's additions), the CURRENT crawl misses ids ≡ 0 (mod 10)
    * (removals), and ids ≡ 3 (mod 7) lost their final token between
    * crawls (edits) — all SQL-expressible so the oracle is exact. In
    * production the two sides are separate snapshot tables; the plan
    * shape is the honest one for that: two map-side fingerprint
    * projections, ONE equi-join shuffle on doc_id (no windows, no
    * content comparison beyond the 128-bit fp), then a source-sized
    * rollup. Churn compares fingerprints WITHIN each engine, so no
    * cross-engine md5 parity is even required — only the text
    * derivations must agree (token-slice formula, identical both
    * sides). */
  def qCrawlDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = crawlPrev(spark, sfDir)
      .select(col("doc_id"), col("source").as("p_source"),
        col("fp").as("p_fp"))
    val cur = crawlCur(spark, sfDir)
      .select(col("doc_id"), col("source").as("c_source"),
        col("fp").as("c_fp"))
    prev.join(cur, Seq("doc_id"), "full_outer")
      .select(coalesce(col("c_source"), col("p_source")).as("source"),
        when(col("p_fp").isNull, "added")
          .when(col("c_fp").isNull, "removed")
          .when(col("p_fp") =!= col("c_fp"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        sum((col("status") === "added").cast("long")).as("n_added"),
        sum((col("status") === "removed").cast("long")).as("n_removed"),
        sum((col("status") === "changed").cast("long")).as("n_changed"),
        sum((col("status") === "unchanged").cast("long")).as("n_unchanged"))
      .withColumn("churn_ppm", expr(
        "(n_added + n_removed + n_changed) * 1000000 DIV " +
          "(n_added + n_removed + n_changed + n_unchanged)"))
  }

  val qCrawlDeltaOracle: String =
    """WITH d AS (
      |  SELECT doc_id, source, text, string_split(text, ' ') AS ts
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 7 = 3
      |             THEN array_to_string(ts[1:len(ts)-1], ' ')
      |             ELSE text END) AS fp
      |  FROM d WHERE doc_id % 10 != 9),
      |c AS (
      |  SELECT doc_id, source, md5(text) AS fp
      |  FROM d WHERE doc_id % 10 != 0),
      |j AS (
      |  SELECT COALESCE(c.source, p.source) AS source,
      |    CASE WHEN p.fp IS NULL THEN 'added'
      |         WHEN c.fp IS NULL THEN 'removed'
      |         WHEN p.fp != c.fp THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM p FULL OUTER JOIN c USING (doc_id)),
      |a AS (
      |  SELECT source,
      |    SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS n_added,
      |    SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS n_removed,
      |    SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS n_changed,
      |    SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS n_unchanged
      |  FROM j GROUP BY 1)
      |SELECT source, CAST(n_added AS BIGINT) AS n_added,
      |  CAST(n_removed AS BIGINT) AS n_removed,
      |  CAST(n_changed AS BIGINT) AS n_changed,
      |  CAST(n_unchanged AS BIGINT) AS n_unchanged,
      |  CAST((n_added + n_removed + n_changed) * 1000000 //
      |    (n_added + n_removed + n_changed + n_unchanged) AS BIGINT)
      |    AS churn_ppm
      |FROM a ORDER BY source""".stripMargin

  // ---- 2. n-gram Jaccard near-dup ----

  /** All document pairs with word-3-gram Jaccard ≥ 0.1, via the
    * inverted-index join (never a cross join). */
  def qDedupJaccard(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(shingles(Tables.documents(spark, sfDir)))
      .filter(col("jaccard") >= 0.1)
      .select("a_id", "b_id", "inter", "jaccard")

  val qDedupJaccardOracle: String =
    s"""WITH $shinglesSql,
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.a_id, p.b_id, p.inter,
       |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
       |FROM pairs p
       |JOIN sc sa ON sa.doc_id = p.a_id
       |JOIN sc sb ON sb.doc_id = p.b_id
       |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1
       |ORDER BY a_id, b_id""".stripMargin

  /** Jaccard with a stop-shingle cap: shingles appearing in more than
    * `maxDf` documents are dropped before the pair join. The inverted
    * index costs Σ_s |docs(s)|² — one viral boilerplate shingle shared
    * by 1M docs is a 10¹² -pair term that the cap deletes outright.
    * This is the skew guard every web-scale dedup runs; results differ
    * from the uncapped variant by construction, so it is its own
    * query with its own oracle (same cap on both sides). */
  def qDedupJaccardCapped(spark: SparkSession, sfDir: String): DataFrame =
    cappedJaccardPairs(spark, sfDir)
      .select("a_id", "b_id", "inter", "jaccard")

  /** Matched capped-jaccard pairs, UNSORTED (row order is unspecified
    * everywhere since r16 — the driver compare is order-insensitive) —
    * shared by the query above and the clustering edge miner, where a
    * global sort feeding a groupBy would be dead weight in the
    * materialized edge relation. */
  def cappedJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val maxDf = 20
    // persisted: sh feeds the document-frequency agg AND the join that
    // filters to rare shingles — one explode instead of two
    val sh = shingles(Tables.documents(spark, sfDir))
      .transform(scope.persist)
    val rare = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    val kept = sh.join(rare, "shingle")
    jaccardPairs(kept).filter(col("jaccard") >= 0.1)
  }

  /** ASYMMETRIC CONTAINMENT near-dup (Broder 1997's containment
    * coefficient — the quote/excerpt detector): C(a→b) =
    * |S_a ∩ S_b| / |S_a| flags a document MOSTLY CONTAINED in another
    * even when Jaccard is tiny (a 100-word quote inside a 10k-word
    * page: C ≈ 1, J ≈ 0.01 — symmetric dedup never sees it). Emits
    * ordered (src → dst) pairs with C(src→dst) ≥ 0.6 and ≥ 5 src
    * shingles of evidence; `is_mutual` marks pairs contained in both
    * directions (≈ the exact-dup cores).
    *
    * Scale shape: IDENTICAL machinery to the capped Jaccard path —
    * DF-capped shingles (the skew guard), ONE inverted-index
    * equi-join producing each unordered pair once, then both ordered
    * directions emitted from the same row (an in-row explode, not a
    * second join). The 0.6 gate is the integer compare 5·inter ≥
    * 3·n_src; the emitted ratio is one IEEE division of two small
    * ints — deterministic in both engines. */
  def qDedupContainment(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val maxDf = 20
    val sh = shingles(Tables.documents(spark, sfDir))
      .transform(scope.persist)
    val rare = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("shingle")
    val kept = sh.join(rare, "shingle")
      .transform(scope.persist)
    val counts = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(counts.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(counts.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
    pairs.select(explode(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          col("na").as("n_src"), col("nb").as("n_dst"), col("inter")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          col("nb").as("n_src"), col("na").as("n_dst"), col("inter"))))
        .as("p"))
      .select(col("p.*"))
      .filter(col("n_src") >= 5 && lit(5L) * col("inter") >= lit(3L) * col("n_src"))
      .withColumn("containment", col("inter").cast(DoubleType) / col("n_src"))
      .withColumn("is_mutual",
        col("n_dst") >= 5 && lit(5L) * col("inter") >= lit(3L) * col("n_dst"))
  }

  val qDedupContainmentOracle: String =
    s"""WITH $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |wide AS (
       |  SELECT p.a_id, p.b_id, p.inter, sa.n AS na, sb.n AS nb
       |  FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id),
       |directed AS (
       |  SELECT a_id AS src_id, b_id AS dst_id, na AS n_src, nb AS n_dst, inter FROM wide
       |  UNION ALL
       |  SELECT b_id, a_id, nb, na, inter FROM wide)
       |SELECT src_id, dst_id, n_src, n_dst, inter,
       |  CAST(inter AS DOUBLE) / n_src AS containment,
       |  (n_dst >= 5 AND 5 * inter >= 3 * n_dst) AS is_mutual
       |FROM directed
       |WHERE n_src >= 5 AND 5 * inter >= 3 * n_src
       |ORDER BY src_id, dst_id""".stripMargin

  val qDedupJaccardCappedOracle: String =
    s"""WITH $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.a_id, p.b_id, p.inter,
       |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
       |FROM pairs p
       |JOIN sc sa ON sa.doc_id = p.a_id
       |JOIN sc sb ON sb.doc_id = p.b_id
       |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1
       |ORDER BY a_id, b_id""".stripMargin

  // ---- 3. MinHash + LSH ----

  private val NumHashes = 12
  private val BandSize = 3 // → 4 bands; catches jaccard ≳ 0.5 w.h.p.
  /** Per-document shingle-set cap for the LSH verification row width. */
  val MaxShinglesPerDoc = 100000L

  /** MinHash signatures: for seed j in [0,12), min over shingles of
    * md5(j:shingle). The min-of-md5-hex-string IS a valid minhash (any
    * consistent total order works); md5 keeps it oracle-reproducible.
    *
    * Plan shape: all 12 seeded hashes are computed map-side as columns
    * and reduced by ONE groupBy(doc_id) carrying 12 min-aggregates —
    * not an explode to (doc_id, seed) rows, which would shuffle 12× the
    * data for the same answer. Band keys then fan out 4 rows per doc
    * from the aggregated signature (4 rows/doc is nothing; 12 rows per
    * SHINGLE was the expensive version). */
  def minhashBands(sh: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(j =>
      min(seedHash(j, col("shingle"))).as(s"m$j"))
    bandsAt(sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*), BandSize)
  }

  /** Seed j's hash of a shingle: md5(j:shingle). */
  private def seedHash(j: Int, shingle: Column): Column =
    md5(concat(lit(j.toString), lit(":"), shingle).cast("binary"))

  /** The (band, bkey) structs of a signature whose j-th minimum is
    * `m(j)`, r rows per band. */
  private def bandStructs(r: Int, m: Int => Column): Seq[Column] =
    (0 until NumHashes / r).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until r).map(i => m(b * r + i)): _*)
          .cast("binary")).as("bkey"))
    }

  /** [[minhashBands]]' band structs for a distinct-shingle ARRAY
    * column, the signature computed map-side as `array_min` over the
    * array (a per-doc min is order-free, so the md5 strings are
    * identical): the shape a stream needs, with no stateful shuffle
    * before the band join. */
  private[graft] def minhashBandArray(sh: Column): Column =
    array(bandStructs(BandSize,
      j => array_min(transform(sh, s => seedHash(j, s)))): _*)

  /** Band keys for an arbitrary rows-per-band r over the SAME
    * 12-permutation signature — the generalization [[minhashBands]]
    * (r = [[BandSize]]) instantiates; shared by the tuning sweep. */
  private def bandsAt(sig: DataFrame, r: Int): DataFrame =
    sig.select(col("doc_id"),
        explode(array(bandStructs(r, j => col(s"m$j")): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

  /** LSH BAND-TUNING SWEEP — the cost/selectivity table an index
    * operator reads before fixing (bands × rows): for each rows-per-
    * band r ∈ {2,3,4,6} over the SAME 12-permutation signatures,
    * the candidate-pair count the band join generates, how many
    * survive exact-Jaccard verification (≥ 0.1), and the precision in
    * integer ppm. Small r → more, looser bands → more candidates
    * (higher recall, lower precision, more verification cost); the
    * sweep quantifies that trade on the actual corpus instead of the
    * textbook S-curve. The production config (r = 3) is one of the
    * rows, so the sweep also regression-guards `dedup_minhash_lsh`'s
    * geometry.
    *
    * Scale shape: ONE signature pass is shared by all configs (the
    * 12 minima are computed once and persisted); each config adds a
    * band equi-join and a verification join BOUNDED BY ITS OWN
    * candidate count — the sweep never joins corpus × corpus. */
  def qDedupLshBandTuning(spark: SparkSession, sfDir: String): DataFrame = QueryScope.eager(spark) { scope =>
    import spark.implicits._
    val sh = scope.persist(shingles(Tables.documents(spark, sfDir)))
    val mins = (0 until NumHashes).map(j =>
      min(seedHash(j, col("shingle"))).as(s"m$j"))
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .transform(scope.persist)
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("ss"), count(lit(1)).as("n"))
      .transform(scope.persist)
    // r16 optimization round: ONE job for the whole sweep. The old
    // shape ran 2 count() actions per config (8 jobs, plus a persist
    // per candidate set); but (a) the verification join is TOTAL on
    // the candidate set (sig and sets group the same sh relation, so
    // every candidate doc_id hits both joins) — candidate count and
    // verified count can come from one aggregate over the joined
    // relation — and (b) the four configs are independent branches
    // over the same cached sig/sets, so they union into a single
    // 4-row collect. Identical counts, 8 jobs → 1, no per-config
    // persist.
    val perConf = Seq(2, 3, 4, 6).map { r =>
      val bands = bandsAt(sig, r)
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
        .join(sets.select(col("doc_id").as("a_id"), col("ss").as("sa"), col("n").as("na")), "a_id")
        .join(sets.select(col("doc_id").as("b_id"), col("ss").as("sb"), col("n").as("nb")), "b_id")
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
        .agg(count(lit(1)).as("nc"),
          count(when(col("inter").cast(DoubleType) /
            (col("na") + col("nb") - col("inter")) >= 0.1, lit(1))).as("nv"))
        .select(lit(r).as("r"), col("nc"), col("nv"))
    }
    val swept = perConf.reduce(_.unionByName(_)).collect()
      .map(row => row.getInt(0) -> (row.getLong(1), row.getLong(2))).toMap
    val rows = Seq(2, 3, 4, 6).map { r =>
      val (nCand, nVer) = swept(r)
      (r, NumHashes / r, nCand, nVer,
        if (nCand == 0) 0L else nVer * 1000000L / nCand)
    }
    rows.toDF("rows_per_band", "n_bands", "n_candidates", "n_verified",
        "precision_ppm")
  }

  /** The minhash oracle's signature CTE swept over the four band
    * geometries. */
  val qDedupLshBandTuningOracle: String = {
    def cfg(r: Int): String =
      s"""SELECT $r AS rows_per_band, ${NumHashes / r} AS n_bands,
         |  (SELECT COUNT(*) FROM cand$r) AS n_candidates,
         |  (SELECT COUNT(*) FROM ver$r) AS n_verified""".stripMargin
    def candCte(r: Int): String =
      s"""bk$r AS (
         |  SELECT doc_id, seed // $r AS band,
         |    md5(string_agg(minh, ',' ORDER BY seed)) AS bkey
         |  FROM mh GROUP BY doc_id, seed // $r),
         |cand$r AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bk$r a JOIN bk$r b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |ver$r AS (
         |  SELECT c.a_id, c.b_id FROM cand$r c
         |  JOIN sc sa ON sa.doc_id = c.a_id
         |  JOIN sc sb ON sb.doc_id = c.b_id
         |  JOIN (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS inter
         |        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |        GROUP BY 1, 2) i ON i.a_id = c.a_id AND i.b_id = c.b_id
         |  WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.1)""".stripMargin
    s"""WITH $shinglesSql,
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |mh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM sh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |${Seq(2, 3, 4, 6).map(candCte).mkString(",\n")}
       |SELECT rows_per_band, n_bands,
       |  CAST(n_candidates AS BIGINT) AS n_candidates,
       |  CAST(n_verified AS BIGINT) AS n_verified,
       |  CAST(CASE WHEN n_candidates = 0 THEN 0
       |       ELSE n_verified * 1000000 // n_candidates END AS BIGINT)
       |    AS precision_ppm
       |FROM (${Seq(2, 3, 4, 6).map(cfg).mkString("\nUNION ALL\n")}) t
       |ORDER BY rows_per_band""".stripMargin
  }

  /** MinHash+LSH near-dup: band-bucket join → candidate pairs →
    * exact-Jaccard verification (≥ 0.1). The bucket join touches only
    * docs sharing a band key — O(n) shuffle, no quadratic blowup.
    * Verification scores ONLY the candidate pairs: each doc's distinct
    * shingle set is collected once (docs are bounded-size, so the set
    * fits a row), candidates join the two sets by id, and the
    * intersection size comes from `array_intersect` — work proportional
    * to |candidates|, never to the full pair matrix. That asymmetry is
    * the whole point of LSH at 100 TB. */
  def qDedupMinhashLsh(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    // The shingle relation feeds three consumers (band signatures, the
    // collected sets, and both sides of the bucket self-join); without
    // a persist each consumer re-explodes ~40× rows from parquet.
    // Materializing it once cuts two full scans — released by the
    // query's scope after the first action over the returned result.
    val sh = shingles(Tables.documents(spark, sfDir))
      .transform(scope.persist)
    val bands = minhashBands(sh)
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // Collected shingle sets are bounded by document length — fine for
    // web documents, but a pathological doc (a concatenated dump, a
    // binary misparse) would balloon one row past executor memory at
    // 100 TB. Fail fast with a named error instead of OOMing the
    // cluster; below the cap the result is bit-identical.
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("ss"), count(lit(1)).as("n"))
      .withColumn("ss",
        when(col("n") > lit(MaxShinglesPerDoc), raise_error(concat(
          lit(s"minhash verification: doc "), col("doc_id"),
          lit(s" has > $MaxShinglesPerDoc shingles; pre-truncate or split the document"))))
          .otherwise(col("ss")))
    candidates
      .join(sets.select(col("doc_id").as("a_id"), col("ss").as("sa"), col("n").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("ss").as("sb"), col("n").as("nb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.1)
      .select("a_id", "b_id", "jaccard")
  }

  val qDedupMinhashLshOracle: String =
    s"""WITH $shinglesSql,
       |mh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM sh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed // $BandSize AS band,
       |         md5(string_agg(minh, ',' ORDER BY seed)) AS bkey
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT c.a_id, c.b_id,
       |  CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) AS jaccard
       |FROM cand c
       |JOIN pairs p ON p.a_id = c.a_id AND p.b_id = c.b_id
       |JOIN sc sa ON sa.doc_id = c.a_id
       |JOIN sc sb ON sb.doc_id = c.b_id
       |WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1
       |ORDER BY c.a_id, c.b_id""".stripMargin

  /** LSH recall/precision audit — the health metric a production
    * near-dup pipeline watches. Ground truth is the exact
    * inverted-index Jaccard pairs (≥ 0.1, uncapped — the same truth
    * the LSH path verifies candidates against); candidates are the
    * minhash band-collision pairs. The report is ONE row: how many
    * true pairs exist, how many candidates the bands surfaced, how
    * many true pairs the bands caught (recall) and what fraction of
    * candidates were real (precision). With 12 hashes in 4 bands of
    * 3, band-collision probability is 1-(1-j³)⁴ — near-identical
    * docs (j→1) are caught w.h.p. while borderline j≈0.1 pairs are
    * mostly missed; the audit makes that engineering trade VISIBLE
    * and regression-gated instead of folklore.
    *
    * Scale shape: both inputs are pair relations bounded by the
    * inverted-index / banding discipline (never O(n²)); the confusion
    * join is a full-outer equi-join on the pair key, and the report
    * is a single global rollup of three indicator sums — bytes, not
    * data. The shingle relation is exploded ONCE (persisted) and
    * feeds the truth side and the band signatures.
    *
    * SCALE CAVEAT: the truth side is the UNCAPPED inverted-index
    * Jaccard join — one viral shingle makes it quadratic in that
    * shingle's document frequency. This exact audit is therefore the
    * FIXTURE-SCALE oracle query; the production citizen is
    * [[qDedupLshAuditStratum]], whose truth relation is bounded by a
    * deterministic document stratum IN CODE. */
  def qDedupLshAudit(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val sh = shingles(Tables.documents(spark, sfDir))
      .transform(scope.persist)
    lshAuditOn(sh)
  }

  /** Audit body over a (doc_id, shingle) relation — shared by the
    * exact audit and the stratum audit so both report the identical
    * confusion rollup. */
  private def lshAuditOn(sh: DataFrame): DataFrame = {
    val truth = jaccardPairs(sh).filter(col("jaccard") >= 0.1)
      .select(col("a_id"), col("b_id"), lit(true).as("is_truth"))
    val bands = minhashBands(sh)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
      .withColumn("is_cand", lit(true))
    truth.join(cand, Seq("a_id", "b_id"), "full_outer")
      .agg(
        sum(when(col("is_truth"), 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("is_cand"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("is_truth") && col("is_cand"), 1L).otherwise(0L)).as("n_hits"))
      .withColumn("recall_r", round(col("n_hits") / col("n_truth"), 6))
      .withColumn("precision_r", round(col("n_hits") / col("n_candidates"), 6))
  }

  /** MINHASH-ESTIMATOR CALIBRATION — the eval that justifies the
    * 12-permutation signature the whole LSH family rides on: for
    * every band-collision candidate pair, the estimated jaccard
    * (fraction of agreeing minhashes — the textbook unbiased
    * estimator) against the EXACT jaccard, rolled up per agreement
    * count. The text-side mirror of `sim_ivf_recall_curve`: one pass
    * tells an operator whether 12 permutations give the resolution
    * their dedup threshold needs, or the signature must widen.
    *
    * Scale: candidates are the band equi-join (never all pairs); the
    * signature join is doc-keyed; the truth side reuses the standard
    * inverted-index jaccard (a band collision implies a shared
    * min-shingle, so the inner truth join loses nothing); the output
    * is 13 rows. */
  def qDedupLshCalibration(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val sh = shingles(Tables.documents(spark, sfDir))
      .transform(scope.persist)
    val mins = (0 until NumHashes).map(j =>
      min(seedHash(j, col("shingle"))).as(s"m$j"))
    // r17: sig feeds THREE consumers (the r=1 bands and both sides of
    // the agreement join); unpersisted, each re-ran the 12-min
    // signature aggregation over the whole shingle relation. One
    // docs-sized persist replaces two full re-aggregations (the same
    // reasoning that already persists sig in the band-tuning sweep).
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .transform(scope.persist)
    // candidates from SINGLE-row bands (r = 1 over the same signature):
    // collisions fire at jaccard ≳ 1/12 instead of production banding's
    // ≳ 0.5, so the calibration sweeps the estimator's WHOLE range —
    // the low-agreement buckets are exactly where a threshold choice
    // needs evidence. Still an equi-join, still never all pairs.
    val b1 = bandsAt(sig, 1)
    val cand = b1.as("a")
      .join(b1.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val sigA = sig.select(col("doc_id").as("a_id") +:
      (0 until NumHashes).map(j => col(s"m$j").as(s"am$j")): _*)
    val sigB = sig.select(col("doc_id").as("b_id") +:
      (0 until NumHashes).map(j => col(s"m$j").as(s"bm$j")): _*)
    val agree = (0 until NumHashes)
      .map(j => (col(s"am$j") === col(s"bm$j")).cast("long"))
      .reduce(_ + _)
    val truth = jaccardPairs(sh).select(col("a_id"), col("b_id"), col("jaccard"))
    cand.join(sigA, "a_id").join(sigB, "b_id")
      .select(col("a_id"), col("b_id"), agree.as("n_agree"))
      .join(truth, Seq("a_id", "b_id"))
      .groupBy(col("n_agree"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("avg_true_jaccard_r"))
      .select(col("n_agree"),
        round(col("n_agree") / lit(NumHashes.toDouble), 6).as("est_jaccard_r"),
        col("n_pairs"), col("avg_true_jaccard_r"))
  }

  val qDedupLshCalibrationOracle: String =
    s"""WITH $shinglesSql,
       |mh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM sh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed AS band, md5(minh) AS bkey FROM mh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |agr AS (
       |  SELECT c.a_id, c.b_id, COUNT(*) AS n_agree
       |  FROM cand c
       |  JOIN mh x ON x.doc_id = c.a_id
       |  JOIN mh y ON y.doc_id = c.b_id AND y.seed = x.seed AND y.minh = x.minh
       |  GROUP BY 1, 2),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |iv AS (
       |  SELECT c.a_id, c.b_id, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.a_id
       |  JOIN sh y ON y.doc_id = c.b_id AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |tj AS (
       |  SELECT iv.a_id, iv.b_id,
       |    CAST(iv.inter AS DOUBLE) / (sa.n + sb.n - iv.inter) AS jaccard
       |  FROM iv
       |  JOIN sc sa ON sa.doc_id = iv.a_id
       |  JOIN sc sb ON sb.doc_id = iv.b_id)
       |SELECT agr.n_agree,
       |  round(agr.n_agree / ${NumHashes.toDouble}, 6) AS est_jaccard_r,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  round(AVG(tj.jaccard), 6) AS avg_true_jaccard_r
       |FROM agr JOIN tj USING (a_id, b_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Default stratum width for [[qDedupLshAuditStratum]]: a quarter of
    * the md5 doc-id space. On the fixture this leaves enough true
    * pairs for a stable estimate; at 100 TB the knob goes as low as
    * the corpus allows (1% of docs ≈ 0.01% of pairs). */
  val LshAuditStratumPct = 25

  /** The LSH audit a 100 TB corpus actually runs: the SAME confusion
    * rollup as [[qDedupLshAudit]], restricted to a deterministic
    * md5-bucket document stratum (the `sample_split` discipline) —
    * the bound is code, not prose. Shingling, the truth join, and the
    * band join all run on the stratum only, so the truth relation's
    * worst case is quadratic in a shingle's WITHIN-STRATUM document
    * frequency (expected pct/100 of corpus DF), and total audit cost
    * scales with (pct/100)² of the exact audit's.
    *
    * Estimator note, documented not hidden: doc-sampling observes a
    * pair only when BOTH endpoints land in the stratum (probability
    * (pct/100)²), and recall/precision are RATIO estimators over the
    * surviving pairs — consistent, with no systematic bias from the
    * sampling being independent of the banding, but noisier than the
    * full audit (the spec pins the fixture-scale agreement). */
  def qDedupLshAuditStratum(spark: SparkSession, sfDir: String): DataFrame =
    lshAuditStratum(spark, sfDir, LshAuditStratumPct)

  def lshAuditStratum(spark: SparkSession, sfDir: String, pctDocs: Int): DataFrame = QueryScope(spark) { scope =>
    require(pctDocs >= 1 && pctDocs <= 100, s"stratum pct $pctDocs not in [1,100]")
    val docs = Tables.documents(spark, sfDir)
      .filter(SamplingOps.bucket100("doc_id") < pctDocs)
    val sh = shingles(docs)
      .transform(scope.persist)
    lshAuditOn(sh)
  }

  val qDedupLshAuditOracle: String =
    s"""WITH $shinglesSql,
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT p.a_id, p.b_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |mh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM sh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed // $BandSize AS band,
       |         md5(string_agg(minh, ',' ORDER BY seed)) AS bkey
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |conf AS (
       |  SELECT t.a_id IS NOT NULL AS is_truth, c.a_id IS NOT NULL AS is_cand
       |  FROM truth t FULL OUTER JOIN cand c
       |    ON t.a_id = c.a_id AND t.b_id = c.b_id)
       |SELECT
       |  CAST(SUM(CASE WHEN is_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       |  CAST(SUM(CASE WHEN is_truth AND is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  round(CAST(SUM(CASE WHEN is_truth AND is_cand THEN 1 ELSE 0 END) AS DOUBLE)
       |        / SUM(CASE WHEN is_truth THEN 1 ELSE 0 END), 6) AS recall_r,
       |  round(CAST(SUM(CASE WHEN is_truth AND is_cand THEN 1 ELSE 0 END) AS DOUBLE)
       |        / SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 6) AS precision_r
       |FROM conf""".stripMargin

  /** Stratum-audit oracle: the exact-audit SQL with the shingle CTE's
    * document source restricted to the same md5 bucket stratum the
    * Spark side filters on (the `sample_split` bucket formulation,
    * bit-for-bit). Derived by substitution so the two audits can never
    * drift in any other clause. */
  val qDedupLshAuditStratumOracle: String = {
    val filtered = "FROM documents WHERE " +
      SamplingOps.bucket100Sql("doc_id") + s" < $LshAuditStratumPct)"
    def cnt(needle: String) =
      qDedupLshAuditOracle.sliding(needle.length).count(_ == needle)
    // every documents source must be the substitutable shape — an
    // aliased `FROM documents d` would silently shingle the full
    // corpus (r15 review, the qTextRankEvalStratumOracle discipline)
    require(cnt("FROM documents") == 1 && cnt("FROM documents)") == 1,
      "exact-audit oracle's `documents` source changed shape or count; fix the stratum substitution")
    qDedupLshAuditOracle.replace("FROM documents)", filtered)
  }

  // ---- 4. SimHash ----

  /** 16-bit SimHash per document (doc_id, simhash) — shared by the
    * exact-cluster and hamming-near-match queries.
    *
    * Plan shape: all 16 per-bit ±1 weights are partial aggregates in
    * ONE groupBy(doc_id) — the same trick as the minhash signatures.
    * The naive alternative (explode bit index 0..15 → groupBy
    * (doc_id, bit) → groupBy doc_id) shuffles 16× the token rows
    * TWICE; this shape shuffles the token relation once, with map-side
    * combine, and assembles the fingerprint from the 16 aggregated
    * weights for free. Result-identical; the oracle is unchanged. */
  // (no Tables.spread here: the token explode is cheap enough that the
  // extra exchange costs more than the parallelism buys — measured
  // 0.61 s -> 0.97 s WITH spread at sf0.1. Spread pays only where the
  // map side is heavy: shingle explode, edit-distance DP.)
  def simhashes(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tk"))
      .withColumn("hv", conv(substring(md5(col("tk").cast("binary")), 1, 4), 16, 10).cast("int"))
    val bitWeights = (0 until 16).map { b =>
      sum(expr(s"CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END")).as(s"w$b")
    }
    tok.groupBy(col("doc_id")).agg(bitWeights.head, bitWeights.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map { b =>
          when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** Per-ROW simhash: the same 16-bit fingerprint as [[simhashes]] but
    * computed as one HOF fold over the token set — no explode, no
    * shuffle, no aggregation. That makes it STREAMING-SAFE: it can sit
    * before a stateful operator (see `StatefulOps.nearDupFiltered`)
    * where an explode→groupBy signature would burn the one allowed
    * aggregation or force a multi-stateful pipeline. Batch-equivalent
    * to [[simhashes]] bit-for-bit (asserted in EventOpsSpec), because
    * both reduce the same ±1 per-(token, bit) weights; only the
    * reduction topology differs (per-row fold here, partial aggs
    * there). Token-order invariant by construction — the fingerprint
    * is a function of the distinct-token SET. */
  def simhashExpr(text: Column): Column = {
    val bits = sequence(lit(0), lit(15))
    val folded = aggregate(
      array_distinct(split(text, " ")),
      array_repeat(lit(0), 16),
      (acc, t) => {
        val h = conv(substring(md5(t.cast("binary")), 1, 4), 16, 10).cast("int")
        zip_with(acc, bits, (a, b) =>
          a + when((h / pow(lit(2.0), b)).cast("int") % 2 === 1, 1).otherwise(-1))
      })
    aggregate(
      zip_with(folded, bits, (w, b) =>
        when(w > 0, pow(lit(2.0), b).cast("long")).otherwise(lit(0L))),
      lit(0L), _ + _)
  }

  /** 16-bit SimHash per document over distinct tokens: bit b of the
    * fingerprint is the sign of Σ_tokens (±1 by bit b of md5(token)).
    * Documents sharing a fingerprint are near-dup candidates (cluster
    * key = simhash → canonical = min doc_id). At 100 TB: 64-bit
    * fingerprints + hamming-ball probing over rotated tables; the plan
    * shape (explode → two tiny-key groupBys) is identical. */
  def qDedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    simhashes(Tables.documents(spark, sfDir))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("simhash"))))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .select("doc_id", "simhash", "canonical_id", "is_dup")
  }

  val qDedupSimhashOracle: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |h AS (SELECT doc_id, CAST('0x' || substr(md5(tk), 1, 4) AS INT) AS hv FROM tok),
      |bits AS (
      |  SELECT doc_id, b.b,
      |         SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS w
      |  FROM h, (SELECT unnest(generate_series(0, 15)) AS b) b GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY 1)
      |SELECT doc_id, simhash,
      |  min(doc_id) OVER (PARTITION BY simhash) AS canonical_id,
      |  CAST(doc_id != min(doc_id) OVER (PARTITION BY simhash) AS INT) AS is_dup
      |FROM sh ORDER BY doc_id""".stripMargin

  /** SimHash NEAR-match via the pigeonhole chunk join: any pair within
    * Hamming distance ≤ 1 of a 16-bit hash must agree exactly on one
    * of its two 8-bit chunks — so candidates come from an EQUI-join on
    * (chunk_idx, chunk_value), never a quadratic bit-count scan, and
    * only candidates pay the exact Hamming verification
    * (`bit_count(xor)`). Same asymmetry as MinHash banding. Chunk
    * width sets the recall/cost trade: k chunks catch distance ≤ k-1,
    * and the candidate volume scales with n²/2^width per chunk — at
    * 64-bit hashes, 4×16-bit chunks (d ≤ 3) keep buckets sparse; this
    * 16-bit demo hash needs 8-bit chunks to stay sparse at all. */
  def qDedupSimhashHamming(spark: SparkSession, sfDir: String): DataFrame = {
    val maxHamming = 1
    val sh = simhashes(Tables.documents(spark, sfDir))
    val chunks = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(1))).as("c"))
      .withColumn("cv", expr("(simhash >> (c * 8)) & 255"))
    val cand = chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("a.simhash").as("ha"),
        col("b.doc_id").as("b_id"), col("b.simhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(expr("ha ^ hb")))
      .filter(col("hamming") <= maxHamming && col("hamming") > 0)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  val qDedupSimhashHammingOracle: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |h AS (SELECT doc_id, CAST('0x' || substr(md5(tk), 1, 4) AS INT) AS hv FROM tok),
      |bits AS (
      |  SELECT doc_id, b.b,
      |         SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS w
      |  FROM h, (SELECT unnest(generate_series(0, 15)) AS b) b GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY 1),
      |chunks AS (
      |  SELECT doc_id, simhash, c.c, (simhash >> (c.c * 8)) & 255 AS cv
      |  FROM sh, (SELECT unnest(generate_series(0, 1)) AS c) c),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, a.simhash AS ha,
      |         b.doc_id AS b_id, b.simhash AS hb
      |  FROM chunks a JOIN chunks b
      |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
      |FROM cand
      |WHERE bit_count(xor(ha, hb)) <= 1 AND bit_count(xor(ha, hb)) > 0
      |ORDER BY a_id, b_id""".stripMargin

  // ---- 5. embedding-cosine near-dup ----

  /** Embedding vectors cast to double with the L2 norm precomputed —
    * shared by the cosine operators here and in SimilarityOps. */
  def normedVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))

  /** Codegen'd sequential dot product (graft.functions.DotProduct) —
    * same left-to-right accumulation order as DuckDB's
    * list_dot_product, so results match the oracle exactly. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  /** Hard ceiling for the exact all-pairs cosine variant. Above this
    * the operator REFUSES to run: the quadratic baseline exists only
    * to verify the LSH/IVF paths, and at 100× vectors it is 10⁴× the
    * dot products — a guard beats an accidental cluster-melter. */
  val MaxExactCosineRows: Long = 1000000L

  /** Embedding near-dup pairs: cosine ≥ 0.4 over all id-ordered pairs.
    * Exact O(n²) variant — correct but quadratic; the LSH-bucketed
    * variant in SimilarityOps is the 100 TB path (this one is the
    * verification oracle for it). sf0.1 ≈ 5k vectors → 12.5M pairs of
    * 64-dim dots, fine on 32 cores; beyond that the guard trips. */
  def qDedupEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    exactCosinePairs(normedVectors(Tables.embeddings(spark, sfDir)))

  /** Guarded all-pairs cosine over a normed (vec_id, v, nrm) frame. */
  def exactCosinePairs(e: DataFrame, maxRows: Long = MaxExactCosineRows): DataFrame = {
    val n = e.count()
    require(n <= maxRows,
      s"exact all-pairs cosine refused: $n rows > $maxRows cap (~${n * n / 2} pairs). " +
        "Use the scalable paths: SimilarityOps.qSimLshBucketed (sign-LSH) or " +
        "qSimIvf (IVF cell probe); this exact variant is their verification twin.")
    val a = e.select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine_r"))
  }

  val qDedupEmbeddingOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine_r
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY a_id, b_id""".stripMargin

  // ---- 7. Dedup clusters: connected components over the pair graph ----

  /** Connected components by iterative min-label propagation — the step
    * that turns pairwise near-dup MATCHES into dedup GROUPS ("keep one
    * document per component"), which is what a training-data pipeline
    * actually executes. Each round is one shuffle: propagate every
    * node's current label across its edges, take the min per node, and
    * stop at the fixpoint. Each round also pointer-jumps
    * (label ← label(label)), so rounds needed are O(log diameter).
    *
    * This is the one component loop, and the 100 TB path: every round
    * is shuffle-hash joins and a group-min over the edge and label
    * relations, with no broadcast and no assumption that either fits
    * on one machine.
    *
    * Input: undirected edges as (a_id, b_id). Output: (node, label)
    * with label = min node id reachable, the component's canonical id.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = QueryScope(pairs.sparkSession) { scope =>
    val edgesRaw = scope.persist(undirected(pairs, "src", "dst"))
    // Right-size the loop's shuffle width from the measured edge count:
    // the near-dup pair graph is orders of magnitude smaller than the
    // corpus it was mined from, and a label relation of a few thousand
    // rows shuffled across the session's full partition count pays ~the
    // whole round in task-scheduling overhead. AQE coalesces partitions
    // exactly like this WITHIN one query, but the manual loop
    // materializes every round eagerly, so the width is chosen once
    // here (≥2 so the plan shape stays distributed; scales back up
    // linearly with real edge volume). Restored on exit; queries in
    // this session run sequentially (Bench/Verify contract).
    val spark = pairs.sparkSession
    val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nEdges = edgesRaw.count()
      val width = math.max(2L, math.min(prevWidth.toLong, nEdges / 500000L + 1L)).toInt
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      // Re-lay the cached edges at the loop width, hash-partitioned on the
      // join key: the mining plan's output partitioning (often the
      // session's full width) would otherwise bill every round a full
      // task-per-partition scan, and the cached hash partitioning on
      // `dst` is reused by each round's join (InMemoryTableScan preserves
      // outputPartitioning), so only the tiny label side shuffles.
      // SELF-LOOPS (r16 optimization round): append (node, node) for every
      // node once, at build time. Each round's min-label propagation then
      // reads the node's OWN label through the same equi-join as its
      // neighbors' — the per-round `union(labels)` branch disappears from
      // the loop entirely. +n rows on a 2m-row relation, paid once, saves
      // a union+wider shuffle every round.
      val edges = scope.persist(edgesRaw.union(
          edgesRaw.select(col("src")).distinct()
            .select(col("src"), col("src").as("dst")))
        .repartition(width, col("dst")))
      edges.count()
      scope.unpersist(edgesRaw)
      // Every round's labels are MATERIALIZED: each round reads the
      // previous round's rows instead of nesting its whole plan tree
      // (without it Catalyst re-analysis grows without bound — measured:
      // round 2 alone 50+ s on a 485-node graph; materialized, the full
      // loop is sub-second per round). The rows keep their lineage, so
      // the previous round is released as soon as the next exists. That
      // lineage also means each kept round adds stages that every later
      // job's scheduling walks, so a round runs ONE job: the signature
      // below is the action that computes and keeps the round's rows
      // (materializations are lazy, `eager = false`).
      var labels = scope.materialize(edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")), eager = false)
      // CONVERGENCE BY MONOTONE SIGNATURE (r16 optimization round): each
      // node's label is non-increasing round over round (prop takes a min
      // that includes the node's own label; path doubling substitutes a
      // label ≤ the current one), so Σ label over the constant node set is
      // strictly decreasing until the fixpoint and UNCHANGED exactly when
      // every label is unchanged — the same pointwise criterion the
      // previous `next ⋈ labels | label ≠ old | count == 0` check tested,
      // for the price of a 1-row aggregate in the job that materializes
      // the round instead of a per-round join job that re-derived `next`
      // from scratch. decimal(38,0): exact for any realistic id×n mass.
      // ADVICE r16: a null sum is Spark's non-ANSI decimal-overflow
      // result as well as the empty-relation one; mapping both to ZERO
      // could declare two consecutive overflowed rounds "converged" with
      // wrong labels. Count rows in the same 1-row aggregate and fail
      // loudly on null-sum-with-rows (unreachable until Σ label exceeds
      // 10^38, but the guard makes the convergence proof unconditional).
      def labelSig(d: DataFrame): java.math.BigDecimal = {
        val r = d.agg(sum(col("label").cast("decimal(38,0)")), count(lit(1))).head
        val v = r.getDecimal(0)
        if (v == null) {
          require(r.getLong(1) == 0L,
            "connectedComponents: label-sum signature overflowed decimal(38,0)")
          java.math.BigDecimal.ZERO
        } else v
      }
      var prevSig = labelSig(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // hash-min: pull the smallest label across every edge of the
        // closed neighborhood (self-loops carry the node's own label, so
        // no union branch is needed). Both joins of the round are
        // shuffle-hash joins: no broadcast, which would run a job of its
        // own while the round is planned, and no sort — the cached edges
        // keep their `dst` partitioning and only the label side shuffles.
        // Kept before the self-join below so it is computed once.
        val prop = scope.materialize(edges.join(labels.hint("shuffle_hash"), col("dst") === col("node"))
          .select(col("src").as("node"), col("label"))
          .groupBy("node").agg(min("label").as("label")), eager = false)
        // path doubling: label ← label(label), the map composed with
        // ITSELF (composing with a fixed pre-round map would only advance
        // a constant hop count per round). Every label is itself a node
        // (a min of reachable node ids), so the self-join is total.
        // The next round's prop (and the final consumer) read `next`'s
        // kept rows instead of re-running the self-join.
        val next = scope.materialize(prop.as("a")
          .join(prop.as("b").hint("shuffle_hash"), col("a.label") === col("b.node"))
          .select(col("a.node").as("node"), col("b.label").as("label")), eager = false)
        val sig = labelSig(next)
        scope.unpersist(prop)
        scope.unpersist(labels)
        converged = sig.compareTo(prevSig) == 0
        prevSig = sig
        labels = next
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      labels
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** Both directions of every pair in `pairs` (a_id, b_id, carry...)
    * as (`src`, `dst`, carry...); the `carry` columns pass through
    * unchanged. Each pair row explodes into its two directions, so
    * `pairs` is scanned once: a union of two selects would run the
    * (often expensive) mining plan behind it twice. */
  private[graft] def undirected(pairs: DataFrame, src: String, dst: String,
      carry: String*): DataFrame = {
    def direction(from: String, to: String): Column =
      struct(col(from).as(src) +: col(to).as(dst) +: carry.map(col): _*)
    pairs.select(explode(array(direction("a_id", "b_id"), direction("b_id", "a_id"))).as("e"))
      .select((src +: dst +: carry).map(c => col(s"e.$c").as(c)): _*)
  }

  /** Dedup clustering over the CAPPED jaccard pair graph (the scale-safe
    * match variant): every matched doc gets its component's canonical id,
    * the component size, and a keep/drop flag (`is_canonical` = the one
    * survivor per cluster — min doc_id, deterministic). */
  def qDedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersOn(cappedJaccardPairs(spark, sfDir).select("a_id", "b_id"), "doc_id")

  /** Cluster report over an already-mined pair relation, one row per
    * matched node: (`idCol`, cluster_id, csize, is_canonical). Shared by
    * every text and semantic cluster query, live and stored. */
  private[graft] def clustersOn(pairs: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    connectedComponents(pairs)
      .select(col("node").as(idCol), col("label").as("cluster_id"))
      .withColumn("csize", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** Stored TEXT near-dup edge parquet locations, per dataset — the
    * text mirror of `SimilarityOps.annEdgesStored`. The cluster,
    * representative and cluster-split queries consume the SAME
    * capped-Jaccard pair graph and each re-mined it per invocation
    * (shingle explode + inverted-index join + verification, ~half of
    * each query's cost at sf0.1; at 100 TB, three full mining passes).
    * A production dedup pipeline mines ONCE, writes
    * (a_id, b_id, jaccard) to the lake, and runs every downstream
    * report against the stored relation. Durable and dataset-keyed
    * via [[Artifacts]]: fresh JVMs (bench chunks, new sessions)
    * existence-check and reuse the one materialization instead of
    * re-mining per process. */
  private[graft] def textEdgesStored(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Artifacts.getOrBuild(spark, sfDir, "text_edges") { d =>
      cappedJaccardPairs(spark, sfDir)
        .select(col("a_id"), col("b_id"), col("jaccard"))
        .write.parquet(d)
    }
    Tables.parquet(spark, dir)
  }

  /** [[qDedupClusters]] served from the STORED edge artifact —
    * identical contract and oracle; the plan never tokenizes a
    * document (plan-pinned). Marginal cost is the component
    * iterations only. */
  def qDedupClustersStored(spark: SparkSession, sfDir: String): DataFrame =
    clustersOn(textEdgesStored(spark, sfDir).select("a_id", "b_id"), "doc_id")

  val qDedupClustersOracle: String =
    s"""WITH RECURSIVE $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |matched AS (
       |  SELECT p.a_id, p.b_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM matched
       |          UNION SELECT b_id, a_id FROM matched),
       |reach(src, dst) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS csize,
       |  doc_id = cluster_id AS is_canonical
       |FROM comp ORDER BY doc_id""".stripMargin

  /** LEAKAGE-SAFE train/valid/test split — the fix for the classic
    * evaluation bug where near-duplicate documents straddle the
    * train/test boundary and the model "generalizes" to its own
    * training data (the reason Lee et al. 2022 §5 deduplicate BEFORE
    * splitting): hash-split by the near-dup CLUSTER id, not the doc
    * id, so every member of a cluster lands in the same fold; docs
    * outside any cluster are their own singleton cluster and split
    * exactly as the naive `sample_split`. Emits both assignments and
    * flags each doc where clustering AVERTED a straddle.
    *
    * Scale shape: components over the STORED near-dup edge artifact
    * (the mining-free production path shared with
    * `dedup_clusters_stored`) — graph-sized, not corpus-sized; the
    * corpus joins the labels once on doc_id and the split itself is
    * the usual shuffle-free md5 bucket, now keyed by cluster. */
  def qSampleClusterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    def bucket(c: Column): Column =
      conv(substring(md5(c.cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("int") % 100
    def band(b: Column): Column =
      when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    val comp = connectedComponents(
        textEdgesStored(spark, sfDir).select("a_id", "b_id"))
      .select(col("node").as("doc_id"), col("label").as("cl"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("matched", col("cl").isNotNull)
      .withColumn("cluster_id", coalesce(col("cl"), col("doc_id")))
      .withColumn("split", band(bucket(col("cluster_id"))))
      .withColumn("naive_split", band(bucket(col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("split"),
        col("naive_split"),
        (col("matched") && col("split") =!= col("naive_split"))
          .as("leak_averted"))
  }

  /** The clusters oracle's recursive components + the md5 bucket of
    * [[SamplingOps.bucket100]], keyed by cluster. */
  val qSampleClusterSplitOracle: String =
    s"""WITH RECURSIVE $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |matched AS (
       |  SELECT p.a_id, p.b_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM matched
       |          UNION SELECT b_id, a_id FROM matched),
       |reach(src, dst) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS cl FROM reach GROUP BY 1),
       |f AS (
       |  SELECT d.doc_id, c.cl IS NOT NULL AS matched,
       |    COALESCE(c.cl, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |b AS (
       |  SELECT doc_id, matched, cluster_id,
       |    CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) AS INT) % 100 AS cb,
       |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS nb
       |  FROM f)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'valid'
       |       ELSE 'test' END AS split,
       |  CASE WHEN nb < 80 THEN 'train' WHEN nb < 90 THEN 'valid'
       |       ELSE 'test' END AS naive_split,
       |  matched AND
       |    (CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'valid'
       |          ELSE 'test' END !=
       |     CASE WHEN nb < 80 THEN 'train' WHEN nb < 90 THEN 'valid'
       |          ELSE 'test' END) AS leak_averted
       |FROM b ORDER BY doc_id""".stripMargin

  /** CONTRASTIVE TRAINING-PAIR construction (the SimCSE/sentence-
    * transformers data prep): POSITIVES are the mined near-dup edges
    * (documents known to say the same thing — served from the STORED
    * artifact, mining-free); NEGATIVES are deterministic md5-rank
    * pairings (rank r ≤ ⌊N/2⌋ with rank r + ⌊N/2⌋ — the explicit
    * x-side bound makes "each doc in at most one negative pair" hold
    * for ODD corpus sizes too, where the unbounded ranges overlap at
    * the middle ranks; unbiased w.r.t. ingestion order,
    * append-stable), FILTERED against the mined match set so a known
    * near-dup can never be labeled negative (the false-negative guard
    * contrastive losses care about), then truncated to the positive
    * count for an exactly balanced set.
    *
    * Scale shape (r8 verdict fix): the md5 rank is
    * `SamplingOps.withGlobalRank` — range-shuffle + per-shard
    * row_number + broadcast shard offsets — not an unpartitioned
    * window over the corpus; then a self equi-join on the rank offset
    * + a broadcast-able anti-join against the edge set; the balance
    * truncation is a TakeOrdered over candidate negatives. The oracle
    * keeps the naive global row_number, proving the decomposition
    * exact. */
  def qContrastivePairs(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val edges = textEdgesStored(spark, sfDir).select("a_id", "b_id")
      .transform(scope.persist)
    val nPos = edges.count()
    val n = Tables.documents(spark, sfDir).count()
    val half = n / 2
    val ranked0 = SamplingOps.withGlobalRank(scope,
      Tables.documents(spark, sfDir).select(col("doc_id"))
        .withColumn("rk", md5(col("doc_id").cast("string").cast("binary"))),
      "r", col("rk"), col("doc_id"))
    val ranked = ranked0.select(col("doc_id"), col("r"))
    val negs = ranked.filter(col("r") <= half).as("x")
      .join(ranked.as("y"), col("y.r") === col("x.r") + half)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .join(edges, Seq("a_id", "b_id"), "left_anti")
      .orderBy(col("a_id"), col("b_id")).limit(nPos.toInt)
      .withColumn("label", lit("neg"))
    edges.withColumn("label", lit("pos"))
      .unionByName(negs)
  }

  /** The capped-jaccard edge CTEs + the same rank pairing/guard. */
  val qContrastivePairsOracle: String =
    s"""WITH $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT p.a_id, p.b_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |np AS (SELECT COUNT(*) AS np FROM edges),
       |tot AS (SELECT COUNT(*) AS n FROM documents),
       |rk AS (SELECT doc_id,
       |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
       |  FROM documents),
       |cand AS (
       |  SELECT LEAST(x.doc_id, y.doc_id) AS a_id,
       |         GREATEST(x.doc_id, y.doc_id) AS b_id
       |  FROM rk x JOIN rk y ON y.r = x.r + (SELECT n // 2 FROM tot)
       |  WHERE x.r <= (SELECT n // 2 FROM tot)),
       |negs AS (
       |  SELECT a_id, b_id FROM cand
       |  WHERE NOT EXISTS (SELECT 1 FROM edges e
       |    WHERE e.a_id = cand.a_id AND e.b_id = cand.b_id)
       |  ORDER BY a_id, b_id LIMIT (SELECT np FROM np))
       |SELECT a_id, b_id, label FROM (
       |  SELECT a_id, b_id, 'pos' AS label FROM edges
       |  UNION ALL
       |  SELECT a_id, b_id, 'neg' AS label FROM negs)
       |ORDER BY label, a_id, b_id""".stripMargin

  /** Quality-aware representative selection + corpus keep-list — the
    * DELIVERABLE of a dedup run. [[qDedupClusters]]'s `is_canonical`
    * keeps the min doc_id (deterministic but arbitrary); production
    * pipelines keep the BEST member of each near-dup cluster (longest /
    * highest-quality text, cf. the keep-longest policy in web-corpus
    * dedup), and the output a trainer consumes is the keep/drop verdict
    * for EVERY corpus document, not just the matched ones.
    *
    * Scale shape: the component labels + quality join + per-cluster
    * argmax all run on the MATCHED set (graph-sized — orders of
    * magnitude smaller than the corpus), so the ranking window is
    * cheap. The corpus-sized step is the left join of the verdict
    * table into `documents`, deliberately left WITHOUT a broadcast
    * hint: at fixture/typical dup rates AQE's runtime size check turns
    * it into a broadcast join (corpus never shuffles), but at
    * web-scale dup rates (30–50% of docs in clusters) the matched set
    * is corpus-order and a forced broadcast would OOM the driver —
    * unhinted, the same plan degrades to a shuffle join and completes.
    * Both regimes are plan-pinned in PipelineOpsSpec. Argmax is a
    * row_number over (n_chars DESC, doc_id) — fully deterministic
    * under ties, reproducible in any engine. */
  def qDedupRepresentatives(spark: SparkSession, sfDir: String): DataFrame =
    representativesOn(spark, sfDir,
      cappedJaccardPairs(spark, sfDir).select("a_id", "b_id"))

  /** [[qDedupRepresentatives]] served from the STORED edge artifact. */
  def qDedupRepresentativesStored(spark: SparkSession, sfDir: String): DataFrame =
    representativesOn(spark, sfDir,
      textEdgesStored(spark, sfDir).select("a_id", "b_id"))

  /** Keep-list body over an already-mined pair relation — shared by
    * the self-contained miner and the stored-edges variant. */
  private def representativesOn(spark: SparkSession, sfDir: String,
      pairs: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
    val comp = connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val matched = comp.join(docs, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), (col("rn") === 1).as("keep"))
    docs.join(matched, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }

  val qDedupRepresentativesOracle: String =
    s"""WITH RECURSIVE $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |matched AS (
       |  SELECT p.a_id, p.b_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM matched
       |          UNION SELECT b_id, a_id FROM matched),
       |reach(src, dst) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1),
       |ranked AS (
       |  SELECT c.doc_id, c.cluster_id,
       |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(r.cluster_id, d.doc_id) AS cluster_id,
       |  COALESCE(r.rn = 1, TRUE) AS keep
       |FROM documents d LEFT JOIN ranked r ON r.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** SEMANTIC dedup clusters: connected components over the
    * embedding-cosine near-dup graph — "train on one doc per meaning
    * cluster". Here the edge set is the guarded exact-cosine twin (so
    * the DuckDB oracle can reproduce it); at 100 TB swap in the
    * LSH/IVF candidate pairs as edges — [[connectedComponents]] is
    * agnostic to how the pair graph was mined. */
  def qDedupSemanticClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersOn(exactCosinePairs(normedVectors(Tables.embeddings(spark, sfDir)))
      .select("a_id", "b_id"), "vec_id")

  val qDedupSemanticClustersOracle: String =
    """WITH RECURSIVE
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |matched AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
      |edges AS (SELECT a_id AS src, b_id AS dst FROM matched
      |          UNION SELECT b_id, a_id FROM matched),
      |reach(src, dst) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      |comp AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1)
      |SELECT vec_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS csize,
      |  vec_id = cluster_id AS is_canonical
      |FROM comp ORDER BY vec_id""".stripMargin

  /** ANN-mined candidate edges by MULTI-TABLE sign-LSH: L hash tables,
    * table t keyed by the sign pattern of dimensions [kt, kt+k); a
    * pair is a candidate if it shares a bucket in ANY table, and every
    * candidate then verifies at cosine ≥ `minCosine`. This is the
    * production edge miner for semantic clustering:
    *   - each table's bucket equi-join bounds pair generation to
    *     Σ_b |bucket(b)|² — 1/2^k of the all-pairs matrix;
    *   - candidates are distinct'd on (a_id, b_id) BEFORE vectors are
    *     re-joined, so a pair colliding in several tables pays one dot
    *     product and the wide vector columns never ride the pair
    *     shuffle;
    *   - precision is exact by construction (every edge passes the
    *     same cosine test as the exact miner); recall is the standard
    *     1-(1-p^k)^L ladder — more TABLES, never bigger buckets, is
    *     the recall knob (floor-pinned in ComponentsSpec at two scale
    *     factors).
    *
    * GEOMETRY SCALES WITH THE CORPUS (the occupancy knob): planes per
    * table default to k = clamp(4, 10, ceil(log2(ceil(n/64)))) — one
    * count() of the input picks k so expected bucket occupancy stays
    * ~64 vectors regardless of n, keeping the within-bucket join
    * n·occupancy, never O(n²/2^4) with a fixed width. The table count
    * then fills the embedding dimensions (L = 64/k disjoint dimension
    * groups), so raising k never shrinks the total recall ladder below
    * what the dims support. Both knobs stay overridable; the DuckDB
    * oracle reproduces the same k/L rule from COUNT(*), bit-for-bit
    * (integer bit-length arithmetic on both sides — no float log2
    * edge cases). Beyond n = 64·2¹⁰ vectors per 64-dim space, raise
    * `tables` over md5-derived random hyperplanes instead — the
    * disjoint-dims scheme is exhausted at k=10. Bucket occupancy is
    * spec-bounded (≤ 2·n/2^k on the 4× fixture, ComponentsSpec). */
  def annCosinePairs(e: DataFrame, minCosine: Double = 0.4, tables: Int = 0,
      planesPerTable: Int = 0, knownN: Long = 0): DataFrame =
    annScoredPairs(e, tables, planesPerTable, knownN)
      .filter(col("cosine") >= minCosine)
      .select(col("a_id"), col("b_id"))

  /** ANN candidate pairs WITH their exact cosine — [[annCosinePairs]]
    * before the threshold filter. Shared by the clustering miner
    * (threshold edges) and the kNN-graph builder (per-vector rank),
    * so both consume the identical candidate geometry and each
    * unordered pair pays exactly one dot product. */
  private[graft] def annScoredPairs(e: DataFrame, tables: Int = 0,
      planesPerTable: Int = 0, knownN: Long = 0): DataFrame = {
    // sizing: `knownN` (from catalog statistics or a cached count)
    // keeps construction action-free; otherwise one COUNT(*) pruned to
    // the parquet footers runs here, at DataFrame-CONSTRUCTION time —
    // pass planesPerTable or knownN at scale
    val k =
      if (planesPerTable > 0) planesPerTable
      else signLshPlanes(if (knownN > 0) knownN else e.count())
    val nTables = if (tables > 0) tables else 64 / k
    require(k >= 1 && k <= 64 && nTables >= 1 && nTables * k <= 64,
      s"sign-LSH geometry: $nTables tables x $k planes does not fit 64 dims " +
        "(k must be in [1,64] and tables*k <= 64 with at least one table)")
    val cand = annCandidatePairs(e, k, nTables)
    cand
      .join(e.select(col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb")), "b_id")
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Planes per sign-LSH table for an `n`-vector corpus:
    * clamp(4, 10, ceil(log2(ceil(n/64)))) — expected bucket occupancy
    * ~64 at any scale. ceil(log2(m)) computed as bit_length(m-1) in
    * pure integer arithmetic so the DuckDB oracle (LENGTH(bin(m-1)))
    * agrees bit-for-bit, with no float-log2 boundary cases. */
  private[graft] def signLshPlanes(n: Long): Int = {
    val m = (n + 63L) / 64L
    val raw = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.max(4, math.min(10, raw))
  }

  /** Distinct candidate pairs from the multi-table bucket equi-join —
    * the pre-verification volume that determines the miner's cost at
    * scale. Shared by [[annCosinePairs]] and the candidate-growth
    * gate in ComponentsSpec. */
  private[graft] def annCandidatePairs(e: DataFrame, k: Int, nTables: Int): DataFrame = {
    val bk = signLshBuckets(e, k, nTables)
    bk.as("a")
      .join(bk.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** (vec_id, tbl, bucket) sign-LSH bucket assignments: table t keyed
    * by the sign pattern of dimensions [kt, kt+k) of `v` (1-indexed
    * element_at). Shared by [[annCosinePairs]] and the occupancy spec. */
  private[graft] def signLshBuckets(e: DataFrame, k: Int, nTables: Int): DataFrame =
    signLshBucketsWith(e, k, nTables)

  /** [[signLshBuckets]] carrying extra columns through the explode —
    * the streaming serving path needs the vector and norm next to its
    * bucket keys (a stream cannot join back to itself to re-fetch
    * them). Same geometry, same map-side-only shape. */
  private[graft] def signLshBucketsWith(e: DataFrame, k: Int, nTables: Int,
      keep: Column*): DataFrame = {
    def tblKey(t: Int): Column = concat((1 to k).map(i =>
      when(element_at(col("v"), t * k + i) >= 0, "1").otherwise("0")): _*)
    e.select((col("vec_id") +: keep) :+
      posexplode(array((0 until nTables).map(tblKey): _*)).as(Seq("tbl", "bucket")): _*)
  }

  /** Memoized ANN sizing counts, keyed by dataset dir: one footer-only
    * COUNT(*) job per dataset per JVM, then reused — so repeated
    * constructions of the ANN query (bench warmup + timed runs, verify)
    * stop paying a sizing job each, mirroring production where n comes
    * from table statistics. The test tables are immutable; a mutable
    * deployment would invalidate on write. */
  private val annSizingCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Memoized sizing count for ANN geometry, shared by every consumer
    * of the same dataset dir (clustering miner, kNN graph) — one
    * footer-only COUNT(*) per dataset per JVM. */
  private[graft] def annSizingCount(key: String, n: => Long): Long =
    annSizingCounts.computeIfAbsent(key, _ => Long.box(n)).longValue()

  /** [[qDedupSemanticClusters]] with the edge set mined by the
    * LSH-bucketed ANN path instead of the guarded O(n²) exact twin —
    * the variant a 100 TB corpus actually runs. Components refine the
    * exact clustering (the ANN edge set is a subset of the exact one:
    * asserted in ComponentsSpec together with an edge-recall floor);
    * the oracle reproduces the bucket + cosine mining bit-for-bit, so
    * this is a full hash-match query, not a rows-only one. */
  def qDedupSemanticClustersAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normedVectors(Tables.embeddings(spark, sfDir))
    val n = annSizingCount(sfDir, e.count())
    clustersOn(annCosinePairs(e, knownN = n), "vec_id")
  }

  val qDedupSemanticClustersAnnOracle: String =
    """WITH RECURSIVE
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |kk AS (
      |  SELECT k, 64 // k AS ntab FROM (
      |    SELECT GREATEST(4, LEAST(10,
      |      CASE WHEN m <= 1 THEN 0 ELSE LENGTH(bin(m - 1)) END)) AS k
      |    FROM (SELECT (COUNT(*) + 63) // 64 AS m FROM e) mm) kx),
      |bk AS (
      |  SELECT vec_id, t.t AS tbl,
      |    array_to_string([CASE WHEN v[t.t*k + i] >= 0 THEN '1' ELSE '0' END
      |                     FOR i IN generate_series(1, k)], '') AS bucket
      |  FROM n, kk, unnest(generate_series(0, (SELECT ntab - 1 FROM kk))) AS t(t)),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM bk a JOIN bk b
      |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |matched AS (
      |  SELECT c.a_id, c.b_id
      |  FROM cand c
      |  JOIN n x ON x.vec_id = c.a_id
      |  JOIN n y ON y.vec_id = c.b_id
      |  WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4),
      |edges AS (SELECT a_id AS src, b_id AS dst FROM matched
      |          UNION SELECT b_id, a_id FROM matched),
      |reach(src, dst) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      |comp AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY 1)
      |SELECT vec_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS csize,
      |  vec_id = cluster_id AS is_canonical
      |FROM comp ORDER BY vec_id""".stripMargin

  /** BLOCKED edit-distance near-dup: Levenshtein over document prefixes,
    * but only within blocking groups (same language + same first word) —
    * the classic record-linkage shape. The quadratic edit-distance
    * comparison never sees the full corpus: the equi-join on the
    * blocking key bounds candidates to Σ_b |block(b)|², exactly the
    * inverted-index/LSH discipline applied to a string metric that has
    * no algebraic decomposition. Prefixes (first 80 chars) bound the
    * O(len²) DP per pair; a full-text distance would be the verification
    * pass on surviving candidates only. */
  def qDedupLevenshtein(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("lang"),
      substring_index(col("text"), " ", 1).as("w0"),
      substring(col("text"), 1, 80).as("prefix"))
    // The corpus arrives as one small parquet file -> ONE input split,
    // so without an explicit repartition the entire Σ|block|² DP work
    // lands in a single task (measured: 10.7 s single-threaded at
    // sf0.1 vs ~1 s spread over the cores). Spreading the PROBE side
    // by a round-robin repartition is a ~5000-row shuffle — noise —
    // and the build side still broadcasts. At 100 TB the scan itself
    // yields thousands of splits and this repartition collapses to a
    // no-op-sized exchange.
    val width = spark.sparkContext.defaultParallelism
    val a = d.select(col("doc_id").as("a_id"), col("lang"), col("w0"),
      col("prefix").as("pa")).repartition(width)
    val b = d.select(col("doc_id").as("b_id"), col("lang"), col("w0"),
      col("prefix").as("pb"))
    a.join(broadcast(b), Seq("lang", "w0"))
      .filter(col("a_id") < col("b_id"))
      // necessary condition first: |len(a)-len(b)| <= k bounds the edit
      // distance from below for ~free, before any DP runs
      .filter(abs(length(col("pa")) - length(col("pb"))) <= 20)
      // banded threshold variant: O(len·k) cells + early exit instead
      // of the full O(len²) table; returns the exact distance when
      // <= 20 and -1 otherwise, so the output is unchanged
      .withColumn("dist", levenshtein(col("pa"), col("pb"), 20))
      .filter(col("dist") >= 0)
      .select("a_id", "b_id", "lang", "dist")
  }

  val qDedupLevenshteinOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split(text, ' ')[1] AS w0,
      |    substr(text, 1, 80) AS prefix
      |  FROM documents)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.lang,
      |  levenshtein(a.prefix, b.prefix) AS dist
      |FROM d a JOIN d b
      |  ON a.lang = b.lang AND a.w0 = b.w0 AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.prefix, b.prefix) <= 20
      |ORDER BY a_id, b_id""".stripMargin

  /** EXACT k-token substring overlap (the Lee et al. 2022
    * "Deduplicating Training Data" shape): pairs of documents sharing
    * at least one run of `SubstrK` consecutive tokens, found by
    * exploding each document's distinct k-token windows and
    * equi-joining on the window TEXT itself — joining on the string
    * makes the match exact by construction (no hash-collision caveat
    * to verify). `shared_windows` counts the matching windows, so a
    * shared run of length L tokens scores L-k+1 — a usable overlap-
    * mass signal for "remove the longer overlap" policies downstream.
    *
    * Scale: same inverted-index discipline as the jaccard family —
    * cost is Σ_w |docs(w)|² over SHARED windows only, and the df cap
    * deletes boilerplate windows (license headers, nav bars) that
    * would otherwise contribute the quadratic skew term. An 8-token
    * window is already highly selective, so candidate volume tracks
    * true overlaps, not vocabulary. */
  private val SubstrK = 8
  private val SubstrMaxDf = 20

  def qDedupSubstring(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val ts = split(col("text"), " ")
    val wins = Tables.spread(Tables.documents(spark, sfDir))
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= SubstrK)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("ts")) - SubstrK),
          i => concat_ws(" ",
            (0 until SubstrK).map(o => element_at(col("ts"), i + o + 1)): _*))))
          .as("win"))
      .transform(scope.persist)
    val rare = wins.groupBy(col("win"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= SubstrMaxDf)
      .select("win")
    val kept = wins.join(rare, "win")
    kept.as("a")
      .join(kept.as("b"),
        col("a.win") === col("b.win") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  val qDedupSubstringOracle: String =
    s"""WITH w AS (
       |  SELECT DISTINCT doc_id,
       |    ${(0 until 8).map(o => s"ts[g+$o]").mkString(" || ' ' || ")} AS win
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
       |       unnest(generate_series(1, len(ts) - 7)) AS u(g)
       |  WHERE len(ts) >= 8),
       |rare AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) <= 20),
       |kept AS (SELECT w.doc_id, w.win FROM w JOIN rare USING (win))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared_windows
       |FROM kept a JOIN kept b
       |  ON a.win = b.win AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin

  /** SPAN REMOVAL — the "act" half of Lee et al. 2022's exact-substring
    * dedup ([[qDedupSubstring]] mines the pairs, [[qDedupSpanCoverage]]
    * measures the mass; this operator actually DELETES the duplicated
    * text): a token position is covered when it lies inside any 8-token
    * window whose text occurs in MORE THAN ONE document (cross-doc
    * df ≥ 2 — within-doc self-repetition is `text_repetition`'s
    * signal, deliberately not removed here), every covered position is
    * dropped from every document (the no-survivor convention of
    * [[qDedupParagraphs]]), and the survivor tokens reassemble in
    * order. Per doc: token count, removed count and rate, and the md5
    * of the cleaned text — exact-copy documents clean to the empty
    * string.
    *
    * Scale shape: the window relation (ONE bounded explode, ~n windows
    * per n-token doc) persists across its two consumers (df aggregate
    * + join-back); covered positions fan out by the constant window
    * width (≤ 8×), then one (doc, pos)-keyed distinct, one anti-join
    * against the posexploded tokens, one per-doc rollup whose
    * reassembly state is bounded by doc length. Every join is a hash
    * equi-join; a boilerplate window with huge df costs ONE row in the
    * dup relation (the join-back fan-out is the window's own
    * occurrence count, which is the work any removal must do). */
  def qDedupSpanRemoval(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val ts = split(col("text"), " ")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), ts.as("ts"))
    val wins = docs
      .filter(size(col("ts")) >= SubstrK)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("ts")) - SubstrK)).as("i"),
        col("ts"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ",
          (0 until SubstrK).map(o => element_at(col("ts"), col("i") + o + 1)): _*)
          .as("win"))
      .transform(scope.persist)
    val dup = wins.groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select("win")
    val covered = wins.join(dup, "win")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (SubstrK - 1))).as("pos"))
      .distinct()
    val toks = docs.select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tk")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tk")))),
          s => s.getField("tk")), " ").cast("binary")).as("clean_md5"))
    docs
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        round((col("n_tokens") - coalesce(col("n_kept"), lit(0L))) /
          col("n_tokens").cast(DoubleType), 6).as("removal_rate_r"),
        coalesce(col("clean_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("clean_md5"))
  }

  val qDedupSpanRemovalOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |w AS (
       |  SELECT doc_id, g AS i,
       |    ${(0 until 8).map(o => s"ts[g+${o + 1}]").mkString(" || ' ' || ")} AS win
       |  FROM t, unnest(generate_series(0, len(ts) - 8)) AS u(g)
       |  WHERE len(ts) >= 8),
       |dup AS (
       |  SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2),
       |cov AS (
       |  SELECT DISTINCT w.doc_id, u.p
       |  FROM w JOIN dup USING (win),
       |       unnest(generate_series(w.i, w.i + 7)) AS u(p)),
       |tok AS (
       |  SELECT doc_id, g - 1 AS p, ts[g] AS tk
       |  FROM t, unnest(generate_series(1, len(ts))) AS u(g)),
       |kept AS (
       |  SELECT tok.doc_id, tok.p, tok.tk FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM cov
       |    WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p)),
       |k AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    md5(string_agg(tk, ' ' ORDER BY p)) AS clean_md5
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
       |  CAST(len(t.ts) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       |  round((len(t.ts) - COALESCE(k.n_kept, 0)) /
       |    CAST(len(t.ts) AS DOUBLE), 6) AS removal_rate_r,
       |  COALESCE(k.clean_md5, 'd41d8cd98f00b204e9800998ecf8427e')
       |    AS clean_md5
       |FROM t LEFT JOIN k USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** INCREMENTAL ingest dedup — the nightly-crawl operator: classify
    * every INCOMING document (id-hash bucket ≥ 90, standing in for the
    * new crawl slice) against the BASE corpus (bucket < 90) as
    * `exact` (content fingerprint already present), `near` (minhash
    * band collision with a base doc verifying at jaccard ≥ 0.1), or
    * `new`, with the smallest matching base id as evidence.
    *
    * This is the composition a 100 TB pipeline actually runs daily:
    * the base side's fingerprints and band signatures are computed
    * once and STORED (here derived in-query so the DuckDB oracle is
    * self-contained); the incoming slice is orders of magnitude
    * smaller, so the exact check is a hash join against the
    * fingerprint index and the near check touches only band-bucket
    * collisions — never a rescan of the base corpus text. Both match
    * arms left-join onto the incoming slice, so every incoming doc is
    * classified exactly once. */
  def qDedupIncremental(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val docs = Tables.documents(spark, sfDir)
      .withColumn("bucket", SamplingOps.bucket100("doc_id"))
    val fp = docs.select(col("doc_id"), col("bucket"),
      md5(col("text").cast("binary")).as("fp"))
    val exact = fp.filter(col("bucket") >= 90).select(col("doc_id"), col("fp"))
      .join(fp.filter(col("bucket") < 90)
        .select(col("doc_id").as("base_id"), col("fp")), "fp")
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("exact_match_id"))
    // one shingle explode serves signatures AND verification sets
    val sh = shingles(docs)
      .transform(scope.persist)
    val bands = minhashBands(sh)
      .withColumn("bucket", SamplingOps.bucket100("doc_id"))
    val cand = bands.filter(col("bucket") >= 90).as("a")
      .join(bands.filter(col("bucket") < 90).as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("base_id"))
      .distinct()
    // (r8 note: semi-joining `sets` down to candidate participants was
    // tried and measured SLOWER at sf0.1 — 3.2-4.3 s vs 2.5-2.8 s —
    // the persist barrier + extra exchange outweigh the collect_list
    // savings; the twin's dominant cost is the full-corpus re-shingle,
    // which is inherent to recompute-everything. The stored-index
    // variant below is the production answer to that cost.)
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("ss"), count(lit(1)).as("n"))
    val near = cand
      .join(sets.select(col("doc_id"), col("ss").as("sa"), col("n").as("na")), "doc_id")
      .join(sets.select(col("doc_id").as("base_id"), col("ss").as("sb"), col("n").as("nb")), "base_id")
      .transform(verifiedNear)
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("near_match_id"))
    docs.filter(col("bucket") >= 90).select("doc_id")
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id") +: dupVerdict: _*)
  }

  /** The near-duplicate verification over candidate pairs carrying
    * distinct-shingle arrays `sa`, `sb` of sizes `na`, `nb`: keeps the
    * pairs with exact jaccard ≥ 0.1. */
  private[graft] def verifiedNear(pairs: DataFrame): DataFrame = pairs
    .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
    .filter(col("inter").cast(DoubleType) / (col("na") + col("nb") - col("inter")) >= 0.1)

  /** The incremental dedup verdict over `exact_match_id` and
    * `near_match_id`: 'exact' | 'near' | 'new', with the matching base
    * id as evidence. */
  private[graft] def dupVerdict: Seq[Column] = Seq(
    when(col("exact_match_id").isNotNull, "exact")
      .when(col("near_match_id").isNotNull, "near")
      .otherwise("new").as("status"),
    coalesce(col("exact_match_id"), col("near_match_id")).as("match_id"))

  /** The BASE-side dedup index a production deployment materializes
    * ONCE per corpus and reuses every nightly increment: per doc, the
    * content fingerprint, the minhash band keys, and the distinct
    * shingle set (for jaccard verification) — one row per base doc.
    * Write it with `baseSignatures(baseDocs).write.parquet(dir)` and
    * feed the path to [[qDedupIncrementalStored]]; PipelineOpsSpec
    * asserts the stored path classifies identically to the
    * recompute-everything twin. Docs too short to shingle (< 3 tokens)
    * keep their fingerprint with null bands/shingles — they can still
    * match exactly, never nearly. */
  def baseSignatures(docs: DataFrame): DataFrame = QueryScope(docs.sparkSession) { scope =>
    val fp = Tables.spread(docs).select(col("doc_id"),
      md5(col("text").cast("binary")).as("fp"))
    val sh = shingles(docs)
      .transform(scope.persist)
    val bands = minhashBands(sh)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("band"), col("bkey"))).as("bands"))
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("ss"), count(lit(1)).as("n_shingles"))
    fp.join(bands, Seq("doc_id"), "left_outer")
      .join(sets, Seq("doc_id"), "left_outer")
  }

  /** [[qDedupIncremental]] reading the MATERIALIZED base index instead
    * of re-deriving it — the shape the docstring above promises at
    * 100 TB: the base corpus text is never re-read, re-shingled, or
    * re-hashed; the daily cost is the incoming slice's signatures plus
    * equi-joins against the stored index. Every explode over document
    * text sits above the incoming-slice filter (subtree-pinned in
    * PlanAuditSpec — the recompute twin necessarily fails that check).
    * Results are identical to the recompute twin by construction
    * (asserted in PipelineOpsSpec): same fingerprint, band, and
    * verification definitions, sourced from the index. */
  def qDedupIncrementalStored(spark: SparkSession, sfDir: String,
      baseDir: String): DataFrame = {
    val incoming = Tables.documents(spark, sfDir)
      .withColumn("bucket", SamplingOps.bucket100("doc_id"))
      .filter(col("bucket") >= 90)
    classifyAgainstIndex(incoming, Tables.parquet(spark, baseDir))
  }

  /** Classify an arbitrary INCOMING doc slice (doc_id, text) against a
    * materialized [[baseSignatures]] index — 'exact' | 'near' | 'new'
    * with the smallest matching base id as evidence. The shared body
    * of [[qDedupIncrementalStored]] (incoming = the id-hash crawl
    * slice) and [[qDedupDeltaClassify]] (incoming = the crawl delta's
    * added/changed docs): the only shingle explode is over the
    * incoming slice; every base-side touch is an equi-join against
    * the stored index. */
  private[graft] def classifyAgainstIndex(incoming: DataFrame,
      base: DataFrame): DataFrame = QueryScope(incoming.sparkSession) { scope =>
    val exact = incoming
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(base.select(col("doc_id").as("base_id"), col("fp")), "fp")
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("exact_match_id"))
    // the one shingle explode of the day: the incoming slice only
    val sh = shingles(incoming)
      .transform(scope.persist)
    val baseBands = base
      .select(col("doc_id").as("base_id"), explode(col("bands")).as("bb"))
      .select(col("base_id"), col("bb.band").as("b_band"), col("bb.bkey").as("b_bkey"))
    val cand = minhashBands(sh)
      .join(baseBands, col("band") === col("b_band") && col("bkey") === col("b_bkey"))
      .select(col("doc_id"), col("base_id"))
      .distinct()
    val near = cand
      .join(sh.groupBy(col("doc_id"))
        .agg(collect_list(col("shingle")).as("sa"), count(lit(1)).as("na")), "doc_id")
      .join(base.select(col("doc_id").as("base_id"), col("ss").as("sb"),
        col("n_shingles").as("nb")), "base_id")
      .transform(verifiedNear)
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("near_match_id"))
    incoming.select("doc_id")
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id") +: dupVerdict: _*)
  }

  /** [[qDedupIncrementalStored]] as a registered query: materializes
    * the base slice's [[baseSignatures]] to a DURABLE dataset-keyed
    * parquet once per dataset ([[Artifacts]] — the one-off base build
    * a production pipeline amortizes across every nightly increment;
    * fresh JVMs reuse it from disk), then classifies the incoming
    * slice against the stored index. Shares
    * [[qDedupIncrementalOracle]] verbatim — the classification is
    * identical to the recompute twin by construction (and row-for-row
    * asserted in PipelineOpsSpec). */
  def qDedupIncrementalFromIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Artifacts.getOrBuild(spark, sfDir, "base_sig") { d =>
      baseSignatures(
        Tables.documents(spark, sfDir)
          .withColumn("bucket", SamplingOps.bucket100("doc_id"))
          .filter(col("bucket") < 90).drop("bucket"))
        .write.parquet(d)
    }
    qDedupIncrementalStored(spark, sfDir, dir)
  }

  /** CRAWL-DELTA × STORED-INDEX composition — the nightly recrawl
    * flow end-to-end: [[qCrawlDelta]] tells you WHICH docs re-enter
    * processing (added + changed); this query runs them through
    * incremental dedup against the PREVIOUS snapshot's signature
    * index ([[baseSignatures]] over the prev text projection, mined
    * once per dataset as the durable `prev_sig` artifact). Output:
    * one row per delta doc with its delta status and its duplicate
    * verdict ('exact' | 'near' | 'new', smallest matching prev doc as
    * evidence — a changed doc typically lands 'near' its own previous
    * version, which is exactly the signal an index-refresh uses to
    * decide re-cluster vs no-op).
    *
    * Scale: the delta slice is the churn fraction of the corpus (the
    * whole point of incremental reprocessing); the only shingle
    * explode is over that slice; the prev corpus appears ONLY through
    * the stored index's equi-joins. */
  def qDedupDeltaClassify(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val dir = Artifacts.getOrBuild(spark, sfDir, "prev_sig") { d =>
      baseSignatures(prevSnapshotDocs(spark, sfDir)).write.parquet(d)
    }
    val prevFp = crawlPrev(spark, sfDir)
      .select(col("doc_id"), col("fp").as("p_fp"))
    // r17: the delta slice feeds TWO consumers (the shingle
    // classification and the final status join); unpersisted, each
    // re-ran the corpus scan + prev-fingerprint join + md5 pass.
    // Persisting the churn slice (the whole point of incremental
    // processing is that it is small) computes the delta once.
    val delta = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
      .join(prevFp, Seq("doc_id"), "left_outer")
      .withColumn("delta_status",
        when(col("p_fp").isNull, "added")
          .when(col("p_fp") =!= md5(col("text").cast("binary")), "changed"))
      .filter(col("delta_status").isNotNull)
      .select(col("doc_id"), col("source"), col("delta_status"), col("text"))
      .transform(scope.persist)
    val cls = classifyAgainstIndex(
      delta.select(col("doc_id"), col("text")), Tables.parquet(spark, dir))
    delta.select(col("doc_id"), col("source"), col("delta_status"))
      .join(cls, "doc_id")
      .select(col("doc_id"), col("source"), col("delta_status"),
        col("status").as("dup_status"), col("match_id"))
  }

  /** The PATCHED next-snapshot signature index — the artifact
    * MAINTENANCE op the stored-index story needs at 100 TB: instead
    * of rebuilding [[baseSignatures]] over the whole current crawl,
    * reuse the previous index's rows for every unchanged doc
    * (fingerprint equality proves the text, hence the signatures,
    * are identical), re-derive signatures ONLY for added/changed
    * docs, and drop removed ones. Tagged with provenance so the
    * summary query can account for every row. The only text work is
    * over the churn slice; PipelineOpsSpec asserts the patched index
    * is row-for-row identical to a from-scratch rebuild. */
  private[graft] def refreshedSignatures(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val dir = Artifacts.getOrBuild(spark, sfDir, "prev_sig") { d =>
      baseSignatures(prevSnapshotDocs(spark, sfDir)).write.parquet(d)
    }
    val prevIdx = Tables.parquet(spark, dir)
    val prevFp = crawlPrev(spark, sfDir)
      .select(col("doc_id"), col("fp").as("p_fp"))
    val cur = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"),
        md5(col("text").cast("binary")).as("c_fp"))
      .join(prevFp, Seq("doc_id"), "left_outer")
    val kept = prevIdx
      .join(cur.filter(col("p_fp") === col("c_fp")).select("doc_id"), "doc_id")
      .withColumn("prov", lit("kept"))
    val rebuilt = baseSignatures(
        cur.filter(col("p_fp").isNull || col("p_fp") =!= col("c_fp"))
          .select(col("doc_id"), col("text")))
      .withColumn("prov", lit("rebuilt"))
    kept.unionByName(rebuilt)
  }

  /** Index-refresh SUMMARY as a registered query: per source, how
    * many index rows were kept (unchanged — zero text work), rebuilt
    * (the churn slice), and dropped (removed docs), plus the
    * refreshed index's row count. Counts derive FROM the patched
    * index relation, so a patch defect (a removed doc surviving, a
    * changed doc served stale) surfaces in the oracle comparison,
    * not just the spec. */
  def qDedupIndexRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = refreshedSignatures(spark, sfDir)
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val bySrc = idx.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(sum((col("prov") === "kept").cast("long")).as("n_kept"),
        sum((col("prov") === "rebuilt").cast("long")).as("n_rebuilt"),
        count(lit(1)).as("n_index_rows"))
    val dropped = crawlPrev(spark, sfDir).select(col("doc_id"))
      .join(Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 =!= 0).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .join(src, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_dropped"))
    bySrc.join(dropped, Seq("source"), "left_outer")
      .select(col("source"), col("n_kept"), col("n_rebuilt"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        col("n_index_rows"))
  }

  val qDedupIndexRefreshOracle: String =
    """WITH pd AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 3
      |         THEN array_to_string(
      |           (string_split(text, ' '))[1:len(string_split(text, ' ')) - 1],
      |           ' ')
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 != 9),
      |pfp AS (SELECT doc_id, md5(text) AS p_fp FROM pd),
      |cur AS (
      |  SELECT d.doc_id, d.source, md5(d.text) AS c_fp, pfp.p_fp
      |  FROM documents d LEFT JOIN pfp USING (doc_id)
      |  WHERE d.doc_id % 10 != 0),
      |agg AS (
      |  SELECT source,
      |    CAST(SUM(CASE WHEN p_fp = c_fp THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_kept,
      |    CAST(SUM(CASE WHEN p_fp IS NULL OR p_fp != c_fp THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_rebuilt,
      |    CAST(COUNT(*) AS BIGINT) AS n_index_rows
      |  FROM cur GROUP BY 1),
      |drp AS (
      |  SELECT pd.source, CAST(COUNT(*) AS BIGINT) AS n_dropped
      |  FROM pd
      |  WHERE pd.doc_id % 10 = 0
      |  GROUP BY 1)
      |SELECT agg.source, n_kept, n_rebuilt,
      |  COALESCE(drp.n_dropped, 0) AS n_dropped, n_index_rows
      |FROM agg LEFT JOIN drp USING (source)
      |ORDER BY source""".stripMargin

  val qDedupDeltaClassifyOracle: String =
    s"""WITH pd AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 7 = 3
       |         THEN array_to_string(
       |           (string_split(text, ' '))[1:len(string_split(text, ' ')) - 1],
       |           ' ')
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 != 9),
       |pfp AS (SELECT doc_id, md5(text) AS fp FROM pd),
       |delta AS (
       |  SELECT d.doc_id, d.source, d.text,
       |    CASE WHEN pfp.fp IS NULL THEN 'added' ELSE 'changed' END
       |      AS delta_status
       |  FROM documents d LEFT JOIN pfp USING (doc_id)
       |  WHERE d.doc_id % 10 != 0
       |    AND (pfp.fp IS NULL OR pfp.fp != md5(d.text))),
       |psh AS (
       |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM pd) t,
       |       unnest(generate_series(1, len(ts)-2)) AS u(g)),
       |dsh AS (
       |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM delta) t,
       |       unnest(generate_series(1, len(ts)-2)) AS u(g)),
       |pmh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM psh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |pbands AS (
       |  SELECT doc_id, seed // $BandSize AS band,
       |         md5(string_agg(minh, ',' ORDER BY seed)) AS bkey
       |  FROM pmh GROUP BY 1, 2),
       |dmh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM dsh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |dbands AS (
       |  SELECT doc_id, seed // $BandSize AS band,
       |         md5(string_agg(minh, ',' ORDER BY seed)) AS bkey
       |  FROM dmh GROUP BY 1, 2),
       |ex AS (
       |  SELECT delta.doc_id, MIN(pfp.doc_id) AS exact_match_id
       |  FROM delta JOIN pfp ON pfp.fp = md5(delta.text)
       |  GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS base_id
       |  FROM dbands a JOIN pbands b ON a.band = b.band AND a.bkey = b.bkey),
       |dsc AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY 1),
       |psc AS (SELECT doc_id, COUNT(*) AS n FROM psh GROUP BY 1),
       |iv AS (
       |  SELECT c.doc_id, c.base_id, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN dsh x ON x.doc_id = c.doc_id
       |  JOIN psh y ON y.doc_id = c.base_id AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |nr AS (
       |  SELECT iv.doc_id, MIN(iv.base_id) AS near_match_id
       |  FROM iv
       |  JOIN dsc sa ON sa.doc_id = iv.doc_id
       |  JOIN psc sb ON sb.doc_id = iv.base_id
       |  WHERE CAST(iv.inter AS DOUBLE) / (sa.n + sb.n - iv.inter) >= 0.1
       |  GROUP BY 1)
       |SELECT delta.doc_id, delta.source, delta.delta_status,
       |  CASE WHEN e.exact_match_id IS NOT NULL THEN 'exact'
       |       WHEN n2.near_match_id IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS dup_status,
       |  COALESCE(e.exact_match_id, n2.near_match_id) AS match_id
       |FROM delta
       |LEFT JOIN ex e ON e.doc_id = delta.doc_id
       |LEFT JOIN nr n2 ON n2.doc_id = delta.doc_id
       |ORDER BY delta.doc_id""".stripMargin

  val qDedupIncrementalOracle: String =
    s"""WITH $shinglesSql,
       |bkt AS (SELECT doc_id,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
       |  FROM documents),
       |fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |ex AS (
       |  SELECT i.doc_id, MIN(b.doc_id) AS exact_match_id
       |  FROM fp i
       |  JOIN bkt bi ON bi.doc_id = i.doc_id AND bi.bucket >= 90
       |  JOIN fp b ON b.fp = i.fp
       |  JOIN bkt bb ON bb.doc_id = b.doc_id AND bb.bucket < 90
       |  GROUP BY 1),
       |mh AS (
       |  SELECT doc_id, s.seed, min(md5(s.seed || ':' || shingle)) AS minh
       |  FROM sh, (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed // $BandSize AS band,
       |         md5(string_agg(minh, ',' ORDER BY seed)) AS bkey
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS base_id
       |  FROM bands a
       |  JOIN bkt ba ON ba.doc_id = a.doc_id AND ba.bucket >= 90
       |  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |  JOIN bkt bb ON bb.doc_id = b.doc_id AND bb.bucket < 90),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |iv AS (
       |  SELECT c.doc_id, c.base_id, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.doc_id
       |  JOIN sh y ON y.doc_id = c.base_id AND y.shingle = x.shingle
       |  GROUP BY 1, 2),
       |nr AS (
       |  SELECT iv.doc_id, MIN(iv.base_id) AS near_match_id
       |  FROM iv
       |  JOIN sc sa ON sa.doc_id = iv.doc_id
       |  JOIN sc sb ON sb.doc_id = iv.base_id
       |  WHERE CAST(iv.inter AS DOUBLE) / (sa.n + sb.n - iv.inter) >= 0.1
       |  GROUP BY 1)
       |SELECT i.doc_id,
       |  CASE WHEN e.exact_match_id IS NOT NULL THEN 'exact'
       |       WHEN n2.near_match_id IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS status,
       |  COALESCE(e.exact_match_id, n2.near_match_id) AS match_id
       |FROM bkt i
       |LEFT JOIN ex e ON e.doc_id = i.doc_id
       |LEFT JOIN nr n2 ON n2.doc_id = i.doc_id
       |WHERE i.bucket >= 90
       |ORDER BY i.doc_id""".stripMargin

  /** SPAN-LEVEL duplicate coverage (the second half of Lee et al.'s
    * ExactSubstr dedup — not just WHICH documents overlap, but HOW
    * MUCH of each document is duplicated text): a token position is
    * "covered" if any 8-token window through it also appears in
    * another document; the query reports per-doc covered/retained
    * token counts and the duplicate fraction — the inputs to a
    * "cut the duplicated spans" rewrite or a "drop if >X% duplicated"
    * policy.
    *
    * Scale shape: windows explode WITH positions (no per-doc distinct
    * here — every occurrence covers its own span), document frequency
    * is one distinct+agg over (doc, window), and only SHARED windows
    * fan out ×8 into positions — the position explosion is bounded by
    * the corpus' duplicate mass, not its size. Everything is
    * equi-join + aggregate; the final left join restores docs with no
    * shared spans (and sub-8-token docs) at coverage 0. */
  def qDedupSpanCoverage(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val ts = split(col("text"), " ")
    val docs = Tables.documents(spark, sfDir)
    val wins = Tables.spread(docs)
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= SubstrK)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("ts")) - SubstrK),
          i => concat_ws(" ",
            (0 until SubstrK).map(o => element_at(col("ts"), i + o + 1)): _*)))
          .as(Seq("g", "win")))
      .transform(scope.persist)
    val shared = wins.select(col("doc_id"), col("win")).distinct()
      .groupBy(col("win")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2)
      .select("win")
    val covered = wins.join(shared, "win")
      .select(col("doc_id"),
        explode(sequence(col("g"), col("g") + SubstrK - 1)).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("covered_tokens"))
    docs.select(col("doc_id"), size(ts).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left_outer")
      .withColumn("covered_tokens", coalesce(col("covered_tokens"), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("covered_tokens"),
        (col("n_tokens") - col("covered_tokens")).as("retained_tokens"),
        round(col("covered_tokens").cast(DoubleType) / col("n_tokens"), 6)
          .as("dup_fraction_r"))
  }

  val qDedupSpanCoverageOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |w AS (
       |  SELECT doc_id, g - 1 AS g,
       |    ${(0 until 8).map(o => s"ts[g+$o]").mkString(" || ' ' || ")} AS win
       |  FROM t, unnest(generate_series(1, len(ts) - 7)) AS u(g)
       |  WHERE len(ts) >= 8),
       |sharedw AS (
       |  SELECT win FROM (SELECT DISTINCT doc_id, win FROM w)
       |  GROUP BY win HAVING COUNT(*) >= 2),
       |cov AS (
       |  SELECT DISTINCT w.doc_id, w.g + o.o AS p
       |  FROM w JOIN sharedw USING (win),
       |       unnest(generate_series(0, 7)) AS o(o)),
       |cc AS (SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY 1),
       |n AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |      FROM documents)
       |SELECT n.doc_id, n.n_tokens,
       |  COALESCE(cc.covered, 0) AS covered_tokens,
       |  n.n_tokens - COALESCE(cc.covered, 0) AS retained_tokens,
       |  round(CAST(COALESCE(cc.covered, 0) AS DOUBLE) / n.n_tokens, 6)
       |    AS dup_fraction_r
       |FROM n LEFT JOIN cc ON cc.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin

  // ---- SemDeDup: cell-partitioned semantic dedup ----

  /** Cosine threshold above which two same-cell vectors count as
    * semantic duplicates (matches the ANN graph family's mining
    * threshold, so the two families agree on what "near" means). */
  private val SemDeDupTheta = 0.4

  /** SEMDEDUP-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — public method): partition the embedding
    * corpus into k-means cells, compare pairs ONLY within a cell,
    * and keep one representative per near-duplicate chain. The cell
    * restriction is the whole algorithm — it turns the O(n²) cosine
    * dedup into K independent O((n/K)²) problems, and at 100 TB K
    * scales with the corpus so the per-cell quadratic stays bounded
    * (cells are the parallel unit; a production run k-means-trains
    * ~√n centroids, here the deterministic IVF seeds).
    *
    * Keep rule: a vector is DROPPED iff some same-cell vector with a
    * SMALLER id sits at cosine ≥ θ — the deterministic greedy
    * "keep lowest id" variant of the paper's keep-one-per-group
    * (the paper keeps a random/farthest member; any single-member
    * choice dedups the same mass).
    *
    * Plan: centroid assignment is a broadcast join + argmax window
    * (corpus never shuffles for it); the pair join is an EQUI-join on
    * cell id; the verdict is a left join of the corpus against the
    * (graph-sized) dropped set. Reference analogue: the handler stage
    * dropping already-seen payloads (handler/passthrough.go) — here
    * "seen" is semantic, not byte-equal. */
  def qSemDeDup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = normedVectors(Tables.embeddings(spark, sfDir))
    val assigned = SimilarityOps.cellAssignments(
      e, SimilarityOps.centroids(e), nprobe = 1)
    val a = assigned.select(col("cid"), col("vec_id").as("a_id"),
      col("v").as("av"), col("nrm").as("an"))
    val b = assigned.select(col("cid"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", dot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cosine") >= SemDeDupTheta)
      .groupBy(col("b_id").as("vec_id"))
      .agg(count(lit(1)).as("n_close_earlier"))
    assigned.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").cast("int").as("cid"),
        col("n_close_earlier").isNull.as("keep"),
        coalesce(col("n_close_earlier"), lit(0L)).as("n_close_earlier"))
  }

  /** Self-contained oracle: same IVF seed assignment CTE as the
    * k-means family, within-cell pair join, greedy keep-lowest-id. */
  val qSemDeDupOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, v, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
       |dropped AS (
       |  SELECT y.vec_id, COUNT(*) AS n_close_earlier
       |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |   AND list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= $SemDeDupTheta
       |  GROUP BY y.vec_id)
       |SELECT a.vec_id, CAST(a.cid AS INT) AS cid,
       |  d.vec_id IS NULL AS keep,
       |  COALESCE(d.n_close_earlier, 0) AS n_close_earlier
       |FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  /** CROSS-SOURCE DUPLICATION MATRIX — the curation report that tells
    * a corpus owner WHERE its duplication lives: for every (source,
    * source) pair, how many mined near-dup edges connect them and how
    * many distinct documents those edges touch. Within-source mass
    * (src_x = src_y) is ordinary re-posting; CROSS-source mass is the
    * mirror/syndication signal that drives source-level decisions
    * (drop the scraped mirror, keep the origin) — and the
    * contamination signal when one "source" is an eval set.
    *
    * Scale shape: a pure CONSUMER of the stored edge artifact (mining
    * amortized, plan-pinned mining-free); the only corpus touch is
    * the 2-column (doc_id, source) projection joined to the
    * graph-sized edge relation — an id→dimension enrichment where
    * AQE broadcasts whichever side is small (typically the edges).
    * Output is source²-bounded — metadata-sized forever. */
  def qDedupSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val lab = textEdgesStored(spark, sfDir).select("a_id", "b_id")
      .join(src.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("source", "sa"), "a_id")
      .join(src.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("source", "sb"), "b_id")
      .select(col("a_id"), col("b_id"),
        least(col("sa"), col("sb")).as("src_x"),
        greatest(col("sa"), col("sb")).as("src_y"))
      .transform(scope.persist)
    val edges = lab.groupBy(col("src_x"), col("src_y"))
      .agg(count(lit(1)).as("n_edges"))
    val docs = lab.select(col("src_x"), col("src_y"), col("a_id").as("doc_id"))
      .unionByName(lab.select(col("src_x"), col("src_y"), col("b_id").as("doc_id")))
      .groupBy(col("src_x"), col("src_y"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    edges.join(docs, Seq("src_x", "src_y"))
      .withColumn("cross_source", col("src_x") =!= col("src_y"))
  }

  /** The cluster oracle's matched-edge CTEs + the source enrichment. */
  val qDedupSourceOverlapOracle: String =
    s"""WITH $shinglesSql,
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |matched AS (
       |  SELECT p.a_id, p.b_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |lab AS (
       |  SELECT m.a_id, m.b_id,
       |    LEAST(da.source, db.source) AS src_x,
       |    GREATEST(da.source, db.source) AS src_y
       |  FROM matched m
       |  JOIN documents da ON da.doc_id = m.a_id
       |  JOIN documents db ON db.doc_id = m.b_id),
       |e AS (SELECT src_x, src_y, COUNT(*) AS n_edges FROM lab GROUP BY 1, 2),
       |d AS (SELECT src_x, src_y, COUNT(DISTINCT doc_id) AS n_docs FROM (
       |  SELECT src_x, src_y, a_id AS doc_id FROM lab
       |  UNION ALL SELECT src_x, src_y, b_id FROM lab) GROUP BY 1, 2)
       |SELECT e.src_x, e.src_y, e.n_edges, d.n_docs,
       |  e.src_x != e.src_y AS cross_source
       |FROM e JOIN d USING (src_x, src_y)
       |ORDER BY e.src_x, e.src_y""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_source_overlap" -> (qDedupSourceOverlap _),
    "dedup_semdedup" -> (qSemDeDup _),
    "dedup_span_coverage" -> (qDedupSpanCoverage _),
    "dedup_incremental" -> (qDedupIncremental _),
    "dedup_incremental_stored" -> (qDedupIncrementalFromIndex _),
    "dedup_substring" -> (qDedupSubstring _),
    "dedup_span_removal" -> (qDedupSpanRemoval _),
    "dedup_levenshtein" -> (qDedupLevenshtein _),
    "dedup_exact" -> (qDedupExact _),
    "dedup_paragraphs" -> (qDedupParagraphs _),
    "dedup_url_canonical" -> (qUrlCanonical _),
    "dedup_crawl_delta" -> (qCrawlDelta _),
    "dedup_delta_classify" -> (qDedupDeltaClassify _),
    "dedup_index_refresh" -> (qDedupIndexRefresh _),
    "dedup_ngram_jaccard" -> (qDedupJaccard _),
    "dedup_jaccard_capped" -> (qDedupJaccardCapped _),
    "dedup_containment" -> (qDedupContainment _),
    "sample_cluster_split" -> (qSampleClusterSplit _),
    "sample_contrastive_pairs" -> (qContrastivePairs _),
    "dedup_minhash_lsh" -> (qDedupMinhashLsh _),
    "dedup_lsh_band_tuning" -> (qDedupLshBandTuning _),
    "dedup_lsh_calibration" -> (qDedupLshCalibration _),
    "dedup_simhash" -> (qDedupSimhash _),
    "dedup_simhash_hamming" -> (qDedupSimhashHamming _),
    "dedup_embedding_cosine" -> (qDedupEmbedding _),
    "dedup_clusters" -> (qDedupClusters _),
    "dedup_clusters_stored" -> (qDedupClustersStored _),
    // kept names of the query contract: the clusters builders and oracle
    "dedup_clusters_stars" -> (qDedupClusters _),
    "dedup_clusters_stars_stored" -> (qDedupClustersStored _),
    "dedup_representatives" -> (qDedupRepresentatives _),
    "dedup_representatives_stored" -> (qDedupRepresentativesStored _),
    "dedup_lsh_audit" -> (qDedupLshAudit _),
    "dedup_lsh_audit_stratum" -> (qDedupLshAuditStratum _),
    "dedup_semantic_clusters" -> (qDedupSemanticClusters _),
    "dedup_semantic_clusters_ann" -> (qDedupSemanticClustersAnn _))

  val oracles: Map[String, String] = Map(
    "dedup_source_overlap" -> qDedupSourceOverlapOracle,
    "dedup_semdedup" -> qSemDeDupOracle,
    "dedup_span_coverage" -> qDedupSpanCoverageOracle,
    "dedup_incremental" -> qDedupIncrementalOracle,
    // the stored-index variant classifies identically by construction
    "dedup_incremental_stored" -> qDedupIncrementalOracle,
    "dedup_substring" -> qDedupSubstringOracle,
    "dedup_span_removal" -> qDedupSpanRemovalOracle,
    "dedup_levenshtein" -> qDedupLevenshteinOracle,
    "dedup_exact" -> qDedupExactOracle,
    "dedup_paragraphs" -> qDedupParagraphsOracle,
    "dedup_url_canonical" -> qUrlCanonicalOracle,
    "dedup_crawl_delta" -> qCrawlDeltaOracle,
    "dedup_delta_classify" -> qDedupDeltaClassifyOracle,
    "dedup_index_refresh" -> qDedupIndexRefreshOracle,
    "dedup_ngram_jaccard" -> qDedupJaccardOracle,
    "dedup_jaccard_capped" -> qDedupJaccardCappedOracle,
    "dedup_containment" -> qDedupContainmentOracle,
    "sample_cluster_split" -> qSampleClusterSplitOracle,
    "sample_contrastive_pairs" -> qContrastivePairsOracle,
    "dedup_minhash_lsh" -> qDedupMinhashLshOracle,
    "dedup_lsh_band_tuning" -> qDedupLshBandTuningOracle,
    "dedup_lsh_calibration" -> qDedupLshCalibrationOracle,
    "dedup_simhash" -> qDedupSimhashOracle,
    "dedup_simhash_hamming" -> qDedupSimhashHammingOracle,
    "dedup_embedding_cosine" -> qDedupEmbeddingOracle,
    "dedup_clusters" -> qDedupClustersOracle,
    // the stored variants are the same miner materialized — oracles
    // shared verbatim, exactly like the ANN graph family
    "dedup_clusters_stored" -> qDedupClustersOracle,
    "dedup_clusters_stars" -> qDedupClustersOracle,
    "dedup_clusters_stars_stored" -> qDedupClustersOracle,
    "dedup_representatives" -> qDedupRepresentativesOracle,
    "dedup_representatives_stored" -> qDedupRepresentativesOracle,
    "dedup_lsh_audit" -> qDedupLshAuditOracle,
    "dedup_lsh_audit_stratum" -> qDedupLshAuditStratumOracle,
    "dedup_semantic_clusters" -> qDedupSemanticClustersOracle,
    "dedup_semantic_clusters_ann" -> qDedupSemanticClustersAnnOracle)
}
