package graft.operators

import graft.{QueryScope, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The END-TO-END corpus build (the Lee et al. 2022 shape a
  * training-data team actually ships): quality + language gate →
  * exact dedup → near-dup removal (df-capped jaccard) → benchmark
  * decontamination → domain-mixture sampling, composed as ONE
  * declarative query over the `documents` table.
  *
  * Composition is where pipelines usually lose their scale
  * properties, so those are the design constraints here:
  *   - the per-document gates reuse `TextOps.gatedDocs` — one wide
  *     projection, bit-identical to `text_quality_pipeline`;
  *   - the shingle relation is exploded ONCE and persisted; the
  *     near-dup miner AND the decontamination join both read it from
  *     cache (plan-pinned in PlanAuditSpec), instead of each stage
  *     re-exploding the corpus ~40×;
  *   - every stage is an equi-join or anti-join off that one
  *     relation — no stage introduces a cross join or an extra scan
  *     of `documents` beyond the two the gate semantics require
  *     (gate columns + canonical-fingerprint agg);
  *   - drops compose as anti-joins on doc_id, so the surviving set
  *     needs no per-stage materialization.
  *
  * Near-dup policy: drop the LARGER id of every matched pair (greedy
  * keep-first) — deterministic and recursion-free, which keeps the
  * DuckDB oracle exact; the clustering variants (`dedup_clusters*`)
  * are the component-canonical alternative when transitive grouping
  * is wanted.
  */
object CorpusPipeline {

  private val Budget = 120
  private val MinShingleHits = 5

  def qPipelineCorpus(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val docs = Tables.documents(spark, sfDir)
    // the one shingle explode, shared by near-dup mining and
    // decontamination (released after the query's first action)
    val sh = scope.persist(bucketedShingles(docs))
    stages(scope, docs, sh)
  }

  /** The bucketed (doc_id, shingle, bucket) relation the pipeline
    * explodes once — exposed so the warm-composition spec can
    * materialize it up front, exactly as a platform deployment would. */
  private[graft] def bucketedShingles(docs: DataFrame): DataFrame =
    DedupOps.shingles(docs).withColumn("bucket", SamplingOps.bucket100("doc_id"))

  /** Stage 1+2 (quality/language gate + exact-dedup canonical filter)
    * — shared verbatim by the live pipeline and the stored variant so
    * their admission semantics cannot drift. The gate relation is
    * materialized here, in the caller's scope. */
  private def cleanDocs(scope: QueryScope, docs: DataFrame): DataFrame = {
    // r17: the gate projection feeds TWO consumers — the canonical
    // fingerprint aggregate and the admission filter — and each used
    // to re-run the whole tokenize-and-score subtree (two full corpus
    // gate passes per run). The thin gate relation is materialized once
    // (eagerly, as rows in a persisted RDD) and both consumers read it.
    // Not the columnar cache: an r16 experiment measured it WORSE here
    // (8.9 -> 14.8 s — InMemoryRelation serialization + degraded
    // downstream join planning), the same cache-vs-checkpoint trade the
    // components loop hit. Only the columns the two consumers need are
    // kept.
    val gated = scope.materialize(
      TextOps.gatedDocs(docs, col("source"), SamplingOps.bucket100("doc_id").as("bucket"))
        .select(col("doc_id"), col("source"), col("bucket"),
          col("fp_content"), col("quality_score"), col("n_tokens"),
          col("predicted_lang"), col("lang")))
    val canonical = gated.groupBy(col("fp_content"))
      .agg(min(col("doc_id")).as("keep_id"))
    gated
      .filter(col("quality_score") >= 0.2 && col("n_tokens") >= 10 &&
        col("predicted_lang") === col("lang"))
      .join(canonical, col("doc_id") === col("keep_id"))
      .select(col("doc_id"), col("source"), col("bucket"))
  }

  /** Stage 5 (deterministic mixture sampling over the survivor set) —
    * shared by both pipeline variants: source-weighted quotas off a
    * broadcast 1-row total, md5-ordered pick within each source. */
  private def mixtureSample(survivors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weight = when(col("source") === "src0", 3.0)
      .when(col("source") === "src1", 2.0).otherwise(1.0)
    val srcW = survivors.select("source").distinct().withColumn("w", weight)
    val total = srcW.agg(sum(col("w")).as("tw"))
    val quotas = srcW.crossJoin(broadcast(total))
      .withColumn("quota", floor(lit(Budget) * col("w") / col("tw")))
      .select("source", "quota")
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    survivors.withColumn("rn", row_number().over(w))
      .join(broadcast(quotas), "source")
      .filter(col("rn") <= col("quota"))
      .select("doc_id", "source", "rn", "quota")
  }

  /** The five composed stages over an already-scanned corpus and an
    * already-exploded (doc_id, shingle, bucket) relation. Split out so
    * the WARM-COMPOSITION cost — what the pipeline adds on top of
    * relations a platform team would have materialized anyway — is
    * measurable separately from the cold scan+explode
    * (CorpusPipelineSpec times both; NOTES_r6 records the split).
    * Its intermediates are kept in the caller's scope `s`. */
  private[graft] def stages(scope: QueryScope, docs: DataFrame, sh: DataFrame): DataFrame = {
    // stage 1+2: quality/language gate + exact dedup (min doc_id per
    // content fingerprint, computed over ALL docs as in qQualityPipeline)
    val clean = cleanDocs(scope, docs)

    // stage 3: near-dup removal among the clean TRAIN docs — df-capped
    // jaccard (same cap and threshold as dedup_jaccard_capped), drop
    // the larger id of each matched pair.
    // cleanTrain is persisted: it anchors FOUR downstream consumers
    // (shingle slice, df-cap, pair join, survivor anti-joins) and each
    // un-cached use would replay the whole gate+canonical subtree —
    // measured 17 corpus scans without the persist, 3 with. It is a
    // thin 3-column relation (ids + source + bucket), far smaller than
    // the corpus it filters.
    val cleanTrain = scope.persist(clean.filter(col("bucket") < 80))
    val shClean = sh.filter(col("bucket") < 80)
      .join(cleanTrain.select("doc_id"), "doc_id")
      .select("doc_id", "shingle")
    val rare = shClean.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20)
      .select("shingle")
    val nearDups = DedupOps.jaccardPairs(shClean.join(rare, "shingle"))
      .filter(col("jaccard") >= 0.1)
      .select(col("b_id").as("doc_id")).distinct()

    // stage 4: decontamination — drop train docs sharing >= 5 distinct
    // shingles with the held-out bench slice (bucket >= 90, full corpus)
    val contaminated = shClean
      .join(sh.filter(col("bucket") >= 90).select(col("shingle")), "shingle")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("shingle")).as("hits"))
      .filter(col("hits") >= MinShingleHits)
      .select("doc_id")

    val survivors = cleanTrain.select("doc_id", "source")
      .join(nearDups, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")

    // stage 5: mixture sampling over the survivors (same weights and
    // hash-order pick as sample_mixture, budget scaled to the pipeline)
    mixtureSample(survivors)
  }

  /** Stored DECONTAMINATION artifact: for every train-bucket document
    * (bucket < 80), the number of its distinct shingles shared with
    * any bench-slice document (bucket >= 90). GATE-INDEPENDENT — a
    * doc's bench-overlap count doesn't depend on which other docs
    * pass quality gates — so it can be mined once per dataset and
    * served to any pipeline configuration. The expensive part of
    * stage 4 (the corpus shingle explode + collision join) moves
    * into this one-time build; serving is a filter + anti-join. */
  private[graft] def benchHitsStored(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Artifacts.getOrBuild(spark, sfDir, "bench_hits") { d =>
      QueryScope.eager(spark) { scope =>
        val sh = scope.persist(bucketedShingles(Tables.documents(spark, sfDir)))
        sh.filter(col("bucket") < 80).select("doc_id", "shingle")
          .join(sh.filter(col("bucket") >= 90).select("shingle").distinct(), "shingle")
          .groupBy(col("doc_id")).agg(count_distinct(col("shingle")).as("hits"))
          .write.parquet(d)
      }
    }
    Tables.parquet(spark, dir)
  }

  /** [[qPipelineCorpus]] SERVED FROM STORED ARTIFACTS — the production
    * shape (r9 verdict #3): the live pipeline re-mines its near-dup
    * edges and decontamination hits on every run, which at sf0.1 is
    * ~3/4 of its price and at 100 TB is two full corpus explode+join
    * passes per invocation. This variant consumes the durable
    * mine-once relations instead:
    *   - near-dup: the GLOBAL capped-Jaccard edge artifact
    *     ([[DedupOps.textEdgesStored]] — the same relation the
    *     clusters/representatives family serves), filtered to pairs
    *     with both ends in the clean train set, dropping the larger
    *     id (same greedy keep-first policy);
    *   - decontamination: the [[benchHitsStored]] hit counts,
    *     thresholded and anti-joined.
    * The plan touches `documents` only for the gate columns — NO
    * shingle explode anywhere (plan-pinned in PlanAuditSpec).
    *
    * Semantics note (why this is its own query + oracle rather than a
    * swap-in): the live stage 3 computes its DF cap over the
    * clean-train shingle slice; the artifact's cap is corpus-global —
    * the mine-once discipline fixes the edge definition at mining
    * time. The oracle below reproduces the artifact definitions
    * exactly, so the hash gate still proves end-to-end equivalence. */
  def qPipelineCorpusStored(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val docs = Tables.documents(spark, sfDir)
    val cleanTrain = scope.persist(cleanDocs(scope, docs).filter(col("bucket") < 80))
    val ids = cleanTrain.select("doc_id")
    val nearDups = DedupOps.textEdgesStored(spark, sfDir)
      .select("a_id", "b_id")
      .join(ids, col("a_id") === col("doc_id"), "left_semi")
      .join(ids, col("b_id") === col("doc_id"), "left_semi")
      .select(col("b_id").as("doc_id")).distinct()
    val contaminated = benchHitsStored(spark, sfDir)
      .filter(col("hits") >= MinShingleHits)
      .select("doc_id")
    val survivors = cleanTrain.select("doc_id", "source")
      .join(nearDups, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    mixtureSample(survivors)
  }

  val qPipelineCorpusOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS ts FROM documents),
       |gate AS (SELECT doc_id, lang, source,
       |  CAST(len(ts) AS INT) AS n_tokens,
       |  (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) *
       |    (1.0 - CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(ts))
       |    AS quality_score,
       |  CAST(len(list_filter(ts, x -> x IN ('the','a','of','and'))) AS INT) AS s_en,
       |  CAST(len(list_filter(ts, x -> x IN ('der','die','das','und'))) AS INT) AS s_de,
       |  CAST(len(list_filter(ts, x -> x IN ('el','los','las','y'))) AS INT) AS s_es,
       |  CAST(len(list_filter(ts, x -> x IN ('le','les','et','une'))) AS INT) AS s_fr,
       |  md5(array_to_string(list_sort(list_distinct(ts)), ' ')) AS fp_content,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
       |  FROM t),
       |pred AS (SELECT *,
       |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
       |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS predicted_lang
       |  FROM gate),
       |canon AS (SELECT fp_content, min(doc_id) AS keep_id FROM gate GROUP BY 1),
       |clean AS (
       |  SELECT p.doc_id, p.source, p.bucket
       |  FROM pred p JOIN canon c ON c.keep_id = p.doc_id
       |  WHERE p.quality_score >= 0.2 AND p.n_tokens >= 10
       |    AND p.predicted_lang = p.lang),
       |sh AS (
       |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
       |  FROM t, unnest(generate_series(1, len(ts)-2)) AS u(g)),
       |shb AS (SELECT doc_id, shingle,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
       |  FROM sh),
       |shc AS (SELECT s.doc_id, s.shingle
       |  FROM shb s JOIN clean c USING (doc_id) WHERE s.bucket < 80 AND c.bucket < 80),
       |rare AS (SELECT shingle FROM shc GROUP BY shingle HAVING COUNT(*) <= 20),
       |kept AS (SELECT shc.doc_id, shc.shingle FROM shc JOIN rare USING (shingle)),
       |sc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |nd AS (
       |  SELECT DISTINCT p.b_id AS doc_id FROM pairs p
       |  JOIN sc sa ON sa.doc_id = p.a_id
       |  JOIN sc sb ON sb.doc_id = p.b_id
       |  WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.1),
       |cont AS (
       |  SELECT s.doc_id FROM shc s
       |  JOIN shb b2 ON s.shingle = b2.shingle AND b2.bucket >= 90
       |  GROUP BY s.doc_id HAVING COUNT(DISTINCT s.shingle) >= $MinShingleHits),
       |surv AS (
       |  SELECT c.doc_id, c.source FROM clean c
       |  WHERE c.bucket < 80
       |    AND c.doc_id NOT IN (SELECT doc_id FROM nd)
       |    AND c.doc_id NOT IN (SELECT doc_id FROM cont)),
       |sw AS (SELECT DISTINCT source FROM surv),
       |wt AS (SELECT source,
       |  CASE WHEN source = 'src0' THEN 3.0
       |       WHEN source = 'src1' THEN 2.0 ELSE 1.0 END AS w FROM sw),
       |q AS (SELECT source,
       |  CAST(floor($Budget * w / (SELECT SUM(w) FROM wt)) AS BIGINT) AS quota
       |  FROM wt),
       |rk AS (SELECT doc_id, source,
       |  ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM surv)
       |SELECT rk.doc_id, rk.source, rk.rn, q.quota
       |FROM rk JOIN q USING (source) WHERE rn <= quota
       |ORDER BY source, rn""".stripMargin

  /** Oracle for the STORED variant: identical gate/canonical/mixture
    * CTEs; the near-dup CTEs reproduce the GLOBAL capped-Jaccard
    * artifact definition (df cap and pair counts over the whole
    * corpus — verbatim the `dedup_jaccard_capped` edge SQL), and the
    * contamination CTE counts bench-shared shingles for every train
    * doc (the bench_hits artifact definition). */
  val qPipelineCorpusStoredOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS ts FROM documents),
       |gate AS (SELECT doc_id, lang, source,
       |  CAST(len(ts) AS INT) AS n_tokens,
       |  (CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) *
       |    (1.0 - CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to'))) AS DOUBLE) / len(ts))
       |    AS quality_score,
       |  CAST(len(list_filter(ts, x -> x IN ('the','a','of','and'))) AS INT) AS s_en,
       |  CAST(len(list_filter(ts, x -> x IN ('der','die','das','und'))) AS INT) AS s_de,
       |  CAST(len(list_filter(ts, x -> x IN ('el','los','las','y'))) AS INT) AS s_es,
       |  CAST(len(list_filter(ts, x -> x IN ('le','les','et','une'))) AS INT) AS s_fr,
       |  md5(array_to_string(list_sort(list_distinct(ts)), ' ')) AS fp_content,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
       |  FROM t),
       |pred AS (SELECT *,
       |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
       |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS predicted_lang
       |  FROM gate),
       |canon AS (SELECT fp_content, min(doc_id) AS keep_id FROM gate GROUP BY 1),
       |clean AS (
       |  SELECT p.doc_id, p.source, p.bucket
       |  FROM pred p JOIN canon c ON c.keep_id = p.doc_id
       |  WHERE p.quality_score >= 0.2 AND p.n_tokens >= 10
       |    AND p.predicted_lang = p.lang),
       |ct AS (SELECT doc_id, source FROM clean WHERE bucket < 80),
       |sh AS (
       |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
       |  FROM t, unnest(generate_series(1, len(ts)-2)) AS u(g)),
       |shb AS (SELECT doc_id, shingle,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
       |  FROM sh),
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
       |nd AS (
       |  SELECT DISTINCT e.b_id AS doc_id FROM edges e
       |  JOIN ct a ON a.doc_id = e.a_id
       |  JOIN ct b ON b.doc_id = e.b_id),
       |cont AS (
       |  SELECT s.doc_id FROM shb s
       |  JOIN shb b2 ON s.shingle = b2.shingle AND b2.bucket >= 90
       |  WHERE s.bucket < 80
       |  GROUP BY s.doc_id HAVING COUNT(DISTINCT s.shingle) >= $MinShingleHits),
       |surv AS (
       |  SELECT c.doc_id, c.source FROM ct c
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM nd)
       |    AND c.doc_id NOT IN (SELECT doc_id FROM cont)),
       |sw AS (SELECT DISTINCT source FROM surv),
       |wt AS (SELECT source,
       |  CASE WHEN source = 'src0' THEN 3.0
       |       WHEN source = 'src1' THEN 2.0 ELSE 1.0 END AS w FROM sw),
       |q AS (SELECT source,
       |  CAST(floor($Budget * w / (SELECT SUM(w) FROM wt)) AS BIGINT) AS quota
       |  FROM wt),
       |rk AS (SELECT doc_id, source,
       |  ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM surv)
       |SELECT rk.doc_id, rk.source, rk.rn, q.quota
       |FROM rk JOIN q USING (source) WHERE rn <= quota
       |ORDER BY source, rn""".stripMargin

  /** DATASET CARD — the per-source summary table every corpus release
    * ships (Gebru et al. 2021 "Datasheets for Datasets" made the
    * practice standard; HF dataset cards are its web form): document /
    * token / char volumes, language spread, exact-duplicate mass, and
    * each source's share of the corpus — the numbers a consumer reads
    * BEFORE training, and the regression surface a pipeline diffs
    * between crawls.
    *
    * Exactness: counts are Longs; the two ratio columns are single
    * IEEE divisions of exact integers (the repo's ratio convention).
    * Duplicate mass = docs whose md5(text) is shared corpus-WIDE
    * (cross-source copies count in every source holding one), minus
    * each group's one canonical — i.e. the docs exact dedup would
    * drop, sliced by source.
    *
    * Scale shape: ONE scan computes per-doc fingerprint + token count
    * map-side; the fingerprint groupBy and the source rollup are the
    * only corpus-sized shuffles, both with map-side combine. The
    * grand-total row share is a 1-row literal folded in driver-side
    * (no 1-row join; ANN-sizing-count discipline). */
  def qDatasetCard(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val perDoc = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"),
        md5(col("text").cast("binary")).as("fp"))
      .transform(scope.persist)
    val totalDocs = perDoc.count()
    val dupMass = perDoc
      .withColumn("grp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .withColumn("keeper", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
          .orderBy(col("doc_id"))) === 1)
      .filter(col("grp") > 1 && !col("keeper"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
    perDoc.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .join(dupMass, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_langs"),
        col("min_doc_id"), col("max_doc_id"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)) / col("n_docs")
          .cast("double"), 6).as("dup_rate_r"),
        round(col("n_docs") / lit(totalDocs.toDouble), 6).as("corpus_share_r"))
  }

  val qDatasetCardOracle: String =
    """WITH d AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    len(string_split(text, ' ')) AS n_tokens, md5(text) AS fp
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    COUNT(*) OVER (PARTITION BY fp) AS grp,
      |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1 AS keeper
      |  FROM d),
      |dup AS (
      |  SELECT source, COUNT(*) AS n_dup_docs FROM g
      |  WHERE grp > 1 AND NOT keeper GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n FROM d),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |  FROM d GROUP BY 1)
      |SELECT a.source, a.n_docs, a.n_tokens, a.n_chars, a.n_langs,
      |  a.min_doc_id, a.max_doc_id,
      |  COALESCE(dup.n_dup_docs, 0) AS n_dup_docs,
      |  round(COALESCE(dup.n_dup_docs, 0) / CAST(a.n_docs AS DOUBLE), 6)
      |    AS dup_rate_r,
      |  round(a.n_docs / CAST((SELECT n FROM tot) AS DOUBLE), 6)
      |    AS corpus_share_r
      |FROM agg a LEFT JOIN dup USING (source)
      |ORDER BY a.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_dataset_card" -> (qDatasetCard _),
    "pipeline_corpus" -> (qPipelineCorpus _),
    "pipeline_corpus_stored" -> (qPipelineCorpusStored _))

  val oracles: Map[String, String] = Map(
    "pipeline_dataset_card" -> qDatasetCardOracle,
    "pipeline_corpus" -> qPipelineCorpusOracle,
    "pipeline_corpus_stored" -> qPipelineCorpusStoredOracle)
}
