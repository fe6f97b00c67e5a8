package graft.operators

import graft.{QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Sampling and class-balancing operators for training-data pipelines
  * (north star beyond the reference surface): deterministic hash-based
  * train/valid/test splits and per-class downsampling over the
  * driver's `documents` table.
  *
  * Why HASH sampling, not `df.sample()`: at 100 TB the split must be
  *   - reproducible across reruns/engines (rand() is neither),
  *   - stable under re-partitioning and appends (a doc keeps its split
  *     forever, so train never contaminates test between snapshots),
  *   - joinable (any table keyed by doc_id lands in the same split).
  * `md5(doc_id) → bucket ∈ [0,100)` gives all three, costs one scan
  * with zero shuffle, and the DuckDB oracle reproduces it bit-for-bit
  * (the repo-wide md5-parity convention, DedupOps.scala).
  */
object SamplingOps {

  /** Exact 1-based GLOBAL rank under `order` without an unpartitioned
    * window — the scalable twin of `row_number() OVER (ORDER BY …)`.
    * An unpartitioned WindowExec funnels the whole relation through
    * one reducer; this decomposition is how a distributed engine
    * actually totals-orders: (1) range-shuffle on the sort key (the
    * same exchange a global sort plans, every shard sorts in
    * parallel), (2) rank WITHIN each range shard, (3) one tiny
    * shard-count aggregate → cumulative offsets (≤ shuffle-partition
    * rows), broadcast back and added to the local rank. Exact for any
    * shard boundaries as long as `order` is a total order (callers
    * append a unique tiebreak column), so the sampled range boundaries
    * never affect the answer.
    *
    * The sharded relation is PERSISTED in the caller's scope `s` —
    * shard ids must be identical between the offset aggregate and the
    * ranked output (range boundaries are sampled per execution).
    *
    * Recomputation-safety note (cluster semantics, not just
    * local[32]): the range boundaries live in the exchange's
    * `RangePartitioner`, sampled ONCE when the shuffle map stage
    * runs; a lost cached partition recomputes by re-FETCHING the
    * already-materialized shuffle output under those same
    * boundaries, so shard ids cannot drift between the offset
    * aggregate and the ranked output as long as the shuffle files
    * survive. The failure mode that CAN resample is losing the
    * shuffle files themselves (executor death with no external
    * shuffle service / migration), which re-runs the whole stage —
    * on such clusters, write the sharded relation to reliable storage
    * instead of relying on this persist. */
  private[operators] def withGlobalRank(scope: QueryScope, df: DataFrame, rankCol: String,
      order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val local = df.repartitionByRange(parts, order: _*)
      .withColumn("__shard", spark_partition_id())
      .withColumn("__lr", row_number().over(
        Window.partitionBy(col("__shard")).orderBy(order: _*)))
      .transform(scope.persist)
    val offsets = local.groupBy(col("__shard")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__shard"), col("__off"))
    local.join(broadcast(offsets), Seq("__shard"))
      .withColumn(rankCol, col("__off") + col("__lr"))
      .drop("__shard", "__lr", "__off")
  }

  /** Exact EXCLUSIVE global prefix sum of `valCol` under `order`
    * without an unpartitioned window — the cumulative-sum twin of
    * [[withGlobalRank]] (same decomposition as the skyline /
    * wal-gaps sweeps, factored once): (1) range-shuffle on the sort
    * key, (2) per-shard exclusive running sum in parallel, (3) one
    * shard-count aggregate of shard totals → cumulative shard
    * offsets (≤ shuffle-partition rows through the only remaining
    * global window), broadcast back and added to the local running
    * sum. Exact when `order` is a TOTAL order of `df` (callers pass
    * a key-unique relation or append a tiebreak column) — with ties
    * straddling a shard boundary the split between "before" and
    * "current" would be boundary-dependent, exactly as a naive
    * `ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING` window is
    * tie-order-dependent. Same persist + recomputation-safety
    * contract as [[withGlobalRank]]. */
  private[operators] def withGlobalCumSum(scope: QueryScope, df: DataFrame, valCol: String,
      outCol: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val local = df.repartitionByRange(parts, order: _*)
      .withColumn("__shard", spark_partition_id())
      .withColumn("__lc", coalesce(sum(col(valCol)).over(
        Window.partitionBy(col("__shard")).orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .transform(scope.persist)
    val offsets = local.groupBy(col("__shard"))
      .agg(sum(col(valCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(
        Window.orderBy(col("__shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__shard"), col("__off"))
    local.join(broadcast(offsets), Seq("__shard"))
      .withColumn(outCol, col("__off") + col("__lc"))
      .drop("__shard", "__lc", "__off")
  }

  /** Closed-form `ntile(buckets)` bucket of 1-based rank `r` over `n`
    * total rows, as a SQL expression string — the map-only twin of the
    * unpartitioned ntile window. ntile geometry: the first n mod b
    * buckets hold ⌈n/b⌉ ranks, the rest ⌊n/b⌋ (q = 0 ⇒ n < b and
    * bucket r holds exactly rank r). */
  private[operators] def ntileExpr(n: Long, buckets: Int, r: String): String = {
    val q = n / buckets
    val rem = n % buckets
    s"""CASE WHEN ${q}L = 0 THEN $r
       | WHEN $r <= ${rem * (q + 1)}L THEN ($r + ${q}L) DIV ${q + 1}L
       | ELSE ${rem}L + ($r - ${rem * (q + 1)}L + ${q - 1}L) DIV ${q}L
       | END""".stripMargin.replace('\n', ' ')
  }

  /** [[ntileExpr]] with the group size as a COLUMN (`nCol`) instead
    * of a literal — the per-group form for decomposed partitioned
    * ntiles (same bucket geometry; all integer). */
  private[operators] def ntileColExpr(nCol: String, buckets: Int,
      r: String): String = {
    val q = s"($nCol DIV $buckets)"
    val rem = s"($nCol % $buckets)"
    s"""CASE WHEN $q = 0 THEN $r
       | WHEN $r <= $rem * ($q + 1) THEN ($r + $q) DIV ($q + 1)
       | ELSE $rem + ($r - $rem * ($q + 1) + $q - 1) DIV $q
       | END""".stripMargin.replace('\n', ' ')
  }

  /** Deterministic bucket in [0,100): first 4 md5 hex chars of the id. */
  private[graft] def bucket100(idCol: String) =
    conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("int") % 100

  /** The DuckDB rendering of [[bucket100]] — one definition beside its
    * Spark twin so a stratum oracle and the engine can only drift in
    * one place (r15 review: the literal had been copy-pasted per
    * oracle). Bit-for-bit equal to [[bucket100]]: both take the first
    * 4 hex chars of md5(CAST(id AS string)) mod 100. */
  private[graft] def bucket100Sql(idCol: String): String =
    s"CAST('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 4) AS INT) % 100"

  /** Train/valid/test assignment (80/10/10) + the 10% sample flag every
    * doc carries. Pure map-side column algebra — the assignment never
    * shuffles, and stratification needs no per-class pass because a
    * uniform hash is uniform within every class. */
  def qSampleSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("bucket", bucket100("doc_id"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "valid")
          .otherwise("test").as("split"),
        (col("bucket") < 10).as("in_10pct_sample"))

  val qSampleSplitOracle: String =
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
      |  bucket < 10 AS in_10pct_sample
      |FROM b ORDER BY doc_id""".stripMargin

  /** Per-class downsampling to a hard cap (here: ≤ 60 docs per lang),
    * deterministic by doc_id order — the class-balancing step before
    * training on skewed corpora. One shuffle on the class key; the
    * within-class sort is bounded by the largest class. If one class
    * dominates at 100 TB, pre-thin it with [[qSampleSplit]]-style hash
    * buckets FIRST (no sort at all), then cap exactly — the window is
    * the exactness pass, not the bulk-reduction pass. */
  def qBalanceClasses(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 60
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
  }

  val qBalanceClassesOracle: String =
    """WITH rk AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, lang, rn FROM rk WHERE rn <= 60
      |ORDER BY lang, rn""".stripMargin

  /** Contamination threshold: a train doc sharing at least this many
    * distinct shingles with the bench slice is flagged. ONE constant
    * for ALL decontamination variants (exact join, bloom pre-filter,
    * and the streaming twin's default) — they share an oracle /
    * equality contract, so the threshold must never drift. */
  private[graft] val DeconMinHits = 5

  /** The shared decontamination scaffolding: the train slice and the
    * bench slice of one bucketed shingle relation (persisted in `s` —
    * both join sides slice it; without it the ~40× explode runs twice).
    * Bucket is a pure function of doc_id, re-derived after the explode
    * instead of threaded through it. */
  private def deconRelations(scope: QueryScope, spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val sh = DedupOps.shingles(Tables.documents(spark, sfDir))
      .withColumn("bucket", bucket100("doc_id"))
      .transform(scope.persist)
    val train = sh.filter(col("bucket") < 80).select("doc_id", "shingle")
    val bench = sh.filter(col("bucket") >= 90)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    (train, bench)
  }

  /** The shared confirm join + report: distinct shingle/bench-doc hit
    * counts per train doc, flagged at [[DeconMinHits]]. Both variants
    * end here, so their outputs can only agree. */
  private def contaminationReport(train: DataFrame, bench: DataFrame): DataFrame =
    train.join(bench, "shingle")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shingle_hits"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .withColumn("contaminated", col("n_shingle_hits") >= DeconMinHits)

  /** Test-set DECONTAMINATION: flag training docs sharing word-3-gram
    * shingles with the held-out benchmark slice (here: the hash split's
    * `test` bucket; in production the benchmark suite itself). The
    * collision join is the same inverted-index shape as the jaccard
    * dedup family — shingle equi-join, never a cross join — so the
    * 100 TB cost is Σ_s |train(s)|·|bench(s)| over shared shingles
    * only. A real benchmark set is tiny (thousands of docs), so its
    * shingle relation broadcasts and the whole pass is map-side; here
    * the bench slice is 10% of the corpus, so it stays a shuffle join.
    * Docs with ≥5 distinct colliding shingles are `contaminated` (the
    * n-gram-overlap rule used for eval decontamination in LLM data
    * pipelines). */
  def qDecontaminate(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val (train, bench) = deconRelations(scope, spark, sfDir)
    contaminationReport(train, bench)
  }

  val qDecontaminateOracle: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, ts[g] || ' ' || ts[g+1] || ' ' || ts[g+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t,
      |       unnest(generate_series(1, len(ts)-2)) AS u(g)),
      |b AS (SELECT doc_id, shingle,
      |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
      |      FROM sh)
      |SELECT t.doc_id,
      |  COUNT(DISTINCT t.shingle) AS n_shingle_hits,
      |  COUNT(DISTINCT b2.doc_id) AS n_bench_docs,
      |  COUNT(DISTINCT t.shingle) >= 5 AS contaminated
      |FROM b t JOIN b b2 ON t.shingle = b2.shingle
      |WHERE t.bucket < 80 AND b2.bucket >= 90
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** MIXTURE sampling: hit a target per-domain mixture (upweight src0
    * 3×, src1 2×, rest 1×) under a global document budget. The quota
    * per source is computed from the weight table in-plan (distinct
    * sources → weights → one scalar total → per-source floor), then
    * broadcast back onto the corpus; the per-source exact pick is a
    * row_number in md5 order — hash order, NOT doc_id order, so the
    * sample is unbiased w.r.t. ingestion order and stable under
    * appends. One shuffle on the source key; the quota side is
    * O(#domains) rows. This is the "domain reweighting" step of
    * training-data curation (cf. DoReMi-style mixtures) expressed as
    * pure relational algebra. */
  def qMixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 300
    val weight = when(col("source") === "src0", 3.0)
      .when(col("source") === "src1", 2.0).otherwise(1.0)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val srcW = docs.select("source").distinct().withColumn("w", weight)
    val total = srcW.agg(sum(col("w")).as("tw"))
    val quotas = srcW.crossJoin(broadcast(total))
      .withColumn("quota", floor(lit(budget) * col("w") / col("tw")))
      .select("source", "quota")
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .join(broadcast(quotas), "source")
      .filter(col("rn") <= col("quota"))
      .select("doc_id", "source", "rn", "quota")
  }

  val qMixtureSampleOracle: String =
    """WITH sw AS (SELECT DISTINCT source FROM documents),
      |w AS (SELECT source,
      |        CASE WHEN source = 'src0' THEN 3.0
      |             WHEN source = 'src1' THEN 2.0 ELSE 1.0 END AS w
      |      FROM sw),
      |q AS (SELECT source,
      |        CAST(floor(300 * w / (SELECT SUM(w) FROM w)) AS BIGINT) AS quota
      |      FROM w),
      |rk AS (SELECT doc_id, source,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |       FROM documents)
      |SELECT rk.doc_id, rk.source, rk.rn, q.quota
      |FROM rk JOIN q USING (source) WHERE rn <= quota
      |ORDER BY source, rn""".stripMargin

  /** IMPORTANCE RESAMPLING by quality weight (the DCLM/soft-filtering
    * shape): instead of a hard quality cutoff, each document is kept
    * with probability equal to its quality weight — here the
    * type-token ratio in [0, 1] — decided by a DETERMINISTIC hash
    * coin (first 8 md5 hex chars of doc_id as a uniform u ∈ [0,1),
    * keep iff u < w). No RNG: the sample is reproducible across runs,
    * engines, and partitionings, and append-stable (a new doc's fate
    * never depends on other docs). Map-only, zero shuffles — at
    * 100 TB this is a pure scan-side filter that rides the corpus'
    * existing partitioning (plan-pinned like sample_split). */
  def qImportanceSample(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val w = size(array_distinct(ts)).cast("double") / size(ts)
    val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), w.as("w"), u.as("u"))
      .filter(col("u") < col("w"))
      .select(col("doc_id"), col("lang"),
        round(col("w"), 6).as("w_r"), round(col("u"), 6).as("u_r"))
  }

  val qImportanceSampleOracle: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |      len(string_split(text, ' ')) AS w,
      |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
      |      / 4294967296.0 AS u
      |  FROM documents)
      |SELECT doc_id, lang, round(w, 6) AS w_r, round(u, 6) AS u_r
      |FROM d WHERE u < w ORDER BY doc_id""".stripMargin

  /** WEIGHTED reservoir sampling without replacement (Efraimidis &
    * Spirakis 2006, the A-ES scheme) — THE one-pass distributed
    * weighted sampler: where [[qImportanceSample]] keeps each doc
    * independently (sample size varies), this draws EXACTLY k docs
    * with inclusion probability proportional to weight (here doc
    * length — the "sample tokens, not documents" correction every
    * token-budget pipeline needs). Each doc gets the key
    * e = −ln(u)/w — the exponential-clock formulation, order-
    * equivalent to the paper's u^(1/w) but numerically tame — and the
    * k SMALLEST keys are the sample. u is the deterministic md5 coin
    * of the family, shifted to (0,1) strictly (u = (h+0.5)/2^32; ln
    * must never see 0), so the sample is reproducible across runs,
    * engines, and partitionings, and append-stable: a new doc races
    * its own clock and never reshuffles existing keys. Docs with
    * w ≤ 0 cannot win a weighted draw and are filtered explicitly.
    *
    * Scale shape: map-only key computation over a pruned 2-column
    * scan + a bounded-heap TakeOrdered(k) — each partition keeps its
    * local top-k and only k-row heaps merge, no shuffle of the
    * corpus; this is the pass a 100 TB token-budgeted corpus build
    * runs per epoch. The streaming variant (A-ExpJ's exponential
    * jumps) keeps the same keys, so batch and stream draws agree.
    * The key expression is ONE string interpolated into both engines
    * (the BM25 discipline), and selection/rank run on the 6-decimal
    * ROUNDED key with a doc_id tie-break — the qDsir rule: ln() is
    * only ulp-accurate per libm, so ranking the raw double could flip
    * membership at the rank-k cutoff between engines; rounding before
    * the top-k makes the selected set engine-exact. */
  private[graft] val ReservoirK = 50

  /** The race-key formula and the u-coin normalization — ONE string
    * each, interpolated into BOTH engines (the BM25/calFold
    * discipline, r12 advice: re-stating them as independent SQL would
    * let a constant change silently desynchronize the oracle). Only
    * the md5-hex→BIGINT step differs, because the engines' builtin
    * surfaces do (Spark `conv`, DuckDB `'0x' ||` cast). */
  private[graft] val ReservoirKeyExpr = "round(-ln(u) / w * 1000, 6)"
  private[graft] def reservoirUExpr(hex8ToBigint: String): String =
    s"(CAST($hex8ToBigint AS DOUBLE) + 0.5) / 4294967296.0"

  /** The keyed (doc_id, w, e1000_r) relation — ONE column pipeline
    * shared by the batch draw and the streaming twin
    * ([[graft.streaming.StatefulOps.streamingWeightedReservoir]]), so
    * both race identical keys and a mid-stream cut of the stream
    * equals the batch draw exactly. */
  private[graft] def reservoirKeyed(docs: DataFrame): DataFrame = {
    val u = expr(reservoirUExpr("CAST(conv(substring(md5(" +
      "CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
    docs
      .select(col("doc_id"), col("n_chars").as("w"), u.as("u"))
      .filter(col("w") > 0)
      .withColumn("e1000_r", expr(ReservoirKeyExpr))
      .select(col("doc_id"), col("w"), col("e1000_r"))
  }

  def qWeightedReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reservoirKeyed(Tables.documents(spark, sfDir))
      .orderBy(col("e1000_r"), col("doc_id")).limit(ReservoirK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("e1000_r"), col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("w"), col("e1000_r"))
  }

  val qWeightedReservoirOracle: String = {
    val u = reservoirUExpr(
      "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)")
    s"""WITH d AS (
       |  SELECT doc_id, n_chars AS w, $u AS u
       |  FROM documents WHERE n_chars > 0),
       |keyed AS (SELECT doc_id, w, $ReservoirKeyExpr AS e1000_r FROM d),
       |rk AS (SELECT doc_id, w, e1000_r,
       |  row_number() OVER (ORDER BY e1000_r, doc_id) AS rank FROM keyed)
       |SELECT CAST(rank AS INT) AS rank, doc_id, w, e1000_r
       |FROM rk WHERE rank <= $ReservoirK ORDER BY rank""".stripMargin
  }

  /** Distribution DRIFT between two corpus snapshots (population
    * stability index): bin a feature, compare bin shares across the
    * 1996 vs 1997 order years, report the per-bin PSI term and the
    * total. One conditional aggregate computes BOTH periods' histograms
    * in a single scan (no self-join of the fact table); the totals ride
    * along as window sums over the 10-bin relation. PSI > 0.2 is the
    * conventional "investigate before training" threshold. The log
    * ratio is rounded to 6 decimals — the repo's float-parity
    * convention for transcendentals (libm vs JVM may differ in the
    * last ulp). */
  def qDriftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .withColumn("yr", year(col("l_shipdate")))
      .withColumn("bin", floor((col("l_quantity") - 1) / 5).cast("int"))
    val hist = li.groupBy(col("bin")).agg(
      sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("na"),
      sum(when(col("yr") === 1997, 1L).otherwise(0L)).as("nb"))
    val w = Window.partitionBy()
    hist
      .withColumn("pa", col("na").cast(DoubleType) / sum(col("na")).over(w))
      .withColumn("pb", col("nb").cast(DoubleType) / sum(col("nb")).over(w))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("psi_term",
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6))
      .withColumn("psi_total", round(sum(col("psi_term")).over(w), 6))
      .select("bin", "na", "nb", "psi_term", "psi_total")
  }

  val qDriftPsiOracle: String =
    """WITH b AS (
      |  SELECT CAST(floor((l_quantity - 1) / 5) AS INT) AS bin,
      |    EXTRACT(year FROM l_shipdate) AS yr
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
      |hist AS (
      |  SELECT bin,
      |    CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM b GROUP BY bin),
      |p AS (
      |  SELECT bin, na, nb,
      |    CAST(na AS DOUBLE) / SUM(na) OVER () AS pa,
      |    CAST(nb AS DOUBLE) / SUM(nb) OVER () AS pb
      |  FROM hist),
      |terms AS (
      |  SELECT bin, na, nb,
      |    round((pa - pb) * ln(pa / pb), 6) AS psi_term
      |  FROM p WHERE na > 0 AND nb > 0)
      |SELECT bin, na, nb, psi_term,
      |  round(SUM(psi_term) OVER (), 6) AS psi_total
      |FROM terms ORDER BY bin""".stripMargin

  /** [[qDecontaminate]] with a BLOOM-SKETCH pre-filter — the 100 TB
    * shape of decontamination. The exact variant shuffles the FULL
    * train shingle explode into the bench join; here the bench shingle
    * set (the holdout slice — a fraction of the corpus) is folded
    * map-side into one `BloomFilterAggregate` sketch (megabytes of
    * bits regardless of corpus size), delivered to every train
    * partition as a scalar subquery, and the train explode is
    * pre-filtered MAP-SIDE by the codegen'd `BloomFilterMightContain`
    * probe — Spark's own runtime-filter machinery (the same expressions
    * `spark.sql.optimizer.runtime.bloomFilter` injects), wired
    * explicitly where the optimizer cannot see the opportunity (the
    * contamination join is many-to-many on an exploded relation, not a
    * star-schema key join).
    *
    * A bloom filter has NO false negatives, so phase 2 — the exact
    * join + distinct-count agg, identical to [[qDecontaminate]] — sees
    * every true hit and returns the exact answer; false positives only
    * add candidate rows the join then drops. Same oracle, full
    * hash-match. At 100 TB the join input shrinks from O(corpus
    * shingles) to O(true hits + fpp·corpus): the difference between
    * shuffling the corpus and shuffling a rounding error. xxhash64 on
    * BOTH the insert and probe sides — the sketch stores hashes, so
    * the two sides must agree. */
  def qDecontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import graft.functions.VectorFunctions.{bloomFilterAgg, bloomMightContain}
    val (train, bench) = deconRelations(scope, spark, sfDir)
    // one-row binary sketch of the bench shingle set, sized for ~1M
    // distinct shingles (the fixture holds far fewer; at production
    // scale size from table stats — oversizing only costs bits)
    val sketch = bench.agg(bloomFilterAgg(xxhash64(col("shingle")), 1000000L).as("bf"))
    val candidates = train.filter(
      bloomMightContain(sketch.scalar(), xxhash64(col("shingle"))))
    contaminationReport(candidates, bench)
  }

  /** Deterministic TRAINING-ORDER layout: a global pseudo-random
    * shuffle of the corpus plus a contiguous (shard, position) address
    * per doc — the epoch ordering a distributed dataloader consumes.
    * The rank is md5("42:" || doc_id): stable across runs, engines and
    * repartitioning, and an epoch reshuffle is just a seed bump. The
    * shard is a hash bucket OF THE RANK (so each shard is itself a
    * uniform random slice — a worker reading only shard 3 still sees
    * an unbiased stream), and the position is rank order within the
    * shard. ONE shuffle on the shard key, then each shard sorts
    * independently — there is never a global sort; at 100 TB set
    * shards ≈ dataloader workers × a small factor so a shard's sort
    * (corpus/shards rows) fits one executor. */
  def qTrainOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val rk = md5(concat(lit("42:"), col("doc_id").cast("string")).cast("binary"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), rk.as("rk"))
      .withColumn("shard",
        conv(substring(col("rk"), 1, 4), 16, 10).cast("int") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("rk"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  val qTrainOrderOracle: String =
    """WITH r AS (
      |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS rk
      |  FROM documents),
      |s AS (SELECT doc_id, rk,
      |  CAST('0x' || substr(rk, 1, 4) AS INT) % 8 AS shard FROM r)
      |SELECT doc_id, shard,
      |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS pos
      |FROM s ORDER BY shard, pos""".stripMargin

  // ---- Z-order (Morton) multi-dimensional layout ----

  /** Z-ORDER LAYOUT (Morton-curve clustering — the public primitive
    * behind Delta/Iceberg `OPTIMIZE ZORDER BY`): interleave the bits
    * of TWO filter columns into one Z-address and lay rows out in
    * Z-address order, so a predicate on EITHER column touches a
    * bounded fraction of shards — the multi-column data-skipping a
    * single sort key cannot give.
    *
    * Here: x = l_partkey mod 256, y = l_suppkey mod 256 (equality-
    * filter skipping on the two join keys; a range-skipping layout
    * uses range buckets instead of mod — the interleave and shard
    * math are identical). zaddr interleaves 8 bits of each; shard =
    * the top 6 Z-bits (64 shards) = 3 high bits of x × 3 high bits
    * of y, so any fixed x (or y) value lands in EXACTLY 8 of 64
    * shards — an 8× scan reduction per single-column equality
    * predicate, verified in the spec. Emits per-shard occupancy
    * telemetry (the layout-audit view a table optimizer reports).
    * ONE shuffle (the per-shard rollup = the layout write's
    * partitioning); the Z-address itself is map-only bit algebra. */
  def qZorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    def bit(c: Column, b: Int): Column =
      shiftright(c, b).bitwiseAND(lit(1L))
    val z = (0 until 8).map(b =>
      bit(col("x"), b) * lit(1L << (2 * b)) +
        bit(col("y"), b) * lit(1L << (2 * b + 1))).reduce(_ + _)
    Tables.lineitem(spark, sfDir)
      .select((col("l_partkey") % 256).cast("long").as("x"),
        (col("l_suppkey") % 256).cast("long").as("y"))
      .withColumn("shard", (z / 1024).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("x")).as("n_x"),
        countDistinct(col("y")).as("n_y"))
  }

  val qZorderLayoutOracle: String = {
    val terms = (0 until 8).map(b =>
      s"(((x >> $b) & 1) * ${1L << (2 * b)}) + (((y >> $b) & 1) * ${1L << (2 * b + 1)})")
      .mkString(" + ")
    s"""WITH l AS (
       |  SELECT CAST(l_partkey % 256 AS BIGINT) AS x,
       |         CAST(l_suppkey % 256 AS BIGINT) AS y
       |  FROM lineitem),
       |z AS (SELECT x, y, ($terms) // 1024 AS shard FROM l)
       |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT x) AS n_x, COUNT(DISTINCT y) AS n_y
       |FROM z GROUP BY shard ORDER BY shard""".stripMargin
  }

  // ---- Token-budget data selection ----

  /** QUALITY-RANKED SELECTION UNDER A TOKEN BUDGET — the curation
    * step that turns "we scored every document" into "this is the
    * training set": take the highest-quality documents until half the
    * corpus tokens are spent (rank = quality level desc, doc_id asc).
    *
    * The DEFINITION is a global running sum over the quality-sorted
    * corpus — a total sort, unthinkable at 100 TB. The PLAN is the
    * histogram/threshold decomposition: (1) one tiny aggregate of
    * token mass per integer quality level (≤101 rows), (2) a
    * cumulative over those levels to classify each level whole-in /
    * whole-out / boundary, (3) a map-only verdict for every document
    * EXCEPT the single boundary level, which alone pays a within-level
    * running-sum window. The oracle IS the naive global-sort
    * definition, so the hash-match proves the decomposition exact —
    * the same twin discipline as the bloom decontamination pair.
    * Quality level = floor(100 × the repo's TTR×(1−stop-ratio) score
    * (TextOps.qQuality) — identical double expression both engines. */
  def qTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = split(col("text"), " ")
    val stop = filter(ts, x => x.isin("the", "a", "of", "and", "to"))
    val docs = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      floor((size(array_distinct(ts)).cast(DoubleType) / size(ts)) *
        (lit(1.0) - size(stop).cast(DoubleType) / size(ts)) * 100)
        .cast("int").as("q"),
      size(ts).cast("long").as("n_tokens"))
    // tokens per quality level + tokens in strictly better levels
    // (≤101 rows — the single-partition window is model-sized)
    val wl = Window.orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lv = docs.groupBy(col("q"))
      .agg(sum(col("n_tokens")).as("lvl_tokens"))
      .withColumn("cum_before", coalesce(sum(col("lvl_tokens")).over(wl), lit(0L)))
    val budget = docs.agg(expr("sum(n_tokens) DIV 2").as("budget"))
    val d = docs.join(broadcast(lv), Seq("q")).crossJoin(broadcast(budget))
    val allIn = d.filter(col("cum_before") + col("lvl_tokens") <= col("budget"))
      .select(col("doc_id"), col("q"), col("n_tokens"), lit(true).as("selected"))
    val allOut = d.filter(col("cum_before") >= col("budget"))
      .select(col("doc_id"), col("q"), col("n_tokens"), lit(false).as("selected"))
    val wb = Window.partitionBy(col("q")).orderBy(col("doc_id"))
    val boundary = d
      .filter(col("cum_before") < col("budget") &&
        col("cum_before") + col("lvl_tokens") > col("budget"))
      .withColumn("run", sum(col("n_tokens")).over(wb))
      .select(col("doc_id"), col("q"), col("n_tokens"),
        (col("cum_before") + col("run") <= col("budget")).as("selected"))
    allIn.union(allOut).union(boundary)
  }

  /** The NAIVE definition: one global running sum over the sorted
    * corpus — correct, and exactly what the plan must reproduce. */
  val qTokenBudgetOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |d AS (SELECT doc_id,
      |  CAST(floor(((CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts)) *
      |    (1.0 - CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
      |      / len(ts))) * 100) AS INT) AS q,
      |  CAST(len(ts) AS BIGINT) AS n_tokens FROM t),
      |b AS (SELECT SUM(n_tokens) // 2 AS budget FROM d),
      |r AS (SELECT doc_id, q, n_tokens,
      |  SUM(n_tokens) OVER (ORDER BY q DESC, doc_id) AS cum FROM d)
      |SELECT r.doc_id, r.q, r.n_tokens, r.cum <= b.budget AS selected
      |FROM r, b ORDER BY r.doc_id""".stripMargin

  /** SMALL-FILE COMPACTION planner — the table-maintenance pass every
    * partitioned 100 TB table needs (the public `OPTIMIZE` /
    * RewriteDataFiles shape of Delta/Iceberg): given a file manifest,
    * pack each partition's files IN ORDER into target-sized output
    * bins, so the rewrite step that follows is an embarrassingly
    * parallel per-bin concat. The fixture manifest derives one "file"
    * per (epoch-day, hour) of `events` (bytes = Σ length(props)); real
    * deployments read the table metadata instead — same columns, same
    * plan.
    *
    * Packing rule: within a partition (day), ordered by hour, a file
    * lands in bin floor(cum_bytes_before / target) — the streaming
    * first-fit that metadata compactors use (a bin overshoots by at
    * most one file; no global optimization, fully deterministic).
    *
    * Scale shape: the MANIFEST is metadata — millions of rows at
    * 100 TB, not terabytes — so one shuffle on the partition key and
    * a per-partition ordered window is trivially cheap; nothing here
    * ever touches file CONTENTS. The emitted plan (day, bin → files,
    * bytes, hour range, small-file count) is exactly what the rewrite
    * executor fans out on. */
  def qCompactionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val target = 1000L
    val manifest = Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("f_rows"),
        sum(length(col("props"))).as("f_bytes"))
    val w = Window.partitionBy(col("day")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest
      .withColumn("cum_before", coalesce(sum(col("f_bytes")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before DIV $target"))
      .groupBy(col("day"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("f_bytes")).as("bin_bytes"),
        sum(col("f_rows")).as("bin_rows"),
        min(col("hr")).as("hr_from"),
        max(col("hr")).as("hr_to"),
        sum((col("f_bytes") < target / 4).cast("long")).as("n_small_files"))
  }

  /** Same manifest, running sum, and bin arithmetic in DuckDB. */
  val qCompactionPlanOracle: String =
    """WITH manifest AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, CAST(extract(hour FROM ts) AS INT) AS hr,
      |    COUNT(*) AS f_rows, CAST(SUM(length(props)) AS BIGINT) AS f_bytes
      |  FROM events GROUP BY 1, 2),
      |packed AS (
      |  SELECT day, hr, f_rows, f_bytes,
      |    COALESCE(SUM(f_bytes) OVER (PARTITION BY day ORDER BY hr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM manifest)
      |SELECT CAST(day AS BIGINT) AS day, CAST(cum_before // 1000 AS BIGINT) AS bin,
      |  COUNT(*) AS n_files,
      |  CAST(SUM(f_bytes) AS BIGINT) AS bin_bytes,
      |  CAST(SUM(f_rows) AS BIGINT) AS bin_rows,
      |  MIN(hr) AS hr_from, MAX(hr) AS hr_to,
      |  CAST(SUM(CASE WHEN f_bytes < 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_files
      |FROM packed GROUP BY 1, 2 ORDER BY day, bin""".stripMargin

  /** TEMPERATURE-SCALED mixture (the multilingual sampling rule of
    * mBERT/XLM-R, Conneau et al. 2020: upsample tails with
    * p_i ∝ n_i^α, here α = 1/2): per-language quotas proportional to
    * isqrt(n_lang) instead of n_lang, flattening the head-language
    * dominance a proportional sample reproduces. All INTEGER: the
    * weight is the exact integer square root (floor(sqrt(n)) —
    * correctly-rounded IEEE sqrt floors identically in both engines
    * for any count below 2⁵³), quotas by integer cross-multiplication
    * quota = B·w DIV Σw, and the per-language exact pick is the
    * mixture sampler's md5-rank (append-stable, ingestion-order
    * unbiased).
    *
    * Scale shape: language counts are one map-side-combining rollup;
    * the quota table is |langs| rows and broadcasts; the pick is one
    * shuffle on lang with a bounded per-class window. */
  def qTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 200
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n"))).cast("long"))
    val totalW = counts.agg(sum(col("w"))).head.getLong(0)
    val quotas = counts
      .withColumn("quota", expr(s"$budget * w DIV $totalW"))
      .select("lang", "n", "w", "quota")
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .join(broadcast(quotas), "lang")
      .filter(col("rn") <= col("quota"))
      .select("doc_id", "lang", "rn", "n", "w", "quota")
  }

  val qTemperatureMixOracle: String =
    """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
      |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
      |q AS (SELECT lang, n, w,
      |        CAST(200 * w // (SELECT SUM(w) FROM w) AS BIGINT) AS quota
      |      FROM w),
      |rk AS (SELECT doc_id, lang,
      |         ROW_NUMBER() OVER (PARTITION BY lang
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |       FROM documents)
      |SELECT rk.doc_id, rk.lang, rk.rn, q.n, q.w, q.quota
      |FROM rk JOIN q USING (lang) WHERE rn <= quota
      |ORDER BY lang, rn""".stripMargin

  /** QUALITY↔DUPLICATION CALIBRATION — the sanity check between the
    * two main curation axes: bucket the corpus into quality deciles
    * (the same TTR-damped score as the quality pipeline, tie-broken
    * by doc_id) and measure each decile's exact-duplicate rate in
    * integer ppm. The profile answers "does the quality score already
    * find the duplicates?" — if dup mass concentrates in low deciles,
    * the cheap score can pre-thin before the expensive dedup pass; if
    * it is flat, the two filters are independent and both must run.
    *
    * Scale shape: quality + fingerprint are one corpus scan; the dup
    * flag is a fingerprint-keyed window (same shuffle as exact
    * dedup); the ntile runs over the doc relation and the report
    * aggregates to 10 rows. */
  def qQualityDupProfile(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val ttr = size(array_distinct(toks)).cast(DoubleType) / nTok
    val stopRatio = size(filter(toks,
      t => t.isin("the", "a", "of", "and", "to"))).cast(DoubleType) / nTok
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (ttr * (lit(1.0) - stopRatio)).as("quality"),
        md5(col("text").cast("binary")).as("fp"))
      .withColumn("grp", count(lit(1)).over(Window.partitionBy(col("fp"))))
    // r8 verdict fix: the DEFINITION is ntile(10) over the whole
    // corpus by quality — the plan decomposes it as [[withGlobalRank]]
    // (range-shuffle + per-shard rank + broadcast offsets) followed by
    // the closed-form [[ntileExpr]] bucket assignment, both map-only
    // after one parallel range exchange. The oracle stays the naive
    // global ntile, so the hash match proves the decomposition exact.
    val n = Tables.documents(spark, sfDir).count()
    val ranked = withGlobalRank(scope, scored, "r",
      col("quality").desc, col("doc_id"))
    ranked
      .withColumn("decile", expr(ntileExpr(n, 10, "r")).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("grp") > 1).cast("long")).as("n_dup_members"))
      .withColumn("dup_ppm", expr("n_dup_members * 1000000 DIV n_docs"))
  }

  val qQualityDupProfileOracle: String =
    """WITH s AS (
      |  SELECT doc_id, md5(text) AS fp,
      |    (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |       / len(string_split(text, ' '))) *
      |    (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |         x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
      |       / len(string_split(text, ' '))) AS quality
      |  FROM documents),
      |g AS (SELECT doc_id, quality,
      |  COUNT(*) OVER (PARTITION BY fp) AS grp FROM s),
      |d AS (SELECT doc_id, grp,
      |  ntile(10) OVER (ORDER BY quality DESC, doc_id) AS decile FROM g)
      |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN grp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_members,
      |  CAST(SUM(CASE WHEN grp > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
      |    AS BIGINT) AS dup_ppm
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin

  /** The per-doc (doc_id, host, q_level, h) projection — split out so
    * the streaming twin's spec replays EXACTLY this relation (one
    * definition, no drift). */
  private[graft] def domainDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val qlvl = floor((size(array_distinct(toks)).cast(DoubleType) / size(toks)) *
      (lit(1.0) - size(filter(toks, x => x.isin("the", "a", "of", "and", "to")))
        .cast(DoubleType) / size(toks)) * 100).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat(col("source"), lit(".example."),
          when(length(col("source")) % 2 === 0, "com").otherwise("org"))
          .as("host"),
        qlvl.as("q_level"),
        (conv(substring(md5(concat(lit("dom:"), col("doc_id").cast("string"))
          .cast("binary")), 1, 6), 16, 10).cast("long") % 1000000L).as("h"))
  }

  /** DOMAIN-LEVEL SOURCE FILTERING — the per-site curation pass every
    * web corpus runs before training (C4/RefinedWeb-style): a
    * document's fate depends on its HOST's aggregate statistics, not
    * just its own. Two rules compose: (1) QUALITY — a host whose mean
    * quality level sits >3% below the corpus mean is dropped
    * wholesale (boilerplate farms score uniformly low; per-doc
    * filters miss them because individual pages pass); (2) QUOTA — an
    * over-represented host is downsampled to ~0.8× the mean host
    * size via a deterministic md5 hash threshold, so no single site
    * dominates the mixture.
    *
    * Scale shape: one combiner-friendly rollup to the DOMAIN-sized
    * stats relation, a 1-row global aggregate folded in driver-side
    * (ANN-sizing-count discipline), then the verdict is a map-only
    * expression after the stats join back (unhinted — AQE broadcasts
    * the domain relation while it fits, degrades to shuffle at
    * web-scale domain counts). The quota is a HASH threshold, not a
    * per-host rank window: keep iff h·host_docs < cap·10⁶ admits
    * ≈cap docs per host with zero sorting — the map-only twin of
    * first-K admission, immune to hot-host reducer skew (a wikipedia-
    * sized host never funnels through one task). All comparisons are
    * integer cross-multiplies on mille-scaled means — no double
    * compare to diverge across engines. */
  def qDomainFilter(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val docs = domainDocs(spark, sfDir)
      .transform(scope.persist)
    val hostStats = docs.groupBy(col("host"))
      .agg(count(lit(1)).as("host_docs"), sum(col("q_level")).as("host_q_sum"))
    val g = docs.agg(count(lit(1)), sum(col("q_level")),
      countDistinct(col("host"))).head()
    val (total, gq, nHosts) = (g.getLong(0), g.getLong(1), g.getLong(2))
    val cap = total * 8 / (nHosts * 10)
    val globalMilli = gq * 1000 / total
    val verdict =
      when(expr("(host_q_sum * 1000) DIV host_docs") * 100
          < lit(globalMilli * 97), "drop_domain_quality")
        .when(col("h") * col("host_docs") >= lit(cap * 1000000L),
          "drop_domain_quota")
        .otherwise("keep")
    docs.join(hostStats, "host")
      .select(col("doc_id"), col("host"), col("host_docs"),
        col("host_q_sum"), verdict.as("verdict"))
  }

  /** Same quality level, host stats, and integer verdict algebra. */
  val qDomainFilterOracle: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    source || '.example.' ||
      |      (CASE WHEN len(source) % 2 = 0 THEN 'com' ELSE 'org' END) AS host,
      |    CAST(floor(((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        / len(string_split(text, ' '))) *
      |      (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |          x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
      |        / len(string_split(text, ' ')))) * 100) AS BIGINT) AS q_level,
      |    CAST('0x' || substr(md5('dom:' || CAST(doc_id AS VARCHAR)), 1, 6)
      |      AS BIGINT) % 1000000 AS h
      |  FROM documents),
      |hs AS (SELECT host, COUNT(*) AS host_docs, SUM(q_level) AS host_q_sum
      |       FROM q GROUP BY 1),
      |g AS (SELECT COUNT(*) AS total, SUM(q_level) AS gq,
      |             COUNT(DISTINCT host) AS nh FROM q)
      |SELECT q.doc_id, q.host, hs.host_docs,
      |  CAST(hs.host_q_sum AS BIGINT) AS host_q_sum,
      |  CASE WHEN ((hs.host_q_sum * 1000) // hs.host_docs) * 100
      |         < ((SELECT (gq * 1000) // total FROM g)) * 97
      |       THEN 'drop_domain_quality'
      |       WHEN q.h * hs.host_docs
      |         >= (SELECT (total * 8) // (nh * 10) FROM g) * 1000000
      |       THEN 'drop_domain_quota'
      |       ELSE 'keep' END AS verdict
      |FROM q JOIN hs USING (host) ORDER BY q.doc_id""".stripMargin

  /** MULTI-EPOCH SHUFFLE ORDER — the epoch-reshuffling contract a
    * trainer needs from its data layer: each epoch must present the
    * corpus in a DIFFERENT order, every epoch's order must be
    * deterministic (resumable mid-epoch from a (shard, pos) cursor),
    * and no epoch's order may correlate with ingestion order. Epoch e
    * ranks by md5("e:" || doc_id), so orders across epochs are
    * independent hash permutations of the same corpus — the
    * `sample_train_order` construction lifted to an epoch dimension.
    *
    * Scale shape: the 3-epoch expansion is an in-row explode (3× rows,
    * map-only); ranking stays per-(epoch, shard) — 3×8 bounded
    * partitions of ~n/8 each, never a global sort. A trainer reading
    * epoch e streams shards in (shard, pos) order. */
  def qEpochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val epochs = 3
    val rk = md5(concat(col("epoch").cast("string"), lit(":"),
      col("doc_id").cast("string")).cast("binary"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(sequence(lit(1), lit(epochs))).as("epoch"))
      .withColumn("rk", rk)
      .withColumn("shard",
        conv(substring(col("rk"), 1, 4), 16, 10).cast("int") % nShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("rk"), col("doc_id"))))
      .select(col("doc_id"), col("epoch").cast("int").as("epoch"),
        col("shard"), col("pos"))
  }

  /** Same per-epoch hash ranking in DuckDB. */
  val qEpochShuffleOracle: String =
    """WITH x AS (
      |  SELECT doc_id, e.e AS epoch,
      |    md5(CAST(e.e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS rk
      |  FROM documents, unnest(generate_series(1, 3)) AS e(e)),
      |s AS (SELECT doc_id, epoch, rk,
      |  CAST('0x' || substr(rk, 1, 4) AS INT) % 8 AS shard FROM x)
      |SELECT doc_id, CAST(epoch AS INT) AS epoch, shard,
      |  ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY rk, doc_id) AS pos
      |FROM s ORDER BY epoch, shard, pos""".stripMargin

  /** CCNet-STYLE PERPLEXITY BUCKETS — the published web-corpus
    * curation step: score every document against a frozen reference
    * language model, split each language slice into head / middle /
    * tail terciles by model score, keep head+middle and drop the
    * tail (high-perplexity ≈ noise under the reference model). The
    * model is the durable stored unigram LM
    * ([[TextOps.lmStored]]) — scoring is artifact-served, so this
    * sampler never re-aggregates corpus frequencies. Scale: the
    * scoring pass is the one-explode + vocabulary-join shape. The
    * DEFINITION is ntile(3) per language — but language is a
    * LOW-CARDINALITY key, so a `partitionBy(lang)` ntile window
    * funnels the dominant language's whole slice through one
    * reducer at 100×; the plan instead decomposes it as ONE
    * [[withGlobalRank]] pass under (lang, score desc, doc_id) —
    * every shard sorts in parallel across language boundaries —
    * followed by a languages-sized min-rank/count rollup broadcast
    * back and the closed-form [[ntileColExpr]] bucket assignment.
    * The oracle stays the naive partitioned ntile, so the hash match
    * proves the decomposition exact. Ties break on doc_id so bucket
    * boundaries are replay-stable. */
  def qPerplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    perplexityTerciles(scope, spark, sfDir)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(avg(col("avg_logp_r")), 6).as("avg_logp"))
      .withColumn("kept", perplexityKept(col("bucket")))
  }

  /** Every stored-LM-scored document with its per-language tercile
    * `bucket` (1 = best scores): the [[withGlobalRank]] pass, the
    * languages-sized rank-offset/count rollup broadcast back, and the
    * closed-form [[ntileColExpr]] — the bucket steps shared by
    * [[qPerplexityBuckets]] and [[perplexityCutoffs]]. */
  private def perplexityTerciles(scope: QueryScope, spark: SparkSession,
      sfDir: String): DataFrame = {
    val ranked = withGlobalRank(scope,
      TextOps.lmScoredDocs(spark, sfDir), "grk",
      col("lang"), col("avg_logp_r").desc, col("doc_id"))
    val langSizes = ranked.groupBy(col("lang"))
      .agg(min(col("grk")).as("__loff"), count(lit(1)).as("__nl"))
    ranked
      .join(broadcast(langSizes), Seq("lang"))
      .withColumn("r", col("grk") - col("__loff") + 1)
      .withColumn("bucket",
        expr(ntileColExpr("__nl", 3, "r")).cast("int"))
  }

  /** The perplexity sampler's keep rule: head and middle terciles. */
  private[graft] def perplexityKept(bucket: Column): Column = bucket <= 2

  val qPerplexityBucketsOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |dtf AS (SELECT doc_id, lang, tk, COUNT(*) AS cnt
      |        FROM tok GROUP BY 1, 2, 3),
      |tf AS (SELECT tk, SUM(cnt) AS c FROM dtf GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tf),
      |d AS (
      |  SELECT dtf.doc_id, dtf.lang,
      |    CAST(SUM(dtf.cnt) AS BIGINT) AS n_tokens,
      |    SUM(dtf.cnt * ln(tf.c)) / SUM(dtf.cnt) AS alc
      |  FROM dtf JOIN tf USING (tk) GROUP BY 1, 2),
      |s AS (
      |  SELECT doc_id, lang, n_tokens,
      |    round(alc - ln((SELECT n FROM tot)), 6) AS score FROM d),
      |b AS (
      |  SELECT lang, n_tokens, score,
      |    ntile(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
      |      AS bucket
      |  FROM s)
      |SELECT lang, bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  round(AVG(score), 6) AS avg_logp,
      |  bucket <= 2 AS kept
      |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** FROZEN per-language tercile cutoffs of the perplexity sampler —
    * the deployable form of [[qPerplexityBuckets]]'s boundaries: the
    * minimum score inside buckets 1 and 2 of the training pass.
    * A streaming filter applies these as broadcast constants
    * ([[graft.streaming.StatefulOps.streamingPerplexityFilter]]) —
    * score ≥ b1_min → head, ≥ b2_min → middle, else tail — which is
    * how CCNet's filter actually deploys (thresholds from the
    * reference corpus, applied per shard). Languages-sized output.
    * Boundary note: the batch ntile splits EQUAL scores across
    * buckets by doc_id; a threshold necessarily maps a boundary-tied
    * score to the better bucket, so agreement off the two boundary
    * values is exact and ON them is by convention. */
  private[graft] def perplexityCutoffs(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    perplexityTerciles(scope, spark, sfDir)
      .groupBy(col("lang"))
      .agg(min(when(col("bucket") === 1, col("avg_logp_r"))).as("b1_min"),
        min(when(col("bucket") === 2, col("avg_logp_r"))).as("b2_min"))
  }

  /** The tercile of a `score` under its language's frozen
    * [[perplexityCutoffs]] columns `b1_min` and `b2_min`. */
  private[graft] def perplexityBucket(score: Column): Column =
    when(score >= col("b1_min"), 1)
      .when(score >= col("b2_min"), 2)
      .otherwise(3)

  /** DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023): score every document by its unigram log importance ratio
    * ln p_target/p_raw (target LM trained on the curated sources,
    * raw LM on the whole corpus — both served from the DURABLE
    * stored-model artifacts, [[TextOps.lmCuratedStored]] /
    * [[TextOps.lmStored]]), then resample the k documents winning
    * the Gumbel-top-k race (weight + Gumbel noise), which is exactly
    * sampling-without-replacement ∝ exp(weight). The published
    * recipe for "make raw crawl look like the trusted corpus".
    *
    * Determinism discipline: the Gumbel noise is a per-doc md5 hash
    * coin (−ln(−ln(u)), u uniform from the first 8 hex chars — no
    * RNG, reproducible across engines/partitionings/appends); the
    * weight and the ranking key are rounded to the repo's 6-decimal
    * float-parity convention BEFORE the top-k, and ties break on
    * doc_id, so the selected set is engine-exact. Scale: both model
    * joins are vocabulary-keyed; smoothing totals are meta literals;
    * the top-k is a TakeOrdered (per-partition heads, one k-row
    * merge), never a global sort. */
  def qDsir(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 100
    val (raw, nRaw) = TextOps.lmStored(spark, sfDir)
    val (tgt, nTgt, v) = TextOps.lmCuratedStored(spark, sfDir)
    val kk = math.log((nTgt + v).toDouble) - math.log((nRaw + v).toDouble)
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")),
        1, 8), 16, 10).cast("long").cast("double") + 0.5) / lit(4294967296.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("doc_id"), col("source"), col("tk"))
      .agg(count(lit(1)).as("cnt"))
      .join(raw, "tk")
      .join(tgt, Seq("tk"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg((sum(col("cnt") *
          (log(coalesce(col("ct"), lit(0L)) + 1) - log(col("c") + 1))) /
        sum(col("cnt"))).as("lr"))
      .withColumn("w_r", round(col("lr") - lit(kk), 6))
      .withColumn("key_r", round(col("w_r") + (-log(-log(u))), 6))
      .orderBy(col("key_r").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("w_r"), col("key_r"))
  }

  val qDsirOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |dtf AS (
      |  SELECT doc_id, source, tk, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
      |raw AS (SELECT tk, SUM(cnt) AS c FROM dtf GROUP BY 1),
      |tgt AS (
      |  SELECT tk, SUM(cnt) AS ct FROM dtf
      |  WHERE source IN ('src0','src1','src2') GROUP BY 1),
      |w AS (
      |  SELECT dtf.doc_id, dtf.source,
      |    round(SUM(dtf.cnt * (ln(COALESCE(tgt.ct, 0) + 1) - ln(raw.c + 1)))
      |        / SUM(dtf.cnt)
      |      - (ln((SELECT SUM(ct) FROM tgt) + (SELECT COUNT(*) FROM raw))
      |         - ln((SELECT SUM(c) FROM raw) + (SELECT COUNT(*) FROM raw))),
      |      6) AS w_r
      |  FROM dtf JOIN raw USING (tk) LEFT JOIN tgt USING (tk)
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT doc_id, source, w_r,
      |    round(w_r + (-ln(-ln(
      |      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |        + 0.5) / 4294967296.0))), 6) AS key_r
      |  FROM w)
      |SELECT doc_id, source, w_r, key_r FROM g
      |ORDER BY key_r DESC, doc_id LIMIT 100""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_dsir" -> (qDsir _),
    "sample_perplexity_buckets" -> (qPerplexityBuckets _),
    "sample_epoch_shuffle" -> (qEpochShuffle _),
    "sample_domain_filter" -> (qDomainFilter _),
    "sample_quality_dup_profile" -> (qQualityDupProfile _),
    "sample_temperature_mix" -> (qTemperatureMix _),
    "sample_compaction_plan" -> (qCompactionPlan _),
    "sample_token_budget" -> (qTokenBudget _),
    "sample_zorder_layout" -> (qZorderLayout _),
    "sample_train_order" -> (qTrainOrder _),
    "sample_drift_psi" -> (qDriftPsi _),
    "sample_split" -> (qSampleSplit _),
    "sample_balance_classes" -> (qBalanceClasses _),
    "sample_decontaminate" -> (qDecontaminate _),
    "sample_decontaminate_bloom" -> (qDecontaminateBloom _),
    "sample_mixture" -> (qMixtureSample _),
    "sample_importance" -> (qImportanceSample _),
    "sample_weighted_reservoir" -> (qWeightedReservoir _))

  val oracles: Map[String, String] = Map(
    "sample_dsir" -> qDsirOracle,
    "sample_perplexity_buckets" -> qPerplexityBucketsOracle,
    "sample_epoch_shuffle" -> qEpochShuffleOracle,
    "sample_domain_filter" -> qDomainFilterOracle,
    "sample_quality_dup_profile" -> qQualityDupProfileOracle,
    "sample_temperature_mix" -> qTemperatureMixOracle,
    "sample_compaction_plan" -> qCompactionPlanOracle,
    "sample_token_budget" -> qTokenBudgetOracle,
    "sample_zorder_layout" -> qZorderLayoutOracle,
    "sample_train_order" -> qTrainOrderOracle,
    "sample_drift_psi" -> qDriftPsiOracle,
    "sample_split" -> qSampleSplitOracle,
    "sample_balance_classes" -> qBalanceClassesOracle,
    "sample_decontaminate" -> qDecontaminateOracle,
    // the bloom pre-filter is exact-by-construction (no false
    // negatives; the confirm join drops false positives), so the
    // bloom variant shares the exact twin's oracle verbatim
    "sample_decontaminate_bloom" -> qDecontaminateOracle,
    "sample_mixture" -> qMixtureSampleOracle,
    "sample_importance" -> qImportanceSampleOracle,
    "sample_weighted_reservoir" -> qWeightedReservoirOracle)
}
