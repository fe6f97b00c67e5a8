package graft.operators

import graft.{Artifacts, QueryScope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north star,
  * BASELINE.json:6): brute-force cosine top-k as the exact baseline,
  * and a sign-LSH bucketed variant as the scale path.
  *
  * Scale design: the query set is small and BROADCAST, so the big
  * candidate side never shuffles for the join; per-query top-k is a
  * window over the query id (k rows per query survive the partial
  * sort). The LSH variant additionally prunes candidates to one
  * hash bucket — at 100 TB that's the difference between scanning
  * the corpus once per query batch and scanning 1/2^planes of it.
  * Dot products are sequential folds over the vector (same order as
  * the DuckDB oracle → bit-identical doubles).
  */
object SimilarityOps {

  private[graft] val NumQueries = 10
  private val TopK = 5

  /** Exact brute-force top-k: every query (vec_id < 10) scored against
    * every other vector; rank by cosine desc with id tie-break. */
  def qSimBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val q = broadcast(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val cand = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    cand.join(q, col("q_id") =!= col("n_id"))
      .withColumn("cosine", DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  val qSimBruteForceOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
       |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |rk AS (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine_r
       |FROM rk WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  /** Sign-LSH bucket key: the sign pattern of the first 4 dimensions
    * (4 axis-aligned hyperplanes → 16 buckets). A production ANN uses
    * random hyperplanes and multiple tables; the plan shape — compute
    * key map-side, join on key, top-k inside the bucket — is the same
    * and is what removes the O(n) scan per query.
    *
    * Defined as [[probeBucket]] with no flip so the hyperplane set
    * lives in exactly ONE place — the single-bucket and multi-probe
    * queries cannot diverge on what a bucket is (r12 review). */
  def bucketKey(v: Column): Column = probeBucket(v, lit(0))

  /** Approximate top-3 via sign-LSH: queries join only their own
    * bucket (~1/16 of the corpus), then exact cosine rank inside it. */
  def qSimLshBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      .withColumn("bucket", bucketKey(col("v")))
    val q = broadcast(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket")))
    val cand = e.select(col("vec_id").as("n_id"), col("v").as("nv"),
      col("nrm").as("nn"), col("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    cand.join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  val qSimLshBucketedOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |  (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
       |  FROM n q JOIN n c ON q.bucket = c.bucket
       |   AND q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |rk AS (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine_r
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Extra probes per query for multi-probe LSH (T in Lv et al. 2007):
    * each query searches its own bucket plus the T buckets reached by
    * flipping its T least-confident sign bits. Shared by the plan and
    * the oracle SQL so the probe count cannot drift. */
  private val MultiprobeT = 2

  /** The bucket reached by flipping hyperplane `flip`'s bit of `v`'s
    * sign pattern (flip = 0 means no flip — the home bucket): bit i is
    * "1" iff (v[i] >= 0) XOR (i = flip). Same 4 axis-aligned planes as
    * [[bucketKey]]. */
  private def probeBucket(v: Column, flip: Column): Column =
    concat((1 to 4).map(i =>
      when((element_at(v, i) >= 0) =!= (flip === i), "1").otherwise("0")): _*)

  /** MULTI-PROBE sign-LSH (Lv et al. 2007) — the LSH twin of
    * [[qSimIvfMultiprobe]]'s recall knob: a near neighbor that falls
    * just across ONE hyperplane lands in a bucket differing in exactly
    * that bit, and the bit most likely to differ is the one where the
    * query's projection margin |q·h_i| is smallest. Each query
    * therefore probes its home bucket plus the [[MultiprobeT]] buckets
    * reached by flipping its least-confident bits (margin rank
    * ascending, dimension tie-break) — recovering boundary neighbors
    * WITHOUT the classic multi-table LSH answer of building and
    * storing L independent hash tables. That trade is the paper's
    * point, and at 100 TB it is decisive: tables multiply the stored
    * index; probes only fan out the query side.
    *
    * Scale shape: the corpus side is untouched — one computed bucket
    * per vector, same equi-join as `sim_lsh_bucketed` (bucketed
    * storage prunes the scan identically). Only the tiny broadcast
    * query side fans out ×(T+1); probe buckets are distinct by
    * construction and a corpus vector lives in exactly one bucket, so
    * candidates arrive deduplicated and the scan cost is (T+1)/2^4 of
    * the corpus. The margin ranking is a window over the
    * queries-sized side only. */
  def qSimLshMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      .withColumn("bucket", bucketKey(col("v")))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    // least-confident bits: margin rank over the 4 hyperplanes,
    // computed on the queries-sized side (10 × 4 rows)
    val wMargin = Window.partitionBy(col("q_id"))
      .orderBy(abs(element_at(col("qv"), col("d"))), col("d"))
    val flips = q
      .select(col("q_id"), col("qv"), col("qn"),
        explode(array((1 to 4).map(lit): _*)).as("d"))
      .withColumn("mr", row_number().over(wMargin))
      .filter(col("mr") <= MultiprobeT)
      .select(col("q_id"), col("qv"), col("qn"),
        probeBucket(col("qv"), col("d")).as("bucket"))
    val qprobe = broadcast(q.unionByName(flips))
    val cand = e.select(col("vec_id").as("n_id"), col("v").as("nv"),
      col("nrm").as("nn"), col("bucket"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    cand.join(qprobe, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  val qSimLshMultiprobeOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |  (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket
       |  FROM n WHERE vec_id < $NumQueries),
       |dims AS (
       |  SELECT q_id, qv, qn, d,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY abs(qv[d]) ASC, d) AS mr
       |  FROM q CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS d) dd),
       |probes AS (
       |  SELECT q_id, qv, qn, bucket FROM q
       |  UNION ALL
       |  SELECT q_id, qv, qn,
       |    (CASE WHEN (qv[1] >= 0) != (d = 1) THEN '1' ELSE '0' END ||
       |     CASE WHEN (qv[2] >= 0) != (d = 2) THEN '1' ELSE '0' END ||
       |     CASE WHEN (qv[3] >= 0) != (d = 3) THEN '1' ELSE '0' END ||
       |     CASE WHEN (qv[4] >= 0) != (d = 4) THEN '1' ELSE '0' END) AS bucket
       |  FROM dims WHERE mr <= $MultiprobeT),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS n_id,
       |    list_dot_product(p.qv, c.v) / (p.qn * c.nrm) AS cosine
       |  FROM n c JOIN probes p ON c.bucket = p.bucket
       |   AND p.q_id != c.vec_id),
       |rk AS (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine_r
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  private val NumCentroids = 8

  /** Top-`nprobe` centroid assignments per vector (broadcast join
    * against K centroids + argmax window — the corpus never shuffles). */
  private[operators] def cellAssignments(e: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    e.join(cent)
      .withColumn("ccos", DedupOps.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
  }

  private[operators] def centroids(e: DataFrame): DataFrame = broadcast(
    e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn")))

  private def ivfTopK(assigned: DataFrame, qprobe: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    assigned.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"), col("cid"))
      .join(qprobe, Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  /** IVF-style ANN: a coarse quantizer assigns every vector to its
    * nearest centroid (here: the first 8 vectors as deterministic
    * centroids — a production build k-means-trains them; the plan is
    * identical), queries probe ONLY their own cell (nprobe=1), exact
    * cosine ranks within the cell. At 100 TB the corpus is stored
    * partitioned BY cell, so a probe reads 1/K of the data — the
    * partition-pruned layout LSH cannot give you (its buckets are
    * computed, not stored). Assignment is one broadcast join against
    * K centroids + an argmax window — no shuffle of the corpus. */
  def qSimIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val cent = centroids(e)
    val assigned = cellAssignments(e, cent, nprobe = 1)
    val q = broadcast(
      assigned.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("cid")))
    ivfTopK(assigned, q)
  }

  /** Multi-probe IVF (nprobe=2): each query searches its TWO nearest
    * cells — the standard recall knob. Corpus vectors still live in
    * exactly one cell (the stored, partition-pruned layout is
    * unchanged); only the tiny broadcast query side fans out ×nprobe,
    * so the scan cost is nprobe/K of the corpus and recall recovers
    * the neighbors that fell just across a cell boundary. */
  def qSimIvfMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val cent = centroids(e)
    val assigned = cellAssignments(e, cent, nprobe = 1)
    val qprobe = broadcast(
      cellAssignments(e.filter(col("vec_id") < NumQueries), cent, nprobe = 2)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("cid")))
    ivfTopK(assigned, qprobe)
  }

  val qSimIvfOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, v, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cid FROM a WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |    list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS cosine
       |  FROM a c JOIN q ON c.cid = q.cid AND q.q_id != c.vec_id),
       |rk AS (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine_r
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  private val KCenterRounds = 8

  /** GREEDY K-CENTER CORESET (Gonzalez 1985's 2-approximation — the
    * classic diverse-subset selector, used as coreset seeding and
    * "maximally spread" data selection): start from vector 0, then
    * repeatedly take the vector FARTHEST from every chosen center
    * (maximin), 8 rounds. Unlike hash sampling (uniform) or quality
    * ranking (redundant picks), k-center guarantees the selected set
    * 2-approximates the best possible coverage radius — the pick for
    * "label a spread-out subset first".
    *
    * Exactness: millionth-quantized vectors, exact Long squared-L2,
    * maximin argmax tie-broken by id — fully deterministic, and the
    * emitted radii are the exact integers both engines compute.
    *
    * Scale shape: each round is ONE map-only pass (the chosen centers
    * ride as plan literals, the label-outliers discipline) + a
    * TakeOrdered(1) — k rounds cost k corpus scans with zero
    * shuffles beyond the top-1 reduction; the driver holds only k
    * small vectors. The maximin radius is also the live convergence
    * telemetry (it only shrinks). */
  def qSimKcenterCoreset(spark: SparkSession, sfDir: String): DataFrame = QueryScope.eager(spark) { scope =>
    import spark.implicits._
    val q = scope.persist(quantized(spark, sfDir))
    def vecOf(id: Long): Seq[Long] =
      q.filter(col("vec_id") === id).head.getSeq[Long](1)
    def d2(cv: Seq[Long]): Column =
      aggregate(zip_with(col("q"), typedlit(cv), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    var centers = Vector((0L, vecOf(0L), 0L))
    for (_ <- 1 until KCenterRounds) {
      val dmin = array_min(array(centers.map { case (_, cv, _) => d2(cv) }: _*))
      val next = q.filter(!col("vec_id").isin(centers.map(_._1): _*))
        .select(col("vec_id"), dmin.as("dm"))
        .orderBy(col("dm").desc, col("vec_id")).limit(1).head()
      centers = centers :+ ((next.getLong(0), vecOf(next.getLong(0)),
        next.getLong(1)))
    }
    centers.zipWithIndex
      .map { case ((id, _, r), i) => (i, id, r) }
      .toDF("round", "center_id", "maximin_d2")
  }

  /** The greedy recursion unrolled: stage t picks the argmax of the
    * running LEAST over the t chosen centers' exact distances. */
  val qSimKcenterCoresetOracle: String = {
    val dist = (c: String) =>
      s"""CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
         |    i -> (q.qv[i] - $c.cq[i]) * (q.qv[i] - $c.cq[i]))) AS BIGINT)""".stripMargin
    val stages = (1 until KCenterRounds).map { t =>
      val prevIds = (0 until t).map(k => s"(SELECT id FROM p$k)").mkString(", ")
      val froms = (0 until t).map(k => s"c${k}v").mkString(", ")
      val least = (0 until t).map(k => dist(s"c${k}v")).mkString("LEAST(", ",\n  ", ")")
      s"""c${t - 1}v AS (SELECT qv AS cq FROM q WHERE vec_id = (SELECT id FROM p${t - 1})),
         |p$t AS (
         |  SELECT q.vec_id AS id, $least AS dm
         |  FROM q, $froms
         |  WHERE q.vec_id NOT IN ($prevIds)
         |  ORDER BY dm DESC, q.vec_id LIMIT 1)""".stripMargin
    }
    val rows = (0 until KCenterRounds).map { t =>
      if (t == 0) s"SELECT 0 AS round, (SELECT id FROM p0) AS center_id, 0 AS maximin_d2"
      else s"SELECT $t, (SELECT id FROM p$t), (SELECT dm FROM p$t)"
    }
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
       |  FROM e),
       |p0 AS (SELECT 0::BIGINT AS id, 0::BIGINT AS dm),
       |${stages.mkString(",\n")}
       |SELECT CAST(round AS INT) AS round, CAST(center_id AS BIGINT) AS center_id,
       |  CAST(maximin_d2 AS BIGINT) AS maximin_d2
       |FROM (${rows.mkString("\nUNION ALL\n")}) t
       |ORDER BY round""".stripMargin
  }

  /** BINARY-SIGNATURE RE-RANK — the 1-bit quantization tier of a
    * production retrieval stack (binary embeddings à la Faiss's
    * IndexBinary / Cohere int1: 64 dims → 64 sign bits, a 32×
    * smaller scan than the float vectors): candidates come from the
    * sign-LSH bucket equi-join (the coarse tier), then rank by
    * HAMMING distance over the packed signature instead of float
    * cosine — the cheap CPU-popcount pass that decides what little
    * gets float re-scoring. Signatures pack as two 32-bit words via
    * exact Horner/power arithmetic (no float anywhere in the
    * distance); Hamming = popcount(xor) per word, summed — bit-exact
    * in both engines, rank ties broken by id.
    *
    * Scale shape: signature packing is map-only; the candidate join
    * is the same bucket equi-join as `sim_lsh_bucketed` (queries
    * broadcast); the per-query rank window runs over ~1/16 of the
    * corpus. No nested loops. */
  def qSimBinaryRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def word(off: Int): Column =
      aggregate(
        transform(sequence(lit(0), lit(31)), i =>
          when(element_at(col("v"), i + off + 1) >= 0,
            pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x)
    val sig = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
      .withColumn("bucket", bucketKey(col("v")))
      .withColumn("w1", word(0)).withColumn("w2", word(32))
    val q = broadcast(sig.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("bucket"),
        col("w1").as("qw1"), col("w2").as("qw2")))
    val wr = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("n_id"))
    sig.select(col("vec_id").as("n_id"), col("bucket"),
        col("w1"), col("w2"))
      .join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("hamming",
        bit_count(col("w1").bitwiseXOR(col("qw1"))) +
          bit_count(col("w2").bitwiseXOR(col("qw2"))))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("hamming"))
  }

  /** Same packing (POWER is exact to 2³¹), xor+bit_count Hamming. */
  val qSimBinaryRerankOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END) AS bucket,
       |  CAST(list_sum(list_transform(generate_series(1, 32),
       |    i -> CASE WHEN v[i] >= 0 THEN CAST(POWER(2, i - 1) AS BIGINT)
       |         ELSE 0 END)) AS BIGINT) AS w1,
       |  CAST(list_sum(list_transform(generate_series(33, 64),
       |    i -> CASE WHEN v[i] >= 0 THEN CAST(POWER(2, i - 33) AS BIGINT)
       |         ELSE 0 END)) AS BIGINT) AS w2
       |  FROM e),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    CAST(bit_count(xor(q.w1, c.w1)) + bit_count(xor(q.w2, c.w2)) AS INT)
       |      AS hamming
       |  FROM n q JOIN n c ON q.bucket = c.bucket
       |    AND q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |rk AS (
       |  SELECT q_id, n_id, hamming,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY hamming, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, CAST(rank AS INT) AS rank, n_id, hamming
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** IVF INDEX-HEALTH REPORT — the occupancy audit an ANN operator
    * reads before trusting the index: per-cell population, its share
    * in integer ppm, the cumulative share when cells are read
    * hottest-first (how concentrated the index is), and a balance
    * gate per cell (a cell is `oversized` when it holds more than 2×
    * the fair share n/K — the condition that makes nprobe=1 latency
    * lumpy and tells the operator to re-train or split cells).
    * Everything integer: shares by cross-multiplication, no float
    * division anywhere.
    *
    * Scale shape: the assignment is the usual broadcast-centroid
    * argmax (corpus never shuffles); the report aggregates to K rows
    * — index-metadata-sized, free at any corpus size. */
  def qSimIvfCellStats(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val cells = cellAssignments(e, centroids(e), nprobe = 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .transform(scope.persist)
    val total = cells.agg(sum(col("n"))).head.getLong(0)
    cells
      .withColumn("share_ppm", expr(s"n * 1000000 DIV $total"))
      .withColumn("hot_rank", row_number().over(
        Window.orderBy(col("n").desc, col("cid"))))
      .withColumn("cum_ppm",
        expr(s"sum(n) OVER (ORDER BY n DESC, cid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 DIV $total"))
      .withColumn("oversized",
        col("n") * NumCentroids > lit(2L) * total)
      .select(col("cid"), col("n"), col("share_ppm"),
        col("hot_rank"), col("cum_ppm"), col("oversized"))
  }

  /** The IVF oracle's assignment CTE + the same integer arithmetic. */
  val qSimIvfCellStatsOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |cells AS (SELECT cid, COUNT(*) AS n FROM asg WHERE rn = 1 GROUP BY 1),
       |tot AS (SELECT SUM(n) AS t FROM cells),
       |r AS (
       |  SELECT cid, n,
       |    CAST(n * 1000000 // (SELECT t FROM tot) AS BIGINT) AS share_ppm,
       |    CAST(row_number() OVER (ORDER BY n DESC, cid) AS INT) AS hot_rank,
       |    CAST(SUM(n) OVER (ORDER BY n DESC, cid
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      * 1000000 // (SELECT t FROM tot) AS BIGINT) AS cum_ppm,
       |    n * $NumCentroids > 2 * (SELECT t FROM tot) AS oversized
       |  FROM cells)
       |SELECT cid, n, share_ppm, hot_rank, cum_ppm, oversized
       |FROM r ORDER BY hot_rank""".stripMargin

  val qSimIvfMultiprobeOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, v, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
       |qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cid
       |       FROM asg WHERE rn <= 2 AND vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |    list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS cosine
       |  FROM a c JOIN qp q ON c.cid = q.cid AND q.q_id != c.vec_id),
       |rk AS (
       |  SELECT q_id, n_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine_r
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** One k-means M-step over the IVF cells: the new centroid of every
    * cell, computed as the DIMENSION-WISE mean — `posexplode` the
    * vectors to (cell, dim, value) rows, aggregate per (cell, dim),
    * reassemble. This is the canonical distributed vector-mean shape
    * (quantizer training, embedding cluster summaries): one shuffle on
    * (cell, dim) with map-side partial sums, never a driver-side
    * vector loop. Components are quantized to integers (floor ×10⁶)
    * BEFORE summing so the aggregation is exact under any partial-sum
    * order — float sums are order-dependent and would diverge between
    * engines and between runs. */
  def qKmeansStep(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val assigned = cellAssignments(e, centroids(e), nprobe = 1)
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .withColumn("q", floor(col("x") * 1000000).cast("long"))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(col("q")).cast("double") / count(lit(1)) / 1000000.0).as("mean_q"))
  }

  val qKmeansStepOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, v, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
       |dims AS (
       |  SELECT cid, u.i - 1 AS dim, CAST(floor(v[u.i] * 1000000) AS BIGINT) AS q
       |  FROM a, unnest(generate_series(1, len(v))) AS u(i))
       |SELECT cid, CAST(dim AS INT) AS dim, COUNT(*) AS n,
       |  CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_q
       |FROM dims GROUP BY cid, dim ORDER BY cid, dim""".stripMargin

  private val cellCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Long])]]()

  /** The IVF cells' M-step centroids, re-quantized to integer
    * millionths (floor(Σq/n) — one identical IEEE division per value
    * in both engines) and memoized per dataset. Same aggregation pass
    * as [[qKmeansStep]], same literal-carrying discipline as
    * [[labelCentroids]]. */
  private def ivfCellCentroids(spark: SparkSession, sfDir: String): Seq[(Int, Seq[Long])] =
    cellCentCache.computeIfAbsent(sfDir, _ => {
      val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      cellAssignments(e, centroids(e), nprobe = 1)
        .select(col("cid"), posexplode(pqQuant(col("v"))).as(Seq("dim", "q")))
        .groupBy(col("cid"), col("dim"))
        .agg(floor(sum(col("q")).cast("double") / count(lit(1))).cast("long").as("m"))
        .groupBy(col("cid"))
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("ms"))
        .select(col("cid"), col("ms.m").as("cv"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getSeq[Long](1))
        .sortBy(_._1).toSeq
    })

  /** One FULL Lloyd iteration over the IVF cells: the M-step means
    * (integer-quantized, carried as plan literals) re-assign every
    * vector by EXACT integer squared-L2 argmin, and the query emits
    * the convergence telemetry a distributed k-means loop monitors —
    * per new cell: its size, how many members arrived from a
    * different seed cell, and the exact inertia (Σ d² to the assigned
    * centroid). The E-step is the same map-only literal-scoring shape
    * as label outliers (zero joins); the only shuffles are the seed
    * assignment's window and the final per-cell aggregate. At 100 TB
    * each Lloyd round is: tiny M-step agg → broadcast K×dims literals
    * → map-only re-score → one K-row aggregate — the canonical
    * distributed k-means with no corpus join anywhere. */
  def qKmeansIter(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = ivfCellCentroids(spark, sfDir)
    def dist(cv: Seq[Long]): Column =
      aggregate(
        zip_with(col("qv"), typedlit(cv), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val darr = array(cents.map { case (c, cv) =>
      struct(dist(cv).as("d"), lit(c).as("c")) }: _*)
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    cellAssignments(e, centroids(e), nprobe = 1)
      .withColumnRenamed("cid", "seed_cid")
      .withColumn("qv", pqQuant(col("v")))
      .withColumn("best", array_min(darr))
      .groupBy(col("best.c").as("cid"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("seed_cid") =!= col("best.c"), 1L).otherwise(0L)).as("n_moved"),
        sum(col("best.d")).as("inertia"))
  }

  /** The IVF seed assignment + integer M-step + exact-L2 E-step in
    * DuckDB; the cross join is corpus × K centroids (the model side),
    * argmin tie-break lowest cid, all distances exact integers. */
  val qKmeansIterOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv FROM e),
       |cent0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, qv, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent0),
       |a AS (SELECT vec_id, qv, cid FROM asg WHERE rn = 1),
       |xd AS (SELECT cid, u.i - 1 AS dim, qv[u.i] AS q
       |       FROM a, unnest(generate_series(1, len(qv))) AS u(i)),
       |cm AS (SELECT cid AS cl, dim,
       |         CAST(floor(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
       |       FROM xd GROUP BY 1, 2),
       |cent AS (SELECT cl, array_agg(m ORDER BY dim) AS cv FROM cm GROUP BY 1),
       |d AS (
       |  SELECT a.vec_id, a.cid, c.cl,
       |    CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
       |      i -> (a.qv[i] - c.cv[i]) * (a.qv[i] - c.cv[i]))) AS BIGINT) AS d
       |  FROM a CROSS JOIN cent c),
       |best AS (
       |  SELECT vec_id, cid, cl, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
       |  FROM d)
       |SELECT CAST(cl AS INT) AS cid, COUNT(*) AS n_new,
       |  CAST(SUM(CASE WHEN cid != cl THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       |  CAST(SUM(d) AS BIGINT) AS inertia
       |FROM best WHERE rn = 1
       |GROUP BY cl ORDER BY cid""".stripMargin

  /** Scalar int8 quantization per vector (the compression step before
    * an ANN index ships to serving): per-vector min/max affine map to
    * [0,255], dequantize, and report reconstruction error. Pure
    * per-row array algebra — zero shuffles; at 100 TB this is a
    * map-only pass that rides whatever partitioning the corpus
    * already has. The quantized codes are emitted as an md5 digest
    * (not an array column) per the driver-compare convention —
    * pandas cannot sort array cells. All arithmetic is DOUBLE in a
    * fixed per-vector fold order, so both engines produce identical
    * bits; the error metrics are rounded to 6 per the float-parity
    * convention. */
  def qQuantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("scale", (col("mx") - col("mn")) / lit(255.0))
    val q = e.withColumn("q",
      when(col("mx") === col("mn"),
        transform(col("v"), _ => lit(0)))
        .otherwise(transform(col("v"),
          x => round((x - col("mn")) / col("scale")).cast("int"))))
    val deq = q.withColumn("dq",
      transform(col("q"), qi => col("mn") + qi.cast("double") * col("scale")))
    deq
      .withColumn("se",
        zip_with(col("v"), col("dq"), (a, b) => (a - b) * (a - b)))
      .select(col("vec_id"),
        md5(array_join(transform(col("q"), _.cast("string")), ",")
          .cast("binary")).as("q_md5"),
        round(col("mn"), 6).as("v_min_r"),
        round(col("mx"), 6).as("v_max_r"),
        round(aggregate(col("se"), lit(0.0d), _ + _) / size(col("v")), 6)
          .as("mse_r"),
        round(array_max(zip_with(col("v"), col("dq"),
          (a, b) => abs(a - b))), 6).as("max_abs_err_r"))
  }

  val qQuantizeInt8Oracle: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |mm AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
      |         (list_max(v) - list_min(v)) / 255.0 AS scale FROM e),
      |qz AS (SELECT vec_id, v, mn, mx, scale,
      |  CASE WHEN mx = mn THEN list_transform(v, x -> 0)
      |       ELSE list_transform(v, x -> CAST(round((x - mn) / scale) AS INT))
      |  END AS q FROM mm),
      |dq AS (SELECT vec_id, v, mn, mx, scale, q,
      |  list_transform(q, qi -> mn + CAST(qi AS DOUBLE) * scale) AS d
      |  FROM qz)
      |SELECT vec_id,
      |  md5(array_to_string(q, ',')) AS q_md5,
      |  round(mn, 6) AS v_min_r,
      |  round(mx, 6) AS v_max_r,
      |  round(list_sum(list_transform(generate_series(1, len(v)),
      |    i -> (v[i] - d[i]) * (v[i] - d[i]))) / len(v), 6) AS mse_r,
      |  round(list_max(list_transform(generate_series(1, len(v)),
      |    i -> abs(v[i] - d[i]))), 6) AS max_abs_err_r
      |FROM dq ORDER BY vec_id""".stripMargin

  // ---- Random projection (Johnson–Lindenstrauss) ----

  private val RpOut = 8

  /** The deterministic ±1 sign matrix (RpOut × 64): sign(k,j) = +1
    * iff the first hex char of md5("rp_k_j") is in 0..7 (i.e. the
    * top bit of the digest is 0) — the md5-derived coin the repo uses
    * everywhere a hash must reproduce bit-for-bit in DuckDB. Achlioptas
    * (2003) showed ±1 entries satisfy the JL lemma; the matrix is a
    * pure function of (k,j), so every executor AND the oracle derive
    * the identical matrix with no shipped state. */
  private lazy val rpSigns: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(RpOut, 64) { (k, j) =>
      val hex = md.digest(s"rp_${k}_$j".getBytes("UTF-8"))
      md.reset()
      if (((hex(0) >> 4) & 0xf) <= 7) 1L else -1L
    }
  }

  /** Johnson–Lindenstrauss random projection: every embedding mapped
    * to [[RpOut]] dimensions by a deterministic ±1 sign matrix riding
    * as PLAN LITERALS — the cheap dimensionality reduction in front
    * of LSH tables, coarse quantizers, and drift monitors when 64
    * (or 4096) dims are too wide to hash. Map-only: project, explode
    * to (vec_id, k, p), no join, no shuffle (order unspecified);
    * at 100 TB this rides the corpus partitioning untouched, and the
    * 8-dim output is what later stages shuffle INSTEAD of the full
    * vector (an 8× shuffle-byte reduction is the whole point).
    * Components are millionth-quantized before the signed sum so the
    * projection is exact integer arithmetic in any fold order. */
  def qSimRandomProjection(spark: SparkSession, sfDir: String): DataFrame = {
    val proj = array(rpSigns.zipWithIndex.map { case (row, k) =>
      aggregate(
        zip_with(col("qv"), typedlit(row.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)
    }: _*)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), pqQuant(col("embedding")).as("qv"))
      .select(col("vec_id"), posexplode(proj).as(Seq("k", "p")))
      .select(col("vec_id"), col("k").cast("int").as("k"), col("p"))
  }

  /** Oracle re-derives the sign matrix from md5 in SQL — same
    * definition, zero shared state with the Scala side. */
  val qSimRandomProjectionOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv FROM e),
       |sj AS (
       |  SELECT k.k, j.j,
       |    CASE WHEN substr(md5('rp_' || k.k || '_' || (j.j - 1)), 1, 1) <= '7'
       |         THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(generate_series(0, ${RpOut - 1})) AS k) k,
       |       (SELECT unnest(generate_series(1, 64)) AS j) j)
       |SELECT q.vec_id, CAST(sj.k AS INT) AS k,
       |  CAST(SUM(sj.s * q.qv[sj.j]) AS BIGINT) AS p
       |FROM q, sj
       |GROUP BY q.vec_id, sj.k
       |ORDER BY q.vec_id, k""".stripMargin

  // ---- Embedding truncation recall (Matryoshka-style eval) ----

  private val TruncDims = 32

  /** Top-[[TopK]] neighbor ids per query, at either full width or a
    * [[TruncDims]]-prefix: the shared body under the truncation eval
    * (broadcast query side, window top-k — the brute-force shape). */
  private def topIdsAt(e: DataFrame, dims: Option[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = dims match {
      case Some(d) => e.select(col("vec_id"), slice(col("v"), 1, d).as("v"))
      case None    => e
    }
    val n = base.withColumn("nrm",
      graft.functions.VectorFunctions.l2Norm(col("v")))
    val q = broadcast(n.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    n.select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(q, col("q_id") =!= col("n_id"))
      .withColumn("cosine", DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("n_id"))
  }

  /** Matryoshka-style TRUNCATION EVAL (Kusupati et al. 2022,
    * arXiv:2205.13147 — public method): recall@k of searching only
    * the first [[TruncDims]] of 64 dimensions against the full-width
    * ground truth, per query. This is the measurement behind the
    * production decision "can the ANN tier read a prefix and cut
    * index IO 2×?" — at 100 TB the eval itself stays cheap because
    * both sides use the broadcast-query brute-force shape over a
    * BOUNDED query sample (the corpus is scanned, never self-joined),
    * and the verdict join is (q_id, n_id) equi. */
  def qSimTruncationRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"))
    val full = topIdsAt(e, None)
    val trunc = topIdsAt(e, Some(TruncDims))
    val overlap = trunc.join(full, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("overlap"))
    full.select(col("q_id")).distinct()
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("overlap"), lit(0L)).as("overlap"),
        round(coalesce(col("overlap"), lit(0L)) / lit(TopK.toDouble), 6)
          .as("recall_r"))
  }

  val qSimTruncationRecallOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nf AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |nt AS (SELECT vec_id, v[1:$TruncDims] AS tv,
       |  sqrt(list_dot_product(v[1:$TruncDims], v[1:$TruncDims])) AS tnrm FROM e),
       |rkf AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
       |               c.vec_id) AS rk
       |  FROM nf q JOIN nf c ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |rkt AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_dot_product(q.tv, c.tv) / (q.tnrm * c.tnrm) DESC,
       |               c.vec_id) AS rk
       |  FROM nt q JOIN nt c ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |ov AS (
       |  SELECT t.q_id, COUNT(*) AS c
       |  FROM rkt t JOIN rkf f
       |    ON t.q_id = f.q_id AND t.n_id = f.n_id AND t.rk <= $TopK AND f.rk <= $TopK
       |  WHERE t.rk <= $TopK
       |  GROUP BY t.q_id)
       |SELECT q.q_id, COALESCE(ov.c, 0) AS overlap,
       |  round(COALESCE(ov.c, 0) / ${TopK}.0, 6) AS recall_r
       |FROM (SELECT DISTINCT q_id FROM rkf) q LEFT JOIN ov USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** Dimension-pair Pearson CORRELATION MATRIX over the embedding
    * corpus — the feature-stats pass before whitening / PCA /
    * redundant-dimension pruning. ONE typed-aggregation pass
    * ([[graft.functions.GramMoments]]) accumulates every per-dim sum
    * AND every upper-triangle product sum in a flat Long array with
    * map-side partials, so the exchange carries one ~2 144-slot
    * buffer per partition — not the dims²/2 product rows per input
    * row the previous explode-into-hash-aggregate shape paid
    * (measured 3.9 s → the explode/probe work dominated). The single
    * result row then fans out to the 2 080 (d1, d2) pairs by a
    * one-row explode, and every moment the correlation needs is an
    * `element_at` into the aggregated arrays — zero joins. Moments
    * are exact: values quantize to integer millionths, products are
    * multiplyExact'd, and near-overflow sums spill to an exact
    * big-integer lane (order-independent — same discipline as
    * q_regression/q_zscore); correlation drops to double only in the
    * final projection. Total shuffle: one buffer per partition,
    * independent of corpus size. */
  def qDimCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nd = 64
    val q = Tables.embeddings(spark, sfDir)
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1000000).cast("long")).as("q"))
    val packed = q.as[Array[Long]]
      .select(graft.functions.GramMoments(nd).toColumn.name("g"))
      .toDF("n", "sums")
      // a global aggregate emits a zero row even on empty input; the
      // legacy shape emitted nothing — keep that contract
      .filter(col("n") > 0)
    // 1-based flat index of Σx_i·x_j in the moments layout (i <= j);
    // i(i-1) is even, so the double division is exact and the int cast
    // is safe for any nd that fits the layout
    def pairIdx(i: Column, j: Column): Column =
      (lit(nd) + i * nd - (i * (i - lit(1))) / 2 + (j - i) + 1).cast("int")
    def sx(i: Column): Column = element_at(col("sums"), (i + 1).cast("int"))
    def sxx(i: Column): Column = element_at(col("sums"), pairIdx(i, i))
    packed
      .select(col("n"), col("sums"),
        explode(flatten(transform(sequence(lit(0), lit(nd - 1)), i =>
          transform(sequence(i, lit(nd - 1)), j =>
            struct(i.as("d1"), j.as("d2")))))).as("p"))
      .select(col("n"), col("p.d1").as("d1"), col("p.d2").as("d2"),
        sx(col("p.d1")).as("sx1"), sx(col("p.d2")).as("sx2"),
        sxx(col("p.d1")).as("sxx1"), sxx(col("p.d2")).as("sxx2"),
        element_at(col("sums"), pairIdx(col("p.d1"), col("p.d2"))).as("sxy"))
      .withColumn("den",
        (col("n") * col("sxx1") - col("sx1") * col("sx1")) *
          (col("n") * col("sxx2") - col("sx2") * col("sx2")))
      .select(col("d1"), col("d2"),
        when(col("den") > 0, round(
          (col("n") * col("sxy") - col("sx1") * col("sx2")) / sqrt(col("den")), 6))
          .as("corr_r"))
  }

  val qDimCorrOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id,
      |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      |  FROM e),
      |x AS (SELECT vec_id, u.i - 1 AS d, qv[u.i] AS xq
      |      FROM q, unnest(generate_series(1, len(qv))) AS u(i)),
      |ds AS (SELECT d, COUNT(*) AS n,
      |  CAST(SUM(CAST(xq AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(xq * xq AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      |  FROM x GROUP BY 1),
      |p AS (SELECT a.d AS d1, b.d AS d2,
      |  CAST(SUM(CAST(a.xq * b.xq AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.d <= b.d
      |  GROUP BY 1, 2)
      |SELECT CAST(p.d1 AS INT) AS d1, CAST(p.d2 AS INT) AS d2,
      |  CASE WHEN (s1.n * s1.sxx - s1.sx * s1.sx) *
      |            (s1.n * s2.sxx - s2.sx * s2.sx) > 0
      |       THEN round((s1.n * p.sxy - s1.sx * s2.sx) /
      |         sqrt((s1.n * s1.sxx - s1.sx * s1.sx) *
      |              (s1.n * s2.sxx - s2.sx * s2.sx)), 6)
      |  END AS corr_r
      |FROM p
      |JOIN ds s1 ON s1.d = p.d1
      |JOIN ds s2 ON s2.d = p.d2
      |ORDER BY d1, d2""".stripMargin

  /** The BASE-side ANN index a production similarity service
    * materializes ONCE and serves every arriving batch from: per base
    * vector, the normalized vector, its norm, and the sign-LSH bucket
    * of every table at the geometry FROZEN at build time (an index's
    * geometry cannot drift under its readers; re-bucketing is a
    * rebuild). Write with `simIndex(base, k).write.parquet(dir)` and
    * feed dir + k to [[qSimIncrementalStored]]. The similarity mirror
    * of DedupOps.baseSignatures. */
  def simIndex(base: DataFrame, k: Int): DataFrame =
    base.select(col("vec_id"), col("v"), col("nrm"))
      .join(DedupOps.signLshBuckets(base, k, 64 / k)
        .groupBy(col("vec_id"))
        .agg(collect_list(struct(col("tbl"), col("bucket"))).as("buckets")),
        "vec_id")

  /** INCREMENTAL similarity classification against a STORED index:
    * each incoming vector (id-hash bucket ≥ 90, standing in for the
    * day's arrivals) is bucketed at the index's frozen geometry,
    * candidates come from the (tbl, bucket) equi-join against the
    * stored assignments, and the best base match ([[simMatch]]) wins
    * (tie-break min base id) — `new` if no candidate clears the bar.
    * The base corpus is never re-read or re-bucketed; daily cost
    * tracks the incoming batch, exactly like the stored-signatures
    * dedup path. */
  def qSimIncrementalStored(spark: SparkSession, sfDir: String,
      indexDir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val incoming = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      .withColumn("hb", SamplingOps.bucket100("vec_id"))
      .filter(col("hb") >= 90).drop("hb", "label")
    val index = Tables.parquet(spark, indexDir)
    val idxb = index
      .select(col("vec_id").as("base_id"), explode(col("buckets")).as("bb"))
      .select(col("base_id"), col("bb.tbl").as("b_tbl"), col("bb.bucket").as("b_bucket"))
    val cand = DedupOps.signLshBuckets(incoming, k, 64 / k)
      .join(idxb, col("tbl") === col("b_tbl") && col("bucket") === col("b_bucket"))
      .select(col("vec_id"), col("base_id"))
      .distinct()
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("base_id"))
    val best = cand
      .join(incoming.select(col("vec_id"), col("v").as("qv"), col("nrm").as("qn")), "vec_id")
      .join(index.select(col("vec_id").as("base_id"), col("v").as("bv"), col("nrm").as("bn")), "base_id")
      .withColumn("cosine", simCosine)
      .filter(simMatch(col("cosine")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("base_id").as("match_id"),
        round(col("cosine"), 6).as("cosine_r"))
    incoming.select("vec_id")
      .join(best, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), simStatus(col("match_id")), col("match_id"), col("cosine_r"))
  }

  /** The cosine of a query vector (`qv`, norm `qn`) and a base vector
    * (`bv`, norm `bn`). Shared by [[qSimIncrementalStored]] and its
    * streaming twin (`StatefulOps.streamingSimIncremental`). */
  private[graft] def simCosine: Column =
    DedupOps.dot(col("qv"), col("bv")) / (col("qn") * col("bn"))

  /** A candidate whose cosine clears this bar is a match. */
  private[graft] def simMatch(cosine: Column): Column = cosine >= 0.4

  /** The incremental-similarity verdict: `match` when a best match
    * exists, else `new`. */
  private[graft] def simStatus(matchId: Column): Column =
    when(matchId.isNotNull, "match").otherwise("new").as("status")

  /** [[qSimIncrementalStored]] as a registered query: builds the base
    * slice's [[simIndex]] once per DATASET — durable on disk via
    * [[Artifacts]], with the frozen plane count persisted as artifact
    * metadata so fresh JVMs recover the geometry without re-counting
    * the base (geometry from the same occupancy rule as the ANN miner,
    * sized on the BASE count) — then classifies the incoming slice
    * against it. The DuckDB oracle reproduces geometry, buckets,
    * cosines, and tie-breaks bit-for-bit. */
  def qSimIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, k) = incrementalIndexDir(spark, sfDir)
    qSimIncrementalStored(spark, sfDir, dir, k)
  }

  /** The durable stored-index location + its frozen plane count for a
    * dataset's base slice — shared by the batch incremental query and
    * the STREAMING serving twin
    * (`StatefulOps.streamingSimIncremental`), so both classify against
    * the same artifact. */
  def incrementalIndexDir(spark: SparkSession, sfDir: String): (String, Int) = {
    val (d, meta) = Artifacts.getOrBuildMeta(spark, sfDir, "sim_index") { dir =>
      val base = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
        .withColumn("hb", SamplingOps.bucket100("vec_id"))
        .filter(col("hb") < 90).drop("hb", "label")
      val kk = DedupOps.signLshPlanes(base.count())
      simIndex(base, kk).write.parquet(dir)
      kk.toString
    }
    (d, meta.trim.toInt)
  }

  val qSimIncrementalOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |hb AS (SELECT vec_id,
      |  CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS INT) % 100 AS hb
      |  FROM e),
      |base AS (SELECT n.* FROM n JOIN hb USING (vec_id) WHERE hb.hb < 90),
      |inc AS (SELECT n.* FROM n JOIN hb USING (vec_id) WHERE hb.hb >= 90),
      |kk AS (
      |  SELECT k, 64 // k AS ntab FROM (
      |    SELECT GREATEST(4, LEAST(10,
      |      CASE WHEN m <= 1 THEN 0 ELSE LENGTH(bin(m - 1)) END)) AS k
      |    FROM (SELECT (COUNT(*) + 63) // 64 AS m FROM base) mm) kx),
      |bb AS (
      |  SELECT vec_id, t.t AS tbl,
      |    array_to_string([CASE WHEN v[t.t*k + i] >= 0 THEN '1' ELSE '0' END
      |                     FOR i IN generate_series(1, k)], '') AS bucket
      |  FROM base, kk, unnest(generate_series(0, (SELECT ntab - 1 FROM kk))) AS t(t)),
      |ib AS (
      |  SELECT vec_id, t.t AS tbl,
      |    array_to_string([CASE WHEN v[t.t*k + i] >= 0 THEN '1' ELSE '0' END
      |                     FOR i IN generate_series(1, k)], '') AS bucket
      |  FROM inc, kk, unnest(generate_series(0, (SELECT ntab - 1 FROM kk))) AS t(t)),
      |cand AS (
      |  SELECT DISTINCT i.vec_id, b.vec_id AS base_id
      |  FROM ib i JOIN bb b ON i.tbl = b.tbl AND i.bucket = b.bucket),
      |best AS (
      |  SELECT c.vec_id, c.base_id AS match_id,
      |    round(list_dot_product(q.v, b.v) / (q.nrm * b.nrm), 6) AS cosine_r,
      |    row_number() OVER (PARTITION BY c.vec_id
      |      ORDER BY list_dot_product(q.v, b.v) / (q.nrm * b.nrm) DESC, c.base_id) AS rk
      |  FROM cand c
      |  JOIN inc q ON q.vec_id = c.vec_id
      |  JOIN base b ON b.vec_id = c.base_id
      |  WHERE list_dot_product(q.v, b.v) / (q.nrm * b.nrm) >= 0.4)
      |SELECT i.vec_id,
      |  CASE WHEN m.match_id IS NOT NULL THEN 'match' ELSE 'new' END AS status,
      |  m.match_id, m.cosine_r
      |FROM inc i LEFT JOIN (SELECT * FROM best WHERE rk = 1) m
      |  ON m.vec_id = i.vec_id
      |ORDER BY i.vec_id""".stripMargin

  /** Corpus-wide kNN graph — the primitive under SemDeDup-style
    * semantic dedup, diversity sampling, and graph-based clustering:
    * every vector's top-3 neighbors, not just a broadcast query set's.
    * Candidates come from the SAME occupancy-scaled multi-table
    * sign-LSH geometry as the ANN clustering miner
    * ([[DedupOps.annScoredPairs]]), so each unordered candidate pair
    * pays exactly ONE dot product; both directions of the pair then
    * rank per source vector. Vectors whose buckets collide with
    * nobody emit no rows — a production build raises the table count
    * until coverage suffices (the recall ladder is 1-(1-p^k)^L).
    *
    * Scale shape: candidate volume is n·occupancy (the occupancy knob
    * holds ~64 at any n), the rank is a per-vec_id window over ≤
    * 2·|candidates| rows, and the corpus itself never self-joins —
    * this is the all-pairs problem reduced to equi-joins, the only
    * shape that survives 100 TB. */
  def qSimKnnGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val n = DedupOps.annSizingCount(sfDir, e.count())
    knnGraphOn(DedupOps.annScoredPairs(e, knownN = n))
  }

  /** kNN-graph body over an already-available scored pair relation —
    * shared verbatim by the self-contained miner ([[qSimKnnGraph]])
    * and the stored-edges variant ([[qSimKnnGraphStored]]). */
  private def knnGraphOn(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = DedupOps.undirected(scored, "vec_id", "n_id", "cosine")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("rank"), col("n_id"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  val qSimKnnGraphOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
      |scored AS (
      |  SELECT c.a_id, c.b_id,
      |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
      |  FROM cand c
      |  JOIN n x ON x.vec_id = c.a_id
      |  JOIN n y ON y.vec_id = c.b_id),
      |sym AS (
      |  SELECT a_id AS vec_id, b_id AS n_id, cosine FROM scored
      |  UNION ALL
      |  SELECT b_id, a_id, cosine FROM scored),
      |rk AS (
      |  SELECT vec_id, n_id, cosine,
      |    row_number() OVER (PARTITION BY vec_id
      |                       ORDER BY cosine DESC, n_id) AS rank
      |  FROM sym)
      |SELECT vec_id, rank, n_id, round(cosine, 6) AS cosine_r
      |FROM rk WHERE rank <= 3
      |ORDER BY vec_id, rank""".stripMargin

  /** A PCA basis of the quantized embedding corpus: row count, per-dim
    * mean, sample covariance, and the full eigensystem sorted by
    * eigenvalue descending with canonical signs. Values are in
    * quantized units/1e6 — the same millionth-quantization contract as
    * [[qDimCorr]], so the basis is deterministic across runs and
    * engines. */
  case class PcaBasis(n: Long, mean: Array[Double], cov: Array[Array[Double]],
      eigVals: Array[Double], eigVecs: Array[Array[Double]])

  private val PcaDims = 64
  private val pcaCache = new java.util.concurrent.ConcurrentHashMap[String, PcaBasis]()

  /** Computes (once per dataset per JVM) the PCA basis: ONE
    * [[graft.functions.GramMoments]] pass ships a single dims²-moment
    * buffer per partition to the driver, which assembles the sample
    * covariance and runs the local O(dims³) Jacobi eigensolve
    * ([[graft.functions.Eigen]]) — the moment matrix is dims²-sized
    * and corpus-INdependent, so this is the Spark-canonical split
    * (MLlib `RowMatrix.computePrincipalComponents` works the same
    * way). Construction runs Spark jobs; registered-query callers are
    * in PlanAuditSpec's build-time-action list. */
  def pcaBasis(spark: SparkSession, sfDir: String): PcaBasis =
    pcaCache.computeIfAbsent(sfDir, _ => {
      import spark.implicits._
      val nd = PcaDims
      val m = Tables.embeddings(spark, sfDir)
        .select(transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("q"))
        .as[Array[Long]]
        .select(graft.functions.GramMoments(nd).toColumn)
        .head()
      val n = m.n
      require(n > 1, s"PCA needs >= 2 rows, got $n")
      val sums = m.sums.toArray
      def pIdx(i: Int, j: Int) = nd + i * nd - i * (i - 1) / 2 + (j - i)
      val mean = Array.tabulate(nd)(i => sums(i) / n / 1e6)
      val cov = Array.tabulate(nd, nd) { (i, j) =>
        val (lo, hi) = if (i <= j) (i, j) else (j, i)
        (n.toDouble * sums(pIdx(lo, hi)) - sums(lo) * sums(hi)) /
          (n.toDouble * (n - 1.0)) / 1e12
      }
      val (vals, vecs) = graft.functions.Eigen.symmetric(cov)
      PcaBasis(n, mean, cov, vals, vecs)
    })

  /** Millionth-quantized embedding arrays (`q`), the shared input
    * contract of the moments/PCA family. */
  private def quantized(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1000000).cast("long")).as("q"))

  /** The exact cross-engine anchor shared by the PCA gate queries: the
    * covariance trace numerator Σ_d(n·Σx² − (Σx)²) over quantized
    * values — an INTEGER both engines compute independently in wide
    * exact arithmetic (DECIMAL(38,0) here, HUGEINT in the oracle),
    * compared as digit strings. One 64-group partial aggregation. */
  private def traceAnchor(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    quantized(spark, sfDir).select(posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("cn"),
        sum(col("x").cast(dec)).as("sx"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
      .agg(sum(col("cn").cast(dec) * col("sxx") - col("sx") * col("sx"))
          .cast(dec).as("trace_num"),
        max(col("cn")).as("n"))
  }

  /** Projection of the quantized embedding array `q` onto component
    * `c` of `b`: the basis rides the plan as LITERALS — no join, no
    * broadcast variable — so projection is flat codegen arithmetic, a
    * map-only pass at any corpus size. */
  private def projExpr(b: PcaBasis, c: Int): Column =
    (0 until PcaDims).map(d =>
      (element_at(col("q"), d + 1).cast("double") / 1e6 - lit(b.mean(d))) *
        lit(b.eigVecs(c)(d))).reduce(_ + _)

  /** Public projection API: every vector's coordinates in the top-`k`
    * principal subspace (centered; quantized-unit contract). The
    * dimensionality-reduction front door for downstream ANN /
    * clustering at reduced cost. */
  def pcaProject(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    require(k >= 1 && k <= PcaDims, s"k must be in [1, $PcaDims]")
    val b = pcaBasis(spark, sfDir)
    quantized(spark, sfDir)
      .select(col("vec_id"), array((0 until k).map(c => projExpr(b, c)): _*).as("proj"))
  }

  private val PcaK = 8

  /** PCA + whitening VERIFICATION gates — the oracle pattern the
    * sketch queries established: the eigensystem is engine-private
    * (DuckDB cannot eigensolve), but every property that makes it
    * correct is a boolean both engines can agree on, plus one exactly
    * cross-computable anchor. Per top-8 component:
    *   - orth_ok / eigen_ok / nonneg_ok / sorted_ok — driver checks of
    *     the Jacobi output against the covariance itself (orthonormal
    *     basis, ‖Cv − λv‖∞ within tolerance, PSD spectrum, descending
    *     order);
    *   - proj_var_ok / white_var_ok — DISTRIBUTED checks: the actual
    *     map-side projection's `var_samp` equals λ (and 1 after
    *     whitening) within 1e-6 — ties the shipped projection pass,
    *     not just the basis, to the spectrum;
    *   - trace_match_ok + `trace_num` — Σλ (all 64) must equal the
    *     covariance trace, whose raw numerator Σ_d(n·Σx² − (Σx)²) is
    *     an exact INTEGER both engines compute independently in
    *     decimal arithmetic (DECIMAL(38,0) here, HUGEINT in DuckDB) —
    *     the cross-engine anchor that hash-fails if quantization,
    *     moment accumulation, or the spectrum drifts.
    * Scale shape: one GramMoments pass (basis), one 64-group partial
    * aggregation (anchor), one map-only projection pass with an
    * 8-slot variance aggregate — every corpus-sized step is a single
    * scan with map-side partials. */
  def qSimPcaWhiten(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = pcaBasis(spark, sfDir)
    val nd = PcaDims
    val trace = (0 until nd).map(i => b.cov(i)(i)).sum
    def dotv(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }; s
    }
    val gates = (0 until PcaK).map { c =>
      val vc = b.eigVecs(c)
      val orthOk = (0 until nd).forall { c2 =>
        math.abs(dotv(vc, b.eigVecs(c2)) - (if (c2 == c) 1.0 else 0.0)) <= 1e-9 }
      val eigenOk = {
        var worst = 0.0
        var i = 0
        while (i < nd) {
          var s = 0.0; var j = 0
          while (j < nd) { s += b.cov(i)(j) * vc(j); j += 1 }
          worst = math.max(worst, math.abs(s - b.eigVals(c) * vc(i)))
          i += 1
        }
        worst <= 1e-9 * math.max(trace, Double.MinPositiveValue)
      }
      val nonnegOk = b.eigVals(c) >= -1e-12 * trace
      val sortedOk = c == 0 || b.eigVals(c) <= b.eigVals(c - 1) + 1e-12 * trace
      (c, b.eigVals(c), orthOk, eigenOk, nonnegOk, sortedOk)
    }
    val comps = gates.toDF("comp", "lambda", "orth_ok", "eigen_ok", "nonneg_ok", "sorted_ok")
    val anchor = traceAnchor(spark, sfDir)
    val vars = quantized(spark, sfDir)
      .select((0 until PcaK).map(c => projExpr(b, c).as(s"p$c")): _*)
      .agg(array((0 until PcaK).map(c => var_samp(col(s"p$c"))): _*).as("pvar"))
    val lamSumScaled = b.eigVals.sum * (b.n.toDouble * (b.n - 1.0) * 1e12)
    comps.crossJoin(broadcast(anchor)).crossJoin(broadcast(vars))
      .select(
        col("comp"),
        col("eigen_ok"), col("nonneg_ok"), col("orth_ok"),
        (abs(element_at(col("pvar"), col("comp") + 1) - col("lambda")) <=
          greatest(lit(1e-6) * abs(col("lambda")), lit(1e-9) * lit(trace)))
          .as("proj_var_ok"),
        col("sorted_ok"),
        (abs(lit(lamSumScaled) - col("trace_num").cast("double")) <=
          lit(1e-6) * col("trace_num").cast("double")).as("trace_match_ok"),
        when(col("lambda") <= lit(1e-12 * trace), lit(true))
          .otherwise(abs(element_at(col("pvar"), col("comp") + 1) / col("lambda") - 1)
            <= lit(1e-6)).as("white_var_ok"),
        // exact integer as STRING: wide decimals round-trip lossily
        // through the comparer's dataframe layer; digits don't
        col("trace_num").cast("string").as("trace_num"), col("n"))
  }

  val qSimPcaWhitenOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qq AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
       |  FROM e),
       |x AS (SELECT vec_id, u.i - 1 AS d, qv[u.i] AS xq
       |      FROM qq, unnest(generate_series(1, len(qv))) AS u(i)),
       |ds AS (SELECT d, COUNT(*) AS cn,
       |  SUM(CAST(xq AS HUGEINT)) AS sx,
       |  SUM(CAST(xq * xq AS HUGEINT)) AS sxx
       |  FROM x GROUP BY 1),
       |t AS (SELECT
       |  CAST(SUM(CAST(cn AS HUGEINT) * sxx - sx * sx) AS VARCHAR) AS trace_num,
       |  MAX(cn) AS n FROM ds)
       |SELECT CAST(c.comp AS INT) AS comp,
       |  TRUE AS eigen_ok, TRUE AS nonneg_ok, TRUE AS orth_ok,
       |  TRUE AS proj_var_ok, TRUE AS sorted_ok, TRUE AS trace_match_ok,
       |  TRUE AS white_var_ok, t.trace_num, t.n
       |FROM generate_series(0, ${PcaK - 1}) AS c(comp), t
       |ORDER BY comp""".stripMargin

  /** Per-vector PCA outlier scores — the embedding-space quality
    * filter (PCA anomaly detection's classic pair): `t2` is Hotelling's
    * T², the Mahalanobis energy INSIDE the top-`k` principal subspace
    * (Σ proj_c²/λ_c), and `q` is the residual energy OUTSIDE it
    * (‖x−μ‖² − Σ proj_c², the SPE/Q statistic). High `t2` = extreme
    * along directions the corpus does vary; high `q` = off-manifold
    * (corrupt embeddings, wrong-model vectors, adversarial junk).
    * Map-only once the basis exists — the basis rides as literals. */
  def pcaOutlierScores(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    require(k >= 1 && k <= PcaDims, s"k must be in [1, $PcaDims]")
    val b = pcaBasis(spark, sfDir)
    val cn2 = (0 until PcaDims).map { d =>
      val c = element_at(col("q"), d + 1).cast("double") / 1e6 - lit(b.mean(d))
      c * c
    }.reduce(_ + _)
    quantized(spark, sfDir)
      .select(Seq(col("vec_id"), cn2.as("cn2")) ++
        (0 until k).map(c => projExpr(b, c).as(s"p$c")): _*)
      .select(col("vec_id"),
        (0 until k).map(c => (col(s"p$c") * col(s"p$c") / lit(b.eigVals(c)))
          .as(s"t$c")).reduce(_ + _).as("t2"),
        (col("cn2") - (0 until k).map(c => col(s"p$c") * col(s"p$c"))
          .reduce(_ + _)).as("q"))
  }

  /** PCA outlier-score VERIFICATION gates (one row), same oracle
    * pattern as [[qSimPcaWhiten]]: the scores are engine-private (they
    * need the eigensystem), but their corpus-level identities are not —
    * for exact moments, Σ T² = k·(n−1) and Σ Q = (n−1)·(trace − Σ top
    * λ), and both statistics are non-negative by construction. The
    * distributed sum of the actual per-row scores must reproduce the
    * algebra within 1e-6, tying the shipped scoring pass to the
    * spectrum; the cross-engine anchor is the same exact trace
    * numerator integer. One map-only scoring pass + the 64-group
    * anchor aggregation. */
  def qSimPcaOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val b = pcaBasis(spark, sfDir)
    val trace = (0 until PcaDims).map(i => b.cov(i)(i)).sum
    val lamTop = b.eigVals.take(PcaK).sum
    val agg = pcaOutlierScores(spark, sfDir, PcaK).agg(
      count(lit(1)).as("n_rows"),
      sum(col("t2")).as("st2"),
      sum(col("q")).as("sq"),
      min(col("t2")).as("mint2"),
      min(col("q")).as("minq"))
    agg.crossJoin(broadcast(traceAnchor(spark, sfDir)))
      .select(
        (abs(col("st2") / (col("n_rows") - 1) - lit(PcaK.toDouble)) <=
          lit(1e-6 * PcaK)).as("t2_mean_ok"),
        (abs(col("sq") / (col("n_rows") - 1) - lit(trace - lamTop)) <=
          lit(1e-6) * lit(trace)).as("q_mean_ok"),
        (col("mint2") >= 0).as("t2_nonneg_ok"),
        (col("minq") >= lit(-1e-9) * lit(trace)).as("q_nonneg_ok"),
        (col("n_rows") === col("n")).as("count_match_ok"),
        col("trace_num").cast("string").as("trace_num"), col("n"))
  }

  val qSimPcaOutliersOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |qq AS (SELECT vec_id,
      |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      |  FROM e),
      |x AS (SELECT vec_id, u.i - 1 AS d, qv[u.i] AS xq
      |      FROM qq, unnest(generate_series(1, len(qv))) AS u(i)),
      |ds AS (SELECT d, COUNT(*) AS cn,
      |  SUM(CAST(xq AS HUGEINT)) AS sx,
      |  SUM(CAST(xq * xq AS HUGEINT)) AS sxx
      |  FROM x GROUP BY 1),
      |t AS (SELECT
      |  CAST(SUM(CAST(cn AS HUGEINT) * sxx - sx * sx) AS VARCHAR) AS trace_num,
      |  MAX(cn) AS n FROM ds)
      |SELECT TRUE AS t2_mean_ok, TRUE AS q_mean_ok, TRUE AS t2_nonneg_ok,
      |  TRUE AS q_nonneg_ok, TRUE AS count_match_ok, t.trace_num, t.n
      |FROM t""".stripMargin

  /** PAGERANK centrality over the ANN semantic graph — importance
    * weights for sampling/curation: a document whose neighborhood is
    * dense and well-connected (a topic hub) outranks peripheral
    * near-isolates. Edges are the SAME mined set as the semantic
    * clustering family (`DedupOps.annScoredPairs`, cosine ≥ 0.4, both
    * directions), so the graph layer composes with components/kNN at
    * zero extra mining cost.
    *
    * Exactness across engines: ranks are INTEGER fixed-point
    * (micro-units of a 10¹² total mass) and every step is integer
    * floor arithmetic — r' = tele + ⌊85·⌊Σ ⌊r/deg⌋⌋/100⌋ — so three
    * unrolled iterations hash-match DuckDB bit-for-bit with no
    * float-summation order hazard. The floor-div here is double
    * division + cast: the division error is ≤ (r/deg)·2⁻⁵³, so
    * error·deg ≤ S0·2⁻⁵³ ≈ 1.1×10⁻⁴ < 1 while the gap to the next
    * integer boundary is 1/deg — the bound is UNIFORM in deg (r15
    * audit: any degree, not just fixture degrees), so the cast can
    * never cross an integer boundary as long as total mass stays
    * below 2⁵³.
    * Sink leakage (vertices without out-edges drop their mass) is the
    * documented semantics; both engines implement the same recurrence.
    *
    * Scale shape: the textbook distributed PageRank — per iteration
    * ONE equi-join of the edge list with the rank vector and ONE
    * aggregation by destination; the edge relation is persisted once
    * (query-scoped, listener-released) because four consumers
    * (out-degree + three iterations) would otherwise re-mine it. The
    * iteration count is static, so the plan is a fixed pipeline — no
    * driver loop, no lineage growth. */
  def qSimPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val nV = DedupOps.annSizingCount(sfDir, e.count())
    pagerankOn(spark, sfDir, DedupOps.annScoredPairs(e, knownN = nV))
  }

  /** PageRank body over an already-available scored pair relation —
    * shared verbatim by the self-contained miner ([[qSimPagerank]])
    * and the stored-edges variant ([[qSimPagerankStored]]). */
  private def pagerankOn(spark: SparkSession, sfDir: String,
      scored: DataFrame): DataFrame = QueryScope(spark) { scope =>
    val S0 = 1000000000000L
    val iters = 3
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val nV = DedupOps.annSizingCount(sfDir, e.count())
    val base = S0 / nV
    val tele = 15L * base / 100L
    val matched = scored
      .filter(col("cosine") >= 0.4)
      .select(col("a_id"), col("b_id"))
    // computed before the loop is planned: every read of the edges then
    // plans with their statistics, so the joins are the same every run
    val edges = scope.materialize(DedupOps.undirected(matched, "src", "dst"))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val verts = e.select(col("vec_id"))
    def idiv(a: Column, b: Column): Column = (a / b).cast("long")
    var ranks = verts.withColumn("rank", lit(base))
    (1 to iters).foreach { _ =>
      val inflow = edges
        .join(ranks.withColumnRenamed("vec_id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"), idiv(col("rank"), col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = verts
        .join(inflow, col("vec_id") === col("dst"), "left_outer")
        .select(col("vec_id"),
          (lit(tele) + idiv(lit(85L) * coalesce(col("inflow"), lit(0L)),
            lit(100L))).as("rank"))
    }
    ranks
  }

  /** DuckDB CTE chain reproducing the ANN-mined semantic graph
    * bit-for-bit (`e`/`n`/`kk`/`bk`/`cand`/`matched`/`edges`): the
    * occupancy-scaled sign-LSH bucketing, the candidate equi-join, the
    * cosine ≥ 0.4 verification (canonical a_id < b_id in `matched`),
    * and the symmetrized `edges`. Shared verbatim by every graph-layer
    * oracle (PageRank, triangles) so they all grade against the exact
    * same edge set the Spark side mines via `DedupOps.annScoredPairs`. */
  private val annEdgesCte: String =
      """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        |          UNION SELECT b_id, a_id FROM matched)""".stripMargin

  val qSimPagerankOracle: String = {
    val iter = (i: Int) =>
      s"""i$i AS (SELECT ed.dst, CAST(SUM(r.rank // d.deg) AS BIGINT) AS inflow
         |  FROM edges ed
         |  JOIN r${i - 1} r ON r.vec_id = ed.src
         |  JOIN deg d ON d.src = ed.src
         |  GROUP BY 1),
         |r$i AS (SELECT v.vec_id,
         |  CAST((SELECT tele FROM pr) + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank
         |  FROM e v LEFT JOIN i$i i ON i.dst = v.vec_id)""".stripMargin
    s"""WITH $annEdgesCte,
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |nv AS (SELECT COUNT(*) AS nv FROM e),
       |pr AS (SELECT 1000000000000 // nv AS base,
       |              (15 * (1000000000000 // nv)) // 100 AS tele FROM nv),
       |r0 AS (SELECT vec_id, CAST((SELECT base FROM pr) AS BIGINT) AS rank FROM e),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT vec_id, rank FROM r3 ORDER BY vec_id""".stripMargin
  }

  /** TRIANGLE COUNT + local clustering coefficient over the ANN
    * semantic graph — the community-density signal that separates a
    * tight topic cluster (neighbors of a doc are neighbors of each
    * other) from a hub-and-spoke near-duplicate star. Consumes the
    * SAME mined edge set as PageRank/components/kNN, so the graph
    * layer stays one mining pass wide.
    *
    * Algorithm: the standard degree-oriented enumeration. Each
    * undirected edge is oriented from its lower-(degree, id) endpoint
    * to the higher one; that orientation is acyclic, and every
    * triangle then has EXACTLY ONE vertex with two out-edges — so
    * enumerating wedges (pairs of out-edges at a common source) and
    * closing them against the canonical edge list counts each
    * triangle once, with wedge volume Σ outdeg² bounded by the
    * arboricity-style argument (a hub's edges all point INTO it, so
    * hot vertices generate no wedge blow-up — the reason this shape
    * survives skewed degree distributions at corpus scale).
    *
    * Everything is integer: per-vertex degree, triangle count, and
    * the clustering coefficient in fixed-point micro-units
    * ⌊2·tri·10⁶ / (deg·(deg−1))⌋ — bit-for-bit hash-matchable against
    * the DuckDB oracle, which reproduces the mined edge set via
    * [[annEdgesCte]] and the same orientation rule.
    *
    * Scale shape: one edge-list persist (three consumers: degree,
    * orientation, wedge closure), equi-joins throughout, and the
    * wedge join keys on `src` — no cartesian, no driver loop. */
  def qSimTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val nV = DedupOps.annSizingCount(sfDir, e.count())
    trianglesOn(spark, sfDir, DedupOps.annScoredPairs(e, knownN = nV))
  }

  /** Triangle-count body over an already-available scored pair
    * relation — shared verbatim by the self-contained miner
    * ([[qSimTriangles]]) and the stored-edges variant
    * ([[qSimTrianglesStored]]). */
  private def trianglesOn(spark: SparkSession, sfDir: String,
      scored: DataFrame): DataFrame = QueryScope(spark) { scope =>
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val m = scored
      .filter(col("cosine") >= 0.4)
      .select(col("a_id"), col("b_id"))
      .transform(scope.persist)
    val deg = m.select(col("a_id").as("id")).union(m.select(col("b_id").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a_id") < col("b_id"))
    val oriented = m
      .join(deg.select(col("id").as("a_id"), col("deg").as("da")), "a_id")
      .join(deg.select(col("id").as("b_id"), col("deg").as("db")), "b_id")
      .select(
        when(lowFirst, col("a_id")).otherwise(col("b_id")).as("src"),
        when(lowFirst, col("b_id")).otherwise(col("a_id")).as("dst"))
      .transform(scope.persist)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("p"), col("x.dst").as("q"), col("y.dst").as("r"))
    // q < r by construction, matching the canonical a_id < b_id edge key
    val tris = wedges.join(
      m.select(col("a_id").as("q"), col("b_id").as("r")), Seq("q", "r"), "left_semi")
    val perNode = tris.select(col("p").as("id"))
      .union(tris.select(col("q").as("id")))
      .union(tris.select(col("r").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    e.select(col("vec_id"))
      .join(deg.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left_outer")
      .join(perNode.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr("2 * coalesce(tri, 0) * 1000000 DIV (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  val qSimTrianglesOracle: String =
    s"""WITH $annEdgesCte,
       |deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY 1),
       |o AS (SELECT
       |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND m.a_id < m.b_id)
       |      THEN m.a_id ELSE m.b_id END AS src,
       |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND m.a_id < m.b_id)
       |      THEN m.b_id ELSE m.a_id END AS dst
       |  FROM matched m
       |  JOIN deg x ON x.id = m.a_id
       |  JOIN deg y ON y.id = m.b_id),
       |w AS (SELECT a.src AS p, a.dst AS q, b.dst AS r
       |      FROM o a JOIN o b ON b.src = a.src AND a.dst < b.dst),
       |t AS (SELECT p, q, r FROM w WHERE EXISTS
       |        (SELECT 1 FROM matched mm WHERE mm.a_id = w.q AND mm.b_id = w.r)),
       |pt AS (SELECT id, COUNT(*) AS tri FROM
       |        (SELECT p AS id FROM t
       |         UNION ALL SELECT q FROM t
       |         UNION ALL SELECT r FROM t) u GROUP BY 1)
       |SELECT v.vec_id,
       |  COALESCE(d.deg, 0) AS deg,
       |  COALESCE(pt.tri, 0) AS tri,
       |  CASE WHEN COALESCE(d.deg, 0) >= 2
       |    THEN (2 * COALESCE(pt.tri, 0) * 1000000) // (d.deg * (d.deg - 1))
       |    ELSE 0 END AS lcc_micro
       |FROM e v
       |LEFT JOIN deg d ON d.id = v.vec_id
       |LEFT JOIN pt ON pt.id = v.vec_id
       |ORDER BY v.vec_id""".stripMargin

  /** Stored mined-edge parquet locations, per dataset — the graph
    * layer's materialized artifact. Four queries (components, kNN,
    * PageRank, triangles) consume the SAME ANN-mined edge set; the
    * self-contained variants each re-mine it (~the dominant cost of
    * every graph query — at 100 TB, four full LSH passes), while a
    * production pipeline mines ONCE, writes (a_id, b_id, cosine) to
    * the lake, and runs every downstream analytic against the stored
    * relation. The artifact is DURABLE and dataset-keyed
    * ([[Artifacts]]): the first session per dataset pays the one-off
    * mine+write the pipeline amortizes; every later session —
    * including each fresh-JVM bench chunk — existence-checks and
    * serves the stored relation, so the stored queries price pure
    * iteration/enumeration cost. Stored UNFILTERED (with cosine) so
    * one artifact serves both the threshold-edge consumers (≥ 0.4)
    * and the kNN ranker. */
  private[graft] def annEdgesStored(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Artifacts.getOrBuild(spark, sfDir, "ann_edges") { d =>
      val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      val n = DedupOps.annSizingCount(sfDir, e.count())
      DedupOps.annScoredPairs(e, knownN = n).write.parquet(d)
    }
    Tables.parquet(spark, dir)
  }

  /** [[qSimPagerank]] served from the STORED edge artifact — identical
    * contract and oracle; the plan never touches an embedding vector
    * (plan-pinned: no bucketing explode, edges scanned from parquet).
    * Marginal cost is the rank iterations only. */
  def qSimPagerankStored(spark: SparkSession, sfDir: String): DataFrame =
    pagerankOn(spark, sfDir, annEdgesStored(spark, sfDir))

  /** [[qSimTriangles]] served from the STORED edge artifact. */
  def qSimTrianglesStored(spark: SparkSession, sfDir: String): DataFrame =
    trianglesOn(spark, sfDir, annEdgesStored(spark, sfDir))

  /** [[qSimKnnGraph]] served from the STORED edge artifact. */
  def qSimKnnGraphStored(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphOn(annEdgesStored(spark, sfDir))

  /** `DedupOps.qDedupSemanticClustersAnn` served from the STORED edge
    * artifact — the fourth graph-family consumer; with this, every
    * downstream analytic of the mined semantic graph (components,
    * kNN, PageRank, triangles) has a mining-free production path. */
  def qDedupSemanticClustersAnnStored(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.clustersOn(
      annEdgesStored(spark, sfDir)
        .filter(col("cosine") >= 0.4)
        .select(col("a_id"), col("b_id")), "vec_id")

  // ---- Product quantization (PQ encode + IVF-ADC search) ----

  private val PqM = 8    // subspaces over the 64 dims
  private val PqSub = 8  // dims per subspace
  private val PqK = 8    // centroids per subspace (vectors 0..7's slices)

  private val pqCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Seq[Long]]]]()

  /** PQ codebook in quantized-millionth units, memoized per dataset:
    * centroid j of subspace m is the m-th 8-dim slice of vector j
    * (j < [[PqK]]) — the same deterministic-quantizer convention as
    * the IVF coarse centroids; a production build k-means-trains each
    * subspace codebook and emits exactly this M×K×subdim table. The
    * codebook is dims-sized, not corpus-sized, so the driver fetch is
    * K rows (the pcaBasis discipline) and encode plans carry it as
    * literals. */
  def pqCodebook(spark: SparkSession, sfDir: String): Seq[Seq[Seq[Long]]] =
    pqCbCache.computeIfAbsent(sfDir, _ => {
      val rows = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < PqK)
        .select(col("vec_id"), pqQuant(col("embedding")).as("qv"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1))
        .sortBy(_._1)
      (0 until PqM).map(m =>
        rows.toSeq.map { case (_, qv) =>
          qv.slice(m * PqSub, (m + 1) * PqSub).toSeq })
    })

  /** Millionth-quantization of a float/double vector column — the
    * repo-wide integer fixed-point contract (see qDimCorr).
    * private[graft]: the streaming ADC twin encodes arrivals with the
    * SAME expressions (one definition, no drift). */
  private[graft] def pqQuant(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000000).cast("long"))

  /** dists[m][j]: EXACT integer squared-L2 distance between the row's
    * quantized subvector m and codebook centroid (m, j). For corpus
    * rows this is the encode table (argmin per m = the code); for
    * query rows it is the ADC lookup table. All-Long arithmetic
    * (|q| ≤ 6·10⁵ ⇒ per-subspace sums ≤ ~3·10¹², corpus total ≤
    * ~3·10¹³ — far inside Long), so ranks are order-independent and
    * engine-exact: no float-sum ranking hazard anywhere in the PQ
    * family. */
  private[graft] def pqDists(cb: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)), m =>
      transform(sequence(lit(0), lit(PqK - 1)), j =>
        aggregate(
          zip_with(
            slice(col("qv"), m * PqSub + lit(1), lit(PqSub)),
            element_at(element_at(cb, m + lit(1)), j + lit(1)),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)))

  /** Code per subspace: argmin over the centroid distances, lowest j
    * on ties (array_position returns the FIRST index of the min). */
  private def pqCodes: Column =
    transform(col("dists"), d =>
      (array_position(d, array_min(d)) - 1).cast("int"))

  /** PQ ENCODE: every vector compressed to [[PqM]] one-byte codes plus
    * its exact reconstruction error in quantized units. Map-only — the
    * codebook rides in the plan as literals, so at 100 TB this is a
    * pure scan→project pass with ZERO data exchanges (plan-pinned),
    * the same scale class as sim_quantize_int8 but with 32× smaller
    * output (8 bytes vs 256 per vector) — the compression that makes
    * corpus-resident ANN serving (IVFADC / DiskANN-style) possible. */
  def qSimPqEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = typedlit(pqCodebook(spark, sfDir))
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), pqQuant(col("embedding")).as("qv"))
      .withColumn("dists", pqDists(cb))
      .select(col("vec_id"),
        array_join(transform(pqCodes, _.cast("string")), ",").as("codes_csv"),
        aggregate(transform(col("dists"), d => array_min(d)),
          lit(0L), (acc, x) => acc + x).as("sqerr"))
  }

  /** The encode reproduced in DuckDB: same quantization, same
    * slice-of-first-K codebook, same exact integer distances, same
    * first-min tie-break (row_number ORDER BY d, j). */
  val qSimPqEncodeOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id,
       |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv FROM e),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |cb AS (
       |  SELECT m, vec_id AS j,
       |    list_transform(generate_series(1, $PqSub), i -> qv[m*$PqSub + i]) AS cvec
       |  FROM q, ms WHERE vec_id < $PqK),
       |sub AS (
       |  SELECT vec_id, m,
       |    list_transform(generate_series(1, $PqSub), i -> qv[m*$PqSub + i]) AS sv
       |  FROM q, ms),
       |dist AS (
       |  SELECT s.vec_id, s.m, c.j,
       |    list_sum(list_transform(generate_series(1, $PqSub),
       |      i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS d
       |  FROM sub s JOIN cb c ON s.m = c.m),
       |code AS (
       |  SELECT vec_id, m, j, d,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
       |  FROM dist)
       |SELECT vec_id,
       |  string_agg(CAST(j AS VARCHAR), ',' ORDER BY m) AS codes_csv,
       |  CAST(SUM(d) AS BIGINT) AS sqerr
       |FROM code WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** IVF-ADC search (the FAISS IVFPQ shape): corpus vectors live in
    * their IVF cell as 8-byte PQ codes; each query precomputes its
    * M×K ADC lookup table ONCE, probes its own cell via a (cid)
    * EQUI-join, and scores every candidate with M table lookups
    * instead of a 64-dim float dot product. Ranks are exact integers.
    *
    * Scale story: the scan side is nprobe/K of the corpus — at 32×
    * less IO than raw vectors (codes vs floats) — and the per-pair
    * cost is M integer adds; this is the only ANN shape where a
    * 100 TB corpus serves queries without ever materializing its
    * float vectors. The K-row centroid cross for cell assignment is
    * the documented IVF quantizer broadcast (allowlisted); the
    * search itself is equi-join + per-query window top-k. */
  def qSimIvfPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val cb = typedlit(pqCodebook(spark, sfDir))
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val assigned = cellAssignments(e, centroids(e), nprobe = 1)
    val cand = assigned
      .withColumn("qv", pqQuant(col("v")))
      .withColumn("dists", pqDists(cb))
      .select(col("vec_id").as("n_id"), col("cid"), pqCodes.as("codes"))
    ivfPqTopkOn(spark, sfDir, cand)
  }

  /** ADC search body over an already-encoded (n_id, cid, codes)
    * relation — shared verbatim by the self-contained query (which
    * encodes inline), the stored-index variant, and the multiprobe
    * twin below. The QUERY side always re-derives its cell(s) + lookup
    * table from its own 10 vectors (pushed-filter scans) — that is the
    * serving contract: arrivals compute their own features, the corpus
    * never does. `qprobe` widens the QUERY side to its top-qprobe
    * cells (the corpus residence stays nprobe=1 — a vector lives in
    * ONE cell; multiprobe is a query-fanout knob, never a storage
    * blow-up): candidates stay distinct because the probed cells are
    * distinct and each candidate resides in exactly one. */
  private def ivfPqTopkOn(spark: SparkSession, sfDir: String,
      cand: DataFrame, qprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = typedlit(pqCodebook(spark, sfDir))
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val q = broadcast(
      cellAssignments(e.filter(col("vec_id") < NumQueries), centroids(e), nprobe = qprobe)
        .withColumn("qv", pqQuant(col("v")))
        .withColumn("lut", pqDists(cb))
        .select(col("vec_id").as("q_id"), col("cid"), col("lut")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("n_id"))
    cand.join(q, Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc_dist", adcDist(col("lut"), col("codes")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"))
  }

  /** [[qSimIvfPqTopk]] served from the STORED code artifact: the
    * corpus's cells + PQ codes are written to parquet once (8 bytes +
    * a cell id per vector — the only corpus-sized state an IVFADC
    * service keeps hot), and the search scans THAT, never the float
    * vectors. The full-vector scans remaining in the plan are the two
    * pushed-filter prefixes (query vectors + K centroids) — at 100 TB
    * the serving path reads the 32×-smaller code table plus a handful
    * of rows. Same oracle verbatim: the artifact is the same encoder
    * materialized. */
  def qSimIvfPqTopkStored(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopkOn(spark, sfDir, Tables.parquet(spark, pqIndexDir(spark, sfDir)))

  /** IVFPQ MULTIPROBE (r16): queries probe their top-2 coarse cells —
    * the FAISS nprobe knob, the standard recall/latency trade at fixed
    * index size. Served from the STORED code artifact (the production
    * shape: multiprobe is a query-time decision; the index does not
    * change). Only the broadcast QUERY side fans out (10 × 2 rows);
    * the corpus-code scan is identical to nprobe=1 — at 100 TB the
    * probe reads nprobe/K of the code table via the same (cid)
    * equi-join, and the per-candidate cost stays M integer lookups. */
  private[graft] val IvfPqProbes = 2
  def qSimIvfPqMultiprobe(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqTopkOn(spark, sfDir, Tables.parquet(spark, pqIndexDir(spark, sfDir)),
      qprobe = IvfPqProbes)

  /** IVFPQ + EXACT RE-RANK (r16): the two-stage serving ladder FAISS
    * calls IVFADC,R — the ADC pass shortlists [[RerankShortlist]]
    * candidates per query from the stored code artifact (8 bytes/
    * vector scanned), then ONLY the shortlist rows fetch their float
    * vectors for an exact-cosine re-rank. The shortlist is a BOUNDED
    * DRIVER FOLD (≤ NumQueries × RerankShortlist = 100 rows by
    * construction — the pcaBasis/pqCodebook discipline: model-sized
    * state rides in the plan) whose ids are pushed into the float
    * scan as an In filter, so at 100 TB the refine stage reads the
    * row groups holding ~100 vectors, NOT a streamed pass over the
    * float corpus — the whole point of serving from codes is that
    * the float table is cold storage touched only by id. Final ranks
    * are by exact cosine (ADC distance retained as evidence); ties
    * break on n_id as everywhere in the ANN family. */
  private[graft] val RerankShortlist = 10
  def qSimIvfPqRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = typedlit(pqCodebook(spark, sfDir))
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val cand = Tables.parquet(spark, pqIndexDir(spark, sfDir))
    val q = broadcast(
      cellAssignments(e.filter(col("vec_id") < NumQueries), centroids(e), nprobe = 1)
        .withColumn("qv", pqQuant(col("v")))
        .withColumn("lut", pqDists(cb))
        .select(col("vec_id").as("q_id"), col("cid"), col("lut"),
          col("v").as("qvf"), col("nrm").as("qn")))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist"), col("n_id"))
    // stage 1: ADC shortlist — identical candidate generation to
    // qSimIvfPqTopkStored, kept to top-RerankShortlist per query
    val shortDf = cand.join(q, Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc_dist", adcDist(col("lut"), col("codes")))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= RerankShortlist)
      .select(col("q_id"), col("n_id"), col("adc_dist"),
        col("qvf"), col("qn"))
    val shortlist = shortDf.collect()
    val ids = shortlist.map(_.getAs[Long]("n_id")).distinct.sorted.toSeq
    val shortRel = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(shortlist: _*), shortDf.schema))
    // stage 2: exact cosine over the shortlist only — the float scan
    // carries the id pushdown (plan-pinned), the 100-row shortlist is
    // the broadcast side
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    e.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
      .join(shortRel, Seq("n_id"))
      .withColumn("cosine",
        DedupOps.dot(col("qvf"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  /** The stored (n_id, cid, codes) artifact the ADC search scans —
    * extracted so the STREAMING serving twin
    * ([[graft.streaming.StatefulOps.streamingIvfPqServe]]) reads the
    * identical index the batch query built (the incrementalIndexDir
    * pattern: one builder, no drift). */
  private[graft] def pqIndexDir(spark: SparkSession, sfDir: String): String =
    Artifacts.getOrBuild(spark, sfDir, "pq_index") { d =>
      val cb = typedlit(pqCodebook(spark, sfDir))
      val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      val assigned = cellAssignments(e, centroids(e), nprobe = 1)
      assigned
        .withColumn("qv", pqQuant(col("v")))
        .withColumn("dists", pqDists(cb))
        .select(col("vec_id").as("n_id"), col("cid"), pqCodes.as("codes"))
        .write.parquet(d)
    }

  /** The M integer table lookups that replace a 64-dim float dot
    * product — ONE expression shared by the batch search and the
    * streaming serving twin. */
  private[graft] def adcDist(lut: Column, codes: Column): Column =
    aggregate(zip_with(lut, codes,
      (lutm, c) => element_at(lutm, c + 1)),
      lit(0L), (acc, x) => acc + x)

  /** The frozen coarse quantizer as a driver-side model: K (cid, cv,
    * cn) rows collected for literal folding by the streaming twin's
    * map-side cell assignment (the pcaBasis/pqCodebook discipline —
    * model-sized state rides in the plan; K = [[NumCentroids]] = 8
    * rows, never corpus-sized). */
  private[graft] def ivfCentroidModel(spark: SparkSession, sfDir: String)
      : Seq[(Long, Seq[Double], Double)] =
    centroids(DedupOps.normedVectors(Tables.embeddings(spark, sfDir)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** IVF assignment (shared with qSimIvfOracle) + the encode CTEs,
    * through the per-vector best codes — ONE definition feeding the
    * three ADC-search oracles below (the bucket100Sql discipline:
    * a shared SQL fragment lives in one place so the engine and its
    * oracles can only drift together). */
  private def ivfPqOraclePrefix: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |  list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, qv, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, qv, cid FROM asg WHERE rn = 1),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |cb AS (
       |  SELECT m, vec_id AS j,
       |    list_transform(generate_series(1, $PqSub), i -> qv[m*$PqSub + i]) AS cvec
       |  FROM n, ms WHERE vec_id < $PqK),
       |sub AS (
       |  SELECT vec_id, m,
       |    list_transform(generate_series(1, $PqSub), i -> qv[m*$PqSub + i]) AS sv
       |  FROM a, ms),
       |dist AS (
       |  SELECT s.vec_id, s.m, c.j,
       |    list_sum(list_transform(generate_series(1, $PqSub),
       |      i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS d
       |  FROM sub s JOIN cb c ON s.m = c.m),
       |code AS (
       |  SELECT vec_id, m, j, d,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
       |  FROM dist),
       |best AS (SELECT vec_id, m, j FROM code WHERE rn = 1)""".stripMargin

  /** The nprobe=1 ADC aggregation + ranking — shared by the top-k
    * oracle (rank ≤ 3 output) and the re-rank oracle (shortlist
    * input). Candidate codes join the QUERY's distance table on
    * (m, code) — the lookup-table semantics verbatim. */
  private def ivfPqAdcRank: String =
    s"""adc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
       |  FROM a q JOIN a c ON c.cid = q.cid AND c.vec_id != q.vec_id
       |    AND q.vec_id < $NumQueries
       |  JOIN best bc ON bc.vec_id = c.vec_id
       |  JOIN dist d ON d.vec_id = q.vec_id AND d.m = bc.m AND d.j = bc.j
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT q_id, n_id, adc_dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rank
       |  FROM adc)""".stripMargin

  val qSimIvfPqTopkOracle: String =
    s"""$ivfPqOraclePrefix,
       |$ivfPqAdcRank
       |SELECT q_id, rank, n_id, adc_dist
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Multiprobe: the QUERY side takes its top-[[IvfPqProbes]] cells
    * (rn <= probes over the same assignment window); corpus residence
    * stays rn = 1. Probed cells are distinct and each candidate lives
    * in exactly one, so the pair relation needs no dedup. */
  val qSimIvfPqMultiprobeOracle: String =
    s"""$ivfPqOraclePrefix,
       |qa AS (SELECT vec_id, cid FROM asg
       |  WHERE rn <= $IvfPqProbes AND vec_id < $NumQueries),
       |adc AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, CAST(SUM(d.d) AS BIGINT) AS adc_dist
       |  FROM qa q JOIN a c ON c.cid = q.cid AND c.vec_id != q.vec_id
       |  JOIN best bc ON bc.vec_id = c.vec_id
       |  JOIN dist d ON d.vec_id = q.vec_id AND d.m = bc.m AND d.j = bc.j
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT q_id, n_id, adc_dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, n_id) AS rank
       |  FROM adc)
       |SELECT q_id, rank, n_id, adc_dist
       |FROM rk WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Re-rank: the ADC shortlist (rank ≤ [[RerankShortlist]]) fetches
    * raw doubles and re-ranks by exact cosine (same sequential
    * list_dot_product / norm product as every cosine oracle), n_id
    * tie-break; ADC distance retained as evidence. */
  val qSimIvfPqRerankOracle: String =
    s"""$ivfPqOraclePrefix,
       |$ivfPqAdcRank,
       |short AS (SELECT q_id, n_id, adc_dist FROM rk WHERE rank <= $RerankShortlist),
       |cos AS (
       |  SELECT s.q_id, s.n_id, s.adc_dist,
       |    list_dot_product(qn.v, nn.v) / (qn.nrm * nn.nrm) AS cosine
       |  FROM short s
       |  JOIN n qn ON qn.vec_id = s.q_id
       |  JOIN n nn ON nn.vec_id = s.n_id),
       |rk2 AS (
       |  SELECT q_id, n_id, adc_dist, round(cosine, 6) AS cosine_r,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM cos)
       |SELECT q_id, rank, n_id, adc_dist, cosine_r
       |FROM rk2 WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  // ---- Label-aware curation: noise detection + hard-negative mining ----

  private val labelCentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Long])]]()

  /** Per-label centroids of the quantized embedding corpus, memoized
    * per dataset: ONE (label, dim) aggregation pass over the
    * posexploded corpus (640 result rows at 10 labels × 64 dims —
    * map-side partials, one tiny shuffle), then a labels×dims driver
    * fetch carried as plan literals by the scorers below (the
    * pcaBasis/pqCodebook discipline: model-sized state is literals,
    * corpus-sized state never leaves the cluster). Centroids are
    * RE-quantized to integer millionths — floor(Σq/n), one identical
    * IEEE division in both engines — so every downstream distance is
    * exact Long arithmetic: a 64-term float fold would differ by an
    * ULP between engines and flip 18-significant-digit roundings
    * (observed at sf0.01); integers cannot. */
  def labelCentroids(spark: SparkSession, sfDir: String): Seq[(Int, Seq[Long])] =
    labelCentCache.computeIfAbsent(sfDir, _ => {
      Tables.embeddings(spark, sfDir)
        .select(col("label"), posexplode(pqQuant(col("embedding"))).as(Seq("dim", "q")))
        .groupBy(col("label"), col("dim"))
        .agg(floor(sum(col("q")).cast("double") / count(lit(1))).cast("long").as("m"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("ms"))
        .select(col("label"), col("ms.m").as("cv"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1))
        .sortBy(_._1).toSeq
    })

  /** LABEL-NOISE detection (the confident-learning signal for a
    * labeled training set): each vector's squared L2 distance to its
    * OWN label centroid vs the nearest OTHER label's centroid; a
    * vector strictly closer to another class is flagged suspect —
    * the rows a curation pipeline routes to re-annotation. Map-only
    * over the corpus once the centroid literals exist (zero joins,
    * plan-pinned); every distance is exact Long arithmetic against
    * the integer-quantized centroids, so the argmin, the flag, and
    * the emitted distances are all engine-exact — no rounding
    * columns, no float-fold hazard. */
  def qSimLabelOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = labelCentroids(spark, sfDir)
    def dist(cv: Seq[Long]): Column =
      aggregate(
        zip_with(col("qv"), typedlit(cv), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val darr = array(cents.map { case (l, cv) =>
      struct(dist(cv).as("d"), lit(l).as("l")) }: _*)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), pqQuant(col("embedding")).as("qv"))
      .withColumn("darr", darr)
      .withColumn("own",
        element_at(filter(col("darr"), s => s.getField("l") === col("label")), 1))
      .withColumn("oth",
        array_min(filter(col("darr"), s => s.getField("l") =!= col("label"))))
      .select(col("vec_id"), col("label"),
        col("own.d").as("d_own"),
        col("oth.l").as("nearest_other"),
        col("oth.d").as("d_other"),
        (col("own.d") > col("oth.d")).as("suspect"))
  }

  /** Same centroids, distances, argmin, and strict-inequality flag in
    * DuckDB; the cross join is per-vector × LABELS (10 rows), the
    * model side, not a corpus self-join. */
  val qSimLabelOutliersOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT vec_id, label,
      |  list_transform(v, y -> CAST(floor(y * 1000000) AS BIGINT)) AS qv
      |  FROM e),
      |xd AS (SELECT vec_id, label, u.i - 1 AS dim, qv[u.i] AS q
      |       FROM x, unnest(generate_series(1, len(qv))) AS u(i)),
      |cm AS (SELECT label AS cl, dim,
      |         CAST(floor(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      |       FROM xd GROUP BY 1, 2),
      |cent AS (SELECT cl, array_agg(m ORDER BY dim) AS cv FROM cm GROUP BY 1),
      |d AS (
      |  SELECT x.vec_id, x.label, c.cl,
      |    CAST(list_sum(list_transform(generate_series(1, len(x.qv)),
      |      i -> (x.qv[i] - c.cv[i]) * (x.qv[i] - c.cv[i]))) AS BIGINT) AS d
      |  FROM x CROSS JOIN cent c),
      |own AS (SELECT vec_id, d AS d_own FROM d WHERE label = cl),
      |oth AS (SELECT vec_id, cl, d,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
      |  FROM d WHERE label != cl)
      |SELECT x.vec_id, x.label,
      |  own.d_own,
      |  oth.cl AS nearest_other,
      |  oth.d AS d_other,
      |  own.d_own > oth.d AS suspect
      |FROM x
      |JOIN own ON own.vec_id = x.vec_id
      |JOIN oth ON oth.vec_id = x.vec_id AND oth.rn = 1
      |ORDER BY x.vec_id""".stripMargin

  /** HARD-NEGATIVE mining (metric-learning / contrastive training
    * prep): for every vector, its highest-cosine neighbor with a
    * DIFFERENT label among the ANN-mined candidates — the pairs a
    * triplet/contrastive loss learns most from. Shares the
    * occupancy-scaled sign-LSH miner with the clustering/kNN family
    * (one dot product per unordered candidate pair); label lookup is
    * an id equi-join against the bare (vec_id, label) projection.
    * Vectors whose candidates are all same-label emit nothing —
    * production raises the table count exactly as for kNN coverage. */
  def qSimHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val n = DedupOps.annSizingCount(sfDir, e.count())
    val scored = DedupOps.annScoredPairs(e, knownN = n)
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val sym = DedupOps.undirected(scored, "vec_id", "n_id", "cosine")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    sym
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("n_id"), col("label").as("neg_label")),
        Seq("n_id"))
      .filter(col("label") =!= col("neg_label"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("vec_id"), col("label"), col("n_id").as("neg_id"),
        col("neg_label"), round(col("cosine"), 6).as("cosine_r"))
  }

  /** The kNN-graph oracle's mining CTEs + the label filter + rank 1. */
  val qSimHardNegativesOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
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
      |scored AS (
      |  SELECT c.a_id, c.b_id,
      |    list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine
      |  FROM cand c
      |  JOIN n x ON x.vec_id = c.a_id
      |  JOIN n y ON y.vec_id = c.b_id),
      |sym AS (
      |  SELECT a_id AS vec_id, b_id AS n_id, cosine FROM scored
      |  UNION ALL
      |  SELECT b_id, a_id, cosine FROM scored),
      |lab AS (
      |  SELECT s.vec_id, a.label, s.n_id, b.label AS neg_label, s.cosine
      |  FROM sym s
      |  JOIN n a ON a.vec_id = s.vec_id
      |  JOIN n b ON b.vec_id = s.n_id
      |  WHERE a.label != b.label),
      |rk AS (
      |  SELECT vec_id, label, n_id, neg_label, cosine,
      |    row_number() OVER (PARTITION BY vec_id
      |                       ORDER BY cosine DESC, n_id) AS rank
      |  FROM lab)
      |SELECT vec_id, label, n_id AS neg_id, neg_label,
      |  round(cosine, 6) AS cosine_r
      |FROM rk WHERE rank = 1
      |ORDER BY vec_id""".stripMargin

  /** Top-3 in-bucket cosine ranks for ONE sign-LSH table whose 4
    * hyperplanes are dims off+1..off+4 — the shared ranker body under
    * the multi-table fusion (same shape as [[qSimLshBucketed]]). */
  private def lshTableRanks(e: DataFrame, off: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = concat((1 to 4).map(i =>
      when(element_at(col("v"), off + i) >= 0, "1").otherwise("0")): _*)
    val t = e.withColumn("bucket", b)
    val q = broadcast(t.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    t.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"), col("bucket"))
      .join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** RECIPROCAL-RANK FUSION over two independent sign-LSH tables
    * (Cormack et al. 2009's RRF — the standard way production
    * retrieval unions multiple approximate indexes): table 1 hashes
    * on dims 1–4, table 2 on dims 5–8; each returns its in-bucket
    * top-3, and a candidate's fused score is Σ 1/(60+rank) over the
    * tables that surfaced it. Multi-table LSH exists precisely
    * because one table's bucketing misses neighbors another finds —
    * the fusion step is where the union becomes a single ranking.
    *
    * Exactness: the RRF term is the INTEGER 10⁹ DIV (60+rank) — a
    * parts-per-billion fixed-point that both engines compute
    * identically (no float reciprocal), summed over ≤2 small terms.
    *
    * Scale shape: each ranker is the bucket equi-join (queries
    * broadcast, candidates only from the matching bucket — ~1/16 of
    * the corpus per table); the fusion is a (q_id, n_id) full-outer
    * equi-join of two ≤ 3·|Q| relations — index-output-sized, not
    * corpus-sized. No nested loops anywhere. */
  def qSimRankFusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("v"), col("nrm"))
    val r1 = lshTableRanks(e, 0).withColumnRenamed("rank", "rank_t1")
    val r2 = lshTableRanks(e, 4).withColumnRenamed("rank", "rank_t2")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_ppb").desc, col("n_id"))
    r1.join(r2, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf_ppb",
        coalesce(expr("1000000000 DIV (60 + rank_t1)"), lit(0L)) +
          coalesce(expr("1000000000 DIV (60 + rank_t2)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(w))
      .select(col("q_id"), col("fused_rank"), col("n_id"), col("rrf_ppb"),
        coalesce(col("rank_t1"), lit(0)).as("rank_t1"),
        coalesce(col("rank_t2"), lit(0)).as("rank_t2"))
  }

  /** Both tables' scored CTEs + the same integer RRF arithmetic. */
  val qSimRankFusionOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |  (CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END) AS b1,
       |  (CASE WHEN v[5] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[6] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[7] >= 0 THEN '1' ELSE '0' END ||
       |   CASE WHEN v[8] >= 0 THEN '1' ELSE '0' END) AS b2 FROM e),
       |r1 AS (
       |  SELECT q_id, n_id, rk AS rank_t1 FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
       |                 c.vec_id) AS rk
       |    FROM n q JOIN n c ON q.b1 = c.b1
       |      AND q.vec_id < $NumQueries AND q.vec_id != c.vec_id) t
       |  WHERE rk <= 3),
       |r2 AS (
       |  SELECT q_id, n_id, rk AS rank_t2 FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
       |                 c.vec_id) AS rk
       |    FROM n q JOIN n c ON q.b2 = c.b2
       |      AND q.vec_id < $NumQueries AND q.vec_id != c.vec_id) t
       |  WHERE rk <= 3),
       |fused AS (
       |  SELECT COALESCE(r1.q_id, r2.q_id) AS q_id,
       |    COALESCE(r1.n_id, r2.n_id) AS n_id,
       |    COALESCE(1000000000 // (60 + rank_t1), 0) +
       |      COALESCE(1000000000 // (60 + rank_t2), 0) AS rrf_ppb,
       |    COALESCE(rank_t1, 0) AS rank_t1, COALESCE(rank_t2, 0) AS rank_t2
       |  FROM r1 FULL OUTER JOIN r2
       |    ON r1.q_id = r2.q_id AND r1.n_id = r2.n_id)
       |SELECT q_id,
       |  CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf_ppb DESC, n_id) AS INT) AS fused_rank,
       |  n_id, CAST(rrf_ppb AS BIGINT) AS rrf_ppb,
       |  CAST(rank_t1 AS INT) AS rank_t1, CAST(rank_t2 AS INT) AS rank_t2
       |FROM fused ORDER BY q_id, fused_rank""".stripMargin

  /** EMBEDDING-DISTRIBUTION DRIFT between two corpus slices — the
    * embedding-space counterpart of the PSI feature-drift monitor
    * (`sample_drift_psi`): per-dimension mean shift between an "old
    * crawl" and "new crawl" slice (deterministic vec_id parity stands
    * in for the snapshot key). A retrained-embedder rollout or a
    * crawl-mix change shows up here BEFORE it degrades the ANN index
    * — the check a pipeline runs before pointing the index at new
    * vectors.
    *
    * Exactness: millionth-quantized values, per-slice per-dim sums and
    * counts as Longs, means by floor-division (the labelCentroids
    * convention), drift = |Δmean| integer, flagged at 10⁴ millionths
    * (0.01). Drift is computed in ONE aggregation pass: conditional
    * sums per slice inside the same (dim)-keyed groupBy — the corpus
    * is never scanned or shuffled twice, and 64 result rows make the
    * downstream compare free at any corpus size. */
  def qSimEmbeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val slice = (col("vec_id") % 2 === 0).as("is_a")
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), slice,
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")))
          .as(Seq("dim", "q")))
      .groupBy(col("dim"))
      .agg(
        sum(when(col("is_a"), col("q"))).as("sum_a"),
        sum(when(col("is_a"), 1L)).as("n_a"),
        sum(when(!col("is_a"), col("q"))).as("sum_b"),
        sum(when(!col("is_a"), 1L)).as("n_b"))
      .select(col("dim"),
        expr("IF(sum_a >= 0, sum_a DIV n_a, -((-sum_a + n_a - 1) DIV n_a))").as("mean_a"),
        expr("IF(sum_b >= 0, sum_b DIV n_b, -((-sum_b + n_b - 1) DIV n_b))").as("mean_b"))
      .withColumn("drift", abs(col("mean_a") - col("mean_b")))
      .withColumn("is_shifted", col("drift") > 10000L)
  }

  /** Same quantization, conditional sums, floor-toward-minus-infinity
    * means, and threshold. */
  val qSimEmbeddingDriftOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (SELECT vec_id, vec_id % 2 = 0 AS is_a, u.i - 1 AS dim,
      |    CAST(floor(v[u.i] * 1000000) AS BIGINT) AS q
      |  FROM e, unnest(generate_series(1, len(v))) AS u(i)),
      |g AS (
      |  SELECT dim,
      |    CAST(SUM(CASE WHEN is_a THEN q END) AS BIGINT) AS sum_a,
      |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN NOT is_a THEN q END) AS BIGINT) AS sum_b,
      |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM x GROUP BY 1),
      |m AS (
      |  SELECT dim,
      |    CASE WHEN sum_a >= 0 THEN sum_a // n_a
      |         ELSE -((-sum_a + n_a - 1) // n_a) END AS mean_a,
      |    CASE WHEN sum_b >= 0 THEN sum_b // n_b
      |         ELSE -((-sum_b + n_b - 1) // n_b) END AS mean_b
      |  FROM g)
      |SELECT CAST(dim AS INT) AS dim,
      |  CAST(mean_a AS BIGINT) AS mean_a, CAST(mean_b AS BIGINT) AS mean_b,
      |  CAST(abs(mean_a - mean_b) AS BIGINT) AS drift,
      |  abs(mean_a - mean_b) > 10000 AS is_shifted
      |FROM m ORDER BY dim""".stripMargin

  /** LINEAR-SVM subgradient step (Pegasos, Shalev-Shwartz et al. 2007
    * — public): one distributed pass of hinge-loss subgradient
    * computation for a binary quality/domain classifier over the
    * embedding corpus (y = +1 for labels 0–4, −1 for 5–9). This is
    * the training half the curation loop runs in-engine: the driver
    * applies the step + regularization; the CLUSTER computes the
    * gradient — the only part that touches 100 TB.
    *
    * Exactness: everything is fixed-point Long. Weights are the
    * deterministic integer vector w_d = (d·2654435761) mod 2001 −
    * 1000 (a Knuth-hash spread, rebuilt identically by both engines —
    * no shipped state, same discipline as the JL sign matrix); inputs
    * are the millionth-quantized embeddings, so the margin y·⟨w,q⟩
    * is exact (|z| ≤ 64·10³·10⁶ ≈ 6·10¹⁰) and "functional margin
    * < 1.0" is the integer compare y·z < 10⁹ (w scaled 10³ × q scaled
    * 10⁶). Per-dim subgradient Σ−y·q_d and loss Σ(10⁹−y·z) are Long
    * sums — order-independent, bit-exact in DuckDB.
    *
    * Scale shape: margins are map-only (the weight vector is a plan
    * literal); ONLY violator rows explode to (dim, −y·q) — at a
    * converged model that is a vanishing slice of the corpus — and
    * the per-dim aggregation shuffles 64 keys with map-side combine.
    * One corpus scan, one tiny shuffle, no joins. */
  def qSimSvmStep(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val nd = 64
    val wLit = typedlit((0 until nd).map(d => (d * 2654435761L) % 2001L - 1000L))
    val margins = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("q"))
      .withColumn("y", when(col("label") < 5, 1L).otherwise(-1L))
      .withColumn("z", aggregate(
        zip_with(col("q"), wLit, (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("viol", col("y") * col("z") < lit(1000000000L))
    val viol = margins.filter(col("viol"))
      .transform(scope.persist)
    val nViol = viol.count()
    val lossSum = viol.agg(sum(lit(1000000000L) - col("y") * col("z")))
      .head.getLong(0)
    viol
      .select(col("y"), posexplode(col("q")).as(Seq("dim", "qd")))
      .groupBy(col("dim"))
      .agg(sum(-col("y") * col("qd")).as("grad_d"))
      .select(col("dim"),
        (element_at(wLit, col("dim") + 1)).as("w_d"),
        col("grad_d"),
        lit(nViol).as("n_violators"),
        lit(lossSum).as("hinge_loss_sum"))
  }

  /** Same weight derivation, quantization, margin compare, and Long
    * sums; violator slice via a WHERE on the exact integer margin. */
  val qSimSvmStepOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id, label,
      |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
      |    list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      |  FROM e),
      |w AS (SELECT d, (d * 2654435761) % 2001 - 1000 AS w_d
      |      FROM unnest(generate_series(0, 63)) AS u(d)),
      |m AS (SELECT vec_id, y, qv,
      |    CAST(list_sum(list_transform(generate_series(1, len(qv)),
      |      i -> qv[i] * ((CAST(i - 1 AS BIGINT) * 2654435761) % 2001 - 1000)))
      |      AS BIGINT) AS z
      |  FROM q),
      |viol AS (SELECT * FROM m WHERE y * z < 1000000000),
      |tot AS (SELECT COUNT(*) AS n_violators,
      |    CAST(SUM(1000000000 - y * z) AS BIGINT) AS hinge_loss_sum
      |  FROM viol),
      |g AS (SELECT u.i - 1 AS dim, CAST(SUM(-y * qv[u.i]) AS BIGINT) AS grad_d
      |  FROM viol, unnest(generate_series(1, len(qv))) AS u(i)
      |  GROUP BY 1)
      |SELECT g.dim, w.w_d, g.grad_d, tot.n_violators, tot.hinge_loss_sum
      |FROM g JOIN w ON w.d = g.dim CROSS JOIN tot
      |ORDER BY g.dim""".stripMargin

  /** SEMI-SUPERVISED LABEL PROPAGATION over the ANN semantic graph
    * (Zhu & Ghahramani 2002's LPA in its deterministic unrolled form)
    * — the classic "label 20%, spread to the rest" bootstrap that
    * turns a small labeled seed set plus a similarity graph into
    * corpus-wide weak labels. Seeds (vec_id % 5 = 0) keep their true
    * label frozen; each of 2 unrolled rounds, every non-seed vertex
    * adopts the MAJORITY label among its currently-labeled neighbors
    * (ties broken by smallest label — fully deterministic). Emits the
    * eval frame: seed flag, propagated label (−1 = unreached), true
    * label, correctness — the accuracy report that decides whether
    * the weak labels are usable.
    *
    * Scale shape: the FIFTH consumer of the stored edge artifact
    * (components, kNN, PageRank, triangles, now LPA — one mining
    * pass serves all five). Each round is one equi-join of the edge
    * relation to the current label frame + a per-destination majority
    * (groupBy + a window partitioned by the high-cardinality vertex
    * id) — the textbook per-iteration shape shared with PageRank;
    * no broadcast of anything corpus-sized, no all-pairs. */
  def qSimLabelPropagation(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val matched = annEdgesStored(spark, sfDir)
      .filter(col("cosine") >= 0.4).select("a_id", "b_id")
    val edges = matched.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(matched.select(col("b_id").as("src"), col("a_id").as("dst")))
      .transform(scope.persist)
    val seeds = e.filter(col("vec_id") % 5 === 0)
    var labels = seeds
    (1 to 2).foreach { _ =>
      val contrib = edges
        .join(labels.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("dst")).orderBy(col("c").desc, col("label"))
      val adopted = contrib
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("dst").as("vec_id"), col("label"))
        .join(seeds.select("vec_id"), Seq("vec_id"), "left_anti")
      labels = seeds.unionByName(adopted)
    }
    e
      .join(labels.withColumnRenamed("label", "prop0"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), (col("vec_id") % 5 === 0).as("is_seed"),
        coalesce(col("prop0"), lit(-1)).as("prop_label"),
        col("label").as("true_label"),
        (coalesce(col("prop0"), lit(-1)) === col("label")).as("correct"))
  }

  /** The shared mined-edge CTEs + the same 2 unrolled majority rounds. */
  val qSimLabelPropagationOracle: String = {
    val iter = (i: Int) =>
      s"""a$i AS (SELECT ed.dst AS vec_id, l.label, COUNT(*) AS c
         |  FROM edges ed JOIN l${i - 1} l ON l.vec_id = ed.src
         |  GROUP BY 1, 2),
         |p$i AS (SELECT vec_id, label FROM (
         |    SELECT vec_id, label,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, label) AS rn
         |    FROM a$i) x WHERE rn = 1),
         |l$i AS (SELECT vec_id, label FROM seeds
         |  UNION ALL
         |  SELECT p.vec_id, p.label FROM p$i p
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM seeds))""".stripMargin
    s"""WITH $annEdgesCte,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |seeds AS (SELECT vec_id, label FROM lab WHERE vec_id % 5 = 0),
       |l0 AS (SELECT vec_id, label FROM seeds),
       |${iter(1)},
       |${iter(2)}
       |SELECT v.vec_id, (v.vec_id % 5 = 0) AS is_seed,
       |  CAST(COALESCE(l2.label, -1) AS INT) AS prop_label,
       |  CAST(v.label AS INT) AS true_label,
       |  (COALESCE(l2.label, -1) = v.label) AS correct
       |FROM lab v LEFT JOIN l2 ON l2.vec_id = v.vec_id
       |ORDER BY v.vec_id""".stripMargin
  }

  /** IVF RECALL/COST CURVE — the nprobe tuning table, completing the
    * ANN auditing family the LSH side already has
    * (`dedup_lsh_band_tuning`): for nprobe ∈ {1, 2, 4}, the exact
    * top-3 recall against brute force and the candidate volume paid
    * for it. This is THE table an ANN deployment reads to pick its
    * recall/latency point — recall rises with nprobe while candidate
    * cost grows ~linearly, and the elbow is corpus-specific.
    *
    * Scale shape: ONE corpus assignment pass (nprobe=1 cells, the
    * stored layout) serves all three configs — only the tiny
    * broadcast QUERY side fans out per probe count, exactly like the
    * production multi-probe knob; the three configs ride one plan
    * via a probe-labeled union of the query set. Brute-force truth
    * is the ordinary broadcast-queries pass, fixture-affordable and
    * at scale replaced by a sampled audit (the LSH-audit stratum
    * discipline). */
  def qSimIvfRecallCurve(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val cent = centroids(e)
    val assigned = cellAssignments(e, cent, nprobe = 1)
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    val qasg = e.filter(col("vec_id") < NumQueries).join(cent)
      .withColumn("ccos", DedupOps.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("rn", row_number().over(wq))
    val qp = Seq(1, 2, 4).map(p =>
        qasg.filter(col("rn") <= p).withColumn("p", lit(p)))
      .reduce(_ unionByName _)
      .select(col("p"), col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cid"))
    val scored = assigned
      .select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"), col("cid"))
      .join(broadcast(qp), Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .select(col("p"), col("q_id"), col("n_id"), col("cosine"))
      .transform(scope.persist)
    val wr = Window.partitionBy(col("p"), col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    val ivf = scored.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3).select(col("p"), col("q_id"), col("n_id"))
    val bf = bruteForceTopK(e, 3).select(col("q_id"), col("n_id"))
    val cands = scored.groupBy(col("p")).agg(count(lit(1)).as("n_candidates"))
    val hits = ivf.join(bf, Seq("q_id", "n_id"))
      .groupBy(col("p")).agg(count(lit(1)).as("n_hits"))
    cands.join(hits, Seq("p"), "left_outer")
      .select(col("p").cast("int").as("nprobe"),
        lit(NumQueries.toLong).as("n_queries"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr(s"coalesce(n_hits, 0L) * 1000000 DIV ${NumQueries * 3}L")
          .as("recall_ppm"),
        col("n_candidates"))
  }

  /** The IVF assignment CTEs with the probe count as data + the
    * brute-force truth + the integer recall arithmetic. */
  val qSimIvfRecallCurveOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, v, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT unnest([1, 2, 4]) AS p),
       |qp AS (
       |  SELECT pr.p, q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, q.cid
       |  FROM asg q, probes pr
       |  WHERE q.vec_id < $NumQueries AND q.rn <= pr.p),
       |scored AS (
       |  SELECT qp.p, qp.q_id, c.vec_id AS n_id,
       |    list_dot_product(qp.qv, c.v) / (qp.qn * c.nrm) AS cosine
       |  FROM a c JOIN qp ON c.cid = qp.cid AND qp.q_id != c.vec_id),
       |rk AS (
       |  SELECT p, q_id, n_id,
       |    row_number() OVER (PARTITION BY p, q_id
       |      ORDER BY cosine DESC, n_id) AS rank
       |  FROM scored),
       |ivf AS (SELECT p, q_id, n_id FROM rk WHERE rank <= 3),
       |bs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
       |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |brk AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
       |  FROM bs),
       |bf AS (SELECT q_id, n_id FROM brk WHERE rank <= 3),
       |hits AS (SELECT p, COUNT(*) AS n_hits
       |         FROM ivf JOIN bf USING (q_id, n_id) GROUP BY 1),
       |cands AS (SELECT p, COUNT(*) AS n_candidates FROM scored GROUP BY 1)
       |SELECT CAST(c.p AS INT) AS nprobe,
       |  CAST($NumQueries AS BIGINT) AS n_queries,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST((COALESCE(h.n_hits, 0) * 1000000) // ${NumQueries * 3} AS BIGINT)
       |    AS recall_ppm,
       |  CAST(c.n_candidates AS BIGINT) AS n_candidates
       |FROM cands c LEFT JOIN hits h ON h.p = c.p
       |ORDER BY nprobe""".stripMargin

  /** Exact top-`k` truth relation (q_id, n_id, rank_bf): the
    * broadcast query set scored against the full corpus — the shared
    * brute-force verification-twin pass of the eval family
    * ([[qSimIvfRecallCurve]]'s truth side and [[qSimRankEval]]'s,
    * factored once so the tie-break and cosine expression can never
    * drift between them). At 100 TB this runs over a sampled query
    * audit, never as the serving path. */
  private def bruteForceTopK(e: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wb = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    e.select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"))
      .join(broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))), col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank_bf", row_number().over(wb))
      .filter(col("rank_bf") <= k)
      .select(col("q_id"), col("n_id"), col("rank_bf"))
  }

  /** RANK-AWARE retrieval eval — MRR and nDCG@10 of the IVF serving
    * path (nprobe=2) against exact top-10 truth, completing the eval
    * family recall started ([[qSimIvfRecallCurve]],
    * `sim_truncation_recall`, `mm_crossmodal_recall`): recall@k says
    * WHETHER the truth set was retrieved; MRR/nDCG price WHERE in the
    * served list it landed, which is what a retrieval-augmented
    * training pipeline actually consumes (a hit at served rank 10 is
    * nearly worthless to a reranker fed the top 3). Two reciprocal
    * ranks are reported and they are NOT the same statistic: `mrr_r`
    * is the standard MRR term — 1 / (served rank of the FIRST
    * relevant item, relevance = membership in the truth top-10) —
    * and `rr_true_r` is the stricter reciprocal served rank of the
    * single TRUE nearest neighbor (0 when truth #1 is missed
    * entirely), so mrr_r ≥ rr_true_r always. Graded relevance
    * is the standard linear gain rel = k+1 − truth_rank; the discount
    * is 1/log2(served_rank + 1) written as the SAME ln-ratio
    * expression in both engines (the `text_char_entropy` precedent);
    * IDCG is a closed-form constant of k alone, computed once on the
    * driver and interpolated into BOTH texts so the normalization
    * divides bit-identical doubles.
    *
    * Scale shape: the truth side is the documented brute-force
    * verification twin (broadcast query set × corpus — at 100 TB a
    * sampled audit, the LSH-audit stratum discipline); the served
    * side is the production IVF path — corpus assigned once
    * (nprobe=1, the stored layout), only the 10-row query set fans
    * out ×2 probes, candidates via the cell-key equi-join. The
    * metric join is (q_id, n_id)-keyed on two ≤10·k-row relations;
    * everything after it is query-set-sized. */
  private val EvalK = 10
  private val Ln2 = math.log(2.0)
  private val IdcgK: Double =
    (1 to EvalK).map(i => (EvalK + 1.0 - i) / (math.log(i + 1.0) / Ln2)).sum

  def qSimRankEval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sfDir))
    val cent = centroids(e)
    val assigned = cellAssignments(e, cent, nprobe = 1)
    val qp = cellAssignments(e.filter(col("vec_id") < NumQueries), cent, nprobe = 2)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cid"))
    val wI = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("n_id"))
    val ivf = assigned
      .select(col("vec_id").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"), col("cid"))
      .join(broadcast(qp), Seq("cid"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine",
        DedupOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank_ivf", row_number().over(wI))
      .filter(col("rank_ivf") <= EvalK)
      .select(col("q_id"), col("n_id"), col("rank_ivf"))
    val bf = bruteForceTopK(e, EvalK)
    val perQ = ivf.join(bf, Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(
        count(lit(1)).as("n_hits"),
        sum((lit(EvalK + 1) - col("rank_bf")).cast("double") /
          (log(col("rank_ivf") + lit(1.0)) / lit(Ln2))).as("dcg"),
        min(col("rank_ivf")).as("first_hit"),
        max(when(col("rank_bf") === 1,
          lit(1.0) / col("rank_ivf"))).as("rr0"))
    e.filter(col("vec_id") < NumQueries).select(col("vec_id").as("q_id"))
      .join(perQ, Seq("q_id"), "left_outer")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr_r"),
        round(coalesce(col("rr0"), lit(0.0)), 6).as("rr_true_r"),
        round(coalesce(col("dcg"), lit(0.0)), 6).as("dcg_r"),
        round(coalesce(col("dcg"), lit(0.0)) / lit(IdcgK), 6).as("ndcg_r"))
  }

  /** Same IVF/brute-force CTEs as the recall curve at nprobe=2, plus
    * the ln-ratio discount and the driver-interpolated IDCG constant. */
  val qSimRankEvalOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < $NumCentroids),
       |asg AS (
       |  SELECT vec_id, v, nrm, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY list_dot_product(v, cv) / (nrm * cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |a AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1),
       |qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cid
       |       FROM asg WHERE vec_id < $NumQueries AND rn <= 2),
       |scored AS (
       |  SELECT qp.q_id, c.vec_id AS n_id,
       |    list_dot_product(qp.qv, c.v) / (qp.qn * c.nrm) AS cosine
       |  FROM a c JOIN qp ON c.cid = qp.cid AND qp.q_id != c.vec_id),
       |irk AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, n_id) AS rank_ivf
       |  FROM scored),
       |ivf AS (SELECT q_id, n_id, rank_ivf FROM irk WHERE rank_ivf <= $EvalK),
       |bs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
       |  FROM n q JOIN n c ON q.vec_id < $NumQueries AND q.vec_id != c.vec_id),
       |brk AS (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank_bf
       |  FROM bs),
       |bf AS (SELECT q_id, n_id, rank_bf FROM brk WHERE rank_bf <= $EvalK),
       |h AS (
       |  SELECT i.q_id, COUNT(*) AS n_hits,
       |    SUM(CAST(${EvalK + 1} - b.rank_bf AS DOUBLE) /
       |        (ln(i.rank_ivf + 1.0) / ln(2.0))) AS dcg,
       |    MIN(i.rank_ivf) AS first_hit,
       |    MAX(CASE WHEN b.rank_bf = 1
       |        THEN CAST(1.0 AS DOUBLE) / i.rank_ivf END) AS rr0
       |  FROM ivf i JOIN bf b USING (q_id, n_id) GROUP BY 1)
       |SELECT s.q_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  round(COALESCE(CAST(1.0 AS DOUBLE) / h.first_hit, 0), 6) AS mrr_r,
       |  round(COALESCE(h.rr0, 0), 6) AS rr_true_r,
       |  round(COALESCE(h.dcg, 0), 6) AS dcg_r,
       |  round(COALESCE(h.dcg, 0) / $IdcgK, 6) AS ndcg_r
       |FROM (SELECT vec_id AS q_id FROM n WHERE vec_id < $NumQueries) s
       |LEFT JOIN h ON h.q_id = s.q_id
       |ORDER BY s.q_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ivf_recall_curve" -> (qSimIvfRecallCurve _),
    "sim_rank_eval" -> (qSimRankEval _),
    "sim_label_propagation" -> (qSimLabelPropagation _),
    "sim_svm_step" -> (qSimSvmStep _),
    "sim_rank_fusion" -> (qSimRankFusion _),
    "sim_embedding_drift" -> (qSimEmbeddingDrift _),
    "sim_ivf_cell_stats" -> (qSimIvfCellStats _),
    "sim_binary_rerank" -> (qSimBinaryRerank _),
    "sim_kcenter_coreset" -> (qSimKcenterCoreset _),
    "sim_label_outliers" -> (qSimLabelOutliers _),
    "sim_hard_negatives" -> (qSimHardNegatives _),
    "sim_pq_encode" -> (qSimPqEncode _),
    "sim_ivfpq_topk" -> (qSimIvfPqTopk _),
    "sim_ivfpq_stored" -> (qSimIvfPqTopkStored _),
    "sim_ivfpq_multiprobe" -> (qSimIvfPqMultiprobe _),
    "sim_ivfpq_rerank" -> (qSimIvfPqRerank _),
    "sim_pagerank_stored" -> (qSimPagerankStored _),
    "sim_triangles_stored" -> (qSimTrianglesStored _),
    "sim_knn_graph_stored" -> (qSimKnnGraphStored _),
    "dedup_semantic_clusters_stored" -> (qDedupSemanticClustersAnnStored _),
    "sim_triangles" -> (qSimTriangles _),
    "sim_pagerank" -> (qSimPagerank _),
    "sim_pca_outliers" -> (qSimPcaOutliers _),
    "sim_pca_whiten" -> (qSimPcaWhiten _),
    "sim_knn_graph" -> (qSimKnnGraph _),
    "sim_incremental" -> (qSimIncremental _),
    "sim_dim_corr" -> (qDimCorr _),
    "sim_bruteforce_topk" -> (qSimBruteForce _),
    "sim_lsh_bucketed" -> (qSimLshBucketed _),
    "sim_lsh_multiprobe" -> (qSimLshMultiprobe _),
    "sim_ivf_probe" -> (qSimIvf _),
    "sim_ivf_multiprobe" -> (qSimIvfMultiprobe _),
    "sim_kmeans_step" -> (qKmeansStep _),
    "sim_kmeans_iter" -> (qKmeansIter _),
    "sim_random_projection" -> (qSimRandomProjection _),
    "sim_truncation_recall" -> (qSimTruncationRecall _),
    "sim_quantize_int8" -> (qQuantizeInt8 _))

  val oracles: Map[String, String] = Map(
    "sim_ivf_recall_curve" -> qSimIvfRecallCurveOracle,
    "sim_rank_eval" -> qSimRankEvalOracle,
    "sim_label_propagation" -> qSimLabelPropagationOracle,
    "sim_svm_step" -> qSimSvmStepOracle,
    "sim_rank_fusion" -> qSimRankFusionOracle,
    "sim_embedding_drift" -> qSimEmbeddingDriftOracle,
    "sim_ivf_cell_stats" -> qSimIvfCellStatsOracle,
    "sim_binary_rerank" -> qSimBinaryRerankOracle,
    "sim_kcenter_coreset" -> qSimKcenterCoresetOracle,
    "sim_label_outliers" -> qSimLabelOutliersOracle,
    "sim_hard_negatives" -> qSimHardNegativesOracle,
    "sim_pq_encode" -> qSimPqEncodeOracle,
    "sim_ivfpq_topk" -> qSimIvfPqTopkOracle,
    // the stored variant shares the self-contained oracle VERBATIM:
    // the artifact is the same encoder materialized
    "sim_ivfpq_stored" -> qSimIvfPqTopkOracle,
    "sim_ivfpq_multiprobe" -> qSimIvfPqMultiprobeOracle,
    "sim_ivfpq_rerank" -> qSimIvfPqRerankOracle,
    // the stored variants share the self-contained oracles VERBATIM:
    // the artifact is the same miner materialized, so the DuckDB
    // re-derivation grades both paths against one edge set
    "sim_pagerank_stored" -> qSimPagerankOracle,
    "sim_triangles_stored" -> qSimTrianglesOracle,
    "sim_knn_graph_stored" -> qSimKnnGraphOracle,
    "dedup_semantic_clusters_stored" -> DedupOps.qDedupSemanticClustersAnnOracle,
    "sim_triangles" -> qSimTrianglesOracle,
    "sim_pagerank" -> qSimPagerankOracle,
    "sim_pca_outliers" -> qSimPcaOutliersOracle,
    "sim_pca_whiten" -> qSimPcaWhitenOracle,
    "sim_knn_graph" -> qSimKnnGraphOracle,
    "sim_incremental" -> qSimIncrementalOracle,
    "sim_dim_corr" -> qDimCorrOracle,
    "sim_bruteforce_topk" -> qSimBruteForceOracle,
    "sim_lsh_bucketed" -> qSimLshBucketedOracle,
    "sim_lsh_multiprobe" -> qSimLshMultiprobeOracle,
    "sim_ivf_probe" -> qSimIvfOracle,
    "sim_ivf_multiprobe" -> qSimIvfMultiprobeOracle,
    "sim_kmeans_step" -> qKmeansStepOracle,
    "sim_kmeans_iter" -> qKmeansIterOracle,
    "sim_random_projection" -> qSimRandomProjectionOracle,
    "sim_truncation_recall" -> qSimTruncationRecallOracle,
    "sim_quantize_int8" -> qQuantizeInt8Oracle)
}
