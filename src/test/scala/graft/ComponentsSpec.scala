package graft

import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness of the connected-components loop, hash-min + path
  * doubling ([[DedupOps.connectedComponents]]): it must label every node
  * with the minimum node id of its component — checked against a
  * driver-side union-find oracle on adversarial shapes and seeded
  * random graphs. */
class ComponentsSpec extends SparkSpec {

  private def oracle(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def toDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("a_id", "b_id")
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def check(pairs: Seq[(Long, Long)]): Unit =
    assert(labelsOf(DedupOps.connectedComponents(toDf(pairs))) === oracle(pairs),
      "hash-min + doubling disagrees with union-find")

  test("adversarial shapes: path, descending path, star, ring, forest, dumbbell") {
    // long path, ids ascending then descending (order affects min flow)
    check((1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq)
    check((1L to 40L).sliding(2).map(s => (s(1), s(0))).toSeq)
    // star centered high and low
    check((1L to 20L).map(i => (100L, i)))
    check((2L to 20L).map(i => (1L, i)))
    // ring
    check((1L to 30L).sliding(2).map(s => (s(0), s(1))).toSeq :+ (30L, 1L))
    // forest of separate components
    check(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L)))
    // two cliques bridged by one edge
    val cliqueA = for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)
    val cliqueB = for (i <- 11L to 16L; j <- (i + 1) to 16L) yield (i, j)
    check(cliqueA ++ cliqueB :+ ((6L, 11L)))
  }

  test("signature convergence: empty and single-pair inputs terminate cleanly") {
    // r16: convergence is now detected by the monotone label-sum
    // signature. Pin its two boundary paths: an EMPTY pair relation
    // (the signature of an empty label set is the null→ZERO branch —
    // must converge immediately, not throw or spin to maxIter) and a
    // single pair (smallest nonempty fixpoint).
    assert(labelsOf(DedupOps.connectedComponents(toDf(Seq.empty))) === Map.empty)
    assert(labelsOf(DedupOps.connectedComponents(toDf(Seq((7L, 3L))))) ===
      Map(3L -> 3L, 7L -> 3L))
  }

  test("seeded random graphs match the union-find oracle") {
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val pairs = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      check(pairs)
    }
  }

  test("ANN-mined clusters refine the exact clustering with bounded edge recall") {
    val e = DedupOps.normedVectors(Tables.embeddings(spark, sf))
    val exactPairs = DedupOps.exactCosinePairs(e)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annPairs = DedupOps.annCosinePairs(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction: every ANN edge passes the
    // same cosine threshold, so it must appear in the exact edge set
    assert(annPairs.subsetOf(exactPairs),
      s"ANN emitted ${(annPairs -- exactPairs).size} edges the exact miner rejects")
    // recall floor on this fixture: at 500 vectors the auto geometry is
    // k=4 planes × 16 tables (the dims fully used) — the 1-(1-p^k)^L
    // ladder recovers nearly all true edges at cosine 0.4 (measured
    // 0.97; floored at 0.9 with margin)
    assert(exactPairs.nonEmpty)
    val recall = annPairs.size.toDouble / exactPairs.size
    assert(recall >= 0.9, f"ANN edge recall $recall%.2f below 0.9 floor")
    // subgraph components refine the full-graph components: any two
    // vectors the ANN path clusters together must share an exact cluster
    val exactLabels = labelsOf(
      DedupOps.connectedComponents(toDf(exactPairs.toSeq)))
    val annLabels = labelsOf(
      DedupOps.connectedComponents(toDf(annPairs.toSeq)))
    val byAnnCluster = annLabels.groupBy(_._2).values
    byAnnCluster.foreach { members =>
      val exactOf = members.keys.map(exactLabels).toSet
      assert(exactOf.size === 1,
        s"ANN cluster spans ${exactOf.size} exact clusters: $members")
    }
  }

  test("path doubling converges in O(log d) rounds on a 2048-node path graph") {
    // a path graph is the adversarial diameter case. With the composed
    // map (label ← label(label)) the loop needs ~log2(2048) = 11
    // rounds; passing maxIter = 13 makes the bound a hard gate — a
    // regression to constant-hop propagation (e.g. composing with a
    // fixed pre-round map) would need ~2047 rounds and throw.
    val pairs = (1L until 2048L).map(i => (i, i + 1))
    val labels = labelsOf(DedupOps.connectedComponents(toDf(pairs), maxIter = 13))
    assert(labels.values.toSet === Set(1L))
    assert(labels.keySet === (1L to 2048L).toSet)
  }

  test("ANN geometry scales planes with corpus size and bounds bucket occupancy") {
    // 4× fixture (sf0.1: 2000 vectors): ceil(n/64)=32 → k=5, 12 tables.
    // This is the scale knob the fixed-width miner lacked — expected
    // occupancy n/2^k stays ~64 as n grows, so the within-bucket join
    // is n·occupancy, never a hidden quadratic.
    val dir = "/root/testdata/sf0.1"
    val e = DedupOps.normedVectors(graft.Tables.embeddings(spark, dir))
    val n = e.count()
    val k = DedupOps.signLshPlanes(n)
    assert(n === 2000L)
    assert(k === 5, s"2000 vectors should pick k=5, got $k")
    assert(DedupOps.signLshPlanes(500L) === 4)       // fixture floor
    assert(DedupOps.signLshPlanes(64L * 1024) === 10) // clamp ceiling
    assert(DedupOps.signLshPlanes(64L * 1024 * 1024) === 10)
    // a key wider than the dims must be rejected, not silently produce
    // zero tables (and therefore an empty edge set)
    intercept[IllegalArgumentException] {
      DedupOps.annCosinePairs(e, planesPerTable = 65)
    }
    // occupancy bound: max bucket across all 12 tables ≤ 2 · n/2^k
    // (measured max 83 vs expected 62.5 on this fixture)
    val maxBucket = DedupOps.signLshBuckets(e, k, 64 / k)
      .groupBy("tbl", "bucket").count()
      .agg(max("count")).head.getLong(0)
    assert(maxBucket <= 2L * (n / (1L << k)),
      s"max bucket $maxBucket exceeds 2x expected occupancy ${n / (1L << k)}")
    // recall floor holds at the NEW geometry too (measured 0.76): the
    // k=5 occupancy gain is paid for by filling the dims with 12
    // tables, not by losing edges
    val exactPairs = DedupOps.exactCosinePairs(e)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val annPairs = DedupOps.annCosinePairs(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(annPairs.subsetOf(exactPairs))
    val recall = annPairs.size.toDouble / exactPairs.size
    assert(recall >= 0.7, f"ANN edge recall $recall%.2f below 0.7 floor at k=$k")
  }

  test("ANN candidate volume grows ~linearly with corpus size (two-size gate)") {
    // The r5 finding was a fixed geometry whose within-bucket join grew
    // O(n²/2^k); the occupancy-scaled k must keep the pre-verification
    // candidate volume ~linear in n. Gate: between the 1× (500-vector)
    // and 4× (2000-vector) fixtures, candidates may grow at most 2× the
    // size ratio (8×) — a quadratic regression (fixed k) grows ~16×.
    def cands(dir: String): (Long, Long) = {
      val e = DedupOps.normedVectors(graft.Tables.embeddings(spark, dir))
      val n = e.count()
      val k = DedupOps.signLshPlanes(n)
      (n, DedupOps.annCandidatePairs(e, k, 64 / k).count())
    }
    val (n1, c1) = cands(sf)
    val (n4, c4) = cands("/root/testdata/sf0.1")
    assert(n4 === 4 * n1, s"fixtures moved: $n1 vs $n4 vectors")
    assert(c1 > 0)
    val growth = c4.toDouble / c1
    assert(growth <= 2.0 * n4 / n1,
      f"candidate growth $growth%.1fx between $n1 and $n4 vectors breaks " +
        "the linear band — the geometry stopped scaling with n")
  }
}
