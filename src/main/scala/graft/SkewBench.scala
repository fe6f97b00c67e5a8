package graft

import graft.operators.DedupOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev benchmark for the Jaccard DF-cap's skew claim
  * (DedupOps.qDedupJaccardCapped): appends ONE viral 3-gram to every
  * document — the boilerplate-footer situation of a real web corpus —
  * and times uncapped vs capped pair generation. The inverted-index
  * join costs Σ_s |docs(s)|²; a shingle shared by all n docs adds an
  * n²/2 term that the cap deletes. Run:
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     tools/run.sh graft.SkewBench
  * }}}
  * Numbers land in NOTES_r2.md.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the skew fixture: every doc ends with the same boilerplate 3-gram
    val viral = Tables.documents(spark, sfDir)
      .withColumn("text", concat(col("text"), lit(" zzqqa zzqqb zzqqc")))
    val nDocs = viral.count()

    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$label%-24s $dt%8.2f s   ($n pairs over $nDocs docs)")
      dt
    }

    // Materialize the shingle relation ONCE before timing: both
    // variants share it, and the claim under test is the PAIR-JOIN
    // cost (the Σ_s |docs(s)|² term), not the explode.
    QueryScope.eager(spark) { scope =>
      val sh = scope.persist(DedupOps.shingles(viral))
      sh.count()
      val uncapped = time("uncapped jaccard") {
        DedupOps.jaccardPairs(sh).filter(col("jaccard") >= 0.1)
      }
      val capped = time("capped jaccard (df<=20)") {
        val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 20).select("shingle")
        DedupOps.jaccardPairs(sh.join(rare, "shingle")).filter(col("jaccard") >= 0.1)
      }
      println(f"speedup: ${uncapped / capped}%.1fx")
    }
    spark.stop()
  }
}
