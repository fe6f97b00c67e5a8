package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the final (post-AQE) formatted physical plan and its
  * codegen-span count for the named queries, or for all of them —
  * `tools/run.sh graft.PlanDump <sfDir> [q1,q2]`. The plan audit loop:
  * PushedFilters reaching the scan, broadcast vs shuffle joins,
  * WholeStageCodegen spans. A dev tool; nothing reads its output. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      val df = fn(spark, sfDir)
      // execute first: under AQE the final plan (and its codegen ids)
      // only exists after the query has run. collect() drives THIS
      // df's QueryExecution (a write would plan its own); fine for a
      // dev tool at small sf.
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val spans = "codegen id : (\\d+)".r.findAllMatchIn(p)
        .map(_.group(1)).toSet.size
      println(s"===== $n  [codegen spans: $spans] =====")
      println(p)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
