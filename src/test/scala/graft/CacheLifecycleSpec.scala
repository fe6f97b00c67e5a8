package graft

import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** Every query builder keeps its intermediates in a [[QueryScope]],
  * which must release them once the first action over the built query
  * completes — no caller-side clearCache contract, no GC. Asserted on
  * every registered query: after one action, no persisted RDD created
  * by the query remains and none of its scopes is still pending.
  * (Release rides Spark's async listener bus, hence `eventually`.) */
class CacheLifecycleSpec extends SparkSpec with Eventually {

  /** Runs one registered query and asserts that, once its action is
    * done, neither a persisted RDD nor a pending scope of it is left. */
  private def newPersistsAfterRunning(name: String): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val firstScope = QueryScope.nextId
    SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    eventually(timeout(Span(30, Seconds))) {
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      val pending = QueryScope.pendingIds.filter(_ >= firstScope)
      assert(leaked.isEmpty, s"$name left persisted RDDs $leaked after its action")
      assert(pending.isEmpty, s"$name left pending scopes $pending after its action")
      leaked
    }
  }

  test("capped jaccard releases both its shingle persists after the action") {
    assert(newPersistsAfterRunning("dedup_jaccard_capped").isEmpty)
  }

  test("minhash LSH releases its shingle persist after the action") {
    assert(newPersistsAfterRunning("dedup_minhash_lsh").isEmpty)
  }

  test("substring overlap releases its window persist after the action") {
    assert(newPersistsAfterRunning("dedup_substring").isEmpty)
  }

  test("pipeline_corpus releases its shingle and clean-train persists after the action") {
    assert(newPersistsAfterRunning("pipeline_corpus").isEmpty)
  }

  test("incremental dedup, span coverage, decontamination, and tfidf release their persists") {
    assert(newPersistsAfterRunning("dedup_incremental").isEmpty)
    assert(newPersistsAfterRunning("dedup_span_coverage").isEmpty)
    assert(newPersistsAfterRunning("sample_decontaminate").isEmpty)
    assert(newPersistsAfterRunning("sample_decontaminate_bloom").isEmpty)
    assert(newPersistsAfterRunning("text_tfidf").isEmpty)
  }

  test("cluster queries leave no persisted RDDs behind once the cleaner runs") {
    // connectedComponents' round materializations are scope-owned, so
    // they are released with the query's persists on its first action;
    // no GC or ContextCleaner pass is needed any more.
    assert(newPersistsAfterRunning("dedup_clusters").isEmpty)
  }

  test("every registered query leaves no persist or scope behind") {
    val leaks = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val firstScope = QueryScope.nextId
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      def left = (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before,
        QueryScope.pendingIds.filter(_ >= firstScope))
      try {
        eventually(timeout(Span(30, Seconds))) {
          assert(left == ((Set.empty[Int], Seq.empty[Long])))
        }
        None
      } catch {
        case _: org.scalatest.exceptions.TestFailedDueToTimeoutException =>
          val (rdds, scopes) = left
          Some(s"$name: persisted RDDs $rdds, pending scopes $scopes")
      }
    }
    assert(leaks.isEmpty, leaks.mkString("\n", "\n", ""))
  }
}
