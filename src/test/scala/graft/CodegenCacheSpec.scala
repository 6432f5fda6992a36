package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The compiled-class cache holds the engine's working set, so a session
  * that repeats its queries compiles their generated classes once
  * (GraftSession's doc has the sizing). */
class CodegenCacheSpec extends AnyFunSuite with SharedSpark {

  test("the session sizes the compiled-class cache to 4096 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("a repeated working set larger than Spark's default cache compiles nothing") {
    // together these fill 186 cache entries, measured at sf0.001: an LRU
    // of Spark's default 100 entries misses on nearly every class of a
    // second round
    val qs = Seq("q156_proximity_topk", "q112_bm25_topk",
      "q137_weighted_quantiles_hist", "q115_rrf_fusion").map(SparkEntry.queries)
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      qs.foreach(_(spark, sf001).write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = round()
    val second = round()
    assert(second == 0, s"second round compiled $second classes (first: $first)")
  }
}
