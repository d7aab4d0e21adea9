package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The round-loop rows reuse their generated classes: once q_cc_star,
  * q_pagerank and q_stream_sessions_state have run, running the three
  * again compiles nothing. Two session confs in [[GraftSession.build]]
  * make this hold: a codegen cache large enough for the working set
  * (Spark's default 100 entries evicts these rows' ~180 classes in a
  * cycle) and no per-session artifact classloader (each streaming run
  * clones the session, and with isolation on every clone got a new
  * classloader, so the cache, keyed by classloader and code, missed).
  *
  * The cache is sized once per JVM, when code is first generated. Any
  * suite that generates code before `TestSpark.spark` exists would
  * leave it at Spark's default and defeat this spec. */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val rows = Seq("q_cc_star", "q_pagerank", "q_stream_sessions_state")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runRows(): Unit = rows.foreach { q =>
    SparkEntry.queries(q)(spark, dir).collect()
    GraftSession.releaseCachedBlocks(spark)
  }

  test("a second run of the round-loop rows compiles no generated class") {
    runRows()
    val before = compiles
    runRows()
    assert(compiles - before == 0L)
  }
}
