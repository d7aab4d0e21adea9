package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** q_dedup_cluster on planted duplicate groups: a 3-copy group must
  * collapse into ONE component (three pairwise edges merged, canonical
  * = min doc_id), a 2-copy group into another, and non-duplicate docs
  * must not appear at all.
  */
class DedupClusterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-cc").toString
    val tri = "alpha beta gamma delta epsilon zeta"
    val duo = "one two three four five six seven"
    Seq(
      (1L, tri), (5L, tri), (9L, tri),  // 3-copy cluster, canonical 1
      (2L, duo), (7L, duo),             // 2-copy cluster, canonical 2
      (3L, "lonely unique document with no duplicate partner"),
      (4L, "another entirely distinct text body here"),
    ).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("transitive pairs merge into one cluster; singletons are absent") {
    val rows = SparkEntry.queries("q_dedup_cluster")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 3L, 9L), (2L, 2L, 7L)), s"got $rows")
  }

  test("ccMinLabels on STRING labels converges by the change-detection join") {
    import spark.implicits._
    val pairs = Seq(("c", "b"), ("b", "a"), ("x", "y")).toDF("doc_a", "doc_b")
    val got = graft.operators.DedupOps.ccMinLabels(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"), s"got $got")
  }
}
