package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** Analysis-time argument checks of the ten sketch aggregates: a wrong
  * input type, a size argument that is not foldable, null, or out of
  * range must each fail analysis with a type-check error that names the
  * function (and, for a size, the argument), never an internal error
  * at planning or execution. */
class SketchArgsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** (function, call over the `sketch_args` view, expected message part). */
  private val rows: Seq[(String, String, String)] = Seq(
    ("theta_sketch_agg", "theta_sketch_agg(d)", "requires long, int, or string"),
    ("theta_sketch_agg", "theta_sketch_agg(v, n)", "lgK must be a foldable integer"),
    ("theta_sketch_agg", "theta_sketch_agg(v, CAST(NULL AS INT))", "lgK must not be null"),
    ("theta_sketch_agg", "theta_sketch_agg(v, 30)", "lgK must be in [4, 26]"),
    ("theta_union_agg", "theta_union_agg(v)", "requires binary"),
    ("theta_union_agg", "theta_union_agg(b, n)", "lgK must be a foldable integer"),
    ("theta_union_agg", "theta_union_agg(b, CAST(NULL AS INT))", "lgK must not be null"),
    ("theta_union_agg", "theta_union_agg(b, 3)", "lgK must be in [4, 26]"),
    ("kll_sketch_agg", "kll_sketch_agg(s)", "requires a numeric column"),
    ("kll_sketch_agg", "kll_sketch_agg(d, n)", "k must be a foldable integer"),
    ("kll_sketch_agg", "kll_sketch_agg(d, CAST(NULL AS INT))", "k must not be null"),
    ("kll_sketch_agg", "kll_sketch_agg(d, 4)", "k must be in [8, 1048576]"),
    ("kll_merge_agg", "kll_merge_agg(d)", "requires binary"),
    ("kll_merge_agg", "kll_merge_agg(b, n)", "k must be a foldable integer"),
    ("kll_merge_agg", "kll_merge_agg(b, CAST(NULL AS INT))", "k must not be null"),
    ("kll_merge_agg", "kll_merge_agg(b, 4)", "k must be in [8, 1048576]"),
    ("mg_sketch_agg", "mg_sketch_agg(d)", "requires string, long, or int keys"),
    ("mg_sketch_agg", "mg_sketch_agg(s, n)", "k must be a foldable integer"),
    ("mg_sketch_agg", "mg_sketch_agg(s, CAST(NULL AS INT))", "k must not be null"),
    ("mg_sketch_agg", "mg_sketch_agg(s, 0)", "k must be in [1, 1048576]"),
    ("mg_merge_agg", "mg_merge_agg(s)", "requires binary"),
    ("mg_merge_agg", "mg_merge_agg(b, n)", "k must be a foldable integer"),
    ("mg_merge_agg", "mg_merge_agg(b, CAST(NULL AS INT))", "k must not be null"),
    ("mg_merge_agg", "mg_merge_agg(b, 0)", "k must be in [1, 1048576]"),
    ("cms_sketch_agg", "cms_sketch_agg(s)", "requires a long or int key"),
    ("cms_sketch_agg", "cms_sketch_agg(v, n, 4)", "w must be a foldable integer"),
    ("cms_sketch_agg", "cms_sketch_agg(v, 64, CAST(NULL AS INT))", "d must not be null"),
    ("cms_sketch_agg", "cms_sketch_agg(v, 2, 4)", "w must be in [4, 4194304]"),
    ("cms_merge_agg", "cms_merge_agg(v)", "requires binary"),
    ("fd_sketch_agg", "fd_sketch_agg(v)", "requires array<float>/array<double>"),
    ("fd_sketch_agg", "fd_sketch_agg(arr, n)", "l must be a foldable integer"),
    ("fd_sketch_agg", "fd_sketch_agg(array(1.0D, 2.0D), CAST(NULL AS INT))",
      "l must not be null"),
    ("fd_sketch_agg", "fd_sketch_agg(arr, 1)", "l must be in [2, 4096]"),
    ("fd_merge_agg", "fd_merge_agg(arr)", "requires binary"),
    ("fd_merge_agg", "fd_merge_agg(b, n)", "l must be a foldable integer"),
    ("fd_merge_agg", "fd_merge_agg(b, CAST(NULL AS INT))", "l must not be null"),
    ("fd_merge_agg", "fd_merge_agg(b, 1)", "l must be in [2, 4096]"))

  test("every sketch aggregate rejects bad arguments at analysis, naming itself") {
    spark.range(1).selectExpr("id AS v", "CAST(id AS STRING) AS s",
      "CAST(id AS DOUBLE) AS d", "CAST('x' AS BINARY) AS b",
      "array(1.0D, 2.0D) AS arr", "CAST(id AS INT) AS n")
      .createOrReplaceTempView("sketch_args")
    assert(rows.map(_._1).distinct.size == 10)
    for ((fn, call, part) <- rows) {
      val e = intercept[AnalysisException] {
        spark.sql(s"SELECT $call FROM sketch_args")
      }
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$call: ${e.getMessage}")
      assert(e.getMessage.contains(s"$fn $part"), s"$call: ${e.getMessage}")
    }
  }
}
