package graft

import graft.operators.Ivf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Ivf]]'s assignment and routing must tell the same story: the
  * fused argmin's cell is the rank-1 routed cell, and routing returns
  * the nprobe nearest distinct cells in (metric, cent_id) order — for
  * both metrics. Random vectors, with centroid 6 planted as an exact
  * copy of centroid 3 so every vector sees a metric tie that only the
  * cent_id order can break.
  */
class IvfSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Dim = 16
  private val K = 9
  private val NProbe = 4
  private val Twin = 6L
  private val Original = 3L

  /** Spark's struct order on (m, cent_id): a total order on m. */
  private val cellOrder: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  private lazy val corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 80L).map(i => i -> Array.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val byId = vecs.toMap
    vecs.map { case (i, v) => i -> (if (i == Twin) byId(Original) else v) }
      .toDF("vec_id", "embedding")
  }

  private def check(m: Ivf.Metric): Unit = {
    val e = corpus
    val cells = Ivf.Cells(Ivf.seeds(e, K), m)
    // Every cell, nearest first: the order routing must follow.
    val all = cells.withCells(m.withNorm(e))
      .select(col("vec_id"), array_sort(m.metrics).as("all"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(c => (c.getDouble(0), c.getLong(1))))
      .toMap
    val assigned = cells.assign(e, "cell").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = cells.probe(e, NProbe)
      .select(col("vec_id"), col("cell.m"), col("cell.cent_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(r => (r.getDouble(1), r.getLong(2))).toSeq }
    val ranked = cells.probeRanked(e, NProbe, col("vec_id"))
      .select("vec_id", "cent_id", "cell_rank")
      .collect().groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(r => r.getInt(2) -> r.getLong(1)).sorted.toSeq }

    assert(assigned.size == 80 && probed.size == 80 && ranked.size == 80)
    for ((v, cells) <- all) {
      val ids = cells.map(_._2)
      assert(ids.distinct.length == K, s"vec $v: $cells")
      assert(cells == cells.sorted(cellOrder), s"vec $v: $cells")
      // The planted twin ties its original and sorts right after it.
      val at = ids.indexOf(Original)
      assert(ids(at + 1) == Twin && cells(at)._1 == cells(at + 1)._1, s"vec $v: $cells")

      assert(assigned(v) == ids.head, s"vec $v: assigned ${assigned(v)}, routed $cells")
      val p = probed(v)
      assert(p.map(_._2).distinct.length == NProbe, s"vec $v: $p")
      assert(p.sorted(cellOrder) == cells.take(NProbe), s"vec $v: $p")
      assert(ranked(v) == (1 to NProbe).zip(ids.take(NProbe)), s"vec $v: ${ranked(v)}")
    }
    assert(!assigned.values.exists(_ == Twin), "the twin never wins a tie")
  }

  test("squared-L2 assignment is the rank-1 routed cell; routing is (metric, cent_id) ordered") {
    check(Ivf.L2)
  }

  test("cosine assignment is the rank-1 routed cell; routing is (metric, cent_id) ordered") {
    check(Ivf.Cos)
  }
}
