package graft

import graft.streaming.EmbedStream
import graft.functions.CentAssign
import graft.operators.Ivf
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Top-level for encoder codegen. */
case class Vec(ts: Timestamp, vec_id: Long, embedding: Array[Float])

/** Streaming IVF cell routing must agree exactly with the batch
  * assignment — same fused expression, same packed centroids, so a
  * vector's cell_id is arrival-mode-independent.
  */
class EmbedStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  private def vec(axis: Int, v: Float): Array[Float] = {
    val a = Array.fill(64)(0.0f); a(axis) = v; a
  }

  test("streamed cell assignment equals the batch assignment") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val cents = Seq(
      (0L, Array.fill(64)(0.0).updated(0, 1.0)),
      (1L, Array.fill(64)(0.0).updated(1, 1.0)),
    ).toDF("cent_id", "ce")
    val vecs = Seq(
      Vec(ts(0), 10L, vec(0, 2.0f)),  // nearest axis-0 centroid → cell 0
      Vec(ts(1), 11L, vec(1, 0.9f)),  // nearest axis-1 centroid → cell 1
      Vec(ts(2), 12L, vec(0, 1.1f)),  // cell 0
    )

    val src = MemoryStream[Vec]
    val q = EmbedStream.assigned(src.toDF(), cents)
      .writeStream.format("memory").queryName("embed_out")
      .outputMode("append").start()
    try {
      src.addData(vecs: _*)
      q.processAllAvailable()
      val streamed = spark.table("embed_out")
        .select("vec_id", "cell_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      val batch = vecs.toDF()
        .crossJoin(Ivf.packCents(cents))
        .withColumn("cell_id", CentAssign.argminL2("embedding", "cs"))
        .select("vec_id", "cell_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      assert(streamed == batch)
      assert(streamed == Map(10L -> 0L, 11L -> 1L, 12L -> 0L))
    } finally q.stop()
  }
}
