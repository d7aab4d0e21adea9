package graft

import graft.operators.{Arms, EventsOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Top-level for encoder codegen (the [[Doc]] convention). */
case class MsEv(ts: Timestamp, user_id: Long, value: Double)

/** The streaming mSPRT state must equal the batch rollup at an
  * ADVERSARIAL micro-batch split — the same day's rows scattered
  * across three batches — because the per-day arm power sums are
  * purely additive. The finished curve is then bit-identical.
  */
class MsprtStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ev(day: Int, id: Long, v: Double): MsEv =
    MsEv(Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), id, v)

  test("complete-mode daily state equals batch at a day-splitting batch boundary") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rows = for {
      d <- 1 to 6
      i <- 0 until 40
      arm <- Seq(0, 1)
    } yield ev(d, (2 * i + arm).toLong,
      (if (i % 2 == 0) 9.00 else 11.00) + (if (arm == 1) 0.25 else 0.0))
    val src = MemoryStream[MsEv]
    val q = Arms.powerSums(Arms.armed(src.toDF(),
        Seq(col("ts").cast("date").as("day"))), suffix = "_d").writeStream
      .format("memory").queryName("msprt_state")
      .outputMode("complete").start()
    try {
      // three slices that each cut THROUGH days, not between them
      val (s1, rest) = rows.splitAt(130)
      val (s2, s3) = rest.splitAt(170)
      src.addData(s1); q.processAllAvailable()
      src.addData(s2); q.processAllAvailable()
      src.addData(s3); q.processAllAvailable()
      val streamed = EventsOps.msprtFinish(spark.table("msprt_state"))
        .collect().map(_.toSeq).toSeq
      val batch = EventsOps.msprtCurve(rows.toDF("ts", "user_id", "value"))
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch,
        "stream state must reproduce the batch curve exactly")
      assert(batch.size == 6 && batch.forall(_(3) != null))
    } finally q.stop()
  }
}
