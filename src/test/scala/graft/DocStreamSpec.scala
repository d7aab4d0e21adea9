package graft

import graft.streaming.DocStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Top-level for encoder codegen (see [[Ev]]). */
case class Doc(ts: Timestamp, doc_id: Long, text: String)

/** Streaming corpus ingestion: quality filter, watermark-bounded exact
  * dedup, and batch-identical SimHash bands on the survivors.
  */
class DocStreamSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  private val longA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val longB = "one two three four five six seven eight nine ten eleven twelve"

  test("ingest filters short docs, drops exact dups, emits batch-identical bands") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[Doc]
    val q = DocStream.ingest(src.toDF())
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      src.addData(
        Doc(ts(0), 1, longA),
        Doc(ts(1), 2, longA),   // exact duplicate content: dropped
        Doc(ts(2), 3, "too short"), // fails the quality filter
        Doc(ts(3), 4, longB))
      q.processAllAvailable()
      val out = spark.table("ingest_out")
        .select("doc_id", "sig", "band0", "band1", "band2", "band3").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(out.keySet == Set(1L, 4L))

      // The streaming signature/bands must equal the batch computation
      // on the same text, or stream- and batch-ingested corpora would
      // LSH-bucket differently.
      val batch = Seq((1L, longA), (4L, longB)).toDF("doc_id", "text")
        .withColumn("toks", split(lower(col("text")), " ", -1))
        .withColumn("sig", graft.functions.SimHash60.simhash60("toks"))
        .drop("toks")
      val batchSigs = batch.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      for ((id, (sig, b0, _, _, b3)) <- out) {
        assert(sig == batchSigs(id), s"doc $id stream/batch sig mismatch")
        assert(b0 == (sig & 0x7fffL))
        assert(b3 == ((sig >> 45) & 0x7fffL))
      }
    } finally q.stop()
  }

  test("dedupAgainstBase drops base-known content and within-stream repeats") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[Doc]
    val base = Seq(longA).toDF("text")
      .select(sha2(col("text"), 256).as("content_hash")).distinct()
    val q = DocStream.dedupAgainstBase(src.toDF(), base)
      .writeStream.format("memory").queryName("dedup_base_out")
      .outputMode("append").start()
    try {
      src.addData(
        Doc(ts(0), 10, longA),  // known to the base: anti-joined away
        Doc(ts(1), 11, longB),  // new content: survives
        Doc(ts(2), 12, longB))  // within-stream repeat: deduped
      q.processAllAvailable()
      val out = spark.table("dedup_base_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val expectHash = Seq(longB).toDF("text")
        .select(sha2(col("text"), 256)).head().getString(0)
      assert(out.toSeq == Seq((expectHash, longB.length.toLong)))
    } finally q.stop()
  }
}
