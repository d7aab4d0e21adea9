package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Stager
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The streaming replay plumbing on planted frames: the [[Stager]]
  * delivers one staged file per micro-batch in staging order with the
  * sentinel last, the sentinel's `ts` keeps the staged files'
  * physical type, [[StreamOps.runToState]] appends one `batch_id` per
  * slice, and every sink helper leaves no active query behind. */
class ReplaySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Nine events whose event_id slices (mod 3) hold 4, 2 and 3 rows,
    * so each slice's size names it; `ts` in the given physical type. */
  private def planted(epochNanos: Boolean): DataFrame = {
    import spark.implicits._
    val ids = Seq(0L, 3L, 6L, 9L, 1L, 4L, 2L, 5L, 8L)
    val df = ids.map(id => (id, 1700000000L + id * 60L, id % 4, "view", id * 1.5))
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
    val ts =
      if (epochNanos) col("sec") * 1000000000L
      else timestamp_seconds(col("sec"))
    df.select(col("event_id"), ts.as("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  /** Runs `stream` to a no-op sink under AvailableNow on `ckpt` and
    * returns each micro-batch's input row count. */
  private def batchSizes(stream: DataFrame, ckpt: String): Seq[Long] = {
    val q = stream.writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.toSeq.map(_.numInputRows)
  }

  private def ckpt(): String = operators.Scratch.dir()

  /** The staged file in the last slot: the one with the latest mtime. */
  private def lastSlot(st: Stager): String = {
    val listing = Files.list(st.dir)
    try listing.iterator().asScala.toList
      .maxBy(p => Files.getLastModifiedTime(p).toMillis).toString
    finally listing.close()
  }

  test("staged slices arrive one per micro-batch in staging order, sentinel last") {
    val ev = planted(epochNanos = false)
    val st = new Stager(ev.schema).stage(Stager.idSlices(ev): _*).sentinel(spark)
    assert(batchSizes(st.stream(spark), ckpt()) == Seq(4L, 2L, 3L, 1L))
    // Reversed staging order is what arrives: order is the slot's, not
    // the content's.
    val rev = new Stager(ev.schema).stage(Stager.idSlices(ev).reverse: _*)
    assert(batchSizes(rev.stream(spark), ckpt()) == Seq(3L, 2L, 4L))
  }

  test("a slot staged after a run is the only batch of the resumed run") {
    val ev = planted(epochNanos = false)
    val slices = Stager.idSlices(ev)
    val st = new Stager(ev.schema).stage(slices(0), slices(1))
    val c = ckpt()
    assert(batchSizes(st.stream(spark), c) == Seq(4L, 2L))
    st.stage(slices(2))
    assert(batchSizes(st.stream(spark), c) == Seq(3L))
  }

  test("the sentinel's ts keeps the staged files' physical type") {
    val sentinelNs = Instant.parse("2100-01-01T00:00:00Z").getEpochSecond * 1000000000L
    for (nanos <- Seq(true, false)) {
      val ev = planted(epochNanos = nanos)
      val st = new Stager(ev.schema).stage(ev).sentinel(spark)
      val sent = spark.read.parquet(lastSlot(st))
      val tsType = if (nanos) LongType else TimestampType
      assert(sent.schema("ts").dataType == tsType)
      assert(sent.schema.fieldNames.toSeq == ev.schema.fieldNames.toSeq)
      val r = sent.collect().toSeq
      assert(r.size == 1)
      val ts = if (nanos) r.head.getAs[Long]("ts")
        else r.head.getAs[Timestamp]("ts").toInstant.getEpochSecond * 1000000000L
      assert(ts == sentinelNs)
      assert(r.head == Row(-1L, r.head.get(1), -1L, "sentinel", 0.0, "{}"))
    }
  }

  test("runToState appends one batch_id per slice; their union is the input") {
    val ev = planted(epochNanos = false)
    val st = new Stager(ev.schema).stage(Stager.idSlices(ev): _*)
    val state = StreamOps.runToState(st.stream(spark)) { (batch, id) =>
      batch.withColumn("batch_id", lit(id))
    }
    val perBatch = state.groupBy("batch_id")
      .agg(collect_set(pmod(col("event_id"), lit(3))).as("slices"),
        count(lit(1)).as("n"))
      .orderBy("batch_id").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    assert(perBatch == Seq((0L, Seq(0L), 4L), (1L, Seq(1L), 2L), (2L, Seq(2L), 3L)))
    val got = state.drop("batch_id").collect().toSet
    assert(got == ev.collect().toSet)
  }

  test("no query stays active after any sink helper returns") {
    val ev = planted(epochNanos = false)
    def stream() = new Stager(ev.schema).stage(Stager.idSlices(ev): _*)
      .stream(spark)
    assert(StreamOps.runToParquet(spark, stream()).count() == 9L)
    assert(spark.streams.active.isEmpty)
    assert(StreamOps.runToMemory(stream().groupBy("event_type").count())
      .collect().map(_.getLong(1)).toSeq == Seq(9L))
    assert(spark.streams.active.isEmpty)
    assert(StreamOps.runToState(stream())((b, _) => b).count() == 9L)
    assert(spark.streams.active.isEmpty)
  }

  test("runToParquet reads back with the stream's schema; an empty sink is an empty frame") {
    val ev = planted(epochNanos = false)
    def stream() = new Stager(ev.schema).stage(Stager.idSlices(ev): _*)
      .stream(spark)
    // A file source reads every column as nullable, as inference did.
    def fields(df: DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))
    val want = ev.schema.map(f => (f.name, f.dataType, true))
    val none = StreamOps.runToParquet(spark, stream().filter(lit(false)))
    assert(fields(none) == want)
    assert(none.count() == 0L)
    val all = StreamOps.runToParquet(spark, stream())
    assert(fields(all) == want)
    assert(all.collect().toSet == ev.collect().toSet)
  }

  test("runToState reads its state table back with the fold's schema, inferring nothing") {
    val ev = planted(epochNanos = false)
    def stream() = new Stager(ev.schema).stage(Stager.idSlices(ev): _*)
      .stream(spark)
    val fold = (b: DataFrame, id: Long) => b.withColumn("batch_id", lit(id))
    // Both sources are staged before any count starts. The same run
    // without the read-back spends every job runToState may spend.
    val (bare, src) = (stream(), stream())
    val (_, runJobs) = TestSpark.jobsDuring {
      val dir = ckpt()
      bare.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          fold(b, id).write.mode("append").parquet(s"$dir/state")
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val (state, jobs) = TestSpark.jobsDuring(StreamOps.runToState(src)(fold))
    assert(jobs == runJobs)
    // Every column nullable, as inference read them; batch_id's lit is not.
    assert(state.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      ev.schema.map(f => (f.name, f.dataType, true)) :+ (("batch_id", LongType, true)))
  }

  test("q_stream_resume reads its sink back with the stream's schema, inferring nothing") {
    val dir = "/root/testdata/sf0.001"
    Tables.load(spark, dir, "events") // the table's schema, cached first
    val (out, jobs) = TestSpark.jobsDuring(
      SparkEntry.queries("q_stream_resume")(spark, dir))
    // Three slice files staged, one job each, and one job per sink
    // batch: two in the first run, one in the resumed run.
    assert(jobs == 3 + 2 + 1)
    assert(out.count() > 0)
  }

  test("runToMemory leaves no sink view behind; its frames still collect") {
    val ev = planted(epochNanos = false)
    def counts(by: String) = StreamOps.runToMemory(
      new Stager(ev.schema).stage(Stager.idSlices(ev): _*).stream(spark)
        .groupBy(by).count())
    val byType = counts("event_type")
    val byUser = counts("user_id")
    val sinkViews = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("m_.*graft_scratch.*"))
    assert(sinkViews.isEmpty, sinkViews.map(_.name).mkString(", "))
    assert(byType.collect().map(_.getLong(1)).toSeq == Seq(9L))
    assert(byUser.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 3L, 1L -> 3L, 2L -> 2L, 3L -> 1L))
  }
}
