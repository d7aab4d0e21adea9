package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, timestamp_seconds}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Tables.load]]'s schema cache: a table loaded again in the session
  * infers nothing, and a rewritten file or a flipped inference conf is
  * a new key that infers again (a stale schema would be a wrong read). */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** `df` written as the ONE parquet file `<dir>/events.parquet` (the
    * test data's layout), with its mtime pinned to `mtime` ms. */
  private def writeEvents(dir: Path, df: DataFrame, mtime: Long): Unit = {
    val out = Files.createTempDirectory("graft-tables-w").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    val listing = Files.list(out)
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    finally listing.close()
    val target = dir.resolve("events.parquet")
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, FileTime.fromMillis(mtime))
  }

  private def events(extra: Boolean = false): DataFrame = {
    val df = spark.range(0, 20).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 60L + 1700000000L).as("ts"))
    if (extra) df.withColumn("props", lit("{}")) else df
  }

  private def freshDir(): Path = Files.createTempDirectory("graft-tables")

  test("a second load of an unchanged file starts no job") {
    val dir = freshDir()
    writeEvents(dir, events(), 1000000000000L)
    val (_, first) = TestSpark.jobsDuring(Tables.events(spark, dir.toString))
    assert(first > 0, "the first load infers the schema")
    val (again, second) = TestSpark.jobsDuring(Tables.events(spark, dir.toString))
    assert(second == 0, s"a cached schema must infer nothing, ran $second jobs")
    assert(again.columns.toSeq == Seq("event_id", "ts"))
    assert(again.count() == 20L)
  }

  test("a rewritten file with another schema is inferred again") {
    val dir = freshDir()
    writeEvents(dir, events(), 1000000000000L)
    assert(Tables.events(spark, dir.toString).columns.toSeq == Seq("event_id", "ts"))
    writeEvents(dir, events(extra = true), 1000000002000L)
    val again = Tables.events(spark, dir.toString)
    assert(again.columns.toSeq == Seq("event_id", "ts", "props"))
    assert(again.filter(col("props") === "{}").count() == 20L)
  }

  test("flipping nanosAsLong is a different key") {
    val dir = freshDir()
    writeEvents(dir, events(), 1000000000000L)
    Tables.events(spark, dir.toString)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    try {
      spark.conf.set(key, (!was.toBoolean).toString)
      val (_, flipped) = TestSpark.jobsDuring(Tables.events(spark, dir.toString))
      assert(flipped > 0, "a flipped inference conf must infer again")
    } finally spark.conf.set(key, was)
    val (_, back) = TestSpark.jobsDuring(Tables.events(spark, dir.toString))
    assert(back == 0, s"the original conf's entry must still serve, ran $back jobs")
  }
}
