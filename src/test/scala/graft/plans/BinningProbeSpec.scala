package graft.plans

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Pins the hidden-work seams of the [[Binning]] plan-time stats
  * probe (the one place this engine runs work during optimization):
  *
  *  1. A STREAMING interval side must degrade to the conservative
  *     answer (no width, residual ON) WITHOUT starting any Spark job —
  *     the probe would otherwise try to run an aggregate over an
  *     unbounded source inside the optimizer fixpoint.
  *  2. The stats cache must not serve a stale residual decision after
  *     the underlying FILES change: `unsafePossible` staleness is
  *     correctness-bearing (a cached nonFiniteOrUnknown = 0 over data
  *     that has since gained a NaN/Inf bound would omit the residual
  *     branch and mis-bin those rows), so the cache key carries a
  *     data-version fingerprint and an overwritten side re-derives.
  *  3. A checkpointed side is versioned by its RDD id, and lo/hi are
  *     keyed by their place in the side's output: the two sides of a
  *     self-join over one checkpoint share one probe, and a fresh
  *     checkpoint of the same rows probes again.
  */
class BinningProbeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("streaming side degrades conservatively without a probe job") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Double, Double)]
    val df = src.toDF().toDF("lo", "hi")
    val plan = df.queryExecution.analyzed
    assert(plan.isStreaming)
    val lo = plan.output.find(_.name == "lo").get
    val hi = plan.output.find(_.name == "hi").get
    val (st, jobs) = TestSpark.jobsDuring(Binning.sideStats(plan, lo, hi))
    // Conservative degradation: no data-derived width, residual ON.
    assert(st.median.isEmpty)
    assert(st.mean.isEmpty)
    assert(st.nonFiniteOrUnknown > 0)
    assert(Binning.widthOf(st.median, fallback = 64.0) == 64.0)
    assert(Binning.unsafePossible(st, 64.0))
    assert(jobs == 0, s"streaming side must not run a probe job, saw $jobs")
  }

  test("file overwrite invalidates the cached residual decision") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-binning").toString
    val path = s"$dir/side.parquet"
    Seq((1.0, 3.0), (2.0, 6.0), (10.0, 18.0)).toDF("lo", "hi")
      .write.mode("overwrite").parquet(path)
    def statsOf(): Binning.SideStats = {
      val plan = spark.read.parquet(path).queryExecution.analyzed
      Binning.sideStats(plan,
        plan.output.find(_.name == "lo").get,
        plan.output.find(_.name == "hi").get)
    }
    val clean = statsOf()
    assert(clean.nonFiniteOrUnknown == 0L,
      s"clean file must prove no unsafe rows, got $clean")
    assert(clean.median.contains(4.0))
    // Same path, same schema, canonically-equal read plan — but the
    // data now holds an infinite bound. A (plan, lo, hi)-only cache
    // would serve the stale "no residual needed" here.
    Seq((1.0, 3.0), (2.0, Double.PositiveInfinity)).toDF("lo", "hi")
      .write.mode("overwrite").parquet(path)
    val dirty = statsOf()
    assert(dirty.nonFiniteOrUnknown > 0L,
      s"overwritten file must re-derive the residual decision, got $dirty")
  }

  test("fingerprint survives a same-size/count/mtime overwrite collision") {
    // The adversarial overwrite: identical rows re-written produce
    // byte-identical parquet (same total size, same file count), and
    // a coarse-mtime filesystem is simulated by pinning every data
    // file's mtime to one fixed instant. A count+size+max-mtime
    // fingerprint collides here; the per-file (name, length, mtime)
    // digest must not, because part-file names are freshly randomized
    // per write — which is exactly what makes it safe on object
    // stores with second-granularity timestamps.
    import spark.implicits._
    import java.nio.file.attribute.FileTime
    val dir = java.nio.file.Files.createTempDirectory("graft-binfp").toString
    val path = s"$dir/fp.parquet"
    def writeAndPin(): Unit = {
      Seq((1.0, 3.0), (2.0, 6.0)).toDF("lo", "hi")
        .repartition(1).write.mode("overwrite").parquet(path)
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try listing.forEach(f => java.nio.file.Files.setLastModifiedTime(
        f, FileTime.fromMillis(1000000000000L)))
      finally listing.close()
    }
    def fpOf(): Option[String] =
      Binning.dataFingerprint(spark.read.parquet(path).queryExecution.analyzed)
    writeAndPin()
    val f1 = fpOf()
    writeAndPin()
    val f2 = fpOf()
    assert(f1.isDefined && f2.isDefined, s"file source must fingerprint: $f1")
    assert(f1 != f2,
      s"same-size/count/mtime overwrite must change the fingerprint: $f1")
  }

  test("a self-join over one checkpointed side probes once; a fresh checkpoint misses") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    def side() = spark.range(0, 200)
      .selectExpr("id AS k", "id * 10.0 AS lo", "id * 10.0 + 5.0 AS hi")
      .localCheckpoint()
    def probe(plan: LogicalPlan, lo: String, hi: String): Binning.SideStats =
      Binning.sideStats(plan, plan.output.find(_.name == lo).get,
        plan.output.find(_.name == hi).get)
    val sess = side()
    val a = sess.select(col("k").as("ka"), col("lo").as("lo1"), col("hi").as("hi1"))
    val b = sess.select(col("k").as("kb"), col("lo").as("lo2"), col("hi").as("hi2"))
    val Join(left, right, _, _, _) =
      a.join(b, col("lo1") <= col("hi2") && col("lo2") <= col("hi1"))
        .queryExecution.analyzed: @unchecked
    assert(Binning.dataFingerprint(left).isDefined,
      "a checkpointed side must have a data version")
    val (stL, first) = TestSpark.jobsDuring(probe(left, "lo1", "hi1"))
    val (stR, second) = TestSpark.jobsDuring(probe(right, "lo2", "hi2"))
    assert(first > 0, "the first side must run the probe")
    assert(second == 0, s"the second side must reuse the first's probe, ran $second jobs")
    assert(stL == stR && stL.mean.contains(5.0), s"$stL vs $stR")
    val fresh = side().queryExecution.analyzed
    assert(TestSpark.jobsDuring(probe(fresh, "lo", "hi"))._2 > 0,
      "a fresh checkpoint is a new data version and must probe again")
  }
}
