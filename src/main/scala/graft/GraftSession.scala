package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession so every entry point
  * (Verify, Bench, tests) agrees on the session-level knobs:
  *
  *  - `shuffle.partitions` sized to the local core count (the driver
  *    runs local[32]); on a real cluster this would be AQE-advisory.
  *  - UTC session timezone so timestamp text literals match the DuckDB
  *    oracle.
  *  - `parquet.nanosAsLong`: `events.ts` is parquet TIMESTAMP(NANOS),
  *    which Spark's vectorized reader otherwise rejects
  *    (PARQUET_TYPE_ILLEGAL). Set once here — NOT mutated per-read —
  *    so it can never change planning behavior mid-session.
  *    [[Tables.events]] documents the dependency.
  *  - graft's [[Registry]]: [[GraftExtensions]] gives the session the
  *    native functions and [[install]] adds the optimizer rules. A
  *    session built elsewhere gets the same by setting
  *    `spark.sql.extensions=graft.GraftExtensions` and calling
  *    `GraftSession.install(spark)` once.
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      // Streaming checkpoint file CHECKSUMS off (Spark 4.1 writes a
      // sidecar checksum per checkpoint file when on): every stateful
      // micro-batch commits shuffle.partitions × #state-stores delta
      // files, and the sidecars double that file traffic for a
      // corruption-detection property these SHORT-LIVED replay/bench
      // checkpoints never cash in (scratch dirs, deleted on exit).
      // Measured r15: the four q_stream_attrib* replay rows 53.0 →
      // 35.9 s. A deployment with LONG-LIVED checkpoints on object
      // storage that wants end-to-end corruption detection turns it
      // back on (it is a plain conf override); state-store integrity
      // itself is unaffected — delta files carry their own framing.
      // Env-gated (r16, ADVICE): bench/verify/test checkpoints are
      // scratch, but a deployment reusing this builder for long-lived
      // checkpoints re-enables detection with
      // SPARK_GRAFT_STREAM_CHECKSUM=on — no code change needed.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        if (sys.env.get("SPARK_GRAFT_STREAM_CHECKSUM").contains("on")) "true"
        else "false")
      // The driver IS the executor in local mode, so leaked cached
      // blocks (iterative ops localCheckpoint per round; the RDDs go
      // unreachable when the query's frame is dropped) are only
      // reclaimed when the ContextCleaner sees a GC. The default
      // periodic-GC interval is 30 min — longer than an entire bench
      // or test run — so a long session accumulates every dead round's
      // blocks until the storage pool evicts live ones to disk
      // (measured r16: q_dbscan 75.7 s late in the driver's 404-query
      // bench vs 5.4 s isolated, on an unchanged plan). 2 min bounds
      // the leak window at the cost of a sub-second full GC per
      // interval. Entry points that iterate many queries additionally
      // sweep explicitly via [[releaseCachedBlocks]].
      .config("spark.cleaner.periodicGC.interval", "2min")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Adds graft's optimizer rules ([[Registry.rules]], in table order)
    * to the session's `experimental.extraOptimizations`, skipping any
    * already there. [[build]] calls it; a session that gets its
    * functions from `spark.sql.extensions=graft.GraftExtensions` calls
    * it once before its first query. Rules added lazily inside a query
    * builder instead would make plans, and bench timings, depend on
    * which query ran first.
    *
    * Spark runs `extraOptimizations` as the "User Provided Optimizers"
    * batch, after operator optimization and holding only these rules.
    * The other seam, `SparkSessionExtensions.injectOptimizerRule`, puts
    * them in the "Operator Optimization" fixed-point batches beside
    * ColumnPruning and CollapseProject. Those reshape a rewrite's output
    * on every iteration, the rewrites' fired-guards stop recognizing
    * their own output, and the plan grows until the batch hits its
    * iteration cap: optimizing IntervalRuleSpec's 3x3 NaN/Inf interval
    * join there takes far longer than the 5 s ExtensionsSpec allows,
    * against under a second here. The rewrites prune the columns they
    * orphan themselves (see OverlapJoinBlocking). ExtensionsSpec pins
    * the placement.
    */
  def install(spark: SparkSession): Unit = {
    val present = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      present ++ Registry.rules.filterNot(present.contains)
  }

  /** Drop every cached/localCheckpointed RDD's blocks (r16).
    *
    * Iterative operators localCheckpoint each round's frame; once a
    * query's action completes those RDDs are dead weight, but their
    * blocks stay in the block manager until a GC lets the
    * ContextCleaner find them. An entry point that runs MANY queries
    * in one session (Bench, Verify) calls this between queries —
    * outside any timed region — so query N+1 never pays query N's
    * storage (eviction churn, spilled-to-disk reads; measured r16:
    * q_dbscan 75.7 s late in the driver's 404-query bench vs 5.4 s
    * isolated). Safe between queries by construction: every registry
    * query builds its frames from the parquet inputs, so nothing
    * reachable spans query boundaries. Non-blocking — removal
    * proceeds in the background while the next query plans.
    */
  def releaseCachedBlocks(spark: SparkSession): Unit = {
    // Blocks whose RDD is STILL reachable (the just-finished query's
    // frames) can be dropped directly.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // Blocks whose RDD is already unreachable (per-round frames the
    // loops dropped) are invisible to getPersistentRDDs (weak values)
    // and only die when a GC surfaces their weak refs to the
    // ContextCleaner — which also reaps accumulated broadcasts and
    // shuffle statuses. Tiny data never triggers a GC on an 8 GiB
    // heap, so force one when leaked storage is actually sizable;
    // cheap (sub-second) and OUTSIDE every timed region.
    if (spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum > (256L << 20))
      System.gc()
  }
}
