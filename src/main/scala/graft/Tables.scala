package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed access to the driver testdata tables (TESTDATA.md / FIXTURES.md).
  *
  * All readers are plain `spark.read.parquet` (with the file's cached
  * schema, [[schemaOf]]) so Catalyst's vectorized parquet source,
  * predicate pushdown and column pruning apply untouched.
  * At 100 TB these would be partitioned/bucketed tables behind a catalog;
  * the per-query code below never assumes a row count, never collects
  * unbounded data to the driver, and keys every shuffle explicitly.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")

  /** `events.ts` has shipped in two physical generations of the
    * testdata: parquet `TIMESTAMP(NANOS)` — which Spark's reader
    * rejects outright (`PARQUET_TYPE_ILLEGAL`) unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * [[GraftSession]]) surfaces it as INT64 epoch-nanos — and plain
    * `TIMESTAMP(MICROS)` with `isAdjustedToUTC=false`, which Spark
    * reads as `TIMESTAMP_NTZ`. [[normalizeTs]] folds both into the
    * session-zoned `TIMESTAMP` (µs) every downstream operator,
    * window, and `java.sql.Timestamp` encoder expects, so a testdata
    * regeneration can't silently change query semantics. DuckDB-side
    * oracles compare on `CAST(ts AS TIMESTAMP)`, identical under both
    * generations (ns truncates to µs; µs is a no-op). The session
    * timezone is pinned to UTC, so the NTZ→TIMESTAMP cast is a
    * reinterpretation, not a wall-clock shift. Timestamps stay
    * codegen'd columns; no UDF, and no per-read session mutation.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(load(s, dir, "events"))

  /** Normalize a `ts` column to session-zoned µs `TIMESTAMP` from
    * either physical generation: INT64 epoch-nanos (`div 1000`, not
    * `/` — double division loses precision above 2^53 and epoch-nanos
    * is ~2^60) or a timestamp type (cast; no-op for `TIMESTAMP`,
    * UTC-reinterpretation for `TIMESTAMP_NTZ`). */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** `<dir>/<name>.parquet`, read with the schema parquet inference
    * gave it, inferred once per file version ([[schemaOf]]): a table
    * loaded again runs no inference job (one footer-merge job per
    * read). The cache key is the file's qualified path, its length and
    * its mtime, plus the session's [[InferenceConfs]] values. A stale
    * schema is a wrong read, so a rewritten file (new length or mtime)
    * or a flipped conf misses and infers again. */
  def load(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    s.read.schema(schemaOf(s, path)).parquet(path)
  }

  /** The session confs that change what parquet inference returns for
    * the same file. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Inferred schemas by file version; see [[schemaOf]]. Clearing past
    * 64 entries bounds it; losing an entry only re-runs one inference. */
  private val schemas =
    new ConcurrentHashMap[(String, Long, Long, Seq[Option[String]]), StructType]()

  /** The schema parquet inference gives `path`, from the cache keyed
    * as [[load]] says. A directory is not cached (its own length and
    * mtime do not change when a file inside is rewritten in place); it
    * is inferred on every call. */
  private[graft] def schemaOf(s: SparkSession, path: String): StructType = {
    def infer(): StructType = s.read.parquet(path).schema
    val p = new Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    if (!st.isFile) infer()
    else {
      val key = (st.getPath.toString, st.getLen, st.getModificationTime,
        InferenceConfs.map(s.conf.getOption))
      val hit = schemas.get(key)
      if (hit != null) hit
      else {
        val schema = infer()
        if (schemas.size() > 64) schemas.clear()
        schemas.put(key, schema)
        schema
      }
    }
  }
}
