package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark client for graft: one thread, one query at a time.
  *
  * The `--orders` file lists one pass per line: the query names, comma
  * separated, in that pass's order. Set-up is JVM start →
  * `GraftSession.build` → the first `WarmupPasses` passes, untimed. Then
  * it runs the following passes on the `--sf-dir` tables until `--seconds`
  * have passed. Every execution goes through graft's public entry
  * points and runs to the full result:
  *
  *   Q.run (operators) → optimizedPlan → executedPlan (plans)
  *   → toRdd, every row digested (exec) → releaseCachedBlocks (session)
  *
  * With `--trace 1` every pass is traced: it records a span around each
  * of those calls, plus the jobs, stages,
  * tasks and micro-batches Spark's public listeners report, attributed
  * to the span they started under. Spans stay in memory and are written
  * to `--spans` at the end. Timings, digests and set-up times go to
  * `--out` as JSON, warm-up executions included; the caller checks every
  * digest and computes the metrics.
  * With `--dump DIR`, the first order's results are also written to DIR
  * for the DuckDB oracle compare that expected digests are recorded from.
  */
object Harness {
  final case class Span(id: Int, parent: Int, query: String, name: String,
      start: Long, var end: Long = 0L,
      counts: mutable.Map[String, Double] = mutable.Map.empty)

  final case class Exec(name: String, sec: Double, ok: Boolean,
      digest: String, rows: Long, error: String)

  private val SpanKey = "graftbench.span"

  private def json(execs: Seq[Exec]): String = execs.map { e =>
    s"""{"name":"${e.name}","sec":${e.sec},"ok":${e.ok},"digest":"${e.digest}","rows":${e.rows},"error":${Json.str(e.error)}}"""
  }.mkString("[", ",", "]")
  // Measured: after one warm-up pass the first timed pass still ran 20–50%
  // slower than the later ones (JIT); a second warm-up pass absorbs most
  // of that.
  private val WarmupPasses = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cpus = args.getOrElse("cpus", "4")
    val sfDir = args("sf-dir")
    // One line per pass: the query names in that pass's order.
    val orders = Files.readAllLines(Paths.get(args("orders"))).toArray
      .map(_.toString.trim).filter(_.nonEmpty).toSeq
      .map(_.split(",").toSeq)
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val failing = args.get("fail").toSet
    val queries = SparkEntry.queries
    val unknown = orders.flatten.distinct.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // The benchmark's own failure injection: a named query throws.
    def lookup(name: String): (SparkSession, String) => DataFrame =
      if (failing(name)) (_, _) => throw new RuntimeException(s"forced: $name")
      else queries(name)

    val spans = mutable.ArrayBuffer.empty[Span]
    val clock0 = System.nanoTime()
    def nowUs: Long = (System.nanoTime() - clock0) / 1000
    // Listener event times are epoch ms; map them onto the span clock.
    val epoch0Ms = System.currentTimeMillis()
    def epochToUs(ms: Long): Long = (ms - epoch0Ms) * 1000

    var spark: SparkSession = null
    var traced = false
    def span[T](parent: Int, query: String, name: String)(f: Span => T): T =
      if (!traced) f(null)
      else {
        val s = spans.synchronized {
          val s = Span(spans.size, parent, query, name, nowUs)
          spans += s
          s
        }
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty(SpanKey)
        sc.setLocalProperty(SpanKey, s.id.toString)
        try f(s)
        finally {
          s.end = nowUs
          sc.setLocalProperty(SpanKey, prev)
        }
      }

    /** One execution of one query to its full result, digested. */
    def runQuery(name: String, dir: String, parent: Int): Exec = {
      val t0 = System.nanoTime()
      try {
        span(parent, name, "query") { q =>
          val qid = if (q == null) -1 else q.id
          val df = span(qid, name, "operators")(_ => lookup(name)(spark, dir))
          val qe = df.queryExecution
          span(qid, name, "plans.optimize")(_ => qe.optimizedPlan)
          span(qid, name, "plans.physical")(_ => qe.executedPlan)
          val schema = qe.analyzed.schema
          val (rows, digest) = span(qid, name, "exec")(_ => Digest.of(qe.toRdd, schema))
          Exec(name, (System.nanoTime() - t0) / 1e9, ok = true,
            digest, rows, "")
        }
      } catch {
        case e: Throwable =>
          val msg = String.valueOf(e.getMessage).linesIterator.take(1).mkString
          Exec(name, (System.nanoTime() - t0) / 1e9, ok = false, "", -1L,
            s"${e.getClass.getSimpleName}: $msg")
      }
    }

    def release(name: String, parent: Int): Unit =
      span(parent, name, "GraftSession.release") { s =>
        if (s != null) {
          val info = spark.sparkContext.getRDDStorageInfo
          s.counts("cached_mb") =
            info.map(i => i.memSize + i.diskSize).sum / 1048576.0
        }
        GraftSession.releaseCachedBlocks(spark)
      }

    // ---- set-up: session build + untimed warm-up passes ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val b0 = System.nanoTime()
    spark = GraftSession.build(cpus)
    val buildS = (System.nanoTime() - b0) / 1e9
    val w0 = System.nanoTime()
    val warm = orders.take(WarmupPasses).flatten.map { n =>
      val e = runQuery(n, sfDir, -1); release(n, -1); e
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setup = s"""{"setup_s":$setupS,"build_s":$buildS,"warmup_s":$warmS}"""

    // ---- listeners (attached only in a traced run) ----
    val sc = spark.sparkContext
    val stageSpan = mutable.Map.empty[Int, Span]
    def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).filter(_ >= 0).map(i => spans.synchronized(spans(i)))
    val jobSpans = mutable.LinkedHashMap.empty[Int, Span]
    def add(s: Span, k: String, v: Double): Unit =
      s.counts(k) = s.counts.getOrElse(k, 0.0) + v
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        spanOf(e.properties).foreach { s =>
          val js = Span(-1, s.id, s.query, "job", epochToUs(e.time))
          jobSpans(e.jobId) = js
          e.stageIds.foreach(stageSpan(_) = s)
          add(s, "jobs", 1)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobSpans.get(e.jobId).foreach(_.end = epochToUs(e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageSpan.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageSpan.get(e.stageId).foreach { s =>
          add(s, "tasks", 1)
          if (!e.taskInfo.successful) add(s, "task_failures", 1)
          Option(e.taskMetrics).foreach { m =>
            add(s, "task_busy_s", m.executorRunTime / 1e3)
            add(s, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
            add(s, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
            add(s, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
          }
        }
    }
    // Streaming progress arrives while the query runs, before its span is
    // known here; it collects in `streamCounts` and moves onto the query
    // span once the bus is drained after the query.
    val streamCounts = mutable.Map.empty[String, Double]
    def addStream(k: String, v: Double): Unit = streamCounts.synchronized {
      streamCounts(k) = streamCounts.getOrElse(k, 0.0) + v
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def sec(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        addStream("batches", 1)
        addStream("trigger_s", sec("triggerExecution"))
        addStream("add_batch_s", sec("addBatch"))
        addStream("query_planning_s", sec("queryPlanning"))
        addStream("wal_commit_s", sec("walCommit"))
        addStream("commit_offsets_s", sec("commitOffsets"))
        p.stateOperators.foreach { op =>
          addStream("state_rows", op.numRowsTotal.toDouble)
          addStream("state_commit_s", op.commitTimeMs / 1e3)
        }
      }
    }

    // ---- timed passes ----
    val passes = mutable.ArrayBuffer.empty[String]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    traced = trace
    if (traced) {
      sc.addSparkListener(listener)
      spark.streams.addListener(streamListener)
    }
    var p = WarmupPasses
    while (p < orders.size && (p == WarmupPasses || elapsed < seconds)) {
      val passSpan = span(-1, s"pass$p", "pass")(s => s)
      val parent = if (passSpan == null) -1 else passSpan.id
      val t0 = System.nanoTime()
      val execs = orders(p).map { n =>
        val e = if (!traced) runQuery(n, sfDir, parent) else {
          val q0 = spans.size
          val e = runQuery(n, sfDir, parent)
          span(parent, n, "trace.drain")(_ => BenchBus.drain(sc))
          streamCounts.synchronized {
            streamCounts.foreach { case (k, v) => add(spans(q0), k, v) }
            streamCounts.clear()
          }
          e
        }
        release(n, parent)
        e
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (passSpan != null) passSpan.end = nowUs
      passes += s"""{"wall_s":$wall,"queries":${json(execs)}}"""
      p += 1
    }
    if (traced) {
      sc.removeSparkListener(listener)
      spark.streams.removeListener(streamListener)
      traced = false
    }
    // Recording aid: write each query's full result and its oracle SQL in
    // the layout the repo's DuckDB compare reads (tools/compare.py).
    args.get("dump").foreach { dir =>
      val oracle = SparkEntry.oracleSql
      orders.head.foreach { n =>
        queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/$n")
        GraftSession.releaseCachedBlocks(spark)
      }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), orders.head
        .flatMap(n => oracle.get(n).map(q => s"${Json.str(n)}:${Json.str(q)}"))
        .mkString("{", ",", "}"))
    }
    val out = s"""{"cpus":$cpus,"setup":$setup,"warmup":${json(warm)},""" +
      s""""passes":${passes.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(args("out")), out)
    args.get("spans").foreach { path =>
      val all = spans ++ jobSpans.values.zipWithIndex.map { case (j, i) =>
        j.copy(id = spans.size + i) }
      Files.writeString(Paths.get(path), all.map { s =>
        val c = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        s"""{"id":${s.id},"parent":${s.parent},"query":${Json.str(s.query)},"name":"${s.name}","start_us":${s.start},"end_us":${s.end},"counts":$c}"""
      }.mkString("[\n", ",\n", "\n]"))
    }
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Order-insensitive digest of a full result, normalized as the repo's
  * DuckDB compare normalizes: columns in name order, NULL and NaN as "",
  * integral doubles as integers, other doubles to 6 places. Each row
  * hashes to 64 bits; the digest is the row count and the wrapping sum of
  * row hashes, so row order and partitioning do not matter. */
object Digest {
  def of(rdd: org.apache.spark.rdd.RDD[InternalRow], schema: StructType): (Long, String) = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name).map {
      case (f, i) => (i, f.dataType) }
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      val sb = new java.lang.StringBuilder
      it.foreach { row =>
        sb.setLength(0)
        cols.foreach { case (i, dt) =>
          if (!row.isNullAt(i)) render(sb, row.get(i, dt), dt)
          sb.append('\u0001')
        }
        val s = sb.toString
        sum += (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
          (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
        n += 1
      }
      Iterator((n, sum))
    }.collect()
    val n = parts.map(_._1).sum
    (n, f"$n%d:${parts.map(_._2).sum}%016x")
  }

  private def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) ()
    else if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) sb.append(d.toLong)
    else sb.append(String.format(java.util.Locale.ROOT, "%.6f", Double.box(d)))

  private def render(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit = dt match {
    case DoubleType => num(sb, v.asInstanceOf[Double])
    case FloatType => num(sb, v.asInstanceOf[Float].toDouble)
    case d: DecimalType =>
      num(sb, v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case BinaryType =>
      sb.append(java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      sb.append('[')
      for (i <- 0 until a.numElements()) {
        if (!a.isNullAt(i)) render(sb, a.get(i, et), et)
        sb.append(',')
      }
      sb.append(']')
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      sb.append('{')
      for (i <- st.fields.indices) {
        if (!r.isNullAt(i)) render(sb, r.get(i, st(i).dataType), st(i).dataType)
        sb.append(',')
      }
      sb.append('}')
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val entries = (0 until m.numElements()).map { i =>
        val e = new java.lang.StringBuilder
        render(e, m.keyArray().get(i, kt), kt)
        e.append('=')
        if (!m.valueArray().isNullAt(i)) render(e, m.valueArray().get(i, vt), vt)
        e.toString
      }.sorted
      sb.append(entries.mkString("<", ",", ">"))
    case _ => sb.append(v.toString)
  }
}
