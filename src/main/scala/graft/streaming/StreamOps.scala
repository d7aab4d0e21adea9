package graft.streaming

import graft.{Q, Tables}
import graft.operators.{AnnOps, Arms, DedupOps, Ivf, Scratch}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

/** Driver-visible streaming queries — the streaming pillar's first
  * CORRECTNESS rows (until round 5 it was sbt-only: MemoryStream
  * suites with no DuckDB oracle).
  *
  * The trick that makes a stream oracle-checkable: run the REAL
  * Structured Streaming pipeline (file source → stateful dedup →
  * parquet sink, `Trigger.AvailableNow`) over the same parquet the
  * batch tables read, and emit only columns that are pure functions of
  * the surviving row's text — then "which duplicate arrived first" (a
  * race in any streaming dedup) cannot affect a single output byte,
  * and the oracle is the batch twin's SQL.
  */
object StreamOps {

  /** The staged events source: a byte copy of the events file as slot
    * 0 and the far-future SENTINEL as slot 1 of one [[Stager]], `ts`
    * normalized ns→µs exactly like [[graft.Tables.events]]. The real
    * events file MUST batch first: only then does the sentinel's
    * arrival drive the watermark past every real window/session so
    * append mode flushes them all — if the sentinel batched first, the
    * 2h watermark would already sit at 2100 and every real event would
    * be dropped as late data. The sentinel row belongs to no finalized
    * window by construction.
    *
    * The staged DIRECTORY is built once per (JVM, input dir) and
    * shared by every replay row that reads the unmodified staged
    * source (rows that stage custom slices keep their own
    * directories). The directory is immutable after creation and
    * each query still gets its own source instance, sink and
    * checkpoint, so sharing the input bytes changes nothing about
    * per-query semantics or batch boundaries — it only stops paying
    * one corpus copy plus one sentinel write job per row (8 replay
    * rows ride this source).
    */
  private val stagedSrcCache =
    new java.util.concurrent.ConcurrentHashMap[String, Stager]()

  private def stagedEventsSource(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(stagedSrcCache.computeIfAbsent(dir, d =>
      new Stager(Tables.load(s, d, "events").schema)
        .copy(s"$d/events.parquet").sentinel(s)).stream(s))

  /** Writes `df` as ONE parquet file at `dst`, through the scratch
    * dir `tmp` — the staging primitive behind every multi-file
    * streaming replay here. The single part file is found and moved
    * with the directory stream closed (Files.list leaks a descriptor
    * otherwise). */
  private def stageSlice(df: DataFrame, tmp: Path, dst: Path): Unit = {
    df.coalesce(1).write.parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, dst)
  }

  /** One replay source: frames staged in order into ONE scratch dir,
    * one parquet file per slot, opened as a maxFilesPerTrigger=1
    * stream so each slot is one micro-batch. FileStreamSource takes
    * new files oldest-mtime-first (latestFirst=false), so slot order
    * is a property set here — slot i's mtime is pinned to 1e12 ms + i
    * minutes — not one inherited from write timing. A slot staged
    * after a run still sorts after every earlier one (q_stream_resume
    * stages its third slice that way). Every staged frame carries
    * `schema`, the stream's schema. */
  private[graft] final class Stager(schema: StructType) {
    private val scratch = Scratch.dir()
    val dir: Path = Files.createDirectories(Paths.get(scratch, "src"))
    private var slots = 0

    /** Writes the next slot's file with `write` and pins its mtime. */
    private def slot(write: Path => Unit): this.type = {
      val dst = dir.resolve(f"part$slots%02d.parquet")
      write(dst)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1000000000000L + slots * 60000L))
      slots += 1
      this
    }

    /** Stages each frame, in order, as one slot. */
    def stage(frames: DataFrame*): this.type = {
      frames.foreach(df =>
        slot(stageSlice(df, Paths.get(scratch, s"stage-$slots"), _)))
      this
    }

    /** Stages a byte copy of the parquet file `file` as one slot: no
      * Spark job, no rewrite of the corpus. */
    def copy(file: String): this.type =
      slot { dst => Files.copy(Paths.get(file), dst); () }

    /** Stages the far-future sentinel row as one slot. Its arrival
      * drives the watermark past every real event, so the trailing
      * no-data batch finalizes every watermark-pending row. */
    def sentinel(s: SparkSession): this.type =
      stage(Stager.sentinelRow(s, schema))

    /** The staged dir as a stream, one slot per micro-batch. */
    def stream(s: SparkSession): DataFrame =
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir.toString)
  }

  private[graft] object Stager {

    /** The event-id hash slice rule: event_id mod 3 = 0, 1, 2. Every
      * user's timeline interleaves across the three slices, so per-user
      * arrival order is scrambled and every type lands in every
      * batch. */
    def idSlices(df: DataFrame): Seq[DataFrame] =
      (0 until 3).map(i => df.filter(pmod(col("event_id"), lit(3)) === i))

    /** The one-row sentinel over `schema`: event_id = user_id = -1,
      * event_type 'sentinel', value 0.0, props '{}' and ts 2100-01-01
      * in the SAME physical type as the staged files (INT64
      * epoch-nanos or a timestamp type — Tables.normalizeTs handles
      * both generations), else the mixed-file stream read corrupts. */
    def sentinelRow(s: SparkSession, schema: StructType): DataFrame = {
      val ns = 4102444800L * 1000000000L // 2100-01-01, epoch-nanos
      s.range(1).select(schema.fields.toIndexedSeq.map { f =>
        (f.name match {
          case "ts" if f.dataType == LongType => lit(ns)
          case "ts" => expr(s"timestamp_micros(${ns / 1000L}L)")
          case "event_id" | "user_id" => lit(-1L)
          case "event_type" => lit("sentinel")
          case "value" => lit(0.0)
          case "props" => lit("{}")
        }).cast(f.dataType).as(f.name)
      }: _*)
    }
  }

  /** The Markov rollup shared by q_stream_transitions and
    * q_stream_transitions_exact: (prev_type, event_type) counts and
    * conditional probabilities over the sink's pair stream. */
  private def transitionRollup(pairs: DataFrame)
      : DataFrame = {
    val pw = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
    pairs.groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double")
        / sum("n").over(pw), 6))
      .orderBy("prev_type", "event_type")
  }

  /** The batch lag() oracle both transition rows share verbatim —
    * stream state ≡ the batch rollup whenever pairing is exact. */
  private val transitionsMarkovSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |  FROM events
      |), pairs AS (
      |  SELECT prev_type, event_type, count(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, event_type
      |)
      |SELECT prev_type, event_type, n,
      |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
      |FROM pairs ORDER BY prev_type, event_type""".stripMargin

  /** Runs a streaming frame to a parquet sink under AvailableNow and
    * reads the sink back as a batch frame, with the stream's own schema:
    * the read-back infers nothing (no footer-merge job), and a stream
    * that emitted no rows gives an empty frame. */
  private[graft] def runToParquet(s: SparkSession, out: DataFrame): DataFrame = {
    // Every sentinel-driven replay here relies on the trailing
    // NO-DATA micro-batch: the sentinel batch advances the watermark,
    // but watermark-gated emission (outer-join nulls, window/session
    // finalization, event-time timeouts draining buffered state —
    // q_stream_transitions_exact in particular) fires on the batch
    // AFTER the advance. With noDataMicroBatches disabled session-wide
    // there is no such batch under Trigger.AvailableNow and every
    // watermark-pending row would be silently dropped, diverging from
    // the batch oracle with no error — so pin the flag here rather
    // than inherit it.
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val scratch = Scratch.dir()
    val q = out.writeStream
      .format("parquet")
      .option("path", s"$scratch/out")
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.schema(out.schema).parquet(s"$scratch/out")
  }

  /** Runs `src` under AvailableNow through an append-only foreachBatch
    * STATE TABLE — each micro-batch's `fold(batch, batchId)` rows are
    * appended to one parquet dir, never rewritten — and reads the
    * table back as a batch frame: the state a live pipeline persists,
    * where each trigger scans only the new batch. */
  private[graft] def runToState(src: DataFrame)(
      fold: (DataFrame, Long) => DataFrame): DataFrame = {
    val scratch = Scratch.dir()
    src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch, batchId).write.mode("append").parquet(s"$scratch/state")
        ()
      }
      .option("checkpointLocation", s"$scratch/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    src.sparkSession.read.parquet(s"$scratch/state")
  }

  /** A testdata table as a streaming file source. The table is a
    * single parquet file, not a directory: the file source forces
    * basePath = path unless the path is a glob
    * (FileStreamSource.optionsWithPartitionBasePath), and a file
    * basePath is rejected — so glob the one file and pin basePath to
    * the table root explicitly. */
  private[graft] def tableStream(s: SparkSession, dir: String, table: String)
      : DataFrame =
    s.readStream.schema(Tables.load(s, dir, table).schema)
      .option("basePath", dir)
      .parquet(s"$dir/$table.parquet*")

  /** The events table as a streaming file source, `ts` normalized
    * exactly like [[graft.Tables.events]]. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(tableStream(s, dir, "events"))

  /** The pinned arrival `ts` of the documents and embeddings streams,
    * whose tables carry no event time: one literal keeps every row
    * inside one watermark window, which is exactly the "bounded replay
    * of a batch table" contract AvailableNow models. A live deployment
    * reads real arrival timestamps here. */
  private val arrivalTs = lit("2026-01-01 00:00:00").cast("timestamp")

  /** Runs a streaming aggregate to a COMPLETE-mode memory sink under
    * AvailableNow and returns the sink table: the final state, which
    * the live-monitoring rows finish batch-side. Complete mode
    * re-emits every state row per trigger, so it suits only state
    * bounded by a catalog or value domain, never by stream volume.
    * The sink registers its table as a session temp view; the returned
    * frame is resolved against it and the view dropped, so the sink's
    * rows live only as long as that frame. */
  private[graft] def runToMemory(agg: DataFrame): DataFrame = {
    val name = ("m" + Scratch.dir()).replaceAll("[^A-Za-z0-9]", "_")
    agg.writeStream
      .format("memory").queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val out = agg.sparkSession.table(name)
    agg.sparkSession.catalog.dropTempView(name)
    out
  }

  val all: Seq[Q] = Seq(
    Q(
      "q_stream_ingest",
      "streaming corpus ingestion run END-TO-END as a real Structured " +
        "Streaming job (file source → DocStream.ingest quality filter " +
        "+ watermarked exact dedup + SimHash banding → parquet sink, " +
        "AvailableNow): the driver row proves stream output ≡ batch " +
        "semantics, not just that a stream runs. Output columns are " +
        "all functions of the surviving text (content hash, 60-bit " +
        "SimHash, 4 LSH bands), so dedup arrival order can't leak in. " +
        "Scale: per-row expression work on the stream; dedup state is " +
        "one hash per doc inside the 2h watermark, freed by watermark " +
        "GC; the file source at 100 TB is the same code over a bucket " +
        "listing, micro-batch size capped by maxFilesPerTrigger",
      Some(
        s"""WITH kept AS (
           |  SELECT DISTINCT text FROM documents
           |  WHERE length(text) >= 50
           |    AND len(string_split(lower(text), ' ')) >= 5
           |), tok AS (
           |  SELECT text, unnest(string_split(lower(text), ' ')) AS w FROM kept
           |), h AS (
           |  SELECT text, CAST('0x'||substr(md5(w),1,15) AS BIGINT) AS h FROM tok
           |), bits AS (
           |  SELECT text, ${DedupOps.simhashSqlBits} FROM h GROUP BY text
           |), sim AS (
           |  SELECT sha256(text) AS content_hash,
           |    ${DedupOps.simhashSqlAssemble} AS sig FROM bits
           |)
           |SELECT content_hash, sig,
           |  (sig >> 0) & 32767 AS band0,
           |  (sig >> 15) & 32767 AS band1,
           |  (sig >> 30) & 32767 AS band2,
           |  (sig >> 45) & 32767 AS band3
           |FROM sim ORDER BY content_hash""".stripMargin),
    ) { (s, dir) =>
      val src = tableStream(s, dir, "documents").withColumn("ts", arrivalTs)
      val out = DocStream.ingest(src)
        .select("content_hash", "sig", "band0", "band1", "band2", "band3")
      runToParquet(s, out).orderBy("content_hash")
    },

    Q(
      "q_stream_hourly",
      "watermarked tumbling-window aggregation run END-TO-END as a " +
        "real streaming job (file source → EventStream.hourly → " +
        "parquet sink, AvailableNow) — the stateful-aggregation " +
        "streaming path, where append mode only emits a window once " +
        "the watermark passes it. The staged source holds the events " +
        "file plus a far-future SENTINEL file; maxFilesPerTrigger=1 " +
        "splits them into separate micro-batches and pinned mtimes " +
        "make the events file batch FIRST, so the sentinel's arrival " +
        "then drives the watermark past every real window and ALL of " +
        "them flush to the sink (the " +
        "sentinel's own window never finalizes and stays in state — " +
        "by construction it cannot reach the output). The fixed-point " +
        "value sum makes the result identical at any micro-batch " +
        "split, so the oracle IS the batch twin's SQL. At 100 TB " +
        "this is the production shape: bucket listing as the file " +
        "source, watermark GC bounding state by hours×types",
      Some(
        s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
           |  event_type, count(*) AS n,
           |  ${graft.functions.Portable.exactSumSql("value")} AS sum_value
           |FROM events
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ) { (s, dir) =>
      runToParquet(s, EventStream.hourly(stagedEventsSource(s, dir)))
        .filter(col("event_type") =!= "sentinel")
        .orderBy("hour", "event_type")
    },

    Q(
      "q_stream_sessions",
      "session_window sessionization run END-TO-END as a real " +
        "streaming job over the staged events source (sentinel + " +
        "maxFilesPerTrigger=1 flushes every real session past the " +
        "watermark, exactly like q_stream_hourly). The batch twin's " +
        "gap rule is deliberately >= 30min — session_window's exact " +
        "boundary semantics — so stream sessions and batch sessions " +
        "are the same partition of each user's timeline and the " +
        "oracle IS q_events_sessions' SQL; the per-user session " +
        "ordinal is a batch window over the (bounded) sink result. " +
        "At 100 TB session state is watermark-GC'd per user and the " +
        "sink receives each closed session exactly once",
      Some(
        """WITH ev AS (
          |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          |), flagged AS (
          |  SELECT user_id, event_id, ts,
          |    CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
          |           OR lag(ts) OVER w IS NULL
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM ev
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), sessions AS (
          |  SELECT user_id, event_id,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          |  FROM flagged)
          |SELECT user_id, session_seq, count(*) AS n_events,
          |  min(event_id) AS first_event
          |FROM sessions GROUP BY user_id, session_seq
          |ORDER BY user_id, session_seq""".stripMargin),
    ) { (s, dir) =>
      val sessions = EventStream.sessions(stagedEventsSource(s, dir))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      runToParquet(s, sessions)
        .filter(col("user_id") >= 0) // the sentinel user never flushes; defensive
        .withColumn("session_seq", row_number().over(w).cast("long"))
        .select("user_id", "session_seq", "n_events", "first_event")
        .orderBy("user_id", "session_seq")
    },

    Q(
      "q_stream_hist",
      "streaming mergeable histogram run END-TO-END as a real " +
        "streaming job (file source → EventStream.histogram → " +
        "COMPLETE-mode memory sink, AvailableNow): 1024 fixed-range " +
        "bins of event value over [0, 1000) — the pinned range is a " +
        "deployment input (yesterday's batch min/max), which is " +
        "exactly what makes the sketch mergeable across micro-batches " +
        "and against batch history. Bin counts are additive state, so " +
        "the stream equals the batch histogram at ANY micro-batch " +
        "split and the oracle is the batch bin-count SQL. Complete " +
        "mode re-emits up to 1024 rows (observed bins) per trigger — " +
        "bounded by bins, " +
        "never by stream volume (the memory sink is the monitoring " +
        "shape; production foreachBatch-upserts the same 1024 rows). " +
        "Out-of-range values clamp symmetrically into the edge bins",
      Some(
        """SELECT bin, count(*) AS n FROM (
          |  SELECT greatest(CAST(0 AS BIGINT), least(CAST(1023 AS BIGINT),
          |    CAST(floor((value - 0.0) * 1024 / (1000.0 - 0.0)) AS BIGINT)))
          |    AS bin
          |  FROM events)
          |GROUP BY bin ORDER BY bin""".stripMargin),
    ) { (s, dir) =>
      runToMemory(EventStream.histogram(eventsStream(s, dir), 0.0, 1000.0))
        .orderBy("bin")
    },

    Q(
      "q_stream_sessions_state",
      "CUSTOM-STATE sessionization run END-TO-END as a real streaming " +
        "job: EventStream.sessionizedState (flatMapGroupsWithState + " +
        "event-time timeout — the hand-rolled-state shape session " +
        "semantics outgrow session_window into) over the staged " +
        "source. A session is emitted either when a later event " +
        "closes it by gap (that batch) or when the sentinel-advanced " +
        "watermark fires its timeout in the trailing no-data batch, " +
        "so every real session reaches the sink exactly once. State " +
        "times are epoch-MICROS so gap comparisons are exact against " +
        "the µs-precision batch twin (the gap rule here is strictly-" +
        "greater-than, vs session_window's >=, hence its own oracle). " +
        "Emitted columns are pure functions of the session's event " +
        "set; the per-user ordinal is a batch window over the bounded " +
        "sink result. At 100 TB state is one record per ACTIVE user, " +
        "always freed by timeout",
      Some(
        """WITH ev AS (
          |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          |), flagged AS (
          |  SELECT user_id, event_id, ts,
          |    CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
          |           OR lag(ts) OVER w IS NULL
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM ev
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), sessions AS (
          |  SELECT user_id, event_id, ts,
          |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          |  FROM flagged)
          |SELECT user_id, session_seq, count(*) AS n_events,
          |  first(event_id ORDER BY ts, event_id) AS first_event
          |FROM sessions GROUP BY user_id, session_seq
          |ORDER BY user_id, session_seq""".stripMargin),
    ) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      runToParquet(s, EventStream.sessionizedState(stagedEventsSource(s, dir)))
        .filter(col("user_id") >= 0) // the sentinel user never times out
        .withColumn("session_seq", row_number().over(w).cast("long"))
        .select("user_id", "session_seq", "n_events", "first_event")
        .orderBy("user_id", "session_seq")
    },

    Q(
      "q_stream_attrib",
      "stream-stream attribution join run END-TO-END as a real " +
        "streaming job: purchases matched to the same user's clicks " +
        "in the preceding hour (EventStream.attributed — both sides " +
        "watermarked, join condition bounds event-time distance). " +
        "This row is driver-checkable WITHOUT the sentinel-flush " +
        "trick because the join is INNER: append mode emits a joined " +
        "pair the moment both rows have arrived — only OUTER joins " +
        "wait for the watermark — so the emitted set is exactly the " +
        "batch interval join at ANY micro-batch split and the oracle " +
        "is that join's SQL verbatim. At 100 TB click state is " +
        "expired past (watermark − 1h): state follows the join " +
        "window, never the stream's history",
      Some(
        """SELECT p.user_id, p.event_id AS purchase_id,
          |  c.event_id AS click_id,
          |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          |  CAST(c.ts AS TIMESTAMP) AS click_ts, p.value
          |FROM events p JOIN events c
          |  ON c.user_id = p.user_id
          | AND p.event_type = 'purchase' AND c.event_type = 'click'
          | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
          |ORDER BY purchase_id, click_id""".stripMargin),
    ) { (s, dir) =>
      runToParquet(s, EventStream.attributed(stagedEventsSource(s, dir)))
        .select("user_id", "purchase_id", "click_id",
          "purchase_ts", "click_ts", "value")
        .orderBy("purchase_id", "click_id")
    },

    Q(
      "q_stream_attrib_outer",
      "LEFT-OUTER stream-stream attribution run END-TO-END as a real " +
        "streaming job — the production attribution shape, where " +
        "purchases with no click in the preceding hour surface with " +
        "null click columns instead of vanishing. Unlike the inner " +
        "row, outer emission WAITS on the watermark (a purchase is " +
        "only provably unmatched once no qualifying click can still " +
        "arrive), so this row leans on the staged sentinel source: " +
        "the watermark is applied BEFORE the event-type filters so " +
        "the far-future sentinel — neither click nor purchase — " +
        "passes through the watermark node, drives it past every real " +
        "purchase, and the trailing batch flushes every null row " +
        "exactly once. Matched pairs still emit the moment both rows " +
        "arrive. Catalyst pushes the side filters below the watermark " +
        "node, so the sentinel must PASS those filters to drive the " +
        "watermark (sentinelType); it can only self-match (its event " +
        "time is outside every real interval) and is dropped by user " +
        "id. Oracle = the batch LEFT interval join verbatim. At " +
        "100 TB click state expires past (watermark − 1h) and " +
        "purchase state holds only watermark-pending purchases",
      Some(
        """SELECT p.user_id, p.event_id AS purchase_id,
          |  c.event_id AS click_id,
          |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          |  CAST(c.ts AS TIMESTAMP) AS click_ts, p.value
          |FROM events p LEFT JOIN events c
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click'
          | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
          |WHERE p.event_type = 'purchase'
          |ORDER BY purchase_id, click_id""".stripMargin),
    ) { (s, dir) =>
      runToParquet(s,
        EventStream.attributedOuter(stagedEventsSource(s, dir),
          sentinelType = Some("sentinel")))
        .filter(col("user_id") >= 0) // drop the sentinel's self-match
        .select("user_id", "purchase_id", "click_id",
          "purchase_ts", "click_ts", "value")
        .orderBy("purchase_id", "click_id")
    },

    Q(
      "q_stream_attrib_full",
      "FULL-OUTER stream-stream attribution run END-TO-END as a real " +
        "streaming job — the one watermark-finalized join shape the " +
        "family didn't exercise: unmatched purchases AND unmatched " +
        "clicks both surface with the other side null (funnel leaks " +
        "billed beside conversions). The watermark proof is SYMMETRIC " +
        "and per-side — a purchase is provably unmatched once the " +
        "watermark passes purchase_ts, a click once it passes " +
        "click_ts + 1h (the top of its forward purchase window) — " +
        "and EventStreamSpec pins that NEITHER side's null row emits " +
        "before its proof. Matched pairs still emit on arrival. The " +
        "staged sentinel passes both side filters (the " +
        "q_stream_attrib_outer pushdown lesson), drives both " +
        "watermark feeds, self-matches only, and is dropped by user " +
        "id. Oracle = the batch FULL interval join verbatim; user_id " +
        "coalesces across sides. At 100 TB both state stores follow " +
        "the 1h join window past the watermark, never history",
      Some(
        """SELECT coalesce(p.user_id, c.user_id) AS user_id,
          |  p.event_id AS purchase_id, c.event_id AS click_id,
          |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          |  CAST(c.ts AS TIMESTAMP) AS click_ts, p.value
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
          |  ON c.user_id = p.user_id
          | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
          |   - INTERVAL 1 HOUR
          |ORDER BY user_id, purchase_id, click_id""".stripMargin),
    ) { (s, dir) =>
      runToParquet(s,
        EventStream.attributedFull(stagedEventsSource(s, dir),
          sentinelType = Some("sentinel")))
        .filter(col("user_id") >= 0) // drop the sentinel's self-match
        .select("user_id", "purchase_id", "click_id",
          "purchase_ts", "click_ts", "value")
        .orderBy("user_id", "purchase_id", "click_id")
    },

    Q(
      "q_stream_attrib_last",
      "LAST-click attribution run END-TO-END as a real streaming job — " +
        "TWO CHAINED STATEFUL OPERATORS: the stream-stream interval " +
        "join feeds a windowed aggregation that credits each purchase " +
        "to its single latest click (ties by highest click id, via " +
        "max(struct(click_ts, click_id)) — deterministic, so the " +
        "oracle is the batch window-rank SQL). The agg is keyed by " +
        "the purchase's event-time window — the shape Structured " +
        "Streaming requires for chained stateful operators, because " +
        "it is what lets the watermark finalize and GC agg state — " +
        "and emission therefore waits on the watermark: the sentinel " +
        "passes both side filters (the q_stream_attrib_outer " +
        "pushdown lesson), drives every real purchase window closed, " +
        "and its own self-match sits in a year-2100 window that never " +
        "finalizes. At 100 TB: click state bounded by the join " +
        "window, agg state one row per open purchase window",
      Some(
        """WITH pairs AS (
          |  SELECT p.user_id, p.event_id AS purchase_id,
          |    c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
          |    p.value
          |  FROM events p JOIN events c
          |    ON c.user_id = p.user_id
          |   AND p.event_type = 'purchase' AND c.event_type = 'click'
          |   AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
          |   AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
          |), ranked AS (
          |  SELECT user_id, purchase_id, click_id AS last_click_id,
          |    click_ts AS last_click_ts, value,
          |    row_number() OVER (PARTITION BY purchase_id
          |      ORDER BY click_ts DESC, click_id DESC) AS rn
          |  FROM pairs
          |)
          |SELECT user_id, purchase_id, last_click_id, last_click_ts, value
          |FROM ranked WHERE rn = 1
          |ORDER BY purchase_id""".stripMargin),
    ) { (s, dir) =>
      runToParquet(s,
        EventStream.attributedLast(stagedEventsSource(s, dir),
          sentinelType = Some("sentinel")))
        .filter(col("user_id") >= 0) // defensive; the sentinel window never closes
        .select("user_id", "purchase_id", "last_click_id",
          "last_click_ts", "value")
        .orderBy("purchase_id")
    },

    Q(
      "q_stream_dedup_base",
      "streaming incremental dedup against a STATIC base corpus run " +
        "END-TO-END as a real streaming job — the streaming face of " +
        "q_dedup_incremental: new documents on the stream are " +
        "watermark-deduped within the stream, then LEFT-ANTI joined " +
        "against the base corpus's content-hash table (stream–static " +
        "join: the static side re-plans per micro-batch — a " +
        "broadcast-sized hash index probes for free, a larger one " +
        "degrades to a keyed lookup, never a stateful stream join), " +
        "so only genuinely-new content reaches the sink. Emitted " +
        "columns are pure functions of the surviving text, so " +
        "within-stream arrival races cannot affect a byte and the " +
        "oracle is the batch anti-join SQL",
      Some(
        """SELECT DISTINCT sha256(text) AS content_hash,
          |  CAST(length(text) AS BIGINT) AS n_chars
          |FROM documents
          |WHERE doc_id >= 400
          |  AND sha256(text) NOT IN
          |    (SELECT sha256(text) FROM documents WHERE doc_id < 400)
          |ORDER BY content_hash""".stripMargin),
    ) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val baseHashes = docs.filter(col("doc_id") < 400)
        .select(sha2(col("text"), 256).as("content_hash")).distinct()
      val src = tableStream(s, dir, "documents")
        .filter(col("doc_id") >= 400)
        .withColumn("ts", arrivalTs)
      runToParquet(s, DocStream.dedupAgainstBase(src, baseHashes))
        .orderBy("content_hash")
    },

    Q(
      "q_stream_embed",
      "streaming embedding ingestion run END-TO-END as a real " +
        "streaming job (file source → EmbedStream.assigned cell " +
        "routing → parquet sink, AvailableNow): vectors arriving on " +
        "the stream are routed to their IVF coarse cell with the SAME " +
        "fused cent_argmin_l2 expression and packed-centroid " +
        "broadcast the batch index uses (q_ivf_layout's assignment), " +
        "so a vector gets the same cell_id whether it arrived in " +
        "batch or on the stream and the downstream cell-keyed index " +
        "ingests both. cell_id is a pure per-row function of the " +
        "vector and the static centroid table — arrival order and " +
        "micro-batch splits cannot affect a byte, so the oracle IS " +
        "the batch assignment SQL. Scale: zero streaming state, zero " +
        "shuffles — per-row expression work against a stream-static " +
        "broadcast of one packed centroid row; at 100 TB this is the " +
        "online half of the IVF index, appending into the " +
        "cell-partitioned layout q_ivf_layout writes",
      Some(
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |cents AS (
           |  ${Ivf.seedSql(AnnOps.NumCells)}
           |), assign AS (
           |  ${Ivf.assignSql(Ivf.L2,
                "vec_id, cent_id AS cell_id", "e.vec_id, c.cent_id")}
           |)
           |SELECT vec_id, cell_id FROM assign ORDER BY vec_id""".stripMargin),
    ) { (s, dir) =>
      val batch = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cents = Ivf.seeds(batch, AnnOps.NumCells)
      val src = tableStream(s, dir, "embeddings")
        .select("vec_id", "embedding").withColumn("ts", arrivalTs)
      runToParquet(s, EmbedStream.assigned(src, cents))
        .select("vec_id", "cell_id")
        .orderBy("vec_id")
    },

    Q(
      "q_stream_topk",
      "streaming TRENDING top-k as a real COMPLETE-mode job: the " +
        "document stream explodes to tokens, an unwindowed count agg " +
        "holds one counter per distinct token (complete mode re-" +
        "emits the counts each trigger), and the top-10 cut by " +
        "(n DESC, w) runs as a batch heap over the final sink table " +
        "— the live 'trending terms' dashboard shape. Counts are " +
        "additive state, so stream ≡ batch at any micro-batch split " +
        "and the oracle is the batch wordcount's top-10 verbatim. At " +
        "100 TB unbounded-vocabulary state is the q_cooccur flag " +
        "class: production bounds it with the CMS heavy-hitters " +
        "sketch (q_heavy_hitters) or windowed counts — documented " +
        "here, exact counts kept because the oracle demands " +
        "exactness",
      Some(
        """SELECT w, n FROM (
          |  SELECT w, count(*) AS n FROM (
          |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
          |  WHERE w <> '' GROUP BY w)
          |ORDER BY n DESC, w LIMIT 10""".stripMargin),
    ) { (s, dir) =>
      val counts = tableStream(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("n"))
      runToMemory(counts).orderBy(col("n").desc, col("w")).limit(10)
    },

    Q(
      "q_stream_transitions",
      "stateful TRANSITION extraction run END-TO-END as a real " +
        "streaming job: EventStream.transitionsState " +
        "(flatMapGroupsWithState, per-user last-event state bridging " +
        "micro-batch boundaries) over the staged source emits one " +
        "(prev_type, event_type) pair per event with a predecessor — " +
        "the streaming face of q_event_transitions' lag — and the " +
        "Markov rollup over the parquet sink shares the batch " +
        "oracle VERBATIM: pairs are emitted in-batch (no watermark " +
        "wait) and each batch sorts by (µs, id) before folding, so " +
        "the pair stream is batch-identical at any split that " +
        "PRESERVES per-user time order across batches — which the " +
        "staged single-file replay guarantees, and file sources " +
        "deliver per-file; a live stream where a user's later event " +
        "arrives a batch EARLIER pairs by fold order instead (exact " +
        "cross-batch late-pairing would need watermark-delayed " +
        "emission with a buffered state, the sessionizer's shape). " +
        "The sentinel is a single event of its own user: it advances " +
        "the watermark and owes no pair, so the sink cannot see it. " +
        "State is one record per user ever seen (∝ users, the " +
        "dropDuplicates cardinality class) — the documented cost of " +
        "exact cross-gap lag; the counts agg is #types²-bounded",
      Some(transitionsMarkovSql),
    ) { (s, dir) =>
      transitionRollup(runToParquet(s,
        EventStream.transitionsState(stagedEventsSource(s, dir))))
    },

    Q(
      "q_stream_transitions_exact",
      "WATERMARK-BUFFERED transition extraction — the production-" +
        "grade face of q_stream_transitions for OUT-OF-ORDER " +
        "arrival, run END-TO-END as a real streaming job and sharing " +
        "the batch oracle VERBATIM. The replay is ADVERSARIAL by " +
        "construction: events stage into THREE files hashed by " +
        "event_id % 3 (mtime-pinned, maxFilesPerTrigger=1), so a " +
        "user's later event routinely arrives a micro-batch EARLIER " +
        "— exactly the split where the fold-order variant mispairs " +
        "and diverges from lag(). EventStream.transitionsBuffered " +
        "buffers per-user events above the watermark and finalizes a " +
        "pair only once the watermark strictly passes the earlier " +
        "event (every future admitted event is at-or-above the " +
        "watermark, hence after everything finalized — so the pair " +
        "stream equals the batch lag() at ANY slicing); the sentinel " +
        "then drives the watermark past all real events and the " +
        "trailing no-data batch drains every buffer by event-time " +
        "timeout. The replay's 3650-day delay makes nothing late " +
        "(a live deployment picks its real lateness budget and " +
        "trades exactly that much emission latency); state is the " +
        "last finalized event + the in-window buffer per user — " +
        "bounded by the delay window, never history. The counts agg " +
        "is #types²-bounded",
      Some(transitionsMarkovSql),
    ) { (s, dir) =>
      // Hash-sliced staging: per-user arrival order is scrambled, the
      // shape the buffered variant exists for.
      val ev = Tables.events(s, dir)
      val src = new Stager(ev.schema)
        .stage(Stager.idSlices(ev): _*).sentinel(s).stream(s)
      transitionRollup(runToParquet(s,
        EventStream.transitionsBuffered(src, "3650 days")))
    },

    Q(
      "q_stream_debounce",
      "stateful 5-minute DEBOUNCE run END-TO-END as a real streaming " +
        "job — the streaming face of q_debounce, sharing its batch " +
        "oracle VERBATIM: EventStream.debounceState " +
        "(flatMapGroupsWithState, one last-event-µs per (user,type) " +
        "key) emits only non-noise events to the sink; the per-type " +
        "rollup joins the sink's kept counts to the batch totals. " +
        "Deliberately NOT dropDuplicatesWithinWatermark — the " +
        "semantic seam, documented at EventStream.debounceState and " +
        "spec-pinned: the built-in's re-admission is watermark-driven " +
        "(between micro-batches only; a bounded replay degenerates to " +
        "one-event-per-key), where the lag rule re-admits on any true " +
        "5-minute silence. The replay stages THREE time-sliced files " +
        "(exact-percentile µs boundaries — a bounded 2-double " +
        "collect; mtime-pinned, maxFilesPerTrigger=1), so the driver " +
        "row itself proves per-key state bridges micro-batch " +
        "boundaries: a per-batch lag would re-admit storms at every " +
        "batch edge and diverge from the oracle. At 100 TB/day state " +
        "is one µs per key active within the gap window — freed by an " +
        "event-time timeout that is provably a semantic no-op — and " +
        "the fold is embarrassingly parallel per key",
      Some(graft.operators.EventsOps.debounceSql),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      // Time-sliced staging: slices partition the timeline, so every
      // key's event-time order is preserved across micro-batches.
      val bs = ev
        .agg(expr("percentile(unix_micros(ts), array(0.3333, 0.6667))"))
        .head().getSeq[Double](0)
      val us = unix_micros(col("ts"))
      val src = new Stager(ev.schema)
        .stage(ev.filter(us < bs(0)), ev.filter(us >= bs(0) && us < bs(1)),
          ev.filter(us >= bs(1)))
        .stream(s)
      val kept = runToParquet(s, EventStream.debounceState(src))
      val nKept = kept.groupBy("event_type").agg(count(lit(1)).as("n_kept"))
      Tables.events(s, dir)
        .groupBy("event_type").agg(count(lit(1)).as("n_events"))
        .join(nKept, Seq("event_type"), "left")
        .select(col("event_type"), col("n_events"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(coalesce(col("n_kept"), lit(0L)).cast("double")
            / col("n_events"), 6).as("kept_ratio"))
        .orderBy("event_type")
    },

    Q(
      "q_stream_hash_embed",
      "streaming feature-hashing embedder run END-TO-END as a real " +
        "streaming job (file source → foreachBatch(TextOps.hashEmbed) " +
        "→ parquet sink, AvailableNow): documents arriving on the " +
        "stream get the SAME 64-dim hashed vector the batch op " +
        "computes, via the SAME exploded-agg kernel applied inside " +
        "each micro-batch — a document never spans micro-batches, so " +
        "the per-doc result is split-independent by construction and " +
        "the oracle IS q_hash_embed's SQL verbatim. foreachBatch is " +
        "the right streaming shape here: the kernel's groupBy is " +
        "per-doc LOCAL work a micro-batch can run as plain batch " +
        "Spark (no cross-batch state, no watermark), and no " +
        "vocabulary syncs between batch and stream because hashing " +
        "has none. At 100 TB/day this is the embed-on-ingest path " +
        "feeding the same ANN index as the batch backfill",
      Some(graft.operators.TextOps.hashEmbedSql),
    ) { (s, dir) =>
      runToState(tableStream(s, dir, "documents")) { (batch, _) =>
        graft.operators.TextOps.hashEmbed(batch)
      }.orderBy("doc_id")
    },

    Q(
      "q_stream_moments",
      "streaming MOMENT SKETCH run END-TO-END as a real COMPLETE-mode " +
        "job — the streaming face of q_moments, sharing its oracle " +
        "VERBATIM: the stream folds the SAME exact ×100 fixed-point " +
        "power sums (n, Σc..Σc⁴ — BIGINT/DECIMAL(38,0)) per event " +
        "type as additive state, so the sketch equals the batch one " +
        "at ANY micro-batch split and merges against batch history " +
        "for free — the live distribution-shape monitor (complete " +
        "mode re-emits #types rows per trigger, bounded by the type " +
        "catalog, never stream volume; the memory sink is the " +
        "monitoring shape). Scalar finishing (mean/stddev/skew/" +
        "kurtosis) runs batch-side on the bounded sink table with " +
        "the exact mirrored expression text of the batch twin",
      Some(graft.operators.EventsOps.momentsSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
      val sink = runToMemory(graft.operators.EventsOps.momentSums(src))
      graft.operators.EventsOps.momentFinish(sink)
    },

    Q(
      "q_stream_msprt",
      "the ALWAYS-VALID sequential A/B monitor run LIVE — the " +
        "streaming face of q_msprt, sharing its oracle VERBATIM: the " +
        "stream folds the SAME per-day exact BIGINT arm power sums " +
        "(n, Σc, Σc² per arm — purely additive) as complete-mode " +
        "state bounded by the DAY CATALOG (never stream volume), and " +
        "the mSPRT likelihood curve finishes batch-side on the " +
        "bounded sink each readout. The pairing is the point: mSPRT " +
        "is the test you may legally consult after EVERY micro-batch " +
        "(that is what always-valid means), so the streaming shape " +
        "is not a convenience but the intended deployment — the " +
        "experiment dashboard that updates per trigger with exact " +
        "type-I control. State ≡ batch rollup at any split because " +
        "the sums are additive (the q_stream_moments argument)",
      Some(graft.operators.EventsOps.msprtSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("ts"), col("user_id"), col("value"))
      val sink = runToMemory(Arms.powerSums(
        Arms.armed(src, Seq(col("ts").cast("date").as("day"))), suffix = "_d"))
      graft.operators.EventsOps.msprtFinish(sink)
    },

    Q(
      "q_stream_fdr",
      "the MANY-METRICS experiment monitor run LIVE — the streaming " +
        "face of q_fdr_bh, sharing its oracle VERBATIM: the stream " +
        "folds per-type exact BIGINT arm power sums as complete-mode " +
        "state bounded by the TYPE CATALOG, and the Welch-z → A&S " +
        "grid p → BH step-up finishing runs batch-side on the " +
        "bounded sink per readout. The honest caveat rides in the " +
        "doc: BH alone does not confer peeking-safety the way mSPRT " +
        "does — the live pairing is (q_stream_msprt per metric) + " +
        "(BH across metrics); this row proves the ACROSS-METRICS " +
        "half streams with state ≡ batch at any split (additive " +
        "sums, the q_stream_moments argument)",
      Some(graft.operators.EventsOps.fdrBhSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("event_type"), col("user_id"), col("value"))
      val sink = runToMemory(
        Arms.powerSums(Arms.armed(src, Seq(col("event_type")))))
      graft.operators.EventsOps.fdrFinish(sink)
    },

    Q(
      "q_stream_quantile_te",
      "DISTRIBUTIONAL experiment readout run LIVE — the streaming " +
        "face of q_quantile_te, sharing its oracle VERBATIM: the " +
        "stream folds the (type, cents, arm-count) rollup as " +
        "complete-mode state bounded by the two-decimal money DOMAIN " +
        "(the value-domain window class as STREAM STATE — never " +
        "rows), and the exact quartile-index probe runs batch-side " +
        "on the bounded sink per readout. Counts are purely " +
        "additive, so stream state ≡ the batch rollup at ANY " +
        "micro-batch slicing (the q_stream_fdr argument) — per-" +
        "quantile treatment effects off a live stream with zero " +
        "approximation, where the usual streaming answer is a " +
        "mergeable quantile SKETCH (q_stream_hist) and an ε. At " +
        "100 TB/day: state = #types × observed cents values; the " +
        "readout runs on state, never history",
      Some(graft.operators.EventsOps.quantileTeSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("event_type"), col("user_id"), col("value"))
      val sink = runToMemory(
        Arms.valueCounts(Arms.armed(src, Seq(col("event_type")), "v")))
      graft.operators.EventsOps.quantileTeFinish(sink)
    },

    Q(
      "q_stream_resume",
      "checkpoint RECOVERY, exactly-once across a restart, run " +
        "END-TO-END: the events changelog is staged as three files; " +
        "a first AvailableNow run processes the two present, " +
        "terminates, the third file lands, and a SECOND query " +
        "started from the SAME checkpoint + sink resumes and " +
        "processes ONLY the new file — the sink then aggregates to " +
        "exactly the batch result, proving no loss and no " +
        "replay-duplication across the restart (the contract every " +
        "operational pipeline leans on after a crash or deploy). " +
        "The mechanism is the file-source offset log + the parquet " +
        "sink's transactional _spark_metadata commit protocol, both " +
        "keyed by the checkpoint — per-row work here is a stateless " +
        "projection so ANY slicing gives the same sink, and the " +
        "oracle is the plain batch rollup. At 100 TB the same two " +
        "logs bound recovery work to uncommitted batches, never a " +
        "re-scan of history",
      Some(
        s"""SELECT event_type, count(*) AS n_events,
           |  ${graft.functions.Portable.exactSumSql("value")} AS sum_value
           |FROM events
           |GROUP BY event_type ORDER BY event_type""".stripMargin),
    ) { (s, dir) =>
      // Raw (not ts-normalized) slices, so every staged file keeps the
      // source's physical ts type and the stream schema is uniform
      // across both runs.
      val raw = Tables.load(s, dir, "events")
      val slices = Stager.idSlices(raw)
      val staged = new Stager(raw.schema)
      val scratch = Scratch.dir()
      def runOnce(): Unit = {
        val q = staged.stream(s)
          .select(col("event_type"), col("value"))
          .writeStream
          .format("parquet")
          .option("path", s"$scratch/out")
          .option("checkpointLocation", s"$scratch/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      staged.stage(slices(0), slices(1))
      runOnce() // run 1: slices 0 and 1
      staged.stage(slices(2)) // the file that arrives while the pipeline is down
      runOnce() // run 2: resumes from the checkpoint, sees only slice 2
      s.read.parquet(s"$scratch/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Portable.exactSum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },

    Q(
      "q_stream_enrich",
      "static-stream dimension enrichment run END-TO-END as a real " +
        "streaming job — the canonical production join shape: the " +
        "events stream joins the STATIC customer dimension " +
        "(broadcast; re-used by every micro-batch, never shuffled, " +
        "never stateful) to attach the market segment per row, the " +
        "enriched rows land in a parquet sink, and the " +
        "segment×type rollup runs on the sink. Enrichment is " +
        "STATELESS per-row work, so stream output ≡ batch at any " +
        "micro-batch split and the oracle is the plain batch " +
        "join+agg. At 100 TB/day this is the dimension most events " +
        "pipelines attach on ingest: the dim ships once per executor " +
        "per batch (or via a rebroadcast cadence when it's " +
        "slowly-changing — the SCD2 operators hold the versioned " +
        "twin), and the stream side stays embarrassingly parallel; " +
        "value sums are exact fixed-point BIGINTs, order-free across " +
        "micro-batches",
      Some(
        s"""SELECT c_mktsegment, event_type, count(*) AS n_events,
           |  ${graft.functions.Portable.exactSumSql("value")} AS sum_value
           |FROM events e JOIN customer c ON e.user_id = c.c_custkey
           |GROUP BY c_mktsegment, event_type
           |ORDER BY c_mktsegment, event_type""".stripMargin),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = src
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select("c_mktsegment", "event_type", "value")
      runToParquet(s, enriched)
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Portable.exactSum(col("value")).as("sum_value"))
        .orderBy("c_mktsegment", "event_type")
    },

    Q(
      "q_stream_scd_enrich",
      "TEMPORAL stream enrichment run END-TO-END as a real streaming " +
        "job: each event joins the SCD2 user-state dimension at the " +
        "version valid AT THE EVENT'S OWN TIMESTAMP (user equality + " +
        "valid_from ≤ ts < valid_to residual) — the as-of dimension " +
        "attach that q_stream_enrich's static join gets WRONG for " +
        "slowly-changing dims (it would attach today's segment to " +
        "last month's event). [from, to) versions partition each " +
        "user's timeline, so at most one version matches per event " +
        "and enrichment stays STATELESS per-row work: stream ≡ batch " +
        "at any micro-batch split, and the oracle is the plain batch " +
        "temporal join. The attached version is the state JUST BEFORE " +
        "the event (valid_from < ts ≤ valid_to — at-time inclusion " +
        "would tautologically return the event's own type, since the " +
        "event itself opens or extends its at-time version); a " +
        "user's first event has no prior state → '_none'. The dim is " +
        "version-count-bounded (broadcast here; at 100 TB bucket " +
        "both sides by user_id — the q_bucket_join layout — and the " +
        "residual stays per-row); rollup = states × types from the " +
        "parquet sink",
      Some(
        """WITH e AS (
          |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
          |  FROM events
          |), ch AS (
          |  SELECT user_id, event_type, ts, event_id FROM (
          |    SELECT user_id, event_type, ts, event_id,
          |      lag(event_type) OVER (PARTITION BY user_id
          |        ORDER BY ts, event_id) AS prev_type
          |    FROM e)
          |  WHERE prev_type IS NULL OR prev_type <> event_type
          |), dim AS (
          |  SELECT user_id, event_type AS state_type, ts AS valid_from,
          |    lead(ts) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS valid_to
          |  FROM ch
          |)
          |SELECT coalesce(d.state_type, '_none') AS state_type,
          |  e.event_type, count(*) AS n_events
          |FROM e LEFT JOIN dim d ON d.user_id = e.user_id
          |  AND d.valid_from < e.ts
          |  AND (d.valid_to IS NULL OR e.ts <= d.valid_to)
          |GROUP BY 1, e.event_type
          |ORDER BY state_type, e.event_type""".stripMargin),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("user_id").as("e_user"), col("event_type"), col("ts"))
      val dim = graft.operators.EventsOps.scd2Of(s, dir)
        .select(col("user_id"), col("event_type").as("state_type"),
          col("valid_from"), col("valid_to"))
      val enriched = src
        .join(broadcast(dim),
          col("user_id") === col("e_user")
            && col("valid_from") < col("ts")
            && (col("valid_to").isNull || col("ts") <= col("valid_to")),
          "left")
        .select(coalesce(col("state_type"), lit("_none")).as("state_type"),
          col("event_type"))
      runToParquet(s, enriched)
        .groupBy("state_type", "event_type")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("state_type", "event_type")
    },

    Q(
      "q_stream_upsert",
      "streaming CDC-apply run END-TO-END as a real streaming job: the " +
        "events changelog arrives in THREE deterministic micro-batches " +
        "(event_id mod 3 slices, mtime-pinned, maxFilesPerTrigger=1) " +
        "and foreachBatch maintains a latest-per-user STATE TABLE — " +
        "each batch compacts itself (user-keyed row_number), merges " +
        "against the previous state version, and writes a new " +
        "immutable version directory (the pointer-swap pattern; a " +
        "deployed pipeline writes the same merge through a " +
        "transactional table format so retries are idempotent). " +
        "Latest-wins by (ts, event_id) is associative and " +
        "commutative, so the final state PROVABLY equals the batch " +
        "compaction regardless of how the changelog was sliced — the " +
        "oracle IS q_upsert_latest's SQL. Scale: per batch, one " +
        "user-keyed shuffle of (delta + touched state); at 100 TB the " +
        "state side is the operand a format with merge-on-read or " +
        "key-bucketed layout keeps from rewriting wholesale, and the " +
        "batch cadence bounds delta size — state never rescans the " +
        "changelog history",
      Some(
        """SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
          |  event_type AS last_type, value AS last_value
          |FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
          |  FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val latest = (df: DataFrame) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "ts", "event_id", "event_type", "value")
      }
      val scratch = Scratch.dir()
      // State versions key by the MICRO-BATCH ID, not a local counter:
      // batch N reads v(N−1) — immutable, committed by the previous
      // trigger — and OVERWRITES v(N), so a retried batch replays
      // idempotently over its own half-written output instead of
      // failing on an existing directory (a fresh AvailableNow query
      // numbers triggers 0,1,2…, so v(batchId−1) is always the
      // complete predecessor state). q_stream_item_cf keeps the same
      // rule.
      val version = new java.util.concurrent.atomic.AtomicLong(-1L)
      val q = new Stager(ev.schema).stage(Stager.idSlices(ev): _*).stream(s)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val delta = latest(batch)
          val v = batchId - 1
          val merged =
            if (v < 0) delta
            else latest(delta.unionByName(
              batch.sparkSession.read.parquet(s"$scratch/state/v$v")))
          merged.write.mode("overwrite").parquet(s"$scratch/state/v$batchId")
          version.set(batchId)
          ()
        }
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$scratch/state/v${version.get()}")
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    },

    Q(
      "q_stream_theta",
      "streaming THETA STATE TABLE run END-TO-END — the streaming " +
        "face of q_theta_intersect, sharing its oracle VERBATIM: " +
        "each micro-batch folds to per-(batch, type) theta sketch " +
        "rows APPENDED to a parquet state table (foreachBatch; " +
        "append-only, no rewrite — the state a live pipeline " +
        "persists), and after the run the pairwise distinct-user " +
        "overlap matrix is answered from STATE ALONE " +
        "(theta_union_agg per type, theta_intersect_estimate per " +
        "pair) — 'only the new batch is scanned' made literal, " +
        "which at 100 TB/day is the difference between sketch-row " +
        "appends and nightly raw-history rescans. Theta state is a " +
        "pure function of the SET, so ANY micro-batch slicing " +
        "yields byte-identical sketches to the batch twin " +
        "(ThetaSpec pins exactly that invariance) and the " +
        "batch/stream results agree byte-for-byte — same contract, " +
        "exact pair overlap plus the two deterministic quality " +
        "flags, with the state-built sketches standing in the " +
        "partials slot",
      Some(graft.operators.EventsOps.thetaIntersectSql),
    ) { (s, dir) =>
      val state = runToState(eventsStream(s, dir)) { (batch, bid) =>
        batch.select(col("event_type"), col("user_id"))
          .groupBy("event_type")
          .agg(expr("theta_sketch_agg(user_id)").as("sk"))
          .withColumn("batch_id", lit(bid))
      }
      // Overlap matrix from the streamed state rows alone.
      val fromState = state
        .groupBy("event_type").agg(expr("theta_union_agg(sk)").as("sk"))
      val tu = graft.operators.EventsOps.thetaEvents(s, dir)
        .select("event_type", "user_id").distinct()
      graft.operators.EventsOps.thetaReadout(tu, fromState)
    },

    Q(
      "q_stream_cms",
      "streaming COUNT-MIN STATE TABLE run end-to-end — the " +
        "streaming face of q_cms_topk, sharing its guarantees plus " +
        "one only a LINEAR sketch can make: each micro-batch folds " +
        "to one CMS row appended to a parquet state table " +
        "(foreachBatch, append-only), the rollup is cms_merge_agg's " +
        "exact elementwise sum, and because CMS is linear the merged " +
        "stream state is BYTE-IDENTICAL to the one-shot batch sketch " +
        "— not estimate-close, the same 128 KB of counters at ANY " +
        "micro-batch slicing. That equality ships as a gate-pinned " +
        "flag beside the est ≥ true theorem and the 3N/w bound for " +
        "the exact top-10 users. At 100 TB/day: per-batch KB " +
        "appends, heavy keys re-read from state, no raw-history " +
        "rescan ever",
      Some(
        """WITH top AS (
          |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |  FROM events GROUP BY user_id
          |  ORDER BY n_events DESC, user_id LIMIT 10
          |)
          |SELECT user_id, n_events,
          |  CAST(1 AS BIGINT) AS no_underestimate,
          |  CAST(1 AS BIGINT) AS within_bound,
          |  CAST(1 AS BIGINT) AS stream_equals_batch
          |FROM top ORDER BY n_events DESC, user_id""".stripMargin),
    ) { (s, dir) =>
      val state = runToState(eventsStream(s, dir)) { (batch, bid) =>
        batch.select(col("user_id"))
          .agg(expr("cms_sketch_agg(user_id)").as("sk"))
          .withColumn("batch_id", lit(bid))
      }
      val e = Tables.events(s, dir).select(col("user_id"))
      val merged = state
        .agg(expr("cms_merge_agg(sk)").as("sk"))
      val oneShot = e.agg(expr("cms_sketch_agg(user_id)").as("sk_b"),
        count(lit(1)).as("n_total"))
      val top = e.groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id")).limit(10)
      top.crossJoin(broadcast(merged.crossJoin(oneShot)))
        .selectExpr("user_id", "n_events",
          "cms_estimate(sk, user_id) AS est", "n_total",
          "CAST(sk = sk_b AS BIGINT) AS stream_equals_batch")
        .selectExpr("user_id", "n_events",
          "CAST(est >= n_events AS BIGINT) AS no_underestimate",
          "CAST(est - n_events <= (3 * n_total) DIV 4096 AS BIGINT)"
            + " AS within_bound",
          "stream_equals_batch")
        .orderBy(col("n_events").desc, col("user_id"))
    },

    Q(
      "q_stream_kll",
      "streaming RANK-SKETCH STATE TABLE run end-to-end — the " +
        "streaming face of q_kll_quantiles and the q_stream_cms " +
        "shape applied to quantiles: the events changelog arrives in " +
        "THREE deterministic micro-batches (event_id mod 3 slices, " +
        "mtime-pinned, maxFilesPerTrigger=1), each batch folds to " +
        "per-type kll_sketch_agg rows appended to a parquet state " +
        "table (foreachBatch, append-only), and the readout is " +
        "kll_merge_agg over STATE — quantiles answered without ever " +
        "rescanning raw history. KLL is NOT linear like CMS, so the " +
        "merged state isn't byte-equal to the one-shot sketch; what " +
        "survives any slicing — and what the gate pins as hard " +
        "flags — is exact weight conservation (kll_n of the merged " +
        "state = true count) and the CDF-bracket theorem at the " +
        "merged sketch's p50/p90 (ε = kll_err_bound, sound under " +
        "any merge history). Exact quantiles ride along as the " +
        "oracle-matched values. At 100 TB/day: per-batch KB appends, " +
        "percentile dashboards re-read state, never the corpus",
      Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  round(quantile_cont(value, 0.5), 6) AS p50,
          |  round(quantile_cont(value, 0.9), 6) AS p90,
          |  CAST(1 AS BIGINT) AS n_conserved,
          |  CAST(1 AS BIGINT) AS p50_bracket_ok,
          |  CAST(1 AS BIGINT) AS p90_bracket_ok
          |FROM events GROUP BY event_type ORDER BY event_type"""
          .stripMargin),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      // Hash-sliced staging (the q_stream_upsert shape): a type's
      // values land in every batch, so the rollup genuinely MERGES
      // compacted partials instead of passing one sketch through.
      val src = new Stager(ev.schema).stage(Stager.idSlices(ev): _*).stream(s)
      val state = runToState(src) { (batch, bid) =>
        batch.select(col("event_type"), col("value"))
          .groupBy("event_type")
          .agg(expr("kll_sketch_agg(value, 256)").as("sk"))
          .withColumn("batch_id", lit(bid))
      }
      // Readout: rollup on STATE alone; exact twin + bracket verify
      // are the gate's cost (the q_kll_quantiles contract).
      val merged = state
        .groupBy("event_type")
        .agg(expr("kll_merge_agg(sk, 256)").as("sk"))
        .select(col("event_type"),
          expr("kll_quantile(sk, 0.5D)").as("e50"),
          expr("kll_quantile(sk, 0.9D)").as("e90"),
          expr("kll_err_bound(sk)").as("eps"),
          expr("kll_n(sk)").as("kn"))
      val evv = ev.select("event_type", "value")
      evv.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .join(broadcast(merged), Seq("event_type"))
        .join(evv.join(broadcast(merged), Seq("event_type"))
          .groupBy("event_type")
          .agg(
            sum(when(col("value") < col("e50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("value") <= col("e50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("value") < col("e90"), 1L).otherwise(0L)).as("lt90"),
            sum(when(col("value") <= col("e90"), 1L).otherwise(0L)).as("le90")),
          Seq("event_type"))
        .select(col("event_type"), col("n_events"), col("p50"), col("p90"),
          (col("kn") === col("n_events")).cast("long").as("n_conserved"),
          (col("lt50").cast("double") / col("n_events")
            <= lit(0.5) + col("eps")
            && col("le50").cast("double") / col("n_events")
              >= lit(0.5) - col("eps")).cast("long").as("p50_bracket_ok"),
          (col("lt90").cast("double") / col("n_events")
            <= lit(0.9) + col("eps")
            && col("le90").cast("double") / col("n_events")
              >= lit(0.9) - col("eps")).cast("long").as("p90_bracket_ok"))
        .orderBy("event_type")
    },

    Q(
      "q_stream_mg",
      "streaming MISRA-GRIES STATE TABLE run end-to-end — the third " +
        "leg of the streaming sketch-state triplet beside " +
        "q_stream_cms (linear frequency) and q_stream_kll (rank): " +
        "each micro-batch folds to one per-batch mg_sketch_agg row " +
        "over event_type appended to a parquet state table " +
        "(foreachBatch, append-only), and the readout merges state " +
        "rows via mg_merge_agg. With ≤ k distinct keys the summary " +
        "is EXACT and CANONICAL (Δ = 0, key-sorted serialization), " +
        "so the merged stream state is BYTE-IDENTICAL to the " +
        "one-shot batch summary at ANY micro-batch slicing — the " +
        "q_stream_cms linearity claim, earned here by exact-mode " +
        "canonicalization instead of linearity, shipped as a " +
        "gate-pinned flag beside stored ≡ true and Δ = 0. Beyond " +
        "exact mode the carried certificate survives any slicing " +
        "(MisraGriesSpec). At 100 TB/day: per-batch ≤k-entry " +
        "appends, frequent-key candidates read from KB state",
      Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(1 AS BIGINT) AS stored_is_exact,
          |  CAST(1 AS BIGINT) AS delta_zero,
          |  CAST(1 AS BIGINT) AS stream_equals_batch
          |FROM events GROUP BY event_type ORDER BY event_type"""
          .stripMargin),
    ) { (s, dir) =>
      val state = runToState(eventsStream(s, dir)) { (batch, bid) =>
        batch.select(col("event_type"))
          .agg(expr("mg_sketch_agg(event_type, 8)").as("sk"))
          .withColumn("batch_id", lit(bid))
      }
      val e = Tables.events(s, dir).select(col("event_type"))
      val merged = state
        .agg(expr("mg_merge_agg(sk, 8)").as("sk"))
      val oneShot = e.agg(expr("mg_sketch_agg(event_type, 8)").as("sk_b"))
      e.groupBy("event_type").agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(merged.crossJoin(oneShot)))
        .select(col("event_type"), col("n_events"),
          (expr("mg_estimate(sk, event_type)") === col("n_events"))
            .cast("long").as("stored_is_exact"),
          (expr("mg_delta(sk)") === 0L).cast("long").as("delta_zero"),
          (col("sk") === col("sk_b")).cast("long")
            .as("stream_equals_batch"))
        .orderBy("event_type")
    },

    Q(
      "q_stream_anomaly",
      "the hourly BURST PAGER run LIVE — the streaming face of " +
        "q_events_anomaly, sharing its oracle VERBATIM: the stream " +
        "folds the (hour, type) count rollup as complete-mode state " +
        "bounded by the HOUR×TYPE CATALOG (calendar time, never " +
        "stream volume — the q_stream_moments argument: counts are " +
        "purely additive, so state ≡ the batch rollup at ANY " +
        "micro-batch slicing), and the trailing-24-observed-hour " +
        "baseline compare runs batch-side on the bounded sink per " +
        "readout. This pairing is the operator's NATIVE deployment — " +
        "burst detection exists to page within the hour, not in " +
        "tomorrow's batch — and the only stream-specific cost is " +
        "re-running a days×types window over state. At 100 TB/day: " +
        "per-batch state deltas are #touched-hours×types rows; the " +
        "readout never rescans history",
      Some(graft.operators.EventsOps.eventsAnomalySql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("ts"), col("event_type"))
      val sink = runToMemory(graft.operators.EventsOps.hourlyTypeRollup(src))
      graft.operators.EventsOps.anomalyFinish(sink)
    },

    Q(
      "q_stream_ewma",
      "the EWMA CONTROL CHART run LIVE — the streaming face of " +
        "q_ewma_control, sharing its oracle VERBATIM: the stream " +
        "folds the epoch-hour count rollup as complete-mode state " +
        "(calendar-bounded, additive — state ≡ the batch hr rollup " +
        "at any split), and the spine densify + λ=1/5 smoothing " +
        "fold + 3σ√(λ/(2−λ)) limit compare run batch-side on the " +
        "bounded sink per readout. The monitoring pairing beside " +
        "q_stream_anomaly: the burst pager needs 2× over baseline, " +
        "the EWMA chart catches sustained small drifts long before " +
        "that — SPC's classical complement, now updating per " +
        "trigger. The sink table is the ONE memory-sink frame read " +
        "by two lineages (bounds + spine join), so the finish " +
        "localCheckpoints it first — the quantileTeFinish " +
        "conflicting-attributes note made structural. At 100 " +
        "TB/day: state is #hours rows; the sequential smoothing is " +
        "#hours scalar ops on the driver-side plan, never the " +
        "corpus",
      Some(graft.operators.EventsOps.ewmaSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("ts"))
      val sink = runToMemory(graft.operators.EventsOps.hourRollup(src))
      graft.operators.EventsOps.ewmaControl(
        graft.operators.EventsOps.seriesOf(sink))
    },

    Q(
      "q_stream_cusum",
      "the CUSUM drift detector run LIVE — the streaming face of " +
        "q_cusum, sharing its oracle VERBATIM: the stream folds the " +
        "epoch-hour count rollup as complete-mode state (calendar-" +
        "bounded, additive — state ≡ the batch hr rollup at any " +
        "split), and the spine densify + exact cumsum/running-min " +
        "window identity + 5σ compare run batch-side on the bounded " +
        "sink per readout. The SPC triptych closes: q_stream_anomaly " +
        "pages on 2× bursts, q_stream_ewma catches smoothed drifts, " +
        "CUSUM accumulates small PERSISTENT shifts fastest (it is " +
        "the sequential test the others approximate). At 100 TB/day: " +
        "per-batch state deltas are ≤ touched-hours rows; the " +
        "readout rides the #hours-bounded series, never the corpus",
      Some(graft.operators.EventsOps.cusumSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("ts"))
      val sink = runToMemory(graft.operators.EventsOps.hourRollup(src))
      graft.operators.EventsOps.cusumOf(
        graft.operators.EventsOps.seriesOf(sink))
        .orderBy("t")
    },

    Q(
      "q_stream_pacf",
      "the AR-order diagnostic run LIVE — the streaming face of " +
        "q_pacf, sharing its oracle VERBATIM: the stream folds the " +
        "epoch-hour count rollup as complete-mode state and the " +
        "spine densify + exact centered products + Durbin-Levinson " +
        "closed forms run batch-side on the bounded sink per " +
        "trigger. With q_stream_ewma/q_stream_cusum watching level " +
        "and q_stream_granger watching lead-lag, this watches " +
        "MEMORY STRUCTURE — a PACF cutoff shift on live data means " +
        "the anomaly model's lag order is stale. At 100 TB/day: " +
        "state is #hours rows, the readout #hours×3-bounded",
      Some(graft.operators.EventsOps.pacfSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("ts"))
      val sink = runToMemory(graft.operators.EventsOps.hourRollup(src))
      graft.operators.EventsOps.pacfOf(
        graft.operators.EventsOps.seriesOf(sink))
    },

    Q(
      "q_stream_granger",
      "Granger causality run LIVE — the streaming face of q_granger, " +
        "sharing its oracle VERBATIM: the stream folds the hour-pair " +
        "(total, purchases) rollup as complete-mode state (calendar-" +
        "bounded, additive — state ≡ the batch rollup at any split), " +
        "and the spine densify + lag window + BigInt-moment F readout " +
        "run batch-side on the bounded sink per trigger. The causal " +
        "dashboard shape: every readout re-answers 'does activity " +
        "still LEAD purchases?' from state, never from history. At " +
        "100 TB/day: per-batch deltas are ≤ touched-hours rows",
      Some(graft.operators.EventsOps.grangerSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("ts"), col("event_type"))
      val sink = runToMemory(graft.operators.EventsOps.xyRollup(src))
      graft.operators.EventsOps.grangerOf(
        graft.operators.EventsOps.xySeriesOf(sink))
    },

    Q(
      "q_stream_item_cf",
      "item-item CF maintained INCREMENTALLY — the streaming face of " +
        "q_item_cf, sharing its oracle VERBATIM: per micro-batch the " +
        "NEW (user, item) incidences are isolated by an anti-join " +
        "against the incidence state (cross-batch duplicates never " +
        "double-count), and pair-count state grows ADDITIVELY by the " +
        "set-decomposition invariant — each unordered co-touch pair " +
        "materializes exactly once, when its LATER incidence arrives " +
        "(new×old with new on the left, new×new at i<j). Batches " +
        "split users' items across files, so cross-batch pairs are " +
        "genuinely exercised. The readout (min support, cosine, " +
        "top-3) runs off the catalog²-bounded pair state — at 100 " +
        "TB/day the per-batch cost is new-incidences × per-user " +
        "items and NOTHING ever re-joins the historical incidence; " +
        "support filtering stays at readout so pairs that cross the " +
        "threshold later are never lost",
      Some(graft.operators.GraphOps.itemCfSql),
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull)
      val src = new Stager(ev.schema).stage((0 until 3).map(i =>
        ev.filter(pmod(col("user_id") * 31 + col("item"), lit(3)) === i)): _*)
        .stream(s)
      val scratch = Scratch.dir()
      // State versions key by the micro-batch id (the q_stream_upsert
      // rule): batch N reads v(N−1) and overwrites v(N).
      val version = new java.util.concurrent.atomic.AtomicLong(-1L)
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val ss = batch.sparkSession
          val v = batchId - 1
          val batchUi = batch.distinct()
          val oldUi =
            if (v < 0) batchUi.filter(lit(false))
            else ss.read.parquet(s"$scratch/ui/v$v")
          val newUi = batchUi
            .join(oldUi, Seq("user_id", "item"), "left_anti")
            .localCheckpoint() // read thrice: pairs ×2 + state append
          val a = newUi.select(col("user_id"), col("item").as("ai"))
          val crossOld = a
            .join(oldUi.select(col("user_id"), col("item").as("bi")),
              Seq("user_id"))
            .filter(col("ai") =!= col("bi"))
          val crossNew = a
            .join(newUi.select(col("user_id"), col("item").as("bi")),
              Seq("user_id"))
            .filter(col("ai") < col("bi"))
          val delta = crossOld.unionByName(crossNew)
            .select(least(col("ai"), col("bi")).as("i"),
              greatest(col("ai"), col("bi")).as("j"))
            .groupBy("i", "j").agg(count(lit(1)).as("cij"))
          val pcOld =
            if (v < 0) delta.filter(lit(false))
            else ss.read.parquet(s"$scratch/pc/v$v")
          pcOld.unionByName(delta).groupBy("i", "j")
            .agg(sum(col("cij")).as("cij"))
            .write.mode("overwrite").parquet(s"$scratch/pc/v$batchId")
          oldUi.unionByName(newUi)
            .write.mode("overwrite").parquet(s"$scratch/ui/v$batchId")
          version.set(batchId)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val v = version.get()
      val ui = s.read.parquet(s"$scratch/ui/v$v")
      graft.operators.GraphOps.itemCfFinish(
          s.read.parquet(s"$scratch/pc/v$v"),
          ui.groupBy("item").agg(count(lit(1)).as("c")))
        .orderBy("item", "rk")
    },

    Q(
      "q_stream_logreg",
      "ONLINE LOGISTIC REGRESSION, the honest version — the " +
        "streaming face of q_logreg_irls, sharing its oracle " +
        "VERBATIM: the stream folds the (hour, n, hits) histogram " +
        "as complete-mode state bounded by the 24-cell HOUR DOMAIN " +
        "(sufficient statistics are purely additive — state ≡ the " +
        "batch histogram at any split), and the full 4-round " +
        "Newton/IRLS fit re-runs batch-side on the bounded sink per " +
        "readout. That re-fit is the point: because the model's " +
        "sufficient statistics live in domain-bounded state, every " +
        "trigger can afford the EXACT batch fit — no SGD drift, no " +
        "stale-gradient approximation, the deployed-model updater " +
        "for any GLM whose feature space rolls up (the " +
        "q_stream_moments argument applied to model TRAINING rather " +
        "than monitoring). At 100 TB/day: per-batch state deltas " +
        "are ≤24 rows; the fit is 4 rounds × 24 cells against " +
        "broadcast 1-row state, independent of history",
      Some(graft.operators.EventsOps.logregSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(hour(col("ts")).cast("long").as("x"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("hit"))
      val sink = runToMemory(src.groupBy("x")
        .agg(count(lit(1)).as("n"), sum(col("hit")).as("h")))
      graft.operators.EventsOps.logregFit(sink)
    },

    Q(
      "q_stream_ols",
      "ONLINE MULTIPLE REGRESSION — the streaming face of " +
        "q_ols_multi, sharing its oracle VERBATIM and making the " +
        "'sufficient statistics' claim literal: the ENTIRE model " +
        "state is ONE additive row (the nine exact DECIMAL(38,0) " +
        "moment sums), folded in complete mode, and the centered " +
        "Cramer solve re-runs on it per readout — the exact fit " +
        "after every micro-batch, zero approximation, zero history. " +
        "Beside q_stream_logreg this completes the GLM pair: " +
        "identity link needs one state row, logit needs the x-domain " +
        "histogram — both retrain EXACTLY per trigger because the " +
        "statistics are additive, the property SGD-style online " +
        "learners give up. At 100 TB/day: per-batch state delta is " +
        "one row of partial sums (Spark's partial-agg tree does the " +
        "merge), the solve is O(1)",
      Some(graft.operators.EventsOps.olsSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(hour(col("ts")).cast("long").as("x"),
          dayofweek(col("ts")).cast("long").as("z"),
          round(col("value") * 100, 0).cast("long").as("y"))
      val sink = runToMemory(graft.operators.EventsOps.olsMoments(src))
      graft.operators.EventsOps.olsFinish(sink)
    },

    Q(
      "q_stream_chisq",
      "the event-MIX guardrail run LIVE — the streaming face of " +
        "q_chisq_independence, sharing its oracle VERBATIM: the " +
        "stream folds the (type, arm) contingency cells as " +
        "complete-mode state bounded by the TYPE CATALOG × 2 (counts " +
        "are purely additive — state ≡ the batch cells at any " +
        "slicing), and the grid completion + quantize-then-sum χ² + " +
        "Wilson-Hilferty call re-run batch-side on the bounded sink " +
        "per readout. The live pairing beside q_stream_msprt/" +
        "q_stream_fdr: means monitored always-valid, the MIX " +
        "monitored here — a treatment that shifts WHAT users do " +
        "shows up in this table before any mean moves. The finish " +
        "localCheckpoints the sink (two grid lineages — the " +
        "quantileTeFinish rule). At 100 TB/day: state is #types×2 " +
        "rows, the readout never touches history",
      Some(graft.operators.EventsOps.chisqSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("event_type"), col("user_id"))
      val sink = runToMemory(graft.operators.EventsOps.chisqCells(src))
      graft.operators.EventsOps.chisqFinish(sink)
    },

    Q(
      "q_stream_kruskal",
      "the DISTRIBUTION-LOCATION monitor run LIVE — the streaming " +
        "face of q_kruskal_wallis, sharing its oracle VERBATIM: the " +
        "stream folds the (type, cents) cell rollup as complete-mode " +
        "state bounded by the VALUE-DOMAIN × type catalog (the " +
        "q_stream_quantile_te state class — additive counts, state ≡ " +
        "the batch cells at any slicing), and the doubled-midrank " +
        "rank ANOVA re-runs batch-side on the bounded sink per " +
        "readout. Completes the live nonparametric pair: " +
        "q_stream_quantile_te reads WHERE the distributions sit per " +
        "quantile, this one tests WHETHER their locations differ at " +
        "all — both off the same class of domain-bounded state, both " +
        "exact. At 100 TB/day: state is #types × observed cents " +
        "values; ranking runs on state, never rows",
      Some(graft.operators.EventsOps.kruskalSql),
    ) { (s, dir) =>
      val src = eventsStream(s, dir)
        .select(col("event_type").as("g"),
          round(col("value") * 100, 0).cast("long").as("v"))
      val sink = runToMemory(src.groupBy("g", "v")
        .agg(count(lit(1)).as("c")))
      graft.operators.EventsOps.kruskalFinish(sink)
    },
  )
}
