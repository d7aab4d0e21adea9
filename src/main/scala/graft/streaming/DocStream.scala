package graft.streaming

import graft.functions.SimHash60
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus ingestion — the streaming face of the dedup +
  * text-quality pillars: documents arriving on a stream are quality-
  * filtered, exact-deduplicated by content hash within the watermark,
  * and annotated with the same 60-bit SimHash signature and LSH bands
  * the batch near-dup operators key on (DedupOps.q_dedup_simhash), so
  * a downstream band-keyed join/dedup sees identical keys whether a
  * doc arrived in batch or on the stream.
  *
  * Scale: the quality filter and signature are per-row expression work
  * on the stream; dedup state is one (hash → seen) entry per document
  * inside the 2h watermark — bounded by arrival rate × window, freed
  * by watermark GC, never by history size.
  *
  * Input schema: `ts TIMESTAMP, doc_id, text` from any readStream
  * source.
  */
object DocStream {

  def ingest(docs: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), " ", -1)
    // Tokens ride a named column: the simhash60 Column API quotes its
    // argument as an identifier (it is a column NAME, not raw SQL).
    val sig = SimHash60.simhash60("__graft_toks")
    val withSig = docs
      .withWatermark("ts", "2 hours")
      .filter(length(col("text")) >= 50 && size(toks) >= 5)
      .withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("__graft_toks", toks)
      .withColumn("sig", sig)
      .drop("__graft_toks")
    // Same 15-bit band slicing as the batch LSH (4 bands over 60 bits).
    val banded = (0 until 4).foldLeft(withSig) { (df, b) =>
      df.withColumn(s"band$b",
        shiftright(col("sig"), b * 15).bitwiseAND(lit((1L << 15) - 1)))
    }
    banded.dropDuplicatesWithinWatermark("content_hash")
  }

  /** Streaming incremental dedup against a STATIC base corpus — the
    * streaming face of q_dedup_incremental: documents arriving on the
    * stream are deduplicated within the stream (watermark-bounded
    * state, exactly like [[ingest]]) and then anti-joined against the
    * base corpus's content-hash table, so only genuinely-new content
    * survives to the sink. The base side is a batch frame (in
    * production: the persisted hash index of yesterday's corpus);
    * stream–static joins re-plan the static side per micro-batch, so
    * a broadcast-sized hash index probes for free and a larger one
    * degrades to a keyed lookup join — never a stateful stream join.
    * Emitted columns are pure functions of the surviving text
    * (hash + length), so within-stream dedup arrival races cannot
    * affect a byte.
    */
  def dedupAgainstBase(docs: DataFrame, baseHashes: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "2 hours")
      .select(col("ts"), sha2(col("text"), 256).as("content_hash"),
        length(col("text")).cast("long").as("n_chars"))
      .dropDuplicatesWithinWatermark("content_hash")
      .join(baseHashes, Seq("content_hash"), "left_anti")
      .select("content_hash", "n_chars")
}
