package graft.streaming

import graft.operators.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming embedding ingestion — the streaming face of the ANN
  * pillar: vectors arriving on a stream are routed to their IVF cell
  * by the SAME [[Ivf.Cells.assign]] (fused `cent_argmin_l2` against the
  * packed-centroid broadcast) the batch path uses
  * (AnnOps.q_simsearch_ivf_learned), so a vector gets the same cell_id
  * whether it arrived in batch or on the stream and the downstream
  * cell-keyed index ingests both.
  *
  * Scale: cell assignment is pure per-row expression work against a
  * broadcast stream-static cross join of ONE packed row — zero
  * streaming state, zero shuffles; the watermark exists only for the
  * downstream sinks that window or dedup.
  *
  * Input schema: `ts TIMESTAMP, vec_id, embedding ARRAY<FLOAT>` from
  * any readStream source; `cents` is the batch-trained centroid table
  * (cent_id, ce) from [[graft.operators.AnnOps.trainKMeans]] or the
  * fixed-iteration training query.
  */
object EmbedStream {

  def assigned(vecs: DataFrame, cents: DataFrame): DataFrame =
    Ivf.Cells(cents, Ivf.L2).assign(vecs.withWatermark("ts", "2 hours"), "cell_id")
      .select(col("ts"), col("vec_id"), col("embedding"), col("cell_id"))
}
