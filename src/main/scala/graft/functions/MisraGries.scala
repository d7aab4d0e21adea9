package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** MISRA-GRIES heavy-hitter summary (Misra-Gries 1982; mergeability
  * Agarwal-Cormode-Huang-Phillips-Wei-Yi 2013) — the sketch family's
  * GUARANTEED-FREQUENT face: where CMS answers "how often did THIS
  * key occur?" (you must already hold the key), a Misra-Gries state
  * of k counters answers "WHICH keys are frequent?" from state alone,
  * with a deterministic certificate and no RNG anywhere:
  *
  *   true(key) − Δ  ≤  stored(key)  ≤  true(key)      for EVERY key
  *   (absent ⇒ stored = 0), where Δ is the total decrement weight the
  *   sketch CARRIES exactly (`mg_delta`) — so any key with
  *   true(key) > Δ is provably IN the state, and the a-priori bound
  *   Δ·(k+1) ≤ n holds because each decrement step retires k+1
  *   occurrences at once. Both facts gate as hard flags (the
  *   kll_err_bound / FreqDir-shrinkTotal certificate convention);
  *   they survive ANY merge order and partitioning because merges
  *   only add counts key-wise and subtract the (k+1)-th largest
  *   count from all (deltas add — the ACHPWY mergeable-summaries
  *   argument).
  *
  * With ≤ k distinct keys the sketch is EXACT (Δ = 0, stored ≡ true)
  * and its canonical key-sorted serialization is a pure function of
  * the input multiset — merge ≡ one-shot bytes at any split,
  * MisraGriesSpec-pinned. Memory per open group: ≤ k (key, count)
  * entries.
  *
  * Surface: `mg_sketch_agg(key[, k[, weight]])` over string/long/int
  * keys → bytes (the weight column is the (value, count) rollup face:
  * a weighted insert ≡ weight repeated unit inserts, exactly);
  * `mg_merge_agg(sketch[, k])` (the state-table rollup face);
  * scalars `mg_estimate(sk, key)` (BIGINT, 0 when absent),
  * `mg_delta(sk)`, `mg_n(sk)`, and `mg_entries(sk)` — the candidate
  * list itself as array<struct<key, count>>, (count DESC, key)-sorted.
  */
object MisraGries {

  /** Default counters: the heavy-hitter threshold is n/(k+1). */
  val DefaultK: Int = 64

  /** k, the number of counters, in [1, 2^20]. */
  val K: SketchSize = SketchSize("k", 1, 1 << 20)

  /** Counters are stored RAW, relative to a running decrement offset
    * `base`: logical(key) = raw − base, and an entry with raw ≤ base is
    * logically ABSENT (dead) — it keeps its map slot until a later
    * insert needs one. This makes the decrement path O(1) amortized
    * (base += cut) instead of the eager scan-all-k-counters rewrite,
    * which on a near-all-distinct stream costs O(n·k). Dead slots are
    * reclaimed lazily through a min-heap of (raw, key) snapshots with
    * stale-entry skipping; the heap is rebuilt from the map whenever
    * it outgrows 2k+64 entries, so memory stays O(k) and every update
    * is O(log k) amortized. The LOGICAL state transition is identical
    * to the textbook eager algorithm at every step (same stored
    * counts, same Δ), so serialized bytes — which emit only alive
    * entries at their logical counts — are unchanged by this
    * representation. */
  final class State(val k: Int) {
    val counts: mutable.HashMap[String, Long] = mutable.HashMap.empty
    var n: Long = 0L
    var delta: Long = 0L
    private var base: Long = 0L

    private val heapOrd =
      Ordering.by[(Long, String), Long](_._1).reverse // min-heap on raw
    private var heap =
      mutable.PriorityQueue.empty[(Long, String)](heapOrd)

    private def push(raw: Long, key: String): Unit = {
      heap.enqueue((raw, key))
      if (heap.size > 2 * k + 64) rebuildHeap()
    }

    private[functions] def rebuildHeap(): Unit = {
      heap = mutable.PriorityQueue.empty[(Long, String)](heapOrd)
      counts.foreach { case (kk, r) => heap.enqueue((r, kk)) }
    }

    /** Pop stale snapshots; the surviving top is the true minimum raw
      * over the live map (every live raw value was pushed when set). */
    private def heapMin(): (Long, String) = {
      while (heap.nonEmpty && !counts.get(heap.head._2).contains(heap.head._1))
        heap.dequeue()
      heap.head
    }

    /** Alive entries at their logical counts. */
    def logical: Iterator[(String, Long)] =
      counts.iterator.collect { case (kk, r) if r > base => (kk, r - base) }

    def logicalSize: Int = counts.count { case (_, r) => r > base }

    def logicalGet(key: String): Long =
      counts.get(key).map(r => math.max(0L, r - base)).getOrElse(0L)

    def update(key: String): Unit = update(key, 1L)

    /** Weighted insert — EXACTLY equivalent to w repeated unit
      * inserts of the same key (no interleaving can occur inside one
      * call, so the run of decrements collapses to a single cut =
      * min(w, min alive count); whatever remains of w enters the
      * freed slot). This is what makes the (value, count) state-table
      * rollup face bit-compatible with the raw-row face. */
    def update(key: String, w: Long): Unit = {
      require(w >= 0, s"mg weight must be non-negative, got $w")
      if (w == 0) return
      n += w
      counts.get(key) match {
        case Some(r) if r > base =>
          counts.update(key, r + w); push(r + w, key)
        case Some(_) =>
          // Logically absent but still holding its own slot: resurrect.
          counts.update(key, base + w); push(base + w, key)
        case None if counts.size < k =>
          counts.update(key, base + w); push(base + w, key)
        case None =>
          val (mr, mk) = heapMin()
          if (mr <= base) {
            // A dead entry holds a free slot: reclaim it.
            heap.dequeue()
            counts.remove(mk)
            counts.update(key, base + w); push(base + w, key)
          } else {
            // All k slots alive: retire min(w, minAlive) rounds of the
            // (k+1)-way decrement in one batch.
            val cut = math.min(w, mr - base)
            base += cut
            delta += cut
            if (w > cut) {
              // cut == minAlive, so the min entry just died — its slot
              // takes the remainder of the incoming weight.
              heap.dequeue()
              counts.remove(mk)
              counts.update(key, base + (w - cut)); push(base + (w - cut), key)
            }
          }
      }
    }

    /** Rewrite raw values to logical form (base = 0, dead evicted) —
      * the normalization serialization and merge work on. */
    private def normalize(): Unit = {
      if (base > 0L || counts.size > logicalSize) {
        val alive = logical.toArray
        counts.clear()
        alive.foreach { case (kk, c) => counts.update(kk, c) }
        base = 0L
        rebuildHeap()
      }
    }

    /** Key-wise count addition, then one (k+1)-th-largest subtraction
      * if over capacity; deltas add. */
    def merge(o: State): Unit = {
      require(o.k == k,
        s"mg merge requires equal k, got $k vs ${o.k} — build the " +
          "state table and its rollup with the same counters argument")
      normalize()
      n += o.n
      delta += o.delta
      o.logical.foreach { case (kk, c) =>
        counts.update(kk, counts.getOrElse(kk, 0L) + c)
      }
      if (counts.size > k) {
        val sorted = counts.values.toArray
        java.util.Arrays.sort(sorted)
        val cut = sorted(sorted.length - 1 - k) // (k+1)-th largest
        delta += cut
        val dead = mutable.ArrayBuffer.empty[String]
        counts.foreach { case (kk, c) =>
          if (c <= cut) dead += kk else counts.update(kk, c - cut)
        }
        dead.foreach(counts.remove)
      }
      rebuildHeap()
    }
  }

  /** Canonical bytes: k, n, delta, then entries KEY-SORTED (exact-mode
    * sketches become a pure function of the multiset). */
  def serialize(st: State): Array[Byte] = {
    val entries = st.logical.toArray.sortBy(_._1)
    val keyBytes = entries.map(_._1.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(
      4 + 8 + 8 + 4 + keyBytes.map(_.length + 4 + 8).sum)
    bb.putInt(st.k).putLong(st.n).putLong(st.delta)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(keyBytes(i).length)
      bb.put(keyBytes(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  val codec: SketchCodec[State] =
    new SketchCodec[State](serialize, deserialize, _.merge(_))

  def deserialize(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val st = new State(bb.getInt)
    st.n = bb.getLong
    st.delta = bb.getLong
    var c = bb.getInt
    while (c > 0) {
      val kb = new Array[Byte](bb.getInt)
      bb.get(kb)
      st.counts.update(new String(kb, StandardCharsets.UTF_8), bb.getLong)
      c -= 1
    }
    st.rebuildHeap()
    st
  }

  def estimate(bytes: Array[Byte], key: String): Long =
    deserialize(bytes).logicalGet(key)

  /** Stored entries sorted (count DESC, key) — the candidate list the
    * sketch exists to surface, deterministic for fixed state. */
  def entries(bytes: Array[Byte]): Array[(String, Long)] =
    deserialize(bytes).logical.toArray.sortBy { case (k, c) => (-c, k) }

  def delta(bytes: Array[Byte]): Long = deserialize(bytes).delta

  def count(bytes: Array[Byte]): Long = deserialize(bytes).n
}

/** `mg_sketch_agg(key[, k[, weight]])` — build the k-counter summary
  * from raw keys (map-side mergeable: the shuffle carries ≤ k
  * entries). The optional WEIGHT column (long/int, per row) is the
  * (value, count) state-table face: a weighted insert is exactly
  * equivalent to `weight` repeated unit inserts, so sketching a
  * pre-aggregated rollup needs no re-explode to rows — and in the
  * exact window (≤ k distinct keys) the bytes match the raw-row
  * sketch bit-for-bit at any split (canonical serialization). */
case class MgSketchAgg(
    child: Expression,
    kExpr: Expression,
    weightExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends WeightedSketchAgg[MisraGries.State] with TernaryLike[Expression] {
  override def first: Expression = child
  override def second: Expression = kExpr
  override def third: Expression = weightExpr
  override def prettyName: String = "mg_sketch_agg"
  protected def codec: SketchCodec[MisraGries.State] = MisraGries.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(MisraGries.K -> kExpr)
  protected def inputTypes: String = "string, long, or int keys"
  protected def acceptsInput(dt: DataType): Boolean =
    dt == StringType || dt == LongType || dt == IntegerType

  private lazy val k: Int = Sketch.intArg(kExpr)
  override def createAggregationBuffer(): MisraGries.State =
    new MisraGries.State(k)
  protected def insert(buffer: MisraGries.State, v: Any, w: Long): Unit =
    buffer.update(v.toString, w)

  override def withNewMutableAggBufferOffset(newOffset: Int): MgSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): MgSketchAgg =
    copy(child = newFirst, kExpr = newSecond, weightExpr = newThird)
}

object MgSketchAgg {
  def fromArgs(exprs: Seq[Expression]): MgSketchAgg = {
    val Seq(c, k, w) = Sketch.withDefaults("mg_sketch_agg",
      "(key[, k[, weight]])", exprs, Literal(MisraGries.DefaultK), Literal(1L))
    MgSketchAgg(c, k, w)
  }
}

/** `mg_merge_agg(sketch[, k])` — merge already-built summaries (the
  * state-table rollup face). */
case class MgMergeAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[MisraGries.State] with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = kExpr
  override def prettyName: String = "mg_merge_agg"
  protected def codec: SketchCodec[MisraGries.State] = MisraGries.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(MisraGries.K -> kExpr)

  private lazy val k: Int = Sketch.intArg(kExpr)
  override def createAggregationBuffer(): MisraGries.State =
    new MisraGries.State(k)

  override def withNewMutableAggBufferOffset(newOffset: Int): MgMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MgMergeAgg =
    copy(child = newLeft, kExpr = newRight)
}

object MgMergeAgg {
  def fromArgs(exprs: Seq[Expression]): MgMergeAgg = {
    val Seq(c, k) = Sketch.withDefaults("mg_merge_agg", "(sketch[, k])",
      exprs, Literal(MisraGries.DefaultK))
    MgMergeAgg(c, k)
  }
}

/** `mg_estimate(sketch, key)` → stored count (BIGINT; 0 when absent —
  * with the certificate true − Δ ≤ stored ≤ true). */
case class MgEstimate(left: Expression, right: Expression)
    extends SketchProbe("mg_estimate", LongType, Seq(StringType),
      "graft.functions.MisraGries.estimate") {
  protected def read(sketch: Array[Byte], key: Any): Any =
    MisraGries.estimate(sketch, key.toString)
  override protected def probeCode(p: String): String = s"$p.toString()"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MgEstimate =
    copy(left = newLeft, right = newRight)
}

/** `mg_entries(sketch)` → array<struct<key, count>> sorted (count
  * DESC, key) — the candidate list itself, read straight off state
  * (the question the sketch exists to answer; `mg_estimate` needs a
  * key you already hold). Non-codegen by design: it allocates an
  * array of structs per call and runs over #sketch-rows frames, never
  * in a corpus-scan hot path. */
case class MgEntries(child: Expression)
    extends SketchReadout("mg_entries",
      ArrayType(
        StructType(Seq(
          StructField("key", StringType, nullable = false),
          StructField("count", LongType, nullable = false))),
        containsNull = false),
      call = null) with CodegenFallback {
  protected def read(sketch: Array[Byte]): Any =
    new GenericArrayData(MisraGries.entries(sketch).map { case (k, c) =>
      InternalRow(UTF8String.fromString(k), c)
    })
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    super[CodegenFallback].doGenCode(ctx, ev)
  override protected def withNewChildInternal(newChild: Expression): MgEntries =
    copy(child = newChild)
}

/** `mg_delta(sketch)` → the exact carried decrement total Δ. */
case class MgDelta(child: Expression)
    extends SketchReadout("mg_delta", LongType, "graft.functions.MisraGries.delta") {
  protected def read(sketch: Array[Byte]): Any = MisraGries.delta(sketch)
  override protected def withNewChildInternal(newChild: Expression): MgDelta =
    copy(child = newChild)
}

/** `mg_n(sketch)` → exact processed-occurrence count. */
case class MgN(child: Expression)
    extends SketchReadout("mg_n", LongType, "graft.functions.MisraGries.count") {
  protected def read(sketch: Array[Byte]): Any = MisraGries.count(sketch)
  override protected def withNewChildInternal(newChild: Expression): MgN =
    copy(child = newChild)
}
