package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, QuaternaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** COUNT-MIN sketch (Cormode & Muthukrishnan 2005) as engine
  * primitives — the frequency-estimation sketch beside the engine's
  * distinct-count family (theta/HLL) and quantile/moment sketches.
  * Where theta answers "how many distinct?", CMS answers "about how
  * often does THIS key occur?" from KB-sized state, with the
  * one-sided guarantee est ≥ true always and est ≤ true + εN with
  * probability ≥ 1 − (1/e)^d (ε = e/w) — the right shape for
  * heavy-hitter monitoring over streams and shards without a
  * per-key state table.
  *
  * The property that makes it a DISTRIBUTED primitive: CMS is a
  * LINEAR sketch. sketch(A ⊎ B) = sketch(A) + sketch(B) elementwise,
  * EXACTLY — merge is integer addition, so the aggregate is
  * byte-identical at any partitioning, parallelism, or merge order
  * (stronger than theta's order-independence: not just the same
  * estimate, the same state). CmsSpec pins byte equality across
  * repartitionings and the never-underestimate guarantee under
  * forced collisions (w = 4).
  *
  * Hashing: d independent rows via the splitmix64 finalizer over
  * (key + row·golden-gamma) — public-domain mixing, deterministic
  * everywhere, no seed tables to ship. Keys are LONG/INT (the id
  * domain this engine monitors).
  *
  * Memory model (the theta_sketch_agg contract): each OPEN group
  * holds d·w longs — 128 KB at the default (4096, 4). Registered
  * call sites aggregate globally or by bounded keys; a
  * high-cardinality groupBy should shrink w per call
  * (`cms_sketch_agg(col, 512, 4)` = 16 KB/group) or raise shuffle
  * partitions.
  *
  * Serialized form: [w:int][d:int][d·w longs], big-endian — parsed
  * by `cms_estimate` and re-added by `cms_merge_agg` (the state-table
  * rollup face).
  */
object CountMin {

  /** Default width/depth: ε = e/4096 ≈ 0.07%, δ = e^−4 ≈ 1.8%. */
  val DefaultW = 4096
  val DefaultD = 4

  /** Width w in [4, 2^22] and depth d in [1, 16]. */
  val W: SketchSize = SketchSize("w", 4, 1 << 22)
  val D: SketchSize = SketchSize("d", 1, 16)

  private val GoldenGamma = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer over (x + (row+1)·γ) → bucket in [0, w). */
  def idx(row: Int, x: Long, w: Int): Int = {
    var z = x + (row + 1) * GoldenGamma
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    ((z & Long.MaxValue) % w).toInt
  }

  /** Counts state: header [w, d] then d·w counters. */
  def newState(w: Int, d: Int): Array[Long] = {
    val a = new Array[Long](2 + w * d)
    a(0) = w
    a(1) = d
    a
  }

  def add(state: Array[Long], x: Long): Unit = add(state, x, 1L)

  /** Weighted insert — the (value, count) state-table rollup face.
    * Linearity makes this trivially exact: counters += wt is
    * byte-identical to wt repeated unit inserts, at any partitioning
    * or merge order. */
  def add(state: Array[Long], x: Long, wt: Long): Unit = {
    require(wt >= 0, s"cms weight must be non-negative, got $wt")
    val w = state(0).toInt
    val d = state(1).toInt
    var r = 0
    while (r < d) {
      state(2 + r * w + idx(r, x, w)) += wt
      r += 1
    }
  }

  /** Elementwise add (the linear-sketch merge); shapes must agree. */
  def addAll(into: Array[Long], from: Array[Long]): Unit = {
    require(into(0) == from(0) && into(1) == from(1),
      s"cms shape mismatch: (${into(0)},${into(1)}) vs (${from(0)},${from(1)})")
    var i = 2
    while (i < into.length) { into(i) += from(i); i += 1 }
  }

  def toBytes(state: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(state.length * 8)
    state.foreach(bb.putLong)
    bb.array()
  }

  val codec: SketchCodec[Array[Long]] =
    new SketchCodec[Array[Long]](toBytes, fromBytes, addAll)

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val a = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < a.length) { a(i) = bb.getLong(); i += 1 }
    a
  }

  /** Point estimate: min over the d rows (static for codegen). */
  def estimate(bytes: Array[Byte], x: Long): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val w = bb.getLong(0).toInt
    val d = bb.getLong(8).toInt
    var best = Long.MaxValue
    var r = 0
    while (r < d) {
      val c = bb.getLong((2 + r * w + idx(r, x, w)) * 8)
      if (c < best) best = c
      r += 1
    }
    best
  }
}

/** `cms_sketch_agg(key[, w, d[, weight]])` → CMS bytes over LONG/INT
  * keys. The optional WEIGHT column (long/int, per row) is the
  * (value, count) state-table rollup face — linearity makes the
  * weighted sketch byte-identical to the raw-row sketch, always. */
case class CmsSketchAgg(
    child: Expression,
    w: Expression,
    d: Expression,
    weightExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends WeightedSketchAgg[Array[Long]] with QuaternaryLike[Expression] {
  override def first: Expression = child
  override def second: Expression = w
  override def third: Expression = d
  override def fourth: Expression = weightExpr
  override def prettyName: String = "cms_sketch_agg"
  protected def codec: SketchCodec[Array[Long]] = CountMin.codec
  protected def sizes: Seq[(SketchSize, Expression)] =
    Seq(CountMin.W -> w, CountMin.D -> d)
  protected def inputTypes: String = "a long or int key"
  protected def acceptsInput(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType

  private lazy val wv = Sketch.intArg(w)
  private lazy val dv = Sketch.intArg(d)
  override def createAggregationBuffer(): Array[Long] =
    CountMin.newState(wv, dv)
  protected def insert(buffer: Array[Long], v: Any, wt: Long): Unit =
    CountMin.add(buffer, v.asInstanceOf[Number].longValue(), wt)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): CmsSketchAgg =
    copy(child = newFirst, w = newSecond, d = newThird,
      weightExpr = newFourth)
}

object CmsSketchAgg {
  def fromArgs(exprs: Seq[Expression]): CmsSketchAgg = exprs match {
    case Seq(c) => CmsSketchAgg(c, Literal(CountMin.DefaultW),
      Literal(CountMin.DefaultD), Literal(1L))
    case Seq(c, w, d) => CmsSketchAgg(c, w, d, Literal(1L))
    case Seq(c, w, d, wt) => CmsSketchAgg(c, w, d, wt)
    case _ => throw new IllegalArgumentException(
      s"cms_sketch_agg expects (key[, w, d[, weight]]), got ${exprs.length} arguments")
  }
}

/** `cms_merge_agg(cmsBytes)` — exact elementwise-sum rollup of
  * already-built sketches (the state-table face; linearity makes this
  * the one sketch whose rollup loses NOTHING vs resketching raw). */
case class CmsMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[Array[Long]] with UnaryLike[Expression] {
  override def prettyName: String = "cms_merge_agg"
  protected def codec: SketchCodec[Array[Long]] = CountMin.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Nil

  /** Empty marker; adopts the first input's shape. */
  override def createAggregationBuffer(): Array[Long] = Array.empty[Long]

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other.clone()
    else super.merge(buffer, other)
  /** Zero input sketches roll up to the default-shape zero sketch. */
  override def eval(buffer: Array[Long]): Any =
    CountMin.toBytes(if (buffer.isEmpty)
      CountMin.newState(CountMin.DefaultW, CountMin.DefaultD) else buffer)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsMergeAgg =
    copy(child = newChild)
}

/** `cms_estimate(cmsBytes, key)` → min-over-rows count estimate
  * (≥ true count always; ≤ true + e·N/w with prob 1 − e^−d). */
case class CmsEstimate(left: Expression, right: Expression)
    extends SketchProbe("cms_estimate", LongType, Seq(LongType, IntegerType),
      "graft.functions.CountMin.estimate") {
  protected def read(sketch: Array[Byte], key: Any): Any =
    CountMin.estimate(sketch, key.asInstanceOf[Number].longValue())
  override protected def probeCode(p: String): String = s"(long)$p"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}
