package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{Intersection, SetOperation, Sketches, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Theta sketches (Apache DataSketches) as engine primitives — the
  * mergeable distinct-count family that, unlike HLL, supports SET
  * INTERSECTION and DIFFERENCE on the sketch state itself. That one
  * property is why this exists beside `hll_sketch_agg`
  * (q_hll_partials): an HLL state table answers "how many distinct
  * users per source?" incrementally, but "how many distinct users do
  * sources A and B SHARE?" forces a raw-data rescan — a theta state
  * table answers it from sketch rows alone (Θ-intersection is
  * estimate-from-state), which at 100 TB is the difference between a
  * KB-sized state join and a corpus shuffle.
  *
  * Determinism (the oracle-gate requirement): theta retention is
  * purely hash-threshold-based (keep h < θ under the fixed default
  * seed), so sketch content, union, intersection, and estimates are
  * all insertion-order-independent — reproducible at any parallelism,
  * like every other hash-routed decision in this engine. Below the
  * nominal-entry budget the sketch is in EXACT mode and the estimate
  * IS the true distinct count.
  *
  * `theta_sketch_agg(col[, lgK])` — TypedImperativeAggregate (the
  * same imperative shape as Spark's own `hll_sketch_agg`: sketch
  * object held per partition, serialized only at shuffle boundaries)
  * → compact sketch bytes. `theta_estimate(bin)` and
  * `theta_intersect_estimate(a, b)` are ordinary codegen'd scalars
  * over the compact form.
  *
  * Memory model (the `hll_sketch_agg` contract, sized per call-site):
  * each OPEN group holds one on-heap Union of ≤ 2^lgK retained
  * hashes, so a grouped aggregation's partition must fit
  * (#groups-in-partition × ~8·2^lgK bytes). The registered state
  * tables group by bounded keys (types, days, sources) where the
  * default lgK=12 (~32 KB ceiling per group) is nothing; a
  * HIGH-CARDINALITY groupBy (per-user sketches, say) should either
  * drop lgK — `theta_sketch_agg(col, 8)` holds exact counts to 256
  * per group at 1/16th the ceiling — or raise
  * `spark.sql.shuffle.partitions` so fewer groups land per task.
  */
case class ThetaSketchAgg(
    child: Expression,
    lgk: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[Union] with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = lgk
  override def prettyName: String = "theta_sketch_agg"
  protected def inputTypes: String = "long, int, or string"
  protected def acceptsInput(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == StringType
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(Theta.LgK -> lgk)

  private lazy val nominalEntries = 1 << Sketch.intArg(lgk)
  @transient protected lazy val codec: SketchCodec[Union] = Theta.codec(nominalEntries)
  override def createAggregationBuffer(): Union = Theta.union(nominalEntries)

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case LongType => buffer.update(v.asInstanceOf[Long])
      case IntegerType => buffer.update(v.asInstanceOf[Int].toLong)
      case StringType => buffer.update(v.toString)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaSketchAgg =
    copy(child = newLeft, lgk = newRight)
}

object ThetaSketchAgg {
  /** 1-or-2-argument SQL face (the [[graft.Registry]] builder). */
  def fromArgs(exprs: Seq[Expression]): ThetaSketchAgg = {
    val Seq(c, k) = Sketch.withDefaults("theta_sketch_agg", "(col[, lgK])",
      exprs, Literal(Theta.LgNominalEntries))
    ThetaSketchAgg(c, k)
  }
}

/** `theta_union_agg(sketchBytes[, lgK])` — merges already-built
  * compact sketches (the state-table rollup face: per-slice partials
  * in, one sketch out — the `hll_union_agg` counterpart). The lgK
  * bounds the MERGED result; it may be smaller than the inputs' (the
  * union downsamples exactly per the theta algebra). */
case class ThetaUnionAgg(
    child: Expression,
    lgk: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[Union] with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = lgk
  override def prettyName: String = "theta_union_agg"
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(Theta.LgK -> lgk)

  private lazy val nominalEntries = 1 << Sketch.intArg(lgk)
  @transient protected lazy val codec: SketchCodec[Union] = Theta.codec(nominalEntries)
  override def createAggregationBuffer(): Union = Theta.union(nominalEntries)

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaUnionAgg =
    copy(child = newLeft, lgk = newRight)
}

object ThetaUnionAgg {
  /** 1-or-2-argument SQL face (the [[graft.Registry]] builder). */
  def fromArgs(exprs: Seq[Expression]): ThetaUnionAgg = {
    val Seq(c, k) = Sketch.withDefaults("theta_union_agg", "(sketch[, lgK])",
      exprs, Literal(Theta.LgNominalEntries))
    ThetaUnionAgg(c, k)
  }
}

/** `theta_estimate(sketchBytes)` → rounded distinct estimate (BIGINT;
  * exact-mode sketches return the true count). */
case class ThetaEstimate(child: Expression)
    extends SketchReadout("theta_estimate", LongType, "graft.functions.Theta.estimate") {
  protected def read(sketch: Array[Byte]): Any = Theta.estimate(sketch)
  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** `theta_intersect_estimate(a, b)` → rounded estimate of |A ∩ B|
  * from the two compact sketches alone — the operation HLL state
  * cannot perform. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends SketchProbe("theta_intersect_estimate", LongType, Seq(BinaryType),
      "graft.functions.Theta.intersectEstimate") {
  protected def read(a: Array[Byte], b: Any): Any =
    Theta.intersectEstimate(a, b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectEstimate =
    copy(left = newLeft, right = newRight)
}

/** `theta_anotb_estimate(a, b)` → rounded estimate of |A \ B| from
  * the two compact sketches — with intersection, the full set algebra
  * a sketch state table supports. */
case class ThetaAnotBEstimate(left: Expression, right: Expression)
    extends SketchProbe("theta_anotb_estimate", LongType, Seq(BinaryType),
      "graft.functions.Theta.aNotBEstimate") {
  protected def read(a: Array[Byte], b: Any): Any =
    Theta.aNotBEstimate(a, b.asInstanceOf[Array[Byte]])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaAnotBEstimate =
    copy(left = newLeft, right = newRight)
}

object Theta {

  /** Default lgK = 12 → 4096 nominal entries (the q_hll_partials
    * precedent): exact mode up to ~4k distinct per slice, ~1.6% RSE
    * beyond. Call-site override: `theta_sketch_agg(col, lgK)`. */
  val LgNominalEntries: Int = 12

  /** lgK must lie in DataSketches' valid 4..26 range (shared by both
    * aggregate faces). */
  val LgK: SketchSize = SketchSize("lgK", 4, 26)

  /** The union state at `nominalEntries`, the budget of every result. */
  def union(nominalEntries: Int): Union =
    SetOperation.builder().setNominalEntries(nominalEntries).buildUnion()

  /** Compact-sketch bytes in and out; merge is the theta union. */
  def codec(nominalEntries: Int): SketchCodec[Union] = new SketchCodec[Union](
    _.getResult(true, null).toByteArray,
    bytes => {
      val u = union(nominalEntries)
      u.union(Sketches.wrapCompactSketch(Memory.wrap(bytes)))
      u
    },
    (into, from) => into.union(from.getResult(false, null)))

  def estimate(bytes: Array[Byte]): Long =
    Math.round(Sketches.wrapCompactSketch(Memory.wrap(bytes)).getEstimate)

  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Long = {
    val i: Intersection = SetOperation.builder().buildIntersection()
    i.intersect(Sketches.wrapCompactSketch(Memory.wrap(a)))
    i.intersect(Sketches.wrapCompactSketch(Memory.wrap(b)))
    Math.round(i.getResult(true, null).getEstimate)
  }

  def aNotBEstimate(a: Array[Byte], b: Array[Byte]): Long = {
    val d = SetOperation.builder().buildANotB()
    d.setA(Sketches.wrapCompactSketch(Memory.wrap(a)))
    d.notB(Sketches.wrapCompactSketch(Memory.wrap(b)))
    Math.round(d.getResult(true, null, true).getEstimate)
  }
}
