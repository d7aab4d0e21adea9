package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, Intersection, SetOperation, Sketches, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
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
    extends TypedImperativeAggregate[Union] with BinaryLike[Expression] {

  def this(child: Expression) = this(child, Literal(Theta.LgNominalEntries))

  override def left: Expression = child
  override def right: Expression = lgk

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | StringType => Theta.checkLgK(lgk, prettyName)
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_sketch_agg requires long, int, or string, got $other")
  }

  private lazy val nominalEntries: Int =
    1 << lgk.eval().asInstanceOf[Number].intValue()

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_sketch_agg"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setNominalEntries(nominalEntries).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case LongType => buffer.update(v.asInstanceOf[Long])
      case IntegerType => buffer.update(v.asInstanceOf[Int].toLong)
      case StringType => buffer.update(v.toString)
    }
    buffer
  }

  override def merge(buffer: Union, input: Union): Union = {
    buffer.union(input.getResult(false, null))
    buffer
  }

  override def eval(buffer: Union): Any =
    buffer.getResult(true, null).toByteArray

  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult(true, null).toByteArray

  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Sketches.wrapCompactSketch(Memory.wrap(bytes)))
    u
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
  def apply(child: Expression): ThetaSketchAgg = new ThetaSketchAgg(child)

  /** 1-or-2-argument SQL face (the [[graft.Registry]] builder). */
  def fromArgs(exprs: Seq[Expression]): ThetaSketchAgg = exprs match {
    case Seq(c) => new ThetaSketchAgg(c)
    case Seq(c, k) => ThetaSketchAgg(c, k)
    case _ => throw new IllegalArgumentException(
      s"theta_sketch_agg expects (col[, lgK]), got ${exprs.length} arguments")
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
    extends TypedImperativeAggregate[Union] with BinaryLike[Expression] {

  def this(child: Expression) = this(child, Literal(Theta.LgNominalEntries))

  override def left: Expression = child
  override def right: Expression = lgk

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => Theta.checkLgK(lgk, prettyName)
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_union_agg requires binary, got $other")
  }

  private lazy val nominalEntries: Int =
    1 << lgk.eval().asInstanceOf[Number].intValue()

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_union_agg"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setNominalEntries(nominalEntries).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) {
      buffer.union(Sketches.wrapCompactSketch(
        Memory.wrap(v.asInstanceOf[Array[Byte]])))
    }
    buffer
  }
  override def merge(buffer: Union, input: Union): Union = {
    buffer.union(input.getResult(false, null))
    buffer
  }
  override def eval(buffer: Union): Any =
    buffer.getResult(true, null).toByteArray
  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult(true, null).toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Sketches.wrapCompactSketch(Memory.wrap(bytes)))
    u
  }
  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaUnionAgg =
    copy(child = newLeft, lgk = newRight)
}

object ThetaUnionAgg {
  def apply(child: Expression): ThetaUnionAgg = new ThetaUnionAgg(child)

  /** 1-or-2-argument SQL face (the [[graft.Registry]] builder). */
  def fromArgs(exprs: Seq[Expression]): ThetaUnionAgg = exprs match {
    case Seq(c) => new ThetaUnionAgg(c)
    case Seq(c, k) => ThetaUnionAgg(c, k)
    case _ => throw new IllegalArgumentException(
      s"theta_union_agg expects (sketch[, lgK]), got ${exprs.length} arguments")
  }
}

/** `theta_estimate(sketchBytes)` → rounded distinct estimate (BIGINT;
  * exact-mode sketches return the true count). */
case class ThetaEstimate(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_estimate requires binary, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_estimate"
  override def nullSafeEval(input: Any): Any =
    Theta.estimate(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Theta.estimate($c)")
  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** `theta_intersect_estimate(a, b)` → rounded estimate of |A ∩ B|
  * from the two compact sketches alone — the operation HLL state
  * cannot perform. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"theta_intersect_estimate requires (binary, binary), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_intersect_estimate"
  override def nullSafeEval(a: Any, b: Any): Any =
    Theta.intersectEstimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Theta.intersectEstimate($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectEstimate =
    copy(left = newLeft, right = newRight)
}

/** `theta_anotb_estimate(a, b)` → rounded estimate of |A \ B| from
  * the two compact sketches — with intersection, the full set algebra
  * a sketch state table supports. */
case class ThetaAnotBEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"theta_anotb_estimate requires (binary, binary), got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_anotb_estimate"
  override def nullSafeEval(a: Any, b: Any): Any =
    Theta.aNotBEstimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Theta.aNotBEstimate($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaAnotBEstimate =
    copy(left = newLeft, right = newRight)
}

object Theta {

  /** Default lgK = 12 → 4096 nominal entries (the q_hll_partials
    * precedent): exact mode up to ~4k distinct per slice, ~1.6% RSE
    * beyond. Call-site override: `theta_sketch_agg(col, lgK)`. */
  val LgNominalEntries: Int = 12

  /** 4096 nominal entries — kept for callers sizing buffers. */
  val NominalEntries: Int = 1 << LgNominalEntries

  /** The lgK argument must be a foldable INT in DataSketches' valid
    * 4..26 range (shared by both aggregate faces). */
  private[functions] def checkLgK(lgk: Expression,
      fn: String): TypeCheckResult = {
    val typeOk = lgk.dataType == IntegerType || lgk.dataType == LongType
    if (!typeOk || !lgk.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$fn lgK must be a foldable integer, got ${lgk.sql}")
    else {
      val v = lgk.eval()
      if (v == null)
        TypeCheckResult.TypeCheckFailure(s"$fn lgK must not be null")
      else {
        val k = v.asInstanceOf[Number].intValue()
        if (k < 4 || k > 26)
          TypeCheckResult.TypeCheckFailure(
            s"$fn lgK must be in [4, 26], got $k")
        else TypeCheckResult.TypeCheckSuccess
      }
    }
  }

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
