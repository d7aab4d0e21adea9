package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

/** The Catalyst skeleton of graft's five mergeable sketch families —
  * Theta, KLL, Misra-Gries, Count-Min and Frequent Directions. Each is
  * a mergeable summary (Agarwal et al., PODS 2012): a state, a
  * canonical byte codec, and a merge whose result does not depend on
  * how the input was split. A family keeps its state class, codec and
  * kernels; what every family repeated around them lives here once:
  *
  *  - [[SketchAgg]]: the aggregate faces. Non-null BINARY result,
  *    merge, eval/serialize/deserialize through the family's
  *    [[SketchCodec]], and the type check of the input column and of
  *    the foldable size arguments ([[SketchSize]]);
  *  - [[SketchMergeAgg]]: the state-table rollup face over
  *    already-built sketch bytes;
  *  - [[WeightedSketchAgg]]: a build face with a per-row weight column
  *    (the (value, count) rollup face);
  *  - [[SketchReadout]] and [[SketchProbe]]: scalar readouts of sketch
  *    bytes, alone or at a probe value.
  */
object Sketch {

  /** The value of a foldable integer size argument that passed its
    * [[SketchSize]] check. */
  def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** `args` with its missing trailing optional arguments taken from
    * `defaults` — the [[graft.Registry]] face of an aggregate whose
    * first argument is required. Any other count raises the registry's
    * arity error naming the function. */
  def withDefaults(fn: String, usage: String, args: Seq[Expression],
      defaults: Expression*): Seq[Expression] = {
    if (args.isEmpty || args.length > 1 + defaults.length)
      throw new IllegalArgumentException(
        s"$fn expects $usage, got ${args.length} arguments")
    args ++ defaults.drop(args.length - 1)
  }
}

/** A family's canonical byte codec and its in-place merge
  * (`merge(into, from)` folds `from` into `into`). */
final class SketchCodec[S](
    val serialize: S => Array[Byte],
    val deserialize: Array[Byte] => S,
    val merge: (S, S) => Unit)

/** A size argument (`k`, `lgK`, `l`, `w`, `d`): a foldable, non-null
  * integer in `[lo, hi]`. A failure names the function and the
  * argument. */
final case class SketchSize(name: String, lo: Int, hi: Int) {
  def check(fn: String, e: Expression): TypeCheckResult =
    if ((e.dataType != IntegerType && e.dataType != LongType) || !e.foldable)
      TypeCheckFailure(s"$fn $name must be a foldable integer, got ${e.sql}")
    else e.eval() match {
      case null => TypeCheckFailure(s"$fn $name must not be null")
      case v: Number if v.longValue < lo || v.longValue > hi =>
        TypeCheckFailure(s"$fn $name must be in [$lo, $hi], got $v")
      case _ => TypeCheckSuccess
    }
}

/** An aggregate face of a sketch family: state `S` per open group,
  * serialized only at shuffle boundaries (the `hll_sketch_agg` shape),
  * evaluated to the codec's bytes. */
abstract class SketchAgg[S] extends TypedImperativeAggregate[S] {

  /** Raw values for a build face, sketch bytes for a merge face. */
  def child: Expression

  protected def codec: SketchCodec[S]

  /** Each size argument with its range, checked after the input type. */
  protected def sizes: Seq[(SketchSize, Expression)]

  /** The accepted input types, as the type-check error names them. */
  protected def inputTypes: String
  protected def acceptsInput(dt: DataType): Boolean

  override def checkInputDataTypes(): TypeCheckResult =
    if (!acceptsInput(child.dataType))
      TypeCheckFailure(s"$prettyName requires $inputTypes, got ${child.dataType}")
    else sizes.iterator.map { case (s, e) => s.check(prettyName, e) }
      .find(_.isFailure).getOrElse(TypeCheckSuccess)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def merge(buffer: S, input: S): S = {
    codec.merge(buffer, input)
    buffer
  }
  override def eval(buffer: S): Any = serialize(buffer)
  override def serialize(buffer: S): Array[Byte] = codec.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.deserialize(bytes)
}

/** The state-table rollup face: per-slice sketches in, one sketch out.
  * Each non-null input row is deserialized and merged. */
abstract class SketchMergeAgg[S] extends SketchAgg[S] {
  protected def inputTypes: String = "binary"
  protected def acceptsInput(dt: DataType): Boolean = dt == BinaryType

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buffer
    else merge(buffer, deserialize(v.asInstanceOf[Array[Byte]]))
  }
}

/** A build face with a per-row weight column (long or int): a row
  * whose value or weight is null is skipped; the others are inserted
  * with their weight. */
abstract class WeightedSketchAgg[S] extends SketchAgg[S] {
  def weightExpr: Expression

  protected def insert(buffer: S, value: Any, weight: Long): Unit

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case ok if ok.isSuccess &&
          weightExpr.dataType != LongType && weightExpr.dataType != IntegerType =>
        TypeCheckFailure(
          s"$prettyName weight must be long or int, got ${weightExpr.dataType}")
      case r => r
    }

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) {
      val w = weightExpr.eval(input)
      if (w != null) insert(buffer, v, w.asInstanceOf[Number].longValue())
    }
    buffer
  }
}

/** `fn(sketch)` → `resultType`, read by `read` from the sketch bytes.
  * `call` is the static Java method codegen applies to the bytes; a
  * readout that mixes in CodegenFallback passes null. Serializable:
  * Java deserialization needs the first non-serializable superclass to
  * have a no-argument constructor, and this one has none. */
abstract class SketchReadout(fn: String, resultType: DataType, call: String)
    extends UnaryExpression with Serializable {
  protected def read(sketch: Array[Byte]): Any

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckSuccess
    else TypeCheckFailure(s"$fn requires binary, got ${child.dataType}")
  override def dataType: DataType = resultType
  override def prettyName: String = fn
  override def nullSafeEval(input: Any): Any = read(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"$call($s)")
}

/** `fn(sketch, probe)` → `resultType`, with the probe of one of
  * `probeTypes`. `call` is the static Java method codegen applies to
  * the bytes and to the probe as [[probeCode]] adapts it. Serializable
  * for the reason [[SketchReadout]] is. */
abstract class SketchProbe(fn: String, resultType: DataType,
    probeTypes: Seq[DataType], call: String)
    extends BinaryExpression with Serializable {
  protected def read(sketch: Array[Byte], probe: Any): Any

  /** Java source passing the probe's codegen value `p` to `call`. */
  protected def probeCode(p: String): String = p

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && probeTypes.contains(right.dataType))
      TypeCheckSuccess
    else TypeCheckFailure(
      s"$fn requires (binary, ${probeTypes.map(_.simpleString).mkString(" or ")}), " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = resultType
  override def prettyName: String = fn
  override def nullSafeEval(sketch: Any, probe: Any): Any =
    read(sketch.asInstanceOf[Array[Byte]], probe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, p) => s"$call($s, ${probeCode(p)})")
}
