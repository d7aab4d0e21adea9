package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** FREQUENT DIRECTIONS (Liberty 2013; mergeability Ghashami-Liberty-
  * Phillips-Woodruff 2016) — the engine's mergeable SPECTRAL sketch,
  * closing the sketch-family triangle beside theta/CMS/bloom/moments/
  * KLL: an l×d row sketch B of the n×d embedding matrix A with the
  * deterministic PSD sandwich
  *
  *   AᵀA − Δ·I  ⪯  BᵀB  ⪯  AᵀA,      Δ = Σ of all shrinkage deltas,
  *
  * so the top sketch eigenvector's Rayleigh quotient on the TRUE Gram
  * is within Δ of λ₁ — PCA from KB-sized mergeable state. This is the
  * q_embed_pca swap face for the d where the exact d² Gram collect
  * stops being a bounded driver read: FD state is l×d (l ≪ d) and the
  * classic bound Δ ≤ ‖A‖²F/(m−l) holds a priori, but the sketch also
  * CARRIES Δ exactly (`shrinkTotal`), making the sandwich a per-run
  * CERTIFICATE the oracle gate checks as hard flags rather than an
  * asymptotic promise (the kll_err_bound convention).
  *
  * Mechanics: rows buffer into an m=2l row block; when full, the d×d
  * (or rank-bounded) Gram of the block is eigendecomposed (cyclic
  * Jacobi — deterministic, no RNG anywhere), δ = λ_{l+1} is subtracted
  * from every eigenvalue, and the surviving ≤ l directions re-enter as
  * rows √(λᵢ−δ)·vᵢᵀ. Merging stacks two sketches' rows and re-shrinks;
  * deltas ADD, so the certificate stays sound under ANY merge
  * history/partitioning. While Δ = 0 (n ≤ m, or low rank ≤ l) the
  * sketch is EXACT: BᵀB ≡ AᵀA — FreqDirSpec pins exactness at any
  * split, spike recovery under real shrinkage, and the certificate
  * sandwich itself.
  *
  * Memory: one open group holds m·d doubles (l=16, d=64 → 16 KB);
  * each shrink is one O(m·d² + d³) Jacobi on driver-free executor
  * state, amortized over m−l inserts.
  *
  * Surface: `fd_sketch_agg(vecCol[, l[, weight]])` → canonical sketch
  * bytes (the weight column is the (vector, count) rollup face:
  * w duplicates enter as one √w-scaled row, exact Gram semantics);
  * driver-side readers [[FreqDir.cov]], [[FreqDir.topEigen]],
  * [[FreqDir.shrinkTotal]], [[FreqDir.count]] finish the bounded l×d
  * state (the q_embed_pca repeated-squaring precedent: finishing is
  * d-bounded driver work, never data-sized).
  */
object FreqDir {

  /** Default sketch rows: 16 ≪ d=64 exercises real shrinkage on the
    * test corpus; production picks l by the error budget Δ ≤ ‖A‖²F/l. */
  val DefaultL: Int = 16

  /** l in [2, 4096] for both aggregate faces: l = 0 would build a
    * zero-row buffer that throws at the first merge append. */
  val L: SketchSize = SketchSize("l", 2, 4096)

  final class State(val l: Int) {
    val m: Int = 2 * l
    var d: Int = -1
    var rows: Array[Array[Double]] = _
    var used: Int = 0
    var n: Long = 0L
    var shrinkTotal: Double = 0.0
    var shrinks: Long = 0L

    private def ensure(dim: Int): Unit = {
      if (d < 0) { d = dim; rows = new Array[Array[Double]](m) }
      else require(d == dim, s"fd_sketch_agg: vector length $dim != $d")
    }

    private def append(v: Array[Double]): Unit = {
      if (used == m) shrink()
      rows(used) = v
      used += 1
    }

    def insert(v: Array[Double]): Unit = insert(v, 1L)

    /** Weighted insert — the (vector, count) state-table rollup face:
      * w duplicate rows enter as ONE row √w·v, whose outer product is
      * exactly w·vvᵀ, so the sketch's Gram semantics equal the
      * expanded matrix's (a rank-1 update of weight w) at O(d) cost
      * instead of O(w·d). The PSD-sandwich certificate is untouched —
      * its proof only needs appended outer products to sum to AᵀA,
      * not unit granularity. */
    def insert(v: Array[Double], w: Long): Unit = {
      require(w >= 0, s"fd weight must be non-negative, got $w")
      if (w == 0L) return
      ensure(v.length)
      if (w == 1L) append(v)
      else {
        val s = math.sqrt(w.toDouble)
        val scaled = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { scaled(i) = s * v(i); i += 1 }
        append(scaled)
      }
      n += w
    }

    def merge(o: State): Unit = {
      if (o.d < 0) return
      ensure(o.d)
      require(o.l == l,
        s"fd merge requires equal l, got $l vs ${o.l} — build the " +
          "state table and its rollup with the same rows argument")
      n += o.n
      shrinkTotal += o.shrinkTotal
      shrinks += o.shrinks
      var i = 0
      while (i < o.used) { append(o.rows(i)); i += 1 }
    }

    /** Gram of the current rows (d×d, symmetric PSD); 0×0 for a
      * never-updated state (d unknown). */
    def gram(): Array[Array[Double]] = {
      if (d < 0) return Array.ofDim[Double](0, 0)
      val g = Array.ofDim[Double](d, d)
      var r = 0
      while (r < used) {
        val v = rows(r)
        var i = 0
        while (i < d) {
          val vi = v(i)
          if (vi != 0.0) {
            var j = i
            while (j < d) { g(i)(j) += vi * v(j); j += 1 }
          }
          i += 1
        }
        r += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { g(j)(i) = g(i)(j); j += 1 }
        i += 1
      }
      g
    }

    /** Eigendecompose the block Gram, subtract δ = λ_{l+1} from every
      * eigenvalue, keep the ≤ l surviving directions as rows. After
      * this: B'ᵀB' ⪰ BᵀB − δ·I and B'ᵀB' ⪯ BᵀB (the certificate
      * steps), and at least half the buffer is free. */
    def shrink(): Unit = {
      val (vals, vecs) = jacobiEigen(gram())
      val delta = if (l < vals.length) math.max(vals(l), 0.0) else 0.0
      var kept = 0
      var i = 0
      while (i < l && i < vals.length) {
        val lam = vals(i) - delta
        if (lam > 0.0) {
          val s = math.sqrt(lam)
          val row = new Array[Double](d)
          var j = 0
          while (j < d) { row(j) = s * vecs(j)(i); j += 1 }
          rows(kept) = row
          kept += 1
        }
        i += 1
      }
      var k = kept
      while (k < used) { rows(k) = null; k += 1 }
      used = kept
      shrinkTotal += delta
      shrinks += 1
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic, no pivot randomization. Returns eigenvalues
    * sorted DESCENDING and the matching eigenvectors as COLUMNS
    * (vecs(row)(col): component `row` of eigenvector `col`), each
    * sign-canonicalized so the largest-magnitude component is
    * positive. O(sweeps·d³); d is a design constant here. */
  def jacobiEigen(aIn: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var norm = 0.0
    var i = 0
    while (i < d) { norm += a(i)(i) * a(i)(i); i += 1 }
    val tol = 1e-14 * math.max(norm, 1e-300)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > tol) {
      off = 0.0
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              (if (theta >= 0) 1.0 else -1.0) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i)).toArray
    val vals = order.map(i => a(i)(i))
    val vecs = Array.ofDim[Double](d, d)
    var c0 = 0
    while (c0 < d) {
      val src = order(c0)
      var best = 0
      var r = 0
      while (r < d) {
        if (math.abs(v(r)(src)) > math.abs(v(best)(src))) best = r
        r += 1
      }
      val sgn = if (v(best)(src) < 0) -1.0 else 1.0
      r = 0
      while (r < d) { vecs(r)(c0) = sgn * v(r)(src); r += 1 }
      c0 += 1
    }
    (vals, vecs)
  }

  /** Canonical bytes: l, d, n, shrinkTotal, shrinks, used, rows. */
  def serialize(st: State): Array[Byte] = {
    val d = math.max(st.d, 0)
    val bb = ByteBuffer.allocate(4 + 4 + 8 + 8 + 8 + 4 + st.used * 8 * d)
    bb.putInt(st.l).putInt(d).putLong(st.n)
      .putDouble(st.shrinkTotal).putLong(st.shrinks)
    bb.putInt(st.used)
    var r = 0
    while (r < st.used) {
      val row = st.rows(r)
      var j = 0
      while (j < d) { bb.putDouble(row(j)); j += 1 }
      r += 1
    }
    bb.array()
  }

  val codec: SketchCodec[State] =
    new SketchCodec[State](serialize, deserialize, _.merge(_))

  def deserialize(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val st = new State(bb.getInt)
    val d = bb.getInt
    st.n = bb.getLong
    st.shrinkTotal = bb.getDouble
    st.shrinks = bb.getLong
    val used = bb.getInt
    if (d > 0) {
      st.d = d
      st.rows = new Array[Array[Double]](st.m)
      var r = 0
      while (r < used) {
        val row = new Array[Double](d)
        var j = 0
        while (j < d) { row(j) = bb.getDouble; j += 1 }
        st.rows(r) = row
        r += 1
      }
      st.used = used
    }
    st
  }

  // Driver-side finishers over the bounded l×d state.
  def count(bytes: Array[Byte]): Long = deserialize(bytes).n
  def shrinkTotal(bytes: Array[Byte]): Double =
    deserialize(bytes).shrinkTotal
  def cov(bytes: Array[Byte]): Array[Array[Double]] =
    deserialize(bytes).gram()

  /** Top eigenpair (λ₁(BᵀB), unit v₁) of the sketch covariance;
    * (0, empty) for a never-updated state. */
  def topEigen(bytes: Array[Byte]): (Double, Array[Double]) = {
    val st = deserialize(bytes)
    if (st.d <= 0) return (0.0, Array.empty[Double])
    val (vals, vecs) = jacobiEigen(st.gram())
    val v = Array.tabulate(st.d)(r => vecs(r)(0))
    (vals(0), v)
  }
}

/** `fd_sketch_agg(vecCol[, l[, weight]])` — Frequent Directions over
  * an array<float>/array<double> column (map-side mergeable; the
  * shuffle carries l×d blocks, never vectors). The optional WEIGHT
  * column (long/int, per row) is the (vector, count) rollup face:
  * w duplicates enter as one √w-scaled row — exact Gram semantics at
  * O(d) per rollup row, see [[FreqDir.State]]. */
case class FdSketchAgg(
    child: Expression,
    lExpr: Expression,
    weightExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends WeightedSketchAgg[FreqDir.State] with TernaryLike[Expression] {
  override def first: Expression = child
  override def second: Expression = lExpr
  override def third: Expression = weightExpr
  override def prettyName: String = "fd_sketch_agg"
  protected def codec: SketchCodec[FreqDir.State] = FreqDir.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(FreqDir.L -> lExpr)
  protected def inputTypes: String = "array<float>/array<double>"
  protected def acceptsInput(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  private lazy val l: Int = Sketch.intArg(lExpr)
  override def createAggregationBuffer(): FreqDir.State = new FreqDir.State(l)

  protected def insert(buffer: FreqDir.State, v: Any, w: Long): Unit = {
    val arr = v.asInstanceOf[ArrayData]
    val row = new Array[Double](arr.numElements())
    var i = 0
    elemType match {
      case FloatType =>
        while (i < row.length) { row(i) = arr.getFloat(i).toDouble; i += 1 }
      case _ =>
        while (i < row.length) { row(i) = arr.getDouble(i); i += 1 }
    }
    buffer.insert(row, w)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FdSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FdSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): FdSketchAgg =
    copy(child = newFirst, lExpr = newSecond, weightExpr = newThird)
}

object FdSketchAgg {
  def fromArgs(exprs: Seq[Expression]): FdSketchAgg = {
    val Seq(c, l, w) = Sketch.withDefaults("fd_sketch_agg",
      "(vec[, l[, weight]])", exprs, Literal(FreqDir.DefaultL), Literal(1L))
    FdSketchAgg(c, l, w)
  }
}

/** `fd_merge_agg(sketchBytes[, l])` — merge already-built FD sketches
  * (the state-table rollup face every sketch family carries: per-slice
  * l×d blocks in, one block out; deltas ADD, so the certificate
  * survives the rollup). All inputs must carry the same l. */
case class FdMergeAgg(
    child: Expression,
    lExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[FreqDir.State] with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = lExpr
  override def prettyName: String = "fd_merge_agg"
  protected def codec: SketchCodec[FreqDir.State] = FreqDir.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(FreqDir.L -> lExpr)

  private lazy val l: Int = Sketch.intArg(lExpr)
  override def createAggregationBuffer(): FreqDir.State = new FreqDir.State(l)

  override def withNewMutableAggBufferOffset(newOffset: Int): FdMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FdMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FdMergeAgg =
    copy(child = newLeft, lExpr = newRight)
}

object FdMergeAgg {
  def fromArgs(exprs: Seq[Expression]): FdMergeAgg = {
    val Seq(c, l) = Sketch.withDefaults("fd_merge_agg", "(sketch[, l])",
      exprs, Literal(FreqDir.DefaultL))
    FdMergeAgg(c, l)
  }
}
