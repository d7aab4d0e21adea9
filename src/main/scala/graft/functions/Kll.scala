package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, TernaryLike}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** KLL-style mergeable RANK/QUANTILE sketch — the engine's missing
  * sketch face beside theta (distinct), CMS (frequency), bloom
  * (membership), and moments: the one that answers "what is p99?" and
  * "what rank is x?" from mergeable KB-sized state, which at 100 TB
  * replaces the exact per-group percentile sorts that q_quantiles /
  * q_equidepth_hist / q_mad_outliers documented as "swap for a KLL
  * sketch at scale" — prose this file turns into code (q_kll_quantiles,
  * q_equidepth_kll, q_mad_kll, q_stream_kll are the wired swap sites).
  *
  * == Structure (Karnin-Lang-Liberty 2016 / Manku-Rajagopalan-Lindsay
  * 1998 lineage, rebuilt from the published algorithm) ==
  *
  * Levels of value buffers; an item at level l carries weight 2^l.
  * Inserts land in level 0; when a level reaches the capacity k it
  * COMPACTS: sort, promote every other item to the level above (each
  * survivor's doubled weight represents a dropped neighbor), keeping
  * one item behind when the count is odd so total weight is conserved
  * exactly — `kll_n(sketch)` always equals the true item count, at any
  * partitioning (KllSpec pins it). We use UNIFORM level capacity k
  * (the MRL compactor) rather than KLL's geometrically-decaying
  * capacities, because uniform capacities carry a DETERMINISTIC
  * worst-case bound — each compaction at level l perturbs any rank by
  * at most 2^l, and at most n/(k·2^l) compactions ever fire at level
  * l, so the total normalized rank error is bounded by
  *
  *   ε  ≤  numLevels / (k−1)  ≈  (log2(n/k) + 1) / k
  *
  * with NO probabilistic qualifier — which is what lets the oracle
  * gate pin sketch quality as hard 0/1 flags (`kll_err_bound` exposes
  * this bound, plus one max-item-weight quantum for the threshold
  * crossing at query time). KLL's random compaction coin buys better
  * CONSTANTS w.h.p., not a better worst case; this engine trades it
  * away for reproducibility.
  *
  * == Determinism (the oracle-gate requirement) ==
  *
  * There is NO RNG anywhere: the compaction offset (keep odd vs even
  * positions) is the md5 parity of the compacted buffer's content
  * (level, count, end values, state counters) — the engine's hash-
  * seeded-decision convention (q_ab_test arms, theta retention). Two
  * consequences, both KllSpec-pinned:
  *
  *  - For a FIXED input split, sketch bytes, quantiles, ranks, and
  *    flags are bit-reproducible across runs — re-running the gate
  *    can never flip a flag.
  *  - In the EXACT window (no compaction has fired: n per group ≤ k,
  *    and for merges, every level stays under k) the sketch retains
  *    every item, `kll_is_exact` is true, quantiles are the true
  *    discrete quantiles, and the serialized form is CANONICAL
  *    (levels sort before serialization) — so merge ≡ one-shot
  *    byte-for-byte at ANY partitioning. Beyond the window, merged
  *    content legitimately depends on how the data was split (true of
  *    every compacting rank sketch, DataSketches' included); what
  *    survives arbitrary re-partitioning is the ε bound and exact n —
  *    the contract the registry flags check.
  *
  * == Memory model (the theta_sketch_agg call-site-budget contract) ==
  *
  * Each OPEN group holds < k·numLevels doubles ≈ k·(log2(n/k)+1)·8 B
  * (default k=1024, n=1e12 → ~250 KB ceiling). Grouped aggregations
  * over bounded keys (types, days, flags) are nothing; a HIGH-
  * CARDINALITY groupBy should drop k — `kll_sketch_agg(col, 64)`
  * holds exact ranks to 64 per group at a ~3 KB ceiling — or raise
  * shuffle partitions so fewer groups land per task.
  *
  * Surface: `kll_sketch_agg(col[, k[, weight]])` → binary (the weight
  * column is the (value, count) rollup face: binary-decomposed
  * O(log w) insert, exact n conservation, same certificate);
  * `kll_merge_agg(sketch[, k])` (the state-table rollup face);
  * scalars `kll_quantile(sk, q)`, `kll_rank(sk, x)`, `kll_n(sk)`,
  * `kll_is_exact(sk)`, `kll_err_bound(sk)`.
  */
object Kll {

  /** Default level capacity: ~1% deterministic worst-case rank error
    * at n = 1e9 per group, ~250 KB per open group at n = 1e12. */
  val DefaultK: Int = 1024

  /** k, the uniform level capacity, in [8, 2^20]. */
  val K: SketchSize = SketchSize("k", 8, 1 << 20)

  /** Mutable aggregation state: value buffers per level, weight 2^l.
    * Buffers are UNSORTED between compactions (sorting happens at
    * compaction and serialization), so update() is amortized O(1) +
    * the O(k log k) sort every k-th insert. */
  final class State(val k: Int) {
    var n: Long = 0L
    var compactions: Long = 0L
    val levels: ArrayBuffer[ArrayBuffer[Double]] =
      ArrayBuffer(new ArrayBuffer[Double])

    def update(v: Double): Unit = {
      levels(0) += v
      n += 1
      if (levels(0).length >= k) compact(0)
    }

    /** Weighted insert — the (value, count) state-table rollup face.
      * The weight decomposes in binary: bit b set ⇒ one copy of v at
      * level b (weight 2^b), so the cost is O(log w) not O(w), total
      * weight is conserved exactly (kll_n stays exact), and because
      * every planted copy carries the SAME value, a zero-compaction
      * sketch still answers true quantiles/ranks of the expanded
      * multiset. The deterministic error bound is untouched: error
      * comes only from compactions, and a level-l compaction still
      * consumes ≥ (k−1)·2^l weight regardless of whether that weight
      * arrived by promotion or by direct weighted insert. */
    def update(v: Double, w: Long): Unit = {
      require(w >= 0, s"kll weight must be non-negative, got $w")
      if (w == 0L) return
      n += w
      var rest = w
      var l = 0
      while (rest != 0L) {
        if ((rest & 1L) == 1L) {
          while (l >= levels.length) levels += new ArrayBuffer[Double]
          levels(l) += v
          if (levels(l).length >= k) compact(l)
        }
        rest >>>= 1
        l += 1
      }
    }

    /** Sort level l, keep the max behind on odd counts (weight
      * conservation), promote every other item of the even prefix to
      * level l+1 starting at the hash-parity offset, cascade. */
    private def compact(l: Int): Unit = {
      val buf = levels(l)
      if (buf.length < 2) return
      val arr = buf.toArray
      java.util.Arrays.sort(arr)
      buf.clear()
      val even = arr.length & ~1
      if (arr.length > even) buf += arr(arr.length - 1)
      if (l + 1 == levels.length) levels += new ArrayBuffer[Double]
      val off = offsetBit(l, even, arr(0), arr(even - 1), n, compactions)
      val up = levels(l + 1)
      var i = off
      while (i < even) { up += arr(i); i += 2 }
      compactions += 1
      if (up.length >= k) compact(l + 1)
    }

    /** Level-wise concatenation, then compact any level at/over
      * capacity bottom-up (a level-l compaction can only grow l+1,
      * which the ascending sweep visits next). */
    def merge(o: State): Unit = {
      require(o.k == k,
        s"kll merge requires equal k, got $k vs ${o.k} — build the " +
          "state table and its rollup with the same capacity argument")
      n += o.n
      compactions += o.compactions
      var l = 0
      while (l < o.levels.length) {
        if (l == levels.length) levels += new ArrayBuffer[Double]
        levels(l) ++= o.levels(l)
        l += 1
      }
      l = 0
      while (l < levels.length) {
        if (levels(l).length >= k) compact(l)
        l += 1
      }
    }
  }

  /** Deterministic compaction coin: md5 parity of the compaction's
    * content — the engine's hash-seeded-decision convention. Any
    * 0/1 sequence preserves the worst-case ε bound; hashing (vs a
    * constant) avoids adversarial alignment with sorted runs. */
  private def offsetBit(level: Int, count: Int, first: Double,
      last: Double, n: Long, compactions: Long): Int = {
    val bb = ByteBuffer.allocate(48)
    bb.putInt(level).putInt(count)
      .putLong(java.lang.Double.doubleToLongBits(first))
      .putLong(java.lang.Double.doubleToLongBits(last))
      .putLong(n).putLong(compactions)
    MessageDigest.getInstance("MD5").digest(bb.array())(0) & 1
  }

  /** Canonical bytes: k, n, compactions, then each level SORTED.
    * Sorting makes exact-window sketches a pure function of the
    * input multiset (merge ≡ one-shot, KllSpec-pinned). */
  def serialize(st: State): Array[Byte] = {
    val lvls = st.levels.map { b =>
      val a = b.toArray; java.util.Arrays.sort(a); a
    }
    val bb = ByteBuffer.allocate(
      4 + 8 + 8 + 4 + lvls.map(a => 4 + 8 * a.length).sum)
    bb.putInt(st.k).putLong(st.n).putLong(st.compactions)
    bb.putInt(lvls.length)
    lvls.foreach { a =>
      bb.putInt(a.length)
      a.foreach(bb.putDouble)
    }
    bb.array()
  }

  val codec: SketchCodec[State] =
    new SketchCodec[State](serialize, deserialize, _.merge(_))

  def deserialize(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val st = new State(bb.getInt)
    st.n = bb.getLong
    st.compactions = bb.getLong
    val nl = bb.getInt
    var l = 0
    while (l < nl) {
      if (l == st.levels.length) st.levels += new ArrayBuffer[Double]
      val c = bb.getInt
      var i = 0
      while (i < c) { st.levels(l) += bb.getDouble; i += 1 }
      l += 1
    }
    st
  }

  /** Retained (value, weight) pairs sorted by value. */
  private def weighted(st: State): Array[(Double, Long)] = {
    val out = new ArrayBuffer[(Double, Long)]
    var l = 0
    while (l < st.levels.length) {
      val w = 1L << l
      st.levels(l).foreach(v => out += ((v, w)))
      l += 1
    }
    out.sortBy(_._1).toArray
  }

  /** Smallest retained value whose cumulative weight reaches
    * ceil(q·n) (clamped to [1, n]) — the discrete lower quantile; in
    * the exact window this is the true q-th order statistic. */
  def quantile(bytes: Array[Byte], q: Double): Double = {
    val st = deserialize(bytes)
    if (st.n == 0) return Double.NaN
    val target = math.min(st.n,
      math.max(1L, math.ceil(q * st.n).toLong))
    val ws = weighted(st)
    var cum = 0L
    var i = 0
    while (i < ws.length) {
      cum += ws(i)._2
      if (cum >= target) return ws(i)._1
      i += 1
    }
    ws(ws.length - 1)._1
  }

  /** Normalized rank: (retained weight ≤ x) / n. */
  def rank(bytes: Array[Byte], x: Double): Double = {
    val st = deserialize(bytes)
    if (st.n == 0) return Double.NaN
    var w = 0L
    var l = 0
    while (l < st.levels.length) {
      val lw = 1L << l
      st.levels(l).foreach(v => if (v <= x) w += lw)
      l += 1
    }
    w.toDouble / st.n
  }

  def count(bytes: Array[Byte]): Long = deserialize(bytes).n

  def isExact(bytes: Array[Byte]): Boolean =
    deserialize(bytes).compactions == 0L

  /** Deterministic normalized rank-error bound ε for the CDF BRACKET
    * contract this sketch guarantees at v = kll_quantile(sk, q):
    *
    *   P(x < v) ≤ q + ε   and   P(x ≤ v) ≥ q − ε
    *
    * (duplicate-safe on both sides — with heavy ties P(x ≤ v) may
    * legitimately exceed q by the tie mass, which is why the upper
    * side brackets the STRICT rank), and |kll_rank(sk, x) − true
    * P(≤ x)| ≤ ε for any x. ε = numLevels/(k−1) + 2/n: each
    * compaction at level l perturbs any rank by ≤ 2^l and consumes
    * ≥ (k−1)·2^l weight, so ≤ n/((k−1)·2^l) ever fire per level; the
    * 2/n is ceil-target granularity. Sound for ANY merge/partitioning
    * history — the quantity the registry rows' hard flags compare
    * true ranks against. */
  def errBound(bytes: Array[Byte]): Double = {
    val st = deserialize(bytes)
    if (st.n == 0) 0.0
    else if (st.compactions == 0L) 2.0 / st.n
    else st.levels.length.toDouble / (st.k - 1) + 2.0 / st.n
  }
}

/** `kll_sketch_agg(col[, k[, weight]])` — build a rank sketch from raw
  * numeric values (the map-side-mergeable shape: per-partition State
  * objects, serialized only at shuffle boundaries). The optional
  * WEIGHT column (long/int, per row) is the (value, count) state-table
  * rollup face — see [[Kll.State.update(v:Double,w:Long)*]]: O(log w)
  * per insert, exact n conservation, and the same deterministic error
  * certificate (`kll_err_bound`) as the raw-row face. */
case class KllSketchAgg(
    child: Expression,
    kExpr: Expression,
    weightExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends WeightedSketchAgg[Kll.State] with TernaryLike[Expression] {
  override def first: Expression = child
  override def second: Expression = kExpr
  override def third: Expression = weightExpr
  override def prettyName: String = "kll_sketch_agg"
  protected def codec: SketchCodec[Kll.State] = Kll.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(Kll.K -> kExpr)
  protected def inputTypes: String = "a numeric column"
  protected def acceptsInput(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType => true
    case _ => false
  }

  private lazy val k: Int = Sketch.intArg(kExpr)
  override def createAggregationBuffer(): Kll.State = new Kll.State(k)
  protected def insert(buffer: Kll.State, v: Any, w: Long): Unit =
    buffer.update(v.asInstanceOf[Number].doubleValue(), w)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): KllSketchAgg =
    copy(child = newFirst, kExpr = newSecond, weightExpr = newThird)
}

object KllSketchAgg {
  def fromArgs(exprs: Seq[Expression]): KllSketchAgg = {
    val Seq(c, k, w) = Sketch.withDefaults("kll_sketch_agg",
      "(col[, k[, weight]])", exprs, Literal(Kll.DefaultK), Literal(1L))
    KllSketchAgg(c, k, w)
  }
}

/** `kll_merge_agg(sketchBytes[, k])` — merge already-built sketches
  * (the state-table rollup face: per-slice partials in, one sketch
  * out). All inputs must carry the same k as the argument. */
case class KllMergeAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[Kll.State] with BinaryLike[Expression] {
  override def left: Expression = child
  override def right: Expression = kExpr
  override def prettyName: String = "kll_merge_agg"
  protected def codec: SketchCodec[Kll.State] = Kll.codec
  protected def sizes: Seq[(SketchSize, Expression)] = Seq(Kll.K -> kExpr)

  private lazy val k: Int = Sketch.intArg(kExpr)
  override def createAggregationBuffer(): Kll.State = new Kll.State(k)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllMergeAgg =
    copy(child = newLeft, kExpr = newRight)
}

object KllMergeAgg {
  def fromArgs(exprs: Seq[Expression]): KllMergeAgg = {
    val Seq(c, k) = Sketch.withDefaults("kll_merge_agg", "(sketch[, k])",
      exprs, Literal(Kll.DefaultK))
    KllMergeAgg(c, k)
  }
}

/** `kll_quantile(sketch, q)` → the sketch's discrete lower quantile
  * (DOUBLE; exact-window sketches return the true order statistic). */
case class KllQuantile(left: Expression, right: Expression)
    extends SketchProbe("kll_quantile", DoubleType, Seq(DoubleType),
      "graft.functions.Kll.quantile") {
  protected def read(sketch: Array[Byte], q: Any): Any =
    Kll.quantile(sketch, q.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantile =
    copy(left = newLeft, right = newRight)
}

/** `kll_rank(sketch, x)` → normalized rank of x (DOUBLE in [0, 1]). */
case class KllRank(left: Expression, right: Expression)
    extends SketchProbe("kll_rank", DoubleType, Seq(DoubleType),
      "graft.functions.Kll.rank") {
  protected def read(sketch: Array[Byte], x: Any): Any =
    Kll.rank(sketch, x.asInstanceOf[Double])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllRank =
    copy(left = newLeft, right = newRight)
}

/** `kll_n(sketch)` → exact item count (weight is conserved through
  * every compaction and merge — a hard invariant, not an estimate). */
case class KllN(child: Expression)
    extends SketchReadout("kll_n", LongType, "graft.functions.Kll.count") {
  protected def read(sketch: Array[Byte]): Any = Kll.count(sketch)
  override protected def withNewChildInternal(newChild: Expression): KllN =
    copy(child = newChild)
}

/** `kll_is_exact(sketch)` → true iff no compaction has fired (the
  * sketch retains every item; quantiles are true order statistics). */
case class KllIsExact(child: Expression)
    extends SketchReadout("kll_is_exact", BooleanType, "graft.functions.Kll.isExact") {
  protected def read(sketch: Array[Byte]): Any = Kll.isExact(sketch)
  override protected def withNewChildInternal(newChild: Expression): KllIsExact =
    copy(child = newChild)
}

/** `kll_err_bound(sketch)` → deterministic normalized rank-error
  * bound (DOUBLE) — sound for any merge history; see [[Kll.errBound]]. */
case class KllErrBound(child: Expression)
    extends SketchReadout("kll_err_bound", DoubleType, "graft.functions.Kll.errBound") {
  protected def read(sketch: Array[Byte]): Any = Kll.errBound(sketch)
  override protected def withNewChildInternal(newChild: Expression): KllErrBound =
    copy(child = newChild)
}
