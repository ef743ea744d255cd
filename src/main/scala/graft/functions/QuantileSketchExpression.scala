package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Mergeable one-pass quantile sketch in the Manku/Rajagopalan/Lindsay
  * (SIGMOD '98) / KLL family, DETERMINISTIC variant: fixed-capacity
  * levels of doubling weight; a full level sorts and keeps every other
  * element (parity alternating per compaction — no randomness), pushing
  * the survivors up one level.
  *
  * Unlike the exact histogram-rank quantiles (`q_quantiles`), which
  * shuffle every distinct value, the sketch is ONE map-side pass with
  * `O(k · log(n/k))` state per partial — at 100 TB only
  * `numPartitions × state` doubles ever move, the bounded-state story of
  * [[CountMinSketchAgg]]/[[BottomKDistinct]].
  *
  * The sketch is SELF-CERTIFYING: every compaction of a weight-`w` level
  * adds at most `w` to the worst-case rank error of any later query
  * (collapsing adjacent sorted pairs moves any rank boundary by at most
  * one surviving item), and the sketch accumulates that bound in its
  * header. A consumer therefore checks
  * `|exactRank(estimate) − target| ≤ err + maxWeight` — a PROVABLE
  * guarantee at any data size, not a tuned tolerance.
  *
  * Output layout (`array<double>`): `[n, err, L, len_0, items_0…,
  * len_1, items_1…, …]` — level ℓ items are sorted and carry weight
  * `2^ℓ` (level 0 is the exact not-yet-compacted buffer).
  */
case class QuantileSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileSketch]
  with UnaryLike[Expression] {

  require(k >= 8 && k % 2 == 0, s"level capacity k must be even and >= 8, got $k")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "quantile_sketch_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quantile_sketch_agg expects a double column, got ${child.dataType.sql}")

  override def createAggregationBuffer(): QuantileSketch = new QuantileSketch(k)

  override def update(buf: QuantileSketch, input: InternalRow): QuantileSketch = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: QuantileSketch, other: QuantileSketch): QuantileSketch = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: QuantileSketch): Any = new GenericArrayData(buf.toArray)

  override def serialize(buf: QuantileSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): QuantileSketch =
    QuantileSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QuantileSketchAgg =
    copy(child = newChild)
}

object QuantileSketchAgg {
  /** Aggregate Column: the deterministic quantile sketch of `c` (double). */
  def apply(c: Column, k: Int): Column =
    GraftSqlBridge.column(
      QuantileSketchAgg(GraftSqlBridge.expression(c), k).toAggregateExpression())
}

/** Mutable sketch state. Level 0 is an exact append buffer; levels ≥ 1
  * are sorted arrays of weight `2^ℓ`. All compaction is deterministic
  * (parity alternates with a persisted counter).
  */
final class QuantileSketch(val k: Int) {
  var n: Long = 0L
  var err: Long = 0L                 // certified worst-case rank error
  private var comps: Long = 0L       // compaction counter → parity
  private[functions] var level0 = new java.util.ArrayList[java.lang.Double](16)
  // levels(i) holds SORTED items of weight 2^(i+1)
  private[functions] var levels =
    new scala.collection.mutable.ArrayBuffer[Array[Double]]()

  def add(v: Double): Unit = {
    n += 1
    level0.add(v)
    if (level0.size >= k) compactLevel0()
  }

  private def compactLevel0(): Unit = {
    val arr = new Array[Double](level0.size)
    var i = 0
    while (i < arr.length) { arr(i) = level0.get(i); i += 1 }
    java.util.Arrays.sort(arr)
    level0.clear()
    push(compact(arr, 1L), 0)
  }

  /** Keep every other element of sorted `arr` (alternating parity); an
    * odd leftover item is re-queued at the SAME weight via level 0 /
    * caller. Total weight is preserved: 2m items of weight w become m of
    * weight 2w; the certified error grows by w per compaction.
    */
  private def compact(arr: Array[Double], w: Long): Array[Double] = {
    val parity = (comps & 1L).toInt
    comps += 1
    err += w
    val m = arr.length / 2
    val out = new Array[Double](m)
    var i = 0
    while (i < m) { out(i) = arr(2 * i + parity); i += 1 }
    // odd length: the unpaired last element would lose weight — fold it
    // into the error budget instead (≤ one item of weight w ≤ the w
    // already charged; rank shift stays within the certified bound) by
    // dropping it and recording its mass.
    if (arr.length % 2 == 1) err += w
    out
  }

  /** Merge sorted `incoming` (weight 2^(idx+1)) into level `idx`,
    * cascading compaction upward while a level overflows.
    */
  private def push(incoming0: Array[Double], idx0: Int): Unit = {
    var incoming = incoming0
    var idx = idx0
    while (incoming.nonEmpty) {
      while (levels.size <= idx) levels += Array.emptyDoubleArray
      val merged = mergeSorted(levels(idx), incoming)
      if (merged.length < k) {
        levels(idx) = merged
        incoming = Array.emptyDoubleArray
      } else {
        levels(idx) = Array.emptyDoubleArray
        incoming = compact(merged, 1L << (idx + 1))
        idx += 1
      }
    }
  }

  private def mergeSorted(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length + b.length)
    var i = 0; var j = 0; var o = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(o) = a(i); i += 1 } else { out(o) = b(j); j += 1 }
      o += 1
    }
    while (i < a.length) { out(o) = a(i); i += 1; o += 1 }
    while (j < b.length) { out(o) = b(j); j += 1; o += 1 }
    out
  }

  def mergeIn(other: QuantileSketch): Unit = {
    n += other.n
    err += other.err
    comps += other.comps
    var i = 0
    while (i < other.level0.size) {
      level0.add(other.level0.get(i))
      if (level0.size >= k) compactLevel0()
      i += 1
    }
    var l = other.levels.size - 1
    while (l >= 0) { // high levels first: cascades never revisit them
      if (other.levels(l).nonEmpty) push(other.levels(l), l)
      l -= 1
    }
  }

  /** `[n, err, L, len_0, items_0 (sorted)…, len_1, items_1…, …]`. */
  def toArray: Array[Double] = {
    val l0 = new Array[Double](level0.size)
    var i = 0
    while (i < l0.length) { l0(i) = level0.get(i); i += 1 }
    java.util.Arrays.sort(l0)
    val all = l0 +: levels.toSeq
    val out = new Array[Double](3 + all.size + all.map(_.length).sum)
    out(0) = n.toDouble
    out(1) = err.toDouble
    out(2) = all.size.toDouble
    var o = 3
    all.foreach { lv =>
      out(o) = lv.length.toDouble; o += 1
      System.arraycopy(lv, 0, out, o, lv.length); o += lv.length
    }
    out
  }

  def serialize(): Array[Byte] = {
    val arr = toArrayRaw()
    val bb = java.nio.ByteBuffer.allocate(8 * (4 + arr.map(_.length + 1).sum))
    bb.putLong(n); bb.putLong(err); bb.putLong(comps); bb.putLong(arr.length.toLong)
    arr.foreach { lv =>
      bb.putLong(lv.length.toLong)
      lv.foreach(bb.putDouble)
    }
    bb.array()
  }

  // raw (unsorted level0 first) layout for serde round-trip
  private def toArrayRaw(): Array[Array[Double]] = {
    val l0 = new Array[Double](level0.size)
    var i = 0
    while (i < l0.length) { l0(i) = level0.get(i); i += 1 }
    l0 +: levels.toArray
  }
}

object QuantileSketch {
  def deserialize(bytes: Array[Byte]): QuantileSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getLong; val err = bb.getLong; val comps = bb.getLong
    val nLevels = bb.getLong.toInt
    // k is irrelevant for a deserialized partial that only merges OUT —
    // but mergeIn pushes through this instance, so keep a sane default;
    // the receiving buffer's k governs compaction. Recover k is not
    // possible from bytes alone; use the level-0 length bound heuristic.
    val arrs = (0 until nLevels).map { _ =>
      val len = bb.getLong.toInt
      val a = new Array[Double](len)
      var i = 0
      while (i < len) { a(i) = bb.getDouble; i += 1 }
      a
    }
    val sk = new QuantileSketch(math.max(8, Integer.highestOneBit(
      math.max(arrs.headOption.map(_.length).getOrElse(0), 8) * 2)))
    sk.n = n; sk.err = err
    // restore exactly: level0 unsorted, higher levels sorted
    arrs.headOption.foreach(_.foreach(v => sk.level0.add(v)))
    arrs.drop(1).foreach(a => sk.levels += a)
    setComps(sk, comps)
    sk
  }
  private def setComps(sk: QuantileSketch, c: Long): Unit = {
    val f = classOf[QuantileSketch].getDeclaredField("comps")
    f.setAccessible(true)
    f.setLong(sk, c)
  }
}

/** Probe of a [[QuantileSketchAgg]] result: the estimated `p`-quantile —
  * the smallest sketched value whose estimated rank (cumulative item
  * weight in value order) reaches `ceil(p·n)`. The certified guarantee:
  * the EXACT rank of the returned value differs from `ceil(p·n)` by at
  * most `sketchErr + maxLevelWeight` (header fields; see
  * [[QuantileSketchOps.bound]] — queries can also derive it as
  * `element_at(sk, 2) + pow(2, element_at(sk, 3) - 1)`).
  */
case class QuantileSketchQuantile(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quantile_sketch_quantile"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"quantile_sketch_quantile expects (array<double>, double), got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(sketch: Any, p: Any): Any =
    QuantileSketchOps.quantile(sketch.asInstanceOf[ArrayData], p.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, p) =>
      s"${ev.value} = graft.functions.QuantileSketchOps.quantile($s, $p);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantileSketchQuantile =
    copy(left = newLeft, right = newRight)
}

object QuantileSketchQuantile {
  def apply(sketch: Column, p: Column): Column =
    GraftSqlBridge.column(QuantileSketchQuantile(
      GraftSqlBridge.expression(sketch), GraftSqlBridge.expression(p)))
}

object QuantileSketchOps {
  /** Certified worst-case rank error of any probe of `sketch`:
    * accumulated compaction error + the heaviest level's weight (the
    * discretization step of the cumulative-weight walk).
    */
  def bound(sketch: ArrayData): Long = {
    val err = sketch.getDouble(1).toLong
    val nLevels = sketch.getDouble(2).toInt
    err + (if (nLevels > 1) 1L << (nLevels - 1) else 1L)
  }

  /** Called from both interpreted and generated code. */
  def quantile(sketch: ArrayData, p: Double): Double = {
    val n = sketch.getDouble(0).toLong
    if (n == 0) return Double.NaN
    val nLevels = sketch.getDouble(2).toInt
    // collect (value, weight) across levels
    var total = 0
    var o = 3
    var l = 0
    val offs = new Array[Int](nLevels)
    val lens = new Array[Int](nLevels)
    while (l < nLevels) {
      lens(l) = sketch.getDouble(o).toInt
      offs(l) = o + 1
      total += lens(l)
      o += 1 + lens(l)
      l += 1
    }
    val vals = new Array[Double](total)
    val ws = new Array[Long](total)
    var i = 0
    l = 0
    while (l < nLevels) {
      var j = 0
      while (j < lens(l)) {
        vals(i) = sketch.getDouble(offs(l) + j)
        ws(i) = 1L << l
        i += 1; j += 1
      }
      l += 1
    }
    // sort by value (stable pairing of parallel arrays via index sort)
    val idx = (0 until total).sortBy(i => vals(i))
    val target = math.ceil(p * n).toLong.max(1L)
    var cum = 0L
    var r = 0
    while (r < total) {
      cum += ws(idx(r))
      if (cum >= target) return vals(idx(r))
      r += 1
    }
    vals(idx(total - 1))
  }
}
