package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** JVM helpers for baked-constant vector math (called from generated code —
  * the TextHash pattern: the loop-heavy part lives in one static method the
  * codegen emits a single call to). */
object VectorOps {

  /** Asymmetric-distance (ADC) score of a full probe vector against a
    * PQ-coded corpus row: per subspace, the sequential-fold dot of the
    * probe's slice with the coded sub-centroid, summed in subspace order
    * (subspace-0 dot seeds the accumulator so the fold is exactly
    * d0+d1+…+d(m−1) left-associated — the same order the oracle SQL
    * states). `labels(s)` holds subspace s's surviving cluster ids
    * ascending; an unknown code is a model/encode mismatch and throws
    * rather than scoring garbage, and so does a probe whose length is not
    * the model's dim (a short one would be read past its end). */
  def adcScore(pe: ArrayData, codes: ArrayData, cb: Array[Array[Array[Double]]],
      labels: Array[Array[Int]]): Double = {
    if (codes.numElements() != cb.length) throw new IllegalStateException(
      s"pq_adc_score: codes array has ${codes.numElements()} entries but the " +
        s"model has ${cb.length} subspaces — codes/model mismatch")
    var dim = 0
    var s = 0
    while (s < cb.length) { if (cb(s).nonEmpty) dim += cb(s)(0).length; s += 1 }
    if (pe.numElements() != dim) throw new IllegalStateException(
      s"pq_adc_score: probe has ${pe.numElements()} dims but the model has $dim")
    var acc = 0.0
    var off = 0
    s = 0
    while (s < cb.length) {
      val code = codes.getInt(s)
      val ls = labels(s)
      var idx = -1
      var j = 0
      while (j < ls.length && idx < 0) { if (ls(j) == code) idx = j; j += 1 }
      if (idx < 0) throw new IllegalStateException(
        s"pq_adc_score: code $code absent from subspace $s codebook")
      val w = cb(s)(idx)
      var dot = 0.0
      var i = 0
      while (i < w.length) { dot += pe.getFloat(off + i).toDouble * w(i); i += 1 }
      acc = if (s == 0) dot else acc + dot
      off += w.length
      s += 1
    }
    acc
  }

  /** Labels of all centroids argsorted by (sequential-fold dot desc,
    * label asc). `labels` must arrive pre-sorted ascending — the stable
    * sort on −dot then yields the label-asc tiebreak for free. */
  def nearestCells(e: ArrayData, cents: Array[Array[Double]],
      labels: Array[Int]): ArrayData = {
    val k = cents.length
    val dots = new Array[Double](k)
    var j = 0
    while (j < k) {
      val w = cents(j)
      val n = math.min(e.numElements(), w.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += e.getFloat(i).toDouble * w(i); i += 1 }
      dots(j) = dot
      j += 1
    }
    val idx = (0 until k).sortBy(i => -dots(i)) // stable: ties keep label asc
    new GenericArrayData(idx.map(labels(_)).toArray)
  }

  /** [[nearestCells]] over an `array<double>` vector (a residual column —
    * see [[cellResidual]]): identical fold and tiebreak, the only delta is
    * the element read (`getDouble` — the oracle's `CAST(x AS DOUBLE)` is a
    * no-op on an already-double list, so both sides stay bit-equal). */
  def nearestCellsD(e: ArrayData, cents: Array[Array[Double]],
      labels: Array[Int]): ArrayData = {
    val k = cents.length
    val dots = new Array[Double](k)
    var j = 0
    while (j < k) {
      val w = cents(j)
      val n = math.min(e.numElements(), w.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += e.getDouble(i) * w(i); i += 1 }
      dots(j) = dot
      j += 1
    }
    val idx = (0 until k).sortBy(i => -dots(i))
    new GenericArrayData(idx.map(labels(_)).toArray)
  }

  /** Residual of a vector against its coarse cell's centroid: component i
    * is the single IEEE subtract `(double) v[i] − cvec[i]` — exactly the
    * oracle's `CAST(embedding[i] AS DOUBLE) - list_extract(cvec, i)`, so
    * residuals are bit-portable wherever the coarse centroids are (they
    * are: integer-micros kmeansFit output). `labels` holds the model's
    * surviving cluster ids ascending; an unknown cell is a model/route
    * mismatch and throws rather than subtracting garbage. */
  def cellResidual(v: ArrayData, cell: Int, cents: Array[Array[Double]],
      labels: Array[Int]): ArrayData = {
    var idx = -1
    var j = 0
    while (j < labels.length && idx < 0) { if (labels(j) == cell) idx = j; j += 1 }
    if (idx < 0) throw new IllegalStateException(
      s"cell_residual: cell $cell absent from the coarse model")
    val w = cents(idx)
    if (v.numElements() != w.length) throw new IllegalStateException(
      s"cell_residual: vector has ${v.numElements()} dims but the model has ${w.length}")
    val out = new Array[Double](w.length)
    var i = 0
    while (i < w.length) { out(i) = v.getFloat(i).toDouble - w(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Argmax-dot cluster of a vector against a RUNTIME cell table (array
    * of (cluster, cvec) structs, cluster-ascending): [[nearestCells]]'s
    * element 1 with the model as data. Same sequential-fold dot per cell
    * in array order; strict `>` keeps the first (lowest-cluster) winner
    * on ties — bit-equal to the baked expression's stable argsort. */
  def nearestCellDyn(e: ArrayData, cells: ArrayData): Int = {
    val k = cells.numElements()
    if (k == 0) throw new IllegalStateException(
      "nearest_cell_dyn: empty cell table (model aggregated to zero cells)")
    var best = 0.0
    var bestCl = 0
    var j = 0
    while (j < k) {
      val cell = cells.getStruct(j, 2)
      val w = cell.getArray(1)
      val n = math.min(e.numElements(), w.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += e.getFloat(i).toDouble * w.getDouble(i); i += 1 }
      if (j == 0 || dot > best) { best = dot; bestCl = cell.getInt(0) }
      j += 1
    }
    bestCl
  }

  /** Hilbert-curve distance of a 2-D cell — the locality upgrade over the
    * Z curve (consecutive d are ALWAYS unit-adjacent cells; Z takes long
    * diagonal jumps at power-of-two boundaries): the standard iterative
    * xy→d walk from the top bit down, with quadrant rotation. Pure
    * integer ops, stated identically in the oracle's unrolled per-level
    * SQL. Inputs must sit in [0, 2^bits). */
  def hilbertD(xIn: Long, yIn: Long, bits: Int): Long = {
    var x = xIn
    var y = yIn
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) { // rotate quadrant
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** k-DIMENSIONAL Hilbert distance of one grid cell — Skilling's
    * transpose algorithm (AIP Conf. Proc. 707, 2004; public standard for
    * n-D Hilbert encoding): fold the axes into the "transposed" index
    * form (per-level exchange/invert), Gray-encode across axes, undo the
    * excess Gray work, then interleave the transposed words MSB-first
    * (axis 0's MSB is the index MSB). Coordinates must sit in
    * [0, 2^bits); the result covers [0, 2^(k*bits)) bijectively with
    * unit-adjacent consecutive cells (spec-proven over the full 3-D
    * grid). */
  def hilbertDN(coords: ArrayData, bits: Int): Long = {
    val n = coords.numElements()
    // The wrapper (GraftOps.hilbertValueN) enforces this too, but a direct
    // expression use must fail loudly rather than silently overflow the
    // 63-bit interleave (ADVICE r14) — mirrors compactHilbert's check.
    require(n >= 2 && n.toLong * bits <= 63,
      s"hilbert_dn needs 2..k coords with k*bits <= 63; got k=$n, bits=$bits")
    val x = new Array[Long](n)
    var i = 0
    while (i < n) { x(i) = coords.getLong(i); i += 1 }
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) {
      if ((x(n - 1) & q) != 0) t ^= q - 1
      q >>= 1
    }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    var d = 0L
    var lvl = bits - 1
    while (lvl >= 0) {
      i = 0
      while (i < n) {
        d = (d << 1) | ((x(i) >> lvl) & 1L)
        i += 1
      }
      lvl -= 1
    }
    d
  }

  /** k-DIMENSIONAL COMPACT Hilbert distance with PER-DIMENSION bit
    * widths — Hamilton & Rau-Chaplin's compact Hilbert index (IPL 2008 /
    * Dalhousie TR CS-2006-07): the standard entry/direction Hilbert walk
    * over the enclosing hypercube, except each level emits only the
    * gray-code-rank bits of dimensions still live at that level, so the
    * result bijects [0, 2^Σmᵢ) — no index bits wasted on short
    * dimensions — while PRESERVING the full curve's visit order over the
    * box (the spec's defining law: sorting box cells by this value ==
    * sorting by the uniform walk at max-bits). `ms` are the per-dim
    * widths; coordinates must sit in [0, 2^mᵢ). With all widths equal
    * this IS the uniform walk (rank over a full mask is the identity),
    * which the spec proves bijective + unit-adjacent. */
  def compactHilbert(coords: ArrayData, ms: Array[Int]): Long = {
    val n = ms.length
    if (coords.numElements() != n) throw new IllegalStateException(
      s"compact_hilbert: ${coords.numElements()} coordinates but ${n} widths")
    val full = (1L << n) - 1
    def gc(i: Long) = i ^ (i >>> 1)
    def gcInv(g: Long): Long = {
      var i = g; var j = 1
      while (j < n) { i ^= g >>> j; j += 1 }
      i
    }
    def tsb(i: Long): Int = java.lang.Long.numberOfTrailingZeros(~i)
    def entry(i: Long): Long = if (i == 0) 0L else gc(2L * ((i - 1) / 2))
    def direction(i: Long): Int =
      if (i == 0) 0
      else if ((i & 1) == 0) tsb(i - 1) % n
      else tsb(i) % n
    def rotr(b: Long, r: Int): Long = {
      val rr = ((r % n) + n) % n
      if (rr == 0) b & full else ((b >>> rr) | (b << (n - rr))) & full
    }
    def rotl(b: Long, r: Int): Long = rotr(b, n - (((r % n) + n) % n))
    var h = 0L
    var e = 0L
    var d = 0
    var i = ms.max - 1
    while (i >= 0) {
      var mu = 0L
      var j = 0
      while (j < n) { if (ms(j) > i) mu |= 1L << j; j += 1 }
      val muR = rotr(mu, d + 1) // mask in the transformed frame
      val muCount = java.lang.Long.bitCount(mu)
      var l = 0L
      j = 0
      while (j < n) {
        if (((coords.getLong(j) >>> i) & 1L) != 0) l |= 1L << j
        j += 1
      }
      val w = gcInv(rotr(l ^ e, d + 1))
      // gray-code rank: w's bits at live positions, MSB-first
      var r = 0L
      j = n - 1
      while (j >= 0) {
        if (((muR >>> j) & 1L) != 0) r = (r << 1) | ((w >>> j) & 1L)
        j -= 1
      }
      e = e ^ rotl(entry(w), d + 1)
      d = (d + direction(w) + 1) % n
      h = (h << muCount) | r
      i -= 1
    }
    h
  }

  /** SQ8 encode of one vector against per-dim [lo, hi]: code =
    * floor((v−lo)·255/(hi−lo)) clamped [0,255], 0 when hi==lo; stored
    * −128-offset as bytes. Dimensions beyond the model (or a short
    * vector's missing tail) are a model/data mismatch and throw. */
  def sq8Encode(v: ArrayData, lo: Array[Double], hi: Array[Double]): ArrayData = {
    if (v.numElements() != lo.length) throw new IllegalStateException(
      s"sq8_encode: vector has ${v.numElements()} dims but the model has ${lo.length}")
    val out = new Array[Byte](lo.length)
    var d = 0
    while (d < lo.length) {
      val code =
        if (hi(d) == lo(d)) 0
        else {
          val c = Math.floor((v.getFloat(d).toDouble - lo(d)) * 255.0 / (hi(d) - lo(d))).toInt
          if (c < 0) 0 else if (c > 255) 255 else c
        }
      out(d) = (code - 128).toByte
      d += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric SQ8 score: sequential-fold dot (d ascending, left-
    * associated) of the probe against lo + code·((hi−lo)/255) per dim —
    * the same op order the oracle SQL's list_reduce states. */
  def sq8Dot(pe: ArrayData, codes: ArrayData, lo: Array[Double],
      hi: Array[Double]): Double = {
    if (codes.numElements() != lo.length) throw new IllegalStateException(
      s"sq8_dot: codes array has ${codes.numElements()} entries but the model has ${lo.length}")
    var acc = 0.0
    var d = 0
    while (d < lo.length) {
      val code = codes.getByte(d).toInt + 128
      val term = pe.getFloat(d).toDouble * (lo(d) + code * ((hi(d) - lo(d)) / 255.0))
      // d=0 seeds the fold (not 0.0+term) — exactly list_reduce's
      // first-element seed, so even the −0.0 edge matches the oracle.
      acc = if (d == 0) term else acc + term
      d += 1
    }
    acc
  }
}

/** `nearest_cells(vec)`: array<float> → array<int> of the baked centroid
  * labels ordered nearest-first (dot desc, label asc). One codegen'd pass
  * over the embedding for ALL centroids — the interpreted form (one
  * aggregate/zip_with fold per centroid inside an array_sort) re-walks
  * the vector K times outside whole-stage codegen. Element 1 is the IVF
  * cell assignment; elements 1..nprobe are a probe's search cells. */
case class NearestCells(child: Expression, cents: Seq[Seq[Double]],
    labels: Seq[Int]) extends UnaryExpression {
  require(cents.nonEmpty && cents.size == labels.size, "one label per centroid")
  require(labels == labels.sorted, "labels must be pre-sorted ascending")

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val labelsArr: Array[Int] = labels.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects array<float> or array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  private def isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    if (isDouble)
      VectorOps.nearestCellsD(v.asInstanceOf[ArrayData], centsArr, labelsArr)
    else VectorOps.nearestCells(v.asInstanceOf[ArrayData], centsArr, labelsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centsArr, "double[][]")
    val lRef = ctx.addReferenceObj("labels", labelsArr, "int[]")
    val fn = if (isDouble) "nearestCellsD" else "nearestCells"
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorOps.$fn($e, $cRef, $lRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(vec: Column, cents: Seq[Seq[Double]], labels: Seq[Int]): Column =
    ColumnBridge.column(
      NearestCells(ColumnBridge.expression(vec), cents, labels))
}

/** `cell_residual(vec, cell)`: (array<float>, int) → array<double> — the
  * vector minus its coarse cell's baked centroid, component-wise: one IEEE
  * subtract per dimension against the SELECTED cell only (the routing argmax
  * stays [[NearestCells]]'s job — this expression never re-scores). The
  * residual is what a residual-PQ codebook quantizes: inside a coarse cell
  * residual magnitudes are a cell-radius, not a corpus-radius, so the same
  * codebook budget spends its resolution on a smaller ball (the classic
  * IVFADC encoding — Jégou et al., TPAMI 2011). One codegen'd call per row;
  * the HOF form (zip_with over an element_at-selected nested lit) runs
  * interpreted and re-walks structures per element. */
case class CellResidual(left: Expression, right: Expression,
    cents: Seq[Seq[Double]], labels: Seq[Int]) extends BinaryExpression {
  require(cents.nonEmpty && cents.size == labels.size, "one label per centroid")
  require(labels == labels.sorted, "labels must be pre-sorted ascending")

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val labelsArr: Array[Int] = labels.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cell_residual expects (array<float>, int), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "cell_residual"

  override def nullSafeEval(v: Any, cell: Any): Any =
    VectorOps.cellResidual(v.asInstanceOf[ArrayData], cell.asInstanceOf[Int],
      centsArr, labelsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", centsArr, "double[][]")
    val lRef = ctx.addReferenceObj("labels", labelsArr, "int[]")
    defineCodeGen(ctx, ev, (v, cell) =>
      s"graft.functions.VectorOps.cellResidual($v, $cell, $cRef, $lRef)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CellResidual = copy(left = newLeft, right = newRight)
}

object CellResidual {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(vec: Column, cell: Column, cents: Seq[Seq[Double]],
      labels: Seq[Int]): Column =
    ColumnBridge.column(CellResidual(ColumnBridge.expression(vec),
      ColumnBridge.expression(cell), cents, labels))
}

/** `pq_adc_score(probe, codes)`: (array<float>, array<int>) → double —
  * the PQ asymmetric-distance score of a probe vector against one coded
  * row, with the whole codebook baked as a constant. One codegen'd call
  * per candidate row; the interpreted form (per-subspace element_at into
  * a nested lit + zip_with dot) re-walks structures per subspace outside
  * whole-stage codegen. `cb(s)` is subspace s's centroid matrix, row
  * order matching ascending `labels(s)`. */
case class PqAdcScore(left: Expression, right: Expression,
    cb: Seq[Seq[Seq[Double]]], labels: Seq[Seq[Int]]) extends BinaryExpression {
  require(cb.nonEmpty && cb.size == labels.size, "one label list per subspace")
  require(cb.indices.forall(s => cb(s).size == labels(s).size),
    "one label per sub-centroid")
  require(labels.forall(ls => ls == ls.sorted), "labels must be ascending")

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val labelsArr: Array[Array[Int]] =
    labels.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_score expects (array<float>, array<int>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  override def nullSafeEval(pe: Any, codes: Any): Any =
    VectorOps.adcScore(pe.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      cbArr, labelsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cb", cbArr, "double[][][]")
    val lRef = ctx.addReferenceObj("labels", labelsArr, "int[][]")
    defineCodeGen(ctx, ev, (p, c) =>
      s"graft.functions.VectorOps.adcScore($p, $c, $cRef, $lRef)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcScore = copy(left = newLeft, right = newRight)
}

object PqAdcScore {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(probe: Column, codes: Column, cb: Seq[Seq[Seq[Double]]],
      labels: Seq[Seq[Int]]): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(probe),
      ColumnBridge.expression(codes), cb, labels))
}

/** `nearest_cell_dyn(vec, cells)`: (array<float>, array<struct<cluster:int,
  * cvec:array<double>>>) → int — [[NearestCells]]'s element 1 with the
  * model as runtime DATA instead of a plan-baked constant. The cell table
  * arrives by column (one broadcast-joined row in practice), so a k ≫ 10⁴
  * model costs one broadcast instead of plan/task-binary bloat (the
  * [[graft.api.GraftOps.kmeansAssignJoin]] tier; StressKmeans measures the
  * baked path's cliff). Scoring is bit-identical to the baked expression:
  * the same sequential-fold dot per cell in array order, strict `>` keeps
  * the FIRST winner on ties — cells must arrive cluster-ascending so that
  * first-wins is the label-asc tiebreak. */
case class NearestCellDyn(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(StructType(
            Array(StructField(_, IntegerType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "nearest_cell_dyn expects (array<float>, array<struct<cluster:int, " +
          s"cvec:array<double>>>), got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell_dyn"

  override def nullSafeEval(v: Any, cs: Any): Any =
    VectorOps.nearestCellDyn(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, c) =>
      s"graft.functions.VectorOps.nearestCellDyn($e, $c)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): NearestCellDyn = copy(left = newLeft, right = newRight)
}

object NearestCellDyn {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(vec: Column, cells: Column): Column =
    ColumnBridge.column(
      NearestCellDyn(ColumnBridge.expression(vec), ColumnBridge.expression(cells)))
}

/** `hilbert_d(x, y)`: (bigint, bigint) → bigint — the Hilbert-curve
  * distance of cell (x, y) on a 2^bits × 2^bits grid, via
  * [[VectorOps.hilbertD]]. One codegen'd call per row. */
case class HilbertD(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]; got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_d expects (bigint, bigint), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hilbert_d"

  override def nullSafeEval(x: Any, y: Any): Any =
    VectorOps.hilbertD(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.VectorOps.hilbertD($x, $y, $bits)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertD = copy(left = newLeft, right = newRight)
}

object HilbertD {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(x: Column, y: Column, bits: Int): Column =
    ColumnBridge.column(HilbertD(ColumnBridge.expression(x),
      ColumnBridge.expression(y), bits))
}

/** `hilbert_dn(coords, bits)`: array<bigint> → bigint — the k-dimensional
  * Hilbert distance of cell `coords` on a (2^bits)^k grid via Skilling's
  * transpose algorithm ([[VectorOps.hilbertDN]]). One codegen'd call per
  * row; the k-column sibling of [[HilbertD]] (whose 2-D classic-walk
  * layout stays as q90 hash-proved it). */
case class HilbertDN(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]; got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hilbert_dn expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hilbert_dn"

  override def nullSafeEval(coords: Any): Any =
    VectorOps.hilbertDN(coords.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.hilbertDN($c, $bits)")

  override protected def withNewChildInternal(c: Expression): HilbertDN =
    copy(child = c)
}

object HilbertDN {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(coords: Column, bits: Int): Column =
    ColumnBridge.column(HilbertDN(ColumnBridge.expression(coords), bits))
}

/** `compact_hilbert(coords, ms)`: array<bigint> → bigint — Hamilton's
  * compact Hilbert distance with per-dimension bit widths
  * ([[VectorOps.compactHilbert]]); the mixed-width sibling of
  * [[HilbertDN]]. */
case class CompactHilbertDN(child: Expression, ms: Seq[Int])
    extends UnaryExpression {
  require(ms.size >= 2, s"compact_hilbert needs >= 2 dims; got ${ms.size}")
  ms.foreach(m => require(m >= 1 && m <= 31, s"bits must be in [1, 31]; got $m"))
  require(ms.sum <= 63, s"total bits must be <= 63; got ${ms.sum}")

  private val msArr = ms.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"compact_hilbert expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "compact_hilbert"

  override def nullSafeEval(coords: Any): Any =
    VectorOps.compactHilbert(coords.asInstanceOf[ArrayData], msArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val msRef = ctx.addReferenceObj("ms", msArr, "int[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorOps.compactHilbert($c, $msRef)")
  }

  override protected def withNewChildInternal(c: Expression): CompactHilbertDN =
    copy(child = c)
}

object CompactHilbertDN {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(coords: Column, ms: Seq[Int]): Column =
    ColumnBridge.column(CompactHilbertDN(ColumnBridge.expression(coords), ms))
}

/** `sq8_encode(vec)`: array<float> → array<tinyint> — per-dimension
  * scalar quantization against baked [lo, hi] ranges: code =
  * floor((v−lo)·255/(hi−lo)) clamped to [0,255] (a degenerate hi==lo
  * dimension encodes 0), stored offset by −128 to fit the signed byte.
  * That exact formulation (sub, mul by 255.0, div — in that order) is
  * what the oracle SQL repeats, so downstream scores are bit-portable.
  * One codegen'd pass per row; 1 byte/dim at rest — the 4× compression
  * tier below PQ that needs no codebook search to encode. */
case class Sq8Encode(child: Expression, lo: Seq[Double], hi: Seq[Double])
    extends UnaryExpression {
  require(lo.nonEmpty && lo.size == hi.size, "one [lo, hi] pair per dimension")

  @transient private lazy val loArr: Array[Double] = lo.toArray
  @transient private lazy val hiArr: Array[Double] = hi.toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sq8_encode expects array<float>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "sq8_encode"

  override def nullSafeEval(v: Any): Any =
    VectorOps.sq8Encode(v.asInstanceOf[ArrayData], loArr, hiArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", loArr, "double[]")
    val hiRef = ctx.addReferenceObj("hi", hiArr, "double[]")
    defineCodeGen(ctx, ev, e =>
      s"graft.functions.VectorOps.sq8Encode($e, $loRef, $hiRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

object Sq8Encode {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(vec: Column, lo: Seq[Double], hi: Seq[Double]): Column =
    ColumnBridge.column(Sq8Encode(ColumnBridge.expression(vec), lo, hi))
}

/** `sq8_dot(probe, codes)`: (array<float>, array<tinyint>) → double —
  * the asymmetric SQ8 score: sequential-fold dot (d ascending,
  * left-associated, the oracle SQL's list_reduce order) of the
  * full-precision probe against the row's dequantized reconstruction
  * lo + code·((hi−lo)/255) per dimension, never materializing it.
  * One codegen'd call per candidate row. */
case class Sq8Dot(left: Expression, right: Expression,
    lo: Seq[Double], hi: Seq[Double]) extends BinaryExpression {
  require(lo.nonEmpty && lo.size == hi.size, "one [lo, hi] pair per dimension")

  @transient private lazy val loArr: Array[Double] = lo.toArray
  @transient private lazy val hiArr: Array[Double] = hi.toArray

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(ByteType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sq8_dot expects (array<float>, array<tinyint>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_dot"

  override def nullSafeEval(pe: Any, codes: Any): Any =
    VectorOps.sq8Dot(pe.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData],
      loArr, hiArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val loRef = ctx.addReferenceObj("lo", loArr, "double[]")
    val hiRef = ctx.addReferenceObj("hi", hiArr, "double[]")
    defineCodeGen(ctx, ev, (p, c) =>
      s"graft.functions.VectorOps.sq8Dot($p, $c, $loRef, $hiRef)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Sq8Dot = copy(left = newLeft, right = newRight)
}

object Sq8Dot {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def apply(probe: Column, codes: Column, lo: Seq[Double], hi: Seq[Double]): Column =
    ColumnBridge.column(Sq8Dot(ColumnBridge.expression(probe),
      ColumnBridge.expression(codes), lo, hi))
}
