package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity of two numeric
  * array columns (float or double elements), with whole-stage codegen.
  *
  * This is the hot inner op of the ANN/dedup suite: the composable
  * form (`zip_with` + two `aggregate`s, see [[Cols.cosine]]) walks
  * each array four times through higher-order-function machinery;
  * this expression is one fused loop emitted straight into the
  * generated code. Numerics are identical (left-to-right double
  * accumulation, dot / (sqrt(na) * sqrt(nb))), so the two forms are
  * interchangeable — VectorExprSpec asserts bit-equality.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float|double> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xi = if (elemIsFloat(left)) s"(double) $a.getFloat(i)" else s"$a.getDouble(i)"
      val yi = if (elemIsFloat(right)) s"(double) $b.getFloat(i)" else s"$b.getDouble(i)"
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xi = $xi;
         |  double yi = $yi;
         |  dot += xi * yi; na += xi * xi; nb += yi * yi;
         |}
         |${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native codegen SimHash over a token array — one fused loop per
  * row, bit-compatible with [[Hashes.simhash64]] (same FNV-1a char
  * hash, same majority rule); VectorExprSpec asserts equality.
  *
  * `seed` extends the signature family past 64 bits (the r7 verdict's
  * simhash geometry dial): word w of a wide signature is this
  * expression with an independent seed, whose per-token hash is
  * `mix64(fnv64(tok) ^ seed)` — the murmur3 finalizer decorrelates
  * every bit from the seed-0 word, and the mix is replayable in
  * DuckDB (the `mixSql` oracle helper). seed=0 keeps the historical
  * bit-exact behavior (plain FNV-1a), so every existing signature,
  * spec, and oracle is untouched. */
case class SimHash64Expr(child: Expression, seed: Long = 0L)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val acc = new Array[Int](64)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h0 = Hashes.fnv64(arr.getUTF8String(j).toString)
        val h = if (seed == 0L) h0 else Hashes.mix64(h0 ^ seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $acc = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = graft.functions.Hashes.fnv64($a.getUTF8String($i).toString());
         |    ${if (seed != 0L)
               s"$h = graft.functions.Hashes.mix64($h ^ ${seed}L);" else ""}
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $acc[$b]++; else $acc[$b]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) if ($acc[$b] > 0) $sig |= (1L << $b);
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native MinHash signature over a hashed-shingle (array<long>)
  * column: sig[p] = min over shingles of mix(shingle ^ salt_p), one
  * fused two-level loop instead of 64 interpreted
  * `array_min(transform(...))` higher-order expressions (HOFs never
  * enter whole-stage codegen; this was the dominant cost of the
  * minhash/cluster/pipeline dedup queries — measured ~4× end-to-end
  * at sf0.1). The hash family is a splitmix64-style finalizer over
  * shingle^salt — full avalanche, and the family member per salt is
  * independent exactly like the xxhash64(salt, x) form it replaces
  * (both are "seed-perturbed strong mix"; LSH band math unchanged). */
case class MinHashSigExpr(child: Expression, salts: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<bigint> (hashed shingles), got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSigExpr.sig(input.asInstanceOf[ArrayData], salts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltsRef = ctx.addReferenceObj("salts", salts, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashSigExpr.sig($a, $saltsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigExpr {
  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33
    z
  }

  def sig(arr: ArrayData, salts: Array[Long]): ArrayData = {
    val out = new Array[Long](salts.length)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val v = arr.getLong(i)
      var p = 0
      while (p < salts.length) {
        val h = mix(v ^ salts(p))
        if (h < out(p)) out(p) = h
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native codegen word-n-gram shingle hasher: out[i] = FNV-1a 64 of
  * `tokens[i] + " " + ... + tokens[i+n-1]` — bit-identical to
  * [[Hashes.fnv64]] over the space-joined n-gram, but computed in one
  * fused loop with no intermediate strings or array slices.
  *
  * FNV (not xxhash64) on purpose: FNV-1a is already replayed inside
  * DuckDB by the winnow/simhash oracles (HUGEINT mod-2^64 reduce), so
  * shingles hashed this way make the ENTIRE minhash-LSH index — salt
  * mix, signature mins, band collisions, verified pairs —
  * reproducible by a second engine. xxhash64's internal block
  * chaining over Spark's UTF-8 buffers has no practical SQL replay.
  * VectorExprSpec asserts parity with the composable
  * fnv64-of-array_join form. */
case class FnvShinglesExpr(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"fnv_shingles expects array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    FnvShinglesExpr.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.FnvShinglesExpr.shingles($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FnvShinglesExpr {
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements() - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < n) {
        if (k > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        val s = arr.getUTF8String(i + k).toString
        var j = 0
        while (j < s.length) { h ^= s.charAt(j).toLong; h *= 0x100000001b3L; j += 1 }
        k += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native codegen 2-D Hilbert index (8 bits per axis, a 256×256
  * grid): the locality-preserving space-filling curve — unlike
  * Z-order, consecutive Hilbert indices are always grid-adjacent, so
  * files cut from a Hilbert sort get tighter min/max envelopes on
  * BOTH dimensions (no Z-shape diagonal jumps). The standard xy→d
  * bit transform is an 8-level loop with rotate/flip state — as a
  * composed Column expression the per-level when-chains reference
  * both prior coordinates and the tree grows exponentially, so this
  * is exactly the "native Expression beats composition" case. The
  * oracle replays the identical integer transform as 8 unrolled SQL
  * CTE levels (each level materializes x/y/d columns — linear, not
  * exponential, in SQL). */
case class Hilbert2DExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hilbert_2d expects (bigint, bigint), got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    Hilbert2DExpr.index(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Hilbert2DExpr.index($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Hilbert2DExpr {
  /** Canonical xy→d transform on the 256×256 grid (public-domain
    * construction; e.g. the Wikipedia "Hilbert curve" reference
    * implementation), kept branch-for-branch identical to the SQL
    * unroll in the oracle. */
  def index(x0: Long, y0: Long): Long = {
    var x = x0 & 255L
    var y = y0 & 255L
    var d = 0L
    var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Overlap count of two ASCENDING-SORTED long arrays — one merge
  * pass, whole-stage codegen. This is the dedup verify kernel: the
  * builtin `array_intersect`/`array_union` pair builds a hash set
  * PER ROW (35M candidate pairs at the stress decade ⇒ two minutes
  * of set churn); a merge over pre-sorted shingle arrays touches
  * each element once with zero allocation. Callers derive the rest
  * arithmetically: |A∪B| = |A|+|B|−o, jaccard = o/(|A|+|B|−o),
  * containment = o/|A| — identical values to the set builtins on
  * distinct inputs, so the brute-force oracles are unaffected.
  * INPUTS MUST BE SORTED ASC (shingled() sorts once per doc;
  * VectorExprSpec asserts equality with array_intersect). */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_overlap expects array<bigint> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlapCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedOverlapCount.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedOverlapCount {
  /** Merge-count of common elements; arrays must be sorted asc. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var o = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { o += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    o
  }
}

/** Native face of [[Hashes.mix64]] — the murmur3 finalizer as a
  * codegen'd unary expression. A Column-arithmetic version would trip
  * ANSI overflow checks on the wrapping multiplies; the JVM helper
  * wraps by definition. */
case class Mix64Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"mix64 expects bigint, got ${child.dataType.simpleString}")

  override def nullSafeEval(h: Any): Any = Hashes.mix64(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"graft.functions.Hashes.mix64($h)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native argmax-cell over literal coarse-quantizer centroids — the
  * corpus-side IVF assignment fused into one codegen loop (r13,
  * guide §1.2 "per-task work"; the [[MinHashSigExpr]] precedent).
  *
  * Bit-compatible with the declarative `AnnOps.cellScores` scoring
  * the probe side uses: per-cell cosine in [[CosineSim]]'s exact
  * left-to-right double accumulation (float elements widened per
  * element), the identical floor(x·10⁶ + 0.5)/10⁶ rounding, argmax
  * by (sim desc, cell asc) under Spark's SQL double ordering (±0
  * equal, NaN greatest/equal — [[CellArgmax.cmpD]]). The declarative
  * form stays in use on the tiny probe side (top-nprobe needs the
  * whole scored array); this expression serves the corpus-scale
  * scans, where the higher-order-function machinery evaluated
  * interpreted per row. [[CellArgmax.ModeCell]] returns the winning
  * cell id (int), [[CellArgmax.ModeBoth]] the (cell, sim_r) struct
  * of the winner — the medoid-entry builder reads both fields. */
case class CellArgmax(
    child: Expression, cells: Seq[Int], cents: Seq[Seq[Double]],
    mode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // r14 ADVICE: centroid params are Seq-based so case-class equality
  // is STRUCTURAL — the former Array fields compared by reference,
  // so semantically identical instances never canonicalized and
  // Catalyst CSE could not reuse them. The hot loops read the
  // array mirrors below (built once per expression instance).
  @transient private lazy val cellsArr: Array[Int] = cells.toArray
  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  override def dataType: DataType = mode match {
    case CellArgmax.ModeCell => IntegerType
    case _ => StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("sim_r", DoubleType, nullable = false)))
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cell_argmax expects array<float|double>, got ${other.simpleString}")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Winning centroid INDEX for one row. */
  def bestK(x: ArrayData): Int =
    CellArgmax.bestK(x, isFloat, cellsArr, centsArr)

  def bestCell(x: ArrayData): Int = cellsArr(bestK(x))

  /** (cell, sim) of the winner in ONE argmax scan — the r14 ADVICE
    * item: reading the cell and the similarity as two expressions
    * doubled the fused-loop work per row. */
  def bestBoth(x: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val k = bestK(x)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cellsArr(k), CellArgmax.roundedSim(x, isFloat, centsArr(k))))
  }

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    mode match {
      case CellArgmax.ModeCell => bestCell(x)
      case _ => bestBoth(x)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellArgmax", this,
      classOf[CellArgmax].getName)
    val call = mode match {
      case CellArgmax.ModeCell => "bestCell"
      case _ => "bestBoth"
    }
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.$call($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CellArgmax {
  val ModeCell = 0
  val ModeBoth = 1

  /** Spark SQL's double comparison: ±0.0 equal, NaN greatest and
    * equal to itself (SQLOrderingUtil semantics). */
  def cmpD(a: Double, b: Double): Int =
    if (a < b) -1 else if (a > b) 1 else if (a == b) 0
    else java.lang.Double.compare(a, b)

  /** [[CosineSim]]'s exact loop + the 1e-6 half-up rounding. */
  def roundedSim(x: ArrayData, xFloat: Boolean, c: Array[Double]): Double = {
    val n = math.min(x.numElements(), c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = c(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000.0 + 0.5) / 1000000.0
  }

  def bestK(x: ArrayData, xFloat: Boolean,
      cells: Array[Int], cents: Array[Array[Double]]): Int = {
    var bestK = 0
    var bestSim = 0.0
    var k = 0
    while (k < cents.length) {
      val sim = roundedSim(x, xFloat, cents(k))
      val cmp = cmpD(sim, bestSim)
      if (k == 0 || cmp > 0 || (cmp == 0 && cells(k) < cells(bestK))) {
        bestK = k; bestSim = sim
      }
      k += 1
    }
    bestK
  }
}

object VectorExpressions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** Column-API face of [[Mix64Expr]]. */
  def mix64(h: Column): Column = column(Mix64Expr(expression(h)))

  /** Column-API face of [[CosineSim]]. */
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** Column faces of [[CellArgmax]]: winning cell id / (cell, sim_r)
    * of the winner in one scan of the literal centroid set. */
  def cell_argmax(emb: Column, cents: Seq[(Int, Seq[Double])]): Column =
    column(CellArgmax(expression(emb),
      cents.map(_._1), cents.map(_._2), CellArgmax.ModeCell))

  def cell_argmax_both(emb: Column, cents: Seq[(Int, Seq[Double])]): Column =
    column(CellArgmax(expression(emb),
      cents.map(_._1), cents.map(_._2), CellArgmax.ModeBoth))

  /** Column-API face of [[SortedOverlapCount]]. */
  def sorted_overlap(a: Column, b: Column): Column =
    column(SortedOverlapCount(expression(a), expression(b)))

  /** Column-API face of [[SimHash64Expr]]. */
  def simhash64_native(tokens: Column): Column =
    column(SimHash64Expr(expression(tokens)))

  /** Seeded word of a wide SimHash signature (geometry dial). */
  def simhash64_native(tokens: Column, seed: Long): Column =
    column(SimHash64Expr(expression(tokens), seed))

  /** Column-API face of [[MinHashSigExpr]]. */
  def minhash_sig(hashedShingles: Column, salts: Seq[Long]): Column =
    column(MinHashSigExpr(expression(hashedShingles), salts.toArray))

  /** Column-API face of [[FnvShinglesExpr]]. */
  def fnv_shingles(tokens: Column, n: Int): Column =
    column(FnvShinglesExpr(expression(tokens), n))

  /** Column-API face of [[Hilbert2DExpr]]. */
  def hilbert_2d(x: Column, y: Column): Column =
    column(Hilbert2DExpr(expression(x), expression(y)))

  private val fnId = FunctionIdentifier("cosine_sim")
  private val info = new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim")
  private val builder = (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))

  /** Imperative registration (for sessions built without extensions). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(fnId, info, builder)
}

/** SparkSessionExtensions hook: lets users opt in with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Injects
  * the whole custom surface — `cosine_sim` / `simhash64` /
  * `fnv_shingles` as SQL functions, and the TopKPerKey planner
  * strategy, so a session built with the extensions plans
  * [[graft.plans.TopKPerKeyPlan]] without touching
  * `spark.experimental` (the imperative fallback
  * [[graft.plans.TopK.perKey]] still self-registers for plain
  * sessions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // plain-SQL `WHERE rn <= k` over a row_number window gets the
    // bounded-heap prune without knowing the DSL exists
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64Expr(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("fnv_shingles"),
      new ExpressionInfo(classOf[FnvShinglesExpr].getName, "fnv_shingles"),
      (exprs: Seq[Expression]) => FnvShinglesExpr(
        exprs(0),
        // n must be a foldable int literal, e.g. fnv_shingles(tk, 3)
        exprs(1).eval(null).asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("hilbert_2d"),
      new ExpressionInfo(classOf[Hilbert2DExpr].getName, "hilbert_2d"),
      (exprs: Seq[Expression]) => Hilbert2DExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlapCount].getName, "sorted_overlap"),
      (exprs: Seq[Expression]) => SortedOverlapCount(exprs(0), exprs(1))))
  }
}
