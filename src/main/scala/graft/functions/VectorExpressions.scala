package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * The composed builtin form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * allocates an intermediate product array per row and evaluates three
  * lambda closures; these expressions run the same arithmetic as a tight
  * fused loop inside whole-stage codegen — one pass, zero allocation.
  * Numeric contract: strictly sequential left-to-right accumulation in
  * array index order, IDENTICAL to the fold the builtin chain (and the
  * DuckDB `list_reduce` oracle) performs, so results stay bit-exact with
  * both.
  *
  * Null semantics: null input → null (`nullIntolerant`); null ELEMENTS
  * are the caller's responsibility (embedding vectors are dense).
  */
abstract class VectorBinaryExpression extends BinaryExpression
    with ImplicitCastInputTypes with Serializable {
  // return type inferred: Seq[ArrayType] <: Seq[AbstractDataType]
  // (the parent type is private[sql] and cannot be named here)
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
}

/** dot(a, b) = Σ a(i)·b(i), left-to-right. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** cosine(a, b) = dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b))), all three
  * accumulators advanced in one fused pass. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

/** argmax-cosine cell assignment over a constant codebook — the fused
  * native form of the interpreted `aggregate(centArrayLit, …)` fold
  * (`VectorOps.cellOf`): one tight loop per row over a `double[][]`
  * reference object inside whole-stage codegen, instead of
  * |cells| interpreted lambda steps each allocating an accumulator
  * struct (ArrayAggregate is CodegenFallback — measured dominating the
  * encode/assign scans of the IVF family). Numeric contract, IDENTICAL
  * to the fold and the DuckDB oracle chain: cosine =
  * dot/(√(a·a)·√(b·b)) accumulated strictly left-to-right over
  * min-length; centroids visited id-ascending; replace only on
  * STRICTLY greater under Spark SQL's total order (NaN greatest,
  * ±0.0 equal) — so ties keep the lower cent_id and NaN cosines (zero
  * vectors) pick cell 0 exactly as before. Null input → null; null
  * ELEMENTS are the caller's responsibility (dense vectors), as for
  * [[DotProduct]]. */
case class CellArgmax(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray

  // Spark SQL `>` on doubles: NaN is greater than everything and equal
  // to itself; ±0.0 compare equal — the primitive `>` covers all but
  // the NaN-beats-finite case, handled explicitly.
  private def sparkGt(a: Double, b: Double): Boolean =
    if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(b) else a > b

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val vn = v.numElements()
    var best = -1L
    var bestCos = Double.NegativeInfinity
    var ci = 0
    while (ci < centsArr.length) {
      val cv = centsArr(ci)
      val n = math.min(vn, cv.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = v.getDouble(i); val yv = cv(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      if (sparkGt(cos, bestCos)) { best = ci.toLong; bestCos = cos }
      ci += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("cents", centsArr, "double[][]")
      val vn = ctx.freshName("vn")
      val best = ctx.freshName("best")
      val bestCos = ctx.freshName("bestCos")
      val ci = ctx.freshName("ci")
      val cv = ctx.freshName("cv")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val cos = ctx.freshName("cos")
      val gt = ctx.freshName("gt")
      s"""
         |int $vn = $v.numElements();
         |long $best = -1L;
         |double $bestCos = Double.NEGATIVE_INFINITY;
         |for (int $ci = 0; $ci < $cRef.length; $ci++) {
         |  double[] $cv = $cRef[$ci];
         |  int $n = java.lang.Math.min($vn, $cv.length);
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $v.getDouble($i); double $yv = $cv[$i];
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  double $cos = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  boolean $gt = Double.isNaN($cos) ? !Double.isNaN($bestCos) : $cos > $bestCos;
         |  if ($gt) { $best = (long) $ci; $bestCos = $cos; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_cell_argmax"
}

/** PQ encoding over constant sub-codebooks — the fused native form of
  * the per-subspace interpreted fold (`VectorOps.subCellOf` mapped over
  * `m` slices): one pass per row producing all `m` codes, instead of
  * m × ksub interpreted lambda steps each building a zip_with product
  * array plus an accumulator struct. Numeric contract, IDENTICAL to
  * the fold and the DuckDB `pqKmeansCtes` oracle: squared-L2
  * accumulated strictly left-to-right over the subvector; sub-centroids
  * visited id-ascending; replace only on STRICTLY smaller distance
  * (primitive `<` matches Spark's total order here: the accumulator
  * starts at +∞ and NaN distances never replace). A subspace whose
  * slice is shorter than the sub-dimension yields code −1, exactly as
  * the fold's null-propagating zip_with did. Null input → null; null
  * elements are the caller's responsibility (dense vectors). */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes = Seq(ArrayType(DoubleType))
  // containsNull matches the replaced `array(subCellOf(…), …)` form's
  // inferred type exactly (the codes are never actually null)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)
  override def nullIntolerant: Boolean = true

  @transient private lazy val booksArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val subDim: Int =
    books.headOption.flatMap(_.headOption).map(_.size).getOrElse(0)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val vn = v.numElements()
    val m = booksArr.length
    val codes = new Array[Long](m)
    var mi = 0
    while (mi < m) {
      val off = mi * subDim
      var best = -1L
      if (off + subDim <= vn) {
        val book = booksArr(mi)
        var bestD2 = Double.PositiveInfinity
        var ci = 0
        while (ci < book.length) {
          val cv = book(ci)
          var d2 = 0.0
          var i = 0
          while (i < subDim) {
            val diff = v.getDouble(off + i) - cv(i)
            d2 += diff * diff
            i += 1
          }
          if (d2 < bestD2) { best = ci.toLong; bestD2 = d2 }
          ci += 1
        }
      }
      codes(mi) = best
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val bRef = ctx.addReferenceObj("books", booksArr, "double[][][]")
      val d = subDim
      val vn = ctx.freshName("vn")
      val m = ctx.freshName("m")
      val codes = ctx.freshName("codes")
      val mi = ctx.freshName("mi")
      val off = ctx.freshName("off")
      val best = ctx.freshName("best")
      val book = ctx.freshName("book")
      val bestD2 = ctx.freshName("bestD2")
      val ci = ctx.freshName("ci")
      val cv = ctx.freshName("cv")
      val d2 = ctx.freshName("d2")
      val i = ctx.freshName("i")
      val diff = ctx.freshName("diff")
      s"""
         |int $vn = $v.numElements();
         |int $m = $bRef.length;
         |long[] $codes = new long[$m];
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  int $off = $mi * $d;
         |  long $best = -1L;
         |  if ($off + $d <= $vn) {
         |    double[][] $book = $bRef[$mi];
         |    double $bestD2 = Double.POSITIVE_INFINITY;
         |    for (int $ci = 0; $ci < $book.length; $ci++) {
         |      double[] $cv = $book[$ci];
         |      double $d2 = 0.0;
         |      for (int $i = 0; $i < $d; $i++) {
         |        double $diff = $v.getDouble($off + $i) - $cv[$i];
         |        $d2 += $diff * $diff;
         |      }
         |      if ($d2 < $bestD2) { $best = (long) $ci; $bestD2 = $d2; }
         |    }
         |  }
         |  $codes[$mi] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_pq_encode"
}

/** Residual-PQ decode over constant codebooks — the fused native form
  * of `zip_with(centroid(cell), reconOf(codes), _ + _)`
  * (`VectorOps.reconOf`): x̂(j) = cents(cell)(j) + books(m)(codes(m))(i)
  * for the j-th element, the i-th of subspace m's slice. One pass per
  * row over primitive `double[]` codebooks inside whole-stage codegen,
  * instead of a plan carrying cells × Dim centroid literals plus
  * m × ksub × subDim book literals and two intermediate arrays per row.
  * Numeric contract, IDENTICAL to the composed form: the same single
  * double addition per element, in element order, so results are
  * bit-identical (and the DuckDB oracle's `c.cv[i] + r.rv[i]` too).
  *
  * Shape: the books' sub-vectors concatenate to the centroid length
  * (checked at construction — codebooks trained from one embedding
  * width always do). Null codes, a null cell, a null code element, a
  * cell or code outside its codebook, or fewer codes than subspaces →
  * null (the composed form's out-of-range lookups are null or an
  * error, never a vector). */
case class PqDecode(left: Expression, right: Expression,
    cents: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with ImplicitCastInputTypes with Serializable {
  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.LongType)
  // containsNull matches the replaced zip_with's inferred type exactly
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true

  private val dim = cents.headOption.map(_.size).getOrElse(0)
  require(cents.forall(_.size == dim) &&
    books.map(b => b.headOption.map(_.size).getOrElse(0)).sum == dim &&
    books.forall(b => b.forall(_.size == b.head.size)),
    "pqDecode: the books' sub-vectors must concatenate to the centroid length")

  @transient private lazy val centsArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val booksArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(c: Any, cl: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val cell = cl.asInstanceOf[Long]
    val m = booksArr.length
    if (cell < 0 || cell >= centsArr.length || codes.numElements() < m) null
    else {
      val cv = centsArr(cell.toInt)
      val out = new Array[Double](dim)
      var off = 0
      var mi = 0
      var ok = true
      while (ok && mi < m) {
        val book = booksArr(mi)
        if (codes.isNullAt(mi)) ok = false
        else {
          val code = codes.getLong(mi)
          if (code < 0 || code >= book.length) ok = false
          else {
            val sub = book(code.toInt)
            var i = 0
            while (i < sub.length) { out(off + i) = cv(off + i) + sub(i); i += 1 }
            off += sub.length
          }
        }
        mi += 1
      }
      if (ok) org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
      else null
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, cell) => {
      val cRef = ctx.addReferenceObj("cents", centsArr, "double[][]")
      val bRef = ctx.addReferenceObj("books", booksArr, "double[][][]")
      val m = ctx.freshName("m")
      val cv = ctx.freshName("cv")
      val out = ctx.freshName("out")
      val off = ctx.freshName("off")
      val mi = ctx.freshName("mi")
      val book = ctx.freshName("book")
      val code = ctx.freshName("code")
      val sub = ctx.freshName("sub")
      val i = ctx.freshName("i")
      s"""
         |int $m = $bRef.length;
         |if ($cell < 0L || $cell >= $cRef.length || $codes.numElements() < $m) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $cv = $cRef[(int) $cell];
         |  double[] $out = new double[$dim];
         |  int $off = 0;
         |  for (int $mi = 0; $mi < $m && !${ev.isNull}; $mi++) {
         |    double[][] $book = $bRef[$mi];
         |    long $code = $codes.isNullAt($mi) ? -1L : $codes.getLong($mi);
         |    if ($code < 0L || $code >= $book.length) {
         |      ${ev.isNull} = true;
         |    } else {
         |      double[] $sub = $book[(int) $code];
         |      for (int $i = 0; $i < $sub.length; $i++) {
         |        $out[$off + $i] = $cv[$off + $i] + $sub[$i];
         |      }
         |      $off += $sub.length;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |      .fromPrimitiveArray($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pq_decode"
}

/** Column-API and SQL-name surface of the native expressions. */
object VectorFunctions {
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def cosineSimilarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def cellArgmax(v: Column, cents: Seq[Seq[Double]]): Column =
    Bridge.column(CellArgmax(Bridge.expression(v), cents))

  def pqEncode(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqEncode(Bridge.expression(v), books))

  def pqDecode(codes: Column, cell: Column, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]]): Column =
    Bridge.column(PqDecode(Bridge.expression(codes), Bridge.expression(cell),
      cents, books))

  /** Extract a literal-int argument from SQL-text function calls (the
    * kernel shape parameters are plan-time constants, never row data). */
  private def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _)
        if v.longValue() == v.intValue() =>
      v.intValue()
    case other =>
      throw new IllegalArgumentException(
        s"$fn: shape argument must be a literal integer, got $other")
  }

  private[functions] val entries: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("graft_cosine",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("graft_top_run_count",
      new ExpressionInfo(classOf[TopRunCountExpr].getName, "graft_top_run_count"),
      (es: Seq[Expression]) => TopRunCountExpr(es(0))),
    ("graft_shingles",
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (es: Seq[Expression]) => ShinglesExpr(es(0), litInt(es(1), "graft_shingles"))),
    ("graft_simhash",
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (es: Seq[Expression]) => SimHashExpr(es(0), litInt(es(1), "graft_simhash"))),
    ("graft_anchor_hashes",
      new ExpressionInfo(classOf[AnchorHashesExpr].getName, "graft_anchor_hashes"),
      (es: Seq[Expression]) =>
        AnchorHashesExpr(es(0), litInt(es(1), "graft_anchor_hashes"))),
    ("graft_winnow",
      new ExpressionInfo(classOf[WinnowExpr].getName, "graft_winnow"),
      (es: Seq[Expression]) => WinnowExpr(es(0), litInt(es(1), "graft_winnow"))),
    ("graft_misra_gries",
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_misra_gries"),
      (es: Seq[Expression]) =>
        MisraGriesAgg(es(0), litInt(es(1), "graft_misra_gries"))))

  /** Idempotent in-session registration — makes `graft_dot`/`graft_cosine`
    * callable from SQL text without rebuilding the session. */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** `SparkSessionExtensions` hook (the production path:
  * `spark.sql.extensions=graft.functions.GraftExtensions`): injects the
  * native functions into every session built with the extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // single source of truth: the same registry the in-session
    // VectorFunctions.register path uses
    VectorFunctions.entries.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.NanoWatermarkPushdown)
    ext.injectPlannerStrategy(_ => graft.plans.RankTowerFusion)
  }
}
