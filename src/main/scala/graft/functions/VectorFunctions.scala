package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expressions for embedding vectors (`array<float>`
  * columns — FIXTURES.md `embeddings.embedding`).
  *
  * Why a custom Expression instead of higher-order functions
  * (`aggregate(zip_with(...))`): HOF lambdas are interpreted per element —
  * ~3 boxed function calls per dimension. This expression compiles (via
  * `doGenCode`) to a tight primitive-float loop inside whole-stage codegen,
  * which is the difference between a brute-force similarity scan being
  * memory-bound vs interpreter-bound at 100 TB. Preference order per the
  * build rules: built-ins couldn't express it efficiently → custom
  * Expression (option b), well before a custom operator or mapPartitions.
  *
  * Semantics: cosine = dot(a,b) / sqrt(|a|²·|b|²) accumulated in double,
  * left-to-right (index order) — matching DuckDB's accumulation over
  * `DOUBLE[]` casts so oracle comparisons agree bit-for-bit in practice.
  * Zero-norm input → 0.0 (not NaN). Arrays must be same length.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }


  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product over `array<float>`, same codegen rationale as
  * [[CosineSimilarity]]. Useful with pre-normalized embeddings where
  * cosine == dot and the norms would be wasted work.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }


  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All-planes LSH bucket id in ONE expression: bit i of the result is
  * `dot(vec, planes(i)) > 0`. Semantically identical to summing
  * `when(DotProduct(vec, planeLit_i) > 0, 1L << i)` terms, but that
  * formulation inlines one dot loop per plane into the generated method —
  * at 4 tables × 16 planes the method passes HotSpot's 8 KB huge-method
  * limit and the whole stage silently runs in the bytecode interpreter
  * (measured 13.8× slowdown). Here the plane matrix rides
  * along as a codegen reference object and the generated code is one
  * compact nested loop, independent of plane count.
  *
  * Dot accumulation is left-to-right in double over float values — the
  * same arithmetic as [[DotProduct]], so bucket ids (and the DuckDB
  * oracle replays built from the same quantized planes) are unchanged.
  */
case class HyperplaneBucket(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "hyperplane_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${t.simpleString}")
  }

  @transient private lazy val mat: Array[Array[Float]] =
    planes.map(_.map(_.toFloat).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var b = 0L
    var p = 0
    while (p < mat.length) {
      val row = mat(p)
      val n = math.min(row.length, x.numElements())
      var d = 0.0
      var i = 0
      while (i < n) { d += row(i).toDouble * x.getFloat(i).toDouble; i += 1 }
      if (d > 0) b |= 1L << p
      p += 1
    }
    b
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("planes", mat, "float[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val b = ctx.freshName("b")
      val p = ctx.freshName("p")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      s"""
         |long $b = 0L;
         |for (int $p = 0; $p < $m.length; $p++) {
         |  float[] $row = $m[$p];
         |  int $n = Math.min($row.length, $v.numElements());
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $d += (double) $row[$i] * (double) $v.getFloat($i);
         |  }
         |  if ($d > 0) $b |= 1L << $p;
         |}
         |${ev.value} = $b;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `limit` centroid indices closest to the input vector, in affinity
  * order: dot product descending, index ascending on ties. One expression
  * serves both IVF uses — `limit=1` gives the cell a corpus vector lives
  * in, `limit=nProbe` a query's probe list — so assignment and probing
  * share identical arithmetic (same tie-break, same left-to-right double
  * accumulation as [[DotProduct]], hence exactly replayable by a DuckDB
  * window over `list_dot_product`).
  *
  * Same compact-codegen rationale as [[HyperplaneBucket]]: C inlined
  * per-centroid dot chains would blow the huge-method limit; here the
  * matrix rides along as a reference object and the generated code is one
  * nested loop + a PARTIAL selection sort: only the first
  * `min(limit, C)` positions are selected — O(C·limit), which matters on
  * the corpus side where every row needs only its argmax cell (a full
  * O(C²) sort at C=64 would equal the dot-product work itself).
  */
case class CentroidRanks(child: Expression, centroids: Seq[Seq[Double]],
                         limit: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "centroid_ranks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>, got ${t.simpleString}")
  }

  @transient private lazy val mat: Array[Array[Float]] =
    centroids.map(_.map(_.toFloat).toArray).toArray

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val c = mat.length
    val k = math.min(limit, c)
    val dots = new Array[Double](c)
    var p = 0
    while (p < c) {
      val row = mat(p)
      val n = math.min(row.length, x.numElements())
      var d = 0.0
      var i = 0
      while (i < n) { d += row(i).toDouble * x.getFloat(i).toDouble; i += 1 }
      dots(p) = d
      p += 1
    }
    val idx = Array.tabulate(c)(identity)
    var a = 0
    while (a < k) {
      var best = a
      var b = a + 1
      while (b < c) {
        if (dots(idx(b)) > dots(idx(best)) ||
            (dots(idx(b)) == dots(idx(best)) && idx(b) < idx(best))) best = b
        b += 1
      }
      val t = idx(a); idx(a) = idx(best); idx(best) = t
      a += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(idx, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // NB: no generated line may START with '|' (e.g. a leading '||'
    // continuation): codegen Blocks stripMargin the assembled source a
    // second time, which silently corrupts the Java and drops the whole
    // stage to interpreted fallback.
    val m = ctx.addReferenceObj("centroids", mat, "float[][]")
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("c")
      val dots = ctx.freshName("dots")
      val idx = ctx.freshName("idx")
      val p = ctx.freshName("p")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val best = ctx.freshName("best")
      val t = ctx.freshName("t")
      val k = ctx.freshName("k")
      s"""
         |int $c = $m.length;
         |int $k = Math.min($limit, $c);
         |double[] $dots = new double[$c];
         |for (int $p = 0; $p < $c; $p++) {
         |  float[] $row = $m[$p];
         |  int $n = Math.min($row.length, $v.numElements());
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $d += (double) $row[$i] * (double) $v.getFloat($i);
         |  }
         |  $dots[$p] = $d;
         |}
         |int[] $idx = new int[$c];
         |for (int $p = 0; $p < $c; $p++) $idx[$p] = $p;
         |for (int $a = 0; $a < $k; $a++) {
         |  int $best = $a;
         |  for (int $b = $a + 1; $b < $c; $b++) {
         |    if ($dots[$idx[$b]] > $dots[$idx[$best]] ||
         |        ($dots[$idx[$b]] == $dots[$idx[$best]] && $idx[$b] < $idx[$best])) {
         |      $best = $b;
         |    }
         |  }
         |  int $t = $idx[$a]; $idx[$a] = $idx[$best]; $idx[$best] = $t;
         |}
         |${ev.value} = new $gad(java.util.Arrays.copyOf($idx, $k));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Euclidean (L2) distance over `array<float>`, same codegen rationale
  * as [[CosineSimilarity]]. Accumulates (aᵢ−bᵢ)² in index order, then
  * one sqrt — bit-identical to DuckDB's `list_distance` over
  * `DOUBLE[]` casts (verified on 500 fixture pairs during
  * development), which is what makes it oracle-safe for the energy
  * distance / silhouette family.
  */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_distance"

  override def checkInputDataTypes(): TypeCheckResult = {
    def isFloatArray(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(
      CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(
      DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def l2Dist(a: Column, b: Column): Column =
    Bridge.column(
      L2Distance(Bridge.expression(a), Bridge.expression(b)))

  def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    Bridge.column(HyperplaneBucket(Bridge.expression(vec), planes))

  def centroidRanks(vec: Column, centroids: Seq[Seq[Double]],
                    limit: Int = Int.MaxValue): Column =
    Bridge.column(CentroidRanks(Bridge.expression(vec), centroids, limit))
}
