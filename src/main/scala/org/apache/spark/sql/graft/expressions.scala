/*
 * Lives under org.apache.spark.sql so it can implement Catalyst
 * interfaces whose signatures use private[sql] types
 * (AbstractDataType, ExpressionUtils) — the standard pattern for
 * out-of-tree native expressions.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd dot product over two ARRAY<DOUBLE> columns.
 *
 * The similarity operators would otherwise fold arrays with
 * `zip_with` + `aggregate`, which Spark evaluates via interpreted
 * lambda dispatch per element — the hot loop of a 100 TB ANN job must
 * not pay that. This native expression generates a tight Java loop
 * inside whole-stage codegen (preference order per the build charter:
 * compose built-ins < custom Expression < custom operator <
 * mapPartitions).
 *
 * Left-to-right accumulation order is IDENTICAL to the `aggregate`
 * fold it replaces and to DuckDB's list_dot_product, so oracle
 * results are bit-equal.
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/**
 * Codegen'd hamming distance over two equal-length ASCII signature
 * strings (SimHash bit strings, minhash hex windows): byte-wise
 * mismatch count in a tight generated loop, replacing the
 * interpreted split + zip_with + aggregate fold. Comparison is on
 * UTF-8 BYTES, identical to per-character comparison for the ASCII
 * signatures this library produces (and to the oracle's positional
 * substring compares).
 */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[UTF8String].getBytes
    val y = b.asInstanceOf[UTF8String].getBytes
    val n = math.min(x.length, y.length)
    var c = math.abs(x.length - y.length) // unpaired tail counts as mismatched
    var i = 0
    while (i < n) { if (x(i) != y(i)) c += 1; i += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      s"""
         |byte[] $x = $a.getBytes();
         |byte[] $y = $b.getBytes();
         |int $n = java.lang.Math.min($x.length, $y.length);
         |int $c = java.lang.Math.abs($x.length - $y.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x[$i] != $y[$i]) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDistance =
    copy(left = l, right = r)
}

/**
 * Codegen'd merge-scan intersection COUNT over two SORTED distinct
 * ARRAY<LONG> columns (adjacency lists, id sets).
 *
 * `array_intersect` materializes a hash set plus an output array per
 * row just to take its size; for per-edge common-neighbor counting
 * over adjacency arrays (the link-prediction hot loop) the O(n+m)
 * merge scan with zero allocation is the right primitive. Both input
 * arrays MUST be sorted ascending and duplicate-free (what
 * `sort_array(collect_set/list distinct)` produces) — the result is
 * undefined otherwise, matching the contract of the RDD-side
 * `graft.graph.SortedIntersect.count` this mirrors.
 */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  long $u = $a.getLong($i);
         |  long $v = $b.getLong($j);
         |  if ($u == $v) { $c++; $i++; $j++; }
         |  else if ($u < $v) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/**
 * Codegen'd merge-scan WEIGHTED intersection sum: Σ weightsA[i] over
 * positions where sorted `leftIds` and `rightIds` match. The
 * Resource-Allocation / Adamic-Adar family is exactly this primitive
 * (weight of common neighbor z = 1/deg(z), carried parallel to the
 * adjacency ids), turning the wedge-enumeration join (Σ deg(z)² rows
 * shuffled) into two adjacency joins + an O(n+m) scan per edge —
 * measured 18× on the dense co-purchase graph. Same sortedness
 * contract as [[SortedIntersectCount]]; `weightsA` must be parallel
 * to `leftIds`.
 */
case class SortedIntersectWeightedSum(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(DoubleType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, w: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val wa = w.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var s = 0.0
    while (i < na && j < nb) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { s += wa.getDouble(i); i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, w, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; double $s = 0.0;
         |while ($i < $na && $j < $nb) {
         |  long $u = $a.getLong($i);
         |  long $v = $b.getLong($j);
         |  if ($u == $v) { $s += $w.getDouble($i); $i++; $j++; }
         |  else if ($u < $v) { $i++; } else { $j++; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SortedIntersectWeightedSum =
    copy(first = f, second = s, third = t)
}

/**
 * Codegen'd random-hyperplane sign signature: for a FIXED plane
 * matrix (an LSH index parameter, embedded as a codegen reference
 * object), emit one '1'/'0' character per plane by the sign of the
 * plane's left-to-right dot product with the input vector — the
 * whole (planes x dims) signature in ONE generated loop nest.
 *
 * The compositional alternative (one zip_with+aggregate fold per
 * plane concatenated through CASE strings) builds a 144-subtree
 * expression at 144 signature bits, whose planning + codegen
 * compilation dwarfs its evaluation and grows with every added bit.
 * Per-plane accumulation order here is identical to the aggregate
 * fold it replaces (and to the oracle's list_dot_product), so
 * signatures are bit-equal.
 *
 * Contract: the input vector must have >= dims elements (extra
 * elements are ignored; the similarity fixtures are fixed-width).
 * Scala-only facade (the plane matrix is a construction-time
 * constant, not a SQL-expressible argument).
 */
case class SignSignature(child: Expression, planes: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  private val nPlanes: Int = planes.length
  private val dims: Int = if (planes.isEmpty) 0 else planes(0).length
  @transient private lazy val flat: Array[Double] = {
    val f = new Array[Double](nPlanes * dims)
    var p = 0
    while (p < nPlanes) {
      System.arraycopy(planes(p), 0, f, p * dims, dims)
      p += 1
    }
    f
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val out = new Array[Byte](nPlanes)
    val n = math.min(v.numElements(), dims)
    var p = 0
    while (p < nPlanes) {
      val base = p * dims
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * flat(base + i); i += 1 }
      out(p) = if (s >= 0.0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val flatRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
      val out = ctx.freshName("out")
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      s"""
         |byte[] $out = new byte[$nPlanes];
         |int $n = java.lang.Math.min($v.numElements(), $dims);
         |for (int $p = 0; $p < $nPlanes; $p++) {
         |  int $base = $p * $dims;
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $v.getDouble($i) * $flatRef[$base + $i];
         |  }
         |  $out[$p] = ($s >= 0.0) ? (byte) '1' : (byte) '0';
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromBytes($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SignSignature =
    copy(child = c)
}

object GraftExpressions {
  /** Sign signature of `v` under a fixed hyperplane matrix. */
  def signSignature(v: Column, planes: Array[Array[Double]]): Column =
    ExpressionUtils.column(SignSignature(ExpressionUtils.expression(v), planes))

  def intersectWeightedSum(aIds: Column, aWts: Column, bIds: Column): Column =
    ExpressionUtils.column(SortedIntersectWeightedSum(
      ExpressionUtils.expression(aIds), ExpressionUtils.expression(aWts),
      ExpressionUtils.expression(bIds)))

  def intersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def hamming(a: Column, b: Column): Column =
    ExpressionUtils.column(HammingDistance(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Register the native functions into an EXISTING session's
   * function registry (the SparkSessionExtensions path only applies
   * to sessions built with `.withExtensions`). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hamming", exprs => HammingDistance(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "intersect_count", exprs => SortedIntersectCount(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "intersect_weighted_sum",
      exprs => SortedIntersectWeightedSum(exprs(0), exprs(1), exprs(2)), "built-in")
  }
}
