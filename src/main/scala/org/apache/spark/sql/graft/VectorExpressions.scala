package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, In, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Shared generated-Java snippet: copy an array term into a local
 * `double[]` (the codegen twin of [[VecRead.toDoubles]] — same values,
 * same order). Emitted INSIDE a [[PqExpressions.kernel]] method body
 * only (its locals live in the kernel's own scope); the loop variable is
 * `\${out}_i` so two copies in one body (e.g. [[CosineSim]]) never
 * redeclare. `\$arr` must be non-null at the insertion point. */
private[graft] object VecReadGen {
  def copyToDoubles(arr: String, out: String, elem: DataType): String = {
    val read = if (elem == FloatType) s"(double) $arr.getFloat(${out}_i)"
      else s"$arr.getDouble(${out}_i)"
    s"""
       |int ${out}_n = $arr.numElements();
       |double[] $out = new double[${out}_n];
       |for (int ${out}_i = 0; ${out}_i < ${out}_n; ${out}_i++) {
       |  $out[${out}_i] = $read;
       |}
     """.stripMargin
  }
}

/**
 * A non-null primitive literal that generated code reads by reference: the
 * value goes into the references array and is loaded once into a field of
 * the generated class, never inlined into its source. Two plans that differ
 * only in such values therefore generate the same Java and share one
 * compiled class from the codegen cache. To the optimizer, data-source
 * pushdown and cached-batch pruning it is an ordinary [[Literal]] (same
 * value, equality, folding and SQL). Build it with the exact type of what it
 * is compared with: a `Cast` over it folds back into an inlined literal.
 */
final class ParamLiteral(value: Any, dataType: DataType)
    extends Literal(value, dataType) {
  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"a ParamLiteral holds a non-null primitive value: $value of $dataType")

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode.forNonNullValue(JavaCode.global(
      ParamLiteral.field(ctx, "param", value, dataType), dataType))
}

object ParamLiteral {
  /** A field of the generated class holding `value`, set from the
   * references array when the class is initialized. */
  private[graft] def field(ctx: CodegenContext, name: String, value: Any,
      dataType: DataType): String = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj(name, value, CodeGenerator.boxedType(dataType))
    ctx.addMutableState(javaType, name, v => s"$v = $ref.${javaType}Value();",
      forceInline = true)
  }

  def apply(value: Any, dataType: DataType): Column =
    Exprs.column(new ParamLiteral(value, dataType))

  /** `c IN (values)`, each value a [[ParamLiteral]] of `dataType`, which
   * must be `c`'s own type. */
  def isIn(c: Column, values: Seq[Any], dataType: DataType): Column =
    Exprs.column(In(Exprs.expression(c), values.map(new ParamLiteral(_, dataType))))
}

/**
 * `nearest_centroid(vec)`: index of the closest centroid (squared L2) for an
 * `array<float|double>` column, with ties broken toward the lower index.
 *
 * The centroid table rides along as a literal inside the expression (it is
 * the IVF coarse codebook — `nClusters × dim` doubles, a few MB at most), so
 * cluster assignment is a pure per-row map: no cross join against a centroid
 * relation, no per-id window sort, no shuffle. On a 100 TB corpus this is the
 * difference between a narrow scan and re-shuffling the whole table per Lloyd
 * iteration. (For codebooks too big to ship with the task — 10⁵+ centroids —
 * use a bucketed join instead; IVF coarse quantizers are far below that.)
 */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {
  require(centroids.nonEmpty, "need at least one centroid")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val vec = new Array[Double](dim)
    var i = 0
    if (isFloat) while (i < dim) { vec(i) = arr.getFloat(i); i += 1 }
    else while (i < dim) { vec(i) = arr.getDouble(i); i += 1 }
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      val d = math.min(dim, cen.length)
      var dist = 0.0
      var j = 0
      while (j < d) { val t = vec(j) - cen(j); dist += t * t; j += 1 }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val elem = child.dataType.asInstanceOf[ArrayType].elementType
      val fn = PqExpressions.kernel(ctx, "graftNearestCentroid", "int",
        Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |${VecReadGen.copyToDoubles("arr", "vec", elem)}
           |int best = 0;
           |double bestDist = Double.MAX_VALUE;
           |for (int c = 0; c < ${centroids.length}; c++) {
           |  double[] cen = $cents[c];
           |  int d = Math.min(vec_n, cen.length);
           |  double dist = 0.0;
           |  for (int j = 0; j < d; j++) {
           |    double t = vec[j] - cen[j];
           |    dist += t * t;
           |  }
           |  if (dist < bestDist) { bestDist = dist; best = c; }
           |}
           |return best;
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  // the centroid payload is identity-compared by default; make semantically
  // equal expressions (same data) compare equal for plan canonicalization
  override def equals(other: Any): Boolean = other match {
    case NearestCentroid(c, cen) =>
      c == child && cen.length == centroids.length &&
        cen.zip(centroids).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.deepHashCode(
      centroids.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  def apply(c: Column, centroids: Array[Array[Double]]): Column =
    Exprs.column(new NearestCentroid(Exprs.expression(c), centroids))
}

/** Shared dense-vector read: `array<float|double>` column value → doubles. */
private[graft] object VecRead {
  def toDoubles(arr: ArrayData, elem: DataType): Array[Double] = {
    val n = arr.numElements()
    val out = new Array[Double](n)
    var i = 0
    if (elem == FloatType) while (i < n) { out(i) = arr.getFloat(i); i += 1 }
    else while (i < n) { out(i) = arr.getDouble(i); i += 1 }
    out
  }
}

/**
 * `cosine_to_query(vec)`: cosine similarity of an `array<float|double>`
 * column against a fixed query vector. Accumulation order matches the
 * `zip_with`/`aggregate` column-algebra formulation (left-to-right sums), so
 * results are bit-identical to it — but the per-row work is one fused loop
 * instead of three lambda-driven array traversals, and the generated plan
 * stays small enough to JIT.
 */
case class CosineToQuery(child: Expression, query: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val qNorm: Double = {
    var s = 0.0; var i = 0
    while (i < query.length) { s += query(i) * query(i); i += 1 }
    math.sqrt(s)
  }
  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val vec = VecRead.toDoubles(arr, elemType)
    val d = math.min(vec.length, query.length)
    var dot = 0.0
    var nv = 0.0
    var i = 0
    while (i < d) { dot += vec(i) * query(i); i += 1 }
    i = 0
    while (i < vec.length) { nv += vec(i) * vec(i); i += 1 }
    val vNorm = math.sqrt(nv)
    if (vNorm == 0.0 || qNorm == 0.0) 0.0 else dot / (vNorm * qNorm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      // the query and its norm are read by reference, so the kernel's
      // source is the same for every query vector
      val q = ctx.addReferenceObj("query", query, "double[]")
      val qn = ParamLiteral.field(ctx, "qNorm", qNorm, DoubleType)
      val fn = PqExpressions.kernel(ctx, "graftCosineToQuery", "double",
        Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |${VecReadGen.copyToDoubles("arr", "vec", elemType)}
           |int d = Math.min(vec_n, $q.length);
           |double dot = 0.0;
           |double nv = 0.0;
           |for (int j = 0; j < d; j++) { dot += vec[j] * $q[j]; }
           |for (int j = 0; j < vec_n; j++) { nv += vec[j] * vec[j]; }
           |double vNorm = Math.sqrt(nv);
           |double qNorm = $qn;
           |return (vNorm == 0.0 || qNorm == 0.0)
           |  ? 0.0 : dot / (vNorm * qNorm);
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  override def equals(other: Any): Boolean = other match {
    case CosineToQuery(c, q) => c == child && java.util.Arrays.equals(q, query)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(query)

  override protected def withNewChildInternal(newChild: Expression): CosineToQuery =
    copy(child = newChild)
}

object CosineToQuery {
  def apply(c: Column, query: Array[Double]): Column =
    Exprs.column(new CosineToQuery(Exprs.expression(c), query))
}

/**
 * `cosine_sim(a, b)`: cosine similarity between two vector columns, fused
 * loop, same accumulation order as the column-algebra version.
 */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val leftElem: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val rightElem: DataType =
    right.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val va = VecRead.toDoubles(l.asInstanceOf[ArrayData], leftElem)
    val vb = VecRead.toDoubles(r.asInstanceOf[ArrayData], rightElem)
    val d = math.min(va.length, vb.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < d) { dot += va(i) * vb(i); i += 1 }
    i = 0
    while (i < va.length) { na += va(i) * va(i); i += 1 }
    i = 0
    while (i < vb.length) { nb += vb(i) * vb(i); i += 1 }
    val n1 = math.sqrt(na); val n2 = math.sqrt(nb)
    if (n1 == 0.0 || n2 == 0.0) 0.0 else dot / (n1 * n2)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, ra) => {
      val fn = PqExpressions.kernel(ctx, "graftCosineSim", "double",
        Seq(PqExpressions.ArrayDataT -> "la", PqExpressions.ArrayDataT -> "ra"),
        s"""
           |${VecReadGen.copyToDoubles("la", "va", leftElem)}
           |${VecReadGen.copyToDoubles("ra", "vb", rightElem)}
           |int d = Math.min(va_n, vb_n);
           |double dot = 0.0;
           |double na = 0.0;
           |double nb = 0.0;
           |for (int j = 0; j < d; j++) { dot += va[j] * vb[j]; }
           |for (int j = 0; j < va_n; j++) { na += va[j] * va[j]; }
           |for (int j = 0; j < vb_n; j++) { nb += vb[j] * vb[j]; }
           |double n1 = Math.sqrt(na);
           |double n2 = Math.sqrt(nb);
           |return (n1 == 0.0 || n2 == 0.0) ? 0.0 : dot / (n1 * n2);
         """.stripMargin)
      s"${ev.value} = $fn($la, $ra);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def apply(a: Column, b: Column): Column =
    Exprs.column(new CosineSim(Exprs.expression(a), Exprs.expression(b)))
}

/**
 * `hyperplane_bucket(vec)`: sign-bit LSH bucket id under a fixed set of
 * random hyperplanes — bit i set iff `vec · plane_i >= 0`. One pass over the
 * vector per plane, no intermediate arrays; replaces H separate
 * `aggregate(zip_with(...))` trees.
 */
case class HyperplaneBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val vec = VecRead.toDoubles(v.asInstanceOf[ArrayData], elemType)
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val d = math.min(vec.length, plane.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += vec(i) * plane(i); i += 1 }
      if (dot >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val fn = PqExpressions.kernel(ctx, "graftHyperplaneBucket", "long",
        Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |${VecReadGen.copyToDoubles("arr", "vec", elemType)}
           |long bucket = 0L;
           |for (int p = 0; p < ${planes.length}; p++) {
           |  double[] plane = $planesRef[p];
           |  int d = Math.min(vec_n, plane.length);
           |  double dot = 0.0;
           |  for (int j = 0; j < d; j++) { dot += vec[j] * plane[j]; }
           |  if (dot >= 0) { bucket |= (1L << p); }
           |}
           |return bucket;
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  override def equals(other: Any): Boolean = other match {
    case HyperplaneBucket(c, p) =>
      c == child && p.length == planes.length &&
        p.zip(planes).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.deepHashCode(
      planes.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

object HyperplaneBucket {
  def apply(c: Column, planes: Array[Array[Double]]): Column =
    Exprs.column(new HyperplaneBucket(Exprs.expression(c), planes))
}

/**
 * Per-BAND sign-bit buckets of a vector under `planes`: one pass over the
 * vector computes every dot product, and band i's bucket is the little-
 * endian sign-bit word of planes `[i·bandWidth, (i+1)·bandWidth)` — element
 * i of the returned `array<long>`. For `bands × bandWidth ≤ 64` each
 * element equals the bit-slice `(fusedSignature >> i·bandWidth) & mask` of
 * [[HyperplaneBucket]]'s single long (same plane order, same bit order),
 * but the TOTAL plane budget is no longer capped at 64: each band just
 * needs `bandWidth ≤ 64`. This is what lets banded-LSH width keep growing
 * ~log₂(n) past 16×4 on billion-vector corpora while band count grows to
 * hold recall.
 */
case class HyperplaneBandBuckets(child: Expression,
    planes: Array[Array[Double]], bandWidth: Int)
    extends UnaryExpression {
  require(bandWidth >= 1 && bandWidth <= 64,
    s"band width must be 1..64 bits: $bandWidth")
  require(planes.length % bandWidth == 0,
    s"planes (${planes.length}) must be a whole number of $bandWidth-bit bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(v: Any): Any = {
    val vec = VecRead.toDoubles(v.asInstanceOf[ArrayData], elemType)
    val bands = planes.length / bandWidth
    val out = new Array[Long](bands)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val d = math.min(vec.length, plane.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += vec(i) * plane(i); i += 1 }
      if (dot >= 0) out(p / bandWidth) |= (1L << (p % bandWidth))
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // hand-written codegen: the banding pass evaluates planes·dim multiplies
  // per vector (~10k at the 20M-corpus auto sizing) across every row of
  // every dedup candidate shuffle — the single hottest per-vector loop in
  // the repo. Arithmetic is order-identical to nullSafeEval (which copies
  // to a double[] first via VecRead.toDoubles, exactly as generated here).
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst
      .expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val fn = PqExpressions.kernel(ctx, "graftBandBuckets",
        PqExpressions.ArrayDataT, Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |${VecReadGen.copyToDoubles("arr", "vec", elemType)}
           |long[] out = new long[${planes.length / bandWidth}];
           |for (int p = 0; p < ${planes.length}; p++) {
           |  double[] plane = $planesRef[p];
           |  int d = Math.min(vec_n, plane.length);
           |  double dot = 0.0;
           |  for (int j = 0; j < d; j++) { dot += vec[j] * plane[j]; }
           |  if (dot >= 0) { out[p / $bandWidth] |= (1L << (p % $bandWidth)); }
           |}
           |return org.apache.spark.sql.catalyst.expressions
           |  .UnsafeArrayData.fromPrimitiveArray(out);
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  override def equals(other: Any): Boolean = other match {
    case HyperplaneBandBuckets(c, p, w) =>
      c == child && w == bandWidth && p.length == planes.length &&
        p.zip(planes).forall { case (a, b) => java.util.Arrays.equals(a, b) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + bandWidth) +
      java.util.Arrays.deepHashCode(planes.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBandBuckets =
    copy(child = newChild)
}

object HyperplaneBandBuckets {
  def apply(c: Column, planes: Array[Array[Double]], bandWidth: Int): Column =
    Exprs.column(new HyperplaneBandBuckets(Exprs.expression(c), planes,
      bandWidth))
}
