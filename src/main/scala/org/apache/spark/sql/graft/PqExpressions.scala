package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Product-quantization kernels (Jégou et al., "Product Quantization for
 * Nearest Neighbor Search", TPAMI 2011) — the memory-compression scale path
 * for ANN: a d-dim float vector becomes m bytes, so a 100 TB embedding
 * corpus scans as ~1.5 TB of codes. All kernels are fused single-pass
 * expressions over the array column (no UDFs, no per-dimension lambda
 * algebra) with hand-written `doGenCode` — these are the hot loops of the
 * two-stage cosine-dedup verify (PqEncodeStats per banded row,
 * PqCosineUpperBound per candidate pair: 140M + 653M evaluations at 20M
 * vectors), and the interpreted CodegenFallback path paid per-row boxing
 * and virtual-dispatch on exactly those counts. Generated arithmetic is
 * ORDER-IDENTICAL to the interpreted loops (AdcVerifySpec pins both
 * against a driver recompute). The reference engine has no vector ops;
 * this follows the published algorithm.
 */
private[graft] object PqExpressions {
  def elemAt(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Generated-Java read of element `i` of an array term — the codegen
   * twin of [[elemAt]], branch resolved at compile time. */
  def genElemAt(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  val ArrayDataT = "org.apache.spark.sql.catalyst.util.ArrayData"
  val InternalRowT = "org.apache.spark.sql.catalyst.InternalRow"

  /** Registers a generated kernel as its OWN private method
   * (`ctx.addNewFunction`) and returns the callee name. Inlining the loop
   * bodies at the call site fails to compile: Java forbids a block-local
   * declaration that SHADOWS any in-scope local of the enclosing generated
   * method (janino:
   * "Redefinition of local variable"), and the surrounding whole-stage /
   * projection code owns names like `i` at many insertion points — the
   * fallback was silent outside the logs. A method body is its own scope
   * — collision-proof by construction — and the hot kernels stay small
   * standalone methods the JIT compiles independently. */
  def kernel(ctx: CodegenContext, name: String, returnType: String,
      params: Seq[(String, String)], body: String): String = {
    val fn = ctx.freshName(name)
    val sig = params.map { case (t, p) => s"$t $p" }.mkString(", ")
    ctx.addNewFunction(fn,
      s"""
         |private $returnType $fn($sig) {
         |$body
         |}
       """.stripMargin)
  }
}

/** `pq_encode(vec)`: nearest centroid id per subspace → m-byte code.
 * `codebooks(j)(c)` is the c-th centroid of subspace j (dsub doubles). */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.length <= 256),
    "PQ codebooks must have at most 256 centroids per subspace (byte codes)")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  private lazy val isFloat = PqExpressions.isFloatArray(child.dataType)
  private val m = codebooks.length
  private val dsub = codebooks(0)(0).length

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    // copy once, then tight primitive loops — the per-element accessor in
    // the innermost (m·k·dsub) loop was the measured 12× interpreter tax
    val vec = new Array[Double](m * dsub)
    var vi = 0
    while (vi < vec.length) {
      vec(vi) = PqExpressions.elemAt(arr, vi, isFloat); vi += 1
    }
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val base = j * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = vec(base + i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
      val fn = PqExpressions.kernel(ctx, "graftPqEncode", "byte[]",
        Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |double[] vec = new double[${m * dsub}];
           |for (int i = 0; i < ${m * dsub}; i++) {
           |  vec[i] = ${PqExpressions.genElemAt("arr", "i", isFloat)};
           |}
           |byte[] out = new byte[$m];
           |for (int j = 0; j < $m; j++) {
           |  double[][] cb = $cbs[j];
           |  int base = j * $dsub;
           |  int best = 0;
           |  double bestD = Double.MAX_VALUE;
           |  for (int c = 0; c < cb.length; c++) {
           |    double[] cent = cb[c];
           |    double d = 0.0;
           |    for (int i = 0; i < $dsub; i++) {
           |      double diff = vec[base + i] - cent[i];
           |      d += diff * diff;
           |    }
           |    if (d < bestD) { bestD = d; best = c; }
           |  }
           |  out[j] = (byte) best;
           |}
           |return out;
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  def apply(c: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Exprs.column(new PqEncode(Exprs.expression(c), codebooks))
}

/** `pq_adc_dot(code)`: Σ_j luts(j)(code(j)) — with `luts(j)(c) =
 * ⟨query_sub_j, centroid_{j,c}⟩` this is the inner product of the query
 * with the reconstructed vector (asymmetric distance computation). One
 * table lookup per code byte; never touches the original vector. */
case class PqAdcDot(child: Expression, luts: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private val m = luts.length

  override def nullSafeEval(v: Any): Any = {
    val code = v.asInstanceOf[Array[Byte]]
    var s = 0.0
    var j = 0
    while (j < m) {
      s += luts(j)(code(j) & 0xff)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, code => {
      val lutsRef = ctx.addReferenceObj("luts", luts, "double[][]")
      val fn = PqExpressions.kernel(ctx, "graftPqAdcDot", "double",
        Seq("byte[]" -> "code"),
        s"""
           |double s = 0.0;
           |for (int j = 0; j < $m; j++) {
           |  s += $lutsRef[j][code[j] & 0xff];
           |}
           |return s;
         """.stripMargin)
      s"${ev.value} = $fn($code);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqAdcDot =
    copy(child = newChild)
}

object PqAdcDot {
  def apply(c: Column, luts: Array[Array[Double]]): Column =
    Exprs.column(new PqAdcDot(Exprs.expression(c), luts))
}

/** `pq_encode_stats(vec)`: one fused pass emitting everything the
 * two-stage cosine verify needs per vector — `struct<code: binary,
 * norm: double, err: double>` where `code` is the m-byte PQ code,
 * `norm = ‖v‖` (true vector norm) and `err = ‖v − v̂‖` (exact
 * quantization residual, √Σ_j bestD_j from the same nearest-centroid
 * search that picks the code bytes). Storing the residual per vector is
 * what makes the pair bound in [[PqCosineUpperBound]] RIGOROUS instead
 * of a global "certified margin": no distribution assumption, no
 * training-set generalization gap. ~32 B per row instead of the fp32
 * vector — the q11 fingerprint-fetch lesson for the operator that
 * cannot use equality. */
case class PqEncodeStats(child: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.length <= 256),
    "PQ codebooks must have at most 256 centroids per subspace (byte codes)")
  override def dataType: DataType = StructType(Seq(
    StructField("code", BinaryType, nullable = false),
    StructField("norm", DoubleType, nullable = false),
    StructField("err", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  private lazy val isFloat = PqExpressions.isFloatArray(child.dataType)
  private val m = codebooks.length
  private val dsub = codebooks(0)(0).length

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    // copy once, then tight primitive loops (see PqEncode.nullSafeEval)
    val vec = new Array[Double](m * dsub)
    var vi = 0
    while (vi < vec.length) {
      vec(vi) = PqExpressions.elemAt(arr, vi, isFloat); vi += 1
    }
    val out = new Array[Byte](m)
    var err2 = 0.0
    var norm2 = 0.0
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val base = j * dsub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = vec(base + i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best.toByte
      err2 += bestD
      var i = 0
      while (i < dsub) {
        val x = vec(base + i)
        norm2 += x * x
        i += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      out, math.sqrt(norm2), math.sqrt(err2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
      val fn = PqExpressions.kernel(ctx, "graftPqEncodeStats",
        PqExpressions.InternalRowT, Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |double[] vec = new double[${m * dsub}];
           |for (int i = 0; i < ${m * dsub}; i++) {
           |  vec[i] = ${PqExpressions.genElemAt("arr", "i", isFloat)};
           |}
           |byte[] out = new byte[$m];
           |double err2 = 0.0;
           |double norm2 = 0.0;
           |for (int j = 0; j < $m; j++) {
           |  double[][] cb = $cbs[j];
           |  int base = j * $dsub;
           |  int best = 0;
           |  double bestD = Double.MAX_VALUE;
           |  for (int c = 0; c < cb.length; c++) {
           |    double[] cent = cb[c];
           |    double d = 0.0;
           |    for (int i = 0; i < $dsub; i++) {
           |      double diff = vec[base + i] - cent[i];
           |      d += diff * diff;
           |    }
           |    if (d < bestD) { bestD = d; best = c; }
           |  }
           |  out[j] = (byte) best;
           |  err2 += bestD;
           |  for (int i = 0; i < $dsub; i++) {
           |    double x = vec[base + i];
           |    norm2 += x * x;
           |  }
           |}
           |return new org.apache.spark.sql.catalyst.expressions
           |  .GenericInternalRow(new Object[] {
           |    out, Double.valueOf(Math.sqrt(norm2)),
           |    Double.valueOf(Math.sqrt(err2)) });
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  override def equals(other: Any): Boolean = other match {
    case PqEncodeStats(c, cbs) =>
      c == child && cbs.length == codebooks.length &&
        cbs.zip(codebooks).forall { case (a, b) =>
          a.length == b.length && a.zip(b).forall { case (x, y) =>
            java.util.Arrays.equals(x, y) } }
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.deepHashCode(
      codebooks.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(
      newChild: Expression): PqEncodeStats = copy(child = newChild)
}

object PqEncodeStats {
  def apply(c: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Exprs.column(new PqEncodeStats(Exprs.expression(c), codebooks))
}

/** `pq_cosine_upper(sa, sb)`: a RIGOROUS upper bound on the exact cosine
 * of the two original vectors, computed from their
 * [[PqEncodeStats]] structs alone — no vector bytes move. With
 * a = â + da (‖da‖ = err_a exact, stored) and b = b̂ + db:
 *
 *   ⟨a,b⟩ = ⟨â,b̂⟩ + ⟨â,db⟩ + ⟨da,b̂⟩ + ⟨da,db⟩
 *         ≤ sdc + ‖â‖·err_b + err_a·‖b̂‖ + err_a·err_b
 *
 * where `sdc = Σ_j T_j(code_a(j), code_b(j))` is the symmetric-distance
 * inner product from the precomputed per-subspace centroid gram table
 * `T_j(x,y) = ⟨cent_{j,x}, cent_{j,y}⟩` (m·k² doubles riding inside the
 * expression — ~0.5 MB at m=16,k=64) and ‖â‖² = Σ_j T_j(c_j,c_j) comes
 * from the table diagonal. Dividing by the stored TRUE norms gives the
 * cosine bound; zero norms return 1.0 (always-keep — the exact stage
 * decides, matching the raw operator's semantics on degenerate vectors).
 * Every inequality is exact over the stored values, so a pre-filter
 * keeping `upper ≥ threshold − fpEps` can only ever pass EXTRA pairs to
 * the exact verify — never drop a true one (recall parity by
 * construction, pinned in AdcVerifySpec). */
case class PqCosineUpperBound(left: Expression, right: Expression,
    gram: Array[Array[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(gram.nonEmpty && gram.forall(_.length == k * k),
    s"gram table must hold m flattened k x k blocks (k=$k)")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private val m = gram.length

  override def nullSafeEval(l: Any, r: Any): Any = {
    val ra = l.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    val rb = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    PqCosineUpperBound.boundValue(
      ra.getBinary(0), ra.getDouble(1), ra.getDouble(2),
      rb.getBinary(0), rb.getDouble(1), rb.getDouble(2), gram, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ra, rb) => {
      val gramRef = ctx.addReferenceObj("gram", gram, "double[][]")
      val fn = PqExpressions.kernel(ctx, "graftPqCosUpper", "double",
        Seq(PqExpressions.InternalRowT -> "ra",
          PqExpressions.InternalRowT -> "rb"),
        s"""
           |byte[] ca = ra.getBinary(0);
           |double na = ra.getDouble(1);
           |double ea = ra.getDouble(2);
           |byte[] cb = rb.getBinary(0);
           |double nb = rb.getDouble(1);
           |double eb = rb.getDouble(2);
           |if (na == 0.0 || nb == 0.0) { return 1.0; }
           |double sdc = 0.0;
           |double ahat2 = 0.0;
           |double bhat2 = 0.0;
           |for (int j = 0; j < $m; j++) {
           |  double[] t = $gramRef[j];
           |  int x = ca[j] & 0xff;
           |  int y = cb[j] & 0xff;
           |  sdc += t[x * $k + y];
           |  ahat2 += t[x * $k + x];
           |  bhat2 += t[y * $k + y];
           |}
           |return (sdc + Math.sqrt(ahat2) * eb + ea * Math.sqrt(bhat2)
           |  + ea * eb) / (na * nb);
         """.stripMargin)
      s"${ev.value} = $fn($ra, $rb);"
    })

  override def equals(other: Any): Boolean = other match {
    case PqCosineUpperBound(a, b, g, kk) =>
      a == left && b == right && kk == k && g.length == gram.length &&
        g.zip(gram).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * left.hashCode() + right.hashCode()) +
      java.util.Arrays.deepHashCode(gram.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCosineUpperBound =
    copy(left = newLeft, right = newRight)
}

object PqCosineUpperBound {
  def apply(a: Column, b: Column, gram: Array[Array[Double]],
      k: Int): Column =
    Exprs.column(new PqCosineUpperBound(Exprs.expression(a),
      Exprs.expression(b), gram, k))

  /** The bound arithmetic itself, shared VERBATIM by the expression's
   * interpreted eval and the grouped pair-emit walk in
   * [[graft.ann.Ann.cosineDedupPairs]] — one implementation, so the two
   * execution shapes cannot drift (same accumulation order as the
   * generated kernel). */
  def boundValue(ca: Array[Byte], na: Double, ea: Double,
      cb: Array[Byte], nb: Double, eb: Double,
      gram: Array[Array[Double]], k: Int): Double = {
    if (na == 0.0 || nb == 0.0) return 1.0
    var sdc = 0.0
    var ahat2 = 0.0
    var bhat2 = 0.0
    var j = 0
    val m = gram.length
    while (j < m) {
      val t = gram(j)
      val x = ca(j) & 0xff
      val y = cb(j) & 0xff
      sdc += t(x * k + y)
      ahat2 += t(x * k + x)
      bhat2 += t(y * k + y)
      j += 1
    }
    val ub = sdc + math.sqrt(ahat2) * eb + ea * math.sqrt(bhat2) + ea * eb
    ub / (na * nb)
  }
}

/** `vec_norm(vec)`: √(Σ x²) in one fused pass. */
case class VecNorm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val isFloat = PqExpressions.isFloatArray(child.dataType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val x = PqExpressions.elemAt(arr, i, isFloat)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val fn = PqExpressions.kernel(ctx, "graftVecNorm", "double",
        Seq(PqExpressions.ArrayDataT -> "arr"),
        s"""
           |double s = 0.0;
           |int n = arr.numElements();
           |for (int i = 0; i < n; i++) {
           |  double x = ${PqExpressions.genElemAt("arr", "i", isFloat)};
           |  s += x * x;
           |}
           |return Math.sqrt(s);
         """.stripMargin)
      s"${ev.value} = $fn($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}

object VecNorm {
  def apply(c: Column): Column = Exprs.column(new VecNorm(Exprs.expression(c)))
}
