package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann

/**
 * The fused vector/text expressions (CosineToQuery, CosineSim,
 * HyperplaneBucket, NearestCentroid, WordNgramHashes) replaced equivalent
 * column-algebra formulations for codegen-size and shuffle reasons. These
 * tests pin their semantics against the original algebra on real data so a
 * future edit cannot silently drift.
 */
class ExpressionParitySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  private def queryVec: Array[Float] =
    emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).toArray

  test("CosineToQuery is bit-identical to the zip_with/aggregate algebra") {
    val q = queryVec.map(_.toDouble)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val qCol = array(q.map(lit): _*)
    val v = transform(col("embedding"), x => x.cast("double"))
    val dot = aggregate(zip_with(v, qCol, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val vNorm = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
    val algebra = when(vNorm === 0, lit(0.0)).otherwise(dot / (vNorm * lit(qNorm)))

    val diff = emb.select(
      (Ann.cosineToQuery(col("embedding"), queryVec) - algebra).as("d"))
      .agg(max(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff === 0.0, "fused cosine must equal the algebra exactly")
  }

  test("CosineSim symmetric, 1.0 on itself, matches algebra on pairs") {
    val self = emb.select(Ann.cosine(col("embedding"), col("embedding")).as("c"))
      .agg(min(col("c")), max(col("c"))).collect()(0)
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-12)

    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va")).limit(50)
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb")).limit(50)
    val pairs = a.crossJoin(b)
    val va = transform(col("va"), x => x.cast("double"))
    val vb = transform(col("vb"), x => x.cast("double"))
    val dot = aggregate(zip_with(va, vb, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(va, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(vb, x => x * x), lit(0.0), (acc, x) => acc + x))
    val algebra = when(na === 0 || nb === 0, lit(0.0)).otherwise(dot / (na * nb))
    val diff = pairs.select((Ann.cosine(col("va"), col("vb")) - algebra).as("d"))
      .agg(max(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff === 0.0)
  }

  test("HyperplaneBucket equals the per-plane sign algebra") {
    val planes = Ann.hyperplanes(queryVec.length, 8, seed = 7L)
    val v = transform(col("embedding"), x => x.cast("double"))
    val algebra = planes.zipWithIndex.map { case (p, i) =>
      val pCol = array(p.map(lit): _*)
      val dt = aggregate(zip_with(v, pCol, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      when(dt >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val mismatches = emb.select(
      Ann.lshBucket(col("embedding"), planes).as("fused"), algebra.as("alg"))
      .filter(col("fused") =!= col("alg")).count()
    assert(mismatches === 0)
  }

  test("HyperplaneBandBuckets equals the fused signature's bit-slices — and extends past 64") {
    // within the 64-bit budget the per-band array must be BIT-IDENTICAL to
    // the former single-long form's slices (same plane order, same bit
    // order) — this is what keeps q28's default candidate set unchanged
    // across the representation change
    val p = 16; val b = 4
    val planes = Ann.hyperplanes(queryVec.length, p * b, seed = 7L)
    val mask = (1L << p) - 1
    val viaFused = emb.select(col("vec_id"),
      Ann.lshBucket(col("embedding"), planes).as("sig"))
      .select(col("vec_id"),
        array((0 until b).map(i =>
          shiftright(col("sig"), i * p).bitwiseAND(lit(mask))): _*).as("slices"))
    val viaBands = emb.select(col("vec_id"),
      org.apache.spark.sql.graft.HyperplaneBandBuckets(
        col("embedding"), planes, p).as("bands"))
    val diff = viaFused.join(viaBands, "vec_id")
      .filter(col("slices") =!= col("bands")).count()
    assert(diff === 0, "band buckets must equal the fused bit-slices")
    // beyond 64 total planes (the old cap): parity against the driver-side
    // sign algebra, band by band
    val p2 = 20; val b2 = 5 // 100 planes — impossible in one long
    val planes2 = Ann.hyperplanes(queryVec.length, p2 * b2, seed = 11L)
    val got = emb.select(col("vec_id"),
      org.apache.spark.sql.graft.HyperplaneBandBuckets(
        col("embedding"), planes2, p2).as("bands"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vecs2 = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    vecs2.foreach { case (id, v) =>
      val want = (0 until b2).map { band =>
        (0 until p2).map { j =>
          val plane = planes2(band * p2 + j)
          val dot = plane.zip(v).map { case (a, x) => a * x }.sum
          if (dot >= 0) 1L << j else 0L
        }.sum
      }
      assert(got(id) === want, s"vec $id")
    }
  }

  test("NearestCentroid matches driver-side argmin with low-index tie-break") {
    val centroids = emb.orderBy(col("vec_id")).limit(8)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val got = emb.select(col("vec_id"),
      org.apache.spark.sql.graft.NearestCentroid(col("embedding"), centroids).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    vecs.foreach { case (id, v) =>
      val dists = centroids.map(c => c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      val best = dists.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      assert(got(id) === best, s"vec $id")
    }
  }

  test("every hand-codegen'd vector kernel COMPILES — forced codegen, no fallback") {
    // Regression for the round-16 shadowing bug: the first doGenCode
    // attempt inlined blocks whose fixed local names (`i`, `n`, `vec`)
    // shadowed in-scope locals of the enclosing generated method — a
    // Java error janino reports as "Redefinition of local variable" —
    // and Spark FELL BACK TO INTERPRETED SILENTLY, so every parity test
    // here kept passing while the codegen they exist to validate never
    // ran. These confs turn a compile failure into a test failure;
    // the kernels now live in their own addNewFunction methods
    // ([[PqExpressions.kernel]]), where shadowing is impossible.
    val prev = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode",
      "spark.sql.codegen.wholeStage").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val cb = Ann.pqTrain(emb, "embedding", m = 8, k = 16,
        iterations = 2, seed = 7L)
      val (gram, k) = Ann.sdcGram(cb)
      val planes = Ann.hyperplanes(queryVec.length, 16, seed = 7L)
      import org.apache.spark.sql.graft.{PqEncodeStats, PqEncode, VecNorm, HyperplaneBandBuckets, NearestCentroid, PqCosineUpperBound, PqAdcDot, ParamLiteral}
      import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
      val ids = Set(1L, 3L, 5L)
      val clusters = Set(0, 2)
      def kernels() = emb.limit(64).select(
        col("vec_id"),
        PqEncodeStats(col("embedding"), cb.centroids).as("s"),
        length(PqEncode(col("embedding"), cb.centroids)).as("m"),
        VecNorm(col("embedding")).as("nrm"),
        Ann.cosineToQuery(col("embedding"), queryVec).as("cq"),
        Ann.cosine(col("embedding"), col("embedding")).as("self"),
        Ann.lshBucket(col("embedding"), planes).as("b"),
        HyperplaneBandBuckets(col("embedding"), planes, 8).as("bands"),
        NearestCentroid(col("embedding"),
          cb.centroids(0)).as("nc"))
        .withColumn("ub", PqCosineUpperBound(col("s"), col("s"), gram, k))
        .withColumn("adc", PqAdcDot(col("s.code"),
          Array.fill(cb.m)(Array.fill(k)(1.0))))
        .withColumn("half", col("nrm") * ParamLiteral(0.5, DoubleType))
        .withColumn("in_id", ParamLiteral.isIn(col("vec_id"), ids.toSeq, LongType))
        .withColumn("in_c", ParamLiteral.isIn(col("nc"), clusters.toSeq, IntegerType))
        .collect()
      val rows = kernels()
      assert(rows.length === 64)
      rows.foreach { r =>
        assert(math.abs(r.getAs[Double]("self") - 1.0) < 1e-12)
        assert(r.getAs[Double]("ub") >= 1.0 - 1e-9,
          "self upper bound must reach the true cosine 1.0")
        assert(r.getAs[Double]("nrm") > 0.0)
        assert(r.getAs[Int]("m") === cb.m)
        assert(math.abs(r.getAs[Double]("adc") - cb.m) < 1e-12,
          "all-ones LUT sums to m")
        assert(r.getAs[Seq[Long]]("bands").length === 2)
        assert(math.abs(r.getAs[Double]("cq")) <= 1.0 + 1e-12)
        assert(r.getAs[Double]("half") === r.getAs[Double]("nrm") * 0.5)
        assert(r.getAs[Boolean]("in_id") === ids(r.getAs[Long]("vec_id")))
        assert(r.getAs[Boolean]("in_c") === clusters(r.getAs[Int]("nc")))
      }
      // ParamLiteral: the generated class reads the values the interpreter
      // evaluates
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      def params(rs: Array[org.apache.spark.sql.Row]) = rs.map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Double]("half"), r.getAs[Boolean]("in_id"), r.getAs[Boolean]("in_c"),
        r.getAs[Double]("cq"))).sortBy(_._1).toSeq
      assert(params(kernels()) === params(rows))
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("WordNgramHashes: count parity with the string n-gram algebra") {
    // distinct-hash count == distinct-string count (no collisions expected on
    // real corpus), short docs produce exactly one gram
    val n = 5
    val fused = docs.select(
      size(org.apache.spark.sql.graft.WordNgramHashes(col("text"), n)).as("k"))
      .agg(sum(col("k"))).collect()(0).getLong(0)
    val algebra = docs.select(
      size(array_distinct(graft.dedup.Dedup.wordNgrams(col("text"), n))).as("k"))
      .agg(sum(col("k"))).collect()(0).getLong(0)
    assert(fused === algebra)

    import spark.implicits._
    val short = Seq((1L, "only two"), (2L, ""), (3L, "one")).toDF("doc_id", "text")
    val counts = short.select(col("doc_id"),
      size(org.apache.spark.sql.graft.WordNgramHashes(col("text"), n)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(counts === Map(1L -> 1, 2L -> 1, 3L -> 1))
  }

  test("NgramProfile counts match the string n-gram algebra on real docs") {
    // total = gram count, distinct = distinct-string count, top = max
    // occurrence of any gram — recomputed driver-side from raw token streams
    val n = 3
    val prof = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.NgramProfile(col("text"), n).as("p"))
      .select(col("doc_id"), col("p.total_grams"), col("p.distinct_grams"),
        col("p.top_gram_count"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val raw = docs.select(col("doc_id"), col("text")).collect().map { r =>
      val toks = r.getString(1).toLowerCase.replaceAll("\\s+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq
      val grams =
        if (toks.length < n) Seq(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map(_._2.size)
      r.getLong(0) -> (grams.size, counts.size, counts.max)
    }.toMap
    assert(prof === raw)
  }

  test("repetitionRatio / topGramFraction: boilerplate vs unique text") {
    import spark.implicits._
    import graft.text.TextFunctions._
    val df = Seq(
      (1L, Seq.fill(30)("buy now").mkString(" ")), // alternating 2-token spam
      (2L, (1 to 60).map(i => s"w$i").mkString(" ")), // all-unique tokens
      (3L, "short"), // < n tokens: one gram, zero repetition
      (4L, "")).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"),
      repetitionRatio(col("text"), 3).as("rep"),
      topGramFraction(col("text"), 2).as("top"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // spam: 58 3-grams, 2 distinct; 59 2-grams, "buy now" x30
    assert(math.abs(rows(1L)._1 - (1.0 - 2.0 / 58.0)) < 1e-12)
    assert(math.abs(rows(1L)._2 - 30.0 / 59.0) < 1e-12)
    assert(rows(2L)._1 === 0.0, "unique text has no repeated grams")
    assert(rows(2L)._2 === 1.0 / 59.0)
    assert(rows(3L) === ((0.0, 1.0)))
    assert(rows(4L) === ((0.0, 1.0)))
  }

  test("ngramJaccard: 1.0 iff same token stream, in (0,1) for overlap") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e", "a b c d e"),
      ("a b c d e", "A  b C d    e"), // case/whitespace-insensitive
      ("a b c d e f", "b c d e f g"),
      ("a b c", "x y z")).toDF("t1", "t2")
    val out = df.select(graft.dedup.Dedup.ngramJaccard(col("t1"), col("t2"), 3).as("j"))
      .collect().map(_.getDouble(0))
    assert(out(0) === 1.0)
    assert(out(1) === 1.0)
    assert(out(2) > 0.0 && out(2) < 1.0)
    assert(out(3) === 0.0)
  }

  test("ChunkTokens matches the concat_ws/slice algebra on real docs") {
    val (ct, ov) = (10, 2)
    val stride = ct - ov
    val toks = split(trim(col("text")), "\\s+")
    val nChunks = greatest(lit(1),
      ceil((size(toks) - lit(ov)).cast("double") / lit(stride)).cast("int"))
    val algebra = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + lit(1), lit(ct))))
    val fused = org.apache.spark.sql.graft.ChunkTokens(col("text"), ct, ov)
    val mismatches = docs.select(fused.as("f"), algebra.as("a"))
      .filter(col("f") =!= col("a")).count()
    assert(mismatches === 0)

    import spark.implicits._
    val edge = Seq("", "   ", "one", "a b", (1 to 25).map("w" + _).mkString(" "))
      .toDF("text")
    val bad = edge.select(fused.as("f"), algebra.as("a"))
      .filter(col("f") =!= col("a")).count()
    assert(bad === 0)
  }
}
