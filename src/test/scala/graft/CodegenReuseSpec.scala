package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann

/** The kNN operators' per-query constants (the query vector and its norm,
 * the probed clusters or buckets) reach generated code by reference, so
 * two queries plan to the same Java and compile once. The values stay
 * literals to the optimizer: answers match a driver-side oracle bit for
 * bit, parquet still pushes the cluster `IN` down, and a cached index still
 * prunes its batches by it. */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  import TestSpark._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val vecs: Map[Long, Array[Float]] = emb
    .select(col("vec_id"), col("embedding")).collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private lazy val ivf = Ann.ivfIndex(emb, "vec_id", "embedding",
    nClusters = 4, lloydIterations = 2)
  private lazy val cb = Ann.pqTrain(emb, "embedding", m = 8, k = 16,
    iterations = 2)
  private lazy val encoded = Ann.pqEncode(emb, "embedding", cb)
    .persist(StorageLevel.MEMORY_ONLY)
  private lazy val ivfEncoded = Ann.pqEncode(ivf._1, "embedding", cb)
    .persist(StorageLevel.MEMORY_ONLY)

  override def afterAll(): Unit = {
    Seq(ivf._1, encoded, ivfEncoded).foreach(_.unpersist())
    super.afterAll()
  }

  /** Two queries whose nearest clusters differ: a corpus vector and its
   * negation. */
  private lazy val (q1, q2) = {
    val v = vecs(0L)
    (v, v.map(-_))
  }

  private def nearest(q: Array[Float], nprobe: Int): Set[Int] =
    ivf._2.indices.sortBy(c =>
      ivf._2(c).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      .take(nprobe).toSet

  /** `CosineToQuery`'s arithmetic, in its order. */
  private def cosine(v: Array[Float], q: Array[Float]): Double = {
    val qd = q.map(_.toDouble)
    val qNorm = math.sqrt(qd.map(x => x * x).sum)
    var dot = 0.0; var nv = 0.0; var i = 0
    while (i < v.length) { dot += v(i).toDouble * qd(i); i += 1 }
    i = 0
    while (i < v.length) { nv += v(i).toDouble * v(i).toDouble; i += 1 }
    val vNorm = math.sqrt(nv)
    if (vNorm == 0.0 || qNorm == 0.0) 0.0 else dot / (vNorm * qNorm)
  }

  /** Exact top-k of `ids` by cosine to `q`, ties by id. */
  private def topK(ids: Iterable[Long], q: Array[Float], k: Int): Seq[(Long, Double)] =
    ids.toSeq.map(id => id -> cosine(vecs(id), q))
      .sortBy { case (id, c) => (-c, id) }.take(k)

  /** `pqKnn`'s ADC candidates over `rows` (id, code, stored norm): the top
   * `n` by approximate cosine, ties by id. */
  private def adcCandidates(rows: Seq[(Long, Array[Byte], Double)],
      q: Array[Float], n: Int): Seq[Long] = {
    val qd = q.map(_.toDouble)
    val qnorm = math.sqrt(qd.map(x => x * x).sum)
    val luts = Array.tabulate(cb.m) { j =>
      Array.tabulate(cb.centroids(j).length) { c =>
        var s = 0.0; var i = 0
        while (i < cb.dsub) { s += qd(j * cb.dsub + i) * cb.centroids(j)(c)(i); i += 1 }
        s
      }
    }
    rows.map { case (id, code, vnorm) =>
      var adc = 0.0; var j = 0
      while (j < cb.m) { adc += luts(j)(code(j) & 0xff); j += 1 }
      id -> (if (vnorm == 0.0 || qnorm == 0.0) -1.0 else adc / (vnorm * qnorm))
    }.sortBy { case (id, c) => (-c, id) }.take(n).map(_._1)
  }

  private def codes(df: DataFrame): Seq[(Long, Array[Byte], Double)] =
    df.select(col("vec_id"), col("__graft_pq__"), col("__graft_vnorm__")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getDouble(2))).toSeq

  private def clusterOf: Map[Long, Int] = ivf._1
    .select(col("vec_id"), col("__graft_cluster__")).collect()
    .map(r => r.getLong(0) -> r.getInt(1)).toMap

  private val ops: Seq[(String, Array[Float] => DataFrame)] = Seq(
    "bruteForceKnn" -> (q => Ann.bruteForceKnn(emb, "vec_id", "embedding", q, 5)),
    "lshKnn" -> (q => Ann.lshKnn(emb, "vec_id", "embedding", q, 5, probeRadius = 1)),
    "ivfKnn" -> (q => Ann.ivfKnn(ivf._1, ivf._2, "vec_id", "embedding", q, 5, nprobe = 2)),
    "pqKnn" -> (q => Ann.pqKnn(encoded, cb, "vec_id", "embedding", q, 5)),
    "ivfPqKnn" -> (q => Ann.ivfPqKnn(ivfEncoded, ivf._2, cb, "vec_id", "embedding", q,
      5, nprobe = 2)))

  private def answer(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r =>
      r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toSeq

  private def bits(rows: Seq[(Long, Double)]): Seq[(Long, Long)] =
    rows.map { case (id, c) => id -> java.lang.Double.doubleToRawLongBits(c) }

  test("two query vectors generate the same whole-stage code in every kNN operator") {
    assert(nearest(q1, 2) !== nearest(q2, 2), "the two queries must probe different clusters")
    ops.foreach { case (name, op) =>
      val code = Seq(q1, q2).map { q =>
        val df = op(q)
        df.collect()
        codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
      }
      assert(code.head.nonEmpty, s"$name: no whole-stage code")
      assert(code.head.exists(_.contains("graftCosineToQuery")),
        s"$name: the cosine kernel is not in its whole-stage code")
      assert(code.head === code(1), s"$name: the generated code depends on the query")
    }
  }

  test("kNN ids and cosines equal the driver-side oracle bit for bit") {
    val k = 5
    Seq(q1, q2).foreach { q =>
      assert(answer(ops(0)._2(q)) === bits(topK(vecs.keys, q, k)), "bruteForceKnn")
      val planes = Ann.hyperplanes(q.length, 8)
      def bucket(v: Array[Float]) = planes.zipWithIndex.map { case (p, i) =>
        var dot = 0.0; var j = 0
        while (j < v.length) { dot += v(j).toDouble * p(j); j += 1 }
        if (dot >= 0) 1L << i else 0L
      }.sum
      val qb = bucket(q)
      val inProbe = vecs.keys.filter(id => java.lang.Long.bitCount(bucket(vecs(id)) ^ qb) <= 1)
      assert(answer(ops(1)._2(q)) === bits(topK(inProbe, q, k)), "lshKnn")
      val probed = nearest(q, 2)
      val inClusters = clusterOf.collect { case (id, c) if probed(c) => id }
      assert(answer(ops(2)._2(q)) === bits(topK(inClusters, q, k)), "ivfKnn")
      val pqCands = adcCandidates(codes(encoded), q, k * 4)
      assert(answer(ops(3)._2(q)) === bits(topK(pqCands, q, k)), "pqKnn")
      val ivfPqCands = adcCandidates(codes(ivfEncoded).filter { case (id, _, _) =>
        probed(clusterOf(id)) }, q, k * 4)
      assert(answer(ops(4)._2(q)) === bits(topK(ivfPqCands, q, k)), "ivfPqKnn")
    }
  }

  test("a parquet-backed ivfKnn still pushes the probed clusters down") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_pq")
    try {
      ivf._1.write.parquet(s"$dir/index")
      val onDisk = spark.read.parquet(s"$dir/index")
      val knn = Ann.ivfKnn(onDisk, ivf._2, "vec_id", "embedding", q1, 5, nprobe = 2)
      assert(answer(knn) === answer(ops(2)._2(q1)))
      val pushed = knn.queryExecution.executedPlan.toString.split("\n")
        .filter(_.contains("PushedFilters")).toSeq
      assert(pushed.exists(_.contains("In(__graft_cluster__,")),
        s"the cluster IN is not pushed to parquet:\n${pushed.mkString("\n")}")
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir.toString)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  test("a cached ivf index still prunes its batches by the probed clusters") {
    // one cached batch per range of clusters, so a one-cluster probe can
    // skip batches by their cluster bounds
    val byCluster = ivf._1.repartitionByRange(4, col("__graft_cluster__"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val total = byCluster.count()
      val knn = Ann.ivfKnn(byCluster, ivf._2, "vec_id", "embedding", q1, 5, nprobe = 1)
      val probed = nearest(q1, 1)
      assert(answer(knn) === bits(topK(
        clusterOf.collect { case (id, c) if probed(c) => id }, q1, 5)))
      val scans = collect(knn.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s
      }
      assert(scans.size === 1)
      val read = scans.head.metrics("numOutputRows").value
      assert(read > 0 && read < total,
        s"the scan read $read of $total cached rows: no batch was pruned")
    } finally byCluster.unpersist()
  }

  test("ivfKnn refuses a query of the wrong dimension, naming both") {
    val e = intercept[IllegalArgumentException](
      Ann.ivfKnn(ivf._1, ivf._2, "vec_id", "embedding", q1.take(32), 5))
    assert(e.getMessage.contains("32") && e.getMessage.contains("64"), e.getMessage)
  }

  test("pqKnn refuses a query of the wrong dimension, naming both") {
    val e = intercept[IllegalArgumentException](
      Ann.pqKnn(encoded, cb, "vec_id", "embedding", q1 ++ q1, 5))
    assert(e.getMessage.contains("128") && e.getMessage.contains("64"), e.getMessage)
  }

  test("ivfPqKnn refuses a query of the wrong dimension, naming both") {
    val e = intercept[IllegalArgumentException](
      Ann.ivfPqKnn(ivfEncoded, ivf._2, cb, "vec_id", "embedding", q1.take(48), 5))
    assert(e.getMessage.contains("48") && e.getMessage.contains("64"), e.getMessage)
  }
}
