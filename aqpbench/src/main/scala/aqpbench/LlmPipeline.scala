package aqpbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ann.Ann
import graft.dedup.Dedup
import graft.pipeline.Pipeline
import graft.text.TextFunctions

/** `llm_pipeline`: one thread makes repeated passes over a seeded corpus —
 * text enrichment, exact dedup, MinHash-LSH candidates verified by n-gram
 * Jaccard, connected components, chunk-and-pack, embedding near-duplicate
 * pairs — and answers a seeded set of kNN queries per pass from the IVF and
 * PQ indexes built in set-up. The corpus has planted exact and near
 * duplicates, and the embeddings planted near-copies, so recall is checked
 * against known truth; kNN against a brute-force oracle. */
object LlmPipeline {
  val Docs = 1000
  val Planted = 100 // the last Planted docs copy an earlier one
  val Vectors = 3000
  val PlantedVectors = 30
  val Dim = 64
  val Clusters = 10
  val QueriesPerPass = 18
  val StageNames: Seq[String] = Seq("enrich", "exact_dedup", "near_dedup", "components",
    "chunk_pack", "embedding_dedup")
  val Stages: Int = StageNames.size
  val ChunkTokens = 32
  val ChunkOverlap = 4
  val SeqTokens = 1024
  val Stop = Array("the", "and", "of", "to", "in", "is", "that", "it", "for", "with")
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def word(seed: Long, k: Int): String = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "an", "el", "or", "ux")
    (0 until 2 + k % 3).map(j => syl(Rng.int(seed, 500 + j, k, syl.length))).mkString
  }

  /** Corpus text and planted duplicate truth: (text per doc, exact-copy
   * pairs, near-copy pairs). */
  def corpus(seed: Long): (Array[String], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val vocab = Array.tabulate(3000)(k => word(seed, k))
    val zipf = new Rng.Zipf(vocab.length, 1.0)
    val texts = new Array[String](Docs)
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until Docs - Planted).foreach { d =>
      val n = 40 + Rng.int(seed, 510, d, 80)
      texts(d) = (0 until n).map { w =>
        val i = d.toLong * 1000 + w
        if (Rng.u(seed, 511, i) < 0.3) Stop(Rng.int(seed, 512, i, Stop.length))
        else vocab(zipf.draw(Rng.u(seed, 513, i)) - 1)
      }.mkString(" ")
    }
    (Docs - Planted until Docs).foreach { d =>
      val src = Rng.int(seed, 520, d, Docs - Planted)
      if (d % 2 == 0) { texts(d) = texts(src); exact += ((src.toLong, d.toLong)) }
      else {
        // one changed word in about forty keeps 3-gram Jaccard near 0.85
        val words = texts(src).split(" ")
        val k = Rng.int(seed, 521, d, words.length)
        words(k) = "x" + words(k)
        (k + 40 until words.length by 40).foreach(j => words(j) = "x" + words(j))
        texts(d) = words.mkString(" ")
        near += ((src.toLong, d.toLong))
      }
    }
    (texts, exact.toSeq, near.toSeq)
  }

  /** Embeddings: Gaussian clusters plus planted near-copies (last ids). */
  def vectors(seed: Long): (Array[Array[Float]], Seq[(Long, Long)]) = {
    val centers = Array.tabulate(Clusters, Dim)((c, j) => Rng.gauss(seed, 600, c * Dim + j))
    val vs = new Array[Array[Float]](Vectors)
    (0 until Vectors - PlantedVectors).foreach { v =>
      val c = Rng.int(seed, 601, v, Clusters)
      vs(v) = Array.tabulate(Dim)(j =>
        (centers(c)(j) + 0.5 * Rng.gauss(seed, 602, v.toLong * Dim + j)).toFloat)
    }
    val pairs = (Vectors - PlantedVectors until Vectors).map { v =>
      val src = Rng.int(seed, 603, v, Vectors - PlantedVectors)
      vs(v) = Array.tabulate(Dim)(j =>
        (vs(src)(j) + 0.002 * Rng.gauss(seed, 604, v.toLong * Dim + j)).toFloat)
      (src.toLong, v.toLong)
    }
    (vs, pairs)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Brute-force top-k ids by cosine (ties by id), the kNN oracle. */
  def bruteForce(vs: Array[Array[Float]], q: Array[Float], k: Int): Seq[Long] =
    vs.indices.map(i => (cosine(vs(i), q), i.toLong))
      .sortBy { case (c, i) => (-c, i) }.take(k).map(_._2)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    val (texts, exactPairs, nearPairs) = corpus(seed)
    val (vs, vecPairs) = vectors(seed)
    val docs = spark.createDataFrame(texts.indices.map(d =>
      Row(d.toLong, texts(d), s"src${d % 20}")).asJava, DocSchema)
      .repartition(ctx.cores).persist()
    val emb = spark.createDataFrame(vs.indices.map(v =>
      Row(v.toLong, vs(v).toSeq)).asJava, VecSchema).repartition(ctx.cores).persist()
    docs.count(); emb.count()
    val totalWords = texts.map(_.split(" ").length.toLong).sum
    val distinctTexts = texts.distinct.length.toLong
    val queries = (0 until 1000).map { qi =>
      val base = vs(Rng.int(seed, 700, qi, Vectors))
      base.indices.map(j => (base(j) + 0.3 * Rng.gauss(seed, 701, qi.toLong * Dim + j)).toFloat)
        .toArray
    }
    val truth = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Long]]()
    ctx.phase("inputs")

    // set-up: IVF index and PQ codebooks + codes, three times
    var ivf: (DataFrame, Array[Array[Double]]) = null
    var pq: (DataFrame, Ann.PqCodebooks) = null
    val indexMs = mutable.ArrayBuffer.empty[Double]
    val setupReps = (0 until 3).map { _ =>
      if (ivf != null) { ivf._1.unpersist(); pq._1.unpersist() }
      val t0 = System.nanoTime()
      ivf = Ann.ivfIndex(emb, "vec_id", "embedding", nClusters = 16, lloydIterations = 2)
      val cb = Ann.pqTrain(emb, "embedding", m = 8, k = 64, iterations = 6)
      val encoded = Ann.pqEncode(emb, "embedding", cb).persist(StorageLevel.MEMORY_ONLY)
      encoded.count()
      pq = (encoded, cb)
      val s = (System.nanoTime() - t0) / 1e9
      indexMs += s * 1000
      s
    }

    ctx.phase("setup")
    val knnRecall = mutable.ArrayBuffer.empty[Double]
    val lshCandidates = mutable.ArrayBuffer.empty[Double]
    val verifiedShare = mutable.ArrayBuffer.empty[Double]
    var dedupRecall = Double.NaN
    var queryNo = 0

    // One pass is this fixed sequence of ops; the closed loop runs it op by
    // op, so the window overruns its deadline by at most one op.
    def steps(docs: DataFrame, emb: DataFrame, knnQueries: Int): IndexedSeq[Long => Unit] = {
      var verified: Array[Row] = Array.empty
      def stage(name: String)(body: => Check): Long => Unit = i => ctx.op(name, i)(body)
      IndexedSeq(
        stage("enrich") {
          val r = ctx.span("text.enrich")(docs.select(
              TextFunctions.tokenCountWs(col("text")).as("tokens"),
              TextFunctions.qualityScore(col("text")).as("quality"),
              TextFunctions.languageId(col("text")).as("lang"),
              TextFunctions.repetitionRatio(col("text")).as("rep"))
            .agg(sum("tokens"), avg("quality"), countDistinct("lang"), avg("rep")).collect()(0))
          () => if (r.getLong(0) == totalWords) None
            else Some(s"token count ${r.getLong(0)}, generated $totalWords")
        },
        stage("exact_dedup") {
          val n = ctx.span("dedup.exact")(Dedup.exact(docs, "text", "doc_id").count())
          () => if (n == distinctTexts) None else Some(s"$n docs kept, $distinctTexts distinct")
        },
        stage("near_dedup") {
          verified = ctx.span("dedup.lsh") {
            val cand = Dedup.lshCandidatePairIds(docs, "doc_id", "text").collect()
            lshCandidates.synchronized(lshCandidates += cand.length)
            val c = spark.createDataFrame(cand.toSeq.asJava, StructType(Seq(
              StructField("id_a", LongType), StructField("id_b", LongType))))
            val ok = c.join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
              .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
              .filter(Dedup.ngramJaccard(col("ta"), col("tb"), 3) >= 0.7)
              .select("id_a", "id_b").collect()
            verifiedShare.synchronized(verifiedShare += ok.length.toDouble / math.max(cand.length, 1))
            ok
          }
          () => None
        },
        stage("components") {
          val pairs = spark.createDataFrame(verified.toSeq.asJava, StructType(Seq(
            StructField("id_a", LongType), StructField("id_b", LongType))))
          val clusters = ctx.span("dedup.components")(Dedup.connectedComponents(
              pairs, docs.select("doc_id"), "doc_id")
            .filter(col("cluster_id") =!= col("doc_id")).collect())
          val of = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
          def cl(id: Long) = of.getOrElse(id, id)
          val planted = exactPairs ++ nearPairs
          val found = planted.count { case (a, b) => cl(a) == cl(b) }
          dedupRecall = found.toDouble / planted.size
          () => if (found >= 0.95 * planted.size) None
            else Some(s"near-dup clusters hold $found of ${planted.size} planted pairs")
        },
        stage("chunk_pack") {
          val r = ctx.span("pipeline.chunk_pack") {
            val chunks = Pipeline.chunk(docs, "text", ChunkTokens, ChunkOverlap)
            Pipeline.packSequences(chunks, TextFunctions.tokenCountWs(col("chunk_text")),
              Seq(col("doc_id"), col("chunk_index")), SeqTokens)
              .agg(count(lit(1)), max("seq_last"),
                sum(TextFunctions.tokenCountWs(col("chunk_text")))).collect()(0)
          }
          val stride = ChunkTokens - ChunkOverlap
          val wantChunks = texts.map { t =>
            math.max(1, math.ceil((t.split(" ").length - ChunkOverlap).toDouble / stride).toInt)
          }.sum
          () => {
            val (n, last, tokens) = (r.getLong(0), r.getLong(1), r.getLong(2))
            if (n != wantChunks) Some(s"$n chunks, expected $wantChunks")
            else if (last != (tokens - 1) / SeqTokens) Some(s"last sequence $last for $tokens tokens")
            else None
          }
        },
        stage("embedding_dedup") {
          val got = ctx.span("ann.cosine_dedup")(Ann.cosineDedupPairs(emb, "vec_id", "embedding",
            threshold = 0.99).select("id_a", "id_b").collect())
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          () => {
            val found = vecPairs.count { case (a, b) => got((math.min(a, b), math.max(a, b))) }
            val wrong = got.count { case (a, b) => cosine(vs(a.toInt), vs(b.toInt)) < 0.99 - 1e-6 }
            if (found < vecPairs.size) Some(s"found $found of ${vecPairs.size} planted vector pairs")
            else if (wrong > 0) Some(s"$wrong pairs below the cosine threshold")
            else None
          }
        }) ++ (0 until knnQueries).map { _ => (i: Long) =>
          val qi = queryNo % queries.size
          queryNo += 1
          val q = queries(qi)
          ctx.op("query", i, if (qi % 3 < 2) "ivf" else "pq") {
            val rows = ctx.span("ann.knn") {
              if (qi % 3 < 2) Ann.ivfKnn(ivf._1, ivf._2, "vec_id", "embedding", q, 10, nprobe = 4)
                .collect()
              else Ann.pqKnn(pq._1, pq._2, "vec_id", "embedding", q, 10).collect()
            }
            () => {
              val want = truth.computeIfAbsent(qi, _ => bruteForce(vs, q, 10))
              val ids = rows.map(_.getLong(0))
              knnRecall.synchronized(knnRecall += ids.count(want.toSet).toDouble / 10)
              val badCos = rows.find(r => math.abs(r.getDouble(1) - cosine(vs(r.getLong(0).toInt), q)) > 1e-4)
              if (ids.length != 10 || ids.distinct.length != 10) Some(s"${ids.length} neighbours")
              else badCos.map(r => s"reported cosine ${r.getDouble(1)} for id ${r.getLong(0)} is off")
            }
          }
        }
    }

    // One pass: the stages in order, `knnQueries / Stages` kNN queries after
    // each, as (op, is a stage).
    def pass(knnQueries: Int): IndexedSeq[(Long => Unit, Boolean)] = {
      val (stageSteps, knnSteps) = steps(docs, emb, knnQueries).splitAt(Stages)
      stageSteps.zip(knnSteps.grouped(knnQueries / Stages).toSeq)
        .flatMap { case (st, qs) => (st, true) +: qs.map(q => (q, false)) }
    }

    // warm-up outside the window: one unrecorded pass over the full inputs,
    // op by op as in the window, one kNN query after each stage, so the JIT
    // compiles the window's code on the window's data and op order
    ctx.warmUp(pass(Stages).foreach { case (step, _) => step(-1L) })
    lshCandidates.clear(); verifiedShare.clear()
    ctx.phase("warm-up")
    // three kNN queries after each stage, so one pass (about ten seconds)
    // fits in the window
    val window = pass(QueriesPerPass)
    var stagesDone = 0
    ctx.closedLoop(clients = 1) { (_, i) =>
      val (step, isStage) = window((i % window.size).toInt)
      step(i)
      if (isStage) stagesDone += 1
    }
    ctx.rec.finish()
    val user = Map(
      // a pass rarely completes inside the window, so its time is the sum
      // of the median time of each of its ops
      "pass_p50_s" -> (StageNames.map(k => Stats.median(ctx.rec.latencies(k))).sum +
        QueriesPerPass * Stats.median(ctx.rec.latencies("query"))) / 1000,
      "corpus_rows_per_s" -> stagesDone.toDouble / Stages * Docs / ctx.windowS,
      "dedup_recall" -> dedupRecall,
      "knn_recall_at_10" -> Stats.mean(knnRecall))
    val layer = ctx.tracer.map { t =>
      Map(
        "text.enrich_ms" -> t.meanMs("text.enrich"),
        "pipeline.chunk_pack_ms" -> t.meanMs("pipeline.chunk_pack"),
        "dedup.exact_ms" -> t.meanMs("dedup.exact"),
        "dedup.lsh_ms" -> t.meanMs("dedup.lsh"),
        "dedup.components_ms" -> t.meanMs("dedup.components"),
        "dedup.candidate_pairs" -> Stats.mean(lshCandidates),
        "dedup.verified_per_candidate" -> Stats.mean(verifiedShare),
        "ann.index_ms" -> Stats.median(indexMs),
        "ann.cosine_dedup_ms" -> t.meanMs("ann.cosine_dedup"),
        "ann.knn_ms" -> t.meanMs("ann.knn"))
    }.getOrElse(Map.empty)
    Outcome(user, layer, setupReps)
  }
}
