package aqpbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is 0 for an op's root span; every span of
 * one op carries that op's id. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Spans are taken around the calls the
 * workloads make into each layer, from outside the program; Spark jobs
 * become child spans of whichever span was open on the submitting thread
 * (carried through a job-group / local property, seen by a SparkListener).
 * Everything stays in memory until [[dump]]. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val cur = new ThreadLocal[Array[Long]] // (op id, open span id)
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private def nsOfEpochMs(ms: Long): Long = nano0 + (ms - epoch0) * 1000000L

  // listener-side state: Spark job id -> (op, parent span, start ms)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Per op id: jobs, tasks, shuffle bytes, spill bytes. */
  private val perOp = new java.util.concurrent.ConcurrentHashMap[Long, Array[AtomicLong]]()
  private def opCounters(op: Long) =
    perOp.computeIfAbsent(op, _ => Array.fill(4)(new AtomicLong(0)))
  /** Jobs per parent span id. */
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()
  /** Executor run time of every task, traced or not (for core use). */
  private val runTimeMs = new AtomicLong(0)
  def taskRunTimeMs: Long = { org.apache.spark.AqpBenchBus.drain(sc); runTimeMs.get }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      if (p != null) {
        val Array(op, span) = p.split(":").map(_.toLong)
        jobs.put(e.jobId, (op, span, e.time))
        e.stageIds.foreach(s => stageOp.put(s, op))
        jobsBySpan.computeIfAbsent(span, _ => new AtomicLong(0)).incrementAndGet()
        opCounters(op)(0).incrementAndGet()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) spans.add(Span(ids.incrementAndGet(), j._2, j._1, "spark.job",
        nsOfEpochMs(j._3), nsOfEpochMs(e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        runTimeMs.addAndGet(m.executorRunTime)
        Option(stageOp.get(e.stageId)).foreach { op =>
          val c = opCounters(op)
          c(1).incrementAndGet()
          c(2).addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
          c(3).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
  })

  /** Runs `body` as one traced op: a root span named `name`; Spark jobs
   * started inside are tagged with the op. */
  def op[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val c = Array(id, id)
    cur.set(c)
    sc.setJobGroup(s"aqpbench-op-$id", name)
    sc.setLocalProperty(SpanProp, s"$id:$id")
    val t0 = System.nanoTime()
    try body finally {
      spans.add(Span(id, 0L, id, name, t0, System.nanoTime()))
      sc.clearJobGroup()
      sc.setLocalProperty(SpanProp, null)
      cur.remove()
    }
  }

  /** A child span of the open one; outside a traced op it just runs. */
  def span[A](name: String)(body: => A): A = {
    val c = cur.get
    if (c == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = c(1)
      c(1) = id
      sc.setLocalProperty(SpanProp, s"${c(0)}:$id")
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(id, parent, c(0), name, t0, System.nanoTime()))
        c(1) = parent
        sc.setLocalProperty(SpanProp, s"${c(0)}:$parent")
      }
    }
  }

  def all: Seq[Span] = {
    org.apache.spark.AqpBenchBus.drain(sc)
    spans.asScala.toSeq
  }

  /** Mean duration (ms) of the spans named `name`, 0 when there are none. */
  def meanMs(name: String): Double = {
    val d = all.filter(_.name == name).map(_.durMs)
    if (d.isEmpty) 0.0 else d.sum / d.size
  }
  /** Roots of the workload's traced ops (probes excluded). */
  def ops: Seq[Span] = all.filter(s => s.parent == 0L && s.name.startsWith("op."))

  /** Spark jobs, tasks, shuffle MB and spill MB per traced op. */
  def sparkPerOp: (Double, Double, Double, Double) = {
    val roots = ops
    val n = math.max(roots.size, 1).toDouble
    val sums = roots.flatMap(r => Option(perOp.get(r.id)))
      .foldLeft(Array(0L, 0L, 0L, 0L))((acc, c) => acc.indices.map(i => acc(i) + c(i).get).toArray)
    (sums(0) / n, sums(1) / n, sums(2) / 1048576.0 / n, sums(3) / 1048576.0 / n)
  }

  /** Jobs started directly under spans named `name`, per such span. */
  def jobsPer(name: String): Double = {
    val ss = all.filter(_.name == name)
    if (ss.isEmpty) 0.0
    else ss.map(s => Option(jobsBySpan.get(s.id)).map(_.get).getOrElse(0L)).sum
      .toDouble / ss.size
  }

  /** Self time per layer (ms per traced op): each span's duration minus the
   * part of it its children cover, summed by layer (the span name's first
   * dot-separated word; op and probe roots are the harness's own time). */
  def selfMsPerOp(): Map[String, Double] = {
    val ss = all
    val n = ops.size.max(1)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(s => if (s.parent == 0L) "harness" else s.name.takeWhile(_ != '.'))
      .map { case (layer, group) =>
        layer -> group.map(s => self(s, kids.getOrElse(s.id, Nil))).sum / 1e6 / n
      }
  }

  private def self(s: Span, children: Seq[Span]): Long = {
    var covered = 0L
    var end = s.startNs
    children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
    (s.endNs - s.startNs) - covered
  }

  /** Writes every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s => Json(mutable.LinkedHashMap(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> (s.startNs - nano0), "end_ns" -> (s.endNs - nano0))))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "aqpbench.span"
  /** Layers a traced run reports self time for. */
  val Layers: Seq[String] = Seq("harness", "graft", "aqp", "sampling", "topk",
    "dedup", "ann", "text", "pipeline", "spark")
}
