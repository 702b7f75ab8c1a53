package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions,
  SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** `private[sql]` helpers surfaced for the public `graft` package. */
object Plans {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Storage level of every materialized frame: partitions that do not fit
   * in memory spill to disk and are never recomputed, so every scan reads
   * one snapshot, even of a nondeterministic input. */
  private val MaterializeLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /**
   * Materialize a DataFrame into a persisted RDD-backed frame with O(1)
   * logical-plan depth — for iterative algorithms, where caching alone
   * keeps the ever-deepening logical lineage — plus a release handle that
   * frees the executor storage (localCheckpoint offers no explicit
   * release). The rows persist when the caller's first action reads them;
   * the frame recomputes through the RDD lineage after an executor loss.
   */
  def materializeWithRdd(spark: SparkSession, df: DataFrame)
      : (DataFrame, RDD[InternalRow]) = {
    val rdd = persistedRows(df)
    (spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema), rdd)
  }

  /**
   * Materialize a DataFrame now into a flat leaf: a `LogicalRDD` scan of
   * its stored rows that carries their real size and row count as its
   * statistics, plus the stored RDD. One job, run as a SQL execution of
   * `df` (so `QueryExecutionListener`s see `df` consumed), stores the rows
   * and counts their rows and bytes. The leaf narrows the stored partitions
   * to `ceil(bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)` when
   * there are more; a one-partition leaf reports `SinglePartition`, so an
   * aggregate over it needs no exchange.
   *
   * DURABILITY GATE: on a local master the blocks live in the driver JVM,
   * nothing short of the whole application can lose them, and the lineage
   * is cut (`localCheckpoint`): the leaf's jobs schedule no stage of the
   * plan that built it, and only the `ContextCleaner` may free the blocks,
   * once no frame can read them. Elsewhere an executor loss would make a
   * cut frame unreadable, so the stored RDD keeps its lineage and
   * recomputes, and `unpersist` is safe at any time.
   */
  def materializeFlat(spark: SparkSession, df: DataFrame)
      : (DataFrame, RDD[InternalRow]) = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      val rdd = persistedRows(df)
      if (spark.sparkContext.isLocal) rdd.localCheckpoint()
      val rowBytes = df.schema.defaultSize
      val (rows, bytes) = rdd.mapPartitions { it =>
        var n, b = 0L
        it.foreach { r =>
          n += 1
          b += (r match {
            case u: UnsafeRow => u.getSizeInBytes
            case _ => rowBytes
          })
        }
        Iterator.single((n, b))
      }.collect().foldLeft((0L, 0L)) { case ((n, b), (n1, b1)) => (n + n1, b + b1) }
      val advisory = cs.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val parts = math.max(1L, (bytes + advisory - 1) / advisory).toInt
      val leaf = if (rdd.getNumPartitions <= parts) rdd else rdd.coalesce(parts)
      val n = leaf.getNumPartitions
      val plan = LogicalRDD(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema), leaf,
        if (n == 1) SinglePartition else UnknownPartitioning(n))(
        cs, Some(Statistics(sizeInBytes = bytes, rowCount = Some(BigInt(rows)))))
      (ofRows(spark, plan), rdd)
    }
  }

  /** `df`'s rows, copied out of Spark's reused row buffers and persisted. */
  private def persistedRows(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd.map(_.copy()).persist(MaterializeLevel)

  /**
   * Unpersist `rdd` as soon as the first query that reads it completes
   * (success or failure). For operator-internal persists whose final frame
   * escapes to the caller: the operator cannot unpersist synchronously (the
   * caller has not yet run the consuming action), and leaving the entry to
   * the GC-driven ContextCleaner lets a long-running bench accumulate dead
   * cache entries that evict each other. The frame stays CORRECT after
   * release — a second execution recomputes through the RDD lineage.
   *
   * Only Dataset-level actions fire `QueryExecutionListener`; if the caller
   * never executes the frame (or consumes it through the raw RDD), the
   * listener self-expires after a bounded number of unrelated queries and
   * the entry falls back to the ContextCleaner — the pre-existing backstop,
   * minus an ever-growing listener list.
   */
  def releaseAfterFirstUse(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    val lm = spark.listenerManager
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private var unrelatedSeen = 0
      private def consumes(
          qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
        qe.analyzed.exists {
          case l: LogicalRDD => l.rdd.id == rdd.id
          case _ => false
        }
      private def fire(
          qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        if (consumes(qe)) {
          rdd.unpersist(blocking = false)
          lm.unregister(this)
        } else {
          unrelatedSeen += 1
          if (unrelatedSeen > 256) lm.unregister(this) // ContextCleaner backstop
        }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = fire(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = fire(qe)
    }
    lm.register(listener)
  }

  /** Block until queued listener-bus events (including
   * `QueryExecutionListener` callbacks, which fire asynchronously) have
   * been delivered — lets tests assert release side effects
   * deterministically. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** DataFrame over a V1 `BaseRelation` (for relation-backed temp views,
   * e.g. the TopK scan with filter pushdown). */
  def relationDf(spark: SparkSession,
      rel: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
}

/**
 * The AQP SQL surface as session extensions: the parser, the rewrite, the
 * HAC strategy and the error functions (reference wires the same surface
 * through `SnappyAQPSessionState`, SURVEY.md §3/§4). Registered as a
 * `SparkSessionExtensionsProvider` in `META-INF/services`, so every session
 * built with the jar on the classpath carries it; naming it in
 * `spark.sql.extensions` or `withExtensions` as well is harmless, because
 * each `SparkSessionExtensions` takes the hooks once.
 */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit =
    if (GraftExtensions.applied.synchronized(GraftExtensions.applied.add(e))) {
      e.injectParser((session, delegate) => new AqpParser(delegate, session))
      // post-hoc, not resolution: the rewrite expects the settled
      // post-analysis plan shape (lateral column aliases already split into
      // stacked Projects); inside the resolution fixed-point it would see
      // intermediate shapes with error-fn stubs still inline in the Aggregate
      e.injectPostHocResolutionRule(session => AqpRewrite(session))
      e.injectPlannerStrategy(session => HacStrategy(session))
      ErrorEstimateStub.names.foreach { fn =>
        e.injectFunction((
          FunctionIdentifier(fn),
          new ExpressionInfo(classOf[ErrorEstimateStub].getName, fn),
          (exprs: Seq[Expression]) => ErrorEstimateStub(fn, exprs.head)))
      }
    }
}

object GraftExtensions {
  /** The extension sets that already hold the hooks (by identity). */
  private val applied = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())
}
