package org.apache.spark.sql.graft

import java.util.regex.Pattern

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * SQL surface of the engine, as the `ParserInterface` that
 * [[GraftExtensions]] injects in front of the session's own parser. Handles:
 *
 *   - trailing `WITH ERROR e [CONFIDENCE c] [BEHAVIOR 'b']`
 *     (reference grammar `sql/snappyAQPParsers.scala:48-71`), wrapping the
 *     delegate-parsed query in [[ErrorConfidence]];
 *   - bare `WITH ERROR` → session defaults (reference `ErrorDefaults`);
 *   - `CREATE SAMPLE TABLE s ON base OPTIONS(qcs 'a,b', fraction '0.03',
 *     strataReservoirSize '50')` (reference `snappyAQPParsers.scala:77-103`);
 *   - `CREATE TOPK TABLE t ON base OPTIONS(key 'col', ...)`.
 *
 * Everything else passes through to the wrapped Spark parser.
 */
class AqpParser(delegate: ParserInterface, session: SparkSession)
    extends ParserInterface {
  import AqpParser._

  override def parsePlan(sqlText: String): LogicalPlan = {
    // AS-SELECT form first: with the ON clause optional below, the greedy
    // OPTIONS(...) group of the plain form could otherwise swallow an
    // `) AS SELECT ... (subquery)` suffix up to the subquery's last paren
    val createSampleAs = CreateSampleAsPattern.matcher(sqlText)
    if (createSampleAs.matches()) {
      val opts = parseOptions(createSampleAs.group(2))
      return CreateSampleTableAsNode(createSampleAs.group(1), opts,
        delegate.parsePlan(createSampleAs.group(3)))
    }
    val createSample = CreateSamplePattern.matcher(sqlText)
    if (createSample.matches()) {
      val opts = parseOptions(createSample.group(5))
      // the reference grammar takes the base as `ON t`, as
      // `OPTIONS(baseTable 't')` (the form its own test suites use most),
      // or not at all (a standalone sample with an inline schema, populated
      // by inserts — `snappyAQPParsers.scala:77-103`)
      val base = Option(createSample.group(4)).orElse(opts.get("basetable"))
      val schemaDdl = Option(createSample.group(3)).map(_.trim).filter(_.nonEmpty)
      if (base.isEmpty && schemaDdl.isEmpty) {
        throw new IllegalArgumentException(
          "CREATE SAMPLE TABLE needs a base table (ON t or OPTIONS(baseTable 't')) " +
            "or an inline schema for a standalone insert-populated sample")
      }
      return CreateSampleTableNode(createSample.group(2), base, schemaDdl,
        opts, ifNotExists = createSample.group(1) != null)
    }
    val createTopk = CreateTopkPattern.matcher(sqlText)
    if (createTopk.matches()) {
      val opts = parseOptions(createTopk.group(4))
      val base = Option(createTopk.group(3)).orElse(opts.get("basetable"))
        .getOrElse(throw new IllegalArgumentException(
          "CREATE TOPK TABLE needs a base table (ON t or OPTIONS(baseTable 't'))"))
      return CreateTopkTableNode(createTopk.group(2), base,
        opts, ifNotExists = createTopk.group(1) != null)
    }
    // `INSERT INTO <registered sample> SELECT ...` — reference
    // `ColumnFormatSamplingRelation.insert` (`df.write.insertInto(sample)` in
    // its suites): the new rows are re-sampled per stratum and appended.
    // Only statements whose target IS a registered sample are intercepted;
    // everything else delegates untouched.
    val insert = InsertPattern.matcher(sqlText)
    if (insert.matches()) {
      val target = insert.group(1)
      // resolve to the registered key: appendToSample looks up exact-case,
      // so `INSERT INTO MySample` must map to the sample registered as
      // `mysample` (temp-view name semantics)
      val registered = graft.GraftState.of(session).resolveSample(target)
      if (registered.isDefined) {
        return InsertIntoSampleNode(registered.get, delegate.parsePlan(insert.group(2)))
      }
      // same surface for TopK structures: the rows stream into the sketch
      // (the view over TopK state is not insertable through stock Spark)
      if (graft.GraftState.of(session).topks.contains(target.toLowerCase)) {
        return InsertIntoTopkNode(target, delegate.parsePlan(insert.group(2)))
      }
    }
    val dropSample = DropSamplePattern.matcher(sqlText)
    if (dropSample.matches()) {
      return DropSampleTableNode(dropSample.group(2),
        ifExists = dropSample.group(1) != null)
    }
    val dropTopk = DropTopkPattern.matcher(sqlText)
    if (dropTopk.matches()) {
      return DropTopkTableNode(dropTopk.group(2),
        ifExists = dropTopk.group(1) != null)
    }
    val createStream = CreateStreamPattern.matcher(sqlText)
    if (createStream.matches()) {
      return CreateStreamTableNode(createStream.group(2),
        Option(createStream.group(3)), createStream.group(4),
        parseOptions(createStream.group(5)),
        ifNotExists = createStream.group(1) != null)
    }
    val dropStream = DropStreamPattern.matcher(sqlText)
    if (dropStream.matches()) {
      return DropStreamTableNode(dropStream.group(2),
        ifExists = dropStream.group(1) != null)
    }
    val showTables = ShowAqpTablesPattern.matcher(sqlText)
    if (showTables.matches()) {
      return ShowAqpTablesNode(showTables.group(1).toLowerCase)
    }
    val streamingCtl = StreamingControlPattern.matcher(sqlText)
    if (streamingCtl.matches()) {
      val op = streamingCtl.group(1).toLowerCase
      val intervalMs = Option(streamingCtl.group(2)).map { n =>
        val unit = Option(streamingCtl.group(3)).map(_.toLowerCase).getOrElse("ms")
        if (unit.startsWith("ms") || unit.startsWith("milli")) n.toLong
        else n.toLong * 1000L
      }
      return StreamingControlNode(op, intervalMs)
    }
    val m = WithErrorPattern.matcher(sqlText)
    if (m.matches()) {
      // Backstop: a statement the stock parser accepts whole passes through
      // byte-identical — clause-looking text in a trailing comment (e.g.
      // `SELECT ... -- with error 0.5`) is not a clause. Real AQP clauses
      // never parse under stock Spark, so this costs one cheap parse
      // attempt and cannot mask a genuine clause.
      val whole = try Some(delegate.parsePlan(sqlText)) catch {
        case _: Exception => None
      }
      whole match {
        case Some(p) => return maybeImplicitAqp(p)
        case None =>
      }
      if (InnerWithErrorPattern.matcher(m.group(1)).find()) {
        throw new UnsupportedOperationException(
          "At most one WITH ERROR clause is supported per query")
      }
      // the reference grammar also accepts `q CONFIDENCE c WITH ERROR`
      // (bare trailing WITH ERROR after a confidence clause,
      // `snappyAQPParsers.scala:48-53`): if the prefix fails to parse and
      // itself ends in a confidence clause, strip and merge it
      val (prefix, conf0) = (m.group(1), Option(m.group(3)).map(_.toDouble))
      val (inner, conf) =
        try (delegate.parsePlan(prefix), conf0) catch {
          case parseErr: Exception if conf0.isEmpty =>
            val cm = ConfidenceOnlyPattern.matcher(prefix)
            if (!cm.matches()) throw parseErr
            (delegate.parsePlan(cm.group(1)), Some(cm.group(2).toDouble))
        }
      AqpParser.validatedErrorConfidence(
        Option(m.group(2)).map(_.toDouble),
        conf,
        Option(m.group(4)),
        inner)
    } else {
      // WITH ERROR inside a FROM-clause derived table (reference
      // `SubQueryRoutingTestSuite` "aggregate subquery with error constraint
      // in inner query"): strip the clause and wrap the whole plan — the
      // rewrite binds the contract to the lowest aggregate above a sampled
      // scan, which is exactly the derived table's aggregate. Attempted ONLY
      // when the stock parser rejects the text: a query that already parses
      // (e.g. 'with error' inside a string literal or comment) must pass
      // through byte-identical.
      try maybeImplicitAqp(delegate.parsePlan(sqlText)) catch {
        case parseErr: Exception =>
          // standalone trailing `CONFIDENCE c [BEHAVIOR 'b']` or
          // `BEHAVIOR 'b'` with no WITH ERROR (every clause of the
          // reference grammar is independently optional,
          // `snappyAQPParsers.scala:48-71`; `QueryRoutingTestSuite`
          // "test query without aggregate" fires `... confidence .95`).
          // Only attempted when the stock parser rejects the text, so a
          // query that already parses passes through byte-identical.
          val cm = ConfidenceOnlyPattern.matcher(sqlText)
          if (cm.matches()) {
            val inner = try delegate.parsePlan(cm.group(1)) catch {
              case _: Exception => throw parseErr
            }
            return AqpParser.validatedErrorConfidence(
              None, Some(cm.group(2).toDouble), Option(cm.group(3)), inner)
          }
          val bm = BehaviorOnlyPattern.matcher(sqlText)
          if (bm.matches()) {
            val inner = try delegate.parsePlan(bm.group(1)) catch {
              case _: Exception => throw parseErr
            }
            return AqpParser.validatedErrorConfidence(
              None, None, Some(bm.group(2)), inner)
          }
          val im = InnerWithErrorPattern.matcher(sqlText)
          val found = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Int, Option[Double], Option[Double], Option[String])]
          while (im.find()) {
            found += ((im.start, im.end,
              Option(im.group(1)).map(_.toDouble),
              Option(im.group(2)).map(_.toDouble),
              Option(im.group(3))))
          }
          if (found.isEmpty) throw parseErr
          if (found.size == 1) {
            val (s, e, err, conf, beh) = found.head
            val stripped = sqlText.substring(0, s) + sqlText.substring(e)
            val inner = try delegate.parsePlan(stripped) catch {
              case _: Exception => throw parseErr // not our clause — original error
            }
            AqpParser.validatedErrorConfidence(err, conf, beh, inner)
          } else {
            // SIBLING clauses — reference CommonBugTest AQP-225/AQP-247: a
            // join of independently aggregated derived tables, EACH over its
            // own sample with its own contract. Every clause ends an aliased
            // derived table, so each binds to its subquery scope by alias
            // and the rewrite fires once per scope. (A clause NESTED under
            // another contract is still rejected above — contracts compose
            // side by side, not stacked.)
            val withAlias = found.map { case (s, e, err, conf, beh) =>
              (AqpParser.aliasAfterParen(sqlText, e), err, conf, beh)
            }
            if (withAlias.exists(_._1.isEmpty) ||
                withAlias.map(_._1.get.toLowerCase).distinct.size != withAlias.size) {
              throw new UnsupportedOperationException(
                "Multiple WITH ERROR clauses are supported only when each " +
                  "ends a distinctly aliased derived table " +
                  "(… WITH ERROR …) alias")
            }
            val params = withAlias.map { case (a, err, conf, beh) =>
              a.get.toLowerCase -> ((err, conf, beh))
            }.toMap
            val sb = new StringBuilder(sqlText)
            found.reverseIterator.foreach { case (s, e, _, _, _) =>
              sb.delete(s, e)
            }
            val inner = try delegate.parsePlan(sb.toString) catch {
              case _: Exception => throw parseErr
            }
            val bound = scala.collection.mutable.Set.empty[String]
            val wrapped = inner.transformUp {
              case sa @ org.apache.spark.sql.catalyst.plans.logical
                  .SubqueryAlias(id, child)
                  if params.contains(id.name.toLowerCase) &&
                    !bound.contains(id.name.toLowerCase) =>
                bound += id.name.toLowerCase
                val (err, conf, beh) = params(id.name.toLowerCase)
                sa.copy(child =
                  AqpParser.validatedErrorConfidence(err, conf, beh, child))
            }
            if (bound.size != params.size) {
              throw new UnsupportedOperationException(
                "Multiple WITH ERROR clauses are supported only when each " +
                  "ends a distinctly aliased derived table " +
                  "(… WITH ERROR …) alias")
            }
            wrapped
          }
      }
    }
  }

  /** Session-wide implicit approximation (reference
   * `QueryRoutingTestSuite`-backed semantics of `Property.Error`,
   * `QueryRoutingRules.scala:133-145`): when `spark.sql.aqp.error` is SET
   * on the session, every plain SQL query routes through AQP with the
   * session defaults — the "set error once, run normal queries" workflow.
   * Applied only to parsed user SQL (never to internal DataFrame analyses),
   * only to pure queries, and only when no explicit clause already wrapped
   * the statement. DML is excluded explicitly: at parse time INSERT (and
   * some CTAS forms) are ParsedStatements/InsertIntoStatement, NOT catalyst
   * Commands — wrapping them would silently persist approximate estimates
   * into a real table.
   *
   * AQP-285 (`AQPConnectionPropertySetTest.scala:120-215`): the property is
   * an on/OFF switch — `set spark.sql.aqp.error=-1` (any value outside
   * (0,1)) DISABLES implicit AQP and queries return exact base results
   * again; setting only `spark.sql.aqp.confidence` or
   * `spark.sql.aqp.behavior` never enables it (only `error` gates). */
  private def sessionErrorEnables: Boolean =
    session.conf.getOption("spark.sql.aqp.error").exists { v =>
      try { val e = v.trim.toDouble; e > 0 && e < 1 }
      catch { case _: NumberFormatException => false }
    }

  private def maybeImplicitAqp(plan: LogicalPlan): LogicalPlan =
    if (sessionErrorEnables &&
        !plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] &&
        !plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ParsedStatement] &&
        !plan.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement] &&
        !plan.exists(_.isInstanceOf[ErrorConfidence])) {
      ErrorConfidence(None, None, None, plan)
    } else plan

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    parsePlan(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object AqpParser {
  private val num = "(-?[0-9]*\\.?[0-9]+(?:[eE][+-]?[0-9]+)?)"

  /** Range-validate WITH ERROR / CONFIDENCE values at parse time (reference
   * `QueryProcessingRules.scala:1251-1263` — `MaxErrorAllowed`): error must
   * lie in (0, 1), confidence in (0, 1). Rejecting here gives the user the
   * reference's own message instead of a nonsense estimate (error ≥ 1) or a
   * degenerate t-quantile (confidence 0/1) deep inside the aggregate. */
  def validatedErrorConfidence(error: Option[Double], confidence: Option[Double],
      behavior: Option[String], inner: LogicalPlan): ErrorConfidence = {
    error.foreach { e =>
      if (e <= 0 || e >= 1) throw new UnsupportedOperationException(
        s"Please specify error within range of 0 to 1 (got $e)")
    }
    confidence.foreach { c =>
      if (c <= 0 || c >= 1) throw new UnsupportedOperationException(
        s"Please specify confidence within range of 0 to 1 (got $c)")
    }
    ErrorConfidence(error, confidence, behavior, inner)
  }
  val WithErrorPattern: Pattern = Pattern.compile(
    s"(?is)\\A(.*?)\\s+WITH\\s+ERROR(?:\\s+$num)?(?:\\s+CONFIDENCE\\s+$num)?" +
      "(?:\\s+BEHAVIOR\\s+'([a-zA-Z_]+)')?\\s*;?\\s*\\z")
  /** Standalone trailing `CONFIDENCE c [BEHAVIOR 'b']` (no WITH ERROR) —
   * valid per the reference grammar where every clause is independently
   * optional (`snappyAQPParsers.scala:48-71`); error comes from session
   * defaults. Tried only after the stock parser rejects the statement. */
  val ConfidenceOnlyPattern: Pattern = Pattern.compile(
    s"(?is)\\A(.*?)\\s+CONFIDENCE\\s+$num" +
      "(?:\\s+BEHAVIOR\\s+'([a-zA-Z_]+)')?\\s*;?\\s*\\z")
  /** Standalone trailing `BEHAVIOR 'b'`. */
  val BehaviorOnlyPattern: Pattern = Pattern.compile(
    "(?is)\\A(.*?)\\s+BEHAVIOR\\s+'([a-zA-Z_]+)'\\s*;?\\s*\\z")
  /** A WITH ERROR clause terminated by a closing paren — i.e. at the end of
   * a parenthesized derived-table subquery rather than of the statement. */
  val InnerWithErrorPattern: Pattern = Pattern.compile(
    s"(?is)\\s+WITH\\s+ERROR(?:\\s+$num)?(?:\\s+CONFIDENCE\\s+$num)?" +
      "(?:\\s+BEHAVIOR\\s+'([a-zA-Z_]+)')?(?=\\s*\\))")
  val CreateSamplePattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*CREATE\\s+SAMPLE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)" +
      "\\s*(?:\\((.*?)\\)\\s*)?(?:\\bON\\s+([\\w.]+)\\s+)?" +
      "OPTIONS\\s*\\((.*)\\)\\s*;?\\s*\\z")
  val CreateTopkPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*CREATE\\s+TOPK\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)" +
      "\\s*(?:\\bON\\s+([\\w.]+)\\s+)?" +
      "OPTIONS\\s*\\((.*)\\)\\s*;?\\s*\\z")
  /** `INSERT INTO t SELECT ...` / `INSERT INTO t VALUES ...` — intercepted
   * only when `t` is a registered sample table. */
  val InsertPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*INSERT\\s+INTO\\s+(?:TABLE\\s+)?([\\w.]+)\\s+" +
      "((?:SELECT|VALUES|FROM|TABLE)\\b.*)\\s*;?\\s*\\z")
  // sample over an arbitrary query (reference grammar's `AS SELECT` arm —
  // `sql/snappyAQPParsers.scala:77-103`)
  val CreateSampleAsPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*CREATE\\s+SAMPLE\\s+TABLE\\s+([\\w.]+)" +
      "\\s+OPTIONS\\s*\\((.*?)\\)\\s+AS\\s+(SELECT\\b.*)\\s*;?\\s*\\z")
  val DropSamplePattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*DROP\\s+SAMPLE\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([\\w.]+)\\s*;?\\s*\\z")
  val DropTopkPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*DROP\\s+TOPK\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([\\w.]+)\\s*;?\\s*\\z")
  // `CREATE STREAM TABLE t (schema) USING src OPTIONS(...)` — schema optional
  // when the source can infer one (reference `snappyAQPParsers` stream arm)
  val CreateStreamPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*CREATE\\s+STREAM\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)" +
      "\\s*(?:\\(([^)]*)\\)\\s*)?USING\\s+([\\w.]+)\\s+OPTIONS\\s*\\((.*)\\)\\s*;?\\s*\\z")
  val DropStreamPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*DROP\\s+STREAM\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?([\\w.]+)\\s*;?\\s*\\z")
  // `STREAMING INIT 2 SECS` / `STREAMING INIT 2secs` / `STREAMING START|STOP`
  val StreamingControlPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*STREAMING\\s+(INIT|START|STOP)" +
      "(?:\\s+(\\d+)\\s*(MS|MILLIS\\w*|SECS?|SECONDS?)?)?\\s*;?\\s*\\z")
  val ShowAqpTablesPattern: Pattern = Pattern.compile(
    "(?is)\\A\\s*SHOW\\s+(SAMPLE|TOPK|STREAM)\\s+TABLES\\s*;?\\s*\\z")
  private val OptionPattern: Pattern =
    Pattern.compile("(?is)(\\w+)\\s+'([^']*)'")

  def parseOptions(s: String): Map[String, String] = {
    val m = OptionPattern.matcher(s)
    val b = Map.newBuilder[String, String]
    while (m.find()) b += (m.group(1).toLowerCase -> m.group(2))
    b.result()
  }

  /** The derived-table alias following the `)` that terminates an inner
   * WITH ERROR clause — `… WITH ERROR 0.9) [AS] t` → `t`. None when the
   * clause is not immediately followed by a close-paren + identifier (then
   * there is no alias to bind a scoped contract to). */
  private[graft] def aliasAfterParen(text: String, from: Int): Option[String] = {
    var i = from
    while (i < text.length && text.charAt(i).isWhitespace) i += 1
    if (i >= text.length || text.charAt(i) != ')') return None
    i += 1
    while (i < text.length && text.charAt(i).isWhitespace) i += 1
    var j = i
    while (j < text.length &&
      (text.charAt(j).isLetterOrDigit || text.charAt(j) == '_')) j += 1
    if (j == i) return None
    val tok = text.substring(i, j)
    if (tok.equalsIgnoreCase("as")) {
      var k = j
      while (k < text.length && text.charAt(k).isWhitespace) k += 1
      var l = k
      while (l < text.length &&
        (text.charAt(l).isLetterOrDigit || text.charAt(l) == '_')) l += 1
      if (l == k) None else Some(text.substring(k, l))
    } else if (AqpParser.SqlKeywordsAfterParen.contains(tok.toUpperCase)) {
      None // `) JOIN …` / `) ON …` — no alias
    } else Some(tok)
  }

  /** Tokens that can legally follow a derived table's `)` without being its
   * alias. */
  private val SqlKeywordsAfterParen: Set[String] = Set(
    "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ON", "WHERE",
    "GROUP", "ORDER", "HAVING", "LIMIT", "UNION", "EXCEPT", "INTERSECT",
    "WITH", "SELECT", "FROM", "NATURAL", "USING")
}

/** AQP DDL nodes are runnable commands (reference maps its DDL through
 * `CreateSampleTableCommand` the same way — `command/
 * CreateSampleTableCommand.scala:27-48`), so `spark.sql` runs them once,
 * through Spark's ordinary eager-command path. */
case class CreateSampleTableNode(name: String, base: Option[String],
    schemaDdl: Option[String], options: Map[String, String],
    ifNotExists: Boolean = false)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val gs = graft.GraftSession(spark)
    // case-insensitive, matching temp-view name semantics
    if (!(ifNotExists && gs.state.samples.keys.exists(_.equalsIgnoreCase(name)))) {
      // IF NOT EXISTS + an already-persisted sample at `path`: re-attach the
      // existing parquet + registry metadata instead of resampling — this is
      // how a persisted sample survives a session restart
      val attachPath = if (ifNotExists) {
        options.get("path").filter(p => graft.GraftSession
          .readSampleMeta(p, spark.sessionState.newHadoopConf()).isDefined)
      } else None
      attachPath match {
        case Some(p) => gs.attachSampleTable(name, p)
        case None => base match {
          case Some(b) => gs.createSampleTableFromOptions(name, b, options)
          case None =>
            // standalone schema-form sample (reference
            // `snappyAQPParsers.scala:77-103` tableSchema arm): starts empty,
            // rows arrive via `INSERT INTO <sample> SELECT ...` /
            // `appendToSample`, each batch re-sampled per stratum
            val schema = org.apache.spark.sql.types.StructType.fromDDL(
              schemaDdl.getOrElse(throw new IllegalArgumentException(
                s"CREATE SAMPLE TABLE $name: no base table and no schema")))
            val emptyBase = s"${name}_empty_base"
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              schema).createOrReplaceTempView(emptyBase)
            gs.createSampleTableFromOptions(name, emptyBase, options)
        }
      }
    }
    Nil
  }
}

/** Appends query results to a registered sample table, re-sampling the new
 * rows per stratum (reference `ColumnFormatSamplingRelation.insert`,
 * `sampling/ColumnFormatSamplingRelation.scala:253-340`). The query is
 * parsed by the wrapped Spark parser, so implicit AQP never approximates
 * the rows an INSERT stores. */
case class InsertIntoSampleNode(name: String, query: LogicalPlan)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    graft.GraftSession(spark).appendToSample(name, Plans.ofRows(spark, query))
    Nil
  }
}

/** Appends query results into a registered TopK structure's sketches
 * (the SQL counterpart of `appendToTopK`; path-backed TopKs re-persist). */
case class InsertIntoTopkNode(name: String, query: LogicalPlan)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    graft.GraftSession(spark).appendToTopK(name, Plans.ofRows(spark, query))
    Nil
  }
}

case class CreateTopkTableNode(name: String, base: String,
    options: Map[String, String], ifNotExists: Boolean = false)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val gs = graft.GraftSession(spark)
    if (!(ifNotExists && gs.state.topks.contains(name.toLowerCase))) {
      // IF NOT EXISTS + a path holding persisted state: re-attach the
      // sketch snapshot instead of replaying the base (restart semantics,
      // mirroring path-backed samples)
      val path = options.collectFirst {
        case (k, v) if k.equalsIgnoreCase("path") => v
      }
      def metaExists: Boolean = path.exists(p =>
        graft.GraftSession.topkMetaExists(p, spark.sessionState.newHadoopConf()))
      // optimistic, LOCK-FREE attach: re-attaching readers never contend
      // with writers (a publish never leaves the store without a complete
      // snapshot). Only the CREATE fallback takes the path lock — and
      // re-checks there, because another session may have created the
      // store since the probe: creating on the stale answer would publish
      // a fresh-seed snapshot over that session's data.
      def attachExisting(): Unit = {
        // re-attach only when the options the statement DECLARES agree with
        // the snapshot: silently ignoring a drifted size/capacity/key (or a
        // changed base) would resurrect a snapshot that misdescribes what
        // the statement asks for. Omitted options INHERIT the stored values
        // (a path-only or partial re-attach is the normal restart shape) —
        // so the check resolves stored-overridden-by-declared and compares
        // with stored alone.
        val (storedOpts, storedBase) = graft.GraftSession.readTopkMetaOptions(
          path.get, spark.sessionState.newHadoopConf())
        val declared = options.map { case (k, v) => k.toLowerCase -> v } - "path"
        // the snapshot stores RESOLVED width/depth (never eps/confidence),
        // and explicit width/depth win over accuracy params in option
        // resolution — so when the statement declares eps or confidence,
        // drop the stored counterpart key and let the declared accuracy
        // param derive it, or a conflicting eps/confidence is silently
        // masked by the stored width/depth and drift goes undetected
        val storedForResolve = storedOpts --
          (if (declared.contains("eps")) Seq("width") else Nil) --
          (if (declared.contains("confidence")) Seq("depth") else Nil)
        val zone = graft.GraftSession.sessionZone(spark)
        val declaredResolved =
          graft.topk.TopKOptions.fromOptions(storedForResolve ++ declared, zone)
        val storedResolved = graft.topk.TopKOptions.fromOptions(storedOpts, zone)
        require(declaredResolved == storedResolved,
          s"CREATE TOPK TABLE IF NOT EXISTS $name: declared options resolve " +
            s"to $declaredResolved but the snapshot at ${path.get} was " +
            s"built with $storedResolved — DROP TOPK TABLE first (which " +
            "retires the snapshot) or restate the original options")
        if (base.nonEmpty && storedBase.nonEmpty)
          require(base.equalsIgnoreCase(storedBase),
            s"CREATE TOPK TABLE IF NOT EXISTS $name ON $base: the snapshot " +
              s"at ${path.get} was built over '$storedBase'")
        gs.attachTopKTable(name, path.get)
        ()
      }
      if (ifNotExists && metaExists) attachExisting()
      else path match {
        case Some(p) =>
          graft.GraftSession.withPathLock(spark, p) {
            if (ifNotExists && metaExists) attachExisting()
            else gs.createTopK(name, base, options, lockHeld = true)
          }
        case None => gs.createTopK(name, base, options)
      }
    }
    Nil
  }
}

case class CreateSampleTableAsNode(name: String, options: Map[String, String],
    query: LogicalPlan)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val baseView = name + "_base"
    Plans.ofRows(spark, query).createOrReplaceTempView(baseView)
    graft.GraftSession(spark).createSampleTableFromOptions(name, baseView, options)
    Nil
  }
}

case class DropSampleTableNode(name: String, ifExists: Boolean)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val state = graft.GraftState.of(spark)
    if (!ifExists && state.resolveSample(name).isEmpty)
      throw new IllegalArgumentException(s"No sample table named $name")
    graft.GraftSession(spark).dropSampleTable(name)
    Nil
  }
}

case class DropTopkTableNode(name: String, ifExists: Boolean)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val state = graft.GraftState.of(spark)
    if (!ifExists && !state.topks.contains(name.toLowerCase))
      throw new IllegalArgumentException(s"No TopK structure named $name")
    state.topks.remove(name.toLowerCase).foreach { removed =>
      state.topkBases.remove(name.toLowerCase)
      val conf = spark.sessionState.newHadoopConf()
      // explicit DROP retires the persisted snapshot too — otherwise a
      // later CREATE ... IF NOT EXISTS on the same path resurrects stale
      // counts that no longer correspond to any registered structure
      state.topkPaths.remove(name.toLowerCase).foreach { p =>
        // serialize the retirement against concurrent appenders: without
        // the lock an in-flight reload-merge-publish could publish a
        // snapshot right after this delete and resurrect the dropped table
        graft.GraftSession.withPathLock(spark, p) {
          graft.GraftSession.assertStoreFence(spark, p)
          graft.store.TopkSnapshot.retire(p, conf)
        }
      }
      // ... and the spill store, wherever it lives (under the table's path
      // OR the warehouse fallback of a non-path table)
      removed match {
        case st: graft.topk.TopKState => st.spillDirOption.foreach { d =>
          val sp = new org.apache.hadoop.fs.Path(d)
          val fs = sp.getFileSystem(conf)
          if (fs.exists(sp)) fs.delete(sp, true)
        }
        case _ =>
      }
      spark.catalog.dropTempView(name)
    }
    Nil
  }
}

case class CreateStreamTableNode(name: String, schemaDdl: Option[String],
    format: String, options: Map[String, String], ifNotExists: Boolean)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    graft.streaming.StreamSql.createStreamTable(
      graft.GraftSession(spark), name, format, schemaDdl, options, ifNotExists)
    Nil
  }
}

case class DropStreamTableNode(name: String, ifExists: Boolean)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    graft.streaming.StreamSql.dropStreamTable(
      graft.GraftSession(spark), name, ifExists)
    Nil
  }
}

/** `SHOW SAMPLE|TOPK|STREAM TABLES` — catalog listing of the AQP structures
 * (the reference surfaces these through its store catalog / `snappy-sql`
 * listing commands). */
case class ShowAqpTablesNode(kind: String)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    kind match {
      case "sample" => Seq("name", "base", "qcs", "fraction", "reservoirSize", "path")
          .map(AttributeReference(_, StringType, nullable = true)())
      case "topk" => Seq("name", "base", "key", "variant", "size")
          .map(AttributeReference(_, StringType, nullable = true)())
      case _ => Seq("name", "format", "running")
          .map(AttributeReference(_, StringType, nullable = true)())
    }

  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val state = graft.GraftState.of(spark)
    kind match {
      case "sample" => state.samples.values.toSeq.sortBy(_.name).map { i =>
        Row(i.name, i.baseName, i.qcs.mkString(","), i.fraction.toString,
          i.reservoirSize.toString, i.persistPath.orNull)
      }
      case "topk" => state.topks.toSeq.sortBy(_._1).map { case (n, st0) =>
        val st = st0.asInstanceOf[graft.topk.TopKState]
        Row(st.name, state.topkBases.getOrElse(n, null), st.opts.key,
          st.variant, st.opts.size.toString)
      }
      case _ => state.streams.values.toSeq.sortBy(_.name).map { d =>
        Row(d.name, d.format,
          state.activeStreams.contains(d.name.toLowerCase).toString)
      }
    }
  }
}

/** `STREAMING INIT <n> [MS|SECS]` / `STREAMING START` / `STREAMING STOP`
 * (reference `snappyAQPParsers` streaming arms, `AQPStreamingSuite.scala:63`). */
case class StreamingControlNode(op: String, intervalMs: Option[Long])
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
    val gs = graft.GraftSession(spark)
    op match {
      case "init" => gs.state.streamingBatchMs = intervalMs.getOrElse(1000L)
      case "start" => graft.streaming.StreamSql.startAll(gs)
      case "stop" => graft.streaming.StreamSql.stopAll(gs)
    }
    Nil
  }
}
