package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/**
 * The AQP rewrite: replaces an [[ErrorConfidence]]-wrapped query's base-table
 * scan with the best matching sample table and turns its SUM/AVG/COUNT
 * aggregates into closed-form error aggregates, binding the
 * error-introspection functions to struct fields.
 *
 * Condenses the reference's rule pipeline (`ReplaceWithSampleTable` →
 * `WeightageRule` → `ErrorEstimateRule` → `GetErrorBounds` →
 * `EnsureSampleWeightageColumn`, SURVEY.md §3 step 2) into one post-analysis
 * pass — possible because our error aggregate returns a struct, so error
 * columns are ordinary projections instead of hidden-column surgery on the
 * physical aggregate.
 *
 * Routing semantics (reference `QueryRoutingRules.scala:41-103`): queries
 * with distinct aggregates or aggregates outside {SUM, AVG, COUNT, MIN, MAX}
 * run unchanged on the base table.
 */
case class AqpRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val p = plan.transformDown {
      case ec: ErrorConfidence if ec.child.resolved => rewrite(ec)
    }
    // Error functions WITHOUT an error clause are legal on a query that
    // scans a sample table (reference `ErrorEstimateFunctionTest` "query
    // directly fired on sample table should not compute error estimates if
    // no error clause present" — `ReplaceWithSampleTable.
    // INIFINITE_ERROR_TOLERANCE`): aggregates stay raw/unweighted and the
    // error functions are inert (bounds NULL, errors 0). They are
    // marked inert rather than replaced, so a clause that wraps this
    // analyzed plan later still finds them. On a plan with no sample scan
    // the stubs survive as Unevaluable and raise, as before — error
    // estimates need an AQP context.
    if (p.resolved && !p.exists(_.isInstanceOf[ErrorConfidence]) &&
        p.exists(_.expressions.exists(_.exists(_.isInstanceOf[ErrorEstimateStub])))) {
      val state = graft.GraftState.of(spark)
      val scansSample =
        p.exists(_.output.exists(_.name == Weightage.WeightColumn)) ||
          state.samples.values.exists { i =>
            val sp = i.sampleDf.queryExecution.analyzed
            p.exists(_.sameResult(sp))
          }
      if (scansSample) {
        p.transformUp { case n => n.transformExpressionsDown {
          case ErrorEstimateStub(fn, arg) => InertErrorEstimate(fn, arg)
        } }
      } else p
    } else p
  }

  private def defaultD(key: String, dflt: String): String =
    spark.conf.get(key, dflt)

  private def rewrite(ec: ErrorConfidence): LogicalPlan = {
    // the session property doubles as the implicit-AQP OFF switch (AQP-285:
    // `set spark.sql.aqp.error=-1`); an explicit clause falling back to a
    // disabled/out-of-range session value gets the stock default instead
    val error = ec.error.getOrElse {
      val e = try defaultD("spark.sql.aqp.error", "0.2").toDouble
        catch { case _: NumberFormatException => 0.2 }
      if (e > 0 && e < 1) e else 0.2
    }
    val confidence = ec.confidence.getOrElse(
      defaultD("spark.sql.aqp.confidence", "0.95").toDouble)
    val behaviorStr = ec.behavior.getOrElse(defaultD("spark.sql.aqp.behavior", "do_nothing"))
    val behavior = HacBehavior.parse(behaviorStr)
    val child = ec.child.transformUp { case n => n.transformExpressionsDown {
      case InertErrorEstimate(fn, arg) => ErrorEstimateStub(fn, arg)
    } }
    val state = graft.GraftState.of(spark)

    // Joining two DIFFERENT sample tables is rejected with the reference's
    // error (`QueryProcessingRules.scala:718-741`): weighted estimators are
    // defined for one sampled relation per query; a self-join of one sample
    // remains allowed, as in the reference. "Different" means different
    // SCAN PLANS, not different registered names — plan-equal samples
    // (same base/qcs/fraction/seed) are interchangeable pooled candidates,
    // and several of them matching ONE scan in this query is not a join of
    // two samples.
    val samplePlans = state.samples.values.toSeq.map(_.sampleDf.queryExecution.analyzed)
    val sampleScanNodes = child.collect {
      case n if samplePlans.exists(n.sameResult) => n
    }
    val sampleScanRoots = sampleScanNodes.filterNot(n =>
      sampleScanNodes.exists(r => (r ne n) && r.exists(_ eq n)))
    if (sampleScanRoots.map(_.canonicalized).distinct.size >= 2) {
      throw new UnsupportedOperationException(
        "Join between two sample tables is not supported")
    }

    // Subquery fencing (reference `HideSubqueryNodes`,
    // `QueryProcessingRules.scala:2522-2597`): plans inside expression
    // subqueries (scalar / IN / EXISTS) are not part of this tree traversal,
    // so their aggregates are invisible here and run exact on the base table
    // by construction. Within THIS tree, the error contract binds to the
    // lowest aggregate that sits directly above a sampled scan — weights
    // must be consumed at the first aggregation — not blindly to the lowest
    // aggregate anywhere (which could belong to a different join branch or
    // a nested derived table over an unsampled relation).
    //
    // A registered sample's own plan is an OPAQUE LEAF here: when the query
    // names the sample table directly, the sampler's internal aggregates
    // (per-stratum counts) sit inside the expanded view and would otherwise
    // capture the contract as the "lowest aggregate" — the reference never
    // sees them because its sample scan is a relation, not a plan.
    val samplePlanRoots: Seq[LogicalPlan] = state.samples.values.toSeq.flatMap { i =>
      val sp = i.sampleDf.queryExecution.analyzed
      child.collect { case n if n.sameResult(sp) => n }
    }
    def insideSampleScan(n: LogicalPlan): Boolean =
      samplePlanRoots.exists(r => (r ne n) && r.exists(_ eq n))
    val aggsLowestFirst =
      child.collect { case a: Aggregate if !insideSampleScan(a) => a }.reverse
    if (aggsLowestFirst.isEmpty) return stripStubs(child)

    // QCS-match quality of a candidate sample for a leaf-scoped query QCS
    // (same ordering as GraftState.rank, mirroring the reference
    // `QueryProcessingRules.scala:412-501`): tableQCS == GROUP BY columns
    // alone wins outright (:427-431) > exact query-QCS (groupby+filter)
    // match > superset by largest fraction alone — the "Largest sample
    // size" selection rule, :462-478 — > minimum |queryQCS \ tableQCS|
    // mismatch, where tables with EXTRA stratum columns still compete
    // (:443-455), ties by fraction > any
    def score(i: graft.SampleInfo, q: Set[String], g: Set[String]): (Int, Double, Double) = {
      val sq = i.qcs.map(_.toLowerCase).toSet
      if (g.nonEmpty && sq == g) (4, i.fraction, 0.0)
      else if (q.nonEmpty && sq == q) (3, i.fraction, 0.0)
      else if (q.nonEmpty && q.subsetOf(sq)) (2, i.fraction, 0.0)
      else if (sq.intersect(q).nonEmpty)
        (1, sq.intersect(q).size.toDouble, i.fraction)
      else (0, 0.0, i.fraction)
    }

    // per-aggregate candidate search
    def candidateFor(agg: Aggregate): Option[(LogicalPlan, graft.SampleInfo)] = {
      // outer-join eligibility (reference `QueryProcessingRules.scala:705-716`):
      // LeftOuter protects its right child from sample substitution,
      // RightOuter its left, FullOuter/LeftSemi/LeftAnti both — substituting
      // there would change null-extension / existence semantics
      val protectedRoots: Seq[LogicalPlan] = agg.child.collect {
        case Join(_, r, org.apache.spark.sql.catalyst.plans.LeftOuter, _, _) => Seq(r)
        case Join(l, _, org.apache.spark.sql.catalyst.plans.RightOuter, _, _) => Seq(l)
        case Join(l, r, org.apache.spark.sql.catalyst.plans.FullOuter, _, _) => Seq(l, r)
        case Join(l, r, org.apache.spark.sql.catalyst.plans.LeftSemi, _, _) => Seq(l, r)
        case Join(l, r, org.apache.spark.sql.catalyst.plans.LeftAnti, _, _) => Seq(l, r)
      }.flatten
      def isProtected(subtree: LogicalPlan): Boolean =
        protectedRoots.exists(root => root.exists(_ eq subtree))
      // a leaf below a NESTED aggregate belongs to that aggregate (its
      // weights are consumed there, not here)
      val nestedAggs = agg.child.collect { case a: Aggregate => a }
      def underNestedAgg(n: LogicalPlan): Boolean =
        nestedAggs.exists(na => na.exists(_ eq n))

      // Min/Max are exact on a sample only when each argument is a literal
      // (constant under any subset of rows), a column inside the sample's
      // QCS, or semantically EQUAL to a QCS stratum expression — every
      // distinct value of the stratum key forms a stratum with at least
      // one retained row, so min/max of the KEY ITSELF survives sampling,
      // while min/max of a mere input column of a function QCS does not
      // (reference ENT-57 family; `QueryProcessingRules.scala:1385-1393` —
      // Min/Max → requiredQcs).
      val aggFns = agg.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae
      })
      val minMaxArgs: Seq[Expression] = aggFns.flatMap(_.aggregateFunction match {
        case m: Min => Seq(m.child)
        case m: Max => Seq(m.child)
        case _ => Nil
      })
      val simpleIdent = "[A-Za-z_][A-Za-z0-9_]*".r
      // parse + analyze a stored QCS entry against a candidate leaf so
      // function-expression strata compare semantically (shared with the
      // ranking tier below)
      def resolveQcsEntry(s: String, leaf: LogicalPlan): Option[Expression] =
        try {
          val parsed = spark.sessionState.sqlParser.parseExpression(s)
          spark.sessionState.analyzer.execute(
            Project(Seq(Alias(parsed, "__graft_qcs__")()), leaf)) match {
            case Project(Seq(al: Alias), _) if al.child.resolved => Some(al.child)
            case _ => None
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      def minMaxAllowed(i: graft.SampleInfo, leaf: LogicalPlan): Boolean = {
        if (minMaxArgs.isEmpty) return true
        val simpleQcs = i.qcs.filter(q => simpleIdent.matches(q.trim))
          .map(_.toLowerCase).toSet
        lazy val fnQcs = i.qcs.filterNot(q => simpleIdent.matches(q.trim))
          .flatMap(resolveQcsEntry(_, leaf)).map(_.canonicalized)
        minMaxArgs.forall { arg =>
          arg.foldable ||
            arg.references.toSeq.map(_.name.toLowerCase).toSet.subsetOf(simpleQcs) ||
            fnQcs.contains(arg.canonicalized)
        }
      }

      // pool ALL samples whose base plan matches a subtree under this
      // aggregate (different views over the same data are interchangeable).
      // Substitute the OUTERMOST matching subtree (usually SubqueryAlias→
      // View→Relation), so no fixed-output node (View) sits between the
      // sample scan and the aggregate to block the weight column (reference
      // substitutes the LogicalRelation and then re-threads —
      // `QueryProcessingRules.scala:517-620`).
      //
      // A query may also name the SAMPLE TABLE directly (reference
      // `JoinQueryTest` queries `sampled_order_line` by name with error
      // functions): the sample's own scan matches too, and its substitution
      // is an identity re-projection — pre-order collect sees the outer
      // sample scan before the base subtree embedded inside the sampler
      // plan, so a direct sample query never re-samples the sample.
      // a node INSIDE another sample's expanded plan is never a candidate:
      // a sample's lineage may embed scans of other registered bases (e.g.
      // an insert-populated sample whose merged plan scans the source
      // table), and substituting there would rewrite the sample's own
      // internals (same opaque-leaf argument as the lowest-aggregate rule)
      val pairs: Seq[(LogicalPlan, graft.SampleInfo)] =
        state.samples.values.toSeq.flatMap { i =>
          val samplePlan = i.sampleDf.queryExecution.analyzed
          agg.child.collect {
            case n if n.sameResult(samplePlan) || n.sameResult(i.basePlan) => n
          }.find(n => !isProtected(n) && !underNestedAgg(n) && !insideSampleScan(n))
            .map(subtree => (subtree, i))
        }.filter { case (subtree, i) => minMaxAllowed(i, subtree) }

      // AQP-211 fallback (reference BootStrapBugTest "a table with weight
      // column should be treated as a sample table"): an UNREGISTERED scan
      // whose output already carries the hidden weightage column — e.g.
      // `spark.read.parquet(persistedSampleDir)` in a fresh session — is a
      // sample. QCS is unknown, so min/max conservatively route to base.
      val inlinePairs: Seq[(LogicalPlan, graft.SampleInfo)] =
        if (pairs.nonEmpty) Nil
        else agg.child.collect {
          case n if n.output.exists(_.name == Weightage.WeightColumn) => n
        }.filter(n => !isProtected(n) && !underNestedAgg(n) && !insideSampleScan(n))
          .take(1)
          .filter(_ => minMaxArgs.forall(_.foldable))
          .map { n =>
            (n, graft.SampleInfo("<inline_weighted>", "<inline_weighted>", n,
              Plans.ofRows(spark, n), Nil, 0.0, 0))
          }
      val allPairs = pairs ++ inlinePairs
      if (allPairs.isEmpty) return None

      // query QCS scoped to the candidate leaf (reference extracts QCS
      // per-table — `QueryProcessingRules.scala:326-410`): only grouping /
      // filter attributes that resolve to the leaf's own output count, so
      // predicates on the dimension side of a join can't bias the ranking
      def qcsFor(leaf: LogicalPlan): Set[String] = {
        val leafCols = leaf.outputSet
        (agg.groupingExpressions.flatMap(_.references.toSeq) ++
          agg.child.collect {
            case f: Filter if f.exists(_ eq leaf) =>
              f.condition.references.toSeq
          }.flatten)
          .filter(leafCols.contains)
          .map(_.name.toLowerCase).toSet
      }
      // GROUP BY columns alone (the reference's groupby_qcs, tier :427-431)
      def groupbyFor(leaf: LogicalPlan): Set[String] = {
        val leafCols = leaf.outputSet
        agg.groupingExpressions.flatMap(_.references.toSeq)
          .filter(leafCols.contains).map(_.name.toLowerCase).toSet
      }
      // Function-expression QCS entries (`qcs 'round(x / 10)'`) never match
      // by NAME — the name-based query QCS flattens grouping expressions to
      // their referenced attributes. Compare them as RESOLVED expressions:
      // analyze each stored entry against the candidate leaf and test
      // canonicalized set equality with the alias-stripped grouping
      // expressions, so a sample stratified on exactly the grouped
      // expression ranks as an exact match (reference ranks function QCS
      // the same way — `QueryProcessingRules.scala:412-501`).
      def exprExact(i: graft.SampleInfo, leaf: LogicalPlan): Boolean = {
        if (i.qcs.isEmpty || agg.groupingExpressions.isEmpty) return false
        // plain column names are already handled by the name tier
        if (i.qcs.forall(q => simpleIdent.matches(q.trim))) return false
        val grouping = agg.groupingExpressions
          .map { case a: Alias => a.child; case e => e }
        if (!grouping.forall(_.references.subsetOf(leaf.outputSet))) return false
        val resolved = i.qcs.map(resolveQcsEntry(_, leaf))
        resolved.forall(_.isDefined) &&
          resolved.flatten.map(_.canonicalized).toSet ==
            grouping.map(_.canonicalized).toSet
      }
      Some(allPairs.maxBy { case (leaf, i) =>
        val base = score(i, qcsFor(leaf), groupbyFor(leaf))
        // expression-equality of the full grouping list with the stored
        // function QCS IS a groupby-exact match (reference compares the
        // grouping expressions against function QCS entries the same way)
        if (base._1 < 4 && exprExact(i, leaf)) (4, i.fraction, 0.0) else base
      })
    }

    aggsLowestFirst.view.flatMap(a => candidateFor(a).map(c => (a, c)))
      .headOption match {
      case None =>
        state.lastChosenSample = None
        stripStubs(child) // no registered sample: run on base
      case Some((agg, (targetLeaf, info))) =>
        // --- routing: unsupported aggregates run on the base table ---------
        // (reference `QueryRoutingRules.scala:41-103`)
        val aggFns = agg.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae
        })
        val unsupported = aggFns.exists { ae =>
          ae.isDistinct || (ae.aggregateFunction match {
            case _: Sum | _: Average | _: Min | _: Max => false
            case c: Count => c.children.size != 1
            case _ => true
          })
        }
        if (unsupported) {
          state.lastChosenSample = None
          return stripStubs(child)
        }
        state.lastChosenSample = Some(info.name)
        rewriteWithSample(ec, child, agg, targetLeaf, info, error, confidence, behavior)
    }
  }

  // ---------------------------------------------------------------------------

  private def rewriteWithSample(
      ec: ErrorConfidence,
      child: LogicalPlan,
      agg: Aggregate,
      targetLeaf: LogicalPlan,
      info: graft.SampleInfo,
      error: Double,
      confidence: Double,
      behavior: HacBehavior.HacBehavior): LogicalPlan = {

    // 1. substitute the base scan with the sample, preserving exprIds
    //    (reference `QueryProcessingRules.scala:517-620`)
    val samplePlan = info.sampleDf.queryExecution.analyzed
    val sOut = samplePlan.output
    val aliases = targetLeaf.output.map { a =>
      val sa = sOut.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
        throw new AnalysisException(
          errorClass = "INTERNAL_ERROR",
          messageParameters = Map("message" ->
            s"sample table ${info.name} lacks base column ${a.name}")))
      Alias(sa, a.name)(exprId = a.exprId)
    }
    val weightSrc = sOut.find(_.name == Weightage.WeightColumn).getOrElse(
      throw new AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"sample table ${info.name} has no weight column")))
    val weightAlias = Alias(weightSrc, Weightage.WeightColumn)()
    val weightAttr = weightAlias.toAttribute
    // per-row bootstrap seed, computed AT THE SAMPLE SCAN from the full
    // sample row — the reference's "seed below joins, above filters"
    // placement (`BootStrapAggregateFunctionTest` "position of bootstrap
    // seed") as a column: joined-in columns can never perturb the draw, and
    // a projection that drops base columns (a DataFrame `select((x*2) AS
    // y)` before the aggregate) still carries a ROW-distinct seed — hashing
    // only the visible derived column would correlate every same-valued row
    // of a stratum and inflate the bootstrap variance by orders of
    // magnitude. Unused (closed-form) plans lose the column to optimizer
    // pruning.
    val seedAlias = Alias(
      XxHash64(sOut, defaultD("spark.sql.aqp.seed", "42").toLong),
      "__graft_bs_seed__")()
    val seedAttr = seedAlias.toAttribute
    val substitutedLeaf = Project(aliases :+ weightAlias :+ seedAlias, samplePlan)

    val substituted = agg.child.transformUp {
      case l if l eq targetLeaf => substitutedLeaf
    }

    // 2. thread the weight + seed columns up through Projects to the
    //    aggregate (reference `EnsureSampleWeightageColumn`, `:2460-2520`)
    val hiddenCols = Seq(weightAttr, seedAttr)
    val threaded = substituted.transformUp {
      case p: Project =>
        val missing = hiddenCols.filter(h => p.child.outputSet.contains(h) &&
          !p.projectList.exists(_.toAttribute.semanticEquals(h)))
        if (missing.isEmpty) p
        else p.copy(projectList = p.projectList ++ missing)
      // grouping sets / cube / rollup: Expand re-projects its input per
      // grouping set — append the hidden columns to every projection
      case e: Expand =>
        val missing = hiddenCols.filter(h => e.child.outputSet.contains(h) &&
          !e.output.exists(_.semanticEquals(h)))
        if (missing.isEmpty) e
        else Expand(e.projections.map(_ ++ missing), e.output ++ missing, e.child)
      // Generate (LATERAL VIEW / explode) and Window need no case here: at
      // analysis time both forward the full child output (pruning happens in
      // the optimizer, after this rewrite has made the aggregate reference
      // the weight), so each exploded/windowed row keeps its source row's
      // weight — the behavior the reference implements explicitly at
      // `QueryProcessingRules.scala:2489-2510`
    }
    if (!threaded.outputSet.contains(weightAttr)) {
      throw new AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          ("could not thread sample weight column to the aggregate " +
            "(unsupported intermediate operator, e.g. grouping sets)")))
    }

    // integral estimates round before the cast (5999.9999 → 6000, not 5999)
    def castEstimate(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
      dt match {
        case _: org.apache.spark.sql.types.IntegralType =>
          Cast(Round(e, Literal(0)), dt)
        case _ => Cast(e, dt)
      }

    // ByPassErrorCalculationsConditionally (reference
    // `QueryProcessingRules.scala:2374-2458`): when the behavior is
    // DO_NOTHING and no error column is requested anywhere, degrade the
    // error aggregates to cheap Horvitz–Thompson column algebra
    // (sum(w·x), sum(w·x)/sum(w), sum(w)) — fully whole-stage-codegen'd,
    // no struct buffers.
    val hasStubs = child.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[ErrorEstimateStub])))
    if (behavior == HacBehavior.DoNothing && !hasStubs) {
      val w: Expression = MapColumnToWeight(weightAttr)
      val newAgg = agg.copy(
        aggregateExpressions = agg.aggregateExpressions.map { ne =>
          // guard by identity: the replacements contain fresh nested
          // AggregateExpressions that must not be rewritten again
          val originals = java.util.Collections.newSetFromMap(
            new java.util.IdentityHashMap[AggregateExpression, java.lang.Boolean]())
          ne.foreach { case ae: AggregateExpression => originals.add(ae); case _ => }
          // sum/avg over the HIDDEN WEIGHT COLUMN stays raw bookkeeping —
          // weighting it would make the exact integral sum a plan-order-
          // dependent float (reference Hashjoin Bug-3 pins sum(weightage)
          // exactly equal across join strategies)
          def isWeightRef(x: Expression): Boolean =
            x.references.nonEmpty &&
              x.references.forall(_.name == Weightage.WeightColumn)
          ne.transformDown {
            case ae: AggregateExpression if originals.contains(ae) => ae.aggregateFunction match {
              case Sum(x, _) if !isWeightRef(x) =>
                castEstimate(
                  Sum(Multiply(w, Cast(x, DoubleType))).toAggregateExpression(),
                  ae.dataType)
              case Average(x, _) if !isWeightRef(x) =>
                val num = Sum(Multiply(w, Cast(x, DoubleType))).toAggregateExpression()
                val den = Sum(If(IsNull(x), Literal(null, DoubleType), w))
                  .toAggregateExpression()
                Cast(Divide(num, den), ae.dataType)
              case Count(xs) =>
                val den = Sum(If(IsNull(xs.head), Literal(null, DoubleType), w))
                  .toAggregateExpression()
                Cast(Round(Coalesce(Seq(den, Literal(0.0))), Literal(0)), LongType)
              case _ => ae
            }
          }.asInstanceOf[NamedExpression]
        },
        child = threaded)
      return Project(child.output,
        child.transformUp { case a if a eq agg => newAgg })
    }

    // 3. rewrite Sum/Avg/Count into shared closed-form struct aggregates
    val finalizerBehavior =
      if (behavior == HacBehavior.LocalOmit) HacBehavior.LocalOmit
      else HacBehavior.DoNothing
    val cfAggs = mutable.LinkedHashMap.empty[(AqpAggType.AqpAggType, Expression), Alias]

    // estimator family: closed-form (CLT) by default, Poisson bootstrap via
    // spark.sql.aqp.estimator=bootstrap, or per-query automatic selection
    // via 'auto' — the reference's `ClosedFormEstimates` analysis-type rule
    // (`QueryProcessingRules.scala:1414-1452`): closed-form unless an
    // Average is combined with a WHERE below the aggregate, where the
    // ratio-estimator's closed-form variance is unreliable → bootstrap.
    val useBootstrap = defaultD("spark.sql.aqp.estimator", "closedform")
      .toLowerCase match {
      case "bootstrap" => true
      case "auto" =>
        val hasAvg = agg.aggregateExpressions.exists(_.exists {
          case ae: AggregateExpression =>
            ae.aggregateFunction.isInstanceOf[Average]
          case _ => false
        })
        hasAvg && agg.child.exists(_.isInstanceOf[Filter])
      case _ => false
    }
    val numTrials = defaultD("spark.sql.aqp.numBootstrapTrials", "100").toInt
    // Debug reproducibility knobs (reference `SnappyAQPSessionState.scala:71-81`
    // `AqpDebugFixedSeed` / `AQPDebugPoissonType`): a fixed seed replaces the
    // per-row content hash so every row draws the same Poisson stream — still
    // layout-independent, but now also content-independent (bit-identical
    // bounds after schema-neutral edits); poisson=fixed pins multiplicity 1.
    val fixedPoisson =
      defaultD("spark.sql.aqp.debug.poisson", "real").equalsIgnoreCase("fixed")
    lazy val seedExpr: Expression =
      defaultD("spark.sql.aqp.debug.fixedSeed", "") match {
        case "" => seedAttr // per-row seed threaded from the sample scan
        case s => Literal(s.toLong)
      }

    def structAttr(t: AqpAggType.AqpAggType, valueChild: Expression): Attribute = {
      val key = (t, valueChild.canonicalized)
      cfAggs.getOrElseUpdate(key, {
        val agg =
          if (useBootstrap) {
            new BootstrapAggregate(valueChild, weightAttr, seedExpr, t,
              numTrials, confidence, error, finalizerBehavior,
              fixedPoisson).toAggregateExpression()
          } else {
            new ClosedFormAggregate(valueChild, weightAttr, t, confidence,
              error, finalizerBehavior).toAggregateExpression()
          }
        Alias(agg, s"__graft_cf_${cfAggs.size}__")()
      }).toAttribute
    }

    val aliasToStruct = mutable.Map.empty[ExprId, Attribute]
    // select-list aliases of aggregates the struct CANNOT cover (min/max,
    // …): error functions over them are INERT — NULL bounds, zero errors
    // (reference ENT-57 "aqp query only containing max function":
    // `ErrorEstimateFunctionTest.scala:1296+` pins exactly this shape)
    val inertAliases = mutable.Set.empty[ExprId]

    /** Field extraction with the empty-relation guard: an aggregate over
     * zero rows evaluates the whole struct to NULL, but the reference
     * answers ZERO for absolute/relative error on an empty table while the
     * bounds stay NULL (`QueryRoutingTestSuite` "test empty table with
     * behaviour involving routing"). LOCAL_OMIT's deliberate NULLing is
     * unaffected — it nulls FIELDS inside a non-null struct. */
    def extractField(s: Expression, fn: String): Expression = {
      val ord = ErrorEstimateStub.fieldOrdinal(fn)
      val field = GetStructField(s, ord, Some(ClosedFormAggregate.resultType(ord).name))
      fn match {
        case "absolute_error" | "relative_error" =>
          If(IsNull(s), Literal(0.0, DoubleType), field)
        case _ => field
      }
    }

    // Analysis substitutes same-select-list alias references with the full
    // aggregate expression (lateral column alias resolution), so a stub's
    // argument is usually the AggregateExpression itself — bind it directly.
    def bindStub(fn: String, arg: Expression, create: Boolean = true): Option[Expression] = {
      // the aliased select item may wrap the aggregate (round(sum(x),4));
      // the error functions bind to the first aggregate inside it
      val aeOpt = arg.collectFirst { case ae: AggregateExpression => ae }
      aeOpt.flatMap { ae =>
        (ae.aggregateFunction match {
          case Sum(x, _) => Some((AqpAggType.Sum, x))
          case Average(x, _) => Some((AqpAggType.Avg, x))
          case Count(xs) if xs.size == 1 => Some((AqpAggType.Count, xs.head))
          case _ => None
        }) match {
          case Some((t, x)) if create || cfAggs.contains((t, x.canonicalized)) =>
            Some(extractField(structAttr(t, x), fn))
          case Some(_) => None // estimatable but unbound here: caller errors
          case None =>
            // the stub references an aggregate the struct cannot cover
            // (min/max, …) — inert, never an analysis error
            Some(ErrorEstimateStub.exact(fn))
        }
      }
    }

    // The estimate extraction must NOT live inside the Aggregate (an
    // aggregate expression cannot reference a sibling output column), so the
    // rewritten Aggregate carries only grouping items, untouched aggregates
    // (min/max) and the shared struct aggregates; a Project above it rebuilds
    // the original select list from struct fields, preserving exprIds.
    val aggList = mutable.ArrayBuffer.empty[NamedExpression]
    val keptAggs = mutable.ArrayBuffer.empty[NamedExpression]

    val projList: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      val hasAgg = ne.exists(_.isInstanceOf[AggregateExpression])
      val hasStub = ne.exists(_.isInstanceOf[ErrorEstimateStub])
      if (!hasAgg && !hasStub) {
        aggList += ne // pure grouping item: stays in the aggregate
        ne.toAttribute
      } else {
        var boundStruct: Option[Attribute] = None
        var nAggs = 0
        val rewritten = ne.transformDown {
          case ErrorEstimateStub(fn, arg) =>
            bindStub(fn, arg).getOrElse(throw new AnalysisException(
              errorClass = "INTERNAL_ERROR",
              messageParameters = Map("message" ->
                (s"$fn must reference a SUM/AVG/COUNT aggregate (or its " +
                  "alias) in the same select list"))))
          case ae: AggregateExpression =>
            nAggs += 1
            // sum/avg OVER THE HIDDEN WEIGHT COLUMN stays raw: it is
            // bookkeeping, not data — weighting it would turn an exact
            // integral sum into a plan-order-dependent float (reference
            // Hashjoin Bug-3 pins sum(weightage) exactly equal across join
            // strategies)
            def isWeightRef(x: Expression): Boolean =
              x.references.nonEmpty &&
                x.references.forall(_.name == Weightage.WeightColumn)
            ae.aggregateFunction match {
              case Sum(x, _) if !isWeightRef(x) =>
                val s = structAttr(AqpAggType.Sum, x)
                boundStruct = Some(s)
                castEstimate(GetStructField(s, 0, Some("estimate")), ae.dataType)
              case Average(x, _) if !isWeightRef(x) =>
                val s = structAttr(AqpAggType.Avg, x)
                boundStruct = Some(s)
                castEstimate(GetStructField(s, 0, Some("estimate")), ae.dataType)
              case Count(xs) =>
                val s = structAttr(AqpAggType.Count, xs.head)
                boundStruct = Some(s)
                Cast(Round(GetStructField(s, 0, Some("estimate")), Literal(0)), LongType)
              case _ =>
                // Min/Max etc: computed directly over the sample rows,
                // aliased inside the aggregate, referenced from the Project
                val kept = Alias(ae, s"__graft_keep_${keptAggs.size}__")()
                keptAggs += kept
                kept.toAttribute
            }
        }.asInstanceOf[NamedExpression]
        ne match {
          case a: Alias if nAggs == 1 && boundStruct.isDefined =>
            aliasToStruct(a.exprId) = boundStruct.get
          case a: Alias if nAggs >= 1 && boundStruct.isEmpty =>
            inertAliases += a.exprId // min/max/other kept aggregate
          case _ =>
        }
        rewritten
      }
    }

    val newAgg = Aggregate(agg.groupingExpressions,
      (aggList ++ keptAggs ++ cfAggs.values).toSeq, threaded)
    val newNode = Project(projList ++ cfAggs.values.map(_.toAttribute), newAgg)

    // 4. swap the rewritten aggregate into the tree; thread the struct
    //    columns through the Projects analysis placed above the aggregate
    //    (lateral-alias resolution splits `sum(x) AS s, absolute_error(s)`
    //    into two Project layers), following alias-of-alias chains; then
    //    bind any remaining stubs
    var tree = child.transformUp { case a if a eq agg => newNode }
    val cfAttrs = cfAggs.values.map(_.toAttribute).toSeq
    tree = tree.transformUp {
      case p: Project if cfAttrs.exists(a => p.child.outputSet.contains(a)) =>
        p.projectList.foreach {
          // follow alias chains, including wrapped ones (round(s, 4) AS t)
          case al: Alias =>
            al.child.references.collectFirst {
              case a: Attribute if aliasToStruct.contains(a.exprId) =>
                aliasToStruct(a.exprId)
            }.foreach(s => aliasToStruct(al.exprId) = s)
          case _ =>
        }
        val missing = cfAttrs.filter(a => p.child.outputSet.contains(a) &&
          !p.projectList.exists(_.toAttribute.exprId == a.exprId))
        if (missing.isEmpty) p else p.copy(projectList = p.projectList ++ missing)
    }
    tree = tree.transformUp {
      case n => n.transformExpressionsDown {
        case ErrorEstimateStub(fn, arg) => arg match {
          case attr: Attribute if aliasToStruct.contains(attr.exprId) =>
            extractField(aliasToStruct(attr.exprId), fn)
          case attr: Attribute if inertAliases.contains(attr.exprId) =>
            ErrorEstimateStub.exact(fn) // error fn over a min/max alias (ENT-57)
          case other => bindStub(fn, other, create = false).getOrElse(throw new AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              (s"$fn must reference the alias of a SUM/AVG/COUNT aggregate " +
                "in the same select list"))))
        }
      }
    }

    val visible = child.output
    behavior match {
      case HacBehavior.DoNothing | HacBehavior.LocalOmit =>
        Project(visible, tree)
      case _ =>
        // HAC enforcement: append hidden per-aggregate relative errors and
        // wrap in the enforcement node (driver/physical post-pass —
        // reference `AQPRules.scala:115-519`).
        //
        // For the ROUTING behaviors, ORDER BY / LIMIT are peeled off the
        // top and re-applied ABOVE the enforcement node: enforcement must
        // see EVERY group — a pre-union LIMIT would pick group keys by
        // their sampled estimates and a limited fallback would drop
        // failing keys, so `top-k with partial routing` could return fewer
        // than k (or wrong) groups. STRICT is the opposite: the check sits
        // ABOVE the whole tree, limit included, so only rows the query
        // actually returns are enforced — the reference's lazy per-row
        // ApproxColumn evaluation never touches limited-out groups
        // (AbstractAQPDataFrameAPIPart1Test "group by queries with limit
        // not throwing exception if the relative error for valid rows is
        // within limit"), and a failing group outside the top-k must not
        // fail the query. It needs no enforcement exec node at all: a
        // Filter whose (non-deterministic, so never relocated) predicate
        // throws on a failing row — declarative, and never an operator
        // consuming another operator's transient row memory.
        def peel(p: LogicalPlan)
            : (LogicalPlan, Seq[SortOrder], LogicalPlan => LogicalPlan) = p match {
          case g: GlobalLimit => g.child match {
            case ll: LocalLimit =>
              val (c, so, wrap) = peel(ll.child)
              (c, so,
                inner => g.withNewChildren(Seq(ll.withNewChildren(Seq(wrap(inner))))))
            case _ => (p, Nil, identity)
          }
          case s: Sort if s.global =>
            (s.child, s.order, inner => s.withNewChildren(Seq(inner)))
          case other => (other, Nil, identity)
        }
        if (behavior == HacBehavior.Strict) {
          val checks = cfAggs.values.toSeq.map { a =>
            // empty-group guard: a NULL struct (zero input rows) reads as
            // a NULL relative error — nothing to enforce, the row passes
            StrictErrorCheck(
              GetStructField(a.toAttribute, 4, Some("relative_error")), error)
          }
          val pred =
            if (checks.isEmpty) Literal(true)
            else checks.map(_.asInstanceOf[Expression]).reduce(And)
          return Project(visible, Filter(pred, tree))
        }
        val (coreTree, sortOrder, rewrap) = peel(tree)
        val (coreChild, _, _) = peel(child)
        val hidden = cfAggs.values.toSeq.zipWithIndex.map { case (a, i) =>
          // empty-group guard: a NULL struct (zero input rows) reads as
          // relative error 0 — nothing to enforce, the group passes
          Alias(If(IsNull(a.toAttribute), Literal(0.0, DoubleType),
            GetStructField(a.toAttribute, 4, Some("relative_error"))),
            s"__graft_relerr_${i}__")()
        }
        val projected = Project(visible ++ hidden, coreTree)
        // Map every grouping expression to its position in the VISIBLE
        // output, following alias chains (`SELECT l_linestatus AS g ...
        // GROUP BY l_linestatus` outputs a fresh exprId for g — a bare
        // exprId match missed it and silently degraded partial routing to
        // a full reroute). ALL-OR-NOTHING: a partially resolved key set
        // (e.g. GROUP BY col, expr where only col maps to an output
        // column) must NOT partial-route — a semi-join on a key SUBSET
        // pulls exact rows for every passing group that shares the subset
        // values with a failing one, duplicating those groups in the
        // union. Unresolvable ⇒ empty ⇒ HacExec full-reroutes.
        val aliasEdges: Map[ExprId, ExprId] = coreTree.collect {
          case p: Project =>
            p.projectList.collect { case al @ Alias(a: Attribute, _) =>
              al.exprId -> a.exprId }
          case ag: Aggregate =>
            ag.aggregateExpressions.collect { case al @ Alias(a: Attribute, _) =>
              al.exprId -> a.exprId }
        }.flatten.toMap
        // membership along the WHOLE chain, not just its terminus: the
        // grouping key may itself be an alias from a lower Project
        // (SELECT g AS h ... FROM (SELECT c AS g ...) GROUP BY g — h's
        // chain is h→g→c and the key is the INTERMEDIATE g)
        def chainContains(start: ExprId, target: ExprId): Boolean = {
          var cur = start
          var seen = Set.empty[ExprId]
          while (true) {
            if (cur == target) return true
            aliasEdges.get(cur) match {
              case Some(next) if !seen(next) => seen += cur; cur = next
              case _ => return false
            }
          }
          false
        }
        val resolved = agg.groupingExpressions.map {
          case ga: Attribute =>
            visible.indexWhere(v => chainContains(v.exprId, ga.exprId))
          case _ => -1
        }
        // HacExec's fallback semi-join and union are NAME-based: a key
        // whose output name is duplicated in the select list would raise
        // AMBIGUOUS_REFERENCE there — treat it as unresolvable (full
        // reroute answers correctly). Compare with the session's resolver:
        // under default case-INsensitive analysis `a AS G, b AS g` is a
        // duplicate to the semi-join even though the names differ by case.
        val resolver = spark.sessionState.analyzer.resolver
        val namesUnique = resolved.forall(i =>
          i < 0 || visible.count(v => resolver(v.name, visible(i).name)) == 1)
        val keyIndices =
          if (resolved.nonEmpty && resolved.forall(_ >= 0) && namesUnique) resolved
          else Seq.empty
        rewrap(HacEnforcement(projected, stripStubs(coreChild), behavior, error,
          hidden.size, keyIndices, sortOrder))
    }
  }

  /** Fallback path: error estimates are exact on the base table —
   * absolute/relative error ≡ 0 and lower/upper bounds are NULL (reference
   * `QueryRoutingTestSuite` "test query on base table without sampletable
   * should route" / "test HAC reroute with error constraint" pin NULL
   * bounds with zero errors on every exactly-answered query). */
  private def stripStubs(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case n => n.transformExpressionsDown {
      case ErrorEstimateStub(fn, _) => ErrorEstimateStub.exact(fn)
    }
  }
}
