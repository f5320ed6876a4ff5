package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType, NumericType}

/** X91 — materialized-rollup rewrite: answer coarse aggregations from a
  * registered KB-sized rollup instead of the fact table.
  *
  * The 100 TB dashboard reality: the same fact table is re-aggregated all
  * day by queries that group on a handful of low-cardinality keys. A
  * rollup materialized ONCE per (key-set, measure-set) — counts, sums,
  * mins, maxes, non-null counts per full key group
  * ([[graft.etl.MaterializedRollup.build]]) — answers every query whose
  * grouping is a SUBSET of the rollup keys and whose aggregates are
  * re-aggregatable from those partials, at |distinct keys| input rows
  * instead of |fact|. This rule performs that rerouting as a Catalyst
  * optimizer rewrite, so user queries keep targeting the base table:
  *
  *   Aggregate(G ⊆ keys, algebraic aggs, [Project][Filter(keys-only)] Scan(base))
  *     ⇒ Aggregate(G, merged aggs, [Filter'](Scan(mv)))
  *
  * with COUNT(*)→COALESCE(SUM(cnt),0), COUNT(c)→COALESCE(SUM(cnt_c),0),
  * SUM(c)→SUM(sum_c), MIN/MAX(c)→MIN/MAX(min_c/max_c), and
  * AVG(c)→Σ(sum_c)/Σ(cnt_c) (AVG is not re-aggregatable; its exact
  * decomposition is — the [[PreAggExpandRewrite]] contract). A
  * grouping-only aggregate (DISTINCT keys) also qualifies. Everything
  * else refuses: DISTINCT/FILTER aggregate modifiers, decimal SUM/AVG
  * (re-sum widens precision), computed grouping or aggregate children,
  * filters touching non-key columns, any referenced column outside
  * keys ∪ measures.
  *
  * Correctness contract — the rewrite preserves semantics because the
  * rollup holds one row per DISTINCT full key combination present in the
  * base (groups absent from the base are absent from both plans), filters
  * on key columns commute with the per-key collapse (replayed verbatim on
  * the rollup), and every merged aggregate is the exact algebraic
  * composition of its partials. Output attribute ids, names, and types
  * are preserved exactly (aliases carry the original exprIds), so parent
  * operators resolve unchanged; any type mismatch aborts the rewrite.
  *
  * STALENESS: registering asserts the rollup reflects the base; refresh
  * after base changes ([[graft.etl.MaterializedRollup.createAndRegister]]
  * re-runs, or maintain it incrementally with its `applyDelta`). The
  * registrar's word is additionally VERIFIED per query (round 11): the
  * view records a fingerprint of the base's file listing (names, sizes,
  * mtimes) at registration, and the rewrite compares it against the
  * candidate query's OWN scan listing — already materialized on the
  * driver at plan time, so the check costs zero filesystem calls. An
  * out-of-band base mutation (ad-hoc overwrite, compaction, append)
  * changes the listing and the rewrite silently refuses — the query
  * falls back to the fact scan, which is always correct. Views
  * registered without a fingerprint skip the check (back-compat).
  *
  * Fixed point: the rewritten aggregate scans the rollup's path, which is
  * never a registered BASE path (self-registration is refused), so the
  * rule cannot re-fire on its own output. Conf-gated per session/query:
  * `spark.graft.rollupViewRewrite` (default ON; the registry is empty
  * unless the user registers views, so the default is inert).
  */
object RollupViewRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.rollupViewRewrite"

  /** A registered rollup: `mv` holds keys ++ cnt ++ per-measure partials
    * (sum_c, min_c, max_c, cnt_c) at `mvPath`, one row per distinct key
    * combination of the base relation rooted at `basePath`.
    * @param sessionUuid owning session — the registry JVM-global map is
    *   shared across SparkSessions in the process, so a view registered
    *   in one session must not rewrite plans in another; None = visible
    *   to every session (explicit opt-in for direct registration).
    * @param baseFingerprint [[listingFingerprint]] of the base's file
    *   listing at registration time; the rewrite refuses when the
    *   candidate query's scan listing no longer matches (staleness
    *   gate). None = unverified (back-compat / tests). */
  final case class View(name: String, basePath: String, keys: Seq[String],
      measures: Seq[String], mv: LogicalRelation,
      sessionUuid: Option[String] = None,
      baseFingerprint: Option[String] = None) {
    require(basePath != "", "empty base path")
  }

  /** Order-independent fingerprint of a file listing: md5 over the
    * sorted (path, length, mtime) triples. Hidden files (`_`/`.`
    * prefixes — _SUCCESS, .crc) are the caller's job to exclude, matching
    * what Spark's own file index lists as data files. */
  def listingFingerprint(files: Seq[(String, Long, Long)]): String = {
    val joined = files.map { case (p, len, mtime) => s"$p|$len|$mtime" }
      .sorted.mkString("\n")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map("%02x".format(_)).mkString + ":" + files.size
  }

  /** The fingerprint of a file relation's ALREADY-LISTED driver-side
    * metadata (no filesystem calls). None when the index exposes no file
    * statuses. */
  def relationFingerprint(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case p: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
          Some(listingFingerprint(p.allFiles().map(f =>
            (f.getPath.toString, f.getLen, f.getModificationTime))))
        case _ => None
      }
      case _ => None
    }

  private val views =
    new java.util.concurrent.ConcurrentHashMap[String, View]()

  def register(v: View): Unit = {
    val mvPaths = rootPaths(v.mv).toSet
    require(!mvPaths.contains(v.basePath),
      s"rollup view ${v.name} cannot be registered over its own path")
    views.put(v.name, v)
  }
  def unregister(name: String): Unit = views.remove(name)
  def clear(): Unit = views.clear()
  def registered: Seq[View] = views.values.asScala.toSeq

  private def enabled: Boolean =
    conf.getConfString(EnabledKey, "true").toBoolean

  private def rootPaths(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
    case _                    => Nil
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || views.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }

  /** Unwrap attribute-only Projects and Filters down to a file relation;
    * returns (relation, filter conditions met on the way). */
  private def unwrap(p: LogicalPlan,
      conds: Seq[Expression]): Option[(LogicalRelation, Seq[Expression])] =
    p match {
      case lr: LogicalRelation => Some((lr, conds))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, conds)
      case Filter(cond, child) => unwrap(child, conds :+ cond)
      case _ => None
    }

  /** Stable per-session identity: a UUID minted on first sight, weakly
    * keyed so dropped sessions don't pin (SparkSession has no public
    * session UUID; default equality is object identity, which WeakHashMap
    * uses here). */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())
  def sessionIdOf(s: org.apache.spark.sql.SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  private def candidates(basePath: String): Seq[View] = {
    // the registry map is JVM-global; visibility is not — a view bound to
    // a session only rewrites that session's plans
    val active = org.apache.spark.sql.SparkSession.getActiveSession
      .map(sessionIdOf)
    views.values.asScala.toSeq
      .filter(_.basePath == basePath)
      .filter(v => v.sessionUuid.isEmpty || v.sessionUuid == active)
      .sortBy(v => (v.keys.size, v.name))
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    // grouping must be plain attributes in either shape
    if (!agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]))
      return None
    plainRewrite(agg).orElse(joinRewrite(agg))
  }

  /** Aggregate([Project][Filter] Scan(base)) — the whole child collapses
    * to the rollup. */
  private def plainRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (baseRel, filterConds) = unwrap(agg.child, Nil).getOrElse(return None)
    val basePaths = rootPaths(baseRel)
    if (basePaths.size != 1) return None
    lazy val fp = relationFingerprint(baseRel)
    candidates(basePaths.head).view.flatMap { v =>
      rewriteCore(agg, v, baseRel.outputSet, filterConds,
        AttributeSet.empty, fp, (factChild, _) => Some(factChild))
    }.headOption
  }

  /** Aggregate([Project] Join(fact, dim)) — star-schema shape: the FACT
    * side collapses to the rollup and the join replays against it. The
    * algebra needs no dim-key uniqueness: rows of the fact sharing the
    * same full key vector join the same dim rows and carry the same
    * grouping values, so collapsing them first and re-aggregating the
    * partials across the join is exact for ANY inner join whose condition
    * touches only rollup keys on the fact side. Dim-side aggregate inputs
    * CNT-WEIGHT (each rollup row stands for cnt fact rows): SUM(d.x) →
    * Σ cnt·d.x, COUNT(d.x) → Σ cnt over non-null d.x, AVG their ratio;
    * MIN/MAX pass through unweighted (cnt ≥ 1 keeps every value). */
  private def joinRewrite(agg: Aggregate): Option[LogicalPlan] = {
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        stripProjects(child)
      case other => other
    }
    val join = stripProjects(agg.child) match {
      case j: Join if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      case _ => return None
    }

    def attempt(factPlan: LogicalPlan, dimPlan: LogicalPlan,
        rebuild: (LogicalPlan, Option[Expression]) => Join): Option[LogicalPlan] = {
      val (baseRel, factFilters) = unwrap(factPlan, Nil).getOrElse(return None)
      val basePaths = rootPaths(baseRel)
      if (basePaths.size != 1) return None
      val factAttrs = baseRel.outputSet
      lazy val fp = relationFingerprint(baseRel)
      candidates(basePaths.head).view.flatMap { v =>
        // the join condition may touch fact KEYS and anything dim-side,
        // and must be deterministic (it re-evaluates per collapsed row)
        val condOk = join.condition.forall(c => c.deterministic &&
          c.references.forall(a =>
            !factAttrs.contains(a) || v.keys.contains(a.name)))
        if (!condOk) None
        else rewriteCore(agg, v, factAttrs, factFilters, dimPlan.outputSet,
          fp, (factChild, toMv) =>
            Some(rebuild(factChild, join.condition.map(toMv))))
      }.headOption
    }

    attempt(join.left, join.right,
      (fc, cond) => join.copy(left = fc, condition = cond))
      .orElse(attempt(join.right, join.left,
        (fc, cond) => join.copy(right = fc, condition = cond)))
  }

  /** Shared rebuild: replace the fact subtree with the (filtered) rollup
    * relation, merge the aggregates from partials, preserve output
    * attribute ids/names/types exactly. `buildChild` receives the filtered
    * rollup plan and the fact→rollup attribute mapper and returns the new
    * aggregate child (the rollup itself, or the rebuilt join). */
  private def rewriteCore(agg: Aggregate, v: View, factAttrs: AttributeSet,
      factFilters: Seq[Expression], dimAttrs: AttributeSet,
      baseRelFingerprint: => Option[String],
      buildChild: (LogicalPlan, Expression => Expression) => Option[LogicalPlan])
      : Option[LogicalPlan] = {
    // staleness gate: the registered base-listing fingerprint must match
    // the candidate query's OWN scan listing (already materialized on the
    // driver — zero filesystem calls). A mutated base (out-of-band
    // overwrite / append / compaction) silently disqualifies the view and
    // the query answers from the fact scan — always correct, never stale.
    v.baseFingerprint.foreach { registered =>
      if (!baseRelFingerprint.contains(registered)) return None
    }
    // fresh MV attribute ids per use (several rewrites may share a view)
    val mvRel = v.mv.newInstance()
    val mvAttr: Map[String, Attribute] = mvRel.output.map(a => a.name -> a).toMap
    // the MV file must actually carry every declared key column
    if (!v.keys.forall(mvAttr.contains)) return None
    def partial(prefix: String, c: String): Option[Attribute] =
      mvAttr.get(s"${prefix}_$c")

    // fact-side filters must sit on rollup keys (replayable verbatim) and
    // be DETERMINISTIC — a rand() filter evaluated per collapsed group
    // would sample groups where the original sampled rows
    val filterOk = factFilters.forall(f => f.deterministic &&
      f.references.forall(a =>
        factAttrs.contains(a) && v.keys.contains(a.name)))
    if (!filterOk) return None

    val aggExpressions = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })

    // merged replacement per distinct aggregate call — None (outer)
    // aborts. FACT inputs merge from the rollup partials. DIM-side
    // inputs (join mode only) CNT-WEIGHT instead: each collapsed rollup
    // row stands for cnt fact rows, all joining the same dim row, so
    // SUM(d.x) over pairs = Σ cnt·d.x, COUNT(d.x) = Σ cnt over non-null
    // d.x, AVG = their ratio — and MIN/MAX need no weighting at all
    // (cnt ≥ 1 keeps every pair value present).
    val distinctAggs = aggExpressions.foldLeft(Seq.empty[AggregateExpression]) {
      (acc, ae) => if (acc.exists(_.semanticEquals(ae))) acc else acc :+ ae
    }
    val mergeOf: Map[AggregateExpression, Expression] = distinctAggs.map { ae =>
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      def factAttr(a: AttributeReference): Option[AttributeReference] =
        if (factAttrs.contains(a)) Some(a) else None
      def isDim(a: AttributeReference): Boolean = dimAttrs.contains(a)
      val cntOpt: Option[Attribute] = mvAttr.get("cnt")
      // cnt-weighted product for a dim-side value, type-matched to what
      // SUM of the raw input would produce (long for integrals, double
      // otherwise)
      def weighted(a: AttributeReference, cnt: Attribute): Expression =
        a.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            Multiply(Cast(a, org.apache.spark.sql.types.LongType),
              Cast(cnt, org.apache.spark.sql.types.LongType))
          case _ =>
            Multiply(Cast(a, DoubleType), Cast(cnt, DoubleType))
        }
      def dimNonNullCnt(a: AttributeReference, cnt: Attribute): Expression =
        If(IsNotNull(a), Cast(cnt, org.apache.spark.sql.types.LongType),
          Literal(0L))
      val merged: Expression = ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null =>
          Coalesce(Seq(ae.copy(aggregateFunction = Sum(cntOpt.getOrElse(return None)),
            resultId = NamedExpression.newExprId), Literal(0L)))
        case Count(Seq(a: AttributeReference)) if isDim(a) =>
          Coalesce(Seq(ae.copy(aggregateFunction = Sum(dimNonNullCnt(a, cntOpt.getOrElse(return None))),
            resultId = NamedExpression.newExprId), Literal(0L)))
        case Count(Seq(a: AttributeReference)) =>
          val fa = factAttr(a).getOrElse(return None)
          val cc = partial("cnt", fa.name).getOrElse(return None)
          Coalesce(Seq(ae.copy(aggregateFunction = Sum(cc),
            resultId = NamedExpression.newExprId), Literal(0L)))
        case Sum(a: AttributeReference, _)
            if isDim(a) && !a.dataType.isInstanceOf[DecimalType] &&
              a.dataType.isInstanceOf[NumericType] =>
          ae.copy(aggregateFunction = Sum(weighted(a, cntOpt.getOrElse(return None))),
            resultId = NamedExpression.newExprId)
        case Sum(a: AttributeReference, _)
            if !a.dataType.isInstanceOf[DecimalType] =>
          val fa = factAttr(a).getOrElse(return None)
          val sc = partial("sum", fa.name).getOrElse(return None)
          ae.copy(aggregateFunction = Sum(sc),
            resultId = NamedExpression.newExprId)
        case Min(a: AttributeReference) if isDim(a) => ae // unweighted
        case Min(a: AttributeReference) =>
          val fa = factAttr(a).getOrElse(return None)
          val mc = partial("min", fa.name).getOrElse(return None)
          ae.copy(aggregateFunction = Min(mc),
            resultId = NamedExpression.newExprId)
        case Max(a: AttributeReference) if isDim(a) => ae // unweighted
        case Max(a: AttributeReference) =>
          val fa = factAttr(a).getOrElse(return None)
          val mc = partial("max", fa.name).getOrElse(return None)
          ae.copy(aggregateFunction = Max(mc),
            resultId = NamedExpression.newExprId)
        case Average(a: AttributeReference, _) => a.dataType match {
          case _: DecimalType => return None
          case _: NumericType if isDim(a) =>
            Divide(
              Cast(ae.copy(aggregateFunction = Sum(weighted(a, cntOpt.getOrElse(return None))),
                resultId = NamedExpression.newExprId), DoubleType),
              Cast(ae.copy(aggregateFunction = Sum(dimNonNullCnt(a, cntOpt.getOrElse(return None))),
                resultId = NamedExpression.newExprId), DoubleType),
              EvalMode.LEGACY)
          case _: NumericType =>
            val fa = factAttr(a).getOrElse(return None)
            val sc = partial("sum", fa.name).getOrElse(return None)
            val cc = partial("cnt", fa.name).getOrElse(return None)
            // LEGACY division: NULL at count 0, reproducing AVG's
            // all-null-group result even under ANSI sessions
            Divide(
              Cast(ae.copy(aggregateFunction = Sum(sc),
                resultId = NamedExpression.newExprId), DoubleType),
              Cast(ae.copy(aggregateFunction = Sum(cc),
                resultId = NamedExpression.newExprId), DoubleType),
              EvalMode.LEGACY)
          case _ => return None
        }
        case _ => return None
      }
      if (merged.dataType != ae.dataType) return None
      ae -> merged
    }.toMap

    // outside aggregate functions, every FACT attribute must be a key;
    // dim-side attributes pass through untouched
    def refsOutsideAgg(e: Expression): Seq[Attribute] = e match {
      case _: AggregateExpression => Nil
      case a: Attribute           => Seq(a)
      case other                  => other.children.flatMap(refsOutsideAgg)
    }
    val outside = agg.aggregateExpressions.flatMap(refsOutsideAgg) ++
      agg.groupingExpressions.flatMap(refsOutsideAgg)
    val outsideOk = outside.forall(a =>
      if (factAttrs.contains(a)) v.keys.contains(a.name)
      else dimAttrs.contains(a))
    if (!outsideOk) return None

    // fact attr -> rollup attr, by name (validated to be keys above)
    def toMv(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if factAttrs.contains(a) =>
        mvAttr.getOrElse(a.name, a)
    }
    val factChild: LogicalPlan = factFilters match {
      case Seq() => mvRel
      case cs    => Filter(cs.map(toMv).reduce(And), mvRel)
    }
    val child = buildChild(factChild, toMv).getOrElse(return None)

    // result expressions: merged aggregates + key/dim attrs, under the
    // ORIGINAL names and exprIds so parents resolve unchanged
    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if factAttrs.contains(a) =>
        Alias(mvAttr.getOrElse(a.name, return None), a.name)(exprId = a.exprId)
      case a: AttributeReference => a // dim-side: still produced by child
      case al: Alias =>
        val rewritten = al.child.transformUp {
          case ae: AggregateExpression =>
            mergeOf.collectFirst { case (k, m) if k.semanticEquals(ae) => m }
              .getOrElse(return None)
        }
        val mapped = toMv(rewritten)
        if (!mapped.references.subsetOf(child.outputSet)) return None
        Alias(mapped, al.name)(exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = Some(al.metadata))
      case _ => return None
    }
    if (!newResult.forall(_.references.subsetOf(child.outputSet))) return None
    val newGrouping = agg.groupingExpressions.map(toMv)
    Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = newResult, child = child))
  }
}
