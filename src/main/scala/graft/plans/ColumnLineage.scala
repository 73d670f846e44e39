package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._

/** Column-lineage graphs in the reference's shape
  * (`fe/src/main/java/org/apache/impala/analysis/ColumnLineageGraph.java`,
  * `lineage.test`): per query, a JSON record with COLUMN vertices (result
  * columns by label; base-table columns fully qualified, carrying table
  * metadata) and PROJECTION / PREDICATE multi-edges.
  *
  * Graph semantics replicated from the reference:
  *
  *  - one PROJECTION edge per result expression, target = the result
  *    column's label, sources = the base-table columns reached by
  *    resolving through inline views, unions, CTEs and materialization
  *    points (`getSourceBaseCols`);
  *  - an analytic function contributes its ARGUMENTS to the projection
  *    sources; its partition/order expressions become a per-expression
  *    PREDICATE edge (transitively: a nested analytic's partition/order
  *    feed the same edge);
  *  - one final PREDICATE edge targeting ALL result columns, sourced
  *    from every conjunct of the statement (WHERE / ON / HAVING at any
  *    nesting level — Impala's shared-globalState `getConjuncts`), the
  *    grouping exprs of any aggregation that has aggregate functions,
  *    and ORDER BY exprs when combined with a LIMIT
  *    (`SelectStmt.buildColumnLineageGraph`);
  *  - vertex ids are assigned at first use, per edge: targets first
  *    (sorted), then sources sorted by label — the exact
  *    `createMultiEdge` order, which the goldens pin;
  *  - `hash` is murmur3_128 over the query text, `queryText` is the
  *    statement as submitted.
  *
  * Base tables are registered via [[registerBase]] (resolved leaf view
  * name → fully qualified label); tracing stops at those aliases, so a
  * catalog VIEW (not registered) resolves through to its base tables —
  * IMPALA-4219 semantics.
  */
object ColumnLineage {

  // ---- base-table registry -----------------------------------------

  private val bases = mutable.LinkedHashMap.empty[String, String]

  /** Register `viewName` (the name tracing meets as a leaf
    * SubqueryAlias) as a base table labeled `qualified`.
    */
  def registerBase(viewName: String, qualified: String): Unit =
    bases(viewName.toLowerCase) = qualified

  def dropBase(viewName: String): Unit = bases.remove(viewName.toLowerCase)
  def clearBases(): Unit = bases.clear()

  // ---- graph model ---------------------------------------------------

  case class Vertex(id: Int, label: String, table: Option[String])
  case class Edge(sources: Seq[Int], targets: Seq[Int], tpe: String)
  case class Graph(queryText: String, vertices: Seq[Vertex],
      edges: Seq[Edge], tableLocation: Option[String] = None) {

    /** murmur3_128 of the query text — the reference's
      * `getQueryHash` (Guava `putUnencodedChars`).
      */
    def hash: String = com.google.common.hash.Hashing.murmur3_128()
      .newHasher().putUnencodedChars(queryText).hash().toString

    def toJson: String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c => c.toString
      }
      val vs = vertices.map { v =>
        val meta = v.table.map(t =>
          s""","metadata":{"tableCreateTime":-1,"tableName":"${esc(t)}"}""")
          .getOrElse("")
        s"""{"vertexType":"COLUMN","vertexId":"${esc(v.label)}","id":${v.id}$meta}"""
      }.mkString("[", ",", "]")
      val es = edges.map { e =>
        s"""{"sources":${e.sources.mkString("[", ",", "]")},""" +
          s""""targets":${e.targets.mkString("[", ",", "]")},""" +
          s""""edgeType":"${e.tpe}"}"""
      }.mkString("[", ",", "]")
      val loc = tableLocation.map(l =>
        s""","tableLocation":"${esc(l)}"""").getOrElse("")
      s"""{"queryText":"${esc(queryText)}","hash":"$hash",""" +
        s""""vertices":$vs,"edges":$es$loc}"""
    }
  }

  /** One target column of an edge: (label, table metadata). */
  type Col = (String, Option[String])

  private final class Builder {
    private val byLabel = mutable.LinkedHashMap.empty[String, Vertex]
    val edges = mutable.ArrayBuffer.empty[Edge]
    private def vertex(c: Col): Int =
      byLabel.getOrElseUpdate(c._1,
        Vertex(byLabel.size, c._1, c._2)).id
    /** createMultiEdge: targets first (sorted), then sources sorted. */
    def edge(targets: Seq[Col], sources: Seq[Col], tpe: String): Unit = {
      val t = targets.distinctBy(_._1).sortBy(_._1).map(vertex)
      val s = sources.distinctBy(_._1).sortBy(_._1).map(vertex)
      edges += Edge(s.sorted, t.distinct.sorted, tpe)
    }
    def vertices: Seq[Vertex] = byLabel.values.toSeq.sortBy(_.id)
  }

  // ---- tracing --------------------------------------------------------

  /** Resolves attributes of an analyzed plan to base-table columns. */
  private final class Tracer(root: LogicalPlan) {
    private val cteDefs: Map[Long, CTERelationDef] = {
      val m = mutable.Map.empty[Long, CTERelationDef]
      root.foreachWithSubqueries {
        case w: WithCTE => w.cteDefs.foreach(d => m(d.id) = d)
        case _ =>
      }
      m.toMap
    }

    /** Accumulated (label, table) sources. */
    type Out = mutable.LinkedHashMap[String, Option[String]]

    /** Lambda-variable environment: var exprId → (bound expression,
      * its plan node, the canonical hop the binding crosses).
      */
    private val lambdaBind = mutable.Map.empty[
      org.apache.spark.sql.catalyst.expressions.ExprId,
      (Expression, LogicalPlan, String)]

    /** Direct predicate dependencies discovered while tracing a
      * projection (analytic partition/order exprs, with the plan node
      * they resolve against).
      */
    type PredDeps = mutable.ArrayBuffer[(Expression, LogicalPlan)]

    def traceExpr(e: Expression, node: LogicalPlan, pred: Boolean,
        out: Out, predOut: PredDeps, path: String = ""): Unit = e match {
      case we: WindowExpression =>
        val args = we.windowFunction match {
          case ae: AggregateExpression => ae.aggregateFunction.children
          // Spark models rank()/row_number()/… with the ordering exprs
          // as children; Impala's AnalyticExpr has zero call params
          case _: RankLike | _: RowNumberLike => Nil
          case f => f.children
        }
        args.foreach(traceExpr(_, node, pred, out, predOut))
        val deps = we.windowSpec.partitionSpec ++
          we.windowSpec.orderSpec.map(_.child)
        if (pred) deps.foreach(traceExpr(_, node, pred = true, out, predOut))
        else deps.foreach(d => predOut += ((d, node)))
      case a: Attribute => traceAttr(a, node, pred, out, predOut, path)
      case g: GetStructField =>
        fieldPath(g) match {
          case Some((base, fp)) =>
            traceAttr(base, node, pred, out, predOut, fp + path)
          case None =>
            // a field chain over a LAMBDA VARIABLE (the composed
            // collection rewrites): compose the path onto the binding
            def varPath(e: Expression): Option[(NamedLambdaVariable, String)] =
              e match {
                case gg: GetStructField =>
                  val n = gg.name.getOrElse(
                    gg.childSchema(gg.ordinal).name).toLowerCase
                  gg.child match {
                    case v: NamedLambdaVariable => Some((v, s".$n"))
                    case inner => varPath(inner).map { case (b, p) =>
                      (b, s"$p.$n")
                    }
                  }
                case _ => None
              }
            varPath(g) match {
              case Some((v, fp)) =>
                traceExpr(v, node, pred, out, predOut, fp + path)
              case None =>
                g.children.foreach(traceExpr(_, node, pred, out, predOut))
            }
        }
      case me: MapEntries =>
        // map_entries turns a map into its entries array: an `.item`
        // hop into that array IS the map's entry level — no canonical
        // segment (the .key/.value field hop follows separately)
        val p2 = if (path.startsWith(".item")) path.substring(5) else path
        traceExpr(me.child, node, pred, out, predOut, p2)
      case fl: Flatten =>
        traceExpr(fl.child, node, pred, out, predOut, path)
      case af: ArrayFilter =>
        // filter() preserves element identity
        traceExpr(af.argument, node, pred, out, predOut, path)
      case tr: ArrayTransform =>
        val inner = if (path.startsWith(".item")) path.substring(5) else path
        tr.function match {
          case LambdaFunction(body, args, _) =>
            args.headOption.foreach(v =>
              lambdaBind(v.exprId) = (tr.argument, node, ".item"))
            traceExpr(body, node, pred, out, predOut, inner)
          case f => traceExpr(f, node, pred, out, predOut, inner)
        }
      case ag: ArrayAggregate =>
        ag.merge match {
          case LambdaFunction(body, args, _) =>
            args.lift(1).foreach(v =>
              lambdaBind(v.exprId) = (ag.argument, node, ".item"))
            args.headOption.foreach(v =>
              lambdaBind(v.exprId) = (ag.zero, node, ""))
            traceExpr(body, node, pred, out, predOut, path)
          case _ =>
        }
      case v: NamedLambdaVariable =>
        lambdaBind.get(v.exprId).foreach { case (e, n, hop) =>
          traceExpr(e, n, pred, out, predOut, hop + path)
        }
      case o: OuterReference => o.e match {
        case a: Attribute => traceAttr(a, root, pred, out, predOut, path)
        case e => traceExpr(e, root, pred, out, predOut, path)
      }
      case s: SubqueryExpression =>
        s.children.foreach(traceExpr(_, node, pred, out, predOut))
        s match {
          case l: ListQuery =>
            l.plan.output.foreach(traceAttr(_, l.plan, pred, out, predOut))
          case sc: ScalarSubquery =>
            sc.plan.output.headOption
              .foreach(traceAttr(_, sc.plan, pred, out, predOut))
          case _ => // EXISTS: only its internal conjuncts matter
        }
      case other =>
        other.children.foreach(traceExpr(_, node, pred, out, predOut))
    }

    /** GetStructField chain → (base attribute, ".f1.f2" path). */
    private def fieldPath(e: Expression): Option[(Attribute, String)] =
      e match {
        case g: GetStructField =>
          val n = g.name.getOrElse(g.childSchema(g.ordinal).name)
            .toLowerCase
          g.child match {
            case a: Attribute => Some((a, s".$n"))
            case inner => fieldPath(inner).map { case (b, p) =>
              (b, s"$p.$n")
            }
          }
        case _ => None
      }

    def traceAttr(a: Attribute, node: LogicalPlan, pred: Boolean,
        out: Out, predOut: PredDeps, path: String = ""): Unit = node match {
      case sa: SubqueryAlias
          if bases.contains(sa.identifier.name.toLowerCase) &&
            sa.outputSet.contains(a) =>
        val q = bases(sa.identifier.name.toLowerCase)
        out(s"$q.${a.name.toLowerCase}$path") = Some(q)
      case sa: SubqueryAlias =>
        traceAttr(a, sa.child, pred, out, predOut, path)
      case p: Project =>
        p.projectList.find(_.exprId == a.exprId) match {
          case Some(al: Alias) =>
            traceExpr(al.child, p.child, pred, out, predOut, path)
          case Some(att: Attribute) =>
            traceAttr(att, p.child, pred, out, predOut, path)
          case _ => traceAttr(a, p.child, pred, out, predOut, path)
        }
      case ag: Aggregate =>
        ag.aggregateExpressions.find(_.exprId == a.exprId) match {
          case Some(al: Alias) =>
            traceExpr(al.child, ag.child, pred, out, predOut, path)
          case Some(att: Attribute) =>
            traceAttr(att, ag.child, pred, out, predOut, path)
          case _ => traceAttr(a, ag.child, pred, out, predOut, path)
        }
      case w: Window =>
        w.windowExpressions.find(_.exprId == a.exprId) match {
          case Some(al: Alias) =>
            traceExpr(al.child, w.child, pred, out, predOut, path)
          case Some(att: Attribute) =>
            traceAttr(att, w.child, pred, out, predOut, path)
          case _ => traceAttr(a, w.child, pred, out, predOut, path)
        }
      case u: Union =>
        val i = u.output.indexWhere(_.exprId == a.exprId)
        if (i >= 0)
          u.children.foreach(c =>
            traceAttr(c.output(i), c, pred, out, predOut, path))
        else u.children.find(_.outputSet.contains(a))
          .foreach(traceAttr(a, _, pred, out, predOut, path))
      case r: CTERelationRef =>
        val i = r.output.indexWhere(_.exprId == a.exprId)
        cteDefs.get(r.cteId).foreach { d =>
          if (i >= 0 && i < d.child.output.length)
            traceAttr(d.child.output(i), d.child, pred, out, predOut, path)
        }
      case d: CTERelationDef =>
        traceAttr(a, d.child, pred, out, predOut, path)
      case j: Join =>
        j.children.find(_.outputSet.contains(a))
          .foreach(traceAttr(a, _, pred, out, predOut, path))
      case lj: LateralJoin =>
        // the lateral side's plan lives in the LateralSubquery
        // EXPRESSION, not in children — route attrs explicitly
        if (lj.left.outputSet.contains(a))
          traceAttr(a, lj.left, pred, out, predOut, path)
        else traceAttr(a, lj.right.plan, pred, out, predOut, path)
      case g: Generate if g.generatorOutput.exists(_.exprId == a.exprId) =>
        // collection hop: compose Impala's canonical path segment
        // (item for arrays, key/value for maps) with the carried path
        val idx = g.generatorOutput.indexWhere(_.exprId == a.exprId)
        g.generator match {
          case pe: PosExplode =>
            val hop = if (idx == 0) ".pos" else ".item"
            traceExpr(pe.child, g.child, pred, out, predOut, hop + path)
          case ex: Explode => ex.child match {
            case me: MapEntries =>
              // single struct{key,value} output: the .key/.value hop is
              // already in `path` from the field access above
              traceExpr(me.child, g.child, pred, out, predOut, path)
            case c if c.resolved &&
                c.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
              val hop = if (idx == 0) ".key" else ".value"
              traceExpr(c, g.child, pred, out, predOut, hop + path)
            case c =>
              traceExpr(c, g.child, pred, out, predOut, ".item" + path)
          }
          case inl: Inline => inl.child match {
            // the engine's lateral repack: inline(array(named_struct(…)))
            case ca: CreateArray if ca.children.length == 1 &&
                ca.children.head.isInstanceOf[CreateNamedStruct] =>
              val cns = ca.children.head.asInstanceOf[CreateNamedStruct]
              cns.valExprs.lift(idx).foreach(
                traceExpr(_, g.child, pred, out, predOut, path))
            case c => traceExpr(c, g.child, pred, out, predOut)
          }
          case other => traceExpr(other, g.child, pred, out, predOut)
        }
      case _: LeafNode => // unregistered leaf: no base source
      case other =>
        other.children.find(_.outputSet.contains(a)) match {
          case Some(c) => traceAttr(a, c, pred, out, predOut, path)
          case None =>
            other.children.foreach(traceAttr(a, _, pred, out, predOut, path))
        }
    }

    /** The statement's global dependency predicates: conjuncts at every
      * nesting level + agg groupings + LIMIT-bound sort exprs.
      */
    def globalPredSources(): Seq[Col] = {
      val out: Out = mutable.LinkedHashMap.empty
      val predOut: PredDeps = mutable.ArrayBuffer.empty
      def walk(node: LogicalPlan): Unit = node match {
        case sa: SubqueryAlias
            if bases.contains(sa.identifier.name.toLowerCase) => // stop
        case f: Filter =>
          traceExpr(f.condition, f.child, pred = true, out, predOut)
          subplans(f.condition, f.child); walk(f.child)
        case j: Join =>
          j.condition.foreach { c =>
            traceExpr(c, j, pred = true, out, predOut); subplans(c, j)
          }
          j.children.foreach(walk)
        case a: Aggregate =>
          val hasAgg = a.aggregateExpressions.exists(_.exists(
            _.isInstanceOf[AggregateExpression]))
          if (hasAgg) a.groupingExpressions.foreach(
            traceExpr(_, a.child, pred = true, out, predOut))
          a.expressions.foreach(subplans(_, a.child))
          walk(a.child)
        case lj: LateralJoin =>
          // a top-level correlated COLLECTION table ref (FROM t,
          // t.int_array_col a) registers the collection column itself
          // as a dependency predicate; an inline view over the same ref
          // does not (lineage.test pins both). The engine's collection
          // plumbing is exactly Project-over-Generate under the alias.
          def strip(p: LogicalPlan): LogicalPlan = p match {
            case sa: SubqueryAlias => strip(sa.child)
            case o => o
          }
          strip(lj.right.plan) match {
            case Project(_, inner) => strip(inner) match {
              case g: Generate if g.child.isInstanceOf[LeafNode] &&
                  g.generator.exists(_.isInstanceOf[OuterReference]) =>
                val outerAttrs = g.generator.collect {
                  case o: OuterReference => o.e
                }.collect { case a: Attribute => a }
                val hiddenBase = outerAttrs.exists(oa => root.exists {
                  case sa: SubqueryAlias =>
                    sa.identifier.name.startsWith("__t") &&
                      sa.outputSet.contains(oa)
                  case _ => false
                })
                if (!hiddenBase)
                  traceExpr(g.generator, root, pred = true, out, predOut)
              case _ =>
            }
            case _ =>
          }
          lj.condition.foreach { c =>
            traceExpr(c, lj, pred = true, out, predOut)
            subplans(c, lj)
          }
          walk(lj.left); walk(lj.right.plan)
        case gl @ GlobalLimit(_, inner) =>
          val sort = inner match {
            case LocalLimit(_, s: Sort) => Some(s)
            case s: Sort => Some(s)
            case LocalLimit(_, Project(_, s: Sort)) => Some(s)
            case _ => None
          }
          sort.foreach(s => s.order.foreach(o =>
            traceExpr(o.child, s.child, pred = true, out, predOut)))
          walk(inner)
        case other =>
          other.children.foreach(walk)
          val exprNode = other.children.headOption.getOrElse(other)
          other.expressions.foreach(subplans(_, exprNode))
      }
      def subplans(e: Expression, node: LogicalPlan): Unit = e.foreach {
        case s: SubqueryExpression => walk(s.plan)
        case af: ArrayFilter => af.function match {
          // a USER filter pushed into a collection expression (the
          // engine's correlated-aggregate rewrite carries WHERE clauses
          // as filter() lambdas) is a dependency predicate; the
          // engine's own IS NOT NULL null-skip plumbing is not
          case LambdaFunction(body, args, _)
              if !body.isInstanceOf[IsNotNull] =>
            args.headOption.foreach(v =>
              lambdaBind(v.exprId) = (af.argument, node, ".item"))
            traceExpr(body, node, pred = true, out, predOut)
          case _ =>
        }
        case _ =>
      }
      walk(root)
      out.toSeq.map { case (l, t) => (l, t) }
    }

    def projectionSources(a: Attribute): (Seq[Col], Seq[Col]) = {
      val out: Out = mutable.LinkedHashMap.empty
      val predOut: PredDeps = mutable.ArrayBuffer.empty
      traceAttr(a, root, pred = false, out, predOut)
      val proj = out.toSeq.map { case (l, t) => (l, t) }
      val pout: Out = mutable.LinkedHashMap.empty
      val pdeps: PredDeps = mutable.ArrayBuffer.empty
      predOut.foreach { case (e, n) =>
        traceExpr(e, n, pred = true, pout, pdeps)
      }
      (proj, pout.toSeq.map { case (l, t) => (l, t) })
    }
  }

  // ---- result-column labels ------------------------------------------

  /** Impala result-expr labels (`SelectListItem.toColumnLabel`): the
    * alias when given; a plain (possibly qualified) column ref labels
    * as the bare column name; otherwise the expression's `toSql` —
    * rendered here for the shapes the goldens pin (function calls,
    * binary arithmetic, analytic `OVER(...)` elision, lead/lag default
    * back-fill).
    */
  private def itemLabel(e: Expression): String = e match {
    case Alias(_, name) => name
    case ua: UnresolvedAlias => itemLabel(ua.child)
    case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
    case a: Attribute => a.name.toLowerCase
    case other => toImpalaSql(other)
  }

  private def toImpalaSql(e: Expression): String = e match {
    case ua: UnresolvedAttribute => ua.nameParts.mkString(".").toLowerCase
    case a: Attribute => a.name.toLowerCase
    case l: Literal =>
      if (l.value == null) "NULL" else l.value.toString
    case f: UnresolvedFunction =>
      val name = f.nameParts.last.toLowerCase
      val args = f.arguments.map(toImpalaSql)
      // Impala's AnalyticExpr standardizes lead/lag to 3 args
      val full =
        if ((name == "lead" || name == "lag") && args.length == 1)
          args ++ Seq("1", "NULL")
        else if ((name == "lead" || name == "lag") && args.length == 2)
          args :+ "NULL"
        else args
      val d = if (f.isDistinct) "distinct " else ""
      s"$name($d${full.mkString(", ")})"
    case w: WindowExpression =>
      s"${toImpalaSql(w.windowFunction)} OVER(...)"
    case b: BinaryOperator =>
      s"${toImpalaSql(b.left)} ${b.symbol} ${toImpalaSql(b.right)}"
    case c: Cast =>
      s"cast(${toImpalaSql(c.child)} as ${c.dataType.sql.toLowerCase})"
    case u: UnaryMinus => s"-${toImpalaSql(u.child)}"
    case other =>
      other.children.map(toImpalaSql).mkString(
        other.prettyName.toLowerCase + "(", ", ", ")")
  }

  /** Labels of the statement's select list, star-expanded against the
    * analyzed output. Parsed from the ORIGINAL text so labels render
    * what the user wrote (Impala prints `toSql` of the parsed exprs).
    */
  private def selectLabels(spark: SparkSession, sql: String,
      analyzed: LogicalPlan): Seq[String] = {
    val n = analyzed.output.length
    def fromPlan: Seq[String] = analyzed.output.map(_.name.toLowerCase)
    val parsed = scala.util.Try(
      org.apache.spark.sql.graft.Bridge.parsePlan(spark, sql)).toOption
      .getOrElse(return fromPlan)
    // the top-most projection list (under limits/sorts/CTEs)
    def selList(p: LogicalPlan): Option[Seq[Expression]] = p match {
      case Project(list, _) => Some(list)
      case a: Aggregate => Some(a.aggregateExpressions)
      case GlobalLimit(_, c) => selList(c)
      case LocalLimit(_, c) => selList(c)
      case s: Sort => selList(s.child)
      case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving =>
        selList(h.child)
      case f: Filter => selList(f.child)
      case Distinct(c) => selList(c)
      case w: WithCTE => selList(w.plan)
      case u: UnresolvedWith => selList(u.child)
      case _ => None
    }
    selList(parsed) match {
      case Some(items) =>
        val out = mutable.ArrayBuffer.empty[String]
        items.foreach {
          case _: UnresolvedStar | UnresolvedAlias(_: UnresolvedStar, _) =>
            val k = n - (items.length - 1)
            val start = out.length
            analyzed.output.slice(start, start + k)
              .foreach(a => out += a.name.toLowerCase)
          case item => out += itemLabel(item)
        }
        if (out.length == n) out.toSeq else fromPlan
      case None => fromPlan
    }
  }

  // ---- statement-level graphs -----------------------------------------

  private def analyze(spark: SparkSession, sql: String): LogicalPlan =
    graft.ImpalaDialect.sql(spark, sql).queryExecution.analyzed

  /** Lineage of a plain SELECT: targets are the result labels, no
    * table metadata.
    */
  def selectGraph(spark: SparkSession, queryText: String,
      selectSql: String): Graph =
    build(spark, queryText, selectSql, None, None, None)

  /** CTAS / CREATE VIEW / ALTER VIEW: targets carry the created
    * object's name; explicit column names override the select labels;
    * non-identifier labels fall back to `_cN` (view auto-naming).
    */
  def targetedGraph(spark: SparkSession, queryText: String,
      selectSql: String, fqTarget: String,
      explicitCols: Option[Seq[String]],
      tableLocation: Option[String] = None,
      autoName: Boolean = false): Graph =
    build(spark, queryText, selectSql, Some(fqTarget), explicitCols,
      tableLocation, autoName)

  private def build(spark: SparkSession, queryText: String,
      selectSql: String, fqTarget: Option[String],
      explicitCols: Option[Seq[String]],
      tableLocation: Option[String], autoName: Boolean = false): Graph = {
    val analyzed = analyze(spark, selectSql)
    val tracer = new Tracer(analyzed)
    val labels0 = explicitCols.getOrElse(
      selectLabels(spark, selectSql, analyzed))
    val ident = """[a-z_][a-z_0-9]*""".r
    val labels = labels0.zipWithIndex.map { case (l, i) =>
      if (autoName && !ident.matches(l)) s"_c$i" else l
    }
    val b = new Builder
    val targets: Seq[Col] = labels.map(l => (l, fqTarget))
    analyzed.output.zip(targets).foreach { case (attr, tgt) =>
      val (proj, pred) = tracer.projectionSources(attr)
      b.edge(Seq(tgt), proj, "PROJECTION")
      if (pred.nonEmpty) b.edge(Seq(tgt), pred, "PREDICATE")
    }
    val preds = tracer.globalPredSources()
    if (preds.nonEmpty) b.edge(targets, preds, "PREDICATE")
    Graph(queryText, b.vertices, b.edges.toSeq, tableLocation)
  }

  /** INSERT lineage: targets are the destination table's columns —
    * PARTITION columns first, then data columns (Impala's
    * `Table.getColumns()` order). `colList` is the statement's explicit
    * column list (None = all data columns), `partSpec` the PARTITION
    * clause as (name, Some(staticValue) | None-for-dynamic).
    */
  def insertGraph(spark: SparkSession, queryText: String,
      selectSql: String, fqTable: String, partCols: Seq[String],
      dataCols: Seq[String], colList: Option[Seq[String]],
      partSpec: Seq[(String, Option[String])]): Graph = {
    val analyzed = analyze(spark, selectSql)
    val tracer = new Tracer(analyzed)
    val listed = colList.getOrElse(dataCols).map(_.toLowerCase)
    val dynParts = partSpec.collect { case (n, None) => n.toLowerCase }
    // select outputs map positionally: listed data cols, then dynamic
    // partition cols in partition-clause order
    val srcIdx: Map[String, Int] =
      (listed ++ dynParts).zipWithIndex.toMap
    val b = new Builder
    val targetCols: Seq[String] =
      partCols.map(_.toLowerCase) ++ dataCols.map(_.toLowerCase)
    val targets: Seq[Col] = targetCols.map(c => (c, Some(fqTable)))
    targetCols.foreach { c =>
      val tgt: Col = (c, Some(fqTable))
      srcIdx.get(c) match {
        case Some(i) if i < analyzed.output.length =>
          val (proj, pred) = tracer.projectionSources(analyzed.output(i))
          b.edge(Seq(tgt), proj, "PROJECTION")
          if (pred.nonEmpty) b.edge(Seq(tgt), pred, "PREDICATE")
        case _ =>
          b.edge(Seq(tgt), Nil, "PROJECTION")
      }
    }
    val preds = tracer.globalPredSources()
    if (preds.nonEmpty) b.edge(targets, preds, "PREDICATE")
    Graph(queryText, b.vertices, b.edges.toSeq, None)
  }

  /** DDL with no column flow (CREATE TABLE, CREATE EXTERNAL TABLE):
    * empty graph, optional table location.
    */
  def ddlGraph(queryText: String,
      tableLocation: Option[String] = None): Graph =
    Graph(queryText, Nil, Nil, tableLocation)
}
