package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Impala-shaped EXPLAIN text over a Spark physical plan.
  *
  * The reference renders plan trees fragment-by-fragment
  * (`fe/src/main/java/org/apache/impala/planner/PlanFragment.java`
  * getExplainString, `fe/.../planner/PlanNode.java` getExplainString;
  * node detail verbosity per the EXPLAIN_LEVEL query option —
  * `fe/.../common/TreeNode.java` + `testdata/workloads/functional-query/
  * queries/QueryTest/explain-level{0..3}.test` pin the shapes). This
  * renderer maps Spark's executed plan onto those shapes:
  *
  *   - scans → `NN:SCAN HDFS [db.table]`, exchanges →
  *     `NN:EXCHANGE [BROADCAST|UNPARTITIONED|HASH(...)]`, hash joins →
  *     `NN:HASH JOIN [INNER JOIN, BROADCAST|PARTITIONED]`, aggregates →
  *     `NN:AGGREGATE [STREAMING|FINALIZE]`, and so on;
  *   - node ids follow Impala's two-phase numbering: the single-node
  *     plan's operators first (post-order, probe side before build
  *     side — `fe/.../planner/PlanNodeId`), then the exchanges the
  *     distributed planner inserts (`DistributedPlanner.java`);
  *   - a `PLAN-ROOT SINK` plus final `EXCHANGE [UNPARTITIONED]` crown
  *     the output — Spark's collect-to-driver made explicit, exactly
  *     Impala's coordinator fragment;
  *   - runtime filters print per hash join (`RF000 <- build_key` on the
  *     join, `RF000 -> probe_key` on the targeted scan), mirroring
  *     `RuntimeFilterGenerator.java`; Spark's analog (the bloom-filter
  *     rewrite + DPP asserted in PlanSpec) plans the same edges, so the
  *     rendering reflects where filters flow;
  *   - the header carries per-host memory estimates derived from the
  *     plan shape, and the missing-stats warning
  *     (`fe/.../planner/PlanFragment.java` appends it when referenced
  *     tables lack row/column stats). Tables count as "analyzed" when
  *     the session catalog holds stats for them.
  *
  * Levels: 0 = MINIMAL (node lines only), 1 = STANDARD (key details +
  * `|` connectors), 2+ = EXTENDED adds output exprs and per-node
  * estimate lines. The session default comes from the
  * `graft.explain.level` conf (Impala's EXPLAIN_LEVEL, default 1).
  */
object ImpalaExplain {

  // ---- render tree ------------------------------------------------

  private[plans] final class Node(
      val kind: String, // SCAN | EXCHANGE | JOIN | AGG | SORT | ...
      var title: String, // text after "NN:" (or the full line if unnumbered)
      var details: List[String] = Nil,
      var child: Option[Node] = None, // the inline (probe) input
      var builds: List[Node] = Nil // |-- branches (build/union inputs)
  ) {
    var id: Int = -1
    // a Spark Partial-mode aggregate with grouping keys (Impala's
    // streaming preaggregation candidate)
    var aggPartialGrouping: Boolean = false
    // runtime-filter bookkeeping (hash joins and targeted scans)
    var rfProbeKeys: Seq[Expression] = Nil
    var rfBuildKeys: Seq[Expression] = Nil
    var rfTargets: List[String] = Nil
    def allNodes: Seq[Node] =
      this +: (child.toSeq ++ builds).flatMap(_.allNodes)
  }

  /** Entry point: render `body` (a SELECT in the Impala dialect) at the
    * session's explain level. Db-qualified relation names that resolve
    * only as bare temp views are rewritten for execution but keep their
    * original spelling in scan labels and the stats warning — Impala
    * prints fully qualified names.
    */
  def explainSql(spark: SparkSession, body: String,
      sqlRunner: (SparkSession, String) => DataFrame): DataFrame = {
    val level = spark.conf.getOption("graft.explain.level")
      .flatMap(_.toIntOption).getOrElse(1)
    // DISABLE_STREAMING_PREAGGREGATIONS renders phase-1 aggregates
    // without the [STREAMING] tag (Impala's non-streaming preagg)
    val noStreamingAgg = spark.conf
      .getOption("graft.explain.noStreamingAgg").contains("true")
    val (stripped, names) = resolveNames(spark, body)
    partitionKeyScan(spark, body, stripped, sqlRunner).foreach { lines =>
      val rows = new java.util.ArrayList[Row](lines.length)
      lines.foreach(l => rows.add(Row(l)))
      return spark.createDataFrame(rows,
        StructType(Seq(StructField("Explain String", StringType))))
    }
    val statsScan = statsScanNode(spark, body, names, level)
    val scanExtras = parquetStatsPredicates(spark, body, names, level)
    // the rendered plan is the STATIC one, like Impala's (AQE re-plans
    // at runtime; EXPLAIN describes the compile-time plan). It is planned
    // on a copy of the session, so queries running on the caller's
    // session meanwhile keep adaptive execution.
    val static = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
    static.conf.set("spark.sql.adaptive.enabled", "false")
    val lines = render(spark, sqlRunner(static, stripped), names, level,
      noStreamingAgg, statsScan, scanExtras)
    val rows = new java.util.ArrayList[Row](lines.length)
    lines.foreach(l => rows.add(Row(l)))
    spark.createDataFrame(rows,
      StructType(Seq(StructField("Explain String", StringType))))
  }

  /** OPTIMIZE_PARTITION_KEY_SCANS: an aggregate whose inputs are all
    * partition-key columns of a registered table collapses to a UNION
    * of constant tuples — one per partition — under a FINALIZE
    * aggregate (`fe/.../planner/HdfsScanNode` applyPartitionKeyScan /
    * IMPALA-1795). The decision is NOT re-derived here: the plan the
    * dialect will execute (PartitionKeyScans rewrites it inside
    * `ImpalaDialect.sql`) is inspected for the substituted
    * metadata-only relation, so EXPLAIN always renders exactly what
    * runs.
    */
  private def partitionKeyScan(spark: SparkSession, body: String,
      stripped: String,
      sqlRunner: (SparkSession, String) => DataFrame)
      : Option[Seq[String]] = {
    if (!PartitionKeyScans.enabled(spark)) return None
    val df =
      try sqlRunner(spark, stripped)
      catch { case scala.util.control.NonFatal(_) => return None }
    PartitionKeyScans.substituted(df.queryExecution.analyzed).map {
      case (_, n) =>
        val selectList = """(?is)^\s*select\s+(.*?)\s+from\b""".r
          .findFirstMatchIn(body).map(_.group(1).trim).getOrElse("*")
        Seq(
          "01:AGGREGATE [FINALIZE]",
          s"|  output: $selectList",
          "|",
          "00:UNION",
          s"   constant-operands=$n")
    }
  }

  /** Collect relation names in text order; rewrite db-qualified names
    * that only resolve as bare temp views. Returns (rewritten SQL,
    * original names in leaf order).
    */
  private def resolveNames(spark: SparkSession,
      body: String): (String, Seq[String]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val parsed = scala.util.Try(
      spark.sessionState.sqlParser.parsePlan(body)).toOption
    val rels = parsed.toSeq.flatMap { p =>
      val buf = mutable.ArrayBuffer.empty[Seq[String]]
      p.foreachWithSubqueries {
        case UnresolvedRelation(parts, _, _) => buf += parts.toSeq
        case _ =>
      }
      buf
    }
    var text = body
    val names = rels.map { parts =>
      val orig = parts.mkString(".")
      if (parts.length > 1 &&
          !spark.catalog.tableExists(orig) &&
          spark.catalog.tableExists(parts.last)) {
        val re = ("(?i)\\b" + parts.map(java.util.regex.Pattern.quote)
          .mkString("\\s*\\.\\s*") + "\\b").r
        text = re.replaceAllIn(text,
          java.util.regex.Matcher.quoteReplacement(parts.last))
      }
      orig
    }
    (text, names)
  }

  /** Does the session catalog hold stats for `name` (as written,
    * possibly qualified)?
    */
  private def hasStats(spark: SparkSession, name: String): Boolean = {
    val parts = name.split('.')
    val ident =
      if (parts.length > 1) TableIdentifier(parts.last, Some(parts.head))
      else TableIdentifier(name)
    scala.util.Try(spark.sessionState.catalog.getTableMetadata(ident)
      .stats.isDefined).getOrElse(false)
  }

  /** When the statement reads exactly ONE relation that lives in the
    * ImpalaStats registry (a warehouse-model table published as an
    * in-memory view), precompute the Impala scan node for it: the
    * registry supplies partition pruning (`partitions=sel/total`),
    * file counts and byte sizes — what Impala's HdfsScanNode prints
    * from HMS partition metadata. The WHERE clause's partition-column
    * conjuncts drive the pruning, exactly HdfsPartitionPruner.
    */
  private def statsScanNode(spark: SparkSession, body: String,
      names: Seq[String], level: Int = 1): Option[Node] = {
    if (names.map(_.toLowerCase).distinct.length != 1) return None
    val full = names.head
    val bare = full.split('.').last
    graft.ImpalaStats.lookup(bare).map { m =>
      val parts = m.partitions()
      val partNames = m.partCols().fields.map(_.name.toLowerCase).toSet
      val whereTxt = """(?is)\bwhere\b(.*?)(?:\bgroup\s+by\b|\border\s+by\b|\blimit\b|$)""".r
        .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
      val conjuncts = splitTopAnd(whereTxt).filter { c =>
        val ids = identifiers(c)
        ids.nonEmpty && ids.forall(partNames)
      }
      val sel =
        if (conjuncts.isEmpty || partNames.isEmpty) parts
        else {
          val keys = graft.ImpalaStats.matchPartitions(spark, bare,
            conjuncts.mkString(" AND ")).getOrElse(parts.map(_.values))
          parts.filter(p => keys.contains(p.values))
        }
      val files = sel.map(_.fileBytes.length).sum
      val bytes = sel.map(_.fileBytes.sum).sum
      val n = new Node("SCAN", s"SCAN HDFS [$full]")
      // the filesystem prefix prints only when partitions were
      // selected (HdfsScanNode: `partitions=0/1 files=0 size=0B`)
      val fsPrefix = if (sel.nonEmpty) "HDFS " else ""
      n.details = List(fsPrefix +
        f"partitions=${sel.size}%d/${parts.size}%d files=$files%d size=${fmtBytes(bytes)}%s")
      n
    }
  }

  /** EXTENDED-level `parquet statistics predicates:` detail: the
    * min/max-prunable comparison conjuncts a Parquet scan's row-group
    * statistics filter by (`HdfsScanNode` computeStatsTupleAndConjuncts
    * — parquet-stats.test pins the `CAST(lit AS <col type>)` literal
    * spelling). Column types resolve from the scanned table's schema;
    * partition-key conjuncts (known via the stats registry) never
    * become statistics predicates.
    */
  private def parquetStatsPredicates(spark: SparkSession, body: String,
      names: Seq[String], level: Int): Seq[String] = {
    if (level < 2 || names.map(_.toLowerCase).distinct.length != 1)
      return Nil
    val full = names.head
    if (!full.toLowerCase.contains("parquet") &&
        !graft.ImpalaStats.lookup(full.split('.').last)
          .exists(_.partitions().exists(
            _.format.equalsIgnoreCase("parquet")))) return Nil
    val bare = full.split('.').last
    val schema = scala.util.Try(spark.table(bare).schema)
      .getOrElse(return Nil)
    val colTypes = schema.fields
      .map(f0 => f0.name.toLowerCase -> f0.dataType).toMap
    val partNames = graft.ImpalaStats.lookup(bare)
      .map(_.partCols().fields.map(_.name.toLowerCase).toSet)
      .getOrElse(Set("year", "month")) // the alltypes family layout
    val whereTxt = """(?is)\bwhere\b(.*?)(?:\bgroup\s+by\b|\border\s+by\b|\blimit\b|$)""".r
      .findFirstMatchIn(body).map(_.group(1)).getOrElse(return Nil)
    val statRe =
      """(?s)^\s*(\w+)\s*(<=|>=|=|<|>)\s*(-?\d+(?:\.\d+)?)\s*$""".r
    val preds = splitTopAnd(whereTxt).flatMap {
      case statRe(col0, op, lit) =>
        colTypes.get(col0.toLowerCase).filterNot(_ =>
          partNames(col0.toLowerCase)).map { dt =>
          s"$col0 $op CAST($lit AS " +
            s"${graft.functions.DsResolve.typeName(dt)})"
        }
      case _ => None
    }
    if (preds.isEmpty) Nil
    else Seq("parquet statistics predicates: " + preds.mkString(", "))
  }

  private def splitTopAnd(txt: String): Seq[String] =
    graft.SqlText.split(txt, "AND").map(_.trim).filter(_.nonEmpty)

  private val sqlWords = Set("and", "or", "not", "in", "is", "null",
    "true", "false", "like", "rlike", "regexp", "between", "cast", "as",
    "int", "bigint", "smallint", "tinyint", "float", "double", "decimal",
    "string", "char", "varchar", "date", "timestamp", "boolean")

  private def identifiers(c: String): Seq[String] = {
    """[A-Za-z_]\w*""".r.findAllIn(graft.SqlText.mask(c)).map(_.toLowerCase)
      .filterNot(sqlWords).toSeq
  }

  /** Replace the plan's input subtree (unions of the published view's
    * per-partition local relations) with the synthesized Impala scan.
    * Only pure-input subtrees substitute — anything containing a join,
    * aggregate, sort or exchange stays.
    */
  private def substituteScan(n: Node, scan: Node): Node = {
    def pureInput(k: Node): Boolean = k.allNodes.forall(x =>
      x.kind == "UNION" || x.kind == "OTHER" || x.kind == "SCAN")
    if (pureInput(n)) scan
    else {
      n.child = n.child.map(substituteScan(_, scan))
      n.builds = n.builds.map(substituteScan(_, scan))
      n
    }
  }

  /** Render a DataFrame's executed plan. `names` are the original
    * relation spellings in text order, consumed by scans left to right.
    */
  private[plans] def render(spark: SparkSession, df: DataFrame,
      names: Seq[String], level: Int, noStreamingAgg: Boolean,
      statsScan: Option[Node] = None,
      scanExtras: Seq[String] = Nil): Seq[String] = {
    val plan = df.queryExecution.executedPlan
    // assign original names to physical scan leaves in order
    val scanNames = new java.util.IdentityHashMap[SparkPlan, String]()
    val leaves = plan.collect {
      case s @ (_: FileSourceScanExec | _: RowDataSourceScanExec |
          _: LocalTableScanExec | _: RDDScanExec |
          _: ExternalRDDScanExec[_]) => s
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    leaves.zipWithIndex.foreach { case (s, i) =>
      scanNames.put(s, names.lift(i).getOrElse(scanLabel(s)))
    }
    val treeNoRoot = statsScan match {
      case Some(scan) => substituteScan(build(plan, scanNames), scan)
      case None => build(plan, scanNames)
    }
    // coordinator crown: PLAN-ROOT SINK over a final UNPARTITIONED
    // exchange (added when the plan below is distributed — has a scan
    // or exchange — and isn't already gathered by one)
    val distributed = treeNoRoot.allNodes.exists(n =>
      n.kind == "SCAN" || n.kind == "EXCHANGE")
    val gathered = treeNoRoot.kind == "EXCHANGE" &&
      treeNoRoot.title.contains("[UNPARTITIONED]")
    val tree =
      if (distributed && !gathered)
        new Node("EXCHANGE", "EXCHANGE [UNPARTITIONED]",
          child = Some(treeNoRoot))
      else treeNoRoot
    if (scanExtras.nonEmpty)
      tree.allNodes.find(_.kind == "SCAN")
        .foreach(n => n.details = n.details ++ scanExtras)
    tagAggs(tree, noStreamingAgg)
    number(tree)
    planRuntimeFilters(tree)
    val sink = new Node("SINK", "PLAN-ROOT SINK", child = Some(tree))
    if (level >= 2)
      sink.details = List("output exprs: " + df.columns.mkString(", "))

    val out = mutable.ArrayBuffer.empty[String]
    // ---- header ----
    val scans = tree.allNodes.count(_.kind == "SCAN")
    val heavy = tree.allNodes.count(n =>
      n.kind == "JOIN" || n.kind == "AGG" || n.kind == "SORT")
    val reservationMb = 1.0 + 2.0 * heavy
    val estimateMb = 16.0 + 34.0 * heavy + 40.0 * scans
    out += f"Max Per-Host Resource Reservation: Memory=$reservationMb%.2fMB Threads=${scans + 2}%d"
    out += f"Per-Host Resource Estimates: Memory=$estimateMb%.2fMB"
    // collection refs parse as relations too (`from complex_collection
    // c, c.list` — c.list); the WARNING lists real TABLES lacking
    // stats, so keep only names that resolve in the catalog
    val missing = names.filterNot(hasStats(spark, _)).distinct
      .filter(n => scala.util.Try(spark.catalog.tableExists(n))
        .getOrElse(false) ||
        scala.util.Try(spark.catalog.tableExists(n.split('.').last))
          .getOrElse(false))
    if (missing.nonEmpty) {
      out += "WARNING: The following tables are missing relevant table " +
        "and/or column statistics."
      out += missing.mkString(", ")
    }
    out += ""
    emit(sink, "", isLast = true, level, out)
    out.toSeq
  }

  // ---- tree construction ------------------------------------------

  private def joinTypeText(jt: org.apache.spark.sql.catalyst.plans.JoinType)
      : String = {
    import org.apache.spark.sql.catalyst.plans._
    jt match {
      case Inner => "INNER JOIN"
      case Cross => "CROSS JOIN"
      case LeftOuter => "LEFT OUTER JOIN"
      case RightOuter => "RIGHT OUTER JOIN"
      case FullOuter => "FULL OUTER JOIN"
      case LeftSemi => "LEFT SEMI JOIN"
      case LeftAnti => "LEFT ANTI JOIN"
      case _: ExistenceJoin => "LEFT SEMI JOIN"
      case other => other.toString.toUpperCase + " JOIN"
    }
  }

  private def exprText(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case other => other.sql
  }

  private def scanLabel(s: SparkPlan): String = s match {
    case f: FileSourceScanExec =>
      f.tableIdentifier.map(_.unquotedString).getOrElse(
        f.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("scan"))
    case _ => "scan"
  }

  private def shuffleSpec(p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
      : String = {
    import org.apache.spark.sql.catalyst.plans.physical._
    p match {
      case SinglePartition => "UNPARTITIONED"
      case h: HashPartitioning =>
        s"HASH(${h.expressions.map(exprText).mkString(",")})"
      case r: RangePartitioning => "UNPARTITIONED" // merging exchange
      case _: RoundRobinPartitioning => "RANDOM"
      case _ => "UNPARTITIONED"
    }
  }

  /** Map a SparkPlan subtree to the render tree; transparent wrappers
    * (codegen, projections, filters, limits) collapse into their child.
    */
  private def build(p: SparkPlan,
      scanNames: java.util.IdentityHashMap[SparkPlan, String]): Node = p match {
    case w: WholeStageCodegenExec => build(w.child, scanNames)
    case i: InputAdapter => build(i.child, scanNames)
    case c: ColumnarToRowExec => build(c.child, scanNames)
    case p: ProjectExec => build(p.child, scanNames)
    case f: FilterExec => build(f.child, scanNames)
    case l: LocalLimitExec => build(l.child, scanNames)
    case l: GlobalLimitExec =>
      val n = build(l.child, scanNames)
      n.details = n.details :+ s"limit: ${l.limit}"
      n
    case c: CollectLimitExec =>
      val n = build(c.child, scanNames)
      n.details = n.details :+ s"limit: ${c.limit}"
      n
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      build(a.executedPlan, scanNames)
    case e: ShuffleExchangeExec =>
      new Node("EXCHANGE", s"EXCHANGE [${shuffleSpec(e.outputPartitioning)}]",
        child = Some(build(e.child, scanNames)))
    case e: BroadcastExchangeExec =>
      new Node("EXCHANGE", "EXCHANGE [BROADCAST]",
        child = Some(build(e.child, scanNames)))
    case e: ReusedExchangeExec =>
      new Node("EXCHANGE", "EXCHANGE [BROADCAST]",
        Nil) // a re-read of an already-built side; leaf here
    case j: BroadcastHashJoinExec =>
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val (probe, buildSide) = j.buildSide match {
        case BuildRight => (j.left, j.right)
        case BuildLeft => (j.right, j.left)
      }
      val (pk, bk) = j.buildSide match {
        case BuildRight => (j.leftKeys, j.rightKeys)
        case BuildLeft => (j.rightKeys, j.leftKeys)
      }
      val jt = if (j.isNullAwareAntiJoin) "NULL AWARE LEFT ANTI JOIN"
        else joinTypeText(j.joinType)
      hashJoin(jt, "BROADCAST", probe, buildSide, pk, bk, scanNames)
    case j: ShuffledHashJoinExec =>
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val (probe, buildSide) = j.buildSide match {
        case BuildRight => (j.left, j.right)
        case BuildLeft => (j.right, j.left)
      }
      val (pk, bk) = j.buildSide match {
        case BuildRight => (j.leftKeys, j.rightKeys)
        case BuildLeft => (j.rightKeys, j.leftKeys)
      }
      hashJoin(joinTypeText(j.joinType), "PARTITIONED", probe, buildSide,
        pk, bk, scanNames)
    case j: SortMergeJoinExec =>
      hashJoin(joinTypeText(j.joinType), "PARTITIONED", j.left, j.right,
        j.leftKeys, j.rightKeys, scanNames)
    case j: BroadcastNestedLoopJoinExec =>
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val (probe, buildSide) = j.buildSide match {
        case BuildRight => (j.left, j.right)
        case BuildLeft => (j.right, j.left)
      }
      new Node("JOIN",
        s"NESTED LOOP JOIN [${joinTypeText(j.joinType)}, BROADCAST]",
        child = Some(build(probe, scanNames)),
        builds = List(build(buildSide, scanNames)))
    case j: CartesianProductExec =>
      new Node("JOIN", "NESTED LOOP JOIN [CROSS JOIN, PARTITIONED]",
        child = Some(build(j.left, scanNames)),
        builds = List(build(j.right, scanNames)))
    case a: BaseAggregateExec =>
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
      val modes = a.aggregateExpressions.map(_.mode).distinct
      // the FINALIZE/STREAMING/plain tag is finalized tree-wide by
      // tagAggs (it depends on the node's position in the agg chain)
      val n = new Node("AGG", "AGGREGATE",
        child = Some(build(a.child, scanNames)))
      // grouping aggs are streaming-preagg candidates; a keys-only
      // dedup phase (count distinct) carries no aggregate modes, so
      // the merge-vs-phase1 split happens in tagAggs via tree position
      n.aggPartialGrouping = a.groupingExpressions.nonEmpty
      if (a.groupingExpressions.nonEmpty)
        n.details = List(
          s"group by: ${a.groupingExpressions.map(exprText).mkString(", ")}")
      n
    case t: TakeOrderedAndProjectExec =>
      val n = new Node("SORT", s"TOP-N [LIMIT=${t.limit}]",
        child = Some(build(t.child, scanNames)))
      n.details = List("order by: " + t.sortOrder.map(o =>
        exprText(o.child) + (if (o.direction.sql == "DESC") " DESC" else " ASC"))
        .mkString(", "))
      n
    case s: SortExec =>
      val n = new Node("SORT", "SORT",
        child = Some(build(s.child, scanNames)))
      n.details = List("order by: " + s.sortOrder.map(o =>
        exprText(o.child) + (if (o.direction.sql == "DESC") " DESC" else " ASC"))
        .mkString(", "))
      n
    case w: org.apache.spark.sql.execution.window.WindowExec =>
      new Node("ANALYTIC", "ANALYTIC",
        child = Some(build(w.child, scanNames)))
    case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
      build(w.child, scanNames)
    case u: UnionExec =>
      val kids = u.children.map(build(_, scanNames)).toList
      new Node("UNION", "UNION", child = kids.headOption,
        builds = kids.drop(1))
    case g: GenerateExec =>
      new Node("SUBPLAN", "UNNEST",
        child = Some(build(g.child, scanNames)))
    case e: ExpandExec => build(e.child, scanNames)
    case s if scanNames.containsKey(s) =>
      val n = new Node("SCAN", s"SCAN HDFS [${scanNames.get(s)}]")
      n.details = scanDetails(s)
      n
    case s: LocalTableScanExec => new Node("UNION", "UNION")
    case other =>
      other.children match {
        case Seq(only) => build(only, scanNames)
        case Seq() => new Node("SCAN", s"SCAN HDFS [${scanLabel(other)}]")
        case many =>
          val kids = many.map(build(_, scanNames)).toList
          new Node("OTHER", other.nodeName.toUpperCase,
            child = kids.headOption, builds = kids.drop(1))
      }
  }

  private def hashJoin(jt: String, dist: String, probe: SparkPlan,
      buildSide: SparkPlan, probeKeys: Seq[Expression],
      buildKeys: Seq[Expression],
      scanNames: java.util.IdentityHashMap[SparkPlan, String]): Node = {
    val n = new Node("JOIN", s"HASH JOIN [$jt, $dist]",
      child = Some(build(probe, scanNames)),
      builds = List(build(buildSide, scanNames)))
    if (probeKeys.nonEmpty)
      n.details = List("hash predicates: " +
        probeKeys.zip(buildKeys).map { case (p, b) =>
          s"${exprText(p)} = ${exprText(b)}"
        }.mkString(", "))
    n.rfProbeKeys = probeKeys
    n.rfBuildKeys = buildKeys
    n
  }

  private def scanDetails(s: SparkPlan): List[String] = s match {
    case f: FileSourceScanExec =>
      val loc = f.relation.location
      val files = scala.util.Try(loc.inputFiles.length).getOrElse(0)
      val bytes = scala.util.Try(loc.sizeInBytes).getOrElse(0L)
      val parts = math.max(1,
        scala.util.Try(loc.partitionSchema.length).getOrElse(0) match {
          case 0 => 1
          case _ => 1 // selected/total partition counts need a listing; 1/1 matches unpartitioned reads
        })
      List(f"partitions=$parts%d/$parts%d files=$files%d size=${fmtBytes(bytes)}%s")
    case _ => Nil
  }

  private def fmtBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b.toDouble / (1L << 30)}%.2fGB"
    else if (b >= (1L << 20)) f"${b.toDouble / (1L << 20)}%.2fMB"
    else if (b >= (1L << 10)) f"${b.toDouble / (1L << 10)}%.2fKB"
    else s"${b}B"

  // ---- numbering + runtime filters ---------------------------------

  /** Impala's two-phase ids: single-node operators first (post-order,
    * probe before build), then exchanges in the same traversal order.
    */
  /** Impala's AGGREGATE tags (PlanFragment.getExplainString):
    * FINALIZE on the agg completing its chain (no aggregate above it
    * through exchanges), [STREAMING] on a grouping preaggregation
    * below a merge (unless DISABLE_STREAMING_PREAGGREGATIONS), plain
    * AGGREGATE on intermediate merges and non-grouping phase-1 aggs.
    */
  private def tagAggs(root: Node, noStreamingAgg: Boolean): Unit = {
    def walk(n: Node, aggAbove: Boolean): Unit = {
      if (n.kind == "AGG") {
        val merge = n.child.exists(_.kind == "EXCHANGE")
        n.title =
          if (!aggAbove) "AGGREGATE [FINALIZE]"
          else if (n.aggPartialGrouping && !merge && !noStreamingAgg)
            "AGGREGATE [STREAMING]"
          else "AGGREGATE"
      }
      val below = aggAbove || n.kind == "AGG"
      n.child.foreach(walk(_, below))
      n.builds.foreach(walk(_, below))
    }
    walk(root, aggAbove = false)
  }

  /** Impala's creation-order node ids: the single-node plan's nodes
    * first (scans, joins, phase aggs — bottom-up), then the
    * DistributedPlanner's additions — each exchange and, directly
    * after it, the merge aggregate it feeds
    * (`fe/.../planner/DistributedPlanner.java`).
    */
  private def number(root: Node): Unit = {
    var next = 0
    def mergeAgg(n: Node): Boolean =
      n.kind == "AGG" && n.child.exists(_.kind == "EXCHANGE")
    def distributedPhase(n: Node): Boolean =
      n.kind == "EXCHANGE" || mergeAgg(n)
    def walk(n: Node, distributed: Boolean): Unit = {
      n.child.foreach(walk(_, distributed))
      n.builds.foreach(walk(_, distributed))
      if (distributedPhase(n) == distributed && n.kind != "SINK") {
        n.id = next; next += 1
      }
    }
    walk(root, distributed = false)
    walk(root, distributed = true)
  }

  /** One runtime filter per hash join with equi-keys, numbered in node
    * order; the filter targets the first scan in the probe subtree.
    * Mirrors RuntimeFilterGenerator.java's bloom-filter assignment (the
    * Spark-side analogs are the bloom rewrite + DPP).
    */
  private def planRuntimeFilters(root: Node): Unit = {
    val joins = root.allNodes.filter(n =>
      n.kind == "JOIN" && n.rfProbeKeys.nonEmpty).sortBy(_.id)
    joins.zipWithIndex.foreach { case (j, i) =>
      val rf = f"RF$i%03d"
      j.details = j.details :+
        s"runtime filters: $rf <- ${exprText(j.rfBuildKeys.head)}"
      // first scan down the probe spine
      def firstScan(n: Node): Option[Node] =
        if (n.kind == "SCAN") Some(n)
        else n.child.flatMap(firstScan).orElse(
          n.builds.view.flatMap(firstScan(_)).headOption)
      j.child.flatMap(firstScan).foreach { s =>
        s.rfTargets = s.rfTargets :+
          s"runtime filters: $rf -> ${exprText(j.rfProbeKeys.head)}"
      }
    }
  }

  // ---- emission -----------------------------------------------------

  private def emit(n: Node, prefix: String, isLast: Boolean, level: Int,
      out: mutable.ArrayBuffer[String]): Unit = {
    val title = if (n.id >= 0) f"${n.id}%02d:${n.title}" else n.title
    out += prefix + title
    val hasBelow = n.child.nonEmpty || n.builds.nonEmpty || !isLast
    val dp = prefix + (if (hasBelow) "|  " else "   ")
    if (level >= 1) {
      val details = n.details ++ n.rfTargets ++
        (if (n.kind == "JOIN" || n.kind == "SCAN")
          List("row-size=0B cardinality=unavailable") else Nil)
      details.foreach(d => out += dp + d)
    }
    n.builds.foreach { b =>
      if (level >= 1) out += prefix + "|"
      val bodyPrefix = prefix + "|  "
      out += prefix + "|--" + (if (b.id >= 0) f"${b.id}%02d:${b.title}"
        else b.title)
      emitBody(b, bodyPrefix, level, out)
    }
    n.child.foreach { c =>
      if (level >= 1) out += prefix + "|"
      emit(c, prefix, isLast = true, level, out)
    }
  }

  /** Details + children of a node whose title line was already printed
    * by the parent (the `|--` form).
    */
  private def emitBody(n: Node, prefix: String, level: Int,
      out: mutable.ArrayBuffer[String]): Unit = {
    val hasBelow = n.child.nonEmpty || n.builds.nonEmpty
    val dp = prefix + (if (hasBelow) "|  " else "   ")
    if (level >= 1) {
      val details = n.details ++ n.rfTargets ++
        (if (n.kind == "JOIN" || n.kind == "SCAN")
          List("row-size=0B cardinality=unavailable") else Nil)
      details.foreach(d => out += dp + d)
    }
    n.builds.foreach { b =>
      if (level >= 1) out += prefix + "|"
      out += prefix + "|--" + (if (b.id >= 0) f"${b.id}%02d:${b.title}"
        else b.title)
      emitBody(b, prefix + "|  ", level, out)
    }
    n.child.foreach { c =>
      if (level >= 1) out += prefix + "|"
      emit(c, prefix, isLast = true, level, out)
    }
  }
}
