package graft

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Impala nested-collection table refs → Spark LATERAL VIEW chains.
  *
  * Impala's FROM clause admits paths into collection-typed columns as
  * table refs (`fe/src/main/java/org/apache/impala/analysis/
  * CollectionTableRef.java`, grammar `sql-parser.cup` table_ref):
  *
  *   - `FROM complextypestbl.int_array`           (absolute ref)
  *   - `FROM complextypestbl t, t.int_array a`    (relative, correlated)
  *   - `FROM t.nested_struct.c.d d, d.item i`     (chained, via structs)
  *   - `FROM t.nested_struct.g, g.value.h.i`      (maps; implicit alias
  *     = last path segment)
  *
  * An array ref exposes columns `item`/`pos`, a map ref `key`/`value`,
  * and an array-of-struct ref additionally exposes the struct's fields
  * directly (`Path.java` resolution; `nested-types-scanner-*.test`
  * reference `i.e`, `i.item.e`, and bare `e` interchangeably). The
  * comma-join form is INNER: rows with NULL/empty collections drop out.
  *
  * Spark translation (this object, applied before the text-level
  * dialect rewrites in [[ImpalaDialect.sql]]):
  *
  *   - intermediate collection steps (a path that continues past an
  *     array/map, e.g. `t.int_array_array.item`) become hidden
  *     `LATERAL VIEW explode(...)` views;
  *   - a final array step becomes `LATERAL VIEW posexplode(E) A AS
  *     pos, item`; when the element is a struct, a second
  *     `LATERAL VIEW inline(array(named_struct('pos', …, 'item', …,
  *     field…)))` under the user's alias exposes pos/item AND the
  *     element fields as columns of A — so `A.pos`, `A.e`, `A.item.e`
  *     and bare `e` all resolve exactly as in Impala;
  *   - a final map step becomes `LATERAL VIEW explode(E) A AS key,
  *     value`.
  *
  * `explode`/`posexplode`/`inline` skip NULL/empty input collections,
  * matching the INNER join semantics. All Generates stay inside
  * whole-stage codegen; at scale this is Spark's native unnest shape
  * (one Generate per collection level, no shuffle).
  *
  * Scope: comma-separated refs in any FROM clause (top level and
  * subqueries). Collection paths appearing as explicit JOIN operands
  * (`t JOIN t.int_array ON …`) are left untouched.
  */
object NestedRefs {
  import SqlText.{depthMap, isWordChar}

  private case class Scope(
      aliases: scala.collection.mutable.Map[String, DataType]) {
    /** true iff every FROM item of the clause registered ALL of its
      * output aliases here — star expansion is only sound then (a
      * FROM-subquery or unresolvable table contributes columns the
      * scope can't see, so expanding `*` from `aliases` alone would
      * silently drop them). */
    var complete: Boolean = true
    def lookup(name: String): Option[DataType] =
      aliases.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }
  }

  private val fromRe = """(?i)\bFROM\b""".r
  private val setOpRe = """(?i)\b(union|intersect|except|minus)\b""".r

  /** Depth-0 unquoted JOIN keyword present? Used to reject a
    * collJoinRe match whose greedy trailing ON group swallowed a
    * FOLLOWING join item (`c left join c.c_orders o on (…) join s on
    * (…)`) — rewriting would emit an invalid filter lambda, so such
    * chains fall back to the generic path instead. */
  private def hasTopLevelJoin(s: String): Boolean = {
    val (d, q) = depthMap(s)
    """(?i)\bjoin\b""".r.findAllMatchIn(s)
      .exists(m => !q(m.start) && d(m.start) == 0)
  }
  private val clauseEnders = Seq("WHERE", "GROUP", "HAVING", "ORDER",
    "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT", "MINUS", "WINDOW",
    "QUALIFY")
  private val pathItemRe =
    """(?is)^\s*([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s*$""".r
  private val plainItemRe =
    """(?is)^\s*([A-Za-z_]\w*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s*$""".r
  private val wrappedFlatItemRe =
    """(?is)^\s*\(\s*SELECT\s+\*\s*,\s*(.+?)\s+FROM\s+([A-Za-z_]\w*)\s*\)\s*([A-Za-z_]\w*)\s*$""".r
  private val aliasGuard = Set("on", "using", "join", "inner", "left",
    "right", "full", "cross", "where", "group", "order", "limit",
    "union", "intersect", "except", "tablesample")

  /** Mutable marker threaded through a correlated-subquery rewrite:
    * set when a collection path resolved through the OUTER scope (the
    * enclosing FROM's aliases) — the caller must then mark the
    * subquery LATERAL. */
  /** Correlation marker threaded through a rewrite: `value` notes that
    * an enclosing scope's alias was consumed (the caller marks its item
    * LATERAL). `flattens` carries struct-prefix flatten REQUESTS from a
    * correlated body upward: (outer alias, struct path segs, generated
    * column) — Spark's decorrelator rejects struct-typed correlated
    * attributes, so `t.nested_struct.c.d.item` inside a subplan needs
    * the outer item wrapped as
    * `(SELECT *, nested_struct.c.d AS __cp_… FROM tbl) t` first; the
    * generated name is a pure function of the path, so repeated
    * requests are idempotent.
    */
  private final class UsedOuter {
    var value = false
    // (outer alias, projection SQL, generated column name)
    val flattens =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
  }

  /** Generated column name for a struct-prefix flatten. Each segment is
    * length-prefixed so distinct paths never collide (`a_b.c` vs
    * `a.b_c` would both yield `__cp_a_b_c` under plain '_' joining,
    * silently binding the second path's rewrite to the first's). */
  private def flattenGenName(path: Seq[String]): String =
    "__cp_" + path.map(s => s"${s.length}${s.toLowerCase}").mkString("_")

  /** Smallest prefix of `path` that walks STRUCT fields only and lands
    * on a collection: Some(prefix length, collection type). Length 1
    * means the first segment already is the collection (no flatten
    * needed); None when a non-struct step intervenes first.
    */
  private def structPrefix(base: DataType,
      path: Seq[String]): Option[(Int, DataType)] = {
    var cur: DataType = base
    var i = 0
    while (i < path.length) {
      cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(path(i))) match {
            case Some(f) => f.dataType match {
              case c @ (_: ArrayType | _: MapType) => return Some((i + 1, c))
              case other => cur = other
            }
            case None => return None
          }
        case _ => return None
      }
      i += 1
    }
    None
  }

  /** Compose a dotted multi-collection path into ONE array expression
    * (`map_entries` / `transform` / `flatten`): the result enumerates
    * the FINAL collection's elements across every intermediate level —
    * the single-correlated-array shape Spark's decorrelator accepts.
    * None when the path has no steps past its first collection (the
    * positioned machinery owns those) or doesn't end on a collection.
    * NULL intermediate collections are filtered out first (flatten
    * would otherwise poison the whole row; Impala's INNER unnest skips
    * them).
    */
  private def composeArrayExpr(base: DataType,
      segs: Seq[String]): Option[(String, DataType)] = {
    val (j, collType) = structPrefix(base, segs).getOrElse(return None)
    // a path ENDING on its first collection composes only when that
    // collection is a MAP (the correlated-map shape — arrays stay with
    // the positioned machinery)
    if (j >= segs.length && !collType.isInstanceOf[MapType]) return None
    var (e, elem): (String, DataType) = collType match {
      case ArrayType(t, _) => (segs.take(j).mkString("."), t)
      case MapType(k, v, _) =>
        (s"map_entries(${segs.take(j).mkString(".")})",
          StructType(Seq(StructField("key", k), StructField("value", v))))
      case _ => return None
    }
    var lastWasCollection = true // the first collection itself
    var n = 0
    segs.drop(j).foreach { seg =>
      n += 1
      val x = s"__fx$n"
      elem match {
        case st: StructType =>
          val f = st.fields.find(_.name.equalsIgnoreCase(seg))
            .getOrElse(return None)
          f.dataType match {
            case ArrayType(t2, _) =>
              e = s"flatten(transform(filter($e, $x -> $x.${f.name} " +
                s"IS NOT NULL), $x -> $x.${f.name}))"
              elem = t2; lastWasCollection = true
            case MapType(k2, v2, _) =>
              e = s"flatten(transform(filter($e, $x -> $x.${f.name} " +
                s"IS NOT NULL), $x -> map_entries($x.${f.name})))"
              elem = StructType(Seq(
                StructField("key", k2), StructField("value", v2)))
              lastWasCollection = true
            case other =>
              e = s"transform($e, $x -> $x.${f.name})"
              elem = other; lastWasCollection = false
          }
        case _ => return None
      }
    }
    if (!lastWasCollection) None else Some((e, elem))
  }

  def rewrite(spark: SparkSession, sql: String): String =
    rewriteInternal(spark, collapseDotWhitespace(sql), Nil, new UsedOuter)

  /** Impala's lexer joins dotted paths across whitespace/newlines
    * (max-nesting-depth.test wraps 100-level paths around the dots);
    * collapse `ident .\n ident` to `ident.ident` outside quotes so the
    * path regexes (and Spark's FROM-clause parser) see one token. The
    * right-hand side must start a letter/underscore — `1 .5` stays a
    * numeric literal.
    */
  private def collapseDotWhitespace(s: String): String = {
    if (!s.contains('.')) return s
    val (_, q) = depthMap(s)
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!q(i) && c.isWhitespace && sb.nonEmpty && isWordChar(sb.last)) {
        var j = i
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        // only join when what follows the dot starts an identifier —
        // `1 .5` must stay two tokens (a numeric literal split)
        var k = if (j < s.length && s.charAt(j) == '.') j + 1 else -1
        while (k >= 0 && k < s.length && s.charAt(k).isWhitespace) k += 1
        if (j < s.length && s.charAt(j) == '.' && !q(j) &&
            k < s.length && k >= 0 &&
            (s.charAt(k).isLetter || s.charAt(k) == '_')) i = j // drop ws
        else { sb.append(c); i += 1 }
      } else if (!q(i) && c == '.' && sb.nonEmpty && isWordChar(sb.last)) {
        var j = i + 1
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        if (j > i + 1 && j < s.length &&
            (s.charAt(j).isLetter || s.charAt(j) == '_')) {
          sb.append('.'); i = j
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def rewriteInternal(spark: SparkSession, sql: String,
      outer: Seq[(String, DataType)], used: UsedOuter): String = {
    val lower = sql.toLowerCase
    // "*" rides along for the complex-star expansion (a lone `select *`
    // over a complex-typed table has no dot anywhere)
    if (!lower.contains("from") || !(sql.contains(".") || sql.contains("*")))
      return sql
    val recursed = recurseParens(spark, sql, outer, used)
    rewriteScope(spark, recursed, outer, used)
  }

  /** Recursively rewrite parenthesized subquery bodies innermost-last
    * (each recursion re-enters rewrite → its own paren pass). The
    * enclosing scopes' aliases ride along so a correlated WITH body
    * (IMPALA-2414) can resolve `c.c_orders` against the outer FROM.
    */
  private def recurseParens(spark: SparkSession, s: String,
      outer: Seq[(String, DataType)], used: UsedOuter): String = {
    val lexed = SqlText.lex(s)
    val sb = new java.lang.StringBuilder
    var i = 0
    var last = 0
    while (i < s.length) {
      if (i >= last) {
        val close = lexed.close(i)
        if (close > i) {
          val inner = s.substring(i + 1, close)
          val t = inner.trim.toLowerCase
          if (t.startsWith("select") || t.startsWith("with")) {
            sb.append(s, last, i + 1)
            sb.append(rewriteInternal(spark, inner, outer, used))
            sb.append(')')
            last = close + 1
            i = close
          }
        }
      }
      i += 1
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  /** Rewrite every depth-0 FROM clause of one scope (subqueries were
    * already handled by the paren recursion, and their text is opaque
    * here because clause scanning sticks to depth 0). After each FROM
    * clause, the text up to the next depth-0 FROM (i.e. this scope's
    * WHERE/GROUP/HAVING tail) gets the correlated-EXISTS conversion
    * under the clause's alias scope (tpch_nested q4/q21/q22 shapes),
    * and any predicates the clause rewrite produced (collection
    * SEMI/ANTI joins, inner collection-join ON conditions) are spliced
    * into the WHERE.
    */
  private def rewriteScope(spark: SparkSession, s: String,
      outer: Seq[(String, DataType)], used: UsedOuter): String = {
    val (d, q) = depthMap(s)
    val froms = fromRe.findAllMatchIn(s).toSeq.filter { m =>
      !q(m.start) && d(m.start) == 0 && isKeywordAt(s, m.start, "from") &&
        // not the FROM of `IS [NOT] DISTINCT FROM` — word-bounded, so
        // an identifier merely ENDING in 'distinct' (`is_distinct`)
        // does not suppress rewriting for the scope
        ! {
          val p = s.substring(0, m.start).trim.toLowerCase
          p.endsWith("distinct") &&
            (p.length == 8 || !isWordChar(p.charAt(p.length - 9)))
        }
    }
    if (froms.isEmpty) return s
    var out = s
    // right-to-left so earlier offsets stay valid
    froms.zipWithIndex.reverse.foreach { case (m, i) =>
      val start = m.end
      val end = clauseEnd(s, start, d, q)
      val clause = s.substring(start, end)
      val (nwOpt, scope, preds) =
        rewriteFromClause(spark, clause, outer, used)
      // the EXISTS-conversion tail for THIS select ends at the next
      // depth-0 FROM, but also at any depth-0 set operator — past a
      // UNION/INTERSECT/EXCEPT the text is the NEXT select's list and
      // must not be converted under this clause's alias scope
      val regionLimit =
        if (i + 1 < froms.length) froms(i + 1).start else s.length
      val regionEnd = setOpRe.findAllMatchIn(s)
        .find(mm => mm.start >= end && mm.start < regionLimit &&
          !q(mm.start) && d(mm.start) == 0)
        .map(_.start).getOrElse(regionLimit)
      if (regionEnd > end || preds.nonEmpty) {
        val tail = s.substring(end, regionEnd)
        var newTail = rewriteExists(tail, scope)
        if (preds.nonEmpty)
          newTail = spliceWhere(newTail,
            preds.map(p => s"($p)").mkString(" AND "))
        if (newTail != tail)
          out = out.substring(0, end) + newTail + out.substring(regionEnd)
      }
      nwOpt.foreach { nw =>
        out = out.substring(0, start) + nw + out.substring(end)
      }
      // Impala star expansion (fe StarExpr): complex-typed columns
      // (arrays, maps, structs) never expand from `*`, and
      // `<struct path>.*` expands the struct's SCALAR fields only
      // (ranger_column_masking_complex_types.test pins both). Applied
      // last for this scope — the edit region precedes the clause, so
      // the positions used above stay valid.
      expandComplexStar(s, m.start, d, q, scope).foreach {
        case (selStart, repl) =>
          out = out.substring(0, selStart) + repl + out.substring(m.start)
      }
    }
    out
  }

  private val selKwRe = """(?i)\bselect\b""".r
  private val qualStarRe = """^([A-Za-z_][\w.]*)\.\*$""".r
  private def isComplexType(t: DataType): Boolean = t match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  /** Rewrite the SELECT list ending at `fromPos` when it carries `*`
    * over a complex-typed single-table scope, or `qual.*` struct-path
    * items. Some((listStart, newListText)) iff something expanded.
    */
  private def expandComplexStar(s: String, fromPos: Int, d: Array[Int],
      q: Array[Boolean], scope: Scope): Option[(Int, String)] = {
    val selM = selKwRe.findAllMatchIn(s).toSeq
      .filter(mm => mm.end <= fromPos && !q(mm.start) && d(mm.start) == 0 &&
        isKeywordAt(s, mm.start, "select"))
      .lastOption.getOrElse(return None)
    val listTxt = s.substring(selM.end, fromPos)
    val headKwRe = """(?is)^\s*(distinct|all|straight_join)\b""".r
    var prefixEnd = 0
    var look = true
    while (look) headKwRe.findFirstMatchIn(listTxt.substring(prefixEnd)) match {
      case Some(h) => prefixEnd += h.end
      case None => look = false
    }
    val items = SqlText.split(listTxt.substring(prefixEnd))
    // star expansion from the scope is only sound when the scope saw
    // EVERY FROM item's aliases — a FROM-subquery or unresolved table
    // contributes columns the scope can't enumerate, and expanding
    // would silently drop them from the result
    val singleAlias: Option[(String, StructType)] =
      scope.aliases.toSeq match {
        case Seq((al, st: StructType)) if scope.complete => Some((al, st))
        case _ => None
      }
    // all-struct multi-alias scope (joins/comma lists of registered
    // tables): the reference expands `*` PER table ref, skipping
    // complex-typed columns of each (SelectStmt.expandStar)
    val allAliases: Option[Seq[(String, StructType)]] =
      if (!scope.complete || scope.aliases.size < 2) None
      else {
        val as = scope.aliases.toSeq
        if (as.forall(_._2.isInstanceOf[StructType]))
          Some(as.map { case (al, t) => (al, t.asInstanceOf[StructType]) })
        else None
      }
    def scalarFields(st: StructType): Seq[StructField] =
      st.fields.toSeq.filterNot(f => isComplexType(f.dataType) ||
        // hidden positional slots (a collection ref's pos) never
        // expand from `*` (Impala StarExpr)
        f.metadata.contains("graft.hidden"))
    def walkStructPath(root: StructType, segs: Seq[String]): Option[StructType] = {
      var cur: DataType = root
      segs.foreach { seg =>
        cur match {
          case st: StructType =>
            st.fields.find(_.name.equalsIgnoreCase(seg)) match {
              case Some(f) => cur = f.dataType
              case None => return None
            }
          case _ => return None
        }
      }
      cur match { case st: StructType => Some(st); case _ => None }
    }
    // a field `*` must not surface: complex-typed, or a hidden
    // positional slot (collection-ref pos)
    def needsExpansion(st: StructType): Boolean =
      st.fields.exists(f => isComplexType(f.dataType) ||
        f.metadata.contains("graft.hidden"))
    var changed = false
    val newItems = items.map(_.trim).map {
      case "*" =>
        singleAlias match {
          case Some((al, st))
              if needsExpansion(st) && scalarFields(st).nonEmpty =>
            // scalarFields empty would emit an unparsable empty list —
            // the reference raises an analysis error there; we leave
            // `*` for Spark to resolve (a visible error, not silence)
            changed = true
            scalarFields(st).map(f => s"$al.${f.name}").mkString(", ")
          case Some(_) => "*"
          case None =>
            allAliases match {
              case Some(as)
                  if as.exists(a => needsExpansion(a._2)) &&
                    as.exists(a => scalarFields(a._2).nonEmpty) =>
                changed = true
                as.flatMap { case (al, st) =>
                  if (needsExpansion(st))
                    scalarFields(st).map(f => s"$al.${f.name}")
                  else Seq(s"$al.*")
                }.mkString(", ")
              case _ => "*"
            }
        }
      case it @ qualStarRe(qual) =>
        val segs = qual.split('.').toSeq
        // root: a scope alias, or (single-table FROM) a column of it
        val resolved: Option[(String, StructType, Seq[String])] =
          scope.aliases.collectFirst {
            case (al, st: StructType) if al.equalsIgnoreCase(segs.head) =>
              (al, st, segs.tail)
          }.orElse(singleAlias.collect {
            case (al, st) if st.fields.exists(_.name.equalsIgnoreCase(segs.head)) =>
              (al, st, segs)
          })
        resolved match {
          case Some((al, st, rest)) if rest.isEmpty =>
            if (st.fields.exists(f => isComplexType(f.dataType)) &&
                scalarFields(st).nonEmpty) {
              changed = true
              scalarFields(st).map(f => s"$al.${f.name}").mkString(", ")
            } else it
          case Some((al, st, rest)) =>
            walkStructPath(st, rest) match {
              case Some(inner) if scalarFields(inner).nonEmpty =>
                changed = true
                scalarFields(inner)
                  .map(f => s"$al.${rest.mkString(".")}.${f.name} AS ${f.name}")
                  .mkString(", ")
              case _ => it
            }
          case None => it
        }
      case other => other
    }
    if (!changed) None
    else Some((selM.end,
      listTxt.substring(0, prefixEnd) + " " + newItems.mkString(", ") + " "))
  }

  /** Conjoin predicate text into a scope tail: merge into a leading
    * WHERE (wrapping its expression, which ends at the next depth-0
    * clause keyword), or prepend a fresh WHERE before GROUP/ORDER/….
    */
  private def spliceWhere(tail: String, predTxt: String): String = {
    val whereRe = """(?is)^(\s*)where\b(.*)$""".r
    tail match {
      case whereRe(ws, rest) =>
        val (d2, q2) = depthMap(rest)
        val stop = clauseEnd(rest, 0, d2, q2)
        s"$ws WHERE $predTxt AND (${rest.substring(0, stop)}) " +
          rest.substring(stop)
      case _ => s" WHERE $predTxt $tail"
    }
  }

  private def isKeywordAt(s: String, pos: Int, kw: String): Boolean = {
    val before = pos == 0 || !isWordChar(s.charAt(pos - 1))
    val after = pos + kw.length >= s.length || !isWordChar(s.charAt(pos + kw.length))
    before && after
  }

  private def clauseEnd(s: String, start: Int, d: Array[Int],
      q: Array[Boolean]): Int = {
    var i = start
    while (i < s.length) {
      if (!q(i) && d(i) == 0 && Character.isLetter(s.charAt(i)) &&
          (i == 0 || !isWordChar(s.charAt(i - 1)))) {
        val rest = s.substring(i, math.min(s.length, i + 10)).toUpperCase
        if (clauseEnders.exists(k => rest.startsWith(k) &&
            (i + k.length >= s.length || !isWordChar(s.charAt(i + k.length)))))
          return i
      }
      i += 1
    }
    s.length
  }

  /** `<plain ref> [LEFT [OUTER]|INNER] JOIN <path> [alias] [ON cond]` —
    * an explicit join whose right side is a collection path
    * (tpch_nested-q13: `customer c left outer join c.c_orders on (…)`).
    */
  private val collJoinRe =
    ("""(?is)^\s*([A-Za-z_]\w*(?:\s+(?:as\s+)?[A-Za-z_]\w*)?)\s+""" +
      """(left\s+(?:outer\s+)?join|inner\s+join|join)\s+""" +
      """([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?""" +
      """(?:\s+on\s+(.*))?\s*$""").r

  /** `(SELECT agg(...) name, ... FROM <path> [WHERE cond]) alias` — a
    * correlated aggregating FROM-subquery over a collection of a
    * preceding ref (tpch_nested-q18's
    * `(select sum(l_quantity) sum_quantity from o.o_lineitems) l`).
    */
  private val aggSubItemRe =
    """(?is)^\s*\(\s*(select\b.*)\)\s*(?:as\s+)?([A-Za-z_]\w*)\s*$""".r

  /** `<plain ref> [CROSS|INNER] JOIN (SELECT aggs FROM <path>) alias` —
    * the join-syntax spelling of the correlated aggregating subquery
    * (multiple-distinct-aggs.test's
    * `complextypestbl a cross join (select count(distinct item) … from
    * a.int_array) v`).
    */
  private val joinAggSubRe =
    ("""(?is)^\s*([A-Za-z_]\w*(?:\s+(?:as\s+)?[A-Za-z_]\w*)?)\s+""" +
      """(?:cross\s+|inner\s+)?join\s+\(\s*(select\b.*)\)\s*""" +
      """(?:as\s+)?([A-Za-z_]\w*)\s*$""").r

  /** `<plain ref> [LEFT [OUTER]|INNER] JOIN (SELECT * FROM <path> …)
    * alias` — the subquery-spelled collection join
    * (parquet-filtering.test's
    * `customer c left outer join (select * from c.c_orders o where …) v`).
    */
  private val joinStarSubRe =
    ("""(?is)^\s*([A-Za-z_]\w*(?:\s+(?:as\s+)?[A-Za-z_]\w*)?)\s+""" +
      """(left\s+(?:outer\s+)?join|inner\s+join|join)\s+\(\s*(select\b.*)\)\s*""" +
      """(?:as\s+)?([A-Za-z_]\w*)\s*$""").r

  private val subBodyRe =
    ("""(?is)^\s*select\s+(.*?)\s+from\s+""" +
      """([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?""" +
      """(?:\s+where\s+(.*))?\s*$""").r

  /** Depth-0 join-keyword tokens of one comma item, longest spelling
    * first so `left anti join` is not consumed as a bare `join`.
    */
  private val joinKwRe =
    ("""(?is)\b(?:(?:left|right)\s+(?:semi|anti)\s+join|""" +
      """(?:left|right|full)\s+(?:outer\s+)?join|""" +
      """(?:inner|cross)\s+join|join)\b""").r

  /** Split one join operand's optional trailing `ON <cond>` (depth-0,
    * quote-aware). */
  private def splitOn(s: String): (String, Option[String]) = {
    val (d, q) = depthMap(s)
    """(?i)\bon\b""".r.findAllMatchIn(s)
      .find(mm => !q(mm.start) && d(mm.start) == 0) match {
      case Some(mm) => (s.substring(0, mm.start), Some(s.substring(mm.end)))
      case None => (s, None)
    }
  }

  /** Rewrite one FROM clause's comma items. Returns the new clause text
    * (None when nothing is a collection ref) plus the clause's alias
    * scope — needed by the caller for correlated-EXISTS conversion in
    * the scope's WHERE tail — plus predicates to conjoin into the
    * scope's WHERE (collection SEMI/ANTI joins become `exists()`/`size`
    * predicates; an inner collection-join's ON moves to WHERE, where
    * the lateral's pos/item/field columns all resolve).
    */
  private def rewriteFromClause(spark: SparkSession, clause: String,
      outer: Seq[(String, DataType)], used: UsedOuter)
      : (Option[String], Scope, Seq[String]) = {
    val items = SqlText.split(clause)
    val scope = Scope(scala.collection.mutable.LinkedHashMap.empty)
    val baseItems = scala.collection.mutable.ArrayBuffer.empty[String]
    val laterals = scala.collection.mutable.ArrayBuffer.empty[String]
    val pendingPreds = scala.collection.mutable.ArrayBuffer.empty[String]
    // aliases defined by trailing LATERAL VIEWs — refs rooted at them
    // must stay trailing too (they'd otherwise precede their definition)
    val trailingAliases = scala.collection.mutable.Set.empty[String]
    var counter = 0
    var changed = false

    def tableSchema(name: String): Option[StructType] =
      Try(spark.table(name).schema).toOption

    def outerLookup(name: String): Option[DataType] =
      outer.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

    // Resolve a dotted path against the scope (relative, correlated) or
    // the catalog (absolute — an INDEPENDENT hidden base instance per
    // ref, as in the reference's Path resolution: an explicit alias
    // shadows the table name, and `region.r_nations n1, region.r_nations
    // n2` are two separate scans, not a shared one) — or, inside a
    // correlated subquery, against the ENCLOSING FROM's aliases
    // (IMPALA-2414 subplan bodies), which emits a plain derived table
    // (the enclosing item supplies the LATERAL marking) and raises
    // `used`. Base-item/lateral emission happens only once the path is
    // known-walkable.
    def addCollectionRef(segs: Seq[String], alias: String,
        filteredExpr: String => String, outer: Boolean,
        forceTrailing: Boolean = false): Boolean = {
      val head = segs.head
      val correlated = scope.lookup(head).isEmpty &&
        tableSchema(head).isEmpty && outerLookup(head).isDefined
      val resolved: Option[(Option[String], DataType, Seq[String])] =
        scope.lookup(head) match {
          case Some(t) => Some((None, t, segs.tail))
          case None => tableSchema(head).map(sch =>
              (Some(head), sch, segs.tail))
            .orElse(outerLookup(head).map(t => (None, t, segs.tail)))
        }
      resolved match {
        case Some((hiddenTbl, baseType0, rest0raw))
            if rest0raw.nonEmpty &&
              walkable(baseType0, normalizeSegs(baseType0, rest0raw)) =>
          val rest0 = normalizeSegs(baseType0, rest0raw)
          // An absolute ref's hidden base projects ONLY the path's root
          // column under a hidden name — the reference's implicit
          // parent ref exposes no columns (Path.java), and a bare
          // `tbl t, tbl.arr x` join would otherwise make every column
          // of tbl ambiguous
          var (baseName, baseType, rest) = hiddenTbl match {
            case Some(tn) =>
              counter += 1
              val h = s"__t$counter"
              val rootCol = rest0.head
              val rootType = baseType0 match {
                case st: StructType =>
                  st.fields.find(_.name.equalsIgnoreCase(rootCol)).get.dataType
                case other => other
              }
              baseItems += s"(SELECT $rootCol AS __b$counter FROM $tn) $h"
              (h, StructType(Seq(StructField(s"__b$counter", rootType))),
                s"__b$counter" +: rest0.tail)
            case None =>
              // a CORRELATED path that rides through structs before its
              // first collection can't correlate as-is (struct-typed
              // correlated attribute) — request a flatten of the struct
              // prefix onto the outer item (subplanLateral applies it)
              // and continue against the generated array/map column
              val flat =
                if (!correlated) None
                else structPrefix(baseType0, rest0).filter(_._1 >= 2)
              flat match {
                case Some((j, collType)) =>
                  val pathSegs = rest0.take(j)
                  val gen = flattenGenName(pathSegs)
                  if (!used.flattens.exists(f =>
                      f._1.equalsIgnoreCase(head) && f._3 == gen))
                    used.flattens += ((head, pathSegs.mkString("."), gen))
                  (head, StructType(Seq(StructField(gen, collType))),
                    gen +: rest0.drop(j))
                case None => (head, baseType0, rest0)
              }
          }
          val userAlias = Option(alias).getOrElse(segs.last)
          // Positioned lateral subqueries need the correlated column
          // itself to be the collection (Spark's DecorrelateInnerQuery
          // rejects struct-typed correlated refs); paths that ride
          // through structs fall back to trailing LATERAL VIEWs.
          var firstIsCollection = baseType match {
            case st: StructType =>
              st.fields.find(_.name.equalsIgnoreCase(rest.head))
                .exists(f => f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType])
            case _ => false
          }
          val baseIsTrailing =
            trailingAliases.exists(_.equalsIgnoreCase(head))
          // a MAP final behind an intermediate explode needs a
          // two-column generator inside the subquery, which Spark's
          // decorrelator rejects ("correlated reference cannot be
          // array type") — only that shape goes trailing
          var multiLevelMapFinal = rest.length > 1 &&
            walkFinal(baseType, rest).exists(_.isInstanceOf[MapType])
          // a correlated direct MAP ref can't positioned-explode
          // either: Spark rejects any MAP-typed correlated column
          // (UNSUPPORTED_CORRELATED_REFERENCE_DATA_TYPE), so route it
          // through the composed map_entries array as well
          val firstIsMapFinal = rest.length == 1 && (baseType match {
            case st: StructType =>
              st.fields.find(_.name.equalsIgnoreCase(rest.head))
                .exists(_.dataType.isInstanceOf[MapType])
            case _ => false
          })
          if (correlated &&
              (firstIsMapFinal ||
                !(firstIsCollection && !baseIsTrailing &&
                  !multiLevelMapFinal))) {
            // retry: a correlated MULTI-collection path (map-of-map
            // value, collection behind a collection) can't positioned-
            // explode level by level — each intermediate would be a
            // collection-typed correlated ref. Compose ONE array
            // expression over the whole path with
            // map_entries/transform/flatten, flatten it onto the outer
            // item, and correlate on that single array column
            // (IMPALA-2414's `t.map_map_col.value`).
            val composed =
              if (hiddenTbl.isEmpty && !baseIsTrailing)
                composeArrayExpr(baseType0, rest0)
              else None
            composed match {
              case Some((exprSql, elemType)) =>
                val gen = flattenGenName(rest0) + "_fl"
                if (!used.flattens.exists(f =>
                    f._1.equalsIgnoreCase(head) && f._3 == gen))
                  used.flattens += ((head, exprSql, gen))
                baseName = head
                baseType = StructType(Seq(StructField(gen,
                  ArrayType(elemType))))
                rest = Seq(gen)
                firstIsCollection = true
                multiLevelMapFinal = false
              case None =>
                return false // needs the positioned form
            }
          }
          val rowType =
            if (firstIsCollection && !baseIsTrailing && !multiLevelMapFinal &&
                !forceTrailing) {
              val (lateralItem, rt) =
                buildLaterals(baseName, baseType, rest, userAlias,
                  () => { counter += 1; counter }, filteredExpr, outer,
                  derivedTable = correlated)
              baseItems += lateralItem
              rt
            } else {
              val (views, rt) =
                buildTrailingViews(baseName, baseType, rest, userAlias,
                  () => { counter += 1; counter }, filteredExpr, outer)
              laterals ++= views
              trailingAliases += userAlias
              rt
            }
          if (correlated) used.value = true
          scope.aliases(userAlias) = rowType
          changed = true
          true
        case _ => false
      }
    }

    /** General subplan (reference SubplanNode, `nested-types-subplan
      * .test` / IMPALA-2414): re-rewrite a FROM-subquery body with THIS
      * clause's aliases as its outer scope. Some(rewritten) iff the
      * body resolved a collection ref through them — the caller then
      * marks the item LATERAL, which is exactly Spark's correlated
      * subplan (probed: decorrelation handles posexplode over the
      * outer column under WHERE/ORDER BY/LIMIT/UNION/analytics/aggs).
      */
    def subplanLateral(body: String): Option[String] = {
      val innerUsed = new UsedOuter
      val b2 = rewriteInternal(spark, body,
        scope.aliases.toSeq ++ outer, innerUsed)
      if (!innerUsed.value) return None
      // struct-prefix flatten requests from the body: wrap THIS
      // clause's plain base items as `(SELECT *, path AS __cp_… FROM
      // tbl) alias`; requests naming an enclosing scope's alias ride
      // further up with `used`
      innerUsed.flattens.groupBy(_._1.toLowerCase).foreach {
        case (_, reqs) =>
          val al = reqs.head._1
          val idx = baseItems.indexWhere {
            case plainItemRe(name, a) =>
              Option(a).getOrElse(name).equalsIgnoreCase(al)
            case wrappedFlatItemRe(_, _, a) => a.equalsIgnoreCase(al)
            case _ => false
          }
          if (idx < 0) used.flattens ++= reqs
          else baseItems(idx) match {
            case plainItemRe(name, _) =>
              val projs = reqs.map { case (_, e, g) =>
                s"$e AS $g" }.distinct
              baseItems(idx) =
                s"(SELECT *, ${projs.mkString(", ")} FROM $name) $al"
            case wrappedFlatItemRe(prev, name, _) =>
              // a second correlated subquery over the same alias with a
              // DIFFERENT struct-prefix flatten: append its projections
              // to the existing wrapper instead of missing the match
              // (which would strand an unresolved __cp_* column)
              val fresh = reqs.filterNot { case (_, _, g) =>
                prev.toLowerCase.contains(g.toLowerCase) }
              if (fresh.nonEmpty) {
                val projs = fresh.map { case (_, e, g) =>
                  s"$e AS $g" }.distinct
                baseItems(idx) =
                  s"(SELECT *, $prev, ${projs.mkString(", ")} FROM $name) $al"
              }
            case _ =>
          }
      }
      // conservative upward propagation: an inner correlation may span
      // this clause's aliases OR the enclosing ones — an extra LATERAL
      // marker on the enclosing item is legal either way
      used.value = true
      Some(b2)
    }

    /** `(SELECT|WITH …) alias` join operand inside a chain. */
    val subqOperandRe =
      """(?is)^\s*\(\s*((?:select|with)\b.*)\)\s*(?:as\s+)?([A-Za-z_]\w*)\s*$""".r

    /** Walk one comma item that is a JOIN CHAIN (≥1 depth-0 join
      * keyword): plain-table operands keep their join text verbatim
      * (registering aliases for later relative refs); collection-path
      * operands convert per join type — INNER → positioned lateral
      * with the ON moved to WHERE (pos resolves there), LEFT [OUTER] /
      * FULL OUTER (no ON) → outer lateral with the ON folded as an
      * element filter, SEMI/ANTI → a WHERE `exists()`/`size()`
      * predicate (the reference plans these as subplans over the same
      * row's collection — nested-types-tpch.test cases 6/8/10/11).
      * Returns false to fall back to the raw item untouched.
      */
    def rewriteJoinChain(raw: String): Boolean = {
      val (d, q) = depthMap(raw)
      val kws = joinKwRe.findAllMatchIn(raw).toSeq
        .filter(m => !q(m.start) && d(m.start) == 0)
      if (kws.isEmpty) return false
      if ("""(?i)\busing\b""".r.findAllMatchIn(raw)
          .exists(m => !q(m.start) && d(m.start) == 0)) return false
      // snapshot for bail-out
      val bi0 = baseItems.length
      val lv0 = laterals.length
      val pp0 = pendingPreds.length
      val ta0 = trailingAliases.toSet
      val sc0 = scope.aliases.toSeq
      val uv0 = used.value
      val uf0 = used.flattens.length
      def bail(): Boolean = {
        baseItems.remove(bi0, baseItems.length - bi0)
        laterals.remove(lv0, laterals.length - lv0)
        pendingPreds.remove(pp0, pendingPreds.length - pp0)
        trailingAliases.clear(); trailingAliases ++= ta0
        scope.aliases.clear(); scope.aliases ++= sc0
        // a partially-converted chain may have raised the correlation
        // marker — restore it, or the enclosing subplanLateral wraps an
        // UNREWRITTEN body in LATERAL and analysis fails downstream
        used.value = uv0
        used.flattens.remove(uf0, used.flattens.length - uf0)
        false
      }
      val firstTxt = raw.substring(0, kws.head.start)
      var chainText = firstTxt.trim
      // once a conversion used the TRAILING-view form, its alias only
      // resolves at the end of the FROM — further join operands can't
      // reference chain aliases reliably, so bail
      var sawTrailing = false
      // positioned collection conversions stay INSIDE the join chain as
      // `[CROSS|LEFT …] JOIN LATERAL (…) alias [ON …]` — preserving the
      // chain's parse group so later ONs still see earlier tables
      // (nested-types-runtime.test[16]'s `… inner join t1.int_array a1
      // left outer join t2 on t1.id = t2.id …`)
      def inlineCollection(segs: Seq[String], alias: String,
          filt: String => String, outer: Boolean,
          cond: Option[String]): Boolean = {
        val bi = baseItems.length
        if (!addCollectionRef(segs, alias, filt, outer)) return false
        if (baseItems.length > bi) {
          // positioned conversion: either `LATERAL (…) a` (ref to an
          // earlier chain alias) or a PLAIN derived table (correlated
          // to the ENCLOSING scope — the enclosing item carries the
          // LATERAL marking, IMPALA-2430's `(select … from c.c_orders
          // o left outer join …) v4` shape)
          val item = baseItems.remove(baseItems.length - 1).trim
          if (chainText.isEmpty) {
            // leading collection operand roots the chain
            chainText = item
            cond.foreach(pendingPreds += _.trim)
          } else {
            val lat = if (item.startsWith("LATERAL")) item
              else s"LATERAL $item"
            chainText += (cond match {
              case Some(c) =>
                s" ${if (outer) "LEFT OUTER JOIN" else "JOIN"} $lat ON ($c)"
              case None if outer => s" LEFT OUTER JOIN $lat ON true"
              case None => s" CROSS JOIN $lat"
            })
          }
        } else sawTrailing = true
        true
      }
      // first operand: a registrable plain ref rides as chain text; a
      // collection path converts in place (`c.c_orders o left outer
      // join o.o_lineitems l` — parquet-filtering.test)
      var rootPlain: Option[(String, String)] = None // (text, alias)
      firstTxt match {
        case plainItemRe(name, alias) =>
          tableSchema(name) match {
            case Some(sch) =>
              val al = Option(alias).getOrElse(name)
              scope.aliases(al) = sch
              rootPlain = Some((firstTxt.trim, al))
            case None => return bail()
          }
        case pathItemRe(path, alias) if alias == null ||
            !aliasGuard.contains(alias.toLowerCase) =>
          chainText = ""
          if (!inlineCollection(path.split('.').toSeq, alias,
              identity, outer = false, None)) return bail()
          changed = true
        case _ => return bail()
      }
      val ops = kws.zipWithIndex.map { case (m, j) =>
        val opEnd = if (j + 1 < kws.length) kws(j + 1).start else raw.length
        (m.matched.toLowerCase.replaceAll("\\s+", " "),
          raw.substring(m.end, opEnd))
      }
      ops.foreach { case (kw, opTxt) =>
        val (refTxt0, cond) = splitOn(opTxt)
        // a plan hint after the join keyword (`join [broadcast] tbl`)
        // is transparent here; it stays in the emitted text for plain
        // refs (rewriteHints lifts it later) and drops for converted
        // collection refs
        val refTxt = refTxt0.replaceFirst("^\\s*\\[[^\\]]*\\]", "")
        val isOuterKw = kw.startsWith("left") || kw.startsWith("right") ||
          kw.startsWith("full")
        val isSemiAnti = kw.contains("semi") || kw.contains("anti")
        refTxt match {
          case plainItemRe(name, alias) if tableSchema(name).isDefined &&
              (alias == null || !aliasGuard.contains(alias.toLowerCase)) =>
            // chain text can't continue past a trailing LATERAL VIEW —
            // the view's alias resolves only at the end of the FROM
            if (sawTrailing) return bail()
            scope.aliases(Option(alias).getOrElse(name)) =
              tableSchema(name).get
            chainText += s" $kw $opTxt".stripSuffix(" ")
          case pathItemRe(path, alias) if alias == null ||
              !aliasGuard.contains(alias.toLowerCase) =>
            val segs = path.split('.').toSeq
            val userAlias = Option(alias).getOrElse(segs.last)
            if (isSemiAnti) {
              if (kw.startsWith("right")) return bail()
              val pred = cond match {
                case Some(c) =>
                  val elemType = elementTypeOf(scope, segs)
                    .getOrElse(return bail())
                  val c2 = qualifyCond(c.trim, userAlias, elemType, "__x",
                    outerColsOf(scope))
                  val e = s"coalesce(exists(${segs.mkString(".")}, " +
                    s"__x -> ($c2)), false)"
                  if (kw.contains("anti")) s"NOT $e" else e
                case None =>
                  val sz = s"coalesce(size(${segs.mkString(".")}), 0)"
                  if (kw.contains("anti")) s"$sz = 0" else s"$sz > 0"
              }
              pendingPreds += pred
              changed = true
            } else {
              val outer = kw.startsWith("left") ||
                (kw.startsWith("full") && cond.isEmpty)
              // RIGHT JOIN against the row's own collection: every
              // element's parent IS its row, so no element is ever
              // null-extended — the cond-less form is the inner
              // lateral (ranger_column_masking_complex_types.test's
              // `complextypestbl t right join t.int_array a`)
              if ((kw.startsWith("right") || kw.startsWith("full")) &&
                  cond.nonEmpty) return bail()
              // LEFT OUTER's ON filters ELEMENTS before null-extension
              // (fold into the collection); an INNER ON references the
              // lateral's columns (incl. pos) and rides the JOIN ... ON
              val filt: String => String = cond match {
                case Some(c) if outer =>
                  val elemType = elementTypeOf(scope, segs)
                    .getOrElse(return bail())
                  val c2 = qualifyCond(c.trim, userAlias, elemType, "__x",
                    outerColsOf(scope))
                  e => s"filter($e, __x -> ($c2))"
                case _ => identity
              }
              if (sawTrailing) {
                // once an operand landed as a trailing LATERAL VIEW,
                // later collection operands join the same trailing
                // sequence (views resolve left-to-right and WHERE sees
                // their aliases) — an inner ON becomes a WHERE pred
                // there, like the positioned form's
                if (!addCollectionRef(segs, alias, filt, outer,
                    forceTrailing = true)) return bail()
                if (!outer) cond.foreach(pendingPreds += _.trim)
                changed = true
              } else {
                val onCond = if (outer) None else cond
                if (!inlineCollection(segs, alias, filt, outer, onCond))
                  return bail()
              }
            }
          case subqOperandRe(body, alias2)
              if isSemiAnti && !kw.startsWith("right") =>
            // SEMI/ANTI against a correlated subquery operand → an
            // EXISTS predicate over the rewritten body (the reference
            // plans IMPALA-2456's anti-join-of-subplan this way: a
            // subplan probe per row)
            subplanLateral(body) match {
              case Some(b2) =>
                val whereTxt = cond.map(c => s" WHERE $c").getOrElse("")
                val ex = s"exists (select 1 from ($b2) $alias2$whereTxt)"
                pendingPreds +=
                  (if (kw.contains("anti")) s"NOT $ex" else ex)
                changed = true
              case None => return bail()
            }
          case subqOperandRe(body, alias2)
              if !isSemiAnti && !kw.startsWith("right") =>
            if (sawTrailing) return bail()
            // correlated FROM-subquery join operand (IMPALA-2414 /
            // subplan): `c join (with w as (… from c.c_orders) …) v`
            // → `c JOIN LATERAL (…) v`
            subplanLateral(body) match {
              case Some(b2) =>
                val on = cond.map(c => s" on $c").getOrElse(
                  if (isOuterKw) " on true" else "")
                val kwOut =
                  if (cond.isEmpty && !isOuterKw) "cross join"
                  else kw
                chainText += s" $kwOut LATERAL ($b2) $alias2$on"
                // the subquery's output columns aren't in the scope
                scope.complete = false
                changed = true
              case None => return bail()
            }
          case _ => return bail()
        }
      }
      // flatten requests that name the CHAIN's root alias (raised by a
      // correlated subquery operand's body) wrap the root in place —
      // they'd otherwise ride past the top and strand an unresolved
      // __cp_* column
      rootPlain.foreach { case (rootTxt, al) =>
        val (mine, others) = used.flattens.partition(
          _._1.equalsIgnoreCase(al))
        if (mine.nonEmpty && chainText.startsWith(rootTxt)) {
          val projs = mine.map { case (_, e, g) => s"$e AS $g" }.distinct
          val name = rootTxt.split("\\s+").head
          chainText = s"(SELECT *, ${projs.mkString(", ")} FROM $name) $al" +
            chainText.stripPrefix(rootTxt)
          used.flattens.clear()
          used.flattens ++= others
        }
      }
      if (chainText.nonEmpty) baseItems += chainText
      true
    }

    items.foreach { raw =>
      raw match {
        case plainItemRe(name, alias) if alias == null ||
            !aliasGuard.contains(alias.toLowerCase) =>
          // plain table/view ref — register its schema for later
          // relative refs
          tableSchema(name) match {
            case Some(sch) =>
              scope.aliases(Option(alias).getOrElse(name)) = sch
            case None => scope.complete = false
          }
          baseItems += raw
        case pathItemRe(path, alias) if alias == null ||
            !aliasGuard.contains(alias.toLowerCase) =>
          if (!addCollectionRef(path.split('.').toSeq, alias,
              identity, outer = false)) {
            scope.complete = false
            baseItems += raw
          }
        case collJoinRe(left, joinKw, path, alias, cond)
            if cond == null || !hasTopLevelJoin(cond) =>
          // left side registers like a plain ref
          val leftHandled = left match {
            case plainItemRe(name, lAlias) =>
              tableSchema(name) match {
                case Some(sch) =>
                  scope.aliases(Option(lAlias).getOrElse(name)) = sch
                  true
                case None => false
              }
            case _ => false
          }
          val segs = path.split('.').toSeq
          val elemType = elementTypeOf(scope, segs)
          val outer = joinKw.toLowerCase.contains("left")
          // a cond-less join needs no element-filter qualification, so
          // map-final paths (`f left outer join f.int_map m`) are fine;
          // with a cond, the filter lambda requires an array element
          val handled = leftHandled &&
            (cond == null || elemType.isDefined) && {
            val outerNames = outerColsOf(scope)
            val filt: String => String = expr =>
              Option(cond) match {
                case Some(c) =>
                  val c2 = qualifyCond(c.trim, Option(alias)
                    .getOrElse(segs.last), elemType.get, "__x", outerNames)
                  s"filter($expr, __x -> ($c2))"
                case None => expr
              }
            baseItems += left.trim
            val ok = addCollectionRef(segs, alias, filt, outer)
            if (!ok) baseItems.remove(baseItems.length - 1)
            ok
          }
          if (!handled && !rewriteJoinChain(raw)) {
            scope.complete = false
            baseItems += raw
          }
        case aggSubItemRe(body, alias) =>
          if (rewriteAggSubquery(scope, body, alias, laterals))
            changed = true // registers the agg columns under `alias`
          else {
            // the subquery's output columns aren't in the scope
            scope.complete = false
            subplanLateral(body) match {
              case Some(b2) =>
                baseItems += s"LATERAL ($b2) $alias"
                changed = true
              case None => baseItems += raw
            }
          }
        case joinAggSubRe(left, body, alias) =>
          val leftOk = left match {
            case plainItemRe(name, lAlias) =>
              tableSchema(name).map { sch =>
                scope.aliases(Option(lAlias).getOrElse(name)) = sch
              }.isDefined
            case _ => false
          }
          if (leftOk && {
              baseItems += left.trim
              val ok = rewriteAggSubquery(scope, body, alias, laterals)
              if (!ok) baseItems.remove(baseItems.length - 1)
              ok
            }) changed = true
          else if (!rewriteJoinChain(raw)) {
            scope.complete = false
            baseItems += raw
          }
        case joinStarSubRe(left, joinKw, body, alias)
            if !hasTopLevelJoin(body) =>
          // `c LEFT OUTER JOIN (SELECT * FROM c.c_orders o WHERE …) v`
          // — the subquery-spelled collection join
          // (parquet-filtering.test): same lateral as the direct form,
          // with the WHERE folded as the element filter
          val leftOk = left match {
            case plainItemRe(name, lAlias) =>
              tableSchema(name).map { sch =>
                scope.aliases(Option(lAlias).getOrElse(name)) = sch
              }.isDefined
            case _ => false
          }
          val outer = joinKw.toLowerCase.contains("left")
          val handled = leftOk && (body match {
            case subBodyRe(sel, path, subAlias, cond)
                if sel.trim == "*" || sel.trim.endsWith(".*") =>
              val segs = path.split('.').toSeq
              val filtOpt: Option[String => String] = Option(cond) match {
                case Some(c) =>
                  elementTypeOf(scope, segs).map { et =>
                    val c2 = qualifyCond(c.trim,
                      Option(subAlias).getOrElse(segs.last), et, "__x",
                      outerColsOf(scope))
                    (e: String) => s"filter($e, __x -> ($c2))"
                  }
                case None => Some(identity[String] _)
              }
              segs.length >= 2 && filtOpt.isDefined && {
                baseItems += left.trim
                val ok = addCollectionRef(segs, alias, filtOpt.get, outer)
                if (!ok) baseItems.remove(baseItems.length - 1)
                ok
              }
            case _ => false
          })
          if (!handled && !rewriteJoinChain(raw)) {
            // not the star-subquery spelling — the generic chain walk
            // still handles non-star correlated subquery operands
            // (`left outer join (select count(*) … from c.c_orders) v`,
            // IMPALA-2430)
            scope.complete = false
            baseItems += raw
          }
        case _ =>
          if (!rewriteJoinChain(raw)) {
            scope.complete = false
            baseItems += raw
          }
      }
    }
    val rewritten =
      if (!changed) None
      else Some(" " + (baseItems.map(_.trim).mkString(", ") + " " +
        laterals.mkString(" ")).trim + " ")
    (rewritten, scope, pendingPreds.toSeq)
  }

  /** Element type of a collection path if it resolves within the scope
    * through struct-only steps to an array (None otherwise — such paths
    * are left to the generic machinery).
    */
  private def elementTypeOf(scope: Scope,
      segs: Seq[String]): Option[DataType] = {
    val base: Option[DataType] = scope.lookup(segs.head)
    base.flatMap { t =>
      var cur: DataType = t
      for (seg <- segs.tail) cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)) match {
            case Some(f) => cur = f.dataType
            case None => return None
          }
        case _ => return None
      }
      cur match {
        case ArrayType(elem, _) => Some(elem)
        case _ => None
      }
    }
  }

  /** Qualify an expression/predicate so it can run as a lambda over one
    * collection element: `alias.item.f`/`alias.f`/bare field names →
    * `__x.f` (struct elements), `alias.item`/bare `item` → `__x`
    * (scalar elements). Quote-aware; function-call tokens are left
    * alone. Mirrors the reference's Path resolution where the implicit
    * `item` names the array element itself.
    */
  /** Lower-cased column names visible from the enclosing scope's
    * aliases — bare identifiers in a lambda-bound condition that ALSO
    * resolve here are left untouched by [[qualifyCond]] rather than
    * silently rebound to the collection element (outer-reference
    * shadowing would otherwise change predicate semantics). */
  private def outerColsOf(scope: Scope): Set[String] =
    scope.aliases.values.collect {
      case st: StructType => st.fields.map(_.name.toLowerCase)
    }.flatten.toSet

  private def qualifyCond(cond: String, alias: String,
      elemType: DataType, lambdaVar: String,
      outerCols: Set[String] = Set.empty): String = {
    val a = java.util.regex.Pattern.quote(alias)
    // alias.item.f → __x.f ; alias.item → __x
    var out = SqlText.replaceOutside(cond,
      ("""(?i)(?<![\w.])""" + a + """\s*\.\s*item\s*\.""").r)(_ => lambdaVar + ".")
    out = SqlText.replaceOutside(out,
      ("""(?i)(?<![\w.])""" + a + """\s*\.\s*item\b""").r)(_ => lambdaVar)
    out = SqlText.replaceOutside(out,
      ("""(?i)(?<![\w.])""" + a + """\s*\.""").r)(_ => lambdaVar + ".")
    elemType match {
      case st: StructType =>
        st.fields.map(_.name)
          .filterNot(f => outerCols.contains(f.toLowerCase))
          .foreach { f =>
            val fre = ("""(?i)(?<![\w.])""" + java.util.regex.Pattern.quote(f) +
              """\b(?!\s*\()""").r
            out = SqlText.replaceOutside(out, fre)(_ => s"$lambdaVar.$f")
          }
      case _ =>
        // scalar elements: the bare implicit `item` is the element
        out = SqlText.replaceOutside(out,
          """(?i)(?<![\w.])item\b(?!\s*[(.])""".r)(_ => lambdaVar)
    }
    out
  }

  /** Impala's aggregate result type for a collection-element field —
    * used to type the `aggregate()` HOF that replaces a correlated
    * aggregating FROM-subquery (sum widens DECIMAL(p,s)→(38,s),
    * integers→BIGINT, floats→DOUBLE; aggregate-functions.cc).
    */
  private def sumTypeOf(dt: DataType): Option[String] = dt match {
    case d: DecimalType => Some(s"DECIMAL(38,${d.scale})")
    case ByteType | ShortType | IntegerType | LongType => Some("BIGINT")
    case FloatType | DoubleType => Some("DOUBLE")
    case _ => None
  }

  /** Convert a correlated aggregating FROM-subquery over a collection
    * into a one-row lateral view of HOF aggregates:
    * `(select sum(l_quantity) s from o.o_lineitems) l` →
    * `LATERAL VIEW inline(array(named_struct('s', …aggregate(…)…))) l AS s`.
    * Returns false (leave untouched) for anything outside the
    * sum/count/min/max-over-element-fields shape.
    */
  private def rewriteAggSubquery(scope: Scope, body: String, alias: String,
      laterals: scala.collection.mutable.ArrayBuffer[String]): Boolean = {
    body match {
      case subBodyRe(selectList, path, subAlias, cond) =>
        val segs = path.split('.').toSeq
        if (segs.length < 2) return false
        val elemType = elementTypeOf(scope, segs)
          .getOrElse(return false)
        val collExpr = segs.mkString(".")
        val lam = "__x"
        val subAliasName = Option(subAlias).getOrElse(segs.last)
        def qual(e: String): String =
          qualifyCond(e.trim, subAliasName, elemType, lam, outerColsOf(scope))
        val filtered = Option(cond) match {
          case Some(c) => s"filter($collExpr, $lam -> (${qual(c)}))"
          case None => collExpr
        }
        // the element value (or field) an aggregate argument denotes,
        // plus its type — bare `item`/`alias.item` is the element
        // itself for scalar arrays
        def fieldOf(a: String): Option[(String, DataType)] = elemType match {
          case st: StructType =>
            st.fields.find(_.name.equalsIgnoreCase(a))
              .map(f => (s"$lam.${f.name}", f.dataType))
          case t if a.equalsIgnoreCase("item") ||
              a.equalsIgnoreCase(s"$subAliasName.item") => Some((lam, t))
          case _ => None
        }
        val aggRe =
          """(?is)^\s*(sum|count|min|max)\s*\(\s*(distinct\s+)?(.*)\)\s+(?:as\s+)?([A-Za-z_]\w*)\s*$""".r
        val entries = SqlText.split(selectList).map {
          case aggRe(fn, distinct, arg, name) =>
            val a = arg.trim
            // DISTINCT folds through array_distinct over the projected
            // values (null elements dropped first, as aggs ignore NULL)
            def proj: Option[String] = fieldOf(a) match {
              case Some((e, _)) =>
                val vs = s"transform(filter($filtered, $lam -> $e IS NOT NULL), $lam -> $e)"
                Some(if (distinct != null) s"array_distinct($vs)" else vs)
              case None => None
            }
            fn.toLowerCase match {
              case "count" if a == "*" && distinct == null =>
                Some((name, s"bigint(coalesce(size($filtered), 0))"))
              case "count" if fieldOf(a).isDefined =>
                proj.map(p => (name, s"bigint(coalesce(size($p), 0))"))
              case "count" if distinct == null =>
                // general expression: count of non-NULL evaluations
                Some((name,
                  s"bigint(coalesce(size(filter($filtered, $lam -> (${qual(a)}) IS NOT NULL)), 0))"))
              case "min" | "max" =>
                val fn2 = if (fn.equalsIgnoreCase("min")) "array_min" else "array_max"
                proj.map(p => (name, s"$fn2($p)"))
              case "sum" =>
                fieldOf(a).flatMap { case (_, dt) =>
                  sumTypeOf(dt).flatMap { t =>
                    proj.map { p =>
                      // NULL on empty (Impala's sum over zero rows), else
                      // an exact fold at the widened type
                      (name,
                        s"IF(coalesce(size($p), 0) = 0, CAST(NULL AS $t), " +
                        s"aggregate($p, CAST(0 AS $t), (__a, $lam) -> __a + $lam))")
                    }
                  }
                }
              case _ => None
            }
          case _ => None
        }
        if (entries.exists(_.isEmpty) || entries.isEmpty) return false
        val es = entries.flatten
        val structArgs = es.map { case (n, e) => s"'$n', $e" }.mkString(", ")
        val outCols = es.map(_._1).mkString(", ")
        laterals +=
          s"LATERAL VIEW inline(array(named_struct($structArgs))) $alias AS $outCols"
        scope.aliases(alias) = StructType(
          es.map { case (n, _) => StructField(n, NullType) })
        true
      case _ => false
    }
  }

  /** Convert `[NOT] EXISTS (SELECT … FROM <collection path> [alias]
    * [WHERE cond])` in one scope's tail into a null-safe `exists()` HOF
    * over the collection (the reference plans these as correlated
    * subplans over the same row's collection —
    * tpch_nested-q4/q21/q22). Non-matching EXISTS bodies are left for
    * Spark's own correlated-subquery planner.
    */
  private def rewriteExists(text: String, scope: Scope): String = {
    if (scope.aliases.isEmpty) return text
    val existsRe = """(?i)\b(not\s+)?exists\s*\(""".r
    val lexed = SqlText.lex(text)
    val ms = existsRe.findAllMatchIn(text).toSeq
      .filter(m => lexed.span(m.start) == SqlText.Code).reverse
    var out = text
    ms.foreach { m =>
      val open = m.end - 1
      val close = lexed.close(open)
      if (close > open) {
        val body = text.substring(open + 1, close)
        val lower = body.toLowerCase
        val hasClause = Seq("group by", "order by", "limit", "union",
          "intersect", "except").exists(lower.contains)
        if (!hasClause) body match {
          case subBodyRe(_, path, subAlias, cond) =>
            val segs = path.split('.').toSeq
            if (segs.length >= 2 && scope.lookup(segs.head).isDefined) {
              elementTypeOf(scope, segs).foreach { elemType =>
                val collExpr = segs.mkString(".")
                val neg = m.group(1) != null
                val repl = Option(cond) match {
                  case Some(c) =>
                    val c2 = qualifyCond(c.trim,
                      Option(subAlias).getOrElse(segs.last), elemType, "__x",
                      outerColsOf(scope))
                    val e = s"coalesce(exists($collExpr, __x -> ($c2)), false)"
                    if (neg) s"(NOT $e)" else s"($e)"
                  case None =>
                    if (neg) s"(coalesce(size($collExpr), 0) = 0)"
                    else s"(coalesce(size($collExpr), 0) > 0)"
                }
                out = out.substring(0, m.start) + repl +
                  out.substring(close + 1)
              }
            }
          case _ =>
        }
      }
    }
    out
  }

  /** Can the path be walked from the base row type to a collection?
    * (Pre-check so unknown columns fall through untouched.) The walk
    * rule is uniform because every alias — table or collection view —
    * is registered as the StructType of its visible columns: struct
    * segments navigate textually; hitting an array/map with segments
    * left consumes `item`/`key`/`value` through a hidden explode.
    */
  private val hiddenPosMeta = new org.apache.spark.sql.types.MetadataBuilder()
    .putBoolean("graft.hidden", true).build()

  /** Insert implicit `value` hops: a MAP ref's value fields are
    * addressable directly on the ref (Impala Path.java resolution —
    * `t0.f0` over a map-ref whose value is struct<f0:…>, the
    * max-nesting-depth struct_map chains). Returns the path unchanged
    * when no hop applies.
    */
  private def normalizeSegs(base: DataType,
      segs: Seq[String]): Seq[String] = {
    var cur: DataType = base
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)) match {
            case Some(f) => out += seg; cur = f.dataType; i += 1
            case None =>
              // map-ref row type struct<key,value>: hop into value
              val v = st.fields.find(_.name.equalsIgnoreCase("value"))
              if (st.fields.length == 2 && v.isDefined &&
                  st.fields.exists(_.name.equalsIgnoreCase("key"))) {
                out += "value"; cur = v.get.dataType
              } else return segs
          }
        case ArrayType(elem, _) =>
          if (seg.equalsIgnoreCase("item")) { out += seg; cur = elem; i += 1 }
          else elem match {
            case st: StructType
                if st.fields.exists(_.name.equalsIgnoreCase(seg)) =>
              cur = elem // implicit element step, handled downstream
            case _ => return segs
          }
        case MapType(_, vt, _) =>
          if (seg.equalsIgnoreCase("value")) { out += seg; cur = vt; i += 1 }
          else if (seg.equalsIgnoreCase("key")) return segs // key walk ends
          else { out += "value"; cur = vt } // implicit value hop
        case _ => return segs
      }
    }
    out.toSeq
  }

  private def walkable(base: DataType, path: Seq[String]): Boolean = {
    var cur: DataType = base
    var i = 0
    while (i < path.length) {
      val seg = path(i)
      cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)) match {
            case Some(f) => cur = f.dataType
            case None => return false
          }
        case ArrayType(elem, _) =>
          // explicit `item` step, or an implicit step into a struct
          // element whose field the segment names (Impala Path
          // resolution: `customer.c_orders.o_lineitems` needs no
          // `.item` — tpch_nested-q1/q6/q12...)
          if (seg.equalsIgnoreCase("item")) cur = elem
          else elem match {
            case st: StructType
                if st.fields.exists(_.name.equalsIgnoreCase(seg)) =>
              cur = elem
              i -= 1 // re-examine the segment against the element
            case _ => return false
          }
        case MapType(kt, vt, _) =>
          if (seg.equalsIgnoreCase("value")) cur = vt
          else if (seg.equalsIgnoreCase("key")) cur = kt
          else return false
        case _ => return false
      }
      i += 1
    }
    cur.isInstanceOf[ArrayType] || cur.isInstanceOf[MapType]
  }

  /** The final collection type a walkable path lands on (None when the
    * walk fails — callers check [[walkable]] separately).
    */
  private def walkFinal(base: DataType, path: Seq[String]): Option[DataType] = {
    var cur: DataType = base
    var i = 0
    while (i < path.length) {
      val seg = path(i)
      cur match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(seg)) match {
            case Some(f) => cur = f.dataType
            case None => return None
          }
        case ArrayType(elem, _) =>
          if (seg.equalsIgnoreCase("item")) cur = elem
          else elem match {
            case st: StructType
                if st.fields.exists(_.name.equalsIgnoreCase(seg)) =>
              cur = elem
              i -= 1
            case _ => return None
          }
        case MapType(kt, vt, _) =>
          if (seg.equalsIgnoreCase("value")) cur = vt
          else if (seg.equalsIgnoreCase("key")) cur = kt
          else return None
        case _ => return None
      }
      i += 1
    }
    Some(cur)
  }

  /** Emit ONE positioned `LATERAL (SELECT … FROM posexplode(…)) alias`
    * item for a collection ref, plus the ref's ROW TYPE — the
    * StructType of the columns the alias exposes (pos/item [+ element
    * fields] for arrays, key/value for maps) — registered in scope so
    * later relative refs (`d.item i`, `g.value.h.i`) walk it exactly
    * like a table schema.
    *
    * A positioned lateral subquery (not a trailing LATERAL VIEW) is
    * load-bearing for plan shape: Spark rewrites it into a Generate
    * DIRECTLY over the ref's base relation, before any join with the
    * other FROM items — so `customer c, c.c_orders o, …, supplier s`
    * explodes customer first and then hash-joins, instead of
    * cross-joining every base table and exploding the product (which
    * is O(|c|·|s|·…) and unusable at any scale — the flat-join shape
    * the reference's Subplan node produces, `be/src/exec/
    * subplan-node.cc`).
    */
  /** Trailing LATERAL VIEW emission for paths that navigate structs
    * before reaching a collection (positioned lateral subqueries can't
    * carry struct-typed correlated refs). Only reached for
    * struct-nested paths (scanner-test shapes, single-base FROMs).
    */
  private def buildTrailingViews(baseName: String, baseType: DataType,
      path: Seq[String], userAlias: String, nextId: () => Int,
      filteredExpr: String => String = identity, outer: Boolean = false)
      : (Seq[String], StructType) = {
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    var expr = baseName
    var cur: DataType = baseType
    var i = 0
    while (i < path.length) {
      val seg = path(i)
      cur match {
        case st: StructType =>
          val f = st.fields.find(_.name.equalsIgnoreCase(seg)).get
          expr = s"$expr.$seg"
          cur = f.dataType
        case ArrayType(elem, _) =>
          val id = nextId()
          views += s"LATERAL VIEW explode($expr) __g$id AS __c$id"
          expr = s"__g$id.__c$id"
          cur = elem
          val implicitStep = !seg.equalsIgnoreCase("item") && (elem match {
            case st: StructType =>
              st.fields.exists(_.name.equalsIgnoreCase(seg))
            case _ => false
          })
          if (implicitStep) i -= 1
        case MapType(kt, vt, _) =>
          val id = nextId()
          views += s"LATERAL VIEW explode($expr) __g$id AS __k$id, __v$id"
          if (seg.equalsIgnoreCase("key")) { expr = s"__g$id.__k$id"; cur = kt }
          else { expr = s"__g$id.__v$id"; cur = vt }
        case other =>
          throw new IllegalStateException(s"unwalkable $other at $seg")
      }
      i += 1
    }
    cur match {
      case ArrayType(elem, _) =>
        val id = nextId()
        val fields = elem match {
          case st: StructType => st.fields.filterNot(f =>
            f.name.equalsIgnoreCase("pos") || f.name.equalsIgnoreCase("item"))
          case _ => Array.empty[StructField]
        }
        val structArgs = (Seq(s"'pos', bigint(__p$id)", s"'item', __i$id") ++
          fields.map(f => s"'${f.name}', __i$id.${f.name}")).mkString(", ")
        val outCols = (Seq("pos", "item") ++ fields.map(_.name)).mkString(", ")
        val kw = if (outer) "LATERAL VIEW OUTER" else "LATERAL VIEW"
        views += s"$kw posexplode(${filteredExpr(expr)}) __e$id AS __p$id, __i$id"
        views += s"LATERAL VIEW inline(array(named_struct($structArgs))) " +
          s"$userAlias AS $outCols"
        (views.toSeq, StructType(
          StructField("pos", LongType) +: StructField("item", elem) +:
            fields.toSeq))
      case MapType(kt, vt, _) =>
        val kw = if (outer) "LATERAL VIEW OUTER" else "LATERAL VIEW"
        val vFields = vt match {
          case st: StructType => st.fields.filterNot(f =>
            f.name.equalsIgnoreCase("key") ||
              f.name.equalsIgnoreCase("value"))
          case _ => Array.empty[StructField]
        }
        if (vFields.isEmpty) {
          views += s"$kw explode(${filteredExpr(expr)}) " +
            s"$userAlias AS key, value"
          (views.toSeq, StructType(Seq(
            StructField("key", kt), StructField("value", vt))))
        } else {
          // struct-valued map: repack so the value's fields are
          // addressable columns of the ref (m.f1 — Impala Path.java)
          val id = nextId()
          views += s"$kw explode(${filteredExpr(expr)}) __m$id " +
            s"AS __k$id, __v$id"
          val structArgs = (Seq(s"'key', __k$id", s"'value', __v$id") ++
            vFields.map(f => s"'${f.name}', __v$id.${f.name}"))
            .mkString(", ")
          val outCols = (Seq("key", "value") ++ vFields.map(_.name))
            .mkString(", ")
          views += s"LATERAL VIEW inline(array(named_struct(" +
            s"$structArgs))) $userAlias AS $outCols"
          (views.toSeq, StructType(
            StructField("key", kt) +: StructField("value", vt) +:
              vFields.toSeq))
        }
      case other =>
        throw new IllegalStateException(s"non-collection final $other")
    }
  }

  private def buildLaterals(baseName: String, baseType: DataType,
      path: Seq[String], userAlias: String, nextId: () => Int,
      filteredExpr: String => String = identity, outer: Boolean = false,
      derivedTable: Boolean = false)
      : (String, StructType) = {
    // inner lateral views for intermediate collections (beyond the
    // first, which becomes the subquery's FROM table-function)
    val innerViews = scala.collection.mutable.ArrayBuffer.empty[String]
    var fromTvf: Option[String] = None
    var expr = baseName
    var cur: DataType = baseType
    var i = 0

    def explodeStep(e: String): String = {
      val id = nextId()
      if (fromTvf.isEmpty) {
        fromTvf = Some(s"explode($e) AS __g$id")
        s"__g$id.col"
      } else {
        innerViews += s"LATERAL VIEW explode($e) __g$id AS __c$id"
        s"__g$id.__c$id"
      }
    }

    // struct-field steps ride the expression text; each intermediate
    // collection becomes a hidden explode
    while (i < path.length) {
      val seg = path(i)
      cur match {
        case st: StructType =>
          val f = st.fields.find(_.name.equalsIgnoreCase(seg)).get
          expr = s"$expr.$seg"
          cur = f.dataType
        case ArrayType(elem, _) =>
          // more path after an array: `item` (explicit or implied by a
          // struct-element field name) enters the element
          expr = explodeStep(expr)
          cur = elem
          val implicitStep = !seg.equalsIgnoreCase("item") && (elem match {
            case st: StructType =>
              st.fields.exists(_.name.equalsIgnoreCase(seg))
            case _ => false
          })
          if (implicitStep) i -= 1 // re-examine against the element
        case MapType(kt, vt, _) =>
          val id = nextId()
          if (fromTvf.isEmpty) {
            fromTvf = Some(s"explode($expr) AS __g$id")
            if (seg.equalsIgnoreCase("key")) { expr = s"__g$id.key"; cur = kt }
            else { expr = s"__g$id.value"; cur = vt }
          } else {
            innerViews += s"LATERAL VIEW explode($expr) __g$id AS __k$id, __v$id"
            if (seg.equalsIgnoreCase("key")) { expr = s"__g$id.__k$id"; cur = kt }
            else { expr = s"__g$id.__v$id"; cur = vt }
          }
        case other =>
          throw new IllegalStateException(s"unwalkable $other at $seg")
      }
      i += 1
    }

    // `expr` now denotes the final collection. A correlated-subquery
    // ref emits a plain derived table — the LATERAL marking belongs to
    // the enclosing subquery item, which is what carries the
    // correlation (probed: Spark decorrelates posexplode over an outer
    // column inside JOIN LATERAL, including under ORDER BY/LIMIT).
    def item(proj: String): String = {
      val from = fromTvf.get
      val kw = if (derivedTable) "" else "LATERAL "
      s"$kw(SELECT $proj FROM $from ${innerViews.mkString(" ")}) $userAlias"
    }
    cur match {
      case ArrayType(elem, _) =>
        // Impala's pos is BIGINT (`RowBatch` positional slot); Spark's
        // posexplode emits INT, so the projection re-exposes it cast.
        val id = nextId()
        val fields = elem match {
          case st: StructType => st.fields.filterNot(f =>
            f.name.equalsIgnoreCase("pos") || f.name.equalsIgnoreCase("item"))
          case _ => Array.empty[StructField]
        }
        // a composed map ref (map_entries array, __…_fl) with a
        // STRUCT value additionally exposes the value's fields
        // directly on the ref (m.f1 — Impala Path.java implicit match)
        val entryValueFields =
          if (path.lastOption.exists(_.endsWith("_fl")))
            elem match {
              case StructType(Array(k, v))
                  if k.name.equalsIgnoreCase("key") &&
                    v.name.equalsIgnoreCase("value") &&
                    v.dataType.isInstanceOf[StructType] =>
                v.dataType.asInstanceOf[StructType].fields.filterNot(f =>
                  Seq("key", "value", "pos", "item")
                    .exists(f.name.equalsIgnoreCase))
              case _ => Array.empty[StructField]
            }
          else Array.empty[StructField]
        val fn = if (outer) "posexplode_outer" else "posexplode"
        val (pcol, icol) =
          if (fromTvf.isEmpty) {
            fromTvf = Some(s"$fn(${filteredExpr(expr)}) AS __e$id")
            (s"__e$id.pos", s"__e$id.col")
          } else {
            val kw = if (outer) "LATERAL VIEW OUTER" else "LATERAL VIEW"
            innerViews +=
              s"$kw $fn(${filteredExpr(expr)}) __e$id AS __p$id, __i$id"
            (s"__p$id", s"__i$id")
          }
        val proj = (Seq(s"bigint($pcol) AS pos", s"$icol AS item") ++
          fields.map(f => s"$icol.${f.name} AS ${f.name}") ++
          entryValueFields.map(f =>
            s"$icol.value.${f.name} AS ${f.name}")).mkString(", ")
        // pos is a HIDDEN positional slot in Impala (resolvable by
        // name, never expanded from `*` — max-nesting-depth.test's
        // `select *` chains pin this); marked so star expansion skips
        (item(proj), StructType(
          StructField("pos", LongType, metadata = hiddenPosMeta) +:
            StructField("item", elem) +: (fields.toSeq ++
              entryValueFields.toSeq)))
      case MapType(kt, vt, _) =>
        val id = nextId()
        val fn = if (outer) "explode_outer" else "explode"
        // enumerate via map_entries(...): Spark's decorrelator rejects
        // a MAP-typed correlated column outright
        // (UNSUPPORTED_CORRELATED_REFERENCE_DATA_TYPE), while the
        // equivalent ARRAY-of-struct form decorrelates fine — and the
        // two enumerate identically when uncorrelated
        val (kcol, vcol) =
          if (fromTvf.isEmpty) {
            fromTvf =
              Some(s"$fn(map_entries(${filteredExpr(expr)})) AS __e$id")
            (s"__e$id.col.key", s"__e$id.col.value")
          } else {
            val kw = if (outer) "LATERAL VIEW OUTER" else "LATERAL VIEW"
            innerViews += s"$kw $fn(map_entries(${filteredExpr(expr)})) " +
              s"__e$id AS __me$id"
            (s"__me$id.key", s"__me$id.value")
          }
        // a STRUCT-valued map exposes the value's fields directly on
        // the ref (Impala Path.java implicit value match; lineage.test
        // pins `m.f1` and star = key + fields, value itself complex)
        val vFields = vt match {
          case st: StructType => st.fields.filterNot(f =>
            f.name.equalsIgnoreCase("key") ||
              f.name.equalsIgnoreCase("value"))
          case _ => Array.empty[StructField]
        }
        val proj = (Seq(s"$kcol AS key", s"$vcol AS value") ++
          vFields.map(f => s"$vcol.${f.name} AS ${f.name}")).mkString(", ")
        (item(proj), StructType(
          StructField("key", kt) +: StructField("value", vt) +:
            vFields.toSeq))
      case other =>
        throw new IllegalStateException(s"non-collection final $other")
    }
  }
}
