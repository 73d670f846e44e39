#!/usr/bin/env python3
"""Seeded Impala-dialect query gate, checked against DuckDB (dev tool,
NOT part of the library).

Generates COUNT SELECTs in the Impala dialect over the fixture tables
(fixed SEED), runs each through graft.DialectCheck (ImpalaDialect.sql on
the path GraftSession.route picks; results written the way graft.Verify
writes them), and compares every result with DuckDB's answer to the same
query through scripts/check.py's `compare`, as Impala's own random query
generator compares with Postgres (tests/comparison/discrepancy_searcher.py).

Usage: python3 scripts/dialect_check.py <sfDir> <outDir>

The grammar stays inside the semantics Impala and DuckDB share: inner and
left joins on key columns, filters, subqueries, GROUP BY/HAVING, CASE,
window functions, UNION [ALL] in an inline view, WITH, and a set of
builtins. Each query renders twice from one tree,
once per dialect; where the two dialects spell or define a construct
differently, KNOWN_DIFFERENCES names it with the Impala source that
defines it. Results follow the oracle-parity rules of
src/main/scala/graft/queries/Q.scala: money sums go through a DECIMAL
cast, timestamps are formatted, and every query ends in an ORDER BY over
every output column, then LIMIT.

Prints attempted, passed, failed and explained counts. A failure is
explained only by a FOUND entry below (an engine fault not mended yet);
the run exits 1 on any unexplained failure.
"""
import json
import os
import random
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402

SEED = 20261019
COUNT = 1000

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Constructs whose Impala spelling or definition differs from DuckDB's.
# The generator writes each side in its own dialect, so none of these is
# a discrepancy; each names the Impala source that defines Impala's side.
KNOWN_DIFFERENCES = [
    ("ORDER BY default NULL order: ASC puts NULLs last and DESC first; "
     "DuckDB puts them last both ways, so its side spells NULLS FIRST "
     "after DESC",
     "fe/src/main/java/org/apache/impala/analysis/OrderByElement.java"),
    ("`||` is logical OR in Impala, string concatenation in DuckDB; "
     "Impala's side never emits it, and concat() is NULL when any "
     "argument is, which DuckDB's side spells as `||`",
     "fe/src/main/cup/sql-parser.cup (KW_OR / `||`), "
     "be/src/exprs/string-functions-ir.cc Concat"),
    ("integer division is `DIV` in Impala, `//` in DuckDB",
     "fe/src/main/java/org/apache/impala/analysis/ArithmeticExpr.java"),
    ("`/` on integers returns DOUBLE in Impala; DuckDB's side casts to "
     "DOUBLE first",
     "fe/src/main/java/org/apache/impala/analysis/ArithmeticExpr.java"),
    ("nvl / ifnull / isnull(a, b) / zeroifnull / nullifzero / nvl2 are "
     "Impala names for COALESCE, NULLIF and CASE",
     "be/src/exprs/conditional-functions.h"),
    ("strleft / strright are left / right; from_timestamp(ts, pattern) "
     "takes a Java-style pattern where DuckDB's strftime takes a "
     "C-style one",
     "be/src/exprs/string-functions-ir.cc, "
     "be/src/exprs/timestamp-functions-ir.cc FromTimestamp"),
    ("datediff(a, b) is DuckDB's date_diff('day', b, a); days_add / "
     "months_add are interval additions",
     "be/src/exprs/timestamp-functions-ir.cc DateDiff, AddSub"),
    ("pmod(a, b) is the non-negative remainder, which DuckDB spells "
     "((a % b) + b) % b",
     "be/src/exprs/math-functions-ir.cc PmodBigInt"),
    ("if(cond, a, b) is CASE WHEN cond THEN a ELSE b END",
     "be/src/exprs/conditional-functions-ir.cc IfExpr"),
    ("sum over integers returns BIGINT in Impala, HUGEINT in DuckDB "
     "(which its client hands over as a float); DuckDB's side casts the "
     "sum to BIGINT",
     "fe/src/main/java/org/apache/impala/catalog/BuiltinsDb.java "
     "(sum registrations)"),
    ("regexp_replace replaces every match in Impala, only the first in "
     "DuckDB unless given the 'g' flag, which DuckDB's side passes",
     "be/src/exprs/string-functions-ir.cc RegexpReplace"),
    ("split_part of a NULL string is NULL in Impala, '' in DuckDB; "
     "DuckDB's side returns NULL for a NULL string",
     "be/src/exprs/string-functions-ir.cc SplitPart"),
    ("a string that is not a number CASTs to NULL in Impala and raises "
     "in DuckDB, whose side uses TRY_CAST",
     "be/src/exprs/cast-functions-ir.cc"),
    ("`ts + INTERVAL n DAYS` takes plural units; date_add / date_sub / "
     "adddate / subdate / add_months / years_add / weeks_add are "
     "interval additions; unix_timestamp(ts) is epoch(ts); to_date(ts) is "
     "the date",
     "be/src/exprs/timestamp-functions-ir.cc"),
    ("dayofweek counts Sunday as 1 in Impala, 0 in DuckDB; DuckDB's "
     "side adds 1",
     "be/src/exprs/timestamp-functions-ir.cc DayOfWeek"),
    ("`a <=> b` is IS NOT DISTINCT FROM; `s REGEXP p` is "
     "regexp_matches(s, p); locate(sub, s) is instr(s, sub); bitand(a, "
     "b) is a & b; mod(a, b) is a % b; trunc(ts, unit) is date_trunc",
     "fe/src/main/cup/sql-parser.cup, be/src/exprs/"
     "{string,bit-byte,math,timestamp}-functions-ir.cc"),
]

# Engine faults this gate has found and that are not mended yet: the
# name of each FOUND line in CHANGES.md, and a test of a failure's
# (query, reason) that says it is that fault.
FOUND = []

# ---------------------------------------------------------------------------
# Fixture schema: column -> kind. Kinds: int, money (2-decimal double),
# frac (discount/tax double), qty (integral double), str, ts.
TABLES = {
    "region": [("r_regionkey", "int"), ("r_name", "str")],
    "nation": [("n_nationkey", "int"), ("n_name", "str"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "int"), ("c_name", "str"),
                 ("c_nationkey", "int"), ("c_acctbal", "money"),
                 ("c_mktsegment", "str")],
    "supplier": [("s_suppkey", "int"), ("s_name", "str"),
                 ("s_nationkey", "int"), ("s_acctbal", "money")],
    "part": [("p_partkey", "int"), ("p_name", "str"), ("p_brand", "str"),
             ("p_type", "str"), ("p_size", "int"),
             ("p_retailprice", "money")],
    "orders": [("o_orderkey", "int"), ("o_custkey", "int"),
               ("o_orderstatus", "str"), ("o_totalprice", "money"),
               ("o_orderdate", "ts"), ("o_orderpriority", "str")],
    "lineitem": [("l_orderkey", "int"), ("l_partkey", "int"),
                 ("l_suppkey", "int"), ("l_linenumber", "int"),
                 ("l_quantity", "qty"), ("l_extendedprice", "money"),
                 ("l_discount", "frac"), ("l_tax", "frac"),
                 ("l_returnflag", "str"), ("l_linestatus", "str"),
                 ("l_shipdate", "ts")],
    "documents": [("doc_id", "int"), ("lang", "str"), ("source", "str"),
                  ("n_chars", "int")],
}
# a unique key of each table, so that a window ordered by the keys of
# every joined table has one answer. (l_orderkey, l_linenumber) is not
# unique in these fixtures; with l_extendedprice it is at sf0.001, sf0.01
# and sf0.1.
KEYS = {"region": ["r_regionkey"], "nation": ["n_nationkey"],
        "customer": ["c_custkey"], "supplier": ["s_suppkey"],
        "part": ["p_partkey"], "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey", "l_linenumber", "l_extendedprice"],
        "documents": ["doc_id"]}
# (table, column, table, column): the key joins of the fixtures
EDGES = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]
# literal pools per string column (values present in the fixtures, and
# some that are not)
STR_VALUES = {
    "r_name": ["AFRICA", "ASIA", "EUROPE", "MIDDLE EAST", "OCEANIA"],
    "n_name": ["NATION_0", "NATION_7", "NATION_12", "NATION_24"],
    "c_mktsegment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY"],
    "p_type": ["ECONOMY", "LARGE", "PROMO", "STANDARD"],
    "p_brand": ["Brand#1", "Brand#12", "Brand#25"],
    "o_orderstatus": ["F", "O", "P"],
    "o_orderpriority": ["1-URGENT", "2-HIGH", "5-LOW"],
    "l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"],
    "lang": ["de", "en", "zh"], "source": ["src0", "src3", "src11"],
}
LIKE_PATTERNS = ["A%", "%E%", "%1", "Brand#1%", "%#0000001%", "N%",
                 "blue%", "%widget", "src1%", "_-%"]
INT_VALUES = [0, 1, 2, 3, 5, 7, 10, 25, 50, 100, 250, 1000, 5000, 20000]
TS_VALUES = ["1995-01-01", "1996-06-15", "1998-08-02", "2000-01-01",
             "2001-03-31 12:00:00"]


class E:
    """An expression rendered in both dialects, with its kind (int, dbl,
    dec, str, ts, bool) and whether it can be NULL."""
    def __init__(self, imp, duck, kind, nullable):
        self.imp, self.duck, self.kind, self.nullable = imp, duck, kind, nullable


def both(fmt, *args, kind, nullable=None):
    """Render `fmt` ({} per argument) in both dialects."""
    return E(fmt.format(*(a.imp for a in args)),
             fmt.format(*(a.duck for a in args)), kind,
             any(a.nullable for a in args) if nullable is None else nullable)


def lit_int(v):
    return E(str(v), str(v), "int", False)


def lit_str(v):
    q = "'" + v.replace("'", "''") + "'"
    return E(q, q, "str", False)


def lit_ts(v):
    return E(f"CAST('{v}' AS TIMESTAMP)", f"CAST('{v}' AS TIMESTAMP)",
             "ts", False)


class Gen:
    def __init__(self, rnd):
        self.r = rnd

    # ---- FROM ------------------------------------------------------------
    def from_clause(self):
        r = self.r
        start = r.choice(list(TABLES))
        rels = [(start, "t0", False)]      # (table, alias, nullable side)
        imp = duck = f"{start} t0"
        joins = [0, 0, 1, 1, 2][r.randrange(5)]
        for _ in range(joins):
            have = {t for t, _, _ in rels}
            cand = [(a, ac, b, bc) for a, ac, b, bc in EDGES
                    if (a in have) != (b in have)]
            if not cand:
                break
            a, ac, b, bc = r.choice(cand)
            old, new, oc, nc = (a, b, ac, bc) if a in have else (b, a, bc, ac)
            oalias = next(al for t, al, _ in rels if t == old)
            alias = f"t{len(rels)}"
            left = r.random() < 0.35
            rels.append((new, alias, left))
            kw = "LEFT JOIN" if left else "JOIN"
            on = f" {kw} {new} {alias} ON {oalias}.{oc} = {alias}.{nc}"
            imp += on
            duck += on
        cols = []
        for t, al, nullable in rels:
            for c, kind in TABLES[t]:
                cols.append((E(f"{al}.{c}", f"{al}.{c}", kind, nullable), c))
        keys = [E(f"{al}.{k}", f"{al}.{k}", "int", n)
                for t, al, n in rels for k in KEYS[t]]
        return E(imp, duck, "rel", False), rels, cols, keys

    def col(self, cols, kinds):
        pool = [c for c in cols if c[0].kind in kinds]
        return self.r.choice(pool) if pool else None

    # ---- scalar expressions ---------------------------------------------
    def int_expr(self, cols, depth=0):
        r = self.r
        c = self.col(cols, ("int",))
        base = c[0]
        if depth > 1 or r.random() < 0.35:
            return base
        pick = r.randrange(24)
        k = r.choice([2, 3, 5, 7, 10])
        t = self.col(cols, ("ts",))
        if pick == 0:
            return both("abs({})", base, kind="int")
        if pick == 1:
            return E(f"{base.imp} % {k}", f"{base.duck} % {k}", "int",
                     base.nullable)
        if pick == 2:
            return E(f"pmod({base.imp}, {k})",
                     f"(({base.duck} % {k}) + {k}) % {k}", "int",
                     base.nullable)
        if pick == 3:
            return E(f"({base.imp} DIV {k})", f"({base.duck} // {k})",
                     "int", base.nullable)
        if pick == 4:
            # sums of these stay far from BIGINT overflow, where Impala
            # wraps and DuckDB widens to HUGEINT
            if r.random() < 0.3:
                return E(f"({base.imp} * {k})", f"({base.duck} * {k})",
                         "int", base.nullable)
            o = self.int_expr(cols, depth + 1)
            op = r.choice(["+", "-"])
            return both("({} " + op + " {})", base, o, kind="int")
        if pick == 5:
            s = self.str_expr(cols, depth + 1)
            return both("length({})", s, kind="int")
        if pick == 6 and t:
            fn = r.choice(["year", "month", "day", "quarter", "dayofyear",
                           "weekofyear"])
            return both(fn + "({})", t[0], kind="int")
        if pick == 7:
            v = lit_int(r.choice(INT_VALUES))
            fn = r.choice(["nvl", "ifnull", "isnull", "coalesce"])
            return E(f"{fn}({base.imp}, {v.imp})",
                     f"coalesce({base.duck}, {v.duck})", "int", False)
        if pick == 8:
            return E(f"zeroifnull({base.imp})", f"coalesce({base.duck}, 0)",
                     "int", False)
        if pick == 9:
            return E(f"nullifzero({base.imp} % {k})",
                     f"nullif({base.duck} % {k}, 0)", "int", True)
        if pick == 10:
            cond = self.pred(cols, depth + 1)
            o = self.int_expr(cols, depth + 1)
            return E(f"if({cond.imp}, {base.imp}, {o.imp})",
                     f"CASE WHEN {cond.duck} THEN {base.duck} "
                     f"ELSE {o.duck} END", "int", True)
        if pick == 11:
            return self.case_expr(cols, "int", depth)
        if pick == 12:
            t = [c for c in cols if c[0].kind == "ts"]
            if len(t) >= 1:
                a = r.choice(t)[0]
                b = lit_ts(r.choice(TS_VALUES))
                return E(f"datediff({a.imp}, {b.imp})",
                         f"date_diff('day', {b.duck}, {a.duck})", "int",
                         a.nullable)
            return base
        if pick == 13:
            s = self.str_expr(cols, depth + 1)
            sub = lit_str(r.choice(["e", "A", "#", "1", "an"]))
            return both("instr({}, {})", s, sub, kind="int")
        if pick == 14:
            o = self.col(cols, ("int",))[0]
            if base.nullable or o.nullable:
                return base
            fn = r.choice(["greatest", "least"])
            return both(fn + "({}, {})", base, o, kind="int")
        if pick == 15 and t:
            u = r.choice(["YEAR", "MONTH", "DAY"])
            return both(f"extract({u} FROM {{}})", t[0], kind="int")
        if pick == 16 and t:
            return E(f"dayofweek({t[0].imp})", f"(dayofweek({t[0].duck}) + 1)",
                     "int", t[0].nullable)
        if pick == 17:
            return E(f"bitand({base.imp}, {k})", f"({base.duck} & {k})", "int",
                     base.nullable)
        if pick == 18:
            s = self.str_expr(cols, depth + 1)
            sub = lit_str(r.choice(["e", "A", "#", "1", "an"]))
            return E(f"locate({sub.imp}, {s.imp})", f"instr({s.duck}, {sub.duck})",
                     "int", s.nullable)
        if pick == 19:
            o = self.int_expr(cols, depth + 1)
            return E(f"nvl2({base.imp}, {o.imp}, {k})",
                     f"CASE WHEN {base.duck} IS NOT NULL THEN {o.duck} "
                     f"ELSE {k} END", "int", o.nullable)
        if pick == 20:
            whens = r.sample([0, 1, 2, 3, 5, 7, 10], 2)
            arms = " ".join(f"WHEN {w} THEN {w * 10 + 1}" for w in whens)
            return E(f"CASE {base.imp} % {k} {arms} ELSE -1 END",
                     f"CASE {base.duck} % {k} {arms} ELSE -1 END", "int",
                     False)
        if pick == 21:
            return E(f"mod({base.imp}, {k})", f"{base.duck} % {k}", "int",
                     base.nullable)
        if pick == 22 and t:
            return E(f"unix_timestamp({t[0].imp})",
                     f"CAST(epoch({t[0].duck}) AS BIGINT)", "int",
                     t[0].nullable)
        if pick == 23:
            # a string that is not a number casts to NULL in Impala
            s = self.str_expr(cols, depth + 1)
            return E(f"CAST(regexp_extract({s.imp}, '([0-9]+)', 1) AS BIGINT)",
                     f"TRY_CAST(regexp_extract({s.duck}, '([0-9]+)', 1) "
                     f"AS BIGINT)", "int", True)
        return E(f"CAST({base.imp} AS BIGINT)", f"CAST({base.duck} AS BIGINT)",
                 "int", base.nullable)

    def dbl_expr(self, cols, depth=0):
        r = self.r
        c = self.col(cols, ("money", "qty", "frac"))
        if c is None or r.random() < 0.3:
            a = self.int_expr(cols, depth + 1)
            b = self.col(cols, ("int",))[0]
            k = r.choice([1, 2, 3, 7])
            return E(f"{a.imp} / ({b.imp} % 10 + {k})",
                     f"CAST({a.duck} AS DOUBLE) / ({b.duck} % 10 + {k})",
                     "dbl", a.nullable or b.nullable)
        base = E(c[0].imp, c[0].duck, "dbl", c[0].nullable)
        pick = r.randrange(4)
        if pick == 0:
            return both("abs({})", base, kind="dbl")
        if pick == 1:
            k = r.choice([2, 10, 100])
            return E(f"{base.imp} * {k}", f"{base.duck} * {k}", "dbl",
                     base.nullable)
        if pick == 2:
            o = self.col(cols, ("money", "qty", "frac"))[0]
            return both("({} - {})", base, o, kind="dbl")
        return base

    def money_dec(self, cols):
        """A 2-decimal money/frac/qty column as an exact decimal."""
        c = self.col(cols, ("money", "qty", "frac"))
        if c is None:
            return None
        p = "DECIMAL(4,2)" if c[0].kind == "frac" else "DECIMAL(12,2)"
        return both("CAST({} AS " + p + ")", c[0], kind="dec")

    def str_expr(self, cols, depth=0):
        r = self.r
        c = self.col(cols, ("str",))
        base = c[0]
        if depth > 1 or r.random() < 0.35:
            return base
        pick = r.randrange(21)
        n = r.choice([1, 2, 3, 5, 8])
        t = self.col(cols, ("ts",))
        if pick == 0:
            return both(r.choice(["upper", "lower"]) + "({})", base,
                        kind="str")
        if pick == 1:
            return both(f"substr({{}}, {r.choice([1, 2, 3])}, {n})", base,
                        kind="str")
        if pick == 2:
            return E(f"strleft({base.imp}, {n})", f"left({base.duck}, {n})",
                     "str", base.nullable)
        if pick == 3:
            return E(f"strright({base.imp}, {n})",
                     f"right({base.duck}, {n})", "str", base.nullable)
        if pick == 4:
            o = self.str_expr(cols, depth + 1)
            return E(f"concat({base.imp}, {o.imp})",
                     f"({base.duck} || {o.duck})", "str",
                     base.nullable or o.nullable)
        if pick == 5:
            fn = r.choice(["lpad", "rpad"])
            return both(f"{fn}({{}}, {r.choice([3, 10, 20])}, '*')", base,
                        kind="str")
        if pick == 6:
            return both("replace({}, 'A', 'x')", base, kind="str")
        if pick == 7:
            return both("reverse({})", base, kind="str")
        if pick == 8:
            return E(f"regexp_replace({base.imp}, '[AEIOUaeiou]', '#')",
                     f"regexp_replace({base.duck}, '[AEIOUaeiou]', '#', 'g')",
                     "str", base.nullable)
        if pick == 9:
            return both("regexp_extract({}, '([0-9]+)', 1)", base,
                        kind="str")
        if pick == 10:
            n = r.choice([1, 2, 3])
            return E(f"split_part({base.imp}, '#', {n})",
                     f"CASE WHEN {base.duck} IS NOT NULL THEN "
                     f"split_part({base.duck}, '#', {n}) END", "str",
                     base.nullable)
        if pick == 11:
            i = self.int_expr(cols, depth + 1)
            return E(f"CAST({i.imp} AS STRING)",
                     f"CAST({i.duck} AS VARCHAR)", "str", i.nullable)
        if pick == 12 and t:
            fmt = r.choice([("yyyy-MM-dd", "%Y-%m-%d"),
                            ("yyyy-MM", "%Y-%m"), ("yyyy", "%Y")])
            return E(f"from_timestamp({t[0].imp}, '{fmt[0]}')",
                     f"strftime({t[0].duck}, '{fmt[1]}')", "str",
                     t[0].nullable)
        if pick == 13:
            v = lit_str(r.choice(["none", "?"]))
            return E(f"nvl({base.imp}, {v.imp})",
                     f"coalesce({base.duck}, {v.duck})", "str", False)
        if pick == 14:
            return self.case_expr(cols, "str", depth)
        if pick == 15:
            return both("ltrim(rtrim({}))", base, kind="str")
        if pick == 16 and t:
            return E(f"CAST({t[0].imp} AS STRING)",
                     f"CAST({t[0].duck} AS VARCHAR)", "str", t[0].nullable)
        if pick == 17 and t:
            return both(r.choice(["dayname", "monthname"]) + "({})", t[0],
                        kind="str")
        if pick == 18 and t:
            u = r.choice([("MM", "month"), ("YEAR", "year"),
                          ("Q", "quarter")])
            return E(f"from_timestamp(trunc({t[0].imp}, '{u[0]}'), "
                     f"'yyyy-MM-dd')",
                     f"strftime(date_trunc('{u[1]}', {t[0].duck}), "
                     f"'%Y-%m-%d')", "str", t[0].nullable)
        if pick == 19 and t:
            return E(f"to_date({t[0].imp})",
                     f"strftime({t[0].duck}, '%Y-%m-%d')", "str",
                     t[0].nullable)
        return both("repeat({}, 2)", base, kind="str")

    def ts_expr(self, cols, depth=0):
        r = self.r
        t = self.col(cols, ("ts",))
        if t is None:
            return None
        base = t[0]
        pick = r.randrange(8)
        n = r.choice([1, 7, 30, 400])
        if pick == 0:
            return E(f"days_add({base.imp}, {n})",
                     f"({base.duck} + INTERVAL {n} DAY)", "ts", base.nullable)
        if pick == 4:
            fn, sign = r.choice([("date_add", "+"), ("date_sub", "-"),
                                 ("adddate", "+"), ("subdate", "-")])
            return E(f"{fn}({base.imp}, {n})",
                     f"({base.duck} {sign} INTERVAL {n} DAY)", "ts",
                     base.nullable)
        if pick == 5:
            sign = r.choice(["+", "-"])
            u = r.choice(["DAY", "WEEK", "MONTH", "YEAR"])
            m = r.choice([1, 2, 3])
            return E(f"{base.imp} {sign} INTERVAL {m} {u}S",
                     f"({base.duck} {sign} INTERVAL {m} {u})", "ts",
                     base.nullable)
        if pick == 6:
            m = r.choice([1, 3, 13])
            return E(f"add_months({base.imp}, {m})",
                     f"({base.duck} + INTERVAL {m} MONTH)", "ts",
                     base.nullable)
        if pick == 7:
            u = r.choice(["years", "weeks"])
            return E(f"{u}_add({base.imp}, 2)",
                     f"({base.duck} + INTERVAL 2 {u[:-1].upper()})", "ts",
                     base.nullable)
        if pick == 1:
            m = r.choice([1, 2, 12])
            return E(f"months_add({base.imp}, {m})",
                     f"({base.duck} + INTERVAL {m} MONTH)", "ts",
                     base.nullable)
        if pick == 2:
            u = r.choice(["year", "month"])
            return E(f"date_trunc('{u}', {base.imp})",
                     f"date_trunc('{u}', {base.duck})", "ts", base.nullable)
        return base

    def case_expr(self, cols, kind, depth):
        r = self.r
        arms = r.randrange(1, 3)
        imp, duck = ["CASE"], ["CASE"]
        for _ in range(arms):
            cond = self.pred(cols, depth + 1)
            val = (self.int_expr(cols, depth + 1) if kind == "int"
                   else self.str_expr(cols, depth + 1))
            imp.append(f"WHEN {cond.imp} THEN {val.imp}")
            duck.append(f"WHEN {cond.duck} THEN {val.duck}")
        if r.random() < 0.7:
            val = (lit_int(r.choice(INT_VALUES)) if kind == "int"
                   else lit_str(r.choice(["other", "-"])))
            imp.append(f"ELSE {val.imp}")
            duck.append(f"ELSE {val.duck}")
        imp.append("END")
        duck.append("END")
        return E(" ".join(imp), " ".join(duck), kind, True)

    # ---- predicates -----------------------------------------------------
    def pred(self, cols, depth=0):
        r = self.r
        if depth < 2 and r.random() < 0.3:
            a, b = self.pred(cols, depth + 1), self.pred(cols, depth + 1)
            op = r.choice(["AND", "OR"])
            return E(f"({a.imp} {op} {b.imp})", f"({a.duck} {op} {b.duck})",
                     "bool", True)
        if depth < 2 and r.random() < 0.08:
            a = self.pred(cols, depth + 1)
            return both("NOT ({})", a, kind="bool")
        pick = r.randrange(11)
        op = r.choice(["=", "<>", "<", "<=", ">", ">="])
        if pick in (0, 1):
            e = self.int_expr(cols, depth + 1)
            return both("{} " + op + " " + str(r.choice(INT_VALUES)), e,
                        kind="bool")
        if pick == 2:
            c = self.col(cols, ("str",))
            vals = STR_VALUES.get(c[1])
            if vals:
                if r.random() < 0.5:
                    v = lit_str(r.choice(vals))
                    return both("{} " + r.choice(["=", "<>", "<", ">="]) +
                                " {}", c[0], v, kind="bool")
                vs = ", ".join(lit_str(v).imp
                               for v in r.sample(vals, min(2, len(vals))))
                neg = r.choice(["", "NOT "])
                return both("{} " + neg + "IN (" + vs + ")", c[0],
                            kind="bool")
            v = lit_str(r.choice(LIKE_PATTERNS))
            neg = r.choice(["", "NOT "])
            return both("{} " + neg + "LIKE {}", c[0], v, kind="bool")
        if pick == 3:
            t = self.col(cols, ("ts",))
            if t:
                a, b = sorted(r.sample(TS_VALUES, 2))
                if r.random() < 0.5:
                    return both("{} BETWEEN {} AND {}", t[0], lit_ts(a),
                                lit_ts(b), kind="bool")
                return both("{} " + op + " {}", t[0], lit_ts(a), kind="bool")
            return self.pred(cols, depth + 1)
        if pick == 4:
            d = self.dbl_expr(cols, depth + 1)
            v = r.choice(["0", "0.05", "10", "100.5", "1000", "50000"])
            return both("{} " + op + " " + v, d, kind="bool")
        if pick == 5:
            e = self.int_expr(cols, depth + 1)
            a, b = sorted(r.sample(INT_VALUES, 2))
            return both(f"{{}} BETWEEN {a} AND {b}", e, kind="bool")
        if pick == 6:
            c = r.choice(cols)[0]
            return both("{} IS " + r.choice(["", "NOT "]) + "NULL", c,
                        kind="bool", nullable=False)
        if pick == 7:
            # Impala compares a TIMESTAMP with a string literal by casting
            # the literal
            t = self.col(cols, ("ts",))
            if t:
                v = lit_str(r.choice(TS_VALUES))
                return both("{} " + op + " {}", t[0], v, kind="bool")
        if pick == 8:
            a, b = self.int_expr(cols, depth + 1), self.int_expr(cols, depth + 1)
            if r.random() < 0.5:
                return E(f"{a.imp} <=> {b.imp}",
                         f"{a.duck} IS NOT DISTINCT FROM {b.duck}", "bool",
                         False)
            neg = r.choice(["", "NOT "])
            return both("{} IS " + neg + "DISTINCT FROM {}", a, b,
                        kind="bool", nullable=False)
        if pick == 9:
            c = self.col(cols, ("str",))[0]
            if r.random() < 0.5:
                v = lit_str(r.choice(LIKE_PATTERNS).lower())
                return both("{} ILIKE {}", c, v, kind="bool")
            v = lit_str(r.choice(["^[A-C]", "[0-9]$", "#0+1", "an", "^.{3}$"]))
            return E(f"{c.imp} REGEXP {v.imp}",
                     f"regexp_matches({c.duck}, {v.duck})", "bool",
                     c.nullable)
        e = self.int_expr(cols, depth + 1)
        vs = ", ".join(str(v) for v in r.sample(INT_VALUES, 3))
        return both("{} IN (" + vs + ")", e, kind="bool")

    def subquery_pred(self, rels):
        """[NOT] IN or correlated [NOT] EXISTS over a key join of one of
        the query's relations. Impala takes these only as top-level WHERE
        conjuncts."""
        r = self.r
        t, al, _ = r.choice(rels)
        edges = [(c1, t2, c2) for a, ac, b, bc in EDGES
                 for x, c1, t2, c2 in ((a, ac, b, bc), (b, bc, a, ac))
                 if x == t] + [(KEYS[t][0], t, KEYS[t][0])]
        c1, t2, c2 = r.choice(edges)
        scols = [(E(f"s0.{c}", f"s0.{c}", kind, False), c)
                 for c, kind in TABLES[t2]]
        inner = self.pred(scols, 1)
        neg = r.choice(["", "NOT "])
        if r.random() < 0.5:
            return both(f"{al}.{c1} {neg}IN (SELECT s0.{c2} FROM {t2} s0 "
                        "WHERE {})", inner, kind="bool")
        return both(f"{neg}EXISTS (SELECT 1 FROM {t2} s0 WHERE "
                    f"s0.{c2} = {al}.{c1} AND {{}})", inner, kind="bool")

    # ---- output items ---------------------------------------------------
    def scalar_item(self, cols):
        """A projection item whose value both engines print alike."""
        r = self.r
        k = r.randrange(10)
        if k < 4:
            return self.int_expr(cols)
        if k < 7:
            return self.str_expr(cols)
        if k < 8:
            return self.dbl_expr(cols)
        if k < 9:
            t = self.ts_expr(cols)
            if t is not None:
                return fmt_ts(t)
        d = self.money_dec(cols)
        if d is None:
            return self.int_expr(cols)
        return both("CAST({} AS DOUBLE)", d, kind="dbl")

    def agg_item(self, cols):
        r = self.r
        k = r.randrange(11)
        if k == 0:
            return E("count(*)", "count(*)", "int", False)
        if k == 1:
            c = r.choice(cols)[0]
            return both("count({})", c, kind="int", nullable=False)
        if k == 2:
            e = r.choice([self.int_expr, self.str_expr])(cols)
            return both("count(DISTINCT {})", e, kind="int", nullable=False)
        if k in (3, 4):
            e = r.choice([self.int_expr, self.str_expr, self.dbl_expr])(cols)
            return both(r.choice(["min", "max"]) + "({})", e, kind=e.kind,
                        nullable=True)
        if k == 5:
            t = self.col(cols, ("ts",))
            if t:
                return fmt_ts(both(r.choice(["min", "max"]) + "({})", t[0],
                                   kind="ts", nullable=True))
        if k in (5, 6):
            e = self.int_expr(cols)
            return E(f"sum({e.imp})", f"CAST(sum({e.duck}) AS BIGINT)",
                     "int", True)
        if k == 7:
            e = self.int_expr(cols)
            return both("avg({})", e, kind="dbl", nullable=True)
        d = self.money_dec(cols)
        if d is None:
            return E("count(*)", "count(*)", "int", False)
        if k == 8 and r.random() < 0.5:
            # an exact product before the sum: price * (1 - discount)
            f = [c for c in cols if c[0].kind == "frac"]
            if f:
                fd = both("CAST({} AS DECIMAL(4,2))", f[0][0], kind="dec")
                d = both("{} * (1 - {})", d, fd, kind="dec")
        if k == 9:
            return E(f"CAST(sum({d.imp}) AS DOUBLE) / count({d.imp})",
                     f"CAST(sum({d.duck}) AS DOUBLE) / count({d.duck})",
                     "dbl", True)
        return both("CAST(sum({}) AS DOUBLE)", d, kind="dbl", nullable=True)

    def window_item(self, cols, keys):
        r = self.r
        part = self.r.choice([c for c in cols if c[0].kind in ("int", "str")])
        over_p = f"PARTITION BY {part[0].imp}"
        over_pd = f"PARTITION BY {part[0].duck}"
        desc = r.random() < 0.3

        def order(exprs, unique):
            imp = ", ".join(e.imp + (" DESC" if desc else "") for e in exprs)
            duck = ", ".join(e.duck + (" DESC NULLS FIRST" if desc
                                       else " ASC NULLS LAST")
                             for e in exprs)
            if unique:
                imp += ", " + ", ".join(k.imp for k in keys)
                duck += ", " + ", ".join(k.duck + " ASC NULLS LAST"
                                         for k in keys)
            return imp, duck
        k = r.randrange(12)
        if k == 8:
            n = r.choice([2, 3, 4])
            oi, od = order([self.int_expr(cols)], True)
            return E(f"ntile({n}) OVER ({over_p} ORDER BY {oi})",
                     f"ntile({n}) OVER ({over_pd} ORDER BY {od})", "int", False)
        if k == 9:
            oi, od = order([self.col(cols, ("int", "str"))[0]], False)
            return E(f"percent_rank() OVER ({over_p} ORDER BY {oi})",
                     f"percent_rank() OVER ({over_pd} ORDER BY {od})", "dbl",
                     False)
        if k == 10:
            e = self.int_expr(cols)
            oi, od = order([self.col(cols, ("int",))[0]], True)
            frame = "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"
            return E(f"sum({e.imp}) OVER ({over_p} ORDER BY {oi} {frame})",
                     f"CAST(sum({e.duck}) OVER ({over_pd} ORDER BY {od} "
                     f"{frame}) AS BIGINT)", "int", True)
        if k == 11:
            e = r.choice([self.int_expr, self.str_expr])(cols)
            oi, od = order([self.col(cols, ("int",))[0]], True)
            return E(f"last_value({e.imp}) OVER ({over_p} ORDER BY {oi})",
                     f"last_value({e.duck}) OVER ({over_pd} ORDER BY {od})",
                     e.kind, True)
        if k == 0:
            oi, od = order([self.int_expr(cols)], True)
            return E(f"row_number() OVER ({over_p} ORDER BY {oi})",
                     f"row_number() OVER ({over_pd} ORDER BY {od})",
                     "int", False)
        if k == 1:
            fn = r.choice(["rank", "dense_rank"])
            oi, od = order([self.col(cols, ("int", "str", "money"))[0]],
                           False)
            return E(f"{fn}() OVER ({over_p} ORDER BY {oi})",
                     f"{fn}() OVER ({over_pd} ORDER BY {od})", "int", False)
        if k == 2:
            e = self.int_expr(cols)
            return E(f"sum({e.imp}) OVER ({over_p})",
                     f"CAST(sum({e.duck}) OVER ({over_pd}) AS BIGINT)",
                     "int", True)
        if k == 3:
            e = self.int_expr(cols)
            oi, od = order([self.col(cols, ("int",))[0]], True)
            frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            return E(f"sum({e.imp}) OVER ({over_p} ORDER BY {oi} {frame})",
                     f"CAST(sum({e.duck}) OVER ({over_pd} ORDER BY {od} "
                     f"{frame}) AS BIGINT)", "int", True)
        if k == 4:
            return E(f"count(*) OVER ({over_p})",
                     f"count(*) OVER ({over_pd})", "int", False)
        if k == 5:
            fn = r.choice(["lag", "lead"])
            e = r.choice([self.int_expr, self.str_expr])(cols)
            oi, od = order([self.col(cols, ("int",))[0]], True)
            return E(f"{fn}({e.imp}, 1) OVER ({over_p} ORDER BY {oi})",
                     f"{fn}({e.duck}, 1) OVER ({over_pd} ORDER BY {od})",
                     e.kind, True)
        if k == 6:
            e = r.choice([self.int_expr, self.str_expr])(cols)
            fn = r.choice(["min", "max"])
            return E(f"{fn}({e.imp}) OVER ({over_p})",
                     f"{fn}({e.duck}) OVER ({over_pd})", e.kind, True)
        e = r.choice([self.int_expr, self.str_expr])(cols)
        oi, od = order([self.col(cols, ("int",))[0]], True)
        return E(f"first_value({e.imp}) OVER ({over_p} ORDER BY {oi})",
                 f"first_value({e.duck}) OVER ({over_pd} ORDER BY {od})",
                 e.kind, True)

    # ---- whole queries --------------------------------------------------
    def query(self):
        r = self.r
        rel, rels, cols, keys = self.from_clause()
        where = self.pred(cols) if r.random() < 0.7 else None
        if r.random() < 0.15:
            sub = self.subquery_pred(rels)
            where = sub if where is None else both("{} AND {}", where, sub,
                                                   kind="bool")
        shape = r.choices(["select", "aggregate", "window"], [3, 5, 2])[0]
        group = []
        having = None
        distinct = ""
        if shape == "aggregate":
            group = [r.choice([self.int_expr, self.str_expr])(cols)
                     for _ in range(r.randrange(0, 3))]
            items = group + [self.agg_item(cols)
                             for _ in range(r.randrange(1, 4))]
            if r.random() < 0.3:
                h = self.agg_item(cols)
                if h.kind in ("int", "dbl"):
                    having = both("{} > " + str(r.choice([0, 1, 2, 10, 100])),
                                  h, kind="bool")
        elif shape == "window":
            items = [self.scalar_item(cols)
                     for _ in range(r.randrange(1, 3))]
            items += [self.window_item(cols, keys)
                      for _ in range(r.randrange(1, 3))]
        else:
            items = [self.scalar_item(cols) for _ in range(r.randrange(1, 5))]
            if r.random() < 0.25:
                distinct = "DISTINCT "
        names = [f"c{i}" for i in range(len(items))]
        sel_i = ", ".join(f"{e.imp} AS {n}" for e, n in zip(items, names))
        sel_d = ", ".join(f"{e.duck} AS {n}" for e, n in zip(items, names))
        imp = f"SELECT {distinct}{sel_i} FROM {rel.imp}"
        duck = f"SELECT {distinct}{sel_d} FROM {rel.duck}"
        if where is not None:
            imp += f" WHERE {where.imp}"
            duck += f" WHERE {where.duck}"
        if group:
            imp += " GROUP BY " + ", ".join(g.imp for g in group)
            duck += " GROUP BY " + ", ".join(g.duck for g in group)
        if having is not None:
            imp += f" HAVING {having.imp}"
            duck += f" HAVING {having.duck}"
        if shape == "select" and r.random() < 0.3:
            # a trailing ORDER BY/LIMIT binds to the last bare operand of a
            # set operation in Impala (IMPALA-4741), so the union sits in
            # an inline view under the query's ORDER BY
            op = r.choice(["UNION ALL", "UNION"])
            w = self.pred(cols)
            imp = (f"SELECT * FROM ({imp} {op} SELECT {distinct}{sel_i} "
                   f"FROM {rel.imp} WHERE {w.imp}) u")
            duck = (f"SELECT * FROM ({duck} {op} SELECT {distinct}{sel_d} "
                    f"FROM {rel.duck} WHERE {w.duck}) u")
        elif shape == "aggregate" and r.random() < 0.2:
            imp = f"WITH v AS ({imp}) SELECT * FROM v"
            duck = f"WITH v AS ({duck}) SELECT * FROM v"
        desc = [r.random() < 0.25 for _ in names]
        imp += " ORDER BY " + ", ".join(
            n + (" DESC" if d else "") for n, d in zip(names, desc))
        duck += " ORDER BY " + ", ".join(
            n + (" DESC NULLS FIRST" if d else " ASC NULLS LAST")
            for n, d in zip(names, desc))
        limit = f" LIMIT {r.choice([5, 10, 20, 50, 100, 1000])}"
        if r.random() < 0.15:
            limit += f" OFFSET {r.choice([1, 3, 10])}"
        return imp + limit, duck + limit


def fmt_ts(t):
    """Q.scala's rule: timestamps are output formatted."""
    return E(f"from_timestamp({t.imp}, 'yyyy-MM-dd HH:mm:ss')",
             f"strftime({t.duck}, '%Y-%m-%d %H:%M:%S')", "str", t.nullable)


def generate(seed=SEED, count=COUNT):
    """[(name, impala_sql, duckdb_sql)] for `count` queries from `seed`."""
    g = Gen(random.Random(seed))
    out = []
    for i in range(count):
        imp, duck = g.query()
        assert "||" not in imp, imp
        out.append((f"dq{i:04d}", imp, duck))
    return out


def write_queries(queries, out_dir):
    """The Spark side's query file and the DuckDB side's oracle file."""
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/dialect_queries.tsv", "w") as f:
        for name, imp, _ in queries:
            f.write(f"{name}\t{imp}\n")
    with open(f"{out_dir}/oracle_sql.json", "w") as f:
        json.dump({n: d for n, _, d in queries}, f, indent=0, sort_keys=True)


def run_spark(sf_dir, out_dir):
    """Run graft.DialectCheck; {name: error} for queries that threw."""
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"runMain graft.DialectCheck {sf_dir} "
           f"{out_dir}/dialect_queries.tsv {out_dir}"]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    log = p.stdout + p.stderr
    with open(f"{out_dir}/spark.log", "w") as f:
        f.write(log)
    if "[dialect] attempted=" not in log:
        sys.exit(f"graft.DialectCheck did not finish; see {out_dir}/spark.log")
    errors = {}
    for m in re.finditer(r"\[dialect\] (dq\d+) failed: (.*)", log):
        errors[m.group(1)] = m.group(2)
    return errors


def main(sf_dir, out_dir):
    queries = generate()
    write_queries(queries, out_dir)
    errors = run_spark(sf_dir, out_dir)
    con = check.connect(sf_dir)
    # DuckDB 1.0 returns different rows from run to run for some window
    # queries when it runs them on several threads (two lead() windows
    # over different partitionings); one thread gives the same answer
    # every time
    con.sql("SET threads=1")
    passed, explained, unexplained = 0, [], []
    for name, imp, duck in queries:
        why, _ = check.compare(con, duck, f"{out_dir}/{name}")
        if why is None:
            passed += 1
            continue
        if name in errors:
            why = f"spark error: {errors[name]}"
        found = [f for f, test in FOUND if test(imp, why)]
        (explained if found else unexplained).append((name, imp, why, found))
    for name, imp, why, found in explained + unexplained:
        tag = f"EXPLAINED ({found[0]})" if found else "FAIL"
        print(f"{tag} {name}: {why}\n  {imp}")
    failed = len(explained) + len(unexplained)
    print(f"[dialect_check] attempted={len(queries)} passed={passed} "
          f"failed={failed} explained={len(explained)} "
          f"unexplained={len(unexplained)}")
    return 1 if unexplained else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: dialect_check.py <sfDir> <outDir>")
    sys.exit(main(sys.argv[1], sys.argv[2]))
