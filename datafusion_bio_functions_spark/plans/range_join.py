"""Transparent range-join rewrite for :func:`bio_sql`.

The reference installs ``IntervalJoinPhysicalOptimizationRule`` which
replaces a ``HashJoinExec``/``NestedLoopJoinExec`` whose join filter is an
``AND`` of two binary range comparisons with the specialized
``IntervalJoinExec`` (``datafusion/bio-function-ranges/src/physical_planner/
bio_physical_planner.rs:27-146``).  The predicate parser accepts the 8
comparator arrangements — each of the two conjuncts may be written with the
left or the right table first, with ``<``/``<=``/``>``/``>=`` — and
normalizes strict comparators by decrementing the *end* bound
(``physical_planner/intervals.rs:30-218``; ``minus_one`` at ``:63-65``).
Anything more complex (arithmetic operands, OR, a bound set twice) is
rejected and the stock join plan is kept (``intervals.rs:220-525`` test
contract).

PySpark cannot inject physical-planner rules, so the same capability is
provided one level up: :func:`rewrite_range_joins` detects the canonical

    FROM <tbl> [AS] a JOIN <tbl> [AS] b
      ON a.contig = b.contig AND <range cmp> AND <range cmp>

shape in the SQL text handled by ``bio_sql``, evaluates it through
:func:`operators.intervals.interval_join` with its ``auto`` order, binds
the pair result to a temp view, and rewrites the rest of the statement
against that view.  An inner join whose smaller side fits the broadcast
bounds answers from the shared CollectLeft index — the reference's own
``IntervalJoinExec`` shape: the small side collected into a per-contig
sorted index (memoized, so a fixed side is collected once per session),
the other side streamed past it through one Arrow UDF, no exchange.  Other
joins run the shuffle-parallel binned strategy, the 100 TB path.  Without
the rewrite Catalyst plans the contig-keyed sort-merge join with the range
residual as a post-filter, which is quadratic within a contig — the exact
pathology the reference's rule exists to remove.

The equality conjunct is optional: a pure range join (the reference's
``NestedLoopJoinExec`` case) is handled with a constant partition key.
Parsing is deliberately conservative: on any deviation the query falls back
to ``spark.sql`` unchanged, mirroring the reference's ``try_parse(...).ok()``
fallback (``intervals.rs:30-37``).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import intervals as iv

#: Session conf key: set to ``false`` to disable the rewrite (the reference
#: equivalent is building a session without the bio optimizer rule).
RANGE_JOIN_REWRITE_KEY = "spark.bio.sql.rangeJoinRewrite"

#: Introspection hook for tests/plan evidence: metadata of the rewrite
#: applied by the most recent ``bio_sql`` call, or None if none applied.
LAST_REWRITE: dict | None = None

_VIEW_SEQ = itertools.count()

_KEYWORDS = frozenset(
    "join inner left right full cross on where group order limit having union "
    "select from as and or not between in is null".split()
)

#: ``FROM t1 [AS] a JOIN t2 [AS] b ON`` — plain table identifiers only
#: (the reference operates post-planning where sides are already resolved;
#: here sub-selects fall back to stock Spark SQL).
#: Join types the reference's ``IntervalJoinExec`` accepts (Inner, Right,
#: RightSemi, RightAnti with probe = right, ``interval_join.rs:218-221``);
#: exposed here in the symmetric left-handed SQL spellings.
_JOIN_TYPES = {
    "": "inner",
    "INNER": "inner",
    "LEFT": "left",
    "LEFT OUTER": "left",
    "LEFT SEMI": "left_semi",
    "SEMI": "left_semi",
    "LEFT ANTI": "left_anti",
    "ANTI": "left_anti",
}

_FROM_JOIN_RE = re.compile(
    r"\bFROM\s+([A-Za-z_][\w.]*)"
    r"(?:\s+(?:AS\s+)?(?!JOIN\b|INNER\b|LEFT\b|SEMI\b|ANTI\b|ON\b)([A-Za-z_]\w*))?"
    r"\s+(INNER\s+|LEFT\s+OUTER\s+|LEFT\s+SEMI\s+|LEFT\s+ANTI\s+|LEFT\s+|SEMI\s+|ANTI\s+)?"
    r"JOIN\s+([A-Za-z_][\w.]*)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?"
    r"\s+ON\b",
    re.IGNORECASE,
)

_COND_END_RE = re.compile(
    r"\b(WHERE|GROUP|ORDER|LIMIT|HAVING|UNION|INTERSECT|EXCEPT|JOIN|INNER|"
    r"LEFT|RIGHT|FULL|CROSS|WINDOW|QUALIFY)\b|[;)]",
    re.IGNORECASE,
)

_CMP_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(<=|>=|<|>|=)\s*"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*$"
)


class _Reject(Exception):
    """Condition shape outside the supported grammar → keep the stock plan."""


@dataclass
class _Builder:
    """Port of the reference ``IntervalBuilder`` (intervals.rs:127-185):
    each interval bound may be assigned exactly once; strict comparators
    mark the corresponding *end* bound for a ``-1`` adjustment."""

    ls: str | None = None
    le: str | None = None
    rs: str | None = None
    re_: str | None = None
    le_minus: bool = False
    re_minus: bool = False
    eq: list[tuple[str, str]] = field(default_factory=list)

    def _set(self, slot: str, col: str) -> None:
        if getattr(self, slot) is not None:
            raise _Reject(f"{slot} already set")
        setattr(self, slot, col)

    def add(self, qual_l: str, col_l: str, op: str, qual_r: str, col_r: str,
            la: str, ra: str) -> None:
        sides = {la: "left", ra: "right"}
        if qual_l not in sides or qual_r not in sides:
            raise _Reject(f"unknown qualifier {qual_l!r}/{qual_r!r}")
        sl, sr = sides[qual_l], sides[qual_r]
        if sl == sr:
            raise _Reject("comparison does not cross the join")
        if op == "=":
            lcol, rcol = (col_l, col_r) if sl == "left" else (col_r, col_l)
            self.eq.append((lcol, rcol))
            return
        strict = op in ("<", ">")
        # the four orientations of parse_condition (intervals.rs:67-125);
        # strict ops decrement the end bound participating in the comparison
        if sl == "right" and op in ("<", "<="):      # rs </<= le
            self._set("rs", col_l)
            self._set("le", col_r)
            self.le_minus = strict
        elif sl == "left" and op in ("<", "<="):     # ls </<= re
            self._set("ls", col_l)
            self._set("re_", col_r)
            self.re_minus = strict
        elif sl == "right" and op in (">", ">="):    # re >/>= ls
            self._set("re_", col_l)
            self._set("ls", col_r)
            self.re_minus = strict
        else:                                        # le >/>= rs
            self._set("le", col_l)
            self._set("rs", col_r)
            self.le_minus = strict

    def finish(self) -> None:
        if None in (self.ls, self.le, self.rs, self.re_):
            raise _Reject("incomplete interval bounds")
        # multiple equalities are fine — the reference's hash join carries
        # them as composite equi keys (e.g. contig AND strand in the
        # nearest-join test, integration_test.rs:373-418)


def _split_top_and(cond: str) -> list[str]:
    parts, depth, start = [], 0, 0
    i = 0
    up = cond.upper()
    while i < len(cond):
        ch = cond[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and up.startswith("AND", i) and \
                (i == 0 or not cond[i - 1].isalnum()) and \
                (i + 3 >= len(cond) or not cond[i + 3].isalnum()):
            parts.append(cond[start:i])
            start = i + 3
            i += 3
            continue
        i += 1
    parts.append(cond[start:])
    return parts


def _scan_condition(query: str, pos: int) -> tuple[str, int]:
    """Return (condition text, end offset) for the ON clause starting at
    *pos*: scan to the first top-level clause keyword / statement end."""
    depth = 0
    i = pos
    while i < len(query):
        ch = query[i]
        if ch == "'":
            j = query.find("'", i + 1)
            if j < 0:
                break
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return query[pos:i], i
            depth -= 1
        elif ch == ";" and depth == 0:
            return query[pos:i], i
        elif depth == 0:
            m = _COND_END_RE.match(query, i)
            if m and m.group(1):
                return query[pos:i], i
        i += 1
    return query[pos:], len(query)


def _parse(query: str) -> dict | None:
    matches = list(_FROM_JOIN_RE.finditer(query))
    if len(matches) != 1:
        return None
    # a second JOIN anywhere (multi-way join) is out of grammar
    if len(re.findall(r"\bJOIN\b", query, re.IGNORECASE)) != 1:
        return None
    m = matches[0]
    t1, a1, jt, t2, a2 = m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)
    how = _JOIN_TYPES.get(" ".join((jt or "").upper().split()))
    if how is None:
        return None
    la = a1 or t1.split(".")[-1]
    ra = a2 or t2.split(".")[-1]
    if la.lower() in _KEYWORDS or ra.lower() in _KEYWORDS or la == ra:
        return None
    cond, end = _scan_condition(query, m.end())
    b = _Builder()
    try:
        conjuncts = _split_top_and(cond)
        if len(conjuncts) < 2:
            raise _Reject("need 2 range conjuncts (+ optional equalities)")
        for c in conjuncts:
            c = c.strip()
            while c.startswith("(") and c.endswith(")"):
                c = c[1:-1].strip()
            cm = _CMP_RE.match(c)
            if not cm:
                raise _Reject(f"unsupported conjunct {c!r}")
            b.add(cm.group(1), cm.group(2), cm.group(3),
                  cm.group(4), cm.group(5), la, ra)
        b.finish()
    except _Reject:
        return None
    return {
        "span": (m.start(), end),
        "tables": (t1, t2),
        "aliases": (la, ra),
        "builder": b,
        "how": how,
    }


def rewrite_range_joins(spark: SparkSession, query: str) -> str:
    """Detect and evaluate a canonical range join in *query*; return the
    rewritten statement (or *query* unchanged when no rewrite applies).
    Sets :data:`LAST_REWRITE` for introspection."""
    global LAST_REWRITE
    LAST_REWRITE = None
    if (spark.conf.get(RANGE_JOIN_REWRITE_KEY, "true") or "true").lower() == "false":
        return query
    parsed = _parse(query)
    if parsed is None:
        return query
    b: _Builder = parsed["builder"]
    t1, t2 = parsed["tables"]
    la, ra = parsed["aliases"]
    try:
        l_df, r_df = spark.table(t1), spark.table(t2)
    except Exception:
        return query
    l_cols, r_cols = list(l_df.columns), list(r_df.columns)
    need_l = {b.ls, b.le} | {lc for lc, _ in b.eq}
    need_r = {b.rs, b.re_} | {rc for _, rc in b.eq}
    if not need_l <= set(l_cols) or not need_r <= set(r_cols):
        return query

    if len(b.eq) == 1:
        lkey, rkey = b.eq[0]
    elif b.eq:
        # composite equi keys (the reference hash join carries any number;
        # the interval operator takes one partition key, so concatenate)
        lkey = rkey = "__bio_key"
        sep = F.lit("\x1f")
        l_df = l_df.withColumn(
            lkey, F.concat_ws("", *[F.concat(F.col(c).cast("string"), sep) for c, _ in b.eq])
        )
        r_df = r_df.withColumn(
            rkey, F.concat_ws("", *[F.concat(F.col(c).cast("string"), sep) for _, c in b.eq])
        )
        # SQL equality never matches NULL keys — null out the composite
        # when any component is null so those rows cannot pair
        for df_name, df, cols in (("l", l_df, [c for c, _ in b.eq]), ("r", r_df, [c for _, c in b.eq])):
            cond_any_null = None
            for c in cols:
                cn = F.col(c).isNull()
                cond_any_null = cn if cond_any_null is None else (cond_any_null | cn)
            if df_name == "l":
                l_df = l_df.withColumn(lkey, F.when(~cond_any_null, F.col(lkey)))
            else:
                r_df = r_df.withColumn(rkey, F.when(~cond_any_null, F.col(rkey)))
    else:
        # NestedLoopJoinExec case (bio_physical_planner.rs:63-91): a pure
        # range join; a constant key keeps the same operator applicable —
        # the binned strategy still spreads work across (key, bin) buckets.
        lkey = rkey = "__bio_key"
        l_df = l_df.withColumn(lkey, F.lit(0))
        r_df = r_df.withColumn(rkey, F.lit(0))
    l2 = l_df.withColumns({
        "__bio_ls": F.col(b.ls).cast("long"),
        "__bio_le": F.col(b.le).cast("long") - (1 if b.le_minus else 0),
    })
    r2 = r_df.withColumns({
        "__bio_rs": F.col(b.rs).cast("long"),
        "__bio_re": F.col(b.re_).cast("long") - (1 if b.re_minus else 0),
    })
    how = parsed["how"]

    # ``SET bio.interval_join_algorithm TO CoitreesNearest`` turns the same
    # join into the genomic as-of join: exactly one row per probe (right)
    # row — the overlap if any, else the nearest by distance, else NULL
    # left columns (README.md:456-469; integration_test.rs test_nearest).
    from ..session import INTERVAL_JOIN_ALGORITHM_KEY

    configured = (spark.conf.get(INTERVAL_JOIN_ALGORITHM_KEY, None) or "").lower()
    nearest_mode = configured in ("nearest", "coitreesnearest")
    if nearest_mode and how == "inner":
        pairs = iv.nearest(
            l2, r2, k=1,
            cols_left=(lkey, "__bio_ls", "__bio_le"),
            cols_right=(rkey, "__bio_rs", "__bio_re"),
            include_overlaps=True, compute_distance=False,
        )
    else:
        pairs = iv.interval_join(
            l2, r2, (lkey, "__bio_ls", "__bio_le"), (rkey, "__bio_rs", "__bio_re"),
            filter_op="weak", how=how,
        )

    semi = how in ("left_semi", "left_anti")  # only left columns survive
    disjoint = not (set(l_cols) & set(r_cols))
    sel = []
    for c in l_cols:
        sel.append(F.col(f"left_{c}").alias(c if disjoint else f"{la}_{c}"))
    for c in () if semi else r_cols:
        sel.append(F.col(f"right_{c}").alias(c if disjoint else f"{ra}_{c}"))
    if not disjoint:
        # side-unique columns additionally get their bare name so
        # unqualified references keep resolving (projection pruning drops
        # whichever aliases the outer query does not touch)
        for c in set(l_cols) - set(r_cols):
            sel.append(F.col(f"left_{c}").alias(c))
        for c in () if semi else set(r_cols) - set(l_cols):
            sel.append(F.col(f"right_{c}").alias(c))
    out = pairs.select(*sel)

    view = f"__bio_rj_{next(_VIEW_SEQ)}"
    out.createOrReplaceTempView(view)
    s, e = parsed["span"]
    head, tail = query[:s], query[e:]
    if not disjoint:
        for alias in (la, ra):
            pat = re.compile(rf"\b{re.escape(alias)}\.([A-Za-z_]\w*)")
            head = pat.sub(rf"{alias}_\1", head)
            tail = pat.sub(rf"{alias}_\1", tail)
    else:
        for alias in (la, ra):
            pat = re.compile(rf"\b{re.escape(alias)}\.([A-Za-z_]\w*)")
            head = pat.sub(r"\1", head)
            tail = pat.sub(r"\1", tail)
    LAST_REWRITE = {
        "tables": (t1, t2),
        "aliases": (la, ra),
        "equi": bool(b.eq),
        "n_equi": len(b.eq),
        "nearest": nearest_mode and how == "inner",
        "how": how,
        "bounds": (b.ls, b.le, b.rs, b.re_),
        "minus_one": (b.le_minus, b.re_minus),
        "view": view,
    }
    return f"{head} FROM {view} {tail}"


def last_rewrite() -> dict | None:
    return LAST_REWRITE
