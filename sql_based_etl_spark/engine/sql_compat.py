"""Arc/Spark-3 SQL compatibility shims.

The reference pipeline was written for Arc on Spark 3.0, whose
``BooleanEquality`` type-coercion rule allowed ``int_col = true``
(scd2-job.ipynb:313 ``old.iscurrent=true``, :346 merge condition).
Spark 4 removed that rule — the comparison is now a hard
DATATYPE_MISMATCH — so running the reference's SQL unchanged needs the
coercion reproduced at the engine boundary.

It also owns the one predicate form both table formats skip data with:
a SQL condition reduces to a Kleene scope tree
(:func:`condition_scope_tree`), a declarative filter list builds the
same tree (:func:`filters_tree`), and each format evaluates the tree per
file (:func:`eval_scope_tree` + :func:`stats_value_set`, literals cast
by :func:`prune_coerce`) to prune scans and scope commit conflicts.
"""

from __future__ import annotations

import datetime
import re

_RHS = re.compile(r"(=|<>|!=)(\s*)(true|false)\b", re.IGNORECASE)
_LHS = re.compile(r"\b(true|false)(\s*)(=|<>|!=)", re.IGNORECASE)
_QUALIFIED = re.compile(
    r"\b(\w+)\.(\w+)\s*(=|<>|!=)\s*(true|false)\b", re.IGNORECASE
)

# regions the rewrites must never touch: '…' string literals (with ''
# escapes), "…" quoted identifiers, `…` backtick identifiers, -- line
# comments, /* */ block comments
_PROTECTED = re.compile(
    r"('(?:[^']|'')*')"
    r'|("(?:[^"]|"")*")'
    r"|(`[^`]*`)"
    r"|(--[^\n]*)"
    r"|(/\*.*?\*/)",
    re.DOTALL,
)


def _sub_outside_quotes(sql: str, fn) -> str:
    """Apply ``fn`` to the segments of ``sql`` outside string literals,
    quoted identifiers, and comments — a comparison text INSIDE a
    literal is data, and rewriting it would change values, not
    semantics."""
    out, pos = [], 0
    for m in _PROTECTED.finditer(sql):
        out.append(fn(sql[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(fn(sql[pos:]))
    return "".join(out)


def _lit(word: str) -> str:
    return "1" if word.lower() == "true" else "0"


def coerce_boolean_equality(sql: str) -> str:
    """Rewrite boolean literals in =/<> comparisons to 1/0 (Spark 3's
    BooleanEquality semantics), skipping string literals, quoted
    identifiers, and comments. Use ONLY as an error-driven retry: a
    query whose first analysis succeeded never sees this, so genuine
    boolean-column comparisons are untouched."""

    def rewrite(segment: str) -> str:
        segment = _RHS.sub(
            lambda m: m.group(1) + m.group(2) + _lit(m.group(3)), segment
        )
        return _LHS.sub(
            lambda m: _lit(m.group(1)) + m.group(2) + m.group(3), segment
        )

    return _sub_outside_quotes(sql, rewrite)


def coerce_condition_for_types(cond: str, dtypes_by_alias: dict[str, dict[str, str]]) -> str:
    """Dtype-aware rewrite for merge conditions: only a comparison
    ``alias.col = true|false`` whose column is known NON-boolean gets
    its literal rewritten to 1/0 — boolean columns keep their literal.
    ``dtypes_by_alias``: {"target": {col: dtype}, "source": {...}}."""

    def repl(m: re.Match) -> str:
        alias, col, op, word = m.group(1), m.group(2), m.group(3), m.group(4)
        dt = dtypes_by_alias.get(alias.lower(), {}).get(col)
        if dt is not None and dt != "boolean":
            return f"{alias}.{col} {op} {_lit(word)}"
        return m.group(0)

    return _sub_outside_quotes(cond, lambda seg: _QUALIFIED.sub(repl, seg))


_BARE_RHS = re.compile(
    r"(?<![.\w])(?:(\w+)\s*\.\s*)?(\w+)\s*(=|<>|!=|<=|>=)\s*(true|false)\b",
    re.IGNORECASE,
)
_BARE_LHS = re.compile(
    r"\b(true|false)\s*(=|<>|!=|<=|>=)\s*(?:(\w+)\s*\.\s*)?(\w+)(?![.\w(])",
    re.IGNORECASE,
)


def coerce_predicate_for_types(pred: str, dtypes: dict[str, str]) -> str:
    """Dtype-aware rewrite for single-table predicates (DELETE WHERE):
    a comparison ``col = true|false`` (either side, ``=``/``<>``/``!=``
    and the ordered ``<=``/``>=`` BooleanEquality also coerced) whose
    column is known NON-boolean gets its literal rewritten to 1/0 —
    the same rule :func:`coerce_condition_for_types` applies to
    alias-qualified merge conditions, so ``iscurrent = true`` behaves
    identically between MERGE delete clauses and DELETE. The predicate
    is single-table, so an alias qualifier (``t.iscurrent = true``) is
    resolved by the COLUMN name alone — UNLESS the qualifier itself
    names a known column, in which case ``a.b`` is STRUCT-FIELD access
    (rewriting it by the dtype of an unrelated top-level ``b`` would
    corrupt a valid boolean comparison) and the literal stays. Boolean
    columns and unknown names keep their literal."""
    low = {k.lower(): v for k, v in dtypes.items()}

    def _qualifies(qual: str | None) -> bool:
        # None = bare ref; a qualifier that IS a column is struct access
        return qual is None or qual.lower() not in low

    def repl_rhs(m: re.Match) -> str:
        qual, col, op, word = (m.group(1), m.group(2), m.group(3),
                               m.group(4))
        dt = low.get(col.lower())
        if _qualifies(qual) and dt is not None and dt != "boolean":
            name = f"{qual}.{col}" if qual else col
            return f"{name} {op} {_lit(word)}"
        return m.group(0)

    def repl_lhs(m: re.Match) -> str:
        word, op, qual, col = (m.group(1), m.group(2), m.group(3),
                               m.group(4))
        dt = low.get(col.lower())
        if _qualifies(qual) and dt is not None and dt != "boolean":
            name = f"{qual}.{col}" if qual else col
            return f"{_lit(word)} {op} {name}"
        return m.group(0)

    return _sub_outside_quotes(
        pred, lambda seg: _BARE_LHS.sub(repl_lhs, _BARE_RHS.sub(repl_rhs, seg))
    )


def _split_top(cond: str, word: str) -> list[str] | None:
    """Split a SQL boolean expression at its TOP-LEVEL ``word`` (``AND``
    or ``OR``; string literals and parenthesized groups opaque).
    Returns None when malformed or when the other connective appears at
    the top level — the expression is then not a ``word`` chain.

    BETWEEN-aware: the ``AND`` that closes a same-depth ``BETWEEN`` is
    part of that predicate — it neither splits nor aborts, so ``x
    BETWEEN 1 AND b = 3`` never yields an implied ``b = 3`` and ``p =
    'A' OR x BETWEEN 1 AND 2`` splits into its two operands."""
    other = "OR" if word == "AND" else "AND"
    parts: list[str] = []
    depth = 0
    start = 0
    i = 0
    n = len(cond)
    up = cond.upper()
    pending_between = 0  # BETWEENs at depth 0 awaiting their AND

    def _at(kw: str) -> bool:
        if depth or not up.startswith(kw, i):
            return False
        before = cond[i - 1] if i > 0 else " "
        after = cond[i + len(kw)] if i + len(kw) < n else " "
        return (not (before.isalnum() or before in "_.")
                and not (after.isalnum() or after in "_."))

    while i < n:
        c = cond[i]
        if c == "'":
            j = i + 1
            while j < n:
                if cond[j] == "'":
                    if j + 1 < n and cond[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return None  # malformed — refuse to extract anything
        elif _at("BETWEEN"):
            pending_between += 1
            i += 7
            continue
        elif pending_between and _at("AND"):
            pending_between -= 1
            i += 3
            continue
        elif _at(word):
            parts.append(cond[start:i])
            start = i = i + len(word)
            continue
        elif _at(other):
            return None
        i += 1
    parts.append(cond[start:])
    return parts


def split_top_and(cond: str) -> list[str] | None:
    """Top-level ``AND`` conjuncts, or None when a top-level ``OR``
    makes the expression a disjunction (see :func:`_split_top`)."""
    return _split_top(cond, "AND")


def _split_top_or(cond: str) -> list[str] | None:
    """Top-level ``OR`` operands, or None when a top-level AND makes
    the expression a conjunction (see :func:`_split_top`)."""
    return _split_top(cond, "OR")


_TRIPLE_LIT = (r"(?:DATE\s*)?'(?:[^']|'')*'"
               r"|-?\d+(?:\.\d+)?"
               r"|true|false")
_TRIPLE_CMP = re.compile(
    rf"^(?:(\w+)\s*\.\s*)?(\w+)\s*(=|<=|>=|<|>)\s*({_TRIPLE_LIT})$",
    re.IGNORECASE | re.DOTALL)
_TRIPLE_CMP_REV = re.compile(
    rf"^({_TRIPLE_LIT})\s*(=|<=|>=|<|>)\s*(?:(\w+)\s*\.\s*)?(\w+)$",
    re.IGNORECASE | re.DOTALL)
_TRIPLE_NULL = re.compile(
    r"^(?:(\w+)\s*\.\s*)?(\w+)\s+IS\s+(NOT\s+)?NULL$", re.IGNORECASE)
_TRIPLE_IN = re.compile(
    rf"^(?:(\w+)\s*\.\s*)?(\w+)\s+IN\s*\(\s*({_TRIPLE_LIT})"
    rf"(?:\s*,\s*(?:{_TRIPLE_LIT}))*\s*\)$",
    re.IGNORECASE | re.DOTALL)
_TRIPLE_IN_LITS = re.compile(_TRIPLE_LIT, re.IGNORECASE)
_TRIPLE_BETWEEN = re.compile(
    rf"^(?:(\w+)\s*\.\s*)?(\w+)\s+BETWEEN\s+({_TRIPLE_LIT})"
    rf"\s+AND\s+({_TRIPLE_LIT})$",
    re.IGNORECASE | re.DOTALL)
_FLIP_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}


def _triple_lit_value(tok: str):
    t = tok.strip()
    low = t.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    if t[:1] == "'" or low.startswith("date"):
        body = t[t.index("'") + 1:-1]
        return body.replace("''", "'")
    return float(t) if "." in t else int(t)


def _make_col_resolver(t_cols: list[str], alias: str | None):
    """The shared column-reference rule for predicate extraction:
    with ``alias`` set, only refs qualified by exactly that alias
    resolve; with ``alias`` None, only BARE refs do (a qualified ref is
    struct-field access or an unresolvable table alias — attributing
    either to a top-level column would mis-scope the predicate)."""
    low2col = {c.lower(): c for c in t_cols}

    def _col(qual: str | None, name: str) -> str | None:
        if alias is not None and (qual or "").lower() != alias.lower():
            return None
        if alias is None and qual is not None:
            return None
        return low2col.get(name.lower())

    return _col


def _extract_triple(s: str, _col) -> tuple | None:
    """One comparison ATOM as ``(col, op, literal)`` — ``[alias.]col op
    literal`` (either side), ``IS [NOT] NULL`` or ``IN (literals)`` —
    or None. ``_col`` is a resolver from :func:`_make_col_resolver`."""
    m = _TRIPLE_CMP.match(s)
    if m:
        c = _col(m.group(1), m.group(2))
        return (c, m.group(3), _triple_lit_value(m.group(4))) if c else None
    m = _TRIPLE_CMP_REV.match(s)
    if m:
        c = _col(m.group(3), m.group(4))
        return (c, _FLIP_OP[m.group(2)],
                _triple_lit_value(m.group(1))) if c else None
    m = _TRIPLE_NULL.match(s)
    if m:
        c = _col(m.group(1), m.group(2))
        return (c, "is not null" if m.group(3) else "is null",
                None) if c else None
    m = _TRIPLE_IN.match(s)
    if m:
        c = _col(m.group(1), m.group(2))
        if c is None:
            return None
        body = s[s.index("(", m.end(2)):]
        lits = [_triple_lit_value(x.group(0))
                for x in _TRIPLE_IN_LITS.finditer(body)]
        return (c, "in", lits)
    return None


def _extract_between(s: str, _col) -> list[tuple] | None:
    """``[alias.]col BETWEEN lo AND hi`` as its two implied triples
    ``[(col, ">=", lo), (col, "<=", hi)]``, or None. Positive BETWEEN
    only — ``NOT BETWEEN`` stays widened by the callers."""
    m = _TRIPLE_BETWEEN.match(s)
    if not m:
        return None
    c = _col(m.group(1), m.group(2))
    if c is None:
        return None
    return [(c, ">=", _triple_lit_value(m.group(3))),
            (c, "<=", _triple_lit_value(m.group(4)))]


def _shed_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        inner = s[1:-1]
        if split_top_and(inner) is None and _split_top_or(inner) is None:
            break
        s = inner.strip()
    return s


# --- scope-tree evaluation (shared by the Delta bridge and the native
# VersionedTable): per-row predicate values live in Kleene's {T, U, F};
# a FILE is summarized by the SET of values its rows can take, so the
# cross-product combination of child sets is a sound overapproximation
# of pairing each row's own values, and "no row can be T" — the only
# conclusion the OCC/pruning consumers draw — is exactly `"T" not in
# set`. --------------------------------------------------------------

KLEENE_ANY = frozenset("TUF")
_KLEENE_NOT = {"T": "F", "F": "T", "U": "U"}

# Delta's default string-stats prefix length. A conforming writer
# truncates a long max value to this many chars AND increments the
# last char (making it a strict upper bound); a sloppy writer that
# truncates WITHOUT the increment stores a raw prefix — protocol-
# violating, but the plausible failure mode. Defense-in-depth: any
# string `hi` of at least this length is treated as a possible raw
# prefix, so the sound premise weakens from "true max <= hi" to
# "true max < prefix_successor(hi)". Shorter strings cannot be
# 32-char truncation outputs and stay exact; a writer truncating at
# some OTHER length remains out of contract (undetectable).
STRING_STATS_PREFIX_LEN = 32


def string_upper_bound(hi):
    """``(bound, inclusive)`` for a stats ``maxValues`` entry under the
    defense-in-depth contract above. Non-strings and short strings are
    exact: ``(hi, True)``. A possibly-truncated string returns its
    prefix-successor as an EXCLUSIVE bound — every string with that
    prefix is < the successor. All-U+10FFFF prefixes have no successor:
    ``(None, False)`` = no provable upper bound."""
    if not isinstance(hi, str) or len(hi) < STRING_STATS_PREFIX_LEN:
        return hi, True
    for i in range(len(hi) - 1, -1, -1):
        cp = ord(hi[i])
        if cp < 0x10FFFF:
            return hi[:i] + chr(cp + 1), False
    return None, False


def _kleene_and(a: str, b: str) -> str:
    if a == "F" or b == "F":
        return "F"
    return "U" if "U" in (a, b) else "T"


def _kleene_or(a: str, b: str) -> str:
    if a == "T" or b == "T":
        return "T"
    return "U" if "U" in (a, b) else "F"


def stats_value_set(op: str, lit, lo, hi, nulls, num) -> frozenset:
    """Possible per-row Kleene values of ``col op lit`` over a file
    whose column envelope is [lo, hi] with ``nulls`` null rows out of
    ``num`` (any of them None = unknown). Bounds contract: ``lo`` is a
    LOWER bound on the file's true min (a truncated min is a prefix,
    and a prefix is always <= the value — safe even from a sloppy
    writer) and ``hi`` an UPPER bound on its true max, HEDGED for
    strings via :func:`string_upper_bound` so a raw-prefix
    ``maxValues`` from a protocol-violating writer still cannot make
    an all-satisfy / none-satisfy proof misfire."""
    if op in ("is null", "is not null"):
        t_when_null = op == "is null"
        if nulls is None or num is None:
            return frozenset("TF")
        if nulls == num:
            return frozenset("T" if t_when_null else "F")
        if nulls == 0:
            return frozenset("F" if t_when_null else "T")
        return frozenset("TF")
    no_nonnull = nulls is not None and num is not None and nulls == num
    hi, hi_inc = string_upper_bound(hi)
    if no_nonnull:
        nonnull: frozenset = frozenset()
    elif lo is None or hi is None:
        nonnull = frozenset("TF")
    else:
        # with hi_inc False the envelope is [lo, hi): x <= hi proofs
        # become x < hi, and equality-pin proofs (lo == hi) are gone
        try:
            if op == "in":
                all_sat = hi_inc and lo == hi and any(lo == x for x in lit)
                none_sat = all(
                    x < lo or (x > hi if hi_inc else x >= hi) for x in lit)
            elif op == "=":
                all_sat = hi_inc and lo == hi == lit
                none_sat = lit < lo or (lit > hi if hi_inc else lit >= hi)
            elif op == "<":
                all_sat = hi < lit if hi_inc else hi <= lit
                none_sat = lo >= lit
            elif op == "<=":
                all_sat, none_sat = hi <= lit, lo > lit
            elif op == ">":
                all_sat, none_sat = lo > lit, hi <= lit
            elif op == ">=":
                all_sat = lo >= lit
                none_sat = hi < lit if hi_inc else hi <= lit
            else:
                return KLEENE_ANY
            nonnull = (frozenset("T") if all_sat
                       else frozenset("F") if none_sat
                       else frozenset("TF"))
        except TypeError:
            nonnull = frozenset("TF")
    out = set(nonnull)
    if nulls is None or (isinstance(nulls, int) and nulls > 0):
        out.add("U")  # null rows (possibly) exist → comparisons UNKNOWN
    return frozenset(out) or frozenset("U")


# schema type names (Spark's JSON schema, which is also Delta's
# schemaString) whose stats/partition values prune safely.
# Deliberately absent: timestamps (footer-stat formats vary across
# writers — ISO-with-zone vs naive — and a wrong lexicographic compare
# would DROP FILES; the residual Spark filter still applies, the file
# just isn't skipped) and decimals (float coercion could mis-prune at
# the boundary).
_PRUNE_INT = ("byte", "short", "integer", "long")
_PRUNE_FLOAT = ("float", "double")
# the plain spellings whose Python parse equals Spark's cast of the
# string to the column type; anything else coerces to None
_INT_TEXT = re.compile(r"\s*[+-]?\d+\s*")
_FLOAT_TEXT = re.compile(r"\s*[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?\s*")
_DATE_TEXT = re.compile(r"\d{4}-\d{2}-\d{2}")


def prune_coerce(typ: str | None, v):
    """Coerce a stats bound, partition value or predicate literal to the
    single comparable Python type for the column type ``typ`` — the
    value Spark compares after casting the literal to the column's type
    (``'05' = 5`` on a string column is a NUMERIC comparison, TRUE) — or
    None when that can't be reproduced exactly, which makes the
    evaluator keep the file. So numbers never coerce to strings, strings
    coerce to numbers and dates only in their plain spellings, and a
    non-integral number stays a float against an integer column (Spark
    widens the column; Python compares int with float exactly)."""
    if v is None or isinstance(v, bool) and typ != "boolean":
        return None
    if typ in _PRUNE_INT:
        if isinstance(v, str):
            return int(v) if _INT_TEXT.fullmatch(v) else None
        if isinstance(v, float):
            return v if v == v else None  # NaN orders above all in Spark
        return v if isinstance(v, int) else None
    if typ in _PRUNE_FLOAT:
        if isinstance(v, str):
            v = float(v) if _FLOAT_TEXT.fullmatch(v) else None
        elif isinstance(v, (int, float)):
            v = float(v)
        else:
            return None
        return v if v == v else None
    if typ == "string":
        return v if isinstance(v, str) else None
    if typ == "date":
        if isinstance(v, datetime.datetime):
            return None  # Spark widens the date column to a timestamp
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, str) and _DATE_TEXT.fullmatch(v):
            try:
                return datetime.date.fromisoformat(v).isoformat()
            except ValueError:
                return None
        return None
    if typ == "boolean":
        if isinstance(v, bool):
            return v
        if isinstance(v, str) and v.lower() in ("true", "false"):
            return v.lower() == "true"
    return None


def eval_scope_tree(tree, atom_fn) -> bool:
    """True unless the tree PROVES no row of the file can satisfy the
    predicate. ``atom_fn(col, op, lit) -> frozenset`` supplies each
    atom's possible per-row value set (partition lane, stats lane —
    the caller's business)."""
    def _ev(node) -> frozenset:
        kind = node[0]
        if kind == "const":
            return frozenset("T") if node[1] else frozenset("F")
        if kind == "atom":
            return atom_fn(*node[1])
        if kind == "not":
            return frozenset(_KLEENE_NOT[a] for a in _ev(node[1]))
        parts = [_ev(ch) for ch in node[1]]
        comb = _kleene_and if kind == "and" else _kleene_or
        acc = parts[0]
        for p in parts[1:]:
            acc = frozenset(comb(a, b) for a in acc for b in p)
        return acc

    return "T" in _ev(tree)


def condition_scope_tree(cond: str, scope_cols: list[str],
                         alias: str | None):
    """Reduce a SQL condition to the boolean expression it implies over
    the SCOPABLE columns (those a file-level evaluator can decide from
    partition values or min/max/null stats) — the read footprint both
    table formats prune scans and scope commit conflicts with. Beyond
    plain conjunctions it keeps top-level ORs and NOTs, so a MERGE
    whose ON is ``(t.p = 'A' AND …) OR (t.p = 'A' AND …)`` still
    commutes with a concurrent append to partition B — and, via the
    stats lane of the evaluators, an unpartitioned ``(t.k < 5 AND …)
    OR (t.k < 9 AND …)`` commutes with an append whose files hold only
    k ≥ 9.

    ``alias``: required qualifier for merge ON conditions (the target
    relation's alias — unqualified and source-qualified refs carry no
    information); None for single-table predicates, where only BARE
    refs resolve — a qualified ref there is struct-field access
    (``s.flag``, never attributable to a top-level ``flag``) or an
    unresolvable table alias. Names resolve case-insensitively to the
    schema's own spelling.

    Soundness: every atom that is not a scope-column comparison of a
    triple shape is replaced by TRUE at positive polarity and FALSE
    under an odd number of NOTs. AND/OR/NOT are monotone in Kleene's
    truth order under that substitution, so the reduced predicate P' is
    row-wise ≥ the original P — P' evaluating FALSE over a file's
    partition assignment / stats envelope proves NO row of the file
    can satisfy P. Widening only: an unparseable shape reduces toward
    TRUE (no information), never toward FALSE.

    Returns a tree of ``("const", bool)`` / ``("atom", (col, op, lit))``
    / ``("and"|"or", [children])`` / ``("not", child)`` nodes, or None
    when the reduction is vacuous (no scope-column information).
    """
    if not scope_cols:
        return None
    _col = _make_col_resolver(scope_cols, alias)

    def _dedup(flat):
        seen: set[str] = set()
        out = []
        for ch in flat:
            key = repr(ch)
            if key not in seen:
                seen.add(key)
                out.append(ch)
        return out

    def _and(children):
        flat = []
        for ch in children:
            if ch == ("const", False):
                return ("const", False)
            if ch == ("const", True):
                continue
            flat.extend(ch[1] if ch[0] == "and" else [ch])
        flat = _dedup(flat)
        if not flat:
            return ("const", True)
        return flat[0] if len(flat) == 1 else ("and", flat)

    def _or(children):
        flat = []
        for ch in children:
            if ch == ("const", True):
                return ("const", True)
            if ch == ("const", False):
                continue
            flat.extend(ch[1] if ch[0] == "or" else [ch])
        flat = _dedup(flat)
        if not flat:
            return ("const", False)
        return flat[0] if len(flat) == 1 else ("or", flat)

    def _reduce(expr: str, polarity: bool):
        s = _shed_parens(expr)
        ands = split_top_and(s)
        if ands is not None and len(ands) > 1:
            return _and([_reduce(a, polarity) for a in ands])
        ors = _split_top_or(s)
        if ors is not None and len(ors) > 1:
            return _or([_reduce(o, polarity) for o in ors])
        if ands is None and ors is None:
            return ("const", polarity)  # malformed parens — no info
        up = s.upper()
        if up.startswith("NOT") and (len(s) == 3 or not (
                s[3].isalnum() or s[3] in "_.")):
            child = _reduce(s[3:], not polarity)
            if child[0] == "const":
                return ("const", not child[1])
            return ("not", child)
        t = _extract_triple(s, _col)
        if t is not None:
            return ("atom", t)
        bt = _extract_between(s, _col)
        if bt is not None:
            # exact expansion (NULL-identical to SQL BETWEEN), so it
            # is polarity-safe: NOT over the AND stays exact Kleene
            return _and([("atom", a) for a in bt])
        return ("const", polarity)

    tree = _reduce(cond, True)
    return None if tree == ("const", True) else tree


# --- filter lists: the declarative conjunction grammar shared by
# read_delta(where=), delete_delta/update_delta list predicates,
# VersionedTable.read/prune_files(filters=) and DeltaLakeExtract
# options.filters. A list prunes through the same scope tree a SQL
# condition reduces to, and applies row-level as one Spark Column. ----

FILTER_OPS = ("=", "<", "<=", ">", ">=", "in", "is null", "is not null")


def normalize_filters(filters) -> list[tuple]:
    """Validate a conjunction of ``(column, op, literal)`` conjuncts, op
    in :data:`FILTER_OPS` (``in`` takes a list; the null tests may omit
    the literal). Raises VersionedTableError on a malformed conjunct."""
    from sql_based_etl_spark.tables.versioned import VersionedTableError

    norm = []
    for t in filters:
        t = tuple(t)
        if len(t) == 2 and t[1] in ("is null", "is not null"):
            t = (t[0], t[1], None)
        if (len(t) != 3 or t[1] not in FILTER_OPS
                or t[1] == "in" and not isinstance(t[2], (list, tuple))):
            raise VersionedTableError(
                f"malformed filter conjunct {t!r} — want "
                f"(column, op, literal) with op in {FILTER_OPS}")
        norm.append(t)
    return norm


def filters_tree(filters: list[tuple]):
    """The scope tree of a normalized conjunction."""
    return ("and", [("atom", t) for t in filters])


def filters_column(filters: list[tuple]):
    """The Spark Column of a normalized conjunction."""
    from pyspark.sql import functions as F

    cond = None
    for c, op, lit in filters:
        col = F.col(c)
        if op == "is null":
            e = col.isNull()
        elif op == "is not null":
            e = col.isNotNull()
        elif op == "in":
            e = col.isin(list(lit))
        else:
            e = {"=": col == F.lit(lit), "<": col < F.lit(lit),
                 "<=": col <= F.lit(lit), ">": col > F.lit(lit),
                 ">=": col >= F.lit(lit)}[op]
        cond = e if cond is None else cond & e
    return cond


def filters_sql(filters: list[tuple]) -> str:
    """A normalized conjunction rendered as SQL (commit-log display)."""
    def _lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    parts = []
    for c, op, lit in filters:
        if op in ("is null", "is not null"):
            parts.append(f"{c} {op}")
        elif op == "in":
            parts.append(f"{c} in ({', '.join(_lit(x) for x in lit)})")
        else:
            parts.append(f"{c} {op} {_lit(lit)}")
    return " AND ".join(parts)
