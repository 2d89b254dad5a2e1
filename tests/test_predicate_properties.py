"""Adversarial implication properties for the predicate reduction that
gates OCC soundness and DELETE row selection.

The contract under test: ``condition_scope_tree(cond, scope_cols,
alias)`` — a row on which ``cond`` is TRUE must Kleene-evaluate the
reduced tree to not-False against a file containing that row —
evaluated over BOTH lanes at once (partition values for p/q/ds/np, a
single-row min/max/null stats envelope for every other column), else a
pruned scan could skip a file holding matching rows (silently wrong
DELETEs) or a concurrent append into a file the predicate can reach
would commute.

Conditions are GENERATED (seeded, ≥100 Spark-valid shapes per mode)
over the hazard inventory: nested structs, quoted identifiers
containing dots and ``=``, NOT over conjuncts, BETWEEN (whose AND must
never split), IN-lists, null-literal comparisons, col-to-col
comparisons, function calls, boolean-typed columns, and cross-type
literals (a number against a digit-valued string partition, a string
against a long partition — Spark casts the literal to the column's
type). Spark itself is the truth oracle: every condition is evaluated
as a column over a property table in one batched job.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sql_based_etl_spark.engine.sql_compat import (
    condition_scope_tree,
    filters_tree,
)
from sql_based_etl_spark.tables.delta_interop import _tree_may_match

# partition column → logical type; ds holds digit strings, np longs
_PART_TYPES = {"p": "string", "q": "string", "ds": "string",
               "np": "long"}
PART_COLS = list(_PART_TYPES)
SCOPE_COLS = ["p", "q", "ds", "np", "v", "id", "x", "flag"]
_STAT_TYPES = {"v": "string", "id": "long", "x": "double",
               "flag": "boolean"}


def _lit_sql(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _gen_atom(rng: random.Random, quals: list[str]) -> str:
    """One atom; quals are the relation prefixes to draw from
    ('' = bare)."""
    qual = rng.choice(quals)
    str_cols = ["p", "q", "v"]
    num_cols = ["id", "x"]
    kind = rng.randrange(14)
    if kind == 0:  # string comparison
        return f"{qual}{rng.choice(str_cols)} {rng.choice(['=', '<', '>='])} '{rng.choice('ABCDE')}'"
    if kind == 1:  # numeric comparison
        return f"{qual}{rng.choice(num_cols)} {rng.choice(['=', '<', '<=', '>', '>='])} {rng.randrange(-2, 8)}"
    if kind == 2:  # reversed literal-first
        return f"{rng.randrange(0, 6)} {rng.choice(['=', '<', '>'])} {qual}{rng.choice(num_cols)}"
    if kind == 3:  # IS [NOT] NULL
        return f"{qual}{rng.choice(str_cols + num_cols)} IS {rng.choice(['', 'NOT '])}NULL"
    if kind == 4:  # IN list
        lits = ", ".join(f"'{c}'" for c in rng.sample("ABCDE", rng.randrange(1, 4)))
        return f"{qual}{rng.choice(str_cols)} IN ({lits})"
    if kind == 5:  # BETWEEN — its AND must never split
        lo = rng.randrange(-2, 4)
        return f"{qual}{rng.choice(num_cols)} BETWEEN {lo} AND {lo + rng.randrange(0, 5)}"
    if kind == 6:  # col-to-col (never extractable)
        return f"{qual}id = {qual}x"
    if kind == 7:  # function call (never extractable)
        return f"upper({qual}p) = '{rng.choice('ABC')}'"
    if kind == 8:  # struct-field access (must never be misattributed)
        return f"s.flag = {rng.choice(['TRUE', 'FALSE'])}" if qual == "" \
            else f"{qual}flag = {rng.choice(['TRUE', 'FALSE'])}"
    if kind == 9:  # quoted identifier containing a dot / '='
        return rng.choice([f"`p.x` = '{rng.choice('AB')}'",
                           f"`a=b` = {rng.randrange(0, 3)}"]) if qual == "" \
            else f"{qual}q = '{rng.choice('AB')}'"
    if kind == 10:  # null-literal comparison (always UNKNOWN)
        return f"{qual}{rng.choice(str_cols)} = NULL"
    if kind == 12:  # number vs digit-valued string partition ('05' = 5)
        if rng.random() < 0.3:
            return f"{qual}ds IN ({rng.randrange(3, 8)}, {rng.randrange(3, 8)})"
        return f"{qual}ds {rng.choice(['=', '<', '>='])} {rng.randrange(3, 8)}"
    if kind == 13:  # string vs long partition (np = '3')
        if rng.random() < 0.3:
            return f"{qual}np IN ('{rng.randrange(0, 5)}', '{rng.randrange(0, 5)}')"
        return f"{qual}np {rng.choice(['=', '<', '>='])} '{rng.randrange(0, 5)}'"
    # boolean column atom
    return f"{qual}flag" if rng.random() < 0.5 else f"{qual}flag = TRUE"


def _gen_cond(rng: random.Random, quals: list[str], depth: int = 0) -> str:
    r = rng.random()
    if depth >= 3 or r < 0.3:
        return _gen_atom(rng, quals)
    if r < 0.45:  # UNPARENTHESIZED atom chain — BETWEEN's AND next to
        # real AND/OR boundaries, precedence left to the splitters
        n = rng.randrange(2, 4)
        glue = [rng.choice([" AND ", " OR "]) for _ in range(n - 1)]
        out = _gen_atom(rng, quals)
        for g in glue:
            out += g + _gen_atom(rng, quals)
        return out
    if r < 0.6:
        n = rng.randrange(2, 4)
        return " AND ".join(
            f"({_gen_cond(rng, quals, depth + 1)})" for _ in range(n))
    if r < 0.82:
        n = rng.randrange(2, 4)
        return " OR ".join(
            f"({_gen_cond(rng, quals, depth + 1)})" for _ in range(n))
    return f"NOT ({_gen_cond(rng, quals, depth + 1)})"


def _property_df(spark, rid_offset: int = 0):
    """Rows covering the value space: NULLs everywhere, partition
    values A..E, numerics spanning the literal range, struct fields
    that collide with top-level names, quoted-identifier columns."""
    rng = random.Random(7 + rid_offset)
    rows = []
    for i in range(60):
        p = rng.choice(["A", "B", "C", "D", "E", None])
        q = rng.choice(["A", "B", None])
        v = rng.choice(["A", "C", "E", None])
        idv = rng.choice([None] + list(range(-2, 8)))
        x = rng.choice([None, -1.5, 0.0, 1.0, 2.5, 5.0, 7.0])
        flag = rng.choice([True, False, None])
        sflag = rng.choice([True, False, None])
        sp = rng.choice(["A", "B", None])
        px = rng.choice(["A", "B", None])
        ab = rng.choice([None, 0, 1, 2])
        ds = rng.choice(["3", "5", "05", "6", None])
        np_ = rng.choice([None] + list(range(0, 5)))
        rows.append((i + rid_offset, p, q, ds, np_, v, idv, x, flag,
                     (sflag, sp), px, ab))
    return spark.createDataFrame(
        rows,
        "rid long, p string, q string, ds string, np long, v string, "
        "id long, x double, flag boolean, "
        "s struct<flag: boolean, p: string>, `p.x` string, `a=b` long")


def _meta_for_tree() -> dict:
    import json

    fields = [{"name": c, "type": t, "nullable": True,
               "metadata": {}} for c, t in _PART_TYPES.items()]
    fields += [{"name": c, "type": t, "nullable": True, "metadata": {}}
               for c, t in _STAT_TYPES.items()]
    return {
        "schemaString": json.dumps(
            {"type": "struct", "fields": fields}),
        "partitionColumns": PART_COLS,
        "configuration": {},
    }


def _row_add(row) -> dict:
    """A one-row file containing exactly this row: partition values
    for p/q, an exact single-row stats envelope for the rest — the
    sharpest file a sound evaluator must still keep."""
    import json

    pv = {c: (str(row[c]) if row[c] is not None
              else "__HIVE_DEFAULT_PARTITION__") for c in PART_COLS}
    mins, maxs, nulls = {}, {}, {}
    for c in _STAT_TYPES:
        val = row[c]
        if val is None:
            nulls[c] = 1
        else:
            nulls[c] = 0
            mins[c] = val
            maxs[c] = val
    return {"path": "f", "partitionValues": pv,
            "stats": json.dumps({"numRecords": 1, "minValues": mins,
                                 "maxValues": maxs, "nullCount": nulls})}


def _batch_eval(df, exprs: dict[str, str]):
    """Evaluate many boolean SQL expressions as columns in ONE job;
    returns {name: [bool|None per row]} (row order by rid). Expressions
    Spark rejects are dropped (production predicates must parse)."""
    cols = []
    kept = []
    for name, sql in exprs.items():
        try:
            col = F.expr(sql).cast("boolean").alias(name)
        except Exception:
            continue
        cols.append(col)
        kept.append(name)
    out = {n: [] for n in kept}
    try:
        collected = df.select("rid", *cols).orderBy("rid").collect()
    except Exception:
        # analysis failure on some expr: fall back one-by-one
        collected = None
    if collected is not None:
        for r in collected:
            for n in kept:
                out[n].append(r[n])
        return out
    out = {}
    for n in kept:
        try:
            rows = df.select("rid", F.expr(exprs[n]).cast("boolean")
                             .alias(n)).orderBy("rid").collect()
        except Exception:
            continue
        out[n] = [r[n] for r in rows]
    return out


def test_scope_tree_implied_single_table(spark):
    """alias=None mode (DELETE predicates): ≥100 generated Spark-valid
    shapes; the scope reduction must keep every file holding a row the
    predicate is TRUE on."""
    rng = random.Random(42)
    df = _property_df(spark).cache()

    conds = []
    seen = set()
    while len(conds) < 130:
        c = _gen_cond(rng, [""])
        if c not in seen:
            seen.add(c)
            conds.append(c)

    exprs = {f"c{i}": cond for i, cond in enumerate(conds)}
    trees = {f"c{i}": condition_scope_tree(cond, SCOPE_COLS, None)
             for i, cond in enumerate(conds)}
    vals = _batch_eval(df, exprs)
    rows = df.select("rid", *SCOPE_COLS).orderBy("rid").collect()
    meta = _meta_for_tree()

    valid = 0
    for i, cond in enumerate(conds):
        name = f"c{i}"
        if name not in vals:
            continue  # Spark rejected the shape — not a production input
        valid += 1
        tree = trees[name]
        if tree is None:
            continue
        for k, cv in enumerate(vals[name]):
            if cv is True:
                assert _tree_may_match(meta, _row_add(rows[k]), tree), (
                    f"UNSOUND scope tree for {cond!r}: row {rows[k]} "
                    f"satisfies the predicate but the reduction excludes "
                    f"a file holding exactly that row")
    assert valid >= 100, f"only {valid} Spark-valid shapes exercised"


def test_scope_tree_implied_merge_alias(spark):
    """alias='target' mode (MERGE ON conditions): the implication must
    hold over target×source row PAIRS — only target-qualified atoms may
    reach the tree, and a target file must be kept whenever any pair
    satisfies the full ON condition."""
    rng = random.Random(1337)
    tgt = _property_df(spark).alias("target")
    src = (_property_df(spark, rid_offset=1000)
           .limit(15)
           .withColumnRenamed("rid", "srid").alias("source"))
    pairs = tgt.crossJoin(src).withColumn(
        "prid", F.col("rid") * 10000 + F.col("srid")).cache()
    # _batch_eval orders by "rid"; give it the pair id
    pairs = pairs.drop("rid").withColumnRenamed("prid", "rid")

    conds = []
    seen = set()
    while len(conds) < 120:
        c = _gen_cond(rng, ["target.", "source."])
        if c not in seen:
            seen.add(c)
            conds.append(c)

    exprs = {f"c{i}": cond for i, cond in enumerate(conds)}
    trees = {f"c{i}": condition_scope_tree(cond, SCOPE_COLS, "target")
             for i, cond in enumerate(conds)}
    vals = _batch_eval(pairs, exprs)
    rows = pairs.select(
        "rid", *[F.col(f"target.{c}").alias(c) for c in SCOPE_COLS]
    ).orderBy("rid").collect()
    meta = _meta_for_tree()

    valid = 0
    for i, cond in enumerate(conds):
        name = f"c{i}"
        if name not in vals:
            continue
        valid += 1
        tree = trees[name]
        if tree is None:
            continue
        for k, cv in enumerate(vals[name]):
            if cv is True:
                assert _tree_may_match(meta, _row_add(rows[k]), tree), (
                    f"UNSOUND scope tree for ON {cond!r}: pair "
                    f"{rows[k].rid} satisfies it but the reduction "
                    f"excludes a target file holding exactly that row")
    assert valid >= 100, f"only {valid} Spark-valid shapes exercised"


def test_between_and_never_splits():
    """The regression the BETWEEN-aware splitter exists for: the AND
    closing a BETWEEN must not yield a pseudo-conjunct (a false
    implied fact)."""
    from sql_based_etl_spark.engine.sql_compat import split_top_and

    parts = split_top_and("x BETWEEN 1 AND 5 AND p = 'A'")
    assert [p.strip() for p in parts] == ["x BETWEEN 1 AND 5", "p = 'A'"]
    tree = condition_scope_tree(
        "id BETWEEN 1 AND x = 5", ["id", "x", "p"], None)
    assert tree is None, f"BETWEEN bound leaked as a fact: {tree}"
    tree = condition_scope_tree(
        "id BETWEEN 1 AND 5 AND p = 'A'", ["id", "x", "p"], None)
    assert ("atom", ("p", "=", "A")) in tree[1]


def test_between_is_a_first_class_conjunct():
    """Positive BETWEEN contributes its two implied bounds as atoms —
    the scan pruner / OCC footprint gets both ends."""
    tree = condition_scope_tree(
        "id BETWEEN 1 AND 5 AND p = 'A'", ["id", "x", "p"], None)
    assert tree[0] == "and"
    assert ("atom", ("id", ">=", 1)) in tree[1]
    assert ("atom", ("id", "<=", 5)) in tree[1]
    # alias-qualified merge shape
    tree = condition_scope_tree("t.id BETWEEN 2 AND 7", ["id"], "t")
    assert tree == ("and", [("atom", ("id", ">=", 2)),
                            ("atom", ("id", "<=", 7))])
    # NOT BETWEEN stays widened (never a false implied bound)
    assert condition_scope_tree(
        "id NOT BETWEEN 1 AND 5", ["id"], None) is None


def test_or_split_is_between_aware():
    """Round-13 ADVICE: the AND closing a BETWEEN must neither abort
    the OR split nor end an operand — `p = 'A' OR x BETWEEN 1 AND 2`
    keeps its OR-shape scope information instead of collapsing to
    no-info."""
    from sql_based_etl_spark.engine.sql_compat import _split_top_or

    parts = _split_top_or("p = 'A' OR x BETWEEN 1 AND 2")
    assert parts is not None and [s.strip() for s in parts] == [
        "p = 'A'", "x BETWEEN 1 AND 2"]
    # a REAL top-level AND still makes it a conjunction, not an OR
    assert _split_top_or("p = 'A' AND x BETWEEN 1 AND 2") is None
    # and the scope tree now carries both operands' atoms
    tree = condition_scope_tree(
        "p = 'A' OR x BETWEEN 1 AND 2", ["p", "x"], None)
    assert tree is not None and tree[0] == "or"
    ops = {repr(ch) for ch in tree[1]}
    assert repr(("atom", ("p", "=", "A"))) in ops
    assert repr(("and", [("atom", ("x", ">=", 1)),
                         ("atom", ("x", "<=", 2))])) in ops


def test_violating_string_maxvalues_cannot_misfire():
    """Round-13 defense-in-depth (verdict watch item): a writer that
    stores a RAW truncated prefix as ``maxValues`` — protocol-violating
    (the spec requires incrementing the last char) but the plausible
    sloppy-writer failure — must not let any none-satisfy / all-satisfy
    proof misfire at Delta's 32-char truncation length. Exhaustive over
    ops × adversarial literals × true row values sharing the prefix."""
    from sql_based_etl_spark.engine.sql_compat import (
        stats_value_set,
        string_upper_bound,
    )

    prefix = "x" * 31 + "m"          # the raw 32-char truncated prefix
    succ, inc = string_upper_bound(prefix)
    assert (succ, inc) == ("x" * 31 + "n", False)
    lo = "a"
    # true row values a violating writer could be hiding: everything
    # with the stored prefix, plus values inside the honest envelope
    rows = [prefix, prefix + "a", prefix + "zzz", prefix + chr(0x10FFFF),
            "a", "b" * 40, "x" * 31]
    lits = [prefix, prefix + "a", prefix + "zzz", succ, lo, "z",
            "x" * 31, "x" * 31 + "n"]

    def truth(v, op, lit):
        if op == "in":
            return any(v == x for x in lit)
        return {"=": v == lit, "<": v < lit, "<=": v <= lit,
                ">": v > lit, ">=": v >= lit}[op]

    checked = 0
    for op in ("=", "<", "<=", ">", ">=", "in"):
        for lit in lits:
            arg = [lit, "q"] if op == "in" else lit
            vs = stats_value_set(op, arg, lo, prefix, 0, len(rows))
            for v in rows:
                t = truth(v, op, arg)
                # soundness: a possible row outcome must be in the set
                if t:
                    assert "T" in vs, (
                        f"MISFIRE: {v!r} {op} {arg!r} is TRUE but the "
                        f"envelope [lo={lo!r}, hi=raw prefix {prefix!r}] "
                        f"proved none-satisfy")
                else:
                    assert "F" in vs, (
                        f"MISFIRE: {v!r} {op} {arg!r} is FALSE but the "
                        f"envelope proved all-satisfy")
                checked += 1
    assert checked > 200


def test_short_string_stats_stay_exact():
    """Strings shorter than the 32-char truncation length cannot be
    truncation outputs — the hedge must NOT weaken their proofs."""
    from sql_based_etl_spark.engine.sql_compat import (
        stats_value_set,
        string_upper_bound,
    )

    assert string_upper_bound("apple") == ("apple", True)
    assert string_upper_bound(None) == (None, True)
    assert string_upper_bound(42) == (42, True)
    # none-satisfy via the inclusive hi still fires
    assert stats_value_set(">", "b", "aa", "ab", 0, 5) == frozenset("F")
    # equality pin on lo == hi still proves all-satisfy
    assert stats_value_set("=", "aa", "aa", "aa", 0, 5) == frozenset("T")
    # and the no-successor pathological prefix yields no upper proof
    top = chr(0x10FFFF) * 32
    assert string_upper_bound(top) == (None, False)
    assert stats_value_set(">", "zzz", "a", top, 0, 5) == frozenset("TF")


def test_violating_string_max_keeps_file_in_prune_and_occ(spark):
    """End-to-end: a bridge file whose stats carry a raw-prefix
    maxValues must survive driver-side read pruning for a predicate
    its hidden rows satisfy (and the scope-tree OCC lane agrees)."""
    prefix = "x" * 32
    meta = {"schemaString": __import__("json").dumps({
        "type": "struct",
        "fields": [{"name": "v", "type": "string", "nullable": True,
                    "metadata": {}}]}),
        "partitionColumns": [], "configuration": {}}
    add = {"path": "f1.parquet", "partitionValues": {},
           "stats": __import__("json").dumps({
               "numRecords": 3, "minValues": {"v": "a"},
               "maxValues": {"v": prefix},   # raw prefix, no increment
               "nullCount": {"v": 0}})}
    # rows like prefix+"zzz" satisfy v > prefix: the file must survive
    # the filter-list read and the SQL-predicate (OCC) reduction alike
    assert _tree_may_match(meta, add, filters_tree([("v", ">", prefix)]))
    tree = condition_scope_tree(f"v > '{prefix}'", ["v"], None)
    assert _tree_may_match(meta, add, tree)
    # but a literal at/above the prefix-successor still prunes —
    # the hedge keeps real skipping power
    beyond = "x" * 31 + "y"
    assert not _tree_may_match(meta, add,
                               filters_tree([("v", ">=", beyond)]))
