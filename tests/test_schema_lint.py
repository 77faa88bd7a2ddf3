"""Output-schema lint over EVERY registered query (driver hash contract).

The driver's t2 gate stringifies result cells through pandas and hashes
them. Two Spark output types are structurally unsafe there regardless of
values:

  - DecimalType: Spark renders full declared scale ('1341148.6071000'),
    DuckDB's float64 renders shortest-repr ('1341148.6071') — hash red even
    when numerically identical. CORRECTNESS_r04 lost 7 rows to exactly this
    (a BIGINT / 10000.0 division: Spark types the literal as DECIMAL).
    Divide by exponent literals (1e4) or CAST(... AS DOUBLE) instead.
  - Array/Map/Struct: crashes the driver's pandas sort ("unhashable type:
    'list'") — serialize with array_join / to_json.

This test plans every registered query at the smoke SF and rejects both in
the OUTPUT schema (nested included), so the class can never reach a driver
round again. compare.py additionally hard-errors on Spark-side Decimal
cells at runtime; this sweep catches the latent ones no local test
executes with data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from onebrc_spark import registry
from tests.conftest import SMOKE_SF_DIR

ALL = registry.load_all()


def _bad_types(dt: T.DataType, path: str) -> list[str]:
    out = []
    if isinstance(dt, T.DecimalType):
        out.append(f"{path}: {dt.simpleString()} (DecimalType)")
    if isinstance(dt, (T.ArrayType, T.MapType)):
        # complex containers crash the driver's pandas canonicalizer
        out.append(f"{path}: {dt.simpleString()} (array/map)")
        return out
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            out.extend(_bad_types(f.dataType, f"{path}.{f.name}"))
    return out


@pytest.mark.parametrize("name", sorted(ALL))
def test_output_schema_is_driver_hashable(spark, name):
    df = ALL[name].fn(spark, SMOKE_SF_DIR)
    problems = []
    for field in df.schema.fields:
        problems.extend(_bad_types(field.dataType, field.name))
    assert not problems, (
        f"{name}: driver-unhashable output column type(s) — cast Decimals to "
        f"DOUBLE in-query (1e4-style literals), serialize arrays:\n  "
        + "\n  ".join(problems)
    )


# --- within-cell ORDER audit (VERDICT r6 #6) ---------------------------------
#
# The driver comparator sorts result ROWS, so final row order never matters;
# what CAN silently diverge is the ordering INSIDE a serialized cell — a
# string_agg/list aggregate whose ORDER BY key differs between the oracle
# and the Spark sort (round 5's only driver red: the report oracle ordered
# by formatted `line` while Spark sorted by `station`; lexicographic '10='
# precedes '9='). This sweep makes that class a plan-time lint: every
# ordered serialize-aggregate in every oracle must use a key that is
# visibly a Spark-side sort key of the same name, and every UNORDERED
# serialize-aggregate must be explicitly allowlisted with a justification.

import re

# (query, key) pairs whose ordering is established OUTSIDE the Spark plan.
_ORDER_KEY_EXEMPT = {
    # the oracle's list(... ORDER BY pos) replays _kmeans_fit_local's
    # DRIVER-side centroid assembly (Python list order by coordinate
    # position); the plan only sees the fitted centroids as literals.
    # Pinned instead by sim_ann_ivf_sampled's oracle parity and
    # test_properties.py::test_ivf_argmax_tie_margin_is_diagnosable.
    ("sim_ann_ivf_sampled", "pos"),
}

# Oracles allowed to build UNORDERED lists: must be order-FREE by use.
_UNORDERED_AGG_ALLOWED = {
    # hot_set is consumed by list_contains (set membership), never
    # serialized into an output cell — ordering cannot be observed.
    "text_boilerplate_clean",
}


def _serialize_agg_segments(sql: str):
    """Paren-balanced extraction of every serialize-aggregate call."""
    for m in re.finditer(r"\b(string_agg|array_agg|group_concat|list)\s*\(", sql):
        depth = 0
        for j in range(m.end() - 1, len(sql)):
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
                if depth == 0:
                    break
        yield m.group(1), sql[m.start() : j + 1]


def _ordered_keys(segment: str) -> list[str]:
    """Base column names of the ORDER BY keys inside one aggregate call."""
    m = re.search(r"ORDER\s+BY\s+(.*)\)$", segment, re.I | re.S)
    if not m:
        return []
    keys = []
    for part in m.group(1).split(","):
        ident = re.search(r"([A-Za-z_][A-Za-z0-9_.]*)", part)
        if ident:
            keys.append(ident.group(1).split(".")[-1])
    return keys


def _spark_order_fragments(df) -> list[str]:
    """Plan snippets that establish an ordering on the Spark side: Sort
    nodes, window order specs, and sort_array/array_sort expressions (for
    struct-sorted collect_lists, only the FIRST struct field orders —
    matching a later field would blind the lint to the round-5 bug)."""
    txt = df._jdf.queryExecution().optimizedPlan().toString()
    frags = []
    frags += [m.group(0) for m in re.finditer(r"Sort \[[^\]]*\]", txt)]
    frags += [m.group(0) for m in re.finditer(r"windowspecdefinition\([^)]*\)", txt)]
    # sort_array(collect_list(struct(<first-field>, ...)))  /  (<col>#id)
    for m in re.finditer(
        r"(?:sort_array|array_sort)\(collect_list\(struct\(([A-Za-z_]\w*)", txt
    ):
        frags.append(f"structsortkey {m.group(1)}")
    for m in re.finditer(
        r"(?:sort_array|array_sort)\(collect_list\(([A-Za-z_]\w*)#", txt
    ):
        frags.append(f"structsortkey {m.group(1)}")
    return frags


def test_ordered_aggregate_keys_align_with_spark_sorts(spark):
    problems = []
    for name in sorted(ALL):
        q = ALL[name]
        if q.oracle is None:
            continue
        segs = list(_serialize_agg_segments(q.oracle))
        if not segs:
            continue
        frags = None
        for fn, seg in segs:
            keys = _ordered_keys(seg)
            if not keys:
                if name not in _UNORDERED_AGG_ALLOWED:
                    problems.append(
                        f"{name}: UNORDERED {fn}(...) in oracle — add ORDER BY "
                        f"on the Spark sort key, or allowlist with a written "
                        f"order-free justification: {' '.join(seg.split())[:90]}"
                    )
                continue
            if frags is None:  # build the plan once per query
                frags = _spark_order_fragments(q.fn(spark, SMOKE_SF_DIR))
            for key in keys:
                if (name, key) in _ORDER_KEY_EXEMPT:
                    continue
                if not any(re.search(rf"\b{re.escape(key)}\b", f) for f in frags):
                    problems.append(
                        f"{name}: oracle {fn}(... ORDER BY {key}) has no "
                        f"matching Spark-side sort on '{key}' — the round-5 "
                        f"onebrc_report class. Spark ordering fragments: {frags}"
                    )
    assert not problems, "\n".join(problems)
