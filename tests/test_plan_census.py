"""Plan identity and the shuffle tripwire over EVERY registered query.

tests/plan_census.json records, per query at the smoke SF, the physical
Exchange count and a fingerprint of the normalised physical plan
(tests/plan_text.py::census_entry; generated by
scripts/gen_plan_census.py). A query whose plan changed fails here by
name, so a change meant to leave plans alone proves it by passing, and a
change that moves a plan shows it in the census diff. A query whose
Exchange count grows also fails its own test: an edit quietly added a
shuffle, the scale property the hand-written pins in test_plans.py
protect query-by-query.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from onebrc_spark import registry
from tests.conftest import SMOKE_SF_DIR
from tests.plan_text import census_entry, explain_str, normalise

ALL = registry.load_all()
CENSUS = json.loads((Path(__file__).parent / "plan_census.json").read_text())
_ENTRIES: dict[str, dict] = {}


def _entry(spark, name: str) -> dict:
    """The query's census entry, built once for both tests below."""
    if name not in CENSUS:
        pytest.skip("not in census yet — covered by test_census_covers_registry")
    if name not in _ENTRIES:
        df = ALL[name].fn(spark, SMOKE_SF_DIR)
        _ENTRIES[name] = census_entry(explain_str(df, "simple"))
    return _ENTRIES[name]


def test_census_covers_registry():
    missing = sorted(set(ALL) - set(CENSUS))
    assert not missing, (
        f"queries missing from plan_census.json (run "
        f"scripts/gen_plan_census.py): {missing}"
    )
    stale = sorted(set(CENSUS) - set(ALL))
    assert not stale, (
        f"plan_census.json carries entries for queries no longer registered "
        f"(rename/delete left a stale baseline — rerun "
        f"scripts/gen_plan_census.py): {stale}"
    )


@pytest.mark.parametrize("name", sorted(ALL))
def test_exchange_count_does_not_grow(spark, name):
    n = _entry(spark, name)["exchanges"]
    assert n <= CENSUS[name]["exchanges"], (
        f"{name}: plan now has {n} exchanges, census says "
        f"{CENSUS[name]['exchanges']} — a shuffle was added. If intentional, "
        f"rerun scripts/gen_plan_census.py and review the diff."
    )


@pytest.mark.parametrize("name", sorted(ALL))
def test_plan_fingerprint_unchanged(spark, name):
    got = _entry(spark, name)["fingerprint"]
    assert got == CENSUS[name]["fingerprint"], (
        f"{name}: physical plan changed (fingerprint {got}, census says "
        f"{CENSUS[name]['fingerprint']}). If intentional, rerun "
        f"scripts/gen_plan_census.py and review the diff; "
        f"tests/plan_text.py::normalise shows the compared text."
    )


# Simple-mode plan lines in the shapes the normalisation must absorb, taken
# from registry plans (ids, counters and counts changed by hand).
_SCAN = (
    "FileScan parquet [doc_id#{a}L,lang#{b}] Batched: true, DataFilters: "
    "[isnotnull(lang#{b}), isnotnull(cast((cast(n_chars#{c}L as double) / 100.0) "
    "as bigint)), isnotn{cut}..., Format: Parquet, Location: InMemoryFileIndex(1 "
    "paths)[file:/data/documents.parquet], PartitionFilters: [], PushedFilters: "
    "[IsNotNull(lang), IsNotNull(doc_id)], ReadSchema: struct<doc_id:bigint,lang:string>"
)
_DISTINCT_AGG = {
    "forward": (
        "HashAggregate(keys=[], functions=[partial_count(d#{a}L) FILTER (WHERE "
        "(gid#{b} = 1)), partial_count(g#{c}) FILTER (WHERE (gid#{b} = 2))])\n"
        "+- HashAggregate(keys=[d#{a}L, g#{c}, gid#{b}], functions=[])\n"
        "   +- Expand [[d#{a}L, null, 1], [null, g#{c}, 2]], [d#{a}L, g#{c}, gid#{b}]"
    ),
    "reverse": (
        "HashAggregate(keys=[], functions=[partial_count(d#{a}L) FILTER (WHERE "
        "(gid#{b} = 2)), partial_count(g#{c}) FILTER (WHERE (gid#{b} = 1))])\n"
        "+- HashAggregate(keys=[g#{c}, d#{a}L, gid#{b}], functions=[])\n"
        "   +- Expand [[g#{c}, null, 1], [null, d#{a}L, 2]], [g#{c}, d#{a}L, gid#{b}]"
    ),
}
_LAMBDA = (
    "Project [doc_id#{a}L, exists(v#{b}, lambdafunction(isnan(lambda x_{n}#{c}), "
    "lambda x_{n}#{c}, false)) AS bad#{a}, (x#{b} / _common_expr_{n}#{c}) AS r#{c}]"
)
_EXCHANGES = (
    "Exchange hashpartitioning(k#{a}, {p}), ENSURE_REQUIREMENTS, [plan_id={b}]\n"
    "Exchange rangepartitioning(k#{a} ASC NULLS FIRST, {p}), ENSURE_REQUIREMENTS, "
    "[plan_id={c}]\n"
    "Exchange RoundRobinPartitioning({p}), REPARTITION_BY_NUM, [plan_id={c}]\n"
    "+- Range (0, 4, step=1, splits={p})"
)
_JOIN = (
    "{join} [k#{a}L], [k#{b}L], Inner{build}\n"
    ":- Filter isnotnull(k#{a}L)\n"
    "+- Filter isnotnull(k#{b}L)"
)


def _fp(plan: str) -> str:
    return census_entry(plan)["fingerprint"]


def test_normalise_absorbs_run_noise_and_keeps_plan_changes():
    """One fingerprint across what differs between runs of one code: shifted
    ids, a metadata string cut at an id-dependent point, the distinct-
    aggregate rewrite's hash-ordered keys and gids, lambda and common-
    expression counters, and core-derived partition counts. A swapped join
    strategy, an added exchange, a changed filter and a changed pushed
    filter each change it."""
    assert _fp(_SCAN.format(a=7, b=8, c=9, cut="ul")) == _fp(
        _SCAN.format(a=10007, b=10008, c=10009, cut="")
    )
    fwd, rev = _DISTINCT_AGG["forward"], _DISTINCT_AGG["reverse"]
    assert _fp(fwd.format(a=1, b=2, c=3)) == _fp(rev.format(a=41, b=42, c=43))
    assert _fp(_LAMBDA.format(a=1, b=2, c=3, n=5)) == _fp(
        _LAMBDA.format(a=11, b=12, c=13, n=61)
    )
    assert _fp(_EXCHANGES.format(a=1, b=2, c=3, p=8)) == _fp(
        _EXCHANGES.format(a=1, b=2, c=3, p=16)
    )
    assert "#" not in normalise(_SCAN.format(a=7, b=8, c=9, cut=""))

    bhj = _JOIN.format(join="BroadcastHashJoin", build=", BuildRight, false", a=1, b=2)
    smj = _JOIN.format(join="SortMergeJoin", build="", a=1, b=2)
    assert _fp(bhj) != _fp(smj)
    exchange = "Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=3]"
    assert _fp(smj) != _fp(smj.replace("+- Filter", f"+- {exchange}\n   +- Filter"))
    assert _fp(smj) != _fp(smj.replace("isnotnull(k#2L)", "(k#2L > 0)"))
    scan = _SCAN.format(a=7, b=8, c=9, cut="")
    assert _fp(scan) != _fp(scan.replace("IsNotNull(doc_id)", "IsNotNull(lang)"))
    assert _fp(fwd.format(a=1, b=2, c=3)) != _fp(
        fwd.replace("partial_count(g", "partial_sum(g").format(a=1, b=2, c=3)
    )
