"""Regenerate tests/plan_census.json: one entry per registered query.

Every registered query is built at the smoke SF and its simple-mode plan
turned into a census entry (`tests/plan_text.py::census_entry`): the
physical Exchange count and a fingerprint of the normalised plan.
tests/test_plan_census.py fails a query whose count grows or whose
fingerprint changes. The script prints the queries whose entry changed;
`git diff tests/plan_census.json` shows the same list. A change that
should leave plans alone regenerates to an empty diff.

NOTE "built", not "planned-only": most queries cost one Catalyst plan, but
the storage operators execute their /tmp writes at DataFrame-build time
and the iterative ops (connected components, k-means) run their driver
loops — the measured full-census cost is ~45 s at sf0.001.

Usage: python scripts/gen_plan_census.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from onebrc_spark import registry  # noqa: E402
from onebrc_spark.session import get_spark  # noqa: E402
from tests.conftest import SMOKE_SF_DIR  # noqa: E402  (census must match the gate's SF)
from tests.plan_text import census_entry, explain_str  # noqa: E402

OUT = Path(__file__).resolve().parents[1] / "tests" / "plan_census.json"


def main() -> None:
    spark = get_spark()
    old = json.loads(OUT.read_text()) if OUT.exists() else {}
    census = {
        name: census_entry(explain_str(q.fn(spark, SMOKE_SF_DIR), "simple"))
        for name, q in sorted(registry.load_all().items())
    }
    changed = sorted(n for n in census.keys() | old.keys() if census.get(n) != old.get(n))
    for name in changed:
        print(f"changed: {name:40s} {old.get(name)} -> {census.get(name)}")
    # one line per query, so the census diff names each query that moved
    lines = [
        f" {json.dumps(n)}: {json.dumps(e, sort_keys=True)}" for n, e in sorted(census.items())
    ]
    OUT.write_text("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {OUT} ({len(census)} queries, {len(changed)} changed)")


if __name__ == "__main__":
    main()
