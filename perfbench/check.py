"""Output checks: DuckDB answers, computed once and cached, compared with the
repo's differential test helper (`tests/compare.py`).

Both of its layers must agree: rows normalized cell by cell and sorted
(`_norm_rows`), and the strict rendering a pandas-based hash sees
(`_strict_table`: int 0 and float 0.0 differ, a Decimal column on the Spark
side and array columns are errors).

An `Expected` holds the DuckDB side of both layers. It is pickled under the
benchmark's work directory, keyed by a digest of the SQL text and the input
directory, so an oracle runs once per input and again only when its SQL
changes. `tests.compare` is imported from the repository root, which the
caller puts on `sys.path`.
"""

from __future__ import annotations

import hashlib
import pickle
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import tests.compare
from tests.compare import _norm_rows, _strict_table


@dataclass(frozen=True)
class Expected:
    columns: tuple[str, ...]
    norm: list[tuple]
    strict: list[tuple[str, ...]]


def expected_from_duckdb(con, sql: str) -> Expected:
    # materialize once: both layers read the same result without rerunning it
    con.execute(f"CREATE OR REPLACE TEMP TABLE _expected AS {sql}")
    rel = con.table("_expected")
    cols = list(rel.columns)
    return Expected(
        tuple(sorted(cols)),
        _norm_rows(cols, [tuple(r) for r in rel.fetchall()]),
        _strict_table(rel.fetchdf(), "oracle", "duck"),
    )


def mismatch(columns: list[str], rows: list[tuple], exp: Expected) -> str | None:
    """None when the Spark result equals `exp` on both layers, else why not."""
    if tuple(sorted(columns)) != exp.columns:
        return f"columns {sorted(columns)} != {list(exp.columns)}"
    if len(rows) != len(exp.norm):
        return f"{len(rows)} rows != {len(exp.norm)}"
    for i, (a, b) in enumerate(zip(_norm_rows(columns, rows), exp.norm)):
        if a != b:
            return f"sorted row {i}: {a} != {b}"
    try:
        strict = _strict_table(pd.DataFrame(rows, columns=columns), "result", "spark")
    except AssertionError as e:
        return str(e)
    for i, (a, b) in enumerate(zip(strict, exp.strict)):
        if a != b:
            return f"strict row {i}: {a} != {b}"
    return None


def cached_expected(cache_dir: Path, key: str, sql: str, connect) -> Expected:
    """The oracle answer for (`key`, `sql`), computed with `connect()`'s
    DuckDB connection on a cache miss. The comparison helper's source is
    part of the key, since the cached answer is already normalized by it."""
    h = hashlib.sha256(f"{key}\0{sql}\0".encode())
    h.update(Path(tests.compare.__file__).read_bytes())
    digest = h.hexdigest()[:24]
    path = cache_dir / f"{digest}.pkl"
    if path.exists():
        return pickle.loads(path.read_bytes())
    exp = expected_from_duckdb(connect(), sql)
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_bytes(pickle.dumps(exp))
    tmp.replace(path)
    return exp
