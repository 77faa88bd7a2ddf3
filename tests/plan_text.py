"""Physical-plan text for the plan tests and the plan census.

`explain_str` is the one spelling of a frame's plan text: it asks the JVM
for the string `df.explain(mode)` would print, without swapping the
process-wide `sys.stdout`, so threads may call it at once.

`census_entry` turns one simple-mode plan into a tests/plan_census.json
entry: the shuffle Exchange count and a fingerprint of the plan with what
varies between runs of the same code normalised away (`normalise`). Two
builds of one query, in any registry order, in fresh or shared JVMs and
at any core count, get one fingerprint; a changed join strategy, an added
exchange, filter or projection, or a changed pushed filter gets another.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame

_EXCHANGE = re.compile(r"\bExchange (?:hash|range)partitioning")

# (pattern, replacement), applied in order.
_RUN_NOISE = [
    # The scan's DataFilters repeat the Filter node above it, cut at a fixed
    # length while the ids are still in, so the cut moves with id digits.
    (re.compile(r"DataFilters: .*?, Format: "), "Format: "),
    # Lambda-variable and common-subexpression names carry JVM-wide counters.
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),
    (re.compile(r"_common_expr_\d+"), "_common_expr"),
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"_pyspark_[0-9a-f]+"), "_pyspark_"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),  # object identity hashes
    # Partition and split counts follow the core count.
    (re.compile(r", \d+\), (ENSURE_REQUIREMENTS|REPARTITION_BY_\w+)"), r"), \1"),
    (re.compile(r"RoundRobinPartitioning\(\d+\)"), "RoundRobinPartitioning"),
    (re.compile(r"splits=\d+"), "splits="),
]
_GID = re.compile(r"\bgid\b")
_NODE = re.compile(r"([\s:+-]*)(\w*)(.*)")
_TOKEN_SEP = re.compile(r"[\s,()\[\]]+")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def num_exchanges(df: DataFrame) -> int:
    """Shuffle Exchange operators (not broadcasts, not reused exchanges)."""
    return census_entry(explain_str(df, "simple"))["exchanges"]


def _order_free(line: str) -> str:
    """A line of the distinct-aggregate rewrite as its node name and its
    sorted tokens, numbers masked: the rewrite orders the grouping keys,
    the Expand projections and their `gid` numbers by expression-id hash."""
    if not _GID.search(line):
        return line
    indent, node, rest = _NODE.fullmatch(line).groups()
    tokens = sorted(t for t in _TOKEN_SEP.split(re.sub(r"\d+", "N", rest)) if t)
    return f"{indent}{node} {' '.join(tokens)}"


def normalise(plan: str) -> str:
    """Simple-mode plan text without what varies between runs of one code."""
    for pattern, repl in _RUN_NOISE:
        plan = pattern.sub(repl, plan)
    return "\n".join(_order_free(line) for line in plan.splitlines())


def census_entry(plan: str) -> dict:
    """The census entry of one simple-mode plan."""
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "fingerprint": hashlib.sha256(normalise(plan).encode()).hexdigest()[:16],
    }
