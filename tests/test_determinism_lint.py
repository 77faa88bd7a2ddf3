"""Mechanical enforcement of the registry's order-independence rule.

A parallel DOUBLE sum's low bits depend on partition merge order, so any
`round(sum(<float>), d)` / `round(avg(<float>), d)` that reaches a result
column or comparison is a latent cross-run / cross-engine hash flip (the
round-4 ml_temperature_mix ±1 incident). The fix is always the same:
quantize each row to an exact integer BEFORE the sum (cents, 1e-4 units
for grid products, 1e-9 for per-row ratios), divide once after — see
onebrc_spark/registry.py's registration rules.

This test scans the source for the banned shapes and pins the surviving
sites to an explicit allowlist of justified exceptions. Adding a new
`round(sum(...))` over floats fails here with a pointer to the rule,
instead of failing as a mysterious driver hash mismatch months later.

Scanner notes (round-5 hardening, per the advisor's audit of the round-4
version): the match is MULTILINE (an expression split across physical
lines can't slip through), an optional `coalesce(` between round( and
sum( is matched (the exact shape both round-4 escapees used), and the
exemption for `count` applies only when count IS the summed operand —
`round(sum(x)/count(*), d)` with a float x no longer sneaks past on the
divisor's name.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

SRC = Path(__file__).resolve().parent.parent / "onebrc_spark"

# round( [coalesce(] sum|avg( — whitespace (incl. newlines) tolerated at
# each seam, F.-prefixed or SQL-spelled. count() is exact and not banned.
_BANNED = re.compile(
    r"(?:F\.)?round\(\s*(?:(?:F\.)?coalesce\(\s*)?(?:F\.)?(sum|avg)\(",
    re.IGNORECASE,
)

# Applied to the text immediately FOLLOWING the matched `sum(` / `avg(` —
# i.e. to the aggregate's operand, not the whole statement. Exempt when the
# operand is already exact: a quantize-to-cents cast, a count, an
# explicitly integral column, or a BIGINT/long cast inside the operand.
_EXEMPT_OPERAND = re.compile(
    r"^\s*(?:CAST\s*\(\s*round\(|count\()"
    r"|AS BIGINT|\.cast\([\"']long[\"']\)"
    r"|l_quantity|n_chars|seq_chars|sum_vc|\bcents\b|\bpc\b|\bdc\b|\btc\b"
)

# (filename, substring-near-the-match) pairs for the justified exceptions.
# Each is argued at its site:
#  - sql_udf_declared sum_sig: transcendental per-row values (sigmoid) have
#    no grid; magnitude ≤ 1 over ~1e3 rows puts summation-order noise
#    ~1e-13 against 4-dp boundaries 5e-5 apart.
#  - sim_label_centroid: off-grid float embedding components; noise ~1e-14.
ALLOWLIST = {
    ("sqlsurface.py", "1.0 / (1.0 + exp(-(value / 1e2))"),
    ("sqlsurface.py", "sigmoid_scaled(value)"),
    ("similarity.py", "embedding[1]"),
    ("similarity.py", "embedding[2]"),
    ("similarity.py", 'F.element_at("embedding", 1)'),
    ("similarity.py", 'F.element_at("embedding", 2)'),
    # `ok` is a bigint-cents column (try_cast from the parsed line), so the
    # sum is exact; only the final single division is float.
    ("onebrc.py", "F.sum(ok)"),
}

# registry.py is the rulebook itself — its docstring quotes the banned
# shapes as prose.
_SKIP_FILES = {"registry.py"}


def _scan_text(path: Path) -> str:
    """File text with comment lines and DOCSTRINGS blanked (line positions
    kept so reported numbers stay true). Docstrings are located via ast —
    oracle SQL lives in ordinary string literals and stays scanned; prose
    quoting the banned shape ("round(sum(double)) ...") does not trip the
    lint."""
    raw = path.read_text()
    lines = raw.splitlines()
    doc_lines: set[int] = set()
    tree = ast.parse(raw)
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = getattr(node, "body", [])
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                doc_lines.update(
                    range(body[0].value.lineno, body[0].value.end_lineno + 1)
                )
    out = []
    for i, line in enumerate(lines, 1):
        stripped = line.lstrip()
        if i in doc_lines or stripped.startswith("#") or stripped.startswith("`"):
            out.append("")
        else:
            out.append(line)
    return "\n".join(out)


def test_no_unquantized_float_aggregate_roundings():
    violations = []
    for path in sorted(SRC.rglob("*.py")):
        if path.name in _SKIP_FILES:
            continue
        text = _scan_text(path)
        for m in _BANNED.finditer(text):
            operand = text[m.end() : m.end() + 160].replace("\n", " ")
            if _EXEMPT_OPERAND.search(operand):
                continue
            window = text[m.start() : m.start() + 240].replace("\n", " ")
            if any(
                path.name == fn and frag in window for fn, frag in ALLOWLIST
            ):
                continue
            lineno = text[: m.start()].count("\n") + 1
            violations.append(
                f"{path.relative_to(SRC.parent)}:{lineno}: {window[:110]}"
            )
    assert not violations, (
        "float SUM/AVG rounded into a result — quantize per-row to exact "
        "integers before the sum (registry.py rules), or add a justified "
        "ALLOWLIST entry:\n" + "\n".join(violations)
    )


def test_lint_catches_the_round4_escape_shapes():
    """The two shapes that slipped past the round-4 scanner must match now:
    coalesce-wrapped float sums and line-split expressions; and a float
    ratio with a count(*) divisor must NOT be exempted by the divisor."""
    assert _BANNED.search("round(coalesce(sum(o_totalprice), 0), 2)")
    assert _BANNED.search("F.round(F.coalesce(F.sum('o_totalprice'), F.lit(0.0)), 2)")
    assert _BANNED.search("round(\n    sum(x), 2)")
    m = _BANNED.search("round(sum(value)/count(*), 4)")
    assert m and not _EXEMPT_OPERAND.search("value)/count(*), 4)")
    # count as the OPERAND stays exempt — and the banned pattern must still
    # MATCH the shape (the exemption test would be vacuous otherwise)
    m2 = _BANNED.search("round(avg(count(x)), 2)")
    assert m2
    assert _EXEMPT_OPERAND.search("count(x)), 2)")


def test_no_round_on_cosine_or_tie_reachable_outputs():
    """r12 rule (registry.py, 'STRONGER'): round(x, d) diverges across
    engines on bit-identical doubles whose shortest repr lands on a
    digit-(d+1) 5 — Spark rounds the DECIMAL shortest-string view
    (BigDecimal HALF_UP), DuckDB the BINARY value (measured live:
    round(0.1250005, 6) = 0.125001 vs 0.125). Tie-reachable inputs
    (cosines of integer-coordinate vectors, integer-rank correlations,
    means of integer sums) must use the floor quantizer
    (similarity.cos_round6 / floor(x*scale + 0.5)/scale) instead. This
    lint pins the conversion: no F.round over cosine()/corr() and no SQL
    round( over the cosine macro may reappear in the similarity module or
    on the spearman output."""
    repo = Path(__file__).resolve().parents[1]
    sim = (repo / "onebrc_spark/operators/similarity.py").read_text()
    agg = (repo / "onebrc_spark/operators/aggregates.py").read_text()
    assert not re.search(r"F\.round\(\s*cosine\(", sim), (
        "F.round over cosine() reintroduces the decimal-vs-binary tie "
        "divergence — use cos_round6 (registry rule, r12)"
    )
    assert not re.search(r"round\(\{_cos_sql", sim), (
        "SQL round( over the cosine macro — use _cos6_sql (registry rule)"
    )
    assert not re.search(r"F\.round\(\s*F\.corr", agg), (
        "F.round over corr() — integer-rank correlations are "
        "small-denominator rationals, exactly the reachable-tie class; "
        "use the floor quantizer (registry rule, r12)"
    )
    # the quantizer itself must be in use (guards against deleting the
    # helper and 'simplifying' back to round in one sweep)
    assert sim.count("cos_round6(") >= 9, "cos_round6 call sites vanished"
    assert sim.count("_cos6_sql(") >= 9, "_cos6_sql oracle sites vanished"


_ROUND_OPEN = re.compile(r"\bF\.round\(")
_LONG_CAST = re.compile(r"""\s*\.cast\(\s*["'](?:long|bigint)["']\s*\)""")


def _round_to_long_sites(text: str) -> list[int]:
    """Offsets of every `F.round(<expr>).cast("long"|"bigint")`: the
    round's closing paren is found by depth counting, so nested calls and
    line breaks inside <expr> do not hide a site."""
    sites = []
    for m in _ROUND_OPEN.finditer(text):
        depth, i = 1, m.end()
        while depth and i < len(text):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        if _LONG_CAST.match(text, i):
            sites.append(m.start())
    return sites


def test_no_bigdecimal_round_to_long():
    """Rule (a) INT-ROUND (registry.py): Spark compiles a double round() to
    a per-row Double.toString + BigDecimal, so the exact-integer idiom is
    spelled aggregates.half_away_long(x), which returns the same long from
    inline rint math. A new F.round(x).cast("long"|"bigint") fails here."""
    violations = []
    for path in sorted(SRC.rglob("*.py")):
        text = _scan_text(path)
        for pos in _round_to_long_sites(text):
            lineno = text[:pos].count("\n") + 1
            violations.append(f"{path.relative_to(SRC.parent)}:{lineno}")
    assert not violations, (
        "F.round(x).cast(long/bigint) costs a BigDecimal per row — use "
        "onebrc_spark.operators.aggregates.half_away_long(x):\n"
        + "\n".join(violations)
    )


def test_round_to_long_lint_shapes():
    """The scanner must see nested and line-split sites, and must not flag
    a scale-d round or a round whose result is not cast to an integer."""
    assert _round_to_long_sites('F.round(F.col("v") * 100).cast("long")')
    assert _round_to_long_sites("F.sum(F.round(F.col('v') * 100).cast('bigint'))")
    assert _round_to_long_sites('F.round(\n    F.sqrt(F.col("n")) * 1000\n)\n.cast("long")')
    assert not _round_to_long_sites('F.round(F.col("v"), 1).alias("v")')
    assert not _round_to_long_sites('F.round(F.col("v")).cast("double")')
    assert not _round_to_long_sites('half_away_long(F.col("v") * 100)')
