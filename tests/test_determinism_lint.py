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


def _dual_form_sites(source: str) -> list[str]:
    """Functions that keep a second spelling of one computation: a
    parameter annotated with both Column and str (a `|` union in either
    order, Union[...], string annotations), or an `if isinstance(<param>, str)`
    branch that returns early or has an else — the string fast path with
    a Column-built fallback behind it."""
    sites = []
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        args = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
        for a in args:
            ann = ast.unparse(a.annotation) if a.annotation else ""
            if re.search(r"\bColumn\b", ann) and re.search(r"\bstr\b", ann):
                sites.append(f"{fn.name}:{fn.lineno} ({a.arg}: {ann})")
        dispatch = re.compile(
            r"\bisinstance\((%s), str\)" % "|".join(re.escape(a.arg) for a in args)
        )
        for node in ast.walk(fn):
            if not (isinstance(node, ast.If) and args):
                continue
            early = any(isinstance(n, ast.Return) for b in node.body for n in ast.walk(b))
            if (early or node.orelse) and dispatch.search(ast.unparse(node.test)):
                sites.append(f"{fn.name}:{node.lineno} ({ast.unparse(node.test)})")
    return sites


def test_one_spark_spelling_per_helper():
    """Each expression helper has ONE Spark spelling: it takes a column
    NAME and builds one F.expr. A helper that also accepts a Column and
    keeps a py4j-built fallback branch is an undeclared twin — only the
    DuckDB oracle is an independent check, so a second Spark spelling
    costs code and review without checking anything."""
    violations = [
        f"{path.relative_to(SRC.parent)}: {site}"
        for path in sorted(SRC.rglob("*.py"))
        for site in _dual_form_sites(path.read_text())
    ]
    assert not violations, (
        "dual-form (Column or str) helpers — keep the name form only:\n"
        + "\n".join(violations)
    )


def test_dual_form_lint_shapes():
    """The scanner flags both regrowth shapes and passes name-only helpers."""
    assert _dual_form_sites("def f(c: str | Column) -> Column:\n    return c\n")
    assert _dual_form_sites("def f(c: 'Column|str'):\n    return c\n")
    assert _dual_form_sites("def f(c: Union[Column, str]):\n    return c\n")
    assert _dual_form_sites(
        "def f(c):\n"
        "    if isinstance(c, str):\n"
        "        return F.expr(c)\n"
        "    return F.upper(c)\n"
    )
    assert _dual_form_sites(
        "def f(a, b):\n"
        "    if isinstance(a, str) and isinstance(b, str):\n"
        "        out = F.expr(a + b)\n"
        "    else:\n"
        "        out = a + b\n"
        "    return out\n"
    )
    assert not _dual_form_sites("def f(c: str) -> Column:\n    return F.expr(c)\n")
    assert not _dual_form_sites(
        "def f(cols):\n"
        "    if isinstance(cols, str):\n"
        "        cols = [cols]\n"
        "    return cols\n"
    )


_TEMP_VIEW = re.compile(r"\bcreate(?:OrReplace)?(?:Global)?TempView\(")


def _temp_view_sites(source: str) -> list[int]:
    """Line numbers of every temp-view registration in `source`."""
    return [source.count("\n", 0, m.start()) + 1 for m in _TEMP_VIEW.finditer(source)]


def test_no_fixed_temp_view_names_in_operators():
    """Operators hand DataFrames to spark.sql as arguments
    (`spark.sql(text, docs=df)`), which registers a uniquely named view for
    the one call and drops it afterwards. A fixed view name is shared by
    every build on the session, so two concurrent builds can read each
    other's input, and the view keeps its plan (and any checkpoint blocks
    under it) alive after the query is built."""
    violations = [
        f"{path.relative_to(SRC.parent)}:{line}"
        for path in sorted((SRC / "operators").rglob("*.py"))
        for line in _temp_view_sites(path.read_text())
    ]
    assert not violations, (
        "temp view registered by an operator — pass the DataFrame to "
        "spark.sql as a named argument instead:\n" + "\n".join(violations)
    )


# A Spark band-key generator indexes or slices the MinHash signature `sig`.
# The DuckDB oracles spell their banding with sig[...] list slices, which
# this does not match: they are the independent check. Allowed sites:
#  - _band_keys_sqlx: THE 4×3 band keys;
#  - _jaccard_pairs_lsh_fallback: dedup_ngram_jaccard's blocked 6×2
#    fallback, a different split of a different signature column.
_BAND_KEY_FUNCS = {"_band_keys_sqlx", "_jaccard_pairs_lsh_fallback"}
_BAND_KEY = re.compile(
    r"""\b(?:element_at|slice)\(\s*(?:\{\s*sig\b|sig\b|F\.col\(\s*["']sig["']|["']sig["'])"""
)


def _band_key_sites(source: str) -> list[int]:
    """Line numbers of band-key generators outside the allowed functions."""
    allowed: set[int] = set()
    for fn in ast.walk(ast.parse(source)):
        if isinstance(fn, ast.FunctionDef) and fn.name in _BAND_KEY_FUNCS:
            allowed.update(range(fn.lineno, fn.end_lineno + 1))
    lines = (source.count("\n", 0, m.start()) + 1 for m in _BAND_KEY.finditer(source))
    return [line for line in lines if line not in allowed]


def test_one_spark_band_key_generator():
    """MinHash band keys have one Spark spelling, dedup._band_keys_sqlx:
    the pair build, the recall audit and incremental admission all band
    through it. A second generator would let the consumers' keys drift
    apart with only each query's oracle to notice."""
    dedup = (SRC / "operators" / "dedup.py").read_text()
    assert "def _band_keys_sqlx(" in dedup and _BAND_KEY.search(dedup)
    violations = [
        f"{path.relative_to(SRC.parent)}:{line}"
        for path in sorted(SRC.rglob("*.py"))
        for line in _band_key_sites(path.read_text())
    ]
    assert not violations, (
        "MinHash band keys built outside dedup._band_keys_sqlx:\n"
        + "\n".join(violations)
    )


_FUNCTION_REGISTRATION = re.compile(r"\.udt?f\.register\(")


def _function_registration_sites(source: str) -> list[int]:
    """Line numbers of every session function registration in `source`."""
    return [
        source.count("\n", 0, m.start()) + 1
        for m in _FUNCTION_REGISTRATION.finditer(source)
    ]


def test_no_registered_functions_in_operators():
    """Operators call their Python UDFs and UDTFs as objects (a UDTF
    through `lateralJoin` with `.outer()` arguments). A registered function
    name is session-global like a fixed temp view: every build re-registers
    it, and concurrent builds race on the one name."""
    violations = [
        f"{path.relative_to(SRC.parent)}:{line}"
        for path in sorted((SRC / "operators").rglob("*.py"))
        for line in _function_registration_sites(path.read_text())
    ]
    assert not violations, (
        "function registered by an operator — call the UDF/UDTF object "
        "instead:\n" + "\n".join(violations)
    )


_STORAGE_CALL = re.compile(r"\.(?:persist|cache|localCheckpoint|checkpoint|unpersist)\(")


def _storage_call_sites(source: str) -> list[int]:
    """Line numbers of every direct persist/cache/checkpoint/unpersist call."""
    return [
        source.count("\n", 0, m.start()) + 1 for m in _STORAGE_CALL.finditer(source)
    ]


def test_storage_calls_only_in_memo():
    """operators/memo.py is the one owner of block storage: memo entries
    release what their builds store, and `memo.checkpoint` is the one
    place that picks the storage kind. A direct call elsewhere stores
    blocks that only JVM GC would release."""
    memo = SRC / "operators" / "memo.py"
    assert _storage_call_sites(memo.read_text())
    violations = [
        f"{path.relative_to(SRC.parent)}:{line}"
        for path in sorted(SRC.rglob("*.py"))
        if path != memo
        for line in _storage_call_sites(path.read_text())
    ]
    assert not violations, (
        "persist/cache/checkpoint/unpersist outside operators/memo.py — use "
        "memo.checkpoint, memo.persist_for_build or a PersistedLRU:\n"
        + "\n".join(violations)
    )


def test_temp_view_and_band_key_lint_shapes():
    """The scanners flag their regrowth shapes and pass the allowed ones."""
    assert _temp_view_sites('docs.createOrReplaceTempView("_v")\n') == [1]
    assert _temp_view_sites("x = 1\nd.createTempView(name)\n") == [2]
    assert not _temp_view_sites('spark.sql("SELECT * FROM {d}", d=d)\n')
    for kind in ("udf", "udtf"):
        assert _function_registration_sites(f"x = 1\nspark.{kind}.register(n, f)\n") == [2]
    assert not _function_registration_sites("d.lateralJoin(C(F.col('x').outer()))\n")
    for call in ("persist()", "cache()", "localCheckpoint(eager=False)",
                 "checkpoint()", "unpersist(False)"):
        assert _storage_call_sites(f"x = 1\ny = df.{call}\n") == [2]
    assert not _storage_call_sites("t = checkpoint(df, eager=False)\n")
    assert not _storage_call_sites("persist_for_build(df)\nrelease(df)\n")
    assert _band_key_sites('k = f"xxhash64(0, element_at(sig, 1))"\n') == [1]
    assert _band_key_sites('k = F.element_at(F.col("sig"), 2)\n') == [1]
    assert _band_key_sites('b = F.slice(F.col("sig"), 1, 3)\n') == [1]
    assert _band_key_sites('def f(sig):\n    return f"element_at({sig}, 1)"\n') == [2]
    assert not _band_key_sites(
        'def _band_keys_sqlx(sig):\n    return f"element_at({sig}, 1)"\n'
    )
    assert not _band_key_sites("b = 'sig[band*3+1:band*3+3] AS band_sig'\n")


# Top-level engine definitions reached only by tests, kept on purpose.
# Each entry is "<module path under onebrc_spark/>::<name>" → its reason.
_TEST_ONLY_KEPT = {
    "sources/pysource.py::write_report": (
        "the Python Data Source writer behind SURVEY S8's report sink; no "
        "registry query writes files"
    ),
    "sources/pysource.py::read_synth_stream": (
        "the Python Data Source stream reader README.md declares (batch + "
        "streaming); a batch query cannot drive a stream reader"
    ),
}

_IDENTIFIER = re.compile(r"[A-Za-z_]\w*\Z")


def _references(source: str, *, package_init: bool = False) -> list[tuple[str, int]]:
    """(identifier, line) for every name, attribute, imported name and
    identifier-shaped string constant (a getattr or registry lookup by
    name) in `source`. In a package __init__.py the imported names and
    strings (`__all__`) are re-exports: they reach nothing."""
    refs = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif package_init:
            continue
        elif isinstance(node, ast.ImportFrom):
            refs += [(a.name, node.lineno) for a in node.names]
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _IDENTIFIER.match(node.value)
        ):
            refs.append((node.value, node.lineno))
    return refs


def _definitions(source: str) -> list[tuple[str, int, int, bool]]:
    """(name, first line, last line, registered) of every top-level def and
    class; registered = decorated with the registry's @query."""
    out = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            registered = any(
                isinstance(d, ast.Call) and ast.unparse(d.func) == "query"
                for d in node.decorator_list
            )
            out.append((node.name, node.lineno, node.end_lineno, registered))
    return out


def _unreached(
    engine: dict[str, str], reachers: dict[str, str], tests: dict[str, str]
) -> list[str]:
    """Top-level engine definitions nothing in the product references.

    engine: module path under onebrc_spark/ → source; reachers: the other
    files whose references count (bench.py, perfbench/,
    __spark_entry__.py, scripts/); tests: test files. A reference inside
    the definition itself (recursion) does not count."""
    where: dict[str, list[tuple[str, int]]] = {}
    for group, files in (("product", {**engine, **reachers}), ("tests", tests)):
        for path, source in files.items():
            init = path.endswith("__init__.py")
            for name, line in _references(source, package_init=init):
                where.setdefault(name, []).append((group, path, line))
    out = []
    for path, source in sorted(engine.items()):
        for name, first, last, registered in _definitions(source):
            groups = {
                group
                for group, ref_path, line in where.get(name, [])
                if not (ref_path == path and first <= line <= last)
            }
            if registered or "product" in groups:
                continue
            if "tests" not in groups:
                out.append(f"{path}::{name}: referenced nowhere")
            elif not (
                path.startswith("streaming/") or f"{path}::{name}" in _TEST_ONLY_KEPT
            ):
                out.append(f"{path}::{name}: referenced only by tests")
    return out


def _sources(root: Path, *globs: str) -> dict[str, str]:
    return {
        p.relative_to(root).as_posix(): p.read_text()
        for g in globs
        for p in sorted(root.glob(g))
    }


def test_every_engine_definition_is_reached():
    """Every top-level def/class under onebrc_spark/ is reached by the
    product: a registry query (@query), another engine module, bench.py,
    perfbench/, __spark_entry__.py or scripts/. Code only tests reach is
    an undeclared twin that exists to be compared in tests; move it into
    the test that uses it. The Structured Streaming twins under
    streaming/ are declared in README.md and checked against their batch
    queries, so tests may be their only caller; anything else kept for
    tests alone needs a reason in _TEST_ONLY_KEPT."""
    repo = SRC.parent
    engine = _sources(SRC, "**/*.py")
    reachers = _sources(
        repo, "bench.py", "__spark_entry__.py", "perfbench/**/*.py", "scripts/**/*.py"
    )
    tests = _sources(repo, "tests/**/*.py")
    defined = {
        f"{path}::{d[0]}" for path, source in engine.items() for d in _definitions(source)
    }
    assert set(_TEST_ONLY_KEPT) <= defined, set(_TEST_ONLY_KEPT) - defined
    violations = _unreached(engine, reachers, tests)
    assert not violations, (
        "engine definitions the product never reaches — delete them, or "
        "move a test-only helper into its test:\n" + "\n".join(violations)
    )


def test_unreached_lint_shapes():
    """A definition nothing references and one only a test references
    fail, and so do one that only references itself and one a package
    __init__ only re-exports; one a sibling module references passes, as
    do a registered query and a streaming twin that only a test drives."""
    engine = {
        "operators/a.py": (
            "def dead():\n    return 1\n\n\n"
            "def test_only():\n    return 2\n\n\n"
            "def used_by_sibling():\n    return 3\n\n\n"
            "def recursive(n):\n    return recursive(n - 1) if n else 0\n\n\n"
            "@query('q', oracle=None, survey_ref='X')\n"
            "def registered(spark, sf_dir):\n    return 4\n"
        ),
        "operators/b.py": "from onebrc_spark.operators.a import used_by_sibling\n",
        "streaming/pipelines.py": "def stream_twin(df):\n    return df\n",
    }
    tests = {
        "tests/test_a.py": (
            "from onebrc_spark.operators.a import test_only\n"
            "from onebrc_spark.streaming.pipelines import stream_twin\n"
        )
    }
    assert _unreached(engine, {}, tests) == [
        "operators/a.py::dead: referenced nowhere",
        "operators/a.py::test_only: referenced only by tests",
        "operators/a.py::recursive: referenced nowhere",
    ]
    # a script reference reaches a definition, and an unreferenced
    # streaming definition still fails
    engine["streaming/pipelines.py"] += "\n\ndef stream_orphan(df):\n    return df\n"
    assert _unreached(engine, {"scripts/s.py": "x = dead()\n"}, tests) == [
        "operators/a.py::test_only: referenced only by tests",
        "operators/a.py::recursive: referenced nowhere",
        "streaming/pipelines.py::stream_orphan: referenced nowhere",
    ]
    # a package re-export reaches nothing; a call in a package __init__ does
    engine["operators/c.py"] = "def reexported():\n    return 5\n"
    engine["operators/__init__.py"] = (
        "from onebrc_spark.operators.c import reexported\n\n"
        '__all__ = ["reexported"]\n'
    )
    assert _unreached(engine, {}, tests) == [
        "operators/a.py::dead: referenced nowhere",
        "operators/a.py::test_only: referenced only by tests",
        "operators/a.py::recursive: referenced nowhere",
        "operators/c.py::reexported: referenced nowhere",
        "streaming/pipelines.py::stream_orphan: referenced nowhere",
    ]
    engine["operators/__init__.py"] += "DEFAULT = reexported()\n"
    assert "operators/c.py::reexported: referenced nowhere" not in _unreached(
        engine, {}, tests
    )
