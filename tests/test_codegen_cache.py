"""The session's generated-code cache holds the engine's working set.

Spark keeps Janino-compiled whole-stage classes in an LRU of
`spark.sql.codegen.cache.maxEntries` classes (default 100). A workload that
cycles through more distinct classes than that misses on every access, so a
warm pass recompiles everything it runs. `get_spark` sizes the cache above
the registry's working set; these tests pin the conf and its effect.
"""

from __future__ import annotations

from onebrc_spark import registry
from onebrc_spark.session import codegen_compiles
from tests.conftest import SF_DIR

# Registry entries whose generated source is the same on every run (no
# AQE-order-dependent stage numbering, no memo). Together they compile about
# 140 classes cold, more than Spark's default cache of 100, so with the
# default every run of the set recompiles all of them.
STABLE_CODEGEN_QUERIES = [
    "agg_tpch_q1",
    "join_asof",
    "window_topn_per_group",
    "evt_session_window",
    "cdc_merge_upsert",
    "storage_zorder_layout",
    "join_broadcast_dims",
    "join_inner_fact",
    "text_bpe_merge_pairs",
    "sql_tpch_q21_shape",
    "onebrc_flagship",
]


def test_session_codegen_cache_holds_registry_working_set(spark):
    entries = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert entries is not None and int(entries) >= 4096


def test_second_run_compiles_nothing(spark):
    queries = registry.load_all()

    def run_set() -> int:
        before = codegen_compiles(spark)
        for name in STABLE_CODEGEN_QUERIES:
            queries[name].fn(spark, SF_DIR).collect()
        return codegen_compiles(spark) - before

    run_set()
    assert run_set() == 0
