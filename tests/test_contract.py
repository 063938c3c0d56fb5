"""Driver-contract smoke tests (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) >= 30
    assert set(osql) <= set(qs)
    # every oracle is a non-empty SQL string
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


def test_all_queries_run(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name


def test_catalog_columns_matches_file_schemas(spark, sf_dir):
    """S6 catalog introspection: the view layer must expose exactly the
    parquet file columns — plus the documented events addition (derived
    `ts_ntz`; `ts` stays native for TIMESTAMP(MICROS) files and is
    re-typed long for legacy TIMESTAMP(NANOS) files)."""
    import pyarrow.parquet as pq
    import pyarrow.types as patypes

    from reactionetl_etl_spark.plans.catalog import all_queries
    from reactionetl_etl_spark.sources.tables import TABLE_NAMES

    got: dict[str, dict[str, str]] = {}
    for r in all_queries()["catalog_columns"].builder(spark, sf_dir).collect():
        got.setdefault(r["table_name"], {})[r["column_name"]] = r["data_type"]

    assert set(got) == set(TABLE_NAMES)
    for t in TABLE_NAMES:
        file_schema = pq.read_schema(f"{sf_dir}/{t}.parquet")
        file_cols = set(file_schema.names)
        if t == "events":
            assert set(got[t]) == file_cols | {"ts_ntz"}
            if patypes.is_timestamp(file_schema.field("ts").type):
                assert got[t]["ts"] == "timestamp_ntz"
            else:
                assert got[t]["ts"] == "bigint"  # TIMESTAMP_NANOS workaround
            assert got[t]["ts_ntz"] == "timestamp_ntz"
        else:
            assert set(got[t]) == file_cols, t


def test_priority_names_all_registered():
    """A typo'd _PRIORITY entry silently loses its front-of-queue slot —
    every name must exist in the registry, without duplicates. Since r9
    _PRIORITY is the ledger tool's FULL ordering, so it must also cover
    the registry completely (a missing name would sink a new query to
    undefined registry-order position)."""
    from reactionetl_etl_spark.plans.catalog import _PRIORITY, _REGISTRY

    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    assert not missing, missing
    assert len(set(_PRIORITY)) == len(_PRIORITY)
    uncovered = [n for n in _REGISTRY if n not in set(_PRIORITY)]
    assert not uncovered, uncovered


def test_verify_ledger_block_extraction_complete():
    """The churn ledger (tools/verify_ledger.py) detects per-query
    catalog churn by extracting each query's @_q block textually — a
    query whose block the parser misses would silently never register
    direct churn. Every registry name must extract, and the extracted
    block must contain its own builder reference (sanity that block
    boundaries line up)."""
    import os

    from reactionetl_etl_spark.plans.catalog import _REGISTRY
    from tools.verify_ledger import catalog_blocks, pinned_blocks

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    blocks = catalog_blocks(
        open(os.path.join(repo, "reactionetl_etl_spark/plans/catalog.py")).read()
    )
    missing = sorted(set(_REGISTRY) - set(blocks))
    assert not missing, missing
    pins = pinned_blocks(
        open(os.path.join(repo, "reactionetl_etl_spark/plans/pinned.py")).read()
    )
    # every pinned oracle belongs to a registered query
    assert not sorted(set(pins) - set(_REGISTRY))


def test_verify_ledger_effective_source_churn():
    """Function-level churn precision (r10): a module edit flags only
    queries whose USED names have a changed effective source — the
    name's own statement plus, transitively, every top-level
    statement it references (shared helpers, constants, the import
    block). Unused-path edits must NOT flag; shared-dependency and
    constant edits MUST."""
    from tools.verify_ledger import effective_sources, module_names_churned

    v1 = '''
from pyspark.sql import functions as F

LIMIT = 10

def helper(x):
    return x + LIMIT

def a(df):
    return helper(df)

def b(df):
    return df.limit(LIMIT)

def untouched(df):
    return df
'''
    # edit confined to a(): only a churns
    v2 = v1.replace("return helper(df)", "return helper(df) + 1")
    assert module_names_churned(v1, v2, {"a"})
    assert not module_names_churned(v1, v2, {"b"})
    assert not module_names_churned(v1, v2, {"untouched"})
    # shared-helper edit propagates to a (uses helper) but not b
    v3 = v1.replace("return x + LIMIT", "return x - LIMIT")
    assert module_names_churned(v1, v3, {"a"})
    assert not module_names_churned(v1, v3, {"b"})
    # constant edit propagates to BOTH a (via helper) and b
    v4 = v1.replace("LIMIT = 10", "LIMIT = 20")
    assert module_names_churned(v1, v4, {"a"})
    assert module_names_churned(v1, v4, {"b"})
    # import-block edit is conservative: flags everything
    v5 = v1.replace(
        "from pyspark.sql import functions as F",
        "from pyspark.sql import functions as F, Window",
    )
    assert module_names_churned(v1, v5, {"untouched"})
    # unknown/empty name set = whole module: any edit flags
    assert module_names_churned(v1, v2, set())
    assert not module_names_churned(v1, v1, set())
    # unparseable text falls back to churned
    assert module_names_churned(v1, "def broken(:", {"a"})
    # new top-level names appear in the map; removed ones churn users
    srcs = effective_sources(v1)
    assert set(srcs) == {"LIMIT", "helper", "a", "b", "untouched"}
    assert module_names_churned(v1, v1.replace("def helper", "def helper2"), {"a"})


def test_verify_ledger_block_deps_resolve_submodules():
    """Dep extraction: `from PKG import submodule as ALIAS` must map to
    the real PKG/submodule.py (whole-module dep — churn there cannot be
    invisible), import-name capture must stop at the line (identifiers
    from following statements never leak into the used set), and plain
    `from module import name` records the specific names."""
    from tools.verify_ledger import block_module_deps

    block = (
        "@_q(\n"
        '    "demo",\n'
        "    None,\n"
        ")\n"
        "def demo(spark, sf_dir):\n"
        "    from reactionetl_etl_spark.operators import linalg as LA\n"
        "    from reactionetl_etl_spark.operators.experiment import (\n"
        "        arm_assignment,\n"
        "        micro_units,\n"
        "    )\n"
        "    ev = load_events(spark, sf_dir)\n"
        "    return LA.fit_pca(ev)\n"
    )
    deps = block_module_deps(block)
    assert deps["reactionetl_etl_spark/operators/linalg.py"] == set()
    assert deps["reactionetl_etl_spark/operators/experiment.py"] == {
        "arm_assignment",
        "micro_units",
    }
    # trailing comment on an import never corrupts the captured name
    commented = (
        "def demo2(spark, sf_dir):\n"
        "    from reactionetl_etl_spark.operators.text import lang_id  # markers\n"
        "    return lang_id\n"
    )
    cdeps = block_module_deps(commented)
    assert cdeps["reactionetl_etl_spark/operators/text.py"] == {"lang_id"}
    # 'ev' / 'load_events' from the following statement never leak in
    assert all("ev" not in names for names in deps.values())
    # real-catalog spot check: the classifier query depends on the
    # classifier module file that exists, not operators.py
    import os

    from reactionetl_etl_spark.plans.catalog import _REGISTRY  # noqa: F401
    from tools.verify_ledger import REPO, catalog_blocks

    blocks = catalog_blocks(
        open(
            os.path.join(REPO, "reactionetl_etl_spark/plans/catalog.py")
        ).read()
    )
    cal_deps = block_module_deps(blocks["classifier_calibration_bins"])
    assert not any(p.endswith("reactionetl_etl_spark/operators.py") for p in cal_deps)
    assert any("classifier.py" in p for p in cal_deps)


def test_verify_ledger_orders_never_verified_first():
    """Ledger ranking contract: rank ascends, and within a rank the
    last-green round ascends — so never-verified (rank 0) and oldest
    direct-churn queries land inside the driver's ~50-query window."""
    from tools.verify_ledger import build_ledger

    ledger = build_ledger()
    keys = [(r["rank"], r["last_green_round"]) for r in ledger]
    assert keys == sorted(keys)
    assert all(r["last_green_round"] == 0 for r in ledger if r["rank"] == 0)


# perfbench's analytics_mix queries: one pass over them needs about 150
# generated classes, more than Spark's default codegen cache holds (100)
_ANALYTICS_QUERIES = (
    "pricing_summary", "shipping_priority_top10", "totalprice_percent_rank", "events_hourly_by_type",
    "asof_click_to_purchase", "text_stats_by_lang", "cosine_topk_bruteforce", "tfidf_top_terms",
)


def test_repeated_unit_compiles_no_code(spark, sf_dir, session_confs):
    """Running a unit again compiles no generated code: the session's
    codegen cache holds the unit's whole working set, so nothing the
    first run compiled was evicted before the repeat."""
    from reactionetl_etl_spark.plans.catalog import bench_queries

    # Without AQE the repeat plans exactly as the first run did. With
    # it, a busy host can finish a query's stages in another order, and
    # the re-optimized plan then needs a few classes of its own.
    session_confs({"spark.sql.adaptive.enabled": "false"})
    specs = bench_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def unit() -> dict[str, int]:
        """Classes compiled by each query of the unit."""
        counts = {}
        for name in _ANALYTICS_QUERIES:
            before = compiles.getCount()
            specs[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            counts[name] = compiles.getCount() - before
        return counts

    first = unit()
    repeat = unit()
    assert not any(repeat.values()), f"the repeat recompiled {repeat}; the first run compiled {first}"
