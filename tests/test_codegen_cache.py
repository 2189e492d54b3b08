"""A warm pass over the dashboard's query kinds compiles no generated class.

The 9 kinds compile about 222 whole-stage and expression classes cold.
With Spark's default of 100 cache entries every warm pass recompiled
166-168 of them; ``session.CODEGEN_CACHE_ENTRIES`` holds them all. The
count is Spark's ``CodegenMetrics`` compile counter, which is exact,
read through ``tools/layer_profile.py::compiled_classes``.
"""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path

import __spark_entry__ as entry
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import storage
from perfbench.workloads import CORPUS_QUERIES, DASHBOARD_QUERIES
from tests.conftest import SF_SMOKE

_spec = importlib.util.spec_from_file_location(
    "layer_profile", Path(__file__).resolve().parent.parent / "tools" / "layer_profile.py"
)
_layer_profile = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_layer_profile)
compiled_classes = _layer_profile.compiled_classes


def test_third_dashboard_pass_compiles_nothing(spark):
    # the counter counts: a literal is inlined into the generated code,
    # so a projection over one never seen before compiles a new class
    before = compiled_classes(spark)
    spark.range(1).selectExpr(f"id + {time.time_ns()} AS x").collect()
    assert compiled_classes(spark) > before

    qs = entry.queries()
    names = DASHBOARD_QUERIES + CORPUS_QUERIES
    per_pass = []
    for _ in range(3):
        before = compiled_classes(spark)
        for name in names:
            qs[name](spark, SF_SMOKE).toPandas()
            storage.unpersist_all()
        per_pass.append(compiled_classes(spark) - before)
    # the third pass, not the second: doc_minhash_lsh_pairs' first warm
    # call can still compile 2 classes its cold call did not need
    assert per_pass[2] == 0, f"classes compiled per pass: {per_pass}"
