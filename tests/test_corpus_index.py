"""The three corpus searches probe a session-held index: PQ codes, IVF
cell assignments and MinHash signatures are ``SESSION`` entries keyed by
the corpus file's identity. A search's second call is a prepared read
that persists nothing and still matches its oracle raw-bit; a rewritten
corpus file builds a new index and never hits the old one."""

from __future__ import annotations

import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from datafoundation_multi_source_retail_data_integration_hub_spark.operators import storage
from datafoundation_multi_source_retail_data_integration_hub_spark.queries import (
    textops,
    vectors,
)

from .conftest import SF_SMOKE
from .oracle import compare

# query -> (module, corpus table, id column, index key tag)
KINDS = {
    "embedding_ann_ivf": (vectors, "embeddings", "vec_id", "ivf"),
    "embedding_ann_pq": (vectors, "embeddings", "vec_id", "pq"),
    "doc_minhash_lsh_pairs": (textops, "documents", "doc_id", "minhash"),
}


@pytest.mark.parametrize("name", sorted(KINDS))
def test_second_call_is_a_prepared_probe(spark, monkeypatch, name):
    module = KINDS[name][0]
    builds = []
    build = module.QUERIES[name]
    monkeypatch.setitem(
        module.QUERIES, name, lambda s, d: builds.append(1) or build(s, d)
    )
    call = entry.queries()[name]
    call(spark, SF_SMOKE).collect()
    storage.unpersist_all()
    builds.clear()
    compare(spark, SF_SMOKE, call, module.ORACLES[name], f"{name} second call")
    assert builds == []
    assert ("read", name, SF_SMOKE) in storage.cached_keys(storage.SESSION)
    assert storage.tracked_count() == 0


@pytest.mark.parametrize("name", sorted(KINDS))
def test_a_rewritten_corpus_file_misses_the_index(spark, monkeypatch, tmp_path, name):
    module, table, id_col, tag = KINDS[name]
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf_dir)
    looked, built = [], []
    memo = storage.memo

    def spy(spark, lifetime, key, build):
        if key[0] == tag:
            looked.append(key)
            return memo(spark, lifetime, key, lambda: built.append(key) or build())
        return memo(spark, lifetime, key, build)

    monkeypatch.setattr(storage, "memo", spy)
    # the module's own callable: a prepared read keeps its plan for as
    # long as the files under sf_dir stay as they are
    query = module.QUERIES[name]
    compare(spark, sf_dir, query, module.ORACLES[name], f"{name} before")
    assert len(built) == 1
    old = built[0]

    path = f"{sf_dir}/{table}.parquet"
    rows = pq.read_table(path)
    pq.write_table(rows.filter(pc.not_equal(pc.bit_wise_and(rows[id_col], 3), 1)), path)
    looked.clear()
    built.clear()
    compare(spark, sf_dir, query, module.ORACLES[name], f"{name} after the rewrite")
    assert len(built) == 1 and built[0] != old
    assert old not in looked
