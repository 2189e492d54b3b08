"""The benchmark's workloads: which ops run, in what seeded order, and how
each op's answer is checked.

An op is one call a user of the engine makes and waits for. Query ops
call a ``queries()`` callable and fetch the result with ``toPandas()``;
ETL ops load one Superstore batch into the warehouse. Every op ends with
``operators.storage.unpersist_all()``, the engine's between-requests
release. An op's answer is checked by ``Runner.check`` after the op's
timer and trace span have closed.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pandas as pd

# Read queries of the reference dashboard (``dashboard/app.py``), in rank
# order for the Zipf draw: hot KPI/trend tiles first, extracts last. One
# per query shape (KPI scan, daily trend, star join, top-k, mart, extract)
# keeps the cold set-up pass short.
DASHBOARD_QUERIES = [
    "kpi_summary",
    "daily_sales_trend",
    "flagship_star_revenue",
    "top_customers",
    "mart_sales_performance",
    "dashboard_extract",
]
# Similarity-search and dedup requests of the same interactive session:
# one per corpus operator family (similarity, pq + clustering, dedup).
CORPUS_QUERIES = [
    "embedding_ann_ivf",
    "embedding_ann_pq",
    "doc_minhash_lsh_pairs",
]
# Maintenance pipelines of the nightly warehouse job, one for each layer
# the batch loads do not reach: the stateful per-user session replay
# (streaming.stateful), the incrementally maintained mart (operators.ivm),
# the streaming SCD2 upsert (streaming.upsert) and the clustered fact
# rewrite with file skipping (sources.layout). A nightly job calls each
# once, in a fixed order after the batch load, so a run times each once,
# on its first call in the process.
WAREHOUSE_PIPELINES = [
    "stream_user_session_stats",
    "mart_incremental_refresh",
    "stream_scd2_upsert",
    "fact_layout_skipping",
]
ETL = "etl_batch"

WAREHOUSE_DB = "bench_wh"


@dataclass(frozen=True)
class Workload:
    name: str
    setup: list[str]  # ops run once before the timed window opens
    block: list[str]  # the op mix; a run times whole blocks, each seed-shuffled
    tail_pct: float  # fixed per workload so parent and change compare
    once: list[str] = field(default_factory=list)  # end the first block, in order
    # run after ``setup``, before the timed window: a dashboard query's
    # second call still runs 1.5-2x its later calls while the JVM's JIT
    # warms up, and those calls sit where op_p50_s and op_tail_s are read
    settle: list[str] = field(default_factory=list)


def _zipf_block(names: list[str], size: int, s: float) -> list[str]:
    w = np.array([1.0 / (i + 1) ** s for i in range(len(names))])
    counts = np.maximum(1, np.round(size * w / w.sum())).astype(int)
    return [n for n, c in zip(names, counts) for _ in range(c)]


WORKLOADS = {
    # Zipf exponent 2: the KPI and trend tiles make 23 of the 31 ops, so
    # op_p50_s and op_tail_s (p66, 11 samples beyond) are read inside
    # that cluster. At exponent 1 (24 ops) both fell between kinds, and
    # ten runs spread 0.2-0.25 of their median; resampling those runs'
    # latencies into this mix gives about 0.15 and 0.18.
    "dashboard": Workload(
        "dashboard",
        DASHBOARD_QUERIES + CORPUS_QUERIES,
        _zipf_block(DASHBOARD_QUERIES + CORPUS_QUERIES, 28, 2.0),
        tail_pct=66.0,
        # the corpus searches' second calls run at most 1.3x their later
        # ones and rank above both percentiles; settling them too would
        # cost 4-5 s a run
        settle=DASHBOARD_QUERIES,
    ),
    # set-up loads batch 0 (the initial load); the first timed batch is
    # the process's first incremental merge, as in a nightly job
    "warehouse_etl": Workload(
        "warehouse_etl",
        [ETL],
        [ETL],
        tail_pct=75.0,
        once=WAREHOUSE_PIPELINES,
    ),
}


def blocks(workload: Workload, seed: int):
    """Endless sequence of op blocks, each the mix in a seeded order; the
    ``once`` ops follow the first block's mix in their listed order."""
    rng = np.random.default_rng([seed, 3])
    tail = workload.once
    while True:
        yield [workload.block[i] for i in rng.permutation(len(workload.block))] + tail
        tail = []


# --- answers ---------------------------------------------------------------


def _norm(v):
    """A value as plain Python, so a ``toPandas()`` cell, a collected
    Spark value and a DuckDB value compare bit for bit (NaN sentinel
    only, no rounding)."""
    if isinstance(v, np.ndarray):
        return tuple(_norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as column-name-sorted (name, value) tuples, in sorted order, so
    two engines' answers compare regardless of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple((columns[i], _norm(r[i])) for i in order) for r in rows]
    return sorted(out, key=repr)


def frame_rows(pdf) -> list[tuple]:
    return canonical_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))


def digest(rows: list[tuple]) -> tuple[int, str]:
    return len(rows), hashlib.sha1(repr(rows).encode()).hexdigest()


def oracle_rows(con, sql: str) -> list[tuple]:
    res = con.execute(sql)
    return canonical_rows([d[0] for d in res.description], res.fetchall())


# --- ops -------------------------------------------------------------------


@dataclass
class OpOutcome:
    kind: str
    latency_s: float
    ok: bool = True
    build_s: float = 0.0  # time inside the query callable
    collect_s: float = 0.0  # toPandas
    rows: int = 0
    frame: object = None  # the query's DataFrame, for the trace
    steps: dict[str, float] = field(default_factory=dict)  # ETL step times
    detail: str = ""  # why the answer check failed
    answer: object = None  # what ``Runner.check`` compares; dropped after it


class Runner:
    """Runs ops of one workload against one session; ``check`` compares
    an op's answer with its reference once the op has been timed."""

    def __init__(self, spark, corpus_dir: str, batches, duck, before_release) -> None:
        """``batches`` is an iterator of Superstore batches, or None."""
        import __spark_entry__ as entry
        from datafoundation_multi_source_retail_data_integration_hub_spark.operators.storage import (
            unpersist_all,
        )

        self.spark = spark
        self.corpus_dir = corpus_dir
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.unpersist_all = unpersist_all
        self.duck = duck
        self.batches = batches
        self.batch = None  # the batch the next ETL op loads
        self.first_digest: dict[str, tuple[int, str]] = {}
        self.fallback_used: set[str] = set()
        # called after each op's work, before unpersist_all (trace hook)
        self.before_release = before_release

    def prepare(self, kind: str) -> None:
        """Untimed work an op needs first: an ETL op's input file."""
        if kind == ETL:
            self.batch = next(self.batches)

    def run(self, kind: str) -> OpOutcome:
        return self._etl() if kind == ETL else self._query(kind)

    # query ops: callable + toPandas
    def _query(self, name: str) -> OpOutcome:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.corpus_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        self.before_release()
        self.unpersist_all()
        t3 = time.perf_counter()
        return OpOutcome(name, t3 - t0, True, t1 - t0, t2 - t1, len(pdf), df, answer=pdf)

    def check(self, out: OpOutcome) -> None:
        """Decide ``out.ok`` from the op's answer; runs no op work."""
        ok, detail = self._etl_ok(out) if out.kind == ETL else self._query_ok(out)
        out.ok, out.detail, out.answer = ok, detail, None

    def _query_ok(self, out: OpOutcome) -> tuple[bool, str]:
        """The first answer of a name is the returned pandas frame itself,
        compared raw-bit with the DuckDB oracle; later answers must match
        the first's row count and digest. A name without an oracle is
        checked against its own first answer only."""
        name = out.kind
        rows = frame_rows(out.answer)
        got = digest(rows)
        if name in self.first_digest:
            ok = got == self.first_digest[name]
            return ok, "" if ok else f"digest {got} differs from the first answer's"
        self.first_digest[name] = got
        if name not in self.oracles:
            self.fallback_used.add(name)
            return True, ""
        ok = rows == oracle_rows(self.duck, self.oracles[name])
        return ok, "" if ok else "differs from the DuckDB oracle"

    # ETL ops: one Superstore batch into the warehouse
    def _etl(self) -> OpOutcome:
        from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines import (
            retail,
        )
        from datafoundation_multi_source_retail_data_integration_hub_spark.pipelines.audit import (
            logged_write,
        )
        from datafoundation_multi_source_retail_data_integration_hub_spark.plans import (
            star_schema,
        )
        from datafoundation_multi_source_retail_data_integration_hub_spark.sources.writers import (
            read_table,
        )

        batch, self.batch = self.batch, None
        k = batch.index
        eff = (date(2026, 1, 1) + timedelta(days=k)).isoformat()
        started = datetime(2026, 1, 1) + timedelta(days=k)
        finished = started + timedelta(minutes=5)
        run_id = f"batch{k:03d}"
        specs = {s.name: s for s in retail.DIMENSIONS}
        steps: dict[str, float] = {}
        t0 = time.perf_counter()
        if k == 0:
            star = retail.run_etl(self.spark, batch.path, eff)
            t1 = time.perf_counter()
            steps["extract"] = t1 - t0
            tables = [(df, name, "overwrite") for name, df in star.dimensions.items()]
            tables.append((star.fact, "fact_sales", "overwrite"))
            t3 = t1
        else:
            staged = retail.extract_sales(self.spark, batch.path)
            t1 = time.perf_counter()
            dims = {}
            for name in retail.FACT.dim_keys:  # the dims the fact resolves against
                existing = read_table(self.spark, name, WAREHOUSE_DB)
                # cut the lineage to the table being overwritten below
                dims[name] = star_schema.merge_dimension(
                    existing, staged, specs[name], eff
                ).localCheckpoint(eager=False)
            t2 = time.perf_counter()
            fact = star_schema.resolve_fact(staged, retail.FACT, dims, specs)
            t3 = time.perf_counter()
            steps.update(extract=t1 - t0, merge=t2 - t1, resolve=t3 - t2)
            tables = [(df, name, "overwrite") for name, df in dims.items()]
            tables.append((fact, "fact_sales", "append"))
        for df, name, mode in tables:
            logged_write(df, name, run_id, started, finished, mode=mode, database=WAREHOUSE_DB)
        t4 = time.perf_counter()
        steps["publish"] = t4 - t3
        self.before_release()
        self.unpersist_all()
        t5 = time.perf_counter()
        steps["source_bytes"] = os.path.getsize(batch.path)
        return OpOutcome(ETL, t5 - t0, True, steps=steps, rows=batch.expected.rows, answer=batch)

    def _etl_ok(self, out: OpOutcome) -> tuple[bool, str]:
        """The warehouse's table counts after a batch, against the
        generator's expected counts."""
        batch = out.answer
        counts = self.warehouse_counts()
        e = batch.expected
        want = (
            e.dim_customer_rows, e.dim_customer_current, e.dim_product_rows,
            e.dim_product_current, e.dim_store_rows, e.dim_date_rows, e.fact_rows,
            e.audit_rows,
        )
        out.steps["audit_rows"] = counts[-1]
        ok = counts == want
        return ok, "" if ok else f"batch {batch.index}: table counts {counts}, expected {want}"

    def warehouse_counts(self) -> tuple[int, ...]:
        db = WAREHOUSE_DB
        row = self.spark.sql(
            f"""SELECT
              (SELECT count(*) FROM {db}.dim_customer),
              (SELECT count(*) FROM {db}.dim_customer WHERE is_current = 1),
              (SELECT count(*) FROM {db}.dim_product),
              (SELECT count(*) FROM {db}.dim_product WHERE is_current = 1),
              (SELECT count(*) FROM {db}.dim_store),
              (SELECT count(*) FROM {db}.dim_date),
              (SELECT count(*) FROM {db}.fact_sales),
              (SELECT count(*) FROM {db}.etl_run_log)"""
        ).first()
        return tuple(int(x) for x in row)
