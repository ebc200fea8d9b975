"""The benchmark workloads.

Each workload generates its inputs from the run's seed, then offers

* ``check(spark)``: an untimed correctness check made once per run,
  which for the query mix also warms the session;
* ``op(spark, tracer=None)``: one operation through the repository's
  public entry points, checked for correctness outside the timed region
  (a run times at least ``min_ops`` of them). Given a tracer, the same
  operation records a span, under its own Spark job group, around each
  call into a layer;
* ``layers(tracer, log)``: the per-layer metrics of the traced
  operation.

An operation is what a user waits for: one complete app run for the
batch workload, one query for the query mix.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import gen
from .tracing import EventLog, Tracer

PACKAGE = "big_data_hw_23_24_spark"


@dataclass
class OpResult:
    samples_ms: list[float] = field(default_factory=list)
    n_ops: int = 0
    rows: int = 0
    attempted: int = 1
    failed: int = 0
    wall_s: float = 0.0
    notes: list[str] = field(default_factory=list)
    # the kind of operation of each sample (the query name); empty when
    # every sample is the same kind of operation
    labels: list[str] = field(default_factory=list)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def spark_layer(tracer: Tracer, log: EventLog, name: str) -> dict[str, float]:
    """Span time and task counters of the spans called ``name``."""
    jobs, t = log.for_span(tracer, name)
    vals = {"s": tracer.seconds(name), "jobs": jobs, "tasks": t.tasks,
            "shuffle_mb": t.shuffle_bytes / 2 ** 20,
            "shuffle_records": t.shuffle_records,
            "cpu_s": t.cpu_ns / 1e9}
    return {f"{name}.{m}": v for m, v in vals.items()}


# --- corpus_prep ---------------------------------------------------------

# span name -> module of the layer functions corpus_pipeline.run
# imports on every call; the traced run swaps each for a span-recording
# wrapper
CORPUS_LAYERS = {
    "operators.textstats.quality_scores": "operators.textstats",
    "operators.dedup.minhash_near_duplicates": "operators.dedup",
    "operators.components.connected_components": "operators.components",
    "operators.textstats.token_chunks": "operators.textstats",
    "sources.write_sorted_parquet": "sources.sinks",
}


@contextmanager
def _traced_layers(tr: Tracer, layers: dict[str, str]):
    """Record a span around every call of each layer function while the
    block runs."""
    saved = []
    try:
        for name, mod_name in layers.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            fn = name.rsplit(".", 1)[1]
            saved.append((mod, fn, getattr(mod, fn)))
            setattr(mod, fn, tr.wrap(name, getattr(mod, fn)))
        yield
    finally:
        for mod, fn, orig in saved:
            setattr(mod, fn, orig)


class CorpusPrep:
    """``apps.corpus_pipeline.run`` with default stages on a Zipf
    corpus holding planted near-duplicates.

    The timed run is the process's first, cold one (JIT, codegen, worker
    start): the app is a command-line batch job, so every real run of it
    starts a fresh process and pays that cost."""

    N_DOCS = 2000
    min_ops = 1

    def __init__(self, rng, work: str, nproc: int):
        self.path = os.path.join(work, "corpus.parquet")
        self.out = os.path.join(work, "chunks")
        info = gen.corpus_parquet(rng, self.path, self.N_DOCS, 2 * nproc)
        self.truth = set(info.pop("truth"))
        self.inputs = info
        self.n = self.N_DOCS
        self.reference: list[str] | None = None

    def _check(self, lines: list[str]) -> list[str]:
        def num(prefix):
            x = next(x for x in lines if x.startswith(prefix))
            return int(x.split("=")[1].split()[0])
        errs = []
        table = pq.read_table(self.out, columns=["doc_id"])
        if table.num_rows != num("Chunks out"):
            errs.append(f"re-read {table.num_rows} chunks, report says "
                        f"{num('Chunks out')}")
        if num("After quality/lang filter") != self.n:
            errs.append("quality filter dropped documents")
        kept = set(table.column("doc_id").to_pylist())
        if len(kept) != num("After near-dedup"):
            errs.append("chunked documents differ from the dedup count")
        precision, _ = self._dedup_scores(kept)
        if precision != 1.0:
            errs.append(f"dedup precision {precision:.4f} != 1.0")
        if self.reference is None:
            self.reference = lines
        elif lines != self.reference:
            errs.append("report differs from the first run's")
        return errs

    def check(self, spark) -> OpResult:
        """Every run is checked in ``op`` itself."""
        return OpResult(attempted=0)

    def op(self, spark, tr: Tracer | None = None) -> OpResult:
        from big_data_hw_23_24_spark.apps import corpus_pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        t0 = time.perf_counter()
        if tr is None:
            lines = corpus_pipeline.run(spark, self.path, self.out)
        else:
            with _traced_layers(tr, CORPUS_LAYERS), \
                    tr.span("apps.corpus_pipeline.run"):
                lines = corpus_pipeline.run(spark, self.path, self.out)
        dt = time.perf_counter() - t0
        errs = self._check(lines)
        return OpResult([dt * 1e3], 1, self.n, failed=int(bool(errs)),
                        wall_s=dt, notes=errs)

    def layers(self, tr: Tracer, log: EventLog) -> dict:
        out = {}
        for name in (*CORPUS_LAYERS, "apps.corpus_pipeline.run"):
            out.update(spark_layer(tr, log, name))
        files = [f for f in os.listdir(self.out) if f.endswith(".parquet")]
        out["sources.write_sorted_parquet.output_mb"] = sum(
            os.path.getsize(os.path.join(self.out, f)) for f in files) / 2 ** 20
        out["sources.write_sorted_parquet.files"] = len(files)
        table = pq.read_table(self.out, columns=["doc_id"])
        p, r = self._dedup_scores(set(table.column("doc_id").to_pylist()))
        out["operators.dedup.minhash_near_duplicates.precision"] = p
        out["operators.dedup.minhash_near_duplicates.recall"] = r
        return out

    def _dedup_scores(self, kept: set[int]) -> tuple[float, float]:
        """Precision and recall of the dropped documents against the
        planted duplicates (every document passes the quality filter,
        so each dropped one was dropped by dedup)."""
        dropped = set(range(self.n)) - kept
        hit = len(dropped & self.truth)
        return (hit / len(dropped) if dropped else 0.0,
                hit / len(self.truth))


# --- star_queries --------------------------------------------------------

MIX = ("pricing_summary", "revenue_by_nation", "top_customers_per_nation",
       "customer_rolling_30d", "events_asof_orders", "customers_large_volume",
       "supplier_top_revenue", "parts_min_cost_supplier",
       "suppliers_sole_delay", "events_by_window", "order_events_3d",
       "customers_order_distribution")

# the tables each query scans; a query's input rows are their sizes
MIX_TABLES = {
    "pricing_summary": ("lineitem",),
    "revenue_by_nation": ("orders", "customer", "nation"),
    "top_customers_per_nation": ("customer",),
    "customer_rolling_30d": ("orders",),
    "events_asof_orders": ("events", "orders"),
    "customers_large_volume": ("lineitem", "orders", "customer"),
    "supplier_top_revenue": ("lineitem", "supplier"),
    "parts_min_cost_supplier": ("lineitem", "part", "supplier", "nation",
                                "region"),
    "suppliers_sole_delay": ("lineitem", "orders", "supplier"),
    "events_by_window": ("events",),
    "order_events_3d": ("orders", "events"),
    "customers_order_distribution": ("customer", "orders"),
}


def _kind(s) -> str:
    import pandas as pd

    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def _normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class StarQueries:
    """A seeded closed-loop sequence of registry queries, each built and
    run to a ``noop`` sink, over star-schema tables that are the same in
    every run; the run's seed fixes the query order."""

    SF = 0.01
    # the tables stand for one shared, read-only data set, so they do
    # not change with the run's seed
    TABLE_SEED = 42
    # an operation is a block, each query of the mix once; three timed
    # blocks give each query a median that ignores one disturbed block
    min_ops = 3

    def __init__(self, rng, work: str, nproc: int):
        import numpy as np

        self.dir = os.path.join(work, "star")
        self.rows = gen.star_tables(np.random.default_rng(self.TABLE_SEED),
                                    self.dir, self.SF)
        self.inputs = {"sf": self.SF, "table_seed": self.TABLE_SEED,
                       **self.rows}
        # one seeded permutation of the mix, run in every block, the way
        # a dashboard refreshes its queries. A new permutation per block
        # made the number of code-generation cache misses, and so the
        # work, differ from block to block by up to a quarter.
        self.order = [MIX[i] for i in rng.permutation(len(MIX))]

    def _fns(self):
        from big_data_hw_23_24_spark.queries import _REGISTRY, _ensure_loaded

        _ensure_loaded()
        return _REGISTRY

    def parity(self, spark) -> list[str]:
        """DuckDB oracle parity of every mix query on this run's tables."""
        import duckdb
        import pandas as pd

        reg = self._fns()
        con = duckdb.connect()
        try:
            for t in self.rows:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.dir}/{t}.parquet'")
            errs = []
            for name in MIX:
                got = reg[name].spark_fn(spark, self.dir).toPandas()
                want = con.sql(reg[name].oracle).df()
                try:
                    if sorted(got.columns) != sorted(want.columns):
                        raise AssertionError("columns differ")
                    for c in got.columns:
                        if _kind(got[c]) != _kind(want[c]):
                            raise AssertionError(f"{c}: dtype kind differs")
                    pd.testing.assert_frame_equal(
                        _normalize(got), _normalize(want), check_exact=True,
                        check_dtype=False)
                except AssertionError as e:
                    errs.append(f"{name}: oracle parity failed: "
                                f"{str(e).splitlines()[0]}")
            return errs
        finally:
            con.close()

    def _block(self, spark, tr: Tracer | None = None):
        reg = self._fns()
        samples, labels, rows, errs = [], [], 0, []
        for name in self.order:
            t0 = time.perf_counter()
            try:
                if tr is None:
                    df = reg[name].spark_fn(spark, self.dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tr.span(f"queries.{name}.build"):
                        df = reg[name].spark_fn(spark, self.dir)
                    with tr.span(f"queries.{name}.run"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query is counted, not fatal
                errs.append(f"{name}: {type(e).__name__}: {e}")
                continue
            samples.append((time.perf_counter() - t0) * 1e3)
            labels.append(name)
            rows += sum(self.rows[t] for t in MIX_TABLES[name])
        return samples, labels, rows, errs

    def check(self, spark) -> OpResult:
        """Oracle parity of every mix query, then one untimed block. Both
        warm the session: the first timed block would otherwise pay the
        first ``noop`` writes and the steepest part of the JIT warm-up,
        and it varied most from run to run."""
        errs = self.parity(spark)
        _, _, _, block_errs = self._block(spark)
        return OpResult(attempted=2 * len(MIX),
                        failed=len(errs) + len(block_errs),
                        notes=errs + block_errs)

    def op(self, spark, tr: Tracer | None = None) -> OpResult:
        """The next block of the sequence: each mix query once."""
        t0 = time.perf_counter()
        samples, labels, rows, errs = self._block(spark, tr)
        dt = time.perf_counter() - t0
        return OpResult(samples, len(samples), rows, labels=labels,
                        attempted=len(MIX), failed=len(errs), wall_s=dt,
                        notes=errs)

    def layers(self, tr: Tracer, log: EventLog) -> dict:
        out = {}
        for name in MIX:
            b = [s.end - s.start for s in tr.spans
                 if s.name == f"queries.{name}.build"]
            r = [s.end - s.start for s in tr.spans
                 if s.name == f"queries.{name}.run"]
            jobs, _ = log.for_span(tr, f"queries.{name}.run")
            out[f"queries.{name}.build_ms"] = _median(b) * 1e3
            out[f"queries.{name}.run_ms"] = _median(r) * 1e3
            out[f"queries.{name}.jobs"] = jobs / max(1, len(r))
        return out


WORKLOADS = {
    "corpus_prep": CorpusPrep,
    "star_queries": StarQueries,
}
