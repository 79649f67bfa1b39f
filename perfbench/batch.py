"""The ``corpus_batch`` workload: batch analytics and streaming drains.

A fixed subset of the corpus queries, each layer's heaviest in the
round-10 bench, runs over the sf0.01 tables committed under
``perfbench/data/sf0.01`` (the correctness gate's scale, for which every
golden-pinned query has a committed golden). The seed fixes the order
the queries run in.

An untimed warm pass collects every query and checks it against its
DuckDB oracle or committed golden (and its recall bar, for the ANN
queries), as ``tools/check_corpus.py`` does. Then a fixed number of
timed passes materialize each query through Arrow, as ``bench.py``
does, and every timed result is checked again outside the timing.
"""

from __future__ import annotations

import gc
import math
import random
import time
from pathlib import Path
from statistics import median

from .common import Workdir, jvm_live_mb, spark_session
from .tracer import Tracer, job_tag

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.01"

SUBSET = (
    "pricing_summary",
    "local_supplier_volume",
    "minhash_lsh_dedup",
    "gopher_quality",
    "ivfpq_batch_topk",
    "nougat_chunks",
    "stream_hourly_counts",
    "stream_sessions",
)
#: one timed pass's nominal wall on the 4-CPU host; ``--seconds`` is
#: turned into a fixed pass count with it
NOMINAL_PASS_S = 8.0
#: the gate's bar for approximate queries (tools/check_corpus.py)
MIN_QUALITY = 0.9


class CorpusBatch:
    def __init__(self, seed: int, seconds: int, trace: bool, t_start: float):
        self.trace, self.t_start = trace, t_start
        self.tracer = Tracer(trace)
        self.passes = max(1, round(seconds / NOMINAL_PASS_S))
        self.order = list(SUBSET)
        random.Random(seed).shuffle(self.order)
        self.attempted = 0
        self.failures: list[str] = []
        self.query_ms: dict[str, list[float]] = {q: [] for q in SUBSET}
        self.pass_s: list[float] = []
        self.layer: dict[str, list[float]] = {}

    def setup(self, work: Workdir) -> None:
        t0 = time.perf_counter()
        self.spark = spark_session(work, "perfbench-corpus-batch", trace=self.trace)
        self.layer["session.start_s"] = [time.perf_counter() - t0]
        self.open_oracle()
        self.setup_s = time.perf_counter() - self.t_start

    def open_oracle(self) -> None:
        """The queries' specs and a DuckDB connection over the tables."""
        import duckdb

        from assignment3_qachatapplication_vectorembeddings_spark.plans.corpus import CORPUS
        from assignment3_qachatapplication_vectorembeddings_spark.schemas import TESTDATA_TABLES

        self.specs = {q: CORPUS[q] for q in SUBSET}
        self.oracle = duckdb.connect()
        for t in TESTDATA_TABLES:
            self.oracle.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR / t}.parquet'"
            )

    def _expected(self, name: str):
        tbl = self.oracle.execute(self.specs[name].oracle).arrow()
        cols = list(tbl.column_names)
        return cols, list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []

    def _check(self, name: str, cols: list[str], rows: list) -> str | None:
        from tools.check_corpus import canon_rows

        ocols, orows = self._expected(name)
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if not orows:
            return "oracle has no rows (no golden for these tables)"
        if canon_rows(cols, rows) != canon_rows(ocols, orows):
            return "values differ from the oracle"
        return None

    def _run_query(self, name: str, *, timed_pass: int | None) -> None:
        from assignment3_qachatapplication_vectorembeddings_spark.runtime import release_caches

        spec = self.specs[name]
        self.attempted += 1
        tag = f"pass{timed_pass}-{name}" if self.trace and timed_pass is not None else None
        try:
            with job_tag(self.spark, tag), self.tracer.request(tag or "", f"corpus.{name}"):
                t0 = time.perf_counter()
                df = spec.fn(self.spark, str(DATA_DIR))
                if timed_pass is None:
                    cols, result = df.columns, df.collect()
                else:
                    tbl = df.toArrow()
                    ms = (time.perf_counter() - t0) * 1000.0
                    cols = list(tbl.column_names)
                    result = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
            error = self._check(name, cols, result)
            if error is None and timed_pass is None and spec.quality is not None:
                scores = spec.quality(self.spark, str(DATA_DIR), result)
                low = {k: v for k, v in scores.items() if not k.endswith("_info") and v < MIN_QUALITY}
                if low:
                    error = f"quality below {MIN_QUALITY}: {low}"
        except Exception as exc:  # a failed query is counted, the pass goes on
            error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        finally:
            release_caches()
            gc.collect()
        if error is not None:
            self.failures.append(f"{name}: {error}")
        elif timed_pass is not None:
            self.query_ms[name].append(ms)

    def run(self) -> None:
        t0 = time.perf_counter()
        self.tracer.enabled = False
        for name in self.order:
            self._run_query(name, timed_pass=None)
        self.layer["setup.warmup_s"] = [time.perf_counter() - t0]
        self.tracer.enabled = self.trace
        for p in range(self.passes):
            before = {q: len(v) for q, v in self.query_ms.items()}
            for name in self.order:
                self._run_query(name, timed_pass=p)
            self.pass_s.append(
                sum(v[-1] for q, v in self.query_ms.items() if len(v) > before[q]) / 1000.0
            )
        if self.trace:
            self.layer["jvm.live_mb"] = [jvm_live_mb(self.spark)]

    def end_to_end(self) -> dict:
        # every query moves the geometric mean of the per-query medians;
        # a median over all query times moves only with the middle one
        medians = [median(v) for v in self.query_ms.values()]
        return {
            "setup_s": (self.setup_s, "s"),
            "op_ms": (math.exp(sum(map(math.log, medians)) / len(medians)), "ms"),
            "wall_s": (median(self.pass_s), "s"),
        }

    def per_layer(self, counters: dict) -> dict:
        out = {k: median(v) for k, v in self.layer.items()}
        for q, v in self.query_ms.items():
            out[f"corpus.{q}_ms"] = median(v)
        out["streaming.drain_ms"] = sum(
            median(v) for q, v in self.query_ms.items() if q.startswith("stream_")
        )
        keys = ("jobs", "stages", "tasks", "shuffle_write_bytes", "executor_run_ms", "jvm_gc_ms")
        totals = dict.fromkeys(keys, 0.0)
        for tag, c in counters.items():
            if tag.startswith("pass"):
                for k in keys:
                    totals[k] += c[k]
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}_per_pass"] = totals[k] / self.passes
        for k in ("shuffle_write_bytes", "executor_run_ms", "jvm_gc_ms"):
            out[f"spark.{k}"] = totals[k] / self.passes
        return out
