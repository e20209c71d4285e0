"""``pipeline_batch``: one client runs suite callables into a noop sink.

The callables come from ``__spark_entry__.queries()`` as they are: a few
shuffle-heavy jobs with no shared work and almost no ``service`` code, so a
request-path change should leave this workload unchanged while an
``operators``/``llm``/``streaming`` change shows here first. The warm pass
collects each result once; after the run they are compared with the suite's
DuckDB oracle (``__spark_entry__.oracle_sql()``) through
``tools.check_correctness.canon``.
"""

from __future__ import annotations

import time

from common import median, oracle
from layers import BATCH_QUERIES
from spans import job_group


class Batch:
    name = "pipeline_batch"
    #: the suite's per-query cost here is mostly per-job overhead; this scale
    #: keeps one pass under ten seconds on four cores
    scale = 0.005
    tables = ("region", "nation", "customer", "orders", "lineitem", "events",
              "documents", "embeddings")

    def __init__(self, spark, data_dir, work_dir, seed):
        import __spark_entry__

        self.spark, self.data_dir = spark, data_dir
        suite = __spark_entry__.queries()
        self.queries = {name: suite[name] for name in BATCH_QUERIES}
        self.oracles = __spark_entry__.oracle_sql()
        self.ops: list[tuple[str, float, float, bool]] = []
        self.passes = 0
        self.rids: list[str] = []  # job groups of the traced queries
        self.results: dict[str, tuple[list, list]] = {}  # name -> (rows, columns)
        self.attempted = self.failed = 0

    def setup_step(self) -> dict:
        return {}

    def warm(self) -> float:
        """Collect every query once; return the seconds that took."""
        t0 = time.perf_counter()
        for name, fn in self.queries.items():
            df = fn(self.spark, self.data_dir)
            self.results[name] = (df.collect(), df.columns)
        return time.perf_counter() - t0

    def _run(self, name: str) -> None:
        df = self.queries[name](self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()

    def measure(self, seconds: float, tracer=None) -> None:
        """One whole pass, which takes about ``seconds`` on four cores: a
        fixed amount of work, so a slower machine cannot change how many
        passes (and how much JIT warm-up) a run averages over. With a tracer,
        two passes: every other query of the first pass is traced and the
        second pass swaps them, so each query runs both ways."""
        for k in range(2 if tracer else 1):
            for j, name in enumerate(self.queries):
                traced = tracer is not None and (j + k) % 2 == 1
                t0 = time.perf_counter()
                if traced:
                    rid = f"q{k}-{name}"
                    self.rids.append(rid)
                    tracer.install(self.spark)
                    try:
                        tracer.request(rid)
                        with job_group(self.spark, rid):
                            tracer.call(f"query.{name}", self._run, name)
                    finally:
                        tracer.uninstall()
                else:
                    self._run(name)
                self.ops.append((name, t0, time.perf_counter(), traced))
                self.attempted += 1
            self.passes += 1

    def operations(self):
        return [(t0, t1, traced) for _n, t0, t1, traced in self.ops]

    def throughput(self, ops, window: float) -> float:
        return len(ops) / sum(end - start for start, end, _traced in ops)

    def verify(self) -> tuple[int, int]:
        """Compare the warm pass's results with their oracles; return
        (attempted, failed)."""
        from tools.check_correctness import canon

        con = oracle(self.data_dir, self.tables)
        for name, (rows, columns) in self.results.items():
            got = canon([tuple(r) for r in rows], columns)
            cursor = con.execute(self.oracles[name])
            want = canon(cursor.fetchall(), [d[0] for d in cursor.description])
            self.attempted += 1
            self.failed += got != want
        return self.attempted, self.failed

    def figures(self) -> dict:
        """One pass's wall time: the sum of each query's median untraced
        time."""
        return {"batch_wall_s": sum(
            median([t1 - t0 for n, t0, t1, traced in self.ops if n == name and not traced])
            for name in self.queries
        )}

    def properties(self) -> dict:
        return {"clients": 1, "passes": self.passes, "queries": list(self.queries)}

    def layers(self, tracer, steps) -> dict:
        from layers import span_durations
        from spans import job_counts

        out = {}
        for name, layer in BATCH_QUERIES.items():
            out[f"{layer}.{name}_s"] = median(span_durations(tracer, f"query.{name}"))
        jobs = job_counts(self.spark, self.rids)
        out["dataset.tasks_per_query"] = sum(t for _j, t in jobs.values()) / max(len(self.rids), 1)
        return out
