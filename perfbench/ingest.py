"""``partitioned_ingest``: one writer/reader client in a closed loop.

Each cycle appends a seeded lineitem slice with
``sources.write_partitioned(..., mode="append")`` into a throwaway hive
dataset keyed by ``l_returnflag, l_linestatus``, roots a fresh
``GraphQLService(read_parquet(dest))`` and sends partition-key requests
(``count``, ``group(by:)`` keys, key ``filter``, key ``order``/``first``)
plus one non-key filter as a contrast. The file count grows every cycle, so
the metadata fast paths walk more footers as the run goes on, and schema
derivation sits on the freshness path.
"""

from __future__ import annotations

import asyncio
import json
import os
import time
from typing import NamedTuple

import numpy as np
import pyarrow.parquet as pq

from common import asgi_post, graphql_data, median, same, zipf_choice

KEYS = ["l_returnflag", "l_linestatus"]
ORDERS_PER_CYCLE = 4000
#: throwaway cycles before the measured ones (codegen, JIT)
WARM_CYCLES = 2
#: measured cycles at least: on a slow machine ``--seconds`` would fit only
#: three, and whether a fourth runs would swing the averages
MIN_CYCLES = 4
_FLAGS = ["A", "N", "R"]


class Request(NamedTuple):
    name: str
    query: str
    key: bool  # a partition-key request (metadata fast paths apply)
    path: tuple  # keys from ``data`` to the answer
    oracle_sql: str  # DuckDB over the hive view ``t``
    shape: str  # "scalar", "column", or "multiset" (order-free column)


def cycle_requests(rng: np.random.Generator) -> list[Request]:
    """One cycle's requests; the first is the freshness probe."""
    flag = zipf_choice(rng, _FLAGS, 1)[0]
    desc = zipf_choice(rng, ["", "-"], 1)[0]
    quantity = zipf_choice(rng, [1, 10, 30, 45, 49], 1)[0]
    order = ", ".join(f'"{desc}{k}"' for k in KEYS) + ', "l_orderkey", "l_linenumber"'
    sql_order = ", ".join(f"{k}{' DESC' if desc else ''}" for k in KEYS)
    return [
        Request("count", "{ count }", True, ("count",), "SELECT count(*) FROM t", "scalar"),
        Request("group", f'{{ group(by: {json.dumps(KEYS)}, counts: "n") '
                         '{ column(name: "n") { values } } }', True,
                ("group", "column", "values"),
                f"SELECT count(*) FROM t GROUP BY {', '.join(KEYS)}", "multiset"),
        Request("group_count", '{ group(by: ["l_returnflag"]) { count } }', True,
                ("group", "count"), "SELECT count(DISTINCT l_returnflag) FROM t", "scalar"),
        Request("key_filter", f'{{ filter(l_returnflag: {{eq: ["{flag}"]}}) {{ count }} }}',
                True, ("filter", "count"),
                f"SELECT count(*) FROM t WHERE l_returnflag = '{flag}'", "scalar"),
        Request("key_order", f"{{ order(by: [{order}], limit: 3) "
                             "{ columns { l_orderkey { values } } } }", True,
                ("order", "columns", "l_orderkey", "values"),
                f"SELECT l_orderkey FROM t ORDER BY {sql_order}, l_orderkey, l_linenumber "
                "LIMIT 3", "column"),
        Request("key_first", f'{{ first(by: ["{desc}l_returnflag"]) {{ count }} }}', True,
                ("first", "count"),
                f"SELECT count(*) FROM t WHERE l_returnflag = "
                f"(SELECT {'max' if desc else 'min'}(l_returnflag) FROM t)", "scalar"),
        Request("nonkey_filter", f"{{ filter(l_quantity: {{ge: {quantity}}}) {{ count }} }}",
                False, ("filter", "count"),
                f"SELECT count(*) FROM t WHERE l_quantity >= {quantity}", "scalar"),
    ]


class Ingest:
    name = "partitioned_ingest"
    scale = 0.1
    tables = ("lineitem",)

    def __init__(self, spark, data_dir, work_dir, seed):
        self.spark, self.data_dir = spark, data_dir
        self.rng = np.random.default_rng(seed)
        self.root = os.path.join(work_dir, "ingest")
        self.dest = os.path.join(self.root, "lineitem")
        path = os.path.join(data_dir, "lineitem.parquet")
        self.source_bytes = os.path.getsize(path)
        self.orderkeys = pq.read_table(path, columns=["l_orderkey"])["l_orderkey"].to_numpy()
        self.max_order = int(self.orderkeys.max()) + 1
        self.ops: list[tuple[float, float, bool]] = []
        self.key_rids: set[str] = set()
        self.cycles: list[dict] = []
        self.pending: list[tuple[list[str], list]] = []  # (files, answers) per cycle
        self.failed = self.attempted = self.written = 0
        self.schema_types = 0

    # -- setup -------------------------------------------------------------------

    def setup_step(self) -> dict:
        from graphique_spark.sources import load_tables

        t0 = time.perf_counter()
        self.source = load_tables(self.spark, self.data_dir, ["lineitem"])["lineitem"].df
        return {"load_tables_s": time.perf_counter() - t0}

    def warm(self) -> float:
        """``WARM_CYCLES`` cycles into a separate dataset: codegen and JIT
        for the write and every request shape. Returns their cycle time."""
        dest = self.dest
        self.dest = os.path.join(self.root, "warm")
        try:
            return sum(asyncio.run(self._cycle(-1 - k, None)) for k in range(WARM_CYCLES))
        finally:
            self.dest = dest
            self.cycles.clear()
            self.ops.clear()
            self.written = 0

    # -- measurement ---------------------------------------------------------------

    def measure(self, seconds: float, tracer=None) -> None:
        """At least ``MIN_CYCLES`` cycles, then more until ``seconds`` of
        cycle time have passed. With a tracer cycles
        go untraced, traced, traced, untraced, ... so a steady drift cancels
        out of the overhead."""
        busy, k = 0.0, 0
        while busy < seconds or k < MIN_CYCLES:
            traced = tracer is not None and k % 4 in (1, 2)
            if traced:
                tracer.install(self.spark)
            try:
                busy += asyncio.run(self._cycle(k, tracer if traced else None))
            finally:
                if traced:
                    tracer.uninstall()
            k += 1
        self.busy = busy

    async def _cycle(self, k: int, tracer) -> float:
        from pyspark.sql import functions as F

        from graphique_spark import sources
        from graphique_spark.service import GraphQLService
        from graphique_spark.service.asgi import GraphQLApp

        lo = (abs(k) * ORDERS_PER_CYCLE) % self.max_order
        hi = lo + ORDERS_PER_CYCLE
        rows = int(np.searchsorted(self.orderkeys, hi) - np.searchsorted(self.orderkeys, lo))
        start = time.perf_counter()
        if tracer:
            tracer.request(f"w{k}")
        part = self.source.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi))
        sources.write_partitioned(part, self.dest, KEYS, mode="append")
        committed = time.perf_counter()
        app = GraphQLApp(GraphQLService(sources.read_parquet(self.spark, self.dest)),
                         graphiql=False)
        answers = []
        fresh = None
        for j, req in enumerate(cycle_requests(self.rng)):
            rid = f"r{k}-{j}"
            if tracer:
                tracer.request(rid)
                if req.key:
                    self.key_rids.add(rid)
            t0 = time.perf_counter()
            status, payload = await asgi_post(app, json.dumps({"query": req.query}).encode())
            t1 = time.perf_counter()
            fresh = fresh or t1
            self.ops.append((t0, t1, tracer is not None))
            answers.append((req, graphql_data(status, payload)))
        busy = time.perf_counter() - start
        self.schema_types = len(app.service.schema.type_map)
        self.cycles.append({"rows": rows, "write_s": committed - start,
                            "fresh_s": fresh - committed})
        self.written += rows
        # the freshness probe must see every row written so far
        self.failed += answers[0][1] is None or answers[0][1]["count"] != self.written
        # appends only add files, so this list is the dataset as the
        # cycle's requests saw it; the oracle reads it after the run
        self.pending.append((self._files(), answers))
        return busy

    def _files(self) -> list[str]:
        return sorted(
            os.path.join(dirpath, name)
            for dirpath, _dirs, names in os.walk(self.dest)
            for name in names if name.endswith(".parquet")
        )

    def _check(self, files, answers) -> None:
        """Compare one cycle's answers with DuckDB over the hive files that
        stood after the cycle's write."""
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet({files!r}, hive_partitioning = true)"
        )
        for req, data in answers:
            self.attempted += 1
            if data is None:
                self.failed += 1
                continue
            got = data
            for key in req.path:
                got = got[key]
            rows = con.execute(req.oracle_sql).fetchall()
            want = rows[0][0] if req.shape == "scalar" else [r[0] for r in rows]
            if req.shape == "multiset":
                got, want = sorted(got), sorted(want)
            self.failed += not same(got, want)
        con.close()

    # -- results ---------------------------------------------------------------------

    def operations(self):
        return self.ops

    def throughput(self, ops, window: float) -> float:
        return len(ops) / self.busy

    def verify(self) -> tuple[int, int]:
        """Check every cycle's answers, warm-up cycles included, against
        DuckDB; return (attempted, failed)."""
        for files, answers in self.pending:
            self._check(files, answers)
        self.pending.clear()
        return self.attempted, self.failed

    def _written(self) -> tuple[int, int]:
        files = self._files()
        return len(files), sum(os.path.getsize(f) for f in files)

    def figures(self) -> dict:
        rows = sum(c["rows"] for c in self.cycles)
        _files, size = self._written()
        input_bytes = rows / len(self.orderkeys) * self.source_bytes
        return {
            "write_rows_per_s": rows / sum(c["write_s"] for c in self.cycles),
            "bytes_written_per_input_byte": size / input_bytes,
            "freshness_ms": 1e3 * median([c["fresh_s"] for c in self.cycles]),
        }

    def properties(self) -> dict:
        files, size = self._written()
        return {"clients": 1, "cycles": len(self.cycles), "ingest_files": files,
                "ingest_bytes": size, "rows_written": sum(c["rows"] for c in self.cycles)}

    def layers(self, tracer, steps) -> dict:
        from layers import request_layers, span_durations

        out = request_layers(self.spark, tracer, self.key_rids)
        files, size = self._written()
        out["sources.load_tables_s"] = median([s["load_tables_s"] for s in steps])
        out["sources.write_s"] = median(span_durations(tracer, "sources.write_partitioned"))
        out["sources.files_written"] = files
        out["sources.bytes_written"] = size
        out["service.schema.build_s"] = median(span_durations(tracer, "service.schema.build"))
        out["service.schema.types"] = self.schema_types
        return out
