"""Helpers shared by the workloads: the in-process ASGI client, the DuckDB
oracle, result comparison, order statistics and process memory."""

from __future__ import annotations

import json
import math
import os
import statistics

import numpy as np


def zipf_choice(rng: np.random.Generator, pool: list, n: int, s: float = 1.0) -> list:
    """``n`` draws from ``pool`` with probability falling as 1/rank**s, so a
    few constants recur (shared work) and a long tail stays distinct. The
    default is the classic Zipf law; no measured traffic backs it."""
    weights = 1.0 / np.arange(1, len(pool) + 1) ** s
    picks = rng.choice(len(pool), n, p=weights / weights.sum())
    return [pool[i] for i in picks]


async def asgi_post(app, body: bytes) -> tuple[int, bytes]:
    """One ``POST /`` through the ASGI app, in process: request bytes in,
    response bytes out."""
    scope = {"type": "http", "method": "POST", "path": "/", "headers": []}
    sent: list[dict] = []

    async def receive():
        return {"type": "http.request", "body": body, "more_body": False}

    async def send(message):
        sent.append(message)

    await app(scope, receive, send)
    status = sent[0]["status"]
    return status, b"".join(m.get("body", b"") for m in sent[1:])


def graphql_data(status: int, payload: bytes):
    """The ``data`` of a GraphQL response, or None when it carries errors."""
    if status != 200:
        return None
    out = json.loads(payload)
    return None if out.get("errors") else out.get("data")


def oracle(data_dir: str, tables) -> "duckdb.DuckDBPyConnection":  # noqa: F821
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def same(got, want) -> bool:
    """Structural equality with a relative float tolerance: Spark and DuckDB
    sum doubles in different orders."""
    if isinstance(got, float) or isinstance(want, float):
        return (
            isinstance(got, (int, float))
            and isinstance(want, (int, float))
            and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)
        )
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same(g, w) for g, w in zip(got, want))
    if isinstance(got, dict) and isinstance(want, dict):
        return got.keys() == want.keys() and all(same(got[k], want[k]) for k in got)
    return got == want


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus every descendant (the
    Spark JVM), as the sum of each process's high-water mark."""
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += _status_kb(pid, "VmHWM")
        stack.extend(_children(pid))
    return total / 1024.0
