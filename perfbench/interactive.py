"""``graphql_interactive``: four dashboard clients in a closed loop.

Each client sends its next GraphQL request only after the previous reply
arrived. Requests go in process through ``service.asgi.GraphQLApp`` as JSON
bytes, over a multi-root ``GraphQLService``. The templates cover the
request-path shapes: ``row(index:)``, typed ``filter`` + ``count``,
``group``/``aggregate``/``order(limit:)``, ``columns { values(limit:) }``,
a ``join`` count, a sibling-field request (persist-registry path) and
``toSql`` (compile only). Constants are Zipf-skewed, so some documents
repeat: the shared work a future cache would save.

No traffic trace backs the mix or the skew. Both are stated assumptions: a
neutral mix (every template once per shuffled block) and the classic Zipf
law (exponent 1) over each template's constants in their natural order. The
run reports the resulting ``repeat_share``.
"""

from __future__ import annotations

import asyncio
import itertools
import json
import time
from typing import NamedTuple

import numpy as np

from common import asgi_post, graphql_data, median, oracle, same, zipf_choice

TABLES = ("nation", "region", "customer", "orders", "lineitem", "part", "supplier")
#: each shuffled block of the sequence sends every template once: a neutral
#: mix, identical across seeds
TEMPLATES = ("row", "filter_count", "group", "values", "join", "sibling", "to_sql")
CLIENTS = 4
SEQUENCE_LENGTH = 7000
#: untimed closed loop after the timed warm pass, while the JVM's JIT
#: compiles the hot paths. On a 4-core VM every template still gets about
#: 15% faster over the next 20 s of load; a longer settle would not fit the
#: benchmark's run-time budget
SETTLE_SECONDS = 8.0
#: warm-up requests draw from the second half of the seeded sequence
WARM_OFFSET = SEQUENCE_LENGTH // 2


class Request(NamedTuple):
    template: str
    query: str
    path: tuple  # keys from ``data`` to the answer
    oracle_sql: str
    shape: str  # how the oracle rows become the expected answer


_FLAGS = ["A", "N", "R"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_FIB = [0, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377, 610, 987, 1597, 2584,
        4181, 6765, 10946, 17711, 28657, 46368, 75025, 121393]


def _pools() -> dict[str, list]:
    """Constant pools per template in natural (ascending) order; the Zipf
    draw makes the first the most frequent."""
    return {
        "row": _FIB,
        "filter_count": [(f, q) for q in range(1, 50, 4) for f in _FLAGS],
        "group": [(s, p, k) for p in (0, 100000, 250000, 400000) for s in ("F", "O", "P")
                  for k in (3, 5)],
        "values": [(m, n) for n in range(25) for m in _SEGMENTS],
        "join": [(p, t) for t in (0, 100000, 300000, 450000) for p in _PRIORITIES],
        "sibling": [(f, q) for q in range(40, 50, 2) for f in _FLAGS],
        "to_sql": [(f, q) for q in range(5, 50, 10) for f in _FLAGS],
    }


def _request(template: str, c) -> Request:
    if template == "row":
        cols = "o_orderkey o_custkey o_orderstatus o_totalprice"
        return Request(
            template,
            f"{{ orders {{ row(index: {c}) {{ {cols} }} }} }}",
            ("orders", "row"),
            f"SELECT {cols.replace(' ', ', ')} FROM orders LIMIT 1 OFFSET {c}",
            "row",
        )
    if template == "filter_count":
        flag, q = c
        return Request(
            template,
            f'{{ lineitem {{ filter(l_returnflag: {{eq: ["{flag}"]}}, '
            f"l_quantity: {{ge: {q}}}) {{ count }} }} }}",
            ("lineitem", "filter", "count"),
            f"SELECT count(*) FROM lineitem WHERE l_returnflag = '{flag}' AND l_quantity >= {q}",
            "scalar",
        )
    if template == "group":
        status, price, k = c
        return Request(
            template,
            f'{{ orders {{ filter(o_orderstatus: {{eq: ["{status}"]}}, '
            f"o_totalprice: {{ge: {price}}}) {{ "
            f'group(by: ["o_orderpriority"], counts: "n", '
            f'aggregate: {{sum: [{{name: "o_totalprice", alias: "total"}}]}}) {{ '
            f'order(by: ["-total"], limit: {k}) {{ '
            f'column(name: "total") {{ values }} }} }} }} }} }}',
            ("orders", "filter", "group", "order", "column", "values"),
            f"SELECT sum(o_totalprice) AS total FROM orders WHERE o_orderstatus = '{status}' "
            f"AND o_totalprice >= {price} GROUP BY o_orderpriority ORDER BY total DESC LIMIT {k}",
            "column",
        )
    if template == "values":
        segment, nation = c
        return Request(
            template,
            f'{{ customer {{ filter(c_mktsegment: {{eq: ["{segment}"]}}, '
            f"c_nationkey: {{eq: [{nation}]}}) {{ "
            f"columns {{ c_name {{ values(limit: 5) }} }} }} }} }}",
            ("customer", "filter", "columns", "c_name", "values"),
            f"SELECT c_name FROM customer WHERE c_mktsegment = '{segment}' "
            f"AND c_nationkey = {nation} LIMIT 5",
            "column",
        )
    if template == "join":
        priority, price = c
        return Request(
            template,
            f'{{ orders {{ filter(o_orderpriority: {{eq: ["{priority}"]}}, '
            f"o_totalprice: {{ge: {price}}}) {{ "
            f'join(right: "customer", keys: ["o_custkey"], rkeys: ["c_custkey"]) '
            f"{{ count }} }} }} }}",
            ("orders", "filter", "join", "count"),
            f"SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE o_orderpriority = '{priority}' AND o_totalprice >= {price}",
            "scalar",
        )
    if template == "sibling":
        flag, q = c
        return Request(
            template,
            f'{{ lineitem {{ filter(l_returnflag: {{eq: ["{flag}"]}}, '
            f"l_quantity: {{ge: {q}}}) {{ count "
            f"columns {{ l_quantity {{ max }} l_extendedprice {{ sum }} }} }} }} }}",
            ("lineitem", "filter"),
            f"SELECT count(*), max(l_quantity), sum(l_extendedprice) FROM lineitem "
            f"WHERE l_returnflag = '{flag}' AND l_quantity >= {q}",
            "sibling",
        )
    if template == "to_sql":
        flag, q = c
        return Request(
            template,
            f'{{ lineitem {{ filter(l_returnflag: {{eq: ["{flag}"]}}, '
            f"l_quantity: {{ge: {q}}}) {{ "
            f'group(by: ["l_linestatus"], counts: "n") {{ toSql }} }} }} }}',
            ("lineitem", "filter", "group", "toSql"),
            f"SELECT l_linestatus, count(*) AS n FROM lineitem "
            f"WHERE l_returnflag = '{flag}' AND l_quantity >= {q} GROUP BY l_linestatus",
            "sql",
        )
    raise ValueError(template)


def requests(seed: int, n: int = SEQUENCE_LENGTH) -> list[Request]:
    """The seeded request sequence: shuffled blocks of every template once,
    Zipf-drawn constants per template."""
    rng = np.random.default_rng(seed)
    blocks = -(-n // len(TEMPLATES))
    order = list(itertools.chain.from_iterable(
        rng.permutation(TEMPLATES).tolist() for _ in range(blocks)
    ))[:n]
    pools = _pools()
    draws = {t: iter(zipf_choice(rng, pools[t], order.count(t))) for t in TEMPLATES}
    return [_request(t, next(draws[t])) for t in order]


class Interactive:
    name = "graphql_interactive"
    scale = 0.1
    tables = TABLES

    def __init__(self, spark, data_dir, work_dir, seed):
        self.spark, self.data_dir = spark, data_dir
        self.sequence = requests(seed)
        self.responses: list[tuple] = []  # (request index, t0, t1, status, bytes, traced)
        self.schema_types = 0

    # -- setup -----------------------------------------------------------------

    def setup_step(self) -> dict:
        """One repetition of the repeatable set-up: load the tables, build
        the service and its schema."""
        from graphique_spark.service import GraphQLService
        from graphique_spark.service.asgi import GraphQLApp
        from graphique_spark.sources import load_tables

        t0 = time.perf_counter()
        roots = load_tables(self.spark, self.data_dir, TABLES)
        t1 = time.perf_counter()
        self.service = GraphQLService(roots)
        t2 = time.perf_counter()
        self.app = GraphQLApp(self.service, graphiql=False)
        self.schema_types = len(self.service.schema.type_map)
        return {"load_tables_s": t1 - t0, "schema_build_s": t2 - t1}

    def warm(self) -> float:
        """Send each template's first warm-up request once, one at a time,
        and return the seconds that took: the first run of a request shape
        pays its codegen. Then run the closed loop, untimed, for
        ``SETTLE_SECONDS`` while the JIT settles. Warm-up responses are
        checked like measured ones."""
        first: dict[str, int] = {}
        for i in range(WARM_OFFSET, SEQUENCE_LENGTH):
            first.setdefault(self.sequence[i].template, i)

        async def one_each():
            for i in sorted(first.values()):
                await self._send(i, None, measured=False)

        t0 = time.perf_counter()
        asyncio.run(one_each())
        warm_s = time.perf_counter() - t0
        asyncio.run(self._loop(SETTLE_SECONDS, None, max(first.values()) + 1, measured=False))
        return warm_s

    # -- measurement -------------------------------------------------------------

    def measure(self, seconds: float, tracer=None) -> None:
        """Closed loop for ``seconds``, then on to the end of the block in
        progress, so every template counts equally. With a tracer the
        window runs untraced, traced, untraced (a quarter, a half, a
        quarter), so the tracing overhead is measured against the same run
        and a steady drift cancels out."""
        slices = [(seconds, False)]
        if tracer:
            slices = [(seconds / 4, False), (seconds / 2, True), (seconds / 4, False)]
        start = 0
        for duration, traced in slices:
            if traced:
                tracer.install(self.spark)
            try:
                start = asyncio.run(self._loop(duration, tracer if traced else None, start))
            finally:
                if traced:
                    tracer.uninstall()

    async def _loop(self, duration: float, tracer, start: int, measured: bool = True) -> int:
        """``CLIENTS`` closed-loop clients send the sequence from index
        ``start`` until ``duration`` has passed and a block has ended;
        return the first index not sent."""
        deadline = time.perf_counter() + duration
        cursor = start
        done = False

        async def client():
            nonlocal cursor, done
            while not done:
                if cursor % len(TEMPLATES) == 0 and time.perf_counter() >= deadline:
                    done = True
                    break
                i, cursor = cursor, cursor + 1
                await self._send(i, tracer, measured)

        await asyncio.gather(*(client() for _ in range(CLIENTS)))
        return cursor

    async def _send(self, i: int, tracer, measured: bool) -> None:
        """Request ``i`` of the sequence, timed from request bytes in to
        response bytes out."""
        req = self.sequence[i % len(self.sequence)]
        body = json.dumps({"query": req.query}).encode()
        if tracer:
            tracer.request(f"r{i}")
        t0 = time.perf_counter()
        status, payload = await asgi_post(self.app, body)
        t1 = time.perf_counter()
        self.responses.append(
            (i if measured else -1, t0, t1, status, payload, tracer is not None, req)
        )

    # -- results -------------------------------------------------------------------

    def operations(self):
        """(start, end, traced) of every measured request."""
        return [(t0, t1, traced) for i, t0, t1, *_s, traced, _r in self.responses if i >= 0]

    def throughput(self, ops, window: float) -> float:
        return len(ops) / window

    def figures(self) -> dict:
        return {}

    def layers(self, tracer, steps) -> dict:
        from layers import request_layers

        out = request_layers(self.spark, tracer)
        out["sources.load_tables_s"] = median([s["load_tables_s"] for s in steps])
        out["service.schema.build_s"] = median([s["schema_build_s"] for s in steps])
        out["service.schema.types"] = self.schema_types
        return out

    def verify(self) -> tuple[int, int]:
        """Compare every response with its DuckDB oracle; return
        (attempted, failed)."""
        from tools.check_correctness import canon

        con = oracle(self.data_dir, TABLES)
        for name, ds in self.service.roots.items():
            ds.df.createOrReplaceTempView(name)
        expected: dict[str, object] = {}
        rendered: dict[str, list] = {}  # toSql text -> its rows, run once each
        failed = 0
        for _i, _t0, _t1, status, payload, _traced, req in self.responses:
            data = graphql_data(status, payload)
            if data is None:
                failed += 1
                continue
            got = data
            for key in req.path:
                got = got[key]
            if req.query not in expected:
                cursor = con.execute(req.oracle_sql)
                rows = cursor.fetchall()
                cols = [d[0] for d in cursor.description]
                expected[req.query] = _expected(req.shape, rows, cols)
            want = expected[req.query]
            if req.shape == "sql":
                if got not in rendered:
                    df = self.spark.sql(got)
                    rendered[got] = canon([tuple(r) for r in df.collect()], df.columns)
                got = rendered[got]
            if not same(got, want):
                failed += 1
        return len(self.responses), failed

    def properties(self) -> dict:
        measured = [r[6] for r in sorted(self.responses, key=lambda r: r[0]) if r[0] >= 0]
        seen = {r[6].query for r in self.responses if r[0] < 0}
        repeats = 0
        for req in measured:
            repeats += req.query in seen
            seen.add(req.query)
        mix = {t: sum(r.template == t for r in measured) for t in TEMPLATES}
        p50 = {t: 1e3 * median([t1 - t0 for i, t0, t1, *_s, req in self.responses
                                if i >= 0 and req.template == t]) for t in TEMPLATES}
        return {"repeat_share": repeats / max(len(measured), 1), "mix": mix,
                "template_p50_ms": p50, "clients": CLIENTS}


def _expected(shape, rows, cols):
    from tools.check_correctness import canon

    if shape == "scalar":
        return rows[0][0]
    if shape == "column":
        return [r[0] for r in rows]
    if shape == "row":
        return dict(zip(cols, rows[0]))
    if shape == "sibling":
        count, qmax, psum = rows[0]
        return {"count": count, "columns": {"l_quantity": {"max": qmax},
                                            "l_extendedprice": {"sum": psum}}}
    return canon(rows, cols)
