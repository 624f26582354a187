"""catalog_interactive: selective SELECTs through the REST endpoint.

A closed loop of ``CLIENTS`` client threads, each sending its next
request only after the previous reply has been read, posts seeded
``lightning.*`` queries to an in-process ``LightningAPIServer``
``/api/q`` over TPC-H parquet. Execution is small, so dispatch, the
resolver, the JSON metastore and Catalyst analysis are a large share of
each request. Every request carries a fresh literal. Each reply is
checked against the answer plain ``spark.sql`` gives over the same
parquet files.
"""

from __future__ import annotations

import http.client
import json
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
import layers
from harness import named_latency

CLIENTS = 3
KEY_SPAN = 40         # order keys per range join
CUST_SPAN = 5         # customer keys per snapshot join
BIG_ORDER = 250_000   # the USL view keeps orders above this price
PROBE_EVERY = 25
WARMUP_SECONDS = 3
SF = 0.1              # TPC-H scale factor at size 1
RID_HEADER = "X-Perfbench-Request"
# each client repeats this mix, starting at its own offset: two point
# lookups to each of the other kinds. A client measures at least
# MIN_PATTERNS whole patterns, even past the deadline, so the tail has
# enough samples beyond it.
PATTERN = ("point", "range_join", "point", "usl_view", "snapshot_join")
MIN_PATTERNS = 4
REQUESTS_PER_CLIENT = 4000   # more than a run can send
SRC = "lightning.datasource.file.tpch"


def statement(kind: str, k: int) -> str:
    if kind == "point":
        return ("SELECT o_orderkey, o_custkey, o_totalprice, "
                f"o_orderpriority FROM {SRC}.orders WHERE o_orderkey = {k}")
    if kind == "range_join":
        return ("SELECT o.o_orderpriority, count(*) AS n, "
                f"sum(l.l_quantity) AS q FROM {SRC}.lineitem l "
                f"JOIN {SRC}.orders o ON l.l_orderkey = o.o_orderkey "
                f"WHERE o.o_orderkey BETWEEN {k} AND {k + KEY_SPAN} "
                "GROUP BY o.o_orderpriority")
    if kind == "usl_view":
        return ("SELECT count(*) AS n, "
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents "
                "FROM lightning.metastore.crm.mart.big_orders "
                f"WHERE o_custkey = {k}")
    if kind == "snapshot_join":
        return ("SELECT c.c_mktsegment, count(*) AS n "
                "FROM lightning.metastore.snap.tpchsnap.customer c "
                f"JOIN {SRC}.orders o ON o.o_custkey = c.c_custkey "
                f"WHERE c.c_custkey BETWEEN {k} AND {k + CUST_SPAN} "
                "GROUP BY c.c_mktsegment")
    raise ValueError(kind)


def expected_sql(kind: str, keys: list[int], data: str) -> str:
    """The same answers for many literals at once, from plain Spark SQL
    over the parquet files (column 0 is the literal)."""
    orders = f"parquet.`{data}/orders.parquet`"
    q = "(VALUES " + ", ".join(f"({k})" for k in keys) + ") AS q(k)"
    if kind == "point":
        return ("SELECT o_orderkey, o_orderkey, o_custkey, o_totalprice, "
                f"o_orderpriority FROM {orders} WHERE o_orderkey IN "
                f"({', '.join(map(str, keys))})")
    if kind == "range_join":
        return (f"SELECT q.k, o.o_orderpriority, count(*), "
                f"sum(l.l_quantity) FROM {q} JOIN {orders} o "
                f"ON o.o_orderkey BETWEEN q.k AND q.k + {KEY_SPAN} "
                f"JOIN parquet.`{data}/lineitem.parquet` l "
                "ON l.l_orderkey = o.o_orderkey "
                "GROUP BY q.k, o.o_orderpriority")
    if kind == "usl_view":
        return (f"SELECT q.k, count(o.o_orderkey), "
                "sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) "
                f"FROM {q} LEFT JOIN (SELECT * FROM {orders} "
                f"WHERE o_totalprice > {BIG_ORDER}) o "
                "ON o.o_custkey = q.k GROUP BY q.k")
    if kind == "snapshot_join":
        return (f"SELECT q.k, c.c_mktsegment, count(*) FROM {q} "
                f"JOIN parquet.`{data}/customer.parquet` c "
                f"ON c.c_custkey BETWEEN q.k AND q.k + {CUST_SPAN} "
                f"JOIN {orders} o ON o.o_custkey = c.c_custkey "
                "GROUP BY q.k, c.c_mktsegment")
    raise ValueError(kind)


def setup_statements(data: str) -> list[str]:
    return [
        "CREATE NAMESPACE lightning.datasource.file",
        f"REGISTER PARQUET DATASOURCE tpch OPTIONS(path '{data}') "
        "NAMESPACE lightning.datasource.file",
        "CREATE NAMESPACE lightning.metastore.crm",
        "COMPILE USL mart DEPLOY NAMESPACE lightning.metastore.crm DDL "
        "create table big_orders (o_orderkey BIGINT primary key, "
        "o_custkey BIGINT, o_totalprice double)",
        "ACTIVATE USL TABLE lightning.metastore.crm.mart.big_orders AS "
        "SELECT o_orderkey, o_custkey, o_totalprice "
        f"FROM {SRC}.orders WHERE o_totalprice > {BIG_ORDER}",
        "CREATE NAMESPACE lightning.metastore.snap",
        f"REGISTER CATALOG tpchsnap SOURCE {SRC} NAME LIKE 'customer' "
        "NAMESPACE lightning.metastore.snap",
    ]


def post(host: str, port: int, sql: str, rid: str | None):
    """One request: (status, body bytes, time to first byte, time from
    first byte to last)."""
    conn = http.client.HTTPConnection(host, port, timeout=150)
    headers = {"Content-Type": "application/json"}
    if rid is not None:
        headers[RID_HEADER] = rid
    try:
        t0 = time.perf_counter()
        conn.request("POST", "/api/q", json.dumps({"query": sql}), headers)
        resp = conn.getresponse()
        t1 = time.perf_counter()
        body = resp.read()
        t2 = time.perf_counter()
    finally:
        conn.close()
    return resp.status, body, t1 - t0, t2 - t1


def _rows(values) -> list[tuple]:
    return sorted(tuple(r) for r in values)


class CatalogInteractive:
    name = "catalog_interactive"
    kinds = ["point", "range_join", "usl_view", "snapshot_join"]

    def __init__(self, env, size: float):
        self.env, self.sf = env, SF * size
        self.server = None
        self.replies: list = []
        self.t_start = 0.0

    def prepare(self) -> None:
        tables = datagen.tpch_tables(self.env.seed, self.sf)
        self.data = self.env.path("tpch")
        datagen.write_tables(tables, self.data)
        n_ord = tables["orders"].num_rows
        n_cust = tables["customer"].num_rows
        rng = np.random.default_rng(self.env.seed + 1)
        pools = {"point": rng.permutation(n_ord),
                 "range_join": rng.permutation(n_ord - KEY_SPAN),
                 "usl_view": rng.permutation(n_cust),
                 "snapshot_join": rng.permutation(n_cust - CUST_SPAN)}
        used = {k: 0 for k in pools}
        self.streams = []
        for c in range(CLIENTS):
            stream = []
            for i in range(REQUESTS_PER_CLIENT):
                kind = PATTERN[(c + i) % len(PATTERN)]
                pool = pools[kind]
                stream.append((kind, int(pool[used[kind] % len(pool)])))
                used[kind] += 1
            self.streams.append(stream)

    def setup(self, rep: int) -> None:
        from lightning_metastore_spark.api import LightningAPIServer
        from lightning_metastore_spark.context import LightningContext

        self.close()
        self.warehouse = self.env.path(f"model{rep}")
        ctx = LightningContext(self.env.spark, warehouse=self.warehouse)
        for sql in setup_statements(self.data):
            ctx.sql(sql)
        self.server = LightningAPIServer(ctx).start()

    def run(self, seconds: float) -> None:
        env = self.env
        if env.tracer is not None:
            layers.wrap_handler(env.tracer, env.spark.sparkContext,
                                self.server, RID_HEADER)
        # a long-running server has served these shapes many times: the
        # clients run WARMUP_SECONDS unmeasured before the clock starts
        self.t_start = time.perf_counter() + WARMUP_SECONDS
        deadline = self.t_start + seconds
        threads = [threading.Thread(target=self._client,
                                    args=(c, deadline), daemon=True)
                   for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=WARMUP_SECONDS + seconds + 150)
            if t.is_alive():
                raise RuntimeError("a client thread did not finish")

    def _client(self, c: int, deadline: float) -> None:
        env, n = self.env, 0
        for kind, k in self.streams[c]:
            now = time.perf_counter()
            if now >= deadline and n >= MIN_PATTERNS * len(PATTERN):
                return
            sql = statement(kind, k)
            warmup = now < self.t_start
            with env.op(kind, warmup=warmup) as rec:
                rec.info["sql"] = sql
                status, body, ttfb, rest = post(
                    self.server.host, self.server.port, sql, rec.rid)
                rows = json.loads(body) if status == 200 else None
                if status != 200:
                    rec.error = f"HTTP {status}: {body[:300]!r}"
                elif rows and "__error__" in rows[-1]:
                    rec.error = f"error trailer: {rows[-1]['__error__']}"
                else:
                    rec.info.update(ttfb_ms=ttfb * 1e3, body_ms=rest * 1e3,
                                    bytes_out=len(body))
                    with env._lock:
                        self.replies.append((rec, kind, k, rows))
            if warmup:
                continue
            n += 1
            if c == 0 and n % PROBE_EVERY == 0:
                self.probe()

    def probe(self) -> dict:
        return self.env.probe({"warehouse": self.warehouse})

    def verify(self) -> None:
        by_kind: dict[str, list] = {}
        for reply in self.replies:
            by_kind.setdefault(reply[1], []).append(reply)
        with ThreadPoolExecutor(max_workers=len(self.kinds)) as pool:
            for f in [pool.submit(self._verify_kind, kind, replies)
                      for kind, replies in by_kind.items()]:
                f.result()

    def _verify_kind(self, kind: str, replies: list) -> None:
        keys = sorted({k for _, _, k, _ in replies})
        want: dict[int, list] = {k: [] for k in keys}
        for row in self.env.spark.sql(
                expected_sql(kind, keys, self.data)).collect():
            want[row[0]].append(tuple(row[1:]))
        for rec, _, k, rows in replies:
            got = _rows(r.values() for r in rows)
            if got != _rows(want[k]):
                rec.error = (f"wrong answer: got {got[:3]} want "
                             f"{_rows(want[k])[:3]}")

    def report(self) -> dict:
        ok = self.env.measured()
        final = self.probe()
        summary = self.env.summary(self.kinds, self.t_start)
        return {
            "summary": summary,
            "layers": {
                **{f"api.{key}": statistics.mean(o.info[key] for o in ok)
                   for key in ("ttfb_ms", "body_ms", "bytes_out")},
                "catalog.temp_views": final["temp_views"],
                "exec.persisted_rdds": final["persisted_rdds"]},
            "named": {
                **named_latency("read", [o.ms for o in ok]),
                "ops_per_s": {"value": summary["throughput_per_s"],
                              "unit": "statements/s"}},
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None
