"""lakehouse_mixed: DML beside reads on an offline Delta table and an
offline Iceberg table registered under ``lightning.datasource``.

One client runs a fixed cycle of statement kinds with seeded literals:
``INSERT INTO``, ``MERGE INTO`` and ``DELETE FROM`` on both tables,
pruned range ``SELECT``s and ``VERSION AS OF`` reads, and an
``OPTIMIZE`` once per cycle. The first cycle warms the session up; the
measured phase then runs whole cycles for at least its seconds. The
generator keeps a shadow copy of each table's live rows (and a checksum
per committed version), so every read, every DML row count and a final
full-table checksum are checked.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import count_files, dir_bytes, named_latency

SEED_ROWS = 20_000
SEED_FILES = 8
INSERT_ROWS = 20
MERGE_ROWS = 10
DELETE_SPAN = 5
READ_SPAN = 200
PROBE_EVERY = 10
TABLES = {"delta": "lightning.datasource.delta.d.acct",
          "iceberg": "lightning.datasource.iceberg.w.db.acct"}
CYCLE = [("optimize", None), ("insert", "delta"), ("range", "delta"),
         ("merge", "iceberg"), ("range", "iceberg"), ("delete", "delta"),
         ("version", "delta"), ("insert", "iceberg"), ("range", "delta"),
         ("merge", "delta"), ("range", "iceberg"), ("delete", "iceberg"),
         ("version", "iceberg")]
WRITES = ("insert", "merge", "delete", "optimize")


def _row_bytes(rid: int) -> int:
    """Logical bytes of one user row: id, grp, cents and its name."""
    return 8 + 4 + 8 + len(f"n{rid}")


def _values(rows: list[tuple[int, int]]) -> str:
    return ", ".join(f"({i}L, {i % 97}, {c}L, 'n{i}')" for i, c in rows)


class Shadow:
    """The rows a table must hold: id -> cents, and a checksum for each
    committed version."""

    def __init__(self, rows: dict[int, int]):
        self.rows = dict(rows)
        self.versions: dict[int, tuple[int, int]] = {}

    def range(self, lo: int, hi: int) -> tuple[int, int | None]:
        cents = [c for i, c in self.rows.items() if lo <= i <= hi]
        return len(cents), (sum(cents) if cents else None)

    def checksum(self) -> tuple[int, int]:
        return len(self.rows), sum(self.rows.values())


def current_version(kind: str, path: str) -> int:
    """The version a VERSION AS OF read names: the Delta log's newest
    commit, or the Iceberg table's current snapshot id."""
    if kind == "delta":
        log = os.path.join(path, "_delta_log")
        return max(int(f.split(".")[0]) for f in os.listdir(log)
                   if f.endswith(".json") and f[0].isdigit())
    meta = os.path.join(path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as f:
        hint = f.read().strip()
    with open(os.path.join(meta, f"v{hint}.metadata.json")) as f:
        return int(json.load(f)["current-snapshot-id"])


class LakehouseMixed:
    name = "lakehouse_mixed"
    kinds = ["insert", "merge", "delete", "range", "version"]

    def __init__(self, env, size: float):
        self.env = env
        self.seed_rows = max(2 * READ_SPAN, int(SEED_ROWS * size))
        self.t_start = 0.0

    def prepare(self) -> None:
        rng = np.random.default_rng(self.env.seed)
        ids = np.arange(self.seed_rows, dtype=np.int64)
        cents = rng.integers(0, 100_000, self.seed_rows)
        self.seed = dict(zip(ids.tolist(), cents.tolist()))
        self.seed_dir = self.env.path("seed")
        os.makedirs(self.seed_dir)
        for part in range(SEED_FILES):
            sl = slice(part, None, SEED_FILES)
            pq.write_table(pa.table({
                "id": ids[sl], "grp": (ids[sl] % 97).astype(np.int32),
                "cents": cents[sl],
                "name": [f"n{i}" for i in ids[sl]]}),
                os.path.join(self.seed_dir, f"part-{part}.parquet"))
        self.rng = np.random.default_rng(self.env.seed + 1)
        self.next_id = self.seed_rows

    def setup(self, rep: int) -> None:
        from lightning_metastore_spark.context import LightningContext
        from lightning_metastore_spark.sources.delta_reader import (
            write_delta)
        from lightning_metastore_spark.sources.iceberg_writer import (
            write_iceberg)

        spark = self.env.spark
        base = self.env.path(f"lake{rep}")
        self.paths = {"delta": os.path.join(base, "delta", "acct"),
                      "iceberg": os.path.join(base, "ice", "db", "acct")}
        os.makedirs(os.path.dirname(self.paths["delta"]))
        os.makedirs(os.path.dirname(self.paths["iceberg"]))
        df = spark.read.parquet(self.seed_dir)
        write_delta(df, self.paths["delta"], mode="error")
        write_iceberg(df, self.paths["iceberg"], mode="error")
        ctx = LightningContext(spark, warehouse=os.path.join(base, "model"))
        ctx.sql("CREATE NAMESPACE lightning.datasource.delta")
        ctx.sql(f"REGISTER DELTA DATASOURCE d OPTIONS(path "
                f"'{os.path.dirname(self.paths['delta'])}') "
                "NAMESPACE lightning.datasource.delta")
        ctx.sql("CREATE NAMESPACE lightning.datasource.iceberg")
        ctx.sql(f"REGISTER ICEBERG DATASOURCE w OPTIONS(warehouse "
                f"'{os.path.join(base, 'ice')}') "
                "NAMESPACE lightning.datasource.iceberg")
        self.ctx = ctx
        self.shadow = {k: Shadow(self.seed) for k in TABLES}
        for k, s in self.shadow.items():
            s.versions[current_version(k, self.paths[k])] = s.checksum()

    # -- statements ----------------------------------------------------

    def _new_rows(self, n: int) -> list[tuple[int, int]]:
        rows = [(self.next_id + j, int(c)) for j, c in
                enumerate(self.rng.integers(0, 100_000, n))]
        self.next_id += n
        return rows

    def plan(self, kind: str, table: str):
        """(sql, check) for the next statement; ``check(rows)`` returns
        an error text or None and updates the shadow on success."""
        t, shadow, rng = TABLES.get(table), self.shadow.get(table), self.rng
        if kind == "insert":
            rows = self._new_rows(INSERT_ROWS)

            def check(_):
                shadow.rows.update(rows)
            return (f"INSERT INTO {t} SELECT * FROM VALUES {_values(rows)} "
                    "AS v(id, grp, cents, name)"), check
        if kind == "merge":
            keys = sorted(shadow.rows)
            old = rng.choice(keys, MERGE_ROWS // 2, replace=False)
            rows = ([(int(i), int(c)) for i, c in
                     zip(old, rng.integers(0, 100_000, len(old)))]
                    + self._new_rows(MERGE_ROWS - len(old)))

            def check(_):
                shadow.rows.update(rows)
            return (f"MERGE INTO {t} AS t USING (SELECT * FROM VALUES "
                    f"{_values(rows)} AS v(id, grp, cents, name)) AS s "
                    "ON t.id = s.id WHEN MATCHED THEN UPDATE SET "
                    "cents = s.cents WHEN NOT MATCHED THEN INSERT *"), check
        if kind == "delete":
            lo = int(rng.integers(0, self.next_id))
            hi = lo + DELETE_SPAN

            def check(out):
                want = shadow.range(lo, hi)[0]
                if out[0].n_deleted != want:
                    return f"deleted {out[0].n_deleted} rows, want {want}"
                for i in [i for i in shadow.rows if lo <= i <= hi]:
                    del shadow.rows[i]
            return f"DELETE FROM {t} WHERE id BETWEEN {lo} AND {hi}", check
        if kind == "range":
            lo = int(rng.integers(0, self.next_id - READ_SPAN))
            hi = lo + READ_SPAN

            def check(out):
                got, want = (out[0].n, out[0].s), shadow.range(lo, hi)
                return None if got == want else f"got {got}, want {want}"
            return (f"SELECT count(*) AS n, sum(cents) AS s FROM {t} "
                    f"WHERE id BETWEEN {lo} AND {hi}"), check
        if kind == "version":
            v = int(rng.choice(sorted(shadow.versions)))

            def check(out):
                got, want = (out[0].n, out[0].s), shadow.versions[v]
                return None if got == want else f"got {got}, want {want}"
            return (f"SELECT count(*) AS n, sum(cents) AS s FROM {t} "
                    f"VERSION AS OF {v}"), check
        if kind == "optimize":
            return f"OPTIMIZE {t}", lambda _: None
        raise ValueError(kind)

    def _schedule(self):
        i = 0
        while True:
            for kind, table in CYCLE:
                if table is None:   # OPTIMIZE alternates between tables
                    table = "delta" if (i // len(CYCLE)) % 2 == 0 \
                        else "iceberg"
                yield i, kind, table
                i += 1

    def run(self, seconds: float) -> None:
        """The first cycle is a warm-up: the first statement of each
        kind and table pays for class loading and code generation, so
        it is checked but not measured. The clock starts with the
        second cycle and stops at the end of the first cycle that ends
        past ``seconds``. A traced run alternates traced and untraced
        statements per kind and table, and measures at least two cycles,
        so each half holds every kind on both tables."""
        env = self.env
        min_cycles = 1 + (env.tracer is not None)
        deadline = None
        for i, kind, table in self._schedule():
            warmup = i < len(CYCLE)
            if not warmup and deadline is None:
                self.t_start = time.perf_counter()
                deadline = self.t_start + seconds
            n = i - len(CYCLE)
            # measure whole cycles, so every run weighs the kinds alike
            if deadline is not None and n >= min_cycles * len(CYCLE) \
                    and n % len(CYCLE) == 0 \
                    and time.perf_counter() >= deadline:
                break
            sql, check = self.plan(kind, table)
            with env.op(kind, warmup=warmup, key=f"{kind}.{table}") as rec:
                rec.info.update(sql=sql, table=table)
                df = self.ctx.sql(sql)
                with (env.tracer.span("exec.action") if rec.rid
                      else nullcontext()):
                    out = df.collect()
            if rec.error is None:
                rec.error = check(out)
            if rec.error is None and kind in WRITES:
                s = self.shadow[table]
                s.versions[current_version(table, self.paths[table])] = \
                    s.checksum()
            if rec.error is None and rec.rid and kind == "range":
                rec.info["files"] = (len(df.inputFiles()), len(
                    self.ctx.sql(f"SELECT * FROM {TABLES[table]}")
                    .inputFiles()))
            if i % PROBE_EVERY == PROBE_EVERY - 1:
                self.probe()

    def probe(self) -> dict:
        return self.env.probe(self.paths)

    def verify(self) -> None:
        for table, t in TABLES.items():
            got = tuple(self.ctx.sql(
                f"SELECT count(*), sum(id), sum(cents) FROM {t}")
                .collect()[0])
            rows = self.shadow[table].rows
            want = (len(rows), sum(rows), sum(rows.values()))
            if got != want:
                self.env.fail(f"{table} checksum", f"got {got}, want {want}")

    def report(self) -> dict:
        final = self.probe()
        table_files = log_files = stored = 0
        for table, path in self.paths.items():
            log = os.path.join(path, "_delta_log" if table == "delta"
                               else "metadata")
            n_log = count_files(log)
            log_files += n_log
            table_files += count_files(path) - n_log
            stored += dir_bytes(path)
        user = sum(_row_bytes(i) for s in self.shadow.values()
                   for i in s.rows)
        ratios = [a / b for a, b in (o.info["files"] for o in self.env.ops
                                     if "files" in o.info) if b]
        measured = self.env.measured()
        summary = self.env.summary(self.kinds, self.t_start)
        return {
            "summary": summary,
            "layers": {
                "sources.files_scanned_ratio":
                    sum(ratios) / len(ratios) if ratios else 0.0,
                "sources.table_files": table_files,
                "sources.log_files": log_files,
                "sources.stored_bytes_per_user_byte": stored / user,
                "catalog.temp_views": final["temp_views"],
                "exec.persisted_rdds": final["persisted_rdds"],
            },
            "named": {
                **named_latency("read", [o.ms for o in measured if o.kind
                                         in ("range", "version")]),
                **named_latency("write", [o.ms for o in measured
                                          if o.kind in WRITES]),
                "ops_per_s": {"value": summary["throughput_per_s"],
                              "unit": "statements/s"},
                "stored_bytes_per_user_byte": {"value": stored / user,
                                               "unit": "ratio"}},
        }

    def close(self) -> None:
        pass

