"""lightning.* relations are bound into `spark.sql` per statement: the
session catalog gains no temp views, and contexts with different users
sharing one session never see each other's relations."""

from __future__ import annotations

import datetime as dt
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import lightning_metastore_spark
from lightning_metastore_spark.context import LightningContext
from lightning_metastore_spark.operators.temporal import hypertable_rollup
from lightning_metastore_spark.sources.delta_reader import write_delta

from tests.test_governance import _setup

_USL = "lightning.metastore.gov.govmart.custview"
_PKG = Path(lightning_metastore_spark.__file__).parent


def _temp_view_count(spark) -> int:
    return sum(t.isTemporary for t in spark.catalog.listTables())


def test_statements_leave_no_temp_views(spark, tmp_path):
    ctx = _setup(spark, tmp_path)
    lake = tmp_path / "lake"
    ev = spark.range(0, 40).selectExpr("id", "id * 2 AS v")
    write_delta(ev.where("id < 20"), str(lake / "ev"), mode="error")
    write_delta(ev.where("id >= 20"), str(lake / "ev"), mode="append")
    ctx.sql("CREATE NAMESPACE lightning.datasource.delta")
    ctx.sql(f"REGISTER DELTA DATASOURCE lake OPTIONS(path '{lake}') "
            "NAMESPACE lightning.datasource.delta")
    before = _temp_view_count(spark)

    # pruned SELECTs that differ only in a literal
    for i in range(25):
        n = ctx.sql("SELECT count(*) AS n FROM "
                    f"lightning.datasource.delta.lake.ev WHERE v > {2 * i}"
                    ).collect()[0].n
        assert n == 39 - i
    assert ctx.sql("SELECT count(*) AS n FROM lightning.datasource.delta."
                   "lake.ev VERSION AS OF 0").collect()[0].n == 20
    assert len(ctx.sql(f"SELECT * FROM {_USL} LIMIT 5").collect()) == 5
    dq = ctx.sql(f"RUN DQ bal_vs_avg TABLE {_USL}").collect()
    assert [(r.total, r.invalid) for r in dq] == [(150, 0)]
    events = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, h), "click", 1.5) for h in range(3)],
        "ts timestamp, event_type string, value double")
    assert hypertable_rollup(events).count() == 5  # 3 hours, 1 day, 1 week

    assert _temp_view_count(spark) == before


def test_masked_user_never_sees_unmasked_rows(spark, tmp_path):
    """Two users query the same USL table concurrently through two
    contexts on one session; the masked user's relation is never
    swapped for the unmasked user's."""
    analyst = _setup(spark, tmp_path, user="analyst")
    bob = LightningContext(spark, warehouse=str(tmp_path / "model"),
                           current_user="bob")
    query = f"SELECT c_name FROM {_USL} LIMIT 3"

    def run(ctx):
        return [r.c_name for _ in range(40) for r in ctx.sql(query).collect()]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        with ThreadPoolExecutor(2) as pool:
            seen_a, seen_b = pool.map(run, (analyst, bob), timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert seen_a and set(seen_a) == {"***"}
    assert seen_b and "***" not in seen_b


def test_temp_views_only_at_named_registrations():
    """SQL text sees DataFrames through `spark.sql(template, **dfs)`;
    a session-global name is registered only where the name itself is
    the product (`session.load_tables` and the gate fixtures)."""
    sites = sorted(
        (str(p.relative_to(_PKG)), line.strip())
        for p in _PKG.rglob("*.py")
        for line in p.read_text().splitlines()
        if "createOrReplaceTempView(" in line)
    assert sites == [
        ("plans/pipeline_queries.py",
         'hi_df.createOrReplaceTempView("gate_prio_hi")'),
        ("plans/pipeline_queries.py",
         'lo_df.createOrReplaceTempView("gate_prio_lo")'),
        ("plans/pipeline_queries.py",
         'rev_base.createOrReplaceTempView("gate_rev_base")'),
        ("session.py", "df.createOrReplaceTempView(name)"),
    ]
    binding = [*(_PKG / "catalog").rglob("*.py"),
               *(_PKG / "parser").rglob("*.py"),
               _PKG / "operators" / "temporal.py"]
    for p in binding:
        text = p.read_text()
        for word in ("createOrReplaceTempView", "dropTempView", "hashlib"):
            assert word not in text, f"{word} in {p.relative_to(_PKG)}"
