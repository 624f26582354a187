"""Which product functions each layer span wraps, and how the traced
run turns spans into per-layer metrics.

Layers are named after the product's modules. ``LAYER_MAP`` records,
for every per-layer metric, the end-to-end metric and workload it is
expected to move, so a later change can cite the pairing by name.
"""

from __future__ import annotations

import inspect
import statistics
from contextlib import contextmanager

from spans import Tracer, layer_totals, outermost_counts

COMMAND_KINDS = {"InsertInto": "insert", "MergeInto": "merge",
                 "DeleteFrom": "delete", "OptimizeTable": "optimize",
                 "RunPipeline": "run_pipeline"}

# how long to wait for Spark's listener bus to drain before reading the
# status store
BUS_WAIT_MS = 60_000

CI, LM, CP = "catalog_interactive", "lakehouse_mixed", "corpus_pipeline"

# per-layer metric -> (unit, end-to-end metric it should move, the
# workloads on which it should move it); None where the metric explains
# a cost rather than moving one end-to-end figure
LAYER_MAP = {
    "api.ttfb_ms": ("ms", "latency_ms", [CI]),
    "api.body_ms": ("ms", "latency_ms", [CI]),
    "api.handler_ms": ("ms", "latency_ms", [CI]),
    "api.bytes_out": ("bytes", None, [CI]),
    "parser.dispatch_ms": ("ms", "latency_ms", [CI]),
    "parser.command_ms.insert": ("ms", "latency_ms", [LM]),
    "parser.command_ms.merge": ("ms", "latency_ms", [LM]),
    "parser.command_ms.delete": ("ms", "latency_ms", [LM]),
    "parser.command_ms.optimize": ("ms", "tail_ms", [LM]),
    "parser.command_ms.run_pipeline": ("ms", "throughput_per_s", [CP]),
    "catalog.resolve_ms": ("ms", "latency_ms", [CI]),
    "catalog.unit_load_ms": ("ms", "latency_ms", [CI]),
    "catalog.unit_loads_per_stmt": ("count", "latency_ms", [CI]),
    "catalog.temp_views": ("count", "tail_ms", [CI]),
    "model.metastore_calls_per_stmt": ("count", "latency_ms", [CI]),
    "model.metastore_ms": ("ms", "latency_ms", [CI]),
    "model.fs_reads_per_stmt": ("count", "latency_ms", [CI]),
    "catalyst.sql_ms": ("ms", "latency_ms", [CI]),
    "catalyst.analysis_ms": ("ms", "latency_ms", [CI]),
    "catalyst.optimization_ms": ("ms", "latency_ms", [CI]),
    "catalyst.planning_ms": ("ms", "latency_ms", [CI]),
    "exec.jobs_per_stmt": ("count", "latency_ms", [CI, LM, CP]),
    "exec.stages_per_stmt": ("count", "latency_ms", [CI, LM, CP]),
    "exec.tasks_per_stmt": ("count", "latency_ms", [CI, LM, CP]),
    "exec.ms": ("ms", "latency_ms", [CI, LM, CP]),
    "exec.action_ms": ("ms", "latency_ms", [CI, LM]),
    "exec.persisted_rdds": ("count", "tail_ms", [CI, LM, CP]),
    "sources.snapshot_ms": ("ms", "latency_ms", [LM]),
    "sources.commit_ms": ("ms", "latency_ms", [LM]),
    "sources.files_scanned_ratio": ("ratio", "latency_ms", [LM]),
    "sources.table_files": ("count", "tail_ms", [LM]),
    "sources.log_files": ("count", "tail_ms", [LM]),
    "sources.stored_bytes_per_user_byte": ("ratio", None, [LM]),
    "streaming.admit_ms": ("ms", "latency_ms", [CP]),
    "streaming.write_ms": ("ms", "latency_ms", [CP]),
    "streaming.admit_ratio": ("ratio", None, [CP]),
    "streaming.index_files": ("count", "latency_ms", [CP]),
    "streaming.compact_ms": ("ms", "tail_ms", [CP]),
    "operators.curate_ms": ("ms", "throughput_per_s", [CP]),
    "operators.curate_kept_ratio": ("ratio", None, [CP]),
    "operators.dedup_ms": ("ms", "latency_ms", [CP]),
    "trace.uncovered_ms": ("ms", None, [CI, LM, CP]),
    "trace.overhead_share": ("ratio", None, [CI, LM, CP]),
}

# A change to one layer should leave these workloads unchanged.
BYPASSES = {CI: ["operators", "sources"], CP: ["catalog", "model"],
            LM: ["streaming"]}

# span name -> per-layer metric that sums its self time (the metastore's
# file reads count as metastore time)
SELF_TIME_METRICS = {
    "api.handler": "api.handler_ms",
    "parser.dispatch": "parser.dispatch_ms",
    "catalog.resolve": "catalog.resolve_ms",
    "catalog.unit_load": "catalog.unit_load_ms",
    "model.metastore": "model.metastore_ms",
    "model.fs": "model.metastore_ms",
    "catalyst.sql": "catalyst.sql_ms",
    "exec.action": "exec.action_ms",
    "sources.snapshot": "sources.snapshot_ms",
    "sources.commit": "sources.commit_ms",
    "streaming.admit": "streaming.admit_ms",
    "streaming.ingest": "streaming.write_ms",
    "streaming.compact": "streaming.compact_ms",
    "operators.dedup": "operators.dedup_ms",
    "uncovered": "trace.uncovered_ms",
}


def _subclasses(cls):
    for sub in cls.__subclasses__():
        yield sub
        yield from _subclasses(sub)


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer."""
    from pyspark.sql import SparkSession

    from lightning_metastore_spark import api, context
    from lightning_metastore_spark.catalog import resolver, units
    from lightning_metastore_spark.model import fs, metastore
    from lightning_metastore_spark.operators import dedup
    from lightning_metastore_spark.parser import dispatcher
    from lightning_metastore_spark.sources import (delta_reader,
                                                   iceberg_writer)
    from lightning_metastore_spark.streaming import ingest

    w = tracer.wrap
    w(context, "is_lightning_command", "parser.dispatch")
    w(context, "parse_command", "parser.dispatch")
    for cls in _subclasses(dispatcher.Command):
        if "run" in cls.__dict__:
            w(cls, "run", "parser.command."
              + COMMAND_KINDS.get(cls.__name__, "other"))
    w(resolver.Resolver, "resolve_sql", "catalog.resolve")
    for cls in _subclasses(units.CatalogUnit):
        if "load_table" in cls.__dict__:
            w(cls, "load_table", "sources.snapshot"
              if cls is units.IcebergCatalogUnit else "catalog.unit_load")
        if "write_table" in cls.__dict__:
            w(cls, "write_table", "sources.commit")
    for attr, fn in list(vars(metastore.Metastore).items()):
        if inspect.isfunction(fn) and not attr.startswith("_"):
            w(metastore.Metastore, attr, "model.metastore")
    for attr in ("read_bytes", "read_text", "exists", "is_dir", "is_file",
                 "listdir", "walk"):
        if attr in vars(fs.LocalFileSystem):
            w(fs.LocalFileSystem, attr, "model.fs")
    w(SparkSession, "sql", "catalyst.sql")
    w(delta_reader, "resolve_snapshot", "sources.snapshot")
    for attr in ("write_delta", "delete_where", "merge_into_delta",
                 "optimize_delta"):
        w(delta_reader, attr, "sources.commit")
    for attr in ("write_iceberg", "delete_where_iceberg",
                 "merge_into_iceberg", "optimize_iceberg"):
        w(iceberg_writer, attr, "sources.commit")
    w(ingest, "dedup_batch_against_index", "streaming.admit")
    w(ingest, "ingest_micro_batch", "streaming.ingest")
    w(ingest, "compact_dedup_index", "streaming.compact")
    w(ingest, "build_dedup_index", "streaming.bootstrap")
    w(dedup, "minhash_lsh_pairs", "operators.dedup")
    w(dedup, "connected_components", "operators.dedup")
    _wrap_rows(tracer, api)
    _wrap_context_sql(tracer, context)


def _wrap_rows(tracer: Tracer, api) -> None:
    """Opening the REST result iterator plans the query and each pull
    from it runs Spark jobs: time both as ``exec.action`` spans."""
    original = api.rows_from_df

    def rows_from_df(df):
        if not tracer.active():
            return original(df)
        with tracer.span("exec.action"):
            it = original(df)

        def pull():
            while True:
                with tracer.span("exec.action"):
                    row = next(it, None)
                if row is None:
                    return
                yield row
        return pull()

    tracer.patch(api, "rows_from_df", rows_from_df)


def _wrap_context_sql(tracer: Tracer, context) -> None:
    """Keep every DataFrame a statement returns, so its Catalyst phase
    times can be read once the statement has run."""
    cls = context.LightningContext
    original = cls.__dict__["sql"]

    def sql(self, query):
        df = original(self, query)
        if tracer.active():
            with tracer.span("result", query=query) as s:
                s.attrs["df"] = df
        return df

    tracer.patch(cls, "sql", sql)


def wrap_handler(tracer: Tracer, sc, server, header: str) -> None:
    """Continue the client's request on the server's handler thread:
    the client names its request in ``header``, and the Spark jobs the
    handler runs are tagged with it."""
    handler = server._server.RequestHandlerClass
    original = handler.do_POST

    def do_POST(h):
        rid = h.headers.get(header)
        with job_group(sc, rid), tracer.adopt(rid):
            with tracer.span("api.handler"):
                return original(h)

    tracer.patch(handler, "do_POST", do_POST)


@contextmanager
def job_group(sc, rid: str | None):
    """Tag the Spark jobs of one traced statement so StatusTracker can
    attribute them; untraced statements run untagged."""
    if rid is None:
        yield
        return
    sc.setJobGroup(f"perfbench-{rid}", rid)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def exec_counts(sc, rid: str) -> dict:
    """Jobs, stages and tasks of one statement, and the wall time its
    jobs were running (the union of their intervals). The status store
    is fed by the asynchronous listener bus, so the bus is drained
    first: the statement's last job end is posted before its action
    returns, but may not have been applied yet."""
    from spans import covered

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(BUS_WAIT_MS)
    store = jsc.statusStore()
    jobs = stages = tasks = 0
    spans = []
    for jid in sc.statusTracker().getJobIdsForGroup(f"perfbench-{rid}"):
        jd = store.job(jid)
        jobs += 1
        stages += jd.stageIds().size() - jd.numSkippedStages()
        tasks += jd.numTasks() - jd.numSkippedTasks()
        if jd.submissionTime().isDefined() and \
                jd.completionTime().isDefined():
            spans.append((jd.submissionTime().get().getTime() / 1e3,
                          jd.completionTime().get().getTime() / 1e3))
    lo = min((a for a, _ in spans), default=0.0)
    hi = max((b for _, b in spans), default=0.0)
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "exec_s": covered(lo, hi, spans)}


def catalyst_phases(df) -> dict:
    """Catalyst phase times (ms) from the DataFrame's
    QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def statement_extras(tracer: Tracer, sc, rid: str) -> dict:
    """Exec counts of one traced statement, and the Catalyst phases of
    the queries it returned (Lightning commands return a one-row
    summary whose plan is not the statement's work, so they are
    skipped)."""
    from lightning_metastore_spark.parser.dispatcher import (
        is_lightning_command)

    phases = []
    for s in tracer.spans:
        if s.rid == rid and s.name == "result":
            df = s.attrs.pop("df", None)
            if df is not None and not is_lightning_command(
                    s.attrs["query"]):
                phases.append(catalyst_phases(df))
    out = {"exec": exec_counts(sc, rid)}
    if phases:
        out["phases"] = {k: sum(p[k] for p in phases) for k in phases[0]}
    return out


def layer_metrics(tracer: Tracer, traced_rids: list[str],
                  extra: dict[str, dict]) -> dict[str, float]:
    """Per-statement means of every span-derived layer metric over the
    traced statements. ``extra`` holds per-statement counts gathered
    outside the spans (exec counts, Catalyst phases)."""
    n = max(1, len(traced_rids))
    rids = set(traced_rids)
    spans = [s for s in tracer.spans if s.rid in rids]
    totals = layer_totals(spans)
    out = {m: 0.0 for m in SELF_TIME_METRICS.values()}
    kinds: dict[str, list[float]] = {}
    for rid, per in totals.items():
        for name, sec in per.items():
            if name in SELF_TIME_METRICS:
                out[SELF_TIME_METRICS[name]] += sec * 1e3 / n
            elif name.startswith("parser.command."):
                kinds.setdefault(name.split(".")[-1], []).append(sec * 1e3)
    for kind in COMMAND_KINDS.values():
        out[f"parser.command_ms.{kind}"] = (
            statistics.mean(kinds[kind]) if kind in kinds else 0.0)
    for prefix, metric in (
            ("model.metastore", "model.metastore_calls_per_stmt"),
            ("model.fs", "model.fs_reads_per_stmt"),
            ("catalog.unit_load", "catalog.unit_loads_per_stmt")):
        out[metric] = sum(outermost_counts(spans, prefix).values()) / n
    for key, metric in (("jobs", "exec.jobs_per_stmt"),
                        ("stages", "exec.stages_per_stmt"),
                        ("tasks", "exec.tasks_per_stmt")):
        out[metric] = sum(extra[r]["exec"][key] for r in rids) / n
    out["exec.ms"] = sum(extra[r]["exec"]["exec_s"] for r in rids) * 1e3 / n
    phased = [extra[r]["phases"] for r in rids if "phases" in extra[r]]
    for name in ("analysis", "optimization", "planning"):
        out[f"catalyst.{name}_ms"] = (
            statistics.mean(p[name] for p in phased) if phased else 0.0)
    return out
