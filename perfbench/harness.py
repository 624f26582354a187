"""What every workload shares: the work directory, the Spark session,
the operation log, the robustness probes and the end-to-end summary."""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import tempfile
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"


@dataclass
class Op:
    kind: str
    t0: float
    t1: float
    units: int = 1
    rid: str | None = None
    error: str | None = None
    info: dict = field(default_factory=dict)
    warmup: bool = False      # checked, but kept out of the figures
    key: str = ""             # what the traced/untraced split alternates on

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


class Env:
    """One run's directories, session and operation log."""

    def __init__(self, workload: str, seed: int, cpus: int):
        self.workload, self.seed, self.cpus = workload, seed, cpus
        self.tracer = None
        self.dir = os.path.join(ROOT, WORK_DIR,
                                f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(ROOT, OUT_DIR)
        self.ops: list[Op] = []
        self.extras: dict[str, dict] = {}
        self.samples: list[dict] = []
        self._kind_counts: dict[str, int] = {}
        self._lock = threading.Lock()
        self.spark = None
        self._jvm_pid = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- session -------------------------------------------------------

    def start_session(self) -> float:
        """Start the product's Spark session with every temporary file
        inside the work directory. Returns the seconds it took."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEM": "2g",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        tempfile.tempdir = None
        t0 = time.perf_counter()
        from lightning_metastore_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()
            self.spark = None
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- operations ----------------------------------------------------

    def _trace_next(self, key: str) -> bool:
        """In a traced run every other measured operation of each key
        is traced, so the untraced half measures the tracing overhead
        in the same run."""
        if self.tracer is None:
            return False
        with self._lock:
            n = self._kind_counts.get(key, 0)
            self._kind_counts[key] = n + 1
        return n % 2 == 0

    @contextmanager
    def op(self, kind: str, units: int = 1, warmup: bool = False,
           key: str | None = None):
        """Time one operation. Yields a mutable record: the body sets
        ``error`` for a wrong answer and ``units`` for work done.
        Warm-up operations are checked like the others but are neither
        traced nor counted in the figures. ``key`` (the kind by
        default) names the operations that alternate between traced
        and untraced, so each half holds as many of each."""
        from layers import job_group

        key = key or kind
        traced = not warmup and self._trace_next(key)
        rid = uuid.uuid4().hex[:12] if traced else None
        rec = Op(kind, 0.0, 0.0, units, rid, warmup=warmup, key=key)
        sc = self.spark.sparkContext
        with job_group(sc, rid):
            rec.t0 = time.perf_counter()
            try:
                if rid is None:
                    yield rec
                else:
                    with self.tracer.request(rid, "op"):
                        yield rec
            except Exception as e:  # recorded as a failed operation
                rec.error = f"{type(e).__name__}: {str(e)[:300]}"
            rec.t1 = time.perf_counter()
        if rid is not None:
            from layers import statement_extras

            extra = statement_extras(self.tracer, sc, rid)
            with self._lock:
                self.extras[rid] = extra
        with self._lock:
            self.ops.append(rec)

    def fail(self, what: str, why: str) -> None:
        """Record a wrong answer found after the measured phase."""
        with self._lock:
            self.ops.append(Op(f"check:{what}", 0.0, 0.0, 0, None, why))

    # -- probes --------------------------------------------------------

    def probe(self, dirs: dict[str, str]) -> dict:
        """Counts read from outside the product: session temp views,
        persisted RDDs and the files under each directory."""
        jss = self.spark._jsparkSession
        sample = {
            "statements": len(self.ops),
            "temp_views": jss.sessionState().catalog()
            .listLocalTempViews("*").size(),
            "persisted_rdds": self.spark.sparkContext._jsc
            .getPersistentRDDs().size(),
        }
        for label, d in dirs.items():
            sample[f"{label}_files"] = count_files(d)
        with self._lock:
            self.samples.append(sample)
        return sample

    def peak_rss_mb(self) -> float:
        """High-water resident set of this Python process plus the JVM."""
        total = 0
        for pid in ("self", self._jvm_pid):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        return total / 1024.0

    # -- summary -------------------------------------------------------

    def measured(self) -> list[Op]:
        return [o for o in self.ops if o.error is None and not o.warmup]

    def summary(self, kinds: list[str], t_start: float) -> dict:
        """End-to-end figures over the measured operations:
        ``latency_ms`` is the geometric mean over ``kinds`` of each
        kind's median latency, ``tail_ms`` the tail over every
        operation, ``throughput_per_s`` the units of work completed per
        second of measured time."""
        ok = self.measured()
        by_kind: dict[str, list[float]] = {}
        for o in ok:
            by_kind.setdefault(o.kind, []).append(o.ms)
        medians = stats.kind_medians(by_kind)
        missing = [k for k in kinds if k not in medians]
        if missing:
            raise RuntimeError(
                f"no successful {missing} operation; failures: "
                f"{[o.error for o in self.ops if o.error][:5]}")
        t_end = max(o.t1 for o in ok)
        tail = stats.tail([o.ms for o in ok])
        return {
            "latency_ms": stats.geomean([medians[k] for k in kinds]),
            "tail_ms": tail["value"],
            "throughput_per_s": sum(o.units for o in ok) / (t_end - t_start),
            "detail": {
                "kind_p50_ms": medians,
                "kind_samples": {k: len(v) for k, v in by_kind.items()},
                "tail": tail,
            },
        }

    def describe(self) -> dict:
        import pyspark

        return {"workload": self.workload, "seed": self.seed,
                "cpus": self.cpus, "spark": pyspark.__version__,
                "python": platform.python_version()}


def named_latency(prefix: str, ms: list[float], unit: str = "ms") -> dict:
    """``<prefix>_p50_<unit>`` and ``<prefix>_tail_<unit>`` with the
    sample count and the percentile the tail stands for."""
    if not ms:
        return {}
    scale = 1e-3 if unit == "s" else 1.0
    t = stats.tail(ms)
    return {
        f"{prefix}_p50_{unit}": {"value": stats.percentile(ms, 50) * scale,
                                 "unit": unit, "samples": len(ms)},
        f"{prefix}_tail_{unit}": {"value": t["value"] * scale, "unit": unit,
                                  "percentile": t["percentile"],
                                  "samples": t["samples"],
                                  "beyond": t["beyond"]},
    }


def count_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += len(files)
    return n


def dir_bytes(root: str) -> int:
    n = 0
    for d, _, files in os.walk(root):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n

