"""corpus_pipeline: one bulk curation pass, then a stream of
micro-batches admitted against the corpus dedup index.

The bulk pass is ``RUN PIPELINE curate`` over a seeded corpus with
planted exact and near duplicates. The stream bootstraps the index with
``build_dedup_index`` during set-up, then admits seeded micro-batches
through ``ingest_micro_batch``, compacting the index with
``compact_dedup_index`` every ``COMPACT_EVERY`` batches. A run goes
on for its seconds and at least ``MIN_BATCHES`` batches. Each batch mixes exact
copies of indexed documents (which must be rejected) with fresh
documents (which must be admitted); the curate output must match the
Python-API ``curate_corpus`` counts.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import datagen
from harness import named_latency

CORPUS_DOCS = 400
INDEX_DOCS = 200
BATCH_DOCS = 10
MAX_BATCHES = 60
MIN_BATCHES = 1       # a run admits at least this many batches
COMPACT_EVERY = 1
SOURCE = "lightning.datasource.file.corpus.documents"


def curate_counts(df) -> tuple[int, int]:
    """(documents, documents kept) of a curate output."""
    from pyspark.sql import functions as F

    kept = dict(df.groupBy(F.col("drop_reason").isNull().alias("k"))
                .count().collect())
    return sum(kept.values()), kept.get(True, 0)


class CorpusPipeline:
    name = "corpus_pipeline"
    kinds = ["curate", "batch"]

    def __init__(self, env, size: float):
        self.env = env
        self.corpus_docs = max(40, int(CORPUS_DOCS * size))
        self.index_docs = max(20, int(INDEX_DOCS * size))
        self.t_start = 0.0
        self.ran_batches = 0

    def prepare(self) -> None:
        env = self.env
        self.corpus_dir = env.path("corpus")
        os.makedirs(self.corpus_dir)
        pq.write_table(datagen.documents(env.seed, self.corpus_docs),
                       os.path.join(self.corpus_dir, "documents.parquet"))
        indexed = datagen.documents(env.seed + 2, self.index_docs,
                                    dup_share=0.0, first_id=10**6)
        self.index_src = env.path("indexed.parquet")
        pq.write_table(indexed, self.index_src)
        self.batches = []
        os.makedirs(env.path("batches"))
        for i, (table, dups, novel) in enumerate(datagen.ingest_batches(
                env.seed, indexed.column("text").to_pylist(), MAX_BATCHES,
                BATCH_DOCS, first_id=2 * 10**6)):
            path = env.path("batches", f"b{i}.parquet")
            pq.write_table(table, path)
            self.batches.append((path, dups, novel))

    def setup(self, rep: int) -> None:
        from lightning_metastore_spark.context import LightningContext
        from lightning_metastore_spark.streaming import ingest

        env = self.env
        self.ctx = LightningContext(env.spark,
                                    warehouse=env.path(f"model{rep}"))
        self.ctx.sql("CREATE NAMESPACE lightning.datasource.file")
        self.ctx.sql(f"REGISTER PARQUET DATASOURCE corpus OPTIONS(path "
                     f"'{self.corpus_dir}') NAMESPACE "
                     "lightning.datasource.file")
        self.index_dir = env.path(f"index{rep}")
        self.out_dir = env.path(f"out{rep}")
        ingest.build_dedup_index(env.spark.read.parquet(self.index_src),
                                 self.index_dir)

    def run(self, seconds: float) -> None:
        from lightning_metastore_spark.streaming import ingest

        env, spark = self.env, self.env.spark
        self.t_start = time.perf_counter()
        deadline = self.t_start + seconds
        # a traced run admits two batches: one traced, one not
        min_batches = MIN_BATCHES + (env.tracer is not None)
        with env.op("curate", units=self.corpus_docs) as rec:
            df = self.ctx.sql(f"RUN PIPELINE curate ON {SOURCE}")
            with (env.tracer.span("exec.action") if rec.rid
                  else nullcontext()):
                rec.info["curate"] = curate_counts(df)
        for b, (path, _, _) in enumerate(self.batches):
            if b >= min_batches and time.perf_counter() >= deadline:
                break
            with env.op("batch", units=BATCH_DOCS):
                ingest.ingest_micro_batch(spark, spark.read.parquet(path), b,
                                          self.index_dir, self.out_dir)
            self.ran_batches = b + 1
            if self.ran_batches % COMPACT_EVERY == 0:
                with env.op("compact", units=0):
                    ingest.compact_dedup_index(spark, self.index_dir)
            self.probe()

    def probe(self) -> dict:
        return self.env.probe({"index": self.index_dir,
                               "out": self.out_dir})

    def verify(self) -> None:
        from lightning_metastore_spark.operators import pipeline

        env = self.env
        want = curate_counts(pipeline.curate_corpus(env.spark.read.parquet(
            os.path.join(self.corpus_dir, "documents.parquet"))))
        for o in env.ops:
            if o.kind == "curate" and o.error is None \
                    and o.info["curate"] != want:
                o.error = (f"curate (docs, kept) {o.info['curate']}, "
                           f"Python API gives {want}")
        admitted = {r.doc_id for r in env.spark.read.parquet(self.out_dir)
                    .select("doc_id").collect()}
        for b, (_, dups, novel) in enumerate(self.batches[:self.ran_batches]):
            if dups & admitted:
                env.fail(f"batch {b}", f"admitted exact duplicates "
                         f"{sorted(dups & admitted)[:5]}")
            if novel - admitted:
                env.fail(f"batch {b}", f"rejected novel documents "
                         f"{sorted(novel - admitted)[:5]}")
        self.admitted = len(admitted)

    def report(self) -> dict:
        final = self.probe()
        curate = next((o.info["curate"] for o in self.env.ops
                       if o.kind == "curate" and "curate" in o.info),
                      (1, 0))
        summary = self.env.summary(self.kinds, self.t_start)
        return {
            "summary": summary,
            "layers": {
                "streaming.admit_ratio":
                    self.admitted / (self.ran_batches * BATCH_DOCS),
                "streaming.index_files": final["index_files"],
                "operators.curate_kept_ratio": curate[1] / curate[0],
                "exec.persisted_rdds": final["persisted_rdds"],
                "catalog.temp_views": final["temp_views"],
            },
            "named": {
                **named_latency("batch", [o.ms for o in self.env.measured()
                                          if o.kind == "batch"], "s"),
                "docs_per_s": {"value": summary["throughput_per_s"],
                               "unit": "docs/s"}},
        }

    def close(self) -> None:
        pass
