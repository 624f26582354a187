"""LLM-data-pipeline + DQ query registry — (spark, sf_dir) callables with
DuckDB oracles, mirroring plans/queries.py for the extension surface:
dedup, similarity search, text analysis, multimodal metadata, DQ checks.

Oracle notes — every entry has one (50/50 hash-checked):
- minhash/simhash oracles are the EXACT n-gram-Jaccard answer: both
  operators verify candidates with exact Jaccard, and their LSH stages
  have (empirically asserted, tests/test_dedup.py) 100% recall at the
  0.5 threshold on this corpus, so the verified output equals the exact
  answer.
- Genuinely approximate operators are oracle-hardened as DETERMINISTIC
  VERDICT columns: ann_ivf_topk emits per-query recall@k bounds vs the
  in-Spark brute-force truth (itself hash-verified by the brute-force
  gate); sketch_profile emits exact counts plus sketch-accuracy
  booleans; curation_pipeline hash-matches a fully composed DuckDB
  twin of all six stages. The DuckDB side reproduces the deterministic
  columns and expects TRUE verdicts, so approximation bugs still fail
  the gate.
- Floating-point determinism: see plans/queries.py docstring (decimal
  sums; cosine rounded to 9dp with id tiebreaks).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightning_metastore_spark.operators import dedup, dq, similarity
from lightning_metastore_spark.functions import text as text_fns
from lightning_metastore_spark.plans.queries import QuerySpec
from lightning_metastore_spark.session import load_tables


# --- catalog-routed queries ------------------------------------------------
# These run through the FULL Lightning stack: DDL command -> JSON
# metastore -> resolver rewrite of lightning.* names -> spark.sql. The
# oracle sees the same relational result, proving the catalog layer adds
# resolution, not semantics (the reference's delegation contract).

def _ctx(spark, sf_dir: str):
    import tempfile

    from lightning_metastore_spark.context import LightningContext

    ctx = LightningContext(
        spark, warehouse=tempfile.mkdtemp(prefix="lightning-gate-"))
    ctx.sql("CREATE NAMESPACE IF NOT EXISTS lightning.datasource.file")
    ctx.sql(f"REGISTER OR REPLACE PARQUET DATASOURCE tpch "
            f"OPTIONS(path '{sf_dir}') NAMESPACE lightning.datasource.file")
    return ctx


def catalog_federated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's doc revenue query shape (lightning-commands.md:
    112-128) run over lightning.* names end-to-end — and, since r12,
    truly FEDERATED: a Delta table is created and versioned through the
    DELTA catalog unit (the offline `_delta_log` writer when no jar is
    on the session, `sources/delta_reader.py`), then parquet-backed
    lineitem/orders join against BOTH the current Delta snapshot and
    `VERSION AS OF 0`, so the offline Delta write path, log replay AND
    the resolver's time-travel rewrite are all hash-verified against
    the DuckDB oracle. Since r13 an ICEBERG twin of the same shape runs
    in the same gate (r12 verdict #4): INSERT INTO creates/appends an
    Iceberg table through the offline writer's real manifests
    (`sources/iceberg_writer.py`), and `VERSION AS OF 1` (the offline
    writer's deterministic first snapshot id) time-travels it."""
    import tempfile

    ctx = _ctx(spark, sf_dir)
    lake = tempfile.mkdtemp(prefix="lightning-delta-gate-")
    ctx.sql("CREATE NAMESPACE IF NOT EXISTS lightning.datasource.delta")
    ctx.sql(f"REGISTER OR REPLACE DELTA DATASOURCE dlake "
            f"OPTIONS(path '{lake}') NAMESPACE lightning.datasource.delta")
    wh = tempfile.mkdtemp(prefix="lightning-ice-gate-")
    ctx.sql("CREATE NAMESPACE IF NOT EXISTS lightning.datasource.iceberg")
    ctx.sql(f"REGISTER OR REPLACE ICEBERG DATASOURCE ilake "
            f"OPTIONS(warehouse '{wh}') "
            f"NAMESPACE lightning.datasource.iceberg")
    # version 0 / snapshot 1: urgent+high priorities; the next commit
    # adds medium — the same two-commit history written through BOTH
    # lakehouse units. The two DISTINCT priority sets are computed
    # ONCE and localCheckpointed (≤5 rows each) — r15 ran the same
    # DISTINCT-over-orders subquery six times across the
    # delta/iceberg/CDF writes (r15 verdict #7).
    lo_df = ctx.sql("""SELECT DISTINCT o_orderpriority AS prio
        FROM lightning.datasource.file.tpch.orders
        WHERE o_orderpriority < '3'""").coalesce(1) \
        .localCheckpoint(eager=True)
    hi_df = ctx.sql("""SELECT DISTINCT o_orderpriority AS prio
        FROM lightning.datasource.file.tpch.orders
        WHERE o_orderpriority >= '3' AND o_orderpriority < '4'""") \
        .coalesce(1).localCheckpoint(eager=True)
    lo_df.createOrReplaceTempView("gate_prio_lo")
    hi_df.createOrReplaceTempView("gate_prio_hi")
    # The post-aggregation prio join below (`rev`) is row-identical to
    # joining before the GROUP BY ONLY while every prio table (lo, hi,
    # and their union — both lakehouse tables hold lo ∪ hi) is a
    # duplicate-free priority set. That holds by construction (DISTINCT
    # over disjoint ranges); assert it so a change to the gate data can
    # never silently flip the rewrite's semantics. The relations are
    # checkpointed 1-partition ≤5-row leaves — the collects are
    # driver-trivial.
    _lo = [r.prio for r in lo_df.collect()]
    _hi = [r.prio for r in hi_df.collect()]
    if len(set(_lo) | set(_hi)) != len(_lo) + len(_hi):
        raise AssertionError(
            "federated-revenue prio sets must be distinct and disjoint: "
            "the post-aggregation prio join relies on it")
    dtbl = "lightning.datasource.delta.dlake.prio"
    itbl = "lightning.datasource.iceberg.ilake.gate.prio"
    # r14: a Change Data Feed arm in the same gate — a CDF-enabled
    # twin of the prio table takes the same two commits through the
    # offline writer, and the `.changes` suffix table replays them as
    # row-level inserts; change type + commit version are encoded in
    # the arm name so the one hashed result verifies the feed.
    # `_commit_timestamp` is wall-clock and stays out of the gate.
    import os
    import tempfile as _tf
    from concurrent.futures import ThreadPoolExecutor

    from lightning_metastore_spark.sources import delta_reader as _dr

    cdf_lake = _tf.mkdtemp(prefix="lightning-cdf-gate-")
    cdf_path = os.path.join(cdf_lake, "prio")

    # r17 (guide §2.6 — overlap independent jobs): the Delta prio
    # history, the Iceberg prio history, the CDF twin and the shared
    # revenue aggregation touch disjoint tables/dirs; each is a chain
    # of SMALL driver-committed jobs that leaves the cluster idle, so
    # they are submitted from driver threads and joined before
    # anything that reads them. Staging writes are concurrency-safe
    # via sources/staging_conf (reentrant session-conf guard), and the
    # resolver binds lightning.* relations per statement, so no thread
    # can replace another's relation.
    def _ins_chain(tbl):
        ctx.sql(f"INSERT INTO {tbl} SELECT prio FROM gate_prio_lo")
        ctx.sql(f"INSERT INTO {tbl} SELECT prio FROM gate_prio_hi")

    def _cdf_chain():
        _dr.write_delta(
            lo_df, cdf_path, mode="error",
            configuration={"delta.enableChangeDataFeed": "true"})
        _dr.write_delta(hi_df, cdf_path, mode="append")
        ctx.sql(f"REGISTER OR REPLACE DELTA DATASOURCE cdflake "
                f"OPTIONS(path '{cdf_lake}') "
                f"NAMESPACE lightning.datasource.delta")
    cdf_sql = """
        SELECT 'cdf_' || _change_type || '_'
                 || CAST(_commit_version AS STRING) AS arm,
               prio AS o_orderpriority,
               CAST(0 AS DOUBLE) AS revenue,
               CAST(1 AS BIGINT) AS n_items
        FROM lightning.datasource.delta.cdflake.prio.changes
    """
    # The four revenue arms differ ONLY in which prio table (and
    # version) they join; the expensive part — the lineitem ⋈ orders
    # join + per-priority aggregation — is identical. r16 ran that
    # join FOUR times inside the one union (union arms share no
    # subtrees, and exchange reuse missed across the differing
    # pre-aggregation join shapes). Compute it ONCE, checkpoint the
    # <=5-row aggregate, and join each arm's (routed, possibly
    # time-travelled) prio table AFTER the aggregation — an inner
    # equi-join on the group key commutes with the GROUP BY, and each
    # prio table is a DISTINCT priority set, so the rows are
    # identical (hash-verified against the unchanged oracle).
    # Guide §2.4 (remove repeated shuffles) / §1.2.
    def _rev_chain():
        rev_base = ctx.sql("""
            SELECT o_orderpriority,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE)
                     / 10000 AS revenue,
                   COUNT(*) AS n_items
            FROM lightning.datasource.file.tpch.lineitem
            JOIN lightning.datasource.file.tpch.orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """).coalesce(1).localCheckpoint(eager=True)
        rev_base.createOrReplaceTempView("gate_rev_base")

    with ThreadPoolExecutor(max_workers=4) as ex:
        for fut in [ex.submit(_ins_chain, dtbl), ex.submit(_ins_chain, itbl),
                    ex.submit(_cdf_chain), ex.submit(_rev_chain)]:
            fut.result()
    rev = """
        SELECT '{arm}' AS arm, r.o_orderpriority, r.revenue, r.n_items
        FROM gate_rev_base r
        JOIN {tbl} {tt} p
          ON r.o_orderpriority = p.prio
    """
    base = ctx.sql(" UNION ALL ".join([
        rev.format(arm="current", tbl=dtbl, tt=""),
        rev.format(arm="v0", tbl=dtbl, tt="VERSION AS OF 0"),
        rev.format(arm="ice_current", tbl=itbl, tt=""),
        rev.format(arm="ice_v0", tbl=itbl, tt="VERSION AS OF 1"),
        cdf_sql,
    ]))

    # r15 arms, same gate (the driver hard-gates exactly the first 50
    # registry entries — PLANS.md "Round-14 measured-scope accounting"
    # — so new verification rides ARMS here, like the r14 CDF arms):
    #
    # `pruned_*`: stats/manifest-bounds FILE SKIPPING end-to-end — two
    # value-disjoint single-file appends per format, one ROUTED
    # selective SELECT whose WHERE conjunct the resolver hands to the
    # unit; the arm NAME encodes whether the plan scanned strictly
    # fewer files than the table holds (`_ok` vs `_full`), so a
    # silently-disabled pruning path hash-mismatches even though the
    # relational answer would still be right.
    #
    # `dml_*`: the DML triad — file-granular DELETE then UPDATE
    # through the SQL dialect — against the DuckDB twin of the same
    # mutations. The customer table keeps these arms light.
    from lightning_metastore_spark.sources.delta_reader import (
        write_delta as _wd,
    )
    from lightning_metastore_spark.sources.iceberg_writer import (
        write_iceberg as _wi,
    )

    halves = [
        ctx.sql("""SELECT c_custkey, c_acctbal, c_mktsegment
            FROM lightning.datasource.file.tpch.customer
            WHERE c_custkey < 75""").coalesce(1)
        .localCheckpoint(eager=True),
        ctx.sql("""SELECT c_custkey, c_acctbal, c_mktsegment
            FROM lightning.datasource.file.tpch.customer
            WHERE c_custkey >= 75""").coalesce(1)
        .localCheckpoint(eager=True),
    ]
    sel = """SELECT COUNT(*) AS n_items,
                CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                     AS DOUBLE) / 100 AS revenue
             FROM {t} WHERE c_custkey < 50"""
    dml_agg = """SELECT COUNT(*) AS n_items,
                CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                     AS DOUBLE) / 100 AS revenue
             FROM {t}"""
    dctbl = "lightning.datasource.delta.dlake.cust"
    ictbl = "lightning.datasource.iceberg.ilake.gate.cust"
    # r16: the triad becomes a quartet — DELETE, UPDATE, then a
    # file-granular MERGE — so the upsert path is hash-verified
    # against the DuckDB twin every driver run. r17: the matched
    # clause is CONDITIONAL (r16 verdict #1 done-criterion): matched
    # rows the condition rejects are claimed by NO clause, the exact
    # shape whose source rows the old anti-join wrongly re-inserted —
    # a regression now hash-mismatches instead of staying invisible.
    merge_sql = """MERGE INTO {tbl} AS t
        USING (SELECT c_custkey AS k
               FROM lightning.datasource.file.tpch.customer
               WHERE c_custkey < 20) AS s
        ON t.c_custkey = s.k
        WHEN MATCHED AND t.c_mktsegment = 'BUILDING'
             THEN UPDATE SET c_acctbal = 100.0
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal,
                                      c_mktsegment)
             VALUES (s.k, 100.0, 'MERGED')"""

    # r17 (guide §2.6): the Delta and Iceberg cust chains — two-commit
    # write, pruned read (pinned PRE-DML, exactly as the serial loop
    # pinned it), then the DML quartet — touch disjoint tables/dirs;
    # run one chain per driver thread. Each chain's internal order is
    # unchanged, so every arm sees the same table states as r16.
    def _cust_chain(kind, tbl, writer, base_path):
        for i, h in enumerate(halves):
            writer(h, base_path, mode="error" if i == 0 else "append")
        df = ctx.sql(sel.format(t=tbl))
        tag = "ok" if len(df.inputFiles()) < 2 else "full"
        pruned_arm = df.select(
            F.lit(f"pruned_{kind}_{tag}").alias("arm"),
            F.lit("-").alias("o_orderpriority"),
            F.col("revenue"), F.col("n_items"))
        ctx.sql(f"DELETE FROM {tbl} WHERE c_custkey % 7 = 0")
        ctx.sql(f"UPDATE {tbl} SET c_acctbal = c_acctbal * 2 "
                f"WHERE c_mktsegment = 'BUILDING'")
        ctx.sql(merge_sql.format(tbl=tbl))
        dml_arm = ctx.sql(dml_agg.format(t=tbl)).select(
            F.lit(f"dml_{kind}").alias("arm"),
            F.lit("-").alias("o_orderpriority"),
            F.col("revenue"), F.col("n_items"))
        return pruned_arm, dml_arm

    with ThreadPoolExecutor(max_workers=2) as ex:
        fd = ex.submit(_cust_chain, "delta", dctbl, _wd,
                       os.path.join(lake, "cust"))
        fi = ex.submit(_cust_chain, "iceberg", ictbl, _wi,
                       os.path.join(wh, "gate", "cust"))
        d_pruned, d_dml = fd.result()
        i_pruned, i_dml = fi.result()
    arms = [d_pruned, i_pruned, d_dml, i_dml]
    out = base.select("arm", "o_orderpriority", "revenue", "n_items")
    for a in arms:
        out = out.unionByName(a)
    return out.orderBy("arm", "o_orderpriority")


CATALOG_FEDERATED_ORACLE = """
WITH rev AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS DOUBLE)
           / 10000 AS revenue,
         COUNT(*) AS n_items
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderpriority
)
SELECT 'current' AS arm, o_orderpriority, revenue, n_items
FROM rev WHERE o_orderpriority < '4'
UNION ALL
SELECT 'v0' AS arm, o_orderpriority, revenue, n_items
FROM rev WHERE o_orderpriority < '3'
UNION ALL
SELECT 'ice_current' AS arm, o_orderpriority, revenue, n_items
FROM rev WHERE o_orderpriority < '4'
UNION ALL
SELECT 'ice_v0' AS arm, o_orderpriority, revenue, n_items
FROM rev WHERE o_orderpriority < '3'
UNION ALL
SELECT 'cdf_insert_0' AS arm, o_orderpriority,
       CAST(0 AS DOUBLE) AS revenue, CAST(1 AS BIGINT) AS n_items
FROM (SELECT DISTINCT o_orderpriority FROM orders
      WHERE o_orderpriority < '3')
UNION ALL
SELECT 'cdf_insert_1' AS arm, o_orderpriority,
       CAST(0 AS DOUBLE) AS revenue, CAST(1 AS BIGINT) AS n_items
FROM (SELECT DISTINCT o_orderpriority FROM orders
      WHERE o_orderpriority >= '3' AND o_orderpriority < '4')
UNION ALL
SELECT 'pruned_' || fmt || '_ok' AS arm, '-' AS o_orderpriority,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
         / 100 AS revenue,
       COUNT(*) AS n_items
FROM customer, (SELECT UNNEST(['delta', 'iceberg']) AS fmt)
WHERE c_custkey < 50
GROUP BY fmt
UNION ALL
SELECT 'dml_' || fmt AS arm, '-' AS o_orderpriority,
       CAST(SUM(CAST(ROUND(b * 100) AS BIGINT)) AS DOUBLE)
         / 100 AS revenue,
       COUNT(*) AS n_items
FROM (SELECT CASE WHEN c_custkey < 20
                       AND c_mktsegment = 'BUILDING' THEN 100.0
                  WHEN c_mktsegment = 'BUILDING'
                  THEN c_acctbal * 2 ELSE c_acctbal END AS b
      FROM customer WHERE c_custkey % 7 <> 0
      UNION ALL
      SELECT 100.0 AS b FROM customer
      WHERE c_custkey < 20 AND c_custkey % 7 = 0),
     (SELECT UNNEST(['delta', 'iceberg']) AS fmt)
GROUP BY fmt
ORDER BY arm, o_orderpriority
"""


def catalog_usl_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USL compile -> activate -> query: the governed-view path
    (CompileUSLSpec / ActivateUSLTableSpec / USLTableScan)."""
    ctx = _ctx(spark, sf_dir)
    ctx.sql("CREATE NAMESPACE IF NOT EXISTS lightning.metastore.crm")
    ctx.sql("""COMPILE USL gate_mart DEPLOY NAMESPACE lightning.metastore.crm DDL
        create table vip (c_custkey BIGINT primary key, c_name String,
                          c_acctbal double)""")
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.crm.gate_mart.vip AS
        SELECT c_custkey, c_name, c_acctbal
        FROM lightning.datasource.file.tpch.customer
        WHERE c_acctbal > 5000""")
    return ctx.sql("""
        SELECT c_custkey, c_name, c_acctbal
        FROM lightning.metastore.crm.gate_mart.vip
        ORDER BY c_custkey
    """)


CATALOG_USL_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer WHERE c_acctbal > 5000
ORDER BY c_custkey
"""


def catalog_dq_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUN DQ through the command layer over a USL table (constraint +
    custom checks, DataQualitySpec semantics)."""
    ctx = _ctx(spark, sf_dir)
    ctx.sql("CREATE NAMESPACE IF NOT EXISTS lightning.metastore.dqns")
    ctx.sql("""COMPILE USL dq_mart DEPLOY NAMESPACE lightning.metastore.dqns DDL
        create table ords (o_orderkey BIGINT primary key, o_custkey BIGINT,
                           o_totalprice double)""")
    ctx.sql("""ACTIVATE USL TABLE lightning.metastore.dqns.dq_mart.ords AS
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM lightning.datasource.file.tpch.orders""")
    ctx.sql("""REGISTER DQ price_pos TABLE lightning.metastore.dqns.dq_mart.ords
        AS o_totalprice > 0""")
    return (ctx.sql("RUN DQ TABLE lightning.metastore.dqns.dq_mart.ords")
            .orderBy("check_type"))


CATALOG_DQ_ORACLE = """
SELECT 'o_orderkey' AS dq_name, 'ords' AS table_name,
       'Primary Key Constraint' AS check_type,
       (SELECT COUNT(*) FROM orders) AS total,
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
          WHERE o_orderkey IS NOT NULL GROUP BY 1 HAVING COUNT(*) = 1)) AS valid,
       (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM (
          SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL
          GROUP BY 1 HAVING COUNT(*) = 1)) AS invalid
UNION ALL
SELECT 'price_pos', 'ords', 'Custom Data Quality',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0),
       (SELECT COUNT(*) FROM orders) -
       (SELECT COUNT(*) FROM orders WHERE o_totalprice > 0)
ORDER BY check_type
"""


# --- dedup -----------------------------------------------------------------

# Session-scoped cache of sub-plans shared by the dedup queries: they
# all shingle the same documents table, and three of them (ngram pairs,
# clusters, keep-best) walk the same exact-Jaccard pair graph — so the
# shingle relation, the verified pair list and the cluster assignment
# are each persisted once per (session, sf_dir) and later queries skip
# the whole upstream pipeline. MEMORY_AND_DISK; ~20 MB at sf0.1.
_df_cache: dict = {}
# Guards _df_cache's purge/lookup/insert: cached getters are called from
# driver thread pools (guide §2.6), and an unlocked purge comprehension
# can race a concurrent insert ("dictionary changed size during
# iteration"). build()+materialization stay OUTSIDE the lock so threads
# building DIFFERENT artifacts still overlap.
_df_cache_lock = threading.Lock()


def _cached_df(spark: SparkSession, sf_dir: str, tag: str, build):
    # key by applicationId (unique per context lifetime — id() could be
    # reused after GC); purge entries from dead applications so cached
    # DataFrames bound to a stopped context are never returned
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, tag)
    with _df_cache_lock:
        for k in [k for k in _df_cache if k[0] != app_id]:
            del _df_cache[k]
        cached = _df_cache.get(key)
    if cached is not None:
        return cached
    df = build().persist()
    # materialize NOW: persist() is lazy, and when one action's
    # branches reference the same unmaterialized cache entry through
    # several concurrent stages, stages can race to compute the same
    # subtree (cache blocks land only as each partition finishes);
    # an eager count makes every later reference a cache read.
    df.count()
    with _df_cache_lock:
        winner = _df_cache.setdefault(key, df)
    if winner is not df:
        # lost a build race: drop the loser's persisted blocks NOW —
        # the LRU store only evicts under storage-memory pressure, so
        # an orphaned duplicate would otherwise live app-long.
        df.unpersist()
    return winner


def _melt(df: DataFrame, section: str, key_col: str,
          num_cols: list[str], str_cols: tuple = ()) -> DataFrame:
    """Melt a wide gate output into the shared long schema
    (section, row_key, metric, value_num, value_str) so gates with
    different shapes can share one registry slot without losing any
    value from the hash check. Booleans cast to 0.0/1.0."""
    entries = ([F.struct(F.lit(c).alias("metric"),
                         F.col(c).cast("double").alias("value_num"),
                         F.lit(None).cast("string").alias("value_str"))
                for c in num_cols]
               + [F.struct(F.lit(c).alias("metric"),
                           F.lit(None).cast("double").alias("value_num"),
                           F.col(c).cast("string").alias("value_str"))
                  for c in str_cols])
    return (df.select(F.lit(section).alias("section"),
                      F.col(key_col).cast("long").alias("row_key"),
                      F.explode(F.array(*entries)).alias("m"))
            .select("section", "row_key", "m.metric", "m.value_num",
                    "m.value_str"))


def _melt_sql(oracle: str, section: str, key_col: str,
              num_cols: list[str], str_cols: tuple = ()) -> str:
    """DuckDB twin of _melt: one UNION ALL arm per column over the
    wrapped component oracle (subquery ORDER BY is legal and ignored)."""
    arms = [
        f"SELECT '{section}' AS section, CAST({key_col} AS BIGINT) AS row_key, "
        f"'{c}' AS metric, CAST({c} AS DOUBLE) AS value_num, "
        f"CAST(NULL AS VARCHAR) AS value_str FROM _src"
        for c in num_cols
    ] + [
        f"SELECT '{section}', CAST({key_col} AS BIGINT), '{c}', "
        f"CAST(NULL AS DOUBLE), CAST({c} AS VARCHAR) FROM _src"
        for c in str_cols
    ]
    return ("SELECT * FROM (WITH _src AS (SELECT * FROM (" + oracle + ")) "
            + " UNION ALL ".join(arms) + ")")


def _shingles_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    return _cached_df(spark, sf_dir, "shingles",
                      lambda: dedup.shingles(docs))


def _intersections_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Per-pair shingle intersection counts — THE expensive equi-join of
    the exact-Jaccard family, shared by ngram pairs and the SimHash
    shingle-join verify."""
    sh = _shingles_cached(spark, docs, sf_dir)
    return _cached_df(spark, sf_dir, "intersections",
                      lambda: dedup.shingle_intersections(sh))


def _shingle_counts_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Persisted per-doc shingle counts (one row per doc) — broadcast by
    the verify paths so multi-million-row candidate streams are never
    shuffled just to learn each side's set size. Gate-scale broadcast:
    at 100 TB counts is corpus-wide and the verifies fall back to the
    keyed join (the operators' default when no counts is passed)."""
    sh = _shingles_cached(spark, docs, sf_dir)
    return _cached_df(spark, sf_dir, "shingle_counts",
                      lambda: dedup._shingle_counts(sh, "doc_id"))


def _minhash_sig_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Persisted MinHash signature index (64 hashes, seed 42) over the
    shared shingle relation — the corpus artifact a production pipeline
    stores: batch LSH dedup reads it, and incremental new-batch dedup
    reuses it instead of rescanning the corpus."""
    sh = _shingles_cached(spark, docs, sf_dir)
    return _cached_df(spark, sf_dir, "minhash_sig",
                      lambda: dedup.minhash_signatures(sh))


def _simhash_fp_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Persisted 60-bit SimHash fingerprints — one bit-aggregation pass,
    reused by every simhash query in the session."""
    return _cached_df(spark, sf_dir, "simhash_fp",
                      lambda: dedup.simhash_fingerprints(docs))


def _span_hashes_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Persisted positional 5-token span-hash stream (doc_id, pos, gh)
    — the exact-substring dedup family's shared corpus artifact (the
    span_index docstring's "persisted corpus artifact", here under the
    same warm-shared-artifact protocol as the shingle/MinHash caches):
    the duplication scorer, the excision pass and the admission index
    all consume the SAME fan-out instead of re-deriving it."""
    return _cached_df(spark, sf_dir, "span_hashes",
                      lambda: dedup._span_hashes(docs, 5, "text",
                                                 "doc_id"))


def _jaccard_pairs_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Exact-Jaccard near-dup pairs (threshold 0.5, n=3) — the shared
    ground-truth pair graph for ngram dedup, clustering and keep-best.

    localCheckpoint truncates the pair graph's lineage to a leaf: the
    graph consumers (pagerank's 3 power iterations, triangles' 3-way
    self-join, keep-best's window) each reference the pair relation
    several times, and with a full logical plan behind the cache every
    reference re-embeds the shingle→intersection subtree — the cluster
    suite's analyzed plan exploded to ~85k printed lines of
    InMemoryRelation expansion, pure driver-side analysis cost (guide
    §5 "very large query plans"; §3.3 "materialising an intermediate
    truncates the plan"). The checkpointed relation is tiny (verified
    near-dup pairs only)."""
    sh = _shingles_cached(spark, docs, sf_dir)
    inter = _intersections_cached(spark, docs, sf_dir)
    return _cached_df(spark, sf_dir, "jaccard_pairs",
                      lambda: dedup.jaccard_pairs(docs, threshold=0.5, n=3,
                                                  sh=sh, inter=inter)
                      .localCheckpoint(eager=False))


def _clusters_cached(spark: SparkSession, docs: DataFrame, sf_dir: str):
    """Connected-components cluster labels over the shared pair graph."""
    pairs = _jaccard_pairs_cached(spark, docs, sf_dir)
    return _cached_df(spark, sf_dir, "clusters",
                      lambda: dedup.connected_components(pairs, docs))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return dedup.exact_dedup(t["documents"]).orderBy("doc_id")


DEDUP_EXACT_ORACLE = r"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM (SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS k
      FROM documents)
GROUP BY k
ORDER BY doc_id
"""

# Shared exact-Jaccard oracle (3-word shingles, threshold 0.5) — also the
# oracle for the LSH variants, whose verified output must equal it.
_JACCARD_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), sc AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, ROUND(c / (sa.n + sb.n - c), 6) AS jaccard
FROM inter
JOIN sc sa ON sa.doc_id = doc_id_a
JOIN sc sb ON sb.doc_id = doc_id_b
WHERE c / (sa.n + sb.n - c) >= 0.5
ORDER BY doc_id_a, doc_id_b
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return (_jaccard_pairs_cached(spark, t["documents"], sf_dir)
            .orderBy("doc_id_a", "doc_id_b"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    sh = _shingles_cached(spark, t["documents"], sf_dir)
    sig = _minhash_sig_cached(spark, t["documents"], sf_dir)
    counts = _shingle_counts_cached(spark, t["documents"], sf_dir)
    return (dedup.minhash_lsh_pairs(t["documents"], threshold=0.5, sh=sh,
                                    sig=sig, counts=F.broadcast(counts))
            .orderBy("doc_id_a", "doc_id_b"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    # chunks=15 (4-bit chunks) guarantees candidate recall up to hamming
    # 14 by pigeonhole; measured true-pair hammings on this corpus reach
    # 12 at sf0.1 (small shared vocabulary -> weak simhash separation).
    # These params intentionally trip the operator's degeneracy guard
    # (random-pair collision prob 0.62 — near-all-pairs at scale); the
    # scale-safe setting is dedup.SIMHASH_WEB_SCALE (4x15-bit chunks,
    # hamming<=3). The warning is the documented, intended behavior here.
    # On the degenerate path the operator derives candidates from the
    # shared shingle-intersection artifact gated by the SAME hamming
    # predicate (provably identical output — see simhash_pairs
    # docstring) instead of the near-all-pairs bucket self-join.
    import warnings

    sh = _shingles_cached(spark, t["documents"], sf_dir)
    inter = _intersections_cached(spark, t["documents"], sf_dir)
    fp = _simhash_fp_cached(spark, t["documents"], sf_dir)
    counts = _shingle_counts_cached(spark, t["documents"], sf_dir)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        pairs = dedup.simhash_pairs(t["documents"], hamming_max=14,
                                    chunks=15, jaccard_threshold=0.5, sh=sh,
                                    inter=inter, fp=fp,
                                    counts=F.broadcast(counts))
    return pairs.orderBy("doc_id_a", "doc_id_b")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental new-batch-vs-corpus MinHash dedup: docs with
    doc_id % 10 == 0 play the incoming batch, the rest the existing
    corpus. The corpus side is represented ONLY by its persisted
    artifacts — the shared shingle relation and the cached MinHash
    signature index (filtered per side; a doc's signature depends only
    on its own shingles, so subsetting the full-corpus index is exact).
    The corpus text is never rescanned: the streaming-ingestion shape."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    is_batch = F.col("doc_id") % 10 == 0
    batch = docs.filter(is_batch)
    sh = _shingles_cached(spark, docs, sf_dir)
    sig = _minhash_sig_cached(spark, docs, sf_dir)
    counts = _shingle_counts_cached(spark, docs, sf_dir)
    return (dedup.incremental_minhash_pairs(
        batch, sh.filter(~is_batch), sig.filter(~is_batch),
        corpus_counts=counts.filter(~is_batch),
        # the cached relations cover both sides; per-doc artifacts
        # subset exactly, so no re-shingling / re-hashing of the batch
        batch_sh=sh.filter(is_batch), batch_sig=sig.filter(is_batch))
        .orderBy("batch_id", "corpus_id"))


def dedup_neardup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four text near-dup pair generators in ONE tagged-union gate
    entry (the 50-slot registry discipline: identical schemas, so a
    union with a method tag preserves each operator's full hash check
    while using one slot). Each method still runs its own
    candidate-generation path — n-gram shingle equi-join, MinHash
    banding, SimHash hamming-LSH, incremental batch-vs-corpus banding —
    over the shared shingle/signature/fingerprint caches.

    Cold-cache builds are submitted from driver threads: the four
    post-shingle artifacts (intersections, signatures, fingerprints,
    counts) are independent, and their small stages underutilize the
    cluster — concurrent job submission overlaps them (the standard
    Spark multi-job driver pattern; on a real cluster use a FAIR pool)."""
    from concurrent.futures import ThreadPoolExecutor

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    _shingles_cached(spark, docs, sf_dir)  # every artifact's input
    with ThreadPoolExecutor(max_workers=4) as ex:
        for f in [ex.submit(fn, spark, docs, sf_dir)
                  for fn in (_intersections_cached, _minhash_sig_cached,
                             _simhash_fp_cached, _shingle_counts_cached)]:
            f.result()
    tag = F.lit
    ng = (dedup_ngram_jaccard(spark, sf_dir)
          .select(tag("ngram").alias("method"), "*"))
    mh = (dedup_minhash_lsh(spark, sf_dir)
          .select(tag("minhash").alias("method"), "*"))
    sim = (dedup_simhash(spark, sf_dir)
           .select(tag("simhash").alias("method"), "*"))
    inc = (dedup_incremental(spark, sf_dir)
           .select(tag("incremental").alias("method"),
                   F.col("batch_id").alias("doc_id_a"),
                   F.col("corpus_id").alias("doc_id_b"), "jaccard"))
    return (ng.unionByName(mh).unionByName(sim).unionByName(inc)
            .orderBy("method", "doc_id_a", "doc_id_b"))


# incremental oracle: exact Jaccard pairs between the batch (doc_id%10=0)
# and the corpus (rest) — directional (batch id first), same CTE shapes
# as _JACCARD_ORACLE
_INCREMENTAL_ORACLE_BODY = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), sc AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle
   AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, ROUND(c / (sa.n + sb.n - c), 6) AS jaccard
FROM inter
JOIN sc sa ON sa.doc_id = doc_id_a
JOIN sc sb ON sb.doc_id = doc_id_b
WHERE c / (sa.n + sb.n - c) >= 0.5
"""

_NEARDUP_SUITE_ORACLE = (
    "SELECT * FROM (\n"
    "WITH exact_pairs AS (" + _JACCARD_ORACLE.replace(
        "ORDER BY doc_id_a, doc_id_b", "") + ")\n"
    "SELECT m.method, p.doc_id_a, p.doc_id_b, p.jaccard\n"
    "FROM exact_pairs p CROSS JOIN (\n"
    "  SELECT UNNEST(['ngram', 'minhash', 'simhash']) AS method) m\n"
    "UNION ALL\n"
    "SELECT 'incremental' AS method, i.* FROM (" + _INCREMENTAL_ORACLE_BODY
    + ") i\n"
    ") ORDER BY method, doc_id_a, doc_id_b"
)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("embeddings",))
    return (dedup.embedding_neardup_pairs_blocked(t["embeddings"], threshold=0.45)
            .orderBy("vec_id_a", "vec_id_b"))


DEDUP_EMBEDDING_ORACLE = """
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.45
ORDER BY 1, 2
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster ids via connected components over the exact
    Jaccard pair graph; oracle = DuckDB recursive CTE reachability."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    return (_clusters_cached(spark, docs, sf_dir)
            .orderBy("doc_id"))


DEDUP_CLUSTERS_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), sc AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sc sa ON sa.doc_id = a.doc_id JOIN sc sb ON sb.doc_id = b.doc_id
  GROUP BY 1, 2, sa.n, sb.n
  HAVING COUNT(*) / (sa.n + sb.n - COUNT(*)) >= 0.5
), edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL SELECT idb, ida FROM pairs
), reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
)
SELECT src AS doc_id, MIN(node) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over text with synthetic injected PII (the corpus has
    none) — proves the masking passes end-to-end."""
    t = load_tables(spark, sf_dir, ("documents",))
    withpii = t["documents"].select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com or 555-123-4567 ssn 123-45-6789"))
        .alias("text"))
    return (withpii
            .select("doc_id", text_fns.redact_pii(F.col("text")).alias("clean"))
            .orderBy("doc_id"))


PII_ORACLE = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 555-123-4567 ssn 123-45-6789',
          '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\b(?:\+?1[\s.\-]?)?\(?\d{3}\)?[\s.\-]\d{3}[\s.\-]\d{4}\b', '<PHONE>', 'g'),
    '\b(?:\d[ \-]?){13,16}\b', '<CARD>', 'g') AS clean
FROM documents ORDER BY doc_id
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return (text_fns.tfidf_top_terms(t["documents"], k=3)
            .orderBy("doc_id", "rk"))


TFIDF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY 1
), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         ROUND(tf * (LN((n_docs + 1) / (df_t + 1.0)) + 1), 9) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN nd
)
SELECT doc_id, rk, token, tfidf FROM (
  SELECT doc_id, token, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, token) AS rk
  FROM scored
) WHERE rk <= 3
ORDER BY doc_id, rk
"""


# --- similarity search -----------------------------------------------------

def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.brute_force_topk(emb, queries, k=5)


ANN_BRUTE_ORACLE = """
WITH q AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 9) AS cosine
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
)
SELECT query_id, rk, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
ORDER BY query_id, rk
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str,
                 truth: DataFrame | None = None) -> DataFrame:
    """IVF-bucketed ANN, oracle-hardened as recall verdicts.

    An approximate index can't hash-match a SQL oracle on its raw
    neighbor lists, so the gate emits *deterministic verdict columns*
    instead: per-query recall@5 of the IVF result against the in-Spark
    brute-force ground truth (itself hash-verified against DuckDB by the
    ``ann_brute_force_topk`` gate). ``recall_ok`` uses a generous ≥0.2
    per-query floor (observed min 0.4 across SFs), ``mean_recall_ok``
    asserts the corpus mean ≥0.7 (observed ~0.80–0.82 with nprobe=6 of
    14 cells on these near-isotropic embeddings). The DuckDB oracle
    produces the same query_id rows with TRUE verdicts — the row is
    hash-green iff every recall bound actually holds."""
    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # corpus-adaptive centroids: deterministic sampled Lloyd k-means
    # (driver-held k x dim floats, literal-embedded assignment pass)
    centroids = similarity.kmeans_centroids(emb, k=14, iters=3)
    # These embeddings are near-isotropic (max pairwise cosine ~0.5), so
    # cells are weakly separated — nprobe=6 of 14 cells still gives
    # ~0.8 recall; clustered real-world embeddings need far fewer probes.
    ivf = similarity.ivf_topk(emb, queries, centroids, k=5, nprobe=6)
    if truth is None:
        truth = similarity.brute_force_topk(emb, queries, k=5)
    hits = (truth.select("query_id", "neighbor_id")
            .join(ivf.select("query_id", "neighbor_id"),
                  ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    per_q = (truth.select("query_id").distinct()
             .join(hits, "query_id", "left")
             .select("query_id",
                     (F.coalesce("n_hit", F.lit(0)) / F.lit(5.0))
                     .alias("recall")))
    mean_r = per_q.agg(F.avg("recall").alias("mean_recall"))
    return (per_q.crossJoin(F.broadcast(mean_r))
            .select("query_id",
                    (F.col("recall") >= 0.2).alias("recall_ok"),
                    (F.col("mean_recall") >= 0.7).alias("mean_recall_ok"))
            .orderBy("query_id"))


ANN_IVF_ORACLE = """
SELECT vec_id AS query_id, TRUE AS recall_ok, TRUE AS mean_recall_ok
FROM embeddings WHERE vec_id % 50 = 0 ORDER BY query_id
"""


def ann_hard_negatives(spark: SparkSession, sf_dir: str,
                       truth: DataFrame | None = None) -> DataFrame:
    """Denoised hard-negative mining gate arm
    (`operators/retrieval.mine_hard_negatives`): the supervision pairs
    are deterministic in-suite — each query's rank-1 brute-force
    neighbor plays the labeled positive — then the top-3 negatives at
    margin 0.02 below the positive's score are hash-verified."""
    from lightning_metastore_spark.operators.retrieval import (
        mine_hard_negatives,
    )

    t = load_tables(spark, sf_dir, ("embeddings",))
    emb = t["embeddings"]
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    if truth is not None:
        # rank-1 rows of a precomputed exact top-k ARE brute_force_topk
        # (emb, queries, k=1): same scoring, same tie-break order.
        pos = (truth.filter(F.col("rk") == 1)
               .select("query_id",
                       F.col("neighbor_id").alias("positive_id")))
    else:
        pos = (similarity.brute_force_topk(emb, queries, k=1)
               .select("query_id",
                       F.col("neighbor_id").alias("positive_id")))
    return mine_hard_negatives(emb, pos, k=3, margin=0.02)


def ann_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN paths in one tagged-union slot (50-slot registry
    discipline): exact brute-force top-k rows, IVF recall verdicts, and
    denoised hard-negative mining, schema-aligned with NULLs on the
    columns the other methods don't produce. Each method keeps its full
    per-row hash check."""
    # ONE exact brute-force pass serves all three arms (guide §1.2:
    # the suite previously ran it three times — the 'brute' rows, the
    # IVF recall ground truth, and the hard-negative positives at k=1
    # are all derivable from the same k=5 result). localCheckpoint
    # materializes the |queries| x 5 relation once; every arm reads it.
    truth = ann_brute_force_topk(spark, sf_dir).localCheckpoint(eager=True)
    brute = (truth
             .select(F.lit("brute").alias("method"), "query_id",
                     F.col("rk").cast("long").alias("rk"),
                     F.col("neighbor_id").cast("long").alias("neighbor_id"),
                     "cosine",
                     F.lit(None).cast("double").alias("pos_cosine"),
                     F.lit(None).cast("boolean").alias("recall_ok"),
                     F.lit(None).cast("boolean").alias("mean_recall_ok")))
    hardneg = (ann_hard_negatives(spark, sf_dir, truth=truth)
               .select(F.lit("hardneg").alias("method"), "query_id",
                       F.col("rk").cast("long").alias("rk"),
                       F.col("negative_id").cast("long").alias("neighbor_id"),
                       "cosine", "pos_cosine",
                       F.lit(None).cast("boolean").alias("recall_ok"),
                       F.lit(None).cast("boolean").alias("mean_recall_ok")))
    ivf = (ann_ivf_topk(spark, sf_dir, truth=truth)
           .select(F.lit("ivf").alias("method"), "query_id",
                   F.lit(None).cast("long").alias("rk"),
                   F.lit(None).cast("long").alias("neighbor_id"),
                   F.lit(None).cast("double").alias("cosine"),
                   F.lit(None).cast("double").alias("pos_cosine"),
                   "recall_ok", "mean_recall_ok"))
    return (brute.unionByName(hardneg).unionByName(ivf)
            .orderBy("method", "query_id", "rk"))


ANN_SUITE_ORACLE = (
    """
WITH q AS (SELECT * FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 9) AS cosine
  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
),
pos AS (
  SELECT query_id, neighbor_id AS positive_id, cosine AS pos_cosine
  FROM ranked WHERE rk = 1
),
hn AS (
  SELECT s.query_id, s.neighbor_id, s.cosine, p.pos_cosine,
         ROW_NUMBER() OVER (PARTITION BY s.query_id
                            ORDER BY s.cosine DESC, s.neighbor_id) AS rk
  FROM scored s JOIN pos p ON s.query_id = p.query_id
  WHERE s.neighbor_id <> p.positive_id
    AND s.cosine <= p.pos_cosine - CAST(0.02 AS DOUBLE)
)
SELECT 'brute' AS method, query_id, CAST(rk AS BIGINT) AS rk,
       CAST(neighbor_id AS BIGINT) AS neighbor_id, cosine,
       CAST(NULL AS DOUBLE) AS pos_cosine,
       CAST(NULL AS BOOLEAN) AS recall_ok,
       CAST(NULL AS BOOLEAN) AS mean_recall_ok
FROM ranked WHERE rk <= 5
UNION ALL
SELECT 'hardneg', query_id, CAST(rk AS BIGINT),
       CAST(neighbor_id AS BIGINT), cosine, pos_cosine, NULL, NULL
FROM hn WHERE rk <= 3
UNION ALL
SELECT 'ivf', query_id, NULL, NULL, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), recall_ok, mean_recall_ok
FROM (""" + ANN_IVF_ORACLE + """)
ORDER BY method, query_id, rk
"""
)


# --- text analysis ---------------------------------------------------------

def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.token_counts(t["documents"]).orderBy("doc_id")


TOKEN_COUNTS_ORACLE = r"""
SELECT doc_id,
       CAST(LENGTH(text) AS INT) AS n_chars,
       CAST(len(regexp_extract_all(text, '(\S+)', 1)) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '([A-Za-z]{1,4}|[0-9]|[^\sA-Za-z0-9])', 1)) AS INT) AS n_subwords
FROM documents ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return (text_fns.quality_features(t["documents"])
            .join(text_fns.token_counts(t["documents"])
                  .select("doc_id", "n_subwords"), "doc_id")
            .orderBy("doc_id"))


TEXT_QUALITY_ORACLE = r"""
WITH f AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS INT) AS n_chars,
         CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS n_tokens,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is'], x))) AS INT) AS n_stop,
         CAST(len(regexp_extract_all(text, '([^\w\s])', 1)) AS INT) AS n_punct,
         CAST(len(list_distinct(string_split_regex(lower(text), '\s+'))) AS INT) AS n_distinct,
         CAST(len(regexp_extract_all(text, '([A-Za-z]{1,4}|[0-9]|[^\sA-Za-z0-9])', 1)) AS INT)
           AS n_subwords
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_subwords,
       ROUND((n_chars - (n_tokens - 1)) / n_tokens, 6) AS avg_token_len,
       ROUND(n_stop / n_tokens, 6) AS stopword_ratio,
       ROUND(n_punct / GREATEST(n_chars, 1), 6) AS punct_ratio,
       ROUND(n_distinct / n_tokens, 6) AS distinct_ratio,
       ROUND(0.35 * LEAST(n_tokens / 100.0, 1.0)
             + 0.25 * (n_distinct / n_tokens)
             + 0.25 * LEAST((n_stop / n_tokens) * 4, 1.0)
             + 0.15 * (1.0 - LEAST((n_punct / GREATEST(n_chars, 1)) * 10, 1.0)), 6)
         AS quality_score
FROM f ORDER BY doc_id
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID + normalized md5 document fingerprint in one entry —
    both are map-only scans over documents, joined on doc_id (the join
    collapses to a single scan once Catalyst dedups the subtrees; at
    worst it's two map-only passes)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (text_fns.lang_id(t["documents"])
            .join(text_fns.fingerprint(t["documents"]), "doc_id")
            .orderBy("doc_id"))


LANG_ID_ORACLE = r"""
WITH c AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en_c,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS de_c,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['le','la','les','et','est','une','dans'], x))) AS fr_c,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['el','los','las','y','es','una','que'], x))) AS es_c,
    len(regexp_extract_all(text, '([一-鿿])', 1)) AS cjk
  FROM documents
)
SELECT c.doc_id,
       CASE WHEN cjk > 0 THEN 'zh'
            WHEN GREATEST(en_c, de_c, fr_c, es_c) = 0 THEN 'und'
            WHEN en_c = GREATEST(en_c, de_c, fr_c, es_c) THEN 'en'
            WHEN de_c = GREATEST(en_c, de_c, fr_c, es_c) THEN 'de'
            WHEN fr_c = GREATEST(en_c, de_c, fr_c, es_c) THEN 'fr'
            ELSE 'es' END AS pred_lang,
       md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')) AS fp
FROM c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.doc_id
"""


def text_lm_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document scoring in one melted slot (50-slot registry
    discipline): 'unigram' = corpus unigram LM mean log-prob (the cheap
    perplexity proxy), 'bigram' = interpolated bigram LM mean log-prob
    (the KenLM-style CCNet filter shape), 'classifier' = linear
    (fastText-shaped) quality classifier inference via a broadcast
    hashed-feature weight table, 'ref_lm' = the EXTERNAL-reference
    variant (operators/lm_filter — add-1 OOV backoff, reference =
    the doc_id%4==0 quarter), 'kn_lm' = the same reference under the
    order-3 interpolated Kneser-Ney model (the KenLM/CCNet family),
    'clf_train' = the distributed classifier TRAINING loop (2 GD
    iterations, word_ngrams=2 features, all 64 integer weights
    bit-checked), 'kn_ccnet' = the CCNet terminal flow consuming a
    SAVED KN artifact through the family-sniffing loader.
    Columns: (section, doc_id, n_terms, score)."""
    from concurrent.futures import ThreadPoolExecutor

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    # r17 (guide §2.6): three section builders run driver-side actions
    # — the ref-LM N/V scalars, the KN vocab/continuation scalars, and
    # clf_train's two full GD iteration collects — which serially left
    # the cluster idle. Build them (and the artifact-consuming CCNet
    # flow) from driver threads; the lazy sections stay inline. Union
    # order and every section's plan are unchanged.
    with ThreadPoolExecutor(max_workers=4) as _ex:
        f_ref = _ex.submit(_ref_lm_scores, docs)
        f_kn = _ex.submit(_kn_ref_scores, docs)
        f_clt = _ex.submit(_clf_train_weights, docs)
        f_knc = _ex.submit(_kn_ccnet_flow, docs)
        uni = (text_fns.unigram_logprob(docs)
               .select(F.lit("unigram").alias("section"), "doc_id",
                       F.col("n_tokens").alias("n_terms"),
                       F.col("avg_logprob").alias("score")))
        big = (text_fns.bigram_logprob(docs)
               .select(F.lit("bigram").alias("section"), "doc_id",
                       "n_terms", F.col("avg_logprob").alias("score")))
        clf = (text_fns.classifier_score(docs)
               .select(F.lit("classifier").alias("section"), "doc_id",
                       "n_terms", "score"))
        bm = (text_fns.bm25_scores(docs)
              .select(F.lit("bm25").alias("section"), "doc_id",
                      "n_terms", "score"))
        # 'phrase' = positional-index exact-phrase retrieval: n_terms
        # plays n_hits, score plays first_pos (both hash-verified)
        ph = (text_fns.phrase_search(docs, "the table")
              .select(F.lit("phrase").alias("section"), "doc_id",
                      F.col("n_hits").alias("n_terms"),
                      F.col("first_pos").cast("double").alias("score")))
        ref_scored = f_ref.result()
        kn_scored = f_kn.result()
        clt_w = f_clt.result()
        knc_flow = f_knc.result()
    ref = (ref_scored
           .select(F.lit("ref_lm").alias("section"), "doc_id",
                   "n_terms", F.col("avg_logprob").alias("score")))
    # 'kn_lm' = the same external reference under the order-3
    # interpolated Kneser-Ney model (the KenLM/CCNet family) — the
    # oracle re-derives the chained continuation counts in SQL
    kn = (kn_scored
          .select(F.lit("kn_lm").alias("section"), "doc_id",
                  "n_terms", F.col("avg_logprob").alias("score")))
    # 'clf_train' = distributed classifier TRAINING gate: doc_id plays
    # the bucket, n_terms the integer milli-unit weight (bit-checked),
    # score the float weight — the DuckDB twin replays both GD
    # iterations from the module's integer-freezing contract
    clt = (clt_w
           .select(F.lit("clf_train").alias("section"),
                   F.col("bucket").alias("doc_id"),
                   F.col("m").cast("long").alias("n_terms"),
                   (F.col("m") / F.lit(1000.0)).alias("score")))
    # 'ppl_buckets' = the CCNet head/middle/tail split of the ref-LM
    # scores per language: n_terms plays the bucket ordinal
    # (head=0/middle=1/tail=2), score plays the 9dp percent-rank —
    # both hash-verified, so the bucket ASSIGNMENT is bit-checked
    ppl = (_ppl_bucket_scores(docs, ref_scored)
           .select(F.lit("ppl_buckets").alias("section"), "doc_id",
                   F.when(F.col("bucket") == "head", 0)
                   .when(F.col("bucket") == "middle", 1)
                   .otherwise(2).cast("long").alias("n_terms"),
                   F.col("rank_frac").alias("score")))
    # 'kn_ccnet' (r12 verdict #7) = the composed CCNet terminal flow
    # under a SAVED Kneser-Ney artifact: train_kn_lm persists it,
    # score_with_reference_lm sniffs the family from meta and routes to
    # the order-n scorer, perplexity_buckets + bucket_resample thin at
    # head 1.0 / middle 0.5 / tail 0.1. n_terms encodes bucket ordinal
    # * 2 + kept, score the 9dp rank — bucket, rank AND every md5 keep
    # decision hash-verify under the artifact path.
    knc = (knc_flow
           .select(F.lit("kn_ccnet").alias("section"), "doc_id",
                   (F.when(F.col("bucket") == "head", 0)
                    .when(F.col("bucket") == "middle", 2)
                    .otherwise(4)
                    + F.col("kept").cast("int")).cast("long")
                   .alias("n_terms"),
                   F.col("rank_frac").alias("score")))
    return (uni.unionByName(big).unionByName(clf).unionByName(bm)
            .unionByName(ph).unionByName(ref).unionByName(kn)
            .unionByName(clt).unionByName(ppl).unionByName(knc)
            .orderBy("section", "doc_id"))


def _ref_lm_scores(docs: DataFrame) -> DataFrame:
    """'ref_lm' = EXTERNAL-reference LM filtering (the full CCNet
    shape, operators/lm_filter.py): the reference corpus is the
    deterministic doc_id%4==0 quarter of the table; every doc scores
    against ITS counts with the add-1 OOV backoff — docs outside the
    reference exercise the unseen-bigram/unseen-token arms the
    corpus-internal 'bigram' section never hits."""
    from lightning_metastore_spark.operators import lm_filter

    ref = docs.filter(F.col("doc_id") % 4 == 0)
    toks = lm_filter._tokens(ref, "text", "doc_id")
    c1 = (toks.select(F.explode("t").alias("token"))
          .groupBy("token").agg(F.count(F.lit(1)).alias("c1")))
    c2 = (lm_filter._bigrams(toks, "doc_id")
          .groupBy("prev", "next").agg(F.count(F.lit(1)).alias("c2")))
    stats = c1.agg(F.sum("c1").alias("n"),
                   F.count(F.lit(1)).alias("v")).first()
    return lm_filter.score_with_counts(
        docs, c1, c2, int(stats["n"] or 0), int(stats["v"]), lam=0.7)


def _kn_ref_scores(docs: DataFrame) -> DataFrame:
    """'kn_lm' = order-3 interpolated Kneser-Ney scoring under the
    SAME doc_id%4==0 reference quarter (the operators/lm_filter
    train_kn_lm contract: chained continuation counts, fixed D=0.75,
    uniform 1/(V+1) OOV floor) — the published CCNet filter's model
    family. Counts are built inline exactly as the trainer derives
    them; the DuckDB twin re-derives the same chain and replays the
    identical left-associated backoff expression."""
    from lightning_metastore_spark.operators import lm_filter

    ref = docs.filter(F.col("doc_id") % 4 == 0)
    toks = lm_filter._tokens(ref, "text", "doc_id")
    o3 = (lm_filter._ngrams(toks, "doc_id", 3)
          .groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c")))
    o2 = (o3.groupBy(F.col("w2").alias("w1"), F.col("w3").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c")))
    o1 = (o2.groupBy(F.col("w2").alias("w1"))
          .agg(F.count(F.lit(1)).alias("c")))
    ctx2 = o3.groupBy("w1", "w2").agg(F.sum("c").alias("s"),
                                      F.count(F.lit(1)).alias("f"))
    ctx1 = o2.groupBy("w1").agg(F.sum("c").alias("s"),
                                F.count(F.lit(1)).alias("f"))
    vocab = int(toks.select(F.explode("t").alias("tok"))
                .agg(F.count_distinct("tok").alias("v")).first()["v"] or 0)
    st = o1.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"),
                F.count(F.lit(1)).alias("u")).first()
    return lm_filter.score_with_kn_tables(
        docs, {"o1": o1, "o2": o2, "o3": o3, "ctx1": ctx1, "ctx2": ctx2},
        order=3, discount=0.75, vocab=vocab,
        u_types=int(st["u"]), t_total=int(st["t"]))


def _clf_train_weights(docs: DataFrame) -> DataFrame:
    """'clf_train' = operators/classifier.train_logreg_classifier
    gated end to end: 2 full-batch GD iterations at lr=1.0 over
    word_ngrams=2 hashed features (n_buckets=64), label = doc_id % 2.
    The integer-freezing contract (9dp error, integer 1e-12 gradient
    units, banker's-rounded driver steps = DuckDB round_even) makes
    the whole training loop — feature hashing incl. the \\x01-joined
    word bigrams, margins, sigmoid, frozen gradients, both weight
    steps — bit-replayable in SQL; all 64 integer weights are
    hash-verified."""
    from lightning_metastore_spark.operators.classifier import (
        train_logreg_classifier)

    labeled = docs.withColumn("label", (F.col("doc_id") % 2).cast("int"))
    return train_logreg_classifier(labeled, "label", iters=2, lr=1.0,
                                   n_buckets=64, word_ngrams=2)


_kn_artifact_cache: dict = {}


def _kn_ccnet_flow(docs: DataFrame) -> DataFrame:
    """'kn_ccnet' = the CCNet terminal recipe consuming a SAVED order-3
    Kneser-Ney ARTIFACT (r12 verdict #7): ``train_kn_lm`` persists the
    distributed parquet relations, ``score_with_reference_lm`` sniffs
    the family from the meta schema and routes to ``score_with_kn_lm``,
    then ``perplexity_buckets`` + ``bucket_resample`` split and thin —
    the exact component chain curate_corpus's ``ccnet_bucket_rates``
    stage composes (operators/pipeline.py), here oracle-verified under
    the artifact path rather than inline counts. discount=0.75 /
    min_count=1 make the artifact tables identical to the kn_lm
    section's inline derivation, so the DuckDB twin reuses the same
    knsc chain.

    The TRAINED artifact is session-cached per input (the same
    warm-shared-artifact protocol as `_cached_df` — bench.py's suite
    caveat): the first call trains, later calls measure the
    artifact-CONSUME path, which is what this section verifies."""
    import os as _os
    import tempfile

    from lightning_metastore_spark.operators import lm_filter
    from lightning_metastore_spark.operators.sampling import (
        bucket_resample,
    )

    spark = docs.sparkSession
    try:
        # key on input files AND the docs plan (exprIds stripped, so
        # identical pipelines hit) — the trained model depends on the
        # ROWS, and the same files read through a different transform
        # must not share an artifact
        import hashlib
        import re as _re
        plan = _re.sub(r"#\d+", "#", str(
            docs._jdf.queryExecution().analyzed().toString()))
        src_key = (tuple(sorted(docs.inputFiles())),
                   hashlib.md5(plan.encode()).hexdigest())
    except Exception:  # noqa: BLE001 — in-memory docs: never cache
        # _jdf.queryExecution() is PRIVATE Spark API: if a Spark
        # upgrade removes/renames it this degrades to retrain-per-call
        # (src_key None -> no cache entry), never to a wrong shared
        # artifact
        src_key = None
    key = (spark.sparkContext.applicationId, src_key)
    path = _kn_artifact_cache.get(key) if src_key else None
    if path is None or not _os.path.exists(f"{path}/meta"):
        path = tempfile.mkdtemp(prefix="lightning-knlm-gate-") + "/model"
        ref = docs.filter(F.col("doc_id") % 4 == 0)
        lm_filter.train_kn_lm(ref, path, order=3, discount=0.75)
        if src_key:
            _kn_artifact_cache[key] = path
    scored = lm_filter.score_with_reference_lm(docs, path)
    b = lm_filter.perplexity_buckets(
        scored.join(docs.select("doc_id", "lang"), "doc_id"),
        score_col="avg_logprob", group_col="lang")
    return bucket_resample(b)


def _ppl_bucket_scores(docs: DataFrame,
                       ref_scored: DataFrame | None = None) -> DataFrame:
    """'ppl_buckets' = lm_filter.perplexity_buckets over the ref_lm
    section's scores joined back to the language column — the CCNet
    head/middle/tail split the sampling recipes key on."""
    from lightning_metastore_spark.operators.lm_filter import (
        perplexity_buckets)

    if ref_scored is None:
        ref_scored = _ref_lm_scores(docs)
    return perplexity_buckets(
        ref_scored.join(docs.select("doc_id", "lang"), "doc_id"),
        score_col="avg_logprob", group_col="lang")


# DuckDB int value of the first k hex chars of an md5 string
def _hexint_sql(expr: str, k: int) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (k - 1 - i)}"
        for i in range(k))
    return f"({terms})"


TEXT_LM_SUITE_ORACLE = r"""
WITH toksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), toks AS (
  SELECT doc_id, unnest(t) AS token FROM toksarr
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), corpus AS (
  SELECT token, COUNT(*) AS ctf FROM toks GROUP BY 1
), total AS (SELECT COUNT(*) AS n_total FROM toks),
big AS (
  SELECT doc_id, t[i] AS prev, t[i+1] AS next
  FROM toksarr, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
), c2 AS (
  SELECT prev, next, COUNT(*) AS c2 FROM big GROUP BY 1, 2
), btf AS (
  SELECT doc_id, prev, next, COUNT(*) AS tf FROM big GROUP BY 1, 2, 3
), wtok AS (
  SELECT doc_id, {HEX3} AS bucket
  FROM (SELECT doc_id, md5(token) AS h FROM toks)
), wts AS (
  SELECT doc_id,
         ({HEX4W} % 2000 - 1000) AS m
  FROM (SELECT doc_id, md5('w:' || CAST(bucket AS VARCHAR)) AS hw FROM wtok)
), rtoksarr AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
  FROM documents WHERE doc_id % 4 = 0
), rc1 AS (
  SELECT token, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS token FROM rtoksarr) GROUP BY 1
), rstats AS (SELECT SUM(c1) AS n_total, COUNT(*) AS v FROM rc1),
rc2 AS (
  SELECT prev, next, COUNT(*) AS c2
  FROM (SELECT t[i] AS prev, t[i+1] AS next
        FROM rtoksarr, unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2)
  GROUP BY 1, 2
), refsc AS (
  SELECT btf.doc_id, CAST(SUM(btf.tf) AS BIGINT) AS n_terms,
         ROUND(CAST(SUM(CAST(btf.tf * LN(
             CASE WHEN rc2.c2 IS NOT NULL AND cp.c1 IS NOT NULL
                  THEN 0.7 * rc2.c2 / cp.c1 ELSE 0.0 END
             + (1.0 - 0.7) * (COALESCE(cn.c1, 0) + 1.0)
               / CAST(rstats.n_total + rstats.v + 1 AS DOUBLE)
           ) AS DECIMAL(28,15))) AS DOUBLE) / SUM(btf.tf), 9) AS alp
  FROM btf
  LEFT JOIN rc2 USING (prev, next)
  LEFT JOIN rc1 cp ON cp.token = btf.prev
  LEFT JOIN rc1 cn ON cn.token = btf.next
  CROSS JOIN rstats
  GROUP BY btf.doc_id
), kt3 AS (
  SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, COUNT(*) AS c
  FROM rtoksarr, unnest(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 3 GROUP BY 1, 2, 3
), kt2 AS (
  SELECT w2 AS w1, w3 AS w2, COUNT(*) AS c FROM kt3 GROUP BY 1, 2
), kt1 AS (
  SELECT w2 AS w1, COUNT(*) AS c FROM kt2 GROUP BY 1
), kx2 AS (
  SELECT w1, w2, SUM(c) AS s, COUNT(*) AS f FROM kt3 GROUP BY 1, 2
), kx1 AS (
  SELECT w1, SUM(c) AS s, COUNT(*) AS f FROM kt2 GROUP BY 1
), kst AS (
  SELECT CAST((SELECT SUM(c) FROM kt1) AS BIGINT) AS t,
         CAST((SELECT COUNT(*) FROM kt1) AS BIGINT) AS u,
         (SELECT v FROM rstats) AS v
), dt3 AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3,
         COUNT(*) AS tf
  FROM toksarr, unnest(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 3 GROUP BY 1, 2, 3, 4
), knp AS (
  SELECT doc_id, tf,
         CASE WHEN s2 IS NOT NULL THEN
           GREATEST(COALESCE(c3, 0) - CAST(0.75 AS DOUBLE),
                    CAST(0.0 AS DOUBLE)) / s2
           + CAST(0.75 AS DOUBLE) * f2 / s2 * p2
         ELSE p2 END AS p3
  FROM (
    SELECT *, CASE WHEN s1 IS NOT NULL THEN
          GREATEST(COALESCE(kc2, 0) - CAST(0.75 AS DOUBLE),
                   CAST(0.0 AS DOUBLE)) / s1
          + CAST(0.75 AS DOUBLE) * f1 / s1 * p1
        ELSE p1 END AS p2
    FROM (
      SELECT dt3.doc_id, dt3.tf,
             l3.c AS c3, x2.s AS s2, x2.f AS f2,
             l2.c AS kc2, x1.s AS s1, x1.f AS f1,
             GREATEST(COALESCE(l1.c, 0) - CAST(0.75 AS DOUBLE),
                      CAST(0.0 AS DOUBLE)) / kst.t
             + CAST(0.75 AS DOUBLE) * kst.u / kst.t
               / (kst.v + CAST(1.0 AS DOUBLE)) AS p1
      FROM dt3
      LEFT JOIN kt3 l3 ON l3.w1 = dt3.w1 AND l3.w2 = dt3.w2
                      AND l3.w3 = dt3.w3
      LEFT JOIN kx2 x2 ON x2.w1 = dt3.w1 AND x2.w2 = dt3.w2
      LEFT JOIN kt2 l2 ON l2.w1 = dt3.w2 AND l2.w2 = dt3.w3
      LEFT JOIN kx1 x1 ON x1.w1 = dt3.w2
      LEFT JOIN kt1 l1 ON l1.w1 = dt3.w3
      CROSS JOIN kst
    )
  )
), knsc AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_terms,
         ROUND(CAST(SUM(CAST(tf * LN(p3) AS DECIMAL(28,15))) AS DOUBLE)
               / SUM(tf), 9) AS alp
  FROM knp GROUP BY doc_id
), cfeat AS (
  SELECT doc_id, bucket, COUNT(*) AS tf FROM (
    SELECT doc_id, ({HEXC3} % 64) AS bucket FROM (
      SELECT doc_id, md5(tok) AS hc FROM (
        SELECT doc_id, unnest(t) AS tok FROM toksarr
        UNION ALL
        SELECT doc_id, t[i] || chr(1) || t[i+1] AS tok
        FROM toksarr, unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE len(t) >= 2
      )
    )
  ) GROUP BY 1, 2
), cnd AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_d FROM cfeat GROUP BY 1
), cy AS (
  SELECT doc_id, CAST(doc_id % 2 AS DOUBLE) AS y FROM documents
), cb AS (
  SELECT unnest(generate_series(0, 63)) AS bucket
), cg1 AS (
  SELECT f.bucket,
         CAST(SUM(CAST(e.f1 AS DECIMAL(38,0)) * f.tf) AS BIGINT) AS g
  FROM cfeat f JOIN (
    SELECT n.doc_id,
           CAST(ROUND(CAST(ROUND(ROUND(0.5 - y.y, 9) * 1e9, 0)
                           AS BIGINT) * 1000.0 / n.n_d, 0)
                AS BIGINT) AS f1
    FROM cnd n JOIN cy y USING (doc_id)
  ) e USING (doc_id)
  GROUP BY 1
), cw1 AS (
  SELECT cb.bucket,
         0 - CAST(round_even(1.0 * (COALESCE(g.g, 0) * 1e-12) * 1000.0,
                             0) AS BIGINT) AS m
  FROM cb LEFT JOIN cg1 g USING (bucket)
), cp2 AS (
  SELECT s.doc_id,
         1.0 / (1.0 + EXP(-(CAST(s.s AS DOUBLE) / 1000.0 / n.n_d))) AS p
  FROM (SELECT f.doc_id, SUM(w.m * f.tf) AS s
        FROM cfeat f JOIN cw1 w USING (bucket) GROUP BY 1) s
  JOIN cnd n USING (doc_id)
), cg2 AS (
  SELECT f.bucket,
         CAST(SUM(CAST(e.f2 AS DECIMAL(38,0)) * f.tf) AS BIGINT) AS g
  FROM cfeat f JOIN (
    SELECT p.doc_id,
           CAST(ROUND(CAST(ROUND(ROUND(p.p - y.y, 9) * 1e9, 0)
                           AS BIGINT) * 1000.0 / n.n_d, 0)
                AS BIGINT) AS f2
    FROM cp2 p JOIN cy y USING (doc_id) JOIN cnd n USING (doc_id)
  ) e USING (doc_id)
  GROUP BY 1
), cw2 AS (
  SELECT w.bucket,
         w.m - CAST(round_even(1.0 * (COALESCE(g.g, 0) * 1e-12)
                               * 1000.0, 0) AS BIGINT) AS m
  FROM cw1 w LEFT JOIN cg2 g USING (bucket)
)
SELECT * FROM (
  SELECT 'unigram' AS section, doc_id, CAST(SUM(tf) AS BIGINT) AS n_terms,
         ROUND(CAST(SUM(CAST(tf * LN(ctf / CAST(n_total AS DOUBLE))
                             AS DECIMAL(28,15))) AS DOUBLE)
               / SUM(tf), 9) AS score
  FROM tf JOIN corpus USING (token) CROSS JOIN total
  GROUP BY doc_id
  UNION ALL
  SELECT 'bigram', btf.doc_id, CAST(SUM(btf.tf) AS BIGINT),
         ROUND(CAST(SUM(CAST(btf.tf * LN(0.7 * c2.c2 / cp.ctf
                                         + 0.3 * cn.ctf
                                           / CAST(n_total AS DOUBLE))
                             AS DECIMAL(28,15))) AS DOUBLE)
               / SUM(btf.tf), 9)
  FROM btf JOIN c2 USING (prev, next)
  JOIN corpus cp ON cp.token = btf.prev
  JOIN corpus cn ON cn.token = btf.next
  CROSS JOIN total
  GROUP BY btf.doc_id
  UNION ALL
  SELECT 'classifier', doc_id, CAST(COUNT(*) AS BIGINT),
         ROUND(1.0 / (1.0 + EXP(-(CAST(SUM(CAST(m AS DECIMAL(28,15)))
                                       AS DOUBLE)
                                  / 1000.0 / COUNT(*)))), 9)
  FROM wts GROUP BY doc_id
  UNION ALL
  SELECT 'bm25', d.doc_id, CAST(COALESCE(b.n_terms, 0) AS BIGINT),
         ROUND(COALESCE(b.s, 0.0), 9)
  FROM documents d LEFT JOIN (
    WITH btoks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '(\S+)', 1))
               AS token
      FROM documents
    ), bdl AS (
      SELECT d2.doc_id, COALESCE(x.dl, 0) AS dl
      FROM documents d2 LEFT JOIN (
        SELECT doc_id, COUNT(*) AS dl FROM btoks GROUP BY 1) x
        USING (doc_id)
    ), bstats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM bdl
    ), bhits AS (
      SELECT doc_id, token FROM btoks
      WHERE token IN ('query', 'join', 'vector', 'stream')
    ), btf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM bhits GROUP BY 1, 2
    ), bdf AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM bhits GROUP BY 1
    )
    SELECT btf.doc_id, SUM(btf.tf) AS n_terms,
           CAST(SUM(CAST(
             LN(1.0 + (bstats.n_docs - bdf.df + CAST(0.5 AS DOUBLE))
                      / (bdf.df + CAST(0.5 AS DOUBLE)))
             * btf.tf * CAST(2.2 AS DOUBLE)
             / (btf.tf + CAST(1.2 AS DOUBLE)
                * (0.25 + CAST(0.75 AS DOUBLE) * bdl.dl / bstats.avgdl))
             AS DECIMAL(28,15))) AS DOUBLE) AS s
    FROM btf JOIN bdf USING (token) JOIN bdl USING (doc_id)
    CROSS JOIN bstats
    GROUP BY btf.doc_id
  ) b USING (doc_id)
UNION ALL
SELECT 'ref_lm', doc_id, n_terms, alp FROM refsc
UNION ALL
SELECT 'kn_lm', doc_id, n_terms, alp FROM knsc
UNION ALL
SELECT 'clf_train', bucket, m, m / 1000.0 FROM cw2
UNION ALL
SELECT 'ppl_buckets', doc_id,
       CAST(CASE WHEN rf < (1.0 / 3.0) THEN 0
                 WHEN rf < (2.0 / 3.0) THEN 1 ELSE 2 END AS BIGINT),
       rf
FROM (
  SELECT s.doc_id,
         ROUND(percent_rank() OVER (
           PARTITION BY d.lang
           ORDER BY s.alp DESC, s.doc_id ASC), 9) AS rf
  FROM refsc s JOIN documents d USING (doc_id)
)
UNION ALL
SELECT 'kn_ccnet', doc_id,
       CAST(CASE WHEN rf < (1.0 / 3.0) THEN 0
                 WHEN rf < (2.0 / 3.0) THEN 2 ELSE 4 END
            + CASE WHEN rf < (1.0 / 3.0) THEN 1
                   WHEN substring(md5('bkt:' || CAST(doc_id AS VARCHAR)), 1, 8)
                        < lpad(lower(hex(CAST(floor(
                            (CASE WHEN rf < (2.0 / 3.0) THEN 0.5 ELSE 0.1 END)
                            * 4294967296.0) AS BIGINT))), 8, '0')
                   THEN 1 ELSE 0 END AS BIGINT),
       rf
FROM (
  SELECT s.doc_id,
         ROUND(percent_rank() OVER (
           PARTITION BY d.lang
           ORDER BY s.alp DESC, s.doc_id ASC), 9) AS rf
  FROM knsc s JOIN documents d USING (doc_id)
)
UNION ALL
SELECT 'phrase', doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(MIN(p0) AS DOUBLE) AS score
FROM (
  SELECT a.doc_id, a.pos AS p0
  FROM (SELECT doc_id, i - 1 AS pos, t[i] AS token
        FROM toksarr, unnest(generate_series(1, len(t))) AS g(i)
        WHERE t[i] IN ('the', 'table')) a
  JOIN (SELECT doc_id, i - 1 AS pos, t[i] AS token
        FROM toksarr, unnest(generate_series(1, len(t))) AS g(i)
        WHERE t[i] IN ('the', 'table')) b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.token = 'the' AND b.token = 'table'
)
GROUP BY doc_id
) ORDER BY section, doc_id
""".replace("{HEX3}", _hexint_sql("h", 3)).replace(
    "{HEX4W}", _hexint_sql("hw", 4)).replace(
    "{HEXC3}", _hexint_sql("hc", 3))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.fingerprint(t["documents"]).orderBy("doc_id")


FINGERPRINT_ORACLE = r"""
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal column plumbing, fully hash-verified:
    JVM-side metadata (byte length + content digest) joined with the
    Arrow-batched mapInPandas decode path (sources/multimodal.py). The
    decode stub derives width/height/channels deterministically from the
    md5 digest, so the DuckDB oracle reproduces them with hex-digit
    arithmetic — the whole mapInPandas round-trip is value-checked, not
    just row-counted."""
    from lightning_metastore_spark.sources import multimodal as mm

    t = load_tables(spark, sf_dir, ("documents",))
    payloads = mm.documents_as_binary(t["documents"])
    jvm = payloads.select("id",
                          F.length("content").alias("n_bytes"),
                          F.md5("content").alias("content_md5"))
    dec = mm.decode_metadata(payloads).select("id", "width", "height",
                                              "n_channels")
    return jvm.join(dec, "id").orderBy("id")


# hex pair -> byte value, mirroring multimodal._stub_dims digest math
_HEX_BYTE = ("(strpos('0123456789abcdef', substring(content_md5, {a}, 1)) - 1)"
             " * 16 + (strpos('0123456789abcdef', substring(content_md5, {b}, 1)) - 1)")

MULTIMODAL_META_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         md5(text) AS content_md5
  FROM documents
)
SELECT id, n_bytes, content_md5,
       CAST(64 + ({_HEX_BYTE.format(a=1, b=2)}) % 192 AS INT) AS width,
       CAST(64 + ({_HEX_BYTE.format(a=3, b=4)}) % 192 AS INT) AS height,
       CAST(1 + ({_HEX_BYTE.format(a=5, b=6)}) % 4 AS INT) AS n_channels
FROM m ORDER BY id
"""


def clean_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup in the gate: every document is wrapped in
    identical header/footer lines, then remove_boilerplate_lines must
    strip exactly those (bodies are unique, df=1) — the oracle is the
    original text. Exercises explode -> line-df -> anti-join ->
    order-preserving reassembly end to end."""
    from lightning_metastore_spark.operators.cleaning import (
        remove_boilerplate_lines,
    )

    t = load_tables(spark, sf_dir, ("documents",))
    wrapped = t["documents"].select(
        "doc_id",
        F.concat(F.lit("SITE HEADER | nav | login\n"),
                 F.col("text"),
                 F.lit("\n(c) footer — all rights reserved")).alias("text"))
    return remove_boilerplate_lines(wrapped, max_df=2).orderBy("doc_id")


CLEAN_BOILERPLATE_ORACLE = """
SELECT doc_id, text FROM documents ORDER BY doc_id
"""


def sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profiling, oracle-hardened as accuracy verdicts.

    The 100 TB path is the constant-memory mergeable sketches
    (HyperLogLog++ distinct counts, approx percentiles); engine HLL
    implementations differ, so the raw estimates can't hash-match a
    DuckDB oracle. The gate therefore emits *deterministic* columns —
    exact per-type row and distinct-user counts (which DuckDB
    reproduces) — plus verdict booleans checking each sketch against
    the exact answer computed in the same query: HLL within ±5%
    (rsd=0.02 configured), approx percentiles within ±5% relative (or
    ±0.01 absolute) of the exact sort-based percentile. The exact
    aggregates exist to make sketch accuracy auditable in-query; a real
    100 TB profiling run drops them and keeps only the sketch columns."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    # two aggregations joined on the 5-row group key, NOT one combined
    # agg: mixing countDistinct with non-distinct aggregates makes
    # Catalyst plan an Expand (every input row duplicated per distinct
    # group) — measured 5x slower at sf0.1. Two clean passes shuffle
    # only per-group sketch state and join broadcast-small results.
    sketches = (ev.groupBy("event_type")
                .agg(F.approx_count_distinct("user_id", rsd=0.02)
                     .alias("approx_users"),
                     F.percentile_approx("value", [0.5, 0.95], 10000)
                     .alias("value_q"),
                     F.count(F.lit(1)).alias("n")))
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users"),
                  F.expr("percentile(value, array(0.5D, 0.95D))")
                  .alias("value_qe")))
    prof = sketches.join(exact, "event_type")

    def _close(approx, exact):
        return (F.abs(approx - exact)
                <= F.greatest(F.abs(exact) * 0.05, F.lit(0.01)))

    return (prof.select(
        "event_type", "n", "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users"))
         <= F.greatest(F.col("exact_users") * 0.05, F.lit(1.0)))
        .alias("users_ok"),
        _close(F.col("value_q")[0], F.col("value_qe")[0]).alias("p50_ok"),
        _close(F.col("value_q")[1], F.col("value_qe")[1]).alias("p95_ok"))
        .orderBy("event_type"))


SKETCH_PROFILE_ORACLE = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment + stratified downsampling
    — hash-based (md5 of the id), so assignment is stable across runs,
    clusters and engines; no RNG state to coordinate. The hex-prefix
    comparison gives train ≈ 0.797, val ≈ 0.1, test remainder; the
    per-language 'keep' flag additionally downsamples English to ~50%.
    At 100 TB this is a map-only scan."""
    t = load_tables(spark, sf_dir, ("documents",))
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    h2 = F.substring(F.md5(F.concat(F.lit("ds:"), F.col("doc_id").cast("string"))), 1, 2)
    split = (F.when(h < F.lit("cc"), "train")
             .when(h < F.lit("e6"), "val")
             .otherwise("test"))
    keep = F.when((F.col("lang") == "en") & (h2 >= F.lit("80")), False).otherwise(True)
    return (t["documents"]
            .select("doc_id", "lang", split.alias("split"), keep.alias("keep"))
            .orderBy("doc_id"))


SAMPLE_SPLIT_ORACLE = """
SELECT doc_id, lang,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       NOT (lang = 'en'
            AND substring(md5('ds:' || CAST(doc_id AS VARCHAR)), 1, 2) >= '80')
         AS keep
FROM documents ORDER BY doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup story: per near-dup cluster keep the 'best'
    document (longest text, id tiebreak) — the selection policy real
    pipelines apply after clustering."""
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    clusters = _clusters_cached(spark, docs, sf_dir)
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (docs.join(clusters, "doc_id")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", "cluster_id", "n_chars")
            .orderBy("doc_id"))


DEDUP_KEEP_BEST_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), sc AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sc sa ON sa.doc_id = a.doc_id JOIN sc sb ON sb.doc_id = b.doc_id
  GROUP BY 1, 2, sa.n, sb.n
  HAVING COUNT(*) / (sa.n + sb.n - COUNT(*)) >= 0.5
), edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL SELECT idb, ida FROM pairs
), reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
), clusters AS (
  SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src
)
SELECT doc_id, cluster_id, n_chars FROM (
  SELECT d.doc_id, c.cluster_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rk
  FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
) WHERE rk = 1
ORDER BY doc_id
"""


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the shared near-dup pair graph
    (operators/graph.py — iterated join/agg power iteration, decimal-
    summed contributions): ranks the docs that are duplicated against
    the most other documents, the 'template detector' signal a corpus
    curator runs after clustering. 3 synchronous iterations, damping
    0.85; the DuckDB oracle unrolls the identical arithmetic."""
    from lightning_metastore_spark.operators.graph import pagerank

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    pairs = _jaccard_pairs_cached(spark, docs, sf_dir)
    ranks = _cached_df(spark, sf_dir, "pagerank",
                       lambda: pagerank(pairs, src="doc_id_a",
                                        dst="doc_id_b",
                                        n_iter=3, damping=0.85))
    return (ranks
            .select(F.col("node").alias("doc_id"),
                    F.round("rank", 9).alias("score"))
            .orderBy("doc_id"))


# the same pair graph as the clusters oracle, then 3 unrolled power
# iterations mirroring operators/graph.py bit for bit: contributions
# rank/deg in doubles, DECIMAL(28,15)-cast before SUM (exact,
# order-independent), teleport (1.0-0.85)/N re-added in doubles
_PAGERANK_ITER = """
i{next} AS (
  SELECT e.dst AS node,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.c
         + CAST(0.85 AS DOUBLE)
           * CAST(SUM(CAST(p.rank / CAST(d.deg AS DOUBLE)
                           AS DECIMAL(28,15))) AS DOUBLE) AS rank
  FROM edges e JOIN i{prev} p ON p.node = e.src
  JOIN deg d ON d.node = e.src CROSS JOIN n
  GROUP BY e.dst, n.c
)"""

DEDUP_PAGERANK_ORACLE = (r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), sc AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sc sa ON sa.doc_id = a.doc_id JOIN sc sb ON sb.doc_id = b.doc_id
  GROUP BY 1, 2, sa.n, sb.n
  HAVING COUNT(*) / (sa.n + sb.n - COUNT(*)) >= 0.5
), edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION SELECT idb, ida FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), n AS (SELECT COUNT(*) AS c FROM nodes
), deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1
), i0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / n.c AS rank FROM nodes CROSS JOIN n
),"""
    + _PAGERANK_ITER.format(prev=0, next=1) + ","
    + _PAGERANK_ITER.format(prev=1, next=2) + ","
    + _PAGERANK_ITER.format(prev=2, next=3) + """
SELECT node AS doc_id, ROUND(rank, 9) AS score FROM i3 ORDER BY doc_id
""")


def dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the shared
    near-dup pair graph (operators/graph.py::triangle_counts) — the
    cohesion probe separating template families (near-cliques) from
    chance-collision stars."""
    from lightning_metastore_spark.operators.graph import triangle_counts

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    pairs = _jaccard_pairs_cached(spark, docs, sf_dir)
    return (triangle_counts(pairs, src="doc_id_a", dst="doc_id_b")
            .select(F.col("node").alias("doc_id"), "degree",
                    "n_triangles", "clustering")
            .orderBy("doc_id"))


DEDUP_TRIANGLES_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), sc AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN sc sa ON sa.doc_id = a.doc_id JOIN sc sb ON sb.doc_id = b.doc_id
  GROUP BY 1, 2, sa.n, sb.n
  HAVING COUNT(*) / (sa.n + sb.n - COUNT(*)) >= 0.5
), edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION SELECT idb, ida FROM pairs
), lo AS (
  SELECT src, dst FROM edges WHERE src < dst
), tri AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM lo ab JOIN lo bc ON bc.src = ab.dst
  JOIN lo ac ON ac.src = ab.src AND ac.dst = bc.dst
), pn AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
), deg AS (
  SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY 1
)
SELECT node AS doc_id, degree,
       COALESCE(n_triangles, 0) AS n_triangles,
       CASE WHEN degree >= 2
            THEN ROUND(CAST(2.0 AS DOUBLE) * COALESCE(n_triangles, 0)
                       / (degree * (degree - 1)), 6) END AS clustering
FROM deg LEFT JOIN pn USING (node)
ORDER BY doc_id
"""


def dedup_cluster_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels, per-cluster best-doc selection, pair-graph
    PageRank AND triangle/clustering-coefficient stats in one melted
    tagged-union slot (50-slot registry discipline) — all four walk the
    shared cached pair graph."""
    parts = [
        _melt(dedup_clusters(spark, sf_dir), "labels", "doc_id",
              ["cluster_id"]),
        _melt(dedup_keep_best(spark, sf_dir), "keep_best", "doc_id",
              ["cluster_id", "n_chars"]),
        _melt(dedup_pagerank(spark, sf_dir), "pagerank", "doc_id",
              ["score"]),
        _melt(dedup_triangles(spark, sf_dir), "triangles", "doc_id",
              ["degree", "n_triangles", "clustering"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "row_key", "metric")


DEDUP_CLUSTER_SUITE_ORACLE = (
    "SELECT * FROM ("
    + _melt_sql(DEDUP_CLUSTERS_ORACLE, "labels", "doc_id", ["cluster_id"])
    + " UNION ALL "
    + _melt_sql(DEDUP_KEEP_BEST_ORACLE, "keep_best", "doc_id",
                ["cluster_id", "n_chars"])
    + " UNION ALL "
    + _melt_sql(DEDUP_PAGERANK_ORACLE, "pagerank", "doc_id", ["score"])
    + " UNION ALL "
    + _melt_sql(DEDUP_TRIANGLES_ORACLE, "triangles", "doc_id",
                ["degree", "n_triangles", "clustering"])
    + ") ORDER BY section, row_key, metric"
)


# --- streaming (batch-equivalence through the gate) ------------------------

def _stream_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Volume-derived shuffle/state partition count for the streaming
    gate queries. Structured Streaming pins state partitioning to
    `spark.sql.shuffle.partitions` at the first batch (AQE never
    coalesces stateful streaming exchanges), so leaving it at the
    session default (= core count) makes micro-batches of KB-scale
    input pay one state-store commit PER CORE per stateful operator
    per batch — overhead that scales WITH cores (r17 driver scaling:
    stream_events ran 3.5x faster at 8 cores than 32). Derive the
    count from input volume at ~128 MB of input per state partition,
    with a cap of 4x cores so state parallelism still scales with the
    cluster: at 100 TB the volume term saturates the cap (partitions =
    4x cores, the production setting); at gate/test scale it is 1 —
    constant state machinery regardless of the local core count."""
    import math
    import os as _os

    cpus = int(_os.environ.get("SPARK_GRAFT_CPUS", "32"))
    vol = max(1, math.ceil(input_bytes / (128 << 20)))
    return min(vol, 4 * cpus)


from contextlib import contextmanager as _contextmanager  # noqa: E402


@_contextmanager
def _stream_conf(spark: SparkSession, n_partitions: int):
    """Hold spark.sql.shuffle.partitions = n_partitions while streaming
    queries START (the value is captured into each query's checkpoint at
    first batch); restore the session default afterwards so the batch
    tail of the query — and every later query — plans unchanged."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _hourly_stream(spark: SparkSession, sf_dir: str):
    """Build (unstarted) the windowed-agg stream and its sink name."""
    import os
    import tempfile
    import shutil

    from lightning_metastore_spark.streaming import events as sev

    d = tempfile.mkdtemp(prefix="lightning-stream-")
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(d, "events.parquet"))
    stream = sev.read_event_stream(spark, d)
    agg = sev.windowed_event_counts(stream, window="1 hour")
    return agg, "gate_stream_hourly"


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed aggregation drained to completion;
    the oracle is the BATCH SQL — passing proves the incremental
    computation converges to the batch answer."""
    import os

    from lightning_metastore_spark.streaming import events as sev

    agg, name = _hourly_stream(spark, sf_dir)
    ev_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    # complete mode: the memory sink holds exactly the final aggregation
    # state (update mode would append one row per key per trigger)
    with _stream_conf(spark, _stream_partitions(spark, ev_bytes)):
        sev.run_to_memory(agg, name, output_mode="complete")
    return spark.sql(f"""
        SELECT window_start, event_type, n_events, sum_value
        FROM {name} ORDER BY window_start, event_type
    """)


STREAM_HOURLY_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation flow (clean -> quality -> lang ->
    exact dedup -> near-dup cluster keep-best -> split) over the driver
    corpus, hash-checked row-for-row against a fully composed DuckDB
    oracle (every stage's SQL twin chained into one statement).

    The gate uses ``use_minhash=False`` (exact n-gram Jaccard pairs) so
    the near-dup stage is *structurally* SQL-expressible rather than
    relying on LSH banding having no false negatives at this SF; the
    minhash variant's equality to the exact pairs is separately asserted
    by the ``dedup_minhash_lsh`` gate and tests/test_pipeline.py."""
    from lightning_metastore_spark.operators.pipeline import (
        CurationConfig,
        curate_corpus,
    )

    t = load_tables(spark, sf_dir, ("documents",))
    cfg = CurationConfig(min_quality=0.0, use_minhash=False)
    return curate_corpus(t["documents"], cfg).orderBy("doc_id")


# Every stage of curate_corpus, composed into one DuckDB statement:
# line-df boilerplate removal -> quality score on the CLEANED text ->
# lang-id -> md5-fingerprint exact dedup (min doc_id survives) ->
# exact 3-gram Jaccard pairs over survivors -> recursive-CTE connected
# components (min label) -> keep-best (longest cleaned text, id
# tiebreak) -> md5-prefix split. Mirrors operators/pipeline.py stage
# for stage; the stage SQL twins are the same ones the standalone
# gates (clean_boilerplate, text_quality, text_lang_id, dedup_exact,
# dedup_ngram_jaccard, dedup_keep_best, sample_split_assign) verify.
CURATION_ORACLE = r"""
WITH RECURSIVE
lns AS (
  SELECT doc_id, i AS pos, ls[i] AS line,
         md5(lower(regexp_replace(trim(ls[i]), '\s+', ' ', 'g'))) AS k
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
       unnest(generate_series(1, len(ls))) AS g(i)
),
freq AS (
  SELECT k FROM lns GROUP BY k HAVING COUNT(DISTINCT doc_id) > 2
),
cleaned AS (
  SELECT d.doc_id, COALESCE(r.text, '') AS text
  FROM documents d LEFT JOIN (
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM lns WHERE k NOT IN (SELECT k FROM freq)
    GROUP BY doc_id
  ) r ON r.doc_id = d.doc_id
),
qf AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         len(string_split_regex(lower(text), '\s+')) AS n_tokens,
         len(list_filter(string_split_regex(lower(text), '\s+'),
             x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop,
         len(regexp_extract_all(text, '([^\w\s])', 1)) AS n_punct,
         len(list_distinct(string_split_regex(lower(text), '\s+'))) AS n_distinct
  FROM cleaned
),
qs AS (
  SELECT doc_id,
         ROUND(0.35 * LEAST(n_tokens / 100.0, 1.0)
               + 0.25 * (n_distinct / n_tokens)
               + 0.25 * LEAST((n_stop / n_tokens) * 4, 1.0)
               + 0.15 * (1.0 - LEAST((n_punct / GREATEST(n_chars, 1)) * 10, 1.0)), 6)
           AS quality_score
  FROM qf
),
lm AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en_c,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['der','die','das','und','ist','nicht','ein'], x))) AS de_c,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['le','la','les','et','est','une','dans'], x))) AS fr_c,
    len(list_filter(string_split_regex(lower(text), '\s+'),
        x -> list_contains(['el','los','las','y','es','una','que'], x))) AS es_c,
    len(regexp_extract_all(text, '([一-鿿])', 1)) AS cjk
  FROM cleaned
),
lng AS (
  SELECT doc_id,
         CASE WHEN cjk > 0 THEN 'zh'
              WHEN GREATEST(en_c, de_c, fr_c, es_c) = 0 THEN 'und'
              WHEN en_c = GREATEST(en_c, de_c, fr_c, es_c) THEN 'en'
              WHEN de_c = GREATEST(en_c, de_c, fr_c, es_c) THEN 'de'
              WHEN fr_c = GREATEST(en_c, de_c, fr_c, es_c) THEN 'fr'
              ELSE 'es' END AS pred_lang
  FROM lm
),
fps AS (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
  FROM cleaned
),
ek AS (SELECT fp, MIN(doc_id) AS keep_id FROM fps GROUP BY fp),
ex AS (
  SELECT f.doc_id, f.doc_id = k.keep_id AS exact_survivor
  FROM fps f JOIN ek k USING (fp)
),
surv AS (
  SELECT c.doc_id, c.text FROM cleaned c
  JOIN ex ON ex.doc_id = c.doc_id AND ex.exact_survivor
),
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM surv
),
sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
),
sc AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ida, idb FROM inter
  JOIN sc sa ON sa.doc_id = ida JOIN sc sb ON sb.doc_id = idb
  WHERE c / (sa.n + sb.n - c) >= 0.5
),
edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL SELECT idb, ida FROM pairs
),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
best AS (
  SELECT doc_id, cluster_id, rk = 1 AS cluster_survivor FROM (
    SELECT s.doc_id, c.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                              ORDER BY LENGTH(s.text) DESC, s.doc_id) AS rk
    FROM surv s JOIN clusters c ON c.doc_id = s.doc_id)
)
SELECT c.doc_id, c.text, qs.quality_score, lng.pred_lang,
       COALESCE(b.cluster_id, c.doc_id) AS cluster_id,
       CASE WHEN substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       (ex.exact_survivor AND COALESCE(b.cluster_survivor, FALSE)) AS keep,
       CASE WHEN NOT ex.exact_survivor THEN 'exact_duplicate'
            WHEN NOT COALESCE(b.cluster_survivor, FALSE) THEN 'near_duplicate'
            ELSE NULL END AS drop_reason
FROM cleaned c
JOIN qs USING (doc_id)
JOIN lng USING (doc_id)
JOIN ex USING (doc_id)
LEFT JOIN best b USING (doc_id)
ORDER BY c.doc_id
"""


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both Structured Streaming paths in one hash-checked gate entry:
    the windowed aggregation (full per-hour granularity) LEFT-JOINED with
    the watermarked streaming dedup's per-type unique counts. Passing
    proves (a) the incremental windowed agg converges to the batch
    answer row-for-row and (b) dropDuplicates over an at-least-once
    (duplicated) stream equals batch COUNT(DISTINCT).

    The two streams are independent, so both queries start before either
    drains: their micro-batch work interleaves on the scheduler and wall
    time is the max of the two, not the sum."""
    import os

    from lightning_metastore_spark.streaming import events as sev

    agg, hourly_name = _hourly_stream(spark, sf_dir)
    ded, dedup_name = _dedup_stream(spark, sf_dir)
    # stream inputs are copies of events.parquet (1x hourly + 2x dedup);
    # size the state partitioning to that volume, not to the core count
    ev_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    with _stream_conf(spark, _stream_partitions(spark, 3 * ev_bytes)):
        queries = [sev.start_memory_stream(agg, hourly_name, "complete"),
                   sev.start_memory_stream(ded, dedup_name, "complete")]
        for q in queries:
            q.processAllAvailable()
    for q in queries:
        q.stop()
    hourly = spark.sql(f"""
        SELECT window_start, event_type, n_events, sum_value
        FROM {hourly_name} ORDER BY window_start, event_type
    """)
    deduped = spark.sql(f"SELECT event_type, n_unique FROM {dedup_name} "
                        f"ORDER BY event_type")
    return (hourly.join(deduped, "event_type", "left")
            .select("window_start", "event_type", "n_events", "sum_value",
                    "n_unique")
            .orderBy("window_start", "event_type"))


STREAM_EVENTS_ORACLE = """
WITH h AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
  FROM events GROUP BY 1, 2
), u AS (
  SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
  FROM events GROUP BY 1
)
SELECT window_start, event_type, n_events, sum_value, n_unique
FROM h LEFT JOIN u USING (event_type)
ORDER BY window_start, event_type
"""


def _dedup_stream(spark: SparkSession, sf_dir: str):
    """Build (unstarted) the dedup-count stream and its sink name."""
    import os
    import shutil
    import tempfile

    from lightning_metastore_spark.streaming import events as sev

    d = tempfile.mkdtemp(prefix="lightning-dupstream-")
    # two copies of the same file = at-least-once delivery simulation
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(d, "events_a.parquet"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(d, "events_b.parquet"))
    stream = sev.read_event_stream(spark, d)
    deduped = (stream
               .withWatermark("ts", "1 hour")
               .dropDuplicates(["event_id"])
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_unique")))
    return deduped, "gate_stream_dedup"


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: watermarked dropDuplicates on event_id
    over a duplicated input stream (every event fed twice); the oracle
    is the batch distinct — exactly-once semantics through the gate."""
    from lightning_metastore_spark.streaming import events as sev

    deduped, name = _dedup_stream(spark, sf_dir)
    sev.run_to_memory(deduped, name, output_mode="complete")
    return spark.sql(f"SELECT event_type, n_unique FROM {name} "
                     f"ORDER BY event_type")


STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- temporal joins (operators/temporal.py) --------------------------------

def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution: each click event gains the latest
    prior purchase value for its user — the as-of join Spark SQL lacks,
    expressed as ONE shuffle (union + keyed forward-fill). Oracle:
    DuckDB's native ASOF LEFT JOIN, an independent implementation of
    the same semantics. The right side is pre-deduplicated per
    (user, ts) so tie order can't differ between engines."""
    from lightning_metastore_spark.operators.temporal import asof_join

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.round(F.max("value"), 6).alias("pvalue")))
    out = asof_join(clicks, purchases, ts_col="ts", by=["user_id"],
                    value_cols=["pvalue"], suffix="_asof")
    return (out.select("event_id", "user_id", "ts",
                       F.col("pvalue_asof"))
            .orderBy("event_id"))


TEMPORAL_ASOF_ORACLE = """
WITH c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, ts, ROUND(MAX(value), 6) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
       p.pvalue AS pvalue_asof
FROM c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND p.ts <= c.ts
ORDER BY c.event_id
"""


def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval attribution: purchases within 1 hour AFTER a view by
    the same user, aggregated per user. The bucketed range join runs
    as a keyed hash join on (user, time-bucket) with the BETWEEN as a
    residual — not the broadcast-nested-loop Spark plans for a bare
    range predicate. Oracle: DuckDB's IEJoin on the plain BETWEEN."""
    from lightning_metastore_spark.operators.temporal import range_join

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", F.col("event_id").alias("view_id"),
                     F.col("ts").cast("double").alias("v_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("ts").cast("double").alias("p_ts"),
                         "value"))
    pairs = range_join(views, purchases, "v_ts", "p_ts",
                       lo=0.0, hi=3600.0, by=["user_id"])
    return (pairs.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 (F.sum(F.round(F.col("value") * 100).cast("bigint"))
                  .cast("double") / 100).alias("sum_purchases"))
            .orderBy("user_id"))


TEMPORAL_RANGE_ORACLE = """
WITH v AS (
  SELECT user_id, event_id AS view_id, ts FROM events
  WHERE event_type = 'view'
), p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, COUNT(*) AS n_pairs,
       CAST(SUM(CAST(ROUND(p.value * 100) AS BIGINT)) AS DOUBLE) / 100
         AS sum_purchases
FROM v JOIN p ON p.user_id = v.user_id
  AND p.ts BETWEEN v.ts AND v.ts + INTERVAL 1 HOUR
GROUP BY v.user_id
ORDER BY v.user_id
"""


def temporal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (hour/day/week) in one
    pass via GROUPING SETS — the TimescaleDB continuous-aggregate query
    shape — PLUS a zero-filled hourly calendar section
    (gap_filled_hourly). The gate runs the sequence() calendar — the
    constant-depth scale path (the WITH RECURSIVE variant costs one
    iteration per hour: a measured 0.7s -> 4.4s regression at sf0.1 and
    a linear-depth smell at any scale); Spark's recursive CTE surface is
    exercised and equality-asserted in tests/test_temporal.py. Oracle:
    stacked DuckDB aggregates + a recursive-CTE calendar."""
    from lightning_metastore_spark.operators.temporal import (
        funnel_counts,
        gap_filled_hourly,
        hypertable_rollup,
        retention_cohorts,
        rolling_active_users,
        rolling_zscore,
        sessionize,
    )

    t = load_tables(spark, sf_dir, ("events",))
    rollup = hypertable_rollup(t["events"], ts_col="ts",
                               key_col="event_type", value_col="value",
                               resolutions=("hour", "day", "week"))
    fill = (gap_filled_hourly(t["events"], method="sequence")
            .select(F.lit("hour_fill").alias("resolution"),
                    "bucket_start", F.lit("(all)").alias("key"),
                    "n", "sum_value"))
    z = (rolling_zscore(t["events"], trailing=24, min_periods=12)
         .select(F.lit("hour_z").alias("resolution"), "bucket_start",
                 "key", F.col("n").cast("long").alias("n"),
                 F.col("zscore").alias("sum_value")))
    fun = (funnel_counts(t["events"], stages=("view", "click", "purchase"))
           .select(F.lit("funnel").alias("resolution"),
                   F.lit(None).cast("timestamp").alias("bucket_start"),
                   F.concat(F.col("stage_idx").cast("string"), F.lit(":"),
                            F.col("stage")).alias("key"),
                   F.col("n_users").alias("n"),
                   F.col("conversion").alias("sum_value")))
    wau = (rolling_active_users(t["events"], window_days=7)
           .select(F.lit("wau").alias("resolution"),
                   F.col("day").alias("bucket_start"),
                   F.lit("(all)").alias("key"),
                   F.col("n_active").alias("n"),
                   F.lit(None).cast("double").alias("sum_value")))
    ret = (retention_cohorts(t["events"], max_offset_days=7)
           .select(F.lit("retention").alias("resolution"),
                   F.col("cohort_day").alias("bucket_start"),
                   F.concat(F.lit("d"), F.col("offset_days").cast("string"))
                   .alias("key"),
                   F.col("n_active").alias("n"),
                   F.col("retention").alias("sum_value")))
    # session duration is an exact integer-microsecond difference over
    # 1e6 — both engines compute the identical IEEE division, so no
    # rounding is needed (or wanted) for the hash check
    ses = (sessionize(t["events"], gap_minutes=30)
           .select(F.lit("session").alias("resolution"),
                   F.col("session_start").alias("bucket_start"),
                   F.concat(F.col("user_id").cast("string"), F.lit(":"),
                            F.col("session_id").cast("string"))
                   .alias("key"),
                   F.col("n_events").alias("n"),
                   ((F.unix_micros("session_end")
                     - F.unix_micros("session_start"))
                    / F.lit(1000000.0)).alias("sum_value")))
    return (rollup.unionByName(fill).unionByName(z).unionByName(fun)
            .unionByName(wau).unionByName(ret).unionByName(ses)
            .orderBy("resolution", "bucket_start", "key"))


TEMPORAL_ROLLUP_ORACLE = """
SELECT * FROM (
  SELECT 'hour' AS resolution,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
         event_type AS key, COUNT(value) AS n,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
           AS sum_value
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'day', CAST(date_trunc('day', ts) AS TIMESTAMP), event_type,
         COUNT(value),
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'week', CAST(date_trunc('week', ts) AS TIMESTAMP), event_type,
         COUNT(value),
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'hour_fill', h, '(all)',
         COALESCE(a.n, 0), COALESCE(a.sv, CAST(0.0 AS DOUBLE))
  FROM (WITH RECURSIVE cal(h, hi) AS (
          SELECT CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP),
                 CAST(date_trunc('hour', MAX(ts)) AS TIMESTAMP)
          FROM events
          UNION ALL
          SELECT h + INTERVAL 1 HOUR, hi FROM cal WHERE h < hi
        ) SELECT h FROM cal) c
  LEFT JOIN (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bh,
                    COUNT(value) AS n,
                    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
                      / 100 AS sv
             FROM events GROUP BY 1) a ON a.bh = c.h
  UNION ALL
  SELECT 'hour_z', bucket_start, key, n,
         CASE WHEN t_n >= 12 AND t_n * t_sumsq - t_sum * t_sum > 0
              THEN ROUND((n - CAST(t_sum AS DOUBLE) / t_n)
                         / SQRT(CAST(t_n * t_sumsq - t_sum * t_sum AS DOUBLE)
                                / CAST(t_n * t_n AS DOUBLE)), 6)
         END
  FROM (
    SELECT key, bucket_start, n,
           COUNT(n) OVER tw AS t_n,
           SUM(n) OVER tw AS t_sum,
           SUM(n * n) OVER tw AS t_sumsq
    FROM (SELECT event_type AS key,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2)
    WINDOW tw AS (PARTITION BY key ORDER BY bucket_start
                  ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
  )
  UNION ALL
  SELECT 'funnel', CAST(NULL AS TIMESTAMP), fk, n_users,
         ROUND(CAST(n_users AS DOUBLE) / GREATEST(n0, 1), 6)
  FROM (
    WITH f0 AS (
      SELECT user_id AS u, MIN(ts) AS tk FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), f1 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS tk
      FROM events e JOIN f0 ON f0.u = e.user_id
      WHERE e.event_type = 'click' AND e.ts > f0.tk GROUP BY 1
    ), f2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS tk
      FROM events e JOIN f1 ON f1.u = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > f1.tk GROUP BY 1
    ), n0t AS (SELECT COUNT(*) AS n0 FROM f0)
    SELECT '1:view' AS fk, (SELECT COUNT(*) FROM f0) AS n_users, n0 FROM n0t
    UNION ALL
    SELECT '2:click', (SELECT COUNT(*) FROM f1), n0 FROM n0t
    UNION ALL
    SELECT '3:purchase', (SELECT COUNT(*) FROM f2), n0 FROM n0t
  )
  UNION ALL
  SELECT 'wau', w, '(all)', n_active, CAST(NULL AS DOUBLE)
  FROM (
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events
    ), serves AS (
      SELECT u, d + to_days(CAST(i AS INT)) AS w
      FROM ud, unnest(generate_series(0, 6)) AS g(i)
    )
    SELECT w, CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active
    FROM serves
    WHERE w <= (SELECT MAX(d) FROM ud)
    GROUP BY w
  )
  UNION ALL
  SELECT 'session', MIN(ts),
         CAST(user_id AS VARCHAR) || ':' || CAST(sid AS VARCHAR),
         COUNT(*), (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0
  FROM (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM (SELECT user_id, ts,
                 CASE WHEN prev IS NULL
                       OR epoch_us(ts) - prev > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM (SELECT user_id, ts,
                       LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts) AS prev
                FROM events))
  ) GROUP BY user_id, sid
  UNION ALL
  SELECT 'retention', cohort, 'd' || CAST(offset_days AS VARCHAR),
         n_active, ROUND(CAST(n_active AS DOUBLE) / cohort_size, 6)
  FROM (
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
      FROM events
    ), firsts AS (
      SELECT u, MIN(d) AS cohort FROM ud GROUP BY 1
    ), act AS (
      SELECT f.cohort, date_diff('day', f.cohort, ud.d) AS offset_days,
             ud.u
      FROM ud JOIN firsts f ON f.u = ud.u
      WHERE date_diff('day', f.cohort, ud.d) <= 7
    ), ret AS (
      SELECT cohort, offset_days,
             CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active
      FROM act GROUP BY 1, 2
    ), sizes AS (
      SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY 1
    )
    SELECT r.cohort, r.offset_days, r.n_active, s.cohort_size
    FROM ret r JOIN sizes s USING (cohort)
  )
)
ORDER BY resolution, bucket_start, key
"""


# --- DQ checks -------------------------------------------------------------

def dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three DQ check kinds (PK single-pass, FK left-anti, custom
    boolean expression) as one 3-row hash-checked gate entry — they
    share the (dq_name, table_name, check_type, total, valid, invalid)
    result contract, so a tagged union covers the family."""
    return (dq_pk_orders(spark, sf_dir)
            .unionByName(dq_fk_lineitem_orders(spark, sf_dir))
            .unionByName(dq_custom_discount(spark, sf_dir))
            .orderBy("dq_name"))


def dq_pk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders",))
    return dq.pk_check(t["orders"], ["o_orderkey"], "pk_orders", "orders")


DQ_PK_ORACLE = """
SELECT 'pk_orders' AS dq_name, 'orders' AS table_name,
       'Primary Key Constraint' AS check_type,
       CAST(SUM(cnt) AS BIGINT) AS total,
       CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS valid,
       CAST(SUM(cnt) - SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS invalid
FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders
      WHERE o_orderkey IS NOT NULL GROUP BY 1)
"""


def dq_fk_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    return dq.fk_check(t["lineitem"], ["l_orderkey"], t["orders"],
                       ["o_orderkey"], "fk_lineitem_orders", "lineitem")


DQ_FK_ORACLE = """
SELECT 'fk_lineitem_orders' AS dq_name, 'lineitem' AS table_name,
       'Foreign Key Constraint' AS check_type,
       (SELECT COUNT(*) FROM lineitem) AS total,
       (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS valid,
       (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS invalid
"""


def dq_custom_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("lineitem",))
    return dq.custom_check(t["lineitem"],
                           "l_discount >= 0 AND l_discount <= 0.5 AND l_quantity > 0",
                           "discount_range", "lineitem")


DQ_CUSTOM_ORACLE = """
SELECT 'discount_range' AS dq_name, 'lineitem' AS table_name,
       'Custom Data Quality' AS check_type,
       COUNT(*) AS total,
       CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.5 AND l_quantity > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS valid,
       COUNT(*) - CAST(SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.5 AND l_quantity > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS invalid
FROM lineitem
"""


DQ_SUITE_ORACLE = (
    "SELECT * FROM (" + DQ_PK_ORACLE + ") "
    "UNION ALL SELECT * FROM (" + DQ_FK_ORACLE + ") "
    "UNION ALL SELECT * FROM (" + DQ_CUSTOM_ORACLE + ") "
    "ORDER BY dq_name"
)


# --- round-6 additions: repetition / contamination / mixture / histogram ---


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-word character
    fraction, top/duplicate 2-gram coverage, in-doc word entropy and the
    composite reject flag (functions/text.py::repetition_features)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.repetition_features(t["documents"]).orderBy("doc_id")


def text_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning (Raffel et al. 2020 §2.2 —
    operators/cleaning.c4_line_clean): kept-line text md5 plus the
    line/sentence counts and the page keep decision."""
    from lightning_metastore_spark.operators.cleaning import c4_line_clean

    t = load_tables(spark, sf_dir, ("documents",))
    out = c4_line_clean(t["documents"], min_line_words=3)
    return (out.select(
        "doc_id", "n_lines", "n_lines_kept", "n_sentences", "c4_keep",
        F.md5(F.col("text")).alias("clean_md5"))
        .orderBy("doc_id"))


TEXT_C4_ORACLE = r"""
WITH g AS (
  SELECT doc_id,
         string_split(COALESCE(text, ''), chr(10)) AS lines,
         list_filter(string_split(COALESCE(text, ''), chr(10)),
             x -> regexp_matches(trim(x), '[.!?"]$')
                  AND len(list_filter(string_split_regex(trim(x), '\s+'),
                          w -> w <> '')) >= 3
                  AND NOT contains(lower(x), 'javascript')) AS kept,
         contains(lower(COALESCE(text, '')), 'lorem ipsum') AS lorem,
         contains(COALESCE(text, ''), '{') AS brace
  FROM documents
), s AS (
  SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_lines_kept,
         COALESCE(array_to_string(kept, chr(10)), '') AS text_kept,
         lorem, brace
  FROM g
)
SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
       CAST(n_lines_kept AS INT) AS n_lines_kept,
       CAST(len(regexp_extract_all(text_kept, '([.!?])', 1)) AS INT)
         AS n_sentences,
       (len(regexp_extract_all(text_kept, '([.!?])', 1)) >= 3
        AND NOT lorem AND NOT brace) AS c4_keep,
       md5(text_kept) AS clean_md5
FROM s ORDER BY doc_id
"""


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document quality rules (Rae et al. 2021 App. A1.1) —
    word-count bounds, mean word length, symbol ratio, bullet/ellipsis
    line fractions, alphabetic-word fraction, stop-word presence and
    the composite keep (functions/text.py::gopher_quality_rules)."""
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.gopher_quality_rules(t["documents"]).orderBy("doc_id")


TEXT_GOPHER_ORACLE = r"""
WITH g AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(COALESCE(text, '')), '\s+'),
                     x -> x <> '') AS words,
         string_split(COALESCE(text, ''), chr(10)) AS lines,
         len(regexp_extract_all(COALESCE(text, ''), '(#|\.\.\.|…)', 1))
           AS n_symbols
  FROM documents
), s AS (
  SELECT doc_id,
         len(words) AS n_words,
         GREATEST(len(words), 1) AS nw,
         COALESCE(list_sum(list_transform(words, x -> length(x))), 0)
           AS sum_len,
         n_symbols,
         GREATEST(len(lines), 1) AS n_lines,
         len(list_filter(lines,
             x -> regexp_matches(x, '^\s*[•‣▪\-\*]'))) AS n_bullet,
         len(list_filter(lines,
             x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS n_ellipsis,
         len(list_filter(words,
             x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(words),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM g
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       ROUND(sum_len / nw, 6) AS mean_word_len,
       ROUND(n_symbols / nw, 6) AS symbol_word_ratio,
       ROUND(n_bullet / n_lines, 6) AS bullet_line_frac,
       ROUND(n_ellipsis / n_lines, 6) AS ellipsis_line_frac,
       ROUND(n_alpha / nw, 6) AS alpha_word_frac,
       CAST(n_stop AS INT) AS n_stop_present,
       (n_words >= 50 AND n_words <= 100000
        AND sum_len / nw >= CAST(3.0 AS DOUBLE)
        AND sum_len / nw <= CAST(10.0 AS DOUBLE)
        AND n_symbols / nw < CAST(0.1 AS DOUBLE)
        AND n_bullet / n_lines < CAST(0.9 AS DOUBLE)
        AND n_ellipsis / n_lines < CAST(0.3 AS DOUBLE)
        AND n_alpha / nw > CAST(0.8 AS DOUBLE)
        AND n_stop >= 2) AS gopher_keep
FROM s ORDER BY doc_id
"""


TEXT_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, LENGTH(text) AS n_chars,
         string_split_regex(lower(text), '\s+') AS t
  FROM documents
), wc AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM toks, unnest(t) AS u(w) GROUP BY 1, 2
), wstats AS (
  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct_words,
         SUM(c * LENGTH(w)) AS wchars,
         SUM(CASE WHEN c > 1 THEN c * LENGTH(w) ELSE 0 END) AS dup_wchars,
         SUM(CAST(c * ln(c) AS DECIMAL(28,15))) AS clnc
  FROM wc GROUP BY 1
), grams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
), gc AS (
  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
), gstats AS (
  SELECT doc_id,
         MAX(CASE WHEN c > 1 THEN c * LENGTH(g) ELSE 0 END) AS top_gchars,
         SUM(c * LENGTH(g)) AS gchars,
         SUM(CASE WHEN c > 1 THEN c * LENGTH(g) ELSE 0 END) AS dup_gchars
  FROM gc GROUP BY 1
)
SELECT toks.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       ROUND(n_distinct_words / n_words, 6) AS distinct_word_ratio,
       ROUND(dup_wchars / wchars, 6) AS dup_word_char_frac,
       ROUND(COALESCE(top_gchars / n_chars, CAST(0.0 AS DOUBLE)), 6)
         AS top_2gram_char_frac,
       ROUND(COALESCE(dup_gchars / gchars, CAST(0.0 AS DOUBLE)), 6)
         AS dup_2gram_char_frac,
       ROUND(ln(n_words) - CAST(clnc AS DOUBLE) / n_words, 6) AS word_entropy,
       (COALESCE(dup_gchars / gchars, CAST(0.0 AS DOUBLE)) > 0.4
        OR COALESCE(top_gchars / n_chars, CAST(0.0 AS DOUBLE)) > 0.06
        OR n_distinct_words / n_words < 0.3) AS is_repetitive
FROM toks
JOIN wstats ON wstats.doc_id = toks.doc_id
LEFT JOIN gstats ON gstats.doc_id = toks.doc_id
ORDER BY toks.doc_id
"""


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 25th document plays the eval
    benchmark; the rest of the corpus is scored for 3-gram overlap
    against it (operators/contamination.py — broadcast membership join).
    Both sides' shingles come from the persisted corpus relation,
    filtered by the train/bench predicate — no re-tokenization.

    GATE-SCALE CONSTRUCTION ONLY: this gate carves the benchmark out of
    the corpus as a 1/25 fraction for oracle convenience. The operator's
    broadcast design assumes an eval-suite-sized benchmark (fixed small
    doc count — thousands of docs, MBs of shingles); at the documented
    100 TB shape a corpus-fraction benchmark would NOT be broadcastable.
    Real deployments pass an actual benchmark table, never a fraction."""
    from lightning_metastore_spark.operators.contamination import (
        contamination_overlap)

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    sh = _shingles_cached(spark, docs, sf_dir)
    return (contamination_overlap(
        train, bench, n=3, flag_threshold=0.5,
        sh_train=sh.filter(F.col("doc_id") % 25 != 0),
        sh_bench=sh.filter(F.col("doc_id") % 25 == 0))
        .orderBy("doc_id"))


CONTAMINATION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 25 = 0
), train AS (
  SELECT * FROM sh WHERE doc_id % 25 <> 0
), hits AS (
  SELECT t.doc_id, COUNT(*) AS n_contaminated
  FROM train t JOIN bench b ON t.shingle = b.shingle GROUP BY 1
), counts AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1
)
SELECT c.doc_id, CAST(c.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       ROUND(COALESCE(h.n_contaminated, 0) / c.n_shingles, 6) AS contam_frac,
       COALESCE(h.n_contaminated, 0) / c.n_shingles >= 0.5 AS is_contaminated
FROM counts c LEFT JOIN hits h ON h.doc_id = c.doc_id
ORDER BY c.doc_id
"""


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication fractions (5-token
    spans, Lee-et-al exact-substring dedup signal —
    operators/dedup.py::corpus_dup_spans)."""
    t = load_tables(spark, sf_dir, ("documents",))
    sp = _span_hashes_cached(spark, t["documents"], sf_dir)
    return (dedup.corpus_dup_spans(t["documents"], k=5, sp=sp)
            .orderBy("doc_id"))


DUP_SPANS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sp AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4]
              ELSE array_to_string(t, ' ') END AS g
  FROM toks, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS s(i)
), occ AS (
  SELECT g, COUNT(*) AS occ FROM sp GROUP BY 1
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       ROUND(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS dup_span_frac
FROM sp JOIN occ USING (g)
GROUP BY doc_id ORDER BY doc_id
"""


_MIXTURE_WEIGHTS = {"en": 0.3, "de": 0.1, "fr": 0.3, "es": 0.15, "zh": 0.15}


def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture resampling to a target weight vector, hash-thinned
    deterministically (operators/sampling.py::mixture_resample). The fr
    weight intentionally exceeds its corpus share so the rate cap (1.0)
    path is exercised."""
    from lightning_metastore_spark.operators.sampling import mixture_resample

    t = load_tables(spark, sf_dir, ("documents",))
    return (mixture_resample(t["documents"], _MIXTURE_WEIGHTS,
                             target_frac=0.6)
            .orderBy("doc_id"))


DOMAIN_MIXTURE_ORACLE = r"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY 1
), total AS (
  SELECT COUNT(*) AS n_total FROM documents
), rated AS (
  SELECT d.doc_id, d.lang,
         LEAST(CAST(1.0 AS DOUBLE),
               CASE d.lang WHEN 'en' THEN CAST(0.3 AS DOUBLE)
                           WHEN 'de' THEN CAST(0.1 AS DOUBLE)
                           WHEN 'fr' THEN CAST(0.3 AS DOUBLE)
                           WHEN 'es' THEN CAST(0.15 AS DOUBLE)
                           WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
                           ELSE CAST(0.0 AS DOUBLE) END
               * CAST(0.6 AS DOUBLE) * n_total / n_g) AS rate
  FROM documents d JOIN counts USING (lang) CROSS JOIN total
)
SELECT doc_id, lang, ROUND(rate, 6) AS keep_rate,
       CASE WHEN rate >= 1.0 THEN TRUE
            ELSE substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))),
                        8, '0') END AS kept
FROM rated ORDER BY doc_id
"""


def stratified_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n-per-language eval-set carving: 20 docs per lang by
    deterministic hash order (operators/sampling.py::stratified_fixed_n)."""
    from lightning_metastore_spark.operators.sampling import stratified_fixed_n

    t = load_tables(spark, sf_dir, ("documents",))
    return (stratified_fixed_n(t["documents"], 20)
            .orderBy("lang", "sample_rank"))


STRATIFIED_FIXED_ORACLE = r"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
FROM ranked WHERE sample_rank <= 20
ORDER BY lang, sample_rank
"""


def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram (bucket width 8): the profiling
    pass a pipeline runs before choosing packing/truncation lengths.
    One map-only scan + one tiny aggregation."""
    t = load_tables(spark, sf_dir, ("documents",))
    tc = text_fns.token_counts(t["documents"])
    return (tc.withColumn("bucket_lo",
                          (F.floor(F.col("n_tokens") / 8) * 8).cast("long"))
            .groupBy("bucket_lo")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_tokens").cast("long").alias("min_tokens"),
                 F.max("n_tokens").cast("long").alias("max_tokens"),
                 F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
                 F.sum("n_chars").cast("long").alias("sum_chars"))
            .orderBy("bucket_lo"))


TOKEN_HISTOGRAM_ORACLE = r"""
WITH tc AS (
  SELECT doc_id, LENGTH(text) AS n_chars,
         len(regexp_extract_all(text, '(\S+)', 1)) AS n_tokens
  FROM documents
)
SELECT CAST(FLOOR(n_tokens / 8) * 8 AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       ROUND(AVG(n_tokens), 6) AS avg_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM tc GROUP BY 1 ORDER BY 1
"""


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column with per-vector
    reconstruction-error stats (operators/quantization.py): corpus-fit
    per-dimension scales broadcast onto the exploded value stream."""
    from lightning_metastore_spark.operators.quantization import (
        scalar_quantize_stats)

    t = load_tables(spark, sf_dir, ("embeddings",))
    return scalar_quantize_stats(t["embeddings"]).orderBy("vec_id")


EMBEDDING_QUANTIZE_ORACLE = r"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ex AS (
  SELECT vec_id, i - 1 AS dim, v[i] AS val
  FROM e, unnest(generate_series(1, len(v))) AS s(i)
), scales AS (
  SELECT dim, MAX(ABS(val)) / 127 AS scale FROM ex GROUP BY 1
), q AS (
  SELECT vec_id,
         CASE WHEN scale = 0 THEN 1 ELSE 0 END AS zs,
         CASE WHEN scale = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE LEAST(GREATEST(ROUND(val / scale), CAST(-127.0 AS DOUBLE)),
                         CAST(127.0 AS DOUBLE)) END AS code,
         CASE WHEN scale <> 0 AND ABS(ROUND(val / scale)) > 127 THEN 1
              ELSE 0 END AS clipped,
         val, scale
  FROM ex JOIN scales USING (dim)
)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       ROUND(MAX(ABS(val - code * scale)), 9) AS max_abs_err,
       ROUND(CAST(SUM(CAST((val - code * scale) * (val - code * scale)
                           AS DECIMAL(28,15))) AS DOUBLE) / COUNT(*), 9)
         AS mse
FROM q GROUP BY vec_id ORDER BY vec_id
"""


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing offsets (capacity 2048) via the
    two-phase distributed prefix sum (operators/packing.py) — the
    oracle's single-partition SUM() OVER (ORDER BY) window is exactly
    what the operator avoids at scale."""
    from lightning_metastore_spark.operators.packing import packed_offsets

    t = load_tables(spark, sf_dir, ("documents",))
    return packed_offsets(t["documents"], capacity=2048).orderBy("doc_id")


SEQUENCE_PACK_ORACLE = r"""
WITH tc AS (
  SELECT doc_id, len(regexp_extract_all(text, '(\S+)', 1)) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM tc
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(cum AS BIGINT) AS end_offset,
       CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS first_chunk,
       CAST(GREATEST(FLOOR((cum - 1) / 2048),
                     FLOOR((cum - n_tokens) / 2048)) AS BIGINT) AS last_chunk,
       CAST(GREATEST(FLOOR((cum - 1) / 2048),
                     FLOOR((cum - n_tokens) / 2048))
            - FLOOR((cum - n_tokens) / 2048) + 1 AS BIGINT) AS n_chunks
FROM c ORDER BY doc_id
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (chunk_size=32, overlap=8) of every
    document (operators/chunking.py) — map-only explode, no shuffle;
    chunk fingerprints hash-verified. Row key packs (doc_id, chunk_id)
    as doc_id*100+chunk_id (gate docs are <=100 tokens -> <=4 chunks)."""
    from lightning_metastore_spark.operators.chunking import chunk_documents

    t = load_tables(spark, sf_dir, ("documents",))
    return (chunk_documents(t["documents"], chunk_size=32, overlap=8)
            .withColumn("ck", F.col("doc_id") * 100 + F.col("chunk_id"))
            .select("ck", "start_tok", "end_tok", "n_chunk_tokens",
                    "chunk_md5")
            .orderBy("ck"))


DOC_CHUNKS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '(\S+)', 1) AS t FROM documents
), meta AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 32 THEN 1
              ELSE CAST(CEIL((len(t) - 32) / 24.0) AS BIGINT) + 1 END AS nc
  FROM toks
), ch AS (
  SELECT doc_id, i - 1 AS chunk_id, (i - 1) * 24 AS start_tok,
         LEAST((i - 1) * 24 + 32, n) AS end_tok, t
  FROM meta, unnest(generate_series(1, nc)) AS g(i)
)
SELECT doc_id * 100 + chunk_id AS ck,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(end_tok AS BIGINT) AS end_tok,
       CAST(end_tok - start_tok AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(t[start_tok + 1:end_tok], ' ')) AS chunk_md5
FROM ch ORDER BY ck
"""


def token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application: encode every document against the
    corpus-fit top-256 vocab (functions/text.py::encode_token_stats);
    the order-sensitive ids_checksum hash-verifies the full encoded
    sequence, not just counts."""
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.encode_token_stats(t["documents"]).orderBy("doc_id")


TOKEN_IDS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS token
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '(\S+)', 1) AS t
        FROM documents), unnest(generate_series(1, len(t))) AS g(i)
), vocab AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS token_id
  FROM (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
        ORDER BY cnt DESC, token ASC LIMIT 256)
), enc AS (
  SELECT k.doc_id, k.pos, COALESCE(v.token_id, 0) AS tid
  FROM toks k LEFT JOIN vocab v USING (token)
), agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS n_oov,
         COUNT(DISTINCT tid) AS n_distinct_ids,
         SUM((pos + 1) * tid) AS ids_checksum
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
            ELSE ROUND(n_oov * 1.0 / n_tokens, 9) END AS oov_frac,
       CAST(COALESCE(n_distinct_ids, 0) AS BIGINT) AS n_distinct_ids,
       CAST(COALESCE(ids_checksum, 0) AS BIGINT) AS ids_checksum
FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id
"""


def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table
    (operators/dedup.py::semantic_dedup): deterministic hyperplane
    sign-buckets, within-bucket cosine >= 0.45, keep-lowest-id rule."""
    from lightning_metastore_spark.operators.dedup import semantic_dedup

    t = load_tables(spark, sf_dir, ("embeddings",))
    return semantic_dedup(t["embeddings"]).orderBy("vec_id")


_SB_HEX1 = "(strpos('0123456789abcdef', substring(h, 1, 1)) - 1)"

EMBEDDING_SEMDEDUP_ORACLE = (r"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ex AS (
  SELECT vec_id, i - 1 AS i, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) AS s(i)
), pl AS (
  SELECT i, j, CASE WHEN {HEX1} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM (SELECT gi.i, gj.j,
               md5('sb:' || CAST(gi.i AS VARCHAR) || ':'
                         || CAST(gj.j AS VARCHAR)) AS h
        FROM (SELECT unnest(generate_series(0,
                (SELECT MAX(i) FROM ex))) AS i) gi,
             (SELECT unnest(generate_series(0, 3)) AS j) gj)
), bits AS (
  SELECT vec_id, j,
         CASE WHEN SUM(CAST(x * s AS DECIMAL(28,15))) >= 0 THEN 1 ELSE 0 END
           AS bit
  FROM ex JOIN pl USING (i) GROUP BY 1, 2
), bk AS (
  SELECT vec_id, CAST(SUM(bit * CAST(POWER(2, j) AS BIGINT)) AS BIGINT)
           AS bucket
  FROM bits GROUP BY 1
), pairs AS (
  -- zero-vector guard mirrors the Spark side (norms of 0 -> treated
  -- as 1 -> cosine 0 -> below any positive threshold); without it
  -- DuckDB's NaN cosine sorts above every double and would pass >=
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_dot_product(ea.v, ea.v) > 0
    AND list_dot_product(eb.v, eb.v) > 0
    AND list_cosine_similarity(ea.v, eb.v) >= 0.45
), cnt AS (
  SELECT vid, COUNT(*) AS n_dups, SUM(is_better) AS n_better
  FROM (SELECT ida AS vid, 0 AS is_better FROM pairs
        UNION ALL SELECT idb, 1 FROM pairs)
  GROUP BY 1
)
SELECT bk.vec_id, bucket,
       CAST(COALESCE(n_dups, 0) AS BIGINT) AS n_dups,
       CAST(CASE WHEN COALESCE(n_better, 0) = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS kept
FROM bk LEFT JOIN cnt ON cnt.vid = bk.vec_id ORDER BY vec_id
""").replace("{HEX1}", _SB_HEX1)


def doc_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal documents (operators/skyline.py): minimize
    character count, maximize token count — the 'densest short docs'
    frontier, no weighting chosen. Oracle = the NOT EXISTS dominance
    definition."""
    from lightning_metastore_spark.operators.skyline import skyline

    t = load_tables(spark, sf_dir, ("documents",))
    base = t["documents"].select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"(\S+)"), 1))
        .cast("long").alias("n_tokens"))
    return (skyline(base, minimize=["n_chars"], maximize=["n_tokens"])
            .orderBy("doc_id"))


DOC_SKYLINE_ORACLE = r"""
WITH m AS (
  SELECT doc_id, LENGTH(text) AS n_chars,
         len(regexp_extract_all(text, '(\S+)', 1)) AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM m a
WHERE NOT EXISTS (
  SELECT 1 FROM m b
  WHERE b.n_chars <= a.n_chars AND b.n_tokens >= a.n_tokens
    AND (b.n_chars < a.n_chars OR b.n_tokens > a.n_tokens))
ORDER BY doc_id
"""


def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens covering >= 1.7% of the corpus token stream via the
    bounded-memory sketch-then-verify heavy-hitters operator
    (operators/heavy_hitters.py) — the output is EXACT (the sketch only
    proposes candidates), so it hash-verifies against a plain SQL
    frequency oracle."""
    from lightning_metastore_spark.operators.heavy_hitters import (
        heavy_hitters)

    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        F.explode(F.regexp_extract_all(F.lower(F.col("text")),
                                       F.lit(r"(\S+)"), 1)).alias("token"))
    return heavy_hitters(toks, s=0.017, item_col="token").orderBy("rank")


TOKEN_HEAVY_ORACLE = r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '(\S+)', 1)) AS token
  FROM documents
), tot AS (SELECT COUNT(*) AS n FROM toks),
c AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT)
         AS rank,
       token, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cnt / CAST(n AS DOUBLE), 9) AS frac
FROM c CROSS JOIN tot
WHERE cnt >= CAST(0.017 AS DOUBLE) * n
ORDER BY rank
"""


def corpus_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf's-law fit (functions/text.py::zipf_fit): LS fit
    of ln(freq) on ln(rank) over the top-256 tokens + vocabulary totals
    — the generation/degeneracy probe. One row; every coefficient
    hash-verified against the identical DuckDB arithmetic."""
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.zipf_fit(t["documents"], top_v=256)


CORPUS_ZIPF_ORACLE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
), tf AS (
  SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1
), top AS (
  SELECT token, freq FROM tf ORDER BY freq DESC, token LIMIT 256
), ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
  FROM top
), xy AS (
  SELECT ROUND(LN(CAST(rank AS DOUBLE)), 9) AS x,
         ROUND(LN(CAST(freq AS DOUBLE)), 9) AS y
  FROM ranked
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,15))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,15))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,15))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,15))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,15))) AS DOUBLE) AS syy
  FROM xy
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(freq) AS BIGINT) AS n_tokens
  FROM tf
)
SELECT CAST(0 AS BIGINT) AS grp,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
       n_types, n_tokens,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 9) AS ttr
FROM s CROSS JOIN tot
"""


# the encoding-anomaly injection suffix: mojibake digraphs (mangled é,
# mangled curly quote), U+FFFD, and a BEL control char
_ENC_SUFFIX = " \u00c3\u00a9\u00e2\u20ac\ufffd\u0007"
_ENC_SUFFIX_SQL = ("' ' || chr(195) || chr(169) || chr(226) || chr(8364)"
                   " || chr(65533) || chr(7)")


def encoding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-anomaly triage (functions/text.py::encoding_anomalies)
    with synthetic anomalies injected into every 5th document (the
    corpus itself is clean UTF-8) — proves U+FFFD / control-char /
    mojibake detection fires end to end and stays zero elsewhere."""
    t = load_tables(spark, sf_dir, ("documents",))
    injected = t["documents"].select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(_ENC_SUFFIX)))
        .otherwise(F.col("text")).alias("text"))
    return text_fns.encoding_anomalies(injected).orderBy("doc_id")


ENCODING_PROFILE_ORACLE = r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || {SUF} ELSE text END AS text
  FROM documents
), m AS (
  SELECT doc_id, text,
         length(text) AS n,
         length(text) - length(replace(text, chr(65533), ''))
           AS n_replacement,
         length(text) - length(regexp_replace(text,
             '[\x00-\x08\x0b-\x1f\x7f]', '', 'g')) AS n_ctrl,
         CAST((length(text) - length(replace(text, chr(195) || chr(169), '')))
              / 2
            + (length(text) - length(replace(text, chr(226) || chr(8364), '')))
              / 2 AS BIGINT) AS mojibake_hits,
         length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g'))
           AS n_nonascii
  FROM inj
)
SELECT doc_id,
       CAST(n_replacement AS BIGINT) AS n_replacement,
       CAST(n_ctrl AS BIGINT) AS n_ctrl,
       mojibake_hits,
       ROUND(CAST(n_nonascii AS DOUBLE) / GREATEST(n, 1), 6)
         AS nonascii_frac,
       (n_replacement > 0 OR n_ctrl > 0 OR mojibake_hits > 0) AS is_suspect
FROM m ORDER BY doc_id
""".replace("{SUF}", _ENC_SUFFIX_SQL)


def domain_profile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain aggregate curation profile (functions/text.py::
    domain_profile): n_docs / chars / decimal-summed avg quality /
    language spread / keep-verdict per source, keyed for the melt by
    the numeric source suffix."""
    t = load_tables(spark, sf_dir, ("documents",))
    return (text_fns.domain_profile(t["documents"], min_avg_quality=0.5)
            .select(F.regexp_extract("source", r"(\d+)", 1).cast("long")
                    .alias("dom_id"),
                    "source", "n_docs", "sum_chars", "avg_quality",
                    "n_langs", "domain_keep")
            .orderBy("dom_id"))


DOMAIN_PROFILE_ORACLE = r"""
WITH f AS (
  SELECT doc_id, source, lang, LENGTH(text) AS n_chars,
         CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS n_tokens,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
              x -> list_contains(['the','a','of','and','to','in','is'], x)))
            AS INT) AS n_stop,
         CAST(len(regexp_extract_all(text, '([^\w\s])', 1)) AS INT) AS n_punct,
         CAST(len(list_distinct(string_split_regex(lower(text), '\s+')))
            AS INT) AS n_distinct
  FROM documents
), q AS (
  SELECT doc_id, source, lang, n_chars,
         ROUND(0.35 * LEAST(n_tokens / 100.0, 1.0)
               + 0.25 * (n_distinct / n_tokens)
               + 0.25 * LEAST((n_stop / n_tokens) * 4, 1.0)
               + 0.15 * (1.0 - LEAST((n_punct / GREATEST(n_chars, 1)) * 10,
                                     1.0)), 6) AS quality_score
  FROM f
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(CAST(quality_score AS DECIMAL(28,15))) AS DOUBLE) AS q_sum,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM q GROUP BY source
)
SELECT CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) AS dom_id,
       source, n_docs, sum_chars,
       ROUND(q_sum / n_docs, 6) AS avg_quality, n_langs,
       ROUND(q_sum / n_docs, 6) >= 0.5 AS domain_keep
FROM agg ORDER BY dom_id
"""


def cdc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking duplication profile
    (operators/dedup.py::cdc_dup_stats): rolling-hash chunk boundaries,
    corpus chunk-hash document frequency, per-doc dup fractions — the
    chunk-granular dedup signal robust to partial edits."""
    from lightning_metastore_spark.operators.dedup import cdc_dup_stats

    t = load_tables(spark, sf_dir, ("documents",))
    return cdc_dup_stats(t["documents"], window=8, modulus=32) \
        .orderBy("doc_id")


def _cdc_pows_sql() -> str:
    from lightning_metastore_spark.operators.dedup import (
        _CDC_BASE, _CDC_PRIME)
    pows = [(_CDC_BASE ** (8 - j)) % _CDC_PRIME for j in range(1, 9)]
    return "[" + ", ".join(str(p) for p in pows) + "]"


CDC_PROFILE_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(text, '\s+', ' ', 'g') AS t FROM documents
), base AS (
  SELECT doc_id, t,
         list_transform(regexp_extract_all(t, '(.)', 1),
                        c -> unicode(c) % 256) AS cs
  FROM norm
), bp AS (
  SELECT doc_id, t, cs,
         list_filter(generate_series(8, len(cs)),
           i -> list_sum(list_transform(generate_series(1, 8),
                  j -> cs[i - 8 + j] * ({POWS})[j]))
                % 1000003 % 32 = 0) AS bpos
  FROM base
), cu AS (
  SELECT doc_id, t, len(cs) AS n,
         list_sort(list_distinct([0] || COALESCE(bpos, [])
                                 || [len(cs)])) AS cuts
  FROM bp
), ch AS (
  SELECT doc_id, substring(t, cuts[k] + 1, cuts[k + 1] - cuts[k]) AS chunk
  FROM cu, unnest(generate_series(1, len(cuts) - 1)) AS g(k)
  WHERE n > 0
), hashed AS (
  SELECT doc_id, chunk, md5(chunk) AS chunk_md5 FROM ch
), dfreq AS (
  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS df FROM hashed GROUP BY 1
), per AS (
  SELECT doc_id, COUNT(*) AS n_chunks,
         SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS n_dup_chunks,
         SUM(length(chunk)) AS len_sum
  FROM hashed JOIN dfreq USING (chunk_md5)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       ROUND(COALESCE(n_dup_chunks, 0) / GREATEST(n_chunks, 1), 6)
         AS dup_chunk_frac,
       ROUND(COALESCE(len_sum, 0) / GREATEST(n_chunks, 1), 6)
         AS avg_chunk_len
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per USING (doc_id)
ORDER BY doc_id
""".replace("{POWS}", _cdc_pows_sql())


def entity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-entity census (functions/text.py::entity_counts) with
    deterministic entities injected into every 3rd document (the corpus
    is entity-free word soup) — counts verified span-for-span."""
    t = load_tables(spark, sf_dir, ("documents",))
    suffix = (" mail bob@example.org or visit https://example.org/x "
              "on 2024-05-17 order 42 total 9.99")
    injected = t["documents"].select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(suffix)))
        .otherwise(F.col("text")).alias("text"))
    return text_fns.entity_counts(injected).orderBy("doc_id")


ENTITY_PROFILE_ORACLE = r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text ||
           ' mail bob@example.org or visit https://example.org/x on 2024-05-17 order 42 total 9.99'
         ELSE text END AS text
  FROM documents
), c AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS BIGINT)
      AS n_emails,
    CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
      AS n_urls,
    CAST(len(regexp_extract_all(text, '\d{4}-\d{2}-\d{2}')) AS BIGINT)
      AS n_dates,
    CAST(len(regexp_extract_all(text, '\b\d+\.?\d*\b')) AS BIGINT)
      AS n_numbers
  FROM inj
)
SELECT doc_id, n_emails, n_urls, n_dates, n_numbers,
       (n_emails > 0 OR n_urls > 0 OR n_dates > 0 OR n_numbers > 0)
         AS any_entity
FROM c ORDER BY doc_id
"""


def span_removal_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span EXCISION (operators/dedup.py::
    remove_dup_spans): every 5-token window occurring >= 2 times
    corpus-wide is cut from every document; the md5 of the rebuilt
    clean text hash-verifies the full excision, not just counts.
    ``removed_frac`` is recomputed JVM-side (F.round = HALF_UP, the
    DuckDB ROUND convention) so the gate never depends on Python
    banker's rounding."""
    t = load_tables(spark, sf_dir, ("documents",))
    sp = _span_hashes_cached(spark, t["documents"], sf_dir)
    out = dedup.remove_dup_spans(t["documents"], k=5, min_occ=2, sp=sp)
    return (out.select(
        "doc_id", "n_tokens", "n_removed",
        F.round(F.col("n_removed") / F.col("n_tokens"), 6)
        .alias("removed_frac"),
        F.md5("clean_text").alias("clean_md5"))
        .orderBy("doc_id"))


SPAN_REMOVAL_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sp AS (
  SELECT doc_id, i - 1 AS pos,
         CASE WHEN len(t) >= 5
              THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4]
              ELSE array_to_string(t, ' ') END AS g
  FROM toks, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS s(i)
), dup AS (
  SELECT g FROM sp GROUP BY g HAVING COUNT(*) >= 2
), starts AS (
  SELECT doc_id, pos FROM sp JOIN dup USING (g)
), tok AS (
  SELECT doc_id, i - 1 AS j, t[i] AS tk, len(t) AS n
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
), cov AS (
  SELECT tok.doc_id, tok.j, tok.tk, tok.n,
         EXISTS (SELECT 1 FROM starts s
                 WHERE s.doc_id = tok.doc_id AND s.pos <= tok.j
                   AND tok.j < s.pos +
                       CASE WHEN tok.n >= 5 THEN 5 ELSE tok.n END)
           AS covered
  FROM tok
), agg AS (
  SELECT doc_id, MAX(n) AS n_tokens,
         SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS n_removed,
         COALESCE(string_agg(CASE WHEN NOT covered THEN tk END,
                             ' ' ORDER BY j), '') AS clean_text
  FROM cov GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_removed AS BIGINT) AS n_removed,
       ROUND(n_removed / n_tokens, 6) AS removed_frac,
       md5(clean_text) AS clean_md5
FROM agg ORDER BY doc_id
"""


def span_admission_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring admission (operators/dedup.py::
    span_index + span_batch_against_index): every 10th document plays
    the NEW batch, the rest the stored corpus; a batch doc is rejected
    when > 50% of its 5-token windows already exist in the corpus
    index. The corpus is touched zero times — only its (gh, occ) index
    joins, broadcast-probed by the batch's distinct hashes."""
    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    rest = docs.filter(F.col("doc_id") % 10 != 7)
    # both sides derive from the shared span-hash artifact (a doc's
    # spans depend only on its own text, so subsetting is exact —
    # the same per-doc-artifact argument as dedup_incremental)
    sp = _span_hashes_cached(spark, docs, sf_dir)
    idx = dedup.span_index(rest, k=5,
                           sp=sp.filter(F.col("doc_id") % 10 != 7))
    return dedup.span_batch_against_index(
        batch, idx, k=5, max_dup_frac=0.5,
        sp=sp.filter(F.col("doc_id") % 10 == 7)).orderBy("doc_id")


SPAN_ADMIT_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sp AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4]
              ELSE array_to_string(t, ' ') END AS g
  FROM toks, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS s(i)
), idx AS (
  SELECT DISTINCT g FROM sp WHERE doc_id % 10 <> 7
), b AS (
  SELECT doc_id, sp.g, i.g IS NOT NULL AS known
  FROM sp LEFT JOIN idx i USING (g) WHERE doc_id % 10 = 7
), agg AS (
  SELECT doc_id, COUNT(*) AS n_spans,
         SUM(CASE WHEN known THEN 1 ELSE 0 END) AS n_known
  FROM b GROUP BY doc_id
)
SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(n_known AS BIGINT) AS n_known_spans,
       ROUND(n_known / GREATEST(n_spans, 1), 6) AS known_frac,
       ROUND(n_known / GREATEST(n_spans, 1), 6) <= 0.5 AS admit
FROM agg ORDER BY doc_id
"""


def bloom_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/contamination.py::
    build_ngram_bloom + bloom_contamination): the same 1/25 benchmark
    carve as ``contamination_check``, but membership goes through the
    fixed-size bitmap artifact (distributed bit_or build, JVM-derived
    md5 positions, vectorized numpy probes). Because the position
    derivation is engine-portable integer math, the DuckDB oracle
    re-derives the EXACT bit pattern — false positives included — so
    the gate hash-verifies the filter bit-for-bit, not merely a
    superset property. Timed cost includes the filter build (the
    operator's real per-run cost)."""
    from lightning_metastore_spark.operators.contamination import (
        bloom_contamination, build_ngram_bloom)

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    sh = _shingles_cached(spark, docs, sf_dir)
    bloom = build_ngram_bloom(
        docs.filter(F.col("doc_id") % 25 == 0), n=3, n_bits=1 << 20,
        k=4, sh_bench=sh.filter(F.col("doc_id") % 25 == 0))
    return bloom_contamination(
        docs.filter(F.col("doc_id") % 25 != 0), bloom,
        flag_threshold=0.5,
        sh_train=sh.filter(F.col("doc_id") % 25 != 0)).orderBy("doc_id")


BLOOM_ORACLE = (r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              ELSE array_to_string(t, ' ') END AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
), hh AS (
  SELECT doc_id, shingle,
         ({H1}) % 1048576 AS h1,
         ((({H2}) | 1) % 1048576) AS h2
  FROM (SELECT doc_id, shingle, md5(shingle) AS h FROM sh)
), bpos AS (
  SELECT DISTINCT (h1 + i * h2) % 1048576 AS p
  FROM hh, unnest(generate_series(0, 3)) AS gg(i)
  WHERE doc_id % 25 = 0
), tpos AS (
  SELECT doc_id, shingle, (h1 + i * h2) % 1048576 AS p
  FROM hh, unnest(generate_series(0, 3)) AS gg(i)
  WHERE doc_id % 25 <> 0
), shhit AS (
  SELECT doc_id, shingle, BOOL_AND(bp.p IS NOT NULL) AS hit
  FROM tpos LEFT JOIN bpos bp USING (p) GROUP BY 1, 2
), agg AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_contaminated
  FROM shhit GROUP BY 1
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_contaminated AS BIGINT) AS n_contaminated,
       ROUND(n_contaminated / n_shingles, 6) AS contam_frac,
       n_contaminated / n_shingles >= 0.5 AS is_contaminated
FROM agg ORDER BY doc_id
""").replace("{H1}", _hexint_sql("h", 15)) \
    .replace("{H2}", _hexint_sql("substring(h, 16, 15)", 15))


def pack_bins_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing (operators/packing.py::
    greedy_pack_bins) at n_shards=1 — the single-shard setting makes
    the placement the pure sequential FFD over (n_tokens DESC, doc_id),
    which the oracle replays as a DuckDB recursive CTE carrying the
    open-bin fill list (one iteration per document; gate-scale only —
    the operator's scale path is per-shard FFD, pytest-twinned in
    tests/test_packing.py)."""
    from lightning_metastore_spark.operators.packing import (
        greedy_pack_bins)

    t = load_tables(spark, sf_dir, ("documents",))
    return greedy_pack_bins(t["documents"], capacity=2048, n_shards=1) \
        .orderBy("doc_id")


PACK_BINS_ORACLE = r"""
WITH RECURSIVE lens AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
), ordered AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
  FROM lens
), st AS (
  SELECT 0 AS rn, CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS bins
  UNION ALL
  SELECT z.rn,
         CASE WHEN z.f IS NULL THEN list_append(z.fills, z.n_tokens)
              ELSE list_transform(z.fills,
                     (x, i) -> CASE WHEN i = z.f THEN x + z.n_tokens
                               ELSE x END) END,
         list_append(z.bins, COALESCE(z.f, len(z.fills) + 1))
  FROM (SELECT o.rn, o.n_tokens, s.fills, s.bins,
               CASE WHEN o.n_tokens < 2048 THEN
                 list_min(list_filter(list_transform(s.fills,
                   (x, i) -> CASE WHEN x + o.n_tokens <= 2048
                             THEN CAST(i AS BIGINT) END),
                   y -> y IS NOT NULL))
               END AS f
        FROM st s JOIN ordered o ON o.rn = s.rn + 1) z
), fin AS (
  SELECT fills, bins FROM st ORDER BY rn DESC LIMIT 1
), asg AS (
  SELECT o.doc_id, o.n_tokens, fin.bins[o.rn] AS b,
         fin.fills[fin.bins[o.rn]] AS fl
  FROM ordered o, fin
), cnts AS (
  SELECT b, COUNT(*) AS c FROM asg GROUP BY b
)
SELECT doc_id, n_tokens, CAST(b - 1 AS BIGINT) AS bin_id,
       CAST(fl AS BIGINT) AS bin_fill, CAST(c AS BIGINT) AS bin_n_docs
FROM asg JOIN cnts USING (b) ORDER BY doc_id
"""


def bpe_ids_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer id-encoding plumbing (operators/bpe.py::
    encode_bpe_ids) at merges=[] — the deterministic character-level
    vocabulary (<unk>=0, then sorted distinct corpus chars), so the
    order-sensitive polynomial ids_checksum hash-verifies the encode
    path (vocab derivation, id lookup, sequence order) cross-engine.
    Merge APPLICATION is inherently sequential per word and
    SQL-inexpressible; it is pytest-twinned merge-for-merge in
    tests/test_bpe.py. The checksum is compared as a STRING (exact —
    it exceeds double precision)."""
    from lightning_metastore_spark.operators.bpe import encode_bpe_ids

    t = load_tables(spark, sf_dir, ("documents",))
    out = encode_bpe_ids(t["documents"], merges=[])
    return (out.select("doc_id", "n_pieces",
                       F.col("ids_checksum").cast("string")
                       .alias("ids_checksum"))
            .orderBy("doc_id"))


BPE_IDS_ORACLE = r"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS words
  FROM documents
), wt AS (
  SELECT doc_id, i AS wi, words[i] AS word
  FROM w, unnest(generate_series(1, len(words))) AS g(i)
), ch AS (
  SELECT doc_id, wi, j, substring(word, j, 1) AS c
  FROM wt, unnest(generate_series(1, length(word))) AS u(j)
), vocab AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS cid
  FROM (SELECT DISTINCT c FROM ch)
), lst AS (
  SELECT doc_id, list(CAST(cid AS HUGEINT) ORDER BY wi, j) AS ids,
         COUNT(*) AS n_pieces
  FROM ch JOIN vocab USING (c) GROUP BY doc_id
), ck AS (
  SELECT doc_id, n_pieces,
         CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), ids),
              (a, b) -> (a * 1000003 + b + 1) % 2305843009213693952)
           AS BIGINT) AS ids_checksum
  FROM lst
)
SELECT d.doc_id, CAST(COALESCE(n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(COALESCE(ids_checksum, 0) AS VARCHAR) AS ids_checksum
FROM documents d LEFT JOIN ck USING (doc_id) ORDER BY doc_id
"""


def fertility_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'fertility' = operators/bpe.tokenizer_fertility at merges=[]
    (the deterministic character-level segmenter the bpe_ids section
    already pins) grouped by lang: exact int64 per-group doc/word/
    token/char sums plus the 9dp fertility (tokens per word — at
    merges=[] the mean word length) and compression ratios — the
    whole segment->join->aggregate path is hash-verified. Merge
    APPLICATION stays pytest-twinned (test_bpe), same division of
    labor as bpe_ids_check."""
    from pyspark.sql.window import Window as W

    from lightning_metastore_spark.operators.bpe import (
        tokenizer_fertility)

    t = load_tables(spark, sf_dir, ("documents",))
    out = tokenizer_fertility(t["documents"], merges=[],
                              group_col="lang")
    w = W.orderBy("lang")
    return (out.withColumn("lang_id", F.row_number().over(w))
            .select("lang_id", "lang", "n_docs", "n_words", "n_tokens",
                    "n_chars", "fertility", "compression")
            .orderBy("lang_id"))


FERTILITY_ORACLE = r"""
WITH f AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_extract_all(lower(text), '\S+')))
              AS BIGINT) AS n_words,
         CAST(SUM(length(regexp_replace(lower(text), '\s+', '', 'g')))
              AS BIGINT) AS n_tokens,
         CAST(SUM(length(regexp_replace(lower(text), '\s+', '', 'g')))
              AS BIGINT) AS n_chars
  FROM documents GROUP BY lang
)
SELECT ROW_NUMBER() OVER (ORDER BY lang) AS lang_id, lang,
       n_docs, n_words, n_tokens, n_chars,
       CASE WHEN n_words > 0 THEN ROUND(n_tokens / n_words, 9)
            ELSE 0.0 END AS fertility,
       CASE WHEN n_tokens > 0 THEN ROUND(n_chars / n_tokens, 9)
            ELSE 0.0 END AS compression
FROM f ORDER BY lang_id
"""


def corpus_diff_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning diff (operators/pipeline.py::corpus_diff):
    the 'new' snapshot is DERIVED deterministically from the documents
    table (ids %7==0 dropped, texts of ids %3==0 edited, ids %11==0
    re-added under id+1000000), so every status arm — added / removed /
    changed / unchanged — appears and the whole diff (md5 fps included)
    re-derives in plain SQL."""
    from lightning_metastore_spark.operators.pipeline import corpus_diff

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    new = (docs.filter(F.col("doc_id") % 7 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 3 == 0,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text"))
           .unionByName(
               docs.filter(F.col("doc_id") % 11 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       "text")))
    return corpus_diff(docs, new).orderBy("doc_id")


CORPUS_DIFF_ORACLE = r"""
WITH newt AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0
), o AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS old_fp,
         len(regexp_extract_all(COALESCE(text, ''), '\S+')) AS old_tokens
  FROM documents
), n AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS new_fp,
         len(regexp_extract_all(COALESCE(text, ''), '\S+')) AS new_tokens
  FROM newt
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_fp IS NULL THEN 'added'
            WHEN n.new_fp IS NULL THEN 'removed'
            WHEN o.old_fp = n.new_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       o.old_fp, n.new_fp,
       COALESCE(n.new_tokens, 0) - COALESCE(o.old_tokens, 0) AS token_delta
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id
"""


def corpus_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift gate (operators/pipeline.py::corpus_drift): old =
    the documents table, new = the SAME derived snapshot the diff gate
    uses, so the two versioning audits describe one consistent pair.
    The metric table has no numeric key of its own; both engines
    assign row_key = rank of the metric name, which is unique by
    construction (scalar metrics + 'drift:<token>' rows)."""
    from lightning_metastore_spark.operators.pipeline import corpus_drift

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    new = (docs.filter(F.col("doc_id") % 7 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 3 == 0,
                          F.concat(F.col("text"), F.lit(" v2")))
                   .otherwise(F.col("text")).alias("text"))
           .unionByName(
               docs.filter(F.col("doc_id") % 11 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       "text")))
    out = corpus_drift(docs, new, top_k=10)
    from pyspark.sql.window import Window as W

    return (out.withColumn("mid", F.row_number().over(W.orderBy("metric")))
            .select("mid", "metric", "value_num", "value_str")
            .orderBy("mid"))


CORPUS_DRIFT_ORACLE = r"""
WITH newt AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0
), oc AS (
  SELECT token, COUNT(*) AS c_old FROM (
    SELECT unnest(string_split_regex(lower(coalesce(text, '')), '\s+'))
      AS token FROM documents) GROUP BY 1
), nc AS (
  SELECT token, COUNT(*) AS c_new FROM (
    SELECT unnest(string_split_regex(lower(coalesce(text, '')), '\s+'))
      AS token FROM newt) GROUP BY 1
), j AS (
  SELECT COALESCE(oc.token, nc.token) AS token,
         COALESCE(c_old, 0) AS c_old, COALESCE(c_new, 0) AS c_new
  FROM oc FULL OUTER JOIN nc ON oc.token = nc.token
), tot AS (
  SELECT SUM(c_old) AS n_old, SUM(c_new) AS n_new,
         SUM(CASE WHEN c_old > 0 THEN 1 ELSE 0 END) AS v_old,
         SUM(CASE WHEN c_new > 0 THEN 1 ELSE 0 END) AS v_new,
         COUNT(*) AS v
  FROM j
), pq AS (
  SELECT token,
         (c_old + 1.0) / CAST(n_old + v AS DOUBLE) AS p,
         (c_new + 1.0) / CAST(n_new + v AS DOUBLE) AS q
  FROM j CROSS JOIN tot
), sums AS (
  SELECT
    ROUND(CAST(SUM(CAST(p * LN(p / q) AS DECIMAL(28,15))) AS DOUBLE), 9)
      AS kl_pq,
    ROUND(CAST(SUM(CAST(q * LN(q / p) AS DECIMAL(28,15))) AS DOUBLE), 9)
      AS kl_qp,
    ROUND(0.5 * CAST(SUM(CAST(p * LN(p / ((p + q) / 2.0))
                              AS DECIMAL(28,15))) AS DOUBLE)
          + 0.5 * CAST(SUM(CAST(q * LN(q / ((p + q) / 2.0))
                                AS DECIMAL(28,15))) AS DOUBLE), 9) AS js,
    ROUND(CAST(SUM(CAST(ABS(q - p) AS DECIMAL(28,15))) AS DOUBLE), 9)
      AS l1
  FROM pq
), drift AS (
  SELECT 'drift:' || token AS metric, delta AS value_num,
         token AS value_str
  FROM (
    SELECT token, ROUND(q - p, 9) AS delta,
           ROW_NUMBER() OVER (ORDER BY ABS(ROUND(q - p, 9)) DESC, token)
             AS rk
    FROM pq
  ) WHERE rk <= 10
), rows_ AS (
  SELECT 'js_divergence' AS metric, js AS value_num,
         CAST(NULL AS VARCHAR) AS value_str FROM sums
  UNION ALL SELECT 'kl_old_new', kl_pq, NULL FROM sums
  UNION ALL SELECT 'kl_new_old', kl_qp, NULL FROM sums
  UNION ALL SELECT 'l1_distance', l1, NULL FROM sums
  UNION ALL SELECT 'vocab_old', CAST(v_old AS DOUBLE), NULL FROM tot
  UNION ALL SELECT 'vocab_new', CAST(v_new AS DOUBLE), NULL FROM tot
  UNION ALL SELECT 'vocab_union', CAST(v AS DOUBLE), NULL FROM tot
  UNION ALL SELECT metric, value_num, value_str FROM drift
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY metric) AS BIGINT) AS mid,
       metric, value_num, value_str
FROM rows_ ORDER BY mid
"""


def html_extract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML extraction gate (functions/html.py::html_extract): every
    document is WRAPPED in deterministic quote-free markup — title with
    an ``&amp;`` entity, a <style> head block, a comment hiding a fake
    anchor, two real anchors carrying ``&nbsp;`` and a numeric entity —
    so title extraction, head/comment stripping, the single-pass entity
    contract and link-density all execute on every row. clean text is
    md5'd (the span_removal convention) so the full extraction
    hash-verifies, not just the counts. The DuckDB twin replays the
    identical regexp chain under RE2, using a chr(1) sentinel for
    ``&amp;`` in place of Java's negative lookahead."""
    from lightning_metastore_spark.functions.html import html_extract

    t = load_tables(spark, sf_dir, ("documents",))
    d = F.col("doc_id").cast("string")
    wrapped = t["documents"].select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc &amp; "), d,
            F.lit("</title><style>p{x}</style></head><body><p>"),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("</p><!-- hidden <a>ghost</a> --><a href=/d/"), d,
            F.lit(">open&nbsp;doc "), d,
            F.lit("</a><a>next &#66; end</a></body></html>"),
        ).alias("text"))
    return (html_extract(wrapped)
            .select("doc_id", "title",
                    F.md5("clean_text").alias("clean_md5"),
                    "n_chars", "n_links", "link_density")
            .orderBy("doc_id"))


def _html_flat_sql(expr: str) -> str:
    """DuckDB twin of functions/html._flatten: tags -> space, the
    single-pass entity contract (chr(1) sentinel replaces the Java
    lookahead), whitespace collapse + trim."""
    x = f"regexp_replace({expr}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "''"), ("&#39;", "''"), ("&#34;", '"'),
                    ("&nbsp;", " ")):
        x = f"replace({x}, '{ent}', '{ch}')"
    x = f"replace({x}, '&amp;', chr(1))"
    x = f"regexp_replace({x}, '&#?[a-zA-Z0-9]{{1,8}};', ' ', 'g')"
    x = f"replace({x}, chr(1), '&')"
    return f"trim(regexp_replace({x}, '\\s+', ' ', 'g'))"


HTML_EXTRACT_ORACLE = r"""
WITH wrapped AS (
  SELECT doc_id,
         '<html><head><title>Doc &amp; ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>p{x}</style></head><body><p>' ||
         COALESCE(text, '') ||
         '</p><!-- hidden <a>ghost</a> --><a href=/d/' ||
         CAST(doc_id AS VARCHAR) || '>open&nbsp;doc ' ||
         CAST(doc_id AS VARCHAR) ||
         '</a><a>next &#66; end</a></body></html>' AS src
  FROM documents
), stripped AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(src,
           '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g') AS s
  FROM wrapped
), body AS (
  SELECT doc_id, s,
         regexp_replace(s, '(?is)<head\b[^>]*>.*?</head>', ' ', 'g') AS b
  FROM stripped
), fields AS (
  SELECT doc_id,
         {FLAT_TITLE} AS title,
         {FLAT_BODY} AS clean_text,
         regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1) AS anchors
  FROM body
)
SELECT doc_id, title, md5(clean_text) AS clean_md5,
       CAST(length(clean_text) AS BIGINT) AS n_chars,
       CAST(len(anchors) AS BIGINT) AS n_links,
       ROUND(COALESCE(list_sum(list_transform(anchors,
               x -> length({FLAT_X}))), 0)
             / GREATEST(1, length(clean_text)), 6) AS link_density
FROM fields
ORDER BY doc_id
""".replace(
    "{FLAT_TITLE}",
    _html_flat_sql("regexp_extract(s, '(?is)<title\\b[^>]*>(.*?)</title>', 1)")
).replace("{FLAT_BODY}", _html_flat_sql("b")).replace(
    "{FLAT_X}", _html_flat_sql("x"))


def url_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup gate
    (functions/html.url_canonical_expr / url_dedup): every document
    gets a deterministic synthetic URL whose rule mix is chosen by
    doc_id%4 — uppercase scheme/host with the scheme-default port,
    utm_*/gclid/ref tracking params, unsorted duplicate-key params, a
    #fragment, a kept non-default port, and a bare-root path — and
    doc_id%16 picks the host so canonical collisions exist by
    construction. Per doc: the canonical form (value-checked string),
    the group's smallest id and its dup_count from url_dedup — so
    both the string surgery and the dedup grouping hash-verify
    against a DuckDB twin replaying the identical RFC split, port
    strip, param filter/sort and rebuild."""
    from lightning_metastore_spark.functions.html import (
        url_canonical_expr, url_dedup)

    t = load_tables(spark, sf_dir, ("documents",))
    k = (F.col("doc_id") % 16).cast("string")
    host = F.concat(F.lit("Example"), k, F.lit(".COM"))
    m = F.col("doc_id") % 4
    url = (F.when(m == 0, F.concat(
               F.lit("HTTP://"), host, F.lit(":80/p/"), k,
               F.lit("?utm_source=x&b=2&a=1#f")))
           .when(m == 1, F.concat(
               F.lit("https://"), host, F.lit(":443/p/"), k,
               F.lit("?gclid=g&z=1")))
           .when(m == 2, F.concat(
               F.lit("HTTPS://"), host, F.lit("/p/"), k,
               F.lit("?z=9&z=1&ref=tw")))
           .otherwise(F.concat(
               F.lit("http://"), host, F.lit(":8080/?utm_x=1"))))
    urls = t["documents"].select("doc_id", url.alias("url"))
    canon = urls.select(
        "doc_id", url_canonical_expr(F.col("url")).alias("canonical_url"))
    grp = (url_dedup(urls)
           .select(F.col("doc_id").alias("keep_id"), "canonical_url",
                   "dup_count"))
    return (canon.join(grp, "canonical_url")
            .select("doc_id", "canonical_url", "keep_id", "dup_count")
            .orderBy("doc_id"))


_URL_RX = r"^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?"

URL_DEDUP_ORACLE = r"""
WITH u AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'HTTP://Example' || CAST(doc_id % 16 AS VARCHAR)
                || '.COM:80/p/' || CAST(doc_id % 16 AS VARCHAR)
                || '?utm_source=x&b=2&a=1#f'
           WHEN 1 THEN 'https://Example' || CAST(doc_id % 16 AS VARCHAR)
                || '.COM:443/p/' || CAST(doc_id % 16 AS VARCHAR)
                || '?gclid=g&z=1'
           WHEN 2 THEN 'HTTPS://Example' || CAST(doc_id % 16 AS VARCHAR)
                || '.COM/p/' || CAST(doc_id % 16 AS VARCHAR)
                || '?z=9&z=1&ref=tw'
           ELSE 'http://Example' || CAST(doc_id % 16 AS VARCHAR)
                || '.COM:8080/?utm_x=1'
         END AS url
  FROM documents
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '{RX}', 1)) AS scheme,
         lower(regexp_extract(url, '{RX}', 2)) AS auth0,
         regexp_extract(url, '{RX}', 3) AS path0,
         regexp_extract(url, '{RX}', 4) AS query0
  FROM u
), canon0 AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
              ELSE auth0 END AS auth,
         path0,
         COALESCE(
           array_to_string(list_sort(list_filter(string_split(query0, '&'),
             p -> p <> ''
               AND NOT starts_with(lower(string_split(p, '=')[1]), 'utm_')
               AND NOT list_contains(
                     ['fbclid','gclid','msclkid','mc_eid','igshid',
                      'ref','ref_src','spm'],
                     lower(string_split(p, '=')[1])))), '&'),
           '') AS q
  FROM parts
), canon AS (
  SELECT doc_id,
         (CASE WHEN scheme <> '' THEN scheme || ':' ELSE '' END)
         || (CASE WHEN auth <> '' THEN '//' || auth ELSE '' END)
         || (CASE WHEN path0 = '/' AND q = '' THEN '' ELSE path0 END)
         || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canonical_url
  FROM canon0
), grp AS (
  SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
  FROM canon GROUP BY 1
)
SELECT c.doc_id, c.canonical_url, g.keep_id, g.dup_count
FROM canon c JOIN grp g USING (canonical_url)
ORDER BY doc_id
""".replace("{RX}", _URL_RX)


def table_stats_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'stats' = ANALYZE-style per-column catalog statistics
    (operators/layout.table_stats, exact mode so the oracle can
    re-derive every value): one row per documents column with row /
    null / exact-NDV counts and string-rendered min/max — the whole
    relation bit-checked, including the full min/max text strings."""
    from lightning_metastore_spark.operators.layout import table_stats

    t = load_tables(spark, sf_dir, ("documents",))
    return table_stats(t["documents"], exact=True).orderBy("col_id")


_TS_COLS = ("doc_id", "text", "lang", "source", "n_chars")

TABLE_STATS_ORACLE = "SELECT * FROM (" + " UNION ALL ".join(
    f"SELECT {i} AS col_id, '{c}' AS col_name, COUNT(*) AS n_rows, "
    f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS ndv, CAST(MIN({c}) AS VARCHAR) AS min_val, "
    f"CAST(MAX({c}) AS VARCHAR) AS max_val FROM documents"
    for i, c in enumerate(_TS_COLS)) + ") ORDER BY col_id"


def corpus_profile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twenty-five document-profiling operators in one melted
    tagged-union slot (50-slot registry discipline): Gopher repetition
    filters, the
    token-length histogram, sequence packing, the contamination check,
    cross-document exact-substring duplication + its EXCISION + the
    incremental span-index admission, Bloom-filter decontamination,
    sliding-window chunking, tokenizer (vocab-id) application + BPE id
    encoding, FFD bin packing, skyline, heavy hitters, the Zipf fit,
    encoding-anomaly triage, CDC chunk dedup, entity census, the
    per-domain curation profile, the snapshot versioning diff + drift
    the HTML extraction, the URL canonicalization + URL-level dedup,
    the ANALYZE-style table statistics and the per-language tokenizer
    fertility audit. Every cell of every
    component is still
    hash-verified."""
    from concurrent.futures import ThreadPoolExecutor

    specs = [
        (text_repetition, "repetition", "doc_id",
         ["n_words", "n_distinct_words", "distinct_word_ratio",
          "dup_word_char_frac", "top_2gram_char_frac",
          "dup_2gram_char_frac", "word_entropy", "is_repetitive"], ()),
        (text_gopher_rules, "gopher", "doc_id",
         ["n_words", "mean_word_len", "symbol_word_ratio",
          "bullet_line_frac", "ellipsis_line_frac",
          "alpha_word_frac", "n_stop_present", "gopher_keep"], ()),
        (text_c4_clean, "c4", "doc_id",
         ["n_lines", "n_lines_kept", "n_sentences", "c4_keep"],
         ("clean_md5",)),
        (token_histogram, "histogram", "bucket_lo",
         ["n_docs", "min_tokens", "max_tokens", "avg_tokens",
          "sum_chars"], ()),
        (sequence_pack, "pack", "doc_id",
         ["n_tokens", "start_offset", "end_offset", "first_chunk",
          "last_chunk", "n_chunks"], ()),
        (contamination_check, "contamination", "doc_id",
         ["n_shingles", "n_contaminated", "contam_frac",
          "is_contaminated"], ()),
        (dup_span_stats, "dup_spans", "doc_id",
         ["n_spans", "n_dup_spans", "dup_span_frac"], ()),
        (doc_chunks, "chunks", "ck",
         ["start_tok", "end_tok", "n_chunk_tokens"], ("chunk_md5",)),
        (token_ids, "token_ids", "doc_id",
         ["n_tokens", "n_oov", "oov_frac", "n_distinct_ids",
          "ids_checksum"], ()),
        (doc_skyline, "skyline", "doc_id",
         ["n_chars", "n_tokens"], ()),
        (token_heavy_hitters, "heavy", "rank",
         ["cnt", "frac"], ("token",)),
        (corpus_zipf, "zipf", "grp",
         ["slope", "intercept", "r2", "n_types", "n_tokens", "ttr"], ()),
        (encoding_profile, "encoding", "doc_id",
         ["n_replacement", "n_ctrl", "mojibake_hits", "nonascii_frac",
          "is_suspect"], ()),
        (domain_profile_gate, "domains", "dom_id",
         ["n_docs", "sum_chars", "avg_quality", "n_langs",
          "domain_keep"], ("source",)),
        (cdc_profile, "cdc", "doc_id",
         ["n_chunks", "n_dup_chunks", "dup_chunk_frac",
          "avg_chunk_len"], ()),
        (entity_profile, "entities", "doc_id",
         ["n_emails", "n_urls", "n_dates", "n_numbers",
          "any_entity"], ()),
        (span_removal_check, "span_removal", "doc_id",
         ["n_tokens", "n_removed", "removed_frac"], ("clean_md5",)),
        (span_admission_check, "span_admit", "doc_id",
         ["n_spans", "n_known_spans", "known_frac", "admit"], ()),
        (bloom_check, "bloom", "doc_id",
         ["n_shingles", "n_contaminated", "contam_frac",
          "is_contaminated"], ()),
        (pack_bins_check, "bins", "doc_id",
         ["n_tokens", "bin_id", "bin_fill", "bin_n_docs"], ()),
        (bpe_ids_check, "bpe_ids", "doc_id",
         ["n_pieces"], ("ids_checksum",)),
        (fertility_check, "fertility", "lang_id",
         ["n_docs", "n_words", "n_tokens", "n_chars", "fertility",
          "compression"], ("lang",)),
        (corpus_diff_check, "diff", "doc_id",
         ["token_delta"], ("status", "old_fp", "new_fp")),
        (html_extract_check, "html", "doc_id",
         ["n_chars", "n_links", "link_density"],
         ("title", "clean_md5")),
        (corpus_drift_check, "drift", "mid",
         ["value_num"], ("metric", "value_str")),
        (url_dedup_check, "urls", "doc_id",
         ["keep_id", "dup_count"], ("canonical_url",)),
        (table_stats_check, "stats", "col_id",
         ["n_rows", "n_nulls", "ndv"],
         ("col_name", "min_val", "max_val")),
    ]
    # r17 (guide §2.6): several sections run driver-side jobs while
    # BUILDING (the drift token diff, the packing prefix-sum, the
    # Bloom bitmap build, the stats scalar row) — serially they left
    # the cluster idle between small jobs. Build the sections from
    # driver threads (the dedup suite's cold-artifact pattern) and
    # union in DECLARED order, so the plan and result are unchanged.
    # The shared artifacts are materialized once, on the main thread,
    # before the pool. r18: pool capped at 3 (guide §2.6 "2-3 jobs in
    # flight is plenty") — interleaved A/B at width 3 vs 8 showed no
    # regression (if anything 3 was faster: the builders contend on the
    # Python GIL and driver scheduling, not the cluster), and a narrow
    # pool does not fight for executors on a busy cluster.
    t = load_tables(spark, sf_dir, ("documents",))
    _shingles_cached(spark, t["documents"], sf_dir)
    _span_hashes_cached(spark, t["documents"], sf_dir)
    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(fn, spark, sf_dir) for fn, *_ in specs]
        parts = [_melt(f.result(), sec, key, nums, strs)
                 for f, (_fn, sec, key, nums, strs) in zip(futs, specs)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "row_key", "metric")


CORPUS_PROFILE_SUITE_ORACLE = (
    "SELECT * FROM ("
    + _melt_sql(TEXT_REPETITION_ORACLE, "repetition", "doc_id",
                ["n_words", "n_distinct_words", "distinct_word_ratio",
                 "dup_word_char_frac", "top_2gram_char_frac",
                 "dup_2gram_char_frac", "word_entropy", "is_repetitive"])
    + " UNION ALL "
    + _melt_sql(TEXT_GOPHER_ORACLE, "gopher", "doc_id",
                ["n_words", "mean_word_len", "symbol_word_ratio",
                 "bullet_line_frac", "ellipsis_line_frac",
                 "alpha_word_frac", "n_stop_present", "gopher_keep"])
    + " UNION ALL "
    + _melt_sql(TEXT_C4_ORACLE, "c4", "doc_id",
                ["n_lines", "n_lines_kept", "n_sentences", "c4_keep"],
                ("clean_md5",))
    + " UNION ALL "
    + _melt_sql(TOKEN_HISTOGRAM_ORACLE, "histogram", "bucket_lo",
                ["n_docs", "min_tokens", "max_tokens", "avg_tokens",
                 "sum_chars"])
    + " UNION ALL "
    + _melt_sql(SEQUENCE_PACK_ORACLE, "pack", "doc_id",
                ["n_tokens", "start_offset", "end_offset", "first_chunk",
                 "last_chunk", "n_chunks"])
    + " UNION ALL "
    + _melt_sql(CONTAMINATION_ORACLE, "contamination", "doc_id",
                ["n_shingles", "n_contaminated", "contam_frac",
                 "is_contaminated"])
    + " UNION ALL "
    + _melt_sql(DUP_SPANS_ORACLE, "dup_spans", "doc_id",
                ["n_spans", "n_dup_spans", "dup_span_frac"])
    + " UNION ALL "
    + _melt_sql(DOC_CHUNKS_ORACLE, "chunks", "ck",
                ["start_tok", "end_tok", "n_chunk_tokens"], ("chunk_md5",))
    + " UNION ALL "
    + _melt_sql(TOKEN_IDS_ORACLE, "token_ids", "doc_id",
                ["n_tokens", "n_oov", "oov_frac", "n_distinct_ids",
                 "ids_checksum"])
    + " UNION ALL "
    + _melt_sql(DOC_SKYLINE_ORACLE, "skyline", "doc_id",
                ["n_chars", "n_tokens"])
    + " UNION ALL "
    + _melt_sql(TOKEN_HEAVY_ORACLE, "heavy", "rank",
                ["cnt", "frac"], ("token",))
    + " UNION ALL "
    + _melt_sql(CORPUS_ZIPF_ORACLE, "zipf", "grp",
                ["slope", "intercept", "r2", "n_types", "n_tokens", "ttr"])
    + " UNION ALL "
    + _melt_sql(ENCODING_PROFILE_ORACLE, "encoding", "doc_id",
                ["n_replacement", "n_ctrl", "mojibake_hits", "nonascii_frac",
                 "is_suspect"])
    + " UNION ALL "
    + _melt_sql(DOMAIN_PROFILE_ORACLE, "domains", "dom_id",
                ["n_docs", "sum_chars", "avg_quality", "n_langs",
                 "domain_keep"], ("source",))
    + " UNION ALL "
    + _melt_sql(CDC_PROFILE_ORACLE, "cdc", "doc_id",
                ["n_chunks", "n_dup_chunks", "dup_chunk_frac",
                 "avg_chunk_len"])
    + " UNION ALL "
    + _melt_sql(ENTITY_PROFILE_ORACLE, "entities", "doc_id",
                ["n_emails", "n_urls", "n_dates", "n_numbers",
                 "any_entity"])
    + " UNION ALL "
    + _melt_sql(SPAN_REMOVAL_ORACLE, "span_removal", "doc_id",
                ["n_tokens", "n_removed", "removed_frac"], ("clean_md5",))
    + " UNION ALL "
    + _melt_sql(SPAN_ADMIT_ORACLE, "span_admit", "doc_id",
                ["n_spans", "n_known_spans", "known_frac", "admit"])
    + " UNION ALL "
    + _melt_sql(BLOOM_ORACLE, "bloom", "doc_id",
                ["n_shingles", "n_contaminated", "contam_frac",
                 "is_contaminated"])
    + " UNION ALL "
    + _melt_sql(PACK_BINS_ORACLE, "bins", "doc_id",
                ["n_tokens", "bin_id", "bin_fill", "bin_n_docs"])
    + " UNION ALL "
    + _melt_sql(BPE_IDS_ORACLE, "bpe_ids", "doc_id",
                ["n_pieces"], ("ids_checksum",))
    + " UNION ALL "
    + _melt_sql(FERTILITY_ORACLE, "fertility", "lang_id",
                ["n_docs", "n_words", "n_tokens", "n_chars", "fertility",
                 "compression"], ("lang",))
    + " UNION ALL "
    + _melt_sql(CORPUS_DIFF_ORACLE, "diff", "doc_id",
                ["token_delta"], ("status", "old_fp", "new_fp"))
    + " UNION ALL "
    + _melt_sql(HTML_EXTRACT_ORACLE, "html", "doc_id",
                ["n_chars", "n_links", "link_density"],
                ("title", "clean_md5"))
    + " UNION ALL "
    + _melt_sql(CORPUS_DRIFT_ORACLE, "drift", "mid",
                ["value_num"], ("metric", "value_str"))
    + " UNION ALL "
    + _melt_sql(URL_DEDUP_ORACLE, "urls", "doc_id",
                ["keep_id", "dup_count"], ("canonical_url",))
    + " UNION ALL "
    + _melt_sql(TABLE_STATS_ORACLE, "stats", "col_id",
                ["n_rows", "n_nulls", "ndv"],
                ("col_name", "min_val", "max_val"))
    + ") ORDER BY section, row_key, metric"
)


def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embeddings table
    to RP_OUT_DIMS dims (operators/quantization.py::random_project) —
    deterministic md5-derived Rademacher matrix, broadcast join, decimal
    sums, so the full projected values hash-verify against DuckDB."""
    from lightning_metastore_spark.operators.quantization import (
        random_project)

    t = load_tables(spark, sf_dir, ("embeddings",))
    return random_project(t["embeddings"]).orderBy("vec_id")


_RP_HEX1 = "(strpos('0123456789abcdef', substring(h, 1, 1)) - 1)"

EMBEDDING_PROJECT_ORACLE = (r"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ex AS (
  SELECT vec_id, i - 1 AS i, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) AS s(i)
), r AS (
  SELECT i, j, CASE WHEN {HEX1} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM (SELECT gi.i, gj.j,
               md5('r:' || CAST(gi.i AS VARCHAR) || ':'
                        || CAST(gj.j AS VARCHAR)) AS h
        FROM (SELECT unnest(generate_series(0,
                (SELECT MAX(i) FROM ex))) AS i) gi,
             (SELECT unnest(generate_series(0, 7)) AS j) gj)
), y AS (
  SELECT vec_id, j,
         ROUND(CAST(SUM(CAST(x * s AS DECIMAL(28,15))) AS DOUBLE)
               / SQRT(8.0), 9) AS y
  FROM ex JOIN r USING (i) GROUP BY 1, 2
)
SELECT vec_id,
""" + ",\n".join(f"       MAX(CASE WHEN j = {j} THEN y END) AS y{j}"
                 for j in range(8)) + r"""
FROM y GROUP BY vec_id ORDER BY vec_id
""").replace("{HEX1}", _RP_HEX1)


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement
    (operators/sampling.py::weighted_sample_n): 100 docs weighted by
    n_chars, deterministic md5-derived uniforms, 9dp-rounded keys."""
    from lightning_metastore_spark.operators.sampling import (
        weighted_sample_n)

    t = load_tables(spark, sf_dir, ("documents",))
    return (weighted_sample_n(t["documents"], n=100, weight_col="n_chars")
            .orderBy("sample_rank"))


WEIGHTED_SAMPLE_ORACLE = (r"""
WITH u AS (
  SELECT doc_id, n_chars, ({HEX8} + 1.0) / 4294967297.0 AS u
  FROM (SELECT doc_id, n_chars,
               md5('wsample:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE n_chars > 0)
), keyed AS (
  SELECT doc_id, n_chars, ROUND(-LN(u) / n_chars, 9) AS k FROM u
), ranked AS (
  SELECT doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT)
           AS sample_rank
  FROM keyed
)
SELECT doc_id, n_chars, sample_rank FROM ranked
WHERE sample_rank <= 100 ORDER BY sample_rank
""").replace("{HEX8}", _hexint_sql("h", 8))


def quantile_normalize_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile-rank normalization of document length
    (operators/sampling.py::quantile_normalize) — the cross-group score
    calibration step before a global keep-threshold."""
    from lightning_metastore_spark.operators.sampling import (
        quantile_normalize)

    t = load_tables(spark, sf_dir, ("documents",))
    return (quantile_normalize(t["documents"], value_col="n_chars",
                               group_col="lang")
            .orderBy("doc_id"))


QUANTILE_NORMALIZE_ORACLE = """
SELECT doc_id, lang, n_chars,
       ROUND(PERCENT_RANK() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id), 9) AS pct_rank
FROM documents ORDER BY doc_id
"""


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust norm-outlier screen (operators/quantization.py::
    norm_outliers, exact percentiles for the oracle; the operator's
    scale default is the approx_percentile sketch)."""
    from lightning_metastore_spark.operators.quantization import (
        norm_outliers)

    t = load_tables(spark, sf_dir, ("embeddings",))
    return norm_outliers(t["embeddings"], k=3.0, exact=True) \
        .orderBy("vec_id")


EMBEDDING_OUTLIERS_ORACLE = r"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ex AS (
  SELECT vec_id, v[i] AS x
  FROM e, unnest(generate_series(1, len(v))) AS s(i)
), norms AS (
  SELECT vec_id,
         ROUND(SQRT(CAST(SUM(CAST(x * x AS DECIMAL(28,15))) AS DOUBLE)), 9)
           AS norm
  FROM ex GROUP BY 1
), stats AS (
  SELECT quantile_cont(norm, 0.25) AS q1,
         quantile_cont(norm, 0.5) AS med,
         quantile_cont(norm, 0.75) AS q3
  FROM norms
)
SELECT vec_id, norm,
       CASE WHEN q3 - q1 > 0 THEN ROUND((norm - med) / (q3 - q1), 6) END
         AS rz,
       CASE WHEN q3 - q1 > 0 THEN ABS((norm - med) / (q3 - q1)) > 3.0
            ELSE FALSE END AS is_outlier
FROM norms CROSS JOIN stats
ORDER BY vec_id
"""


def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (tau=0.5) language-mixture resampling
    (operators/sampling.py::temperature_resample): the weight vector is
    DERIVED from corpus counts via the integer-frozen sqrt path, so the
    keep decisions are engine-exact — the DuckDB twin re-derives the
    same smoothed weights with the same fixed evaluation order."""
    from lightning_metastore_spark.operators.sampling import (
        temperature_resample)

    t = load_tables(spark, sf_dir, ("documents",))
    return (temperature_resample(t["documents"], tau=0.5, target_frac=0.6)
            .orderBy("doc_id"))


TEMPERATURE_MIXTURE_ORACLE = r"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY 1
), weights AS (
  SELECT lang, n_g,
         CAST(round(sqrt(CAST(n_g AS DOUBLE)) * 1e9) AS BIGINT) AS s_g
  FROM counts
), tot AS (
  SELECT SUM(s_g) AS s_total, SUM(n_g) AS n_total FROM weights
), rated AS (
  SELECT d.doc_id, d.lang,
         LEAST(CAST(1.0 AS DOUBLE),
               CAST(0.6 AS DOUBLE)
               * (CAST(s_g AS DOUBLE) / CAST(s_total AS DOUBLE))
               * CAST(n_total AS DOUBLE) / CAST(n_g AS DOUBLE)) AS rate
  FROM documents d JOIN weights USING (lang) CROSS JOIN tot
)
SELECT doc_id, lang, ROUND(rate, 6) AS keep_rate,
       CASE WHEN rate >= 1.0 THEN TRUE
            ELSE substring(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < lpad(lower(to_hex(CAST(floor(rate * 4294967296.0)
                                          AS BIGINT))), 8, '0') END AS kept
FROM rated ORDER BY doc_id
"""


def budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget prefix selection (operators/sampling.py::
    budget_select): docs taken in (score DESC, id) order until the
    running token total exceeds the budget. The score is an md5-derived
    integer-valued uniform so both engines order identically; the twin
    is the SINGLE-PARTITION window the operator's blocked prefix sum
    must equal bit-for-bit at any block count or partitioning."""
    from lightning_metastore_spark.operators.sampling import budget_select

    t = load_tables(spark, sf_dir, ("documents",))
    scored = t["documents"].withColumn(
        "score_u",
        F.conv(F.substring(
            F.md5(F.concat(F.lit("bsel:"), F.col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("double"))
    return (budget_select(scored, budget_tokens=25000, score_col="score_u",
                          n_blocks=7)
            .orderBy("doc_id"))


BUDGET_SELECTION_ORACLE = (r"""
WITH scored AS (
  SELECT doc_id, CAST({HEX8} AS DOUBLE) AS score,
         CAST(len(regexp_extract_all(coalesce(text, ''), '(\S+)', 1))
              AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, text,
               md5('bsel:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents)
), cum AS (
  SELECT doc_id, score, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, score, n_tokens, cum_tokens,
       cum_tokens <= 25000 AS selected
FROM cum ORDER BY doc_id
""").replace("{HEX8}", _hexint_sql("h", 8))


def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampled top-n (operators/sampling.py::
    dsir_select): the target corpus is the deterministic doc_id%4==0
    quarter of the table, so raw docs OUTSIDE it exercise the
    likelihood-ratio arms. Log-ratios are integer-frozen (1e-9 units)
    making per-doc log-weights exact int64 sums; the md5-Gumbel key
    is rounded to 9dp with an id tiebreak so the top-n ranking is
    engine-exact — the DuckDB twin re-derives bucket counts, the
    ratio table, Gumbel keys and ranks."""
    from lightning_metastore_spark.operators.sampling import dsir_select

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    return (dsir_select(docs, docs.filter(F.col("doc_id") % 4 == 0),
                        n=60, n_buckets=64)
            .orderBy("doc_id"))


DSIR_SELECTION_ORACLE = (r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(coalesce(text, '')), '\s+'))
           AS token
  FROM documents
), bt AS (
  SELECT doc_id, ({HEX3} % 64) AS bucket
  FROM (SELECT doc_id, md5(token) AS h FROM toks)
), ct AS (
  SELECT bucket, COUNT(*) AS c FROM bt WHERE doc_id % 4 = 0 GROUP BY 1
), cr AS (
  SELECT bucket, COUNT(*) AS c FROM bt GROUP BY 1
), nt AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM ct) + 64 AS v),
nr AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM cr) + 64 AS v),
lr AS (
  SELECT g.b AS bucket,
         CAST(round((LN((COALESCE(ct.c, 0) + 1.0) / CAST(nt.v AS DOUBLE))
                     - LN((COALESCE(cr.c, 0) + 1.0)
                          / CAST(nr.v AS DOUBLE))) * 1e9)
              AS BIGINT) AS lr
  FROM generate_series(0, 63) AS g(b)
  LEFT JOIN ct ON ct.bucket = g.b
  LEFT JOIN cr ON cr.bucket = g.b
  CROSS JOIN nt CROSS JOIN nr
), lw AS (
  SELECT bt.doc_id, SUM(lr.lr) AS lw_int
  FROM bt JOIN lr USING (bucket) GROUP BY 1
), keyed AS (
  SELECT doc_id, ROUND(lw_int * 1e-9, 9) AS log_weight,
         ROUND(lw_int * 1e-9
               + (- LN(- LN((CAST({HEX8} AS DOUBLE) + 1.0)
                            / 4294967297.0))), 9) AS k
  FROM (SELECT doc_id, lw_int,
               md5('dsir:' || CAST(doc_id AS VARCHAR)) AS hh
        FROM lw)
)
SELECT doc_id, log_weight, sample_rank FROM (
  SELECT doc_id, log_weight,
         CAST(ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS BIGINT)
           AS sample_rank
  FROM keyed
) WHERE sample_rank <= 60 ORDER BY doc_id
""").replace("{HEX3}", _hexint_sql("h", 3)).replace(
    "{HEX8}", _hexint_sql("hh", 8))


def ccnet_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'ccnet' = the CCNet terminal flow
    (lm_filter.perplexity_buckets + sampling.bucket_resample): per-lang
    head/middle/tail buckets over a deterministic proxy score (n_chars
    as double — keeps this section independent of the LM sections'
    cost) thinned at 1.0/0.5/0.1. The bucket assignment, the 9dp rank,
    the per-bucket rate AND every md5-hex keep decision hash-verify
    against the DuckDB replay."""
    from lightning_metastore_spark.operators.lm_filter import (
        perplexity_buckets)
    from lightning_metastore_spark.operators.sampling import (
        bucket_resample)

    t = load_tables(spark, sf_dir, ("documents",))
    scored = t["documents"].selectExpr(
        "doc_id", "lang", "CAST(n_chars AS DOUBLE) AS score")
    out = bucket_resample(
        perplexity_buckets(scored, score_col="score", group_col="lang"))
    return out.select("doc_id", "lang", "bucket", "rank_frac",
                      "keep_rate", "kept").orderBy("doc_id")


CCNET_BUCKET_ORACLE = r"""
WITH ranked AS (
  SELECT doc_id, lang,
         ROUND(percent_rank() OVER (
           PARTITION BY lang
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC), 9) AS rf
  FROM documents
), b AS (
  SELECT doc_id, lang, rf,
         CASE WHEN rf < (1.0 / 3.0) THEN 'head'
              WHEN rf < (2.0 / 3.0) THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM ranked
)
SELECT doc_id, lang, bucket, rf AS rank_frac,
       ROUND(CASE bucket WHEN 'head' THEN 1.0
                         WHEN 'middle' THEN 0.5 ELSE 0.1 END, 6)
         AS keep_rate,
       CASE WHEN bucket = 'head' THEN TRUE
            ELSE substring(md5('bkt:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < lpad(lower(hex(CAST(floor(
                     (CASE bucket WHEN 'middle' THEN 0.5 ELSE 0.1 END)
                     * 4294967296.0) AS BIGINT))), 8, '0')
       END AS kept
FROM b ORDER BY doc_id
"""


def sampling_quantize_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling, exact-n stratified sampling, int8
    embedding quantization, JL random projection, SemDeDup-style
    semantic dedup, weighted sampling, per-group quantile
    normalization, norm-outlier screening, temperature-smoothed
    resampling, token-budget prefix selection, DSIR importance
    resampling and the CCNet bucket-thinning terminal step in one
    melted tagged-union slot."""
    from concurrent.futures import ThreadPoolExecutor

    specs = [
        (domain_mixture, "mixture", "doc_id",
         ["keep_rate", "kept"], ("lang",)),
        (stratified_sample_fixed, "stratified", "doc_id",
         ["sample_rank"], ("lang",)),
        (embedding_quantize, "quantize", "vec_id",
         ["n_dims", "n_clipped", "max_abs_err", "mse"], ()),
        (embedding_project, "project", "vec_id",
         [f"y{j}" for j in range(8)], ()),
        (embedding_semdedup, "semdedup", "vec_id",
         ["bucket", "n_dups", "kept"], ()),
        (weighted_sample, "weighted", "doc_id",
         ["n_chars", "sample_rank"], ()),
        (quantile_normalize_gate, "qnorm", "doc_id",
         ["n_chars", "pct_rank"], ("lang",)),
        (embedding_outliers, "outliers", "vec_id",
         ["norm", "rz", "is_outlier"], ()),
        (temperature_mixture, "temperature", "doc_id",
         ["keep_rate", "kept"], ("lang",)),
        (budget_selection, "budget", "doc_id",
         ["score", "n_tokens", "cum_tokens", "selected"], ()),
        (dsir_selection, "dsir", "doc_id",
         ["log_weight", "sample_rank"], ()),
        (ccnet_bucket_sample, "ccnet", "doc_id",
         ["rank_frac", "keep_rate", "kept"], ("lang", "bucket")),
    ]
    # r17 (guide §2.6): several sections run small driver-side jobs
    # while building (quantize/project/outliers sniff dimensions and
    # collect scale tables; dsir builds the ratio table) — build the
    # sections from driver threads and union in DECLARED order, same
    # plan and result (the corpus-profile/dedup-suite pattern).
    # r18: pool capped at 3 (guide §2.6; A/B at 3 vs wider showed no
    # regression — see corpus_profile_suite).
    load_tables(spark, sf_dir, ("documents", "embeddings"))
    with ThreadPoolExecutor(max_workers=3) as ex:
        futs = [ex.submit(fn, spark, sf_dir) for fn, *_ in specs]
        parts = [_melt(f.result(), sec, key, nums, strs)
                 for f, (_fn, sec, key, nums, strs) in zip(futs, specs)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("section", "row_key", "metric")


SAMPLING_QUANTIZE_SUITE_ORACLE = (
    "SELECT * FROM ("
    + _melt_sql(DOMAIN_MIXTURE_ORACLE, "mixture", "doc_id",
                ["keep_rate", "kept"], ("lang",))
    + " UNION ALL "
    + _melt_sql(STRATIFIED_FIXED_ORACLE, "stratified", "doc_id",
                ["sample_rank"], ("lang",))
    + " UNION ALL "
    + _melt_sql(EMBEDDING_QUANTIZE_ORACLE, "quantize", "vec_id",
                ["n_dims", "n_clipped", "max_abs_err", "mse"])
    + " UNION ALL "
    + _melt_sql(EMBEDDING_PROJECT_ORACLE, "project", "vec_id",
                [f"y{j}" for j in range(8)])
    + " UNION ALL "
    + _melt_sql(EMBEDDING_SEMDEDUP_ORACLE, "semdedup", "vec_id",
                ["bucket", "n_dups", "kept"])
    + " UNION ALL "
    + _melt_sql(WEIGHTED_SAMPLE_ORACLE, "weighted", "doc_id",
                ["n_chars", "sample_rank"])
    + " UNION ALL "
    + _melt_sql(QUANTILE_NORMALIZE_ORACLE, "qnorm", "doc_id",
                ["n_chars", "pct_rank"], ("lang",))
    + " UNION ALL "
    + _melt_sql(EMBEDDING_OUTLIERS_ORACLE, "outliers", "vec_id",
                ["norm", "rz", "is_outlier"])
    + " UNION ALL "
    + _melt_sql(TEMPERATURE_MIXTURE_ORACLE, "temperature", "doc_id",
                ["keep_rate", "kept"], ("lang",))
    + " UNION ALL "
    + _melt_sql(BUDGET_SELECTION_ORACLE, "budget", "doc_id",
                ["score", "n_tokens", "cum_tokens", "selected"])
    + " UNION ALL "
    + _melt_sql(DSIR_SELECTION_ORACLE, "dsir", "doc_id",
                ["log_weight", "sample_rank"])
    + " UNION ALL "
    + _melt_sql(CCNET_BUCKET_ORACLE, "ccnet", "doc_id",
                ["rank_frac", "keep_rate", "kept"], ("lang", "bucket"))
    + ") ORDER BY section, row_key, metric"
)


PIPELINE_QUERIES: dict[str, QuerySpec] = {
    s.name: s for s in [
        QuerySpec("catalog_federated_revenue", catalog_federated_revenue,
                  CATALOG_FEDERATED_ORACLE,
                  "full catalog stack + parquet x Delta x Iceberg "
                  "federation: REGISTER -> offline Delta AND Iceberg "
                  "write/versioning -> resolver time-travel rewrite "
                  "-> spark.sql"),
        QuerySpec("catalog_usl_view", catalog_usl_view, CATALOG_USL_ORACLE,
                  "USL compile/activate/query (governed view)"),
        QuerySpec("catalog_dq_run", catalog_dq_run, CATALOG_DQ_ORACLE,
                  "RUN DQ command over a USL table"),
        QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE,
                  "exact dedup via normalized-text hash groupBy"),
        QuerySpec("dedup_neardup_suite", dedup_neardup_suite,
                  _NEARDUP_SUITE_ORACLE,
                  "ngram/minhash/simhash/incremental-batch near-dup "
                  "pairs (tagged union)"),
        QuerySpec("dedup_embedding", dedup_embedding, DEDUP_EMBEDDING_ORACLE,
                  "embedding cosine near-dup pairs"),
        QuerySpec("dedup_cluster_suite", dedup_cluster_suite,
                  DEDUP_CLUSTER_SUITE_ORACLE,
                  "CC cluster labels + per-cluster keep-best + pair-graph "
                  "PageRank + triangles/clustering (melted tagged union)"),
        QuerySpec("sample_split_assign", sample_split_assign, SAMPLE_SPLIT_ORACLE,
                  "deterministic hash-based split + stratified sampling"),
        QuerySpec("sketch_profile", sketch_profile, SKETCH_PROFILE_ORACLE,
                  "HLL++/percentile sketches, accuracy-verdict hashed"),
        QuerySpec("clean_boilerplate", clean_boilerplate,
                  CLEAN_BOILERPLATE_ORACLE,
                  "corpus-level line dedup (boilerplate removal)"),
        QuerySpec("curation_pipeline", curation_pipeline, CURATION_ORACLE,
                  "composed end-to-end corpus curation (full-row hashed)"),
        QuerySpec("text_pii_redact", text_pii_redact, PII_ORACLE,
                  "PII masking (email/ssn/phone/card)"),
        QuerySpec("text_tfidf_top_terms", text_tfidf_top_terms, TFIDF_ORACLE,
                  "top-k TF-IDF terms per document"),
        QuerySpec("ann_topk_suite", ann_topk_suite, ANN_SUITE_ORACLE,
                  "brute-force top-k + IVF recall verdicts + denoised hard-negative mining (tagged union)"),
        QuerySpec("text_quality", text_quality, TEXT_QUALITY_ORACLE,
                  "quality features + composite score + BPE-ish tokens"),
        QuerySpec("text_lang_id", text_lang_id, LANG_ID_ORACLE,
                  "language ID + normalized md5 fingerprint"),
        QuerySpec("text_lm_suite", text_lm_suite,
                  TEXT_LM_SUITE_ORACLE,
                  "unigram + interpolated-bigram + external-reference "
                  "+ order-3 Kneser-Ney LM log-prob + CCNet perplexity "
                  "buckets + the CCNet terminal flow under a SAVED KN "
                  "artifact + linear classifier inference AND training "
                  "+ BM25 scoring + positional phrase search (melted "
                  "tagged union)"),
        QuerySpec("multimodal_meta", multimodal_meta, MULTIMODAL_META_ORACLE,
                  "binary-column metadata + mapInPandas decode (hash-checked)"),
        QuerySpec("temporal_asof_join", temporal_asof_join,
                  TEMPORAL_ASOF_ORACLE,
                  "as-of join (union+forward-fill) vs DuckDB ASOF JOIN"),
        QuerySpec("temporal_range_join", temporal_range_join,
                  TEMPORAL_RANGE_ORACLE,
                  "bucketed range join vs DuckDB IEJoin"),
        QuerySpec("temporal_rollup", temporal_rollup,
                  TEMPORAL_ROLLUP_ORACLE,
                  "hypertable rollup (grouping sets) + calendar "
                  "gap-fill + rolling z-score anomaly + ordered "
                  "funnel + trailing-window actives (WAU) + cohort retention"),
        QuerySpec("stream_events", stream_events, STREAM_EVENTS_ORACLE,
                  "streamed windowed agg + exactly-once dedup == batch"),
        QuerySpec("dq_suite", dq_suite, DQ_SUITE_ORACLE,
                  "PK + FK + custom DQ checks (tagged union)"),
        QuerySpec("corpus_profile_suite", corpus_profile_suite,
                  CORPUS_PROFILE_SUITE_ORACLE,
                  "Gopher repetition + quality rules + C4 line/page rules + histogram + "
                  "packing + contamination + "
                  "chunking + tokenizer ids/fertility + skyline + heavy "
                  "hitters + Zipf fit + encoding triage + domain profile "
                  "+ CDC chunk dedup + entity census + span ops + bloom "
                  "+ diff/drift + html/urls + table stats (melted "
                  "tagged union)"),
        QuerySpec("sampling_quantize_suite", sampling_quantize_suite,
                  SAMPLING_QUANTIZE_SUITE_ORACLE,
                  "mixture resample + stratified/weighted sample + int8 "
                  "quantize + JL projection + semantic dedup + quantile "
                  "normalization + norm-outlier screen + temperature "
                  "resample + token-budget selection (melted tagged "
                  "union)"),
    ]
}


# --- per-section attribution for the melted suites -------------------------
# Several gate entries are tagged unions of independent operators (the
# 50-slot registry discipline). A suite total alone is not attributable
# round-over-round: scope growth (a new member) and a plan regression in
# an existing member read identically. SUITE_SECTIONS maps each melted
# suite to its members as standalone (spark, sf_dir) builders; bench.py
# times every section individually (after the suite run, so the shared
# _cached_df artifacts are warm and a section's time is its OWN
# incremental plan cost) and emits {suite: {section: sec}} alongside
# the suite totals.

def _lm_section(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = load_tables(spark, sf_dir, ("documents",))
        return fn(t["documents"])
    return run


def _lm_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return text_fns.phrase_search(t["documents"], "the table")


def _temporal_section(fn, **kwargs):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from lightning_metastore_spark.operators import temporal

        t = load_tables(spark, sf_dir, ("events",))
        return getattr(temporal, fn)(t["events"], **kwargs)
    return run


SUITE_SECTIONS: dict = {
    "dedup_neardup_suite": {
        "ngram": dedup_ngram_jaccard,
        "minhash": dedup_minhash_lsh,
        "simhash": dedup_simhash,
        "incremental": dedup_incremental,
    },
    "dedup_cluster_suite": {
        "labels": dedup_clusters,
        "keep_best": dedup_keep_best,
        "pagerank": dedup_pagerank,
        "triangles": dedup_triangles,
    },
    "ann_topk_suite": {
        "brute": ann_brute_force_topk,
        "ivf": ann_ivf_topk,
        "hardneg": ann_hard_negatives,
    },
    "text_lm_suite": {
        "unigram": _lm_section(text_fns.unigram_logprob),
        "bigram": _lm_section(text_fns.bigram_logprob),
        "classifier": _lm_section(text_fns.classifier_score),
        "bm25": _lm_section(text_fns.bm25_scores),
        "phrase": _lm_phrase,
        "ref_lm": _lm_section(_ref_lm_scores),
        "kn_lm": _lm_section(_kn_ref_scores),
        "clf_train": _lm_section(_clf_train_weights),
        "ppl_buckets": _lm_section(_ppl_bucket_scores),
        "kn_ccnet": _lm_section(_kn_ccnet_flow),
    },
    "temporal_rollup": {
        "rollup": _temporal_section("hypertable_rollup", ts_col="ts",
                                    key_col="event_type", value_col="value",
                                    resolutions=("hour", "day", "week")),
        "hour_fill": _temporal_section("gap_filled_hourly",
                                       method="sequence"),
        "hour_z": _temporal_section("rolling_zscore", trailing=24,
                                    min_periods=12),
        "funnel": _temporal_section("funnel_counts",
                                    stages=("view", "click", "purchase")),
        "wau": _temporal_section("rolling_active_users", window_days=7),
        "retention": _temporal_section("retention_cohorts",
                                       max_offset_days=7),
        "session": _temporal_section("sessionize", gap_minutes=30),
    },
    "dq_suite": {
        "pk": dq_pk_orders,
        "fk": dq_fk_lineitem_orders,
        "custom": dq_custom_discount,
    },
    "corpus_profile_suite": {
        "repetition": text_repetition,
        "gopher": text_gopher_rules,
        "c4": text_c4_clean,
        "histogram": token_histogram,
        "pack": sequence_pack,
        "contamination": contamination_check,
        "dup_spans": dup_span_stats,
        "chunks": doc_chunks,
        "token_ids": token_ids,
        "skyline": doc_skyline,
        "heavy": token_heavy_hitters,
        "zipf": corpus_zipf,
        "encoding": encoding_profile,
        "domains": domain_profile_gate,
        "cdc": cdc_profile,
        "entities": entity_profile,
        "span_removal": span_removal_check,
        "span_admit": span_admission_check,
        "bloom": bloom_check,
        "bins": pack_bins_check,
        "bpe_ids": bpe_ids_check,
        "fertility": fertility_check,
        "diff": corpus_diff_check,
        "html": html_extract_check,
        "drift": corpus_drift_check,
        "urls": url_dedup_check,
        "stats": table_stats_check,
    },
    "sampling_quantize_suite": {
        "mixture": domain_mixture,
        "stratified": stratified_sample_fixed,
        "quantize": embedding_quantize,
        "project": embedding_project,
        "semdedup": embedding_semdedup,
        "weighted": weighted_sample,
        "qnorm": quantile_normalize_gate,
        "outliers": embedding_outliers,
        "temperature": temperature_mixture,
        "budget": budget_selection,
        "dsir": dsir_selection,
        "ccnet": ccnet_bucket_sample,
    },
}
