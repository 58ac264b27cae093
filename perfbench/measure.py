"""One measured pass of one workload, in a fresh process.

Run by ``perfbench/run.py`` with the environment it pins; writes one
JSON record to ``--out``. The pass is the first one after a fixed
warm-up in a fresh session, so it pays the JIT and code-generation
costs a batch refresh pays on every run, and ``plan_memo`` (which is
session-scoped) starts empty. Output checks are not done here: after
the timed pass the process only collects what the checks need.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
import traceback

from guard import device_guard
from procfs import peak_rss_mb, tree_cpu_s
from spans import Tracer, layer_metrics
from workloads import DOC_SINKS, DOC_STAGES, operations

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
TARGET_TABLE = "iris_semantic_search"
# iris_semantic_search's columns that the export carries; the embedding
# travels as its pgvector text literal. Target and staging are both
# indexed on the upsert key: the sink's DELETE ... WHERE EXISTS probes
# staging once per target row, a nested loop over the whole batch
# without the index. The sink stages with truncate=true, which keeps it.
SEARCH_DDL = (
    'CREATE TABLE {t} ("document_id" BIGINT NOT NULL, "filename" VARCHAR(64), '
    '"chapter_number" INT, "section_number" INT, "chunk_number" BIGINT, '
    '"chunk_content" CLOB, "embedding" CLOB)'
)
SEARCH_INDEX = 'CREATE INDEX {t}_doc ON {t} ("document_id")'
# Pre-refresh rows: documents already in the master catalog (the
# catalog operators' doc_id % 11 <> 3) with 1 + n_chars // 60 stale
# chunks each, numbered -1, -2, ... so a read-back tells them apart.
PRELOAD_WHERE = "doc_id % 11 <> 3"
PRELOAD_CHUNKS = "1 + CAST(floor(n_chars / 60) AS BIGINT)"


def normalized_digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count plus an order-insensitive value hash, normalized as the
    tests' oracle comparison does: columns sorted by name, floats
    rounded to 9 places, rows stringified and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(str(v))
        lines.append("\x1f".join(vals))
    lines.sort()
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(rows), "hash": h}


def warm_up(spark, sf_dir: str, work_dir: str) -> None:
    """JVM and code generation (q1, written to parquet and collected
    back, so whichever operation a pass runs first does not also pay
    the writer's and the collect path's first use), then one task per
    core through mapInPandas so the Python worker pool is spawned."""
    from iris_project_database_refresh_spark.plans import QUERIES

    path = os.path.join(work_dir, "warm_up")
    QUERIES["q1_pricing_summary"](spark, sf_dir).write.parquet(path)
    spark.read.parquet(path).collect()
    cores = spark.sparkContext.defaultParallelism
    spark.range(64).repartition(cores).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def _failure(e: BaseException) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


def run_op(ops: dict, name: str, calls: list[str], fn) -> None:
    """Run one operation; an exception or a call into the ordering
    device marks it failed, and the pass goes on."""
    before = len(calls)
    t0 = time.perf_counter()
    try:
        fn()
        ops[name] = {"raised": None}
    except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
        ops[name] = {"raised": _failure(e)}
    ops[name]["wall_s"] = time.perf_counter() - t0
    if len(calls) > before:
        ops[name]["raised"] = f"reached the ordering device: {sorted(set(calls[before:]))}"


def run_queries(spark, tracer: Tracer, names: list[str], sf_dir: str, ops: dict, calls: list[str]) -> dict:
    from iris_project_database_refresh_spark.plans import QUERIES

    outputs = {}

    def one(name: str) -> None:
        with tracer.span("build", name):
            df = QUERIES[name](spark, sf_dir)
        if tracer.enabled:
            with tracer.span("plan", name):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", name):
            outputs[name] = (df.columns, df.collect())

    for name in names:
        run_op(ops, name, calls, lambda: one(name))
    return outputs


# --- doc_refresh ---------------------------------------------------------


def stage_builders() -> dict:
    from iris_project_database_refresh_spark.operators import catalog, embeddings, sectioning

    return {
        "catalog_delta": catalog.catalog_delta,
        "section_hierarchy": sectioning.section_hierarchy,
        "chunk_breakpoints": sectioning.chunk_breakpoints,
        "embed_feature_hash": embeddings.embed_feature_hash,
    }


def batch_frame(spark, out_dir: str):
    """Chunks of the documents the delta marks ``needs_process = 1``,
    joined to their embeddings, in the export's column layout."""
    from pyspark.sql import functions as F

    def read(name: str):
        return spark.read.parquet(os.path.join(out_dir, name))

    todo = read("delta").where(F.col("needs_process") == 1).select("file_name")
    emb = read("embeddings")
    dims = sorted((c for c in emb.columns if c != "doc_id"), key=lambda c: int(c[1:]))
    emb = emb.select("doc_id", F.array(*dims).cast("array<float>").alias("embedding"))
    chunks = read("chunks").withColumn("file_name", F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt")))
    return (
        chunks.join(todo, "file_name", "left_semi")
        .join(emb, "doc_id")
        .select(
            F.col("doc_id").alias("document_id"),
            F.col("file_name").alias("filename"),
            # the synthetic documents have one chapter, and chunks are cut
            # independently of sections
            F.lit(1).alias("chapter_number"),
            F.lit(1).alias("section_number"),
            "chunk_number",
            "chunk_content",
            "embedding",
        )
    )


def derby_sink():
    from iris_project_database_refresh_spark.sinks.jdbc import JdbcUpsertSink

    return JdbcUpsertSink(
        url=DERBY_URL,
        table=TARGET_TABLE,
        key_columns=("document_id",),
        properties={"driver": DERBY_DRIVER, "truncate": "true"},
    )


def derby_query(spark, sql: str) -> list[tuple]:
    sink = derby_sink()
    conn = sink._connect(spark)
    try:
        rs = conn.createStatement().executeQuery(sql)
        n = rs.getMetaData().getColumnCount()
        rows = []
        while rs.next():
            rows.append(tuple(rs.getLong(i + 1) for i in range(n)))
        return rows
    finally:
        conn.close()


def preload_target(spark, corpus_dir: str, work_dir: str) -> int:
    """Untimed fixture: create the indexed target and staging tables and
    bulk-import the pre-refresh rows."""
    import duckdb

    path = os.path.join(work_dir, "preload.csv")
    with duckdb.connect() as con:
        con.execute(
            f"""COPY (
                SELECT doc_id, 'doc_' || doc_id || '.txt', 1, 1, -k, 'stale', '' FROM (
                    SELECT doc_id, unnest(range(1, {PRELOAD_CHUNKS} + 1)) AS k
                    FROM read_parquet('{corpus_dir}/documents.parquet') WHERE {PRELOAD_WHERE}
                )
            ) TO '{path}' (HEADER false)"""
        )
    sink = derby_sink()
    conn = sink._connect(spark)
    try:
        st = conn.createStatement()
        for t in (sink.table, sink.staging_table):
            st.execute(SEARCH_DDL.format(t=t))
            st.execute(SEARCH_INDEX.format(t=t))
        st.execute(f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '{TARGET_TABLE.upper()}', '{path}', NULL, NULL, NULL, 0)")
    finally:
        conn.close()
    return derby_query(spark, f"SELECT count(*) FROM {TARGET_TABLE}")[0][0]


def run_doc_refresh(
    spark, tracer: Tracer, order: list[str], corpus_dir: str, work_dir: str, ops: dict, calls: list[str]
) -> dict:
    from pyspark.sql import functions as F

    from iris_project_database_refresh_spark.sinks.csv_export import export_chunks_csv, pgvector_literal

    out_dir = os.path.join(work_dir, "stages")
    out = {"out_dir": out_dir, "csv_dir": os.path.join(work_dir, "csv")}
    builders = stage_builders()

    def stage(name: str) -> None:
        with tracer.span("build", name):
            df = builders[name](spark, corpus_dir)
        with tracer.span("exec", name):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, DOC_STAGES[name]))

    def export() -> None:
        with tracer.span("export", "csv_export"):
            export_chunks_csv(batch_frame(spark, out_dir), out["csv_dir"])

    def upsert() -> None:
        with tracer.span("upsert", "jdbc_upsert"):
            batch = batch_frame(spark, out_dir).withColumn("embedding", pgvector_literal(F.col("embedding")))
            out["verify"] = derby_sink().write(batch, mode="upsert")

    for name in order:
        if name in DOC_STAGES:
            run_op(ops, name, calls, lambda: stage(name))
    if any(ops[s]["raised"] for s in DOC_STAGES):
        for op in DOC_SINKS:
            ops[op] = {"raised": "skipped: a stage failed"}
        return out
    run_op(ops, "csv_export", calls, export)
    run_op(ops, "jdbc_upsert", calls, upsert)
    return out


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--corpus-dir")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()

    from iris_project_database_refresh_spark.plans import ORACLES  # the registry's import is set-up
    from iris_project_database_refresh_spark.session import get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    warm_up(spark, a.sf_dir, a.work_dir)
    t_ready = time.time()
    rec: dict = {
        "setup_s": t_ready - a.spawned_at,
        "session.start_s": t_session - a.spawned_at,
        "session.warmup_s": t_ready - t_session,
    }
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = Tracer(spark, enabled=bool(a.trace))
    ops: dict = {}
    doc = a.workload == "doc_refresh"
    try:
        if doc:
            rec["target_rows_before"] = preload_target(spark, a.corpus_dir, a.work_dir)
        rec["preload_s"] = time.time() - t_ready
        gc = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        gc0 = sum(b.getCollectionTime() for b in gc)
        with device_guard() as calls:
            cpu0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            order = operations(a.workload, a.seed)
            if doc:
                refresh = run_doc_refresh(spark, tracer, order, a.corpus_dir, a.work_dir, ops, calls)
            else:
                outputs = run_queries(spark, tracer, order, a.sf_dir, ops, calls)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        rec["peak_rss_mb"] = peak_rss_mb(jvm_pid)
        rec["jvm.gc_s"] = (sum(b.getCollectionTime() for b in gc) - gc0) / 1e3
        rec["storage.pinned_bytes_peak"] = tracer.pinned_bytes_peak
        rec["storage.pinned_rdds_peak"] = tracer.pinned_rdds_peak

        # --- untimed: what the output checks and the trace need ---
        t_post = time.perf_counter()
        if doc:
            rec["refresh"] = refresh
            if "verify" in refresh:
                readback = (
                    spark.read.format("jdbc")
                    .options(url=DERBY_URL, driver=DERBY_DRIVER)
                    .option(
                        "query",
                        f'SELECT "document_id", count(*) AS n, min("chunk_number") AS first_chunk FROM {TARGET_TABLE} '
                        'GROUP BY "document_id"',
                    )
                    .load()
                )
                rec["readback"] = [tuple(r) for r in readback.collect()]
                staging = derby_sink().staging_table
                rec["sinks.jdbc_rows"] = derby_query(spark, f"SELECT count(*) FROM {staging}")[0][0]
        else:
            for name, (columns, rows) in outputs.items():
                ops[name]["digest"] = normalized_digest(columns, [tuple(r) for r in rows])
        rec["ops"] = ops
        rec["oracles"] = {name: ORACLES[name] for name in ops if name in ORACLES}
        rec["collect_s"] = time.perf_counter() - t_post
        if tracer.enabled:
            t_read = time.perf_counter()
            jobs = tracer.jobs()
            rec["layers"] = layer_metrics(tracer.spans, jobs)
            rec["layers"].update(tracer.python_metrics({j["id"] for j in jobs}))
            rec["spans"] = tracer.spans
            rec["jobs"] = jobs
            rec["trace_read_s"] = time.perf_counter() - t_read
    except Exception:  # noqa: BLE001 — the record must say why the pass broke
        rec["error"] = traceback.format_exc()
    finally:
        with open(a.out, "w") as f:
            json.dump(rec, f, default=str)
        stop_session(spark)
    return 1 if "error" in rec else 0


if __name__ == "__main__":
    sys.exit(main())
