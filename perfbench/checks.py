"""Output checks against the DuckDB oracles, run after the timed pass.

Queries and doc_refresh stages compare with ``plans.registry.ORACLES``
under the tests' normalization (row count plus an order-insensitive
value hash). The DuckDB side depends only on the oracle SQL and the
corpus files, so its digest is cached on disk under that input
signature.

doc_refresh's sinks are checked against the stage outputs they read:
the CSV holds exactly the batch (the chunks of ``needs_process = 1``
documents), and after the upsert a read-back of the Derby target has,
per document, the batch's chunks for re-processed documents and the
preloaded stale chunks for every other catalogued document.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyarrow as pa

from corpus import TABLES
from measure import PRELOAD_CHUNKS, PRELOAD_WHERE, normalized_digest
from workloads import DOC_STAGES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def corpus_signature(sf_dir: str) -> str:
    """Content hash of the corpus files."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:24]


class OracleCache:
    """DuckDB oracle digests, computed once per (SQL, corpus) signature."""

    def __init__(self, cache_dir: str, sf_dir: str) -> None:
        self.cache_dir = cache_dir
        self.sf_dir = sf_dir
        self._corpus = corpus_signature(sf_dir)
        self._con = None

    def digest(self, name: str, sql: str) -> dict:
        sig = hashlib.sha256(f"{sql}\0{self._corpus}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{sig}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = connect(self.sf_dir)
        rel = self._con.execute(sql)
        d = normalized_digest([c[0] for c in rel.description], rel.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)
        return d

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def mismatch(got: dict, want: dict) -> str | None:
    if got == want:
        return None
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']}, oracle {want['columns']}"
    return f"{got['rows']} rows, oracle {want['rows']} rows, values differ"


def check_queries(ops: dict, oracles: dict[str, str], cache) -> dict[str, str | None]:
    """Per query: None when it ran and matches its oracle, else why not."""
    out: dict[str, str | None] = {}
    for name, op in ops.items():
        if op.get("raised"):
            out[name] = f"raised {op['raised']}"
        else:
            out[name] = mismatch(op["digest"], cache.digest(name, oracles[name]))
    return out


def check_doc_refresh(corpus_dir: str, rec: dict, oracles: dict[str, str], cache) -> dict[str, str | None]:
    """Per doc_refresh operation: None when its output checks pass, else
    why not."""
    out: dict[str, str | None] = {op: f"raised {v['raised']}" if v["raised"] else None for op, v in rec["ops"].items()}
    refresh = rec["refresh"]
    con = connect(corpus_dir)
    try:

        def written(name: str) -> str:
            return f"read_parquet('{refresh['out_dir']}/{name}/*.parquet')"

        for stage, name in DOC_STAGES.items():
            if out[stage] is None:
                rel = con.execute(f"SELECT * FROM {written(name)}")
                got = normalized_digest([c[0] for c in rel.description], rel.fetchall())
                out[stage] = mismatch(got, cache.digest(stage, oracles[stage]))
        if out["csv_export"] is not None and out["jdbc_upsert"] is not None:
            return out

        con.execute(
            f"""CREATE TEMP TABLE batch AS
            SELECT c.doc_id, count(*) AS n FROM {written('chunks')} c
            JOIN {written('delta')} d ON d.file_name = 'doc_' || c.doc_id || '.txt'
            WHERE d.needs_process = 1 GROUP BY c.doc_id"""
        )
        batch_rows = con.execute("SELECT coalesce(sum(n), 0) FROM batch").fetchone()[0]
        if out["csv_export"] is None:
            csv_rows = con.execute(
                f"SELECT count(*) FROM read_csv('{refresh['csv_dir']}/*.csv', header = true, escape = '\\')"
            ).fetchone()[0]
            if csv_rows != batch_rows:
                out["csv_export"] = f"csv: {csv_rows} rows, batch {batch_rows}"
        if out["jdbc_upsert"] is None:
            con.execute(
                f"""CREATE TEMP TABLE expected AS
                SELECT doc_id, n, 1 AS first FROM batch
                UNION ALL
                SELECT doc_id, {PRELOAD_CHUNKS}, -({PRELOAD_CHUNKS}) FROM documents
                WHERE {PRELOAD_WHERE} AND doc_id NOT IN (SELECT doc_id FROM batch)"""
            )
            cols = list(zip(*rec["readback"])) or [(), (), ()]
            readback = pa.table({k: pa.array(v, pa.int64()) for k, v in zip(("doc_id", "n", "first"), cols)})
            con.register("readback", readback)
            differ = con.execute(
                "SELECT count(*) FROM ((SELECT * FROM readback EXCEPT SELECT * FROM expected) "
                "UNION ALL (SELECT * FROM expected EXCEPT SELECT * FROM readback))"
            ).fetchone()[0]
            want = con.execute("SELECT sum(n) FROM expected").fetchone()[0]
            got = refresh["verify"]["rows"]
            if got != want or differ:
                out["jdbc_upsert"] = f"jdbc: target has {got} rows, expected {want}; {differ} documents differ"
            elif rec["sinks.jdbc_rows"] != batch_rows:
                out["jdbc_upsert"] = f"jdbc: staged {rec['sinks.jdbc_rows']} rows, batch {batch_rows}"
    finally:
        con.close()
    return out
