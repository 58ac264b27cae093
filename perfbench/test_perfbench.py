"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

Most tests need no Spark session. ``test_no_workload_operation_reaches_the_ordering_device``
builds every workload operation on a small generated corpus in a local
session (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import run
from checks import check_doc_refresh, check_queries
from corpus import make_base_corpus, make_refresh_corpus
from measure import normalized_digest
from spans import layer_metrics, parse_metric, union_s
from workloads import DOC_EXCLUDED, DOC_OPS, DOC_STAGES, QUERY_WORKLOADS, WORKLOADS, operations


class FixedOracles:
    """Stands in for the DuckDB oracle cache."""

    def __init__(self, digests: dict) -> None:
        self.digests = digests

    def digest(self, name: str, sql: str) -> dict:
        return self.digests[name]


def _synthetic_record() -> dict:
    spans = [
        {"layer": "build", "op": "q", "group": "build:q", "start": 0.0, "end": 2.0},
        {"layer": "exec", "op": "q", "group": "exec:q", "start": 2.0, "end": 3.0},
        {"layer": "build", "op": "chunk_breakpoints", "group": "build:chunk_breakpoints", "start": 3.0, "end": 3.5},
        {"layer": "exec", "op": "chunk_breakpoints", "group": "exec:chunk_breakpoints", "start": 3.5, "end": 6.0},
        {"layer": "export", "op": "csv_export", "group": "export:csv_export", "start": 6.0, "end": 7.0},
        {"layer": "upsert", "op": "jdbc_upsert", "group": "upsert:jdbc_upsert", "start": 7.0, "end": 9.0},
    ]
    stage = {
        "tasks": 4, "run_s": 1.0, "cpu_s": 0.5, "input_bytes": 10, "input_rows": 2, "output_bytes": 7,
        "output_rows": 1, "shuffle_read_bytes": 3, "shuffle_write_bytes": 3, "spill_bytes": 0,
    }
    jobs = [
        {"id": 0, "group": "build:q", "start": 0.5, "end": 1.0, "stages": [stage]},
        {"id": 1, "group": "exec:q", "start": 2.1, "end": 2.9, "stages": [stage]},
        {"id": 2, "group": "exec:chunk_breakpoints", "start": 3.6, "end": 5.9, "stages": [stage]},
        {"id": 3, "group": "export:csv_export", "start": 6.1, "end": 6.9, "stages": [stage]},
        {"id": 4, "group": "upsert:jdbc_upsert", "start": 7.1, "end": 7.6, "stages": [stage]},
    ]
    layers = layer_metrics(spans, jobs)
    layers.update({"python.bytes_sent": 1, "python.bytes_returned": 1, "python.rows_returned": 1})
    return {
        "layers": layers, "spans": spans, "wall_s": 9.5, "setup_s": 12.0, "cpu_s": 20.0, "peak_rss_mb": 900.0,
        "session.start_s": 5.0, "session.warmup_s": 7.0, "jvm.gc_s": 0.1,
        "storage.pinned_bytes_peak": 10, "storage.pinned_rdds_peak": 1, "sinks.jdbc_rows": 3,
    }


@pytest.mark.parametrize("trace", [False, True])
def test_every_named_metric_is_printed_with_its_unit(trace):
    spec = run.load_benchmark_spec()
    rec = _synthetic_record()
    values = run.per_layer(rec, 9.0, ["e"] * 3) if trace else rec
    metrics = run.select_metrics(spec, trace, values)
    lines = run.result_lines("w", {"a": None}, metrics)
    named = spec["per_layer"] if trace else spec["end_to_end"]
    for m in named:
        assert f"w {m['name']} = {metrics[m['name']]['value']:.6g} {m['unit']}" in lines
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["metrics"] == {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in named}


def test_unmeasured_metric_is_an_error():
    with pytest.raises(RuntimeError, match="not measured"):
        run.select_metrics(run.load_benchmark_spec(), False, {"setup_s": 1.0})


def test_benchmark_json_names_workloads_metrics_and_the_exclusion():
    spec = run.load_benchmark_spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"setup_s", "wall_s", "cpu_s"} <= {m["name"] for m in spec["end_to_end"]}
    doc_why = next(w["why"] for w in spec["workloads"] if w["name"] == "doc_refresh")
    for name in DOC_EXCLUDED:
        assert name in doc_why
    assert "open item 1" in doc_why


def test_planted_wrong_query_output_counts_as_failed():
    right = normalized_digest(["x", "y"], [(1, 0.5), (2, 1.5)])
    wrong = normalized_digest(["x", "y"], [(1, 0.5), (2, 1.6)])
    ops = {
        "good": {"raised": None, "digest": right},
        "bad": {"raised": None, "digest": wrong},
        "boom": {"raised": "ValueError: x"},
    }
    verdicts = check_queries(ops, dict.fromkeys(ops, ""), FixedOracles({"good": right, "bad": right}))
    assert verdicts["good"] is None
    assert "values differ" in verdicts["bad"]
    assert verdicts["boom"].startswith("raised")
    result = json.loads(run.result_lines("w", verdicts, {})[-1])
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 3, 2)


def _doc_refresh_record(tmp_path, readback_shift: int = 0) -> tuple[str, dict, dict]:
    """A tiny corpus, stage outputs, CSV and Derby read-back as a correct
    doc_refresh pass leaves them (docs 0-3; doc 3 is new, doc 2 updated)."""
    corpus = tmp_path / "corpus"
    make_base_corpus(str(corpus), scale=0.0)
    docs = pa.table(
        {
            "doc_id": pa.array(range(4), pa.int64()),
            "text": ["a b", "c d", "e f", "g h"],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": pa.array([10, 70, 130, 5], pa.int64()),
        }
    )
    pq.write_table(docs, corpus / "documents.parquet")
    out = tmp_path / "stages"
    tables = {
        "delta": pa.table(
            {"file_name": [f"doc_{i}.txt" for i in range(4)], "needs_process": pa.array([0, 0, 1, 1], pa.int32())}
        ),
        "sections": pa.table({"doc_id": pa.array([0], pa.int64())}),
        "chunks": pa.table({"doc_id": pa.array([0, 2, 2, 3], pa.int64()), "chunk_number": [1, 1, 2, 1]}),
        "embeddings": pa.table({"doc_id": pa.array(range(4), pa.int64())}),
    }
    digests = {}
    for stage, name in DOC_STAGES.items():
        os.makedirs(out / name)
        pq.write_table(tables[name], out / name / "part-0.parquet")
        t = tables[name]
        digests[stage] = normalized_digest(t.column_names, [tuple(r.values()) for r in t.to_pylist()])
    csv = tmp_path / "csv"
    os.makedirs(csv)
    (csv / "part-0.csv").write_text('document_id,chunk_content\n2,"x, y"\n2,z\n3,w\n')
    # doc 0 keeps its 1 preloaded chunk, doc 1 its 2; docs 2 and 3 hold the batch
    readback = [(0, 1, -1), (1, 2, -2), (2, 2 + readback_shift, 1), (3, 1, 1)]
    rec = {
        "ops": {op: {"raised": None} for op in DOC_OPS},
        "refresh": {"out_dir": str(out), "csv_dir": str(csv), "verify": {"rows": 6 + readback_shift}},
        "readback": readback,
        "sinks.jdbc_rows": 3,
    }
    return str(corpus), rec, digests


def test_doc_refresh_checks_pass_on_right_outputs(tmp_path):
    corpus, rec, digests = _doc_refresh_record(tmp_path)
    verdicts = check_doc_refresh(corpus, rec, dict.fromkeys(DOC_STAGES, ""), FixedOracles(digests))
    assert verdicts == dict.fromkeys(DOC_OPS)


def test_planted_wrong_doc_refresh_outputs_count_as_failed(tmp_path):
    corpus, rec, digests = _doc_refresh_record(tmp_path, readback_shift=1)
    digests["chunk_breakpoints"] = normalized_digest(["doc_id", "chunk_number"], [(9, 1)])
    verdicts = check_doc_refresh(corpus, rec, dict.fromkeys(DOC_STAGES, ""), FixedOracles(digests))
    assert verdicts["chunk_breakpoints"] and "values differ" in verdicts["chunk_breakpoints"]
    assert verdicts["jdbc_upsert"] and verdicts["jdbc_upsert"].startswith("jdbc:")
    assert verdicts["catalog_delta"] is None and verdicts["csv_export"] is None
    result = json.loads(run.result_lines("doc_refresh", verdicts, {})[-1])
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 6, 2)


def test_digest_ignores_row_and_column_order():
    a = normalized_digest(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = normalized_digest(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b


def test_seed_reproduces_corpus_and_operation_order(tmp_path):
    bases = []
    for name in ("b1", "b2"):
        make_base_corpus(str(tmp_path / name), scale=0.01)
        bases.append({t: pq.read_table(tmp_path / name / t) for t in os.listdir(tmp_path / name)})
    assert bases[0] == bases[1]
    docs = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        n = make_refresh_corpus(str(tmp_path / "b1"), str(tmp_path / name), seed, copies=2)
        docs.append(pq.read_table(tmp_path / name / "documents.parquet").to_pylist())
        assert n == len(docs[-1])
    assert docs[0] == docs[1]
    assert docs[0] != docs[2]
    assert sorted(r["doc_id"] for r in docs[0]) == list(range(len(docs[0])))
    assert all(r["n_chars"] == len(r["text"]) for r in docs[0])
    for workload in WORKLOADS:
        assert operations(workload, 3) == operations(workload, 3)
        assert len({tuple(operations(workload, s)) for s in range(10)}) > 1
    for workload, names in QUERY_WORKLOADS.items():
        assert sorted(operations(workload, 3)) == sorted(names)
    assert sorted(operations("doc_refresh", 3)) == sorted(DOC_OPS)
    assert operations("doc_refresh", 3)[-2:] == ["csv_export", "jdbc_upsert"]


def test_refresh_corpus_refuses_ids_in_the_ghost_range(tmp_path):
    make_base_corpus(str(tmp_path / "base"), scale=0.01)
    with pytest.raises(ValueError, match="ghost"):
        make_refresh_corpus(str(tmp_path / "base"), str(tmp_path / "out"), 1, copies=10_000)


def test_layer_metrics_split_build_exec_and_doc_layers():
    layers = _synthetic_record()["layers"]
    assert layers["build.s"] == pytest.approx(2.5)
    assert layers["build.eager_jobs"] == 1
    assert layers["build.eager_job_s"] == pytest.approx(0.5)
    assert layers["build.driver_s"] == pytest.approx(2.0)
    assert layers["exec.s"] == pytest.approx(1.0 + 2.5 + 1.0 + 2.0)
    assert layers["exec.jobs"] == 4
    assert layers["doc.chunks_s"] == pytest.approx(3.0)
    assert layers["doc.delta_s"] == 0
    assert layers["sinks.parquet_rows"] == 1
    assert layers["sinks.csv_rows"] == 1
    assert layers["sinks.jdbc_stage_s"] == pytest.approx(0.5)
    assert layers["sinks.jdbc_merge_s"] == pytest.approx(1.5)


def test_parse_metric_and_union():
    assert parse_metric("1,000") == 1000
    assert parse_metric("total (min, med, max (stageId: taskId))\n8.5 KiB (2.8 KiB, 2.8 KiB)") == 8.5 * 1024
    assert parse_metric("0.0 B") == 0
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4


# --- the ordering device (needs a Spark session) ----------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from iris_project_database_refresh_spark.session import get_session

    s = get_session("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _build_all(spark, sf_dir: str, names) -> None:
    from iris_project_database_refresh_spark.functions import plan_memo
    from iris_project_database_refresh_spark.plans import QUERIES

    from measure import stage_builders

    builders = {**QUERIES, **stage_builders()}
    for name in names:
        # a memoized builder would hide its second caller
        plan_memo._CACHE.clear()
        builders[name](spark, sf_dir)


def test_no_workload_operation_reaches_the_ordering_device(spark, tmp_path):
    from guard import device_guard
    from iris_project_database_refresh_spark.operators import packing

    sf_dir = str(tmp_path / "corpus")
    make_base_corpus(sf_dir, scale=0.05)
    names = [*DOC_STAGES, *(q for qs in QUERY_WORKLOADS.values() for q in qs)]
    with device_guard() as calls:
        # the guard wraps packing's module-level import too
        assert getattr(packing.global_cumsum, "__wrapped__", None) is not None
        _build_all(spark, sf_dir, names)
        assert calls == []
        # and it sees a known caller
        _build_all(spark, sf_dir, ["catalog_merge"])
        assert set(calls) == {"sequential_ids"}
    assert getattr(packing.global_cumsum, "__wrapped__", None) is None
