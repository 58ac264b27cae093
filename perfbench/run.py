"""Benchmark of the refresh engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see ``workloads.py``):

* ``doc_refresh`` -- the reference's document path over a seeded 2x
  copy of the corpus documents: delta detection, sections, chunks and
  embeddings written to parquet, the CSV export of the re-processed
  documents' chunks, and their JDBC upsert into an in-process Derby
  table preloaded with the pre-refresh rows;
* ``dedup_search`` -- construction-heavy dedup / ANN / clustering
  queries.

A query's timed execution collects its output to the driver. The
outputs are small, and writing them to the noop
sink instead would need a second, untimed execution to check them,
which the run-time budget of the benchmark does not allow.

Each run is one fresh process (``measure.py``) at local[<cores>] whose
timed body is one fixed pass, the first after a fixed warm-up; its
operations run one after another. Outputs are checked against the
DuckDB oracles after the pass, and a wrong output counts as a failed
operation. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics, or
with ``--trace 1`` the per-layer metrics of a traced pass. The tracing
overhead is the traced wall minus the median untraced wall of this
workload's earlier results in the checkout, or of an untraced pass made
first when there are none.

Inputs are generated: the query workloads read one base corpus made
from a fixed seed (``corpus.py``), built once into ``perfbench/.cache/``
next to the cached oracle digests; ``--seed`` sets the operation order
and the doc_refresh corpus. Results and span files go to
``perfbench/results/``; everything else is written under
``perfbench/.work/`` and removed when the run ends.

``--seconds`` is accepted but does not size the pass: a pass is fixed
work so that runs of different commits do the same work.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "iris_project_database_refresh_spark"
sys.path[:0] = [HERE, ROOT]

from workloads import QUERY_WORKLOADS, REFRESH_COPIES, WORKLOADS, operations  # noqa: E402

PASS_TIMEOUT_S = 150
DRIVER_MEMORY_MB = 4096
ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pinned_env(work: str) -> dict:
    """The child's environment: all cores, a heap that fits the host, the
    repository importable from Python workers, and every scratch path
    (Spark local dirs, Derby's home, the warehouse, temp files) inside
    the run's own directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')} -XX:-UsePerfData"
    )
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_DRIVER_MEMORY": f"{min(DRIVER_MEMORY_MB, total_mb // 3)}m",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "TMPDIR": tmp,
            "TZ": "UTC",
        }
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def base_corpus(cache: str) -> str:
    """The query workloads' corpus, generated once per checkout."""
    from corpus import BASE_SEED, make_base_corpus

    path = os.path.join(cache, f"corpus-{BASE_SEED}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        make_base_corpus(tmp, BASE_SEED)
        os.replace(tmp, path)
    return path


def run_pass(args, trace: int, sf_dir: str, corpus_dir: str | None, work: str) -> tuple[dict, list[str]]:
    """One fresh measured process; returns its record and its Spark
    ERROR log lines."""
    pass_dir = os.path.join(work, f"pass{trace}")
    os.makedirs(pass_dir)
    out, log = os.path.join(pass_dir, "record.json"), os.path.join(pass_dir, "spark.log")
    cmd = [
        sys.executable, os.path.join(HERE, "measure.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--trace", str(trace),
        "--sf-dir", sf_dir, "--work-dir", pass_dir, "--out", out,
    ]
    if corpus_dir:
        cmd += ["--corpus-dir", corpus_dir]
    with open(log, "w") as logf:
        spawned = time.time()
        proc = subprocess.Popen(
            [*cmd, "--spawned-at", repr(spawned)], cwd=pass_dir, env=pinned_env(pass_dir),
            stdout=logf, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=PASS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"pass exceeded {PASS_TIMEOUT_S} s") from None
        finally:
            # the JVM and the Python workers share the child's session
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            wait_group_gone(proc.pid)
    with open(log) as f:
        lines = f.readlines()
    rec = {}
    if os.path.exists(out):
        with open(out) as f:
            rec = json.load(f)
    if proc.returncode != 0 or "error" in rec or not rec:
        sys.stderr.writelines(lines[-40:])
        raise RuntimeError(rec.get("error") or f"measured pass exited with {proc.returncode}")
    rec["pass_s"] = time.time() - spawned
    return rec, [line.rstrip() for line in lines if ERROR_LINE.match(line)]


def wait_group_gone(pgid: int, timeout_s: float = 30) -> None:
    """Wait until no process of the process group is left."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        left = False
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    left = os.getpgid(int(name)) == pgid
                except ProcessLookupError:
                    continue
                if left:
                    break
        if not left:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} still running after {timeout_s} s")


def untraced_wall_s(results: str, workload: str) -> float | None:
    """Median wall of the untraced results already recorded for a workload."""
    walls = []
    for name in os.listdir(results) if os.path.isdir(results) else ():
        if name.startswith(f"{workload}-s") and name.endswith("-t0.json"):
            with open(os.path.join(results, name)) as f:
                walls.append(json.load(f)["record"]["wall_s"])
    return statistics.median(walls) if walls else None


def per_layer(rec: dict, untraced_wall: float, error_lines: list[str]) -> dict:
    layers = dict(rec["layers"])
    for key in (
        "session.start_s", "session.warmup_s", "jvm.gc_s",
        "storage.pinned_bytes_peak", "storage.pinned_rdds_peak",
    ):
        layers[key] = rec[key]
    layers["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    layers["sinks.jdbc_rows"] = rec.get("sinks.jdbc_rows", 0)
    layers["log.error_lines"] = len(error_lines)
    layers["trace.overhead_s"] = rec["wall_s"] - untraced_wall
    return layers


def select_metrics(spec: dict, trace: bool, values: dict) -> dict:
    """The metrics BENCHMARK.json names for this mode, with their units."""
    named = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in named if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in named}


def result_lines(workload: str, verdicts: dict[str, str | None], metrics: dict) -> list[str]:
    """Human-readable lines, then the one-line JSON result last."""
    failed = sorted(op for op, why in verdicts.items() if why)
    lines = [f"FAILED {workload}/{op}: {verdicts[op]}" for op in failed]
    lines += [f"{workload} {name} = {m['value']:.6g} {m['unit']}" for name, m in metrics.items()]
    result = {"correct": not failed, "attempted": len(verdicts), "failed": len(failed), "metrics": metrics}
    lines.append(json.dumps(result))
    return lines


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    spec = load_benchmark_spec()
    from checks import OracleCache, check_doc_refresh, check_queries
    from corpus import make_refresh_corpus

    cache = os.path.join(HERE, ".cache")
    sf_dir = base_corpus(cache)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        corpus_dir = None
        if args.workload == "doc_refresh":
            corpus_dir = os.path.join(work, "corpus")
            make_refresh_corpus(sf_dir, corpus_dir, args.seed, REFRESH_COPIES)
        results = os.path.join(HERE, "results")
        untraced_wall = untraced_wall_s(results, args.workload) if args.trace else None
        if untraced_wall is None:
            rec, error_lines = run_pass(args, 0, sf_dir, corpus_dir, work)
            untraced_wall = rec["wall_s"]
        if args.trace:
            rec, error_lines = run_pass(args, 1, sf_dir, corpus_dir, work)

        t_check = time.time()
        oracles = OracleCache(os.path.join(cache, "oracles"), corpus_dir or sf_dir)
        try:
            if args.workload in QUERY_WORKLOADS:
                verdicts = check_queries(rec["ops"], rec["oracles"], oracles)
            else:
                verdicts = check_doc_refresh(corpus_dir, rec, rec["oracles"], oracles)
        finally:
            oracles.close()
        rec["check_s"] = time.time() - t_check
        expected = operations(args.workload, args.seed)
        if sorted(verdicts) != sorted(expected):
            raise RuntimeError(f"ran {sorted(verdicts)}, expected {sorted(expected)}")
        if args.trace:
            values = per_layer(rec, untraced_wall, error_lines)
        else:
            values = rec
        metrics = select_metrics(spec, bool(args.trace), values)

        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(f"{stem}.json", "w") as f:
            json.dump({"verdicts": verdicts, "metrics": metrics, "error_lines": error_lines, "record": rec}, f, indent=1)
        print("\n".join(result_lines(args.workload, verdicts, metrics)))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
