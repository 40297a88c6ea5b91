"""End-to-end benchmark of the omim-spark CLI.

Usage (from the repository root):
    python3 clibench/run.py --workload cli_200x --seed 1 --seconds 20 --trace 0
    python3 clibench/run.py --record      # rewrite digests.json from this tree

Each op is one ``omim_spark.cli`` run (``--use-cache``) as a fresh
process over the seeded replica inputs of ``inputs.py``, with
``SPARK_GRAFT_CPUS`` = the usable core count unless the environment
sets it.  The op runs through ``traced_cli.py session``, which records
only when ``get_spark`` returns; the time from process start to then
(interpreter, imports, JVM and Spark session start-up) is the op's
set-up time.  Ops run back to back until ``--seconds`` have passed (at
least one).  After each op the eight artifacts are checked against
``digests.json`` (``check.py``); a mismatch or a non-zero exit makes the
op failed.  CPU seconds and peak RSS cover the whole process tree
(``proctree.py``).  ``setup_s`` is the median set-up time of the run's
ops.

With ``--trace 1`` the run makes one such op and then one through
``traced_cli.py layers`` with event logging on.  It reports the
per-layer census of ``census.py`` for the traced op, the untraced op's
wall (``op_s``), peak RSS and report order, and the tracing overhead:
the traced op's wall minus the untraced one's.

All scratch files, Spark local dirs and event logs live under
``.clibench_work/`` in the repository root and are deleted at exit.
The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import proctree
from check import CheckResult, check_outputs, digest_outputs
from proctree import TreeUsage

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = {"cli_200x": 200, "cli_400x": 400}
RUN_LIMIT_S = 170.0  # every op is killed by then, so a run ends within 180 s
DIGESTS = HERE / "digests.json"

# Per-layer metric name -> (layer, census key); "total" is the whole op.
LAYER_METRICS = {
    "session.get_spark.wall_s": ("session.get_spark", "wall_s"),
    **{
        f"pipeline.build_graph.{k}": ("pipeline.build_graph", k)
        for k in ("wall_s", "driver_s", "executor_s", "stages", "tasks",
                  "shuffle_bytes", "gc_s")
    },
    "io.readers.wall_s": ("io.readers", "wall_s"),
    "parse.wall_s": ("parse", "wall_s"),
    "entries.transform_entries.wall_s": ("entries.transform_entries", "wall_s"),
    "entries.python_udf_s": ("total", "python_udf_s"),
    "associations.wall_s": ("associations", "wall_s"),
    "triples.wall_s": ("triples", "wall_s"),
    "queries.wall_s": ("queries", "wall_s"),
    "operators.checkpoint.cut_lineage.wall_s": (
        "operators.checkpoint.cut_lineage", "wall_s"),
    "operators.checkpoint.cut_lineage.executor_s": (
        "operators.checkpoint.cut_lineage", "executor_s"),
    **{
        f"{sink}.{k}": (sink, k)
        for sink in ("io.writers.write_ttl", "io.artifacts.write_obograph_json",
                     "io.artifacts.write_sssom_tsv", "io.writers.write_tsv")
        for k in ("wall_s", "driver_s", "executor_s", "bytes_out")
    },
}


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _env(work: Path, event_dir: Path | None) -> dict[str, str]:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", event_dir.as_uri()),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            submit += ["--conf", f"{k}={v}"]
    pypath = os.environ.get("PYTHONPATH")
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=_cpus(),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(tmp),
        PYTHONPATH=str(ROOT) + (os.pathsep + pypath if pypath else ""),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )


@dataclass
class Op:
    usage: TreeUsage
    check: CheckResult | None  # None when run without expected digests
    spans: list[dict]
    events: list[Path]
    setup_s: float  # from process start until ``get_spark`` returned


def run_op(work: Path, data: Path, expected: dict | None, traced: bool,
           timeout_s: float) -> Op:
    """One CLI run as a fresh process tree."""
    out = work / "out"
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work / "local", ignore_errors=True)
    cli_args = ["--use-cache", "--data-dir", str(data), "--out-dir", str(out)]
    event_dir = work / "events" if traced else None
    if event_dir is not None:
        shutil.rmtree(event_dir, ignore_errors=True)
    spans_path = work / "spans.json"
    spans_path.unlink(missing_ok=True)
    argv = [sys.executable, str(HERE / "traced_cli.py"),
            "layers" if traced else "session", str(spans_path), *cli_args]
    started = time.time()
    usage = proctree.run_tree(argv, _env(work, event_dir), str(work),
                              timeout_s, str(work / "cli.log"))
    if usage.returncode != 0:
        log = (work / "cli.log").read_text(errors="replace")
        print(f"op exited {usage.returncode}:\n{log[-3000:]}", file=sys.stderr)
    result = check_outputs(out, expected) if expected is not None else None
    if result is not None and usage.returncode != 0:
        result.errors.append(f"exit code {usage.returncode}")
    spans = json.loads(spans_path.read_text()) if spans_path.exists() else []
    session = [s["t1"] for s in spans
               if s["layer"] == "session.get_spark" and s["t1"] is not None]
    if session:
        setup_s = session[0] - started
    else:
        setup_s = usage.wall_s
        if result is not None:
            result.errors.append("no Spark session was started")
    events = sorted(event_dir.rglob("*")) if event_dir is not None else []
    return Op(usage, result, spans, [p for p in events if p.is_file()], setup_s)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def layer_metrics(cen: dict, op_wall: float) -> dict:
    out = {}
    for name, (layer, key) in LAYER_METRICS.items():
        src = cen["total"] if layer == "total" else cen["layers"].get(layer, {})
        unit = {"wall_s": "s", "driver_s": "s", "executor_s": "s", "gc_s": "s",
                "python_udf_s": "s", "bytes_out": "bytes",
                "shuffle_bytes": "bytes"}.get(key, "count")
        out[name] = _metric(src.get(key, 0), unit)
    cores = int(_cpus())
    out["cli.executor_util"] = _metric(
        cen["total"]["executor_s"] / (op_wall * cores), "ratio")
    return out


def record() -> None:
    """Run one op per workload at seed 0 and write digests.json."""
    from inputs import make_inputs

    proctree.become_subreaper()
    digests = {}
    for name, replicas in WORKLOADS.items():
        work = ROOT / ".clibench_work" / f"record-{name}"
        make_inputs(work / "data", replicas, 0)
        op = run_op(work, work / "data", None, False, RUN_LIMIT_S)
        if op.usage.returncode != 0:
            sys.exit(f"{name}: CLI failed")
        digests[str(replicas)] = digest_outputs(work / "out")
        shutil.rmtree(work, ignore_errors=True)
    DIGESTS.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")


def main() -> None:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    for need in ("omim_spark/cli.py", "tools/pipeline_scale_probe.py",
                 "tests/conftest.py"):
        if not (ROOT / need).is_file():
            sys.exit(f"clibench: {need} not found under {ROOT}; run from a "
                     "full checkout of the repository")
    sys.path.insert(0, str(ROOT))
    if args.record:
        record()
        return
    if args.workload is None:
        ap.error("--workload is required")

    from census import census, read_events
    from inputs import make_inputs

    proctree.become_subreaper()
    replicas = WORKLOADS[args.workload]
    expected = json.loads(DIGESTS.read_text())[str(replicas)]
    work = ROOT / ".clibench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = work / "data"
        make_inputs(data, replicas, args.seed)
        ops: list[Op] = []

        def op(traced: bool) -> Op:
            o = run_op(work, data, expected, traced,
                       RUN_LIMIT_S - (time.perf_counter() - t_start))
            for e in o.check.errors:
                print(f"op {len(ops) + 1}: {e}", file=sys.stderr)
            ops.append(o)
            return o

        t_ops = time.perf_counter()
        if args.trace:
            plain, traced = op(False), op(True)
            metrics = layer_metrics(
                census(read_events(traced.events), traced.spans),
                traced.usage.wall_s,
            )
            metrics["cli.reports_total_order"] = _metric(
                plain.check.reports_total_order, "count")
            metrics["tree.peak_rss_mb"] = _metric(plain.usage.peak_rss_mb, "MB")
            metrics["op_s"] = _metric(plain.usage.wall_s, "s")
            metrics["trace.op_s"] = _metric(traced.usage.wall_s, "s")
            metrics["trace.overhead_s"] = _metric(
                traced.usage.wall_s - plain.usage.wall_s, "s")
        else:
            while not ops or time.perf_counter() - t_ops < args.seconds:
                op(False)
            metrics = {
                "cpu_s.p50": _metric(
                    statistics.median(o.usage.cpu_s for o in ops), "s"),
                "setup_s": _metric(
                    statistics.median(o.setup_s for o in ops), "s"),
            }
        failed = sum(not o.check.ok for o in ops)
        print(f"{args.workload}: {len(ops)} ops, {failed} failed, wall "
              f"{' '.join(f'{o.usage.wall_s:.1f}' for o in ops)} s, set-up "
              f"{' '.join(f'{o.setup_s:.2f}' for o in ops)} s, reports in "
              f"total order {[o.check.reports_total_order for o in ops]}",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
