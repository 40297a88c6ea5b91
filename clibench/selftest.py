"""Self-tests for the benchmark's own code; they start no Spark.

Usage (from the repository root): python3 clibench/selftest.py
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import sys
import tempfile
import time
import unittest
from pathlib import Path
from unittest import mock

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import census  # noqa: E402
import check  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
from inputs import make_inputs  # noqa: E402

TTL = (b"@prefix a: <http://a/> .\n\n"
       b"a:x a:p a:y .\na:x a:p a:z .\na:y a:q \"lit\" .\n")
TIED = b"k\tv\nA\t2\nA\t1\nB\t3\n"


def write_outputs(out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name in check.EXACT:
        (out / name).write_bytes(TTL if name == "omim.ttl" else f"h\n{name}\n".encode())
    for name in check.TIE_UNSTABLE:
        (out / name).write_bytes(TIED)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = Path(tempfile.mkdtemp())

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def read(self, d: Path) -> dict[str, bytes]:
        return {p.name: p.read_bytes() for p in sorted(d.iterdir())}

    def test_same_seed_same_bytes(self):
        make_inputs(self.tmp / "a", 3, seed=7)
        make_inputs(self.tmp / "b", 3, seed=7)
        self.assertEqual(self.read(self.tmp / "a"), self.read(self.tmp / "b"))

    def test_seed_permutes_lines_only(self):
        make_inputs(self.tmp / "a", 3, seed=7)
        make_inputs(self.tmp / "b", 3, seed=8)
        a, b = self.read(self.tmp / "a"), self.read(self.tmp / "b")
        self.assertEqual(a.keys(), b.keys())
        self.assertNotEqual(a, b)
        self.assertEqual(a["morbidmap.txt"], b["morbidmap.txt"])
        for name in a:
            self.assertEqual(sorted(a[name].split(b"\n")),
                             sorted(b[name].split(b"\n")), name)


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.out = Path(tempfile.mkdtemp())
        write_outputs(self.out)
        self.expected = check.digest_outputs(self.out)

    def tearDown(self):
        shutil.rmtree(self.out)

    def test_reference_passes(self):
        res = check.check_outputs(self.out, self.expected)
        self.assertEqual(res.errors, [])
        self.assertEqual(res.reports_total_order, 0)
        self.assertEqual(self.expected["triples"], 3)

    def test_corrupted_exact_artifact_fails(self):
        (self.out / "omim.json").write_bytes(b"h\nomim.jsoN\n")
        self.assertFalse(check.check_outputs(self.out, self.expected).ok)

    def test_missing_triple_fails(self):
        (self.out / "omim.ttl").write_bytes(TTL.rsplit(b"a:y", 1)[0])
        errors = check.check_outputs(self.out, self.expected).errors
        self.assertTrue(any("triples" in e for e in errors), errors)

    def test_tie_reorder_passes_and_total_order_is_counted(self):
        (self.out / "pmid_mentions.tsv").write_bytes(b"k\tv\nA\t1\nA\t2\nB\t3\n")
        res = check.check_outputs(self.out, self.expected)
        self.assertTrue(res.ok, res.errors)
        self.assertEqual(res.reports_total_order, 1)

    def test_total_order_is_column_lexicographic(self):
        # "A" < "AB" as a first column; tab sorts below "B".
        self.assertTrue(check.in_total_order(b"k\tv\nA\tz\nAB\ta\n"))
        self.assertFalse(check.in_total_order(b"k\tv\nAB\ta\nA\tz\n"))

    def test_first_column_disorder_fails(self):
        (self.out / "mondo_omim_genes.tsv").write_bytes(b"k\tv\nB\t3\nA\t2\nA\t1\n")
        self.assertFalse(check.check_outputs(self.out, self.expected).ok)

    def test_changed_tie_row_fails(self):
        (self.out / "mondo_omim_genes.tsv").write_bytes(b"k\tv\nA\t2\nA\t9\nB\t3\n")
        self.assertFalse(check.check_outputs(self.out, self.expected).ok)


class RunAccountingTest(unittest.TestCase):
    """How ``run.main`` turns ops into the result line."""

    def run_main(self, trace: int = 0, corrupt: bool = False,
                 session: bool = True) -> dict:
        tmp = Path(tempfile.mkdtemp())
        try:
            write_outputs(tmp / "ref")
            digests = tmp / "digests.json"
            digests.write_text(json.dumps({"200": check.digest_outputs(tmp / "ref")}))

            def fake_run_tree(argv, env, cwd, timeout_s, log_path):
                mode, spans = argv[2], Path(argv[3])
                out = Path(argv[argv.index("--out-dir") + 1])
                write_outputs(out)
                if corrupt:
                    (out / "review.tsv").write_bytes(b"h\ncorrupted\n")
                t = time.time()
                if session:
                    spans.write_text(json.dumps([
                        {"id": "span0", "layer": "session.get_spark",
                         "parent": None, "t0": t, "t1": t + 0.25,
                         "bytes_out": 0}]))
                wall = 2.0 if mode == "layers" else 1.5
                return proctree.TreeUsage(0, wall, 3.0, 100.0)

            argv = ["run.py", "--workload", "cli_200x", "--seed", "1",
                    "--seconds", "0", "--trace", str(trace)]
            stdout = io.StringIO()
            with mock.patch.object(proctree, "run_tree", fake_run_tree), \
                    mock.patch.object(proctree, "become_subreaper", lambda: None), \
                    mock.patch.object(run, "DIGESTS", digests), \
                    mock.patch.object(sys, "argv", argv), \
                    contextlib.redirect_stdout(stdout), \
                    contextlib.redirect_stderr(io.StringIO()):
                run.main()
            return json.loads(stdout.getvalue().strip().splitlines()[-1])
        finally:
            shutil.rmtree(tmp)

    def test_clean_op(self):
        r = self.run_main()
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 1, 0))
        self.assertEqual(r["metrics"]["cpu_s.p50"]["value"], 3.0)
        # Set-up runs from process start until the session span ends.
        self.assertAlmostEqual(r["metrics"]["setup_s"]["value"], 0.25, delta=0.1)

    def test_corrupted_op_is_failed(self):
        r = self.run_main(corrupt=True)
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (False, 1, 1))

    def test_op_without_session_is_failed(self):
        r = self.run_main(session=False)
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (False, 1, 1))

    def test_traced_run_reports_untraced_wall_and_overhead(self):
        r = self.run_main(trace=1)
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 2, 0))
        m = r["metrics"]
        self.assertEqual(m["op_s"]["value"], 1.5)
        self.assertEqual(m["trace.op_s"]["value"], 2.0)
        self.assertEqual(m["trace.overhead_s"]["value"], 0.5)
        self.assertEqual(m["cli.reports_total_order"]["value"], 0)
        declared = {x["name"] for x in json.loads(
            (HERE.parent / "BENCHMARK.json").read_text())["per_layer"]}
        self.assertEqual(set(m), declared)


class CensusTest(unittest.TestCase):
    SPANS = [
        {"id": "s0", "layer": "pipeline.build_graph", "parent": None,
         "t0": 100.0, "t1": 110.0, "bytes_out": 0},
        {"id": "s1", "layer": "operators.checkpoint.cut_lineage", "parent": "s0",
         "t0": 102.0, "t1": 106.0, "bytes_out": 0},
        {"id": "s2", "layer": "io.writers.write_tsv", "parent": None,
         "t0": 111.0, "t1": 113.0, "bytes_out": 40},
        {"id": "s3", "layer": "io.writers.write_tsv", "parent": None,
         "t0": 113.0, "t1": 114.0, "bytes_out": 2},
    ]

    @staticmethod
    def events():
        def job(jid, start, end):
            return [{"Event": "SparkListenerJobStart", "Job ID": jid,
                     "Submission Time": start * 1000},
                    {"Event": "SparkListenerJobEnd", "Job ID": jid,
                     "Completion Time": end * 1000}]

        def stage(sid, group, scope="WholeStageCodegen (1)"):
            return {"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": sid, "RDD Info": [
                        {"Scope": json.dumps({"id": "1", "name": scope})}]},
                    "Properties": {"spark.jobGroup.id": group} if group else {}}

        def task(sid, run_ms, shuffle=0, gc_ms=0):
            return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                    "Task Metrics": {"Executor Run Time": run_ms,
                                     "JVM GC Time": gc_ms,
                                     "Shuffle Write Metrics":
                                         {"Shuffle Bytes Written": shuffle}}}

        return [
            *job(1, 102.5, 105.0), stage(1, "s1"),
            task(1, 1000, shuffle=10), task(1, 1000, shuffle=5, gc_ms=200),
            *job(2, 107.0, 108.0), stage(2, "s0", scope="ArrowEvalPython"),
            task(2, 500),
            *job(3, 111.5, 112.0), stage(3, "s2"), task(3, 250),
            stage(4, None), task(4, 4000),
            stage(5, "s3"), task(5, 100),
        ]

    def test_attribution(self):
        c = census.census(self.events(), self.SPANS)
        build = c["layers"]["pipeline.build_graph"]
        cut = c["layers"]["operators.checkpoint.cut_lineage"]
        tsv = c["layers"]["io.writers.write_tsv"]
        self.assertAlmostEqual(cut["executor_s"], 2.0)
        self.assertEqual((cut["stages"], cut["tasks"], cut["shuffle_bytes"]), (1, 2, 15))
        self.assertAlmostEqual(cut["gc_s"], 0.2)
        self.assertAlmostEqual(cut["driver_s"], 4.0 - 2.5)
        # The parent span includes its child's stages.
        self.assertAlmostEqual(build["executor_s"], 2.5)
        self.assertEqual(build["stages"], 2)
        self.assertAlmostEqual(build["python_udf_s"], 0.5)
        self.assertAlmostEqual(build["driver_s"], 10.0 - 2.5 - 1.0)
        # A layer sums its spans.
        self.assertEqual(tsv["calls"], 2)
        self.assertAlmostEqual(tsv["executor_s"], 0.35)
        self.assertAlmostEqual(tsv["wall_s"], 3.0)
        self.assertEqual(tsv["bytes_out"], 42)
        # Ungrouped stages count only in the op total.
        self.assertAlmostEqual(c["total"]["executor_s"], 6.85)
        self.assertAlmostEqual(c["total"]["python_udf_s"], 0.5)


if __name__ == "__main__":
    unittest.main()
