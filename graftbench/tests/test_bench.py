"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s graftbench/tests -v

They build the engine on first use and make two short real runs
(cdc_stream untraced, curate traced), about three minutes in all.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402


def strict_json(line):
    def no_constant(name):
        raise ValueError(f"non-standard JSON constant {name}")
    return json.loads(line, parse_constant=no_constant)


def bench_run(workload, seed, seconds, trace):
    """Runs the benchmark; (exit code, stdout, copy of its work dir)."""
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    keep = Path(tempfile.mkdtemp(prefix=f"graftbench-{workload}-"))
    shutil.copytree(BENCH / ".work" / "run", keep / "run")
    return p.returncode, p.stdout, keep / "run"


def same_tree(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in names)


class OutputLine(unittest.TestCase):
    """The last stdout line is strict JSON with exactly the contract keys."""

    @classmethod
    def setUpClass(cls):
        cls.rc, cls.out, cls.work = bench_run("cdc_stream", 5, 4, 0)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work.parent, ignore_errors=True)

    def test_end_to_end_line(self):
        self.assertEqual(self.rc, 0, self.out[-2000:])
        last = self.out.strip().splitlines()[-1]
        self.assertFalse(last.startswith("[info]"))
        res = strict_json(last)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(res["correct"], True)
        self.assertIsInstance(res["attempted"], int)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(list(res["metrics"]), [m[0] for m in run.END_TO_END])
        for name, unit, _ in run.END_TO_END:
            self.assertEqual(set(res["metrics"][name]), {"value", "unit"})
            self.assertEqual(res["metrics"][name]["unit"], unit)
            self.assertGreater(res["metrics"][name]["value"], 0, name)

    def test_stream_checker_passes_clean_output(self):
        notes = self.paths()
        failed, note = checks.check_stream(notes["expected"], notes["sink"])
        self.assertEqual(failed, set(), note)

    def test_stream_checker_catches_dropped_line(self):
        notes = self.paths()
        seg = self.busiest_segment(notes["sink"])
        lines = seg.read_text(encoding="utf-8").splitlines(keepends=True)
        seg.write_text("".join(lines[:1] + lines[2:]), encoding="utf-8")
        failed, _ = checks.check_stream(notes["expected"], notes["sink"])
        self.assertTrue(failed)

    def test_stream_checker_catches_swapped_lines(self):
        notes = self.paths()
        seg = self.busiest_segment(notes["sink"])
        lines = seg.read_text(encoding="utf-8").splitlines(keepends=True)
        i = next(i for i in range(len(lines) - 1) if lines[i] != lines[i + 1])
        lines[i], lines[i + 1] = lines[i + 1], lines[i]
        seg.write_text("".join(lines), encoding="utf-8")
        failed, _ = checks.check_stream(notes["expected"], notes["sink"])
        self.assertTrue(failed)

    def paths(self):
        """A private copy of the run's sink and model for one fault."""
        tmp = Path(tempfile.mkdtemp(dir=self.work.parent))
        shutil.copytree(self.work / "cdc_stream" / "run" / "sink", tmp / "sink")
        return {"expected": str(self.work / "cdc_stream" / "expected.jsonl"),
                "sink": tmp / "sink"}

    @staticmethod
    def busiest_segment(sink):
        segs = [p for p in sink.iterdir() if checks.SEGMENT.match(p.name)]
        return max(segs, key=lambda p: p.stat().st_size)


class TracedCurate(unittest.TestCase):
    """A traced curate run: per-layer line, and the manifest checker."""

    @classmethod
    def setUpClass(cls):
        cls.rc, cls.out, cls.work = bench_run("curate", 6, 4, 1)
        cls.oracle = checks.oracle_rows(
            str(cls.work / "curate" / "docs" / "documents.parquet"),
            (cls.work / "curate" / "oracle.sql").read_text(), 2)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work.parent, ignore_errors=True)

    def test_per_layer_line(self):
        self.assertEqual(self.rc, 0, self.out[-2000:])
        res = strict_json(self.out.strip().splitlines()[-1])
        self.assertEqual(list(res["metrics"]), [m[0] for m in run.PER_LAYER])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertGreater(m["dedup.candidate_pairs"], 0)
        self.assertGreater(m["curate.fused_pass_s"], 0)
        self.assertGreater(m["spark.jobs"], 0)
        spans = [strict_json(l) for l in
                 (self.work / "spans.jsonl").read_text().splitlines()]
        self.assertEqual(len(spans), m["trace.spans"])
        for s in spans:
            self.assertEqual(set(s), {"id", "name", "start_ns", "end_ns", "parent", "run"})
            self.assertLessEqual(s["start_ns"], s["end_ns"])

    def manifest(self, edit=None):
        cols, rows = checks.manifest_rows(self.work / "curate" / "actual.jsonl")
        if edit:
            edit(rows)
        return cols, rows

    def test_curate_checker_passes_clean_manifest(self):
        failed, note = checks.check_curate(self.oracle, self.manifest())
        self.assertEqual(failed, set(), note)

    def test_curate_checker_catches_wrong_row(self):
        def wrong(rows):
            rows[len(rows) // 2][2] += 1  # n_tok of one document
        failed, _ = checks.check_curate(self.oracle, self.manifest(wrong))
        self.assertEqual(len(failed), 1)

    def test_curate_checker_catches_missing_row(self):
        failed, _ = checks.check_curate(self.oracle, self.manifest(lambda rows: rows.pop()))
        self.assertEqual(len(failed), 1)


class Inputs(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed does not."""

    def test_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                corpus.write_corpus(d / name, seed, 50)
            self.assertTrue(filecmp.cmp(d / "a" / "documents.parquet",
                                        d / "b" / "documents.parquet", shallow=False))
            self.assertFalse(filecmp.cmp(d / "a" / "documents.parquet",
                                         d / "c" / "documents.parquet", shallow=False))

    def test_redo_logs(self):
        cp = run.classpath(ROOT, timeout_s=780)
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            for workload in ("cdc_stream", "cdc_backfill"):
                for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                    work = d / workload / name
                    subprocess.run(run.jvm_command(cp, work, [
                        "--mode", "gen", "--workload", workload, "--seed", str(seed),
                        "--seconds", "4"]), check=True, capture_output=True, timeout=300)
                a, b, c = (d / workload / n / "gen" for n in "abc")
                self.assertTrue(len(os.listdir(a)) > 1)
                self.assertTrue(same_tree(a, b), workload)
                self.assertFalse(same_tree(a, c), workload)


class Contract(unittest.TestCase):

    def test_backfill_checker(self):
        with tempfile.TemporaryDirectory() as d:
            want = {"count": 3, "sum": 10, "xids": {"t1": [2, 4], "t2": [1, 6]}}
            bad = {"count": 3, "sum": 11, "xids": {"t1": [2, 4], "t2": [1, 7]}}
            paths = []
            for i, doc in enumerate((want, want, bad)):
                p = Path(d) / f"{i}.json"
                p.write_text(json.dumps(doc))
                paths.append(str(p))
            self.assertEqual(checks.check_backfill(paths[0], paths[1])[0], set())
            self.assertEqual(checks.check_backfill(paths[0], paths[2])[0], {"t2"})

    def test_benchmark_json_matches_run_tables(self):
        spec_file = ROOT / "BENCHMARK.json"
        if not spec_file.exists():
            self.skipTest("no BENCHMARK.json beside the benchmark")
        spec = json.loads(spec_file.read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.PER_LAYER)

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, Path(d) / BENCH.name,
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            if (ROOT / "BENCHMARK.json").exists():
                shutil.copy(ROOT / "BENCHMARK.json", d)
            p = subprocess.run([sys.executable, f"{BENCH.name}/run.py", "--workload",
                                "cdc_stream", "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
