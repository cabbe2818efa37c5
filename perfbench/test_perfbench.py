"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py       (or: python3 perfbench/test_perfbench.py)

- the generator writes byte-identical inputs for one seed;
- a second seed writes different bytes of the same shape;
- the count metrics repeat exactly across two traced runs of one seed.

The last test runs each workload twice, traced (about ten minutes in all).
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".bench_work" / "tests"

COUNT_METRICS = {
    "star_ingest": ["etl.StarStore.jobs_per_batch", "etl.StarStore.files_per_batch",
                    "etl.StarStore.live_deltas", "ext.CacheScope.leaked_frames"],
    "curate_corpus": ["ext.Curation.build_jobs", "ext.TextStats.build_jobs",
                      "ext.Dedup.neardup_recall", "ext.CacheScope.leaked_frames"],
}


def run(*args):
    out = subprocess.run([sys.executable, str(HERE / "run.py"), *map(str, args)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, cwd=ROOT)
    if out.returncode != 0:
        raise AssertionError(f"run.py {' '.join(map(str, args))} exited {out.returncode}")
    return out.stdout


def generate(workload, seed):
    """The generated inputs, name -> bytes. A parquet file is compared
    through its row dump (`<file>.rows.tsv`): the writer orders some footer
    metadata by hash, differently in each JVM."""
    SCRATCH.mkdir(parents=True, exist_ok=True)
    out = Path(tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=SCRATCH))
    run("--gen-only", out, "--workload", workload, "--seed", seed)
    return {p.relative_to(out): p.read_bytes()
            for p in sorted(out.rglob("*"))
            if p.is_file() and not p.name.startswith(".") and p.suffix != ".parquet"}


def shape(files):
    """What must not change between seeds: the file names; the field count
    of every line (for a CSV, the separators before the quoted code list);
    and for a CSV its header and line count."""
    def fields(name, data):
        lines = data.splitlines()
        sep = b"\t" if name.suffix == ".tsv" else b","
        per_line = {line.split(b'"')[0].count(sep) for line in lines}
        return (lines[0], len(lines), per_line) if name.suffix == ".csv" else per_line
    return {name: fields(name, data) for name, data in files.items()}


class GeneratorTest(unittest.TestCase):
    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for workload in COUNT_METRICS:
            with self.subTest(workload=workload):
                a, b = generate(workload, 7), generate(workload, 7)
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_second_seed_differs_in_bytes_not_shape(self):
        for workload in COUNT_METRICS:
            with self.subTest(workload=workload):
                a, b = generate(workload, 7), generate(workload, 8)
                self.assertNotEqual(a, b)
                self.assertEqual(shape(a), shape(b))


class CountMetricsTest(unittest.TestCase):
    def test_counts_repeat_across_runs_of_one_seed(self):
        for workload, names in COUNT_METRICS.items():
            with self.subTest(workload=workload):
                runs = [json.loads(run("--workload", workload, "--seed", 3,
                                       "--seconds", 1, "--trace", 1).splitlines()[-1])
                        for _ in range(2)]
                for r in runs:
                    self.assertTrue(r["correct"])
                for name in names:
                    self.assertEqual(runs[0]["metrics"][name]["value"],
                                     runs[1]["metrics"][name]["value"], name)


if __name__ == "__main__":
    unittest.main()
