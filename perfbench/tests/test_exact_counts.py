"""Counts used as claim evidence must repeat exactly: Spark jobs per
query (curation) and rollup files written per merge (ingest_mixed),
across two traced runs of the same seed. Each case runs the benchmark
twice end to end (about a minute per run on 4 cores)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _traced_run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", "1"]  # fmt: skip
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert json.loads(p.stdout.strip().splitlines()[-1])["correct"]
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace1.json")) as fh:
        return json.load(fh)


# q341's k-means launches 29 or 30 jobs per call, even between calls in
# one session, so its count is not claim evidence; it may differ by one.
VARIABLE_JOBS = {"q341_semdedup_kmeans_verdicts"}


def test_jobs_per_query_repeat():
    def jobs(detail):
        return {r["name"]: r["jobs"] for r in detail["ops"] if r["traced"]}

    a, b = jobs(_traced_run("curation", 21)), jobs(_traced_run("curation", 21))
    assert a and a.keys() == b.keys()
    assert {k: v for k, v in a.items() if k not in VARIABLE_JOBS} == {
        k: v for k, v in b.items() if k not in VARIABLE_JOBS
    }
    assert all(abs(a[k] - b[k]) <= 1 for k in VARIABLE_JOBS)


def test_files_written_per_merge_repeat():
    def files(detail):
        return {
            (r["pass_no"], r["batch"]): r["files_written"]
            for r in detail["ops"]
            if r["kind"] == "merge"
        }

    a, b = files(_traced_run("ingest_mixed", 21)), files(_traced_run("ingest_mixed", 21))
    common = sorted(set(a) & set(b))
    assert len(common) >= 5
    assert [a[k] for k in common] == [b[k] for k in common]
