"""Benchmark self-test. From the root of a checkout:

    python3 benchmark/selftest.py

Checks the gate on hand-made outcomes (no Spark), then runs every
workload at a tiny size: untraced and traced runs must print exactly the
metrics BENCHMARK.json names, each with its unit, and a run whose oracle
expectations are deliberately wrong must exit non-zero with no result.
Takes a few minutes (six Spark sessions).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import gate  # noqa: E402
from posik_engine_spark.oracle import build_oracle_index  # noqa: E402


class _Resp:
    def __init__(self, terms, hits):
        self.surviving_terms = terms
        self.hits = [(d, "", "", "", "", 1.0, s) for d, s in hits]


def check_gate() -> None:
    rows = [
        {"doc_id": 1, "repo": "r", "path": "a.py", "content": "alpha beta"},
        {"doc_id": 2, "repo": "r", "path": "b.py", "content": "alpha gamma gamma"},
        {"doc_id": 3, "repo": "r", "path": "c.py", "content": "delta"},
    ]
    ix = build_oracle_index(rows)
    want = gate.expected_outcome(ix, "alpha")
    assert want[0] == "hits" and len(want[2]) == 2, want
    right = gate.outcome_of(lambda: _Resp(list(want[1]), list(want[2])))
    assert gate.query_mismatches({"alpha": {right}}, ix) == ([], 0)
    (d, s), rest = want[2][0], list(want[2][1:])
    wrong = gate.outcome_of(lambda: _Resp(list(want[1]), [(d, math.nextafter(s, 0.0))] + rest))
    assert gate.query_mismatches({"alpha": {wrong}}, ix)[0], "gate accepted a 1-ulp score error"
    assert gate.query_mismatches({"alpha": {right}}, ix, perturb=True)[0], "perturbed oracle accepted"
    raised = ("raised", "RuntimeError: boom")  # what a query that raised records
    assert gate.query_mismatches({"alpha": {raised}}, ix)[0], "gate accepted a raised query"
    err = gate.expected_outcome(ix, "zzz")
    assert err[0] == "error" and gate.query_mismatches({"zzz": {err}}, ix) == ([], 0)
    counts = gate.oracle_counts(ix)
    assert counts == {"docs_tokenized": 3, "postings_emitted": 10, "terms": 7}, counts
    assert gate.count_mismatches(dict(counts, terms=6), counts)
    print("gate: ok")


def _run(workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "2", "--trace", str(trace), "--tiny", *extra,
    ]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=300)


def check_workloads() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    names = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            p = _run(w, trace)
            assert p.returncode == 0, f"{w} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
            res = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["attempted"] >= 1 and res["failed"] == 0, res
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            assert got == names[trace], f"{w} trace={trace}: {sorted(set(got) ^ set(names[trace]))}"
            if trace:
                assert res["metrics"]["spark.jobs_per_query"]["value"] == 0.0, res["metrics"]
            print(f"{w} trace={trace}: {len(got)} metrics ok")
        p = _run(w, 0, "--corrupt")
        assert p.returncode != 0, f"{w}: gate accepted a wrong oracle"
        assert '"metrics"' not in p.stdout, f"{w}: printed numbers after a gate failure"
        assert "correctness gate FAILED" in p.stderr, p.stderr[-3000:]
        print(f"{w}: gate rejects a wrong expected result")


if __name__ == "__main__":
    check_gate()
    check_workloads()
    print("selftest: ok")
