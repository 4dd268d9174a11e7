"""Smoke test of the benchmark: every workload once at tiny sizes, plain and
traced. Checks that every metric named in BENCHMARK.json is printed with its
unit, that ``failed_frac`` is 0 and that a traced run writes its spans.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

Takes about three minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check(workload: str, trace: int) -> None:
    spec = _spec()
    record, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[kind]}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == want, sorted(set(want) ^ set(got))
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    for name in ("setup_s", "run_s", "query_total_s", "query_p50_s", "query_p90_s"):
        assert record["end_to_end"][name]["unit"] == "s"
        assert record["end_to_end"][name]["value"] > 0, name
    assert record["failed_frac"] == {"value": 0.0, "unit": "fraction"}
    machine = record["machine"]
    assert machine["nproc"] >= 1 and set(machine["anchors"]) == {
        "hash_md5_1m_sec", "scan_lineitem_sec",
    }
    if trace:
        spans = os.path.join(HERE, "out", f"spans-{workload}-seed7-trace1.json")
        with open(spans) as f:
            names = {s["name"] for s in json.load(f)}
        assert ("run.run" if workload == "mead_ref" else "queries.exec") in names
        if workload == "mead_ref":
            for key in ("renderer", "flame", "emoca"):
                assert result["metrics"][f"inference.{key}.calls"]["value"] >= 1, key


def test_mead_ref_plain():
    check("mead_ref", 0)


def test_mead_ref_traced():
    check("mead_ref", 1)


def test_query_mix_plain():
    check("query_mix", 0)


def test_query_mix_traced():
    check("query_mix", 1)


if __name__ == "__main__":
    for w in ("mead_ref", "query_mix"):
        for t in (0, 1):
            check(w, t)
            print(f"ok {w} trace={t}", flush=True)
