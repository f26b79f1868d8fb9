#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001: runs each workload's op list
once untraced and once traced, and asserts that the result line carries
exactly the declared keys, every metric BENCHMARK.json names with its
unit, and no failed op.

    python3 perfbench/smoke.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int) -> dict:
    r = subprocess.run([sys.executable, str(ROOT / "perfbench/run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace),
                        "--scale", "0.001"], cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def main() -> int:
    for w in BENCH["workloads"]:
        for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
            res = run(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = res["metrics"]
            for m in declared:
                assert m["name"] in got, f"{w['name']}: {m['name']} missing"
                assert got[m["name"]]["unit"] == m["unit"], f"{m['name']}: unit"
                assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
            assert len(got) == len(declared), sorted(set(got) - {m["name"] for m in declared})
            print(f"ok {w['name']} trace={trace}: {res['attempted']} ops, "
                  f"{len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
