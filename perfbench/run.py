#!/usr/bin/env python3
"""graft benchmark: one run of one workload, closed loop, single client.

    python3 perfbench/run.py --workload interactive_sf0.01 --seed 7 \\
        --seconds 25 --trace 0

Builds graft and the harness from source (perfbench/build.py), generates
each workload's lake once with graft's own GenData, prepares once per
source tree the expected results (a reference pass whose written results
are checked against the DuckDB oracle SQL of `SparkEntry.oracleSql`) and
an untraced base run, the base of the tracing overhead, then runs the
harness JVM: set-up, then one pass of the workload's ops,
whatever --seconds says. It checks every op it timed and prints one JSON
line last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything it writes sits under the build directory
($CARGO_TARGET_DIR, default .bench_build); the JVM's temp root there is
removed when the JVM ends. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # write nothing outside the build directory
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import checks  # noqa: E402

ROOT = build.ROOT
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RUN_TIMEOUT_S = 165
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def scale_of(workload: str) -> str:
    """A workload's lake scale, the suffix of its name."""
    return workload.rsplit("_sf", 1)[1]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap() -> str:
    """The repository's Tier-1 driver heap: half the RAM, 2 to 8 GiB."""
    kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def java(cp: str, tmp: Path, main: str, args: list, log: Path, timeout: float,
         env: dict = None) -> None:
    for d in ("local", "warehouse", "derby"):
        (tmp / d).mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{heap()}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}/local",
              f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
              f"-Dderby.system.home={tmp}/derby", "-cp", cp, main] + args)
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=tmp,
                           timeout=timeout, env={**os.environ, **(env or {})})
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-3000:])
        raise RuntimeError(f"{main} exited {r.returncode}; log: {log}")


def ensure_lake(cp: str, scale: str) -> Path:
    """GenData's deterministic lake at `scale`, generated once."""
    d = build.build_dir() / "data" / f"sf{scale}"
    stamp = build.digest([ROOT / "src/main/scala/graft/tools/GenData.scala"])
    if (d / "stamp").exists() and (d / "stamp").read_text() == stamp:
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = build.build_dir() / "tmp" / f"gendata-{os.getpid()}"
    try:
        java(cp, tmp, "graft.tools.GenData", [scale, str(d)], build.build_dir() / "logs" /
             f"gendata-sf{scale}.log", 600, {"SPARK_GRAFT_CPUS": str(cores())})
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    (d / "stamp").write_text(stamp)
    return d


def harness(cp: str, workload: str, seed: int, lake: Path, trace: bool, keep,
            results: bool = False) -> dict:
    """Run the harness JVM in a fresh temp root; `keep(result, root)` reads
    the root's outputs before the root is removed."""
    tmp = build.build_dir() / "tmp" / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    out = tmp / "result.json"
    spans = build.build_dir() / "traces" / f"{workload}-seed{seed}.jsonl"
    try:
        java(cp, tmp, "graftbench.Harness",
             ["--workload", workload, "--seed", str(seed),
              "--trace", "1" if trace else "0", "--results", "1" if results else "0",
              "--cores", str(cores()), "--lake", str(lake), "--tmp", str(tmp / "root"),
              "--out", str(out), "--spans", str(spans)],
             build.build_dir() / "logs" / f"{workload}.log", RUN_TIMEOUT_S)
        result = json.loads(out.read_text())
        keep(result, tmp / "root")
        return result
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def seeded_checks(con, root: Path) -> dict:
    """DuckDB checks of the medallion's seeded outputs: the upserted
    orders after each batch and the compacted batch log. Maps each
    check's ops to its failure (None when it passed)."""
    out, staged = root / "out", root / "staged"

    def latest(k: int) -> str:
        batches = " ".join(
            f"UNION ALL BY NAME SELECT * FROM read_parquet('{staged}/batch_{i}/*.parquet')"
            for i in range(1, k + 1))
        return (f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY o_orderkey ORDER BY _version DESC) AS rn FROM "
                f"(SELECT *, 0 AS _version FROM orders {batches})) WHERE rn = 1")
    log = " UNION ALL ".join(f"SELECT * FROM read_parquet('{staged}/batch_{i}/*.parquet')"
                             for i in (1, 2))
    return {
        ("upsert_1",): checks.check_sql(con, str(out / "orders_1"), latest(1)),
        ("upsert_2",): checks.check_sql(con, str(out / "orders_2"), latest(2)),
        ("load_batch_1", "load_batch_2", "compact"):
            checks.check_sql(con, str(out / "batches"), log),
    }


def tree_key(workload: str, scale: str) -> str:
    return f"{workload}-sf{scale}-{build.tree_digest()[:16]}"


def ensure_expected(cp: str, workload: str, scale: str, lake: Path) -> dict:
    """Fingerprints of every unseeded op from one reference pass whose
    written results were checked against the DuckDB oracle; made once
    per scale and source tree, outside every timed run."""
    path = build.build_dir() / "expected" / f"{tree_key(workload, scale)}.json"
    if path.exists():
        return json.loads(path.read_text())
    expected = {}

    def check(result: dict, root: Path) -> None:
        sql = json.loads((root / "oracle_sql.json").read_text())
        con = checks.connect(str(root / "lake"))
        for o in result["ops"]:
            if not o["seeded"]:
                why = o["error"] or (checks.check_sql(con, o["output"], sql[o["op"]])
                                     if o["op"] in sql else "no oracle SQL")
                expected[o["op"]] = {"fp": o["fp"], "ok": why is None, "why": why}
        con.close()

    result = harness(cp, workload, 0, lake, False, check, results=True)
    if not any(o["error"] for o in result["ops"]):  # keep no transient failure
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(expected, indent=1, sort_keys=True))
    return expected


def walls_dir(workload: str, scale: str) -> Path:
    """Untraced walls of this source tree, the base of the tracing overhead."""
    return build.build_dir() / "walls" / tree_key(workload, scale)


def save_wall(workload: str, scale: str, seed: int, wall: float) -> None:
    d = walls_dir(workload, scale)
    d.mkdir(parents=True, exist_ok=True)
    (d / f"seed{seed}.json").write_text(json.dumps({"wall_s": wall}))


def ensure_base(cp: str, workload: str, scale: str, lake: Path) -> None:
    """One untraced run (seed 0) of this source tree, made once, so a
    traced run has an untraced wall of the same tree to compare with."""
    if any(walls_dir(workload, scale).glob("*.json")):
        return
    res = harness(cp, workload, 0, lake, False, lambda r, root: None)
    if any(o["error"] for o in res["ops"]):
        raise RuntimeError(f"the untraced base run of {workload} failed an op")
    save_wall(workload, scale, 0, res["pass"]["wall_s"])


def untraced_wall(workload: str, scale: str) -> float:
    """Median wall_s of the untraced runs of this source tree."""
    walls = [json.loads(p.read_text())["wall_s"]
             for p in walls_dir(workload, scale).glob("*.json")]
    if not walls:
        raise RuntimeError(f"no untraced run of {workload} at sf{scale} for this tree")
    return statistics.median(walls)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; a run is always one pass of the workload's ops")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", help="lake scale override (the smoke test uses 0.001)")
    a = ap.parse_args()
    scale = a.scale or scale_of(a.workload)
    try:
        cp = build.build()
        # the first run of a checkout prepares every workload
        for w, sc in ([(a.workload, scale)] if a.scale else
                      [(w["name"], scale_of(w["name"])) for w in BENCH["workloads"]]):
            lake = ensure_lake(cp, sc)
            ensure_expected(cp, w, sc, lake)
            ensure_base(cp, w, sc, lake)
        lake = ensure_lake(cp, scale)
        expected = ensure_expected(cp, a.workload, scale, lake)
        base = untraced_wall(a.workload, scale) if a.trace else None
        found = {}

        def keep(result: dict, root: Path) -> None:
            if any(o["seeded"] for o in result["ops"]):
                con = checks.connect(str(root / "lake"))
                found["seeded"] = seeded_checks(con, root)
                con.close()

        t0 = time.time()
        res = harness(cp, a.workload, a.seed, lake, bool(a.trace), keep)
    except (SystemExit, RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    # ---- correctness of every timed op
    ops = res["ops"]
    seeded_fail = {op: why for ops_, why in found.get("seeded", {}).items()
                   for op in ops_ if why}
    failures = []
    for o in ops:
        if o["error"]:
            why = o["error"]
        elif o["seeded"]:
            why = seeded_fail.get(o["op"])
        else:
            e = expected.get(o["op"])
            why = ("no expected value" if e is None else
                   f"reference failed the oracle: {e['why']}" if not e["ok"] else
                   None if o["fp"] == e["fp"] else f"fingerprint {o['fp']} != {e['fp']}")
        if why:
            failures.append({"op": o["op"], "why": why})
    for f in failures:
        print(f"FAILED {f['op']}: {f['why']}", file=sys.stderr)

    wall = res["pass"]["wall_s"]
    if a.trace:
        metrics = dict(res["per_layer"])
        metrics["trace.overhead_s"] = wall - base
    else:
        metrics = {
            "setup_s": res["setup_s"],
            "wall_s": wall,
            "cpu_s": res["pass"]["cpu_s"],
        }
        if not failures:
            save_wall(a.workload, scale, a.seed, wall)
    declared = {m["name"]: m["unit"] for m in BENCH["per_layer" if a.trace else "end_to_end"]}
    host = {
        "workload": a.workload, "seed": a.seed, "scale": scale,
        "nproc": cores(), "heap": heap(), **res["host"],
        "graft_src_sha256": build.source_digest(), "tree_sha256": build.tree_digest(),
        "git_commit": git_commit(), "elapsed_s": round(time.time() - t0, 1),
        "failures": failures,
        "op_latency_s": [[o["op"], round(o["latency_s"], 4)] for o in ops],
    }
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not failures, "attempted": len(ops), "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }))
    return 0


def git_commit():
    """HEAD of the checkout when it is a git work tree, else None."""
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True, timeout=10)
    return r.stdout.strip() or None


if __name__ == "__main__":
    sys.exit(main())
