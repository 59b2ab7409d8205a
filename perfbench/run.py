#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curate_docs --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline); later runs reuse the build while no source
changed. The harness JVM runs the workload; this script then checks the
batch outputs against the DuckDB oracle (`tools/verify_local.py`), prints
each metric by name with its unit, and prints one JSON result as the last
line. With `--trace 1` it prints the per-layer metrics instead and writes
the per-query ledger beside the run's other files under `.bench_build/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import metrics as m

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = {"curate_docs": "batch", "warehouse_tables": "batch", "serve_profile": "serve"}
RUN_LIMIT_S = 170
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the engine's build and main sources, and
    the harness's."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile the engine and harness unless the last build saw the same
    sources; return the classpath and JVM options to launch with."""
    target = HERE / "target"
    stamp = target / "build.stamp"
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    want = digest.hexdigest()
    if not (stamp.exists() and stamp.read_text() == want and (target / "classpath.txt").exists()):
        log("building engine and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = " ".join(filter(None, [
            env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g"]))
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=840)
        stamp.write_text(want)
    opts = [o for o in (target / "javaopts.txt").read_text().split("\n") if o and not o.startswith("-Xmx")]
    return (target / "classpath.txt").read_text().strip(), opts


def input_dir():
    """The sf0.01 table directory that TESTDATA.md declares."""
    doc = ROOT / "TESTDATA.md"
    found = doc.exists() and re.search(r"`([^`]*/sf0\.01)/?`", doc.read_text())
    if not found or not Path(found.group(1)).is_dir():
        raise SystemExit("perfbench: the sf0.01 test tables named in TESTDATA.md are missing")
    return found.group(1)


def run_harness(args, data, work, deadline):
    classpath, opts = build()
    raw = work / "raw.json"
    cmd = ["java", *opts, *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
           "graft.perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
           "--data", data, "--work", str(work), "--out", str(raw)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: the harness did not finish in time")
    if code != 0:
        raise SystemExit(f"perfbench: the harness exited with code {code}")
    return json.loads(raw.read_text())


def oracle_failures(data, outputs):
    """Names of batch queries whose declared output differs from the DuckDB
    oracle, by the repository's own compare."""
    sys.path.insert(0, str(ROOT / "tools"))
    from verify_local import compare
    with contextlib.redirect_stdout(sys.stderr):
        return set(compare(data, outputs))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    data = input_dir()
    work = ROOT / ".bench_build" / "perfbench" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    t0 = time.monotonic()
    raw = run_harness(args, data, work, deadline)
    log(f"harness ran {time.monotonic() - t0:.1f} s")

    bad = {f["name"] for f in raw["failures"]}
    for f in raw["failures"]:
        log(f"FAILED {f['name']}: {f['why']}")
    kind = WORKLOADS[args.workload]
    if kind == "batch":
        t0 = time.monotonic()
        bad |= oracle_failures(data, raw["outputs"])
        log(f"oracle compare ran {time.monotonic() - t0:.1f} s")
        e2e, attempted, failed, info = m.batch_metrics(raw, bad)
    else:
        e2e, attempted, failed, info = m.serve_metrics(raw, bad)
    for op in (o for p in raw.get("passes", []) for o in p if o.get("error")):
        log(f"FAILED {op['name']}: {op['error']}")
    for r in (r for r in raw.get("requests", []) if r.get("error")):
        log(f"FAILED {r['label']}: {r['error']}")

    if args.trace:
        traced = raw["trace"]
        attempted += traced.get("traced_requests", 0)
        failed += len(traced.get("traced_failures", []))
        for f in traced.get("traced_failures", []):
            log(f"FAILED traced request {f}")
        ledger = work / "ledger.json"
        ledger.write_text(json.dumps({"workload": args.workload, "seed": args.seed, **traced}, indent=1))
        log(f"per-query ledger: {ledger}")
        wanted, values = spec["per_layer"], traced["metrics"]
    else:
        wanted, values = spec["end_to_end"], e2e

    for w in spec["end_to_end"]:
        print(f"{args.workload} {w['name']} = {e2e[w['name']]:.6g} {w['unit']}")
    for k, v in info.items():
        print(f"{args.workload} {k} = {v:.6g}")
    print(f"{args.workload} failed_share = {failed / attempted:.6g} ({failed} of {attempted})")
    print(f"{args.workload} seed = {args.seed}")
    print(json.dumps(m.result_line(wanted, values, attempted, failed)))


if __name__ == "__main__":
    main()
