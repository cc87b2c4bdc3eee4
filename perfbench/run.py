#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt: the harness sources plus graft's main sources) into
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed (datagen.py), runs the harness
JVM (Main.scala) on one local Spark session with SPARK_GRAFT_CPUS cores
(default: all available), checks the outputs (checks.py), writes the full
result to .bench_build/results/, and prints two JSON lines: the workload's
named metrics, then the result line

  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

whose metrics are BENCHMARK.json's end_to_end metrics (--trace 0) or its
per_layer metrics (--trace 1). Exits 1 when a check fails, 2 when the run
cannot be made.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

WORKLOADS = ["etl_dag", "query_mix", "table_churn", "stream_upsert"]
# a run must end within 180 s after the build; query_mix, outside
# BENCHMARK.json, needs several minutes for its warm pass and check pass
RUN_LIMIT_S = {"query_mix": 600}
DEFAULT_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# the workload-named end-to-end figures, printed on the detail line
DETAIL_UNITS = {"etl_run_s": "s", "query_p50_s": "s", "query_p90_s": "s", "commit_p50_s": "s",
                "read_p50_s": "s", "read_p90_s": "s", "churn_steps_per_s": "1/s",
                "write_amp": "ratio", "space_amp": "ratio", "stream_batch_p50_s": "s",
                "stream_batch_growth": "ratio", "fail_ratio": "ratio", "live_heap_mb": "MB",
                "setup_s": "s", "op_p90_s": "s", "ops_per_s": "1/s"}


def die(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest() -> str:
    h = hashlib.sha256()
    files = sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()) + \
        sorted((HERE / "src").rglob("*.scala")) + \
        [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_build() -> str:
    """Build the harness unless the build matches the sources; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("graft sources not found: run from the root of a graft checkout")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
            return cp_file.read_text()
        print("[perfbench] building the harness (sbt)", file=sys.stderr)
        r = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=BUILD_LIMIT_S)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines or "scala-library" not in lines[-1]:
            sys.stderr.write(r.stdout[-4000:])
            die("harness build failed")
        cp_file.write_text(lines[-1].strip())
        stamp.write_text(digest)
        return lines[-1].strip()


def cpu_ticks() -> list:
    """The host's CPU time counters (/proc/stat), or [] where there are none."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list, after: list) -> float:
    """Share of the host's CPU time stolen by other guests between two reads
    of cpu_ticks(): how noisy the machine was during the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def perturb(workload: str, data: str, checks: list) -> None:
    """Make one expectation deliberately wrong (self-test of the checks)."""
    if workload == "query_mix":
        path = f"{checks[0]['dir']}/oracle_sql.json"
        oracles = json.load(open(path))
        oracles["q_order_summary"] = (f"SELECT * FROM ({oracles['q_order_summary']}) t "
                                      "WHERE o_orderkey <> 0")
        json.dump(oracles, open(path, "w"))
    elif workload == "etl_dag":
        truth = json.load(open(f"{data}/etl/truth.json"))
        truth["quarantined"] += 1
        json.dump(truth, open(f"{data}/etl/truth.json", "w"))
    else:
        for c in checks:
            if "count" in c:
                c["count"] -= 1
                break


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb-expectation", action="store_true",
                    help="self-test: make one expectation wrong; the run must fail")
    a = ap.parse_args()
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        die("BENCHMARK.json not found")
    spec = json.loads(spec_path.read_text())
    t_start = time.time()
    classpath = ensure_build()
    t_built = time.time()

    import checks as checks_mod
    import datagen

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = BUILD / "runs" / tag
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    for d in ["tmp", "spark-local", "out"]:
        (work / d).mkdir(parents=True, exist_ok=True)
    try:
        t0 = time.perf_counter()
        datagen.generate(a.workload, a.seed, str(data))
        gen_s = time.perf_counter() - t0

        env = dict(os.environ)
        nproc = len(os.sched_getaffinity(0))
        env.setdefault("SPARK_GRAFT_CPUS", str(nproc))
        out_json = work / "out" / "harness.json"
        cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
                f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
                f"-Dderby.system.home={work}",
                "-cp", classpath, "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", str(data), "--work", str(work),
                "--out", str(out_json)])
        limit = max(30.0, RUN_LIMIT_S.get(a.workload, DEFAULT_LIMIT_S) - (time.time() - t_built))
        t_jvm = time.perf_counter()
        ticks = cpu_ticks()
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded {limit:.0f} s")
        if rc != 0 or not out_json.exists():
            die(f"harness exited with {rc}")
        h = json.loads(out_json.read_text())
        jvm_s = time.perf_counter() - t_jvm
        steal = steal_share(ticks, cpu_ticks())
        t_check = time.perf_counter()

        if a.perturb_expectation:
            perturb(a.workload, str(data), h["checks"])
        fails = checks_mod.run_checks(a.workload, h["checks"], str(data))
        for f in fails[:20]:
            print(f"[perfbench] CHECK FAILED {f}", file=sys.stderr)
        attempted = h["ops"] + len(h["checks"])
        failed = h["failed"] + len(fails)
        correct = failed == 0
        check_s = time.perf_counter() - t_check

        e2e = {"setup_s": gen_s + h["setup_s"], "op_p50_s": h["op_p50_s"],
               "live_heap_mb": h["live_heap_mb"]}
        detail = {k: v for k, v in h["workload_metrics"].items() if k in DETAIL_UNITS}
        detail.update(setup_s=e2e["setup_s"], live_heap_mb=h["live_heap_mb"],
                      op_p90_s=h["op_p90_s"], ops_per_s=h["ops_per_s"],
                      fail_ratio=failed / max(1, attempted))
        if a.trace:
            layers = h["layers"]
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        stamp = {"git_sha": git_sha(), "source_digest": source_digest(), "seed": a.seed,
                 "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                 "datagen_s": gen_s, "jvm_s": jvm_s, "check_s": check_s, "steal_share": steal,
                 "run_s": time.time() - t_start, **h["env"]}
        result = {"correct": correct, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
        full = {"stamp": stamp, "result": result,
                "detail": {k: {"value": v, "unit": DETAIL_UNITS[k]} for k, v in detail.items()},
                "check_failures": fails, "harness": {k: v for k, v in h.items() if k != "checks"}}
        res_dir = BUILD / "results"
        res_dir.mkdir(exist_ok=True)
        (res_dir / f"{tag}-{int(t_start)}.json").write_text(json.dumps(full, indent=1))
        print(json.dumps({"seed": a.seed, "workload": a.workload, "detail": full["detail"]}))
        if a.trace:
            print(json.dumps({"seed": a.seed, "workload": a.workload, "layers": h["layers"],
                              "ledger": h["ledger"]}))
        print(json.dumps(result))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
