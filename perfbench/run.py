#!/usr/bin/env python3
"""End-to-end benchmark of the engine's gates, timed to their full output.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

One run of one workload:
  1. builds the engine and the harness with sbt when their sources changed
     (cached under .bench_build/);
  2. launches the benchmark JVM SETUP_SAMPLES times, directly on the
     compiled classpath; `setup_s` is the median time from launch to the
     moment the JVM is ready to issue its first op;
  3. in the last JVM: a cold pass (every op once, first call in the fresh
     JVM), untimed warm-up rounds of the seeded schedule (the first writes
     each op's output), then the timed rounds, in a closed loop from one
     client thread; the number of timed rounds is sized from --seconds;
  4. checks every op's output once against the DuckDB oracle with
     tools/selfcheck.py, outside the timed window;
  5. writes a result file with host evidence to .bench_build/results/ and
     prints one JSON object as the last line of stdout.

`--workload all` runs every workload in turn and prints each end-to-end
metric with its unit and sample count. `--trace 1` registers the listeners
and reports per-layer metrics instead; perfbench/report.py turns its spans
into per-layer tables.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import schedule  # noqa: E402

DATA = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata"))
SETUP_SAMPLES = 3
RUN_LIMIT_S = 165  # a run of a BENCHMARK.json workload must end within 180 s

WORKLOADS = {
    # sub-0.5 s lookups and listings: planning, codegen and job scheduling
    # dominate each op
    "api_lookups": {"sf": "sf0.1", "warmup": 2, "round_s": 3.0, "ops": [
        "q02_point_lookup", "q03_or_lookup", "q09_topk", "q10_page",
        "q12_latest_per_key", "q16_dim_join", "q18_semi_join",
        "q19_anti_join", "q42_bbox_join", "q43_point_in_polygon",
        "q60_rls_optional_filter", "q62_coord_validation", "q67_keyset_page",
        "q68_audit_user_join", "q115_list_project_files",
        "q117_upload_validation",
    ]},
    # iterative operators: many short shuffle rounds over pinned state
    "graph_rounds": {"sf": "sf0.01", "warmup": 2, "round_s": 3.7, "ops": [
        "q145_bfs_hops", "q296_kcore_peel", "q508_neardup_clusters",
    ]},
    # dedup/embedding index writes beside reads in the warehouse
    # (not in BENCHMARK.json: a run takes about three minutes)
    "index_lifecycle": {"sf": "sf0.1", "warmup": 1, "round_s": 30.0,
                        "limit_s": 600, "ops": [
        "q515_dedup_index_ingest", "q517_dedup_index_persist",
        "q522_dedup_index_rebuild", "q524_dedup_index_compact",
        "q526_emb_index_persist", "q53_dedup_corpus",
    ]},
}

# name -> unit, for the untraced run
END_TO_END = {
    "setup_s": "s", "cold_s": "s", "latency_p50_ms": "ms",
    "latency_tail_ms": "ms", "ops_per_s": "ops/s", "cpu_s_per_op": "s",
    "error_rate": "fraction", "rss_peak_mb": "MB",
}
# the end-to-end metrics BENCHMARK.json lists, with a bound each; the
# others are printed and kept in the result file
CONTRACT_E2E = ["setup_s", "cold_s", "ops_per_s", "cpu_s_per_op"]
# name -> unit, for the traced run: per steady op, then cold-pass sums
PER_OP = {
    "span.build_ms": "ms", "span.plan_ms": "ms", "span.execute_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.graft_rules_ms": "ms",
    "plan.executions": "count", "codegen.compile_ms": "ms",
    "codegen.compiles": "count", "sched.jobs": "count",
    "sched.stages": "count", "sched.stage_chain": "count",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.cpu_frac": "fraction",
    "task.sched_delay_ms": "ms", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_ms": "ms",
    "plan.exchanges": "count", "plan.broadcast_joins": "count",
    "plan.sort_merge_joins": "count", "input.bytes": "bytes",
    "input.rows": "count", "output.bytes": "bytes", "output.rows": "count",
    "spill.bytes": "bytes", "jvm.gc_ms": "ms", "blocks.leaked": "count",
}
COLD_SUMS = ["span.build_ms", "span.plan_ms", "span.execute_ms",
             "codegen.compile_ms"]
# zero on every BENCHMARK.json workload (local shuffle, noop sink): printed
# and kept in the result file, but not in BENCHMARK.json
UNLISTED_LAYER = {"shuffle.fetch_wait_ms", "output.bytes", "output.rows",
                  "spill.bytes"}

children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def stop_children(*_):
    for p in children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        p.wait()
    children.clear()


def preflight():
    needed = [ROOT / "build.sbt", ROOT / "src/main/scala/graft/SparkEntry.scala",
              ROOT / "tools/selfcheck.py", HERE / "harness/build.sbt",
              *(DATA / w["sf"] / "lineitem.parquet" for w in WORKLOADS.values())]
    missing = [str(p) for p in needed if not p.exists()]
    if missing:
        fail("missing: " + ", ".join(missing))
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project/build.properties"]
    for base in (ROOT / "src/main", HERE / "harness"):
        files += [p for p in base.rglob("*") if p.is_file()
                  and "target" not in p.relative_to(base).parts]
    for p in sorted(files):
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0")
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    opts = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            "-Dsbt.server.autostart=false")
    repos = Path.home() / ".sbt/repositories"
    if repos.exists():
        opts += f" -Dsbt.repository.config={repos}"
    return dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)


def ensure_built():
    """Compiles engine + harness when the sources changed; returns the JVM
    classpath and the engine's JVM flags (build.sbt's javaOptions)."""
    stamp = source_stamp()
    out = BUILD / "export"
    stamp_file = BUILD / "build.stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp
            and (out / "classpath.txt").exists()):
        BUILD.mkdir(parents=True, exist_ok=True)
        shutil.rmtree(out, ignore_errors=True)
        log("building engine and harness with sbt")
        with open(BUILD / "build.log", "w") as logf:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"perfbenchExport {out}"],
                cwd=HERE / "harness", env=sbt_env(), stdout=logf,
                stderr=subprocess.STDOUT, start_new_session=True)
            children.append(p)
            try:
                rc = p.wait(timeout=850)
            except subprocess.TimeoutExpired:
                rc = -1
            stop_children()
        if rc != 0:
            fail(f"build failed (see {BUILD / 'build.log'})", 3)
        stamp_file.write_text(stamp)
    cp = (out / "classpath.txt").read_text().split("\n")
    opts = [o for o in (out / "javaopts.txt").read_text().split("\n")
            if o and not o.startswith("-Xmx")]
    return stamp, ":".join(c for c in cp if c), opts


def mem_total_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return 0


def heap_gb():
    """min(8g, MemTotal/2), at least 2g -- the rule of the tier-1 command."""
    return min(8, max(2, mem_total_kb() // 2097152))


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def git_sha():
    if not (ROOT / ".git").exists():  # not a clone: don't report an enclosing repo
        return None
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def launch(run_dir, cp, jvm_opts, args, deadline):
    """Starts one benchmark JVM; returns (process, seconds to READY)."""
    cmd = ["java", *jvm_opts, f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
           "perfbench.Runner", "--cpus", str(nproc()), *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"),
               SPARK_GRAFT_WAREHOUSE="default")
    t0 = time.monotonic()
    with open(run_dir / "jvm.log", "a") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
    children.append(p)
    line = p.stdout.readline()
    ready = time.monotonic() - t0
    if line.strip() != "READY" or time.monotonic() > deadline:
        stop_children()
        fail(f"benchmark JVM did not start (see {run_dir / 'jvm.log'})", 4)
    return p, ready


def finish(p, deadline, what, check=True):
    """Waits for a child within the run's deadline; returns its stdout."""
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop_children()
        fail(f"{what} exceeded the run's time limit", 5)
    children.remove(p)
    if check and p.returncode != 0:
        fail(f"{what} failed", 4)
    return out or ""


def oracle_check(run_dir, sf_dir, deadline):
    """tools/selfcheck.py over the written outputs: {op: None | failure}."""
    p = subprocess.Popen(
        [sys.executable, str(ROOT / "tools/selfcheck.py"), str(sf_dir),
         str(run_dir / "check")], cwd=run_dir, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True)
    children.append(p)
    out = finish(p, deadline, "oracle check", check=False)  # 1 = a mismatch
    (run_dir / "selfcheck.log").write_text(out)
    verdict = {}
    for line in out.splitlines():
        if line.startswith("OK   "):
            verdict[line[5:].split(" ")[0]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdict[name] = why
    return verdict


def tail_percentile(n):
    """The highest percentile, at most p95, with at least ten of n samples
    beyond it; None when that is not above the median."""
    q = min(95, math.floor(100 * (1 - 10 / n)))
    return q if q > 50 else None


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(res, setups, verdict, ops):
    steady = res["steady"]
    lat = [s["ms"] for s in steady]
    rounds = [(sum(s["ms"] for s in steady[i:i + len(ops)]),
               sum(s["cpu_ms"] for s in steady[i:i + len(ops)]))
              for i in range(0, len(steady), len(ops))]
    calls = res["cold"] + res["warmup"] + steady
    attempted = len(calls)
    threw = sum(1 for s in calls if s["error"])
    # an op whose output-writing call threw is counted once, as thrown
    unwritten = {s["op"] for s in res["warmup"][:len(ops)] if s["error"]}
    mismatched = [op for op in ops
                  if op not in unwritten and verdict.get(op, "not checked")]
    metrics = {
        "setup_s": (statistics.median(setups), len(setups)),
        "cold_s": (sum(s["ms"] for s in res["cold"]) / 1000, len(res["cold"])),
        "latency_p50_ms": (statistics.median(lat), len(lat)),
        # per round: each op once; the median round is robust to a burst
        "ops_per_s": (1000 * len(ops) / statistics.median(r[0] for r in rounds),
                      len(steady)),
        "cpu_s_per_op": (statistics.median(r[1] for r in rounds) / 1000 / len(ops),
                         len(steady)),
        "error_rate": ((threw + len(mismatched)) / attempted, attempted),
        "rss_peak_mb": (res["rss_peak_mb"], 1),
    }
    q = tail_percentile(len(lat))
    if q:
        metrics["latency_tail_ms"] = (quantile(lat, q / 100), len(lat))
    return metrics, attempted, threw + len(mismatched), mismatched


def per_layer(layers):
    steady = [v for k, v in layers.items() if k.startswith("s")]
    cold = [v for k, v in layers.items() if k.startswith("c")]
    out = {name: (sum(m.get(name, 0.0) for m in steady) / len(steady), len(steady))
           for name in PER_OP}
    for name in COLD_SUMS:
        out["cold." + name] = (sum(m.get(name, 0.0) for m in cold), len(cold))
    return out


def unit_of(name):
    return END_TO_END.get(name) or PER_OP[name.removeprefix("cold.")]


def run_one(workload, seed, seconds, trace, cp, jvm_opts, stamp):
    ops = WORKLOADS[workload]["ops"]
    sf_dir = DATA / WORKLOADS[workload]["sf"]
    run_dir = BUILD / "runs" / f"{workload}-seed{seed}-trace{trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    started = time.monotonic()
    limit = WORKLOADS[workload].get("limit_s", RUN_LIMIT_S)
    deadline = started + limit
    # a JVM that hangs before READY blocks readline(); killing it unblocks
    watchdog = threading.Timer(limit, stop_children)
    watchdog.daemon = True
    watchdog.start()
    # the timed window is a whole number of rounds, sized from --seconds and
    # the workload's nominal round time, so every run measures the same work
    warmup = WORKLOADS[workload]["warmup"]
    timed_rounds = max(1, round(seconds / WORKLOADS[workload]["round_s"]))
    rounds = schedule.rounds(ops, seed, warmup + timed_rounds)
    (run_dir / "schedule.txt").write_text(schedule.render(rounds))
    load_before = loadavg()

    setups = []
    for _ in range(SETUP_SAMPLES - 1):
        p, ready = launch(run_dir, cp, jvm_opts, ["--mode", "setup"], deadline)
        finish(p, deadline, "set-up JVM")
        setups.append(ready)
    p, ready = launch(run_dir, cp, jvm_opts, [
        "--mode", "run", "--sf", str(sf_dir), "--ops", ",".join(ops),
        "--schedule", str(run_dir / "schedule.txt"),
        "--warmup", str(warmup), "--rounds", str(timed_rounds),
        "--trace", str(trace), "--check", str(run_dir / "check"),
        "--out", str(run_dir / "result.json"),
        "--spans", str(run_dir / "spans.jsonl")], deadline)
    setups.append(ready)
    jvm_started = time.monotonic() - ready
    if "DONE" not in finish(p, deadline, f"benchmark JVM (see {run_dir / 'jvm.log'})"):
        fail(f"benchmark JVM did not finish (see {run_dir / 'jvm.log'})", 4)
    jvm_s = time.monotonic() - jvm_started
    res = json.loads((run_dir / "result.json").read_text())
    load_after = loadavg()
    t_oracle = time.monotonic()
    verdict = oracle_check(run_dir, sf_dir, deadline)
    watchdog.cancel()
    wall = {"run_s": time.monotonic() - started, "main_jvm_s": jvm_s,
            "oracle_s": time.monotonic() - t_oracle}
    e2e, attempted, failed, mismatched = end_to_end(res, setups, verdict, ops)
    metrics = per_layer(res["layers"]) if trace else e2e

    result = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host": {
            "nproc": nproc(), "mem_total_kb": mem_total_kb(),
            "jvm_heap_mb": res["heap_max_mb"], "spark_version": res["spark_version"],
            "git_sha": git_sha(), "source_stamp": stamp,
            "loadavg_before": load_before, "loadavg_after": load_after,
            "calibration_before": res["calibration_before"],
            "calibration_after": res["calibration_after"],
        },
        "setup_samples_s": setups,
        "wall": wall,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "samples": n}
                       for k, (v, n) in e2e.items()},
        "latency_tail_percentile": tail_percentile(len(res["steady"])),
        "oracle": {op: verdict.get(op, "not checked") for op in ops},
        "mismatched": mismatched,
        "cold": res["cold"], "warmup": res["warmup"], "steady": res["steady"],
    }
    if trace:
        result["per_layer"] = {k: {"value": v, "unit": unit_of(k), "samples": n}
                               for k, (v, n) in metrics.items()}
        result["layers"] = res["layers"]
        shutil.copy(run_dir / "spans.jsonl",
                    BUILD / "results" / f"{workload}-seed{seed}-spans.jsonl")
    (BUILD / "results" / f"{workload}-seed{seed}-trace{trace}.json").write_text(
        json.dumps(result, indent=1))
    shutil.rmtree(run_dir / "local", ignore_errors=True)
    contract = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, (v, _) in metrics.items()
                    if (k not in UNLISTED_LAYER if trace else k in CONTRACT_E2E)},
    }
    return result, contract, metrics


def print_table(workload, result, metrics, trace):
    kind = "per-layer (per steady op; cold.* summed over the cold pass)" \
        if trace else "end-to-end"
    print(f"\n== {workload} ({kind}) seed={result['seed']}")
    print(f"{'metric':26} {'value':>16} {'unit':9} samples")
    for k, (v, n) in metrics.items():
        label = f"{k} (p{result['latency_tail_percentile']})" if k == "latency_tail_ms" else k
        print(f"{label:26} {v:16.4f} {unit_of(k):9} {n}")
    bad = result["mismatched"]
    print("oracle: " + (f"MISMATCH {', '.join(bad)}" if bad else
                        f"{len(result['oracle'])}/{len(result['oracle'])} ops match"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: (stop_children(), sys.exit(143)))
    preflight()
    try:
        stamp, cp, jvm_opts = ensure_built()
        (BUILD / "results").mkdir(parents=True, exist_ok=True)
        names = list(WORKLOADS) if a.workload == "all" else [a.workload]
        contracts = {}
        for w in names:
            result, contract, metrics = run_one(w, a.seed, a.seconds, a.trace,
                                                cp, jvm_opts, stamp)
            print_table(w, result, metrics, a.trace)
            contracts[w] = contract
    finally:
        stop_children()
    if a.workload == "all":
        print(json.dumps(contracts))
    else:
        print(json.dumps(contracts[a.workload]))


if __name__ == "__main__":
    main()
