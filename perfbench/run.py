#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Builds graft and the benchmark's JVM side from source (`build.py`),
generates the workload's inputs from the seed (`gen.py`), runs it
(`src/PerfBench.scala`), checks the outputs, and prints one JSON object
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of `BENCHMARK.json`. A stamp with the host facts and the workload
parameters goes to stderr and, with the trace, into the run directory
under `.perfbench/runs/`; `compare.py` compares two such stamps.

Everything the run writes stays under `.perfbench/` in the checkout. The
JVM runs in a private mount namespace when the host allows one, with
`/tmp` and `/dev/shm` bound to run-local directories, because some
queries write side tables to `/tmp` and the streaming layer checkpoints
to `/dev/shm`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # the whole run must end within 180 s
HEAP = "1g"  # small, so page faults from heap growth stay out of the timed window
# A fixed young generation: G1 otherwise sizes it from its measured pause
# times, so how much of the heap a run touches (and peak_rss_mb) followed
# host timing, in two modes 150 MB apart.
YOUNG = "256m"
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
             "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData"]
SETTLE_PASSES = 1  # untimed warm passes: the first one still carries JIT compilation
MIN_PASSES = 1  # whole passes in the timed window before `--seconds` may end it
GEN_REPEATS = 3  # input generations per run; their median is part of setup_s
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import tables_check  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def steal_s():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


def can_isolate():
    try:
        return subprocess.run(["unshare", "--mount", "true"], capture_output=True,
                              timeout=10).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def wrap(cmd, ns_tmp, ns_shm, isolate):
    """Run `cmd` with /tmp and /dev/shm bound to run-local directories."""
    if not isolate:
        return cmd
    script = 'mount --bind "$1" /tmp && mount --bind "$2" /dev/shm && shift 2 && exec "$@"'
    return ["unshare", "--mount", "--propagation", "private", "sh", "-c", script, "sh",
            ns_tmp, ns_shm] + cmd


def run_proc(cmd, timeout, **kw):
    """Run to completion in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"timed out: {cmd[0]}")
    return p.returncode


def clear_side_paths(tag, shm_before):
    """Without a private namespace: remove the /tmp side tables of this
    data directory and the /dev/shm checkpoints this run created."""
    for p in glob.glob(f"/tmp/graft_*_{tag}") + glob.glob(f"/tmp/graft_*_{tag}.*"):
        shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    for p in set(glob.glob("/dev/shm/graft_ckpt_*")) - shm_before:
        shutil.rmtree(p, ignore_errors=True)


def oracle_failures(queries, data, check, ns_tmp, ns_shm, isolate, timeout):
    """Queries whose dump does not hash-match the DuckDB oracle; a query
    the checker does not report as passing counts as failed."""
    cmd = wrap([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"), data, check],
               ns_tmp, ns_shm, isolate)
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=max(1.0, timeout))
    lines = out.stdout.splitlines()
    for ln in lines + out.stderr.splitlines()[-5:]:
        if not ln.startswith(("PASS", "==")):
            log(f"oracle: {ln[:300]}")
    passed = {ln.split()[1] for ln in lines if ln.startswith("PASS ")}
    return [q for q in queries if q not in passed]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_all = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in spec_all:
        raise SystemExit(f"unknown workload {args.workload}; have {sorted(spec_all)}")
    spec = spec_all[args.workload]
    params = spec["params"]
    cpus = len(os.sched_getaffinity(0))
    steal0 = steal_s()

    classpath = build.build(os.path.join(WORK, "classes"))
    code_id = open(os.path.join(WORK, "classes", ".stamp")).read()[:16]
    t_start = time.monotonic()  # a build (first run in a checkout) has its own allowance

    # identical disk state: fresh run and input directories per seed
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    data = os.path.join(WORK, "data", f"{args.workload}-s{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    ns_tmp, ns_shm = os.path.join(run_dir, "ns", "tmp"), os.path.join(run_dir, "ns", "shm")
    for d in (ns_tmp, ns_shm, os.path.join(run_dir, "check"), os.path.join(run_dir, "jtmp")):
        os.makedirs(d)
    isolate = can_isolate()
    tag = hashlib.md5(data.encode()).hexdigest()[:8]
    shm_before = set(glob.glob("/dev/shm/graft_ckpt_*"))
    if not isolate:
        log("no private mount namespace; clearing /tmp side paths directly")
        clear_side_paths(tag, shm_before)

    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.monotonic()
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(spec["kind"], params, args.seed, data)
        gen_s.append(time.monotonic() - t0)

    jargs = {
        "workload": args.workload, "kind": spec["kind"], "data": data, "work": run_dir,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "min_passes": MIN_PASSES, "settle_passes": SETTLE_PASSES,
        "queries": ",".join(spec.get("queries", [])),
        "ops_per_pass": len(params.get("pass_ops", []))}
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir}/jtmp", "-Dspark.ui.enabled=false",
                        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
                        "perfbench.PerfBench"] +
           [f"{k}={v}" for k, v in jargs.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    jvm_log = open(os.path.join(run_dir, "jvm.log"), "w")
    rc = run_proc(wrap(cmd, ns_tmp, ns_shm, isolate),
                  DEADLINE_S - (time.monotonic() - t_start),
                  cwd=run_dir, env=env, stdout=jvm_log, stderr=subprocess.STDOUT)
    jvm_log.close()
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")
    res = json.load(open(os.path.join(run_dir, "result.json")))
    for ln in open(os.path.join(run_dir, "jvm.log")):
        if ln.startswith("[perfbench] FAILED"):
            log(ln.strip())

    # ---- correctness (untimed) ----
    spans = res["spans"]
    ops = [s for s in spans if s["kind"] == "op"]
    attempted = len(ops)
    failed = sum(1 for s in ops if s["ok"] == 0)
    remaining = DEADLINE_S - (time.monotonic() - t_start)
    check = os.path.join(run_dir, "check")
    if spec["kind"] == "queries":
        bad = oracle_failures(spec["queries"], data, check, ns_tmp, ns_shm, isolate, remaining)
        checks = len(spec["queries"])
    else:
        bad = tables_check.check(data, check)
        for b in bad:
            log(f"tables check: {b}")
        checks = tables_check.CHECKS
    attempted += checks
    failed += len(bad)
    if not isolate:
        clear_side_paths(tag, shm_before)
    steal = steal_s() - steal0

    # ---- metrics ----
    passes = [s for s in spans if s["kind"] == "pass"]
    warm = passes[0]
    window = [p for p in passes if p["name"].startswith("pass")]
    window_ids = {p["id"] for p in window}
    win_ops = [s for s in ops if s["parent"] in window_ids]
    lat = [s["dur_s"] for s in win_ops if s["ok"] == 1]
    tail_pct, tail = layers.tail_stat(lat)
    setup_s = res["jvm_boot_s"] + res["session_s"] + statistics.median(gen_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        "warmup_cpu_s": (warm["cpu_s"], "s"),
        "pass_cpu_s": (statistics.median(p["cpu_s"] - p["jit_cpu_s"] for p in window), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    # wall-clock figures: reported in the stamp, not as end-to-end metrics,
    # because host CPU steal moves them by 20-50% between runs
    wall = {
        "warmup_s": warm["dur_s"],
        "pass_s": statistics.median(p["dur_s"] for p in window),
        "ops_per_min": 60.0 * len(win_ops) / res["window_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail, "latency_tail_pct": tail_pct, "latency_samples": len(lat),
    }
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus": cpus,
        "shuffle_partitions": res["shuffle_partitions"], "heap_mb": res["heap_mb"],
        "jvm_flags": JVM_FLAGS,
        "spark": res["spark"], "scala": res["scala"], "jdk": res["jdk"],
        "time_zone": res["time_zone"], "code": code_id, "git_commit": git_commit(),
        "params": params, "queries": spec.get("queries", []),
        "isolated": isolate, "steal_s": steal, "window_s": res["window_s"],
        "window_passes": len(window),
        "wall": wall,
        # JIT compiler threads: most of a warm pass's process CPU, so
        # pass_cpu_s leaves them out and graft's own work shows in it
        "jit_cpu_s": {"warmup": warm["jit_cpu_s"],
                      "pass": statistics.median(p["jit_cpu_s"] for p in window)},
        "failed_frac": failed / attempted, "checks": checks,
        "setup_parts": {"jvm_boot_s": res["jvm_boot_s"], "gen_s": gen_s,
                        "session_s": res["session_s"]},
    }
    if args.trace:
        trace = json.load(open(os.path.join(run_dir, "trace.json")))["spans"]
        metrics = layers.per_layer(trace, res, spec, cpus, steal)
        stamp["trace_file"] = os.path.relpath(os.path.join(run_dir, "trace.json"), ROOT)
        stamp["queries_detail"] = layers.query_detail(trace)
    else:
        metrics = e2e
    stamp["end_to_end"] = {k: v[0] for k, v in e2e.items()}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({"stamp": stamp, "metrics": {k: v[0] for k, v in metrics.items()}}, f, indent=1)
    log("stamp " + json.dumps({k: v for k, v in stamp.items() if k != "queries_detail"}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


if __name__ == "__main__":
    main()
