"""Per-layer metrics from a traced run's spans.

Spans nest run > pass > op > phase > (Spark job | streaming trigger).
Only the traced passes of the timed window count; totals are divided by
the number of traced passes, so every figure is "per pass". Per-op-type
timings are medians over the op's window samples. A layer the workload
does not call reads 0 (for example `sources.*` on `queries`).
"""
import statistics

MB = 1024.0 * 1024.0

# table op -> per-layer metric holding its median latency
TABLE_OP_METRIC = {
    "append": "sources.append_s", "merge": "sources.merge_s", "delete": "sources.delete_s",
    "compact": "sources.compact_s", "read": "sources.read_s",
    "point_read": "sources.point_read_s", "version_read": "sources.asof_read_s",
    "asof_read": "sources.asof_read_s", "changes": "sources.changes_s",
    "meta_count": "sources.meta_count_s", "mirror": "sources.mirror_s",
    "ingest": "streaming.ingest_s"}

JOB_SUMS = [("exec.stages", "stages", 1.0, "count"), ("exec.tasks", "tasks", 1.0, "count"),
            ("exec.task_s", "task_s", 1.0, "s"), ("exec.cpu_s", "cpu_s", 1.0, "s"),
            ("exec.gc_s", "gc_s", 1.0, "s"),
            ("exec.shuffle_write_mb", "shuffle_write_b", MB, "MB"),
            ("exec.shuffle_read_mb", "shuffle_read_b", MB, "MB"),
            ("exec.spill_mb", "spill_b", MB, "MB"),
            ("exec.disk_spill_mb", "disk_spill_b", MB, "MB")]

TRIGGER_SUMS = [("streaming.trigger_s", "triggerExecution"),
                ("streaming.add_batch_s", "addBatch"),
                ("streaming.query_planning_s", "queryPlanning"),
                ("streaming.wal_commit_s", "walCommit"),
                ("streaming.commit_offsets_s", "commitOffsets")]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_stat(xs, min_beyond=10):
    """(percentile, value): the highest whole percentile at or above the
    median with at least `min_beyond` samples above it, by the nearest-rank
    rule; (100, max) when there are too few samples for that."""
    xs = sorted(xs)
    if not xs:
        return 100, 0.0
    n = len(xs)
    pct = (100 * (n - min_beyond)) // n
    if pct < 50:
        return 100, xs[-1]
    return pct, xs[max(-(-pct * n // 100), 1) - 1]


def _index(spans):
    by_id = {s["id"]: s for s in spans if "id" in s}

    def pass_of(s):
        while s is not None and s.get("kind") != "pass":
            s = by_id.get(s.get("parent", -1))
        return s
    return by_id, pass_of


def _union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(spans, res, spec, cpus, steal):
    by_id, pass_of = _index(spans)
    window = [s for s in spans if s.get("kind") == "pass" and s["name"].startswith("pass")]
    traced = [p for p in window if p.get("traced") == "1"]
    untraced = [p for p in window if p.get("traced") == "0"]
    tids = {p["id"] for p in traced}
    n = max(1, len(traced))

    def in_traced(s):
        p = pass_of(s)
        return p is not None and p["id"] in tids

    ops = [s for s in spans if s.get("kind") == "op" and in_traced(s)]
    phases = [s for s in spans if s.get("kind") == "phase" and in_traced(s)]
    jobs = [s for s in spans if s.get("kind") == "job" and in_traced(by_id.get(s["parent"]))]
    trig = [s for s in spans if s.get("kind") == "trigger" and in_traced(by_id.get(s["parent"]))]
    m = {}

    def phase_s(name):
        return sum(s["dur_s"] for s in phases if s["name"] == name) / n

    m["core.build_s"] = (phase_s("build"), "s")
    m["core.build_jobs"] = (sum(1 for j in jobs if by_id[j["parent"]]["name"] == "build") / n,
                            "count")
    m["plans.plan_s"] = (phase_s("plan"), "s")
    m["exec.exec_s"] = (phase_s("exec"), "s")
    m["exec.jobs"] = (len(jobs) / n, "count")
    for name, key, scale, unit in JOB_SUMS:
        m[name] = (sum(j.get(key, 0.0) for j in jobs) / scale / n, unit)
    gaps, walls = [], []
    for p in traced:
        iv = [(j["start_us"] / 1e6, j["start_us"] / 1e6 + j["dur_s"]) for j in jobs
              if pass_of(by_id[j["parent"]])["id"] == p["id"]]
        walls.append(p["dur_s"])
        gaps.append(p["dur_s"] - _union_s(iv))
    m["exec.driver_gap_s"] = (sum(gaps) / n, "s")
    wall = sum(walls)
    m["exec.core_util"] = (sum(j.get("task_s", 0.0) for j in jobs) / (wall * cpus)
                           if wall else 0.0, "ratio")
    for metric, names in spec.get("families", {}).items():
        m[metric] = (sum(s["dur_s"] for s in ops if s["name"] in names) / n, "s")
    for metric in ("operators.dedup_s", "operators.similarity_s", "operators.graph_s",
                   "functions.text_s"):
        m.setdefault(metric, (0.0, "s"))

    # table ops: medians per op type, over every window op of that type
    win_ids = {p["id"] for p in window}
    win_ops = [s for s in spans if s.get("kind") == "op" and s["parent"] in win_ids
               and s.get("ok") == 1]
    by_metric = {}
    for s in win_ops:
        if s["name"] in TABLE_OP_METRIC:
            by_metric.setdefault(TABLE_OP_METRIC[s["name"]], []).append(s["dur_s"])
    for metric in sorted(set(TABLE_OP_METRIC.values())):
        m[metric] = (_median(by_metric.get(metric, [])), "s")
    writes = [s["dur_s"] for s in win_ops if s["name"] in spec.get("writes", [])]
    reads = [s["dur_s"] for s in win_ops if s["name"] in spec.get("reads", [])]
    m["tables.write_p50_s"] = (_median(writes), "s")
    m["tables.write_tail_s"] = (tail_stat(writes)[1], "s")
    m["tables.read_p50_s"] = (_median(reads), "s")
    m["tables.read_tail_s"] = (tail_stat(reads)[1], "s")
    snap = res.get("snapshot_bytes", 0.0)
    m["tables.space_amp"] = (res.get("table_bytes", 0.0) / snap if snap else 0.0, "ratio")
    m["sources.files_written"] = (res.get("table_files", 0.0), "count")
    m["sources.bytes_written_mb"] = (res.get("table_bytes", 0.0) / MB, "MB")
    m["sources.versions"] = (res.get("versions", 0.0), "count")
    m["sources.files_per_snapshot"] = (res.get("files_per_snapshot", 0.0), "count")

    m["streaming.triggers"] = (len(trig) / n, "count")
    for metric, key in TRIGGER_SUMS:
        m[metric] = (sum(t.get(key, 0.0) for t in trig) / n, "s")
    m["streaming.state_rows"] = (sum(t.get("state_rows", 0.0) for t in trig) / n, "count")

    m["jvm.jit_cpu_s"] = (_median([p["jit_cpu_s"] for p in window]), "s")
    m["host.steal_s"] = (steal, "s")
    m["trace.overhead_s"] = (_median([p["dur_s"] for p in traced]) -
                             _median([p["dur_s"] for p in untraced]), "s")
    return m


def query_detail(spans):
    """Per op name over the traced passes: median wall, phase split and the
    Spark jobs of each phase with their call sites. This is the record that
    says where one query's time went."""
    by_id, pass_of = _index(spans)
    out = {}
    for op in (s for s in spans if s.get("kind") == "op"):
        p = pass_of(op)
        if p is None or p.get("traced") != "1" or p["name"] == "warmup":
            continue
        d = out.setdefault(op["name"], {"wall_s": [], "phases": {}})
        d["wall_s"].append(op["dur_s"])
        for ph in (s for s in spans if s.get("kind") == "phase" and s["parent"] == op["id"]):
            e = d["phases"].setdefault(ph["name"], {"dur_s": [], "jobs": {}})
            e["dur_s"].append(ph["dur_s"])
            for j in (s for s in spans if s.get("kind") == "job" and s["parent"] == ph["id"]):
                js = e["jobs"].setdefault(j["name"], {"n": 0, "dur_s": 0.0, "task_s": 0.0})
                js["n"] += 1
                js["dur_s"] += j["dur_s"]
                js["task_s"] += j.get("task_s", 0.0)
    for d in out.values():
        d["wall_s"] = _median(d["wall_s"])
        for e in d["phases"].values():
            e["dur_s"] = _median(e["dur_s"])
    return out
