"""Turns one run's raw record (ops plus, on a traced run, listener events)
into the benchmark's metrics and the op -> SQL execution -> job -> stage
span tree.

Layers are the program's module names. A job, stage or SQL execution
belongs to the module of the innermost `graft.*` frame of its call site:
a frame in `graft.<package>.*` gives that package, a frame in
`graft.Pipeline`/`graft.Curate` gives that main, and frames in other
top-level `graft` objects (`Sessions`, `Memos`, ...) are skipped. With no
such frame, the work belongs to the op's own module: the registering
module of a catalog query, or the main that was called.
"""
import math
import statistics

TASK_MODULES = ["quality", "clean", "feature", "mlx", "ext", "ops", "io",
                "streaming", "Pipeline", "Curate"]
QUERY_MODULES = ["ops", "quality", "schema", "clean", "feature", "mlx", "ext",
                 "io", "streaming"]
MAINS = {"Pipeline", "Curate"}


def frame_class(frame):
    """`app//graft.ext.Dedup$.f(Dedup.scala:9)` -> `graft.ext.Dedup$`."""
    f = frame.strip()
    if f.startswith("at "):
        f = f[3:]
    f = f.split("(", 1)[0].rsplit("/", 1)[-1]
    return f.rsplit(".", 1)[0]


def module_of_class(cls):
    """Module of a `graft` class name (a frame's class or a lambda's)."""
    parts = cls.split(".")
    if len(parts) < 2 or parts[0] != "graft":
        return None
    if len(parts) >= 3:
        return parts[1]
    top = parts[1].split("$", 1)[0]
    return top if top in MAINS else None


def module_of_frames(frames, default=None):
    """Module of the innermost `graft` frame; frames come innermost first."""
    for fr in frames:
        m = module_of_class(frame_class(fr))
        if m:
            return m
    return default


def supported_percentile(n, candidates=(99.9, 99, 90, 50), min_beyond=10):
    """Highest percentile with at least `min_beyond` of `n` samples above it."""
    for p in sorted(candidates, reverse=True):
        if n - math.ceil(n * p / 100.0) >= min_beyond:
            return p
    return None


def union_s(intervals, lo=None, hi=None):
    """Length in seconds of the union of (start_ms, end_ms) intervals,
    clipped to [lo, hi]."""
    xs = []
    for a, b in intervals:
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b > a:
            xs.append((a, b))
    total, end = 0, None
    for a, b in sorted(xs):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops, window, setup_s):
    """End-to-end metrics of one window of timed ops."""
    good = [o for o in ops if o["ok"]]
    walls = [o["wall_s"] for o in (good or ops)]
    secs = (window[1] - window[0]) / 1e3
    return {"setup_s": setup_s, "wall_s.p50": median(walls),
            "ops_per_s": len(good) / secs if secs > 0 else 0.0}


def _index(events):
    jobs, stages, sqls = {}, {}, {}
    plans, triggers = [], []
    for e in events:
        t = e["type"]
        if t == "job_start":
            jobs[e["job"]] = dict(e, t1=None)
        elif t == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["t1"] = e["t"]
        elif t == "stage":
            stages[e["stage"]] = e
        elif t == "sql_start":
            sqls[e["sql"]] = dict(e, t1=None)
        elif t == "sql_end" and e["sql"] in sqls:
            sqls[e["sql"]]["t1"] = e["t"]
        elif t == "plan":
            plans.append(e)
        elif t == "trigger":
            triggers.append(e)
    for j in jobs.values():
        j["t1"] = j["t1"] or j["t"]
    for s in sqls.values():
        s["t1"] = s["t1"] or s["t"]
    return jobs, stages, sqls, plans, triggers


def _within(t, op):
    return op["t0"] <= t <= op["t1"]


def per_layer(ops, events, cores, owner, untraced_p50):
    """Per-layer metrics over the traced window's ops. `owner(op)` is the
    module an op's frame-less work belongs to. Additive quantities are
    per-op means; ratios are taken over the whole window."""
    jobs, stages, sqls, plans, triggers = _index(events)
    n = max(len(ops), 1)
    acc = {k: 0.0 for k in ("idle", "plan", "jobs", "stages", "tasks", "sqls", "run",
                            "cpu", "sr", "sw", "spill", "read", "written", "write_run",
                            "jdbc", "cached", "scans", "triggers", "wall")}
    mod_task = {m: 0.0 for m in TASK_MODULES}
    mod_jobs = {m: 0.0 for m in TASK_MODULES}
    trig_s = []
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        for sid in j["stages"]:
            stage_job.setdefault(sid, j)  # a stage runs in the first job that lists it
    for op in ops:
        own = owner(op)
        acc["wall"] += op["wall_s"]
        ojobs = [j for j in jobs.values() if _within(j["t"], op)]
        acc["idle"] += op["wall_s"] - union_s([(j["t"], j["t1"]) for j in ojobs], op["t0"], op["t1"])
        acc["jobs"] += len(ojobs)
        for j in ojobs:
            m = module_of_frames(j["frames"], own)
            if m in mod_jobs:
                mod_jobs[m] += 1
        osqls = [s for s in sqls.values() if _within(s["t"], op)]
        acc["sqls"] += len(osqls)
        acc["jdbc"] += sum((s["t1"] - s["t"]) / 1e3 for s in osqls if s["jdbc"])
        acc["cached"] += sum(s["cached_scans"] for s in osqls)
        acc["scans"] += sum(s["cached_scans"] + s["other_scans"] for s in osqls)
        acc["plan"] += sum(p["plan_ms"] for p in plans if _within(p["t"], op)) / 1e3
        otrig = [t["ms"] / 1e3 for t in triggers if _within(t["t"], op)]
        acc["triggers"] += len(otrig)
        trig_s += otrig
        ojob_ids = {j["job"] for j in ojobs}
        for s in stages.values():
            j = stage_job.get(s["stage"])
            if j is None or j["job"] not in ojob_ids:
                continue
            acc["stages"] += 1
            acc["tasks"] += s["tasks"]
            acc["run"] += s["run_ms"] / 1e3
            acc["cpu"] += s["cpu_ns"] / 1e9
            acc["sr"] += s["shuffle_read_b"] / 2**20
            acc["sw"] += s["shuffle_write_b"] / 2**20
            acc["spill"] += s["spill_b"] / 2**20
            acc["read"] += s["read_b"] / 2**20
            acc["written"] += s["written_b"] / 2**20
            sql = sqls.get(j["sql"]) if j["sql"] is not None else None
            if sql is not None and (sql["write"] or sqls.get(sql["root"], sql)["write"]):
                acc["write_run"] += s["run_ms"] / 1e3
            m = module_of_frames(s["frames"], own)
            if m in mod_task:
                mod_task[m] += s["run_ms"] / 1e3

    def mean_probe(k, scale=1.0):
        return sum(o.get(k, 0.0) for o in ops) / n * scale

    walls = [o["wall_s"] for o in ops]
    out = {
        "driver.idle_s": acc["idle"] / n, "driver.plan_s": acc["plan"] / n,
        "driver.rule_s": mean_probe("rule_ns", 1e-9),
        "plans.effective_runs": mean_probe("plans_effective_runs"),
        "driver.jobs": acc["jobs"] / n, "driver.stages": acc["stages"] / n,
        "driver.tasks": acc["tasks"] / n, "driver.sql_execs": acc["sqls"] / n,
        "exec.run_s": acc["run"] / n, "exec.cpu_s": acc["cpu"] / n,
        "exec.cpu_ratio": acc["cpu"] / acc["run"] if acc["run"] else 0.0,
        "exec.busy_ratio": acc["run"] / (acc["wall"] * cores) if acc["wall"] else 0.0,
        "exec.shuffle_read_mb": acc["sr"] / n, "exec.shuffle_write_mb": acc["sw"] / n,
        "exec.spill_mb": acc["spill"] / n, "exec.gc_s": mean_probe("gc_ms", 1e-3),
        "io.read_mb": acc["read"] / n, "io.written_mb": acc["written"] / n,
        "io.write_s": acc["write_run"] / n, "io.jdbc_s": acc["jdbc"] / n,
        "io.cached_scan_ratio": acc["cached"] / acc["scans"] if acc["scans"] else 0.0,
        "mlx.fits": mean_probe("fits"),
        "streaming.trigger_s.p50": median(trig_s), "streaming.triggers": acc["triggers"] / n,
        "leak.persistent_rdds": mean_probe("persistent_rdds"),
        "leak.storage_mb": mean_probe("storage_mb"), "leak.threads": mean_probe("threads"),
        # same process, untraced window first: JIT warm-up since then
        # biases this low, down to below zero on one-op windows
        "trace.overhead_s": median(walls) - untraced_p50,
    }
    for m in TASK_MODULES:
        out[f"{m}.task_s"] = mod_task[m] / n
        out[f"{m}.jobs"] = mod_jobs[m] / n
    return out


def query_p50(ops, module_of):
    """Median op latency per registering module of the query."""
    by = {m: [] for m in QUERY_MODULES}
    for o in ops:
        m = module_of(o["name"])
        if m in by:
            by[m].append(o["wall_s"])
    return {f"{m}.q_s.p50": median(v) for m, v in by.items()}


def spans(ops, events, owner):
    """op -> SQL execution -> job -> stage spans with start/end in ms,
    parent, module and self time (duration minus the union of its
    children's intervals)."""
    jobs, stages, sqls, _, _ = _index(events)
    out = []
    for i, op in enumerate(ops):
        own = owner(op)
        oid = f"op{i}"
        out.append({"id": oid, "kind": "op", "name": op["name"], "phase": op.get("phase"),
                    "start": op["t0"], "end": op["t1"], "parent": None, "module": own})
        for s in sqls.values():
            if _within(s["t"], op):
                root = s["root"] if s["root"] in sqls and s["root"] != s["sql"] else None
                out.append({"id": f"sql{s['sql']}", "kind": "sql", "start": s["t"], "end": s["t1"],
                            "parent": f"sql{root}" if root is not None else oid,
                            "module": module_of_frames(s["frames"], own)})
        for j in jobs.values():
            if _within(j["t"], op):
                parent = f"sql{j['sql']}" if j["sql"] in sqls else oid
                out.append({"id": f"job{j['job']}", "kind": "job", "start": j["t"], "end": j["t1"],
                            "parent": parent, "module": module_of_frames(j["frames"], own)})
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s and s["t1"]:
                        out.append({"id": f"stage{sid}", "kind": "stage", "start": s["t0"],
                                    "end": s["t1"], "parent": f"job{j['job']}",
                                    "module": module_of_frames(s["frames"], own),
                                    "tasks": s["tasks"], "run_s": s["run_ms"] / 1e3})
    children = {}
    for s in out:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in out:
        kids = children.get(s["id"], [])
        s["self_s"] = (s["end"] - s["start"]) / 1e3 - union_s(kids, s["start"], s["end"])
    return out
