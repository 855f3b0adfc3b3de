#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

    python3 etlbench/run.py --workload <etl_pipeline|llm_curate|catalog_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client, closed loop: each
op is one call into a public entry point of the program (`Pipeline.run`,
`Curate.run`, or a registry query into the noop sink) on inputs generated
from the seed. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics (from listeners attached by the
benchmark's own JVM driver) with `--trace 1`. BENCHMARK.json names them.

Build products, inputs and traces go under `.bench_build/etlbench` (or
`$ETLBENCH_WORK`). The program itself runs in a private mount namespace
(see nsrun.py), and a snapshot guard fails the run if anything outside the
work directory changed.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import concurrent.futures  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import guard  # noqa: E402
import trace  # noqa: E402

WORKLOADS = ("etl_pipeline", "llm_curate", "catalog_mix")
# catalog_mix is a warm analyst session: one query per registering module
# at least, plus the graph, near-dup and plan-rewrite queries and two
# streaming queries. It is the only workload that reaches the streaming,
# plans and table-cache layers, but one run takes about 150 s on 4 cores
# (an untimed pass that writes every query's output for the oracle check,
# then one timed pass), so BENCHMARK.json leaves it out and it runs by hand.
CATALOG = ["q1_agg", "j3_left_join_nullfill", "prof2_integrity", "c2_normalize_report",
           "clean2_rule_counts", "feat2_spend_deciles", "ml1_kmeans_activity",
           "x_pagerank", "x_curation_neardup", "x_ann_lsh_rewrite", "x_exact_dedup",
           "s1_csv_roundtrip", "s9_stream_dedup", "s14_stream_incremental_dedup"]
# The curation corpus is this many sf0.1 corpora wide (10k docs). On 4
# cores jobs are active for ~70% of an op's wall time and driver idle is
# ~30%; twice the corpus moved that split only to 73/27.
CURATE_DIALECTS = 2
# A lower bound on one main's op wall time, to size the fresh input dirs.
MIN_OP_S = 5.0
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """-Xmx as the tier-1 command derives it: half of MemTotal, 2..8 GiB."""
    kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
              if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def scratch_paths():
    """Absolute scratch paths hard-coded in the program (`.../target/...`)."""
    found = set()
    for d, _, files in os.walk(os.path.join(ROOT, "src", "main", "scala")):
        for f in files:
            if f.endswith(".scala"):
                found |= set(re.findall(r'"(/[^"$]*?/target)/', open(os.path.join(d, f)).read()))
    return sorted(found)


def overlay_top(paths):
    tops = {"/" + p.strip("/").split("/")[0] for p in paths}
    if len(tops) > 1:
        raise SystemExit(f"etlbench: program scratch paths span {sorted(tops)}; one root expected")
    return tops.pop() if tops else None


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in datagen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def make_input(workload, seed, variant, d, oracle_sql):
    """Generate one input dir and return the oracle's expectation for it."""
    if workload == "etl_pipeline":
        datagen.generate(d, seed, variant)
        row = duck(d).execute(oracle_sql).fetchone()
        return dict(zip(("completeness", "cleaned", "analysis"), row))
    datagen.generate(d, seed, variant, tables=["documents"], dialects=CURATE_DIALECTS)
    return {"input_docs": duck(d).execute("SELECT count(*) FROM documents").fetchone()[0]}


def make_inputs(workload, seed, seconds, traced, data_root, registry):
    """Fresh input dirs (one per op that can start) plus the oracle's
    expectation for each, generated by a few worker processes."""
    if workload == "catalog_mix":
        return [datagen.generate(os.path.join(data_root, "in0"), seed)], {}
    per_window = math.ceil(seconds / MIN_OP_S) + 1
    dirs = [os.path.join(data_root, f"in{i}") for i in range(1 + per_window * (2 if traced else 1))]
    sql = registry["pipe1_end_to_end"]["oracle"]
    with concurrent.futures.ProcessPoolExecutor(min(3, len(dirs))) as pool:
        expect = pool.map(make_input, [workload] * len(dirs), [seed] * len(dirs),
                          range(len(dirs)), dirs, [sql] * len(dirs))
        return dirs, dict(zip(dirs, expect))


def op_ok(workload, op, expect):
    """Does one op's returned result match the oracle and invariants?"""
    if not op["ok"]:
        return False
    want = expect.get(op["input"], {})
    if workload == "etl_pipeline":
        return all(op[k] == v for k, v in want.items())
    if workload == "llm_curate":
        est = {s: (p, a) for s, p, a in op["estimates"]}
        return (op["input_docs"] == want["input_docs"] and
                0 < op["curated_docs"] <= op["input_docs"] and
                op["train_docs"] + op["test_docs"] == op["curated_docs"] and
                op["shards"] >= 1 and op["tokens"] > 0 and len(est) == 6 and
                all(p >= 0 and a >= 0 for p, a in est.values()) and
                est["input"][1] == op["input_docs"] and est["curated"][1] == op["curated_docs"])
    return True


def curated_drift(bdir, seed, inputs, ops):
    """The curated count of an input must be the same on every run of one
    build: the first run with a (seed, input) records it, later runs
    compare."""
    rec_dir = os.path.join(bdir, "curated")
    os.makedirs(rec_dir, exist_ok=True)
    out = []
    for o in ops:
        path = os.path.join(rec_dir, f"s{seed}-v{inputs.index(o['input'])}.json")
        if os.path.exists(path):
            was = json.load(open(path))["curated_docs"]
            if was != o["curated_docs"]:
                out.append(f"curated count of {o['input']} moved: {was} then {o['curated_docs']}")
        else:
            with open(path, "w") as f:
                json.dump({"curated_docs": o["curated_docs"]}, f)
    return out


def run_jvm(run_dir, workload, args, inputs, bdir, top, deadline):
    jars = build.jars_dir()
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cores())
    spec = {
        "root": ROOT, "overlay_top": top, "tmpfs_mb": 4096,
        "registry": os.path.join(bdir, "registry.json"),
        "classpath": f"{bdir}/bench:{bdir}/classes:{jars}/*",
        "jvm_opts": build.add_opens() + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{heap()}", "-XX:-UsePerfData", "-Dspark.callstack.depth=100"] + (
            ["-Dspark.sql.queryExecutionListeners=etlbench.PlanListener",
             "-Dspark.sql.streaming.streamingQueryListeners=etlbench.ProgressListener"]
            if args.trace else []),
        "env": env, "timeout_s": max(10, deadline - time.time()),
        "catalog": ({"data": inputs[0], "names": CATALOG}
                    if workload == "catalog_mix" else None),
        "jvm_spec": {"workload": workload, "seconds": args.seconds, "trace": args.trace,
                     "seed": args.seed, "cores": str(cores()), "inputs": inputs,
                     "queries": CATALOG if workload == "catalog_mix" else []},
    }
    with open(os.path.join(run_dir, "nsspec.json"), "w") as f:
        json.dump(spec, f)
    r = subprocess.run(["unshare", "-m", "--propagation", "private", sys.executable, "-B",
                        os.path.join(HERE, "nsrun.py"), run_dir])
    res = os.path.join(run_dir, "result.json")
    if r.returncode != 0 or not os.path.exists(res):
        raise SystemExit(f"etlbench: namespace runner failed (exit {r.returncode})")
    out = json.load(open(res))
    if out["jvm_rc"] != 0:
        raise SystemExit(f"etlbench: JVM exit {out['jvm_rc']}\n{out['jvm_log_tail']}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) and os.path.exists(bench_json)):
        raise SystemExit("etlbench: run from a checkout of the program (src/main/scala missing)")
    spec = json.load(open(bench_json))
    work = os.path.abspath(os.environ.get("ETLBENCH_WORK") or
                           os.path.join(ROOT, ".bench_build", "etlbench"))
    os.makedirs(work, exist_ok=True)  # the work dir's own creation is not a workspace change
    scratch = scratch_paths()
    watched = [ROOT] + [p for p in scratch if not p.startswith(ROOT + "/")]
    before = guard.snapshot(watched, exclude=[work])

    t_start = time.time()
    bdir = build.build(work)
    t_built = time.time()
    deadline = time.time() + RUN_TIMEOUT_S  # a first run's build may take longer
    registry = json.load(open(os.path.join(bdir, "registry.json")))
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "ns"))
    try:
        inputs, expect = make_inputs(args.workload, args.seed, args.seconds, args.trace,
                                     os.path.join(run_dir, "data"), registry)
        t_inputs = time.time()
        out = run_jvm(run_dir, args.workload, args, inputs, bdir, overlay_top(scratch), deadline)
        t_jvm = time.time()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    jvm = out["jvm"]
    os.makedirs(os.path.join(work, "last"), exist_ok=True)
    with open(os.path.join(work, "last", f"{args.workload}.json"), "w") as f:
        json.dump({k: v for k, v in jvm.items() if k != "trace"}, f, indent=1)
    problems = list(jvm["checks"])
    bad_queries = out.get("catalog_bad", {})
    problems += [f"{n}: {why}" for n, why in sorted(bad_queries.items())]
    ops = jvm["ops"]
    for o in ops:
        o["ok"] = (op_ok(args.workload, o, expect) and o["name"] not in bad_queries and
                   not any(o.get("out") and o["out"] + "/" in p for p in jvm["checks"]))
    if args.workload == "llm_curate":
        problems += curated_drift(bdir, args.seed, inputs, [o for o in ops if o["ok"]])
    untimed_bad = [o["name"] for o in ops if o.get("kind") in ("warm", "check") and not o["ok"]]
    problems += [f"untimed op failed: {n}" for n in untimed_bad]
    timed = [o for o in ops if o.get("kind") == "timed"]
    untraced = [o for o in timed if o["phase"] == "untraced"]
    traced = [o for o in timed if o["phase"] == "traced"]
    window = jvm["windows"]["untraced"]
    e2e = trace.end_to_end(untraced, window, jvm["setup_s"])

    changed = guard.diff(before, guard.snapshot(watched, exclude=[work]))
    problems += [f"workspace guard: {c}" for c in changed[:20]]
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"])
    correct = failed == 0 and not problems and attempted > 0

    module_of = {n: trace.module_of_class(q["class"]) for n, q in registry.items()}
    owner = {"etl_pipeline": lambda o: "Pipeline", "llm_curate": lambda o: "Curate",
             "catalog_mix": lambda o: module_of.get(o["name"])}[args.workload]
    n = len(untraced)
    log(f"{args.workload} seed={args.seed}: {n} timed ops in {(window[1] - window[0]) / 1e3:.1f}s, "
        f"setup {jvm['setup_s']:.2f}s, cores {jvm['cores']}, heap {heap()}; "
        f"highest percentile with >=10 samples beyond it: {trace.supported_percentile(n)}; "
        f"build {t_built - t_start:.1f}s, inputs {t_inputs - t_built:.1f}s, "
        f"program {t_jvm - t_inputs:.1f}s")
    for p in problems:
        log(f"problem: {p}")

    if args.trace:
        layer = trace.per_layer(traced, jvm["trace"], jvm["cores"], owner, e2e["wall_s.p50"])
        layer.update(trace.query_p50(untraced, module_of.get))
        prod = [o for o in traced if o["ok"]]
        if args.workload == "etl_pipeline":
            layer["Pipeline.rows_out"] = trace.median(
                [o["completeness"] + o["cleaned"] + o["analysis"] for o in prod])
        layer.setdefault("Pipeline.rows_out", 0.0)
        docs_in = sum(o.get("input_docs", 0) for o in prod)
        layer["Curate.curated_ratio"] = (sum(o.get("curated_docs", 0) for o in prod) / docs_in
                                         if docs_in else 0.0)
        layer["jvm.peak_rss_mb"] = jvm["peak_rss_mb"]
        tdir = os.path.join(work, "traces")
        os.makedirs(tdir, exist_ok=True)
        tfile = os.path.join(tdir, f"{args.workload}-seed{args.seed}.json")
        with open(tfile, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "cores": jvm["cores"],
                       "metrics": layer, "spans": trace.spans(traced, jvm["trace"], owner)}, f)
        log(f"trace written to {tfile}")
        wanted, values = spec["per_layer"], layer
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
