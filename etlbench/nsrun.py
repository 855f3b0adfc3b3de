"""Runs one benchmark JVM inside a private mount namespace.

Started by run.py as `unshare -m --propagation private python3 nsrun.py
<run_dir>`. The program hard-codes its scratch, warehouse and Derby paths
under one directory (`io.Sources.tmpDir`, `Sessions.local`); here that
directory's top-level ancestor is covered by an overlay whose upper layer
is a tmpfs, and every other path the JVM writes (sinks, Spark local dirs,
java.io.tmpdir, its working directory) lives on the same tmpfs. Nothing
the JVM writes reaches a disk, and all of it vanishes with the namespace.
The only file written to disk is `<run_dir>/result.json`, through a
directory handle opened before the mounts.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True


def sh(*cmd):
    subprocess.run(cmd, check=True)


def mount_private(run_dir, top, tmpfs_mb):
    ns = os.path.join(run_dir, "ns")
    sh("mount", "-t", "tmpfs", "-o", f"size={tmpfs_mb}m,mode=0700", "etlbench", ns)
    if top:
        upper, work = os.path.join(ns, "upper"), os.path.join(ns, "work")
        os.makedirs(upper)
        os.makedirs(work)
        sh("mount", "-t", "overlay", "overlay", "-o",
           f"lowerdir={top},upperdir={upper},workdir={work}", top)
    return os.path.join(ns, "jvm")


def check_catalog(root, data_dir, out_dir, names, registry):
    """Hash each query's Spark output against its DuckDB oracle with the
    repo's own comparator canonicalization (tools/check.py)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # noqa: E402  (the repo's comparator)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for n in names:
        try:
            spark = check.canon(pd.read_parquet(f"{out_dir}/{n}"))
            duck = check.canon(con.execute(registry[n]["oracle"]).df())
            if list(spark.columns) != list(duck.columns) or len(spark) != len(duck):
                bad[n] = f"shape {list(spark.columns)}x{len(spark)} vs {list(duck.columns)}x{len(duck)}"
            elif check.frame_hash(spark) != check.frame_hash(duck):
                bad[n] = "hash mismatch"
        except Exception as e:  # an unreadable or unsortable side fails the query
            bad[n] = repr(e)[:300]
    return bad


def main():
    run_dir = sys.argv[1]
    spec = json.load(open(os.path.join(run_dir, "nsspec.json")))
    out_fd = os.open(run_dir, os.O_RDONLY | os.O_DIRECTORY)
    jvm_dir = mount_private(run_dir, spec["overlay_top"], spec["tmpfs_mb"])
    for d in ("cwd", "tmp", "local", "out"):
        os.makedirs(os.path.join(jvm_dir, d))
    jspec = dict(spec["jvm_spec"], out_root=os.path.join(jvm_dir, "out"),
                 result=os.path.join(jvm_dir, "result.json"))
    with open(os.path.join(jvm_dir, "spec.json"), "w") as f:
        json.dump(jspec, f)
    cmd = (["java"] + spec["jvm_opts"] +
           [f"-Djava.io.tmpdir={jvm_dir}/tmp", f"-Dspark.local.dir={jvm_dir}/local",
            "-cp", spec["classpath"], "etlbench.EtlBench", os.path.join(jvm_dir, "spec.json")])
    log = open(os.path.join(jvm_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=os.path.join(jvm_dir, "cwd"), env=spec["env"],
                         stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=spec["timeout_s"])
    except subprocess.TimeoutExpired:
        p.kill()
        rc = p.wait()
    log.close()
    out = {"jvm_rc": rc, "jvm_log_tail": open(log.name).read()[-6000:]}
    if rc == 0:
        out["jvm"] = json.load(open(jspec["result"]))
        if spec["catalog"]:
            out["catalog_bad"] = check_catalog(
                spec["root"], spec["catalog"]["data"], os.path.join(jvm_dir, "out", "check"),
                spec["catalog"]["names"], json.load(open(spec["registry"])))
    fd = os.open("result.json", os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644, dir_fd=out_fd)
    with os.fdopen(fd, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
