#!/usr/bin/env python3
"""graft benchmark: one run of one workload, one JSON line on stdout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark's JVM program in `perfbench/` with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from
`--seed`, starts one JVM (Spark `local[nproc]`, one closed-loop
client), measures for `--seconds` (curation_cold: exactly one cold
job, whatever `--seconds`), checks every unit's output against
an independent DuckDB oracle, and prints
`{"correct", "attempted", "failed", "metrics"}` as its last line:
the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 150           # the JVM's share of the 180 s a run may take
BUILD_DEADLINE_S = 800     # the first run in a checkout builds
HEAP = "3g"

# workload -> input size and protocol
RETAIL = {"rows": 120_000, "products": 4_000, "warm_jobs": 15}
CURATION = {"docs": 200, "vecs": 200, "sources": 5}

WORKLOADS = ("retail_etl_daily", "curation_cold")

END_TO_END = {"setup_s": "s", "items_per_s": "1/s"}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    h.update(open(p, "rb").read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark program; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: graft sources not found next to perfbench/")
    cache = os.path.join(HERE, ".build")
    os.makedirs(cache, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(cache, "classpath.txt")
    if os.path.isfile(cp_file):
        saved_stamp, cp = open(cp_file).read().split("\n", 1)
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(":")):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "-Xmx2g"), *opts])
    log("building graft and the benchmark program (sbt, offline)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_DEADLINE_S)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


# ---- inputs ------------------------------------------------------------

def make_inputs(workload, seed, data):
    """Write the run's inputs; return the items one unit processes."""
    if workload == "retail_etl_daily":
        return gen.retail(data, seed, RETAIL["rows"], RETAIL["products"])["rows"]
    gen.corpus(data, seed, CURATION["docs"], CURATION["vecs"], CURATION["sources"])
    return CURATION["docs"]


# ---- the JVM -----------------------------------------------------------

def run_jvm(cp, workload, seconds, trace, work, deadline):
    nproc = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
           "--workload", workload, "--data", os.path.join(work, "data"),
           "--out", os.path.join(work, "out"), "--seconds", str(seconds),
           "--trace", str(trace), "--nproc", str(nproc),
           "--warm", str(RETAIL["warm_jobs"])]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=out,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: the run did not finish in time")
    res_path = os.path.join(work, "out", "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    return json.load(open(res_path))


# ---- metrics -----------------------------------------------------------

def m(value, unit):
    return {"value": float(value), "unit": unit}


def end_to_end(setup_s, items, walls):
    """`items_per_s` is the items of one unit over the median unit wall
    time: input rows per second for the ETL job (the issue's
    etl_rows_per_s), documents per second for curation
    (curate_docs_per_s)."""
    return {"setup_s": m(setup_s, "s"),
            "items_per_s": m(items / stats.median(walls), "1/s")}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    cp = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "data"))
    try:
        t0 = time.time()
        items = make_inputs(a.workload, a.seed, os.path.join(work, "data"))
        gen_s = time.time() - t0
        res = run_jvm(cp, a.workload, a.seconds, a.trace, work, deadline)
        setup_s = gen_s + res["setup_jvm_s"]
        verdict = checks.check(a.workload, res, os.path.join(work, "data"),
                               os.path.join(work, "out"), tmp=os.path.join(work, "tmp"))
        units = checks.units(res)
        failed = sum(1 for i in range(len(units)) if not verdict[i])
        ok_walls = [u["wall_s"] for u, v in zip(res["units"], verdict) if v]
        if a.trace:
            metrics = layers.per_layer(res, a.workload)
        else:
            metrics = end_to_end(setup_s, items,
                                 ok_walls or [u["wall_s"] for u in res["units"]])
        log(f"{a.workload} seed={a.seed}: {len(units)} units, {failed} failed, "
            f"gen {gen_s:.2f}s, setup {setup_s:.2f}s, detail "
            f"{json.dumps(res.get('setup_detail', {}))[:300]}, "
            f"walls {[round(u['wall_s'], 3) for u in res['units']][:40]}, "
            f"total {time.time() - t_start:.1f}s")
        print(json.dumps({"correct": failed == 0, "attempted": len(units),
                          "failed": failed, "metrics": metrics}))
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
