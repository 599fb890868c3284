#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last line.

    python3 dwbench/run.py --workload etl_warehouse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness and
the program from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Everything the run writes goes under
dwbench/.work. See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

# Input size of each workload as a multiple of the sf0.1 row counts;
# its operations are listed in ops/<workload>.tsv.
SCALE = {"etl_warehouse": 0.05, "graph_heavy": 0.1}
SETUPS = 3  # set-up repetitions per run; setup_s is their median
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("dwbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if "target" not in d.split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + program when the sources changed; return the
    runtime classpath."""
    stamp = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip(), digest
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1], digest


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def etl_expected(art):
    """Insert counts per phase, computed by DuckDB over the seeded split."""
    import duckdb
    d, cut = art["data_dir"], art["cutoffs"]
    ev_cut = cut["events"].replace("T", " ")
    f_cut = cut["fact"].replace("T", " ")
    con = duckdb.connect()

    def one(sql):
        return con.sql(sql).fetchone()[0]

    def tbl(n):
        return "read_parquet('%s/%s.parquet/*.parquet') AS %s" % (d, n, n)
    edit = ("SELECT greatest(l_shipdate, o_orderdate) AS t FROM %s JOIN %s "
            "ON l_orderkey = o_orderkey" % (tbl("lineitem"), tbl("orders")))
    full = {n: one("SELECT count(*) FROM %s" % tbl(n)) for n in ("customer", "part", "supplier")}
    full["user_profile"] = one("SELECT count(*) FROM %s WHERE ts <= TIMESTAMP '%s'"
                               % (tbl("events"), ev_cut))
    full["factsales"] = one("SELECT count(*) FROM (%s) WHERE t <= TIMESTAMP '%s'" % (edit, f_cut))
    inc = {n: 0 for n in ("customer", "part", "supplier")}
    inc["user_profile"] = one("SELECT count(*) FROM %s WHERE ts > TIMESTAMP '%s'"
                              % (tbl("events"), ev_cut))
    inc["factsales"] = one("SELECT count(*) FROM (%s) WHERE t > TIMESTAMP '%s'" % (edit, f_cut))
    return {"full": full, "incremental": inc, "noop": {k: 0 for k in full}}


def untraced_pass_walls(workload):
    """wall_s of this checkout's earlier untraced runs of `workload`."""
    d = os.path.join(WORK, "artifacts")
    walls = []
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.startswith(workload + "-") and f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as fh:
                walls.append(json.load(fh)["metrics"]["wall_s"])
    return walls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found at %s/src/main/scala; run from a full checkout" % ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath, digest = build()
    t_start = time.time()

    rng = random.Random(args.seed)
    run_dir = os.path.join(WORK, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "artifact.json")
    cores = len(os.sched_getaffinity(0))
    jargs = ["--workload", args.workload, "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--work", run_dir, "--out", out,
             "--cores", str(cores), "--scale", str(SCALE[args.workload]),
             "--setups", str(SETUPS), "--ops", os.path.join(run_dir, "ops.tsv")]
    with open(os.path.join(HERE, "ops", args.workload + ".tsv")) as fh:
        ops = [l for l in fh.read().splitlines() if l]
    if args.workload == "etl_warehouse":
        # day-0 cutoff inside a fixed window near the end of each
        # source's time range
        jargs += ["--cutoff", "%.6f" % (0.80 + 0.10 * rng.random())]
    # The query members run in the listed order. With one pass per run
    # the first member also pays the JVM's cold start (3-5 s); a seeded
    # order moved that cost between members and doubled the run-to-run
    # spread of wall_s.
    with open(os.path.join(run_dir, "ops.tsv"), "w") as fh:
        fh.write("\n".join(ops) + "\n")
    java = ["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in OPENS] + [
        "-Xmx" + HEAP, "-Xms" + HEAP, "-Duser.timezone=UTC",
        "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-cp", classpath, "dwbench.Main"] + jargs
    budget = JVM_TIMEOUT_S - (time.time() - t_start)
    try:
        try:
            p = subprocess.run(java, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=budget)
        except subprocess.TimeoutExpired:
            fail("harness did not finish within %.0f s" % budget)
        if p.returncode != 0 or not os.path.exists(out):
            fail("harness exited with %d" % p.returncode)
        with open(out) as fh:
            art = json.load(fh)
        failed = sum(1 for r in art["results"] if not r["ok"])
        attempted = len(art["results"])
        if args.workload == "etl_warehouse":
            exp = etl_expected(art)
            for r in art["results"]:
                if r["ok"] and r["detail"] != exp[r["name"]]:
                    print("dwbench: %s inserted %s, DuckDB expects %s"
                          % (r["name"], r["detail"], exp[r["name"]]), file=sys.stderr)
                    r["ok"] = False
                    failed += 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layers = metrics.declared_layers(os.path.join(HERE, "ops"))
        got = metrics.per_layer(art, layers, untraced_pass_walls(args.workload))
        names = [m["name"] for m in spec["per_layer"]]
    else:
        got = metrics.end_to_end(art)
        names = [m["name"] for m in spec["end_to_end"]]
    art["meta"] = {"seed": args.seed, "nproc": cores, "heap": HEAP,
                   "spark_version": art["spark_version"], "git_sha": git_sha(),
                   "source_sha256": digest, "seconds": args.seconds, "trace": args.trace}
    art["metrics"] = {k: v for k, (v, _) in got.items()}
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    with open(os.path.join(WORK, "artifacts", "%s-seed%d-trace%d.json"
                           % (args.workload, args.seed, args.trace)), "w") as fh:
        json.dump(art, fh, indent=1)
    missing = [n for n in names if n not in got]
    if missing:
        fail("metrics missing from this run: %s" % missing)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": got[n][0], "unit": got[n][1]} for n in names}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
