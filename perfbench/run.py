#!/usr/bin/env python3
"""Run one benchmark workload against the engine checked out next to this
directory, check its outputs, and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

The first run builds the engine and the harness from source with sbt and
keeps a copy of the compiled classes and the runtime classpath under
perfbench/build/<digest>/, keyed by a digest of every source and build
file. A run then starts one JVM (perfbench.Main) on local[nproc]: set-up
(session, seeded inputs), one measured round, and untimed output checks.
--seconds is accepted and ignored: one round outlasts any window it sets.
Oracle checks run here, afterwards, with DuckDB and the rules of
scripts/check.py. With --trace 1 the untraced run of the same workload and
seed runs first, and the traced round's time over it is the tracing
overhead.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The exit code is 0 only
when every output check passed. Result and span files are written to
perfbench/results/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "build")
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
DATA = os.path.join(HERE, "data")
WORKLOADS = ["etl_warehouse", "heavy_analytics", "event_stream"]
# Every JVM of one invocation (two with --trace 1) ends within this.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads from this checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, n) for d in (ROOT, HERE, os.path.join(ROOT, "project"),
                                          os.path.join(HERE, "project"))
             for n in os.listdir(d) if n.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source digest; return the classpath.

    sbt compiles into target/ directories that the next build of other
    sources overwrites, so the class directories on the exported classpath
    are copied into build/<digest>/ and the cached classpath names the
    copies: a cache hit runs the classes of its own sources.
    """
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE} (expected ../build.sbt and ../src/main/scala)")
    own = os.path.join(BUILD, source_digest())
    cache = os.path.join(own, "classpath.txt")
    if os.path.isfile(cache):
        with open(cache) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Xmx2g")
    # sbt's own state and scratch stay inside the checkout too.
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += (" -Dsbt.offline=true -Dsbt.server.forcestart=false"
                        f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"
                        f" -Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}"
                        f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        env["SBT_OPTS"] += (" -Dsbt.override.build.repos=true"
                            f" -Dsbt.repository.config={repos}")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    fh_out = p.stdout
    with open(log, "a") as fh:
        fh.write(fh_out)
    lines = [l for l in fh_out.splitlines() if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    shutil.rmtree(own, ignore_errors=True)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(own, f"classes-{i}")
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cache + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cache + ".tmp", cache)
    return cp


def heap():
    """The heap tier-1 runs with: SPARK_DRIVER_MEM, else half the host's
    memory clamped to 2..8 GiB."""
    req = os.environ.get("SPARK_DRIVER_MEM", "").strip().lower()
    if req[:-1].isdigit() and req[-1:] in ("g", "m"):
        return req
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, a, trace, result, spans, deadline):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = (["java", f"-Xmx{heap()}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--trace", str(trace),
              "--data", DATA, "--work", WORK,
              "--result", result, "--spans", spans])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    log = os.path.join(RESULTS, f"{a.workload}-trace{trace}.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=WORK, env=env, stdout=fh,
                               stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"{a.workload} exceeded {RUN_TIMEOUT_S} s; see {log}")
    if p.returncode != 0 or not os.path.isfile(result):
        fail(f"{a.workload} failed (exit {p.returncode}); see {log}")


def load_check_rules():
    """scripts/check.py, imported as a module (its rules, unmodified)."""
    path = os.path.join(ROOT, "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("engine_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return path, mod


def decide_checks(checks, corpus):
    """Fill in `ok` for the checks the JVM left to DuckDB."""
    path, rules = load_check_rules()
    check_dir = os.path.join(WORK, "check")
    oracle = [c for c in checks if c.get("kind") == "oracle"]
    if oracle:
        p = subprocess.run([sys.executable, path, corpus, check_dir],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=120)
        verdict = {}
        for line in p.stdout.splitlines():
            word, _, rest = line.partition(" ")
            if word in ("PASS", "FAIL"):
                verdict[rest.split(":")[0].split(" ")[0]] = (word == "PASS", line)
        for c in oracle:
            c["ok"], c["detail"] = verdict.get(c["name"], (False, "no verdict"))
    counts = [c for c in checks if c.get("kind") == "warehouse_counts"]
    if counts:
        import duckdb
        with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
            sql = json.load(fh)["pipeline_warehouse_counts"]
        con = duckdb.connect()
        rules.register_views(con, corpus)
        want = {t: n for t, n in con.execute(sql).fetchall()}
        for c in counts:
            c["ok"] = c["counts"] == want
            if not c["ok"]:
                c["detail"] = f"got {c['counts']} want {want}"
    return checks


def summarize(res, trace):
    checks = decide_checks(res["checks"], res["corpus"])
    bad = [c for c in checks if not c.get("ok")]
    attempted = max(1, res["attempted"])
    failed = min(attempted, res["failed_ops"] + sum(c["ops"] for c in bad))
    for c in bad:
        print(f"CHECK FAILED {c['name']}: {c.get('detail', '')}")
    res["error_rate"] = failed / attempted
    metrics = res["per_layer"] if trace else res["end_to_end"]
    return {"correct": not bad and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def measure(cp, a, trace, deadline):
    """One JVM run of the workload, its checks decided; the result file
    is written."""
    os.makedirs(RESULTS, exist_ok=True)
    result = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{trace}.json")
    spans = os.path.join(RESULTS, f"spans-{a.workload}-seed{a.seed}.json")
    if os.path.exists(result):
        os.remove(result)
    run_jvm(cp, a, trace, result, spans, deadline)
    with open(result) as fh:
        res = json.load(fh)
    line = summarize(res, trace)
    with open(result, "w") as fh:
        json.dump(res, fh, indent=1)
    return res, line, result, spans


def run_one(a):
    cp = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if a.trace:
        # The untraced run of the same workload and seed, just before the
        # traced one, on the same build: the tracing overhead is the
        # traced round's time over its round's time.
        plain, plain_line, _, _ = measure(cp, a, 0, deadline)
    res, line, result, spans = measure(cp, a, a.trace, deadline)
    if a.trace:
        traced = res["end_to_end"]["round_s"]["value"]
        base = plain["end_to_end"]["round_s"]["value"]
        res["per_layer"]["trace.overhead_pct"]["value"] = 100.0 * (traced / base - 1.0)
        line["correct"] = line["correct"] and plain_line["correct"]
        with open(result, "w") as fh:
            json.dump(res, fh, indent=1)
    print(f"workload {a.workload}  seed {a.seed}  nproc {res['host']['nproc']}"
          f"  heap {res['host']['heap_max_mb']} MB  scratch {res['host']['scratch']}")
    for group in ("end_to_end", "named") + (("per_layer",) if a.trace else ()):
        for k, m in sorted(res[group].items()):
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(f"  error_rate = {res['error_rate']:.6g}")
    if a.trace:
        print(f"  spans: {spans}")
    print(json.dumps(line))
    return line["correct"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1,
                    help="accepted and ignored: a run is one round")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # One run at a time per checkout: runs share the work directory.
    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    if a.workload != "all":
        sys.exit(0 if run_one(a) else 1)
    ok = True
    for w in WORKLOADS:
        a.workload = w
        ok = run_one(a) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
