#!/usr/bin/env python3
"""Replication-first benchmark of graft: one run of one workload.

Usage (from the root of a checkout):

    python3 replbench/run.py --workload live|wide|analytics --seed N \
        --seconds S --trace 0|1 [--cores C] [--rate R]

Builds the program (src/main/scala) and the harness (replbench/src/main/scala)
with `sbt package` in replbench/ when their sources changed, and records the
class-data-sharing archive every run maps. Then it runs the workload
in one JVM under a fresh scratch root (deleted afterwards), checks the
outputs, and prints one JSON object as the last line of stdout: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
`--rate` replaces live's offered rate, to measure the pipeline's capacity.
Logs, span files and the oracle summaries go to $CARGO_TARGET_DIR (default
.bench_build); the jar and its class-data-sharing archive to replbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# the read-only sf0.1 tables of TESTDATA.md (graft.Bench reads the same variable)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
SOURCES = ["src/main/scala", "replbench/src/main/scala"]
BUILD_FILES = ["replbench/build.sbt", "replbench/project/build.properties"]
JAR = "replbench/target/replbench.jar"
# class-data-sharing archive of the classes a run loads, recorded at build time
ARCHIVE = "replbench/target/replbench.jsa"
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]
# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"replbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files():
    out = []
    for d in SOURCES:
        if not os.path.isdir(d):
            die(f"no {d} here; run from the root of a checkout of the program")
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def java_timeout_s(seconds, trace):
    """The JVM's in-run deadlines (Main.deadlineS: passes x (seconds + 90))
    plus 60 s for set-up and the output checks, so they fire first and a
    hung stream or query shows as a failure in the result."""
    return (2 if trace else 1) * (seconds + 90) + 60


def jvm_cmd(root, args, record=False):
    """The benchmark JVM: scratch (temp dir, Derby home) under `root`. It
    maps the class-data-sharing archive and refuses to start without it, or
    with `record` writes the archive at exit."""
    archive = os.path.abspath(ARCHIVE)
    share = ([f"-XX:ArchiveClassesAtExit={archive}"] if record
             else [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"])
    return (["java"] + share + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
             # a fixed young generation: peak RSS then follows what the
             # program retains, not when adaptive sizing grew the heap
             "-XX:+UseParallelGC", "-Xmn768m",
             # JVM warnings go to the run's log, never into the result stream
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}/derby",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.path.abspath(JAR) + os.pathsep + os.path.join(SPARK_JARS, "*"),
             "replbench.Main", "--root", root, "--sf", SF_DIR] + args)


def fresh_root(build_dir, name):
    root = os.path.join(build_dir, "runs", name)
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(root, d))
    return root


def build(build_dir):
    """`sbt package` in replbench/ when the digest of the sources, build
    files and this file differs from the last build's; sbt's own start-up
    would otherwise cost every run about 20 s. sbt's global state and temp
    files stay under the build dir; dependencies resolve offline from the
    local caches. Then a short training run records the class-data-sharing
    archive that every run maps: it takes about 8 s off each run's start,
    which the time budget needs (see README.md). A build whose training run
    fails, fails; no run starts without the archive."""
    h = hashlib.sha256()
    for f in scala_files() + BUILD_FILES + [__file__]:  # this file holds the JVM flags
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(build_dir, "build.sha256")
    # the archive is valid only for the jar it was recorded with
    if (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(ARCHIVE)
            and os.path.getmtime(ARCHIVE) >= os.path.getmtime(JAR)):
        return
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
             f"-Djava.io.tmpdir={tmp}", "package"],
            cwd="replbench", stdin=subprocess.DEVNULL, stdout=fh, stderr=subprocess.STDOUT,
            env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
    if r.returncode != 0 or not os.path.exists(JAR):
        sys.stderr.write(open(log).read()[-5000:])
        die(f"build failed (log: {log})")
    root = fresh_root(build_dir, f"train-{os.getpid()}")
    try:
        with open(log, "a") as fh:
            r = subprocess.run(jvm_cmd(root, [
                "--workload", "live", "--seed", "0", "--seconds", "2", "--trace", "0",
                "--out", os.path.join(root, "result.json")], record=True),
                stdout=fh, stderr=subprocess.STDOUT, timeout=java_timeout_s(2, 0))
        ok = r.returncode == 0 and os.path.exists(ARCHIVE)
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if not ok:
        die(f"recording the class-data-sharing archive failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def summary(df):
    """Columns by name, row count, dtypes and value hash of a result with its
    rows sorted: what the repo's correctness gate compares."""
    from pandas.util import hash_pandas_object
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return {"columns": list(df.columns), "rows": len(df),
            "dtypes": [str(t) for t in df.dtypes],
            "hash": int(hash_pandas_object(df, index=False).sum())}


def oracle_check(root, build_dir):
    """Compare each analytics result with its DuckDB oracle SQL. The oracle's
    summary depends only on the SQL text and the read-only tables, so it is
    computed once per checkout and kept under the build dir. Returns
    (checked, mismatches)."""
    import duckdb
    oracle = json.load(open(os.path.join(root, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{root}/duckdb'")
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    cache = os.path.join(build_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    bad = 0
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256((SF_DIR + "\0" + sql).encode()).hexdigest()
        path = os.path.join(cache, f"{name}-{key[:16]}.json")
        try:
            if os.path.exists(path):
                exp = json.load(open(path))
            else:
                exp = summary(con.sql(sql).df())
                with open(path, "w") as fh:
                    json.dump(exp, fh)
            got = summary(con.sql(
                f"SELECT * FROM read_parquet('{root}/results/{name}/*.parquet')").df())
            why = next((f"{k}: {got[k]} != {exp[k]}" for k in exp if got[k] != exp[k]), None)
        except Exception as e:  # a missing result or a failing oracle query
            why = f"error {e}"
        if why:
            bad += 1
            print(f"[replbench] FAIL analytics oracle {name}: {why}")
    return len(oracle), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["live", "wide", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int)
    ap.add_argument("--rate", type=int, help="live's offered rate, events/s")
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    scala_files()  # fail fast outside a checkout, before creating anything
    if not os.path.isdir(SPARK_JARS):
        die("SPARK_HOME must name a Spark 4 installation (its jars/ are the classpath)")
    os.makedirs(build_dir, exist_ok=True)
    build(build_dir)

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    root = fresh_root(build_dir, f"{tag}-{os.getpid()}")
    log_path = os.path.join(build_dir, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    out = os.path.join(root, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out,
            "--spans", os.path.join(build_dir, "traces", f"{tag}.spans.tsv")]
    if a.cores:
        args += ["--cores", str(a.cores)]
    if a.rate:
        args += ["--rate", str(a.rate)]
    timeout = java_timeout_s(a.seconds, a.trace)
    try:
        with open(log_path, "w") as log:
            t0 = time.time()
            p = subprocess.Popen(jvm_cmd(root, args), stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                so, _ = p.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"the run exceeded {timeout} s (log: {log_path})")
        sys.stdout.write(so)
        if p.returncode != 0 or not os.path.exists(out):
            die(f"the run failed with code {p.returncode} after "
                f"{time.time() - t0:.0f} s (log: {log_path})")
        res = json.load(open(out))
        if os.path.exists(os.path.join(root, "oracle.json")):
            checked, bad = oracle_check(root, build_dir)
            res["attempted"] += checked
            res["failed"] += bad
            res["correct"] = res["correct"] and bad == 0
        if a.trace == 0:
            m = res["metrics"]
            rss = m.pop("peak_rss_mb")
            m["success_ratio"] = {"value": 1 - res["failed"] / max(1, res["attempted"]), "unit": "ratio"}
            m["peak_rss_mb"] = rss
        print(json.dumps(res))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
