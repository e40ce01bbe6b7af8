#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload olap_joins --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (sbt, once per source state), runs the
harness JVM in a fresh working directory under perfbench/.work/, and prints
the harness output with one JSON result object as the last line. See
perfbench/README.md for the workloads and metrics.

Maintainer mode, after a change that alters query results on purpose:

    python3 perfbench/run.py --make-expected

re-dumps every benchmarked query with graft.Verify, requires
tools/check_oracle.py (DuckDB) to pass each one, and rewrites
perfbench/expected.json from those results.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SIDECAR = os.path.join(HERE, "target", "stats-sidecar")
WORKLOADS = ("olap_joins", "corpus_similarity", "ingest_writes")
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine sources and harness files."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs against:
    SPARK_HOME, else the first directory on PATH with a spark-submit and a
    sibling jars/ (pip's pyspark wrappers have none)."""
    path_homes = [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
                  if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in [os.environ.get("SPARK_HOME")] + path_homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    stamp = source_stamp()
    if (os.path.isdir(CLASSES) and os.path.isdir(SIDECAR)
            and os.path.exists(STAMP) and open(STAMP).read() == stamp):
        return
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 3)
    prepare_stats()
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def prepare_stats():
    """Write the statistics sidecar every run starts from (see Main.prepareStats)."""
    work = os.path.join(WORK, "prepare")
    fresh_dir(work)
    shutil.rmtree(SIDECAR, ignore_errors=True)
    env = dict(os.environ, GRAFT_STATS_DIR=SIDECAR, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    code, _, log = run_jvm(java_cmd("perfbench.Main", ["--prepare", "1", "--data", DATA,
                                                       "--work", work], work), work, env)
    if code != 0 or not os.path.exists(os.path.join(SIDECAR, "_SUCCESS")):
        fail(f"statistics sidecar build failed; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)


def java_cmd(main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    return (["java"] + opens
            + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, main] + args)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(path, sub))


def run_jvm(cmd, work, env):
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            # SIGTERM first: the engine's shutdown hook then deletes the
            # per-process scratch it staged; SIGKILL only if that hangs
            proc.terminate()
            try:
                out, _ = proc.communicate(timeout=5)
            except subprocess.TimeoutExpired:
                proc.kill()
                out, _ = proc.communicate()
            print(f"perfbench: harness timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
    return proc.returncode, out, log_path


def run_workload(a):
    if not os.path.isfile(EXPECTED):
        fail(f"missing {os.path.relpath(EXPECTED, ROOT)}")
    build()
    work = os.path.join(WORK, f"run-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    fresh_dir(work)
    shutil.copytree(SIDECAR, os.path.join(work, "stats-catalog"))
    env = dict(os.environ,
               GRAFT_STATS_DIR=os.path.join(work, "stats-catalog"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_ONLY", None)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", work,
            "--expected", EXPECTED]
    code, out, log_path = run_jvm(java_cmd("perfbench.Main", args, work), work, env)
    lines = out.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = (code == 0 and isinstance(result, dict)
          and set(result) == {"correct", "attempted", "failed", "metrics"})
    # keep the last run's outputs per workload and mode; drop the scratch
    keep = os.path.join(WORK, "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ("result.json", "spans.jsonl", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), keep)
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        with open(os.path.join(keep, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        fail(f"harness failed (exit {code}); log tail:\n{tail}", 1)
    print("\n".join(lines))


def make_expected():
    build()
    work = os.path.join(WORK, "expected")
    fresh_dir(work)
    verify_out = os.path.join(work, "verify")
    queries = queries_from_source()
    env = dict(os.environ, GRAFT_STATS_DIR=os.path.join(work, "stats-catalog"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_GRAFT_ONLY=",".join(queries), SPARK_GRAFT_CPUS="4")
    code, out, log = run_jvm(java_cmd("graft.Verify", [DATA, verify_out], work), work, env)
    if code != 0:
        fail(f"graft.Verify failed; see {log}", 1)
    r = subprocess.run(["python3", os.path.join(ROOT, "tools", "check_oracle.py"), DATA, verify_out],
                       capture_output=True, text=True)
    print(r.stdout)
    verdict = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "INFO"):
            verdict[parts[1].rstrip(":")] = parts[0]
    bad = [q for q in queries if verdict.get(q) != "PASS"]
    if bad:
        fail(f"oracle did not pass: {', '.join(f'{q}={verdict.get(q)}' for q in bad)}", 1)
    prints = os.path.join(work, "prints.json")
    code, out, log = run_jvm(java_cmd("perfbench.Main", ["--expect", verify_out, "--out", prints],
                                      work), work, dict(os.environ))
    if code != 0:
        fail(f"fingerprinting failed; see {log}", 1)
    import duckdb  # maintainer mode only; the benchmark itself does not need it
    con = duckdb.connect()
    slices = {}
    for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        rows = dict(con.execute(
            f"SELECT {key} % 64, count(*) FROM read_parquet('{DATA}/{table}.parquet') GROUP BY 1"
        ).fetchall())
        slices[table] = [rows.get(j, 0) for j in range(64)]
    expected = {
        "about": "Row count + fingerprint of each query result on perfbench/data, "
                 "taken from graft.Verify output that tools/check_oracle.py (DuckDB) passed; "
                 "per-slice row counts (key % 64) of the transactional source tables, from DuckDB.",
        "queries": json.load(open(prints)),
        "slices": slices,
    }
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=False)
        fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {os.path.relpath(EXPECTED, ROOT)} ({len(queries)} queries)")


def queries_from_source():
    """Every query name Workloads.scala mentions (timed and warm-up ops)."""
    src = open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Workloads.scala")).read()
    return sorted(set(re.findall(r'"(q\d+_[a-z0-9_]+)"', src)))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--make-expected", action="store_true")
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}; "
             "run from the root of a repository checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if a.make_expected:
        make_expected()
    elif a.workload is None or a.seed is None or a.seconds is None:
        p.error("--workload, --seed and --seconds are required")
    else:
        run_workload(a)


if __name__ == "__main__":
    main()
