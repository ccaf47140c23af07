#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 graftbench/run.py --workload etl_daily --seed 1 --seconds 30 --trace 0
    python3 graftbench/run.py query_mix 7 --trace

Builds the benchmark (graftbench/build.sbt, which compiles the repository's
graft sources next to the benchmark driver) offline when the sources changed,
runs the workload in a fresh JVM, checks the outputs and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. Without --trace the
metrics are the end-to-end ones, with --trace the per-layer ones.

Every run's artifact is kept under .graftbench_run/artifacts; summary.py
prints the spread of a set of runs.
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
WORK = os.path.join(ROOT, ".graftbench_run")
WORKLOADS = ("etl_daily", "query_mix")
DATA_DIR = os.environ.get("GRAFTBENCH_DATA", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "ops_per_s": "ops/s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}
# fixed heap: with a growable one, VmHWM follows G1's sizing decisions
JVM_HEAP = "1g"
RUN_LIMIT_S = 170
# etl_daily runs the JIT's C1 tier only, with room for its larger code (the
# 48 MB default fills and the flushing shows as slow ticks). With C2 on, its
# compile decisions in a young JVM moved a tick's median by up to 30 %
# between identical runs and kept ~0.6 cores busy compiling. query_mix keeps
# the default JIT: its graph and streaming queries compute, and C1 code ran
# them ~3x slower.
JIT_FLAGS = {"etl_daily": ["-XX:TieredStopAtLevel=1",
                           "-XX:ReservedCodeCacheSize=512m"],
             "query_mix": []}
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise BenchError("graft sources not found next to graftbench/")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "graftbench.stamp")
    cp_file = os.path.join(target, "graftbench.classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx4g")
    log("building (sbt compile, offline)")
    t0 = time.time()
    try:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            start_new_session=True)
    except OSError as e:
        raise BenchError(f"build failed: {e}")
    try:
        out, _ = p.communicate(timeout=850)
    except subprocess.TimeoutExpired:
        out = ""
    finally:
        if p.poll() is None:  # sbt's launcher script runs java as a child
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    lines = [l for l in out.splitlines()
             if "graftbench" in l and "classes" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise BenchError(f"build failed (exit {p.returncode})")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_jvm(cp, workload, seed, seconds, trace, run_dir, deadline):
    """One fresh JVM; returns its result.json."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           JIT_FLAGS[workload] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "graftbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", run_dir, DATA_DIR])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code is None:
        raise BenchError("the benchmark JVM ran out of time")
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"the benchmark JVM failed (exit {code})")
    with open(result) as fh:
        return json.load(fh)


def _canon(v):
    if isinstance(v, float) and v == 0.0:
        v = 0.0  # -0.0 and 0.0 compare equal
    return repr(v)


def result_hash(con, relation):
    """(row count, order-independent hash) over columns sorted by name."""
    cols = sorted(relation.columns)
    rows = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                   + " FROM relation").fetchall()
    h = 0
    for r in rows:
        d = hashlib.blake2b("\x1f".join(map(_canon, r)).encode(),
                            digest_size=8).digest()
        h = (h + int.from_bytes(d, "little")) % (1 << 64)
    return len(rows), f"{cols}:{h:016x}"


def check_queries(run_dir, checks):
    """Queries whose result disagrees with the DuckDB oracle (or, for the
    oracle-exempt ones, with a second execution)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(DATA_DIR, t)}.parquet'")
    bad = {}
    for name, how in sorted(checks.items()):
        try:
            spark = result_hash(con, con.sql(
                f"SELECT * FROM '{run_dir}/results/{name}/*.parquet'"))
            if "oracle_sql" in how:
                want = result_hash(con, con.sql(how["oracle_sql"]))
            else:
                want = result_hash(con, con.sql(
                    f"SELECT * FROM '{run_dir}/results_again/{name}/*.parquet'"))
            if spark != want:
                bad[name] = f"rows/hash {spark} != {want}"
        except Exception as e:  # a broken result is a failed check
            bad[name] = str(e).splitlines()[0]
    return bad


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("pos", nargs="*", help="<workload> <seed>")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", nargs="?", const="1", default="0",
                    choices=["0", "1"])
    a = ap.parse_args(argv)
    if a.pos:
        if len(a.pos) != 2 or a.workload or a.seed is not None:
            ap.error("positional form is <workload> <seed>")
        a.workload, a.seed = a.pos[0], int(a.pos[1])
    if a.workload not in WORKLOADS or a.seed is None:
        ap.error(f"need --workload {{{','.join(WORKLOADS)}}} and --seed")
    a.trace = a.trace == "1"
    return a


def main(argv):
    a = parse_args(argv)
    start = time.time()
    if not os.path.isdir(DATA_DIR):
        raise BenchError(f"fixtures not found: {DATA_DIR}")
    cp = build()
    run_dir = os.path.join(WORK, a.workload + ("-trace" if a.trace else ""))
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, run_dir,
                  max(time.time(), start) + RUN_LIMIT_S)
    if not res["valid"]:
        raise BenchError(f"invalid run: {res['invalid_reason']}")
    checks = res["workload_info"].get("checks", {})
    bad = check_queries(run_dir, checks) if checks else {}
    failed_ops = [o for o in res["ops"] if not o["ok"] or o["label"] in bad]
    res["check_failures"] = bad
    res["failed"] = len(failed_ops)
    res["end_to_end"]["fail_frac"] = len(failed_ops) / res["attempted"]
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    art = os.path.join(WORK, "artifacts", f"{a.workload}-s{a.seed}-t"
                       f"{int(a.trace)}-{int(time.time() * 1000)}.json")
    with open(art, "w") as fh:
        json.dump(res, fh)
    for name, why in bad.items():
        log(f"check failed: {name}: {why}")
    e2e = res["end_to_end"]
    print("end-to-end: " + ", ".join(
        f"{k}={e2e[k]:.6g} {END_TO_END.get(k, 'ratio')}"
        for k in list(END_TO_END) + ["fail_frac"]))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def layer_unit(name):
    if name.endswith("ops_per_s"):
        return "ops/s"
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio"),
                         ("_util", "ratio"), (".bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except BenchError as e:
        log(str(e))
        sys.exit(2)
