#!/usr/bin/env python3
"""Dev-loop comparator mimicking the driver's DuckDB oracle check.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--json out.json]
           [--timeout SECONDS] [--memory-limit SIZE]

For each query dumped by graft.Verify: load the Spark parquet result, run the
oracle SQL in DuckDB with each fixture table registered as a view, sort
columns by name, and compare BOTH the arrow schema types (the driver hashes
typed arrow data, so DuckDB HUGEINT vs Spark BIGINT fails even with identical
values) and every cell (exact for non-floats; exact-ish 1e-12 relative for
floats so a true bitwise mismatch is still flagged loudly).

Each query is checked in its own DuckDB process, bounded by a wall-clock
limit (`--timeout`, default 120 s) and a DuckDB `memory_limit`
(`--memory-limit`, default 2GB); two such processes run at once.
A query whose check does not finish inside its bounds — killed at the time
limit, out of DuckDB memory, or its process died — is reported as
UNFINISHED, never as passed, and one heavy oracle no longer stalls the
checks after it.

Exit is nonzero on any FAIL, any OK~ float near-miss or any UNFINISHED —
OK~ would fail the driver's hash compare, and an unfinished check proves
nothing, so automation must treat both as red.

`--json out.json` additionally writes a per-query artifact in the driver's
CORRECTNESS schema (rows_match / schema_match / hash_match / spark_rows /
oracle_rows / err per query): the round's hard correctness signal, committed
as ORACLE_r{N}.json so it survives a mute driver-side channel (the driver's
CORRECTNESS file arrived as literally `{}` two rounds running). hash_match
here means every cell compared EXACTLY equal (the OK~ float near-miss band
is reported as hash_match=false — it would fail the driver's hash compare).
"""
import json
import math
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _types_compatible(s_type, d_type):
    """Both sides are normalized through DuckDB's type system (the Spark
    result is re-read from parquet by DuckDB), so arrow-type equality is the
    default. One relaxation, mirroring the driver's observed behavior: plain
    integer-width differences (int32 vs int64) hash identically there
    (values coerce to int64), while decimal128 (DuckDB HUGEINT) vs int64
    does NOT — that was round 1's silent killer."""
    if str(s_type) == str(d_type):
        return True
    import pyarrow.types as pt
    return pt.is_integer(s_type) and pt.is_integer(d_type)


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        if a == b:
            return True
        # flag near-misses distinctly: these would fail a strict hash compare
        return abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))
    return a == b


def record(rows_match=False, schema_match=False, hash_match=False,
           spark_rows=-1, oracle_rows=-1, err=None):
    """One query's record in the driver's CORRECTNESS schema."""
    return {"rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err}


def _pass_oom(e):
    """Re-raises DuckDB running out of memory: that check did not finish,
    it did not fail."""
    if type(e).__name__ == "OutOfMemoryException":
        raise e


def check_one(con, out_dir, name, sql):
    """Compares one query's Spark dump with its oracle on `con`; returns
    (status, message, record) with status "ok", "near" or "fail"."""
    try:
        spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        spark_cols = sorted(spark_rel.columns)
        spark_rows = con.sql(
            "SELECT " + ", ".join(f'"{c}"' for c in spark_cols)
            + " FROM spark_rel").fetchall()
    except Exception as e:
        _pass_oom(e)
        return ("fail", f"FAIL {name}: spark result unreadable: {e}",
                record(err=f"spark result unreadable: {e}"))
    try:
        duck_rel = con.sql(sql)
        duck_cols = sorted(duck_rel.columns)
        duck_rows = con.sql(
            "SELECT " + ", ".join(f'"{c}"' for c in duck_cols)
            + " FROM duck_rel").fetchall()
    except Exception as e:
        _pass_oom(e)
        return ("fail", f"FAIL {name}: oracle sql error: {e}",
                record(spark_rows=len(spark_rows),
                       err=f"oracle sql error: {e}"))
    counts = dict(spark_rows=len(spark_rows), oracle_rows=len(duck_rows))
    if spark_cols != duck_cols:
        msg = f"columns spark={spark_cols} duck={duck_cols}"
        return ("fail", f"FAIL {name}: {msg}",
                record(rows_match=len(spark_rows) == len(duck_rows),
                       err=msg, **counts))
    # type-strict: the driver hashes typed arrow batches, so a DuckDB
    # HUGEINT (decimal128) against a Spark int64 is a red row even when
    # every value matches. Compare arrow types column-by-column.
    try:
        s_schema = con.sql(
            "SELECT " + ", ".join(f'"{c}"' for c in spark_cols)
            + " FROM spark_rel LIMIT 0").arrow().schema
        d_schema = con.sql(
            "SELECT " + ", ".join(f'"{c}"' for c in duck_cols)
            + " FROM duck_rel LIMIT 0").arrow().schema
        type_mism = [
            (c, str(s_schema.field(c).type), str(d_schema.field(c).type))
            for c in spark_cols
            if not _types_compatible(s_schema.field(c).type,
                                     d_schema.field(c).type)]
    except Exception as e:
        _pass_oom(e)
        return ("fail", f"FAIL {name}: arrow schema fetch error: {e}",
                record(rows_match=len(spark_rows) == len(duck_rows),
                       err=f"arrow schema fetch error: {e}", **counts))
    if type_mism:
        c, st, dt = type_mism[0]
        msg = f"arrow type mismatch col {c}: spark={st} duck={dt}"
        return ("fail", f"FAIL {name}: {msg}",
                record(rows_match=len(spark_rows) == len(duck_rows),
                       err=msg, **counts))
    if len(spark_rows) != len(duck_rows):
        msg = f"rows spark={len(spark_rows)} duck={len(duck_rows)}"
        return ("fail", f"FAIL {name}: {msg}",
                record(schema_match=True, err=msg, **counts))
    bad = None
    exact = True
    for i, (sr, dr) in enumerate(zip(spark_rows, duck_rows)):
        for c, (sv, dv) in enumerate(zip(sr, dr)):
            if not cells_equal(sv, dv):
                bad = (i, spark_cols[c], sv, dv)
                break
            if sv != dv and not (
                    sv is None or dv is None
                    or (isinstance(sv, float) and math.isnan(sv))):
                exact = False
        if bad:
            break
    if bad:
        msg = f"row {bad[0]} col {bad[1]}: spark={bad[2]!r} duck={bad[3]!r}"
        return ("fail", f"FAIL {name}: {msg}",
                record(rows_match=True, schema_match=True, err=msg,
                       **counts))
    tag = "OK  " if exact else "OK~ (float near-miss — NOT bitwise!)"
    return ("ok" if exact else "near",
            f"{tag} {name}: {len(spark_rows)} rows, {len(spark_cols)} cols",
            record(rows_match=True, schema_match=True, hash_match=exact,
                   err=None if exact else "float near-miss (not bitwise)",
                   **counts))


def worker(sf_dir, out_dir, name, memory_limit):
    """Checks one query in this process; prints its result as one JSON
    line."""
    import duckdb
    con = duckdb.connect(config={"memory_limit": memory_limit,
                                 "threads": 2})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))[name]
    try:
        status, msg, rec = check_one(con, out_dir, name, sql)
    except duckdb.OutOfMemoryException as e:
        status, msg = "unfinished", f"UNFINISHED {name}: out of memory: {e}"
        rec = record(err=f"unfinished: out of memory ({memory_limit}): {e}")
    print(json.dumps({"status": status, "msg": msg, "rec": rec}))


def run_bounded(sf_dir, out_dir, name, timeout, memory_limit):
    """Runs [[worker]] for one query in its own process under `timeout`
    seconds; an unfinished check comes back with status "unfinished"."""
    cmd = [sys.executable, __file__, "--worker", sf_dir, out_dir, name,
           memory_limit]
    try:
        p = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        return ("unfinished",
                f"UNFINISHED {name}: killed at the {timeout:g} s time limit",
                record(err=f"unfinished: time limit {timeout:g} s"))
    lines = p.stdout.strip().splitlines()
    try:
        r = json.loads(lines[-1])
        return r["status"], r["msg"], r["rec"]
    except (IndexError, ValueError, KeyError):
        why = (p.stderr.strip().splitlines() or [f"exit {p.returncode}"])[-1]
        return ("unfinished", f"UNFINISHED {name}: checker died: {why}",
                record(err=f"unfinished: checker died: {why}"))


def main(sf_dir, out_dir, json_out=None, timeout=120.0,
         memory_limit="2GB"):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(oracle)
    # per-query records in the driver's CORRECTNESS schema; written (with
    # --json) even when a query fails, so the artifact names the failure
    report = {}
    counts = {"ok": 0, "near": 0, "fail": 0, "unfinished": 0}
    unfinished = []
    with ThreadPoolExecutor(max_workers=2) as pool:
        results = pool.map(
            lambda n: run_bounded(sf_dir, out_dir, n, timeout, memory_limit),
            names)
        for name, (status, msg, rec) in zip(names, results):
            print(msg, flush=True)
            counts[status] += 1
            if status == "unfinished":
                rec["unfinished"] = True
                unfinished.append(name)
            report[name] = rec
    n_bad, n_near = counts["fail"], counts["near"]
    n_unf = counts["unfinished"]
    print(f"\n{len(oracle) - n_bad - n_unf}/{len(oracle)} queries match"
          + (f" ({n_near} only approximately — treated as FAILING)"
             if n_near else "")
          + (f"; {n_unf} UNFINISHED (not checked): {', '.join(unfinished)}"
             if n_unf else ""))
    if json_out:
        summary = {
            "n_queries": len(oracle),
            "n_pass": sum(1 for r in report.values()
                          if r["rows_match"] and r["schema_match"]
                          and r["hash_match"]),
            "n_fail": n_bad,
            "n_near": n_near,
            "n_unfinished": n_unf,
            "sf": sf_dir,
            "queries": report,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}: {summary['n_pass']}/{len(oracle)} pass")
    return 1 if (n_bad or n_near or n_unf) else 0


def option(flag, default, cast=str):
    """The value after `flag` in argv (removed from it), else `default`."""
    if flag not in sys.argv:
        return default
    i = sys.argv.index(flag)
    v = sys.argv[i + 1]
    del sys.argv[i:i + 2]
    return cast(v)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        worker(*sys.argv[2:6])
        sys.exit(0)
    jout = option("--json", None)
    tlim = option("--timeout", 120.0, float)
    mlim = option("--memory-limit", "2GB")
    args = sys.argv[1:]
    sys.exit(main(args[0], args[1], jout, tlim, mlim))
