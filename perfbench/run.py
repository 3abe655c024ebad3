#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles graft
(with the repository's own build) and the harness under perfbench/; later
runs reuse the build while no source file changed. Every run then

  1. generates the workload's input tables from the seed (datagen.py),
  2. starts one JVM with a local[nproc] Spark session and graft's
     extensions, sets the workload up (timed from JVM start) and times
     passes over its op sequence for --seconds. A traced run runs two such
     JVMs, one traced and one not, in an order drawn from the seed (each
     JVM runs a little faster than the one before it): the traced one
     gives the profile, and its wall time over the other's gives the
     tracing overhead,
  3. checks the outputs: in the JVM (sample bounds, store read-back, ANN
     recall, pruned BM25) and here, where catalog rows are compared with
     their DuckDB oracles,
  4. prints one JSON line: end-to-end metrics with --trace 0, per-layer
     metrics with --trace 1. A record of the run (metrics, per-op
     medians, set-up and pass times) is kept in .perfbench/runs/.

All files are written under .perfbench/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Input sizes (rows) per workload. Sizes are fixed; only the values drawn
# from them depend on the seed, so every seed does the same amount of work.
# catalog: every table at 1/25 of its sf0.1 row count (region and nation
# are fixed); stores: 800 ids that have both a document and an embedding
# (sf0.1 has 2000 such ids).
SIZES = {
    "catalog": dict(region=5, nation=25, customer=600, supplier=40, part=800, orders=6000,
                    lineitem=24000, events=4000, documents=200),
    "stores": dict(documents=800, embeddings=800),
}

NUMBERS = (int, float, Decimal)
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# all JVMs of one run end within this many seconds (the build excluded)
RUN_BUDGET_S = 165
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness unless the stamped build is current;
    returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            done = json.load(fh)
        if done.get("digest") == digest:
            return done["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-3000:])
        fail(f"build failed (exit {proc.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def java_cmd(classpath, args, run_dir):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, "perfbench.Main"] + args)


def same(a, b):
    """Value equality for oracle checks: numbers (DECIMAL sums read as
    floats) equal to 1e-6 relative, everything else exactly."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, NUMBERS) and isinstance(b, NUMBERS):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or \
            math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-6)
    return str(a) == str(b)


def materialized(sql):
    """The oracle with each common table expression computed once. DuckDB
    otherwise inlines a CTE at every reference, and the chained CTEs of
    the iterative graph oracles then take seconds instead of milliseconds.
    Recursive queries are left as written."""
    if re.search(r"\bRECURSIVE\b", sql, re.I):
        return sql
    return re.sub(r"(^|,)(\s*)(\w+) AS \(", r"\1\2\3 AS MATERIALIZED (", sql, flags=re.M)


def oracle_check(data_dir, out_dir, oracles, tmp_dir):
    """Compare each row's parquet output with its DuckDB oracle: same
    column names, same multiset of rows. Returns failing row names."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
            if not files:
                raise ValueError("no output written")
            s = con.sql(f"SELECT * FROM read_parquet({files!r})")
            d = con.sql(materialized(sql))
            cols = sorted(s.columns)
            if cols != sorted(d.columns):
                raise ValueError(f"columns {cols} vs {sorted(d.columns)}")
            def rows(rel):
                idx = [rel.columns.index(c) for c in cols]
                return sorted((tuple(r[i] for i in idx) for r in rel.fetchall()), key=str)
            sr, dr = rows(s), rows(d)
            if len(sr) != len(dr):
                raise ValueError(f"{len(sr)} rows vs {len(dr)}")
            diff = [(x, y) for x, y in zip(sr, dr) if not same(x, y)]
            if diff:
                raise ValueError(f"{len(diff)} rows differ, first {diff[0]}")
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            print(f"perfbench: oracle mismatch on {name}: {e}", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in SIZES:
        fail(f"unknown workload {a.workload}; one of {sorted(SIZES)}")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no graft sources next to perfbench/ (run from a full checkout)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), data_dir, str(a.seed)]
                       + [f"{k}={v}" for k, v in SIZES[a.workload].items()],
                       check=True, timeout=120)
        datagen_s = time.perf_counter() - t0

        deadline = time.monotonic() + RUN_BUDGET_S
        jvm_log = os.path.join(WORK, f"jvm-{a.workload}.log")
        open(jvm_log, "w").close()

        def jvm(trace):
            """One benchmark JVM with a work directory of its own; returns
            its result.json."""
            work = os.path.join(run_dir, f"jvm-trace{trace}")
            os.makedirs(work)
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(trace), "--data", data_dir, "--work", work]
            result_file = os.path.join(work, "result.json")
            with open(jvm_log, "a") as out:
                # fewer malloc arenas: steadier native memory use
                env = dict(os.environ, MALLOC_ARENA_MAX="2")
                proc = subprocess.run(java_cmd(classpath, args, run_dir), cwd=work, env=env,
                                      stdout=out, stderr=subprocess.STDOUT,
                                      timeout=max(1.0, deadline - time.monotonic()))
            if proc.returncode != 0 or not os.path.exists(result_file):
                with open(jvm_log) as fh:
                    sys.stderr.write(fh.read()[-4000:])
                fail(f"benchmark JVM exited with {proc.returncode}; see {jvm_log}")
            with open(result_file) as fh:
                return dict(json.load(fh), work=work)

        if not a.trace:
            res = jvm(0)
        else:
            if a.seed % 2:
                untraced, res = jvm(0), jvm(1)
            else:
                res, untraced = jvm(1), jvm(0)
            res["per_layer"]["trace.overhead"] = \
                res["end_to_end"]["wall_s"] / untraced["end_to_end"]["wall_s"]

        failed_by_op = dict(res["failed_by_op"])
        for name in oracle_check(data_dir, os.path.join(res["work"], "out"), res["oracle_sql"],
                                 os.path.join(run_dir, "tmp")):
            failed_by_op[name] = res["ops_by_name"].get(name, 1)
        attempted = res["attempted"]
        failed = min(attempted, sum(failed_by_op.values()))

        e2e = dict(res["end_to_end"])
        e2e["setup_s"] = datagen_s + e2e.pop("setup_jvm_s")
        kind = "per_layer" if a.trace else "end_to_end"
        source = res["per_layer"] if a.trace else e2e
        # a workload reports 0 for the layers it does not exercise
        metrics = {m["name"]: {"value": source.get(m["name"]) or 0.0, "unit": m["unit"]}
                   for m in spec[kind]}
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "metrics": metrics, "datagen_s": datagen_s, "failed_by_op": failed_by_op,
                  **{k: res[k] for k in ("pass_walls_s", "ops_by_name", "op_median_s")}}
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        with open(os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
