#!/usr/bin/env python3
"""The repository benchmark: the ETL job as deployed, plus graph and dedup
catalog legs, measured end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 1 --trace 0

It builds the checkout (the program with its own build, plus the harness
in perfbench/harness), generates the inputs from the seed, runs the
workload in a fresh JVM on local[4], checks the outputs, and prints one
JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Everything it writes
goes under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402

WORKLOADS = ("etl_daily", "graph_dedup")
JVM_TIMEOUT_S = 150
# A fixed-size heap with the throughput collector: the heap never resizes,
# so peak RSS reflects live data, not timing-dependent heap growth. The JIT
# stops at its first tier: Spark compiles fresh classes for every job, and
# with the optimizing tier on, compiling them took 10-20 s of CPU per
# 8 s ETL job and 40-48 s per 20 s catalog pass, varying by a quarter
# from run to run and taking cores from the job's own tasks.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
DERBY_URL = "jdbc:derby:memory:perfbench;create=true"

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(ROOT, "perfbench", "harness")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


_children = []


def _stop_children(signum, frame):
    """Stops the build or JVM in flight when the benchmark is interrupted."""
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(128 + signum)


# ---------------------------------------------------------------- build

def _source_files():
    for top in ("build.sbt", "project", "src/main", "perfbench/harness"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            yield path
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp"))
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compiles the program and the harness with one sbt run (the harness
    build depends on the program's own build) and returns the classpath.
    Skipped when the sources are unchanged since the last build."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise BenchError("program sources not found: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java are required")
    digest = hashlib.sha256()
    for f in _source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest.hexdigest():
        classpath = open(cp_file).read()
        if all(os.path.exists(e) for e in classpath.split(":")):
            return classpath
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True)
        _children.append(proc)
        try:
            stdout, _ = proc.communicate(timeout=840)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("build timed out")
        out.write(stdout)
    if proc.returncode != 0:
        raise BenchError(f"build failed (exit {proc.returncode}); see .bench_build/build.log")
    lines = [ln for ln in stdout.splitlines() if "classes" in ln and ":" in ln and not ln.startswith("[")]
    if not lines:
        raise BenchError("build printed no classpath")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


# ---------------------------------------------------------------- inputs

def _cached(kind, seed, make, verify):
    """Generates a seed's inputs once per checkout; a cached copy is
    checked against its manifest before reuse."""
    d = os.path.join(BUILD, "data", f"{kind}-seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        m = json.load(open(manifest))
        verify(d, m)
        return d, m
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    m = make(seed, tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(m, fh, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, m


def _verify_logs(d, m):
    import pyarrow.parquet as pq
    rows = sum(pq.read_metadata(os.path.join(d, "logs", f)).num_rows for f in os.listdir(os.path.join(d, "logs")))
    if rows != m["input_rows"] or rows != datagen.LOG_ROWS:
        raise BenchError(f"cached logs have {rows} rows, expected {datagen.LOG_ROWS}")


def logs_data(seed):
    d, m = _cached("logs", seed, datagen.gen_logs, _verify_logs)
    with open(os.path.join(d, "etl_config.json"), "w") as fh:
        json.dump(datagen.etl_config(os.path.join(d, "logs"), "@OUT@", DERBY_URL), fh, indent=1)
    return d, m


def tables_data(seed):
    return _cached("tables", seed, datagen.gen_tables, lambda d, m: datagen.verify_tables(d))


# ---------------------------------------------------------------- JVM

def run_jvm(classpath, mode, work, seconds, trace, data_dirs):
    """Runs the harness in a fresh JVM; returns (launch time, result)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *JVM_FLAGS]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={os.path.join(work, 'derby')}",
              "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
              "-cp", classpath, "perfbench.Harness",
              mode, work, str(seconds), str(trace), out, *data_dirs])
    with open(os.path.join(work, "jvm.log"), "w") as err:
        t0 = time.time()
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
        # scratch space inside the checkout either way.
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT)
        _children.append(proc)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM timed out after {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        raise BenchError(f"JVM exited with {code}; see {os.path.relpath(work, ROOT)}/jvm.log")
    return t0, json.load(open(out))


# ---------------------------------------------------------------- checks

def kcore_fixpoint_oracle(con, k=80):
    """x_kcore_fixpoint peels the part co-occurrence graph until a round
    removes nothing. Its catalog oracle unrolls six rounds, which is where
    the repository's sf0.01 test data converges; generated inputs can need more, so
    the peel is replayed here round by round until it is stable."""
    con.execute("""
      CREATE OR REPLACE TEMP TABLE kc_e AS
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      SELECT DISTINCT x.pk AS a, y.pk AS b FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk""")
    con.execute("CREATE OR REPLACE TEMP TABLE kc (round INT, n_nodes BIGINT, n_edges BIGINT)")
    prev = con.execute("SELECT count(*) FROM kc_e").fetchone()[0]
    for r in range(1, 51):
        con.execute(f"""
          CREATE OR REPLACE TEMP TABLE kc_e AS
          WITH d AS (SELECT node FROM (SELECT a AS node FROM kc_e UNION ALL SELECT b FROM kc_e)
                     GROUP BY node HAVING count(*) >= {k})
          SELECT a, b FROM kc_e WHERE a IN (SELECT node FROM d) AND b IN (SELECT node FROM d)""")
        nodes, edges = con.execute(
            "SELECT count(DISTINCT n), (SELECT count(*) FROM kc_e) "
            "FROM (SELECT a AS n FROM kc_e UNION ALL SELECT b FROM kc_e)").fetchone()
        con.execute(f"INSERT INTO kc VALUES ({r}, {nodes}, {edges})")
        if edges == prev:
            break
        prev = edges
    return "SELECT * FROM kc"


ORACLE_OVERRIDES = {"x_kcore_fixpoint": kcore_fixpoint_oracle}


def check_etl(runs, manifest):
    """Every job writes the expected row count; the last output's content
    hash matches the expectation derived from the generator."""
    import duckdb
    failed = sum(1 for it in runs if it["rows"] != manifest["expected_rows"])
    problems = [f"{failed} job(s) wrote a wrong row count"] if failed else []
    con = duckdb.connect()
    n, _, h = datagen.relation_hash(con, f"read_parquet('{runs[-1]['out']}/*.parquet')")
    con.close()
    if (n, h) != (manifest["expected_rows"], manifest["expected_hash"]):
        problems.append(f"ETL output {n} rows hash {h}, expected {manifest['expected_rows']} "
                        f"rows hash {manifest['expected_hash']}")
        failed = max(failed, 1)
    return failed, problems


def _rows_written(path):
    import pyarrow.parquet as pq
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in files)


def check_catalog(outputs, oracle_sql, tables_dir):
    """Each row writes the same row count in every pass; the first pass's
    outputs are cross-checked against the oracle SQL through DuckDB on
    the same inputs."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    oracle = dict(oracle_sql)
    for row, make in ORACLE_OVERRIDES.items():
        if row in oracle:
            oracle[row] = make(con)
    failed = 0
    problems = []
    check = {}
    first = outputs[0]
    for row in sorted(os.listdir(first)):
        n, cols, h = datagen.relation_hash(con, f"read_parquet('{first}/{row}/*.parquet')")
        check[row] = {"rows": n, "hash": h}
        for other in outputs[1:]:
            got = _rows_written(os.path.join(other, row))
            if got != n:
                failed += 1
                problems.append(f"{row}: one pass wrote {got} rows, the first {n}")
        if row in oracle:
            en, ecols, eh = datagen.relation_hash(con, f"({oracle[row]})")
            check[row]["oracle"] = eh
            if (en, ecols, eh) != (n, cols, h):
                failed += 1
                problems.append(f"{row}: {n} rows hash {h} vs oracle {en} rows hash {eh}")
    con.close()
    return failed, problems, check


# ---------------------------------------------------------------- metrics

def self_times(spans):
    """Self time per span name: duration minus the time its children cover."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        out[s["name"]] = out.get(s["name"], 0.0) + (dur - child.get(s["id"], 0)) / 1e9
    return out


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(result, setup_s, input_rows):
    its = [it for it in result["iterations"] if not it.get("failed")]
    if not its:
        raise BenchError("every iteration failed: " + "; ".join(result["failures"]))
    wall = statistics.median(it["wall_s"] for it in its)
    return {
        "wall_s": metric(wall, "s"),
        "cpu_s": metric(statistics.median(it["cpu_s"] for it in its), "s"),
        "rows_per_s": metric(input_rows / wall, "1/s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(result["vmhwm_kb"] / 1024.0, "MB"),
    }


ENGINE_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "executor_run_s": "s",
                "executor_cpu_s": "s", "gc_s": "s", "scheduler_delay_s": "s",
                "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "result_bytes": "bytes",
                "planning_s": "s", "max_task_skew": "ratio"}


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if last in ("s", "warm_s", "dim_s", "commit_s", "overhead_s"):
        return "s"
    if last in ("bytes", "shuffle_bytes", "result_bytes"):
        return "bytes"
    if last in ("match_ratio", "kept_ratio", "read_amplification"):
        return "ratio"
    return "count"


def per_layer(workload, result):
    traced = result["traced"]
    out = {}
    for m in traced.values():
        for k, v in m.items():
            if k not in ("engine", "traced_wall_s"):
                out[k] = metric(v, unit_of(k))
    for k, v in traced[workload]["engine"].items():
        if k in ENGINE_UNITS:
            out[f"spark.{k}"] = metric(v, ENGINE_UNITS[k])
    out["trace.overhead_s"] = metric(result["trace_overhead_s"], "s")
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    started = time.time()
    classpath = build()
    etl = args.workload == "etl_daily" or args.trace
    catalog = args.workload == "graph_dedup" or args.trace
    logs_dir, logs_m = logs_data(args.seed) if etl else ("-", None)
    tables_dir = tables_data(args.seed)[0] if catalog else "-"

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dirs = (logs_dir, tables_dir)
    log(f"inputs done at {time.time() - started:.1f} s")
    t0, result = run_jvm(classpath, args.workload, work, args.seconds, args.trace, dirs)
    setup_s = result["ready_ms"] / 1000.0 - t0
    if "error" in result:
        raise BenchError(f"harness failed: {result['error']}")
    log(f"workload done at {time.time() - started:.1f} s")

    attempted = int(result["attempted"])
    failed = len(result["failures"])
    problems = list(result["failures"])
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "setup_s": setup_s}
    if result.get("etl_runs"):
        f, p = check_etl(result["etl_runs"], logs_m)
        failed, problems = failed + f, problems + p
        record["etl_manifest"] = logs_m
    if result.get("catalog_outputs"):
        f, p, record["outputs"] = check_catalog(result["catalog_outputs"], result["oracle_sql"], tables_dir)
        failed, problems = failed + f, problems + p
    failed = min(failed, attempted)

    if args.trace:
        metrics = per_layer(args.workload, result)
        record["self_s"] = self_times(result["spans"])
    else:
        input_rows = (datagen.LOG_ROWS if args.workload == "etl_daily"
                      else sum(datagen.table_rows()[t] for t in datagen.TABLES))
        metrics = end_to_end(result, setup_s, input_rows)
    record.update(iterations=result.get("iterations", result.get("etl_runs")), metrics=metrics,
                  problems=problems, spans=result.get("spans", []))
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec_path = os.path.join(BUILD, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    log(f"checks done at {time.time() - started:.1f} s")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
