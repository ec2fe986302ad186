#!/usr/bin/env python3
"""The repository benchmark: one command for every workload in BENCHMARK.json.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the engine and the benchmark
driver from source with build.py (once per source state), makes the query
inputs with gen_data.py (once), runs the workload in one JVM, checks the
outputs, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.

Any failed step (build, inputs, port bind, session start, a query that
throws, a timeout) ends the run with exit code 2 and a message naming the
workload and the step; no result line is printed then. --smoke runs the
toy sizes the smoke test uses. Everything the run writes goes under
perfbench/work/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build, perfbench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("crawl_loopback", "queries_kernels", "store_lifecycle")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATA_SF = 0.01
# a run (build and inputs aside) must end within 180 s, checks included
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class StepFailed(Exception):
    def __init__(self, step, detail):
        super().__init__(detail)
        self.step = step


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def inputs():
    """The query workloads' tables, generated once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    d = os.path.join(WORK, "data", f"sf{DATA_SF}-{tree_hash([gen])}")
    if not os.path.isdir(d):
        p = subprocess.run([sys.executable, gen, d, "--sf", str(DATA_SF)],
                           capture_output=True, text=True, timeout=120)
        if p.returncode != 0:
            raise StepFailed("inputs", p.stderr[-2000:])
    return d


def cpu_probe():
    """Fixed single-thread arithmetic loop, seconds."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s = (s + i * 31) & 0xFFFFFFFF
    return time.perf_counter() - t0


def io_probe():
    """Commit-shaped disk probe: 32 small files written, fsynced, renamed."""
    d = os.path.join(WORK, "probe")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    payload = b"B" * 65536
    t0 = time.perf_counter()
    for i in range(32):
        tmp = os.path.join(d, f".part-{i}")
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(d, f"part-{i}"))
    dt = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    return dt


def run_jvm(args, classpath, data, run_dir, cpus):
    out = os.path.join(run_dir, "record.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--work", run_dir,
            "--out", out, "--cpus", str(cpus)]
    if args.smoke:
        cmd.append("--smoke")
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the run directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise StepFailed("timeout", f"the JVM ran over {JVM_TIMEOUT_S} s "
                             f"(log: {log})")
        finally:
            # on every way out, the JVM has ended before run.py goes on
            if p.poll() is None:
                p.kill()
                p.wait()
    text = open(log, errors="replace").read()
    m = re.search(r"perfbench: \S+ failed at step '([^']*)': (.*)", text)
    if p.returncode != 0 or not os.path.exists(out):
        tail = "\n".join(text.splitlines()[-15:])
        if m:
            raise StepFailed(m.group(1), f"{m.group(2)}\nlast lines of {log}:\n{tail}")
        raise StepFailed("jvm", f"exit {p.returncode}; last lines:\n{tail}")
    return json.load(open(out))


def canonical_rows(tbl):
    """check_parity.py's comparison form: sorted column names, rows sorted."""
    names = sorted(tbl.column_names)
    cols = [tbl.column(c).to_pylist() for c in names]
    return sorted(zip(*cols), key=lambda r: tuple((v is None, str(type(v)), v) for v in r))


WIDEN = {"int8": "int64", "int16": "int64", "int32": "int64",
         "float": "double", "large_string": "string"}


def oracle_check(record, data, run_dir, cpus):
    """Every query of the run against the DuckDB oracle on the same tables.
    Oracle results are cached per (SQL, inputs). Returns failure strings."""
    import duckdb
    import pyarrow.parquet as pq
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb-tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    misses = []
    for q in record["queries"]:
        sql = record["oracle_sql"][q]
        key = hashlib.sha256((sql + "\0" + os.path.basename(data)).encode()).hexdigest()[:24]
        path = os.path.join(cache, f"{q}-{key}.parquet")
        if not os.path.exists(path):
            try:
                pq.write_table(con.execute(sql).fetch_arrow_table(), path + ".tmp")
            except Exception as e:
                raise StepFailed(f"oracle {q}", str(e))
            os.replace(path + ".tmp", path)
        exp = pq.read_table(path)
        files = glob.glob(os.path.join(run_dir, "verify", q, "*.parquet"))
        if not files:
            misses.append(f"oracle {q}: no output")
            continue
        got = con.execute(f"SELECT * FROM '{run_dir}/verify/{q}/*.parquet'").fetch_arrow_table()
        if sorted(exp.column_names) != sorted(got.column_names):
            misses.append(f"oracle {q}: columns {sorted(got.column_names)} != {sorted(exp.column_names)}")
            continue
        bad = [c for c in exp.column_names
               if WIDEN.get(str(got.schema.field(c).type), str(got.schema.field(c).type))
               != WIDEN.get(str(exp.schema.field(c).type), str(exp.schema.field(c).type))]
        if bad:
            misses.append(f"oracle {q}: column types differ: {bad}")
            continue
        er, gr = canonical_rows(exp), canonical_rows(got)
        if len(er) != len(gr):
            misses.append(f"oracle {q}: {len(gr)} rows, oracle {len(er)}")
            continue
        for i, (a, b) in enumerate(zip(gr, er)):
            same = all((x == y) or (isinstance(x, float) and isinstance(y, float)
                                    and math.isnan(x) and math.isnan(y))
                       for x, y in zip(a, b))
            if not same:
                misses.append(f"oracle {q}: row {i}: got {a!r} expected {b!r}")
                break
    return misses


def applies(name, workload, record):
    """Whether a per-layer metric belongs to this workload; the others print 0."""
    if name.split(".")[0] in ("crawl", "fleet", "sinks"):
        return workload == "crawl_loopback"
    if re.match(r"q\d+_", name):
        return name.split(".")[0] in record.get("queries", [])
    return True


def main():
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true", help="toy sizes")
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    try:
        try:
            spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        except OSError as e:
            raise StepFailed("arguments", f"BENCHMARK.json: {e}")
        try:
            classpath = build.build()
        except build.BuildFailed as e:
            raise StepFailed("build", str(e))
        data = inputs()
        run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        probes = {"cpu_probe_s": cpu_probe(), "io_probe_s": io_probe()}
        record = run_jvm(args, classpath, data, run_dir, cpus)
        probes.update(cpu_probe_last_s=cpu_probe(), io_probe_last_s=io_probe())
        failures = list(record["failures"])
        failed = int(record["failed"])
        checks = dict(record["checks"])
        if "queries" in record:
            misses = oracle_check(record, data, run_dir, cpus)
            checks["oracle"] = not misses
            failures += misses
            failed += len(misses)
        for d in ("verify", "crawl", "crawl-warm", "tmp", "spark-local", "duckdb-tmp"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    except StepFailed as e:
        print(f"perfbench: {args.workload} failed at step '{e.step}': {e}", file=sys.stderr)
        sys.exit(2)
    except Exception as e:
        print(f"perfbench: {args.workload} failed at step 'run': {e!r}", file=sys.stderr)
        sys.exit(2)

    attempted = max(1, int(record["attempted"]))
    failed = min(attempted, failed)
    values = dict(record["metrics"])
    values["ok_frac"] = 1.0 - failed / attempted
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            v = values[name]
        elif args.trace and not applies(name, args.workload, record):
            v = 0.0
        else:
            v = None
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            print(f"perfbench: {args.workload} failed at step 'metrics': "
                  f"no value for {name}", file=sys.stderr)
            sys.exit(2)
        metrics[name] = {"value": v, "unit": m["unit"]}
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print("perfbench-probes " + json.dumps(probes))
    print("perfbench-checks " + json.dumps(checks))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
