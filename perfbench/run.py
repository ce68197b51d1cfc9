#!/usr/bin/env python3
"""Serving benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root (or anywhere: paths resolve from this file).
It builds the program and the benchmark JVM from source when they changed,
generates the seeded segment dataset (cached per seed), runs the workload
in one JVM, checks the answers, prints every metric with its unit, and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (from a separate, serial, traced run).
Exits non-zero without a result when the program's sources are missing or
a step fails. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUNTIME = os.path.join(HERE, "target", "bench-runtime")
# pipeline_batch reads the sf0.1 fixture named by Bench's variable
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "")
# everything one run may take, build excluded (a run must end within 180 s)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
KEEP_SEEDS = 2
JVM_HEAP = "4g"
# the dataset: 7 days of hourly segments, 1000 rows an hour
DAYS = 7
ROWS_PER_HOUR = 1000

sys.path.insert(0, HERE)
import gen  # noqa: E402


def note(args, msg):
    print(f"perfbench: {time.time() - args.t0:7.2f} s {msg}", file=sys.stderr)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sources_stamp():
    """Signature of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_proc(cmd, cwd, log, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    stamp = sources_stamp()
    stamp_file = os.path.join(RUNTIME, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportRuntime"],
                  HERE, log, BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def dataset(seed):
    """The seed's segment dataset, generated once and cached (the newest
    KEEP_SEEDS seeds are kept)."""
    base = os.path.join(WORK, "data")
    out = os.path.join(base, f"seed{seed}-d{DAYS}-r{ROWS_PER_HOUR}-v{gen.VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp, days=DAYS, rows_per_hour=ROWS_PER_HOUR)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    os.utime(os.path.join(out, "_DONE"))
    cached = sorted(glob.glob(os.path.join(base, "seed*")),
                    key=lambda d: os.path.getmtime(os.path.join(d, "_DONE"))
                    if os.path.exists(os.path.join(d, "_DONE")) else 0)
    for d in cached[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)
    return out



def oracle_check(result):
    """Compare every pipeline output with its SparkEntry.oracleSql answer,
    by tools/check.py's rule. Oracle answers are cached per SQL text."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    failures = []
    for o in result["outputs"]:
        entry, d = o["entry"], o["dir"]
        sql = result["oracle"][entry]
        key = hashlib.sha256((SF_DIR + "\n" + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache, f"{entry}-{key}.pkl")
        if os.path.exists(cached):
            odf = pd.read_pickle(cached)
        else:
            odf = con.execute(sql).df()
            odf.to_pickle(cached)
        sdf = check.load_spark(os.path.dirname(d), os.path.basename(d))
        err = "no output" if sdf is None else check.compare(sdf, odf, entry)
        if err:
            failures.append(f"{entry}: oracle {err}")
    return failures


def run_jvm(args, wl):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    opts = open(os.path.join(RUNTIME, "javaopts.txt")).read().split("\n")
    cp = open(os.path.join(RUNTIME, "classpath.txt")).read().strip()
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [o for o in opts if o] +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--out", out,
            "--trace-dir", os.path.join(WORK, "trace"),
            "--tail", str(wl["tail_percentile"]),
            "--clients", str(args.clients or wl["clients"]),
            "--data-start-ms", str(gen.START_MS),
            "--data-end-ms", str(gen.START_MS + DAYS * 24 * gen.HOUR_MS)])
    if args.workload == "pipeline_batch":
        if not os.path.isdir(SF_DIR):
            fail("set SPARK_GRAFT_SF_DIR to the sf0.1 fixture (TESTDATA.md)")
        cmd += ["--sf", SF_DIR]
    else:
        cmd += ["--data", dataset(args.seed)]
    note(args, "data ready")
    log = os.path.join(WORK, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    left = RUN_LIMIT_S - (time.time() - args.t0)
    rc = run_proc(cmd, ROOT, log, max(left, 10))
    note(args, "benchmark JVM done")
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {rc}); see {log}")
    result = load_json(out)
    # the JVM's scratch (spark-local, tmpdir, checkpoints) is per run
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    return result


def one(args):
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "spec.json"))
    wl = spec["workloads"].get(args.workload)
    if wl is None:
        fail(f"unknown workload {args.workload}")
    build()
    note(args, "build up to date")
    result = run_jvm(args, wl)
    failures = list(result["failures"])
    failed = result["failed"]
    if args.workload == "pipeline_batch":
        extra = oracle_check(result)
        failures += extra
        failed += len(extra)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is None:
            if not args.trace:
                fail(f"metric {m['name']} missing from the run")
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    info = result["info"]
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={result['attempted']} failed={failed}")
    for name, m in metrics.items():
        print(f"  {name:34s} {m['value']:>14.4f} {m['unit']}")
    # figures outside BENCHMARK.json (pipeline_batch's, the layers it omits)
    for name, v in sorted(result["metrics"].items()):
        if name not in metrics:
            print(f"  {name:34s} {v:>14.4f}")
    for k in ("batch_s", "ttfe_tail_ms", "done_tail_ms", "error_rate", "samples",
              "tail_percentile", "samples_beyond_tail", "elapsed_s", "check_s",
              "control.empty_job_ms", "control.exchange_ms"):
        if k in info:
            print(f"  ({k} = {info[k]:.4f})")
    if "spans" in result:
        print(f"  (spans: {result['spans']})")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--clients", type=int, default=0,
                    help="concurrent clients of a timed HTTP run "
                         "(default: spec.json's, one)")
    args = ap.parse_args()
    args.t0 = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala) are not here")
    if args.workload == "all":
        bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        for w in (x["name"] for x in bench["workloads"]):
            rc = subprocess.call([sys.executable, os.path.abspath(__file__),
                                  "--workload", w, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds),
                                  "--trace", str(args.trace)])
            if rc != 0:
                sys.exit(rc)
        return
    one(args)


if __name__ == "__main__":
    main()
