#!/usr/bin/env python3
"""graft benchmark: full-output latency and throughput per workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload dashboard|stream --seed N \
      --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Builds the program from `src/main/scala` and the benchmark's own JVM
program (`perfbench/src`) with the scalac that ships in Spark's jars,
generates the workload's inputs from the seed (`gen.py`), runs one JVM
in local[4] with one closed-loop client (`perfbench.Main`), checks
every output (DuckDB oracle for batch queries, stream == batch for the
stream), and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the run also writes a spans file.

Everything it builds or writes stays under `.bench_build/` in the
repository root.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The first directory that ships a scala compiler among $SPARK_JARS,
    $SPARK_HOME/jars, the `unmanagedBase` the project's build.sbt names,
    and the jars beside the spark-submit on the PATH."""
    dirs = [os.environ.get("SPARK_JARS")]
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                           open(sbt).read())
    submit = shutil.which("spark-submit")
    if submit:
        dirs += [os.path.join(os.path.dirname(os.path.dirname(p)), "jars")
                 for p in (submit, os.path.realpath(submit))]
    for d in dirs:
        if d and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    return ""


SPARK_JARS = spark_jars()
RUN_LIMIT_S = 170          # the whole run, build excluded
CORES = 4
SETUPS = 3                 # set-up cycles per run; setup_s is their median

# workload → input tier, as a multiple of the sf0.1 row counts
WORKLOADS = {
    "dashboard": 0.2,
    "stream": 0.1,
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

STREAM_PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "triggerExecution"]
# operator classes with a row count / with timing metrics in Spark 4.1
PLAN_ROWS = ["scan", "exchange", "join", "aggregate", "window", "generate"]
PLAN_TIMED = ["scan", "exchange", "aggregate", "sort"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    return prog, bench


def scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath",
           classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("build failed")


def build():
    """Compiles program + benchmark into BUILD/classes once per source
    state (a content stamp decides), under a lock."""
    prog, bench = sources()
    if not prog or not bench or not SPARK_JARS:
        raise SystemExit("nothing to build: src/main/scala or the Spark "
                         "jars are missing")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return os.path.join(BUILD, "classes")
        t0 = time.time()
        classes = os.path.join(BUILD, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        jars = os.path.join(SPARK_JARS, "*")
        scalac(os.path.join(classes, "program"), jars, prog)
        scalac(os.path.join(classes, "bench"),
               os.path.join(classes, "program") + os.pathsep + jars, bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
        return classes


# ---- inputs ----------------------------------------------------------------

def inputs(workload, seed):
    sys.path.insert(0, HERE)
    import gen
    scale = WORKLOADS[workload]
    d = os.path.join(BUILD, "data", f"x{scale}-seed{seed}")
    marker = os.path.join(d, "_rows.json")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, scale, seed)
    return d, json.load(open(marker))


# ---- run the JVM -----------------------------------------------------------

def run_jvm(classes, workload, data, work, seconds, trace, inject):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = os.pathsep.join([os.path.join(classes, "bench"),
                          os.path.join(classes, "program"),
                          os.path.join(SPARK_JARS, "*")])
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss16m"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main", workload, data, work, str(seconds),
              "1" if trace else "0", str(SETUPS), inject])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_CONF", None)
    budget = RUN_LIMIT_S - (time.time() - T_START)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=work, env=env, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("benchmark interrupted; JVM stopped")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"JVM exceeded the {RUN_LIMIT_S} s run limit")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-3000:])
        raise SystemExit(f"JVM exited with {rc}")
    return json.load(open(os.path.join(work, "result.json")))


# ---- correctness -----------------------------------------------------------

def oracle_check(data, outputs):
    """Replays SparkEntry.oracleSql in DuckDB over the same input parquet
    and compares row by row with the saved outputs, columns sorted by
    name (the project's tools/check.py rule). Returns {query: error or ""}.
    """
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet/*.parquet')")
    verdict = {}
    for name, sql in json.load(open(f"{outputs}/oracle_sql.json")).items():
        try:
            got_rel = con.sql(
                f"SELECT * FROM read_parquet('{outputs}/{name}/*.parquet')")
            got, gcols = got_rel.fetchall(), [d[0] for d in got_rel.description]
            want_rel = con.sql(sql)
            want, wcols = want_rel.fetchall(), [d[0] for d in want_rel.description]
        except Exception as e:  # unreadable output or oracle error
            verdict[name] = f"{type(e).__name__}: {str(e)[:160]}"
            continue
        if sorted(gcols) != sorted(wcols):
            verdict[name] = f"columns {sorted(gcols)} != {sorted(wcols)}"
            continue
        gi = [i for _, i in sorted((c, i) for i, c in enumerate(gcols))]
        wi = [i for _, i in sorted((c, i) for i, c in enumerate(wcols))]
        norm = (lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v)
        g = [tuple(norm(r[i]) for i in gi) for r in got]
        w = [tuple(norm(r[i]) for i in wi) for r in want]
        if len(g) != len(w):
            verdict[name] = f"{len(g)} rows vs oracle {len(w)}"
        elif g != w:
            bad = sum(a != b for a, b in zip(g, w))
            verdict[name] = f"{bad}/{len(g)} rows differ"
        elif not g:
            verdict[name] = "empty output"
        else:
            verdict[name] = ""
    return verdict


# ---- metrics ---------------------------------------------------------------

def tail(lat):
    """Highest percentile with at least ten samples beyond it. With
    fewer than 21 samples no percentile above the median has ten beyond
    it, so the tail falls back to the (upper) median."""
    s = sorted(lat)
    k = max(len(s) - 11, len(s) // 2)
    return s[k], 100.0 * (k + 1) / len(s)


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return []


def summarize(res, bad_queries, trace):
    timed = [o for o in res["ops"] if o["timed"]]
    failed = [o for o in timed if not o["ok"] or bad_queries.get(o["name"])]
    good = [o for o in timed if o not in failed]
    lat = [o["latency_s"] for o in good]
    p50 = med(lat)
    t, pct = tail(lat) if lat else (0.0, 0.0)
    rows = sum(p["input_rows"] for p in res["passes"])
    wall = sum(p["wall_s"] for p in res["passes"])
    e2e = {
        "setup_s": (med(res["setup_s"]), "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (t, "s"),
        "rows_per_s": (rows / wall if wall else 0.0, "rows/s"),
    }
    info = {"n_ops": len(timed), "n_ok": len(good), "tail_pct": pct,
            "n_names": len({o["name"] for o in timed}),
            "error_rate": len(failed) / len(timed) if timed else 1.0,
            "failed_names": sorted({o["name"] for o in failed}),
            "failed": [(o["name"], o["error"] or bad_queries.get(o["name"]))
                       for o in failed][:5]}
    if not trace:
        return e2e, {}, info, failed, timed

    batch = [o for o in good if o["name"] != "batch"]
    counted = [o for o in batch if o["count_s"] > 0]  # the last pass
    ex = [o["exec"] for o in good]
    notes = res["notes"]
    scan = sum(res["table_scan_s"].values())
    layer = {
        "session.start_s": (med(notes["session_start_s"]), "s"),
        "session.cold_setup_s": (res["setup_s"][0], "s"),
        "session.scrub_s": (notes["scrub_s"], "s"),
        "session.heap_live_mb": (notes["heap_live_mb"], "MB"),
        "tables.scan_s": (scan, "s"),
        "tables.rows_per_s": (sum(res["table_rows"].values()) / scan if scan else 0.0,
                              "rows/s"),
        "query.build_s": (med([o["build_s"] for o in batch]), "s"),
        "query.exec_s": (med([o["exec_s"] for o in batch]), "s"),
        "query.count_s": (med([o["count_s"] for o in counted]), "s"),
        "query.tail_s": (med([o["exec_s"] - o["count_s"] for o in counted]),
                         "s"),
        "exec.jobs": (mean([e["jobs"] for e in ex]), "count"),
        "exec.build_jobs": (mean([e["build_jobs"] for e in ex]), "count"),
        "exec.stages": (mean([e["stages"] for e in ex]), "count"),
        "exec.tasks": (mean([e["tasks"] for e in ex]), "count"),
        "exec.task_busy_s": (mean([e["task_busy_s"] for e in ex]), "s"),
        "exec.core_util": (sum(e["task_busy_s"] for e in ex)
                           / (sum(lat) * CORES) if lat else 0.0, "ratio"),
        "exec.shuffle_write_bytes": (
            mean([e["shuffle_write_bytes"] for e in ex]), "B"),
        "exec.shuffle_read_bytes": (
            mean([e["shuffle_read_bytes"] for e in ex]), "B"),
        "exec.spill_bytes": (mean([e["spill_bytes"] for e in ex]), "B"),
        "exec.peak_exec_mem_bytes": (
            max([e["peak_exec_mem_bytes"] for e in ex] or [0]), "B"),
    }
    for c in PLAN_ROWS:
        layer[f"plan.{c}.rows_out"] = (
            mean([o["plan"][c]["rows_out"] for o in batch]), "rows")
    for c in PLAN_TIMED:
        layer[f"plan.{c}.time_ms"] = (
            mean([o["plan"][c]["time_ms"] for o in batch]), "ms")
    out_rows = sum(o["rows"] for o in batch)
    join_rows = sum(o["plan"]["join"]["rows_out"] for o in batch)
    layer["plan.join_rows_per_result"] = (
        join_rows / out_rows if out_rows else 0.0, "ratio")
    # progress of the timed window's queries only (named *_p<pass>)
    window = f"_p{max(o['pass'] for o in timed)}" if timed else ""
    prog = [p for p in res["progress"]
            if p["input_rows"] > 0 and p["name"].endswith(window)]
    for ph in STREAM_PHASES:
        layer[f"stream.{ph}_ms"] = (med([p["duration_ms"].get(ph) for p in prog]), "ms")
    state = [p["state"] for p in prog]

    def per_batch(key):  # summed over a batch's state operators
        return [sum(s[key] for s in st) for st in state]
    layer["stream.state_rows"] = (med(per_batch("rows")), "rows")
    layer["stream.state_mem_bytes"] = (med(per_batch("mem_bytes")), "B")
    layer["stream.state_commit_ms"] = (med(per_batch("commit_ms")), "ms")
    layer["stream.rows_dropped_by_watermark"] = (sum(per_batch("dropped")),
                                                 "rows")
    layer["stream.watermark_lag_s"] = (med([watermark_lag(p) for p in prog]), "s")
    layer["trace.op_p50_s"] = (p50, "s")
    layer["trace.ops"] = (float(len(timed)), "count")
    return e2e, layer, info, failed, timed


def watermark_lag(p):
    et = p.get("event_time") or {}
    if "max" not in et or "watermark" not in et:
        return None
    f = (lambda s: datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp())
    return f(et["max"]) - f(et["watermark"])


# ---- main ------------------------------------------------------------------

def bench(workload, seed, seconds, trace, inject="none"):
    classes = build()
    data, meta = inputs(workload, seed)
    work = os.path.join(BUILD, "runs", f"{workload}-trace{int(trace)}")
    la0 = loadavg()
    res = run_jvm(classes, workload, data, work, seconds, trace, inject)
    bad = {}
    outputs = os.path.join(work, "outputs")
    if workload != "stream":
        bad = {k: v for k, v in oracle_check(data, outputs).items() if v}
    stream_parity = res["notes"].get("stream_parity")
    if workload == "stream" and not (stream_parity and all(stream_parity.values())):
        bad = {"batch": f"stream output != batch: {stream_parity}"}
    bad.update({k.split(".", 1)[1]: v for k, v in res["notes"].items()
                if k.startswith("save_error.")})
    e2e, layer, info, failed, timed = summarize(res, bad, trace)
    # Per-run record: kept beside the traced run so the tracing overhead
    # can be read off against an untraced run of the same seed.
    rec_dir = os.path.join(BUILD, "results")
    os.makedirs(rec_dir, exist_ok=True)
    record = os.path.join(rec_dir, f"{workload}-seed{seed}-trace{{}}.json")
    with open(record.format(int(trace)), "w") as f:
        json.dump({"e2e": e2e, "info": info}, f)

    print(f"workload {workload} seed {seed} tier x{WORKLOADS[workload]} "
          f"rows {json.dumps(meta['rows'], separators=(',', ':'))}")
    print(f"host loadavg start {' '.join(la0)} end {' '.join(loadavg())}")
    for name, (v, unit) in e2e.items():
        print(f"{name:<11} {v:.6g} {unit}")
    print(f"error_rate  {info['error_rate']:.6g} ratio "
          f"({len(failed)}/{len(timed)} ops failed)")
    print(f"op_tail_s is p{info['tail_pct']:.1f} of {info['n_ok']} ok ops")
    if bad:
        print(f"wrong or missing outputs: {json.dumps(bad)}")
    if stream_parity is not None:
        print(f"stream == batch: {json.dumps(stream_parity)}")
    if failed:
        print(f"failed ops (first 5): {json.dumps(info['failed'])}")
    if trace:
        spans = os.path.join(work, "spans.jsonl")
        print(f"spans: {spans}")
        untraced = record.format(0)
        if os.path.exists(untraced):
            base = json.load(open(untraced))["e2e"]
            print("tracing overhead vs untraced run of this seed: " + ", ".join(
                f"{k} {100 * (e2e[k][0] / base[k][0] - 1):+.1f}%"
                for k in ("op_p50_s", "rows_per_s") if base[k][0]))
        for name in sorted({o["name"] for o in timed}):
            mine = [o for o in timed if o["name"] == name and o["ok"]]
            if mine:
                times = " ".join(f"{k} {med([o[k] for o in mine if o[k]]):.4f}"
                                 for k in ("build_s", "exec_s", "count_s"))
                print(f"layer {name}: {times} jobs {mine[0]['exec']['jobs']} "
                      f"build_jobs {mine[0]['exec']['build_jobs']}")
    metrics = layer if trace else e2e
    correct = not bad and not failed
    return {"correct": correct, "attempted": len(timed), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}, info


def selftest():
    """Injected failures must be counted: one op throws, one returns a
    wrong result, one lacks its final ORDER BY; and the input generator
    must be deterministic per seed."""
    sys.path.insert(0, HERE)
    import gen
    scratch = os.path.join(BUILD, "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    gen_ok = gen.selfcheck(scratch)
    out, info = bench("dashboard", 1, 1, False, inject="selftest")
    print(json.dumps(out))
    injected = ["selftest_throws", "selftest_unsorted", "selftest_wrong"]
    passes = out["attempted"] // info["n_names"]
    ok = (gen_ok and info["failed_names"] == injected and not out["correct"]
          and out["failed"] == len(injected) * passes)
    print(f"selftest {'PASS' if ok else 'FAIL'}: gen_deterministic={gen_ok} "
          f"failed={out['failed']}/{out['attempted']} names={info['failed_names']}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.exit(0 if selftest() else 1)
    if not a.workload:
        ap.error("--workload is required")
    out, _ = bench(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
