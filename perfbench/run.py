#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ticker_report --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds graft and the harness from source (perfbench/build.py), generates
the seeded inputs (perfbench/gen.py, cached), runs the workload in one
JVM (perfbench/harness/GraftBench.scala), checks every output against
the DuckDB oracle of graft.SparkEntry.oracleSql through the compare in
scripts/local_verify.py, and prints the metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. The full record (samples, machine facts,
gen_s, spans) is saved under <build dir>/results for compare.py.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the JVM gets what is left of the 180 s a run may take
RUN_LIMIT_S = 170


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """Half the machine's memory in GiB, clamped to [2, 8] (the repo's
    test-run sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f
                      if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    v = sorted(xs)
    if not v:
        return float("nan")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# ---- correctness ----

def oracle_check(sf_dir, out_dir, oracle, tables):
    """Run scripts/local_verify.py's compare on out_dir/<entry>/, one
    entry at a time; returns {entry: (ok, seconds)}."""
    import local_verify
    local_verify.TABLES = tables
    status = {}
    for name, sql in oracle.items():
        t = time.time()
        with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
            json.dump({name: sql}, f)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = local_verify.main(sf_dir, out_dir)
        if rc != 0:
            log(f"oracle mismatch in {out_dir}/{name}:\n{buf.getvalue()[-3000:]}")
        status[name] = (rc == 0, time.time() - t)
    return status


def content_hash(path):
    """Hash of the canonical form local_verify compares (columns and rows
    sorted, timestamps at µs)."""
    import duckdb
    import pandas as pd
    import local_verify
    df = local_verify.canon(
        duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'").df())
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def check_batch(res, input_dir, tables):
    """Verify the first clean job against the oracle and every later job
    by content hash against it. Returns the number of failed jobs."""
    entries = res["entries"]
    jobs = res["jobs"]
    clean = [j for j in jobs if j["error"] is None]
    failed = len(jobs) - len(clean)
    for j in jobs:
        if j["error"] is not None:
            log(f"job {j['job']} raised: {j['error']}")
    if not clean:
        return failed
    ref = clean[0]
    oracle = {e: res["oracle_sql"][e] for e in entries.values()}
    ok = oracle_check(input_dir, ref["dir"], oracle, tables)
    log("oracle seconds:", {e: round(v[1], 2) for e, v in ok.items()})
    want = {e: content_hash(os.path.join(ref["dir"], e))
            for e in entries.values()}
    for j in clean:
        good = all(v[0] for v in ok.values())
        if j is not ref:
            for e in entries.values():
                if content_hash(os.path.join(j["dir"], e)) != want[e]:
                    log(f"job {j['job']}: {e} differs from job {ref['job']}")
                    good = False
        failed += 0 if good else 1
    return failed


def check_stream(res, input_dir, work):
    """Each phase's sink output against the st02 oracle over the events
    that phase read. Returns (attempted batches, failed batches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    entry = "st02_stream_anomaly"
    oracle = {entry: res["oracle_sql"][entry]}
    attempted = failed = 0
    phases = [res["drain"]] + [res[k] for k in
                               ("drain_traced", "drain_after", "live")
                               if k in res]
    rows = json.load(open(os.path.join(input_dir, "_GENERATED")))["rows"]
    for ph in phases:
        n = len(ph["batch_rows"])
        attempted += n
        if "tag" in ph:
            sf_dir, want = input_dir, rows["slices"]
        else:
            # the live phase read the first `slices` slice files
            sf_dir = os.path.join(work, "live-events")
            os.makedirs(sf_dir, exist_ok=True)
            files = sorted(os.listdir(os.path.join(input_dir, "slices")))
            t = pa.concat_tables(
                pq.read_table(os.path.join(input_dir, "slices", f))
                for f in files[:ph["slices"]])
            i = t.schema.get_field_index("ts")
            t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("us")))
            pq.write_table(t, os.path.join(sf_dir, "events.parquet"))
            want = rows["slices"][:ph["slices"]]
        check = os.path.join(work, "check-" + ph.get("tag", "live"))
        os.makedirs(check, exist_ok=True)
        os.symlink(ph["out"], os.path.join(check, entry))
        good = oracle_check(sf_dir, check, oracle, ["events"])[entry][0]
        if ph["batch_rows"] != want:
            log(f"{ph.get('tag', 'live')}: batches read {ph['batch_rows']}, "
                f"slices hold {want}")
            good = False
        failed += 0 if good else n
    return attempted, failed


# ---- metrics ----

def batch_metrics(res, input_rows):
    jobs = [j for j in res["jobs"] if j["error"] is None]
    first = res["jobs"][0]["wall_s"]
    warm = [j["wall_s"] for j in jobs[1:] if not j["traced"]]
    p50, p90 = quantile(warm, 0.5), quantile(warm, 0.9)
    # closed loop: a job is due when the client issues it, so its lag
    # is its wall time
    return {
        "first_job_s": (first, 1), "job_p50_s": (p50, len(warm)),
        "job_p90_s": (p90, len(warm)), "rows_per_s": (input_rows / p50, len(warm)),
        "lag_p50_s": (p50, len(warm)), "lag_p90_s": (p90, len(warm)),
    }


def stream_metrics(res):
    d, lv = res["drain"], res.get("live")
    warm = d["batch_s"][1:]
    m = {
        "first_job_s": (d["batch_s"][0], 1),
        "job_p50_s": (quantile(warm, 0.5), len(warm)),
        "job_p90_s": (quantile(warm, 0.9), len(warm)),
        "rows_per_s": (d["rows"] / d["wall_s"], 1),
    }
    if lv:
        m["lag_p50_s"] = (quantile(lv["lag_s"], 0.5), len(lv["lag_s"]))
        m["lag_p90_s"] = (quantile(lv["lag_s"], 0.9), len(lv["lag_s"]))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the benchmark's write keeps every "
                         "TickerAnomaly.report column in the executed plan")
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    workload = "selftest" if a.selftest else a.workload
    names = [w["name"] for w in bench["workloads"]]
    if workload != "selftest" and workload not in names:
        sys.exit(f"unknown workload {workload!r}; one of {names}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"no graft sources under {ROOT}/src/main/scala")
    sys.path.insert(0, os.path.join(ROOT, "scripts"))

    import build
    import gen
    classes = build.ensure_built()
    base = build.build_dir()

    t = time.time()
    if workload in ("ticker_report", "selftest"):
        size = cfg["ticker_report"]
        input_dir, rows = gen.ticker_dir(os.path.join(base, "inputs"),
                                         a.seed, size)
        input_rows = rows["events"]
    elif workload == "ticker_stream":
        size = cfg["ticker_stream"]
        input_dir, rows = gen.stream_dir(os.path.join(base, "inputs"),
                                         a.seed, size)
        input_rows = rows["events"]
    else:
        size = cfg["corpus_curation"]
        input_dir, rows = gen.corpus_dir(os.path.join(base, "inputs"),
                                         a.seed, size)
        input_rows = rows["documents"] + rows["embeddings"]
    gen_s = time.time() - t

    work = os.path.join(base, "work", f"{workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    heap = driver_heap()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}/tmp",
              "-cp", build.classpath(classes),
              "org.apache.spark.graftbench.GraftBench",
              "--workload", workload, "--input", input_dir, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--nproc", str(nproc()),
              "--min-warm", str(size.get("min_warm", 0))])
    if workload == "ticker_stream":
        # the live phase lasts about --seconds: one slice per period
        live = max(size["live_min_slices"],
                   round(a.seconds * 1000 / size["live_period_ms"]))
        cmd += ["--live-period-ms", str(size["live_period_ms"]),
                "--live-slices", str(min(live, size["slices"]))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    jvm_log = os.path.join(work, "jvm.log")
    cmd += ["--launched-ms", str(int(time.time() * 1000))]
    t_jvm = time.time()
    with open(jvm_log, "w") as lf:
        try:
            p = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               env=env, cwd=work,
                               timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(jvm_log) as lf:
            log(lf.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"harness failed ({rc})")
    with open(result_file) as f:
        res = json.load(f)

    if workload == "selftest":
        cols = res["report_columns"]
        # the write keeps every column; count() must still prune, or the
        # contrast this test documents is gone
        ok = (len(cols) == 24
              and sorted(res["write_plan_columns"]) == sorted(cols)
              and len(res["count_plan_columns"]) < len(cols))
        print(f"report columns: {len(cols)}")
        print(f"written by the benchmark's action: {res['write_plan_columns']}")
        print(f"widest plan node under count(): {res['count_plan_columns']}")
        print("selftest", "PASS" if ok else "FAIL")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(0 if ok else 1)

    jvm_s = time.time() - t_jvm
    t_check = time.time()
    # ---- correctness (untimed) ----
    if workload == "ticker_stream":
        attempted, failed = check_stream(res, input_dir, work)
        m = stream_metrics(res)
    else:
        tables = (["events", "customer"] if workload == "ticker_report"
                  else ["documents", "embeddings"])
        failed = check_batch(res, input_dir, tables)
        attempted = len(res["jobs"])
        m = batch_metrics(res, input_rows)
    check_s = time.time() - t_check
    m["setup_s"] = (res["setup_s"], 1)
    m["heap_retained_mb"] = (res["heap_retained_mb"], 1)

    units = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    if a.trace:
        # a module this workload does not call reports 0
        metrics = {x["name"]: {"value": res["per_layer"].get(x["name"], 0.0),
                               "unit": x["unit"]} for x in bench["per_layer"]}
    else:
        metrics = {x["name"]: {"value": m[x["name"]][0], "unit": x["unit"]}
                   for x in bench["end_to_end"]}

    record = {
        "workload": workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "gen_s": gen_s, "jvm_s": jvm_s,
        "check_s": check_s, "input_rows": rows,
        "size": size, "machine": dict(res["machine"], driver_heap=heap),
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "samples": {k: v[1] for k, v in m.items()},
        "phases_s": res["phases_s"], "setup_parts": res["setup_parts"],
        "end_to_end": {k: v[0] for k, v in m.items()},
        "per_layer": res["per_layer"],
    }
    if "jobs" in res:
        record["jobs"] = [{k: j[k] for k in ("job", "traced", "wall_s", "calls")}
                          for j in res["jobs"]]
    if "live" in res:
        record["live_lag_s"] = res["live"]["lag_s"]
        record["generator_lateness_s"] = {
            "p50": quantile(res["live"]["lateness_s"], 0.5),
            "max": max(res["live"]["lateness_s"])}
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)

    mach = record["machine"]
    print(f"workload {workload} seed {a.seed} trace {a.trace}: "
          f"gen_s {gen_s:.3f}, jvm_s {jvm_s:.1f}, check_s {check_s:.1f}, "
          f"input rows {input_rows}, nproc {mach['nproc']}, heap {heap}, "
          f"spark {mach['spark']}, jdk {mach['jdk']}")
    print(f"failed_frac {failed}/{attempted}")
    if "generator_lateness_s" in record:
        print(f"generator lateness p50 {record['generator_lateness_s']['p50']:.4f} s, "
              f"max {record['generator_lateness_s']['max']:.4f} s")
    for k, v in metrics.items():
        n = record["samples"].get(k)
        val = "null" if v["value"] is None else f"{v['value']:.6g}"
        print(f"  {k} = {val} {units[k]}" + (f" (n={n})" if n else ""))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
