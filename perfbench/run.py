#!/usr/bin/env python3
"""Benchmark of the graft library: builds it from source, runs one workload
in its own JVM on local[<cores>], checks the outputs with DuckDB and prints
one JSON result line last.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
       [--sf-dir <dir>]   (suite only)

Run it from the repository root. Workloads:
  chain-small   reference chain (grid -> fill -> inject -> patches -> bank ->
                score -> impute -> forecast error) on ~100k seeded events
  serve-stream  fit the bank on the same events, then score one day of
                patches per microbatch through ScoreStream.bankScoreStream
  chain-wide    the chain on 10x the series (~1M events); not in BENCHMARK.json
  suite         every registered query over --sf-dir; not in BENCHMARK.json

End-to-end metrics (--trace 0), the same names on every workload:
  setup_s            process start until the SparkSession is ready; median of
                     the launches in a run
  cold_s             the first operation in a fresh JVM: a chain pass on the
                     chain workloads, ModelStore.save on serve-stream, the
                     query suite on suite
  warm_s             median of the repeated operation: a chain pass in a fresh
                     session of the warm JVM, or one microbatch, or one query
  heap_live_peak_mb  largest heap occupancy right after a GC
--trace 1 adds a SparkListener and a StreamingQueryListener and prints the
per-layer metrics instead. Build outputs, generated inputs and run files go
under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen_events  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        raise RunError("no Spark jars: set SPARK_HOME or run from the repository root")
# a run of a BENCHMARK.json workload ends within 180 s; the two
# workloads kept out of it take longer
DEADLINE_S = {"chain-small": 170, "serve-stream": 170, "chain-wide": 600, "suite": 1500}
SETUP_LAUNCHES = 2

CHAIN_SPANS = ["TsCore.hourlyGrid", "TsCore.filled", "TsCore.injected", "TsCore.patches",
               "TsCore.bankAndTest", "Detect.nearestDistWeight", "Detect.pipeline",
               "Impute.learnedImpute", "Forecast.learnedCleaningImpact"]
SPAN_METRICS = ["wall_s", "idle_s", "jobs", "tasks", "task_cpu_s", "core_util", "shuffle_mb",
                "gc_s"]
STREAM_METRICS = ["plan_s", "exec_s", "commit_s", "triggers", "task_cpu_s", "state_rows"]
SUITE_FAMILIES = ["timeseries", "analytics", "zipf", "text", "vector", "multimodal"]
E2E = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("heap_live_peak_mb", "MB")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class RunError(Exception):
    pass


# ---- host and provenance --------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RunError("no MemTotal in /proc/meminfo")


def heap_gb():
    # the Tier-1 rule: half of MemTotal, at least 2g and at most 8g
    return min(max(mem_total_kb() // 2097152, 2), 8)


def git_sha(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---- build -------------------------------------------------------------------

def sources(root):
    main = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, "src/main/scala"))
                  for f in fs if f.endswith(".scala"))
    bench = sorted(os.path.join(BENCH, "scala", f) for f in os.listdir(os.path.join(BENCH, "scala"))
                   if f.endswith(".scala"))
    if not main:
        raise RunError("no library sources under src/main/scala")
    return main, bench


def scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(out)}",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise RunError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(root, work):
    """Compile the library and the benchmark once per source digest."""
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    d = os.path.join(work, "classes-" + digest)
    jars = os.path.join(spark_jars(), "*")
    if not os.path.exists(os.path.join(d, "done")):
        t = time.time()
        scalac(os.path.join(d, "main"), jars, main)
        scalac(os.path.join(d, "bench"), os.path.join(d, "main") + ":" + jars, bench)
        open(os.path.join(d, "done"), "w").close()
        log(f"built {digest} in {time.time() - t:.1f} s")
    return digest, ":".join([os.path.join(d, "bench"), os.path.join(d, "main"), jars])


# ---- one JVM -----------------------------------------------------------------

def run_jvm(cp, args, tmp, logf, deadline):
    """Start a JVM in its own process group, wait for it, kill the group on timeout.
    Its temporary files go to `tmp`, inside the checkout."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + ADD_OPENS + [f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
                                  f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                                  "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
                                  "perfbench.Main"] + [str(a) for a in args]
    t0 = time.time()
    with open(logf, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RunError(f"JVM {args[0]} stopped before it finished (deadline or signal); log: {logf}")
    if rc != 0:
        raise RunError(f"JVM {args[0]} exited {rc}; log: {logf}")
    return t0


def jvm(cp, workload, data_dir, out, seconds, trace, scratch, logf, deadline):
    t0 = run_jvm(cp, [workload, data_dir, out, seconds, trace, cores(), scratch], scratch, logf,
                 deadline)
    with open(os.path.join(out, "result.json")) as f:
        r = json.load(f)
    r["setup_s"] = r["ready_epoch_ms"] / 1e3 - t0
    return r


# ---- per-layer attribution -----------------------------------------------------

def attribute(spans, jobs):
    """Give each job to the innermost span open when it started."""
    by_span = {s["id"]: [] for s in spans}
    for j in jobs:
        best = None
        for s in spans:
            if s["start_ms"] <= j["start_ms"] <= s["end_ms"] and (
                    best is None or s["start_ms"] >= best["start_ms"]):
                best = s
        if best is not None:
            by_span[best["id"]].append(j)
    return by_span


def covered_s(span, jobs):
    """Seconds of the span during which at least one of its jobs ran."""
    iv = sorted((max(j["start_ms"], span["start_ms"]), min(j["end_ms"], span["end_ms"]))
                for j in jobs)
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def span_layer(span, jobs, n_cores):
    wall = span["wall_s"]
    cpu = sum(j["cpu_s"] for j in jobs)
    return {
        "wall_s": wall,
        "idle_s": max(wall - covered_s(span, jobs), 0.0),
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_cpu_s": cpu,
        "core_util": cpu / (wall * n_cores) if wall > 0 else 0.0,
        "shuffle_mb": sum(j["shuffle_write_mb"] for j in jobs),
        "gc_s": span["gc_s"],
    }


def median_layer(rows):
    return {k: statistics.median(r[k] for r in rows) for k in SPAN_METRICS} if rows else \
        {k: 0.0 for k in SPAN_METRICS}


def stream_layer(progress, jobs, n_warmup, n_batches):
    """Group triggers per input batch (a trigger with input rows opens one);
    keep the measured batches, not the warm-up ones or the closing sentinel."""
    groups = []
    for p in progress:
        if p["input_rows"] > 0 or not groups:
            groups.append([])
        groups[-1].append(p)
    groups = groups[n_warmup:n_warmup + n_batches]

    def med(f):
        return statistics.median(sum(f(p["duration_ms"]) for p in g) / 1e3 for g in groups)
    return {
        "plan_s": med(lambda d: d.get("queryPlanning", 0)),
        "exec_s": med(lambda d: d.get("addBatch", 0)),
        "commit_s": med(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "triggers": sum(len(g) for g in groups) / len(groups),
        "task_cpu_s": sum(j["cpu_s"] for j in jobs) / n_batches,
        "state_rows": max(p["state_rows"] for g in groups for p in g),
    }


def layers(r, workload, n_cores):
    spans, jobs = r["spans"], r["jobs"]
    by_span = attribute(spans, jobs)
    out = {}
    per_pass = {}
    for name in CHAIN_SPANS:
        rows = [(s["pass"], span_layer(s, by_span[s["id"]], n_cores))
                for s in spans if s["name"] == name]
        per_pass[name] = [row for _, row in rows]
        warm = [row for p, row in rows if p >= 1]
        for k, v in median_layer(warm).items():
            out[f"{name}.{k}"] = v
    fit = [s for s in spans if s["name"] == "ModelStore.save"]
    row = span_layer(fit[0], by_span[fit[0]["id"]], n_cores) if fit else median_layer([])
    for k, v in row.items():
        out[f"ModelStore.save.{k}"] = v
    st = [s for s in spans if s["name"] == "ScoreStream.bankScoreStream"]
    srow = stream_layer(r["progress"], by_span[st[0]["id"]], len(r["warmup_latency_s"]),
                        len(r["batch_latency_s"])) if st else {k: 0.0 for k in STREAM_METRICS}
    for k in STREAM_METRICS:
        out[f"ScoreStream.bankScoreStream.{k}"] = srow[k]
    if workload == "suite":
        for fam in SUITE_FAMILIES:
            fs = [s for s in spans if s["name"].startswith("suite.") and
                  family(s["name"][len("suite."):]) == fam]
            rows = [span_layer(s, by_span[s["id"]], n_cores) for s in fs]
            for k in ["wall_s", "idle_s", "jobs", "task_cpu_s"]:
                out[f"suite.{fam}.{k}"] = sum(x[k] for x in rows)
    out["Tables.schema_jobs"] = sum(1 for j in jobs
                                    if j["call_site"].startswith("parquet at ") and not j["sql"])
    out["codegen.compiles"] = r["codegen_compiles"]
    out["codegen.compile_s"] = r["codegen_compile_s"]
    out["spark.tasks_failed"] = r["tasks_failed"]
    return out, per_pass


def family(q):
    """Suite family of a registered query, by its key prefix."""
    p = q.split("_")[0].rstrip("0123456789")
    return {"q": "timeseries", "qa": "analytics", "qe": "analytics", "qp": "analytics",
            "qz": "zipf", "qt": "text", "qc": "text", "qd": "text", "qh": "text",
            "qv": "vector", "qm": "multimodal"}[p]


def suite_summary(r, data, pin, detail):
    """Check each query against the pinned digests (or pin them) and time the suite."""
    qs = r["queries"]
    pin_file = os.path.join(BENCH, "suite_pinned.json")
    pins = {}
    if os.path.exists(pin_file):
        with open(pin_file) as f:
            pins = json.load(f)
    key = os.path.basename(data["dir"].rstrip("/"))
    if pin:
        pins[key] = {q["name"]: {"rows": q["rows"], "digest": q["digest"]} for q in qs if q["ok"]}
        with open(pin_file, "w") as f:
            json.dump(pins, f, indent=0, sort_keys=True)
            f.write("\n")
    res = checks.suite(qs, pins.get(key, {}))
    times = [q["s"] for q in qs]
    cold, warm = sum(times), statistics.median(times)
    detail.update(suite_s=cold, query_p50_s=warm, queries=len(qs),
                  query_p95_s=statistics.quantiles(times, n=20)[18])
    failed = sum(not q["ok"] for q in qs) + sum(not ok for _, ok, _ in res)
    return res, cold, warm, len(qs) + len(res), failed


# ---- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["chain-small", "serve-stream", "chain-wide", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="suite input: a directory of the eight test tables")
    ap.add_argument("--pin", action="store_true",
                    help="suite: record this run's row counts and digests as the pinned values")
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S[a.workload]
    root = os.getcwd()
    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    n_cores = cores()

    digest, cp = build(root, work)
    run_dir = os.path.join(work, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out, scratch = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
    logf = os.path.join(run_dir, "jvm.log")

    if a.workload == "suite":
        if not a.sf_dir:
            raise RunError("suite needs --sf-dir")
        data = {"dir": os.path.abspath(a.sf_dir), "rows": None, "series": None,
                "note": "suite reads fixed test tables (generated with seed 42); "
                        "--seed does not regenerate them"}
        jw = "suite"
    else:
        data = gen_events.ensure(os.path.join(work, "data"),
                                 "wide" if a.workload == "chain-wide" else "small", a.seed)
        jw = "serve" if a.workload == "serve-stream" else "chain"

    r = jvm(cp, jw, data["dir"], out, a.seconds, a.trace, scratch, logf, deadline)
    # more launches for a steadier setup_s
    setups = [r["setup_s"]]
    for i in range(SETUP_LAUNCHES - 1):
        s = jvm(cp, "setup", "-", os.path.join(run_dir, f"setup{i}"), 0, 0,
                os.path.join(run_dir, f"tmp-setup{i}"), logf, deadline)
        setups.append(s["setup_s"])

    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": n_cores,
              "mem_total_kb": mem_total_kb(), "xmx": f"{heap_gb()}g",
              "spark": r["spark_version"], "jdk": r["jdk_version"], "git_sha": git_sha(root),
              "source_digest": digest, "calib_1m_s": r["calib_s"], "setup_samples_s": setups,
              "heap_live_mb": r["heap_live_mb"],
              "events": {k: data[k] for k in data if k != "dir"}}
    if jw == "suite":
        res, cold, warm, attempted, failed = suite_summary(r, data, a.pin, detail)
    elif jw == "chain":
        res = checks.chain(out, data["dir"], n_cores)
        walls = [s["wall_s"] for s in r["spans"] if s["parent"] == -1]
        cold, warm = walls[0], statistics.median(walls[1:])
        detail["chain_pass_s"] = walls
        detail["events"].update(windows=r["windows"], series=r["series"])
        attempted = r["passes"] * len(CHAIN_SPANS) + len(res)
        failed = sum(not ok for _, ok, _ in res)
    else:
        res = checks.serve(out, n_cores)
        lat = r["batch_latency_s"]
        cold, warm = r["fit_s"], statistics.median(lat)
        detail.update(fit_s=cold, batches=len(lat), warmup_batch_s=r["warmup_latency_s"],
                      batch_p50_s=warm, batch_max_s=max(lat),
                      patches_per_s=r["patches"] / r["stream_s"])
        if len(lat) >= 100:  # p90 with at least ten batches beyond it
            detail["batch_p90_s"] = statistics.quantiles(lat, n=10)[8]
        attempted = 1 + len(r["warmup_latency_s"]) + len(lat) + len(res)
        failed = sum(not ok for _, ok, _ in res)
    detail["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in res]
    e2e = {"setup_s": statistics.median(setups), "cold_s": cold, "warm_s": warm,
           "heap_live_peak_mb": max(r["heap_live_mb"])}
    detail["end_to_end"] = e2e
    if a.trace:
        per_layer, per_pass = layers(r, a.workload, n_cores)
        detail["per_pass"] = per_pass
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    with open(os.path.join(run_dir, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for n, ok, d in res:
        if not ok:
            log(f"check {n} FAILED: {d}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    k = name.rsplit(".", 1)[1]
    if k.endswith("_s"):
        return "s"
    if k.endswith("_mb"):
        return "MB"
    if k == "core_util":
        return "ratio"
    return "count"


if __name__ == "__main__":
    # a terminated run still kills its JVM (run_jvm catches the exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except RunError as e:
        log(str(e))
        sys.exit(2)
