#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the current checkout.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
    batch_small  closed loop, one client, the non-streaming queries of
                 RelationalQueries and WeatherQueries on the sf0.01 tables
                 in perfbench/data
    wow_live     open loop, the reference pipeline (WeatherPipeline into
                 WowSink) fed by a separate generator process

The first run in a checkout builds the engine and the driver with sbt; the
build is cached under $CARGO_TARGET_DIR (or .bench_build) and redone when
its sources change. The last line of stdout is one JSON object: correct,
attempted, failed and metrics (the end-to-end metrics, or with --trace 1
the per-layer metrics). A line starting with "box " before it records the
box certification.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
# the engine's sf0.01 corpora (seed 42), as the tests and the oracle check read them
DATA = os.path.join(BENCH, "data")
HEAP = "4g"
# a fixed young generation: with G1 sizing it, the number of young
# collections in a wow_live run ranged from 13 to 39, and the spread of
# the hi-phase latency doubled
YOUNG = "1536m"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
# wow_live: a ladder rung holds when its event tail is within this limit
# and its latency grows by less than this many seconds per second (a
# growing backlog); a rung spans only a few triggers, so the growth
# estimate still carries some of the trigger's sawtooth
LATENCY_LIMIT_S = 2.0
BACKLOG_GROWTH_MAX = 0.25
# box certification: a run outside any of these is flagged contended.
# load1 at start still carries the decay of the previous run, so only a
# run queue well above the core count counts; the CPU that processes
# other than this run's used while it ran (steal included) is the direct
# evidence.
LOAD1_MAX_PER_CORE = 1.5
OTHER_CPU_MAX = 0.2
CACHED_MAX_FRAC = 0.5
GEN_LATE_MAX_S = 0.1

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = ["setup_s", "total_s", "query_p50_s", "query_tail_s", "mem_peak_mb"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Digest of every input of the build: engine sources, build files and
    the driver package."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
            os.path.relpath(os.path.join(BENCH, "driver"), root) + "/**/*"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(root, p), recursive=True)
                    if os.path.isfile(f) and "/target/" not in f})
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile engine + driver once per source state; return the classpath."""
    stamp, cp_file = source_stamp(root), os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # keep sbt's scratch files (server socket, native libraries, JVM perf
    # data) inside the build directory
    sbt_tmp = os.path.join(work, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] = (opts + f" -Dsbt.server.autostart=false -Djava.io.tmpdir={sbt_tmp}"
                       f" -Djna.tmpdir={sbt_tmp} -Xmx2g").strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log("building engine and driver with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export driver/Runtime/fullClasspath"],
                       cwd=os.path.join(BENCH, "driver"), env=env, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ box

def box_state():
    """load1, JVMs already running, page-cache MB, total RAM MB."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    jvms = 0
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            jvms += 1
    return {"load1": os.getloadavg()[0], "other_jvms": jvms,
            "cached_mb": mem.get("Cached", -1), "mem_total_mb": mem.get("MemTotal", -1)}


def cpu_clock():
    """(wall s, CPU s used by the whole box, CPU s used by this process and
    its waited-for descendants)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    busy = sum(fields) - fields[3] - fields[4]  # all but idle and iowait
    t = os.times()
    return (time.time(), busy / os.sysconf("SC_CLK_TCK"),
            t.user + t.system + t.children_user + t.children_system)


def other_cpu(start):
    """Cores' worth of CPU that other processes used since `start`."""
    (w0, b0, o0), (w1, b1, o1) = start, cpu_clock()
    return max(0.0, ((b1 - b0) - (o1 - o0)) / max(1e-9, w1 - w0))


def contended(box, gen_late):
    return int(box["load1"] > LOAD1_MAX_PER_CORE * os.cpu_count() or box["other_jvms"] > 0
               or box["other_cpu"] > OTHER_CPU_MAX
               or box["cached_mb"] > CACHED_MAX_FRAC * box["mem_total_mb"]
               or gen_late > GEN_LATE_MAX_S)


# ---------------------------------------------------------------- stats

def tail(xs):
    """The highest whole percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    n = len(xs)
    p = max(0, math.floor(100.0 * (n - 10) / n)) if n > 10 else 50
    return float(np.percentile(xs, p)), p, n


def med(xs):
    return float(statistics.median(xs)) if len(xs) else 0.0


def slope(ts, ys):
    if len(ts) < 2:
        return 0.0
    return float(np.polyfit(np.asarray(ts) - ts[0], ys, 1)[0])


# -------------------------------------------------------------- checks

def load_check_oracle(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(canon, path):
    """Digest of a dumped result: check_oracle's canonical column order,
    rows sorted, doubles to 12 significant digits."""
    import duckdb
    df = canon(duckdb.connect().execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf())
    rows = sorted("|".join(("%.12g" % v) if isinstance(v, float) else repr(v)
                           for v in r) for r in df.itertuples(index=False))
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def check_batch(root, data, out, names):
    """Per query: oracled results through tools/check_oracle.py, the others
    against the recorded golden fingerprints. Returns {name: problem}."""
    check = os.path.join(out, "check")
    report = os.path.join(out, "oracle_report.json")
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                        data, check, report], capture_output=True, text=True, timeout=170)
    bad = {}
    try:
        with open(report) as f:
            rep = json.load(f)
    except (OSError, ValueError):
        return {n: f"oracle check did not run: {p.stdout[-300:]}{p.stderr[-300:]}" for n in names}
    with open(os.path.join(BENCH, "goldens.json")) as f:
        goldens = json.load(f)
    canon = load_check_oracle(root).canon
    for n in names:
        r = rep.get(n)
        if r is None:
            bad[n] = "no output"
        elif r.get("err") == "no_oracle":
            got = fingerprint(canon, os.path.join(check, n))
            if goldens.get(n) != got:
                bad[n] = f"fingerprint {got} != golden {goldens.get(n)}"
        elif r.get("hash_match") is not True:
            bad[n] = r.get("err") or "oracle mismatch"
    return bad


# ------------------------------------------------------------- workloads

def closed_loop_metrics(res, trace):
    """A query's wall is its fastest measured run, which keeps one stall
    from moving the figures; a pass's wall is their sum, and the median
    and tail are over them."""
    passes = res["passes"]
    runs = {}
    for p in passes:
        for q in p["queries"]:
            runs.setdefault(q["name"], []).append(q["wall_s"])
    best = [min(v) for v in runs.values()]
    tv, tp, tn = tail(best)
    m = {"setup_s": med(res["setup_s"]), "total_s": sum(best),
         "query_p50_s": med(best), "query_tail_s": tv,
         "mem_peak_mb": res["jvm"]["live_mb"]}
    info = {"query_tail_percentile": tp, "query_samples": tn, "passes": len(passes)}
    if not trace:
        return m, info, {}
    t = res["traced"]
    qs = t["queries"]
    layers = sum_layers(qs, res["cores"])
    construct = sum(q["construct_s"] for q in qs)
    wall = sum(q["wall_s"] for q in qs)
    layers.update({
        "sources.open_s": t["sources"]["open_s"], "sources.open_jobs": t["sources"]["open_jobs"],
        "operators.construct_s": construct,
        "operators.construct_jobs": sum(q["construct_jobs"] for q in qs),
        "operators.construct_share": construct / wall if wall else 0.0,
        "trace.overhead": 1.0 + t["callback_s"] / wall if wall else 0.0})
    layers.update(jvm_layers(res["jvm"]))
    return m, info, layers


def jvm_layers(jvm):
    return {"jvm.gc_s": jvm["gc_s"], "jvm.collections": jvm["collections"],
            "jvm.heap_peak_mb": jvm["heap_peak_mb"], "jvm.rss_hwm_mb": jvm["rss_hwm_mb"]}


def sum_layers(rows, cores):
    """Layer totals over per-query rows (or one whole-window row)."""
    def s(k):
        return sum(r.get(k, 0) for r in rows)
    action = s("action_s")
    batches = [b for r in rows for b in r.get("batches", [])]
    data = [b for b in batches if b["rows"] > 0]

    def dur(k):
        return sum(b["durations_ms"].get(k, 0) for b in batches) / 1e3
    return {
        "catalyst.analysis_s": s("analysis_s"), "catalyst.optimization_s": s("optimization_s"),
        "catalyst.planning_s": s("planning_s"), "catalyst.queries": s("catalyst_queries"),
        "exec.jobs": s("jobs"), "exec.stages": s("stages"), "exec.tasks": s("tasks"),
        "exec.tasks_failed": s("tasks_failed"), "exec.action_s": action,
        "exec.task_run_s": s("task_run_s"), "exec.task_cpu_s": s("task_cpu_s"),
        "exec.task_gc_s": s("task_gc_s"), "exec.sched_wait_s": s("sched_wait_s"),
        "exec.driver_gap_s": s("driver_gap_s"),
        "exec.slot_util": s("action_task_run_s") / (action * cores) if action else 0.0,
        "exec.input_mb": s("input_mb"), "exec.shuffle_read_mb": s("shuffle_read_mb"),
        "exec.shuffle_write_mb": s("shuffle_write_mb"), "exec.spill_mb": s("spill_mb"),
        "stream.batches": len(batches), "stream.empty_batches": len(batches) - len(data),
        "stream.data_batch_frac": len(data) / len(batches) if batches else 0.0,
        "stream.rows_per_batch": med([b["rows"] for b in data]),
        "stream.batch_p50_s": med([b["durations_ms"].get("triggerExecution", 0) / 1e3
                                   for b in data]),
        "stream.trigger_s": dur("triggerExecution"), "stream.latest_offset_s": dur("latestOffset"),
        "stream.get_batch_s": dur("getBatch"), "stream.planning_s": dur("queryPlanning"),
        "stream.add_batch_s": dur("addBatch"), "stream.wal_commit_s": dur("walCommit"),
        "stream.commit_offsets_s": dur("commitOffsets"),
        "stream.state_rows": max([b["state_rows"] for b in batches], default=0),
        "stream.state_mem_mb": max([b["state_mem_bytes"] for b in batches], default=0) / 2**20,
        "stream.state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
    }


def wow_metrics(res, out, trace):
    """Every reading is timed from its due time to its first receipt by
    the transport. The end-to-end latency is that of the hi phase; set-up
    and warm-up readings are not measured."""
    with open(os.path.join(out, "gen.json")) as f:
        phases = json.load(f)["phases"]
    g = np.load(os.path.join(out, "gen.npy"))
    r = np.loadtxt(os.path.join(out, "receipts.csv"), delimiter=",", ndmin=2)
    receipt = np.full(len(g), np.inf)
    ok = (r[:, 0] >= 0) & (r[:, 0] < len(g))
    np.minimum.at(receipt, r[ok, 0].astype(np.int64), r[ok, 1] / 1e3)
    per = {}
    for k, ph in enumerate(phases):
        sel = g[g[:, 1] == k]
        t = receipt[sel[:, 0].astype(np.int64)]
        got = np.isfinite(t)
        due, lat = sel[got, 2], t[got] - sel[got, 2]
        t_v, t_p, _ = tail(lat) if len(lat) else (math.inf, 0, 0)
        # backlog growth: the trend of latency over due time, times the rate
        per[ph["name"]] = {"p50": med(lat), "tail": t_v, "tail_pct": t_p, "n": len(lat),
                           "missing": int((~got).sum()), "rate": len(sel) / ph["seconds"],
                           "slope": slope(due, lat) * len(sel) / ph["seconds"],
                           "due": due, "receipt": t[got]}
    hi = per["hi"]
    done = receipt[np.isfinite(receipt)]
    last_receipt = float(done.max()) if len(done) else phases[-1]["end"]
    m = {"setup_s": med(res["setup_s"]), "total_s": last_receipt - phases[1]["start"],
         "query_p50_s": hi["p50"], "query_tail_s": hi["tail"],
         "mem_peak_mb": res["jvm"]["live_mb"]}
    late = float(np.percentile(g[:, 3] - g[:, 2], 99))
    info = {"query_tail_percentile": hi["tail_pct"], "query_samples": hi["n"],
            "gen_late_p99_s": late,
            "phases": {k: {x: v[x] for x in ("rate", "n", "p50", "tail", "tail_pct", "slope")}
                       for k, v in per.items()}}
    if not trace:
        return m, info, {}
    # the highest rate, from hi up the ladder, that holds the latency limit
    # with no growing backlog
    max_rate = 0.0
    for ph in phases[2:]:
        p = per[ph["name"]]
        if (p["missing"] or p["tail"] > LATENCY_LIMIT_S
                or p["slope"] > BACKLOG_GROWTH_MAX * p["rate"]):
            break
        max_rate = p["rate"]
    # hi-phase split of event latency: creation -> batch start -> receipt
    starts = np.array(sorted(b["start_ms"] / 1e3 for b in res["batches"] if b["rows"] > 0))
    i = np.searchsorted(starts, hi["receipt"], side="right") - 1
    at = i >= 0
    batch_start = starts[i[at]]
    traced = res["traced"]
    layers = sum_layers([traced], res["cores"])
    layers.update({
        "sources.open_s": traced["sources"]["open_s"],
        "sources.open_jobs": traced["sources"]["open_jobs"],
        "operators.construct_s": 0.0, "operators.construct_jobs": 0,
        "operators.construct_share": 0.0,
        "sink.records": res["received"], "sink.posts": res["posts"],
        "wow.trigger_wait_p50_s": med(batch_start - hi["due"][at]),
        "wow.batch_p50_s": med(hi["receipt"][at] - batch_start),
        "event_p50_s.lo": per["lo"]["p50"], "event_tail_s.lo": per["lo"]["tail"],
        "event_p50_s.hi": hi["p50"], "event_tail_s.hi": hi["tail"],
        "max_rate_eps": max_rate, "gen.offered_eps": hi["rate"],
        "backlog.slope_eps": hi["slope"],
        "trace.overhead": 1.0 + traced["callback_s"] / max(1e-9, (
            res["window_ms"][1] - res["window_ms"][0]) / 1e3)})
    layers.update(jvm_layers(res["jvm"]))
    return m, info, layers


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch_small", "wow_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"]:
        if not os.path.exists(os.path.join(root, need)):
            log(f"no engine checkout here: {need} is missing")
            return 2
    box = box_state()
    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    run = os.path.join(work, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    out, tmp = os.path.join(run, "out"), os.path.join(run, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    args = {"workload": a.workload, "data": DATA, "out": out, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace}
    if a.workload == "wow_live":
        args.update({"python": sys.executable, "gen": os.path.join(BENCH, "wowgen.py")})
    clock = cpu_clock()
    cmd = (["java", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Driver"] + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(run, "jvm.log"), "w") as jlog:
        jvm = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=run)
        try:
            jvm.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            log(f"driver JVM exceeded {JVM_TIMEOUT_S}s; see {run}/jvm.log")
    try:
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
    except (OSError, ValueError):
        log(f"driver wrote no result; see {run}/jvm.log")
        return 1
    if "error" in res:
        log(f"driver failed: {res['error']}")
        return 1

    if a.workload == "wow_live":
        m, info, layers = wow_metrics(res, out, a.trace)
        c = res["check"]
        attempted = res["offered"]
        failed = min(attempted, c["missing"] + c["duplicated"] + c["wrong"] + c["extra"])
        bad = {k: v for k, v in c.items() if k not in ("expected", "unique") and v}
        if c["expected"] != attempted:
            bad["expected"] = f"{c['expected']} readings landed, {attempted} offered"
        gen_late = info["gen_late_p99_s"]
    else:
        m, info, layers = closed_loop_metrics(res, a.trace)
        names = [q["name"] for q in res["check"]]
        bad = check_batch(root, DATA, out, names)
        for q in res["check"] + [q for p in res["passes"] for q in p["queries"]]:
            if not q["ok"]:
                bad.setdefault(q["name"], "query failed")
        attempted, failed = len(names), len(bad)
        gen_late = 0.0
    box["other_cpu"] = other_cpu(clock)
    box["contended"] = contended(box, gen_late)
    info.update({"box": box, "wrong": bad})
    print("box " + json.dumps(info, default=str), flush=True)

    if a.trace:
        layers.update({"failed_frac": failed / attempted, "gen.late_p99_s": gen_late,
                       "box.load1": box["load1"], "box.other_jvms": box["other_jvms"],
                       "box.cached_mb": box["cached_mb"], "box.other_cpu": box["other_cpu"],
                       "box.contended": box["contended"]})
        for k in ["sink.records", "sink.posts", "wow.trigger_wait_p50_s",
                  "wow.batch_p50_s", "event_p50_s.lo", "event_tail_s.lo", "event_p50_s.hi",
                  "event_tail_s.hi", "max_rate_eps", "gen.offered_eps", "backlog.slope_eps"]:
            layers.setdefault(k, 0)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": m[k], "unit": unit_of(k)} for k in END_TO_END}
    write_results(work, a, res, metrics, info)
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def unit_of(name):
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_eps"):
        return "1/s"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith(("_frac", "_share", "_util", ".overhead")):
        return "ratio"
    if name.endswith(".load1"):
        return "procs"
    if name.endswith(".other_cpu"):
        return "cores"
    return "count"


def write_results(work, a, res, metrics, info):
    """The raw driver result, the metrics and the certification of this run,
    plus (traced) one row per query, named by workload, seed and pid. A
    failure here is reported and never suppresses the printed metrics."""
    try:
        d = os.path.join(work, "results")
        os.makedirs(d, exist_ok=True)
        stem = os.path.join(d, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
        with open(stem + ".json", "w") as f:
            json.dump({"metrics": metrics, "info": info, "result": res}, f, default=str)
        rows = res.get("traced", {}).get("queries", [])
        if rows:
            with open(stem + "-queries.jsonl", "w") as f:
                for r in rows:
                    f.write(json.dumps({k: v for k, v in r.items() if k != "batches"}) + "\n")
    except OSError as e:
        log(f"result files not written: {e}")


if __name__ == "__main__":
    sys.exit(main())
