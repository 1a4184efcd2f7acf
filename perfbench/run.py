#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, each run in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. With --trace 0 the last line
of stdout carries the end-to-end metrics, with --trace 1 the per-layer
metrics. Every run checks the engine's outputs; see WORKLOADS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("analyst_full", "pipeline_iter", "river_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780
LANES = ("bronze", "alerts")
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch",
          "latestOffset")
WINDOW_SUMS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
               "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "plan_s")


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Builds the engine and the harness unless the build is current;
    returns the JVM launch description the build wrote."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to perfbench/ (build.sbt, src/main/scala)", 2)
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(HERE, ".build")
    launch, stamp_file = os.path.join(out, "launch.json"), os.path.join(out, "stamp")
    if os.path.isfile(launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(launch) as lf:
                    return json.load(lf)
    opts = os.environ.get("SBT_OPTS", "").split() + ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="2g",
               SBT_OPTS=" ".join(opts))
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}", 3)
    if r.returncode != 0 or not os.path.isfile(launch):
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(launch) as lf:
        return json.load(lf)


def run_jvm(launch, args):
    """One workload run in a fresh JVM; returns its raw record and the
    time the JVM was launched."""
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    raw_file = os.path.join(work, "raw.json")
    cores = len(os.sched_getaffinity(0))
    # a fixed, pre-touched heap: peak RSS then moves with native and
    # off-heap memory, not with how far the collector chose to grow the heap
    heap = [o for o in launch["java_options"] if o.startswith("-Xmx")][-1][4:]
    cmd = (["java"] + launch["java_options"]
           + [f"-Xms{heap}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", launch["classpath"], "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--data", os.path.join(HERE, "data"),
              "--work", work, "--out", raw_file])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_file = os.path.join(work, "jvm.log")
    launched = time.time()
    steal0 = cpu_ticks()
    with open(log_file, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_file})", 4)
    steal1 = cpu_ticks()
    if p.returncode != 0 or not os.path.isfile(raw_file):
        with open(log_file, errors="replace") as fh:
            print(fh.read()[-4000:], file=sys.stderr)
        fail(f"JVM exited with {p.returncode}", 4)
    with open(raw_file) as fh:
        raw = json.load(fh)
    raw["steal_share"] = ((steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
                          if steal1[1] > steal0[1] else 0.0)
    return raw, launched


def cpu_ticks():
    """(steal, total) CPU ticks of the machine since boot, from
    /proc/stat; (0, 0) where there is no such file."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def batch_checks(raw):
    """Output checks of the warm-up pass against the values recorded at
    the seed: row count always, digest unless the query is count-only."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[raw["workload"]]
    bad = []
    for c in raw["checks"]:
        exp = expected.get(c["name"])
        if "error" in c:
            bad.append(f"{c['name']}: {c['error']}")
        elif exp is None:
            bad.append(f"{c['name']}: no recorded output")
        elif c["rows"] != exp["rows"]:
            bad.append(f"{c['name']}: {c['rows']} rows, expected {exp['rows']}")
        elif exp["digest"] is not None and c["digest"] != exp["digest"]:
            bad.append(f"{c['name']}: digest {c['digest']}, expected {exp['digest']}")
    return len(raw["checks"]), bad


def batch_e2e(raw):
    per_query = {}
    for e in raw["executions"]:
        per_query.setdefault(e["name"], []).append(e["wall_ms"])
    query_ms = {k: stats.median(v) for k, v in per_query.items()}
    metrics = {
        "pass_s": stats.median(raw["passes_s"]),
        "op_geomean_ms": stats.geomean(list(query_ms.values())),
        "op_p50_ms": stats.median(list(query_ms.values())),
    }
    # too few queries for a supported percentile: the slowest query is
    # reported here, not as a metric (see WORKLOADS.md)
    level, tail = stats.tail(list(query_ms.values()))
    detail = {"passes": len(raw["passes_s"]), "op_samples": len(raw["executions"]),
              "op_tail_level": level, "op_tail_ms": tail, "query_ms": query_ms}
    return metrics, detail


def batch_layers(raw):
    traced = [e for e in raw["executions"] if e["traced"]]
    plain = [e for e in raw["executions"] if not e["traced"]]
    m = {k: sum(e["window"][k] for e in traced) for k in WINDOW_SUMS}
    m["peak_exec_mem_bytes"] = max(e["window"]["peak_exec_mem_bytes"] for e in traced)
    m["build_s"] = sum(e["build_s"] for e in traced)
    m["exec_s"] = sum(e["exec_s"] for e in traced)
    m["build_jobs"] = sum(sum(1 for t in e["window"]["job_start_ms"] if t < e["built_ms"])
                          for e in traced)
    busy = gap = span = 0
    for e in traced:
        b, g = stats.busy_and_gap(e["window"]["task_intervals_ms"], e["start_ms"], e["end_ms"])
        busy, gap, span = busy + b, gap + g, span + e["end_ms"] - e["start_ms"]
    m["busy_share"] = busy / (span * raw["cores"])
    m["driver_gap_s"] = gap / 1e3
    for e in traced:
        key = f"{e['module']}.wall_s"
        m[key] = m.get(key, 0.0) + e["wall_ms"] / 1e3
        m[f"q.{e['name']}.wall_s"] = e["wall_ms"] / 1e3
    # two untraced runs per traced one
    m["trace.overhead_share"] = (sum(e["wall_ms"] for e in traced)
                                 / (sum(e["wall_ms"] for e in plain) / 2) - 1)
    return m


def lane_lags(open_phase):
    chunks = [(c["due_ms"], c["rows"]) for c in open_phase["chunks"]]
    lags, lost = [], 0
    for lane in LANES:
        batches = [(b["start_offset"], b["end_offset"], b["end_ms"])
                   for b in open_phase["lanes"][lane]]
        lane_lag, lane_lost = stats.attribute_lag(chunks, batches,
                                                  open_phase["first_offset"])
        lags += lane_lag
        lost += lane_lost
    return lags, lost


def stream_checks(raw):
    attempted = sum(2 * c["offered"] for c in raw["checks"])
    bad = [f"{c['wrong_rows']} wrong rows in {c}" for c in raw["checks"] if c["wrong_rows"]]
    wrong = sum(c["wrong_rows"] for c in raw["checks"])
    lost = lane_lags(raw["open"])[1]
    if lost:
        bad.append(f"{lost} offered rows in no committed batch")
    return attempted, bad, wrong + lost


def stream_e2e(raw):
    lags, _ = lane_lags(raw["open"])
    chunk_ms = raw["drain_chunk_ms"]
    level, tail = stats.tail(lags)
    pass_s = sum(chunk_ms) / 1e3
    metrics = {
        "pass_s": pass_s,
        "op_geomean_ms": stats.geomean(chunk_ms),
        "op_p50_ms": stats.quantile(lags, 0.5),
    }
    detail = {"lag_samples": sum(w for _, w in lags), "op_tail_level": level,
              "op_tail_ms": tail,
              "stream_rows_per_s": raw["drain_rows"] / pass_s, "drain_chunk_ms": chunk_ms}
    return metrics, detail


def stream_layers(raw):
    w = raw["window"]
    m = {k: w[k] for k in WINDOW_SUMS}
    m["peak_exec_mem_bytes"] = w["peak_exec_mem_bytes"]
    busy, gap = stats.busy_and_gap(w["task_intervals_ms"], w["start_ms"], w["end_ms"])
    m["busy_share"] = busy / ((w["end_ms"] - w["start_ms"]) * raw["cores"])
    m["driver_gap_s"] = gap / 1e3
    for lane in LANES:
        batches = [b for b in raw["open"]["lanes"][lane] if b["rows"] > 0]
        m[f"{lane}.batches"] = len(batches)
        m[f"{lane}.rows_per_batch"] = sum(b["rows"] for b in batches) / len(batches)
        for ph in PHASES:
            m[f"{lane}.{ph}_ms"] = stats.median(
                [b["duration_ms"].get(ph, 0) for b in batches])
    states = [b["state"] for b in raw["open"]["lanes"]["alerts"] if b["rows"] > 0]
    m["state.rows"] = states[-1]["rows"]
    m["state.memory_bytes"] = states[-1]["memory_bytes"]
    m["state.commit_ms"] = stats.median([s["commit_ms"] for s in states])
    m["generator.late_ms"] = max(c["added_ms"] - c["due_ms"] for c in raw["open"]["chunks"])
    m.update(raw["layer_calls"])
    o = raw["overhead"]
    m["trace.overhead_share"] = (stats.median(o["traced_ms"]) / stats.median(o["untraced_ms"])
                                 - 1)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found at the repository root", 2)
    with open(bench_file) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    launch = build()
    raw, launched = run_jvm(launch, args)

    if args.workload == "river_stream":
        attempted, bad, failed = stream_checks(raw)
        e2e, detail = stream_e2e(raw) if not args.trace else ({}, {})
        layers = stream_layers(raw) if args.trace else {}
    else:
        n_checks, bad = batch_checks(raw)
        attempted = n_checks + raw["attempted"]
        failed = len(bad) + raw["failures"]
        e2e, detail = batch_e2e(raw) if not args.trace else ({}, {})
        layers = batch_layers(raw) if args.trace else {}
    e2e["setup_s"] = raw["setup_end_ms"] / 1e3 - launched
    e2e["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0

    if args.trace:
        unknown = set(layers) - {d["name"] for d in declared}
        if unknown:
            fail(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}", 5)
        # a layer this workload does not exercise reads 0
        values = {d["name"]: layers.get(d["name"], 0.0) for d in declared}
    else:
        values = {d["name"]: e2e[d["name"]] for d in declared}
    detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "steal_share": raw["steal_share"],
                   "error_rate": failed / attempted, "check_failures": bad})
    print(json.dumps({"detail": detail}))
    for b in bad:
        print(f"perfbench: check failed: {b}", file=sys.stderr)
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in declared},
    }))


if __name__ == "__main__":
    main()
