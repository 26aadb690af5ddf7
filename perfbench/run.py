#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload <curate|stream_kafka>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (once per checkout), generates the
workload's inputs from the seed, runs the workload in a fresh JVM, checks
every output, and prints each metric by name with its unit. The last
line of standard output is one JSON object: with --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer ones. The exit code is
non-zero when any operation failed or any output was wrong.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside perfbench/.work

import build  # noqa: E402
import check  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
WORKLOADS = ("curate", "stream_kafka")
DEADLINE_S = 170  # the whole command, build excluded
JVM_OPTS = [
    "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}


def log(msg):
    print(msg, flush=True)


def inputs(seed, workload, trace):
    """Generate (or reuse) the seed's inputs; returns (dir, seconds)."""
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"{seed}-{key}")
    t0 = time.monotonic()
    need_tables = workload != "stream_kafka" or trace
    need_stream = workload == "stream_kafka" or trace
    if need_tables and not os.path.exists(os.path.join(d, "tables.done")):
        gen.write_tables(d, seed)
        open(os.path.join(d, "tables.done"), "w").close()
    if need_stream and not os.path.exists(os.path.join(d, "stream.done")):
        gen.write_stream(d, seed)
        open(os.path.join(d, "stream.done"), "w").close()
    # keep the input cache small: the newest few seeds only
    old = sorted(glob.glob(os.path.join(WORK, "inputs", "*")), key=os.path.getmtime)
    for o in old[:-4]:
        if o != d:
            shutil.rmtree(o, ignore_errors=True)
    os.utime(d)
    return d, time.monotonic() - t0


def run_jvm(classpath, args, run_dir, timeout):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                 "perfbench.Main"] + [str(a) for a in args]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"the workload did not finish within {timeout:.0f} s")


def tsv(run_dir, name, cast=int):
    return check.read_tsv(os.path.join(run_dir, f"{name}.tsv"), cast)


def spark_per_pass(passes, jobs, stages):
    """Spark-layer totals for each traced warm pass, from the job and stage
    records that fall inside the pass."""
    out = []
    for p in passes:
        s, e = p["start"], p["end"]
        pj = [(j[1], j[2]) for j in jobs if j[1] >= s and j[2] <= e]
        ps = [st for st in stages if s <= st[1] <= e]
        if not pj:
            continue
        longest = max(ps, key=lambda st: st[2] - st[1]) if ps else None
        durs = [int(x) for x in longest[12].split(",") if x] if longest else []
        out.append({
            "spark.jobs": len(pj),
            "spark.stages": len(ps),
            "spark.tasks": sum(st[3] for st in ps),
            "spark.driver_gap_s": stats.driver_gap(s, e, pj) / 1e9,
            "spark.executor_run_s": sum(st[4] for st in ps) / 1e3,
            "spark.executor_cpu_s": sum(st[5] for st in ps) / 1e9,
            "spark.gc_s": sum(st[6] for st in ps) / 1e3,
            "spark.spill_mb": sum(st[7] for st in ps) / 1e6,
            "spark.scan_mb": sum(st[8] for st in ps) / 1e6,
            "spark.scan_rows": sum(st[9] for st in ps),
            "spark.shuffle_write_mb": sum(st[10] for st in ps) / 1e6,
            "spark.shuffle_read_mb": sum(st[11] for st in ps) / 1e6,
            "spark.task_skew": stats.task_skew(durs) if durs else 1.0,
        })
    return out


def read_stages(run_dir):
    rows = []
    path = os.path.join(run_dir, "stages.tsv")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    parts = line.rstrip("\n").split("\t")
                    rows.append([int(x) for x in parts[:12]] + [parts[12] if len(parts) > 12 else ""])
    return rows


def streaming_metrics(run_dir, tag, open_loop):
    """Per-layer figures of the streaming pipeline: micro-batch durations
    and state from StreamingQueryProgress, the input backlog, and how late
    the open-loop generator ran."""
    prog = []
    path = os.path.join(run_dir, f"progress_{tag}.tsv")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    prog.append(json.loads(line.split("\t", 1)[1]))
    busy = [p for p in prog if p.get("numInputRows", 0) > 0]
    if not busy:
        raise SystemExit(f"no streaming progress recorded ({tag})")

    def dur(key):  # mean: single batches report whole milliseconds
        return sum(p["durationMs"].get(key, 0) for p in busy) / len(busy)
    state = [p["stateOperators"][0] for p in busy if p.get("stateOperators")]
    m = {
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.rows_per_batch": stats.median([p["numInputRows"] for p in busy]),
        "streaming.state_rows": max((s.get("numRowsTotal", 0) for s in state), default=0),
        "streaming.state_mem_mb": max((s.get("memoryUsedBytes", 0) for s in state), default=0) / 1e6,
        "streaming.dropped_late_rows": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
    }
    extra = {"streaming.batches": len(busy)}
    p99 = stats.percentile([p["durationMs"].get("addBatch", 0) for p in busy], 99)
    extra["streaming.add_batch_ms_p99"] = p99[0] if p99 else "n/a (fewer than 10 batches beyond p99)"
    s, e = open_loop["start"], open_loop["end"]
    backlog = [((t - s) / 1e9, b) for t, b in tsv(run_dir, f"backlog_{tag}") if s <= t <= e]
    m["sources.backlog_records_max"] = max((b for _, b in backlog), default=0)
    m["sources.backlog_slope"] = stats.slope(backlog)
    extra["sources.backlog_growing"] = stats.backlog_growing(backlog, open_loop["rate"])
    late = [x / 1e6 for (x,) in tsv(run_dir, f"late_{tag}")]
    p = stats.percentile(late, 99)
    if p is None:
        raise SystemExit(f"too few open-loop sends for a p99 of generator lateness ({len(late)})")
    m["gen.late_ms_p99"] = p[0]
    extra["gen.samples"] = p[1]
    return m, extra


def stream_check(ledger, run_dir, tag):
    sends = {r[0]: r[1] for r in tsv(run_dir, f"sends_{tag}")}
    return sends, check.check_stream(ledger, sends, tsv(run_dir, f"arrivals_{tag}"))


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    t_start = time.monotonic()
    data, gen_s = inputs(a.seed, a.workload, a.trace)
    log(f"gen_s {gen_s:.3f} s (input generation, not part of setup_s)")

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        code = run_jvm(classpath, [a.workload, a.seed, a.seconds, a.trace, data, run_dir,
                                   time.time_ns()],
                       run_dir, DEADLINE_S - (time.monotonic() - t_start))
        log(f"jvm_s {time.monotonic() - t_start - gen_s:.3f} s (the workload's process)")
        raw_path = os.path.join(run_dir, "raw.json")
        if not os.path.exists(raw_path):
            raise SystemExit(f"the workload wrote no record (exit {code}); see jvm.log")
        with open(raw_path) as f:
            raw = json.load(f)
        if raw.get("fatal"):
            raise SystemExit(f"the workload failed: {raw['fatal']}; see jvm.log")
        result = evaluate(a, data, run_dir, raw)
    finally:
        # keep the newest record of each kind for inspection, drop the rest
        keep = os.path.join(WORK, "last", f"{a.workload}-{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.move(run_dir, keep)
        for scratch in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(keep, scratch), ignore_errors=True)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["failed"] == 0 else 1)


def evaluate(a, data, run_dir, raw):
    """Checks the outputs, prints every metric, returns the result line."""
    for k, v in sorted(raw["conf"].items()):
        log(f"conf {k}={v}")
    ops = raw["ops"]
    # the warm-up passes after the cold one are run but not measured
    first = raw["passes"][0]
    warm = [p for p in raw["passes"][1:] if not p["warmup"]]
    problems = [f"{o['name']} (pass {o['pass']}): {o['error']}" for o in ops if not o["ok"]]
    attempted = len(ops)

    if a.workload == "stream_kafka" or a.trace:
        ledger, phase_sizes = check.load_ledger(os.path.join(data, "stream.tsv"))
    if a.workload == "stream_kafka":
        sends, (n, _, seen, bad) = stream_check(ledger, run_dir, "main")
        attempted += n
        problems += bad
    else:
        results = check.check_batch(data, os.path.join(run_dir, "results"),
                                    raw.get("oracle_sql", {}),
                                    sorted({o["name"] for o in ops}),
                                    # keyed like the inputs: seed and generator
                                    os.path.join(WORK, "oracle", os.path.basename(data)))
        for name, (ok, detail) in sorted(results.items()):
            log(f"check {name}: {'OK' if ok else 'FAIL'} {detail}")
            attempted += 1
            if not ok:
                problems.append(f"{name}: {detail}")

    def dur(p):
        return (p["end"] - p["start"]) / 1e9

    # with tracing, only the untraced warm passes count end to end
    measured = {p["pass"] for p in warm if not (a.trace and p["traced"])}
    e2e = {
        "setup_s": stats.median(raw["setup_s"]),
        "first_pass_s": dur(first),
        "wall_s": stats.typical_pass([(o["name"], dur(o)) for o in ops
                                      if o["pass"] in measured]),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    log(f"setup samples {', '.join(f'{x:.3f}' for x in raw['setup_s'])} s")
    log(f"setup_cold_s {raw['setup_s'][0]:.6g} s (from process launch, JVM start included)")
    log(f"warm passes {len(raw['passes']) - 1}: "
        f"{', '.join(f'{dur(p):.3f}' for p in raw['passes'][1:])} s "
        f"(the first {len(raw['passes']) - 1 - len(warm)} not measured)")
    for k, v in e2e.items():
        log(f"{k} {v:.6g} {END_TO_END[k]}")
    per_op = {}
    for o in ops:
        if o["pass"] in measured:
            per_op.setdefault(o["name"], []).append(dur(o))
    if a.workload == "stream_kafka":
        burst, backlog = phase_sizes[1], phase_sizes[0]
        log(f"drain_rps {burst / e2e['wall_s']:.6g} 1/s (burst of {burst} records; "
            f"cold backlog of {backlog} at {backlog / e2e['first_pass_s']:.6g} 1/s)")
        ol = raw["open_loop_main"]
        lat = [x / 1e6 for x in stats.due_latencies(
            {i: d for i, d in sends.items() if d >= ol["start"]}, seen)]
        for q in (50, 99):
            p = stats.percentile(lat, q)
            if p is None:
                log(f"latency_p{q}_ms n/a ms (fewer than 10 of {len(lat)} samples beyond p{q})")
            else:
                log(f"latency_p{q}_ms {p[0]:.6g} ms (samples={p[1]}, rate={ol['rate']:g}/s)")
    else:
        for name, ts in per_op.items():
            log(f"queries.{name}_s {stats.median(ts):.6g} s")

    metrics = {}
    if a.trace:
        traced = [p for p in warm if p["traced"]]
        jobs = tsv(run_dir, "jobs")
        per_pass = spark_per_pass(traced, jobs, read_stages(run_dir))
        if not per_pass:
            raise SystemExit("no Spark jobs recorded in the traced passes")
        for k in per_pass[0]:
            metrics[k] = stats.median([pp[k] for pp in per_pass])
        metrics["trace.overhead_s"] = (stats.median([dur(p) for p in traced]) -
                                       stats.median([dur(p) for p in warm if not p["traced"]]))
        metrics.update(raw["probes"])
        tag = "main" if a.workload == "stream_kafka" else "probe"
        sm, extra = streaming_metrics(run_dir, tag, raw[f"open_loop_{tag}"])
        metrics.update(sm)
        if tag == "probe":
            _, (n, _, _, bad) = stream_check(ledger, run_dir, "probe")
            attempted += n
            problems += bad
        trace_report(a, run_dir, tsv(run_dir, "spans", str), jobs)
        for k, v in list(extra.items()) + list(metrics.items()):
            log(f"{k} {fmt(v)}")

    for p in problems[:20]:
        log(f"FAILURE {p}")
    if len(problems) > 20:
        log(f"FAILURE ... and {len(problems) - 20} more")
    log(f"fail_ratio {len(problems) / attempted:.6g} ratio "
        f"({len(problems)} of {attempted} operations)")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": u} for k, v, u in selected(a.trace, e2e, metrics)},
    }


def selected(trace, e2e, metrics):
    spec = load_spec()
    names = spec["per_layer"] if trace else spec["end_to_end"]
    src = metrics if trace else e2e
    for m in names:
        if m["name"] not in src:
            raise SystemExit(f"metric {m['name']} was not measured")
        v = src[m["name"]]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise SystemExit(f"metric {m['name']} is not a finite number: {v!r}")
        yield m["name"], v, m["unit"]


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def trace_report(a, run_dir, spans, jobs):
    """Self time per layer from the spans; the spans themselves, with each
    Spark job under the innermost span around it, go to trace.json."""
    run = f"{a.workload}-{a.seed}-{a.trace}"
    rows = [{"id": int(s[0]), "parent": int(s[1]), "name": s[2], "layer": s[3],
             "start": int(s[4]), "end": int(s[5]), "run": run} for s in spans]
    for j in jobs:
        inner = [r for r in rows if r["start"] <= j[1] and j[2] <= r["end"]]
        parent = min(inner, key=lambda r: r["end"] - r["start"])["id"] if inner else 0
        rows.append({"id": -j[0] - 1, "parent": parent, "name": f"job{j[0]}",
                     "layer": "spark", "start": j[1], "end": j[2], "run": run})
    children = {}
    for r in rows:
        children.setdefault(r["parent"], []).append((r["start"], r["end"]))
    selfs = {}
    for r in rows:
        if r["layer"] != "bench":
            st = stats.self_time(r["start"], r["end"], children.get(r["id"], []))
            selfs[r["layer"]] = selfs.get(r["layer"], 0) + st
    for layer, v in sorted(selfs.items()):
        log(f"self {layer}.self_s {v / 1e9:.6g} s")
    with open(os.path.join(run_dir, "trace.json"), "w") as f:
        json.dump(rows, f)


if __name__ == "__main__":
    main()
