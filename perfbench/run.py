#!/usr/bin/env python3
"""Benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <ticks_drain|ticks_live|batch_mix>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.sbt) when their sources
changed, generates the workload's inputs from the seed, runs the harness
JVM, checks every output, and prints the metrics. The last line of
standard output is one JSON object: correct, attempted, failed, metrics
(the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
metrics with --trace 1). A run's full record goes to
perfbench/work/artifacts/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile the engine and harness with sbt unless the last build saw
    exactly the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", f"-Dsbt.global.base={BUILD}/sbt-global",
                              "-Dsbt.server.forcestart=false", "compile"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}), see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(job, work):
    job_path = os.path.join(work, "job.json")
    raw_path = os.path.join(work, "raw.json")
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g"] + job["params"].get("jvm_options", [])
           + [f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
              "graftbench.Main", job_path, raw_path])
    log = os.path.join(work, "jvm.log")
    spawn_us = time.time() * 1e6
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness did not finish in 150 s, see {log}", 3)
    if rc != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited {rc}, see {log}", 3)
    with open(raw_path) as fh:
        return json.load(fh), spawn_us


# ---------------------------------------------------------------- metrics

def drain_rounds(raw, traced=None):
    drains = [o for o in raw["ops"] if o["kind"] == "drain" and o["phase"] == "measure"
              and (traced is None or o["traced"] == traced)]
    return [drains[i:i + 2] for i in range(0, len(drains) - 1, 2)], drains


def live_window(raw):
    w = raw["workload"]
    return w["measure_start_ms"], w["measure_end_ms"]


def live_triggers(raw):
    lo, hi = live_window(raw)
    return [p for p in raw["workload"]["progress"] if lo <= M._iso_ms(p["timestamp"]) < hi]


def tail(values):
    p = M.tail_percentile(len(values))
    return (M.percentile(values, p), p) if p and p >= 99 else (max(values), "max")


def end_to_end(wl, raw, setup_s, named):
    """The bounded metrics (BENCHMARK.json end_to_end) plus, in `named`,
    the workload's metrics by the names the design uses."""
    if wl == "ticks_drain":
        rounds, drains = drain_rounds(raw)
        walls = [sum(d["wall_s"] for d in r) for r in rounds]
        for job in ("candlestick", "sliding_min"):
            named[f"{job}_ticks_per_s"] = (M.median([d["ticks"] / d["wall_s"] for d in drains
                                                     if d["job"] == job]), "ticks/s")
        t_ms, t_p = tail([w * 1000 for w in walls])
        named["rounds"] = (len(walls), "count")
        e2e = {"throughput_per_s": (sum(d["ticks"] for d in drains) / sum(d["wall_s"] for d in drains), "1/s"),
               "latency_p50_ms": (M.median(walls) * 1000, "ms"),
               "latency_tail_ms": (t_ms, "ms")}
        named["latency_tail_rule"] = (t_p, "")
    elif wl == "ticks_live":
        w = raw["workload"]
        lo, hi = live_window(raw)
        lat = M.close_latencies_ms(w["emissions"], w["watermark_ms"], lo, hi)
        if not lat:
            raise RuntimeError("no window closed inside the measured window")
        trig = live_triggers(raw)
        p = M.tail_percentile(len(lat))
        named["close_latency_p50_ms"] = (M.percentile(lat, 50), "ms")
        named["close_latency_p99_ms"] = (M.percentile(lat, 99), "ms")
        named["close_samples"] = (len(lat), "count")
        named["trigger_execution_p50_ms"] = (M.percentile(
            [t["durationMs"]["triggerExecution"] for t in trig], 50), "ms")
        named["close_tail_percentile"] = (p, "")
        # The generator fixes the tick rate, and triggers run back to back,
        # so the engine's speed shows as how many micro-batches it completes
        # per second, not as ticks per second.
        e2e = {"throughput_per_s": (len(trig) * 1000.0 /
                                    sum(t["durationMs"]["triggerExecution"] for t in trig), "1/s"),
               "latency_p50_ms": (M.percentile(lat, 50), "ms"),
               "latency_tail_ms": (M.percentile(lat, p) if p else max(lat), "ms")}
    else:
        passes = [o for o in raw["ops"] if o["kind"] == "pass"]
        cold = [o["wall_s"] for o in passes if o["phase"] == "cold"]
        steady = [o["wall_s"] for o in passes if o["phase"] == "steady"]
        queries = [o for o in raw["ops"] if o["kind"] == "query"]
        n_q = len({q["query"] for q in queries})
        builds = {}
        for q in queries:
            if q["phase"] == "steady":
                builds[q["pass"]] = builds.get(q["pass"], 0.0) + q["build_s"]
        named["batch_cold_s"] = (cold[0], "s")
        named["batch_warm_s"] = (M.median(steady), "s")
        named["cdc_write_s"] = (M.median(list(builds.values())), "s")
        named["steady_passes"] = (len(steady), "count")
        e2e = {"throughput_per_s": (n_q / M.median(steady), "1/s"),
               "latency_p50_ms": (M.median(steady) * 1000, "ms"),
               "latency_tail_ms": (max(cold + steady) * 1000, "ms")}
    e2e["setup_s"] = (setup_s, "s")
    return e2e


def per_layer(wl, raw, spans, setup):
    """Every per-layer metric (0 where the workload bypasses the layer)."""
    out = {k: 0.0 for k in LAYER_METRICS}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def under(root_ids, name):
        """Spans named `name` anywhere below the given spans."""
        found, todo = [], list(root_ids)
        while todo:
            for c in kids.get(todo.pop(), []):
                todo.append(c["id"])
                if c["name"] == name:
                    found.append(c)
        return found

    if wl in ("ticks_drain", "ticks_live"):
        if wl == "ticks_drain":
            rounds, drains = drain_rounds(raw, traced=True)
            n_ops = max(1, len(rounds))
            progress = [p for d in drains for p in d["progress"]]
            roots = [d["span"] for d in drains]
            out["StreamingQueries.rows_out"] = sum(d["rows_out"] for d in drains) / n_ops
            out["codegen.compiles"] = sum(d["codegen_compiles"] for d in drains) / n_ops
            out["codegen.compile_ms"] = sum(d["codegen_compile_ms"] for d in drains) / n_ops
        else:
            progress = live_triggers(raw)
            n_ops = max(1, len(progress))
            w = raw["workload"]
            roots = [s["id"] for s in spans if s["name"] == "live.measure"]
            lo, hi = live_window(raw)
            sends = [s for s in w["sends"] if lo * 1000 <= s[0] < hi * 1000]
            out["TickSink.sends"] = len(sends)
            out["TickSink.send_ms"] = sum(e - s for s, e, _ in sends) / 1000.0
            # the foreachBatch sink reports no row count; count the sent records
            out["StreamingQueries.rows_out"] = sum(n for _s, _e, n in sends)
            out["codegen.compiles"] = w["codegen_compiles"]
            out["codegen.compile_ms"] = w["codegen_compile_ms"]
            lag, backlog = input_lag(w, raw["workload"]["progress"], lo, hi)
            out["TickSource.input_lag_ms"] = M.percentile(lag, 99) if lag else 0.0
            out["TickSource.backlog_files"] = backlog
            g = w["generator"]
            gl = [a - b for a, b in zip(g["file_written_ms"], g["file_due_ms"])]
            out["generator.lag_p99_ms"] = M.percentile(gl, 99) if gl else 0.0
            out["generator.ticks"] = g["ticks"]
            out["generator.late_ticks"] = g["late_ticks"]
        n_trig = max(1, len(progress))
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / n_trig
        out["TickSource.latest_offset_ms"] = dur("latestOffset")
        out["TickSource.get_batch_ms"] = dur("getBatch")
        out["StreamingQueries.add_batch_ms"] = dur("addBatch")
        out["trigger.planning_ms"] = dur("queryPlanning")
        out["trigger.wal_commit_ms"] = dur("walCommit")
        out["trigger.commit_offsets_ms"] = dur("commitOffsets")
        out["trigger.count"] = len(progress) / (n_ops if wl == "ticks_drain" else 1)
        ex = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        if ex:
            out["trigger.execution_p50_ms"] = M.percentile(ex, 50)
            out["trigger.execution_p99_ms"] = tail(ex)[0]
        sops = [o for p in progress for o in p.get("stateOperators", [])]
        if sops:
            so = lambda k: sum(o.get(k, 0) for o in sops) / n_trig
            out["StateStore.commit_ms"] = so("commitTimeMs")
            out["StateStore.update_ms"] = so("allUpdatesTimeMs")
            out["StateStore.removal_ms"] = so("allRemovalsTimeMs")
            out["StateStore.rows"] = max(o.get("numRowsTotal", 0) for o in sops)
            out["StateStore.bytes"] = max(o.get("memoryUsedBytes", 0) for o in sops)
        all_sops = [o for plist in M._progress_lists(raw) for p in plist
                    for o in p.get("stateOperators", [])]
        if wl == "ticks_live":
            out["StateStore.rows_dropped_by_watermark"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for o in all_sops)
        else:
            out["StateStore.rows_dropped_by_watermark"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for p in progress
                for o in p.get("stateOperators", [])) / n_ops
        stages = [s for s in under(roots, "exec.stage")
                  if wl == "ticks_drain" or lo * 1000 <= s["start_us"] < hi * 1000]
        jobs = [s for s in under(roots, "exec.job")
                if wl == "ticks_drain" or lo * 1000 <= s["start_us"] < hi * 1000]
        exec_stats(out, stages, jobs, n_ops)
        out["exec.execute_s"] = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0 / n_ops
        out["TickSource.scan_stage_cpu_ms"] = sum(s["attrs"].get("cpu_ms", 0) for s in stages
                                                  if s["attrs"].get("input_bytes", 0) > 0) / n_ops
        out["StreamingQueries.agg_stage_cpu_ms"] = sum(
            s["attrs"].get("cpu_ms", 0) for s in stages
            if s["attrs"].get("shuffle_read_bytes", 0) > 0) / n_ops
        out["StreamingQueries.shuffle_bytes"] = out["exec.shuffle_write_bytes"]
    else:
        queries = [o for o in raw["ops"] if o["kind"] == "query" and o["traced"]]
        steady_passes = sorted({q["pass"] for q in queries if q["phase"] == "steady"})
        n_ops = max(1, len(steady_passes))
        steady = [q for q in queries if q["phase"] == "steady"]
        cold = [q for q in queries if q["phase"] == "cold"]
        out["Registry.construct_s"] = sum(q["construct_s"] for q in steady) / n_ops
        construct = under([q["span"] for q in steady], "Registry.construct")
        out["Registry.construct_jobs"] = len(under([s["id"] for s in construct], "exec.job")) / n_ops
        out["plans.stats_s"] = setup.get("stats", 0.0)
        for k in ("analysis", "optimization", "planning"):
            out[f"plans.{k}_ms"] = sum(q["plan_phases_ms"].get(k, 0) for q in cold)
        out["codegen.compiles"] = sum(q["codegen_compiles"] for q in cold)
        out["codegen.compile_ms"] = sum(q["codegen_compile_ms"] for q in cold)
        roots = [q["span"] for q in steady]
        exec_stats(out, under(roots, "exec.stage"), under(roots, "exec.job"), n_ops)
        out["exec.execute_s"] = sum(q["action_s"] for q in steady) / n_ops
        life = [q for q in steady if q["lifecycle"]]
        out["Cdc.build_s"] = sum(q["build_s"] for q in life) / n_ops
        out["Cdc.files_written"] = sum(q["store_files_written"] for q in life) / n_ops
        out["Cdc.bytes_written"] = sum(q["store_bytes_written"] for q in life) / n_ops
        out["Cdc.read_s"] = sum(q["construct_s"] + q["action_s"] for q in life) / n_ops
    return out


def exec_stats(out, stages, jobs, n_ops):
    a = lambda k: sum(s["attrs"].get(k, 0) for s in stages) / n_ops
    out["exec.jobs"] = len(jobs) / n_ops
    out["exec.tasks"] = a("tasks")
    out["exec.single_task_stages"] = sum(1 for s in stages if s["attrs"].get("tasks") == 1) / n_ops
    out["exec.task_cpu_ms"] = a("cpu_ms")
    out["exec.gc_ms"] = a("gc_ms")
    out["exec.shuffle_write_bytes"] = a("shuffle_write_bytes")
    out["exec.spill_bytes"] = a("spill_bytes")


def input_lag(w, progress, lo, hi):
    """Per file: start of the trigger that read it minus the time it was
    written (floored at 0), for files written inside [lo, hi); and the
    most files waiting (written, not yet read) at any trigger start. Files
    are read in write order, so cumulative input rows map triggers to
    files."""
    g = w["generator"]
    ends, acc = [], 0
    for n in g["file_ticks"]:
        acc += n
        ends.append(acc)
    lag, backlog, done, f = [], 0, 0, 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        start = M._iso_ms(p["timestamp"])
        waiting = sum(1 for i in range(f, len(ends)) if g["file_written_ms"][i] <= start)
        if lo <= start < hi:
            backlog = max(backlog, waiting)
        done += p["numInputRows"]
        while f < len(ends) and ends[f] <= done:
            if lo <= g["file_written_ms"][f] < hi:
                lag.append(max(0.0, start - g["file_written_ms"][f]))
            f += 1
    return lag, backlog


LAYER_METRICS = [
    "TickSource.latest_offset_ms", "TickSource.get_batch_ms", "TickSource.input_lag_ms",
    "TickSource.backlog_files", "TickSource.scan_stage_cpu_ms",
    "StreamingQueries.add_batch_ms", "StreamingQueries.agg_stage_cpu_ms",
    "StreamingQueries.shuffle_bytes", "StreamingQueries.rows_out",
    "StateStore.commit_ms", "StateStore.update_ms", "StateStore.removal_ms",
    "StateStore.rows", "StateStore.bytes", "StateStore.rows_dropped_by_watermark",
    "trigger.count", "trigger.execution_p50_ms", "trigger.execution_p99_ms",
    "trigger.planning_ms", "trigger.wal_commit_ms", "trigger.commit_offsets_ms",
    "TickSink.sends", "TickSink.send_ms",
    "Registry.construct_s", "Registry.construct_jobs",
    "plans.stats_s", "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "codegen.compiles", "codegen.compile_ms",
    "exec.execute_s", "exec.jobs", "exec.tasks", "exec.single_task_stages",
    "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "Cdc.build_s", "Cdc.files_written", "Cdc.bytes_written", "Cdc.read_s",
    "generator.lag_p99_ms", "generator.ticks", "generator.late_ticks",
    "trace.overhead_pct"]


def trace_overhead(wl, raw):
    """Traced over untraced wall of the same operations in one run, in
    percent (ticks_live: median close latency of the traced segment over
    that of the untraced segments around it)."""
    if wl == "ticks_drain":
        walls = {t: [sum(d["wall_s"] for d in r) for r in drain_rounds(raw, traced=t)[0]]
                 for t in (True, False)}
    elif wl == "batch_mix":
        passes = [o for o in raw["ops"] if o["kind"] == "pass" and o["phase"] == "steady"]
        walls = {t: [o["wall_s"] for o in passes if o["traced"] == t] for t in (True, False)}
    else:
        w = raw["workload"]
        walls = {t: [x for seg in w["segments"] if seg["traced"] == t
                     for x in M.close_latencies_ms(w["emissions"], w["watermark_ms"],
                                                   seg["start_ms"], seg["end_ms"])]
                 for t in (True, False)}
    if not walls[True] or not walls[False]:
        raise RuntimeError("tracing overhead not measured: no traced or no untraced samples")
    return (M.median(walls[True]) / M.median(walls[False]) - 1.0) * 100.0


def oracle_check(data_dir, results_dir, oracle_sql):
    """(query, ok, detail) per query with oracle SQL, from the repository's
    DuckDB oracle gate (tools/check.py) run over the harness's results."""
    import contextlib
    import io
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check as gate
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle_sql, fh)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        gate.main(data_dir, results_dir)
    lines = out.getvalue().splitlines()
    res = []
    for name in sorted(oracle_sql):
        hit = [i for i, l in enumerate(lines) if l.startswith((f"PASS {name} (", f"FAIL {name}:"))]
        if len(hit) != 1:
            res.append((name, False, "no verdict from the oracle gate"))
            continue
        i = hit[0]
        ok = lines[i].startswith("PASS")
        # a FAIL line may be followed by indented spark/duck rows
        diff = [l.strip() for l in lines[i + 1:i + 3] if l.startswith("  ")]
        res.append((name, ok, "" if ok else " ".join([lines[i]] + diff)))
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        design = json.load(fh)
    if args.workload not in design["workloads"]:
        fail(f"unknown workload {args.workload}")
    build()

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    params = design["workloads"][args.workload]["params"]
    gen_s = 0.0
    if args.workload == "batch_mix":
        import datagen
        t0 = time.perf_counter()
        datagen.write(os.path.join(work, "data"), args.seed, params["scale_factor"])
        gen_s = time.perf_counter() - t0
    job = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": bool(args.trace), "cores": cores(), "work_dir": work,
           "repo_root": ROOT, "params": params}
    raw, spawn_us = run_jvm(job, work)

    setup = dict(raw["setup_s"])
    setup["jvm_launch"] = (raw["main_start_us"] - spawn_us) / 1e6
    if gen_s:
        setup["generate"] = setup.get("generate", 0.0) + gen_s
    setup_s = sum(setup.values())
    attempted, failed = dict(raw["attempted"]), dict(raw["failed"])
    errors = list(raw["errors"])

    def check(label, ok, detail=""):
        attempted["check"] = attempted.get("check", 0) + 1
        if not ok:
            failed["check"] = failed.get("check", 0) + 1
            errors.append(f"check {label}: {detail}")

    if args.workload == "batch_mix":
        for name, ok, detail in oracle_check(raw["workload"]["data_dir"],
                                             os.path.join(work, "results"),
                                             raw["workload"]["oracle_sql"]):
            check(f"{name} equals DuckDB oracle", ok, detail)
    if args.workload == "ticks_live":
        w = raw["workload"]
        lo, hi = live_window(raw)
        n = len(M.close_latencies_ms(w["emissions"], w["watermark_ms"], lo, hi))
        check("close samples support p99", M.tail_percentile(n) is not None
              and M.tail_percentile(n) >= 99, f"{n} samples")

    named = {}
    e2e = end_to_end(args.workload, raw, setup_s, named)
    fr = M.fail_ratio(attempted, failed)
    named["fail_ratio"] = (fr, f"{sum(failed.values())}/{sum(attempted.values())}")

    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)

    result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    accounting = []
    if args.trace:
        spans = M.build_spans(raw)
        layer = per_layer(args.workload, raw, spans, raw["setup_s"])
        layer["trace.overhead_pct"] = trace_overhead(args.workload, raw)
        units = {m["name"]: m["unit"] for m in json.load(
            open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]} \
            if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else {}
        result_metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in layer.items()}
        self_t = M.self_times(spans)
        for s in spans:
            s["self_us"] = self_t[s["id"]]
        accounting = M.trace_accounting(spans, ("drain.", "query."))
        for a in accounting:
            check(f"self times account for {a['span']}", a["ok"],
                  f"{a['self_sum_ms']:.1f} ms of {a['wall_ms']:.1f} ms")
        with open(os.path.join(art_dir, f"{args.workload}-seed{args.seed}-spans.json"), "w") as fh:
            json.dump(spans, fh)

    correct = sum(failed.values()) == 0
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
        "run_seconds": args.seconds, "params": params, "settings": raw["settings"],
        "setup_s": setup, "attempted": attempted, "failed": failed, "errors": errors,
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "metrics": result_metrics, "trace_accounting": accounting,
        "workload_record": {k: v for k, v in raw["workload"].items()
                            if k not in ("emissions", "sends", "progress", "oracle_sql")},
        "ops": [{k: v for k, v in o.items() if k != "progress"} for o in raw["ops"]]}
    with open(os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"FAILED {e}")
    for k, (v, u) in list(named.items()) + list(e2e.items()):
        print(f"{k} = {v} {u}")
    print(json.dumps({"correct": correct, "attempted": sum(attempted.values()),
                      "failed": sum(failed.values()), "metrics": result_metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
