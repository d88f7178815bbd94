"""Benchmark arithmetic: percentiles, close latency, span self time,
failure accounting, and the end-to-end and per-layer metrics computed
from the harness's raw record of one run.
"""
import datetime
import math
import statistics

TAIL_LADDER = (99.99, 99.9, 99.0, 90.0, 50.0)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (rounded so
    that p·n/100 landing on a whole number is not pushed up by float
    error)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n, ladder=TAIL_LADDER, beyond=10):
    """Highest percentile of the ladder that leaves at least `beyond` of
    `n` samples above it, or None when even the median does not."""
    for p in ladder:
        if n - _rank(p, n) >= beyond:
            return p
    return None


def close_latencies_ms(emissions, delay_ms, start_ms, end_ms):
    """Latency of each window whose earliest possible emission instant
    (window end + watermark delay) falls in [start_ms, end_ms): emission
    wall time minus that instant. `emissions` holds
    (window_end_ms, emission_us) pairs."""
    out = []
    for window_end_ms, emit_us in emissions:
        due_ms = window_end_ms + delay_ms
        if start_ms <= due_ms < end_ms:
            out.append(emit_us / 1000.0 - due_ms)
    return out


def fail_ratio(attempted, failed):
    """Failed over attempted operations, summed over operation kinds."""
    a, f = sum(attempted.values()), sum(failed.values())
    if a <= 0:
        raise ValueError("no operations attempted")
    return f / a


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])]
        dur = s["end_us"] - s["start_us"]
        out[s["id"]] = dur - union_length(kids, s["start_us"], s["end_us"])
    return out


def subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        for c in kids.get(i, []):
            out.append(c)
            todo.append(c["id"])
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _iso_ms(s):
    return datetime.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


# Order of the micro-batch phases inside one trigger (MicroBatchExecution):
# list the source, log the offsets, build the batch, plan, run, commit.
TRIGGER_PHASES = (("latestOffset", "TickSource.latestOffset"),
                  ("walCommit", "trigger.walCommit"),
                  ("getBatch", "TickSource.getBatch"),
                  ("queryPlanning", "trigger.planning"),
                  ("addBatch", "StreamingQueries.addBatch"),
                  ("commitOffsets", "trigger.commitOffsets"))


def build_spans(raw):
    """The full span tree of a traced run: the harness's own spans plus
    spans derived from Spark's records: one per trigger (its phases laid
    out in execution order from progress durations), per Spark job, per
    stage, and per sink send."""
    spans = [dict(s) for s in raw.get("spans", [])]
    if not spans:
        return spans
    next_id = [max(s["id"] for s in spans) + 1]

    def add(parent, name, start_us, end_us, attrs=None):
        sid = next_id[0]
        next_id[0] += 1
        spans.append({"id": sid, "parent": parent, "name": name, "start_us": int(start_us),
                      "end_us": int(end_us), "attrs": attrs or {}, "derived": True})
        return sid

    by_query = {}  # streaming query id -> owning harness span
    for s in spans:
        qid = s.get("attrs", {}).get("query_id")
        if qid:
            by_query[qid] = s["id"]
    add_batch = {}  # (query id, batch id) -> addBatch span id
    triggers = []
    for plist in _progress_lists(raw):
        for p in plist:
            parent = by_query.get(p["id"])
            if parent is None:
                continue
            start = _iso_ms(p["timestamp"]) * 1000.0
            dur = p["durationMs"]
            tid = add(parent, "trigger", start, start + dur.get("triggerExecution", 0) * 1000,
                      {"batch": p["batchId"], "rows": p["numInputRows"]})
            t = start
            for key, name in TRIGGER_PHASES:
                if key in dur:
                    pid = add(tid, name, t, t + dur[key] * 1000)
                    t += dur[key] * 1000
                    if key == "addBatch":
                        add_batch[(p["id"], p["batchId"])] = pid
                        triggers.append((start, t, pid))
    job_span = {}
    for j in raw.get("jobs", []):
        parent = None
        if j.get("query") is not None and j.get("batch") is not None:
            parent = add_batch.get((j["query"], j["batch"]))
        if parent is None and j.get("span") is not None and j.get("query") is None:
            parent = j["span"]
        if parent is None or j["end_ms"] < 0:
            continue
        job_span[j["job_id"]] = add(parent, "exec.job", j["start_ms"] * 1000, j["end_ms"] * 1000)
    for st in raw.get("stages", []):
        parent = job_span.get(st["job_id"])
        if parent is not None and st["complete_ms"] > 0:
            add(parent, "exec.stage", st["submit_ms"] * 1000, st["complete_ms"] * 1000,
                dict(st["attrs"], stage_id=st["stage_id"]))
    live = raw.get("workload", {})
    if live.get("sends") and triggers:
        triggers.sort()
        for s_us, e_us, _n in live["sends"]:
            owner = next((pid for ts, te, pid in triggers if ts <= s_us <= te), None)
            if owner is not None:
                add(owner, "TickSink.send", s_us, e_us)
    return spans


def _progress_lists(raw):
    for op in raw.get("ops", []):
        if op.get("progress"):
            yield op["progress"]
    if raw.get("workload", {}).get("progress"):
        yield raw["workload"]["progress"]


def trace_accounting(spans, op_names, tolerance=0.01):
    """Per traced operation (a query or drain span): its wall time, the sum
    of self times over its subtree, the time counted twice because child
    spans ran concurrently (parallel_ms), and the share of the wall no
    layer span covers. Every instant of the wall must be accounted for:
    the self times add up to at least the wall, within `tolerance`."""
    st = self_times(spans)
    out = []
    for s in spans:
        if not any(s["name"].startswith(n) for n in op_names):
            continue
        wall = s["end_us"] - s["start_us"]
        total = st[s["id"]] + sum(st[c["id"]] for c in subtree(spans, s["id"]))
        out.append({"span": s["name"], "wall_ms": wall / 1000.0,
                    "self_sum_ms": total / 1000.0,
                    "parallel_ms": max(0, total - wall) / 1000.0,
                    "unattributed_share": st[s["id"]] / wall if wall else 0.0,
                    "ok": total >= (1.0 - tolerance) * wall})
    return out
