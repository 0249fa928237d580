"""Turns one run record (written by the JVM side, perfbench/src) into
metrics. Everything here is a pure function of the record, so the rules
are unit-tested in test_analyze.py without Spark.
"""
import datetime
import json
import math
import re
import statistics

# ---- percentiles ----------------------------------------------------------


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def gmean_of_medians(samples):
    """Geometric mean over kinds of each kind's median: `samples` maps a
    kind (a gate, a table operation) to its values. Every kind weighs the
    same whatever its share of the samples, so a kind that slows by a
    factor f moves the result by f ** (1 / number of kinds)."""
    meds = [statistics.median(v) for v in samples.values() if v]
    if not meds:
        return float("nan")
    return math.exp(statistics.fmean(math.log(m) for m in meds))


def supported(n, q, beyond=10):
    """True when a q-quantile of n samples has at least `beyond` samples
    above it, the rule for reporting a percentile at all."""
    return math.floor(n * (1.0 - q) + 1e-9) >= beyond


# ---- spans ----------------------------------------------------------------


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: self time} — a span's duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# ---- job -> layer ---------------------------------------------------------

ACID_FILES = {"GraftTable.scala", "TableStream.scala", "GraftLogFileIndex.scala",
              "GraftCatalog.scala", "GraftDvScanRewrite.scala",
              "GraftSqlRowOps.scala", "GraftTxnSql.scala", "GraftSqlParser.scala"}
BENCH_FILES = {"GateWorkload.scala", "TableWorkload.scala", "FeedWorkload.scala",
               "Main.scala"}
CALL_SITE = re.compile(r"^(\S+) at ([^:\s]+):\d+")


def layer_of_call_site(name):
    """Layer of one stage name such as 'parquet at Tables.scala:32', or
    None when the site is not in the program (a JDK or Spark frame, as
    AQE's '... at CompletableFuture.java')."""
    m = CALL_SITE.match(name or "")
    if not m:
        return None
    method, file = m.groups()
    if not file.endswith(".scala"):
        return None
    if method == "localCheckpoint":
        return "materialize"
    if file == "Tables.scala":
        return "tables"
    if file in ACID_FILES:
        return "acid"
    if file == "QueryPack.scala":
        return "stream"
    if file == "Flights.scala":
        return "feed"
    if file in BENCH_FILES:
        return "exec"
    return "construct"


def attribute_jobs(jobs, executions=None):
    """{job id: layer}. Streaming micro-batch jobs belong to `stream`.
    Otherwise the first program call site among the job's stage names
    decides. A job without one (AQE sub-jobs report '... at
    CompletableFuture.java') takes the call site of its SQL execution
    (`executions`: execution id -> description), else the layer of another
    job of the same execution; what is left is 'unattributed'."""
    executions = executions or {}
    out, by_exec = {}, {}
    for j in jobs:
        props = j.get("props", {})
        if "sql.streaming.queryId" in props:
            layer = "stream"
        else:
            layer = next((x for x in map(layer_of_call_site, j["names"]) if x), None)
        out[j["id"]] = layer
        ex = props.get("spark.sql.execution.id")
        if layer and ex is not None:
            by_exec.setdefault(ex, layer)
    for j in jobs:
        if out[j["id"]] is None:
            ex = j.get("props", {}).get("spark.sql.execution.id")
            out[j["id"]] = (layer_of_call_site(executions.get(ex))
                            or by_exec.get(ex, "unattributed"))
    return out


# ---- streaming feed -------------------------------------------------------


def _epoch_ms(ts):
    dt = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def _offset(v):
    if v is None:
        return -1
    return int(json.loads(v) if isinstance(v, str) else v)


def batches(progress):
    """Parsed progress documents per query id, in start order, each as a
    dict with end_offset, start and commit (epoch ms), rows, durations
    and state operators."""
    out = {}
    for doc in progress:
        p = json.loads(doc) if isinstance(doc, str) else doc
        src = p["sources"][0] if p.get("sources") else {}
        d = p.get("durationMs", {})
        out.setdefault(p["id"], []).append({
            "batch": p["batchId"],
            "end_offset": _offset(src.get("endOffset")),
            "start": _epoch_ms(p["timestamp"]),
            "commit": _epoch_ms(p["timestamp"]) + d.get("triggerExecution", 0),
            "rows": p.get("numInputRows", 0),
            "durations": d,
            "state": p.get("stateOperators", []),
        })
    for bs in out.values():
        bs.sort(key=lambda b: (b["start"], b["batch"]))
    return out


def event_latencies(chunks, per_query):
    """Latency (ms) of every event sent in `chunks`: from its due time to
    the commit of the first batch, in EVERY query, whose end offset
    reaches the chunk's offset (the event is visible in all views only
    then). A chunk is [offset, count, due_first, due_last, sent_at].
    Events no batch committed are returned as None."""
    commits = []
    for bs in per_query.values():
        data = [b for b in bs if b["rows"] > 0]
        commits.append([(b["end_offset"], b["commit"]) for b in data])
    out = []
    for offset, count, due_first, due_last, _sent in chunks:
        done = []
        for cs in commits:
            done.append(next((c for end, c in cs if end >= offset), None))
        commit = None if (not done or None in done) else max(done)
        step = (due_last - due_first) / (count - 1) if count > 1 else 0.0
        for i in range(int(count)):
            out.append(None if commit is None else commit - (due_first + i * step))
    return out


def backlog_series(chunks, per_query):
    """(time ms, backlog) at each batch commit: events sent by then minus
    the rows the slowest query has processed by then."""
    sends = sorted((c[4], c[1]) for c in chunks)
    times = sorted({b["commit"] for bs in per_query.values() for b in bs})
    out = []
    for t in times:
        sent = sum(n for at, n in sends if at <= t)
        done = min(sum(b["rows"] for b in bs if b["commit"] <= t)
                   for bs in per_query.values())
        out.append((t, sent - done))
    return out


def backlog_growing(series, rate_eps, tolerance=0.05):
    """The backlog rule: a rate is sustained when the least-squares slope
    of backlog over time stays within `tolerance` of the offered rate
    (events/s). Fewer than three points cannot show growth."""
    if len(series) < 3:
        return False
    ts = [t / 1000.0 for t, _ in series]
    bs = [b for _, b in series]
    mt, mb = statistics.fmean(ts), statistics.fmean(bs)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return False
    slope = sum((t - mt) * (b - mb) for t, b in zip(ts, bs)) / var
    return slope > tolerance * rate_eps


# ---- metrics --------------------------------------------------------------

OP_KINDS = {"gate", "op:write", "op:read"}


def _window(rec):
    return rec["window_start"], rec["window_end"]


def _ops(rec):
    return [s for s in rec["spans"] if s["kind"] in OP_KINDS]


def burst_capacity(burst_events, burst_at, per_query):
    """Events per second of batch work on the burst: its events over the
    summed triggerExecution of the data batches that started at or after
    `burst_at`, in the slower query."""
    work = [sum(b["durations"].get("triggerExecution", 0)
                for b in bs if b["start"] >= burst_at and b["rows"] > 0)
            for bs in per_query.values()]
    slowest = max(work, default=0)
    return burst_events / (slowest / 1000.0) if slowest > 0 else float("nan")


def end_to_end(rec, workload):
    """The user-visible metrics of a run: {name: (value, unit)}."""
    w0, w1 = _window(rec)
    setup_s = (w0 - rec["jvm_start"]) / 1000.0
    if workload == "flight_feed":
        feed = rec["feed"]
        per_query = batches(rec["progress"])
        lat = event_latencies(feed["chunks"], per_query)
        latency = gmean_of_medians({"event": [x for x in lat if x is not None]})
        throughput = burst_capacity(feed["burst_events"], feed["burst_at"], per_query)
    else:
        done = [s for s in _ops(rec) if s["ok"]]
        by_kind = {}
        for s in done:
            by_kind.setdefault(s["name"], []).append(s["end"] - s["start"])
        latency = gmean_of_medians(by_kind)
        throughput = len(done) / max(1e-9, (w1 - w0) / 1000.0)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_gmean_ms": (latency, "ms"),
        "throughput_per_s": (throughput, "1/s"),
        "mem_peak_mb": (rec["rss_peak_mb"], "MB"),
    }
    return metrics


def per_layer(rec, workload):
    """Per-layer metrics of a traced run: {name: (value, unit)}."""
    w0, w1 = _window(rec)
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    ops = _ops(rec)
    n_ops = max(1, len(ops))
    wall_s = max(1e-9, (w1 - w0) / 1000.0)
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def setup(name):
        return sum(s["end"] - s["start"] for s in spans
                   if s["kind"] == "setup" and s["name"] == name) / 1000.0

    put("setup.session_s", setup("session"), "s")
    put("setup.fixtures_s", setup("fixtures"), "s")
    put("setup.warm_s", setup("warm"), "s")

    # spans under timed operations
    def under_op(s):
        while s is not None:
            if s["kind"] in OP_KINDS:
                return True
            s = by_id.get(s["parent"])
        return False

    constructs = [s for s in spans if s["kind"] == "construct" and under_op(s)]
    construct_ids = {s["id"] for s in constructs}
    put("construct.s", sum(s["end"] - s["start"] for s in constructs) / 1000.0 / n_ops, "s")

    jobs = [j for j in rec["jobs"] if w0 <= j["start"] <= w1]
    layers = attribute_jobs(jobs, rec.get("executions"))

    def span_of(j):
        v = j.get("props", {}).get("perfbench.span")
        return int(v) if v is not None else None

    put("construct.jobs", sum(1 for j in jobs if span_of(j) in construct_ids) / n_ops, "count")

    def layer_jobs(name):
        return [j for j in jobs if layers[j["id"]] == name]

    def jobs_s(js):
        return sum(j["end"] - j["start"] for j in js if j["end"] is not None) / 1000.0

    tj = layer_jobs("tables")
    put("tables.jobs", len(tj) / n_ops, "count")
    put("tables.s", jobs_s(tj) / n_ops, "s")

    phases = [p for p in rec["phases"] if w0 <= p["at"] <= w1]
    for phase, name in (("analysis", "plan.analysis_ms"),
                        ("optimization", "plan.optimizer_ms"),
                        ("planning", "plan.planning_ms")):
        put(name, sum(p["ms"] for p in phases if p["phase"] == phase) / n_ops, "ms")

    cores = rec["cores"]
    ends = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    task_s = sum(j["run_ms"] for j in jobs) / 1000.0
    put("exec.s", covered(ends, w0, w1) / 1000.0 / n_ops, "s")
    put("exec.jobs", len(jobs) / n_ops, "count")
    put("exec.stages", sum(j["stages"] for j in jobs) / n_ops, "count")
    put("exec.tasks", sum(j["tasks"] for j in jobs) / n_ops, "count")
    put("exec.task_s", task_s / n_ops, "s")
    put("exec.util", task_s / (wall_s * cores), "ratio")
    put("exec.gc_s", sum(j["gc_ms"] for j in jobs) / 1000.0 / n_ops, "s")
    mb = 1048576.0
    put("shuffle.read_mb", sum(j["shuffle_read_bytes"] for j in jobs) / mb / n_ops, "MB")
    put("shuffle.write_mb", sum(j["shuffle_write_bytes"] for j in jobs) / mb / n_ops, "MB")
    put("shuffle.fetch_wait_s", sum(j["fetch_wait_ms"] for j in jobs) / 1000.0 / n_ops, "s")
    put("shuffle.spill_mb", sum(j["spill_bytes"] for j in jobs) / mb / n_ops, "MB")
    put("jobs.unattributed_share",
        len(layer_jobs("unattributed")) / max(1, len(jobs)), "ratio")

    # streaming: batches started inside the window, before the feed's
    # capacity burst
    per_query = batches(rec["progress"])
    s1 = min(w1, rec["feed"]["burst_at"]) if workload == "flight_feed" else w1
    bs = [b for q in per_query.values() for b in q if w0 <= b["start"] < s1]
    data = [b for b in bs if b["rows"] > 0]
    put("stream.batches", len(bs), "count")
    put("stream.data_batch_ratio", len(data) / len(bs) if bs else 0.0, "ratio")

    def mean_dur(key):
        return statistics.fmean(b["durations"].get(key, 0) for b in data) if data else 0.0

    put("stream.trigger_ms", mean_dur("triggerExecution"), "ms")
    put("stream.add_batch_ms", mean_dur("addBatch"), "ms")
    put("stream.planning_ms", mean_dur("queryPlanning"), "ms")
    put("stream.wal_commit_ms", mean_dur("walCommit"), "ms")
    put("stream.commit_offsets_ms", mean_dur("commitOffsets"), "ms")
    put("state.commit_ms", statistics.fmean(
        sum(o.get("commitTimeMs", 0) for o in b["state"]) for b in data) if data else 0.0, "ms")
    last = [q[-1] for q in per_query.values() if q]
    put("state.rows", sum(o.get("numRowsTotal", 0) for b in last for o in b["state"]), "count")
    put("state.mem_mb", sum(o.get("memoryUsedBytes", 0) for b in last for o in b["state"]) / mb, "MB")

    if workload == "flight_feed":
        feed = rec["feed"]
        in_window = {q: [b for b in bs if w0 <= b["start"] < s1]
                     for q, bs in per_query.items()}
        series = backlog_series(feed["chunks"], in_window)
        put("feed.batch_ms", statistics.median(b["durations"].get("triggerExecution", 0)
                                               for b in data) if data else 0.0, "ms")
        put("feed.backlog_max", max((b for _, b in series), default=0), "count")
        put("feed.backlog_growing", float(backlog_growing(series, feed["rate_eps"])), "flag")
        put("feed.generator_late_ms", max((c[4] - c[3] for c in feed["chunks"]), default=0.0), "ms")
        lat = [x for x in event_latencies(feed["chunks"], per_query) if x is not None]
        put("feed.latency_p90_ms",
            percentile(lat, 0.9) if supported(len(lat), 0.9) else float("nan"), "ms")
    else:
        for name, unit in (("feed.batch_ms", "ms"), ("feed.latency_p90_ms", "ms"),
                           ("feed.backlog_max", "count"),
                           ("feed.backlog_growing", "flag"), ("feed.generator_late_ms", "ms")):
            put(name, 0.0, unit)

    mj = layer_jobs("materialize")
    put("materialize.jobs", len(mj) / n_ops, "count")
    put("materialize.s", jobs_s(mj) / n_ops, "s")
    put("storage.peak_mb", rec["storage_peak_mb"], "MB")
    put("storage.rdds_live", rec["rdds_live_peak"], "count")

    for op in ("append", "merge", "delete", "update", "compact", "point", "scan", "feed"):
        ds = [s["end"] - s["start"] for s in ops if s["name"] == op and s["ok"]]
        put(f"acid.{op}_ms", statistics.median(ds) if ds else 0.0, "ms")
    acid = rec.get("acid")
    put("acid.jobs_per_op", len(layer_jobs("acid")) / n_ops if acid else 0.0, "count")
    put("acid.log_files", acid["log_files"] if acid else 0, "count")
    put("acid.write_amp", acid["bytes_written"] / max(1, acid["input_bytes"]) if acid else 0.0,
        "ratio")

    put("jvm.gc_s", rec["gc_ms"] / 1000.0, "s")
    put("jvm.heap_peak_mb", rec["heap_peak_mb"], "MB")
    host = rec["host"]
    put("host.load_start", host["load_start"], "load")
    put("host.foreign_cpu_share", host["foreign_cpu_share"], "ratio")

    # the traced run's own end-to-end figures: tracing overhead is their
    # difference from an untraced run's on the same seed
    e2e = end_to_end(rec, workload)
    put("trace.latency_gmean_ms", *e2e["latency_gmean_ms"])
    put("trace.throughput_per_s", *e2e["throughput_per_s"])
    return m


def trace_spans(rec):
    """Every span of the run, job spans included, with self times (ms):
    run -> pass -> gate -> construct/action -> job; run -> streaming
    batch; run -> table op. Jobs hang under the span active on the
    submitting thread; streaming batches and their jobs under the run."""
    spans = [dict(s) for s in rec["spans"]]
    run = next((s["id"] for s in spans if s["kind"] == "run"), -1)
    next_id = max((s["id"] for s in spans), default=-1) + 1
    layers = attribute_jobs(rec["jobs"], rec.get("executions"))
    batch_ids = {}
    for qid, bs in batches(rec["progress"]).items():
        for b in bs:
            spans.append({"id": next_id, "parent": run, "name": f"batch {b['batch']}",
                          "kind": "batch", "start": b["start"], "end": b["commit"],
                          "ok": True, "query": qid})
            batch_ids[(qid, str(b["batch"]))] = next_id
            next_id += 1
    for j in rec["jobs"]:
        props = j.get("props", {})
        key = (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId"))
        if key in batch_ids:
            parent = batch_ids[key]
        elif props.get("perfbench.span") is not None:
            parent = int(props["perfbench.span"])
        else:
            parent = run
        end = j["end"] if j["end"] is not None else j["start"]
        spans.append({"id": next_id, "parent": parent, "name": f"job {j['id']}",
                      "kind": "job", "layer": layers[j["id"]], "start": j["start"],
                      "end": end, "ok": True, "call_site": (j["names"] or [""])[0]})
        next_id += 1
    st = self_times(spans)
    for s in spans:
        s["self_ms"] = st[s["id"]]
    return spans


def self_time_by_kind(spans):
    out = {}
    for s in spans:
        key = s.get("layer", s["kind"]) if s["kind"] == "job" else s["kind"]
        out[key] = out.get(key, 0.0) + s["self_ms"]
    return out
