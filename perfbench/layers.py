"""Per-layer metrics of a traced run, attributed offline.

The harness records spans around its calls into the program and the raw
listener events (jobs, stages, tasks, SQL executions, write commands,
streaming progress). Every event is attributed to the traced operation whose
span contains it; the load is one closed-loop client, so there is exactly
one. Sink spans inside `Sparkify.run` come from outside the pipeline: a
write command's output path (QueryExecutionListener) names the sink, and its
SQL execution's start and end (SparkListener) bound it.

Decomposition of one pipeline run, reported per layer:
    run = scan_s + sum(sink_s.*) + remainder_s
where scan_s is the Spark driver's input listing before the first sink plus the
wall time of the stages that read the JSON files, and sink_s.X is the sink's
span less the scan stages inside it.
"""
import statistics

# The query mix, in the fixed order each round runs it.
CURATION_MIX = [
    "q21_text_stats", "q23_fingerprint", "q24_dedup_exact",
    "q25_minhash_lsh", "q26_simhash", "q28_cosine_topk",
    "q64_ngram_jaccard", "q71_dedup_clusters", "q100_full_pipeline",
    "q101_paragraph_dedup", "q116_bm25", "q204_span_dedup",
    "q263_nfc_dedup", "q50_stream_dedup"]
SINKS = ["songs", "artists", "users", "time", "songplays"]
# Span names the harness gives its direct kernel calls (curation_mix only).
KERNELS = [
    "functions.TextFns.fingerprint", "functions.TextFns.minShingleHash",
    "functions.TextFns.qualityScore", "expressions.UnicodeNormalize.nfc",
    "ops.NearDup.minHashSigs", "ops.NearDup.withSimHash"]


def per_layer_names():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = [("pipeline.scan_s", "s"), ("pipeline.scan_files", "count")]
    for m, unit in (("sink_s", "s"), ("sink_files", "count"),
                    ("sink_rows", "count"), ("sink_busy_cores", "cores")):
        out += [(f"pipeline.{m}.{s}", unit) for s in SINKS]
    out += [("pipeline.commit_s", "s"), ("pipeline.remainder_s", "s"),
            ("pipeline.join_match_ratio", "ratio"),
            ("pipeline.output_files", "count"),
            ("pipeline.output_bytes_per_input_byte", "ratio")]
    out += [(f"query.{q}_ms", "ms") for q in CURATION_MIX]
    out += [("query.plan_ms_p50", "ms"), ("query.plan_share", "ratio")]
    out += [(f"{k}_ms", "ms") for k in KERNELS]
    out += [("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
            ("streaming.plan_ms", "ms"), ("streaming.commit_ms", "ms"),
            ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
            ("ops.Snap.drain_ms", "ms")]
    out += [(f"engine.{k}", u) for k, u in (
        ("tasks", "count"), ("busy_cores", "cores"), ("task_cpu_s", "s"),
        ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
        ("spill_mb", "MB"), ("input_mb", "MB"), ("output_mb", "MB"),
        ("driver_gap_s", "s"), ("task_skew", "ratio"))]
    out += [("trace.overhead_run_s", "s"), ("trace.overhead_pct", "%")]
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _self_times(spans):
    """A span's self time: its duration less what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        inner = [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in kids.get(s["id"], []) if b > s["start"] and a < s["end"]]
        s["self_ms"] = (s["end"] - s["start"]) - _union_ms(inner)
    return spans


class Index:
    """The listener events of one run, grouped and cross-referenced."""

    def __init__(self, events):
        self.jobs, self.stage_job, self.stages, self.tasks = {}, {}, {}, []
        self.sql, self.stream, qe_order = {}, [], []
        for e in events:
            ev = e["ev"]
            if ev == "job_start":
                self.jobs[e["job"]] = {"start": e["time"], "end": e["time"],
                                       "exec": e["exec"]}
                for s in e["stages"]:
                    self.stage_job[s] = e["job"]
            elif ev == "job_end" and e["job"] in self.jobs:
                self.jobs[e["job"]]["end"] = e["time"]
            elif ev == "stage" and e["submit"] > 0:
                self.stages[e["stage"]] = e
            elif ev == "task":
                self.tasks.append(e)
            elif ev == "sql_start":
                self.sql[e["exec"]] = {"start": e["time"], "end": e["time"],
                                       "root": e["root"]}
            elif ev == "sql_end" and e["exec"] in self.sql:
                self.sql[e["exec"]]["end"] = e["time"]
            elif ev == "qe":
                qe_order.append(e)
            elif ev == "stream":
                self.stream.append(e)
        # A QueryExecutionListener callback belongs to the SQL execution
        # that ended with the same query execution object (by identity) and
        # the same duration.
        by_qe = {(q["qe"], q["dur_ns"]): q for q in qe_order}
        self.qe_of = {}
        for e in events:
            if e["ev"] == "sql_end" and "qe" in e and e["exec"] in self.sql:
                q = by_qe.get((e["qe"], e["dur_ns"]))
                if q is not None:
                    self.qe_of[e["exec"]] = q
        self.stage_tasks = {}
        for t in self.tasks:
            self.stage_tasks.setdefault(t["stage"], []).append(t)

    def within(self, items, key, lo, hi):
        return [x for x in items if lo <= x[key] <= hi]


def _engine(ix, ops):
    """engine.*: task counters per traced operation, driver gaps, skew."""
    per = {k: [] for k in ["tasks", "task_cpu_s", "gc_s", "shuffle_write_mb",
                           "shuffle_read_mb", "spill_mb", "input_mb",
                           "output_mb", "driver_gap_s"]}
    busy, wall = 0.0, 0.0
    mb = 1024.0 * 1024.0
    for lo, hi in ops:
        ts = ix.within(ix.tasks, "launch", lo, hi)
        jobs = [(j["start"], j["end"]) for j in ix.jobs.values()
                if lo <= j["start"] <= hi]
        per["tasks"].append(len(ts))
        per["task_cpu_s"].append(sum(t.get("cpu_ns", 0) for t in ts) / 1e9)
        per["gc_s"].append(sum(t.get("gc_ms", 0) for t in ts) / 1000.0)
        per["shuffle_write_mb"].append(sum(t.get("sw", 0) for t in ts) / mb)
        per["shuffle_read_mb"].append(sum(t.get("sr", 0) for t in ts) / mb)
        per["spill_mb"].append(sum(t.get("spill", 0) for t in ts) / mb)
        per["input_mb"].append(sum(t.get("in", 0) for t in ts) / mb)
        per["output_mb"].append(sum(t.get("out", 0) for t in ts) / mb)
        per["driver_gap_s"].append(((hi - lo) - _union_ms(jobs)) / 1000.0)
        busy += sum(t["finish"] - t["launch"] for t in ts)
        wall += hi - lo
    skew = []
    for ts in ix.stage_tasks.values():
        in_op = any(lo <= ts[0]["launch"] <= hi for lo, hi in ops)
        if len(ts) >= 2 and in_op:
            d = [t["finish"] - t["launch"] for t in ts]
            med = statistics.median(d)
            if med > 0:
                skew.append(max(d) / med)
    out = {f"engine.{k}": statistics.mean(v) if v else 0.0 for k, v in per.items()}
    out["engine.busy_cores"] = busy / wall if wall else 0.0
    out["engine.task_skew"] = _median(skew)
    return out


def _pipeline(ix, runs, info, derived, problems):
    """pipeline.*: scan, per-sink spans, commit time, match ratio. A run
    whose write commands are not exactly the five sinks, once each, is not
    measured and is reported in `problems` as (run start, message)."""
    keys = (["scan_s", "scan_files", "commit_s", "join_match_ratio",
             "output_files", "output_bytes_per_input_byte", "remainder_s"]
            + [f"{m}.{s}" for m in ("sink_s", "sink_files", "sink_rows",
                                    "sink_busy_cores") for s in SINKS])
    per = {k: [] for k in keys}
    for lo, hi, span_id in runs:
        execs = sorted((v["start"], v["end"], ex) for ex, v in ix.sql.items()
                       if v["root"] == ex and lo <= v["start"] <= hi)
        # A sink's span runs from the first SQL execution after the previous
        # sink's write to the end of its own write, so the preparatory
        # executions a sink needs (temp views, DenseId's offset count)
        # count towards it.
        writes, begin = [], None
        for a, b, ex in execs:
            begin = a if begin is None else begin
            q = ix.qe_of.get(ex)
            if q is not None and "path" in q:
                writes.append((begin, b, ex, q))
                begin = None
        names = sorted(q["path"].rstrip("/").rsplit("/", 1)[-1]
                       for _, _, _, q in writes)
        if names != sorted(SINKS):
            problems.append((lo, f"traced run writes {names}, not the five sinks"))
            continue
        # stages reading the JSON inputs, anywhere in this run
        scan_stages = [(s["submit"], s["done"]) for s in ix.stages.values()
                       if s["file_scan"] and lo <= s["submit"] <= hi]
        scan_ms = writes[0][0] - lo + _union_ms(scan_stages)
        derived.append({"id": f"d{len(derived)}", "name": "pipeline.scan.listing",
                        "parent": span_id, "start": lo, "end": writes[0][0]})
        sinks_ms, commit_ms, files, nbytes, rows = 0.0, 0.0, 0, 0, {}
        scans = {}
        for a, b, ex, q in writes:
            sink = q["path"].rstrip("/").rsplit("/", 1)[-1]
            job_iv = [(j["start"], j["end"]) for j in ix.jobs.values()
                      if a <= j["start"] <= b]
            busy = sum(t["finish"] - t["launch"]
                       for t in ix.within(ix.tasks, "launch", a, b))
            inner_scan = _union_ms([(max(x, a), min(y, b)) for x, y in scan_stages
                                    if y > a and x < b])
            span = b - a
            sink_id = f"d{len(derived)}"
            derived.append({"id": sink_id, "name": f"pipeline.sink.{sink}",
                            "parent": span_id, "start": a, "end": b})
            for x, y in scan_stages:
                if a <= x <= b:
                    derived.append({"id": f"d{len(derived)}",
                                    "name": "pipeline.scan.stage",
                                    "parent": sink_id, "start": x, "end": y})
            per[f"sink_s.{sink}"].append((span - inner_scan) / 1000.0)
            per[f"sink_files.{sink}"].append(q["files"])
            per[f"sink_rows.{sink}"].append(q["rows"])
            per[f"sink_busy_cores.{sink}"].append(busy / span if span else 0.0)
            rows[sink] = q["rows"]
            sinks_ms += span - inner_scan
            commit_ms += span - _union_ms([(max(x, a), min(y, b)) for x, y in job_iv
                                           if y > a and x < b])
            files += q["files"]
            nbytes += q["bytes"]
            for ident, n in q["scans"]:
                scans[ident] = n
        per["scan_s"].append(scan_ms / 1000.0)
        per["scan_files"].append(sum(scans.values()))
        per["commit_s"].append(commit_ms / 1000.0)
        per["remainder_s"].append((hi - lo - scan_ms - sinks_ms) / 1000.0)
        per["join_match_ratio"].append(
            rows["songplays"] / info["expect"]["next_song_events"])
        per["output_files"].append(files)
        per["output_bytes_per_input_byte"].append(nbytes / info["input_bytes"])
    return {f"pipeline.{k}": _median(v) for k, v in per.items()}


def _streaming(ix, rounds):
    """streaming.*: micro-batch progress, per traced round of the mix."""
    per = {k: [] for k in ["batches", "batch_ms_p50", "plan_ms", "commit_ms",
                           "state_rows", "state_mb"]}
    for lo, hi in rounds:
        ps = [e["progress"] for e in ix.stream if lo <= e["time"] <= hi + 1000]
        if not ps:
            continue
        d = [p.get("durationMs", {}) for p in ps]
        state = [o for p in ps for o in p.get("stateOperators", [])]
        per["batches"].append(len(ps))
        per["batch_ms_p50"].append(_median([x.get("triggerExecution", 0) for x in d]))
        per["plan_ms"].append(sum(x.get("queryPlanning", 0) for x in d))
        per["commit_ms"].append(sum(x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                    for x in d))
        per["state_rows"].append(max([o.get("numRowsTotal", 0) for o in state] or [0]))
        per["state_mb"].append(max([o.get("memoryUsedBytes", 0) for o in state] or [0])
                               / (1024.0 * 1024.0))
    return {f"streaming.{k}": _median(v) for k, v in per.items()}


def per_layer(res, workload, info):
    """Every per-layer metric (0 where the layer is not on this workload's
    path), the span list with self times for the trace file, and the
    problems found, as (operation start, message)."""
    ix = Index(res["events"])
    spans = res["spans"]
    samples = res["samples"]
    # Layers are measured on the operations the untraced run measures: in a
    # query mix, round 0 (each query's first timed execution); in the ETL, every
    # traced run. The overhead compares traced and untraced executions of
    # the same operation in rounds 1 and later.
    rounds = sorted((s for s in spans if s["name"] == "round"),
                    key=lambda s: s["start"])
    etl = workload.startswith("etl_")
    measured = {s["id"] for s in (rounds if etl else rounds[:1])}
    op_spans = [s for s in spans if s["parent"] in measured
                and (s["name"] == "pipeline.Sparkify.run"
                     or s["name"].startswith("query."))]
    ops = [(s["start"], s["end"]) for s in op_spans]
    m = {name: 0.0 for name, _ in per_layer_names()}
    m.update(_engine(ix, ops))
    derived, problems = [], []
    if etl:
        runs = [(s["start"], s["end"], s["id"]) for s in op_spans]
        m.update(_pipeline(ix, runs, info, derived, problems))
    else:
        for s in op_spans:
            m[f"{s['name']}_ms"] = s["end"] - s["start"]
        drains = [s["end"] - s["start"] for s in spans
                  if s["name"] == "ops.Snap.drain" and s["parent"] in
                  {o["id"] for o in op_spans}]
        m["ops.Snap.drain_ms"] = statistics.mean(drains) if drains else 0.0
        m.update(_streaming(ix, [(s["start"], s["end"]) for s in rounds[:1]]))
        for k in KERNELS:
            for s in spans:
                if s["name"] == k:
                    m[f"{k}_ms"] = s["end"] - s["start"]
    plan = []
    for lo, hi in ops:
        plan.append(sum(q["plan_ms"] for ex, q in ix.qe_of.items()
                        if lo <= ix.sql[ex]["start"] <= hi))
    m["query.plan_ms_p50"] = _median(plan)
    m["query.plan_share"] = sum(plan) / sum(hi - lo for lo, hi in ops) if ops else 0.0
    # tracing overhead: traced minus untraced, per operation name
    later = [s for s in samples if s["round"] > 0]
    diffs, base = [], 0.0
    for name in sorted({s["name"] for s in later}):
        t = [s["ms"] for s in later if s["name"] == name and s["traced"]]
        u = [s["ms"] for s in later if s["name"] == name and not s["traced"]]
        if t and u:
            diffs.append(_median(t) - _median(u))
            base += _median(u)
    m["trace.overhead_run_s"] = sum(diffs) / 1000.0
    m["trace.overhead_pct"] = 100.0 * sum(diffs) / base if base else 0.0
    units = dict(per_layer_names())
    return ({k: (v, units[k]) for k, v in m.items()},
            _self_times(spans + derived), problems)
