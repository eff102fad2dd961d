"""Turns the harness's raw record file into the benchmark's metrics.

The JVM side only records: operations with their timings, correctness
checks, spans, Spark jobs and stages, and streaming progress. Every
number the benchmark reports is computed here, so the rules (failed
operations excluded from timings, percentiles, self time) live in one
place and are unit-tested in test_harness.py.
"""
import math
import statistics

# (name, unit, better, bound): printed by an untraced run. Every time has
# the largest bound allowed: on a shared 4-core VM, ten runs per workload
# with different seeds spread by up to 0.21 between quartiles, and the
# medians of two such sets differed by up to 14%, from spells in which
# whole runs ran faster or slower (METRICS.md). The heap peak spread by at
# most 0.054.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("p50_ms", "ms", "lower", 0.25),
    ("peak_heap_mb", "MB", "lower", 0.15),
]

# The registry_mix queries, by group (see METRICS.md for the choice).
MIX = [
    ("iterative", ["q294_hits", "q197_entity_groups"]),
    ("scan_agg", ["q202_sql_equidepth"]),
    ("text", ["q43_simhash"]),
]
MIX_GROUPS = [g for g, _ in MIX]
MIX_QUERIES = [q for _, qs in MIX for q in qs]

# (name, unit, better): printed by a traced run, on every workload; a
# layer the workload does not exercise reads 0.
PER_LAYER = [
    ("generate.wall_s", "s", "lower"),
    ("generate.bytes_out", "bytes", "lower"),
    ("generate.tasks", "count", "lower"),
    ("generate.cpu_frac", "ratio", "higher"),
    ("pipeline.scan_s", "s", "lower"),
    ("pipeline.bytes_in", "bytes", "lower"),
    ("pipeline.corrupt_dropped", "count", "lower"),
    ("pipeline.sink_s", "s", "lower"),
    ("pipeline.sink_bytes", "bytes", "lower"),
    ("pipeline.sink_files", "count", "lower"),
    ("pipeline.bytes_per_order", "bytes", "lower"),
    ("pipeline.readback_build_s", "s", "lower"),
    ("pipeline.readback_build_jobs", "count", "lower"),
    ("pipeline.sql_exec_s", "s", "lower"),
    ("enrich.self_s", "s", "lower"),
    ("enrich.valid_ratio", "ratio", "higher"),
    ("streaming.latest_offset_ms", "ms", "lower"),
    ("streaming.get_batch_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.commit_offsets_ms", "ms", "lower"),
    ("streaming.batches", "count", "higher"),
    ("streaming.fixed_share", "ratio", "lower"),
    ("streaming.jobs_per_batch", "count", "lower"),
    ("streaming.tasks_per_batch", "count", "lower"),
    ("streaming.valid_orders", "count", "higher"),
    ("streaming.files_out", "count", "lower"),
    ("queries.plan_s", "s", "lower"),
    ("queries.pass_s", "s", "lower"),
] + [(f"queries.{g}_s", "s", "lower") for g in MIX_GROUPS] + [
    (f"queries.{q}.{m}", unit, "lower")
    for q in MIX_QUERIES
    for m, unit in (("build_s", "s"), ("build_jobs", "count"),
                    ("exec_s", "s"), ("cold_extra_s", "s"))
] + [
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_run_ms", "ms", "lower"),
    ("spark.task_cpu_ms", "ms", "lower"),
    ("spark.task_gc_ms", "ms", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.idle_core_frac", "ratio", "lower"),
    ("spark.plan_s", "s", "lower"),
    ("spark.parallel_speedup", "ratio", "higher"),
    ("trace.wall_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("trace.listener_ms", "ms", "lower"),
    ("trace.failed_share", "ratio", "lower"),
]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond=10):
    """The highest whole percentile that still has at least `min_beyond`
    samples strictly above it, with its value: (p, value). None when the
    samples cannot support even the median."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in range(50, 100):
        k = math.ceil(p / 100 * n) - 1  # nearest-rank index
        if k < 0 or n - (k + 1) < min_beyond:
            break
        best = (p, xs[k])
    return best


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval its direct children cover (overlapping children count once,
    clipped to the parent). Returns {span id: ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["startMs"], s["endMs"]
        ivs = sorted((max(lo, c["startMs"]), min(hi, c["endMs"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_split(rounds):
    """(scan, enrich, sink) seconds from the traced run's split rounds.
    Each round holds differences taken within that round (enrich =
    scan+process - scan, sink = full - scan+process); each layer is the
    median over rounds of its own differences."""
    return tuple(median(r[k] for r in rounds) / 1e3
                 for k in ("scan_ms", "enrich_ms", "sink_ms"))


def op_summary(raw):
    """Attempted and failed counts, and the successful operations. A
    failed operation or check counts once and contributes no timing."""
    ops, checks = raw["ops"], raw["checks"]
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks)
    return len(ops) + len(checks), failed, [o for o in ops if o["ok"]]


def _work(raw, ok):
    """(throughput per second, latency samples in ms) of the successful
    operations. orders_etl: the median over runs of orders per second,
    and the SQL readback latencies (every repeat, `sql<i>_ms`).
    registry_mix: query executions per second over the warm passes, and
    the query latencies."""
    if raw["workload"] == "orders_etl":
        return (median(o["units"] / o["ms"] * 1e3 for o in ok if o["ms"] > 0),
                [v for o in ok for k, v in o["parts"].items()
                 if k.startswith("sql") and k.endswith("_ms")])
    secs = sum(raw["extra"].get("pass_ms", [])) / 1e3
    return (len(ok) / secs if secs > 0 else 0.0), [o["ms"] for o in ok]


def latency_summary(raw):
    """Sample count, median and the supported tail of the latency samples."""
    _, _, ok = op_summary(raw)
    lat = _work(raw, ok)[1] if ok else []
    tail = tail_percentile(lat)
    return {"n": len(lat), "p50_ms": median(lat),
            "tail": {"percentile": tail[0], "ms": tail[1]} if tail else None}


def end_to_end(raw):
    """{metric: value} for END_TO_END, or None if nothing succeeded."""
    _, _, ok = op_summary(raw)
    if not ok or not raw["setup_s"] or not raw["heap_peak_mb"]:
        return None
    rate, lat = _work(raw, ok)
    if rate <= 0 or not lat:
        return None
    return {
        "setup_s": median(raw["setup_s"]),
        "throughput_per_s": rate,
        "p50_ms": median(lat),
        "peak_heap_mb": median(raw["heap_peak_mb"]),
    }


class Trace:
    """Index over one traced run: spans, their subtrees, and the Spark
    jobs and stages attributed to them."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s["parent"], []).append(s)
        self.self_ms = self_times(self.spans)
        self.jobs = raw["jobs"]
        stage_job = {}
        for j in self.jobs:
            for sid in j["stages"]:
                stage_job.setdefault(sid, j["id"])
        self.stages_by_job = {}
        for st in raw["stages"]:
            jid = stage_job.get(st["id"])
            if jid is not None:
                self.stages_by_job.setdefault(jid, []).append(st)

    def named(self, name, tag=None, under=None):
        out = [s for s in self.spans if s["name"] == name
               and (tag is None or s["tag"] == tag)]
        if under is not None:
            ids = self.subtree_ids(under)
            out = [s for s in out if s["id"] in ids]
        return out

    def subtree_ids(self, roots):
        ids, todo = set(), [r["id"] for r in roots]
        while todo:
            i = todo.pop()
            if i not in ids:
                ids.add(i)
                todo.extend(c["id"] for c in self.kids.get(i, []))
        return ids

    def jobs_in(self, roots):
        ids = self.subtree_ids(roots)
        return [j for j in self.jobs if j["span"] in ids]

    def stages_of(self, jobs):
        return [st for j in jobs for st in self.stages_by_job.get(j["id"], [])]

    @staticmethod
    def dur(s):
        return s["endMs"] - s["startMs"]


def _spark_layer(t, roots, cores, units):
    """spark.* metrics over the measured root spans, per unit of work."""
    jobs = t.jobs_in(roots)
    stages = t.stages_of(jobs)
    wall = sum(Trace.dur(r) for r in roots)
    run_ms = sum(s["runMs"] for s in stages)
    skews = [s["maxTaskMs"] / s["medianTaskMs"] for s in stages
             if s["tasks"] >= 2 and s["medianTaskMs"] > 0]
    u = max(units, 1)
    plans = [s for s in t.named("spark.plan") if s["id"] in t.subtree_ids(roots)]
    return {
        "spark.jobs": len(jobs) / u,
        "spark.stages": len(stages) / u,
        "spark.tasks": sum(s["tasks"] for s in stages) / u,
        "spark.task_run_ms": run_ms / u,
        "spark.task_cpu_ms": sum(s["cpuMs"] for s in stages) / u,
        "spark.task_gc_ms": sum(s["gcMs"] for s in stages) / u,
        "spark.shuffle_write_bytes": sum(s["shuffleWrite"] for s in stages) / u,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / u,
        "spark.task_skew": max(skews) if skews else 1.0,
        "spark.idle_core_frac": 1 - run_ms / (cores * wall) if wall > 0 else 0.0,
        "spark.plan_s": sum(Trace.dur(s) for s in plans) / 1e3 / u,
    }


def _coverage(t, roots):
    """Share of the measured wall time covered by layer self times: all
    spans below the roots, so harness time between calls is the gap."""
    wall = sum(Trace.dur(r) for r in roots)
    inner = t.subtree_ids(roots) - {r["id"] for r in roots}
    return sum(t.self_ms[i] for i in inner) / wall if wall > 0 else 0.0


def _batch_spans(raw, t, drain_roots):
    """Synthesize one span per micro-batch from its progress event, under
    the drain's run_available_now span, and attribute the batch's Spark
    jobs to it by (query id, batch id)."""
    spans = []
    next_id = max([s["id"] for s in t.spans] + [0]) + 1
    runs = t.named("streaming.run_available_now", under=drain_roots)
    for b in raw["progress"]:
        if b["inputRows"] <= 0:
            continue
        start = b["startMs"]
        end = start + b["durations"].get("triggerExecution", 0)
        parent = next((r for r in runs if r["startMs"] <= start <= r["endMs"]), None)
        if parent is None:
            continue
        spans.append({"id": next_id, "parent": parent["id"], "name": "streaming.batch",
                      "tag": f'{b["queryId"]}:{b["batchId"]}', "startMs": start,
                      "endMs": min(end, parent["endMs"]), "ok": True})
        next_id += 1
    by_key = {s["tag"]: s["id"] for s in spans}
    for j in raw["jobs"]:
        key = f'{j["query"]}:{j["batch"]}'
        if key in by_key:
            j["span"] = by_key[key]
    return spans


def _streaming(raw, t, m):
    """streaming.* metrics from the measured drain and its batch spans."""
    roots = t.named("stream.drain")
    batches = [b for b in raw["progress"] if b["inputRows"] > 0
               and any(r["startMs"] <= b["startMs"] <= r["endMs"] for r in roots)]
    for key, name in (("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                      ("queryPlanning", "query_planning_ms"),
                      ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms")):
        m[f"streaming.{name}"] = median(b["durations"].get(key, 0) for b in batches)
    m["streaming.batches"] = len(batches)
    m["streaming.fixed_share"] = median(
        1 - b["durations"].get("addBatch", 0) / b["durations"]["triggerExecution"]
        for b in batches if b["durations"].get("triggerExecution", 0) > 0)
    bspans = t.named("streaming.batch", under=roots)
    bjobs = t.jobs_in(bspans)
    nb = max(len(bspans), 1)
    m["streaming.jobs_per_batch"] = len(bjobs) / nb
    m["streaming.tasks_per_batch"] = sum(s["tasks"] for s in t.stages_of(bjobs)) / nb
    m["streaming.valid_orders"] = raw["extra"].get("stream_valid_orders", 0)
    m["streaming.files_out"] = raw["extra"].get("stream_files_out", 0)
    return roots


def per_layer(raw):
    """{metric: value} for PER_LAYER from a traced run."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    w = raw["workload"]
    cores = raw["cores"]
    extra = raw["extra"]
    t0 = Trace(raw)
    raw = dict(raw, spans=raw["spans"] + _batch_spans(raw, t0, t0.named("stream.drain")))
    t = Trace(raw)
    attempted, failed, ok = op_summary(raw)
    m["trace.failed_share"] = failed / attempted if attempted else 0.0
    m["trace.listener_ms"] = raw.get("listener_ms", 0.0)

    if w == "orders_etl":
        roots = t.named("etl.run")
        gens = t.named("generate", under=roots)
        m["generate.wall_s"] = median(Trace.dur(s) for s in gens) / 1e3
        per_gen = [t.stages_of(t.jobs_in([g])) for g in gens]
        m["generate.bytes_out"] = median(sum(s["bytesWritten"] for s in st) for st in per_gen)
        m["generate.tasks"] = median(sum(s["tasks"] for s in st) for st in per_gen)
        cpu = median(sum(s["cpuMs"] for s in st) for st in per_gen)
        m["generate.cpu_frac"] = cpu / (cores * m["generate.wall_s"] * 1e3) if gens else 0.0
        split = layer_split(extra.get("split_rounds", []))
        m["pipeline.scan_s"], m["enrich.self_s"], m["pipeline.sink_s"] = split
        scan = t.named("pipeline.scan_noop")
        m["pipeline.bytes_in"] = median(
            sum(st["bytesRead"] for st in t.stages_of(t.jobs_in([s]))) for s in scan)
        c = extra.get("etl_counters", {})
        m["pipeline.corrupt_dropped"] = c.get("dropped", 0)
        m["enrich.valid_ratio"] = c.get("valid", 0) / c["total"] if c.get("total") else 0.0
        per_sink = [t.stages_of(t.jobs_in([s])) for s in t.named("pipeline.sink", under=roots)]
        m["pipeline.sink_bytes"] = median(sum(s["bytesWritten"] for s in st) for st in per_sink)
        m["pipeline.sink_files"] = extra.get("etl_processed_files", 0)
        valid = c.get("valid", 0)
        m["pipeline.bytes_per_order"] = m["pipeline.sink_bytes"] / valid if valid else 0.0
        sqls = t.named("pipeline.sql", under=roots)
        builds = t.named("pipeline.readback_build", under=roots)
        m["pipeline.readback_build_s"] = median(Trace.dur(s) for s in builds) / 1e3
        before_action = [[k for k in t.kids.get(s["id"], [])
                          if k["name"] != "pipeline.sql_exec"] for s in sqls]
        m["pipeline.readback_build_jobs"] = median(len(t.jobs_in(k)) for k in before_action)
        m["pipeline.sql_exec_s"] = median(
            Trace.dur(s) for s in t.named("pipeline.sql_exec", under=roots)) / 1e3
        base = extra.get("baseline", {})
        if base.get("cores_ms"):
            m["spark.parallel_speedup"] = base["one_core_ms"] / base["cores_ms"]
        m.update(_spark_layer(t, roots, cores, len(roots)))
        measured = roots + _streaming(raw, t, m)
    else:
        roots = [s for s in t.named("mix.pass") if s["tag"].startswith("warm")]
        m["queries.pass_s"] = median(Trace.dur(s) for s in roots) / 1e3
        per_pass_plan = [sum(Trace.dur(s) for s in t.named("spark.plan", under=[r]))
                         for r in roots]
        m["queries.plan_s"] = median(per_pass_plan) / 1e3
        for g in MIX_GROUPS:
            per_query = {}
            for o in ok:
                if o["group"] == g:
                    per_query.setdefault(o["name"], []).append(o["ms"])
            m[f"queries.{g}_s"] = sum(median(v) for v in per_query.values()) / 1e3
        cold = extra.get("cold_ms", {})
        for q in MIX_QUERIES:
            b = t.named("queries.build", tag=q, under=roots)
            if not b:
                continue
            m[f"queries.{q}.build_s"] = median(Trace.dur(s) for s in b) / 1e3
            m[f"queries.{q}.build_jobs"] = median(len(t.jobs_in([s])) for s in b)
            m[f"queries.{q}.exec_s"] = median(
                Trace.dur(s) for s in t.named("queries.exec", tag=q, under=roots)) / 1e3
            warm = median(o["ms"] for o in ok if o["name"] == q)
            if q in cold:
                m[f"queries.{q}.cold_extra_s"] = max(0.0, sum(cold[q].values()) - warm) / 1e3
        m.update(_spark_layer(t, roots, cores, len(roots)))
        measured = roots
    m["trace.wall_s"] = sum(Trace.dur(r) for r in measured) / 1e3
    m["trace.coverage"] = _coverage(t, measured)
    return m
