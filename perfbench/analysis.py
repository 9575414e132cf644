"""Pure functions that turn one harness result into the benchmark's checks,
end-to-end metrics and per-layer metrics. No I/O, so they are unit-tested
on hand-made inputs (test_perfbench.py).
"""

import json
import statistics

# The tail metric is the highest percentile with at least this many
# samples beyond it.
TAIL_BEYOND = 10


def tail_percentile(values):
    """(percentile, value, n): the highest percentile that leaves at least
    ten samples above it, i.e. the eleventh-largest value, at percentile
    100 * (n - 10) / n. With ten samples or fewer there is no such
    percentile: (None, None, n).
    """
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None, None, n
    return 100.0 * (n - TAIL_BEYOND) / n, xs[n - TAIL_BEYOND - 1], n


def interval_union(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(frames):
    """Module a Spark job belongs to, from its call site's library frames
    (innermost first, e.g. "graft.validate.Validator$.validate(Validator.scala:54)").

    The module is the package under `graft` of the innermost library frame;
    sink jobs are split into `sink.metadata` (called from the metadata
    table), `sink.features` (GeoJSON rendering) and `sink.upsert`. Frames of
    the benchmark itself map to `harness`; no frames map to `unknown`.
    """
    lib = [f for f in frames if f.startswith("graft.")]
    if not lib:
        return "harness" if any(f.startswith("perfbench.") for f in frames) else "unknown"
    parts = lib[0].split("(")[0].split(".")
    module = parts[1] if len(parts) > 3 else "graft"
    if module == "sink":
        if any(".MetadataTable" in f for f in lib):
            return "sink.metadata"
        if ".JsonFeatureSink" in lib[0]:
            return "sink.features"
        return "sink.upsert"
    return module


def account(operations_ok, checks_ok):
    """(attempted, failed): every operation and every output check counts
    once; a failed operation or a failed check counts as failed."""
    ops, checks = list(operations_ok), list(checks_ok)
    attempted = len(ops) + len(checks)
    failed = sum(1 for ok in ops if not ok) + sum(1 for ok in checks if not ok)
    return attempted, failed


# ---------------------------------------------------------------- checks

def check_catalog(result, pins):
    """Per query: it ran, and its (rows, hash) equals the pinned fingerprint.
    Returns (ok per query, names of the queries that failed)."""
    oks, failed = [], []
    for q in result["queries"]:
        pin = pins.get(q["name"])
        ok = bool(q["ok"]) and pin is not None and \
            pin == {"rows": q.get("rows"), "hash": q.get("hash")}
        oks.append(ok)
        if not ok:
            failed.append(q["name"])
    return oks, failed


def check_nyc(result, expect, exports):
    """The nyc_pipeline output checks, as (name, ok) pairs. `exports` maps
    each export file name to its parsed FeatureCollection (None if absent).
    """
    checks = []
    by_phase = {(i["phase"], i["dataset"]): i for i in result["ingests"]}
    for phase, datasets in expect["validation"].items():
        for ds, want in sorted(datasets.items()):
            got = by_phase.get((phase, ds), {})
            ranges = {r["column"]: {"below": r["below"], "above": r["above"]}
                      for r in got.get("range", [])}
            ok = bool(got.get("ok")) and got.get("rows") == want["rows"] and \
                got.get("duplicate_key_rows") == want["duplicate_key_rows"] and \
                not got.get("missing_required") and ranges == want["range"]
            checks.append((f"validation:{phase}:{ds}", ok))
    for name, want in sorted(expect["exports"].items()):
        fc = exports.get(name)
        feats = (fc or {}).get("features") or []
        props = [f.get("properties", {}) for f in feats]
        keys = sorted(p.get(want["key"]) for p in props)
        checks.append((f"export:{name}:count", len(feats) == len(want["keys"])))
        checks.append((f"export:{name}:keys", keys == want["keys"]))
        if "year" in want:
            fresh = all(p.get("year") == want["year"] for p in props) and bool(props)
        elif "poverty_count" in want:
            by_key = {p.get(want["key"]): p for p in props}
            fresh = all(by_key.get(z, {}).get("poverty_count") == v
                        for z, v in want["poverty_count"].items())
        else:
            by_key = {p.get(want["key"]): p for p in props}
            fresh = all(by_key.get(z, {}).get("date") == v for z, v in want["date"].items())
        checks.append((f"export:{name}:refreshed", fresh))
    return checks


def nyc_operations(result):
    """ok flag of every nyc_pipeline operation: dataset ingests, the export,
    the first GET of each endpoint and every warm GET. Warm GETs the loop
    did not get to (serving never started, or the time cap ran out) count
    as failed."""
    oks = [bool(i["ok"]) for i in result["ingests"]]
    oks.append(bool(result["export"]["ok"]))
    if "serve_cold" not in result:
        return oks + [False]
    oks += [bool(c["ok"]) for c in result["serve_cold"]]
    ok_at = result["request_fields"].index("ok")
    oks += [r[ok_at] == 1 for r in result["requests"]]
    return oks + [False] * (result["warm_requests"] - len(result["requests"]))


# ---------------------------------------------------------- end to end

def end_to_end(result, setup_s):
    """The end-to-end metrics of one untraced run, plus the tail rule's
    percentile and sample count for the artifact. A run whose serving never
    started, or with too few operations for a tail, still gets every
    metric: the missing latencies and rate read 0 (its failures are
    counted by nyc_operations)."""
    batch_s = (result["batch_end_ms"] - result["batch_start_ms"]) / 1000.0
    if result["workload"] == "nyc_pipeline":
        lat, rate = [], 0.0
        if result.get("requests"):
            at = result["request_fields"].index("latency_ms")
            lat = [r[at] for r in result["requests"]]
            loop_s = (result["warm_end_ms"] - result["warm_start_ms"]) / 1000.0
            rate = len(lat) / loop_s if loop_s > 0 else 0.0
    else:
        lat = [q["end_ms"] - q["start_ms"] for q in result["queries"]]
        rate = len(lat) / batch_s if batch_s > 0 else 0.0
    p, tail, n = tail_percentile(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "batch_s": (batch_s, "s"),
        "batch_cpu_s": (result["batch_cpu_s"], "s"),
        "op_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
        "op_tail_ms": (tail if tail is not None else 0.0, "ms"),
        "op_rate": (rate, "1/s"),
    }
    return metrics, {"tail_percentile": p, "op_samples": n, "peak_rss_mb": result["peak_rss_mb"]}


# ------------------------------------------------------------ per layer

PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.materialize_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.executions": "count",
    "exec.driver_only_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.tasks_failed": "count", "exec.task_busy_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.slot_use": "1",
    "scan.bytes": "bytes", "scan.rows": "count", "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "shared_frames.builds": "count", "shared_frames.build_s": "s",
    "shared_frames.bytes": "bytes", "shared_frames.rebuilds": "count",
    "jobs.ingest_s": "s", "jobs.refresh_s": "s", "jobs.export_s": "s",
    "jobs.ingest_jobs": "count", "transform.raw_reads": "1", "validate.s": "s",
    "sink.upsert_s": "s", "sink.metadata_s": "s", "sink.bytes_written": "bytes",
    "export.render_s": "s", "serve.cold_s": "s", "serve.render_s": "s",
    "serve.identity_p50_ms": "ms", "serve.gzip_p50_ms": "ms", "serve.body_bytes": "bytes",
    "serve.gzip_ratio": "1", "mem.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.overhead_share": "1",
}


def _jobs(result):
    """job id -> {start_ms, end_ms, span, stages, ok} from start/end events."""
    jobs = {}
    for e in result["jobs"]:
        j = jobs.setdefault(e["job"], {"stages": [], "span": 0, "execution": -1,
                                       "start_ms": None, "end_ms": None, "ok": True})
        if e["event"] == "start":
            j.update(start_ms=e["time_ms"], span=e["span"], execution=e["execution"],
                     stages=e["stages"])
        else:
            j.update(end_ms=e["time_ms"], ok=e["ok"])
    return {k: j for k, j in jobs.items() if j["start_ms"] is not None and j["end_ms"] is not None}


def layer_records(result):
    """Per-operation layer records of a traced run: for each root span
    (query, dataset ingest, export, first GET), its Spark work split by
    module and execution counters."""
    spans = {s["id"]: s for s in result["spans"]}
    roots = sorted((s for s in spans.values() if s["parent"] == 0), key=lambda s: s["start_ms"])
    fields = result["task_fields"]
    tasks_by_stage = {}
    for t in result["tasks"]:
        tasks_by_stage.setdefault(int(t[0]), []).append(dict(zip(fields, t)))
    stage_frames = {s["stage"]: s["frames"] for s in result["stages"]}
    sql_frames = {s["execution"]: s["frames"] for s in result["sql_starts"]}
    stage_attempts = {}
    for s in result["stages"]:
        stage_attempts[s["stage"]] = stage_attempts.get(s["stage"], 0) + 1

    def op_at(ms):
        for r in roots:
            if r["start_ms"] <= ms <= r["end_ms"]:
                return r["id"]
        return None

    records = {r["id"]: {"op": r["name"], "layer": r["layer"],
                         "wall_ms": r["end_ms"] - r["start_ms"], "jobs": 0, "stages": 0,
                         "tasks": 0, "tasks_failed": 0, "task_run_ms": 0.0,
                         "task_cpu_ms": 0.0, "gc_ms": 0.0, "in_bytes": 0.0, "in_rows": 0.0,
                         "in_rows_nonmeta": 0.0, "out_bytes": 0.0, "shuffle_write_bytes": 0.0,
                         "fetch_wait_ms": 0.0, "disk_spill_bytes": 0.0, "module_ms": {},
                         "module_out_bytes": {}, "executions": 0, "analysis_ms": 0.0,
                         "optimization_ms": 0.0, "planning_ms": 0.0, "_intervals": []}
               for r in roots}
    for s in spans.values():
        if s["parent"] != 0 and s["op"] in records:
            records[s["op"]][s["name"] + "_ms"] = \
                records[s["op"]].get(s["name"] + "_ms", 0.0) + s["end_ms"] - s["start_ms"]
    for j in _jobs(result).values():
        op = spans[j["span"]]["op"] if j["span"] in spans else op_at(j["start_ms"])
        if op is None:
            continue
        rec = records[op]
        # a SQL job's call site is its execution's; its stages run on
        # scheduler threads and name no user frame
        frames = sql_frames.get(j["execution"]) or \
            next((stage_frames[s] for s in j["stages"] if stage_frames.get(s)), [])
        module = attribute(frames)
        rec["jobs"] += 1
        rec["module_ms"][module] = rec["module_ms"].get(module, 0.0) + j["end_ms"] - j["start_ms"]
        for sid in j["stages"]:
            rec["stages"] += stage_attempts.get(sid, 0)
            for t in tasks_by_stage.get(sid, []):
                rec["tasks"] += 1
                rec["tasks_failed"] += 0 if t["ok"] == 1 else 1
                rec["task_run_ms"] += t["run_ms"]
                rec["task_cpu_ms"] += t["cpu_ns"] / 1e6
                rec["gc_ms"] += t["gc_ms"]
                rec["in_bytes"] += t["in_bytes"]
                rec["in_rows"] += t["in_rows"]
                if module != "sink.metadata":
                    rec["in_rows_nonmeta"] += t["in_rows"]
                rec["out_bytes"] += t["out_bytes"]
                rec["module_out_bytes"][module] = \
                    rec["module_out_bytes"].get(module, 0.0) + t["out_bytes"]
                rec["shuffle_write_bytes"] += t["shuffle_write_bytes"]
                rec["fetch_wait_ms"] += t["fetch_wait_ms"]
                rec["disk_spill_bytes"] += t["disk_spill_bytes"]
                rec["_intervals"].append((t["launch_ms"], t["finish_ms"]))
    for e in result["executions"]:
        op = op_at(e["start_ms"])
        if op is not None:
            rec = records[op]
            rec["executions"] += 1
            for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                rec[k] += e[k]
    roots_by_id = {r["id"]: r for r in roots}
    for op, rec in records.items():
        r = roots_by_id[op]
        busy = interval_union(rec.pop("_intervals"), r["start_ms"], r["end_ms"])
        rec["task_busy_ms"] = busy
        rec["driver_only_ms"] = rec["wall_ms"] - busy
    return [records[r["id"]] for r in roots]


def per_layer(result, records, untraced_batch_s, traced_batch_s):
    """The per-layer metrics of a traced run, summed over its operations."""
    m = {k: 0.0 for k in PER_LAYER_UNITS}

    def total(key, kind=None):
        return sum(r.get(key, 0.0) for r in records if kind is None or r["op"].startswith(kind))

    def module_total(module, kind=None):
        return sum(r["module_ms"].get(module, 0.0) for r in records
                   if kind is None or r["op"].startswith(kind)) / 1000.0

    cores = result["cores"]
    m["queries.build_s"] = total("build_ms") / 1000.0
    m["queries.materialize_s"] = total("materialize_ms") / 1000.0
    m["plan.analysis_s"] = total("analysis_ms") / 1000.0
    m["plan.optimization_s"] = total("optimization_ms") / 1000.0
    m["plan.planning_s"] = total("planning_ms") / 1000.0
    m["plan.executions"] = total("executions")
    m["exec.driver_only_s"] = total("driver_only_ms") / 1000.0
    m["exec.jobs"] = total("jobs")
    m["exec.stages"] = total("stages")
    m["exec.tasks"] = total("tasks")
    m["exec.tasks_failed"] = total("tasks_failed")
    m["exec.task_busy_s"] = total("task_busy_ms") / 1000.0
    m["exec.task_run_s"] = total("task_run_ms") / 1000.0
    m["exec.task_cpu_s"] = total("task_cpu_ms") / 1000.0
    m["exec.gc_s"] = total("gc_ms") / 1000.0
    if m["exec.task_busy_s"] > 0:
        m["exec.slot_use"] = m["exec.task_run_s"] / (m["exec.task_busy_s"] * cores)
    m["scan.bytes"] = total("in_bytes")
    m["scan.rows"] = total("in_rows")
    m["shuffle.write_bytes"] = total("shuffle_write_bytes")
    m["shuffle.fetch_wait_s"] = total("fetch_wait_ms") / 1000.0
    m["spill.bytes"] = total("disk_spill_bytes")

    timed = [f for f in result["shared_frames"] if f["phase"] == "timed"]
    keys = [f["key"] for f in timed]
    m["shared_frames.builds"] = len(timed)
    m["shared_frames.build_s"] = sum(f["sec"] for f in timed)
    m["shared_frames.bytes"] = sum(f["bytes"] for f in timed)
    m["shared_frames.rebuilds"] = len(keys) - len(set(keys))

    if result["workload"] == "nyc_pipeline":
        m["jobs.ingest_s"] = total("wall_ms", "fresh:") / 1000.0
        m["jobs.refresh_s"] = total("wall_ms", "refresh:") / 1000.0
        m["jobs.export_s"] = total("wall_ms", "export") / 1000.0
        m["jobs.ingest_jobs"] = total("jobs", "fresh:") + total("jobs", "refresh:")
        raw = sum(result["raw_rows"]["fresh"].values())
        m["transform.raw_reads"] = total("in_rows_nonmeta", "fresh:") / raw if raw else 0.0
        m["validate.s"] = module_total("validate")
        m["sink.upsert_s"] = module_total("sink.upsert")
        m["sink.metadata_s"] = module_total("sink.metadata")
        m["sink.bytes_written"] = sum(
            v for r in records for k, v in r["module_out_bytes"].items() if k.startswith("sink"))
        m["export.render_s"] = module_total("sink.features", "export")
        m["serve.cold_s"] = total("wall_ms", "serve_cold:") / 1000.0
        m["serve.render_s"] = sum(sum(r["module_ms"].values()) for r in records
                                  if r["op"].startswith("serve_cold:")) / 1000.0
        f = result["request_fields"]
        reqs = [dict(zip(f, r)) for r in result["requests"]]
        ident = [r["latency_ms"] for r in reqs if r["gzip"] == 0]
        gz = [r["latency_ms"] for r in reqs if r["gzip"] == 1]
        m["serve.identity_p50_ms"] = statistics.median(ident) if ident else 0.0
        m["serve.gzip_p50_ms"] = statistics.median(gz) if gz else 0.0
        m["serve.body_bytes"] = float(sum(result["identity_bytes"]))
        if m["serve.body_bytes"]:
            m["serve.gzip_ratio"] = sum(result["gzip_bytes"]) / m["serve.body_bytes"]
    m["mem.peak_rss_mb"] = result["peak_rss_mb"]
    m["trace.overhead_s"] = traced_batch_s - untraced_batch_s
    m["trace.overhead_share"] = m["trace.overhead_s"] / untraced_batch_s
    return m


def metric_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line."""
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})
