"""Turn one raw run record of the JVM harness into the reported metrics.

Pure functions only, so selftest.py can check them without a JVM.
"""
import math
import statistics

# Operations that are reader calls. They are timed, but they do not
# count towards the per-operation latency and throughput of a workload.
READ_LAYER = "streaming.read"

LAYERS = [
    "queries",
    "operators.Dedup", "operators.Similarity", "operators.AnnIndex",
    "streaming.TableSync", "streaming.AggSync",
    "streaming.DedupSync", "streaming.VecDedupSync", "streaming.read",
    "sources.FileIngest", "operators.PipeTransform", "sinks.NamedSink",
    "operators.BatchPipeline", "streaming.JobStream",
]
COMMON = ["calls", "wall_s", "jobs", "tasks", "task_run_s",
          "shuffle_bytes", "driver_gap_s"]
# layer -> extras, each summed over the layer's spans unless listed in
# DERIVED below
EXTRAS = {
    "queries": ["plan_s", "scan_bytes"],
    "operators.Dedup": ["plan_s"],
    "operators.Similarity": ["plan_s"],
    "operators.AnnIndex": ["plan_s"],
    "streaming.TableSync": ["bytes_written", "files_written"],
    "streaming.AggSync": ["bytes_written", "files_written"],
    "streaming.DedupSync": ["bytes_written", "files_written"],
    "streaming.VecDedupSync": ["bytes_written", "files_written"],
    "streaming.read": ["files_read"],
    "sources.FileIngest": ["files_listed"],
    "operators.PipeTransform": ["spawns", "spawn_ms_per_file"],
    "sinks.NamedSink": ["files_published", "bytes_published"],
    "operators.BatchPipeline": ["quarantined", "ok_frac"],
    "streaming.JobStream": ["micro_batches"],
}
DERIVED = {"scan_bytes", "spawn_ms_per_file", "ok_frac"}

# BatchPipeline.run is traced as one call; these are the layers its time
# and jobs are split among. A job goes to the layer of the source file
# that submitted it (Spark's call site), any other job to the pipeline.
PIPELINE = "operators.BatchPipeline"
SITES = {"FileIngest.scala": "sources.FileIngest",
         "PipeTransform.scala": "operators.PipeTransform",
         "NamedSink.scala": "sinks.NamedSink"}
PIPELINE_PARTS = set(SITES.values()) | {PIPELINE}


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def hd_median(xs):
    """Harrell-Davis estimate of the median: a mean of all order
    statistics, the i-th of n weighted by the Beta((n+1)/2, (n+1)/2)
    mass on [(i-1)/n, i/n], so it rests on the samples around the
    middle, not on the middle one alone.
    """
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    a = (n + 1) / 2.0

    def mass(lo, hi, m=64):  # Simpson's rule; the density is smooth
        h = (hi - lo) / m
        f = [((lo + k * h) * (1 - lo - k * h)) ** (a - 1)
             for k in range(m + 1)]
        return h / 3 * (f[0] + f[-1] + 4 * sum(f[1:-1:2]) +
                        2 * sum(f[2:-1:2]))

    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, s)) / sum(w)


def samples_beyond(n, q):
    """How many of n samples rank beyond the q-th percentile: the tail
    that backs the reading. A p90 needs 100 samples to rest on ten."""
    return n - math.ceil(n * q / 100.0)


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def driver_gap(span_t0, span_t1, jobs):
    """Span time not covered by any of its jobs, in the span's units."""
    clipped = [(max(s, span_t0), min(e, span_t1)) for s, e in jobs]
    return (span_t1 - span_t0) - union_length(clipped)


def attempts(rec):
    """(attempted, failed) over the recorded passes and the checks.

    An operation is one query, one sink or reader call, or, for the file
    pipeline, one file. A thrown operation and every operation an output
    check proves wrong count as failed.
    """
    per_file = rec["workload"] == "pipe_files"
    attempted = failed = 0
    for p in rec["passes"]:
        for o in p["ops"]:
            w = max(1, o["items"]) if per_file else 1
            attempted += w
            failed += 0 if o["ok"] else w
    for c in rec["checks"]:
        if not c["ok"]:
            failed += max(1, c["ops"])
    attempted = max(1, attempted)
    return attempted, min(failed, attempted)


def _ops(rec, traced):
    return [o for p in rec["passes"] if p["traced"] == traced
            for o in p["ops"]]


def op_samples(rec):
    """Untraced operations the latency percentiles are taken over."""
    return sum(1 for o in _ops(rec, False) if o["layer"] != READ_LAYER)


def end_to_end(rec):
    """Set-up is the median of the set-ups; every other figure is taken
    per untraced pass, and the run reports its median over the passes,
    so a pass the machine slowed does not move it.
    """
    setup = [s["session_s"] + s["warmup_s"] for s in rec["setup"]]
    walls, p50s, rates = [], [], []
    for p in rec["passes"]:
        if p["traced"]:
            continue
        ops = [o for o in p["ops"] if o["layer"] != READ_LAYER]
        lat = [o["s"] for o in ops]
        walls.append(p["seconds"])
        p50s.append(hd_median(lat))
        rates.append(sum(o["items"] for o in ops if o["ok"]) / sum(lat))
    return {
        "setup_s": (statistics.median(setup), "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(p50s), "s"),
        "items_per_s": (statistics.median(rates), "1/s"),
    }


def planned_in(span, planned):
    """Planning seconds of the query executions that began in a span."""
    return sum(sec for start, sec in planned
               if span["t0"] <= start <= span["t1"])


def calls_of(rec, layer):
    """One dict per call into a layer: its wall time, driver gap, jobs
    and extras.

    The file-pipeline layers are not spanned separately: the real
    BatchPipeline.run is one span, and its time is split among the
    objects it calls by the stack samples (segments) of the calling
    thread, its jobs by the source file that submitted them.
    """
    jobs_by_span = {}
    for j in rec.get("jobs", []):
        end = j["end"] if j["end"] >= j["start"] else j["start"]
        jobs_by_span.setdefault(j["span"], []).append(dict(j, end=end))
    planned = rec.get("planned", [])
    out = []
    if layer not in PIPELINE_PARTS:
        for s in rec.get("spans", []):
            if s["layer"] != layer:
                continue
            jobs = jobs_by_span.get(s["id"], [])
            extras = dict(s["extras"])
            if "plan_s" in EXTRAS[layer]:
                extras["plan_s"] = planned_in(s, planned)
            out.append({
                "wall": s["t1"] - s["t0"], "jobs": jobs, "extras": extras,
                "gap": driver_gap(s["t0"], s["t1"],
                                  [(j["start"], j["end"]) for j in jobs])})
        return out
    for s in rec.get("spans", []):
        if s["layer"] != PIPELINE:
            continue
        every = [(j["start"], j["end"]) for j in jobs_by_span.get(s["id"], [])]
        jobs = [j for j in jobs_by_span.get(s["id"], [])
                if SITES.get(j["site"], PIPELINE) == layer]
        segs = [(t0, t1) for obj, t0, t1 in s.get("segments", [])
                if obj == layer]
        if not segs and not jobs:
            continue
        out.append({
            "wall": sum(t1 - t0 for t0, t1 in segs), "jobs": jobs,
            "gap": sum(driver_gap(t0, t1, every) for t0, t1 in segs),
            "extras": {x: s["extras"][x] for x in EXTRAS[layer]
                       if x in s["extras"]}})
    return out


def per_layer(rec, peak_rss_mb):
    """Per-layer numbers of the traced passes, each per traced pass."""
    n = max(1, sum(1 for p in rec["passes"] if p["traced"]))
    out = {}
    for layer in LAYERS:
        calls = calls_of(rec, layer)
        jobs = [j for c in calls for j in c["jobs"]]
        run_ms = sum(j["run_ms"] for j in jobs)
        vals = {
            "calls": (len(calls), "count"),
            "wall_s": (sum(c["wall"] for c in calls) / 1e3, "s"),
            "jobs": (len(jobs), "count"),
            "tasks": (sum(j["tasks"] for j in jobs), "count"),
            "task_run_s": (run_ms / 1e3, "s"),
            "shuffle_bytes": (sum(j["shuffle_bytes"] for j in jobs), "bytes"),
            "driver_gap_s": (sum(c["gap"] for c in calls) / 1e3, "s"),
        }
        for x in EXTRAS[layer]:
            if x in DERIVED:
                continue
            unit = "s" if x.endswith("_s") else (
                "bytes" if x.startswith("bytes") else "count")
            vals[x] = (sum(c["extras"].get(x, 0.0) for c in calls), unit)
        for k, (v, u) in vals.items():
            out[f"{layer}.{k}"] = (v / n, u)
        if layer == "queries":
            out["queries.scan_bytes"] = (
                sum(j["scan_bytes"] for j in jobs) / n, "bytes")
        if layer == "operators.PipeTransform":
            # task-thread time with PipeTransform on the stack, sampled,
            # whichever job ran the command
            spawns = sum(c["extras"].get("spawns", 0.0) for c in calls)
            busy_ms = sum(s.get("worker_ms", {}).get(layer, 0.0)
                          for s in rec.get("spans", [])
                          if s["layer"] == PIPELINE)
            out[f"{layer}.spawn_ms_per_file"] = (
                busy_ms / spawns if spawns else 0.0, "ms")
        if layer == PIPELINE:
            oks = [c["extras"]["ok_frac"] for c in calls
                   if "ok_frac" in c["extras"]]
            out[f"{layer}.ok_frac"] = (
                statistics.mean(oks) if oks else 0.0, "ratio")
    setup = rec["setup"]
    out["Engine.session_s"] = (
        statistics.median(s["session_s"] for s in setup), "s")
    out["Engine.warmup_s"] = (
        statistics.median(s["warmup_s"] for s in setup), "s")
    traced = [p["seconds"] for p in rec["passes"] if p["traced"]]
    plain = [p["seconds"] for p in rec["passes"] if not p["traced"]]
    out["trace.overhead"] = (
        statistics.median(traced) / statistics.median(plain)
        if traced and plain else 0.0, "ratio")
    reads = [o["s"] for o in _ops(rec, False) if o["layer"] == READ_LAYER]
    out["streaming.read.p50_s"] = (
        percentile(reads, 50) if reads else 0.0, "s")
    out["streaming.space_amp"] = (
        rec.get("stats", {}).get("space_amp", 0.0), "ratio")
    out["machine.probe_before_s"] = (rec["probe_before"], "s")
    out["machine.probe_after_s"] = (rec["probe_after"], "s")
    out["peak_rss_mb"] = (peak_rss_mb, "MB")
    return out


def per_layer_names():
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{k}" for k in COMMON + EXTRAS[layer]]
    return names + ["Engine.session_s", "Engine.warmup_s", "trace.overhead",
                    "streaming.read.p50_s", "streaming.space_amp",
                    "machine.probe_before_s", "machine.probe_after_s",
                    "peak_rss_mb"]
