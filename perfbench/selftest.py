#!/usr/bin/env python3
"""Self-test of the benchmark harness's arithmetic, without a JVM.

    python3 perfbench/selftest.py
"""
import sys

sys.dont_write_bytecode = True
import metrics  # noqa: E402


def check(name, cond):
    print(("ok   " if cond else "FAIL ") + name)
    return bool(cond)


def record(ops, checks=(), workload="queries"):
    return {"workload": workload, "setup": [], "checks": list(checks),
            "passes": [{"traced": False, "seconds": 1.0, "ops": ops}]}


def op(ok=True, items=1, s=1.0, layer="queries"):
    return {"layer": layer, "name": "x", "s": s, "items": items, "ok": ok}


def main():
    ok = True
    # driver gap: overlapping jobs are counted once, jobs are clipped to
    # the span, and a span without jobs is all gap
    ok &= check("union of overlapping intervals",
                metrics.union_length([(0, 4), (2, 6), (8, 9)]) == 7)
    ok &= check("driver gap with overlapping jobs",
                metrics.driver_gap(0, 10, [(1, 5), (3, 7), (6, 8)]) == 3)
    ok &= check("driver gap clips jobs to the span",
                metrics.driver_gap(10, 20, [(5, 12), (18, 30)]) == 6)
    ok &= check("driver gap without jobs", metrics.driver_gap(0, 5, []) == 5)
    # percentile rule: p90 of n samples is backed by ten samples beyond
    # it from n = 100 on, and not before
    ok &= check("p90 of 100 samples has ten beyond",
                metrics.samples_beyond(100, 90) == 10)
    ok &= check("p90 of 99 samples has fewer than ten beyond",
                metrics.samples_beyond(99, 90) < 10)
    xs = list(range(1, 101))
    ok &= check("p90 interpolates", abs(metrics.percentile(xs, 90) - 90.1) < 1e-9)
    ok &= check("p50 of an even count is the midpoint",
                metrics.percentile([1, 2, 3, 4], 50) == 2.5)
    # failure accounting: a thrown operation, and a failed output check,
    # each raise the failed count; pipeline operations count files
    a, f = metrics.attempts(record([op(), op(), op(), op()]))
    ok &= check("clean run has no failures", (a, f) == (4, 0))
    a, f = metrics.attempts(record([op(), op(), op(), op(ok=False)]))
    ok &= check("a failing operation raises fail_frac", f / a == 0.25)
    a, f = metrics.attempts(record(
        [op(), op()], [{"name": "c", "ok": False, "detail": "", "ops": 1}]))
    ok &= check("a failed check raises fail_frac", f == 1 and a == 2)
    a, f = metrics.attempts(record([op(items=40), op(items=40, ok=False)],
                                   workload="pipe_files"))
    ok &= check("pipeline failures count their files", (a, f) == (80, 40))
    # the Harrell-Davis median: the middle of a symmetric sample, and one
    # sample moving across the middle moves it by less than it moves the
    # plain median
    ok &= check("hd median of a symmetric sample is its middle",
                abs(metrics.hd_median([1, 2, 3]) - 2) < 1e-9 and
                abs(metrics.hd_median([1, 2]) - 1.5) < 1e-9 and
                metrics.hd_median([5]) == 5)
    lo = [1, 1, 1, 1, 1.1, 3, 3, 3, 3]
    hi = [1, 1, 1, 1, 2.9, 3, 3, 3, 3]
    ok &= check("hd median moves less than the plain median",
                metrics.hd_median(hi) - metrics.hd_median(lo) <
                (metrics.percentile(hi, 50) - metrics.percentile(lo, 50)) / 2)
    # end-to-end figures are medians over the untraced passes
    rec = record([])
    rec["passes"] = [{"traced": tr, "seconds": t,
                      "ops": [op(s=t / 2, items=10)] * 2}
                     for tr, t in ((False, 9.0), (False, 4.0), (False, 5.0),
                                   (True, 1.0))]
    rec["setup"] = [{"session_s": 1.0, "warmup_s": x} for x in (9, 1, 2)]
    m = metrics.end_to_end(rec)
    ok &= check("end-to-end figures are medians over untraced passes",
                m["setup_s"][0] == 3.0 and m["wall_s"][0] == 5.0 and
                abs(m["op_p50_s"][0] - 2.5) < 1e-9 and
                m["items_per_s"][0] == 4.0)
    # the pipeline split: one BatchPipeline.run span, its time split by
    # stack samples and its jobs by call site; every part adds up to it
    span = {"id": 1, "layer": "operators.BatchPipeline", "t0": 0, "t1": 100,
            "extras": {"spawns": 20, "quarantined": 1},
            "worker_ms": {"operators.PipeTransform": 50.0},
            "segments": [["sources.FileIngest", 0, 10],
                         ["operators.PipeTransform", 10, 15],
                         ["sinks.NamedSink", 15, 60],
                         ["operators.BatchPipeline", 60, 100]]}
    jobs = [{"span": 1, "start": 20, "end": 50, "site": "NamedSink.scala",
             "tasks": 4, "run_ms": 80, "shuffle_bytes": 0, "scan_bytes": 9},
            {"span": 1, "start": 70, "end": 80,
             "site": "CompletableFuture.java", "tasks": 1, "run_ms": 5,
             "shuffle_bytes": 7, "scan_bytes": 0}]
    rec = dict(record([]), spans=[span], jobs=jobs, planned=[], setup=[
        {"session_s": 1.0, "warmup_s": 1.0}], probe_before=0.1,
        probe_after=0.1)
    rec["passes"][0]["traced"] = True
    m = metrics.per_layer(rec, 1.0)
    ok &= check("pipeline parts take the sampled time",
                [m[f"{x}.wall_s"][0] for x in metrics.LAYERS
                 if x in metrics.PIPELINE_PARTS] == [0.01, 0.005, 0.045, 0.04])
    ok &= check("a job goes to the layer of its call site",
                m["sinks.NamedSink.jobs"][0] == 1 and
                m["operators.BatchPipeline.jobs"][0] == 1 and
                m["operators.PipeTransform.jobs"][0] == 0)
    ok &= check("a part's driver gap is its time outside any job",
                abs(m["sinks.NamedSink.driver_gap_s"][0] - 0.015) < 1e-12 and
                abs(m["operators.BatchPipeline.driver_gap_s"][0] - 0.03)
                < 1e-12)
    ok &= check("spawn time is sampled task-thread time per spawn",
                m["operators.PipeTransform.spawn_ms_per_file"][0] == 2.5)
    q = {"t0": 10, "t1": 20}
    ok &= check("planning counts in the span it began in",
                metrics.planned_in(q, [(9, 1.0), (10, 0.5), (20, 0.25),
                                       (21, 2.0)]) == 0.75)
    ok &= check("per-layer names fit the contract",
                len(metrics.per_layer_names()) <= 128 and
                len(set(metrics.per_layer_names())) ==
                len(metrics.per_layer_names()))
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
