"""Extraction benchmark: seeded workloads, checked outputs, one JSON line.

    python3 perfbench/run.py --workload zipf_html --seed 1 --seconds 28 --trace 0

Run from the repository root.  Workloads: zipf_html, small_pages,
resume_job, pdf_layout (see METRICS.md).  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones from a separate
traced run.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is
nonzero on any wrong output or failed measurement guard.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_PASSES = 5
MAX_PASSES = 50
TRACED_PASSES = 2
# workloads outside BENCHMARK.json whose layers every traced run measures
COMPANIONS = ("pdf_layout", "resume_job")

END_TO_END = {
    "docs_per_s": "1/s",
    "doc_ms_p50": "ms",
    "doc_ms_p99": "ms",
    "setup_s": "s",
    "ok_frac": "frac",
    "worker_rss_mb": "MB",
}
PER_LAYER = {
    "dom.parse.self_s": "s",
    "dom.parse.mb_per_s": "MB/s",
    "transform.sections.self_s": "s",
    "transform.metadata.self_s": "s",
    "serialize.self_s": "s",
    "gridtable.self_s": "s",
    "gridtable.calls": "count",
    "boilerplate.select.self_s": "s",
    "boilerplate.select.calls": "count",
    "html2md.self_s": "s",
    "extract.row.self_s": "s",
    "extract.decompose.self_s": "s",
    "extract.assemble_s": "s",
    "extract.crossing_s": "s",
    "extract.transform_s": "s",
    "extract.task_skew": "ratio",
    "extract.shuffle_write_mb": "MB",
    "extract.gc_s": "s",
    "extract.spill_mb": "MB",
    "job.remaining_s": "s",
    "job.write_s": "s",
    "job.bytes_out_per_byte_in": "ratio",
    "job.files_written": "count",
    "pdf.parse.self_s": "s",
    "pdf.parse.calls": "count",
    "pdf.task_skew": "ratio",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_frac": "frac",
}


T0 = time.perf_counter()


def log(**fields) -> None:
    fields["t"] = round(time.perf_counter() - T0, 3)
    print("perfbench " + json.dumps(fields, sort_keys=True), flush=True)


def percentile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-th percentile: a mean of all order
    statistics weighted by a beta density centred on rank p, so one
    document's noisy latency moves it far less than the nearest rank."""
    s = sorted(values)
    n = len(s)
    a, b = p / 100 * (n + 1), (1 - p / 100) * (n + 1)
    steps = 16  # density points per rank interval
    logs = [
        (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
        for x in ((j + 0.5) / (n * steps) for j in range(n * steps))
    ]
    top = max(logs)
    w = [
        sum(math.exp(v - top) for v in logs[i * steps:(i + 1) * steps])
        for i in range(n)
    ]
    return sum(wi * si for wi, si in zip(w, s)) / sum(w)


def timed_calls(wl, calls) -> tuple[list[float], int]:
    """Library latency (ms) of each ``(index, item)`` call, single-threaded,
    no Spark.  The benchmark's own objects (corpus rows, session handles)
    are frozen out of the cyclic collector first, so collections walk
    only what the library allocates, as in a process serving requests."""
    lat = []
    failed = 0
    call = wl.lib_call
    gc.collect()
    gc.freeze()
    try:
        for _, item in calls:
            t0 = time.perf_counter()
            ok = call(item)
            lat.append((time.perf_counter() - t0) * 1000)
            failed += not ok
    finally:
        gc.unfreeze()
    return lat, failed


def paired_loop(wl, tracer) -> tuple[float, float, int]:
    """Each library call twice, once plain and once traced, alternating
    which goes first; returns (plain seconds, traced seconds, failed)."""
    from perfbench.trace import layer_patches

    patches = layer_patches()
    plain_s = traced_s = 0.0
    failed = 0
    gc.collect()
    gc.freeze()
    try:
        for k, item in enumerate(wl.items):
            for traced in (False, True) if k % 2 else (True, False):
                if traced:
                    with tracer.patched(patches):
                        t0 = time.perf_counter()
                        failed += not wl.lib_call(item)
                        traced_s += time.perf_counter() - t0
                else:
                    t0 = time.perf_counter()
                    failed += not wl.lib_call(item)
                    plain_s += time.perf_counter() - t0
    finally:
        gc.unfreeze()
    return plain_s, traced_s, failed


def set_up(bench, wl, after_each=None) -> tuple[float, float]:
    """SETUPS times: build_session, then the untimed warm-up pass.

    Returns (session start, warm-up) of the set-up with the median sum.
    Every set-up after the first restarts the session inside the same
    JVM; ``after_each`` runs after each set-up, outside its timing.  The
    worker-import probe runs once, on the last session."""
    runs = []
    for i in range(SETUPS):
        if i:
            bench.stop()
        start_s = bench.start()
        t0 = time.perf_counter()
        wl.warmup()
        runs.append((start_s, time.perf_counter() - t0))
        if after_each:
            after_each()
    bench.probe_workers()
    log(setups=[[round(a, 3), round(b, 3)] for a, b in runs])
    runs.sort(key=sum)
    return runs[len(runs) // 2]


def measure(bench, wl, seconds: float) -> dict:
    """Timed Spark passes interleaved with the latency loop.

    The latency calls are cut into SETUPS + MIN_PASSES segments: one
    after each set-up (outside its timing) and one before each of the
    first MIN_PASSES passes; passes then continue until ``seconds`` have
    gone by.  Item k runs ``wl.reps()[k]`` times, in segments spread
    evenly over the run, so its runs lie far apart in time.  A
    document's latency is the median of its runs: on a shared host other
    tenants slow a call of tens of milliseconds by up to 1.5x, and the
    fastest of a few runs depends on luck far more than their median
    does."""
    from perfbench.harness import RssSampler

    reps = wl.reps()
    n_seg = SETUPS + MIN_PASSES
    segs = [[] for _ in range(n_seg)]
    for k, r in enumerate(reps):
        # offset by k, so neighbouring (similar-sized) items fall in
        # different segments and the segments cost about the same
        for j in range(r):
            segs[(k + j * n_seg // r) % n_seg].append((k, wl.items[k]))
    for j, seg in enumerate(segs):
        # a new order in each segment, so the collector's pauses, which
        # follow the allocation sequence, fall on different documents
        random.Random(j).shuffle(seg)
    segments = iter(segs)
    runs_ms = [[] for _ in wl.items]
    attempted = failed = 0

    def latency_segment():
        nonlocal attempted, failed
        chunk = next(segments, [])
        if chunk:
            lat, bad = timed_calls(wl, chunk)
            for (k, _), ms in zip(chunk, lat):
                runs_ms[k].append(ms)
            attempted += len(lat)
            failed += bad

    start_s, warm_s = set_up(bench, wl, after_each=latency_segment)
    more, bad = wl.settle()
    attempted += more
    failed += bad
    deadline = time.perf_counter() + seconds
    rates, walls = [], []
    peak_mb = 0.0
    while len(rates) < MIN_PASSES or (
        time.perf_counter() < deadline and len(rates) < MAX_PASSES
    ):
        latency_segment()
        with RssSampler() as rss:
            n, wall, bad = wl.timed_pass(f"pass-{len(rates)}")
        peak_mb = max(peak_mb, rss.peak_mb)
        rates.append(n / wall)
        walls.append(round(wall, 3))
        attempted += n
        failed += bad
    more, bad = wl.post_checks()
    attempted += more
    failed += bad
    lat_ms = [statistics.median(r) for r in runs_ms]
    q1, q2, q3 = statistics.quantiles(rates, n=4)
    log(
        pass_walls=walls, docs_per_s_quartiles=[q1, q2, q3],
        latency_samples=len(lat_ms), failed=failed, attempted=attempted,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": statistics.median(rates),
            "doc_ms_p50": percentile(lat_ms, 50),
            "doc_ms_p99": percentile(lat_ms, 99),
            "setup_s": start_s + warm_s,
            "ok_frac": 1 - failed / attempted,
            "worker_rss_mb": peak_mb,
        },
    }


def traced(bench, wl) -> dict:
    """The separate traced run: library spans, plan decomposition and the
    Spark event log of traced passes.  It also runs one pass of each
    workload that reaches a layer ``wl`` never does (``COMPANIONS``), so
    every layer is measured in the traced run of every workload."""
    from perfbench import eventlog
    from perfbench.trace import Tracer, layer_patches
    from perfbench.workloads import WORKLOADS

    start_s, warm_s = set_up(bench, wl)
    attempted, failed = wl.settle()
    runs = {wl.name: wl}
    for name in COMPANIONS:
        if name not in runs:
            other = WORKLOADS[name](bench, wl.seed, wl.cache_dir, wl.data_dir)
            other.prepare()
            other.warmup()
            more, bad = other.settle()
            attempted += more
            failed += bad
            runs[name] = other

    lib = {}
    for name, w in runs.items():
        if name not in (wl.name, "pdf_layout"):
            continue  # resume_job's library calls are zipf_html's
        tracer = Tracer()
        plain_s, traced_s, bad = paired_loop(w, tracer)
        failed += bad
        attempted += 2 * len(w.items)
        lib[name] = tracer.summary()
        if w is wl:
            overhead = traced_s / plain_s - 1
            tracer.write(os.path.join(WORK, f"trace-{wl.name}-s{wl.seed}.jsonl"))

    stage_s = {}
    if wl.html:
        for name, build in wl.stages():
            df = build(bench.salted(wl.stage_input()))
            t0 = time.perf_counter()
            bench.action(
                f"stage-{name}",
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
            stage_s[name] = time.perf_counter() - t0

    spark_tracer = Tracer()
    groups = {name: [f"traced-{name}"] for name in runs}
    groups[wl.name] = [f"traced-{wl.name}-{k}" for k in range(TRACED_PASSES)]
    with spark_tracer.patched(layer_patches()):
        for name, w in runs.items():
            for g in groups[name]:
                n, _, bad = w.timed_pass(g)
                attempted += n
                failed += bad
    io = runs["resume_job"].last_io
    app_id = bench.spark.sparkContext.applicationId
    bench.stop()
    stats = eventlog.stage_stats(eventlog.find_log(bench.event_log_dir, app_id))
    jobs = spark_tracer.summary()
    html = lib[wl.name] if wl.html else {}
    pdf = lib["pdf_layout"]

    def self_s(name, spans=html):
        return spans.get(name, {}).get("self_s", 0.0)

    def calls(name, spans=html):
        return spans.get(name, {}).get("calls", 0)

    def per_pass(name, field, python_only=False, agg=sum):
        """Median over ``name``'s traced passes of ``agg`` over stages."""
        vals = []
        for g in groups[name]:
            stages = stats.get(g, [])
            if python_only:
                stages = [s for s in stages if s["python"]]
            vals.append(agg([s[field] for s in stages] or [0]))
        return statistics.median(vals)

    def extract_stat(field, python_only=False, agg=sum):
        """An event-log figure of the workload's own extraction passes."""
        return per_pass(wl.name, field, python_only, agg) if wl.html else 0.0

    def job_s(name):
        runs = jobs.get("job.run", {}).get("calls", 0)
        return jobs.get(name, {}).get("total_s", 0.0) / runs if runs else 0.0

    dom_s = self_s("dom.parse")
    dom_mb = html.get("dom.parse", {}).get("bytes", 0) / 1e6
    assemble_s = stage_s.get("assemble", 0.0)
    crossing_s = stage_s.get("crossing", assemble_s)
    m = {
        "dom.parse.self_s": dom_s,
        "dom.parse.mb_per_s": dom_mb / dom_s if dom_s else 0.0,
        "transform.sections.self_s": self_s("transform.sections"),
        "transform.metadata.self_s": self_s("transform.metadata"),
        "serialize.self_s": self_s("serialize"),
        "gridtable.self_s": self_s("gridtable"),
        "gridtable.calls": calls("gridtable"),
        "boilerplate.select.self_s": self_s("boilerplate.select"),
        "boilerplate.select.calls": calls("boilerplate.select"),
        "html2md.self_s": self_s("html2md"),
        "extract.row.self_s": self_s("extract.row"),
        "extract.decompose.self_s": self_s("extract.decompose"),
        "extract.assemble_s": assemble_s,
        "extract.crossing_s": crossing_s - assemble_s,
        "extract.transform_s": (
            stage_s.get("transform", crossing_s) - crossing_s
        ),
        "extract.task_skew": extract_stat("skew", True, max),
        "extract.shuffle_write_mb": extract_stat("shuffle_write_mb"),
        "extract.gc_s": extract_stat("gc_s"),
        "extract.spill_mb": extract_stat("spill_mb"),
        "job.remaining_s": job_s("job.remaining"),
        "job.write_s": job_s("job.write"),
        "job.bytes_out_per_byte_in": io["bytes_out"] / io["bytes_in"],
        "job.files_written": io["files"],
        "pdf.parse.self_s": self_s("pdf.parse", pdf),
        "pdf.parse.calls": calls("pdf.parse", pdf),
        "pdf.task_skew": per_pass("pdf_layout", "skew", True, max),
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "trace.overhead_frac": overhead,
    }
    log(stages={g: stats.get(g, []) for gs in groups.values() for g in gs})
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": m,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=28)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    pkg = os.path.join(ROOT, "helix_html2md_spark")
    data = os.path.join(ROOT, "data")
    if not (os.path.isdir(pkg) and os.path.isdir(data)):
        print(f"perfbench: no engine tree at {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the script's own directory would shadow stdlib names
    from perfbench.harness import Bench, usable_cpus
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # every file Spark, the JVM and Python write stays under .perfbench;
    # the Python workers import the tree under test via PYTHONPATH
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    bench = Bench(ROOT, WORK, usable_cpus(), event_log=bool(args.trace))
    wl = WORKLOADS[args.workload](
        bench, args.seed, os.path.join(WORK, "cache"), data
    )
    t0 = time.perf_counter()
    wl.prepare()
    from perfbench.corpus import size_summary

    log(workload=wl.name, seed=args.seed, cpus=bench.cpus,
        corpus_s=round(time.perf_counter() - t0, 3), **size_summary(wl.sizes))
    try:
        if args.trace:
            result = traced(bench, wl)
        else:
            result = measure(bench, wl, args.seconds)
    finally:
        bench.shutdown()
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {
        k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
