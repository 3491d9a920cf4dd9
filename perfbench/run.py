"""dedupe_spark benchmark: one command, every metric, every check.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads are described in
``workloads.py`` and ``README.md``. Load is one closed-loop client in one
process on ``local[<cpus>]``: each operation starts when the previous
one returns. A labeling session's opening calls are an untimed warm-up
counted in ``setup_s``; a crawl batch, being a batch job, is measured
with its cold start.

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` opens a span per layer, enables Spark's event log and
reports the per-layer metrics instead. Human-readable lines (every metric
by name with its unit and sample count, the session settings, any failed
check) come first; the last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import harness  # noqa: E402  (sibling module; the script's directory is on sys.path)

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "cycle_s": "s",
    "peak_rss_mb": "MB",
}

SPANS = (
    "warc.ingest",
    "pipeline.records",
    "pipeline.blocks",
    "pipeline.candidate_pairs",
    "pipeline.scored_pairs",
    "pipeline.cluster_assignments",
    "pipeline.clusters",
    "dedup.exact",
    "dedup.minhash",
    "api.prepare_training",
    "api.uncertain_pairs",
    "api.train",
    "api.partition",
)
SPAN_COUNTERS = {
    "s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_write_mb": "MB",
    "py_start_s": "s",
    "py_init_s": "s",
    "py_run_s": "s",
}
ROW_SPANS = tuple(s for s in SPANS if s.startswith(("pipeline.", "dedup.")))
OTHER_LAYER = {
    "pairwise_f1": "ratio",
    "pipeline.run.self_s": "s",
    "pipeline.scored_pairs.pairs_per_s": "1/s",
    "pipeline.useful_ratio": "ratio",
    "pipeline.bytes_written_mb": "MB",
    "pipeline.workdir_mb": "MB",
    "spark.gc_s": "s",
    "trace.overhead": "ratio",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
}

# largest share of a traced crawl batch's wall time its top-level spans
# may leave unaccounted
TRACE_TOLERANCE = 0.05
INPUT_REPEATS = 3


def per_layer_units() -> dict[str, str]:
    units = {}
    for span in SPANS:
        for counter, unit in SPAN_COUNTERS.items():
            units[f"{span}.{counter}"] = unit
        if span in ROW_SPANS:
            units[f"{span}.rows"] = "count"
    units.update(OTHER_LAYER)
    return units


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(spans, counters, results, setup) -> dict[str, float]:
    """Per-layer values of a traced run, warm-up included: every span
    figure is a mean per occurrence of that span."""
    out: dict[str, float] = {}
    for name in SPANS:
        inst = [s for s in spans if s["name"] == name]
        out[f"{name}.s"] = _mean(_dur(s) for s in inst)
        for counter in SPAN_COUNTERS:
            if counter != "s":
                out[f"{name}.{counter}"] = _mean(
                    counters.get(s["group"], {}).get(counter, 0) for s in inst
                )
        if name in ROW_SPANS:
            out[f"{name}.rows"] = _mean(s["rows"] for s in inst)
    runs = [s for s in spans if s["name"] == "pipeline.run"]
    children: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + _dur(s)
    out["pipeline.run.self_s"] = _mean(_dur(s) - children.get(s["group"], 0.0) for s in runs)
    out["pipeline.scored_pairs.pairs_per_s"] = _mean(
        s["rows"] / _dur(s) for s in spans if s["name"] == "pipeline.scored_pairs"
    )
    for key in ("useful_ratio", "bytes_written_mb", "workdir_mb"):
        out[f"pipeline.{key}"] = _mean(s[key] for s in runs)
    out["spark.gc_s"] = sum(c["gc_s"] for c in counters.values())
    op_wall = sum(r["wall_s"] for r in results if "wall_s" in r)
    barrier = sum(_dur(s) for s in spans if s.get("barrier"))
    out["trace.overhead"] = barrier / op_wall if op_wall else 0.0
    out.update({f"setup.{k}": v for k, v in setup.items()})
    return out


def check_trace_accounting(spans, results) -> None:
    """Each traced crawl batch's top-level spans (ingest, pipeline run,
    dedup passes, barriers) must cover its wall time; the pipeline run
    itself is its stage spans plus ``pipeline.run.self_s``."""
    for r in results:
        if r["kind"] != "crawl" or "wall_s" not in r:
            continue
        top = sum(_dur(s) for s in spans if s["op"] == r["op"] and s["parent"] is None)
        if abs(r["wall_s"] - top) > TRACE_TOLERANCE * r["wall_s"]:
            r.setdefault(
                "error", f"spans cover {top:.2f} s of a {r['wall_s']:.2f} s operation"
            )


def end_to_end_metrics(workload: str, results, cycles, setup_s: float, peak_rss: int):
    """The end-to-end values plus the workload's own named timings as
    ``(name, value, unit, sample count)`` rows for the human-readable
    report. ``results`` are the timed operations, ``cycles`` the wall
    times of the timed cycles."""
    ok = [r for r in results if "error" not in r]

    def walls(kind):
        return [r["wall_s"] for r in ok if r["kind"] == kind]

    if workload == "crawl_batch":
        crawl = [r for r in ok if r["kind"] == "crawl"]
        op = [r["pipeline_s"] for r in crawl]
        dedup = [r["dedup_s"] for r in crawl]
        f1 = [r["f1"] for r in crawl]
        named = [
            ("crawl_pages_per_s", crawl[0]["pages"] / statistics.median(cycles), "1/s", len(cycles)),
            ("crawl_pipeline_p50_s", statistics.median(op), "s", len(op)),
            ("crawl_dedup_p50_s", statistics.median(dedup), "s", len(dedup)),
        ]
    else:
        op = walls("uncertain_pairs")
        f1 = [r["f1"] for r in ok if r["kind"] == "partition"]
        named = [
            ("click_p50_s", statistics.median(op), "s", len(op)),
            ("train_p50_s", statistics.median(walls("train")), "s", len(walls("train"))),
            ("partition_s", statistics.median(walls("partition")), "s", len(walls("partition"))),
            ("session_s", statistics.median(cycles), "s", len(cycles)),
        ]
    named.append(("pairwise_f1", statistics.median(f1), "ratio", len(f1)))
    if len(op) > 1:
        named.append(("aging_first_to_last", op[0] / op[-1], "ratio", len(op)))
    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(op),
        "cycle_s": statistics.median(cycles),
        "peak_rss_mb": peak_rss / 2**20,
    }
    counts = {"op_p50_s": len(op), "cycle_s": len(cycles)}
    pct = harness.high_percentile(op)
    if pct is not None:
        named.append((f"op_p{pct[0]:g}_s", pct[1], "s", len(op)))
    return values, counts, named


def run(args, work: str) -> int:
    settings = harness.box_settings(work)
    rss = harness.RssSampler()
    rss.start()
    try:
        t0 = time.perf_counter()
        from dedupe_spark.session import get_spark

        extra = None
        log_dir = os.path.join(work, "eventlog")
        if args.trace:
            os.makedirs(log_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        spark = get_spark("perfbench", extra_conf=extra)
        import workloads

        session_s = time.perf_counter() - t0

        tracer = harness.Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        input_times = []
        for _ in range(INPUT_REPEATS):
            t = time.perf_counter()
            wl.make_inputs()
            input_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.warm_up()
        setup = {
            "session_s": session_s,
            "inputs_s": statistics.median(input_times),
            "warmup_s": time.perf_counter() - t,
        }
        results = wl.measure(args.seconds)
        spark.stop()
    finally:
        rss.stop()

    counters = {}
    if args.trace:
        import eventlog

        (log,) = os.listdir(log_dir)
        counters = eventlog.read_group_counters(os.path.join(log_dir, log))
        check_trace_accounting(tracer.spans, results)

    ops = [*warm, *results]
    failed = [r for r in ops if "error" in r]
    for r in failed:
        print(f"FAILED {r['kind']}: {r['error']}", file=sys.stderr)
    setup_s = sum(setup.values())
    try:
        values, counts, named = end_to_end_metrics(
            args.workload, results, wl.cycles, setup_s, rss.peak
        )
    except (ValueError, ZeroDivisionError, IndexError) as exc:
        # statistics.median of no samples: every timed operation failed
        print(f"no successful operation to measure: {exc}", file=sys.stderr)
        return 1

    print("settings " + " ".join(f"{k}={v}" for k, v in settings.items()))
    print(
        f"setup_s {setup_s:.3f} s (session {setup['session_s']:.3f} s, "
        f"inputs {setup['inputs_s']:.3f} s median of {INPUT_REPEATS}, "
        f"warm-up {setup['warmup_s']:.3f} s)"
    )
    print(f"error_rate {len(failed) / len(ops):.4f} ratio ({len(failed)} of {len(ops)} operations)")
    for name, unit in END_TO_END.items():
        n = counts.get(name)
        print(f"{name} {values[name]:.4f} {unit}" + (f" n={n}" if n else ""))
    for name, value, unit, n in named:
        print(f"{name} {value:.4f} {unit} n={n}")

    if args.trace:
        layer = layer_metrics(tracer.spans, counters, ops, setup)
        layer["pairwise_f1"] = next(v for n, v, _, _ in named if n == "pairwise_f1")
        units = per_layer_units()
        for name, unit in units.items():
            print(f"{name} {layer[name]:.4f} {unit}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        with open(os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "counters": counters, "results": results}, fh)
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl_batch", "label_session"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dedupe_spark", "__init__.py")):
        print(f"no dedupe_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    harness.adopt_orphans()
    try:
        return run(args, work)
    finally:
        # the JVM would otherwise outlive this process for a moment
        harness.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
