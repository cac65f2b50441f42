"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

One process, one SparkSession at ``local[min(nproc, 4)]``:

1. render the corpus into ``perfbench/.work`` if this checkout has none
   (a separate process; input generation, not part of ``setup_s``);
2. set-up, timed as ``setup_s``: session start, the workload's corpus scan
   and ``persist``, and a discarded warm-up pass of the timed operation;
3. timed operations while another one fits in ``--seconds`` (at least
   two), each checked after its clock stops;
4. print one JSON line: ``correct``, ``attempted`` and ``failed`` pages, and
   the metrics ``BENCHMARK.json`` lists — ``end_to_end`` with ``--trace 0``,
   ``per_layer`` with ``--trace 1``. Timings are medians over the timed
   operations. ``--trace 1`` installs ``tracing.Tracer`` before set-up and
   writes its spans to ``perfbench/.work/spans-<workload>-<seed>.json``;
   its ``trace.pages_per_s`` minus the untraced ``pages_per_s`` of the same
   workload is the tracing overhead. Set-up parts and each operation's
   time go to standard error.

Exits non-zero without a result when the engine package is not next to
``perfbench/`` or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback
from statistics import median

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# a median over one operation is just that operation: take two even when
# one fills the window
MIN_OPS = 2
# stop starting operations once another one could cross this (a run must
# end within 180 s)
DEADLINE_S = 150.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def ensure_corpus() -> None:
    import corpus

    if corpus.corpus_ready():
        return
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(BENCH_DIR, "corpus.py")], check=True)
    print(f"corpus render: {time.perf_counter() - t:.1f} s", file=sys.stderr)


def per_layer(wl, tracer, rep, counts, jobs) -> dict[str, float]:
    """One timed operation's per-layer numbers (``--trace 1``)."""
    spans = tracer.layer_times(rep.out["group"])
    acc = rep.out["acc"]

    def span_s(name):
        return spans.get(name, (0.0, 0))[0]

    def calls(name):
        return float(spans.get(name, (0.0, 0))[1])

    gens = counts.get("generations", 0.0)
    crawl = wl.root_span == "frontier.run_crawl"
    n_jobs, n_stages, n_tasks = jobs
    ext_busy = acc.get("extract.busy", 0.0)
    ext_rows = acc.get("extract.rows", 0)
    return {
        "frontier.generations": gens,
        "frontier.spark_jobs": float(n_jobs) if crawl else 0.0,
        "frontier.jobs_per_gen": n_jobs / gens if gens else 0.0,
        "frontier.gen_s": rep.wall_s / gens if gens else 0.0,
        "frontier.admit_ratio": _ratio(counts.get("admitted"), counts.get("queued")),
        "frontier.fetch_hit_ratio": _ratio(counts.get("extracted"), counts.get("admitted")),
        "frontier.loop_self_s": span_s("frontier.loop_self") if crawl else 0.0,
        "ordering.assign_seq_s": span_s("ordering.assign_seq"),
        "ordering.calls": calls("ordering.assign_seq"),
        "seen.add_s": span_s("seen.add"),
        "seen.add_calls": calls("seen.add"),
        "seen.barrier_wait_s": span_s("seen.barrier"),
        "seen.filter_unseen_s": span_s("seen.filter_unseen"),
        "politeness.schedule_s": span_s("politeness.schedule"),
        "politeness.deferred": counts.get("deferred", 0.0),
        "robots.udf_busy_s": acc.get("robots.busy", 0.0),
        "robots.rows": float(acc.get("robots.rows", 0)),
        "checkpoint.commit_s": span_s("checkpoint.commit"),
        "checkpoint.commits": calls("checkpoint.commit"),
        "checkpoint.read_all_s": span_s("checkpoint.read_all"),
        "checkpoint.bytes_written": counts.get("ckpt_bytes", 0.0),
        "extract.udf_busy_s": ext_busy,
        "extract.pages": float(ext_rows),
        "extract.html_mb": acc.get("extract.bytes", 0) / 1e6,
        "extract.pages_per_core_s": ext_rows / ext_busy if ext_busy else 0.0,
        "chunker.udf_busy_s": acc.get("chunker.busy", 0.0),
        "chunker.chunks": float(acc.get("chunker.items", 0)),
        "spark.stages": float(n_stages),
        "spark.tasks": float(n_tasks),
    }


def _ratio(a, b) -> float:
    return a / b if a and b else 0.0


def run(args) -> dict:
    import corpus
    from sparkenv import start_session, stop_session
    from tracing import Tracer, job_stats, jvm_peak_rss_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    units = metric_units(args.trace)
    ensure_corpus()

    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer(spark) if args.trace else None
    try:
        if tracer is not None:
            tracer.install()
        wl = WORKLOADS[args.workload](spark, args.seed)
        sc.setJobGroup("perfbench-setup", "set-up")
        t = time.perf_counter()
        wl.load()
        corpus_load_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + corpus_load_s + warmup_s
        print(f"set-up: session {session_s:.3f} s, corpus {corpus_load_s:.3f} s, "
              f"warm-up {warmup_s:.3f} s", file=sys.stderr)

        reps, layers = [], []
        attempted = failed = 0
        t_measure = time.perf_counter()
        while True:
            group = f"perfbench-op-{len(reps) + 1}"
            sc.setJobGroup(group, "timed operation")
            before = tracer.counters() if tracer is not None else {}
            try:
                if tracer is not None:
                    tracer.rep = group
                    with tracer.span(wl.root_span):
                        rep = wl.rep()
                else:
                    rep = wl.rep()
                sc.setJobGroup("perfbench-check", "checks")
                jobs = job_stats(sc, group)
                n, wrong = wl.check(rep)
            except Exception:
                # an operation that raises fails all of its pages; stop
                traceback.print_exc()
                attempted += wl.op_pages
                failed += wl.op_pages
                break
            attempted += n
            failed += wrong
            if tracer is not None:
                after = tracer.counters()
                rep.out["group"] = group
                rep.out["acc"] = {k: after[k] - before.get(k, 0) for k in after}
                layers.append(per_layer(wl, tracer, rep, wl.layer_counts(rep), jobs))
            wl.cleanup(rep)
            reps.append(rep)
            print(f"op {len(reps)}: {rep.pages} pages in {rep.wall_s:.3f} s",
                  file=sys.stderr)
            # start another operation only if one more fits the window
            now = time.perf_counter()
            if now - t0 + rep.wall_s > DEADLINE_S or (
                len(reps) >= MIN_OPS and now - t_measure + rep.wall_s > args.seconds
            ):
                break

        values: dict[str, float] = {}
        pages_per_s = median(r.pages / r.wall_s for r in reps) if reps else 0.0
        if tracer is not None:
            if layers:
                values.update({k: median(d[k] for d in layers) for k in layers[0]})
            values.update(
                {
                    "setup.session_s": session_s,
                    "setup.corpus_load_s": corpus_load_s,
                    "setup.warmup_s": warmup_s,
                    "trace.pages_per_s": pages_per_s,
                    "error_rate": failed / attempted,
                    "scaling_eff": wl.scaling_eff() if failed == 0 else 0.0,
                    "jvm_peak_rss_mb": jvm_peak_rss_mb(sc),
                }
            )
            tracer.write(
                os.path.join(corpus.WORK, f"spans-{wl.name}-{args.seed}.json")
            )
        else:
            values.update({"pages_per_s": pages_per_s, "setup_s": setup_s})
        wl.close()
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)

    if set(values) != set(units) and (failed == 0 or set(values) - set(units)):
        raise RuntimeError(
            f"measured {sorted(values)} but BENCHMARK.json lists {sorted(units)}"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # after a failed operation, metrics it never produced read 0
        "metrics": {
            k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "eget_crawler_for_overflow_spark")):
        print("perfbench: engine package eget_crawler_for_overflow_spark not found "
              f"in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
