#!/usr/bin/env python3
"""CDC-engine benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The engine is imported from that checkout,
inputs are generated from ``--seed`` into ``.perfbench_work/`` there, and the
directory is removed at the end. One client drives the engine in a closed
loop: the next batch starts when the previous batch and its read return.

``--trace 0`` prints the end-to-end metrics and ``--trace 1`` the per-layer
metrics of a traced replay (README.md lists both). The last line of stdout
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The
lines before it give each metric as ``<workload>/<metric> value unit``,
then, untraced, the wall times that are reported but not gated, and the
host record: steal share of CPU during the timed phase, nproc, RAM,
versions and per-batch times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probe  # noqa: E402


def _args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["cdc_trickle", "llm_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _timed_phase(wl, tracer, seconds: float) -> dict:
    """Closed loop over a fixed number of batches: ``seconds`` worth at the
    workload's nominal batch cost. Every run therefore times the same batch
    indices, whatever the host's speed. Input generation and landing happen
    between timed intervals and count in neither time nor CPU."""
    batch_s, read_s, batch_cpu_s, items, attempted, failed = [], [], [], 0, 0, 0
    steal = probe.CpuSteal()
    for _ in range(max(1, round(seconds / wl.nominal_batch_s))):
        wl.land()
        attempted += 1
        cpu0 = probe.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                tracer.begin_batch()
            n = wl.run_batch(tracer)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.end_batch()
            attempted += 1
            wl.read(tracer)
            t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 — a failed operation ends the run
            traceback.print_exc()
            failed += 1
            if tracer is not None and "wall_s" not in tracer.batches[-1]:
                tracer.batches.pop()
            break
        batch_cpu_s.append(probe.tree_cpu_s() - cpu0)
        items += n
        batch_s.append(t1 - t0)
        read_s.append(t2 - t1)
    return {
        "batch_s": batch_s, "read_s": read_s, "batch_cpu_s": batch_cpu_s, "items": items,
        "attempted": attempted, "failed": failed, "steal": steal.share(),
    }


def _end_to_end(ph: dict, setup_s: float, heap: float) -> dict:
    """The gated metrics: CPU cost, set-up time and live heap."""
    return {
        "cpu_s_per_kitem": (
            statistics.median(ph["batch_cpu_s"]) * len(ph["batch_s"]) / ph["items"] * 1000, "s"
        ),
        "setup_s": (setup_s, "s"),
        "live_heap_mb": (heap, "MB"),
    }


def _wall(ph: dict) -> dict:
    """What a user waits for. Reported beside the steal share but not gated:
    on a shared host these follow host steal far more than the engine
    (README.md gives the spreads)."""
    return {
        "items_per_s": (ph["items"] / sum(ph["batch_s"]), "1/s"),
        "batch_p50_s": (statistics.median(ph["batch_s"]), "s"),
        "read_p50_s": (statistics.median(ph["read_s"]), "s"),
    }


def _per_layer(tr: probe.Tracer, session_s: float, rss: dict, committed: float) -> dict:
    """Times and CPU are medians over the traced batches; counts and bytes
    are per-batch means, which repeat exactly for a seed."""
    def t(span: str, key: str = "s") -> tuple:
        return probe.median(tr.layer(span, key)), "s"

    def c(span: str, key: str, unit: str = "count") -> tuple:
        return statistics.fmean(tr.layer(span, key)), unit

    def total(key: str) -> float:
        return sum(b.get(key, 0) for b in tr.batches)

    changes = total("changes")
    written = sum(tr.layer("merge_target", "output_records"))
    m = {
        "session.start_s": (session_s, "s"),
        "memory.peak_rss_mb": (sum(rss.values()), "MB"),
        "memory.jvm_peak_rss_mb": (rss["jvm"], "MB"),
        "memory.heap_committed_mb": (committed, "MB"),
        "sources.open_s": t("sources"),
        "sources.jobs": c("sources", "jobs"),
        "watermark.read_s": t("watermark.read"),
        "watermark.append_s": t("watermark.append"),
        "watermark.jobs": (c("watermark.read", "jobs")[0] + c("watermark.append", "jobs")[0], "count"),
        "plans.s": t("plans"),
        "plans.exec_cpu_s": t("plans", "exec_cpu_s"),
        "plans.jobs": c("plans", "jobs"),
        "plans.tasks": c("plans", "tasks"),
        "plans.input_bytes": c("plans", "input_bytes", "B"),
        "plans.shuffle_write_bytes": c("plans", "shuffle_write_bytes", "B"),
        "merge_target.s": t("merge_target"),
        "merge_target.exec_cpu_s": t("merge_target", "exec_cpu_s"),
        "merge_target.jobs": c("merge_target", "jobs"),
        "merge_target.stages": c("merge_target", "stages"),
        "merge_target.tasks": c("merge_target", "tasks"),
        "merge_target.input_bytes": c("merge_target", "input_bytes", "B"),
        "merge_target.output_bytes": c("merge_target", "output_bytes", "B"),
        "merge_target.rows_written_per_change": (written / changes if changes else 0.0, "ratio"),
        "read.s": t("read"),
        "read.tasks": c("read", "tasks"),
        "read.input_bytes": c("read", "input_bytes", "B"),
        "dedup_index.signature_s": t("dedup_index.signature"),
        "dedup_index.signature_py_cpu_s": t("dedup_index.signature", "py_cpu_s"),
        "dedup_index.screen_s": t("dedup_index.screen"),
        "dedup_index.screen_tasks": c("dedup_index.screen", "tasks"),
        "dedup_index.screen_shuffle_write_bytes": c("dedup_index.screen", "shuffle_write_bytes", "B"),
        "dedup_index.screen_input_bytes": c("dedup_index.screen", "input_bytes", "B"),
        "dedup_index.publish_s": t("dedup_index.publish"),
        "dedup_index.publish_output_bytes": c("dedup_index.publish", "output_bytes", "B"),
        "dedup_index.pairs": (total("pairs") / len(tr.batches), "count"),
        "trace.batch_p50_s": (probe.median([b["wall_s"] for b in tr.batches]), "s"),
        "trace.span_coverage": (probe.median(tr.coverage()), "ratio"),
    }
    return m


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM it launched and wait until every process this
    run started (the JVM, the pyspark daemon and its workers) has ended."""
    from pyspark import SparkContext

    started = probe.process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid in filter(probe.alive, started):
                os.kill(pid, sig)
        deadline = time.time() + 20
        while any(map(probe.alive, started)) and time.time() < deadline:
            time.sleep(0.05)


def main(argv: list[str]) -> int:
    launched = probe.process_start_epoch()
    args = _args(argv)
    try:
        from dataplatform_cdc_pipeline_spark.session import get_spark

        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # Spark's shuffle and spill files, Python's and the JVM's temp files
    # (native libraries unpacked at start) all stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )

    # local[nproc] and otherwise the engine's own session defaults
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    session_s = time.time() - launched
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.time() - launched
        tracer = probe.Tracer(spark) if args.trace else None
        ph = _timed_phase(wl, tracer, args.seconds)
        rss, committed = probe.tree_peak_rss_mb(), probe.heap_committed_mb(spark)
        heap = probe.live_heap_mb(spark)
        host = probe.host_record(spark)
        host.update(steal_share=round(ph["steal"], 4), session_s=round(session_s, 3),
                    peak_rss_mb={k: round(v, 1) for k, v in rss.items()},
                    heap_committed_mb=round(committed, 1),
                    batch_s=[round(b, 3) for b in ph["batch_s"]],
                    read_s=[round(r, 3) for r in ph["read_s"]],
                    batch_cpu_s=[round(c, 2) for c in ph["batch_cpu_s"]])
        checks, bad = (0, 0)
        if not ph["failed"]:
            checks, bad = wl.check()
    finally:
        _shutdown(spark)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
    if not ph["batch_s"]:
        print("perfbench: no batch completed", file=sys.stderr)
        return 1
    metrics = (
        _per_layer(tracer, session_s, rss, committed) if tracer
        else _end_to_end(ph, setup_s, heap)
    )
    failed = ph["failed"] + bad
    for name, (value, unit) in metrics.items():
        print(f"{args.workload}/{name} {value:.6g} {unit}")
    if not tracer:
        for name, (value, unit) in _wall(ph).items():
            print(f"{args.workload}/{name} {value:.6g} {unit} (not gated; steal {ph['steal']:.1%})")
    print("host " + json.dumps(host, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": ph["attempted"] + checks,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
