#!/usr/bin/env python3
"""One command over every workload, and the benchmark's self-tests.

    python3 perfbench/suite.py report   [--seed 1] [--seconds 8] [--workloads ...]
    python3 perfbench/suite.py selftest [--seed 1] [--seconds 8] [--workloads ...]

``report`` runs each workload once, untraced, in a fresh process, and prints
every end-to-end metric as ``<workload>/<metric> value unit`` with the
correctness verdict. ``selftest`` checks that the generators are
deterministic, that two traced runs with one seed give identical counts,
and reports the tracing overhead and span coverage. Both exit non-zero on
a failed check. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import gen  # noqa: E402

WORKLOADS = ("cdc_trickle", "llm_dedup")


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, list[str]]:
    """One run of run.py in a fresh process: its final JSON line, and the
    lines before it (metrics by name and unit, and the host record)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload}: run.py exited {out.returncode}")
    return json.loads(lines[-1]), lines[:-1]


def _line_value(lines: list[str], name: str) -> float:
    """The value of a ``<workload>/<name> value unit`` line."""
    return next(float(ln.split()[1]) for ln in lines if ln.split()[0].endswith("/" + name))


def report(seed: int, seconds: float, workloads: list[str]) -> bool:
    ok = True
    for w in workloads:
        r, lines = _run(w, seed, seconds, 0)
        for line in lines:
            print(line if line.startswith(w) else f"{w}/{line}")
        verdict = "correct" if r["correct"] else "INCORRECT"
        print(f"{w}: {verdict}, {r['failed']} of {r['attempted']} operations failed")
        ok &= r["correct"] and r["failed"] == 0
    return ok


def _digests(seed: int, tmp: str) -> list[str]:
    """sha256 of the first inputs of every generator, written as parquet."""
    tables = [gen.trickle_slice(seed, i) for i in range(3)]
    docs = gen.DocStream(seed)
    tables += [docs.batch(i) for i in range(3)]
    out = []
    for i, t in enumerate(tables):
        path = os.path.join(tmp, f"{seed}-{i}.parquet")
        gen.write(t, path)
        with open(path, "rb") as f:
            out.append(hashlib.sha256(f.read()).hexdigest())
    return out


def _exact(name: str, unit: str) -> bool:
    """Traced metrics that are counts read from Spark's status store, or
    ratios of them, which must repeat exactly for a seed."""
    return unit in ("count", "B") or name == "merge_target.rows_written_per_change"


def selftest(seed: int, seconds: float, workloads: list[str]) -> bool:
    ok = True
    tmp = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        a, b, c = _digests(seed, tmp), _digests(seed, tmp), _digests(seed + 1, tmp)
    finally:
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
    same, differ = a == b, all(x != y for x, y in zip(a, c))
    print(f"generators: same seed byte-identical={same}, other seed differs={differ}")
    ok &= same and differ

    for w in workloads:
        (t1, _), (t2, _) = _run(w, seed, seconds, 1), _run(w, seed, seconds, 1)
        plain, plain_lines = _run(w, seed, seconds, 0)
        diff = [
            (n, m["value"], t2["metrics"][n]["value"])
            for n, m in t1["metrics"].items()
            if _exact(n, m["unit"]) and m["value"] != t2["metrics"][n]["value"]
        ]
        traced = t1["metrics"]["trace.batch_p50_s"]["value"]
        untraced = _line_value(plain_lines, "batch_p50_s")
        cover = t1["metrics"]["trace.span_coverage"]["value"]
        print(f"{w}: traced counts repeat={not diff} {diff if diff else ''}")
        print(f"{w}: tracing overhead {traced / untraced - 1:+.1%} "
              f"(traced batch p50 {traced:.3f} s vs untraced {untraced:.3f} s), "
              f"spans cover {cover:.1%} of a traced batch")
        ok &= not diff and all(r["correct"] for r in (t1, t2, plain))
    return ok


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=["report", "selftest"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--workloads", nargs="+", choices=WORKLOADS, default=list(WORKLOADS))
    args = p.parse_args(argv)
    run = report if args.mode == "report" else selftest
    ok = run(args.seed, args.seconds, args.workloads)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
