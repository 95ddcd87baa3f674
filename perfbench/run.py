#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

- ``query_headline``: closed loop, one client, the 15 bench.py headline
  registry queries into the ``noop`` sink, in a seeded order per pass.
- ``cdc``: the streaming CDC path (the file feed, the streaming transaction
  filter and the merge sink) in two phases over one range-bucketed
  ``MergeSink`` seeded by a snapshot. ``live`` is an open loop that publishes
  one small feed file per tick at a fixed row-op rate into a continuously
  triggered stream; ``replay`` is a closed loop that restarts the stream and
  drains a seeded binlog backlog with ``availableNow``.

Run from the root of a checkout; the benchmark writes only under
``.perfbench/`` there. Every run checks the engine's outputs against an
oracle outside the timed intervals: the queries against their DuckDB
oracles, the CDC state against a pure-Python fold of the generated feed.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics (and the spans go to
``.perfbench/<workload>/spans.json``). Lines before it are a readable
report and the full run record.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_headline", "cdc")


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let Spark's Python workers import the engine from the checkout root
    whatever the working directory (workers inherit PYTHONPATH, not the
    driver's sys.path). The JVM keeps a fixed set of JIT compiler threads:
    the CPU measure leaves their time out, which it cannot do for a thread
    that exits between two samples."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                       " -XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _stamp(spark_version: str | None = None) -> dict:
    sha = None
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    java = None
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30).stderr
        java = next((ln for ln in out.splitlines() if " version " in ln), None)
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": spark_version, "java": java, "python": platform.python_version(),
            "git_sha": sha}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dumpr_spark", "engine.py")):
        print(f"perfbench: no dumpr_spark engine under {ROOT}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    import cdc
    import query_headline
    from context import Context
    from tracing import RssSampler, Tracer

    runners = {"query_headline": query_headline.run, "cdc": cdc.run}
    ctx = Context(work=work, seed=args.seed, seconds=args.seconds, workload=args.workload,
                  tracer=Tracer() if args.trace else None)
    with RssSampler() as rss:
        try:
            runners[args.workload](ctx)
        finally:
            ctx.stop_spark()
    ctx.e2e["peak_rss_mb"] = rss.peak_mb
    ctx.e2e["fail_ratio"] = ctx.failed / max(1, ctx.attempted)

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, **_stamp(ctx.spark_version),
              "loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0],
              "attempted": ctx.attempted, "failed": ctx.failed, "e2e": ctx.e2e,
              "layers": ctx.layers, "detail": ctx.detail}
    if ctx.tracer is not None:
        record["spans_nested_ok"] = ctx.tracer.nesting_ok()
        ctx.tracer.write(os.path.join(work, "spans.json"))
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, (value, unit) in sorted(ctx.report().items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print("record " + json.dumps(record, default=str))
    metrics = ctx.layer_metrics() if args.trace else ctx.e2e_metrics()
    ok = ctx.failed == 0 and ctx.attempted > 0 and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
