"""query_headline: a closed loop with one client over bench.py's 15 HEADLINE
registry queries, each written to the ``noop`` sink, in a seeded order per
pass."""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from bench import HEADLINE
from context import ROOT, Context
from stats import geomean, summarize
from tracing import QueryListener, SparkProbe, cpu_s_between, cpu_sample

# The headline queries are bound by driver and scheduling time at this scale
# as at the bench's sf0.1 (a steady pass took ~12 s at both on a 4-vCPU box).
SCALE = 0.01

# Timed passes per run: --seconds divided by the length of a steady pass on
# a 4-vCPU box, at least one, so every run times the same number of passes.
NOMINAL_PASS_S = 12.0


def _oracle_check(data_dir: str, names: list[str], frames: dict) -> dict:
    """Each collected Spark result against its DuckDB oracle, in the
    canonical form of scripts/check_oracle.py; returns {name: problem}."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracle import normalize, register_views

    from dumpr_spark.queries import REGISTRY

    con = duckdb.connect()
    register_views(con, data_dir)
    bad = {}
    for name in names:
        spdf = frames[name]
        if isinstance(spdf, Exception):
            bad[name] = f"spark: {spdf!r}"[:300]
            continue
        try:
            dpdf = con.sql(REGISTRY[name].oracle).df()
        except Exception as e:
            bad[name] = f"oracle: {e!r}"[:300]
            continue
        if sorted(spdf.columns) != sorted(dpdf.columns) or len(spdf) != len(dpdf):
            bad[name] = f"shape {spdf.shape} vs {dpdf.shape}"
        elif normalize(spdf) != normalize(dpdf):
            bad[name] = "values differ"
    con.close()
    return bad


def _traced_query(ctx: Context, probe: SparkProbe, listener: QueryListener,
                  fn, data: str, name: str) -> tuple[float, dict]:
    """One query with its builder, catalyst and exec spans; returns the
    wall and the layer row."""
    tracer = ctx.tracer
    tag = len(tracer.spans)
    with probe.job_group(f"builder-{tag}") as bjobs:
        b0 = time.time()
        df = fn(ctx.spark, data)
        b1 = time.time()
    seen = len(listener.events)
    with probe.job_group(f"exec-{tag}") as ejobs:
        e0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        e1 = time.time()
    ev = [x for x in listener.wait_for(seen + 1)[seen:] if x["func"] == "overwrite"]
    ev = ev[-1] if ev else {}
    # The DataFrame is analyzed eagerly inside the builder. The write
    # analyzes its command, then optimizes and plans, at the start of the
    # write call before its first job: that interval is the catalyst span.
    analysis = df._jdf.queryExecution().tracker().phases().get("analysis")
    phases = {"analysis_ms": analysis.get().durationMs() if analysis.isDefined() else 0,
              "optimization_ms": ev.get("optimization", 0),
              "planning_ms": ev.get("planning", 0)}
    c1 = min(e0 + sum(ev.get(p, 0) for p in ("analysis", "optimization", "planning")) / 1e3,
             e1)
    est = probe.stage_totals(ejobs)
    pid = tracer.add(f"query/{name}", b0, e1)
    tracer.add("builder", b0, b1, pid, jobs=len(bjobs))
    tracer.add("catalyst", e0, c1, pid, **phases)
    tracer.add("exec", c1, e1, pid, **est)
    row = {"builder.s": b1 - b0, "builder.jobs": len(bjobs), "exec.s": e1 - c1,
           **{f"catalyst.{k}": v for k, v in phases.items()},
           **{f"python.{k}": ev.get(k, 0) for k in ("rows_out", "sent_mb", "recv_mb")},
           **{f"exec.{k}": v for k, v in est.items()}}
    return e1 - b0, row


def run(ctx: Context) -> None:
    from dumpr_spark.queries import REGISTRY

    names = list(HEADLINE)
    rng = random.Random(ctx.seed)
    ctx.start_spark()
    data = ctx.gen_data(SCALE)
    spark = ctx.spark

    # Warm-up: one pass collecting every result, on as many client threads
    # as cores so that JIT and codegen warm-up overlap. The collected frames
    # are checked against the oracles after the timed passes.
    def collect(name):
        try:
            return REGISTRY[name].fn(spark, data).toPandas()
        except Exception as e:  # counted as a failed query by the oracle check
            return e

    order = rng.sample(names, len(names))
    with ctx.setup("warmup"), ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        frames = dict(zip(order, pool.map(collect, order)))
    ctx.finish_setup()

    probe = listener = None
    if ctx.tracer is not None:
        probe, listener = SparkProbe(spark), QueryListener(spark)
    walls: dict[str, list[float]] = {n: [] for n in names}
    rows: dict[str, list[dict]] = {n: [] for n in names}
    passes = []
    cpu0 = cpu_sample()
    for _ in range(max(1, round(ctx.seconds / NOMINAL_PASS_S))):
        p0 = time.time()
        for name in rng.sample(names, len(names)):
            fn = REGISTRY[name].fn
            if ctx.tracer is None:
                q0 = time.time()
                fn(spark, data).write.format("noop").mode("overwrite").save()
                walls[name].append(time.time() - q0)
            else:
                wall, row = _traced_query(ctx, probe, listener, fn, data, name)
                walls[name].append(wall)
                rows[name].append(row)
        passes.append(time.time() - p0)

    n_run = sum(len(w) for w in walls.values())
    ctx.e2e["cpu_s_per_query"] = cpu_s_between(cpu0, cpu_sample()) / n_run
    medians = {n: statistics.median(w) for n, w in walls.items()}
    ctx.e2e["pass_s"] = statistics.median(passes)
    ctx.e2e["query_geomean_s"] = geomean(medians.values())
    ctx.e2e["queries_per_s"] = n_run / sum(passes)
    ctx.detail.update(passes_s=passes, query_walls_s=walls,
                      query_s=summarize([x for w in walls.values() for x in w]))

    if ctx.tracer is not None:
        listener.close()
        # per pass: the sum over the queries of each one's median per layer
        for k in next(iter(rows.values()))[0]:
            ctx.layers[k] = sum(statistics.median(r[k] for r in rs) for rs in rows.values())
        ctx.layers["exec.busy_ratio"] = ctx.layers["exec.executor_run_s"] / (
            ctx.layers["exec.s"] * spark.sparkContext.defaultParallelism)
        ctx.layers.update({f"q.{n}.s": m for n, m in medians.items()})

    bad = _oracle_check(data, names, frames)
    ctx.detail["query_failures"] = bad
    ctx.check(len(names), len(bad))
