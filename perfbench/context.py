"""What a workload run reports into, and the metric names it reports."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import datagen
from bench import HEADLINE
from stats import summarize
from tracing import cpu_sample

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# BENCHMARK.json's end-to-end metrics, which every workload reports: the
# set-up time as CPU seconds of the process tree (Spark driver, JVM, Python
# workers), and the same tree's CPU seconds, less JIT compilation, per
# operation of the workload's closed loop. CPU time leaves out time the host
# steals from the VM; on a shared 4-vCPU box the wall-clock measures (all
# printed in every report, set-up included) spread 0.2 to 0.6 across runs
# and drifted 30% between two sets of runs, beyond any bound the benchmark
# may set.
CPU_OF = {"query_headline": "cpu_s_per_query", "cdc": "cpu_s_per_rowop"}
E2E_UNITS = {"setup_s": "s", "cpu_s_per_op": "s"}

# Every end-to-end measure a run prints (the report), by name.
NAMED_UNITS = {
    "setup_s": "s", "setup_wall_s": "s", "pass_s": "s", "query_geomean_s": "s", "queries_per_s": "1/s",
    "snapshot_s": "s", "drain_rowops_per_s": "1/s",
    "replay_batch_s_p50": "s", "replay_batch_s_tail": "s",
    "batch_s_p50": "s", "batch_s_tail": "s",
    "lag_s_p50": "s", "lag_s_p90": "s", "lag_s_tail": "s",
    "gen_late_s_max": "s", "backlog_end_rowops": "count",
    "fail_ratio": "ratio", "peak_rss_mb": "MiB",
    "cpu_s_per_query": "s", "cpu_s_per_rowop": "s", "replay_rowop_share": "ratio",
}

_EXEC = {"exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
         "exec.tasks": "count", "exec.executor_run_s": "s", "exec.executor_cpu_s": "s",
         "exec.gc_s": "s", "exec.shuffle_read_mb": "MiB", "exec.shuffle_write_mb": "MiB",
         "exec.spill_mb": "MiB", "exec.busy_ratio": "ratio"}
_PYTHON = {"python.rows_out": "count", "python.sent_mb": "MiB", "python.recv_mb": "MiB"}
QUERY_LAYERS = {
    "builder.s": "s", "builder.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", **_EXEC, **_PYTHON,
}
STREAM_LAYERS = {
    "ingest.latest_offset_ms": "ms", "ingest.get_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.queue_wait_s_p50": "s",
    "txfilter.state_commit_ms": "ms", "txfilter.state_update_ms": "ms",
    "txfilter.state_rows": "count", "txfilter.state_mb": "MiB",
    "sink.s": "s", "sink.jobs": "count", "sink.fs_link_n": "count", "sink.fs_link_s": "s",
    "sink.fs_rename_n": "count", "sink.fs_listdir_n": "count", "sink.fs_rmtree_s": "s",
    "sink.mb_written": "MiB", "sink.write_amp": "ratio",
    **_EXEC, **_PYTHON,
}
STATE_LAYERS = {"state.rows": "count", "state.files": "count", "state.mb": "MiB"}
PHASES = ("replay", "live")


def layer_units() -> dict[str, str]:
    """Every per-layer metric: the query layers, the per-query walls, the
    streaming layers per CDC phase and the CDC state at the end."""
    out = dict(QUERY_LAYERS)
    out.update({f"q.{q}.s": "s" for q in HEADLINE})
    for phase in PHASES:
        out.update({f"{phase}.{k}": u for k, u in STREAM_LAYERS.items()})
    out.update(STATE_LAYERS)
    return out


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    workload: str
    tracer: object = None
    spark: object = None
    spark_version: str | None = None
    e2e: dict = field(default_factory=dict)
    setup_wall: dict = field(default_factory=dict)
    setup_cpu: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    @contextmanager
    def setup(self, part: str):
        """Time the body as a part of set-up, in wall and CPU seconds (JIT
        compilation included: warm-up work is set-up work)."""
        wall, cpu = time.time(), cpu_sample()[0]
        try:
            yield
        finally:
            self.setup_wall[part] = time.time() - wall
            self.setup_cpu[part] = (cpu_sample()[0] - cpu) / os.sysconf("SC_CLK_TCK")

    def finish_setup(self) -> None:
        self.e2e["setup_s"] = sum(self.setup_cpu.values())
        self.e2e["setup_wall_s"] = sum(self.setup_wall.values())
        self.detail["setup"] = {"cpu_s": dict(self.setup_cpu), "wall_s": dict(self.setup_wall)}

    def start_spark(self) -> None:
        from dumpr_spark.session import get_spark

        with self.setup("session"):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_version = self.spark.version

    def stop_spark(self) -> None:
        """Stop Spark and wait until the JVM, and with it the Python
        workers it started, has exited."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def gen_data(self, scale: float) -> str:
        """Write the tables; the time counts as set-up."""
        out = os.path.join(self.work, "data")
        with self.setup("datagen"):
            datagen.write_tables(out, scale)
        return out

    def check(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def record_stat(self, prefix: str, samples: list[float]) -> None:
        """The median as `<prefix>_p50`, the tail percentile the sample
        supports (if any) as `<prefix>_tail`; the summary into detail."""
        s = summarize(samples)
        self.detail[prefix] = s
        self.e2e[f"{prefix}_p50"] = s.get("p50")
        tail = [k for k in s if k not in ("n", "p50")]
        self.e2e[f"{prefix}_tail"] = s[tail[0]] if tail else None

    def e2e_metrics(self) -> dict:
        vals = {"setup_s": self.e2e["setup_s"],
                "cpu_s_per_op": self.e2e[CPU_OF[self.workload]]}
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}

    def layer_metrics(self) -> dict:
        return {k: {"value": float(self.layers.get(k, 0.0)), "unit": u}
                for k, u in layer_units().items()}

    def report(self) -> dict:
        """name -> (value, unit) for the readable report."""
        out = {k: (v, NAMED_UNITS[k]) for k, v in self.e2e.items() if v is not None}
        if self.tracer is not None:
            out.update({f"layer.{k}": (m["value"], m["unit"])
                        for k, m in self.layer_metrics().items()})
        return out
