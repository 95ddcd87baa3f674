"""cdc: one CDC stream that follows a live feed, goes down, and on restart
replays the backlog that accumulated meanwhile.

A snapshot of ``orders`` + ``lineitem`` goes through
``Engine.snapshot_changes`` into a range-bucketed ``MergeSink``. The stream
is the ``scripts/cdc_throughput.py`` path: the file feed, then
``streaming_tx_filter``, then ``start_merge_stream``. After a warm-up batch
it runs in two phases over the same checkpoint and state:

- live, an open loop, triggered continuously: the benchmark's main thread
  publishes one small feed file per tick at a fixed row-op rate, updating
  recent keys plus a few hot keys, so small batches over large state make the per-batch
  fixed cost (offset and WAL bookkeeping, the state-store commit, the
  touched-slice read, the slice links and the rename swap) do most of the
  work;
- replay, a closed loop: the stream stops, a backlog of Zipf-skewed updates
  and deletes and inserts at the top of the key range lands as one large
  feed file, and the restarted stream drains it with ``availableNow`` in one
  batch, large enough that its per-row work (the transaction filter, the
  Python/Arrow boundary, the fold and rewrite of the touched slices)
  outweighs the per-batch fixed cost.

The state is checked after the run against a pure-Python fold of the whole
generated feed.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import feed
from context import STREAM_LAYERS, Context
from stats import percentile
from tracing import FsCounter, SparkProbe, cpu_s_between, cpu_sample, python_node_metrics

# 3k orders and ~12k line items: a 15k-row state, about 40 times a live
# micro-batch.
SCALE = 0.002

# The live window is LIVE_SHARE of --seconds. The backlog is one file of
# BACKLOG_ROWOPS_PER_S row-ops per second of --seconds, drained in one
# micro-batch. A micro-batch has a fixed cost of ~5-8 s on a 4-vCPU box
# (most of it in the transaction filter's state store) and a per-row cost of
# ~0.15-0.25 ms, so at 60k row-ops the per-row work is about two thirds of
# the batch (`replay_rowop_share` in the report).
LIVE_SHARE = 0.5
BACKLOG_ROWOPS_PER_S = 5000

# One feed file per tick at a fixed row-op rate. The range layout is pinned with the engine's
# suggest_key_bucket at ROWS_PER_BUCKET: key_bucket="auto" derives 4096
# buckets from any snapshot of more than 512 keys, and on a 4-vCPU box its
# seed write alone took ~96 s and each trickle batch ~11 s, beyond what a
# benchmark run can spend.
TICK_S = 0.1
LIVE_ROWOPS_PER_S = 100
ROWS_PER_BUCKET = 500
DRAIN_TIMEOUT_S = 60.0

FEED_SCHEMA = "source string, event_type string, tbl string, payload string, seq long"


def _changes(events):
    """Feed events -> transaction filter -> envelope rows."""
    from pyspark.sql import functions as F

    from dumpr_spark.streaming.state import streaming_tx_filter

    return streaming_tx_filter(events).select(
        F.when(F.col("event_type") == "delete", "delete").otherwise("upsert").alias("op"),
        F.col("tbl"),
        F.when(F.col("tbl") == feed.ORDERS, F.get_json_object("payload", "$.o_orderkey"))
        .otherwise(F.get_json_object("payload", "$.l_id")).alias("id"),
        F.col("payload").alias("content"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("next_file"),
        F.col("seq").alias("next_position"),
        F.col("seq"),
    )


def _dir_inodes(path: str) -> dict[int, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[st.st_ino] = st.st_size
    return out


def _traced_sink_class(ctx: Context, base):
    probe = SparkProbe(ctx.spark)
    records = ctx.detail.setdefault("sink_batches", {})

    class TracedMergeSink(base):
        """The engine's MergeSink, recording per call its span, the jobs it
        ran, its filesystem metadata calls, the bytes of new state files
        and the Python-node metrics of the micro-batch's plan (the
        transaction filter runs inside the sink's jobs)."""

        def __call__(self, batch, batch_id):
            group = probe.sc.getLocalProperty("spark.jobGroup.id")
            before = set(probe.group_jobs(group)) if group else set()
            inodes = _dir_inodes(self.state_path)
            with FsCounter() as fs:
                t0 = time.time()
                super().__call__(batch, batch_id)
                t1 = time.time()
            jobs = sorted(set(probe.group_jobs(group)) - before) if group else []
            written = sum(sz for ino, sz in _dir_inodes(self.state_path).items()
                          if ino not in inodes)
            (query,) = ctx.spark.streams.active
            plan = query._jsq.streamingQuery().lastExecution().executedPlan()
            records[batch_id] = {
                "start": t0, "end": t1, "jobs": jobs, "fs_counts": fs.counts,
                "fs_secs": fs.secs, "fs_intervals": fs.intervals,
                "mb_written": written / 2**20, "stages": probe.stage_totals(jobs),
                "python": python_node_metrics(plan)}

    return TracedMergeSink


def _start(ctx: Context, feed_dir: str, state: str, ckpt: str, key_bucket,
           available_now: bool):
    """start_merge_stream over the feed directory: continuously triggered,
    or draining what is there; in a traced run the engine builds its sink
    from the span-recording subclass."""
    import dumpr_spark.streaming.sink as sink_mod

    reader = ctx.spark.readStream.schema(FEED_SCHEMA)
    real = sink_mod.MergeSink
    if ctx.tracer is not None:
        sink_mod.MergeSink = _traced_sink_class(ctx, real)
    try:
        return sink_mod.start_merge_stream(_changes(reader.json(feed_dir)), state, ckpt,
                                           trigger_available_now=available_now,
                                           output_mode="append", key_bucket=key_bucket)
    finally:
        sink_mod.MergeSink = real


def _progress(q) -> list[dict]:
    """Progress of the micro-batches that read input."""
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if int(d.get("numInputRows", 0)) > 0:
            out.append(d)
    return out


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _batch_of_file(ckpt: str) -> dict[str, int]:
    """Feed file name -> id of the micro-batch that read it, from the file
    source's metadata log in the checkpoint."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # compacted away while listing
            continue
        for ln in lines:
            e = json.loads(ln)
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> time its commit-log entry was written."""
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
            for n in os.listdir(d) if n.isdigit()}


def _wait_committed(ckpt: str, names: list[str], timeout: float) -> bool:
    """Poll until every named feed file belongs to a committed batch."""
    end = time.time() + timeout
    while time.time() < end:
        where, commits = _batch_of_file(ckpt), _commit_times(ckpt)
        if all(where.get(n) in commits for n in names):
            return True
        time.sleep(0.05)
    return False


def _verify(ctx: Context, state: str, key_bucket, snapshot: dict, events: list) -> int:
    """The sink's state against the pure-Python fold of the feed; returns
    the number of live rows in the state."""
    from dumpr_spark.streaming.sink import MergeSink

    pdf = MergeSink(ctx.spark, state, key_bucket=key_bucket).read_state() \
        .select("tbl", "id", "content").toPandas()
    actual = {(t, i): feed.canon_row(c) for t, i, c in pdf.itertuples(index=False)}
    attempted, bad = feed.compare_state(feed.expected_state(snapshot, events), actual)
    ctx.detail["state_keys"] = {"attempted": attempted, "mismatched": bad}
    ctx.check(attempted, bad)
    return len(actual)


def _phase_layers(ctx: Context, phase: str, batches: list[dict], input_mb: dict,
                  queue_wait: list[float]) -> None:
    """Per-batch medians of the progress and sink layers of one phase's
    batches, and their batch spans with sink and fs children."""
    tracer, sinks = ctx.tracer, ctx.detail.get("sink_batches", {})
    cores = ctx.spark.sparkContext.defaultParallelism
    rows = []
    for b in batches:
        dur, so = b["durationMs"], (b.get("stateOperators") or [{}])[0]
        start = _epoch(b["timestamp"])
        bid = tracer.add(f"batch/{b['batchId']}", start, start + dur["triggerExecution"] / 1e3,
                         phase=phase)
        row = {"ingest.latest_offset_ms": dur.get("latestOffset", 0),
               "ingest.get_batch_ms": dur.get("getBatch", 0),
               "stream.planning_ms": dur.get("queryPlanning", 0),
               "stream.wal_commit_ms": dur.get("walCommit", 0),
               "stream.commit_offsets_ms": dur.get("commitOffsets", 0),
               "txfilter.state_commit_ms": so.get("commitTimeMs", 0),
               "txfilter.state_update_ms": so.get("allUpdatesTimeMs", 0),
               "txfilter.state_rows": so.get("numRowsTotal", 0),
               "txfilter.state_mb": so.get("memoryUsedBytes", 0) / 2**20}
        s = sinks.get(b["batchId"])
        if s:
            sid = tracer.add("sink", s["start"], s["end"], bid, jobs=len(s["jobs"]))
            for lo, hi in s["fs_intervals"]:
                tracer.add("fs", lo, hi, sid)
            wall, st, n, secs = s["end"] - s["start"], s["stages"], s["fs_counts"], s["fs_secs"]
            row.update({
                "sink.s": wall, "sink.jobs": len(s["jobs"]),
                "sink.fs_link_n": n["link"], "sink.fs_link_s": secs["link"],
                "sink.fs_rename_n": n["rename"],
                "sink.fs_listdir_n": n["listdir"] + n["scandir"],
                "sink.fs_rmtree_s": secs["rmtree"], "sink.mb_written": s["mb_written"],
                "sink.write_amp": s["mb_written"] / max(input_mb.get(b["batchId"], 0.0), 1e-9),
                # every job of a micro-batch runs inside its foreachBatch call
                "exec.s": wall, **{f"exec.{k}": v for k, v in st.items()},
                "exec.busy_ratio": st["executor_run_s"] / (wall * cores),
                **{f"python.{k}": v for k, v in s["python"].items()},
            })
        rows.append(row)
    for k in STREAM_LAYERS:
        vals = [r[k] for r in rows if k in r]
        if vals:
            ctx.layers[f"{phase}.{k}"] = statistics.median(vals)
    if queue_wait:
        ctx.layers[f"{phase}.stream.queue_wait_s_p50"] = statistics.median(queue_wait)


def _snapshot(ctx: Context, data: str):
    """The snapshot changes DataFrame and the snapshot rows as dicts."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dumpr_spark.engine import Engine

    eng = Engine(ctx.spark).load_dir(data, tables=(feed.ORDERS, feed.LINEITEM))
    eng.register(feed.LINEITEM, eng.table(feed.LINEITEM).withColumn(
        "l_id", F.col("l_orderkey") * 8 + F.col("l_linenumber")))
    snap = eng.snapshot_changes({feed.ORDERS: "o_orderkey", feed.LINEITEM: "l_id"})
    orders = pq.read_table(os.path.join(data, "orders.parquet")).to_pylist()
    lines = pq.read_table(os.path.join(data, "lineitem.parquet")).to_pylist()
    for r in lines:
        r["l_id"] = feed.lineitem_id(r["l_orderkey"], r["l_linenumber"])
    return snap, orders, lines


def run(ctx: Context) -> None:
    from pyspark.sql import functions as F

    from dumpr_spark.streaming.sink import MergeSink, suggest_key_bucket

    ctx.start_spark()
    data = ctx.gen_data(SCALE)
    spark = ctx.spark
    feed_dir, staging, state, ckpt = (os.path.join(ctx.work, d)
                                      for d in ("feed", "staging", "state", "ckpt"))
    with ctx.setup("prep"):
        os.makedirs(feed_dir)
        os.makedirs(staging)
        snap, orders, lines = _snapshot(ctx, data)
        gen = feed.FeedGenerator(ctx.seed, feed.snapshot_images(orders, lines),
                                 locality="recent")
        per_tick = max(1, round(LIVE_ROWOPS_PER_S * TICK_S))
        n_ticks = max(1, round(ctx.seconds * LIVE_SHARE / TICK_S))
        warm = gen.next_file(gen.take(per_tick))
        ticks = [gen.next_file(gen.take(per_tick)) for _ in range(n_ticks)]
        gen.locality = "zipf"
        backlog = gen.next_file(gen.take(round(BACKLOG_ROWOPS_PER_S * ctx.seconds)))
        key_bucket = suggest_key_bucket(snap, target_rows_per_bucket=ROWS_PER_BUCKET)

    t0 = time.time()
    MergeSink(spark, state, key_bucket=key_bucket)(snap, 0)
    ctx.e2e["snapshot_s"] = time.time() - t0

    # warm-up: the stream's first micro-batch
    with ctx.setup("warmup"):
        q = _start(ctx, feed_dir, state, ckpt, key_bucket, available_now=False)
        feed.publish(warm, staging, feed_dir, time.time_ns())
        warmed = _wait_committed(ckpt, [warm.name], DRAIN_TIMEOUT_S)
    ctx.finish_setup()

    # -- live: the open loop -----------------------------------------------------
    # The stream runs on Spark's own threads, so this thread is the generator:
    # it publishes each file at its due time whatever the stream is doing.
    late: list[float] = []
    start_ns = time.time_ns()
    for i, f in enumerate(ticks):
        due = start_ns + int(i * TICK_S * 1e9)
        wait = (due - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        feed.publish(f, staging, feed_dir, due)
        late.append((time.time_ns() - due) / 1e9)
    stop = start_ns / 1e9 + n_ticks * TICK_S
    drained = _wait_committed(ckpt, [f.name for f in ticks], DRAIN_TIMEOUT_S)
    live_batches = _progress(q)
    q.stop()

    # -- replay: the backlog lands while the stream is down ----------------------
    feed.publish(backlog, staging, feed_dir, time.time_ns())
    t0, cpu0 = time.time(), cpu_sample()
    q = _start(ctx, feed_dir, state, ckpt, key_bucket, available_now=True)
    q.awaitTermination()
    drain_s = time.time() - t0
    cpu_replay = cpu_s_between(cpu0, cpu_sample())
    replay_batches = _progress(q)
    backlog_ops = backlog.row_ops
    ctx.e2e["drain_rowops_per_s"] = backlog_ops / drain_s
    # CPU per row-op over the replay only: a closed loop, so no idle polling
    # inflates it when the host is slow
    ctx.e2e["cpu_s_per_rowop"] = cpu_replay / backlog_ops

    where, commits = _batch_of_file(ckpt), _commit_times(ckpt)
    live_batches = [b for b in live_batches if b["batchId"] > where[warm.name]]
    begun = {b["batchId"]: _epoch(b["timestamp"]) for b in live_batches}
    lags, waits, behind = [], [], 0
    for f in ticks:
        bid = where.get(f.name)
        committed = commits.get(bid) if bid is not None else None
        created = f.created_ns / 1e9
        if committed is None or committed > stop:
            behind += f.row_ops
        if committed is not None:
            lags.append(committed - created)
        if bid in begun:
            waits.append(begun[bid] - created)
    ctx.record_stat("batch_s", [b["durationMs"]["triggerExecution"] / 1e3 for b in live_batches])
    ctx.record_stat("lag_s", lags)
    ctx.record_stat("replay_batch_s",
                    [b["durationMs"]["triggerExecution"] / 1e3 for b in replay_batches])
    ctx.e2e["lag_s_p90"] = percentile(lags, 90) if lags else None
    # The replay batch's time beyond a small live batch's, as a share of it:
    # the part of the replay that its rows cost rather than the batch.
    live_p50, replay_p50 = ctx.e2e["batch_s_p50"], ctx.e2e["replay_batch_s_p50"]
    if live_p50 and replay_p50:
        ctx.e2e["replay_rowop_share"] = 1 - live_p50 / replay_p50
    ctx.e2e["gen_late_s_max"] = max(late)
    ctx.e2e["backlog_end_rowops"] = behind
    ctx.detail.update(warmed=warmed, live_files=n_ticks,
                      live_row_ops=sum(f.row_ops for f in ticks), cpu_replay_s=cpu_replay,
                      live_batches=len(live_batches), drained=drained,
                      backlog_row_ops=backlog_ops, drain_s=drain_s,
                      replay_batches=len(replay_batches))

    if ctx.tracer is not None:
        sizes = {f.name: f.nbytes for f in [warm, *ticks, backlog]}
        input_mb: dict[int, float] = {}
        for name, bid in where.items():
            input_mb[bid] = input_mb.get(bid, 0.0) + sizes[name] / 2**20
        _phase_layers(ctx, "live", live_batches, input_mb, waits)
        _phase_layers(ctx, "replay", replay_batches, input_mb, [])
        files = _dir_inodes(state)
        ctx.layers["state.files"] = len(files)
        ctx.layers["state.mb"] = sum(files.values()) / 2**20

    # -- checks ------------------------------------------------------------------
    max_snap_seq = snap.agg(F.max("seq")).collect()[0][0]
    ctx.check(1, int(max_snap_seq >= feed.SEQ_BASE))
    snapshot = {(feed.ORDERS, str(r["o_orderkey"])): r for r in orders}
    snapshot.update({(feed.LINEITEM, str(r["l_id"])): r for r in lines})
    rows = _verify(ctx, state, key_bucket, snapshot,
                   [e for f in [warm, *ticks, backlog] for e in f.events])
    if ctx.tracer is not None:
        ctx.layers["state.rows"] = rows
    unfolded = sum(where.get(f.name) not in commits for f in [warm, *ticks, backlog])
    ctx.check(len(live_batches) + len(replay_batches) + n_ticks + 2, unfolded)
