"""cdc_sync: the reference's own job. The change stream feeds the standing
instance-sync query wired as ``cmd_sync`` wires it (read_change_stream ->
start_instance_sync on the shipped EngineConfig defaults -> CollectingSink
posting through http_poster) to a stub endpoint in this process.

Bootstrap: a backlog (an initial ADD per key plus churn, 300k events) is
one micro-batch, so per-row work dominates it: dedup state, resolve, sort,
``toLocalIterator`` and the POSTs (a 3k-event backlog takes about 1.5 s, a
300k one about 4 s). A bootstrap runs from query start to the stub's
receipt of the last POST of that batch. The warm-up bootstraps one backlog
cold; then three sync queries bootstrap three more backlogs one after the
other and ``batch_s`` is the median of the three (the first of them often
still runs 5-25% slower while the JIT compiles). The third query goes on
live: an open-loop publisher drops a parquet file every 250 ms for
``--seconds``; each event's latency runs from its file's creation stamp
(taken just before the atomic rename that publishes it) to the stub's
receipt of the POST that carries its event_id. ``typical_ms``/``tail_ms``
are the median and p99 of that latency.

Traced runs add the serving phase of serve.py after the live phase, so the
serving layers get per-layer numbers; it is outside every end-to-end metric.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import os
import sys
import threading
import time
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import serve
from common import StubEndpoint, job_ids, median, percentile

BOOTSTRAPS = 3
LIVE_PHASE_S = 0.1  # live start, seconds after a trigger boundary


def _write_backlog(table: pa.Table, events_dir: str, parts: int = 4) -> None:
    """The backlog as a few parquet files, all present before the query
    starts, so it arrives as one micro-batch."""
    os.makedirs(events_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(events_dir, f"backlog-{i}.parquet"))


def generate(ctx) -> dict:
    t0_us = int(time.time() * 1e6)
    streams = [gen.CdcStream(ctx.seed, stream=k) for k in range(BOOTSTRAPS)]
    backlogs, data_dirs = [], []
    for k, stream in enumerate(streams):
        backlogs.append(stream.backlog(t0_us))
        data_dirs.append(os.path.join(ctx.run_dir, f"cdc-{k}"))
        _write_backlog(backlogs[-1], os.path.join(data_dirs[-1], "events.parquet"))
    n_drops = max(1, int(ctx.seconds * 1000 // gen.CDC["drop_interval_ms"]))
    drops = [streams[-1].drop() for _ in range(n_drops)]
    warm_dir = os.path.join(ctx.run_dir, "warm")
    warm = gen.CdcStream(ctx.seed, stream=BOOTSTRAPS).backlog(t0_us)
    _write_backlog(warm, os.path.join(warm_dir, "events.parquet"))
    stub = StubEndpoint().__enter__()
    inputs = {
        "data_dirs": data_dirs,
        "backlogs": backlogs,
        "drops": drops,
        "warm_dir": warm_dir,
        "stub": stub,
    }
    if ctx.tracer.enabled:
        inputs["serve"] = serve.generate(ctx)
    return inputs


def _sync_query(spark, sf_dir: str, write_batch, checkpoint: str):
    from k8s_vectordb_sync_spark.config import EngineConfig
    from k8s_vectordb_sync_spark.sources import cdc
    from k8s_vectordb_sync_spark.streaming import pipeline

    config = EngineConfig()  # shipped defaults: 5 s flush, 50 rows per POST
    stream = cdc.read_change_stream(spark, sf_dir)
    return pipeline.start_instance_sync(stream, config, write_batch, checkpoint_dir=checkpoint)


def warm_up(spark, inputs, ctx) -> None:
    """One cold bootstrap of a backlog as large as the measured ones,
    through the same topology. After a small warm-up, the first large
    bootstrap spread 13% over seeds: the JIT was still compiling its path."""
    from k8s_vectordb_sync_spark.streaming.sink import CollectingSink, http_poster

    sink = CollectingSink(post=http_poster(inputs["stub"].url))
    query = _sync_query(spark, inputs["warm_dir"], sink.write_batch, os.path.join(ctx.run_dir, "warm-ckpt"))
    try:
        if not _wait(lambda: query.lastProgress is not None, 170):
            raise RuntimeError("warm-up batch did not finish")
    finally:
        query.stop()


class Publisher(threading.Thread):
    """Open-loop drop schedule: drop j is due at start + j * interval; it is
    written under a hidden name, stamped, then renamed into the stream dir."""

    def __init__(self, drops: list[dict], events_dir: str):
        super().__init__(daemon=True)
        self.drops = drops
        self.events_dir = events_dir
        self.interval = gen.CDC["drop_interval_ms"] / 1000
        self.stamps: list[float] = []
        self.late_s: list[float] = []
        self.tables: list[pa.Table] = []

    def run(self) -> None:
        ts_of: dict[int, int] = {}
        start = time.time()
        for j, cols in enumerate(self.drops):
            due = start + j * self.interval
            time.sleep(max(0.0, due - time.time()))
            n = len(cols["event_id"])
            base = int(time.time() * 1e6)
            ts = base + np.arange(n, dtype=np.int64)
            # re-deliveries are the same event: original event time
            for i in np.flatnonzero(cols["redelivered"]):
                ts[i] = ts_of[int(cols["event_id"][i])]
            for eid, t in zip(cols["event_id"].tolist(), ts.tolist()):
                ts_of.setdefault(eid, t)
            table = gen.to_table({**cols, "ts": ts})
            hidden = os.path.join(self.events_dir, f".drop-{j:05d}.parquet")
            pq.write_table(table, hidden)
            stamp = time.time()
            os.rename(hidden, os.path.join(self.events_dir, f"drop-{j:05d}.parquet"))
            self.stamps.append(stamp)
            self.late_s.append(stamp - due)
            self.tables.append(table)


def _trigger_epoch(progress: dict) -> float:
    return dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _wait(pred, timeout_s: float, poll_s: float = 0.02) -> bool:
    end = time.time() + timeout_s
    while time.time() < end:
        if pred():
            return True
        time.sleep(poll_s)
    return False


def _instrument(spark, ctx, post):
    """Traced runs: spans around the sink's write_batch, every send and
    every POST attempt, plus the stream's Spark jobs per batch."""
    from k8s_vectordb_sync_spark.sources import cdc
    from k8s_vectordb_sync_spark.streaming import sink as sink_mod

    tr = ctx.tracer
    tr.patch(cdc, "read_change_stream", "sources.cdc.read_change_stream")
    tr.patch(sink_mod, "send_with_retry", "streaming.sink.send")
    if not tr.enabled:
        return post, None

    def traced_post(payload):
        with tr.span("streaming.sink.post_attempt"):
            return post(payload)

    batch_jobs: dict[int, int] = {}

    def wrap_write(write_batch):
        def traced_write(df, batch_id):
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            before = job_ids(spark, group) if group else set()
            with tr.span("streaming.sink.write_batch", rid=batch_id):
                write_batch(df, batch_id)
            batch_jobs[batch_id] = len(job_ids(spark, group) - before) if group else 0

        return traced_write

    return traced_post, (wrap_write, batch_jobs)


def _bootstrap(spark, stub, data_dir: str, checkpoint: str, write_batch):
    """Start a sync query over a backlog and wait for its first batch;
    returns the query, the stub's receipts of that batch and the seconds
    from query start to the last of them."""
    n0 = len(stub.snapshot())
    t_start = time.time()
    query = _sync_query(spark, data_dir, write_batch, checkpoint)
    if not _wait(lambda: query.lastProgress is not None, 170):
        query.stop()
        raise RuntimeError("bootstrap batch did not finish")
    boot = stub.snapshot()[n0:]
    return query, boot, max(t for t, _ in boot) - t_start


def measure(spark, inputs, ctx) -> dict:
    from k8s_vectordb_sync_spark.config import EngineConfig
    from k8s_vectordb_sync_spark.streaming.sink import CollectingSink, http_poster

    stub = inputs["stub"]
    stub.received.clear()
    batch_max = EngineConfig().batch_max_size
    bootstraps, boots = [], []
    for k, data_dir in enumerate(inputs["data_dirs"][:-1]):
        sink = CollectingSink(batch_max_size=batch_max, post=http_poster(stub.url))
        query, boot, secs = _bootstrap(
            spark, stub, data_dir, os.path.join(ctx.run_dir, f"ckpt-{k}"), sink.write_batch
        )
        query.stop()
        bootstraps.append(secs)
        boots.append(boot)
    # the last query is traced and goes on live
    post, hooks = _instrument(spark, ctx, http_poster(stub.url))
    sink = CollectingSink(batch_max_size=batch_max, post=post)
    write_batch = hooks[0](sink.write_batch) if hooks else sink.write_batch
    data_dir = inputs["data_dirs"][-1]
    n_main = len(stub.snapshot())
    query, boot, secs = _bootstrap(spark, stub, data_dir, os.path.join(ctx.run_dir, "ckpt"), write_batch)
    bootstraps.append(secs)
    events_dir = os.path.join(data_dir, "events.parquet")

    # The flush trigger fires on wall-clock multiples of its interval: start
    # the live schedule just after a boundary so every run sees the same
    # drop-to-trigger phase and the live phase spans whole intervals.
    interval = EngineConfig().batch_flush_interval_ms / 1000
    time.sleep((math.floor(time.time() / interval) + 1) * interval + LIVE_PHASE_S - time.time())
    pub = Publisher(inputs["drops"], events_dir)
    pub.start()
    pub.join()
    last = pub.stamps[-1]
    # drained once a trigger that started after the last publish completed
    drained = _wait(lambda: _trigger_epoch(query.lastProgress) > last, 60, 0.05)
    progress = list(query.recentProgress)
    query.stop()
    received = stub.snapshot()[n_main:]

    stamp_of: dict[int, float] = {}
    deletes_at: dict[str, list[float]] = defaultdict(list)
    for table, stamp in zip(pub.tables, pub.stamps):
        cols = table.select(["event_id", "user_id", "event_type"]).to_pydict()
        for eid, uid, et in zip(cols["event_id"], cols["user_id"], cols["event_type"]):
            if eid not in stamp_of:
                stamp_of[eid] = stamp
                if et == "error":
                    deletes_at[f"user/{uid}"].append(stamp)
    sync_ms, delete_ms = [], []
    for t, payload in received[len(boot):]:
        for row in payload.get("upserts", ()):
            if row["event_id"] in stamp_of:
                sync_ms.append((t - stamp_of[row["event_id"]]) * 1000)
        for key in payload.get("deletes", ()):
            stamps = deletes_at.get(key, [])
            k = bisect.bisect_right(stamps, t)
            if k:
                delete_ms.append((t - stamps[k - 1]) * 1000)
    bootstrap_s = median(bootstraps)
    print("perfbench: bootstraps " + " ".join(f"{b:.2f}s" for b in bootstraps), file=sys.stderr)
    ctx.layer.update(
        {
            "bootstrap_s": bootstraps[-1],
            "delete_latency_p99_ms": percentile(delete_ms, 99),
            "generator.late_ms_max": max(pub.late_s) * 1000,
            "generator.drops": len(pub.stamps),
            "sync.latency_samples": len(sync_ms),
        }
    )
    result = {
        "batch_s": bootstrap_s,
        "typical_ms": median(sync_ms),
        "tail_ms": percentile(sync_ms, 99),
        "attempted": BOOTSTRAPS * gen.CDC["keys"] + 1,
        "received": received,
        "boot_received": boots,
        "publisher": pub,
        "drained": drained,
        "progress": progress,
        "boot_posts": len(boot),
        "hooks": hooks,
    }
    if ctx.tracer.enabled:
        serve_hooks = serve.instrument(spark, ctx)
        spark.sparkContext.setJobGroup("serve", "serving phase")
        result["serve"] = serve.measure(spark, inputs["serve"], ctx, serve_hooks)
        result["attempted"] += result["serve"]["attempted"]
    return result


def _state_failures(events: pa.Table, received: list) -> int:
    """Keys whose final state at the stub (after ``received`` in order)
    differs from DuckDB last-state-wins over ``events``."""
    state: dict[str, int] = {}
    for _, payload in received:
        for key in payload.get("deletes", ()):
            state.pop(key, None)
        for row in payload.get("upserts", ()):
            state[row["id"]] = row["event_id"]
    con = duckdb.connect()
    con.register("events", events)
    expected = dict(
        con.execute(
            """
            WITH ev AS (SELECT DISTINCT event_id, ts, user_id, event_type FROM events),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC, (event_type = 'error') DESC, event_id DESC) AS rn
              FROM ev)
            SELECT 'user/' || user_id, event_id FROM ranked
            WHERE rn = 1 AND event_type <> 'error'
            """
        ).fetchall()
    )
    return sum(1 for k in set(expected) | set(state) if expected.get(k) != state.get(k))


def check(spark, inputs, ctx, result) -> int:
    """Final per-key state at the stub of every query against DuckDB
    last-state-wins over the events it was given; plus one op for the
    publisher keeping schedule."""
    inputs["stub"].__exit__()
    backlogs = inputs["backlogs"]
    failed = sum(_state_failures(b, r) for b, r in zip(backlogs, result["boot_received"]))
    failed += _state_failures(pa.concat_tables([backlogs[-1], *result["publisher"].tables]), result["received"])
    late = max(result["publisher"].late_s)
    if late > gen.CDC["drop_interval_ms"] / 1000 or not result["drained"]:
        failed += 1  # the schedule fell a drop behind: the run is invalid
    if "serve" in result:
        failed += serve.check(spark, inputs["serve"], ctx, result["serve"])
    return failed


def layer_metrics(ctx, result, groups) -> None:
    tr = ctx.tracer
    _, batch_jobs = result["hooks"]
    live = [p for p in result["progress"] if p["batchId"] >= 1 and p["numInputRows"] > 0]
    boot = [p for p in result["progress"] if p["batchId"] == 0]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    write_spans = {s["id"]: s for s in tr.spans if s["name"] == "streaming.sink.write_batch"}
    sends = [s for s in tr.spans if s["name"] == "streaming.sink.send"]
    attempts = tr.durations("streaming.sink.post_attempt")
    boot_sends = [s for s in sends if s["id"] == 0]
    boot_rows = sum(
        len(p.get("upserts", ())) + len(p.get("deletes", ()))
        for _, p in result["received"][: result["boot_posts"]]
    )
    out_rows = sum(len(p.get("upserts", ())) + len(p.get("deletes", ())) for _, p in result["received"])
    in_rows = sum(p["numInputRows"] for p in result["progress"])
    state = [op for p in result["progress"] for op in p.get("stateOperators", [])]

    def span_s(s):
        return s["end"] - s["start"]

    ctx.layer.update(
        {
            "sources.cdc.offset_ms": median([dur(p, "latestOffset", "getBatch") for p in live]),
            "streaming.pipeline.planning_ms": median([dur(p, "queryPlanning") for p in live]),
            "streaming.pipeline.commit_ms": median([dur(p, "walCommit", "commitOffsets") for p in live]),
            "streaming.pipeline.resolve_ms": (
                dur(boot[0], "addBatch") - span_s(write_spans[0]) * 1000 if boot and 0 in write_spans else 0.0
            ),
            "streaming.pipeline.state_rows": max((op.get("numRowsTotal", 0) for op in state), default=0),
            "streaming.pipeline.state_bytes": max((op.get("memoryUsedBytes", 0) for op in state), default=0),
            "operators.debounce.resolved_per_input": out_rows / in_rows if in_rows else 0.0,
            "streaming.sink.write_ms": median(
                [(s["end"] - s["start"] - s["children_s"]) * 1000 for b, s in write_spans.items() if b >= 1]
                or [0.0]
            ),
            "streaming.sink.jobs_per_batch": median([v for b, v in batch_jobs.items() if b >= 1] or [0]),
            "streaming.sink.posts": len(boot_sends),
            "streaming.sink.post_ms": median([a * 1000 for a in attempts]) if attempts else 0.0,
            "streaming.sink.attempts_per_post": len(attempts) / len(sends) if sends else 0.0,
            "streaming.sink.rows_per_post": boot_rows / len(boot_sends) if boot_sends else 0.0,
        }
    )
    serve.layer_metrics(ctx, result["serve"])
