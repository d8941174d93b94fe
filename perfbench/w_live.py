"""``live_ticks``: live scores kept fresh by a streaming upsert.

A generator thread drops parquet tick files into the source directory on a
fixed schedule (``FILES_PER_S`` files of ``TICKS_PER_FILE`` ticks over
``LIVE_KEYS`` live matches), each written to a staging directory and
renamed in. They flow through ``streaming.live.read_tick_stream`` →
``dedup_late_ticks`` → ``start_upsert_sink(trigger_seconds=TRIGGER_S)``,
whose foreachBatch merge rewrites the live target. A catch-up phase then, in
each of ``CATCHUP_ROUNDS`` rounds, drops ``BACKLOG_FILES`` files at once and
times the drain.

The trigger is 2 s and one file lands per trigger interval, half an
interval before the trigger fires: a batch takes 1.0-1.3 s on a 4-core box,
so with a 1 s trigger whether a batch fit its interval flipped from run to
run, and with several files per interval at different phases the median
fell between two levels of wait. Here every file waits the same.

The files every measured batch writes into the target are listed as they
appear (``common.FileWatcher``), for the bytes and rows a batch rewrites.

Freshness of a file: from its scheduled drop time to the mtime of
``<ckpt>/commits/<batchId>`` of the batch that read it (the batch is found
in the file source's metadata log). Correctness: the final target equals
latest-wins per ``match_id`` over every generated tick, and every dropped
file appears in the source log.
"""

from __future__ import annotations

import json
import os
import threading
import time

from common import (
    Bench,
    FileWatcher,
    commit_times,
    file_batches,
    median,
    parquet_files,
    tail_percentile,
)
from gen import TickFeed

FILES_PER_S = 0.5
TICKS_PER_FILE = 2_000
LIVE_KEYS = 5_000
WARMUP_FILES = 1
BACKLOG_FILES = 30
CATCHUP_ROUNDS = 3
TRIGGER_S = 2
DRAIN_TIMEOUT_S = 60.0
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _wait_committed(ckpt: str, files: list[str], timeout: float) -> bool:
    """Wait until every file in ``files`` is in a committed batch."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        log = file_batches(ckpt)
        commits = commit_times(os.path.join(ckpt, "commits"))
        if all(f in log and log[f] in commits for f in files):
            return True
        time.sleep(0.05)
    return False


def run(bench: Bench) -> dict:
    from pyspark.sql import types as T
    from sport_data_pipeline_spark.streaming.live import (
        dedup_late_ticks,
        read_tick_stream,
        start_upsert_sink,
    )

    base = os.path.join(bench.work, "live")
    incoming, staging = os.path.join(base, "incoming"), os.path.join(base, "staging")
    target, ckpt = os.path.join(base, "target"), os.path.join(base, "ckpt")
    for d in (incoming, staging):
        os.makedirs(d, exist_ok=True)
    feed = TickFeed(bench.seed, LIVE_KEYS, TICKS_PER_FILE)
    dropped: dict[str, float] = {}  # file URI → scheduled drop time (epoch s)
    n_files = [0]

    def stage() -> str:
        k = n_files[0]
        n_files[0] += 1
        name = f"ticks-{k:05d}.parquet"
        with open(os.path.join(staging, name), "wb") as fh:
            fh.write(feed.file_bytes(k))
        return name

    def publish(name: str, scheduled: float) -> str:
        dst = os.path.join(incoming, name)
        os.rename(os.path.join(staging, name), dst)
        uri = "file://" + dst
        dropped[uri] = scheduled
        return uri

    def drop(scheduled: float) -> str:
        return publish(stage(), scheduled)

    spark = bench.start_session()
    schema = T.StructType([
        T.StructField("match_id", T.LongType()),
        T.StructField("minute", T.IntegerType()),
        T.StructField("home_score", T.IntegerType()),
        T.StructField("away_score", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("scraped_at", T.TimestampType()),
    ])
    stream = dedup_late_ticks(read_tick_stream(spark, incoming, schema), ["match_id"], "scraped_at")
    query = start_upsert_sink(
        stream, target, ["match_id"], ["scraped_at"], ckpt, trigger_seconds=TRIGGER_S
    )
    try:
        # set-up ends with the warm-up op: the first (cold) batches
        warm = []
        for _ in range(WARMUP_FILES):
            warm.append(drop(time.time()))
            if not _wait_committed(ckpt, warm, DRAIN_TIMEOUT_S):
                raise RuntimeError("warm-up batch did not commit")
        setup_s = time.perf_counter() - bench.t_start
        warm_batches = max(commit_times(os.path.join(ckpt, "commits"))) + 1
        warm_target = parquet_files(target)
        watcher = FileWatcher(target).start()  # every file a measured batch writes

        # -- fixed-rate phase: the generator drops files on schedule --------
        # Processing-time triggers fire on epoch multiples of the interval;
        # dropping each file half an interval before one fixes the phase
        # between drops and triggers, so every file and run sees the same.
        late: list[float] = []
        t0 = (int(time.time() / TRIGGER_S) + 1) * TRIGGER_S + TRIGGER_S / 2
        n_sched = int(bench.seconds * FILES_PER_S)

        def generator() -> None:
            for i in range(n_sched):
                due = t0 + i / FILES_PER_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                late.append(max(0.0, time.time() - due))
                with bench.tracer.span("generator.file", f"file-{i}"):
                    drop(due)

        gen = threading.Thread(target=generator)
        gen.start()
        gen.join()
        rate_files = [u for u in dropped if u not in warm]
        _wait_committed(ckpt, rate_files, DRAIN_TIMEOUT_S)

        # -- catch-up phase: CATCHUP_ROUNDS staged backlogs, each renamed in
        # at once just before a trigger fires (so the drain does not include
        # a trigger wait); the rate is the median over rounds
        backlog: list[str] = []
        catchup_s: list[float] = []
        for _ in range(CATCHUP_ROUNDS):
            staged = [stage() for _ in range(BACKLOG_FILES)]
            tc = (int(time.time() / TRIGGER_S) + 1) * TRIGGER_S - 0.05 * TRIGGER_S
            time.sleep(max(0.0, tc - time.time()))
            round_files = [publish(name, tc) for name in staged]
            backlog += round_files
            _wait_committed(ckpt, round_files, DRAIN_TIMEOUT_S)
            log = file_batches(ckpt)
            commits = commit_times(os.path.join(ckpt, "commits"))
            drained_at = [commits[log[u]] for u in round_files if u in log and log[u] in commits]
            catchup_s.append(max(drained_at, default=tc + DRAIN_TIMEOUT_S) - tc)
        # progress is posted just after the commit file is written
        deadline = time.time() + 5
        while time.time() < deadline and (query.lastProgress or {}).get("batchId", -1) < max(commits):
            time.sleep(0.05)
        progress = [json.loads(p.json) for p in query.recentProgress]
        run_id = str(query.runId)
    finally:
        query.stop()
        query.awaitTermination(30)
    watcher.stop()
    rewritten = [v for p, v in watcher.seen.items() if p not in warm_target]

    # -- freshness of the fixed-rate files ---------------------------------
    fresh = []
    for u in rate_files:
        b = log.get(u)
        if b is not None and b >= warm_batches and b in commits:
            fresh.append(commits[b] - dropped[u])
    for u, b in log.items():
        if u in dropped and b in commits:
            bench.tracer.add("batch.commit", dropped[u], commits[b], f"batch-{b}")

    # -- correctness ---------------------------------------------------------
    # every measured file is one op: it must be in the source log and in a
    # committed batch
    for u in rate_files + backlog:
        bench.count_op()
        if u not in log:
            bench.fail(f"{u}: missing from the source log")
        elif log[u] not in commits:
            bench.fail(f"{u}: its batch {log[u]} never committed")
    bench.count_op()  # the target equals latest-wins over every tick
    try:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            f"SELECT match_id, minute, home_score, away_score, status, "
            f"epoch_us(scraped_at) FROM read_parquet('{target}/*.parquet')"
        ).fetchall()
        con.close()
        got = {r[0]: tuple(r) for r in rows}
        if len(rows) != len(got) or got != feed.latest:
            bad = sum(1 for k, v in feed.latest.items() if got.get(k) != v)
            bench.fail(f"target differs from latest-wins model: {bad} keys, {len(rows)} rows")
    except Exception as exc:
        bench.fail(f"target check: {exc!r}")
    # an idle trigger posts progress too, without running the sink: a batch
    # ran when its progress carries an addBatch duration
    ran = [p for p in progress if "addBatch" in p.get("durationMs", {}) and p["batchId"] >= warm_batches]
    data_batches = [p for p in ran if p.get("numInputRows", 0) > 0]
    n_ran = max(1, len(ran))

    # -- per-batch layers from the query's progress --------------------------
    def phase(name: str) -> list[float]:
        return [p.get("durationMs", {}).get(name, 0) / 1000.0 for p in data_batches]

    prepare = [a + b + c for a, b, c in zip(phase("latestOffset"), phase("getBatch"), phase("queryPlanning"))]
    jobs, stages, tasks = bench.group_counts(run_id)
    n_batches = max(1, len(commits))
    bench.spark_counts = [(jobs / n_batches, stages / n_batches, tasks / n_batches)]
    state_rows = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])) for p in data_batches
    ]
    all_ticks = TICKS_PER_FILE * n_files[0]
    pct, tail, n = tail_percentile(fresh) if fresh else (50.0, DRAIN_TIMEOUT_S, 0)
    return {
        "setup_s": setup_s,
        "latency_p50_s": median(fresh) if fresh else DRAIN_TIMEOUT_S,
        "latency_tail_s": tail,
        "latency_tail_pct": pct,
        "latency_samples": n,
        "throughput_per_s": TICKS_PER_FILE * BACKLOG_FILES / median(catchup_s),
        "layer": {"prepare_s": median(prepare) if prepare else 0.0,
                  "execute_s": median(phase("addBatch")) if data_batches else 0.0},
        "detail": {
            "live.freshness_p50_s": median(fresh) if fresh else None,
            "live.freshness_tail_s": tail,
            "live.freshness_tail_percentile": pct,
            "live.freshness_samples": n,
            "live.catchup_ticks_per_s": TICKS_PER_FILE * BACKLOG_FILES / median(catchup_s),
            "live.catchup_s": catchup_s,
            "live.offered_ticks_per_s": FILES_PER_S * TICKS_PER_FILE,
            "live.generator_late_s": max(late) if late else 0.0,
            **{f"stream.{ph}_ms": median(phase(ph)) * 1000 if data_batches else None for ph in PHASES},
            "stream.batches": len(ran),
            "stream.data_batches": len(data_batches),
            "stream.rows_per_batch": median([p["numInputRows"] for p in data_batches]) if data_batches else 0,
            # no-data batches the watermark runs: they still rewrite the target
            "stream.empty_batch_share": 1 - len(data_batches) / n_ran,
            "stream.state_rows": max(state_rows) if state_rows else 0,
            "target.files_written": len(rewritten),
            "target.bytes_rewritten_per_batch": sum(b for b, _ in rewritten) / n_ran,
            "target.rows_rewritten_per_batch": sum(r for _, r in rewritten) / n_ran,
            "live.ticks_total": all_ticks,
        },
    }
