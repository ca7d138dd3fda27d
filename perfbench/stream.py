"""Open-loop streaming workload.

The benchmark process writes one parquet file of events every
``FILE_INTERVAL_S`` seconds on a fixed schedule that does not wait for
the engine.  Event time is the creation time and user ids are uniform
over a bounded key space.  Two jobs read the growing directory through
``streaming.jobs.read_events_stream`` at the same time:

- ``login``: ``streaming.stateful.streaming_login_fail``, keyed state in
  Python workers, into a memory sink;
- ``window``: ``streaming.jobs.streaming_windowed_count`` in update mode
  into ``streaming.sinks.foreach_batch_partitioned_upsert`` (JVM state
  plus writes: the reference's count-to-store job).

A file's emit latency runs from when it was due to the commit of the
micro-batch that consumed it.  After the schedule ends the generator
stops, each job drains with ``processAllAvailable()`` and is then
stopped; each job's output is compared with its batch twin over the
same files.
"""

from __future__ import annotations

import json
import os
import time

import check
import engine
import gen
from stats import percentile

RATE_EPS = 2000
FILE_INTERVAL_S = 0.5
USERS = 5000
WINDOW = "5 seconds"
JOBS = ("login", "window")
START_TIMEOUT_S = 120


def _batch_of_files(checkpoint: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from the file
    source's log in the checkpoint."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _commit_times(checkpoint: str) -> dict[int, float]:
    commits = os.path.join(checkpoint, "commits")
    return {
        int(n): os.stat(os.path.join(commits, n)).st_mtime
        for n in os.listdir(commits)
        if n.isdigit()
    }


def _wait_first_commit(checkpoints, deadline: float) -> None:
    while not all(os.path.exists(os.path.join(c, "commits", "0")) for c in checkpoints):
        if time.time() > deadline:
            raise TimeoutError("streaming jobs did not commit their first batch")
        time.sleep(0.05)


def _job_timeline(checkpoint: str, due: dict[str, float], progress: list[dict]) -> dict:
    """Latency and batch numbers of one job over the scheduled files."""
    batch_of = _batch_of_files(checkpoint)
    commit = _commit_times(checkpoint)
    latencies, undelivered = [], 0
    for name, t_due in due.items():
        b = batch_of.get(name)
        if b is None or b not in commit:
            undelivered += 1
        else:
            latencies.append(commit[b] - t_due)
    timed = {batch_of[n] for n in due if n in batch_of}
    batches = [p for p in progress if p["batchId"] in timed and p["numInputRows"] > 0]
    # files due by a commit and not yet consumed by it: the queue
    backlog = max(
        (
            sum(1 for n, t in due.items() if t <= c and batch_of.get(n, 1 << 62) > b)
            for b, c in commit.items()
            if b in timed
        ),
        default=0,
    )
    return {
        "latencies": latencies,
        "undelivered": undelivered,
        "batches": batches,
        "backlog": backlog,
        "last_commit": max(commit.values()),
    }


def _duration_p(batches: list[dict], key: str, q: float) -> float:
    values = [b["durationMs"].get(key, 0) for b in batches]
    return percentile(values, q) if values else 0.0


def _state(progress: list[dict], field: str) -> float:
    return max(
        (sum(op.get(field, 0) for op in p.get("stateOperators", [])) for p in progress),
        default=0,
    )


def run(seed: int, seconds: float, work: str, tracer) -> dict:
    sf_dir = os.path.join(work, "stream")
    events_dir = os.path.join(sf_dir, "events.parquet")
    rows = int(RATE_EPS * FILE_INTERVAL_S)
    files = gen.StreamFiles(events_dir, USERS, seed)
    files.write(rows, time.time(), FILE_INTERVAL_S)  # consumed by batch 0
    ck = {job: os.path.join(work, "checkpoints", job) for job in JOBS}
    store = os.path.join(work, "store")
    write_s: list[float] = []

    t0 = time.perf_counter()
    spark, session_s = engine.start_session(tracer)
    from flinkecuserbehavioranalysis_spark.streaming.jobs import (
        read_events_stream,
        streaming_windowed_count,
    )
    from flinkecuserbehavioranalysis_spark.streaming.sinks import (
        foreach_batch_partitioned_upsert,
    )
    from flinkecuserbehavioranalysis_spark.streaming.stateful import streaming_login_fail

    upsert = foreach_batch_partitioned_upsert(store, ["ws", "event_type"])

    def sink(batch_df, epoch_id):
        s0 = time.perf_counter()
        if tracer is None:
            upsert(batch_df, epoch_id)
        else:
            with tracer.span("sinks.write", query="window"):
                upsert(batch_df, epoch_id)
        write_s.append(time.perf_counter() - s0)

    stream = read_events_stream(spark, sf_dir)
    login = (
        streaming_login_fail(stream.select("user_id", "event_type", "ts", "event_id"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("perfbench_login")
        .option("checkpointLocation", ck["login"])
        .start()
    )
    window = (
        streaming_windowed_count(stream, size=WINDOW, keys=["event_type"], watermark=WINDOW)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ck["window"])
        .start()
    )
    queries = {"login": login, "window": window}
    _wait_first_commit(ck.values(), time.time() + START_TIMEOUT_S)
    setup_s = time.perf_counter() - t0
    write_s.clear()
    if tracer is not None:
        session_s = tracer.total("session.start")
        tracer.mark()

    # open loop: the schedule never waits for the engine
    due: dict[str, float] = {}
    lag = 0.0
    origin = time.time()
    for i in range(1, int(seconds / FILE_INTERVAL_S) + 1):
        t_due = origin + i * FILE_INTERVAL_S
        time.sleep(max(0.0, t_due - time.time()))
        path = files.write(rows, t_due, FILE_INTERVAL_S)
        lag = max(lag, time.time() - t_due)
        due[os.path.basename(path)] = t_due

    d0 = time.perf_counter()
    for q in queries.values():
        q.processAllAvailable()
    drain_s = time.perf_counter() - d0
    progress = {job: list(q.recentProgress) for job, q in queries.items()}
    for q in queries.values():
        q.stop()
        q.awaitTermination(60)

    lines = {job: _job_timeline(ck[job], due, progress[job]) for job in JOBS}
    attempted = len(due) * len(JOBS)
    failed = sum(t["undelivered"] for t in lines.values())
    errors = [f"{job}: {t['undelivered']} files never committed" for job, t in lines.items() if t["undelivered"]]
    for job, reason in _check_twins(spark, sf_dir, store).items():
        attempted += 1
        if reason:
            failed += 1
            errors.append(f"{job}: {reason}")

    def mean_over_jobs(fn) -> float:
        return sum(fn(t) for t in lines.values()) / len(lines)

    e2e = {
        "setup_s": setup_s,
        "pass_s": max(t["last_commit"] for t in lines.values()) - origin,
        "query_p50_s": mean_over_jobs(lambda t: _duration_p(t["batches"], "triggerExecution", 50)) / 1e3,
        "query_p90_s": mean_over_jobs(lambda t: _duration_p(t["batches"], "triggerExecution", 90)) / 1e3,
        "emit_latency_p50_s": mean_over_jobs(lambda t: percentile(t["latencies"], 50)),
        "emit_latency_p90_s": mean_over_jobs(lambda t: percentile(t["latencies"], 90)),
    }
    result = {"attempted": attempted, "failed": failed, "errors": errors, "passes": 1, "e2e": e2e}
    if tracer is not None:
        result["layer"] = {
            "session.start_s": session_s,
            "streaming.batches": sum(len(t["batches"]) for t in lines.values()),
            "streaming.batch_p50_ms": mean_over_jobs(lambda t: _duration_p(t["batches"], "triggerExecution", 50)),
            "streaming.add_batch_ms": mean_over_jobs(lambda t: _duration_p(t["batches"], "addBatch", 50)),
            "streaming.planning_ms": mean_over_jobs(lambda t: _duration_p(t["batches"], "queryPlanning", 50)),
            "streaming.commit_ms": mean_over_jobs(
                lambda t: _duration_p(t["batches"], "walCommit", 50)
                + _duration_p(t["batches"], "commitOffsets", 50)
            ),
            "streaming.backlog_files": max(t["backlog"] for t in lines.values()),
            "streaming.state_rows": sum(_state(p, "numRowsTotal") for p in progress.values()),
            "streaming.state_mb": sum(_state(p, "memoryUsedBytes") for p in progress.values()) / 2**20,
            "streaming.watermark_dropped": sum(
                op.get("numRowsDroppedByWatermark", 0)
                for p in progress.values()
                for b in p
                for op in b.get("stateOperators", [])
            ),
            "streaming.drain_s": drain_s,
            "sinks.write_s": percentile(write_s, 50) if write_s else 0.0,
            "gen.lag_max_s": lag,
            "mem.peak_rss_mb": engine.peak_rss_mb(),
        }
    return result


def _check_twins(spark, sf_dir: str, store: str) -> dict[str, str | None]:
    """Each job's drained output against its batch twin over the same
    files."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.patterns import consecutive_fail_alerts
    from flinkecuserbehavioranalysis_spark.operators.windows import windowed_count

    events = load_table(spark, sf_dir, "events")
    twins = {
        "login": (
            spark.table("perfbench_login"),
            consecutive_fail_alerts(
                events, fail_value="error", max_gap_seconds=3600, tiebreak_col="event_id"
            ),
        ),
        "window": (
            spark.read.parquet(store),
            windowed_count(events, "ts", WINDOW, keys=["event_type"]),
        ),
    }
    out = {}
    for job, (got, want) in twins.items():
        try:
            out[job] = check.mismatch(
                check.arrow_rows(got.toArrow()), check.arrow_rows(want.toArrow())
            )
        except Exception as exc:  # a failed check counts, the others still run
            out[job] = f"{type(exc).__name__}: {exc}"[:300]
    return out
