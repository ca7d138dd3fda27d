"""Key-bucketed one-slot kernels against their batch twins.

``streaming_login_fail``, ``streaming_value_spike`` and
``streaming_last_touch`` group their key into ``KEY_BUCKETS`` hash
buckets and keep each bucket's state as parallel sorted arrays.  One synthetic stream exercises every way the
bucket mechanics can go wrong, and each kernel's output must equal its
batch twin over the same rows:

- every key's events straddle six micro-batches (``maxFilesPerTrigger=1``),
  so each key's first row per batch is seeded from stored state;
- many (key, ts) ties, broken by ``event_id`` only — each file's rows
  are written shuffled, so the kernel's own sort decides;
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` far below a bucket's
  rows per micro-batch, so buckets arrive as several Arrow slices;
- a NULL key interleaved with key 0 (the value a NULL key is filled
  with before sorting): it must be its own key, neither crashing the
  bucket nor reading or writing key 0's slot;
- a restart from the checkpoint after the third file.

The login kernel (the one the open-loop benchmark runs) is in the
default tier; the other two are in the soak tier.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.operators.patterns import consecutive_fail_alerts
from flinkecuserbehavioranalysis_spark.streaming.stateful import (
    KEY_BUCKETS,
    streaming_last_touch,
    streaming_login_fail,
    streaming_value_spike,
)

N_FILES, ROWS_PER_FILE, N_KEYS = 6, 500, 50
MAX_ARROW_RECORDS = 5
T0 = 1_700_000_000
DDL = "user_id long, event_type string, ts timestamp, event_id long, value double"


def _events() -> pd.DataFrame:
    """Seeded events, one-second timestamps (so ties are common), 5% of
    rows keyed NULL, key 0 about as busy as the NULL key."""
    rng = np.random.default_rng(7)
    n = N_FILES * ROWS_PER_FILE
    ts = np.sort(rng.integers(0, 900, n))
    users = rng.integers(0, N_KEYS, n).astype(float)
    users[rng.random(n) < 0.05] = np.nan
    users[rng.random(n) < 0.03] = 0
    types = rng.choice(["view", "click", "purchase", "error", None], n, p=[0.3, 0.2, 0.15, 0.3, 0.05])
    values = np.round(rng.exponential(10.0, n), 2)
    values[rng.random(n) < 0.03] = np.nan
    return pd.DataFrame(
        {
            "user_id": pd.array(users, dtype="Int64"),
            "event_type": types,
            "ts": pd.to_datetime(T0 + ts, unit="s").astype("datetime64[us]"),
            # ids follow (ts, random) order: the file order within a tie
            # is shuffled below, so only the tiebreak orders a tie
            "event_id": np.arange(n, dtype="int64"),
            "value": values,
        }
    )


def _write_files(src: str, pdf: pd.DataFrame, lo: int, hi: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(lo, hi):
        part = pdf.iloc[i * ROWS_PER_FILE : (i + 1) * ROWS_PER_FILE].sample(frac=1.0, random_state=i)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(src, f"part_{i:03d}.parquet"),
        )


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    """Runs a kernel over the six files in two checkpointed segments
    (three files, restart, three files) with small Arrow batches, and
    returns every emitted row."""
    root = tmp_path_factory.mktemp("bucketed")
    pdf = _events()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def run(name, kernel) -> list[tuple]:
        src, ckpt = str(root / name / "src"), str(root / name / "ckpt")
        os.makedirs(src)
        rows: list[tuple] = []

        def collect(batch_df, _epoch):
            rows.extend(tuple(r) for r in batch_df.collect())

        old = spark.conf.get(conf)
        spark.conf.set(conf, str(MAX_ARROW_RECORDS))
        try:
            for lo, hi in ((0, 3), (3, N_FILES)):
                _write_files(src, pdf, lo, hi)
                stream = spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1).parquet(src)
                q = (
                    kernel(stream)
                    .writeStream.foreachBatch(collect)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(300), f"{name} replay did not finish"
                assert len([p for p in q.recentProgress if p["numInputRows"]]) == hi - lo
        finally:
            spark.conf.set(conf, old)
        return rows

    batch = spark.createDataFrame(pdf, DDL)
    return run, batch


def _sorted(rows) -> list[tuple]:
    return sorted(rows, key=repr)


def test_replay_exercises_every_bucket_edge(spark, replay):
    """The synthetic stream really has the shapes the kernels must
    survive — otherwise the equivalence tests below prove little."""
    _, batch = replay
    per_bucket = (
        batch.withColumn("f", F.floor(F.col("event_id") / ROWS_PER_FILE))
        .groupBy("f", F.pmod(F.xxhash64("user_id"), F.lit(KEY_BUCKETS)))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_bucket > 3 * MAX_ARROW_RECORDS
    ties = batch.groupBy("user_id", "ts").count().where("count > 1").count()
    assert ties > 50
    spans = batch.groupBy("user_id").agg(
        F.countDistinct(F.floor(F.col("event_id") / ROWS_PER_FILE)).alias("files")
    )
    assert spans.agg(F.min("files")).first()[0] == N_FILES
    assert batch.where(F.col("user_id").isNull()).count() > 50
    assert batch.where(F.col("user_id") == 0).count() > 50


def test_login_fail_matches_batch(spark, replay):
    run, batch = replay
    got = run("login", lambda s: streaming_login_fail(s.select("user_id", "event_type", "ts", "event_id")))
    want = [
        tuple(r)
        for r in consecutive_fail_alerts(
            batch, fail_value="error", max_gap_seconds=3600, tiebreak_col="event_id"
        ).collect()
    ]
    assert _sorted(got) == _sorted(want)
    assert any(r[0] is None for r in got) and any(r[0] == 0 for r in got)
    # the tiebreak matters on this data: ordering ties the other way
    # changes the alerts
    flipped = consecutive_fail_alerts(
        batch.withColumn("neg", -F.col("event_id")),
        fail_value="error",
        max_gap_seconds=3600,
        tiebreak_col="neg",
    ).collect()
    assert _sorted(tuple(r) for r in flipped) != _sorted(want)


@pytest.mark.soak
def test_value_spike_matches_batch(spark, replay):
    run, batch = replay
    got = run("spike", streaming_value_spike)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = [
        tuple(r)
        for r in batch.select(
            "user_id",
            F.lag("ts").over(w).alias("prev_ts"),
            "ts",
            F.lag("value").over(w).alias("prev_value"),
            "value",
        )
        .where(
            F.col("prev_value").isNotNull()
            & (F.col("value") >= 2 * F.col("prev_value"))
            & (F.col("ts").cast("double") - F.col("prev_ts").cast("double") <= 3600.0)
        )
        .select(
            "user_id",
            F.col("prev_ts").cast("long"),
            F.col("ts").cast("long"),
            "prev_value",
            "value",
        )
        .collect()
    ]
    assert _sorted(got) == _sorted(want)
    assert any(r[0] is None for r in got)


@pytest.mark.soak
def test_last_touch_matches_batch(spark, replay):
    run, batch = replay
    got = run("last_touch", lambda s: streaming_last_touch(s, within_seconds=300.0))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, -1)
    touch = F.max(
        F.when(
            F.col("event_type").isNull() | (F.col("event_type") != "purchase"),
            F.struct(F.col("ts").cast("double").alias("t"), "event_id", "event_type"),
        )
    ).over(w)
    fresh = F.col("touch").isNotNull() & (F.col("ts").cast("double") - F.col("touch.t") <= 300.0)
    want = [
        tuple(r)
        for r in batch.withColumn("touch", touch)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").cast("long"),
            F.when(fresh, F.col("touch.event_type")),
            F.when(~F.isnan("value"), F.col("value")),
        )
        .collect()
    ]
    assert _sorted(got) == _sorted(want)
    # both arms of the freshness test and the NULL key all occur
    assert {r[2] is None for r in got} == {True, False}
    assert any(r[0] is None for r in got)
