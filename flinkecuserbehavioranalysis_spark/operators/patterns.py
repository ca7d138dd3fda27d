"""Sequential-pattern detection & stateful filters (SURVEY.md §2.8 F1-F4).

Reference semantics reproduced:

- **consecutive login failures** (LoginFailDetect — 3 implementations:
  ListState+timer LoginFailOne.scala:62-106, last-fail compare
  LoginFailTwo.scala:60-91, CEP strict ``fail next fail within 2s``
  LoginFailWithCep.scala:56-60).  The strict-contiguity pattern over a
  keyed stream is exactly "this row and the previous row for the same
  user are both fails, Δt ≤ gap" — a ``lag()`` window function.  One
  shuffle on user_id; sort is per-user within partitions (no global
  sort), which holds at 100 TB because per-user history is tiny.
- **click-fraud blacklist** (AdAnalysisByProvinceBlack.scala:69-109):
  per (user, ad, day) pass rows until the count crosses a threshold,
  emit exactly one warning on first exceed, drop the rest, reset at
  midnight (processing-time timer :81-84).  Batch-exact formulation:
  ``row_number`` per (user, ad, epoch-day) in event order — rows with
  rn ≤ threshold pass, the rn == threshold+1 row is the warning.
  The midnight reset is the epoch-day component of the partition key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import floor_div, floor_long

_DAY = 86400


def times(pred: Column, n: int) -> list[Column]:
    """CEP ``times(n)`` quantifier: the predicate repeated *n* times.
    Splat into ``pattern_sequence`` steps — with ``'strict'`` on the
    internal gaps this is flink-cep's ``.times(n).consecutive()``
    (LoginFailWithCep.scala:56-60 is ``times(2)`` strict over fails)."""
    if n < 1:
        raise ValueError(f"times: n must be >= 1, got {n}")
    return [pred] * n


def pattern_sequence(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list[Column],
    within_seconds: float,
    contiguity: str | list[str] = "relaxed",
    tiebreak_col: str | None = None,
    emit_double: bool = False,
) -> DataFrame:
    """N-step quantified sequence pattern — flink-cep's
    ``begin.where(s1).next|followedBy.where(s2)...where(sN).within(t)``
    as one parameterized operator.  The reference's CEP jobs are its
    2-step instances: LoginFailWithCep.scala:56-60 is the strict one
    (``consecutive_fail_alerts``), OrderTimeoutWithOutCep.scala:45-48
    the relaxed one; a view→click→purchase funnel is the 3-step relaxed
    one.  Quantifiers expand via ``times``: ``steps=[*times(fail, 2)]``
    + strict internal gaps ≡ ``.times(2).consecutive()``.

    *contiguity* is one gap policy for all N-1 gaps, or a per-gap list:

    - ``'strict'`` (CEP ``next``): step i+1 must be the key's
      immediately-next event after step i — intervening events of any
      kind break the match (LoginFailTwo.scala:87-88's success-reset
      falls out of this).
    - ``'relaxed'`` (CEP ``followedBy``): step i+1 may skip intervening
      events.

    The time bound is strict (``last_ts - first_ts < within``), matching
    both reference jobs (LoginFailTwo.scala:74 compares ``eventTime <
    first + 2``; OrderTimeout.scala:104 ``payTime < timerTs``) and
    CEP's end-exclusive ``within``.  Events with a NULL timestamp cannot
    be ordered into the stream and are excluded.

    Semantics: per first-step event, the **lexicographically-earliest
    complete chain** (compare step-1 ts, then step-2 ts, …), then the
    end-exclusive bound ``last_ts - first_ts < within_seconds`` is
    applied to that chain.  With all-relaxed gaps this chain
    simultaneously minimizes every step timestamp (each later step's
    earliest continuation is monotone in its predecessor), so the
    within check loses no match — identical to greedy skip-till-next
    CEP.  Property-tested against a naive chain-enumerating evaluator
    (tests/test_properties.py).

    Execution shape: the chain is built right-to-left as a running
    ``min`` over a ``struct(ts, chain)`` — per gap, one window pass in
    REVERSE key order (``lag`` for strict gaps), so "earliest following
    completion" is a running min over PRECEDING rows: O(n) per key per
    step, never the quadratic unbounded-FOLLOWING frame.  All N-1
    passes share one partitioning+ordering → a single shuffle+sort on
    *key_col*, which holds at 100 TB because per-key history is
    bounded.  Returns (key_col, step1_ts … stepN_ts) as epoch-second
    longs — or exact doubles with *emit_double* (the CEP compiler's
    mode: negation windows must compare at full event-time precision
    before the final floor)."""
    n = len(steps)
    if n < 2:
        raise ValueError(f"pattern_sequence needs >= 2 steps, got {n}")
    contigs = [contiguity] * (n - 1) if isinstance(contiguity, str) else list(contiguity)
    if len(contigs) != n - 1:
        raise ValueError(f"need {n - 1} gap policies for {n} steps, got {len(contigs)}")
    for c in contigs:
        if c not in ("strict", "relaxed"):
            raise ValueError(f"contiguity must be 'strict' or 'relaxed', got {c!r}")
    # adjacency must not depend on where an unorderable event sorts
    df = df.where(F.col(ts_col).isNotNull())
    rev = [F.col(ts_col).desc()] + ([F.col(tiebreak_col).desc()] if tiebreak_col else [])
    w_lag = Window.partitionBy(key_col).orderBy(*rev)
    w_min = w_lag.rowsBetween(Window.unboundedPreceding, -1)
    cur = df.withColumn("__tse", F.col(ts_col).cast("double")).withColumn(
        f"__g{n - 1}",
        F.when(
            steps[n - 1],
            F.struct(F.col("__tse").alias("t"), F.array(F.col("__tse")).alias("chain")),
        ),
    )
    for i in range(n - 2, -1, -1):
        prev = F.col(f"__g{i + 1}")
        cand = F.lag(prev, 1).over(w_lag) if contigs[i] == "strict" else F.min(prev).over(w_min)
        cur = (
            cur.withColumn("__cand", cand)
            .withColumn(
                f"__g{i}",
                F.when(
                    steps[i] & F.col("__cand").isNotNull(),
                    F.struct(
                        F.col("__tse").alias("t"),
                        F.concat(F.array(F.col("__tse")), F.col("__cand.chain")).alias("chain"),
                    ),
                ),
            )
            .drop("__cand", f"__g{i + 1}")
        )
    chain = F.col("__g0.chain")
    emit = (lambda c: c) if emit_double else floor_long
    return cur.filter(
        F.col("__g0").isNotNull()
        & (F.element_at(chain, n) - F.element_at(chain, 1) < F.lit(float(within_seconds)))
    ).select(
        F.col(key_col),
        *[emit(F.element_at(chain, i + 1)).alias(f"step{i + 1}_ts") for i in range(n)],
    )


def consecutive_fail_alerts(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    fail_value: str = "fail",
    max_gap_seconds: int = 2,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """F3/F4 — emit a warning per (fail, fail) adjacent pair within gap:
    ``pattern_sequence(times(fail, 2), contiguity='strict')``, the
    LoginFailWithCep.scala:56-60 pattern (success rows break adjacency —
    LoginFailTwo.scala:87-88).  The gap bound is strict
    (``< max_gap_seconds``), matching LoginFailTwo.scala:74
    ``value.eventTime < firstFailEvent.eventTime + 2``.  *tiebreak_col*
    pins a total event order under equal timestamps."""
    return pattern_sequence(
        df,
        key_col=user_col,
        ts_col=ts_col,
        steps=times(F.col(type_col) == fail_value, 2),
        within_seconds=float(max_gap_seconds),
        contiguity="strict",
        tiebreak_col=tiebreak_col,
    ).select(
        F.col(user_col),
        F.col("step1_ts").alias("first_fail_ts"),
        F.col("step2_ts").alias("last_fail_ts"),
        F.lit("login fail 2 times in a short time").alias("warning_msg"),
    )


def fail_burst_alerts(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    fail_value: str = "fail",
    window_seconds: int = 2,
    min_fails: int = 2,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """F2 — the LoginFailOne.scala:62-106 variant: buffer fails per user,
    timer at first_fail + window, emit if ≥ *min_fails* accumulated;
    success clears the buffer (:79-81).

    Batch formulation: success events split each user's history into
    runs (cumulative success count); within a run, the anchor is the
    first fail and only fails inside [anchor, anchor + window] count —
    exactly the set buffered when the reference's timer fires.  Two
    window passes + one aggregation, all shuffled once on user_id."""
    # unstamped events cannot be ordered into a run, and a keyless event
    # belongs to no per-user buffer (the reference's keyBy would reject
    # it) — both excluded, so the run-id counter depends on neither
    # engine NULL-ordering nor NULL-join semantics
    df = df.where(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak_col).asc()] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    is_succ = F.when(F.col(type_col) != fail_value, 1).otherwise(0)
    runs = (
        df.select(user_col, type_col, ts_col, *( [tiebreak_col] if tiebreak_col else [] ))
        .withColumn("is_succ", is_succ)
        .withColumn("run_id", F.sum("is_succ").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    fails = runs.filter(F.col("is_succ") == 0).withColumn("tse", F.col(ts_col).cast("double"))
    wa = Window.partitionBy(user_col, "run_id")
    in_window = fails.withColumn("anchor", F.min("tse").over(wa)).filter(
        F.col("tse") <= F.col("anchor") + F.lit(float(window_seconds))
    )
    return (
        in_window.groupBy(user_col, "run_id", "anchor")
        .agg(F.max("tse").alias("last_tse"), F.count(F.lit(1)).alias("n_fails"))
        .filter(F.col("n_fails") >= min_fails)
        .select(
            F.col(user_col),
            floor_long(F.col("anchor")).alias("first_fail_ts"),
            floor_long(F.col("last_tse")).alias("last_fail_ts"),
            F.col("n_fails"),
            F.lit(f"login fail {min_fails} times in {window_seconds}s").alias("warning_msg"),
        )
    )


def blacklist_filter(
    df: DataFrame,
    user_col: str = "user_id",
    item_col: str = "ad_id",
    ts_col: str = "ts",
    threshold: int = 100,
    tiebreak_col: str | None = None,
):
    """F1 — returns ``(passed, warnings)`` DataFrames.

    *passed* keeps each (user, item, day)'s first *threshold* rows in
    event order (identical to the reference's pass-through-until-exceed
    streaming behavior); *warnings* carries one row per offending
    (user, item, day) — the first row past the threshold
    (AdAnalysisByProvinceBlack.scala:86-95 emits once, guarded by
    ``isSentState``).
    """
    day = floor_div(F.col(ts_col).cast("long"), _DAY).alias("day")
    order = [F.col(ts_col).asc()] + ([F.col(tiebreak_col).asc()] if tiebreak_col else [])
    base = df.withColumn("day", day)
    w = Window.partitionBy(user_col, item_col, "day").orderBy(*order)
    ranked = base.withColumn("rn", F.row_number().over(w))
    passed = ranked.filter(F.col("rn") <= threshold).drop("rn", "day")
    warnings = ranked.filter(F.col("rn") == threshold + 1).select(
        F.col(user_col),
        F.col(item_col),
        F.col("day"),
        F.lit(f"Click over {threshold} times today").alias("warning_msg"),
    )
    return passed, warnings


def funnel_conversion(
    events: DataFrame,
    steps: Sequence[str] = ("view", "click", "purchase"),
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Daily funnel conversion: per day, how many users reached each
    ordered step — step i counts a user only if an event of type
    steps[i] occurred STRICTLY AFTER their step-(i-1) anchor that same
    day (first-touch semantics: each anchor is the EARLIEST qualifying
    timestamp, the standard product-analytics funnel and the
    aggregation-shaped complement of ``pattern_sequence``'s per-match
    CEP output).

    Returns (day, n_step1 .. n_stepK, conv_k = n_stepk / n_step1
    rounded 6dp).  Shape: one (key, day)-grouped conditional-min
    aggregation per step, each joined to the previous anchor —
    K co-partitioned shuffles on the same (key, day) key (exchange
    reuse), group state O(1), final counts day-granularity.  No
    per-user event buffering, no window explosion."""
    day = F.col(ts_col).cast("date")
    base = events.select(
        F.col(key_col), day.alias("day"), F.col(type_col), F.col(ts_col)
    )
    anchors = (
        base.filter(F.col(type_col) == steps[0])
        .groupBy(key_col, "day")
        .agg(F.min(ts_col).alias("t0"))
    )
    reached = [anchors]
    for i, step in enumerate(steps[1:], start=1):
        prev = reached[-1]
        nxt = (
            base.filter(F.col(type_col) == step)
            .join(prev.select(key_col, "day", f"t{i-1}"), [key_col, "day"])
            .filter(F.col(ts_col) > F.col(f"t{i-1}"))
            .groupBy(key_col, "day")
            .agg(F.min(ts_col).alias(f"t{i}"))
        )
        reached.append(nxt)
    counts = None
    for i, r in enumerate(reached):
        c = r.groupBy("day").agg(F.count(F.lit(1)).alias(f"n_step{i + 1}"))
        counts = c if counts is None else counts.join(c, "day", "left")
    out = counts
    for i in range(1, len(steps)):
        out = out.withColumn(
            f"conv_{i + 1}",
            F.round(
                F.coalesce(F.col(f"n_step{i + 1}"), F.lit(0)) / F.col("n_step1"), 6
            ),
        )
    fills = {f"n_step{i + 1}": 0 for i in range(1, len(steps))}
    return out.fillna(fills)


def pattern_one_or_more(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    a_pred: Column,
    b_pred: Column,
    within_seconds: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """CEP looping quantifier — ``begin(A).oneOrMore().consecutive()
    .greedy().next(B)``: the MAXIMAL run of consecutive A-events
    immediately preceding a B-event (strict contiguity on both the loop
    and the A→B step), with the whole match inside *within_seconds*
    (B no later than the run's first A + within).

    Returns (key, first_a_ts, b_ts, n_a) — one row per B with a
    qualifying run (greedy = the full run, so exactly one match per B,
    not flink-cep's non-greedy per-prefix explosion).

    Mechanism (the distributed restatement of the NFA loop state): a
    running count of non-A rows assigns every row a segment id; the
    consecutive A's immediately before a B are EXACTLY the A-rows whose
    segment id is B's − 1 (any interloper would have bumped the
    count).  Two window passes over the (key, ts) order the sessionizer
    already pays, one (key, segment)-keyed aggregation, one join —
    state per key is a counter, never a buffered prefix list.  A and B
    predicates must be disjoint (a row matching both counts as B).
    """
    # a NULL timestamp cannot be ordered into the event stream at all —
    # excluded (unlike a NULL *predicate* row below, which is orderable
    # and acts as a run-breaking separator); keeps the segment counter
    # independent of engine NULL-ordering (Spark NULLS FIRST vs SQL
    # NULLS LAST)
    df = df.where(F.col(ts_col).isNotNull())
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    # three-valued-logic normalization: a NULL predicate is a NON-match,
    # and a non-A row must still bump the segment counter — without the
    # coalesce, `~is_a` is NULL on such rows and SUM skips them, letting
    # an A-run silently bridge across an unclassifiable event
    is_b = F.coalesce(b_pred, F.lit(False))
    is_a = F.coalesce(a_pred, F.lit(False)) & ~is_b
    seg = F.sum((~is_a).cast("long")).over(w)
    rows = df.withColumn("__a", is_a).withColumn("__b", is_b).withColumn("__seg", seg)
    runs = (
        rows.filter(F.col("__a"))
        .groupBy(key_col, "__seg")
        .agg(F.count(F.lit(1)).alias("n_a"), F.min(ts_col).alias("first_a_ts"))
        .select(
            F.col(key_col), (F.col("__seg") + 1).alias("__seg"), "n_a", "first_a_ts"
        )
    )
    bs = rows.filter(F.col("__b")).select(
        F.col(key_col), F.col("__seg"), F.col(ts_col).alias("b_ts")
    )
    return (
        bs.join(runs, [key_col, "__seg"])
        .filter(
            F.col("b_ts").cast("double")
            <= F.col("first_a_ts").cast("double") + F.lit(float(within_seconds))
        )
        .select(key_col, "first_a_ts", "b_ts", "n_a")
    )
