"""Streaming twin of the declarative CEP compiler (operators/cep.py).

``match_pattern_stream`` compiles the SAME ``PatternStep`` spec —
contiguity / times / optional / negated — into ONE keyed NFA, a
per-key step on the bucketed keyed-state runtime
(``stateful._keyed_state``; Spark allows a single stateful operator
per streaming query, so the batch compiler's per-variant union becomes
per-variant chains inside one state store).  It is the streaming
side's only positive-chain automaton: a pair is a two-step spec
(``begin/next|followedBy/within``), an N-step sequence an N-step spec,
``times(n)`` a quantified step and ``optional()`` an optional step.
``one_or_more`` loop specs dispatch to ``stateful.streaming_one_or_more``.

Semantics per expansion variant (shared `variant_specs`):

- positive chains advance greedily in (ts, tiebreak) order: per event,
  a chain older than *within* is pruned (any completion is later
  still), a waiting chain advances when the event matches its next
  step (relaxed) or advances-or-dies on it (strict), a completed chain
  emits, and a step-1 match starts a new chain.  Greedy first-match
  equals the batch compiler's lexicographically-earliest chain only
  under UNIFORM contiguity, so mixed per-gap policies are rejected;
- MID-GAP negation: while a chain waits between local steps li and
  li+1, an absent-event with ``ts > chain[li]`` records the earliest
  pending kill; when the chain advances at ``ts2`` it dies iff that
  kill ts ``< ts2`` (boundary-exclusive on both ends, matching the
  batch compiler's double-precision window — an absent sharing either
  endpoint's timestamp does not kill);
- TRAILING negation: a completed chain parks with deadline
  ``first_ts + within``.  It dies when an absent-event with
  ``last_ts < absent_ts < first_ts + within`` is seen, whichever comes
  first: a later absent kills the parked chain, and an absent already
  stored (one that arrived in an earlier micro-batch with a later
  event time) kills the chain on insert.  Survivors emit only once the
  WATERMARK passes the deadline (negation decided by watermarked keyed
  state), flushed by the key's timer (its earliest parked deadline) so
  quiet keys drain on watermark advance.  Without any trailing
  negation completions emit immediately and the query runs without
  timers.

State per key is ``array<array<double>>`` lists: active chains as
``[variant, kill ts or NaN, t1, t2, ...]``, parked completions as
``[variant, t1, ...]`` and, with trailing negation, the absent-events
of each trailing-negation tag still above the watermark as
``[tag, ts]`` (an event at or below the watermark is dropped as late,
so no chain completing later can end before such an absent; they are
pruned on every call).  It is bounded: active chains by the step-1
arrival rate × within (pruned every event), parked completions by the
completion rate × within, stored absents by the absent rate × the
watermark delay.  A key with none holds no state, and a key with
stored absents but no parked completion gets the self-clean deadline
``max(absent) + 1 s``.  The layout is part of the checkpoint: a
checkpoint written before the bucketed runtime must restart, and so
must a trailing-negation checkpoint written with two lists instead of
three.  Ordering contract: order-correct within a micro-batch (events
sorted); across micro-batches positive chains and mid-gap kills need
an ordered replay, while a trailing-negation killer counts in
whichever micro-batch it arrives, as long as it is above the
watermark.  Verified against the batch compiler (``match_pattern``,
``pattern_sequence``) on bounded replays (tests/test_streaming.py,
tests/test_bucketed_state.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ..operators.cep import PatternStep, variant_specs
from .stateful import _NO_DEADLINE, _floor_s, _keyed_state, _per_key, _tag


def match_pattern_stream(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list[PatternStep],
    within_seconds: float,
    tiebreak_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    if any(s.one_or_more for s in steps):
        from pyspark.sql import functions as F

        from ..operators.cep import _validate_loop
        from .stateful import streaming_one_or_more

        _validate_loop(steps)
        return streaming_one_or_more(
            events,
            key_col=key_col,
            ts_col=ts_col,
            a_pred=steps[0].pred,
            b_pred=steps[1].pred,
            within_seconds=within_seconds,
            tiebreak_col=tiebreak_col,
            watermark=watermark,
        ).select(
            F.col("key"),
            F.col("first_a_ts").cast("long").alias("step1_ts"),
            F.col("b_ts").cast("long").alias("step2_ts"),
            F.col("n_a").alias("step1_n"),
        )
    specs = variant_specs(steps)
    n_atoms = specs[0]["n_atoms"]
    pols = {c for spec in specs for _, c, _ in spec["atoms"][1:]}
    if len(pols) > 1:
        raise ValueError(
            "match_pattern_stream supports one uniform contiguity policy "
            f"(got {sorted(pols)}); use the batch compiler for mixed gaps"
        )
    strict = pols == {"strict"}

    # ---- tag predicate columns once per GLOBAL atom / negation gap ----
    # positives: __m<global atom idx>.  negations: __g<j> in spec order,
    # with each variant holding gap->[tag js] and trailing [tag js].
    tagged = events
    tagged_atoms: set[int] = set()
    neg_tags: list = []  # Column preds in tag order

    compiled = []  # per variant: dict(keep=[gi...], gaps={wait_len:[j]}, trail=[j])
    for spec in specs:
        keep = []
        for pred, _c, gi in spec["atoms"]:
            if gi not in tagged_atoms:
                tagged = tagged.withColumn(f"__m{gi}", _tag(pred))
                tagged_atoms.add(gi)
            keep.append(gi)
        gaps: dict[int, list[int]] = {}
        trail: list[int] = []
        for (li, ri), pred in spec["negs"].items():
            j = len(neg_tags)
            neg_tags.append(pred)
            tagged = tagged.withColumn(f"__g{j}", _tag(pred))
            if ri is None:
                trail.append(j)
            else:
                gaps.setdefault(li, []).append(j)
        compiled.append({"keep": keep, "gaps": gaps, "trail": trail})
    n_negs = len(neg_tags)
    trail_tags = [j for v in compiled for j in v["trail"]]
    any_trailing = bool(trail_tags)

    out_schema = StructType(
        [StructField("key", LongType())]
        + [StructField(f"step{i + 1}_ts", LongType()) for i in range(n_atoms)]
    )

    def _row(k: int, keep: list[int], chain: list[float]) -> tuple:
        row: list = [k] + [None] * n_atoms
        # _floor_s, not int(): int() truncates toward zero, diverging
        # from the batch compiler's floor_long on pre-1970 sub-second
        # event times (int(-0.75) = 0 vs floor -1).
        for pos, gi in enumerate(keep):
            row[gi + 1] = _floor_s(chain[pos])
        return tuple(row)

    nv = len(compiled)

    def step(b, k, s: int, e: int, st: tuple | None):
        # state: active chains [variant, kill (NaN: none), t1, ...],
        # parked completions [variant, t1, ...] and, with trailing
        # negation, stored absents [tag, ts], one list each per key
        active: list[list[tuple[list[float], float | None]]] = [[] for _ in range(nv)]
        done: list[list[list[float]]] = [[] for _ in range(nv)]
        for c in st[0] if st else []:
            active[int(c[0])].append((list(c[2:]), None if math.isnan(c[1]) else c[1]))
        for c in st[1] if st else []:
            done[int(c[0])].append(list(c[1:]))
        absents = [(int(a[0]), a[1]) for a in st[2]] if st and any_trailing else []
        out: list[tuple] = []

        def park(vi: int, trail: list[int], chain: list[float]) -> None:
            # a stored absent later than the chain's end kills it on insert
            if not any(j in trail and chain[-1] < at < chain[0] + within_seconds for j, at in absents):
                done[vi].append(chain)

        tss = b.ts[s:e].tolist()
        m = {gi: b.col[f"__m{gi}"][s:e].astype(bool).tolist() for gi in tagged_atoms}
        g = [b.col[f"__g{j}"][s:e].astype(bool).tolist() for j in range(n_negs)]
        for i, ts in enumerate(tss):
            absents += [(j, ts) for j in trail_tags if g[j][i]]
            for vi, v in enumerate(compiled):
                keep, gaps, trail = v["keep"], v["gaps"], v["trail"]
                n_pos = len(keep)
                # 1. kill parked completions (trailing negation)
                if trail and any(g[j][i] for j in trail):
                    done[vi] = [
                        c
                        for c in done[vi]
                        if not (c[-1] < ts < c[0] + within_seconds)
                    ]
                # 2. advance / prune active chains
                nxt: list[tuple[list[float], float | None]] = []
                for chain, kill in active[vi]:
                    if ts - chain[0] >= within_seconds:
                        continue  # doomed: any completion is later
                    if m[keep[len(chain)]][i]:
                        if kill is not None and kill < ts:
                            continue  # mid-gap negation killed it
                        c2 = chain + [ts]
                        if len(c2) == n_pos:
                            if trail:
                                park(vi, trail, c2)
                            else:
                                out.append(_row(k, keep, c2))
                        else:
                            nxt.append((c2, None))
                    elif strict:
                        continue  # advance-or-die
                    else:
                        k2 = kill
                        js = gaps.get(len(chain))
                        if js and any(g[j][i] for j in js) and ts > chain[-1]:
                            k2 = ts if k2 is None else min(k2, ts)
                        nxt.append((chain, k2))
                active[vi] = nxt
                # 3. start a new chain on a step-1 match
                if m[keep[0]][i]:
                    if n_pos == 1:
                        if trail:
                            park(vi, trail, [ts])
                        else:
                            out.append(_row(k, keep, [ts]))
                    else:
                        active[vi].append(([ts], None))

        # 4. watermark flush of parked completions
        if any_trailing:
            wm = b.wm / 1000.0
            for vi, v in enumerate(compiled):
                ready = [c for c in done[vi] if c[0] + within_seconds <= wm]
                done[vi] = [c for c in done[vi] if c[0] + within_seconds > wm]
                for c in sorted(ready):
                    out.append(_row(k, v["keep"], c))
            absents = [(j, at) for j, at in absents if at > wm]

        st_active = [
            [float(vi), math.nan if kill is None else kill, *chain]
            for vi in range(nv)
            for chain, kill in active[vi]
        ]
        st_done = [[float(vi), *c] for vi in range(nv) for c in done[vi]]
        if not st_active and not st_done and not absents:
            return out, None, _NO_DEADLINE
        if st_done:
            deadline = int(min(c[1] + within_seconds for c in st_done) * 1000)
        elif absents:
            deadline = int((max(at for _, at in absents) + 1.0) * 1000)
        else:
            deadline = _NO_DEADLINE
        st_absents = ([[float(j), at] for j, at in absents],) if any_trailing else ()
        return out, (st_active, st_done, *st_absents), deadline

    return _keyed_state(
        tagged,
        [key_col],
        ts_col,
        [tiebreak_col] if tiebreak_col else [],
        [f"__m{gi}" for gi in sorted(tagged_atoms)] + [f"__g{j}" for j in range(n_negs)],
        dict.fromkeys(
            ["active", "done"] + (["absents"] if any_trailing else []),
            ArrayType(ArrayType(DoubleType())),
        ),
        _per_key(step, out_schema.names),
        out_schema,
        watermark,
        timers=any_trailing,
    )
