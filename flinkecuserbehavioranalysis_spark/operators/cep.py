"""Declarative CEP: one pattern SPEC compiled onto the kernel set.

The reference consumes flink-cep through two fixed call chains
(LoginFailWithCep.scala:56-60 ``begin.times(2).consecutive().within``;
OrderTimeoutWithOutCep.scala:45-48 ``begin.followedBy.within``).
``match_pattern`` is the batch side's one surface for every pattern
shape: N-step sequences (pairs being the 2-step case), ``times(n)``
quantifiers, optional steps, mid-pattern and trailing negation, and
the ``oneOrMore`` loop.  A spec is a list of :class:`PatternStep`
(per-step predicate, contiguity, quantifier, optional flag, negation
flag) compiled to a DataFrame plan:

1. ``times`` quantifiers expand to repeated atoms (internal gaps take
   the step's own contiguity — ``times(2)`` + strict ≡ flink-cep
   ``.times(2).consecutive()``).
2. ``optional`` steps expand by SUBSET: one positive-sequence variant
   per drop-set (flink-cep emits both the with- and without- matches),
   unioned with NULL timestamps at skipped positions.  Variants with
   fewer than 2 surviving atoms and no negation are not emitted (a
   1-step pattern is a plain filter, not a sequence).  Dropping a step
   merges its two gaps, so optional specs need one uniform contiguity.
3. Each variant's positive atoms run through ``pattern_sequence``
   (earliest-chain, end-exclusive ``within``); a single positive atom
   is a plain filter (legal only when negation gives the variant
   actual pattern content).
4. ``negated`` steps become co-partitioned LEFT ANTI range joins
   against the variant's matched chain: kill iff an absent-event falls
   STRICTLY between the surrounding matched timestamps (trailing
   negation: ``last_ts < absent_ts < step1_ts + within``, the same
   comparison the streaming NFA makes) — flink-cep's ``notFollowedBy``
   under skip-till-next, where a killed partial match does NOT
   backtrack to a later chain.  Negation windows compare at full event-time double
   precision (``emit_double``) — the final output floors to
   epoch-second longs only after every constraint is applied.

Property-tested against a naive per-key Python NFA evaluator
(tests/test_properties.py) and oracle-checked through the re-expressed
registry queries (pattern_view_then_purchase, login_fail_detect,
pattern_funnel_3step, pattern_clean_conversion,
pattern_view_no_purchase, pattern_optional_funnel,
pattern_guarded_optional_funnel, pattern_unresolved_error_burst,
pattern_view_burst_purchase).

Scale shape: per variant one shuffle+sort on the key (the sequence
kernel's single pass) plus one pre-filtered anti-join per negation —
variants ≤ 2^(#optional), optionals expected 1-2.  Per-key state is
never buffered driver-side; everything is window algebra + joins.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import floor_long
from .patterns import pattern_sequence


@dataclass(frozen=True)
class PatternStep:
    """One declarative pattern step.

    pred        — row predicate for this step.
    contiguity  — gap policy INTO this step ('strict' = CEP ``next``,
                  'relaxed' = ``followedBy``); ignored on the first
                  positive atom.  For ``times`` > 1 it is also the
                  internal gap policy of the repeats.
    times       — quantifier: the step must occur this many times.
    optional    — the whole step (all ``times`` repeats) may be absent;
                  both match variants are emitted.
    negated     — ``notFollowedBy``: no event matching *pred* between
                  the neighbouring matched steps (or before the
                  pattern deadline when last).  A negated step cannot
                  be optional or quantified, cannot lead the pattern,
                  and the step after it must be 'relaxed' (strict
                  contiguity across a negation is contradictory: the
                  immediately-next event is the only candidate, so
                  there is no gap to police).
    one_or_more — ``oneOrMore().consecutive().greedy()``: the MAXIMAL
                  run of consecutive events matching *pred*.  Supported
                  shape (the ``pattern_one_or_more`` kernel's): exactly
                  two steps, the loop leading, the follower strict —
                  the compiler dispatches to that kernel and emits
                  (step1_ts = run start, step2_ts = follower, step1_n =
                  run length).
    """

    pred: Column
    contiguity: str = "relaxed"
    times: int = 1
    optional: bool = False
    negated: bool = False
    one_or_more: bool = False


def _validate_loop(steps: list[PatternStep]) -> None:
    """The looping-quantifier shape: [A oneOrMore, B] — the exact form
    ``pattern_one_or_more`` implements (greedy consecutive run + strict
    next).  Anything else with a loop step is rejected explicitly."""
    if len(steps) != 2 or not steps[0].one_or_more or steps[1].one_or_more:
        raise ValueError(
            "one_or_more is supported as [loop_step, follower] (exactly two "
            "steps, loop leading) — the oneOrMore().consecutive().greedy()"
            ".next(B) kernel shape"
        )
    a, b = steps
    if a.negated or a.optional or a.times != 1 or b.negated or b.optional or b.times != 1:
        raise ValueError("loop patterns cannot mix optional/negated/times steps")
    if b.contiguity != "strict":
        raise ValueError(
            "the follower of a one_or_more loop must be contiguity='strict' "
            "(greedy consecutive run + next; a relaxed follower has no kernel)"
        )


def _validate(steps: list[PatternStep]) -> None:
    if not steps:
        raise ValueError("match_pattern: empty spec")
    if any(s.one_or_more for s in steps):
        _validate_loop(steps)
        return
    for i, s in enumerate(steps):
        if s.contiguity not in ("strict", "relaxed"):
            raise ValueError(f"step {i}: contiguity must be 'strict' or 'relaxed'")
        if s.times < 1:
            raise ValueError(f"step {i}: times must be >= 1")
        if s.negated:
            if s.optional or s.times != 1:
                raise ValueError(
                    f"step {i}: a negated step cannot be optional or quantified"
                )
            if i == 0:
                raise ValueError("a negated step cannot lead the pattern")
            if steps[i - 1].negated:
                raise ValueError(
                    f"steps {i - 1},{i}: adjacent negations — OR the predicates "
                    "into one negated step"
                )
            if i + 1 < len(steps) and steps[i + 1].contiguity != "relaxed":
                raise ValueError(
                    f"step {i + 1}: the step after a negation must be 'relaxed'"
                )
    if any(s.optional for s in steps):
        # The leading positive atom's contiguity is ignored by contract
        # (nothing precedes it), so it does not participate in the
        # uniformity requirement — a meaningless 'strict' on step 0
        # plus relaxed optional steps compiles fine.
        pos = [s for s in steps if not s.negated]
        pols = {s.contiguity for s in pos[1:]}
        if len(pols) > 1:
            raise ValueError(
                "optional steps require one uniform contiguity policy "
                "(dropping a step merges its gaps)"
            )


def _expand_units(steps: list[PatternStep]) -> tuple[list[tuple], int]:
    """Expand ``times`` quantifiers into atom units.

    unit: ("pos", [(pred, contig), ...], [global atom idx], optional)
        | ("neg", pred)
    Returns (units, n_atoms)."""
    units: list[tuple] = []
    n_atoms = 0
    for s in steps:
        if s.negated:
            units.append(("neg", s.pred))
        else:
            atoms = [(s.pred, s.contiguity)] * s.times
            idxs = list(range(n_atoms, n_atoms + s.times))
            n_atoms += s.times
            units.append(("pos", atoms, idxs, s.optional))
    if n_atoms == 0:
        raise ValueError("match_pattern: no positive step")
    return units, n_atoms


def _variant_spec(units: list[tuple], drop: set[int]) -> dict | None:
    """One optional-expansion variant: surviving atoms in order plus
    negations anchored to 1-based local positions (ri=None = trailing).
    Returns None for variants that are not a pattern (no atoms, a bare
    single-step filter with no negation, or a negation with no left
    anchor)."""
    atoms: list[tuple[Column, str, int]] = []  # (pred, contig, global idx)
    negs: list[tuple[Column, int, int | None]] = []
    pending_negs: list[Column] = []
    for u, unit in enumerate(units):
        if unit[0] == "neg":
            if not atoms:
                return None  # dropped left anchor: negation cannot lead
            pending_negs.append(unit[1])
            continue
        _, unit_atoms, idxs, _opt = unit
        if u in drop:
            continue
        for (pred, contig), gi in zip(unit_atoms, idxs):
            pos = len(atoms) + 1
            for np_ in pending_negs:
                negs.append((np_, pos - 1, pos))
            pending_negs = []
            atoms.append((pred, contig, gi))
    for np_ in pending_negs:  # trailing negation(s)
        negs.append((np_, len(atoms), None))
    # merge negations sharing a gap (incl. adjacency created by drops)
    merged: dict[tuple[int, int | None], Column] = {}
    for pred, li, ri in negs:
        k = (li, ri)
        merged[k] = pred if k not in merged else (merged[k] | pred)
    if not atoms or (len(atoms) == 1 and not merged):
        return None  # bare filter, not a pattern
    return {"atoms": atoms, "negs": merged}


def variant_specs(steps: list[PatternStep]) -> list[dict]:
    """Validate *steps* and return every compilable optional-expansion
    variant (shared by the batch compiler and the streaming twin)."""
    _validate(steps)
    units, n_atoms = _expand_units(steps)
    opt_units = [u for u, unit in enumerate(units) if unit[0] == "pos" and unit[3]]
    specs: list[dict] = []
    for r in range(len(opt_units) + 1):
        for drop in combinations(opt_units, r):
            spec = _variant_spec(units, set(drop))
            if spec is not None:
                specs.append(spec)
    if not specs:
        raise ValueError("match_pattern: no compilable variant (every "
                         "expansion degenerates to a bare filter)")
    for spec in specs:
        spec["n_atoms"] = n_atoms
    return specs


def match_pattern(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list[PatternStep],
    within_seconds: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Compile *steps* and return (key_col, step1_ts … stepN_ts) —
    one column per positive ATOM (``times`` counted), epoch-second
    longs, NULL where an optional step was skipped in that variant.
    A ``one_or_more`` loop spec additionally returns ``step1_n``
    (the greedy run length)."""
    if any(s.one_or_more for s in steps):
        from .patterns import pattern_one_or_more

        _validate_loop(steps)
        return pattern_one_or_more(
            df,
            key_col=key_col,
            ts_col=ts_col,
            a_pred=steps[0].pred,
            b_pred=steps[1].pred,
            within_seconds=within_seconds,
            tiebreak_col=tiebreak_col,
        ).select(
            F.col(key_col),
            F.col("first_a_ts").cast("long").alias("step1_ts"),
            F.col("b_ts").cast("long").alias("step2_ts"),
            F.col("n_a").alias("step1_n"),
        )
    variants = [
        _compile_variant(df, key_col, ts_col, spec, within_seconds, tiebreak_col)
        for spec in variant_specs(steps)
    ]
    out = variants[0]
    for v in variants[1:]:
        out = out.unionByName(v)
    return out


def _compile_variant(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    spec: dict,
    within_seconds: float,
    tiebreak_col: str | None,
) -> DataFrame:
    atoms, merged, n_atoms = spec["atoms"], spec["negs"], spec["n_atoms"]
    n_pos = len(atoms)

    if n_pos == 1:
        pred, _, _ = atoms[0]
        chain = df.filter(pred).select(
            F.col(key_col), F.col(ts_col).cast("double").alias("step1_ts")
        )
    else:
        chain = pattern_sequence(
            df,
            key_col=key_col,
            ts_col=ts_col,
            steps=[p for p, _, _ in atoms],
            within_seconds=within_seconds,
            contiguity=[c for _, c, _ in atoms[1:]],
            tiebreak_col=tiebreak_col,
            emit_double=True,
        )

    for (li, ri), pred in merged.items():
        absents = df.filter(pred).select(
            F.col(key_col).alias("__ak"), F.col(ts_col).cast("double").alias("__at")
        )
        left_t = F.col(f"step{li}_ts")
        hi = (
            F.col(f"step{ri}_ts")
            if ri is not None
            else F.col("step1_ts") + F.lit(float(within_seconds))
        )
        chain = chain.join(
            absents,
            (chain[key_col] == absents["__ak"])
            & (F.col("__at") > left_t)
            & (F.col("__at") < hi),
            "left_anti",
        )

    by_gi = {gi: pos + 1 for pos, (_, _, gi) in enumerate(atoms)}
    return chain.select(
        F.col(key_col),
        *[
            floor_long(F.col(f"step{by_gi[i]}_ts")).alias(f"step{i + 1}_ts")
            if i in by_gi
            else F.lit(None).cast("long").alias(f"step{i + 1}_ts")
            for i in range(n_atoms)
        ],
    )
