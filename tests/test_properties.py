"""Property-style checks (SURVEY.md §5): randomized inputs vs naive
in-memory reference implementations for the operators whose semantics
are easiest to get subtly wrong (as-of matching, interval bounds).

Example counts are kept small — every example is a full Spark
plan+collect round-trip."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

# round-9 verdict #3: the hypothesis naive-parity sweeps are the exhaustive
# tier — fixture-based semantics stay in tests/test_operator_semantics.py
pytestmark = pytest.mark.soak
from pyspark.sql import functions as F

from flinkecuserbehavioranalysis_spark.operators.joins import as_of_join, interval_join

KEYS = st.sampled_from(["a", "b", "c"])
TS = st.integers(min_value=0, max_value=50)


@st.composite
def asof_inputs(draw):
    left = draw(
        st.lists(st.tuples(KEYS, TS), min_size=1, max_size=12, unique=True)
    )
    right = draw(
        st.lists(st.tuples(KEYS, TS), min_size=0, max_size=12, unique=True)
    )
    return left, right


@given(asof_inputs())
@settings(max_examples=12, deadline=None)
def test_as_of_join_matches_naive(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k string, t long, lid long"
    )
    right = spark.createDataFrame(
        [(k, t, 1000 + i) for i, (k, t) in enumerate(right_rows)],
        "k string, rt long, rid long",
    )
    got = {
        (r.k, r.t): r.rid
        for r in as_of_join(
            left, right, key="k", left_ts="t", right_ts="rt", right_payload=["rid"]
        ).collect()
    }
    # naive: per left row, the right row with max rt <= t for the key
    rid_by_key_ts = {(k, t): 1000 + i for i, (k, t) in enumerate(right_rows)}
    for k, t in left_rows:
        prior = [rt for (rk, rt) in right_rows if rk == k and rt <= t]
        expect = rid_by_key_ts[(k, max(prior))] if prior else None
        assert got[(k, t)] == expect, (k, t, got[(k, t)], expect)
    assert len(got) == len(left_rows)


@given(asof_inputs())
@settings(max_examples=12, deadline=None)
def test_interval_join_matches_naive(spark, data):
    left_rows, right_rows = data
    lower, upper = 5.0, 3.0
    left = spark.createDataFrame(left_rows, "k string, ts long")
    right = spark.createDataFrame(right_rows, "k string, ts long")
    got = sorted(
        (r.lk, r.lt, r.rt)
        for r in interval_join(
            left, right, key="k", lower_seconds=lower, upper_seconds=upper
        )
        .select(
            F.col("l.k").alias("lk"),
            F.col("l.ts").alias("lt"),
            F.col("r.ts").alias("rt"),
        )
        .collect()
    )
    expect = sorted(
        (lk, lt, rt)
        for (lk, lt) in left_rows
        for (rk, rt) in right_rows
        if lk == rk and lt - lower <= rt <= lt + upper
    )
    assert got == expect


@st.composite
def session_inputs(draw):
    return draw(
        st.lists(st.tuples(KEYS, st.integers(min_value=0, max_value=200)),
                 min_size=1, max_size=20, unique=True)
    )


@given(session_inputs(), st.integers(min_value=1, max_value=50))
@settings(max_examples=12, deadline=None)
def test_sessionize_matches_naive(spark, rows, gap):
    from flinkecuserbehavioranalysis_spark.operators.sessions import sessionize

    df = spark.createDataFrame(rows, "user_id string, ts long")
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize(df, key_col="user_id", ts_col="ts", gap_seconds=gap).collect()
    )
    # naive: sort each key's timestamps, split where gap > threshold
    expect = []
    by_key: dict[str, list[int]] = {}
    for k, t in rows:
        by_key.setdefault(k, []).append(t)
    for k, ts in by_key.items():
        ts.sort()
        cur = [ts[0]]
        for t in ts[1:]:
            if t - cur[-1] > gap:
                expect.append((k, cur[0], cur[-1], len(cur)))
                cur = [t]
            else:
                cur.append(t)
        expect.append((k, cur[0], cur[-1], len(cur)))
    assert got == sorted(expect)


WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "x"])


@st.composite
def doc_inputs(draw):
    docs = draw(
        st.lists(
            st.lists(WORDS, min_size=0, max_size=8).map(" ".join),
            min_size=2,
            max_size=8,
        )
    )
    return list(enumerate(docs))


@given(doc_inputs())
@settings(max_examples=10, deadline=None)
def test_ngram_jaccard_matches_naive(spark, docs):
    from flinkecuserbehavioranalysis_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }

    def sh(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)} if len(ws) >= 3 else set()

    expect = {}
    for i, ta in docs:
        for j, tb in docs:
            if i < j:
                a, b = sh(ta), sh(tb)
                inter = len(a & b)
                if inter:  # pairs sharing no shingle never join
                    expect[(i, j)] = inter / len(a | b)
    assert got == expect


@given(doc_inputs())
@settings(max_examples=10, deadline=None)
def test_ngram_jaccard_df_cap_not_binding_is_identity(spark, docs):
    """With df_max ≥ corpus size the cap can never bind, so the capped
    operator must return exactly the uncapped result."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.0, df_max=len(docs)).collect()
    }
    assert capped == base


def test_ngram_jaccard_df_cap_bounds_hot_shingle_join(spark):
    """A stopword-like shingle present in every doc explodes the
    inverted-index join df² ways; the cap must drop it from the shingle
    universe (bounding the join) while rarer shingles still match.

    Construction: all 40 docs share the hot shingle 'the of and'; only
    docs 0/1 additionally share rarer ones.  With df_max=2 the hot
    shingle (df=40 > 2) is excluded, so the only surviving pair is
    (0, 1), with Jaccard computed over the df-filtered shingle sets."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import ngram_jaccard_pairs

    hot = "the of and"
    rows = [(0, hot + " p q r s"), (1, hot + " p q r t")] + [
        (i, hot + f" u{i} v{i} w{i}") for i in range(2, 40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(df, threshold=0.0).collect()
    # every pair shares the hot path's shingles → C(40,2) joined pairs
    assert len(uncapped) == 40 * 39 // 2

    capped = ngram_jaccard_pairs(df, threshold=0.0, df_max=2).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in capped}
    # only shingles with df<=2 survive; doc0/doc1 share 'p q r' chains
    assert set(got) == {(0, 1)}
    # filtered sets: doc0 {of and p, and p q, p q r, q r s},
    #                doc1 {of and p, and p q, p q r, q r t} → 3/5
    assert abs(got[(0, 1)] - 3 / 5) < 1e-12


EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # key
        st.integers(min_value=0, max_value=40),         # ts (seconds)
        st.sampled_from(["a", "b", "x"]),               # event type
    ),
    min_size=0,
    max_size=25,
)


def _lex_min_chain(seq, preds, contigs, start_idx):
    """Naive reference for pattern_sequence semantics: the
    lexicographically-earliest complete chain starting at *start_idx*
    (strict gap = immediately-next row; relaxed gap = any later row),
    by exhaustive enumeration.  Exponential, test-sized inputs only."""

    def rec(step, idx):
        if not preds[step](seq[idx][1]):
            return None
        if step == len(preds) - 1:
            return [seq[idx][0]]
        if contigs[step] == "strict":
            if idx + 1 >= len(seq):
                return None
            rest = rec(step + 1, idx + 1)
            return [seq[idx][0]] + rest if rest is not None else None
        best = None
        for j in range(idx + 1, len(seq)):
            rest = rec(step + 1, j)
            if rest is not None:
                cand = [seq[idx][0]] + rest
                if best is None or cand < best:
                    best = cand
        return best

    return rec(0, start_idx)


SEQ_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),          # key
        st.integers(min_value=0, max_value=30),         # ts (seconds)
        st.sampled_from(["a", "b", "c", "x"]),          # event type
    ),
    min_size=0,
    max_size=18,
)
GAPS = st.tuples(
    st.sampled_from(["strict", "relaxed"]), st.sampled_from(["strict", "relaxed"])
)


@given(SEQ_EVENTS, GAPS)
@settings(max_examples=15, deadline=None)
def test_pattern_sequence_matches_naive_cep(spark, events, gaps):
    """pattern_sequence (3-step a→b→c, per-gap contiguity) vs the naive
    lex-min chain enumerator, end-exclusive within bound."""
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_sequence

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    import pyspark.sql.functions as F

    within = 12.0
    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    got = sorted(
        (r.user_id, r.step1_ts, r.step2_ts, r.step3_ts)
        for r in pattern_sequence(
            df,
            key_col="user_id",
            ts_col="ts",
            steps=[F.col("event_type") == s for s in ("a", "b", "c")],
            within_seconds=within,
            contiguity=list(gaps),
            tiebreak_col="event_id",
        ).collect()
    )

    by_key: dict[int, list[tuple[int, str]]] = {}
    for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
        by_key.setdefault(k, []).append((t, e))
    preds = [lambda e: e == "a", lambda e: e == "b", lambda e: e == "c"]
    expect = []
    for k, seq in by_key.items():
        for i in range(len(seq)):
            chain = _lex_min_chain(seq, preds, list(gaps), i)
            if chain is not None and chain[-1] - chain[0] < within:
                expect.append((k, *chain))
    assert got == sorted(expect)


@given(EVENTS, st.integers(min_value=2, max_value=3))
@settings(max_examples=10, deadline=None)
def test_fail_burst_is_a_quantified_sequence_instance(spark, events, min_fails):
    """Cross-check fail_burst_alerts against pattern_sequence: within a
    success-delimited run, a burst warning (≥ min_fails fails in
    [anchor, anchor+W]) exists iff times(fail, min_fails) relaxed
    matches starting AT the run's anchor — the greedy chain minimizes
    every step timestamp, so the k-th fail of the run is the chain's
    k-th step.  Integer test timestamps make the batch op's inclusive
    ≤ W equal to the sequence op's exclusive < W + 0.5."""
    from pyspark.sql import Window
    from flinkecuserbehavioranalysis_spark.operators.patterns import (
        fail_burst_alerts,
        pattern_sequence,
        times,
    )

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    import pyspark.sql.functions as F

    window_s = 8
    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    bursts = {
        (r.user_id, r.first_fail_ts)
        for r in fail_burst_alerts(
            df,
            fail_value="a",
            window_seconds=window_s,
            min_fails=min_fails,
            tiebreak_col="event_id",
        ).collect()
    }

    # re-express: split runs on successes, key by (user, run), keep only
    # fails, then quantified times(fail, min_fails) relaxed from the anchor
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    runs = df.withColumn(
        "run_id",
        F.sum(F.when(F.col("event_type") != "a", 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).filter(F.col("event_type") == "a")
    keyed = runs.withColumn("krun", F.concat_ws("#", "user_id", "run_id"))
    anchors = {
        (r.krun, r.anchor)
        for r in keyed.groupBy("krun")
        .agg(F.min(F.col("ts").cast("long")).alias("anchor"))
        .collect()
    }
    chains = pattern_sequence(
        keyed,
        key_col="krun",
        ts_col="ts",
        steps=times(F.lit(True), min_fails),
        within_seconds=window_s + 0.5,
        contiguity="relaxed",
        tiebreak_col="event_id",
    ).collect()
    quantified = {
        (int(r.krun.split("#")[0]), r.step1_ts)
        for r in chains
        if (r.krun, r.step1_ts) in anchors
    }
    assert bursts == quantified


@given(EVENTS, st.sampled_from(["strict", "relaxed"]))
@settings(max_examples=15, deadline=None)
def test_pattern_pairs_matches_naive_cep(spark, events, contiguity):
    """The CEP pair, pattern_sequence at N=2, vs a naive Python CEP
    evaluator over random event sequences: strict = previous event is A
    and gap < t; relaxed = the earliest later B with gap < t
    (end-exclusive bound in both)."""
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_sequence

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    got = sorted(
        (r.user_id, r.step1_ts, r.step2_ts)
        for r in pattern_sequence(
            df,
            key_col="user_id",
            ts_col="ts",
            steps=[F.col("event_type") == "a", F.col("event_type") == "b"],
            within_seconds=10.0,
            contiguity=contiguity,
            tiebreak_col="event_id",
        ).collect()
    )

    by_key: dict[int, list[tuple[int, str]]] = {}
    for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
        by_key.setdefault(k, []).append((t, e))
    expect = []
    for k, seq in by_key.items():
        for i, (ta, ea) in enumerate(seq):
            if contiguity == "strict":
                # the A is the PREVIOUS event of a B
                if i + 1 < len(seq) and ea == "a":
                    tb, eb = seq[i + 1]
                    if eb == "b" and tb - ta < 10.0:
                        expect.append((k, ta, tb))
            else:
                if ea == "a":
                    later_bs = [tb for tb, eb in seq[i + 1 :] if eb == "b"]
                    if later_bs and min(later_bs) - ta < 10.0:
                        expect.append((k, ta, min(later_bs)))
    assert got == sorted(expect)


@given(EVENTS)
@settings(max_examples=15, deadline=None)
def test_pattern_not_followed_by_matches_naive(spark, events):
    """match_pattern([a, ~b]) vs the naive negation: an 'a' survives
    iff NO 'b' for the key has t_a < t_b < t_a + within — value-ordered
    (an equal-ts b does not kill), end-exclusive, multiplicity kept."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep, match_pattern

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    steps = [
        PatternStep(F.col("event_type") == "a"),
        PatternStep(F.col("event_type") == "b", negated=True),
    ]
    got = sorted(
        (r.user_id, r.step1_ts)
        for r in match_pattern(df, "user_id", "ts", steps, 10.0).collect()
    )
    expect = []
    for k, ta, ea, _ in rows:
        if ea != "a":
            continue
        killed = any(
            k2 == k and e2 == "b" and ta < tb < ta + 10.0
            for k2, tb, e2, _ in rows
        )
        if not killed:
            expect.append((k, ta))
    assert got == sorted(expect)


@given(SEQ_EVENTS)
@settings(max_examples=15, deadline=None)
def test_pattern_sequence_optional_matches_naive(spark, events):
    """match_pattern([a, b?, c]) (relaxed) vs the naive expansion:
    lex-min chains of [a,b,c] plus lex-min chains of [a,c] with a NULL
    middle step, both end-exclusive within."""
    from flinkecuserbehavioranalysis_spark.operators.cep import PatternStep, match_pattern

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    import pyspark.sql.functions as F

    within = 12.0
    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    got = sorted(
        (
            (r.user_id, r.step1_ts, r.step2_ts, r.step3_ts)
            for r in match_pattern(
                df,
                "user_id",
                "ts",
                [
                    PatternStep(F.col("event_type") == "a"),
                    PatternStep(F.col("event_type") == "b", optional=True),
                    PatternStep(F.col("event_type") == "c"),
                ],
                within,
                tiebreak_col="event_id",
            ).collect()
        ),
        key=repr,
    )

    by_key: dict[int, list[tuple[int, str]]] = {}
    for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
        by_key.setdefault(k, []).append((t, e))
    expect = []
    for k, seq in by_key.items():
        for i in range(len(seq)):
            full = _lex_min_chain(
                seq,
                [lambda e: e == "a", lambda e: e == "b", lambda e: e == "c"],
                ["relaxed", "relaxed"],
                i,
            )
            if full is not None and full[-1] - full[0] < within:
                expect.append((k, full[0], full[1], full[2]))
            skip = _lex_min_chain(
                seq,
                [lambda e: e == "a", lambda e: e == "c"],
                ["relaxed"],
                i,
            )
            if skip is not None and skip[-1] - skip[0] < within:
                expect.append((k, skip[0], None, skip[1]))
    assert got == sorted(expect, key=repr)


@given(doc_inputs())
@settings(max_examples=10, deadline=None)
def test_bm25_topk_matches_naive(spark, docs):
    """bm25_topk must equal a naive Python BM25 (same log-free idf):
    per-doc scores bitwise-comparable at 1e-12, selection and
    tie-break identical.  'x' may be absent from some corpora and
    'omega' always is — absent terms contribute nothing."""
    from flinkecuserbehavioranalysis_spark.operators.text import bm25_topk

    terms, k1, b, k = ["alpha", "x", "omega"], 1.2, 0.75, 4
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r.doc_id, r.score) for r in bm25_topk(df, terms, k=k).collect()]

    n = len(docs)
    dls = {i: len(t.split(" ")) for i, t in docs}
    avgdl = sum(dls.values()) / n
    dfreq = {t: sum(1 for _, txt in docs if t in txt.split(" ")) for t in terms}
    scores = {}
    for i, txt in docs:
        toks = txt.split(" ")
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or dfreq[t] == 0:
                s += 0.0
                continue
            idf = (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            s = s + idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dls[i] / avgdl))
        if any(t in toks for t in terms):
            scores[i] = s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert [i for i, _ in got] == [i for i, _ in expect]
    for (_, gs), (_, es) in zip(got, expect):
        assert abs(gs - es) < 1e-12


@given(doc_inputs())
@settings(max_examples=10, deadline=None)
def test_containment_matches_naive(spark, docs):
    from flinkecuserbehavioranalysis_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.containment_a, r.containment_b, r.containment)
        for r in containment_pairs(df, threshold=0.0).collect()
    }

    def sh(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)} if len(ws) >= 3 else set()

    expect = {}
    for i, ta in docs:
        for j, tb in docs:
            if i < j:
                a, b = sh(ta), sh(tb)
                inter = len(a & b)
                if inter:
                    expect[(i, j)] = (inter / len(a), inter / len(b), inter / min(len(a), len(b)))
    assert got == expect


@given(doc_inputs())
@settings(max_examples=10, deadline=None)
def test_repetition_stats_matches_naive(spark, docs):
    from collections import Counter

    from flinkecuserbehavioranalysis_spark.operators.text import repetition_stats

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (
            r.n_tokens,
            r.distinct_token_ratio,
            r.top_token_share,
            r.adjacent_repeat_ratio,
            r.dup_bigram_ratio,
        )
        for r in repetition_stats(df).collect()
    }
    for i, text in docs:
        ws = [w for w in text.split(" ") if w]
        n = len(ws)
        if n == 0:
            expect = (0, 0.0, 0.0, 0.0, 0.0)
        else:
            big = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
            expect = (
                n,
                round(len(set(ws)) / n, 6),
                round(max(Counter(ws).values()) / n, 6),
                round(sum(a == b for a, b in zip(ws, ws[1:])) / (n - 1), 6) if n >= 2 else 0.0,
                round(1 - len(set(big)) / len(big), 6) if n >= 2 else 0.0,
            )
        assert got[i] == expect, (i, text, got[i], expect)


@given(
    st.lists(st.text(alphabet="abc ", min_size=0, max_size=60), min_size=1, max_size=6),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=10, deadline=None)
def test_chunking_reassembles_any_text(spark, texts, chunk, overlap):
    from hypothesis import assume

    from flinkecuserbehavioranalysis_spark.operators.sampling import chunk_documents

    assume(overlap < chunk)
    stride = chunk - overlap
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = chunk_documents(docs, chunk_chars=chunk, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(texts):
        cs = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert [r.chunk_start for r in cs] == [1 + j * stride for j in range(len(cs))]
        rebuilt = "".join(
            r.chunk_text if j == 0 else r.chunk_text[overlap:] for j, r in enumerate(cs)
        )
        assert rebuilt == text
        # every chunk except possibly the last is full-size
        assert all(r.chunk_len == min(chunk, len(text) - (r.chunk_start - 1)) for r in cs)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_rolling_anomaly_zscore_matches_naive(spark, rows):
    """rolling_anomaly_zscore vs a naive per-key Python replay: same
    trailing-frame counts, same z to 1e-9 (integer sum/sum-of-squares
    math on both sides)."""
    import datetime as dt
    import math
    from collections import Counter

    from flinkecuserbehavioranalysis_spark.operators.windows import (
        rolling_anomaly_zscore,
    )

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(k, base + dt.timedelta(days=d, hours=1)) for k, d in rows],
        "event_type string, ts timestamp",
    )
    got = {
        (r.event_type, r.day.isoformat()): (r.cnt, r.n_prior, r.z)
        for r in rolling_anomaly_zscore(ev, lookback=7, min_prior=3).collect()
    }
    counts: dict[str, Counter] = {}
    for k, d in rows:
        counts.setdefault(k, Counter())[d] += 1
    expect = {}
    for k, cnt in counts.items():
        days = sorted(cnt)
        for i, d in enumerate(days):
            frame = [cnt[days[j]] for j in range(max(0, i - 7), i)]
            n = len(frame)
            z = None
            if n >= 3:
                mean = sum(frame) / n
                var = sum(x * x for x in frame) / n - mean * mean
                if var > 0:
                    z = round((cnt[d] - mean) / math.sqrt(var), 6)
            expect[(k, (base + dt.timedelta(days=d)).date().isoformat())] = (cnt[d], n, z)
    assert got.keys() == expect.keys()
    for key in expect:
        gc, gn, gz = got[key]
        ec, en, ez = expect[key]
        assert (gc, gn) == (ec, en), (key, got[key], expect[key])
        if ez is None:
            assert gz is None
        else:
            assert gz is not None and abs(gz - ez) < 1e-9


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),              # user
            st.integers(min_value=0, max_value=500),            # minute offset
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=12, deadline=None)
def test_funnel_conversion_matches_naive(spark, rows):
    """funnel_conversion vs a naive first-touch replay: per (user, day)
    the step-i anchor is the earliest step-i event strictly after the
    step-(i-1) anchor."""
    import datetime as dt

    from flinkecuserbehavioranalysis_spark.operators.patterns import funnel_conversion

    base = dt.datetime(2024, 3, 1)
    ev = spark.createDataFrame(
        [(u, base + dt.timedelta(minutes=m), t) for u, m, t in rows],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r.day.isoformat(): (r.n_step1, r.n_step2, r.n_step3, r.conv_2, r.conv_3)
        for r in funnel_conversion(ev).collect()
    }
    per_ud: dict[tuple, list] = {}
    for u, m, t in rows:
        ts = base + dt.timedelta(minutes=m)
        per_ud.setdefault((u, ts.date()), []).append((ts, t))
    daily = {}
    for (u, day), evs in per_ud.items():
        anchor = None
        reached = 0
        for step in ("view", "click", "purchase"):
            cand = [ts for ts, t in evs if t == step and (anchor is None or ts > anchor)]
            if step == "view":
                cand = [ts for ts, t in evs if t == step]
            if not cand:
                break
            anchor = min(cand)
            reached += 1
        if reached:
            d = daily.setdefault(day.isoformat(), [0, 0, 0])
            for i in range(reached):
                d[i] += 1
    expect = {
        d: (c[0], c[1], c[2], round(c[1] / c[0], 6), round(c[2] / c[0], 6))
        for d, c in daily.items()
    }
    assert got == expect


@st.composite
def range_inputs(draw):
    left = draw(st.lists(TS, min_size=1, max_size=12, unique=True))
    right = draw(st.lists(TS, min_size=0, max_size=12, unique=True))
    lower = draw(st.integers(min_value=0, max_value=7))
    upper = draw(st.integers(min_value=0, max_value=7))
    return left, right, lower, max(upper, 1 - lower)  # keep W = lower+upper > 0


@given(range_inputs())
@settings(max_examples=12, deadline=None)
def test_range_join_binned_matches_naive(spark, data):
    """Binned keyless range join emits exactly the pairs the naive
    non-equi predicate admits — each pair once (windows spanning a bin
    boundary must not double-match)."""
    from flinkecuserbehavioranalysis_spark.operators.joins import range_join_binned

    left_rows, right_rows, lower, upper = data
    left = spark.createDataFrame([(t,) for t in left_rows], "lt long")
    right = spark.createDataFrame([(t,) for t in right_rows], "rt long")
    got = sorted(
        (r.lt, r.rt)
        for r in range_join_binned(
            left, right, "lt", "rt", lower_seconds=lower, upper_seconds=upper
        ).collect()
    )
    expect = sorted(
        (lt, rt)
        for lt in left_rows
        for rt in right_rows
        if lt - lower <= rt <= lt + upper
    )
    assert got == expect


@st.composite
def gram_docs(draw):
    # tiny alphabet to force cross-doc collisions
    word = st.sampled_from(list("abc"))
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)
    return draw(st.lists(doc, min_size=1, max_size=6))


@given(gram_docs())
@settings(max_examples=10, deadline=None)
def test_repeated_gram_stats_matches_naive(spark, texts):
    """repeated_gram_stats equals a naive Python recomputation: per-doc
    w-gram positions, cross-doc (distinct-doc >= 2) duplicated-gram set,
    per-position counting."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import repeated_gram_stats

    w = 2
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.n_dup_grams) for r in repeated_gram_stats(df, w=w).collect()}

    grams = {i: [" ".join(t.split(" ")[p : p + w]) for p in range(len(t.split(" ")) - w + 1)]
             for i, t in docs}
    from collections import Counter
    df_count = Counter()
    for i, gs in grams.items():
        for g in set(gs):
            df_count[g] += 1
    hot = {g for g, c in df_count.items() if c >= 2}
    for i, t in docs:
        n_grams = max(len(t.split(" ")) - w + 1, 0)
        n_dup = sum(1 for g in grams[i] if g in hot)
        assert got[i] == (n_grams, n_dup), (i, t, got[i], (n_grams, n_dup))


@st.composite
def basket_rows(draw):
    return draw(
        st.lists(
            st.tuples(st.integers(0, 4), st.integers(0, 5)),
            min_size=1, max_size=30,
        )
    )


@given(basket_rows())
@settings(max_examples=10, deadline=None)
def test_frequent_pairs_matches_naive(spark, rows):
    """frequent_pairs support/lift equal a naive recomputation over
    random (basket, item) rows with duplicates."""
    from itertools import combinations

    from flinkecuserbehavioranalysis_spark.operators.itemsets import frequent_pairs

    df = spark.createDataFrame(rows, "b long, i long")
    got = {(r.item_a, r.item_b): (r.support, r.lift)
           for r in frequent_pairs(df, "b", "i", min_support=1, topk=None).collect()}

    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    n = len(baskets)
    from collections import Counter
    freq, sup = Counter(), Counter()
    for items in baskets.values():
        for i in items:
            freq[i] += 1
        for a, bb in combinations(sorted(items), 2):
            sup[(a, bb)] += 1
    expect = {
        p: (c, round(c * n / (freq[p[0]] * freq[p[1]]), 6)) for p, c in sup.items()
    }
    assert got == expect


@st.composite
def ab_streams(draw):
    # per-key sequence of event types at distinct integer times
    rows = draw(
        st.lists(
            st.tuples(KEYS, TS, st.sampled_from(["a", "b", "x"])),
            min_size=1, max_size=20,
            unique_by=lambda r: (r[0], r[1]),
        )
    )
    within = draw(st.integers(min_value=1, max_value=20))
    return rows, within


@given(ab_streams())
@settings(max_examples=12, deadline=None)
def test_pattern_one_or_more_matches_naive(spark, data):
    """oneOrMore().consecutive().greedy().next(B): the segment-id
    restatement equals a naive per-key scan for maximal A-runs
    immediately before each B, within the time bound."""
    from flinkecuserbehavioranalysis_spark.operators.patterns import pattern_one_or_more

    rows, within = data
    df = spark.createDataFrame(rows, "k string, t long, e string")
    got = sorted(
        (r.k, r.first_a_ts, r.b_ts, r.n_a)
        for r in pattern_one_or_more(
            df, "k", "t", F.col("e") == "a", F.col("e") == "b", float(within)
        ).collect()
    )
    by_key: dict = {}
    for k, t, e in rows:
        by_key.setdefault(k, []).append((t, e))
    expect = []
    for k, seq in by_key.items():
        seq.sort()
        for i, (t, e) in enumerate(seq):
            if e != "b":
                continue
            j = i - 1
            while j >= 0 and seq[j][1] == "a":
                j -= 1
            run = seq[j + 1 : i]
            if run and t <= run[0][0] + within:
                expect.append((k, run[0][0], t, len(run)))
    assert got == sorted(expect)


@given(SEQ_EVENTS)
@settings(max_examples=15, deadline=None)
def test_match_pattern_guarded_optional_matches_naive_nfa(spark, events):
    """Declarative CEP compiler (operators/cep.py) on the composite
    'negation inside an optional funnel' — a, b optional, NOT x, c —
    vs a naive per-key NFA: lex-min chains per expansion variant, then
    the boundary-exclusive kill window anchored to whichever gap
    survives the expansion."""
    from flinkecuserbehavioranalysis_spark.operators.cep import (
        PatternStep,
        match_pattern,
    )

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    within = 12.0
    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    got = sorted(
        (
            (r.user_id, r.step1_ts, r.step2_ts, r.step3_ts)
            for r in match_pattern(
                df,
                key_col="user_id",
                ts_col="ts",
                steps=[
                    PatternStep(F.col("event_type") == "a"),
                    PatternStep(F.col("event_type") == "b", optional=True),
                    PatternStep(F.col("event_type") == "x", negated=True),
                    PatternStep(F.col("event_type") == "c"),
                ],
                within_seconds=within,
                tiebreak_col="event_id",
            ).collect()
        ),
        key=repr,
    )

    by_key: dict[int, list[tuple[int, str]]] = {}
    for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
        by_key.setdefault(k, []).append((t, e))

    def killed(seq, lo, hi):
        return any(e == "x" and lo < t < hi for t, e in seq)

    expect = []
    for k, seq in by_key.items():
        for i in range(len(seq)):
            full = _lex_min_chain(
                seq,
                [lambda e: e == "a", lambda e: e == "b", lambda e: e == "c"],
                ["relaxed", "relaxed"],
                i,
            )
            if (
                full is not None
                and full[-1] - full[0] < within
                and not killed(seq, full[1], full[2])
            ):
                expect.append((k, full[0], full[1], full[2]))
            skip = _lex_min_chain(
                seq,
                [lambda e: e == "a", lambda e: e == "c"],
                ["relaxed"],
                i,
            )
            if (
                skip is not None
                and skip[-1] - skip[0] < within
                and not killed(seq, skip[0], skip[1])
            ):
                expect.append((k, skip[0], None, skip[1]))
    assert got == sorted(expect, key=repr)


@given(SEQ_EVENTS)
@settings(max_examples=10, deadline=None)
def test_match_pattern_trailing_negation_two_steps_matches_naive(spark, events):
    """Compiler combination no hand-written kernel had: a 2-step chain
    with a TRAILING negation — (a, b, NOT x): kill iff x strictly after
    the matched b and strictly before a's deadline (first + within)."""
    from flinkecuserbehavioranalysis_spark.operators.cep import (
        PatternStep,
        match_pattern,
    )

    rows = [(k, t, e, i) for i, (k, t, e) in enumerate(events)]
    if not rows:
        return
    within = 12.0
    df = spark.createDataFrame(
        rows, "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    got = sorted(
        (
            (r.user_id, r.step1_ts, r.step2_ts)
            for r in match_pattern(
                df,
                key_col="user_id",
                ts_col="ts",
                steps=[
                    PatternStep(F.col("event_type") == "a"),
                    PatternStep(F.col("event_type") == "b"),
                    PatternStep(F.col("event_type") == "x", negated=True),
                ],
                within_seconds=within,
                tiebreak_col="event_id",
            ).collect()
        ),
        key=repr,
    )

    by_key: dict[int, list[tuple[int, str]]] = {}
    for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
        by_key.setdefault(k, []).append((t, e))
    expect = []
    for k, seq in by_key.items():
        for i in range(len(seq)):
            chain = _lex_min_chain(
                seq,
                [lambda e: e == "a", lambda e: e == "b"],
                ["relaxed"],
                i,
            )
            if (
                chain is not None
                and chain[-1] - chain[0] < within
                and not any(
                    e == "x" and chain[1] < t < chain[0] + within for t, e in seq
                )
            ):
                expect.append((k, chain[0], chain[1]))
    assert got == sorted(expect, key=repr)


def test_match_pattern_spec_validation(spark):
    from flinkecuserbehavioranalysis_spark.operators.cep import (
        PatternStep,
        match_pattern,
    )

    df = spark.createDataFrame(
        [(1, 1, "a", 0)], "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    a = F.col("event_type") == "a"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lead"):
        match_pattern(df, "user_id", "ts",
                      [PatternStep(a, negated=True), PatternStep(a)], 10.0)
    with _pytest.raises(ValueError, match="adjacent negations"):
        match_pattern(df, "user_id", "ts",
                      [PatternStep(a), PatternStep(a, negated=True),
                       PatternStep(a, negated=True), PatternStep(a)], 10.0)
    with _pytest.raises(ValueError, match="after a negation"):
        match_pattern(df, "user_id", "ts",
                      [PatternStep(a), PatternStep(a, negated=True),
                       PatternStep(a, contiguity="strict")], 10.0)
    # mixed contiguity AFTER the leading atom + an optional step → rejected
    with _pytest.raises(ValueError, match="uniform contiguity"):
        match_pattern(df, "user_id", "ts",
                      [PatternStep(a), PatternStep(a, optional=True),
                       PatternStep(a, contiguity="strict")], 10.0)
    # ...but the FIRST positive atom's contiguity is ignored by contract
    # (nothing precedes it), so a meaningless 'strict' on step 0 plus
    # relaxed optional steps must compile (round-6 ADVICE): identical
    # results to the same spec with a relaxed leading step.
    loose = [PatternStep(a), PatternStep(a, optional=True), PatternStep(a)]
    tight0 = [PatternStep(a, contiguity="strict"),
              PatternStep(a, optional=True), PatternStep(a)]
    assert sorted(
        map(tuple, match_pattern(df, "user_id", "ts", tight0, 10.0).collect())
    ) == sorted(map(tuple, match_pattern(df, "user_id", "ts", loose, 10.0).collect()))
    with _pytest.raises(ValueError, match="bare filter|no compilable"):
        match_pattern(df, "user_id", "ts", [PatternStep(a)], 10.0)


def test_match_pattern_loop_spec_validation(spark):
    from flinkecuserbehavioranalysis_spark.operators.cep import (
        PatternStep,
        match_pattern,
    )

    df = spark.createDataFrame(
        [(1, 1, "a", 0)], "user_id long, tsd long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_seconds(tsd) as ts", "event_type", "event_id")
    a = F.col("event_type") == "a"
    b = F.col("event_type") == "b"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly two"):
        match_pattern(df, "user_id", "ts", [PatternStep(a, one_or_more=True)], 10.0)
    with _pytest.raises(ValueError, match="exactly two"):
        match_pattern(
            df, "user_id", "ts",
            [PatternStep(b), PatternStep(a, one_or_more=True)], 10.0,
        )
    with _pytest.raises(ValueError, match="strict"):
        match_pattern(
            df, "user_id", "ts",
            [PatternStep(a, one_or_more=True), PatternStep(b)], 10.0,
        )
    with _pytest.raises(ValueError, match="optional/negated"):
        match_pattern(
            df, "user_id", "ts",
            [PatternStep(a, one_or_more=True),
             PatternStep(b, contiguity="strict", optional=True)], 10.0,
        )


def _naive_match_pattern(seq, spec, within):
    """Reference evaluator for random compiler specs: *spec* is a list
    of ('pos', type, optional) / ('neg', type) entries, uniform relaxed
    contiguity.  Mirrors the documented semantics: optional-subset
    expansion, lex-min chains, boundary-exclusive negation windows
    (trailing bound = first + within), single-positive variants legal
    only with negation content."""
    from itertools import combinations

    pos_idx = [i for i, s in enumerate(spec) if s[0] == "pos"]
    opt_idx = [i for i in pos_idx if spec[i][2]]
    n_atoms = len(pos_idx)
    atom_no = {i: k for k, i in enumerate(pos_idx)}
    out = []
    for r in range(len(opt_idx) + 1):
        for drop in combinations(opt_idx, r):
            kept, negs, pending = [], [], []
            ok = True
            for i, s in enumerate(spec):
                if s[0] == "neg":
                    if not kept:
                        ok = False
                        break
                    pending.append(s[1])
                    continue
                if i in drop:
                    continue
                for p in pending:
                    negs.append((p, len(kept), len(kept) + 1))
                pending = []
                kept.append(i)
            if not ok:
                continue
            for p in pending:
                negs.append((p, len(kept), None))
            if not kept or (len(kept) == 1 and not negs):
                continue
            preds = [
                (lambda t, _ty=spec[i][1]: t == _ty) for i in kept
            ]
            for start in range(len(seq)):
                if len(kept) == 1:
                    if not preds[0](seq[start][1]):
                        continue
                    chain = [seq[start][0]]
                else:
                    chain = _lex_min_chain(
                        seq, preds, ["relaxed"] * (len(kept) - 1), start
                    )
                    if chain is None or not chain[-1] - chain[0] < within:
                        continue
                killed = False
                for p, li, ri in negs:
                    lo = chain[li - 1]
                    hi = chain[ri - 1] if ri is not None else chain[0] + within
                    if any(e == p and lo < t < hi for t, e in seq):
                        killed = True
                        break
                if killed:
                    continue
                row = [None] * n_atoms
                for k, i in enumerate(kept):
                    row[atom_no[i]] = chain[k]
                out.append(tuple(row))
    return out


_SPEC = st.lists(
    st.tuples(
        st.sampled_from(["pos", "neg"]),
        st.sampled_from(["a", "b", "c"]),
        st.booleans(),
    ),
    min_size=2,
    max_size=4,
).filter(
    lambda s: (
        s[0][0] == "pos"
        and sum(1 for e in s if e[0] == "pos") >= 1
        and not any(s[i][0] == "neg" and s[i + 1][0] == "neg" for i in range(len(s) - 1))
        and (
            sum(1 for e in s if e[0] == "pos" and not (e[2] and e[0] == "pos")) >= 0
        )
    )
)


@given(_SPEC, SEQ_EVENTS, st.booleans())
@settings(max_examples=20, deadline=None)
def test_match_pattern_random_specs_match_naive(spark, spec, events, subsecond):
    """Grammar-randomized compiler specs (2-4 steps, random optional
    flags, random negation placement, relaxed gaps) vs the generic
    naive evaluator — the spec space itself is fuzzed, not just the
    hand-picked shapes.  With *subsecond*, events sit at .0/.3/.7 s, so
    a negated event can share a second with a matched step: the kill
    window compares full event times and only the output floors."""
    import math

    from flinkecuserbehavioranalysis_spark.operators.cep import (
        PatternStep,
        match_pattern,
    )

    # normalize to a VALID spec: negated steps ignore the optional flag
    steps = [
        PatternStep(
            F.col("event_type") == ty,
            optional=(kind == "pos" and opt),
            negated=(kind == "neg"),
        )
        for kind, ty, opt in spec
    ]
    frac_us = (0, 300_000, 700_000) if subsecond else (0,)
    rows = [
        (k, t * 1_000_000 + frac_us[i % len(frac_us)], e, i) for i, (k, t, e) in enumerate(events)
    ]
    if not rows:
        return
    within = 12.0
    df = spark.createDataFrame(
        rows, "user_id long, us long, event_type string, event_id long"
    ).selectExpr("user_id", "timestamp_micros(us) as ts", "event_type", "event_id")
    # the naive side sees t as Spark casts a timestamp to double
    rows = [(k, us / 1e6, e, i) for k, us, e, i in rows]
    try:
        got_df = match_pattern(
            df, "user_id", "ts", steps, within, tiebreak_col="event_id"
        )
    except ValueError:
        # spec degenerates (no compilable variant) — naive must agree
        by_key = {}
        for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
            by_key.setdefault(k, []).append((t, e))
        norm = [
            ("pos", ty, opt) if kind == "pos" else ("neg", ty)
            for kind, ty, opt in spec
        ]
        naive = [
            m for k, seq in by_key.items() for m in _naive_match_pattern(seq, norm, within)
        ]
        assert naive == [] or all(
            len([s for s in spec if s[0] == "pos"]) <= 1 for _ in [0]
        )
        return
    got = sorted(
        (tuple(r) for r in got_df.collect()),
        key=repr,
    )
    by_key = {}
    for k, t, e, i in sorted(rows, key=lambda r: (r[1], r[3])):
        by_key.setdefault(k, []).append((t, e))
    norm = [
        ("pos", ty, opt) if kind == "pos" else ("neg", ty)
        for kind, ty, opt in spec
    ]
    expect = sorted(
        (
            (k, *(None if t is None else math.floor(t) for t in m))
            for k, seq in by_key.items()
            for m in _naive_match_pattern(seq, norm, within)
        ),
        key=repr,
    )
    assert got == expect


@given(basket_rows())
@settings(max_examples=10, deadline=None)
def test_association_rules_match_naive(spark, rows):
    """association_rules confidence/lift equal a naive recomputation —
    both directions of every pair, min_support=1, no cut."""
    from itertools import combinations

    from flinkecuserbehavioranalysis_spark.operators.itemsets import association_rules

    df = spark.createDataFrame(rows, "b long, i long")
    got = {(r.antecedent, r.consequent): (r.support, r.confidence, r.lift)
           for r in association_rules(df, "b", "i", min_support=1, topk=None).collect()}

    baskets = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    n = len(baskets)
    from collections import Counter
    freq, sup = Counter(), Counter()
    for items in baskets.values():
        for i in items:
            freq[i] += 1
        for a, bb in combinations(sorted(items), 2):
            sup[(a, bb)] += 1
    expect = {}
    for (a, bb), c in sup.items():
        lift = round(c * n / (freq[a] * freq[bb]), 6)
        expect[(a, bb)] = (c, round(c / freq[a], 6), lift)
        expect[(bb, a)] = (c, round(c / freq[bb], 6), lift)
    assert got == expect


@given(asof_inputs())
@settings(max_examples=12, deadline=None)
def test_forward_as_of_join_matches_naive(spark, data):
    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k string, t long, lid long"
    )
    right = spark.createDataFrame(
        [(k, t, 1000 + i) for i, (k, t) in enumerate(right_rows)],
        "k string, rt long, rid long",
    )
    got = {
        (r.k, r.t): r.rid
        for r in as_of_join(
            left, right, key="k", left_ts="t", right_ts="rt",
            right_payload=["rid"], direction="forward",
        ).collect()
    }
    # naive: per left row, the right row with MIN rt >= t for the key
    rid_by_key_ts = {(k, t): 1000 + i for i, (k, t) in enumerate(right_rows)}
    for k, t in left_rows:
        nxt = [rt for (rk, rt) in right_rows if rk == k and rt >= t]
        expect = rid_by_key_ts[(k, min(nxt))] if nxt else None
        assert got[(k, t)] == expect, (k, t, got[(k, t)], expect)
    assert len(got) == len(left_rows)


def test_forward_as_of_null_left_ts_keeps_null_payload(spark):
    left = spark.createDataFrame([("a", None, 1), ("a", 5, 2)], "k string, t long, lid long")
    right = spark.createDataFrame([("a", 7, 99)], "k string, rt long, rid long")
    rows = {r.lid: r.rid for r in as_of_join(
        left, right, key="k", left_ts="t", right_ts="rt",
        right_payload=["rid"], direction="forward").collect()}
    assert rows == {1: None, 2: 99}


@given(doc_inputs(), st.sampled_from([0.25, 0.5, 0.75]))
@settings(max_examples=10, deadline=None)
def test_prefix_filter_jaccard_matches_naive(spark, docs, threshold):
    """The prefix-filter join must return EXACTLY the naive all-pairs
    Jaccard >= t result — completeness (the prefix theorem never loses a
    qualifying pair) and precision (verification is exact) in one
    assert.  Exact-binary thresholds only, per the operator contract."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import prefix_filter_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filter_pairs(df, threshold=threshold).collect()
    }

    def sh(text):
        ws = text.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)} if len(ws) >= 3 else set()

    expect = {}
    for i, ta in docs:
        for j, tb in docs:
            if i < j:
                a, b = sh(ta), sh(tb)
                if a & b:
                    jac = len(a & b) / len(a | b)
                    if jac >= threshold:
                        expect[(i, j)] = jac
    assert got == expect


def test_prefix_filter_planted_duplicates_full_recall(spark):
    """Planted near-identical pairs that share a CORPUS-WIDE HOT shingle
    as their overlap: the df-capped operator structurally misses them
    (the hot shingle is dropped), the prefix filter must not."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    hot = "the quick fox"  # one shingle shared by EVERY doc
    rows = [(i, f"{hot} filler{i} filler{i} tail{i} tail{i}") for i in range(50)]
    # two planted duplicate pairs: identical texts -> jaccard 1.0
    rows += [(100, f"{hot} copy one body"), (101, f"{hot} copy one body")]
    rows += [(200, f"{hot} copy two body"), (201, f"{hot} copy two body")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_pairs(df, threshold=0.5).collect()
    }
    assert {(100, 101), (200, 201)} <= got
    # the df-capped variant with a binding cap loses shingles of the
    # planted pairs; with cap=1 every shared shingle dies -> no pairs
    capped = ngram_jaccard_pairs(df, threshold=0.5, df_max=1).collect()
    assert not capped


def test_prefix_filter_positional_filter_keeps_exact_boundary_pair(spark):
    """r11 guard for the ppjoin positional filter: a pair whose Jaccard
    is EXACTLY the threshold (overlap 6, sizes 7/7 → 6/8 = 0.75) sits on
    the tight edge of the integer inequality ubound·(num+den) ≥ num·S —
    the lossless-pruning proof's worst case.  It must survive pruning
    and verify at jaccard == 0.75 precisely."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import prefix_filter_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h X")],
        "doc_id long, text string",
    )
    rows = prefix_filter_pairs(df, threshold=0.75).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 0.75)]


def test_prefix_filter_non_dyadic_threshold_disables_positional_filter(spark):
    """r12 guard (ADVICE): a NON-binary-exact threshold (0.8 →
    as_integer_ratio denominator ≈ 2^52) must not run the int64
    positional inequality — ubound·(num+den) would wrap silently in
    non-ANSI mode and DROP true pairs.  The operator falls back to the
    length-filter-only path, which stays lossless: the boundary pair
    (overlap 8, union 10 → J = 0.8) must still come out exactly."""
    from flinkecuserbehavioranalysis_spark.operators.dedup import prefix_filter_pairs

    # changing only the LAST of 11 tokens flips exactly ONE of the 9
    # trigram shingles: sizes 9/9, common 8, union 10 → J = 0.8 exactly
    # — the boundary pair for the fallback path
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k"), (2, "a b c d e f g h i j Z")],
        "doc_id long, text string",
    )
    rows = prefix_filter_pairs(df, threshold=0.8).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 0.8)]


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 9)),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_cooccurrence_similarity_matches_naive(spark, pairs):
    from flinkecuserbehavioranalysis_spark.operators.itemsets import (
        cooccurrence_similarity,
    )

    df = spark.createDataFrame(pairs, "u long, i long") if pairs else spark.createDataFrame([], "u long, i long")
    got = {
        (r.item_a, r.item_b): (r.n_both, r.n_a, r.n_b, r.cos_sim)
        for r in cooccurrence_similarity(df, "u", "i", min_support=1).collect()
    }

    import math
    from collections import defaultdict

    users = defaultdict(set)
    for u, i in set(pairs):
        users[i].add(u)
    expect = {}
    items = sorted(users)
    for x in range(len(items)):
        for y in range(x + 1, len(items)):
            a, b = items[x], items[y]
            co = len(users[a] & users[b])
            if co >= 1:
                expect[(a, b)] = (
                    co, len(users[a]), len(users[b]),
                    co / math.sqrt(len(users[a]) * len(users[b])),
                )
    assert got == expect


def test_cooccurrence_activity_cap_binds_deterministically(spark):
    """A hyperactive user contributes only its cap's worth of items —
    and which items survive is a pure function of the values (md5
    rank), not of partitioning."""
    from flinkecuserbehavioranalysis_spark.operators.itemsets import (
        cooccurrence_similarity,
    )

    rows = [(1, i) for i in range(30)] + [(2, 5), (2, 7), (3, 5), (3, 7)]
    out1 = cooccurrence_similarity(
        spark.createDataFrame(rows, "u long, i long").repartition(1),
        "u", "i", min_support=1, activity_cap=4,
    ).collect()
    out13 = cooccurrence_similarity(
        spark.createDataFrame(rows, "u long, i long").repartition(13),
        "u", "i", min_support=1, activity_cap=4,
    ).collect()
    k1 = {(r.item_a, r.item_b): r.n_both for r in out1}
    assert k1 == {(r.item_a, r.item_b): r.n_both for r in out13}
    # user 1's quadratic contribution is C(4,2)=6 pairs, not C(30,2)
    user1_only = [p for p, n in k1.items() if n == 1 and p != (5, 7)]
    assert len(user1_only) <= 6
    # pair (5,7) from users 2 and 3 always survives (not capped)
    assert k1[(5, 7)] >= 2
