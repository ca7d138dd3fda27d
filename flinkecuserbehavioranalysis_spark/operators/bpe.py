"""Byte-pair-encoding tokenizer training (extension — training-data
pipeline).

No reference analog (the reference tokenizes nothing); this is the
map-reduce formulation of classic word-level BPE (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units"): train
on the DISTINCT-WORD relation weighted by corpus frequency, so all
per-round work scales with vocabulary size, not corpus size — the only
corpus-scale pass is the initial word count.

Per merge round, everything is DataFrame algebra:

1. **pair counts** — each word's symbol array explodes to its adjacent
   (x, y) pairs map-side (positional, overlapping — "aaa" counts (a,a)
   twice, matching the classic counter); one shuffle sums ``freq`` per
   pair.
2. **best pair** — global arg-max with (count DESC, x, y) tie-break; a
   1-row TakeOrdered collect.  EAGER BY CONTRACT: training is a driver
   loop of scalar probes, like ``duplicate_components``' convergence
   probe — rounds are data-dependent, so the loop cannot be a deferred
   plan.
3. **merge** — greedy LEFTMOST non-overlapping replacement of (x, y)
   by the concatenated symbol, applied simultaneously per word with no
   rescan of newly-formed symbols (re.sub semantics of the classic
   implementation).  Executed MAP-SIDE as a sequential
   ``aggregate()`` fold over symbol positions with a (acc, skip)
   struct accumulator — no per-round shuffle of the vocab relation.

The DuckDB oracle replays identical rounds with a different (shuffle-
style) merge formulation — positions exploded, match runs grouped, and
the leftmost-greedy choice expressed as run parity (overlap between
matches at i and i+1 exists only when x = y; a maximal run of
consecutive match positions keeps its 1st, 3rd, ... members).  The twin
check therefore proves the fold and the relational form equivalent.

Character splitting is codepoint-aligned on both engines (Spark
``split(w, '')`` and DuckDB ``string_split(w, '')`` both yield per-
codepoint arrays — astral-plane emoji included, verified against the
unicode degenerate tier), and binary UTF-8 string ordering makes the
tie-break collation identical, so no ASCII restriction is needed here,
unlike the edit-distance family (operators/linkage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus-scale pass
    (map-side explode + one count shuffle on the word key)."""
    return (
        docs.select(F.explode(F.split(text_col, " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: adjacent-pair explode over a symbol array column ``s`` — positional,
#: so overlapping pairs each count once (classic BPE counting)
_PAIRS_EXPR = (
    "transform(sequence(1, size(s) - 1), "
    "i -> struct(try_element_at(s, i) AS x, try_element_at(s, i + 1) AS y))"
)


def _pair_counts(words: DataFrame) -> DataFrame:
    nonunit = words.where(F.size("s") >= 2)
    return (
        nonunit.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "freq")
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _merge_expr(x: str, y: str, col: str = "s") -> str:
    """Greedy leftmost non-overlapping merge of (x, y) in symbol array
    *col* as a single sequential fold — the map-side round step.  The
    ``skip`` flag consumes the right-hand symbol of a just-made merge,
    which is exactly what forbids overlap and rescan."""
    qx, qy = _sql_quote(x), _sql_quote(y)
    return f"""
aggregate(
  sequence(1, size({col})),
  named_struct('arr', cast(array() as array<string>), 'skip', false),
  (acc, i) -> CASE
    WHEN acc.skip THEN named_struct('arr', acc.arr, 'skip', false)
    WHEN i < size({col}) AND try_element_at({col}, i) = {qx}
         AND try_element_at({col}, i + 1) = {qy}
      THEN named_struct('arr', array_append(acc.arr, concat({qx}, {qy})), 'skip', true)
    ELSE named_struct('arr', array_append(acc.arr, try_element_at({col}, i)), 'skip', false)
  END,
  acc -> acc.arr)
"""


def apply_merges(
    df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    sym_col: str = "s",
) -> DataFrame:
    """ENCODE: segment *word_col* by a frozen, already-learned merge
    list applied in rank order (the classic subword-nmt encode — each
    merge is one greedy leftmost non-overlapping pass; a later merge
    can only consume symbols earlier merges produced, never re-open
    them).  Pure narrow transformations, so this works identically on
    batch AND streaming DataFrames — the train-offline / apply-online
    split: training iterates driver-side, encoding is map-only against
    the broadcast-small merge list baked into the plan."""
    out = df.withColumn(sym_col, F.split(F.col(word_col), ""))
    for x, y in merges:
        out = out.withColumn(sym_col, F.expr(_merge_expr(x, y, sym_col)))
    return out


def bpe_train_curve(
    words: DataFrame, rounds: int, track_curve: bool = True
) -> tuple[list[tuple[int, str, str, int]], DataFrame, list[tuple[int, int]]]:
    """Learn up to *rounds* BPE merges over a (word, freq) relation.

    Returns (merges, final_words, curve): merges as (round, x, y,
    count) starting at round 1, stopping early when no adjacent pair
    remains; final_words as (word, freq, s) with the post-merge symbol
    arrays.  Each round's vocab relation is localCheckpoint-ed so the
    fold lineage stays one round deep and the pair-count pass never
    re-runs earlier rounds.

    With *track_curve*, curve is the compression curve —
    (round, total corpus tokens) from round 0 (character tokenization)
    through every executed merge, with early-exhausted rounds carrying
    the last total forward (matching the oracle's carry-forward CTEs).
    The per-round probe is one 1-row scalar aggregate over the
    vocab-scale relation, same cost class as the arg-max probe."""

    def total_tokens(frame: DataFrame) -> int:
        row = frame.agg(
            F.coalesce(F.sum(F.col("freq") * F.size("s")), F.lit(0)).alias("t")
        ).collect()[0]
        return int(row["t"])

    cur = words.select(
        "word", "freq", F.split("word", "").alias("s")
    ).localCheckpoint(eager=True)
    curve: list[tuple[int, int]] = []
    if track_curve:
        curve.append((0, total_tokens(cur)))
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        top = (
            _pair_counts(cur)
            .orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        x, y, cnt = top[0]["x"], top[0]["y"], top[0]["cnt"]
        merges.append((r, x, y, int(cnt)))
        cur = cur.select(
            "word", "freq", F.expr(_merge_expr(x, y)).alias("s")
        ).localCheckpoint(eager=True)
        if track_curve:
            curve.append((r, total_tokens(cur)))
    if track_curve:
        while len(curve) <= rounds:  # exhausted early: carry forward
            curve.append((len(curve), curve[-1][1]))
    return merges, cur, curve


def bpe_oracle_sql(rounds: int, corpus_sql: str) -> str:
    """DuckDB twin of :func:`bpe_train_curve`'s *rounds* unrolled over
    *corpus_sql* (must yield (word, freq)) — window/run-parity merge
    formulation (module docstring).  Exposes per-round CTEs ``__b{r}``
    (the chosen merge + count, empty when training exhausted early) and
    ``__w{rounds}`` (the final symbol relation)."""
    # AS MATERIALIZED is load-bearing: each round's __w{r} is referenced
    # three times (pair counts, position explode, exhausted carry-forward);
    # DuckDB inlines plain CTEs, which would re-evaluate the whole prior
    # chain 3^rounds times.
    parts = [
        "__w0 AS MATERIALIZED "
        f"(SELECT word, freq, string_split(word, '') AS s FROM ({corpus_sql}))"
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
__p{r} AS (
  SELECT s[i] AS x, s[i + 1] AS y, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT s, freq, unnest(range(1, len(s))) AS i FROM __w{p})
  GROUP BY 1, 2),
__b{r} AS MATERIALIZED (SELECT x, y, cnt FROM __p{r} ORDER BY cnt DESC, x, y LIMIT 1),
__pos{r} AS (
  SELECT word, freq, s, unnest(range(1, len(s) + 1)) AS i FROM __w{p}),
__m{r} AS (
  SELECT t.word, t.freq, t.s, t.i,
         (t.i < len(t.s) AND t.s[t.i] = b.x AND t.s[t.i + 1] = b.y) AS m
  FROM __pos{r} t CROSS JOIN __b{r} b),
__run{r} AS (
  SELECT *, CASE WHEN m THEN i - row_number()
                   OVER (PARTITION BY word, m ORDER BY i) END AS rid
  FROM __m{r}),
__sel{r} AS (
  SELECT *, m AND (row_number() OVER (PARTITION BY word, rid ORDER BY i) % 2 = 1) AS sel
  FROM __run{r}),
__k{r} AS (
  SELECT *, coalesce(lag(sel) OVER (PARTITION BY word ORDER BY i), false) AS dropped
  FROM __sel{r}),
__w{r} AS MATERIALIZED (
  SELECT word, freq,
         list(CASE WHEN sel THEN s[i] || s[i + 1] ELSE s[i] END ORDER BY i) AS s
  FROM __k{r} WHERE NOT dropped GROUP BY word, freq
  UNION ALL
  -- training exhausted (no adjacent pair left): carry the previous
  -- round's relation forward, matching the Spark side's early break
  SELECT word, freq, s FROM __w{p}
  WHERE NOT EXISTS (SELECT 1 FROM __b{r}))""")
    return "WITH " + ",".join(parts)
