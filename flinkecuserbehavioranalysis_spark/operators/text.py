"""Text analysis operators (extension — training-data pipeline).

All pure Catalyst expressions (string/regex/array builtins) — zero
Python in the row path, so these run at scan speed and push column
pruning down to the parquet reader.  Shared SQL fragments keep the
DuckDB oracles byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
#: Plain alternation — identical semantics under Java regex and RE2.
BPE_TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

#: stopword set for quality scoring (tiny, deterministic)
STOPWORDS = ("the", "a", "of", "to", "and", "is", "in")

#: marker-token language-ID heuristic (n-gram profile degenerates to
#: marker lookup at this vocab size); same CASE text on both engines.
LANG_ID_CASE = (
    "CASE WHEN text LIKE '%the %' THEN 'en' "
    "WHEN text LIKE '%data %' THEN 'de' "
    "WHEN text LIKE '%la %' THEN 'es' "
    "ELSE 'unknown' END"
)


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts per doc."""
    return docs.select(
        F.col(id_col),
        # cast → long: Spark size() is INT, DuckDB len() is BIGINT
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens_ws"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{BPE_TOKEN_PATTERN}', 0)"))
        .cast("long")
        .alias("n_tokens_bpe"),
    )


def _quality_signals(text_col: str):
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.size(F.expr(f"filter(split({text_col}, ' '), w -> w IN ({stop_arr}))"))
    avg_word_len = (n_chars - (n_words - F.lit(1))) / n_words
    stop_ratio = n_stop / n_words
    return n_words, n_chars, n_stop, avg_word_len, stop_ratio


def quality_ok(text_col: str = "text"):
    """The keep predicate as a pure Column expression — composable into
    a map-side ``filter`` so pipelines never need to join the scored
    relation back to the corpus."""
    n_words, _, _, avg_word_len, stop_ratio = _quality_signals(text_col)
    return (
        (n_words >= 5)
        & (n_words <= 1000)
        & (stop_ratio <= 0.5)
        & (avg_word_len >= 2.0)
        & (avg_word_len <= 12.0)
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length / word-shape / stopword-ratio quality heuristics.

    Emits the raw signals plus a binary keep flag — downstream pipelines
    filter on ``quality = 'ok'`` (or use ``quality_ok`` directly as a
    map-side predicate)."""
    n_words, n_chars, n_stop, avg_word_len, stop_ratio = _quality_signals(text_col)
    quality = F.when(quality_ok(text_col), F.lit("ok")).otherwise(F.lit("low"))
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        quality.alias("quality"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-based language guess vs. the labeled ``lang`` column."""
    return docs.select(
        F.col(id_col),
        F.col("lang"),
        F.expr(LANG_ID_CASE).alias("lang_guess"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Normalized content fingerprint: lowercase, collapse whitespace,
    md5.  The join key for cross-source exact dedup."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), " +", " ")
    return docs.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def rolling_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Polynomial rolling hash over the token stream (Rabin-Karp style):
    acc = (acc*31 + h(token)) mod 1e9+7, h = first 32 md5 bits.

    Order-sensitive (unlike the bag-of-tokens SimHash) and computed as a
    single Catalyst ``aggregate`` fold — map-only, whole-stage codegen,
    no shuffle.  The modulus keeps every intermediate < 2^35 so ANSI
    overflow checking never trips."""
    tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")  # noqa: E731
    rolled = F.aggregate(
        F.split(F.col(text_col), " "),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + tok_hash(t)) % F.lit(1000000007),
    )
    return docs.select(F.col(id_col), rolled.alias("rolling_hash"))


def lang_id_ngram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    profile_size: int = 50,
    profile_fraction: float = 1.0,
) -> DataFrame:
    """Character-trigram language ID: build a top-*profile_size* trigram
    profile per labeled language (by document frequency), then guess
    each document's language as the profile with the largest trigram
    overlap (ties → lexicographically first language; no trigrams →
    'und').

    Two scale levers (both round-2, after the round-1 plan audit flagged
    the full-corpus ``explode().distinct()`` as this query's cost):

    - the profile builds on a deterministic ``hash_sample`` of the
      corpus (*profile_fraction*; md5-bucket, engine-portable so the
      oracle mirrors it exactly) — profile quality needs thousands of
      docs per language, not the whole corpus;
    - scoring is MAP-ONLY: the finished profile (n_langs × profile_size
      rows) is packed into a single broadcast row of (lang, tri_array)
      structs — the same packed-codebook shape as the IVF assigner
      (similarity.py) — and each document computes
      ``array_intersect`` sizes against every language profile in one
      projection.  No explode, no join, no aggregation, no final
      left-join: the only shuffles left in the whole query are the two
      tiny ones building the sampled profile.

    Tie semantics match the relational formulation (and the oracle):
    hits desc, then lexicographically-first language (the packed structs
    are sort_array'd and the fold keeps the incumbent on ties); zero
    hits → 'und'."""
    from pyspark.sql import Window

    from .sampling import hash_sample

    trigram_expr = (
        f"CASE WHEN length({text_col}) >= 3 THEN "
        f"transform(sequence(1, length({text_col}) - 2), i -> substring({text_col}, i, 3)) "
        f"ELSE array() END"
    )

    # unlabeled docs cannot contribute to a labeled profile — and a NULL
    # cand_lang group would be written into the non-nullable packed-struct
    # field below (codegen NPE), so the exclusion is also load-bearing
    labeled = docs.where(F.col(lang_col).isNotNull())
    prof_docs = (
        hash_sample(labeled, id_col, profile_fraction) if profile_fraction < 1.0 else labeled
    )
    tri = prof_docs.select(
        F.col(id_col), F.col(lang_col), F.explode(F.expr(trigram_expr)).alias("tri")
    ).distinct()
    dfreq = tri.groupBy(lang_col, "tri").agg(F.count(F.lit(1)).alias("df"))
    wp = Window.partitionBy(lang_col).orderBy(F.col("df").desc(), F.col("tri").asc())
    profile = (
        dfreq.withColumn("__r", F.row_number().over(wp))
        .filter(F.col("__r") <= profile_size)
        .select(F.col(lang_col).alias("cand_lang"), "tri")
    )
    packed = (
        profile.groupBy("cand_lang")
        .agg(F.sort_array(F.collect_list("tri")).alias("tris"))
        .agg(F.sort_array(F.collect_list(F.struct("cand_lang", "tris"))).alias("profs"))
    )
    # no array_distinct: array_intersect already returns DISTINCT common
    # elements, so duplicate trigrams in the doc array cannot inflate hits
    base = docs.select(
        F.col(id_col), F.col(lang_col), F.expr(trigram_expr).alias("__tri_arr")
    )
    best = F.expr(
        "aggregate("
        "  transform(profs, p -> struct("
        "    size(array_intersect(__tri_arr, p.tris)) AS hits, p.cand_lang AS lang)),"
        "  struct(0 AS hits, 'und' AS lang),"
        "  (acc, x) -> IF(x.hits > acc.hits, x, acc))"
    )
    return (
        base.crossJoin(F.broadcast(packed))
        .select(F.col(id_col), F.col(lang_col), best.alias("__best"))
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.col("__best.lang").alias("lang_guess_ngram"),
            F.col("__best.hits").cast("long").alias("profile_hits"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25-style keyword relevance: top-*k* docs for a bag of query
    *terms*.  Per-term score is the BM25 saturation form

        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    with the LOG-FREE idf variant idf = (N - df + 0.5) / (df + 0.5):
    ln() is deliberately omitted because libm rounding differs between
    JVM and C engines while +,*,/ are IEEE-exact everywhere — the
    ranking is preserved (ln is monotone) and every engine computes the
    score bit-identically, which is what the oracle hash requires.

    Scale shape: token explode filters to the query terms BEFORE any
    shuffle, so tf/df aggregate over |docs containing a term|, not the
    corpus token stream; doc length rides the same explode (max() per
    group) so the whole query is two corpus scans (token stream +
    global N/avgdl aggregate); the per-term score join broadcasts the
    (|terms|-row) df table; the final top-k is a
    TakeOrderedAndProject, never a global sort.  Per-
    term scores are summed in fixed *terms* order (pivoted columns) so
    float addition order is engine-independent.

    Returns (doc_id, score) — the k highest, doc_id-tiebroken.
    """
    ws = F.split(F.col(text_col), " ")
    # dl rides a SEPARATE map-only branch joined onto the (term-filtered,
    # small) tf relation — NOT a column next to the explode: a
    # non-generator expression projected alongside explode() is
    # re-evaluated per output row, i.e. the split would run once per
    # token instead of once per doc (the Generate pitfall measured 29x
    # on ngram_contamination).
    base = docs.select(F.col(id_col), F.explode(ws).alias("tok"))
    dls = docs.select(F.col(id_col), F.size(ws).cast("long").alias("dl"))
    tf = (
        base.filter(F.col("tok").isin(*terms))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(dls, id_col)
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.select(F.size(ws).cast("long").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom)
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("tok") == t, F.col("s"))), F.lit(0.0)).alias(f"_s{i}")
        for i, t in enumerate(terms)
    ]
    pivoted = scored.groupBy(id_col).agg(*per_term)
    total = pivoted.select(
        F.col(id_col),
        sum((F.col(f"_s{i}") for i in range(1, len(terms))), F.col("_s0")).alias("score"),
    )
    return total.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filters):
    the fraction-of-repeated-content family used to drop boilerplate and
    degenerate generations from a training corpus.

    Emits per doc:

    - ``n_tokens`` — whitespace tokens (empties filtered);
    - ``distinct_token_ratio`` — |distinct| / n (low → repetitive);
    - ``top_token_share`` — share of the single most frequent token,
      computed MAP-ONLY as the longest run in the sorted token array
      (one O(n log n) ``sort_array`` + one linear fold — never the
      O(distinct x n) per-token recount, and no (doc, token) shuffle);
    - ``adjacent_repeat_ratio`` — immediately-repeated tokens / (n-1);
    - ``dup_bigram_ratio`` — 1 - |distinct bigrams| / |bigrams|.

    Everything is a per-row Catalyst expression: zero shuffles, zero
    Python, whole-stage codegen at scan speed — the right shape for a
    first-pass corpus filter at 100 TB."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n = F.size(ws)
    # longest run in the sorted array == count of the most frequent token
    run_init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def run_step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.best, run).alias("best")
        )

    top_cnt = F.aggregate(F.sort_array(ws), run_init, run_step).best
    # adjacent pairs via zip_with(ws, ws[2..]) — NOT element_at(ws, i)
    # over a position sequence: an array referenced inside a lambda is
    # re-evaluated per ELEMENT (the split would run n times per row,
    # O(n²) — measured 10x on this operator); zip_with/slice arguments
    # evaluate once per row
    tail = F.slice(ws, 2, F.greatest(n - F.lit(1), F.lit(0)))
    pairs = F.slice(
        F.zip_with(ws, tail, lambda x, y: F.struct(x.alias("a"), y.alias("b"))),
        1,
        F.greatest(n - F.lit(1), F.lit(0)),
    )
    adj = F.size(F.filter(pairs, lambda p: p.a == p.b))
    bigrams = F.transform(pairs, lambda p: F.concat_ws(" ", p.a, p.b))
    n_big = F.size(bigrams)
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, F.round(F.size(F.array_distinct(ws)) / n, 6))
        .otherwise(F.lit(0.0))
        .alias("distinct_token_ratio"),
        F.when(n > 0, F.round(top_cnt / n, 6)).otherwise(F.lit(0.0)).alias("top_token_share"),
        F.when(n >= 2, F.round(adj / (n - F.lit(1)), 6))
        .otherwise(F.lit(0.0))
        .alias("adjacent_repeat_ratio"),
        F.when(n >= 2, F.round(F.lit(1.0) - F.size(F.array_distinct(bigrams)) / n_big, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


#: PII-ish detector patterns — plain alternation-free regexes that parse
#: identically under Java regex (Spark) and RE2 (DuckDB).  Ordered: the
#: redaction applies them in this sequence, so an email is masked before
#: the digit-run pattern can match its numeric fragments.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("url", "https?://[^ ]+"),
    ("digit_run", "[0-9]{2,}"),
)


def pii_scan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
    mask: str = "<PII>",
) -> DataFrame:
    """PII detection + redaction over a text column — the scrubbing pass
    a training-data pipeline runs before anything else sees the text.

    Per pattern family (email / URL / long digit run by default) emits a
    match count ``n_<name>``, plus the fully redacted text (every match
    replaced by *mask*) and its length.  Counting and masking advance
    TOGETHER through the pattern list: pattern *i* is counted on the
    text with patterns 0..i-1 already masked, so an email's digits can
    never double-count as a digit run (``n_digit_run`` counts only runs
    that survive email/URL masking).  MAP-ONLY Catalyst regex — no
    shuffle, no Python; at 100 TB this runs at scan speed and composes
    into the corpus pipelines as a projection, exactly like
    ``quality_ok``.  Built as one select per pattern (count + next mask
    reference the prior stage's column once each) so each redaction
    regex evaluates once per row, not once per downstream count."""
    out = df.select(F.col(id_col), F.col(text_col).alias("__redacting"))
    for name, pat in patterns:
        out = out.select(
            *[F.col(c) for c in out.columns if c != "__redacting"],
            F.regexp_count(F.col("__redacting"), F.lit(pat))
            .cast("long")
            .alias(f"n_{name}"),
            F.regexp_replace(F.col("__redacting"), pat, mask).alias("__redacting"),
        )
    return out.select(
        *[F.col(c) for c in out.columns if c != "__redacting"],
        F.col("__redacting").alias("redacted"),
        F.length("__redacting").cast("long").alias("redacted_len"),
    )


def build_vocab(
    docs: DataFrame,
    text_col: str = "text",
    max_size: int = 1000,
    min_count: int = 1,
    single_stage_cap: int = 1_000_000,
    shards: int | None = None,
) -> DataFrame:
    """Vocabulary construction: global token counts → contiguous ids —
    the tokenizer-training front half of an LLM data pipeline.

    Whitespace tokens (empties filtered — leading/trailing/double spaces
    add no phantom tokens), counted corpus-wide, ranked by (count desc,
    token asc) for a deterministic id assignment, truncated to
    *max_size*.  Always one partial/final count shuffle over distinct
    tokens (vocab-sized, not corpus-sized, after the map-side combine);
    the ranking stage then depends on *max_size*:

    - ``max_size <= single_stage_cap`` — TakeOrderedAndProject for the
      cut plus one row_number over the ≤ *max_size* survivors.  The
      single-partition stage is bounded by *max_size*, never the
      corpus, so the guard is on the PARAMETER: no distinct-token
      pre-count can make it worse.
    - ``max_size > single_stage_cap`` — a 10M-term limit would turn
      both the top-K heap and the id window into one fat partition, so
      the ranking AUTO-SHARDS via ``operators.ranking.global_rank``:
      range-partition the counts on (cnt desc, token asc) into *shards*
      sorted shards (checkpointed once so both passes see identical
      partitioning), rank within each shard, then offset by the
      shard-count prefix sums (a *shards*-row driver aggregate).  Range partitioning totally
      orders the shards, so offset + local rank IS the global rank —
      the classic distributed global-rank, no single-partition stage
      anywhere.  Eager to the extent of the shards-row offsets collect.

    Both paths produce identical (token, cnt, vocab_id 1-based) rows —
    property-tested by forcing the sharded path on a small fixture."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).alias(
            "token"
        )
    )
    base = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    order = [F.col("cnt").desc(), F.col("token").asc()]
    if max_size <= single_stage_cap:
        counts = base.orderBy(*order).limit(max_size)
        w = Window.orderBy(*order)
        return counts.withColumn("vocab_id", F.row_number().over(w).cast("long"))

    from .ranking import global_rank

    ranked, _total = global_rank(base, order, rank_col="vocab_id", shards=shards)
    return ranked.filter(F.col("vocab_id") <= max_size).select(
        "token", "cnt", "vocab_id"
    )


def top_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 100,
) -> DataFrame:
    """Top-*k* word n-grams corpus-wide — LM-style co-occurrence counts.

    N-gram assembly is MAP-ONLY Catalyst (filtered whitespace split →
    transform over a position sequence → slice+join), the count shuffles
    once on the gram (map-side combined), and the cut is a
    TakeOrderedAndProject.  Docs shorter than *n* words contribute
    nothing (guarded — F.sequence would otherwise count DOWN for a
    negative span).  The token array is PROJECTED AS A COLUMN before the
    per-position transform: an array expression referenced inside a
    lambda re-evaluates per ELEMENT (the split ran once per POSITION
    per doc — O(n²) tokenization, the repetition_stats lesson; the
    projected column splits once per doc).  Returns (gram, cnt) ranked
    desc, gram-tiebroken."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    grams = F.when(
        F.size(F.col("ws")) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("ws")) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(F.col("ws"), i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(ws.alias("ws"))
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-*k* TF-IDF terms per document — the per-doc keyword/topic
    signal (feature extraction for clustering, labeling, routing).

    Score = tf × N/df with the LOG-FREE idf ratio (same rationale as
    ``bm25_topk``: ln() rounds differently across libm implementations
    while integer division is IEEE-exact everywhere, and ln is monotone
    so per-term ranking is unchanged; absolute scores are therefore on
    the N/df scale, not the ln(N/df) scale).

    Shape: one (doc, term) tf shuffle (map-side combined); df derives
    from tf by a term-keyed count whose output is vocabulary-sized and
    BROADCAST back; the per-doc top-k ranks inside a doc-partitioned
    window over each doc's distinct terms — never a global sort.
    Returns (id, term, tf, score, rnk), score desc / term-asc ties."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(F.col(id_col), "term", "tf", "score", "rnk")
    )


def hashed_vectorize(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
) -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer: each whitespace token
    increments dimension md5(token) % *dim* — the stateless,
    vocabulary-free text→vector bridge (no fitted vocab to ship, any
    engine reproduces it bit-exactly), feeding the embedding-side
    operators (centroids, LSH, k-means) from raw text.

    MAP-ONLY and single-pass: the per-token buckets are computed once
    into an array, then ONE fold builds the histogram by rebuilding a
    *dim*-slot accumulator per token (O(dim·n) slot copies — the fold
    accumulator is fold state, not a re-evaluated expression, so the
    in-lambda re-evaluation pitfall does not apply).  Returns
    (id, vec array<long>, l2_norm rounded 6dp)."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    bucket = lambda w: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"), F.lit(dim)
    )
    bks = F.transform(ws, bucket)
    init = F.array_repeat(F.lit(0).cast("long"), dim)
    hist = F.aggregate(
        bks,
        init,
        lambda acc, b: F.transform(
            acc, lambda x, i: F.when(i.cast("long") == b, x + 1).otherwise(x)
        ),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("vec"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).cast("double")
    )
    return docs.select(F.col(id_col), hist.alias("vec")).select(
        F.col(id_col), F.col("vec"), F.round(norm, 6).alias("l2_norm")
    )


# --- Gopher-style document quality rules (round 9) -------------------

#: Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models:
#: ... Gopher", Table A1 — public paper).  The synthetic corpus has no
#: newlines, so the bullet/ellipsis line rules are structurally pass-
#: through here, but the plumbing (line split, prefix/suffix tests) is
#: the real MassiveText filter shape and activates on real crawl text.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_BULLET_LINE_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.30
GOPHER_MAX_TOP_UNIGRAM_FRAC = 0.25


def gopher_rules(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document Gopher quality-rule battery → per-rule booleans,
    failure count, and a keep/drop verdict.

    Word-shape statistics (word count, mean word length, alphabetic-word
    fraction, stopword count, top-unigram fraction) come from ONE
    explode → (doc, word) count → per-doc aggregate chain — linear in
    corpus tokens with map-side combine, never the O(words²) per-row
    array scan that a lambda-only formulation costs on a 100k-word
    document.  Character/line signals (symbol ratio, bullet/ellipsis
    line fractions) are map-side column expressions on the doc relation;
    one doc-keyed join assembles the report.  All ratios are exact
    rationals rounded at 6dp — no transcendental, hash-stable across
    engines."""
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    words = docs.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).alias("w"),
    )
    per_word = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("k"))
    wstats = per_word.groupBy(id_col).agg(
        F.sum("k").cast("long").alias("n_words"),
        F.sum(F.length("w") * F.col("k")).cast("long").alias("n_word_chars"),
        F.sum(F.when(F.col("w").rlike("[a-zA-Z]"), F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_alpha_words"),
        F.sum(F.when(F.expr(f"w IN ({stop_arr})"), F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_stopwords"),
        F.max("k").cast("long").alias("top_unigram_k"),
    )
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda ln: ln.startswith("- ") | ln.startswith("* ") | ln.startswith("• "))
    )
    n_ellipsis = F.size(F.filter(lines, lambda ln: ln.endswith("...") | ln.endswith("…")))
    n_symbols = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), "#", ""))
        + (
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), "\\.\\.\\.", ""))
        )
        / F.lit(3)
    )
    cstats = docs.select(
        F.col(id_col),
        n_symbols.cast("double").alias("n_symbols"),
        n_lines.cast("long").alias("n_lines"),
        n_bullet.cast("long").alias("n_bullet_lines"),
        n_ellipsis.cast("long").alias("n_ellipsis_lines"),
    )
    j = wstats.join(cstats, id_col)
    mean_wl = F.col("n_word_chars") / F.col("n_words")
    r_wc = (F.col("n_words") >= GOPHER_MIN_WORDS) & (F.col("n_words") <= GOPHER_MAX_WORDS)
    r_mwl = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
    r_sym = (F.col("n_symbols") / F.col("n_words")) <= GOPHER_MAX_SYMBOL_RATIO
    r_alpha = (F.col("n_alpha_words") / F.col("n_words")) >= GOPHER_MIN_ALPHA_WORD_FRAC
    r_stop = F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS
    r_bullet = (F.col("n_bullet_lines") / F.col("n_lines")) <= GOPHER_MAX_BULLET_LINE_FRAC
    r_ell = (F.col("n_ellipsis_lines") / F.col("n_lines")) <= GOPHER_MAX_ELLIPSIS_LINE_FRAC
    r_top = (F.col("top_unigram_k") / F.col("n_words")) <= GOPHER_MAX_TOP_UNIGRAM_FRAC
    rules = {
        "rule_word_count": r_wc,
        "rule_mean_word_len": r_mwl,
        "rule_symbol_ratio": r_sym,
        "rule_alpha_words": r_alpha,
        "rule_stopwords": r_stop,
        "rule_bullet_lines": r_bullet,
        "rule_ellipsis_lines": r_ell,
        "rule_top_unigram": r_top,
    }
    n_failed = sum(
        (F.when(c, F.lit(0)).otherwise(F.lit(1)) for c in rules.values()),
        F.lit(0),
    )
    return j.select(
        F.col(id_col),
        F.col("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[c.alias(n) for n, c in rules.items()],
        n_failed.cast("long").alias("n_rules_failed"),
        F.when(n_failed == 0, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


# --- bigram-LM surprisal (round 9) ------------------------------------


def _remapped_doc_bigrams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int,
    unk: str,
) -> DataFrame:
    """Shared doc-bigram relation for the bigram-LM scorers: (id, prev,
    cur, k) counts with the *min_count* vocabulary cut applied (tokens
    below the cut remap to *unk*; ``min_count <= 1`` disables it).

    Shape: the doc→bigram explode feeds ONE (prev,cur,id) count shuffle;
    the raw relation is PINNED in the session frame cache as a lazy
    ``localCheckpoint`` (it feeds the rare-vocab derivation, the model
    build and the per-doc scoring — without the pin the corpus-scale
    explode+shuffle runs once per branch; ReusedExchange does not fire
    across the remap join's subtrees, measured).  Unigram counts for the
    cut come WITHOUT a second corpus pass: a token at position i of an
    n-token doc appears as `prev` iff i < n and is the doc-final token
    iff i = n, so c(w) = Σ k over rows with prev = w  +  #docs ending in
    w — one model-sized aggregate plus a one-row-per-doc finals
    scan.  The RARE set (the minimal carrier: only tokens the remap
    touches) is left-joined twice against the doc-distinct-bigram
    relation, never the raw token stream, with NO re-aggregation —
    downstream groupBys absorb collapsed duplicates exactly (sums over
    remapped keys are invariant to pre-grouping).  The remapped relation
    is pinned too (read by model build + scoring).  Size bound for both
    pins: ≤ one row per distinct (doc, prev, cur) triple, four narrow
    columns; the count shuffle compresses the bigram stream by
    construction.  Both pins are checkpoint blocks held by the block
    manager, which spills them to disk under memory pressure; they leave
    nothing in Spark's CacheManager.  Neither vocab relation is forced
    broadcast: on a raw crawl the hapax tail can exceed the broadcast
    budget, and AQE picks broadcast when it fits."""
    from .. import cache as _frame_cache

    # pin keys carry the INPUT plan's semantic hash (docs is a cheap
    # scan-shaped plan) plus every parameter that shapes the result —
    # hashing the OUTPUT plan meant rebuilding the whole bigram/remap
    # graph on every cache HIT just to compute the key (measured
    # ~0.35 s of driver time per warm perplexity query, round-11
    # optimization); construction now happens inside the build lambdas,
    # only on a miss.
    app = docs.sparkSession.sparkContext.applicationId
    in_key = (docs.semanticHash(), id_col, text_col)

    def build_doc_bg() -> DataFrame:
        ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        nn = docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), ws.alias("ws")
        )
        d = nn.where(F.size("ws") >= 2)
        bg = d.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS prev, ws[i] AS cur))"
                )
            ).alias("b"),
        ).select(id_col, F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
        return (
            bg.groupBy(id_col, "prev", "cur")
            .agg(F.count(F.lit(1)).alias("k"))
            # lazy localCheckpoint, not persist: the LM family builds
            # multi-branch plans over this relation, and persist left
            # every branch re-embedding (and the driver re-analyzing)
            # the corpus-explode lineage — checkpoint truncates it to a
            # model-sized LogicalRDD (r11 optimization)
            .localCheckpoint(eager=False)
        )

    doc_bg = _frame_cache.pin((app, "bigram_doc_bg", in_key), build_doc_bg)
    if min_count <= 1:
        return doc_bg

    def build_remapped() -> DataFrame:
        ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        nn = docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col), ws.alias("ws")
        )
        # vocab over ALL non-null docs (single-token docs included — the
        # vocabulary is a corpus property, not a bigram-stream one)
        prevs = doc_bg.groupBy(F.col("prev").alias("w")).agg(
            F.sum("k").cast("long").alias("c")
        )
        finals = (
            nn.select(F.element_at("ws", -1).alias("w"))
            .where(F.col("w").isNotNull())
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        rare = (
            prevs.unionByName(finals)
            .groupBy("w")
            .agg(F.sum("c").alias("c"))
            .where(F.col("c") < min_count)
            .select("w")
        )
        rp = rare.select(F.col("w").alias("prev"), F.lit(True).alias("__rp"))
        rc = rare.select(F.col("w").alias("cur"), F.lit(True).alias("__rc"))
        remapped = (
            doc_bg.join(rp, "prev", "left")
            .join(rc, "cur", "left")
            .select(
                F.col(id_col),
                F.when(F.col("__rp"), F.lit(unk)).otherwise(F.col("prev")).alias("prev"),
                F.when(F.col("__rc"), F.lit(unk)).otherwise(F.col("cur")).alias("cur"),
                F.col("k"),
            )
        )
        return remapped.localCheckpoint(eager=False)

    return _frame_cache.pin(
        (app, "bigram_doc_bg_remapped", in_key, min_count, unk), build_remapped
    )


def bigram_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    unk: str = "<unk>",
) -> DataFrame:
    """Per-document add-one-smoothed bigram-LM surprisal (CCNet-style
    perplexity quality signal) with EXACT cross-engine arithmetic.

    Model: p(cur|prev) = (c(prev,cur) + 1) / (c(prev) + V) trained on
    the corpus itself (V = successor vocabulary size) AFTER remapping
    every token whose corpus unigram count is below *min_count* to the
    *unk* symbol — the standard LM vocabulary cut.  Per-token surprisal
    in bits is log2(den) - log2(num) computed by the Q12 fixed-point
    integer log2 (functions/fixedpoint.py) — Spark, DuckDB, and the
    Python model produce the same integer, so the per-doc average is
    hash-exact without any libm call.

    The *min_count* remap is what BOUNDS the model relation on a real
    crawl (round-9 verdict #2: unpruned, distinct (prev,cur) grows with
    the live vocabulary — the steepest slope in the registry at 2.8×
    per 10× rows).  By Heaps'/Zipf's law the hapax tail is the majority
    of distinct types, so collapsing count-1 tokens to ``<unk>``
    collapses most distinct bigrams; vocabulary kept at count ≥ c is
    ≤ N/c types, so the model is min(N_bigrams, (N/c)²+…)-bounded and
    its growth decelerates as the corpus grows.  ``min_count <= 1``
    disables the remap (the round-9 unbounded semantics).

    Shape: one unigram-count shuffle builds the RARE relation (tokens
    below the cut — the minimal carrier: the join's build side holds
    only tokens the remap touches, so a clean corpus pays ~nothing);
    the doc→bigram explode feeds ONE (prev,cur) count shuffle, remapped
    by two left joins on the doc-distinct-bigram relation (never the
    raw token stream) with NO re-aggregation — the downstream
    groupBy(prev,cur) model build and the final per-doc sum absorb
    collapsed duplicates exactly (sums over remapped keys are invariant
    to pre-grouping); context counts and the two log2 chains run on the
    MODEL relation (distinct-remapped-bigram-sized), never the token
    stream; one (prev,cur)-keyed join scores the stream.  Output:
    doc_id, n_bigrams, avg_surprisal_bits (round 6), ppl_bucket
    head/middle/tail at 6/9 bits."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    doc_bg = _remapped_doc_bigrams(docs, id_col, text_col, min_count, unk)
    model = doc_bg.groupBy("prev", "cur").agg(F.sum("k").cast("long").alias("c_bg"))
    ctx = model.groupBy("prev").agg(F.sum("c_bg").cast("long").alias("c_ctx"))
    vdf = model.select("cur").distinct().agg(F.count(F.lit(1)).cast("long").alias("v"))
    m = (
        model.join(ctx, "prev")
        .crossJoin(F.broadcast(vdf))
        .withColumn("num", F.col("c_bg") + 1)
        .withColumn("den", F.col("c_ctx") + F.col("v"))
    )
    m = with_log2_q12(m, "num", "lg_num")
    m = with_log2_q12(m, "den", "lg_den")
    m = m.select("prev", "cur", (F.col("lg_den") - F.col("lg_num")).alias("surprisal_q12"))
    scored = doc_bg.join(m, ["prev", "cur"])
    out = scored.groupBy(id_col).agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        F.sum(F.col("k") * F.col("surprisal_q12")).cast("long").alias("s_q12"),
    )
    avg_bits = F.round(
        F.col("s_q12").cast("double") / F.col("n_bigrams") / F.lit(float(ONE_Q12)), 6
    )
    return out.select(
        F.col(id_col),
        F.col("n_bigrams"),
        avg_bits.alias("avg_surprisal_bits"),
        F.when(avg_bits < 6.0, F.lit("head"))
        .when(avg_bits < 9.0, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


#: int64 ceiling for the exact KN denominator 4·B·c_ctx (text below);
#: the narrow path raises past it, the wide path shifts to DECIMAL(38)
_KN_INT64_BOUND = (1 << 61) - 1


def _kn_guarded_den(b: F.Column, c_ctx: F.Column) -> F.Column:
    """den = 4·B·c_ctx with a LOUD int64-overflow guard (round-10
    verdict #4): with ANSI off Spark wraps silently, so a violated
    bound would corrupt every surprisal downstream with no signal.
    Safe iff c_ctx <= (2^61-1) div B (then 4·B·c_ctx <= 4·(2^61-1)
    < 2^63, and num <= den covers the numerator).  The product lives in
    the WHEN branch so it is only evaluated once the bound holds — an
    eager product would hit the ANSI overflow first and lose the
    actionable message (and with ANSI off would wrap with no error at
    all)."""
    ok = c_ctx <= F.expr(f"{_KN_INT64_BOUND} div b")
    return F.when(ok, 4 * b * c_ctx).otherwise(
        F.raise_error(
            F.lit(
                "kneser_ney_surprisal: B*c_ctx exceeds the exact int64 bound "
                "(2^61); rerun with wide=True for the DECIMAL(38) chain"
            )
        ).cast("long")
    )


def kneser_ney_surprisal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    unk: str = "<unk>",
    wide: bool = False,
) -> DataFrame:
    """Per-document interpolated Kneser-Ney bigram surprisal (Kneser &
    Ney 1995; the KenLM-default smoothing) with EXACT cross-engine
    arithmetic — the add-one sibling is ``bigram_surprisal``; KN is the
    signal practitioners actually rank corpora with, because add-one
    drastically over-smooths frequent contexts.

    Model (discount D = 3/4, the Chen-Goodman fixed discount):
      p(cur|prev) = max(c(prev,cur) − D, 0)/c(prev)
                    + (D·n1p(prev)/c(prev)) · n1pl(cur)/B
    where n1p(prev) = #distinct successors of prev, n1pl(cur) =
    #distinct predecessors of cur (the continuation count), B = total
    distinct bigrams.  With D = 3/4 the probability is the exact
    rational (max(4c−3,0)·B + 3·n1p·n1pl) / (4·B·c_ctx), so per-token
    surprisal is log2q(den) − log2q(num) in Q12 fixed point — both
    engines produce the same integer.  Σ_cur p = 1 exactly (the
    discount mass D·n1p re-enters through the continuation term).

    int64 validity bound, stated per the token_entropy convention: den
    = 4·B·c_ctx is exact while B·c_ctx < 2^61 (num ≤ den since p ≤ 1);
    at B = 2^30 distinct bigrams that allows the hottest context 2^31
    occurrences — safe for any sub-trillion-token corpus.  The bound is
    now ENFORCED: the narrow path raises through ``assert_true`` the
    moment any row violates it (silent int64 wrap would corrupt every
    surprisal downstream), and ``wide=True`` runs num/den through
    DECIMAL(38,0) and the wide Q12 log2 chain
    (functions/fixedpoint.with_log2_q12 ``wide=True``) — exact for
    B·c_ctx < 2^122, i.e. any physically storable crawl.  The wide
    function equals the narrow one on the shared domain, so both
    variants hash-match the same oracle at test scale.  The *min_count*
    cut (shared with bigram_surprisal via ``_remapped_doc_bigrams``,
    same pinned relations) keeps B itself sub-linear in corpus size.

    Shape: identical to bigram_surprisal — every KN statistic (c_ctx,
    n1p, n1pl, B) is one aggregate of the MODEL relation; the log2
    chains run on the model; one (prev,cur)-keyed join scores the
    stream."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    doc_bg = _remapped_doc_bigrams(docs, id_col, text_col, min_count, unk)
    model = doc_bg.groupBy("prev", "cur").agg(F.sum("k").cast("long").alias("c_bg"))
    ctx = model.groupBy("prev").agg(
        F.sum("c_bg").cast("long").alias("c_ctx"),
        F.count(F.lit(1)).cast("long").alias("n1p"),
    )
    cont = model.groupBy("cur").agg(F.count(F.lit(1)).cast("long").alias("n1pl"))
    btot = model.agg(F.count(F.lit(1)).cast("long").alias("b"))
    disc = F.greatest(4 * F.col("c_bg") - 3, F.lit(0).cast("long"))
    m = model.join(ctx, "prev").join(cont, "cur").crossJoin(F.broadcast(btot))
    if wide:
        # DECIMAL(38,0) num/den: every factor < 2^63 casts exactly to
        # DECIMAL(19,0); the products stay < 2^124 (wide-chain domain)
        d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
        m = m.withColumn(
            "num",
            (
                disc.cast("decimal(19,0)") * d19("b")
                + F.lit(3).cast("decimal(19,0)") * (d19("n1p") * d19("n1pl"))
            ).cast("decimal(38,0)"),
        ).withColumn(
            "den",
            (F.lit(4).cast("decimal(19,0)") * d19("b") * d19("c_ctx")).cast(
                "decimal(38,0)"
            ),
        )
    else:
        m = m.withColumn(
            "num", disc * F.col("b") + 3 * F.col("n1p") * F.col("n1pl")
        ).withColumn("den", _kn_guarded_den(F.col("b"), F.col("c_ctx")))
    m = with_log2_q12(m, "num", "lg_num", wide=wide)
    m = with_log2_q12(m, "den", "lg_den", wide=wide)
    m = m.select("prev", "cur", (F.col("lg_den") - F.col("lg_num")).alias("surprisal_q12"))
    scored = doc_bg.join(m, ["prev", "cur"])
    out = scored.groupBy(id_col).agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        F.sum(F.col("k") * F.col("surprisal_q12")).cast("long").alias("s_q12"),
    )
    avg_bits = F.round(
        F.col("s_q12").cast("double") / F.col("n_bigrams") / F.lit(float(ONE_Q12)), 6
    )
    return out.select(
        F.col(id_col),
        F.col("n_bigrams"),
        avg_bits.alias("avg_kn_bits"),
        F.when(avg_bits < 6.0, F.lit("head"))
        .when(avg_bits < 9.0, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("kn_bucket"),
    )


# --- exact information-theoretic scoring (round 9, second wave) -------
# All three reuse the Q12 fixed-point log2 (functions/fixedpoint.py) so
# entropy / importance / power-law numbers are bit-identical across
# engines — the property that makes them oracle-pairable at all.


def token_entropy(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document unigram entropy in bits (plus type-token ratio) —
    the classic repetitiveness/compressibility quality signal.

    H = log2(n) - (Σ k·log2(k)) / n over the doc's token counts,
    computed entirely in Q12 fixed point: the numerator
    n·log2q(n) - Σ k·log2q(k) is an exact integer, the final division
    is one deterministic IEEE op.  Bound: exact while
    n·log2q(n) < 2^63 — n < 2^45 tokens per document, far past any
    real document.  ONE explode → (doc, word) count shuffle; the log2
    chains are pure codegen integer arithmetic on the count relations."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    words = docs.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).alias("w"),
    )
    per_word = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).cast("long").alias("k"))
    per_word = with_log2_q12(per_word, "k", "lgk")
    per_doc = per_word.groupBy(id_col).agg(
        F.sum("k").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("k") * F.col("lgk")).cast("long").alias("sk"),
    )
    per_doc = with_log2_q12(per_doc, "n_tokens", "lgn")
    h = (
        (F.col("n_tokens") * F.col("lgn") - F.col("sk")).cast("double")
        / F.col("n_tokens")
        / F.lit(float(ONE_Q12))
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_types",
        F.round(h, 6).alias("entropy_bits"),
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias("type_token_ratio"),
    )


def dsir_weights(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public): score
    every document by how much more likely its hashed-unigram bag is
    under the TARGET distribution (docs passing *target_pred*) than
    under the RAW corpus distribution.

    log2-weight = Σ_tokens [log2 p̂_t(b) - log2 p̂_r(b)] with add-one
    smoothing over *n_buckets* hashed features, computed in Q12 fixed
    point so the weights are engine-exact; keep = weight > 1 (positive
    log).  The feature-count relation is *n_buckets*-bounded — the log2
    chains and the totals run on ≤1024 rows; the token stream is
    scored by one bucket-keyed join (broadcast-sized by construction)."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    # db feeds BOTH the bucket model and the per-doc scoring — a lazy
    # checkpoint runs the token explode + count shuffle once per call.
    # Size bound: ≤ min(doc_tokens, n_buckets) rows per document, three
    # int columns — the bucketing compresses the token stream by
    # construction.
    toks = docs.select(
        F.col(id_col),
        target_pred.alias("__is_t"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).alias("w"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )
    db = (
        toks.select(F.col(id_col), F.col("__is_t"), bucket.alias("b"))
        .groupBy(id_col, "__is_t", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .localCheckpoint(eager=False)
    )
    feats = db.groupBy("b").agg(
        F.sum(F.when(F.col("__is_t"), F.col("k")).otherwise(0)).cast("long").alias("c_t"),
        F.sum("k").cast("long").alias("c_r"),
    )
    totals = feats.agg(
        (F.sum("c_t") + n_buckets).cast("long").alias("den_t"),
        (F.sum("c_r") + n_buckets).cast("long").alias("den_r"),
    )
    m = feats.withColumn("num_t", F.col("c_t") + 1).withColumn("num_r", F.col("c_r") + 1)
    m = with_log2_q12(m, "num_t", "lg_t")
    m = with_log2_q12(m, "num_r", "lg_r")
    m = m.select("b", (F.col("lg_t") - F.col("lg_r")).alias("w_part"))
    t = totals
    t = with_log2_q12(t, "den_t", "lg_dt")
    t = with_log2_q12(t, "den_r", "lg_dr")
    t = t.select((F.col("lg_dt") - F.col("lg_dr")).alias("w_den"))
    # join db directly — a doc's __is_t is constant, so grouping by the
    # id alone already sums its (b, k) rows exactly once
    scored = (
        db.join(F.broadcast(m), "b")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.sum(F.col("k") * F.col("w_part")).cast("long").alias("s_q12"),
        )
        .crossJoin(F.broadcast(t))
    )
    lw = (
        (F.col("s_q12") - F.col("n_tokens") * F.col("w_den")).cast("double")
        / F.lit(float(ONE_Q12))
    )
    return scored.select(
        F.col(id_col),
        "n_tokens",
        F.round(lw, 6).alias("log2_weight_bits"),
        (lw > 0.0).alias("resample_keep"),
    )


def zipf_fit(
    docs: DataFrame, max_terms: int = 1000, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Zipf power-law fit over the top-*max_terms* vocabulary: OLS of
    log2(freq) on log2(rank) — slope ≈ -1 on natural language, and a
    drifting slope is a cheap corpus-shift alarm.

    x = log2q(rank), y = log2q(cnt) in Q12; the OLS sums are exact
    int64 (bounds: n ≤ 1000, x < 2^16, y < 2^18 ⇒ n·Σxy < 2^55), so
    slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²) is one deterministic double
    division.  Runs on the vocab relation (post-LIMIT ≤ max_terms
    rows); the corpus-scale work is the one token-count shuffle
    inside ``build_vocab``."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    vocab = build_vocab(docs, text_col=text_col, max_size=max_terms)
    v = with_log2_q12(vocab.select("vocab_id", "cnt"), "vocab_id", "x")
    v = with_log2_q12(v, "cnt", "y")
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    intercept_bits = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n")
        / F.lit(float(ONE_Q12))
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept_bits, 6).alias("intercept_bits"),
    )


def _source_word_counts(
    docs: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Shared (src, w, c_sw) model relation for the per-source
    information-theoretic family (KL / JS / MI / Heaps): ONE corpus
    token explode + (source, word) count shuffle, pinned in the session
    frame cache so (a) a query's own multi-consumer branches read the
    materialized blocks instead of re-running the explode (measured 3×
    re-execution in the JS query before its round-11 pin), and (b) all
    four family members share the build within a session.  Size bound:
    Σ_s |V_s| rows — vocabulary-bounded, ≪ corpus scale.  Keyed on the
    INPUT plan hash + params (the _remapped_doc_bigrams discipline):
    construction happens inside the build lambda, only on a miss."""
    from .. import cache as _frame_cache

    app = docs.sparkSession.sparkContext.applicationId

    def build() -> DataFrame:
        words = docs.where(F.col(text_col).isNotNull()).select(
            F.coalesce(F.col(group_col), F.lit("")).alias("src"),
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
            ).alias("w"),
        )
        return (
            words.groupBy("src", "w")
            .agg(F.count(F.lit(1)).cast("long").alias("c_sw"))
            .localCheckpoint(eager=False)
        )

    return _frame_cache.pin(
        (app, "source_sw", docs.semanticHash(), group_col, text_col), build
    )


def source_unigram_kl(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source KL divergence (in bits) of the source's add-one-
    smoothed unigram distribution from the CORPUS distribution — the
    information-theoretic upgrade of the chi-square token drift
    (token_drift_chisq predates functions/fixedpoint.py; with the exact
    integer log2 the honest KL is now oracle-pairable).  The highest-KL
    source is the one whose language diverges most from the mix — the
    first thing a curator checks when a new feed lands.

    Model: over the GLOBAL vocab V, p_s(w) = (c_sw+1)/(n_s+|V|) and
    p_c(w) = (c_w+1)/(N+|V|).  KL(s‖c) = Σ_w p_s(w)·[lg p_s − lg p_c].
    Words ABSENT from the source contribute through the closed form
      (|V|−|V_s|)·(lg(N+|V|) − lg(n_s+|V|)) − (S_all − Σ_present lg(c_w+1))
    with S_all = Σ_w lg(c_w+1) — so nothing beyond the PRESENT
    (source, word) relation is ever materialized.  Every term is an
    int64 Q12 product (bound: Σ (c+1)·lg ≤ N·(lg_max+1)·4096 — exact
    past 2^40 tokens); ONE deterministic double division at the end.

    Shape: one (source, word) count shuffle builds the model relation
    (Σ_s |V_s|-bounded); corpus counts derive from it by a word-keyed
    aggregate; the log2 chains run on those model relations; |V|, N,
    S_all are broadcast single-row scalars.  Never a token-stream
    rescan."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    sw = _source_word_counts(docs, group_col, text_col)
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    cw = with_log2_q12(cw.withColumn("c_w1", F.col("c_w") + 1), "c_w1", "lg_cw")
    scalars = cw.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c_w").cast("long").alias("n_total"),
        F.sum("lg_cw").cast("long").alias("s_all"),
    )
    sw = with_log2_q12(sw.withColumn("c_sw1", F.col("c_sw") + 1), "c_sw1", "lg_csw")
    present = (
        sw.join(cw.select("w", "lg_cw"), "w")
        .groupBy("src")
        .agg(
            F.sum("c_sw").cast("long").alias("n_s"),
            F.count(F.lit(1)).cast("long").alias("v_s"),
            F.sum(F.col("c_sw1") * F.col("lg_csw")).cast("long").alias("a_self"),
            F.sum("c_sw1").cast("long").alias("c1_sum"),
            F.sum(F.col("c_sw1") * F.col("lg_cw")).cast("long").alias("a_corpus"),
            F.sum("lg_cw").cast("long").alias("lg_cw_present"),
        )
        .crossJoin(F.broadcast(scalars))
    )
    present = with_log2_q12(
        present.withColumn("ns_v", F.col("n_s") + F.col("v")), "ns_v", "lg_nsv"
    )
    present = with_log2_q12(
        present.withColumn("n_v", F.col("n_total") + F.col("v")), "n_v", "lg_nv"
    )
    gap = F.col("lg_nv") - F.col("lg_nsv")  # lg(N+V) - lg(n_s+V), Q12
    acc = (
        F.col("a_self")
        + F.col("c1_sum") * gap
        - F.col("a_corpus")
        + (F.col("v") - F.col("v_s")) * gap
        - (F.col("s_all") - F.col("lg_cw_present"))
    )
    kl = acc.cast("double") / F.col("ns_v") / F.lit(float(ONE_Q12))
    return present.select(
        F.col("src").alias("source"),
        F.col("n_s").alias("n_tokens"),
        F.col("v_s").alias("n_types"),
        F.round(kl, 6).alias("kl_bits"),
    )


def source_unigram_js(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus unigram
    mix, in exact Q12 bits — the SYMMETRIC, BOUNDED ([0,1] with log2)
    companion to ``source_unigram_kl``: JS is the divergence curators
    actually threshold on, because it never explodes on disjoint
    support and needs NO smoothing (the 0·lg 0 = 0 convention is part
    of its definition).

    Model: P_s(w) = c_sw/n_s, Q(w) = c_w/N (unsmoothed), M = (P+Q)/2,
    JS = ½KL(P‖M) + ½KL(Q‖M).  Both KL halves ride the PRESENT
    (source, word) relation alone:
      lg P − lg M = lg c_sw + lg 2N  − lg(c_sw·N + c_w·n_s)
      lg Q − lg M = lg c_w  + lg 2n_s − lg(c_sw·N + c_w·n_s)
    and for words ABSENT from the source M = Q/2 exactly, so that
    side's tail is the closed form (N − m_s)/N with m_s = Σ_present
    c_w — the |V|×|sources| cross product never materializes (the KL
    discipline).  The mid numerator c_sw·N + c_w·n_s reaches 2^90 on a
    large corpus, so its log2 runs through the DECIMAL(38) WIDE chain
    (functions/fixedpoint, round-10 verdict #4) — this operator is the
    wide path's second production consumer.  Q12 sums are int64-exact
    while N < 2^43 tokens (stated per the family convention); ONE
    deterministic double combination at the end.

    Shape: one (source, word) count shuffle; corpus counts derive from
    it word-keyed; the three log2 chains run on the present relation;
    N and lg(2N) are broadcast scalars.  Never a token-stream rescan —
    the (source, word) relation is PINNED in the session frame cache
    (it feeds the corpus marginal, the per-source marginal, the mid
    join, and the final report join; without the pin the corpus-scale
    explode+count re-executes once per reference — the
    _remapped_doc_bigrams discipline; pin size = the model relation,
    Σ_s |V_s| rows)."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    sw = _source_word_counts(docs, group_col, text_col)
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("long").alias("c_w"))
    tot = cw.agg(F.sum("c_w").cast("long").alias("n_total"))
    tot = with_log2_q12(tot.withColumn("n2", 2 * F.col("n_total")), "n2", "lg_2n")
    ns = sw.groupBy("src").agg(
        F.sum("c_sw").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("v_s"),
    )
    ns = with_log2_q12(ns.withColumn("ns2", 2 * F.col("n_s")), "ns2", "lg_2ns")
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    rel = (
        sw.join(cw, "w")
        .join(ns.select("src", "n_s"), "src")
        .crossJoin(F.broadcast(tot.select("n_total")))
        .withColumn(
            "mid",
            (d19("c_sw") * d19("n_total") + d19("c_w") * d19("n_s")).cast(
                "decimal(38,0)"
            ),
        )
    )
    rel = with_log2_q12(rel, "c_sw", "lg_p")
    rel = with_log2_q12(rel, "c_w", "lg_q")
    rel = with_log2_q12(rel, "mid", "lg_mid", wide=True)
    agg = rel.groupBy("src").agg(
        F.sum(F.col("c_sw") * (F.col("lg_p") - F.col("lg_mid")))
        .cast("long")
        .alias("a_p"),
        F.sum(F.col("c_w") * (F.col("lg_q") - F.col("lg_mid")))
        .cast("long")
        .alias("a_q"),
        F.sum("c_w").cast("long").alias("m_s"),
    )
    out = (
        agg.join(ns.select("src", "n_s", "v_s", "lg_2ns"), "src")
        .crossJoin(F.broadcast(tot.select("n_total", "lg_2n")))
    )
    kl_p = (F.col("a_p") + F.col("n_s") * F.col("lg_2n")).cast("double") / F.col("n_s")
    kl_q = (F.col("a_q") + F.col("m_s") * F.col("lg_2ns")).cast("double") / F.col(
        "n_total"
    )
    js = (
        (kl_p + kl_q) / F.lit(float(ONE_Q12))
        + (F.col("n_total") - F.col("m_s")).cast("double") / F.col("n_total")
    ) * F.lit(0.5)
    return out.select(
        F.col("src").alias("source"),
        F.col("n_s").alias("n_tokens"),
        F.col("v_s").alias("n_types"),
        F.round(js, 6).alias("js_bits"),
    )


def source_vocab_mi(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Mutual information between SOURCE and VOCABULARY in exact Q12
    bits, via the entropy decomposition MI = H(S) + H(W) − H(S,W) —
    one number for "how source-specific is the language", the
    companion diagnostic to the per-source KL (high MI = sources speak
    different vocabularies; MI ≈ 0 = the mix is homogeneous and
    per-source curation buys little).

    The decomposition makes every term a SUM OVER ITS OWN RELATION —
    A = Σ c_sw·lg(c_sw) on the (source, word) counts, B = Σ n_s·lg(n_s)
    on the per-source totals, C = Σ c_w·lg(c_w) on the per-word totals,
    D = N·lg(N) on the scalar — so NO chain output ever joins another
    relation: MI·N·2^12 = A − B − C + D exactly, H(source)·N·2^12 =
    D − B, and the uncertainty coefficient U = MI/H(source) is one
    double division (NULL for a single-source corpus).  All products
    int64-exact past 2^45 tokens (the token_entropy bound).

    Shape: ONE (source, word) count shuffle; the three marginal
    relations derive from it; log2 chains run on count relations only;
    output is a single row."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    sw = _source_word_counts(docs, group_col, text_col).withColumnRenamed("c_sw", "c")
    a = with_log2_q12(sw, "c", "lg").agg(
        F.sum(F.col("c") * F.col("lg")).cast("long").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    per_s = sw.groupBy("src").agg(F.sum("c").cast("long").alias("n_s"))
    b = with_log2_q12(per_s, "n_s", "lg").agg(
        F.sum(F.col("n_s") * F.col("lg")).cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    per_w = sw.groupBy("w").agg(F.sum("c").cast("long").alias("c_w"))
    c = with_log2_q12(per_w, "c_w", "lg").agg(
        F.sum(F.col("c_w") * F.col("lg")).cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c_w").cast("long").alias("n_tokens"),
    )
    j = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
    j = with_log2_q12(j, "n_tokens", "lg_n")
    d = F.col("n_tokens") * F.col("lg_n")
    mi = (F.col("a") - F.col("b") - F.col("c") + d).cast("double") / F.col(
        "n_tokens"
    ) / F.lit(float(ONE_Q12))
    h_s = (d - F.col("b")).cast("double") / F.col("n_tokens") / F.lit(float(ONE_Q12))
    return j.select(
        "n_sources",
        "n_types",
        "n_tokens",
        F.round(mi, 6).alias("mi_bits"),
        F.round(h_s, 6).alias("h_source_bits"),
        F.when(
            (d - F.col("b")) > 0, F.round(mi / h_s, 6)
        ).alias("uncertainty_coef"),
    )


def heaps_law_fit(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law fit ACROSS sources: OLS of log2(distinct types) on
    log2(tokens), one (n_s, v_s) point per source — estimates the
    vocabulary-growth exponent β in V ≈ K·N^β (≈0.4–0.6 on natural
    text).  β is the measured input to the bigram-model bound (SCALE.md
    "Bigram-LM model bound"): sub-linear vocabulary growth is WHY the
    min-count cut keeps the LM model relation sub-linear in corpus
    size; a drifting β is also a synthetic-data / template-flood alarm.

    x = lg_q12(n_s), y = lg_q12(v_s); OLS sums exact int64 (points =
    sources, x,y < 2^18 ⇒ n·Σxy ≪ 2^63); slope and the K intercept
    are two deterministic double divisions (NULL when fewer than two
    distinct x — the zipf_fit degenerate-guard convention).  ONE
    (source, word) count shuffle; everything else runs on the
    strata-sized relation."""
    from ..functions.fixedpoint import ONE_Q12, with_log2_q12

    per_s = (
        _source_word_counts(docs, group_col, text_col)
        .groupBy("src")
        .agg(
            F.sum("c_sw").cast("long").alias("n_s"),
            F.count(F.lit(1)).cast("long").alias("v_s"),
        )
    )
    p = with_log2_q12(per_s, "n_s", "x")
    p = with_log2_q12(p, "v_s", "y")
    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    det = F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / det.cast("double")
    intercept_bits = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n_points")
        / F.lit(float(ONE_Q12))
    )
    return s.select(
        "n_points",
        F.when(det > 0, F.round(slope, 6)).alias("heaps_beta"),
        F.when(det > 0, F.round(intercept_bits, 6)).alias("intercept_bits"),
    )
