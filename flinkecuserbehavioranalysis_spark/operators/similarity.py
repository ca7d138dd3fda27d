"""Vector similarity search over embedding columns (extension).

Embeddings are ``array<float>`` columns; all math is JVM-side Catalyst
(``zip_with`` + ``aggregate`` higher-order functions — whole-stage
codegen, no Python in the hot path).  Cosines are rounded to 6 dp at the
output boundary so cross-engine comparisons (and rank ties) are stable.

Every float cosine is one expression, ``_cos``: round(dot / (norm·norm),
6), each norm computed once per vector (``_with_vec``).  The six top-k
variants — float, int8 and PQ/ADC scoring, each as a flat scan or over
an IVF index — share three stages:

- one query frame (``_query_frame``): one row per query id;
- one IVF probe step (``_probes``): each query's *nprobe* nearest
  cells, ordered (s_cos desc, cell);
- one self-filter and rank tail (``_topk``), (cos desc, neighbor_id).

A variant supplies only its candidate source — a flat broadcast scan of
the corpus (exact: the baseline and the verifier for the approximate
variants), or IVF postings (``build_ivf_index``) joined to the probes
on the cell id — and its scorer: the corpus-side columns, the
query-side columns and the cosine over them (float, int8 or PQ/ADC).
Near-duplicate pairs restrict candidates to a coarse bucket
(``bucketed_neardup_pairs``) or to SRP-LSH bands (``cosine_lsh_pairs``):
the join shuffles on the bucket id → linear-ish in corpus + intra-bucket
pairs, the only shape that survives 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _expand_rep_pairs, _member_edges


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _drop_null_vec(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude rows whose vector is NULL or contains a non-finite component.

    A NULL embedding cannot participate in any similarity computation
    (its dot product is undefined), and a NaN/±Inf component poisons
    every distance it touches (NaN propagates through the fold; 1e308²
    overflows to Inf) — at corpus scale a single corrupt feature row
    would crash quantization casts or silently reorder every top-k it
    reaches.  Components must also be *sane*: |x| ≤ 1e6 (orders of
    magnitude beyond any normalized-embedding scale) so squares and
    decimal-stable moment sums stay inside DECIMAL(28,12)'s domain —
    a finite-but-astronomic 1e308 component is corrupt data, not a
    feature.  Every vector operator therefore excludes such rows by
    contract — the same ``embedding IS NOT NULL AND <all components
    finite and sane>`` guard the SQL oracles carry.  A no-op on clean
    data."""
    c = F.col(vec_col).cast("array<double>")
    all_finite = F.forall(
        c, lambda x: x.isNotNull() & ~F.isnan(x) & (F.abs(x) <= F.lit(1e6))
    )
    return df.where(F.col(vec_col).isNotNull() & all_finite)


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic summation order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _with_vec(df: DataFrame, vec_col: str, p: str, *cols: str | Column) -> DataFrame:
    """*cols* plus the vector as doubles (``{p}_vec``) and its norm
    (``{p}_norm``).  Norms are computed per vector, not per pair — at
    corpus scale the pair count dwarfs the vector count, so this is a
    3x flop reduction (sqrt(dot(x,x)) is the same double either way)."""
    v = F.col(f"{p}_vec")
    return df.select(*cols, _as_double(vec_col).alias(f"{p}_vec")).withColumn(
        f"{p}_norm", F.sqrt(dot(v, v))
    )


def _cos(a: str | Column, b: str | Column) -> Column:
    """The one float cosine, round(dot / (norm·norm), 6), between two
    sides: a column prefix ``p`` (``p_vec``, ``p_norm`` — see
    ``_with_vec``) or a packed codebook entry (its ``s_vec``, ``s_norm``
    fields)."""
    (av, an), (bv, bn) = (
        (F.col(f"{x}_vec"), F.col(f"{x}_norm")) if isinstance(x, str) else (x.s_vec, x.s_norm)
        for x in (a, b)
    )
    return F.round(dot(av, bv) / (an * bn), 6)


def _query_frame(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    """The query frame every top-k variant starts from: (q_id, q_vec,
    q_norm), ONE row per query id.  A repeated query id is one query: a
    repeat neither returns a neighbor twice nor takes a probe slot.
    When the repeats carry different vectors, the smallest vector (array
    order) wins — a rule on values, so partitioning never changes which
    row survives."""
    q = (
        _drop_null_vec(queries, vec_col)
        .groupBy(F.col(query_id_col).alias("q_id"))
        .agg(F.min(_as_double(vec_col)).alias("__v"))
    )
    return _with_vec(q, "__v", "q", "q_id")


def _rank(scored: DataFrame, k: int, part: str = "q_id", tie: str = "neighbor_id") -> DataFrame:
    """The rank tail: the top *k* rows per *part* by (cos desc, *tie*),
    numbered ``rnk``."""
    w = Window.partitionBy(part).orderBy(F.col("cos").desc(), F.col(tie).asc())
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def _probes(q: DataFrame, seeds: DataFrame, nprobe: int) -> DataFrame:
    """The IVF probe step: every column of the query frame *q* plus
    ``cell``, one row for each of the query's *nprobe* nearest cells of
    the codebook *seeds*, ranked (s_cos desc, cell) — explode + rank,
    but only over the (small) query set."""
    wq = Window.partitionBy("q_id").orderBy(F.col("s_cos").desc(), F.col("cell").asc())
    return (
        q.crossJoin(F.broadcast(seeds))
        .select(*q.columns, F.col("seed_id").alias("cell"), _cos("q", "s").alias("s_cos"))
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .drop("s_cos", "__r")
    )


def _topk(cands: DataFrame, cos: Column, k: int, dedup: bool = False) -> DataFrame:
    """The self-filter and rank tail of every top-k variant: *cands*
    pairs a query (``q_id`` and the scorer's query-side columns) with a
    candidate (``neighbor_id`` and its corpus-side columns), and *cos*
    scores the pair.  *dedup* drops the second copy of a neighbor
    indexed under two probed cells (same cosine) before ranking.
    Returns (q_id, neighbor_id, cos, rnk)."""
    scored = cands.filter(F.col("neighbor_id") != F.col("q_id")).select(
        "q_id", "neighbor_id", cos.alias("cos")
    )
    if dedup:
        scored = scored.dropDuplicates(["q_id", "neighbor_id"])
    return _rank(scored, k)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    *queries* should be small (it is broadcast); the corpus scan is
    embarrassingly parallel.  Returns (q_id, neighbor_id, cos) ranked
    desc with neighbor_id tiebreak; self-matches excluded."""
    corpus = _with_vec(
        _drop_null_vec(vectors, vec_col), vec_col, "v", F.col(id_col).alias("neighbor_id")
    )
    q = _query_frame(queries, query_id_col, vec_col)
    return _topk(corpus.crossJoin(F.broadcast(q)), _cos("q", "v"), k)


def bucketed_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    threshold: float = 0.35,
    max_bucket: int | None = 32,
) -> DataFrame:
    """IVF-style near-duplicate pairs: cosine ≥ *threshold* within a
    coarse bucket.  Returns (vec_a, vec_b, bucket, cos), vec_a < vec_b.

    The equi-join on the bucket id is the scale lever: all-pairs cosine
    is O(n²); bucketed is Σ_b |b|² with |b| ≪ n.  But one fat bucket —
    the common case for cluster labels on web data — makes |b|² itself
    the bottleneck, so *max_bucket* sub-buckets any bucket above the
    cap: a bucket of size s splits into ceil(s/max_bucket) deterministic
    md5(vec_id) sub-buckets and pairs form only within a sub-bucket,
    bounding join cost at Σ_b |b|·max_bucket (linear in corpus for fixed
    cap) — the df_max discipline of ``ngram_jaccard_pairs``.  Cross-
    sub-bucket pairs are sacrificed (recall, not precision): every
    emitted pair is still an exact cosine ≥ threshold; when the cap
    binds, some qualifying pairs are not emitted.  The per-bucket count
    pass is one map-side-combinable aggregation broadcast back — no
    extra shuffle of the vectors.  ``max_bucket=None`` disables the cap
    (exact within-bucket semantics).  Recall is bounded by bucket
    quality either way — pair with a multi-probe assignment for higher
    recall at the same cost shape."""
    vectors = _drop_null_vec(vectors, vec_col)
    from .sampling import hash_bucket

    base = vectors
    if max_bucket is not None:
        n_sub = (
            vectors.groupBy(bucket_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .select(bucket_col, F.ceil(F.col("__n") / max_bucket).cast("long").alias("__n_sub"))
        )
        base = vectors.join(F.broadcast(n_sub), bucket_col).withColumn(
            "__sub", hash_bucket(id_col, F.col("__n_sub"))
        )
    else:
        base = vectors.withColumn("__sub", F.lit(0).cast("long"))

    def side(tag: str) -> DataFrame:
        return _with_vec(
            base,
            vec_col,
            tag,
            F.col(id_col).alias(f"vec_{tag}"),
            F.col(bucket_col).alias(f"bucket_{tag}"),
            F.col("__sub").alias(f"sub_{tag}"),
        )

    a, b = side("a"), side("b")
    return (
        a.join(
            b,
            (F.col("bucket_a") == F.col("bucket_b"))
            & (F.col("sub_a") == F.col("sub_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", F.col("bucket_a").alias("bucket"), _cos("a", "b").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def rademacher_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix from md5 parity.

    Component (p, d) is +1 when the first hex digit of md5("p_d") is
    0-7, else -1 — reproducible in any engine with md5 (the oracle
    derives the identical matrix in SQL), no RNG state to ship."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] in "01234567"
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def collapse_exact_vectors(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact-duplicate collapse — the mandatory step BEFORE any pairwise
    near-dup machinery at corpus scale: group byte-identical vectors and
    map every member to its group representative (the min id).  Returns
    (id_col, __rep) covering every valid vector; distinct reps are the
    collapsed working set.

    Why this exists (measured, skew tier at sf0.1): a duplicate flood —
    10% of vectors byte-identical — is a CLIQUE in the near-dup graph,
    so signatures, banded candidates, exact-cosine verification, and
    component iterations all scale with |group|² if run on members.  At
    100 TB a million-copy boilerplate group is ~5·10¹¹ pairs — fatal.
    Collapsed, the group costs ONE signature and zero verifies; members
    reconnect through their representative (linear edges, identical
    components).  One shuffle on the vector value."""
    v = _drop_null_vec(vectors, vec_col)
    return v.select(
        F.col(id_col),
        F.min(id_col).over(Window.partitionBy(F.col(vec_col))).alias("__rep"),
    )


def _srp_rep_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """SRP-LSH verified pairs over an already-exact-collapsed vector set
    (every vector distinct) — the engine under ``cosine_lsh_pairs``.
    Returns (vec_a, vec_b, cos), vec_a < vec_b, cos ≥ *threshold* exact.

    Construction (SRP-LSH, Charikar's sim-hash for angles): *n_planes*
    deterministic ±1 hyperplanes (``rademacher_planes``); bit_p(v) =
    [v·h_p ≥ 0].  P[bit equal] = 1 − θ/π, so banding *n_planes* bits
    into *bands* bands of r = n_planes/bands rows gives candidate
    probability 1 − (1 − (1−θ/π)^r)^bands — steep in cosine: ≈ 0.97
    at cos 0.9, ≈ 0.23 for orthogonal pairs at the 32/8 default.
    Candidates are then verified with EXACT cosine, so precision is 1
    (every emitted pair truly clears *threshold*); banding only bounds
    recall, measured in tests/test_scale_utilities.py.

    Scale shape (the point): signatures are MAP-ONLY — the plane matrix
    rides along as one broadcast-literal array-of-arrays and each vector
    folds over it.  Components are quantized ONCE per vector to
    round(x·10⁶) longs, so every projection is pure 64-bit integer
    arithmetic: exact, summation-order independent, engine-identical
    sign bits.  The banded self-join shuffles only (id, band_idx,
    band_key) rows — never the vectors, never all-pairs — and the
    exact-cosine verify joins the (candidate-count-sized) pair list back
    to the vectors on id."""
    vectors = _drop_null_vec(vectors, vec_col)
    if n_planes % bands:
        raise ValueError(f"bands ({bands}) must divide n_planes ({n_planes})")
    r = n_planes // bands
    planes = rademacher_planes(n_planes, dim)
    planes_lit = F.array(*[F.array(*[F.lit(int(s)) for s in row]) for row in planes])
    qv = F.transform(
        F.col("__v"), lambda x: F.round(x * F.lit(1000000.0)).cast("long")
    )
    bits = F.transform(
        planes_lit,
        lambda pl: (
            F.aggregate(
                F.zip_with(F.col("__q"), pl, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0
        )
        .cast("int")
        .cast("string"),
    )
    sig = (
        vectors.select(F.col(id_col), _as_double(vec_col).alias("__v"))
        .select(F.col(id_col), qv.alias("__q"))
        .select(
            F.col(id_col),
            *[
                F.array_join(F.slice(bits, b * r + 1, r), "").alias(f"k{b}")
                for b in range(bands)
            ],
        )
    )
    stack_args = ", ".join(f"{b}, k{b}" for b in range(bands))
    long = sig.select(
        F.col(id_col), F.expr(f"stack({bands}, {stack_args}) as (band_idx, band_key)")
    )
    a, b = long.alias("a"), long.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b")
        )
        .distinct()
    )

    def side(tag: str) -> DataFrame:
        return _with_vec(vectors, vec_col, tag, F.col(id_col).alias(f"vec_{tag}"))

    return (
        cand.join(side("a"), "vec_a")
        .join(side("b"), "vec_b")
        .select("vec_a", "vec_b", _cos("a", "b").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def cosine_lsh_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via exact-collapse + SRP-LSH
    — the data-independent scale path.  Returns (vec_a, vec_b, cos),
    vec_a < vec_b, cos ≥ *threshold* exact — the full member-level pair
    list, identical to running SRP directly on every vector (identical
    vectors share every band, so intra-group candidates were always
    found; their cosine is exactly 1.0 at the 6 dp contract).

    Exact duplicates are collapsed FIRST (``collapse_exact_vectors``):
    signatures, banded candidates, and exact-cosine verification run
    only on DISTINCT vectors, then the pair list expands back through
    the membership map — inter-group pairs inherit their
    representatives' verified cosine, intra-group pairs are emitted at
    cos 1.0 with zero vector math.  A duplicate flood therefore costs
    the expansion join (output-sized, unavoidable for a pair-list
    interface) instead of |group|² signature+verify work; callers that
    only need CONNECTIVITY should use ``cosine_lsh_dedup_edges`` and
    never materialize the clique at all."""
    members = collapse_exact_vectors(vectors, id_col, vec_col)
    reps = vectors.join(
        members.where(F.col(id_col) == F.col("__rep")).select(id_col), id_col
    )
    rep_pairs = _srp_rep_pairs(reps, id_col, vec_col, dim, n_planes, bands, threshold)
    return _expand_rep_pairs(rep_pairs, members, id_col, "vec_a", "vec_b", "cos")


def cosine_lsh_dedup_edges(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Connectivity edges (vec_a, vec_b) for near-dup COMPONENTS without
    ever materializing duplicate cliques: verified representative pairs
    plus one member→representative edge per exact duplicate — linear in
    members where the pair list is quadratic in duplicate-group size,
    with identical connected components (every group member connects
    through its representative, and the representative IS the group min,
    so component min-labels are unchanged).  This is the 100 TB-safe
    input for ``canonicalize_duplicates``."""
    members = collapse_exact_vectors(vectors, id_col, vec_col)
    reps = vectors.join(
        members.where(F.col(id_col) == F.col("__rep")).select(id_col), id_col
    )
    rep_pairs = _srp_rep_pairs(reps, id_col, vec_col, dim, n_planes, bands, threshold)
    return _member_edges(rep_pairs, members, id_col, "vec_a", "vec_b")


def _pack(seeds: DataFrame) -> DataFrame:
    """The whole codebook as ONE array<struct> row (sorted by seed_id —
    ties in the folds below resolve to the smallest seed id)."""
    return seeds.select(F.struct("seed_id", "s_vec", "s_norm").alias("s")).agg(
        F.array_sort(F.collect_list("s")).alias("cells")
    )


def _best_cell_scored() -> Column:
    """Map-side argmax of the ``v_vec``/``v_norm`` vector over the
    packed codebook as a (c, id) struct: fold keeping the strictly-
    greater cosine, so the first (lowest seed_id) wins ties — identical
    to ORDER BY cos DESC, seed_id."""
    init = F.struct(
        F.lit(-2.0).cast("double").alias("c"), F.lit(-1).cast("bigint").alias("id")
    )
    return F.aggregate(
        F.col("cells"),
        init,
        lambda acc, s: F.when(
            _cos("v", s) > acc.c, F.struct(_cos("v", s).alias("c"), s.seed_id.alias("id"))
        ).otherwise(acc),
    )


def _top2_cells() -> Column:
    """Map-side top-2 cells of the ``v_vec``/``v_norm`` vector as an
    array — the fold carries (best, second) slots; strict > comparisons
    give the same tiebreak as ORDER BY cos DESC, seed_id at both ranks."""
    init = F.struct(
        F.lit(-2.0).cast("double").alias("c1"),
        F.lit(-1).cast("bigint").alias("id1"),
        F.lit(-2.0).cast("double").alias("c2"),
        F.lit(-1).cast("bigint").alias("id2"),
    )

    def step(acc, s):
        sc = _cos("v", s)
        return (
            F.when(
                sc > acc.c1,
                F.struct(
                    sc.alias("c1"), s.seed_id.alias("id1"),
                    acc.c1.alias("c2"), acc.id1.alias("id2"),
                ),
            )
            .when(
                sc > acc.c2,
                F.struct(
                    acc.c1.alias("c1"), acc.id1.alias("id1"),
                    sc.alias("c2"), s.seed_id.alias("id2"),
                ),
            )
            .otherwise(acc)
        )

    folded = F.aggregate(F.col("cells"), init, step)
    # a 1-cell codebook leaves slot 2 empty (id2 = -1): emit only slot 1
    return F.filter(F.array(folded.id1, folded.id2), lambda c: c >= 0)


def kmeans_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    train_iters: int = 2,
    train_fraction: float = 1.0,
    tol: float | None = None,
) -> DataFrame:
    """Distributed spherical k-means (Lloyd's): the coarse-quantizer
    training loop shared by ``ivf_topk`` and ``kmeans_cluster_stats``.

    With *tol* set (convergence mode — round-4 verdict ask #4), the
    loop stops once the max L2 centroid movement between consecutive
    rounds is <= *tol* (``tol=0`` = exact fixed point, reachable
    because centroids are rounded to 6 dp per round); *train_iters*
    becomes the safety cap.  Each round then materializes the codebook
    via ``localCheckpoint`` and pays one codebook-sized (n_cells rows)
    join + scalar agg as the probe — negligible next to the assignment
    pass (SCALE.md).  Early-stopping at the fixed point is
    result-identical to any longer unroll (property-tested); the
    default ``tol=None`` keeps the fixed-round unroll the SQL oracles
    replay.

    Deterministic everywhere: seeds are the *n_cells* smallest-id
    training vectors; assignment is the map-only packed-codebook cosine
    fold (6 dp-rounded cosines, lowest seed id on ties); centroid
    updates go through DECIMAL(28,12) sums rounded to 6 dp so the
    trained codebook is summation-order independent — bit-identical in
    any engine, which is what lets a SQL oracle replay the training
    loop.  Empty cells drop out.

    Cost per iteration: one map-only assignment pass (codebook rides as
    a single broadcast array row, no per-vector shuffle) + one
    (cell, dim)-grouped aggregation — n_cells x dim groups regardless
    of corpus size.  *train_fraction* < 1 trains on a deterministic
    ``hash_sample``: the 100 TB posture, since a quantizer needs a
    representative sample, not the corpus.  Returns (seed_id, s_vec,
    s_norm).

    The trained codebook (n_cells rows) is PINNED in the session frame
    cache keyed on (input plan hash, every training parameter): the
    training is deterministic, so two queries training the same
    quantizer share one Lloyd unroll per session instead of replaying
    the full loop each (round-11 optimization — the ANN coarse-
    quantizer memo generalized to every kmeans_fit consumer).  The pin
    is a LAZY localCheckpoint, not a .persist(): consumers broadcast
    the codebook 2-4× per query, and under persist every reference
    re-embedded the whole Lloyd-unroll logical plan into the consumer
    (measured r11: ~0.7-1.3 s of warm driver-side plan analysis per
    ANN query).  The checkpoint truncates that to an n_cells-row
    LogicalRDD; laziness keeps the build deferred to the first
    action."""
    from .. import cache as _frame_cache

    app = vectors.sparkSession.sparkContext.applicationId
    key = (
        app,
        "kmeans_seeds",
        vectors.semanticHash(),
        id_col,
        vec_col,
        n_cells,
        train_iters,
        train_fraction,
        tol,
    )
    return _frame_cache.pin(
        key,
        lambda: _kmeans_fit_impl(
            vectors, id_col, vec_col, n_cells, train_iters, train_fraction, tol
        ).localCheckpoint(eager=False),
    )


def _kmeans_fit_impl(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    train_iters: int,
    train_fraction: float,
    tol: float | None,
) -> DataFrame:
    vectors = _drop_null_vec(vectors, vec_col)
    if train_fraction < 1.0:
        from .sampling import hash_sample

        train_vectors = hash_sample(vectors, id_col, train_fraction)
    else:
        train_vectors = vectors
    vt = _with_vec(train_vectors, vec_col, "v")
    seeds = _with_vec(
        train_vectors.orderBy(F.col(id_col)).limit(n_cells),
        vec_col,
        "s",
        F.col(id_col).alias("seed_id"),
    )
    converge = tol is not None
    if converge:
        vt = vt.localCheckpoint(eager=True)
        seeds = seeds.localCheckpoint(eager=True)
    elif train_iters > 1:
        # every Lloyd round re-reads the training frame; unmaterialized,
        # a lazy upstream (the hashed text vectorizer, an expensive UDF
        # chain) re-executes PER ROUND.  Measured 6.4 s -> 4.7 s on
        # text_topic_clusters at sf0.1 with the frame materialized once.
        vt = vt.localCheckpoint(eager=False)
    for it in range(train_iters):
        assigned_t = vt.crossJoin(F.broadcast(_pack(seeds))).select(
            "v_vec", _best_cell_scored().id.alias("cell")
        )
        cent = (
            assigned_t.select("cell", F.posexplode("v_vec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("m")
            )
        )
        new_seeds = _with_vec(
            cent.groupBy("cell").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
                ).alias("s_vec")
            ),
            "s_vec",
            "s",
            F.col("cell").alias("seed_id"),
        )
        if not converge:
            seeds = new_seeds
            continue
        new_seeds = new_seeds.localCheckpoint(eager=True)
        # probe only from the 2nd round on: round-0 seed_ids are vector
        # ids, round>=1 are cell indices — comparable once both sides
        # use cell indexing.  A cell that dropped out (or appeared)
        # leaves the full-outer join with a NULL side => +inf movement.
        if it > 0:
            diff = F.zip_with(
                F.col("__a"), F.col("__b"), lambda x, y: x - y
            )
            moved = (
                new_seeds.select("seed_id", F.col("s_vec").alias("__a"))
                .join(
                    seeds.select("seed_id", F.col("s_vec").alias("__b")),
                    "seed_id",
                    "full_outer",
                )
                .select(
                    F.when(
                        F.col("__a").isNull() | F.col("__b").isNull(),
                        F.lit(float("inf")),
                    )
                    .otherwise(F.sqrt(dot(diff, diff)))
                    .alias("__d")
                )
                .agg(F.max("__d").alias("m"))
                .collect()[0]["m"]
            )
            seeds = new_seeds
            if moved is None or moved <= tol:
                break
        else:
            seeds = new_seeds
    return seeds


def kmeans_cluster_stats(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    n_cells: int = 8,
    train_iters: int = 2,
    train_fraction: float = 1.0,
) -> DataFrame:
    """K-means as a first-class corpus operation (topic bucketing /
    domain discovery over embeddings): train with ``kmeans_fit``, assign
    every vector map-only, and emit per-cluster diagnostics:

    - ``n_vecs`` — cluster size;
    - ``avg_cos`` — mean cosine of members to their centroid (the
      spherical-k-means inertia analog; per-member cosines are already
      6 dp-rounded, summed through DECIMAL so the mean is
      engine-exact);
    - ``top_label`` / ``top_label_share`` — majority ground-truth label
      and its share (cluster purity), when *label_col* is given.

    The only post-assignment shuffles group on the cluster id (and
    (cluster, label) for purity) — k-bounded group counts, never corpus-
    bounded."""
    vectors = _drop_null_vec(vectors, vec_col)
    seeds = kmeans_fit(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        train_iters=train_iters,
        train_fraction=train_fraction,
    )
    label_cols = [F.col(label_col)] if label_col else []
    v = _with_vec(vectors, vec_col, "v", F.col(id_col), *label_cols)
    # project the argmax struct ONCE, extract fields in a second select —
    # pulling best.id and best.c straight out of the fold in one select
    # would inline the whole O(n_cells x dim) codebook scan twice per row
    # (CollapseProject keeps non-cheap multiply-referenced exprs staged)
    best = _best_cell_scored()
    assigned = (
        v.crossJoin(F.broadcast(_pack(seeds)))
        .select(F.col(id_col), *label_cols, best.alias("__b"))
        .select(
            F.col(id_col),
            *label_cols,
            F.col("__b.id").alias("cluster_id"),
            F.col("__b.c").alias("cos"),
        )
    )
    stats = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum(F.col("cos").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_cos"),
    )
    if not label_col:
        return stats
    lc = assigned.groupBy("cluster_id", label_col).agg(F.count(F.lit(1)).alias("__n"))
    wl = Window.partitionBy("cluster_id").orderBy(
        F.col("__n").desc(), F.col(label_col).asc()
    )
    top = (
        lc.withColumn("__r", F.row_number().over(wl))
        .filter(F.col("__r") == 1)
        .select(
            "cluster_id", F.col(label_col).alias("top_label"), F.col("__n").alias("__top_n")
        )
    )
    return (
        stats.join(top, "cluster_id")
        .select(
            "cluster_id",
            "n_vecs",
            "avg_cos",
            "top_label",
            F.round(F.col("__top_n") / F.col("n_vecs"), 6).alias("top_label_share"),
        )
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 3,
    k: int = 10,
    train_iters: int = 2,
    corpus_probes: int = 2,
    train_fraction: float = 1.0,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: the scale path for similarity search.

    Pass a pre-trained *seeds* codebook (``kmeans_fit`` output) to skip
    training — the index-sharing path when several query batches (or
    several index variants) ride one coarse quantizer.

    Coarse quantizer: seeded with the *n_cells* smallest-id vectors,
    then refined by *train_iters* Lloyd iterations of spherical k-means
    — assign every vector to its nearest cell, recompute centroids as
    per-dimension means.  Centroid sums go through DECIMAL(28,12) and
    round to 6 dp so the trained codebook is summation-order
    independent (bit-identical in any engine — float sums are not);
    empty cells drop out.  Each iteration costs one map-only assignment
    pass + one (cell, dim)-grouped aggregation over the TRAINING set:
    *train_fraction* < 1 trains on a deterministic ``hash_sample`` of
    the corpus (seeds drawn from the sample too) — the 100 TB posture,
    since a quantizer needs only a representative sample while
    assignment/scoring still cover every vector.

    *corpus_probes* (1 or 2) is multi-probe **assignment**: each corpus
    vector is indexed under its best (and second-best) cell, so a
    neighbor near a cell boundary is still found when the query probes
    either side — measured on the sf0.01 embeddings this lifts
    recall@10 from ~0.47 (single-probe, trained) to ~0.85 at
    n_cells=8/nprobe=3 (tests/test_scale_utilities.py asserts the
    floor).  Index size scales by the probe factor; duplicate
    (query, neighbor) candidates from shared cells are dropped before
    ranking.

    Cost shape: assignment is MAP-ONLY — the codebook rides along as
    one broadcast array row and each vector folds over it (no
    per-vector shuffle).  Each query probes its *nprobe* nearest cells;
    candidate scoring shuffles on the cell id — Σ_probed |cell| pairs
    instead of the brute-force O(n·q).  Recall < 1 by construction;
    verified against ``brute_force_topk``.  Output: (q_id, neighbor_id,
    cos, rnk) — same schema as the exact baseline."""
    seeds, postings = build_ivf_index(
        vectors, id_col, vec_col, n_cells, train_iters, corpus_probes, train_fraction, seeds
    )
    return query_ivf_index(
        seeds, postings, queries, query_id_col, vec_col, nprobe, k, corpus_probes > 1
    )


def build_ivf_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    train_iters: int = 2,
    corpus_probes: int = 2,
    train_fraction: float = 1.0,
    seeds: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index relations: (codebook, postings) — the
    build-once half of the index lifecycle.  ``codebook`` is
    (seed_id, s_vec, s_norm); ``postings`` is (neighbor_id, v_vec,
    v_norm, cell), one row per (vector, probed cell).  Build once and
    serve every query batch from the same relations — training never
    reruns per query batch.  A pre-trained *seeds*
    codebook skips the Lloyd loop entirely (index-variant sharing)."""
    vectors = _drop_null_vec(vectors, vec_col)
    if corpus_probes not in (1, 2):
        raise ValueError(f"corpus_probes must be 1 or 2, got {corpus_probes}")
    if seeds is None:
        seeds = kmeans_fit(
            vectors,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            train_iters=train_iters,
            train_fraction=train_fraction,
        )
    v = _with_vec(vectors, vec_col, "v", F.col(id_col).alias("neighbor_id"))
    # r11: cell assignment through the shared pinned postings (same
    # corpus + codebook across the three IVF variants — ivf_assign memo)
    return seeds, ivf_assign(v, seeds, corpus_probes=corpus_probes)


def ivf_assign(
    v: DataFrame, seeds: DataFrame, corpus_probes: int = 2
) -> DataFrame:
    """Map-only cell assignment against a FROZEN codebook: broadcast
    the packed seeds, pick the best (or top-2) cells per vector.  Works
    identically on a batch or a STREAMING DataFrame — the transform has
    no shuffle and no state, so incremental index ingest is just this
    projection feeding an append sink partitioned by cell (tested via
    bounded replay against the batch build).

    Batch postings are PINNED in the session frame cache keyed on
    (input plan hash, codebook plan hash, corpus_probes): the three IVF
    index variants (flat / int8 / PQ) assign the SAME corpus under the
    SAME shared codebook, and the per-vector top-2 fold over the
    broadcast seeds was each query's single biggest exec stage
    (measured r11: ~0.7 s per call at sf0.1).  This is the in-session
    analog of a persisted index — the index is built once and served;
    postings are index-sized (probe_factor × corpus vectors).
    Streaming inputs bypass the pin (checkpointing a streaming frame is
    illegal and incremental ingest must stay unbounded).

    Memory honesty (r12, ADVICE): unlike the genuinely compressed int8
    and PQ-code pins, FLAT postings carry the raw double v_vec + v_norm
    per (vector × probe) — VECTOR-scale bytes, probe_factor × the
    embedding table, not "index ≪ fact" like the other pins.  At crawl
    scale the flat variant should persist its postings partitioned
    by cell on disk (``io.write_partitioned``) instead of a session pin; the session
    pin is sized for the bench-scale corpus and is FIFO/LRU-evictable
    like every other entry.  Pinning only (neighbor_id, cell) and
    re-joining vectors per query was considered and declined: the
    re-join is a corpus-wide shuffle per ANN call — exactly the cost
    the pin removes — trading bounded storage for repeated network
    passes."""
    # r12 (guide §5): plan construction deferred into the builder — the
    # cell expressions are hundreds of py4j calls (~0.2 s) that a pin
    # HIT used to pay for nothing
    def _postings_plan() -> DataFrame:
        packed = _pack(seeds)
        cell_expr = (
            F.array(_best_cell_scored().id) if corpus_probes == 1 else _top2_cells()
        )
        return v.crossJoin(F.broadcast(packed)).select(
            "neighbor_id", "v_vec", "v_norm", F.explode(cell_expr).alias("cell")
        )

    if v.isStreaming:
        return _postings_plan()
    from .. import cache as _frame_cache

    app = v.sparkSession.sparkContext.applicationId
    return _frame_cache.pin(
        (app, "ivf_postings", v.semanticHash(), seeds.semanticHash(), corpus_probes),
        lambda: _postings_plan().localCheckpoint(eager=False),
    )


def query_ivf_index(
    seeds: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    query_id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 3,
    k: int = 10,
    dedup_candidates: bool = True,
) -> DataFrame:
    """Serve top-k queries from a built (or loaded) IVF index — the
    query-many half of the lifecycle.  Same semantics and output schema
    as ``ivf_topk``."""
    q = _query_frame(queries, query_id_col, vec_col)
    cands = assigned.join(_probes(q, seeds, nprobe), "cell")
    return _topk(cands, _cos("q", "v"), k, dedup_candidates)


def label_centroids(
    vectors: DataFrame,
    bucket_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-bucket centroid components: mean of each embedding dimension
    (long format: bucket, pos, centroid_val, n_vecs).

    The distributed vector-mean shape: ``posexplode`` runs map-side, the
    single shuffle groups on (bucket, dim) — n_buckets × dim groups
    regardless of corpus size.  Component sums go through DECIMAL so the
    result is summation-order independent (float sums are not), then the
    mean is rounded at the output boundary.  This is the aggregation an
    IVF coarse-quantizer training step runs per k-means iteration."""
    vectors = _drop_null_vec(vectors, vec_col)
    e = vectors.select(
        F.col(bucket_col), F.posexplode(_as_double(vec_col)).alias("pos", "v")
    )
    return e.groupBy(bucket_col, "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth
    step of an embedding pipeline (4× smaller than float32, unchanged
    top-k order for dot-product search when both sides share the scale).

    scale = max|v| / 127; q_i = round(v_i / scale) ∈ [-127, 127].
    MAP-ONLY: two higher-order folds per row, no shuffle, no Python.
    The division uses the UNROUNDED scale (IEEE division is
    engine-deterministic; rounding the scale first would compound two
    rounding boundaries), and round() is half-away-from-zero in both
    Spark and DuckDB, so the quantized array is oracle-exact.  An
    all-zero vector keeps scale 0 and quantizes to zeros (guarded
    division).  Returns (id, scale rounded 9dp for display, q
    array<int>)."""
    vectors = _drop_null_vec(vectors, vec_col)
    if vectors.isStreaming:
        return _int8_codes(vectors, vec_col, id_col)
    # r11: the quantized corpus is the INT8 INDEX (ann_quantized_topk
    # and ann_ivf_quantized_topk both quantize the same vectors) — pin
    # per input hash so the two higher-order folds run once per session;
    # index-sized rows (dim ints + a scale per vector).  r12 (guide §5):
    # assembly deferred into the builder so a pin HIT skips the
    # higher-order-fold py4j construction entirely
    from .. import cache as _frame_cache

    app = vectors.sparkSession.sparkContext.applicationId
    return _frame_cache.pin(
        (app, "int8_codes", vectors.semanticHash(), id_col, vec_col),
        lambda: _int8_codes(vectors, vec_col, id_col).localCheckpoint(eager=False),
    )


def _int8_codes(df: DataFrame, vec_col: str, *keep: str) -> DataFrame:
    """*keep* plus ``scale`` and the int8 codes ``q`` of *vec_col* — the
    quantization of ``quantize_embeddings``, unpinned."""
    v = _as_double(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (maxabs / F.lit(127.0)).alias("__scale")
    return df.select(*keep, v.alias("__v"), scale).select(
        *keep,
        F.round(F.col("__scale"), 9).alias("scale"),
        F.when(
            F.col("__scale") > 0,
            F.transform(F.col("__v"), lambda x: F.round(x / F.col("__scale")).cast("int")),
        )
        .otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
        .alias("q"),
    )


def idot(a: Column, b: Column) -> Column:
    """Sequential int64 fold dot product over int arrays — exact (no
    floating point until the caller divides), engine-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int8_scorer(
    vectors: DataFrame, q: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame, Column]:
    """The int8 scorer: (corpus, query frame, cosine).  The corpus is the
    pinned int8 index (``quantize_embeddings``) as (neighbor_id, v_q,
    v_n).  Queries quantize their OWN vectors (q_q, q_n): per-vector
    scales cancel out of the cosine independently per side, so nothing
    requires the query to come from the corpus — a query id absent from
    *vectors* still scores.  The cosine is exact int64 dot products and
    one IEEE division."""

    def side(df: DataFrame, p: str, *cols: str | Column) -> DataFrame:
        c = F.col(f"{p}_q")
        return df.select(*cols, F.col("q").alias(f"{p}_q")).withColumn(
            f"{p}_n", F.sqrt(idot(c, c).cast("double"))
        )

    corpus = side(
        quantize_embeddings(vectors, id_col, vec_col), "v", F.col(id_col).alias("neighbor_id")
    )
    q = side(_int8_codes(q, "q_vec", *q.columns), "q", *q.columns)
    cos = F.round(
        idot(F.col("q_q"), F.col("v_q")).cast("double") / (F.col("q_n") * F.col("v_n")), 6
    )
    return corpus, q, cos


def quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k over INT8-QUANTIZED vectors — the
    storage/bandwidth production pattern (4× smaller index than
    float32).  The symmetric per-vector scales cancel out of the
    cosine — cos(s_a·qa, s_b·qb) = (qa·qb) / (√(qa·qa)·√(qb·qb)) — so
    the entire score is integer dot products (exact int64 folds,
    engine-identical) with one IEEE division at the end: deterministic
    without any decimal machinery.  Quantization error only perturbs
    ranks near ties; recall@10 vs the float baseline is floor-tested.

    Same plan shape as ``brute_force_topk`` (broadcast query set,
    embarrassingly-parallel corpus scan, per-query window rank) with
    the corpus-side math running on int8 codes — at 100 TB this is the
    scan you can actually afford to keep hot.  Output schema matches
    the float baseline: (q_id, neighbor_id, cos, rnk)."""
    corpus, q, cos = _int8_scorer(
        vectors, _query_frame(queries, query_id_col, vec_col), id_col, vec_col
    )
    return _topk(corpus.crossJoin(F.broadcast(q)), cos, k)


def ivf_quantized_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_cells: int = 8,
    nprobe: int = 3,
    k: int = 10,
    train_iters: int = 2,
    corpus_probes: int = 2,
    train_fraction: float = 1.0,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """IVF + int8 codes — the full production ANN shape: the coarse
    quantizer (``kmeans_fit``) restricts each query to Σ_probed |cell|
    candidates, and candidate scoring runs on INT8-QUANTIZED vectors
    (``quantize_embeddings``; scales cancel out of the cosine, so
    scores are exact int64 dot products — see ``quantized_topk``).
    Against ``ivf_topk`` this reads 4× less vector data per candidate
    and does integer math in the hot loop; against ``quantized_topk``
    it scans Σ_probed |cell| instead of the corpus.  Recall compounds
    the IVF probe loss with int8 rank perturbation — floor-tested vs
    the float brute force.  Output schema matches the other top-k
    variants: (q_id, neighbor_id, cos, rnk)."""
    seeds, postings = build_ivf_index(
        vectors, id_col, vec_col, n_cells, train_iters, corpus_probes, train_fraction, seeds
    )
    corpus, q, cos = _int8_scorer(
        vectors, _query_frame(queries, query_id_col, vec_col), id_col, vec_col
    )
    corpus = postings.select("neighbor_id", "cell").join(corpus, "neighbor_id")
    return _topk(corpus.join(_probes(q, seeds, nprobe), "cell"), cos, k, corpus_probes > 1)


def _sdot(a: Column, b: Column, w: int) -> Column:
    """Statically-unrolled dot product for the small fixed PQ sub-vector
    width — plain left-associated arithmetic (same float sequence as the
    sequential fold / DuckDB's list_dot_product, so engine-consistent)
    with no higher-order function: the PQ hot loops run these thousands
    of times per row, and the nested-HOF form (aggregate inside
    transform) drops out of codegen into the interpreter (~10×)."""
    e = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, w + 1):
        e = e + F.element_at(a, i) * F.element_at(b, i)
    return e


def _pq_subs(vec: Column, dim: int, m: int) -> Column:
    """The m contiguous sub-vectors of *vec* as one array<array<double>>
    — staged into its own projection so downstream lookups reference an
    attribute (each slice evaluates once per row)."""
    w = dim // m
    return F.array(*[F.slice(vec, j * w + 1, w) for j in range(m)])


def _pack_pq(codebook: DataFrame) -> DataFrame:
    """The PQ codebook as ONE row: ``cells[m_idx+1]`` = that sub-space's
    entries sorted by code, each struct(code, c_vec, c6) with c6 =
    round(c·c × 1e6) as int64 — the reconstruction-norm term of ADC,
    quantized so corpus-side sums are exact integer math."""
    with_dot = codebook.select(
        "m_idx",
        F.struct(
            F.col("code"),
            F.col("c_vec"),
            F.round(dot(F.col("c_vec"), F.col("c_vec")) * 1e6).cast("long").alias("c6"),
        ).alias("s"),
    )
    per_m = with_dot.groupBy("m_idx").agg(F.array_sort(F.collect_list("s")).alias("cs"))
    return per_m.select(F.struct("m_idx", "cs").alias("t")).agg(
        F.transform(F.array_sort(F.collect_list("t")), lambda t: t.cs).alias("cells")
    )


def _np_round6_int64(x):
    """Half-away-from-zero rounding of x*1e6 to int64 — numpy's round()
    is half-to-even, which would diverge from Spark/DuckDB round() on
    exact .5 boundaries."""
    import numpy as np

    y = x * 1e6
    return np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)).astype(np.int64)


def _pq_collect_book(codebook_rows, m: int):
    """Driver-side numpy view of a collected PQ codebook: per sub-space
    arrays (C [k_mi × w], c6 int64 [k_mi], code labels [k_mi]) sorted by
    code.  c6 = round(c·c × 1e6) with a SEQUENTIAL sum of squares —
    the exact float sequence of the engine fold."""
    import numpy as np

    per: dict[int, list] = {mi: [] for mi in range(m)}
    for r in codebook_rows:
        per[r["m_idx"]].append((r["code"], list(r["c_vec"])))
    out = {}
    for mi, entries in per.items():
        entries.sort()
        codes = np.array([c for c, _ in entries], dtype=np.int64)
        C = np.array([v for _, v in entries], dtype=np.float64)
        c6 = np.empty(len(entries), dtype=np.int64)
        for i, (_, v) in enumerate(entries):
            acc = v[0] * v[0]
            for x in v[1:]:
                acc = acc + x * x
            y = acc * 1e6
            c6[i] = int(np.floor(y + 0.5)) if y >= 0 else int(np.ceil(y - 0.5))
        out[mi] = (codes, C, c6)
    return out


def _pq_assign_np(X, C, c6):
    """Vectorized PQ assignment for one sub-space: X (B×w) against C
    (k×w) → argmin indices over int64-quantized squared L2.

    The float sequence replays the engine formula EXACTLY —
    ((x·x − 2·x·c) + c6/1e6) × 1e6, half-away rounded — with dots
    accumulated SEQUENTIALLY over w (elementwise adds in fold order,
    never np.dot's pairwise/BLAS order), so the SQL oracle's integer
    argmin sees the same values.  np.argmin takes the first (= lowest
    code) on ties, matching ORDER BY d2, code."""
    import numpy as np

    xc = X[:, 0:1] * C[None, :, 0]
    sd = X[:, 0] * X[:, 0]
    for i in range(1, X.shape[1]):
        xc = xc + X[:, i : i + 1] * C[None, :, i]
        sd = sd + X[:, i] * X[:, i]
    D = (sd[:, None] - 2.0 * xc) + (c6[None, :] / 1e6)
    return np.argmin(_np_round6_int64(D), axis=1)


def pq_fit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 8,
    train_iters: int = 2,
    train_fraction: float = 1.0,
) -> DataFrame:
    """Product-quantization codebook training — JOINT L2 k-means over
    the m sub-spaces (Jégou et al., "Product Quantization for Nearest
    Neighbor Search"): each vector splits into m contiguous
    dim/m-sub-vectors, and one Lloyd loop trains all m codebooks at
    once over the exploded (vector, sub-space) rows — m×k cells bound
    every aggregation, never the corpus.

    Deterministic everywhere, mirroring ``kmeans_fit``'s discipline so
    a SQL oracle can replay the training: seeds are the k smallest-id
    training vectors' slices (code = id rank); assignment is an argmin
    over int64-quantized squared L2 ((x·x − 2·x·c) + c6/1e6 rounded at
    6 dp — engine-exact integer comparisons, lowest code on ties);
    centroid means go through DECIMAL(28,12) sums rounded to 6 dp.
    Empty cells drop; codes are re-densified to 1..k' per sub-space
    after training (rank by surviving code) so ADC lookup tables index
    by position.

    Execution: the assignment is an Arrow-batched ``mapInPandas``
    kernel — m×k distance evaluations per vector are a dense numpy
    matrix op, ~100× the throughput of the interpreted Catalyst
    higher-order-function form, while ``_pq_assign_np``'s sequential
    accumulation keeps every float bit-identical to the SQL oracle.
    EAGER BY CONTRACT (like ``duplicate_components``): the per-round
    codebook is collected to the driver (m×k tiny rows) so each
    iteration's plan is flat and the kernel gets the book as a plain
    closure.  Returns (m_idx, code, c_vec)."""
    vectors = _drop_null_vec(vectors, vec_col)
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim={dim} not divisible by m={m}")
    if train_fraction < 1.0:
        from .sampling import hash_sample

        train = hash_sample(vectors, id_col, train_fraction)
    else:
        train = vectors
    v = train.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v"))
    sub = v.select(
        "__id", F.posexplode(_pq_subs(F.col("__v"), dim, m)).alias("m_idx", "sv")
    ).select("m_idx", "sv")
    # seed codes enumerate the first k vectors by id — driver-side
    # (k-bounded, and the book is collected every iteration anyway),
    # which keeps the single-partition WindowExec a keyless row_number
    # would force out of the plan entirely
    seed_rows = v.orderBy("__id").limit(k).select("__v").collect()
    seeds = v.sparkSession.createDataFrame(
        [(ci + 1, list(r["__v"])) for ci, r in enumerate(seed_rows)],
        "code int, __v array<double>",
    ).select(
        F.posexplode(_pq_subs(F.col("__v"), dim, m)).alias("m_idx", "c_vec"), "code"
    ).select("m_idx", "code", "c_vec")
    def _make_assign(book):
        # bind the collected book by value — the returned kernel may be
        # (re-)executed lazily after the loop variable is rebound
        def assign(batches):
            import numpy as np
            import pandas as pdl

            empty = all(len(codes) == 0 for codes, _, _ in book.values())
            for pdf in batches:
                if not len(pdf) or empty:
                    continue
                mi_arr = pdf["m_idx"].to_numpy()
                sv_arr = pdf["sv"].to_numpy()
                out_codes = np.empty(len(pdf), dtype=np.int64)
                for mi in np.unique(mi_arr):
                    idx = np.flatnonzero(mi_arr == mi)
                    X = np.stack(sv_arr[idx]).astype(np.float64)
                    codes_lbl, C, c6 = book[int(mi)]
                    out_codes[idx] = codes_lbl[_pq_assign_np(X, C, c6)]
                yield pdl.DataFrame(
                    {"m_idx": mi_arr, "code": out_codes, "sv": sv_arr}
                )

        return assign

    for _ in range(train_iters):
        book = _pq_collect_book(seeds.collect(), m)
        assigned = sub.mapInPandas(
            _make_assign(book), "m_idx int, code int, sv array<double>"
        )
        cent = (
            assigned.select("m_idx", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m_idx", "code", "pos")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("mm")
            )
        )
        seeds = (
            cent.groupBy("m_idx", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mm"))), lambda s: s.mm
                ).alias("c_vec")
            )
            .select("m_idx", "code", "c_vec")
        )
    w_dense = Window.partitionBy("m_idx").orderBy("code")
    return seeds.withColumn("code", F.row_number().over(w_dense))


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
) -> DataFrame:
    """PQ encoding — each vector compressed to m small codes (m bytes at
    k ≤ 256 vs 4·dim float32) + the int64 reconstruction self-dot
    Σ c·c needed by ADC's denominator.  MAP-ONLY: an Arrow-batched
    ``mapInPandas`` kernel with the (tiny, collected) codebook as a
    closure — the m×k argmins per vector are dense numpy matrix ops
    (``_pq_assign_np``, float-sequence-exact vs the SQL oracle), and
    codes come out as the 1-based dense rank so ADC lookup tables index
    by position.  EAGER to the extent of the codebook collect.
    Returns (id, codes array<int> 1-based, xn2 long)."""
    vectors = _drop_null_vec(vectors, vec_col)
    w_sub = dim // m

    # r12 (guide §5): the codebook COLLECT (a Spark action) and the
    # mapInPandas assembly happen inside the builder — a pin HIT used to
    # re-run the collect per call for nothing
    def _encoded_plan() -> DataFrame:
        book = _pq_collect_book(codebook.collect(), m)
        # an empty codebook (possible when the training sample is empty
        # on a degenerate corpus) can encode nothing: yield no rows, the
        # same empty-result shape the SQL oracle's empty cross join has
        book_empty = all(len(codes) == 0 for codes, _, _ in book.values())

        def encode(batches):
            import numpy as np
            import pandas as pdl

            for pdf in batches:
                if not len(pdf) or book_empty:
                    continue
                V = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
                n = len(pdf)
                codes = np.empty((n, m), dtype=np.int32)
                xn2 = np.zeros(n, dtype=np.int64)
                for mi in range(m):
                    _, C, c6 = book[mi]
                    picks = _pq_assign_np(V[:, mi * w_sub : (mi + 1) * w_sub], C, c6)
                    codes[:, mi] = picks + 1  # dense 1-based rank
                    xn2 += c6[picks]
                yield pdl.DataFrame(
                    {
                        "__oid": pdf["__oid"],
                        "codes": codes.tolist(),
                        "xn2": xn2,
                    }
                )

        out = vectors.select(
            F.col(id_col).alias("__oid"), _as_double(vec_col).alias("__v")
        ).mapInPandas(encode, "__oid long, codes array<int>, xn2 long")
        return out.withColumnRenamed("__oid", id_col)

    if vectors.isStreaming:
        return _encoded_plan()
    # r11: the encoded corpus is the PQ INDEX — ann_pq_topk and
    # ann_ivf_pq_topk encode the same vectors under the same shared
    # book, so pin the codes per (input hash, book hash, dim, m) and
    # run the mapInPandas encode once per session (index-sized rows:
    # m ints + one long per vector)
    from .. import cache as _frame_cache

    app = vectors.sparkSession.sparkContext.applicationId
    return _frame_cache.pin(
        (app, "pq_codes", vectors.semanticHash(), codebook.semanticHash(), dim, m),
        lambda: _encoded_plan().localCheckpoint(eager=False),
    )


def _adc_cos(lut: Column, q_n: Column, codes: Column, xn2: Column) -> Column:
    """ADC cosine: integer ip = Σ lut[m][code_m] (exact, order-free),
    reconstruction norm from the stored Σ c·c — one float division at
    the end, rounded 6 dp.  A zero-norm side (all-zero query or
    reconstruction) scores 0.0 instead of dividing by zero — mirrored
    in the SQL oracles."""
    ip6 = F.aggregate(
        F.zip_with(lut, codes, lambda l, c: F.element_at(l, c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = q_n * F.sqrt(xn2 / F.lit(1e6))
    return F.when(
        den > 0, F.round((ip6 / F.lit(1e6)) / den, 6)
    ).otherwise(F.lit(0.0))


def _pq_scorer(
    vectors: DataFrame,
    q: DataFrame,
    book: DataFrame | None,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    k_codes: int,
    train_iters: int,
    train_fraction: float,
) -> tuple[DataFrame, DataFrame, Column]:
    """The PQ/ADC scorer: (corpus, query frame, cosine).  The corpus is
    the pinned PQ index (``pq_encode``) as (neighbor_id, codes, xn2).
    Each query gets its m×k lookup table of int64-quantized sub-dots
    (lut[m][code] = round(q_m · c × 1e6)), built once against the
    broadcast codebook, so pair scoring is O(m) integer lookups
    (``_adc_cos``).  Without a pre-trained *book*, one is trained from
    *vectors* with the given parameters."""
    if book is None:
        # a lazy localCheckpoint, as for the shared registry book: encode
        # and the LUT each broadcast a packed view of the book, and the
        # checkpoint runs its training lineage once for both — where a
        # persist() would leave a cached plan that clear_cache() never
        # releases
        book = pq_fit(
            vectors,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            m=m,
            k=k_codes,
            train_iters=train_iters,
            train_fraction=train_fraction,
        ).localCheckpoint(eager=False)
    corpus = pq_encode(
        vectors, book, id_col=id_col, vec_col=vec_col, dim=dim, m=m
    ).withColumnRenamed(id_col, "neighbor_id")
    lut = F.transform(
        F.col("cells"),
        lambda cs, j: F.transform(
            cs,
            lambda s: F.round(
                _sdot(F.element_at(F.col("__subs"), j + 1), s.c_vec, dim // m) * 1e6
            ).cast("long"),
        ),
    )
    q = (
        q.crossJoin(F.broadcast(_pack_pq(book)))
        .select(*q.columns, _pq_subs(F.col("q_vec"), dim, m).alias("__subs"), "cells")
        .select(*q.columns, lut.alias("lut"))
    )
    return corpus, q, _adc_cos(F.col("lut"), F.col("q_norm"), F.col("codes"), F.col("xn2"))


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
    k_codes: int = 8,
    k: int = 10,
    train_iters: int = 2,
    train_fraction: float = 1.0,
    book: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC top-k — asymmetric distance computation over
    product-quantized codes (Jégou et al.): the corpus lives as m
    per-sub-space codes (+ one int64 norm term), queries build an m×k
    lookup table of sub-dots once, and each candidate scores in O(m)
    integer table lookups instead of O(dim) float multiplies.  The
    score is the exact cosine between the query and the candidate's
    RECONSTRUCTION (nearest sub-centroids concatenated) — deterministic
    integer sums (the SRP int64 trick), so a SQL oracle replays it
    bit-for-bit, and recall vs the float brute force is floor-tested.

    Scale shape: codebook training is (m×k)-cell-bounded Lloyd on a
    deterministic sample; encoding and scoring are map-only with the
    packed codebook broadcast; the only shuffle is the per-query rank.
    Pass a pre-trained *book* (from ``pq_fit``, ideally checkpointed) to
    reuse one codebook across indexes — the training params are then
    ignored.  Output matches the other top-k variants: (q_id,
    neighbor_id, cos, rnk)."""
    corpus, q, cos = _pq_scorer(
        vectors, _query_frame(queries, query_id_col, vec_col), book, id_col, vec_col,
        dim, m, k_codes, train_iters, train_fraction,
    )
    return _topk(corpus.crossJoin(F.broadcast(q)), cos, k)


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
    k_codes: int = 8,
    n_cells: int = 8,
    nprobe: int = 3,
    k: int = 10,
    train_iters: int = 2,
    corpus_probes: int = 2,
    train_fraction: float = 1.0,
    book: DataFrame | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ/ADC — the full Jégou-style production index: the coarse
    spherical quantizer (shared ``kmeans_fit``) restricts each query to
    Σ_probed |cell| candidates, and candidates score via PQ codes with
    ADC lookup tables (see ``pq_topk``) — O(m) integer lookups per
    candidate over an index that stores m codes per vector instead of
    dim floats.  Against ``ivf_quantized_topk`` (int8) this is the
    deeper compression point of the same trade curve (m·log2(k) bits vs
    8·dim); recall compounds coarse-probe loss with reconstruction
    error — floor-tested vs the float brute force.  Pass a pre-trained
    *book* (PQ) and/or *seeds* (coarse quantizer) to reuse codebooks
    across indexes.  Output: (q_id, neighbor_id, cos, rnk)."""
    seeds, postings = build_ivf_index(
        vectors, id_col, vec_col, n_cells, train_iters, corpus_probes, train_fraction, seeds
    )
    corpus, q, cos = _pq_scorer(
        vectors, _query_frame(queries, query_id_col, vec_col), book, id_col, vec_col,
        dim, m, k_codes, train_iters, train_fraction,
    )
    corpus = postings.select("neighbor_id", "cell").join(corpus, "neighbor_id")
    return _topk(corpus.join(_probes(q, seeds, nprobe), "cell"), cos, k, corpus_probes > 1)


def label_feature_stats(
    vectors: DataFrame,
    bucket_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-bucket per-dimension mean AND standard deviation — the
    feature-normalization statistics a training pipeline fits before
    z-scoring its embeddings (the two-moment extension of
    ``label_centroids``).

    Both moments go through DECIMAL(28,12) sums (summation-order
    independent → engine-identical), variance is the exact-moment form
    E[x²] − E[x]² computed from those decimal sums in double, and the
    outputs round at 6 dp.  Same shuffle shape as the centroid
    aggregation: map-side posexplode, ONE shuffle on (bucket, dim) —
    n_buckets × dim groups regardless of corpus size."""
    vectors = _drop_null_vec(vectors, vec_col)
    e = vectors.select(
        F.col(bucket_col), F.posexplode(_as_double(vec_col)).alias("pos", "v")
    )
    n = F.count(F.lit(1))
    s1 = F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
    s2 = F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)")).cast("double")
    mean = s1 / n
    var = s2 / n - (s1 / n) * (s1 / n)
    return e.groupBy(bucket_col, "pos").agg(
        F.round(mean, 6).alias("mean_val"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_val"),
        n.alias("n_vecs"),
    )


def hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for each
    anchor, the *k* most similar vectors with a DIFFERENT label — the
    near-boundary negatives that make embedding training losses
    informative (random negatives are mostly trivial at scale).

    Same plan shape as ``brute_force_topk`` (broadcast anchor set,
    embarrassingly-parallel corpus scan, per-anchor window rank) with a
    label-inequality predicate fused into the scan join; swap the scan
    side for an IVF/LSH candidate set at corpus scale exactly like the
    ANN variants.  Returns (anchor_id, anchor_label, negative_id,
    negative_label, cos, rnk)."""
    a = _with_vec(
        _drop_null_vec(anchors, vec_col),
        vec_col,
        "a",
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
    )
    v = _with_vec(
        _drop_null_vec(vectors, vec_col),
        vec_col,
        "v",
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("negative_label"),
    )
    scored = (
        v.crossJoin(F.broadcast(a))
        .filter(F.col("negative_label") != F.col("anchor_label"))
        .select(
            "anchor_id", "anchor_label", "negative_id", "negative_label",
            _cos("a", "v").alias("cos"),
        )
    )
    return _rank(scored, k, "anchor_id", "negative_id")


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    train_iters: int = 2,
    train_fraction: float = 1.0,
    tau: float = 0.8,
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with k-means and comparing
    members only WITHIN each cluster — the trick that turns the O(n²)
    all-pairs cosine scan into k independent O((n/k)²) blocks.  A
    vector is a semantic duplicate when some cluster-mate with a
    smaller id has cosine ≥ *tau* (greedy keep-first-by-id — the
    deterministic restatement of the paper's keep-one-per-group).

    Returns one row per vector: (id, cluster_id, is_semdup ∈ {0,1},
    best_prior_cos — max cosine to a qualifying smaller-id mate, NULL
    when none).  Downstream: ``filter(is_semdup = 0)`` is the kept
    corpus.

    Scale shape: training + assignment are the shared ``kmeans_fit``
    map-only packed-codebook path (sample-able via *train_fraction*);
    the pair stage shuffles once on ``cluster_id`` into an
    ``applyInPandas`` kernel that computes the whole within-cluster
    cosine matrix in numpy — quadratic ONLY within a cluster, with
    `n_cells` the blocking knob (the paper's own GPU-per-cluster shape;
    at 100 TB pick n_cells so n/k ≈ 10⁴-10⁵ vectors per block —
    *max_cluster_rows* fails fast when a block outgrows a worker).  The
    kernel replays the engine's float sequence exactly — dims
    accumulated SEQUENTIALLY in fold order (never np.dot's BLAS order),
    6 dp half-away rounding via ``_np_round6_int64`` — so the *tau*
    comparison is bit-identical in any engine (the SQL oracle passes on
    the same arithmetic).  A first formulation as a per-pair Catalyst
    HOF fold was 16 s at sf0.1 (interpreted re-fold per pair, the
    BENCH_DIFF expression-blowup family); the kernel hoists norms and
    reuses each dim's column across the whole block."""
    vectors = _drop_null_vec(vectors, vec_col)
    seeds = kmeans_fit(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        train_iters=train_iters,
        train_fraction=train_fraction,
    )
    members = (
        _with_vec(vectors, vec_col, "v", F.col(id_col))
        .crossJoin(F.broadcast(_pack(seeds)))
        .select(F.col(id_col), "v_vec", _best_cell_scored().id.alias("cluster_id"))
    )
    tau6 = int(math.floor(float(tau) * 1e6 + 0.5))
    out_schema = (
        f"{id_col} long, cluster_id long, is_semdup int, best_prior_cos double"
    )

    def score_block(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup cluster of {len(pdf)} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; raise n_cells"
            )
        pdf = pdf.sort_values(id_col)
        X = np.array(pdf["v_vec"].tolist(), dtype=np.float64)
        n = len(pdf)
        best = np.full(n, np.nan)
        if n > 1:
            # sequential-dim accumulation: P[i,j] replays the engine's
            # left-fold dot product float-for-float
            P = np.outer(X[:, 0], X[:, 0])
            sq = X[:, 0] * X[:, 0]
            for d in range(1, X.shape[1]):
                P = P + np.outer(X[:, d], X[:, d])
                sq = sq + X[:, d] * X[:, d]
            norms = np.sqrt(sq)
            C6 = _np_round6_int64(P / np.outer(norms, norms))
            qual = np.triu(C6 >= tau6, k=1)  # row i (prior) < col j
            sent = np.iinfo(np.int64).min
            M = np.where(qual, C6, sent).max(axis=0)
            hit = M > sent
            best[hit] = M[hit] / 1e6
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cluster_id": pdf["cluster_id"].to_numpy(),
                "is_semdup": (~np.isnan(best)).astype("int32"),
                # NaN must surface as SQL NULL, not double-NaN — route
                # through pandas' masked Float64 so Arrow emits nulls
                "best_prior_cos": pd.array(best, dtype="Float64"),
            }
        )

    return (
        members.groupBy("cluster_id")
        .applyInPandas(score_block, out_schema)
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("is_semdup"),
            F.col("best_prior_cos"),
        )
    )
