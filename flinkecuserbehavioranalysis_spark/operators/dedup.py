"""Document deduplication family (extension — training-data pipeline).

Not present in the reference (its only distinct-like operator is UV
counting, SURVEY.md §2.3); these are the operators a 100 TB corpus
pipeline needs.  All hashing is md5-based so results are engine-portable
(the DuckDB oracle computes the identical signatures) and every step is
pure DataFrame algebra — shuffles on (shingle), (band key) or
(fingerprint), never a driver-side loop:

- **exact**: group by text hash, keep min doc_id.  One shuffle on the
  128-bit fingerprint — at 100 TB use this, never pairwise compare.
- **MinHash + LSH**: shingle → k md5 min-hashes → band keys → candidate
  pairs join on (band_idx, band_key).  The band join is the scale path:
  candidate generation is linear in corpus size + output pairs, versus
  the quadratic all-pairs join.
- **n-gram Jaccard**: exact pairwise similarity via an inverted-index
  join on shingles (common-shingle counting), used as ground truth for
  MinHash and for final verification of LSH candidates.
- **SimHash**: 16-bit sign-sum signature per doc; near-dup docs share
  buckets.  Signature computation is one shuffle (explode tokens +
  groupBy doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_ODD = ("1", "3", "5", "7", "9", "b", "d", "f")


def _shingle_expr(text_col: str, n: int, pre_split: bool = False) -> str:
    """Word n-gram shingles as a SQL expression (empty array if < n words).

    ``pre_split=True`` treats *text_col* as an ALREADY-SPLIT token-array
    column.  Callers should project ``split(text, ' ')`` to a column
    first and pass that: with the split inline, the ``slice`` inside the
    transform lambda re-evaluates it once per POSITION per doc — O(n²)
    tokenization (round-11 optimization; the repetition_stats lesson).
    The inline form remains for single-use sites that never reach a
    lambda.

    The DuckDB oracle uses the equivalent
    ``list_transform(range(1, len(ws)-(n-2)), i -> ws[i] || ' ' || ...)``.
    """
    ws = text_col if pre_split else f"split({text_col}, ' ')"
    return (
        f"CASE WHEN size({ws}) >= {n} THEN "
        f"transform(sequence(0, size({ws}) - {n}), i -> concat_ws(' ', slice({ws}, i+1, {n}))) "
        f"ELSE array() END"
    )


def _split_col(text_col: str):
    """``split(text, ' ')`` as a Column — the pre-projection companion
    to ``_shingle_expr(..., pre_split=True)``."""
    return F.split(F.col(text_col), " ")


def shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(doc, word-n-gram) pairs — the base relation for MinHash and
    Jaccard.  *distinct* costs a shuffle; pass False for consumers that
    are duplicate-insensitive (min-hash: min over a multiset equals min
    over its set), keeping shingling map-side only."""
    # row i of the zip holds tokens i..i+n-1 (NULL-padded past the end):
    # the n-gram starting at token i, with no lambda per position
    ws = F.col("__ws")
    grams = [f"__g{i}" for i in range(n)]
    out = (
        docs.select(F.col(id_col), _split_col(text_col).alias("__ws"))
        .select(id_col, F.inline(F.arrays_zip(*[F.slice(ws, i + 1, F.size(ws)) for i in range(n)])))
        .toDF(id_col, *grams)
        .where(F.col(grams[-1]).isNotNull())
        .select(id_col, F.concat_ws(" ", *grams).alias("sh"))
    )
    return out.distinct() if distinct else out


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one surviving doc per distinct text.

    Returns (fingerprint, keep_id, n_dups).  Hash-groupBy — the only
    sane exact strategy at corpus scale."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
) -> DataFrame:
    """k md5 min-hash values per doc (hex-string min ≡ uniform min-hash).

    Hash family i uses the 8-hex-char (32-bit) chunk i%4 of
    md5(seed-prefix i//4 | shingle) — ceil(k/4) md5 evaluations per
    shingle instead of k (md5 dominates signature cost).  String min
    over fixed-width hex chunks is order-isomorphic to integer min, so
    no bigint conversion is needed (and the oracle matches
    byte-for-byte).  Shingles stay non-distinct: min is
    duplicate-insensitive, so shingling runs map-side and the only
    shuffle is this aggregation's partial/final split on *id_col*.

    The signature relation (one row per doc, k 8-hex-char strings) is
    PINNED in the session frame cache: it is the shared base of the
    whole MinHash family (candidates → LSH/verified pairs, the
    estimate pass reads it TWICE — directly and through candidates —
    and the incremental band index derives from it), and the md5 pass
    over the non-distinct shingle stream is the family's dominant cost
    (round-11 optimization)."""
    from .. import cache as _frame_cache

    def build() -> DataFrame:
        sh = shingles(docs, id_col, text_col, n, distinct=False)
        digests = {
            j: F.md5(F.concat(F.lit(f"{j}|"), F.col("sh"))) for j in range((k + 3) // 4)
        }
        aggs = [
            F.min(F.substring(digests[i // 4], (i % 4) * 8 + 1, 8)).alias(f"h{i}")
            for i in range(k)
        ]
        return sh.groupBy(id_col).agg(*aggs).localCheckpoint(eager=False)

    app = docs.sparkSession.sparkContext.applicationId
    return _frame_cache.pin(
        (app, "minhash_signatures", docs.semanticHash(), id_col, text_col, n, k),
        build,
    )


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 of *bands* band keys.

    Returns (doc_a, doc_b) with doc_a < doc_b.  The pair join shuffles
    on (band_idx, band_key) — bucket sizes are the skew knob: more rows
    per band → fewer, higher-precision candidates."""
    long = _band_keys(docs, id_col, text_col, n, k, bands)
    a, b = long.alias("a"), long.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_max: int | None = None,
    intersections: DataFrame | None = None,
) -> DataFrame:
    """Jaccard over word n-gram shingle sets — EXACT when *df_max* is
    None or does not bind; with a binding *df_max* the emitted value is
    the exact Jaccard of the **df-filtered** shingle sets, which can
    overstate the similarity of pairs whose only shared shingles are
    rare (the dropped hot shingles would have inflated the union).
    Callers needing to detect capped pairs should compare ``sza``/
    ``szb`` against uncapped shingle counts or run with ``df_max=None``
    on a candidate subset.

    Mechanism: inverted-index join (pairs sharing ≥1 surviving shingle),
    |A∩B| counting, then |A∩B| / (|A|+|B|-|A∩B|).  Returns (doc_a,
    doc_b, jaccard).  The ratio is emitted as the raw IEEE double
    (identical in any engine) — decimal rounding is NOT applied because
    integer ratios are often dyadic (e.g. 1/128 = 0.0078125) and
    half-way rounding then differs across engines.

    *df_max* bounds the inverted-index join: shingles appearing in more
    than *df_max* documents are dropped from the shingle universe BEFORE
    the self-join (a stopword-like shingle otherwise contributes df²
    candidate pairs — the one thing that can blow this operator up at
    corpus scale).  Still quadratic in (capped) per-shingle document
    frequency — at 100 TB run it only on MinHash candidates (compose:
    ``minhash_candidates`` → semi-join → this, or use
    ``lsh_verified_pairs``).  *intersections* lets callers share one
    computed (doc_a, doc_b, common, sza, szb) relation across the
    Jaccard/containment family (persist it once per corpus)."""
    if intersections is None:
        intersections = _pair_intersections(docs, id_col, text_col, n, df_max)
    jac = intersections.withColumn(
        "jaccard",
        F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def _pair_intersections(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_max: int | None = None,
) -> DataFrame:
    """Shared inverted-index core of the exact set-overlap operators:
    (doc_a, doc_b, common, sza, szb) for every pair sharing ≥1
    (df-surviving) shingle.  See ``ngram_jaccard_pairs`` for the df_max
    semantics and the quadratic-cost caveat."""
    sh = shingles(docs, id_col, text_col, n)
    if df_max is not None:
        # df as a window count over sh, not a groupBy joined back: the
        # ``a.id < b.id`` below infers ``isnotnull(id)``, which the
        # optimizer pushes through a join into the shingle scan of one
        # branch only, so the two branches shingled the corpus twice.
        # It cannot pass a window partitioned by sh: every consumer
        # shares one shingle stage, NULL-id documents still count
        # toward df, and the output stays partitioned on sh for the
        # self-join (sf0.1, 4 cores, warm: 5.8-5.9 s against 6.2-7.4 s)
        df = F.count(F.lit(1)).over(Window.partitionBy("sh"))
        sh = sh.withColumn("__df", df).where(F.col("__df") <= df_max).drop("__df")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("szb"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_max: int | None = None,
    intersections: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT — |A∩B| / min(|A|, |B|) — the
    partial-duplication detector Jaccard structurally misses: a short
    document quoted wholesale inside a long one has tiny Jaccard (the
    union is dominated by the long side) but containment ≈ 1.  This is
    the check that catches boilerplate wrappers, quoted articles and
    prompt-template expansions in a training corpus.

    Returns (doc_a, doc_b, containment_a, containment_b, containment)
    where containment_a = |A∩B|/|A| (fraction of A inside B),
    containment_b likewise, and ``containment`` = the max of the two =
    |A∩B|/min(|A|,|B|); pairs with ``containment`` ≥ *threshold*.
    Ratios are raw IEEE doubles (engine-identical; no decimal rounding
    — dyadic ratios would round differently across engines).

    Same inverted-index core and *df_max* discipline as
    ``ngram_jaccard_pairs`` (and the same 100 TB advice: run on LSH
    candidates, not the raw corpus)."""
    c = (
        _pair_intersections(docs, id_col, text_col, n, df_max)
        if intersections is None
        else intersections
    )
    out = c.select(
        "doc_a",
        "doc_b",
        (F.col("common") / F.col("sza")).alias("containment_a"),
        (F.col("common") / F.col("szb")).alias("containment_b"),
        (F.col("common") / F.least(F.col("sza"), F.col("szb"))).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)


def duplicate_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
    deep: bool = False,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the step that
    turns pairwise dup evidence into duplicate CLUSTERS so one canonical
    doc per cluster survives (pairs alone under-delete: a~b, b~c keeps
    both a and c unless the transitive closure is taken).

    Default (``deep=False``) — hash-min label propagation: every node
    starts labeled with its own id; each round a node takes the min of
    its own and its neighbors' labels; at fixpoint every member of a
    component carries the component-min id.  Rounds needed = graph
    diameter, and near-dup components are shallow (a cluster of
    rewrites of one page), so this converges in a handful of rounds;
    each round is one join + one groupBy-min on the (tiny, ∝ #dup-docs)
    label frontier — never on the corpus.

    ``deep=True`` — alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): rounds REWRITE the
    edge set toward stars rooted at each component min, converging in
    O(log n) rounds regardless of diameter — the escape hatch for
    adversarially deep graphs (long chains of crawl mirrors) where
    hash-min's diameter-many rounds would grind.  Same join/groupBy
    shapes per round, identical output labels — property-tested equal
    on shared fixtures, and floor-tested to converge on a 1,000-node
    path inside ~2·log2(n) rounds.

    EAGER BY CONTRACT: the per-round ``localCheckpoint`` + scalar
    convergence probe are Spark actions, so calling this function runs
    the whole propagation (and the upstream pair plan) immediately —
    the returned DataFrame is a view over materialized labels, not a
    deferred plan.  Callers building several queries over the same
    edge set should build the mapping once and share it (the registry
    memoizes per (session, sf_dir) — see ``plans.queries._cached_canon``).

    The edge set is materialized once via ``localCheckpoint`` so the
    upstream pair plan (often an LSH pipeline) is not re-executed per
    round and the loop's lineage stays flat.  On a real cluster prefer
    ``spark.sparkContext.setCheckpointDir`` + reliable ``checkpoint``
    for fault tolerance; executor-local blocks are fine for this
    container.  Convergence is detected by the monotone non-increasing
    sum of labels going flat — one cheap scalar agg per round instead of
    a changed-rows join.

    Returns (v, label): every node that appears in *pairs*, labeled with
    its component's min id.  Deterministic (min is order-insensitive).
    Raises ``RuntimeError`` when *max_iter* rounds pass without
    convergence: a cut loop's labels split components.
    """
    if deep:
        return _star_components(pairs, a_col, b_col, max_iter)
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("v")).distinct().withColumn("label", F.col("v"))
    prev_sum = None
    for _ in range(max_iter):
        prop = edges.join(labels, edges["dst"] == labels["v"]).select(
            edges["src"].alias("v"), labels["label"]
        )
        labels = (
            labels.union(prop).groupBy("v").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        s = labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        if s == prev_sum:
            return labels
        prev_sum = s
    raise _unconverged("hash-min", max_iter)


def _unconverged(loop: str, max_iter: int) -> RuntimeError:
    """A components loop cut at *max_iter* rounds holds partial labels
    (a component split in several), so it raises instead of returning."""
    return RuntimeError(
        f"duplicate_components: {loop} did not converge in max_iter={max_iter} rounds; "
        "raise max_iter, or use deep=True on deep graphs"
    )


def _star_components(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.) —
    the ``deep=True`` engine of ``duplicate_components``.

    Edges are kept canonical as (a, b) with a < b.  Per round:

    - **large-star**: per center u over its full neighborhood N(u),
      m = min(N(u) ∪ {u}); every STRICTLY LARGER neighbor v > u is
      re-wired to m.  Long chains halve: far nodes skip past their
      center straight to its local min.
    - **small-star**: orient every edge toward its larger endpoint
      (center u = max side, so N(u) is all smaller); m = min(N(u) ∪
      {u}); re-wire N(u) ∪ {u} minus m itself onto m — collapsing the
      center's smaller fringe into one star.

    Both emissions keep a < b by construction (m is a minimum), so the
    canonical form is preserved without re-sorting.  Per-neighborhood
    minima ride a ``min() OVER (PARTITION BY u)`` window instead of a
    groupBy + join back (r12, guide §2.4: same key, one exchange —
    drops two join shuffles per round; values identical).

    Convergence (r12): a canonical edge set is a round fixpoint IFF it
    is a star forest — every member has exactly ONE root edge and no
    node is both a root and a member.  (⇐: centers that are roots have
    m = u, member centers see only their smaller root, so both phases
    re-emit the set unchanged.  ⇒: the paper's fixpoint structure.)
    The old loop detected this by running one extra FULL round and
    comparing edge sets (count + exceptAll); the star-forest test runs
    as ONE aggregation on the just-materialized frontier — per-node
    (is-root, #root-edges) flags, violated rows counted — so the loop
    stops one whole round earlier with the identical final edge set
    (the skipped round provably re-emits its input).  Same
    eager-by-contract semantics: per-round localCheckpoint + the scalar
    probe are actions.

    Returns (v, label) with the same schema/values as hash-min."""

    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes is a lazy view over the checkpointed edges (single consumer,
    # the final left join) — its old eager checkpoint was one more
    # driver-blocking job per call for no reuse (r12, guide §5)
    nodes = (
        edges.select(F.col("a").alias("v"))
        .union(edges.select(F.col("b").alias("v")))
        .distinct()
    )

    def _is_star_forest(e: DataFrame) -> bool:
        # one action: per node, whether it appears as a root (a) and how
        # many member edges (b) it carries; a star forest has no node in
        # both roles and no member with 2+ root edges
        roles = e.select(F.col("a").alias("n"), F.lit(1).alias("ia"), F.lit(0).alias("ib")).union(
            e.select(F.col("b").alias("n"), F.lit(0), F.lit(1))
        )
        bad = (
            roles.groupBy("n")
            .agg(F.max("ia").alias("ia"), F.sum("ib").alias("nb"))
            .filter((F.col("nb") > 1) | ((F.col("ia") == 1) & (F.col("nb") >= 1)))
            .limit(1)
            .count()
        )
        return bad == 0

    # no pre-loop probe: real pair graphs are never already star forests
    # (they'd need every dup cluster to arrive pre-rooted), so the probe
    # would be one wasted job per call; the first round is harmless on a
    # star forest anyway (it re-emits its input — the fixpoint proof)
    cur = edges
    for _ in range(max_iter):
        # large-star over the symmetric view; window min per center
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        wu = Window.partitionBy("u")
        ls = (
            sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter((F.col("v") > F.col("u")) & (F.col("m") != F.col("v")))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        # small-star: center = larger endpoint, fringe = smaller
        sym2 = ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        s2 = sym2.withColumn("m", F.min("v").over(wu))
        ss_fringe = s2.filter(F.col("v") != F.col("m")).select(
            F.col("m").alias("a"), F.col("v").alias("b")
        )
        ss_center = s2.select(F.col("m").alias("a"), F.col("u").alias("b"))
        cur = ss_fringe.union(ss_center).distinct().localCheckpoint(eager=True)
        if _is_star_forest(cur):
            break
    else:
        raise _unconverged("large-star/small-star", max_iter)
    # at the fixpoint every member has exactly one root edge
    member = cur.select(F.col("b").alias("v"), F.col("a").alias("label"))
    return nodes.join(member, "v", "left").select(
        "v", F.coalesce(F.col("label"), F.col("v")).alias("label")
    )


def canonicalize_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Full-corpus canonical-id assignment: every doc mapped to the min
    id of its duplicate component (itself when it has no near-dups).
    ``filter(doc_id == canonical_id)`` is then the deduplicated corpus.

    The component labels cover only docs that appear in *pairs* (∝ dup
    docs, a small fraction of the corpus), so the final join is a
    broadcast-sized enrichment of the full scan, not a corpus shuffle.

    Returns (doc_id, canonical_id) for every doc in *docs*."""
    comp = duplicate_components(pairs, a_col, b_col).withColumnRenamed("v", id_col)
    return (
        docs.select(id_col)
        .join(F.broadcast(comp), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("canonical_id"),
        )
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """16-bit SimHash: per token, md5 hex digit b's parity votes ±1 on
    bit b; the signature is the sign vector.  Returns (doc_id, simhash)
    with simhash as a '0'/'1' string (MSB-first).  Token multiplicity
    weights votes (standard SimHash)."""
    toks = docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    h = F.md5(F.col("tok"))
    votes = [
        F.sum(
            F.when(F.substring(h, b + 1, 1).isin(*_HEX_ODD), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    bit_cols = [F.when(F.col(f"v{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
    return agg.select(F.col(id_col), F.concat(*bit_cols).alias("simhash"))


def collapse_exact_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exact-duplicate collapse for the text near-dup pipeline: every
    SHINGLABLE doc (≥ *n* words — shorter docs produce no shingles, no
    signature, and can never pair) mapped to its byte-identical group's
    representative (min id), grouped via md5(text).  Returns (id_col,
    __rep).  The mandatory pre-step before pairwise machinery at corpus
    scale: a duplicate flood is a CLIQUE, so candidate pairs and the
    shingle-intersection verify grow |group|² if run on members — at
    100 TB a million-copy boilerplate group is ~5·10¹¹ pairs.  One
    shuffle on the md5 fingerprint."""

    eligible = docs.where(F.expr(f"size(split({text_col}, ' ')) >= {n}"))
    return eligible.select(
        F.col(id_col),
        F.min(id_col).over(Window.partitionBy(F.md5(F.col(text_col)))).alias("__rep"),
    )


def _lsh_verified_rep_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH candidates + exact-Jaccard verification over an
    already-exact-collapsed doc set — the engine under
    ``lsh_verified_pairs``.  Returns (doc_a, doc_b, jaccard) ≥
    *threshold*.  The quadratic exact comparison runs on |candidates|
    pairs (∝ true near-dups), never on n²; the intersection count joins
    candidates to the shingle relation on (doc, shingle) — linear in
    candidate pairs × shingles per doc."""
    cand = minhash_candidates(docs, id_col, text_col, n, k, bands)
    sh = shingles(docs, id_col, text_col, n)
    jac = _candidate_jaccard(cand, sh, sh, id_col, "doc_a", "doc_b")
    return jac.filter(F.col("jaccard") >= threshold)


def _candidate_jaccard(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """Exact Jaccard of each candidate pair (a, b): |A∩B| from joining
    the pair to side a's shingle relation *sh_a* and then to side b's
    *sh_b* on (doc, shingle), over |A| + |B| - |A∩B|.  Both shingle
    relations are (id_col, sh); the join is linear in candidate pairs ×
    shingles per doc, never in corpus².  Returns (a, b, jaccard)."""

    def sizes(sh: DataFrame, side: str, name: str) -> DataFrame:
        sz = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
        return sz.select(F.col(id_col).alias(side), F.col("__sz").alias(name))

    common = (
        cand.join(sh_a.select(F.col(id_col).alias(a), "sh"), a)
        .join(sh_b.select(F.col(id_col).alias(b), "sh"), [b, "sh"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jaccard = F.col("common") / (F.col("sza") + F.col("szb") - F.col("common"))
    return (
        common.join(sizes(sh_a, a, "sza"), a)
        .join(sizes(sh_b, b, "szb"), b)
        .select(a, b, jaccard.alias("jaccard"))
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, id_col: str, a: str, b: str, score: str
) -> DataFrame:
    """Expand verified representative pairs (a, b, score) back to the
    member-level pair list through the exact-collapse membership map
    *members* (id_col, __rep): a pair across two groups inherits its
    representatives' *score*, and a pair inside one group is emitted at
    1.0 with no further work (identical items share every band, and
    their exact score is 1.0).  Returns (a, b, score), a < b."""
    ma = members.select(F.col("__rep").alias("__ra"), F.col(id_col).alias("__ida"))
    mb = members.select(F.col("__rep").alias("__rb"), F.col(id_col).alias("__idb"))
    inter = (
        rep_pairs.join(ma, rep_pairs[a] == F.col("__ra"))
        .join(mb, rep_pairs[b] == F.col("__rb"))
        .select(F.least("__ida", "__idb").alias(a), F.greatest("__ida", "__idb").alias(b), score)
    )
    intra = ma.join(
        mb, (F.col("__ra") == F.col("__rb")) & (F.col("__ida") < F.col("__idb"))
    ).select(F.col("__ida").alias(a), F.col("__idb").alias(b), F.lit(1.0).alias(score))
    return inter.unionByName(intra)


def _member_edges(
    rep_pairs: DataFrame, members: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """Connectivity edges (a, b): the verified representative pairs plus
    one member→representative edge per exact duplicate (*members* is
    the membership map (id_col, __rep)) — linear in members where the
    pair list is quadratic in group size, with identical components."""
    edges = members.where(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias(a), F.col(id_col).alias(b)
    )
    return rep_pairs.select(a, b).unionByName(edges)


def lsh_verified_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The composed corpus-scale dedup pipeline: exact-duplicate
    collapse, then MinHash+LSH candidates + exact-Jaccard verification
    on distinct texts only, then expansion back to the member-level
    pair list.  Returns (doc_a, doc_b, jaccard) with jaccard ≥
    *threshold* — identical to running the pipeline on every doc
    (byte-identical texts share every band, so intra-group candidates
    were always found, and their exact Jaccard is exactly 1.0).

    Post-collapse, a duplicate flood costs the expansion join
    (output-sized — unavoidable for a pair-list interface) instead of
    |group|² signature/verify work; callers that only need CONNECTIVITY
    should use ``lsh_dedup_edges`` and never materialize the clique."""
    members = collapse_exact_docs(docs, id_col, text_col, n)
    reps = docs.join(
        members.where(F.col(id_col) == F.col("__rep")).select(id_col), id_col
    )
    rep_pairs = _lsh_verified_rep_pairs(reps, id_col, text_col, n, k, bands, threshold)
    return _expand_rep_pairs(rep_pairs, members, id_col, "doc_a", "doc_b", "jaccard")


def lsh_dedup_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Connectivity edges (doc_a, doc_b) for near-dup COMPONENTS without
    materializing duplicate cliques: verified representative pairs plus
    one member→representative edge per exact duplicate — linear in
    members, identical connected components (the representative IS the
    group min, so component min-labels are unchanged).  The 100 TB-safe
    input for ``canonicalize_duplicates``."""
    members = collapse_exact_docs(docs, id_col, text_col, n)
    reps = docs.join(
        members.where(F.col(id_col) == F.col("__rep")).select(id_col), id_col
    )
    rep_pairs = _lsh_verified_rep_pairs(reps, id_col, text_col, n, k, bands, threshold)
    return _member_edges(rep_pairs, members, id_col, "doc_a", "doc_b")


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    *n*-gram shingles with a held-out *benchmark* set — the overlap
    check every serious training-data pipeline runs so eval questions
    don't leak into the training split.

    Returns (id, n_overlap, n_grams, overlap_share) for documents with
    at least *min_overlap* DISTINCT shared shingles, where ``n_grams``
    is the document's own distinct-shingle count and ``overlap_share``
    the contaminated fraction — thresholdable downstream (drop, or
    re-route to the eval split).

    Scale shape: the benchmark shingle set is distinct-reduced and
    BROADCAST (benchmarks are MBs against a 100 TB corpus); corpus
    shingling is map-side (per-row ``array_distinct`` keeps the explode
    duplicate-free without a (doc, shingle) shuffle), so the only
    shuffles are the per-doc overlap count — group count bounded by the
    contaminated-doc count — and the id-keyed join attaching each
    contaminated doc's own shingle count.  The per-doc total rides a
    SEPARATE map-only branch rather than a column next to the explode:
    a non-generator expression projected alongside ``explode`` is
    re-evaluated per OUTPUT row (the whole shingle transform × shingles
    per doc — measured 29x on this query), the classic Generate
    pitfall.  If the benchmark ever outgrows broadcast range, swap the
    broadcast join for a bloom-filter pre-filter plus a shuffle
    semi-join; the rest of the plan is unchanged."""
    arr = F.array_distinct(F.expr(_shingle_expr("__ws", n, pre_split=True)))
    bench = (
        benchmark.select(_split_col(text_col).alias("__ws"))
        .select(F.explode(F.array_distinct(F.expr(_shingle_expr("__ws", n, pre_split=True)))).alias("sh"))
        .distinct()
    )
    corpus_ws = corpus.select(F.col(id_col), _split_col(text_col).alias("__ws"))
    hits = (
        corpus_ws.select(F.col(id_col), F.explode(arr).alias("sh"))
        .join(F.broadcast(bench), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    totals = corpus_ws.select(F.col(id_col), F.size(arr).cast("long").alias("n_grams"))
    return hits.join(totals, id_col).select(
        F.col(id_col),
        "n_overlap",
        "n_grams",
        F.round(F.col("n_overlap") / F.col("n_grams"), 6).alias("overlap_share"),
    )


def repeated_gram_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document exact-substring duplication profile — the
    distributed restatement of suffix-array substring dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): instead of one global suffix array, every token position
    contributes its *w*-token window, and a window is "duplicated" when
    the identical window appears in at least *min_docs* distinct
    documents.  ``dup_share`` (duplicated positions / total positions)
    is the per-doc boilerplate fraction pipelines threshold on before
    span-level clipping.

    Returns (id, n_grams, n_dup_grams, dup_share); every input doc gets
    a row (0/0.0 when shorter than *w* tokens).

    Scale shape: windowing is map-side (the same Generate-safe shingle
    explode as MinHash — per-position, NOT distinct), and the corpus-
    scale gram relation feeds EXACTLY ONE shuffle: a (gram, doc)
    aggregate keeping per-doc occurrence counts.  Both downstream
    branches consume that aggregate — the document-frequency filter
    (gram-keyed count over the already-distinct pairs) and the per-doc
    duplicated-position sum (join on the hot grams, sum of occurrence
    counts) — so the shingle Generate runs once and the second pass is
    over the (gram, doc)-distinct relation, which boilerplate-heavy
    corpora shrink by the per-doc repetition factor.  (The previous
    two-branch form shuffled the raw position relation twice on
    different keys — no exchange reuse; measured ~4.4 s → ~3 s warm at
    sf0.1, and the second pass no longer scales with per-doc
    repetition.)  All keys are md5-sized gram strings, uniformly distributed
    by construction; hot grams concentrate on few keys but every count
    is partial-aggregated, so skew lands after map-side combine."""
    pos = shingles(docs, id_col, text_col, n=w, distinct=False)
    per_doc = pos.groupBy("sh", id_col).agg(F.count(F.lit(1)).alias("n_occ"))
    hot = (
        per_doc.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("sh")
    )
    dup = (
        per_doc.join(hot, "sh")
        .groupBy(id_col)
        .agg(F.sum("n_occ").cast("long").alias("n_dup"))
    )
    totals = docs.select(
        F.col(id_col),
        F.greatest(
            F.size(F.split(F.col(text_col), " ")) - F.lit(w - 1), F.lit(0)
        )
        .cast("long")
        .alias("n_grams"),
    )
    return totals.join(dup, id_col, "left").select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_grams"),
        F.when(
            F.col("n_grams") > 0,
            F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_share"),
    )


def repeated_gram_hotlist(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 8,
    min_docs: int = 2,
    topk: int = 50,
) -> DataFrame:
    """The *k* most-repeated cross-document *w*-token windows — the
    "what IS the boilerplate" companion to :func:`repeated_gram_stats`
    (license headers, navigation chrome, template sentences).

    Returns (gram, df, n_occ) ordered by total occurrences then doc
    frequency then gram text (total tiebreak → deterministic top-k in
    any engine).  One map-side window explode, one gram-keyed
    count/count-distinct aggregation, then TakeOrderedAndProject — no
    global sort materializes."""
    pos = shingles(docs, id_col, text_col, n=w, distinct=False)
    return (
        pos.groupBy("sh")
        .agg(
            F.countDistinct(id_col).alias("df"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("df") >= min_docs)
        .orderBy(F.desc("n_occ"), F.desc("df"), F.asc("sh"))
        .limit(topk)
        .select(F.col("sh").alias("gram"), "df", "n_occ")
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Manku-Jarvelin-Sarma web-dedup (WWW'07): near-duplicate pairs by
    SimHash HAMMING distance.  By pigeonhole, two signatures within
    *max_hamming* = bands−1 bit flips agree EXACTLY on at least one of
    *bands* contiguous blocks — so candidates are found by an equi-join
    on (band_idx, band_bits) and only candidates pay the Hamming
    verify.  Returns (doc_a, doc_b, hamming) with doc_a < doc_b,
    hamming ≤ max_hamming, deduped across bands.

    Scale shape: identical to MinHash banding — one signature pass
    (token explode + per-doc vote aggregation), a band-keyed self-join
    whose bucket sizes are the skew knob (64-bit signatures and more
    bands at corpus scale), then a constant-cost XOR-popcount per
    candidate.  *max_hamming* must be < *bands* for the pigeonhole
    recall guarantee (asserted).

    The verified pair set is PINNED in the session frame cache (the
    ``_doc_lsh_pairs`` discipline): two registry queries consume the
    same bits=32 pair relation (the pair report and the method-
    agreement meta-evaluation), and without the pin each re-ran the
    corpus-scale signature pass + band self-join per call.  Pair-set
    sized; keyed on the input plan hash + every parameter."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for "
            "the pigeonhole guarantee"
        )
    if bits % bands:
        raise ValueError(f"bits ({bits}) must divide evenly into bands ({bands})")
    width = bits // bands

    def build() -> DataFrame:
        # integer signature: the per-candidate verify is ONE xor + popcount
        # (bit_count), not a bits-long character comparison — the hot loop
        # at candidate volume
        sig = simhash(docs, id_col, text_col, bits).select(
            F.col(id_col), F.conv("simhash", 2, 10).cast("long").alias("sig_int")
        )
        band_cols = [
            F.shiftrightunsigned(F.col("sig_int"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias(f"b{b}")
            for b in range(bands)
        ]
        long = sig.select(F.col(id_col), "sig_int", *band_cols).select(
            F.col(id_col),
            "sig_int",
            F.expr(
                "stack({}, {}) as (band_idx, band_bits)".format(
                    bands, ", ".join(f"{b}, b{b}" for b in range(bands))
                )
            ),
        )
        a, b = long.alias("a"), long.alias("b")
        ham = F.bit_count(F.col("a.sig_int").bitwiseXOR(F.col("b.sig_int")))
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_bits") == F.col("b.band_bits"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                ham.cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
            .localCheckpoint(eager=False)
        )

    from .. import cache as _frame_cache

    app = docs.sparkSession.sparkContext.applicationId
    return _frame_cache.pin(
        (
            app,
            "simhash_hamming_pairs",
            docs.semanticHash(),
            id_col,
            text_col,
            bits,
            bands,
            max_hamming,
        ),
        build,
    )


def minhash_estimate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    min_estimate: float = 0.5,
) -> DataFrame:
    """Jaccard ESTIMATED from signature agreement — the verify-free
    first pass at corpus scale: for LSH candidate pairs, the fraction
    of the k min-hashes that agree is an unbiased estimator of the
    Jaccard similarity (E[h_min(A)=h_min(B)] = J), so no shingle sets
    are ever re-read.  Returns (doc_a, doc_b, jaccard_est) for
    candidates with estimate ≥ *min_estimate*.

    ±1/√k resolution — k=12 splits [0,1] into 13 steps, good enough to
    triage before an exact ``lsh_verified_pairs`` pass on survivors; at
    100 TB this joins two signature-sized relations (k small ints per
    doc) instead of replaying tokenization."""
    sig = minhash_signatures(docs, id_col, text_col, n, k)
    cand = minhash_candidates(docs, id_col, text_col, n, k, bands)
    sa = sig.select(F.col(id_col).alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col(id_col).alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)])
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(k))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(k)), 6).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= min_estimate)
    )


def _band_keys(
    docs: DataFrame, id_col: str, text_col: str, n: int, k: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_key) relation — the LSH probe side of a
    signature index."""
    rows = k // bands
    sig = minhash_signatures(docs, id_col, text_col, n, k)
    cols = [
        F.md5(F.concat_ws("", *[F.col(f"h{b * rows + r}") for r in range(rows)])).alias(f"b{b}")
        for b in range(bands)
    ]
    stack_args = ", ".join(f"{b}, b{b}" for b in range(bands))
    return sig.select(F.col(id_col), *cols).select(
        F.col(id_col), F.expr(f"stack({bands}, {stack_args}) as (band_idx, band_key)")
    )


def incremental_dedup_flags(
    new_docs: DataFrame,
    base_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest dedup — the production shape: a NEW batch is
    checked against the EXISTING corpus without ever self-joining
    either side.  Band keys of the new batch probe the base corpus's
    band keys (a cross equi-join: new-batch-sized × bucket hit rate,
    NOT corpus²); candidate pairs alone pay the exact Jaccard verify
    (the df-capped inverted-index core restricted to candidate docs).

    Returns one row per new doc: (id, n_candidates, best_jaccard —
    max verified Jaccard against the base, NULL when no candidate
    verifies, is_dup ∈ {0,1} at *threshold*).

    At 100 TB the base band keys are a materialized index (written
    partitioned by band with ``io.write_partitioned``); each daily batch
    probes it and appends its own keys — cost scales with the batch,
    never the corpus."""
    nb = _band_keys(new_docs, id_col, text_col, n, k, bands)
    bb = _band_keys(base_docs, id_col, text_col, n, k, bands)
    cand = (
        nb.alias("a")
        .join(
            bb.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"), F.col(f"b.{id_col}").alias("base_id")
        )
        .distinct()
    )
    # exact verify on candidates only
    jac = _candidate_jaccard(
        cand,
        shingles(new_docs, id_col, text_col, n),
        shingles(base_docs, id_col, text_col, n),
        id_col,
        "new_id",
        "base_id",
    )
    per_new = cand.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    best = (
        jac.filter(F.col("jaccard") >= threshold)
        .groupBy("new_id")
        .agg(F.max("jaccard").alias("best_jaccard"))
    )
    return (
        new_docs.select(F.col(id_col))
        .join(per_new.withColumnRenamed("new_id", id_col), id_col, "left")
        .join(best.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long").alias("n_candidates"),
            F.col("best_jaccard"),
            F.when(F.col("best_jaccard").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("is_dup"),
        )
    )


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (Chaudhuri et al.
    ICDE'06 / Xiao et al. WWW'08 "ppjoin" family, public literature) —
    every pair with shingle Jaccard >= *threshold*, with NO df-cap
    recall compromise (contrast ``ngram_jaccard_pairs(df_max=...)``,
    which silently drops pairs whose overlap rides hot shingles).

    The prefix theorem: order each document's shingles by one GLOBAL
    canonical order (rarest-df first, shingle text as tiebreak — a total
    order, so both engines agree) and keep only the first
    ``p = sz - ceil(t*sz) + 1`` as its prefix.  If J(A,B) >= t then
    |A∩B| >= ceil(t*max(|A|,|B|)), so the intersection cannot fit
    entirely in both suffixes — the prefixes must share a shingle.
    Candidates therefore come from a self-join of the PREFIX index
    only; rare-first ordering makes prefix postings short (a hot
    shingle enters a prefix only for docs with almost nothing rarer).
    A length filter (min >= t*max, also implied by J >= t) prunes
    before verification.

    Verification is exact and candidate-bounded: per-doc sorted shingle
    arrays (doc-bounded rows) join the candidate pair set and
    ``array_intersect`` computes |A∩B| map-side — never a second
    token-level self-join.  The emitted jaccard is the raw IEEE double
    ratio (engine-identical; see ``ngram_jaccard_pairs`` for why no
    rounding).

    Use *threshold* values with exact binary representation (0.5, 0.75,
    0.625 ...) so ``ceil(t*sz)`` can never straddle an engine-specific
    float boundary.

    Cost shape: shingle explode (map-only) → one df shuffle → one
    doc-keyed window to rank prefixes (doc-bounded sorts) → prefix-index
    self-join (Σ prefix-df² pairs, the quantity the rare-first order
    minimizes) → candidate-sized verify joins.  Returns (doc_a, doc_b,
    jaccard)."""

    # three consumers (df counts, the ranking join, the verify arrays)
    # read the distinct shingle relation — a lazy checkpoint runs the
    # explode + distinct shuffle once per call.
    sh = shingles(docs, id_col, text_col, n).localCheckpoint(eager=False)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy(id_col).orderBy("__df", "sh")
    pref = (
        sh.join(dfreq, "sh")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes, id_col)
        .filter(
            F.col("__rn")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + F.lit(1)
        )
        .select(F.col(id_col), F.col("sh"), F.col("sz"), F.col("__rn"))
    )
    # ppjoin POSITIONAL filter (Xiao et al. WWW'08 §3.2), r11: a prefix
    # match at positions (i, j) bounds the overlap by
    # ubound = 1 + min(sz_a − i, sz_b − j) (both arrays are sorted by
    # the same global order, so every other common shingle lies
    # strictly after the match on both sides).  J ≥ t needs overlap
    # o ≥ t/(1+t)·(sz_a+sz_b); at the pair's FIRST common prefix
    # element ubound ≥ o, so requiring ubound to clear the bound at
    # ANY match keeps every true pair — pruning is provably lossless,
    # and the exact verify below is unchanged.  The comparison runs in
    # pure int64: t = num/den exactly (thresholds are binary-exact by
    # contract), so o ≥ t/(1+t)·S  ⟺  ubound·(num+den) ≥ num·S — no
    # float ceil boundary to straddle.  Measured at sf0.1: candidate
    # pairs 70.7k → the verified tail, the verify joins' input cut
    # proportionally.
    t_num, t_den = float(threshold).as_integer_ratio()
    # r12 (ADVICE): the int64 inequality is only wrap-safe when the
    # threshold's exact denominator is small (binary-exact contract:
    # 0.5, 0.75, …).  A non-dyadic threshold (0.8 → den ≈ 2^52) would
    # overflow ubound·(num+den) silently in non-ANSI mode and DROP true
    # pairs — so the positional filter simply turns off there (the
    # prefix join and exact verify stay lossless without it).  Bound:
    # den ≤ 2^20 keeps sz·2·den ≤ 2^41 ≪ int64 for any corpus whose
    # shingle-set sizes fit an int (they must — sz counts one doc).
    positional_safe = t_den <= (1 << 20)
    ubound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.__rn"), F.col("b.sz") - F.col("b.__rn")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .filter(
            (
                ubound * F.lit(t_num + t_den)
                >= F.lit(t_num) * (F.col("a.sz") + F.col("b.sz"))
            )
            if positional_safe
            else F.lit(True)
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    # collect_list order is nondeterministic, but only the SIZE of the
    # intersection is consumed — order-independent, so no sort needed
    toks = sh.groupBy(id_col).agg(
        F.collect_list("sh").alias("__arr"),
        F.count(F.lit(1)).alias("__sz"),
    )
    ta = toks.select(
        F.col(id_col).alias("doc_a"), F.col("__arr").alias("__aa"), F.col("__sz").alias("sza")
    )
    tb = toks.select(
        F.col(id_col).alias("doc_b"), F.col("__arr").alias("__ab"), F.col("__sz").alias("szb")
    )
    # shuffle-hash hints: the planner's size estimate for the array-
    # carrying toks relation is rows-based and WAY under its true bytes
    # (each row drags a whole shingle array), so AQE happily picks a
    # broadcast that OOMs the driver at 100x bench SF (observed at
    # sf10: "Not enough memory to build and broadcast").  SHJ builds
    # per-partition maps instead — no driver materialization at any
    # scale, and at test SF it costs only a small-relation shuffle.
    ver = (
        cand.join(ta.hint("shuffle_hash"), "doc_a")
        .join(tb.hint("shuffle_hash"), "doc_b")
        .withColumn("common", F.size(F.array_intersect("__aa", "__ab")).cast("long"))
        .withColumn(
            "jaccard", F.col("common") / (F.col("sza") + F.col("szb") - F.col("common"))
        )
    )
    return ver.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


# --- paragraph-level exact dedup (round 9) ----------------------------


def paragraph_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_words: int = 25,
    max_dup_ratio: float = 0.6,
) -> DataFrame:
    """Paragraph-granular exact dedup report (RefinedWeb/MassiveText
    line-dedup shape): fingerprint every paragraph, count corpus-wide
    repeats, flag documents dominated by boilerplate.

    The synthetic corpus carries no newlines, so a "paragraph" here is a
    fixed *para_words*-word block (the operator splits on the block
    boundary; on real crawl text pass the newline-split relation
    instead — the downstream fingerprint/count/join shape is
    unchanged).  Exactly two shuffles at any corpus size: one md5-keyed
    paragraph count (map-side combined), one doc-keyed join back.
    A paragraph is duplicated when its fingerprint occurs >1 times
    corpus-wide (same-doc repeats count — self-plagiarized boilerplate
    is still boilerplate)."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    paras = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), ws.alias("ws"))
        .where(F.size("ws") >= 1)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(size(ws) / {para_words}.0) AS INT) - 1), "
                    f"j -> array_join(slice(ws, j * {para_words} + 1, {para_words}), ' '))"
                )
            ).alias("para"),
        )
        .select(F.col(id_col), F.md5(F.col("para")).alias("fp"))
    )
    fp_counts = paras.groupBy("fp").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        paras.join(fp_counts, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_paragraphs"),
        )
    )
    ratio = F.col("n_dup_paragraphs") / F.col("n_paragraphs")
    return per_doc.select(
        F.col(id_col),
        F.col("n_paragraphs"),
        F.col("n_dup_paragraphs"),
        F.round(ratio, 6).alias("dup_ratio"),
        F.when(ratio <= max_dup_ratio, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


# --- URL canonicalization dedup (round 9) ------------------------------


def canonical_url(url) -> F.Column:
    """Canonical form of a URL for crawl dedup, as a pure Column
    expression (map-side, codegen): case-fold scheme+host, treat
    http/https as one, strip default ports / fragments / utm_* params,
    sort surviving query params, collapse duplicate slashes, strip the
    trailing slash.  Mirrors the public crawl-pipeline convention
    (e.g. Common Crawl URL normalization); the DuckDB twin applies the
    same steps with list_sort/list_filter."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(u, "#.*$", "")                       # fragment
    u = F.regexp_replace(u, "^[Hh][Tt][Tt][Pp][Ss]?://", "")  # scheme (http==https)
    host = F.lower(F.regexp_extract(u, "^([^/?]+)", 1))
    host = F.regexp_replace(host, ":(80|443)$", "")           # default ports
    rest = F.regexp_replace(u, "^[^/?]+", "")
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    path = F.regexp_replace(path, "/{2,}", "/")               # dup slashes
    path = F.regexp_replace(path, "/$", "")                   # trailing slash
    query = F.regexp_extract(rest, "\\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        host,
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(F.lit("")),
    )


def url_dedup_groups(
    pages: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Group pages by canonical URL: one row per canonical form with
    >1 raw variants — n_variants, n_distinct_raw, keeper (min id).
    Map-side canonicalization + ONE canonical-key count shuffle."""
    c = pages.select(
        F.col(id_col), F.col(url_col), canonical_url(url_col).alias("canon")
    )
    return (
        c.groupBy("canon")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.countDistinct(url_col).cast("long").alias("n_distinct_raw"),
            F.min(id_col).cast("long").alias("keeper"),
        )
        .where(F.col("n_variants") > 1)
    )


# --- eval-centric n-gram contamination report (round 9) ----------------


def contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    min_hit_share: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set-centric decontamination report (the reverse direction of
    ``ngram_contamination``, which attributes leakage to TRAIN docs):
    for every eval document — including clean ones — how many of its
    distinct word *n*-grams appear anywhere in the training corpus, and
    in how many distinct train documents.

    The gram join is keyed on the gram string (hash-partitioned; the
    train side is corpus-scale, so this is THE shuffle and it is
    key-parallel); eval docs with zero hits survive via the left join.
    Output: doc_id, n_grams, n_hit_grams, n_train_docs, hit_share
    (round 6), contaminated flag at *min_hit_share*."""

    def grams(df: DataFrame) -> DataFrame:
        ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        return (
            df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col), ws.alias("ws"))
            .where(F.size("ws") >= n)
            .select(
                F.col(id_col),
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(ws) - {n} + 1), "
                        f"i -> array_join(slice(ws, i, {n}), ' '))"
                    )
                ).alias("g"),
            )
            .distinct()
        )
    eg = grams(eval_docs)
    tg = grams(train)
    hits = (
        eg.join(tg.withColumnRenamed(id_col, "__tid"), "g")
        .groupBy(id_col)
        .agg(
            F.countDistinct("g").cast("long").alias("n_hit_grams"),
            F.countDistinct("__tid").cast("long").alias("n_train_docs"),
        )
    )
    totals = eg.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    j = totals.join(hits, id_col, "left").select(
        F.col(id_col),
        "n_grams",
        F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
        F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
    )
    share = F.col("n_hit_grams") / F.col("n_grams")
    return j.select(
        id_col,
        "n_grams",
        "n_hit_grams",
        "n_train_docs",
        F.round(share, 6).alias("hit_share"),
        (share > min_hit_share).alias("contaminated"),
    )


# --- cross-source overlap matrix (round 10) -----------------------------


def source_overlap_matrix(
    docs: DataFrame,
    n: int = 8,
    group_col: str = "source",
    text_col: str = "text",
    max_sources_per_gram: int | None = None,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus SOURCES — the forensics
    report that tells a mix curator which feeds duplicate each other
    (mirror sites, syndicated wires, re-crawls) before the per-document
    dedup even runs.

    For every unordered source pair (a < b lexicographically): the
    count of distinct word *n*-grams they share, each side's distinct
    total, both containments and the Jaccard.  NULL sources form a real
    group (both engines agree on NULL grouping; the pair key uses a ''
    sentinel so ordering is total).

    Shape: ONE explode builds the distinct (source, gram) relation —
    group-keyed, so it is |sources|× smaller than the per-doc gram
    relations the dedup family shuffles; the self-join is gram-keyed
    (key-parallel — a gram shared by k sources emits C(k,2) pair rows,
    bounded by the source count, single-digit at any SF); the final
    aggregate is pair-keyed, output ≤ C(|sources|,2) rows.  Never
    all-pairs on documents.

    *max_sources_per_gram* (round-10 verdict #6): the C(k,2) pair
    fan-out is quadratic in the number of SOURCES sharing a gram — the
    deliberate worst case when thousands of feeds all carry the same
    boilerplate.  ``None`` (the default, and what the registered query
    uses) keeps the report EXACT: dropping high-df grams would hide
    exactly the mirrors the report exists to find.  A positive cap
    drops grams shared by MORE than that many sources from the gram
    universe — consistently from both the shared counts and the
    per-source totals, so containment/Jaccard remain coherent over the
    retained universe — bounding the self-join fan-out at C(cap,2) per
    gram.  The tradeoff is visibility: a gram carried by every mirror
    of a k-way syndication ring disappears once k > cap, so pairs whose
    overlap is MOSTLY ubiquitous grams under-report; pairs sharing rare
    grams are unaffected."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    sg = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.coalesce(F.col(group_col), F.lit("")).alias("src"), ws.alias("ws"))
        .where(F.size("ws") >= n)
        .select(
            "src",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {n} + 1), "
                    f"i -> array_join(slice(ws, i, {n}), ' '))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    if max_sources_per_gram is not None:
        # one gram-keyed count + semi-join; sg is already distinct per
        # (src, gram), so the count IS the per-gram source count
        keep = (
            sg.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_sources_per_gram)
            .select("g")
        )
        sg = sg.join(keep, "g")
    totals = sg.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    a = sg.select(F.col("src").alias("src_a"), "g")
    b = sg.select(F.col("src").alias("src_b"), "g")
    shared = (
        # merge hint: BOTH sides of the gram self-join are corpus-scale
        # — a broadcast here can never be right at 100 TB, and Catalyst's
        # post-distinct size estimate undershoots badly enough to pick
        # one (caught by the sf1 live-oracle gate: broadcast OOM)
        a.hint("merge")
        .join(b.hint("merge"), "g")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ta = totals.select(F.col("src").alias("src_a"), F.col("n_grams").alias("n_a"))
    tb = totals.select(F.col("src").alias("src_b"), F.col("n_grams").alias("n_b"))
    j = shared.join(ta, "src_a").join(tb, "src_b")
    return j.select(
        "src_a",
        "src_b",
        "n_shared",
        "n_a",
        "n_b",
        F.round(F.col("n_shared") / F.col("n_a"), 6).alias("containment_a"),
        F.round(F.col("n_shared") / F.col("n_b"), 6).alias("containment_b"),
        F.round(
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6
        ).alias("jaccard"),
    )


# --- winnowing fingerprints (round 11) --------------------------------

#: positional bits inside a winnow key: key = gram_hash·2^20 + (2^20−1−i).
#: Minimizing the key minimizes the 32-bit gram hash and breaks ties by
#: the RIGHTMOST position — Schleimer et al.'s robust-winnowing tie rule
#: — as one plain BIGINT min both engines order identically.  Bound:
#: hash < 2^32, so key < 2^52 — no int64 strain; fingerprinting is
#: truncated at the first 2^20−1 grams per document so the positional
#: field never underflows (a >1M-word document keeps a stated, exact
#: prefix semantics rather than a silent encoding corruption).
_WINNOW_POS_BITS = 20
_WINNOW_POS_CAP = (1 << _WINNOW_POS_BITS) - 1


def _winnow_selected(
    docs: DataFrame,
    k: int,
    w: int,
    id_col: str,
    text_col: str,
    keep: list[str],
) -> DataFrame:
    """Per-document winnowed fingerprint KEY array (Schleimer, Schwartz
    & Aiken 2003, the MOSS local fingerprinting): hash every word
    *k*-gram, slide a *w*-window over the hash sequence, record each
    window's minimum (rightmost on ties), distinct the records.

    Guarantee (the reason winnowing beats uniform sampling): any shared
    token run of at least w + k − 1 words between two documents shares
    at least one selected fingerprint, while the expected density is
    only 2/(w+1) of the gram stream.

    Scale shape: the ENTIRE selection is per-row higher-order-function
    arithmetic (transform / slice / array_min / array_distinct) on the
    token array — map-only, whole-stage codegen, ZERO shuffles; the
    gram hash is the repo's cross-engine md5-prefix idiom.  Emits
    *keep* + ``n_grams`` (post-cap) + ``fp_keys`` (array<long>)."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    keep_cols = [F.col(c) if isinstance(c, str) else c for c in keep]
    d = (
        docs.where(F.col(text_col).isNotNull())
        .select(*keep_cols, ws.alias("__ws"))
        .where(F.size("__ws") >= k)
    )
    kept = [c for c in d.columns if c != "__ws"]
    d = d.withColumn(
        "n_grams",
        F.least(
            (F.size("__ws") - k + 1).cast("long"), F.lit(_WINNOW_POS_CAP).cast("long")
        ),
    )
    gram_hash = (
        f"CAST(conv(substring(md5(array_join(slice(__ws, i, {k}), ' ')), 1, 8), 16, 10) "
        f"AS BIGINT)"
    )
    keys = (
        f"transform(sequence(1, CAST(n_grams AS INT)), "
        f"i -> {gram_hash} * {1 << _WINNOW_POS_BITS} + ({_WINNOW_POS_CAP} - i))"
    )
    # explode(array(keys)) is a MATERIALIZATION BARRIER, not a fan-out
    # (always exactly one row): CollapseProject would otherwise inline
    # the key array into the per-window lambda below and re-hash all m
    # grams for EVERY window — O(m²·k) md5 calls per document, measured
    # as a timeout at 2 000 grams.  A Generate node pins the array to
    # one evaluation per row and stays map-side: still zero shuffles.
    d = d.select(
        *kept,
        "n_grams",
        F.explode(F.array(F.expr(keys))).alias("__keys"),
    )
    return d.withColumn(
        "fp_keys",
        F.expr(
            f"array_distinct(transform("
            f"sequence(1, CAST(greatest(1, n_grams - {w} + 1) AS INT)), "
            f"j -> array_min(slice(__keys, j, {w}))))"
        ),
    ).drop("__keys")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document winnowing report: gram count (capped at 2^20−1),
    selected fingerprint count, and density (≈ 2/(w+1) on random text —
    drift is a boilerplate/repetition alarm, since repeated content
    re-selects the same keys and density falls).  Map-only end to end:
    no shuffle anywhere in the plan."""
    d = _winnow_selected(docs, k, w, id_col, text_col, [id_col])
    return d.select(
        F.col(id_col),
        F.col("n_grams"),
        F.size("fp_keys").cast("long").alias("n_fingerprints"),
        F.round(F.size("fp_keys") / F.col("n_grams"), 6).alias("fp_density"),
    )


def winnow_source_matches(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise shared-fingerprint report between SOURCES on the
    winnowed universe — the guarantee-preserving scale path to
    ``source_overlap_matrix``: any shared run of >= w + k − 1 words
    between two sources surfaces at least one shared fingerprint
    (Schleimer et al. 2003, Thm 1), at an expected 2/(w+1) of the
    distinct-gram cost that makes the exact report quadratic-prone.
    Mirrors (syndication rings, re-crawls) therefore CANNOT hide from
    the sampled report, unlike a high-df gram cap.

    The pair key uses the 32-bit gram hash only (position stripped —
    matching content at different offsets must match).  Shape: map-only
    selection, one explode, one distinct on (source, hash) — a
    2/(w+1)-sampled, |sources|-keyed relation — then the same
    merge-hinted hash-keyed self-join and pair aggregate as the exact
    report."""
    d = _winnow_selected(
        docs,
        k,
        w,
        id_col,
        text_col,
        [F.coalesce(F.col(group_col), F.lit("")).alias("src")],
    )
    sg = (
        d.select("src", F.explode("fp_keys").alias("key"))
        .select("src", F.shiftright("key", _WINNOW_POS_BITS).alias("h"))
        .distinct()
    )
    totals = sg.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    a = sg.select(F.col("src").alias("src_a"), "h")
    b = sg.select(F.col("src").alias("src_b"), "h")
    shared = (
        # merge hint: same rationale as source_overlap_matrix — both
        # sides are corpus-derived, broadcast is never right at scale
        a.hint("merge")
        .join(b.hint("merge"), "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ta = totals.select(F.col("src").alias("src_a"), F.col("n_fp").alias("n_a"))
    tb = totals.select(F.col("src").alias("src_b"), F.col("n_fp").alias("n_b"))
    j = shared.join(ta, "src_a").join(tb, "src_b")
    return j.select(
        "src_a",
        "src_b",
        "n_shared",
        "n_a",
        "n_b",
        F.round(F.col("n_shared") / F.col("n_a"), 6).alias("containment_a"),
        F.round(F.col("n_shared") / F.col("n_b"), 6).alias("containment_b"),
        F.round(
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6
        ).alias("jaccard"),
    )
