"""Deduplication family: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Beyond-reference surface (SURVEY.md north star): the dedup toolbox a
training-data pipeline needs. Design per op:

- ``exact``      — md5-normalized group-by: one shuffle on the
                   fingerprint. The 100 TB workhorse.
- ``ngram_pairs``— exact pairwise Jaccard via a shingle-inverted-index
                   join. Quadratic in the worst case; used as the
                   *oracle-checkable* ground truth for the LSH path at
                   test scale.
- ``minhash_lsh``— shingle -> MinHash signature -> banded bucket join.
                   The scale path: cost is O(candidates), not O(n²);
                   everything is built-in array expressions (xxhash64,
                   transform, array_min) — no Python in the row path.
                   Written once (``_lsh_self_pairs``,
                   ``_lsh_cross_pairs``); a hash family is only a band
                   function, xxhash64 in production and md5 for the
                   oracle-checkable ``*_portable`` twins.
- ``simhash``    — 64-bit SimHash + multi-block (Manku-style) hamming
                   blocking: 16-bit block keys by default, combination
                   keys for larger budgets.
- ``decontaminate`` — bipartite corpus-vs-reference near-dup scrub
                   (benchmark/test-set leakage removal), banded on
                   both sides.
- ``connected_components`` — pairs -> cluster labels (min-label
                   propagation), the keep-one-per-group resolution.

All hashing is seeded/deterministic (xxhash64 + fixed affine
constants) so results are reproducible run to run and node to node.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from mriya_spark.caching import cache_scope, scoped_persist
from mriya_spark.ops.text import tokens

#: Mersenne prime 2^61 - 1 for the affine MinHash permutations.
_P = (1 << 61) - 1


def normalized(text_col: str = "text") -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the smallest doc_id per normalized-text hash.

    One hash-shuffle on the md5 fingerprint; skew-safe (a pathological
    mega-duplicate group still aggregates via partial min).
    """
    fp = F.md5(normalized(text_col))
    return (
        df.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> column.

    The readable form — dedup operators use ``_with_shingle_hashes``
    instead: building every n-gram as a string (slice + concat_ws per
    position) measured ~11x slower than hashing the words directly,
    and nothing downstream needs the text of a shingle, only its
    identity.
    """
    w = tokens(F.col(text_col))
    few = F.array(F.concat_ws(" ", w))  # degenerate: fewer than n words
    many = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
    )
    return F.array_distinct(F.when(F.size(w) < n, few).otherwise(many))


def add_shingle_hashes(
    df: DataFrame, text_col: str = "text", n: int = 3,
    out_col: str = "shingles",
) -> DataFrame:
    """Append distinct word-n-gram shingles as an array<long> column.

    Each shingle is ``xxhash64(w_i, ..., w_{i+n-1})`` — the words feed
    the hash directly, no n-gram string is ever materialized. Shingle
    equality (all that Jaccard/MinHash need) is preserved up to 64-bit
    hash collisions (~n_distinct²/2⁶⁵ — negligible at any corpus size
    that fits a cluster). Two projections on purpose: the token array
    is referenced several times, which keeps CollapseProject from
    inlining the tokenizer once per reference. Keeps every input
    column, so pipelines can shingle once, drop the text, and persist
    a compact frame that serves both candidate generation and final
    reporting (see ``_curate`` in
    ``qchunks/c02_unicode_pretokenization_r12_judge_direct.py``).
    """
    grams = ", ".join(f"element_at(__w, i + {k + 1})" for k in range(n))
    hashed = F.expr(
        f"array_distinct(CASE WHEN size(__w) < {n} "
        f"THEN array(xxhash64(concat_ws(' ', __w))) "
        f"ELSE transform(sequence(0, size(__w) - {n}), i -> xxhash64({grams})) "
        f"END)"
    )
    return (
        df.withColumn("__w", tokens(F.col(text_col)))
        .withColumn(out_col, hashed)
        .drop("__w")
    )


def _with_shingle_hashes(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """doc_id + shingle hashes only (see ``add_shingle_hashes``)."""
    return add_shingle_hashes(df, text_col, n).select("doc_id", "shingles")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    explode(shingle hashes) -> self-join on the 8-byte hash -> count
    shared shingles per pair -> Jaccard = shared / (|A| + |B| - shared).
    The join is the classic quadratic blowup if a shingle is hot; at
    scale the LSH variant replaces this — here it is the exact ground
    truth.
    """
    sh = _with_shingle_hashes(df, text_col, n)
    return ngram_jaccard_pairs_from_shingles(sh, threshold=threshold)


def ngram_jaccard_pairs_from_shingles(
    sh: DataFrame, *, threshold: float = 0.6, max_shingle_df: int | None = None
) -> DataFrame:
    """Exact Jaccard pairs from a pre-shingled ``(doc_id, shingles)``
    frame — callers that already computed (and persisted) shingle
    hashes skip the tokenize/hash stage entirely.

    ``max_shingle_df`` is the hot-shingle guard: a shingle appearing in
    d documents contributes d²/2 join rows, so one boilerplate phrase
    across a large corpus turns the inverted-index join quadratic.
    With a cap, shingles above the document-frequency cap are dropped
    from the CANDIDATE index only; surviving pairs are verified on the
    full arrays, so every reported jaccard is still exact — recall is
    lost only for pairs whose shared shingles are ALL hot (which a
    boilerplate phrase is, and near-dup content is not). ``None`` = the
    fully exact oracle form.

    The shingled frame is scope-persisted before the explode, for two
    reasons: it feeds three plan references (both self-join sides +
    sizes), and — the expensive one — Catalyst's
    InferFiltersFromGenerate turns ``explode(shingles)`` into a
    ``size(shingles) > 0`` filter that gets pushed INTO the scan with
    the whole tokenize->hash expression inlined once per array
    reference, re-tokenizing every document dozens of times per pass
    (measured 8s vs 0.2s on a 400-doc corpus, r10). Materializing the
    arrays makes the inferred filter a cheap column test.
    """
    with cache_scope():
        # skip the persist when the caller already did it (`_curate`
        # hands in its scope-persisted surv_sh projection): a second
        # persist would store a full duplicate of the shingle arrays —
        # the dominant column — in executor memory for the scope's
        # lifetime (r10 review)
        if sh.storageLevel.useMemory or sh.storageLevel.useDisk:
            cached = sh
        else:
            cached = scoped_persist(sh)
        return _jaccard_pairs_from_cached(
            cached, threshold=threshold, max_shingle_df=max_shingle_df
        )


def _jaccard_pairs_from_cached(
    sh: DataFrame, *, threshold: float, max_shingle_df: int | None
) -> DataFrame:
    inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is None:
        sizes = sh.select("doc_id", F.size("shingles").alias("n_sh"))
        a = inv.alias("a")
        b = inv.alias("b")
        shared = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        out = (
            shared.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "size_a"}),
                        on="doc_a")
            .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "size_b"}),
                  on="doc_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_shared")
                    / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return out.select("doc_a", "doc_b", "jaccard")
    # capped path: df-filtered index generates candidates; exact verify
    # on the shingle arrays (callers should hand in a persisted ``sh``)
    cold = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_shingle_df)
    )
    a = inv.join(cold.select("shingle"), on="shingle").alias("a")
    b = inv.join(cold.select("shingle"), on="shingle").alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(cand, sh, sh, threshold=threshold)


def _jaccard_verify(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, *, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate ``(doc_a, doc_b)`` pairs:
    each side fetches its ``shingles`` array from ``sh_a`` / ``sh_b``
    (``(doc_id, shingles)`` frames; callers hand in persisted ones) and
    a pair is kept at jaccard >= ``threshold``. Returns
    ``(doc_a, doc_b, jaccard)``."""
    verified = (
        cand.join(sh_a.select(F.col("doc_id").alias("doc_a"),
                              F.col("shingles").alias("sh_a")), on="doc_a")
        .join(sh_b.select(F.col("doc_id").alias("doc_b"),
                          F.col("shingles").alias("sh_b")), on="doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(
    base_hashes_col: str, *, num_perm: int = 64, seed: int = 42
) -> Column:
    """MinHash signature as an array<long> of length ``num_perm``.

    ``base_hashes_col`` names an array<long> column of per-shingle
    xxhash64 values — computed ONCE in a prior projection (callers
    stage it; inlining the string hash here would re-hash every shingle
    string once per permutation). h_i = min over shingles of
    xxhash64(seed+i, base) — the multi-seed-hash family instead of
    affine (a*h+b mod P) permutations: same statistical behavior, no
    64-bit multiply (which ANSI mode rejects on overflow). All
    vectorized JVM expressions, no UDF.

    Built as ONE ``F.expr`` string: ``num_perm`` Python-side
    ``F.transform(...)`` lambda Columns cost a py4j round trip each
    (~2s of driver time per call site); one SQL string is parsed
    JVM-side in ~ms. Same analyzed plan either way.
    """
    c = base_hashes_col
    perms = ", ".join(
        f"array_min(transform({c}, h -> xxhash64({seed + i}, h)))"
        for i in range(num_perm)
    )
    return F.expr(f"array({perms})")


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle -> signature (narrow) -> explode ``bands`` band
    hashes -> bucket self-join (the only shuffle that matters; cost
    O(sum of bucket²) ≪ O(n²)) -> distinct candidate pairs -> exact
    Jaccard verification on the shingle arrays.

    With 16 bands x 4 rows, P(candidate) ≈ 1-(1-j⁴)¹⁶: ~0.04 at j=0.3,
    ~0.93 at j=0.6, ~0.9998 at j=0.8 — tuned for ``threshold=0.6``.
    """
    # shingles are already 64-bit hashes — they feed the permutation
    # family directly, no per-shingle re-hash stage. Persisted: the
    # bucket self-join and the two verify joins would otherwise
    # re-evaluate the whole tokenize->shingle pipeline per reference.
    # Cache lifetime is scoped (see mriya_spark.caching): building the
    # next scoped operator — or release_caches() — frees it.
    with cache_scope():
        sh = scoped_persist(_with_shingle_hashes(df, text_col, n))
        return minhash_lsh_pairs_from_shingles(
            sh, num_perm=num_perm, bands=bands, threshold=threshold, seed=seed
        )


def minhash_lsh_pairs_from_shingles(
    sh: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    seed: int = 42,
) -> DataFrame:
    """LSH pairs from a pre-shingled ``(doc_id, shingles)`` frame.

    ``sh`` is referenced three times (signature build + both sides of
    the verify join) — callers should hand in a persisted frame.
    """
    return _lsh_self_pairs(
        sh, _xxhash_bands(num_perm=num_perm, bands=bands, seed=seed),
        threshold=threshold,
    )


def _lsh_self_pairs(sh: DataFrame, band_fn, *, threshold: float) -> DataFrame:
    """The MinHash-LSH self-pair pipeline for any hash family:
    ``band_fn`` maps ``(doc_id, shingles)`` to ``(doc_id, band,
    bucket)`` rows; pairs sharing a cell are verified on exact
    Jaccard."""
    # band rows are (doc_id, band, bucket) ONLY — the shingle arrays do
    # not ride the 16x explode or the bucket shuffle; they re-join just
    # for the (few) surviving candidate pairs. Persisted: the bucket
    # self-join would otherwise evaluate the whole shingle->signature
    # pipeline once per side (and the verify joins re-read the shingle
    # arrays twice more) — at scale this materialization is the
    # difference between 1x and 4x signature compute. Scoped: joins the
    # caller's cache_scope when nested, else released at the next
    # scoped build (mriya_spark.caching).
    banded = scoped_persist(band_fn(sh))
    cand = _band_candidates(banded, banded, F.col("a.doc_id") < F.col("b.doc_id"))
    return _jaccard_verify(cand, sh, sh, threshold=threshold)


def _lsh_cross_pairs(
    sh_c: DataFrame, sh_r: DataFrame, band_fn, *, threshold: float,
    reference: DataFrame,
) -> DataFrame:
    """Bipartite MinHash-LSH pairs ``(doc_a from sh_c, doc_b from
    sh_r)``: both sides band with ``band_fn``, candidates come from the
    (band, bucket) equi-join, exact Jaccard verifies.

    The reference side (an eval set: orders of magnitude smaller than
    the training corpus) is broadcast when ``reference``'s leaf scan
    fits the session broadcast threshold, so the corpus-side band rows
    and shingle arrays never shuffle for candidate gen or verify. Past
    the threshold the hint is withheld (an explicit hint is honored
    unconditionally — hinting an unbounded side is a driver OOM) and
    AQE's runtime conversion takes over. The gate reads the leaf scan
    (the only sound stat): band rows are 3 narrow columns x bands per
    doc and the shingle arrays are ~8B/token — both within a small
    constant of the reference's on-disk bytes."""
    from mriya_spark.ops.relational import (
        broadcast_threshold_bytes,
        estimated_size_bytes,
    )

    ref_small = estimated_size_bytes(reference) <= broadcast_threshold_bytes(reference)
    br = band_fn(sh_r)
    cand = _band_candidates(band_fn(sh_c), F.broadcast(br) if ref_small else br)
    return _jaccard_verify(
        cand, sh_c, F.broadcast(sh_r) if ref_small else sh_r, threshold=threshold
    )


def _band_candidates(a: DataFrame, b: DataFrame, cond: Column | None = None) -> DataFrame:
    """Distinct ``(doc_a, doc_b)`` pairs of band rows that share a
    (band, bucket) cell — the LSH candidate equi-join, cost
    O(collisions). ``cond`` adds a predicate over the ``a``/``b``
    aliases (the self-pair ``a.doc_id < b.doc_id``)."""
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
    if cond is not None:
        on = on & cond
    return (
        a.alias("a").join(b.alias("b"), on)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ngram_jaccard_pairs_bipartite(
    sh_a: DataFrame, sh_b: DataFrame, *, threshold: float = 0.6
) -> DataFrame:
    """Exact cross-set Jaccard pairs: ``(doc_a from A, doc_b from B)``
    with jaccard >= threshold. Same inverted-index join as the
    self-pair form, but bipartite — no ``doc_id <`` dedup constraint,
    ids may overlap between sides. The oracle-checkable ground truth
    for LSH decontamination."""
    sizes_a = sh_a.select(F.col("doc_id").alias("doc_a"), F.size("shingles").alias("size_a"))
    sizes_b = sh_b.select(F.col("doc_id").alias("doc_b"), F.size("shingles").alias("size_b"))
    inv_a = sh_a.select(F.col("doc_id").alias("doc_a"), F.explode("shingles").alias("shingle"))
    inv_b = sh_b.select(F.col("doc_id").alias("doc_b"), F.explode("shingles").alias("shingle"))
    shared = (
        inv_a.join(inv_b, on="shingle")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes_a, on="doc_a")
        .join(sizes_b, on="doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _banded(
    sig_df: DataFrame, *, num_perm: int, bands: int, bucket: str = "xxhash64({})"
) -> DataFrame:
    """(doc_id, band, bucket) rows from a ``(doc_id, sig)`` frame.
    ``bucket`` wraps each band's ``'_'``-joined signature slice: an
    xxhash64 of it by default, the slice itself (``"{}"``, injective)
    for the md5 family."""
    rows_per_band = num_perm // bands
    structs = []
    for bidx in range(bands):
        band_slice = "concat_ws('_', {})".format(", ".join(
            f"cast(element_at(sig, {bidx * rows_per_band + r + 1}) as string)"
            for r in range(rows_per_band)
        ))
        structs.append(
            f"named_struct('band', {bidx}, 'bucket', {bucket.format(band_slice)})"
        )
    band_structs = ", ".join(structs)
    return sig_df.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def _xxhash_bands(*, num_perm: int, bands: int, seed: int):
    """Band function of the production hash family: xxhash64 MinHash
    signature (``minhash_signature``) over xxhash64 shingle hashes,
    xxhash64 band buckets."""
    def band_fn(sh: DataFrame) -> DataFrame:
        sig = minhash_signature("shingles", num_perm=num_perm, seed=seed)
        return _banded(sh.select("doc_id", sig.alias("sig")), num_perm=num_perm, bands=bands)
    return band_fn


def decontaminate(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    method: str = "minhash_lsh",
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Remove corpus documents near-duplicating any REFERENCE document
    — benchmark/test-set decontamination, the bipartite form of
    near-dup removal every serious training pipeline runs before
    training (the eval set is the reference; leaked eval documents are
    dropped from the training corpus).

    ``method='minhash_lsh'`` (the scale path): both sides band their
    MinHash signatures; candidates come from an equi-join on
    (band, bucket) — cost O(collisions) — then exact Jaccard verifies
    on shingle arrays, with the reference side broadcast when its leaf
    scan fits the session threshold (``_lsh_cross_pairs``). ``'exact'``
    uses the full bipartite inverted-index join (oracle twin). Returns
    the clean corpus rows unchanged.
    """
    with cache_scope():
        sh_c = scoped_persist(_with_shingle_hashes(corpus, text_col, n))
        sh_r = scoped_persist(_with_shingle_hashes(reference, text_col, n))
        if method == "exact":
            pairs = ngram_jaccard_pairs_bipartite(sh_c, sh_r, threshold=threshold)
        elif method == "minhash_lsh":
            pairs = _lsh_cross_pairs(
                sh_c, sh_r, _xxhash_bands(num_perm=num_perm, bands=bands, seed=seed),
                threshold=threshold, reference=reference,
            )
        else:
            raise ValueError(f"unknown method {method!r}: exact|minhash_lsh")
        contaminated = pairs.select(F.col("doc_a").alias("doc_id")).distinct()
        return corpus.join(contaminated, on="doc_id", how="left_anti")


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
    _probe: list | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: (doc_id, component) with
    ``component`` = the smallest doc_id reachable through the pair
    graph. The missing last step of every pairwise dedup — pairs say
    "A~B, B~C"; keeping one survivor per {A,B,C} needs the component.

    Iterative min-label propagation: each round every vertex takes the
    min of its own label and its neighbors' labels (both edge
    directions), until a fixed point. Rounds = graph diameter — for
    dedup graphs (dense near-cliques of copies) that is 2-3, so the
    driver loop is a control plane of a few joins, same posture as
    ``ivf_train``'s Lloyd iterations. Each round is one shuffle join
    labels><edges + one min-aggregation; the early-exit check is an
    ``Observation`` count of the round's changed labels, filled in by
    the job that checkpoints them, not a second pass. Raises if ``max_iterations`` rounds don't converge
    (pathological chain longer than the budget).
    """
    # edges are referenced by every propagation round — materialize
    # once (scoped persist + eager localCheckpoint of round state keeps
    # the pair-generation pipeline from re-running per round); the
    # returned labels are checkpointed, so they outlive the cache scope
    with cache_scope():
        # deliberately NOT pre-partitioned on v (the pagerank r11
        # posture was tried and reverted here): near-dup graphs are
        # near-cliques, so the per-round join key v is exactly the
        # skew axis — a pinned hashpartitioning(v) cache concentrates
        # hot components AND removes the per-round shuffle stage AQE
        # needs to split skewed partitions at scale. Measured r11
        # (isolated A/B, dedup_clusters sf0.1): repartition variants
        # 0-12% SLOWER locally, never faster; distinct()'s (u,v)
        # spread + per-round AQE re-plan keeps skew mitigation live
        edges = scoped_persist(
            pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
            .distinct()
        )
        return _propagate_min_labels(edges, max_iterations, probe=_probe)


def _propagate_min_labels(
    edges: DataFrame, max_iterations: int, probe: list | None = None
) -> DataFrame:
    labels = (
        edges.select("u").distinct().select("u", F.col("u").alias("comp"))
    )
    for _ in range(max_iterations):
        # neighbor minimum per vertex this round
        neigh = (
            edges.join(labels.withColumnsRenamed({"u": "v", "comp": "vcomp"}), on="v")
            .groupBy("u")
            .agg(F.min("vcomp").alias("ncomp"))
        )
        if probe is not None:
            # per-iteration plan instrumentation (r11 judge directive
            # 6) — see pagerank's ``_probe`` docstring
            probe.append(("neigh", neigh))
        updated = (
            labels.join(neigh, on="u", how="left")
            .select(
                "u",
                F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
                (F.col("ncomp") < F.col("comp")).alias("__changed"),
            )
        )
        # materialize the round once: the change count is observed on
        # the same job that checkpoints next round's labels, so there
        # is no second pass and no unbounded lineage growth
        obs = Observation()
        labels = (
            updated.observe(obs, F.count_if("__changed").alias("n"))
            .localCheckpoint(eager=True)
            .drop("__changed")
        )
        n_changed = obs.get["n"]
        if n_changed == 0:
            return labels.select(F.col("u").alias("doc_id"), "comp")
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def kgram_positions(
    df: DataFrame, *, text_col: str = "text", k: int = 8
) -> DataFrame:
    """(doc_id, pos, gram) rows: every k-token gram of every document,
    hashed with xxhash64 over the words directly (no gram string is
    materialized — same rationale as ``add_shingle_hashes``). Documents
    shorter than ``k`` tokens emit nothing. ``pos`` is the 0-based
    token offset of the gram's first word.
    """
    grams = ", ".join(f"element_at(__w, i + {j + 1})" for j in range(k))
    return (
        df.withColumn("__w", tokens(F.col(text_col)))
        .filter(F.size("__w") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(__w) - {k}), "
                    f"i -> xxhash64({grams}))"
                )
            ).alias("pos", "gram"),
        )
    )


def _maximal_spans(m: DataFrame, part_cols: list[str], *, k: int, min_span: int) -> DataFrame:
    """Collapse per-position k-gram matches into MAXIMAL spans: within
    each (part_cols, diag) group, positionally contiguous matches share
    ``pa - row_number()`` (gaps-and-islands), and each island reports
    once with its start offsets and token length. Shared by the
    cross-doc and intra-doc span dedups so the span definition cannot
    drift between them (r7 review finding). ``m`` needs columns
    part_cols + pa + pb + diag."""
    from pyspark.sql import Window

    w = Window.partitionBy(*part_cols, "diag").orderBy("pa")
    isl = m.withColumn("island", F.col("pa") - F.row_number().over(w))
    return (
        isl.groupBy(*part_cols, "diag", "island")
        .agg(
            F.min("pa").alias("__sa"),
            F.min("pb").alias("__sb"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("__len"),
        )
        .filter(F.col("__len") >= min_span)
        .select(
            *part_cols,
            F.col("__sa").cast("long").alias("start_a"),
            F.col("__sb").cast("long").alias("start_b"),
            F.col("__len").cast("long").alias("span_tokens"),
        )
    )


def substring_span_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 8,
    min_span: int | None = None,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact duplicate SPANS of >= ``min_span`` (default ``k``) tokens
    shared across document pairs — span-level dedup in the
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") sense, re-expressed as a blocked inverted-index join
    instead of a suffix array (suffix arrays don't distribute; a gram
    equi-join does).

    Pipeline: k-gram positions (``kgram_positions``) -> self-equi-join
    on the gram hash with ``doc_a < doc_b`` -> matches on the same
    diagonal (``pa - pb``) that are positionally contiguous collapse
    into one maximal span via gaps-and-islands (``pa - row_number()``
    per (pair, diagonal) is constant exactly along a contiguous run).

    Returns (doc_a, doc_b, start_a, start_b, span_tokens): one row per
    MAXIMAL shared span per diagonal — a shared run of m >= k tokens
    reports once with ``span_tokens = m``, not as m-k+1 gram matches.

    ``max_gram_df`` is the hot-gram guard (same posture as
    ``ngram_jaccard_pairs_from_shingles``): a gram with d OCCURRENCES
    across the corpus contributes ~d² join rows (occurrence count, not
    document frequency — unlike shingles, k-gram positions are not
    deduped per doc, and join cost follows occurrences), so
    boilerplate k-grams turn the join quadratic at corpus scale.
    Capped grams are dropped from
    the index, so a span whose grams are ALL hot disappears and a span
    with hot interior grams reports as shorter fragments (each cold
    run of >= min_span tokens still reports with exact offsets) —
    bounded candidate volume traded for fragment-level recall, the
    standard Lee-et-al engineering tradeoff. ``None`` = fully exact —
    the oracle form.
    """
    if min_span is None:
        min_span = k
    g = kgram_positions(df, text_col=text_col, k=k)
    if max_gram_df is not None:
        cold = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_gram_df)
        )
        g = g.join(cold.select("gram"), on="gram")
    a = g.alias("a")
    b = g.alias("b")
    m = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
        .withColumn("diag", F.col("pa") - F.col("pb"))
    )
    return _maximal_spans(m, ["doc_a", "doc_b"], k=k, min_span=min_span)


def with_simhash64(
    df: DataFrame, text_col: str = "text", *, ngram: int = 2,
    out_col: str = "simhash", hash_mode: str = "xxhash64", n_bits: int = 64,
) -> DataFrame:
    """Add an ``n_bits``-wide SimHash column over word ``ngram``
    shingles — pure expressions in two projection stages (votes, then
    bit-pack) so the vote aggregate appears once in the plan, not
    ``n_bits`` times.

    ``hash_mode='xxhash64'`` (default) hashes the shingle WORDS
    directly — the production path, no gram string materialized.
    ``hash_mode='md5_portable'`` derives the per-shingle hash from the
    first 15 hex chars of ``md5(gram_string)`` (60 usable bits, so pair
    it with ``n_bits=60``): ~2x more string work, but every engine with
    md5 computes the IDENTICAL signature — the oracle-checkable form
    (DuckDB: ``('0x' || substr(md5(g), 1, 15))::BIGINT``).
    """
    if hash_mode == "xxhash64":
        one = "xxhash64(concat_ws(' ', __w))"
        grams = ", ".join(f"element_at(__w, i + {k + 1})" for k in range(ngram))
        many = f"xxhash64({grams})"
    elif hash_mode == "md5_portable":
        if n_bits > 60:
            raise ValueError(
                f"md5_portable provides 60 usable hash bits; n_bits={n_bits} "
                "would pack permanently-zero sign bits and silently widen "
                "every blocking bucket — pass n_bits<=60"
            )
        one = "cast(conv(substr(md5(concat_ws(' ', __w)), 1, 15), 16, 10) as bigint)"
        gram_words = ", ".join(
            f"element_at(__w, i + {k + 1})" for k in range(ngram)
        )
        many = (
            f"cast(conv(substr(md5(concat_ws(' ', {gram_words})), 1, 15), "
            f"16, 10) as bigint)"
        )
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}: xxhash64|md5_portable")
    hashed = F.expr(
        f"array_distinct(CASE WHEN size(__w) < {ngram} "
        f"THEN array({one}) "
        f"ELSE transform(sequence(0, size(__w) - {ngram}), i -> {many}) "
        f"END)"
    )
    staged = (
        df.withColumn("__w", tokens(F.col(text_col)))
        .withColumn("__sh", hashed)
        .drop("__w")
        .withColumn("__votes", _simhash_votes("__sh", n_bits=n_bits))
    )
    # pack: bit j set iff votes[j] > 0. Disjoint powers of two, so + IS
    # bitwise-or. Unrolled on purpose: referencing __votes inside a
    # fold lambda counts as ONE reference, so CollapseProject would
    # inline the whole vote aggregate into the lambda body and
    # re-evaluate it per fold step (n_bits x per row); plain references
    # keep the staged projection materialized once.
    packed = F.expr(
        " + ".join(
            f"if(element_at(__votes, {j + 1}) > 0, shiftleft(1L, {j}), 0L)"
            for j in range(n_bits)
        )
    )
    return staged.withColumn(out_col, packed).drop("__sh", "__votes")


def _simhash_votes(hashes_col: str = "__sh", *, n_bits: int = 64) -> Column:
    """votes[j] = sum over shingle hashes of +-1 by bit j of the hash.

    One expr string over a staged array<long> column; the inner
    zip_with walks all ``n_bits`` bit positions per shingle hash.
    """
    # bit positions unrolled as constant shifts — an inner
    # transform(sequence(0,n-1), ...) with a column shift amount is a
    # nested interpreted loop per shingle (~8x slower end to end)
    bit_votes = ", ".join(
        f"if((shiftright(h, {j}) & 1) = 1, 1L, -1L)" for j in range(n_bits)
    )
    return F.expr(
        f"aggregate("
        f"  {hashes_col},"
        f"  array_repeat(0L, {n_bits}),"
        f"  (acc, h) -> zip_with(acc, array({bit_votes}), (x, y) -> x + y))"
    )


def simhash_candidates(
    df: DataFrame,
    *,
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    hash_mode: str = "xxhash64",
    n_bits: int = 64,
) -> DataFrame:
    """SimHash candidate pairs (pre-verify) with GUARANTEED recall at
    hamming <= ``max_hamming``.

    Multi-block hamming blocking (Manku/Charikar-style): split the
    64-bit hash into ``n_blocks`` bit ranges. ``max_hamming`` differing
    bits can spoil at most ``max_hamming`` blocks, so any qualifying
    pair agrees on some combination of ``m = n_blocks - max_hamming``
    blocks — index every m-block combination and equi-join on
    (combo_idx, combined value). Zero Python in the row path.

    Defaults: ``n_blocks = max_hamming + 1`` (m=1, plain pigeonhole)
    with ``max_hamming=3`` -> 4 blocks of 16 bits = 65 536 bucket
    values per index — candidate volume ~ 4·n²/2¹⁶ on distinct
    content, vs the old 8+1 chunks of 7 bits (128 values, effectively
    quadratic). For larger budgets pass ``n_blocks > max_hamming + 1``
    to key on multi-block combinations: e.g. ``max_hamming=8,
    n_blocks=10`` indexes C(10,2)=45 two-block combos (~12-bit keys)
    instead of 9 single 7-bit chunks — wider keys at the cost of more
    index rows. The combo count is capped to keep the explode bounded.
    """
    from itertools import combinations

    if n_blocks is None:
        n_blocks = min(64, max_hamming + 1)
    m = n_blocks - max_hamming
    if m < 1:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming}) "
            "— pigeonhole needs at least one guaranteed-shared block"
        )
    combos = list(combinations(range(n_blocks), m))
    if len(combos) > 128:
        raise ValueError(
            f"{len(combos)} block combinations (C({n_blocks},{m})) would "
            "explode each row too far; lower n_blocks or max_hamming"
        )
    width = n_bits // n_blocks  # last block absorbs the remainder bits
    with_h = with_simhash64(
        df.select("doc_id", text_col), text_col,
        hash_mode=hash_mode, n_bits=n_bits,
    ).select("doc_id", "simhash")

    def _block(i: int) -> Column:
        shifted = F.shiftrightunsigned("simhash", width * i)
        if i == n_blocks - 1:  # zero-fill shift already isolates the rest
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    def _key(combo: tuple[int, ...]) -> Column:
        if len(combo) == 1:
            return _block(combo[0])
        # combined key for multi-block combos; 64-bit hash collisions
        # only add candidates, which the verify step filters
        return F.xxhash64(*[_block(i) for i in combo])

    keys = F.array(
        *[
            F.struct(F.lit(ci).alias("ci"), _key(combo).alias("cv"))
            for ci, combo in enumerate(combos)
        ]
    )
    # persisted: the index self-join would otherwise evaluate the whole
    # 64-bit SimHash pipeline once per join side (at small sizes the
    # join broadcasts, so ReuseExchange never dedups it). Scoped
    # lifetime — see mriya_spark.caching.
    with cache_scope():
        blocked = scoped_persist(
            with_h.select("doc_id", "simhash", F.explode(keys).alias("c"))
            .select("doc_id", "simhash", "c.ci", "c.cv")
        )
        a = blocked.alias("a")
        b = blocked.alias("b")
        return (
            a.join(
                b,
                (F.col("a.ci") == F.col("b.ci"))
                & (F.col("a.cv") == F.col("b.cv"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash").alias("h_a"),
                F.col("b.simhash").alias("h_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int | None = None,
    hash_mode: str = "xxhash64",
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= ``max_hamming``.

    Blocking via ``simhash_candidates`` (guaranteed recall at the
    budget), then an exact ``bit_count(xor)`` hamming filter. The
    default budget is hamming <= 3 over 4x16-bit blocks — wide enough
    buckets that candidate volume stays ~4·n²/2¹⁶ on distinct content.
    ``n_chunks`` is the historical name for ``n_blocks``.
    """
    cand = simhash_candidates(
        df, text_col=text_col, max_hamming=max_hamming, n_blocks=n_chunks,
        hash_mode=hash_mode, n_bits=n_bits,
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def substring_self_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 8,
    min_span: int | None = None,
) -> DataFrame:
    """WITHIN-document repeated spans: maximal runs of >= ``min_span``
    (default ``k``) tokens that occur at two positions of the SAME
    document — the intra-doc half of Lee-et-al span dedup (boilerplate
    paragraphs repeated inside one page), complementing the cross-doc
    ``substring_span_pairs``. Same gram join + gaps-and-islands shape,
    restricted to ``doc_id`` equality with ``pos_a < pos_b`` (each
    repeated run reports once per position pair, earliest copy first).
    """
    if min_span is None:
        min_span = k
    g = kgram_positions(df, text_col=text_col, k=k)
    a = g.alias("a")
    b = g.alias("b")
    m = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.pos") < F.col("b.pos")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
        .withColumn("diag", F.col("pb") - F.col("pa"))
    )
    return _maximal_spans(m, ["doc_id"], k=k, min_span=min_span)


def decontaminate_ngram(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    text_col: str = "text",
    k: int = 13,
    max_gram_df: int | None = None,
) -> DataFrame:
    """GPT-3-style n-gram decontamination (Brown et al. 2020 App. C):
    drop every corpus document sharing ANY ``k``-token gram with any
    reference (eval-set) document — stricter than the Jaccard form in
    ``decontaminate`` (one leaked quotation is enough) and fully
    deterministic, so it is oracle-checkable end to end.

    Scale shape: the reference side reduces to DISTINCT gram hashes
    (an eval set — orders of magnitude smaller than the corpus) and is
    broadcast when its leaf scan fits the session threshold, so the
    corpus grams never shuffle; the contaminated-id set aggregates
    per-partition before the anti-join. ``max_gram_df`` optionally
    drops grams hotter than the cap ON THE CORPUS SIDE (boilerplate
    that would flag everything); ``None`` = the exact oracle form.
    """
    from mriya_spark.ops.relational import (
        broadcast_threshold_bytes,
        estimated_size_bytes,
    )

    gc = kgram_positions(corpus, text_col=text_col, k=k).select("doc_id", "gram")
    if max_gram_df is not None:
        cold = (
            gc.groupBy("gram")
            .agg(F.count_distinct("doc_id").alias("df"))
            .filter(F.col("df") <= max_gram_df)
        )
        gc = gc.join(cold.select("gram"), on="gram")
    gr = (
        kgram_positions(reference, text_col=text_col, k=k)
        .select("gram")
        .distinct()
    )
    if estimated_size_bytes(reference) <= broadcast_threshold_bytes(reference):
        gr = F.broadcast(gr)
    dirty = gc.join(gr, on="gram").select("doc_id").distinct()
    return corpus.join(dirty, on="doc_id", how="left_anti")


def decontaminate_ngram_bloom(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """``decontaminate_ngram`` with a Bloom pre-screen — the same
    EXACT result (the filter's false positives are removed by the
    exact gram verify, and Bloom has no false negatives), but the
    corpus-side gram stream is pruned SCAN-LOCALLY before anything
    shuffles: only grams whose k bloom bits are all set reach the
    verify join. At 100 TB the reference set's grams collapse to a
    word list sized from their count (``bloom_size_bits``: ~16
    bits/gram, power-of-two, capped at ~130 KB of task-constant —
    at the cap that's ~65k grams at ~1% FP; beyond it the FP rate
    degrades gracefully and the exact verify join still guarantees
    the result, the screen just prunes less), vs broadcasting the
    full distinct-gram set, which ``decontaminate_ngram`` size-gates.
    The overwhelmingly-clean corpus majority never leaves its scan
    task.
    """
    from mriya_spark.caching import cache_scope, scoped_persist
    from mriya_spark.ops.relational import (
        bloom_build,
        bloom_screen,
        bloom_size_bits,
    )

    with cache_scope():
        gr = scoped_persist(
            kgram_positions(reference, text_col=text_col, k=k)
            .select("gram")
            .distinct()
        )
        # gr is persisted, so this count is the same bounded scan the
        # word agg pays; it sizes the filter to the eval-suite corpus
        # instead of assuming it stays small (r8 advice)
        n_bits = bloom_size_bits(gr.count())
        words = bloom_build(gr, "gram", n_bits=n_bits)
        gc = kgram_positions(corpus, text_col=text_col, k=k).select(
            "doc_id", "gram"
        )
        cand = (
            bloom_screen(gc, "gram", words, n_bits=n_bits)
            .filter(F.col("bloom_pass"))
            .drop("bloom_pass")
        )
        dirty = cand.join(gr, on="gram").select("doc_id").distinct()
        return corpus.join(dirty, on="doc_id", how="left_anti")


def _md5_bands(*, num_perm: int, bands: int):
    """Band function of the engine-portable md5 hash family, for
    array<string> ``shingles``: the i-th signature row is the minimum
    over shingles of ``md5('<i>:' || shingle)`` truncated to 60 bits,
    and a band's bucket is its ``'_'``-joined signature slice itself
    (injective, no second hash). Any engine with md5 computes the same
    band rows, so the candidate set and the verified pairs of the
    shared LSH pipeline can be hash-checked against a SQL oracle. The
    DuckDB oracles write the family out on their own
    (``_MINHASH_PORTABLE_PERMS`` and ``_MINHASH_BAND_MATCH`` in
    ``qchunks/c00_2_1_scans.py``): nothing ties them to this function,
    so a change here must be mirrored there."""
    sig = ", ".join(
        "array_min(transform(shingles, s -> "
        f"cast(conv(substr(md5(concat('{i}:', s)), 1, 15), 16, 10) as bigint)))"
        for i in range(num_perm)
    )

    def band_fn(sh: DataFrame) -> DataFrame:
        return _banded(
            sh.select("doc_id", F.expr(f"array({sig})").alias("sig")),
            num_perm=num_perm, bands=bands, bucket="{}",
        )
    return band_fn


def _md5_shingled(df: DataFrame, text_col: str, n: int) -> DataFrame:
    """Persisted ``(doc_id, shingles)`` with array<string> word
    shingles, the md5 family's input."""
    return scoped_persist(df.select("doc_id", word_shingles(text_col, n).alias("shingles")))


def minhash_lsh_pairs_portable(
    df: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash-LSH near-dup pairs in the ENGINE-PORTABLE md5 hash
    family (``_md5_bands``) — the oracle-checkable twin of
    ``minhash_lsh_pairs``. Only the band function differs: the band
    join and the exact-Jaccard verify are the production code path
    (``_lsh_self_pairs``).

    The DuckDB oracle brute-forces all pairs and keeps those agreeing
    on >= 1 band; since banding is a deterministic function of the
    signature, the blocked Spark result equals it EXACTLY — turning
    "LSH is rows-only because recall < 1" into a hash-green check of
    the LSH mechanics themselves (recall is still < 1 vs ground truth;
    what's checked is that the banded pipeline computes precisely the
    pairs its math says it computes).
    """
    with cache_scope():
        return _lsh_self_pairs(
            _md5_shingled(df, text_col, n),
            _md5_bands(num_perm=num_perm, bands=bands), threshold=threshold,
        )


def decontaminate_minhash_portable(
    corpus: DataFrame,
    reference: DataFrame,
    *,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
) -> DataFrame:
    """Bipartite (corpus-vs-reference) MinHash-LSH decontamination in
    the engine-portable md5 hash family — the oracle-checkable twin of
    ``decontaminate(method='minhash_lsh')``: same band join, broadcast
    gate and verify (``_lsh_cross_pairs``), same determinism argument
    as ``minhash_lsh_pairs_portable``. Returns the clean corpus rows.
    """
    with cache_scope():
        pairs = _lsh_cross_pairs(
            _md5_shingled(corpus, text_col, n), _md5_shingled(reference, text_col, n),
            _md5_bands(num_perm=num_perm, bands=bands),
            threshold=threshold, reference=reference,
        )
        dirty = pairs.select(F.col("doc_a").alias("doc_id")).distinct()
        return corpus.join(dirty, on="doc_id", how="left_anti")


def remove_repeated_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 8,
    min_span: int | None = None,
) -> DataFrame:
    """Span SURGERY (the actual Lee-et-al dedup operation, as opposed
    to doc-level dropping): delete the LATER copy of every
    within-document repeated run of >= ``min_span`` tokens and rebuild
    the text. The earlier copy stays; a doc repeating a paragraph
    keeps exactly one instance of it.

    Semantics: mask = union over ``substring_self_spans`` rows of the
    b-side token range [start_b, start_b + span_tokens); output text =
    the doc's tokens outside the mask, in original order. Documents
    with no repeats pass through unchanged (n_removed_tokens = 0).

    Shape: the span ranges explode to (doc, pos) and anti-join the
    doc's token positions — both sides partition on doc_id, one
    shuffle each — then ONE groupBy(doc) re-assembles the text via a
    sorted struct collect (tokens ride a single aggregation, not a
    window).
    """
    if min_span is None:
        min_span = k
    spans = substring_self_spans(
        df, text_col=text_col, k=k, min_span=min_span
    )
    mask = (
        spans.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    toks = df.select(
        "doc_id",
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    ).withColumn("pos", F.col("pos").cast("long"))
    kept = toks.join(mask, on=["doc_id", "pos"], how="left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
    )
    n_tok = df.select(
        "doc_id", F.size(tokens(F.col(text_col))).cast("long").alias("__n_tok")
    )
    return (
        n_tok.join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("__n_tok") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
        )
    )
