"""Deduplication operators for web-scale corpora.

All four families a training-data pipeline needs, each fully
declarative (JVM-side expressions only — no Python in any hot path) so
Catalyst/Tungsten keep whole-stage codegen:

* exact          — hash-groupBy on md5(text)
* MinHash + LSH  — shingle → K minhashes → B bands → bucket join
* SimHash        — 64-bit sign-aggregated token hashes, hamming buckets
* n-gram Jaccard — exact set similarity for candidate verification

Design for 10^12 docs:

* Signatures are computed in ONE map pass (array expressions over the
  shingle array — no explode, no shuffle).
* LSH candidate generation is a self-equi-join on (band_id, band_key):
  shuffle keyed by a short hash, uniformly distributed by construction
  (hash output), so no skew salting is needed; AQE splits any residual
  hot bucket. The quadratic blow-up inside a bucket is bounded by the
  band width choice.
* Verification (exact Jaccard on candidates) touches only the
  candidate pairs, never the full cross product.

The md5-based hash family is deliberately chosen over xxhash64 for the
signature path: it is reproducible in any engine (the DuckDB oracle
mirrors it exactly), at the cost of some CPU. Swap `_hash_shingle` to
xxhash64 for max throughput where cross-engine parity isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fineweb_domain_analyzer_spark.functions.textfns import ws_tokens

# --- exact dedup -------------------------------------------------------------

def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, canonical_id) for every doc; canonical = min id per byte-
    identical text. One shuffle (window by hash)."""
    from pyspark.sql.window import Window

    h = F.md5(F.col(text_col))
    w = Window.partitionBy("text_hash")
    return (
        docs.select(F.col(id_col), h.alias("text_hash"))
        .withColumn("canonical_id", F.min(id_col).over(w))
    )


def exact_dedup_keep_first(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Drop all but the smallest-id copy of each exact-duplicate text."""
    g = exact_dedup_groups(docs, id_col, text_col)
    keepers = g.filter(F.col(id_col) == F.col("canonical_id")).select(id_col)
    return docs.join(keepers, id_col, "left_semi")


# --- shingling + MinHash ------------------------------------------------------

def word_shingles_from_tokens(w: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a MATERIALIZED token-array column.
    Docs shorter than n words collapse to a single whole-doc shingle.

    The token column MUST be staged in its own projection first
    (``select(ws_tokens(lower(text)).alias("_tk"))`` then shingle from
    ``_tk``): higher-order functions run outside whole-stage codegen
    and get no common-subexpression elimination, so an inline tokenize
    expression is re-evaluated for every element_at — measured 18×
    slower (6.7 s vs 0.37 s for 5k-doc signatures, local[32])."""
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(w) >= n, grams).otherwise(F.array(F.array_join(w, " ")))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Convenience one-expression form — tokenizes inline. For anything
    hot, stage tokens and use ``word_shingles_from_tokens`` (see its
    docstring for the 18× reason)."""
    return word_shingles_from_tokens(ws_tokens(F.lower(text)), n)


def _hash_shingle(shingle: Column, seed: int) -> Column:
    """Engine-portable hash: md5 of 'seed:shingle' (lowercase hex —
    min() over these strings is a valid minhash)."""
    return F.md5(F.concat(F.lit(f"{seed}:"), shingle))


def minhash_signature_from_shingles(shingles: Column, k: int = 16) -> Column:
    """array<string> of k minhashes from a MATERIALIZED shingle column:
    for each seed, min over the shingle array of md5(seed:shingle).

    Callers should project the shingle array in a prior select —
    passing the raw word_shingles(...) expression here makes Catalyst
    inline (and recompute) the whole tokenize+shingle pipeline once per
    seed, a k× slowdown measured at ~8× wall on the bench corpus."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                shingles, lambda s: F.md5(F.concat(i.cast("string"), F.lit(":"), s))
            )
        ),
    )


def minhash_signature(text: Column, k: int = 16, shingle_n: int = 3) -> Column:
    """Convenience wrapper; prefer materializing shingles first (see
    minhash_signature_from_shingles)."""
    return minhash_signature_from_shingles(word_shingles(text, shingle_n), k)


def minhash_signature_from_shingles_xx(shingles: Column, k: int = 16) -> Column:
    """PRODUCTION hash family: array<bigint> of k minhashes via
    xxhash64(seed, shingle) — JVM-native 64-bit hashing, no hex-string
    materialization, markedly cheaper than k chained md5s (measured in
    BENCH/minhash_family.json). Not engine-portable (DuckDB has no
    xxhash64), so the md5 family remains the oracle-checked default;
    both share every plan downstream of the signature."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(F.transform(shingles, lambda s: F.xxhash64(i, s))),
    )


def minhash_bands(sig: Column, bands: int = 4, rows_per_band: int = 4) -> Column:
    """array<struct<band_id:int, band_key:string>> — md5 of each band's
    concatenated minhashes."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band_id"),
            F.md5(
                F.array_join(
                    F.slice(sig, b * rows_per_band + 1, rows_per_band), "|"
                )
            ).alias("band_key"),
        ),
    )


def minhash_bands_xx(
    sig: Column, bands: int = 4, rows_per_band: int = 4
) -> Column:
    """Band keys for the xx family: xxhash64 of each band's slice
    (hash functions accept array columns directly — no string
    round-trip). Key rendered as string so both families share one
    downstream schema."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band_id"),
            F.xxhash64(F.slice(sig, b * rows_per_band + 1, rows_per_band))
            .cast("string")
            .alias("band_key"),
        ),
    )


def signature_frame(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    shingle_n: int,
    hash_family: str,
) -> DataFrame:
    """(id_col, sig) in one map pass — no explode, no shuffle. The ONE
    place the shingle→signature staging lives; both intra-batch LSH
    (``lsh_candidate_pairs``) and the cross-dump incremental index
    derive signatures here so the two paths can never diverge."""
    sig_fn = (
        minhash_signature_from_shingles_xx
        if hash_family == "xx"
        else minhash_signature_from_shingles
    )
    return (
        docs.select(
            F.col(id_col), ws_tokens(F.lower(F.col(text_col))).alias("_tk")
        )
        .select(
            id_col, word_shingles_from_tokens(F.col("_tk"), shingle_n).alias("_sh")
        )
        .select(id_col, sig_fn(F.col("_sh"), k).alias("sig"))
    )


def explode_bands(
    sigged: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    hash_family: str,
    sig_col: str = "sig",
) -> DataFrame:
    """(id_col, sig) → (id_col, band_id, band_key). The ONE band-key
    derivation — a change here (salting, key format) reaches intra-batch
    and cross-dump banding together, keeping their join keys compatible."""
    band_fn = minhash_bands_xx if hash_family == "xx" else minhash_bands
    return sigged.select(
        id_col,
        F.explode(band_fn(F.col(sig_col), bands, rows_per_band)).alias("b"),
    ).select(id_col, "b.band_id", "b.band_key")


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_family: str = "md5",
    max_bucket_size: int | None = None,
    cap_observation=None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) via MinHash-LSH.

    Plan shape: map (signatures) → explode bands → shuffle on
    (band_id, band_key) → in-bucket self-join → distinct. The join key
    is a hash, so bucket sizes are driven by true near-duplicate
    cluster sizes, not input skew.

    ``hash_family``: "md5" (engine-portable, oracle-checked) or "xx"
    (xxhash64, the production/scale choice — same plan, cheaper map
    stage; BENCH/minhash_family.json quantifies the gap).

    ``max_bucket_size``: mega-duplicate-bucket guard. Bucket sizes
    track TRUE near-dup cluster sizes — which is exactly the danger on
    a real crawl, where one boilerplate page has 10^5–10^6 copies and
    would make its bucket's self-join quadratic (10^10+ pairs). With a
    cap, each (band_id, band_key) bucket keeps only its
    ``max_bucket_size`` smallest ids for pair generation, bounding any
    bucket at cap²/2 pairs. The kept subset is deterministic (min
    ids), so the bucket's canonical representative always survives;
    callers running keep-canonical dedup over the transitive closure
    (``dedup_keep_canonical``) lose nothing when the bucket is one
    true cluster — exactly the mega-bucket case. Defense in depth:
    ``near_dedup_minhash(collapse_exact=True)`` (the default) already
    collapses byte-identical copies to ONE representative before LSH,
    so only a giant cluster of *distinct-but-near-identical* texts can
    oversize a bucket at all. The cap trims ranks within the same
    (band_id, band_key) partitioning the self-join shuffles on, so it
    adds no exchange.

    ``cap_observation``: optional ``pyspark.sql.Observation`` — when
    the cap is active, registers metrics ``banded_rows`` and
    ``capped_rows`` (rows dropped by the guard) collected during the
    run, so production jobs can alarm on silent recall loss without a
    second pass.

    ``sigs``: optional precomputed ``(id_col, sig)`` frame (e.g. a
    PERSISTED signature pass shared across several consumers — the
    incremental-dedup ingest computes signatures once and reuses them
    for cross-dump banding, estimate verification, intra-batch LSH and
    the index write). Must use the same k/shingle_n/``hash_family``;
    when given, the shingle+signature map stage is skipped and only
    ids present in BOTH ``docs`` and ``sigs`` are banded.
    """
    if hash_family not in ("md5", "xx"):
        raise ValueError(
            f"hash_family must be 'md5' or 'xx', got {hash_family!r}"
        )
    rows_per_band = k // bands
    if sigs is not None:
        sigs = validate_sigs(sigs, k, hash_family)
        sigged = sigs.join(
            docs.select(F.col(id_col)), id_col, "left_semi"
        ).select(F.col(id_col).alias("_id"), "sig")
    else:
        sigged = signature_frame(
            docs, id_col, text_col, k, shingle_n, hash_family
        ).select(F.col(id_col).alias("_id"), "sig")
    banded = explode_bands(sigged, "_id", bands, rows_per_band, hash_family)
    return _pairs_from_banded(banded, max_bucket_size, cap_observation)


def validate_sigs(sigs: DataFrame, k: int, hash_family: str) -> DataFrame:
    """Guard for caller-precomputed ``sigs=`` frames: a frame built
    with a different k or hash_family would silently yield wrong/short
    band keys and lost candidates (recall loss, no error). Static
    check: the sig element type must match the hash family (md5 →
    string hex, xx → bigint). Runtime check: a JVM-side raise_error on
    any row whose signature length != k — zero cost on the happy path,
    a loud job failure instead of silent recall loss otherwise."""
    from pyspark.sql.types import ArrayType, LongType, StringType

    sig_type = {f.name: f.dataType for f in sigs.schema.fields}.get("sig")
    if not isinstance(sig_type, ArrayType):
        raise TypeError(
            f"sigs must have an array 'sig' column, got "
            f"{sig_type.simpleString() if sig_type else 'no sig column'}"
        )
    want = LongType() if hash_family == "xx" else StringType()
    if sig_type.elementType != want:
        raise TypeError(
            f"sigs.sig element type {sig_type.elementType.simpleString()} "
            f"does not match hash_family {hash_family!r} "
            f"(expected {want.simpleString()})"
        )
    guard = F.when(F.size("sig") == k, F.col("sig")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("precomputed sig length "),
                F.size("sig").cast("string"),
                F.lit(f" != k={k} — sigs= frame built with different MinHash parameters"),
            )
        )
    )
    return sigs.withColumn("sig", guard)


def _pairs_from_banded(
    banded: DataFrame, max_bucket_size: int | None, cap_observation
) -> DataFrame:
    """(band_id, band_key, _id) rows → distinct candidate pairs, with
    the optional per-bucket cap (see lsh_candidate_pairs docstring)."""
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band_id", "band_key").orderBy("_id")
        sized = banded.withColumn("_rk", F.row_number().over(w))
        if cap_observation is not None:
            sized = sized.observe(
                cap_observation,
                F.count(F.lit(1)).alias("banded_rows"),
                F.sum(
                    (F.col("_rk") > max_bucket_size).cast("long")
                ).alias("capped_rows"),
            )
        banded = sized.filter(F.col("_rk") <= max_bucket_size).drop("_rk")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return pairs


# --- n-gram Jaccard (verification / exact similarity) ------------------------

def jaccard_on_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    Joins the (small) pair list to docs twice; each join is keyed by
    doc id (uniform). Output: (id_a, id_b, jaccard)."""
    sh = docs.select(
        F.col(id_col), ws_tokens(F.lower(F.col(text_col))).alias("_tk")
    ).select(
        F.col(id_col),
        F.array_distinct(
            word_shingles_from_tokens(F.col("_tk"), shingle_n)
        ).alias("_sh"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def near_dedup_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_family: str = "md5",
    collapse_exact: bool = True,
    max_bucket_size: int | None = None,
    cap_observation=None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: exact-duplicate collapse → LSH
    candidates → exact Jaccard ≥ threshold.

    ``collapse_exact`` (default True) is the mega-duplicate guard that
    matters most on a real crawl: a boilerplate page with 10^5–10^6
    byte-identical copies would otherwise put its whole copy-set into
    one LSH bucket and the in-bucket self-join goes quadratic (10^10+
    pairs). Instead, byte-identical texts are collapsed to one
    min-id representative (``exact_dedup_groups`` — one hash shuffle,
    linear), MinHash/LSH/Jaccard run over representatives only, and
    each collapsed copy is re-attached as a ``(canonical, member,
    jaccard=1.0)`` pair — O(copies) edges, not O(copies²). The output
    pair set differs from the uncollapsed all-pairs form, but its
    TRANSITIVE CLOSURE is identical (members reach everything their
    representative reaches via the canonical edge), which is the
    contract every downstream consumer (``connected_components``,
    ``dedup_keep_canonical``) depends on.

    ``max_bucket_size`` / ``cap_observation`` / ``sigs`` (precomputed
    signatures): forwarded to ``lsh_candidate_pairs`` — see its
    docstring.
    """
    if collapse_exact:
        groups = exact_dedup_groups(docs, id_col, text_col)
        reps = docs.join(
            groups.filter(F.col(id_col) == F.col("canonical_id")).select(id_col),
            id_col,
            "left_semi",
        )
        cands = lsh_candidate_pairs(
            reps, id_col, text_col, k, bands, shingle_n, hash_family,
            max_bucket_size, cap_observation, sigs,
        )
        verified = jaccard_on_pairs(
            cands, reps, id_col, text_col, shingle_n
        ).filter(F.col("jaccard") >= threshold)
        exact_pairs = groups.filter(
            F.col(id_col) != F.col("canonical_id")
        ).select(
            F.col("canonical_id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        return verified.unionAll(exact_pairs)
    cands = lsh_candidate_pairs(
        docs, id_col, text_col, k, bands, shingle_n, hash_family,
        max_bucket_size, cap_observation, sigs,
    )
    verified = jaccard_on_pairs(cands, docs, id_col, text_col, shingle_n)
    return verified.filter(F.col("jaccard") >= threshold)


# --- near-dup clusters (connected components) --------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, cluster_id) for every node in the pair graph; cluster_id =
    min node id of its connected component.

    The step that COMPLETES near-dup dedup: verified pairs only relate
    two docs, but keep-one-per-group needs the transitive closure.
    Alternating large-star / small-star edge contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14):
    each round rewires every edge toward the minimum of a local
    neighborhood, so the edge set collapses to per-component stars
    rooted at the component minimum in O(log² n) rounds worst case and
    ~log n in practice — a 1,000-node path converges in 10 rounds,
    where plain min-label propagation needs 999 sweeps (fatal on an
    adversarial chain of pairwise near-dups; fine only for
    clique-shaped dup graphs). No GraphX/graphframes dependency.

    Scale notes: each round is two groupBy+join passes over the edge
    list, keyed by node id (uniform); per-round cost is flat because
    ``localCheckpoint`` truncates the lineage every round (on a
    cluster prefer ``spark.sparkContext.setCheckpointDir`` +
    ``checkpoint()`` for fault-tolerant truncation). Edge-set-equality
    convergence check: one count + one exceptAll probe per round.
    """

    def _large_star(e: DataFrame) -> DataFrame:
        # for each node u: connect every LARGER neighbor to the min of
        # u's closed neighborhood
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient edges toward the larger endpoint; connect each node's
        # smaller neighbors (and itself) to its min smaller neighbor
        e2 = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = e2.groupBy("u").agg(F.min("v").alias("m"))
        return (
            e2.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(m.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # materialize the edge list once — without this every round's joins
    # and convergence checks would recompute the (often expensive:
    # minhash + LSH + Jaccard) upstream pairs pipeline
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    n_edges = edges.count()
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        n_new = new_edges.count()
        if n_new == n_edges and new_edges.exceptAll(edges).limit(1).count() == 0:
            converged = True
            edges = new_edges
            break
        edges, n_edges = new_edges, n_new
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "pathological component shape; returning partial labels would "
            "silently split clusters. Raise max_iter."
        )
    # star state: every edge is (member, component_min); roots label
    # themselves
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
        .unionAll(
            edges.select(F.col("v").alias("node"), F.col("v").alias("cluster_id"))
        )
        .distinct()
    )


def dedup_keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 25
) -> DataFrame:
    """Drop every doc that belongs to a near-dup cluster but isn't its
    min-id canonical. Docs not in any pair are kept untouched."""
    clusters = connected_components(pairs, max_iter=max_iter)
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# --- SimHash ------------------------------------------------------------------

def token_hex4(text: Column) -> Column:
    """array<string> of each token's first-4-hex-chars md5 — the staged
    input for simhash16_from_hex. Stage this in its own projection:
    the 16 per-bit aggregates downstream run outside whole-stage
    codegen with no CSE, so an inline hash array would be re-hashed
    once per bit (same 10×+ trap as word_shingles_from_tokens)."""
    return F.transform(
        ws_tokens(F.lower(text)), lambda t: F.substring(F.md5(t), 1, 4)
    )


def simhash16_from_hex(hx: Column) -> Column:
    """16-bit SimHash from a MATERIALIZED token_hex4 column,
    engine-portable. Bit j of each 4-hex-char hash votes ±1; the sign
    of the per-bit sum over all tokens sets that signature bit. 16 bits
    keeps the oracle SQL tractable; simhash64 is the production
    variant (same construction, xxhash64-based)."""

    # NB: higher-order-function lambdas must take exactly the arity
    # Spark expects — capture j via a factory, not a default arg.
    def _bit_vote(j: int):
        def _merge(acc, h):
            bit = (
                F.conv(F.substring(h, j // 4 + 1, 1), 16, 10)
                .cast("int")
                .bitwiseAND(F.lit(1 << (3 - j % 4)))
            )
            return acc + F.when(bit > 0, F.lit(1)).otherwise(F.lit(-1))

        return _merge

    bit_sums = [F.aggregate(hx, F.lit(0), _bit_vote(j)) for j in range(16)]
    out = F.lit(0)
    for j, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(1 << (15 - j))).otherwise(F.lit(0))
    return out.cast("int")


def simhash16(text: Column) -> Column:
    """Convenience one-expression form — hashes inline, re-evaluated
    per bit. For anything hot, stage token_hex4 and use
    simhash16_from_hex."""
    return simhash16_from_hex(token_hex4(text))


def token_xx64(text: Column) -> Column:
    """array<bigint> of per-token xxhash64 — staged input for
    simhash64_from_hashes (same no-CSE-under-HOF reason as
    token_hex4, ×64 bits here)."""
    return F.transform(ws_tokens(F.lower(text)), lambda t: F.xxhash64(t))


def simhash64_from_hashes(hs: Column) -> Column:
    """Production 64-bit SimHash from a MATERIALIZED token_xx64 column
    (fast, JVM-native). Not oracle-portable; used by the dedup
    pipeline at scale."""

    def _vote(mask):
        def _merge(acc, h):
            return acc + F.when(h.bitwiseAND(mask) != 0, F.lit(1)).otherwise(
                F.lit(-1)
            )

        return _merge

    out = F.lit(0).cast("long")
    for j in range(64):
        # 1<<63 overflows a Java long literal — build via shiftleft
        mask = F.shiftleft(F.lit(1).cast("long"), j)
        votes = F.aggregate(hs, F.lit(0), _vote(mask))
        out = out + F.when(votes > 0, mask).otherwise(F.lit(0).cast("long"))
    return out


def simhash64(text: Column) -> Column:
    """Convenience one-expression form; stage token_xx64 +
    simhash64_from_hashes on hot paths."""
    return simhash64_from_hashes(token_xx64(text))


def simhash_bands(
    sim: Column, bands: int = 4, total_bits: int = 64
) -> Column:
    """array<struct<band_id:int, band_val:bigint>> — contiguous
    equal-width bit slices of a simhash signature.

    Pigeonhole guarantee: two signatures within hamming distance
    ``bands - 1`` differ in fewer bits than there are bands, so at
    least one band is bit-identical and an equi-join on
    (band_id, band_val) finds every pair in that hamming ball. Unlike
    a fixed-prefix bucket scheme (whose bucket count is a constant
    2^prefix_bits — in-bucket self-joins go quadratic at corpus
    scale), the join-key space here is bands × 2^(total_bits/bands)
    and the OBSERVED key count grows with corpus entropy, keeping
    bucket sizes driven by true near-dup cluster density."""
    width = total_bits // bands
    mask = F.lit((1 << width) - 1).cast("long")
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("band_id"),
                F.shiftrightunsigned(sim.cast("long"), i * width)
                .bitwiseAND(mask)
                .alias("band_val"),
            )
            for i in range(bands)
        ]
    )


def simhash_banded_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    hash_family: str = "xx64",
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded SimHash-LSH (replaces the
    earlier fixed-prefix bucket scheme, whose 2^8 = 256 buckets made
    the in-bucket self-join O(n²/256) — quadratic at web scale).

    Plan shape mirrors MinHash-LSH (`lsh_candidate_pairs`): map
    (signature) → explode bands → shuffle on (band_id, band_val) →
    in-bucket self-join → distinct. Complete for hamming ≤ bands-1 by
    pigeonhole (see `simhash_bands`).

    ``hash_family``: "xx64" (64-bit xxhash64 signature, 4×16-bit
    bands by default — the production/scale path) or "md5_16" (16-bit
    engine-portable md5-vote signature, oracle-checked; use bands=2
    for 8-bit bands).

    ``max_hamming``: optionally drop candidate pairs whose full
    signatures differ in more than this many bits (cheap verification
    — one XOR + popcount per pair, no second pass over the text).

    Output: (id_a, id_b, sim_a, sim_b, hamming), id_a < id_b, distinct.
    """
    if hash_family == "xx64":
        sh = docs.select(
            F.col(id_col).alias("_id"), token_xx64(F.col(text_col)).alias("_h")
        ).select("_id", simhash64_from_hashes(F.col("_h")).alias("_sim"))
        total_bits = 64
    elif hash_family == "md5_16":
        sh = docs.select(
            F.col(id_col).alias("_id"), token_hex4(F.col(text_col)).alias("_h")
        ).select(
            "_id", simhash16_from_hex(F.col("_h")).cast("long").alias("_sim")
        )
        total_bits = 16
    else:
        raise ValueError(
            f"hash_family must be 'xx64' or 'md5_16', got {hash_family!r}"
        )
    banded = sh.select(
        "_id",
        "_sim",
        F.explode(simhash_bands(F.col("_sim"), bands, total_bits)).alias("b"),
    ).select("_id", "_sim", "b.band_id", "b.band_val")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sim").alias("sim_a"),
            F.col("r._sim").alias("sim_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int"),
        )
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs


def latest_snapshot_per_key(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "crawl_ts",
    tiebreak_col: str = "doc_id",
    count_col: str | None = "n_snapshots",
) -> DataFrame:
    """Re-crawl collapse: keep the newest snapshot per key (the
    Common-Crawl cross-dump dedup — every monthly dump re-fetches hot
    urls; training corpora want exactly one, the freshest).

    One shuffle on ``key_col``; the per-key window buffers only that
    key's snapshots, whose count is bounded by crawl frequency (dumps
    per retention window), NOT by corpus size — so the window state
    stays O(dumps) per key at 10^12 documents. Ties on ``ts_col``
    break deterministically on ``tiebreak_col`` (descending), so the
    result is stable across engines and runs. With ``count_col`` set,
    the kept row carries how many snapshots it collapsed (lineage for
    the dedup-rate metric); both window functions share one
    partitioning, so it costs no extra exchange.
    """
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    out = df.withColumn("_rn", F.row_number().over(w_rank))
    if count_col is not None:
        out = out.withColumn(
            count_col,
            F.count(F.lit(1)).over(Window.partitionBy(key_col)).cast("bigint"),
        )
    return out.filter(F.col("_rn") == 1).drop("_rn")


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    grams_col: str = "grams",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination scan (the n-gram overlap check every
    training-data pipeline runs before a release): for each corpus
    document, how many of its distinct shingles also occur in a
    held-out benchmark/eval set. Returns one row per document with at
    least one hit: ``(id, n_grams, n_hits, contamination)`` where
    ``contamination = n_hits / n_grams`` (rounded, 4 dp).

    Both inputs carry a pre-distinct ``array<string>`` shingle column
    (``grams_col``) — build it with ``array_distinct(
    word_shingles_from_tokens(...))`` so join multiplicity is exactly
    one per (doc, gram).

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval sets are thousands of docs, the corpus is billions), so its
    distinct gram set is exploded, deduped, and **broadcast** — the
    corpus side streams map-side through the hash join with NO
    shuffle; the only exchange is the final per-doc count, keyed by
    id (uniform). A benchmark too large to broadcast degrades
    gracefully: remove the hint and the same plan runs as a shuffle
    join on the content-hash-distributed gram key.
    """
    bench_grams = (
        benchmark.select(F.explode(F.col(grams_col)).alias("gram")).distinct()
    )
    c = corpus.select(
        F.col(id_col),
        F.size(F.col(grams_col)).cast("bigint").alias("n_grams"),
        F.explode(F.col(grams_col)).alias("gram"),
    )
    hits = c.join(F.broadcast(bench_grams), "gram")
    return (
        hits.groupBy(id_col, "n_grams")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .withColumn(
            "contamination", F.round(F.col("n_hits") / F.col("n_grams"), 4)
        )
    )


def _span_hashes(
    tk: Column, span_len: int, hash_family: str = "md5"
) -> Column:
    """Hash of every ``span_len``-token window of a MATERIALIZED token
    array (empty when the doc is shorter than one span — a doc that
    cannot contain the span cannot be contaminated by it).

    ``hash_family``: "md5" (engine-portable — the DuckDB oracle mirrors
    it exactly) or "xx" (xxhash64 over the window slice directly, no
    join-to-string materialization — the production family; same
    downstream plan, the hash is only ever a join/group key)."""
    if hash_family == "xx":
        idx = F.sequence(F.lit(1), F.size(tk) - (span_len - 1))
        spans = F.transform(
            idx, lambda i: F.xxhash64(F.slice(tk, i, span_len))
        )
        return F.when(F.size(tk) >= span_len, spans).otherwise(
            F.array().cast("array<bigint>")
        )
    if hash_family != "md5":
        raise ValueError(
            f"hash_family must be 'md5' or 'xx', got {hash_family!r}"
        )
    idx = F.sequence(F.lit(1), F.size(tk) - (span_len - 1))
    spans = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(tk, i, span_len), " "))
    )
    return F.when(F.size(tk) >= span_len, spans).otherwise(
        F.array().cast("array<string>")
    )


def exact_span_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    span_len: int = 50,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Exact long-span contamination scan — the STRONGER check run
    alongside the n-gram overlap (``contamination_check``): a document
    that contains an eval example *verbatim* can still score a LOW
    n-gram contamination fraction when it is long (47 contaminated
    4-grams out of 1,000 is 4.7% — under any alert threshold), yet it
    leaks the entire eval item. Here every ``span_len``-token window
    of every corpus doc is hashed and matched EXACTLY against every
    window of the benchmark; one hit is proof of verbatim leakage, so
    the output is per-doc evidence, not a fraction:
    ``(id, n_spans, n_span_hits, first_token_pos)`` (1-based token
    offset of the earliest leaked span), docs with no hits omitted.

    Both inputs carry a MATERIALIZED token array (``tokens_col``) —
    same staging contract as ``word_shingles_from_tokens``.

    Scale shape: the benchmark's span-hash set is distinct'ed and
    **broadcast** (eval sets are thousands of docs — a few hundred
    thousand 8-byte-keyed hashes), so the corpus side is map-only
    through the join; the only shuffle is the per-doc hit aggregation,
    keyed by id. Hash cost is O(tokens × span_len) bytes md5'd per
    doc, embarrassingly parallel in the map stage; md5 keeps the
    DuckDB oracle able to mirror the hash exactly (the xxhash64 trick
    from the minhash family applies here too if CPU ever dominates).
    """
    bench_spans = benchmark.select(
        F.explode(_span_hashes(F.col(tokens_col), span_len)).alias("span_h")
    ).distinct()
    c = corpus.select(
        F.col(id_col), _span_hashes(F.col(tokens_col), span_len).alias("_sp")
    ).select(
        F.col(id_col),
        F.size(F.col("_sp")).cast("bigint").alias("n_spans"),
        F.posexplode(F.col("_sp")).alias("pos", "span_h"),
    )
    hits = c.join(F.broadcast(bench_spans), "span_h")
    return hits.groupBy(id_col, "n_spans").agg(
        F.count(F.lit(1)).alias("n_span_hits"),
        (F.min("pos") + 1).cast("int").alias("first_token_pos"),
    )


def _dup_span_rows(spans: DataFrame, id_col: str, min_docs: int) -> DataFrame:
    """The span rows whose hash occurs in >= ``min_docs`` DISTINCT docs.

    min_docs == 2 (the standard setting): "shared" is exactly
    min(id) != max(id) over a window partitioned by the hash — the
    exploded span frame is computed ONCE and shuffled ONCE; the
    aggregate-then-self-join formulation recomputes the whole
    explode+hash map stage for the probe side and shuffles it again
    (measured 2.3x slower at 21M span rows — 84 s vs 36 s profile leg,
    local[32]; BENCH/span_dedup.json holds the window-plan numbers).
    min_docs > 2 needs a distinct count, which windows can't stream —
    that path keeps the aggregate + join shape."""
    from pyspark.sql.window import Window

    if min_docs == 2:
        w = Window.partitionBy("span_h").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return (
            spans.withColumn("_mn", F.min(id_col).over(w))
            .withColumn("_mx", F.max(id_col).over(w))
            .filter(F.col("_mn") != F.col("_mx"))
            .drop("_mn", "_mx")
        )
    shared = (
        spans.groupBy("span_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("span_h")
    )
    return spans.join(shared, "span_h")


def duplicated_span_profile(
    corpus: DataFrame,
    span_len: int = 10,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_docs: int = 2,
    hash_family: str = "md5",
) -> DataFrame:
    """Intra-corpus duplicated-span profile — the corpus-internal
    counterpart of ``exact_span_contamination``: instead of matching
    against an external eval set, every ``span_len``-token window is
    matched against every OTHER document's windows, surfacing verbatim
    boilerplate (shared footers, license blocks, templated paragraphs)
    that document-level near-dedup can't see because the surrounding
    text differs (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — the suffix-array use case, re-expressed
    as a distributed hash join).

    Output, per document that shares at least one span with >=
    ``min_docs``-1 other documents: ``(id, n_spans, n_dup_spans,
    dup_span_frac, first_dup_pos)`` — ``dup_span_frac`` is the fraction
    of the doc's windows that are corpus-duplicated (a removal/score
    signal), ``first_dup_pos`` the 1-based token offset of the earliest
    shared span. Docs with no shared spans are omitted.

    Scale shape: one explode to (id, pos, span_hash) — O(total tokens)
    rows, the same cardinality any suffix-array/dedup-span method must
    materialize — then ONE shuffle keyed by the span hash (uniform by
    construction, skew only from true mega-boilerplate, which a window
    bucket absorbs — tested at 20k copies), the shared-span window
    test (``_dup_span_rows``), and a per-doc aggregation over only the
    duplicated rows. ``hash_family="md5"`` (default) is mirrored
    exactly by the DuckDB oracle; ``"xx"`` (xxhash64 over the window
    slice, no string materialization) is the production family for
    CPU-bound corpora — same plan, cheaper map stage
    (BENCH/span_dedup.json quantifies the gap).

    At 10^12 docs the exploded frame is ~10^14 rows — run this the way
    the real pipelines do: per dump/shard (each dump's explode is
    bounded) and catch CROSS-dump boilerplate at the document level via
    the incremental index (operators/incremental_dedup.py), whose
    near-dup layer flags the templated pages this operator would
    de-span. One full-corpus pass stays available for audits; nothing
    in the plan assumes the corpus fits anywhere.
    """
    spans = corpus.select(
        F.col(id_col),
        _span_hashes(F.col(tokens_col), span_len, hash_family).alias("_sp"),
    ).select(
        F.col(id_col),
        F.size(F.col("_sp")).cast("bigint").alias("n_spans"),
        F.posexplode(F.col("_sp")).alias("pos", "span_h"),
    )
    hits = _dup_span_rows(spans, id_col, min_docs)
    return hits.groupBy(id_col, "n_spans").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.round(F.count(F.lit(1)) / F.col("n_spans"), 4).alias("dup_span_frac"),
        (F.min("pos") + 1).cast("int").alias("first_dup_pos"),
    )


def remove_duplicated_spans(
    corpus: DataFrame,
    span_len: int = 10,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_docs: int = 2,
    hash_family: str = "md5",
) -> DataFrame:
    """Cut corpus-duplicated spans out of every document except one
    canonical occurrence — the REMOVAL half of the Lee et al. 2022
    span-dedup recipe (``duplicated_span_profile`` is the detection
    half): for each span hash shared by ≥ ``min_docs`` docs, the
    occurrence with the smallest (doc id, position) survives; every
    other occurrence's ``span_len``-token window is deleted, and the
    text is rebuilt from the remaining tokens. Overlapping cut windows
    union. Returns every input doc as ``(id, clean_tokens,
    n_tokens_removed)`` — callers re-join text downstream or
    ``array_join(clean_tokens, ' ')``.

    Scale shape: detection is the profile's plan (one explode, one
    shuffle keyed by span hash); the canonical-occurrence choice is a
    bounded window INSIDE each span-hash group (bucket size = true
    duplicate count). Cut positions then flow back as ONE small
    aggregate keyed by doc id (only docs that lose tokens appear) and
    a left join against the corpus — co-locatable via bucketing on the
    id. Reconstruction is a pure map: ``filter`` with the element
    index against the doc's own cut list (tiny), no token explode.
    """
    from pyspark.sql.window import Window

    spans = corpus.select(
        F.col(id_col),
        _span_hashes(F.col(tokens_col), span_len, hash_family).alias("_sp"),
    ).select(F.col(id_col), F.posexplode(F.col("_sp")).alias("pos", "span_h"))
    w = Window.partitionBy("span_h").orderBy(F.col(id_col), F.col("pos"))
    cut = (
        _dup_span_rows(spans, id_col, min_docs)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        # pos is 0-based into the span array → 1-based token start
        .select(F.col(id_col), (F.col("pos") + 1).alias("start1"))
    )
    cutl = cut.groupBy(id_col).agg(
        F.sort_array(F.collect_list("start1")).alias("_starts")
    )
    # merge the sorted window starts into covered [s, e] token intervals
    # BEFORE the per-token test: a fully-duplicated doc has ~len cut
    # starts but ONE merged interval, so reconstruction is
    # O(len × intervals), not O(len × starts) — the difference between
    # linear and quadratic on exact-duplicate long docs
    empty = F.array().cast("array<struct<s:int,e:int>>")
    span_end = F.lit(span_len - 1)

    def _merge(acc, p):
        # try_element_at: NULL (not an ANSI error) on the empty
        # accumulator — the condition below then falls to 'new'
        last = F.try_element_at(acc, F.lit(-1))
        ext = F.struct(
            last["s"].alias("s"),
            F.greatest(last["e"], (p + span_end).cast("int")).alias("e"),
        )
        new = F.struct(
            p.cast("int").alias("s"), (p + span_end).cast("int").alias("e")
        )
        return F.when(
            (F.size(acc) > 0) & (p <= last["e"] + 1),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ext)),
        ).otherwise(F.concat(acc, F.array(new)))

    cutl = cutl.select(
        F.col(id_col),
        F.aggregate(F.col("_starts"), empty, _merge).alias("_cuts"),
    )
    out = corpus.join(cutl, id_col, "left")
    # untouched docs (null cut list — the vast majority of any real
    # corpus) bypass the per-token lambda entirely: higher-order
    # functions run interpreted, so paying them only on cut docs keeps
    # the common path in codegen
    clean = F.when(F.col("_cuts").isNull(), F.col(tokens_col)).otherwise(
        F.filter(
            F.col(tokens_col),
            lambda x, i: ~F.exists(
                F.col("_cuts"),
                lambda r: (i + 1 >= r["s"]) & (i + 1 <= r["e"]),
            ),
        )
    )
    return out.select(
        F.col(id_col),
        clean.alias("clean_tokens"),
        (F.size(F.col(tokens_col)) - F.size(clean)).cast("int").alias(
            "n_tokens_removed"
        ),
    )


def select_cluster_representatives(
    df: DataFrame,
    cluster_col: str,
    order_cols: list,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep ONE representative per duplicate cluster by an explicit
    priority order — production dedup keeps the BEST member (highest
    quality score, longest text, newest snapshot …), not the smallest
    id; min-id (``exact_dedup_groups``/``dedup_clusters``) is only the
    right default when members are byte-identical. Pass e.g.
    ``[F.col("quality_score").desc()]``; ``id_col`` is appended as the
    final ordering key, so ties break to the smallest id and the choice
    is deterministic.

    Output: the representative rows plus ``n_members`` (cluster size).
    Scale shape: ONE shuffle on the cluster key + a rank-1 window whose
    state is bounded by cluster size — near-dup clusters are small by
    construction (banded candidates + verify), the same trade as A1's
    top-5 window. A pathological mega-cluster concentrates ONE
    cluster's members in one task; cap upstream (``max_bucket_size`` in
    the LSH path) if the corpus can produce one.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(cluster_col).orderBy(*order_cols, F.col(id_col))
    wc = Window.partitionBy(cluster_col)
    return (
        df.withColumn("_rep_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("_rep_rn") == 1)
        .drop("_rep_rn")
    )
