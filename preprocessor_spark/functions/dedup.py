"""Deduplication suite for document corpora — exact, word-set, MinHash+LSH,
SimHash, n-gram Jaccard verification, embedding-cosine near-dup.

All machinery is native Spark expressions (no Python in the row path).
Near-duplicate operators (MinHash, SimHash) derive their hash families from
md5 arithmetic (see functions/hashing.py) so any SQL engine can reproduce
the exact signatures, candidate sets and verified pairs — the operators are
fully oracle-checkable, not merely rows-only.

Scale notes per operator are inline — the unifying principle: never
materialize O(n²) candidate pairs; LSH band-bucket joins bound candidates to
colliding buckets only, and every self-join keys on a hash bucket so AQE can
handle bucket skew.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.functions.hashing import (
    digest_h60,
    md5_h60,
    perm_hash_affine,
)
from preprocessor_spark.functions.text import words

SIMHASH_BITS = 60  # md5_h60 yields 60 usable bits — 4 pigeonhole chunks of 15


# ------------------------------------------------------------------ exact
def _content_keys(content: F.Column) -> list[F.Column]:
    """Two INDEPENDENT 64-bit content hashes (xxhash64 + the first 16 hex
    chars of md5): deleting a document on a single 64-bit
    match is not exact at corpus scale (birthday bound: collision odds
    ~50% at 4e9 docs), two families push it below ~1e-18 at 10^9 docs."""
    return [
        F.xxhash64(content).alias("__h1"),
        F.substring(F.md5(content), 1, 16).alias("__h2"),
    ]


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text: one groupBy on the text
    hashes (shuffle carries only (hashes, id), not the payload), then a
    broadcast-ready semi-join back for the full rows. NULL texts collapse
    to one group (SQL GROUP BY semantics — the oracle contract)."""
    keep = (
        df.select(*_content_keys(F.col(text_col)), F.col(id_col))
        .groupBy("__h1", "__h2")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def duplicate_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-corpus duplicate accounting (reference A6 analog,
    app/core/data_handler.py:413-415)."""
    return (
        df.groupBy(*_content_keys(F.col(text_col)))
        .agg(F.count(F.lit(1)).alias("copies"))
        .agg(
            F.count(F.lit(1)).alias("distinct_texts"),
            F.sum("copies").alias("total_docs"),
            F.sum(F.col("copies") - 1).alias("duplicate_docs"),
        )
    )


# --------------------------------------------------------------- word-set
def dedup_word_set(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Jaccard==1.0 dedup: documents with identical word SETS collapse to
    the lowest id (order/multiplicity-insensitive)."""
    # words never contain whitespace (split on \s+), so the space-join is
    # an injective encoding of the set and the two-family key applies
    wordset = F.array_join(F.array_sort(F.array_distinct(words(text_col))), " ")
    keep = (
        df.select(*_content_keys(wordset), F.col(id_col))
        .groupBy("__h1", "__h2")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------- shingles
def char_shingles(text_col: str = "text", k: int = 5) -> F.Column:
    """Distinct k-char shingles of the lowercased text, as strings — native
    transform over a positions sequence."""
    t = F.lower(F.col(text_col))
    n = F.length(t)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, k)))


def word_shingles(text_col: str = "text", k: int = 3) -> F.Column:
    """Distinct k-word shingles as space-joined strings (portable across
    engines: DuckDB mirrors with list slicing + array_to_string)."""
    ws = words(text_col)
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, k)))
    )


# ------------------------------------------------------------ MinHash + LSH
def minhash_signature(shingles: F.Column, num_hashes: int = 64) -> F.Column:
    """num_hashes-wide MinHash signature over an array of shingle STRINGS.

    One md5 digest per shingle; the permutations are per-permutation affine
    transforms ``g_i = (a_i·(h1 mod M31) + b_i) mod M31`` (hashing.py —
    NOT one digest per permutation, so hash work stays O(|shingles|), and
    NOT i-scaled double hashing, whose negligible perturbation makes every
    permutation pick the same minimum). Expression-level variant
    (higher-order functions, interpreted path); the pipeline in
    :func:`minhash_lsh_pairs` uses the exploded + codegen'd min-aggregate
    shape instead, with bit-identical values."""
    from preprocessor_spark.functions.hashing import MERSENNE31, perm_coeffs

    coeffs_a = F.array(
        *[F.lit(perm_coeffs(i)[0]).cast("long") for i in range(num_hashes)]
    )
    coeffs_b = F.array(
        *[F.lit(perm_coeffs(i)[1]).cast("long") for i in range(num_hashes)]
    )
    per_shingle = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % F.lit(MERSENNE31),
    )
    init = F.array(*[F.lit(MERSENNE31).cast("long")] * num_hashes)
    return F.aggregate(
        per_shingle,
        init,
        lambda acc, hb: F.zip_with(
            acc,
            F.zip_with(
                coeffs_a,
                coeffs_b,
                lambda a, b: (a * hb + b) % F.lit(MERSENNE31),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.7,
    shingle_mode: str = "char",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding:
      shingle → signature → band key → self-join per band bucket →
      exact-Jaccard verification on the colliding candidates only.

    Hash design (one md5 per shingle + per-permutation affine transforms
    ``g_i = (a_i·(h1 mod M31) + b_i) mod M31``, constants inlined from the
    driver) cuts the per-shingle hash work 64× vs a digest-per-permutation
    lattice, and makes the whole pipeline reproducible in plain SQL:
    signatures, band keys, candidates and the verified Jaccard are all
    md5+integer arithmetic. (The earlier ``h1 + i·h2s`` double hashing is
    a MinHash trap — its perturbation is ~1 part in 8M of h1's range, so
    one shingle wins every permutation and banding degenerates to a single
    hash function: ~10% recall loss and linear band-bucket growth,
    measured on a synthetic near-duplicate corpus before the fix,
    BENCH/DEDUP_SCALE.md.)

    Scale: the self-join keys on (band_id, band_key) so only colliding docs
    meet; verification intersects the DISTINCT shingle-hash sets (60-bit
    md5 values — collision-free in practice) carried from the single
    signature aggregate. ~(threshold, bands, rows/band) tuned by the
    standard S-curve 1-(1-s^r)^b.

    Caching contract: the hashed-shingle table and the signature DataFrame
    are persisted (the shingle hashes feed the signature aggregate AND both
    verification joins; the signatures feed both sides of the band join).
    They are attached to the returned DataFrame as ``._attached_caches``;
    callers that consume the result eagerly should call
    ``release_minhash_cache(result)`` (the bench/driver jobs do). Left
    persisted, they are reclaimed by Spark's LRU block eviction.
    """
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        # bands > num_hashes makes rows_per_band 0 → every band key is the
        # empty concat → the self-join degenerates to the full O(n²) cross
        # join; a non-divisor silently discards permutations and quietly
        # changes the S-curve the caller tuned
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    mk_shingles = char_shingles if shingle_mode == "char" else word_shingles
    # near-dup semantics need ≥1 real shingle: NULL/empty/whitespace-only
    # texts would all collapse to the single '' shingle (concat_ws skips
    # nulls, greatest(n-k+1, 1) floors the index range), giving every such
    # doc an IDENTICAL signature — m blank docs would fabricate m(m-1)/2
    # jaccard-1.0 'near-dup' pairs and flood one band bucket. Blank docs
    # belong to exact dedup, not similarity.
    if shingle_mode == "char":
        df = df.filter(F.length(text_col) > 0)
    else:
        df = df.filter(
            F.coalesce(F.size(words(text_col)), F.lit(0)) > 0
        )
    # lift single-small-file inputs to full parallelism before the CPU-heavy
    # shingle+signature projection (shuffles only raw text, once)
    target_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target_parts:
        df = df.repartition(target_parts, id_col)
    # one md5 per distinct shingle, cached as compact (id, h1) longs —
    # 16 bytes per shingle, never the raw shingle strings. The 60-bit h1
    # serves both the signature base (mod M31) and the collision-free
    # verification sets; the permutations need no second hash.
    hashed = (
        df.select(
            F.col(id_col), F.explode(mk_shingles(text_col, shingle_k)).alias("__s")
        )
        .select(id_col, F.md5("__s").alias("__m"))  # ONE digest per shingle
        .select(id_col, digest_h60(F.col("__m")).alias("__h1"))
        .persist()
    )
    # signature via num_hashes codegen'd min-aggregates. Two shapes were
    # rejected: higher-order array lambdas (transform/aggregate) run on the
    # INTERPRETED expression path, and carrying a collect_set in this same
    # aggregate demotes the WHOLE agg to ObjectHashAggregateExec (any typed
    # imperative function disables codegen HashAggregate) — measured ~2x
    # slower. The partial (map-side) agg collapses each task to one row per
    # doc before the shuffle.
    sig = (
        hashed.groupBy(id_col)
        .agg(
            *[
                F.min(perm_hash_affine(F.col("__h1"), i)).alias(f"__g{i}")
                for i in range(num_hashes)
            ]
        )
        .persist()
    )
    banded = minhash_band_keys(sig, id_col, num_hashes, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bh") == F.col("r.bh"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification: true Jaccard over the distinct shingle-hash sets,
    # computed as JOINS against the compact hashed table — intersection =
    # per-pair match count of h1 values, union = n_a + n_b − inter. The
    # candidate set is small (band collisions only), so the first join
    # broadcasts it; no shingle ARRAYS are ever built or shuffled.
    sizes = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    ha = hashed.select(F.col(id_col).alias("id_a"), "__h1")
    hb = hashed.select(F.col(id_col).alias("id_b"), "__h1")
    inter = (
        cand.join(ha, "id_a")
        .join(hb, ["id_b", "__h1"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    out = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"__inter": 0})
        .join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    _attach_caches(out, (hashed, sig))  # see caching contract above
    return out


def minhash_band_keys(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Band keys of a minhash signature table — one row per (doc, band),
    key = the band's signature slice joined as a string. Factored out of
    :func:`minhash_lsh_pairs` so bucket-size diagnostics (band-join skew
    evidence at scale) derive from the EXACT keys the self-join uses."""
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"__g{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    ).select(id_col, "__band.band", "__band.bh")


def _attach_caches(result: DataFrame, caches: tuple) -> DataFrame:
    """Attach persisted intermediates to a lazy result (caching contract:
    consumers call :func:`release_caches` after materializing)."""
    result._attached_caches = tuple(caches)
    return result


def release_caches(result: DataFrame) -> None:
    """Unpersist intermediates attached by the near-dup operators
    (:func:`minhash_lsh_pairs`, :func:`simhash_near_dups`). Call after
    eagerly consuming the result; left persisted they pin executor storage
    until Spark's LRU eviction reclaims them."""
    for cached in getattr(result, "_attached_caches", ()):
        cached.unpersist()


# back-compat alias for the original minhash-specific name
release_minhash_cache = release_caches


# ----------------------------------------------------------------- SimHash
def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document: per-word md5-derived hash, bit-vote,
    sign — entirely native expressions (explode → 60 codegen'd
    sum-aggregates), no Python anywhere in the path.

    The bit-vote is ``vote_i = Σ_words (2·bit_i(h) − 1)`` over ALL word
    occurrences (bag semantics — classic frequency-weighted SimHash);
    signature bit i is set iff vote_i > 0. Multiplicity weighting matters:
    set semantics collapses template-heavy corpora (documents sharing most
    of a vocabulary land within a few hamming bits of each other even when
    their texts differ). Documents with no words hash to 0."""
    hashed = (
        df.select(F.col(id_col), F.explode(words(text_col)).alias("__w"))
        .filter(F.length("__w") > 0)
        .select(id_col, md5_h60("__w").alias("__h"))
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright("__h", i).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"__v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sig = votes.select(
        F.col(id_col),
        reduce(
            add,
            [
                F.when(F.col(f"__v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(SIMHASH_BITS)
            ],
        ).alias("simhash"),
    )
    return df.select(id_col).join(sig, id_col, "left").na.fill({"simhash": 0})


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs by SimHash: combinatorial pigeonhole
    blocking (slice the 60-bit signature into s slices, block on every
    (s−max_hamming)-subset of slices — see :func:`simhash_block_keys`),
    verify hamming on candidates. Blocking is LOSSLESS: ≤ max_hamming
    flipped bits dirty ≤ max_hamming slices, so some clean subset always
    collides; the result is exactly all pairs with hamming ≤ max_hamming.
    Fully SQL-mirrorable.

    The signature table is persisted: it feeds BOTH sides of the block
    self-join, and recomputing the 60-aggregate bit-vote plan twice doubles
    the dominant cost. Caching contract as in :func:`minhash_lsh_pairs` —
    consumers call :func:`release_caches` after materializing."""
    # NULL/empty/whitespace-only texts all carry the fill-in signature 0
    # (zero word votes): m blank docs would collide in every blocking
    # subset and emit m(m-1)/2 hamming-0 'near-dup' pairs between documents
    # sharing no content. Same rule as minhash_lsh_pairs: blank docs belong
    # to exact dedup, not similarity.
    df = df.filter(F.coalesce(F.size(words(text_col)), F.lit(0)) > 0)
    sh = simhash(df, text_col, id_col).persist()
    chunks = simhash_block_keys(sh, id_col, max_hamming)
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.ci") == F.col("r.ci"),
                F.col("l.cv") == F.col("r.cv"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
    )
    # verify hamming BEFORE deduplicating: the filter is a per-row codegen
    # expression, so the dedup shuffle carries only surviving pairs
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _attach_caches(out, (sh,))


def simhash_blocking_plan(
    max_hamming: int, max_keys: int = 24
) -> tuple[int, list[tuple[int, ...]]]:
    """Choose the combinatorial pigeonhole blocking for a 60-bit SimHash:
    slice into ``s`` slices (s | 60, s > max_hamming) and key on every
    ``c = s − max_hamming``-subset of slices. Any pair within
    ``max_hamming`` differs in ≤ max_hamming slices, so ≥ c slices are
    clean and SOME c-subset matches exactly — lossless by pigeonhole
    (Manku et al., "Detecting near-duplicates for web crawling", WWW'07:
    the permute-and-block table scheme, expressed as subset keys).

    Wider keys are the scale lever: the round-4 dedup scale bench MEASURED
    the single-slice scheme's largest bucket growing ~linearly with corpus
    (15-bit keys ⇒ O(n²/2¹⁵) candidate pairs — fine to ~10⁷ docs, a wall
    at 10⁸+). Among plans whose key count fits ``max_keys``, pick the
    widest key (slice_bits × c); e.g. max_hamming=3 → 6 slices, C(6,3)=20
    keys of 30 bits — ~2¹⁵× fewer expected random collisions for 5× the
    blocking rows. Returns (slices, subset list)."""
    from itertools import combinations
    from math import comb

    if not 0 <= int(max_hamming) <= 59:
        # s must satisfy s > max_hamming with s | 60, so 59 is the largest
        # radius any pigeonhole plan over a 60-bit signature can serve;
        # negative radii would silently emit zero blocking subsets
        raise ValueError(
            f"max_hamming must be in [0, 59] for a 60-bit simhash, got "
            f"{max_hamming}"
        )
    divisors = (1, 2, 3, 4, 5, 6, 10, 12, 15, 20, 30, 60)
    best = None
    for s in divisors:
        if s <= max_hamming:
            continue
        c = s - max_hamming
        if comb(s, c) > max_keys:
            continue
        bits = (60 // s) * c
        rank = (bits, -comb(s, c))
        if best is None or rank > best[0]:
            best = (rank, s, c)
    if best is None:
        # every subset scheme blows the key budget (large max_hamming):
        # fall back to single-slice pigeonhole (c=1), always ≤ 60 keys
        s = next(d for d in divisors if d > max_hamming)
        return s, [(i,) for i in range(s)]
    _, s, c = best
    return s, list(combinations(range(s), c))


def simhash_block_keys(
    sh: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Blocking keys of a simhash table — one row per (doc, slice-subset):
    ``ci`` = subset index, ``cv`` = the subset's slice values packed into
    one long (each slice is 60/s bits; c·(60/s) ≤ 59 bits, so the packed
    key always fits a signed 64-bit integer). Factored out of
    :func:`simhash_near_dups` so bucket-size diagnostics derive from the
    exact self-join keys."""
    s, subsets = simhash_blocking_plan(max_hamming)
    slice_bits = 60 // s
    mask = (1 << slice_bits) - 1

    def packed(subset: tuple[int, ...]):
        out = F.lit(0).cast("long")
        for j, b in enumerate(subset):
            out = out + F.shiftleft(
                F.shiftright("simhash", slice_bits * b).bitwiseAND(F.lit(mask)),
                slice_bits * j,
            )
        return out

    return sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"), packed(sub).alias("cv")
                    )
                    for i, sub in enumerate(subsets)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "simhash", "__c.ci", "__c.cv")


def simhash_chunk_keys(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Single-slice 4×15-bit blocking keys (the max_hamming=3 legacy shape,
    kept for diagnostics that compare blocking schemes)."""
    return sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright("simhash", 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "simhash", "__c.ci", "__c.cv")


# ------------------------------------------------- embedding cosine near-dup
def embedding_bucket_keys(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    num_tables: int = 4,
) -> DataFrame:
    """Hyperplane-LSH blocking keys — one row per (vector, table):
    ``ti`` = table index, ``bv`` = that table's num_planes-bit signature.
    Each table draws an independent md5-derived plane set (table index is
    folded into the plane seed), so a near-dup pair missed by one table's
    signature collides in another. Factored out of
    :func:`embedding_near_dups` so bucket-size diagnostics derive from the
    exact self-join keys."""
    from preprocessor_spark.functions.similarity import (
        LSH_INLINE_TERM_LIMIT,
        lsh_bucket,
        lsh_bucket_arrow,
        lsh_plane_bits,
    )

    # Big dim×planes signatures go to the vectorized Arrow twin (one fused
    # numpy multiply-add per dim, bit-identical — see lsh_bucket_arrow):
    # past ~200-500 inline terms Spark can't compile the stage and drops to
    # ~1 ms/row interpreted evaluation, which is 30+ CPU-hours per 10^8
    # docs. Below the limit, pure inline expressions avoid Python entirely.
    if dim is not None and dim * num_planes > LSH_INLINE_TERM_LIMIT:
        sigs = df.select(
            id_col,
            emb_col,
            *[
                lsh_bucket_arrow(
                    emb_col, num_planes, seed + 1_000_003 * t, dim=dim
                ).alias(f"__bv{t}")
                for t in range(num_tables)
            ],
        )
        return sigs.select(
            id_col,
            emb_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("ti"),
                            F.col(f"__bv{t}").alias("bv"),
                        )
                        for t in range(num_tables)
                    ]
                )
            ).alias("__t"),
        ).select(id_col, emb_col, "__t.ti", "__t.bv")

    # Signature construction is shaped for codegen, not elegance: nesting
    # the full num_tables × num_planes × dim signature arithmetic inside
    # the generator expression put every term in ONE generated method,
    # which overflowed janino's 64 KB limit at (4 × 16 × 16), dropping the
    # stage out of whole-stage codegen — and in unfused mode a Generate
    # node's generator is evaluated INTERPRETED, so all 1024 terms ran on
    # the slow path. Hoisting the arithmetic into a child Project puts it
    # on per-operator projection codegen (GenerateUnsafeProjection, which
    # DOES split long expression lists into sub-methods), and the
    # generator then just sums num_planes precomputed longs per table —
    # exact long addition, bit-identical to the packed signature.
    # distinct plane family per table; 1_000_003 is just a collision-free
    # seed spacing (the md5 key is 'plane:{seed}:{plane}:{dim_idx}')
    if dim is not None:
        proj = [F.col(id_col), F.col(emb_col)]
        for t in range(num_tables):
            bits = lsh_plane_bits(
                emb_col, num_planes, seed + 1_000_003 * t, dim=dim
            )
            proj.extend(b.alias(f"__pb{t}_{p}") for p, b in enumerate(bits))
        sigs = df.select(*proj)

        def bv(t: int) -> Column:
            out = F.col(f"__pb{t}_0")
            for p in range(1, num_planes):
                out = out + F.col(f"__pb{t}_{p}")
            return out.cast("bigint")

        table_structs = [
            F.struct(F.lit(t).alias("ti"), bv(t).alias("bv"))
            for t in range(num_tables)
        ]
        return sigs.select(
            id_col,
            emb_col,
            F.explode(F.array(*table_structs)).alias("__t"),
        ).select(id_col, emb_col, "__t.ti", "__t.bv")
    return df.select(
        id_col,
        emb_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("ti"),
                        lsh_bucket(
                            emb_col, num_planes, seed + 1_000_003 * t, dim=dim
                        ).alias("bv"),
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("__t"),
    ).select(id_col, emb_col, "__t.ti", "__t.bv")


def embedding_near_dups(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    num_tables: int = 4,
) -> DataFrame:
    """Near-duplicate vectors: multi-table random-hyperplane LSH bucket
    join + exact cosine verification. Hyperplanes are derived
    deterministically from (table-folded seed, plane, dim) md5 hashes — no
    driver-side random state to broadcast, and reproducible in plain SQL.

    Recall is a measured design parameter, not an accident: a pair at
    cosine θ agrees with one random hyperplane w.p. 1−θ/π, so ONE
    p-plane table finds a 0.95-cosine pair w.p. (1−θ/π)^p ≈ 0.9^8 ≈ 0.43
    — the single-table default silently drops over half the true pairs.
    L independent tables lift recall to 1−(1−(1−θ/π)^p)^L ≈ 0.90 at the
    (p=8, L=4) defaults, for 4× the blocking rows and re-verified (but
    deduplicated) candidate overlap. At corpus scale, ``num_planes``
    must grow with log2(n) to keep expected random-collision bucket size
    n/2^p bounded; recall lost to wider signatures is bought back with
    more tables (BENCH/DEDUP_SCALE.md measures both axes).

    Pass ``dim`` (the embedding dimension — static for any one corpus) to
    run both the signature and the verification cosine on the unrolled
    codegen path instead of interpreted higher-order functions. The
    signature is bit-identical; the verification cosine is bit-identical
    for double arrays (for float arrays the inline path widens each
    element to double BEFORE multiplying — strictly more precise than the
    HOF path's single-precision products)."""
    from preprocessor_spark.functions.similarity import (
        cosine,
        dot_inline,
        norm_inline,
        validate_dim,
    )

    if dim is not None:
        # a mistyped dim is a SILENT data-quality failure (zero pairs /
        # truncated cosines) — fail fast on one sampled row instead
        validate_dim(df, emb_col, dim)
    keys = embedding_bucket_keys(
        df, emb_col, id_col, num_planes, seed, dim, num_tables
    )
    from preprocessor_spark.functions.similarity import LSH_INLINE_TERM_LIMIT

    # past the inline term budget the unrolled per-pair dot would hit the
    # same janino 64 KB cliff the signature stage routes around via Arrow:
    # fall back to the HOF cosine over once-cast double arrays (interpreted,
    # but bucket-pruned — it only scores candidate pairs)
    use_inline = dim is not None and dim <= LSH_INLINE_TERM_LIMIT
    if not use_inline and dim is not None:
        keys = keys.withColumn(emb_col, F.col(emb_col).cast("array<double>"))
    if use_inline:
        # Precompute each side's L2 norm ONCE per key row BELOW the join
        # (8 bytes of extra shuffle payload). Fusing the full 3x-unrolled
        # cosine_inline (dot + both norms = 192 CAST(get) terms) into the
        # join's generated consume method was measured blowing janino's
        # 64 KB limit in multi-query sessions — Spark silently falls back
        # to interpreted execution for the whole stage. The remaining
        # per-pair expression is the single 64-term dot, the same shape
        # the exact-pair query compiles cleanly.
        keys = keys.withColumn("__nrm", norm_inline(emb_col, dim))
    l, r = keys.alias("l"), keys.alias("r")
    la, ra = F.col(f"l.{emb_col}"), F.col(f"r.{emb_col}")
    cos = (
        F.try_divide(
            dot_inline(f"l.{emb_col}", f"r.{emb_col}", dim),
            F.col("l.__nrm") * F.col("r.__nrm"),
        )
        if use_inline
        else cosine(la, ra)
    )
    cand = l.join(
        r,
        on=[
            F.col("l.ti") == F.col("r.ti"),
            F.col("l.bv") == F.col("r.bv"),
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
        ],
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        cos.alias("cosine"),
    )
    # verify BEFORE deduplicating (as in minhash/simhash): the cosine is a
    # per-row codegen expression, so the dedup shuffle carries only
    # surviving pairs; a pair colliding in several tables is recomputed,
    # not shuffled twice
    return cand.filter(F.col("cosine") >= threshold).dropDuplicates(
        ["id_a", "id_b"]
    )
