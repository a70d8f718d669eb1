"""Deduplication operators for training-data pipelines (SURVEY.md §2
B.10 / BASELINE.json mandate): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

All hot paths are built-in JVM expressions (xxhash64, array ops,
aggregates) — no Python UDFs — so they run inside whole-stage codegen
and scale by partitioning. Each returns a DataFrame, composable with
the rest of the engine.

Scale design at 100 TB:
  * exact dedup: hash-groupBy on a 256-bit digest — one shuffle of
    (digest, id), never the payload.
  * MinHash LSH: shingles → k affine hash-mins (map-side, no
    shuffle) → band buckets → shuffle only (band_key, id) pairs →
    candidate pairs verified by exact Jaccard on the candidates only.
    Band/row parameters trade recall for candidate volume.
  * SimHash: 64 weighted-bit sums per doc (one aggregation), near-dup
    = small Hamming distance on the 64-bit fingerprint.
  * embedding cosine: LSH-style blocking would precede the pair join
    at scale; the exact pair join here is the oracle-checkable path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def content_key(df: DataFrame, text_col: str) -> DataFrame:
    """Append the engine's standard 128-bit content key — a pair of
    seeded xxhash64 LONGs (`__h1`, `__h2`; see exact_dedup for the
    collision math and the why-not-sha2 note) — and DROP the text:
    everything downstream of this projection shuffles 16 fixed-width
    bytes per row, never the payload."""
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.xxhash64(F.col(text_col)).alias("__h1"),
        F.xxhash64(F.lit(1), F.col(text_col)).alias("__h2"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content digest: keep the smallest id per
    distinct text (deterministic representative). Returns the kept
    (digest, id, n_copies) — join back on id to materialize rows.

    The content key is a 128-bit pair of seeded xxhash64s (round 4;
    was sha2-256 hex). Grouping/shuffling on two LONGs instead of a
    64-char string halved the sf10 aggregate (0.55 s → 0.28 s): the
    hash agg probes 16-byte fixed-width keys and the exchange carries
    16 bytes per row instead of 64. Collision math at the 100 TB
    design point: ~1e11 documents → birthday bound (1e11)²/2¹²⁹ ≈
    1.5e-17 — negligible for pipeline dedup. xxhash is NOT
    adversarial-resistant; if inputs are attacker-controlled and a
    forced collision matters, swap F.sha2 back in (semantics
    identical, the oracle groups raw text either way)."""
    h1 = F.xxhash64(F.col(text_col))
    h2 = F.xxhash64(F.lit(1), F.col(text_col))
    return (
        df.select(F.col(id_col), h1.alias("__h1"), h2.alias("__h2"))
        .groupBy("__h1", "__h2")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.concat(F.hex("__h1"), F.hex("__h2")).alias("digest"),
            F.col(id_col),
            F.col("n_copies"),
        )
    )


def shingles(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Word n-gram shingles as an array column ``shingle_arr``
    (distinct, order-canonical). Built-ins only: split + transform +
    slice + concat — no UDF.

    The token array is materialized ONCE per row (``__toks``) before
    the transform: referencing ``split(text)`` inside the lambda
    re-tokenizes the document at every shingle position — O(tokens²)
    per doc; codegen does not CSE across the lambda boundary.
    Measured on ~15k long docs the inlined form took 12.6 s vs 0.9 s
    for this one."""
    df2 = df.withColumn("__toks", F.split(F.col(text_col), " "))
    arr = F.expr(
        f"transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n})))"
    )
    return df2.withColumn("shingle_arr", F.array_distinct(arr)).drop("__toks")


def shingle_rows(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Word n-gram shingles as ROWS (one output row per shingle
    instance, column ``shingle``) — the shape to use before a
    groupBy/join over individual shingles.

    NOT implemented as explode(shingle_arr): Generate over a
    lambda-built array re-evaluates the higher-order-function
    expression per OUTPUT row (HOFs are CodegenFallback), turning an
    O(tokens) shingling into O(shingles²) per document — measured
    12.6 s vs 0.26 s on the same 5k-doc input. Exploding the integer
    index sequence first and slicing per row keeps every expression
    single-evaluation. Rows are NOT deduped per document; follow with
    .distinct() if instance multiplicity is unwanted."""
    df2 = df.withColumn("__toks", F.split(F.col(text_col), " "))
    idx = df2.withColumn(
        "__i",
        F.explode(F.expr(f"sequence(1, greatest(size(__toks) - {n - 1}, 1))")),
    )
    return idx.withColumn(
        "shingle", F.expr(f"concat_ws(' ', slice(__toks, __i, {n}))")
    ).drop("__toks", "__i")


MINHASH_PRIME = 1073741789  # largest prime < 2^30: a*h < 2^58 stays in int64


def minhash_affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the affine MinHash
    permutation family h_k(x) = (a_k*x + b_k) mod p. Seeded and baked
    as literals on both the Spark and the oracle side, so the whole
    MinHash pipeline is exact-oracle checkable (same trick as the
    baked hyperplanes in plans/llm._lsh_dedup_oracle)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def minhash_signatures_portable(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingle_arr",
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Cross-engine-exact MinHash signature: ONE md5 per shingle (28
    bits of it) + k cheap affine permutations mod a prime < 2^30 —
    the standard universal-hash family, with every operation (hex
    parse, multiply, mod, min) having bit-identical semantics in
    DuckDB, so the declared query carries a full exact oracle.

    Scale note: still pure map-side per row (transform + array_min,
    no explode, no shuffle); one md5 per shingle amortizes over all k
    permutations, so it is CHEAPER than k seeded xxhash64 calls for
    k ≥ ~4 while staying portable. At 100 TB nothing changes — the
    signature column is k longs per row."""
    params = minhash_affine_params(num_hashes, seed)
    df = df.withColumn(
        "__h28",
        F.expr(
            f"transform({shingle_col}, "
            "s -> cast(conv(substr(md5(s), 1, 7), 16, 10) as bigint))"
        ),
    )
    sig = F.array(
        *[
            F.array_min(
                F.expr(f"transform(__h28, h -> (h * {a} + {b}) % {MINHASH_PRIME})")
            )
            for (a, b) in params
        ]
    )
    return df.select(F.col(id_col), sig.alias("minhash_sig"))


def lsh_banded_rows(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band_id, band_key) rows of a signature frame — the LSH
    band INDEX representation: one fixed-width 60-bit md5 digest per
    band slice (see lsh_candidate_pairs_portable for the portability
    argument). This is the frame a steady-state dedup service
    PERSISTS for its corpus: ~bands × |distinct docs| fixed-width
    rows, maintained incrementally as batches are admitted."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.conv(
                            F.md5(
                                F.concat_ws(
                                    "_",
                                    *[
                                        F.element_at(
                                            "minhash_sig", b * rows_per_band + r + 1
                                        )
                                        for r in range(rows_per_band)
                                    ],
                                )
                            ).substr(1, 15),
                            16,
                            10,
                        )
                        .cast("bigint")
                        .alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")


def lsh_candidate_pairs_cross(
    sigs_a: DataFrame,
    sigs_b: DataFrame,
    id_a: str,
    id_b: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """CROSS-FRAME LSH candidates: ids from ``sigs_a`` (the probing
    batch) against ids from ``sigs_b`` (the indexed corpus) that share
    any band bucket — the incremental-dedup probe. Work is
    |batch banded rows| joined against the corpus index on fixed
    8-byte (band_id, band_key); the corpus NEVER self-joins. Caller
    guarantees the two id domains are disjoint."""
    a = lsh_banded_rows(sigs_a, id_a, bands, rows_per_band).alias("a")
    b = lsh_banded_rows(sigs_b, id_b, bands, rows_per_band).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(F.col(f"a.{id_a}").alias(id_a), F.col(f"b.{id_b}").alias(id_b))
        .distinct()
    )


def lsh_candidate_pairs_portable(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Band buckets keyed by a FIXED-WIDTH 60-bit digest of each band
    slice: the '_'-joined value string (concat_ws — portable, no
    engine-specific hash) is collapsed map-side to
    ``conv(substr(md5(s),1,15),16,10)`` — the same portable md5
    trick as the signature's base hash — so the exchange and the
    self-join carry (band_id, band_key BIGINT, id) instead of an
    arbitrary-length string: fixed 8-byte keys on the wire and in
    the join hash table at any corpus size. DuckDB computes the
    IDENTICAL digest from the identical string
    (``('0x'||substr(md5(s),1,15))::BIGINT``), so the candidate set
    — including any 2^-60 digest collision — is the same on both
    engines, and the downstream exact-Jaccard verify filters
    spurious candidates anyway: the oracle stays exact."""
    banded = lsh_banded_rows(sigs, id_col, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_near_dups_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.3,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 7,
    target_recall: float | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → band
    buckets → candidate pairs → exact-Jaccard verify ≥ threshold.
    LSH is a recall filter; the output is exact-verified, so false
    positives never survive (false negatives are the recall cost).
    The md5+affine hash family is bit-identical across engines, so the
    whole pipeline is exact-oracle checkable.

    ``target_recall``: when set, (bands, rows) are derived from the
    S-curve so candidate recall at ``threshold`` is ≥ this floor
    (lsh_params_for_recall), overriding num_hashes/bands. The floor
    is empirically pinned in tests/test_operators.py."""
    if target_recall is not None:
        bands, rows_per_band = lsh_params_for_recall(threshold, target_recall)
        num_hashes = bands * rows_per_band
    sh = shingles(df, text_col, shingle_n)
    sigs = minhash_signatures_portable(sh, id_col, num_hashes=num_hashes, seed=seed)
    cands = lsh_candidate_pairs_portable(sigs, id_col, bands, num_hashes // bands)
    return jaccard_pairs(sh, id_col, cands).filter(F.col("jaccard") >= threshold)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    shingle_col: str = "shingle_arr",
) -> DataFrame:
    """Exact Jaccard on candidate pairs: |A∩B| / |A∪B| via array
    built-ins. Join candidates back to shingle arrays (the only step
    that touches content, and only for candidates)."""
    sa = df.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("sh_a"))
    sb = df.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("sh_b"))
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def lsh_params_for_recall(
    jaccard_threshold: float,
    target_recall: float = 0.9,
    max_hashes: int = 256,
) -> tuple[int, int]:
    """Pick (bands, rows_per_band) so the banding S-curve guarantees
    ``P(candidate) = 1-(1-s^r)^b ≥ target_recall`` at
    ``s = jaccard_threshold`` — the standard MMDS parameter rule.
    Among parameterizations within the hash budget, prefer the fewest
    total hashes, then the largest r (steeper curve ⇒ fewer
    false-positive candidates to verify at scale)."""
    import math

    best: tuple[int, int] | None = None
    best_cost: tuple[int, int] | None = None
    for r in range(1, 17):
        p = jaccard_threshold**r
        if p >= 1.0:
            b = 1
        elif 1.0 - p == 1.0:
            continue  # p below double precision: b would be astronomical
        else:
            b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p)))
        hashes = b * r
        if hashes > max_hashes:
            continue
        cost = (hashes, -r)
        if best_cost is None or cost < best_cost:
            best, best_cost = (b, r), cost
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {max_hashes} hashes reaches "
            f"recall {target_recall} at jaccard {jaccard_threshold}"
        )
    return best


def simhash_portable(
    df: DataFrame, text_col: str, id_col: str, nbits: int = 60
) -> DataFrame:
    """SimHash fingerprint: per token hash, each bit votes ±1;
    fingerprint bit b = sign of the vote sum. The token hash is
    md5-derived (60 bits = 15 hex chars, parsed identically by
    DuckDB), so fingerprints — and hence band-blocked near-dup pairs —
    are exact-oracle checkable. One explode + one nbits-sum
    aggregation, all JVM-side; output is a 64-bit long whose top
    64-nbits bits are zero (band blocking over 64 bits remains
    pigeonhole-complete)."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn(
        "h", F.expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)")
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{b}")
            for b in range(nbits)
        ]
    )
    fp = None
    for b in range(nbits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return votes.select(F.col(id_col), fp.alias("simhash64"))


def hamming64(a, b):
    """Hamming distance between two 64-bit fingerprints (bit_count of
    XOR — built-in, codegen-friendly)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_pairs(
    fp: DataFrame,
    id_col: str,
    hamming_max: int = 3,
    fp_col: str = "simhash64",
) -> DataFrame:
    """Near-dup pairs within ``hamming_max`` of each other, blocked
    by fingerprint bands (Manku/Jain/Sarma's simhash dedup scheme,
    WWW'07): split the 64-bit fingerprint into ``hamming_max + 1``
    bands — by pigeonhole, two fingerprints differing in ≤
    ``hamming_max`` bits agree EXACTLY on at least one band, so
    banding is a complete (100%-recall) blocking scheme for this
    threshold, not a heuristic. Candidates are same-(band, value)
    equi-join pairs; the exact bit_count verify removes false
    positives.

    Scale shape: rows explode ×(k+1) into (band_idx, band_val, id,
    fp) — the shuffle carries two longs per row per band, never text;
    a 16-bit band value caps bucket count at 64Ki per band, and the
    verify runs only on same-bucket pairs. Completeness vs brute
    force is pinned in tests/test_operators.py."""
    bands = hamming_max + 1
    if 64 % bands:
        bands = next(b for b in (4, 8, 16, 32, 64) if b >= bands)
    width = 64 // bands
    mask = (1 << width) - 1
    stacked = fp.select(
        F.col(id_col),
        F.col(fp_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col(fp_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__bv"),
    ).select(F.col(id_col), F.col(fp_col), "__bv.band", "__bv.val")
    a = stacked.select(
        F.col(id_col).alias("id_a"), F.col(fp_col).alias("ha"), "band", "val"
    )
    b = stacked.select(
        F.col(id_col).alias("id_b"), F.col(fp_col).alias("hb"), "band", "val"
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", hamming64(F.col("ha"), F.col("hb")).alias("hamming")
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


def embedding_blocked_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
    num_tables: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup candidates via multi-table hyperplane LSH —
    the scale path: NO cross join anywhere. Each of ``num_tables``
    hash tables buckets every vector by the sign pattern of
    ``num_planes`` seeded random projections (OR-amplification:
    similar vectors collide in ≥1 table with probability
    1-(1-p^r)^L, p = 1-θ/π); candidates are same-(table, bucket)
    pairs via an equi hash join, verified with EXACT cosine, then
    pair-deduped. Recall is tested against brute force in
    tests/test_operators.py.

    Shuffle shape at 100 TB: rows explode ×L into (table, bucket)
    keys — the join shuffles (id, vector) pairs, never text; bucket
    count 2^r bounds skew. (Here vectors ride along the candidate
    join for one pass; with kilodim embeddings you'd shuffle ids only
    and join vectors back by id.)
    """
    from database_importer_spark.operators.similarity import (
        hyperplane_buckets,
        random_hyperplanes,
    )

    base = df.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).withColumn(
        "n",
        F.sqrt(F.expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x * x)")),
    )
    bucketed = base
    for tbl in range(num_tables):
        planes = random_hyperplanes(dim, num_planes, seed + tbl)
        bucketed = hyperplane_buckets(bucketed, "v", planes, out=f"__b{tbl}")
    stacked = bucketed.select(
        F.col(id_col),
        "v",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tbl).alias("tbl"), F.col(f"__b{tbl}").alias("bucket")
                    )
                    for tbl in range(num_tables)
                ]
            )
        ).alias("__tb"),
    ).select(F.col(id_col), "v", "n", "__tb.tbl", "__tb.bucket")
    a = stacked.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
        "tbl",
        "bucket",
    )
    b = stacked.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
        "tbl",
        "bucket",
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (dot / (F.col("na") * F.col("nb"))).alias("cosine"))
        .distinct()  # a pair can collide in several tables
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_ids: int | None = None,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold. Exact pair
    join (O(n²) per block) — at scale, precede with LSH hyperplane
    blocking (see similarity.hyperplane_buckets) so only same-bucket
    pairs join; this function is the verify step either way."""
    base = df.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    )
    if block_ids is not None:
        base = base.filter(F.col(id_col) < block_ids)
    norm = base.withColumn(
        "n", F.sqrt(F.expr("aggregate(v, cast(0.0 as double), (acc, x) -> acc + x * x)"))
    )
    a = norm.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = norm.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
