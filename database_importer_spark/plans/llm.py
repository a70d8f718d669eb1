"""LLM-data-pipeline declared queries (SURVEY.md §2 B.10): dedup
family, similarity search, text analysis, multimodal columns — over
the documents/embeddings tables.

Probabilistic ops (MinHash-LSH, SimHash, hyperplane-LSH) are
rows-only: their hash functions (xxhash64) have no DuckDB twin. Every
deterministic op gets an exact oracle, including the mapInPandas
multimodal feature path (its stub decode is arithmetic on bytes,
which SQL can twin).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_importer_spark.operators import dedup as D
from database_importer_spark.operators import multimodal as M
from database_importer_spark.operators import similarity as S
from database_importer_spark.operators import textstats as X
from database_importer_spark.session import static_plan_session
from database_importer_spark.plans.registry import DEC, dec4_sum, declare, t

# --- dedup ----------------------------------------------------------


@declare(
    "llm_dedup_exact",
    cache_frame=True,
    oracle="""
    WITH docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
    )
    SELECT min(doc_id) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM docs GROUP BY text
    """,
)
def llm_dedup_exact(spark, sf_dir):
    """Exact dedup by content-digest hash-groupBy over a corpus with
    planted duplicates (every 20th doc repeated). Only (digest, id)
    shuffles — at 100 TB the text payload never moves. The digest is
    a 128-bit xxhash64 pair since round 4 (see operators/dedup.
    exact_dedup: 2× the sf10 aggregate vs the sha2-hex key). Oracle
    groups by text itself (equivalent absent collisions)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(planted)
    return D.exact_dedup(corpus, "text", "doc_id").select("doc_id", "n_copies")


@declare(
    "llm_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ), batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), ckeys AS (
        SELECT text, MIN(doc_id) AS first_corpus_doc
        FROM corpus GROUP BY text
    ), bkeys AS (
        SELECT text, MIN(doc_id) AS first_batch_doc
        FROM batch GROUP BY text
    )
    SELECT b.doc_id AS batch_doc_id,
           c.first_corpus_doc,
           k.first_batch_doc,
           (c.first_corpus_doc IS NULL AND b.doc_id = k.first_batch_doc)
               AS is_new
    FROM batch b
    JOIN bkeys k ON k.text = b.text
    LEFT JOIN ckeys c ON c.text = b.text
    """,
)
def llm_dedup_incremental(spark, sf_dir):
    """Incremental dedup — the production shape of exact dedup: a new
    crawl BATCH arrives and must be deduped (a) against the existing
    CORPUS and (b) within itself, without ever re-deduping the corpus.
    Per batch doc: the first corpus doc holding the same content
    (NULL = unseen), the first batch doc holding it, and `is_new` —
    admit iff no corpus dup AND this doc is its content's batch
    representative. Deterministic split: doc_id % 10 plays the batch.

    Scale shape: both sides project to the 128-bit content key
    immediately (operators/dedup.content_key — text never shuffles),
    the corpus collapses to ONE (key, min_id) row per distinct
    content BEFORE its join (linear join output, the same
    pre-aggregate discipline as the contamination check), and the
    corpus side in steady state is a persisted digest INDEX you
    maintain incrementally — each new batch rebuilds only its own
    ~|batch| key set; the 100 TB corpus is touched once ever. Oracle
    joins raw text (equivalent absent 2^-129 collisions)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = D.content_key(d.filter(F.col("doc_id") % 10 == 0), "text")
    corpus = D.content_key(d.filter(F.col("doc_id") % 10 != 0), "text")
    key = ["__h1", "__h2"]
    ckeys = corpus.groupBy(*key).agg(
        F.min("doc_id").alias("first_corpus_doc")
    )
    bkeys = batch.groupBy(*key).agg(F.min("doc_id").alias("first_batch_doc"))
    return (
        batch.join(bkeys, key)
        .join(ckeys, key, "left")
        .select(
            F.col("doc_id").alias("batch_doc_id"),
            "first_corpus_doc",
            "first_batch_doc",
            (
                F.col("first_corpus_doc").isNull()
                & (F.col("doc_id") == F.col("first_batch_doc"))
            ).alias("is_new"),
        )
    )


@declare(
    "llm_chunk_overlap",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), n AS (
        SELECT doc_id, w,
               greatest(1, CAST(ceil((length(w) - 64) / 48.0) AS INT) + 1)
                   AS k
        FROM t
    ), e AS (
        SELECT doc_id, w, unnest(generate_series(1, k)) AS i FROM n
    )
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS chunk_id,
           CAST(length(w[(i-1)*48 + 1 : least((i-1)*48 + 64, length(w))])
                AS BIGINT) AS n_words,
           array_to_string(
               w[(i-1)*48 + 1 : least((i-1)*48 + 64, length(w))], ' ')
               AS chunk_text
    FROM e
    """,
)
def llm_chunk_overlap(spark, sf_dir):
    """Sliding-window chunking with overlap — the embedding/RAG prep
    op: every doc splits into 64-word chunks on a 48-word stride
    (16-word overlap), short docs yield exactly one chunk, and the
    final chunk is the ragged tail. Output is (doc_id, chunk_id,
    n_words, chunk_text), the unit that feeds an embedding model.

    Scale shape: MAP-ONLY — zero exchange in the whole plan
    (plan-tested). Chunk count is derived per row, an integer
    sequence() explodes (the r3 rule: explode a builtin integer
    sequence and slice per output row; never explode a lambda-built
    array, which re-evaluates the HOF per output row), and slice()
    reuses the one materialized split column. Embarrassingly
    parallel at any corpus size; output volume = input words
    × (1 + overlap fraction), the only real cost."""
    C, S = 64, 48
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("__w")
    )
    k = F.greatest(
        F.lit(1),
        (F.ceil((F.size("__w") - F.lit(C)) / F.lit(float(S))) + 1).cast("int"),
    )
    return (
        d.select(
            "doc_id",
            "__w",
            F.explode(F.sequence(F.lit(0), k - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                F.col("__w"), F.col("chunk_id") * S + 1, F.lit(C)
            ).alias("__chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("__chunk").cast("long").alias("n_words"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


@declare(
    "llm_dedup_jaccard_pairs",
    cache_frame=True,
    oracle="""
    WITH reps AS (
        SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(string_split(text, ' ')) - 2, 1)),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
               )) AS shingle_arr
        FROM reps
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM reps a JOIN reps b
          ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
         AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(length(list_intersect(sa.shingle_arr, sb.shingle_arr)) AS DOUBLE)
           / CAST(length(list_distinct(sa.shingle_arr || sb.shingle_arr)) AS DOUBLE)
           AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    """,
)
def llm_dedup_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram-shingle Jaccard on prefix-blocked candidate pairs
    — the verify stage of near-dedup, oracle-checkable end to end
    (blocking here = shared 40-char prefix; LSH replaces blocking at
    scale, the verify math is identical). Exact duplicates collapse
    to their smallest-id representative first — identical texts share
    the prefix block and would fan out n(n-1)/2 trivial pairs per dup
    group (see llm_dedup_near_minhash's scale note)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    rep_ids = D.exact_dedup(d, "text", "doc_id").select("doc_id")
    kept = d.join(rep_ids, "doc_id")
    sh = D.shingles(kept, "text", 3).select("doc_id", "shingle_arr")
    a = kept.select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("pa")
    )
    b = kept.select(
        F.col("doc_id").alias("id_b"), F.substring("text", 1, 40).alias("pb")
    )
    cand = a.join(
        b, (F.col("pa") == F.col("pb")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    return D.jaccard_pairs(sh, "doc_id", cand)


def _minhash_oracle(num_hashes=32, bands=8, seed=7, threshold=0.3) -> str:
    """DuckDB twin of minhash_near_dups_portable. The md5-derived
    28-bit base hash and the seeded affine permutation coefficients
    are identical constants on both sides, so signatures, band
    buckets, candidate pairs, and the exact-Jaccard verify all agree
    bit-for-bit — the probabilistic pipeline becomes exact-oracle
    checkable (same baking trick as _lsh_dedup_oracle)."""
    from database_importer_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_affine_params,
    )

    params = minhash_affine_params(num_hashes, seed)
    r = num_hashes // bands
    sig_terms = ", ".join(
        f"list_min(list_transform(hh, h -> (h*{a}+{b}) % {MINHASH_PRIME}))"
        for (a, b) in params
    )
    # stacked (band_id, band_key) rows + a single equi join — the
    # hash-joinable shape (an OR of 8 band equalities degrades DuckDB
    # to a nested loop, quadratic in corpus size); also mirrors the
    # Spark side's explode + equi-join plan exactly, including the
    # 60-bit md5 digest of the band-value string (fixed 8-byte join
    # keys — identical strings on both engines → identical digests,
    # so the candidate set matches bit-for-bit).
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"('0x' || substr(md5(array_to_string(sig[{b * r + 1}:{b * r + r}], '_')), 1, 15))::BIGINT AS bv FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH reps AS (
        SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(string_split(text, ' ')) - 2, 1)),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
               )) AS shingle_arr
        FROM reps
    ),
    hs AS (
        SELECT doc_id, shingle_arr,
               list_transform(shingle_arr,
                   s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
        FROM sh
    ),
    sig AS (SELECT doc_id, shingle_arr, [{sig_terms}] AS sig FROM hs),
    banded AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM banded a JOIN banded c
          ON a.band_id = c.band_id AND a.bv = c.bv AND a.doc_id < c.doc_id
    ),
    verified AS (
        SELECT cand.id_a, cand.id_b,
               CAST(length(list_intersect(sa.shingle_arr, sb.shingle_arr)) AS DOUBLE)
               / CAST(length(list_distinct(sa.shingle_arr || sb.shingle_arr)) AS DOUBLE)
               AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, jaccard FROM verified
    WHERE jaccard >= {threshold}
    ORDER BY id_a, id_b
    """


@declare("llm_dedup_near_minhash", oracle=_minhash_oracle(), cache_frame=True)
def llm_dedup_near_minhash(spark, sf_dir):
    """MinHash(32)+LSH(8 bands) near-dup pipeline, exact-Jaccard-
    verified at ≥0.3 — EXACT oracle: the portable md5+affine hash
    family (operators/dedup.minhash_signatures_portable) is baked as
    identical constants into the DuckDB twin, so the candidate set
    and verify agree bit-for-bit.

    Exact duplicates are collapsed FIRST (digest groupBy → smallest
    doc_id representative, ids-only join back) — the standard
    pipeline order: every exact-dup group of n docs shares all bands
    and would otherwise fan out n(n-1)/2 guaranteed candidates; on a
    ×10-replicated corpus this one change cut the sf1 wall clock ~5×
    on both engines. Scale shape: per-row signatures (no explode),
    (band_id, 8-byte band digest, id)-only shuffle — fixed-width keys
    on the wire and in the join hash table (r6; the digest is the
    same portable md5 trick, computed identically by both engines) —
    Jaccard verify on candidates only. Tests additionally pin LSH
    pairs ⊆ exact pairs and a measured recall floor."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    reps = D.exact_dedup(d, "text", "doc_id").select("doc_id")
    kept = d.join(reps, "doc_id")
    return D.minhash_near_dups_portable(kept, "text", "doc_id", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


def _minhash_incremental_oracle(
    num_hashes=32, bands=8, seed=7, threshold=0.3
) -> str:
    """DuckDB twin of the batch-vs-corpus LSH probe: both sides use
    the identical md5+affine constants as _minhash_oracle, so the
    cross-frame candidate set and Jaccard verify agree bit-for-bit."""
    from database_importer_spark.operators.dedup import (
        MINHASH_PRIME,
        minhash_affine_params,
    )

    params = minhash_affine_params(num_hashes, seed)
    r = num_hashes // bands
    sig_terms = ", ".join(
        f"list_min(list_transform(hh, h -> (h*{a}+{b}) % {MINHASH_PRIME}))"
        for (a, b) in params
    )

    def side(name, pred):
        band_rows = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            f"('0x' || substr(md5(array_to_string(sig[{b * r + 1}:{b * r + r}], '_')), 1, 15))::BIGINT AS bv "
            f"FROM sig_{name}"
            for b in range(bands)
        )
        return f"""
    reps_{name} AS (
        SELECT text, min(doc_id) AS doc_id FROM documents
        WHERE {pred} GROUP BY text
    ),
    sh_{name} AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(length(string_split(text, ' ')) - 2, 1)),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
               )) AS shingle_arr
        FROM reps_{name}
    ),
    hs_{name} AS (
        SELECT doc_id, shingle_arr,
               list_transform(shingle_arr,
                   s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
        FROM sh_{name}
    ),
    sig_{name} AS (SELECT doc_id, [{sig_terms}] AS sig FROM hs_{name}),
    banded_{name} AS ({band_rows})"""

    return f"""
    WITH {side("b", "doc_id % 10 = 0")},
    {side("c", "doc_id % 10 <> 0")},
    cand AS (
        SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
        FROM banded_b b JOIN banded_c c
          ON b.band_id = c.band_id AND b.bv = c.bv
    )
    SELECT cand.batch_doc, cand.corpus_doc,
           CAST(length(list_intersect(sa.shingle_arr, sb.shingle_arr)) AS DOUBLE)
           / CAST(length(list_distinct(sa.shingle_arr || sb.shingle_arr)) AS DOUBLE)
           AS jaccard
    FROM cand
    JOIN sh_b sa ON sa.doc_id = cand.batch_doc
    JOIN sh_c sb ON sb.doc_id = cand.corpus_doc
    WHERE CAST(length(list_intersect(sa.shingle_arr, sb.shingle_arr)) AS DOUBLE)
          / CAST(length(list_distinct(sa.shingle_arr || sb.shingle_arr)) AS DOUBLE)
          >= {threshold}
    ORDER BY batch_doc, corpus_doc
    """


@declare("llm_dedup_near_incremental", oracle=_minhash_incremental_oracle(), cache_frame=True)
def llm_dedup_near_incremental(spark, sf_dir):
    """Incremental NEAR-dedup — the steady-state shape of a 100 TB
    dedup service, completing the pair `llm_dedup_incremental` (exact
    content-key) started: a new crawl BATCH probes the corpus's
    persisted MinHash LSH band INDEX; pairs that share any band
    bucket get the exact-Jaccard verify; output = (batch rep, corpus
    rep, jaccard ≥ 0.3) — the batch docs that near-duplicate existing
    corpus content. EXACT oracle: the same portable md5+affine family
    as `llm_dedup_near_minhash`, baked into both engines on BOTH
    sides of the probe.

    Scale shape: the corpus side is its `lsh_band_keys` stacked by
    `block_and_verify` — bands × |distinct docs| fixed-width (band,
    60-bit digest, id) rows, the frame a production service PERSISTS
    and maintains incrementally as batches are admitted (here rebuilt
    per run; the build is corpus-linear and happens once per corpus
    lifetime, like `llm_dedup_incremental`'s digest index). Per batch: collapse
    exact dups to a min-id representative FIRST (work ∝ distinct
    batch content), signature + banded rows ∝ |batch|, one equi join
    against the index on fixed 8-byte keys, Jaccard verify touches
    shingles for CANDIDATES only. The corpus never self-joins and its
    text never moves — probe cost is batch-proportional at any corpus
    size. Deterministic split: doc_id % 10 plays the batch (disjoint
    id domains, so every probe hit is a real cross-side pair;
    an exact text match surfaces as jaccard = 1.0)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    batch = d.filter(F.col("doc_id") % 10 == 0)
    ckept = corpus.join(
        D.exact_dedup(corpus, "text", "doc_id").select("doc_id"), "doc_id"
    )
    bkept = batch.join(
        D.exact_dedup(batch, "text", "doc_id").select("doc_id"), "doc_id"
    )
    sh_c = D.shingles(ckept, "text", 3).select("doc_id", "shingle_arr")
    sh_b = D.shingles(bkept, "text", 3).select("doc_id", "shingle_arr")
    cand = D.lsh_candidate_pairs_cross(
        D.minhash_signatures_portable(sh_b, "doc_id").withColumnRenamed("doc_id", "id_a"),
        D.minhash_signatures_portable(sh_c, "doc_id").withColumnRenamed("doc_id", "id_b"),
        "id_a",
        "id_b",
        bands=8,
        rows_per_band=4,
    )
    return (
        D.jaccard_pairs(sh_b, "doc_id", cand, right=sh_c)
        .filter(F.col("jaccard") >= 0.3)
        .select(
            F.col("id_a").alias("batch_doc"), F.col("id_b").alias("corpus_doc"), "jaccard"
        )
        .orderBy("batch_doc", "corpus_doc")
    )


def _simhash_oracle(nbits=60, hamming_max=3) -> str:
    """DuckDB twin of simhash_portable + simhash_band_pairs: the
    md5-derived 60-bit token hash parses identically, the per-bit
    vote sums and sign tests are plain integer SQL, and the band
    split matches simhash_band_pairs's 4×16-bit layout — fingerprint,
    blocking, and Hamming verify all agree bit-for-bit."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(nbits)
    )
    bands = hamming_max + 1  # simhash_band_pairs rounds to a divisor of 64
    width = 64 // bands
    mask = (1 << width) - 1
    # stacked (band, value) rows + one equi join (hash-joinable; an
    # OR of band equalities nested-loops in DuckDB — quadratic), the
    # same explode shape the Spark side plans.
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, fp, {i} AS band, (fp >> {i * width}) & {mask} AS val FROM fps"
        for i in range(bands)
    )
    return f"""
    WITH reps AS (
        SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM reps
    ),
    hs AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    votes AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id),
    fps AS (SELECT doc_id, {fp} AS fp FROM votes),
    banded AS ({band_rows})
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, c.fp)) AS BIGINT) AS hamming
    FROM banded a JOIN banded c
      ON a.band = c.band AND a.val = c.val AND a.doc_id < c.doc_id
    WHERE bit_count(xor(a.fp, c.fp)) <= {hamming_max}
    ORDER BY id_a, id_b
    """


@declare("llm_dedup_simhash", oracle=_simhash_oracle(), cache_frame=True)
def llm_dedup_simhash(spark, sf_dir):
    """SimHash near-dup, band-blocked — EXACT oracle via the portable
    md5-derived 60-bit token hash (operators/dedup.simhash_portable),
    parsed identically by DuckDB. Candidates are same-band equi-join
    pairs over hamming_max+1 fingerprint bands — by pigeonhole a
    COMPLETE blocking for Hamming ≤ 3 (Manku et al., WWW'07), so this
    is the brute-force answer at LSH cost. No cross join, no text in
    the shuffle; completeness vs brute force is pinned in
    tests/test_operators.py. Exact duplicates collapse to their
    smallest-id representative first (identical fingerprints would
    pair n(n-1)/2 times per dup group — see llm_dedup_near_minhash's
    scale note)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    reps = D.exact_dedup(d, "text", "doc_id").select("doc_id")
    kept = d.join(reps, "doc_id")
    fp = D.simhash_portable(kept, "text", "doc_id")
    return (
        D.simhash_band_pairs(fp, "doc_id", hamming_max=3)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


def _bucket_sql(planes, dim) -> str:
    """DuckDB twin of one table of similarity.hyperplane_buckets: each
    projection is the multiply-then-sequential-sum over the baked
    plane literal, bit i set when it is ≥ 0."""
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> embedding[i]::DOUBLE * list_extract("
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[], i))) >= 0 "
        f"THEN {1 << p_i} ELSE 0 END)"
        for p_i, plane in enumerate(planes)
    )


def _lsh_dedup_oracle(num_planes=8, num_tables=6, dim=64, seed=42) -> str:
    """DuckDB twin of embedding_blocked_pairs: the hyperplanes are
    deterministic (seeded), so their constants are baked into the SQL
    and the candidate set — hence the whole result — is exact-oracle
    checkable. Each projection uses the identical multiply-then-
    sequential-sum shape as the Spark side, so the sign tests see
    bit-identical doubles."""
    buckets = [
        f"({_bucket_sql(S.random_hyperplanes(dim, num_planes, seed + tbl), dim)}) AS b{tbl}"
        for tbl in range(num_tables)
    ]
    # stacked (table, bucket) rows + one equi join, and identical
    # vectors collapse to their smallest-id representative first —
    # same two scale fixes as the minhash oracle (an OR of bucket
    # equalities nested-loops; duplicate vectors fan out n(n-1)/2
    # pairs per group).
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {tbl} AS tbl, b{tbl} AS bucket FROM b"
        for tbl in range(num_tables)
    )
    cosine = """
               list_sum(list_transform(generate_series(1, 64),
                   i -> a2.embedding[i]::DOUBLE * c2.embedding[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> a2.embedding[i]::DOUBLE * a2.embedding[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> c2.embedding[i]::DOUBLE * c2.embedding[i]::DOUBLE))))
    """
    return f"""
    WITH reps AS (
        SELECT embedding, min(vec_id) AS vec_id FROM embeddings GROUP BY embedding
    ),
    b AS (SELECT vec_id, embedding, {', '.join(buckets)} FROM reps),
    banded AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM banded a JOIN banded c
          ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT cand.id_a, cand.id_b, {cosine} AS cosine
    FROM cand
    JOIN b a2 ON a2.vec_id = cand.id_a
    JOIN b c2 ON c2.vec_id = cand.id_b
    ORDER BY cosine DESC, id_a, id_b LIMIT 20
    """


@declare("llm_dedup_embedding", oracle=_lsh_dedup_oracle(), cache_frame=True)
def llm_dedup_embedding(spark, sf_dir):
    """Embedding near-dup, the scale shape: multi-table hyperplane-LSH
    blocking (operators/dedup.py embedding_blocked_pairs) produces
    candidates via an equi join on (table, bucket) — NO cross join —
    then exact cosine verifies; top-20 candidate pairs returned. The
    oracle recomputes the identical blocked candidate set in DuckDB
    (plane constants baked into the SQL), so the result stays exact-
    hash-checkable. Recall vs brute force is pinned in
    tests/test_operators.py.

    Bit-identical vectors collapse to their smallest-id
    representative before blocking (n-copy groups otherwise share
    every bucket and fan out n(n-1)/2 guaranteed pairs — the
    embedding twin of llm_dedup_near_minhash's exact-dup collapse).
    The groupBy carries the 64-float vector; at kilodim scale you'd
    group on a vector digest and join the payload back by id."""
    e = t(spark, sf_dir, "embeddings")
    reps = e.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    pairs = D.embedding_blocked_pairs(reps, "vec_id", "embedding")
    return pairs.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(20)


# --- similarity search ---------------------------------------------


@declare(
    "llm_similarity_topk",
    cache_frame=True,
    oracle="""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               list_sum(list_transform(generate_series(1, 64),
                   i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(generate_series(1, 64),
                      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))))
               AS cosine
        FROM q JOIN embeddings c ON c.vec_id != q.vec_id
    )
    SELECT query_id, corpus_id, cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def llm_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-3 for 5 query vectors — the exact ANN
    baseline (and the verify stage for the LSH variant), via the
    Arrow-batched numpy kernel (operators/similarity.py
    cosine_topk_kernel): corpus scanned once map-only, the only
    exchange is the |Q|-group top-k window. The 5 query vectors are
    collected once as query INGESTION (bounded |Q|, the literals an
    ANN service receives) — not a data-dependent driver action.
    Why not pure Catalyst: the HOF fold costs ~3.5 µs per 64-dim dot
    (3.5 s at sf10), and the unrolled expression — the dot as one flat
    left-associated sum of 64 per-element double products — is a JIT
    bailout (measured negative, 19.3 s at sf10): its ~320-term
    generated method exceeds HotSpot's ~8k-bytecode method-size limit,
    so it runs interpreted. The numpy kernel is 0.4 s with
    bit-identical doubles (ordered per-dim accumulation).

    The ingestion collect is MEMOIZED on (session, corpus fingerprint)
    (ADVICE r6): this builder is the registry's one documented
    exception to 'no driver-side actions in plan builders', and the
    memo confines that exception to the first build per corpus —
    repeated builds (bench min-of-N, explain-only callers) reuse the
    ingested vectors without re-running the job."""
    from database_importer_spark.cache import fingerprint, memo

    e = t(spark, sf_dir, "embeddings")
    tag = fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    ingested = memo("similarity_query_ingestion", spark)
    q_rows = ingested.get(tag)
    if q_rows is None:
        q_rows = [
            (r["vec_id"], r["embedding"])
            for r in e.filter(F.col("vec_id") < 5)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        ]
        ingested[tag] = q_rows
    return S.cosine_topk_kernel(e, q_rows, "vec_id", "embedding", k=3)


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two embedding columns — the identical
    multiply/list_sum shape that llm_similarity_topk's oracle proved
    bit-compatible with Spark's zip_with/aggregate fold."""
    def sq(v):
        return (
            f"sqrt(list_sum(list_transform(generate_series(1, 64), "
            f"i -> {v}[i]::DOUBLE * {v}[i]::DOUBLE)))"
        )
    return (
        f"(list_sum(list_transform(generate_series(1, 64), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)) / ({sq(a)} * {sq(b)}))"
    )


@declare(
    "llm_similarity_ivf",
    cache_frame=True,
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS ev FROM embeddings WHERE vec_id < 16
    ),
    qs AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ),
    assigned AS (
        SELECT corpus_id, cid FROM (
            SELECT c.vec_id AS corpus_id, cent.cid,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY {_cos_sql('c.embedding', 'cent.ev')} DESC, cent.cid)
                       AS rn
            FROM embeddings c, cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid FROM (
            SELECT qs.query_id, cent.cid,
                   ROW_NUMBER() OVER (PARTITION BY qs.query_id
                       ORDER BY {_cos_sql('qs.qv', 'cent.ev')} DESC, cent.cid) AS rn
            FROM qs, cent
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT p.query_id, a.corpus_id,
               {_cos_sql('q2.embedding', 'c2.embedding')} AS cosine
        FROM probes p
        JOIN assigned a ON a.cid = p.cid AND a.corpus_id != p.query_id
        JOIN embeddings c2 ON c2.vec_id = a.corpus_id
        JOIN embeddings q2 ON q2.vec_id = p.query_id
    )
    SELECT query_id, corpus_id, cosine, CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def llm_similarity_ivf(spark, sf_dir):
    """IVF ANN: 16 deterministic seed centroids (vec_id < 16 — a
    k-means codebook in production; seeding keeps the oracle exact),
    corpus assigned to inverted lists via broadcast+argmax partial
    agg (no window over the corpus), queries probe their 2 nearest
    lists, candidates exact-cosine verified, top-3. The corpus never
    cross-joins: candidate generation is an equi join on list id
    touching ~nprobe/16 of the corpus per query."""
    e = t(spark, sf_dir, "embeddings")
    return S.ivf_topk(
        e,
        e.filter(F.col("vec_id") < 5),
        e.filter(F.col("vec_id") < 16),
        "vec_id",
        "embedding",
        k=3,
        nprobe=2,
    )


def _lsh_topk_oracle(num_planes=4, dim=64, seed=42, k=3) -> str:
    """DuckDB twin of lsh_topk: the seeded hyperplanes are baked as
    literals (the _lsh_dedup_oracle trick), each projection uses the
    identical multiply-then-sequential-sum fold, so bucket ids — and
    hence the probed candidate sets and ranks — agree exactly."""
    bucket = _bucket_sql(S.random_hyperplanes(dim, num_planes, seed), dim)
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id < 5),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               {_cos_sql('q.embedding', 'c.embedding')} AS cosine
        FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
    )
    SELECT query_id, corpus_id, cosine, CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id) AS rn FROM scored)
    WHERE rn <= {k}
    ORDER BY query_id, rank
    """


@declare("llm_similarity_lsh", oracle=_lsh_topk_oracle(), cache_frame=True)
def llm_similarity_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN: probe only the query's bucket
    (equi hash join on bucket id — no cross product). EXACT oracle:
    the seeded hyperplanes are baked into the DuckDB twin so bucket
    assignment, candidate sets, and ranks agree bit-for-bit; tests
    additionally assert recall against the brute-force baseline."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return S.lsh_topk(e, q, "vec_id", "embedding", k=3, num_planes=4)


# --- text analysis --------------------------------------------------


@declare(
    "llm_text_tokenize_tf",
    cache_frame=True,
    oracle="""
    WITH tf AS (
        SELECT t.term, CAST(COUNT(*) AS BIGINT) AS term_count
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
        GROUP BY t.term
    )
    SELECT term, term_count FROM tf
    ORDER BY term_count DESC, term LIMIT 20
    """,
)
def llm_text_tokenize_tf(spark, sf_dir):
    """Corpus term frequencies, top-20 — collapse-duplicates-first.
    Tokenization work must scale with DISTINCT content, not corpus
    rows (the round-3 dedup-family law): a crawl corpus is replication-
    heavy, so first collapse identical texts to (text, multiplicity)
    — partial agg dedupes map-side, the exchange carries each distinct
    text once — then explode tokens of each distinct text exactly once
    and weight every instance by its multiplicity. Explode volume (the
    measured cost: one Generate output row per token) drops by the
    corpus replication factor: 3.5 s → 0.6 s at the ×100-replicated
    sf10 (≈DuckDB parity), identical result by distributivity of the
    count. Non-replicated corpora pay one extra distinct-text exchange
    (+0.08 s at sf0.1) — the right trade for the 100 TB crawl case.
    The r4 probe (working notes, "Round-4 end state") also rules out
    per-doc sorted-run counting (11 s) and HOF run-length arrays
    (61 s, quadratic array_append)."""
    d = t(spark, sf_dir, "documents")
    dist = d.groupBy("text").agg(F.count(F.lit(1)).alias("__mult"))
    return (
        dist.select(
            F.explode(F.split(F.lower("text"), " ")).alias("term"), "__mult"
        )
        .groupBy("term")
        .agg(F.sum("__mult").cast("bigint").alias("term_count"))
        .orderBy(F.col("term_count").desc(), "term")
        .limit(20)
    )


@declare(
    "llm_text_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(CAST(n_chars AS DECIMAL(25,4))) AS DOUBLE) / COUNT(*)
               AS avg_chars,
           CAST(SUM(CAST(length(string_split(text, ' ')) AS DECIMAL(25,4)))
                AS DOUBLE) / COUNT(*) AS avg_ws_tokens
    FROM documents GROUP BY lang, source
    """,
)
def llm_text_stats(spark, sf_dir):
    """Corpus composition audit: per-(lang, source) doc counts and
    char/token distribution moments — the first query run on any new
    crawl. One partial+final aggregate; the text column itself never
    shuffles (only per-group partials do)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (dec4_sum(F.col("n_chars")) / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        (
            dec4_sum(X.ws_token_count(F.col("text")))
            / F.count(F.lit(1))
        ).alias("avg_ws_tokens"),
    )


@declare(
    "llm_text_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INT) AS q_chars,
           CAST(length(string_split(text, ' ')) AS INT) AS q_ws_tokens,
           CAST(length(text) AS DOUBLE) / length(string_split(text, ' '))
               AS q_chars_per_token,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                AS DOUBLE) / length(text) AS q_punct_ratio,
           CAST(length(list_intersect(list_distinct(string_split(text, ' ')),
                ['the', 'and', 'of', 'with', 'fast'])) AS DOUBLE) / 5
               AS q_stopword_hit_ratio
    FROM documents
    """,
)
def llm_text_quality(spark, sf_dir):
    """Per-doc quality features (length/punct/stopword ratios) — the
    cheap pre-training filters, all codegen expressions."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return X.quality_features(d, "text").select(
        "doc_id",
        "q_chars",
        "q_ws_tokens",
        "q_chars_per_token",
        "q_punct_ratio",
        "q_stopword_hit_ratio",
    )


@declare(
    "llm_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(length(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(length(regexp_extract_all(text, '{X.BPE_TOKEN_RE}')) AS INT)
               AS bpe_tokens
    FROM documents
    """,
)
def llm_token_count_bpe(spark, sf_dir):
    """Token counting two ways: whitespace and a BPE-ish
    pre-tokenizer regex (letter runs | digit runs | single marks)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.ws_token_count(F.col("text")).alias("ws_tokens"),
        X.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def _langid_oracle() -> str:
    score = {
        lang: (
            f"length(list_intersect(toks, "
            f"[{', '.join(repr(m) for m in markers)}]))"
        )
        for lang, markers in X.LANG_MARKERS.items()
    }
    langs = list(X.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    case += "END"
    scores_sql = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
    WITH s AS (
        SELECT doc_id, lang,
               list_distinct(string_split(lower(text), ' ')) AS toks
        FROM documents
    ), sc AS (SELECT doc_id, lang, {scores_sql} FROM s)
    SELECT doc_id, lang AS actual_lang, {case} AS predicted_lang,
           ({case}) = lang AS lang_match
    FROM sc
    """


@declare("llm_text_langid", oracle=_langid_oracle())
def llm_text_langid(spark, sf_dir):
    """Heuristic language ID: marker-lexicon hit-count argmax
    (deterministic tiebreak by language order) vs the labeled lang.
    Oracle SQL is generated from the same lexicon table."""
    d = t(spark, sf_dir, "documents")
    pred = X.predict_lang("text")
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("lang_match"),
    )


@declare(
    "llm_fingerprint",
    cache_frame=True,
    oracle="""
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(1, length(text)),
                i -> (ascii(substr(text, i, 1)) + 1) * i)) % 1000000007
                AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def llm_fingerprint(spark, sf_dir):
    """Order-sensitive positional document fingerprint (Σ(ascii+1)·i
    mod p) as one higher-order-function fold — content-equal docs
    collide, any reordering separates.

    Collapse-duplicates-first (round 4): the fold is a pure function
    of the text, so it runs once per DISTINCT text — the groupBy
    carries each text once plus its doc_id list, the fingerprint
    computes per distinct, and the id array explodes back out (an
    attribute explode, not a lambda-HOF — the r3 gotcha doesn't
    apply). On the ×100-replicated sf10 corpus: 30.3 s → 1.8 s, now
    4× FASTER than the DuckDB per-row twin; non-replicated corpora
    pay one text exchange (+0.15 s at sf0.1). Same law as the dedup
    family: per-content work must scale with distinct content.
    Fixed two-exchange shape → static-plan session (397→182 ms at
    sf0.1, BASELINE.md round 5 — the largest AQE-staging tax in the
    headline set)."""
    spark = static_plan_session(spark)
    d = t(spark, sf_dir, "documents")
    per_text = d.groupBy("text").agg(F.collect_list("doc_id").alias("__ids"))
    fp = per_text.select(
        X.positional_fingerprint("text").alias("fingerprint"), "__ids"
    )
    return fp.select(F.explode("__ids").alias("doc_id"), "fingerprint")


# --- multimodal columns --------------------------------------------


@declare(
    "llm_multimodal_columns",
    oracle="""
    SELECT doc_id AS media_id,
           (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
           CAST(doc_id % 640 + 1 AS INT) AS width,
           CAST(doc_id % 480 + 1 AS INT) AS height,
           sha256(text) AS payload_digest
    FROM documents
    """,
)
def llm_multimodal_columns(spark, sf_dir):
    """Multimodal column model: opaque binary payload + typed struct
    metadata; projection of struct fields + content digest. The
    payload stays opaque — only small typed fields move."""
    d = t(spark, sf_dir, "documents")
    media = M.synthesize_media(d, "doc_id", "text")
    return media.select(
        "media_id",
        "kind",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.sha2("payload", 256).alias("payload_digest"),
    )


@declare(
    "llm_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_digest,
           CAST(doc_id % 640 + 1 AS INT) AS width,
           CAST(doc_id % 480 + 1 AS INT) AS height,
           CAST(list_sum(list_transform(generate_series(1, length(text)),
                i -> ascii(substr(text, i, 1)))) AS DOUBLE) / length(text)
               AS feat_mean
    FROM documents
    """,
)
def llm_multimodal_features(spark, sf_dir):
    """The full mapInPandas decode path (Arrow batches in/out, stub
    decoder): byte-level features per media row. The stub is
    arithmetic on the payload bytes, so the whole Python boundary is
    still exact-oracle-checkable (ASCII text ⇒ bytes == ascii codes)."""
    d = t(spark, sf_dir, "documents")
    media = M.synthesize_media(d, "doc_id", "text")
    return M.extract_features(media, use_stub=True)


@declare(
    "llm_tfidf_topk",
    oracle="""
    WITH N AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    tok AS (
        SELECT doc_id, t.term
        FROM documents, unnest(list_distinct(string_split(lower(text), ' '))) AS t(term)
    ),
    df AS (SELECT term, COUNT(*)::DOUBLE AS doc_freq FROM tok GROUP BY term),
    tf AS (
        SELECT t.term, CAST(COUNT(*) AS BIGINT) AS term_count
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
        GROUP BY t.term
    )
    SELECT tf.term, tf.term_count,
           CAST(df.doc_freq AS BIGINT) AS doc_freq,
           ROUND(tf.term_count * ln((SELECT n FROM N) / df.doc_freq), 6) AS tfidf
    FROM tf JOIN df ON tf.term = df.term
    ORDER BY tfidf DESC, tf.term LIMIT 25
    """,
)
def llm_tfidf_topk(spark, sf_dir):
    """Corpus TF-IDF top-25: collection TF × ln(N/df). Two aggregates
    over the token explode (term counts; per-doc-distinct counts),
    joined — both shuffles carry (term, count) pairs only. N (corpus
    size) is a 1-row broadcast-crossJoined aggregate, NOT a driver
    d.count(): the whole query stays one lazy plan with a single scan
    job instead of paying an extra full-table action per invocation.
    ROUND(6) guards ln() (libm-dependent last-ulp)."""
    d = t(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("term_count"))
    df = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "term_count",
            "doc_freq",
            F.round(
                F.col("term_count")
                * F.log(F.col("__n_docs") / F.col("doc_freq")),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "term")
        .limit(25)
    )


@declare(
    "llm_dedup_clusters",
    cache_frame=True,
    oracle="""
    WITH e AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM documents a JOIN documents b
          ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
         AND a.doc_id < b.doc_id
    ),
    und AS (
        SELECT id_a AS a, id_b AS b FROM e
        UNION SELECT id_b, id_a FROM e
    ),
    reach AS (
        WITH RECURSIVE r(src, dst) AS (
            SELECT a, a FROM und
            UNION
            SELECT r.src, u.b FROM r JOIN und u ON r.dst = u.a
        )
        SELECT * FROM r
    )
    SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS canonical_id
    FROM reach GROUP BY src
    """,
)
def llm_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → duplicate groups via connected components
    (hash-to-min label propagation; operators/components.py): each
    clustered doc maps to its group's canonical (min) id. Oracle:
    recursive-CTE transitive closure."""
    from database_importer_spark.operators.components import dedup_groups

    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("pa"))
    b = d.select(F.col("doc_id").alias("id_b"), F.substring("text", 1, 40).alias("pb"))
    pairs = a.join(
        b, (F.col("pa") == F.col("pb")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    return dedup_groups(pairs)


@declare(
    "llm_contamination_check",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, text,
               CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                    ELSE 'eval' END AS split
        FROM documents
    ),
    train_min AS (
        SELECT text, MIN(doc_id) AS tmin FROM assigned
        WHERE split = 'train' GROUP BY text
    ),
    texts AS (SELECT DISTINCT text FROM assigned),
    tsh AS (
        SELECT DISTINCT text, shingle_h FROM (
            SELECT text,
                   ('0x' || substr(md5(unnest(list_transform(
                       generate_series(1, greatest(length(string_split(text, ' ')) - 4, 1)),
                       i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')
                   ))), 1, 15))::BIGINT AS shingle_h
            FROM texts)
    ),
    train_sh AS (
        SELECT shingle_h, MIN(tmin) AS min_tr
        FROM tsh JOIN train_min USING (text) GROUP BY shingle_h
    ),
    hits AS (
        SELECT tsh.text,
               CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
               CAST(MIN(min_tr) AS BIGINT) AS first_train_doc
        FROM tsh JOIN train_sh USING (shingle_h) GROUP BY tsh.text
    )
    SELECT a.doc_id AS eval_doc_id, h.n_shared_shingles, h.first_train_doc
    FROM assigned a JOIN hits h USING (text) WHERE a.split = 'eval'
    """,
)
def llm_contamination_check(spark, sf_dir):
    """Train/eval contamination: 5-gram shingle collisions between the
    deterministic splits — the standard decontamination pass. Shingles
    hash to a 60-bit md5-derived BIGINT BEFORE the join on both engine
    and oracle sides: the shuffle carries 8-byte keys (an earlier
    sha256-hex variant shuffled 64-char strings — switching the key
    type alone cut the sf1 join+agg wall clock ~2×), raw text never
    crosses an exchange, and both engines hash identically so even a
    60-bit collision (odds ~1e-4 at 10M shingles) stays hash-matching:
    BOTH sides dedupe per text on the HASHED value (Spark distinct on
    (text, shingle_h); the oracle's DISTINCT wraps the unnested md5s)
    — round 4 aligned the oracle, which previously list_distinct'ed
    raw shingles before hashing and would have disagreed by one row
    on a within-text collision.

    The join is PRE-AGGREGATED per shingle, never instance×instance:
    the train side collapses to one (shingle, min train doc) row, so
    each shingle matches EXACTLY one train row and join output is
    linear in shingles. The naive instance-level join is quadratic in
    per-shingle frequency — measured at sf10 it ran 166 s and then
    killed the JVM (a shingle shared by thousands of docs per side
    fans out to billions of rows).

    Shingling runs per DISTINCT text, not per document instance —
    contamination is a property of the content, so duplicate docs
    inherit their text's result through a final join-back (on a
    ×10-replicated corpus this is 10× less hashing: sf1 went 23 s →
    ~3 s on both engines). The text-keyed groupBys shuffle the text
    itself here; at 100 TB you key them by sha2(text) and carry ids."""
    d = t(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % 100
    assigned = d.select("doc_id", "text").withColumn(
        "split", F.when(h < 80, "train").otherwise("eval")
    )
    train_min = (
        assigned.filter(F.col("split") == "train")
        .groupBy("text")
        .agg(F.min("doc_id").alias("__tmin"))
    )
    texts = assigned.select("text").distinct()
    tsh = (
        D.shingle_rows(texts, "text", 5)
        .select(
            "text",
            F.expr(
                "cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint)"
            ).alias("shingle_h"),
        )
        .distinct()  # per-text distinct on the hashed shingle (= oracle)
        # referenced twice below (train_sh build + hits probe):
        # checkpoint so the shingling computes once, not per arm
        # (4.8 s → 3.4 s at sf10)
        .localCheckpoint(eager=False)
    )
    train_sh = (
        tsh.join(train_min, "text")
        .groupBy("shingle_h")
        .agg(F.min("__tmin").alias("__min_tr"))
    )
    hits = (
        tsh.join(train_sh, "shingle_h")
        .groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            F.min("__min_tr").alias("first_train_doc"),
        )
    )
    return (
        assigned.filter(F.col("split") == "eval")
        .join(hits, "text")
        .select(
            F.col("doc_id").alias("eval_doc_id"),
            "n_shared_shingles",
            "first_train_doc",
        )
    )


@declare(
    "llm_pii_scrub",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS scrubbed,
           CAST(length(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_masked
    FROM documents
    """,
)
def llm_pii_scrub(spark, sf_dir):
    """Pattern-based scrubbing (digit runs → <NUM>) with a mask count
    — the shape of PII redaction (emails/phones are the same regexp
    pass with richer patterns); pure codegen, no UDF."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace("text", "[0-9]+", "<NUM>").alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).alias("n_masked"),
    )


@declare(
    "llm_sample_stratified",
    oracle="""
    WITH sampled AS (
        SELECT doc_id, lang FROM documents
        WHERE (doc_id * 2654435761) % 100 <
              CASE WHEN lang = 'en' THEN 20 ELSE 80 END
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM sampled GROUP BY lang
    """,
)
def llm_sample_stratified(spark, sf_dir):
    """Per-stratum deterministic sampling — the training-data
    rebalance pass (downsample the majority language, keep the rest):
    keep rate is a CASE over the stratum, membership is multiplicative
    key hashing (Knuth constant, same scheme as
    ``llm_split_train_val``) — reproducible across runs, engines and
    cluster sizes, no ``rand()``, no per-stratum pass. Scale: one
    stateless row-local filter, no shuffle before the (tiny) audit
    aggregate; at 100 TB this is a map-only scan. Checksum pins exact
    membership. (Reference has no sampling surface; this extends the
    mandated LLM-pipeline block.)"""
    d = t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 20).otherwise(80)
    keep = (F.col("doc_id") * F.lit(2654435761)) % 100 < rate
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


@declare(
    "llm_cap_per_source",
    oracle="""
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
)
def llm_cap_per_source(spark, sf_dir):
    """Per-source document cap (keep the 10 smallest doc_ids per
    source) — the domain-balancing pass that stops one crawl domain
    from dominating a training mix. Partitioned window with a full
    deterministic order key, so every task ranks only its own
    source's rows; no global sort, no single-partition exchange
    (tests/test_plans.py pins that invariant for all fact windows).
    At 100 TB: shuffle on source (salting applies if one domain is
    pathological), then row-local rank+filter."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("source", "doc_id")
    )


@declare(
    "llm_url_parse",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               'https://' || source || '.example.org/docs/' ||
                   CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param
    FROM urls
    """,
)
def llm_url_parse(spark, sf_dir):
    """URL decomposition (host / path / query param) — the
    provenance-tracking primitive of every crawl pipeline (domain
    blocklists, per-site caps, dedup by canonical URL). Spark side
    uses the built-in ``parse_url`` (JVM, codegen); the oracle
    re-parses with regexps so both engines genuinely parse rather
    than reconstruct. URLs are synthesized deterministically from
    (source, doc_id, lang) since the corpus has no URL column.
    Scale: stateless row-local projection, map-only."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@declare(
    "llm_embedding_stats",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)), 6)
               AS avg_norm,
           ROUND(MAX(ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)), 6)
               AS max_norm
    FROM embeddings GROUP BY label
    """,
)
def llm_embedding_stats(spark, sf_dir):
    """Per-label embedding audit (count, average/max L2 norm) — the
    sanity pass before any ANN/dedup stage (un-normalized or
    degenerate vectors poison cosine math). The norm is a JVM-side
    higher-order fold over the array column — no explode (the 64-dim
    payload never becomes 64 rows), no Python. ROUND(6) on both
    engines absorbs float→double ulp drift per the determinism rules.
    Scale: map-only projection then a tiny partial+final aggregate."""
    e = t(spark, sf_dir, "embeddings")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    return (
        e.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@declare(
    "llm_pack_sequences",
    oracle="""
    WITH RECURSIVE
    d AS (
        SELECT doc_id, (doc_id * 2654435761) % 8 AS bucket,
               n_chars // 4 AS n_tokens
        FROM documents
    ),
    docs AS (
        SELECT bucket, doc_id, n_tokens,
               row_number() OVER (PARTITION BY bucket
                   ORDER BY n_tokens DESC, doc_id) AS rn
        FROM d
    ),
    ffd AS (
        SELECT bucket, 0::BIGINT AS rn,
               []::BIGINT[] AS rem, []::BIGINT[] AS ids, []::BIGINT[] AS bins
        FROM (SELECT DISTINCT bucket FROM docs)
        UNION ALL
        SELECT f.bucket, dd.rn,
               CASE WHEN pos IS NULL
                    THEN list_append(f.rem, greatest(2048 - dd.n_tokens, 0))
                    ELSE list_transform(generate_series(1, len(f.rem)),
                            i -> CASE WHEN i = pos THEN f.rem[i] - dd.n_tokens
                                 ELSE f.rem[i] END)
               END,
               list_append(f.ids, dd.doc_id),
               list_append(f.bins,
                   CASE WHEN pos IS NULL THEN len(f.rem) + 1 ELSE pos END)
        FROM ffd f
        JOIN docs dd ON dd.bucket = f.bucket AND dd.rn = f.rn + 1,
        LATERAL (SELECT NULLIF(list_position(
            list_transform(f.rem, r -> r >= dd.n_tokens), true), 0) AS pos) p
    ),
    final AS (
        SELECT bucket, ids, bins,
               row_number() OVER (PARTITION BY bucket ORDER BY rn DESC) AS rk
        FROM ffd
    ),
    assigned AS (
        SELECT bucket, unnest(ids) AS a_doc_id, unnest(bins) AS local_bin
        FROM final WHERE rk = 1
    )
    SELECT a.a_doc_id AS doc_id,
           (a.bucket * (1::BIGINT << 40) + (a.local_bin - 1))::BIGINT AS bin_id,
           CAST(SUM(d.n_tokens) OVER (PARTITION BY a.bucket, a.local_bin)
                AS BIGINT) AS bin_fill
    FROM assigned a JOIN d ON d.doc_id = a.a_doc_id
    """,
)
def llm_pack_sequences(spark, sf_dir):
    """Sample packing for pretraining: documents → fixed-token-budget
    bins via operators/packing.pack_sequences (first-fit-decreasing
    inside deterministic hash buckets, one Arrow batch per bucket —
    embarrassingly parallel, slightly worse fill than a global pack,
    fully deterministic). Token counts estimated at n_chars/4.

    EXACT-oracle since round 4 (was the last upgradable rows-only
    check): FFD is sequential per bucket, but sequential-given-the-
    sort is exactly what a recursive CTE expresses — the DuckDB twin
    replays first-fit-decreasing one doc per recursion step, carrying
    each bucket's remaining-capacity LIST as CTE state (same unrolled-
    iteration technique that made k-means exact in r3). The bucket
    hash is the repo's portable multiplicative hash — xxhash64 has no
    DuckDB twin — so both engines bucket identically. Packing
    invariants additionally pytest-pinned in tests/test_operators.py.

    Scale: buckets pack independently on executors (one Arrow batch
    per bucket; pick num_buckets ~ cluster cores at 100 TB); the
    oracle's O(docs·bins) recursion is a test-scale device only."""
    from database_importer_spark.operators.packing import pack_sequences

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") / 4).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") * F.lit(2654435761)).cast("bigint").__mod__(8).alias(
            "__pbucket"
        ),
    )
    return pack_sequences(
        d, "doc_id", "n_tokens", max_tokens=2048, bucket_col="__pbucket"
    )


@declare(
    "llm_pipeline_end2end",
    oracle="""
    WITH deduped AS (
        SELECT min(doc_id) AS doc_id,
               arg_min(lang, doc_id) AS lang,
               arg_min(n_chars, doc_id) AS n_chars,
               min(doc_id) * 2654435761 AS h
        FROM documents
        GROUP BY text
    ),
    filtered AS (
        SELECT * FROM deduped
        WHERE n_chars BETWEEN 50 AND 10000
    ),
    split AS (
        SELECT lang, n_chars,
               CASE WHEN h % 100 < 90 THEN 'train' ELSE 'val' END AS part
        FROM filtered
    )
    SELECT part, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(25,4))) AS DOUBLE) AS total_chars
    FROM split GROUP BY part, lang
    """,
)
def llm_pipeline_end2end(spark, sf_dir):
    """The whole training-data pipeline as ONE lazy plan: exact dedup
    (keep the smallest doc_id per content digest — shuffle carries
    (digest, id, small metadata), never text) → quality gate (length
    band) → deterministic train/val split (multiplicative key hash) →
    per-(split, lang) audit aggregate. No intermediate
    materialization, no driver action: Catalyst fuses the filter into
    the dedup aggregate's output and the whole thing is two exchanges
    end to end (digest groupBy, final audit groupBy). This is the
    composition story — each stage is also a standalone declared op
    ([llm_dedup_exact], [llm_text_stats], [llm_split_train_val]).
    Both engines carry the representative's metadata with
    min_by/arg_min on doc_id, so the surviving row is deterministic
    even if copies ever disagreed on metadata."""
    d = t(spark, sf_dir, "documents")
    deduped = (
        d.groupBy(
            F.xxhash64(F.col("text")).alias("__h1"),
            F.xxhash64(F.lit(1), F.col("text")).alias("__h2"),
        )
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        )
        .drop("__h1", "__h2")
    )
    filtered = deduped.filter(F.col("n_chars").between(50, 10000))
    part = F.when(
        (F.col("doc_id") * F.lit(2654435761)) % 100 < 90, "train"
    ).otherwise("val")
    return (
        filtered.select(part.alias("part"), "lang", "n_chars")
        .groupBy("part", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dec4_sum(F.col("n_chars")).alias("total_chars"),
        )
    )


@declare(
    "llm_quality_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t.term
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
    ),
    tf AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    total AS (SELECT SUM(c) AS n FROM tf),
    scored AS (
        SELECT tok.doc_id,
               CAST(ROUND(log10(tf.c / (SELECT n FROM total)) * 1000000)
                    AS BIGINT) AS lp_q
        FROM tok JOIN tf ON tok.term = tf.term
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(lp_q) AS DOUBLE) / COUNT(*) / 1000000, 6)
               AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def llm_quality_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality score — the perplexity-filter
    analogue: docs full of rare/garbage tokens get low average
    log-probability under the corpus's own unigram distribution.
    Self-contained two-pass plan: corpus term frequencies (partial
    agg — the shuffle carries (term, count)), total-token count as a
    1-row broadcast (no driver action), then token→tf equi join and a
    per-doc aggregate. Per-term log-probs are quantized to integer
    micro-units BEFORE the sum so the per-doc aggregate is
    order-independent (double addition across a shuffle is not);
    ROUND(6) absorbs the final division. Scale: vocabulary joins are
    equi joins (broadcast when the vocab fits, shuffle otherwise —
    Catalyst decides from stats); nothing driver-side."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tf.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        tok.join(tf, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log10(F.col("c") / F.col("n")) * 1000000)
            .cast("bigint")
            .alias("lp_q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("lp_q").cast("double") / F.count(F.lit(1)) / 1000000, 6
        ).alias("avg_logprob"),
    )


@declare(
    "llm_repetition_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               list_transform(generate_series(1, len(tk) - 2),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g3
        FROM toks
    )
    SELECT s.doc_id, s.n_tokens,
           CAST(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
                AS DOUBLE) AS dup_3gram_frac,
           CAST(list_max(list_transform(list_distinct(t.tk),
                    u -> len(list_filter(t.tk, x -> x = u)))) AS DOUBLE)
               / s.n_tokens AS top_token_frac
    FROM scored s JOIN toks t ON t.doc_id = s.doc_id
    """,
)
def llm_repetition_score(spark, sf_dir):
    """Intra-document repetition signals (the Gopher/C4 quality
    filters): duplicated-3-gram fraction and the mass of the single
    most frequent token. Entirely per-row higher-order-function
    expressions — zero shuffle, zero Python: the ideal 100 TB shape
    (a map-only scan). The top-token pass is O(u·n) per row in
    unique-tokens u — bounded by document length, not corpus size;
    for pathological documents switch to the explode+groupBy twin
    (same result, one shuffle). Integer-ratio doubles are exact in
    IEEE, so no rounding is needed for the oracle hash."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("tk")
    )
    g3 = F.expr(
        "transform(sequence(1, size(tk) - 2), "
        "i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1]))"
    )
    # max token frequency = longest equal run in the SORTED array:
    # O(n log n) per row vs the naive O(distinct·n) count-per-token
    # scan (14x faster at sf1), and the split happens once in a
    # projected column instead of once per HOF reference (Catalyst
    # does not CSE subexpressions inside lambda bodies).
    top = F.expr(
        "aggregate(array_sort(tk), "
        "struct(cast(null as string) as prev, 0 as run, 0 as mx), "
        "(s, x) -> struct(x, "
        "                 if(s.prev <=> x, s.run + 1, 1), "
        "                 greatest(s.mx, if(s.prev <=> x, s.run + 1, 1))), "
        "s -> s.mx)"
    )
    return d.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(g3)).cast("double") / F.size(g3)
        ).alias("dup_3gram_frac"),
        (top.cast("double") / F.size("tk")).alias("top_token_frac"),
    )


@declare(
    "llm_domain_rebalance",
    oracle="""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_src
        FROM per_src
    ),
    kept AS (
        SELECT d.source, d.doc_id
        FROM documents d
        JOIN per_src p ON p.source = d.source, tot
        WHERE ((d.doc_id * 2654435761) % 10000) * tot.n_src * p.cnt
              < tot.total * 10000
    )
    SELECT p.source, p.cnt AS n_before,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_after
    FROM per_src p LEFT JOIN kept k ON k.source = p.source
    GROUP BY p.source, p.cnt
    """,
)
def llm_domain_rebalance(spark, sf_dir):
    """Domain-mix rebalancing: downsample over-represented sources
    toward a uniform target share with a DETERMINISTIC keep rule —
    keep iff hash(doc_id)·n_src·cnt(source) < total·10⁴, i.e.
    keep-probability ≈ (total/n_src)/cnt capped at 1 — all integer
    arithmetic (no floats, no rand()), so membership is reproducible
    across runs, engines, partitionings and cluster sizes. Per-source
    counts and the (total, n_src) 1-row aggregate both broadcast; the
    fact table is filtered map-side — one shuffle for the final
    per-source count, nothing else. The C4/Pile recipe of 'flatten
    the domain mix' as one lazy plan."""
    d = t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per_src.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_src")
    )
    h = (F.col("doc_id") * F.lit(2654435761)) % 10000
    kept = (
        d.join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(tot))
        .filter(h * F.col("n_src") * F.col("cnt") < F.col("total") * 10000)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    return (
        per_src.select("source", F.col("cnt").alias("n_before"))
        .join(kept, "source", "left")
        .select(
            "source",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("bigint").alias("n_after"),
        )
    )


@declare(
    "llm_tfidf_cosine_pairs",
    cache_frame=True,
    oracle="""
    WITH N AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
    tok AS (
        SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
        GROUP BY doc_id, t.term
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
        FROM tok GROUP BY term
    ),
    post AS (
        SELECT tok.doc_id, tok.term,
               CAST(ROUND(tok.tf * ROUND(ln((SELECT n FROM N) / df.doc_freq),
                    6) * 1000000) AS BIGINT) AS wq
        FROM tok JOIN df ON df.term = tok.term, N
        WHERE df.doc_freq * 2 < (SELECT n FROM N)
          AND df.doc_freq <= 4000
    ),
    norms AS (
        SELECT doc_id, sqrt(CAST(SUM(wq * wq) AS DOUBLE)) AS nrm
        FROM post GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(SUM(a.wq * b.wq) AS BIGINT) AS dot
        FROM post a JOIN post b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.id_a, d.id_b,
           ROUND(CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.id_a
    JOIN norms nb ON nb.doc_id = d.id_b
    WHERE CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.60
    """,
)
def llm_tfidf_cosine_pairs(spark, sf_dir):
    """All-pairs sparse TF-IDF cosine similarity via an INVERTED
    INDEX join — the scalable shape for text all-pairs similarity:
    documents meet only through terms they share (posting-list
    self-join on term), never through a cross join. Rare-term
    pruning (df·2 < N) bounds posting-list length — the standard
    guard that keeps the join sub-quadratic at corpus scale (a
    stop-word's posting list would otherwise dominate).

    Determinism across shuffles: weights are quantized to integer
    micro-units AFTER ROUND(6)-guarding ln(), so dot products and
    norms are exact integer sums (order-independent), and the final
    cosine is one deterministic double division. Shuffle payload:
    (term, doc, int64) postings and (pair, int64) partials only.

    COLLAPSE-FIRST (r6, the round-3 dedup lesson applied here): the
    whole computation is a function of DISTINCT text — tf and the
    posting vector are per-text, df is the member-count-weighted sum
    over canonicals, and cosine(a, b) ≡ cosine(canon(a), canon(b)).
    So the posting self-join runs over one canonical per distinct
    text (work ∝ distinct content²-ish), the ≥0.60 threshold is
    applied at CANONICAL level, and only qualifying canonical pairs
    expand back to member pairs (within-group pairs carry the
    group's own dot/norm). The expanded pair recomputes the IDENTICAL
    expression dot/(sqrt(Sa)·sqrt(Sb)) the naive plan evaluates, so
    every output value is bit-equal to the unchanged naive DuckDB
    oracle (verified exact at sf0.01/0.1 and the ×100 sf10 corpus —
    where this rewrite is 24.6 s → ~2 s: the replicated corpus paid
    ~10,000× the join work per duplicate group)."""
    d = t(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    groups = d.groupBy("text").agg(
        F.min("doc_id").alias("cid"), F.count(F.lit(1)).alias("mult")
    )
    members = d.select("doc_id", "text").join(groups, "text").select("doc_id", "cid")
    tok = (
        groups.select("cid", "mult", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .groupBy("cid", "mult", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tok.groupBy("term").agg(F.sum("mult").alias("doc_freq"))
    post = (
        tok.join(df, "term")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("doc_freq") * 2 < F.col("__n"))
            & (F.col("doc_freq") <= 4000)
        )
        .select(
            "cid",
            "term",
            F.round(
                F.col("tf")
                * F.round(F.log(F.col("__n") / F.col("doc_freq")), 6)
                * 1000000
            )
            .cast("bigint")
            .alias("wq"),
        )
    )
    # integer self-dot S per canonical; nrm = sqrt(S) exactly as the
    # naive plan computes it (norms join below reuses both forms)
    norms = post.groupBy("cid").agg(
        F.sum(F.col("wq") * F.col("wq")).alias("ss")
    )
    a = post.select(F.col("cid").alias("ca"), "term", F.col("wq").alias("wa"))
    b = post.select(F.col("cid").alias("cb"), "term", F.col("wq").alias("wb"))
    cross = (
        a.join(b, "term")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    # within-group pairs: dot = S, both norms = sqrt(S); only groups
    # with >1 member and a nonempty pruned posting vector qualify
    within = norms.join(
        groups.filter(F.col("mult") > 1).select("cid"), "cid"
    ).select(
        F.col("cid").alias("ca"), F.col("cid").alias("cb"),
        F.col("ss").alias("dot"),
    )
    na = norms.select(F.col("cid").alias("ca"), F.sqrt(F.col("ss").cast("double")).alias("na"))
    nb = norms.select(F.col("cid").alias("cb"), F.sqrt(F.col("ss").cast("double")).alias("nb"))
    cos = F.col("dot").cast("double") / (F.col("na") * F.col("nb"))
    cpairs = (
        cross.unionByName(within)
        .join(na, "ca")
        .join(nb, "cb")
        .filter(cos >= 0.60)
        .select("ca", "cb", F.round(cos, 6).alias("cosine"))
    )
    ma = members.select(F.col("cid").alias("ca"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("cid").alias("cb"), F.col("doc_id").alias("db"))
    expanded = (
        cpairs.join(ma, "ca").join(mb, "cb")
        # within-group expansion (ca == cb) must not emit (x, x) or
        # both orientations; cross-group combos each appear once but
        # member ids need not follow cid order (cid is the group MIN,
        # so a lower-cid group can hold larger member ids) — order
        # every emitted pair by value with least/greatest
        .filter((F.col("ca") != F.col("cb")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "cosine",
        )
    )
    return expanded


def _kmeans_ivf_oracle(k=16, iters=2, dim=64, nprobe=2, topk=3) -> str:
    """DuckDB twin of kmeans_codebook + ivf_topk: Lloyd's iterations
    unrolled as chained CTEs. Exactness hinges on kmeans_codebook's
    DECIMAL(25,10) centroid accumulation — the per-dimension sum is
    order-independent, so Spark's shuffled partial aggregation and
    DuckDB's sequential scan produce the identical decimal, and the
    single decimal→double cast + division yields bit-identical
    centroids. Assignment ties break to the lowest centroid id on
    both sides (min(struct(d, cid)) ↔ ORDER BY d, cid)."""
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i])))"
    )
    ctes = [
        "base AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        f"cent0 AS (SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, v AS cv "
        f"FROM (SELECT vid, v FROM base ORDER BY vid LIMIT {k}))",
    ]
    for it in range(1, iters + 1):
        prev = f"cent{it - 1}"
        ctes.append(
            f"asg{it} AS (SELECT vid, cid FROM ("
            f"SELECT b.vid, c.cid, ROW_NUMBER() OVER (PARTITION BY b.vid "
            f"ORDER BY {d2} ASC, c.cid) AS rn FROM base b, {prev} c) WHERE rn = 1)"
        )
        ctes.append(
            f"dims{it} AS (SELECT a.cid, i.i AS dim, "
            f"sum(CAST(b.v[i.i] AS DECIMAL(25,10))) AS s, count(*) AS n "
            f"FROM base b JOIN asg{it} a USING (vid), "
            f"generate_series(1, {dim}) AS i(i) GROUP BY a.cid, i.i)"
        )
        ctes.append(
            f"cent{it} AS (SELECT cid, array_agg(s::DOUBLE / n ORDER BY dim) AS ev "
            f"FROM dims{it} GROUP BY cid)"
            if it == iters
            else f"cent{it} AS (SELECT cid, array_agg(s::DOUBLE / n ORDER BY dim) AS cv "
            f"FROM dims{it} GROUP BY cid)"
        )
    cent = f"cent{iters}"
    ctes.append(
        "qs AS (SELECT vec_id AS query_id, embedding AS qv "
        "FROM embeddings WHERE vec_id < 5)"
    )
    ctes.append(
        f"""assigned AS (
        SELECT corpus_id, cid FROM (
            SELECT c.vec_id AS corpus_id, cent.cid,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY {_cos_sql('c.embedding', 'cent.ev')} DESC, cent.cid)
                       AS rn
            FROM embeddings c, {cent} cent
        ) WHERE rn = 1)"""
    )
    ctes.append(
        f"""probes AS (
        SELECT query_id, cid FROM (
            SELECT qs.query_id, cent.cid,
                   ROW_NUMBER() OVER (PARTITION BY qs.query_id
                       ORDER BY {_cos_sql('qs.qv', 'cent.ev')} DESC, cent.cid) AS rn
            FROM qs, {cent} cent
        ) WHERE rn <= {nprobe})"""
    )
    ctes.append(
        f"""scored AS (
        SELECT p.query_id, a.corpus_id,
               {_cos_sql('q2.embedding', 'c2.embedding')} AS cosine
        FROM probes p
        JOIN assigned a ON a.cid = p.cid AND a.corpus_id != p.query_id
        JOIN embeddings c2 ON c2.vec_id = a.corpus_id
        JOIN embeddings q2 ON q2.vec_id = p.query_id)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, corpus_id, cosine, CAST(rn AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, corpus_id) AS rn FROM scored)
    WHERE rn <= {topk}
    """
    )


@declare("llm_similarity_ivf_kmeans", oracle=_kmeans_ivf_oracle(), cache_frame=True)
def llm_similarity_ivf_kmeans(spark, sf_dir):
    """IVF with a TRAINED coarse quantizer: 2 Lloyd rounds over the
    corpus (operators/similarity.kmeans_codebook — broadcast-argmin
    assignment + (cid, dim) mean aggregation, no MLlib, no RDDs),
    then the same nprobe=2 probe + exact-cosine verify as
    llm_similarity_ivf. EXACT oracle (round 3): centroid means
    accumulate in DECIMAL(25,10) — order-independent, so the trained
    codebook is bit-reproducible across partitionings and engines —
    and the DuckDB twin unrolls the identical Lloyd iterations as
    CTEs. Lloyd monotonicity + answer validity remain pinned in
    tests/test_operators.py."""
    e = t(spark, sf_dir, "embeddings")
    book = S.kmeans_codebook(e, "vec_id", "embedding", k=16, iters=2)
    cent = book.select(
        F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    return S.ivf_topk(
        e, e.filter(F.col("vec_id") < 5), cent, "vec_id", "embedding",
        k=3, nprobe=2,
    )


@declare(
    "llm_embedding_quantize_int8",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
                   AS scale,
               embedding
        FROM embeddings
    ),
    recon AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                   x -> floor(x::DOUBLE * 127 / scale + 0.5) * scale / 127)
                   AS r,
               list_transform(embedding, x -> x::DOUBLE) AS v
        FROM q
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale_r,
           ROUND(list_max(list_transform(generate_series(1, 64),
                 i -> abs(v[i] - r[i]))), 6) AS max_abs_err,
           ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> abs(v[i] - r[i]))) / 64, 6) AS mean_abs_err
    FROM recon
    """,
)
def llm_embedding_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization + reconstruction-error
    audit — the storage/bandwidth op of a 100 TB embedding store (4×
    smaller than float32, dot products stay SIMD-able). Per-vector
    absmax scale; quantize as floor(x·127/scale + 0.5) — floor is
    IEEE-exact in both engines, so the quantized codes (and hence the
    error stats) are bit-identical cross-engine, unlike round()
    whose half-way rule differs by engine. Map-only: no shuffle, no
    Python; ROUND(6) only on the final reported stats. The audit
    bounds max|err| ≤ scale/254 by construction — a wrong scale or
    transposed dim shows up immediately."""
    e = t(spark, sf_dir, "embeddings")
    v = "transform(embedding, x -> cast(x as double))"
    out = e.select(
        "vec_id",
        F.expr(f"array_max(transform({v}, x -> abs(x)))").alias("scale"),
        F.expr(v).alias("v"),
    ).select(
        "vec_id",
        "scale",
        F.expr(
            "zip_with(v, transform(v, x -> floor(x * 127 / scale + 0.5)"
            " * scale / 127), (a, b) -> abs(a - b))"
        ).alias("errs"),
    )
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.round(F.array_max("errs"), 6).alias("max_abs_err"),
        F.round(
            F.expr(
                "aggregate(errs, cast(0.0 as double), (acc, x) -> acc + x)"
            )
            / 64,
            6,
        ).alias("mean_abs_err"),
    )
