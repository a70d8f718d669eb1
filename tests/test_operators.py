"""Operator-level tests: as-of join semantics, dedup invariants
(LSH pairs ⊆ exact-Jaccard pairs), similarity recall, text stats,
multimodal plumbing.
"""

import pytest
from pyspark.sql import functions as F

from database_importer_spark.operators import dedup as D
from database_importer_spark.operators import multimodal as M
from database_importer_spark.operators import similarity as S
from database_importer_spark.operators.asof import asof_join


# --- as-of join -----------------------------------------------------


def test_asof_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3")], "k int, ts int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (2, 6, 300.0)], "k int, rts int, rv double"
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts", payload=["rv"]
    )
    got = {(r["k"], r["ts"]): r["rv"] for r in out.collect()}
    assert got == {(1, 10): 100.0, (1, 20): 200.0, (2, 5): None}


def test_asof_inclusive_tie(spark):
    """right.ts == left.ts matches (backward-inclusive)."""
    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame([(1, 10, 7.0)], "k int, rts int, rv double")
    out = asof_join(left, right, ["k"], "ts", "rts", ["rv"])
    assert out.collect()[0]["rv"] == 7.0


def test_asof_right_tiebreak(spark):
    """Equal (key, ts) on the right: highest tiebreak wins."""
    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 9, 1, 10.0), (1, 9, 2, 20.0)], "k int, rts int, rid int, rv double"
    )
    out = asof_join(left, right, ["k"], "ts", "rts", ["rv"], right_tiebreak="rid")
    assert out.collect()[0]["rv"] == 20.0


def test_asof_payload_collision(spark):
    left = spark.createDataFrame([(1, 10, 1.0)], "k int, ts int, rv double")
    right = spark.createDataFrame([(1, 9, 2.0)], "k int, rts int, rv double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, ["k"], "ts", "rts", ["rv"])


# --- dedup invariants ----------------------------------------------


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from database_importer_spark.sources.loader import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_exact_dedup_finds_planted_dups(spark, docs):
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10**6).alias("doc_id"), "text"
    )
    n_planted = planted.count()
    corpus = docs.unionByName(planted)
    kept = D.exact_dedup(corpus, "text", "doc_id")
    assert kept.count() == docs.count()  # one representative per text
    assert kept.filter(F.col("n_copies") == 2).count() == n_planted
    # representative is always the smallest id (the original)
    assert kept.filter(F.col("doc_id") >= 10**6).count() == 0


def test_lsh_pairs_subset_of_exact(spark, docs):
    """LSH is a recall filter: after exact-Jaccard verify, its pairs
    must be a subset of the full exact-Jaccard pair set at the same
    threshold (no false positives survive)."""
    thresh = 0.3
    lsh = set(
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups_portable(
            docs, "text", "doc_id", threshold=thresh
        ).collect()
    )
    sh = D.shingles(docs, "text", 3)
    all_pairs = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
    )
    exact = set(
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(sh, "doc_id", all_pairs)
        .filter(F.col("jaccard") >= thresh)
        .collect()
    )
    assert lsh <= exact
    # and on this corpus the planted near-dups are actually found
    assert len(lsh) > 0


def test_lsh_cross_probe_consistent_with_self_join(spark, docs):
    """lsh_candidate_pairs_cross (the incremental-dedup probe) must
    produce exactly the cross-side subset of the single-frame LSH
    candidate set: splitting a corpus into (batch, index) and probing
    finds the same batch-vs-corpus candidates the full self-join
    finds — no pairs invented, none lost at the frame boundary. And
    an identical text planted on both sides MUST surface (all bands
    collide)."""
    sh = D.shingles(docs, "text", 3).select("doc_id", "shingle_arr")
    sigs = D.minhash_signatures_portable(sh, "doc_id")
    full = set(
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs_portable(sigs, "doc_id", 8, 4).collect()
    )
    batch = sigs.filter(F.col("doc_id") % 2 == 0).withColumnRenamed(
        "doc_id", "batch_doc"
    )
    corpus = sigs.filter(F.col("doc_id") % 2 != 0).withColumnRenamed(
        "doc_id", "corpus_doc"
    )
    cross = set(
        (r["batch_doc"], r["corpus_doc"])
        for r in D.lsh_candidate_pairs_cross(
            batch, corpus, "batch_doc", "corpus_doc", 8, 4
        ).collect()
    )
    expected = set(
        (a, b) if a % 2 == 0 else (b, a)
        for (a, b) in full
        if (a % 2) != (b % 2)
    )
    assert cross == expected

    # planted identical text across the split → guaranteed hit
    planted = spark.createDataFrame(
        [(1000, "x y z w v u t s r q"), (1001, "x y z w v u t s r q")],
        "doc_id bigint, text string",
    )
    shp = D.shingles(planted, "text", 3).select("doc_id", "shingle_arr")
    sp = D.minhash_signatures_portable(shp, "doc_id")
    hit = D.lsh_candidate_pairs_cross(
        sp.filter(F.col("doc_id") == 1000).withColumnRenamed("doc_id", "batch_doc"),
        sp.filter(F.col("doc_id") == 1001).withColumnRenamed("doc_id", "corpus_doc"),
        "batch_doc",
        "corpus_doc",
        8,
        4,
    ).collect()
    assert [(r["batch_doc"], r["corpus_doc"]) for r in hit] == [(1000, 1001)]


def test_lsh_params_s_curve_math():
    """Parameter rule: chosen (b, r) must clear the recall floor at
    the threshold, within the hash budget, preferring steep curves."""
    import math

    from database_importer_spark.operators.dedup import lsh_params_for_recall

    for s, target in [(0.5, 0.9), (0.8, 0.9), (0.3, 0.8), (0.9, 0.95)]:
        b, r = lsh_params_for_recall(s, target)
        assert 1 - (1 - s**r) ** b >= target
        assert b * r <= 256
    with pytest.raises(ValueError):
        lsh_params_for_recall(0.05, 0.999, max_hashes=16)


def test_minhash_recall_floor_on_planted_corpus(spark):
    """Round-2 gate (VERDICT #5): with target_recall=0.9 at Jaccard
    ≥0.5, the LSH pipeline must recover ≥0.9 of the TRUE ≥0.5-Jaccard
    pairs on a planted near-dup corpus. Fixed seeds — deterministic."""
    import random

    rng = random.Random(99)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = []
    for i in range(120):
        words = [rng.choice(vocab) for _ in range(30)]
        rows.append((i, " ".join(words)))
        if i < 60:  # plant a near-dup: ~8% of words replaced (each
            # replaced word kills up to 3 shingles → Jaccard ~0.5-0.8)
            mutated = [
                w if rng.random() > 0.08 else rng.choice(vocab) for w in words
            ]
            rows.append((1000 + i, " ".join(mutated)))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    sh = D.shingles(corpus, "text", 3)
    all_pairs = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.jaccard_pairs(sh, "doc_id", all_pairs)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert len(exact) >= 20  # corpus really contains ≥0.5-Jaccard pairs
    found = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups_portable(
            corpus, "text", "doc_id", threshold=0.5, target_recall=0.9
        ).collect()
    }
    assert found <= exact  # exact-Jaccard verify: no false positives
    recall = len(found & exact) / len(exact)
    assert recall >= 0.9, f"MinHash-LSH recall {recall:.3f} < 0.9"


def test_simhash_identical_texts_collide(spark):
    df = spark.createDataFrame(
        [(1, "spark query engine fast"), (2, "spark query engine fast"),
         (3, "completely different words here")],
        "doc_id long, text string",
    )
    fp = {
        r["doc_id"]: r["simhash64"]
        for r in D.simhash_portable(df, "text", "doc_id").collect()
    }
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_simhash_band_blocking_complete_vs_brute_force(spark, sf_dir):
    """Pigeonhole guarantee: with hamming_max+1 bands, band blocking
    finds EXACTLY the brute-force pair set at Hamming ≤ hamming_max —
    same-bucket equi joins lose nothing (Manku et al. WWW'07)."""
    from database_importer_spark.sources.loader import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = D.simhash_portable(docs, "text", "doc_id").cache()
    try:
        blocked = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in D.simhash_band_pairs(fp, "doc_id", hamming_max=3).collect()
        }
        a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash64").alias("ha"))
        b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash64").alias("hb"))
        brute = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                D.hamming64(F.col("ha"), F.col("hb")).alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
            .collect()
        }
        assert blocked == brute
        assert brute, "planted duplicates should collide at Hamming <= 3"
    finally:
        fp.unpersist()


# --- similarity -----------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from database_importer_spark.sources.loader import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_cosine_topk_shape(spark, emb):
    q = emb.filter(F.col("vec_id") < 3)
    out = S.cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["corpus_id"] != r["query_id"]
        assert -1.0001 <= r["cosine"] <= 1.0001
    for rows in by_q.values():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]


def test_cosine_topk_kernel_equals_fold(spark, emb):
    """The Arrow-batched numpy kernel must be row- AND bit-identical
    to the HOF-fold path: same ordered per-dim double accumulation,
    so cosines match exactly, not approximately."""
    q = emb.filter(F.col("vec_id") < 3)
    q_rows = [
        (r["vec_id"], r["embedding"])
        for r in q.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    fold = sorted(
        map(tuple, S.cosine_topk(emb, q, "vec_id", "embedding", k=5).collect())
    )
    kern = sorted(
        map(
            tuple,
            S.cosine_topk_kernel(emb, q_rows, "vec_id", "embedding", k=5).collect(),
        )
    )
    assert fold == kern  # exact equality incl. the cosine doubles


def test_lsh_topk_recall(spark, emb):
    """Bucketed ANN with few planes reaches decent recall of the
    exact top-5 (same-bucket probability for near vectors is high)."""
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in S.cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["corpus_id"])
        for r in S.lsh_topk(emb, q, "vec_id", "embedding", k=5, num_planes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3  # 2 planes → 4 buckets → ~25% chance baseline


def test_ivf_topk_recall(spark, emb):
    """IVF with 16 seed centroids, nprobe=2/16 lists probed, must
    still recover a meaningful share of the exact top-5 — and every
    returned pair must carry the exact cosine (the verify stage is
    brute force over candidates, so scores are never approximate)."""
    q = emb.filter(F.col("vec_id") < 5)
    cent = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r["query_id"], r["corpus_id"]): r["cosine"]
        for r in S.cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["corpus_id"]): r["cosine"]
        for r in S.ivf_topk(
            emb, q, cent, "vec_id", "embedding", k=5, nprobe=2
        ).collect()
    }
    hits = set(exact) & set(approx)
    recall = len(hits) / len(exact)
    assert recall >= 0.3, f"IVF recall {recall:.3f} < 0.3"
    for pair in hits:  # scores are exact, not approximated
        assert approx[pair] == exact[pair]


def test_embedding_blocked_pairs_recall_on_planted_dups(spark):
    """Round-2 gate: multi-table LSH blocking must recover ≥0.9 of
    the TRUE near-dup pairs (cosine ≥ 0.95) on a planted-duplicate
    corpus. r=8 planes, L=6 tables: p_pair = 1-(1-p^8)^6 with
    p = 1-θ/π ≈ 0.90 at cosine 0.95 → ≈0.96 theoretical recall.
    Fixed seeds everywhere — deterministic."""
    import math
    import random

    rng = random.Random(123)
    dim = 64
    base = []
    for i in range(80):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v))
        base.append((i, [x / nrm for x in v]))
    planted = []
    for j in range(40):  # jittered near-dups of the first 40
        i, v = base[j]
        # noise norm ≈ σ·√dim = 0.24 → cosine ≈ 1/√(1+0.24²) ≈ 0.97
        w = [x + rng.gauss(0.0, 0.03) for x in v]
        planted.append((1000 + i, w))
    df = spark.createDataFrame(base + planted, "vec_id long, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_cosine_pairs(df, "vec_id", "embedding", threshold=0.95)
        .collect()
    }
    assert len(exact) >= 20  # the corpus really contains near-dups
    blocked = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_blocked_pairs(df, "vec_id", "embedding", dim=dim)
        .filter(F.col("cosine") >= 0.95)
        .collect()
    }
    assert blocked <= exact  # exact-cosine verify: no false positives
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.9, f"LSH blocking recall {recall:.3f} < 0.9"


# --- one block-and-verify operator (source scan) --------------------

_SIMILARITY_SITES = {
    # site → the top-level functions or constants allowed one of it
    ".distinct()": {"block_and_verify"},
    "explode(": {"block_and_verify", "shingle_rows", "simhash_portable"},
    "aggregate(zip_with": {"DOT", "DIST2"},
}


def _similarity_sources() -> dict[str, str]:
    import os

    ops = os.path.dirname(D.__file__)
    out = {}
    for name in ("dedup.py", "similarity.py"):
        with open(os.path.join(ops, name)) as fh:
            out[name] = fh.read()
    return out


def _site_hits(node) -> list[str]:
    """The sites one AST node is: a ``.distinct()`` call, an
    ``explode`` call (``F.explode``; ``posexplode`` is another
    generator), or a string — docstrings aside — holding SQL
    ``explode(`` or an ``aggregate(zip_with`` fold."""
    import ast
    import re

    if isinstance(node, ast.Call):
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return {"distinct": [".distinct()"], "explode": ["explode("]}.get(name, [])
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        sql = re.search(r"(?<![a-z_])explode\(", node.value) is not None
        fold = "aggregate(zip_with" in node.value
        return ["explode("] * sql + ["aggregate(zip_with"] * fold
    return []


def _block_and_verify_violations(sources: dict[str, str]) -> list[str]:
    """Every candidate join of dedup.py and similarity.py is
    `block_and_verify`: the pair ``distinct`` and the block ``explode``
    live there (beside the shingle and token explodes), and the one
    dot and one distance fold are the module constants. Each allowed
    unit holds its site once."""
    import ast
    from collections import Counter

    out = []
    for rel, src in sorted(sources.items()):
        for stmt in ast.parse(src).body:
            if isinstance(stmt, ast.FunctionDef):
                unit = stmt.name
            elif isinstance(stmt, ast.Assign) and isinstance(stmt.targets[0], ast.Name):
                unit = stmt.targets[0].id
            else:
                continue
            docs = {
                id(n.value)
                for n in ast.walk(stmt)
                if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
            }
            hits = Counter(
                site
                for n in ast.walk(stmt)
                if id(n) not in docs
                for site in _site_hits(n)
            )
            for site, n in sorted(hits.items()):
                if unit not in _SIMILARITY_SITES[site] or n > 1:
                    out.append(f"{rel}: {unit}: {n} {site}")
    return out


def test_one_block_and_verify():
    assert _block_and_verify_violations(_similarity_sources()) == []


def test_block_and_verify_scan_flags_seeded_band_join():
    sources = _similarity_sources()
    band_join = (
        "\n\ndef band_self_join(df):\n"
        "    s = df.select('id', 'v', 'n', F.explode(F.array(\n"
        "        F.struct(F.lit(0).alias('t'), F.col('b0').alias('k')),\n"
        "        F.struct(F.lit(1).alias('t'), F.col('b1').alias('k')),\n"
        "    )).alias('tk')).select('id', 'v', 'n', 'tk.t', 'tk.k')\n"
        "    dot = F.expr('aggregate(zip_with(a.v, b.v, (x, y) -> x * y), '\n"
        "                 'cast(0.0 as double), (acc, x) -> acc + x)')\n"
        "    return (\n"
        "        s.alias('a').join(s.alias('b'), ['t', 'k'])\n"
        "        .select((dot / (F.col('a.n') * F.col('b.n'))).alias('cosine'))\n"
        "        .distinct()\n"
        "    )\n"
    )
    seeded = {
        **sources,
        "dedup.py": sources["dedup.py"] + band_join,
        "similarity.py": sources["similarity.py"]
        + "\n\ndef shingle_rows(df):\n"
        "    return df.selectExpr('explode(a)').selectExpr('explode(b)')\n",
    }
    assert _block_and_verify_violations(seeded) == [
        "dedup.py: band_self_join: 1 .distinct()",
        "dedup.py: band_self_join: 1 aggregate(zip_with",
        "dedup.py: band_self_join: 1 explode(",
        "similarity.py: shingle_rows: 2 explode(",
    ]


# --- multimodal -----------------------------------------------------


def test_multimodal_stub_features(spark, docs):
    media = M.synthesize_media(docs.limit(10), "doc_id", "text")
    feats = M.extract_features(media, use_stub=True)
    rows = feats.collect()
    assert len(rows) == 10
    joined = {r["media_id"]: r for r in rows}
    for r in media.collect():
        f = joined[r["media_id"]]
        assert f["n_bytes"] == len(bytes(r["payload"]))
        assert f["kind"] in ("image", "audio", "video")


def test_multimodal_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError, match="decode"):
        M.decode_real(b"\x00", "image")


def test_multimodal_resize_and_frame_sample(spark, docs):
    media = M.synthesize_media(docs.limit(30), "doc_id", "text")
    resized = M.resize_images(media, 224, 224)
    for r in resized.collect():
        assert r["kind"] == "image"
        assert r["meta"]["width"] == 224 and r["meta"]["height"] == 224
    frames = M.sample_frames(media, every_n=10).collect()
    vids = {r["media_id"]: r for r in media.filter("kind = 'video'").collect()}
    assert len(frames) == sum(
        len(range(0, v["meta"]["n_frames"], 10)) for v in vids.values()
    )
    for f in frames:
        assert f["media_id"] in vids
        assert len(bytes(f["frame_payload"])) == 32


def test_pack_sequences_invariants(spark, sf_dir):
    from database_importer_spark.operators.packing import pack_sequences
    from database_importer_spark.sources.loader import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    max_tokens = 1000
    packed = pack_sequences(docs, "doc_id", "n_chars", max_tokens).collect()
    n_docs = docs.count()
    # every doc packed exactly once
    assert len(packed) == n_docs
    assert len({r["doc_id"] for r in packed}) == n_docs
    # no bin over capacity (no oversized docs in this data) and
    # bin_fill consistent with membership
    sizes = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    by_bin = {}
    for r in packed:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for bin_id, rows in by_bin.items():
        total = sum(sizes[r["doc_id"]] for r in rows)
        assert total <= max_tokens
        assert all(r["bin_fill"] == total for r in rows)
    # packing actually packs: fewer bins than docs
    assert len(by_bin) < n_docs
    # deterministic across runs
    again = pack_sequences(docs, "doc_id", "n_chars", max_tokens).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, again))


def test_ffd_packs_no_worse_than_greedy_chunking(spark, sf_dir):
    """Cross-check the two packers on IDENTICAL per-bucket doc sets
    with IDENTICAL capacity-strict semantics (round-4 fix: the old
    version compared global FFD against 64-bucket next-fit whose bins
    may overshoot via straddling docs — not comparable). Both sides
    here use the same 64-way multiplicative-hash bucketing; the
    reference next-fit is computed in-test, capacity-strict, in
    doc_id order. Two assertions: the theorem-backed FFD bound
    (ffd ≤ 11/9·OPT + 1 ≤ 11/9·next_fit + 1, per bucket summed), and
    the empirical dominance ffd ≤ next_fit, which holds on this
    deterministic corpus (FFD has no per-instance dominance theorem
    over next-fit — anomalous instances exist — so the tight check
    documents the fixed input rather than claiming a law)."""
    from database_importer_spark.operators.packing import pack_sequences

    budget = 2048
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        "greatest(n_chars div 4, 1) AS n_tokens",
        "(doc_id * 2654435761) % 64 AS bkt",
    )
    rows = docs.collect()
    per_bucket: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        per_bucket.setdefault(r["bkt"], []).append((r["doc_id"], r["n_tokens"]))
    nf_bins = 0
    for items in per_bucket.values():
        items.sort()  # doc_id order, the next-fit stream order
        rem = -1
        for _, size in items:
            if size > rem:
                nf_bins += 1
                rem = max(budget - size, 0)
            else:
                rem -= size
    ffd = pack_sequences(
        docs, "doc_id", "n_tokens", budget, bucket_col="bkt"
    ).collect()
    ffd_bins = len({r["bin_id"] for r in ffd})
    assert ffd_bins <= (11 * nf_bins) // 9 + len(per_bucket), (ffd_bins, nf_bins)
    assert ffd_bins <= nf_bins, (ffd_bins, nf_bins)


def test_scd2_merge_branches(spark):
    from database_importer_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [
            # closed historical version of k=1
            (1, "a", 1.0, "2020-01-01", "2021-01-01", False),
            # open versions
            (1, "b", 2.0, "2021-01-01", None, True),   # will change
            (2, "x", 5.0, "2021-01-01", None, True),   # attrs identical in update
            (3, "y", 7.0, "2021-01-01", None, True),   # untouched by update
        ],
        "k int, attr string, val double, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "c", 3.0), (2, "x", 5.0), (9, "new", 9.0)],
        "k int, attr string, val double",
    )
    out = scd2_merge(
        dim, updates, keys=["k"], tracked=["attr", "val"], batch_time="2022-06-01"
    ).collect()
    rows = {(r["k"], r["attr"], r["is_current"]): r for r in out}
    assert len(out) == 6
    # history untouched
    assert (1, "a", False) in rows
    # changed key: old closed at batch time, new open version
    closed = rows[(1, "b", False)]
    assert closed["valid_to"] == "2022-06-01"
    opened = rows[(1, "c", True)]
    assert opened["valid_from"] == "2022-06-01" and opened["valid_to"] is None
    # identical attrs: carried forward open
    assert rows[(2, "x", True)]["valid_to"] is None
    # untouched key: carried forward open
    assert rows[(3, "y", True)]["valid_to"] is None
    # brand-new key: open version
    assert rows[(9, "new", True)]["valid_from"] == "2022-06-01"


def test_scd2_null_keys_and_null_flag_preserved(spark):
    """ADVICE r1: curr rows with NULL business key must be carried
    forward (not dropped), and NULL is_current rows must survive as
    history — row provenance no longer rides on key nullability."""
    from database_importer_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [
            (None, "nullkey", 1.0, "2021-01-01", None, True),   # NULL key, open
            (4, "nullflag", 4.0, "2020-01-01", "2021-01-01", None),  # NULL flag
            (1, "b", 2.0, "2021-01-01", None, True),
        ],
        "k int, attr string, val double, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame([(1, "c", 3.0)], "k int, attr string, val double")
    out = scd2_merge(
        dim, updates, keys=["k"], tracked=["attr", "val"], batch_time="2022-06-01"
    ).collect()
    rows = {(r["k"], r["attr"]): r for r in out}
    assert len(out) == 4  # nullkey carried + nullflag kept + closed b + opened c
    # NULL-key current row carried forward untouched
    assert rows[(None, "nullkey")]["valid_to"] is None
    # NULL is_current row preserved (treated as history)
    assert (4, "nullflag") in rows
    assert rows[(1, "b")]["is_current"] is False
    assert rows[(1, "c")]["is_current"] is True


def test_scd2_rejects_duplicate_update_keys(spark):
    from database_importer_spark.operators.scd2 import Scd2Error, scd2_merge

    dim = spark.createDataFrame(
        [(1, "b", 2.0, "2021-01-01", None, True)],
        "k int, attr string, val double, valid_from string, valid_to string, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "c", 3.0), (1, "d", 4.0)], "k int, attr string, val double"
    )
    with pytest.raises(Scd2Error, match="duplicate"):
        scd2_merge(
            dim, updates, keys=["k"], tracked=["attr", "val"], batch_time="2022-06-01"
        )


def test_global_row_number_matches_window_semantics(spark):
    """Two-phase distributed rank ≡ row_number() over a global window,
    including duplicate bucket keys straddling cutpoints, descending
    order, and fewer rows than buckets."""
    import random

    from pyspark.sql.window import Window

    from database_importer_spark.operators.ranking import (
        ntile_expr,
        with_global_row_number,
    )

    rng = random.Random(7)
    rows = [(i, rng.choice([1.0, 2.0, 2.0, 3.0, 5.0, 8.0])) for i in range(501)]
    df = spark.createDataFrame(rows, "id int, v double").repartition(13)

    got = {
        r["id"]: r["rn"]
        for r in with_global_row_number(
            df, [("v", True), ("id", False)], rank_col="rn", num_buckets=8
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("id"))
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want

    # ntile arithmetic ≡ engine ntile, n not dividing total
    ranked = with_global_row_number(
        df, [("v", False), ("id", False)], rank_col="rn", total_col="tot",
        num_buckets=8,
    )
    got_nt = {
        r["id"]: r["q"]
        for r in ranked.select("id", ntile_expr("rn", "tot", 7).alias("q")).collect()
    }
    w2 = Window.orderBy("v", "id")
    want_nt = {
        r["id"]: r["q"]
        for r in df.select("id", F.ntile(7).over(w2).alias("q")).collect()
    }
    assert got_nt == want_nt

    # tiny input: fewer rows than buckets / than tiles
    tiny = spark.createDataFrame([(1, 9.0), (2, 4.0)], "id int, v double")
    out = with_global_row_number(
        tiny, [("v", False), ("id", False)], rank_col="rn", total_col="tot",
        num_buckets=64,
    )
    rows2 = {r["id"]: (r["rn"], r["tot"]) for r in out.collect()}
    assert rows2 == {2: (1, 2), 1: (2, 2)}
    nt = {r["id"]: r["q"] for r in out.select(
        "id", ntile_expr("rn", "tot", 4).alias("q")).collect()}
    assert nt == {2: 1, 1: 2}


def test_connected_components_chain_and_clusters(spark):
    from database_importer_spark.operators.components import connected_components

    # chain 1-2-3-4 (diameter > 1), pair {10,11}, triangle {20,21,22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_flags_non_convergence(spark):
    import warnings as _warnings

    from database_importer_spark.operators.components import (
        ConvergenceWarning,
        connected_components,
    )

    # path graph 1-2-...-8: needs several rounds; max_rounds=1 cannot converge
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="max_rounds"):
        connected_components(edges, max_rounds=1, strict=True)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        connected_components(edges, max_rounds=1).collect()
    assert any(issubclass(w.category, ConvergenceWarning) for w in caught)


def test_gap_fill_deterministic_on_tied_timestamps(spark):
    """ADVICE r1: duplicate observation timestamps must fill
    deterministically (max value among ties carries, per the __v
    tiebreak) regardless of partitioning."""
    from database_importer_spark.operators.timeseries import gap_fill_ffill

    rows = [
        ("k1", "2024-01-01 00:00:00", 5.0),
        ("k1", "2024-01-01 00:00:00", 9.0),  # tie at t0
        ("k1", "2024-01-01 02:00:00", 1.0),
    ]
    ev = spark.createDataFrame(rows, "key string, ts string, value double").select(
        "key", F.to_timestamp("ts").alias("ts"), "value"
    )
    results = set()
    for n in (1, 7):
        out = gap_fill_ffill(ev.repartition(n), "key", "ts", "value").collect()
        results.add(tuple(sorted((str(r["grid_ts"]), r["filled_value"]) for r in out)))
    assert len(results) == 1
    filled = {str(r["grid_ts"]): r["filled_value"] for r in
              gap_fill_ffill(ev, "key", "ts", "value").collect()}
    assert filled["2024-01-01 00:00:00"] == 9.0  # max of tied obs
    assert filled["2024-01-01 01:00:00"] == 9.0  # carried forward
    assert filled["2024-01-01 02:00:00"] == 1.0


def test_kmeans_codebook_reduces_distortion_and_improves_ivf(spark, emb):
    """Lloyd monotonicity: trained codebook distortion <= seed-centroid
    distortion; and the trained codebook still drives ivf_topk to a
    valid exact-scored answer."""
    from database_importer_spark.operators.similarity import (
        ivf_topk,
        kmeans_codebook,
        quantization_distortion,
    )

    seed = kmeans_codebook(emb, "vec_id", "embedding", k=8, iters=0)
    trained = kmeans_codebook(emb, "vec_id", "embedding", k=8, iters=2)
    d0 = quantization_distortion(emb, seed, "vec_id", "embedding")
    d2 = quantization_distortion(emb, trained, "vec_id", "embedding")
    assert d2 <= d0 + 1e-9, (d0, d2)

    q = emb.filter(F.col("vec_id") < 3)
    cent = trained.select(
        F.col("cid").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    out = ivf_topk(emb, q, cent, "vec_id", "embedding", k=3, nprobe=2).collect()
    assert {r["query_id"] for r in out} == {0, 1, 2}
    for r in out:
        assert -1.0 <= r["cosine"] <= 1.0


def test_portable_band_digest_matches_duckdb(spark):
    """Cross-engine pin for the 60-bit band digest (r6): Spark's
    conv(substr(md5(s),1,15),16,10) must equal DuckDB's
    ('0x'||substr(md5(s),1,15))::BIGINT for band-value-shaped
    strings — the exactness of the LSH candidate set (including any
    digest collision) rests on this identity."""
    import duckdb

    samples = [
        "123_456_789_1023",
        "0_0_0_0",
        "1073741823_536870911_268435455_134217727",
        "",
        "7_7_7_7",
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "s string").select(
        "s",
        F.conv(F.md5("s").substr(1, 15), 16, 10).cast("bigint").alias("d"),
    )
    got = {r["s"]: r["d"] for r in sdf.collect()}
    con = duckdb.connect()
    for s in samples:
        (want,) = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()
        assert got[s] == want, (s, got[s], want)


def test_cosine_topk_kernel_zero_norm_raises_like_fold(spark):
    """ADVICE r6: a zero-norm vector makes cosine undefined. The SQL
    fold path raises DIVIDE_BY_ZERO under ANSI mode (Spark 4
    default); the kernel must surface a named error too — NOT
    silently emit NaN, which numpy would sort last while Spark/DuckDB
    windows rank NaN greatest under DESC (divergent top-k)."""
    rows = [(i, [float(i + d) for d in range(4)]) for i in range(1, 6)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # zero-norm corpus vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 1)
    q_rows = [
        (r["vec_id"], r["embedding"])
        for r in q.select("vec_id", "embedding").collect()
    ]
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.cosine_topk(df, q, "vec_id", "embedding", k=3).collect()
    with pytest.raises(Exception, match="zero-norm"):
        S.cosine_topk_kernel(df, q_rows, "vec_id", "embedding", k=3).collect()
    with pytest.raises(ValueError, match="zero-norm query"):
        S.cosine_topk_kernel(
            df, [(7, [0.0, 0.0, 0.0, 0.0])], "vec_id", "embedding", k=3
        )


def test_topk_prune_threshold_soundness(tmp_path):
    """The zone-map threshold is a lower bound on the true k-th
    largest value, across row-group boundaries and under ties at the
    boundary — so the >= filter can never drop a true top-k row.
    Exercises both the single-file and directory-of-parts layouts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_importer_spark.operators.pruning import (
        topk_prune_threshold,
    )

    rng = np.random.default_rng(7)
    vals = np.round(rng.uniform(0, 1000, 500), 2)
    vals[17] = vals[401] = vals[42] = 999.99  # ties near the top
    f = tmp_path / "vals.parquet"
    pq.write_table(pa.table({"x": vals}), f, row_group_size=37)

    for k in (1, 3, 10, 100, 500):
        thr = topk_prune_threshold(str(f), "x", k)
        assert thr is not None
        kth = np.sort(vals)[::-1][k - 1]
        assert thr <= kth
        assert (vals >= thr).sum() >= k

    # k greater than the row count: no sound threshold → None
    assert topk_prune_threshold(str(f), "x", 501) is None

    # directory-of-parts layout: same bound holds over the union
    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"x": vals[:250]}), d / "a.parquet",
                   row_group_size=37)
    pq.write_table(pa.table({"x": vals[250:]}), d / "b.parquet",
                   row_group_size=37)
    thr = topk_prune_threshold(str(d), "x", 10)
    kth = np.sort(vals)[::-1][9]
    assert thr is not None and thr <= kth


def test_pruned_topk_matches_unpruned(spark, sf_dir):
    """End-to-end: the pruned plan returns exactly the unpruned
    twin's rows (same oracle, same tiebreak)."""
    from database_importer_spark.plans import REGISTRY

    a = REGISTRY["limit_topk_global"].fn(spark, sf_dir).collect()
    b = REGISTRY["limit_topk_pruned"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pruned_topk_builder_io_is_memoized(spark, sf_dir, monkeypatch):
    """VERDICT r7 item 5: `limit_topk_pruned`'s builder-side pyarrow
    peek is a fenced exception to 'no driver-side work in plan
    builders' — the memo must confine it to the FIRST build per file
    fingerprint. Rebuilding the plan must perform ZERO file reads
    (pyarrow never constructed) and launch zero Spark jobs — the same
    audit the similarity-ingestion collect has."""
    import pyarrow.parquet as pq

    from database_importer_spark.plans import REGISTRY

    REGISTRY["limit_topk_pruned"].fn(spark, sf_dir)  # may read footers

    def boom(*a, **k):
        raise AssertionError("plan rebuild touched parquet footers")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    REGISTRY["limit_topk_pruned"].fn(spark, sf_dir)
    assert set(st.getJobIdsForGroup()) == before, "rebuild ran a job"


def test_footer_exact_max(tmp_path):
    """footer_exact_max: exact for integral columns across row groups
    and directory-of-parts; refuses non-integral types (truncated /
    NaN-polluted stats would be unsound)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_importer_spark.operators.pruning import footer_exact_max

    xs = list(range(0, 997, 7))  # max = 994, several row groups
    f = tmp_path / "ints.parquet"
    pq.write_table(pa.table({"x": xs, "s": [str(v) for v in xs],
                             "d": [float(v) for v in xs]}),
                   f, row_group_size=53)
    assert footer_exact_max(str(f), "x") == 994
    assert footer_exact_max(str(f), "s") is None  # strings: truncatable
    assert footer_exact_max(str(f), "d") is None  # floats: NaN risk
    assert footer_exact_max(str(f), "nope") is None

    d = tmp_path / "parts"
    d.mkdir()
    pq.write_table(pa.table({"x": xs[:70]}), d / "a.parquet")
    pq.write_table(pa.table({"x": xs[70:]}), d / "b.parquet")
    assert footer_exact_max(str(d), "x") == 994


def test_pruning_caches_are_bounded():
    """VERDICT r7 hygiene 3: fingerprint-keyed caches (the footer
    caches among them) must not grow for process lifetime — every
    cache.memo namespace, process- or session-owned, is FIFO-bounded
    at the one cap."""
    from database_importer_spark.cache import _CAP, memo

    class Owner:  # stands in for a live session: any weakref-able key
        pass

    owner = Owner()
    for c in (memo("bounded_probe"), memo("bounded_probe", owner)):
        for i in range(3 * _CAP):
            c[("k", i)] = i
        assert len(c) == _CAP
        assert ("k", 3 * _CAP - 1) in c  # newest kept
        assert ("k", 0) not in c  # oldest evicted
    memo("bounded_probe").clear()
