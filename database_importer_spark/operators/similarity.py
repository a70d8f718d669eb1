"""Similarity search over embedding columns (SURVEY.md §2 B.10):
brute-force cosine top-k (the exact baseline) and an LSH-bucketed
approximate variant (the scale path).

Embeddings are ``array<float>`` columns; all math is done in double
via SQL higher-order functions (transform / zip_with / aggregate) —
JVM-side, no Python boundary, deterministic IEEE arithmetic.

Scale design: brute force is O(|Q|·|N|) — fine when |Q| is small
(broadcast the queries) or as the verify step after blocking. The
hyperplane-LSH variant buckets vectors by the sign pattern of r
random projections; a query probes only its bucket (recall traded
for r). At 100 TB: partition by bucket, broadcast the (tiny) query
set, per-partition top-k then global top-k merge — no global sort.

Every candidate join of the LSH/IVF family — here and in dedup.py —
is one `block_and_verify`: stack (id, block) rows, equi-join on the
block, verify the pair exactly, keep what passes (index, filter,
refine).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
DIST2 = (
    "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)


def with_norm(df: DataFrame, vec_col: str, out: str = "v") -> DataFrame:
    """Project the float vector to double + attach its L2 norm."""
    return df.withColumn(
        out, F.expr(f"transform({vec_col}, x -> cast(x as double))")
    ).withColumn(
        f"{out}_norm",
        F.sqrt(F.expr(f"aggregate({out}, cast(0.0 as double), (acc, x) -> acc + x * x)")),
    )


def cosine(a: str, b: str) -> Column:
    """Cosine of two `with_norm` vectors: the DOT fold over the norms'
    product (both ``{a}_norm`` and ``{b}_norm`` must be in scope)."""
    return F.expr(DOT.format(a=a, b=b)) / (F.col(f"{a}_norm") * F.col(f"{b}_norm"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Each query's first k (query_id, corpus_id, cosine) rows by
    (cosine desc, corpus_id), with their 1-based rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def block_and_verify(
    left: DataFrame,
    id: str,
    blocks: list[Column],
    verify: list[Column] | None = None,
    keep: Column | None = None,
    right: DataFrame | None = None,
    right_id: str | None = None,
) -> DataFrame:
    """The filter-then-refine candidate join behind every LSH/IVF
    operator: rows that share a block are paired by an equi join, each
    pair is verified exactly, and only verified pairs are kept.

    ``blocks``: one Column per block (band, hash table, inverted list),
    evaluated on each side's row; block i of one row only meets block
    i of another. Several blocks stack each row once per block by ONE
    explode of an array of (index, key) structs, and the join is equi
    on (index, key); a pair sharing several blocks is emitted once by
    a ``distinct`` over the verified output. One block joins on the
    key itself: no explode, no distinct.

    ``right``: the other side and its id column ``right_id``; without
    it the join is a self-join and keeps ``id_a < id_b``. The sides
    are aliased ``a`` (left) and ``b`` (right), so ``verify`` (aliased
    Columns) can name a self-join's columns as ``a.x`` / ``b.x``.
    Callers put only narrow columns on each side (ids, fingerprints,
    normalized vectors): the join and the distinct shuffle what the
    sides carry, so a wide payload is joined back by id afterwards.

    Output: the two ids (``id_a``, ``id_b`` for a self-join, else
    ``id`` and ``right_id``), then the ``verify`` columns; ``keep`` is
    a predicate over this output row."""

    def stack(df: DataFrame) -> DataFrame:
        if len(blocks) == 1:
            return df.select("*", blocks[0].alias("__key"))
        structs = [
            F.struct(F.lit(i).alias("__blk"), b.alias("__key"))
            for i, b in enumerate(blocks)
        ]
        return (
            df.select("*", F.explode(F.array(*structs)).alias("__bk"))
            .select("*", "__bk.__blk", "__bk.__key")
            .drop("__bk")
        )

    a = stack(left).alias("a")
    b = (a if right is None else stack(right)).alias("b")
    on = F.col("a.__key") == F.col("b.__key")
    if len(blocks) > 1:
        on = on & (F.col("a.__blk") == F.col("b.__blk"))
    if right is None:
        on = on & (F.col(f"a.{id}") < F.col(f"b.{id}"))
        ids = [F.col(f"a.{id}").alias("id_a"), F.col(f"b.{id}").alias("id_b")]
    else:
        ids = [F.col(f"a.{id}").alias(id), F.col(f"b.{right_id}").alias(right_id)]
    out = a.join(b, on).select(*ids, *(verify or []))
    if keep is not None:
        out = out.filter(keep)
    return out.distinct() if len(blocks) > 1 else out


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    query_id_col: str | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding itself when ids collide). Queries are
    broadcast — the corpus never shuffles; per-group top-k via
    row_number with (cosine desc, id) tiebreak. The tests' exact
    reference for the LSH and IVF variants, so it keeps its own
    cross join rather than going through `block_and_verify`."""
    c = with_norm(corpus, vec_col, "cv").select(
        F.col(id_col).alias("corpus_id"), "cv", "cv_norm"
    )
    q = with_norm(queries, vec_col, "qv").select(
        F.col(query_id_col or id_col).alias("query_id"), "qv", "qv_norm"
    )
    scored = c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id")).select(
        "query_id", "corpus_id", cosine("qv", "cv").alias("cosine")
    )
    return _topk(scored, k)


def cosine_topk_kernel(
    corpus: DataFrame,
    query_rows: list,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Brute-force cosine top-k via an Arrow-batched numpy kernel —
    the dense-linear-algebra case where the vectorized Python path
    BEATS Catalyst expressions. The HOF fold evaluates ~3.5 µs per
    64-dim dot (CodegenFallback, per-element interpretation) and the
    fully-unrolled expression is a JIT bailout (see
    `llm_similarity_topk`);
    a numpy batch kernel does the same million dots in milliseconds.
    Measured sf10 (200k vectors x 5 queries): 3.5 s fold → ~0.4 s.

    ``query_rows``: the bounded query set as [(query_id, vector)]
    python pairs — query INGESTION, not data movement (an ANN service
    receives its queries as literals; collecting |Q| bounded rows is
    the analogue). The corpus never leaves the JVM except as Arrow
    batches of the single embedding column; scoring is map-only and
    partition-parallel, the only exchange is the final per-query
    top-k window over |Q| groups.

    Bit-equality with the SQL fold / DuckDB list_sum oracle: the
    kernel accumulates dot and norm PER DIMENSION IN ORDER across
    the whole batch (``acc += a[:,i] * q[i]``), reproducing the
    fold's left-associated double sum exactly (0.0 + x0 is exact),
    and divides in the same expression order — identical IEEE
    doubles, hash-matched at every tested sf."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qids = [int(r[0]) for r in query_rows]
    qmat = np.array([list(r[1]) for r in query_rows], dtype=np.float64)
    dim = qmat.shape[1]
    # ordered per-dim accumulation for the query norms too
    qacc = np.zeros(len(qids))
    for i in range(dim):
        qacc += qmat[:, i] * qmat[:, i]
    if np.any(qacc == 0.0):
        bad = [qids[i] for i in np.flatnonzero(qacc == 0.0)[:3]]
        raise ValueError(
            f"cosine_topk_kernel: zero-norm query vector(s), ids {bad} "
            "— cosine is undefined; filter them out"
        )
    qnorm = np.sqrt(qacc)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("corpus_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def part_topk(batches):
        # Per-BATCH partial top-k: any global top-k member is in its
        # own batch's top-k, so emitting ≤ |Q|·k rows per Arrow batch
        # is lossless — the final window then ranks a few dozen rows
        # instead of |corpus|·|Q| (a 1M-row explode+window measured
        # 2.4 s of the 3.9 s total before this).
        for pdf in batches:
            ids = pdf["__cid"].to_numpy()
            # vstack keeps the per-row float32 buffers C-side;
            # tolist() would detour 64 python floats per row
            a = np.vstack(pdf["__vec"].to_numpy()).astype(np.float64)
            n = a.shape[0]
            dots = np.zeros((n, len(qids)))
            nacc = np.zeros(n)
            for i in range(dim):
                ai = a[:, i]
                nacc += ai * ai
                dots += ai[:, None] * qmat[None, :, i]
            # Zero-norm corpus vector: the SQL fold path raises
            # DIVIDE_BY_ZERO under ANSI mode (Spark 4 default); the
            # kernel mirrors that with a named error instead of
            # silently emitting NaN, which numpy would then sort LAST
            # while Spark/DuckDB windows order NaN as greatest under
            # DESC (ADVICE r6 — divergent top-k).
            if np.any(nacc == 0.0):
                bad = ids[np.flatnonzero(nacc == 0.0)[:3]].tolist()
                raise ValueError(
                    "cosine_topk_kernel: zero-norm corpus vector(s), "
                    f"ids {bad} — cosine is undefined (the SQL fold "
                    "raises DIVIDE_BY_ZERO here); filter them out"
                )
            cos = dots / (qnorm[None, :] * np.sqrt(nacc)[:, None])
            rows = []
            for j, qid in enumerate(qids):
                cj = cos[:, j]
                idx = np.flatnonzero(ids != qid)
                # (cosine desc, corpus_id asc): lexsort's last key is
                # primary; zero norms were rejected above, so cj is
                # NaN-free and the negated key is totally ordered
                order = np.lexsort((ids[idx], -cj[idx]))[:k]
                for s in idx[order]:
                    rows.append((qid, int(ids[s]), float(cj[s])))
            yield pd.DataFrame(
                rows, columns=["query_id", "corpus_id", "cosine"]
            )

    part = corpus.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__vec")
    ).mapInPandas(part_topk, out_schema)
    return _topk(part, k)


def random_hyperplanes(dim: int, r: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side, tiny — r×dim
    floats broadcast as literals)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(r)]


def hyperplane_buckets(vec: str, tables: list[list[list[float]]]) -> Column:
    """LSH bucket ids of the array<double> column ``vec``, one per hash
    table: the sign pattern of the table's random projections, packed
    into a long (bit i set when projection i is ≥ 0). One higher-order
    expression over one nested array literal of every table's planes
    — no UDF, no shuffle, and a handful of py4j calls however many
    planes (a Column tree per plane cost ~1.1 s to build for 6×8).
    Each projection is the DOT fold, so the sign tests see the same
    doubles as the DuckDB twins' multiply-then-sum."""
    lit = "array(%s)" % ", ".join(
        "array(%s)"
        % ", ".join(
            "array(%s)" % ", ".join(f"{x!r}D" for x in plane) for plane in planes
        )
        for planes in tables
    )
    proj = DOT.format(a=vec, b="p")
    return F.expr(
        f"transform({lit}, t -> aggregate(transform(t, (p, i) -> "
        f"IF({proj} >= 0, shiftleft(1L, i), 0L)), 0L, (s, bit) -> s | bit))"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN: assign every corpus vector to its
    nearest centroid (the inverted lists), probe only the query's
    ``nprobe`` nearest lists, exact-cosine the candidates, top-k.

    ``centroids`` is a small DataFrame of (id, vector) — here seeded
    deterministically from the data (making the whole result
    exact-oracle checkable); in production it would be a k-means
    codebook, and nothing else changes.

    Scale shape (the point of IVF): the corpus never cross-joins
    anything. Assignment is corpus ⨝ broadcast(centroids) followed by
    a partial-agg argmax — the shuffle carries one (id, best) row per
    corpus row, no window over the fact. Probing is an equi join on
    centroid id (list membership), so candidate generation touches
    ~nprobe/K of the corpus per query. Argmax ties break to the
    LOWEST centroid id via max(struct(cosine, -cid)) — mirrored in
    the oracle's ORDER BY cosine DESC, cid."""
    c = with_norm(corpus, vec_col, "cv").select(
        F.col(id_col).alias("corpus_id"), "cv", "cv_norm"
    )
    cent = with_norm(centroids, vec_col, "ev").select(
        F.col(id_col).alias("cid"), "ev", "ev_norm"
    )
    q = with_norm(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), "qv", "qv_norm"
    )

    assigned = (
        c.join(F.broadcast(cent))
        .groupBy("corpus_id")
        .agg(
            F.max(
                F.struct(cosine("cv", "ev").alias("cos"), (-F.col("cid")).alias("ncid"))
            ).alias("m")
        )
        .select("corpus_id", (-F.col("m.ncid")).alias("cid"))
    )

    wq = Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("cid"))
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "cid", cosine("qv", "ev").alias("c_cos"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "cid")
    )

    cand = block_and_verify(
        assigned,
        "corpus_id",
        [F.col("cid")],
        keep=F.col("corpus_id") != F.col("query_id"),
        right=F.broadcast(probes),
        right_id="query_id",
    )
    scored = (
        cand.join(c, "corpus_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "corpus_id", cosine("qv", "cv").alias("cosine"))
    )
    return _topk(scored, k)


def kmeans_codebook(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Train an IVF coarse-quantizer codebook with Lloyd's algorithm,
    expressed as pure DataFrame ops (no MLlib dependency, no RDDs):
    seed centroids = the k lowest-id vectors (deterministic), then
    ``iters`` rounds of (1) assign every vector to its nearest
    centroid — broadcast join + partial-agg argmin, identical shape
    to ivf_topk's assignment, no window over the corpus — and
    (2) recompute centroids as per-list per-dimension means via
    posexplode + (cid, dim) aggregation, so the shuffle carries
    (cid, dim, partial sum, partial count) — never whole vectors.

    Each round is one job over the corpus; centroids (k×dim doubles)
    collect to the driver between rounds ONLY as the broadcast seed
    of the next round — the k×64-value codebook is metadata-sized, as
    in any IVF build. Returns (cid, centroid array<double>).
    Distortion is non-increasing per Lloyd round (monotonicity is
    pinned in tests); exactness of the final ANN answer is unaffected
    — candidates are still exact-cosine verified."""
    base = with_norm(corpus, vec_col, "v").select(
        F.col(id_col).alias("__vid"), "v"
    )
    w = Window.orderBy("__vid")
    cent = (
        base.orderBy("__vid")
        .limit(k)
        .withColumn("cid", F.row_number().over(w) - 1)
        .select("cid", F.col("v").alias("cv"))
    )
    dist2 = F.expr(DIST2)
    for _ in range(iters):
        assigned = (
            base.join(F.broadcast(cent))
            .groupBy("__vid")
            .agg(
                F.min(F.struct(dist2.alias("d"), F.col("cid").alias("cid"))).alias("m")
            )
            .select("__vid", F.col("m.cid").alias("cid"))
        )
        dims = (
            base.join(assigned, "__vid")
            .select("cid", F.posexplode("v").alias("dim", "x"))
            .groupBy("cid", "dim")
            # DECIMAL accumulation makes the per-dimension sum order-
            # independent (shuffle/merge order can't perturb the
            # centroid), so the trained codebook is bit-reproducible
            # across runs, partitionings, AND engines — what lets the
            # kmeans IVF query carry an exact oracle. Mean = exact
            # decimal sum cast to double, then one double division.
            .agg(
                F.sum(F.col("x").cast("decimal(25,10)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cent = (
            dims.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "dim",
                            (F.col("s").cast("double") / F.col("n")).alias("m"),
                        )
                    )
                ).alias("dm")
            )
            .select("cid", F.expr("transform(dm, e -> e.m)").alias("cv"))
        )
        cent = cent.localCheckpoint(eager=True)  # cut lineage per round
    return cent.select("cid", F.col("cv").alias("centroid"))


def quantization_distortion(
    corpus: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> float:
    """Mean squared distance of every vector to its nearest centroid
    — the quantity Lloyd minimizes; used to test convergence."""
    base = with_norm(corpus, vec_col, "v").select(F.col(id_col).alias("__vid"), "v")
    c = centroids.select("cid", F.col("centroid").alias("cv"))
    row = (
        base.join(F.broadcast(c))
        .groupBy("__vid")
        .agg(F.min(F.expr(DIST2)).alias("d"))
        .agg(F.avg("d").alias("mse"))
        .collect()[0]
    )
    return float(row["mse"])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket.
    Join is equi on bucket → hash join, no cross product. Recall is
    governed by num_planes (fewer planes → bigger buckets → higher
    recall, more compute)."""
    planes = [random_hyperplanes(dim, num_planes, seed)]

    # the block key is the one-table bucket array itself: equal arrays
    # are equal buckets, and unlike its (nullable) element the array is
    # never NULL, so no inferred IS NOT NULL filter re-evaluates the
    # projections below the join
    def side(df: DataFrame, v: str, name: str) -> DataFrame:
        return with_norm(df, vec_col, v).select(
            F.col(id_col).alias(name),
            v,
            f"{v}_norm",
            hyperplane_buckets(v, planes).alias("bucket"),
        )

    scored = block_and_verify(
        side(corpus, "cv", "corpus_id"),
        "corpus_id",
        [F.col("bucket")],
        verify=[cosine("qv", "cv").alias("cosine")],
        keep=F.col("corpus_id") != F.col("query_id"),
        right=F.broadcast(side(queries, "qv", "query_id")),
        right_id="query_id",
    )
    return _topk(scored, k)
