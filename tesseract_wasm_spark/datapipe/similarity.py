"""Similarity search over the embeddings table (array<float> column).

  - brute_force_topk: exact cosine top-k. The query side is tiny and
    broadcast; the corpus side streams through one whole-stage-codegen
    projection (zip_with dot product) — the correctness baseline.
  - cosine_pairs_blocked: all near-pairs within coarse blocks (here: label,
    standing in for an IVF cell id) — the IVF-style scale path: quadratic only
    within cells.
  - ivf_topk: two-stage IVF — assign every vector to its nearest centroid
    (vectorized pandas UDF, one matmul per batch), then search only the
    query's nprobe nearest cells.
  - cosine_pairs_tiled: the same pairs as cosine_pairs_blocked from a
    vectorized verify kernel: every in-block pair verified once, in tiles
    of at most EXACT_TILE vectors, so one pandas group never exceeds
    2 * EXACT_TILE vectors and no task sorts a whole block.
  - srp_signatures / srp_multi_signatures: signed-random-projection
    buckets (one table / many tables) from one numpy kernel; srp_near_pairs
    is cosine_pairs_blocked with the SRP bucket as the block.
At 100 TB the centroid table stays broadcast-sized (k <= 2^16) and the probe
join is a bucket join on cell_id — no all-pairs shuffle anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a, b):
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 4)


def _seq_dots(mat: np.ndarray, other: np.ndarray) -> np.ndarray:
    """[B, Q] matrix of dot products between every row of ``mat`` and every
    row of ``other`` with SEQUENTIAL per-dimension accumulation — the exact
    left-fold order of the JVM ``_dot`` expression (aggregate over zip_with),
    so results are bit-identical to the relational formulation. Never a BLAS
    matmul, whose blocked/SIMD accumulation order would differ in the last
    ulp and could flip a round(x, 4) boundary. Column-tiled so the
    accumulator tile stays cache-resident across the dimension loop (each
    element's k-order is unchanged — bit-identical, ~2x faster than the
    full-width passes; r06)."""
    n, d = mat.shape
    m = other.shape[0]
    acc = np.empty((n, m), dtype=np.float64)
    o_t = np.ascontiguousarray(other.T)  # [d, m]: contiguous per-k rows
    tile = 128
    for j0 in range(0, m, tile):
        j1 = min(j0 + tile, m)
        t = np.zeros((n, j1 - j0), dtype=np.float64)
        for k in range(d):
            t += mat[:, k, None] * o_t[k, j0:j1][None, :]
        acc[:, j0:j1] = t
    return acc


def _seq_norms(mat: np.ndarray) -> np.ndarray:
    """Per-row Euclidean norms with the same sequential fold order as the JVM
    ``_norm`` expression (sqrt of left-fold of squares); bit-identical."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for k in range(mat.shape[1]):
        c = mat[:, k]
        acc += c * c
    return np.sqrt(acc)


def brute_force_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact cosine top-k: the k query vectors are collected driver-side
    (bounded — same contract as ivf_topk) and scored against the corpus in
    one vectorized pass per Arrow batch; rank per query with a deterministic
    tie-break.

    r06 optimization (guide §4.2): the previous BroadcastNestedLoopJoin
    evaluated the interpreted higher-order cosine expression (CodegenFallback)
    per (query, corpus) row — and over a single-file local read it all ran in
    ONE task. The kernel computes the same dots with sequential-order numpy
    accumulation (bit-identical; see _seq_dots) spread across partitions."""
    q_rows = sorted(
        embeddings.filter(F.col("vec_id").isin(query_ids))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not q_rows:
        empty = embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
        return empty
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qmat = np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)
    qnorm = _seq_norms(qmat)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cids = pdf["vec_id"].to_numpy()
            # dot(q, c) with q as the zip_with LEFT side: products q[k]*c[k]
            # (float multiply is commutative bitwise, so c[k]*q[k] is equal)
            # a zero vector's cosine is 0/0 = NaN, which leaves the UDF as
            # NULL and ranks last; silence the warning, not the value
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _seq_dots(mat, qmat) / (qnorm[None, :] * _seq_norms(mat)[:, None])
            ci, qi = np.nonzero(cids[:, None] != qids[None, :])
            yield pd.DataFrame(
                {"query_id": qids[qi], "neighbor_id": cids[ci], "cosine": cos[ci, qi]}
            )

    from tesseract_wasm_spark.datapipe.dedup import _spread  # noqa: PLC0415

    scored = _spread(embeddings.select("vec_id", "embedding")).mapInPandas(
        run, schema="query_id long, neighbor_id long, cosine double"
    ).select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_pairs_blocked(embeddings: DataFrame, *, threshold: float = 0.8,
                         block_col: str = "label") -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse blocks (IVF-cell
    analog): quadratic only inside each block."""
    e = embeddings.select("vec_id", "embedding", block_col)
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine_expr(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def assign_ivf_cells(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Nearest-centroid assignment, one numpy matmul per Arrow batch."""
    cent = centroids.astype(np.float64)
    cent_norm = np.linalg.norm(cent, axis=1) + 1e-12

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1) + 1e-12
            sims = (mat @ cent.T) / norms[:, None] / cent_norm[None, :]
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell_id": sims.argmax(axis=1).astype(np.int32)}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, cell_id int"
    )


def deterministic_centroids(embeddings: DataFrame, k: int) -> np.ndarray:
    """Centroids = the k lowest-vec_id vectors (deterministic, no kmeans
    iterations — the oracle-stable choice the ann_ivf registry entry pins)."""
    rows = embeddings.orderBy("vec_id").limit(k).collect()
    return np.array([list(r["embedding"]) for r in rows], dtype=np.float64)


def _srp_buckets(n_bits: int, n_tables: int, seed: int):
    """The SRP kernel: ``buckets(mat)`` is the int64 [B, n_tables] matrix of
    sign(mat @ R) packed ``n_bits`` to a table, from ONE matmul per batch
    against planes R drawn once per (seed, dim)."""
    planes_by_dim: dict[int, np.ndarray] = {}

    def buckets(mat: np.ndarray) -> np.ndarray:
        dim = mat.shape[1]
        if dim not in planes_by_dim:
            planes_by_dim[dim] = np.random.default_rng(seed).normal(
                size=(dim, n_tables * n_bits)
            )
        bits = (mat @ planes_by_dim[dim]) > 0
        bits3 = bits.reshape(len(mat), n_tables, n_bits).astype(np.int64)
        return (bits3 << np.arange(n_bits, dtype=np.int64)).sum(axis=2)

    return buckets


def srp_signatures(embeddings: DataFrame, *, n_bits: int = 16, seed: int = 9) -> DataFrame:
    """Signed-random-projection LSH: sign(R @ v) packed into an int bucket.
    Vectors with high cosine land in the same bucket with probability
    (1 - theta/pi)^n_bits; one numpy matmul per Arrow batch."""
    buckets = _srp_buckets(n_bits, 1, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mat = _stack(pdf)
            yield pd.DataFrame({"vec_id": ids, "bucket": buckets(mat)[:, 0]})

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, bucket long"
    )


def srp_near_pairs(embeddings: DataFrame, *, n_bits: int = 12, threshold: float = 0.25,
                   seed: int = 9) -> DataFrame:
    """LSH-bucketed near-pair search: cosine_pairs_blocked with the SRP
    bucket as the block, so candidates share a bucket and the exact cosine
    verifies. The scale path when no IVF/label blocking exists: quadratic
    only within buckets (expected bucket size = n / 2^n_bits)."""
    sigs = srp_signatures(embeddings, n_bits=n_bits, seed=seed)
    return cosine_pairs_blocked(
        embeddings.join(sigs, "vec_id"), threshold=threshold, block_col="bucket"
    )


def srp_multi_signatures(embeddings: DataFrame, *, n_bits: int = 3, n_tables: int = 64,
                         seed: int = 9, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Multi-table SRP signatures: ``n_tables`` independent sign-random-
    projection buckets of ``n_bits`` each, computed in ONE numpy matmul per
    Arrow batch ([B, dim] @ [dim, n_tables*n_bits]). Many narrow tables trade
    candidate volume for recall: a pair at angle theta collides in >=1 table
    with probability 1-(1-(1-theta/pi)^n_bits)^n_tables, so low-cosine
    thresholds use small n_bits / large n_tables and near-dup thresholds the
    reverse. ``carry_cols`` pass through (e.g. the block column)."""
    buckets = _srp_buckets(n_bits, n_tables, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, mat = _stack(pdf)
            out = {"vec_id": ids, "buckets": list(buckets(mat))}
            for c in carry_cols:
                out[c] = pdf[c].to_numpy()
            yield pd.DataFrame(out)

    from tesseract_wasm_spark.datapipe.dedup import _spread  # noqa: PLC0415

    types = {f.name: f.dataType.simpleString() for f in embeddings.schema.fields}
    carry_ddl = "".join(f", {c} {types[c]}" for c in carry_cols)
    sel = ["vec_id", "embedding"] + [c for c in carry_cols
                                     if c not in ("vec_id", "embedding")]
    return _spread(embeddings.select(*sel)).mapInPandas(
        run, schema=f"vec_id long, buckets array<long>{carry_ddl}"
    )


#: vectors per tile of cosine_pairs_tiled (by ``vec_id`` rank inside the
#: block): one pandas group holds one tile or a pair of tiles, so at most
#: 2 * EXACT_TILE vectors (~1 MB of 64-d float64, an 8 MB cosine tile)
#: however large the block is. It is also the width of the ``vec_id``
#: ranges the rank is computed in, so no rank window holds more than
#: EXACT_TILE rows of a block either (ids unique within the block).
EXACT_TILE = 1024


def _near_pairs(ids_a: np.ndarray, mat_a: np.ndarray, ids_b: np.ndarray,
                mat_b: np.ndarray, pre: float) -> pd.DataFrame:
    """(vec_a, vec_b, cosine) for every row pair with id_a < id_b and a raw
    cosine >= ``pre``, from the bit-identical _seq_norms/_seq_dots kernel.
    A zero vector's cosine is NaN and fails the >= test, so no pair with it
    is ever emitted."""
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = _seq_dots(mat_a, mat_b) / (
            _seq_norms(mat_a)[:, None] * _seq_norms(mat_b)[None, :]
        )
        ii, jj = np.nonzero((cos >= pre) & (ids_a[:, None] < ids_b[None, :]))
    return pd.DataFrame({"vec_a": ids_a[ii], "vec_b": ids_b[jj], "cosine": cos[ii, jj]})


def _stack(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float64 matrix) of a non-empty (vec_id, embedding) frame."""
    return pdf["vec_id"].to_numpy(), np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


def _tile_pairs(embeddings: DataFrame, block_col: str = "label") -> DataFrame:
    """Each (vec_id, embedding, block) row once per tile of its block, keyed
    by the tile pair ``(_ta <= _tb)`` it belongs to: tiles hold at most
    EXACT_TILE vectors by ``vec_id`` rank inside the block (``_tile``), so
    every in-block pair meets in exactly one ``(block, _ta, _tb)`` group of
    at most 2 * EXACT_TILE rows.

    The rank is a two-level prefix count (as packing.pack_sequences), so no
    task sorts or buffers a whole block: ids are cut into ranges of
    EXACT_TILE ids (``_r``), the rows are hash-partitioned by
    (block, range) and ranked by one window per (block, range), and the
    only per-block window runs over the per-range counts, one narrow row
    per non-empty range. Rows whose id or block is NULL are left out, as
    the ``a.block = b.block AND a.vec_id < b.vec_id`` join drops them; so
    are NULL embeddings, whose cosine is NULL."""
    rows = embeddings.filter(
        F.col("vec_id").isNotNull() & F.col(block_col).isNotNull()
        & F.col("embedding").isNotNull()
    ).select(
        "vec_id", "embedding", block_col,
        F.floor(F.col("vec_id") / EXACT_TILE).alias("_r"),
    )
    wb = Window.partitionBy(block_col).orderBy("_r")
    counts = rows.groupBy(block_col, "_r").agg(F.count(F.lit(1)).alias("_n"))
    ranges = counts.select(
        block_col, "_r",
        (F.sum("_n").over(wb) - F.col("_n")).alias("_before"),
        F.sum("_n").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_size"),
    )
    rank = F.col("_before") + F.row_number().over(
        Window.partitionBy(block_col, "_r").orderBy("vec_id")
    ) - 1
    # every (block, range) of rows is in ranges, so a left join is the inner
    # join; unlike it, it can never broadcast the rows and stream ranges,
    # whose by-block partitioning would satisfy the rank window and put a
    # whole block back in one task
    tiled = rows.repartition(block_col, "_r").join(
        ranges, [block_col, "_r"], "left"
    ).select(
        "vec_id", "embedding", block_col,
        F.floor(rank / EXACT_TILE).alias("_tile"),
        F.floor((F.col("_size") - 1) / EXACT_TILE).alias("_last"),
    )
    other = F.explode(F.sequence(F.lit(0).cast("long"), F.col("_last")))
    return tiled.select("vec_id", "embedding", block_col, "_tile", other.alias("_u")).select(
        "vec_id", "embedding", block_col, "_tile",
        F.least("_tile", "_u").alias("_ta"), F.greatest("_tile", "_u").alias("_tb"),
    )


def cosine_pairs_tiled(embeddings: DataFrame, *, threshold: float = 0.25,
                       block_col: str = "label") -> DataFrame:
    """All in-block pairs (``vec_a < vec_b``, same ``block_col``) with
    ``round(cosine, 4) >= threshold``: the pairs of cosine_pairs_blocked,
    with cosines bit-identical to the JVM ``cosine_expr``, from the
    vectorized verify kernel.

    Each block is cut into tiles of at most EXACT_TILE vectors by
    ``vec_id`` rank (_tile_pairs), every row is replicated once per tile of
    its block, and each ``(block, tile_a <= tile_b)`` group verifies its
    cross-tile pairs (all pairs on the diagonal) exactly once with
    _seq_norms/_seq_dots: no ``dropDuplicates``, and one pandas group holds
    at most 2 * EXACT_TILE vectors however large or few the blocks are.
    Raw cosines >= threshold - 1e-4 leave the kernel and the authoritative
    ``round(..., 4) >= threshold`` runs in the JVM.

    Multi-table SRP banding (srp_multi_signatures) does not pay here: with
    the 3 bits x 64 tables that a 0.25 threshold needs for recall, an
    orthogonal pair still collides in some table with p = 1 - (7/8)^64 =
    0.998, so the buckets would prune nothing while shuffling every vector
    64 times and paying one pandas call per (table, bucket, block) group.

    A zero vector has no cosine (0/0 = NaN) and is in no pair (the JVM
    kernel, where NaN compares above every double, would keep it)."""
    pre = threshold - 1e-4  # round(x,4) can raise x by at most 5e-5 + ulps

    def verify(key, pdf):
        _, ta, tb = key
        tile = pdf["_tile"].to_numpy()
        ids_a, mat_a = _stack(pdf[tile == ta])
        ids_b, mat_b = (ids_a, mat_a) if ta == tb else _stack(pdf[tile == tb])
        return _near_pairs(ids_a, mat_a, ids_b, mat_b, pre)

    return (
        _tile_pairs(embeddings, block_col)
        .groupBy(block_col, "_ta", "_tb")
        .applyInPandas(verify, schema="vec_a long, vec_b long, cosine double")
        .select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_topk(embeddings: DataFrame, query_ids: list[int], *, k: int = 5,
             n_cells: int = 16, nprobe: int = 4) -> DataFrame:
    """IVF approximate top-k: search only the nprobe cells nearest each query,
    over the oracle-stable ``deterministic_centroids`` cells. Returns the
    same schema as brute_force_topk (recall < 1 by construction)."""
    cents = deterministic_centroids(embeddings, n_cells)
    cells = assign_ivf_cells(embeddings, cents)
    corpus = embeddings.join(cells, "vec_id")

    q_rows = embeddings.filter(F.col("vec_id").isin(query_ids)).collect()
    probe_rows = []
    cent_norm = np.linalg.norm(cents, axis=1) + 1e-12
    for r in q_rows:
        v = np.array(list(r["embedding"]), dtype=np.float64)
        sims = (cents @ v) / (np.linalg.norm(v) + 1e-12) / cent_norm
        for c in np.argsort(-sims)[:nprobe]:
            probe_rows.append((int(r["vec_id"]), int(c), list(r["embedding"])))
    spark = embeddings.sparkSession
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell_id int, q_emb array<float>"
    )
    joined = (
        corpus.alias("c")
        .join(F.broadcast(probes), "cell_id")
        .filter(F.col("query_id") != F.col("c.vec_id"))
        .select(
            "query_id",
            F.col("c.vec_id").alias("neighbor_id"),
            cosine_expr(F.col("q_emb"), F.col("c.embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
