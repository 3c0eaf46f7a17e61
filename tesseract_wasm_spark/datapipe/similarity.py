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
    iterations — the oracle-stable choice the driver entry pins; use
    kmeans_centroids for real cells at scale)."""
    rows = embeddings.orderBy("vec_id").limit(k).collect()
    return np.array([list(r["embedding"]) for r in rows], dtype=np.float64)


def kmeans_centroids(embeddings: DataFrame, k: int, *, seed: int = 13,
                     max_iter: int = 20) -> np.ndarray:
    """Real IVF training: Spark MLlib k-means (the kmeans|| initializer —
    distributed, one pass per iteration, centroids stay driver-sized). The
    returned array drops into assign_ivf_cells/ivf_topk exactly like the
    deterministic plumbing centroids."""
    from pyspark.ml.clustering import KMeans  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector  # noqa: PLC0415

    feats = embeddings.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter, initMode="k-means||").fit(feats)
    return np.array([np.asarray(c) for c in model.clusterCenters()], dtype=np.float64)


def srp_signatures(embeddings: DataFrame, *, n_bits: int = 16, seed: int = 9) -> DataFrame:
    """Signed-random-projection LSH: sign(R @ v) packed into an int bucket.
    Vectors with high cosine land in the same bucket with probability
    (1 - theta/pi)^n_bits; one numpy matmul per Arrow batch."""
    planes_by_dim: dict[int, np.ndarray] = {}  # deterministic per (seed, dim)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dim = mat.shape[1]
            if dim not in planes_by_dim:
                planes_by_dim[dim] = np.random.default_rng(seed).normal(size=(dim, n_bits))
            bits = (mat @ planes_by_dim[dim]) > 0
            sig = (bits.astype(np.int64) << np.arange(n_bits, dtype=np.int64)).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "bucket": sig})

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, bucket long"
    )


def srp_near_pairs(embeddings: DataFrame, *, n_bits: int = 12, threshold: float = 0.25,
                   seed: int = 9) -> DataFrame:
    """LSH-bucketed near-pair search: candidates share an SRP bucket, then the
    exact cosine verifies. The scale path when no IVF/label blocking exists:
    quadratic only within buckets (expected bucket size = n / 2^n_bits)."""
    sigs = srp_signatures(embeddings, n_bits=n_bits, seed=seed)
    e = embeddings.join(sigs, "vec_id").select("vec_id", "embedding", "bucket")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine_expr(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
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
    planes_by_dim: dict[int, np.ndarray] = {}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dim = mat.shape[1]
            if dim not in planes_by_dim:
                planes_by_dim[dim] = np.random.default_rng(seed).normal(
                    size=(dim, n_tables * n_bits)
                )
            bits = (mat @ planes_by_dim[dim]) > 0
            bits3 = bits.reshape(len(pdf), n_tables, n_bits).astype(np.int64)
            buckets = (bits3 << np.arange(n_bits, dtype=np.int64)).sum(axis=2)
            out = {"vec_id": pdf["vec_id"].to_numpy(), "buckets": list(buckets)}
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


def srp_blocked_near_pairs(embeddings: DataFrame, *, threshold: float = 0.25,
                           n_bits: int = 3, n_tables: int = 64, seed: int = 9,
                           block_col: str = "label",
                           max_bucket: int | None = None) -> DataFrame:
    """Bucketed replacement for the quadratic-within-block kernel: candidates
    come from an EQUI-JOIN on (table_id, bucket, block), then the exact cosine
    verifies — precision is exact by construction, recall is set by
    (n_bits, n_tables) (tests pin recall 1.0 vs cosine_pairs_blocked on the
    corpus). At scale the join key is uniform-ish (2^n_bits buckets x tables
    x blocks) so no label-block ever goes near-cartesian.

    ``max_bucket`` defaults to None HERE (unlike the minhash/simhash paths):
    with 2^n_bits buckets per table, bucket size is ~n/(2^n_bits·blocks) by
    construction, so a size cap would silently cut recall on any large
    corpus — the scale lever for SRP is raising n_bits (more, smaller
    buckets), not dropping full ones. The knob exists for adversarial
    inputs (e.g. a corpus of near-identical vectors)."""
    sigs = srp_multi_signatures(
        embeddings, n_bits=n_bits, n_tables=n_tables, seed=seed,
        carry_cols=(block_col, "embedding"),
    )
    banded = sigs.select(
        "vec_id", block_col, "embedding",
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    # r06 optimization (guide §2.3/§4.2, measured in OPTIMIZATION_r06.md):
    # the previous shape expanded every bucket's pairs with interpreted
    # higher-order array expressions, shuffled the ~T-fold-duplicated
    # candidate stream (a pair collides in ~T of the T tables at these
    # parameters) through dropDuplicates, joined the embeddings back per
    # candidate (pair_count * 2 * dim bytes), and then evaluated the
    # interpreted cosine TWICE per pair (join condition + project). Instead:
    # verify INSIDE each bucket group with a vectorized kernel — embeddings
    # ride the banding shuffle once per table (n_tables * corpus bytes,
    # independent of pair count), every pair's cosine is one numpy
    # fused-multiply-add chain with the exact JVM fold order (_seq_dots:
    # bit-identical), and only pairs that can pass the threshold cross back
    # into the JVM, where the authoritative round(...,4) filter and the
    # (now tiny, output-sized) distinct run. The candidate SET is unchanged:
    # same buckets, same pairs, same drop policy for oversized buckets.
    pre = threshold - 1e-4  # round(x,4) can raise x by at most 5e-5 + ulps

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        nrows = len(pdf)
        empty = pd.DataFrame(
            {"vec_a": np.empty(0, np.int64), "vec_b": np.empty(0, np.int64),
             "cosine": np.empty(0, np.float64)}
        )
        if nrows < 2 or (max_bucket is not None and nrows > max_bucket):
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        norms = _seq_norms(mat)
        out = []
        # row-chunked upper-triangle sweep bounds memory on degenerate buckets
        chunk = max(1, (4 << 20) // nrows)
        for i0 in range(0, nrows - 1, chunk):
            i1 = min(i0 + chunk, nrows)
            # a zero vector's cosine is NaN and fails the >= test, so no
            # pair with it is ever emitted
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _seq_dots(mat[i0:i1], mat) / (
                    norms[i0:i1, None] * norms[None, :]
                )
                ii, jj = np.nonzero(cos >= pre)
            keep = (ii + i0) < jj
            ii, jj = ii[keep], jj[keep]
            if ii.size:
                out.append((ids[ii + i0], ids[jj], cos[ii, jj]))
        if not out:
            return empty
        return pd.DataFrame(
            {"vec_a": np.concatenate([o[0] for o in out]),
             "vec_b": np.concatenate([o[1] for o in out]),
             "cosine": np.concatenate([o[2] for o in out])}
        )

    verified = banded.groupBy("table_id", "bucket", block_col).applyInPandas(
        verify, schema="vec_a long, vec_b long, cosine double"
    )
    return (
        verified.select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["vec_a", "vec_b"])
    )


def ivf_topk(embeddings: DataFrame, query_ids: list[int], *, k: int = 5,
             n_cells: int = 16, nprobe: int = 4,
             centroids: str = "deterministic") -> DataFrame:
    """IVF approximate top-k: search only the nprobe cells nearest each query.
    Returns the same schema as brute_force_topk (recall < 1 by construction).
    ``centroids``: 'deterministic' (oracle-stable plumbing cells) or 'kmeans'
    (MLlib kmeans|| — the real cell layout at scale)."""
    if centroids == "kmeans":
        cents = kmeans_centroids(embeddings, n_cells)
    else:
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
