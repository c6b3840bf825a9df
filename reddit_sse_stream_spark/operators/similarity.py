"""Similarity search over an embedding column (``array<float>``).

Baseline: brute-force cosine top-k — a broadcast of the (tiny) query vector
against a fully-parallel per-row dot product; at 100 TB this is a single
scan with no shuffle except the final top-k (rdd-free ``orderBy(...).limit(k)``
which Spark executes as TakeOrderedAndProject — partial top-k per partition,
only k rows per partition reach the driver-side merge).

Scale path: LSH bucketing (random-hyperplane signs) so candidate pairs join
on a bucket key — the same join-shape trick as minhash-LSH dedup; and an
IVF-style coarse quantizer (assign to nearest of C centroids, search only
matching cells).

Vector-math policy: single-query scoring (top-k against one vector) uses
built-in higher-order functions (``zip_with`` / ``aggregate``) — fine at
one dot product per row. Pair-scale scoring (near-dup candidate
verification, all-pairs baselines) goes through ONE Arrow ``mapInPandas``
numpy kernel instead: Spark's array HOFs are CodegenFallback (interpreted),
which dominates wall-clock beyond ~10^4 evaluations, while the Arrow kernel
does a whole batch per matmul.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators import dedup
from reddit_sse_stream_spark.operators.sqlrender import sql_double_array


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector.

    The query is inlined as a literal array (it would be a broadcast var on
    a cluster — either way it never shuffles); TakeOrderedAndProject keeps
    the top-k distributed until the final k-row merge.
    """
    q = F.expr(sql_double_array(query_vec))  # r15: see sqlrender.py
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.col(id_col)).limit(k)


def random_hyperplane_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH scale path: sign-pattern bucket id per 64-dim vector
    (random-hyperplane cosine LSH). Deterministic pseudo-random planes from
    an i-indexed LCG (plane family 0, the first LSH table's) so tests are
    reproducible without RNG in the plan."""
    planes = _lcg_planes(n_planes, 64)
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        parr = F.expr(sql_double_array(p))  # r15: see sqlrender.py
        bit = F.when(dot(v, parr) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + F.shiftleft(bit, i)
    return emb.select(F.col(id_col), bucket.alias("bucket"))


def lsh_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: search only the query's LSH bucket (single-probe).
    At scale the bucket column is a partition/cluster key, so this prunes
    the scan itself, not just the compute.

    Corpus bucketing runs in the Arrow matmul kernel
    (:func:`hyperplane_buckets_arrow`, bucket-identical to
    :func:`random_hyperplane_buckets` — pinned in tests); the interpreted
    per-plane HOF version cost ~8x64 CodegenFallback evaluations per row.
    The single query vector's bucket is plain numpy on the driver — it
    would be a broadcast literal on a cluster either way."""
    import numpy as np

    dim = len(query_vec)
    planes = np.array(_lcg_planes(n_planes, dim, seed=0))
    q = np.asarray(query_vec, dtype=np.float64)
    q_bucket = int(((q @ planes.T >= 0) * (1 << np.arange(n_planes))).sum())
    buckets = hyperplane_buckets_arrow(emb, n_planes, 1, id_col, vec_col, dim)
    cand = emb.join(
        buckets.filter(F.col("bucket") == q_bucket).select(id_col),
        id_col,
        "left_semi",
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


#: cosine_pairs_exact refuses inputs above this without allow_quadratic=True
ALL_PAIRS_ROW_BOUND = 10_000


def cosine_pairs_exact(
    emb: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: every (a, b) with a.id < b.id
    and cosine(a, b) > threshold.

    This is the O(n^2) correctness baseline (BroadcastNestedLoopJoin when one
    side fits in memory) — call it on a pre-filtered subset or a single LSH
    bucket. The 100 TB path is :func:`near_dup_pairs_lsh`, which turns the
    quadratic comparison into an equi-join on bucket keys. Scoring runs in
    the shared Arrow kernel (:func:`score_pairs_arrow`).

    ``cos_sim`` is floored at 1e-4 (not round()): floor on the scaled double
    is the same IEEE operation everywhere, while round() diverges on exact
    .xxxx5 boundaries (BigDecimal shortest-repr vs binary rounding).
    """
    if not allow_quadratic:
        # A full table through an O(n^2) baseline is a cartesian product a
        # user should opt into explicitly, not hit by accident.
        n = emb.limit(ALL_PAIRS_ROW_BOUND + 1).count()
        if n > ALL_PAIRS_ROW_BOUND:
            raise ValueError(
                f"cosine_pairs_exact is the O(n^2) correctness baseline and "
                f"got > {ALL_PAIRS_ROW_BOUND} input rows; use "
                "near_dup_pairs_lsh (bucketed, scale path) or pass "
                "allow_quadratic=True for a deliberate subsample run"
            )
    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    b = emb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return score_pairs_arrow(a.join(b, F.col("id_a") < F.col("id_b")), threshold)


def _lcg_planes(n_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """The deterministic plane family shared by the JVM and Arrow bucket
    paths (same LCG as :func:`random_hyperplane_buckets`)."""
    planes = []
    state = 0x9E3779B97F4A7C15 ^ (seed * 0xBF58476D1CE4E5B9 % (1 << 64))
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        planes.append(row)
    return planes


def hyperplane_buckets_arrow(
    emb: DataFrame,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(id, tbl, bucket) for ALL hash tables in ONE Arrow pass: a single
    (batch x dim) @ (dim x tables*planes) matmul + sign-bit packing per
    batch, instead of tables*planes interpreted HOF dot products per row.
    Table t uses the plane family ``_lcg_planes(..., seed=t)``, so table 0
    buckets exactly as :func:`random_hyperplane_buckets` does."""
    import numpy as np

    all_planes = np.array(
        [p for t in range(n_tables) for p in _lcg_planes(n_planes, dim, seed=t)]
    ).reshape(n_tables * n_planes, dim)  # reshape keeps n_planes=0 well-formed
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # np.array(tolist()): one C pass over the list column (6.8x
            # over np.stack on the object array — see score_pairs_arrow)
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            signs = (v @ all_planes.T) >= 0  # (n, tables*planes)
            signs = signs.reshape(len(v), n_tables, n_planes)
            buckets = (signs * weights).sum(axis=2)  # (n, tables)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_tables),
                    "tbl": np.tile(np.arange(n_tables), len(v)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, tbl int, bucket long"
    )


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup at scale: multi-table random-hyperplane LSH
    over 64-dim vectors.

    Each of ``n_tables`` independent plane families assigns every vector a
    bucket; candidate pairs are vectors sharing (table, bucket) — an
    equi-join that shuffles on the bucket key instead of comparing all pairs.
    Candidates are de-duplicated across tables, then verified with exact
    cosine, so output pairs are exact — only recall is approximate (a pair
    is missed iff it collides in none of the tables; P[miss] =
    (1 - (1 - theta/pi)^planes)^tables for angle theta).

    Matches the minhash-LSH banding shape in ``operators/dedup.py`` — same
    join geometry, cosine instead of Jaccard.

    r08 vectors-once rewrite: candidates are never materialized as pair
    ROWS.  Each (tbl, bucket) membership row carries its vector once into
    a per-cell applyInPandas GEMM kernel that scores the whole cell block
    and emits only (id_a < id_b, cos_sim > threshold) hits; a final
    distinct collapses the <= n_tables copies of a multi-colliding pair
    (identical floored values, so the triple dedups exactly).  The former
    shape exploded ~|bucket|^2/2 bare-long pairs per bucket, DISTINCTed
    them (at sf0.1: 663k pairs from 2000 vectors), then re-joined both
    vectors onto every pair and shipped the wide rows through Arrow —
    three corpus-shaped shuffles that all disappear here.

    Hot-bucket guard (same discipline as dedup.bucket_pair_explode, same
    cap): a bucket over ``cap`` members hash-splits into s = ceil(m/cap)
    blocks and each triangular cell (ci <= cj) scores its block pair on
    its own task — per-task work ~cap^2 FLOPs, per-task input <= 2*cap
    vectors, and a member is replicated s times (vs m-1 times in the
    pair-row shape).  Full recall: a pair meets in exactly the cell
    (min(blk_a, blk_b), max(blk_a, blk_b)).
    """
    from pyspark.sql import Window

    cap = dedup._BUCKET_PAIR_CAP
    buckets = hyperplane_buckets_arrow(emb, n_planes, n_tables, id_col, vec_col)
    v = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    mem = buckets.join(v, buckets[id_col] == v["_id"]).select(
        "tbl", "bucket", "_id", "v"
    )
    s = F.ceil(
        F.count("*").over(Window.partitionBy("tbl", "bucket")) / cap
    ).cast("int")
    blk = F.pmod(F.xxhash64("_id"), s).cast("int")
    cells = (
        mem.select("tbl", "bucket", "_id", "v", blk.alias("blk"), s.alias("s"))
        .select(
            "tbl",
            "bucket",
            "_id",
            "v",
            "blk",
            F.explode(F.sequence(F.lit(0), F.col("s") - 1)).alias("k"),
        )
        .select(
            "tbl",
            "bucket",
            "_id",
            "v",
            "blk",
            F.least("blk", "k").alias("ci"),
            F.greatest("blk", "k").alias("cj"),
        )
    )

    def cell_kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        ci, cj = int(pdf["ci"].iat[0]), int(pdf["cj"].iat[0])
        if ci == cj:
            sub = pdf[pdf["blk"] == ci]
            n = len(sub)
            if n < 2:
                return empty
            ids = sub["_id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            B = np.array(sub["v"].tolist(), dtype=np.float64)[order]
            norms = np.linalg.norm(B, axis=1)
            col = np.arange(n)
            outs = []
            # blocked GEMM (ADVICE r08): live memory ~block x n doubles,
            # never the full cap^2 (~134 MB) cell matrix — same bound as
            # semdedup_cell_pairs / hard_negative_mining
            block = max(1, 2_000_000 // n)
            for s0 in range(0, n, block):
                e0 = min(s0 + block, n)
                C = (B[s0:e0] @ B.T) / (norms[s0:e0, None] * norms[None, :])
                C = np.floor(C * 10000) / 10000
                gi = np.arange(s0, e0)
                mask = (C > threshold) & (col[None, :] > gi[:, None])
                ii, jj = np.nonzero(mask)
                if len(ii):
                    outs.append(
                        pd.DataFrame(
                            {
                                "id_a": ids[gi[ii]],
                                "id_b": ids[jj],
                                "cos_sim": C[ii, jj],
                            }
                        )
                    )
            return pd.concat(outs, ignore_index=True) if outs else empty
        left = pdf[pdf["blk"] == ci]
        right = pdf[pdf["blk"] == cj]
        if not len(left) or not len(right):
            return empty
        ida = left["_id"].to_numpy()
        idb = right["_id"].to_numpy()
        A = np.array(left["v"].tolist(), dtype=np.float64)
        Bm = np.array(right["v"].tolist(), dtype=np.float64)
        norms_a = np.linalg.norm(A, axis=1)
        norms_b = np.linalg.norm(Bm, axis=1)
        m = len(idb)
        outs = []
        block = max(1, 2_000_000 // m)
        for s0 in range(0, len(ida), block):
            e0 = min(s0 + block, len(ida))
            C = (A[s0:e0] @ Bm.T) / (
                norms_a[s0:e0, None] * norms_b[None, :]
            )
            C = np.floor(C * 10000) / 10000
            ii, jj = np.nonzero(C > threshold)
            if len(ii):
                pa, pb = ida[s0 + ii], idb[jj]
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": np.minimum(pa, pb),
                            "id_b": np.maximum(pa, pb),
                            "cos_sim": C[ii, jj],
                        }
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return (
        cells.groupBy("tbl", "bucket", "ci", "cj")
        .applyInPandas(cell_kernel, "id_a long, id_b long, cos_sim double")
        .distinct()
    )


def score_pairs_arrow(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verification of candidate pairs as ONE vectorized Arrow
    pass (mapInPandas + numpy matrix math) instead of per-row higher-order
    functions — Spark's array HOFs are CodegenFallback (interpreted), which
    at ~100k+ candidate pairs dominates the whole near-dup job. The numpy
    kernel computes a whole Arrow batch of dot products per call.

    Input: (id_a, id_b, va, vb). Output: (id_a, id_b, cos_sim) with
    cos_sim floored at 1e-4 (same convention as :func:`cosine_pairs_exact`;
    sums are reassociated by numpy, so scores can differ from the HOF path
    in the last floored digit only when the true value sits within float
    error of a 1e-4 boundary).
    """

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # np.array(tolist()) materializes the list column in C in one
            # pass — measured 6.8x faster than np.stack over the object
            # array (1.87 s -> 0.27 s per 200k x 64 batch, r07); values
            # are bit-identical, the einsum itself is ~15 ms
            va = np.array(pdf["va"].tolist(), dtype=np.float64)
            vb = np.array(pdf["vb"].tolist(), dtype=np.float64)
            dots = np.einsum("ij,ij->i", va, vb)
            cos = dots / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))
            cos = np.floor(cos * 10000) / 10000
            keep = cos > threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    return pairs.mapInPandas(kernel, "id_a long, id_b long, cos_sim double")


def semdedup_cell_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup [Abbas et al. 2023, arXiv:2303.09540]: semantic
    deduplication that restricts the quadratic cosine comparison to
    WITHIN each k-means cell of the embedding space — the observation
    that semantic near-dups land in the same coarse cluster, so the
    O(n^2) all-pairs scan collapses to sum_c O(|c|^2) with |c| ~ n/k.

    Composition of two existing verified primitives: the deterministic
    fixed-point IVF quantizer (:func:`ml_lsh.ivf_train` —
    fully oracled) assigns cells; within each cell ONE applyInPandas
    GEMM kernel computes the full |c| x |c| cosine block from vectors
    shipped ONCE (floor at 1e-4, same convention as
    :func:`score_pairs_arrow`).  Output is (id_a < id_b, cos_sim) for
    every within-cell pair above the threshold — the drop policy (keep
    min id per group) is the caller's, as in :func:`dedup.near_dup_pairs`.

    Scale shape: one exchange of (cell, id, vec) rows co-locates each
    cell; the kernel's Arrow transfer is |c| VECTORS, not |c|^2 pair
    rows — the r08 rewrite of the former pair self-join, which shipped
    every pair's (va, vb) through Arrow (~1.6 GB at sf0.1, 600x the
    vector payload) and dominated the query.  Per-cell compute is still
    |c|^2 but as blocked BLAS matmuls with O(block x |c|) live memory;
    |c| is bounded by sizing k to the corpus (the paper runs 50k cells
    over LAION — cells stay ~2k vectors at any corpus size, the same
    size-capping discipline as the banding hot-bucket guard).  At the
    fixture scale n_cells=8 keeps the unrolled-CTE oracle tractable."""
    from reddit_sse_stream_spark.operators.ml_lsh import ivf_train

    cells = ivf_train(
        emb, vec_col=vec_col, id_col=id_col, n_cells=n_cells, iters=iters
    ).assignments
    v = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    side = cells.join(v, id_col).select("cell", F.col(id_col).alias("_id"), "v")

    def cell_kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        B = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        norms = np.linalg.norm(B, axis=1)
        col_idx = np.arange(n)
        outs = []
        # bound live memory to ~block x n doubles regardless of cell size
        block = max(1, 2_000_000 // n)
        for s in range(0, n, block):
            e = min(s + block, n)
            C = (B[s:e] @ B.T) / (norms[s:e, None] * norms[None, :])
            C = np.floor(C * 10000) / 10000
            gi = np.arange(s, e)
            mask = (C > threshold) & (col_idx[None, :] > gi[:, None])
            ii, jj = np.nonzero(mask)
            if len(ii):
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[gi[ii]],
                            "id_b": ids[jj],
                            "cos_sim": C[ii, jj],
                        }
                    )
                )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return side.groupBy("cell").applyInPandas(
        cell_kernel, "id_a long, id_b long, cos_sim double"
    )


def hard_negative_mining(
    emb: DataFrame,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining — for every anchor vector, the
    single most-similar vector with a DIFFERENT label (the "hardest"
    negative), the pair-construction step that makes embedding-model
    fine-tuning work (random negatives are too easy; the gradient lives
    in the near-miss region).

    The quadratic is pruned the LSH way: candidates are restricted to the
    anchor's sign-pattern bucket (``random_hyperplane_buckets`` — the
    same deterministic plane family the oracled kNN entries embed as SQL
    literals), so a missed negative in another bucket is the standard
    recall trade, bounded by the bucket family, not silent: the bucket
    rule is reproducible in the oracle, which verifies THIS
    approximation exactly rather than hand-waving it.

    Scale shape: bucket assignment is map-only; one exchange on the
    bucket key co-locates each bucket, and ONE applyInPandas GEMM kernel
    per bucket computes every cross-label cosine and the per-anchor
    top-1 from vectors shipped ONCE — the r08 rewrite of the former
    pair self-join, which pushed every candidate pair's (va, vb)
    through Arrow (the same |bucket|^2-wide-row flaw fixed in
    :func:`semdedup_cell_pairs`).  Per-bucket compute stays m^2 but as
    blocked BLAS matmuls with O(block x m) live memory; tie-break
    (cos desc, id_b asc) and the floor-1e-4 quantization are unchanged,
    so the output is value-identical under the oracle (ADVICE r08: BLAS
    dgemm may reassociate the reduction vs the old per-pair dot, so a
    true cosine sitting within float error of an exact 1e-4 multiple
    could in principle floor differently — never observed at test SFs,
    and the oracle re-proof covers exactly this)."""
    label_dt = dict(zip(emb.schema.names, emb.schema))[label_col].dataType.simpleString()
    id_dt = dict(zip(emb.schema.names, emb.schema))[id_col].dataType.simpleString()
    b = random_hyperplane_buckets(
        emb, n_planes=n_planes, id_col=id_col, vec_col=vec_col
    )
    side = (
        emb.select(
            F.col(id_col), F.col(label_col), F.col(vec_col).cast("array<double>").alias("v")
        )
        .join(b, id_col)
        .select(
            "bucket",
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("_label"),
            "v",
        )
    )

    def bucket_kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_a": pdf["_id"].iloc[:0],
                "label_a": pdf["_label"].iloc[:0],
                "id_b": pdf["_id"].iloc[:0],
                "label_b": pdf["_label"].iloc[:0],
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf["_id"].to_numpy())
        ids = pdf["_id"].to_numpy()[order]
        labels = pdf["_label"].to_numpy()[order]
        B = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        norms = np.linalg.norm(B, axis=1)
        out_i, out_j, out_c = [], [], []
        block = max(1, 2_000_000 // n)
        for s in range(0, n, block):
            e = min(s + block, n)
            C = (B[s:e] @ B.T) / (norms[s:e, None] * norms[None, :])
            C = np.floor(C * 10000) / 10000
            # disallow self, same-label, and NaN (zero-norm) candidates
            bad = (labels[None, :] == labels[s:e, None]) | ~np.isfinite(C)
            C = np.where(bad, -np.inf, C)
            best = np.argmax(C, axis=1)  # first max -> smallest id_b tie-break
            ok = np.isfinite(C[np.arange(e - s), best])
            out_i.append(np.arange(s, e)[ok])
            out_j.append(best[ok])
            out_c.append(C[np.arange(e - s), best][ok])
        ii = np.concatenate(out_i)
        if not len(ii):
            return empty
        jj = np.concatenate(out_j)
        return pd.DataFrame(
            {
                "id_a": ids[ii],
                "label_a": labels[ii],
                "id_b": ids[jj],
                "label_b": labels[jj],
                "cos_sim": np.concatenate(out_c),
            }
        )

    return side.groupBy("bucket").applyInPandas(
        bucket_kernel,
        f"id_a {id_dt}, label_a {label_dt}, id_b {id_dt}, "
        f"label_b {label_dt}, cos_sim double",
    )


def decontam_embedding_cosine(
    emb: DataFrame,
    eval_pred,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling of
    the n-gram overlap decontam family: flag every corpus vector whose
    cosine to ANY eval-set vector clears ``threshold`` (paraphrased eval
    leakage that token n-grams miss).  Output: (vec_id, eval_id, cos_sim)
    for flagged corpus rows, eval_id = the lowest-id eval vector
    achieving the max floored cosine (deterministic under ties).

    Scale shape: the eval set is SMALL by nature (benchmarks are
    thousands of rows), so it broadcasts — collected once, L2-normalized
    into an (m x d) numpy matrix that ships to every task inside the
    Arrow kernel closure — and the corpus side is ONE zero-shuffle
    mapInPandas scan: each batch scores against the whole eval matrix as
    a single GEMM (the vectors-once discipline of
    :func:`semdedup_cell_pairs`).  No join, no pair frame, no corpus
    exchange: at 100 TB this is a pure map pass, embarrassingly parallel.
    Same floor-1e-4 quantization as every cosine entry, so the brute
    oracle reproduces values exactly."""
    import numpy as np

    eval_rows = (
        emb.where(eval_pred)
        .select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if not eval_rows:
        raise ValueError("eval predicate selected no rows")
    eval_ids = np.array([r[id_col] for r in eval_rows])
    order = np.argsort(eval_ids)
    eval_ids = eval_ids[order]
    E = np.array([list(r["v"]) for r in eval_rows], dtype=np.float64)[order]
    E = E / np.maximum(np.linalg.norm(E, axis=1)[:, None], 1e-12)

    corpus = emb.where(~eval_pred)
    eval_id_dt = dict(zip(emb.schema.names, emb.schema))[
        id_col
    ].dataType.simpleString()
    return _decontam_scan(
        corpus, eval_ids, E, threshold, id_col=id_col, vec_col=vec_col,
        eval_id_dt=eval_id_dt,
    )


def _decontam_scan(
    corpus: DataFrame,
    eval_ids,
    E,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_dt: str = "bigint",
) -> DataFrame:
    """The zero-shuffle GEMM scan behind :func:`decontam_embedding_cosine`:
    ``eval_ids`` (sorted ascending) and the normalized eval matrix ``E``
    ship inside the Arrow kernel closure; the corpus frame is scored one
    matmul per batch.

    Output id columns follow the INPUT schemas (ADVICE r09: the kernel
    used to hardcode vec_id/eval_id names and long types despite taking
    id_col): the corpus-side column keeps ``id_col``'s name and type;
    ``eval_id_dt`` is the eval frame's id type, passed by the callers."""
    import numpy as np

    id_dt = dict(zip(corpus.schema.names, corpus.schema))[
        id_col
    ].dataType.simpleString()
    frame = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )

    def kernel(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            A = np.array(pdf["v"].tolist(), dtype=np.float64)
            A = A / np.maximum(np.linalg.norm(A, axis=1)[:, None], 1e-12)
            C = np.floor((A @ E.T) * 10000) / 10000
            best = C.max(axis=1)
            # lowest eval id among the argmax columns (ids are sorted, so
            # the FIRST column hitting the max is the lowest id)
            first = (C == best[:, None]).argmax(axis=1)
            out = pd.DataFrame(
                {
                    id_col: pdf["_id"],
                    "eval_id": eval_ids[first],
                    "cos_sim": best,
                }
            )
            yield out[out["cos_sim"] > threshold]

    return frame.mapInPandas(
        kernel, f"{id_col} {id_dt}, eval_id {eval_id_dt}, cos_sim double"
    )
