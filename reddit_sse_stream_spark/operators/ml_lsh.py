"""pyspark.ml-backed vector-index operators: the IVF coarse quantizer
(``KMeans`` cells, n-probe pruning), its deterministic fixed-point twin,
and product quantization (PQ codes, ADC search, recall audit, IVF-PQ and
residual IVF-PQ).

These complement the hand-rolled operators in :mod:`.similarity`: both
scale the same way — assign each vector to a narrow cell or code key,
then prune or equi-join on it.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators.sqlrender import (
    sql_double_array as _sql_double_array,
    sql_long_array as _sql_long_array,
)

_SEED = 42


class IvfModel(NamedTuple):
    """Trained IVF coarse quantizer: the cell-assignment frame plus the
    driver-held centroid table the probe path ranks against.  A typed
    result (not a DataFrame attribute) so an intervening select/cache
    can't silently drop the centroids (ADVICE r07).  ``unit`` is the
    checkpointed (_id, u) unit-vector frame training already
    materialized — the residual IVF-PQ path reuses it instead of
    recomputing the normalization pass."""

    assignments: DataFrame  # (id_col, cell)
    centroids: list[tuple[int, list[float]]]  # [(cell, unit-vector)]
    unit: DataFrame | None = None  # (_id, u), localCheckpoint-backed


class PqModel(NamedTuple):
    """Trained product quantizer: the per-vector code frame plus the
    driver-held codebook the ADC query path builds its lookup tables
    from.  ``codebook[sub][j]`` is centroid ``j`` of subspace ``sub`` in
    the 1e6 fixed-point integer domain."""

    codes: DataFrame  # (id_col, c0..c{n_sub-1}, recon_fp)
    codebook: list[list[list[int]]]

    @property
    def n_sub(self) -> int:
        return len(self.codebook)

    @property
    def k(self) -> int:
        return len(self.codebook[0])

    @property
    def d_sub(self) -> int:
        return len(self.codebook[0][0])


def _embedding_vectors(emb: DataFrame) -> DataFrame:
    # array_to_vector is a JVM expression (pyspark.ml.functions) — the
    # array<float> -> VectorUDT interop without any Python-row round-trip
    from pyspark.ml.functions import array_to_vector

    return emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )


def ivf_topk_cosine(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer assigns each vector to a cell;
    a query searches only the ``n_probe`` nearest cells.

    At 100 TB the cell id becomes a partition/cluster column so probing
    prunes the SCAN (predicate pushdown on cell), not just the compute —
    the same storage-level win as the LSH bucket column.
    """
    import numpy as np

    from pyspark.ml.clustering import KMeans

    from reddit_sse_stream_spark.operators.similarity import brute_force_topk, l2_norm

    # L2-normalize first: on the unit sphere Euclidean cells == cosine cells,
    # so the quantizer partitions by the metric the query actually uses.
    # Norm computed ONCE per row (not per element) and floored to avoid a
    # zero-vector division turning the cell assignment into NaNs.
    # explode-of-1-element-array barrier: materialize the double array once
    # so neither the norm fold nor the scale lambda re-inlines the cast per
    # element (see operators/text.py:word_ngrams)
    darr = emb.select(
        "vec_id",
        F.explode(F.array(F.col("embedding").cast("array<double>"))).alias("_v"),
    )
    unit = darr.withColumn(
        "_norm", F.greatest(l2_norm(F.col("_v")), F.lit(1e-12))
    ).select(
        "vec_id",
        F.transform(F.col("_v"), lambda x: x / F.col("_norm")).alias("embedding"),
    )
    vecs = _embedding_vectors(unit)
    # coarse quantizer: cell boundaries don't need full convergence, and
    # each KMeans iteration is a full job — cap the iteration count.
    # Train on sort(id).coalesce(1): seeded KMeans is still partitioning-
    # AND row-order-dependent through its float reductions, so the model is
    # pinned by feeding it ONE partition in a total order — identical cell
    # assignments for the same data no matter how the parent frame was
    # partitioned (test-pinned).  Real IVF trains its quantizer on a
    # bounded sample anyway; at 100 TB this IS the sample stage (swap in
    # .sample(seed) before the sort), while the assignment transform below
    # stays fully distributed.
    km = KMeans(
        k=n_cells, seed=_SEED, maxIter=8, featuresCol="features", predictionCol="cell"
    ).fit(vecs.sort("vec_id").coalesce(1))
    assigned = km.transform(vecs).select("vec_id", "cell")
    q = np.asarray(list(query_vec), dtype=float)
    q = q / np.linalg.norm(q)
    # rank cells by distance to the query centroid-side (tiny, driver-side)
    cells = sorted(
        range(len(km.clusterCenters())),
        key=lambda c: float(np.linalg.norm(km.clusterCenters()[c] - q)),
    )[:n_probe]
    cand = emb.join(
        assigned.filter(F.col("cell").isin(cells)).select("vec_id"), "vec_id", "left_semi"
    )
    return brute_force_topk(cand, query_vec, k)


def _unit_fixedpoint(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(_id, u): unit-normalized vectors with the deterministic
    fixed-point norm (1e-12-quantized squared-coordinate sum, sqrt,
    1e-12 floor) — the shared front half of :func:`ivf_fixedpoint_cells`
    and the IVF-PQ query path, each scalar step a single IEEE op so a
    driver-side replica is bit-identical."""
    x = F.col(vec_col).cast("array<double>")
    norm_fp = F.aggregate(
        F.transform(x, lambda v: F.floor(v * v * 1e12 + 0.5).cast("long")),
        F.lit(0).cast("long"),
        lambda a, e: a + e,
    )
    nrm = F.greatest(F.sqrt(norm_fp / F.lit(1e12)), F.lit(1e-12))
    # explode-of-1-element-array barrier: materialize (x, nrm) so the
    # normalize lambda divides an attribute instead of re-folding the norm
    # per element (HOF re-inline trap, see operators/text.py:word_ngrams)
    return (
        emb.select(
            F.col(id_col).alias("_id"),
            F.explode(F.array(F.struct(x.alias("x"), nrm.alias("nrm")))).alias("s"),
        )
        .select(
            "_id", F.transform("s.x", lambda v: v / F.col("s.nrm")).alias("u")
        )
    )


def unit_cells(unit: DataFrame, cents_now) -> DataFrame:
    """Map-only cell assignment of a (_id, u) unit frame against a
    driver-held centroid table — the shared kernel of every IVF
    assignment: Lloyd rounds 2+ and the final frame in
    :func:`ivf_train`, and the index-maintenance surface
    :func:`ivf_assign`.

    The centroid table ships as ONE rendered SQL expression through
    ``F.expr`` (r15): the r10 ``F.lit(list-of-lists)`` form produced a
    single Catalyst Literal node but PySpark EXPANDS a list lit into
    ``array(lit, lit, ...)`` — n_cells*dim+n_cells py4j roundtrips (520
    at the defaults) before the JVM ever sees it, measured ~0.55 s of
    driver time per assignment build; the rendered string is ONE py4j
    call and one server-side parse (~0.08 s warm).  Doubles render via
    the shortest-roundtrip CAST (:func:`sqlrender.sql_double`), so the parsed
    constants — and therefore the distance folds and assignments — are
    bit-identical (oracle-verified, plus an A/B equality check in
    tests).  Same zip_with distance fold, array_min over
    struct(dist, cell) keeps the lowest-cell tiebreak.  Cell ids ride a
    parallel array because Lloyd dropouts make them non-contiguous
    (transform index != cell id)."""
    cent_sql = (
        "array("
        + ", ".join(_sql_double_array(c) for _, c in cents_now)
        + ")"
    )
    ids_sql = (
        "array(" + ", ".join(str(int(cell)) for cell, _ in cents_now) + ")"
    )
    expr = (
        "array_min(transform(" + cent_sql + ", (c, i) -> struct("
        "aggregate(zip_with(u, c, (a, b) -> "
        "CAST(floor((a - b) * (a - b) * 1e12 + 0.5) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, e) -> acc + e) AS dist, "
        "CAST(element_at(" + ids_sql + ", i + 1) AS INT) AS cell))).cell"
    )
    return unit.select("_id", "u", F.expr(expr).alias("cell"))


def ivf_assign(
    centroids,
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Index MAINTENANCE: assign ARRIVING vectors to an
    already-trained IVF coarse quantizer — the other half of the 100 TB
    story :func:`ivf_train` starts.  The index is built once (the
    training is the bounded, driver-synced part); from then on every new
    ingest batch gets its partition column from this map-only pass — no
    retraining, no shuffle, no driver state beyond the centroid table a
    plan literal carries.  Batch or streaming: the plan is a stateless
    projection, so it composes with ``readStream`` unchanged.

    ``centroids`` is an :class:`IvfModel` or its ``centroids`` list; the
    assignment arithmetic is byte-for-byte the training's own
    (:func:`unit_cells`), so an old vector re-assigned lands in its
    training-time cell — the invariant the incremental-twin catalog row
    pins against the unrolled SQL oracle."""
    cents = getattr(centroids, "centroids", centroids)
    unit = _unit_fixedpoint(emb, vec_col, id_col)
    return unit_cells(unit, cents).select(
        F.col("_id").alias(id_col), "cell"
    )


def ivf_train(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    iters: int = 2,
    dim: int = 64,
    fold_rounds: bool = False,
) -> IvfModel:
    """Deterministic IVF coarse quantizer: Lloyd's k-means on the unit
    sphere with EVERY accumulation in exact int64 fixed point, so the cell
    assignments — the IVF index a 100 TB corpus materializes as its
    partition column — are bit-identical across engines, partitionings,
    and reruns, and a SQL twin can verify them value-for-value (unlike the
    seeded MLlib quantizer in :func:`ivf_topk_cosine`, whose float
    reductions are row-order-dependent; that entry stays as the MLlib
    integration path).

    Determinism recipe (same playbook as ``corpus.pca_top_component``):
    unit-normalize via a fixed-point norm; initial centroids = the
    ``n_cells`` smallest-id unit vectors (data-derived, no RNG); per round
    assign each vector to the argmin of an INTEGER squared distance
    (addends floor-quantized at 1e-12, ties broken by cell id — a total
    order, so argmin is exact), then recompute centroid means from
    1e-6-quantized coordinate sums, each scalar step a single IEEE op.
    The centroid table (n_cells x dim doubles) is driver state folded in
    Python between rounds; the SQL oracle unrolls the identical rounds
    over an exploded (vec_id, d, val) layout.  A cell that loses all
    members drops out of the next round in both engines identically.

    Scale shape: assignment is a pure map pass (centroids ride along as
    plan literals — n_cells x dim folds per row, zero shuffle); each
    update round is one (cell, d)-keyed aggregate (n_cells*dim keys, map-
    side combined); collecting n_cells x dim longs per round is the
    parameter-server step.  The final (vec_id, cell) frame is what
    becomes the partition column — probing then prunes the SCAN."""
    base = _unit_fixedpoint(emb, vec_col, id_col).localCheckpoint(eager=False)

    # The centroid table ships as ONE nested-array Literal node
    # (F.lit(list-of-lists)) instead of n_cells*dim individual F.lit
    # nodes (512 at the defaults): Catalyst ANALYSIS of the big literal
    # tree dominated every Lloyd action — measured ~0.45 s compile vs
    # ~0.10 s execution per round at sf0.01; the single-node form halves
    # the fresh-plan cost (r10, VERDICT r09 next #5).  Same doubles, same
    # zip_with distance fold, array_min over struct(dist, cell) keeps the
    # lowest-cell tiebreak — assignments are bit-identical
    # (oracle-verified).  Cell ids ride a parallel literal because Lloyd
    # dropouts make them non-contiguous (transform index != cell id).
    def assign_frame(cents_now):
        return unit_cells(base, cents_now)

    # Round 1 assigns against the seed centroids IN-PLAN (VERDICT r09
    # next #5): the n_cells smallest-id unit vectors ride a broadcast
    # 1-row subquery (sort_array keeps cell id = _id rank, exactly the
    # old enumerate(seeds) numbering) instead of a separate driver
    # collect — one driver sync per training disappears, and the
    # distance arithmetic is the same zip_with fold over the same
    # doubles, so assignments are bit-identical.  iters=0 keeps the
    # collect (the caller needs driver-side centroids and there is no
    # round to ride).
    if iters == 0:
        seeds = base.orderBy("_id").limit(n_cells).collect()
        cents: list[tuple[int, list[float]]] = [
            (i, list(r["u"])) for i, r in enumerate(seeds)
        ]
        out = assign_frame(cents).select(
            F.col("_id").alias(id_col), "cell"
        )
        return IvfModel(assignments=out, centroids=cents, unit=base)

    seed_row = (
        base.orderBy("_id")
        .limit(n_cells)
        .agg(F.sort_array(F.collect_list(F.struct("_id", "u"))).alias("_seeds"))
    )
    seed_assign = F.array_min(
        F.transform(
            F.col("_seeds"),
            lambda s, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("u"),
                        s["u"],
                        lambda a, b: F.floor(
                            (a - b) * (a - b) * 1e12 + 0.5
                        ).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, e: acc + e,
                ).alias("dist"),
                i.cast("int").alias("cell"),
            ),
        )
    )["cell"]

    # In-plan Lloyd fold (r16, VERDICT r15 next #3), OPT-IN per call site
    # via ``fold_rounds``: rounds 0..iters-2 update centroids INSIDE the
    # plan — the (cell, d) sums regroup to a broadcast 1-row centroid
    # table and the next round's assignment argmins against that COLUMN —
    # so the whole training issues exactly ONE collect (the final round's
    # sums) instead of one per round.  Measured r16 (interleaved A/B,
    # OPTIMIZATION_r16.md): the fold WINS only where the training shares
    # the driver with concurrent work — ivfpq_topk's threaded
    # trainings (composite row 3.05 -> 2.69 s) — because the saved py4j
    # roundtrips stop contending with the sibling threads; on SEQUENTIAL
    # chains (the residual row: +0.4 s, incremental/semdedup: flat) the
    # fold's extra in-plan exchanges cost more AQE stage-jobs than the
    # removed action saves — r11's conclusion, re-confirmed post-
    # sqlrender — so the default stays the per-round collect.  Exactness
    # either way: the in-plan centroid arithmetic is the driver fold's
    # own two IEEE ops — CAST(sfp AS DOUBLE) / 1e6 / cnt — and int64 sums
    # stay under 2^53 at any bounded training sample (1e6-quantized unit
    # coords), so the doubles are bit-identical to the collected path;
    # the distance fold and the struct(dist, cell) tiebreak are
    # byte-for-byte unit_cells' (A/B-pinned in tests/test_ml_lsh.py).
    def sums_of(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select(
                "cell",
                F.posexplode(
                    F.transform("u", lambda v: F.floor(v * 1e6 + 0.5).cast("long"))
                ).alias("d", "vfp"),
            )
            .groupBy("cell", "d")
            .agg(F.sum("vfp").alias("sfp"), F.count("*").alias("cnt"))
        )

    def cent_row(sums: DataFrame) -> DataFrame:
        # (cell, d, sfp, cnt) -> ONE row: array<struct<cell, c>> sorted
        # by cell (collect_list order is nondeterministic; array_sort /
        # sort_array pin it — d is unique per cell, cell unique overall)
        byc = sums.groupBy("cell").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("d"),
                        ((F.col("sfp") / F.lit(1e6)) / F.col("cnt")).alias("v"),
                    )
                )
            ).alias("dv")
        )
        cent = byc.select(
            "cell", F.transform("dv", lambda s: s["v"]).alias("c")
        )
        return cent.agg(
            F.sort_array(F.collect_list(F.struct("cell", "c"))).alias("_cents")
        )

    def assign_against_row(crow: DataFrame) -> DataFrame:
        best = F.array_min(
            F.transform(
                F.col("_cents"),
                lambda s: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("u"),
                            s["c"],
                            lambda a, b: F.floor(
                                (a - b) * (a - b) * 1e12 + 0.5
                            ).cast("long"),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, e: acc + e,
                    ).alias("dist"),
                    s["cell"].cast("int").alias("cell"),
                ),
            )
        )["cell"]
        return base.crossJoin(F.broadcast(crow)).select(
            "_id", "u", best.alias("cell")
        )

    def cents_from(rows) -> list[tuple[int, list[float]]]:
        if not rows:
            raise ValueError("IVF training needs at least one vector")
        # dimensionality comes from the data, not the parameter (same
        # fix as corpus.kmeans_fixedpoint, ADVICE r06 low)
        d_n = 1 + max(r["d"] for r in rows)
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], {})[r["d"]] = (
                r["sfp"] / 1e6
            ) / r["cnt"]
        return [
            (cell, [m[d] for d in range(d_n)])
            for cell, m in sorted(by_cell.items())
        ]

    assigned = base.crossJoin(F.broadcast(seed_row)).select(
        "_id", "u", seed_assign.alias("cell")
    )
    if fold_rounds:
        for _ in range(iters - 1):
            assigned = assign_against_row(cent_row(sums_of(assigned)))
        cents = cents_from(sums_of(assigned).collect())  # the ONE collect
    else:
        cents = cents_from(sums_of(assigned).collect())  # round 1
        for _ in range(iters - 1):  # rounds 2..iters, one collect each
            cents = cents_from(sums_of(assign_frame(cents)).collect())

    out = assign_frame(cents).select(F.col("_id").alias(id_col), "cell")
    return IvfModel(assignments=out, centroids=cents, unit=base)


def ivf_fixedpoint_cells(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Single-frame surface of :func:`ivf_train` — just the
    (id, cell) assignments, for consumers that don't probe."""
    return ivf_train(emb, vec_col, id_col, n_cells, iters, dim).assignments


def pq_train(
    emb: DataFrame,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> PqModel:
    """Product quantization [Jégou et al. 2011 — the FAISS IVF-PQ
    building block]: split every vector into ``n_sub`` subvectors, learn
    a ``k``-centroid codebook PER SUBSPACE with Lloyd rounds, and encode
    each vector as its ``n_sub`` nearest-centroid codes — the compressed
    representation (8 bytes/vector here vs 256 for float32) that lets a
    100 TB ANN index hold billions of vectors in RAM and score them with
    table lookups (ADC) instead of full dot products.

    Every step reuses the exact-integer playbook of
    :func:`corpus.kmeans_fixedpoint` (quantize once at 1e6, integer
    distances, floor-mean updates, ties to the lowest code, emptied
    cells keep their centroid), so codes and reconstruction error are
    bit-identical across engines and an unrolled-CTE oracle verifies
    them value-for-value.

    Scale shape: ALL subspaces train in ONE pass per round — the vector
    explodes into (vec_id, sub, xq[8]) rows and the update is a single
    (sub, cluster, d)-keyed aggregate (n_sub·k·d_sub = 1024 keys,
    map-side combined); driver state is the full codebook
    (n_sub·k·d_sub ints — the parameter-server step, ~8 KB).  Assignment
    bakes the codebook in as plan literals behind the explode barrier
    (k folds per (row, sub) — the HOF re-inline trap, see
    kmeans_fixedpoint).  The final code pivot is one vec_id-keyed
    aggregate."""
    import math

    x = F.col(vec_col).cast("array<double>")
    xq = F.transform(x, lambda v: F.floor(v * 1_000_000 + 0.5).cast("long"))
    # subvector extents are EXPRESSIONS over size(xq), not Python ints, so
    # no probe job runs just to learn the dimension (was a flat ~1s per
    # training); the divisibility guard moves to the seeds collect below,
    # which reads the dimension off the rows it fetches anyway
    d_sub_c = (F.size("xq") / n_sub).cast("int")
    base = (
        emb.select(F.col(id_col).alias("_id"), xq.alias("xq"))
        .select(
            "_id",
            F.size("xq").alias("nd"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("sub"),
                            F.slice(
                                "xq", F.lit(s) * d_sub_c + 1, d_sub_c
                            ).alias("sq"),
                        )
                        for s in range(n_sub)
                    ]
                )
            ).alias("p"),
        )
        .select("_id", "nd", F.col("p.sub").alias("sub"), F.col("p.sq").alias("sq"))
        .localCheckpoint(eager=False)
    )
    # Seed codebook IN-PLAN for iters >= 1 (VERDICT r09 next #5): every
    # vector explodes to exactly n_sub rows, so the first k*n_sub rows in
    # (_id, sub) order ARE the k smallest-id vectors' subrows — grouped
    # per sub into a broadcast array (sort_array keeps code j = _id rank,
    # the old enumerate numbering), round 1 assigns against it, and the
    # seed VALUES ride the same action as a unioned dump (n = -1 marker;
    # a code that attracts no members in round 1 must keep its seed
    # centroid for round 2, exactly the literal path's fallback).  The
    # former separate seeds collect — one driver sync per training —
    # disappears; iters=0 keeps it, since the codebook must reach the
    # driver and there is no round to ride.
    if iters == 0:
        seeds = base.orderBy("_id", "sub").limit(k * n_sub).collect()
        by_id = sorted({r["_id"] for r in seeds})
        if not by_id:
            raise ValueError("PQ training needs at least one vector")
        dims_seen = {int(r["nd"]) for r in seeds}
        if len(dims_seen) > 1:
            raise ValueError(
                f"PQ requires uniform vector dims, seeds saw {sorted(dims_seen)}"
            )
        dim_total = dims_seen.pop()
        if dim_total % n_sub != 0:
            # a silent floor would DROP the tail dims from every code —
            # fail loudly instead (FAISS imposes the same divisibility)
            raise ValueError(
                f"PQ requires dim % n_sub == 0, got dim={dim_total}, "
                f"n_sub={n_sub}"
            )
        d_sub = dim_total // n_sub
        # clamp to the seeds actually present: with < k distinct vectors
        # the codebook is simply smaller (same convention as the shorter
        # cents list in corpus.kmeans_fixedpoint, ADVICE r07)
        k = min(k, len(by_id))
        # cents[sub][j] = centroid j of subspace sub
        cents: list[list[list[int]]] = [[None] * k for _ in range(n_sub)]
        rank = {vid: j for j, vid in enumerate(by_id)}
        for r in seeds:
            cents[r["sub"]][rank[r["_id"]]] = list(r["sq"])
    else:
        cents = []
        d_sub = 0

    seed_frame = (
        base.orderBy("_id", "sub")
        .limit(k * n_sub)
        .groupBy("sub")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "sq"))).alias("_seeds"))
    )
    seed_best = F.array_min(
        F.transform(
            F.col("_seeds"),
            lambda s, j: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("sq"), s["sq"], lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, e: acc + e,
                ).alias("dist2"),
                j.cast("int").alias("code"),
            ),
        )
    )

    def assign(frame: DataFrame) -> DataFrame:
        # The full codebook as ONE rendered SQL expression (r15): the
        # r10 ``F.lit(list-of-lists-of-lists)`` form was a single
        # Catalyst Literal node, but PySpark expands a list lit into
        # ``array(lit, ...)`` element-by-element — n_sub*k*d_sub = 1024
        # py4j roundtrips at the defaults, ~0.5 s of driver build time
        # per assignment; the rendered string is one py4j call + one
        # parse (see unit_cells).  Integer codebook values render
        # exactly by construction.  Same exact-integer distance folds
        # over the same values, array_min over struct(dist2, code)
        # keeps the lowest-code tiebreak — codes are bit-identical
        # (oracle-verified).
        cb_sql = (
            "array("
            + ", ".join(
                "array("
                + ", ".join(
                    "array("
                    + ", ".join(str(int(v)) + "L" for v in cents[s][j])
                    + ")"
                    for j in range(k)
                )
                + ")"
                for s in range(n_sub)
            )
            + ")"
        )
        best = F.expr(
            "array_min(transform(element_at(" + cb_sql + ", sub + 1), "
            "(c, j) -> struct("
            "aggregate(zip_with(sq, c, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, e) -> acc + e) AS dist2, "
            "CAST(j AS INT) AS code)))"
        )
        return frame.select(
            "_id",
            "nd",
            "sub",
            "sq",
            best["code"].alias("code"),
            best["dist2"].alias("dist2_fp"),
        )

    for it in range(iters):
        # FULL-FRAME dim validation rides the first Lloyd exchange
        # (ADVICE r09): two extra min/max columns on an aggregate that
        # runs anyway, so a heterogeneous-dim row ANYWHERE in the corpus
        # fails loudly instead of being silently slice-truncated.
        # (iters=0 skips Lloyd entirely and keeps the seed-level check.)
        if it == 0:
            assigned = base.join(F.broadcast(seed_frame), "sub").select(
                "_id",
                "nd",
                "sub",
                "sq",
                seed_best["code"].alias("code"),
                seed_best["dist2"].alias("dist2_fp"),
            )
        else:
            assigned = assign(base)
        aggs = [F.sum("v").alias("s"), F.count("*").alias("n")]
        if it == 0:
            aggs += [F.min("nd").alias("lo"), F.max("nd").alias("hi")]
        stats = (
            assigned
            .select("sub", "code", "nd", F.posexplode("sq").alias("d", "v"))
            .groupBy("sub", "code", "d")
            .agg(*aggs)
        )
        if it == 0:
            dump = (
                seed_frame.select(
                    "sub", F.posexplode("_seeds").alias("code", "sv")
                )
                .select("sub", "code", F.posexplode("sv.sq").alias("d", "v"))
                .select(
                    "sub",
                    "code",
                    "d",
                    F.col("v").alias("s"),
                    F.lit(-1).cast("long").alias("n"),
                    F.lit(None).cast("int").alias("lo"),
                    F.lit(None).cast("int").alias("hi"),
                )
            )
            rows = stats.unionByName(dump).collect()
            seed_vals: dict[tuple[int, int, int], int] = {}
            data_rows = []
            for r in rows:
                if r["n"] == -1:
                    seed_vals[(r["sub"], r["code"], r["d"])] = r["s"]
                else:
                    data_rows.append(r)
            if not seed_vals:
                raise ValueError("PQ training needs at least one vector")
            lo = min(r["lo"] for r in data_rows)
            hi = max(r["hi"] for r in data_rows)
            if lo != hi:
                raise ValueError(
                    "PQ requires uniform vector dims: corpus has dims in "
                    f"[{lo}, {hi}]"
                )
            dim_total = lo
            if dim_total % n_sub != 0:
                raise ValueError(
                    f"PQ requires dim % n_sub == 0, got dim={dim_total}, "
                    f"n_sub={n_sub}"
                )
            d_sub = dim_total // n_sub
            k = 1 + max(c for (_s, c, _d) in seed_vals)
            got = {
                (r["sub"], r["code"], r["d"]): (r["s"], r["n"])
                for r in data_rows
            }
            cents = [
                [
                    [
                        math.floor(got[(s, j, d)][0] / got[(s, j, d)][1])
                        for d in range(d_sub)
                    ]
                    if (s, j, 0) in got
                    else [seed_vals[(s, j, d)] for d in range(d_sub)]
                    for j in range(k)
                ]
                for s in range(n_sub)
            ]
            continue
        got = {
            (r["sub"], r["code"], r["d"]): (r["s"], r["n"])
            for r in stats.collect()
        }
        cents = [
            [
                [
                    math.floor(got[(s, j, d)][0] / got[(s, j, d)][1])
                    for d in range(d_sub)
                ]
                if (s, j, 0) in got
                else cents[s][j]
                for j in range(k)
            ]
            for s in range(n_sub)
        ]
    final = assign(base)
    codes = final.groupBy("_id").agg(
        *[
            F.max(F.when(F.col("sub") == s, F.col("code")))
            .cast("int")
            .alias(f"c{s}")
            for s in range(n_sub)
        ],
        F.sum("dist2_fp").cast("long").alias("recon_fp"),
    ).select(F.col("_id").alias(id_col), *[f"c{s}" for s in range(n_sub)], "recon_fp")
    return PqModel(codes=codes, codebook=cents)


def pq_codes_fixedpoint(
    emb: DataFrame,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Single-frame surface of :func:`pq_train` — just the code frame,
    for consumers that don't run ADC queries."""
    return pq_train(emb, n_sub, k, iters, vec_col, id_col).codes


def pq_adc_topk(
    emb: DataFrame,
    query_vec: "Sequence[float]",
    k_out: int = 5,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k — the query path that makes
    product quantization an ANN index: the query builds ONE distance
    table per subspace (k entries: squared distance from the query's
    subvector to each codebook centroid), and every database vector is
    scored by n_sub TABLE LOOKUPS on its codes instead of a 64-dim dot
    product.  At 100 TB the codes frame is the only thing scanned
    (8 bytes/vector), the tables are n_sub*k ints baked into the plan as
    literals — a scan of the compressed index, no vector data touched.

    Exactness: the tables are integer squared distances in the same 1e6
    fixed-point domain as training, so the ADC score (an int64 sum of
    n_sub lookups) and the top-k cut (ordered by (adc_fp, id)) are
    bit-reproducible; the oracle rebuilds codebooks, codes, AND tables
    in SQL.  ADC is exact w.r.t. the QUANTIZED database vector — the
    standard PQ approximation (recon_fp bounds the per-vector gap)."""
    model = pq_train(
        emb, n_sub=n_sub, k=k, iters=iters, vec_col=vec_col, id_col=id_col
    )
    cents, codes = model.codebook, model.codes
    k = model.k  # may be clamped below the requested k on tiny inputs
    if exclude_id is not None:
        # the query row trains/encodes like everything else but must not
        # appear in its own result list — filter BEFORE the top-k cut
        codes = codes.where(F.col(id_col) != exclude_id)
    d_sub = model.d_sub
    qq = [
        int(math.floor(v * 1_000_000 + 0.5))
        for v in list(query_vec)
    ]
    if len(qq) != n_sub * d_sub:
        raise ValueError(
            f"query_vec has {len(qq)} dims, index expects {n_sub * d_sub}"
        )
    tables = [
        [
            sum(
                (qq[s * d_sub + d] - cents[s][j][d]) ** 2
                for d in range(d_sub)
            )
            for j in range(k)
        ]
        for s in range(n_sub)
    ]
    adc = None
    for s in range(n_sub):
        t_lit = F.expr(_sql_long_array(tables[s]))
        term = F.element_at(t_lit, F.col(f"c{s}") + 1)
        adc = term if adc is None else adc + term
    return (
        codes.select(F.col(id_col), adc.cast("long").alias("adc_fp"))
        .orderBy(F.col("adc_fp").asc(), F.col(id_col))
        .limit(k_out)
    )


def pq_recall_audit(
    emb: DataFrame,
    n_queries: int = 8,
    k_out: int = 5,
    n_sub: int = 8,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k self-audit of the PQ-ADC index: for each of the
    ``n_queries`` smallest-id vectors, compare the ADC top-``k_out``
    (scored from 8-byte codes + lookup tables) against the EXACT
    top-``k_out`` over the full quantized vectors, and report the
    overlap — the honest answer to "how much does 32x compression cost
    in retrieval quality", the PQ counterpart of
    :func:`dedup.lsh_recall_audit` (every approximation this engine
    ships carries its own measured-recall row).

    Everything is exact-integer (1e6 fixed-point training domain shared
    with :func:`pq_codes_fixedpoint`; exact side is int64 squared L2 on
    the same quantized coordinates; both top-k cuts ordered by
    (score, id)), so the audit itself is bit-reproducible and a SQL twin
    re-derives codebooks, codes, ADC tables, brute-force distances, and
    both rank cuts value-for-value.

    Scale shape: ONE scan of (codes JOIN quantized-vectors) computes all
    n_queries ADC+exact score pairs per row (tables and query vectors
    are plan literals — n_queries*(n_sub*k + dim) ints), explodes to
    (qid, vec_id, adc_fp, exact_fp), and both rank cuts share a single
    qid-keyed exchange (two sorts, one shuffle).  Per-query state is
    never corpus-sized; at 100 TB the exact side is the expensive half —
    which is the point: the audit runs on a SAMPLE of queries
    (n_queries), amortizing one full-scan ground truth over the
    index's lifetime."""
    model = pq_train(
        emb, n_sub=n_sub, k=k, iters=iters, vec_col=vec_col, id_col=id_col
    )
    cents, codes = model.codebook, model.codes
    k, d_sub = model.k, model.d_sub

    x = F.col(vec_col).cast("array<double>")
    xq = F.transform(x, lambda v: F.floor(v * 1_000_000 + 0.5).cast("long"))
    quant = emb.select(F.col(id_col).alias("_id"), xq.alias("xq"))
    qrows = quant.orderBy("_id").limit(n_queries).collect()
    queries = [(int(r["_id"]), list(r["xq"])) for r in qrows]

    joined = codes.join(
        quant, codes[id_col] == quant["_id"], "inner"
    ).select(codes[id_col].alias("_vid"), *[f"c{s}" for s in range(n_sub)], "xq")

    def adc_for(qq: list[int]) -> "F.Column":
        acc = None
        for s in range(n_sub):
            tab = [
                sum(
                    (qq[s * d_sub + d] - cents[s][j][d]) ** 2
                    for d in range(d_sub)
                )
                for j in range(k)
            ]
            t_lit = F.expr(_sql_long_array(tab))
            term = F.element_at(t_lit, F.col(f"c{s}") + 1)
            acc = term if acc is None else acc + term
        return acc.cast("long")

    def exact_for(qq: list[int]) -> "F.Column":
        q_lit = F.expr(_sql_long_array(qq))
        return F.aggregate(
            F.zip_with(F.col("xq"), q_lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )

    pairs = joined.select(
        "_vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("qid"),
                        adc_for(qq).alias("adc_fp"),
                        exact_for(qq).alias("exact_fp"),
                    )
                    for qid, qq in queries
                ]
            )
        ).alias("p"),
    ).select(
        F.col("p.qid").alias("qid"),
        F.col("_vid").alias("vid"),
        "p.adc_fp",
        "p.exact_fp",
    ).where(F.col("vid") != F.col("qid"))

    from pyspark.sql import Window

    w_adc = Window.partitionBy("qid").orderBy(F.col("adc_fp").asc(), F.col("vid"))
    w_ex = Window.partitionBy("qid").orderBy(F.col("exact_fp").asc(), F.col("vid"))
    ranked = pairs.select(
        "qid",
        F.row_number().over(w_adc).alias("rk_adc"),
        F.row_number().over(w_ex).alias("rk_ex"),
    )
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(
                ((F.col("rk_adc") <= k_out) & (F.col("rk_ex") <= k_out))
                .cast("long")
            ).alias("hits"),
        )
        .select(
            F.col("qid").cast("bigint").alias("qid"),
            F.col("hits").cast("bigint").alias("hits"),
            F.round(F.col("hits") / F.lit(k_out), 4).alias("recall_at_k"),
        )
    )


def ivfpq_topk(
    emb: DataFrame,
    query_id: int = 0,
    k_out: int = 5,
    n_probe: int = 2,
    n_cells: int = 8,
    ivf_iters: int = 2,
    n_sub: int = 8,
    k: int = 16,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ composite top-k — the two pruning layers of a production
    ANN index (the FAISS ``IVFx,PQy`` shape) composed from this module's
    oracled primitives: the coarse quantizer
    (:func:`ivf_fixedpoint_cells`) partitions the corpus into cells and
    the query probes only the ``n_probe`` nearest, then PQ-ADC
    (:func:`pq_codes_fixedpoint` tables) scores ONLY the probed cells'
    codes — at 100 TB the cell is the table's partition column (written
    at index build), so the probe is partition PRUNING of an 8-byte-per-
    vector scan: two multiplicative reductions before any work happens.

    Honest deviation from FAISS: codes quantize the RAW vector, not the
    cell residual (IVFFlat-style coarse layer + PQ compression), so the
    code frame is cell-independent and one codebook serves every cell —
    the residual variant would add a per-cell recenter step to training
    and the ADC tables.

    Exactness: probe selection uses the same 1e-12 fixed-point unit-
    sphere distance as cell assignment (driver-replicated bit-for-bit —
    every scalar step a single IEEE op on the collected unit query
    vector), ADC is the 1e6 integer domain of PQ training, and the final
    cut orders by (adc_fp, id) — fully SQL-verifiable end to end."""
    # ONE scan feeds everything (VERDICT r08 next #3): the two trainings
    # each lazily checkpoint their own DERIVED frame (normalized /
    # exploded), but materializing those used to scan the parquet source
    # once per training, plus a third pushdown scan for the query row.
    # Sharing an eagerly-checkpointed (id, vector-as-double) frame makes
    # the source scan happen exactly once; every downstream job — both
    # trainings' Lloyd rounds, the seeds collects, the query-row lookup —
    # reads executor-memory blocks.  The cast commutes (float->double is
    # exact), so results are bit-identical — the exactness tests cover
    # this path.  At 100 TB the quantizers train on a bounded sample
    # anyway (see ivf_train), so "checkpoint the training frame" stays
    # a sample-sized, not corpus-sized, residency.
    shared = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).localCheckpoint(eager=True)
    # The two quantizers are independent trainings over the same frame;
    # submit them from two driver threads so their Lloyd-round jobs
    # interleave on the cluster (Spark job submission is thread-safe and
    # each training is internally sequential, so results are unchanged —
    # the bit-exactness tests cover this path).  Wall drops from
    # t_ivf + t_pq to ~max(t_ivf, t_pq); on a real cluster the same
    # orchestration keeps executors busy during each other's driver syncs.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        ivf_f = pool.submit(
            ivf_train,
            shared,
            vec_col=vec_col,
            id_col=id_col,
            n_cells=n_cells,
            iters=ivf_iters,
            # in-plan round fold (r16): wins HERE because the training
            # shares the driver with the concurrent PQ/query threads —
            # fewer py4j roundtrips to contend; measured 3.05 -> 2.69 s
            # on this row, while the sequential callers measured flat or
            # slower (see ivf_train's fold note)
            fold_rounds=True,
        )
        pq_f = pool.submit(
            pq_train,
            shared,
            n_sub=n_sub,
            k=k,
            iters=pq_iters,
            vec_col=vec_col,
            id_col=id_col,
        )
        # third concurrent worker: the query-row lookup (reads the same
        # eager checkpoint) — not a sequential sync after the trainings
        q_f = pool.submit(
            lambda: shared.where(F.col(id_col) == query_id)
            .select(F.col(vec_col).alias("x"))
            .first()
        )
        ivf = ivf_f.result()
        pq = pq_f.result()
        q_raw = q_f.result()
    cells, cents = ivf.assignments, ivf.centroids
    if q_raw is None:
        raise ValueError(f"query_id {query_id} not present in {id_col}")
    qv = list(q_raw["x"])
    # driver-side replica of _unit_fixedpoint on the one query row — each
    # step the same single IEEE double op Spark performs (floor-quantized
    # squared-coordinate sum, sqrt, 1e-12 floor), so u_q is bit-identical
    # to the frame version while costing zero extra Spark jobs
    norm_fp = sum(int(math.floor(v * v * 1e12 + 0.5)) for v in qv)
    nrm = max(math.sqrt(norm_fp / 1e12), 1e-12)
    u_q = [v / nrm for v in qv]

    def d_fp(c: list[float]) -> int:
        return sum(
            int(math.floor((u_q[d] - c[d]) * (u_q[d] - c[d]) * 1e12 + 0.5))
            for d in range(len(c))
        )

    probe_cells = [
        cell for _, cell in sorted((d_fp(c), cell) for cell, c in cents)[:n_probe]
    ]

    codes, cb = pq.codes, pq.codebook
    k, d_sub = pq.k, pq.d_sub
    qq = [int(math.floor(v * 1_000_000 + 0.5)) for v in qv]
    adc = None
    for s in range(n_sub):
        tab = [
            sum((qq[s * d_sub + d] - cb[s][j][d]) ** 2 for d in range(d_sub))
            for j in range(k)
        ]
        t_lit = F.expr(_sql_long_array(tab))
        term = F.element_at(t_lit, F.col(f"c{s}") + 1)
        adc = term if adc is None else adc + term

    cand = codes.join(cells, on=id_col).where(
        F.col("cell").isin([int(c) for c in probe_cells])
        & (F.col(id_col) != query_id)
    )
    return (
        cand.select(
            F.col(id_col),
            F.col("cell").cast("int").alias("cell"),
            adc.cast("long").alias("adc_fp"),
        )
        .orderBy(F.col("adc_fp").asc(), F.col(id_col))
        .limit(k_out)
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    query_id: int = 0,
    k_out: int = 5,
    n_probe: int = 2,
    n_cells: int = 8,
    ivf_iters: int = 2,
    n_sub: int = 8,
    k: int = 16,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """RESIDUAL-encoding IVF-PQ top-k — the full FAISS ``IVFx,PQy`` recipe
    [Jégou et al. 2011 §III]: PQ codes quantize the residual u - c(cell)
    to the vector's coarse centroid, not the raw vector, which is what
    makes one small codebook serve a corpus whose cells sit far apart
    (each cell's residual cloud is centered at the origin, so codebook
    capacity is spent on LOCAL structure).  :func:`ivfpq_topk` is the
    cheaper residual-free deviation (codes are cell-independent, one ADC
    table per query); this variant pays one ADC table PER PROBED CELL
    (tables from the query's per-cell residual) and a sequential
    dependency (residuals need the trained coarse quantizer before PQ
    training starts — the two trainings cannot overlap like the
    composite's).

    Exactness: residual = zip_with(u, centroid, a - b) on the SAME unit
    fixed-point frame the IVF chain assigns from, quantized by pq_train's
    1e6 floor — every scalar step a single IEEE op, replicated
    driver-side for the query and unrolled in the SQL twin, so codes,
    tables, and the (adc_fp, id) cut are all bit-verifiable.

    Scale shape: identical to the composite (cell = partition column,
    probe = partition pruning, ADC over 8-byte codes of probed cells)
    plus one map-only residual projection between the two trainings.

    Driver-sync budget (VERDICT r09 next #5): the trainings' seed
    collects fold into their first Lloyd rounds (in-plan broadcast seed
    frames — see ivf_train/pq_train), the shared checkpoint is LAZY
    (materialized under IVF round 1, the first job that reads it; no
    thread races it — the query-row fetch starts only after ivf_train
    returns), and the query-row lookup runs on a side thread concurrent
    with PQ training.  Sequential syncs: IVF round 1+2, PQ round 1+2 —
    four, down from r09's ~9 (checkpoint job, two seed collects, four
    rounds, query fetch, each its own scheduling boundary on a busy
    host).  Job count pinned in tests/test_ml_lsh.py."""
    shared = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).localCheckpoint(eager=False)
    ivf = ivf_train(
        shared, vec_col=vec_col, id_col=id_col, n_cells=n_cells, iters=ivf_iters
    )
    cells, cents = ivf.assignments, ivf.centroids
    # residuals on the SAME unit frame ivf assigned from; centroid lookup
    # is a map literal keyed by cell id (cells can drop out of Lloyd
    # rounds, so ids may be non-contiguous — element_at on a dense array
    # would misalign)
    cmap = F.expr(
        "map_from_arrays("
        + _sql_long_array([cell for cell, _ in cents])
        + ", array("
        + ", ".join(_sql_double_array(c) for _, c in cents)
        + "))"
    )
    # training already materialized the checkpointed unit frame — reuse
    # it rather than re-running the normalization pass over the corpus
    u = ivf.unit if ivf.unit is not None else _unit_fixedpoint(
        shared, vec_col, id_col
    )
    resid = (
        u.join(
            cells.select(F.col(id_col).alias("_id"), "cell"), "_id"
        )
        .select(
            F.col("_id").alias(id_col),
            F.zip_with(
                "u", F.element_at(cmap, F.col("cell")), lambda a, b: a - b
            ).alias("resid"),
        )
        .localCheckpoint(eager=False)  # feeds every PQ Lloyd round
    )
    # the query-row fetch only needs the (already-materialized) shared
    # checkpoint — run it concurrent with PQ training instead of as its
    # own sequential sync after it
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        q_fut = pool.submit(
            lambda: shared.where(F.col(id_col) == query_id)
            .select(F.col(vec_col).alias("x"))
            .first()
        )
        pq = pq_train(
            resid, n_sub=n_sub, k=k, iters=pq_iters, vec_col="resid",
            id_col=id_col,
        )
        q_raw = q_fut.result()
    codes, cb = pq.codes, pq.codebook
    k, d_sub = pq.k, pq.d_sub
    if q_raw is None:
        raise ValueError(f"query_id {query_id} not present in {id_col}")
    qv = list(q_raw["x"])
    norm_fp = sum(int(math.floor(v * v * 1e12 + 0.5)) for v in qv)
    nrm = max(math.sqrt(norm_fp / 1e12), 1e-12)
    u_q = [v / nrm for v in qv]

    def d_fp(c: list[float]) -> int:
        return sum(
            int(math.floor((u_q[d] - c[d]) * (u_q[d] - c[d]) * 1e12 + 0.5))
            for d in range(len(c))
        )

    by_cell = dict(cents)
    probe_cells = [
        cell for _, cell in sorted((d_fp(c), cell) for cell, c in cents)[:n_probe]
    ]
    # per-probed-cell ADC tables from the query's per-cell residual —
    # the residual recipe's extra cost vs the composite's single table
    tabs: dict[int, list[list[int]]] = {}
    for cell in probe_cells:
        c = by_cell[cell]
        qq = [
            int(math.floor((u_q[d] - c[d]) * 1_000_000 + 0.5))
            for d in range(len(c))
        ]
        tabs[cell] = [
            [
                sum(
                    (qq[s * d_sub + d] - cb[s][j][d]) ** 2
                    for d in range(d_sub)
                )
                for j in range(k)
            ]
            for s in range(n_sub)
        ]
    adc = None
    for s in range(n_sub):
        m = F.expr(
            "map_from_arrays("
            + _sql_long_array(probe_cells)
            + ", array("
            + ", ".join(_sql_long_array(tabs[c][s]) for c in probe_cells)
            + "))"
        )
        term = F.element_at(
            F.element_at(m, F.col("cell")), F.col(f"c{s}") + 1
        )
        adc = term if adc is None else adc + term

    cand = codes.join(cells, on=id_col).where(
        F.col("cell").isin([int(c) for c in probe_cells])
        & (F.col(id_col) != query_id)
    )
    return (
        cand.select(
            F.col(id_col),
            F.col("cell").cast("int").alias("cell"),
            adc.cast("long").alias("adc_fp"),
        )
        .orderBy(F.col("adc_fp").asc(), F.col(id_col))
        .limit(k_out)
    )
