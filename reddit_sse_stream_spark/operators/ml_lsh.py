"""Vector-index operators on exact fixed-point Lloyd quantizers: the IVF
coarse quantizer (unit-sphere cells, n-probe pruning, index maintenance)
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
    unit: DataFrame  # (_id, u), localCheckpoint-backed


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


def ivf_topk_cosine(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: the fixed-point coarse quantizer (:func:`ivf_train`)
    assigns each vector to a cell; a query searches only the ``n_probe``
    cells nearest to it (:func:`_probe`), scored by the exact cosine of
    :func:`similarity.brute_force_topk`.

    At 100 TB the cell id becomes a partition/cluster column so probing
    prunes the SCAN (predicate pushdown on cell), not just the compute —
    the same storage-level win as the LSH bucket column.
    """
    from reddit_sse_stream_spark.operators.similarity import brute_force_topk

    ivf = ivf_train(emb, n_cells=n_cells)
    _, cells = _probe(list(query_vec), ivf.centroids, n_probe)
    cand = emb.join(
        ivf.assignments.where(F.col("cell").isin(cells)).select("vec_id"),
        "vec_id",
        "left_semi",
    )
    return brute_force_topk(cand, query_vec, k)


def _unit_fixedpoint(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(_id, u): unit-normalized vectors with the deterministic
    fixed-point norm (1e-12-quantized squared-coordinate sum, sqrt,
    1e-12 floor) — the shared front half of :func:`ivf_train`
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
    assignment: the final frame of :func:`ivf_train` and the
    index-maintenance surface :func:`ivf_assign`.

    The centroid table ships as ONE rendered SQL expression through
    ``F.expr``: PySpark expands a list ``F.lit`` into ``array(lit, lit,
    ...)``, n_cells*dim+n_cells py4j roundtrips (520 at the defaults,
    ~0.55 s of driver time per assignment build), while the rendered
    string is one py4j call and one server-side parse (~0.08 s warm).
    Doubles render via the shortest-roundtrip CAST
    (:func:`sqlrender.sql_double`), so the parsed constants — and
    therefore the distance folds and assignments — are bit-identical to
    the training kernel's (oracle-verified).  array_min over
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
    story :func:`ivf_train` starts.  The index is built once (training
    is one grouped-map job over a bounded sample); from then on every new
    ingest batch gets its partition column from this map-only pass — no
    retraining, no shuffle, no driver state beyond the centroid table a
    plan literal carries.  Batch or streaming: the plan is a stateless
    projection, so it composes with ``readStream`` unchanged.

    ``centroids`` is an :class:`IvfModel` or its ``centroids`` list; the
    assignment is the training's own final pass (:func:`unit_cells`),
    so an old vector re-assigned lands in its training-time cell — the
    invariant the incremental-twin catalog row pins against the
    unrolled SQL oracle."""
    cents = getattr(centroids, "centroids", centroids)
    unit = _unit_fixedpoint(emb, vec_col, id_col)
    return unit_cells(unit, cents).select(
        F.col("_id").alias(id_col), "cell"
    )


def _lloyd(x, k: int, iters: int, dist, mean, keep_empty: bool):
    """Lloyd's k-means over the rows of ``x`` (in id order), the numpy
    kernel of every fixed-point training.  Seeds are the first ``k``
    rows, numbered 0..k-1 (clamped to the rows present); each round
    assigns every row to the centroid with the smallest integer
    ``dist`` (ties to the lowest index, ``argmin``'s first hit), then
    replaces each centroid by ``mean`` of its members.  A centroid
    that wins no member keeps its value (``keep_empty``) or drops out;
    either way the survivors keep their ids.  ``iters=0`` returns the
    seeds.  Returns (ids, centroids)."""
    import numpy as np

    ids = list(range(min(k, len(x))))
    cents = list(x[: len(ids)])
    for _ in range(iters):
        near = np.stack([dist(x, c) for c in cents], axis=1).argmin(axis=1)
        nxt = [
            (cid, mean(x[near == i]) if (near == i).any() else c)
            for i, (cid, c) in enumerate(zip(ids, cents))
            if keep_empty or (near == i).any()
        ]
        ids, cents = [cid for cid, _ in nxt], [c for _, c in nxt]
    return ids, cents


def _train_grouped(
    frame: DataFrame,
    key: str,
    vec: str,
    what: str,
    k: int,
    iters: int,
    dist,
    mean,
    keep_empty: bool,
) -> tuple[int, list]:
    """Run :func:`_lloyd` on every ``key`` group of ``frame``
    (``key, _id, nd, vec``) inside ONE grouped-map job and collect only
    the centroid rows ``(key, cid, c)``.  ``nd`` is each row's full
    vector dimension: a group whose rows disagree trains nothing and
    returns just its min/max ``nd``, so ragged input fails here on the
    driver with the dims rather than inside the task.  Returns
    (dim, rows)."""
    elem = frame.schema[vec].dataType.elementType.simpleString()
    schema = f"{key} int, cid int, c array<{elem}>, lo int, hi int"

    def task(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_id")
        g, lo, hi = int(pdf[key].iloc[0]), int(pdf["nd"].min()), int(pdf["nd"].max())
        ids, cents = [None], [None]
        if lo == hi:
            x = np.stack(pdf[vec].to_list())
            ids, cents = _lloyd(x, k, iters, dist, mean, keep_empty)
        return pd.DataFrame(
            {key: g, "cid": ids, "c": cents, "lo": lo, "hi": hi}
        )

    rows = frame.groupBy(key).applyInPandas(task, schema).collect()
    if not rows:
        raise ValueError(f"{what} training needs at least one vector")
    lo, hi = min(r["lo"] for r in rows), max(r["hi"] for r in rows)
    if lo != hi:
        raise ValueError(
            f"{what} requires uniform vector dims: corpus has dims in [{lo}, {hi}]"
        )
    return lo, rows


def _ivf_dist(x, c):
    import numpy as np

    return np.floor((x - c) * (x - c) * 1e12 + 0.5).astype(np.int64).sum(axis=1)


def _ivf_mean(m):
    import numpy as np

    return (np.floor(m * 1e6 + 0.5).astype(np.int64).sum(axis=0) / 1e6) / len(m)


def _pq_dist(x, c):
    return ((x - c) * (x - c)).sum(axis=1)


def _pq_mean(m):
    import numpy as np

    return np.floor(m.sum(axis=0) / len(m)).astype(np.int64)


def ivf_train(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 8,
    iters: int = 2,
) -> IvfModel:
    """Deterministic IVF coarse quantizer: Lloyd's k-means on the unit
    sphere with EVERY accumulation in exact int64 fixed point, so the cell
    assignments — the IVF index a 100 TB corpus materializes as its
    partition column — are bit-identical across engines, partitionings,
    and reruns, and a SQL twin can verify them value-for-value.

    Determinism recipe (same playbook as ``corpus.pca_top_component``):
    unit-normalize via a fixed-point norm; initial centroids = the
    ``n_cells`` smallest-id unit vectors (data-derived, no RNG); per round
    assign each vector to the argmin of an INTEGER squared distance
    (addends floor-quantized at 1e-12, ties broken by cell id — a total
    order, so argmin is exact), then recompute centroid means from
    1e-6-quantized coordinate sums, each scalar step a single IEEE op.
    A cell that loses all members drops out of the next round; the
    survivors keep their ids.  The SQL oracle unrolls the identical
    rounds over an exploded (vec_id, d, val) layout.

    Scale shape: every round runs inside ONE single-group grouped-map
    task (numpy, :func:`_lloyd`), so training is one job that returns
    only the n_cells x dim centroid table to the driver.  That task holds
    the training set in memory: at 100 TB the quantizer trains on a
    bounded sample, as IVF indexes do.  The final (vec_id, cell) frame
    is the map-only :func:`unit_cells` pass over the full corpus — what
    becomes the partition column, so probing then prunes the SCAN."""
    base = _unit_fixedpoint(emb, vec_col, id_col).localCheckpoint(eager=False)
    _, rows = _train_grouped(
        base.select(F.lit(0).alias("g"), "_id", F.size("u").alias("nd"), "u"),
        "g", "u", "IVF", n_cells, iters, _ivf_dist, _ivf_mean,
        keep_empty=False,
    )
    cents = sorted((r["cid"], list(r["c"])) for r in rows)
    out = unit_cells(base, cents).select(F.col("_id").alias(id_col), "cell")
    return IvfModel(assignments=out, centroids=cents, unit=base)


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

    Every step is exact integer arithmetic: quantize once at 1e6,
    integer squared distances, ties to the lowest code, floor-mean
    updates, an emptied code keeps its centroid.  Seeds are the ``k``
    smallest-id vectors (``k`` clamps to the vectors present).  So codes
    and reconstruction error are bit-identical across engines and an
    unrolled-CTE oracle verifies them value-for-value.
    :func:`corpus.kmeans_fixedpoint` is this training with one subspace.

    Scale shape: the vector explodes into (vec_id, sub, xq[d_sub]) rows
    and ONE grouped-map job keyed by ``sub`` runs every round of every
    subspace in numpy (:func:`_lloyd`), returning only the codebook
    (n_sub·k·d_sub ints, ~8 KB) to the driver.  Each task holds one
    subspace of the training set: at 100 TB the codebook trains on a
    bounded sample.  The final assignment bakes the codebook into the
    plan as one rendered SQL literal (k folds per (row, sub)), and the
    code pivot is one vec_id-keyed aggregate."""
    x = F.col(vec_col).cast("array<double>")
    xq = F.transform(x, lambda v: F.floor(v * 1_000_000 + 0.5).cast("long"))
    # subvector extents are EXPRESSIONS over size(xq), not Python ints,
    # so no probe job runs just to learn the dimension; the training
    # task reports it
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
    dim, rows = _train_grouped(
        base, "sub", "sq", "PQ", k, iters, _pq_dist, _pq_mean,
        keep_empty=True,
    )
    if dim % n_sub != 0:
        # a silent floor would DROP the tail dims from every code —
        # fail loudly instead (FAISS imposes the same divisibility)
        raise ValueError(
            f"PQ requires dim % n_sub == 0, got dim={dim}, n_sub={n_sub}"
        )
    k = 1 + max(r["cid"] for r in rows)
    # cents[sub][j] = centroid j of subspace sub
    cents: list[list[list[int]]] = [[None] * k for _ in range(n_sub)]
    for r in rows:
        cents[r["sub"]][r["cid"]] = list(r["c"])

    # The full codebook as ONE rendered SQL expression: PySpark expands a
    # list lit into ``array(lit, ...)`` element by element (n_sub*k*d_sub
    # = 1024 py4j roundtrips at the defaults); the rendered string is one
    # py4j call and one parse (see unit_cells).  Integer codebook values
    # render exactly.  array_min over struct(dist2, code) keeps the
    # lowest-code tiebreak.
    cb_sql = (
        "array("
        + ", ".join(
            "array(" + ", ".join(_sql_long_array(c) for c in sub) + ")"
            for sub in cents
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
    final = base.select(
        "_id", "sub", best["code"].alias("code"), best["dist2"].alias("dist2_fp")
    )
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


def _quantize(vec) -> list[int]:
    """A driver-side vector in PQ's 1e6 fixed-point integer domain."""
    return [int(math.floor(v * 1_000_000 + 0.5)) for v in vec]


def _adc_tables(qq: list[int], codebook) -> list[list[int]]:
    """Per-subspace ADC lookup tables for the quantized query ``qq``:
    ``tables[s][j]`` is the int64 squared distance from the query's
    subvector ``s`` to centroid ``j`` of subspace ``s``."""
    d_sub = len(codebook[0][0])
    return [
        [
            sum((qq[s * d_sub + d] - c[d]) ** 2 for d in range(d_sub))
            for c in cents
        ]
        for s, cents in enumerate(codebook)
    ]


def _adc_score(tables: list[list[int]]) -> "F.Column":
    """The ADC score of a code row: the sum over subspaces of
    ``tables[s][c{s}]``, each table one rendered array literal."""
    adc = None
    for s, tab in enumerate(tables):
        term = F.element_at(F.expr(_sql_long_array(tab)), F.col(f"c{s}") + 1)
        adc = term if adc is None else adc + term
    return adc.cast("long")


def _query_vector(
    shared: DataFrame, query_id: int, vec_col: str, id_col: str
) -> list[float]:
    """The raw vector of row ``query_id``; raises if it is absent."""
    row = shared.where(F.col(id_col) == query_id).select(vec_col).first()
    if row is None:
        raise ValueError(f"query_id {query_id} not present in {id_col}")
    return list(row[0])


def rank_cells(u_q: list[float], cents) -> list[int]:
    """Every cell of ``cents`` ordered by :func:`unit_cells`' integer
    distance to the unit vector ``u_q``, ties to the lowest cell — the
    driver-side probe order."""

    def d_fp(c: list[float]) -> int:
        return sum(
            int(math.floor((a - b) * (a - b) * 1e12 + 0.5)) for a, b in zip(u_q, c)
        )

    return [cell for _, cell in sorted((d_fp(c), cell) for cell, c in cents)]


def _probe(qv: list[float], cents, n_probe: int):
    """Driver-side replica of :func:`_unit_fixedpoint` on one raw query
    vector — each step the same single IEEE double op Spark performs
    (floor-quantized squared-coordinate sum, sqrt, 1e-12 floor), so
    ``u_q`` is bit-identical to the frame version at zero Spark jobs —
    and its ``n_probe`` nearest cells (:func:`rank_cells`).  Returns
    (u_q, probe_cells)."""
    norm_fp = sum(int(math.floor(v * v * 1e12 + 0.5)) for v in qv)
    nrm = max(math.sqrt(norm_fp / 1e12), 1e-12)
    u_q = [v / nrm for v in qv]
    return u_q, rank_cells(u_q, cents)[:n_probe]


def _probed_topk(
    codes: DataFrame,
    cells: DataFrame,
    probe_cells: list[int],
    adc: "F.Column",
    query_id: int,
    id_col: str,
    k_out: int,
) -> DataFrame:
    """The IVF-PQ cut: codes of the probed cells minus the query row,
    scored by ``adc``, top ``k_out`` by (adc_fp, id)."""
    cand = codes.join(cells, on=id_col).where(
        F.col("cell").isin([int(c) for c in probe_cells])
        & (F.col(id_col) != query_id)
    )
    return (
        cand.select(
            F.col(id_col), F.col("cell").cast("int").alias("cell"), adc.alias("adc_fp")
        )
        .orderBy(F.col("adc_fp").asc(), F.col(id_col))
        .limit(k_out)
    )


def pq_adc_topk(
    emb: DataFrame,
    query_vec: "Sequence[float]",
    k_out: int = 5,
    n_sub: int = 8,
    k: int = 16,
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
    model = pq_train(emb, n_sub=n_sub, k=k, vec_col=vec_col, id_col=id_col)
    codes = model.codes
    if exclude_id is not None:
        # the query row trains/encodes like everything else but must not
        # appear in its own result list — filter BEFORE the top-k cut
        codes = codes.where(F.col(id_col) != exclude_id)
    qq = _quantize(query_vec)
    if len(qq) != n_sub * model.d_sub:
        raise ValueError(
            f"query_vec has {len(qq)} dims, index expects {n_sub * model.d_sub}"
        )
    return (
        codes.select(
            F.col(id_col), _adc_score(_adc_tables(qq, model.codebook)).alias("adc_fp")
        )
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
    with :func:`pq_train`; exact side is int64 squared L2 on
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
    codes = model.codes

    x = F.col(vec_col).cast("array<double>")
    xq = F.transform(x, lambda v: F.floor(v * 1_000_000 + 0.5).cast("long"))
    quant = emb.select(F.col(id_col).alias("_id"), xq.alias("xq"))
    qrows = quant.orderBy("_id").limit(n_queries).collect()
    queries = [(int(r["_id"]), list(r["xq"])) for r in qrows]

    joined = codes.join(
        quant, codes[id_col] == quant["_id"], "inner"
    ).select(codes[id_col].alias("_vid"), *[f"c{s}" for s in range(n_sub)], "xq")

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
                        _adc_score(_adc_tables(qq, model.codebook)).alias(
                            "adc_fp"
                        ),
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
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ composite top-k — the two pruning layers of a production
    ANN index (the FAISS ``IVFx,PQy`` shape) composed from this module's
    oracled primitives: the coarse quantizer
    (:func:`ivf_train`) partitions the corpus into cells and
    the query probes only the ``n_probe`` nearest, then PQ-ADC
    (:func:`pq_train` tables) scores ONLY the probed cells'
    codes — at 100 TB the cell is the table's partition column (written
    at index build), so the probe is partition PRUNING of an 8-byte-per-
    vector scan: two multiplicative reductions before any work happens.

    Honest deviation from FAISS: codes quantize the RAW vector, not the
    cell residual (IVFFlat-style coarse layer + PQ compression), so the
    code frame is cell-independent and one codebook serves every cell —
    :func:`ivfpq_residual_topk` is the residual variant.

    Exactness: probe selection uses the same 1e-12 fixed-point unit-
    sphere distance as cell assignment (driver-replicated bit-for-bit by
    :func:`_probe`), ADC is the 1e6 integer domain of PQ training, and
    the final cut orders by (adc_fp, id) — fully SQL-verifiable end to
    end.

    Build shape: one eagerly checkpointed (id, vector-as-double) frame
    feeds everything, so the source is scanned once (the cast is exact,
    so results are unchanged).  The two trainings are independent, each
    one grouped-map job (all Lloyd rounds inside the task, on a bounded
    sample at scale), so they run on two driver threads next to a third
    that fetches the query row; the build waits for the slowest."""
    shared = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).localCheckpoint(eager=True)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        ivf_f = pool.submit(
            ivf_train, shared, vec_col=vec_col, id_col=id_col, n_cells=n_cells
        )
        pq_f = pool.submit(pq_train, shared, vec_col=vec_col, id_col=id_col)
        q_f = pool.submit(_query_vector, shared, query_id, vec_col, id_col)
        ivf, pq, qv = ivf_f.result(), pq_f.result(), q_f.result()
    _, probe_cells = _probe(qv, ivf.centroids, n_probe)
    adc = _adc_score(_adc_tables(_quantize(qv), pq.codebook))
    return _probed_topk(
        pq.codes, ivf.assignments, probe_cells, adc, query_id, id_col, k_out
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """RESIDUAL-encoding IVF-PQ top-5 (8 cells, 2 probed) — the full
    FAISS ``IVFx,PQy`` recipe [Jégou et al. 2011 §III]: PQ codes quantize
    the residual u - c(cell) to the vector's coarse centroid, not the raw
    vector, which is what makes one small codebook serve a corpus whose
    cells sit far apart (each cell's residual cloud is centered at the
    origin, so codebook capacity is spent on LOCAL structure).
    :func:`ivfpq_topk` is the
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

    Build shape: each training is one grouped-map job with every Lloyd
    round inside the task (on a bounded sample at scale); the shared
    checkpoint is lazy (materialized by the IVF training, the first job
    that reads it), and the query-row fetch runs on a side thread next
    to PQ training.  Job count pinned in tests/test_ml_lsh.py."""
    shared = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).localCheckpoint(eager=False)
    ivf = ivf_train(shared, vec_col=vec_col, id_col=id_col)
    cells, cents = ivf.assignments, ivf.centroids
    # residuals on the SAME unit frame ivf assigned from (training already
    # materialized it); centroid lookup is a map literal keyed by cell id
    # (cells can drop out of Lloyd rounds, so ids may be non-contiguous —
    # element_at on a dense array would misalign)
    cmap = F.expr(
        "map_from_arrays("
        + _sql_long_array([cell for cell, _ in cents])
        + ", array("
        + ", ".join(_sql_double_array(c) for _, c in cents)
        + "))"
    )
    resid = (
        ivf.unit.join(
            cells.select(F.col(id_col).alias("_id"), "cell"), "_id"
        )
        .select(
            F.col("_id").alias(id_col),
            F.zip_with(
                "u", F.element_at(cmap, F.col("cell")), lambda a, b: a - b
            ).alias("resid"),
        )
        .localCheckpoint(eager=False)  # feeds training and the final codes
    )
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        q_f = pool.submit(_query_vector, shared, query_id, vec_col, id_col)
        pq = pq_train(resid, vec_col="resid", id_col=id_col)
        qv = q_f.result()
    u_q, probe_cells = _probe(qv, cents, 2)
    by_cell = dict(cents)
    # per-probed-cell ADC tables from the query's per-cell residual —
    # the residual recipe's extra cost vs the composite's single table
    tabs = {
        cell: _adc_tables(
            _quantize([a - b for a, b in zip(u_q, by_cell[cell])]), pq.codebook
        )
        for cell in probe_cells
    }
    adc = None
    for s in range(pq.n_sub):
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
    return _probed_topk(
        pq.codes, cells, probe_cells, adc.cast("long"), query_id, id_col, 5
    )
