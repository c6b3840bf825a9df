"""Fixed-point IVF / PQ vector-index operators: exactness against brute force,
determinism, guardrails and training job budgets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators import ml_lsh
from reddit_sse_stream_spark.operators.similarity import brute_force_topk
from reddit_sse_stream_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # unpersist at teardown: a cached relation left in the CacheManager
    # substitutes into later modules' plans (cache lookup is by analyzed
    # subtree), where it breaks the plan-identity that exchange reuse
    # needs — test_operators' single-bucketing-pass regression test sees
    # a third MapInPandas kernel if this leaks
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def qvec(emb):
    return list(emb.filter(F.col("vec_id") == 0).first()["embedding"])


def test_ivf_full_probe_equals_bruteforce(emb, qvec):
    """Probing every cell degenerates to exact search — the correctness
    invariant that holds regardless of data geometry. (These synthetic
    embeddings are near-random — same-label mean cosine 0.017 — so a
    partial-probe recall bound would only measure chance.)"""
    others = emb.filter(F.col("vec_id") != 0)
    exact = [(r["vec_id"], r["cos_sim"]) for r in brute_force_topk(others, qvec, k=5).collect()]
    full = [
        (r["vec_id"], r["cos_sim"])
        for r in ml_lsh.ivf_topk_cosine(others, qvec, k=5, n_cells=8, n_probe=8).collect()
    ]
    assert full == exact


def test_ivf_partial_probe_scores_are_exact_cosines(emb, qvec):
    """Partial probe returns a candidate subset whose scores agree with the
    exact scorer (pruning changes recall, never correctness of a score)."""
    others = emb.filter(F.col("vec_id") != 0)
    exact_all = {
        r["vec_id"]: r["cos_sim"]
        for r in brute_force_topk(others, qvec, k=others.count()).collect()
    }
    approx = ml_lsh.ivf_topk_cosine(others, qvec, k=5, n_cells=8, n_probe=2).collect()
    assert 0 < len(approx) <= 5
    for r in approx:
        assert exact_all[r["vec_id"]] == r["cos_sim"]


def test_pq_codes_deterministic_and_reconstruction_sane(spark, sf_dir):
    """PQ codes must be partitioning-invariant (pure function of the
    data) and the learned codebook must beat the round-0 seeds: every
    vector's reconstruction error is <= its distance to the nearest
    SEED subvectors, summed — Lloyd rounds only improve the quantizer."""
    from reddit_sse_stream_spark.operators.ml_lsh import pq_train
    from reddit_sse_stream_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, pq_train(emb).codes.collect()))
    b = sorted(map(tuple, pq_train(emb.repartition(7)).codes.collect()))
    assert a == b and len(a) == emb.count()
    zero_rounds = sorted(
        map(tuple, pq_train(emb, iters=0).codes.collect())
    )
    trained = {t[0]: t[-1] for t in a}
    seeded = {t[0]: t[-1] for t in zero_rounds}
    # mean recon must not get worse with training; allow per-vector ties
    assert sum(trained.values()) <= sum(seeded.values())
    assert all(v >= 0 for v in trained.values())


def test_pq_recall_audit_bounds_and_degenerate_perfection(spark, sf_dir):
    """The audit's numbers must be internally consistent (0 <= hits <=
    k_out, recall = hits/k_out) and honest at the boundary: on a corpus
    the codebook can represent EXACTLY (k distinct vectors, so every
    vector sits on a centroid after training), ADC distance equals exact
    quantized distance and recall@k must be 1.0 for every query."""
    from pyspark.sql import Row

    from reddit_sse_stream_spark.operators.ml_lsh import pq_recall_audit
    from reddit_sse_stream_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = pq_recall_audit(emb, n_queries=4, k_out=5).collect()
    assert len(rows) == 4
    for r in rows:
        assert 0 <= r["hits"] <= 5
        assert abs(r["recall_at_k"] - r["hits"] / 5) < 1e-9
    # degenerate-perfection corpus: 16 distinct base vectors, repeated
    base = [[float((7 * i + d) % 16) for d in range(16)] for i in range(16)]
    data = [
        Row(vec_id=i, embedding=base[i % 16]) for i in range(64)
    ]
    tiny = spark.createDataFrame(data)
    perfect = pq_recall_audit(
        tiny, n_queries=3, k_out=3, n_sub=4, k=16, iters=2
    ).collect()
    assert all(r["recall_at_k"] == 1.0 for r in perfect)


def test_ivfpq_topk_subset_and_pruning_semantics(spark, sf_dir):
    """IVF-PQ must return candidates ONLY from the probed cells, ranked
    by the SAME ADC score the unpruned PQ path computes: with n_probe =
    n_cells (no pruning) the result must equal pq_adc_topk's ids
    exactly, and with n_probe < n_cells every returned id must belong to
    a probed cell (the partition-pruning contract)."""
    from reddit_sse_stream_spark.operators.ml_lsh import (
        ivf_train,
        ivfpq_topk,
        pq_adc_topk,
    )
    from reddit_sse_stream_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])

    full = ivfpq_topk(emb, query_id=0, k_out=5, n_probe=8, n_cells=8)
    unpruned = pq_adc_topk(emb, qv, k_out=5, exclude_id=0)
    assert [r["vec_id"] for r in full.collect()] == [
        r["vec_id"] for r in unpruned.collect()
    ]

    pruned = ivfpq_topk(emb, query_id=0, k_out=5, n_probe=2, n_cells=8)
    cells = {
        r["vec_id"]: r["cell"] for r in ivf_train(emb).assignments.collect()
    }
    rows = pruned.collect()
    assert 0 < len(rows) <= 5
    probed = {r["cell"] for r in rows}
    assert len(probed) <= 2
    for r in rows:
        assert cells[r["vec_id"]] == r["cell"]


def test_ivf_assign_matches_training_and_is_map_only(spark, sf_dir):
    """ivf_assign is the index-maintenance surface: (a) re-assigning the
    TRAINING vectors against the frozen centroids reproduces their
    training-time cells exactly (same arithmetic, same tiebreak), and
    (b) the assignment plan is a pure map pass — zero Exchange operators
    — because at 100 TB this runs on every ingest batch."""
    from reddit_sse_stream_spark.operators.ml_lsh import ivf_assign, ivf_train

    emb_df = load_table(spark, sf_dir, "embeddings")
    train = emb_df.filter(F.col("vec_id") % 2 == 0)
    model = ivf_train(train)
    trained = {r["vec_id"]: r["cell"] for r in model.assignments.collect()}
    re_assigned = {
        r["vec_id"]: r["cell"] for r in ivf_assign(model, train).collect()
    }
    assert re_assigned == trained
    plan = (
        ivf_assign(model, emb_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    # arriving batch lands in valid cells only
    cells = {c for c, _ in model.centroids}
    newly = ivf_assign(model, emb_df.filter(F.col("vec_id") % 2 == 1))
    assert {r["cell"] for r in newly.collect()} <= cells


def _jobs_during(spark, action) -> int:
    """Spark jobs ``action`` submits, counted between two marker jobs
    (job ids are globally monotone, so this also captures AQE and
    broadcast sub-jobs and jobs submitted from side threads)."""
    sc = spark.sparkContext

    def marker(tag: str) -> int:
        sc.setJobGroup(tag, tag)
        spark.range(1).count()
        ids = sc.statusTracker().getJobIdsForGroup(tag)
        sc.setJobGroup("other", "other")
        return max(ids)

    before = marker("jobs_m1")
    action()
    # a marker's count runs two jobs and max() takes the later one, so
    # the second marker's first job also lies in the gap
    return marker("jobs_m2") - before - 2


def test_lloyd_training_is_one_grouped_job(spark, sf_dir, qvec):
    """Each fixed-point Lloyd training (IVF, PQ, and k-means as a
    one-subspace PQ) runs every round inside one grouped-map task and
    returns only its centroid table: the exchange feeding the task and
    the collect, whatever the round count (5 jobs for IVF and PQ, 7 for
    k-means, with per-round driver loops).  Building the IVF top-k is
    that training plus a driver-side probe."""
    from reddit_sse_stream_spark.operators import corpus

    emb = load_table(spark, sf_dir, "embeddings")
    builds = {
        "ivf_train": lambda: ml_lsh.ivf_train(emb),
        "ivf_train(iters=6)": lambda: ml_lsh.ivf_train(emb, iters=6),
        "pq_train": lambda: ml_lsh.pq_train(emb),
        "kmeans_fixedpoint": lambda: corpus.kmeans_fixedpoint(emb),
        "ivf_topk_cosine": lambda: ml_lsh.ivf_topk_cosine(
            emb, qvec, k=5, n_cells=8, n_probe=2
        ),
    }
    for name, build in builds.items():
        build()  # warm codegen and the scan
        n_jobs = _jobs_during(spark, build)
        assert n_jobs <= 2, f"{name} submitted {n_jobs} training jobs"


def test_residual_ivfpq_job_budget(spark, sf_dir):
    """The residual recipe's wall cost is its sequential driver-sync
    constant, so the Spark-job count is pinned: the two one-job
    trainings, the lazy shared checkpoint (no standalone materialization
    job), and the threaded query-row fetch must not regress back into
    extra actions.  Measured 9 jobs at sf0.001 (15 with per-round
    training loops); the bound leaves a headroom of 4 for AQE
    variation."""
    from reddit_sse_stream_spark.operators.ml_lsh import ivfpq_residual_topk

    emb_df = load_table(spark, sf_dir, "embeddings")
    ivfpq_residual_topk(emb_df, query_id=0).collect()  # warm codegen/scan
    rows = []
    n_jobs = _jobs_during(
        spark, lambda: rows.extend(ivfpq_residual_topk(emb_df, query_id=0).collect())
    )
    assert len(rows) == 5
    assert n_jobs <= 13, f"residual IVF-PQ submitted {n_jobs} jobs"


def test_ann_guardrails_fail_loudly(spark, sf_dir):
    """Misconfiguration must raise with a clear message, not silently
    truncate codes / crash deep in a plan: non-divisible PQ dims, a
    missing IVF-PQ query id, a wrong-length ADC query vector, and a
    nonpositive lineage batch size."""
    import pytest as _pytest

    from reddit_sse_stream_spark.operators import corpus
    from reddit_sse_stream_spark.operators.ml_lsh import (
        ivfpq_topk,
        pq_adc_topk,
        pq_train,
    )
    from reddit_sse_stream_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="dim % n_sub"):
        pq_train(emb, n_sub=7)
    with _pytest.raises(ValueError, match="not present"):
        ivfpq_topk(emb, query_id=-1)
    with _pytest.raises(ValueError, match="dims"):
        pq_adc_topk(emb, [0.0] * 63)
    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError, match="positive"):
        corpus.batch_lineage(docs, batch_size=0)


def test_pq_full_frame_dim_guard_catches_rogue_row(spark):
    """ADVICE r09: the seed-level uniform-dim check only sees the k*n_sub
    smallest-id rows, so a wrong-dimension vector elsewhere in the corpus
    used to be silently slice-truncated.  The full-frame min/max(nd)
    check riding the first Lloyd exchange must raise on it — here the
    rogue 96-dim vector has the LARGEST id, guaranteed past the seeds."""
    import pytest as _pytest

    from reddit_sse_stream_spark.operators.ml_lsh import pq_train

    rows = [(i, [float(i + d) for d in range(8)]) for i in range(6)]
    rows.append((999, [1.0] * 12))  # rogue dim, id beyond every seed
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match=r"dims in \[8, 12\]"):
        pq_train(emb, n_sub=4, k=2, iters=1)
    # same corpus without the rogue row trains fine
    clean = spark.createDataFrame(
        rows[:-1], "vec_id long, embedding array<double>"
    )
    assert pq_train(clean, n_sub=4, k=2, iters=1).codes.count() == 6


def test_pq_codebook_clamps_to_available_vectors(spark):
    """ADVICE r07: < k distinct vectors used to leave None slots in the
    seeded codebook and blow up the literal build with an opaque
    TypeError.  Pin: the codebook clamps to the seed count, every code
    stays in range, the query paths honor the clamped k, and an empty
    input raises a clear ValueError."""
    from pyspark.sql import Row

    from reddit_sse_stream_spark.operators.ml_lsh import (
        pq_adc_topk,
        pq_train,
    )

    data = [
        Row(vec_id=i, embedding=[float((3 * i + d) % 5) for d in range(16)])
        for i in range(6)  # 6 vectors << k=16
    ]
    tiny = spark.createDataFrame(data)
    model = pq_train(tiny, n_sub=4, k=16, iters=1)
    assert model.k == 6 and model.n_sub == 4 and model.d_sub == 4
    rows = model.codes.collect()
    assert len(rows) == 6
    for r in rows:
        for s in range(4):
            assert 0 <= r[f"c{s}"] < 6
    top = pq_adc_topk(
        tiny, data[0]["embedding"], k_out=3, n_sub=4, k=16, exclude_id=0
    ).collect()
    assert len(top) == 3 and all(r["vec_id"] != 0 for r in top)
    empty = tiny.where(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="at least one vector"):
        pq_train(empty, n_sub=4, k=16)
