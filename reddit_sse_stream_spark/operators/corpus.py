"""Corpus-organization operators: the training-data plumbing that sits
AFTER per-document scoring and dedup — cleaning, the final keep/drop gate,
deterministic train/val splitting, and shard assignment with a
reproducible shuffle order.  (The reference engine has none of this; the
operators generalize its per-event filter pipeline to corpus curation,
SURVEY.md §2.8 north-star.)

Scale notes common to all four:

- Everything is pure codegen Column algebra over one pass of the
  documents table — zero shuffles except the per-shard window in
  :func:`shard_assignments` (one exchange on the shard key, which at
  100 TB is exactly the write partitioning the shards need anyway).
- All randomness is hash-derived (60-bit md5, ``dedup.md5_hash60``), so
  splits, shard membership, and shuffle order are deterministic functions
  of the data — re-running the pipeline on the same corpus reproduces the
  same training mix bit for bit, and both engines of the oracle pair
  compute the identical assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators import dedup, text
from reddit_sse_stream_spark.operators.sqlrender import sql_double_array

#: 2^60 as a double — md5_hash60 values are uniform on [0, 2^60), so
#: dividing yields a deterministic pseudo-uniform u in [0, 1).
_HASH60_SPAN = float(1 << 60)


def _unit_hash(col, salt: str) -> "F.Column":
    """Deterministic pseudo-uniform u in [0, 1) from a salted 60-bit md5.
    Distinct salts give independent streams (split vs shuffle order), so
    e.g. the val set is NOT biased toward any shard."""
    return dedup.md5_hash60(F.concat(F.lit(salt), col.cast("string"))) / F.lit(
        _HASH60_SPAN
    )


def clean_normalize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Text cleaning: case-fold, collapse whitespace runs, strip characters
    outside [a-z0-9 ] — the canonical form fingerprinting and exact dedup
    want to see.  Emits the cleaned text plus before/after char counts so a
    downstream gate can bound how much cleaning destroyed.

    Regex patterns stay inside the Java/RE2 common dialect (explicit
    classes, no lookaround) so the DuckDB oracle applies the identical
    transformation."""
    t = F.col(text_col)
    collapsed = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    cleaned = F.regexp_replace(collapsed, "[^a-z0-9 ]", "")
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars_raw"),
        cleaned.alias("text_clean"),
        F.length(cleaned).alias("n_chars_clean"),
        (F.length(t) - F.length(cleaned)).alias("n_removed"),
    )


# PII patterns, Java/RE2 common dialect (explicit classes, \b word
# boundaries, no lookaround) so the DuckDB oracle redacts identically.
# Ordering is load-bearing: emails first (their local/domain parts contain
# dots and digits that the later patterns could otherwise nibble), then
# IPv4, then dash-separated phones (a phone's final group is 4 digits, so
# no IPv4 octet sequence can also match it).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction pass every public-web training corpus
    runs before anything else sees the text (emails, IPv4 addresses, phone
    numbers → typed placeholder tokens), with per-category match counts so
    a curation report can rank sources by PII density.

    Counts are taken SEQUENTIALLY on the progressively-redacted text
    (emails counted on the input, IPs on the email-redacted text, phones
    on the IP-redacted text), which makes each count well-defined even
    where categories could overlap — the same chain both engines of the
    oracle pair execute, in the same order.

    Scale: pure codegen regexp algebra over one pass, zero shuffles, zero
    Python — at 100 TB this is a map-only stage that fuses into whatever
    scan feeds it."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, PII_EMAIL, "[EMAIL]")
    t2 = F.regexp_replace(t1, PII_IPV4, "[IP]")
    t3 = F.regexp_replace(t2, PII_PHONE, "[PHONE]")
    return df.select(
        "doc_id",
        t3.alias("redacted"),
        F.regexp_count(t0, F.lit(PII_EMAIL)).cast("bigint").alias("n_email"),
        F.regexp_count(t1, F.lit(PII_IPV4)).cast("bigint").alias("n_ip"),
        F.regexp_count(t2, F.lit(PII_PHONE)).cast("bigint").alias("n_phone"),
    )


def rp_signs(out_dim: int, dim: int) -> list[list[int]]:
    """The deterministic ±1 sign matrix for :func:`random_projection_sketch`:
    sign[j][d] = +1 if md5("rp:{d}:{j}") is even in its first 15 hex
    digits, else -1.  Computed driver-side with hashlib, whose md5 of the
    identical string matches SQL ``md5()`` in any engine — so an oracle can
    either inline the same CASE-on-md5 expression or embed these literals,
    and both engines project through the same matrix."""
    import hashlib

    def sgn(d: int, j: int) -> int:
        h = int(hashlib.md5(f"rp:{d}:{j}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    return [[sgn(d, j) for d in range(dim)] for j in range(out_dim)]


def random_projection_sketch(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Signed random projection (Achlioptas ±1 variant) of a 64-dim
    embedding column down to 8 components — the dimensionality-reduction
    sketch that feeds LSH tables, coarse clustering, or a visual map
    without shipping full vectors.

    proj_j = sum_d vec[d] * sign(d, j), accumulated in EXACT fixed point:
    each addend is floor(v * s * 1e6 + 0.5) as int64 (v float32→double is
    exact, s ∈ {-1, +1}), so the per-component sum is an associative
    integer total — bit-identical across partitionings and engines — and
    the final /1e6 is one correctly-rounded IEEE division.

    Scale: the sign matrix is data-independent and tiny (8 × 64
    literals baked into the plan — nothing is broadcast, nothing joins),
    and each component is a zip_with/aggregate over the row's own array:
    map-only, zero shuffles, linear in 8 × 64 per row."""
    signs = rp_signs(8, 64)
    x = F.col(vec_col).cast("array<double>")
    cols = []
    for j in range(8):
        # rendered SQL constant, not element-wise F.lit (r15 — see
        # operators/sqlrender.py; ±1 doubles render exactly)
        s_j = F.expr(sql_double_array(signs[j]))
        total = F.aggregate(
            F.zip_with(
                x, s_j, lambda v, s: F.floor(v * s * 1_000_000 + 0.5).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )
        cols.append((total / F.lit(1_000_000.0)).alias(f"proj_{j}"))
    return df.select(id_col, *cols)


def cap_per_group(
    df: DataFrame, group_col: str = "source", k: int = 20, id_col: str = "doc_id"
) -> DataFrame:
    """Anti-dominance cap: keep at most ``k`` documents per group (source,
    domain, ...), chosen by a deterministic salted-hash order — the
    standard curation step that stops one crawler-friendly site from
    owning the training mix.  Hash order ≈ a uniform random sample, but
    reproducible across reruns, cluster sizes, and engines (doc_id
    tiebreak pins ties).

    Scale: one shuffle on the group key; the ``pos <= k`` filter directly
    over row_number lets Catalyst rewrite the sort into WindowGroupLimit —
    each map task keeps only its local top-k per key BEFORE the exchange,
    so a hot group ships ~k rows per upstream partition, not its full
    membership."""
    hv = dedup.md5_hash60(F.concat(F.lit("cap:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(hv.asc(), F.col(id_col).asc())
    return (
        df.select(id_col, group_col, F.row_number().over(w).alias("pos"))
        .filter(F.col("pos") <= k)
    )


def standardize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column — the
    feature-scaling pass before distance-based clustering or a quantizer
    whose cells should weight dimensions equally.

    Two passes: (1) per-dimension mean and E[x²] over the whole corpus,
    accumulated from EXACT fixed-point addends (floor(v·1e6 + 0.5), and
    floor(v²·1e6 + 0.5) — both pure IEEE ops on identical doubles, so the
    int64 sums are bit-identical across engines and shuffle orders), then
    folded into ONE row holding a means[] and stds[] array; (2) a
    broadcast cross join of that row and a zip_with chain
    (v − mean_d) / std_d per element.  Since mean/std come out
    bit-identical and the final subtract/divide are single IEEE ops, the
    standardized doubles need no quantization to oracle-match.

    Guards: variance is clamped at 0 before the sqrt (exact-cancellation
    can land ~−1e-16) and std at 1e-12 (a constant dimension standardizes
    to 0, not NaN).

    Scale: the stats explode is CPU-only — partial aggregation combines to
    ``dim`` rows per task before the (64-key) exchange, the one-row stats
    frame broadcasts, and the standardize pass is map-only.  The full
    arrays never cross a shuffle."""
    x = F.col(vec_col).cast("array<double>")
    ex = df.select(F.posexplode(x).alias("d", "v"))
    n = F.count("*")
    mean = (F.sum(F.floor(F.col("v") * 1_000_000 + 0.5).cast("long")) / 1_000_000.0) / n
    ex2 = (
        F.sum(F.floor(F.col("v") * F.col("v") * 1_000_000 + 0.5).cast("long"))
        / 1_000_000.0
    ) / n
    st = ex.groupBy("d").agg(mean.alias("mean"), ex2.alias("ex2"))
    st = st.select(
        "d",
        "mean",
        F.greatest(
            F.sqrt(F.greatest(F.col("ex2") - F.col("mean") * F.col("mean"), F.lit(0.0))),
            F.lit(1e-12),
        ).alias("std"),
    )
    one = st.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mean"))), lambda s: s["mean"]
        ).alias("means"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "std"))), lambda s: s["std"]
        ).alias("stds"),
    )
    return df.crossJoin(F.broadcast(one)).select(
        id_col,
        F.zip_with(
            F.zip_with(x, F.col("means"), lambda v, m: v - m),
            F.col("stds"),
            lambda u, s: u / s,
        ).alias("zvec"),
    )


def _dot_fp(v: list[float]) -> "F.Column":
    """int64 fixed-point dot of the ``x`` column with the driver-held
    vector ``v``: each product floor-quantized at 1e-12, summed exactly.
    ``v`` ships as one rendered SQL constant, not element-wise ``F.lit``
    (sqlrender.py; bit-exact by the shortest-roundtrip CAST contract)."""
    v_lit = F.expr(sql_double_array(v))
    return F.aggregate(
        F.zip_with(
            F.col("x"), v_lit, lambda a, b: F.floor(a * b * 1e12 + 0.5).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )


def pca_top_component(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", dim: int = 64
) -> DataFrame:
    """Top principal direction of an embedding column by power iteration,
    returning each vector's projection onto it (the 1-D "spread" axis a
    curation pipeline uses for coverage binning or outlier trims) —
    iterative distributed linear algebra with EXACT cross-engine
    reproducibility.

    v_{t+1} = normalize(X^T (X v_t)), v_0 = 1/8 on every dimension, a
    fixed 4 rounds (deterministic, and unrollable as SQL CTEs for
    the oracle twin).  Every accumulation is fixed-point int64 — per-row
    dots quantize addends at 1e-12, the X^T fold at 1e-9, norm squares at
    1e-12 — and every scalar step between them is a single IEEE op
    (multiply, divide, sqrt, floor), so Spark, the driver-side Python that
    folds the 64 per-dimension sums into the next iterate, and a SQL
    engine running the identical expressions produce bit-identical
    iterates; v itself is re-quantized to 1e-6 each round to pin the
    state.

    Scale shape: the model vector (64 doubles) is DRIVER state — each
    round is one map pass over the (checkpointed) vectors computing dots
    against v as literals, a posexplode into (dim, addend), and a 64-key
    partial+final aggregate; collecting 64 longs per round is the
    parameter-server step, not a data collect.  Overflow headroom: the
    1e-9 fold quantum holds |x·dot| sums to ~8e18/(8·1e9) ≈ 1e9 rows per
    dimension; beyond that drop the fold quantum to 1e-6 (headroom 1e12
    rows) — the iterate quantization makes the result identical either
    way once re-quantized at 1e-6.

    Convergence needs a spectral gap — rate is (l2/l1)^4 over the 4 rounds,
    which nails a spiked corpus (the case where a dominant axis
    exists and matters) but no fixed round count resolves an isotropic
    one; raise the round count or gate on the Rayleigh-quotient delta
    when the gap is unknown."""
    import math

    x = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("_id"), x.alias("x")).localCheckpoint(
        eager=False
    )
    n = base.count()

    v = [0.125] * dim
    for _ in range(4):
        # explode-of-1-element-array barrier: materialize dot once per row
        # so the transform lambda below multiplies an attribute instead of
        # re-folding the whole dot product per element (HOF re-inline trap,
        # see operators/text.py:word_ngrams)
        withdot = base.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("x").alias("x"),
                        (_dot_fp(v) / F.lit(1e12)).alias("dot"),
                    )
                )
            ).alias("s")
        ).select(F.col("s.x").alias("x"), F.col("s.dot").alias("dot"))
        sums = (
            withdot.select(
                F.posexplode(
                    F.transform(
                        "x",
                        lambda xv: F.floor(xv * F.col("dot") * 1e9 + 0.5).cast("long"),
                    )
                ).alias("d", "c")
            )
            .groupBy("d")
            .agg(F.sum("c").alias("sfp"))
        )
        by_d = {r["d"]: r["sfp"] for r in sums.collect()}
        u = [(by_d.get(d, 0) / 1e9) / n for d in range(dim)]
        s2 = sum(int(math.floor(w * w * 1e12 + 0.5)) for w in u)
        nrm = max(math.sqrt(s2 / 1e12), 1e-12)
        v = [math.floor(w / nrm * 1e6 + 0.5) / 1e6 for w in u]

    # final projection, round-half-up to 1e-6 entirely in integer space
    pc1 = F.floor((_dot_fp(v) + F.lit(500000)) / F.lit(1e6)) / F.lit(1e6)
    return base.select(F.col("_id").alias(id_col), pc1.alias("pc1"))


def matryoshka_norm_retention(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector norm retention of matryoshka-style prefix truncations:
    for each prefix length m in (8, 16, 32),
    ``ret_m = floor(||x[:m]||² · 1e4 / ||x||²) / 1e4`` — the diagnostic a
    pipeline runs before swapping full vectors for truncated ones in a
    coarse ANN stage (MRL embeddings front-load information; a LOW
    retention at the chosen prefix says these vectors were not trained
    that way and truncation will wreck recall).

    Exactness: squared norms accumulate as int64 sums of
    ``floor(x_i²·1e6 + 0.5)`` addends (each a single IEEE op on the same
    double in any engine), prefix sums reuse the identical addends via
    slice, and the final ratio floors once — so every output hashes
    identically cross-engine with no tolerance band.

    Scale shape: map-only column algebra over one scan (the slice reuses
    the already-materialized array; norms are per-row folds), zero
    shuffles, zero Python — the cheapest possible audit of a 100 TB
    embedding table."""
    x = F.col(vec_col).cast("array<double>")
    q = F.transform(x, lambda v: F.floor(v * v * 1_000_000 + 0.5).cast("long"))
    # explode-of-1-element-array barrier: materialize the quantized-square
    # array once per row so the per-prefix folds below slice an attribute
    # instead of re-running the quantize transform per prefix (HOF
    # re-inline trap, see operators/text.py:word_ngrams)
    base = df.select(id_col, F.explode(F.array(q)).alias("q2"))
    ssum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda acc, e: acc + e
    )
    full = ssum(F.col("q2"))
    cols = [
        (
            F.floor(ssum(F.slice("q2", 1, m)) * 10000.0 / F.greatest(full, F.lit(1)))
            / 10000.0
        ).alias(f"ret_{m}")
        for m in (8, 16, 32)
    ]
    return base.select(id_col, full.alias("norm2_fp6"), *cols)


def kmeans_fixedpoint(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means over the embedding column with EVERY step in exact
    integer arithmetic — the semantic-clustering pass a curation pipeline
    runs before cluster-balanced sampling, per-cluster dedup, or topic
    pruning (SemDeDup-style), unrollable as SQL CTEs for the value
    oracle.  Output ``(id, cluster, dist2_fp)``.

    This is :func:`ml_lsh.pq_train` with ONE subspace (the codebook is
    the k centroids, code ``c0`` the cluster, ``recon_fp`` the squared
    distance to it), so it shares that recipe: quantize once at 1e6
    (int64), seeds = the ``k`` lowest-``id_col`` vectors (no RNG),
    argmin of an int64 squared distance with ties to the LOWEST cluster,
    floor-mean updates (one IEEE double op on a < 2^53 numerator), an
    emptied cluster keeps its centroid, ``k`` clamps to the vectors
    present.

    Scale shape: every round runs inside one grouped-map task, so
    training is one job that returns only the k·dim centroid table; at
    corpus scale it trains on a bounded sample.  The final assignment is
    one map pass with the centroids as plan literals.  The iterate count
    is fixed and small by design (cluster-balanced curation wants a
    coarse stable partition, not convergence to machine epsilon)."""
    from reddit_sse_stream_spark.operators.ml_lsh import pq_train

    codes = pq_train(
        df, n_sub=1, k=k, iters=iters, vec_col=vec_col, id_col=id_col
    ).codes
    return codes.select(
        id_col, F.col("c0").alias("cluster"), F.col("recon_fp").alias("dist2_fp")
    )


def mix_schedule(
    df: DataFrame, budget: int = 1_000_000, text_col: str = "text"
) -> DataFrame:
    """Training-mix token allocation: split an epoch's token ``budget``
    across sources proportionally to sqrt(source_tokens) — the standard
    sub-linear upweighting of small sources — with LARGEST-REMAINDER
    integer rounding so the allocations are whole tokens that sum to
    exactly ``budget``.

    Everything after the sqrt is integer arithmetic: weights quantize to
    int64 (floor(sqrt(n)·1e6) — sqrt and floor are single IEEE ops,
    identical in any engine), shares use integer DIV/% against the exact
    weight total, and the remainder seats go to the largest fractional
    parts (source name as the deterministic tiebreak).  No doubles are
    ever summed, so the schedule is bit-reproducible across engines,
    shuffle orders, and reruns.

    Scale: one groupBy on source (map-side combined token counts), then
    all scheduling windows run over the per-source frame — dimension-
    sized (thousands of rows at most), irrelevant next to the corpus
    scan."""
    toks = df.select("source", text.token_count(text_col).cast("long").alias("nt"))
    per = toks.groupBy("source").agg(F.sum("nt").alias("n_tokens"))
    per = per.withColumn(
        "w_fp",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000).cast("long"),
    )
    B = F.lit(int(budget)).cast("long")
    everything = Window.partitionBy()
    seats = Window.orderBy(F.desc("rem"), "source")
    alloc = (
        per.withColumn("w_total", F.sum("w_fp").over(everything))
        .withColumn("base", F.expr(f"CAST({int(budget)} AS BIGINT) * w_fp DIV w_total"))
        .withColumn("rem", (B * F.col("w_fp")) % F.col("w_total"))
        .withColumn("deficit", B - F.sum("base").over(everything))
        .withColumn("rk", F.row_number().over(seats))
        .withColumn(
            "alloc",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("deficit"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long"),
        )
    )
    return alloc.select("source", "n_tokens", "alloc")


def filter_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus's final keep/drop verdict: combines the quality-score and
    repetition operators with a metadata language gate, and emits one
    boolean per REASON alongside the verdict so curation is auditable
    (why-dropped histograms, threshold sweeps) instead of a bare filter.

    Thresholds sit inside the observed testdata bands on purpose, so the
    gate discriminates rather than rubber-stamping.  One doc_id-keyed
    shuffle (the repetition aggregate); quality metrics and the verdict
    itself are codegen-local."""
    q = text.quality_score(df, text_col).select(
        "doc_id", "n_words", "alpha_ratio"
    )
    r = text.repetition_score(df, text_col).select("doc_id", "dup_frac")
    flags = (
        df.select("doc_id", "lang")
        .join(q, "doc_id")
        .join(r, "doc_id")
        .select(
            "doc_id",
            (F.col("n_words") >= 30).cast("int").alias("len_ok"),
            (F.col("alpha_ratio") >= 0.8).cast("int").alias("alpha_ok"),
            (F.col("dup_frac") <= 0.05).cast("int").alias("rep_ok"),
            (F.col("lang") == "en").cast("int").alias("lang_ok"),
        )
    )
    keep = (
        (F.col("len_ok") == 1)
        & (F.col("alpha_ok") == 1)
        & (F.col("rep_ok") == 1)
        & (F.col("lang_ok") == 1)
    )
    return flags.select(
        "doc_id", "len_ok", "alpha_ok", "rep_ok", "lang_ok", keep.cast("int").alias("keep")
    )


def train_val_split(df: DataFrame, val_frac: float = 0.1) -> DataFrame:
    """Deterministic train/val assignment: u = hash(doc_id)/2^60 < val_frac
    -> val.  Hash-based (not ``rand()``) so membership is stable across
    reruns, cluster sizes, and engines — the property leakage audits
    depend on: a document can never silently migrate between splits."""
    u = _unit_hash(F.col("doc_id"), "split:")
    return df.select(
        "doc_id",
        F.when(u < F.lit(val_frac), F.lit("val")).otherwise(F.lit("train")).alias("split"),
    )


def split_leakage_safe(
    docs: DataFrame,
    pairs: DataFrame,
    val_frac: float = 0.1,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster-aware train/val split: every member of a near-dup cluster
    lands in the SAME split, so a validation document can never have a
    near-duplicate twin in the training set (the eval-leakage failure mode
    plain per-document hash splits cannot prevent).

    ``pairs`` is any near-dup edge list (minhash/LSH, n-gram jaccard,
    embedding cosine); connected components collapse it into clusters, the
    cluster representative is the min member id, and the split is the SAME
    salted-hash rule as :func:`train_val_split` applied to the
    representative — so documents with no near-dup (the overwhelming
    majority) get exactly the assignment the plain split would give them,
    and adding edges only ever MERGES assignments, never reshuffles
    untouched docs.

    Scale: connected components runs on the pair graph only (near-dup
    pairs are a vanishing fraction of the corpus), the label frame joins
    back to the corpus on the id key in one broadcast-or-shuffle join, and
    the split itself is codegen hash algebra — the corpus is scanned
    once."""
    comp = dedup.connected_components(pairs, src=src, dst=dst)
    labeled = docs.select(id_col).join(
        comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    rep = F.coalesce(F.col("component"), F.col(id_col))
    u = _unit_hash(rep, "split:")
    return labeled.select(
        F.col(id_col),
        rep.alias("cluster_rep"),
        F.when(u < F.lit(val_frac), F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def shard_assignments(df: DataFrame, n_shards: int = 16) -> DataFrame:
    """Training shards with a reproducible shuffle order: shard =
    hash(doc_id) mod n_shards, and WITHIN each shard a position drawn from
    an independent salted hash — the deterministic global shuffle a data
    loader consumes (shard files read in pos order = unbiased document
    order, identical on every rerun).

    One exchange on the shard key; at 100 TB that same key becomes the
    write partitioning, so the shuffle that orders the data is the shuffle
    that lays it out."""
    shard = F.pmod(dedup.md5_hash60(F.col("doc_id").cast("string")), F.lit(n_shards))
    order_u = _unit_hash(F.col("doc_id"), "order:")
    w = Window.partitionBy("shard").orderBy("order_u", "doc_id")
    return (
        df.select("doc_id", shard.alias("shard"), order_u.alias("order_u"))
        .select("doc_id", "shard", F.row_number().over(w).alias("pos"))
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Maxabs int8 scalar quantization of an embedding column — the
    standard compression step before shipping vectors to an ANN index or
    a training shard (4x smaller than float32, 8x than float64).

    Per vector: scale = max|x| (1e-30 floor guards the all-zero vector),
    q_i = floor(x_i/scale*127 + 0.5) in [-127, 127], plus the max absolute
    reconstruction error so a pipeline can gate on quantization loss.
    floor(x + 0.5) instead of round() for the same reason as the
    fixed-point money sums: both engines floor the identical IEEE double,
    while round() diverges on .5 representation ties.  Everything is
    codegen Column algebra over one pass — zero shuffles, zero Python.

    The (x, scale) pair is materialized behind an explode-of-1-element-
    array barrier: without it ProjectCollapse substitutes the array_max
    scale expression INSIDE the per-element lambdas, re-reducing the whole
    vector once per element (O(dim^2) per row — the HOF re-inline trap,
    see operators/text.py:word_ngrams).
    """
    x = F.col(vec_col).cast("array<double>")
    scale0 = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v))), F.lit(1e-30)
    )
    base = df.select(
        id_col,
        F.explode(F.array(F.struct(x.alias("x"), scale0.alias("scale")))).alias("b"),
    ).select(id_col, F.col("b.x").alias("x"), F.col("b.scale").alias("scale"))

    def qi(v):
        return F.floor(v / F.col("scale") * 127 + 0.5)

    max_err = F.array_max(
        F.transform("x", lambda v: F.abs(v - qi(v) * F.col("scale") / 127))
    )
    return base.select(
        id_col,
        F.floor(F.col("scale") * 1_000_000).alias("scale_fp6"),
        F.transform("x", lambda v: qi(v).cast("int")).alias("qvec"),
        (F.floor(max_err * 1_000_000) / 1_000_000.0).alias("max_err"),
    )


def dsir_weights(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """DSIR-style importance weights [Xie et al. 2023, arXiv:2302.03169]:
    score every document by how much its unigram distribution looks like
    a TARGET slice of the corpus (here ``lang == 'en'``) relative
    to the full SOURCE distribution — the data-selection signal used to
    resample a raw crawl toward a target domain before training.

    The paper's feature is sum_w log(p_target(w) / p_source(w)); logs are
    transcendental and not bit-reproducible cross-engine, so each token
    contributes the RATIONAL fixed-point likelihood ratio instead::

        lr_fp(w) = floor( ((ct(w)+1) * (Ns+V) * 1e4)
                          / ((cs(w)+1) * (Nt+V)) )

    (add-1 smoothing; ct/cs = token count in target/source, Nt/Ns = total
    tokens, V = distinct vocab).  Every factor is an exact integer-valued
    double and each product/division a SINGLE IEEE op with pinned
    parenthesisation, so both engines floor the identical quotient; the
    per-doc weight is the int64 sum of per-token ratios — monotone in the
    per-token ratio like the paper's log form, identical ranking behavior
    for selection, reproducible to the bit.  Magnitude: addends <=
    (Ns+V)*1e4, so the per-doc sum stays int64-exact to ~1e5 tokens/doc
    at Ns ~ 2.5e6; a 100 TB corpus (Ns ~ 1e13) drops the 1e4 scale to 1
    and switches the ratio to the log-space double the paper uses —
    selection needs ranking, not bit equality, at that size.

    Scale shape: ONE tokenize pass, materialized once as the COMPACT
    per-document term frame (doc_id, lang, w, n) via localCheckpoint —
    distinct terms per doc, a fraction of the raw token stream — because
    three consumers need it (the vocab stats, the corpus totals, and the
    scoring join); without the checkpoint each branch re-scans and
    re-tokenizes the corpus (the near_dup_pairs tradeoff: one
    materialization of the narrow frame vs three re-parses of the text).
    The vocab stats groupBy is map-side combined down to |vocab| rows and
    broadcast back; the totals are a single broadcast row; the weight is
    then Σ n·lr per doc — one final doc-keyed shuffle."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    tok = docs.select(id_col, F.col("lang"), F.explode(words).alias("w"))
    doc_tok = (
        tok.groupBy(id_col, "lang", "w")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    stats = doc_tok.groupBy("w").agg(
        F.sum("n").alias("cs"),
        F.sum(
            F.when(F.col("lang") == "en", F.col("n")).otherwise(0)
        ).alias("ct"),
    )
    totals = stats.agg(
        F.sum("cs").alias("ns"),
        F.sum("ct").alias("nt"),
        F.count("*").alias("v"),
    )
    lr_fp = F.floor(
        ((F.col("ct") + 1.0) * (F.col("ns") + F.col("v")) * 10000.0)
        / ((F.col("cs") + 1.0) * (F.col("nt") + F.col("v")))
    ).cast("long")
    scored = (
        doc_tok.join(F.broadcast(stats), "w")
        .crossJoin(F.broadcast(totals))
        .select(id_col, F.col("lang"), F.col("n"), lr_fp.alias("lr"))
    )
    return scored.groupBy(id_col, "lang").agg(
        F.sum(F.col("n") * F.col("lr")).alias("dsir_weight_fp"),
        F.sum("n").cast("long").alias("n_tokens"),
    )


def weighted_sample_priority(
    docs: DataFrame,
    k: int = 50,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement by priority
    (order) sampling [Efraimidis & Spirakis 2006]: each row draws
    u ~ U(0,1) and the k largest u^(1/w) win — inclusion probability
    proportional to weight, one pass, no sequential state, the
    distributed answer to "sample 10M documents proportional to length
    from 100 TB".

    Determinism without an RNG: u comes from the md5 of the row id (the
    corpus-prep convention used by every sampler in this module), so the
    sample is a pure function of the data.  The selection key uses the
    monotone-equivalent form ln(u)/w (avoids pow; ties impossible at
    distinct u) and floor-quantizes at 1e-6 — ln() is the one
    transcendental in the repo's oracle surface, and the quantization
    makes a cross-engine last-ulp difference flip a value only when the
    true key sits within ~1e-10 relative of a quantization boundary
    (never observed; ties then break on doc_id, so the top-k CUT is
    still total-ordered).

    Scale shape: map-only key computation + TakeOrderedAndProject — no
    shuffle, no sort; the k-row heap merges per partition exactly like
    every other top-k in the repo."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    # u in (0, 1): (h + 1) / (2^60 + 2) — never 0 or 1, ln defined
    u = (h + F.lit(1.0)) / F.lit(float((1 << 60) + 2))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    key_fp = F.floor(F.log(u) / w * 1_000_000).cast("long")
    return (
        docs.select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            key_fp.alias("priority_fp"),
        )
        .orderBy(F.desc("priority_fp"), F.col(id_col))
        .limit(k)
    )


def batch_lineage(
    df: DataFrame,
    step_lo: int = 16,
    step_hi: int = 48,
    n_shards: int = 16,
    batch_size: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-batch lineage forensics: answer "the loss spiked at step
    t — exactly which documents were in that batch?"  Because
    :func:`shard_assignments` makes the shuffle a deterministic function
    of the data (shard = hash mod n, pos = salted-hash order), the batch
    schedule of an n_shards-reader loader with per-shard batch size B is
    pure arithmetic: batch_id = (pos - 1) // B, and global step
    t = batch_id * n_shards + shard (readers round-robin).  Inverting it
    needs no training-run logs — recompute the shuffle, filter the step
    window, and read the membership off.

    Returns one row per step in [step_lo, step_hi): the consuming shard
    and batch, member count, character mass, and the exact sorted member
    id list (the artifact a spike investigation diffs against quality /
    dedup flags).  A trailing partial batch reports its true (smaller)
    n_docs.

    Scale shape: shard_assignments' one exchange (the write partitioning
    at 100 TB) + a map-side step filter BEFORE the per-step aggregate —
    the aggregate only ever sees (step_hi - step_lo) * B rows, so
    lineage for a handful of suspect steps is a pruned scan, not a
    corpus-wide job."""
    if batch_size <= 0 or n_shards <= 0:
        raise ValueError(
            f"batch_size and n_shards must be positive, got "
            f"batch_size={batch_size}, n_shards={n_shards}"
        )
    sa = shard_assignments(df, n_shards=n_shards)
    step = (
        F.floor((F.col("pos") - 1) / batch_size) * n_shards + F.col("shard")
    ).cast("long")
    member = sa.select(
        F.col(id_col),
        "shard",
        step.alias("step"),
    ).where((F.col("step") >= step_lo) & (F.col("step") < step_hi))
    withlen = member.join(df.select(id_col, "n_chars"), id_col)
    return (
        withlen.groupBy("step")
        .agg(
            F.max("shard").cast("int").alias("shard"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
        )
        .select(
            "step",
            "shard",
            (F.col("step") / n_shards).cast("int").alias("batch_id"),
            "n_docs",
            "chars_sum",
            "doc_ids",
        )
    )


def global_dense_rank(
    df: DataFrame, *cols: str, out_col: str = "rank", n_parts: int = 32
) -> DataFrame:
    """EXACT global dense rank without a single-partition window — the
    two-phase shape for a ranking too large for one task (the
    single-partition windows of suffix_ranks and the quality quantile
    gates would need it at scale): range-partition
    on the key so equal keys land in ONE partition (rank boundaries never
    split), dense-rank locally per partition, then add per-partition
    offsets (cumulative distinct-key counts — a P-sized driver fold, the
    parameter-server step).

    Correctness does not depend on the range boundaries the sampler
    picks: ANY split that keeps equal keys together yields the same
    ranks, which is exactly what repartitionByRange guarantees.  Two
    exchanges total (range + the window's hash on the partition id) and
    one P-row collect — vs the one-task sort bottleneck of
    ``Window.orderBy(cols)`` with no partitioning.

    The audit row ``corpus_two_phase_rank_twin`` pins this equal to the
    single-partition window's ranks value-for-value."""
    from pyspark.sql import Window

    part = df.repartitionByRange(n_parts, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = part.withColumn(
        "_lr", F.dense_rank().over(Window.partitionBy("_pid").orderBy(*cols))
    ).localCheckpoint(eager=True)  # pin _pid: lazy recompute could resample
    sizes = {
        r["_pid"]: r["n"]
        for r in local.groupBy("_pid")
        .agg(F.max("_lr").alias("n"))
        .collect()
    }
    offset = {}
    acc = 0
    for pid in sorted(sizes):
        offset[pid] = acc
        acc += sizes[pid]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offset.items()) for x in kv]
    )
    return local.withColumn(
        out_col, (F.col("_lr") + F.element_at(off_map, F.col("_pid"))).cast("long")
    ).drop("_pid", "_lr")


def global_ntile(
    df: DataFrame, n: int, *cols: str, out_col: str = "bin", n_parts: int = 32
) -> DataFrame:
    """EXACT global ntile without a single-partition window — the sibling
    of :func:`global_dense_rank` for the equi-depth rows
    (fn_histogram_equidepth, pack_length_buckets, funnel quartiles) whose
    docstrings price the one-task sort as "the honest cost of exact
    bins": range-partition on the ordering key, row_number locally, add
    per-partition COUNT offsets (P-sized driver fold), then apply the
    standard ntile split arithmetic — with T rows and T = base*n + rem,
    the first ``rem`` buckets hold base+1 rows — to the reconstructed
    global position.  The ordering columns must be a total order (ties
    make position-based ntile nondeterministic — identical caveat to the
    window form; every catalog user orders by (value, id)).

    Audited by ``agg_two_phase_ntile_twin`` against DuckDB's ntile and
    pinned equal to Spark's own window ntile in tests."""
    from pyspark.sql import Window

    part = df.repartitionByRange(n_parts, *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    local = part.withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*cols))
    ).localCheckpoint(eager=True)  # pin _pid: lazy recompute could resample
    sizes = {
        r["_pid"]: r["c"]
        for r in local.groupBy("_pid").agg(F.max("_lrn").alias("c")).collect()
    }
    offset = {}
    acc = 0
    for pid in sorted(sizes):
        offset[pid] = acc
        acc += sizes[pid]
    total = acc
    base, rem = divmod(total, n)
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offset.items()) for x in kv]
    )
    rn = F.col("_lrn") + F.element_at(off_map, F.col("_pid"))
    head = rem * (base + 1)  # rows living in the base+1-sized buckets
    if base == 0:
        bucket = rn  # T < n: ntile degenerates to one row per bucket
    else:
        bucket = F.when(
            rn <= F.lit(head), F.floor((rn - 1) / F.lit(base + 1))
        ).otherwise(
            F.lit(rem) + F.floor((rn - F.lit(head) - 1) / F.lit(base))
        ) + F.lit(1)
    return local.withColumn(out_col, bucket.cast("long")).drop("_pid", "_lrn")


def doremi_domain_reweight(docs: DataFrame) -> DataFrame:
    """Domain-mix reweighting by per-domain excess signal — the
    multiplicative-weights step of DoReMi [Xie et al. 2023, "Doremi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"],
    with the proxy-model excess loss replaced by an EXACT-INTEGER proxy:
    each domain's out-of-reference-vocabulary bigram rate against a
    deterministic reference slice (doc_id % 10 == 0 — the "proxy
    training set").  Domains whose text the reference models poorly
    (high OOV rate) get upweighted, exactly DoReMi's direction, and
    every quantity is an int64 count or one IEEE double op, so both
    engines produce bit-identical weights with no exp/log anywhere.

    boost_x1e6  = 1e6 + (500000 * n_oov) div n_bigrams        (int64)
    weight_x1e6 = floor(n_docs * boost * 1e6 / sum(raw))      (2 IEEE ops)

    Scale shape: ONE bigram exchange (the reference vocab is a distinct
    over the same exploded frame — AQE broadcasts it when small, shuffle
    otherwise), one tiny per-domain aggregate, and the normalizing total
    rides a broadcast 1-row subquery.  Domain count is the only driver
    state, and there is none here — the whole thing is one lazy plan."""
    words = F.split(F.lower(F.col("text")), r"\s+")
    tok = docs.select(
        "doc_id", "source", F.explode(F.array(words)).alias("w")
    ).filter(F.size("w") >= 2)
    big = tok.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 2),
                lambda i: F.concat_ws(" ", F.slice("w", i + 1, 2)),
            )
        ).alias("bg"),
    )
    ref_vocab = (
        big.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
        .select("bg")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    dom = (
        big.join(ref_vocab, "bg", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    nd = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    j = (
        nd.join(dom, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
        .withColumn(
            "boost_x1e6",
            (
                F.lit(1_000_000)
                + F.when(
                    F.col("n_bigrams") == 0, F.lit(0)
                ).otherwise(
                    F.expr("(cast(500000 as bigint) * n_oov) div n_bigrams")
                )
            ).cast("long"),
        )
    )
    # normalizing total as a single-partition window over the per-domain
    # frame — NOT a separate agg branch, which would duplicate the whole
    # bigram subtree in the plan (a second corpus pass if ReuseExchange
    # declines).  The frame is bounded by the DOMAIN REGISTRY size
    # (sources, not documents), so one partition is the dimension-sized
    # escape hatch this repo's two-phase-rank notes document.
    tot = F.sum(F.col("n_docs") * F.col("boost_x1e6")).over(
        Window.partitionBy()
    )
    return j.select(
        "source",
        "n_docs",
        "n_bigrams",
        "n_oov",
        "boost_x1e6",
        F.floor(
            F.col("n_docs") * F.col("boost_x1e6") * F.lit(1e6) / tot
        )
        .cast("long")
        .alias("weight_x1e6"),
    ).orderBy("source")


def quality_linear_probe(docs: DataFrame) -> DataFrame:
    """Learned document-quality scorer — the linear-probe skeleton of the
    CCNet / fastText-classifier quality gate [Wenzek et al. 2020,
    "CCNet"; the Gopher/LLaMA pipelines train the same shape]: a linear
    model over cheap per-doc features, trained by 3 rounds of
    full-batch gradient descent on squared loss, then every document
    scored by the learned projection.  The rule-based cousin is
    ``text.gopher_gate``; this is the data-driven half a real pipeline
    pairs with it.

    Labels here are a deterministic curated-source stand-in (y = 1 when
    the source's numeric suffix is even — production supplies its own
    curation list); features are exact single-op derivations: bias,
    n_words/256, n_chars/4096, n_distinct_words/256 (power-of-two
    divisors keep the int->double conversion and divide exact).

    Exactness playbook = :func:`pca_top_component`: per-row dots quantize
    addends at 1e-12 into int64, gradient folds at 1e-9, the weight
    update's scalar steps are each one IEEE op (g/1e9, /n, *0.5 (a
    power-of-two step size), subtract), and w re-quantizes to 1e-6 per round —
    so Spark, the driver fold, and the unrolled-CTE SQL twin produce
    bit-identical weights and scores.

    Scale shape: the model (4 doubles) is DRIVER state; each round is one
    map pass over the checkpointed feature frame + a 4-key aggregate
    (collecting 4 longs is the parameter-server step).  Feature
    extraction is one codegen pass — no shuffle outside the tiny
    gradient aggregate."""
    import math

    words = F.split(F.col("text"), r"\s+")
    feat = docs.select(
        "doc_id",
        F.when(
            # unbounded substring(source, 4) — same expression as the
            # DuckDB oracle; a bounded (4, 10) slice would silently
            # diverge the moment a source suffix exceeds 10 chars
            # (ADVICE r11)
            F.pmod(F.expr("substring(source, 4)").cast("int"), F.lit(2))
            == 0,
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("y"),
        F.array(
            F.lit(1.0),
            F.size(words) / F.lit(256.0),
            F.length("text") / F.lit(4096.0),
            F.size(F.array_distinct(words)) / F.lit(256.0),
        ).alias("x"),
    ).localCheckpoint(eager=False)
    n = feat.count()
    dim = 4

    w = [0.0] * dim
    for _ in range(3):
        # explode-of-1-element-array barrier: materialize the residual
        # once per row (HOF re-inline trap, see pca_top_component)
        withres = feat.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("x").alias("x"),
                        (_dot_fp(w) / F.lit(1e12) - F.col("y")).alias(
                            "r"
                        ),
                    )
                )
            ).alias("s")
        ).select(F.col("s.x").alias("x"), F.col("s.r").alias("r"))
        grads = (
            withres.select(
                F.posexplode(
                    F.transform(
                        "x",
                        lambda xv: F.floor(
                            xv * F.col("r") * 1e9 + 0.5
                        ).cast("long"),
                    )
                ).alias("d", "g")
            )
            .groupBy("d")
            .agg(F.sum("g").alias("gfp"))
        )
        by_d = {r["d"]: r["gfp"] for r in grads.collect()}
        w = [
            math.floor(
                (w[d] - 0.5 * ((by_d.get(d, 0) / 1e9) / n)) * 1e6 + 0.5
            )
            / 1e6
            for d in range(dim)
        ]

    # final score: round-half-up at 1e-6 entirely in integer space
    return feat.select(
        "doc_id",
        F.col("y").cast("long").alias("label"),
        F.floor((_dot_fp(w) + 500_000) / F.lit(1e6))
        .cast("long")
        .alias("score_x1e6"),
    )


def greedy_coverage_pick(docs: DataFrame, k: int = 5) -> DataFrame:
    """Greedy maximum-coverage subset selection — the submodular
    data-selection recipe [Lin & Bilmes 2011, "A Class of Submodular
    Functions for Document Summarization"; coreset/facility-location
    selection in data-pruning pipelines]: pick ``k`` documents one at a
    time, each round taking the doc that covers the most 3-grams not yet
    covered by earlier picks (ties to the smallest doc_id — a total
    order, so the pick sequence is deterministic and SQL-unrollable).
    The classic 1-1/e approximation of the coverage-optimal subset.

    Output: one row per pick — (round, doc_id, gain) with gain = the
    number of newly covered grams at pick time.  Rounds where every
    remaining doc adds zero new grams pick nothing (output may be
    shorter than k) — identical in both engines.

    Scale shape: the per-round argmax is ONE doc-keyed aggregate over
    the gram frame anti-joined with the covered set; the covered set is
    bounded by k * grams-per-doc (k picks' grams), so it BROADCASTS —
    each round is a map-side anti-join + aggregate + TakeOrdered(1).
    The k driver syncs are the parameter-server step (k is the subset
    size, a constant).  The gram frame is computed once and lazily
    checkpointed."""
    words = F.split(F.lower(F.col("text")), r"\s+")
    grams = (
        docs.select("doc_id", F.explode(F.array(words)).alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("w") - 3),
                        lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)),
                    )
                )
            ).alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    picks: list[tuple[int, int, int]] = []  # (round, doc_id, gain)
    covered = None
    remaining = grams
    for t in range(1, k + 1):
        best = (
            remaining.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("doc_id").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        doc, gain = best[0]["doc_id"], best[0]["gain"]
        picks.append((t, doc, gain))
        new_cov = grams.filter(F.col("doc_id") == doc).select("g")
        covered = (
            new_cov if covered is None else covered.unionByName(new_cov)
        ).localCheckpoint(eager=False)
        remaining = (
            grams.filter(F.col("doc_id") != doc)
            .join(F.broadcast(covered), "g", "left_anti")
        )
        # also exclude every earlier pick (greedy never re-picks)
        for _, d, _g in picks[:-1]:
            remaining = remaining.filter(F.col("doc_id") != d)
    spark = docs.sparkSession
    return spark.createDataFrame(
        picks, "round int, doc_id long, gain long"
    ).orderBy("round")


def token_budget_waterfill(
    docs: DataFrame, budget_num: int = 1, budget_den: int = 2
) -> DataFrame:
    """Token-budget allocation across sources by exact integer
    WATER-FILLING — the data-mixing step that turns "train on B tokens"
    into per-source quotas: every source drinks up to the common water
    level t, capped by its own capacity (alloc_s = min(cap_s, t)), with
    t the largest integer level whose total draw fits the budget
    B = total * budget_num div budget_den.  Small sources are taken
    whole, large sources are clipped equally — the equalizing quota rule
    (and the planning half of epoch-repeat budgeting a la "Scaling Data-
    Constrained LMs": keep_x1e4 < 10000 marks the clipped sources).

    Exact level WITHOUT search: sort capacities ascending; with i
    sources saturated, the level bracket [c_i, c_{i+1}) admits
    t_i = (B - P_i) div (k - i); exactly one bracket validates
    (prev_cap <= t_i < cap) and max() over valid candidates picks it —
    fuzz-pinned against brute force in tests.  Negative intermediates
    never validate (prev_cap >= 1), so DuckDB's floor vs Spark's
    truncating integer division cannot diverge.

    Plan: one word-count aggregate per source (the only data-sized
    exchange), then everything runs on the DIMENSION-SIZED capacity
    frame — one tiny ordered window, two 1-row broadcast folds, a
    broadcast join back.  At 100 TB the capacity frame is still
    #sources rows."""
    tok = docs.select(
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("ntok"),
    )
    caps = tok.groupBy("source").agg(F.sum("ntok").alias("cap"))
    tot = caps.agg(
        F.sum("cap").cast("long").alias("total"),
        F.count("*").cast("long").alias("k"),
    )
    w = Window.orderBy("cap", "source")
    ordd = caps.select(
        "source",
        "cap",
        F.coalesce(
            F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("pfxp"),
        F.row_number().over(w).cast("long").alias("i"),
        F.lag("cap", 1, 0).over(w).cast("long").alias("prev_cap"),
    )
    cand = (
        ordd.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget",
            F.expr(f"(total * {budget_num}) div {budget_den}").cast("long"),
        )
        .withColumn(
            "t_cand", F.expr("(budget - pfxp) div (k - i + 1)").cast("long")
        )
    )
    level = cand.filter(
        (F.col("t_cand") >= F.col("prev_cap"))
        & (F.col("t_cand") < F.col("cap"))
    ).agg(F.max("t_cand").alias("level"))
    maxcap = caps.agg(F.max("cap").alias("maxcap"))
    out = (
        cand.select("source", "cap", "budget")
        .crossJoin(F.broadcast(level))
        .crossJoin(F.broadcast(maxcap))
    )
    lvl = F.coalesce(F.col("level"), F.col("maxcap"))  # B >= total => all whole
    alloc = F.least(F.col("cap"), lvl)
    return out.select(
        "source",
        F.col("cap").alias("cap_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        F.expr(
            f"(10000 * least(cap, coalesce(level, maxcap))) div cap"
        )
        .cast("long")
        .alias("keep_x1e4"),
        lvl.cast("long").alias("water_level"),
        "budget",
    ).orderBy("source")
