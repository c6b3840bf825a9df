"""Deduplication operators for the documents table — the training-data
pipeline surface the reference lacks entirely (SURVEY.md §2.8 north-star).

Variants:

- exact:       hash-groupBy on a content digest. One shuffle on the digest;
               at 100 TB the digest groupBy is the minimal-width shuffle
               (16-byte key + id) instead of shuffling full documents.
- minhash-LSH: shingle -> 64 minhash values -> band into buckets ->
               self-join on (band, bucket signature) -> candidate pairs ->
               exact Jaccard verify. The band join is an equi-join on a
               synthetic key, so Catalyst shuffles only (band_key, doc_id,
               signature) — never the text — and AQE handles bucket skew.
- simhash:     64-bit simhash from token hashes, grouped on the full code
               (near-dup variant would band the code into 4x16-bit chunks).

Shingle/signature kernel: ``minhash_features_fast`` is one Arrow/numpy
``mapInPandas`` pass producing (shingle set, signature) — 3.3 s incl.
Python-worker spin-up, full near-dup pipeline 17 s -> 5.6 s at sf0.1,
versus 8.4 s for 5 000 docs with the interpreted (CodegenFallback)
higher-order-function formulation. This is the "Pandas UDF for the
genuinely slow path" escape hatch that per-element interpreted HOFs
justify; the join/groupBy stages stay plain DataFrame ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reddit_sse_stream_spark.operators.sqlrender import sql_long_array

# Minhash permutation family h_i(x) = (a_i*x + b_i) mod P with P = 2^31-1
# (Mersenne prime). Keeping a, b, x < 2^31 bounds a*x + b < 2^62 — no int64
# overflow inside the JVM expression.
_MERSENNE_P = (1 << 31) - 1

# Every minhash family below shingles 5-word windows.  The Arrow kernel
# signs with 64 hashes (16 bands of 4 rows), the md5 family with 8 (4
# bands of 2 rows) and the source-level sketch with 16.
_SHINGLE_K = 5
_FAST_HASHES = 64
_MD5_HASHES = 8
_MD5_BANDS = 4
_SOURCE_HASHES = 16


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate groups by exact text digest: digest, surviving (min) doc_id,
    and duplicate count. Only the 16-byte md5 + doc_id cross the shuffle."""
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Survivor rows only (keep lowest doc_id per digest) — the actual
    'dedup this corpus' operator. Window beats self-join: one shuffle."""
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_new_docs(
    batch: DataFrame, corpus: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Cross-snapshot dedup for incremental ingestion: rows of ``batch``
    whose content digest does NOT already appear in ``corpus``.

    Shape: digest both sides, ``left_anti`` join on the 16-byte digest —
    only (digest, id) ever crosses the wire, never document text.  At
    100 TB the corpus side is the big one, so this stays a shuffled
    sort-merge/hash anti-join on the digest key (broadcasting the corpus
    would OOM); if the corpus digests are bucketed by digest on storage,
    the shuffle on that side disappears entirely.  A Bloom filter over
    corpus digests is the classic further step — Spark injects exactly
    that via ``spark.sql.optimizer.runtime.bloomFilter.enabled`` when the
    anti-join's build side is filterable.
    """
    seen = corpus.select(F.md5(text_col).alias("_digest")).distinct()
    return batch.withColumn("_digest", F.md5(text_col)).join(
        seen, "_digest", "left_anti"
    ).drop("_digest")


def bloom_prefilter_new_docs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1 << 20,
) -> DataFrame:
    """Bloom-accelerated :func:`incremental_new_docs` — SAME result, cheaper
    exact join.  Projects the corpus digests onto ``n_buckets`` hash buckets
    (one distinct aggregate, ≤ n_buckets rows however large the corpus is),
    broadcasts the occupied-bucket set, and SPLITS the batch:

    - rows whose bucket is UNOCCUPIED are definitely new — a known digest
      always lands in an occupied bucket, so there are no false negatives —
      and bypass the exact join entirely;
    - rows in occupied buckets are only *maybe* known (a bloom false
      positive shares a bucket with an unrelated corpus digest), so they
      fall through to the exact digest anti-join.

    The union of the two legs equals ``incremental_new_docs(batch, corpus)``
    exactly — pinned by the equivalence test in tests/test_operators.py,
    including a tiny bucket count that forces every bucket occupied.  At
    100 TB this shrinks the anti-join probe side from |batch| to
    ~|batch ∩ occupied buckets| without ever losing a new document to a
    bucket collision.  (Spark's runtime ``bloomFilter`` rewrite does the
    same thing automatically for selective joins; this operator makes the
    contract explicit and testable, and its bucket set composes with
    storage: persist it once per corpus snapshot instead of rebuilding per
    batch.)
    """
    bucket = lambda c: F.pmod(F.xxhash64(F.md5(c)), F.lit(n_buckets))  # noqa: E731
    seen = corpus.select(bucket(F.col(text_col)).alias("_b")).distinct()
    tagged = batch.withColumn("_b", bucket(F.col(text_col)))
    definitely_new = tagged.join(F.broadcast(seen), "_b", "left_anti").drop("_b")
    maybe_known = tagged.join(F.broadcast(seen), "_b", "left_semi").drop("_b")
    return definitely_new.unionByName(
        incremental_new_docs(maybe_known, corpus, text_col)
    )


def _tokens_barrier(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, _w): lower-cased whitespace tokens as a concrete attribute
    (explode-of-1-element-array barrier: split runs once per row)."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    return docs.select("doc_id", F.explode(F.array(words)).alias("_w"))


def _coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) family in [1, P) (fixed-seed analog: indexed LCG)."""
    return [
        ((2 * i + 1) * 0x9E3779B9 % _MERSENNE_P or 1, (i * i + i + 1) % _MERSENNE_P)
        for i in range(num_hashes)
    ]


def _signature_col(num_hashes: int):
    """sig = ONE fold over the shingle array carrying all running minima
    (vs num_hashes separate transform+array_min traversals). Note: Spark
    evaluates all higher-order array functions via CodegenFallback either
    way — for hot paths use :func:`minhash_features_fast`."""
    coeffs = _coeffs(num_hashes)
    # rendered SQL constants, not element-wise F.lit (r15 — sqlrender.py)
    a_arr = F.expr(sql_long_array([a for a, _ in coeffs]))
    b_arr = F.expr(sql_long_array([b for _, b in coeffs]))
    init = F.expr(sql_long_array([_MERSENNE_P] * num_hashes))
    return F.aggregate(
        F.col("sh"),
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (x * a + b) % F.lit(_MERSENNE_P)),
            lambda m, n: F.least(m, n),
        ),
    )


def minhash_features_fast(docs: DataFrame) -> DataFrame:
    """(doc_id, sh array<long>, sig array<long>) in ONE Arrow-batched pass:
    the distinct 5-word shingle hashes and their 64-hash minhash signature.

    numpy kernel per batch: crc32 token hashes -> rolling polynomial shingle
    hashes (sliding windows) -> unique -> (a*x+b) mod P minima. Replaces the
    interpreted HOF chain; ~15x faster at sf0.1 and embarrassingly parallel
    (no shuffle, scales with executors).
    """
    import numpy as np
    import pandas as pd

    coeffs = _coeffs(_FAST_HASHES)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    p = _MERSENNE_P

    def batches(it):
        import zlib

        from numpy.lib.stride_tricks import sliding_window_view

        # token-hash memo across the whole worker lifetime: natural-language
        # token frequency is Zipfian, so the hit rate is enormous (the crc32
        # + encode per token was the kernel's hottest line)
        memo: dict[str, int] = {}

        def tok_hash(t: str) -> int:
            h = memo.get(t)
            if h is None:
                h = zlib.crc32(t.encode("utf-8")) % p
                memo[t] = h
            return h

        for pdf in it:
            out_id, out_sh, out_sig = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.lower().split()
                th = np.array([tok_hash(t) for t in toks], dtype=np.int64)
                if len(th) == 0:
                    th = np.zeros(1, dtype=np.int64)
                win = sliding_window_view(th, min(_SHINGLE_K, len(th)))
                s = np.zeros(win.shape[0], dtype=np.int64)
                for j in range(win.shape[1]):
                    s = (s * 31 + win[:, j]) % p
                sh = np.unique(s)
                sig = ((a_vec * sh[None, :] + b_vec) % p).min(axis=1)
                out_id.append(doc_id)
                out_sh.append(sh.tolist())
                out_sig.append(sig.tolist())
            yield pd.DataFrame({"doc_id": out_id, "sh": out_sh, "sig": out_sig})

    return docs.mapInPandas(batches, "doc_id long, sh array<long>, sig array<long>")


#: Per-cell member bound for within-bucket pair generation.  A bucket with
#: m members splits into ceil(m/cap) sub-groups; pair work per task is
#: ~cap^2 regardless of how degenerate the bucket is.  4096 keeps a cell's
#: collect_list under ~64 KB of ids and its pair explode under ~17M rows —
#: sized for executor tasks, a no-op at test scales (every bucket fits one
#: cell).
_BUCKET_PAIR_CAP = 4096


def _grouped_ids(members: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One row per bucket with the collected member ids — the single
    shuffle both :func:`bucket_pair_explode` branches hang off."""
    return (
        members.groupBy(*key_cols)
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _pair_cells(
    members: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int,
    grp: DataFrame | None = None,
) -> DataFrame:
    """Assign every member of an OVERSIZED bucket (> cap ids) to its
    triangular pair-generation cells: ids hash into s = ceil(m/cap)
    sub-groups, and cell (i, j), i<=j, is responsible for pairs between
    group i ("L" side) and group j ("R" side; the diagonal cell pairs
    group i with itself).  The bucket size comes from the collected array
    itself — no window, no extra pass over normal-sized buckets.  Exposed
    separately from :func:`bucket_pair_explode` so tests can assert the
    per-cell size bound directly.

    ``grp`` lets the caller pass its own :func:`_grouped_ids` frame: both
    bucket_pair_explode branches must hang off the SAME Python DataFrame
    so the two consumers are plan-identical and Catalyst reuses the one
    bucket-key Exchange (two separately-constructed groupBys get fresh
    expression ids and the reuse does NOT fire — measured as a second
    kernel run in the executed plan)."""
    if grp is None:
        grp = _grouped_ids(members, key_cols, id_col)
    s = F.ceil(F.size("ids") / F.lit(cap)).cast("int")
    big = grp.filter(F.size("ids") > cap).select(
        *key_cols, s.alias("_s"), F.explode("ids").alias("_id")
    )
    h = F.pmod(F.xxhash64(F.col("_id")), F.col("_s")).cast("int")
    cells = F.concat(
        # this id's group h as the L side of cells (h, h..s-1)
        F.transform(
            F.sequence(h, F.col("_s") - 1),
            lambda j: F.struct(h.alias("ci"), j.alias("cj"), F.lit("L").alias("side")),
        ),
        # ...and as the R side of cells (0..h-1, h)
        F.when(
            h > 0,
            F.transform(
                F.sequence(F.lit(0), h - 1),
                lambda i: F.struct(
                    i.alias("ci"), h.alias("cj"), F.lit("R").alias("side")
                ),
            ),
        ).otherwise(F.array()),
    )
    return big.select(*key_cols, "_id", F.explode(cells).alias("c")).select(
        *key_cols, "c.ci", "c.cj", "c.side", "_id"
    )


def bucket_pair_explode(
    members: DataFrame,
    key_cols: list[str],
    id_col: str,
    out_a: str,
    out_b: str,
    cap: int = _BUCKET_PAIR_CAP,
) -> DataFrame:
    """Within-bucket unordered pairs (out_a < out_b) with BOUNDED per-task
    work — the unconditional hot-bucket guard (VERDICT r04 next #4).

    The naive grouped-explode collects a whole bucket on one task and does
    m^2 work there; a degenerate bucket (every doc identical at 100 TB)
    serializes the job on one straggler.  Here buckets within the cap keep
    the r04 collect-and-explode shape untouched (zero extra shuffles, bare
    long ids), while an OVERSIZED bucket's ids hash into s = ceil(m/cap)
    sub-groups and each triangular cell (i <= j) emits its group-i x
    group-j pairs on its OWN task, so per-task work is ~cap^2 and a hot
    bucket fans out over s(s+1)/2 tasks.  Recall is FULL: a pair (x, y)
    meets in exactly the cell (min(h_x,h_y), max(h_x,h_y)) — this is a
    work partition, not a candidate filter.  (The m^2 TOTAL output of a
    degenerate bucket is inherent to the emit-all-pairs contract;
    band/plane count is the knob that bounds expected bucket size, this
    cap bounds the worst case per task.)

    Both branches hang off the SAME groupBy, so Catalyst plans one
    bucket-key Exchange and reuses it (ReusedExchange) for the second
    consumer — the upstream mapInPandas kernel still runs exactly once.
    That reuse is load-bearing against the r03 double-kernel class and is
    pinned by the executed-plan tests (exact MapInPandas counts + a
    ReusedExchange presence check); it fires here because the two
    consumers are canonically IDENTICAL subplans, unlike r03's
    alias-projected join sides.  Known soft spot: if the caller's input
    frame matches a CacheManager entry, cache substitution can land in
    one branch subtree differently and break the canonical match — the
    kernel then runs per branch, but reads the cache rather than
    re-scanning the corpus, so the regression class is bounded CPU, not
    a second full scan.

    Pairs are unique per bucket but the same pair may surface from several
    buckets — callers dedup/aggregate exactly as with a bucket self-join.
    """
    grp = _grouped_ids(members, key_cols, id_col)
    small = (
        grp.filter(F.size("ids") <= cap)
        .select("ids", F.explode("ids").alias("a"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    # Two long arrays per cell (collect_list drops the when()'s nulls), so
    # the pair explode below moves bare longs — no struct overhead.
    cells = _pair_cells(members, key_cols, id_col, cap, grp=grp)
    bgrp = (
        cells.groupBy(*key_cols, "ci", "cj")
        .agg(
            F.collect_list(F.when(F.col("side") == "L", F.col("_id"))).alias("ls"),
            F.collect_list(F.when(F.col("side") == "R", F.col("_id"))).alias("rs"),
        )
        .filter((F.size("ls") > 0) & (F.size("ls") + F.size("rs") > 1))
    )
    diag = F.col("ci") == F.col("cj")
    big = (
        bgrp.select("ci", "cj", "ls", "rs", F.explode("ls").alias("a"))
        # diagonal cells pair L with itself (a < b dedups); off-diagonal
        # cells pair L with R (disjoint sub-groups, every cross pair once)
        .select(
            "ci",
            "cj",
            "a",
            F.explode(F.when(diag, F.col("ls")).otherwise(F.col("rs"))).alias("b"),
        )
        .filter(~diag | (F.col("a") < F.col("b")))
    )
    out = lambda df: df.select(  # noqa: E731
        F.least("a", "b").alias(out_a), F.greatest("a", "b").alias(out_b)
    )
    return out(small).unionAll(out(big))


def _band_candidates(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Banding + bucket self-join over a (doc_id, sig) frame — the shared
    LSH plumbing for both kernels."""
    rows_per_band = num_hashes // bands
    banded = sig_df.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice("sig", b * rows_per_band + 1, rows_per_band)),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # Grouped explode instead of a self-join: a join executes the upstream
    # signature subplan once PER SIDE (no ReuseExchange across
    # mapInPandas/HOF subplans).  bucket_pair_explode collects each
    # (band, bucket)'s members in size-capped triangular cells and emits
    # within-cell pairs; the pair-count groupBy preserves n_bands_matched.
    return (
        bucket_pair_explode(banded, ["band", "bucket"], "doc_id", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


def near_dup_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """End-to-end near-dup detection: one Arrow shingle/signature pass,
    LSH banding, exact Jaccard verify.

    The feature frame feeds three consumers (banding + both sides of the
    verify join), so it is materialized ONCE via localCheckpoint — at
    100 TB this trades one materialization (ids + long arrays, far smaller
    than the text) against three re-parses of the corpus.  localCheckpoint
    rather than cache(): cached plans are pinned by the CacheManager until
    an explicit unpersist (the storage-leak class VERDICT r03 flagged),
    while checkpoint blocks are weak-ref cleaned when the frame is
    garbage-collected.
    """
    feat = minhash_features_fast(docs).localCheckpoint(eager=False)
    cands = _band_candidates(feat.select("doc_id", "sig"), _FAST_HASHES, 16)
    a = feat.select("doc_id", "sh").alias("a")
    b = feat.select("doc_id", "sh").alias("b")
    return (
        cands.join(a, cands.doc_a == F.col("a.doc_id"))
        .join(b, cands.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def md5_hash60(col) -> "F.Column":
    """Cross-engine 60-bit hash: first 15 hex digits of md5 as BIGINT.

    Spark: conv(hex, 16, 10); ANSI engines: CAST('0x'||hex AS BIGINT).
    Both produce the identical non-negative value, which is what lets the
    sketch operators below carry full value-level oracles (xxhash64 has no
    ANSI equivalent)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_shingle_hashes() -> "F.Column":
    """Distinct md5 hashes (mod P) of the 5-word shingles of the ``words``
    array column — the shingle set of every md5 sketch below."""
    k = _SHINGLE_K
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("words") - k),
            lambda i: F.pmod(
                md5_hash60(F.concat_ws(" ", F.slice("words", i + 1, k))),
                F.lit(_MERSENNE_P),
            ),
        )
    )


def _md5_sketch(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sh, banded) for the md5 minhash family: the checkpointed
    (doc_id, sh array<long>) shingle-hash frame feeding signature fold and
    verify, and the (doc_id, band, key) banding frame — shared by
    :func:`minhash_md5_near_dups` and :func:`minhash_md5_incremental_new`."""
    words = F.split(F.lower(F.col("text")), r"\s+")
    # explode-of-1-element-array barriers (see text.py:word_ngrams): each
    # stage's array becomes a concrete attribute, so CollapseProject can't
    # re-inline split under the shingle transform (O(len x grams)) nor the
    # md5 shingle array / signature fold into downstream lambdas (which
    # would recompute the signature once PER BAND).
    tok = docs.select("doc_id", F.explode(F.array(words)).alias("words")).filter(
        F.size("words") >= _SHINGLE_K
    )
    sh = tok.select(
        "doc_id", F.explode(F.array(_md5_shingle_hashes())).alias("sh")
    ).localCheckpoint(eager=False)
    sig = sh.select(
        "doc_id", F.explode(F.array(_signature_col(_MD5_HASHES))).alias("sig")
    )
    rpb = _MD5_HASHES // _MD5_BANDS
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_MD5_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ",", F.slice("sig", b * rpb + 1, rpb)
                    ).alias("key"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.key")
    return sh, banded


def minhash_md5_incremental_new(docs: DataFrame, batch_pred) -> DataFrame:
    """Incremental NEAR-dup gate across snapshots: of the incoming batch
    (rows where ``batch_pred`` holds), keep only documents with no near-
    duplicate (jaccard >= 0.8) in the existing corpus (the rest)
    — the daily-crawl admission step that :func:`incremental_new_docs`
    performs for EXACT duplicates, upgraded to the sketch family.

    One md5 sketch pass over the union (hashing is per-document, so
    sketching both sides together costs the same as separately and keeps
    the single-materialization property), then banding candidates are
    restricted to CROSS pairs (batch x corpus — batch-internal dups are
    the within-snapshot dedup pass's job), verified with exact Jaccard on
    the shingle sets, and matched batch ids are anti-joined away.

    Scale: same banding/verify geometry as :func:`minhash_md5_near_dups`;
    at 100 TB the corpus side's sketch is precomputed and stored, so each
    day pays one kernel pass over the NEW batch plus a band-key equi-join
    against the corpus band index."""
    sh, banded = _md5_sketch(docs)
    is_batch = batch_pred(F.col("doc_id"))
    cand = (
        banded.filter(is_batch)
        .select(F.col("doc_id").alias("nb"), "band", "key")
        .join(
            banded.filter(~is_batch).select(
                F.col("doc_id").alias("ob"), "band", "key"
            ),
            ["band", "key"],
        )
        .select("nb", "ob")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("nb"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("ob"), F.col("sh").alias("sh_b"))
    jac = (
        F.floor(
            F.size(F.array_intersect("sh_a", "sh_b"))
            * 10000.0
            / F.size(F.array_union("sh_a", "sh_b"))
        )
        / 10000.0
    )
    bad = (
        cand.join(a, "nb")
        .join(b, "ob")
        .filter(jac >= 0.8)
        .select(F.col("nb").alias("doc_id"))
        .distinct()
    )
    return docs.filter(batch_pred(F.col("doc_id"))).join(bad, "doc_id", "left_anti")


def minhash_md5_near_dups(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Minhash-LSH near-dup pipeline with every stage ANSI-expressible:
    md5-derived shingle hashes and literal signature-slice band keys (no
    xxhash bucketing), so a SQL oracle reproduces byte-identical candidates
    and Jaccard values.  Same scale shape as :func:`near_dup_pairs` —
    banding shuffles only (band, key, doc_id) via the shared
    :func:`bucket_pair_explode` (r05: replaced a band self-join that
    re-executed the whole tokenize/md5/signature HOF chain once per join
    side), the shingle frame is localCheckpoint-materialized once for the
    signature fold and both verify sides, and verify touches candidates
    only — just with the portable hash family.  The xxhash64/Arrow variant
    stays the throughput path; this one is the correctness anchor.
    """
    sh, banded = _md5_sketch(docs)
    cand = bucket_pair_explode(
        banded, ["band", "key"], "doc_id", "doc_a", "doc_b"
    ).distinct()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = (
        F.floor(
            F.size(F.array_intersect("sh_a", "sh_b"))
            * 10000.0
            / F.size(F.array_union("sh_a", "sh_b"))
        )
        / 10000.0
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_recall_audit(docs: DataFrame) -> DataFrame:
    """Recall audit of minhash-LSH banding against exact shingle Jaccard,
    bucketed by Jaccard decile — the measured S-curve every pipeline
    should check before trusting a (bands, rows) choice at 100 TB: the
    theoretical hit probability 1-(1-j^r)^b says nothing about YOUR
    shingle distribution, and a mis-tuned banding silently drops
    borderline near-dups.

    Per decile bucket (floor(jaccard_fp/1000), jaccard >= 0.1):

    - ``n_truth``: pairs whose EXACT md5-shingle Jaccard lands in the
      bucket, drawn from the shared-cold-shingle universe (a pair must
      share >= 1 shingle with document frequency <= 64 to enter
      the audit — the same hot-key guard as the gram-jaccard family, so
      the audit itself can't go quadratic; pairs sharing only ubiquitous
      shingles are outside the audited universe, stated here because a
      recall number is only meaningful over a named universe)
    - ``n_hit``: of those, how many the banded minhash candidate join
      (the EXACT candidate set ``minhash_md5_near_dups`` verifies) also
      surfaced
    - ``recall``: floor-quantized hit fraction

    High buckets should sit at recall ~1 (banding is designed to catch
    them), low buckets fall off the S-curve — a high bucket BELOW 1 is
    the actionable signal (add bands or hashes).

    Scale shape: ONE checkpointed shingle frame feeds the signature fold,
    the banding, the truth equi-join, and both exact-verify sides; the
    candidate side is the guarded :func:`bucket_pair_explode`; the truth
    side is cold-shingle-bounded (Σ df² <= n_cold·cap², pinned for the
    gram family in tests/test_operators.py); the final audit frame is
    <= 10 rows.  Reference parity: the reference has no sketches at all —
    this audits the engine's own approximation honestly."""
    sh, banded = _md5_sketch(docs)
    cand = (
        bucket_pair_explode(banded, ["band", "key"], "doc_id", "doc_a", "doc_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ex = sh.select("doc_id", F.explode("sh").alias("h"))
    cold = ex.groupBy("h").count().filter(F.col("count") <= 64).select("h")
    exc = ex.join(cold, "h")
    tc = (
        exc.select(F.col("doc_id").alias("doc_a"), "h")
        .join(exc.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac_fp = F.floor(
        F.size(F.array_intersect("sh_a", "sh_b"))
        * 10000.0
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    truth = (
        tc.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac_fp.alias("jfp"))
        .filter(F.col("jfp") >= 1000)
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .select(
            F.floor(F.col("jfp") / 1000.0).cast("int").alias("bucket"),
            F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_truth"), F.sum("hit").alias("n_hit"))
        .select(
            "bucket",
            "n_truth",
            "n_hit",
            (F.floor(F.col("n_hit") * 10000.0 / F.col("n_truth")) / 10000.0).alias(
                "recall"
            ),
        )
    )


def simhash(docs: DataFrame, bits: int = 64, hash_fn=None) -> DataFrame:
    """(doc_id, simhash BIGINT): sign-aggregated token-hash fingerprint.

    Token hashing stays JVM-side behind the ``hash_fn`` seam (default
    xxhash64; pass :func:`md5_hash60` with ``bits<=60`` for the
    ANSI-oracle-able variant).

    The per-bit +/-1 vote + sign-pack step is ONE Arrow-batched pandas
    UDF over the token-hash array — a numpy (n_tokens x bits) popcount
    matrix per row: one Python boundary crossing per batch, no shuffle.
    """
    from pyspark.sql.functions import pandas_udf

    if hash_fn is None:
        hash_fn = F.xxhash64
    # token barrier: hashing lambda sees an attribute, so split isn't
    # re-inlined once per token
    th = _tokens_barrier(docs).select(
        "doc_id", F.transform(F.col("_w"), lambda t: hash_fn(t)).alias("th")
    )

    @pandas_udf("long")
    def _pack(col: pd.Series) -> pd.Series:
        shifts = np.arange(bits, dtype=np.uint64)
        out = np.empty(len(col), dtype=np.uint64)
        for i, arr in enumerate(col):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            # (n_tokens, bits) bit matrix; vote(b) = 2*ones - n_tokens
            ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            mask = (2 * ones) > len(h)  # vote > 0
            out[i] = np.sum(mask.astype(np.uint64) << shifts, dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return th.select("doc_id", _pack("th").alias("simhash"))


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Release the blocks of an already-materialized localCheckpoint frame.

    The iterative operators below supersede a checkpoint every round; the
    weak-ref ContextCleaner path reclaims those blocks only after the
    JVM/py4j reference chain is collected, which measured out to "not
    within a bench sweep" (SCALING.md r05: repeat invocations degraded
    3-6x under the accumulated blocks).  Superseded intermediates are
    therefore released eagerly — only ever on frames nothing downstream
    references, because a local checkpoint is non-recoverable by design."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        rdd = plan.rdd()
        if rdd.isLocallyCheckpointed():
            rdd.unpersist(False)
    except Exception:
        # best-effort: a plan that is not a LogicalRDD (not yet
        # materialized) or a cleaner race just leaves the block to the GC
        pass


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected near-dup pair graph — the
    step that turns pairwise matches into dedup CLUSTERS (keep the min-id
    member, drop the rest).

    Min-label propagation: every node starts labeled with its own id; each
    round a node takes the min of its label and its neighbors' labels;
    fixpoint = every node holds the min id of its component. Rounds needed
    = graph diameter, and near-dup graphs are short chains/cliques, so this
    converges in a handful of rounds.

    Each round is one shuffle join (labels x edges, keyed on node id) plus
    a groupBy-min; ``localCheckpoint`` truncates the lineage so the plan
    doesn't grow with the iteration count. The convergence test is a
    driver-side count of changed labels — one scalar per round, not a
    collect of the data.
    """
    # Materialize the (possibly expensive) upstream pair computation ONCE,
    # in its own job, BEFORE the symmetrize union: the union references the
    # edge subtree twice (forward + swapped branch), and an unpersisted
    # subtree executes once PER BRANCH — measured as a full extra run of
    # the near-dup verify lineage on the corpus_split caller.  The edge
    # blocks are released as soon as the symmetric frame owns its own.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    # LAZY symmetrize checkpoint (r16, VERDICT r15 next #5): the seed
    # label-sum action below materializes sym AND the seed labels in ONE
    # job — one driver action fewer per call than the former eager
    # checkpoint (6 -> 5 at the fixture's diameter).  The edge frame `e`
    # stays EAGER: the union references its subtree twice (forward +
    # swapped), and an unmaterialized expensive upstream would execute
    # once per branch inside the fused job; its blocks are released only
    # after sym's materializing action has run.
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # seed with round 1 fused in: label(v) = min(v, min neighbor) — one
    # groupBy instead of the first join-propagation round
    # LAZY checkpoint (r10 sync-fold): the _label_sum probe materializes
    # the frame and truncates lineage in the same job — one action per
    # round instead of checkpoint-job + sum-job
    labels = (
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("_nbmin"))
        .select("id", F.least(F.col("id"), F.col("_nbmin")).alias("comp"))
        .localCheckpoint(eager=False)
    )

    def _label_sum(df: DataFrame):
        # decimal sum: 1e9 nodes x 1e10 ids would overflow a long
        return df.agg(F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")).first()[
            "s"
        ]

    prev_sum = _label_sum(labels)
    _unpersist_checkpoint(e)  # sym owns its own blocks from here
    for _ in range(max_iter):
        nb_min = (
            sym.join(
                labels.select(F.col("id").alias("b"), F.col("comp").alias("nb_comp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nb_comp").alias("nb_min"))
        )
        new_labels = (
            labels.join(nb_min, labels.id == nb_min.a, "left")
            .select(
                labels.id,
                F.least(
                    F.col("comp"), F.coalesce(F.col("nb_min"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        # Labels are monotonically non-increasing (least of self and
        # neighbor minima), so an unchanged SUM of labels is equivalent to
        # "no label changed" — one scalar aggregate on the already-
        # checkpointed frame instead of a join+count probe per round.
        label_sum = _label_sum(new_labels)
        _unpersist_checkpoint(labels)  # superseded round's blocks
        labels = new_labels
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    else:
        # Silently returning non-fixpoint labels would mis-cluster; a
        # long-chain graph that exhausts max_iter needs more rounds.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds = graph diameter)"
        )
    # the returned frame reads only the FINAL labels checkpoint; the edge
    # frame's blocks (the largest intermediate) are dead weight from here
    _unpersist_checkpoint(sym)
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
) -> DataFrame:
    """Weighted PageRank (damping 0.85) with EVERY accumulation in exact
    int64 fixed point (ranks scaled 1e12), so the ranks are bit-identical
    across engines, partitionings, and reruns, and an unrolled-CTE SQL
    twin can verify them value-for-value — the same determinism playbook
    as ``corpus.pca_top_component`` and ``ml_lsh.ivf_train``.

    Per iteration (all integer ops; division points are correctly-rounded
    IEEE ops on identical inputs in any engine):

    - contrib(e) = floor((r[src] * w) / outw[src])  [int64 product, one
      double division; exact while r*w < 2^53 — the long product is
      CONVERTED TO DOUBLE for the division, and that conversion (not the
      int64 product) is the binding constraint, so at r <= 1.0e12 edge
      weights up to ~9e3 are exact (ADVICE r05 low corrected the earlier
      2^63/~9e6 claim).  Beyond that both engines round the identical
      long->double conversion, so cross-engine parity still holds — only
      infinite-precision exactness degrades; rescale the rank fixed point
      (or divide in decimal) for heavier multigraphs]
    - r'(v) = floor(0.15 * 1e12 / N) + floor(85 * Σ contrib / 100)

    Dangling-node mass (nodes with no out-edges) is dropped rather than
    redistributed — rank totals then sum below 1, a standard simplified
    variant; both engines drop identically so the oracle still matches.

    Scale shape: ranks and out-weights are node-keyed frames; each
    iteration is one (src-keyed) broadcast-or-shuffle join + one dst-keyed
    aggregate — the exact shape of the CC rounds, nothing wider.  A fixed
    small iteration count keeps the lineage bounded; production runs at
    higher iters would localCheckpoint every few rounds like
    :func:`connected_components`."""
    # Materialize the edge frame ONCE (r15, guide §2.4/§3.3): every
    # iteration references e, and nodes/outw each re-derive it — without
    # a checkpoint the lazy plan re-runs the caller's edge EXTRACTION
    # (data-sized: a window + aggregate for the transition-graph row) once
    # per reference, ~14 copies at iters=3 (144 Exchanges measured).  An
    # iterative algorithm needs its edge frame resident anyway — this is
    # the same discipline as connected_components' eager edge checkpoint,
    # lazy here so materialization rides the query's own first action.
    # nodes/outw are node-sized; checkpointing them keeps each round's
    # subtree bounded.  Ranks are NOT checkpointed per round: at a fixed
    # small iters the linear plan nesting is cheaper than three more
    # planning roundtrips (A/B in OPTIMIZATION_r15.md: 1.5 s vs 1.8 s),
    # and the docstring already prescribes periodic checkpoints for
    # high-iters production runs.  Values are unchanged — checkpointing
    # only pins where recomputation would have happened.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nn = nodes.agg(F.count("*").alias("n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("ow")).localCheckpoint(eager=False)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.floor(F.lit(1_000_000_000_000.0) / F.col("n")).cast("long").alias("r")
    )
    for _ in range(iters):
        contrib = (
            e.join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor((F.col("r") * F.col("w")) / F.col("ow")).cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.floor(F.lit(150_000_000_000.0) / F.col("n"))
                    + F.floor(85 * F.coalesce(F.col("m"), F.lit(0)) / 100.0)
                )
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        (F.col("r") / F.lit(1e12)).cast("double").alias("rank"),
    )


def bloom_fp_audit(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n_buckets: int = 256,
    md5_buckets: bool = False,
) -> DataFrame:
    """Measured honesty for :func:`bloom_prefilter_new_docs` — the dedup
    family's counterpart of the LSH/PQ recall audits: classify every
    batch row against BOTH the bucket filter and exact digest membership
    and report, in one row, the quantities the filter's contract claims:

    - ``n_false_negatives`` — definitely-new rows whose digest IS in the
      corpus; the no-false-negative invariant says this is ALWAYS 0
      (a known digest must land in an occupied bucket);
    - ``n_false_positives`` — occupied-bucket rows whose digest is NOT
      in the corpus: the wasted exact-join probes the filter's whole
      value proposition is minimizing;
    - ``fp_rate`` — false positives over true negatives (the standard
      Bloom measure), floor-quantized at 1e-4.

    ``md5_buckets=True`` swaps xxhash64 for the 60-bit md5 bucket so an
    ANSI twin recomputes every classification value-for-value (same
    convention as the minhash md5 twins); the xxhash64 default is the
    production fast path.

    Scale shape: bucket set and digest membership are the same two
    frames the prefilter itself builds (bucket set ≤ n_buckets rows,
    broadcast; digest membership a digest-keyed left join), then ONE
    global aggregate over six boolean folds — the audit costs one scan
    more than the operator it audits."""
    dg = F.md5(F.col(text_col))
    if md5_buckets:
        bucket = F.pmod(md5_hash60(dg), F.lit(n_buckets))
    else:
        bucket = F.pmod(F.xxhash64(dg), F.lit(n_buckets))
    occ = corpus.select(bucket.alias("_b")).distinct().withColumn(
        "_occ", F.lit(True)
    )
    known = corpus.select(dg.alias("_dg")).distinct().withColumn(
        "_known", F.lit(True)
    )
    t = (
        batch.select(dg.alias("_dg"), bucket.alias("_b"))
        .join(F.broadcast(occ), "_b", "left_outer")
        .join(known, "_dg", "left_outer")
        .select(
            F.coalesce("_occ", F.lit(False)).alias("occ"),
            F.coalesce("_known", F.lit(False)).alias("known"),
        )
    )
    cnt = lambda c: F.sum(c.cast("long")).cast("long")  # noqa: E731
    agg = t.agg(
        F.count("*").cast("long").alias("n_batch"),
        cnt(~F.col("occ")).alias("n_definitely_new"),
        cnt(F.col("occ") & ~F.col("known")).alias("n_false_positives"),
        cnt(F.col("occ") & F.col("known")).alias("n_known"),
        cnt(~F.col("occ") & F.col("known")).alias("n_false_negatives"),
        cnt(~F.col("known")).alias("n_new"),
    )
    return agg.select(
        "n_batch",
        "n_definitely_new",
        "n_false_positives",
        "n_known",
        "n_false_negatives",
        F.floor(
            F.col("n_false_positives")
            / F.greatest(F.col("n_new"), F.lit(1))
            * 10000
        ).cast("long").alias("fp_rate_x1e4"),
    )


def source_minhash_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    exact_sample_frac: float | None = None,
) -> DataFrame:
    """Source-level similarity matrix from per-source MinHash UNIONS,
    audited against exact set Jaccard — "how much does crawl A overlap
    crawl B" answered at sketch cost.  The min of a permuted hash over
    the UNION of a source's doc shingle sets equals the elementwise min
    of its docs' signatures (MinHash's mergeability), so a source's
    entire sketch is 16 longs no matter how many petabytes
    it holds, and the estimated Jaccard between two sources is the
    fraction of agreeing signature slots.  Every pair also carries the
    EXACT distinct-shingle Jaccard — the measured-error discipline of
    :func:`lsh_recall_audit` (each approximation ships its own audit).

    Same md5/permutation family as :func:`minhash_md5_near_dups`
    (md5_hash60 -> mod 2^31-1, ``_coeffs`` (a, b) pairs), so a SQL twin
    reproduces every value.

    Scale shape: ONE distinct on (source, shingle-hash) is the only
    corpus-sized exchange; signatures are a (n_sources x 16)
    aggregate with map-side combine (min is algebraic); the pair frame
    is a broadcast cross of n_sources rows; the exact intersection
    self-joins the distinct frame on the hash key with <= n_sources rows
    per key, so per-key fanout is bounded by n_sources^2, not corpus
    size.  At 100 TB drop the exact columns (or sample them) and the
    whole matrix costs one scan + one tiny agg.

    ``exact_sample_frac`` IS that scale configuration as a real code
    path (VERDICT r08 next #2): when set, the audit side runs on a
    deterministic hash-range sample of the distinct (source, shingle)
    frame — keep h when ``h % 10000 < frac * 10000``.  Sampling on the
    SHINGLE HASH ALONE (never per-source randomness) keeps inclusion
    consistent across sources, so sampled |A∩B| / |A∪B| is an unbiased
    fixed-subset estimate of the true Jaccard (the same principle that
    makes bottom-k / mod-sampling sketches composable); frac=1.0
    reproduces the exact audit bit-for-bit.  The audit self-join's
    input — the only corpus-sized part of the audit — shrinks by 1/frac
    while the sketch side is untouched.  Output columns keep their
    names (``exact_jaccard`` becomes the sampled estimate;
    ``n_union`` counts sampled hashes) so the two configurations are
    drop-in interchangeable downstream."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    tok = docs.select(
        F.col(group_col).alias("src"), F.explode(F.array(words)).alias("words")
    ).filter(F.size("words") >= _SHINGLE_K)
    src_sh = (
        tok.select("src", F.explode(_md5_shingle_hashes()).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds signatures, sizes, intersections
    )
    # the audit side (sizes + intersections) runs on the sampled subset;
    # the sketch side always sees every hash (its state is constant-size
    # regardless, so sampling it would only add error for no saving)
    audit_sh = src_sh
    sample_pred = None
    if exact_sample_frac is not None and exact_sample_frac < 1.0:
        sample_pred = F.pmod(F.col("h"), F.lit(10000)) < F.lit(
            int(exact_sample_frac * 10000)
        )
        audit_sh = src_sh.where(sample_pred)
    coeffs = _coeffs(_SOURCE_HASHES)
    min_slots = [
        F.min(
            F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))
        ).alias(f"s{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    # per-source sizes count the AUDIT subset (the Jaccard estimate needs
    # numerator and denominator from the same hash range) but ride the
    # sketch aggregate as a conditional count — one exchange, no extra job
    n_col = (
        F.count("*")
        if sample_pred is None
        else F.sum(sample_pred.cast("long"))
    )
    sig = src_sh.groupBy("src").agg(*min_slots, n_col.alias("n"))
    a_side = sig.select(
        F.col("src").alias("source_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(_SOURCE_HASHES)],
        F.col("n").alias("na"),
    )
    b_side = sig.select(
        F.col("src").alias("source_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(_SOURCE_HASHES)],
        F.col("n").alias("nb"),
    )
    matches = None
    for i in range(_SOURCE_HASHES):
        hit = (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        matches = hit if matches is None else matches + hit
    pairs = (
        a_side.crossJoin(F.broadcast(b_side))
        .where(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "na",
            "nb",
            (F.floor(matches * 10000.0 / _SOURCE_HASHES) / 10000.0).alias(
                "est_jaccard"
            ),
        )
    )
    inter = (
        audit_sh.alias("l")
        .join(audit_sh.alias("r"), "h")
        .where(F.col("l.src") < F.col("r.src"))
        .groupBy(
            F.col("l.src").alias("source_a"), F.col("r.src").alias("source_b")
        )
        .agg(F.count("*").alias("ni"))
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    union = F.col("na") + F.col("nb") - ni
    exact = F.floor(ni * 10000.0 / union) / 10000.0
    if audit_sh is not src_sh:
        # a sampled union CAN be empty (both sources tiny, every hash
        # outside the range): define the estimate as 0.0, not null/÷0
        exact = F.when(union > 0, exact).otherwise(F.lit(0.0))
    # broadcast the (<= n_sources^2)-row intersection counts up front:
    # left to AQE, the planned sort-merge join became a broadcast join at
    # run time, and whether the pair side's exchange had already been
    # submitted by then decided between 6 and 7 jobs
    return (
        pairs.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            union.cast("long").alias("n_union"),
        )
    )


def source_minhash_merge_invariant(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    split_col: str = "doc_id",
) -> DataFrame:
    """Mergeability PROOF for the source-level MinHash sketch: split the
    corpus into two halves (``split_col`` parity — any disjoint cover
    works; ADVICE r08 unhardcoded the id column),
    sketch each half independently, merge by elementwise min, and compare
    slot-for-slot against the sketch of the full corpus.  Output is ONE
    row (n_sources, n_slots, n_mismatch) with n_mismatch = 0 — the
    invariant that makes :func:`source_minhash_matrix` incrementally
    maintainable at 100 TB: each day/partition sketches alone (map-side,
    no coordination) and the corpus sketch is a fold of tiny states, the
    same audit discipline as :func:`bloom_fp_audit` (every structural
    claim this engine relies on ships a row that would go red if it
    broke).

    Scale shape: three sketch aggregates over the same distinct
    (source, h) frame (checkpointed once), each (n_sources x 16)
    with map-side combine; the comparison is a broadcast-sized join of
    sketch rows."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    tok = docs.select(
        F.col(group_col).alias("src"),
        (F.col(split_col) % 2).alias("half"),
        F.explode(F.array(words)).alias("words"),
    ).filter(F.size("words") >= _SHINGLE_K)
    src_sh = (
        tok.select("src", "half", F.explode(_md5_shingle_hashes()).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    coeffs = _coeffs(_SOURCE_HASHES)

    def sig(frame: DataFrame) -> DataFrame:
        return frame.groupBy("src").agg(
            *[
                F.min(
                    F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))
                ).alias(f"s{i}")
                for i, (a, b) in enumerate(coeffs)
            ]
        )

    full = sig(src_sh)
    h0 = sig(src_sh.where(F.col("half") == 0))
    h1 = sig(src_sh.where(F.col("half") == 1))
    merged = (
        h0.alias("a")
        .join(h1.alias("b"), "src", "full_outer")
        .select(
            "src",
            *[
                F.least(
                    F.coalesce(F.col(f"a.s{i}"), F.lit(_MERSENNE_P)),
                    F.coalesce(F.col(f"b.s{i}"), F.lit(_MERSENNE_P)),
                ).alias(f"m{i}")
                for i in range(_SOURCE_HASHES)
            ],
        )
    )
    mismatch = None
    for i in range(_SOURCE_HASHES):
        bad = (F.col(f"m{i}") != F.col(f"s{i}")).cast("long")
        mismatch = bad if mismatch is None else mismatch + bad
    return (
        full.join(merged, "src")
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.lit(_SOURCE_HASHES).cast("long").alias("n_slots"),
            F.sum(mismatch).cast("long").alias("n_mismatch"),
        )
    )
