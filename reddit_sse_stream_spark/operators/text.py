"""Text-analysis operators over the documents table (training-data pipeline
surface; SURVEY.md §2.8 north-star). Everything is built-in Column algebra —
no Python UDFs in the hot path — so the per-row stages ride whole-stage
codegen.  The per-row scorers (quality, lang, fingerprints, encoding) are
shuffle-free; the corpus-level operators (vocab, BM25, PMI, novelty, chunk
ownership, BPE training) shuffle only narrow derived keys (term / gram /
digest), never document text, and each docstring states its exact exchange
budget.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny per-language stopword markers for the n-gram language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "que"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "zh": ("de", "shi", "le"),
}


def token_count(text: Column | str) -> Column:
    """Whitespace token count. split(..., -1) semantics match ANSI
    string_split; empty string -> 1 empty token in both engines."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(col, r"\s+"))


def marker_hits(text: Column | str, marker: str) -> Column:
    """Occurrences of ' marker ' (space-delimited) — oracle-parity trick:
    (len(x) - len(replace(x, m, ''))) / len(m), identical in any SQL engine."""
    col = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {marker} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def _trunc4(c: Column) -> Column:
    """floor(x*1e4)/1e4 — cross-engine-stable 4-digit truncation. Spark's
    round() goes through the double's shortest DECIMAL repr (BigDecimal
    HALF_UP: 0.60124999..9 prints as '0.60125' -> 0.6013) while ANSI engines
    round the BINARY value (-> 0.6012); floor on the identical IEEE double
    gives the same answer everywhere."""
    return F.floor(c * 10000) / 10000.0


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality features + composite score:
    length, word count, mean word length, alpha ratio, space ratio."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = token_count(t)
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    spaces = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit("")))
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        n_words.alias("n_words"),
        _trunc4(alpha / F.greatest(n_chars, F.lit(1))).alias("alpha_ratio"),
        _trunc4(spaces / F.greatest(n_chars, F.lit(1))).alias("space_ratio"),
        _trunc4(
            (alpha / F.greatest(n_chars, F.lit(1))) * F.least(n_words / 50.0, F.lit(1.0))
        ).alias("quality"),
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: stopword-marker hit counts per language; the
    argmax (ties -> lexicographically first lang) is the predicted language."""
    cols = [
        sum(
            (marker_hits(F.col(text_col), m) for m in markers),
            start=F.lit(0).cast("long"),
        ).alias(f"score_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    return df.select("doc_id", *cols)


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: the first 16 hex digits of the md5 of the
    case-folded, whitespace-normalized text (rolling-hash stand-in,
    deterministic)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.substring(F.md5(F.regexp_replace(F.lower(col), r"\s+", " ")), 1, 16)


def word_ngrams(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """Explode each document into its word n-grams: (doc_id, gram).

    Pure built-ins, no shuffle, no Python.  The whole gram array is built
    INSIDE the explode argument (split -> transform(sequence) -> explode):
    Generate evaluates its child once per input row, so ``split(text)``
    runs once per document.  The earlier formulation sliced the token
    array in a projection ABOVE the Generate — Catalyst re-inlined
    ``split(text)`` under it, making the expansion O(doc_len x n_grams)
    per document, the repo's worst scaler on the 100x sweep (SCALING.md;
    VERDICT r03 next-round #5).  Per-gram work is now a length-n slice +
    join of materialized tokens: O(doc_len) overall for fixed n.

    Docs shorter than n words contribute no rows (the ``when`` guard:
    Spark's ``sequence(1, 0)`` would count DOWN with an implicit -1 step,
    so an unguarded expression explodes garbage)."""
    w = F.split(F.col(text_col), r"\s+")
    # Materialization barrier: explode of a 1-element array evaluates
    # split(text) ONCE per row inside the Generate and emits the token
    # array as a concrete attribute.  Downstream expressions reference
    # that attribute, so Catalyst has nothing to re-inline (projections
    # collapse and HOF lambdas re-evaluate captured EXPRESSIONS per
    # element, but an attribute is just a row value).
    tok = df.select("doc_id", F.explode(F.array(w)).alias("_w"))
    grams = F.when(
        F.size("_w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - (n - 1)),
            lambda i: F.array_join(F.slice("_w", i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tok.select("doc_id", F.explode(grams).alias("gram"))


def word_ngram_hashes(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """(doc_id, gram_h): hash of each word n-gram — the scale-path join key
    for decontamination.  An 8-byte long crosses the shuffle instead of a
    40-60 byte gram string (the gram join was this repo's worst scaler
    when string-keyed).

    xxhash64 over the built-in n-gram expansion (:func:`word_ngrams`):
    whole-stage codegen, zero Python.  Tokens are split on Java's ``\\s``,
    the ASCII class ``[ \\t\\n\\r\\f\\v]+`` (Unicode spaces such as
    U+00A0/U+2028 are token characters), and empty edge tokens are kept.
    DuckDB's RE2 ``\\s`` is the same set minus ``\\v`` (U+000B) — an
    oracle-side-only caveat, and no testdata column carries vertical
    tabs.  Distinct/overlap counts are value-checked against the
    string-keyed DuckDB oracle at every test SF."""
    return word_ngrams(df, n, text_col).select(
        "doc_id", F.xxhash64("gram").alias("gram_h")
    )


def vocab_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: per-term total frequency, document frequency, and
    doc-fraction (the BPE-merge / tokenizer-training statistic).

    Scale shape: explode happens map-side; the groupBy(term) aggregate gets
    a partial (map-side combine) pass before the single shuffle on term, so
    shuffled bytes are O(|vocab| x partitions), not O(total tokens).  The
    corpus-size denominator joins in as a broadcast 1-row aggregate rather
    than a driver collect."""
    total = df.agg(F.count("*").alias("_n_docs"))
    tok = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("term")
    )
    counts = tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.count_distinct("doc_id").alias("df"),
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "term",
        "tf",
        "df",
        _trunc4(F.col("df") / F.col("_n_docs")).alias("doc_frac"),
    )


def repetition_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Boilerplate/repetition signal (Gopher-style quality filter): fraction
    of word-bigrams that are duplicates within the document.

    One shuffle keyed on doc_id with partial aggregation; the bigram
    expansion itself is codegen-local."""
    grams = word_ngrams(df, 2, text_col)
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.count_distinct("gram").alias("n_unique"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_unique",
        _trunc4(
            (F.col("n_bigrams") - F.col("n_unique"))
            / F.greatest(F.col("n_bigrams"), F.lit(1))
        ).alias("dup_frac"),
    )


def repetition_runs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style intra-document repetition signals that
    :func:`repetition_score` cannot see — the degenerate-generation /
    template-spam shapes (one phrase looping, a word stuttered N times)
    that survive a plain dup-bigram fraction:

    - ``top_2gram_frac``: occurrences of the MOST FREQUENT word-bigram
      over all bigram slots (the "top n-gram fraction" rule from the
      Gopher quality suite) — computed WITHOUT a shuffle as the longest
      equal-run in the lexicographically sorted bigram array (sortedness
      makes equal grams adjacent, so mode frequency == max run);
    - ``max_word_run``: longest run of the SAME word at consecutive
      positions (stutter detector), a fold over the unsorted words.

    Both folds carry a (prev, run, best) struct through ``F.aggregate``,
    so the whole operator is ONE map-only projection — zero shuffles,
    zero Python — vs the explode + doc_id exchange a groupBy formulation
    would pay over 100 TB of token stream (``repetition_score`` keeps
    that shape for the distinct-count it needs).  HOF lambdas run as
    CodegenFallback; acceptable here because each array is touched a
    constant number of times and nothing re-inlines (arrays sit behind
    the explode barrier, see :func:`word_ngrams`).

    Fractions floor-quantize at 1e-4 so both engines hash identically.

    Short-document edge (ADVICE r06 high): a <2-token document must NOT
    reach ``F.sequence(0, size-2)`` — sequence(0, -1) yields the
    DESCENDING [0, -1] and the slice at i+1=0 throws
    INVALID_PARAMETER_VALUE.START at runtime.  The bigram build is
    therefore gated on ``size >= 2``; an empty gram array flows through
    the existing ``n_2grams > 0`` guard to ``top_2gram_frac = 0.0``,
    matching the oracle's ``len(words) >= 2`` filter + COALESCE.  A
    NULL-text document is dropped (oracle drops it too via its inner
    join on the per-word frame)."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    tok = df.where(F.col(text_col).isNotNull()).select(
        id_col, F.explode(F.array(words)).alias("ws")
    )
    grams = F.when(
        F.size("ws") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - 2),
            lambda i: F.concat_ws(" ", F.slice("ws", i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = tok.select(
        id_col,
        F.col("ws"),
        F.explode(F.array(F.array_sort(grams))).alias("gs"),
    )

    def max_run(arr_col):
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(acc, g):
            run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            return F.struct(
                g.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(arr_col, init, step, lambda acc: acc["best"])

    n_words = F.size("ws").cast("long")
    n_2grams = F.size("gs").cast("long")
    top_cnt = max_run(F.col("gs"))
    return base.select(
        id_col,
        n_words.alias("n_words"),
        n_2grams.alias("n_2grams"),
        F.when(n_2grams > 0, _trunc4(top_cnt / n_2grams))
        .otherwise(F.lit(0.0))
        .alias("top_2gram_frac"),
        max_run(F.col("ws")).alias("max_word_run"),
    )


def chunk_dup_stats(
    df: DataFrame, chunk_words: int = 16, text_col: str = "text"
) -> DataFrame:
    """CCNet-style sub-document duplication report: split every document
    into fixed ``chunk_words``-word chunks (full chunks only), hash each
    chunk, and report per source how many chunks also occur in at least one
    OTHER document anywhere in the corpus.  This is the paragraph-dedup
    feasibility metric a corpus pipeline computes before deciding whether
    chunk-level (vs document-level) dedup is worth a pass.

    Scale shape: the chunking is pure codegen (split -> sequence ->
    slice/array_join -> explode; zero Python).  Exactly ONE data shuffle:
    an explicit repartition on the chunk digest, whose HashPartitioning
    is a subset of every downstream grouping key — so the per-doc
    collapse, the (digest, source) aggregate, AND the digest-partitioned
    window all ride it with zero further exchanges (plan-asserted in
    tests/test_plans.py).  count_distinct is avoided deliberately: its
    expand pass would force an extra (digest, source, doc_id) exchange;
    the two-level aggregate computes the same distinct-doc count on the
    already-co-located rows.  Map-side combine is knowingly forfeited —
    chunk rows are near-unique per (digest, doc), so a pre-shuffle
    partial pass would shrink almost nothing.  The final per-source
    rollup shuffles |sources| rows."""
    words = F.split(F.col(text_col), r"\s+")
    n_full = F.floor(F.size(words) / chunk_words).cast("int")
    # sequence(0, -1) would DESCEND in Spark; guard the empty case so the
    # semantics match DuckDB's range(0, 0) = [].
    idx = F.when(n_full > 0, F.sequence(F.lit(0), n_full - 1)).otherwise(
        F.array().cast("array<int>")
    )
    ch = df.select(
        "doc_id",
        "source",
        words.alias("_w"),
        F.explode(idx).alias("_i"),
    ).select(
        "doc_id",
        "source",
        F.md5(
            F.array_join(
                F.slice(F.col("_w"), F.col("_i") * chunk_words + 1, chunk_words),
                " ",
            )
        ).alias("chunk_h"),
    )
    ch = ch.repartition("chunk_h")
    per_doc = ch.groupBy("chunk_h", "source", "doc_id").agg(
        F.count("*").alias("cnt")
    )
    g = per_doc.groupBy("chunk_h", "source").agg(
        F.sum("cnt").alias("c"), F.count("*").alias("nd_s")
    )
    from pyspark.sql import Window

    nd = F.sum("nd_s").over(Window.partitionBy("chunk_h"))
    gg = g.withColumn("nd", nd)
    dup_c = F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0)))
    return gg.groupBy("source").agg(
        F.sum("c").alias("n_chunks"),
        dup_c.alias("n_dup_chunks"),
    ).select(
        "source",
        "n_chunks",
        "n_dup_chunks",
        _trunc4(F.col("n_dup_chunks") / F.col("n_chunks")).alias("dup_rate"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-integer BM25 top-k retrieval (k1=1.2, b=0.75) — the keyword
    search every corpus-curation loop runs ("find the docs about X") and
    the relevance baseline ANN rerankers are judged against.

    Every intermediate is an integer-valued double below 2^53, so each
    floor() sees the identical correctly-rounded IEEE quotient in any
    engine and the scores (and the top-k cut) are bit-reproducible:

    - ``idf_fp``   = floor((2(N-df)+1) * 1e4 / (2df+1))       [RSJ idf,
      log-free rational form: the log is monotone in this ratio and BM25
      ranking only needs monotonicity, not the log's absolute scale]
    - ``L``        = floor(dl * 1e6 * N / T)                  [dl/avgdl]
    - ``denom``    = tf*1e6 + floor(6*(1e6 + 3L) / 20)        [k1*(1-b+b*L),
      k1=6/5 and b=3/4 as exact rationals, both at the 1e6 scale]
    - ``gain``     = floor(tf * 22e5 * 1e6 / denom)           [(k1+1)*tf/..,
      carrying its own 1e6 scale so denom's 1e6 cancels and gain keeps 6
      fractional digits of the TF-saturation curve — dividing by the
      1e6-scaled denom WITHOUT re-scaling collapses gain to {0,1,2} and
      quantizes the length normalization away entirely (ADVICE r05 high)]
    - ``score``    = sum(idf_fp * gain) / 1e10                [descale:
      1e4 (idf) x 1e6 (gain)]

    Magnitude bounds (int64-exact): idf_fp <= 2e4*N -> needs N <= 4e8 at
    the 1e4 scale (drop the idf scale to 1e2 past that); gain < 2.2e6
    (denom > tf*1e6), so idf_fp*gain <= (2e4*N)*(2.2e6) and the <=|Q|
    addends sum in int64.  The gain numerator tf*2.2e12 is an exact
    double while tf <= 4095; above that the product rounds, but both
    engines round the identical IEEE multiply so cross-engine parity (the
    property the oracle checks) holds for any tf — only the "infinite-
    precision rational" reading degrades.

    Scale shape: ONE tokenize pass over the corpus.  The token stream
    pivots into one row per document — ``dl`` = count(*) per doc (== the
    token count size(split) would give, without re-evaluating split per
    token row) plus a tf column per query term — so the map-side partial
    aggregate compacts each input document to a single narrow row before
    the only full-data exchange.  The (N, T, df_t) statistics are ONE
    single-row aggregate over that same per-doc frame: because both
    consumers need every partial sum, the two exchange subtrees are
    byte-identical and Spark's ReuseExchange dedups the scan (the
    explode-join formulation could not reuse: the tf branch's inferred
    ``term IS NOT NULL`` pushdown and the df branch's column pruning each
    perturb the shared subtree — plan-asserted single-split in
    tests/test_plans.py).  The stats row broadcasts back, the score is a
    row-wise column sum over the |Q| tf columns (no second data shuffle),
    and the top-k is TakeOrderedAndProject, never a global sort.  The
    column pivot is the right shape for the ad-hoc few-term queries this
    serves (|Q| <= ~32); a thousand-term query should use an explode +
    broadcast-df join instead (codegen width grows with |Q|)."""
    lower = F.lower(F.col(text_col))
    words = F.split(lower, r"\s+")
    nq = len(query_terms)
    # explode_OUTER so a NULL-text document still yields one (term=NULL)
    # row: it must survive into per_doc so the corpus statistics (n_docs)
    # count it, exactly as the oracle's count(*) over all documents does
    # (ADVICE r06 low — a plain explode silently dropped such docs from
    # N, shifting every idf).  dl counts non-null terms (the NULL row
    # contributes 0 tokens, matching sum(len(w)) skipping NULL arrays),
    # and the tf conditions route NULL terms to 0 via when/otherwise.
    base = df.select(id_col, F.explode_outer(words).alias("term"))
    per_doc = base.groupBy(id_col).agg(
        F.count("term").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("n_tokens"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(nq)
        ],
    )
    l_fp = F.floor(F.col("dl") * 1000000.0 * F.col("n_docs") / F.col("n_tokens"))
    k1b = F.floor(6 * (1000000 + 3 * l_fp) / 20.0)

    def contrib(i):
        dfc = F.col(f"df_{i}")
        tfc = F.col(f"tf_{i}")
        idf_fp = F.floor(
            (2 * (F.col("n_docs") - dfc) + 1) * 10000.0 / (2 * dfc + 1)
        )
        gain = F.floor(tfc * 2200000.0 * 1000000 / (tfc * 1000000 + k1b))
        return (idf_fp * gain).cast("long")

    score_fp = contrib(0)
    n_terms = (F.col("tf_0") > 0).cast("long")
    for i in range(1, nq):
        score_fp = score_fp + contrib(i)
        n_terms = n_terms + (F.col(f"tf_{i}") > 0).cast("long")
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (score_fp / F.lit(1e10)).alias("bm25"),
            n_terms.alias("n_terms"),
        )
        .filter(F.col("n_terms") >= 1)
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def winnow_fingerprint_stats(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints [Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm]: hash every word k-gram, then keep
    the minimum hash of every sliding window of ``w`` consecutive grams
    (ties -> leftmost position; MOSS uses rightmost — a pure convention,
    the guarantee is identical).  Any shared substring of >= w+k-1 words
    between two documents is guaranteed to share a fingerprint, with at
    most ``w`` positions between selections — the bounded-gap property
    plain mod-p hash sampling (:func:`fingerprint`) cannot give.

    Output is the per-document fingerprint-set summary (count / min / max
    / order-independent XOR) rather than the exploded set, so the frame
    stays corpus-sized and the value oracle covers every selection via
    the XOR.

    Scale shape: gram hashing is codegen Column algebra; the only
    shuffle is the doc_id exchange for the position window (at 100 TB
    the corpus would be bucketed by doc_id already, making it free); the
    struct-min window is a streaming frame (no per-row re-scan).  Docs
    shorter than k words contribute no grams and are absent, matching
    the SQL twin."""
    from pyspark.sql import Window

    from reddit_sse_stream_spark.operators.dedup import md5_hash60

    words = F.split(F.lower(F.col(text_col)), r"\s+")
    tok = df.select(id_col, F.explode(F.array(words)).alias("ws")).filter(
        F.size("ws") >= k
    )
    hashes = F.transform(
        F.sequence(F.lit(0), F.size("ws") - k),
        lambda i: md5_hash60(F.concat_ws(" ", F.slice("ws", i + 1, k))),
    )
    grams = tok.select(
        id_col, (F.size("ws") - k + 1).alias("n_grams"), F.posexplode(hashes)
    ).select(id_col, "n_grams", F.col("pos"), F.col("col").alias("h"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    starts = grams.select(
        id_col,
        "pos",
        "n_grams",
        F.min(F.struct("h", "pos")).over(win).alias("m"),
    ).filter(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))
    selected = starts.select(
        id_col, F.col("m.h").alias("h"), F.col("m.pos").alias("fp_pos")
    ).distinct()
    return selected.groupBy(id_col).agg(
        F.count("*").alias("n_fp"),
        F.min("h").alias("fp_min"),
        F.max("h").alias("fp_max"),
        F.bit_xor("h").alias("fp_xor"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    df_cap: int = 64,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TF-IDF cosine near-duplicate pairs — the sparse-vector twin of the
    dense-embedding cosine dedup: documents sharing weighted vocabulary
    (not just raw shingles) score high even when word ORDER diverges, the
    template/paraphrase case n-gram jaccard under-scores.

    Exactness recipe: idf is the log-free rational surrogate
    ``idf_fp = floor((2N+1) * 100 / (2*df+1))`` (monotone in df, the only
    property cosine weighting needs), weights ``w = tf * idf_fp`` are
    int64, and norm/dot sums accumulate exactly in DECIMAL(38,0) before
    ONE conversion to double each — so the 1e-4-floor-quantized cosine is
    engine-identical.  Magnitude bounds: w <= tf_max * (2N+1)*100/3; the
    int64 product ``w_a*w_b`` needs tf_max^2 * ((2N+1)*100/3)^2 < 2^63 —
    holds through N ~ 1e6 at tf_max ~ 1e3 (drop the idf scale to 10 for
    corpora beyond that; the DECIMAL accumulators are unaffected).

    Scale shape: candidate pairs come from the shared COLD-term equi-join
    (document frequency <= ``df_cap``), never an all-pairs product — the
    same hot-key guard as the gram-jaccard family, with the same
    documented miss class (a pair sharing ONLY ubiquitous terms escapes;
    at cosine >= 0.5 that is a stopword-only match, dropped upstream by
    any real pipeline).  The dot product then joins the FULL weighted
    term frames of candidate docs (hot terms included, so the score
    itself is exact).  Shuffles: tf groupBy, term-keyed candidate join,
    (doc, term)-keyed dot join — all narrow keys."""
    lower = F.lower(F.col(text_col))
    tok = df.select(id_col, F.explode(F.split(lower, r"\s+")).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    totals = df.agg(F.count("*").alias("n_docs"))
    idf_fp = F.floor(
        (2 * F.col("n_docs") + 1) * 100.0 / (2 * F.col("df") + 1)
    )
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select(id_col, "term", (F.col("tf") * idf_fp).cast("long").alias("w"))
        .localCheckpoint(eager=False)  # feeds norms + both dot sides
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(38,0)")).cast("double")
        ).alias("nrm")
    )
    cold = dfreq.filter(F.col("df") <= df_cap).select("term")
    ex = w.join(F.broadcast(cold), "term").select(id_col, "term")
    cand = (
        ex.select(F.col(id_col).alias("doc_a"), "term")
        .join(ex.select(F.col(id_col).alias("doc_b"), "term"), "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    wa = w.select(F.col(id_col).alias("doc_a"), "term", F.col("w").alias("wa"))
    wb = w.select(F.col(id_col).alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(38,0)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.floor(F.col("dot") * 10000.0 / (F.col("na") * F.col("nb"))) / 10000.0
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def novelty_first_owner(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus novelty curve: for every document, the fraction of its
    DISTINCT word 3-grams whose FIRST owner (minimum doc_id over the
    whole corpus) is the document itself — the per-document marginal
    novelty a streaming ingest pipeline uses to decide whether a new
    crawl batch still adds information or is re-crawling known content
    (documents arriving later than another copy of their content score
    near 0; genuinely new material scores near 1).

    Scale shape: one n-gram pass (:func:`word_ngrams` — explode-barrier,
    no re-inlined split) into a LINEAR pipeline with exactly TWO data
    shuffles and ONE corpus scan: an explicit repartition on the gram key
    whose HashPartitioning is a subset of everything downstream — the
    per-doc gram dedup (groupBy doc,gram), the min-doc_id-per-gram
    WINDOW (partitionBy gram), and nothing else, so neither needs its
    own exchange — then the final doc_id-keyed count.  The window
    formulation replaces the groupBy(gram)+join-back shape, which
    re-tokenized the corpus for each side of the join (a naive first cut
    measured 6 exchanges / 2 full scans).  No quadratic anywhere: work
    is linear in total n-gram occurrences.

    ``novelty`` floor-quantizes at 1e-4 (both engines floor the identical
    IEEE quotient)."""
    from pyspark.sql import Window

    grams = word_ngrams(df.select(id_col, text_col), 3, text_col=text_col)
    dg = (
        grams.select(id_col, "gram")
        .repartition("gram")
        .groupBy(id_col, "gram")
        .agg(F.lit(1))
    )
    first = F.min(id_col).over(Window.partitionBy("gram"))
    per_doc = (
        dg.select(id_col, (first == F.col(id_col)).alias("is_first"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("is_first").cast("long")).alias("n_novel"),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_novel",
        _trunc4(F.col("n_novel") / F.col("n_grams")).alias("novelty"),
    )


def novelty_decay_curve(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Marginal-novelty decay per ingestion batch — the batch-level twin
    of :func:`novelty_first_owner` (VERDICT r11 next #8): split the
    corpus into 10 equal-width doc_id bands (ingestion order)
    and report, per batch, how much of its distinct word-3-gram
    vocabulary is NEW (first batch to contain the gram).  The curve a
    crawl pipeline watches to decide when further ingestion stops adding
    information — a healthy fresh source decays slowly; a re-crawl of
    known content collapses to ~0 after batch 0.

    Scale shape: the same LINEAR gram pipeline as
    :func:`novelty_first_owner` — one corpus scan into
    :func:`word_ngrams`, one explicit gram-key repartition that BOTH the
    (batch, gram) dedup aggregate and the min-batch-per-gram window ride
    (subset partitioning: hash(gram) co-locates every (batch, gram)
    group and the gram window frame), then a batch-keyed aggregate whose
    output is 10 rows.  The batch id derives from a broadcast
    1-row min/max frame (integer band arithmetic — no global sort, no
    ntile window).  All ratios are exact integer division quantized at
    1e-4, bit-identical across engines."""
    from pyspark.sql import Window

    band = f"(({id_col} - mn) * 10) div (mx - mn + 1)"
    mm = df.agg(F.min(id_col).alias("mn"), F.max(id_col).alias("mx"))
    grams = word_ngrams(df.select(id_col, text_col), 3, text_col=text_col)
    bg = (
        grams.join(F.broadcast(mm))
        .select(F.expr(band).alias("batch"), "gram")
        .repartition("gram")
        .groupBy("batch", "gram")
        .agg(F.lit(1))
    )
    first = F.min("batch").over(Window.partitionBy("gram"))
    per_batch = (
        bg.select("batch", (first == F.col("batch")).alias("is_first"))
        .groupBy("batch")
        .agg(
            F.count("*").alias("n_types"),
            F.sum(F.col("is_first").cast("long")).alias("n_novel_types"),
        )
    )
    n_docs = (
        df.select(id_col)
        .join(F.broadcast(mm))
        .groupBy(F.expr(band).alias("batch"))
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        per_batch.join(F.broadcast(n_docs), "batch")
        .select(
            "batch",
            "n_docs",
            "n_types",
            "n_novel_types",
            (F.expr("n_novel_types * 10000 div n_types") / F.lit(10000.0)).alias(
                "novelty"
            ),
        )
        .orderBy("batch")
    )


def encoding_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-health signals — the mojibake/binary-junk gate a web-crawl
    corpus runs before any language-level scoring (a page that is 30%
    U+FFFD replacement characters or control bytes is a charset-decode
    casualty, not a document):

    - ``n_repl``: U+FFFD REPLACEMENT CHARACTER count (the decoder's own
      error marker), counted by length-difference under single-char
      delete — no regex, so no dialect drift;
    - ``n_ctrl``: C0 control characters other than \\t \\n \\r, plus DEL;
    - ``printable_frac``: fraction of characters in ASCII printable
      [space..~] — the cheap binary-contamination signal (a deliberately
      multilingual corpus would widen the class; the gate's SHAPE is the
      deliverable);
    - ``ascii_letter_frac``: fraction [A-Za-z] — feeds the same
      quality-classifier feature row as :func:`quality_score`.

    All counts via length(x) - length(regexp_replace(x, class, '')) on
    explicit character classes inside the Java/RE2 common dialect.
    Map-only, zero shuffles, zero Python; fractions floor-quantize at
    1e-4."""
    t = F.col(text_col)
    n_chars = F.length(t)
    repl = F.lit("�")
    n_repl = n_chars - F.length(F.regexp_replace(t, repl, ""))
    n_ctrl = n_chars - F.length(
        F.regexp_replace(t, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    )
    n_print = n_chars - F.length(F.regexp_replace(t, "[\\x20-\\x7e]", ""))
    n_alpha = n_chars - F.length(F.regexp_replace(t, "[A-Za-z]", ""))
    denom = F.greatest(n_chars, F.lit(1))
    return df.select(
        id_col,
        n_chars.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_repl"),
        n_ctrl.cast("long").alias("n_ctrl"),
        _trunc4(n_print / denom).alias("printable_frac"),
        _trunc4(n_alpha / denom).alias("ascii_letter_frac"),
    )


def pmi_top_pairs(
    df: DataFrame,
    k: int = 30,
    min_support: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top word-pair collocations by pointwise mutual information over
    document-level co-occurrence — the phrase-mining / tokenizer-merge
    signal ("new york", "machine learning") computed corpus-wide.

    PMI = log P(a,b)/(P(a)P(b)); the log is transcendental, so the score
    is the LOG-FREE rational form (same trick as BM25's RSJ idf — PMI
    ranking only needs monotonicity)::

        pmi_fp = floor((c_ab * N * 1e4) / (c_a * c_b))

    with c_ab = docs containing BOTH, c_a/c_b = docs containing each, N =
    total docs.  c_ab*N <= N^2 and each product/quotient is a single IEEE
    op on integer-valued doubles — exact to N ~ 3e7 docs at the 1e4
    scale (drop the scale past that).

    Scale shape: ONE tokenize pass -> per-doc DISTINCT terms (the doc_id
    repartition is ridden by the dedup aggregate AND both sides of the
    pair self-join — byte-identical subtrees, ReusedExchange); the
    self-join emits each doc's m-choose-2 term pairs, collapsed map-side
    to at most |vocab|^2 keys before the one pair-keyed exchange.  The
    per-doc fan-out is m^2 in the doc's DISTINCT vocabulary — on a real
    corpus bound it with the same broadcast hot/cold vocabulary gate the
    dedup family uses (restrict to a candidate vocabulary before the
    join); the fixture corpus is vocabulary-bounded (~60 words) by
    construction.  min_support prunes the pair tail BEFORE the top-k;
    the final cut is TakeOrderedAndProject on (pmi_fp, pair)."""
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    dt = (
        df.select(id_col, F.explode(words).alias("w"))
        .repartition(id_col)
        .groupBy(id_col, "w")
        .agg(F.lit(1))
    )
    nd = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    cw = dt.groupBy("w").agg(F.count("*").alias("c"))
    a = dt.select(F.col(id_col), F.col("w").alias("wa"))
    b = dt.select(F.col(id_col), F.col("w").alias("wb"))
    pairs = (
        a.join(b, [id_col])
        .where(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= min_support)
    )
    ca = cw.select(F.col("w").alias("wa"), F.col("c").alias("c_a"))
    cb = cw.select(F.col("w").alias("wb"), F.col("c").alias("c_b"))
    pmi = F.floor(
        (F.col("c_ab") * F.col("n_docs") * 10000.0)
        / (F.col("c_a") * F.col("c_b"))
    ).cast("long")
    return (
        pairs.join(F.broadcast(ca), "wa")
        .join(F.broadcast(cb), "wb")
        .crossJoin(F.broadcast(nd))
        .select(
            "wa", "wb", "c_ab", "c_a", "c_b", pmi.alias("pmi_fp")
        )
        .orderBy(F.desc("pmi_fp"), "wa", "wb")
        .limit(k)
    )


def chunk_dedup_rewrite(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style paragraph-level dedup as a REWRITE: split every
    document into fixed 16-word chunks, keep each chunk's
    globally FIRST occurrence (minimum (doc_id, position) over the
    corpus — the deterministic keep-first policy shared with exact
    dedup), and re-assemble each document from its surviving chunks —
    the pass that strips boilerplate paragraphs repeated across a crawl
    while preserving each document's unique content in original order.

    Contract: operates on FULL chunks only (the < 16-word tail
    is out of scope, same as :func:`chunk_dup_stats`); a document whose
    every full chunk is owned elsewhere comes back with empty
    ``text_dedup`` and n_kept = 0 — the downstream gate's drop signal.
    EVERY input document appears in the output: one shorter than
    16 words (no full chunk at all) comes back with n_chunks = 0,
    n_kept = 0, text_dedup = '' — a rewrite must not silently lose docs
    (ADVICE r07; previously such docs vanished via the empty posexplode).

    Scale shape: chunking is pure codegen (split -> sequence -> slice ->
    posexplode_outer — the _outer keeps chunkless docs as one null row);
    ownership is ONE window (min (doc_id, pos) struct per chunk digest)
    over one digest-keyed exchange, with the null-chunk rows salted to a
    PER-DOC partition key so a 100 TB corpus's short docs don't pile
    into one hot null partition; re-assembly is a doc-keyed
    sort_array(collect_list(struct(pos, chunk))) — the struct sort pins
    order deterministically, and per-doc state is the doc's own chunks,
    never corpus-sized."""
    from pyspark.sql import Window

    words = F.split(F.col(text_col), r"\s+")
    n_full = F.floor(F.size(words) / 16).cast("int")
    idx = F.sequence(F.lit(0), n_full - 1)
    ch = (
        df.select(
            id_col,
            words.alias("_w"),
            F.when(n_full > 0, idx)
            .otherwise(F.array().cast("array<int>"))
            .alias("_is"),
        )
        .select(id_col, "_w", F.posexplode_outer("_is").alias("pos", "_i"))
        .select(
            id_col,
            "pos",
            F.when(
                F.col("pos").isNotNull(),
                F.array_join(
                    F.slice(F.col("_w"), F.col("_i") * 16 + 1, 16),
                    " ",
                ),
            ).alias("chunk"),
        )
    )
    # null chunks (chunkless docs) get a per-doc key — md5 output is hex,
    # so the \x00-prefixed salt cannot collide with a real digest
    part_key = F.coalesce(
        F.md5("chunk"),
        F.concat(F.lit("\x00doc:"), F.col(id_col).cast("string")),
    )
    owner = F.min(F.struct(F.col(id_col), F.col("pos"))).over(
        Window.partitionBy(part_key)
    )
    kept = ch.withColumn(
        "is_owner",
        (owner[id_col] == F.col(id_col)) & (owner["pos"] == F.col("pos")),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("pos").cast("long").alias("n_chunks"),
            F.coalesce(F.sum(F.col("is_owner").cast("long")), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("is_owner"),
                                F.struct(F.col("pos"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


def bpe_train_merges(
    df: DataFrame,
    rounds: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL byte-pair-encoding merge training over the corpus — the
    iterative tokenizer-learning loop itself (Sennrich et al. 2016), not
    the one-round pair census (:func:`bpe_pair_merge_counts` keeps that
    as the census entry) and not a regex run-count proxy.  Each round:
    count adjacent symbol pairs over the weighted word vocabulary, pick
    the most frequent pair (ties -> lexicographically smallest —
    deterministic), fuse it corpus-wide, repeat.  Output is the learned
    merge table (round, pair_left, pair_right, merged, cnt) — the
    artifact a real tokenizer ships.

    Representation that makes the merge a pure string op in ANY engine:
    each word's symbol sequence is ``<s1><s2>...<sn>`` (words restricted
    to [a-z0-9]+, so the angle brackets cannot occur in symbols), and
    fusing pair (a,b) is ``replace(seq, '<a><b>', '<ab>')`` — replace()
    scans left-to-right non-overlapping in both Spark and ANSI engines,
    which IS BPE's greedy leftmost merge order ('aaa' + (a,a) -> 'aa','a').
    Pair COUNTING sees every adjacent pair including overlaps, the same
    count-then-greedy asymmetry real BPE trainers have.

    Scale shape: the loop runs over the DISTINCT-word vocabulary with
    frequencies (Zipf collapse — the corpus is tokenized ONCE and never
    re-read; at 100 TB the vocab frame is millions of rows, not
    billions), one pair-count aggregate (map-side combined, |pairs|
    keys) + one 1-row argmax collect per round — the same
    parameter-server shape as k-means, with ONE pair as the entire
    per-round model delta.  rounds is fixed and small by design."""
    words = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    vocab = (
        df.select(words)
        .where(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.concat(
                F.lit("<"), F.array_join(F.split("w", ""), "><"), F.lit(">")
            ).alias("seq"),
            "freq",
        )
    )
    merges = []
    for t in range(1, rounds + 1):
        syms = F.split(F.regexp_replace("seq", "^<|>$", ""), "><")
        pair_arr = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.struct(
                    F.element_at(syms, i + 1).alias("a"),
                    F.element_at(syms, i + 2).alias("b"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<a:string,b:string>>")
        )
        best = (
            vocab.select("freq", F.explode(pair_arr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((t, a, b, a + b, cnt))
        vocab = vocab.select(
            F.replace(
                F.col("seq"),
                F.lit(f"<{a}><{b}>"),
                F.lit(f"<{a}{b}>"),
            ).alias("seq"),
            "freq",
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        merges,
        "round int, pair_left string, pair_right string, merged string, cnt long",
    )


def bpe_token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokenize the corpus with the merges :func:`bpe_train_merges` just
    learned (its default 4 rounds) and report per-document REAL subword
    token counts — the token-accounting pass a training-mix scheduler
    actually needs (the whitespace :func:`token_count` stays as the
    zero-training fallback).  Application is single-pass in rank order (each learned
    merge applied once, corpus-wide, in the order it was learned — the
    standard fast approximation; the encoding makes each application one
    replace()).

    Tokenization happens on the DISTINCT-word vocabulary and joins back
    to documents by word (Zipf collapse again: tokenize |vocab| strings,
    not |corpus|), so per-doc counts are one broadcast join + sum.
    Words outside [a-z0-9]+ are outside the trained alphabet and are
    excluded from both training and counting (documented contract; a
    production tokenizer adds a byte-fallback alphabet instead)."""
    merges = [
        (r["pair_left"], r["pair_right"])
        for r in bpe_train_merges(df, text_col=text_col, id_col=id_col).collect()
    ]
    words = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    base = df.select(F.col(id_col), words).where(
        F.col("w").rlike("^[a-z0-9]+$")
    )
    vocab = base.select("w").distinct().select(
        "w",
        F.concat(
            F.lit("<"), F.array_join(F.split("w", ""), "><"), F.lit(">")
        ).alias("seq"),
    )
    seq = F.col("seq")
    for a, b in merges:
        seq = F.replace(seq, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    toks = vocab.select(
        "w",
        F.size(F.split(F.regexp_replace(seq, "^<|>$", ""), "><"))
        .cast("long")
        .alias("n_tok"),
    )
    return (
        base.join(F.broadcast(toks), "w")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
            _trunc4(
                F.sum(F.length("w")) / F.sum("n_tok")
            ).alias("chars_per_token"),
        )
    )


#: the Gopher rule's stopword list (Rae et al. 2021, Table A1 quality
#: filtering: "contains at least 2 of ...")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_gate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_stop: int = 2
) -> DataFrame:
    """The Gopher quality-rule gate (Rae et al. 2021) — the named
    keep/drop bundle of the MassiveText pipeline, complementing this
    module's generic :func:`quality_score` features and the repetition
    rules of :func:`repetition_runs`: word count in [50, 100 000], mean
    word length in [3, 10], symbol-to-word ratio ('#' chars + '...'
    occurrences) <= 0.1, >= 80% of
    words containing an alphabetic character, and at least ``min_stop``
    distinct stopwords from the paper's 8-word list present.

    Per doc: every rule's measured value plus the composite ``keep``
    flag (INTEGER for oracle parity) — the values, not just the verdict,
    because threshold tuning is the actual curation workflow.

    Exactness: ratios floor-quantize at 1e-4 and the keep comparisons
    run on the quantized values, so both engines cut identically at the
    boundary.  NULL text drops (same contract as repetition_runs).

    Scale shape: ONE map-only projection — the word array sits behind
    the explode-of-1-array barrier so each fold touches it without
    re-inlining the split (see :func:`word_ngrams`), symbol counts come
    off the raw string, and there is no shuffle anywhere."""
    lt = F.lower(F.col(text_col))
    ws = F.filter(F.split(lt, r"\s+"), lambda w: F.length(w) > 0)
    tok = df.where(F.col(text_col).isNotNull()).select(
        id_col,
        F.explode(F.array(F.struct(ws.alias("ws"), lt.alias("lt")))).alias("s"),
    ).select(id_col, F.col("s.ws").alias("ws"), F.col("s.lt").alias("lt"))

    n_words = F.size("ws").cast("long")
    denom = F.greatest(n_words, F.lit(1))
    chars = F.aggregate(
        F.col("ws"),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.length(w),
    )
    alpha_words = F.size(
        F.filter(F.col("ws"), lambda w: w.rlike("[a-z]"))
    ).cast("long")
    n_stop = sum(
        (
            F.array_contains(F.col("ws"), s).cast("long")
            for s in GOPHER_STOPWORDS
        ),
        start=F.lit(0).cast("long"),
    )
    hash_cnt = F.length("lt") - F.length(F.replace(F.col("lt"), F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length("lt") - F.length(F.replace(F.col("lt"), F.lit("..."), F.lit("")))
    ) / 3
    mwl = _trunc4(chars / denom)
    alpha_frac = _trunc4(alpha_words / denom)
    sym_ratio = _trunc4((hash_cnt + ell_cnt) / denom)
    keep = (
        n_words.between(50, 100_000)
        & mwl.between(3.0, 10.0)
        & (sym_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (n_stop >= min_stop)
    )
    return tok.select(
        id_col,
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("frac_alpha_words"),
        n_stop.alias("n_stop_hits"),
        sym_ratio.alias("symbol_ratio"),
        keep.cast("int").alias("keep"),
    )


def duplicate_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicated-SPAN extents [Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array
    substring dedup, re-expressed relationally]: a word position is
    duplicated when its 8-gram occurs at more than one (doc, pos) in the
    corpus (within-doc repeats count, as in the paper); maximal runs of
    consecutive duplicated positions per doc are merged into spans.
    Output: (doc_id, span_start, span_end, n_grams) — span_end is the
    last word index covered (last start + 7) — the surgical
    alternative to whole-doc dropping: downstream cuts just these byte
    ranges.  Docs shorter than 8 words have no 8-gram and are absent by
    contract (this is a REPORT of spans, not a rewrite —
    :func:`chunk_dedup_rewrite` is the rewriting sibling).

    Scale shape: TWO exchanges total.  Duplication marking is a count
    window over the gram-hash key — one exchange, no gram-pair join, so
    a boilerplate gram shared by a million docs costs its row count,
    never a quadratic fanout (the hot-gram problem that forces caps on
    the pair-join family doesn't exist here).  The islands fold
    (pos - row_number per doc) pays the second exchange on doc_id, and
    Catalyst reuses that clustering for the final (doc, island) agg.
    md5-derived gram hashes keep every value SQL-reproducible."""
    from pyspark.sql import Window

    from reddit_sse_stream_spark.operators.dedup import md5_hash60

    words = F.split(F.lower(F.col(text_col)), r"\s+")
    gram_h = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 8),
        lambda i: md5_hash60(F.concat_ws(" ", F.slice("ws", i + 1, 8))),
    )
    grams = (
        df.select(id_col, F.explode(F.array(words)).alias("ws"))
        .filter(F.size("ws") >= 8)
        .select(id_col, F.posexplode(gram_h).alias("pos", "h"))
    )
    shared = grams.withColumn(
        "occ", F.count("*").over(Window.partitionBy("h"))
    ).where(F.col("occ") > 1)
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy("pos")
    )
    return (
        shared.select(id_col, "pos", (F.col("pos") - rn).alias("grp"))
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + 7).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .drop("grp")
    )


def suffix_ranks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed_words: int = 64,
) -> DataFrame:
    """Corpus-wide word-level suffix-array ranks by PREFIX DOUBLING
    [Manber & Myers 1990; the index behind Lee et al. 2022's suffix-array
    substring dedup]: every (doc, pos) suffix — the word sequence
    words[pos:] — gets its global lexicographic dense rank, computed in
    O(log L) rounds of pure relational ops instead of any string sort:
    round k orders by (rank of first 2^k words, rank of the next 2^k),
    so no comparison ever touches more than two ints.  Equal suffixes
    (duplicated tails — the substring-dedup signal) share a rank.

    Exactness: the initial round ranks single words (binary UTF8 order,
    identical in DuckDB's default collation); a missing second half
    ranks as 0 < every real rank, which is exactly "shorter
    prefix-suffix sorts first" — so the final ranks equal DuckDB's
    direct ``ORDER BY words[pos:]`` list sort, value-for-value.

    Scale shape: the doubling is SEEDED at h=``seed_words`` — one
    dense_rank over the first-``seed_words`` array slice (arrays are
    orderable, element-wise, shorter-prefix-first) replaces the first
    log2(seed_words) rounds outright.  The seed trades exchange BYTES
    (each suffix row ships a seed_words-word slice once) for ROUNDS
    (each skipped round is a full iterate: window + distinct + re-rank +
    checkpoint); measured at sf0.1 the 32-word seed beats the 8-word one
    1.4x, and for long-doc corpora where slice bytes dominate, shrink
    it.  Then the "rank 2^k ahead" lookup is a ``lead(r, h)`` WINDOW
    on the doc key — one exchange per round, no shift self-join;
    re-ranking happens on the DISTINCT (r, r2) frame (bounded by suffix
    count, usually far smaller) which is checkpointed, counted for the
    fixed-point test, and broadcast back.  The loop exits as soon as a
    round refines nothing (distinct pair count == prior rank count) —
    unbreakable ties (true duplicate tails) stop refining long before
    the max-length bound.  The 64-word default seed (r15: 32 -> 64,
    measured 5.2 -> 4.2 s at sf0.1 — each skipped round is a full
    iterate) is sized so at least one doubling round still RUNS at
    every fixture SF (max doc ~100 words): a 128-word seed measured
    faster still (2.6 s) but would bypass the loop outright, making the
    bench row measure a plain sort instead of the iterative algorithm
    it prices — the representativeness trap VERDICT r14 flagged for the
    fan-out bench.  Ranks are seed-invariant (exact), so the change is
    oracle-neutral by construction.  The dense_rank windows (seed + per-round
    re-rank) are single-partition.  Each round localCheckpoints: an
    iterative algorithm's lineage would otherwise double per round."""
    from pyspark.sql import Window

    def rank_by(frame: DataFrame, cols: list[str], out: str) -> DataFrame:
        w = Window.orderBy(*cols)
        return frame.withColumn(out, F.dense_rank().over(w).cast("long"))

    base_h = seed_words
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    # seed the doubling directly: arrays are orderable in Spark
    # (element-wise, shorter-prefix-first — the same order DuckDB gives
    # lists), so ONE dense_rank over the first-seed_words slice replaces
    # the first log2(seed_words) doubling rounds outright
    pref = docs.select(
        id_col, words.alias("ws")
    ).select(
        id_col, F.col("ws"), F.posexplode("ws").alias("pos", "_w")
    ).select(
        id_col,
        "pos",
        F.slice("ws", F.col("pos") + 1, base_h).alias("p8"),
    )
    # LAZY checkpoints throughout (r10, the ivfpq driver-sync discipline
    # applied here): each round's ONLY action is the rmap count, which
    # materializes — in one job — the distinct-pair rank frame AND, via
    # lineage, the previous round's relabeled cur checkpoint.  The former
    # eager chain ran ~3 jobs per round (cur materialize, rmap
    # materialize, count); values are unchanged, the lineage still
    # truncates at every checkpoint.  maxlen reads max(pos) off the
    # cached seed frame instead of re-scanning the source for a
    # groupBy-count (same number: max suffix position + 1 = max doc
    # word count).
    cur = rank_by(pref, ["p8"], "r").select(
        id_col, "pos", "r"
    ).localCheckpoint(eager=False)
    doc_w = Window.partitionBy(id_col).orderBy("pos")
    h = base_h
    maxlen = None  # learned on the first probe action (fused, see below)
    n_ranks = -1
    first_round = True
    while True:
        pair = cur.select(
            id_col,
            "pos",
            "r",
            F.coalesce(F.lead("r", h).over(doc_w), F.lit(0)).alias("r2"),
        )
        rmap = rank_by(
            pair.select("r", "r2").distinct(), ["r", "r2"], "nr"
        ).localCheckpoint(eager=False)
        if first_round:
            # Fused probe (r16, VERDICT r15 next #4): ONE action returns
            # round 1's pair count, the corpus max suffix position (the
            # doubling bound the old code paid a separate maxlen action
            # for), and the seed rank count max(r) (dense ranks are
            # 1..n, so max == class count).  It materializes the seed
            # checkpoint AND round 1's rmap in the same job.  Round 1 is
            # built optimistically — if every doc fits inside the seed
            # (maxlen <= seed_words) its rmap was wasted work, a
            # seed-rank-sized distinct; the seed is sized so real
            # corpora exceed it (docstring).  Seeding n_ranks with the
            # seed class count also lets round 1 exit on an unrefining
            # corpus: a pure-relabel round maps dense rank r -> dense
            # rank r (bijection, order-preserving), so returning the
            # seed frame is value-identical to relabeling.
            first_round = False
            probe = (
                rmap.agg(F.count("*").alias("np"))
                .crossJoin(
                    cur.agg(
                        F.max("pos").alias("mp"), F.max("r").alias("mr")
                    )
                )
                .first()
            )
            maxlen = (
                probe["mp"] if probe["mp"] is not None else -1
            ) + 1
            n_ranks = probe["mr"] or 0
            n_pairs = probe["np"]
            if h >= maxlen:
                break  # no suffix extends past the seed: seed is final
        else:
            n_pairs = rmap.count()
        if n_pairs == n_ranks:
            break  # fixed point: this round would relabel, not refine
        n_ranks = n_pairs
        cur = (
            pair.join(F.broadcast(rmap), ["r", "r2"])
            .select(id_col, "pos", F.col("nr").alias("r"))
            .localCheckpoint(eager=False)
        )
        h *= 2
        if h >= maxlen:
            break
    return cur.select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.col("r").cast("long").alias("suffix_rank"),
    )


def longest_repeat(
    docs: DataFrame,
    top: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT longest repeated word-span in the corpus — the suffix array
    put to its classic use [Manber & Myers 1990; the primitive under Lee
    et al. 2022's dedup]: the longest repeat is always the LCP of two
    suffixes ADJACENT in suffix-array order (any non-adjacent pair's
    common prefix is also shared by everything ranked between them), so
    one pass over rank-adjacent pairs finds it — no pair join, no gram
    approximation (:func:`duplicate_spans` is the windowed-gram
    approximation of this signal).  Output: the ``top`` longest repeats
    as (doc_a, pos_a, doc_b, pos_b, lcp_words), ordered (lcp desc, ids) —
    deterministic under ties.

    LCP per pair is an EARLY-EXIT scan inside an Arrow ``mapInPandas``
    kernel: adjacent suffixes mostly diverge within a few words, so the
    expected cost is O(pairs x avg_lcp), not O(pairs x L) — a
    higher-order-function fold can't stop at the first mismatch (and
    Spark's array HOFs are CodegenFallback anyway, the same reason
    :func:`similarity.score_pairs_arrow` exists; swapping the fold for
    the kernel measured 14.2 -> ~7 s at sf0.1, almost all of the
    remainder being the suffix ranks themselves).  The DuckDB twin takes
    the first-mismatch position of the zipped suffix lists —
    definitionally correct, the same verify-with-a-simpler-truth
    discipline as the suffix-rank oracle.

    Scale shape: :func:`suffix_ranks` (its costs documented there) + one
    global order by (rank, doc, pos) for adjacency — single-partition at
    test scale, range-partitioned at 100 TB (adjacent pairs stay adjacent
    within range partitions; only the P-1 boundary pairs need a second
    look) — + a doc-keyed join shipping each adjacent pair's two word
    arrays once, + TakeOrdered top-k."""
    from pyspark.sql import Window

    ranks = suffix_ranks(docs, text_col, id_col)
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    wd = docs.select(F.col(id_col).alias("_d"), words.alias("ws"))
    order_w = Window.orderBy("suffix_rank", id_col, "pos")
    adj = ranks.select(
        F.col(id_col).alias("doc_a"),
        F.col("pos").alias("pos_a"),
        F.lead(id_col, 1).over(order_w).alias("doc_b"),
        F.lead("pos", 1).over(order_w).alias("pos_b"),
    ).where(F.col("doc_b").isNotNull())
    pair = (
        adj.join(wd.select(F.col("_d").alias("doc_a"), F.col("ws").alias("wa")), "doc_a")
        .join(wd.select(F.col("_d").alias("doc_b"), F.col("ws").alias("wb")), "doc_b")
        .select(
            "doc_a",
            "pos_a",
            "doc_b",
            "pos_b",
            F.slice("wa", F.col("pos_a") + 1, F.size("wa")).alias("sa"),
            F.slice("wb", F.col("pos_b") + 1, F.size("wb")).alias("sb"),
        )
    )
    # the id output type follows the INPUT schema (ADVICE r09: the kernel
    # used to astype('int64') and declare long doc ids, so string/decimal
    # ids failed or coerced inside the kernel) — same discipline as
    # hard_negative_mining's simpleString-derived schema
    id_dt = dict(zip(docs.schema.names, docs.schema))[
        id_col
    ].dataType.simpleString()

    def lcp_batches(it):
        import pandas as pd

        for pdf in it:
            lcps = []
            for a, b in zip(pdf["sa"], pdf["sb"]):
                n = min(len(a), len(b))
                i = 0
                while i < n and a[i] == b[i]:
                    i += 1
                lcps.append(i)
            out = pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "pos_a": pdf["pos_a"].astype("int64"),
                    "doc_b": pdf["doc_b"],
                    "pos_b": pdf["pos_b"].astype("int64"),
                    "lcp_words": pd.Series(lcps, dtype="int64").values,
                }
            )
            yield out[out["lcp_words"] > 0]

    return (
        pair.mapInPandas(
            lcp_batches,
            f"doc_a {id_dt}, pos_a long, doc_b {id_dt}, pos_b long,"
            " lcp_words long",
        )
        .orderBy(
            F.desc("lcp_words"), "doc_a", "pos_a", "doc_b", "pos_b"
        )
        .limit(top)
    )


def mattr_lexical_diversity(
    df: DataFrame,
    window: int = 25,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Moving-Average Type-Token Ratio [Covington & McFall 2010] — the
    length-robust lexical-diversity gate (plain TTR collapses as docs
    grow, so a fixed threshold over it silently length-filters; MATTR
    averages the TTR of every ``window``-word sliding window instead).
    Low MATTR = template/boilerplate/stutter text — a corpus-quality
    signal the Gopher gate's top-gram rules approximate from one angle.

    Exact integer arithmetic end to end: per-window distinct counts are
    ints, the mean is floor(sum * 1e4 / (n_windows * window)) / 1e4 —
    bit-identical in any engine.  Docs shorter than the window fall back
    to plain TTR (distinct/len, same quantization), flagged by
    n_windows = 0.

    Scale shape: ONE map-only projection, zero shuffles — the sliding
    windows are array slices inside a per-row transform (O(L·w) codegen
    work per doc, no explode, no exchange), the same shape as the other
    map-only text gates."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: F.length(w) > 0
    )
    tok = df.where(F.col(text_col).isNotNull()).select(
        id_col,
        F.explode(F.array(F.struct(words.alias("ws")))).alias("s"),
    ).select(id_col, F.col("s.ws").alias("ws"))
    n = F.size("ws")
    n_windows = F.greatest(n - window + 1, F.lit(0))
    # clamp the sequence upper bound (ADVICE r09): for docs shorter than
    # the window, n - window is negative and sequence() would build a
    # DESCENDING range whose transform reaches slice(..., 0, ...) — the
    # CASE WHEN below never selects this branch for short docs, but
    # correctness must not rest on the engine's branch-evaluation
    # laziness.  The clamped 1-window result is discarded by the WHEN.
    counts = F.transform(
        F.sequence(F.lit(0), F.greatest(n - window, F.lit(0))),
        lambda i: F.size(F.array_distinct(F.slice("ws", i + 1, window))),
    )
    sum_distinct = F.aggregate(
        counts, F.lit(0).cast("long"), lambda acc, c: acc + c
    )
    mattr = F.when(
        n_windows > 0,
        F.floor(sum_distinct * 10000.0 / (n_windows * window)) / 10000.0,
    ).otherwise(
        # short-doc fallback: plain TTR over the whole doc
        F.floor(
            F.size(F.array_distinct("ws")) * 10000.0 / F.greatest(n, F.lit(1))
        )
        / 10000.0
    )
    return tok.select(
        id_col,
        n.cast("long").alias("n_words"),
        n_windows.cast("long").alias("n_windows"),
        mattr.alias("mattr"),
    )


def vocab_growth(
    docs: DataFrame,
    pcts: tuple[int, ...] = (10, 25, 50, 100),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary growth curve [Heaps 1978]: |V(N)| — distinct
    word types — at growing corpus prefixes, the measurement behind every
    tokenizer/vocab-size decision (|V(N)| ~ K·N^beta; where the curve
    flattens tells you what a bigger vocab still buys) and behind
    crawl-dedup health checks (a growth curve that flattens EARLY means
    new data is mostly repeats).

    Prefixes are ``id_col`` thresholds at ``pcts`` percent of the max id
    (data-derived in-plan, so the same query serves every scale factor).
    Output: one row per checkpoint — (pct, threshold_id, vocab, tokens),
    tokens = total word occurrences in the prefix, so beta is estimable
    from adjacent rows.  All-integer arithmetic end to end.

    Scale shape: ONE corpus-wide exchange (word -> min(first-doc) — the
    classic "first occurrence" reduction, map-side combined since MIN is
    associative); every checkpoint then reads that word frame ONCE as
    conditional counts in a single 1-row aggregate (NOT one pass per
    checkpoint), and the token side is a doc-level map + the same
    conditional-sum trick.  The max-id threshold rides a broadcast 1-row
    subquery.  At 100 TB: |words| distinct types is the only shuffled
    key set, orders smaller than occurrences."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: F.length(w) > 0
    )
    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array(F.struct(words.alias("ws")))).alias("s"),
    ).select("_id", F.col("s.ws").alias("ws"))
    mx = docs.agg(F.max(id_col).cast("long").alias("mx"))
    thr = {p: F.floor((F.col("mx") * p) / 100).cast("long") for p in pcts}
    word_first = (
        tok.select("_id", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.min("_id").cast("long").alias("fd"))
    )
    vg = (
        word_first.crossJoin(F.broadcast(mx))
        .agg(
            *[
                F.count(F.when(F.col("fd") <= thr[p], 1)).alias(f"v{p}")
                for p in pcts
            ],
            F.max("mx").alias("mx"),
        )
    )
    tk = (
        tok.select(F.col("_id"), F.size("ws").cast("long").alias("nw"))
        .crossJoin(F.broadcast(mx))
        .agg(
            *[
                F.sum(F.when(F.col("_id") <= thr[p], F.col("nw")).otherwise(0))
                .cast("long")
                .alias(f"t{p}")
                for p in pcts
            ]
        )
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(p).cast("int").alias("pct"),
                F.floor((F.col("mx") * p) / 100).cast("long").alias(
                    "threshold_id"
                ),
                F.col(f"v{p}").cast("long").alias("vocab"),
                F.col(f"t{p}").cast("long").alias("tokens"),
            )
            for p in pcts
        ]
    )
    return (
        vg.crossJoin(F.broadcast(tk))
        .select(F.explode(rows).alias("r"))
        .select("r.pct", "r.threshold_id", "r.vocab", "r.tokens")
    )


def bpe_fertility_by_lang(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokenizer-fertility equity audit: per-language subword fertility
    (BPE tokens per word, x1e4 exact integer) under the corpus-trained
    merges — the fairness number multilingual-tokenizer work reports
    (a language whose fertility runs high pays more sequence length per
    word, i.e. gets less effective context and more compute per
    sentence).  Pure composition: :func:`bpe_token_counts` per doc,
    lang joined back by id, per-lang integer sums; fertility is an
    exact int64 floor-division, so the row is fully value-oracled.

    Scale shape: adds ONE lang-keyed aggregate (|langs| keys, map-side
    combined) over the token-accounting output; the heavy lifting
    (training + Zipf-collapsed tokenization) is the composed op's."""
    per_doc = bpe_token_counts(df, text_col=text_col, id_col=id_col)
    return (
        per_doc.join(df.select(id_col, "lang"), id_col)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.expr("(n_bpe_tokens * 10000) div n_words")
            .cast("long")
            .alias("fertility_x1e4"),
        )
        .orderBy("lang")
    )


def rm3_expansion_terms(
    df: DataFrame,
    query_terms: list[str],
    k_docs: int = 10,
    k_terms: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion — the RM3 step
    [Lavrenko & Croft 2001] a retrieval loop runs after first-pass
    BM25: treat the top-``k_docs`` documents as relevant, pool their
    term distributions weighted by retrieval rank, and emit the
    ``k_terms`` strongest NEW terms to expand the query with.

    Exact-integer weighting so the oracle verifies values, not shapes:
    the relevance weight of the rank-r document is the linear
    rank-reciprocal (k_docs + 1 - r) — rank, not the raw BM25 double,
    because :func:`bm25_topk`'s total order (score desc, id) is already
    proven bit-identical cross-engine while its descaled float is not
    an integer — and each (term, doc) addend is
    floor(tf * (k_docs+1-r) * 1e6 / dl): the per-doc term distribution
    P(t|d) at the 1e6 fixed-point scale, rank-weighted, floor-quantized
    BEFORE the sum so addition stays associative int64.

    Plan shape: first pass = bm25_topk (one tokenize + one exchange +
    TakeOrdered k_docs); the k_docs winners form a BROADCAST frame, the
    corpus token stream semi-joins against it (hash equi-join on the
    broadcast side — only the winners' tokens survive the map side),
    one (term) aggregate over <= k_docs * dl rows, TakeOrdered k_terms.
    Query terms are excluded in the aggregate, matching RM3's
    interpolation step which handles originals separately."""
    topk = bm25_topk(
        df, query_terms, k=k_docs, text_col=text_col, id_col=id_col
    )
    w_rank = Window.orderBy(F.col("bm25").desc(), F.col(id_col))
    # The k_docs-row winner frame is checkpointed (r15, guide §2.4): it
    # feeds the broadcast join, and without the pin the lazy plan re-ran
    # the ENTIRE first-pass BM25 (a corpus tokenize + exchange) once per
    # consumer of `joined`.
    ranked = topk.select(
        id_col, F.row_number().over(w_rank).alias("r")
    ).select(
        id_col, (F.lit(k_docs + 1) - F.col("r")).cast("long").alias("relw")
    ).localCheckpoint(eager=False)
    toks = df.select(
        id_col,
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)
    joined = toks.join(F.broadcast(ranked), id_col)
    tf = joined.groupBy(id_col, "term").agg(
        F.count("*").cast("long").alias("tf"),
        F.first("relw").alias("relw"),
    ).localCheckpoint(eager=False)  # <= k_docs x per-doc vocab rows
    # dl (tokens per winner doc) = sum of its term frequencies — derived
    # from the checkpointed tf frame instead of a second corpus tokenize
    # over `joined` (r15: one pass, identical values by definition).
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    addends = tf.join(F.broadcast(dl), id_col).select(
        "term",
        F.floor(
            F.col("tf") * F.col("relw") * 1000000.0 / F.col("dl")
        )
        .cast("long")
        .alias("w_fp"),
    )
    return (
        addends.filter(~F.col("term").isin(query_terms))
        .groupBy("term")
        .agg(F.sum("w_fp").cast("long").alias("weight_x1e6"))
        .orderBy(F.col("weight_x1e6").desc(), "term")
        .limit(k_terms)
    )
