"""Randomized cross-checks of the pure-codegen text folds against plain
Python references — the degenerate-input net (empty strings, 1-token docs,
runs of repeats, NULLs) that fixture-driven oracle parity can miss: the
ADVICE r06 crash (repetition_runs on <2-token docs) lived exactly in this
class.  One Spark round-trip per suite (batched docs), references in pure
Python, so the suite stays cheap."""

from __future__ import annotations

import math
import random

from reddit_sse_stream_spark.operators import text as textops


def _docs(rng: random.Random, n: int = 60) -> list[tuple[int, str | None]]:
    vocab = ["a", "bb", "ccc", "dd", "e"]
    out: list[tuple[int, str | None]] = []
    for i in range(n):
        kind = rng.randrange(6)
        if kind == 0:
            out.append((i, None))
        elif kind == 1:
            out.append((i, ""))
        elif kind == 2:
            out.append((i, rng.choice(vocab)))  # single token
        elif kind == 3:  # stutter run
            w = rng.choice(vocab)
            out.append((i, " ".join([w] * rng.randrange(2, 7))))
        else:
            out.append(
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 12))))
            )
    return out


def _ref_repetition(text: str) -> tuple[int, int, float, int]:
    ws = text.lower().split(" ") if text != "" else [""]
    # mirror split(\s+) semantics on our single-space fixtures
    grams = [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
    n2 = len(grams)
    top = max((grams.count(g) for g in set(grams)), default=0)
    frac = math.floor(top / n2 * 10000) / 10000 if n2 else 0.0
    best = run = 0
    prev = None
    for w in ws:
        run = run + 1 if w == prev else 1
        best = max(best, run)
        prev = w
    return len(ws), n2, frac, best


def test_repetition_runs_fuzz_matches_python_reference(spark):
    rng = random.Random(1307)
    rows = _docs(rng)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.repetition_runs(df).collect()}
    for i, text in rows:
        if text is None:
            assert i not in got  # NULL text drops (oracle parity contract)
            continue
        n_words, n2, frac, best = _ref_repetition(text)
        r = got[i]
        assert (r.n_words, r.n_2grams, r.max_word_run) == (n_words, n2, best)
        assert abs(r.top_2gram_frac - frac) < 1e-12


def test_novelty_fuzz_first_owner_invariants(spark):
    """Structural invariants on random corpora: novelty in [0,1]; the
    lowest-id doc containing any given trigram owns it; duplicating a
    doc at a higher id forces the copy's novelty to 0."""
    rng = random.Random(42)
    base = [
        (i, " ".join(rng.choice("abcdefg") for _ in range(rng.randrange(3, 9))))
        for i in range(30)
    ]
    dup_src = dict(base)[7]
    rows = base + [(1000, dup_src)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in textops.novelty_first_owner(df).collect()}
    for r in out.values():
        assert 0.0 <= r.novelty <= 1.0
        assert 0 <= r.n_novel <= r.n_grams
    assert out[1000].novelty == 0.0  # late exact copy owns nothing


def test_encoding_quality_fuzz_counts_add_up(spark):
    rng = random.Random(9)
    alphabet = "ab c\x01\x02\x7f�XY"
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.encoding_quality(df).collect()}
    for i, text in rows:
        r = got[i]
        assert r.n_chars == len(text)
        assert r.n_repl == text.count("�")
        assert r.n_ctrl == sum(1 for c in text if c in "\x01\x02\x7f")
        printable = sum(1 for c in text if 0x20 <= ord(c) <= 0x7E)
        expect = math.floor(printable / max(len(text), 1) * 10000) / 10000
        assert abs(r.printable_frac - expect) < 1e-12


def _ref_bpe(words: list[str], rounds: int) -> list[tuple[str, str, int]]:
    from collections import Counter

    freq = Counter(words)
    seqs = {w: [c for c in w] for w in freq}
    merges = []
    for _ in range(rounds):
        pc: Counter = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += freq[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_train_fuzz_matches_python_reference(spark):
    """The string-replace fuse must equal a classic list-level greedy
    BPE reference (leftmost non-overlapping) on random corpora."""
    rng = random.Random(77)
    words = [
        "".join(rng.choice("abc") for _ in range(rng.randrange(1, 7)))
        for _ in range(80)
    ]
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    got = [
        (r.pair_left, r.pair_right, r.cnt)
        for r in sorted(
            textops.bpe_train_merges(df, rounds=3).collect(),
            key=lambda r: r["round"],
        )
    ]
    assert got == _ref_bpe(words, 3)


def _ref_chunk_rewrite(rows: list[tuple[int, str]], k: int = 16):
    owners: dict[str, tuple[int, int]] = {}
    chunks: dict[int, list[tuple[int, str]]] = {}
    for i, text in sorted(rows):
        ws = text.split(" ")
        n_full = len(ws) // k
        for p in range(n_full):
            ch = " ".join(ws[p * k : (p + 1) * k])
            chunks.setdefault(i, []).append((p, ch))
            if ch not in owners or (i, p) < owners[ch]:
                owners[ch] = (i, p)
    out = {}
    for i, _ in rows:  # EVERY doc appears; chunkless ones as (0, 0, '')
        cs = chunks.get(i, [])
        kept = [(p, c) for p, c in cs if owners[c] == (i, p)]
        out[i] = (
            len(cs),
            len(kept),
            " ".join(c for _, c in sorted(kept)),
        )
    return out


def test_chunk_dedup_rewrite_fuzz_matches_python_reference(spark):
    rng = random.Random(321)
    vocab = [f"t{i}" for i in range(8)]
    shared_block = " ".join(rng.choice(vocab) for _ in range(16))
    rows = []
    for i in range(40):
        n = rng.randrange(0, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        text = " ".join(words)
        if rng.random() < 0.4:  # splice the shared block at a chunk boundary
            text = shared_block + (" " + text if text else "")
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chunks, r.n_kept, r.text_dedup)
        for r in __import__(
            "reddit_sse_stream_spark.operators.text", fromlist=["text"]
        ).chunk_dedup_rewrite(df).collect()
    }
    assert got == _ref_chunk_rewrite(rows)


def _ref_dsir(rows: list[tuple[int, str, str]], target: str = "en"):
    import math
    from collections import Counter

    cs: Counter = Counter()
    ct: Counter = Counter()
    for _, text, lang in rows:
        for w in text.lower().split(" "):
            cs[w] += 1
            if lang == target:
                ct[w] += 1
    ns, nt, v = sum(cs.values()), sum(ct.values()), len(cs)
    out = {}
    for i, text, lang in rows:
        ws = text.lower().split(" ")
        weight = sum(
            math.floor(((ct[w] + 1.0) * (ns + v) * 10000.0) / ((cs[w] + 1.0) * (nt + v)))
            for w in ws
        )
        out[i] = (lang, weight, len(ws))
    return out


def test_dsir_weights_fuzz_matches_python_reference(spark):
    rng = random.Random(888)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (
            i,
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 10))),
            rng.choice(["en", "fr", "de"]),
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from reddit_sse_stream_spark.operators import corpus as corpusops

    got = {
        r.doc_id: (r.lang, r.dsir_weight_fp, r.n_tokens)
        for r in corpusops.dsir_weights(df).collect()
    }
    assert got == _ref_dsir(rows)


def _ref_gopher(text: str):
    lt = text.lower()
    ws = [w for w in __import__("re").split(r"\s+", lt) if w]
    n = len(ws)
    denom = max(n, 1)
    chars = sum(len(w) for w in ws)
    alpha = sum(1 for w in ws if any("a" <= c <= "z" for c in w))
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stop = sum(1 for s in stops if s in ws)
    symbols = lt.count("#") + lt.count("...")
    t4 = lambda x: math.floor(x * 10000) / 10000  # noqa: E731
    mwl = t4(chars / denom)
    fa = t4(alpha / denom)
    sr = t4(symbols / denom)
    keep = int(
        50 <= n <= 100_000 and 3.0 <= mwl <= 10.0 and sr <= 0.1
        and fa >= 0.8 and n_stop >= 2
    )
    return n, mwl, fa, n_stop, sr, keep


def test_gopher_gate_fuzz_matches_python_reference(spark):
    """gopher_gate on adversarial synthetic docs — '#'-heavy spam, '...'
    runs, stopword-rich prose, numeric-only tokens, empty and 1-token
    strings — must reproduce the pure-Python rule evaluation exactly,
    including the keep cut at every threshold boundary."""
    rng = random.Random(4099)
    vocab = ["the", "of", "and", "km2", "#tag", "x...", "word", "a", "12", "###"]
    rows: list[tuple[int, str | None]] = [(0, None), (1, ""), (2, "###")]
    for i in range(3, 60):
        n = rng.choice([1, 3, 49, 50, 51, 120])
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in textops.gopher_gate(df).collect()}
    for i, text in rows:
        if text is None:
            assert i not in got
            continue
        n, mwl, fa, n_stop, sr, keep = _ref_gopher(text)
        r = got[i]
        assert (r.n_words, r.n_stop_hits, r.keep) == (n, n_stop, keep), (i, text[:40])
        for a, b in ((r.mean_word_len, mwl), (r.frac_alpha_words, fa), (r.symbol_ratio, sr)):
            assert abs(a - b) < 1e-12


def _ref_duplicate_spans(rows: list[tuple[int, str]], k: int = 8):
    from collections import Counter

    occ: Counter = Counter()
    grams: dict[int, list[str]] = {}
    for i, text in rows:
        ws = text.lower().split()
        g = (
            [" ".join(ws[p : p + k]) for p in range(len(ws) - k + 1)]
            if len(ws) >= k
            else []
        )
        grams[i] = g
        for s in g:
            occ[s] += 1
    out: dict[int, list[tuple[int, int, int]]] = {}
    for i, g in grams.items():
        dup = [p for p, s in enumerate(g) if occ[s] > 1]
        spans: list[list[int]] = []
        for p in dup:
            if spans and p == spans[-1][1] + 1:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        if spans:
            out[i] = [(a, b + k - 1, b - a + 1) for a, b in spans]
    return out


def test_duplicate_spans_fuzz_matches_python_reference(spark):
    """Randomized corpus (tiny vocab -> dense duplication, splices at
    arbitrary offsets, within-doc repeats, sub-k docs): the islands-and-
    gaps span merge must match a position-level Python reference built on
    plain string equality (md5-60bit gram collisions are negligible at
    this scale)."""
    rng = random.Random(777)
    vocab = [f"v{i}" for i in range(6)]
    shared = " ".join(rng.choice(vocab) for _ in range(12))
    rows = []
    for i in range(30):
        n = rng.randrange(0, 30)
        words = [rng.choice(vocab) for _ in range(n)]
        text = " ".join(words)
        r = rng.random()
        if r < 0.3:
            text = shared + (" " + text if text else "")
        elif r < 0.5 and text:
            text = text + " " + shared
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict[int, list] = {}
    from reddit_sse_stream_spark.operators import text as textops

    for r in textops.duplicate_spans(df).collect():
        got.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_grams)
        )
    got = {i: sorted(v) for i, v in got.items()}
    assert got == {i: sorted(v) for i, v in _ref_duplicate_spans(rows).items()}


def test_suffix_ranks_fuzz_vs_python_sorted_suffixes(spark):
    """Prefix doubling vs the definitional rank (sort all suffix tuples,
    dense-rank) on a degenerate-heavy random corpus: NULL docs (dropped),
    empty strings (one empty-word suffix), single tokens, stutter runs
    (maximal unbreakable ties), duplicate docs (tails tied forever — the
    fixed-point exit's hard case), and docs longer than the seed slice
    (forcing doubling rounds).  Both seed widths and the two-phase rank
    configuration must agree with the reference exactly."""
    rng = random.Random(1234)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    docs: list[tuple[int, str | None]] = []
    for i in range(50):
        kind = rng.randrange(7)
        if kind == 0:
            docs.append((i, None))
        elif kind == 1:
            docs.append((i, ""))
        elif kind == 2:
            docs.append((i, rng.choice(vocab)))
        elif kind == 3:
            w = rng.choice(vocab)
            docs.append((i, " ".join([w] * rng.randrange(2, 9))))
        elif kind == 4 and docs:  # duplicate an earlier doc's text
            docs.append((i, docs[rng.randrange(len(docs))][1]))
        else:  # long doc: forces rounds past any seed
            docs.append(
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 40))))
            )
    # python reference: dense rank of sorted distinct suffix tuples
    sufs: dict[tuple[int, int], tuple[str, ...]] = {}
    for d, t in docs:
        if t is None:
            continue
        ws = t.lower().split(" ")
        for p in range(len(ws)):
            sufs[(d, p)] = tuple(ws[p:])
    order = {s: i + 1 for i, s in enumerate(sorted(set(sufs.values())))}
    expected = {k: order[v] for k, v in sufs.items()}

    frame = spark.createDataFrame(docs, "doc_id long, text string")
    for kwargs in (
        {"seed_words": 4},
        {"seed_words": 64},
        {"seed_words": 8},
    ):
        got = {
            (r.doc_id, r.pos): r.suffix_rank
            for r in textops.suffix_ranks(frame, **kwargs).collect()
        }
        assert got == expected, f"mismatch under {kwargs}"
