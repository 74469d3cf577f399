"""Distributed BPE vocabulary induction vs a pure-python reference
implementation (same greedy semantics, same deterministic tie-break)."""

from __future__ import annotations

from collections import Counter

from bbdc20_submission_spark.operators.bpe import (
    END,
    apply_merges,
    bpe_tokenize,
    learn_bpe,
)

CORPUS = [
    "low lower lowest low low",
    "new newer newest new new newer",
    "wide wider widest wide",
    "low newer wide lowest",
]


def _reference_bpe(texts, n_merges, min_frequency=2):
    words = Counter(w for t in texts for w in t.split(" ") if w)
    table = {tuple(list(w) + [END]): n for w, n in words.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for sym, n in table.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += n
        if not pairs:
            break
        # max by count, ties -> lexicographically smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_frequency:
            break
        a, b = best[0]
        merges.append((a, b))
        table = {
            tuple(apply_merges(list(sym), [(a, b)])): n
            for sym, n in table.items()
        }
    return merges


def test_learn_bpe_matches_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    got = learn_bpe(df, n_merges=12, checkpoint_every=4)
    want = _reference_bpe(CORPUS, 12)
    assert got == want
    assert len(got) >= 8  # the tiny corpus supports a real merge chain


def test_learn_bpe_symbols_with_quote_and_backslash(spark):
    corpus = ["x\\y x\\y don't", "x\\y q\\r don't won't"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    assert learn_bpe(df, n_merges=6) == _reference_bpe(corpus, 6)


def test_bpe_tokenize_applies_merges(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = learn_bpe(df, n_merges=10, checkpoint_every=4)
    toks = {
        r["doc_id"]: r["bpe"]
        for r in bpe_tokenize(df, merges).collect()
    }
    for i, t in enumerate(CORPUS):
        want = []
        for w in t.split(" "):
            want.extend(apply_merges(list(w) + [END], merges))
        assert toks[i] == want
    # every emitted unit is a base symbol (single char or END) or a
    # learned merge product — the BPE closed-vocabulary property
    vocab = {a + b for a, b in merges} | {END}
    for units in toks.values():
        for u in units:
            assert u in vocab or len(u) == 1, u


def test_learn_bpe_stops_below_min_frequency(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e")], "doc_id long, text string"
    )
    # every word is a single char + END; each pair occurs once -> no merge
    assert learn_bpe(df, n_merges=5, min_frequency=2) == []
