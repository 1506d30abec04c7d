"""BPE trainer/segmenter vs an exact pure-Python reference (the
Sennrich/GPT-2 trainer shape with the same deterministic tie-break)."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from imdb_top_250_etl_pipeline_spark.operators.bpe import (
    END_MARK,
    bpe_segment,
    bpe_train,
)


def _ref_word_freqs(texts):
    c = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                c[w] += 1
    return c


def _ref_symbols(word):
    chars = list(word)
    chars[-1] = chars[-1] + END_MARK
    return tuple(chars)


def _ref_merge(symbols, pair):
    out = []
    for s in symbols:
        if out and out[-1] == pair[0] and s == pair[1]:
            out[-1] = pair[0] + pair[1]
        else:
            out.append(s)
    return tuple(out)


def _ref_train(texts, n_merges):
    freqs = _ref_word_freqs(texts)
    vocab = {_ref_symbols(w): f for w, f in freqs.items()}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        pairs = {p: f for p, f in pairs.items() if f >= 2}
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, best[0][0], best[0][1], best[1]))
        vocab = {
            _ref_merge(s, best[0]): f for s, f in vocab.items()
        }
    return merges


def _ref_segment(text, merges):
    toks = []
    for w in text.split(" "):
        if not w:
            continue
        syms = list(_ref_symbols(w))
        for left, right in merges:
            syms = list(_ref_merge(tuple(syms), (left, right)))
        toks.extend(syms)
    return toks


CORPUS = [
    "low low lower lowest new newer",
    "low newer newest wide wider",
    "a ab abc abc ab a",
]

# Non-ASCII ties: every pair below occurs exactly twice, so the
# (freq desc, left, right) tie-break alone orders the merges.  Byte
# order z < é < ｡ (U+FF61) < 😀 (U+1F600) on the left, and è < é on the
# right, is code-point order; UTF-16 order would put 😀 (a surrogate
# pair) before ｡.  Eight merges are requested, and training stops after
# six, when the best pair's freq drops below 2.
CORPUS_UNICODE = [
    "zé éz 😀a ｡a",
    "éz zé ｡a 😀a",
    "bb bb zè zè",
]


@pytest.mark.parametrize(
    "corpus", [CORPUS, CORPUS_UNICODE], ids=["ascii", "unicode_ties"]
)
def test_bpe_train_matches_reference_exactly(spark, corpus):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [
        (r["rank"], r["left"], r["right"], r["freq"])
        for r in bpe_train(df, "text", 8).orderBy("rank").collect()
    ]
    assert got == _ref_train(corpus, 8)


def test_bpe_train_build_runs_no_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    group = f"bpe-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bpe_train plan build")
    try:
        merges = bpe_train(df, "text", 8)
        # a driver-side round loop (pins, probes) would launch jobs here
        assert list(tracker.getJobIdsForGroup(group)) == []
        merges.collect()
        # the group does see jobs: the guard above is not vacuous
        assert list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_bpe_train_on_fixture_matches_reference(spark):
    from tests.conftest import SF_CORRECT

    from imdb_top_250_etl_pipeline_spark.sources import load

    docs = load(spark, SF_CORRECT, "documents").select("doc_id", "text")
    texts = [r["text"] for r in docs.collect()]
    got = [
        (r["rank"], r["left"], r["right"], r["freq"])
        for r in bpe_train(docs, "text", 6).orderBy("rank").collect()
    ]
    assert got == _ref_train(texts, 6)


def test_bpe_segment_matches_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = [(m[1], m[2]) for m in _ref_train(CORPUS, 8)]
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_segment(df, "text", "doc_id", merges).collect()
    }
    for i, t in enumerate(CORPUS):
        assert got[i] == _ref_segment(t, merges), i
    # round-trip: concatenating tokens and dropping markers restores text
    for i, t in enumerate(CORPUS):
        restored = "".join(got[i]).replace(END_MARK, " ").strip()
        assert restored == t


def test_bpe_stops_when_no_pair_repeats(spark):
    df = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    got = bpe_train(df, "text", 5).collect()
    # every pair occurs once -> freq floor stops training immediately
    assert got == []
