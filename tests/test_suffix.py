"""Suffix-array kernel + exact substring-pair operator tests."""

from __future__ import annotations

import numpy as np
import pytest

from fastcdc_rs_spark.operators.suffix import lcp_array, suffix_array


def _sa_naive(data: bytes) -> list[int]:
    return sorted(range(len(data)), key=lambda i: data[i:])


@pytest.mark.parametrize(
    "s",
    [b"banana", b"abracadabra", b"aaaaaa", b"abcabcabc", b"z", b"", b"mississippi"],
)
def test_suffix_array_matches_naive(s):
    arr = np.frombuffer(s, dtype=np.uint8)
    got = list(suffix_array(arr))
    assert got == _sa_naive(s)


def test_suffix_array_random():
    rng = np.random.default_rng(5)
    data = rng.integers(0, 4, 500, dtype=np.uint8)  # small alphabet → many repeats
    got = list(suffix_array(data))
    assert got == _sa_naive(bytes(data))


def test_lcp_array():
    s = b"banana"
    arr = np.frombuffer(s, dtype=np.uint8)
    sa = suffix_array(arr)
    lcp = lcp_array(arr, sa)
    # SA of banana: [5 3 1 0 4 2] (a, ana, anana, banana, na, nana)
    assert list(sa) == [5, 3, 1, 0, 4, 2]
    assert list(lcp) == [0, 1, 3, 0, 0, 2]


def _naive_pairs(texts: dict[int, str], min_len: int) -> set[tuple[int, int]]:
    """Brute force: docs share an exact common substring >= min_len iff they
    share a positional min_len-gram."""
    grams = {
        d: {t[i : i + min_len] for i in range(len(t) - min_len + 1)}
        for d, t in texts.items()
        if len(t) >= min_len
    }
    ids = sorted(grams)
    return {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if grams[a] & grams[b]
    }


def test_substring_pairs_exact_interval_completeness(spark):
    # three docs sharing the same substring: interval enumeration must emit
    # all three pairs (adjacent-only SA walk would miss one), and pairs via
    # different substrings must not leak across intervals.
    common = "shared run of text that is long enough to cross the bar"
    other = "a different shared run also long enough to cross the bar!"
    texts = {
        0: "aaa " + common + " tail0",
        1: "bbb " + common + " tail1",
        2: "ccc " + common + " tail2",
        3: "ddd " + other + " tail3",
        4: "eee " + other + " tail4",
        5: "nothing in common here at all, just filler words and noise",
    }
    rows = [(0, d, t) for d, t in texts.items()]
    df = spark.createDataFrame(rows, "group_id long, doc_id long, text string")

    from fastcdc_rs_spark.operators.suffix import substring_pairs_exact

    got = {(r.doc_a, r.doc_b) for r in substring_pairs_exact(df, min_len=40).collect()}
    assert got == _naive_pairs(texts, 40)
    assert {(0, 1), (0, 2), (1, 2), (3, 4)} <= got


def test_substring_pairs_no_cross_separator_false_positives(spark):
    # doc tails + identical following-doc heads used to be able to fake a
    # cross-boundary match when separators collide (i % 8); the tail clamp
    # must prevent it. Construct the pathological layout explicitly: docs
    # 0 and 8 share the last 20 chars; docs 1 and 9 share the first 25 —
    # concatenation order puts 0|sep|1 and 8|sep|9 adjacent with equal
    # separators, a 46-byte raw match that is NOT a text substring.
    t_tail = "zzz common twenty ch"
    t_head = "common head twenty-five c"
    texts = {}
    for i in range(10):
        texts[i] = f"unique body {i} " + ("x" * i)
    texts[0] = "doc zero filler " + t_tail
    texts[8] = "doc eight filler " + t_tail
    texts[1] = t_head + " rest of doc one"
    texts[9] = t_head + " rest of doc nine"
    rows = [(0, d, t) for d, t in sorted(texts.items())]
    df = spark.createDataFrame(rows, "group_id long, doc_id long, text string")

    from fastcdc_rs_spark.operators.suffix import substring_pairs_exact

    got = {(r.doc_a, r.doc_b) for r in substring_pairs_exact(df, min_len=40).collect()}
    assert got == _naive_pairs(texts, 40) == set()


def test_substring_pairs_gram_vs_suffix_on_corpus(spark):
    # the scalable inverted-index operator and the per-group suffix-array
    # operator compute the same pair set on a dup-structured corpus
    from fastcdc_rs_spark.corpus import corpus_pandas
    from fastcdc_rs_spark.operators.dedup import substring_pairs
    from fastcdc_rs_spark.operators.suffix import substring_pairs_exact
    import pyspark.sql.functions as F

    pdf = corpus_pandas(n_docs=120, seed=7, mean_words=60)
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])

    gram = {
        (r.a, r.b) for r in substring_pairs(docs, min_len=40).collect()
    }
    # single group: completeness does not depend on the grouping
    grouped = docs.withColumn("group_id", F.lit(0))
    sa = {
        (r.doc_a, r.doc_b)
        for r in substring_pairs_exact(grouped, min_len=40).collect()
    }
    assert len(gram) > 0, "corpus should contain substring duplicates"
    assert sa == gram
    assert gram == _naive_pairs(dict(zip(pdf["doc_id"], pdf["text"])), 40)


def test_sa_lcp_matches_kasai():
    import numpy as np

    from fastcdc_rs_spark.operators.suffix import lcp_array, sa_lcp, suffix_array

    rng = np.random.default_rng(9)
    cases = [
        np.frombuffer(b"banana", dtype=np.uint8),
        np.frombuffer(b"", dtype=np.uint8),
        np.frombuffer(b"z", dtype=np.uint8),
        np.frombuffer(b"aaaaaaaaaa", dtype=np.uint8),
        rng.integers(0, 3, 2000, dtype=np.uint8),
        rng.integers(0, 256, 2000, dtype=np.uint8),
        np.tile(rng.integers(0, 256, 97, dtype=np.uint8), 13),
    ]
    for data in cases:
        sa1 = suffix_array(data)
        lcp1 = lcp_array(data, sa1)
        sa2, lcp2 = sa_lcp(data)
        assert list(sa1) == list(sa2)
        assert list(lcp1) == list(lcp2), f"mismatch n={data.size}"
