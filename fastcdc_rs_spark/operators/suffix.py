"""Suffix-array exact-substring dedup (SURVEY.md §2.B B10).

Finds the doc pairs that share an exact substring of length >= L *across
documents* inside candidate groups (LSH clusters or any grouping), the way
large-scale training-data pipelines strip repeated boilerplate/quotations:

1. group docs (bounded group size — the caller salts/caps, see lsh.py);
2. per group, build a suffix array over the concatenation of the group's
   texts (prefix-doubling, O(n log n), pure numpy) inside
   ``applyInPandas``;
3. every maximal run of adjacent suffixes in SA order with LCP >= L
   witnesses a substring shared by the distinct docs it covers.

Output: (group_id, doc_a, doc_b) with doc_a < doc_b.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

__all__ = [
    "suffix_array",
    "lcp_array",
    "sa_lcp",
    "substring_pairs_exact",
]


def _sa_ranks(data: np.ndarray) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Prefix-doubling suffix array, keeping the rank snapshot at each
    power-of-two prefix length (for the vectorized LCP lifting below)."""
    n = data.size
    if n == 0:
        return np.array([], dtype=np.int64), []
    rank = data.astype(np.int64)
    levels: list[tuple[int, np.ndarray]] = [(1, rank)]
    sa = np.argsort(rank, kind="stable")
    tmp = np.empty(n, dtype=np.int64)
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        sa = order
        tmp[sa[0]] = 0
        prev, cur = sa[:-1], sa[1:]
        newgroup = (rank[cur] != rank[prev]) | (key2[cur] != key2[prev])
        tmp[cur] = np.cumsum(newgroup)
        rank = tmp.copy()
        levels.append((2 * k, rank))
        if rank[sa[-1]] == n - 1:
            break
        k <<= 1
    return sa.astype(np.int64), levels


def suffix_array(data: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling (numpy argsort ranks), O(n log n)."""
    return _sa_ranks(data)[0]


def sa_lcp(data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(suffix array, adjacent-LCP array) with NO per-byte Python.

    LCP of adjacent suffixes by binary lifting over the prefix-doubling
    rank snapshots: walking levels (2^m, ..., 2, 1), extend each pair's
    match by plen wherever the level's ranks agree at the current offset
    (both prefixes fully in range, so rank equality <=> plen-char
    equality). O(n log n) vector work, log n passes over the pair set —
    replaces the Kasai byte-at-a-time loop in the applyInPandas kernels.
    """
    sa, levels = _sa_ranks(data)
    n = data.size
    lcp = np.zeros(n, dtype=np.int64)
    if n <= 1:
        return sa, lcp
    i = sa[:-1]
    j = sa[1:]
    cur = np.zeros(n - 1, dtype=np.int64)
    for plen, rank in reversed(levels):
        ii = i + cur
        jj = j + cur
        ok = (ii + plen <= n) & (jj + plen <= n)
        idx = np.nonzero(ok)[0]
        if idx.size:
            eq = rank[ii[idx]] == rank[jj[idx]]
            cur[idx[eq]] += plen
    lcp[1:] = cur
    return sa, lcp


def lcp_array(data: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP array: lcp[i] = LCP(suffix sa[i-1], suffix sa[i])."""
    n = data.size
    lcp = np.zeros(n, dtype=np.int64)
    if n == 0:
        return lcp
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            maxh = n - max(i, j)
            while h < maxh and data[i + h] == data[j + h]:
                h += 1
            lcp[r] = h
            if h > 0:
                h -= 1
        else:
            h = 0
    return lcp


_PAIR_SCHEMA = StructType(
    [
        StructField("group_id", LongType(), False),
        StructField("doc_a", LongType(), False),
        StructField("doc_b", LongType(), False),
    ]
)


def _group_pairs_exact(pdf: pd.DataFrame, min_len: int) -> pd.DataFrame:
    """COMPLETE set of doc pairs in one group sharing a substring >= min_len.

    Any two suffixes whose LCP >= min_len lie in one maximal SA interval
    where every adjacent LCP >= min_len (pairwise LCP = min of adjacent
    LCPs), so enumerating distinct-owner pairs per interval yields exactly
    the pairs sharing a >=min_len substring — the same set the char-n-gram
    inverted index (operators/dedup.py ``substring_pairs``) produces, which
    the tests assert.
    """
    gid = int(pdf["group_id"].iloc[0])
    doc_ids = pdf["doc_id"].to_numpy()
    texts = [t.encode("utf-8") for t in pdf["text"]]
    parts, owners, tails = [], [], []
    for i, t in enumerate(texts):
        parts.append(np.frombuffer(t, dtype=np.uint8))
        owners.append(np.full(len(t), i, dtype=np.int64))
        tails.append(np.arange(len(t), 0, -1, dtype=np.int64))
        parts.append(np.array([0xF5 + (i % 8)], dtype=np.uint8))
        owners.append(np.array([-1], dtype=np.int64))
        tails.append(np.zeros(1, dtype=np.int64))
    data = np.concatenate(parts)
    owner = np.concatenate(owners)
    tail = np.concatenate(tails)  # bytes remaining in the owning doc

    sa, lcp = sa_lcp(data)
    sa_owner = owner[sa]

    # Clamp each adjacent LCP to both suffixes' remaining-in-doc byte
    # counts: a shared prefix that crosses a separator is not a text
    # substring. Separator bytes (>=0xF5) never occur in UTF-8 text, so
    # after clamping, runs of adjacent clamped-LCP >= min_len contain
    # exactly the suffix pairs whose *text* LCP >= min_len.
    sa_tail = tail[sa]
    eff = np.minimum(lcp, np.minimum(sa_tail, np.roll(sa_tail, 1)))
    eff[0] = 0
    # maximal runs r..s where eff[r..s] >= min_len cover suffixes sa[r-1..s]
    ge = eff >= min_len
    # vectorized run detection: the Python loop below iterates runs, not
    # positions (runs = groups of suffixes sharing a >=min_len prefix).
    # Runs with identical member sets (every shared 40-gram of a template
    # produces one run with the same docs) are enumerated once; pair
    # emission is packed-int numpy (triu_indices + unique), no Python
    # pair loop.
    run_start = np.nonzero(ge & ~np.concatenate(([False], ge[:-1])))[0]
    run_end = np.nonzero(ge & ~np.concatenate((ge[1:], [False])))[0]
    n_local = len(texts)
    seen_sets: set[bytes] = set()
    packed_parts: list[np.ndarray] = []
    n_runs = run_start.size
    if n_runs:
        # one global unique over (run, owner) coverage keys — runs are
        # disjoint position ranges, so total coverage is <= n + n_runs
        lens2 = run_end - run_start + 2  # run t covers sa[r-1 .. s]
        offs = np.concatenate(([0], np.cumsum(lens2)[:-1]))
        total = int(lens2.sum())
        run_of = np.repeat(np.arange(n_runs, dtype=np.int64), lens2)
        pos = (run_start - 1).repeat(lens2) + (
            np.arange(total, dtype=np.int64) - offs.repeat(lens2)
        )
        own = sa_owner[pos]
        mvalid = own >= 0
        uniq = np.unique(run_of[mvalid] * n_local + own[mvalid])
        r_of = uniq // n_local
        o_of = uniq % n_local
        counts = np.bincount(r_of, minlength=n_runs)
        bounds = np.concatenate(([0], np.cumsum(counts)))
        # identical member sets (every shared gram of one template) are
        # enumerated once; distinct-but-overlapping cliques still cost
        # their own triu — the quadratic union is inherent to the exact
        # pair set, bounded by the caller's group-size caps
        for t in range(n_runs):
            lo_i, hi_i = int(bounds[t]), int(bounds[t + 1])
            if hi_i - lo_i < 2:
                continue
            members = o_of[lo_i:hi_i]
            keyb = members.tobytes()
            if keyb in seen_sets:
                continue
            seen_sets.add(keyb)
            ia, ib = np.triu_indices(members.size, k=1)
            packed_parts.append(members[ia] * n_local + members[ib])
    if packed_parts:
        packed = np.unique(np.concatenate(packed_parts))
        da = doc_ids[packed // n_local]
        db = doc_ids[packed % n_local]
        lo = np.minimum(da, db)
        hi = np.maximum(da, db)
        return pd.DataFrame(
            {"group_id": gid, "doc_a": lo, "doc_b": hi}
        ).drop_duplicates()
    return pd.DataFrame(
        {"group_id": pd.Series([], dtype="int64"),
         "doc_a": pd.Series([], dtype="int64"),
         "doc_b": pd.Series([], dtype="int64")}
    )


def substring_pairs_exact(
    grouped_docs: DataFrame, min_len: int = 40,
    group_col: str = "group_id", id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Per-group complete (group_id, doc_a, doc_b) substring-duplicate pairs.

    Suffix-array twin of ``dedup.substring_pairs``: within each group the
    pair set is exact. Groups must be formed so that no cross-group pair
    can share a >=min_len substring (e.g. gram-bucket connected components)
    or accepted as the unit of comparison. Bound group sizes upstream.
    """
    docs = grouped_docs.select(
        F.col(group_col).alias("group_id"),
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
    )

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _group_pairs_exact(pdf, min_len)

    return docs.groupBy("group_id").applyInPandas(apply_fn, _PAIR_SCHEMA)

