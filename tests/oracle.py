"""Single-node reference pipeline (the "reference clusters" for the recall
metric): plain Python/numpy, no Spark, same kernels and same config.

Because the Spark pipeline's hashing is all shared kernel code, this oracle
reproduces its candidate pairs, verified edges, and cluster assignments
bit-for-bit — dup-pair recall of the Spark run vs this oracle is the
baseline metric (>= 0.99; parity should make it exactly 1.0).
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from fastcdc_rs_spark.kernel import chunk_bytes
from fastcdc_rs_spark.kernel.signatures import signature_batch, splitmix64
from fastcdc_rs_spark.pipeline import DedupConfig


def oracle_unit_hashes(texts: list[str], cfg: DedupConfig) -> list[np.ndarray]:
    chunker = cfg.chunker()
    out = []
    for t in texts:
        hs = [h for h, _, _ in chunk_bytes(t.encode("utf-8"), chunker)]
        out.append(np.array(hs, dtype=np.uint64))
    return out


class UnionFind:
    def __init__(self, n: int):
        self.parent = list(range(n))

    def find(self, x: int) -> int:
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if ra < rb:
                self.parent[rb] = ra
            else:
                self.parent[ra] = rb


def oracle_pipeline(
    doc_ids: list[int], texts: list[str], cfg: DedupConfig
) -> tuple[set[tuple[int, int]], set[tuple[int, int]], dict[int, int]]:
    """Returns (candidate_pairs, verified_pairs, clusters{doc_id: cluster_id})."""
    units = oracle_unit_hashes(texts, cfg)
    shingles, band_keys = signature_batch(
        units, k=cfg.shingle_k, n_perms=cfg.n_perms,
        bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
    )
    idx_of = {d: i for i, d in enumerate(doc_ids)}

    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, d in enumerate(doc_ids):
        for b in range(cfg.bands):
            buckets[(b, int(band_keys[i, b]))].append(d)

    candidates: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        if len(members) <= cfg.bucket_cap:
            ms = sorted(members)
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    candidates.add((ms[x], ms[y]))
        else:
            m0 = min(members)
            for m in members:
                if m != m0:
                    candidates.add((m0, m))

    shingle_sets = [set(map(int, s)) for s in shingles]
    verified: set[tuple[int, int]] = set()
    for a, b in candidates:
        sa, sb = shingle_sets[idx_of[a]], shingle_sets[idx_of[b]]
        union = len(sa | sb)
        j = (len(sa & sb) / union) if union else 1.0
        if j >= cfg.threshold:
            verified.add((a, b))

    uf = UnionFind(len(doc_ids))
    for a, b in verified:
        uf.union(idx_of[a], idx_of[b])
    # cluster id = min doc_id in component
    comp_min: dict[int, int] = {}
    for i, d in enumerate(doc_ids):
        r = uf.find(i)
        comp_min[r] = min(comp_min.get(r, d), d)
    clusters = {d: comp_min[uf.find(i)] for i, d in enumerate(doc_ids)}
    return candidates, verified, clusters
