"""Stage a workload's inputs and expected outputs, outside the measured
process.

    python3 perfbench/stage.py --kind corpus --seed 1 --docs 10000 --out DIR
    python3 perfbench/stage.py --kind tables --seed 1 --docs 1000 --out DIR

``corpus``: ``corpus.corpus_pandas(seed, mean_words=400)`` pages as
``docs.parquet`` (8 files), plus the single-node oracle's result
(tests/oracle.py at the default ``DedupConfig``): candidate and verified
pair counts, the verified pair set and a cluster digest. The oracle's
chunk hashes come from the numpy chunker (kernel/batch.py, bit-exact
with the pure-Python one it would otherwise loop over, ~100x faster), so
they stay independent of the C kernel the Spark run uses.

``tables``: a small driver-style ``documents`` table (corpus pages of
~50 words, with ``lang``/``source``/``n_chars``) and an ``embeddings``
table (64-dim clustered vectors with a few near-copies), plus the row
count every benchmarked query must return. Counts come from DuckDB
running the driver's oracle SQL where one exists, and from the data's
shape or a numpy brute force otherwise.

Everything is a pure function of (kind, seed, docs). The directory is
complete once ``expected.json`` exists.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

QUERY_ROWS_PER_DOC = ("token_stats", "exact_dedup_flags", "simhash")
QUERY_ORACLE_SQL = ("substring_pairs",)
N_VECTORS = 1000


def _numpy_units(texts: list[str]) -> list[np.ndarray]:
    from fastcdc_rs_spark.kernel.batch import chunk_batch_columnar_numpy
    from fastcdc_rs_spark.pipeline import DedupConfig

    bufs = [np.frombuffer(t.encode("utf-8"), dtype=np.uint8) for t in texts]
    counts, hashes, _, _ = chunk_batch_columnar_numpy(bufs, DedupConfig().chunker())
    return np.split(hashes, np.cumsum(counts)[:-1])


def _write_parquet(pdf, path: str, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def stage_corpus(out: str, seed: int, n_docs: int) -> dict:
    """Pages plus the oracle's candidate/verified pairs and clusters."""
    import oracle
    from fastcdc_rs_spark.corpus import corpus_pandas
    from fastcdc_rs_spark.pipeline import DedupConfig

    from checks import cluster_digest

    pdf = corpus_pandas(n_docs=n_docs, seed=seed, mean_words=400)
    pdf = pdf[["text"]].reset_index(drop=True)
    pdf.insert(0, "doc_id", pdf.index.astype("int64"))
    _write_parquet(pdf, os.path.join(out, "docs.parquet"), files=8)

    texts = pdf["text"].tolist()
    # oracle_pipeline hashes units itself, one page at a time in pure
    # Python; hand it the numpy chunker's (same values), so the rest of
    # its code runs unchanged
    hashed = oracle.oracle_unit_hashes
    oracle.oracle_unit_hashes = lambda t, _cfg: _numpy_units(t)
    try:
        doc_ids = pdf["doc_id"].tolist()
        cand, verified, clusters = oracle.oracle_pipeline(doc_ids, texts, DedupConfig())
    finally:
        oracle.oracle_unit_hashes = hashed

    pairs = np.array(sorted(verified), dtype=np.int64).reshape(-1, 2)
    np.save(os.path.join(out, "verified.npy"), pairs)
    return {
        "docs": len(doc_ids),
        "bytes": int(sum(len(t.encode("utf-8")) for t in texts)),
        "candidate_pairs": len(cand),
        "verified_pairs": len(verified),
        "cluster_digest": cluster_digest(doc_ids, [clusters[d] for d in doc_ids]),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    """Ten clusters whose members sit near cosine 1/3 of each other, and
    ~2% near-copies (cosine > 0.999) of earlier vectors: the only pairs
    above the 0.8 near-dup threshold, so banded LSH finds all of them."""
    import pandas as pd

    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.normal(scale=(2.0 / dim) ** 0.5, size=(n, dim))
    copies = rng.choice(np.arange(n // 2, n), size=n // 50, replace=False)
    src = rng.integers(0, n // 2, size=len(copies))
    vecs[copies] = vecs[src] + rng.normal(scale=1e-3 / dim ** 0.5, size=(len(copies), dim))
    label[copies] = label[src]
    vecs = vecs.astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    })
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    cos = unit @ unit.T
    near = int(np.count_nonzero(np.triu(cos >= 0.8, k=1)))
    return pdf, near


def stage_tables(out: str, seed: int, n_docs: int) -> dict:
    """Driver-style documents/embeddings tables plus per-query row counts."""
    import duckdb

    import __spark_entry__ as entry
    from fastcdc_rs_spark.corpus import corpus_pandas

    rng = np.random.default_rng(seed)
    pdf = corpus_pandas(n_docs=n_docs, seed=seed, mean_words=50)
    pdf = pdf[["text", "lang"]].reset_index(drop=True)
    pdf.insert(0, "doc_id", pdf.index.astype("int64"))
    pdf["source"] = [f"src{i % 20}" for i in range(len(pdf))]
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    docs_path = os.path.join(out, "documents.parquet")
    _write_parquet(pdf, docs_path, files=1)
    emb, near = _embeddings(rng, n=N_VECTORS)
    _write_parquet(emb, os.path.join(out, "embeddings.parquet"), files=1)

    rows = {q: len(pdf) for q in QUERY_ROWS_PER_DOC}
    rows["embedding_near_dups_banded"] = near
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}/*.parquet')")
        sql = entry.oracle_sql()
        for q in QUERY_ORACLE_SQL:
            rows[q] = con.execute(f"SELECT count(*) FROM ({sql[q]})").fetchone()[0]
    finally:
        con.close()
    return {"docs": len(pdf), "vectors": len(emb), "rows": rows}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--kind", choices=("corpus", "tables"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    stage = stage_corpus if args.kind == "corpus" else stage_tables
    expected = stage(args.out, args.seed, args.docs)
    tmp = os.path.join(args.out, "expected.json.tmp")
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.rename(tmp, os.path.join(args.out, "expected.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
