"""Streaming incremental dedup (SURVEY.md §2.B; streaming analog of
operators/dedup.py + minhash banding).

Two production patterns for incremental corpus ingestion:

* **Stateful exact dedup** — ``dropDuplicates`` on the portable text hash
  keeps first-seen documents across micro-batches; the dedup state lives
  in the streaming checkpoint, so a restarted job (same checkpoint dir)
  keeps suppressing duplicates of everything already ingested. This is
  Structured Streaming's native stateful operator — no custom state code.
* **Incremental band index** — each micro-batch's MinHash band keys,
  signed by the batch pipeline's own ``signatures`` step, are
  appended to a bands sink; near-dup candidate generation against the
  historical corpus is then one equi-join of the new keys with the
  accumulated index (batch or foreachBatch), the same shuffle shape as
  the batch pipeline's bucket join. New-vs-all dedup never rescans old
  documents' text — only their 8-byte band keys.

The reference's only stateful-streaming idea (ronomon ``with_eof``'s
"incomplete chunk" protocol, src/ronomon/mod.rs:102-129) concerns byte
streams *within* one input and has no analog here: chunk state never
crosses documents (SURVEY.md §3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..functions.portable import md5_long
from ..pipeline import DedupConfig, signatures

__all__ = [
    "stream_exact_dedup",
    "stream_exact_dedup_within_watermark",
    "stream_band_keys",
    "stream_contamination_flags",
    "start_exact_dedup_stream",
]


def stream_exact_dedup(stream_df: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming keep-first exact dedup: emits only first-seen texts.

    ``dropDuplicates`` on the text hash is a stateful streaming operator;
    state size is one row per distinct hash (16 bytes of key + overhead),
    independent of document sizes.
    """
    return stream_df.withColumn(
        "text_hash", md5_long(text_col)
    ).dropDuplicates(["text_hash"])


def stream_exact_dedup_within_watermark(
    stream_df: DataFrame, ts_col: str = "warc_ts", horizon: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup with BOUNDED state: duplicates are suppressed only
    within the event-time watermark ``horizon`` of the first occurrence.

    ``dropDuplicatesWithinWatermark`` evicts dedup state once the
    watermark passes — the per-executor state stays O(distinct hashes per
    horizon) instead of growing for the job's lifetime, which is the
    right trade for continuous CC-crawl ingestion where re-crawls of the
    same page arrive clustered in time (the unbounded variant catches the
    long tail in a periodic batch dedup over the sink).

    The horizon is an "at least": the watermark advances at micro-batch
    end, so eviction lags one batch behind it (verified empirically —
    a dup past the horizon in the very next batch is still suppressed;
    after any batch advances the watermark, later dups re-emit).
    """
    return (
        stream_df.withColumn("text_hash", md5_long(text_col))
        .withWatermark(ts_col, horizon)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def stream_band_keys(
    stream_df: DataFrame, cfg: DedupConfig | None = None,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Streaming (doc_id, band_id, band_hash) rows — the incremental index.

    Chunking + shingles + MinHash + banding are all per-document map work
    signed by ``pipeline.signatures``, the batch pipeline's own signing
    step (one fused Arrow UDF), so they stream with no state.
    """
    from ..functions.plan_safe import posexplode_once

    signed = signatures(stream_df, cfg or DedupConfig(), id_col, text_col)
    return posexplode_once(
        signed, "bands", "band_id", "band_hash", keep=[id_col]
    ).select(id_col, "band_id", "band_hash")


def stream_contamination_flags(
    stream_df: DataFrame, benchmark: DataFrame, n: int = 13,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``operators.dedup.contamination_flags``:
    (doc_id, n_hits, contaminated) per streamed document, emitted
    append-mode with NO state and NO watermark.

    The benchmark side is small by nature (eval sets are thousands of
    documents), so its distinct gram-hash set is collected once and
    BROADCAST to executors; every micro-batch is then a stateless map:

    * per-row gram hashes come from the SAME ``token_gram_expr`` +
      ``md5_long`` JVM expressions the batch twin uses — tokenization
      can never drift between the two paths;
    * membership is a vectorized ``searchsorted`` against the sorted
      broadcast array inside one Arrow-batched pandas UDF (the only
      Python step, and it touches longs, never text).

    The batch operator's gram explode + broadcast join + groupBy would
    be a stateful streaming aggregation (doc_id grouping needs a
    watermark and still holds state); computing the hit count WITHIN
    the row sidesteps all of it — a document is one row, so nothing
    here ever crosses rows. Equality with the batch operator is pinned
    in tests/test_checkpoint_streaming.py.
    """
    from ..operators.dedup import token_gram_expr, token_ngrams

    bench = np.sort(
        np.array(
            [
                r[0]
                for r in token_ngrams(benchmark, n, text_col, id_col)
                .select("ngram_hash")
                .distinct()
                .collect()
            ],
            dtype=np.int64,
        )
    )
    b = benchmark.sparkSession.sparkContext.broadcast(bench)

    @F.pandas_udf("long")
    def _n_hits(hash_arrays: pd.Series) -> pd.Series:
        bh = b.value

        def count(arr) -> int:
            a = np.asarray(arr, dtype=np.int64)
            if a.size == 0 or bh.size == 0:
                return 0
            pos = np.searchsorted(bh, a)
            pos[pos == bh.size] = 0  # out-of-range probes re-check slot 0
            return int((bh[pos] == a).sum())

        return hash_arrays.map(count)

    gram_hashes = F.transform(
        token_gram_expr(text_col, n, distinct=True), md5_long
    )
    return stream_df.select(
        F.col(id_col),
        _n_hits(gram_hashes).alias("n_hits"),
    ).select(
        id_col, "n_hits", (F.col("n_hits") > 0).alias("contaminated")
    )


def start_exact_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """File-arrival stream: append only first-seen (doc_id, text_hash) to
    ``sink_dir``; duplicate suppression state persists in the checkpoint
    across restarts (exactly-once)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    deduped = stream_exact_dedup(stream, text_col).select(id_col, "text_hash")
    return (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
