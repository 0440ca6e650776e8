"""Exact and n-gram deduplication operators (training-data pipeline ops).

* ``exact_duplicates`` — hash-groupBy exact dedup: one shuffle on the text
  hash, map-side partial aggregation free from Catalyst. The canonical doc
  per group is the minimum id (deterministic keep-first).
* ``dedup_flags`` — per-doc is_duplicate flag via the same aggregation
  (join back on the hash, no window over the full table needed).
* ``ngram_jaccard_pairs`` — exact token-n-gram Jaccard over candidate
  pairs from a shared-shingle inverted index: explode shingles → self-join
  on shingle → count distinct shared shingles per pair → Jaccard from
  |A∩B| / (|A| + |B| - |A∩B|). Fully JVM-side and oracle-expressible.

All hashing here uses the portable md5-based hash (functions/portable.py)
so these operators are oracle-checked end-to-end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.plan_safe import explode_once
from ..functions.portable import md5_long

__all__ = [
    "exact_duplicates",
    "dedup_flags",
    "token_gram_expr",
    "token_ngram_hash_arrays",
    "token_ngrams",
    "ngram_jaccard_pairs",
    "char_ngrams",
    "substring_pairs",
    "contamination_flags",
    "remove_duplicate_lines",
]


def _spread(docs: DataFrame) -> DataFrame:
    """Ensure the expensive pre-explode map side (gram construction +
    hashing multiplies rows ~100x) runs at session parallelism: a small
    single-file input otherwise binds the whole stage to one task. At
    real scale the input has more splits than cores and this is a no-op.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_docs, canonical_id) for every duplicated text."""
    return (
        docs.select(md5_long(text_col).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_flags(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id, is_duplicate): keep-first exact dedup.

    One window over the text hash instead of aggregate + join-back: the
    join form scanned the input twice (md5 evaluated per side) and paid
    the aggregation exchange on top of the join's; the whole-partition
    min window computes the same canonical_id off a single exchange of
    (doc_id, text_hash) rows (guide §2.4 — two operations keyed the same
    way share one exchange). No ORDER BY → no running-frame semantics,
    one pass per hash group.
    """
    from pyspark.sql import Window

    hashed = docs.select(F.col(id_col), md5_long(text_col).alias("text_hash"))
    return hashed.select(
        id_col,
        F.min(id_col).over(Window.partitionBy("text_hash")).alias("canonical_id"),
    ).select(
        id_col,
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


def token_gram_expr(text_col: str, n: int, distinct: bool = True):
    """Array expression of the token n-grams of ``text_col`` — the ONE
    place Spark-side tokenization is defined, shared by ``token_ngrams``
    (distinct set) and ``mixing.repetition_scores`` (occurrences) so it
    can never drift from the DuckDB oracle twin (__spark_entry__
    ``_grams_sql``) in only one operator. Docs with fewer than n tokens
    contribute their whole token sequence as one n-gram."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(grams)


def token_ngram_hash_arrays(docs: DataFrame, n: int = 3, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """(doc_id, _gh array<long>) — per-doc DISTINCT md5 gram hashes as one
    map-side array column. The per-doc ``array_distinct`` over the hashes
    gives exactly the distinctness of the old ``explode → .distinct()``
    plan (distinct (doc_id, ngram_hash) rows) WITHOUT its corpus-wide
    exchange: consumers that evaluate the gram subplan more than once
    (self-join sides, size lookups) save one full shuffle of the exploded
    gram table per evaluation (guide §2.4), and per-doc set sizes become
    ``F.size(_gh)`` — free at map time instead of a groupBy over the
    exploded rows."""
    grams = token_gram_expr(text_col, n, distinct=True)
    hashes = F.array_distinct(F.transform(grams, lambda g: md5_long(g)))
    return _spread(docs).select(F.col(id_col), hashes.alias("_gh"))


def token_ngrams(docs: DataFrame, n: int = 3, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, ngram_hash) — distinct md5-hashed token n-grams, exploded.

    Docs with fewer than n tokens contribute their whole token sequence as
    one n-gram. Distinctness is enforced per doc map-side
    (``token_ngram_hash_arrays``) — no corpus-wide distinct exchange.
    """
    return explode_once(
        token_ngram_hash_arrays(docs, n, text_col, id_col),
        "_gh", "ngram_hash", keep=[id_col],
    ).select(id_col, "ngram_hash")


def char_ngrams(docs: DataFrame, n: int = 40, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, gram_hash) — distinct md5-hashed positional character
    n-grams for docs with at least ``n`` characters.

    Two documents share an exact common substring of length >= n **iff**
    they share at least one character n-gram, so this is the exact
    candidate generator for substring dedup (SURVEY.md §2.B B10) — the
    scalable counterpart of the per-group suffix-array operator in
    suffix.py, which the tests cross-check against this one.

    All expressions are JVM-side (transform/sequence/substr); the explode
    is the only row-multiplying step and is bounded by total corpus
    characters.
    """
    text = F.col(text_col)
    # per-doc distinct enforced map-side over the HASHES (array_distinct)
    # — exactly the distinctness of the old explode → .distinct() plan
    # without its corpus-wide exchange (see token_ngram_hash_arrays)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(text) - F.lit(n - 1)),
            lambda i: text.substr(i, F.lit(n)),
        )
    )
    # string-level distinct first (md5 runs once per distinct gram), then
    # hash-level distinct for exact parity with the old (id, hash) distinct
    hashes = F.array_distinct(F.transform(grams, lambda g: md5_long(g)))
    return explode_once(
        _spread(docs.where(F.length(text) >= n)), hashes, "gram_hash",
        keep=[id_col],
    ).select(id_col, "gram_hash")


def substring_pairs(docs: DataFrame, min_len: int = 40, df_cap: int | None = None,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(a, b) doc pairs sharing an exact common substring of length
    >= min_len, via the char-n-gram inverted index.

    Exact (no false positives/negatives) by the gram<->substring
    equivalence in ``char_ngrams``. ``df_cap`` drops grams appearing in
    more than df_cap docs (boilerplate runs) — at CC scale a hot 40-char
    boilerplate gram otherwise fans out quadratically; capped grams only
    reduce recall for pairs *only* connected through boilerplate, and the
    drop count is observable by comparing gram counts. None = exact.

    At CC scale always set df_cap: an uncapped hot bucket materializes
    its member list as one aggregation row (and its pair expansion is
    quadratic regardless of implementation).
    """
    grams = char_ngrams(docs, min_len, text_col, id_col)
    # one groupBy on the gram hash instead of a self-join: the join form
    # evaluates the gram-generation plan (explode + md5 per positional
    # gram) once per side, and Catalyst can't reuse the exchange across
    # differently-aliased sides. Bucket members expand to ordered pairs
    # JVM-side (ids are distinct per bucket since char_ngrams dedups per
    # doc); df_cap becomes a plain bucket-size filter.
    buckets = grams.groupBy("gram_hash").agg(F.collect_list(id_col).alias("ids"))
    if df_cap is not None:
        buckets = buckets.where(F.size("ids") <= df_cap)
    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: F.struct(
                    F.least(x, y).alias("a"), F.greatest(x, y).alias("b")
                ),
            ),
        )
    )
    return (
        explode_once(buckets.where(F.size("ids") >= 2), pair_expr, "p")
        .select("p.a", "p.b")
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, min_jaccard: float = 0.5,
                        df_cap: int | None = None,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(a, b, jaccard) for doc pairs with token-n-gram Jaccard >= threshold.

    Inverted-index join: pairs sharing no n-gram are never materialized.
    The shuffle key is the n-gram hash; hot n-grams (boilerplate,
    stopword runs) fan out quadratically — the self-join materializes
    Σ df² rows. ``df_cap`` removes grams whose document frequency
    exceeds the cap *before* the join (stopword-filtered Jaccard: capped
    grams leave both the intersection and the set sizes, so the metric
    stays a true Jaccard over the kept gram universe). With a cap the
    join fan-out is bounded by Σ min(df, cap)² ≤ cap · |grams|, linear
    in corpus size. ``None`` = exact (the oracle twin); at CC scale
    always set a cap.
    """
    arrs = token_ngram_hash_arrays(docs, n, text_col, id_col)
    if df_cap is None:
        # UNCAPPED: the per-doc set size is size(_gh) at map time, and it
        # RIDES THE EXPLODE into the self-join (8 extra bytes per gram
        # row on each side) so the two post-aggregation size joins — and
        # with them the third evaluation of the gram subplan — disappear
        # outright (guide §2.3 "shuffle keys and metadata", §2.4): the
        # gram subplan now runs exactly twice (once per join side),
        # map-only, where the old shape ran it three times each with a
        # corpus-wide distinct exchange.
        sized = arrs.select(
            F.col(id_col), "_gh", F.size("_gh").alias("set_size")
        )
        grams = explode_once(
            sized, "_gh", "ngram_hash", keep=[id_col, "set_size"]
        )
        ga = grams.select(
            F.col(id_col).alias("a"), F.col("set_size").alias("size_a"),
            "ngram_hash",
        )
        gb = grams.select(
            F.col(id_col).alias("b"), F.col("set_size").alias("size_b"),
            "ngram_hash",
        )
        # NOTE: deliberately a streaming self-join, NOT the collect_list
        # + pair-expansion form used by substring_pairs. Token 3-grams
        # are HOT (stopword grams hit hundreds of docs): materializing
        # each bucket as an array and expanding pairs array-side measured
        # 2-3x SLOWER than the join, which streams the same quadratic row
        # count through Tungsten with partial aggregation.
        inter = (
            ga.join(gb, "ngram_hash")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b", "size_a", "size_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        # CAPPED: the kept-gram universe (df <= cap) is only known after
        # a corpus-wide df aggregation, so set sizes cannot ride the
        # explode. Sizes come from a groupBy over the kept grams; the
        # gram subplan itself is map-only per evaluation (the old
        # .distinct() exchange per evaluation is gone).
        grams = explode_once(arrs, "_gh", "ngram_hash", keep=[id_col])
        # df filter: one extra aggregation on the same key the self-join
        # shuffles on, so the exchange is aligned (no additional shuffle
        # of the grams side beyond the aggregate itself).
        kept = (
            grams.groupBy("ngram_hash")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= df_cap)
            .select("ngram_hash")
        )
        grams = grams.join(kept, "ngram_hash")
        sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
        ga = grams.select(F.col(id_col).alias("a"), "ngram_hash")
        gb = grams.select(F.col(id_col).alias("b"), "ngram_hash")
        sa = sizes.select(
            F.col(id_col).alias("a"), F.col("set_size").alias("size_a")
        )
        sb = sizes.select(
            F.col(id_col).alias("b"), F.col("set_size").alias("size_b")
        )
        inter = (
            ga.join(gb, "ngram_hash")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .join(sa, "a").join(sb, "b")
        )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "jaccard")
    )


def contamination_flags(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_hits, contaminated) — benchmark decontamination for
    training corpora: a document is contaminated if it shares any token
    n-gram with the benchmark set (the GPT-3/C4 13-gram rule; ``n`` is
    configurable because short-document corpora need smaller windows).
    ``n_hits`` counts the doc's DISTINCT n-grams found in the benchmark.

    Scale shape: the benchmark side is small by nature (eval sets are
    thousands of documents, not billions), so its distinct gram set is
    BROADCAST — the corpus-side gram table joins against it map-side with
    no shuffle beyond the per-doc gram explode, and the per-doc hit count
    is a partial-aggregated groupBy on doc_id. The corpus is never
    shuffled on the gram key.
    """
    bgrams = (
        token_ngrams(benchmark, n, text_col, id_col)
        .select("ngram_hash")
        .distinct()
    )
    grams = token_ngrams(docs, n, text_col, id_col)
    hits = (
        grams.join(F.broadcast(bgrams), "ngram_hash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def remove_duplicate_lines(docs: DataFrame, sep: str = "\n",
                           text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_lines, n_kept, cleaned_text) — corpus-level duplicate
    line removal (the C4/Gopher boilerplate rule): every distinct line
    survives in exactly ONE place across the whole corpus — its first
    occurrence in (doc_id, position) order — and every other copy
    (including within-document repeats) is dropped. ``cleaned_text``
    rejoins a doc's surviving lines in their original order.

    One shuffle on the line hash picks the canonical occurrence
    (min(struct(doc_id, pos)) — a single aggregate, no window over the
    corpus); one groupBy on doc_id rebuilds documents. Line content never
    ships twice: the canonical table carries only (hash, doc_id, pos).

    ``sep`` is a LITERAL separator in both directions: the split pattern
    is regex-quoted (``F.split`` takes a Java regex) so it always matches
    the same bytes ``concat_ws`` re-inserts — ``sep=". "`` or ``"|"``
    splits on the literal string, not on the regex metacharacters.
    """
    import re

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("pos", "line"),
    ).withColumn("line_hash", md5_long("line"))
    canon = lines.groupBy("line_hash").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("first_at")
    )
    kept = (
        lines.join(canon, "line_hash")
        .where(
            (F.col(id_col) == F.col("first_at.d")) & (F.col("pos") == F.col("first_at.p"))
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            sep, F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))),
                             lambda s: s["line"])
        ).alias("cleaned_text"),
    )
    totals = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), re.escape(sep))).alias("n_lines")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )
