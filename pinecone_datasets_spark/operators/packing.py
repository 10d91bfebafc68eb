"""Sequence packing: assign documents to fixed-size token chunks.

The concat-then-chunk step of a pre-training pipeline: documents are
laid out in a deterministic global order, the token stream is cut every
``max_tokens``, and each document learns its global token offset and the
chunk(s) it lands in.

The naive formulation is a running sum over a global ``ORDER BY`` —
which Spark executes as a **single-partition** window (the classic
scale-killer: 100 TB through one task). This implementation uses the
textbook two-phase distributed prefix sum instead:

1. ``repartitionByRange(order)`` + in-partition sort — the only
   corpus-wide exchange, and a narrow one (id, order key, token count).
2. Per-partition token totals — a map-side-combined aggregate whose
   output is one row per partition; the exclusive cumulative offsets
   come from a window over those P rows (a single-partition window over
   P values is free) and are broadcast-joined back.
3. In-partition running sum (window partitioned by the range-partition
   id) + partition offset = exact global offset.

The result is invariant to the number of partitions and to where the
range boundaries fall: offsets correct for any split, and the
(order, id) sort is total because ``id`` is unique. Every stage is
built-in/codegen — no Python crossing.

Keeping phase 2 INSIDE the plan (no driver collect) matters twice over:
the totals branch and the cumsum branch then share the range Exchange
(``ReusedExchange`` — the corpus is scanned, tokenized, and shuffled
ONCE, and the totals branch re-reads only the narrow shuffle files),
whereas a ``collect()`` is a separate job that recomputes the full
scan+tokenize+shuffle lineage. Phase 3's window repartitions by
partition-id hash (Spark cannot know the data is already clustered by
``_pid``), so the narrow projection crosses two exchanges total. The
alternative — ``mapInPandas`` cumsum directly on the range partitions —
saves that exchange but pushes the full corpus through Arrow; staying
JVM-side wins beyond trivial sizes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import split_words
from ..parallel import shuffle_partitions


def whitespace_token_count(text_col: str) -> Column:
    """Token count = number of non-empty whitespace-separated words of
    the lower/trimmed text. Matches the q49 oracle's DuckDB formulation
    token for token. NULL text counts as 0 tokens — without the
    coalesce, one NULL doc poisoned the packing window sums and emitted
    rows with NULL global_start/chunk_id the loader cannot place, and
    silently mis-bucketed in length_bucketed_batches (r11 review)."""
    return F.coalesce(
        F.size(split_words(text_col, drop_empty=True)).cast("long"),
        F.lit(0).cast("long"),
    )


def pack_documents(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    order_col: Optional[str] = None,
    token_count_col: Optional[str] = None,
    text_col: str = "text",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Per-document packing layout for a chunked token stream:
    ``(id, n_tokens, global_start, chunk_id, end_chunk_id,
    spans_boundary)`` where ``global_start`` is the document's offset in
    the concatenated token stream (ordered by ``order_col`` then id) and
    ``chunk_id = global_start div max_tokens``. ``spans_boundary`` marks
    documents crossing a chunk edge (the ones a loader must split or
    shift).

    Token counts come from ``token_count_col`` if given, else from a
    whitespace tokenization of ``text_col``. ``id_col`` must be unique —
    it is the sort tiebreak that makes the layout total and
    deterministic.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive: {max_tokens}")
    order = order_col or id_col
    tokens = (
        # NULL-safe like whitespace_token_count: a NULL count must not
        # poison the layout's window sums (r11 review)
        F.coalesce(F.col(token_count_col).cast("long"), F.lit(0))
        if token_count_col
        else whitespace_token_count(text_col)
    )
    base = df.select(
        F.col(id_col), F.col(order).alias("_ord"), tokens.alias("n_tokens")
    )
    if num_partitions is None:
        num_partitions = shuffle_partitions(df.sparkSession)
    ranged = (
        base.repartitionByRange(num_partitions, F.col("_ord"), F.col(id_col))
        .sortWithinPartitions("_ord", id_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    # Phase 2: per-partition totals -> exclusive prefix over the P total
    # rows (single-partition window over P values — trivially small).
    # repartitionByRange assigns ascending key ranges to ascending
    # partition ids, so accumulating in _pid order IS stream order.
    # Staying in-plan (no collect) lets this branch and phase 3 share
    # the range Exchange via ReusedExchange: one corpus pass, not two.
    wp = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets_df = (
        ranged.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_t"))
        .select(
            "_pid",
            (F.sum("_t").over(wp) - F.col("_t")).alias("_offset"),
        )
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("_cum", F.sum("n_tokens").over(w)).join(
        F.broadcast(offsets_df), "_pid"
    )
    gs = (F.col("_offset") + F.col("_cum") - F.col("n_tokens")).alias(
        "global_start"
    )
    out = local.select(id_col, "n_tokens", gs).withColumn(
        "_last",
        F.col("global_start")
        + F.greatest(F.col("n_tokens") - 1, F.lit(0)),
    )
    m = int(max_tokens)
    return out.select(
        id_col,
        "n_tokens",
        "global_start",
        F.expr(f"global_start div {m}").alias("chunk_id"),
        F.expr(f"_last div {m}").alias("end_chunk_id"),
    ).withColumn(
        "spans_boundary", F.col("end_chunk_id") > F.col("chunk_id")
    )


def length_bucketed_batches(
    df: DataFrame,
    batch_size: int,
    bucket_edges: list[int],
    id_col: str = "doc_id",
    token_count_col: Optional[str] = None,
    text_col: str = "text",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Length-bucketed batch layout — the padding-minimizing loader
    pattern: sequences are grouped into length buckets, sorted by
    length within each bucket, and cut into fixed-``batch_size``
    batches, so each batch pads to the max of near-equal lengths
    instead of the corpus max.

    ``bucket_edges`` are ascending inclusive upper bounds; lengths
    beyond the last edge land in an overflow bucket. Returns
    ``(id, n_tokens, bucket, rank_in_bucket, batch_id)`` with
    ``batch_id = (rank_in_bucket - 1) div batch_size`` (per bucket).

    Scale shape: the naive rank is a per-bucket global window — with a
    handful of buckets that is a handful of single-partition windows,
    the same scale-killer ``pack_documents`` avoids. Same cure, one
    level down: range-repartition on (bucket, length, id), count rows
    per (partition, bucket) (a P×B-row aggregate), take the exclusive
    prefix per bucket over partition ids (window over P×B rows — free),
    and add the in-partition row_number. One corpus exchange total, and
    the totals branch shares it via ReusedExchange.
    """
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive: {batch_size}")
    if not bucket_edges or sorted(bucket_edges) != list(bucket_edges):
        raise ValueError(
            f"bucket_edges must be non-empty ascending: {bucket_edges}"
        )
    tokens = (
        # NULL-safe like whitespace_token_count: a NULL count must not
        # poison the layout's window sums (r11 review)
        F.coalesce(F.col(token_count_col).cast("long"), F.lit(0))
        if token_count_col
        else whitespace_token_count(text_col)
    )
    edges_sql = ", ".join(str(int(e)) for e in bucket_edges)
    # bucket = number of edges strictly below n_tokens (edges are
    # inclusive upper bounds); aggregate over a literal array keeps it
    # a map-only expression in any engine
    bucket = F.expr(
        f"size(filter(array({edges_sql}), e -> e < n_tokens))"
    ).cast("int")
    base = df.select(
        F.col(id_col), tokens.alias("n_tokens")
    ).withColumn("bucket", bucket)
    if num_partitions is None:
        num_partitions = shuffle_partitions(df.sparkSession)
    ranged = (
        base.repartitionByRange(
            num_partitions, "bucket", "n_tokens", id_col
        )
        .sortWithinPartitions("bucket", "n_tokens", id_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    wp = (
        Window.partitionBy("bucket")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        ranged.groupBy("_pid", "bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_pid",
            "bucket",
            (F.sum("_c").over(wp) - F.col("_c")).alias("_off"),
        )
    )
    wl = Window.partitionBy("_pid", "bucket").orderBy("n_tokens", id_col)
    local = ranged.withColumn("_rn", F.row_number().over(wl)).join(
        F.broadcast(offsets), ["_pid", "bucket"]
    )
    rank = (F.col("_off") + F.col("_rn")).alias("rank_in_bucket")
    return local.select(
        id_col, "n_tokens", "bucket", rank
    ).withColumn(
        "batch_id",
        F.expr(f"(rank_in_bucket - 1) div {int(batch_size)}").cast("long"),
    )


def chunk_text(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    RAG ingestion chunker (fixed window, fixed stride = chunk_tokens −
    overlap). Returns one row per chunk:
    ``(id, chunk_idx, chunk_text, chunk_n_tokens)``; the final chunk may
    be short, a document shorter than one window yields exactly one
    chunk, and an empty/whitespace document yields none. ``chunk_text``
    preserves the document's casing; whitespace runs (including
    newlines) collapse to single spaces — the chunk is a
    space-joined token window, not a byte slice.

    Map-only: the word array is materialized once per row (attribute
    column — Catalyst does not CSE into higher-order-function lambdas,
    see boilerplate.py), chunk windows are array slices over an index
    sequence, and the explode fuses into whatever scan already runs. No
    shuffle at any size.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive: {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens): {overlap}"
        )
    stride = chunk_tokens - overlap
    # ORIGINAL-case words: chunk boundaries depend only on whitespace
    # splitting (case never changes token count), and the chunk text a
    # RAG pipeline embeds and serves must be the document's own casing
    # — the old F.lower here silently lowercased every served chunk
    # (r10 review). Whitespace runs still collapse to single spaces
    # (the join separator), which IS disclosed below.
    words = split_words(text_col, drop_empty=True, lower=False)
    # chunk starts: 0, stride, 2*stride, ... while start < n_tokens
    starts = (
        f"transform(sequence(0, greatest(CAST(ceil((size(__w) - 1) /"
        f" {stride}) AS INT), 0)), i -> i * {stride})"
    )
    # a start survives iff its chunk contributes at least one NEW token
    # beyond the previous chunk's coverage (which ends at s + overlap):
    # with overlap > 0 the plain s < n filter emitted a final chunk
    # fully contained in its predecessor whenever n - s <= overlap — a
    # pure-duplicate sub-chunk stored and retrieved for every doc whose
    # length mod stride lands in [1, overlap] (r11 review)
    chunks = (
        f"CASE WHEN size(__w) > 0 THEN"
        f" transform(filter({starts},"
        f" s -> s = 0 OR s + {int(overlap)} < size(__w)),"
        f" s -> slice(__w, s + 1, {int(chunk_tokens)}))"
        " ELSE CAST(array() AS ARRAY<ARRAY<STRING>>) END"
    )
    return (
        df.select(F.col(id_col), words.alias("__w"))
        .select(
            F.col(id_col),
            F.posexplode_outer(F.expr(chunks)).alias(
                "chunk_idx", "__c"
            ),
        )
        .where(F.col("__c").isNotNull())
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.col("__c")).alias("chunk_text"),
            F.size("__c").cast("long").alias("chunk_n_tokens"),
        )
    )


def batch_summary(batches: DataFrame, batch_size: int) -> DataFrame:
    """Per-batch padding economics from a ``length_bucketed_batches``
    layout: ``pad_efficiency`` = real tokens / (rows × padded length),
    plus ``is_partial`` = fewer rows than the layout's ``batch_size``
    (each bucket's tail batch; a partial batch wastes accelerator slots
    even at perfect pad efficiency — the r10 review flagged the param
    as previously accepted-but-unused). One small hash aggregate — the
    dashboard for choosing edges."""
    return (
        batches.groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("pad_len"),
            F.sum("n_tokens").alias("real_tokens"),
        )
        .withColumn(
            "pad_efficiency",
            # pad_len 0 = a batch of zero-token docs (empty texts):
            # nothing real, nothing padded — efficiency 1.0 by
            # convention rather than an ANSI DIVIDE_BY_ZERO that kills
            # the summary job (r11 review)
            F.when(F.col("pad_len") > 0, F.round(
                F.col("real_tokens")
                / (F.col("n_docs") * F.col("pad_len")),
                4,
            )).otherwise(F.lit(1.0)),
        )
        .withColumn(
            "is_partial", F.col("n_docs") < F.lit(int(batch_size))
        )
    )


def chunk_summary(packed: DataFrame, max_tokens: int) -> DataFrame:
    """Per-chunk fill statistics from a ``pack_documents`` layout:
    documents starting in the chunk, tokens contributed by them, and the
    fill rate ignoring boundary spill. One small hash aggregate."""
    return (
        packed.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "fill_rate", F.round(F.col("n_tokens") / F.lit(max_tokens), 6)
        )
    )
