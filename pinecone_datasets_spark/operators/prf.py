"""Pseudo-relevance feedback: RM3 query expansion over BM25.

The classic recall lever for keyword retrieval (Lavrenko & Croft
relevance models; "RM3" = RM1 interpolated with the original query):
run the query, treat the top ``fb_k`` documents as pseudo-relevant,
estimate a relevance language model from them, keep its ``n_terms``
strongest terms, and re-search with the interpolated weighted query

    P'(w|Q) = orig_weight · P_mle(w|Q) + (1 − orig_weight) · P(w|R),
    P(w|R) ∝ Σ_d  P(w|d) · P(d|Q)

with ``P(w|d) = tf/dl`` and ``P(d|Q)`` the query's normalized BM25
scores over the feedback set. Expansion finds the vocabulary the user
didn't type (synonyms, related entities) at the cost of one extra
(cheap) retrieval stage.

Scale shape (mirrors ``keyword.py:bm25_topk`` — see its module notes):

* Stage 1 IS ``bm25_topk``: postings filtered by the broadcast query
  term set before any aggregate.
* The feedback slice is ``Q · fb_k`` documents — its ids broadcast, so
  re-tokenizing feedback text is a map-side probe of the corpus scan;
  the relevance-model aggregate runs on that sliver only.
* The expanded models are ``Q · (n_terms + |q|)`` weighted terms —
  broadcast into the final weighted search exactly like plain query
  terms; the corpus-side plan shape of stage 2 equals stage 1's.

Determinism: every probability is rounded (12 dp) at each stage
boundary on BOTH engines, term selection ranks on the rounded weight
with a term tiebreak, so the DuckDB twin replays the whole two-stage
pipeline hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import split_words
from ..plans.pushdown import isin_or_semi_join
from .keyword import _bm25_scores, _tf_frames


def _validate_rm3(fb_k: int, n_terms: int, orig_weight: float) -> None:
    """Shared by all three RM3 entry points: out-of-range parameters
    (e.g. orig_weight=1.5) would otherwise produce silently-wrong
    rankings — the interpolation turns expansion weights negative and
    the weight>0 filter drops them without any error (r11 review: the
    search paths skipped the validation rm3_query_model enforced)."""
    if fb_k < 1:
        raise ValueError(f"fb_k must be >= 1: {fb_k}")
    if n_terms < 1:
        raise ValueError(f"n_terms must be >= 1: {n_terms}")
    if not (0.0 <= orig_weight <= 1.0):
        raise ValueError(f"orig_weight must be in [0, 1]: {orig_weight}")


def rm3_query_model(
    docs: DataFrame,
    queries: DataFrame,
    fb_k: int = 10,
    n_terms: int = 10,
    orig_weight: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """The interpolated RM3 query model: ``(query_id, term, weight)``
    with weights summing to ~1 per query (exactly 1 when the original
    and expansion vocabularies are both non-empty)."""
    _validate_rm3(fb_k, n_terms, orig_weight)
    qid = query_id_col
    return _rm3_model_from_frames(
        *_tf_frames(docs, id_col, text_col),
        queries=queries,
        fb_k=fb_k,
        n_terms=n_terms,
        orig_weight=orig_weight,
        k1=k1,
        b=b,
        id_col=id_col,
        query_id_col=qid,
        query_text_col=query_text_col,
    )


def _rm3_model_from_frames(
    tf: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    fb_k: int,
    n_terms: int,
    orig_weight: float,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
    query_text_col: str,
    materialize_feedback: bool = True,
) -> DataFrame:
    qid = query_id_col
    qwords = split_words(query_text_col, drop_empty=False)
    qterms = (
        queries.select(F.col(qid), F.explode(qwords).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    scored = _bm25_scores(tf, dl, stats, qterms, k1, b, qid, id_col)
    wfb = Window.partitionBy(qid).orderBy(
        F.round("score", 6).desc(), F.col(id_col)
    )
    fb = scored.withColumn("_rk", F.row_number().over(wfb)).where(
        F.col("_rk") <= fb_k
    )
    wq = Window.partitionBy(qid)
    pdq = fb.select(
        qid,
        id_col,
        F.round(F.col("score") / F.sum("score").over(wq), 12).alias("_pdq"),
    )
    if materialize_feedback:
        # Q·fb_k rows, engine-computed (so the rounded values match the
        # SQL twin bit-for-bit), localized as a literal relation: the
        # downstream model/relevance subtrees would otherwise inline the
        # whole stage-1 plan at every reference, and Catalyst pays
        # analysis + codegen for each copy (measured: ~3s/call of pure
        # compile at sf0.1 before execution starts).
        rows = pdq.collect()
        if rows:
            pdq = pdq.sparkSession.createDataFrame(rows, pdq.schema)
    # The relevance model reads the feedback docs' term distributions
    # straight off the SHARED tf/dl frames (per-doc stats are identical
    # whether computed corpus-wide or on the slice): no re-tokenize.
    # Both corpus-scale frames are restricted by broadcast semi-joins on
    # the tiny feedback-id set, so only slivers reach the aggregate.
    fb_ids = pdq.select(id_col).distinct()
    tf_fb = tf.join(F.broadcast(fb_ids), id_col, "left_semi")
    dl_fb = dl.join(F.broadcast(fb_ids), id_col, "left_semi")
    rel = (
        tf_fb.join(F.broadcast(pdq), id_col)
        .join(F.broadcast(dl_fb), id_col)
        .groupBy(qid, "term")
        .agg(
            F.round(
                F.sum((F.col("tf") / F.col("dl")) * F.col("_pdq")), 12
            ).alias("_w")
        )
    )
    return _interpolate_model(
        rel, queries, n_terms, orig_weight, qid, query_text_col
    )


def _interpolate_model(
    rel: DataFrame,
    queries: DataFrame,
    n_terms: int,
    orig_weight: float,
    query_id_col: str,
    query_text_col: str,
) -> DataFrame:
    """Top-``n_terms`` of the relevance model ``rel`` (query_id, term,
    _w), normalized and interpolated with the original query's MLE —
    the RM3 step shared by the in-plan and persisted-index paths."""
    qid = query_id_col
    wq = Window.partitionBy(qid)
    wr = Window.partitionBy(qid).orderBy(F.desc("_w"), F.col("term"))
    top = rel.withColumn("_rn", F.row_number().over(wr)).where(
        F.col("_rn") <= n_terms
    )
    expn = top.select(
        qid,
        "term",
        F.round(F.col("_w") / F.sum("_w").over(wq), 12).alias("_pwr"),
    )
    qwords = split_words(query_text_col, drop_empty=False)
    orig = (
        queries.select(F.col(qid), F.explode(qwords).alias("term"))
        .where(F.col("term") != "")
        .groupBy(qid, "term")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            qid,
            "term",
            F.round(
                F.col("_cnt") / F.sum("_cnt").over(wq), 12
            ).alias("_pwq"),
        )
    )
    a = float(orig_weight)
    return (
        orig.join(expn, [qid, "term"], "full_outer")
        .select(
            qid,
            "term",
            F.round(
                a * F.coalesce("_pwq", F.lit(0.0))
                + (1.0 - a) * F.coalesce("_pwr", F.lit(0.0)),
                12,
            ).alias("weight"),
        )
        .where(F.col("weight") > 0)
    )


def bm25_weighted_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
) -> DataFrame:
    """BM25 with per-(query, term) weights: ``score(q, d) =
    Σ_t weight(q, t) · bm25_t(d)``. ``query_terms`` needs columns
    (query_id, term, weight). Same plan shape as ``bm25_topk`` — the
    weighted term table broadcasts, postings filter first."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    tf, dl, stats = _tf_frames(docs, id_col, text_col)
    return _weighted_rank_from_frames(
        tf, dl, stats, query_terms, k, k1, b, id_col, query_id_col
    )


def _weighted_rank_from_frames(
    tf: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    query_terms: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    scored = _bm25_scores(
        tf, dl, stats, query_terms, k1, b, query_id_col, id_col,
        weighted=True,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round("score", 6).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select(query_id_col, id_col, "score", "rank")
    )


def rm3_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_k: int = 10,
    n_terms: int = 10,
    orig_weight: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    materialize_model: bool = True,
    persist_tf: bool = True,
) -> DataFrame:
    """Two-stage RM3 retrieval: expand, then weighted re-search.
    Returns ``(query_id, doc_id, score, rank)`` like ``bm25_topk``.

    ``materialize_model=True`` (default) executes stage 1 and collects
    the expanded models to the driver — they are Q·(n_terms + |q|)
    rows by construction, the same driver-bounded size every query-side
    broadcast in this engine already assumes — and replans stage 2
    against the literal table. Without it the model broadcast's plan
    subtree re-derives the entire stage-1 pipeline inline (measured: a
    ~750-node plan that re-tokenizes the corpus per consumer). Set
    ``False`` only for enormous query sets, where the fused lazy plan
    (and its recomputation) is preferable to a driver round-trip.

    ``persist_tf=True`` (default) additionally persists the tokenized
    (tf, dl) frames (MEMORY_AND_DISK) so the stage-1 model job
    populates the cache and the stage-2 re-search reads it instead of
    re-tokenizing the corpus — the classic multi-pass persist (measured
    ~6% at sf0.1; the win grows with text volume per doc). The frames
    stay cached until Spark evicts them (LRU) or the caller clears the
    cache: the returned frame is lazy, so this function cannot
    unpersist them itself. A long-running service cycling many corpora
    through one session should pass ``persist_tf=False`` (or clear the
    cache between corpora); at corpus scales where even a spilled TF
    frame is unwelcome, the answer is not this operator —
    ``rm3_index_search`` reads a persisted index and never tokenizes at
    query time."""
    _validate_rm3(fb_k, n_terms, orig_weight)
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    tf, dl, stats = _tf_frames(docs, id_col, text_col)
    if materialize_model and persist_tf:
        from pyspark import StorageLevel

        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
        dl = dl.persist(StorageLevel.MEMORY_AND_DISK)
    model = _rm3_model_from_frames(
        tf,
        dl,
        stats,
        queries=queries,
        fb_k=fb_k,
        n_terms=n_terms,
        orig_weight=orig_weight,
        k1=k1,
        b=b,
        id_col=id_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )
    if materialize_model:
        rows = model.collect()
        if rows:
            model = docs.sparkSession.createDataFrame(rows, model.schema)
    return _weighted_rank_from_frames(
        tf, dl, stats, model, k, k1, b, id_col, query_id_col
    )


def rm3_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    fb_k: int = 10,
    n_terms: int = 10,
    orig_weight: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """RM3 over a PERSISTED BM25 index (``keyword.build_bm25_index``) —
    the production path: neither stage touches raw text.

    * Stage 1 is ``bm25_index_topk``: literal ``term IN`` pushed into
      the term-sorted postings scan.
    * The relevance model reads the feedback docs' (tf, dl) rows from
      the SAME index with a pushed ``doc_id IN`` filter. The layout is
      term-major, so this is one map-only columnar pass over the index
      (no row-group skipping on doc_id) — still ~10x cheaper than
      re-tokenizing raw text, and the feedback set is Q·fb_k docs.
    * Stage 2 re-searches with the weighted model's terms as a fresh
      ``term IN`` literal.

    Feedback distributions and expanded models are Q·fb_k / Q·n_terms
    rows — collected and re-planned as literals like every query-side
    artifact in this engine. Results match ``rm3_search`` on the same
    corpus bit-for-bit (equivalence-tested)."""
    _validate_rm3(fb_k, n_terms, orig_weight)
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    import json as _json

    from ..fs import FS, join as _join
    from .keyword import BM25_STATS_FILE, bm25_index_topk

    meta = _json.loads(FS(spark).read_text(_join(path, BM25_STATS_FILE)))
    id_col = meta["id_col"]
    qid = query_id_col
    fb = bm25_index_topk(
        spark,
        path,
        queries,
        k=fb_k,
        k1=k1,
        b=b,
        query_id_col=qid,
        query_text_col=query_text_col,
    )
    wq = Window.partitionBy(qid)
    pdq_frame = fb.select(
        qid,
        id_col,
        F.round(F.col("score") / F.sum("score").over(wq), 12).alias("_pdq"),
    )
    pdq_rows = pdq_frame.collect()
    if not pdq_rows:
        return spark.createDataFrame([], fb.schema)
    pdq = spark.createDataFrame(pdq_rows, pdq_frame.schema)
    fb_ids = sorted({r[id_col] for r in pdq_rows})
    postings_fb = isin_or_semi_join(
        spark.read.parquet(path), id_col, fb_ids,
        pdq.select(id_col).distinct(),
    ).select(id_col, "term", "tf", "dl")
    rel = (
        postings_fb.join(F.broadcast(pdq), id_col)
        .groupBy(qid, "term")
        .agg(
            F.round(
                F.sum((F.col("tf") / F.col("dl")) * F.col("_pdq")), 12
            ).alias("_w")
        )
    )
    model = _interpolate_model(
        rel, queries, n_terms, orig_weight, qid, query_text_col
    )
    model_rows = model.collect()
    if not model_rows:
        return spark.createDataFrame([], fb.schema)
    model = spark.createDataFrame(model_rows, model.schema)
    term_list = sorted({r["term"] for r in model_rows})
    n_docs, avgdl = float(meta["n_docs"]), float(meta["avgdl"])
    postings = isin_or_semi_join(
        spark.read.parquet(path), "term", term_list,
        model.select("term").distinct(),
    )
    scored = (
        postings.join(F.broadcast(model), "term")
        .select(
            qid,
            id_col,
            (
                F.col("weight")
                * F.log(
                    1.0
                    + (F.lit(n_docs) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
                )
            ).alias("contrib"),
        )
        .groupBy(qid, id_col)
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy(qid).orderBy(
        F.round("score", 6).desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .select(qid, id_col, "score", "rank")
    )
