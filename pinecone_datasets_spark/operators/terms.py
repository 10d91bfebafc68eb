"""Corpus term analytics: vocabulary stats and TF-IDF weighting.

The standard corpus-understanding pass of a training-data pipeline: what
the vocabulary looks like (top terms, document frequencies) and which
terms characterize each document (TF-IDF). Shapes:

* ``top_terms``: explode(word) → hash-aggregate count → global top-k.
  The aggregation is map-side partial, so the shuffle carries one row per
  (partition, distinct term), not per occurrence; the final top-k is a
  ``TakeOrderedAndProject`` (k rows per partition cross to the driver
  stage, never the full vocabulary).
* ``tf_idf``: one explode feeding two aggregates — (doc, term) term
  counts and term document-frequencies — joined back on term. The df side
  is VOCABULARY-sized (small next to the corpus) and broadcast; the only
  corpus-scale shuffle is the (doc, term) groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ngrams, split_words
from ..parallel import widen


def top_terms(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Global top-k terms by total occurrence count (ties broken by term
    so the result is deterministic)."""
    words = split_words(text_col, drop_empty=False)
    return (
        # outer: InferFiltersFromGenerate would re-tokenize per row in a
        # pushed-down filter (rule skips outer generates); the existing
        # length>0 predicate already drops the null placeholder rows.
        widen(df, text_col)
        .select(F.explode_outer(words).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("term"))
        .limit(k)
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """(doc, term, tf, df, tf_idf) with the classic smooth weighting
    ``tf * ln((1 + N) / (1 + df))``.

    ``min_df`` drops hapax/noise terms before the join — at corpus scale
    that also caps the broadcast vocabulary size.
    """
    # outer explode: see top_terms on InferFiltersFromGenerate; the
    # length predicate drops the null placeholder rows.
    words = split_words(text_col, drop_empty=False)
    exploded = widen(df, id_col).select(
        F.col(id_col), F.explode_outer(words).alias("term")
    ).where(F.length("term") > 0)
    term_counts = exploded.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doc_freq = (
        term_counts.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    # N rides along lazily as a broadcast single-row cross join (the
    # unigram_logprob pattern) — df.count() here launched a full corpus
    # scan at PLAN-CONSTRUCTION time, before any action on the result,
    # and added an extra corpus pass per invocation (r11 review)
    ndf = df.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    # doc_freq is VOCABULARY-scale — corpus-derived, min_df shrinks it
    # but bounds nothing (r13 broadcast audit). No broadcast hint: both
    # sides arrive hash-partitioned on `term` from their groupBys, and
    # AQE promotes to broadcast from measured size when the vocabulary
    # genuinely fits.
    return (
        term_counts.join(doc_freq, "term")
        .crossJoin(F.broadcast(ndf))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.col("df"),
            (
                F.col("tf")
                * F.log((1.0 + F.col("__n_docs")) / (1.0 + F.col("df")))
            ).alias("tf_idf"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int | None = None,
) -> DataFrame:
    """Per-document mean unigram log10-probability under the corpus's own
    unigram LM — the cheap perplexity proxy used for quality gating when
    no external LM is available (docs full of rare/garbage tokens score
    low; template-heavy boilerplate scores high).

    Plan shape: one explode feeds (a) the vocabulary counts (map-side
    partial agg → one row per distinct term) and (b) the per-doc token
    stream. The corpus total is derived FROM the vocabulary aggregate
    (sum over distinct terms), so no second corpus-scale pass; it rides
    along as a broadcast single-row cross join. The score join is
    exploded-tokens ⋈ vocabulary — vocabulary-sized build side,
    broadcast when it fits (AQE decides), shuffled hash join otherwise.
    """
    words = split_words(text_col, drop_empty=False)
    exploded = widen(df, id_col).select(
        F.col(id_col), F.explode_outer(words).alias("term")
    ).where(F.length("term") > 0)
    vocab = exploded.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    logp = F.log10(F.col("n") / F.col("total"))
    scored = (
        exploded.join(vocab, "term")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(logp).alias("avg_logp"),
        )
    )
    if round_to is not None:
        scored = scored.withColumn(
            "avg_logp", F.round("avg_logp", round_to)
        )
    return scored


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.8,
    round_to: int | None = None,
) -> DataFrame:
    """Per-document mean log10 probability under a Jelinek–Mercer
    interpolated bigram LM trained on the corpus itself:
    ``P(w2|w1) = lam * C(w1,w2)/C(w1,·) + (1-lam) * C(w2)/total`` —
    the next rung above ``unigram_logprob`` on the perplexity-proxy
    quality ladder (catches scrambled word salad that unigram stats
    can't: every token common, no two adjacent ones co-occurring).

    Plan shape: the bigram stream is built *inside the token array*
    (transform over an index sequence — map-only, no self-join and no
    per-doc window shuffle). One explode feeds the bigram counts; the
    context totals C(w1,·) derive from the bigram vocabulary (an
    aggregate of the aggregate, vocabulary-sized); the unigram vocab
    and corpus total come from ``unigram_logprob``'s shapes. Scoring
    joins the bigram stream against the two vocab frames —
    vocabulary-sized build sides, broadcast when they fit (AQE
    decides). Docs with < 2 tokens have no bigram positions and drop
    out (``n_bigrams`` would be 0).
    """
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0, 1]: {lam}")
    stream = (
        df.select(
            F.col(id_col),
            split_words(text_col, drop_empty=True).alias("__toks"),
        )
        .select(
            F.col(id_col), F.explode_outer(ngrams("__toks", 2)).alias("bg")
        )
        .where(F.col("bg").isNotNull())
    )
    bi_vocab = stream.groupBy("bg").agg(F.count(F.lit(1)).alias("n_bi"))
    ctx = bi_vocab.select(
        F.substring_index("bg", " ", 1).alias("w1"), "n_bi"
    ).groupBy("w1").agg(F.sum("n_bi").alias("n_ctx"))
    words = split_words(text_col, drop_empty=False)
    uni_stream = df.select(
        F.col(id_col), F.explode_outer(words).alias("term")
    ).where(F.length("term") > 0)
    uni_vocab = uni_stream.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_uni")
    )
    total = uni_vocab.agg(F.sum("n_uni").alias("total"))
    p = F.lit(lam) * (F.col("n_bi") / F.col("n_ctx")) + F.lit(
        1.0 - lam
    ) * (F.col("n_uni") / F.col("total"))
    scored = (
        stream.join(bi_vocab, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .withColumn("w2", F.substring_index("bg", " ", -1))
        .join(ctx, "w1")
        .join(uni_vocab, F.col("w2") == F.col("term"))
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log10(p)).alias("avg_logp_bi"),
        )
    )
    if round_to is not None:
        scored = scored.withColumn(
            "avg_logp_bi", F.round("avg_logp_bi", round_to)
        )
    return scored


def characteristic_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_df: int = 1,
    round_scores: int | None = None,
) -> DataFrame:
    """Top-k TF-IDF terms per document — window top-k over the tf_idf
    frame, the per-group twin of ``top_terms``.

    ``round_scores``: rank on the score rounded to N decimals instead of
    the raw double — near-equal scores then tie (broken by term) the same
    way in any engine, instead of flipping on 1-ulp ``ln`` differences.
    """
    from pyspark.sql import Window

    rank_score = (
        F.round("tf_idf", round_scores)
        if round_scores is not None
        else F.col("tf_idf")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc(rank_score), F.col("term")
    )
    scored = tf_idf(df, text_col=text_col, id_col=id_col, min_df=min_df)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
