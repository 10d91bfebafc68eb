"""Semantic deduplication: drop documents whose *embeddings* are
near-identical, scoped to cluster cells so the pairwise work never goes
quadratic in the corpus.

The recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication") is: cluster the embedding
space, compute pairwise cosine *within each cluster only*, and keep one
representative per near-duplicate neighborhood. At 100 TB the cell
scoping is the whole trick — with C cells of roughly N/C members the
candidate-pair count drops from N²/2 to N²/(2C), and the self-join
shuffles on the cell id, so each reducer sees one cell's members and
nothing else.

Two cell sources, one contract:

* ``srp_cells`` — sign-random-projection cells (``bits`` hyperplanes
  from the repo's portable-md5 ±1 matrix, ``rproject.sign_matrix``).
  Data-independent, map-only, and **engine-portable**: any SQL engine
  re-derives the same matrix from md5 parity and the same cell ids, so
  the whole dedup decision carries a value-level DuckDB oracle
  (``__spark_entry__.q17_q21_neardup_pairs``, 'semantic' parts).
* IVF KMeans cells (``ivf.assign_cells``) — data-adaptive, the quality
  path when a trained index already exists; pass its column via
  ``cell_col`` and skip ``srp_cells``.

Keep rule: a document is dropped iff some *smaller-id* document in the
same cell has cosine ≥ ``threshold`` with it. This is deterministic,
order-free (no sequential greedy scan), and expressible as one
anti-join — the scale-friendly variant of SemDeDup's keep-one-per-
neighborhood. Note it is slightly more aggressive than sequential
greedy on chains (A~B, B~C, A≁C drops both B and C); at the 0.95+
thresholds the operator targets, neighborhoods are tight clusters and
the two rules coincide.

Skew: projection cells are balanced for isotropic data but real
corpora concentrate; ``cell_census`` surfaces the distribution so
callers can raise ``bits`` (cells halve in expected size per bit)
before the quadratic term bites. The same census drives IVF cell
choice.

Reference scope note: the reference (pinecone-io/pinecone-datasets)
stores embeddings but delegates all similarity math to the hosted
index (README.md:15-20); dedup is Layer-B extension, cited against its
data model only (cfg.py:23-36).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parallel import shuffle_partitions
from .rproject import project_vectors


def srp_cells(
    df: DataFrame,
    vector_col: str = "embedding",
    dim: int = 64,
    bits: int = 6,
    seed: int = 13,
    cell_col: str = "sem_cell",
) -> DataFrame:
    """Append ``cell_col`` = the ``bits``-bit sign pattern of the
    portable ±1 projection (bit j set iff projection j ≥ 0).

    Map-only: one Arrow-batched GEMM (``project_vectors``) plus an
    integer fold — fuses into whatever scan already runs. 2**bits
    cells; expected cell size N/2**bits for isotropic data.
    """
    proj = project_vectors(df, vector_col, dim, bits, seed, out_col="__p")
    cell = F.expr(
        f"aggregate(zip_with(__p, sequence(0, {bits - 1}),"
        " (p, j) -> IF(p >= CAST(0 AS DOUBLE), shiftleft(CAST(1 AS BIGINT), j),"
        " CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return proj.withColumn(cell_col, cell).drop("__p")


def cell_census(
    df_with_cells: DataFrame, cell_col: str = "sem_cell"
) -> DataFrame:
    """Cell-size distribution (one tiny aggregate): the skew dashboard
    for choosing ``bits`` / centroid count before the within-cell
    quadratic term bites."""
    return (
        df_with_cells.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), cell_col)
    )


def auto_bits(n_rows: int, target_cell_rows: int = 200) -> int:
    """Cell-count sizing rule: bits = ceil(log2(N / target_cell_rows)),
    so expected cell size stays ~constant as the corpus grows and the
    within-cell quadratic term stays O(N · target) instead of O(N²/C).

    This is the scale knob the r10 sf1 probe showed must NOT be static:
    with bits pinned at 6, a 10× corpus costs ~100× pair work
    (measured exponent 1.69, SCALE.md "Empirical scaling probe");
    with bits from this rule the probe re-measures ~linear. Clamped to
    [1, 30]; one count() is the only cost."""
    import math

    n = max(int(n_rows), 1)
    t = max(int(target_cell_rows), 1)
    return min(max(math.ceil(math.log2(max(n / t, 2.0))), 1), 30)


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cell_col: Optional[str] = None,
    dim: int = 64,
    bits: Optional[int] = None,
    seed: int = 13,
    max_cell_rows: Optional[int] = None,
    target_cell_rows: int = 200,
) -> DataFrame:
    """(id_a < id_b, cosine) pairs with cosine ≥ threshold **within the
    same cell**. With ``cell_col`` given, cells are taken as stored
    (e.g. ``ivf.assign_cells`` output); otherwise SRP cells are
    computed on the fly.

    Plan: map-only cell assign → self-join on cell id (the only
    shuffle, keyed so each reducer holds one cell) → exact cosine on
    the surviving pairs only.

    ``max_cell_rows`` is the fail-LOUD quadratic guard: a cell of m
    members produces m²/2 candidate pairs, and real corpora concentrate
    — when set, a hot cell raises with its size instead of silently
    melting a reducer (raise ``bits`` or retrain the codebook; no
    silent truncation, ever). One extra tiny aggregate job when enabled.

    **Behavior change (r10) / reproducibility caveat**: the default is
    now ``bits=None`` (auto-sized via :func:`auto_bits`) instead of the
    former pinned ``bits=6``. Auto-sizing is the scale-safe default —
    pinned bits make within-cell pair work O(N²/C) with constant C —
    but it makes cell ids (and therefore WHICH near-dup pairs fall in
    the same cell) corpus-size-sensitive: growing the corpus across a
    power-of-two boundary changes the partitioning. Callers that need
    bit-stable results across corpus sizes (regression baselines,
    incremental runs diffed against old output) should pin ``bits``
    explicitly.
    """
    if cell_col is None:
        if bits is None:
            # bits=None → size cells to the corpus (auto_bits): the
            # constant-cell-count quadratic trap is the one scale
            # failure the sf1 probe measured in this module
            bits = auto_bits(df.count(), target_cell_rows)
        cell_col = "__sem_cell"
        df = srp_cells(df, vector_col, dim, bits, seed, cell_col)
    if max_cell_rows is not None:
        hot = (
            cell_census(df, cell_col)
            .where(F.col("n_members") > int(max_cell_rows))
            .limit(5)
            .collect()
        )
        if hot:
            detail = ", ".join(
                f"cell {r[cell_col]}: {r['n_members']} rows" for r in hot
            )
            raise ValueError(
                f"semantic_dedup cell(s) exceed max_cell_rows="
                f"{max_cell_rows} ({detail}); raise bits (cells halve "
                "per bit) or retrain the cell codebook"
            )
    from ..functions.vector import dot_product, l2_norm

    # Score INSIDE the cell-keyed self-join (guide §8: decide/score
    # where the payload already is, move big rows once). The former
    # shape — id-only candidate pairs, then two joins attaching each
    # side's vector — shuffled the O(N²/C) pair frame twice AND let
    # AQE coalesce the tiny id-only pair exchange to ONE partition, so
    # the entire per-pair cosine stage ran serially (sf1 probe: 53 s
    # on one task). Carrying (vector, norm) through the single cell
    # exchange costs one ~vector-width shuffle of N rows (not pairs),
    # scores each pair in the cell-partitioned SMJ stage, and the
    # per-row norm means one interpreted fold per pair (the dot), not
    # three. Same pairs, same double arithmetic → scores bit-identical.
    guarded_norm = F.greatest(l2_norm(vector_col), F.lit(1e-30))
    cells = df.select(
        F.col(id_col), F.col(cell_col), F.col(vector_col)
    ).withColumn("__n", guarded_norm)
    # Pin the cell exchange to the configured shuffle parallelism: the
    # bytes AQE coalesces on are PRE-expansion (N rows), so it happily
    # merges the whole corpus into a couple of partitions and the
    # O(N²/C) pair scoring downstream runs nearly serial (sf1 probe:
    # 12 partitions on 32 cores). An explicit keyed repartition is
    # exempt from AQE coalescing; the count tracks the cluster-sized
    # spark.sql.shuffle.partitions, not a local constant.
    n_shuffle = shuffle_partitions(df.sparkSession)
    cells = cells.repartition(n_shuffle, cell_col)
    a = cells.select(
        F.col(id_col).alias("id_a"),
        F.col(cell_col).alias("__ca"),
        F.col(vector_col).alias("_va"),
        F.col("__n").alias("_na"),
    )
    b = cells.select(
        F.col(id_col).alias("id_b"),
        F.col(cell_col).alias("__cb"),
        F.col(vector_col).alias("_vb"),
        F.col("__n").alias("_nb"),
    )
    # merge hint: self-join of the same cell-assignment subtree — SMJ
    # shares one exchange (ReuseExchange computes cells once) and never
    # broadcasts a corpus-derived frame (r13 audit; guide §2.4/§3.1).
    return (
        a.hint("merge")
        .join(
            b,
            (F.col("__ca") == F.col("__cb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn(
            "cosine",
            dot_product("_va", "_vb") / (F.col("_na") * F.col("_nb")),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    cell_col: Optional[str] = None,
    dim: int = 64,
    bits: Optional[int] = None,
    seed: int = 13,
    max_cell_rows: Optional[int] = None,
    target_cell_rows: int = 200,
) -> DataFrame:
    """The kept rows: drop every row with a smaller-id same-cell
    neighbor at cosine ≥ threshold (one anti-join against the pair
    set's ``id_b`` side). Returns ``df``'s rows and columns unchanged
    minus the dropped ones.

    ``bits=None`` (the default) auto-sizes the cell count to the
    corpus — the scale-safe choice (constant expected cell size ⇒
    O(N·target) pair work), at two costs callers should know about:
    one extra ``count()`` scan of ``df`` to size the cells, and
    SIZE-SENSITIVE cell ids — when the corpus crosses an ``auto_bits``
    power-of-two boundary, every row's cell changes and with it which
    near-dup pairs are discovered. Pin ``bits`` explicitly when
    run-to-run pair stability across growing corpora matters more than
    auto scaling. ``target_cell_rows`` tunes the sizing rule;
    ``max_cell_rows`` enables the fail-loud hot-cell guard (both
    forwarded to ``semantic_dedup_pairs``)."""
    pairs = semantic_dedup_pairs(
        df,
        threshold,
        id_col,
        vector_col,
        cell_col,
        dim,
        bits,
        seed,
        max_cell_rows=max_cell_rows,
        target_cell_rows=target_cell_rows,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")
