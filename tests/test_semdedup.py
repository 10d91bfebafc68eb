"""Semantic dedup: portable SRP cells, cell-scoped pair mining, the
anti-join keep rule, and composition with precomputed (IVF-style)
cells."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pinecone_datasets_spark.operators.semdedup import (
    cell_census,
    semantic_dedup,
    semantic_dedup_pairs,
    srp_cells,
)

BITS = 6
SEED = 13


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    """Embeddings plus planted near-duplicates (q21's recipe: every
    vec_id % 10 == 0 re-inserted under vec_id + 1000000 with a ~0.2%
    element-wise perturbation, cosine ≈ 0.99999)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + F.lit(0.002) * (i % 7 - F.lit(3))),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def test_srp_cells_match_duckdb(spark, sf_dir):
    """Cell ids are engine-portable: DuckDB re-derives the ±1 matrix
    from md5 parity and lands every vector in the same cell."""
    got = {
        r["vec_id"]: r["sem_cell"]
        for r in srp_cells(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
                F.col("vec_id") < 50
            ),
            bits=BITS,
            seed=SEED,
        )
        .select("vec_id", "sem_cell")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = dict(
        con.execute(
            f"""
WITH R AS (
  SELECT j, i,
         CASE WHEN ('0x' || substr(md5('{SEED}|' || i || '|' || j), 1, 8))::BIGINT
                   % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
  FROM generate_series(0, {BITS - 1}) t1(j), generate_series(0, 63) t2(i)
), v AS (
  SELECT vec_id, i.i, embedding[i.i + 1]::DOUBLE AS x
  FROM embeddings, generate_series(0, 63) i(i)
  WHERE vec_id < 50
), p AS (
  SELECT v.vec_id, R.j, sum(v.x * R.s) AS p
  FROM v JOIN R USING (i) GROUP BY v.vec_id, R.j
)
SELECT vec_id,
       sum(CASE WHEN p >= 0 THEN 1 << j ELSE 0 END)::BIGINT AS cell
FROM p GROUP BY vec_id
"""
        ).fetchall()
    )
    assert got == want
    assert all(0 <= c < 2**BITS for c in got.values())


def test_pairs_are_cell_scoped_exact_within(spark, corpus):
    """The mined pair set == (brute-force pairs ≥ t) ∩ (same cell):
    cell scoping is the only approximation, and within a cell the
    cosine pass is exact."""
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            corpus, threshold=0.95, bits=BITS, seed=SEED
        ).collect()
    }
    cells = {
        r["vec_id"]: r["sem_cell"]
        for r in srp_cells(corpus, bits=BITS, seed=SEED).collect()
    }
    rows = corpus.collect()
    import numpy as np

    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in rows}
    ids = sorted(vecs)
    want = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if cells[a] != cells[b]:
                continue
            va, vb = vecs[a], vecs[b]
            cos = float(
                va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            )
            if cos >= 0.95:
                want.add((a, b))
    assert pairs == want
    # the planted near-dups (cos ≈ 0.99999) survive the cell split with
    # near-certainty; require ≥90% so one unlucky hyperplane can't flake
    planted = {i for i in vecs if i >= 1000000}
    found_planted = {b for (_, b) in pairs if b >= 1000000}
    assert len(found_planted) >= 0.9 * len(planted)


def test_keep_rule_is_smaller_id_anti_join(spark, corpus):
    pairs = semantic_dedup_pairs(
        corpus, threshold=0.95, bits=BITS, seed=SEED
    ).collect()
    kept = {
        r["vec_id"]
        for r in semantic_dedup(
            corpus, threshold=0.95, bits=BITS, seed=SEED
        ).collect()
    }
    all_ids = {r["vec_id"] for r in corpus.collect()}
    dropped = {r["id_b"] for r in pairs}
    assert kept == all_ids - dropped
    # every dropped doc has a kept-or-dropped smaller-id witness; the
    # smallest id of any neighborhood is always kept
    assert kept  # non-degenerate
    assert min(all_ids) in kept


def test_precomputed_cells_and_single_cell_equals_bruteforce(spark, sf_dir):
    """cell_col passes through (IVF composition contract); one constant
    cell degrades to the exact all-pairs operator."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < 80)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .withColumn("c", F.lit(0))
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            emb, threshold=0.3, cell_col="c"
        ).collect()
    }
    from pinecone_datasets_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.3).collect()
    }
    assert got == want


def test_census_and_no_cartesian(spark, corpus):
    census = cell_census(srp_cells(corpus, bits=BITS, seed=SEED)).collect()
    assert sum(r["n_members"] for r in census) == corpus.count()
    assert len(census) <= 2**BITS
    plan = (
        semantic_dedup_pairs(corpus, threshold=0.95, bits=BITS, seed=SEED)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_quadratic_guard_fails_loud_on_hot_cell(spark, corpus):
    """max_cell_rows must raise (naming the hot cell) instead of
    silently melting a reducer — the no-silent-caps contract."""
    small = corpus.limit(100)
    with pytest.raises(ValueError, match="max_cell_rows"):
        semantic_dedup_pairs(
            corpus.withColumn("c", F.lit(7)),
            threshold=0.95,
            cell_col="c",
            max_cell_rows=10,
        )
    # under the cap: runs normally
    out = semantic_dedup_pairs(
        small, threshold=0.95, bits=BITS, seed=SEED, max_cell_rows=1000
    )
    assert out.count() >= 0


def test_auto_bits_keeps_cell_size_constant():
    """r10 sf1 probe finding: bits pinned at 6 makes the within-cell
    pair work quadratic in the corpus (measured exponent 1.69). The
    auto_bits rule must scale cell COUNT with N so expected cell size
    stays ~target across decades."""
    from pinecone_datasets_spark.operators.semdedup import auto_bits

    for n in (100, 2_000, 20_000, 200_000, 2_000_000, 10**11):
        b = auto_bits(n, target_cell_rows=200)
        assert 1 <= b <= 30
        if n > 400:
            expected_cell = n / (1 << b)
            assert expected_cell <= 200  # never bigger than target
            assert expected_cell > 50   # not absurdly over-split
    # each 10x in N adds ~log2(10) ≈ 3.3 bits
    assert auto_bits(20_000) - auto_bits(2_000) in (3, 4)
    assert auto_bits(1) == 1 and auto_bits(0) == 1  # degenerate clamps


def test_semantic_dedup_bits_none_autosizes(spark):
    """bits=None routes through auto_bits and still produces the same
    keep/drop DECISIONS as explicit bits on a corpus with planted
    near-identical pairs (near-dups survive any cell split only if
    they land together — identical vectors always do)."""
    import numpy as np

    from pinecone_datasets_spark.operators.semdedup import (
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(300):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        rows.append((i, v.tolist()))
        if i % 10 == 0:  # plant an exact duplicate under a higher id
            rows.append((1000 + i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept_auto = {
        r["vec_id"]
        for r in semantic_dedup(df, dim=16, bits=None).collect()
    }
    # every planted duplicate (id >= 1000) dropped, all originals kept
    assert all(i < 1000 for i in kept_auto)
    assert set(range(300)) == kept_auto


def test_pairs_survive_non_integer_shuffle_partitions(spark, monkeypatch):
    """Some platforms set spark.sql.shuffle.partitions to ``auto``; the
    pair miner falls back to defaultParallelism instead of failing at
    plan build, with the same pairs."""
    from pyspark.sql.conf import RuntimeConfig

    rows = [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs():
        return sorted(
            tuple(r)
            for r in semantic_dedup_pairs(df, dim=3, bits=2).collect()
        )

    expected = pairs()
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    assert pairs() == expected and expected
