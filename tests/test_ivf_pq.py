"""IVF-PQ: residual product quantization — cross-engine parity on the
real embeddings table, parallelism invariance (hash-exactness), recall
vs brute-force on clustered data, and parameter validation."""

import duckdb
import pytest

from html5ever_elixir_spark.operators.similarity import (
    ann_ivf_topk,
    cosine_topk,
    ivf_assign,
    ivf_pq_topk,
    oracle_ivf_pq_sql,
    oracle_ivf_sql,
)

SF = "/root/testdata/sf0.001"


def test_cross_engine_parity(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adist)
        for r in ivf_pq_topk(emb).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF}/embeddings.parquet'"
    )
    ora = {
        (r[0], r[2]): (r[1], r[3])
        for r in con.execute(oracle_ivf_pq_sql()).fetchall()
    }
    assert got == ora and len(got) == 50


def test_parallelism_invariance(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    outs = []
    for parts in (1, 7):
        rows = ivf_pq_topk(emb.repartition(parts)).collect()
        outs.append(
            sorted((r.query_id, r.rank, r.neighbor_id, r.adist)
                   for r in rows)
        )
    assert outs[0] == outs[1]


def _clustered(spark, n_clusters=6, n=120, dim=16):
    """Deterministic well-separated clusters (no RNG: pure arithmetic);
    membership INTERLEAVED (cluster = vec_id % n_clusters) so the
    deterministic seed ids 0..k-1 land one per cluster — a sane
    k-means init, as a real build would get from sampling."""
    rows = []
    for i in range(n):
        g = i % n_clusters
        vec = [
            float(10 * ((g * 7 + d * 3) % 10))
            + 0.01 * ((i * 13 + d) % 5)
            for d in range(dim)
        ]
        rows.append((i, vec))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_cluster_precision_vs_flat(spark):
    # every ADC top-5 neighbor must come from the query's own cluster
    # (the retrieval job IVF-PQ exists for); within-cluster fine
    # ordering is quantized away by design, so set-level precision is
    # the right metric — and brute-force L2 agrees on the cluster too
    emb = _clustered(spark)
    pq = ivf_pq_topk(
        emb, n_queries=10, k_top=5, k_cells=6, m=4, dim=16, nprobe=2
    ).collect()
    assert len(pq) == 50
    hits = sum(r.neighbor_id % 6 == r.query_id % 6 for r in pq)
    assert hits / len(pq) >= 0.9, f"cluster precision {hits}/{len(pq)}"
    # flat cosine on the same data is high-precision too (sanity that
    # the corpus actually clusters)
    flat = cosine_topk(emb, n_queries=10, k=5).collect()
    fhits = sum(r.neighbor_id % 6 == r.query_id % 6 for r in flat)
    assert fhits / len(flat) >= 0.9


def test_adist_identical_vector_attains_minimum(spark):
    # vec 30 duplicates vec 0 exactly: same cell, same residual, so its
    # codes are the per-subspace ARGMIN codewords for the query
    # residual — its ADC distance is the query's own quantization
    # error, the minimum any member can attain (not 0: ADC never reads
    # raw member vectors, that's the point of PQ)
    emb = _clustered(spark)
    emb2 = emb.join(
        emb.selectExpr("vec_id AS z", "embedding AS e0").where("z = 0"),
        how="cross",
    ).selectExpr(
        "vec_id",
        "CASE WHEN vec_id = 30 THEN e0 ELSE embedding END AS embedding",
    )
    rows = ivf_pq_topk(
        emb2, n_queries=1, k_top=10, k_cells=6, m=4, dim=16
    ).collect()
    by_rank = {r.rank: r for r in rows}
    dup = [r for r in rows if r.neighbor_id == 30]
    assert dup, "duplicate vector must be retrieved"
    assert dup[0].adist == by_rank[1].adist  # attains the minimum


def test_dim_not_divisible_raises(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError):
        ivf_pq_topk(emb, m=5, dim=64)


@pytest.mark.parametrize(
    "first_id, n, train_frac",
    [
        # PQ-gated rows (ids < k_pq) but an empty coarse sample: no
        # coarse seeds (ids >= k_cells) and no hash-sample draws
        (2, 6, 0.0),
        # a non-empty coarse sample that holds no seed id at all
        (20, 20, 0.5),
    ],
)
def test_degenerate_coarse_sample_matches_oracle(spark, first_id, n,
                                                 train_frac):
    # no coarse seed → no centroid: every row drops out of the build
    # (the oracle's assign/residual joins are empty), never a task
    # failure
    rows = [
        (i, [float((i * 7 + d) % 5) for d in range(4)])
        for i in range(first_id, first_id + n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {v}::FLOAT[])" for i, v in rows)
        + ") t(vec_id, embedding)"
    )

    def check(frame, oracle):
        got = sorted(tuple(r) for r in frame.collect())
        assert got == sorted(con.execute(oracle).fetchall()) == []

    coarse = dict(k_cells=2, train_frac=train_frac)
    # the PQ path and the coarse-only path of the one trainer
    params = dict(coarse, dim=4, m=2, k_pq=8, n_queries=30)
    check(ivf_pq_topk(emb, **params), oracle_ivf_pq_sql(**params))
    assignment, _ = ivf_assign(emb, k=2, train_frac=train_frac)
    check(assignment, oracle_ivf_sql(dim=4, assignment_only=True, **coarse))
    check(
        ann_ivf_topk(emb, n_queries=30, **coarse),
        oracle_ivf_sql(dim=4, n_queries=30, **coarse),
    )
