"""The one in-bucket pair generator (``dedup._bucket_pairs``) behind the
LSH, MinHash-estimate, SimHash and 64-bit Hamming pair operators: a
source guard, the cap boundary on both bucket shapes, null ids, and no
uncapped ``max_bucket=None`` mode — each checked against the operator's
DuckDB oracle on the same rows."""

from pathlib import Path

import duckdb
import pytest

from html5ever_elixir_spark.operators import dedup, multimodal

OPERATORS = Path(dedup.__file__).parent

T = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
     "lambda mu nu xi omicron pi rho sigma tau upsilon")
U = ("red orange yellow green blue indigo violet black white grey "
     "brown pink cyan magenta olive maroon navy teal silver gold")


def _duck(table, schema, rows):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {table} ({schema})")
    con.executemany(
        f"INSERT INTO {table} VALUES ({', '.join('?' * len(rows[0]))})",
        rows,
    )
    return con


def _docs_case(spark, op, oracle, rows, max_bucket):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {tuple(r) for r in op(docs, max_bucket=max_bucket).collect()}
    con = _duck("documents", "doc_id BIGINT, text VARCHAR", rows)
    want = {tuple(r) for r in con.execute(oracle(max_bucket=max_bucket))
            .fetchall()}
    return got, want


def _hashes_case(spark, rows, max_bucket):
    hashes = spark.createDataFrame(
        rows, "doc_id long, hash_hi long, hash_lo long"
    )
    got = {tuple(r) for r in dedup.hamming_pairs_64(
        hashes, max_bucket=max_bucket).collect()}
    con = _duck("hashes", "doc_id BIGINT, hash_hi BIGINT, hash_lo BIGINT",
                rows)
    want = {tuple(r) for r in con.execute(dedup.oracle_hamming_pairs_64_sql(
        "SELECT * FROM hashes", max_bucket=max_bucket)).fetchall()}
    return got, want


DOC_OPS = {
    "lsh": (dedup.lsh_candidate_pairs, dedup.oracle_lsh_pairs_sql),
    "minhash": (dedup.minhash_jaccard_estimate,
                dedup.oracle_minhash_jaccard_sql),
    "simhash": (dedup.simhash_pairs, dedup.oracle_simhash_pairs_sql),
}


def test_one_pair_generator_source():
    hits = sum(
        p.read_text().count("slice(_m, i + 2")
        for p in OPERATORS.glob("*.py")
    )
    assert hits == 1


def test_cap_boundary_both_bucket_shapes(spark):
    # a bucket of exactly max_bucket keeps every pair; max_bucket + 1
    # keeps none
    cap = 4
    # band buckets: 4 copies of T, 5 copies of U
    rows = [(i, T) for i in range(cap)] + [
        (10 + i, U) for i in range(cap + 1)
    ]
    got, want = _docs_case(spark, *DOC_OPS["lsh"], rows, cap)
    assert got == want == {(a, b) for a in range(cap)
                           for b in range(a + 1, cap)}
    # chunk buckets: every 16-bit chunk value is shared within a group
    # and differs between the groups
    rows = [(i, 0x11112222, 0x33334444) for i in range(cap)] + [
        (10 + i, 0x55556666, 0x77778888) for i in range(cap + 1)
    ]
    got, want = _hashes_case(spark, rows, cap)
    assert got == want == {(a, b, 0) for a in range(cap)
                           for b in range(a + 1, cap)}


@pytest.mark.parametrize("max_bucket", [dedup.DEFAULT_MAX_BUCKET, 2])
@pytest.mark.parametrize("op", ["lsh", "minhash", "simhash", "hamming"])
def test_null_id_never_pairs(spark, op, max_bucket):
    # the null-id row counts toward the bucket size (3 > 2 empties
    # every bucket) but pairs with nothing
    if op == "hamming":
        got, want = _hashes_case(
            spark, [(1, 5, 5), (2, 5, 5), (None, 5, 5)], max_bucket
        )
    else:
        got, want = _docs_case(
            spark, *DOC_OPS[op], [(1, T), (2, T), (None, T)], max_bucket
        )
    assert got == want
    assert {p[:2] for p in got} == (
        {(1, 2)} if max_bucket > 2 else set()
    )


@pytest.mark.parametrize("op", [
    "lsh_candidate_pairs", "minhash_jaccard_estimate", "simhash_pairs",
    "hamming_pairs_64", "image_dhash_pairs",
])
def test_no_uncapped_mode(spark, op):
    docs = spark.createDataFrame([(1, T)], "doc_id long, text string")
    if op == "hamming_pairs_64":
        arg = docs.selectExpr("doc_id", "5L AS hash_hi", "5L AS hash_lo")
    elif op == "image_dhash_pairs":
        arg = multimodal.docs_to_dhash_pnms(docs)
    else:
        arg = docs
    fn = getattr(multimodal if op == "image_dhash_pairs" else dedup, op)
    with pytest.raises(ValueError, match="max_bucket"):
        fn(arg, max_bucket=None)
