"""Round-3 regression tests: quality_filter single-scan plan, zero-
vector L2-normalize cross-engine agreement, SRP-ANN expression size at
real embedding dims, lsh_cc unrolled-CTE oracle equivalence."""

import time

import duckdb
import pyspark.sql.functions as F
import pytest


# -- textstats.quality_filter: one scan, zero joins -------------------------

def test_quality_filter_plan_single_scan(spark):
    from html5ever_elixir_spark.operators.textstats import quality_filter

    docs = spark.createDataFrame(
        [(i, "the quick brown fox and the lazy dog of the east " * 5)
         for i in range(20)],
        "doc_id bigint, text string",
    )
    out = quality_filter(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Scan") <= 1, plan
    rows = out.collect()
    assert len(rows) == 20
    assert all(r.lang_pred == "en" for r in rows)


def test_quality_filter_matches_oracle_semantics(spark):
    # same doc set through Spark and the DuckDB oracle SQL
    from html5ever_elixir_spark.operators.textstats import (
        oracle_quality_filter_sql,
        quality_filter,
    )

    data = [
        (0, "the cat and the dog sat with the mat for the hat "
            "in the sun and the moon is up with joy for all of us now"),
        (1, "el la de que los por con una " * 8),  # spanish → dropped
        (2, "x y z " * 40),  # no stopwords → dropped
    ]
    docs = spark.createDataFrame(data, "doc_id bigint, text string")
    got = {r.doc_id for r in quality_filter(docs).collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in data)
        + ") t(doc_id, text)"
    )
    want = {r[0] for r in con.execute(oracle_quality_filter_sql()).fetchall()}
    assert got == want


# -- similarity.normalize_embeddings: zero-vector NULL on both engines ------

def test_normalize_zero_vector_null_both_engines(spark):
    from html5ever_elixir_spark.operators.similarity import (
        normalize_embeddings,
        oracle_normalize_sql,
    )

    emb = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r.vec_id: r for r in normalize_embeddings(emb).collect()}
    assert rows[0].norm == 5.0 and rows[0].unit == [0.6, 0.8]
    assert rows[1].norm == 0.0 and rows[1].unit is None

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT * FROM (VALUES "
        "(0, [3.0, 4.0]), (1, [0.0, 0.0])) t(vec_id, embedding)"
    )
    d = {r[0]: r for r in con.execute(oracle_normalize_sql()).fetchall()}
    assert d[0][1] == 5.0 and d[0][2] == [0.6, 0.8]
    assert d[1][1] == 0.0 and d[1][2] is None


# -- similarity.srp_bucket_ann: degenerate input, dim inferred ---------------

@pytest.mark.parametrize("rows, n_out", [
    ([], 0),
    # the first row's vector is null: dim comes from the first non-null
    ([(0, None), (1, [1.0, 2.0]), (2, [1.5, 2.5])], 2),
    # no vector at all: 3 queries x 2 null-sim neighbours in one bucket
    ([(0, None), (1, None), (2, None)], 6),
], ids=["empty", "null_first", "all_null"])
def test_srp_degenerate_input_matches_oracle(spark, rows, n_out):
    from html5ever_elixir_spark.operators.similarity import (
        oracle_srp_sql,
        srp_bucket_ann,
    )

    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = sorted(tuple(r) for r in srp_bucket_ann(emb, k=2).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    if rows:
        con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    ora = sorted(con.execute(oracle_srp_sql(k=2, dim=2)).fetchall())
    assert got == ora and len(got) == n_out


# -- similarity.srp_bucket_ann: plan stays small at real embedding dims -----

def test_srp_bucket_ann_dim512_compiles_fast(spark):
    from html5ever_elixir_spark.operators.similarity import srp_bucket_ann

    n, dim = 30, 512
    emb = spark.createDataFrame(
        [(i, [float((i * 37 + d * 13) % 17 - 8) for d in range(dim)])
         for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )
    t0 = time.monotonic()
    out = srp_bucket_ann(emb, n_queries=3, k=2, dim=dim)
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in out.collect())
    elapsed = time.monotonic() - t0
    # r2's literal-sum form emitted 4096 codegen terms here; the array-
    # literal form must analyze+run comfortably fast
    assert elapsed < 30, f"dim-512 SRP took {elapsed:.1f}s"

    # cross-check against a NumPy oracle using the same md5 hyperplanes
    import numpy as np

    from html5ever_elixir_spark.operators.similarity import _srp_weight

    vecs = {i: np.array([float((i * 37 + d * 13) % 17 - 8)
                         for d in range(dim)]) for i in range(n)}
    planes = np.array(
        [[_srp_weight(p, d) for d in range(dim)] for p in range(8)]
    )
    buckets = {
        i: "".join("1" if s >= 0 else "0" for s in planes @ v)
        for i, v in vecs.items()
    }
    want = []
    for q in range(3):
        cands = [
            (round(float(vecs[q] @ vecs[j]
                         / (np.linalg.norm(vecs[q]) * np.linalg.norm(vecs[j]))),
                   6), j)
            for j in range(n) if j != q and buckets[j] == buckets[q]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        want += [(q, j, r + 1) for r, (_, j) in enumerate(cands[:2])]
    assert got == sorted(want)


# -- dedup.lsh_connected_components: unrolled-CTE oracle equivalence --------

def test_lsh_cc_oracle_matches_spark_loop(spark, tmp_path):
    """The fixed-depth CTE unroll must equal the early-stopping Spark
    loop on a corpus with real multi-hop chains (A~B via band 0, B~C via
    band 1 — transitive closure needs propagation, not just bucket min)."""
    from html5ever_elixir_spark.operators.dedup import (
        lsh_connected_components,
        oracle_lsh_cc_sql,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today "
    texts = [
        (0, base * 4),
        (1, base * 4),                      # exact dup of 0
        (2, base * 4 + "tail variation here makes band overlap partial x"),
        (3, "completely different content about spark catalyst optimizer "
            "plans and shuffle exchanges in distributed queries " * 3),
        (4, None),                          # null text → singleton
    ]
    docs = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = sorted(
        (r.doc_id, r.cluster_id)
        for r in lsh_connected_components(docs, max_iter=5).collect()
    )

    import pandas as pd

    pq = tmp_path / "documents.parquet"
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')"
    )
    want = sorted(
        tuple(r) for r in con.execute(oracle_lsh_cc_sql(max_iter=5)).fetchall()
    )
    assert got == want


# -- multimodal: the REAL decode branch executes (pure-Python rasters) -------

def _make_ppm(w, h, rgb_fn):
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px += bytes(rgb_fn(x, y))
    return b"P6\n# test\n" + f"{w} {h}\n255\n".encode() + bytes(px)


def _make_bmp24(w, h, rgb_fn):
    import struct

    rowlen = (w * 3 + 3) & ~3
    px = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(w):
            r, g, b = rgb_fn(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (rowlen - len(row))
        px += row
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                      2835, 2835, 0, 0)
    return hdr + dib + bytes(px)


def test_real_raster_decode_ppm_and_bmp_agree():
    from html5ever_elixir_spark.operators.multimodal import (
        _decode_image,
        _decode_image_stub,
        _decode_raster,
    )

    rgb = lambda x, y: ((x * 40) % 256, (y * 60) % 256, (x + y) * 10 % 256)
    ppm, bmp = _make_ppm(5, 3, rgb), _make_bmp24(5, 3, rgb)
    w, h, px_ppm = _decode_raster(ppm)
    assert (w, h) == (5, 3)
    # same image in both containers → identical grayscale pixels
    assert _decode_raster(bmp)[2] == px_ppm
    # expected luma for pixel (x=1,y=0): BT.601 integer
    assert px_ppm[1] == (40 * 299 + 0 * 587 + 10 * 114) // 1000
    # the real branch produces REAL features, distinct from the stub
    assert _decode_image(ppm) != _decode_image_stub(ppm)
    assert _decode_image(ppm) == _decode_image(bmp)


def test_corrupt_recognized_raster_is_error_not_stub():
    from html5ever_elixir_spark.operators.multimodal import (
        CorruptRasterError,
        _decode_image,
    )

    good = _make_bmp24(4, 4, lambda x, y: (x, y, 0))
    with pytest.raises(CorruptRasterError):
        _decode_image(good[:30])  # truncated header
    with pytest.raises(CorruptRasterError):
        _decode_image(good[:-8])  # truncated pixel data
    with pytest.raises(CorruptRasterError):
        _decode_image(b"P6\n2 2\n255\nxxx")  # truncated PNM
    # unrecognized magic still routes to the deterministic stub
    assert _decode_image(b"\x89PNG-but-not-really" * 3) is not None


def test_media_features_real_branch_through_spark(spark):
    from html5ever_elixir_spark.operators.multimodal import (
        extract_media_features,
    )

    ppm = _make_ppm(6, 4, lambda x, y: (x * 30, y * 50, 128))
    rows = [
        (0, "image", bytearray(ppm), (6, 4, "image/x-portable-pixmap")),
        (1, "image", bytearray(_make_bmp24(3, 3, lambda x, y: (200, x, y))),
         (3, 3, "image/bmp")),
        (2, "image", bytearray(b"not an image at all"), (0, 0, "binary")),
        (3, "image", bytearray(_make_bmp24(4, 4, lambda x, y: (1, 2, 3))[:40]),
         (4, 4, "image/bmp")),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int, height:int, mime:string>",
    )
    out = {r.media_id: r for r in extract_media_features(media).collect()}
    # real decodes: error-free, real features
    assert out[0].decode_error is None and len(out[0].feature) == 8
    assert out[1].decode_error is None
    # unrecognized payload: stub features, no error (plumbing contract)
    assert out[2].decode_error is None and out[2].feature is not None
    # corrupt BMP: row-level decode_error, null feature
    assert out[3].decode_error is not None and out[3].feature is None


# -- new round-3 pipeline operators ------------------------------------------

def test_stratified_sample_deterministic_and_rate(spark):
    from html5ever_elixir_spark.operators.sampling import stratified_sample

    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id bigint, text string, lang string",
    )
    rates = {"en": 0.25, "de": 1.0}
    a = {r.doc_id for r in stratified_sample(docs, rates).collect()}
    b = {r.doc_id for r in stratified_sample(docs, rates).collect()}
    assert a == b  # layout-independent, reproducible
    c = {r.doc_id for r in stratified_sample(docs, rates, salt="v2").collect()}
    assert a != c  # new salt, independent draw
    n_en = sum(1 for i in a if i % 2 == 0)
    n_de = sum(1 for i in a if i % 2 == 1)
    assert n_de == 1000  # rate 1.0 keeps everything
    assert 150 <= n_en <= 350  # ~25% of 1000
    # unlisted strata use default_rate=0.0
    docs_fr = spark.createDataFrame(
        [(1, "t", "fr")], "doc_id bigint, text string, lang string"
    )
    assert stratified_sample(docs_fr, rates).count() == 0


def test_token_budget_shares_sum_to_one(spark):
    from html5ever_elixir_spark.operators.textstats import token_budget

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e", "s1"), (3, "f g h i j", "s2")],
        "doc_id bigint, text string, source string",
    )
    rows = {r.grp: r for r in token_budget(docs).collect()}
    assert rows["s1"].n_docs == 2 and rows["s1"].n_tokens == 5
    assert rows["s2"].n_docs == 1 and rows["s2"].n_tokens == 5
    assert rows["s1"].token_share == rows["s2"].token_share == 0.5


def test_minhash_jaccard_estimate_exact_dups(spark):
    from html5ever_elixir_spark.operators.dedup import minhash_jaccard_estimate

    base = "the quick brown fox jumps over the lazy dog near the river " * 4
    docs = spark.createDataFrame(
        [(0, base), (1, base),
         (2, "entirely different words about catalyst shuffle plans " * 6)],
        "doc_id bigint, text string",
    )
    rows = {(r.id_a, r.id_b): r.jaccard_est
            for r in minhash_jaccard_estimate(docs).collect()}
    assert rows[(0, 1)] == 1.0  # identical shingle sets agree on all k
    assert all(v <= 1.0 for v in rows.values())


def test_srp_multiprobe_recall_superset(spark):
    # Hamming-1 probing must find every single-probe neighbor pair and
    # strictly more on a corpus with near-hyperplane points
    from html5ever_elixir_spark.operators.similarity import srp_bucket_ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    single = srp_bucket_ann(emb, n_queries=5, k=50, dim=64)
    multi = srp_bucket_ann(emb, n_queries=5, k=50, dim=64, multiprobe=True)
    sp = {(r.query_id, r.neighbor_id) for r in single.collect()}
    mp = {(r.query_id, r.neighbor_id) for r in multi.collect()}
    assert sp <= mp
    assert len(mp) > len(sp)


def test_keep_longest_policy(spark):
    from html5ever_elixir_spark.operators.dedup import keep_longest

    base = "the quick brown fox jumps over the lazy dog by the river " * 4
    docs = spark.createDataFrame(
        [(0, base), (1, base + "extra tail making this one longer"),
         (2, base), (3, None)],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in keep_longest(docs).collect()}
    # 0,1,2 cluster together; the longest (1) is kept, not min-id (0)
    assert rows[0].cluster_id == rows[1].cluster_id == rows[2].cluster_id
    assert rows[1].keep and not rows[0].keep and not rows[2].keep
    # null-text singleton keeps itself
    assert rows[3].keep and rows[3].cluster_id == 3


def test_chunk_documents_overlap_and_oracle(spark, tmp_path):
    from html5ever_elixir_spark.operators.textstats import (
        chunk_documents,
        oracle_chunk_sql,
    )

    words = [f"w{i}" for i in range(450)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)), (1, "short doc"), (2, None)],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_words=200, overlap=20)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_words)
         for r in out.collect())
    )
    doc0 = [r for r in rows if r[0] == 0]
    # 450 words, step 180: chunks at 0/180/360 → 3 chunks
    assert [r[1] for r in doc0] == [0, 1, 2]
    assert doc0[0][2].split(" ")[:2] == ["w0", "w1"]
    # overlap: chunk 1 starts at word 180, chunk 0 ends at word 199
    assert doc0[1][2].split(" ")[0] == "w180"
    assert doc0[0][2].split(" ")[-1] == "w199"
    assert doc0[2][3] == 450 - 360  # tail chunk is short
    assert [r for r in rows if r[0] == 1][0][3] == 2
    assert not [r for r in rows if r[0] == 2]  # null text → no chunks

    pq = tmp_path / "documents.parquet"
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(tuple(r) for r in con.execute(
        oracle_chunk_sql(chunk_words=200, overlap=20)).fetchall())
    assert rows == want


def _make_wav(samples, channels=1, rate=8000):
    import struct

    data = b"".join(struct.pack("<h", v) for v in samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_real_wav_decode_and_kind_dispatch(spark):
    from html5ever_elixir_spark.operators.multimodal import (
        CorruptMediaError,
        _decode_audio,
        _decode_image_stub,
        extract_media_features,
    )

    # 8 windows of 10 samples each at known amplitudes
    samples = [s for i in range(8) for s in [i * 1000] * 10]
    wav = _make_wav(samples)
    feats = _decode_audio(wav)
    assert feats == [round(i * 1000 / 32768.0, 6) for i in range(8)]
    with pytest.raises(CorruptMediaError):
        _decode_audio(wav[:-5])  # truncated data chunk
    with pytest.raises(CorruptMediaError):
        _decode_audio(_make_wav(samples)[:20])  # header only
    with pytest.raises(ValueError):
        _decode_audio(b"not riff at all!")

    rows = [
        (0, "audio", bytearray(wav), (0, 0, "audio/wav")),
        (1, "audio", bytearray(b"opaque-nonwav-payload"), (0, 0, "binary")),
        (2, "audio", bytearray(wav[:-5]), (0, 0, "audio/wav")),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, "
        "meta struct<width:int, height:int, mime:string>",
    )
    out = {r.media_id: r for r in extract_media_features(media).collect()}
    assert out[0].decode_error is None
    # feature column is array<float> (float32): compare approximately
    assert all(abs(a - b) < 1e-6 for a, b in zip(out[0].feature, feats))
    # unrecognized audio payload → deterministic stub, no error
    assert out[1].decode_error is None
    stub = _decode_image_stub(b"opaque-nonwav-payload")
    assert all(abs(a - b) < 1e-6 for a, b in zip(out[1].feature, stub))
    # corrupt recognized WAV → row-level error
    assert out[2].decode_error is not None and out[2].feature is None


def test_curation_pipeline_composition(spark):
    # survivors = quality ∩ sample ∩ canonical — verified stage-by-stage
    from html5ever_elixir_spark.operators.dedup import keep_longest
    from html5ever_elixir_spark.operators.sampling import stratified_sample
    from html5ever_elixir_spark.operators.textstats import quality_filter
    from html5ever_elixir_spark.plans.curation import run_curation

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rates = {"en": 0.9}
    got = {r.doc_id for r in run_curation(docs, rates).collect()}
    q = {r.doc_id for r in quality_filter(docs).collect()}
    s_ = {r.doc_id for r in stratified_sample(docs, rates).collect()}
    k = {r.doc_id for r in keep_longest(docs).where("keep").collect()}
    assert got == (q & s_ & k)
    assert got  # non-degenerate at sf0.001


def test_repetition_stats_signals(spark):
    import math

    from html5ever_elixir_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(0, "spam spam spam spam"), (1, "all words here are different"),
         (2, "a a a b")],
        "doc_id bigint, text string",
    )
    r = {x.doc_id: x for x in repetition_stats(docs).collect()}
    assert r[0].distinct_ratio == 0.25 and r[0].top_word_ratio == 1.0
    assert r[0].word_entropy == 0.0
    assert r[1].distinct_ratio == 1.0 and r[1].top_word_ratio == 0.2
    assert r[1].word_entropy == round(math.log2(5), 6)
    # 3/4 'a': H = -(0.75*log2(0.75) + 0.25*log2(0.25))
    want = round(-(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25)), 6)
    assert r[2].word_entropy == want


def test_decontaminate_flags_overlap(spark):
    from html5ever_elixir_spark.operators.dedup import decontaminate

    leak = ("the exact thirteen word benchmark sentence that must be "
            "detected in training data verbatim")
    docs = spark.createDataFrame(
        [(0, "clean document with completely original content " * 5),
         (1, f"prefix text {leak} suffix text"),
         (2, None)],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, f"eval question: {leak}")], "doc_id bigint, text string"
    )
    r = {x.doc_id: x for x in decontaminate(docs, bench).collect()}
    assert r[1].contaminated and r[1].n_hits > 0
    assert not r[0].contaminated and r[0].n_hits == 0
    assert not r[2].contaminated  # null text → no grams


def test_pack_sequences_greedy_within_doc(spark):
    from html5ever_elixir_spark.operators.textstats import (
        chunk_documents,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(100)))],
        "doc_id bigint, text string",
    )
    # chunks of 30 words, overlap 0 → 4 chunks (30,30,30,10)
    chunks = chunk_documents(docs, chunk_words=30, overlap=0)
    packed = {r.seq_id: r for r in
              pack_sequences(chunks, seq_len=60).collect()}
    # prev-cumsum buckets: chunk0@0, chunk1@30 → seq 0; chunk2@60,
    # chunk3@90 → seq 1
    assert packed[0].n_chunks == 2 and packed[0].n_words == 60
    assert packed[1].n_chunks == 2 and packed[1].n_words == 40
