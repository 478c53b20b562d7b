"""Round-2 regression tests: spec end-tag handling (pre/listing/
button), template id order (reference parity), flat-nodes error
sentinel + parse budget, scheme-aware URL port stripping, SQL-UDF
exception propagation, deterministic latest-capture tiebreak."""

import pyspark.sql.functions as F
import pytest


# -- parser: in-body END-tag block set includes pre/listing/button ---------
# (WHATWG §13.2.6.4.7; html5ever tree_builder/rules.rs handles these in
# the same arm as div/ul/...)

def _body_children(html):
    from html5ever_elixir_spark.parser.api import parse_document

    doc = parse_document(html).doc
    body = doc.children[-1].children[-1]
    assert body.name == "body"
    return body


@pytest.mark.parametrize("tag", ["pre", "listing", "button"])
def test_end_tag_pops_open_descendants(tag):
    body = _body_children(f"<{tag}><div>x</{tag}>y")
    names = [getattr(c, "name", None) or c.type for c in body.children]
    # the element closed at </tag>; y is a direct child of body
    assert names[0] == tag
    assert body.children[-1].type == "text"
    assert body.children[-1].contents == "y"


def test_end_tag_button_uses_plain_scope():
    # </button> with no open button: parse error, ignored — x/y merge
    body = _body_children("<div>x</button>y</div>")
    div = body.children[0]
    assert div.name == "div"
    assert [c.contents for c in div.children if c.type == "text"] == ["xy"]


def test_template_hidden_doc_allocated_before_element():
    # arena_sink.rs:267-276: struct argument evaluated before the outer
    # new_node → hidden document id N, template element id N+1
    from html5ever_elixir_spark.parser.api import parse_document

    builder = parse_document("<body><template>x</template>")
    stack = [builder.doc]
    tpl = None
    while stack:
        n = stack.pop()
        if getattr(n, "name", None) == "template":
            tpl = n
            break
        stack.extend(n.children)
    assert tpl is not None
    assert tpl.template_contents.id == tpl.id - 1


# -- flat-nodes error sentinel + budget ------------------------------------


def test_flat_nodes_error_sentinel_rows(spark):
    from html5ever_elixir_spark.operators.parse import flat_parse_nodes
    from html5ever_elixir_spark.parser.api import UTF8_ERROR

    pages = spark.createDataFrame(
        [("u1", bytearray(b"<p>ok</p>")), ("u2", bytearray(b"<htm\xff"))],
        "url string, html binary",
    )
    nodes = flat_parse_nodes(pages).cache()
    err = nodes.where("type = 'error'").collect()
    assert len(err) == 1
    assert err[0]["url"] == "u2"
    assert err[0]["contents"] == UTF8_ERROR
    assert err[0]["node_id"] is None
    # the good doc still yields real node rows
    assert nodes.where("url = 'u1' AND type = 'element'").count() > 0


def test_flat_nodes_respects_parse_budget(spark):
    from html5ever_elixir_spark.operators.parse import flat_parse_nodes

    # 5000 nested divs exceed the kernel's depth cap of 512
    bomb = "<div>" * 5000
    pages = spark.createDataFrame([("u", bomb)], "url string, html string")
    nodes = flat_parse_nodes(pages).cache()
    err = nodes.where("type = 'error'").collect()
    assert len(err) == 1
    assert err[0]["contents"] == (
        "parse budget exceeded: document exceeds max tree depth 512"
    )
    assert nodes.where("type <> 'error'").count() == 0


# -- per-doc node-type metric columns ---------------------------------------


def test_parse_metrics_match_flat_node_counts(spark):
    from html5ever_elixir_spark.operators.parse import (
        flat_parse_nodes,
        parse_and_extract,
    )
    from html5ever_elixir_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(30)
    parsed = parse_and_extract(pages)
    agg = parsed.agg(
        F.sum("n_texts").alias("text"),
        F.sum("n_comments").alias("comment"),
        F.sum("n_doctypes").alias("doctype"),
        F.sum("n_documents").alias("document"),
        F.sum("n_elements").alias("element"),
    ).first()
    hist = {
        r["type"]: r["n"]
        for r in flat_parse_nodes(pages).groupBy("type").agg(
            F.count("*").alias("n")
        ).collect()
    }
    for t in ("text", "comment", "doctype", "document", "element"):
        assert agg[t] == hist.get(t, 0), t


# -- URL normalization: scheme-conditional default-port strip ---------------


def test_normalize_url_port_strip_is_scheme_aware(spark):
    from html5ever_elixir_spark.functions.url import normalize_url

    df = spark.createDataFrame(
        [
            ("http://h.example:80/a",),
            ("https://h.example:443/a",),
            ("http://h.example:443/a",),   # NOT default — keep
            ("https://h.example:80/a",),   # NOT default — keep
        ],
        "u string",
    ).select(normalize_url("u").alias("n"))
    got = [r["n"] for r in df.collect()]
    assert got == [
        "http://h.example/a",
        "https://h.example/a",
        "http://h.example:443/a",
        "https://h.example:80/a",
    ]


# -- SQL UDFs: parser defects propagate, contract errors null ----------------


def test_sql_udf_narrow_exception_trap(spark, monkeypatch):
    from html5ever_elixir_spark.functions import sql_udfs
    from html5ever_elixir_spark.operators import parse as kernel

    assert sql_udfs._doc_or_none(b"\xff") is None  # UTF-8 → NULL
    with pytest.raises(RuntimeError):
        # _doc_or_none parses through the HTML document kernel's helper
        monkeypatch.setattr(
            kernel,
            "parse_document",
            lambda *a, **k: (_ for _ in ()).throw(RuntimeError("bug")),
        )
        sql_udfs._doc_or_none("<p>x</p>")


# -- pipeline: deterministic equal-timestamp capture choice ------------------


def test_latest_capture_tiebreak_deterministic(spark):
    from html5ever_elixir_spark.plans.pipeline import dedup_latest_capture

    rows = [("u", "2024-01-01 00:00:00", h) for h in ("aaa", "zzz", "mmm")]
    df = spark.createDataFrame(rows, "url string, warc_ts string, html string")
    df = df.withColumn("warc_ts", F.to_timestamp("warc_ts"))
    picks = {
        dedup_latest_capture(df.orderBy(F.rand(seed))).first()["html"]
        for seed in (1, 2, 3)
    }
    assert len(picks) == 1  # same capture regardless of input order


# -- LSH: duplicate-bucket blowup fix ----------------------------------------


def test_lsh_pairs_skip_oversized_buckets(spark):
    from html5ever_elixir_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_clusters,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text) for i in range(1000)] + [
        (2000, "completely different words for another small document here"),
        (2001, "completely different words for another small document here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 1000 identical docs share every band: pairwise would be ~500k rows.
    pairs = lsh_candidate_pairs(docs).cache()
    got = pairs.count()
    assert got == 1  # only the small (size-2) bucket pairs survive
    # the oversized cluster is fully recovered by the O(B) cluster path
    clusters = lsh_clusters(docs).cache()
    assert clusters.where("cluster_id = 0").count() == 1000
    assert clusters.where("is_keeper").count() == 2  # doc 0 and doc 2000


def test_lsh_clusters_short_docs_are_own_cluster(spark):
    # < shingle words → null signature → excluded from banding on BOTH
    # engines (DuckDB's || null-propagates); each is its own cluster
    from html5ever_elixir_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_clusters,
    )

    rows = [(1, "too short"), (2, "too short"), (3, "also tiny")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert lsh_candidate_pairs(docs).count() == 0
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in lsh_clusters(docs).collect()
    }
    assert got == {1: (1, True), 2: (2, True), 3: (3, True)}


def test_lsh_connected_components_matches_union_find(spark):
    from html5ever_elixir_spark.operators.dedup import (
        _lsh_banded,
        lsh_connected_components,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    ).split()
    rows = []
    for i in range(40):
        words = list(base)
        # drift a few words so neighbors chain: i~i+1 similar, 0!~39
        for j in range(i % 7):
            words[j] = f"w{i}x{j}"
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # brute-force union-find over the same band-bucket edges
    banded = _lsh_banded(docs, "text", "doc_id", 16, 4, 5).collect()
    parent = {i: i for i in range(40)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    buckets = {}
    for r in banded:
        buckets.setdefault((r["band"], r["bh"]), []).append(r["doc_id"])
    for members in buckets.values():
        for m in members[1:]:
            ra, rb = find(members[0]), find(m)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(40)}

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in lsh_connected_components(docs).collect()
    }
    assert got == expected


# -- SimHash-64 + Hamming pairs ----------------------------------------------


def test_simhash64_pairs_hamming(spark):
    from html5ever_elixir_spark.operators.dedup import simhash64, simhash_pairs

    t = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, t), (2, t),                       # identical → hamming 0
            (3, t.replace("alpha", "ALPHA")),     # one word drift
            (4, "entirely different content with other words here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["doc_id"]: (r["simhash_hi"], r["simhash_lo"])
          for r in simhash64(docs).collect()}
    assert sh[1] == sh[2]
    assert all(0 <= v < 2**32 for pair in sh.values() for v in pair)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash_pairs_cap_skips_identical_cluster(spark):
    from html5ever_elixir_spark.operators.dedup import simhash_pairs

    rows = [(i, "same text repeated many many times over and over") for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every chunk bucket has 200 members > cap → no quadratic pair dump
    assert simhash_pairs(docs, max_bucket=64).count() == 0
    assert simhash_pairs(docs, max_bucket=200).count() == 200 * 199 // 2


# -- duplicated-span detection ------------------------------------------------


def test_duplicate_spans(spark):
    from html5ever_elixir_spark.operators.dedup import duplicate_spans

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"aaa {shared} bbb"),
        (2, f"ccc {shared} ddd"),
        (3, "totally different words that share no ten gram at all here ok"),
        (4, f"xxx {shared} {shared} yyy"),  # repeated within one doc too
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(docs, n=10).collect()
    # the exact 10-gram `shared` appears in docs 1, 2 and 4
    assert out[0]["n_docs"] == 3
    assert all(r["n_docs"] >= 2 for r in out)


# -- multimodal frame sampling -----------------------------------------------


def test_sample_frames_covers_payload(spark):
    import hashlib

    from html5ever_elixir_spark.operators.multimodal import sample_frames

    payload = bytes(range(256)) * 3 + b"tail"  # 772 bytes, not % 4
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)],
        "media_id long, payload binary",
    )
    rows = sorted(sample_frames(df, n_frames=4).collect(),
                  key=lambda r: r["frame_idx"])
    assert [r["media_id"] for r in rows] == [1, 1, 1, 1]  # null skipped
    assert sum(r["n_bytes"] for r in rows) == len(payload)
    # frames are the balanced byte split, hashes match
    ln = len(payload)
    for i, r in enumerate(rows):
        chunk = payload[i * ln // 4 : (i + 1) * ln // 4]
        assert r["n_bytes"] == len(chunk)
        assert r["frame_sha256"] == hashlib.sha256(chunk).hexdigest()
