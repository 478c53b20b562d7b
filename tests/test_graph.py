"""Link-graph layer tests: real-parse href edge extraction, fixed-point
PageRank (determinism across partitionings + serial-reference parity),
and paragraph-level first-occurrence dedup."""

import pyspark.sql.functions as F

from html5ever_elixir_spark.operators.dedup import paragraph_dedup
from html5ever_elixir_spark.operators.graph import link_edges, pagerank


def _mk_pages(spark, rows):
    return spark.createDataFrame(rows, schema="url string, html string")


def test_link_edges_real_parse(spark):
    pages = _mk_pages(
        spark,
        [
            # two well-formed anchors
            ("https://h.example/page7",
             '<html><body><a href="/p/8">next</a> '
             '<a href="/p/9">more</a></body></html>'),
            # anchor w/o text, anchor w/o href, off-pattern href
            ("https://h.example/page1",
             '<html><body><a href="/p/2"></a><a>no href</a>'
             '<a href="https://other.example/x">ext</a></body></html>'),
            # url that doesn't match the id pattern → dropped
            ("https://h.example/about",
             '<html><body><a href="/p/3">x</a></body></html>'),
        ],
    )
    got = {
        (r.src, r.dst): r.anchor
        for r in link_edges(pages=pages).collect()
    }
    assert got == {(7, 8): "next", (7, 9): "more", (1, 2): ""}


def test_link_edges_multi_text_children(spark):
    # anchor text = concatenation of the a-element's own text nodes in
    # node order (formatting splits the text into several nodes)
    pages = _mk_pages(
        spark,
        [("https://h.example/page5",
          '<html><body><a href="/p/6">click <b>here</b> now</a></body></html>')],
    )
    rows = link_edges(pages=pages).collect()
    assert len(rows) == 1
    # direct text children only: 'click ' + ' now' ('here' is b's child)
    assert rows[0].anchor == "click  now"


def test_link_edges_error_pages_give_no_edges(spark):
    pages = spark.createDataFrame(
        [("https://h.example/page1",
          bytearray(b'<a href="/p/2">ok</a><a href="/p/3"></a>')),
         ("https://h.example/page4", bytearray(b'<a href="/p/5">caf\xe9</a>')),
         ("https://h.example/page6",
          bytearray(b'<a href="/p/7">' + b"<div>" * 600)),
         ("https://h.example/page8", None)],
        "url string, html binary",
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for n in (1, 512):
            spark.conf.set(key, str(n))
            got = sorted(tuple(r) for r in link_edges(pages).collect())
            # invalid UTF-8 and the depth bomb are error pages: no edges
            assert got == [(1, 2, "ok"), (1, 3, "")], n
    finally:
        spark.conf.set(key, old)


def _ref_pagerank(nodes, edges, iters=3, scale=10**9, damping=85):
    """Serial reference of the integer update rule."""
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    rank = {v: scale for v in nodes}
    base = scale * (100 - damping) // 100
    n = len(nodes)
    for _ in range(iters):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += rank[s] // outdeg[s]
        dang = sum(rank[v] for v in nodes if outdeg[v] == 0)
        rank = {
            v: base + (damping * (inflow[v] + dang // n)) // 100
            for v in nodes
        }
    return rank


def test_pagerank_matches_serial_reference(spark):
    nodes_l = list(range(6))
    # a hub (0 <- everyone), a chain, and a dangling node (5)
    edges_l = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1), (1, 2), (2, 3),
               (3, 4), (4, 5)]
    nodes = spark.createDataFrame([(v,) for v in nodes_l], "node long")
    edges = spark.createDataFrame(edges_l, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, nodes, iters=3).collect()}
    assert got == _ref_pagerank(nodes_l, edges_l)
    # rank mass is conserved up to integer-floor loss (strictly bounded)
    assert 0 <= len(nodes_l) * 10**9 - sum(got.values()) < 100 * len(edges_l)


def test_pagerank_partitioning_invariant(spark):
    # bigint arithmetic ⇒ bit-identical results at any parallelism —
    # the property float PageRank cannot give (CLAUDE.md double-sum rule)
    nodes_l = list(range(40))
    edges_l = [(i, (i * 7 + 1) % 40) for i in range(40)] + [
        (i, (i + 1) % 40) for i in range(0, 40, 3)
    ]
    ref = _ref_pagerank(nodes_l, edges_l)
    for parts in (1, 7):
        nodes = spark.createDataFrame(
            [(v,) for v in nodes_l], "node long"
        ).repartition(parts)
        edges = spark.createDataFrame(
            edges_l, "src long, dst long"
        ).repartition(parts)
        got = {
            r.node: r.rank for r in pagerank(edges, nodes, iters=3).collect()
        }
        assert got == ref, f"parallelism changed ranks at P={parts}"


def test_pagerank_plan_scale_shape(spark, checkpoint_plans):
    # agg state must be scalar (no per-dst member lists) and the scalar
    # attachments must be broadcast constant-key joins, not cartesians
    nodes = spark.range(100).selectExpr("id AS node")
    edges = spark.range(99).selectExpr("id AS src", "id + 1 AS dst")
    df, round_plans = checkpoint_plans(lambda: pagerank(edges, nodes, iters=2))
    df.collect()
    # r9 barrier: the returned frame IS the final round's eager
    # localCheckpoint — a truncated LogicalRDD scan, so every later
    # action pays constant analysis, not the 3^iters lineage walk
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "collect_list" not in plan and "CartesianProduct" not in plan
    # the round pipeline's join/agg shape is in the plans of the rounds'
    # checkpoint jobs: agg state must be scalar (no per-dst member
    # lists), scalar (n, dangling-mass) attaches fold to
    # BroadcastNestedLoopJoin — acceptable ONLY because every BNLJ build
    # side here is a broadcast 1-row aggregate (the repo's IVF
    # constant-key pattern); the corpus-side joins must all be hash joins
    assert len(round_plans) == 2
    for lplan in round_plans:
        assert "collect_list" not in lplan
        assert "CartesianProduct" not in lplan
        assert "BroadcastHashJoin" in lplan or "SortMergeJoin" in lplan


def test_paragraph_dedup_first_occurrence(spark):
    sep = "\n\n"
    docs = spark.createDataFrame(
        [
            (0, sep.join(["shared", "only-in-0"])),
            (1, sep.join(["shared", "only-in-1", "promo"])),
            (2, sep.join(["promo", "shared"])),  # everything seen before
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert out[0].text_clean == "shared" + sep + "only-in-0"
    assert (out[0].n_paras_kept, out[0].n_paras_removed) == (2, 0)
    assert out[1].text_clean == "only-in-1" + sep + "promo"
    assert (out[1].n_paras_kept, out[1].n_paras_removed) == (2, 1)
    assert out[2].text_clean == ""
    assert (out[2].n_paras_kept, out[2].n_paras_removed) == (0, 2)
    assert out[3].text_clean == ""
    assert (out[3].n_paras_kept, out[3].n_paras_removed) == (0, 0)


def test_paragraph_dedup_agg_state_is_scalar(spark):
    # the keeper pass is min-over-bigint, never a collect of members —
    # the viral-paragraph (10^8 copies) case folds map-side
    docs = spark.createDataFrame(
        [(i, "viral\n\nu%d" % i) for i in range(50)],
        "doc_id long, text string",
    )
    df = paragraph_dedup(docs)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan  # only the per-DOC reassembly …
    first_agg = plan[plan.rfind("Aggregate"):]
    # … the hash-key (global) aggregate carries min() only
    assert "min(" in first_agg and "collect_list" not in first_agg
    kept = {r.doc_id: r.n_paras_kept for r in df.collect()}
    assert kept[0] == 2 and all(kept[i] == 1 for i in range(1, 50))


def test_crawl_frontier_budget_and_robots(spark):
    import pyspark.sql.functions as F

    from html5ever_elixir_spark.operators.graph import crawl_frontier

    ranks = spark.createDataFrame(
        [(i, 1000 - i) for i in range(1, 9)], "node long, rank long"
    )
    urls = spark.createDataFrame(
        [
            # host A: 4 allowed urls, budget 2 -> top-2 by rank
            (1, "https://a/1", "a", True),
            (2, "https://a/2", "a", True),
            (3, "https://a/3", "a", True),
            (4, "https://a/4", "a", True),
            # host B: best url robots-blocked -> next two win
            (5, "https://b/5", "b", False),
            (6, "https://b/6", "b", True),
            (7, "https://b/7", "b", True),
            # no rank row for 8 (unknown page) -> dropped by the join
            (8, "https://b/8", "b", True),
        ],
        "doc_id long, url string, host string, allowed boolean",
    )
    ranks = ranks.where(F.col("node") != 8)
    got = sorted(
        (r.doc_id, r.host_rank)
        for r in crawl_frontier(ranks, urls, per_host=2).collect()
    )
    # rank = 1000 - id, so lower ids outrank higher ones
    assert got == [(1, 1), (2, 2), (6, 1), (7, 2)]


def test_pagerank_host_granularity(spark):
    # the documented 100 TB fallback (rank at host granularity): doc
    # edges collapse to distinct host edges, the SAME operator runs —
    # checked against the serial integer reference on the host graph
    from html5ever_elixir_spark.operators.graph import pagerank

    n_docs, n_hosts = 60, 7
    docs = list(range(n_docs))
    doc_edges = [
        (d, d + k) for d in docs for k in (1, 2) if d + k < n_docs
    ]
    host_edges = sorted({(s % n_hosts, t % n_hosts) for s, t in doc_edges})
    hosts = sorted({d % n_hosts for d in docs})
    edges_df = spark.createDataFrame(host_edges, "src long, dst long")
    nodes_df = spark.createDataFrame([(h,) for h in hosts], "node long")
    got = {
        r.node: r.rank
        for r in pagerank(edges_df, nodes_df, iters=3).collect()
    }
    assert got == _ref_pagerank(hosts, host_edges, iters=3)


def test_anchor_stats_argmax_and_ties(spark):
    from html5ever_elixir_spark.operators.graph import anchor_stats

    edges = spark.createDataFrame(
        [
            (1, 5, "home"), (2, 5, "home"), (3, 5, "start"),
            # dst 6: two anchors tied at 1 -> lexicographically smallest
            (1, 6, "zeta"), (2, 6, "alpha"),
        ],
        "src long, dst long, anchor string",
    )
    got = {r.dst: r for r in anchor_stats(edges).collect()}
    assert (got[5].n_inlinks, got[5].n_distinct_anchors) == (3, 2)
    assert (got[5].top_anchor, got[5].top_count) == ("home", 2)
    assert (got[6].top_anchor, got[6].top_count) == ("alpha", 1)
