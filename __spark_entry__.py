"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline at sf0.001.
``queries()`` / ``oracle_sql()`` cover the operator inventory from
SURVEY.md §2: the HTML parse+extract engine (checked end-to-end via the
shared Spark/DuckDB pages construction — DuckDB rebuilds the SAME html
and predicts the extraction output in pure SQL), the training-data
pipeline operators (dedup, similarity, text analysis), and the
pipeline-mandated relational categories (agg/join/window/top-k/filter).
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from html5ever_elixir_spark.operators import (
    dedup,
    graph,
    map_rows,
    relational,
    markdown,
    sampling,
    similarity,
    tables,
    textstats,
)
from html5ever_elixir_spark.operators.parse import (
    flat_parse_nodes,
    map_documents,
    parse_and_extract,
)
from html5ever_elixir_spark.plans import curation
from html5ever_elixir_spark.sources.pages import pages_from_documents, pages_select_sql


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_from_documents(spark, sf_dir)


def _page_column(spark, sf_dir, name: str, of_doc) -> DataFrame:
    """(url, ``name``): ``of_doc(doc)`` of each parsed page through the
    HTML document kernel; a page that fails to parse gives null."""

    def emit(out, parsed, err) -> int:
        out[name].append(None if parsed is None else of_doc(parsed.doc))
        return 1

    return map_documents(
        _pages(spark, sf_dir), "url", "html", [emit],
        pa.schema([(name, pa.string())]),
    )


def _one_column(name: str, fn, type_=pa.string()):
    """A ``map_rows`` emitter that appends ``fn(*vals)`` to ``name``,
    and its one-column schema."""

    def emit(out, *vals) -> int:
        out[name].append(fn(*vals))
        return 1

    return emit, pa.schema([(name, type_)])


# DuckDB-side pages CTE (the driver pre-registers `documents`)
_DUCK_PAGES = "pages AS (" + pages_select_sql("documents", "duckdb") + ")"

# byte-exact nested-tree JSON reconstructed from the template structure
_TREE_JSON_ORACLE = """
WITH base AS (SELECT doc_id AS d, cast(doc_id AS string) AS ds, text AS t
              FROM documents)
SELECT 'https://host' || cast(d % 50 as string) || '.example/page' || ds
         AS url,
  '["#doc",[["d","html","",""],["e","html",[],[["e","head",[],'
  || '[["e","title",[],["Doc ' || ds || '"]],["e","style",[],'
  || '["p{color:red}"]]]],["e","body",[],[["e","h1",[],["Title ' || ds
  || '"]]'
  || case when d % 3 = 0 then ',["c"," c' || ds || ' "]' else '' end
  || ',["e","div",[["class","content"]],[["e","p",[],["' || t || '"]]'
  || case when d % 5 = 0
       then ',["e","p",[],["extra & ' || ds || '"]]' else '' end
  || ']],["e","div",[["class","nav"]],[["e","a",[["href","/p/'
  || cast(d + 1 as string) || '"]],["next"]]," ",["e","a",[["href","/p/'
  || cast(d + 2 as string) || '"]],["more"]]]],["e","footer",[],'
  || '["copyright host"]]]]]]]]' AS tree_json
FROM base
"""


_NODE_HISTOGRAM_ORACLE = """
WITH t AS (SELECT count(*) AS n,
                  sum(case when doc_id % 3 = 0 then 1 else 0 end) AS c3,
                  sum(case when doc_id % 5 = 0 then 1 else 0 end) AS c5
           FROM documents)
SELECT * FROM (
  SELECT 'comment' AS type, c3::BIGINT AS n FROM t
  UNION ALL SELECT 'doctype', n::BIGINT FROM t
  UNION ALL SELECT 'document', n::BIGINT FROM t
  UNION ALL SELECT 'element', (12 * n + c5)::BIGINT FROM t
  UNION ALL SELECT 'text', (8 * n + c5)::BIGINT FROM t
) ORDER BY type
"""


# maps-mode variant: every attr list in the template is single-entry, so
# the JSON-object encoding is a mechanical bracket rewrite of the same
# reconstruction ([["k","v"]] → {"k":"v"}, [] → {})
_TREE_JSON_MAPS_ORACLE = (
    _TREE_JSON_ORACLE
    .replace('[["class","content"]]', '{"class":"content"}')
    .replace('[["class","nav"]]', '{"class":"nav"}')
    .replace('[["href","/p/', '{"href":"/p/')
    .replace('"]],["next"]]', '"},["next"]]')
    .replace('"]],["more"]]', '"},["more"]]')
    .replace(",[],", ",{},")
    .replace("AS tree_json", "AS tree_json_maps")
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build pages from sf0.001 documents, parse every page
    with the from-scratch HTML5 parser, extract main content + DOM
    metrics. Driver checks rows>0 and stable schema."""
    pages = _pages(spark, "/root/testdata/sf0.001")
    return parse_and_extract(pages).select(
        "url", "error", "text", "title", "n_nodes", "n_elements",
        "n_anchors", "max_depth", "n_parse_errors",
    )


# ---------------------------------------------------------------------------
# queries


def _q_html_extract(spark, sf_dir):
    return (
        parse_and_extract(_pages(spark, sf_dir))
        .select("url", "text")
    )


def _q_html_titles(spark, sf_dir):
    return parse_and_extract(_pages(spark, sf_dir)).select("url", "title")


def _q_html_links(spark, sf_dir):
    return parse_and_extract(_pages(spark, sf_dir)).select(
        "url", F.array_join("links", ",").alias("links_csv")
    )


def _q_html_node_histogram(spark, sf_dir):
    nodes = flat_parse_nodes(_pages(spark, sf_dir))
    return (
        nodes.groupBy("type")
        .agg(F.count("*").alias("n"))
        .orderBy("type")
    )


def _q_html_node_histogram_fast(spark, sf_dir):
    # same answer as html_node_histogram but from the per-doc metric
    # columns the parse UDF already emits — no per-node explosion across
    # the JVM boundary (the 100 TB-shaped plan for count-style queries)
    parsed = parse_and_extract(_pages(spark, sf_dir))
    agg = parsed.agg(
        F.sum("n_comments").alias("comment"),
        F.sum("n_doctypes").alias("doctype"),
        F.sum("n_documents").alias("document"),
        F.sum("n_elements").alias("element"),
        F.sum("n_texts").alias("text"),
    )
    return agg.selectExpr(
        "stack(5, 'comment', comment, 'doctype', doctype, "
        "'document', document, 'element', element, 'text', text) "
        "AS (type, n)"
    ).orderBy("type")


def _q_html_max_depth(spark, sf_dir):
    return parse_and_extract(_pages(spark, sf_dir)).select("url", "max_depth")


def _q_html_attrs_by_tag(spark, sf_dir):
    nodes = flat_parse_nodes(_pages(spark, sf_dir))
    return (
        nodes.where(F.col("type") == "element")
        .groupBy("name")
        .agg(
            F.sum(F.size("attrs")).cast("bigint").alias("n_attrs"),
            F.count("*").alias("n_elements"),
        )
        .orderBy("name")
    )


def _q_html_tree_json(spark, sf_dir):
    # the nested tuple-tree encoding (reference parse/1) as the canonical
    # JSON column, byte-compared against a SQL-reconstructed expected
    pages = _pages(spark, sf_dir)
    from html5ever_elixir_spark.operators.parse import parse_and_extract

    return parse_and_extract(pages, with_tree_json=True).select(
        "url", "tree_json"
    )


def _q_html_tree_json_maps(spark, sf_dir):
    # maps-mode nested tree (reference parse_with_attributes_as_maps/1,
    # lib/html5ever.ex:62-64): attrs encoded as a first-wins JSON object
    from html5ever_elixir_spark.parser.api import tree_to_json

    return _page_column(
        spark, sf_dir, "tree_json_maps",
        lambda doc: tree_to_json(doc, attrs_as_maps=True),
    )


def _q_html_fragment_tree(spark, sf_dir):
    # §13.4 fragment parsing (innerHTML algorithm), driver-gated (r5
    # verdict ask #5): three context cases synthesized by ONE SQL
    # expression both engines evaluate —
    #   d%3=0 ctx=div:      <td> is an ignored start tag in body mode,
    #                       its text lands as a sibling text node;
    #   d%3=1 ctx=textarea: tokenizer starts in RCDATA with the CONTEXT
    #                       name as appropriate end tag → markup literal;
    #   d%3=2 ctx=template: in-template mode routes <td> through the
    #                       table modes → a REAL td element.
    # The oracle reconstructs the exact ["#frag",…] JSON per case
    # (documents.text is [a-zA-Z0-9 ] — safe for literal splicing).
    from html5ever_elixir_spark.parser.api import (
        fragment_to_json,
        parse_fragment,
    )

    frags = _docs(spark, sf_dir).selectExpr(
        "'doc://' || cast(doc_id as string) AS url",
        "case cast(doc_id % 3 as int)"
        " when 0 then '<p>' || text || '</p><td>td'"
        "   || cast(doc_id as string) || '</td>'"
        " when 1 then '<b>f' || cast(doc_id as string) || '</b>'"
        " else '<td>c' || cast(doc_id as string) || '</td>' end"
        " AS frag_html",
        "case cast(doc_id % 3 as int) when 0 then 'div'"
        " when 1 then 'textarea' else 'template' end AS context",
    )

    return map_rows(
        frags, ["url"], ["frag_html", "context"],
        *_one_column(
            "frag_json", lambda h, c: fragment_to_json(parse_fragment(h, c))
        ),
    )


_FRAGMENT_TREE_ORACLE = """
SELECT 'doc://' || cast(doc_id as string) AS url,
  case cast(doc_id % 3 as int)
    when 0 then '["#frag",[["e","p",[],["' || text || '"]],"td'
                || cast(doc_id as string) || '"]]'
    when 1 then '["#frag",["<b>f' || cast(doc_id as string) || '</b>"]]'
    else '["#frag",[["e","td",[],["c' || cast(doc_id as string)
         || '"]]]]'
  end AS frag_json
FROM documents
"""


def _q_html_attrs_map_merge(spark, sf_dir):
    # first-wins attrs_map semantics through the one place duplicates
    # can reach the DOM: the <html> root-merge of a second <html> tag
    # (reference add_attrs_if_missing, test/html5ever_test.exs:67-91).
    # Pages are synthesized by ONE SQL expression both engines evaluate.
    docs = _docs(spark, sf_dir)
    pages = docs.selectExpr(
        "'doc://' || cast(doc_id as string) AS url",
        "'<html lang=\"l' || cast(doc_id as string) || '\"><head></head>'"
        " || '<body><p>x</p></body></html>'"
        " || '<html lang=\"zzz\" dir=\"d' || cast(doc_id as string) || '\">'"
        " AS html",
    )
    nodes = flat_parse_nodes(pages)
    return (
        nodes.where("type = 'element' AND name = 'html'")
        .select(
            "url",
            F.expr("element_at(attrs_map, 'lang')").alias("lang_attr"),
            F.expr("element_at(attrs_map, 'dir')").alias("dir_attr"),
            F.size("attrs").cast("bigint").alias("n_attr_pairs"),
            F.size(F.map_keys("attrs_map")).cast("bigint").alias("n_map_keys"),
        )
    )


def _q_html_text_nodes(spark, sf_dir):
    # per-url text-node count + decoded character count (validates
    # entity decoding and text-node collapse inside contents)
    nodes = flat_parse_nodes(_pages(spark, sf_dir))
    return (
        nodes.where(F.col("type") == "text")
        .groupBy("url")
        .agg(
            F.count("*").alias("n_text_nodes"),
            F.sum(F.length("contents")).alias("text_chars"),
        )
    )


def _q_html_extract_v2(spark, sf_dir):
    # text-density profile: on the template corpus only the long prose
    # block survives ("Title {d}" and "extra & {d}" stubs are < 15 chars
    # for every doc_id in these SFs)
    from html5ever_elixir_spark.parser.extract import extract_text_v2

    return _page_column(spark, sf_dir, "text_v2", extract_text_v2)


def _q_html_error_rows(spark, sf_dir):
    # rebuild pages with BINARY html, deliberately invalid UTF-8 for
    # doc_id % 97 == 0 — the reference's single error path (lib.rs:10-22)
    pages = _pages(spark, sf_dir).select(
        "url",
        "doc_id",
        F.when(
            F.col("doc_id") % 97 == 0, F.unhex(F.lit("3C68746DFF"))
        ).otherwise(F.col("html").cast("binary")).alias("html"),
    )
    return parse_and_extract(pages).select("url", "error")


def _q_html_flat_error_rows(spark, sf_dir):
    # the flat-nodes path's row-level error surface (reference
    # lib/html5ever.ex:117-119 {:error, reason}): one sentinel row with
    # type='error' per undecodable document
    pages = _pages(spark, sf_dir).select(
        "url",
        F.when(
            F.col("doc_id") % 97 == 0, F.unhex(F.lit("3C68746DFF"))
        ).otherwise(F.col("html").cast("binary")).alias("html"),
    )
    nodes = flat_parse_nodes(pages)
    return (
        nodes.where(F.col("type") == "error")
        .select("url", F.col("contents").alias("error"))
    )


# shared variant template (identical SQL both engines); normalization
# is INDEPENDENTLY implemented on each side — the differential gate
_URL_VARIANTS = [
    "'http://h' || cast({m} as string) || '.example.com/a/' || cast({i} as string)",
    "'HTTP://H' || cast({m} as string) || '.EXAMPLE.COM:80/a/' || cast({i} as string) || '#frag'",
    "'http://user:pw@h' || cast({m} as string) || '.example.com/a/' || cast({i} as string) || '/'",
]


def _q_url_dedup(spark, sf_dir):
    from html5ever_elixir_spark.functions.url import normalize_url

    docs = _docs(spark, sf_dir)
    vs = [v.format(m="doc_id % 50", i="doc_id") for v in _URL_VARIANTS]
    urls = docs.select(
        F.explode(F.expr("array(" + ", ".join(vs) + ")")).alias("url")
    )
    return (
        urls.select(normalize_url("url").alias("canon"), "url")
        .groupBy("canon")
        .agg(
            F.count("*").cast("bigint").alias("n_variants"),
            F.min("url").alias("first_seen"),
        )
    )


def _oracle_url_dedup_sql():
    from html5ever_elixir_spark.functions.url import duck_normalize_url_sql

    vs = [
        v.replace("cast({m} as string)", "cast(doc_id % 50 as varchar)")
        .replace("cast({i} as string)", "cast(doc_id as varchar)")
        for v in _URL_VARIANTS
    ]
    return (
        "WITH urls AS (SELECT unnest([" + ", ".join(vs) + "]) AS url "
        "FROM documents) "
        f"SELECT {duck_normalize_url_sql('url')} AS canon, "
        "count(*)::BIGINT AS n_variants, min(url) AS first_seen "
        "FROM urls GROUP BY 1"
    )


def _q_url_host_counts(spark, sf_dir):
    from html5ever_elixir_spark.functions import host_of

    return (
        _pages(spark, sf_dir)
        .groupBy(host_of("url").alias("host"))
        .agg(F.count("*").alias("n"))
        .orderBy("host")
    )


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _q_dedup_dom(spark, sf_dir):
    parsed = parse_and_extract(_pages(spark, sf_dir), with_tree_json=True)
    return dedup.dom_normalized_dedup(parsed)


def _q_dedup_minhash(spark, sf_dir):
    # serialize the array<string> signature for the driver's pandas
    # canonicalizer (contract: no array-typed columns in query output);
    # the array-valued form stays internal for lsh_candidate_pairs
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir))
    return sigs.select(
        "doc_id", F.array_join("sig", ",", "").alias("sig")
    )


def _q_dedup_lsh_pairs(spark, sf_dir):
    return dedup.lsh_candidate_pairs(_docs(spark, sf_dir))


def _q_dedup_lsh_clusters(spark, sf_dir):
    return dedup.lsh_clusters(_docs(spark, sf_dir))


def _q_dedup_decontaminate(spark, sf_dir):
    # deterministic split: benchmark = doc_id%5==0, training = the rest
    docs = _docs(spark, sf_dir)
    return dedup.decontaminate(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )


def _q_dedup_incremental(spark, sf_dir):
    # deterministic split of the one driver table: seen = doc_id%5==0
    docs = _docs(spark, sf_dir)
    return dedup.incremental_dedup(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )


# shared multi-line synthesis for the boilerplate-line gate: one
# universal line (all docs), one 1/3-frequency line, one unique tail —
# the 400-doc threshold removes only the universal one at sf0.01
_BOILER_LINES_EXPR = (
    "'NEWSLETTER SIGNUP' || chr(10) || text || chr(10) || "
    "case when doc_id % 3 = 0 then 'SHARED FOOTER' "
    "else 'tail ' || cast(doc_id as string) end"
)


def _q_dedup_boilerplate(spark, sf_dir):
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_BOILER_LINES_EXPR} AS text"
    )
    return dedup.remove_boilerplate_lines(docs, min_docs=400)


def _q_dedup_norm_exact(spark, sf_dir):
    # case/punct/whitespace-insensitive exact dedup: perturb the corpus
    # deterministically so normalization has real work to undo
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "case when doc_id % 2 = 0 then upper(text) || '!!' "
        "else '  ' || text end AS text",
    )
    return dedup.normalized_exact_dedup(docs)


def _q_dedup_bloom(spark, sf_dir):
    # bounded-manifest bloom screen over the same seen/new split as
    # dedup_incremental: manifest <= m rows at ANY corpus size
    docs = _docs(spark, sf_dir)
    return dedup.bloom_incremental(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )


def _q_dedup_keep_longest(spark, sf_dir):
    return dedup.keep_longest(_docs(spark, sf_dir))


def _q_dedup_lsh_cc(spark, sf_dir):
    # iterative min-label propagation; max_iter is a compile-time
    # constant so the rounds unroll to chained CTEs in the DuckDB
    # oracle (idempotent after convergence => early-stop == fixed
    # unroll); also pytest-gated vs brute-force union-find
    return dedup.lsh_connected_components(_docs(spark, sf_dir), max_iter=5)


def _q_dedup_duplicate_spans(spark, sf_dir):
    return dedup.duplicate_spans(_docs(spark, sf_dir))


def _q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir))


def _q_dedup_simhash64(spark, sf_dir):
    return dedup.simhash64(_docs(spark, sf_dir))


def _q_dedup_simhash_pairs(spark, sf_dir):
    # max_hamming=16 > 3 is candidate generation (bucketed recall, like
    # any LSH): the synthetic corpus has no Hamming<=3 near-dups, and
    # the oracle implements the identical bucketed semantics
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=16)


def _q_dedup_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


def _q_ann_ivf_cells(spark, sf_dir):
    # IVF coarse quantizer build (r6): deterministic Lloyd's — init =
    # vectors 0..k-1, 2 fixed rounds, 6dp-rounded L2 with centroid-id
    # tie-break, 9dp elementwise means folded in vec_id order — so the
    # whole build unrolls to chained CTEs in DuckDB (the repo's
    # fixed-iteration oracle discipline). Output: final cell per vector.
    from html5ever_elixir_spark.operators.similarity import ivf_assign

    assign, _ = ivf_assign(_emb(spark, sf_dir))
    return assign.select("vec_id", F.col("cell").cast("bigint"))


def _q_ann_ivf_topk(spark, sf_dir):
    # IVF search: nprobe nearest cells per query, exact cosine only
    # against their members — the recall/cost dial named by the
    # pipeline mandate alongside the LSH path
    from html5ever_elixir_spark.operators.similarity import ann_ivf_topk

    return ann_ivf_topk(_emb(spark, sf_dir), n_queries=10)


def _q_ann_ivf_pq_topk(spark, sf_dir):
    # IVF-PQ (r8): coarse probe, then rank members by the asymmetric-
    # distance estimate against their PRODUCT-QUANTIZED codes (the
    # member's raw vector is never read at query time — the 100 TB
    # memory-wall answer); codebooks train on the same md5 hash-sample
    # as the coarse build, unrolled-CTE oracle
    from html5ever_elixir_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(_emb(spark, sf_dir), n_queries=10)


def _q_ann_topk(spark, sf_dir):
    out = similarity.cosine_topk(_emb(spark, sf_dir), n_queries=10, k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _q_ann_srp(spark, sf_dir):
    out = similarity.srp_bucket_ann(
        _emb(spark, sf_dir), n_queries=10, k=5, dim=64
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _q_emb_normalize(spark, sf_dir):
    # array-typed unit vector stays internal (driver contract); gate the
    # norm plus scalars derived from the unit vector
    out = similarity.normalize_embeddings(_emb(spark, sf_dir))
    return out.select(
        "vec_id",
        "norm",
        F.expr("round(unit[0], 6)").alias("u0"),
        F.expr(
            "round(aggregate(unit, cast(0.0 as double), (a, v) -> a + v), 6)"
        ).alias("unit_sum"),
    )


def _q_text_quality_filter(spark, sf_dir):
    return textstats.quality_filter(_docs(spark, sf_dir))


# keep rates must match _STRAT_RATES in oracle_sql()
_STRAT_RATES = {"en": 0.5, "de": 1.0, "fr": 0.1}


def _q_sample_temperature_mix(spark, sf_dir):
    # temperature-flattened source mixing (T=2 upweights small sources)
    return sampling.temperature_mix(
        _docs(spark, sf_dir), temperature=2.0, target_frac=0.5
    ).select("doc_id", "source")


def _q_sample_cap_per_source(spark, sf_dir):
    return sampling.cap_per_group(_docs(spark, sf_dir), k=15).select(
        "doc_id", "source", "n_chars"
    )


def _q_sample_stratified(spark, sf_dir):
    return sampling.stratified_sample(
        _docs(spark, sf_dir), _STRAT_RATES
    ).select("doc_id", "lang")


def _q_curation_chunks(spark, sf_dir):
    return curation.run_curation(_docs(spark, sf_dir))


def _q_curation_chunks_v2(spark, sf_dir):
    # the full GPT-3-style flow: gate → sample → canon → decontaminate
    # (13-gram vs the doc_id%5 benchmark split) → PII scrub → chunk
    docs = _docs(spark, sf_dir)
    return curation.run_curation_v2(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )


def _q_curation_chunks_v3(spark, sf_dir):
    # r8 flow: v2 + corpus-wide long-duplicate-span scrub before PII
    # scrubbing + a per-chunk BPE token ledger column (the budget a
    # trainer actually pays)
    docs = _docs(spark, sf_dir)
    return curation.run_curation_v3(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )


def _q_text_pack(spark, sf_dir):
    # small chunk/seq sizes so the sf docs actually produce multi-chunk
    # packing (sf0.01 docs are short)
    chunks = textstats.chunk_documents(
        _docs(spark, sf_dir), chunk_words=20, overlap=5
    )
    return textstats.pack_sequences(chunks, seq_len=40)


# inject deterministic PII into the corpus via ONE expression both
# engines evaluate (the fixture has none); lpad arg types match both
_PII_TEXT_EXPR = (
    "text || ' contact user' || cast(doc_id as string) || '@example.com'"
    " || ' or 10.0.' || cast(doc_id % 256 as string) || '.7 call'"
    " || ' +1 (555) 010-' || lpad(cast(doc_id % 10000 as string), 4, '0')"
)


def _q_text_scrub_pii(spark, sf_dir):
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_PII_TEXT_EXPR} AS text"
    )
    return textstats.scrub_pii(docs)


def _q_quality_by_source(spark, sf_dir):
    return textstats.quality_by_source(_docs(spark, sf_dir))


def _q_text_pack_strict(spark, sf_dir):
    # hard trainer budget: no sequence exceeds seq_len (unless a single
    # chunk alone does); oracle is the same recurrence as a recursive CTE
    chunks = textstats.chunk_documents(
        _docs(spark, sf_dir), chunk_words=20, overlap=5
    )
    return textstats.pack_sequences(chunks, seq_len=40, strict=True)


def _q_text_chunks(spark, sf_dir):
    return textstats.chunk_documents(_docs(spark, sf_dir))


def _q_text_repetition(spark, sf_dir):
    return textstats.repetition_stats(_docs(spark, sf_dir))


def _q_text_token_budget(spark, sf_dir):
    return textstats.token_budget(_docs(spark, sf_dir))


def _q_text_bpe_train(spark, sf_dir):
    # distributed BPE merge LEARNING over the real corpus: 8 rounds of
    # (corpus-wide pair count -> top-1 -> merge everywhere), bigint
    # counts + (count DESC, x, y) tie-break = parallelism-exact;
    # unrolled-CTE oracle re-learns the same table serially
    return textstats.bpe_train(_docs(spark, sf_dir), n_merges=8)


def _q_text_token_count_bpe(spark, sf_dir):
    # real BPE over the real corpus text (both engines run the same
    # sanitize -> spread -> 48-merge replace chain independently); the
    # preview column puts actual merge output, not just counts, in the
    # driver hash
    return textstats.bpe_token_count(_docs(spark, sf_dir))


def _q_dedup_minhash_jaccard(spark, sf_dir):
    return dedup.minhash_jaccard_estimate(_docs(spark, sf_dir))


def _q_ann_srp_multiprobe(spark, sf_dir):
    # Hamming-1 multiprobe: query side expands n_planes+1×, corpus side
    # untouched — recall recovery for points near a hyperplane
    out = similarity.srp_bucket_ann(
        _emb(spark, sf_dir), n_queries=10, k=5, dim=64, multiprobe=True
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _q_emb_neardup_clusters(spark, sf_dir):
    # semantic dedup clustering: CC over the near-dup pair graph;
    # fixed max_iter → unrolled-CTE oracle (CLAUDE.md rule)
    return similarity.neardup_clusters(
        _emb(spark, sf_dir), threshold=0.35, max_iter=4, max_block=50
    )


def _q_emb_neardup(spark, sf_dir):
    # synthetic embeddings are near-orthogonal: 0.35 yields a non-trivial
    # pair set (real corpora would use ~0.95). max_block=50 deliberately
    # BELOW the largest sf0.01 label blocks (52-59 rows) so the driver
    # gate exercises the r5 block-size cap, not just the join
    return similarity.neardup_pairs(
        _emb(spark, sf_dir), threshold=0.35, max_block=50
    )


def _q_media_features(spark, sf_dir):
    # multimodal plumbing gate: binary payloads synthesized from the
    # documents table by ONE expression both engines evaluate; the
    # deterministic columns (n_bytes, sha256, decode_error) are
    # DuckDB-reproducible — the decode feature vector is stub/PIL
    # dependent and intentionally excluded from the oracle compare
    from html5ever_elixir_spark.operators.multimodal import (
        _decode_image_stub,
        extract_media_features,
    )

    media = _docs(spark, sf_dir).selectExpr(
        "doc_id AS media_id",
        "case when doc_id % 2 = 0 then 'image' else 'audio' end AS kind",
        "cast(text as binary) AS payload",
        "named_struct('width', 0, 'height', 0, 'mime', 'text/plain') AS meta",
    )
    # stub decoder pinned: with PIL installed the default decoder would
    # reject these text payloads and flip decode_error non-NULL, breaking
    # the oracle pin — the gate covers the plumbing, not the decode
    return extract_media_features(media, decoder=_decode_image_stub).select(
        "media_id", "kind", "n_bytes", "sha256", "decode_error"
    )


def _q_media_raster_features(spark, sf_dir):
    # the REAL raster-decode path, driver-gated: each doc's text becomes
    # a binary P5 gray image (1×len, pixel bytes = the ASCII codes), the
    # default decoder actually parses the PNM container, and the pooled
    # features are pure integer arithmetic over the bytes — so DuckDB
    # predicts the decode output in SQL (scalar f0..f7 columns; no
    # arrays in driver output per contract)
    from html5ever_elixir_spark.operators.multimodal import (
        extract_media_features,
    )

    media = _docs(spark, sf_dir).where("length(text) > 0").selectExpr(
        "doc_id AS media_id",
        "'image' AS kind",
        "cast('P5 ' || cast(length(text) as string) || ' 1 255\\n' || text"
        " as binary) AS payload",
        "named_struct('width', length(text), 'height', 1,"
        " 'mime', 'image/x-portable-graymap') AS meta",
    )
    out = extract_media_features(media)
    sel = [F.col("media_id"), F.col("decode_error")]
    for d in range(8):
        sel.append(
            F.expr(f"round(element_at(feature, {d + 1}), 6)").alias(f"f{d}")
        )
    return out.select(*sel)


def _q_media_gif_features(spark, sf_dir):
    # the REAL GIF decode path, driver-gated (r5 verdict ask #4): each
    # doc's ASCII text becomes a 1×len GIF whose palette makes decoded
    # luma == the character code (encode→LZW→decode byte-lossless), so
    # DuckDB predicts the pooled features from the text alone. Odd
    # doc_ids are GIF87a, even GIF89a with extension blocks — the driver
    # row exercises the LZW decoder, both version paths, and the
    # extension skip at once.
    from html5ever_elixir_spark.operators.multimodal import (
        docs_to_gifs,
        extract_media_features,
    )

    gifs = docs_to_gifs(_docs(spark, sf_dir).where("length(text) > 0"))
    media = gifs.selectExpr(
        "media_id", "'image' AS kind", "payload",
        "named_struct('width', 0, 'height', 1, 'mime', 'image/gif') AS meta",
    )
    out = extract_media_features(media)
    sel = [F.col("media_id"), F.col("decode_error")]
    for d in range(8):
        sel.append(
            F.expr(f"round(element_at(feature, {d + 1}), 6)").alias(f"f{d}")
        )
    return out.select(*sel)


def _q_media_webp_features(spark, sf_dir):
    # the REAL WebP/VP8L decode path, driver-gated (r6 verdict ask #3):
    # each doc's ASCII text becomes a 1×len lossless WebP whose decoded
    # luma equals the character code (encode→prefix-code→decode
    # byte-lossless), so DuckDB predicts the pooled features from the
    # text alone. Even doc_ids route through the subtract-green
    # transform — the driver row exercises the RIFF walk, both literal
    # paths, and the transform inverse at once.
    from html5ever_elixir_spark.operators.multimodal import (
        docs_to_webps,
        extract_media_features,
    )

    webps = docs_to_webps(_docs(spark, sf_dir).where("length(text) > 0"))
    media = webps.selectExpr(
        "media_id", "'image' AS kind", "payload",
        "named_struct('width', 0, 'height', 1, 'mime', 'image/webp') AS meta",
    )
    out = extract_media_features(media)
    sel = [F.col("media_id"), F.col("decode_error")]
    for d in range(8):
        sel.append(
            F.expr(f"round(element_at(feature, {d + 1}), 6)").alias(f"f{d}")
        )
    return out.select(*sel)


def _q_media_jpeg_roundtrip(spark, sf_dir):
    # the REAL JPEG decode path, driver-gated (r5 verdict ask #3):
    # each doc's text becomes a genuine JFIF stream of DC-only constant
    # blocks (quant all-ones, DC = 8·(v−128) → integer-exact IDCT),
    # every 3rd doc with restart markers, and every 5th doc a
    # PROGRESSIVE (SOF2) stream — DC first/refinement scans + an AC
    # band scan through the multi-scan player (r6). Decode walks
    # markers, canonical Huffman, destuffing, RSTn, successive
    # approximation, and the DC fast path; the block centers
    # reconstruct the text byte-for-byte. Oracle: the text itself plus
    # the synthesized geometry.
    from html5ever_elixir_spark.operators.multimodal import (
        _decode_raster,
        encode_jpeg_gray_blocks,
    )

    def emit(out, did, t) -> int:
        vals = t.encode("utf-8")
        jp = encode_jpeg_gray_blocks(
            vals,
            restart_interval=(
                7 if did is not None and did % 3 == 0 and did % 5 != 0
                else 0
            ),
            progressive=did is not None and did % 5 == 0,
        )
        w, h, px = _decode_raster(jp)
        rt = bytes(px[3 * w + 8 * i + 3] for i in range(len(vals)))
        out["text_rt"].append(rt.decode("utf-8"))
        out["w"].append(w)
        out["h"].append(h)
        return 1

    return map_rows(
        _docs(spark, sf_dir).where("length(text) > 0"),
        [F.col("doc_id").cast("bigint").alias("media_id")], ["doc_id", "text"],
        emit,
        pa.schema([("text_rt", pa.string()), ("w", pa.int64()),
                   ("h", pa.int64())]),
    )


_JPEG_ROUNDTRIP_ORACLE = """
SELECT doc_id AS media_id, text AS text_rt,
       (8 * length(text))::BIGINT AS w, 8::BIGINT AS h
FROM documents WHERE length(text) > 0
"""


def _q_media_wav_features(spark, sf_dir):
    # the REAL RIFF/PCM16 audio decode path, driver-gated (r6): each
    # doc's text becomes a mono WAV whose sample i is (byte_i−128)·256
    # — exactly representable int16 — and the gate compares INTEGER
    # per-window sums of |sample| (the container walk + PCM decode is
    # what's under test; the final float normalization stays
    # pytest-covered, dodging cross-engine float rounding entirely).
    from html5ever_elixir_spark.operators.multimodal import (
        _wav_samples,
        docs_to_wavs,
    )

    def emit(out, p) -> int:
        ss = _wav_samples(bytes(p))
        k = len(ss)
        out["n_samples"].append(k)
        for d in range(8):
            out[f"s{d}"].append(sum(ss[d * k // 8 : (d + 1) * k // 8]))
        return 1

    return map_rows(
        docs_to_wavs(_docs(spark, sf_dir).where("length(text) > 0")),
        ["media_id"], ["payload"], emit,
        pa.schema([(c, pa.int64())
                   for c in ("n_samples", *[f"s{d}" for d in range(8)])]),
    )


def _oracle_media_wav_sql() -> str:
    # DuckDB list slices are 1-based and end-inclusive: python window
    # [i*k//8, (i+1)*k//8) maps to s[(i*k//8)+1 : (i+1)*k//8]
    cols = ", ".join(
        f"coalesce(list_sum(s[(({d} * n) // 8) + 1 : (({d} + 1) * n) // 8]),"
        f" 0)::BIGINT AS s{d}"
        for d in range(8)
    )
    return f"""
WITH b AS (
  SELECT doc_id, length(text) AS n,
         list_transform(range(1, length(text) + 1),
                        i -> abs(ord(substr(text, i, 1)) - 128) * 256) AS s
  FROM documents WHERE length(text) > 0
)
SELECT doc_id AS media_id, n::BIGINT AS n_samples, {cols} FROM b
"""


def _oracle_media_raster_sql() -> str:
    fcols = ", ".join(
        "round(cast(list_sum(list_transform(range(0, len(px)), "
        f"i -> CASE WHEN i % 8 = {d} THEN px[i + 1] ELSE 0 END)) as double) "
        f"/ greatest(list_sum(px), 1), 6) AS f{d}"
        for d in range(8)
    )
    return f"""
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> ord(substr(text, i, 1))) AS px
  FROM documents WHERE length(text) > 0
)
SELECT doc_id AS media_id, cast(NULL as varchar) AS decode_error, {fcols}
FROM b
"""


def _q_media_frame_sample(spark, sf_dir):
    # frame sampling over binary payloads built from documents.text;
    # the text is ASCII at every SF (asserted by the corpus generator's
    # charset), so DuckDB's varchar slicing reproduces the byte split
    from html5ever_elixir_spark.operators.multimodal import sample_frames

    media = _docs(spark, sf_dir).selectExpr(
        "doc_id AS media_id", "cast(text as binary) AS payload"
    )
    return sample_frames(media, n_frames=4)


def _q_pdf_extract_text(spark, sf_dir):
    # PDF path roundtrip: deterministic Flate-compressed PDFs built from
    # documents.text (8-word line wrap), extracted back by the
    # from-scratch PDF reader; oracle reproduces the wrap in pure SQL.
    # Every 4th doc is encrypted (standard security handler, empty
    # user password), cycling RC4 R3/128 (r5), AES-128 V4/R4 /AESV2
    # (r6) and AES-256 V5/R6 /AESV3 (r6); every doc_id % 3 == 1 routes
    # through a Type0 font with an EMBEDDED CID CMap (mixed 1/2-byte
    # codespace, r7); every doc_id % 5 == 2 through a Type0 font with a
    # PREDEFINED /Uni*-UCS2-H CMap name — no embedded CMap, no
    # ToUnicode, cycling the 4 public Adobe families (r8) — the
    # roundtrip text must be IDENTICAL in every case, so the unchanged
    # oracle gates all decrypt AND font paths
    from html5ever_elixir_spark.operators.pdf import docs_to_pdfs, pdf_extract

    pdfs = docs_to_pdfs(
        _docs(spark, sf_dir), encrypt_every=4, cid_every=3, ucs2_every=5
    )
    return pdf_extract(pdfs).select("doc_id", "error", "text", "n_pages")


from html5ever_elixir_spark.functions.url import oracle_filter_blocked_sql

_URL_BLOCKLIST_ORACLE = oracle_filter_blocked_sql(
    pages_sql=(
        "SELECT doc_id, 'https://' || "
        "(CASE WHEN (doc_id % 11) = 0 THEN 'deep.a.b.c.' ELSE '' END) || "
        "(CASE (doc_id % 3) WHEN 0 THEN '' WHEN 1 THEN 'sub1.' "
        "ELSE 'sub2.' END) || 'host' || (doc_id % 50)::VARCHAR || "
        "'.example/p' || doc_id::VARCHAR AS url FROM documents"
    ),
    blocked_values=["host7.example", "sub1.host11.example"],
    select="doc_id, url",
)


def _q_sample_split(spark, sf_dir):
    # deterministic train/val/test assignment (hash-gated, resumable)
    from html5ever_elixir_spark.operators.sampling import split_assign

    return split_assign(_docs(spark, sf_dir)).select("doc_id", "split")


def _q_url_blocklist(spark, sf_dir):
    # UT1-style domain blocklist with parent-domain semantics: urls get
    # deterministic subdomains so BOTH match depths are exercised
    # (host7.example blocks sub*.host7.example too; sub1.host11.example
    # blocks only itself). Every 11th doc gets a 4-label-deeper host
    # (7 labels > max_labels=5), so the gate exercises the tail-anchored
    # suffix window (ADVICE r5 high): deep.a.b.c.sub2.host7.example must
    # still be blocked by the 2-label parent host7.example.
    from html5ever_elixir_spark.functions.url import filter_blocked_hosts

    pages = _docs(spark, sf_dir).selectExpr(
        "doc_id",
        "concat('https://', "
        "case when cast(doc_id % 11 as int) = 0 then 'deep.a.b.c.' "
        "else '' end, "
        "case cast(doc_id % 3 as int) when 0 then '' when 1 then 'sub1.' "
        "else 'sub2.' end, "
        "'host', cast(doc_id % 50 as string), '.example/p', "
        "cast(doc_id as string)) AS url",
    )
    blocked = spark.createDataFrame(
        [("host7.example",), ("sub1.host11.example",)], "domain string"
    )
    return filter_blocked_hosts(pages, blocked).select("doc_id", "url")


_NFC_INJECT = " e\u0301o\u0308 A\u030Angstro\u0308m"


def _q_text_nfc(spark, sf_dir):
    # NFC normalization gate: the parquet text is ASCII, so combining
    # sequences are injected via API literal (NOT SQL — Spark drops
    # unknown escapes) identically to the oracle's chr() injection;
    # the oracle is DuckDB's utf8proc nfc_normalize — an INDEPENDENT
    # implementation, making this a differential gate
    from html5ever_elixir_spark.operators.textstats import nfc_normalize_docs

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_INJECT)).alias("text")
    )
    return nfc_normalize_docs(docs)


def _q_text_tfidf(spark, sf_dir):
    from html5ever_elixir_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _q_warc_extract(spark, sf_dir):
    # end-to-end crawl-container gate: pages → WARC files (20 blobs,
    # ~25 records each, half of them per-record-gzip like Common Crawl;
    # half ALSO cycle raw HTTP transfer shapes — Content-Encoding: gzip,
    # Transfer-Encoding: chunked, chunked-over-gzip (r6)) → WARC reader
    # → HTML parse + extraction. Roundtrip losslessness means the
    # ORACLE IS THE SAME SQL as html_extract_text — a reader bug
    # anywhere (member inflation, Content-Length walk, HTTP payload
    # split, dechunk, entity decompress) breaks the value hash
    import pandas as pd

    from html5ever_elixir_spark.sources.warc import make_warc, warc_to_pages

    pages = _pages(spark, sf_dir).selectExpr(
        "url",
        "replace(cast(warc_ts as string), ' ', 'T') || 'Z' AS ts",
        "cast(html as binary) AS html",
        "cast(doc_id % 20 as bigint) AS grp",
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        recs = [
            (u, t, bytes(h))
            for u, t, h in zip(pdf["url"], pdf["ts"], pdf["html"])
        ]
        grp = int(pdf["grp"].iloc[0])
        return pd.DataFrame(
            {
                "warc_id": [grp],
                "content": [make_warc(recs, gzip_records=bool(grp % 2),
                                      http_encode=bool(grp % 4 < 2))],
            }
        )

    warcs = pages.groupBy("grp").applyInPandas(
        build, "warc_id bigint, content binary"
    )
    return parse_and_extract(warc_to_pages(warcs)).select("url", "text")


def _q_warc_write_wet(spark, sf_dir):
    # the conversion-SINK roundtrip completing the container story:
    # pages → REAL parse/extraction → WET blobs (Common Crawl
    # extracted-text .wet layout, half per-record-gzip) via make_wet →
    # wet_to_text reader → text rows. Byte parity with the pinned
    # extraction oracle gates writer + reader + extraction as one
    import pandas as pd

    from html5ever_elixir_spark.sources.warc import make_wet, wet_to_text

    pages = _pages(spark, sf_dir)
    extracted = parse_and_extract(pages.select("url", "html")).select(
        "url", "text"
    )
    meta = pages.selectExpr(
        "url",
        "replace(cast(warc_ts as string), ' ', 'T') || 'Z' AS ts",
        "cast(doc_id % 16 as bigint) AS grp",
    )
    rows = meta.join(extracted, "url")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        recs = list(zip(pdf["url"], pdf["ts"], pdf["text"]))
        grp = int(pdf["grp"].iloc[0])
        return pd.DataFrame(
            {
                "wet_id": [grp],
                "content": [make_wet(recs, gzip_records=bool(grp % 2))],
            }
        )

    wets = rows.groupBy("grp").applyInPandas(
        build, "wet_id bigint, content binary"
    )
    return wet_to_text(wets).select("url", "text")


# section-chunking gate spec — the SINGLE source of truth both engines
# derive from: per doc_id % 4 class, the page body as (kind, k) events
# ('h<level>' emits <hN>H{d}.{k}</hN>, 'p' emits <p>P{d}.{k}</p>) and
# the expected section rows (section_idx, heading_path template,
# section_text template, n_paragraphs) with {d} = doc_id
_SECTION_CLASSES = {
    0: {
        "events": [("p", "0"), ("h1", "1"), ("p", "1"), ("h2", "2"),
                   ("p", "2"), ("h3", "3"), ("h2", "4"), ("p", "4a"),
                   ("p", "4b")],
        "rows": [
            (0, "", "P{d}.0", 1),
            (1, "H{d}.1", "P{d}.1", 1),
            (2, "H{d}.1 > H{d}.2", "P{d}.2", 1),
            (3, "H{d}.1 > H{d}.2 > H{d}.3", "", 0),
            (4, "H{d}.1 > H{d}.4", "P{d}.4a P{d}.4b", 2),
        ],
    },
    1: {
        "events": [("h1", "1"), ("p", "1"), ("h2", "2"), ("p", "2")],
        "rows": [
            (1, "H{d}.1", "P{d}.1", 1),
            (2, "H{d}.1 > H{d}.2", "P{d}.2", 1),
        ],
    },
    2: {
        "events": [("h1", "1"), ("h3", "2"), ("p", "2"), ("h2", "3"),
                   ("p", "3")],
        "rows": [
            (1, "H{d}.1", "", 0),
            (2, "H{d}.1 > H{d}.2", "P{d}.2", 1),
            (3, "H{d}.1 > H{d}.3", "P{d}.3", 1),
        ],
    },
    3: {
        "events": [("h2", "1"), ("p", "1"), ("h1", "2"), ("h3", "3"),
                   ("p", "3")],
        "rows": [
            (1, "H{d}.1", "P{d}.1", 1),
            (2, "H{d}.2", "", 0),
            (3, "H{d}.2 > H{d}.3", "P{d}.3", 1),
        ],
    },
}


def _q_html_sections(spark, sf_dir):
    # section-scoped chunking through the REAL parser: heading-path
    # context + per-section paragraph text, four structure classes
    # (preamble, empty section, skipped level, h2-opens-the-page,
    # multi-paragraph section) — rows predicted from _SECTION_CLASSES
    from html5ever_elixir_spark.operators.outline import section_chunks

    did = "cast(doc_id as string)"

    def ev_sql(kind, k):
        if kind == "p":
            return f"concat('<p>P', {did}, '.{k}</p>')"
        lvl = kind[1]
        return (
            f"concat('<h{lvl}>H', {did}, '.{k}</h{lvl}>')"
        )

    branches = []
    for c, spec in _SECTION_CLASSES.items():
        body = ", ".join(ev_sql(kd, k) for kd, k in spec["events"])
        branches.append(f"WHEN {c} THEN concat({body})")
    html = (
        "concat('<html><body>', CASE cast(doc_id % 4 as int) "
        + " ".join(branches)
        + " END, '</body></html>')"
    )
    pages = _docs(spark, sf_dir).selectExpr(
        "concat('doc://', cast(doc_id as string)) AS url",
        html + " AS html",
    )
    return section_chunks(pages=pages)


def _oracle_html_sections_sql() -> str:
    def tpl(t: str) -> str:
        # '{d}' template -> SQL concat with the doc id
        parts = t.split("{d}")
        pieces = []
        for i, p in enumerate(parts):
            if i:
                pieces.append("cast(doc_id as varchar)")
            if p:
                pieces.append("'" + p + "'")
        return " || ".join(pieces) if pieces else "''"

    selects = []
    for c, spec in _SECTION_CLASSES.items():
        for idx, path, text, np_ in spec["rows"]:
            selects.append(
                f"SELECT 'doc://' || cast(doc_id as varchar) AS url, "
                f"{idx}::BIGINT AS section_idx, {tpl(path)} AS heading_path, "
                f"{tpl(text)} AS section_text, {np_}::BIGINT AS n_paragraphs "
                f"FROM documents WHERE doc_id % 4 = {c}"
            )
    return " UNION ALL ".join(selects)


def _q_crawl_delta(spark, sf_dir):
    # incremental-recrawl gate: snapshot v2 derives from v1 with
    # doc_id % 13 == 2 dropped (gone), % 7 == 1 text-modified
    # (changed), and a fresh url per % 11 == 3 doc (new) — the delta
    # statuses are pure doc_id arithmetic for the oracle while Spark
    # runs the real fingerprint diff
    from html5ever_elixir_spark.operators.dedup import snapshot_delta

    docs = _docs(spark, sf_dir)
    v1 = docs.selectExpr(
        "concat('doc://', cast(doc_id as string)) AS url", "text"
    )
    v2 = docs.where("doc_id % 13 <> 2").selectExpr(
        "concat('doc://', cast(doc_id as string)) AS url",
        "CASE WHEN doc_id % 7 = 1 THEN concat(text, ' v2') "
        "ELSE text END AS text",
    ).unionByName(
        docs.where("doc_id % 11 = 3").selectExpr(
            "concat('doc://n', cast(doc_id as string)) AS url",
            "concat('fresh ', cast(doc_id as string)) AS text",
        )
    )
    return snapshot_delta(v1, v2)


_CRAWL_DELTA_ORACLE = """
SELECT 'doc://' || cast(doc_id as varchar) AS url,
       CASE WHEN doc_id % 13 = 2 THEN 'gone'
            WHEN doc_id % 7 = 1 THEN 'changed'
            ELSE 'unchanged' END AS status,
       md5(text) AS fp_old,
       CASE WHEN doc_id % 13 = 2 THEN NULL
            WHEN doc_id % 7 = 1 THEN md5(text || ' v2')
            ELSE md5(text) END AS fp_new
FROM documents
UNION ALL
SELECT 'doc://n' || cast(doc_id as varchar), 'new', NULL,
       md5('fresh ' || cast(doc_id as varchar))
FROM documents WHERE doc_id % 11 = 3
"""


def _q_graph_host_rank(spark, sf_dir):
    # the documented 100 TB PageRank fallback made real (graph.py
    # overflow-budget note: beyond ~1e8 nodes, rank at HOST granularity
    # — ~1e7 nodes for the whole web): collapse doc edges to distinct
    # host edges, run the SAME fixed-point operator over the host graph
    docs = _docs(spark, sf_dir).select("doc_id")
    fanout = docs.selectExpr("doc_id AS src", "explode(array(1L, 2L)) AS k")
    doc_edges = (
        fanout.selectExpr("src", "src + k AS dst")
        .join(docs.selectExpr("doc_id AS dst"), "dst", "semi")
        .select("src", "dst")
    )
    host_edges = doc_edges.selectExpr(
        "src % 50 AS src", "dst % 50 AS dst"
    ).distinct()
    hosts = docs.selectExpr("doc_id % 50 AS node").distinct()
    return graph.pagerank(host_edges, hosts, iters=3)


def _oracle_graph_host_rank_sql() -> str:
    host_cte = """
nodes AS (SELECT DISTINCT (doc_id % 50)::BIGINT AS node FROM documents),
edges AS (
  SELECT DISTINCT (d.doc_id % 50)::BIGINT AS src,
                  ((d.doc_id + t.k) % 50)::BIGINT AS dst
  FROM documents d CROSS JOIN (VALUES (1), (2)) t(k)
  JOIN documents e ON e.doc_id = d.doc_id + t.k
),
outdeg AS (SELECT src, count(*)::BIGINT AS od FROM edges GROUP BY src),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes)"""
    return graph.oracle_pagerank_sql(iters=3, graph_cte=host_cte)


def _q_graph_anchor_stats(spark, sf_dir):
    # per-target anchor-text aggregation over REAL parsed anchors: each
    # doc links forward (+1 with anchor a{id%3}, +2 with b{id%2}) and
    # back to its block-head hub ('hub', skipped for the head itself),
    # so hubs accumulate ~11 in-links and 'hub' must win the argmax;
    # the oracle predicts the whole edge multiset from doc_id arithmetic
    from html5ever_elixir_spark.operators.graph import (
        anchor_stats,
        link_edges,
    )

    pages = _docs(spark, sf_dir).selectExpr(
        "concat('https://h.example/page', cast(doc_id as string)) AS url",
        """concat('<html><body>',
           '<a href="/p/', cast(doc_id + 1 as string), '">a',
           cast(doc_id % 3 as string), '</a>',
           '<a href="/p/', cast(doc_id + 2 as string), '">b',
           cast(doc_id % 2 as string), '</a>',
           CASE WHEN doc_id % 10 <> 0 THEN concat(
             '<a href="/p/', cast(doc_id - doc_id % 10 as string),
             '">hub</a>') ELSE '' END,
           '</body></html>') AS html""",
    )
    return anchor_stats(link_edges(pages=pages))


_ANCHOR_STATS_ORACLE = """
WITH e AS (
  SELECT doc_id + 1 AS dst, 'a' || cast(doc_id % 3 as varchar) AS anchor
  FROM documents
  UNION ALL
  SELECT doc_id + 2, 'b' || cast(doc_id % 2 as varchar) FROM documents
  UNION ALL
  SELECT doc_id - doc_id % 10, 'hub' FROM documents WHERE doc_id % 10 <> 0
),
pa AS (
  SELECT dst, anchor, count(*)::BIGINT AS cnt FROM e GROUP BY dst, anchor
),
mx AS (SELECT dst, max(cnt) AS mc FROM pa GROUP BY dst)
SELECT pa.dst::BIGINT AS dst, sum(pa.cnt)::BIGINT AS n_inlinks,
       count(*)::BIGINT AS n_distinct_anchors,
       min(CASE WHEN pa.cnt = mx.mc THEN pa.anchor END) AS top_anchor,
       max(pa.cnt)::BIGINT AS top_count
FROM pa JOIN mx ON pa.dst = mx.dst
GROUP BY pa.dst
"""


def _q_text_fix_mojibake(spark, sf_dir):
    # the ftfy-style crawl-cleaning gate: doc_id % 3 == 0 docs carry a
    # singly-encoded mojibake marker (UTF-8 bytes read as cp1252), the
    # % 9 == 0 subset a DOUBLY-encoded one; repair must peel exactly
    # 1 / 2 layers and leave clean docs untouched. The mojibake
    # constants are computed in Python and injected via API literals
    # (the CLAUDE.md chr() rule); the oracle predicts the repaired
    # text directly
    from html5ever_elixir_spark.operators.textstats import fix_mojibake

    def whatwg_cp1252(s: str) -> str:
        # WHATWG-complete mojibake layer: Python's cp1252 codec rejects
        # the five C1 holes (0x81/8D/8F/90/9D) that real crawls carry
        return "".join(
            chr(b) if b in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
            else bytes([b]).decode("cp1252")
            for b in s.encode("utf-8")
        )

    marker = "—“é"
    moji1 = whatwg_cp1252(marker)
    moji2 = whatwg_cp1252(moji1)
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(" " + moji2)),
        )
        .when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + moji1)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return fix_mojibake(docs)


_MOJIBAKE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN text || ' —“é'
            ELSE text END AS text_fixed,
       (CASE WHEN doc_id % 9 = 0 THEN 2
             WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_passes
FROM documents
"""


def _q_crawl_frontier(spark, sf_dir):
    # the crawl loop closed as one composition: fixed-point PageRank
    # priorities × RFC 9309 robots politeness × a per-host fetch budget
    # — every stage is an individually-gated operator, the oracle
    # chains their unrolled SQL (pagerank CTEs + robots argmax + the
    # budget window)
    from html5ever_elixir_spark.functions import host_of
    from html5ever_elixir_spark.functions.robots import (
        apply_robots,
        path_of,
        robots_rules,
    )
    from html5ever_elixir_spark.operators.graph import crawl_frontier

    docs = _docs(spark, sf_dir).select("doc_id")
    fanout = docs.selectExpr("doc_id AS src", "explode(array(1L, 2L)) AS k")
    edges = (
        fanout.selectExpr("src", "src + k AS dst")
        .join(docs.selectExpr("doc_id AS dst"), "dst", "semi")
        .select("src", "dst")
    )
    ranks = graph.pagerank(edges, docs.selectExpr("doc_id AS node"),
                           iters=3)
    urls = (
        _pages(spark, sf_dir)
        .select("doc_id", "url")
        .withColumn("host", host_of(F.col("url")))
        .withColumn("path", path_of(F.col("url")))
    )
    robots = (
        _docs(spark, sf_dir)
        .selectExpr("doc_id % 50 AS h")
        .distinct()
        .selectExpr(
            "'host' || cast(h as string) || '.example' AS host",
            f"{_ROBOTS_BODY_EXPR} AS robots_txt",
        )
    )
    allowed = apply_robots(urls, robots_rules(robots)).select(
        "doc_id", "url", "host", "allowed"
    )
    return crawl_frontier(ranks, allowed, per_host=5)


def _oracle_crawl_frontier_sql() -> str:
    return f"""
WITH au AS ({_ROBOTS_ORACLE}),
pr AS ({graph.oracle_pagerank_sql(iters=3)})
SELECT doc_id, url, rank, host_rank FROM (
  SELECT au.doc_id, au.url, pr.rank,
         (row_number() OVER (PARTITION BY au.doc_id % 50
                             ORDER BY pr.rank DESC, au.doc_id))::BIGINT
           AS host_rank
  FROM au JOIN pr ON pr.node = au.doc_id
  WHERE au.allowed
) WHERE host_rank <= 5
"""


def _q_html_extract_cp1252(spark, sf_dir):
    # legacy-encoding crawl gate: pages html gets " —“é”" injected
    # before </h1> and is re-encoded as REAL windows-1252 bytes (0x97,
    # 0x93, 0xE9, 0x94 — invalid UTF-8, no meta declaration), so
    # encoding="sniff" must take the cp1252 fallback and decode to
    # codepoint-identical text; the oracle injects the same marker
    # after the title line (first-newline regexp_replace)
    pages = map_rows(
        _pages(spark, sf_dir), ["url"], ["html"],
        *_one_column(
            "html",
            lambda h: h.replace("</h1>", " —“é”</h1>").encode("cp1252"),
            pa.binary(),
        ),
    )
    return parse_and_extract(pages, encoding="sniff").select("url", "text")


# legacy multi-byte charset mix for the sniff gate: doc_id % 4 picks
# (declared label, python codec, h1 marker). Markers are chosen to be
# codepoint-exact roundtrips through the stdlib codec.
_CHARSET_MIX = [
    ("shift_jis", "cp932", " こんにちは"),
    ("gbk", "gb18030", " 你好世界"),
    ("euc-kr", "cp949", " 안녕하세요"),
    ("big5", "big5hkscs", " 中文測試"),
]


def _q_html_extract_charsets(spark, sf_dir):
    # multi-byte-encoding crawl gate (r7): each page declares a legacy
    # charset via <meta charset=…>, gets a CJK/Hangul marker injected
    # before </h1>, and is re-encoded as REAL shift_jis / gbk / euc-kr
    # / big5 bytes; encoding="sniff" must honor the declared label and
    # decode to codepoint-identical text. The oracle injects the same
    # marker after the title line keyed on doc_id % 4.
    def encode(did, h):
        label, codec, marker = _CHARSET_MIX[did % 4]
        return (
            h.replace("<head>", f"<head><meta charset={label}>")
            .replace("</h1>", marker + "</h1>")
            .encode(codec)
        )

    pages = map_rows(
        _pages(spark, sf_dir), ["url"], ["doc_id", "html"],
        *_one_column("html", encode, pa.binary()),
    )
    return parse_and_extract(pages, encoding="sniff").select("url", "text")


def _q_text_lm_score(spark, sf_dir):
    # CCNet-style LM quality score: the doc_id%10 subset plays the
    # trusted reference corpus, the rest get scored against it
    from html5ever_elixir_spark.operators.textstats import lm_score

    docs = _docs(spark, sf_dir)
    return lm_score(docs.where("doc_id % 10 <> 0"),
                    docs.where("doc_id % 10 = 0"))


def _q_text_lm_buckets(spark, sf_dir):
    # CCNet head/middle/tail split (r6): ntile the LM score into 3
    # buckets PER LANGUAGE (the frame CCNet shards by — which is also
    # what keeps the ntile window scalable), tie-broken on doc_id
    from html5ever_elixir_spark.operators.textstats import lm_buckets

    docs = _docs(spark, sf_dir)
    return lm_buckets(docs.where("doc_id % 10 <> 0"),
                      docs.where("doc_id % 10 = 0"))


def _q_token_count(spark, sf_dir):
    out = textstats.token_count(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


def _q_quality(spark, sf_dir):
    out = textstats.quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_words").cast("bigint").alias("n_words"),
        "mean_word_len", "stopword_ratio", "alpha_ratio",
    )


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_docs(spark, sf_dir))


def _q_pricing(spark, sf_dir):
    return relational.pricing_summary(relational.load(spark, sf_dir, "lineitem"))


def _q_revenue(spark, sf_dir):
    return relational.revenue_by_nation(
        relational.load(spark, sf_dir, "orders"),
        relational.load(spark, sf_dir, "customer"),
        relational.load(spark, sf_dir, "nation"),
    )


def _q_supplier_volume(spark, sf_dir):
    return relational.supplier_volume_by_nation(
        relational.load(spark, sf_dir, "lineitem"),
        relational.load(spark, sf_dir, "supplier"),
        relational.load(spark, sf_dir, "nation"),
        relational.load(spark, sf_dir, "region"),
        relational.load(spark, sf_dir, "part"),
    )


def _q_latest_event(spark, sf_dir):
    return relational.latest_event_per_user(_events(spark, sf_dir))


def _q_topk_docs(spark, sf_dir):
    return relational.topk_largest_docs(_docs(spark, sf_dir), k=100)


def _q_filter_project(spark, sf_dir):
    return relational.filter_project_docs(_docs(spark, sf_dir))


def _q_event_stats(spark, sf_dir):
    return relational.event_type_stats(_events(spark, sf_dir))


# --- round-7: link graph + PageRank + paragraph dedup --------------------

def _q_graph_link_edges(spark, sf_dir):
    # REAL parser extraction of the nav-anchor edge set (sources/
    # pages.py template: /p/{d+1} 'next', /p/{d+2} 'more'), semi-joined
    # to the corpus node set (dangling targets past the last doc drop,
    # mirrored by the oracle's inner join on the target doc)
    edges = graph.link_edges(pages=_pages(spark, sf_dir))
    in_corpus = _docs(spark, sf_dir).selectExpr("doc_id AS dst")
    return edges.join(in_corpus, "dst", "semi").select("src", "dst", "anchor")


def _q_graph_pagerank(spark, sf_dir):
    # fixed-point bigint PageRank over the template link graph; the edge
    # set is built relationally here (same SQL both engines — the
    # parser-extraction path is gated separately by graph_link_edges; a
    # production run would persist link_edges() output and feed it in)
    docs = _docs(spark, sf_dir).select("doc_id")
    fanout = docs.selectExpr("doc_id AS src", "explode(array(1L, 2L)) AS k")
    edges = (
        fanout.selectExpr("src", "src + k AS dst")
        .join(docs.selectExpr("doc_id AS dst"), "dst", "semi")
        .select("src", "dst")
    )
    nodes = docs.selectExpr("doc_id AS node")
    return graph.pagerank(edges, nodes, iters=3)


# shared multi-paragraph synthesis for the paragraph-dedup gate: one
# universal paragraph (kept only at its global first occurrence, doc 0),
# a 7-way shared promo paragraph (first kept in docs 0-6), the doc's own
# unique text, and a unique tail
_PARA_EXPR = (
    "'COMMON INTRO' || chr(10) || chr(10) || text || chr(10) || chr(10) || "
    "'PROMO ' || cast(doc_id % 7 as string) || chr(10) || chr(10) || "
    "'tail ' || cast(doc_id as string)"
)


def _q_dedup_paragraphs(spark, sf_dir):
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_PARA_EXPR} AS text"
    )
    return dedup.paragraph_dedup(docs)


# round-8: long-duplicate-span corpus — a 20-token intro shared by every
# doc, the doc's own sanitized tokens, a 17-token promo block shared by
# the doc_id%7 group, a unique tail token, and (doc_id%5=0) the intro
# REPEATED at the end (within-doc duplication must count). Both engines
# build the identical token stream; Spark finds the duplicated >=15-token
# spans with the distributed gram-hash plan, DuckDB with windows.
_LDS_L = 15


def _lds_corpus_expr(dialect: str) -> str:
    if dialect == "spark":
        clean = (
            "array_join(filter(split(regexp_replace(text, "
            "'[^A-Za-z0-9 ]', ' '), ' '), w -> w <> ''), ' ')"
        )
        intro = (
            f"array_join(transform(sequence(1, {_LDS_L + 5}), "
            "i -> concat('intro', cast(i as string))), ' ')"
        )
        promo = (
            f"array_join(transform(sequence(1, {_LDS_L + 2}), "
            "i -> concat('promo', cast(doc_id % 7 as string), 'x', "
            "cast(i as string))), ' ')"
        )
    else:
        clean = (
            "array_to_string(list_filter(str_split(regexp_replace(text, "
            "'[^A-Za-z0-9 ]', ' ', 'g'), ' '), w -> w <> ''), ' ')"
        )
        intro = (
            f"array_to_string(list_transform(range(1, {_LDS_L + 6}), "
            "i -> 'intro' || cast(i as string)), ' ')"
        )
        promo = (
            f"array_to_string(list_transform(range(1, {_LDS_L + 3}), "
            "i -> 'promo' || cast(doc_id % 7 as string) || 'x' || "
            "cast(i as string)), ' ')"
        )
    return (
        f"{intro} || ' ' || {clean} || ' ' || {promo} || ' tail' || "
        f"cast(doc_id as string) || "
        f"(case when doc_id % 5 = 0 then ' ' || {intro} else '' end)"
    )


def _q_dedup_long_spans(spark, sf_dir):
    docs = _docs(spark, sf_dir).selectExpr(
        "doc_id", f"{_lds_corpus_expr('spark')} AS text"
    )
    return dedup.long_dup_spans(docs, min_tokens=_LDS_L)


# robots.txt bodies synthesized per host (h = doc_id % 50, the corpus
# host scheme): h%4=0 exercises longest-match + allow-override; h%4=1
# exercises agent-group selection (BadBot group must be ignored),
# case-insensitive directives, and an unknown directive; h%4=2 the
# empty-Disallow no-rule case; h%4=3 comment stripping. The REAL parser
# (functions/robots.py) reads these; the oracle predicts the resulting
# rule table directly from h.
_ROBOTS_BODY_EXPR = (
    "case cast(h % 4 as int) "
    "when 0 then '# crawl policy' || chr(10) || 'User-agent: *' || "
    "chr(10) || 'Disallow: /page' || chr(10) || 'Allow: /page2' "
    "when 1 then 'User-agent: BadBot' || chr(10) || 'Disallow: /' || "
    "chr(10) || chr(10) || 'user-agent: *' || chr(10) || "
    "'disallow: /' || chr(10) || 'allow: /pag' || chr(10) || "
    "'Crawl-delay: 2' "
    "when 2 then 'User-agent: *' || chr(10) || 'Disallow:' "
    "else 'User-agent: *' || chr(10) || "
    "'Disallow: /page9 # trailing comment' end"
)


def _q_url_robots_filter(spark, sf_dir):
    from html5ever_elixir_spark.functions import host_of
    from html5ever_elixir_spark.functions.robots import (
        apply_robots,
        path_of,
        robots_rules,
    )

    urls = (
        _pages(spark, sf_dir)
        .select("doc_id", "url")
        .withColumn("host", host_of(F.col("url")))
        .withColumn("path", path_of(F.col("url")))
    )
    robots = (
        _docs(spark, sf_dir)
        .selectExpr("doc_id % 50 AS h")
        .distinct()
        .selectExpr(
            "'host' || cast(h as string) || '.example' AS host",
            f"{_ROBOTS_BODY_EXPR} AS robots_txt",
        )
    )
    return apply_robots(urls, robots_rules(robots)).select(
        "doc_id", "url", "allowed", "match_len"
    )


_ROBOTS_ORACLE = """
WITH hosts AS (SELECT DISTINCT doc_id % 50 AS h FROM documents),
rules AS (
  SELECT h, false AS allow, '/page' AS prefix FROM hosts WHERE h % 4 = 0
  UNION ALL SELECT h, true, '/page2' FROM hosts WHERE h % 4 = 0
  UNION ALL SELECT h, false, '/' FROM hosts WHERE h % 4 = 1
  UNION ALL SELECT h, true, '/pag' FROM hosts WHERE h % 4 = 1
  UNION ALL SELECT h, false, '/page9' FROM hosts WHERE h % 4 = 3
),
urls AS (
  SELECT doc_id,
         'https://host' || cast(doc_id % 50 as string) || '.example/page'
           || cast(doc_id as string) AS url,
         doc_id % 50 AS h,
         '/page' || cast(doc_id as string) AS path
  FROM documents
),
m AS (
  SELECT u.doc_id,
         max(2 * length(r.prefix)
             + CASE WHEN r.allow THEN 1 ELSE 0 END) AS s
  FROM urls u
  JOIN rules r ON u.h = r.h AND starts_with(u.path, r.prefix)
  GROUP BY u.doc_id
)
SELECT u.doc_id, u.url,
       coalesce(m.s % 2 = 1, true) AS allowed,
       coalesce(m.s // 2, 0)::BIGINT AS match_len
FROM urls u LEFT JOIN m ON u.doc_id = m.doc_id
"""


# metadata-rich head synthesized per doc: title with an entity (decode
# gate), d%2 meta Description (capital D = case-insensitive name match;
# d%6 adds a later duplicate — first-wins gate), d%3 og:title, d%4
# canonical inside a multi-token rel, d%5 JSON-LD with an uppercase
# type attr, html lang varying on d%7.  The REAL parser extracts; the
# oracle predicts every field directly from d.
_META_HTML_EXPR = (
    "'<!doctype html><html lang=\"l' || cast(d % 7 as string) || "
    "'\"><head><title>Doc &amp; ' || cast(d as string) || '</title>' || "
    "case when d % 2 = 0 then '<meta name=\"Description\" "
    "content=\"desc ' || cast(d as string) || '\">' else '' end || "
    "case when d % 6 = 0 then '<meta name=\"description\" "
    "content=\"dup\">' else '' end || "
    "case when d % 3 = 0 then '<meta property=\"og:title\" "
    "content=\"OG ' || cast(d as string) || '\">' else '' end || "
    "case when d % 4 = 0 then '<link rel=\"other canonical\" "
    "href=\"https://c.example/' || cast(d as string) || '\">' "
    "else '' end || "
    "case when d % 5 = 0 then "
    "'<script type=\"application/LD+JSON\">{\"@type\":\"Article\","
    "\"n\":\"x' || cast(d as string) || '\"}</script>' else '' end || "
    "'</head><body><p>' || t || '</p></body></html>'"
)


def _q_html_page_metadata(spark, sf_dir):
    from html5ever_elixir_spark.operators.metadata import page_metadata

    pages = (
        _docs(spark, sf_dir)
        .selectExpr("doc_id AS d", "text AS t")
        .selectExpr(
            "'https://m.example/page' || cast(d as string) AS url",
            f"{_META_HTML_EXPR} AS html",
        )
    )
    return page_metadata(pages).selectExpr(
        "cast(regexp_extract(url, 'page([0-9]+)$', 1) as bigint) AS doc_id",
        "title",
        "description",
        "og_title",
        "canonical",
        "jsonld_type",
        "html_lang",
    )


_META_ORACLE = """
SELECT doc_id,
       'Doc & ' || cast(doc_id as string) AS title,
       CASE WHEN doc_id % 2 = 0
            THEN 'desc ' || cast(doc_id as string) END AS description,
       CASE WHEN doc_id % 3 = 0
            THEN 'OG ' || cast(doc_id as string) END AS og_title,
       CASE WHEN doc_id % 4 = 0
            THEN 'https://c.example/' || cast(doc_id as string)
            END AS canonical,
       CASE WHEN doc_id % 5 = 0 THEN 'Article' END AS jsonld_type,
       'l' || cast(doc_id % 7 as string) AS html_lang
FROM documents
"""


# CSS-selector gate over the standard template corpus: each count is
# predictable from d (template in sources/pages.py).  c_adj proves the
# matcher skips the d%3 comment between <h1> and the div when testing
# `+` adjacency; c_nth2/c_notfirst hit the d%5 second paragraph.
_SELECT_GATE = {
    "c_content_p": "div.content > p",
    "c_nav_links": 'div.nav a[href^="/p/"]',
    "c_adj": "h1 + div",
    "c_nth2": "div.content > p:nth-child(2)",
    "c_body_children": "body > *",
    "c_sib": "div.content ~ footer",
    "c_notfirst": "div.content p:not(:first-child)",
    "c_miss": "#missing",
}


def _q_html_css_select(spark, sf_dir):
    from html5ever_elixir_spark.operators.select import select_counts

    return select_counts(_pages(spark, sf_dir), _SELECT_GATE).selectExpr(
        "cast(regexp_extract(url, 'page([0-9]+)$', 1) as bigint) AS doc_id",
        *_SELECT_GATE,
    )


_SELECT_ORACLE = """
SELECT doc_id,
       cast(1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END as bigint)
         AS c_content_p,
       cast(2 as bigint) AS c_nav_links,
       cast(1 as bigint) AS c_adj,
       cast(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END as bigint)
         AS c_nth2,
       cast(4 as bigint) AS c_body_children,
       cast(1 as bigint) AS c_sib,
       cast(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END as bigint)
         AS c_notfirst,
       cast(0 as bigint) AS c_miss
FROM documents
"""


def _q_html_markdown(spark, sf_dir):
    pages = _docs(spark, sf_dir).selectExpr(
        "doc_id", markdown.docs_to_md_html_expr() + " AS html"
    )
    return markdown.to_markdown(pages, id_col="doc_id").select(
        "doc_id", "markdown"
    )


def _q_html_table_grid(spark, sf_dir):
    # one gate, both numbering schemes: col_idx = plain child index
    # (extract_table_cells semantics), grid_col = §4.9.12 slot after
    # colspan/rowspan occupancy — the span-rich corpus makes them
    # diverge (row 4's only cell: col_idx 1, grid_col 2)
    pages = _docs(spark, sf_dir).selectExpr(
        "doc_id", tables.docs_to_grid_html_expr() + " AS html"
    )
    return tables.extract_table_grid(pages, id_col="doc_id").select(
        "doc_id", "table_idx", "grid_row", "col_idx", "grid_col",
        "rowspan", "colspan", "is_header", "cell_text"
    )


def _q_media_dhash_pairs(spark, sf_dir):
    # image near-dup through the REAL raster decode path: each doc's
    # text head becomes an exact-grid 9x8 P5 image (grid cells == the
    # pixels, so DuckDB replays the 64-bit dHash as a direct byte
    # formula while Spark runs the full container parse + decode), docs
    # with doc_id % 11 == 0 carry a one-bit "re-encoded copy"
    # perturbation, and pairs come from the shared 16-bit-chunk
    # pigeonhole bucketing (dedup.hamming_pairs_64)
    from html5ever_elixir_spark.operators.multimodal import (
        docs_to_dhash_pnms,
        image_dhash_pairs,
    )

    media = docs_to_dhash_pnms(
        _docs(spark, sf_dir).where("length(text) > 0")
    )
    return image_dhash_pairs(media)


def _oracle_media_dhash_pairs_sql() -> str:
    from html5ever_elixir_spark.operators.dedup import (
        oracle_hamming_pairs_64_sql,
    )
    from html5ever_elixir_spark.operators.multimodal import oracle_dhash_sql

    inner = oracle_dhash_sql(
        "(SELECT * FROM documents WHERE length(text) > 0) d"
    )
    return oracle_hamming_pairs_64_sql(
        f"SELECT media_id, dhash_hi, dhash_lo FROM ({inner}) h",
        id_col="media_id",
        hi_col="dhash_hi",
        lo_col="dhash_lo",
    )


def _q_media_dhash_clusters(spark, sf_dir):
    # the cluster step of image dedup: same synthesis as
    # media_dhash_pairs, then generic neighbor-min connected components
    # over the Hamming pairs (fixed max_iter ⇒ unrolled-CTE oracle per
    # the standing rule); every decodable image gets a row
    from html5ever_elixir_spark.operators.multimodal import (
        docs_to_dhash_pnms,
        image_dhash_clusters,
    )

    media = docs_to_dhash_pnms(
        _docs(spark, sf_dir).where("length(text) > 0")
    )
    return image_dhash_clusters(media)


def _oracle_media_dhash_clusters_sql() -> str:
    from html5ever_elixir_spark.operators.dedup import (
        oracle_cc_label_propagation_sql,
    )

    return oracle_cc_label_propagation_sql(
        "SELECT doc_id AS media_id FROM documents WHERE length(text) > 0",
        _oracle_media_dhash_pairs_sql(),
        id_col="media_id",
        max_iter=4,
    )


def _q_html_jsonld(spark, sf_dir):
    # structured-data extraction through the REAL parser: synthesized
    # pages embed 0-2 JSON-LD blocks (doc_id % 3 == 1: none; % 7 == 3:
    # block 1 is TRUNCATED JSON — parsed fields must come back NULL
    # row-locally; % 5 == 0: a second BreadcrumbList block), the script
    # RAWTEXT rides the real tokenizer, and field extraction is
    # JVM-side get_json_object — the oracle predicts every row from
    # doc_id arithmetic alone
    from html5ever_elixir_spark.operators.metadata import jsonld_records

    pages = _docs(spark, sf_dir).selectExpr(
        "concat('doc://', cast(doc_id as string)) AS url",
        """concat(
          '<html><head><title>t</title>',
          CASE WHEN doc_id % 3 = 1 THEN ''
               WHEN doc_id % 7 = 3 THEN concat(
                 '<script type="application/ld+json">',
                 '{"@type":"Article","identifier":</script>')
               ELSE concat(
                 '<script type="application/ld+json">',
                 '{"@type":"Article","identifier":',
                 cast(doc_id as string),
                 ',"charCount":', cast(length(text) as string),
                 '}</script>')
          END,
          CASE WHEN doc_id % 5 = 0 AND doc_id % 3 <> 1 THEN concat(
                 '<script type="application/ld+json">',
                 '{"@type":"BreadcrumbList","identifier":',
                 cast(doc_id as string), ',"charCount":0}</script>')
               ELSE '' END,
          '</head><body><p>b</p></body></html>') AS html""",
    )
    out = jsonld_records(pages=pages)
    return out.select(
        "url",
        "block_idx",
        F.get_json_object("raw", "$['@type']").alias("ld_type"),
        F.get_json_object("raw", "$.identifier")
        .cast("bigint")
        .alias("identifier"),
        F.get_json_object("raw", "$.charCount")
        .cast("bigint")
        .alias("char_count"),
    )


_JSONLD_ORACLE = """
SELECT 'doc://' || cast(doc_id as varchar) AS url, 1::BIGINT AS block_idx,
       CASE WHEN doc_id % 7 = 3 THEN NULL ELSE 'Article' END AS ld_type,
       (CASE WHEN doc_id % 7 = 3 THEN NULL ELSE doc_id END)::BIGINT
         AS identifier,
       (CASE WHEN doc_id % 7 = 3 THEN NULL ELSE length(text) END)::BIGINT
         AS char_count
FROM documents WHERE doc_id % 3 <> 1
UNION ALL
SELECT 'doc://' || cast(doc_id as varchar) AS url, 2::BIGINT AS block_idx,
       'BreadcrumbList' AS ld_type, doc_id::BIGINT AS identifier,
       0::BIGINT AS char_count
FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 <> 1
"""


def _outline_html_expr() -> str:
    # four heading-structure classes by doc_id % 4 (deep chain + pop,
    # simple, skipped-level, h2-opens-the-page); heading text carries
    # &amp; so the gate proves real entity decoding, and <p> noise
    # between headings proves the tag filter
    def h(lvl, k):
        return (
            f"'<h{lvl}>H&amp;', cast(doc_id as string), '.{k}</h{lvl}>'"
        )

    c0 = f"concat({h(1, 1)}, '<p>x</p>', {h(2, 2)}, {h(3, 3)}, {h(2, 4)})"
    c1 = f"concat({h(1, 1)}, {h(2, 2)}, '<p>x</p>')"
    c2 = f"concat({h(1, 1)}, '<p>x</p>', {h(3, 2)}, {h(2, 3)})"
    c3 = f"concat({h(2, 1)}, {h(1, 2)}, '<p>x</p>', {h(3, 3)})"
    return f"""concat('<html><body>',
      CASE cast(doc_id % 4 as int)
        WHEN 0 THEN {c0} WHEN 1 THEN {c1} WHEN 2 THEN {c2} ELSE {c3}
      END, '</body></html>')"""


def _q_html_outline(spark, sf_dir):
    # heading outline through the REAL parser: levels, document order,
    # entity-decoded text, nearest-shallower parent pointers — the
    # oracle predicts every row from doc_id arithmetic alone
    from html5ever_elixir_spark.operators.outline import heading_outline

    pages = _docs(spark, sf_dir).selectExpr(
        "concat('doc://', cast(doc_id as string)) AS url",
        _outline_html_expr() + " AS html",
    )
    return heading_outline(pages=pages)


_OUTLINE_ORACLE = """
SELECT 'doc://' || cast(d.doc_id as varchar) AS url,
       t.k::BIGINT AS heading_idx, t.lvl::BIGINT AS level,
       'H&' || cast(d.doc_id as varchar) || '.' || t.k AS text,
       t.par::BIGINT AS parent_idx
FROM documents d
JOIN (VALUES
  (0, 1, 1, NULL), (0, 2, 2, 1), (0, 3, 3, 2), (0, 4, 2, 1),
  (1, 1, 1, NULL), (1, 2, 2, 1),
  (2, 1, 1, NULL), (2, 2, 3, 1), (2, 3, 2, 1),
  (3, 1, 2, NULL), (3, 2, 1, NULL), (3, 3, 3, 2)
) t(c, k, lvl, par) ON d.doc_id % 4 = t.c
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver records CORRECTNESS rows for (at most) the
    # first 50 dict entries.  Round 3 proved a hard 50-entry cap, so each
    # round rotates which entries sit past the window (see COVERAGE.md
    # "Driver-window rotation, round 8").  Round 8 (97 queries): the 42
    # r7-tail queries LEAD (their last driver rows are r06 — each gets its
    # r8 row so every query stays covered by r07 ∪ r08), then the 5
    # r8-new queries (dedup_long_spans — exact-substring ≥L-token span
    # dedup; text_token_count_bpe — deterministic BPE token ledger;
    # text_bpe_train — distributed BPE merge learning; ann_ivf_pq_topk —
    # IVF-PQ residual quantization with ADC search; curation_chunks_v3 —
    # the end-to-end flow with the long-span scrub + BPE ledger),
    # pdf_extract_text (r8 behavior change: doc_id%5==2 docs now route
    # through the 4 predefined Uni*-UCS2 CMap families), and the 2
    # flagship parity gates (html_tree_json, html_extract_text — the
    # load-bearing encoders, in-window every round) fill the window to
    # exactly 50.  Past-window = the 47 r7-window queries, every one
    # green in CORRECTNESS_r07 and unchanged this round (the parse-once
    # fix to graph_link_edges / html_page_metadata changes the PLAN, not
    # the values — plan pytests + the full tools/oracle_check.py sweep
    # re-verify them), so after r8 every query has a driver row in
    # r07 ∪ r08.
    return {
        # previously past the driver window (r7 tail) — now first
        "html_tree_json_maps": _q_html_tree_json_maps,
        "html_attrs_map_merge": _q_html_attrs_map_merge,
        "html_fragment_tree": _q_html_fragment_tree,
        "media_jpeg_roundtrip": _q_media_jpeg_roundtrip,
        "media_gif_features": _q_media_gif_features,
        "media_wav_features": _q_media_wav_features,
        "url_blocklist": _q_url_blocklist,
        "dedup_lsh_cc": _q_dedup_lsh_cc,
        "dedup_bloom_incremental": _q_dedup_bloom,
        "text_pack_sequences": _q_text_pack,
        "text_pack_strict": _q_text_pack_strict,
        "text_quality_by_source": _q_quality_by_source,
        "text_scrub_pii": _q_text_scrub_pii,
        "curation_chunks": _q_curation_chunks,
        "sample_stratified": _q_sample_stratified,
        "text_fingerprint": _q_fingerprint,
        "agg_pricing_summary": _q_pricing,
        "join_revenue_nation": _q_revenue,
        "join_supplier_volume": _q_supplier_volume,
        "window_latest_event": _q_latest_event,
        "topk_largest_docs": _q_topk_docs,
        "filter_project_docs": _q_filter_project,
        "agg_event_type_stats": _q_event_stats,
        "dedup_dom_normalized": _q_dedup_dom,
        "dedup_minhash_sig": _q_dedup_minhash,
        "dedup_keep_longest": _q_dedup_keep_longest,
        "dedup_incremental": _q_dedup_incremental,
        "dedup_duplicate_spans": _q_dedup_duplicate_spans,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_simhash64": _q_dedup_simhash64,
        "dedup_simhash_pairs": _q_dedup_simhash_pairs,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "media_frame_sample": _q_media_frame_sample,
        "dedup_boilerplate_lines": _q_dedup_boilerplate,
        "dedup_normalized_exact": _q_dedup_norm_exact,
        "dedup_decontaminate": _q_dedup_decontaminate,
        "dedup_minhash_jaccard": _q_dedup_minhash_jaccard,
        "ann_cosine_topk": _q_ann_topk,
        "ann_srp_bucket": _q_ann_srp,
        "ann_srp_multiprobe": _q_ann_srp_multiprobe,
        "emb_normalize": _q_emb_normalize,
        "text_quality_filter": _q_text_quality_filter,
        # round-8 new queries
        "dedup_long_spans": _q_dedup_long_spans,
        "text_token_count_bpe": _q_text_token_count_bpe,
        "text_bpe_train": _q_text_bpe_train,
        "ann_ivf_pq_topk": _q_ann_ivf_pq_topk,
        "curation_chunks_v3": _q_curation_chunks_v3,
        # round-8 behavior change (UCS2 CID-CMap doc mix)
        "pdf_extract_text": _q_pdf_extract_text,
        # flagship parity gates (load-bearing encoders stay every round)
        "html_tree_json": _q_html_tree_json,
        "html_extract_text": _q_html_extract,
        # ---- 50-row window boundary ----
        # r8 tail: 47 queries, all green in CORRECTNESS_r07 and
        # re-verified via tools/oracle_check.py this round
        "media_raster_features": _q_media_raster_features,
        "media_features": _q_media_features,
        "text_token_budget": _q_text_token_budget,
        "text_chunks": _q_text_chunks,
        "html_error_rows": _q_html_error_rows,
        "dedup_exact": _q_dedup_exact,
        "text_token_count": _q_token_count,
        "text_repetition": _q_text_repetition,
        "url_dedup": _q_url_dedup,
        "text_quality": _q_quality,
        "url_host_counts": _q_url_host_counts,
        "text_lang_id": _q_lang_id,
        "html_text_nodes": _q_html_text_nodes,
        "html_extract_text_v2": _q_html_extract_v2,
        "html_flat_error_rows": _q_html_flat_error_rows,
        "html_titles": _q_html_titles,
        "html_links": _q_html_links,
        "html_node_histogram": _q_html_node_histogram,
        "html_node_histogram_fast": _q_html_node_histogram_fast,
        "html_max_depth": _q_html_max_depth,
        "html_attrs_by_tag": _q_html_attrs_by_tag,
        "curation_chunks_v2": _q_curation_chunks_v2,
        "sample_split": _q_sample_split,
        "text_nfc": _q_text_nfc,
        "text_tfidf_topk": _q_text_tfidf,
        "text_lm_score": _q_text_lm_score,
        "html_extract_cp1252": _q_html_extract_cp1252,
        "html_extract_charsets": _q_html_extract_charsets,
        "emb_neardup_pairs": _q_emb_neardup,
        "emb_neardup_clusters": _q_emb_neardup_clusters,
        "sample_temperature_mix": _q_sample_temperature_mix,
        "dedup_lsh_pairs": _q_dedup_lsh_pairs,
        "dedup_lsh_clusters": _q_dedup_lsh_clusters,
        "graph_link_edges": _q_graph_link_edges,
        "graph_pagerank": _q_graph_pagerank,
        "dedup_paragraphs": _q_dedup_paragraphs,
        "url_robots_filter": _q_url_robots_filter,
        "html_page_metadata": _q_html_page_metadata,
        "html_css_select": _q_html_css_select,
        "html_table_grid": _q_html_table_grid,
        "html_markdown": _q_html_markdown,
        "media_webp_features": _q_media_webp_features,
        "ann_ivf_cells": _q_ann_ivf_cells,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "text_lm_buckets": _q_text_lm_buckets,
        "sample_cap_per_source": _q_sample_cap_per_source,
        "warc_extract": _q_warc_extract,
        # r8-late additions (born past-window: the r8 window was already
        # full when these landed; oracle_check-gated this round, they
        # lead the r9 window per COVERAGE.md)
        "media_dhash_pairs": _q_media_dhash_pairs,
        "media_dhash_clusters": _q_media_dhash_clusters,
        "html_jsonld": _q_html_jsonld,
        "html_outline": _q_html_outline,
        "warc_write_wet": _q_warc_write_wet,
        "crawl_frontier": _q_crawl_frontier,
        "text_fix_mojibake": _q_text_fix_mojibake,
        "graph_host_rank": _q_graph_host_rank,
        "graph_anchor_stats": _q_graph_anchor_stats,
        "html_sections": _q_html_sections,
        "crawl_delta": _q_crawl_delta,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # byte-exact nested-tree JSON, reconstructed in SQL from the
        # template structure (validates the full canonical encoder)
        "html_tree_json": _TREE_JSON_ORACLE,
        # maps-mode encoding: attrs become first-wins JSON objects; on
        # the template corpus that is a pure bracket-form rewrite of the
        # pair-list oracle (single attrs throughout)
        "html_tree_json_maps": _TREE_JSON_MAPS_ORACLE,
        "html_fragment_tree": _FRAGMENT_TREE_ORACLE,
        # one row per <th>/<td>: both engines derive cells from the same
        # token rule; Spark round-trips through real HTML + the §13.2
        # table parser, DuckDB predicts the rows directly
        "html_table_grid": tables.oracle_table_grid_sql(),
        # markdown predicted byte-for-byte from the shared token rule
        # (heading/link/emphasis/list/quote/pre/table/hr conversion
        # round-tripped through real HTML on the Spark side)
        "html_markdown": markdown.oracle_markdown_sql(),
        "html_attrs_map_merge": (
            "SELECT 'doc://' || cast(doc_id as string) AS url, "
            "'l' || cast(doc_id as string) AS lang_attr, "
            "'d' || cast(doc_id as string) AS dir_attr, "
            "2::BIGINT AS n_attr_pairs, 2::BIGINT AS n_map_keys "
            "FROM documents"
        ),
        # text-node count + decoded char count per url (entity decode +
        # collapse validated through the flat nodes table)
        "html_text_nodes": """
WITH base AS (SELECT doc_id AS d, cast(doc_id AS string) AS ds, text AS t
              FROM documents)
SELECT 'https://host' || cast(d % 50 as string) || '.example/page' || ds
         AS url,
       (8 + case when d % 5 = 0 then 1 else 0 end)::BIGINT AS n_text_nodes,
       (45 + 2 * length(ds) + length(t)
        + case when d % 5 = 0 then 8 + length(ds) else 0 end)::BIGINT
         AS text_chars
FROM base
""",
        "html_extract_text": f"WITH {_DUCK_PAGES} SELECT url, text FROM pages",
        # v2 (text-density thresholds): title/extra stubs are < 15 chars
        # for every doc_id here, so only the prose block survives
        "html_extract_text_v2": (
            "SELECT 'https://host' || cast(doc_id % 50 as string) || "
            "'.example/page' || cast(doc_id as string) AS url, "
            "trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')) AS text_v2 "
            "FROM documents"
        ),
        "html_error_rows": f"""
WITH {_DUCK_PAGES}
SELECT url, case when doc_id % 97 = 0
  then 'cannot transform bytes from binary to a valid UTF8 string'
  else NULL end AS error
FROM pages
""",
        "html_flat_error_rows": f"""
WITH {_DUCK_PAGES}
SELECT url,
  'cannot transform bytes from binary to a valid UTF8 string' AS error
FROM pages WHERE doc_id % 97 = 0
""",
        "url_dedup": _oracle_url_dedup_sql(),
        "url_host_counts": (
            "SELECT 'host' || cast(doc_id % 50 as string) || '.example' AS "
            "host, count(*) AS n FROM documents GROUP BY host ORDER BY host"
        ),
        "html_titles": (
            f"WITH {_DUCK_PAGES} SELECT url, 'Doc ' || cast(doc_id as string) "
            "AS title FROM pages"
        ),
        "html_links": (
            f"WITH {_DUCK_PAGES} SELECT url, "
            "'/p/' || cast(doc_id + 1 as string) || ',/p/' || "
            "cast(doc_id + 2 as string) AS links_csv FROM pages"
        ),
        # template node counts: 12 elements + 8 texts fixed, +1 comment if
        # d%3=0, +1 element +1 text if d%5=0, 1 doc + 1 doctype per page
        "html_node_histogram": _NODE_HISTOGRAM_ORACLE,
        # identical truth, computed from per-doc metric columns
        "html_node_histogram_fast": _NODE_HISTOGRAM_ORACLE,
        "html_max_depth": (
            f"WITH {_DUCK_PAGES} SELECT url, 5::BIGINT AS max_depth FROM pages"
        ),
        # per template: class on 2 divs, href on 2 <a>; all else attr-free
        "html_attrs_by_tag": """
WITH t AS (SELECT count(*) AS n,
                  sum(case when doc_id % 5 = 0 then 1 else 0 end) AS c5
           FROM documents)
SELECT * FROM (
  SELECT 'a' AS name, (2 * n)::BIGINT AS n_attrs, (2 * n)::BIGINT AS n_elements FROM t
  UNION ALL SELECT 'body', 0::BIGINT, n::BIGINT FROM t
  UNION ALL SELECT 'div', (2 * n)::BIGINT, (2 * n)::BIGINT FROM t
  UNION ALL SELECT 'footer', 0::BIGINT, n::BIGINT FROM t
  UNION ALL SELECT 'h1', 0::BIGINT, n::BIGINT FROM t
  UNION ALL SELECT 'head', 0::BIGINT, n::BIGINT FROM t
  UNION ALL SELECT 'html', 0::BIGINT, n::BIGINT FROM t
  UNION ALL SELECT 'p', 0::BIGINT, (n + c5)::BIGINT FROM t
  UNION ALL SELECT 'style', 0::BIGINT, n::BIGINT FROM t
  UNION ALL SELECT 'title', 0::BIGINT, n::BIGINT FROM t
) ORDER BY name
""",
        "dedup_exact": dedup.oracle_exact_dedup_sql(),
        "dedup_dom_normalized": (
            f"WITH tj AS ({_TREE_JSON_ORACLE}) "
            "SELECT md5(tree_json) AS dom_hash, min(url) AS keep_url, "
            "count(*) AS group_size FROM tj GROUP BY md5(tree_json)"
        ),
        "dedup_minhash_sig": (
            "SELECT doc_id, array_to_string("
            "list_transform(sig, s -> coalesce(s, '')), ',') AS sig "
            f"FROM ({dedup.oracle_minhash_sql()})"
        ),
        "dedup_lsh_pairs": dedup.oracle_lsh_pairs_sql(),
        "dedup_lsh_clusters": dedup.oracle_lsh_clusters_sql(),
        "dedup_lsh_cc": dedup.oracle_lsh_cc_sql(max_iter=5),
        "dedup_keep_longest": dedup.oracle_keep_longest_sql(),
        "dedup_incremental": dedup.oracle_incremental_dedup_sql(),
        "dedup_bloom_incremental": dedup.oracle_bloom_incremental_sql(),
        "dedup_boilerplate_lines": dedup.oracle_boilerplate_lines_sql(
            400, _BOILER_LINES_EXPR
        ),
        "dedup_paragraphs": dedup.oracle_paragraph_dedup_sql(_PARA_EXPR),
        "dedup_long_spans": dedup.oracle_long_dup_spans_sql(
            _lds_corpus_expr("duckdb"), min_tokens=_LDS_L
        ),
        "text_token_count_bpe": textstats.oracle_bpe_token_count_sql(),
        "text_bpe_train": textstats.oracle_bpe_train_sql(n_merges=8),
        "curation_chunks_v3": curation.oracle_curation_v3_sql(),
        "url_robots_filter": _ROBOTS_ORACLE,
        "html_page_metadata": _META_ORACLE,
        "html_css_select": _SELECT_ORACLE,
        "graph_link_edges": graph.oracle_link_edges_sql(),
        "graph_pagerank": graph.oracle_pagerank_sql(iters=3),
        "dedup_normalized_exact": dedup.oracle_normalized_exact_dedup_sql(
            table="(SELECT doc_id, case when doc_id % 2 = 0 "
            "then upper(text) || '!!' else '  ' || text end AS text "
            "FROM documents) perturbed"
        ),
        "dedup_decontaminate": dedup.oracle_decontaminate_sql(),
        "dedup_duplicate_spans": dedup.oracle_duplicate_spans_sql(),
        "dedup_simhash": dedup.oracle_simhash_sql(),
        "dedup_simhash64": dedup.oracle_simhash64_sql(),
        "dedup_simhash_pairs": dedup.oracle_simhash_pairs_sql(max_hamming=16),
        "dedup_ngram_jaccard": dedup.oracle_ngram_jaccard_sql(threshold=0.5),
        "ann_cosine_topk": similarity.oracle_cosine_topk_sql(),
        # same md5-derived hyperplanes inlined as constants (dim=64 fixed
        # by the embeddings table)
        "text_lm_buckets": textstats.oracle_lm_buckets_sql(),
        "ann_ivf_cells": similarity.oracle_ivf_sql(assignment_only=True),
        "ann_ivf_topk": similarity.oracle_ivf_sql(n_queries=10),
        "ann_ivf_pq_topk": similarity.oracle_ivf_pq_sql(n_queries=10),
        "ann_srp_bucket": similarity.oracle_srp_sql(),
        "ann_srp_multiprobe": similarity.oracle_srp_sql(multiprobe=True),
        "emb_neardup_pairs": similarity.oracle_neardup_sql(
            threshold=0.35, max_block=50
        ),
        "emb_neardup_clusters": similarity.oracle_neardup_clusters_sql(
            threshold=0.35, max_iter=4, max_block=50
        ),
        "emb_normalize": (
            "SELECT vec_id, norm, round(unit[1], 6) AS u0, "
            "round(list_sum(unit), 6) AS unit_sum "
            f"FROM ({similarity.oracle_normalize_sql()})"
        ),
        "text_quality_filter": textstats.oracle_quality_filter_sql(),
        # image dHash near-dup: direct byte formula for the exact-grid
        # P5 synthesis + the shared 16-bit-chunk pair bucketing
        "media_dhash_pairs": _oracle_media_dhash_pairs_sql(),
        # cluster labels: unrolled neighbor-min CTEs over the pair SQL
        "media_dhash_clusters": _oracle_media_dhash_clusters_sql(),
        # JSON-LD rows predicted from doc_id arithmetic (block 1 unless
        # % 3 == 1; NULL fields when % 7 == 3 truncates the JSON;
        # block 2 when % 5 == 0)
        "html_jsonld": _JSONLD_ORACLE,
        # heading outline rows predicted per doc_id % 4 structure class
        "html_outline": _OUTLINE_ORACLE,
        # crawl loop composition: pagerank CTEs × robots argmax × the
        # per-host budget window
        "crawl_frontier": _oracle_crawl_frontier_sql(),
        # mojibake repair: the oracle predicts the peeled text directly
        "text_fix_mojibake": _MOJIBAKE_ORACLE,
        # host-granularity pagerank: same unrolled rounds, host graph CTE
        "graph_host_rank": _oracle_graph_host_rank_sql(),
        # anchor aggregation: edge multiset predicted from doc_id math
        "graph_anchor_stats": _ANCHOR_STATS_ORACLE,
        # section chunking: rows generated from the same class spec
        "html_sections": _oracle_html_sections_sql(),
        # snapshot delta: statuses are pure doc_id arithmetic
        "crawl_delta": _CRAWL_DELTA_ORACLE,
        "media_features": (
            "SELECT doc_id AS media_id, "
            "case when doc_id % 2 = 0 then 'image' else 'audio' end AS kind, "
            "octet_length(encode(text))::BIGINT AS n_bytes, "
            "sha256(text) AS sha256, "
            "cast(NULL as varchar) AS decode_error "
            "FROM documents"
        ),
        "media_raster_features": _oracle_media_raster_sql(),
        # the GIF roundtrip is byte-lossless (palette i → luma i), so
        # the decoded features equal the raster formula over the text
        "media_gif_features": _oracle_media_raster_sql(),
        "media_webp_features": _oracle_media_raster_sql(),
        "media_jpeg_roundtrip": _JPEG_ROUNDTRIP_ORACLE,
        "media_wav_features": _oracle_media_wav_sql(),
        # balanced 4-way byte split; text is ASCII so varchar slicing
        # equals the operator's byte slicing
        "media_frame_sample": """
WITH f AS (SELECT doc_id AS media_id, text, length(text) AS ln,
                  unnest(range(0, 4)) AS frame_idx
           FROM documents)
SELECT media_id, frame_idx::BIGINT AS frame_idx,
  ((frame_idx + 1) * ln // 4 - frame_idx * ln // 4)::BIGINT AS n_bytes,
  sha256(substring(text, (frame_idx * ln // 4) + 1,
                   (frame_idx + 1) * ln // 4 - frame_idx * ln // 4))
    AS frame_sha256
FROM f
""",
        # wrap text every 8 words with \n (what the PDF writer does),
        # 40 lines/page; the extractor must invert it byte-exactly
        "pdf_extract_text": """
WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
SELECT doc_id, cast(NULL as varchar) AS error,
  array_to_string(
    list_transform(range(0, (len(ws) + 7) // 8),
                   i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ')),
    chr(10)) AS text,
  (((len(ws) + 7) // 8 + 39) // 40)::BIGINT AS n_pages
FROM w
""",
        "text_token_count": textstats.oracle_token_count_sql(),
        "text_token_budget": textstats.oracle_token_budget_sql(),
        "text_repetition": textstats.oracle_repetition_sql(),
        "text_chunks": textstats.oracle_chunk_sql(),
        "text_pack_sequences": textstats.oracle_pack_sql(
            chunk_words=20, overlap=5, seq_len=40
        ),
        "text_pack_strict": textstats.oracle_pack_strict_sql(
            chunk_words=20, overlap=5, seq_len=40
        ),
        "text_quality_by_source": textstats.oracle_quality_by_source_sql(),
        "text_scrub_pii": textstats.oracle_scrub_pii_sql(
            table=f"(SELECT doc_id, {_PII_TEXT_EXPR} AS text "
            "FROM documents) pii"
        ),
        "curation_chunks": curation.oracle_curation_sql(),
        "curation_chunks_v2": curation.oracle_curation_v2_sql(),
        "sample_split": sampling.oracle_split_assign_sql(),
        "url_blocklist": _URL_BLOCKLIST_ORACLE,
        # utf8proc nfc_normalize vs Python unicodedata — differential;
        # chr() injection mirrors the API-literal combining sequences
        "text_nfc": textstats.oracle_nfc_sql(
            text_expr=(
                "text || ' e' || chr(769) || 'o' || chr(776) || "
                "' A' || chr(778) || 'ngstro' || chr(776) || 'm'"
            )
        ),
        "text_tfidf_topk": textstats.oracle_tfidf_sql(k=3),
        "text_lm_score": textstats.oracle_lm_score_sql(),
        # roundtrip losslessness: the WARC gate shares the extraction
        # oracle — any reader deviation breaks the value hash
        "warc_extract": f"WITH {_DUCK_PAGES} SELECT url, text FROM pages",
        # WET write→read roundtrip is lossless, so its oracle is the
        # same pinned extraction SQL
        "warc_write_wet": f"WITH {_DUCK_PAGES} SELECT url, text FROM pages",
        # cp1252 sniff gate: same extraction oracle with the h1 marker
        # injected after the title line (first \n only — no 'g' flag)
        "html_extract_cp1252": (
            f"WITH {_DUCK_PAGES} SELECT url, "
            "regexp_replace(text, chr(10), ' —“é”' || chr(10)) AS text "
            "FROM pages"
        ),
        # multi-byte sniff gate: same extraction oracle with the
        # per-residue CJK/Hangul marker after the title line
        "html_extract_charsets": (
            f"WITH {_DUCK_PAGES} SELECT url, "
            "regexp_replace(text, chr(10), CASE doc_id % 4 "
            "WHEN 0 THEN ' こんにちは' WHEN 1 THEN ' 你好世界' "
            "WHEN 2 THEN ' 안녕하세요' ELSE ' 中文測試' END "
            "|| chr(10)) AS text FROM pages"
        ),
        "sample_stratified": sampling.oracle_stratified_sample_sql(
            _STRAT_RATES, select="doc_id, lang"
        ),
        "sample_cap_per_source": sampling.oracle_cap_per_group_sql(
            15, select="doc_id, source, n_chars"
        ),
        "sample_temperature_mix": sampling.oracle_temperature_mix_sql(
            temperature=2.0, target_frac=0.5
        ),
        "dedup_minhash_jaccard": dedup.oracle_minhash_jaccard_sql(),
        "text_quality": textstats.oracle_quality_sql(),
        "text_lang_id": textstats.oracle_lang_id_sql(),
        "text_fingerprint": textstats.oracle_fingerprint_sql(),
        "agg_pricing_summary": relational.ORACLE_PRICING_SQL,
        "join_revenue_nation": relational.ORACLE_REVENUE_SQL,
        "join_supplier_volume": relational.ORACLE_SUPPLIER_VOLUME_SQL,
        "window_latest_event": relational.ORACLE_LATEST_EVENT_SQL,
        "topk_largest_docs": relational.oracle_topk_docs_sql(k=100),
        "filter_project_docs": relational.ORACLE_FILTER_SQL,
        "agg_event_type_stats": relational.ORACLE_EVENT_STATS_SQL,
    }
