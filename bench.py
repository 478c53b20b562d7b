"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
$SPARK_GRAFT_CPUS defaults to the host's core count.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ..., ...}

The headline is end-to-end HTML extraction throughput (docs/sec):
pages are templated from the documents table with an 8× replication
multiplier (≈40k docs at sf0.1) so the Python parse stage dominates,
then parsed + extracted and written to a noop sink (no driver
collect). Other entries time the flat-node explode, MinHash-LSH dedup,
ANN top-k, and the relational agg/window paths.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from html5ever_elixir_spark.operators import dedup, relational, similarity  # noqa: E402
from html5ever_elixir_spark.operators.parse import (  # noqa: E402
    flat_parse_nodes,
    parse_and_extract,
)
from html5ever_elixir_spark.session import get_spark  # noqa: E402
from html5ever_elixir_spark.sources.pages import pages_from_documents  # noqa: E402

REPLICATE = int(os.environ.get("BENCH_REPLICATE", "8"))
# min-of-N passes per query: the sandbox is a shared host whose load
# swings 2× on minute scales (see BENCH.md "Measurement context"); the
# r7 driver stamp ran at loadavg 3.4→15.2 and read 1.7× slower than the
# calm-window minima on identical plans. Three passes give each query
# ~2 chances to land in a calm slice; min is the capability estimate.
PASSES = int(os.environ.get("BENCH_PASSES", "3"))


def replicated_pages(spark, sf_dir: str, factor: int):
    """pages × factor with distinct urls/doc_ids (JVM-side explode)."""
    pages = pages_from_documents(spark, sf_dir)
    return (
        pages.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
        .withColumn("url", F.concat_ws("#", "url", "rep"))
        .drop("rep")
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_suite(spark, sf_dir: str):
    pages = replicated_pages(spark, sf_dir, REPLICATE)
    n_docs = pages.count()
    # warmup: spin up python workers + codegen on a tiny slice
    _noop(parse_and_extract(pages.limit(64)))

    timings = {}

    def timed(name, thunk):
        # min of PASSES passes (co-tenant noise damping; see PASSES above)
        best = None
        for _ in range(PASSES):
            t0 = time.perf_counter()
            thunk()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)

    timed("extract_pipeline", lambda: _noop(
        parse_and_extract(
            pages.repartition(spark.sparkContext.defaultParallelism * 2,
                              F.xxhash64("url"))
        )
    ))
    # single-file local parquet = one input split; real corpora arrive in
    # thousands of splits, so spread row-local compute across cores here
    par = spark.sparkContext.defaultParallelism * 2
    timed("flat_nodes_histogram", lambda: _noop(
        flat_parse_nodes(pages.limit(n_docs // 4).repartition(par))
        .groupBy("type").agg(F.count("*").alias("n"))
    ))
    # same histogram from per-doc metric columns: no per-node rows cross
    # the JVM boundary (apples-to-apples with flat_nodes_histogram)
    timed("node_histogram_fast", lambda: _noop(
        parse_and_extract(pages.limit(n_docs // 4).repartition(par)).agg(
            F.sum("n_comments").alias("comment"),
            F.sum("n_doctypes").alias("doctype"),
            F.sum("n_documents").alias("document"),
            F.sum("n_elements").alias("element"),
            F.sum("n_texts").alias("text"),
        )
    ))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    timed("dedup_lsh_pairs", lambda: _noop(dedup.lsh_candidate_pairs(docs)))
    timed("dedup_lsh_clusters", lambda: _noop(dedup.lsh_clusters(docs)))
    # PDF path: build deterministic Flate PDFs from documents.text and
    # extract the text back (both stages Python/Arrow — the second
    # mapInArrow family alongside the HTML parse)
    from html5ever_elixir_spark.operators.pdf import docs_to_pdfs, pdf_extract

    timed("pdf_roundtrip", lambda: _noop(pdf_extract(docs_to_pdfs(docs))))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(par)
    timed("ann_cosine_topk", lambda: _noop(
        similarity.cosine_topk(emb, n_queries=20, k=10)
    ))
    timed("agg_pricing_summary", lambda: _noop(
        relational.pricing_summary(relational.load(spark, sf_dir, "lineitem"))
    ))
    timed("window_latest_event", lambda: _noop(
        relational.latest_event_per_user(relational.load(spark, sf_dir, "events"))
    ))
    # the composed curation pipeline (quality ∩ sample ∩ canonical → chunks):
    # fused scan-side gates + the LSH keep-longest chain + chunk explode
    from html5ever_elixir_spark.plans.curation import run_curation

    timed("curation_chunks", lambda: _noop(run_curation(docs)))
    # round-4 ops: bounded-manifest bloom screen; hard-budget packing
    from html5ever_elixir_spark.operators import textstats

    timed("dedup_bloom", lambda: _noop(dedup.bloom_incremental(
        docs.where("doc_id % 5 <> 0"), docs.where("doc_id % 5 = 0")
    )))
    timed("text_pack_strict", lambda: _noop(textstats.pack_sequences(
        textstats.chunk_documents(docs, chunk_words=20, overlap=5),
        seq_len=40, strict=True,
    )))
    # round-5: the crawl-container path — pages packed into per-record-
    # gzip WARC blobs, walked back out, parsed + extracted (measures
    # container overhead vs extract_pipeline's direct path)
    import pandas as pd

    from html5ever_elixir_spark.sources.warc import make_warc, warc_to_pages

    wpages = pages.selectExpr(
        "url", "'2024-01-01T00:00:00Z' AS ts", "cast(html as binary) AS html",
        f"pmod(xxhash64(url), {par}) AS grp",
    )

    def _build_warc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url")
        recs = [(u, t, bytes(h))
                for u, t, h in zip(pdf["url"], pdf["ts"], pdf["html"])]
        return pd.DataFrame({
            "warc_id": [int(pdf["grp"].iloc[0])],
            "content": [make_warc(recs, gzip_records=True)],
        })

    timed("warc_extract", lambda: _noop(parse_and_extract(warc_to_pages(
        wpages.groupBy("grp").applyInPandas(
            _build_warc, "warc_id bigint, content binary"
        )
    ))))
    # round-6: the baseline-JPEG encode→decode roundtrip (third
    # mapInArrow family; DC fast path + marker/Huffman walk under load)
    from html5ever_elixir_spark.operators.multimodal import (
        _decode_raster,
        encode_jpeg_gray_blocks,
    )

    def _jpeg_rt(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            ok = []
            for did, t in zip(ids, texts):
                vals = (t or "x").encode()
                w, _, px = _decode_raster(encode_jpeg_gray_blocks(
                    vals,
                    restart_interval=(
                        7 if did % 3 == 0 and did % 5 != 0 else 0
                    ),
                    progressive=did % 5 == 0,
                ))
                ok.append(int(all(
                    px[3 * w + 8 * i + 3] == v for i, v in enumerate(vals)
                )))
            yield pa.RecordBatch.from_pydict({"media_id": ids, "ok": ok})

    timed("jpeg_roundtrip", lambda: _noop(
        docs.selectExpr("doc_id AS media_id", "text")
        .mapInArrow(_jpeg_rt, "media_id bigint, ok bigint")
    ))
    # round-7: the WebP/VP8L encode→decode roundtrip (RIFF walk, prefix
    # codes via the 8-bit LUT fast path, subtract-green inverse on even
    # ids — the same alternation as the driver gate)
    from html5ever_elixir_spark.operators.multimodal import (
        encode_webp_vp8l,
    )

    def _webp_rt(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            ok = []
            for did, t in zip(ids, texts):
                px = (t or "x").encode()
                _, _, out = _decode_raster(encode_webp_vp8l(
                    px, len(px), 1, subtract_green=did % 2 == 0
                ))
                ok.append(int(bytes(out) == px))
            yield pa.RecordBatch.from_pydict({"media_id": ids, "ok": ok})

    timed("webp_roundtrip", lambda: _noop(
        docs.selectExpr("doc_id AS media_id", "text")
        .mapInArrow(_webp_rt, "media_id bigint, ok bigint")
    ))
    # round-7: CSS selector matching (8 selectors, one parse pass per
    # doc — measures matcher overhead on top of the parse itself)
    from html5ever_elixir_spark.operators.select import select_counts

    timed("css_select_counts", lambda: _noop(select_counts(
        pages.limit(n_docs // 4).repartition(par),
        {
            "c_content_p": "div.content > p",
            "c_nav_links": 'div.nav a[href^="/p/"]',
            "c_adj": "h1 + div",
            "c_nth2": "div.content > p:nth-child(2)",
            "c_body_children": "body > *",
            "c_sib": "div.content ~ footer",
            "c_notfirst": "div.content p:not(:first-child)",
            "c_miss": "#missing",
        },
    )))
    # round-7: table-cell extraction (parse + per-doc table walk + cell
    # explode — the row-amplifying extraction shape)
    from html5ever_elixir_spark.operators.tables import (
        docs_to_table_html_expr,
        extract_table_cells,
    )

    timed("table_cells", lambda: _noop(extract_table_cells(
        docs.limit(n_docs // 4)
        .selectExpr("doc_id", docs_to_table_html_expr() + " AS html")
        .repartition(par),
        id_col="doc_id",
    )))
    # round-7: HTML→Markdown conversion (parse + full structural walk)
    from html5ever_elixir_spark.operators.markdown import (
        docs_to_md_html_expr,
        to_markdown,
    )

    timed("html_markdown", lambda: _noop(to_markdown(
        docs.limit(n_docs // 4)
        .selectExpr("doc_id", docs_to_md_html_expr() + " AS html")
        .repartition(par),
        id_col="doc_id",
    )))
    # round-7: crawl-mode charset path (re-encode to real
    # shift_jis/gbk/euc-kr/big5 bytes → §13.2.3.2 prescan → codec
    # decode → parse+extract) — the encoding="sniff" hot path. Same
    # shape as the html_extract_charsets driver gate, repartitioned
    # for the bench (the gate runs over the oracle's single split).
    import pyarrow as _pa

    import __spark_entry__ as _entry
    from html5ever_elixir_spark.sources.pages import pages_from_documents

    def _sniff_encode(batches):
        for b in batches:
            urls = b.column(0).to_pylist()
            dids = b.column(1).to_pylist()
            htmls = b.column(2).to_pylist()
            enc = []
            for did, h in zip(dids, htmls):
                label, codec, marker = _entry._CHARSET_MIX[did % 4]
                enc.append(
                    h.replace("<head>", f"<head><meta charset={label}>")
                    .replace("</h1>", marker + "</h1>")
                    .encode(codec)
                )
            yield _pa.RecordBatch.from_pydict(
                {"url": urls, "html": enc},
                schema=_pa.schema(
                    [("url", _pa.string()), ("html", _pa.binary())]
                ),
            )

    sniff_pages = (
        pages_from_documents(spark, sf_dir)
        .select("url", "doc_id", "html")
        .repartition(par)
        .mapInArrow(_sniff_encode, "url string, html binary")
    )
    timed("charset_sniff_extract", lambda: _noop(
        parse_and_extract(sniff_pages, encoding="sniff").select("url", "text")
    ))
    # round-8: exact-substring (>=15-token) duplicate-span removal —
    # one gram-hash shuffle + per-doc interval fold
    timed("dedup_long_spans", lambda: _noop(dedup.long_dup_spans(docs)))
    # round-8: BPE token counting (48-replace codegen chain, zero
    # shuffle, zero Python)
    timed("text_bpe_count", lambda: _noop(textstats.bpe_token_count(docs)))
    # round-8: IVF-PQ build (sampled coarse + subspace codebooks) + ADC
    # search — the quantized-payload ANN path
    timed("ann_ivf_pq_topk", lambda: _noop(
        similarity.ivf_pq_topk(emb, n_queries=20, k_top=10)
    ))
    # round-8 late: image near-dup — real P5 decode → dHash →
    # checkpoint barrier → pigeonhole bucketed pair join
    from html5ever_elixir_spark.operators import multimodal as _mm

    timed("media_dhash_pairs", lambda: _noop(
        _mm.image_dhash_pairs(_mm.docs_to_dhash_pnms(docs))
    ))
    return n_docs, timings


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # co-tenant load is the dominant noise source on this shared host:
    # stamp 1-min loadavg at start/end so driver-vs-repo timing deltas
    # are machine-checkable (r3 verdict ask #5)
    loadavg_start = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    n_docs, timings = run_suite(spark, sf_dir)
    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_docs / timings["extract_pipeline"], 1)
    out = {
        "metric": f"headline suite wall time, min of {PASSES} passes per "
        "query (extract+nodes+dedup+ann+agg+window)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "n_docs": n_docs,
        "docs_per_sec_extract": docs_per_sec,
        "cpus": cpus,
        "replicate": REPLICATE,
        "loadavg_start": loadavg_start,
        "loadavg_end": round(os.getloadavg()[0], 2),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
