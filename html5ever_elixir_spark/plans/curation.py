"""The end-to-end training-data curation pipeline: the composition the
round's operators exist for. Each stage is defined once:

    _survivors        quality gate → stratified sample → canonical dedup
    _uncontaminated   anti join on the benchmark-overlap hit list
    _scrub_and_chunk  PII scrub → chunking (row-local explode)

run_curation chunks the survivors; run_curation_v2 chains all three;
run_curation_v3 adds the long-span rewrite and a BPE column to v2.

Scale shape: the quality+sample gates fuse into the SAME single scan
(both are row-local predicates); the LSH/keep-longest chain is the only
shuffle lineage (it must see the FULL corpus — clustering the gated
subset would miss duplicates that straddle the gate); one semi join
marries the two lineages; chunking is a row-local explode. Every stage
is individually oracle-gated, and each whole composition is gated too
(`curation_chunks*`) by chaining the per-stage DuckDB CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    decontaminate,
    long_dup_spans,
    lsh_keepers,
    oracle_decontaminate_sql,
    oracle_keep_longest_sql,
    oracle_long_dup_spans_sql,
)
from ..operators.sampling import (
    oracle_stratified_sample_sql,
    stratified_sample,
)
from ..operators.textstats import (
    bpe_count_expr,
    chunk_documents,
    oracle_chunk_sql,
    oracle_quality_filter_sql,
    oracle_scrub_pii_sql,
    quality_filter,
    scrub_pii,
)

DEFAULT_RATES = {"en": 0.9}


def _survivors(
    docs: DataFrame, rates: dict[str, float] | None, text_col: str, id_col: str
) -> DataFrame:
    """Gated, sampled docs that keep their LSH cluster. The keepers come
    from the FULL corpus via lsh_keepers' map-side argmax: the ids of
    keep_longest(...).where("keep") without its per-row window."""
    gated = stratified_sample(
        quality_filter(docs, text_col, id_col, project=False),
        DEFAULT_RATES if rates is None else rates,
        id_col=id_col,
    )
    return gated.join(lsh_keepers(docs, text_col, id_col), id_col, "semi")


def _uncontaminated(
    kept: DataFrame, docs: DataFrame, benchmark: DataFrame, text_col: str,
    id_col: str,
) -> DataFrame:
    """``kept`` minus the docs of the full corpus that share an n-gram
    with ``benchmark``."""
    contaminated = decontaminate(
        docs, benchmark, text_col, id_col, hits_only=True
    ).select(id_col)
    return kept.join(contaminated, id_col, "anti")


def _scrub_and_chunk(
    kept: DataFrame, chunk_words: int, overlap: int, text_col: str, id_col: str
) -> DataFrame:
    scrubbed = scrub_pii(kept, text_col, id_col).select(
        F.col(id_col), F.col("text_scrubbed").alias(text_col)
    )
    return chunk_documents(scrubbed, chunk_words, overlap, text_col, id_col)


def _oracle_survivor_where(table: str, rates: dict[str, float] | None) -> str:
    """The WHERE of the oracles' ``kept`` CTE over ``{table} d``: the
    quality, sample and keep-longest stage gates."""
    rates = DEFAULT_RATES if rates is None else rates
    qf = oracle_quality_filter_sql(table)
    sm = oracle_stratified_sample_sql(rates, table, select="doc_id")
    kl = oracle_keep_longest_sql(table)
    return f"""  WHERE d.doc_id IN (SELECT doc_id FROM ({qf}) _qf)
    AND d.doc_id IN ({sm})
    AND d.doc_id IN (SELECT doc_id FROM ({kl}) _kl WHERE keep)"""


def _oracle_chunk_ctes(table: str, chunk_words: int, overlap: int) -> str:
    """``oracle_chunk_sql`` as CTEs that continue a ``WITH`` list."""
    return oracle_chunk_sql(table, chunk_words, overlap)[len("\nWITH "):]


def run_curation(
    docs: DataFrame,
    rates: dict[str, float] = None,
    chunk_words: int = 200,
    overlap: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """docs → curated training chunks (doc_id, chunk_idx, chunk_text,
    n_chunk_words). See the module docstring for the plan shape."""
    kept = _survivors(docs, rates, text_col, id_col)
    return chunk_documents(kept, chunk_words, overlap, text_col, id_col)


def oracle_curation_sql(
    table: str = "documents",
    rates: dict[str, float] = None,
    chunk_words: int = 200,
    overlap: int = 20,
) -> str:
    """DuckDB mirror: each stage's oracle embedded as a subquery CTE —
    the composition is exactly the conjunction of the stage gates."""
    return f"""
WITH kept AS (
  SELECT d.* FROM {table} d
{_oracle_survivor_where(table, rates)}
),
{_oracle_chunk_ctes("kept", chunk_words, overlap)}"""


def run_curation_v2(
    docs: DataFrame,
    benchmark: DataFrame,
    rates: dict[str, float] = None,
    chunk_words: int = 200,
    overlap: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The GPT-3-style full curation flow (r4 verdict ask #6):

        gate → sample → canonical dedup → decontaminate → scrub PII → chunk

    Composition order is the cost order: the gram-manifest join
    (decontaminate) and keep-longest run against the FULL training
    corpus (dropping duplicates/contamination that straddle the gates),
    while PII scrubbing — the expensive multi-regex rewrite — runs only
    on surviving docs, and chunking explodes the scrubbed text.
    Row-local gates fuse into the corpus scan; the LSH-free stages add
    exactly two extra lineages (keep-longest window, gram join), each
    married back by one semi/anti join on the uniform doc id.
    Output (doc_id, chunk_idx, chunk_text, n_chunk_words)."""
    kept = _uncontaminated(
        _survivors(docs, rates, text_col, id_col),
        docs, benchmark, text_col, id_col,
    )
    return _scrub_and_chunk(kept, chunk_words, overlap, text_col, id_col)


def oracle_curation_v2_sql(
    table: str = "documents",
    docs_pred: str = "doc_id % 5 <> 0",
    bench_pred: str = "doc_id % 5 = 0",
    rates: dict[str, float] = None,
    chunk_words: int = 200,
    overlap: int = 20,
) -> str:
    """DuckDB mirror of :func:`run_curation_v2` over a deterministic
    split of the one driver table (training = docs_pred, benchmark =
    bench_pred — same convention as oracle_decontaminate_sql): the
    stage oracles chain as CTEs, so the composition gate is exactly the
    conjunction of the individually-green stage gates."""
    dc = oracle_decontaminate_sql(table, docs_pred, bench_pred)
    sc = oracle_scrub_pii_sql("kept")
    return f"""
WITH train AS (SELECT * FROM {table} WHERE {docs_pred}),
contaminated AS (
  SELECT doc_id FROM ({dc}) _dc WHERE contaminated
),
kept AS (
  SELECT d.* FROM train d
{_oracle_survivor_where("train", rates)}
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
scrubbed AS (
  SELECT doc_id, text_scrubbed AS text FROM ({sc}) _sc
),
{_oracle_chunk_ctes("scrubbed", chunk_words, overlap)}"""


def run_curation_v3(
    docs: DataFrame,
    benchmark: DataFrame,
    rates: dict[str, float] = None,
    chunk_words: int = 200,
    overlap: int = 20,
    span_tokens: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Round-8 curation flow — v2 plus the two r8 text stages:

        gate → sample → canonical dedup → decontaminate
             → LONG-SPAN SCRUB (ExactSubstr: corpus-wide duplicated
               ≥ span_tokens-token spans removed from survivors)
             → scrub PII → chunk → BPE TOKEN LEDGER per chunk

    Composition order is still the cost order: the long-span gram
    count, like keep-longest and decontamination, runs against the
    FULL training corpus (a span duplicated across a gated-out doc and
    a survivor must still be caught), but the per-doc rewrite is only
    JOINED for survivors; PII scrubbing rewrites survivors after span
    removal (scrubbing first would split spans); the BPE count — the
    budget a trainer actually pays — is a row-local codegen'd
    expression over each emitted chunk. Output
    (doc_id, chunk_idx, chunk_text, n_chunk_words, n_bpe_tokens)."""
    despanned_text = long_dup_spans(
        docs, text_col, id_col, min_tokens=span_tokens
    ).select(F.col(id_col), F.col("clean_text"))
    kept = (
        _uncontaminated(
            _survivors(docs, rates, text_col, id_col),
            docs, benchmark, text_col, id_col,
        )
        .join(despanned_text, id_col)
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
    )
    chunks = _scrub_and_chunk(kept, chunk_words, overlap, text_col, id_col)
    return chunks.withColumn(
        "n_bpe_tokens", F.expr(bpe_count_expr("chunk_text", "spark"))
    )


def oracle_curation_v3_sql(
    table: str = "documents",
    docs_pred: str = "doc_id % 5 <> 0",
    bench_pred: str = "doc_id % 5 = 0",
    rates: dict[str, float] = None,
    chunk_words: int = 200,
    overlap: int = 20,
    span_tokens: int = 15,
) -> str:
    """DuckDB mirror of :func:`run_curation_v3`: the v2 CTE chain with
    the long-span oracle spliced in before scrubbing and the BPE count
    expression on each emitted chunk."""
    step = chunk_words - overlap
    dc = oracle_decontaminate_sql(table, docs_pred, bench_pred)
    ls = oracle_long_dup_spans_sql("text", "train", min_tokens=span_tokens)
    sc = oracle_scrub_pii_sql("kept")
    return f"""
WITH train AS (SELECT * FROM {table} WHERE {docs_pred}),
contaminated AS (
  SELECT doc_id FROM ({dc}) _dc WHERE contaminated
),
despanned AS (SELECT doc_id, clean_text FROM ({ls}) _ls),
kept AS (
  SELECT d.doc_id, ds.clean_text AS text FROM train d
  JOIN despanned ds ON ds.doc_id = d.doc_id
{_oracle_survivor_where("train", rates)}
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
scrubbed AS (
  SELECT doc_id, text_scrubbed AS text FROM ({sc}) _sc
),
w AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM scrubbed
  WHERE text IS NOT NULL
),
e AS (
  SELECT doc_id, ws, unnest(generate_series(0,
           greatest(1, ceil((len(ws) - {overlap}) / {step})::INT) - 1)) AS i
  FROM w
),
chunks AS (
  SELECT doc_id, i::BIGINT AS chunk_idx,
         array_to_string(ws[i * {step} + 1 : i * {step} + {chunk_words}],
                         ' ') AS chunk_text,
         len(ws[i * {step} + 1 : i * {step} + {chunk_words}])::BIGINT
           AS n_chunk_words
  FROM e
)
SELECT doc_id, chunk_idx, chunk_text, n_chunk_words,
       {bpe_count_expr('chunk_text', 'duckdb')} AS n_bpe_tokens
FROM chunks
"""
