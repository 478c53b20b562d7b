"""Deduplication operators for the training-data pipeline.

Not in the reference (a parse-only library) — mandated by the
large-scale corpus pipeline the engine serves. Everything is built
from JVM-side ``pyspark.sql.functions`` (whole-stage codegen, no
Python in the hot path):

* exact dedup        — md5 hash group-by (one shuffle on the hash)
* MinHash signatures — row-local higher-order exprs (no shuffle, no
  explode); k minimums over word-shingle md5 hashes
* LSH candidate pairs— band → in-bucket pairs (the one necessary
  shuffle; at 100 TB this is the canonical distributed MinHash-LSH
  layout, band key is uniformly distributed by construction so no
  skew). Every bucketed pair operator (LSH, MinHash estimate, SimHash
  and 64-bit Hamming) generates its pairs in ``_bucket_pairs``
* SimHash            — row-local 32-bit fingerprint via per-bit
  majority over word hashes (higher-order filter, no explode)
* n-gram Jaccard     — exact pairwise similarity over candidate pairs

Each operator has an ``oracle_*_sql`` companion producing the
equivalent DuckDB SQL (the driver's correctness gate). Hashes are
md5-hex based in BOTH engines so results are bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import release_checkpoint

# ---------------------------------------------------------------------------
# exact dedup


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """One row per distinct text: keeper id (min), group size."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("group_size"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: rows of ``new_docs`` whose exact text
    hash does not already appear in ``seen`` (the running corpus /
    its hash manifest — only a ``text_hash`` column is required if the
    full rows aren't at hand). LEFT ANTI join on md5: one shuffle on a
    uniform key, or a broadcast when the manifest is small; at corpus
    scale the manifest side is a bucketed hash table and the join
    co-locates. Within-batch duplicates are also collapsed (min id
    kept) so the output is ingest-safe on its own."""
    seen_hashes = (
        seen.select(F.col("text_hash"))
        if "text_hash" in seen.columns
        else seen.select(F.md5(F.col(text_col)).alias("text_hash"))
    ).distinct()
    hashed = new_docs.withColumn("text_hash", F.md5(F.col(text_col)))
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash").orderBy(id_col)
    firsts = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return firsts.join(seen_hashes, "text_hash", "anti").drop("text_hash")


def oracle_incremental_dedup_sql(
    table: str = "documents",
    new_pred: str = "doc_id % 5 <> 0",
    seen_pred: str = "doc_id % 5 = 0",
    select: str = "doc_id, text, lang, source, n_chars",
) -> str:
    """Mirror over a deterministic split of one table (the driver has a
    single documents table; new = 4/5 of it, seen = 1/5).

    NOT EXISTS, not NOT IN: with any NULL seen-side hash (NULL text →
    md5 NULL) a NOT IN predicate evaluates NULL for *every* row and the
    oracle would return 0 rows, and a NULL-text new doc would be dropped
    while Spark's anti-join retains null-key rows. NOT EXISTS has
    anti-join semantics on both engines (ADVICE r3)."""
    return f"""
WITH seen AS (
  SELECT DISTINCT md5(text) AS text_hash FROM {table} WHERE {seen_pred}
),
firsts AS (
  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
    AS _rn
  FROM {table} WHERE {new_pred}
)
SELECT {select} FROM firsts
WHERE _rn = 1
  AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.text_hash = md5(firsts.text))
"""


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    hits_only: bool = False,
) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing any word
    ``n``-gram with an evaluation set (the standard 13-gram overlap
    rule from GPT-3's appendix; exact-match grams, md5-keyed). The
    benchmark side reduces to DISTINCT gram hashes; the docs side
    explodes per-doc DISTINCT grams, bounding rows at unique grams per
    doc. Output (doc_id, n_hits, contaminated) for ALL docs — the
    keep/drop decision stays with the caller.

    ``hits_only=True`` returns only the contaminated docs
    (doc_id, n_hits) and SKIPS the marry-back left join — composers
    that anti-join the hit list against their own corpus lineage
    (plans/curation.run_curation_v2) would otherwise pay an extra
    id-only corpus scan that Catalyst cannot eliminate (~8 TB of ids
    at 10^12 docs).

    The manifest join carries no broadcast hint, so AQE chooses from
    runtime stats: a small manifest (one benchmark suite) still
    broadcast-joins, but a union of many benchmark suites (tens of
    millions of distinct 13-gram hashes) degrades to a shuffle join
    instead of OOMing the driver or tripping the broadcast size limit.
    The gram_hash key is md5-uniform, so the shuffle fallback is
    skew-free (r3 verdict "What's wrong" #1)."""
    sh = _spark_shingles(text_col, n)
    bench_grams = benchmark.select(
        F.explode(
            F.expr(f"array_distinct(transform({sh}, s -> md5(s)))")
        ).alias("gram_hash")
    ).distinct()
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(f"array_distinct(transform({sh}, s -> md5(s)))")
        ).alias("gram_hash"),
    )
    hits = (
        doc_grams.join(bench_grams, "gram_hash")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    if hits_only:
        return hits
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def oracle_decontaminate_sql(
    table: str = "documents",
    docs_pred: str = "doc_id % 5 <> 0",
    bench_pred: str = "doc_id % 5 = 0",
    n: int = 13,
) -> str:
    """Mirror over a deterministic split of the one driver table
    (training = 4/5, benchmark = 1/5)."""
    sh = _duck_shingles("text", n)
    return f"""
WITH bench AS (
  SELECT DISTINCT unnest(list_distinct(list_transform({sh}, s -> md5(s))))
    AS gram_hash
  FROM {table} WHERE {bench_pred}
),
dg AS (
  SELECT doc_id, unnest(list_distinct(list_transform({sh}, s -> md5(s))))
    AS gram_hash
  FROM {table} WHERE {docs_pred}
),
hits AS (
  SELECT dg.doc_id, count(*)::BIGINT AS n_hits
  FROM dg JOIN bench ON dg.gram_hash = bench.gram_hash
  GROUP BY dg.doc_id
)
SELECT t.doc_id,
       coalesce(n_hits, 0)::BIGINT AS n_hits,
       coalesce(n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM {table} WHERE {docs_pred}) t
LEFT JOIN hits ON t.doc_id = hits.doc_id
"""


def _bloom_positions(text_col: str, k: int, m: int) -> str:
    """k bloom bit positions from disjoint 8-hex windows of ONE md5 of
    the text (one hash per row; k <= 4). 8 hex chars < 2^32 fit bigint
    exactly on both engines."""
    assert 1 <= k <= 4
    return (
        f"array_distinct(transform(sequence(0, {k - 1}), "
        f"j -> cast(conv(substring(md5({text_col}), j * 8 + 1, 8), 16, 10) "
        f"as bigint) % {m}))"
    )


def bloom_manifest(
    seen: DataFrame, text_col: str = "text", k: int = 4, m: int = 1 << 20
) -> DataFrame:
    """The set-bit rows of a Bloom filter over ``seen`` texts: DISTINCT
    bit positions, **bounded at m rows no matter the corpus size** —
    the compact "have I seen this doc" manifest for incremental ingest
    at 10^12-doc scale (the md5 manifest of :func:`incremental_dedup`
    grows with the corpus; this one saturates at m). Output column
    ``bloom_pos``."""
    return (
        seen.where(F.col(text_col).isNotNull())
        .select(
            F.explode(F.expr(_bloom_positions(text_col, k, m))).alias(
                "bloom_pos"
            )
        )
        .distinct()
    )


def bloom_incremental(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    m: int = 1 << 20,
) -> DataFrame:
    """Bloom-filter incremental dedup screen: flag each new doc as
    possibly-seen (ALL k bit positions present in the manifest) or
    definitely-new (no false negatives — the safe side for ingest; the
    false-positive rate is the standard (1 - e^(-kn/m))^k, so callers
    route possibly-seen docs to the exact md5 check instead of dropping
    them blind). ``seen`` may be the raw corpus or a precomputed
    :func:`bloom_manifest` (column ``bloom_pos``). The manifest join
    key is hash-uniform and the manifest is <= m rows — always
    broadcastable, zero skew. Output (doc_id, n_pos, n_hit,
    possibly_seen) for ALL new docs; NULL-text docs get n_pos = 0 and
    possibly_seen = false."""
    manifest = (
        seen.select("bloom_pos")
        if "bloom_pos" in seen.columns
        else bloom_manifest(seen, text_col, k, m)
    )
    exploded = (
        new_docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col), F.expr(_bloom_positions(text_col, k, m)).alias("ps")
        )
        .select(
            id_col,
            F.size("ps").cast("bigint").alias("n_pos"),
            F.explode("ps").alias("p"),
        )
    )
    hits = (
        exploded.join(
            manifest.withColumnRenamed("bloom_pos", "p").withColumn(
                "hit", F.lit(1)
            ),
            "p",
            "left",
        )
        .groupBy(id_col, "n_pos")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
    )
    return (
        new_docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_pos"), F.lit(0)).cast("bigint").alias("n_pos"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            (
                (F.coalesce(F.col("n_pos"), F.lit(0)) > 0)
                & (F.coalesce(F.col("n_hit"), F.lit(0))
                   == F.coalesce(F.col("n_pos"), F.lit(0)))
            ).alias("possibly_seen"),
        )
    )


def oracle_bloom_incremental_sql(
    table: str = "documents",
    new_pred: str = "doc_id % 5 <> 0",
    seen_pred: str = "doc_id % 5 = 0",
    k: int = 4,
    m: int = 1 << 20,
) -> str:
    """DuckDB mirror: identical md5-window bit positions (the repo's
    proven ('0x'||hex)::BIGINT conversion), same all-k membership
    rule."""
    pos = (
        f"list_distinct(list_transform(range(0, {k}), "
        f"j -> ('0x' || substr(md5(text), j * 8 + 1, 8))::BIGINT % {m}))"
    )
    return f"""
WITH bits AS (
  SELECT DISTINCT unnest({pos}) AS p
  FROM {table} WHERE ({seen_pred}) AND text IS NOT NULL
),
np AS (
  SELECT doc_id, {pos} AS ps
  FROM {table} WHERE ({new_pred}) AND text IS NOT NULL
),
e AS (SELECT doc_id, len(ps) AS n_pos, unnest(ps) AS p FROM np),
hits AS (
  SELECT e.doc_id, e.n_pos,
         sum(CASE WHEN bits.p IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM e LEFT JOIN bits ON e.p = bits.p
  GROUP BY e.doc_id, e.n_pos
)
SELECT t.doc_id,
       coalesce(n_pos, 0)::BIGINT AS n_pos,
       coalesce(n_hit, 0)::BIGINT AS n_hit,
       coalesce(n_pos, 0) > 0 AND coalesce(n_hit, 0) = coalesce(n_pos, 0)
         AS possibly_seen
FROM (SELECT doc_id FROM {table} WHERE {new_pred}) t
LEFT JOIN hits ON t.doc_id = hits.doc_id
"""


def _normalize_text_sql(text_col: str, dialect: str = "spark") -> str:
    """The canonicalization both engines implement from one template:
    lowercase, strip non-alphanumeric to spaces, collapse whitespace
    runs, trim. The standard pre-dedup normalizer (near-identical docs
    differing in case/punct/spacing collapse to one key). ASCII-scoped
    regex — both engines agree on the class; the corpus contract is
    ASCII text. Dialect-split because the regexp_replace signatures
    differ: Spark replaces globally by default (4th arg is POSITION),
    DuckDB needs the explicit 'g' option."""
    g = ", 'g'" if dialect == "duckdb" else ""
    return (
        "trim(regexp_replace(regexp_replace(lower("
        + text_col
        + f"), '[^a-z0-9]+', ' '{g}), ' +', ' '{g}))"
    )


def normalized_exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup over NORMALIZED text (case / punctuation /
    whitespace-insensitive): one row per normalized-text hash with the
    keeper id and group size — catches the re-encoded/re-punctuated
    duplicates md5-exact dedup misses, still one uniform-key shuffle."""
    norm = _normalize_text_sql(text_col)
    return (
        docs.select(
            F.expr(f"md5({norm})").alias("norm_hash"), F.col(id_col)
        )
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("group_size"),
        )
    )


def oracle_normalized_exact_dedup_sql(table: str = "documents") -> str:
    norm = _normalize_text_sql("text", "duckdb")
    return (
        f"SELECT md5({norm}) AS norm_hash, min(doc_id) AS keep_id, "
        f"count(*)::BIGINT AS group_size FROM {table} GROUP BY 1"
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication — the CCNet/RefinedWeb
    boilerplate rule: a line occurring in >= ``min_docs`` DISTINCT
    documents is boilerplate (cookie banners, newsletter prompts,
    shared footers) and is stripped from EVERY document, preserving
    the order of surviving lines. ``min_docs`` is the caller's
    threshold (typically a fraction of the corpus size from a prior
    count). Output (doc_id, text_clean, n_lines_kept,
    n_lines_removed) for all docs; NULL text → empty text_clean.

    Plan shape: one posexplode (row-local) → one groupBy on the line
    value with a map-side-partial distinct-doc count, filtered to the
    FREQUENT lines only; reassembly is one per-doc groupBy, sorting
    each doc's own lines by position (never a global order).

    The manifest join carries no broadcast hint, so AQE chooses from
    runtime stats: on a normal corpus the manifest is tiny and still
    broadcast-joins, but a template-spam corpus where a large share of
    distinct lines clears the threshold degrades to a shuffle anti-join
    (uniform line key, no skew) instead of OOMing — the same size-gate
    discipline as :func:`decontaminate`."""
    lines = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "ln"),
    )
    freq = (
        lines.groupBy("ln")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("ln")
    )
    kept = lines.join(freq, "ln", "anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.expr(
            "concat_ws('" + sep.replace("\n", "\\n") + "', "
            "transform(array_sort(collect_list(struct(pos, ln))), s -> s.ln))"
        ).alias("text_clean"),
        F.count("*").cast("bigint").alias("n_lines_kept"),
    )
    n_lines = docs.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(),
            F.size(F.split(F.col(text_col), sep)),
        ).otherwise(F.lit(0)).cast("bigint").alias("n_lines"),
    )
    return (
        n_lines.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("bigint").alias(
                "n_lines_kept"
            ),
            (F.col("n_lines") - F.coalesce(F.col("n_lines_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_lines_removed"),
        )
    )


def oracle_boilerplate_lines_sql(
    min_docs: int,
    lines_expr: str,
    table: str = "documents",
) -> str:
    """DuckDB mirror over a synthesized multi-line text (``lines_expr``
    must be the same SQL both engines evaluate). chr(10) line sep."""
    return f"""
WITH src AS (SELECT doc_id, {lines_expr} AS text FROM {table}),
l AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM src),
lines AS (
  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, unnest(ls) AS ln
  FROM l
),
freq AS (
  SELECT ln FROM lines GROUP BY ln
  HAVING count(DISTINCT doc_id) >= {min_docs}
),
kept AS (
  SELECT lines.* FROM lines
  WHERE NOT EXISTS (SELECT 1 FROM freq WHERE freq.ln = lines.ln)
),
rebuilt AS (
  SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT src.doc_id,
       coalesce(text_clean, '') AS text_clean,
       coalesce(n_kept, 0)::BIGINT AS n_lines_kept,
       (len(str_split(src.text, chr(10))) - coalesce(n_kept, 0))::BIGINT
         AS n_lines_removed
FROM src LEFT JOIN rebuilt ON src.doc_id = rebuilt.doc_id
"""


def oracle_exact_dedup_sql(table: str = "documents") -> str:
    return (
        "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, "
        f"count(*) AS group_size FROM {table} GROUP BY md5(text)"
    )


def dom_normalized_dedup(parsed_with_tree_json: DataFrame, url_col: str = "url"):
    """DOM-normalized exact dedup: hash of the canonical nested-tree
    encoding (``tree_json``). Catches pages identical after parsing —
    differing raw bytes (attribute quoting, self-closing style, entity
    spelling, tag case) but the same DOM. Input: a frame bearing
    ``tree_json`` (``parse_and_extract(..., with_tree_json=True)``)."""
    return (
        parsed_with_tree_json.select(
            F.md5(F.col("tree_json")).alias("dom_hash"), F.col(url_col)
        )
        .groupBy("dom_hash")
        .agg(F.min(url_col).alias("keep_url"), F.count("*").alias("group_size"))
    )


# ---------------------------------------------------------------------------
# shingling (shared definition: word k-grams, space-joined)


def _spark_shingles(text_col: str, k: int) -> str:
    """SQL expr: array of word k-gram shingles (empty if < k words)."""
    words = f"split({text_col}, ' ')"
    return (
        f"case when size({words}) < {k} then array() "
        f"else transform(sequence(0, size({words}) - {k}), "
        f"i -> array_join(slice({words}, i + 1, {k}), ' ')) end"
    )


def _duck_shingles(text_col: str, k: int) -> str:
    words = f"str_split({text_col}, ' ')"
    return (
        f"case when len({words}) < {k} then [] "
        f"else list_transform(range(0, len({words}) - {k} + 1), "
        f"i -> array_to_string({words}[i + 1 : i + {k}], ' ')) end"
    )


# ---------------------------------------------------------------------------
# MinHash


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle: int = 5,
) -> DataFrame:
    """(id, sig array<string>[k]) — sig_i = min over shingles of
    md5('{i}:' || shingle). Row-local, no shuffle.

    Single-pass ``aggregate`` over the shingle array (nested lambda
    keeps a running k-vector of minima): 5× faster than k independent
    ``array_min(transform(...))`` projections, which Catalyst partially
    collapses into repeated shingle computation. Bit-identical output
    ('zz' sorts above every md5 hex digit; empty shingle lists yield
    null signatures, matching DuckDB's list_min([])).

    The shingle array is lambda-bound so the empty-guard and the
    aggregate share ONE evaluation (CollapseProject + codegen-fallback
    higher-order fns would otherwise recompute it per reference).

    r9 note: a hashlib-based mapInArrow implementation was tried and
    REVERTED — with the in-bucket pair generation every LSH consumer
    evaluates the signature exactly once, and the ~0.4 s per-stage
    Python tax exceeded the interpreted-HOF cost it saved (A/B: HOF
    sigs 0.69-1.10 s vs Python sigs 0.99-1.27 s across
    clusters/pairs/keep_longest at sf0.1)."""
    sh = _spark_shingles(text_col, shingle)
    init = f"transform(sequence(0, {k - 1}), i -> 'zz')"
    sig = (
        f"element_at(transform(array({sh}), _sh -> "
        f"case when size(_sh) = 0 then "
        f"transform(sequence(0, {k - 1}), i -> cast(null as string)) "
        f"else aggregate(_sh, {init}, (acc, s) -> "
        f"transform(sequence(0, {k - 1}), "
        f"i -> least(acc[i], md5(cast(i as string) || ':' || s)))) end), 1)"
    )
    return docs.select(F.col(id_col), F.expr(sig).alias("sig"))


def oracle_minhash_sql(
    table: str = "documents", k: int = 16, shingle: int = 5
) -> str:
    sh = _duck_shingles("text", shingle)
    sig = ", ".join(
        f"list_min(list_transform(_sh, s -> md5('{i}:' || s)))" for i in range(k)
    )
    return (
        f"SELECT doc_id, [{sig}] AS sig FROM "
        f"(SELECT doc_id, {sh} AS _sh FROM {table})"
    )


# pairwise LSH output is quadratic per bucket: a bucket of B near-identical
# docs (boilerplate cluster, mirrored page) yields B²/2 pairs. Above this
# cap the pairs carry no information pairwise Jaccard verify could use —
# route those buckets through lsh_clusters (O(B) representative edges).
DEFAULT_MAX_BUCKET = 64


def _lsh_banded(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    bands: int,
    shingle: int,
    keep_sig: bool = False,
) -> DataFrame:
    """(id, band, bh) — one row per (doc, band); band hash = md5 of the
    r consecutive signature entries. Docs with null signatures (< shingle
    words) are EXCLUDED: they are not near-duplicates of each other, and
    the DuckDB oracle's null-propagating ``||`` never matches them either
    (keeping the engines agreeing instead of Spark's concat_ws
    silently collapsing them all into the md5('') mega-bucket).

    Plan-shape note: the signature expression is bound ONCE as a lambda
    variable (``transform(array(SIG), s -> …)``). Referencing the sig
    column 16 times in a downstream projection lets CollapseProject
    inline the full MinHash aggregate into every reference, and
    higher-order functions are codegen-fallback (no subexpression
    elimination) — measured ~10× recompute before this binding."""
    assert k % bands == 0
    r = k // bands
    sigs = minhash_signatures(docs, text_col, id_col, k, shingle)
    bands_arr = (
        "element_at(transform(array(sig), s -> "
        "case when s[0] IS NULL then "
        "cast(array() as array<struct<band:int,bh:string>>) "
        f"else transform(sequence(0, {bands - 1}), b -> "
        "named_struct('band', cast(b as int), "
        f"'bh', md5(concat_ws('|', slice(s, b * {r} + 1, {r}))))) end), 1)"
    )
    exploded = sigs.select(
        F.col(id_col), F.col("sig"), F.explode(F.expr(bands_arr)).alias("bb")
    )
    cols = [id_col, "bb.band", "bb.bh"] + (["sig"] if keep_sig else [])
    return exploded.select(*cols)


def _bucket_pairs(
    rows: DataFrame,
    bucket: list[str],
    member: dict[str, str],
    fields: str = "",
    keep: str | None = None,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The one in-bucket pair generator behind every bucketed pair
    operator. ``rows`` has one row per (item, bucket); ``bucket`` names
    the bucket-key columns. ``member`` maps struct field → column with
    the id field ``i`` FIRST, so each sorted member list is in id order
    and every pair has ``id_a < id_b``. ``fields`` adds
    ``named_struct`` fields (``'name', expr`` over members ``x``, ``y``)
    after ``id_a``, ``id_b``; ``keep`` is a predicate over the pair
    ``p``. Output: ``id_a``, ``id_b`` and the ``fields``, distinct.

    Buckets of more than ``max_bucket`` rows emit no pairs: they are
    (near-)identical clusters whose B²/2 edges carry nothing a pairwise
    verify could use (:func:`lsh_clusters` labels them in O(B)). The
    size is a ``count(*)`` window over the bucket, which streams (and
    spills) a mega-bucket instead of collecting it, and the groupBy
    reuses its hashpartitioning: one exchange for the bucketing, one
    for the final ``distinct``, and no join (a bucket self-join's
    second leg is broadcast and re-runs the whole upstream lineage). A
    row with a null id counts toward its bucket's size but never pairs
    — exactly the oracles' ``small`` CTE and ``a.doc_id < b.doc_id``."""
    if not isinstance(max_bucket, int) or max_bucket < 1:
        raise ValueError(
            f"max_bucket must be a positive int, got {max_bucket!r}"
        )
    from pyspark.sql import Window

    capped = rows.withColumn(
        "_bsz", F.count("*").over(Window.partitionBy(*bucket))
    ).where(F.col("_bsz") <= max_bucket)
    m = F.struct(*[F.col(c).alias(f) for f, c in member.items()])
    grp = capped.groupBy(*bucket).agg(
        F.sort_array(
            F.collect_list(F.when(F.col(member["i"]).isNotNull(), m))
        ).alias("_m")
    )
    pairs = (
        "transform(slice(_m, i + 2, size(_m)), y -> "
        f"named_struct('id_a', x.i, 'id_b', y.i{', ' if fields else ''}"
        f"{fields}))"
    )
    if keep is not None:
        pairs = f"filter({pairs}, p -> {keep})"
    return (
        grp.select(
            F.explode(F.expr(f"flatten(transform(_m, (x, i) -> {pairs}))"))
            .alias("p")
        )
        .select("p.*")
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle: int = 5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band of r=k/bands
    consecutive signature entries. Output (id_a, id_b) with id_a < id_b,
    distinct. The (band, bh) bucketing is the single shuffle; pairs
    come from :func:`_bucket_pairs`, so band buckets larger than
    ``max_bucket`` emit none."""
    banded = _lsh_banded(docs, text_col, id_col, k, bands, shingle)
    return _bucket_pairs(
        banded, ["band", "bh"], {"i": id_col}, max_bucket=max_bucket
    )


def minhash_jaccard_estimate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle: int = 5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash Jaccard estimator over the LSH candidate pairs: the
    fraction of agreeing signature components (the standard unbiased
    estimator — E[matches/k] = J; Broder, "On the resemblance and
    containment of documents", 1997). The cheap O(k) middle filter
    between LSH candidate generation and the exact shingle-set verify
    (:func:`ngram_jaccard_pairs`): at corpus scale you estimate on all
    candidates and run the exact verify only above a threshold.
    Output (id_a, id_b, jaccard_est).

    Plan shape: the signatures ride THROUGH the banding (keep_sig)
    into the (id, sig) bucket members of :func:`_bucket_pairs`, and the
    estimates are computed row-locally per pair — no pairs ⋈ sigs ⋈
    sigs join (which planned as 4 scans + 3 joins)."""
    banded = _lsh_banded(
        docs, text_col, id_col, k, bands, shingle, keep_sig=True
    )
    matches = (
        "aggregate(zip_with(x.s, y.s, (u, v) -> if(u <=> v, 1, 0)), "
        "0, (acc, w) -> acc + w)"
    )
    return _bucket_pairs(
        banded,
        ["band", "bh"],
        {"i": id_col, "s": "sig"},
        fields=f"'jaccard_est', round(cast({matches} as double) / {k}, 6)",
        max_bucket=max_bucket,
    )


def _oracle_small_cte(cols: str, src: str, keys: str, max_bucket: int) -> str:
    """The oracles' bucket cap, the DuckDB twin of :func:`_bucket_pairs`'s
    ``count(*) OVER`` cap: a ``small`` CTE holding ``cols`` of the rows
    of ``src`` whose bucket (``keys``) has at most ``max_bucket`` rows."""
    return (
        f", small AS (SELECT {cols} FROM ("
        f"SELECT *, count(*) OVER (PARTITION BY {keys}) AS _bsz "
        f"FROM {src}) WHERE _bsz <= {max_bucket})"
    )


def oracle_minhash_jaccard_sql(
    table: str = "documents", k: int = 16, bands: int = 4, shingle: int = 5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    cte = _oracle_banded_cte(table, k, bands, shingle) + _oracle_small_cte(
        "doc_id, band, bh", "banded", "band, bh", max_bucket
    )
    terms = " + ".join(
        f"(case when sa.sig[{j + 1}] IS NOT DISTINCT FROM sb.sig[{j + 1}] "
        "then 1 else 0 end)"
        for j in range(k)
    )
    return f"""
WITH {cte},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM small a JOIN small b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       round(cast(({terms}) as double) / {k}, 6) AS jaccard_est
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_a
JOIN sigs sb ON sb.doc_id = p.id_b
"""


def lsh_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle: int = 5,
) -> DataFrame:
    """Scale path for duplicate-heavy corpora: label every doc with a
    cluster representative instead of materializing pairwise edges.

    cluster_id = min over the doc's band buckets of (min doc id in that
    bucket); docs sharing any band bucket with a lower-id doc point at
    it. Per bucket this is O(B) rows (one groupBy + one join), never
    B²/2 — the fix for the r1 verdict's quadratic-bucket blowup. Output
    (doc_id, cluster_id, is_keeper) covering EVERY input doc (short/
    null-sig docs are their own cluster).

    This is single-round min-label propagation: exact-dup clusters (the
    pathological case) converge in this one round because equal texts
    share every bucket. Chained near-dup clusters (A~B~C, A!~C) may need
    :func:`lsh_connected_components` to fully merge.

    Plan shape: bucket representative via a window over (band, bh)
    (one shuffle, no groupBy+join — a join would recompute the whole
    MinHash lineage for the second input), then one groupBy on the id
    (:func:`_bucket_min_labels`)."""
    banded = _lsh_banded(docs, text_col, id_col, k, bands, shingle)
    labels = _bucket_min_labels(banded, id_col)
    return (
        docs.select(id_col)
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("lbl"), F.col(id_col)).alias("cluster_id"),
            (F.coalesce(F.col("lbl"), F.col(id_col)) == F.col(id_col)).alias(
                "is_keeper"
            ),
        )
    )


def _bucket_min_labels(banded: DataFrame, id_col: str) -> DataFrame:
    """(``id_col``, lbl): one round of min-label propagation over the
    band buckets of ``banded`` (``id_col``, band, bh) — each doc's label
    is the min over its buckets of the bucket's min id. The labels of
    :func:`lsh_clusters` and the seed of
    :func:`lsh_connected_components`."""
    from pyspark.sql import Window

    return (
        banded.withColumn(
            "_rep", F.min(id_col).over(Window.partitionBy("band", "bh"))
        )
        .groupBy(id_col)
        .agg(F.min("_rep").alias("lbl"))
    )


def _cluster_lengths(
    docs: DataFrame, text_col: str, id_col: str, k: int, bands: int,
    shingle: int,
) -> DataFrame:
    """(``id_col``, cluster_id, _len): the :func:`lsh_clusters` label
    and text length of each doc, the input of both keeper forms."""
    clusters = lsh_clusters(docs, text_col, id_col, k, bands, shingle).select(
        id_col, "cluster_id"
    )
    return clusters.join(
        docs.select(id_col, F.length(text_col).alias("_len")), id_col
    )


def keep_longest(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle: int = 5,
) -> DataFrame:
    """Canonical-document selection — the policy step AFTER clustering:
    within each LSH cluster keep the longest text (ties → smallest id),
    the usual crawl heuristic (the longest capture is the least
    truncated). Output (doc_id, cluster_id, keep). One extra shuffle on
    cluster_id beyond lsh_clusters; the per-cluster window is O(cluster
    size), never pairwise."""
    from pyspark.sql import Window

    scored = _cluster_lengths(docs, text_col, id_col, k, bands, shingle)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("_len"), F.asc(id_col)
    )
    return scored.withColumn("rn", F.row_number().over(w)).select(
        F.col(id_col), "cluster_id", (F.col("rn") == 1).alias("keep")
    )


def lsh_keepers(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle: int = 5,
) -> DataFrame:
    """The canonical-document ID SET of :func:`keep_longest` — exactly
    the ids whose ``keep`` flag is true — computed with a map-side
    ``groupBy cluster_id`` argmax instead of the full per-row window
    (r9): ``min(struct(len IS NULL, -len, id))`` is lexicographically
    the ``ORDER BY len DESC NULLS LAST, id ASC`` head of each cluster,
    and partial aggregation collapses clusters before the exchange
    (the window shipped and sorted every member row). For composers
    that only need the survivor set (curation's semi join); callers
    that need the per-doc keep flag use :func:`keep_longest`."""
    scored = _cluster_lengths(docs, text_col, id_col, k, bands, shingle)
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    F.expr("_len IS NULL").alias("nl"),
                    (-F.col("_len")).alias("negl"),
                    F.col(id_col).alias("i"),
                )
            ).alias("_m")
        )
        .select(F.col(f"_m.i").alias(id_col))
    )


def oracle_keep_longest_sql(
    table: str = "documents", k: int = 16, bands: int = 4, shingle: int = 5
) -> str:
    return f"""
WITH cl AS ({oracle_lsh_clusters_sql(table, k, bands, shingle)}),
j AS (
  SELECT cl.doc_id, cl.cluster_id, length(t.text) AS _len
  FROM cl JOIN {table} t ON cl.doc_id = t.doc_id
),
r AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY _len DESC NULLS LAST, doc_id) AS rn
  FROM j
)
SELECT doc_id, cluster_id, rn = 1 AS keep FROM r
"""


def lsh_connected_components(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle: int = 5,
    max_iter: int = 10,
) -> DataFrame:
    """Full connected components over the band-bucket graph: min-label
    propagation over the doc–bucket graph (:func:`_propagate_min_labels`;
    each round is the bucket-min of member labels, then the doc-min of
    bucket labels — two shuffles). Each round carries a label one
    doc–doc hop, so it takes O(diameter) rounds: dup clusters are
    near-cliques, and short edit chains (v1 → v2 → v3) converge in a
    few rounds. Output (doc_id, cluster_id).

    Iterative, but ``max_iter`` is a compile-time constant, so the
    rounds unroll to chained CTEs for the DuckDB oracle
    (oracle_lsh_cc_sql): min-label propagation is monotone and
    idempotent after convergence, so the early-stopped Spark loop and
    the fixed-depth unroll produce identical labels. Also pytest-gated
    against a brute-force union-find on small inputs. The result is
    materialized via ``localCheckpoint(eager=True)`` (truncated
    lineage) so the loop's frames can be released immediately; the
    result's blocks are reclaimed by Spark's ContextCleaner once the
    returned frame is unreferenced — no manual unpersist obligation on
    callers.

    The banded membership is persisted for the loop (each round reads
    it twice; without a persist every round would recompute the MinHash
    lineage from scratch)."""
    banded = _lsh_banded(docs, text_col, id_col, k, bands, shingle)
    bucket_membership = banded.select(id_col, "band", "bh").persist()

    def step(labels: DataFrame) -> DataFrame:
        # bucket label = min member label; doc label = min bucket label
        with_lbl = bucket_membership.join(labels, id_col)
        bucket_min = with_lbl.groupBy("band", "bh").agg(
            F.min("lbl").alias("blbl")
        )
        return (
            bucket_membership.join(bucket_min, ["band", "bh"])
            .groupBy(id_col)
            .agg(F.min("blbl").alias("lbl"))
        )

    # doc -> current label, seeded by the lsh_clusters round
    seed = _bucket_min_labels(bucket_membership, id_col)
    labels = _propagate_min_labels(seed, step, id_col, max_iter)
    out = (
        docs.select(id_col)
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("lbl"), F.col(id_col)).alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    bucket_membership.unpersist()
    release_checkpoint(labels)
    return out


def _oracle_banded_cte(
    table: str, k: int, bands: int, shingle: int
) -> str:
    """sigs + banded CTE bodies shared by the LSH pair/cluster oracles.
    Null signatures excluded, matching _lsh_banded."""
    r = k // bands
    inner = oracle_minhash_sql(table, k, shingle)
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        "md5(" + " || '|' || ".join(f"sig[{b * r + j + 1}]" for j in range(r)) + ") AS bh "
        f"FROM sigs WHERE sig[1] IS NOT NULL"
        for b in range(bands)
    )
    return f"sigs AS ({inner}), banded AS ({band_rows})"


def oracle_lsh_pairs_sql(
    table: str = "documents", k: int = 16, bands: int = 4, shingle: int = 5,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    cte = _oracle_banded_cte(table, k, bands, shingle) + _oracle_small_cte(
        "doc_id, band, bh", "banded", "band, bh", max_bucket
    )
    return (
        f"WITH {cte} "
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM small a JOIN small b "
        "ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id"
    )


def oracle_lsh_cc_sql(
    table: str = "documents", k: int = 16, bands: int = 4, shingle: int = 5,
    max_iter: int = 10,
) -> str:
    """Unrolled min-label propagation: round 0 seeds each doc with the
    min over its buckets of the bucket-min doc_id (same as the clusters
    oracle); round i+1 takes the min over the doc's buckets of the
    bucket-min of round-i labels. Fixed-depth unrolling equals the
    early-stopping Spark loop because propagation is idempotent once
    converged. Mirrors lsh_connected_components exactly."""
    cte = _oracle_banded_cte(table, k, bands, shingle)
    rounds = [
        """l0 AS (
  SELECT banded.doc_id, min(_rep) AS lbl
  FROM banded JOIN (SELECT band, bh, min(doc_id) AS _rep
                    FROM banded GROUP BY band, bh) reps
    ON banded.band = reps.band AND banded.bh = reps.bh
  GROUP BY banded.doc_id
)"""
    ]
    for i in range(1, max_iter + 1):
        rounds.append(
            f"""b{i} AS (
  SELECT banded.band, banded.bh, min(lbl) AS blbl
  FROM banded JOIN l{i - 1} ON banded.doc_id = l{i - 1}.doc_id
  GROUP BY banded.band, banded.bh
), l{i} AS (
  SELECT banded.doc_id, min(blbl) AS lbl
  FROM banded JOIN b{i}
    ON banded.band = b{i}.band AND banded.bh = b{i}.bh
  GROUP BY banded.doc_id
)"""
        )
    final = f"l{max_iter}"
    return (
        f"WITH {cte},\n" + ",\n".join(rounds) + f"""
SELECT t.doc_id, coalesce(lbl, t.doc_id) AS cluster_id
FROM {table} t LEFT JOIN {final} ON t.doc_id = {final}.doc_id
"""
    )


def oracle_lsh_clusters_sql(
    table: str = "documents", k: int = 16, bands: int = 4, shingle: int = 5
) -> str:
    cte = _oracle_banded_cte(table, k, bands, shingle)
    return f"""
WITH {cte},
reps AS (SELECT band, bh, min(doc_id) AS _rep FROM banded GROUP BY band, bh),
labels AS (
  SELECT banded.doc_id, min(_rep) AS _lbl
  FROM banded JOIN reps ON banded.band = reps.band AND banded.bh = reps.bh
  GROUP BY banded.doc_id
)
SELECT t.doc_id,
       coalesce(_lbl, t.doc_id) AS cluster_id,
       coalesce(_lbl, t.doc_id) = t.doc_id AS is_keeper
FROM {table} t LEFT JOIN labels ON t.doc_id = labels.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash (32-bit, word-level)

def _word_hashes(text_col: str, start_hex: int) -> str:
    """SQL expr: distinct-word 32-bit hashes from md5 hex chars
    [start_hex, start_hex+8) (1-based)."""
    return (
        f"transform(array_distinct(split({text_col}, ' ')), "
        f"w -> cast(conv(substring(md5(w), {start_hex}, 8), 16, 10) as bigint))"
    )


def _duck_word_hashes(start_hex: int) -> str:
    """DuckDB mirror of :func:`_word_hashes` over ``text``."""
    return (
        "list_transform(list_distinct(str_split(text, ' ')), "
        f"w -> ('0x' || substr(md5(w), {start_hex}, 8))::BIGINT)"
    )


def _bound_majority(wh_expr: str, bits_fn) -> str:
    """Evaluate the word-hash array ONCE (lambda binding — the same
    CollapseProject/no-CSE trap as LSH banding, measured 1.45× here)
    and fold the per-bit majority over it."""
    return f"element_at(transform(array({wh_expr}), a -> {bits_fn('a')}), 1)"


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """(id, simhash bigint) — bit i set iff >half of distinct word hashes
    have bit i set. Word hash = first 8 md5 hex chars as int (32 bits),
    identical in DuckDB. Row-local (no explode/shuffle)."""
    expr = _bound_majority(_word_hashes(text_col, 1), _majority_bits)
    return docs.select(F.col(id_col), F.expr(expr).alias("simhash"))


def oracle_simhash_sql(table: str = "documents") -> str:
    return (
        f"SELECT doc_id, ({_duck_majority_bits('_wh')}) AS simhash FROM "
        f"(SELECT doc_id, {_duck_word_hashes(1)} AS _wh FROM {table})"
    )


# ---------------------------------------------------------------------------
# duplicated-span detection (exact substring dedup at n-gram
# granularity — the span-level pass of "Deduplicating Training Data
# Makes Language Models Better"-style pipelines; suffix arrays find
# arbitrary-length repeats, this finds fixed-n repeats scalably)


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Word n-gram spans appearing in ≥ ``min_docs`` DISTINCT documents.
    Output (gram_hash, n_docs), n_docs descending then hash (the
    deterministic report form the oracle gates). Per-doc
    duplicate spans are collapsed before the shuffle (array_distinct),
    bounding the exploded row count at distinct spans per doc — which
    also means within-doc repetition is intentionally NOT counted (a
    per-(doc, gram) occurrence count would be count(*) == n_docs here,
    i.e. no information). The groupBy key is an md5 hash — uniform, no
    skew. A 100 TB run would add a count-min/bloom pre-filter stage to
    drop singleton grams before the shuffle; semantics are unchanged."""
    sh = _spark_shingles(text_col, n)
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.expr(f"array_distinct(transform({sh}, s -> md5(s)))")
        ).alias("gram_hash"),
    )
    return (
        grams.groupBy("gram_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), "gram_hash")
    )


def oracle_duplicate_spans_sql(
    table: str = "documents", n: int = 20, min_docs: int = 2
) -> str:
    sh = _duck_shingles("text", n)
    return f"""
WITH grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform({sh}, s -> md5(s))))
           AS gram_hash
  FROM {table}
)
SELECT gram_hash, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM grams GROUP BY gram_hash
HAVING count(DISTINCT doc_id) >= {min_docs}
ORDER BY n_docs DESC, gram_hash
"""


# ---------------------------------------------------------------------------
# SimHash-64 (two 32-bit halves: sign-safe in both engines' BIGINT) +
# Hamming candidate pairs via 16-bit-chunk bucketing


def _majority_bits(arr: str) -> str:
    """SQL expr: 32-bit majority fingerprint over a word-hash array
    ``arr`` (which md5 hex window the hashes came from is baked into the
    array expression). Bit i set iff more than half the distinct word
    hashes have bit i set."""
    return " + ".join(
        f"(case when 2 * size(filter({arr}, h -> (shiftright(h, {i}) & 1) = 1)) "
        f"> size({arr}) then cast({1 << i} as bigint) else 0 end)"
        for i in range(32)
    )


def _duck_majority_bits(arr: str) -> str:
    """DuckDB mirror of :func:`_majority_bits`."""
    return " + ".join(
        f"(case when 2 * len(list_filter({arr}, h -> ((h >> {i}) & 1) = 1)) "
        f"> len({arr}) then {1 << i}::BIGINT else 0 end)"
        for i in range(32)
    )


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """(id, simhash_hi, simhash_lo) — a 64-bit SimHash as two 32-bit
    halves (hi = md5 hex [1,8], lo = [9,16] of each distinct word).
    32 bits collide heavily at 10^12 docs (birthday bound ~2^16); the
    64-bit form is the corpus-scale fingerprint. Row-local, no shuffle;
    each word-hash array is lambda-bound so it's computed once."""
    return docs.select(
        F.col(id_col),
        F.expr(
            _bound_majority(_word_hashes(text_col, 1), _majority_bits)
        ).alias("simhash_hi"),
        F.expr(
            _bound_majority(_word_hashes(text_col, 9), _majority_bits)
        ).alias("simhash_lo"),
    )


def oracle_simhash64_sql(table: str = "documents") -> str:
    bits, wh = _duck_majority_bits, _duck_word_hashes
    return (
        f"SELECT doc_id, ({bits('_wh')}) AS simhash_hi, "
        f"({bits('_wl')}) AS simhash_lo FROM "
        f"(SELECT doc_id, {wh(1)} AS _wh, {wh(9)} AS _wl FROM {table})"
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup candidates by 64-bit SimHash Hamming distance:
    :func:`hamming_pairs_64` over :func:`simhash64`. Output
    (id_a, id_b, hamming); see there for the recall contract and the
    bucket cap."""
    return hamming_pairs_64(
        simhash64(docs, text_col, id_col), id_col, "simhash_hi",
        "simhash_lo", max_hamming, max_bucket,
    )


def oracle_simhash_pairs_sql(
    table: str = "documents",
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    inner = oracle_simhash64_sql(table)
    duck_chunks = (
        "(simhash_hi >> 16) & 65535",
        "simhash_hi & 65535",
        "(simhash_lo >> 16) & 65535",
        "simhash_lo & 65535",
    )
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash_hi, simhash_lo, {i} AS chunk, ({e}) AS cv "
        "FROM sh"
        for i, e in enumerate(duck_chunks)
    )
    cap = _oracle_small_cte(
        "doc_id, simhash_hi, simhash_lo, chunk, cv", "chunked", "chunk, cv",
        max_bucket,
    )
    return f"""
WITH sh AS ({inner}), chunked AS ({chunk_rows}){cap}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  (bit_count(xor(a.simhash_hi, b.simhash_hi))
   + bit_count(xor(a.simhash_lo, b.simhash_lo)))::BIGINT AS hamming
FROM small a JOIN small b
  ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE (bit_count(xor(a.simhash_hi, b.simhash_hi))
   + bit_count(xor(a.simhash_lo, b.simhash_lo))) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# generic 64-bit Hamming candidate pairs (hash-agnostic: SimHash,
# image dHash, any (hi, lo) 32-bit-half fingerprint)


def hamming_pairs_64(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hi_col: str = "hash_hi",
    lo_col: str = "hash_lo",
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup candidate pairs over ANY 64-bit fingerprint stored as
    two non-negative 32-bit halves (the repo's sign-safe convention,
    see :func:`simhash64`): bucket on each of the four 16-bit chunks
    (pigeonhole — any Hamming-<=3 pair shares one), generate pairs
    in-bucket with :func:`_bucket_pairs` over (id, hi, lo) members,
    and keep those whose exact distance, bit_count(xor), is at most
    ``max_hamming``. Chunk buckets over ``max_bucket`` (identical-
    fingerprint clusters) emit no pairs; route those through exact
    dedup. Output (id_a, id_b, hamming).

    Recall contract: the pigeonhole guarantee (every qualifying pair
    shares a chunk) holds only for ``max_hamming <= 3``. Larger
    thresholds are CANDIDATE GENERATION — pairs whose differing bits
    touch all four chunks are missed, like any LSH scheme."""
    chunk_exprs = (
        f"shiftright({hi_col}, 16) & 65535",
        f"{hi_col} & 65535",
        f"shiftright({lo_col}, 16) & 65535",
        f"{lo_col} & 65535",
    )
    chunked = hashes.select(
        F.col(id_col),
        F.col(hi_col),
        F.col(lo_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("chunk"), F.expr(e).alias("cv"))
                for i, e in enumerate(chunk_exprs)
            ])
        ).alias("cc"),
    ).select(id_col, hi_col, lo_col, "cc.chunk", "cc.cv")
    ham = "cast(bit_count(x.h ^ y.h) + bit_count(x.l ^ y.l) as bigint)"
    return _bucket_pairs(
        chunked,
        ["chunk", "cv"],
        {"i": id_col, "h": hi_col, "l": lo_col},
        fields=f"'hamming', {ham}",
        keep=f"p.hamming <= {max_hamming}",
        max_bucket=max_bucket,
    )


def oracle_hamming_pairs_64_sql(
    inner: str,
    id_col: str = "doc_id",
    hi_col: str = "hash_hi",
    lo_col: str = "hash_lo",
    max_hamming: int = 3,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> str:
    """DuckDB mirror of :func:`hamming_pairs_64`; ``inner`` is a SELECT
    producing (id_col, hi_col, lo_col)."""
    duck_chunks = (
        f"({hi_col} >> 16) & 65535",
        f"{hi_col} & 65535",
        f"({lo_col} >> 16) & 65535",
        f"{lo_col} & 65535",
    )
    chunk_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {hi_col}, {lo_col}, {i} AS chunk, ({e}) AS cv "
        "FROM hsh"
        for i, e in enumerate(duck_chunks)
    )
    cap = _oracle_small_cte(
        f"{id_col}, {hi_col}, {lo_col}, chunk, cv", "chunked", "chunk, cv",
        max_bucket,
    )
    return f"""
WITH hsh AS ({inner}), chunked AS ({chunk_rows}){cap}
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
  (bit_count(xor(a.{hi_col}, b.{hi_col}))
   + bit_count(xor(a.{lo_col}, b.{lo_col})))::BIGINT AS hamming
FROM small a JOIN small b
  ON a.chunk = b.chunk AND a.cv = b.cv AND a.{id_col} < b.{id_col}
WHERE (bit_count(xor(a.{hi_col}, b.{hi_col}))
   + bit_count(xor(a.{lo_col}, b.{lo_col}))) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard over candidate pairs


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for candidate pairs (default: LSH
    candidates). Output (id_a, id_b, jaccard) for jaccard >= threshold;
    jaccard rounded to 6 places for cross-engine stability."""
    if candidates is None:
        candidates = lsh_candidate_pairs(docs, text_col, id_col)
    sh = _spark_shingles(text_col, n)
    shingled = docs.select(
        F.col(id_col), F.array_distinct(F.expr(sh)).alias("sh")
    )
    a = shingled.alias("sa")
    b = shingled.alias("sb")
    return (
        candidates.join(a, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(b, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sa.sh", "sb.sh"))
                / F.size(F.array_union("sa.sh", "sb.sh")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def oracle_ngram_jaccard_sql(
    table: str = "documents", n: int = 3, threshold: float = 0.5,
    k: int = 16, bands: int = 4, shingle: int = 5,
) -> str:
    pairs = oracle_lsh_pairs_sql(table, k, bands, shingle)
    sh = _duck_shingles("text", n)
    return (
        f"WITH pairs AS ({pairs}), "
        f"shingled AS (SELECT doc_id, list_distinct({sh}) AS sh FROM {table}) "
        "SELECT id_a, id_b, round("
        "len(list_intersect(sa.sh, sb.sh)) * 1.0 / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6"
        ") AS jaccard "
        "FROM pairs JOIN shingled sa ON pairs.id_a = sa.doc_id "
        "JOIN shingled sb ON pairs.id_b = sb.doc_id "
        f"WHERE round(len(list_intersect(sa.sh, sb.sh)) * 1.0 / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) "
        f">= {threshold}"  # round BEFORE comparing, same as the Spark side
    )


# ---------------------------------------------------------------------------
# paragraph-level exact dedup (RefinedWeb / MassiveText style)


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    pos_base: int = 1_000_000,
) -> DataFrame:
    """Global first-occurrence paragraph deduplication — the
    RefinedWeb/MassiveText exact-substring-lite rule: a paragraph that
    already appeared anywhere earlier in the corpus (earlier =
    lexicographically smaller ``(doc_id, position)``) is removed from
    the later document, preserving each survivor's original order.
    Catches cross-document template/boilerplate repetition at paragraph
    granularity without the frequency-threshold tuning of
    :func:`remove_boilerplate_lines` (which keeps ALL copies below the
    threshold; this keeps exactly one copy, the first).

    Output: (doc_id, text_clean, n_paras_kept, n_paras_removed) for all
    input docs; a doc whose every paragraph is a repeat gets ''.

    Plan shape — 100 TB reasoning: one row-local posexplode → ONE
    groupBy on ``md5(paragraph)`` whose aggregation state is a single
    bigint (``min(doc_id*pos_base+pos)``, NOT a member list — a viral
    paragraph repeated in 10^8 docs still folds map-side to one value
    per partition) → an equi-join back on the same uniform hash key
    (the keeper probe; AQE's skew split covers the viral-paragraph hot
    key) → one per-doc groupBy to reassemble, sorting only each doc's
    own rows. No window over a corpus-level key anywhere.

    ``pos_base`` bounds paragraphs-per-doc for the (doc, pos) integer
    encoding; doc_id*pos_base must fit int64 (fine to ~9e12 docs at the
    default).
    """
    paras = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "p"),
        )
        .withColumn("h", F.md5(F.col("p")))
        .withColumn(
            "ord",
            (F.col(id_col) * F.lit(pos_base) + F.col("pos")).cast("bigint"),
        )
    )
    firsts = paras.groupBy("h").agg(F.min("ord").alias("keep_ord"))
    kept = paras.join(firsts, "h").where(F.col("ord") == F.col("keep_ord"))
    rebuilt = kept.groupBy(id_col).agg(
        F.expr(
            "concat_ws('" + sep.replace("\n", "\\n") + "', "
            "transform(array_sort(collect_list(struct(pos, p))), s -> s.p))"
        ).alias("text_clean"),
        F.count("*").cast("bigint").alias("n_paras_kept"),
    )
    n_paras = docs.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(),
            F.size(F.split(F.col(text_col), sep)),
        ).otherwise(F.lit(0)).cast("bigint").alias("n_paras"),
    )
    return n_paras.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        F.coalesce(F.col("n_paras_kept"), F.lit(0)).cast("bigint").alias(
            "n_paras_kept"
        ),
        (F.col("n_paras") - F.coalesce(F.col("n_paras_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_paras_removed"),
    )


def oracle_paragraph_dedup_sql(
    paras_expr: str,
    table: str = "documents",
    pos_base: int = 1_000_000,
) -> str:
    """DuckDB mirror over a synthesized multi-paragraph text
    (``paras_expr`` evaluated identically by both engines; chr(10)chr(10)
    separator). First occurrence = min(doc_id*pos_base + pos), exactly
    the Spark side's integer encoding."""
    sep = "chr(10) || chr(10)"
    return f"""
WITH src AS (SELECT doc_id, {paras_expr} AS text FROM {table}),
l AS (SELECT doc_id, str_split(text, {sep}) AS ps FROM src),
paras AS (
  SELECT doc_id, unnest(range(1, len(ps) + 1)) - 1 AS pos, unnest(ps) AS p
  FROM l
),
firsts AS (
  SELECT md5(p) AS h, min(doc_id * {pos_base} + pos) AS keep_ord
  FROM paras GROUP BY 1
),
kept AS (
  SELECT paras.* FROM paras JOIN firsts
  ON md5(paras.p) = firsts.h
  AND paras.doc_id * {pos_base} + paras.pos = firsts.keep_ord
),
rebuilt AS (
  SELECT doc_id, string_agg(p, {sep} ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT src.doc_id,
       coalesce(text_clean, '') AS text_clean,
       coalesce(n_kept, 0)::BIGINT AS n_paras_kept,
       (len(str_split(src.text, {sep})) - coalesce(n_kept, 0))::BIGINT
         AS n_paras_removed
FROM src LEFT JOIN rebuilt ON src.doc_id = rebuilt.doc_id
"""


# ---------------------------------------------------------------------------
# long-duplicate-span removal (exact-substring dedup, the suffix-array
# rule of "Deduplicating Training Data Makes Language Models Better",
# Lee et al. 2022): remove every token that lies inside a substring of
# >= min_tokens tokens occurring >= min_count times corpus-wide.
#
# Reduction that makes this shuffle-friendly WITHOUT a distributed
# suffix array: a token t is inside some duplicated substring of
# length >= L  <=>  some L-gram window containing t occurs >= 2 times
# in the corpus (any duplicated substring of length >= L is made of
# duplicated L-grams, and any duplicated L-gram IS such a substring).
# So the exact removal set is the union of the extents [pos, pos+L) of
# duplicated L-grams — computable with one uniform-key groupBy, no
# iteration, no suffix sort. The suffix array in the paper serves the
# same gram-occurrence question; at corpus scale the hash groupBy is
# the distributed-native equivalent.


def long_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 15,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated spans of >= ``min_tokens`` whitespace tokens
    occurring >= ``min_count`` times anywhere in the corpus (within-doc
    repeats count — two occurrences in one document are duplicates,
    as in the reference rule).

    Output per input doc: ``(doc_id, n_spans, dup_tokens, spans,
    clean_text)`` — ``spans`` is the merged maximal intervals as
    ``"s-e"`` token ranges joined by ``','`` (half-open, token
    positions in the ``split(text, ' ')`` numbering), ``clean_text``
    is the doc with covered tokens removed (survivor order kept).

    Plan shape — 100 TB reasoning: gram hashing is row-local
    (md5 over word L-grams); the ONE corpus-level shuffle is
    ``groupBy(gram_hash)`` with a single bigint count as aggregation
    state (map-side combinable; uniform md5 key, no skew); duplicated
    starts rejoin on the same uniform hash key (semi join — a viral
    gram is an AQE-splittable probe-side hot key, never window state);
    interval merging is a per-doc fold over that doc's own sorted
    start list (bounded by doc length — the same bounded-list rule as
    ``paragraph_dedup``'s rebuild). No window over any corpus-level
    key. A 100 TB run would add a bloom/count-min pre-filter to drop
    singleton grams before the shuffle (as :func:`duplicate_spans`
    notes); semantics unchanged.
    """
    ln = int(min_tokens)
    sh = _spark_shingles(text_col, ln)
    grams = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(f"transform({sh}, s -> md5(s))")).alias(
            "pos", "h"
        ),
    )
    # r9 note: a Python-side hashlib gram stage + shared repartition
    # exchange was A/B-tested here and LOST (~0.7 s slower at sf0.1):
    # one md5 per gram is cheap enough in the JVM that the extra
    # Python-stage tax and exchange outweigh the duplicated lineage.
    hot = (
        grams.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("h")
    )
    dstarts = grams.join(hot, "h", "semi")
    # per-doc maximal intervals: fold the sorted duplicated-gram starts
    # into array<struct<s,e>>, merging when the next extent [p, p+L)
    # overlaps or touches the previous one (p <= last.e)
    ivs_fold = (
        "aggregate(sort_array(collect_list(pos)), "
        "cast(array() as array<struct<s:bigint,e:bigint>>), "
        "(acc, p) -> case when size(acc) > 0 "
        "and p <= element_at(acc, -1).e then "
        "concat(slice(acc, 1, size(acc) - 1), array(named_struct("
        f"'s', element_at(acc, -1).s, 'e', cast(p + {ln} as bigint)))) "
        f"else concat(acc, array(named_struct('s', cast(p as bigint), "
        f"'e', cast(p + {ln} as bigint)))) end)"
    )
    per_doc = dstarts.groupBy(id_col).agg(F.expr(ivs_fold).alias("ivs"))
    # `ivs` crosses the aggregation boundary, so multiple references
    # below read the materialized column (no CollapseProject recompute)
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn(
            "ivs",
            F.expr(
                "coalesce(ivs, cast(array() as "
                "array<struct<s:bigint,e:bigint>>))"
            ),
        )
        .select(
            F.col(id_col),
            F.expr("cast(size(ivs) as bigint)").alias("n_spans"),
            F.expr(
                "aggregate(ivs, 0L, (a, s) -> a + s.e - s.s)"
            ).alias("dup_tokens"),
            F.expr(
                "array_join(transform(ivs, s -> concat(cast(s.s as "
                "string), '-', cast(s.e as string))), ',')"
            ).alias("spans"),
            F.expr(
                f"array_join(filter(split({text_col}, ' '), (w, i) -> "
                "NOT exists(ivs, s -> i >= s.s AND i < s.e)), ' ')"
            ).alias("clean_text"),
        )
    )


def oracle_long_dup_spans_sql(
    text_expr: str,
    table: str = "documents",
    min_tokens: int = 15,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`long_dup_spans` over ``text_expr``
    (evaluated identically by both engines). Interval merging uses
    gaps-and-islands (new island when pos > prev + L — equivalent to
    the Spark fold's p <= last.e merge test, since the running end is
    always prev_pos + L for sorted fixed-length extents)."""
    ln = int(min_tokens)
    sh = (
        f"case when len(ws) < {ln} then [] "
        f"else list_transform(range(0, len(ws) - {ln} + 1), "
        f"i -> array_to_string(ws[i + 1 : i + {ln}], ' ')) end"
    )
    return f"""
WITH src AS (SELECT doc_id, {text_expr} AS text FROM {table}),
w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM src),
gh AS (
  SELECT doc_id, unnest(range(0, len(g))) AS pos, unnest(g) AS h
  FROM (SELECT doc_id,
               list_transform({sh}, s -> md5(s)) AS g
        FROM w)
),
hot AS (SELECT h FROM gh GROUP BY h HAVING count(*) >= {min_count}),
dstarts AS (SELECT doc_id, pos FROM gh JOIN hot USING (h)),
isl AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos > prev + {ln} THEN 1
                  ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dstarts)
),
spans AS (
  SELECT doc_id, island, min(pos)::BIGINT AS s,
         (max(pos) + {ln})::BIGINT AS e
  FROM isl GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_spans,
         sum(e - s)::BIGINT AS dup_tokens,
         string_agg(s::VARCHAR || '-' || e::VARCHAR, ',' ORDER BY s)
           AS spans,
         flatten(list(range(s, e))) AS covered
  FROM spans GROUP BY doc_id
)
SELECT w.doc_id,
       coalesce(a.n_spans, 0)::BIGINT AS n_spans,
       coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
       coalesce(a.spans, '') AS spans,
       array_to_string(
         list_transform(
           list_filter(range(0, len(ws)),
                       i -> NOT list_contains(coalesce(a.covered, []), i)),
           i -> ws[i + 1]),
         ' ') AS clean_text
FROM w LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# connected components: one min-label propagation loop
# (_propagate_min_labels); each operator passes its per-round step


def _propagate_min_labels(
    seed: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    id_col: str,
    max_iter: int,
) -> DataFrame:
    """Min-label propagation from ``seed`` (``id_col``, ``lbl``):
    ``labels = step(labels)`` until nothing changes or ``max_iter``
    rounds have run. Returns the last round, an eager checkpoint the
    caller releases (:func:`release_checkpoint`) once nothing reads it.

    Each round is an eager ``localCheckpoint`` (a ``persist()`` barrier
    keeps the lineage, so a step that reads the labels twice doubles
    the plan every round), and the previous round is released after
    the change check. Stopping only when nothing changed keeps the
    unrolled-CTE oracles exact (the step is monotone and idempotent
    after convergence). The check stays a ``count()`` action, which
    perfbench counts as ``dedup.cc_rounds``."""
    labels = seed.localCheckpoint(eager=True)
    for _ in range(max_iter):
        new = step(labels).localCheckpoint(eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), id_col)
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        release_checkpoint(labels)
        labels = new
        if changed == 0:
            break
    return labels


def cc_label_propagation(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 4,
) -> DataFrame:
    """Connected components over ``pairs`` (id_a, id_b) covering every
    row of ``ids`` (one ``id_col`` column; pairless ids label
    themselves): neighbor-min label propagation, one hop per round.
    Output (id_col, cluster_id).

    Same oracle contract as lsh_connected_components (the CLAUDE.md
    fixed-iteration rule): the Spark loop early-stops only when
    converged and otherwise runs exactly ``max_iter`` rounds; min-label
    propagation is monotone and idempotent after convergence, so the
    fixed-depth unrolled CTE (:func:`oracle_cc_label_propagation_sql`)
    produces identical labels. Per round: one edge join + one group-by
    on uniform id keys — O(graph diameter) rounds, and dup clusters are
    near-cliques (diameter 1-2). The result reads the last round's
    checkpoint."""
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(
            pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
        )
        .persist()
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(
                labels.select(F.col(id_col).alias("_d"), "lbl"),
                F.col("d") == F.col("_d"),
            )
            .groupBy("s")
            .agg(F.min("lbl").alias("nlbl"))
        )
        return labels.join(
            nbr_min, labels[id_col] == nbr_min["s"], "left"
        ).select(
            F.col(id_col),
            F.least(
                F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
            ).alias("lbl"),
        )

    seed = ids.select(F.col(id_col), F.col(id_col).alias("lbl"))
    labels = _propagate_min_labels(seed, step, id_col, max_iter)
    edges.unpersist()
    return labels.select(F.col(id_col), F.col("lbl").alias("cluster_id"))


def oracle_cc_label_propagation_sql(
    ids_sql: str,
    pairs_sql: str,
    id_col: str = "doc_id",
    max_iter: int = 4,
) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`cc_label_propagation`;
    ``ids_sql`` selects one ``id_col`` column, ``pairs_sql`` selects
    (id_a, id_b)."""
    rounds = [f"l0 AS (SELECT {id_col}, {id_col} AS lbl FROM ({ids_sql}))"]
    for i in range(1, max_iter + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT p.{id_col}, least(p.lbl, coalesce(min(n.lbl), p.lbl)) AS lbl
  FROM l{i - 1} p
  LEFT JOIN cc_edges ON cc_edges.s = p.{id_col}
  LEFT JOIN l{i - 1} n ON n.{id_col} = cc_edges.d
  GROUP BY p.{id_col}, p.lbl
)"""
        )
    return (
        f"""WITH cc_pairs AS ({pairs_sql}),
cc_edges AS (SELECT id_a AS s, id_b AS d FROM cc_pairs
             UNION ALL SELECT id_b AS s, id_a AS d FROM cc_pairs),
"""
        + ",\n".join(rounds)
        + f"\nSELECT {id_col}, lbl AS cluster_id FROM l{max_iter}"
    )


# ---------------------------------------------------------------------------
# crawl snapshot delta — the incremental-recrawl primitive: what changed
# since the last capture decides what re-enters the pipeline (the
# companion to incremental_dedup, which decides what to KEEP; this
# decides what to REPROCESS)


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Diff two crawl snapshots by content fingerprint. Output one row
    per url in either snapshot:

        (url, status, fp_old, fp_new)

    with ``status`` ∈ ``new`` (url only in the new capture), ``gone``
    (only in the old), ``changed`` (both, md5 differs), ``unchanged``.
    A recrawl pipeline reprocesses new ∪ changed and tombstones gone —
    the delta is usually a tiny fraction of the snapshot, which is the
    whole economics of incremental crawling.

    Plan: two row-local md5 projections → ONE full-outer equi-join on
    the uniform url key (AQE handles the mega-host skew like every url
    join here); no window, no member state. At 100 TB both sides are
    url-bucketed snapshots, so the join is co-located."""
    o = old.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(text_col).cast("binary")).alias("fp_old"),
    )
    n = new.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(text_col).cast("binary")).alias("fp_new"),
    )
    return o.join(n, "url", "full_outer").select(
        "url",
        F.expr(
            "CASE WHEN fp_old IS NULL THEN 'new' "
            "WHEN fp_new IS NULL THEN 'gone' "
            "WHEN fp_old <> fp_new THEN 'changed' "
            "ELSE 'unchanged' END"
        ).alias("status"),
        "fp_old",
        "fp_new",
    )
