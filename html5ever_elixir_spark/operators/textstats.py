"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting. All JVM-side built-ins (codegen'd,
row-local, zero shuffle) with DuckDB oracle mirrors.
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import map_rows, release_checkpoint

# small deterministic stopword marker lists (heuristic language-ID)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "with", "for"],
    "es": ["el", "la", "de", "que", "los", "por", "con", "una"],
    "de": ["der", "die", "und", "das", "ist", "mit", "von", "ein"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une"],
}

_TOKEN_RE = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"  # BPE-ish: word chunks + punct marks


def _arr(words):
    return "array(" + ", ".join(f"'{w}'" for w in words) + ")"


def _lst(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def token_count(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Whitespace word count + BPE-ish regex token count."""
    return docs.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), " +")).alias("n_words"),
        F.expr(f"size(regexp_extract_all({text_col}, '{_TOKEN_RE}', 0))").alias(
            "n_tokens"
        ),
    )


def oracle_token_count_sql(table: str = "documents") -> str:
    return (
        "SELECT doc_id, len(regexp_split_to_array(trim(text), ' +')) AS n_words, "
        f"len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens FROM {table}"
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Deterministic quality features: length, mean word length, stopword
    ratio, alpha ratio — rounded to 6 places for cross-engine hashing."""
    words = f"split({text_col}, ' ')"
    stop = _arr(LANG_MARKERS["en"])
    return docs.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.expr(f"size({words})").alias("n_words"),
        F.expr(
            f"round(cast(aggregate({words}, 0, (a, w) -> a + length(w)) "
            f"as double) / size({words}), 6)"
        ).alias("mean_word_len"),
        F.expr(
            f"round(cast(size(filter({words}, w -> array_contains({stop}, w))) "
            f"as double) / size({words}), 6)"
        ).alias("stopword_ratio"),
        F.expr(
            f"round(cast(length(regexp_replace({text_col}, '[^a-z]', '')) "
            f"as double) / length({text_col}), 6)"
        ).alias("alpha_ratio"),
    )


def oracle_quality_sql(table: str = "documents") -> str:
    stop = _lst(LANG_MARKERS["en"])
    w = "str_split(text, ' ')"
    return (
        "SELECT doc_id, length(text) AS n_chars, "
        f"len({w}) AS n_words, "
        f"round(list_sum(list_transform({w}, w -> length(w))) * 1.0 "
        f"/ len({w}), 6) AS mean_word_len, "
        f"round(len(list_filter({w}, w -> list_contains({stop}, w))) * 1.0 "
        f"/ len({w}), 6) AS stopword_ratio, "
        "round(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 "
        f"/ length(text), 6) AS alpha_ratio FROM {table}"
    )


def _lang_pred_expr(text_col: str) -> str:
    """SQL expr for the heuristic language-ID (shared by lang_id and
    quality_filter so the composed gate stays a single projection)."""
    words = f"split({text_col}, ' ')"
    hits = {
        lang: f"size(filter({words}, w -> array_contains({_arr(ws)}, w)))"
        for lang, ws in LANG_MARKERS.items()
    }
    return (
        f"case when {hits['en']} >= greatest({hits['es']}, {hits['de']}, "
        f"{hits['fr']}) and {hits['en']} > 0 then 'en' "
        f"when {hits['es']} >= greatest({hits['de']}, {hits['fr']}) "
        f"and {hits['es']} > 0 then 'es' "
        f"when {hits['de']} >= {hits['fr']} and {hits['de']} > 0 then 'de' "
        f"when {hits['fr']} > 0 then 'fr' else 'und' end"
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Heuristic n-gram/stopword language-ID: count marker-word hits per
    language, argmax with fixed priority order (en > es > de > fr >
    'und' for undetermined)."""
    return docs.select(
        F.col(id_col), F.expr(_lang_pred_expr(text_col)).alias("lang_pred")
    )


def oracle_lang_id_sql(table: str = "documents") -> str:
    w = "str_split(text, ' ')"
    hits = {
        lang: f"len(list_filter({w}, w -> list_contains({_lst(ws)}, w)))"
        for lang, ws in LANG_MARKERS.items()
    }
    return (
        f"SELECT doc_id, case when {hits['en']} >= greatest({hits['es']}, "
        f"{hits['de']}, {hits['fr']}) and {hits['en']} > 0 then 'en' "
        f"when {hits['es']} >= greatest({hits['de']}, {hits['fr']}) "
        f"and {hits['es']} > 0 then 'es' "
        f"when {hits['de']} >= {hits['fr']} and {hits['de']} > 0 then 'de' "
        f"when {hits['fr']} > 0 then 'fr' else 'und' end AS lang_pred "
        f"FROM {table}"
    )


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    min_stopword_ratio: float = 0.05,
    min_alpha_ratio: float = 0.6,
    lang: str = "en",
    project: bool = True,
) -> DataFrame:
    """The composed training-data keep/drop gate (what the individual
    scores exist FOR): keep docs that are long enough, stopword-bearing
    (natural language, not keyword spam), mostly alphabetic, and in the
    target language. All four features are row-local projections of the
    same row, so they are computed in ONE select over ``docs`` — one
    scan, zero joins, zero shuffles (the r2 version joined
    quality_score ⋈ lang_id, which physically planned as 2 scans + a
    hash join). Output (doc_id, n_words, stopword_ratio, alpha_ratio,
    lang_pred) for the surviving docs; with ``project=False`` the
    ORIGINAL columns of the surviving rows instead (for composing the
    gate into a pipeline without a re-join — still one scan)."""
    words = f"split({text_col}, ' ')"
    stop = _arr(LANG_MARKERS["en"])
    scored = docs.select(
        *(docs.columns if not project else [id_col]),
        F.expr(f"cast(size({words}) as bigint)").alias("n_words"),
        F.expr(
            f"round(cast(size(filter({words}, w -> array_contains({stop}, w))) "
            f"as double) / size({words}), 6)"
        ).alias("stopword_ratio"),
        F.expr(
            f"round(cast(length(regexp_replace({text_col}, '[^a-z]', '')) "
            f"as double) / length({text_col}), 6)"
        ).alias("alpha_ratio"),
        F.expr(_lang_pred_expr(text_col)).alias("lang_pred"),
    )
    out = scored.where(
        (F.col("n_words") >= min_words)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("alpha_ratio") >= min_alpha_ratio)
        & (F.col("lang_pred") == lang)
    )
    return out if project else out.select(*docs.columns)


def oracle_quality_filter_sql(
    table: str = "documents",
    min_words: int = 30,
    min_stopword_ratio: float = 0.05,
    min_alpha_ratio: float = 0.6,
    lang: str = "en",
) -> str:
    return f"""
WITH q AS ({oracle_quality_sql(table)}), l AS ({oracle_lang_id_sql(table)})
SELECT q.doc_id, n_words, stopword_ratio, alpha_ratio, lang_pred
FROM q JOIN l ON q.doc_id = l.doc_id
WHERE n_words >= {min_words}
  AND stopword_ratio >= {min_stopword_ratio}
  AND alpha_ratio >= {min_alpha_ratio}
  AND lang_pred = '{lang}'
"""


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """Stable 64-bit-ish document fingerprint: md5 of
    whitespace-normalized text, first 16 hex chars."""
    norm = f"trim(regexp_replace({text_col}, '[ \t\n\r\f]+', ' '))"
    return docs.select(
        F.col(id_col),
        F.expr(f"substring(md5({norm}), 1, 16)").alias("fp"),
    )


def oracle_fingerprint_sql(table: str = "documents") -> str:
    return (
        "SELECT doc_id, substr(md5(trim(regexp_replace(text, "
        f"'[ \t\n\r\f]+', ' ', 'g'))), 1, 16) AS fp FROM {table}"
    )


def token_budget(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "words",
) -> DataFrame:
    """Per-group training-token budgeting: how many docs/tokens each
    source (or host, or language) contributes and its share of the
    corpus — the query behind mixture weighting and dedup targeting.
    One shuffle on the group key (partial agg map-side); the share
    window runs over the already-reduced #groups-row frame, so the
    single-partition exchange is trivially small at any corpus size.
    Output (group, n_docs, n_tokens, token_share).

    ``mode="bpe"`` counts real BPE tokens (the row-local merge chain of
    :func:`bpe_token_count`, ``DEFAULT_BPE_MERGES``) instead of
    whitespace words — the budget a trainer actually pays. Integer
    per-doc counts summed as bigint: deterministic under any shuffle
    order (the CLAUDE.md double-sum rule does not bite)."""
    from pyspark.sql import Window

    if mode == "bpe":
        tok_expr = F.expr(bpe_count_expr(text_col, "spark"))
    elif mode == "words":
        tok_expr = F.size(F.split(F.trim(F.col(text_col)), " +"))
    else:  # pragma: no cover
        raise ValueError(mode)
    agg = docs.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(tok_expr)
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        F.col(group_col).alias("grp"),
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6
        ).alias("token_share"),
    )


def oracle_token_budget_sql(
    table: str = "documents", group_col: str = "source"
) -> str:
    return f"""
WITH g AS (
  SELECT {group_col} AS grp, count(*)::BIGINT AS n_docs,
         sum(len(regexp_split_to_array(trim(text), ' +')))::BIGINT AS n_tokens
  FROM {table} GROUP BY {group_col}
)
SELECT grp, n_docs, n_tokens,
       round(cast(n_tokens as double) / sum(n_tokens) OVER (), 6)
         AS token_share
FROM g
"""


def chunk_documents(
    docs: DataFrame,
    chunk_words: int = 200,
    overlap: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed word-window chunking with overlap — the pre-tokenization
    step of a training pipeline (long docs → model-context-sized
    pieces; overlap preserves cross-boundary context). Chunk i covers
    words [i*step, i*step + chunk_words), step = chunk_words - overlap.
    Row-local explode, no shuffle; rows with NULL text produce no
    chunks. The word array is lambda-bound (computed once per row, not
    once per chunk — the CollapseProject/no-CSE trap). Output
    (doc_id, chunk_idx, chunk_text, n_chunk_words)."""
    assert 0 <= overlap < chunk_words
    step = chunk_words - overlap
    n_chunks = (
        f"greatest(1, cast(ceil(cast(size(ws) - {overlap} as double) "
        f"/ {step}) as int))"
    )
    chunks = (
        f"element_at(transform(array(split({text_col}, ' ')), ws -> "
        f"transform(sequence(0, {n_chunks} - 1), i -> named_struct("
        "'chunk_idx', cast(i as bigint), "
        f"'chunk_text', array_join(slice(ws, i * {step} + 1, {chunk_words}), ' '), "
        f"'n_chunk_words', cast(size(slice(ws, i * {step} + 1, {chunk_words})) "
        "as bigint)))), 1)"
    )
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(F.expr(chunks)).alias("c"))
        .select(id_col, "c.chunk_idx", "c.chunk_text", "c.n_chunk_words")
    )


def oracle_chunk_sql(
    table: str = "documents", chunk_words: int = 200, overlap: int = 20
) -> str:
    step = chunk_words - overlap
    return f"""
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM {table}
  WHERE text IS NOT NULL
),
e AS (
  SELECT doc_id, ws, unnest(generate_series(0,
           greatest(1, ceil((len(ws) - {overlap}) / {step})::INT) - 1)) AS i
  FROM w
)
SELECT doc_id, i::BIGINT AS chunk_idx,
       array_to_string(ws[i * {step} + 1 : i * {step} + {chunk_words}], ' ')
         AS chunk_text,
       len(ws[i * {step} + 1 : i * {step} + {chunk_words}])::BIGINT
         AS n_chunk_words
FROM e
"""


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition / diversity signals — the template-spam and gibberish
    detectors of a curation stack: distinct-word ratio (low = repeated
    boilerplate), top-word ratio (high = keyword stuffing), word-level
    Shannon entropy in bits (low = degenerate text). Row-local; the
    per-distinct-word count array is lambda-bound and NUMERICALLY
    SORTED before the entropy fold so both engines sum in the same
    order (float associativity — unsorted, DuckDB's list_distinct
    ordering differs from Spark's first-occurrence order and the 6dp
    round can flip).

    Counts are run lengths over the SORTED word array (r5, verdict
    "What's wrong" #2): sort O(n log n) + three O(n) passes (run-start
    indices → shifted zip_with difference → numeric sort), replacing
    the r4 ``transform(array_distinct(ws), w -> size(filter(ws, …)))``
    which was O(distinct × words) per row in codegen-fallback lambdas —
    a ~15k-distinct / 20k-word crawled doc cost ~3×10⁸ lambda evals and
    stalled its task. The count MULTISET is identical by construction,
    so the sorted-counts entropy fold (and the unchanged DuckDB oracle)
    produce byte-identical output.
    Output (doc_id, distinct_ratio, top_word_ratio, word_entropy)."""
    ws = f"split({text_col}, ' ')"
    # run-start positions in the sorted array; if() (not `or`) guards
    # the i-1 lookup — element_at index 0 raises under ANSI
    starts = (
        "filter(sequence(1, size(sw)), i -> "
        "if(i = 1, true, element_at(sw, i) != element_at(sw, i - 1)))"
    )
    counts = (
        f"element_at(transform(array({starts}), st -> "
        "array_sort(zip_with(st, "
        "concat(slice(st, 2, size(st)), array(size(sw) + 1)), "
        "(a, b) -> b - a))), 1)"
    )
    inner = (
        "named_struct("
        "'distinct_ratio', round(cast(size(cs) as double) / size(ws), 6), "
        "'top_word_ratio', round(cast(element_at(cs, -1) as double) "
        "/ size(ws), 6), "
        "'word_entropy', round(-aggregate(cs, cast(0.0 as double), "
        "(a, c) -> a + (cast(c as double) / size(ws)) "
        "* log2(cast(c as double) / size(ws))), 6))"
    )
    expr = (
        f"element_at(transform(array({ws}), ws -> "
        f"element_at(transform(array(array_sort(ws)), sw -> "
        f"element_at(transform(array({counts}), cs -> {inner}), 1)), 1)), 1)"
    )
    return docs.select(F.col(id_col), F.expr(expr).alias("r")).select(
        id_col, "r.distinct_ratio", "r.top_word_ratio", "r.word_entropy"
    )


def oracle_repetition_sql(table: str = "documents") -> str:
    return f"""
WITH w AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM {table}
),
c AS (
  SELECT doc_id, ws,
         list_sort(list_transform(list_distinct(ws),
             w -> len(list_filter(ws, x -> x = w)))) AS cs
  FROM w
)
SELECT doc_id,
  round(cast(len(cs) as double) / len(ws), 6) AS distinct_ratio,
  round(cast(cs[-1] as double) / len(ws), 6) AS top_word_ratio,
  round(-list_sum(list_transform(cs,
      c -> (cast(c as double) / len(ws))
           * log2(cast(c as double) / len(ws)))), 6) AS word_entropy
FROM c
"""


def pack_sequences(
    chunks: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    strict: bool = False,
) -> DataFrame:
    """Training-batch assembly: pack a doc's chunks (from
    :func:`chunk_documents`) into fixed-budget sequences — chunk c goes
    to sequence floor(words_before_c / seq_len), so sequences fill
    greedily in chunk order and never cross documents (the common
    packing choice: no cross-doc attention contamination). One window
    + one aggregation, both partitioned by doc — scale-safe (no global
    order). Output (doc_id, seq_id, n_chunks, n_words).

    ``strict=False`` (default): a sequence may overflow ``seq_len`` by
    up to one chunk (floor-of-prefix-sum assignment — documented r3
    packing variant). ``strict=True`` enforces the hard trainer budget:
    a chunk that would push the running fill past ``seq_len`` opens a
    new sequence (a chunk alone larger than ``seq_len`` still gets its
    own sequence). The recurrence is sequential per doc, so strict mode
    folds the doc's weight array with one ``aggregate`` lambda after a
    single groupBy-doc shuffle — per-doc arrays are bounded by doc
    length, no window, no global order."""
    from pyspark.sql import Window

    if strict:
        return _pack_sequences_strict(chunks, seq_len, id_col)

    w = (
        Window.partitionBy(id_col)
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_chunk_words").over(w), F.lit(0))
    return (
        chunks.withColumn(
            "seq_id", F.floor(prev / F.lit(seq_len)).cast("bigint")
        )
        .groupBy(id_col, "seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("n_chunk_words").cast("bigint").alias("n_words"),
        )
    )


def _pack_sequences_strict(
    chunks: DataFrame, seq_len: int, id_col: str
) -> DataFrame:
    """Hard-budget packing: sequential first-fit in chunk order via an
    ``aggregate`` fold over the doc's (ordered) weight array. The fold
    carries (current seq, current fill, per-chunk seq ids); the per-seq
    rollup then stays row-local (no second shuffle)."""
    g = chunks.groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list("
            "struct(chunk_idx, n_chunk_words))), c -> c.n_chunk_words)"
        ).alias("ws")
    )
    ids_fold = (
        "aggregate(ws, named_struct("
        "'seq', cast(0 as bigint), 'fill', cast(0 as bigint), "
        "'ids', array_repeat(cast(0 as bigint), 0)), "
        f"(a, w) -> if(a.fill > 0 AND a.fill + w > {seq_len}, "
        "named_struct('seq', a.seq + 1, 'fill', w, "
        "'ids', concat(a.ids, array(a.seq + 1))), "
        "named_struct('seq', a.seq, 'fill', a.fill + w, "
        "'ids', concat(a.ids, array(a.seq)))), "
        "a -> a.ids)"
    )
    # bind the fold result once (CollapseProject would otherwise inline
    # the whole fold into every reference — the repo's no-CSE trap)
    per_seq = (
        f"element_at(transform(array({ids_fold}), ids -> "
        "transform(sequence(cast(0 as bigint), element_at(ids, -1)), "
        "s -> named_struct("
        "'seq_id', s, "
        "'n_chunks', cast(size(filter(ids, x -> x = s)) as bigint), "
        "'n_words', aggregate(zip_with(ids, ws, "
        "(i, w) -> if(i = s, w, cast(0 as bigint))), "
        "cast(0 as bigint), (a, x) -> a + x)))), 1)"
    )
    return (
        g.select(F.col(id_col), F.explode(F.expr(per_seq)).alias("s"))
        .select(id_col, "s.seq_id", "s.n_chunks", "s.n_words")
    )


def oracle_pack_strict_sql(
    table: str = "documents",
    chunk_words: int = 200,
    overlap: int = 20,
    seq_len: int = 2048,
) -> str:
    """Strict-budget mirror: the per-doc recurrence as a recursive CTE
    stepping chunk_idx → chunk_idx + 1 (ANSI recursion, exact same
    first-fit rule as the Spark fold — CLAUDE.md fixed-iteration rule,
    recursive form)."""
    return f"""
WITH RECURSIVE chunks AS ({oracle_chunk_sql(table, chunk_words, overlap)}),
pack AS (
  SELECT doc_id, chunk_idx, n_chunk_words,
         0::BIGINT AS seq_id, n_chunk_words AS fill
  FROM chunks WHERE chunk_idx = 0
  UNION ALL
  SELECT c.doc_id, c.chunk_idx, c.n_chunk_words,
         CASE WHEN p.fill > 0 AND p.fill + c.n_chunk_words > {seq_len}
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.fill > 0 AND p.fill + c.n_chunk_words > {seq_len}
              THEN c.n_chunk_words ELSE p.fill + c.n_chunk_words END
  FROM pack p
  JOIN chunks c ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1
)
SELECT doc_id, seq_id, count(*)::BIGINT AS n_chunks,
       sum(n_chunk_words)::BIGINT AS n_words
FROM pack GROUP BY doc_id, seq_id
"""


def oracle_pack_sql(
    table: str = "documents",
    chunk_words: int = 200,
    overlap: int = 20,
    seq_len: int = 2048,
) -> str:
    return f"""
WITH chunks AS ({oracle_chunk_sql(table, chunk_words, overlap)}),
c AS (
  SELECT doc_id, chunk_idx, n_chunk_words,
         coalesce(sum(n_chunk_words) OVER (
           PARTITION BY doc_id ORDER BY chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
  FROM chunks
)
SELECT doc_id, floor(prev / {seq_len})::BIGINT AS seq_id,
       count(*)::BIGINT AS n_chunks, sum(n_chunk_words)::BIGINT AS n_words
FROM c GROUP BY doc_id, floor(prev / {seq_len})
"""


def quality_by_source(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Domain/source-level quality rollup — the curation dashboard that
    decides which SOURCES (hosts, dumps, registries) to keep, cap, or
    drop: per source doc/char/word totals plus corpus-level stopword
    and alpha ratios. The ratios divide INTEGER sums (one division per
    group, not an avg of per-doc doubles) so the result is
    summation-order independent — avg(double) would hash-differ across
    engines/partitionings. One partial-agg groupBy on the source key.
    Output (source, n_docs, n_chars, n_words, stopword_ratio,
    alpha_ratio)."""
    words = f"split({text_col}, ' ')"
    stop = _arr(LANG_MARKERS["en"])
    per = docs.select(
        F.col(group_col),
        F.length(text_col).alias("_c"),
        F.expr(f"size({words})").alias("_w"),
        F.expr(
            f"size(filter({words}, w -> array_contains({stop}, w)))"
        ).alias("_s"),
        F.expr(
            f"length(regexp_replace({text_col}, '[^a-z]', ''))"
        ).alias("_a"),
    )
    return per.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("_c").cast("bigint").alias("n_chars"),
        F.sum("_w").cast("bigint").alias("n_words"),
        F.expr(
            "round(cast(sum(_s) as double) / sum(_w), 6)"
        ).alias("stopword_ratio"),
        F.expr(
            "round(cast(sum(_a) as double) / sum(_c), 6)"
        ).alias("alpha_ratio"),
    )


def oracle_quality_by_source_sql(
    table: str = "documents", group_col: str = "source"
) -> str:
    stop = _lst(LANG_MARKERS["en"])
    w = "str_split(text, ' ')"
    return f"""
WITH per AS (
  SELECT {group_col}, length(text) AS _c, len({w}) AS _w,
         len(list_filter({w}, w -> list_contains({stop}, w))) AS _s,
         length(regexp_replace(text, '[^a-z]', '', 'g')) AS _a
  FROM {table}
)
SELECT {group_col}, count(*)::BIGINT AS n_docs,
       sum(_c)::BIGINT AS n_chars, sum(_w)::BIGINT AS n_words,
       round(cast(sum(_s) as double) / sum(_w), 6) AS stopword_ratio,
       round(cast(sum(_a) as double) / sum(_c), 6) AS alpha_ratio
FROM per GROUP BY {group_col}
"""


# PII scrubbing patterns — deliberately simple, deterministic, and
# expressible in BOTH regex engines (Java on Spark, RE2 on DuckDB):
# the point is the pipeline stage + its oracle, not NER-grade recall.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9()\- ]{7,}[0-9]"


def scrub_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, IPv4 addresses, and international-format phone
    numbers to typed placeholders — the standard pre-training PII pass.
    Counts are measured stage-by-stage on the progressively scrubbed
    text (email → ip → phone) so the two engines count identically and
    a phone never double-counts digits inside an already-redacted IP.
    Patterns are passed as API literals on the Spark side (never
    through SQL string escaping — Spark SQL drops unknown backslash
    escapes) and as plain SQL strings on DuckDB (no escape processing).
    Row-local, zero shuffle. Output (doc_id, text_scrubbed, n_emails,
    n_ips, n_phones)."""
    t0 = F.col(text_col)
    n_email = F.regexp_count(t0, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t0, PII_EMAIL, "[EMAIL]")
    n_ip = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "[IP]")
    n_phone = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "[PHONE]")
    return docs.select(
        F.col(id_col),
        t3.alias("text_scrubbed"),
        n_email.cast("bigint").alias("n_emails"),
        n_ip.cast("bigint").alias("n_ips"),
        n_phone.cast("bigint").alias("n_phones"),
    )


def oracle_scrub_pii_sql(table: str = "documents") -> str:
    e, i, p = PII_EMAIL, PII_IPV4, PII_PHONE
    return f"""
WITH s0 AS (SELECT doc_id, text AS t0 FROM {table}),
s1 AS (SELECT doc_id, t0,
              regexp_replace(t0, '{e}', '[EMAIL]', 'g') AS t1 FROM s0),
s2 AS (SELECT doc_id, t0, t1,
              regexp_replace(t1, '{i}', '[IP]', 'g') AS t2 FROM s1)
SELECT doc_id,
       regexp_replace(t2, '{p}', '[PHONE]', 'g') AS text_scrubbed,
       len(regexp_extract_all(t0, '{e}'))::BIGINT AS n_emails,
       len(regexp_extract_all(t1, '{i}'))::BIGINT AS n_ips,
       len(regexp_extract_all(t2, '{p}'))::BIGINT AS n_phones
FROM s2
"""


_NFC_SCHEMA = pa.schema([
    ("text_nfc", pa.string()), ("changed", pa.bool_()),
    ("n_chars_before", pa.int64()), ("n_chars_after", pa.int64()),
])


def nfc_normalize_docs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode NFC normalization — the canonical-composition pass every
    multilingual corpus needs before hashing/dedup (the same logical
    text arrives from the crawl as both 'é' and 'e'+COMBINING ACUTE;
    unnormalized, exact dedup misses them and tokenizers fragment).

    Runs as one :func:`map_rows` stage (Spark SQL has no
    unicode-normalize builtin): batch-wise Python
    ``unicodedata.normalize`` — vectorized Arrow transfer, no per-row
    UDF; row-local, zero shuffle, embarrassingly parallel at any scale.
    The DuckDB oracle uses utf8proc's independent ``nfc_normalize`` — a
    differential gate, not a mirror of our own code.
    Output (doc_id, text_nfc, changed, n_chars_before, n_chars_after);
    a null text gives nulls.
    """

    def emit(out, t) -> int:
        if t is None:
            row = (None, None, None, None)
        else:
            norm = unicodedata.normalize("NFC", t)
            row = (norm, norm != t, len(t), len(norm))
        for k, v in zip(_NFC_SCHEMA.names, row):
            out[k].append(v)
        return 1

    return map_rows(
        docs, [F.col(id_col).cast("bigint").alias("doc_id")], [text_col],
        emit, _NFC_SCHEMA,
    )


def oracle_nfc_sql(table: str = "documents", text_expr: str = "text") -> str:
    """utf8proc-backed differential oracle (DuckDB ``nfc_normalize``):
    length() counts codepoints in both engines (Python len == DuckDB
    length on VARCHAR)."""
    t = text_expr
    return f"""
SELECT doc_id, nfc_normalize({t}) AS text_nfc,
       nfc_normalize({t}) <> {t} AS changed,
       length({t})::BIGINT AS n_chars_before,
       length(nfc_normalize({t}))::BIGINT AS n_chars_after
FROM {table}
"""


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k salient terms by tf·idf — the classic
    keyword/topic signal for corpus exploration and quality dashboards.
    idf = ln((N+1)/(df+1)) with add-one smoothing (never divides by
    zero, never negative for df ≤ N).

    Scale shape: (doc, word, tf) from one explode + groupBy on the
    (doc, word) pair key (uniform — the pair key kills the Zipf skew a
    plain word key would have); the document-frequency manifest
    re-aggregates the SAME lineage by word (vocabulary-sized — Zipf-hot
    words exist but carry ONE row each; AQE handles the join's probe
    skew); N arrives as a 1-row broadcast cross join, NOT a
    whole-corpus window over an empty partition. Top-k per doc is a
    row_number window on the uniform doc key. Cross-engine floats: idf
    is rounded to 9dp before the tf multiply, the product to 6dp
    (round-before-compare discipline; Java Math.log vs libm log can
    differ at the ulp). Ties break on the word for determinism.
    Output (doc_id, word, tf, df, tfidf, rank).
    """
    from pyspark.sql import Window

    words = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    tf = words.groupBy(id_col, "word").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.where(F.col(text_col).isNotNull()).agg(
        F.count("*").cast("bigint").alias("N")
    )
    scored = (
        tf.join(df_, "word")
        .join(F.broadcast(n), how="cross")
        .selectExpr(
            id_col,
            "word",
            "tf",
            "df",
            "round(cast(tf as double) * "
            "round(ln((cast(N as double) + 1.0) / (cast(df as double) + 1.0)), 9), "
            "6) AS tfidf",
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def oracle_tfidf_sql(table: str = "documents", k: int = 3) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM {table}
  WHERE text IS NOT NULL
),
tf AS (
  SELECT doc_id, word, count(*)::BIGINT AS tf FROM words
  GROUP BY doc_id, word
),
dfq AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
nq AS (SELECT count(*)::BIGINT AS N FROM {table} WHERE text IS NOT NULL),
scored AS (
  SELECT doc_id, word, tf, df,
         round(cast(tf as double) *
               round(ln((cast(N as double) + 1.0) /
                        (cast(df as double) + 1.0)), 9), 6) AS tfidf
  FROM tf JOIN dfq USING (word) CROSS JOIN nq
)
SELECT doc_id, word, tf, df, tfidf,
       rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, word ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {k}
"""


def lm_score(
    docs: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Word-bigram language-model quality score — the CCNet-style "LM
    perplexity filter" of a crawl pipeline: score each doc by the
    average negative log-likelihood of its word bigrams under add-one-
    smoothed counts from a REFERENCE corpus (a trusted subset — wiki-
    like pages, curated docs). Lower = more reference-like; gibberish
    and boilerplate score high. Not a normalized LM (c1 counts all
    occurrences, not bigram-firsts) — a monotone quality signal, which
    is all the filter needs.

    Scale shape: the reference reduces to a unigram manifest (1 row per
    vocab word) and a bigram manifest (1 row per distinct bigram); doc
    bigrams explode per token (same row count as the tf stage of
    tfidf_top_terms). Joins probe on the Zipf-skewed word keys but the
    build sides carry ONE row per key, so AQE's skew handling covers
    the probe; V and the manifests ride as AQE-size-gated joins.

    Cross-engine float discipline: each bigram's logp is rounded to 9dp
    (Java Math.log vs libm ulp), then the per-doc sum is folded over
    the POSITION-SORTED list — both engines sum the same values in the
    same order, so the 6dp-rounded average hashes identically (a bare
    sum(double) would be partial-agg-order-dependent in Spark).
    Docs with < 2 words (no bigrams) are absent from the output.
    Output (doc_id, n_bigrams, lm_score)."""
    ws = f"split({text_col}, ' ')"
    # guard the 0/1-word case explicitly: Spark's sequence(0, -1) is a
    # DESCENDING sequence [0, -1], not empty
    bigrams_arr = (
        f"element_at(transform(array({ws}), ws -> "
        "case when size(ws) < 2 then "
        "cast(array() as array<struct<pos:int,w1:string,w2:string>>) "
        "else transform(sequence(0, size(ws) - 2), i -> "
        "named_struct('pos', i, 'w1', element_at(ws, i + 1), "
        "'w2', element_at(ws, i + 2))) end), 1)"
    )
    doc_bigrams = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(F.expr(bigrams_arr)).alias("bg")
    ).select(id_col, "bg.pos", "bg.w1", "bg.w2")
    ref_words = ref.where(F.col(text_col).isNotNull()).select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    uni = ref_words.groupBy(F.col("w").alias("w1")).agg(
        F.count("*").cast("bigint").alias("c1")
    )
    ref_bigrams = ref.where(F.col(text_col).isNotNull()).select(
        F.explode(F.expr(bigrams_arr)).alias("bg")
    ).select("bg.w1", "bg.w2")
    bi = ref_bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    v = uni.agg(F.count("*").cast("bigint").alias("V"))
    scored = (
        doc_bigrams.join(uni, "w1", "left")
        .join(bi, ["w1", "w2"], "left")
        .join(F.broadcast(v), how="cross")
        .selectExpr(
            id_col,
            "pos",
            "round(ln((cast(coalesce(c12, 0) as double) + 1.0) / "
            "(cast(coalesce(c1, 0) as double) + cast(V as double))), 9) "
            "AS logp",
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr("sort_array(collect_list(struct(pos, logp)))").alias("ps")
        )
        .selectExpr(
            id_col,
            "cast(size(ps) as bigint) AS n_bigrams",
            "round(-aggregate(ps, cast(0.0 as double), "
            "(a, x) -> a + x.logp) / size(ps), 6) AS lm_score",
        )
    )


def oracle_lm_score_sql(
    table: str = "documents",
    docs_pred: str = "doc_id % 10 <> 0",
    ref_pred: str = "doc_id % 10 = 0",
) -> str:
    """Mirror over a deterministic split of the one driver table.
    list(logp ORDER BY pos) + sequential list fold = the same
    position-ordered summation as the Spark sort_array/aggregate."""
    bg = (
        "list_transform(generate_series(1, greatest(len(ws) - 1, 0)), "
        "i -> {'pos': i, 'w1': ws[i], 'w2': ws[i + 1]})"
    )
    return f"""
WITH dw AS (SELECT doc_id, str_split(text, ' ') AS ws FROM {table}
            WHERE {docs_pred} AND text IS NOT NULL),
rw AS (SELECT str_split(text, ' ') AS ws FROM {table}
       WHERE {ref_pred} AND text IS NOT NULL),
uni AS (SELECT w AS w1, count(*)::BIGINT AS c1
        FROM (SELECT unnest(ws) AS w FROM rw) GROUP BY w),
bi AS (SELECT b.w1, b.w2, count(*)::BIGINT AS c12
       FROM (SELECT unnest({bg}) AS b FROM rw)
       GROUP BY b.w1, b.w2),
vq AS (SELECT count(*)::BIGINT AS V FROM uni),
dbg AS (SELECT doc_id, b.pos AS pos, b.w1 AS w1, b.w2 AS w2
        FROM (SELECT doc_id, unnest({bg}) AS b FROM dw)),
lp AS (
  SELECT doc_id, pos,
         round(ln((coalesce(c12, 0) + 1.0) /
                  (coalesce(c1, 0) + V::DOUBLE)), 9) AS logp
  FROM dbg LEFT JOIN uni USING (w1) LEFT JOIN bi USING (w1, w2)
  CROSS JOIN vq
),
folded AS (
  SELECT doc_id, list(logp ORDER BY pos) AS ps FROM lp GROUP BY doc_id
)
SELECT doc_id, len(ps)::BIGINT AS n_bigrams,
       round(-list_sum(ps) / len(ps), 6) AS lm_score
FROM folded
"""


def lm_buckets(
    docs: DataFrame,
    ref: DataFrame,
    n_buckets: int = 3,
    part_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_range_parts: int | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail split: bucket the LM quality score into
    ``n_buckets`` PER ``part_col`` group (bucket 1 = head = most
    reference-like), ties broken on ``id_col`` so the split is
    deterministic and oracle-exact. Output is value-identical to
    ``ntile(n_buckets) OVER (PARTITION BY part_col ORDER BY lm_score,
    id)`` — the oracle stays the plain ntile — but the PLAN is not a
    per-lang window: ``part_col`` is a low-cardinality skewed key (at
    crawl scale the English partition is ~half the corpus), and a Spark
    window partition is one task, so per-lang ntile sorts the head
    language on a single reducer. Instead, exact two-pass bucketing:

    1. range-repartition scored rows on (part, score, id) — a
       distributed TOTAL sort across ``n_range_parts`` partitions (the
       key is unique ⇒ strict order, so ranks are exact no matter where
       the sampled range boundaries land);
    2. local row_number within (range-partition, part) — every window
       partition is bounded by corpus/P rows regardless of language
       skew (``spark_partition_id`` is evaluated in a projection pinned
       above the range exchange: it is non-deterministic to Catalyst,
       so it cannot be pushed below the repartition);
    3. a (P × #parts)-row count manifest gives each (partition, part)
       its global per-part rank offset and each part its total n —
       tiny aggregates, broadcast back;
    4. bucket from rank by the exact ntile rule (the first n mod b
       buckets get ⌈n/b⌉ rows, the rest ⌊n/b⌋) — all integer
       arithmetic, so it matches DuckDB's ntile bit-for-bit.

    Not lazy: construction runs one eager Spark job, the
    ``localCheckpoint`` of the scored, range-partitioned rows, before
    the frame is returned."""
    from pyspark.sql import Window

    scored = lm_score(docs, ref, text_col, id_col)
    parts = docs.select(F.col(id_col), F.col(part_col))
    joined = scored.join(parts, id_col)
    ranged = joined.repartitionByRange(
        *([n_range_parts] if n_range_parts else []),
        F.col(part_col), F.col("lm_score"), F.col(id_col),
    ).withColumn("_pid", F.spark_partition_id())
    wl = Window.partitionBy("_pid", part_col).orderBy(
        F.asc("lm_score"), F.asc(id_col)
    )
    local = ranged.withColumn("_lrn", F.row_number().over(wl))
    # r9: `local` has TWO consumers (the manifest aggregate and the
    # final probe join) — left lazy the whole lm_score lineage + range
    # exchange re-derives per consumer (the multi-consumer invariant),
    # and the two computations' spark_partition_id/rank assignments are
    # only consistent because the range partitioner is deterministic;
    # the eager checkpoint makes them consistent BY CONSTRUCTION and
    # runs the scoring once. Values unchanged.
    local = local.localCheckpoint(eager=True)
    # tiny manifest: rows per (range partition, part) → per-part offset
    # of each partition (exclusive prefix sum over pid) + per-part total
    counts = local.groupBy("_pid", part_col).agg(
        F.count("*").alias("_cnt")
    )
    wo = Window.partitionBy(part_col).orderBy("_pid")
    manifest = counts.select(
        "_pid", part_col,
        (F.sum("_cnt").over(wo) - F.col("_cnt")).alias("_off"),
        F.sum("_cnt").over(
            Window.partitionBy(part_col)
        ).alias("_n"),
    )
    b = int(n_buckets)
    # exact ntile: rank r of n rows → first (n % b) buckets take
    # ceil(n/b) = q+1 rows, the rest take q = n div b
    bucket = (
        f"cast(case when _rank <= (_n % {b}) * (_n div {b} + 1) "
        f"then (_rank + _n div {b}) div (_n div {b} + 1) "
        f"else (_n % {b}) + ((_rank - (_n % {b}) * (_n div {b} + 1) "
        f"+ _n div {b} - 1) div (_n div {b})) end as bigint)"
    )
    return (
        local.join(F.broadcast(manifest), ["_pid", part_col])
        .withColumn("_rank", F.col("_off") + F.col("_lrn"))
        .select(
            id_col, part_col, "lm_score",
            F.expr(bucket).alias("bucket"),
        )
    )


def oracle_lm_buckets_sql(
    table: str = "documents",
    n_buckets: int = 3,
    docs_pred: str = "doc_id % 10 <> 0",
    ref_pred: str = "doc_id % 10 = 0",
) -> str:
    """ntile over the lm_score oracle, same per-lang frame and
    tie-break."""
    return f"""
WITH scored AS ({oracle_lm_score_sql(table, docs_pred, ref_pred)})
SELECT s.doc_id, d.lang, s.lm_score,
       ntile({n_buckets}) OVER (PARTITION BY d.lang
                                ORDER BY s.lm_score, s.doc_id)::BIGINT
         AS bucket
FROM scored s JOIN {table} d ON d.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# deterministic BPE token counting (round 8)
#
# textstats.token_count counts whitespace words; trainer budgets are
# BPE tokens. This section implements REAL byte-pair encoding —
# Sennrich et al. 2016 application order: each learned merge is applied
# to the whole token stream, in learned order, merging occurrences
# left-to-right without overlap — entirely with JVM-side string
# functions (no Python in the hot path, row-local, zero shuffle).
#
# Encoding trick that makes one `replace()` per merge EXACT: the token
# stream is rendered as '__' + token + '__' + token + '__' (tokens
# never contain '_'), and merge (x, y) is replace('_x__y_' -> '_xy_').
# Because each boundary is TWO underscores and the pattern consumes
# only the inner one on each side, adjacent candidates don't share
# pattern characters, so SQL replace()'s standard continue-after-match
# scan implements exactly the left-to-right non-overlapping merge:
#   [a,b,a,b]: '__a__b__a__b__' -> '__ab__ab__'   (both pairs merge)
#   [l,l,l]:   '__l__l__l__'    -> '__ll__l__'    (no overlap reuse)
# M merges = M chained replace() calls — one codegen'd expression.
#
# The default merge table is a small fixed public-style English table
# (deterministic, embedded below); a production run would load the
# merge list of a publicly released tokenizer (e.g. a merges.txt) into
# the same operator — the plan shape does not change with |merges|.

#: ordered (x, y) merge list; every compound operand is the output of
#: an earlier merge (single chars are always available)
DEFAULT_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("e", "r"), ("a", "t"), ("e", "n"), ("e", "s"),
    ("o", "r"), ("a", "r"), ("a", "l"), ("o", "u"), ("in", "g"),
    ("an", "d"), ("i", "s"), ("i", "t"), ("o", "f"), ("t", "o"),
    ("e", "d"), ("s", "t"), ("l", "e"), ("o", "m"), ("s", "e"),
    ("b", "e"), ("c", "h"), ("s", "h"), ("l", "l"), ("o", "o"),
    ("e", "e"), ("s", "s"), ("t", "er"), ("th", "at"), ("n", "t"),
    ("e", "nt"), ("i", "on"), ("t", "ion"), ("a", "tion"),
    ("er", "s"), ("in", "e"), ("or", "e"), ("an", "t"), ("al", "l"),
    ("es", "t"), ("0", "0"), ("2", "0"), ("1", "9"),
]


def _bpe_sanitize(text: str, dialect: str) -> str:
    """Lowercase, collapse non-[a-z0-9] runs to single spaces, trim —
    the shared pre-tokenization rule (word boundaries = spaces; merges
    never cross them because ' ' appears in no merge)."""
    if dialect == "spark":
        return f"trim(regexp_replace(lower({text}), '[^a-z0-9]+', ' '))"
    return f"trim(regexp_replace(lower({text}), '[^a-z0-9]+', ' ', 'g'))"


def _bpe_chain(spread: str, merges) -> str:
    """Nested replace() chain applying ``merges`` in order to the
    '__'-separated stream expression ``spread`` (same SQL both
    engines)."""
    expr = spread
    for x, y in merges:
        for tok in (x, y):
            if "_" in tok or " " in tok or "'" in tok:
                raise ValueError(f"invalid merge token {tok!r}")
        expr = f"replace({expr}, '_{x}__{y}_', '_{x}{y}_')"
    return expr


def bpe_token_count(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges: list[tuple[str, str]] | None = None,
    preview_k: int = 8,
) -> DataFrame:
    """(id, n_bpe_tokens, n_word_tokens, bpe_preview) per doc —
    ``n_bpe_tokens`` is the post-merge token count excluding the space
    (word-boundary) tokens, ``bpe_preview`` the first ``preview_k``
    real tokens joined with '|' (puts actual merge OUTPUT in the
    driver hash, not just a count).

    Row-local, zero shuffle; the sanitize and merge-chain expressions
    are lambda-bound (computed once per row) and the three outputs are
    emitted through one ``inline()`` generator, so CollapseProject
    cannot re-inline the chain per output column (the CLAUDE.md
    higher-order-recompute rule)."""
    mg = DEFAULT_BPE_MERGES if merges is None else merges
    san = _bpe_sanitize(text_col, "spark")
    # '__tok__tok__' spread: every char becomes char + '__'
    spread = "'__' || regexp_replace(san, '(.)', '$1__')"
    chain = _bpe_chain(spread, mg)
    struct = (
        "named_struct("
        "'n_bpe_tokens', cast((length(s) - length(replace(s, '__', '')))"
        " div 2 - 1 - (length(san) - length(replace(san, ' ', ''))) "
        "as bigint), "
        "'n_word_tokens', cast(case when san = '' then 0 else "
        "size(split(san, ' ')) end as bigint), "
        "'bpe_preview', array_join(slice(filter(split(s, '__'), "
        f"t -> t <> '' AND t <> ' '), 1, {int(preview_k)}), '|'))"
    )
    arr = (
        f"transform(array({san}), "
        f"san -> transform(array({chain}), s -> {struct})[0])"
    )
    return docs.select(F.col(id_col), F.expr(f"inline({arr})"))


def oracle_bpe_token_count_sql(
    table: str = "documents",
    text_expr: str = "text",
    merges: list[tuple[str, str]] | None = None,
    preview_k: int = 8,
) -> str:
    """DuckDB mirror of :func:`bpe_token_count`: the same sanitize →
    spread → replace-chain, staged through CTEs."""
    mg = DEFAULT_BPE_MERGES if merges is None else merges
    chain = _bpe_chain("s1", mg)
    return f"""
WITH src AS (SELECT doc_id, {text_expr} AS text FROM {table}),
san AS (SELECT doc_id,
               {_bpe_sanitize('text', 'duckdb')} AS s0 FROM src),
spread AS (SELECT doc_id, s0,
                  '__' || regexp_replace(s0, '(.)', '\\1__', 'g') AS s1
           FROM san),
merged AS (SELECT doc_id, s0, {chain} AS s FROM spread)
SELECT doc_id,
       ((length(s) - length(replace(s, '__', ''))) // 2 - 1
        - (length(s0) - length(replace(s0, ' ', ''))))::BIGINT
         AS n_bpe_tokens,
       (CASE WHEN s0 = '' THEN 0
             ELSE len(str_split(s0, ' ')) END)::BIGINT AS n_word_tokens,
       coalesce(array_to_string(
         array_slice(list_filter(str_split(s, '__'),
                                 t -> t <> '' AND t <> ' '),
                     1, {int(preview_k)}), '|'), '') AS bpe_preview
FROM merged
"""


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_frac: float = 1.0,
    train_salt: str = "h5bpe",
) -> DataFrame:
    """Learn a BPE merge table FROM the corpus (Sennrich et al. 2016
    training): ``n_merges`` rounds of (count adjacent token pairs
    corpus-wide → take the most frequent → merge it everywhere).
    Output one row per learned merge: ``(merge_idx, x, y, pair_count)``
    in learned order — feed the collected (x, y) list to
    :func:`bpe_token_count` / ``token_budget(mode="bpe")`` to encode
    with the learned vocabulary.

    Determinism: pair counts are bigint (shuffle-order exact); the
    round winner is the total order (count DESC, x, y) — so the learned
    table is identical at any parallelism, and the fixed round count
    makes the trainer SQL-expressible (:func:`oracle_bpe_train_sql`
    unrolls the rounds, per the repo's fixed-iteration rule).

    Plan shape / 100 TB: each round is ONE map-side-combinable
    groupBy((x, y)) over the current segmentation (pair vocabulary is
    O(vocab²) — tiny vs the corpus) + a 1-row top-1 + a row-local
    ``replace()`` update; the segmentation is localCheckpointed per
    round (the PageRank barrier — otherwise round i's lazy plan
    re-derives round i-1 twice, 2^n growth), and each corpus-sized
    segmentation is released once the next one is materialized.
    ``train_frac`` gates training on the deterministic md5 hash-sample
    (the IVF recipe — industrial BPE trainers sample exactly this way);
    the oracle mirrors the gate."""
    from .sampling import _uniform_expr

    san = _bpe_sanitize(text_col, "spark")
    seg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"'__' || regexp_replace({san}, '(.)', '$1__')").alias("s"),
    )
    if train_frac < 1.0:
        u = _uniform_expr("doc_id", train_salt)
        seg = seg.where(F.expr(f"({u}) < {float(train_frac)!r}"))
    seg = seg.localCheckpoint(eager=True)

    # adjacent-token pairs of one segmentation string: tokens =
    # split(s, '__') -> ['', t1..tn, '']; pairs (t_i, t_{i+1}) with the
    # word-boundary ' ' token excluded from both sides
    pairs_expr = (
        "transform(array(split(s, '__')), t -> case when size(t) < 4 "
        "then cast(array() as array<struct<x:string,y:string>>) else "
        "filter(zip_with(slice(t, 2, size(t) - 3), "
        "slice(t, 3, size(t) - 3), "
        "(x, y) -> named_struct('x', x, 'y', y)), "
        "p -> p.x <> ' ' AND p.y <> ' ') end)[0]"
    )
    merges = []
    for i in range(1, n_merges + 1):
        cnt = (
            seg.select(F.explode(F.expr(pairs_expr)).alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.count("*").cast("bigint").alias("pair_count"))
        )
        m = (
            cnt.orderBy(F.desc("pair_count"), "x", "y")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        merges.append(
            m.select(
                F.lit(i).cast("bigint").alias("merge_idx"),
                "x", "y", "pair_count",
            )
        )
        if i < n_merges:
            new = (
                seg.crossJoin(F.broadcast(m))
                .select(
                    "doc_id",
                    F.expr(
                        "replace(s, '_' || x || '__' || y || '_', "
                        "'_' || x || y || '_')"
                    ).alias("s"),
                )
                .localCheckpoint(eager=True)
            )
            release_checkpoint(seg)
            seg = new
    # the merges read only their 1-row checkpoints, never the corpus
    release_checkpoint(seg)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def oracle_bpe_train_sql(
    table: str = "documents",
    text_expr: str = "text",
    n_merges: int = 8,
    train_frac: float = 1.0,
    train_salt: str = "h5bpe",
) -> str:
    """Unrolled-CTE DuckDB mirror of :func:`bpe_train`: one
    (pair-count, top-1, re-segment) CTE triple per round."""
    gate = ""
    if train_frac < 1.0:
        gate = (
            " WHERE cast(('0x' || substr(md5('" + train_salt + "' || "
            "doc_id::VARCHAR), 1, 8))::BIGINT as double) / "
            f"{float(1 << 32)} < {float(train_frac)!r}"
        )
    # MATERIALIZED: each s_i is referenced twice (pair count + next
    # re-segmentation); inlined CTEs would re-derive the base scan
    # 2^n_merges times (DuckDB hits EMFILE on the parquet at n=8)
    ctes = [
        f"""s0 AS MATERIALIZED (
  SELECT doc_id,
         '__' || regexp_replace({_bpe_sanitize(text_expr, 'duckdb')},
                                '(.)', '\\1__', 'g') AS s
  FROM {table}{gate}
)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS (
  SELECT x, y, count(*)::BIGINT AS pair_count FROM (
    SELECT t[i] AS x, t[i + 1] AS y FROM (
      SELECT str_split(s, '__') AS t FROM s{p}
    ), unnest(range(1, len(t))) u(i)
  ) WHERE x NOT IN ('', ' ') AND y NOT IN ('', ' ')
  GROUP BY x, y
),
m{i} AS MATERIALIZED (SELECT x, y, pair_count FROM c{i}
         ORDER BY pair_count DESC, x, y LIMIT 1)"""
        )
        if i < n_merges:
            ctes.append(
                f"""s{i} AS MATERIALIZED (
  SELECT doc_id,
         replace(s, '_' || (SELECT x FROM m{i}) || '__' ||
                    (SELECT y FROM m{i}) || '_',
                 '_' || (SELECT x FROM m{i}) ||
                    (SELECT y FROM m{i}) || '_') AS s
  FROM s{p}
)"""
            )
    sel = "\nUNION ALL ".join(
        f"SELECT {i}::BIGINT AS merge_idx, x, y, pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM (\n" + sel
        + "\n) ORDER BY merge_idx"
    )


def bpe_count_expr(text_col: str, dialect: str, merges=None) -> str:
    """Scalar SQL expression: BPE token count of ``text_col`` (the
    :func:`bpe_token_count` rule as one expression, for embedding in
    composed pipelines/oracles). Spark side lambda-binds the sanitize
    and merge chain; the DuckDB side inlines (oracle-only, single
    node)."""
    mg = DEFAULT_BPE_MERGES if merges is None else merges
    san = _bpe_sanitize(text_col, dialect)
    if dialect == "spark":
        chain = _bpe_chain(
            "'__' || regexp_replace(san, '(.)', '$1__')", mg
        )
        return (
            f"transform(array({san}), san -> transform(array({chain}), "
            "s -> cast((length(s) - length(replace(s, '__', ''))) div 2 "
            "- 1 - (length(san) - length(replace(san, ' ', ''))) "
            "as bigint))[0])[0]"
        )
    chain = _bpe_chain(
        f"'__' || regexp_replace({san}, '(.)', '\\1__', 'g')", mg
    )
    return (
        f"((length({chain}) - length(replace({chain}, '__', ''))) // 2 "
        f"- 1 - (length({san}) - length(replace({san}, ' ', ''))))"
        "::BIGINT"
    )


# ---------------------------------------------------------------------------
# mojibake repair (the ftfy-style fix): UTF-8 bytes that were read as
# windows-1252 somewhere upstream ("café" shipped as "cafÃ©") are the
# single most common encoding defect in web crawls — CCNet/C4-class
# pipelines repair it before any quality scoring sees the text.


def _cp1252_bytes(s: str) -> bytes | None:
    """Inverse of the WHATWG windows-1252 decode: every char back to
    its byte, INCLUDING the five C1 controls Python's cp1252 codec
    rejects (0x81/8D/8F/90/9D decode to U+0081.. under WHATWG — their
    round-trip must survive repair). None if any char has no byte."""
    try:
        return s.encode("cp1252")
    except UnicodeEncodeError:
        pass
    out = bytearray()
    for ch in s:
        o = ord(ch)
        if o in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
            out.append(o)
            continue
        try:
            out += ch.encode("cp1252")
        except UnicodeEncodeError:
            return None
    return bytes(out)


def fix_mojibake_text(t: str, max_passes: int = 3) -> tuple[str, int]:
    """Repair one string: while the text encodes losslessly back to
    windows-1252 bytes that ARE valid UTF-8 and decode to something
    shorter (real repair strictly shrinks — multi-byte sequences
    collapse), take the decode. Pure ASCII round-trips to itself and
    stops immediately; doubly-encoded text repairs in two passes.
    Returns (fixed, n_passes_applied)."""
    passes = 0
    for _ in range(max_passes):
        if t.isascii():
            break
        raw = _cp1252_bytes(t)
        if raw is None:
            break
        try:
            dec = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        if dec == t:
            break
        t = dec
        passes += 1
    return t, passes


def fix_mojibake(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_passes: int = 3,
) -> DataFrame:
    """docs → (id, text_fixed, n_passes bigint): row-local mojibake
    repair in Arrow batches — zero shuffle, embarrassingly parallel;
    at 100 TB this rides the same scan as the other row-local text
    gates. ``n_passes`` = how many decode layers were peeled (0 =
    clean; 2 = the doubly-encoded case)."""

    def emit(out, t) -> int:
        fixed, n = fix_mojibake_text(t or "", max_passes)
        out["text_fixed"].append(fixed)
        out["n_passes"].append(n)
        return 1

    return map_rows(
        docs, [F.col(id_col).cast("bigint").alias(id_col)], [text_col], emit,
        pa.schema([("text_fixed", pa.string()), ("n_passes", pa.int64())]),
    )
