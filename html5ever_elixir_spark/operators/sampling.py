"""Deterministic sampling for training-data curation: hash-gated
stratified sampling (per-language / per-source keep rates) that is
reproducible across runs, engines, and cluster sizes.

Why hash-gated rather than ``df.sample()``: Bernoulli sampling with a
seed is tied to partition layout (same seed + different partitioning =
different sample), which breaks resume/audit at corpus scale. A pure
function of the row key is layout-independent, join-stable (the same
doc is in or out everywhere it appears), and exactly mirrorable in the
DuckDB oracle. Row-local projection + filter: zero shuffle, fully
codegen'd, scan-pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 16^8: first 8 md5 hex digits as a uniform draw from [0, 1)
_DENOM = float(1 << 32)


def _uniform_expr(id_col: str, salt: str) -> str:
    """SQL expr: deterministic uniform [0,1) from the row key.
    Spark `conv(hex,16,10)` == DuckDB `('0x'||hex)::BIGINT` (same trick
    as the SimHash word hashes)."""
    return (
        f"cast(conv(substring(md5(concat('{salt}', cast({id_col} as string))), "
        f"1, 8), 16, 10) as double) / {_DENOM}"
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "h5s",
) -> DataFrame:
    """Keep each row iff u(id) < rate(stratum), where u is the first 8
    md5 hex digits of salt||id scaled to [0,1). E.g. rates
    ``{"en": 0.5, "de": 1.0}`` downsamples English to ~50% and keeps
    all German; strata not listed get ``default_rate``. Changing
    ``salt`` draws an independent sample. Output = input columns."""
    u = _uniform_expr(id_col, salt)
    branches = " ".join(
        f"when {strata_col} = '{k}' then cast({v} as double)"
        for k, v in sorted(rates.items())
    )
    rate = f"case {branches} else cast({default_rate} as double) end"
    return docs.where(F.expr(f"({u}) < ({rate})"))


def oracle_stratified_sample_sql(
    rates: dict[str, float],
    table: str = "documents",
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "h5s",
    select: str = "*",
) -> str:
    u = (
        f"cast(('0x' || substr(md5('{salt}' || {id_col}::VARCHAR), 1, 8))"
        f"::BIGINT as double) / {_DENOM}"
    )
    branches = " ".join(
        f"when {strata_col} = '{k}' then cast({v} as double)"
        for k, v in sorted(rates.items())
    )
    rate = f"case {branches} else cast({default_rate} as double) end"
    return f"SELECT {select} FROM {table} WHERE ({u}) < ({rate})"


DEFAULT_SPLITS = (("train", 0.98), ("val", 0.01), ("test", 0.01))


def split_assign(
    docs: DataFrame,
    splits: tuple = DEFAULT_SPLITS,
    id_col: str = "doc_id",
    salt: str = "h5split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    training pipeline needs to be reproducible across runs, engines,
    and cluster sizes: bucket by the same layout-independent uniform
    draw as :func:`stratified_sample` against cumulative fractions.
    The LAST split is the catch-all (fractions may sum < 1 — the
    remainder lands there), so no doc is ever unassigned by float
    edge effects. Changing ``salt`` redraws the split; a doc keeps its
    assignment under any repartition/resume. Row-local projection,
    zero shuffle. The uniform draw is lambda-bound so the md5 is
    computed ONCE per row, not once per case branch (CollapseProject
    re-inlines projected aliases). Output = input columns + ``split``.
    """
    u = _uniform_expr(id_col, salt)
    cum = 0.0
    branches = []
    for name, frac in splits[:-1]:
        cum += frac
        branches.append(f"when u < {cum!r} then '{name}'")
    case = f"case {' '.join(branches)} else '{splits[-1][0]}' end"
    expr = f"element_at(transform(array({u}), u -> {case}), 1)"
    return docs.withColumn("split", F.expr(expr))


def oracle_split_assign_sql(
    splits: tuple = DEFAULT_SPLITS,
    table: str = "documents",
    id_col: str = "doc_id",
    salt: str = "h5split",
    select: str = "doc_id",
) -> str:
    u = (
        f"cast(('0x' || substr(md5('{salt}' || {id_col}::VARCHAR), 1, 8))"
        f"::BIGINT as double) / {_DENOM}"
    )
    cum = 0.0
    branches = []
    for name, frac in splits[:-1]:
        cum += frac
        branches.append(f"when ({u}) < {cum!r} then '{name}'")
    case = f"case {' '.join(branches)} else '{splits[-1][0]}' end"
    return f"SELECT {select}, {case} AS split FROM {table}"


def cap_per_group(
    docs: DataFrame,
    k: int,
    group_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    pre_cap: bool = True,
) -> DataFrame:
    """Bound any one group's contribution (the host-bias control of a
    crawl pipeline): keep at most ``k`` rows per group, preferring the
    largest ``order_col`` (ties → smallest id, fully deterministic).

    Scale shape: a single window partitioned by the group key is one
    task per group — fine for bounded per-host caps, a cliff when the
    key is skewed (one source = half the corpus). With ``pre_cap``
    (default), a salted local top-k runs first: rows are ranked within
    (input-partition, group) — ``spark_partition_id`` spreads a hot
    group across as many window partitions as there are scan tasks —
    and only the top ``k`` of each survive to the global window, which
    then sees at most k × P rows per group instead of the group's full
    size. The global top-k is contained in the union of per-partition
    top-k's, so the result is EXACTLY the single-window result (the
    ``sample_cap_per_source`` oracle is unchanged).
    Output = input columns of the surviving rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    src = docs
    if pre_cap:
        src = src.withColumn("_pcid", F.spark_partition_id())
        wl = Window.partitionBy("_pcid", group_col).orderBy(
            F.desc_nulls_last(order_col), F.asc(id_col)
        )
        src = (
            src.withColumn("_prn", F.row_number().over(wl))
            .where(F.col("_prn") <= k)
            .drop("_pcid", "_prn")
        )
    w = Window.partitionBy(group_col).orderBy(
        F.desc_nulls_last(order_col), F.asc(id_col)
    )
    return (
        src.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def oracle_cap_per_group_sql(
    k: int,
    table: str = "documents",
    group_col: str = "source",
    order_col: str = "n_chars",
    select: str = "doc_id, text, lang, source, n_chars",
) -> str:
    return f"""
SELECT {select} FROM (
  SELECT *, row_number() OVER (PARTITION BY {group_col}
            ORDER BY {order_col} DESC NULLS LAST, doc_id) AS _rn
  FROM {table}
) WHERE _rn <= {k}
"""


def temperature_mix(
    docs: DataFrame,
    temperature: float = 2.0,
    target_frac: float = 0.5,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "h5mix",
) -> DataFrame:
    """Temperature-based source mixing — the standard multi-source
    trainer recipe: sample sources proportionally to p_s^(1/T), so
    T > 1 flattens the natural distribution (upweights small sources)
    and T = 1 keeps it. Per-source keep rate
    ``r_s = min(1, target_frac * N * q_s / n_s)`` with
    ``q_s = n_s^(1/T) / Σ_t n_t^(1/T)``; rows are then hash-gated like
    :func:`stratified_sample` (layout-independent, resumable,
    oracle-mirrorable). The rate table is one tiny aggregate
    (#groups rows, single-partition window) joined back onto the
    corpus. The join carries no broadcast hint, so AQE decides: a
    bounded vocabulary (sources, registries, languages) still
    broadcast-joins, and grouping by an UNBOUNDED key (per-host mixing
    at web scale: 10^8 hosts) degrades to a shuffle join instead of
    OOMing. The rate
    FORMULA is written with identical operation order on both engines,
    then **rounded to 9 decimal places before the compare** (ADVICE r4):
    Spark's Math.pow / window-sum order and DuckDB's libm are not
    guaranteed bit-identical, so a draw within an ulp of the raw rate
    boundary could flip between engines; rounding both sides makes the
    gate decision engine-independent.
    Output = input columns of the surviving rows."""
    from pyspark.sql import Window

    inv_t = repr(1.0 / temperature)
    tf = repr(float(target_frac))
    w = Window.partitionBy()
    rates = (
        docs.groupBy(group_col)
        .agg(F.count("*").alias("n_s"))
        .withColumn("sumq", F.sum(F.expr(f"pow(n_s, {inv_t})")).over(w))
        .withColumn("N", F.sum("n_s").over(w))
        .selectExpr(
            group_col,
            f"round(least(cast(1.0 as double), cast({tf} as double) * N * "
            f"(pow(n_s, {inv_t}) / sumq) / n_s), 9) AS _rate",
        )
    )
    u = _uniform_expr(id_col, salt)
    return (
        docs.join(rates, group_col)
        .where(F.expr(f"({u})") < F.col("_rate"))
        .drop("_rate")
    )


def oracle_temperature_mix_sql(
    temperature: float = 2.0,
    target_frac: float = 0.5,
    table: str = "documents",
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "h5mix",
    select: str = "doc_id, source",
) -> str:
    inv_t = repr(1.0 / temperature)
    tf = repr(float(target_frac))
    u = (
        f"cast(('0x' || substr(md5('{salt}' || {id_col}::VARCHAR), 1, 8))"
        f"::BIGINT as double) / {_DENOM}"
    )
    return f"""
WITH counts AS (
  SELECT {group_col}, count(*) AS n_s FROM {table} GROUP BY {group_col}
),
tot AS (
  SELECT sum(n_s) AS N, sum(pow(n_s, {inv_t})) AS sumq FROM counts
),
rates AS (
  SELECT {group_col},
         round(least(cast(1.0 as double), cast({tf} as double) * N *
               (pow(n_s, {inv_t}) / sumq) / n_s), 9) AS _rate
  FROM counts, tot
)
SELECT {select} FROM {table} d JOIN rates USING ({group_col})
WHERE ({u}) < _rate
"""
