"""Shared helpers for the query suite: table loading and engine-parity
numeric idioms.

Floating-point sums are not associative, so a parallel Spark aggregation and
a DuckDB aggregation over the same doubles can differ in the last ULP and
fail a value-hash comparison. Every money/measure aggregation in this suite
therefore casts to DECIMAL first (exact, order-independent), aggregates, and
casts the final value back to DOUBLE. Both engines then produce bit-identical
doubles. The same SQL shape is used in the oracle strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet_nanos_as_long

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Force-broadcast only the FIXED-cardinality dimensions (region: 5 rows,
# nation: 25 rows — constant at any scale factor). Everything else —
# supplier, part, customer — grows with SF and would eventually blow past
# executor memory as a forced broadcast; parquet size estimates + AQE
# broadcast them while small and fall back to shuffle joins beyond the
# threshold (the plan tests pin that the local-SF plans stay broadcast).
BROADCAST_DIMS = {"region", "nation"}


# Columns stored as parquet TIMESTAMP(NANOS) — Spark reads them as long
# nanos (legacy conf) and we truncate to micros, matching DuckDB's floor
# behavior for TIMESTAMP_NS → TIMESTAMP.
NANOS_COLS = {"events": ("ts",)}


# The scaling facts: fan their scans out when the input can't split,
# keyed by the column their joins/groupBys use so the exchange is
# reusable. Dimensions stay un-fanned (they broadcast or are tiny).
FAN_OUT_FACTS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _fan_out(spark: SparkSession, df: DataFrame, path: str, key: str) -> DataFrame:
    """Scale-adaptive scan fan-out (optimization guide §2.5 "input skew:
    one huge unsplittable file … repartition immediately after the read").

    The bench inputs are single-file single-ROW-GROUP parquet at every SF,
    so every scan — and the whole map side fused onto it (projections,
    partial aggregation, shuffle write) — runs as ONE task regardless of
    core count. A row group is parquet's split unit, so
    files.maxPartitionBytes/minPartitionNum cannot widen it; a repartition
    right after the read can. HASH-keyed on the table's natural join/group
    key, not round-robin: a keyless repartition(n) first pays a local sort
    of its whole input inside the single scan task (sortBeforeRepartition,
    guide §2.5) — measured +1.1s on tpch_q18 — while hashpartitioning is
    sort-free, deterministic under task retry, and reusable by downstream
    joins/aggregations on the same key. Guarded by an estimated split
    count so it is a NO-OP at real scale (files ≥ maxPartitionBytes split
    on their own), and the width follows defaultParallelism so the
    driver's reduced-core bench runs keep scaling. Filters/pruning still
    reach the scan (Catalyst pushes predicates through RepartitionByExpr);
    row values are untouched."""
    try:
        import os

        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = 128 * 1024 * 1024  # session files.maxPartitionBytes
    par = spark.sparkContext.defaultParallelism
    if max(1, size // max_split) < par:
        return df.repartition(par, F.col(key))
    return df


def table(
    spark: SparkSession, sf_dir: str, name: str, fan: bool = True
) -> DataFrame:
    """Load a bench table. ``fan=False`` opts a query out of the scan
    fan-out — for lean scan+filter+agg shapes whose whole map side is
    cheaper than one extra exchange AND whose pruned ReadSchema must not
    gain the fan-out key (tpch_q6 is the pinned example: its scan reads 4
    columns and its single global agg has no reduce side to parallelize)."""
    path = f"{sf_dir}/{name}.parquet"
    if name in NANOS_COLS:
        read_parquet_nanos_as_long(spark)
        df = spark.read.parquet(path)
        for c in NANOS_COLS[name]:
            if dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    else:
        df = spark.read.parquet(path)
    if fan and name in FAN_OUT_FACTS:
        df = _fan_out(spark, df, path, FAN_OUT_FACTS[name])
    return df


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A dimension table, hinted for broadcast join."""
    df = table(spark, sf_dir, name)
    return F.broadcast(df) if name in BROADCAST_DIMS else df


def dsum(col, scale: int = 4, alias: str | None = None):
    """Order-independent double sum: DOUBLE -> DECIMAL(27,scale) -> SUM -> DOUBLE."""
    c = F.sum(col.cast(f"decimal(27,{scale})")).cast("double")
    return c.alias(alias) if alias else c


def davg(col, scale: int = 4, alias: str | None = None):
    """Order-independent double mean: decimal sum / count, IEEE division."""
    c = (
        F.sum(col.cast(f"decimal(27,{scale})")).cast("double")
        / F.count(col).cast("double")
    )
    return c.alias(alias) if alias else c


# The matching SQL shapes for DuckDB oracles.
def sql_dsum(expr: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(27,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 4) -> str:
    return (
        f"(CAST(SUM(CAST(({expr}) AS DECIMAL(27,{scale}))) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE))"
    )


# Shared DuckDB CTE rendering the per-doc text profile (quality score,
# language id, counts) — the exact SQL mirror of operators/text.profile().
# Lives here so multiple suite modules can embed it in oracles without
# importing each other (which would perturb query registration order).
from ..operators import text as _tx  # noqa: E402

_STOP_SQL = {
    lang: "(" + ", ".join(f"'{w}'" for w in words) + ")"
    for lang, words in _tx.STOPWORDS.items()
}

# lowered word list / raw word list / per-language hit counts
PROFILE_CTE = rf"""
    base AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\s+') AS lw,
               string_split_regex(trim(text), '\s+') AS rw
        FROM documents
    ),
    hits AS (
        SELECT *,
               len(list_filter(lw, x -> x IN {_STOP_SQL['de']})) AS h_de,
               len(list_filter(lw, x -> x IN {_STOP_SQL['en']})) AS h_en,
               len(list_filter(lw, x -> x IN {_STOP_SQL['es']})) AS h_es,
               len(list_filter(lw, x -> x IN {_STOP_SQL['fr']})) AS h_fr
        FROM base
    ),
    metrics AS (
        SELECT doc_id,
               CAST(len(rw) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred,
               (CAST(h_en AS DOUBLE) / CAST(len(lw) AS DOUBLE)) AS stopword_ratio,
               (CASE WHEN length(text) > 0
                     THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                          / CAST(length(text) AS DOUBLE)
                     ELSE 0.0 END) AS punct_ratio,
               (CAST(list_sum(list_transform(rw, x -> length(x))) AS DOUBLE)
                / CAST(len(rw) AS DOUBLE)) AS mean_word_len,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM hits
    ),
    profile AS (
        SELECT *,
               (((least(CAST(n_words AS DOUBLE) / 50.0, 1.0) * 0.3
                  + least(stopword_ratio * 5.0, 1.0) * 0.3)
                 + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2)
                + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        THEN 1.0 ELSE 0.5 END) * 0.2) AS quality
        FROM metrics
    )
"""
