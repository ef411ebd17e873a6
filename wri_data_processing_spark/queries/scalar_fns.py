"""Scalar function queries (SURVEY.md §2.8, F1-F11).

The classification functions operate on file paths; driver testdata has no
path column, so each query synthesizes a deterministic path per documents row
(same CASE on both the Spark and the DuckDB side) covering every branch of
the reference logic: indicator dims, no_mask quirk, exclude dirs, aggregate
substring priority, WRI_score, filename-fallback domains.

Scale notes: all pure codegen'd expressions — zero Python, zero shuffle
(narrow transformations only except the final demo aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions import scalar as fn
from wri_data_processing_spark.functions.text import sha16
from wri_data_processing_spark.registry import query

# --- shared synthetic path (both dialects) ---------------------------------

_PATH_SQL = """
  CASE CAST(doc_id % 10 AS INTEGER)
    WHEN 0 THEN 'data/livelihoods/indicators/ind_' || doc_id || '_resistance_x.tif'
    WHEN 1 THEN 'data/water/indicators/ind_' || doc_id || '_recovery_x.tif'
    WHEN 2 THEN 'data/species/indicators_no_mask/ind_' || doc_id || '_status_x.tif'
    WHEN 3 THEN 'data/archive/old_' || doc_id || '.tif'
    WHEN 4 THEN 'data/air_quality/agg_' || doc_id || '_domain_score.tif'
    WHEN 5 THEN 'data/communities/agg_' || doc_id || '_resilience.tif'
    WHEN 6 THEN 'out/run' || doc_id || '/WRI_score.tif'
    WHEN 7 THEN 'data/retro_2005/ind_' || doc_id || '.tif'
    WHEN 8 THEN 'data/misc/natural_habitats_' || doc_id || '_status.tif'
    ELSE 'data/carbon/indicators/ind_' || doc_id || '.tif'
  END
"""


def _path_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    cases = [
        F.concat(F.lit("data/livelihoods/indicators/ind_"), i, F.lit("_resistance_x.tif")),
        F.concat(F.lit("data/water/indicators/ind_"), i, F.lit("_recovery_x.tif")),
        F.concat(F.lit("data/species/indicators_no_mask/ind_"), i, F.lit("_status_x.tif")),
        F.concat(F.lit("data/archive/old_"), i, F.lit(".tif")),
        F.concat(F.lit("data/air_quality/agg_"), i, F.lit("_domain_score.tif")),
        F.concat(F.lit("data/communities/agg_"), i, F.lit("_resilience.tif")),
        F.concat(F.lit("out/run"), i, F.lit("/WRI_score.tif")),
        F.concat(F.lit("data/retro_2005/ind_"), i, F.lit(".tif")),
        F.concat(F.lit("data/misc/natural_habitats_"), i, F.lit("_status.tif")),
        F.concat(F.lit("data/carbon/indicators/ind_"), i, F.lit(".tif")),
    ]
    mod = (F.col("doc_id") % 10).cast("int")
    path = cases[9]
    expr = F.when(mod == 0, cases[0])
    for k in range(1, 9):
        expr = expr.when(mod == k, cases[k])
    return d.select("doc_id", expr.otherwise(path).alias("path"))


_CLASSIFY_SQL = r"""
  CASE
    WHEN regexp_matches(path, '/retro_|/archive/|/final_checks/') THEN 'exclude'
    WHEN position('/indicators/' IN path) > 0 THEN 'indicator'
    WHEN regexp_matches(path, 'WRI_score\.tif$') THEN 'final_score'
    WHEN regexp_matches(path, '_(domain_score|resilience|resistance|status)\.tif$') THEN 'aggregate'
    ELSE 'exclude'
  END
"""

_DIR_CASE = "CASE " + " ".join(
    f"WHEN list_position(parts, '{d}') > 0 THEN '{d}'" for d in fn.DOMAIN_DIRS
) + " END"
_NAME_CASE = "CASE " + " ".join(
    f"WHEN position('{d}' IN filename) > 0 THEN '{d}'" for d in fn.DOMAIN_DIRS
) + " END"

_DOMAIN_SQL = f"""
  COALESCE(
    CASE WHEN list_position(parts, 'indicators') > 1
         THEN parts[list_position(parts, 'indicators') - 1] END,
    {_DIR_CASE},
    {_NAME_CASE},
    'unknown')
"""


@query(
    "fn_classify_data_type",
    oracle=f"""
    WITH paths AS (SELECT doc_id, {_PATH_SQL} AS path FROM documents)
    SELECT doc_id, path, {_CLASSIFY_SQL} AS data_type FROM paths
    """,
)
def fn_classify_data_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _path_df(spark, sf_dir)
    return p.withColumn("data_type", fn.classify_data_type(F.col("path")))


@query(
    "fn_extract_domain",
    oracle=f"""
    WITH paths AS (SELECT doc_id, {_PATH_SQL} AS path FROM documents),
    p2 AS (
      SELECT doc_id, path, string_split(path, '/') AS parts,
             regexp_extract(path, '([^/]+)$', 1) AS filename
      FROM paths
    )
    SELECT doc_id, path, {_DOMAIN_SQL} AS wri_domain FROM p2
    """,
)
def fn_extract_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _path_df(spark, sf_dir)
    return p.withColumn("wri_domain", fn.extract_domain(F.col("path")))


@query(
    "fn_classify_dimension",
    oracle=f"""
    WITH paths AS (SELECT doc_id, {_PATH_SQL} AS path FROM documents),
    p2 AS (
      SELECT doc_id, path, {_CLASSIFY_SQL} AS data_type,
             regexp_extract(path, '([^/]+)$', 1) AS filename
      FROM paths
    )
    SELECT doc_id, data_type,
      CASE
        WHEN data_type = 'indicator' THEN
          CASE WHEN position('_resistance_' IN filename) > 0 THEN 'resistance'
               WHEN position('_recovery_' IN filename) > 0 THEN 'recovery'
               WHEN position('_status_' IN filename) > 0 THEN 'status' END
        WHEN data_type = 'aggregate' THEN
          CASE WHEN position('domain_score' IN filename) > 0 THEN 'domain_score'
               WHEN position('resilience' IN filename) > 0 THEN 'resilience'
               WHEN position('resistance' IN filename) > 0 THEN 'resistance'
               WHEN position('status' IN filename) > 0 THEN 'status' END
      END AS wri_dimension
    FROM p2
    """,
)
def fn_classify_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _path_df(spark, sf_dir)
    dt = fn.classify_data_type(F.col("path"))
    return p.select(
        "doc_id",
        dt.alias("data_type"),
        fn.classify_dimension(dt, fn.basename(F.col("path"))).alias("wri_dimension"),
    )


@query(
    "fn_make_output_name",
    oracle=rf"""
    WITH paths AS (SELECT doc_id, {_PATH_SQL} AS path FROM documents),
    p2 AS (SELECT doc_id, path,
                  regexp_replace(regexp_extract(path, '([^/]+)$', 1),
                                 '\.[^./]*$', '') AS base
           FROM paths)
    SELECT doc_id,
           CASE WHEN position('/indicators_no_mask/' IN path) > 0
                THEN base || '_no_mask.tif' ELSE base || '.tif' END AS cog_filename
    FROM p2
    """,
)
def fn_make_output_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _path_df(spark, sf_dir)
    return p.select("doc_id", fn.make_cog_filename(F.col("path")).alias("cog_filename"))


@query(
    "fn_path_parts",
    oracle=r"""
    WITH paths AS (SELECT doc_id,
      'data/src' || doc_id || '/sub/file_' || doc_id || '.tar.gz' AS path
      FROM documents)
    SELECT doc_id,
           regexp_extract(path, '([^/]+)$', 1) AS filename,
           regexp_replace(regexp_extract(path, '([^/]+)$', 1), '\.[^./]*$', '') AS stem,
           regexp_replace(path, '/[^/]+$', '') AS dirname
    FROM paths
    """,
)
def fn_path_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    path = F.concat(F.lit("data/src"), i, F.lit("/sub/file_"), i, F.lit(".tar.gz"))
    p = d.select("doc_id", path.alias("path"))
    return p.select(
        "doc_id",
        fn.basename(F.col("path")).alias("filename"),
        fn.stem(F.col("path")).alias("stem"),
        F.regexp_replace("path", r"/[^/]+$", "").alias("dirname"),
    )


@query(
    "fn_near_tolerance",
    oracle="""
    SELECT near_small, near_big, COUNT(*) AS n FROM (
      SELECT
        abs(l_quantity * 1.0000005 - l_quantity)
          <= 1e-6 * greatest(abs(l_quantity), 1.0) AS near_small,
        abs(l_quantity * 1.01 - l_quantity)
          <= 1e-6 * greatest(abs(l_quantity), 1.0) AS near_big
      FROM lineitem
    ) GROUP BY near_small, near_big
    """,
)
def fn_near_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return (
        l.select(
            fn.near(q * 1.0000005, q).alias("near_small"),
            fn.near(q * 1.01, q).alias("near_big"),
        )
        .groupBy("near_small", "near_big")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "fn_round_units",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * 1000 / (1024.0 * 1024.0), 2) AS size_mb
    FROM lineitem
    """,
)
def fn_round_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 1000 / F.lit(1024.0 * 1024.0), 2).alias("size_mb"),
    )


@query(
    "fn_format_string",
    oracle="""
    SELECT n_nationkey, printf('[%d/%d] %s', n_nationkey, 25, n_name) AS progress
    FROM nation
    """,
)
def fn_format_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.format_string("[%d/%d] %s", F.col("n_nationkey"), F.lit(25), F.col("n_name")).alias(
            "progress"
        ),
    )


@query(
    "fn_datetime_parse",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def fn_datetime_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .groupBy("day", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "fn_trim_nonblank",
    oracle="""
    WITH dims AS (SELECT doc_id,
      CASE CAST(doc_id % 4 AS INTEGER)
        WHEN 0 THEN '   '
        WHEN 1 THEN ''
        WHEN 2 THEN '  resilience '
        ELSE 'status'
      END AS dim FROM documents)
    SELECT doc_id, trim(dim) AS dim FROM dims
    WHERE length(trim(dim)) > 0
    """,
)
def fn_trim_nonblank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nzchar(trimws(x)) blank-dropping (02b_make_stac_all.R:301)."""
    d = table(spark, sf_dir, "documents")
    mod = (F.col("doc_id") % 4).cast("int")
    dim = (
        F.when(mod == 0, F.lit("   "))
        .when(mod == 1, F.lit(""))
        .when(mod == 2, F.lit("  resilience "))
        .otherwise(F.lit("status"))
    )
    return (
        d.select("doc_id", F.trim(dim).alias("dim"))
        .filter(F.length(F.col("dim")) > 0)
    )


@query(
    "fn_json_build",
    oracle="""
    SELECT n_nationkey,
           CAST(to_json(struct_pack(id := n_nationkey, name := n_name)) AS VARCHAR) AS doc
    FROM nation
    """,
)
def fn_json_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-document construction (F10) — the STAC item JSON pattern."""
    n = table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.to_json(F.struct(F.col("n_nationkey").alias("id"), F.col("n_name").alias("name"))).alias(
            "doc"
        ),
    )


@query(
    "fn_date_math",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
             AS month_start,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)::VARCHAR
             AS plus3m,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS days_since_epoch95
    FROM orders
    """,
)
def fn_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The date/time scalar surface in one query: truncation, calendar
    arithmetic with end-of-month clamping, ISO week/day numbering, and
    day differencing.

    Everything is integer calendar math under whole-stage codegen — the
    dialect deltas are spelling only (Spark add_months == DuckDB
    + INTERVAL, Spark weekday()+1 == DuckDB isodow). Dates are formatted
    to strings at the boundary so the comparison is representation-exact.
    """
    o = table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias(
            "month_start"
        ),
        F.add_months(d, 3).cast("string").alias("plus3m"),
        F.last_day(d).cast("string").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_epoch95"),
    )


@query(
    "fn_surrogate_key",
    oracle="""
    WITH k AS (
      SELECT o_orderkey,
             substring(sha256(CAST(o_custkey AS VARCHAR) || '|'
                       || strftime(o_orderdate, '%Y-%m-%d') || '|'
                       || CAST(o_totalprice AS VARCHAR)), 1, 16) AS sk,
             CAST(o_custkey AS VARCHAR) || '|'
               || strftime(o_orderdate, '%Y-%m-%d') || '|'
               || CAST(o_totalprice AS VARCHAR) AS nat
      FROM orders)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT nat) AS BIGINT) AS n_natural,
           CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT nat) - COUNT(DISTINCT sk) AS BIGINT)
             AS n_collisions,
           MIN(sk) AS sample_key
    FROM k
    """,
)
def fn_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key minting + collision audit — the
    warehouse pattern that replaces sequence generators (which cannot be
    recomputed, coordinated across writers, or backfilled idempotently):
    the key is a 16-hex sha256 slice of the canonicalized natural key,
    so any writer anywhere mints the SAME id for the same business
    entity, and re-running a backfill is a no-op instead of a dup
    explosion. The audit emits exactly what a key registry monitors:
    rows, distinct naturals, distinct keys, and collisions (distinct
    naturals that hash to the same slice — at 16 hex chars the birthday
    bound is ~2^32 naturals, and the audit is the tripwire).

    Determinism: canonicalization is explicit ('|'-joined string forms,
    date formatted not cast — engine-dependent timestamp casts are the
    classic silent divergence); sha256 is sha256; counts are exact.

    Plan: one scan projection plus one aggregate with three
    partial-aggregated distincts. MIN(sample_key) pins an actual value
    cross-engine.
    """
    o = table(spark, sf_dir, "orders")
    nat = F.concat_ws(
        "|",
        F.col("o_custkey").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_totalprice").cast("string"),
    )
    k = o.select(nat.alias("nat"), sha16(nat).alias("sk"))
    return k.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("nat").cast("long").alias("n_natural"),
        F.countDistinct("sk").cast("long").alias("n_keys"),
        (F.countDistinct("nat") - F.countDistinct("sk"))
        .cast("long")
        .alias("n_collisions"),
        F.min("sk").alias("sample_key"),
    )
