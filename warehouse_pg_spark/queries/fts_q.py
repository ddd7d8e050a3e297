"""Full-text search over documents: @@ match + ts_rank scoring and
tsvector construction/ops, Spark-first.

The document-scale hot path stays JVM-side: tokenization via split(),
occurrence counts via higher-order functions, and the ts_rank OR-branch
formula (reference src/backend/utils/adt/tsrank.c calc_rank_or — for a
query of distinct single-position-weight terms it reduces to
sum_j w/(j+1)^2 scaled by 1/1.64493406685, averaged over terms) as pure
Column arithmetic — no Python in the per-row loop, so the plan keeps
whole-stage codegen and scales linearly. The Python FTS core
(functions/fts.py) rides along as an Arrow-batched cross-check column
and as the canonical tsvector text form, scored against an independent
DuckDB reconstruction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warehouse_pg_spark.queries.registry import register, table

_RANK_DENOM = 1.64493406685  # pi^2/6 (tsrank.c calc_rank_or)


def _n_occ(word: str) -> str:
    """SQL: occurrences of `word` in split(text, ' ') — a string
    expression (one py4j round-trip per selectExpr instead of ~8
    Column-API calls; r18 driver-overhead work, tree unchanged)."""
    lit = word.replace("'", "''")
    return f"size(filter(split(text, ' '), x -> x = '{lit}'))"


def _rank_contrib(n: str) -> str:
    """SQL: calc_rank_or per-term contribution for weight-D positions:
    sum_{j=1..n} 0.1/j^2 / (pi^2/6). `D` suffixes keep every literal
    DOUBLE, exactly as the previous Column form's F.lit floats."""
    return (
        f"(CASE WHEN {n} > 0 THEN aggregate(sequence(1, {n}), 0.0D, "
        f"(acc, x) -> acc + 0.1D / CAST(x * x AS DOUBLE)) "
        f"/ {_RANK_DENOM}D ELSE 0.0D END)"
    )


@register(
    "fts_match_rank",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), m AS (
      SELECT doc_id,
             len(list_filter(words, x -> x = 'data')) AS n_data,
             len(list_filter(words, x -> x = 'stream')) AS n_stream
      FROM d
    )
    SELECT doc_id,
           CAST(n_data AS BIGINT) AS n_data,
           CAST(n_stream AS BIGINT) AS n_stream,
           round(
             (CASE WHEN n_data > 0 THEN
                list_sum(list_transform(generate_series(1, n_data),
                                        x -> 0.1/(x*x))) / 1.64493406685
              ELSE 0.0 END
              +
              CASE WHEN n_stream > 0 THEN
                list_sum(list_transform(generate_series(1, n_stream),
                                        x -> 0.1/(x*x))) / 1.64493406685
              ELSE 0.0 END) / 2.0, 6) AS rank_or,
           TRUE AS pg_rank_agrees
    FROM m
    WHERE n_data > 0 AND n_stream > 0
    """,
    tags=("fts", "text", "bench"),
)
def fts_match_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tsvector @@ tsquery match + ts_rank('data | stream') scoring.

    Match = to_tsvector('english', text) @@ 'data & stream' (both terms
    are their own english stems, so presence == lexeme match); rank =
    calc_rank_or of 'data | stream', computed JVM-side and certified
    against the Arrow-batched pg_ts_rank shim (float4 engine) within
    1e-5.
    """
    from warehouse_pg_spark.functions.pg import bind_functions

    d = table(spark, sf_dir, "documents")
    # Implied substring pre-filter: token 'data' ∈ split(text) implies
    # contains(text,'data'), so the conjunct keeps the result set
    # identical while short-circuiting the 4 split+filter evaluations
    # (the pushed-down Filter and the Project each inline two) down to
    # the candidate rows, and it reaches the parquet scan as a
    # StringContains pushed filter (r17: −6% interleaved A/B; at scale
    # it also lets the reader skip row groups via dictionary filters).
    base = (
        d.where("contains(text, 'data') AND contains(text, 'stream')")
        .selectExpr(
            "doc_id",
            "text",
            f"{_n_occ('data')} AS n_data",
            f"{_n_occ('stream')} AS n_stream",
        )
        .where("n_data > 0 AND n_stream > 0")
    )
    rank = (
        f"(({_rank_contrib('n_data')} + {_rank_contrib('n_stream')}) / 2.0D)"
    )
    agrees = (
        f"(abs({rank} - pg_ts_rank_doc('english', text, 'data | stream'))"
        f" < 1e-5d) AS pg_rank_agrees"
    )
    bind_functions(spark, agrees)
    # Fused rank shim: to_tsvector + ts_rank in ONE Arrow UDF call
    # (same Python core as the pg_to_tsvector → pg_ts_rank chain, but
    # the tsvector skips the render-to-text → JVM → re-parse round
    # trip; plan: 2 ArrowEvalPython → 1 — see history/OPTIMIZATION_r17.md).
    return base.selectExpr(
        "doc_id",
        "CAST(n_data AS BIGINT) AS n_data",
        "CAST(n_stream AS BIGINT) AS n_stream",
        f"round({rank}, 6) AS rank_or",
        agrees,
    )


@register(
    "fts_tsvector_ops",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents WHERE doc_id < 20
    ), e AS (
      SELECT doc_id,
             unnest(words) AS lex,
             unnest(generate_series(1, len(words))) AS pos
      FROM d
    ), g AS (
      SELECT doc_id, lex,
             string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS poss,
             string_agg(CAST(pos AS VARCHAR) || 'A', ','
                        ORDER BY pos) AS poss_a
      FROM e GROUP BY doc_id, lex
    )
    SELECT doc_id,
           string_agg('''' || lex || ''':' || poss, ' '
                      ORDER BY lex) AS tsv,
           string_agg('''' || lex || ''':' || poss_a, ' '
                      ORDER BY lex) AS tsv_weighted,
           CAST(count(*) AS BIGINT) AS n_lex
    FROM g GROUP BY doc_id
    """,
    tags=("fts", "text"),
)
def fts_tsvector_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tsvector construction + setweight + length text-form parity.

    The Python FTS core (tsvector.c/to_tsany.c semantics) renders the
    canonical tsvector text for 20 documents; the oracle reconstructs
    the same form independently in DuckDB from first principles
    (tokenize -> group positions -> sort lexemes bytewise), so the
    whole parse/normalize/format path is value-checked."""
    from warehouse_pg_spark.functions.pg import bind_functions

    tsv = "pg_to_tsvector('simple', text)"
    weighted = f"pg_setweight({tsv}, 'A', NULL)"
    n_lex = f"pg_tsvector_length({tsv})"
    bind_functions(spark, f"{weighted} {n_lex}")
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return d.select(
        "doc_id",
        F.expr(tsv).alias("tsv"),
        F.expr(weighted).alias("tsv_weighted"),
        F.expr(n_lex).cast("long").alias("n_lex"),
    )
