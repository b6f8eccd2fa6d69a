"""Association metrics: PMI term co-occurrence over the corpus and
Spearman rank stability of the revenue leaderboard across years.

PMI (pointwise mutual information) is the lexical-association score
collocation extraction and embedding-evaluation pipelines compute after
TF-IDF; Spearman's rho answers the BI question 'did the country ranking
actually change year-over-year?' that the reference's per-year pivot
tables (BusinessAnalysis...Rmd:269-296) make the reader eyeball.

Exactness: PMI's probability ratio is a single division of exact
integer counts with log10 rounded to 6dp (engine convention for libm
1-ulp noise); Spearman is pure integer arithmetic — ranks, squared
differences, one closed-form division — with zero float ambiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources import load_table
from .registry import register

_TOP_TERMS = 50
_MIN_PAIR_DOCS = 5


@register(
    "ext_term_pmi",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    df AS (SELECT term, COUNT(*) AS n_t FROM pres GROUP BY term),
    top AS (
      SELECT term, n_t FROM (
        SELECT term, n_t,
               ROW_NUMBER() OVER (ORDER BY n_t DESC, term ASC) AS rk
        FROM df
      ) WHERE rk <= {_TOP_TERMS}
    ),
    tp AS (
      SELECT p.doc_id, p.term, t.n_t
      FROM pres p JOIN top t ON p.term = t.term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             MIN(a.n_t) AS n_a, MIN(b.n_t) AS n_b,
             COUNT(*) AS n_ab
      FROM tp a JOIN tp b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
      HAVING COUNT(*) >= {_MIN_PAIR_DOCS}
    )
    SELECT term_a, term_b, n_a, n_b, n_ab,
           ROUND(log10(CAST(n_ab * n.n_docs AS DOUBLE)
                       / CAST(n_a * n_b AS DOUBLE)), 6) AS pmi
    FROM pairs CROSS JOIN n
    """,
)
def ext_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI for co-occurring top-{50} terms: log10(P(a,b)/(P(a)P(b)))
    over document-level presence, positive when terms attract, negative
    when they repel. The vocabulary is cut to the 50 highest-DF terms
    (deterministic tiebreak) so the presence self-join is bounded by
    C(50,2) pairs per document — the standard guard that keeps
    collocation mining linear in documents; the top-term table rides a
    broadcast and the probability ratio is one division of exact
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).distinct()
    df = pres.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    w = Window.orderBy(F.desc("n_t"), F.asc("term"))
    top = (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOP_TERMS)
        .select("term", "n_t")
    )
    tp = pres.join(F.broadcast(top), "term")
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    a, b = tp.alias("a"), tp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
        .agg(
            F.min("a.n_t").alias("n_a"),
            F.min("b.n_t").alias("n_b"),
            F.count(F.lit(1)).alias("n_ab"),
        )
        .where(F.col("n_ab") >= _MIN_PAIR_DOCS)
    )
    return pairs.crossJoin(F.broadcast(n)).select(
        "term_a",
        "term_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round(
            F.log10(
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ),
            6,
        ).alias("pmi"),
    )


@register(
    "ext_rank_stability",
    oracle="""
    WITH rev AS (
      SELECT n.n_name,
             CAST(year(o.o_orderdate) AS INT) AS yr,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4))
               AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT n_name, yr,
             ROW_NUMBER() OVER (
               PARTITION BY yr ORDER BY revenue DESC, n_name ASC) AS rk
      FROM rev
    ),
    d AS (
      SELECT a.n_name,
             CAST(a.rk AS BIGINT) - CAST(b.rk AS BIGINT) AS diff
      FROM ranked a JOIN ranked b
        ON a.n_name = b.n_name AND a.yr = 1995 AND b.yr = 1996
    )
    SELECT COUNT(*) AS n_nations,
           CAST(SUM(diff * diff) AS BIGINT) AS sum_d2,
           1.0 - (6.0 * CAST(SUM(diff * diff) AS DOUBLE))
               / (COUNT(*) * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1.0))
             AS spearman_rho
    FROM d
    """,
)
def ext_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's rho between the 1995 and 1996 nation revenue
    leaderboards: rank each year (deterministic tiebreak), self-join on
    nation, closed form 1 − 6·Σd²/(n(n²−1)). Ranking windows partition
    per year over the nation-sized aggregate; every input to the final
    expression is an exact integer, so rho is bit-identical
    cross-engine with no rounding step at all."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(1995, 1996)
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("yr").orderBy(F.desc("revenue"), F.asc("n_name"))
    ranked = rev.withColumn("rk", F.row_number().over(w))
    a = ranked.where(F.col("yr") == 1995).select("n_name", F.col("rk").alias("rk_a"))
    b = ranked.where(F.col("yr") == 1996).select("n_name", F.col("rk").alias("rk_b"))
    d = a.join(b, "n_name").select(
        (F.col("rk_a").cast("long") - F.col("rk_b").cast("long")).alias("diff")
    )
    cnt = F.count(F.lit(1))
    return d.agg(
        cnt.alias("n_nations"),
        F.sum(F.col("diff") * F.col("diff")).cast("long").alias("sum_d2"),
        (
            F.lit(1.0)
            - (F.lit(6.0) * F.sum(F.col("diff") * F.col("diff")).cast("double"))
            / (cnt * (cnt.cast("double") * cnt - F.lit(1.0)))
        ).alias("spearman_rho"),
    )
