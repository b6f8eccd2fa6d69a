"""TF-IDF over the documents corpus — the canonical distributed text-
analysis pipeline, expressed entirely in DataFrame ops:

    tokenize -> explode -> per-(doc, term) TF        [shuffle 1]
             -> per-term DF (document frequency)     [shuffle 2, small]
             -> broadcast DF back onto TF rows       [no shuffle]
             -> tf * ln(N / df) -> top-k terms/doc   [shuffle 3: window]

Every stage is shuffle-on-key with map-side partials; the DF table is
vocabulary-sized (tiny relative to the corpus) and rides a broadcast.
Cross-engine exactness note: IEEE +,-,*,/ are correctly rounded and
bit-portable, but transcendentals (ln) differ by 1 ulp between DuckDB's
libm and the JVM's Math.log. Both the reported score and the ranking
key are therefore the tf-idf ROUNDED to 4 decimals — far coarser than
1-ulp noise, so both engines rank identically — with term ASC breaking
rounded ties deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources import ensure_parallelism, load_table
from .registry import register


@register(
    "ext_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(df.df AS BIGINT) AS df,
             ROUND(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored
    )
    WHERE rank <= 3 AND doc_id < 50
    """,
)
def ext_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (first 50 docs keep the result
    compact); ties break on term for determinism."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(
            F.col("tf").cast("double") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )
    # ranked on the rounded score (cross-engine stable) — see module doc
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where((F.col("rank") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@register(
    "ext_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS INT) AS norm_len
    FROM documents
    """,
)
def ext_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pass LLM pipelines run before dedup/tokenization:
    lowercase, collapse whitespace runs, trim — pure JVM expressions."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id", norm.alias("norm_text"), F.length(norm).cast("int").alias("norm_len")
    )
