"""Training-data feature construction: the hashing trick, leave-one-out
target encoding, and churn-label generation.

These are the three ops a feature pipeline runs between the warehouse
and the trainer: hash-bucket text into fixed-width sparse vectors (no
vocabulary to ship), encode high-cardinality categoricals by their
target statistics without leaking each row's own label, and derive the
supervised label itself from future behavior. The reference stops at
descriptive BI (SURVEY §2); these make its tables trainable.

Exactness: feature hashing reuses the engine's md5 nibble-fold (same
spelling runs in Spark SQL and DuckDB — llm_curation.py precedent), so
bucket ids are bit-identical; target encoding is (Σ−x)/(n−1) on exact
decimal sums with the division in integer fixed point (micro-price);
labels are integer day arithmetic over a deterministic lead() order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources import ensure_parallelism, load_table
from .registry import register

_HEX = "0123456789abcdef"
_N_BUCKETS = 64


def _bucket_expr(key_sql: str) -> str:
    """SQL (valid in BOTH Spark SQL and DuckDB) hashing a string to a
    bucket in [0, 64): md5, fold the first 6 hex nibbles to an int by
    digit lookup, mod the bucket count. DuckDB has no conv(), so the
    hex parse is spelled out with instr/substr shared by both engines."""
    h = f"md5(CAST({key_sql} AS STRING))"
    nibbles = " + ".join(
        f"(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(({nibbles}) % {_N_BUCKETS})"


@register(
    "ext_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    )
    SELECT doc_id,
           CAST({_bucket_expr("term")} AS INT) AS bucket,
           COUNT(*) AS tf
    FROM tok WHERE term <> ''
    GROUP BY 1, 2
    """,
)
def ext_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every token hashes straight into one
    of 64 buckets, emitting (doc, bucket, term-frequency) sparse
    triples. The property that matters at 100 TB is what's ABSENT — no
    vocabulary build, no dictionary broadcast, no OOV handling: one
    explode + one count aggregation, embarrassingly parallel, output
    width fixed regardless of corpus vocabulary. Bucket ids come from
    the md5 nibble-fold, so the featurization is reproducible across
    engines and replays."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).where(F.col("term") != "")
    return tok.groupBy(
        "doc_id", F.expr(_bucket_expr("term")).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("tf"))


@register(
    "ext_target_encoding",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    j AS (
      SELECT o.o_orderkey, n.n_name, o.price
      FROM o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    stats AS (
      SELECT n_name,
             CAST(SUM(price) AS DECIMAL(38,2)) AS s,
             COUNT(*) AS cnt
      FROM j GROUP BY 1
    )
    SELECT j.o_orderkey, j.n_name, j.price AS o_totalprice,
           (CAST((stats.s - j.price) * 100 AS BIGINT) * 10000)
             // (stats.cnt - 1) AS loo_avg_price_micros
    FROM j JOIN stats ON j.n_name = stats.n_name
    """,
)
def ext_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer's nation by order
    value: each order gets the nation's mean order price computed
    WITHOUT itself, (Σ − x)/(n − 1) — the standard leak-proof encoding
    for high-cardinality categoricals. Computed as aggregate-then-
    broadcast-join-back, NOT a per-nation window: the nation stats frame
    is 25 rows, so the encode step is a broadcast map over facts with no
    nation-keyed shuffle of orders at all (a window would hash-partition
    every fact row by a 25-value key — guaranteed skew at scale). The
    subtraction is exact decimal and the division runs in integer fixed
    point (micro-price): LOO quotients of cent amounts by small counts
    often TERMINATE exactly on a half at 6dp, where decimal-string
    rounding (Spark) and binary-double rounding (DuckDB) disagree —
    integer division dodges the whole class."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("o_orderkey", "n_name", "price")
    )
    stats = j.groupBy("n_name").agg(
        F.sum("price").cast("decimal(38,2)").alias("s"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return j.join(F.broadcast(stats), "n_name").select(
        "o_orderkey",
        "n_name",
        F.col("price").alias("o_totalprice"),
        F.expr("(CAST((s - price) * 100 AS BIGINT) * 10000) div (cnt - 1)").alias(
            "loo_avg_price_micros"
        ),
    )


@register(
    "ext_churn_labels",
    oracle="""
    WITH nxt AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             lead(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_dt
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           COALESCE(CAST(date_diff('day', o_orderdate, next_dt) AS BIGINT),
                    CAST(-1 AS BIGINT)) AS days_to_next,
           (next_dt IS NULL
            OR date_diff('day', o_orderdate, next_dt) > 90) AS churned_90d
    FROM nxt
    """,
)
def ext_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-label construction: for every order, the days until the
    customer's next order (lead over a deterministic per-customer
    order), and the supervised label 'churned within 90 days' = no
    follow-up order or a gap beyond the horizon. This is label
    ENGINEERING, not analytics — the output is one training row per
    fact, so it must stay fact-partitioned: one custkey shuffle for the
    lead window, then pure row-local arithmetic; right-censored
    customers (no next order) label churned, the convention that avoids
    silently dropping the newest cohort."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    nxt = o.withColumn("next_dt", F.lead("o_orderdate").over(w))
    gap = F.datediff("next_dt", "o_orderdate").cast("long")
    # Right-censored rows carry sentinel -1, not NULL: a NULL bigint
    # column would cross the driver boundary as pandas float64
    # (queries/registry.py); churned_90d already encodes censoring.
    return nxt.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.coalesce(gap, F.lit(-1).cast("long")).alias("days_to_next"),
        (F.col("next_dt").isNull() | (gap > 90)).alias("churned_90d"),
    )


@register(
    "ext_linear_model_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST({_bucket_expr("term")} AS INT) AS bucket,
             COUNT(*) AS tf
      FROM tok WHERE term <> ''
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT f.doc_id,
             3 + SUM(f.tf * ((f.bucket * 37) % 21 - 10)) AS raw_score
      FROM feat f GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.raw_score, 3) AS BIGINT) AS raw_score,
           CAST(COALESCE(s.raw_score, 3) AS DOUBLE)
             / (1.0 + CAST(abs(COALESCE(s.raw_score, 3)) AS DOUBLE))
             AS squashed
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def ext_linear_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MODEL INFERENCE over hashed features — the step after
    ext_feature_hashing in a real pipeline: score every document with a
    broadcast linear model (one weight per hash bucket + bias). The
    64-row weight table stands in for trained parameters (weights are a
    deterministic function of bucket id so the oracle can restate them),
    but the PLAN is the production shape: features aggregate with
    map-side combine, the model joins as a BroadcastHashJoin (a real
    model table would arrive the same way — never a shuffle against the
    corpus), and the per-doc reduction keys on doc_id, so inference over
    100 TB is two doc-keyed shuffles regardless of model size tier.

    Exactness discipline: integer weights x integer term frequencies
    -> BIGINT dot product (order-independent); the squash is the
    rational s/(1+|s|) — one IEEE division, bit-identical across
    engines — rather than a libm sigmoid whose exp() may differ in the
    last ulp between the JVM and DuckDB. Docs with no features (empty
    text) keep the bias via the left join, so every input row scores."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).where(F.col("term") != "")
    feat = tok.groupBy(
        "doc_id", F.expr(_bucket_expr("term")).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("tf"))
    weights = spark.range(_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") * 37) % 21 - 10).cast("long").alias("w"),
    )
    scored = (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg((F.lit(3) + F.sum(F.col("tf") * F.col("w"))).alias("raw_score"))
    )
    s = F.coalesce(F.col("raw_score"), F.lit(3).cast("long"))
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        s.alias("raw_score"),
        (s.cast("double") / (F.lit(1.0) + F.abs(s).cast("double"))).alias(
            "squashed"
        ),
    )


@register("ext_bpe_merges")  # iterative, driver-paced argmax -> rows-only check
def ext_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer TRAINING on the corpus: learn the first 8 BPE merges
    (operators/bpe.py — vocabulary-counted pair statistics, greedy
    leftmost merge application, deterministic lexicographic tie-break).
    The merge table is the artifact every downstream token-count op
    presupposes; it is k rows regardless of corpus size, so the output
    materializes driver-side by construction. Pinned against an
    independent plain-Python BPE in tests/test_function_models.py."""
    from ..operators.bpe import learn_bpe_merges

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, k=8)
    if not merges:
        return spark.createDataFrame(
            [], "rank int, left string, right string, pair_count long"
        )
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long",
    )


@register("ext_bpe_tokenize")  # depends on learned merges -> rows-only check
def ext_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of tokenizer training: tokenize every document
    with the merge table ext_bpe_merges learns (same corpus), emitting
    per-doc BPE token and word counts. Tokenization with a fixed table
    is a pure projection — embarrassingly parallel at 100 TB; each merge
    step sits behind a Generate barrier so k folds stay separate
    codegen'd projections (operators/bpe.py:apply_bpe_merges). Pinned
    token-for-token against a plain-Python BPE apply in
    tests/test_function_models.py."""
    from ..operators.bpe import apply_bpe_merges, learn_bpe_merges

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, k=8)
    return apply_bpe_merges(docs, merges)


@register(
    "ext_unigram_vocab",
    oracle="""
    WITH words AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    subs AS MATERIALIZED (
      SELECT substr(w, i, l) AS piece, SUM(n) AS c
      FROM words,
           UNNEST(range(1, len(w) + 1)) AS u(i),
           UNNEST(range(1, 7)) AS v(l)
      WHERE i + l - 1 <= len(w)
      GROUP BY 1
    ),
    top AS (
      SELECT piece, c FROM subs WHERE len(piece) > 1
      ORDER BY c DESC, piece ASC LIMIT 64
    ),
    vocab AS (
      SELECT piece, c FROM top
      UNION ALL
      SELECT piece, c FROM subs WHERE len(piece) = 1
    ),
    tot AS (SELECT SUM(c) AS t FROM vocab)
    SELECT piece, CAST(c AS BIGINT) AS c,
           CAST(ROUND(log10(CAST(c AS DOUBLE) / t), 6) AS DECIMAL(20,6))
             AS logp
    FROM vocab CROSS JOIN tot
    """,
)
def ext_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer VOCABULARY seeding (Kudo 2018 /
    SentencePiece; operators/unigram.py): top-64 multi-character
    substrings of the word vocabulary by weighted count (lexicographic
    tie-break) plus every single character (coverage guarantee), with
    frequency-initialized log10 probabilities normalized over the kept
    mass — rounded to 6 decimals as DECIMAL so downstream Viterbi sums
    are exact (the TF-IDF convention).

    Scale: one corpus shuffle for (word, n); the substring explode is
    bounded by word length x max piece length over DISTINCT words only;
    the top-64 is TakeOrdered. The piece table is vocab+charset rows —
    driver/broadcast-sized at any corpus size by construction."""
    from ..operators.unigram import build_unigram_vocab

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return build_unigram_vocab(docs)


@register("ext_unigram_tokenize")  # in-fold Viterbi DP -> rows-only check
def ext_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of the unigram-LM tokenizer: exact Viterbi
    segmentation of every DISTINCT word under ext_unigram_vocab's piece
    probabilities (one JVM-side aggregate fold carrying the DP arrays —
    the (logp, piece-count) state needs no backtracking, see
    operators/unigram.py), then per-document token counts and total
    segmentation log-probability via the (doc, word) aggregate join.
    Pinned token-for-token against an independent plain-Python Viterbi
    in tests/test_function_models.py; rows-only driver check (the DP
    is iterative, not SQL-expressible in one query)."""
    from ..operators.unigram import (
        build_unigram_vocab,
        unigram_tokenize_docs,
        word_counts_per_doc,
    )

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # ONE corpus tokenization (optimization round 10): the per-doc word
    # counts feed the tokenizer, and the vocab's (w, n) frame derives
    # from them with a narrow groupBy(w) aggregate — the former
    # spelling exploded and aggregated the corpus a second time inside
    # build_unigram_vocab's word_counts.
    wpd = word_counts_per_doc(docs)
    wc = wpd.groupBy("w").agg(F.sum("cnt").cast("long").alias("n"))
    pieces = build_unigram_vocab(docs, words=wc)
    return unigram_tokenize_docs(docs, pieces, wpd=wpd)


@register("ext_unigram_em")  # iterative Viterbi EM round -> rows-only check
def ext_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM round of the unigram-LM tokenizer: segment every
    distinct word under the seed vocabulary (Viterbi path extracted by
    the backward fold, operators/unigram.py:viterbi_segment_pieces),
    re-count each piece's corpus-weighted usage, re-normalize log-probs
    over the used mass, and flag never-used pieces as pruned —
    SentencePiece's vocabulary refinement with the Viterbi hard-count
    approximation. Pinned piece-for-piece against an independent Python
    EM round in tests/test_function_models.py."""
    from ..operators.unigram import unigram_em_round

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return unigram_em_round(docs)


@register(
    "ext_linear_gradient_step",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    feat AS MATERIALIZED (
      SELECT doc_id,
             CAST({_bucket_expr("term")} AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term <> ''
      GROUP BY 1, 2
    ),
    resid AS MATERIALIZED (
      SELECT f.doc_id,
             CAST(3 + SUM(f.tf * ((f.bucket * 37) % 21 - 10))
                  - MAX(d.n_chars) AS BIGINT) AS r
      FROM feat f JOIN documents d ON f.doc_id = d.doc_id
      GROUP BY f.doc_id
    )
    SELECT f.bucket,
           CAST((f.bucket * 37) % 21 - 10 AS BIGINT) AS w_old,
           CAST(SUM(r.r * f.tf) AS BIGINT) AS grad,
           CAST(COUNT(DISTINCT f.doc_id) AS BIGINT) AS n_docs,
           CAST(((f.bucket * 37) % 21 - 10)
                - SUM(r.r * f.tf) * CAST(0.000000001 AS DECIMAL(12,12))
                AS DECIMAL(38,12)) AS w_new
    FROM feat f JOIN resid r ON f.doc_id = r.doc_id
    GROUP BY f.bucket
    """,
)
def ext_linear_gradient_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT batch-gradient step for the hashed-feature linear model
    — the TRAINING twin of ext_linear_model_score's inference. Target
    is the document's n_chars; residual r = (w.x + 3) - y is BIGINT
    because weights, tf, and y are all integers, so the per-bucket
    gradient G_j = sum over docs of r * tf_j is an order-free integer
    sum (exact at any parallelism — the fixed-point discipline), and
    the weight update w - lr*G with lr = 1e-9 is one exact DECIMAL
    multiply. Nothing here is approximate: a distributed SGD step with
    a bit-exact oracle.

    Scale shape: two corpus-keyed aggregates (doc features, per-doc
    residual) and one bucket-keyed aggregate whose output is the FIXED
    {_N_BUCKETS}-row weight table; the residual join is doc-keyed and
    AQE-planable. Integer headroom: |r| <= ~10 x tokens + y, so the
    gradient sum stays inside BIGINT past 10^9 documents."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).where(F.col("term") != "")
    feat = (
        tok.select("doc_id", F.expr(_bucket_expr("term")).cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w_of = (F.col("bucket") * 37) % 21 - 10
    resid = (
        feat.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("doc_id")
        .agg(
            (F.lit(3) + F.sum(F.col("tf") * w_of) - F.max("n_chars"))
            .cast("long")
            .alias("r")
        )
    )
    lr = F.lit("0.000000001").cast("decimal(12,12)")
    return (
        feat.join(resid, "doc_id")
        .groupBy("bucket")
        .agg(
            F.max(w_of).cast("long").alias("w_old"),
            F.sum(F.col("r") * F.col("tf")).cast("long").alias("grad"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            (
                F.max(w_of)
                - F.sum(F.col("r") * F.col("tf")) * lr
            )
            .cast("decimal(38,12)")
            .alias("w_new"),
        )
    )
