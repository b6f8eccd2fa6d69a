"""Retail-analytics + scoring workload: RFM segmentation, market-basket
association rules, item-to-item recommendation, robust (MAD) anomaly
detection, BM25 relevance search, and time-decayed popularity.

These extend the reference's BI surface (BusinessAnalysis...Rmd's
revenue-by-country/top-k queries, SURVEY §2.D/F) with the next queries a
media-distribution warehouse actually runs: segment the customers the Rmd
only counts (rmd:203-229), mine the baskets behind its per-transaction
fact grain (readme:129), rank products for recommendation, flag anomalous
transactions, and score documents for retrieval.

Cross-engine exactness conventions (see functions/money.py and tfidf.py):
decimal-cast every oracle-compared SUM; single IEEE divisions of exact
integers are bit-portable; ln() differs by 1 ulp between libms so any
score containing it is ROUNDED to 4 decimals with an integer-key
tiebreak; Spark percentile() and DuckDB quantile_cont() share the same
linear-interpolation definition bit-for-bit (verified engine-wide).

Scale notes per query in docstrings — every pipeline here is
shuffle-on-key with map-side partials; the only self-join (baskets) is
bounded per-order, never quadratic in rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import AGG_DECIMAL, dec
from ..functions.text import tokens
from ..sources import ensure_parallelism, load_table
from .registry import register


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@register(
    "ext_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4))
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', last_order, ref_date) AS INT) AS recency_days,
             frequency, monetary,
             CAST(monetary AS DOUBLE) AS m_d
      FROM per_cust CROSS JOIN ref
    ),
    q AS (
      SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
             quantile_cont(frequency,    [0.2, 0.4, 0.6, 0.8]) AS fq,
             quantile_cont(m_d,          [0.2, 0.4, 0.6, 0.8]) AS mq
      FROM rfm
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             CAST(5 - CAST(recency_days > rq[1] AS INT)
                    - CAST(recency_days > rq[2] AS INT)
                    - CAST(recency_days > rq[3] AS INT)
                    - CAST(recency_days > rq[4] AS INT) AS INT) AS r_score,
             CAST(1 + CAST(frequency > fq[1] AS INT)
                    + CAST(frequency > fq[2] AS INT)
                    + CAST(frequency > fq[3] AS INT)
                    + CAST(frequency > fq[4] AS INT) AS INT) AS f_score,
             CAST(1 + CAST(m_d > mq[1] AS INT)
                    + CAST(m_d > mq[2] AS INT)
                    + CAST(m_d > mq[3] AS INT)
                    + CAST(m_d > mq[4] AS INT) AS INT) AS m_score
      FROM rfm CROSS JOIN q
    )
    SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
              || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def ext_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer recency (days since last order),
    frequency (order count), monetary (exact decimal revenue), each
    scored 1-5 against the GLOBAL quintile cutpoints and concatenated
    into a '555'-style segment label.

    Quintiles come from one percentile() aggregate over the per-customer
    frame (customer-sized, not order-sized) and ride back on a broadcast
    — no global sort and no single-partition ntile() window, which is
    what keeps this shape viable when "customers" is a billion rows.
    Scores are pure comparisons against bit-portable interpolated
    cutpoints, so the DuckDB oracle matches exactly."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(dec(F.col("o_totalprice"))).cast(AGG_DECIMAL).alias("monetary"),
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    rfm = per_cust.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.datediff("ref_date", "last_order").alias("recency_days"),
        "frequency",
        "monetary",
        F.col("monetary").cast("double").alias("m_d"),
    )
    quants = rfm.agg(
        F.expr("percentile(recency_days, array(0.2D, 0.4D, 0.6D, 0.8D))").alias("rq"),
        F.expr("percentile(frequency,    array(0.2D, 0.4D, 0.6D, 0.8D))").alias("fq"),
        F.expr("percentile(m_d,          array(0.2D, 0.4D, 0.6D, 0.8D))").alias("mq"),
    )

    def band(col: str, qcol: str, invert: bool):
        hits = [
            (F.col(col) > F.element_at(F.col(qcol), i)).cast("int") for i in (1, 2, 3, 4)
        ]
        total = hits[0] + hits[1] + hits[2] + hits[3]
        return (F.lit(5) - total if invert else F.lit(1) + total).cast("int")

    return (
        rfm.crossJoin(F.broadcast(quants))
        .select(
            "o_custkey",
            "recency_days",
            "frequency",
            "monetary",
            band("recency_days", "rq", invert=True).alias("r_score"),
            band("frequency", "fq", invert=False).alias("f_score"),
            band("m_d", "mq", invert=False).alias("m_score"),
        )
        .withColumn(
            "segment",
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket association rules + item-to-item recommendation
# ---------------------------------------------------------------------------


@register(
    "ext_market_basket",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
    item AS (SELECT l_partkey, COUNT(*) AS cnt FROM b GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b, COUNT(*) AS pair_cnt
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, pair_cnt, ia.cnt AS cnt_a, ib.cnt AS cnt_b,
           CAST(pair_cnt AS DOUBLE) / CAST(n.n_orders AS DOUBLE) AS support,
           CAST(pair_cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE) AS confidence,
           CAST(pair_cnt * n.n_orders AS DOUBLE)
             / CAST(ia.cnt * ib.cnt AS DOUBLE) AS lift
    FROM pair
    JOIN item ia ON pair.part_a = ia.l_partkey
    JOIN item ib ON pair.part_b = ib.l_partkey
    CROSS JOIN n
    """,
)
def ext_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (support / confidence / lift
    for every part pair co-purchased >= 2 times). The reference's fact
    grain is one row per transaction line (readme:129) — this is the
    classic analysis layered on that grain.

    Shape for scale (optimization round 10, guide §2.4): ONE
    order-keyed aggregate builds each basket as a sorted distinct item
    array (collect_set fuses the old separate DISTINCT pass), and pairs
    explode from each array — C(basket,2) per order, the same volume
    the old self-join emitted, but with no join and no second corpus
    exchange, and every downstream branch (pair counts, item counts,
    order count) reuses the one basket shuffle (AQE exchange reuse)
    where the old spelling re-derived the distinct frame four times
    (9 exchanges before, 5 after). Item counts are vocabulary-sized and
    broadcast back; support/confidence/lift are single IEEE divisions
    of exact counts, bit-identical across engines."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    n_frame = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    item = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_structs = F.explode(
        F.flatten(
            F.transform(
                "parts",
                lambda x, i: F.transform(
                    F.slice(F.col("parts"), i + F.lit(2), F.size("parts")),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    pair = (
        baskets.select(pair_structs.alias("p"))
        .groupBy(
            F.col("p.a").alias("part_a"),
            F.col("p.b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 2)
    )
    ia = F.broadcast(item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")))
    ib = F.broadcast(item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_frame))
        .select(
            "part_a",
            "part_b",
            "pair_cnt",
            "cnt_a",
            "cnt_b",
            (F.col("pair_cnt").cast("double") / F.col("n_orders").cast("double")).alias(
                "support"
            ),
            (F.col("pair_cnt").cast("double") / F.col("cnt_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("pair_cnt") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            ).alias("lift"),
        )
    )


@register(
    "ext_also_bought",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sym AS (
      SELECT a.l_partkey AS part, c.l_partkey AS other, COUNT(*) AS n_both
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey <> c.l_partkey
      WHERE a.l_partkey <= 200
      GROUP BY 1, 2
    )
    SELECT part, other, n_both, CAST(rnk AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY part ORDER BY n_both DESC, other ASC) AS rnk
      FROM sym
    )
    WHERE rnk <= 3
    """,
)
def ext_also_bought(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item 'customers also bought': top-3 co-purchased partners
    per part by co-occurrence count (parts 1..200 keep the oracle frame
    compact), ties broken on partner key. The ranking window partitions
    by part — per-key sized, parallel, no global sort. Optimization
    round 10 (guide §2.4, the ext_market_basket rewrite's sibling): the
    distinct + self-join becomes ONE order-keyed collect_set building
    each basket as a distinct item array, and (part, other) pairs
    explode from the array — the part <= 200 head filter applies inside
    the per-basket transform, so the pair stream shrinks 10x before the
    one (part, other) aggregate exchange, and no corpus join remains."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    pair_structs = F.explode(
        F.flatten(
            F.transform(
                F.filter("parts", lambda x: x <= F.lit(200)),
                lambda x: F.transform(
                    F.filter("parts", lambda y: y != x),
                    lambda y: F.struct(x.alias("part"), y.alias("other")),
                ),
            )
        )
    )
    sym = (
        baskets.select(pair_structs.alias("p"))
        .groupBy(F.col("p.part").alias("part"), F.col("p.other").alias("other"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    w = Window.partitionBy("part").orderBy(F.desc("n_both"), F.asc("other"))
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("part", "other", "n_both", "rank")
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection (median absolute deviation)
# ---------------------------------------------------------------------------


@register(
    "ext_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           MIN(d.med) AS med,
           MIN(m2.mad) AS mad,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE d.adev > 3.0 * m2.mad) AS n_outliers
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY d.event_type
    """,
)
def ext_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type: robust
    center (median), robust spread (MAD), and the count of events whose
    absolute deviation exceeds 3x MAD — the standard heavy-tail-safe
    alternative to z-scores for transaction anomaly flagging.

    Two percentile aggregates (both shuffle on the 5-value event_type
    key) with the type-level stats broadcast back between them; every
    per-row op (subtract/abs/compare) is a deterministic IEEE double op
    and Spark percentile() == DuckDB quantile_cont() bit-for-bit, so
    even the outlier threshold comparison is exact cross-engine."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("adev") > F.lit(3.0) * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BM25 relevance search
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "stream", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_oracle_ctes() -> str:
    """The WITH-body prefix every BM25-consuming oracle shares: corpus
    tokenization through per-doc scores. Multiply-referenced CTEs are
    AS MATERIALIZED (DuckDB inlines by default and would re-tokenize
    the corpus once per reference). Ends with `scored(doc_id,
    matched_terms, bm25)` — callers append their own final SELECT."""
    in_list = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"
    return f"""
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS MATERIALIZED (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term IN {in_list}
      GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             CAST(COUNT(*) AS INT) AS matched_terms,
             ROUND(SUM(
               ln((CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
             ), 4) AS bm25
      FROM tf
      JOIN df USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )"""


def _bm25_per_doc(docs: DataFrame) -> DataFrame:
    """The narrow per-document term-frequency frame feeding bm25_scores:
    (doc_id, dl, tf_i per query term), all map-side from one split
    behind a Generate barrier. Split out so the plan tests can pin the
    pruned (doc_id, text) scan directly — bm25_scores checkpoints this
    frame, which hides the scan from the outer plan."""
    from ..functions.text import generate_barrier

    return generate_barrier(
        docs.where(F.col("text").isNotNull()).select("doc_id", "text"),
        toks=tokens("text"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t)))
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )


def bm25_scores(docs: DataFrame) -> DataFrame:
    """Spark twin of :func:`bm25_oracle_ctes`'s `scored`: per-doc
    (doc_id, matched_terms, bm25) for the fixed query terms.

    Optimization round 11 (guide §4.1 prefer built-ins over per-row
    machinery, §2.4 remove shuffles): tf and dl are PER-ROW facts for a
    fixed 3-term query — the former explode-every-token +
    groupBy(doc_id) aggregate paid a per-token hash-agg probe and a
    corpus-keyed exchange to compute what three array `filter` counts
    over one split see map-side. The narrow (doc_id, dl, tf_0..2) frame
    is localCheckpointed (the kn_model_parts idiom) so BOTH consumers —
    the 1-row stats/df aggregate and the scoring projection — read the
    materialized ~30-byte rows instead of re-tokenizing the corpus:
    ONE tokenize pass, ZERO corpus-keyed exchanges (the old shape's
    ReusedExchange still shuffled every per-doc row; now nothing
    corpus-sized moves at all). df folds into the same 1-row aggregate
    as n_docs/avgdl (a per-term match count over per-doc tf, equal to
    the old COUNT DISTINCT because per_doc carries one row per doc).
    Scoring is a fixed three-term sum in term order — the same order
    the old per-doc partial aggregate accumulated (filter preserves
    struct order and a doc's exploded rows never crossed a partition),
    and x + 0.0 is exact for the strictly-positive scores, so the
    rounded doubles are bit-identical. Measured same-window solo A/B:
    ext_bm25_search min 1.78 -> 1.05s, ext_rrf_fusion min 1.95 ->
    1.18s at sf0.1."""
    per_doc = _bm25_per_doc(docs).localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        score = idf * (tf * F.lit(_BM25_K1 + 1.0)) / (
            tf
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        )
        return F.when(tf > 0, score).otherwise(F.lit(0.0))

    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("int") for i in range(len(_BM25_TERMS))
    )
    total = None
    for i in range(len(_BM25_TERMS)):
        total = term_score(i) if total is None else total + term_score(i)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .where(matched > 0)
        .select(
            "doc_id",
            matched.cast("int").alias("matched_terms"),
            F.round(total, 4).alias("bm25"),
        )
    )


@register(
    "ext_bm25_search",
    oracle=f"""
    WITH {bm25_oracle_ctes()}
    SELECT doc_id, matched_terms, bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
    """,
)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document retrieval (k1=1.2, b=0.75) for a fixed 3-term query:
    Okapi idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf saturation with
    doc-length normalization against the corpus mean length — the lexical
    ranking function every retrieval pipeline baselines against, layered
    on the same tokenize->tf->df dataflow as ext_tfidf_top_terms.

    The query-term filter lands BEFORE the (doc, term) aggregate, so the
    scored frame is |query| x matching docs, not vocabulary-sized; df and
    the global length stats are broadcast. Top-20 uses orderBy + limit —
    Spark plans TakeOrderedAndProject (distributed per-partition top-k,
    no global sort). Scores round to 4 decimals over 1-ulp ln() noise
    (see module doc) with doc_id as the deterministic tiebreak.
    The scorer itself is the shared :func:`bm25_scores` builder (also
    the lexical leg of ext_rrf_fusion)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        bm25_scores(docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-decayed popularity
# ---------------------------------------------------------------------------


@register(
    "ext_decay_popularity",
    oracle="""
    WITH ref AS (SELECT MAX(CAST(ts AS DATE)) AS ref_date FROM events),
    w AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,4)) AS v,
             CAST(power(0.5, least(
               date_diff('day', CAST(ts AS DATE), ref_date) // 7, 10))
               AS DECIMAL(12,10)) AS decay
      FROM events CROSS JOIN ref
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(v) AS DECIMAL(38,4)) AS total_value,
           CAST(SUM(v * decay) AS DECIMAL(38,14)) AS decayed_value
    FROM w GROUP BY event_type
    """,
)
def ext_decay_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity per event type: each event's
    value is weighted by 0.5^(whole weeks before the newest event) — a
    one-week half-life recency score, the standard freshness-weighted
    leaderboard ('real-time updates' is the reference's own declared
    future work, readme:177).

    Decimal-exactness trick: the decay weight 0.5^k with INTEGER k <= 10
    is a power of two, exactly representable both as a double and as a
    DECIMAL(12,10) (k decimal digits), so weight * decimal(value) and its
    SUM are exact and order-insensitive — no floating sum drift at any
    parallelism. One scan, one broadcast of the 1-row max-date frame, one
    hash aggregate on the 5-value type key."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("ref_date"))
    k = F.least(
        F.floor(F.datediff(F.col("ref_date"), F.to_date("ts")) / 7), F.lit(10)
    )
    weighted = ev.crossJoin(F.broadcast(ref)).select(
        "event_type",
        dec(F.col("value")).alias("v"),
        F.pow(F.lit(0.5), k).cast("decimal(12,10)").alias("decay"),
    )
    return weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast(AGG_DECIMAL).alias("total_value"),
        F.sum(F.col("v") * F.col("decay")).cast("decimal(38,14)").alias("decayed_value"),
    )
