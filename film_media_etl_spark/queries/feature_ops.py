"""Feature-engineering and statistical-test operators: z-score
normalization from exact moments, chi-square independence test with a
fold-exact statistic, and containment (asymmetric subset) dedup.

Numeric policy notes:
- z-scores derive mean/stddev from exact decimal moments (the
  ext_stats_agg convention) so the per-row transform is one
  deterministic double expression — never the engines'
  order-dependent streaming variance;
- the chi-square statistic sums irrational per-cell terms, so the sum
  itself is order-sensitive in doubles; both engines fold the cells in
  the SAME (row, col) sorted order (Spark aggregate() HOF over a
  sorted collect, DuckDB list_reduce over an ORDER BY list) — the same
  trick that makes ext_ewma exact. Engine ln() is NOT ulp-identical
  across Spark/DuckDB (measured), so entropy-style ops are excluded
  by design rather than shipped flaky.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources import ensure_parallelism, load_table
from .registry import register


# ---------------------------------------------------------------------------
# Z-score normalization
# ---------------------------------------------------------------------------


@register(
    "ext_zscore_normalize",
    oracle="""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3)))
                  AS DOUBLE) AS s2
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - m.s / m.n)
             / sqrt((m.s2 - m.s * m.s / m.n) / (m.n - 1)) AS z_score
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE e.user_id < 400
    """,
)
def ext_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score standardization — the feature-scaling step before
    any distance-based model. Exact decimal moments (n, Σv, Σv²) give
    mean and sample stddev as single deterministic double expressions;
    the tiny moments table broadcasts back onto the stream, so
    normalization is map-side: one aggregate pass + one transform pass
    at any scale."""
    ev = load_table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,3)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).cast("double").alias("s"),
        F.sum(d * d).cast("double").alias("s2"),
    )
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    e = ev.where(F.col("user_id") < 400)
    return e.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (
            (F.col("value") - s / n)
            / F.sqrt((s2 - s * s / n) / (n - F.lit(1)))
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (fold-exact statistic)
# ---------------------------------------------------------------------------


@register(
    "ext_chi_square",
    oracle="""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS obs
      FROM documents GROUP BY lang, source
    ), tot AS (
      SELECT SUM(obs) AS grand,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM c
    ), exp AS (
      SELECT c.lang, c.source, c.obs,
             (SELECT SUM(obs) FROM c c2 WHERE c2.lang = c.lang)
               * (SELECT SUM(obs) FROM c c3 WHERE c3.source = c.source)
               / t.grand AS expected
      FROM c, tot t
    ), terms AS (
      SELECT list((obs - expected) * (obs - expected) / expected
                  ORDER BY lang, source) AS xs
      FROM exp
    )
    SELECT list_reduce(xs, (acc, x) -> acc + x) AS chi2,
           (t.n_langs - 1) * (t.n_sources - 1) AS dof,
           CAST(t.grand AS BIGINT) AS n_docs
    FROM terms, tot t
    """,
)
def ext_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of the (lang, source) contingency
    table — the drift/balance check a corpus pipeline runs on categorical
    columns. Expected counts come from exact integer marginals; the
    statistic folds per-cell terms in sorted (lang, source) order via
    the aggregate() HOF, making a double sum of irrational terms
    reproducible across engines AND across cluster repartitionings
    (an unordered SUM would drift in the last ulps). The contingency
    table is categorical-cardinality-sized — every pass after the first
    aggregate is driver-trivial at any data scale."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("obs")
    )
    row_m = c.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    col_m = c.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    tot = c.agg(
        F.sum("obs").alias("grand"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    cell = (
        c.join(row_m, "lang")
        .join(col_m, "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("expected", F.col("row_tot") * F.col("col_tot") / F.col("grand"))
        .withColumn(
            "term",
            (F.col("obs") - F.col("expected"))
            * (F.col("obs") - F.col("expected"))
            / F.col("expected"),
        )
    )
    folded = cell.groupBy("grand", "n_langs", "n_sources").agg(
        F.sort_array(
            F.collect_list(F.struct("lang", "source", "term"))
        ).alias("cells")
    )
    xs = F.transform(F.col("cells"), lambda s: s["term"])
    return folded.select(
        F.aggregate(
            F.slice(xs, 2, F.size(xs) - 1),
            F.element_at(xs, 1),
            lambda acc, x: acc + x,
        ).alias("chi2"),
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        F.col("grand").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Containment (asymmetric subset) dedup
# ---------------------------------------------------------------------------


@register(
    "ext_dedup_containment",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, lang,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_id_small, b.doc_id AS doc_id_big,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / CAST(len(a.toks) AS DOUBLE) AS containment
    FROM tok a
    JOIN tok b
      ON a.source = b.source AND a.lang = b.lang AND a.doc_id <> b.doc_id
     AND (len(a.toks) < len(b.toks)
          OR (len(a.toks) = len(b.toks) AND a.doc_id < b.doc_id))
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / CAST(len(a.toks) AS DOUBLE) >= 0.95
    """,
)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: |A∩B| / |A| >= 0.95 with A the smaller token
    set — catches subset/prefix duplicates that symmetric Jaccard misses
    (a doc pasted inside a longer one scores low Jaccard but full
    containment; Broder 1997 distinguishes resemblance from containment
    for exactly this). Blocked on (source, lang) like the Jaccard
    family; the (smaller, bigger) orientation with a key tiebreak emits
    each pair once, deterministically. Integer set sizes + one double
    division keep the oracle exact."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        "lang",
        F.array_distinct(tokens("text")).alias("toks"),
    )
    a, b = t.alias("a"), t.alias("b")
    sa, sb = F.size(F.col("a.toks")), F.size(F.col("b.toks"))
    cond = (
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & ((sa < sb) | ((sa == sb) & (F.col("a.doc_id") < F.col("b.doc_id"))))
    )
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    containment = inter.cast("double") / sa.cast("double")
    return (
        a.join(b, cond)
        .where(containment >= 0.95)
        .select(
            F.col("a.doc_id").alias("doc_id_small"),
            F.col("b.doc_id").alias("doc_id_big"),
            containment.alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# A/B-test lift (two-proportion z-test)
# ---------------------------------------------------------------------------


@register(
    "ext_abtest_lift",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM events
    ), conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 99
    ), stats AS (
      SELECT a.arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.arm
    ), wide AS (
      SELECT
        MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
        MAX(CASE WHEN arm = 'A' THEN n_converted END) AS xa,
        MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
        MAX(CASE WHEN arm = 'B' THEN n_converted END) AS xb
      FROM stats
    )
    SELECT na AS n_a, xa AS conv_a, nb AS n_b, xb AS conv_b,
           CAST(xa AS DOUBLE) / na AS rate_a,
           CAST(xb AS DOUBLE) / nb AS rate_b,
           CAST(xb AS DOUBLE) / nb - CAST(xa AS DOUBLE) / na AS abs_lift,
           (CAST(xb AS DOUBLE) / nb - CAST(xa AS DOUBLE) / na)
             / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
                    * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                    * (1.0 / na + 1.0 / nb)) AS z_stat
    FROM wide
    """,
)
def ext_abtest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: users hash-split 50/50 into arms A/B
    (md5 first hex digit — the same key-deterministic assignment as the
    dataset splits, so a user's arm survives reprocessing), conversion =
    ever made a high-value purchase (value > 99 — selective enough that
    neither pooled extreme degenerates the variance at any SF), and the
    two-proportion pooled z-statistic for the
    lift. Exact integer counts feed one closed-form double expression —
    no sampling, no randomness, oracle-exact. The whole readout is two
    distinct-collapses and a 2-row pivot: at 100 TB the cost is the
    distinct on user_id, which AQE-coalesces after the first shuffle."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select("user_id").distinct().select(
        "user_id",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8", "A"
        )
        .otherwise("B")
        .alias("arm"),
    )
    conv = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 99))
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    stats = (
        assign.join(conv, "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce(F.col("converted"), F.lit(0))).alias("n_converted"),
        )
    )
    wide = stats.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("xa"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("xb"),
    )
    na, xa = F.col("na"), F.col("xa")
    nb, xb = F.col("nb"), F.col("xb")
    pooled = (xa + xb).cast("double") / (na + nb)
    lift = xb.cast("double") / nb - xa.cast("double") / na
    return wide.select(
        na.alias("n_a"),
        xa.alias("conv_a"),
        nb.alias("n_b"),
        xb.alias("conv_b"),
        (xa.cast("double") / na).alias("rate_a"),
        (xb.cast("double") / nb).alias("rate_b"),
        lift.alias("abs_lift"),
        (
            lift
            / F.sqrt(
                pooled * (F.lit(1) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)
            )
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Winnowing (minimizer) substring-overlap dedup
# ---------------------------------------------------------------------------

_WIN_K = 4  # tokens per k-gram
_WIN_W = 5  # k-grams per winnowing window
_WIN_DF_CAP = 20  # fingerprints in more docs than this are stop-phrases
_WIN_SHARED_MIN = 2  # doc pairs must share at least this many fingerprints


@register(
    "ext_dedup_winnowing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+{_WIN_K - 1}], ' ')) AS h
      FROM t, UNNEST(range(1, len(toks) - {_WIN_K - 2})) AS r(i)
      WHERE len(toks) >= {_WIN_K}
    ),
    m AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
               AS fp
      FROM g
    ),
    fps AS MATERIALIZED (
      SELECT DISTINCT doc_id, fp FROM m WHERE pos >= {_WIN_W}
    ),
    kept AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {_WIN_DF_CAP}
    ),
    shared AS MATERIALIZED (SELECT doc_id, fp FROM fps JOIN kept USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fp
    FROM shared a JOIN shared b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WIN_SHARED_MIN}
    """,
)
def ext_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap dedup via winnowing fingerprints (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 — the MOSS scheme; the same signal
    family as Lee et al. 2021's exact-substring training-data dedup):
    hash every {_WIN_K}-token gram, keep each sliding {_WIN_W}-window's
    MINIMUM hash, and report document pairs sharing >= {_WIN_SHARED_MIN}
    selected fingerprints. A pasted passage of >= k+w-1 tokens is
    guaranteed to contribute at least one identical fingerprint to both
    documents — coverage Jaccard/MinHash (whole-doc resemblance) and
    containment (whole-doc subset) both miss for localized plagiarism.

    Cross-engine exactness: md5 hex strings order identically in both
    engines, so the window MIN and every downstream count are exact —
    no probabilistic tier, full oracle.

    Scale shape (optimization round 10 — guide §2.4 "remove shuffles
    outright"): fingerprint SELECTION is entirely map-side. The k-gram
    hashes and the sliding window MIN are per-document array folds
    (two Generate barriers so no HOF lambda ever re-evaluates an outer
    expression — README "HOF CSE"), and per-doc distinctness is
    array_distinct — so the corpus-sized gram stream never crosses an
    exchange, where the previous spelling exploded it, shuffled it by
    doc_id, sorted it under a Window, and shuffled again for DISTINCT
    (x4: the self-join + df-filter branches each recomputed the
    subtree — 10 exchanges / 4 windows / 4 scans before; 5 exchanges
    (two parallelism repartitions, the fp exchange in each of the two
    branches, the final pair aggregate) / 0 windows / 2 scans after,
    and AQE reuses the identical fps shuffle at runtime). Pairs come
    from the df-capped
    postings lists (sort_array + collect_list after the cap join keeps
    every group <= {_WIN_DF_CAP} ids, so the quadratic explode is
    bounded at C({_WIN_DF_CAP},2) per fingerprint) instead of a
    shared x shared self-join; the explicit repartition(fp) is the
    one exchange both the df filter and the postings join consume
    (ReuseExchange). The document-frequency cap ({_WIN_DF_CAP}) drops
    boilerplate stop-phrases exactly like df pruning in MinHash
    banding; selected-fingerprint density is ~2/(w+1) of grams, so the
    index is ~{2 * 100 // (_WIN_W + 1)}% the size of a full k-gram
    postings list."""
    from ..functions.text import generate_barrier

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # barrier 1: the token array (split is re-evaluated per element by
    # any HOF lambda that closes over it as an inline expression)
    t = generate_barrier(
        docs.select("doc_id", "text"), toks=tokens("text")
    ).where(F.size("toks") >= _WIN_K)
    # barrier 2: the gram-hash array — the sliding-min gets below read
    # it per element, so it must be an attribute, not an expression
    hs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (_WIN_K - 1)),
        lambda i: F.md5(F.array_join(F.slice(F.col("toks"), i, _WIN_K), " ")),
    )
    h = generate_barrier(t.select("doc_id", "toks"), hs=hs).select("doc_id", "hs")
    # fp[j] = min(hs[j-W+1 .. j]) for 0-indexed window ends j >= W-1 —
    # identical to the former Window MIN over (PARTITION BY doc ORDER BY
    # pos ROWS {_WIN_W - 1} PRECEDING..CURRENT) filtered to pos >= W;
    # array_distinct == the former per-(doc, fp) DISTINCT. The when()
    # guards the descending-sequence pitfall for docs with < W grams.
    fp_arr = F.when(
        F.size("hs") >= _WIN_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(_WIN_W - 1), F.size("hs") - 1),
                lambda j: F.least(
                    *[F.get(F.col("hs"), j - d) for d in range(_WIN_W)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    fps = h.select("doc_id", F.explode(fp_arr).alias("fp")).repartition("fp")
    # df cap BEFORE collecting postings: a boilerplate fingerprint in
    # millions of documents must be dropped by a count, never collected
    # into one aggregation buffer. Both consumers sit on the fps
    # exchange above, so the fingerprint stream shuffles once.
    kept = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= _WIN_DF_CAP))
        .select("fp")
    )
    postings = (
        fps.join(kept, "fp")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                "ds",
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    return (
        postings.select(pair.alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= _WIN_SHARED_MIN)
    )
