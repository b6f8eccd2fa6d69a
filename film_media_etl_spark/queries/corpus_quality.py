"""Training-corpus curation operators: repetition-based quality filtering
(Gopher-style), duplicate-cluster survivor selection, stratified
deterministic sampling, int8 embedding quantization, and corpus token
Zipf statistics.

These extend the dedup/text-analysis family (SURVEY §2.K) with the
curation steps a 100 TB pre-training pipeline runs between raw scrape
and tokenizer: drop repetitive documents, collapse near-dup clusters to
one survivor, downsample over-represented strata, shrink embeddings for
the retrieval index, and audit the token distribution. Every op carries
an exact DuckDB oracle — including the survivor set, whose oracle walks
the same pair graph with a recursive CTE.

Determinism conventions:
- token order inside a document is positional (zip_with over adjacent
  slices), so bigram counts are exact, not sampled;
- every argmax (top bigram, survivor pick) has a total-order tiebreak;
- quantization uses floor(x*scale + 0.5) — identical double math in
  both engines — instead of engine round() (whose half-way rule
  differs between Spark HALF_UP and DuckDB half-even).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..operators.dedup import connected_components, token_jaccard_pairs
from ..sources import ensure_parallelism, load_table
from .registry import register


# ---------------------------------------------------------------------------
# Repetition quality (Gopher-style filters)
# ---------------------------------------------------------------------------


@register(
    "ext_repetition_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
      FROM t, LATERAL unnest(generate_series(1, len(toks)-1)) AS u(i)
    ), c AS (
      SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY doc_id, bg
    ), r AS (
      SELECT doc_id, bg, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, bg ASC) AS rn,
             SUM(cnt) OVER (PARTITION BY doc_id) AS n_bigrams
      FROM c
    ), top AS (
      SELECT doc_id, bg AS top_bigram, cnt AS top_bigram_count, n_bigrams
      FROM r WHERE rn = 1
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t.toks)) AS BIGINT) AS n_unique,
           CAST(len(list_distinct(t.toks)) AS DOUBLE)
             / CAST(len(t.toks) AS DOUBLE) AS type_token_ratio,
           top.top_bigram,
           CAST(top.top_bigram_count AS BIGINT) AS top_bigram_count,
           CAST(top.top_bigram_count AS DOUBLE)
             / CAST(top.n_bigrams AS DOUBLE) AS top_bigram_frac,
           (CAST(len(list_distinct(t.toks)) AS DOUBLE)
              / CAST(len(t.toks) AS DOUBLE) >= 0.3
            AND CAST(top.top_bigram_count AS DOUBLE)
              / CAST(top.n_bigrams AS DOUBLE) <= 0.18) AS passes_quality
    FROM t JOIN top ON t.doc_id = top.doc_id
    """,
)
def ext_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: type-token ratio and
    most-repeated-bigram share, plus the pass/fail verdict a curation
    pipeline filters on (Rae et al. 2021, 'Scaling Language Models',
    table A1 uses exactly these duplicate-n-gram fractions). Bigrams come
    from zip_with over adjacent array slices — pure JVM higher-order
    functions, zero Python.

    Optimization round 10 (guide §2.4): every output here is a
    per-document fact, so the whole query is now ONE map pass — the
    former spelling exploded bigrams, aggregated by (doc_id, bigram),
    ran two doc_id windows (rank-1 + total) and joined back to the
    stats branch (3 exchanges + a sort + 2 scans). The top bigram and
    its multiplicity are the longest equal-run (earliest on ties —
    lexicographically smallest, matching the cnt DESC, bg ASC rank) in
    the SORTED per-doc bigram array, found by one linear fold; the
    sorted array sits behind a Generate barrier so no lambda
    re-evaluates it. Docs with zero bigrams are dropped, matching the
    former inner join against the exploded counts."""
    from ..functions.text import generate_barrier

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = generate_barrier(
        docs.select("doc_id", "text"), toks=tokens("text")
    )
    n = F.size("toks")
    bgs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    tb = generate_barrier(
        t.select("doc_id", "toks"), sbg=F.sort_array(bgs)
    ).where(F.size("sbg") > 0)
    nbg = F.size("sbg")
    # fold over positions: cur = current run length, best/bb = longest
    # run so far and its bigram (strict > keeps the EARLIEST max, i.e.
    # the lexicographically smallest bigram on count ties)
    best = F.aggregate(
        F.sequence(F.lit(0), nbg - 1),
        F.struct(
            F.lit(0).alias("cur"),
            F.lit(0).alias("best"),
            F.lit(None).cast("string").alias("bb"),
        ),
        lambda acc, i: F.struct(
            F.when(
                (i > 0) & (F.get(F.col("sbg"), i) == F.get(F.col("sbg"), i - 1)),
                acc["cur"] + 1,
            )
            .otherwise(F.lit(1))
            .alias("cur"),
            F.greatest(
                acc["best"],
                F.when(
                    (i > 0)
                    & (F.get(F.col("sbg"), i) == F.get(F.col("sbg"), i - 1)),
                    acc["cur"] + 1,
                ).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(
                F.when(
                    (i > 0)
                    & (F.get(F.col("sbg"), i) == F.get(F.col("sbg"), i - 1)),
                    acc["cur"] + 1,
                ).otherwise(F.lit(1))
                > acc["best"],
                F.get(F.col("sbg"), i),
            )
            .otherwise(acc["bb"])
            .alias("bb"),
        ),
    )
    ttr = F.col("n_unique").cast("double") / F.col("n_tokens").cast("double")
    top_frac = F.col("_b.best").cast("double") / F.col("n_bigrams").cast("double")
    return tb.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_unique"),
        best.alias("_b"),
        nbg.cast("long").alias("n_bigrams"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_unique",
        ttr.alias("type_token_ratio"),
        F.col("_b.bb").alias("top_bigram"),
        F.col("_b.best").cast("long").alias("top_bigram_count"),
        top_frac.alias("top_bigram_frac"),
        ((ttr >= 0.3) & (top_frac <= 0.18)).alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster survivor selection
# ---------------------------------------------------------------------------


@register(
    "ext_dedup_survivors",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT doc_id, source, lang,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    ),
    pr AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM tok a
      JOIN tok b ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            >= 0.9
    ),
    edges AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS keeper_id,
           (c.cluster_id IS NULL OR c.cluster_id = d.doc_id) AS is_kept
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    """,
)
def ext_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the dedup pipeline: collapse each near-dup cluster to one
    survivor (min doc_id — deterministic, content-independent) and tag
    every document kept/dropped. Pair graph -> connected components ->
    left join back to the corpus, so singletons (never paired) keep
    themselves. This is the materialized keep-list a 100 TB curation run
    writes back to storage; downstream readers inner-join it instead of
    re-running dedup. One broadcastable join at the end: the cluster map
    is orders of magnitude smaller than the corpus."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pairs = token_jaccard_pairs(
        docs, block_cols=("source", "lang"), threshold=0.9
    )
    clusters = connected_components(pairs)
    return docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("keeper_id"),
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------


@register(
    "ext_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          <= CASE WHEN lang = 'en' THEN '0c' ELSE '33' END
    """,
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: downsample over-represented
    English (~5%) while keeping ~20% of every other language — the
    rebalancing step of multilingual corpus assembly. Rates are md5
    prefix thresholds (engine-portable, rerun-stable, debuggable at
    100 TB: membership is recomputable from the key alone, unlike
    sample()/TABLESAMPLE whose seeds don't survive repartitioning).
    Pure map-side filter — no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = F.when(F.col("lang") == "en", F.lit("0c")).otherwise(
        F.lit("33")
    )
    return docs.where(bucket <= threshold).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


@register(
    "ext_embedding_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
      FROM embeddings
    )
    SELECT e.vec_id, e.label, s.amax AS abs_max,
           array_to_string(list_transform(
             e.embedding,
             x -> CAST(floor(x::DOUBLE * (127.0 / s.amax) + 0.5) AS INTEGER)
           ), ',') AS q8
    FROM embeddings e JOIN s ON e.vec_id = s.vec_id
    """,
)
def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4x storage shrink before an ANN index ships to serving. Per-vector
    scale = 127/max|x|; floor(x*scale + 0.5) rounds half-away-from-zero
    identically in both engines (engine round() would not: Spark HALF_UP
    vs DuckDB half-even on doubles). All JVM higher-order functions over
    the scan — no shuffle, no Python; at 100 TB this is a pure map stage
    that saturates NVMe bandwidth, not CPU."""
    from ..functions.vectors import to_double_vec

    emb = load_table(spark, sf_dir, "embeddings")
    vec = to_double_vec(F.col("embedding"))
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.col("abs_max")
    return emb.select(
        "vec_id", "label", amax.alias("abs_max"), vec.alias("_v")
    ).select(
        "vec_id",
        "label",
        "abs_max",
        # int8 lanes cross the driver boundary as a comma-joined string:
        # integer-to-text is identical in both engines, where an ARRAY
        # column would be re-rendered differently by their dataframe
        # bridges (the decimal trap, queries/registry.py)
        F.array_join(
            F.transform(
                F.col("_v"), lambda x: F.floor(x * scale + F.lit(0.5)).cast("int")
            ),
            ",",
        ).alias("q8"),
    )


# ---------------------------------------------------------------------------
# Corpus token Zipf statistics
# ---------------------------------------------------------------------------


@register(
    "ext_token_zipf",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    ), c AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ), r AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank,
             CAST(SUM(cnt) OVER () AS BIGINT) AS total,
             SUM(cnt) OVER (ORDER BY cnt DESC, token ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM c
    )
    SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS BIGINT) AS rank,
           CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
    FROM r WHERE rank <= 40
    """,
)
def ext_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency audit: global counts, Zipf rank, and
    cumulative share of the top 40 types — the sanity check before
    tokenizer training (a healthy corpus shows the head covering a
    bounded share; a scrape bug shows one token dominating). The global
    window runs over the AGGREGATED type table (vocabulary-sized, tiny),
    never the raw token stream, so the single-partition rank exchange is
    on thousands of rows — the pattern that keeps a global ORDER BY
    harmless at 100 TB. Tiebreak (cnt desc, token asc) is total."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    c = (
        docs.select(
            F.explode(tokens("text")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("token").asc()]
    w_rank = Window.orderBy(*order)
    w_cum = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return (
        c.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("total", F.sum("cnt").over(w_all))
        .withColumn("cum", F.sum("cnt").over(w_cum))
        .where(F.col("rank") <= 40)
        .select(
            "token",
            "cnt",
            "rank",
            (F.col("cum").cast("double") / F.col("total").cast("double")).alias(
                "cum_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sequence chunking (context-window packing)
# ---------------------------------------------------------------------------

_CHUNK, _OVERLAP = 64, 16
_STRIDE = _CHUNK - _OVERLAP


@register(
    "ext_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, len(toks) AS n,
             GREATEST(1, CAST(floor((len(toks) + {_STRIDE - _OVERLAP - 1}) / {_STRIDE}.0)
                              AS INT)) AS n_chunks
      FROM t
    ), c AS (
      SELECT doc_id, n, i AS chunk_idx,
             list_slice(toks, 1 + i*{_STRIDE}, LEAST(1 + i*{_STRIDE} + {_CHUNK - 1}, n))
               AS chunk
      FROM n, LATERAL unnest(generate_series(0, n_chunks - 1)) AS u(i)
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(chunk) AS INT) AS n_chunk_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM c
    """,
)
def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into 64-token chunks
    with 16-token overlap (stride 48) — the packing step between a
    cleaned corpus and model-ready sequences. All array math (sequence
    of chunk starts -> posexplode -> slice -> join) runs as JVM
    higher-order functions over the scan; the only data movement is the
    explode, which multiplies rows ~2x here and never shuffles. The
    chunk-count formula guards Spark's sequence(1,0) descending trap:
    every document yields at least one chunk, and both engines compute
    n_chunks with the identical floor((n+offset)/stride) arithmetic."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((n + F.lit(_STRIDE - _OVERLAP - 1)) / F.lit(float(_STRIDE))).cast("int"),
    )
    withidx = t.select(
        "doc_id",
        "toks",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_i"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return withidx.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Vocabulary pruning (rare-token removal)
# ---------------------------------------------------------------------------

_MIN_TOKEN_COUNT = 20


@register(
    "ext_vocab_prune",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
    ), vocab AS (
      SELECT tok FROM tok GROUP BY tok HAVING COUNT(*) >= {_MIN_TOKEN_COUNT}
    )
    SELECT k.doc_id,
           array_to_string(list(k.tok ORDER BY k.pos), ' ') AS pruned_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM tok k JOIN vocab v ON k.tok = v.tok
    GROUP BY k.doc_id
    """,
)
def ext_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning: drop tokens whose CORPUS-WIDE frequency is
    below {_MIN_TOKEN_COUNT} and reassemble each document in original
    token order — the rare-token cleanup before tokenizer training
    (typo/UUID noise inflates vocab size out of proportion to mass).
    Global counts come from one explode+aggregate; the kept-vocabulary
    set broadcasts back onto the positional token stream; ordered
    reassembly is sort_array over (pos, token) structs — deterministic
    and shuffle-minimal (one exchange for the vocab, one for the per-doc
    regroup). Docs whose every token is rare drop out entirely (the
    JOIN, not a left join — matching the curation semantics)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("pos", "tok"),
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= _MIN_TOKEN_COUNT)
        .select("tok")
    )
    kept = tok.join(F.broadcast(vocab), "tok")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("pos"), F.col("tok")))
            ).alias("ordered"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("ordered"), lambda s: s["tok"]), " "
            ).alias("pruned_text"),
            "n_kept",
        )
    )


# ---------------------------------------------------------------------------
# Trending terms (top-k per time bucket)
# ---------------------------------------------------------------------------


@register(
    "ext_trending_terms",
    oracle="""
    WITH tok AS (
      SELECT CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS day,
             unnest(string_split(lower(d.text), ' ')) AS tok
      FROM events e JOIN documents d ON e.event_id % 500 = d.doc_id
      WHERE e.user_id < 100
    ), c AS (
      SELECT day, tok, COUNT(*) AS cnt FROM tok GROUP BY day, tok
    ), r AS (
      SELECT day, tok, cnt,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY cnt DESC, tok ASC) AS rn
      FROM c
    )
    SELECT day, tok AS term, CAST(cnt AS BIGINT) AS n_mentions,
           CAST(rn AS INT) AS day_rank
    FROM r WHERE rn <= 5
    """,
)
def ext_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms: top-5 tokens per day over an event->document
    activity join (events act as 'views' of documents via a synthetic
    FK). The daily leaderboard pattern — count on (bucket, term), then
    rank WITHIN bucket, so the window partitions on day and never
    collapses global. Ties break lexically; the (day, term) aggregate
    collapses the exploded stream before any window."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = (
        ev.join(docs, ev.event_id % 500 == docs.doc_id)
        .select(
            F.to_date("ts").alias("day"),
            F.explode(tokens("text")).alias("tok"),
        )
    )
    c = tok.groupBy("day", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("day").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "day",
            F.col("tok").alias("term"),
            F.col("cnt").alias("n_mentions"),
            F.col("rn").cast("int").alias("day_rank"),
        )
    )


@register(
    "ext_quantizer_calibration",
    oracle="""
    SELECT CAST(t.i AS INT) AS dim,
           CAST(MIN(embedding[t.i]) AS DOUBLE) AS lo,
           CAST(MAX(embedding[t.i]) AS DOUBLE) AS hi,
           CAST(MAX(embedding[t.i]) AS DOUBLE)
             - CAST(MIN(embedding[t.i]) AS DOUBLE) AS value_range
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY 1
    """,
)
def ext_quantizer_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max calibration over the embedding corpus — the
    range scan an int8 quantizer (ext_embedding_quantize) runs first to
    pick its scale per dimension. posexplode keeps the component index
    JVM-side (no Python touches the vectors); the aggregate is
    (dim -> min/max), so shuffle width is the embedding dimensionality
    regardless of corpus size, and min/max over floats is exact and
    order-insensitive (results cast to double — a float widens
    losslessly, keeping both engines' output types aligned)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.min("v").cast("double").alias("lo"),
            F.max("v").cast("double").alias("hi"),
        )
        .select(
            "dim",
            "lo",
            "hi",
            (F.col("hi") - F.col("lo")).alias("value_range"),
        )
    )


@register(
    "ext_embedding_covariance",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(x::DOUBLE * 10000.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    d AS (
      SELECT CAST(i.i AS INT) AS i, SUM(qv[i.i + 1]) AS sx, COUNT(*) AS n
      FROM q CROSS JOIN generate_series(0, 63) AS i(i)
      GROUP BY 1
    ),
    p AS (
      SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
             CAST(SUM(qv[i.i + 1] * qv[j.j + 1]) AS BIGINT) AS sxy
      FROM q
      CROSS JOIN generate_series(0, 63) AS i(i)
      CROSS JOIN generate_series(0, 63) AS j(j)
      WHERE j.j >= i.i
      GROUP BY 1, 2
    )
    SELECT p.i, p.j,
           CAST(di.n * p.sxy - di.sx * dj.sx AS DOUBLE)
             / (CAST(di.n AS DOUBLE) * CAST(di.n AS DOUBLE) * 100000000.0)
             AS cov
    FROM p
    JOIN d di ON p.i = di.i
    JOIN d dj ON p.j = dj.i
    """,
)
def ext_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix of the embedding columns (upper triangle
    incl. diagonal, d(d+1)/2 = 2080 rows at d=64) — the precursor to
    PCA whitening / dimensionality audit every embedding pipeline runs
    before building an ANN index (a near-zero-variance or collinear
    dimension is wasted index bytes).

    Exactness: each float32 coordinate is quantized once to an INTEGER
    1e-4 grid with floor(x*1e4 + 0.5) — half-away-from-zero, identical
    cross-engine, sidestepping engine round() on doubles entirely
    (Spark HALF_UP vs DuckDB half-even — same trick as
    ext_embedding_quantize). Every moment (Sx_i, Sx_i*x_j, n) is then
    a BIGINT sum — order-insensitive at any parallelism — and the
    covariance is ONE double expression (n*Sxy - Sx*Sy)/(n^2 * 1e8).
    Overflow headroom: |q| <= ~1e5, so per-row products <= 1e10 and
    n*Sxy stays under 2^63 for n up to ~1e8 vectors; beyond that the
    quantized moments must widen to DECIMAL (Spark wraps silently
    where DuckDB errors — same bound discipline as ext_pagerank_exact).

    Scale: the pair stream is a cascaded explode (sequence(0,63), then
    sequence(i,63)) — NEVER a 2080-element literal array, whose
    Generate would blow the 64KB codegen method limit — and map-side
    partial aggregation collapses it to 2080 rows per task before the
    ONLY corpus-sized shuffle. The per-dimension sums are a 64-row
    broadcast join. One pass over the data, d^2-bounded output."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    q = emb.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(10000.0) + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("qv")
    )
    d = (
        q.select(F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"), "qv")
        .select("i", F.element_at("qv", F.col("i") + 1).alias("x"))
        .groupBy("i")
        .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
    )
    p = (
        q.select(F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"), "qv")
        .select("i", F.explode(F.sequence(F.col("i"), F.lit(63))).alias("j"), "qv")
        .select(
            "i",
            "j",
            (
                F.element_at("qv", F.col("i") + 1)
                * F.element_at("qv", F.col("j") + 1)
            ).alias("xy"),
        )
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("sxy"))
    )
    di = d.select(F.col("i"), F.col("sx").alias("sx_i"), "n")
    dj = d.select(F.col("i").alias("j"), F.col("sx").alias("sx_j"))
    return (
        p.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            (
                (F.col("n") * F.col("sxy") - F.col("sx_i") * F.col("sx_j")).cast(
                    "double"
                )
                / (
                    F.col("n").cast("double")
                    * F.col("n").cast("double")
                    * F.lit(100000000.0)
                )
            ).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split
# ---------------------------------------------------------------------------


@register(
    "ext_leakage_safe_split",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                  WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val' ELSE 'test' END AS split,
             user_id
      FROM events
    )
    SELECT split, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s GROUP BY split, event_type
    """,
)
def ext_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of the GROUPING UNIT (user_id), not the row, so every
    event of a user lands in the same split by construction — the
    invariant that protects evaluation from target leakage (a user's
    history straddling train and test is the classic silent eval
    inflation). Buckets are md5-prefix thresholds ('cc'/'e6' of 256 ~
    80/10/10), the ext_stratified_sample discipline: engine-portable,
    rerun-stable, and recomputable from the key alone at 100 TB —
    unlike randomSplit(), whose seed does not survive repartitioning,
    this assignment is reproducible row-by-row forever. Assignment is
    a map-side expression (no shuffle, no state); the per-(split, type)
    count/distinct aggregate here is the compact oracle surface, and
    split-disjointness is pinned by the model test (sum of per-split
    distinct users == global distinct users)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("user_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "cc", F.lit("train"))
        .when(bucket < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        ev.withColumn("split", split)
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
