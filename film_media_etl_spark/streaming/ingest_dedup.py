"""Streaming ingest-time document dedup — the online half of the batch
dedup stack (operators/dedup.py). A 100 TB training-data pipeline dedups
AT INGEST so duplicates never reach storage; these operators express
that with Structured Streaming's own state machinery.

Two tiers, mirroring the batch exact/near split:

- ``stream_content_dedup`` — exact content dedup: fingerprint the RAW
  text (xxhash64 — the same convention as the batch exact tier
  ``ext_dedup_exact`` and ``stream_curation_gate``'s dup gate, which
  both treat byte-different texts as distinct) and drop duplicates on
  it. State is bounded by distinct-content cardinality; the JVM
  manages it.
- ``stream_near_dup_filter`` — ONLINE near-dup suppression: SimHash the
  text (the exact simhash_bits expression the batch op uses), block on
  the signature's low band, and keep a per-bucket list of admitted
  signatures in applyInPandasWithState; a document is suppressed when
  any admitted signature in its bucket is within ``max_hamming``.
  First-writer-wins semantics (stream order decides survivors, like any
  online filter). Single-band blocking trades recall for one stateful
  key per doc — the batch 4-band op is the full-recall tier; with the
  default 16-bit band plus verify this recovers pairs with Hamming <= 3
  guaranteed-on-this-band plus whatever lands in-band beyond that
  (documented partial tier, same analysis as the batch banding test).
  State per bucket is capped at ``max_state`` admitted signatures
  (oldest evicted) so a hot bucket cannot grow without bound.

Correctness strategy: no SQL oracle exists for streams — pytest drains
against the static corpus and compares to a batch replay of the same
greedy first-wins semantics (tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokens
from ..operators.dedup import simhash_bits


def read_documents_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the documents parquet (schema pinned from
    a static scan — never inference on a stream). Set
    ``max_files_per_trigger`` to force one micro-batch per file drop —
    tests use it to actually exercise multi-batch merge paths."""
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reader = spark.readStream.schema(static.schema).option(
        "pathGlobFilter", "documents*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir)


def stream_content_dedup(docs: DataFrame) -> DataFrame:
    """Exact streaming dedup on a content fingerprint of the RAW text —
    matching the batch exact tier and the curation gate exactly, so a
    document admitted by one tier is admitted by all (an earlier
    revision lower()-folded here and nowhere else, making
    case-variant documents dedupe in this op only). The documents
    table carries no event time, so state is global dropDuplicates
    (bounded by distinct-content cardinality — the fingerprint is 8
    bytes, so even a billion distinct docs is ~tens of GB of state
    across a cluster; with an ingest-time column, switch to
    dropDuplicatesWithinWatermark as stream_dedup does)."""
    return docs.withColumn(
        "content_fp", F.xxhash64(F.col("text"))
    ).dropDuplicates(["content_fp"])


_NEAR_DUP_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig", T.LongType(), False),
        T.StructField("admitted", T.BooleanType(), False),
    ]
)
_NEAR_DUP_STATE = T.StructType([T.StructField("sigs", T.ArrayType(T.LongType()), True)])


def stream_near_dup_filter(
    docs: DataFrame,
    *,
    max_hamming: int = 6,
    band_bits: int = 16,
    max_state: int = 4096,
) -> DataFrame:
    """Stateful online near-dup suppression (see module doc). Emits every
    document with its signature and the admit/suppress decision; a
    downstream sink keeps ``admitted`` rows only."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mask = (1 << band_bits) - 1

    def update(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        admitted: list[int] = list(state.get[0]) if state.exists else []
        out_ids, out_sigs, out_adm = [], [], []
        # One group's batch rows can arrive split across several Arrow
        # chunks — concatenate BEFORE sorting so the within-batch doc_id
        # order (the deterministic replay-stable tie-break for
        # same-batch near-dups) is global to the group, not per-chunk.
        chunks = [pdf for pdf in pdfs]
        rows = (
            pd.concat(chunks).sort_values("doc_id")
            if chunks
            else pd.DataFrame(columns=["doc_id", "sig"])
        )
        for _, row in rows.iterrows():
            sig = int(row["sig"])
            dup = any(
                bin(sig ^ s).count("1") <= max_hamming for s in admitted
            )
            if not dup:
                admitted.append(sig)
                if len(admitted) > max_state:
                    admitted.pop(0)  # bounded state: evict oldest
            out_ids.append(int(row["doc_id"]))
            out_sigs.append(sig)
            out_adm.append(not dup)
        state.update((admitted,))
        yield pd.DataFrame({"doc_id": out_ids, "sig": out_sigs, "admitted": out_adm})

    sigs = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        simhash_bits(F.col("text")).alias("sig"),
    )
    keyed = sigs.withColumn("bucket", F.col("sig").bitwiseAND(F.lit(mask)))
    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=_NEAR_DUP_OUT,
        stateStructType=_NEAR_DUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_GATE_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("reject_reason", T.StringType(), False),
        T.StructField("keep", T.BooleanType(), False),
    ]
)
_GATE_STATE = T.StructType([T.StructField("seen", T.BooleanType(), True)])


def stream_curation_gate(
    docs: DataFrame,
    *,
    lexicon: tuple[str, ...] | None = None,
    blocklist_max_expr: int | None = None,
) -> DataFrame:
    """Ingest-time curation verdict stream — the online twin of batch
    ext_curation_pipeline / curation_verdict, same gates in the same
    FIXED order (length, langid=='en', quality floor, Gopher battery,
    C4 battery, TTR/top-bigram repetition, blocklist, 13-signal Gopher
    repetition verdict, exact dedup), so every arriving document gets
    one deterministic reject_reason. ``lexicon`` /
    ``blocklist_max_expr`` parameterize the blocklist tier exactly as
    on the batch side (defaults: the shipped empty CURATION_BLOCKLIST
    and BLOCKLIST_EXPR_MAX_PHRASES); the shared
    queries/blocklist.with_blocklist_reason builder selects the path —
    on a STREAMING frame the over-cap path is the map-side
    arrays_overlap membership probe (the hit-set join-back the batch
    join path uses is a stream-stream self-join), same match semantics,
    parity-pinned against the batch gate by test.

    The scalar gates are pure map-side expressions (behind the same
    Generate barrier — predicted_lang + quality_score materialize once).
    The repetition gate needs no per-doc aggregation on a stream: the
    type-token ratio and the top-bigram share are per-ROW higher-order
    functions over the token array (the top-bigram count is the longest
    equal run in the SORTED bigram array — an O(n log n) fold, stateless
    on the stream; the batch query's explode+groupBy computes the
    identical number). Only the DUPLICATE gate is stateful: one boolean per
    content fingerprint in applyInPandasWithState, first-writer-wins —
    any document with the text claims the fingerprint (matching the
    batch dup CTE, which takes MIN(doc_id) over ALL docs with the text,
    gated or not). Within a batch, rows replay in doc_id order, so a
    single-batch availableNow drain reproduces the batch query's
    min-id-survivor output EXACTLY (pinned by test). State is 1 bit +
    an 8-byte key per distinct content — the same bound as
    stream_content_dedup."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions import text as TX
    from ..queries.blocklist import (
        BLOCKLIST_EXPR_MAX_PHRASES,
        with_blocklist_reason,
    )
    from ..queries.repetition_signals import with_repetition_verdict

    lex = TX.CURATION_BLOCKLIST if lexicon is None else tuple(lexicon)
    cap = (
        BLOCKLIST_EXPR_MAX_PHRASES
        if blocklist_max_expr is None
        else blocklist_max_expr
    )
    toks = tokens("text")
    n = F.size("toks")
    bgs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # with_blocklist_reason and with_repetition_verdict are stateless
    # map-side work on a stream (Project + Generate barriers), so they
    # compose onto it like any other scalar gate — the same shared
    # builders as the batch pipeline.
    base = with_repetition_verdict(
        TX.lang_quality_barrier(
            with_blocklist_reason(
                docs.select("doc_id", "text", toks.alias("toks")),
                lex,
                max_expr_phrases=cap,
            )
        ).withColumn("bgs", bgs)
    )
    # top-bigram count == longest equal run in the SORTED bigram array —
    # O(n log n) per doc vs the O(distinct x n) distinct/filter spelling
    # (this runs per-row on the ingest hot path). "" is a safe run
    # sentinel: every bigram contains the joining space.
    top_count = F.aggregate(
        F.array_sort("bgs"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_share = top_count.cast("double") / F.size("bgs").cast("double")
    ttr_ok = (
        F.size(F.array_distinct("toks")).cast("double") / n.cast("double")
        >= F.lit(TX.CURATION_MIN_TTR)
    ) & (top_share <= F.lit(TX.CURATION_MAX_TOP_BIGRAM_SHARE))
    # shared FIXED gate order (functions/text.py), Gopher + C4 batteries,
    # the path-switched blocklist tier (the blk_reason attribute built
    # above), and the 13-signal repetition verdict included (all
    # map-side, stateless on the stream); the dup gate is the
    # per-fingerprint state below
    reason0 = TX.curation_scalar_reason(
        F.col("text"),
        n,
        F.col("lang"),
        F.col("q"),
        ttr_ok,
        TX.gopher_reason(F.col("text"), F.col("toks")),
        TX.curation_c4_reason(F.col("text")),
        F.col("blk_reason"),
        F.col("rep_ok"),
    )
    scalar = base.select(
        "doc_id",
        reason0.alias("reason0"),
        # xxhash64 never returns NULL: null text hashes to the seed
        # (42), so all null-text docs share one state group — harmless,
        # they are all rejected 'too_short' before the dup gate.
        F.xxhash64(F.col("text")).alias("content_fp"),
    )

    def update(key, pdfs: Iterator, state: GroupState):
        import pandas as pd

        seen = bool(state.get[0]) if state.exists else False
        # The iterator may chunk one group's batch rows across several
        # DataFrames — concatenate BEFORE sorting so the in-batch doc_id
        # replay order is global to the group, not per-chunk.
        chunks = [pdf for pdf in pdfs]
        rows = (
            pd.concat(chunks).sort_values("doc_id")
            if chunks
            else pd.DataFrame(columns=["doc_id", "reason0"])
        )
        out_ids, out_reasons, out_keep = [], [], []
        for _, row in rows.iterrows():
            r0 = row["reason0"]
            reason = "duplicate" if (seen and r0 == "ok") else r0
            seen = True
            out_ids.append(int(row["doc_id"]))
            out_reasons.append(reason)
            out_keep.append(reason == "ok")
        state.update((seen,))
        yield pd.DataFrame(
            {
                "doc_id": out_ids,
                "reject_reason": out_reasons,
                "keep": out_keep,
            }
        )

    return scalar.groupBy("content_fp").applyInPandasWithState(
        update,
        outputStructType=_GATE_OUT,
        stateStructType=_GATE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Index reads resolve through operators.dedup_index.read_stream_dedup_index:
# the sinks.py re-delivery anchor (only increments committed STRICTLY
# before the current batch are probed, so a replayed batch never sees its
# own half-written increment) plus the compaction manifest (folded
# increments are masked by the watermark; a watermark at/above the live
# batch id is a contract violation and raises). The shared
# increment_versions helper also filters non-``v{int}`` directory entries
# BEFORE keying them — the old local lister ValueError'd on stray files.


def start_index_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    out_path: str,
    checkpoint: str,
    *,
    threshold: float = 0.9,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Incremental INDEX-BACKED near-dup dedup — the streaming twin of
    the persisted MinHash index (operators/dedup_index.py): each
    micro-batch (a) flags every document with an already-seen
    near-duplicate — within-batch lower-id partners via the batch
    survivors op, cross-batch partners by probing the index increments
    committed by earlier batches — and (b) appends its OWN signatures
    to the index, so the corpus is signatured exactly once, ever.

    Semantics pin: when batches arrive in doc_id order, "EXISTS an
    earlier-seen partner" is exactly minhash_lsh_survivors' "EXISTS a
    lower-id partner", so the drained stream's (doc_id, pruned) flags
    must be BIT-IDENTICAL to the batch survivors op over the whole
    corpus — the parity test stages doc_id-sliced file drops and checks
    set equality (tests/test_streaming.py).

    Exactly-once: output and index increments are versioned directories
    (v{batch_id}, overwrite mode) and all reads anchor strictly below
    the current batch id, so a re-delivered batch rewrites its own
    increment from the same input — the sinks.py idempotency pattern.
    At 100 TB each batch pays one map over ITS OWN documents plus a
    broadcast probe against index scans; nothing corpus-sized shuffles."""
    import os

    from ..operators.dedup import _token_hashes, minhash_lsh_survivors
    from ..operators.dedup_index import (
        minhash_banded,
        probe_dedup_frames,
        read_stream_dedup_index,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # read the source once
        within = minhash_lsh_survivors(batch_df, threshold=threshold)
        idx_bands, idx_sigs = read_stream_dedup_index(
            spark, index_dir, before_batch=batch_id
        )
        if idx_bands is not None:
            pairs = probe_dedup_frames(
                idx_bands,
                idx_sigs,
                batch_df,
                threshold=threshold,
            )
            cross = pairs.select(F.col("probe_id").alias("doc_id")).distinct()
            flags = within.join(
                cross.withColumn("x", F.lit(True)), "doc_id", "left"
            ).select(
                "doc_id",
                (F.col("pruned") | F.coalesce("x", F.lit(False))).alias("pruned"),
            )
        else:
            flags = within
        flags.write.mode("overwrite").parquet(os.path.join(out_path, f"v{batch_id}"))
        minhash_banded(batch_df).write.mode("overwrite").parquet(
            os.path.join(index_dir, "bands", f"v{batch_id}")
        )
        th = F.array_distinct(_token_hashes(F.col("text")))
        batch_df.select(
            F.col("doc_id"), th.alias("tok_hashes"), F.size(th).alias("nt")
        ).where(F.col("nt") > 0).write.mode("overwrite").parquet(
            os.path.join(index_dir, "sigs", f"v{batch_id}")
        )

    writer = (
        read_documents_stream(
            spark, sf_dir, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
