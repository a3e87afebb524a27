"""Structured Streaming front-end for the extraction engine.

The reference is a batch + at-least-once job queue (inngest events trigger
enrichment, ``apps/web/app/api/pdfs/file-upload/route.ts:69-74`` ->
``apps/web/lib/inngest/functions.ts:17-43``); it has no true streaming. The
north rule therefore requires a *batch* job with checkpointed resume (see
janet_spark/checkpoint.py). This module is the additional streaming-native
path: the same per-turn extraction stage (stateless, Arrow-vectorized) run
as an incremental Structured Streaming job, where Spark's file-source
checkpoint takes the place of the batch lineage anti-join —
``Trigger.AvailableNow`` drains exactly the files not yet processed and
stops, which is the reference's queue-consumer semantics
(``functions.ts:21-23``) without the queue.

At cluster scale the same code points at a continuously-arriving landing
directory (or Kafka source) with a processing-time trigger; extraction being
stateless means no state store growth — only the windowed aggregation below
carries state, bounded by its watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from janet_spark.extract.udfs import EXTRACT_OUTPUT_DDL, extract_turns_iter

# single canonical home for the transcript schema (sources.py); re-exported
# here so existing imports keep working without a second copy to drift
from janet_spark.sources import TRANSCRIPT_DDL  # noqa: F401


# Streaming file sources REQUIRE a reader schema (no inference), and a
# reader type narrower than a file's physical type is a hard parquet read
# error — so the stream reads integer columns at their WIDEST (parquet
# upcasts int32 -> long fine, never the reverse) and casts down onto the
# contract, tolerating producers that wrote turn_idx as either int or long.
_WIDE_TRANSCRIPT_DDL = (
    "conv_id string, turn_idx long, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a transcript landing directory, pinned to
    the transcript contract (widest-read + cast-down; see above)."""
    return (
        spark.readStream.schema(_WIDE_TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
        .withColumn("turn_idx", F.col("turn_idx").cast("int"))
    )


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental extraction: drain all unprocessed files, extract, append
    to parquet, stop. Re-running after new files land processes ONLY the new
    files (exactly-once via the stream checkpoint) — the streaming analog of
    the batch resume anti-join (rename.ts:61-64)."""
    stream = read_transcript_stream(spark, input_dir)
    extracted = stream.mapInPandas(extract_turns_iter, schema=EXTRACT_OUTPUT_DDL)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


ASSEMBLED_DDL = "conv_id string, conv_text string, n_turns int, completed_by string"
_ASSEMBLER_STATE_DDL = "turn_idxs array<int>, texts array<string>"


MAX_OPEN_TURNS = 100_000  # per-conversation state cap (see _make_assembler)


def _make_assembler(timeout_ms: int | None, max_open_turns: int = MAX_OPEN_TURNS):
    """Build the applyInPandasWithState worker: accumulate turns per
    conv_id across micro-batches; emit the ordered conversation when a
    terminator turn (role == 'end') arrives — or, when a timeout is
    configured (continuous deployments), when the conversation goes quiet.

    State per key is the open conversation's turn list, dropped on emit.
    A runaway conversation (bot loop, missing terminator) would otherwise
    grow one state row without bound, so the accumulator is HARD-CAPPED at
    `max_open_turns`: on overflow the buffered prefix emits immediately
    with completed_by='overflow' and the state resets — bounded state-store
    row size by construction, the streaming analog of the batch path's
    chunked reassembly (reassemble.py)."""

    def assemble(key, pdfs, state):
        import pandas as pd

        conv_id = key[0]

        def emit(idxs, texts, completed_by):
            order = sorted(range(len(idxs)), key=lambda i: idxs[i])
            return pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "conv_text": ["\n".join(texts[i] for i in order)],
                    "n_turns": [len(idxs)],
                    "completed_by": [completed_by],
                }
            )

        if state.hasTimedOut:
            idxs, texts = state.get
            state.remove()
            yield emit(list(idxs), list(texts), "timeout")
            return

        if state.exists:
            prev_idxs, prev_texts = state.get
            idxs, texts = list(prev_idxs), list(prev_texts)
        else:
            idxs, texts = [], []
        terminated = False
        for pdf in pdfs:
            for turn_idx, role, text in zip(pdf["turn_idx"], pdf["role"], pdf["text"]):
                if role == "end":
                    terminated = True
                else:
                    idxs.append(int(turn_idx))
                    texts.append("" if text is None else str(text))
        if terminated:
            if state.exists:
                state.remove()
            yield emit(idxs, texts, "terminator")
        elif len(idxs) >= max_open_turns:
            if state.exists:
                state.remove()
            yield emit(idxs, texts, "overflow")
        else:
            state.update((idxs, texts))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    return assemble


def assemble_conversations_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    quiet_timeout_ms: int | None = None,
    max_open_turns: int = MAX_OPEN_TURNS,
    processing_interval: str | None = None,
) -> StreamingQuery:
    """Custom stateful operator: cross-micro-batch conversation assembly
    via ``applyInPandasWithState``. A conversation's turns may arrive over
    many files/batches; per-conv state accumulates them until a terminator
    turn (role == 'end') closes the conversation — then the full ordered
    transcript emits and the state drops. State survives query restarts
    through the checkpoint, so a conversation split across separate drain
    runs still assembles completely.

    ``quiet_timeout_ms`` enables processing-time expiry of quiet
    conversations (emitted with completed_by='timeout') and REQUIRES a
    continuous trigger — pass ``processing_interval`` (e.g. "30 seconds")
    with it. Under the default AvailableNow drain trigger a pending
    timeout would force the trigger to keep scheduling micro-batches until
    every registered timeout fires, so the "drain and stop" run would idle
    for the whole timeout window; the combination is rejected loudly.
    Under a continuous trigger the timeout is the state-store GC that
    stops open-conversation state growing forever.

    The reference has no streaming analog (its inngest queue enriches whole
    documents, ``apps/web/lib/inngest/functions.ts:17-43``); this is the
    engine-native answer to 'transcripts arrive turn-by-turn'. State is
    per-conversation and dropped on emit, so state-store size is bounded by
    the number of OPEN conversations, not the stream length; the shuffle
    key is conv_id — the same key the batch reassembly buckets on."""
    if quiet_timeout_ms is not None and processing_interval is None:
        raise ValueError(
            "quiet_timeout_ms needs a continuous trigger: pass "
            "processing_interval (e.g. '30 seconds'); under AvailableNow a "
            "pending timeout would keep the drain scheduling micro-batches "
            "until it fires"
        )
    stream = read_transcript_stream(spark, input_dir)
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if quiet_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    assembled = stream.groupBy("conv_id").applyInPandasWithState(
        _make_assembler(quiet_timeout_ms, max_open_turns),
        outputStructType=ASSEMBLED_DDL,
        stateStructType=_ASSEMBLER_STATE_DDL,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
    writer = (
        assembled.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if processing_interval is not None:
        writer = writer.trigger(processingTime=processing_interval)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_turns_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
) -> StreamingQuery:
    """Streaming DEDUPLICATION on the turn identity key: an at-least-once
    producer (queue redelivery, file re-land, upstream retry) may emit the
    same (conv_id, turn_idx) twice; each duplicate extracted and assembled
    would corrupt conversations downstream. `dropDuplicatesWithinWatermark`
    keeps the first arrival per key and BOUNDS the dedup state with the
    event-time watermark — keys older than the watermark are evicted, so
    state size tracks the redelivery window's row rate, not stream length
    (an unbounded `dropDuplicates` would grow state forever at 10^12
    turns). Redeliveries later than the watermark are out of contract —
    the same trade every watermarked operator here makes; the batch
    resume anti-join (checkpoint.py) is the full-history backstop."""
    stream = read_transcript_stream(spark, input_dir).withWatermark("ts", watermark)
    deduped = stream.dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def update_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming search-index maintenance: each micro-batch of newly-landed
    documents computes its per-term doc-frequency DELTA and merges it
    additively into the df table (the contract `index_incremental_merge`
    value-checks in batch). foreachBatch rewrites the merged vocabulary
    table through a staging dir and `commit.publish` — the vocabulary
    is orders of magnitude smaller than the corpus, so a full rewrite per
    batch stays cheap at ANY corpus size (it scales with distinct terms,
    not documents).

    Delivery note: `commit.publish` makes each batch's merge atomic
    against readers, and the stream checkpoint prevents re-reading input
    files — but a crash BETWEEN the publish and the checkpoint commit
    would re-merge one batch (at-least-once). Production closes that with
    Iceberg `MERGE INTO` keyed on batchId (DEPLOYMENT.md); the batch
    resume anti-join remains the full-rebuild backstop. Each merge runs
    `commit.recover` before reading, so a crash inside a publish never
    loses the accumulated history to a single-batch rebuild."""
    import os

    from janet_spark import commit
    from janet_spark.search import _tokens

    stream = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    parent = os.path.dirname(os.path.abspath(index_dir))

    def merge_batch(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # without this, a replayed batch after a crash mid-publish would
        # see no index and reset every accumulated document frequency to
        # this one batch's delta
        commit.recover(parent)
        delta = (
            batch_df.select(
                "doc_id",
                F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok"),
            )
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        if os.path.isdir(index_dir):
            existing = sess.read.schema("tok string, df long").parquet(index_dir)
            merged = existing.join(delta, "tok", "full_outer").select(
                "tok",
                (
                    F.coalesce(existing.df, F.lit(0)) + F.coalesce(delta.df, F.lit(0))
                ).alias("df"),
            )
        else:
            merged = delta.select("tok", F.col("df").cast("long").alias("df"))
        with commit.staged(parent, "index") as staging:
            merged.write.mode("overwrite").parquet(staging)
            commit.publish(staging, index_dir)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_turn_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> StreamingQuery:
    """Stateful demo: per-conversation tumbling-window turn counts with an
    event-time watermark bounding state (late rows beyond the watermark are
    dropped; on-time aggregates emit once finalized — append mode)."""
    stream = read_transcript_stream(spark, input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "conv_id",
            "n_turns",
            "n_chars",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def enrich_with_label_stream(
    spark: SparkSession,
    turns_dir: str,
    labels_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_skew: str = "1 hour",
) -> StreamingQuery:
    """Stream-stream JOIN: a turn stream enriched against a conversation-
    label stream arriving independently (cf. ad-hoc stream joins, AJoin
    VLDB'19 — see PAPERS.md), expressed with Structured Streaming's
    watermarked inner join.

    Both sides carry event-time watermarks and the join condition bounds
    the allowed arrival skew (`label.ts` within `max_skew` of `turn.ts`),
    which is what lets the state store EVICT: without the time-range
    predicate, every turn would wait forever for a possible future label
    and state would grow unboundedly; with it, rows older than the
    watermark + skew window are dropped from both join buffers. State size
    is therefore proportional to the skew window's row rate, independent
    of total stream length — the same bounded-state principle as the
    assembler's cap above."""
    # the turns side reuses read_transcript_stream's widest-read + cast-down
    # contract — pinning the narrow int schema here would hard-fail on a
    # producer that wrote turn_idx as int64, which the assembler path above
    # deliberately tolerates (the two readers must never diverge)
    turns = read_transcript_stream(spark, turns_dir).withWatermark("ts", max_skew)
    labels = (
        spark.readStream.schema("conv_id string, label string, lts timestamp")
        .option("maxFilesPerTrigger", 64)
        .parquet(labels_dir)
        .withWatermark("lts", max_skew)
    )
    joined = turns.join(
        labels,
        (turns.conv_id == labels.conv_id)
        & (labels.lts >= turns.ts - F.expr(f"INTERVAL {max_skew}"))
        & (labels.lts <= turns.ts + F.expr(f"INTERVAL {max_skew}")),
        "inner",
    ).select(turns.conv_id, "turn_idx", "role", "text", "ts", "label", "lts")
    return (
        joined.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def curate_turns_stream(
    spark: SparkSession,
    input_dir: str,
    eval_grams: frozenset[str],
    output_dir: str,
    checkpoint_dir: str,
    min_words: int = 5,
    max_dup_word_frac: float = 0.8,
) -> StreamingQuery:
    """Streaming CURATION GATE over a live turn ingest: the stateless
    repetition/quality filter (word count + duplicate-word fraction —
    pure JVM expressions, no state, no watermark) composed with streaming
    DECONTAMINATION: each surviving turn's sliding 8-grams are probed
    against the held-out benchmark gram set and any hit drops the turn
    before it ever reaches the training store.

    Why a broadcast SET probe and not a join: an anti join of the turn
    stream against its own exploded grams is a stream-stream join (append
    mode forbids it without watermark state), and a per-gram stream-static
    join plus per-turn re-aggregation would need watermarked state too.
    The eval gram set is SMALL by definition (benchmarks are thousands of
    docs); shipping it to executors as a broadcast artifact and probing
    per batch is stateless, shuffle-free, and is exactly how production
    decontamination deploys (a compiled filter artifact — same pattern as
    a KenLM binary). The batch operator (queries_text.q_decontaminate)
    remains the full-corpus backstop and the oracle-checked semantics."""
    import pandas as pd

    from janet_spark.queries_text import _DECONTAM_GRAM

    bset = spark.sparkContext.broadcast(frozenset(eval_grams))
    k = _DECONTAM_GRAM

    stream = read_transcript_stream(spark, input_dir)
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n_words = F.size(words)
    dup_frac = 1 - F.size(F.array_distinct(words)) / n_words
    gated = stream.filter((n_words >= min_words) & (dup_frac <= max_dup_word_frac))

    def drop_contaminated(batches):
        s = bset.value
        for pdf in batches:
            keep = []
            for text in pdf["text"]:
                w = (text or "").split(" ")
                grams = (
                    " ".join(w[i : i + k]) for i in range(max(len(w) - k + 1, 0))
                )
                keep.append(not any(g in s for g in grams))
            yield pdf[pd.Series(keep, index=pdf.index)]

    clean = gated.mapInPandas(drop_contaminated, schema=gated.schema)
    return (
        clean.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def hll_register_stream(
    spark: SparkSession,
    input_dir: str,
    reg_path: str,
    checkpoint_dir: str,
    key: str = "text",
    group: str = "source",
) -> StreamingQuery:
    """Streaming cardinality maintenance: each micro-batch of documents
    commits ONE HyperLogLog register generation (<= 256 rows per group,
    however large the batch); `maintained.read(spark,
    sketches.HLL_REGISTERS, reg_path)` max-merges the generations into the
    live per-source distinct-count dashboard at read time.

    Why foreachBatch + the generation store rather than a streaming agg:
    an unwindowed groupBy over an append stream needs complete/update
    output mode and an external sink anyway; here the sink IS the
    mergeable sketch state, shared bit-for-bit with the batch operator
    (`distinct_count_hll`), so batch and stream cannot drift. Exactness
    under replay: foreachBatch is at-least-once — a replayed batch
    re-commits gen=batch-<id>, which `maintained.append` REPLACES
    (idempotent per gen_id), and even a duplicate commit under a new id
    would merge away because registers max-merge (max is idempotent) —
    the property the sum-merge censuses lack and the reason HLL is the
    sketch you maintain from a stream."""
    from dataclasses import replace

    from janet_spark.maintained import append
    from janet_spark.sketches import HLL_REGISTERS, hll_registers_frame

    registers = replace(
        HLL_REGISTERS, of=lambda df: hll_registers_frame(df, key, group)
    )

    stream = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def commit_registers(batch_df, batch_id: int) -> None:
        append(registers, batch_df, reg_path, f"batch-{batch_id:012d}")

    return (
        stream.writeStream.foreachBatch(commit_registers)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
