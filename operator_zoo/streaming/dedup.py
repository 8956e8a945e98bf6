"""Streaming exact deduplication with watermark-bounded state.

Completes the Structured Streaming operator family (ingest →
foreachBatch commits, windowed aggregate, stateful sessionizer) with
the fourth shape a 10^12-doc ingest feed needs: drop exact duplicates
*as they arrive*, holding only a bounded window of seen keys.

Built on ``dropDuplicatesWithinWatermark`` (the streaming analog of
the batch ``functions.dedup.exact_duplicates``, which the reference's
incremental-save loop has no counterpart for — the reference processes
each file once, sequentially, `converter.py:233`):

- The first row of each key passes through immediately (append mode —
  no holding, so sink latency is one micro-batch).
- A duplicate arriving while its key is still in state is dropped —
  guaranteed whenever the duplicate's event time is within
  ``watermark`` of the first occurrence's.
- State is *bounded*: once the watermark passes a key's event time +
  delay, the key is evicted. A duplicate arriving after eviction is
  re-emitted — the documented at-least-once boundary of the operator
  (exact global dedup over an unbounded stream would need unbounded
  state; the batch ``dedup_exact`` / ``dedup_clusters`` pass is the
  compaction-time complement that removes stragglers).

Determinism: emitted *payloads* are whichever copy arrived first,
which depends on micro-batch boundaries — so replay-deterministic
pipelines should project the dedup key columns (byte-identical across
copies by definition) downstream of this operator, exactly what the
registered parity query does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(
    docs: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "25 hours",
) -> DataFrame:
    """First-writer-wins exact dedup over a streaming DataFrame.

    ``key_cols`` identify a duplicate (e.g. the 60-bit content
    fingerprint); ``ts_col`` + ``watermark`` bound how long a seen key
    is held in state. Duplicates whose event times fall within
    ``watermark`` of the first occurrence are dropped exactly; beyond
    that the operator degrades to at-least-once (state was evicted).

    Pure plan builder: accepts any streaming DataFrame, so tests and
    the parity query drive it with a file stream + availableNow.
    """
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    if ts_col in key_cols:
        raise ValueError(
            "ts_col must not be part of the dedup key — "
            "dropDuplicatesWithinWatermark treats the event-time column "
            "as the state-eviction clock, not identity"
        )
    return docs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def line_dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    line_words: int = 5,
    watermark: str = "25 hours",
) -> DataFrame:
    """Streaming LINE-level first-writer-wins dedup — the ingest-time
    mirror of the batch boilerplate pass
    (``functions/dedup.corpus_line_dedup``): as documents arrive,
    each ``line_words``-word line window that has already been seen
    (within the watermark) is dropped, so repeated boilerplate never
    reaches the sink twice. The batch pass stays the compaction-time
    complement: it alone can apply corpus-GLOBAL occurrence thresholds
    (remove ALL copies of a hot line), which needs full counts no
    bounded-state stream can hold.

    Line construction is the exact map-only HOF chain of the batch
    operator (split → transform(sequence) → slice/concat_ws → 60-bit
    hash), so it runs unchanged on a streaming DataFrame — no state,
    no shuffle — and the surviving line-hash set is byte-comparable to
    batch ``SELECT DISTINCT`` over the same windows. State holds one
    key per distinct line hash seen inside the watermark horizon.

    Emits ``(doc_id, pos, line, h, ts)`` for each surviving line.
    Which document's copy survives is micro-batch-dependent (module
    docstring), so replay-deterministic consumers project ``h``.
    """
    from pyspark.sql import functions as F

    from operator_zoo.functions.hashing import h60

    if line_words < 1:
        raise ValueError("line_words must be >= 1")
    lw = line_words
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("words"),
        F.col(ts_col).alias("ts"),
    ).withColumn("n_lines", F.expr(f"(size(words) + {lw - 1}) div {lw}"))
    lines_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("n_lines") - 1),
        lambda i: F.concat_ws(" ", F.slice("words", i * lw + 1, lw)),
    )
    hashed = base.select(
        "doc_id", F.posexplode(lines_arr).alias("pos", "line"), "ts"
    ).withColumn("h", h60("line", "linededup"))
    return dedup_stream(hashed, ["h"], ts_col="ts", watermark=watermark)
