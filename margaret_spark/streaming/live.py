"""Live queries as Structured Streaming tails.

Reference semantics (``offset2/qry.go:126-158``): a live query drains
existing entries, then blocks until the next append and continues —
catch-up-then-follow. That is exactly Spark's file-source streaming
contract: ``readStream`` over the log directory discovers appended
files in order; each micro-batch is the next slice of the log.

Three layers:

- :class:`LiveTail` — a pull iterator over a streaming query
  (micro-batches land in a queue via ``foreachBatch``; ``next()``
  blocks like the reference's ``Next``). Reverse+live is rejected at
  construction like the reference (``offset2/log.go:418-420``).
- :func:`stream_changes` — the ``Changes()`` observable fed by the
  stream (max seq per micro-batch).
- :func:`stream_build_index` — the §3.3 derived-index pipeline as a
  streaming query: ``foreachBatch`` applies the user function and the
  checkpoint directory plays the resume-cursor role (exactly-once,
  replacing the reference's hand-rolled cursor orderings,
  ``multilog/sink.go:46-58``).
"""

from __future__ import annotations

import queue
import shutil
import uuid
import threading
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from margaret_spark.log import OffsetLog
from margaret_spark.observable import Observable
from margaret_spark.qry import QuerySpec, build_plan
from margaret_spark.streaming.sinks import start_stream


class LiveTail:
    """Blocking pull iterator over a live (streaming) log query.

    Yields values in seq order: stored entries first (catch-up), then
    each new append as its file is discovered. ``SeqWrap`` and bounds
    behave as in the batch algebra; ``Limit`` stops the stream after n
    results. Nulled entries are *not* visible to the file-source tail
    (patches are separate files), matching the reference's live path
    which replays appended frames.

    An idle log does NOT end the stream: the reference's live query
    blocks until the next append (``offset2/qry.go:126-158``), so a
    quiet ``poll_timeout`` raises ``TimeoutError`` with the tail still
    open — call ``next()`` again to keep waiting, or ``close()`` to
    give up. Only ``Limit`` exhaustion (or ``close()``) ends the
    iteration; silently converting an idle wait into end-of-stream
    would make "no appends for 30 s" indistinguishable from "done".
    """

    _END = object()

    def __init__(self, log: OffsetLog, *specs: QuerySpec, poll_timeout: float = 30.0):
        self.log = log
        self.plan = build_plan(list(specs) + [])
        # force live semantics; reverse+live invalid as in the reference
        self.plan.live = True
        self.plan.validate()
        self._q: queue.Queue = queue.Queue()
        self._remaining = self.plan.limit
        self._poll_timeout = poll_timeout
        self._query = None
        self._lock = threading.Lock()

        src = log.stream_df(max_files_per_trigger=64)
        pred = self.plan.seq_predicate(F.col("seq"))
        if pred is not None:
            src = src.where(pred)

        out_q = self._q

        def on_batch(batch_df: DataFrame, batch_id: int) -> None:
            rows = batch_df.orderBy("seq").collect()
            for r in rows:
                out_q.put((r["seq"], r["value"]))

        # checkpoint under a UUID, never id(self): a reused memory
        # address would resume a dead tail's committed offsets and
        # silently skip the whole catch-up phase. The dir is removed
        # on close() — a tail's cursor is its queue, not the disk.
        self._ckpt_dir = f"{log.path}/_live_ckpt_{uuid.uuid4().hex}"
        self._query = (
            src.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", self._ckpt_dir)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def __iter__(self) -> Iterator[Any]:
        return self

    def __next__(self) -> Any:
        if self._remaining is not None and self._remaining <= 0:
            self.close()
            raise StopIteration
        try:
            seq, value = self._q.get(timeout=self._poll_timeout)
        except queue.Empty:
            raise TimeoutError(
                f"no append within poll_timeout={self._poll_timeout}s — "
                "the live tail is still open: next() keeps waiting, "
                "close() gives up"
            ) from None
        if self._remaining is not None:
            self._remaining -= 1
        if self.log.codec is not None and value is not None:
            value = self.log.codec.unmarshal(value)
        elif hasattr(value, "asDict"):
            value = value.asDict(recursive=True)
        return (seq, value) if self.plan.seqwrap else value

    def close(self) -> None:
        with self._lock:
            if self._query is not None:
                try:
                    self._query.stop()
                finally:
                    self._query = None
                    shutil.rmtree(self._ckpt_dir, ignore_errors=True)

    def __enter__(self) -> "LiveTail":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def stream_changes(log: OffsetLog) -> tuple[Observable, Callable[[], None]]:
    """A ``Changes()`` observable driven by the streaming tail: set to
    the max seq of every discovered micro-batch. Returns (observable,
    stop_fn)."""
    obs = Observable()

    src = log.stream_df()

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_df.agg(F.max("seq").alias("mx")).collect()[0]
        if row["mx"] is not None:
            obs.set(row["mx"])

    q = (
        src.writeStream.foreachBatch(on_batch)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    return obs, q.stop


def stream_build_index(
    log: OffsetLog,
    apply_batch: Callable[[DataFrame], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """The canonical derived-data pipeline (§3.3) as Structured
    Streaming: each micro-batch of appended entries is handed to
    ``apply_batch`` (a DataFrame of (seq, value)); the checkpoint
    directory is the persisted cursor, giving exactly-once batch
    delivery across restarts — the streaming twin of
    ``indexes.build_index``.

    ``available_now=True`` = one catch-up run that terminates (the
    reference's batch rebuild); ``False`` = continuous follow.
    """
    src = log.stream_df()

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(batch_df)

    w = src.writeStream.foreachBatch(on_batch)
    return start_stream(w, checkpoint_dir, available_now)
