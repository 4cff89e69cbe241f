"""How streams are driven, and executor-side delivery of their output.

:func:`start_stream` is the one place that decides how a checkpointed
stream runs: it sets the checkpoint and either drains the source or
starts the continuous trigger.

The custom stateful operators (``streaming.stateful``) emit a KEEPER
stream — first-seen documents, admitted budget rows, changed index
entries, as-of matches, LSH candidates. Six of the seven deliver it
through :func:`delivery`; ``stream_topk`` hands each output batch to
its caller's ``on_batch_df`` instead. At 100 TB that stream is itself big
data (``stream_dedup_exact`` emits one row per unique document ever
ingested), so its default delivery path must be executor-side: each
micro-batch's output is written as a parquet partition
``<sink_dir>/batch=<id>`` directly from the executors — the driver
only coordinates the write, no ``collect()``, no pandas
materialization. The per-batch OVERWRITE makes crash-replay
idempotent: a restarted query re-runs the failed epoch against the
checkpointed pre-batch state, reproduces the same rows under the same
batch id, and the partition is replaced byte-identically instead of
duplicated (the same contract ``streaming/cms.py`` established).

**Compaction.** A long-running stream (minutes-level triggers for
months) accumulates 10⁴–10⁵ tiny ``batch=<id>`` partials — the same
small-file amplification the log solves with
``sources/writers.compact_small_files``. :func:`compact_sink` folds
``batch=0..N`` into one ``compacted=<N>`` segment whose directory
name IS the high-water mark (plus an audit ``_manifest.json`` inside
it), published with a single rename. The supersede rule every reader
applies: the highest ``compacted=<hw>`` segment is authoritative for
batches ≤ hw; live partials count only above it. That rule is what
keeps replay idempotent ACROSS compaction — a crash-replayed batch
≤ hw rewrites its partition, readers ignore it, and the next
compaction sweeps it. Safe to run while the stream is live: the fold
takes only the committed PREFIX of the live ids (``_SUCCESS``-gated),
so an in-flight partial is never read torn and never superseded.

Reading the keeper set back is a batch scan over the compacted
segment plus the live partials (:func:`read_batch_sink`); operators
with append-per-key semantics (dedup keepers, budget admissions,
as-of matches, LSH candidates) need nothing more — each logical row
is emitted exactly once. The latest-index stream has UPDATE semantics
(a key re-emits when its value changes), so its reader reduces to the
newest emission per key (:func:`~margaret_spark.streaming.stateful.
read_latest_index_sink`), and compaction takes the same reduction as
``reduce_fn`` so the compacted segment stores one row per key. The
sketch sinks (``streaming/cms.py``) compact the same way with their
merge as the reducer (partials are additive/OR/max-mergeable).

Filesystem portability: listing, rename and delete go through the
Hadoop FileSystem API resolved from the path's scheme whenever a
``SparkSession`` is in hand (so ``hdfs://``/``s3a://`` sink dirs
behave like local ones); plain ``os.listdir`` is only the fallback
for the session-less ``has_batches(sink_dir)`` form. Caveat for
object stores without atomic rename (raw S3): the publish step is
copy+delete there — the window is benign for READERS (old segment +
live partials stay visible until the new segment lands) but two
CONCURRENT compactors could race; run one compactor per sink, which
is the natural deployment anyway.

The in-process callback delivery (one pandas DataFrame per
micro-batch through the driver) remains available on every operator —
it is the right tool for tests and small results — but it is the
opt-in path, not the scale default.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_MANIFEST = "_manifest.json"
#: Trigger interval of a checkpointed stream started with
#: ``available_now=False``.
_TRIGGER_INTERVAL = "500 milliseconds"


def start_stream(
    writer: DataStreamWriter,
    checkpoint_dir: Optional[str],
    available_now: bool,
) -> Optional[StreamingQuery]:
    """Start a checkpointed stream: drain it or leave it running.

    ``writer`` arrives with its sink (``foreachBatch(...)`` or a file
    format plus ``path``) and its output mode already set; this sets
    the checkpoint and the trigger.

    - ``available_now=True`` — drain: one ``trigger(availableNow=True)``
      run processes everything the source holds at start, possibly in
      several micro-batches, and this call blocks until the query
      terminates. Returns None. This is the catch-up / batch-rebuild
      form.
    - ``available_now=False`` — run: the query starts on a
      processing-time trigger of ``_TRIGGER_INTERVAL`` and follows new
      input until stopped. Returns the running ``StreamingQuery``; the
      caller owns ``stop()``.

    Either way the checkpoint is the resume cursor: offsets, the sink
    commit log and any operator state live in ``checkpoint_dir``, so a
    restart on the same directory continues exactly-once where the
    last run committed. A None ``checkpoint_dir`` is rejected before
    anything starts — passed through, it would reach the JVM as the
    string ``"None"`` or an opaque py4j error, depending on version."""
    if checkpoint_dir is None:
        raise ValueError(
            "checkpoint_dir is required: streaming offsets and state live "
            "in the checkpoint — pass a fresh directory per logical stream"
        )
    w = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        w.trigger(availableNow=True).start().awaitTermination()
        return None
    return w.trigger(processingTime=_TRIGGER_INTERVAL).start()


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem for the path's scheme, jvm Path class) —
    the portability seam: local paths resolve to the local FS, URI
    paths to whatever the cluster mounts."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def _sink_entries(sink_dir: str, spark: Optional[SparkSession]) -> list[str]:
    """Child entry names of ``sink_dir`` ([] if absent): Hadoop FS
    when a session is given, driver-local listdir otherwise."""
    if spark is not None:
        fs, jpath = _fs(spark, sink_dir)
        root = jpath(sink_dir)
        if not fs.exists(root):
            return []
        return [st.getPath().getName() for st in fs.listStatus(root)]
    try:
        return os.listdir(sink_dir)
    except FileNotFoundError:
        return []


def _entry_id(sink_dir: str, name: str) -> int:
    """The integer id after ``=`` in a ``batch=<id>`` /
    ``compacted=<id>`` entry name. A data-looking entry whose suffix
    is NOT a decimal integer (a manual copy like ``batch=3.bak``, a
    stray ``batch=__HIVE_DEFAULT_PARTITION__``) fails LOUDLY with the
    offending path — silently skipping something that claims to be
    sink data could hide real keeper rows from every reader."""
    s = name.split("=", 1)[1]
    if not s.isdigit():
        raise ValueError(
            f"foreign entry in sink dir: {sink_dir}/{name} — the suffix "
            "after '=' must be a decimal batch id; move or delete the "
            "entry (sink readers refuse to guess whether it holds data)"
        )
    return int(s)


def _layout(
    sink_dir: str, spark: Optional[SparkSession]
) -> tuple[int, list[int], list[int], list[str]]:
    """(high_water, live_batches, superseded_batches, tmp_names):
    ``high_water`` is the max ``compacted=N`` (−1 if none); live
    batches are ids > high_water; superseded are ids ≤ high_water
    (crash-replay leftovers readers must ignore); tmps are
    ``.compact-*.tmp`` from a crashed compactor."""
    hw = -1
    batches: list[int] = []
    tmps: list[str] = []
    for n in _sink_entries(sink_dir, spark):
        if n.startswith("compacted="):
            hw = max(hw, _entry_id(sink_dir, n))
        elif n.startswith("batch="):
            batches.append(_entry_id(sink_dir, n))
        elif n.startswith(".compact-") and n.endswith(".tmp"):
            tmps.append(n)
    live = sorted(b for b in batches if b > hw)
    superseded = sorted(b for b in batches if b <= hw)
    return hw, live, superseded, tmps


def has_batches(
    sink_dir: str, spark: Optional[SparkSession] = None
) -> bool:
    """True iff the sink holds any output — a compacted segment or at
    least one live ``batch=*`` partial. Pass ``spark`` to probe
    through the Hadoop FileSystem API (object-store sink dirs);
    without it the probe is driver-local."""
    hw, live, _superseded, _tmps = _layout(sink_dir, spark)
    return hw >= 0 or bool(live)


def write_batch(batch_df: DataFrame, batch_id: int, sink_dir: str) -> None:
    """Write one micro-batch's output as ``<sink_dir>/batch=<id>`` —
    executor-side parquet, overwrite-per-batch (replay-idempotent,
    including replays of batches an intervening compaction already
    folded: readers ignore partials at or below the high water)."""
    batch_df.write.mode("overwrite").parquet(f"{sink_dir}/batch={batch_id}")


def delivery(
    sink_dir: Optional[str],
    callback: Optional[Callable[[pd.DataFrame], None]],
) -> Callable[[DataFrame, int], None]:
    """The shared ``foreachBatch`` body: executor-side parquet into
    ``sink_dir`` and/or the driver-side pandas ``callback``. At least
    one must be given. When both are active the batch output is
    persisted across the two actions so the stateful plan is not
    re-executed against the state store within the epoch."""
    if sink_dir is None and callback is None:
        raise ValueError(
            "no delivery path: pass sink_dir (executor-side parquet — the "
            "scale path) and/or a callback (driver-side pandas — the "
            "small-result/test path)"
        )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        both = sink_dir is not None and callback is not None
        if both:
            batch_df.persist()
        try:
            if sink_dir is not None:
                write_batch(batch_df, batch_id, sink_dir)
            if callback is not None:
                pdf = batch_df.toPandas()
                if len(pdf):
                    callback(pdf)
        finally:
            if both:
                batch_df.unpersist()

    return on_batch


def read_batch_sink(
    spark: SparkSession, sink_dir: str, schema: str
) -> DataFrame:
    """The keeper set: the authoritative ``compacted=<hw>`` segment
    (if any) plus every LIVE ``batch=*`` partial (id > hw — partials
    at or below the high water are crash-replay leftovers already
    folded into the segment, and are ignored). Data columns are
    normalized to the declared ``schema``'s names/order. A sink that
    never produced a batch is a valid EMPTY result with the declared
    ``schema``, not a parquet schema-inference error."""
    hw, live, _superseded, _tmps = _layout(sink_dir, spark)
    cols = spark.createDataFrame([], schema).columns
    parts = []
    if hw >= 0:
        parts.append(
            spark.read.parquet(f"{sink_dir}/compacted={hw}").select(*cols)
        )
    if live:
        parts.append(
            spark.read.parquet(
                *[f"{sink_dir}/batch={b}" for b in live]
            ).select(*cols)
        )
    if not parts:
        return spark.createDataFrame([], schema)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def read_sink_manifest(
    spark: SparkSession, sink_dir: str
) -> Optional[dict]:
    """The current compacted segment's audit manifest (None before
    the first compaction): ``high_water``, the batch ids the last
    compaction folded, and the previous high water."""
    hw, _live, _superseded, _tmps = _layout(sink_dir, spark)
    if hw < 0:
        return None
    fs, jpath = _fs(spark, sink_dir)
    p = jpath(f"{sink_dir}/compacted={hw}/{_MANIFEST}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # one bulk read (commons-io ships with Spark) — not the
        # one-py4j-round-trip-per-byte loop this replaced
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def compact_sink(
    spark: SparkSession,
    sink_dir: str,
    upto_batch: Optional[int] = None,
    reduce_fn: Optional[Callable[[DataFrame], DataFrame]] = None,
    require_commit_marker: bool = True,
) -> int:
    """Fold the live ``batch=*`` partials (ids ≤ ``upto_batch``;
    default all COMMITTED ones) together with the previous compacted
    segment into one new ``compacted=<new_hw>`` segment, then sweep
    everything it supersedes. Returns the number of partials folded.

    **In-flight batches are never folded.** A partial is committed
    iff its ``_SUCCESS`` marker exists (the Hadoop committer writes
    it last); one the live stream is writing at this instant has no
    marker yet, and folding it would read torn data AND raise the
    high water past a batch whose completed write readers would then
    ignore — silent loss. The fold takes the longest COMMITTED PREFIX
    of the live ids (never skipping past an uncommitted batch, so the
    high water can't leapfrog in-flight work), which also makes the
    default safe to run concurrently with the live stream — the same
    no-torn-reads guarantee margaret's mutex-serialized writer gives
    (reference: offset2/log.go:431). Set
    ``require_commit_marker=False`` only on clusters that disable
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs`` — there the
    caller must bound ``upto_batch`` below the in-flight id.

    ``reduce_fn`` (optional) shrinks the segment under the sink's own
    read semantics — it must satisfy
    ``read(reduce(rows)) ≡ read(rows)``: the latest-index reduction
    for update sinks, the sketch merge for CMS/Bloom/HLL/histogram
    sinks, None for append-semantics keeper sinks (a pure physical
    fold).

    Crash-safe at every instant, by construction:

    - the new segment is written to a hidden ``.compact-*.tmp`` and
      published with ONE rename — a crash before it leaves only a tmp
      (ignored by readers, swept by the next run);
    - a crash between publish and sweep leaves the old segment and
      folded partials visible, but readers take the HIGHEST
      ``compacted=`` segment and ignore partials ≤ its high water, so
      they still read exactly the keeper set;
    - a batch ≤ high-water replayed by a restarted stream rewrites
      its partition; readers ignore it (supersede rule) and the next
      compaction sweeps it — replay stays a no-op.

    Run ONE compactor per sink (see the module note on
    non-atomic-rename object stores)."""
    hw, live, superseded, tmps = _layout(sink_dir, spark)
    fs, jpath = _fs(spark, sink_dir)
    for n in tmps:
        fs.delete(jpath(f"{sink_dir}/{n}"), True)
    fold: list[int] = []
    for b in live:
        if upto_batch is not None and b > upto_batch:
            break
        if require_commit_marker and not fs.exists(
            jpath(f"{sink_dir}/batch={b}/_SUCCESS")
        ):
            break  # committed-prefix rule: never leapfrog in-flight work
        fold.append(b)
    new_hw = hw
    if fold:
        new_hw = max(fold)
        parts = []
        if hw >= 0:
            parts.append(spark.read.parquet(f"{sink_dir}/compacted={hw}"))
        parts.append(
            spark.read.parquet(*[f"{sink_dir}/batch={b}" for b in fold])
        )
        seg = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        if reduce_fn is not None:
            seg = reduce_fn(seg)
        tmp = f"{sink_dir}/.compact-{new_hw}.tmp"
        seg.write.mode("overwrite").parquet(tmp)
        manifest = json.dumps(
            {
                "high_water": new_hw,
                "folded_batches": fold,
                "previous_high_water": hw,
            }
        ).encode("utf-8")
        out = fs.create(jpath(f"{tmp}/{_MANIFEST}"), True)
        try:
            out.write(bytearray(manifest))
        finally:
            out.close()
        dst = jpath(f"{sink_dir}/compacted={new_hw}")
        if not fs.rename(jpath(tmp), dst):
            raise IOError(
                f"compact_sink: publish rename failed for {sink_dir} "
                f"(compacted={new_hw})"
            )
    # sweep superseded inputs: the folded partials, any crash-replay
    # leftovers at or below the (possibly unchanged) high water, and
    # pre-existing older segments
    for b in set(fold) | set(superseded):
        fs.delete(jpath(f"{sink_dir}/batch={b}"), True)
    for n in _sink_entries(sink_dir, spark):
        if n.startswith("compacted=") and int(n.split("=", 1)[1]) < new_hw:
            fs.delete(jpath(f"{sink_dir}/{n}"), True)
    return len(fold)
