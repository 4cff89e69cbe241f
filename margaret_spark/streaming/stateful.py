"""Custom stateful streaming operators.

:func:`stream_latest_index` is margaret's ``SetterIndex`` (key →
latest value, ``indexes/index.go:27-46``) built as a true incremental
streaming operator: per-key state lives in Spark's state store across
micro-batches via ``applyInPandasWithState``, and each batch emits
ONLY the keys whose latest value changed — the streaming twin of the
batch ``latest_by_key`` reduction. The reference's observable cells
map to the update stream delivered to ``on_updates``.

Scale shape: state is partitioned by key across executors (the state
store shuffles once per micro-batch on the grouping key); no driver
state, no growing lineage — this is the applyInPandasWithState path
the engine reserves for semantics Spark's built-in aggregations can't
express (emit-only-changes with arbitrary per-key payloads).

Output delivery: every operator here takes BOTH an optional
driver-side pandas callback (the small-result/test path) and an
optional ``sink_dir`` (the scale path — each micro-batch's keeper
rows land executor-side as a ``batch=<id>`` parquet partition,
replay-idempotent; see ``streaming/sinks.py``). At 100 TB the keeper
stream of e.g. :func:`stream_dedup_exact` is one row per unique
document ever ingested — that volume must never funnel through a
driver ``toPandas()``, so production wiring passes ``sink_dir`` and
reads the keeper set back with :func:`read_keeper_sink` /
:func:`read_latest_index_sink`.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from margaret_spark.log import OffsetLog
from margaret_spark.streaming.sinks import (
    delivery,
    read_batch_sink,
    start_stream,
)


def _with_state_ttl(fn, state_ttl: str | int | None, available_now: bool):
    """(state function, ``GroupStateTimeout``) for an operator whose
    idle keys may be evicted after ``state_ttl``. Without a TTL the
    function is returned as is with no timeout. With one, the wrapper
    re-arms the processing-time timeout after every call that leaves
    state behind, so a key is evicted only once it has been idle for
    ``state_ttl``; ``fn`` itself handles ``state.hasTimedOut``.

    A TTL needs the continuous trigger: under ``availableNow`` Spark
    keeps scheduling batches while processing-time timeouts are
    armed, so the drain never terminates (measured, not just
    theoretical). The combination is rejected here, before anything
    is built."""
    if state_ttl is None:
        return fn, GroupStateTimeout.NoTimeout
    if available_now:
        raise ValueError(
            "state_ttl needs a continuous trigger: pass available_now=False "
            "(an availableNow drain never terminates while timeouts are armed)"
        )

    def armed(key, pdfs, state):
        yield from fn(key, pdfs, state)
        if not state.hasTimedOut and state.exists:
            state.setTimeoutDuration(state_ttl)

    return armed, GroupStateTimeout.ProcessingTimeTimeout


def _latest_func(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    best_seq, best_val = state.get if state.exists else (-1, None)
    changed = False
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        i = pdf["seq"].idxmax()
        seq = int(pdf["seq"][i])
        if seq > best_seq:
            best_seq, best_val = seq, pdf["__v"][i]
            changed = True
    if changed:
        state.update((best_seq, best_val))
        yield pd.DataFrame(
            {"addr": [key[0]], "upd_seq": [best_seq], "value": [best_val]}
        )


def stream_latest_index(
    log: OffsetLog,
    key_expr,
    on_updates: Optional[Callable[[pd.DataFrame], None]] = None,
    checkpoint_dir: str = None,
    value_expr=None,
    available_now: bool = True,
    sink_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Run the streaming SetterIndex over a log's append stream.

    ``key_expr`` / ``value_expr`` are Column expressions over the log
    schema producing the index addr (cast to string) and the stored
    value (cast to string; the reference stores codec-opaque blobs —
    stringly state keeps the state schema fixed). Each micro-batch
    emits (addr, upd_seq, value) rows for only the keys that changed,
    delivered executor-side into ``sink_dir`` (scale path — UPDATE
    semantics, so read back with :func:`read_latest_index_sink`)
    and/or to the driver-side ``on_updates`` pandas callback.

    Returns None after catch-up when ``available_now``, else the
    running StreamingQuery. ``max_files_per_trigger`` bounds catch-up
    batch size.
    """
    src = log.stream_df(max_files_per_trigger)
    if value_expr is None:
        value_expr = F.col("value")
    keyed = src.select(
        key_expr.cast("string").alias("addr"),
        F.col("seq"),
        value_expr.cast("string").alias("__v"),
    )
    out = keyed.groupBy("addr").applyInPandasWithState(
        _latest_func,
        outputStructType="addr string, upd_seq long, value string",
        stateStructType="upd_seq long, value string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = (
        out.writeStream.foreachBatch(delivery(sink_dir, on_updates))
        .outputMode("update")
    )
    return start_stream(w, checkpoint_dir, available_now)


def latest_index_reduce(df: DataFrame) -> DataFrame:
    """The latest-index fold: keep the newest emission per addr —
    ``upd_seq`` strictly increases across a key's emissions, so
    max_by is exact. The read-side reduction AND the
    ``sinks.compact_sink`` reducer for this sink's UPDATE semantics
    (idempotent: reducing a reduced segment changes nothing)."""
    return df.groupBy("addr").agg(
        F.max("upd_seq").alias("upd_seq"),
        F.max_by("value", "upd_seq").alias("value"),
    )


def read_latest_index_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The CURRENT index from a :func:`stream_latest_index` sink:
    batch partials carry update semantics (a key re-emits whenever its
    value changes), so the reduction keeps the newest emission per
    addr. One keyed aggregation over the compacted segment plus live
    keeper rows only."""
    return latest_index_reduce(
        read_batch_sink(
            spark, sink_dir, "addr string, upd_seq long, value string"
        )
    )


def read_keeper_sink(
    spark: SparkSession, sink_dir: str, schema: str
) -> DataFrame:
    """The keeper set of an append-semantics stateful sink (dedup
    keepers, budget admissions, as-of matches, LSH candidates): plain
    union of the batch partials — each logical row was emitted exactly
    once, and crash-replayed batches overwrote their own partition.
    ``schema`` supplies the typed empty result for a sink that never
    produced a batch."""
    return read_batch_sink(spark, sink_dir, schema)


def _first_seen_func(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = state.exists
    best_seq = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        i = pdf["seq"].idxmin()
        seq = int(pdf["seq"][i])
        if best_seq is None or seq < best_seq:
            best_seq = seq
    if best_seq is None or seen:
        return
    state.update((best_seq,))
    yield pd.DataFrame({"content_hash": [key[0]], "keep_seq": [best_seq]})


def _window_dedup_func_factory(ttl_seqs: int):
    def _window_dedup_func(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past the physical TTL: evict — the key re-admits on
            # its next arrival, exactly what the logical horizon rule
            # would decide anyway (see stream_dedup_window's contract)
            state.remove()
            return
        seqs = sorted(int(s) for pdf in pdfs for s in pdf["seq"])
        if not seqs:
            return
        last = state.get[0] if state.exists else None
        keeps = []
        for s in seqs:
            if last is None or s - last > ttl_seqs:
                keeps.append(s)
            last = s
        state.update((last,))
        if keeps:
            yield pd.DataFrame(
                {"content_hash": [key[0]] * len(keeps), "keep_seq": keeps}
            )

    return _window_dedup_func


def stream_dedup_window(
    log: OffsetLog,
    content_expr,
    on_keepers: Optional[Callable[[pd.DataFrame], None]] = None,
    checkpoint_dir: str = None,
    ttl_seqs: int = 10_000,
    state_ttl: str | int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    sink_dir: str | None = None,
):
    """Bounded-horizon streaming dedup: a re-arrival is suppressed only
    while the SAME content was last seen within the trailing
    ``ttl_seqs`` log entries; content idle longer than the horizon is
    re-admitted as a fresh keeper. The bounded-state variant of
    :func:`stream_dedup_exact` — per-key state is ONE long (the last
    seen seq) regardless of history length, and the decision rule is a
    pure function of per-content seq gaps:

        keep(s)  ⇔  no prior occurrence s' of the content with
                    s − s' ≤ ttl_seqs

    which a SQL oracle states as one ``lag`` window (``prev IS NULL OR
    seq − prev > ttl_seqs``) — so unlike time-based TTLs the semantics
    are engine-reproducible and hash-exact.

    ``state_ttl`` (e.g. ``"1 hour"``) additionally arms a
    processing-time timeout that physically EVICTS idle keys from the
    state store, bounding total state by the number of distinct
    contents seen within the window rather than ever. Eviction is
    semantically safe whenever the timeout is long enough that
    ``ttl_seqs`` newer entries have passed before it fires: a
    timed-out key behaves as never-seen, which is exactly what the
    seq-horizon rule concludes for content that old.

    Entries are processed in seq order within each micro-batch; across
    batches the file source delivers appends in publication order
    (append order == seq order), the same ordering contract the other
    log-draining streams rely on.

    ``state_ttl`` requires the CONTINUOUS trigger (``available_now=
    False``): under ``availableNow`` Spark keeps scheduling batches
    while armed processing-time timeouts exist, so the drain never
    terminates (measured, not just theoretical) — the combination is
    rejected up front.

    Keeper delivery: ``sink_dir`` (executor-side parquet, the scale
    path — read back with :func:`read_keeper_sink`) and/or the
    ``on_keepers`` pandas callback."""
    if ttl_seqs < 1:
        raise ValueError(f"ttl_seqs must be >= 1: {ttl_seqs}")
    fn, timeout = _with_state_ttl(
        _window_dedup_func_factory(ttl_seqs), state_ttl, available_now
    )
    # max_files_per_trigger bounds catch-up batch size (a restart over
    # a long backlog should replay in bounded micro-batches, not one)
    src = log.stream_df(max_files_per_trigger)
    keyed = src.select(
        F.sha2(content_expr.cast("string"), 256).alias("content_hash"), F.col("seq")
    )
    out = keyed.groupBy("content_hash").applyInPandasWithState(
        fn,
        outputStructType="content_hash string, keep_seq long",
        stateStructType="last_seq long",
        outputMode="update",
        timeoutConf=timeout,
    )
    w = (
        out.writeStream.foreachBatch(delivery(sink_dir, on_keepers))
        .outputMode("update")
    )
    return start_stream(w, checkpoint_dir, available_now)


def _budget_func_factory(budget: int):
    def _budget_func(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        used = int(state.get[0]) if state.exists else 0
        rows = [
            (int(s), int(t))
            for pdf in pdfs
            for s, t in zip(pdf["seq"], pdf["n_tokens"])
        ]
        if not rows:
            return
        rows.sort()
        seqs, toks, cums = [], [], []
        for s, t in rows:
            if used < budget:
                seqs.append(s)
                toks.append(t)
                cums.append(used + t)
            used += t
        state.update((used,))
        if seqs:
            yield pd.DataFrame(
                {
                    "stratum": [key[0]] * len(seqs),
                    "seq": seqs,
                    "n_tokens": toks,
                    "cum_tokens": cums,
                }
            )

    return _budget_func


def stream_token_budget(
    stream: DataFrame,
    budget: int,
    checkpoint_dir: str,
    on_kept: Optional[Callable[[pd.DataFrame], None]] = None,
    available_now: bool = True,
    sink_dir: str | None = None,
):
    """At-ingest token-budget gating: per stratum (source), admit
    documents in arrival (seq) order until the stratum's cumulative
    token count reaches ``budget``, then stop — the streaming twin of
    ``sampling.token_budget_sample`` with the ordering a live ingest
    actually has (seq order, where the batch operator's reproducible
    order is (md5(id), id)). The kept set is the maximal prefix whose
    tokens-before-it stay under budget: the budget may be exceeded by
    at most one document per stratum, never undershot while documents
    remain — a SQL oracle states the whole thing as one per-stratum
    window cumsum.

    ``stream``: streaming DataFrame with columns ``stratum string,
    seq long, n_tokens long`` (compute counts upstream with a codegen
    expression or ``operators.bpe.bpe_token_count``'s UDF). Per-key
    state is ONE long (tokens used) forever — an exhausted stratum
    costs 8 bytes and drops every later arrival without touching
    state size. One state-store shuffle per micro-batch on the
    stratum key.

    The admitted set is the whole training corpus's key set — at
    scale deliver it via ``sink_dir`` (executor-side parquet; read
    back with :func:`read_keeper_sink`), keeping ``on_kept`` for
    tests/small results."""
    if budget < 0:
        raise ValueError(f"budget must be non-negative: {budget}")
    out = stream.groupBy("stratum").applyInPandasWithState(
        _budget_func_factory(int(budget)),
        outputStructType=(
            "stratum string, seq long, n_tokens long, cum_tokens long"
        ),
        stateStructType="used long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = (
        out.writeStream.foreachBatch(delivery(sink_dir, on_kept))
        .outputMode("append")
    )
    return start_stream(w, checkpoint_dir, available_now)


def _band_collision_func(
    key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # idle bucket evicted: the next arrival re-claims it fresh —
        # a near-dup against an evicted claimant is missed, the
        # documented recall trade of bounding LSH state by time
        state.remove()
        return
    keep = state.get[0] if state.exists else None
    seqs: list[int] = []
    for pdf in pdfs:
        seqs.extend(int(s) for s in pdf["seq"])
    if not seqs:
        return
    seqs.sort()
    dups = []
    for s in seqs:
        if keep is None:
            keep = s  # first arrival claims the bucket, emits nothing
        elif s != keep:
            dups.append(s)
    state.update((keep,))
    if dups:
        yield pd.DataFrame(
            {
                "dup_seq": dups,
                "band": [int(key[0])] * len(dups),
                "keep_seq": [keep] * len(dups),
            }
        )


def stream_dedup_minhash(
    log: OffsetLog,
    text_expr,
    on_candidates: Optional[Callable[[pd.DataFrame], None]] = None,
    checkpoint_dir: str = None,
    num_hashes: int = 32,
    bands: int = 8,
    mode: str = "word",
    n: int = 3,
    available_now: bool = True,
    sink_dir: str | None = None,
    state_ttl: str | int | None = None,
):
    """Streaming MinHash-LSH near-dup detection over a log's append
    stream: each arriving document's band buckets are matched against
    every bucket ever claimed (state store keyed by (band, bucket)); a
    collision emits a candidate (dup_seq, band, keep_seq) pointing at
    the earliest claimant. The streaming twin of
    ``operators.dedup.minhash_dedup_pairs``'s candidate stage — the
    same shingle → xxhash64 → per-permutation min → banded-bucket
    pipeline, computed per-row (``array_min`` over the shingle hashes,
    no aggregation), so stream and batch agree on buckets exactly.

    Candidates are unverified (LSH false positives pass); verify
    downstream against exact Jaccard as the batch operator does. A doc
    colliding in several bands emits once per band — dedupe on
    ``dup_seq`` if you only need the verdict. State is one long per
    claimed (band, bucket): O(distinct buckets), partitioned across
    executors, never the documents themselves. On a CONTINUOUS run
    distinct buckets still grow with distinct content — ``state_ttl``
    (e.g. ``"6 hours"``) arms a processing-time timeout that evicts
    idle buckets, bounding state by the buckets active within the
    window; the trade (documented, same as the bounded-horizon dedup)
    is that a near-dup arriving after its claimant's eviction
    re-claims the bucket instead of colliding. Like
    :func:`stream_dedup_window`, ``state_ttl`` requires the
    continuous trigger (``available_now=False``) — an availableNow
    drain never terminates while timeouts are armed. Candidate
    delivery: ``sink_dir`` (executor-side parquet — the scale path;
    read back with :func:`read_keeper_sink`) and/or
    ``on_candidates``."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes: bands={bands}, num_hashes={num_hashes}"
        )
    fn, timeout = _with_state_ttl(
        _band_collision_func, state_ttl, available_now
    )
    from margaret_spark.functions.shingling import char_shingles, word_shingles
    from margaret_spark.functions.xxh import with_minhash_sigs

    rows_per_band = num_hashes // bands
    sh = char_shingles(text_expr, n=n) if mode == "char" else word_shingles(
        text_expr, n=n
    )
    src = log.stream_df().withColumn("__h", F.transform(sh, lambda s: F.xxhash64(s)))
    src = src.where(F.size("__h") > 0)
    # per-permutation mins via the vectorized numpy kernel
    # (functions/xxh.py — bit-exact twin of the xxhash64 fold, pinned
    # by test_minhash_sigs_kernel_matches_jvm): the JVM form ran
    # num_hashes interpreted transform+array_min folds PER ROW (HOFs
    # do not codegen) and re-hashed every element once per
    # permutation; the kernel hashes each element once and folds the
    # seeds over whole Arrow batches. Only (seq, __h) cross the Python
    # boundary.
    src = with_minhash_sigs(
        src.select("seq", "__h"), "__h", "__sig", num_hashes
    )
    band_hashes = [
        F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.col("__sig")[i].cast("string")
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            )
        )
        for b in range(bands)
    ]
    # the band array must be a plain column before the explode — a
    # generator expression cannot host the Python-evaluated __sig
    banded = src.withColumn("__bands", F.array(*band_hashes)).select(
        F.col("seq"), F.posexplode("__bands").alias("band", "bucket")
    )
    out = banded.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType="dup_seq long, band int, keep_seq long",
        stateStructType="keep_seq long",
        outputMode="update",
        timeoutConf=timeout,
    )
    w = (
        out.writeStream.foreachBatch(delivery(sink_dir, on_candidates))
        .outputMode("update")
    )
    return start_stream(w, checkpoint_dir, available_now)


def stream_dedup_exact(
    log: OffsetLog,
    content_expr,
    on_keepers: Optional[Callable[[pd.DataFrame], None]] = None,
    checkpoint_dir: str = None,
    available_now: bool = True,
    sink_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming exact deduplication over a log's append stream: the
    state store remembers every content hash ever seen; each
    micro-batch emits only FIRST-SEEN entries (smallest seq wins
    within a batch, earlier batches win across batches — arrival
    order, like the log). The streaming twin of
    ``operators.dedup.exact_dedup``: a training-data ingest keeps one
    copy of each document no matter how often it re-arrives, with
    exactly-once resume from the checkpoint.

    ``content_expr`` is a Column over the log schema (e.g. the
    document text); it is hashed engine-side (sha2-256) so the state
    key and shuffle carry 64 hex chars, never the content.

    The keeper stream is one row per UNIQUE document ever ingested —
    billions at 100 TB — so the scale delivery is ``sink_dir``
    (executor-side parquet partitions, read back with
    :func:`read_keeper_sink`); the ``on_keepers`` pandas callback
    (one DataFrame per micro-batch) stays as the small-result/test
    path. ``max_files_per_trigger`` bounds catch-up batch size (a
    restart over a long backlog replays in bounded micro-batches)."""
    src = log.stream_df(max_files_per_trigger)
    keyed = src.select(
        F.sha2(content_expr.cast("string"), 256).alias("content_hash"), F.col("seq")
    )
    out = keyed.groupBy("content_hash").applyInPandasWithState(
        _first_seen_func,
        outputStructType="content_hash string, keep_seq long",
        stateStructType="keep_seq long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = (
        out.writeStream.foreachBatch(delivery(sink_dir, on_keepers))
        .outputMode("update")
    )
    return start_stream(w, checkpoint_dir, available_now)


def _asof_func_factory(history_horizon: int | None):
    def _asof_func(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import bisect

        rights, max_left = (
            (list(state.get[0]), state.get[1]) if state.exists else ([], None)
        )
        lefts: list[int] = []
        new_rights: list[int] = []
        for pdf in pdfs:
            for ts, side in zip(pdf["tsu"], pdf["side"]):
                (lefts if side == "L" else new_rights).append(int(ts))
        changed = False
        if new_rights:
            # state is stored sorted: insort the (typically few)
            # arrivals instead of re-sorting the whole history
            for t in sorted(new_rights):
                bisect.insort(rights, t)
            changed = True
        matched = []
        if lefts:
            for t in lefts:
                i = bisect.bisect_right(rights, t)
                matched.append(rights[i - 1] if i else None)
            hi = max(lefts)
            if max_left is None or hi > max_left:
                max_left = hi
                changed = True
        if history_horizon is not None and max_left is not None:
            # prune rights older than (newest left − horizon), KEEPING
            # the single greatest right at-or-below the floor — it is
            # the valid match for any future left down to the floor,
            # so pruning is exact for lefts at most `horizon` late
            floor = max_left - history_horizon
            cut = bisect.bisect_right(rights, floor)
            if cut > 1:
                del rights[: cut - 1]
                changed = True
        if changed:
            state.update((rights, max_left))
        if lefts:
            yield pd.DataFrame(
                {
                    "k": pd.Series([key[0]] * len(lefts), dtype="Int64"),
                    "tsu": pd.Series(lefts, dtype="Int64"),
                    "tsu_matched": pd.Series(matched, dtype="Int64"),
                }
            )

    return _asof_func


def stream_asof_join(
    tagged: DataFrame,
    checkpoint_dir: str,
    on_rows: Optional[Callable[[pd.DataFrame], None]] = None,
    available_now: bool = True,
    sink_dir: str | None = None,
    history_horizon: int | None = None,
):
    """Streaming AS-OF join as a custom stateful operator
    (``applyInPandasWithState``) — the semantics Spark's built-in
    stream-stream joins can't express (they need equality or interval
    conditions; as-of wants "most recent at-or-before").

    ``tagged`` is a streaming DataFrame with columns
    ``k long, side string, tsu long``: the union of the left stream
    (side 'L' — rows to enrich) and the right stream (side 'R' — the
    reference timeline). Per key, the state store holds the right
    side's sorted timestamp history; each micro-batch emits one row
    per left event: (k, tsu, tsu_matched) where ``tsu_matched`` is
    the greatest right tsu ≤ tsu, or NULL.

    Scale shape: ONE state-store shuffle per micro-batch on the key;
    state is the per-key right-side history. On a CONTINUOUS run that
    history grows forever unless pruned — pass ``history_horizon`` (in
    tsu units: the maximum lateness a left event may have relative to
    the newest left seen on its key) and the state keeps only rights
    newer than ``newest_left − horizon`` plus the single greatest
    right at-or-below that floor (the valid match for any future
    in-horizon left): state becomes O(rights within the horizon) per
    key, and results are EXACT for every left at most ``horizon``
    late — the same contract a watermark gives built-in stream-stream
    joins. A left later than the horizon degrades gracefully: it can
    match only retained rights (the floor right when at-or-before it,
    else NULL — never a right later than the left, never an error).
    Cross-batch caveat: a
    left row in an EARLIER micro-batch than its matching right row
    matches only what has arrived — the same arrival-order contract
    as any stream-stream join without a lateness allowance.

    Output delivery: one row per LEFT event, so at scale pass
    ``sink_dir`` (executor-side parquet; read back with
    :func:`read_keeper_sink`) — ``on_rows`` remains the
    small-result/test path."""
    if history_horizon is not None and history_horizon < 0:
        raise ValueError(f"history_horizon must be >= 0: {history_horizon}")
    out = tagged.groupBy("k").applyInPandasWithState(
        _asof_func_factory(history_horizon),
        outputStructType="k long, tsu long, tsu_matched long",
        stateStructType="rights array<long>, max_left long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = (
        out.writeStream.foreachBatch(delivery(sink_dir, on_rows))
        .outputMode("append")
    )
    return start_stream(w, checkpoint_dir, available_now)


def _topk_func_factory(k: int):
    """Per-key bounded top-k merge. State = the current top-k as two
    parallel arrays (scores, items) sorted by (score desc, item asc);
    each batch merges its arrivals with ``heapq.nsmallest`` (O(batch ·
    log k), never materializing more than batch+k tuples) and emits
    the key's FULL refreshed top-k only when it changed. Incremental
    top-k under a total order is exact: merging per-batch maxima is
    associative, so the final state equals the batch operator's answer
    regardless of how the stream was micro-batched."""

    def _topk_func(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import heapq
        import math

        cur = (
            list(zip(state.get[0], state.get[1])) if state.exists else []
        )  # [(score, item)] already sorted by (-score, item)
        merged = list(cur)
        for pdf in pdfs:
            for s, i in zip(pdf["score"], pdf["item"]):
                s = float(s)
                if not math.isnan(s):  # NaN has no rank under a total order
                    merged.append((s, int(i)))
        top = heapq.nsmallest(k, merged, key=lambda t: (-t[0], t[1]))
        if top != cur:
            state.update(([s for s, _ in top], [i for _, i in top]))
            yield pd.DataFrame(
                {
                    "k": pd.Series([key[0]] * len(top), dtype="object"),
                    "item": pd.Series([i for _, i in top], dtype="Int64"),
                    "score": pd.Series([s for s, _ in top], dtype="float64"),
                    "rank": pd.Series(range(1, len(top) + 1), dtype="Int32"),
                }
            )

    return _topk_func


def stream_topk(
    stream: DataFrame,
    k: int,
    checkpoint_dir: str,
    on_batch_df: Callable[[DataFrame, int], None],
    available_now: bool = True,
):
    """Streaming per-key top-k as a custom stateful operator — the
    windowed-retrieval primitive (leaderboards, per-partition hot-item
    tracking) that built-in streaming aggregations can't express
    (arbitrary-k ranked state with replace-on-update emission).

    ``stream``: streaming DataFrame with columns ``k string, item
    long, score double``. Per key the state store holds a BOUNDED
    heap — exactly k (score, item) entries, so state size is
    O(keys · k) forever, independent of stream length. Each
    micro-batch emits the refreshed full top-k for keys that changed
    (update semantics); a consumer keeps the latest emission per key.
    Ties break on the smaller item id, giving a total order whose
    result is hash-identical to the batch window
    ``row_number() OVER (PARTITION BY k ORDER BY score DESC, item)``.

    ``on_batch_df`` receives each micro-batch OUTPUT as a DataFrame
    (executor-side rows; sink it distributed — e.g. append to parquet
    with the batch id — rather than collecting).

    Scale shape: one state-store shuffle per micro-batch on the key;
    no driver state; emission is at most keys·k rows per batch."""
    out = stream.groupBy("k").applyInPandasWithState(
        _topk_func_factory(k),
        outputStructType="k string, item long, score double, rank int",
        stateStructType="scores array<double>, items array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = out.writeStream.foreachBatch(on_batch_df).outputMode("update")
    return start_stream(w, checkpoint_dir, available_now)
