"""Distributed dense sequence assignment.

The reference gets gap-free seqs for free from its single-writer mutex
(``offset2/log.go:425-462``). Spark has no gap-free auto-increment:
``monotonically_increasing_id`` leaves gaps, and a global
``row_number()`` window collapses everything onto one partition — a
non-starter at 100 TB. We use the standard two-pass partition-offset
technique instead:

1. derive (partition id, in-partition position) from
   ``monotonically_increasing_id``'s bit layout — NARROW: no window,
   no exchange (a ``row_number() OVER (PARTITION BY
   spark_partition_id())`` window would hash-shuffle the whole
   payload, since Spark has no partitioning guarantee matching that
   expression);
2. collect the tiny per-partition counts to the driver (the only
   shuffle is the map-side-combined count aggregation — counts, not
   payload);
3. add the cumulative offset per partition (broadcast map join).

Cost: one extra count-per-partition job over the data; no shuffle of
the payload at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# monotonically_increasing_id layout: partition id in the upper 31
# bits, consecutive-from-0 record number in the lower 33
_MID_RECORD_BITS = 33
_MID_RECORD_MASK = (1 << _MID_RECORD_BITS) - 1

#: Above this many partitions the offset map is broadcast-joined
#: instead of inlined as a create_map literal (see with_dense_seq).
_MAP_LITERAL_CAP = 4096

#: per-(application, n) hash-inversion tables for _bucket_exchange —
#: pure Murmur3 preimages, data-independent (see the no-sampling note
#: there); bounded: one dict of n ints per distinct partition count.
_HASH_INV_CACHE: dict[tuple[str, int], dict[int, int]] = {}

#: the built create_map literal Column per (application, n): Columns
#: are immutable expression fragments, so one build serves every
#: _bucket_exchange of the session — rebuilding it cost 2·n py4j
#: round trips per exchange (r12: measured ~0.5 ms each; the suffix
#: loop paid it five times per query).
_HASH_INV_COL_CACHE: dict[tuple[str, int], Column] = {}


def _bucket_exchange(df: DataFrame, n: int, bucket: Column) -> DataFrame:
    """Order-preserving exchange WITHOUT the range partitioner's
    sampling pass: route rows so that bucket value b ∈ [0, n) lands
    exactly in partition b.

    ``repartitionByRange`` must first RUN THE UPSTREAM once more to
    sample key boundaries — a full extra pass per exchange. When the
    caller can compute an order-respecting bucket arithmetically
    (monotone non-decreasing in key order, equal keys share a bucket —
    e.g. ``floor((rank-1)·n / n_keys)`` over a dense integer rank of
    known cardinality), that pass is pure waste. Hash partitioning
    needs no sampling but scrambles order — unless each bucket is
    first mapped through a Murmur3 PREIMAGE chosen so that
    ``pmod(hash(x_b), n) == b``. The preimage table depends only on
    (hash function, n) — never on the data — and is found once per
    session with one tiny ``spark.range`` job, then inlined as a
    create_map literal (n entries; partition counts at this exchange
    are O(cores), not O(input files)).

    The bucket column must be monotone non-decreasing in the intended
    sort order with equal sort keys sharing a bucket; downstream may
    then rely on partition id order == key order, exactly as after
    ``repartitionByRange``. Skew note: arithmetic buckets split the
    KEY range evenly, not the row mass — a hot key's rows share its
    bucket either way (neither partitioner splits equal keys), but
    sampling would have isolated the hot key; callers own that
    trade-off."""
    spark = df.sparkSession
    key = (spark.sparkContext.applicationId, n)
    inv = _HASH_INV_CACHE.get(key)
    if inv is None:
        m = 64 * n
        while True:
            rows = (
                spark.range(0, m)
                .select(
                    F.pmod(F.hash(F.col("id")), F.lit(n)).alias("b"),
                    F.col("id"),
                )
                .groupBy("b")
                .agg(F.min("id").alias("x"))
                .collect()
            )
            inv = {int(r["b"]): int(r["x"]) for r in rows}
            if len(inv) == n:
                break
            m *= 2  # P(miss) per bucket ≈ e^-64 at the first size
        _HASH_INV_CACHE[key] = inv
    # values must be LONGS: Murmur3 hashes int and long differently,
    # and the preimages were found under long hashing (spark.range)
    mapping = _HASH_INV_COL_CACHE.get(key)
    if mapping is None:
        mapping = F.create_map(
            *[
                c
                for b in range(n)
                for c in (F.lit(b), F.lit(inv[b]).cast("long"))
            ]
        )
        _HASH_INV_COL_CACHE[key] = mapping
    return df.repartition(n, mapping[bucket.cast("int")])


def with_dense_seq(
    df: DataFrame,
    seq_col: str = "seq",
    start: int = 0,
    order_within: Column | None = None,
) -> DataFrame:
    """Add a dense, gap-free ``seq_col`` starting at ``start``.

    Ordering is partition-major (partition 0's rows first, then
    partition 1's, ...); within a partition rows keep their physical
    order unless ``order_within`` is given (applied as a NARROW
    ``sortWithinPartitions`` — still no exchange). This matches a
    log's arrival-order semantics: the assignment is deterministic for
    a deterministic input plan.
    """
    return with_dense_seq_total(df, seq_col, start, order_within)[0]


def with_dense_seq_total(
    df: DataFrame,
    seq_col: str = "seq",
    start: int = 0,
    order_within: Column | None = None,
) -> tuple[DataFrame, int]:
    """:func:`with_dense_seq` plus the TOTAL row count, which the
    two-pass technique has already collected (the per-partition counts
    sum to it) — callers that need the cardinality (e.g. the suffix
    doubling loop's all-ranks-distinct convergence test) get it for
    zero extra jobs."""
    if order_within is not None:
        df = df.sortWithinPartitions(order_within)
    mid = F.monotonically_increasing_id()
    # Materialize before the counts collect: the counts job and the
    # final assignment must observe the SAME partition layout; without
    # the checkpoint a nondeterministic upstream (any shuffle re-order,
    # repartitionByRange boundary resampling) could move rows between
    # partitions across the two jobs and silently corrupt the seqs —
    # and the upstream would be computed twice besides.
    staged = (
        df.withColumn("__mid", mid)
        .withColumn(
            "__pid", F.shiftrightunsigned(F.col("__mid"), _MID_RECORD_BITS)
        )
        .withColumn(
            "__rank", F.col("__mid").bitwiseAND(F.lit(_MID_RECORD_MASK))
        )
        .drop("__mid")
        .localCheckpoint(eager=False)
    )
    counts = staged.groupBy("__pid").count().collect()
    offsets = {}
    acc = start
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["count"]
    total = acc - start
    if not offsets:
        return df.withColumn(seq_col, F.lit(None).cast("long")), 0
    if len(offsets) <= _MAP_LITERAL_CAP:
        mapping = F.create_map(
            *[F.lit(int(x)) for kv in offsets.items() for x in kv]
        )
        return (
            staged.withColumn(
                seq_col, (mapping[F.col("__pid")] + F.col("__rank")).cast("long")
            )
            .drop("__pid", "__rank")
        ), total
    # Past the cap a create_map literal is an expression-tree bomb
    # (a 100 TB input at 128 MB splits is ~800k partitions — 1.6M
    # literal nodes would choke analysis/codegen). Ship the offsets as
    # a broadcast-joined table instead: same values, narrow plan, one
    # tiny broadcast.
    spark = df.sparkSession
    odf = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid long, __off long",
        )
    )
    return (
        staged.withColumn("__pid", F.col("__pid").cast("long"))
        .join(odf, "__pid")
        .withColumn(seq_col, (F.col("__off") + F.col("__rank")).cast("long"))
        .drop("__pid", "__rank", "__off")
    ), total


def _run_scan_factory(
    keys: list[str],
    out_col: str,
    flag_col: str,
    class_relative: bool,
):
    """Generator factory for the sorted-partition run scan shared by
    :func:`with_class_rank_total` (class-relative first-index ranks)
    and :func:`with_first_index_rank_total` (partition-local run-start
    indices, offset-joined afterwards). A *run* is a maximal block of
    rows with equal ``keys``; runs never span partitions (both staging
    partitioners keep equal keys together). Per row the scan emits

    - ``out_col``: class-relative → ``class_value + (run_start −
      class_start)``; global → the 0-based partition row index of the
      run's first row (the caller adds the partition row offset);
    - ``flag_col``: True iff the row's run has ≥ 2 members (the class
      stays *unresolved* — the singleton-freezing signal).

    The flag needs one row of lookahead at batch boundaries: a run
    whose so-far length is 1 at the end of a batch defers exactly that
    one row (O(1) carry — the moment a second member arrives the whole
    run is flagged True and emitted eagerly; at generator end the
    deferred row flushes False).

    Keys must be non-null and non-NaN (NaN never equals itself, so a
    NaN class would split into singleton runs): the scan raises a
    ValueError naming the key columns."""

    def _scan(batches):
        import numpy as np
        import pandas as pd

        prev_key = None  # full key of the last row seen
        run_start = 0  # partition-global row idx of the open run's start
        class_start = 0  # same for the open class (class_relative only)
        row_base = 0  # rows seen before the current batch
        held = None  # deferred single-member open run (1-row pdf)
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            karr = pdf[keys].to_numpy()
            if pd.isna(karr).any():
                raise ValueError(f"run scan: null or NaN key in columns {keys}")
            idx = np.arange(m)
            chg = np.empty(m, dtype=bool)
            if m > 1:
                chg[1:] = (karr[1:] != karr[:-1]).any(axis=1)
            chg[0] = prev_key is None or bool((karr[0] != prev_key).any())
            rs = np.maximum.accumulate(np.where(chg, row_base + idx, -1))
            rs = np.where(rs >= 0, rs, run_start)
            # next run start strictly after i (batch-local, m = none):
            # suffix-min of (j if chg[j] else m) shifted left by one
            nxt = np.minimum.accumulate(
                np.append(np.where(chg, idx, m)[1:], m)[::-1]
            )[::-1]
            # exact global run length through this batch (for interior
            # runs it IS the run length; for the tail run it is the
            # length so far — ≥ 2 already proves the flag)
            sofar = (row_base + nxt) - rs
            out = pdf.copy()
            if class_relative:
                ccls = karr[:, 0].astype("int64")
                chg_c = np.empty(m, dtype=bool)
                if m > 1:
                    chg_c[1:] = ccls[1:] != ccls[:-1]
                chg_c[0] = prev_key is None or bool(
                    ccls[0] != prev_key[0]
                )
                cs = np.maximum.accumulate(
                    np.where(chg_c, row_base + idx, -1)
                )
                cs = np.where(cs >= 0, cs, class_start)
                out[out_col] = ccls + (rs - cs)
                class_start = int(cs[-1])
            else:
                out[out_col] = rs.astype("int64")
            out[flag_col] = sofar >= 2
            if held is not None:
                # the previous batch's open run held its single row:
                # a continuation (chg[0] False) proves ≥ 2 members
                held[flag_col] = bool(not chg[0])
                yield held
                held = None
            if (row_base + m) - int(rs[-1]) == 1:
                held = out.iloc[[m - 1]].copy()
                out = out.iloc[: m - 1]
            if len(out):
                yield out
            row_base += m
            prev_key = karr[-1].copy()
            run_start = int(rs[-1])
        if held is not None:
            held[flag_col] = False
            yield held

    return _scan


def with_class_rank_total(
    df: DataFrame,
    class_col: str,
    sub_cols: list[str],
    out_col: str,
    flag_col: str,
    bucket: Column | None = None,
    materialize: bool = True,
) -> tuple[DataFrame, int, int]:
    """Class-relative FIRST-INDEX rank refinement — the
    singleton-freezing step of prefix doubling (Larsson & Sadakane
    1999's rank convention, distributed). Input rows are the members
    of multi-member classes only; ``class_col`` holds each row's
    current first-index rank (rank = 1 + count of strictly smaller
    keys, over ALL rows including frozen ones), and the refined rank is

        ``out_col = class_col + |rows in the same class whose
        (sub_cols) sort strictly earlier|``

    computed as (run start index − class start index) after one keyed
    exchange + narrow in-partition sort. Because every member of a
    class shares ``class_col`` and the partitioner keeps equal keys in
    one partition, the computation is PARTITION-LOCAL: unlike
    :func:`with_dense_rank_total` there is no offsets collect — the
    one driver job is a global (count, flagged-count) aggregate, whose
    flagged count the caller's convergence test needs anyway.

    Correctness of the convention (the suffix loop's invariant): if
    every input rank equals 1 + |strictly smaller previous-level keys|
    over all rows, then out_col equals the same for the refined keys —
    frozen singleton rows keep their rank bit-for-bit forever, so only
    unresolved rows ever need re-ranking. ``flag_col`` marks rows
    whose refined class still has ≥ 2 members.

    Returns ``(ranked, n_flagged, n_rows)``."""
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    key_cols = [class_col] + list(sub_cols)
    if bucket is not None:
        staged = _bucket_exchange(df, n, bucket).sortWithinPartitions(
            *key_cols
        )
    else:
        # range-partition on the CLASS column only: the class-relative
        # offset needs every member of a class in one partition, and a
        # range boundary on the full key would split a class between
        # sub-key ranges
        staged = df.repartitionByRange(
            n, F.col(class_col)
        ).sortWithinPartitions(*key_cols)
    out_schema = T.StructType(
        list(staged.schema.fields)
        + [
            T.StructField(out_col, T.LongType(), False),
            T.StructField(flag_col, T.BooleanType(), False),
        ]
    )
    ranked = staged.mapInPandas(
        _run_scan_factory(key_cols, out_col, flag_col, True), out_schema
    )
    if not materialize:
        # the caller materializes downstream and reads the flagged
        # count off its own checkpoint (the suffix loop: its arrays
        # checkpoint is the round's single materialization anyway, and
        # a second lazy localCheckpoint here would pay a full JVM
        # planning pass per round — r12 measured ~0.4 s each)
        return ranked, -1, -1
    ranked = ranked.localCheckpoint(eager=False)
    stats = ranked.agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum(F.col(flag_col).cast("long")).alias("__f"),
    ).collect()[0]
    return ranked, int(stats["__f"] or 0), int(stats["__c"] or 0)


def with_first_index_rank_total(
    df: DataFrame,
    key_cols: list[str],
    out_col: str,
    flag_col: str,
    start: int = 1,
    bucket: Column | None = None,
) -> tuple[DataFrame, int, int]:
    """Global FIRST-INDEX ranks over every row: ``out_col = start +
    |rows with strictly smaller key_cols|`` (equal keys share the
    rank; ranks are the run-start row indices of the key-sorted row
    sequence — Larsson & Sadakane's convention, vs the DISTINCT-key
    ids of :func:`with_dense_rank_total`). ``flag_col`` is True iff
    the row's key occurs ≥ 2 times. Same staging and two-pass offset
    recipe as with_dense_rank_total, with offsets in ROW units; the
    flagged-row count comes back free from the same stats collect.

    Returns ``(ranked, n_flagged, n_rows)``."""
    spark = df.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 1)
    if bucket is not None:
        staged = (
            _bucket_exchange(df, n, bucket)
            .sortWithinPartitions(*key_cols)
            .withColumn("__pid", F.spark_partition_id())
        )
    else:
        staged = (
            df.repartitionByRange(n, *[F.col(c) for c in key_cols])
            .sortWithinPartitions(*key_cols)
            .withColumn("__pid", F.spark_partition_id())
        )
    out_schema = T.StructType(
        list(staged.schema.fields)
        + [
            T.StructField("__lfi", T.LongType(), False),
            T.StructField(flag_col, T.BooleanType(), False),
        ]
    )
    ranked = staged.mapInPandas(
        _run_scan_factory(list(key_cols), "__lfi", flag_col, False),
        out_schema,
    ).localCheckpoint(eager=False)
    stats = (
        ranked.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.col(flag_col).cast("long")).alias("__f"),
        )
        .collect()
    )
    offsets = {}
    acc = start
    nflag = 0
    for row in sorted(stats, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__c"]
        nflag += int(row["__f"] or 0)
    total = acc - start
    if not offsets:
        return (
            df.withColumn(out_col, F.lit(None).cast("long")).withColumn(
                flag_col, F.lit(None).cast("boolean")
            ),
            0,
            0,
        )
    if len(offsets) <= _MAP_LITERAL_CAP:
        mapping = F.create_map(
            *[F.lit(int(x)) for kv in offsets.items() for x in kv]
        )
        res = ranked.withColumn(
            out_col, (mapping[F.col("__pid")] + F.col("__lfi")).cast("long")
        ).drop("__pid", "__lfi")
        return res, nflag, total
    odf = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __off long",
        )
    )
    res = (
        ranked.join(odf, "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__lfi")).cast("long"))
        .drop("__pid", "__lfi", "__off")
    )
    return res, nflag, total


def with_dense_rank_total(
    df: DataFrame,
    key_cols: list[str],
    out_col: str,
    start: int = 1,
    bucket: Column | None = None,
) -> tuple[DataFrame, int, int]:
    """Attach dense ids over the DISTINCT ``key_cols`` values, in key
    sort order, to EVERY row (equal keys share an id). Returns
    ``(df_with_out_col, n_distinct_keys, n_rows)``.

    The join-free form of sorted dense-id assignment: where
    ``distinct() → range-sorted dense ids → join back`` pays a
    distinct exchange (evaluated twice — once more under the range
    partitioner's sampling pass) plus a full join-back shuffle of the
    payload rows, this ranks the rows THEMSELVES: range partition by
    key (equal keys land in one partition, partition index order = key
    order), narrow in-partition sort, one Arrow pass computing the
    per-partition running distinct-prefix count (a cumulative sum of
    key-change flags — inexpressible in codegen without a window, and
    a window would re-shuffle), then the same two-pass
    partition-offset prefix sum as :func:`with_dense_seq`, with
    offsets in DISTINCT-KEY units (per-partition distinct counts =
    each partition's max local rank). One keyed exchange total, and
    the key cardinality + row count come back for free from the
    offsets collect.

    Contract: key columns must be non-null (NULL sort placement is not
    replicated) and of binary-comparable types (ints/floats without
    NaN/strings) — the ORDER is decided by Spark's range sort; the
    Arrow pass only tests row-to-previous-row EQUALITY.

    ``bucket``: an optional precomputed partition bucket in [0, n)
    (n = defaultParallelism), monotone non-decreasing in key order
    with equal keys sharing a bucket. When given, the exchange goes
    through :func:`_bucket_exchange` instead of ``repartitionByRange``
    — same partition-order guarantee, NO sampling pass (one fewer full
    evaluation of the upstream per call).
    """
    spark = df.sparkSession
    n = max(spark.sparkContext.defaultParallelism, 1)
    if bucket is not None:
        staged = (
            _bucket_exchange(df, n, bucket)
            .sortWithinPartitions(*key_cols)
            .withColumn("__pid", F.spark_partition_id())
        )
    else:
        staged = (
            df.repartitionByRange(n, *[F.col(c) for c in key_cols])
            .sortWithinPartitions(*key_cols)
            .withColumn("__pid", F.spark_partition_id())
        )
    out_schema = T.StructType(
        list(staged.schema.fields) + [T.StructField("__lrk", T.LongType(), False)]
    )
    keys = list(key_cols)

    def _local_ranks(batches):
        import numpy as np

        prev = None
        rank = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arr = pdf[keys].to_numpy()
            chg = np.empty(len(pdf), dtype=bool)
            if len(pdf) > 1:
                chg[1:] = (arr[1:] != arr[:-1]).any(axis=1)
            chg[0] = prev is None or bool((arr[0] != prev).any())
            loc = rank + np.cumsum(chg)
            rank = int(loc[-1])
            prev = arr[-1].copy()
            pdf = pdf.copy()
            pdf["__lrk"] = loc.astype("int64")
            yield pdf

    # Materialize before the offsets collect — same reasoning as
    # with_dense_seq_total: both jobs must observe one partition
    # layout, and the upstream (plus the range sampling pass) must not
    # be paid twice.
    ranked = staged.mapInPandas(_local_ranks, out_schema).localCheckpoint(
        eager=False
    )
    stats = (
        ranked.groupBy("__pid")
        .agg(F.max("__lrk").alias("__d"), F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    offsets = {}
    acc = start
    nrows = 0
    for row in sorted(stats, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__d"]
        nrows += row["__c"]
    total = acc - start
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("long")), 0, 0
    if len(offsets) <= _MAP_LITERAL_CAP:
        mapping = F.create_map(
            *[F.lit(int(x)) for kv in offsets.items() for x in kv]
        )
        res = ranked.withColumn(
            out_col,
            (mapping[F.col("__pid")] + F.col("__lrk") - 1).cast("long"),
        ).drop("__pid", "__lrk")
        return res, total, nrows
    odf = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __off long",
        )
    )
    res = (
        ranked.join(odf, "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__lrk") - 1).cast("long"))
        .drop("__pid", "__lrk", "__off")
    )
    return res, total, nrows
