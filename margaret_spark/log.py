"""The sequence-addressed log: the engine's fundamental abstraction.

Reference: ``margaret.Log`` (``log.go:14-29``) — Seq / Get / Query /
Append plus the ``Alterer`` extension Null / Replace (``log.go:46-52``).

Two backends, mirroring the reference's two:

- :class:`MemLog` — in-process list (reference ``mem/log.go``); used
  for fast contract tests and as the semantics oracle.
- :class:`OffsetLog` — Parquet-directory log (reference ``offset2/``).
  The write path is a driver-side single-writer appender (the
  reference serializes appends under a mutex too,
  ``offset2/log.go:431``) that emits seq-range-named Parquet files.

Physical layout of an OffsetLog (replacing the reference's
``data``/``ofst``/``jrnl`` triple, ``offset2/log.go:5-27``)::

    <path>/_meta.json                   # value type + codec name
    <path>/data/part-<first>-<last>.parquet   # columns: seq, value
    <path>/patch/patch-<id>.parquet     # columns: patch_id, seq, op, value

The seq range embedded in each data entry name plays the role of the
reference's ``ofst`` positional index, and the highest ``last`` across
names plays the role of the ``jrnl`` journal. An entry is one file, or
a directory of part files for a bulk :meth:`OffsetLog.append_df`.

``get``, pull ``query`` and building ``df`` / ``query_df`` start no
Spark job; they cost directory listings and file reads:

- Point ``get`` and pull ``query`` (behind index builders and live
  tails) run on the driver like the reference's cursor
  (``offset2/qry.go``): one listing of ``data/`` picks the entries
  whose seq range overlaps the query's bounds; they are read with
  pyarrow in seq order (reversed for ``Reverse``), one file at a time,
  with the seq bounds pushed into each read, until ``Limit`` is met.
- ``df`` / ``query_df`` hand Spark the data directory as ONE root, so
  Spark lists it on the driver (an explicit list of more than
  ``parallelPartitionDiscovery.threshold`` paths would be listed by a
  distributed job), and Catalyst keeps filter pushdown, column pruning
  and TakeOrdered.

A compaction publishes its merged entry before it deletes the inputs;
an entry whose seq range lies strictly inside a wider entry's range is
such a dead input, and every read skips it (:func:`_supersede`). The
Spark read applies that rule to the listing Spark itself made, so no
entry can be published between the listing and the rule.

Null/Replace are implemented as an *overlay*: patches are appended to
``patch/`` and merged at read with latest-patch-wins semantics
(reference mutates frames in place, ``offset2/log.go:91-160``; an
overlay is the append-friendly equivalent and needs no size limit on
replacements). A driver-side read reads ``patch/`` once per call.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from abc import ABC, abstractmethod
from typing import Any, Iterable, Iterator, Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from margaret_spark.codec import Codec, CborCodec, JsonCodec, MsgpackCodec
from margaret_spark.errors import (
    SEQ_EMPTY,
    ErrNulled,
    OutOfBounds,
    QuerySpecError,
)
from margaret_spark.observable import Observable
from margaret_spark.qry import QueryPlan, QuerySpec, apply_plan, apply_plan_rows, build_plan

_CODECS = {"json": JsonCodec, "msgpack": MsgpackCodec, "cbor": CborCodec}


class _Nulled:
    """In-memory tombstone marker."""


_NULLED = _Nulled()


class Log(ABC):
    """Common API: mirrors ``log.go:14-29`` + ``log.go:46-52``."""

    spark: SparkSession
    value_type: T.DataType

    # -- Seqer -------------------------------------------------------------
    @abstractmethod
    def seq(self) -> int:
        """Highest assigned sequence; SEQ_EMPTY (-1) when empty."""

    # -- reads -------------------------------------------------------------
    @abstractmethod
    def get(self, seq: int) -> Any:
        """Point lookup. Raises OutOfBounds past the end, ErrNulled for
        redacted entries."""

    @abstractmethod
    def df(self) -> DataFrame:
        """The log as a DataFrame: columns ``seq``, ``value``, ``nulled``
        (patch overlay already applied)."""

    def query_df(self, *specs: QuerySpec, ordered: bool = False) -> DataFrame:
        """Spark-native query: the algebra compiled onto :meth:`df`."""
        plan = build_plan(specs)
        if plan.live:
            raise QuerySpecError("query_df is batch-only; use query() for live")
        return apply_plan(self.df(), plan, ordered=ordered)

    def query(self, *specs: QuerySpec) -> Iterator[Any]:
        """Pull-style iteration (reference ``Query`` + ``Next``,
        ``offset2/qry.go:101-189``). Yields bare values, ``(seq, value)``
        tuples under SeqWrap, and ErrNulled() *as a value* for redacted
        entries. Live queries block awaiting appends."""
        plan = build_plan(specs)
        if plan.live:
            return self._live_iter(plan)
        return self._batch_iter(plan)

    @abstractmethod
    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        ...

    def _live_iter(self, plan: QueryPlan) -> Iterator[Any]:
        """Catch-up-then-follow (reference ``offset2/qry.go:126-158``)."""
        cursor = (plan.gt if plan.gt is not None else
                  (plan.gte - 1 if plan.gte is not None else -1))
        remaining = plan.limit
        while True:
            if remaining is not None and remaining <= 0:
                return
            hi = self.seq()
            if hi > cursor:
                sub = QueryPlan(gt=cursor, lt=plan.lt, lte=plan.lte,
                                seqwrap=True)
                emitted_any = False
                for s, v in self._batch_iter(sub):
                    emitted_any = True
                    cursor = max(cursor, s)
                    if remaining is not None:
                        if remaining <= 0:
                            return
                        remaining -= 1
                    yield (s, v) if plan.seqwrap else v
                if not emitted_any:
                    cursor = hi
                # upper bound exhausted → terminate like a bounded query
                if plan.lt is not None and cursor >= plan.lt - 1:
                    return
                if plan.lte is not None and cursor >= plan.lte:
                    return
            else:
                self._wait_for_append(cursor)

    def _wait_for_append(self, after_seq: int) -> None:
        """Block until the log grows past ``after_seq``. Default: poll.
        MemLog overrides with a condition variable; streaming tails live
        in margaret_spark.streaming."""
        time.sleep(0.05)

    # -- writes ------------------------------------------------------------
    @abstractmethod
    def append(self, value: Any) -> int:
        """Append one value; returns its assigned seq (dense, gap-free)."""

    def append_many(self, values: Iterable[Any]) -> int:
        last = self.seq()
        for v in values:
            last = self.append(v)
        return last

    # -- Alterer -----------------------------------------------------------
    @abstractmethod
    def null(self, seq: int) -> None:
        """Redact the entry at ``seq`` (reference ``offset2/log.go:91-128``)."""

    @abstractmethod
    def replace(self, seq: int, value: Any) -> None:
        """Overwrite the entry at ``seq`` (reference ``offset2/log.go:130-160``)."""

    # -- observability -----------------------------------------------------
    def changes(self) -> Observable:
        """Observable of the current seq, fired on every append
        (reference ``log.go:20``, ``offset2/log.go:352-354``)."""
        return self._changes

    def check_consistency(self) -> None:
        """Reference fsck (``offset2/log.go:217-344``): the invariants
        expressed as aggregations — dense, zero-based, duplicate-free."""
        row = (
            self.df()
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("seq").alias("nd"),
                F.min("seq").alias("mn"),
                F.max("seq").alias("mx"),
            )
            .collect()[0]
        )
        if row["n"] == 0:
            if self.seq() != SEQ_EMPTY:
                raise AssertionError(f"empty log but seq()={self.seq()}")
            return
        if row["nd"] != row["n"]:
            raise AssertionError("duplicate sequence numbers")
        if row["mn"] != 0:
            raise AssertionError(f"log does not start at 0 (min={row['mn']})")
        if row["mx"] != row["n"] - 1:
            raise AssertionError(f"gaps: max={row['mx']} count={row['n']}")
        if row["mx"] != self.seq():
            raise AssertionError(f"journal mismatch: files say {self.seq()}, data says {row['mx']}")


# ---------------------------------------------------------------------------
# In-memory backend (reference mem/log.go)
# ---------------------------------------------------------------------------


class MemLog(Log):
    """In-memory log with identical semantics to OffsetLog; the
    reference keeps one too for tests (``mem/log.go:18-25``)."""

    def __init__(self, spark: SparkSession, value_type: T.DataType | None = None):
        self.spark = spark
        self.value_type = value_type or T.LongType()
        self._entries: list[Any] = []
        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)
        self._changes = Observable()

    def seq(self) -> int:
        with self._lock:
            return len(self._entries) - 1

    def append(self, value: Any) -> int:
        with self._cond:
            self._entries.append(value)
            s = len(self._entries) - 1
            self._cond.notify_all()
        self._changes.set(s)
        return s

    def get(self, seq: int) -> Any:
        with self._lock:
            if seq < 0 or seq >= len(self._entries):
                raise OutOfBounds(seq)
            v = self._entries[seq]
        if v is _NULLED:
            raise ErrNulled()
        return v

    def null(self, seq: int) -> None:
        with self._lock:
            if seq < 0 or seq >= len(self._entries):
                raise OutOfBounds(seq)
            self._entries[seq] = _NULLED

    def replace(self, seq: int, value: Any) -> None:
        with self._lock:
            if seq < 0 or seq >= len(self._entries):
                raise OutOfBounds(seq)
            self._entries[seq] = value

    def df(self) -> DataFrame:
        with self._lock:
            snap = list(self._entries)
        schema = T.StructType(
            [
                T.StructField("seq", T.LongType(), False),
                T.StructField("value", self.value_type, True),
                T.StructField("nulled", T.BooleanType(), False),
            ]
        )
        rows = [
            (i, None if v is _NULLED else v, v is _NULLED) for i, v in enumerate(snap)
        ]
        return self.spark.createDataFrame(rows, schema)

    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        with self._lock:
            snap = list(enumerate(self._entries))
        for s, v in apply_plan_rows(snap, plan):
            out_v = ErrNulled() if v is _NULLED else v
            yield (s, out_v) if plan.seqwrap else out_v

    def _wait_for_append(self, after_seq: int) -> None:
        with self._cond:
            self._cond.wait_for(lambda: len(self._entries) - 1 > after_seq, timeout=0.5)


# ---------------------------------------------------------------------------
# Parquet-backed backend (reference offset2/)
# ---------------------------------------------------------------------------


def _supersede(entries: list[tuple]) -> list[tuple]:
    """The live entries of a data listing, sorted by seq range.

    Each entry is ``(first, last, ...)``. The supersede rule: an entry
    whose seq range lies strictly inside a WIDER entry's range is a
    compaction input whose merged replacement has been published, so
    it is dead. This is what makes compaction crash-safe: the merged
    entry is renamed into place FIRST and the inputs are deleted
    after; a crash in between leaves dead inputs that readers (and
    ``_recover_seq``) skip, and the janitor removes on the next open.

    One sweep in ``(first, -last)`` order: every entry that can contain
    an entry comes before it, so the entry is dead iff an earlier one
    ends past it, or ends where it ends but starts before it."""
    out = []
    reach, reach_first = -1, 0  # widest `last` so far, and its entry's `first`
    for e in sorted(entries, key=lambda e: (e[0], -e[1])):
        first, last = e[0], e[1]
        if not (reach > last or (reach == last and reach_first < first)):
            out.append(e)
        if last > reach:
            reach, reach_first = last, first
    return out


def _spark_to_arrow_schema(value_type: T.DataType):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [
            pa.field("seq", pa.int64(), nullable=False),
            pa.field("value", to_arrow_type(value_type), nullable=True),
        ]
    )


class OffsetLog(Log):
    """Parquet-directory log (reference ``offset2/log.go``).

    Appends are single-writer (driver): each :meth:`append` /
    :meth:`append_many` writes one seq-range-named Parquet file via
    pyarrow — no Spark job on the write path. Bulk ingestion from an
    existing DataFrame goes through :meth:`append_df`, which assigns
    dense seqs distributively (see ``functions/seqassign.py``) and
    writes through Spark.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        value_type: T.DataType | None = None,
        codec: str | Codec | None = None,
    ):
        self.spark = spark
        self.path = path
        self._data_dir = os.path.join(path, "data")
        self._patch_dir = os.path.join(path, "patch")
        self._meta_path = os.path.join(path, "_meta.json")
        self._lock = threading.Lock()
        self._changes = Observable()

        if isinstance(codec, str):
            codec = _CODECS[codec]()
        self.codec: Optional[Codec] = codec

        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                meta = json.load(f)
            self.value_type = T._parse_datatype_json_string(meta["value_type"])
            if codec is None and meta.get("codec"):
                self.codec = _CODECS[meta["codec"]]()
        else:
            if self.codec is not None:
                self.value_type = self.codec.storage_type
            else:
                self.value_type = value_type or T.LongType()
            os.makedirs(self._data_dir, exist_ok=True)
            os.makedirs(self._patch_dir, exist_ok=True)
            codec_name = None
            if self.codec is not None:
                codec_name = next(
                    k for k, v in _CODECS.items() if isinstance(self.codec, v)
                )
            with open(self._meta_path, "w") as f:
                json.dump(
                    {"value_type": self.value_type.json(), "codec": codec_name}, f
                )
        self._arrow_schema = None
        self._cleanup_superseded()
        self._seq = self._recover_seq()
        self._patch_id = self._recover_patch_id()

    # -- file bookkeeping (the jrnl/ofst analog) ---------------------------

    def _entry(self, name: str) -> tuple[int, int, str]:
        """``(first, last, path)`` of the data entry ``name``."""
        parts = name[: -len(".parquet")].split("-")
        if (
            not name.endswith(".parquet")
            or len(parts) != 3
            or parts[0] != "part"
            or not parts[1].isdigit()
            or not parts[2].isdigit()
        ):
            # LOUD with the path named: a foreign *.parquet here
            # would otherwise crash with a bare int() error — or
            # worse, parse as a bogus seq range and corrupt
            # _recover_seq / the point-lookup index
            raise ValueError(
                f"foreign entry in log data dir: {self._data_dir}/{name}"
                " — the name must be part-<first>-<last>.parquet; "
                "move or delete it (the seq index refuses to guess)"
            )
        return int(parts[1]), int(parts[2]), os.path.join(self._data_dir, name)

    def _data_files(self) -> list[tuple[int, int, str]]:
        """The live data entries in seq order, from one listing."""
        return _supersede(
            [
                self._entry(name)
                for name in os.listdir(self._data_dir)
                if name.endswith(".parquet")
            ]
        )

    def _cleanup_superseded(self) -> None:
        """Remove compaction inputs left behind by a crash between the
        merged file's publish and the input deletion (see the
        supersede rule in :meth:`_data_files`), plus stale staging
        areas and dot-tmp files a crashed bulk append / compaction
        left behind — none of them are visible to readers, but they
        accumulate disk forever otherwise."""
        import shutil

        self._complete_interrupted_swaps()
        live = {p for _lo, _hi, p in self._data_files()}
        horizon = time.time() - 3600
        for name in os.listdir(self._data_dir):
            p = os.path.join(self._data_dir, name)
            if not name.endswith(".parquet"):
                if name.startswith("."):
                    # orphaned .tmp/.dead artifacts — age-gated like
                    # the _staging sweep below: a fresh dot-tmp may be
                    # another process's in-flight write (single-writer
                    # is the CONTRACT, but a reader open must never
                    # sabotage a live writer)
                    try:
                        if os.path.getmtime(p) >= horizon:
                            continue
                    except OSError:
                        continue
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                continue
            if p in live:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        # staging areas: only sweep entries old enough that no live
        # writer can still be filling them (another handle may be
        # mid-append_df when this one opens — single-writer is the
        # CONTRACT, but a reader open must never sabotage a writer)
        for stale in ("_staging", "_compact_staging", "_compact_staging_patch"):
            root = os.path.join(self.path, stale)
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                p = os.path.join(root, name)
                try:
                    if os.path.getmtime(p) < horizon:
                        if os.path.isdir(p):
                            shutil.rmtree(p, ignore_errors=True)
                        else:
                            os.remove(p)
                except OSError:
                    pass

    def _complete_interrupted_swaps(self) -> None:
        """Finish a directory swap a crashed compaction started.

        ``compact_log``'s whole-log-is-one-bulk-directory edge swaps
        via two renames (``dst → .dst.dead`` then ``.dst.tmp → dst``;
        POSIX cannot rename a file over a directory). A crash between
        them leaves the log's ONLY contents in dot-named files that
        the artifact sweep would otherwise destroy — the janitor must
        COMPLETE the swap before sweeping, never the reverse. The
        ``.dead`` backup is the proof the swap started (and hence that
        the tmp was fully written before the first rename); a lone
        dot-tmp without a backup is a torn in-flight write and stays
        for the age-gated sweep.

        This intervention is deliberately NOT age-gated, unlike the
        artifact sweeps: in the interrupted state the affected range's
        ONLY copy lives in dot-named files invisible to
        :meth:`_data_files`, so a reader that deferred completion
        would see an empty/holed log — wrong answers, not just stale
        disk. The cost is a two-syscall window during a LIVE
        compaction's swap where a concurrent open could promote the
        tmp first and make the writer's own ``rename(tmp, dst)`` raise
        ``FileNotFoundError`` — data stays consistent, only the writer
        process fails. That window is accepted under the single-writer
        contract (opening a log while another handle is compacting it
        is already outside the contract; read correctness for genuine
        crash recovery wins over a contract-violating writer's
        convenience)."""
        import shutil

        import pyarrow.parquet as pq

        for name in sorted(os.listdir(self._data_dir)):
            if not (name.startswith(".") and name.endswith(".dead")):
                continue
            base = name[1:-len(".dead")]
            dst = os.path.join(self._data_dir, base)
            tmp = os.path.join(self._data_dir, "." + base + ".tmp")
            dead = os.path.join(self._data_dir, name)
            if os.path.exists(dst):
                # swap completed; only the backup's deletion was lost
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)
                else:
                    os.remove(dead)
                continue
            promoted = False
            if os.path.isfile(tmp):
                try:
                    pq.read_metadata(tmp)  # footer present = complete file
                    os.rename(tmp, dst)
                    promoted = True
                except Exception:
                    promoted = False
            if promoted:
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)
                else:
                    os.remove(dead)
            else:
                # no usable tmp: restore the backup — never delete the
                # only copy of the data
                os.rename(dead, dst)

    def _recover_seq(self) -> int:
        files = self._data_files()
        return files[-1][1] if files else SEQ_EMPTY

    def _recover_patch_id(self) -> int:
        ids = []
        if os.path.isdir(self._patch_dir):
            for n in os.listdir(self._patch_dir):
                if not n.endswith(".parquet"):
                    continue
                s = n[len("patch-") : -len(".parquet")]
                if not (n.startswith("patch-") and s.isdigit()):
                    raise ValueError(
                        f"foreign entry in log patch dir: "
                        f"{self._patch_dir}/{n} — the name must be "
                        "patch-<decimal id>.parquet; move or delete it "
                        "(patch-id recovery refuses to guess)"
                    )
                ids.append(int(s))
        return max(ids) + 1 if ids else 0

    def _has_patches(self) -> bool:
        return self._patch_id > 0

    # -- write path --------------------------------------------------------

    def _arrow(self):
        if self._arrow_schema is None:
            self._arrow_schema = _spark_to_arrow_schema(self.value_type)
        return self._arrow_schema

    def _write_rows(self, first: int, values: list[Any]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        stored = [self.codec.marshal(v) if self.codec else v for v in values]
        table = pa.Table.from_pydict(
            {"seq": list(range(first, first + len(values))), "value": stored},
            schema=self._arrow(),
        )
        last = first + len(values) - 1
        final = os.path.join(self._data_dir, f"part-{first:020d}-{last:020d}.parquet")
        tmp = os.path.join(self._data_dir, f".part-{first:020d}-{last:020d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, final)  # atomic publish: readers never see torn files

    def append(self, value: Any) -> int:
        with self._lock:
            s = self._seq + 1
            self._write_rows(s, [value])
            self._seq = s
        self._changes.set(s)
        return s

    def append_many(self, values: Iterable[Any]) -> int:
        values = list(values)
        if not values:
            return self.seq()
        with self._lock:
            first = self._seq + 1
            self._write_rows(first, values)
            self._seq = first + len(values) - 1
            s = self._seq
        self._changes.set(s)
        return s

    def append_df(
        self, df: DataFrame, value_col: str = "value", order_by: str | None = None
    ) -> int:
        """Bulk ingestion: assign dense seqs distributively and write
        Parquet through Spark. The scalable path for large loads — the
        corpus never transits the driver.

        Default seq order is partition-major arrival order (a log's
        semantic). Pass ``order_by`` to ingest in a deterministic
        GLOBAL order instead: rows are range-partitioned and sorted on
        that column, so seqs follow it exactly (partition-major order
        of a range partitioning IS global order) — still one range
        shuffle, no single-partition funnel.

        Requires a typed (codec-less) log: the distributed write
        stores the column as-is; a codec log's entries must be
        marshaled per value on the driver paths (``append_many``)."""
        from margaret_spark.functions.seqassign import with_dense_seq

        if self.codec is not None:
            raise ValueError(
                "append_df writes the value column raw; this log has a "
                "codec — marshal per value via append/append_many instead"
            )
        with self._lock:
            first = self._seq + 1
            if order_by is not None:
                n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
                df = df.repartitionByRange(n, F.col(order_by)).sortWithinPartitions(
                    order_by
                )
            staged = with_dense_seq(
                df.select(F.col(value_col).cast(self.value_type).alias("value")),
                start=first,
            ).select("seq", "value")
            n = staged.count()
            if n == 0:
                return self._seq
            last = first + n - 1
            name = f"part-{first:020d}-{last:020d}.parquet"
            # stage + rename: the seq-range-named directory must appear
            # atomically (readers and crash recovery trust the name —
            # a half-committed Spark write would otherwise advance
            # _recover_seq past a hole)
            staging = os.path.join(self.path, "_staging", name)
            staged.write.mode("overwrite").parquet(staging)
            os.rename(staging, os.path.join(self._data_dir, name))
            self._seq = last
        self._changes.set(self._seq)
        return self._seq

    def _write_patch(self, seq: int, op: str, value: Any | None) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cur = self._seq
        if seq < 0 or seq > cur:
            raise OutOfBounds(seq)
        stored = None
        if value is not None:
            stored = self.codec.marshal(value) if self.codec else value
        base = self._arrow()
        schema = pa.schema(
            [
                pa.field("patch_id", pa.int64(), nullable=False),
                pa.field("seq", pa.int64(), nullable=False),
                pa.field("op", pa.string(), nullable=False),
                pa.field("value", base.field("value").type, nullable=True),
            ]
        )
        pid = self._patch_id
        table = pa.Table.from_pydict(
            {"patch_id": [pid], "seq": [seq], "op": [op], "value": [stored]},
            schema=schema,
        )
        final = os.path.join(self._patch_dir, f"patch-{pid:020d}.parquet")
        tmp = os.path.join(self._patch_dir, f".patch-{pid:020d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, final)
        self._patch_id = pid + 1

    def null(self, seq: int) -> None:
        with self._lock:
            self._write_patch(seq, "null", None)

    def replace(self, seq: int, value: Any) -> None:
        if value is None:
            # a null 'replace' patch would later hit codec.unmarshal(None)
            # on the read path; redaction has its own operation
            raise ValueError("replace value must not be None — use null(seq)")
        with self._lock:
            self._write_patch(seq, "replace", value)

    # -- read path ---------------------------------------------------------

    def seq(self) -> int:
        return self._seq

    def _schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("seq", T.LongType(), False),
                T.StructField("value", self.value_type, True),
            ]
        )

    def _base_df(self) -> DataFrame:
        # The data directory is ONE root, so Spark lists it on the
        # driver; handing it the entries as explicit paths would start
        # a distributed listing job past 32 paths.
        # recursiveFileLookup: append_df publishes a DIRECTORY of part
        # files per bulk load; without it, mixing single appends
        # (depth-1 files) with bulk loads (depth-2 leaves) makes
        # Spark's partition discovery reject the log ("conflicting
        # directory structures").
        root = os.path.abspath(self._data_dir)
        df = (
            self.spark.read.schema(self._schema())
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(root)
        )
        # The supersede rule, applied to the listing Spark made: a
        # merged entry published since any earlier listing is in it.
        leaves: dict[str, list[str]] = {}
        # one py4j call for the whole listing (iterating the Java array
        # costs two calls per file); a URI encodes any newline
        listed = self.spark._jvm.org.apache.hadoop.util.StringUtils.join(
            "\n", df._jdf.inputFiles()
        )
        for uri in filter(None, listed.split("\n")):
            rel = os.path.relpath(unquote(urlparse(uri).path), root)
            leaves.setdefault(rel.split(os.sep)[0], []).append(uri)
        live = {os.path.basename(e[2]) for e in _supersede([self._entry(n) for n in leaves])}
        dead = [re.sub(_SCHEME, "", u) for n, uris in leaves.items() if n not in live for u in uris]
        if dead:
            # dead compaction inputs a crash left: excluded in this read
            path = F.regexp_replace(F.col("_metadata.file_path"), _SCHEME, "")
            df = df.where(~path.isin(dead))
        return df

    def stream_df(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """The log as a streaming DataFrame (file source): catch-up
        over stored entries, then each append as its file is
        discovered — the substrate for live queries, Changes(), and
        streaming index builds. Patches are NOT overlaid (the live
        path replays appended frames, as in the reference).
        ``max_files_per_trigger`` bounds catch-up batch size."""
        # recursiveFileLookup: append_df publishes a DIRECTORY of part
        # files per bulk load (distributed write); the stream must
        # discover those leaves like the batch reader does.
        reader = (
            self.spark.readStream.schema(self._schema())
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(self._data_dir)

    def df(
        self, as_of_seq: int | None = None, as_of_patch: int | None = None
    ) -> DataFrame:
        """Read view with the null/replace overlay applied. ``as_of_seq``
        / ``as_of_patch`` bound the view to a recorded snapshot point
        (see ``sources/snapshot.py``): appends after ``as_of_seq`` and
        patches at/after ``as_of_patch`` are invisible. The seq bound is
        an ordinary pushed filter, so row-group pruning still applies."""
        base = self._base_df()
        if as_of_seq is not None:
            base = base.where(F.col("seq") <= F.lit(as_of_seq))
        has_patches = (
            self._has_patches() if as_of_patch is None else as_of_patch > 0
        )
        if not has_patches:
            return base.withColumn("nulled", F.lit(False))
        patch_schema = T.StructType(
            [
                T.StructField("patch_id", T.LongType(), False),
                T.StructField("seq", T.LongType(), False),
                T.StructField("op", T.StringType(), False),
                T.StructField("value", self.value_type, True),
            ]
        )
        patches = (
            self.spark.read.schema(patch_schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(self._patch_dir)
        )
        if as_of_patch is not None:
            patches = patches.where(F.col("patch_id") < F.lit(as_of_patch))
        w = Window.partitionBy("seq").orderBy(F.col("patch_id").desc())
        latest = (
            patches.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                F.col("seq"),
                F.col("op").alias("__op"),
                F.col("value").alias("__pvalue"),
            )
        )
        # Patch tables are tiny relative to the log: broadcast the overlay
        # join so the log itself never shuffles.
        return (
            base.join(F.broadcast(latest), "seq", "left")
            .select(
                "seq",
                F.when(F.col("__op") == "null", F.lit(None))
                .when(F.col("__op") == "replace", F.col("__pvalue"))
                .otherwise(F.col("value"))
                .alias("value"),
                F.coalesce(F.col("__op") == "null", F.lit(False)).alias("nulled"),
            )
        )

    def _decode(self, stored: Any, patch: tuple[str, Any] | None) -> Any:
        """The value a driver-side read returns for one stored entry and
        its latest patch: ErrNulled() for a nulled entry, else the
        stored or replaced value with the codec undone."""
        if patch is not None:
            op, pvalue = patch
            if op == "null":
                return ErrNulled()
            stored = pvalue
        return self.codec.unmarshal(stored) if self.codec is not None else stored

    def _patches(self, lo: int, hi: int) -> dict[int, tuple[str, Any]]:
        """``seq -> (op, value)`` of the latest patch of each seq in
        ``[lo, hi]``, from one read of ``patch/``."""
        if not self._has_patches():
            return {}
        rows = []
        for name in os.listdir(self._patch_dir):
            if name.startswith("patch-") and name.endswith(".parquet"):
                t = _read_seq_range(os.path.join(self._patch_dir, name), lo, hi)
                if t is not None:
                    rows += zip(*(t.column(c).to_pylist() for c in ("patch_id", "seq", "op", "value")))
        rows.sort(key=lambda r: r[0])
        return {s: (op, v) for _pid, s, op, v in rows}

    @staticmethod
    def _entry_rows(path: str, lo: int, hi: int, reverse: bool = False):
        """``(seq, stored value)`` of one data entry's rows with
        ``lo <= seq <= hi``, in seq order (descending if ``reverse``).
        A bulk entry is a directory of Parquet files, each holding one
        contiguous seq range; they are ordered by their seq statistics
        and read one at a time, so one file is in memory at a time."""
        if os.path.isdir(path):
            leaves = [
                os.path.join(path, n)
                for n in os.listdir(path)
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            ]
            leaves.sort(key=_first_seq)
        else:
            leaves = [path]
        for leaf in reversed(leaves) if reverse else leaves:
            t = _read_seq_range(leaf, lo, hi)
            if t is not None:
                t = t.sort_by([("seq", "descending" if reverse else "ascending")])
                yield from zip(t.column("seq").to_pylist(), t.column("value").to_pylist())

    def get(self, seq: int) -> Any:
        """Driver-side O(1) point lookup via the filename seq index —
        the analog of the reference's ``ofst`` positional read
        (``offset2/log.go:373-394``)."""
        if seq < 0 or seq > self._seq:
            raise OutOfBounds(seq)
        import bisect

        files = self._data_files()
        i = bisect.bisect_right([f[0] for f in files], seq) - 1
        first, last, fpath = files[i]
        assert first <= seq <= last, "filename index out of sync"
        # the point filter is pushed into the read: one entry may hold
        # millions of rows (a bulk append_df directory, or the whole
        # log after compaction merged it into one file)
        rows = list(self._entry_rows(fpath, seq, seq))
        assert len(rows) == 1 and rows[0][0] == seq, "filename index out of sync"
        value = self._decode(rows[0][1], self._patches(seq, seq).get(seq))
        if isinstance(value, ErrNulled):
            raise value
        return value

    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        """The reference's cursor (``offset2/qry.go:101-189``) over the
        filename seq index: the entries overlapping the plan's bounds,
        read in seq order from one snapshot of the log."""
        hi = self._seq
        if plan.lt is not None:
            hi = min(hi, plan.lt - 1)
        if plan.lte is not None:
            hi = min(hi, plan.lte)
        lo = max(0, plan.gt + 1 if plan.gt is not None else plan.gte or 0)
        left = plan.limit
        if lo > hi or left == 0:
            return
        files = [f for f in self._data_files() if f[0] <= hi and f[1] >= lo]
        patches = self._patches(lo, hi)
        for _first, _last, path in reversed(files) if plan.reverse else files:
            for s, stored in self._entry_rows(path, lo, hi, plan.reverse):
                v = self._decode(stored, patches.get(s))
                yield (s, v) if plan.seqwrap else v
                if left is not None:
                    left -= 1
                    if left == 0:
                        return


def _first_seq(path: str) -> float:
    """The lowest ``seq`` in the Parquet file ``path``, from its footer."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return min(
        (_group_seq_range(md.row_group(i))[0] for i in range(md.num_row_groups)),
        default=float("inf"),
    )


def _group_seq_range(rg) -> tuple[float, float]:
    """``(min, max)`` of a row group's ``seq`` column from its
    statistics; unbounded where they are missing."""
    for k in range(rg.num_columns):
        col = rg.column(k)
        if col.path_in_schema == "seq":
            st = col.statistics
            if st is not None and st.has_min_max:
                return st.min, st.max
    return float("-inf"), float("inf")


def _read_seq_range(path: str, lo: int, hi: int):
    """The rows of the Parquet file ``path`` with ``lo <= seq <= hi``
    (None when none can be there): row groups outside the range are
    skipped by their ``seq`` statistics, the rest filtered."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        groups, inside = [], True
        for i in range(pf.metadata.num_row_groups):
            a, b = _group_seq_range(pf.metadata.row_group(i))
            if a <= hi and b >= lo:
                groups.append(i)
                inside = inside and lo <= a and b <= hi
        if not groups:
            return None
        t = pf.read_row_groups(groups)
    if not inside:
        s = t.column("seq")
        t = t.filter(pc.and_(pc.greater_equal(s, lo), pc.less_equal(s, hi)))
    return t


#: URI scheme and authority slashes, stripped from both sides when
#: Spark's listing is matched against ``_metadata.file_path`` (one
#: spells a local file ``file:///p``, the other ``file:/p``)
_SCHEME = r"^[A-Za-z][A-Za-z0-9+.-]*:/*"

