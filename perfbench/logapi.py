"""The ``log_api`` workload: margaret's own API on a fresh on-disk log.

One client thread runs a closed loop of rounds against an
``OffsetLog`` (msgpack codec) holding SSB-like ``{author, content}``
records, with a ``SinkIndex`` (latest content per author, over an
``OffsetSetterIndex``) and a ``MultilogSink`` (one sublog per author,
in an ``OffsetMultiLog``). A ``LiveTail`` stays open for the whole run
and a second thread drains it. Nothing is compacted: every append call
leaves one data file, as a user's log would.

A pass is ``ROUNDS`` rounds. Each round appends one batch and reads four
entries (two uniform, two recency-skewed). Twice a pass a round also
nulls or replaces an entry and reads it back through the overlay; once
it scans with ``query_df``, and once it catches one of the two sinks up
with ``build_index``.

Every read is checked against a reference model fed the same
operations: ``log.MemLog`` (the library's in-memory backend) for the
log, and plain dicts for the index and the sublogs. Each mismatch is a
counted failure.
"""

from __future__ import annotations

import os
import random
import threading
import time

from metrics import empty_layers
from tracing import log, pct, stop_listening, stream_metrics, streaming_listener

ROUNDS = 16
PREFILL_BATCHES = 64
MAX_BATCH = 8
N_AUTHORS = 40
SCAN_ROWS = 50
#: One warm pass after the first catch-up of both sinks and the tail.
WARM_PASSES = 1
#: Pass ``i`` scans with variant ``i % MIXES`` and catches up sink
#: ``i % 2``; the timed window runs whole groups of MIXES passes.
MIXES = 3


def _timed_codec(base):
    """A MsgpackCodec subclass that records marshal/unmarshal times."""

    class Timed(base):
        def __init__(self):
            self.marshal_s: list[float] = []
            self.unmarshal_s: list[float] = []

        def marshal(self, value):
            t0 = time.perf_counter()
            out = super().marshal(value)
            self.marshal_s.append(time.perf_counter() - t0)
            return out

        def unmarshal(self, stored):
            t0 = time.perf_counter()
            out = super().unmarshal(stored)
            self.unmarshal_s.append(time.perf_counter() - t0)
            return out

    return Timed()


class Values:
    """Seeded record generator: Zipf-skewed authors, log-normal content
    lengths (median ~120 characters)."""

    ALPHABET = "abcdefghijklmnopqrstuvwxyz     .,0123456789"

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.weights = [1.0 / (i + 1) for i in range(N_AUTHORS)]
        self._sizes: list[int] = []

    def author(self) -> str:
        return f"@author{self.rng.choices(range(N_AUTHORS), self.weights)[0]:02d}"

    def one(self) -> dict:
        n = max(8, min(2000, int(self.rng.lognormvariate(4.8, 0.8))))
        content = "".join(self.rng.choices(self.ALPHABET, k=n))
        return {"author": self.author(), "content": content}

    def batch(self) -> list[dict]:
        """1 to MAX_BATCH records. Sizes are dealt from shuffled decks of
        1..MAX_BATCH, so every MAX_BATCH calls append the same number of
        records whatever the seed."""
        if not self._sizes:
            self._sizes = list(range(1, MAX_BATCH + 1))
            self.rng.shuffle(self._sizes)
        return [self.one() for _ in range(self._sizes.pop())]


class Mirror:
    """Plain-dict reference for one sink: replays the reference log's
    entries past its cursor into ``pour``, skipping nulled ones."""

    def __init__(self, memlog, pour):
        self.log, self.pour, self.cursor = memlog, pour, -1

    def catch_up(self) -> int:
        from margaret_spark.errors import ErrNulled

        hi = self.log.seq()
        for s in range(self.cursor + 1, hi + 1):
            try:
                v = self.log.get(s)
            except ErrNulled:
                continue
            self.pour(s, v)
        n, self.cursor = hi - self.cursor, hi
        return n


def _outcome(fn, *args):
    """Value of ``fn(*args)``, or the name of the margaret error it raised."""
    from margaret_spark.errors import ErrNulled, OutOfBounds

    try:
        return fn(*args)
    except (ErrNulled, OutOfBounds) as e:
        return type(e).__name__


class Tail:
    """Drains a LiveTail on its own thread, recording when each seq
    arrived and checking it against what was appended."""

    def __init__(self, offset_log, appended: dict):
        from margaret_spark.qry import SeqWrap
        from margaret_spark.streaming.live import LiveTail

        self.tail = LiveTail(offset_log, SeqWrap(True), poll_timeout=0.5)
        self.appended = appended
        self.mismatches: list[str] = []
        self.arrived: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._drain, daemon=True)
        self._thread.start()

    def _drain(self) -> None:
        while not self._stop.is_set():
            try:
                seq, value = next(self.tail)
            except TimeoutError:
                continue
            except StopIteration:
                return
            self.arrived[seq] = time.perf_counter()
            if value != self.appended.get(seq):
                self.mismatches.append(f"live tail: seq {seq} delivered {value!r}")

    def wait_for(self, seq: int, timeout: float) -> bool:
        end = time.perf_counter() + timeout
        while seq not in self.arrived:
            if time.perf_counter() > end:
                return False
            time.sleep(0.01)
        return True

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.tail.close()


def _dir_stats(path: str) -> tuple[int, int]:
    files = [os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def run(ctx, workload: str) -> dict:
    from margaret_spark.codec import MsgpackCodec
    from margaret_spark.indexes import (
        MultilogSink,
        OffsetSetterIndex,
        SinkIndex,
        build_index,
    )
    from margaret_spark.log import MemLog, OffsetLog
    from margaret_spark.multilog import OffsetMultiLog
    from margaret_spark.qry import Gt, Limit, Lt, Reverse, SeqWrap

    spark, tracer, traced = ctx.spark, ctx.tracer, ctx.traced
    rng = random.Random(ctx.seed)
    values = Values(rng)
    lat: dict[str, list[float]] = {}

    def timed(kind: str, fn, *args):
        with tracer.span(kind):
            t0 = time.perf_counter()
            out = fn(*args)
            lat.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    # fixture: a log prefilled with PREFILL_BATCHES append calls, built
    # three times for a steady set-up figure; the first one is used
    batches = [values.batch() for _ in range(PREFILL_BATCHES)]
    fixture_s = []
    for i in range(3):
        t0 = time.perf_counter()
        lg = OffsetLog(
            spark, os.path.join(ctx.work, f"log{i}"),
            codec=_timed_codec(MsgpackCodec) if traced and i == 0 else "msgpack",
        )
        for b in batches:
            lg.append_many(b)
        fixture_s.append(time.perf_counter() - t0)
        if i == 0:
            olog = lg
    memlog = MemLog(spark)
    appended: dict[int, dict] = {}
    for b in batches:
        for v in b:
            appended[memlog.append(v)] = v
    index: dict[str, str] = {}
    sublogs: dict[str, list[int]] = {}
    index_mirror = Mirror(memlog, lambda s, v: index.__setitem__(v["author"], v["content"]))
    sublog_mirror = Mirror(memlog, lambda s, v: sublogs.setdefault(v["author"], []).append(s))

    check = ctx.op
    idx_path, mlog_path = os.path.join(ctx.work, "index"), os.path.join(ctx.work, "mlog")
    idx = OffsetSetterIndex(spark, idx_path)
    mlog = OffsetMultiLog(spark, mlog_path)

    def proc(seq, value, index):
        timed("indexes.set", index.set, value["author"], value["content"])

    def route(seq, value, ml):
        timed("multilog.sublog_append", ml.get(value["author"]).append, seq)

    sink_index = SinkIndex(proc, idx)
    sink_mlog = MultilogSink(route, mlog, os.path.join(ctx.work, "mlog_cursor.json"))

    log(f"log_api: fixture {fixture_s}")
    t_warm = time.perf_counter()
    listener = streaming_listener(spark) if traced else None
    tail = Tail(olog, appended)
    build_index(olog, sink_index)
    build_index(olog, sink_mlog)
    index_mirror.catch_up()
    sublog_mirror.catch_up()
    tail.wait_for(olog.seq(), 60)
    log(f"log_api: initial catch-up {time.perf_counter() - t_warm:.2f}s")
    lag_ms: list[float] = []
    pending: list[tuple[int, float]] = []  # (last seq of an append, when it returned)
    user_bytes = [0]
    plain = MsgpackCodec()
    for v in appended.values():
        user_bytes[0] += len(plain.marshal(v))
    index_rows: list[int] = []

    def op(kind: str, fn, *args):
        """One API call: timed, and counted failed if it raises."""
        try:
            return True, timed(kind, fn, *args)
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            check(False, f"{kind}: raised {type(e).__name__}: {e}")
            return False, None

    def get_checked(seq: int, kind: str) -> None:
        ok, got = op(kind, _outcome, olog.get, seq)
        if ok:
            want = _outcome(memlog.get, seq)
            check(got == want, f"{kind}({seq}): {got!r} != model {want!r}")

    def scan(variant: int) -> None:
        hi = olog.seq()
        a = rng.randint(0, max(0, hi - SCAN_ROWS))
        specs = [
            (Gt(a), Lt(a + SCAN_ROWS)),
            (Gt(a), Limit(SCAN_ROWS)),
            (Reverse(True), Limit(SCAN_ROWS)),
        ][variant]

        def collect():
            with tracer.span("log.df.build"):
                df = olog.query_df(*specs, ordered=True)
            if traced:
                with tracer.span("log.query_df.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("log.query_df.exec"):
                rows = df.collect()
            return [
                (r["seq"], "ErrNulled" if r["nulled"] else olog.codec.unmarshal(r["value"]))
                for r in rows
            ]

        ok, got = op("scan", collect)
        if ok:
            want = [
                (s, "ErrNulled" if type(v).__name__ == "ErrNulled" else v)
                for s, v in memlog.query(*specs, SeqWrap(True))
            ]
            check(got == want, f"scan{specs}: {len(got)} rows differ from the model")

    def catch_up(use_index: bool) -> None:
        """Catch one sink up (the two alternate pass by pass) and read
        three authors back from it."""
        sink, mirror = (sink_index, index_mirror) if use_index else (sink_mlog, sublog_mirror)
        ok, _ = op("build_index", build_index, olog, sink)
        index_rows.append(mirror.catch_up())
        if not ok:
            return
        for author in {values.author() for _ in range(3)}:
            if use_index:
                ok, cell = op("index_read", idx.get, author)
                if ok:
                    want = index.get(author)
                    got = cell.value()
                    got = None if type(got).__name__ == "_Unset" else got
                    check(got == want, f"index[{author}]: {got!r} != model {want!r}")
            else:
                ok, got = op("sublog_read", lambda a: list(mlog.get(a).query()), author)
                if ok:
                    want = sublogs.get(author, [])
                    check(got == want, f"sublog[{author}]: {len(got)} seqs != model {len(want)}")

    def one_pass(i: int) -> float:
        """Pass ``i`` of its phase. The scan variant and the sink cycle
        with ``i``, so every run's timed window has the same mix."""
        t_pass = time.perf_counter()
        for r in range(ROUNDS):
            batch = values.batch()
            first = memlog.seq() + 1
            for k, v in enumerate(batch):
                # recorded before the call: the tail may deliver at once
                appended[first + k] = v
            ok, last = op("append_many", olog.append_many, batch)
            if ok:
                for v in batch:
                    memlog.append(v)
                    user_bytes[0] += len(plain.marshal(v))
                check(last == memlog.seq(), f"append_many returned {last}")
                pending.append((last, time.perf_counter()))
            hi = olog.seq()
            for _ in range(2):
                get_checked(rng.randint(0, hi), "get")
                get_checked(max(0, hi - int(rng.expovariate(1 / 20))), "get")
            if r % 8 == 3:
                seq = rng.randint(0, hi)
                if rng.random() < 0.5:
                    ok, _ = op("null", olog.null, seq)
                    if ok:
                        memlog.null(seq)
                else:
                    v = values.one()
                    ok, _ = op("replace", olog.replace, seq, v)
                    if ok:
                        memlog.replace(seq, v)
                get_checked(seq, "get_patched")
            if r % 16 == 7:
                scan(i % MIXES)
            if r % 16 == 15:
                catch_up(i % 2 == 0)
        return time.perf_counter() - t_pass

    def drain_lag(timeout: float) -> None:
        for seq, t_appended in pending:
            if tail.wait_for(seq, timeout):
                lag_ms.append((tail.arrived[seq] - t_appended) * 1e3)
            else:
                check(False, f"live tail: seq {seq} not delivered within {timeout}s")
        pending.clear()

    tracer.enabled = False
    passes = [one_pass(i) for i in range(WARM_PASSES)]
    drain_lag(30)
    warm_s = time.perf_counter() - t_warm
    setup_s = ctx.session_start_s + sorted(fixture_s)[1] + warm_s
    log(f"log_api: warm passes {[round(x, 2) for x in passes]}")

    lat.clear()
    lag_ms.clear()
    index_rows.clear()
    attempted_before = ctx.attempted
    if listener is not None:
        listener.progress.clear()
    codec = olog.codec
    if traced:
        codec.marshal_s.clear()
        codec.unmarshal_s.clear()
    pass_s = {False: [], True: []}
    t_start = time.perf_counter()
    while True:
        traced_pass = traced and len(pass_s[False]) > len(pass_s[True])
        tracer.enabled = traced_pass
        # a traced run gives each pass mix to an untraced then a traced pass
        done = len(pass_s[False]) + len(pass_s[True])
        pass_s[traced_pass].append(one_pass(done // 2 if traced else done))
        # whole groups of MIXES passes (of each kind), so every run's
        # window holds the same pass mixes
        if time.perf_counter() - t_start >= ctx.seconds and len(pass_s[traced]) % MIXES == 0 and (
            not traced or len(pass_s[True]) == len(pass_s[False])
        ):
            break
    tracer.enabled = traced
    drain_lag(30)
    log(f"log_api: timed passes {pass_s}, ops {ctx.attempted - attempted_before}")
    log("log_api: seconds per kind " + str({k: (len(v), round(sum(v), 3)) for k, v in lat.items()}))
    # the live tail's micro-batches run beside the scans; their job
    # group is the stream's run id
    tail_groups = {str(q.runId) for q in spark.streams.active}
    tail.close()
    for what in tail.mismatches:
        check(False, what)

    # on-disk layouts: <log>/data, <log>/patch, <index>/upserts, <mlog>/entries
    data_files, data_bytes = _dir_stats(os.path.join(olog.path, "data"))
    patch_files, patch_bytes = _dir_stats(os.path.join(olog.path, "patch"))
    cold_ms = 0.0
    if traced:
        t0 = time.perf_counter()
        OffsetSetterIndex(spark, idx_path).get(values.author()).value()
        cold_ms = (time.perf_counter() - t0) * 1e3
    progress = stop_listening(spark, listener)
    stats = ctx.stop(tracer.jobs_of("log.query_df.exec"), tail_groups)
    if not traced:
        return {
            "setup_s": setup_s,
            # the fastest pass: a burst of load from outside the run that
            # slows one or two passes does not move it
            "wall_s": min(pass_s[False]),
        }

    def ms(kind, q=50):
        return pct(lat.get(kind, []), q) * 1e3

    n_traced = len(pass_s[True])
    scan_jobs = tracer.jobs_of("log.query_df.exec")
    live = stream_metrics(progress)
    m = empty_layers()
    m.update({
        "session.start_s": ctx.session_start_s,
        "session.warm_s": warm_s,
        "log.append_many.p50_ms": ms("append_many"),
        "log.append_many.p99_ms": ms("append_many", 99),
        "log.get.p50_ms": ms("get"),
        "log.get.p99_ms": ms("get", 99),
        "log.get_patched.p50_ms": ms("get_patched"),
        "log.null.p50_ms": ms("null"),
        "log.replace.p50_ms": ms("replace"),
        "log.data_files": data_files,
        "log.patch_files": patch_files,
        "log.disk_bytes": data_bytes + patch_bytes,
        "log.user_bytes": user_bytes[0],
        "log.bytes_per_user_byte": (data_bytes + patch_bytes) / user_bytes[0],
        "log.df.build_ms": pct([s.seconds for s in tracer.named("log.df.build")], 50) * 1e3,
        "log.query_df.plan_ms": pct([s.seconds for s in tracer.named("log.query_df.plan")], 50) * 1e3,
        "log.query_df.exec_ms": pct([s.seconds for s in tracer.named("log.query_df.exec")], 50) * 1e3,
        "log.query_df.tasks": stats.total(scan_jobs, "tasks") / max(1, len(tracer.named("log.query_df.exec"))),
        "codec.marshal_us": pct(codec.marshal_s, 50) * 1e6,
        "codec.unmarshal_us": pct(codec.unmarshal_s, 50) * 1e6,
        "multilog.sublog_append.p50_ms": ms("multilog.sublog_append"),
        "multilog.sublog_query.p50_ms": ms("sublog_read"),
        "multilog.entry_files": _dir_stats(os.path.join(mlog_path, "entries"))[0],
        "indexes.build_index.s": pct(lat.get("build_index", []), 50),
        "indexes.build_index.rows": pct(index_rows, 50),
        "indexes.set.p50_ms": ms("indexes.set"),
        "indexes.get_cold_ms": cold_ms,
        "indexes.upsert_files": _dir_stats(os.path.join(idx_path, "upserts"))[0],
        "live.lag_ms": pct(lag_ms, 50),
        "live.batches": live["batches"] / (len(pass_s[False]) + n_traced),
        "driver.peak_rss_mb": ctx.driver_rss_mb,
        "jvm.peak_rss_mb": ctx.jvm_rss_mb,
        "trace.wall_s": min(pass_s[True]),
        "trace.overhead_s": pct([t - u for u, t in zip(pass_s[False], pass_s[True])], 50),
    })
    return m
