"""The ``pipeline`` workload: the graded ``stream_dedup_minhash`` query over
a seeded ``documents`` table, one pass at a time.

A pass calls the query function (which appends the documents to a log
and drains a stateful MinHash-LSH stream, all before it returns) and
collects the returned DataFrame. Set-up generates the table, then runs
a check pass (cold) and ``WARM_PASSES`` warm passes. The timed window
then runs passes until ``--seconds`` have elapsed, at least
``MIN_TIMED_PASSES``.

The query is rows-only (no DuckDB oracle), so every pass's output is
checked against the check pass's: same row count and digest, at least
one row, distinct ``dup_seq`` values, each after its ``keep_seq``.
"""

from __future__ import annotations

import hashlib
import os
import time

from metrics import empty_layers
from tracing import log, pct, stop_listening, stream_metrics, streaming_listener

QUERY = "stream_dedup_minhash"
#: Warm passes after the cold check pass. A fixed count puts every run
#: at the same point of the warm-up curve.
WARM_PASSES = 1
#: ``wall_s`` is the fastest timed pass. The query keeps getting a few
#: percent faster for six passes or more (the JIT), so the fastest of
#: four falls at the end of that curve; and a burst of load from
#: outside the run that slows some passes does not move it.
MIN_TIMED_PASSES = 4


def digest(rows) -> tuple[int, str]:
    """(row count, order-independent digest) of ``(dup_seq, keep_seq)`` rows."""
    pairs = sorted((int(d), int(k)) for d, k in rows)
    return len(pairs), hashlib.sha256(repr(pairs).encode()).hexdigest()


def _bad_rows(rows) -> str | None:
    """What is wrong with a result, or None: a dup must come after its
    keeper, and each dup has one keeper."""
    dups = [d for d, _ in rows]
    if not rows:
        return "no rows"
    if len(set(dups)) != len(dups):
        return "repeated dup_seq"
    if any(d <= k for d, k in rows):
        return "dup_seq not after keep_seq"
    return None


def run(ctx, workload: str) -> dict:
    import __spark_entry__ as entry

    from datagen import write

    spark, tracer = ctx.spark, ctx.tracer
    query = entry.queries()[QUERY]

    # fixture: the seeded table, generated three times for a steady
    # set-up figure; the first copy is the one queried
    fixture_s = []
    for i in range(3):
        t0 = time.perf_counter()
        write(ctx.seed, os.path.join(ctx.work, f"data{i}"))
        fixture_s.append(time.perf_counter() - t0)
    data = os.path.join(ctx.work, "data0")
    want = None

    def one_pass(traced: bool) -> float | None:
        """Run and check one pass; its seconds, or None if it raised."""
        nonlocal want
        tracer.enabled = traced
        t_pass = time.perf_counter()
        try:
            with tracer.span(f"query:{QUERY}"):
                with tracer.span("builder"):
                    df = query(spark, data)
                if traced:
                    # the collect below runs this same QueryExecution,
                    # so execution does not plan again
                    with tracer.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("exec"):
                    rows = df.collect()
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            ctx.op(False, f"{QUERY}: raised {type(e).__name__}: {e}")
            return None
        seconds = time.perf_counter() - t_pass
        got = digest(rows)
        want = want or got
        bad = _bad_rows([(r[0], r[1]) for r in rows])
        ctx.op(bad is None and got == want, f"{QUERY}: {bad or f'digest {got} != check pass {want}'}")
        return seconds

    # check pass (cold), then a fixed number of warm passes
    t_warm = time.perf_counter()
    warm = [one_pass(False) for _ in range(1 + WARM_PASSES)]
    warm_s = time.perf_counter() - t_warm
    log(f"pipeline: warm passes {warm}")
    setup_s = ctx.session_start_s + sorted(fixture_s)[1] + warm_s

    listener = streaming_listener(spark) if ctx.traced else None
    pass_s = {False: [], True: []}
    tries = 0
    t_start = time.perf_counter()
    while True:
        # a traced run alternates untraced and traced passes, so the
        # tracing overhead is measured inside one session
        traced = ctx.traced and tries % 2 == 1
        s = one_pass(traced)
        tries += 1
        if s is not None:
            pass_s[traced].append(s)
        if time.perf_counter() - t_start >= ctx.seconds and tries >= MIN_TIMED_PASSES and (
            not ctx.traced or tries % 2 == 0
        ):
            break
    tracer.enabled = ctx.traced
    log(f"pipeline: timed passes {pass_s}")
    if not pass_s[False] or (ctx.traced and not pass_s[True]):
        raise RuntimeError(f"{QUERY}: every timed pass of a kind failed")

    progress = stop_listening(spark, listener)
    stats = ctx.stop(tracer.jobs_of("builder") | tracer.jobs_of("exec"))
    if not ctx.traced:
        return {
            "setup_s": setup_s,
            "wall_s": min(pass_s[False]),
        }
    return _layers(ctx, stats, pass_s, progress, warm_s)


def _layers(ctx, stats, pass_s, progress, warm_s) -> dict:
    tr = ctx.tracer
    n_traced = len(pass_s[True])

    def per_pass(x):
        return x / n_traced

    def secs(name):
        return per_pass(sum(s.seconds for s in tr.named(name)))

    builder_jobs = tr.jobs_of("builder")
    exec_jobs = tr.jobs_of("exec")
    m = empty_layers()
    m.update({
        "session.start_s": ctx.session_start_s,
        "session.warm_s": warm_s,
        "entry.builder_s": secs("builder"),
        "entry.builder_jobs": per_pass(len(builder_jobs)),
        "entry.checkpoints": per_pass(stats.checkpoints(builder_jobs)),
        # one query: its own split is the workload's
        f"entry.{QUERY}.builder_s": secs("builder"),
        f"entry.{QUERY}.builder_jobs": per_pass(len(builder_jobs)),
        f"entry.{QUERY}.exec_s": secs("exec"),
        "spark.plan_s": secs("plan"),
        "spark.exec_s": secs("exec"),
        "spark.exec_jobs": per_pass(len(exec_jobs)),
        "driver.peak_rss_mb": ctx.driver_rss_mb,
        "jvm.peak_rss_mb": ctx.jvm_rss_mb,
        "trace.wall_s": min(pass_s[True]),
        "trace.overhead_s": pct([t - u for u, t in zip(pass_s[False], pass_s[True])], 50),
    })
    for field in stats.FIELDS:
        m[f"spark.{field}"] = per_pass(stats.total(exec_jobs, field))
    for k, v in stream_metrics(progress).items():
        m[f"stream.{k}"] = v
    # the listener heard every pass of the timed window
    m["stream.batches"] /= len(pass_s[False]) + n_traced
    return m
