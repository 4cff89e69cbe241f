"""Log contract suite: the reference's golden query-semantics table
(``test/simple.go:126-254``) and point-lookup contract
(``test/get.go:16-65``), run against every backend — the same
backend-parameterized registry shape as ``test/registry.go:15-23``.
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from margaret_spark import (
    SEQ_EMPTY,
    ErrNulled,
    Gt,
    Gte,
    Limit,
    Live,
    Lt,
    Lte,
    MemLog,
    OffsetLog,
    OutOfBounds,
    QuerySpecError,
    Reverse,
    SeqWrap,
)
from margaret_spark.log import _supersede


def make_log(kind, spark, tmp_path):
    if kind == "mem":
        return MemLog(spark)
    return OffsetLog(spark, str(tmp_path / "offsetlog"))


BACKENDS = ["mem", "offset"]


@pytest.fixture(params=BACKENDS)
def log(request, spark, tmp_path):
    return make_log(request.param, spark, tmp_path)


# The golden table from test/simple.go:126-236 (values [1,2,3] unless noted).
GOLDEN = [
    ("simple", [1, 2, 3], [], [1, 2, 3]),
    ("reverse", [1, 2, 3, 4, 5], [Reverse(True)], [5, 4, 3, 2, 1]),
    ("reverse-false", [1, 2, 3], [Reverse(False)], [1, 2, 3]),
    ("gt0", [1, 2, 3], [Gt(0)], [2, 3]),
    ("gte1", [1, 2, 3], [Gte(1)], [2, 3]),
    ("lt2", [1, 2, 3], [Lt(2)], [1, 2]),
    ("lte1", [1, 2, 3], [Lte(1)], [1, 2]),
    ("limit2", [1, 2, 3], [Limit(2)], [1, 2]),
    # negative limit = UNLIMITED: the reference cursor only EOS's at
    # exactly limit == 0 (offset2/qry.go:105-108), so a negative
    # counter decrements forever; limit 0 is immediately empty
    ("limit-neg", [1, 2, 3], [Limit(-1)], [1, 2, 3]),
    ("limit0", [1, 2, 3], [Limit(0)], []),
    ("reverse-limit2", [1, 2, 3, 4, 5], [Reverse(True), Limit(2)], [5, 4]),
    ("seqwrap", [1, 2, 3], [SeqWrap(True)], [(0, 1), (1, 2), (2, 3)]),
    ("gt-lte", [1, 2, 3, 4, 5], [Gt(0), Lte(3)], [2, 3, 4]),
]


@pytest.mark.parametrize("name,values,specs,expected", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_golden_query_semantics(log, name, values, specs, expected):
    log.append_many(values)
    assert list(log.query(*specs)) == expected


def test_live_reverse_rejected(log):
    # offset2/log.go:418-420: Reverse+Live is invalid.
    with pytest.raises(QuerySpecError):
        list(log.query(Live(True), Reverse(True)))


def test_conflicting_bounds_rejected(log):
    with pytest.raises(QuerySpecError):
        list(log.query(Gt(0), Gte(1)))
    with pytest.raises(QuerySpecError):
        list(log.query(Lt(5), Lte(4)))


def test_get_contract(log):
    # test/get.go:16-65: appended values come back with dense seqs.
    for i, v in enumerate([10, 20, 30]):
        assert log.append(v) == i
    assert log.seq() == 2
    assert [log.get(i) for i in range(3)] == [10, 20, 30]
    with pytest.raises(OutOfBounds):
        log.get(3)
    with pytest.raises(OutOfBounds):
        log.get(-1)


def test_empty_log(log):
    assert log.seq() == SEQ_EMPTY
    assert list(log.query()) == []


def test_query_past_end_is_eos(log):
    log.append_many([1, 2, 3])
    assert list(log.query(Gt(2))) == []


def test_check_consistency(log):
    log.append_many([1, 2, 3, 4])
    log.check_consistency()


def test_changes_observable(log):
    seen = []
    cancel = log.changes().subscribe(seen.append)
    log.append(1)
    log.append(2)
    cancel()
    log.append(3)
    assert seen == [0, 1]


def test_query_df_algebra(log):
    log.append_many([1, 2, 3, 4, 5])
    df = log.query_df(Gt(0), Lte(3))
    rows = sorted((r["seq"], r["value"]) for r in df.collect())
    assert rows == [(1, 2), (2, 3), (3, 4)]


def test_mixed_append_and_append_df_reads(spark, tmp_path):
    """Single appends write depth-1 files; append_df publishes a
    depth-2 directory — the batch reader must discover both (this
    broke partition discovery before recursiveFileLookup)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log = OffsetLog(
        spark, str(tmp_path / "log"),
        value_type=T.StructType([T.StructField("v", T.LongType())]),
    )
    log.append({"v": 1})
    df2 = spark.createDataFrame([(2,), (3,)], "v long").select(
        F.struct(F.col("v")).alias("value")
    )
    log.append_df(df2)
    log.append({"v": 4})
    rows = sorted((r["seq"], r["value"]["v"]) for r in log.df().collect())
    assert rows == [(0, 1), (1, 2), (2, 3), (3, 4)]
    assert log.get(2) == {"v": 3}
    log.check_consistency()
    # the bulk directory was published atomically via staging+rename
    import os

    assert not os.path.exists(os.path.join(str(tmp_path / "log"), "_staging")) or \
        not os.listdir(os.path.join(str(tmp_path / "log"), "_staging"))


def test_append_df_rejects_codec_logs(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"), codec="json")
    df = spark.createDataFrame([("x",)], "value string")
    with pytest.raises(ValueError, match="codec"):
        log.append_df(df)


def test_replace_none_rejected(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"), codec="json")
    log.append({"a": 1})
    with pytest.raises(ValueError, match="null"):
        log.replace(0, None)


def test_concurrent_appends_dense_unique_seqs(spark, tmp_path):
    """Many threads appending to one log (the reference serializes
    appends under a mutex, offset2/log.go:431): every append gets a
    UNIQUE seq, the final log is dense, and every value survives."""
    import threading

    from margaret_spark.log import OffsetLog

    log = OffsetLog(spark, str(tmp_path / "clog"))
    seqs: list[int] = []
    lock = threading.Lock()

    def worker(base):
        got = []
        for i in range(10):
            got.append(log.append(base * 100 + i))
        with lock:
            seqs.extend(got)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(seqs) == list(range(40))      # dense, no duplicates
    assert log.seq() == 39
    log.check_consistency()
    vals = sorted(list(log.query()))
    assert len(vals) == 40 and len(set(vals)) == 40


def test_point_get_on_bulk_and_compacted_parts(spark, tmp_path):
    """get() pushes the point filter into the scan: correct on a bulk
    append_df batch DIRECTORY, on flat per-append files, and after
    compaction merges the log into one big file — never materializing
    the whole part (the filtered dataset read prunes by row-group seq
    stats)."""
    from pyspark.sql import types as T

    from margaret_spark.sources import compact_log

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.LongType())
    log.append_many([10, 11, 12])
    log.append_df(
        spark.createDataFrame([(100 + i,) for i in range(50)], "value long"),
        order_by="value",
    )
    for s, want in [(0, 10), (2, 12), (3, 100), (30, 127), (52, 149)]:
        assert log.get(s) == want, s
    compact_log(log)
    log2 = OffsetLog(spark, str(tmp_path / "log"))
    for s, want in [(0, 10), (3, 100), (52, 149)]:
        assert log2.get(s) == want, s


def test_foreign_names_in_data_and_patch_dirs_fail_loudly(spark, tmp_path):
    """A foreign *.parquet in data/ or patch/ fails with the path
    named — a bare int() error (or worse, a bogus parsed seq range
    corrupting recovery) must never happen."""
    import os

    from pyspark.sql import types as T

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.LongType())
    log.append(1)
    open(os.path.join(log._data_dir, "upload.parquet"), "w").close()
    with pytest.raises(ValueError, match="foreign entry in log data dir"):
        OffsetLog(spark, str(tmp_path / "log"))
    os.remove(os.path.join(log._data_dir, "upload.parquet"))

    log.null(0)
    open(os.path.join(log._patch_dir, "patch-x.parquet"), "w").close()
    with pytest.raises(ValueError, match="foreign entry in log patch dir"):
        OffsetLog(spark, str(tmp_path / "log"))


# ---------------------------------------------------------------------------
# OffsetLog read path: supersede rule, driver-side pull reads, job count
# ---------------------------------------------------------------------------


def _supersede_brute(entries):
    """The supersede rule by its definition: an entry is dead iff its
    range lies inside a strictly wider entry's range."""
    return sorted(
        e for e in entries
        if not any(
            o[0] <= e[0] and e[1] <= o[1] and o[1] - o[0] > e[1] - e[0]
            for o in entries
        )
    )


_ranges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 12)).map(lambda t: (t[0], t[0] + t[1])),
    min_size=1,
    max_size=12,
)


@settings(max_examples=300, deadline=None)
@given(
    _ranges,
    # nested compaction outputs: unions of runs of the sorted ranges
    st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=3),
)
def test_supersede_sweep_matches_definition(ranges, merges):
    ranges = sorted(ranges)
    for a, b in merges:
        i, j = sorted((a % len(ranges), b % len(ranges)))
        run = ranges[i: j + 1]
        ranges.append((min(r[0] for r in run), max(r[1] for r in run)))
    entries = [(lo, hi, i) for i, (lo, hi) in enumerate(ranges)]
    got = _supersede(entries)
    assert sorted(got) == _supersede_brute(entries)
    assert got == sorted(got, key=lambda e: (e[0], -e[1]))


def test_supersede_sweep_edges():
    assert _supersede([(3, 7, "a")]) == [(3, 7, "a")]
    # equal firsts: the wider entry wins; equal ranges do not cover each other
    assert _supersede([(0, 4, "a"), (0, 9, "b"), (5, 9, "c")]) == [(0, 9, "b")]
    assert _supersede([(2, 5, "a"), (2, 5, "b")]) == [(2, 5, "a"), (2, 5, "b")]
    # equal lasts: the one starting earlier wins
    assert _supersede([(4, 9, "a"), (0, 9, "b")]) == [(0, 9, "b")]
    # partial overlap supersedes nothing
    assert _supersede([(0, 5, "a"), (3, 9, "b")]) == [(0, 5, "a"), (3, 9, "b")]


def _fidelity_values(kind):
    from pyspark.sql import types as T

    if kind == "msgpack":
        return None, "msgpack", lambda i: {"i": i, "tags": ["t", str(i)], "x": i / 4}
    value_type, make = {
        "long": (T.LongType(), lambda i: i * 7 - 20),
        "string": (T.StringType(), lambda i: f"s{i}-é" * (i % 3)),
        "binary": (T.BinaryType(), lambda i: bytes([i, 255 - i, 0])),
        "double": (T.DoubleType(), lambda i: i * 1.5 - 3.25),
        "struct": (T.StructType([T.StructField("v", T.DoubleType())]), lambda i: {"v": i / 8}),
        "array_float": (T.ArrayType(T.FloatType()), lambda i: [float(i), 0.25, -1.5][: i % 4]),
    }[kind]
    return value_type, None, make


def _publish_merged(log, entries):
    """A compaction output over ``entries``, published while the inputs
    stay on disk: the state a crash between publish and delete leaves."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    lo, hi = entries[0][0], entries[-1][1]
    table = pa.concat_tables(
        pq.read_table(p, schema=log._arrow()) for _l, _h, p in entries
    ).sort_by("seq")
    pq.write_table(table, os.path.join(log._data_dir, f"part-{lo:020d}-{hi:020d}.parquet"))


_PLANS = [
    [],
    [Gt(4)],
    [Lte(6)],
    [Gt(1), Lte(9)],
    [Gte(3), Lt(11)],
    [Reverse(True)],
    [Reverse(True), Limit(3)],
    [Gte(2), Lt(10), Reverse(True), Limit(4)],
    [Gt(5), Limit(2)],
    [Limit(5)],
    [Limit(0)],
    [Gt(100)],
]


@pytest.mark.parametrize(
    "kind", ["long", "string", "binary", "double", "struct", "array_float", "msgpack"]
)
def test_pull_query_matches_spark_view(spark, tmp_path, kind):
    """Pull query() (driver-side reads) returns what the Spark view
    df() holds, decoded, for every value type: through null and
    replace patches, a bulk append_df entry between single appends,
    and dead compaction inputs a crash left on disk."""
    from pyspark.sql import types as T

    from margaret_spark.qry import apply_plan_rows, build_plan

    value_type, codec, make = _fidelity_values(kind)
    # a path Spark URL-encodes: the dead-input filter matches encoded paths
    log = OffsetLog(spark, str(tmp_path / "a log%"), value_type=value_type, codec=codec)
    vals = [make(i) for i in range(14)]
    log.append_many(vals[0:3])
    log.append(vals[3])
    if codec is None:
        schema = T.StructType([T.StructField("value", value_type)])
        log.append_df(spark.createDataFrame([(v,) for v in vals[4:8]], schema))
    else:
        log.append_many(vals[4:8])
    log.append_many(vals[8:10])
    log.null(2)
    log.replace(5, vals[12])
    log.replace(5, vals[13])  # the latest patch wins
    log.null(9)
    log.replace(9, vals[11])

    def check():
        decoded = []
        for r in log.df().orderBy("seq").collect():
            v = r["value"]
            if r["nulled"]:
                v = "ErrNulled"
            elif codec is not None:
                v = log.codec.unmarshal(v)
            elif hasattr(v, "asDict"):
                v = v.asDict(recursive=True)
            decoded.append((r["seq"], v))
        for specs in _PLANS:
            got = [
                (s, "ErrNulled" if isinstance(v, ErrNulled) else v)
                for s, v in log.query(*specs, SeqWrap(True))
            ]
            assert got == list(apply_plan_rows(decoded, build_plan(specs))), specs
        assert [v for _s, v in decoded] == [
            "ErrNulled" if isinstance(v, ErrNulled) else v for v in log.query()
        ]
        return decoded

    live_before = check()
    assert [e[1] - e[0] for e in log._data_files()] == [2, 0, 3, 1]
    _publish_merged(log, log._data_files()[:2])  # single-file inputs left behind
    log.append_many(vals[10:12])
    _publish_merged(log, log._data_files()[1:3])  # the bulk entry left behind
    assert len(log._data_files()) == 3
    assert check()[:10] == live_before


def test_reads_start_no_spark_jobs(spark, tmp_path):
    """Building df()/query_df() over a log of more than 32 data files
    lists the data directory on the driver, and pull-query and
    build_index catch-ups read files on the driver: none of them
    starts a Spark job."""
    from margaret_spark.indexes import MemSetterIndex, SinkIndex, build_index

    log = OffsetLog(spark, str(tmp_path / "log"), codec="msgpack")
    for i in range(41):
        log.append_many([{"k": f"k{i % 5}", "i": i}, {"k": "z", "i": -i}])
    log.null(3)
    idx = MemSetterIndex(spark)
    sink = SinkIndex(lambda s, v, ix: ix.set(v["k"], v["i"]), idx)
    build_index(log, sink)
    log.append_many([{"k": "k0", "i": 99}])

    sc = spark.sparkContext
    group = f"offsetlog-read-jobs-{id(log)}"
    sc.setJobGroup(group, "OffsetLog reads")
    try:
        log.df()
        log.query_df(Gt(10), Limit(5), ordered=True)
        tail = list(log.query(Gt(70), SeqWrap(True)))
        build_index(log, sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [s for s, _v in tail] == list(range(71, 83))
    assert idx.get_seq() == 82 and idx.get("k0").value() == 99
