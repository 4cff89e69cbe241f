"""Suffix-array-bar repeat enumeration (operators.suffixes): pinned
maximality semantics on a hand-checkable corpus, and a brute-force
definitional model check on randomized corpora."""

import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from margaret_spark.operators.suffixes import suffix_repeats


def _brute(rows, min_len, top_k):
    """The definition: enumerate every substring of length >= min_len,
    count (doc, pos) occurrences, keep counts >= 2, right-maximality
    (no single-token extension with equal count), left-maximality
    (doc-start occurrence or two different preceding tokens), top-k by
    (length desc, text asc)."""
    toks = {d: t.split() for d, t in rows if t and t.split()}
    counts = Counter()
    occs = defaultdict(list)
    for d, ts in toks.items():
        n = len(ts)
        for p in range(n):
            for l in range(min_len, n - p + 1):
                w = tuple(ts[p : p + l])
                counts[w] += 1
                occs[w].append((d, p))
    out = []
    for w, c in counts.items():
        if c < 2:
            continue
        ext = Counter()
        for d, p in occs[w]:
            ts = toks[d]
            if p + len(w) < len(ts):
                ext[ts[p + len(w)]] += 1
        if any(v == c for v in ext.values()):
            continue  # not right-maximal
        prevs = set()
        at_start = False
        for d, p in occs[w]:
            if p == 0:
                at_start = True
            else:
                prevs.add(toks[d][p - 1])
        if not at_start and len(prevs) < 2:
            continue  # not left-maximal
        out.append((" ".join(w), len(w), c, len({d for d, _ in occs[w]})))
    out.sort(key=lambda r: (-r[1], r[0]))
    return [
        (i + 1, t, l, c, nd) for i, (t, l, c, nd) in enumerate(out[:top_k])
    ]


def test_suffix_repeats_pinned_semantics(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "x a b c d e f y"),
        (3, "q q a b c d e f g z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in suffix_repeats(df, "doc_id", "text", min_len=3, top_k=10).collect()]
    # "a b c d e f g" occurs in docs 1+3 (right-maximal: h vs z;
    # left-maximal: doc-start in 1); "a b c d e f" occurs 3x
    # (extensions g/g/y split -> right-maximal; prevs x/q + doc start
    # -> left-maximal). "b c d e f g" is NOT left-maximal (always
    # preceded by 'a') and must be absent.
    assert got == [
        (1, "a b c d e f g", 7, 2, 2),
        (2, "a b c d e f", 6, 3, 3),
    ]
    assert got == _brute(rows, 3, 10)


def test_suffix_repeats_same_doc_and_start_edges(spark):
    rows = [
        # internal repeat: "p q r" twice within one doc (positions 1, 4)
        (1, "p q r z p q r"),
        # doc made of one token repeated (overlapping repeats)
        (2, "m m m m m"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in suffix_repeats(df, "doc_id", "text", min_len=2, top_k=20).collect()]
    assert got == _brute(rows, 2, 20)
    texts = {t for _, t, *_ in got}
    assert "p q r" in texts  # same-doc occurrences count


def test_suffix_repeats_matches_bruteforce_random(spark):
    rng = random.Random(42)
    vocab = ["a", "b", "c", "d", "e"]
    rows = []
    for d in range(12):
        n = rng.randint(1, 30)
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant an exact shared passage in three docs
    passage = "u v w x y z u v"
    for d in (20, 21, 22):
        pre = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 5)))
        rows.append((d, (pre + " " + passage).strip()))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in suffix_repeats(df, "doc_id", "text", min_len=3, top_k=15).collect()]
    want = _brute(rows, 3, 15)
    assert got == want
    assert any(t.startswith("u v w x y z") for _, t, *_ in got)


def test_suffix_repeats_guards(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        suffix_repeats(df, "doc_id", "text", min_len=1)
    with pytest.raises(ValueError):
        suffix_repeats(df, "doc_id", "text", top_k=0)
    with pytest.raises(ValueError):
        suffix_repeats(df, "doc_id", "text", cap_log2=1)
    with pytest.raises(ValueError):
        suffix_repeats(df, "doc_id", "text", min_len=9, cap_log2=3)
    # no repeats at all -> typed empty frame
    out = suffix_repeats(df, "doc_id", "text", min_len=2, top_k=5)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "rank", "text", "n_tokens", "n_occurrences", "n_docs",
    ]


def test_suffix_repeats_cross_corpus_tag(spark):
    """tag_col/require_cross: only repeats with occurrences on BOTH
    sides of the tag survive, tagged counts are exact, and a
    same-side-only repeat is excluded."""
    rows = [
        (1, "s t u v w k1", False),
        (2, "s t u v w k2", True),   # crosses the tag with doc 1
        (3, "m n o p q k3", False),
        (4, "m n o p q k4", False),  # same-side repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    got = [
        tuple(r)
        for r in suffix_repeats(
            df, "doc_id", "text", min_len=3, top_k=10,
            tag_col="is_t", require_cross=True,
        ).collect()
    ]
    assert got == [(1, "s t u v w", 5, 2, 2, 1, 1)]
    # without require_cross both repeats appear, with tagged counts
    allr = {
        r.text: (r.n_occurrences, r.n_occurrences_tagged)
        for r in suffix_repeats(
            df, "doc_id", "text", min_len=3, top_k=10, tag_col="is_t"
        ).collect()
    }
    assert allr == {"s t u v w": (2, 1), "m n o p q": (2, 0)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        suffix_repeats(df, "doc_id", "text", require_cross=True)


def test_first_index_and_class_rank_semantics(spark):
    """r12 singleton-freezing machinery: with_first_index_rank_total
    assigns rank = 1 + |rows with strictly smaller key| and flags keys
    occurring ≥ 2 times; with_class_rank_total refines multi-member
    classes class-relatively so that the refined ranks equal the
    global first-index ranks of the refined key. Run at a tiny Arrow
    batch size so the run scan's cross-batch carry (deferred
    single-member tail runs) is exercised."""
    import random

    from margaret_spark.functions.seqassign import (
        with_class_rank_total,
        with_first_index_rank_total,
    )

    rng = random.Random(7)
    # skewed multiset: long equal runs (spanning several 7-row Arrow
    # batches) plus singletons
    rows = []
    rid = 0
    for a in range(1, 9):
        for _ in range(rng.choice([1, 1, 2, 5, 23])):
            rows.append((rid, a, rng.randint(0, 2)))
            rid += 1
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id long, a long, b long")

    def brute_first_index(keyed):
        skeys = sorted(keyed.values())
        from collections import Counter

        cnt = Counter(keyed.values())
        return (
            {i: 1 + sum(1 for s in skeys if s < k) for i, k in keyed.items()},
            {i: cnt[k] >= 2 for i, k in keyed.items()},
        )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # global form over (a, b)
        ranked, nflag, nrows = with_first_index_rank_total(
            df, ["a", "b"], "r", "u"
        )
        got = {r["id"]: (r["r"], r["u"]) for r in ranked.collect()}
        want_r, want_u = brute_first_index({i: (a, b) for i, a, b in rows})
        assert nrows == len(rows)
        assert got == {i: (want_r[i], want_u[i]) for i, _, _ in rows}
        assert nflag == sum(want_u.values())

        # class form: class col = first-index rank over `a` alone,
        # input restricted to multi-member a-classes (the freezing
        # contract); refined ranks must equal the global first-index
        # ranks over (a, b)
        ra, ua = brute_first_index({i: a for i, a, _ in rows})
        unres = [(i, ra[i], b) for i, a, b in rows if ua[i]]
        udf = spark.createDataFrame(unres, "id long, r long, b long")
        refined, nflag2, nrows2 = with_class_rank_total(
            udf, "r", ["b"], "nr", "uu"
        )
        got2 = {r["id"]: (r["nr"], r["uu"]) for r in refined.collect()}
        assert nrows2 == len(unres)
        want2 = {i: (want_r[i], want_u[i]) for i, _, _ in unres}
        assert got2 == want2
        assert nflag2 == sum(1 for v in want2.values() if v[1])
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.mark.parametrize("bad", [None, float("nan")])
def test_run_scan_rejects_null_and_nan_keys(bad):
    """The sorted-partition run scan compares neighbouring keys, and
    NaN never equals itself: a null/NaN key class would split into
    singleton runs. The scan rejects it, naming the key columns."""
    import pandas as pd

    from margaret_spark.functions.seqassign import _run_scan_factory

    scan = _run_scan_factory(["a", "b"], "r", "u", False)
    ok = pd.DataFrame({"a": [1.0, 1.0, 2.0], "b": [0, 0, 1]})
    assert [len(p) for p in scan(iter([ok]))] == [2, 1]
    batches = [ok, pd.DataFrame({"a": [2.0, bad, bad], "b": [1, 1, 1]})]
    with pytest.raises(ValueError, match=r"null or NaN key in columns \['a', 'b'\]"):
        list(scan(iter(batches)))


def test_bucket_exchange_dense_rank_equivalence(spark):
    """The arithmetic-bucket exchange (seqassign._bucket_exchange)
    must reproduce the range partitioner's dense ranks exactly:
    same values, same key order, same cardinality — r11 pinned after
    the sampling-free rewrite of the suffix doubling loop."""
    from pyspark.sql import functions as F

    from margaret_spark.functions.seqassign import with_dense_rank_total
    from margaret_spark.operators.suffixes import _rank_bucket

    n_part = max(spark.sparkContext.defaultParallelism, 1)
    # skewed synthetic ranks (r ~ quadratic), secondary keys shuffled
    rows = [(i, (i * i) % 37 + 1, (i * 7) % 11, (i * 13) % 5) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, r long, r2 long, r3 long")
    base, n_base, rows_base = with_dense_rank_total(
        df, ["r", "r2", "r3"], "nr"
    )
    bucketed, n_b, rows_b = with_dense_rank_total(
        df, ["r", "r2", "r3"], "nr",
        bucket=_rank_bucket(F.col("r"), 37, n_part),
    )
    assert (n_base, rows_base) == (n_b, rows_b)
    a = {tuple(r) for r in base.select("id", "nr").collect()}
    b = {tuple(r) for r in bucketed.select("id", "nr").collect()}
    assert a == b
