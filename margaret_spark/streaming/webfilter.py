"""Streaming at-ingest web curation: URL canonicalization + domain
blocklist applied to a log's append stream — documents from
blocklisted domains never land in the sink, and every surviving row
carries its canonical URL and registered domain, so downstream
consumers join/dedup on the canonical key from the moment of ingest
(the at-ingest variant of ``operators.web``).

Stateless like the PII scrub: the whole pass is per-row codegen
string expressions shared with the batch operator (no drift possible),
so the streaming plan is a map+filter over each micro-batch — no
state store, no watermark, no shuffle; exactly-once into an
append-mode parquet sink via the checkpoint. With ``psl_rules`` the
registered domain resolves against a real public-suffix list instead
of the heuristic — the per-depth rule tables become STREAM-STATIC
broadcast left joins (supported unrestricted by Structured
Streaming), still zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from margaret_spark.log import OffsetLog
from margaret_spark.operators.web import (
    canonicalize_url,
    registered_domain,
    url_host,
    with_registered_domain_psl,
)
from margaret_spark.streaming.sinks import start_stream


def stream_web_filter(
    log: OffsetLog,
    url_expr: Column,
    blocked: list[str],
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    psl_rules: list[str] | None = None,
):
    """Filter + annotate a log's append stream by URL: drop rows whose
    registered domain is in ``blocked``; write ``(seq, url_canonical,
    url_domain)`` append-mode. Rows with a NULL domain (missing or
    unparseable URL) are KEPT, matching the batch
    ``filter_blocked_domains`` — an unattributable row matches no
    blocklist entry. ``psl_rules`` switches the domain column (and so
    the blocklist semantics) to public-suffix-list resolution. With
    ``available_now`` drains the log and returns; otherwise returns
    the running StreamingQuery."""
    src = log.stream_df(max_files_per_trigger=max_files_per_trigger)
    host = url_host(url_expr)
    if psl_rules is not None:
        staged = src.select(
            F.col("seq"),
            canonicalize_url(url_expr).alias("url_canonical"),
            host.alias("__host"),
        )
        out = with_registered_domain_psl(
            staged, "__host", psl_rules, out_col="url_domain"
        ).select("seq", "url_canonical", "url_domain")
    else:
        out = src.select(
            F.col("seq"),
            canonicalize_url(url_expr).alias("url_canonical"),
            registered_domain(host).alias("url_domain"),
        )
    if blocked:
        dom = F.col("url_domain")
        out = out.where(dom.isNull() | ~dom.isin(*blocked))
    w = (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .outputMode("append")
    )
    return start_stream(w, checkpoint_dir, available_now)
