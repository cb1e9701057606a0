"""The curation pipeline — raw fetched text to training-ready corpus.

Every published web-corpus pipeline is the same composition: structural
dedup, then quality gates, then privacy scrubbing (C4 / CCNet / Gopher
/ RefinedWeb differ in the pieces, not the shape). The engine ships
each stage as an independent operator with its own driver key; this
plan composes three of them into the one call a pipeline user actually
runs, with per-stage accounting:

    1. line_dedup        — corpus-duplicated boilerplate lines out
                           (CCNet/RefinedWeb recipe, normalized hashes)
    2. gopher_quality    — doc-level accept/reject rule battery over
                           the CLEANED text (order matters and is
                           pinned: a page that is 90% nav-bar lines
                           should be judged on its surviving content,
                           not rejected for the boilerplate's symbols)
    3. pii_scrub         — EMAIL -> IPv4 -> phone redaction on the
                           survivors only (scrubbing rejected docs is
                           wasted work — the gate runs first)

Output: every input doc_id with its per-stage counters, flags, and —
for kept documents — the final scrubbed text ('' for rejected docs so
the schema is total and the reject reasons stay inspectable).

Scale posture: stage 1 is the only shuffle (int64 line hashes); stages
2-3 are pure projections fused into the same whole-stage-codegen pass
over stage 1's output. Rejected documents never reach the pii regex
chain.

Driver key `curate_corpus`: the oracle composes the same three stages
from their own INDEPENDENT SQL formulations (the dedup_lines CTE, the
gopher counter battery, the pii chain on DuckDB's RE2) — green
certifies the composition order end-to-end, not just the pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from jirlbot_spark.functions.gopher import gopher_quality
from jirlbot_spark.functions.pii import pii_counts, scrub_pii
from jirlbot_spark.operators.line_dedup import line_dedup

__all__ = ["curate_corpus"]


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100000,
    max_line_occurrences: int = 1,
) -> DataFrame:
    """(id, clean_text, n_lines_removed, <gopher counters+flags>, keep,
    n_email, n_ip, n_phone). clean_text is the deduped+scrubbed text
    for kept docs, '' otherwise."""
    deduped = line_dedup(
        docs.select(id_col, text_col),
        text_col=text_col,
        id_col=id_col,
        max_occurrences=max_line_occurrences,
    ).select(
        F.col(id_col),
        F.col("clean_text").alias("__t"),
        F.col("n_removed").alias("n_lines_removed"),
    )
    gated = gopher_quality(
        deduped.withColumnRenamed("__t", "text"),
        text_col="text",
        min_words=min_words,
        max_words=max_words,
    )
    kept_text = F.when(F.col("keep"), F.col("text")).otherwise(F.lit(""))
    return gated.select(
        id_col,
        scrub_pii(kept_text).alias("clean_text"),
        "n_lines_removed",
        "n_words",
        "sum_word_len",
        "n_symbols",
        "n_lines",
        "n_bullet",
        "n_ellipsis",
        "n_alpha_words",
        "n_stop_hits",
        "flag_word_count",
        "flag_mean_len",
        "flag_symbol",
        "flag_bullet",
        "flag_ellipsis",
        "flag_alpha",
        "flag_stop",
        "keep",
        *pii_counts(kept_text),
    )
