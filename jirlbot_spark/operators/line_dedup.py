"""Corpus-level duplicated-LINE removal (CCNet / RefinedWeb recipe).

The paragraph/line-hash dedup step every published web-corpus pipeline
runs before model training (CCNet: Wenzek et al. 2020 dedups paragraph
hashes across shards; RefinedWeb: Penedo et al. 2023 strips duplicated
lines as part of "line-wise corrections"): a line whose NORMALIZED form
occurs more than `max_occurrences` times anywhere in the corpus is
boilerplate (nav bars, cookie banners, footers) and is removed — from
every occurrence, or from all but the canonical first occurrence when
`keep_first=True` (the CCNet keep-one-copy behavior).

Normalization is the pinned CCNet-style hash key: lowercase, digits
stripped, whitespace collapsed, trimmed. It exists so "Copyright 2023
..." and "Copyright 2024 ..." hash together; REMOVAL always applies to
the original raw line. Blank-normalized lines are structure, not
boilerplate — they are exempt (kept, never counted).

Relation to the siblings: `dedup_exact`/`minhash` act at document
granularity, `dedup_substrings` at token-window granularity; this one
acts at the line granularity the published web pipelines actually use
for boilerplate, and it is the only one whose key is a NORMALIZED form.

Physical shape (the substring_dedup plan, one granularity up):

1.  split('\\n') + posexplode keeps (doc_id, line_no, xxhash64(norm))
    — 20-byte triples on the exchange, raw text never shuffles.
2.  One map-side-combined groupBy(hash): occurrence count + canonical
    occurrence = min (doc_id, line_no) struct — deterministic under
    any partitioning/retry/cluster size.
3.  Join-back marks the occurrences to drop; the occurrence frame
    feeds both the agg and the probe, so it is materialized through
    `session.materialize` (durable parquet when the session has a
    checkpoint directory) — the minhash A/B measured
    recompute-per-branch at 5-7x materialized cost.
4.  Rebuild joins each doc's (bounded: <= its own line count) drop
    list back on doc_id and filters lines by index — text stays at
    document granularity, never exploded into a shuffle.

Scale posture at 10^10 documents: a line duplicated 10^9 times (a
site-wide nav bar) is ONE row on the build side of the join-back, so
hot lines cannot blow up any task; per-doc drop lists are bounded by
document length, not corpus size.

No reference counterpart exists (JIRLbot crawls; it does not curate);
semantics pinned to the published recipes above. Driver key
`dedup_lines` has a fully INDEPENDENT DuckDB oracle that recomputes
normalization, counting, the keep rule, and the rebuild over line
STRINGS (no hashing shared), so green also certifies the 64-bit
no-collision assumption at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from jirlbot_spark.session import materialize

__all__ = ["normalized_line", "line_occurrences", "line_dedup"]


def normalized_line(c: Column) -> Column:
    """The pinned CCNet-style line-hash key: lowercase, digits out,
    whitespace collapsed, trimmed. Lives in the Java-regex∩RE2 common
    subset so the DuckDB oracle can run the identical chain."""
    out = F.lower(c)
    out = F.regexp_replace(out, "[0-9]", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def line_occurrences(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, line_no, h) — every non-blank-normalized line occurrence;
    line_no is 0-based. Only (int64, int, int64) triples leave the
    scan."""
    lines = F.split(F.col(text_col), "\n")
    return (
        docs.select(F.col(id_col), F.posexplode(lines).alias("line_no", "__l"))
        .select(
            F.col(id_col),
            "line_no",
            normalized_line(F.col("__l")).alias("__norm"),
        )
        .where(F.col("__norm") != "")
        .select(id_col, "line_no", F.xxhash64("__norm").alias("h"))
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
    keep_first: bool = True,
) -> DataFrame:
    """(id, clean_text, n_lines, n_removed) with every corpus-wide
    duplicated line (normalized count > max_occurrences) removed —
    keeping the canonical min-(doc_id, line_no) occurrence when
    keep_first, removing all copies otherwise."""
    occ = materialize(line_occurrences(docs, text_col, id_col), "line-occ")
    per_hash = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("__keep"),
        )
        .where(F.col("__n") > max_occurrences)
        .select("h", "__keep")
    )
    drops = occ.join(per_hash, "h")
    if keep_first:
        drops = drops.where(
            ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("line_no") == F.col("__keep.line_no"))
            )
        )
    doc_drops = drops.groupBy(id_col).agg(
        F.collect_list("line_no").alias("__drop")
    )
    joined = docs.join(doc_drops, id_col, "left").withColumn(
        "__drop", F.coalesce("__drop", F.array().cast("array<int>"))
    )
    step = joined.withColumn("__lines", F.split(F.col(text_col), "\n"))
    # posexplode's index is 0-based; HOF filter's index is 0-based too
    kept = F.expr("filter(__lines, (x, i) -> NOT array_contains(__drop, i))")
    return step.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size("__lines").cast("long").alias("n_lines"),
        F.size("__drop").cast("long").alias("n_removed"),
    )
