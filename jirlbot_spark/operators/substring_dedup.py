"""Corpus-level duplicated-substring removal (exact, span-level).

The operator family published as "suffix-array dedup" for LLM training
corpora (Lee et al. 2021, "Deduplicating Training Data Makes Language
Models Better"): any token run of length >= k that occurs more than once
ANYWHERE in the corpus is removed from every occurrence except one
canonical copy. Unlike document-level dedup (dedup_exact / minhash),
this kills the boilerplate *inside* otherwise-unique pages — license
headers, navigation chrome, quoted reposts — which document hashes
never see.

Spark-first re-expression (no suffix array; a suffix array is a global
sorted structure that fights partitioning):

1.  Every k-token window becomes (doc_id, pos, xxhash64(tok_1..tok_k))
    — the pinned shingle plan shape (tokenize-below-Generate, see
    text_dedup.shingle_hashes) but KEEPING positions instead of
    distinct-ing. A run of length L >= k duplicated across documents
    duplicates all L-k+1 of its windows, so removing the union of
    duplicated-window spans removes exactly the maximal duplicated
    runs. Only (int64, int, int64) triples reach the exchange; text
    never shuffles.
2.  One map-side-combined groupBy(window_hash) computes the occurrence
    count and the canonical occurrence = min (doc_id, pos) struct —
    deterministic under any partitioning, retry, or cluster size.
3.  Occurrences join the duplicated-hash table back on the hash
    (shuffle-hash equi join; both sides are already hash-partitioned
    on the key so AQE reuses the exchange) and drop the canonical
    copy; survivors are [pos, pos+k) token spans to delete.
4.  Spans merge per document with the classic gaps-and-islands
    windows: a span starts a new island iff its start exceeds the
    running max end of everything before it (touching spans merge —
    half-open intervals, so the covered token set is unchanged).
    partitionBy(doc_id) is bounded by document length, not corpus
    size: no skew risk beyond the longest document.
5.  `strip_dup_spans` rebuilds the cleaned text per document: tokens
    whose 1-based index falls inside any deleted span are dropped and
    the rest re-join with single spaces (the tokenizer's whitespace-
    normalized view of the document — pinned contract, identical in
    the DuckDB oracle). The per-doc span list is merged-disjoint, so
    its size is bounded by len(doc)/k.

Scale posture at 10^10 documents: the wide exchanges carry 20-byte
window triples and (hash, keep) pairs only; a window duplicated 10^9
times (site-wide boilerplate) is one row on the build side of the
join-back, so hot windows cannot blow up any task. The canonical-copy
rule needs no global sort — min(struct) combines associatively.

No reference counterpart exists (JIRLbot crawls; it does not curate);
semantics are pinned to the published recipe above. Driver key
`dedup_substrings` has a fully INDEPENDENT DuckDB oracle that
recomputes duplicated windows over gram STRINGS (no hashing shared),
so green also certifies the 64-bit no-collision assumption at fixture
scale, exactly like `decontaminate`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jirlbot_spark.functions.text import tokens_col
from jirlbot_spark.session import materialize

__all__ = [
    "window_hashes",
    "duplicated_window_spans",
    "strip_dup_spans",
    "dedup_substrings",
]


def window_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(id, pos, wh) — ALL word k-gram occurrences per doc with their
    1-based start token index. Same codegen'd explode-of-start-indices
    + multi-arg xxhash64 shape as text_dedup.shingle_hashes (and the
    same CollapseProject trap: the token split must live in its own
    projection below the Generate — see that docstring), minus the
    .distinct(): positions are the point here."""
    step = docs.select(F.col(id_col), tokens_col(text_col).alias("__toks"))
    n_w = F.size("__toks") - F.lit(k - 1)
    # sequence(1, n) DESCENDS when n < 1 — guard short/empty docs
    starts = F.when(n_w < 1, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), F.greatest(n_w, F.lit(1)))
    )
    i = F.col("pos")
    return step.select(
        F.col(id_col), "__toks", F.explode(starts).alias("pos")
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.xxhash64(*[F.element_at("__toks", i + j) for j in range(k)]).alias(
            "wh"
        ),
    )


def duplicated_window_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(id, span_start, span_end) — merged, disjoint, half-open 1-based
    token spans to DELETE per document. Every k-token window occurring
    more than once corpus-wide contributes its [pos, pos+k) span at
    every occurrence EXCEPT the canonical one (global min (doc_id,
    pos) — so exactly one copy of every duplicated run survives, in
    the first document that carries it).

    The occurrence frame feeds both the per-hash agg and the join-back
    probe; the agg side exchanges partial-agg rows so ReuseExchange
    cannot unify them (verified on the executed plan) — without
    materialization the corpus would scan + tokenize TWICE. occ goes
    through `session.materialize` (the minhash A/B in
    text_dedup.minhash_dedup measured recompute-per-branch at 5-7x the
    materialized cost, and .persist() worse than nothing), cutting the
    whole operator to one corpus scan here + one in strip_dup_spans."""
    occ = materialize(
        window_hashes(docs, text_col, id_col, k), "substring-occ"
    )
    per_hash = (
        occ.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__keep"),
        )
        .where(F.col("__n") > 1)
        .select("wh", "__keep")
    )
    dup = (
        occ.join(per_hash, "wh")
        .where(
            ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("pos") == F.col("__keep.pos"))
            )
        )
        .select(id_col, "pos")
    )
    # gaps-and-islands merge of [pos, pos+k) per doc; touching spans
    # merge (half-open ⇒ covered-token union is identical either way)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.select(
        F.col(id_col),
        "pos",
        F.when(
            prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1
        )
        .otherwise(0)
        .alias("__new"),
    )
    gid = F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        flagged.select(F.col(id_col), "pos", gid.alias("__gid"))
        .groupBy(id_col, "__gid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def strip_dup_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebuild each document with its deleted spans removed: token i
    (1-based) survives iff no span has span_start <= i < span_end;
    survivors re-join with single spaces (whitespace-normalized —
    pinned contract). Adds n_tokens (pre-strip) and n_removed. The
    span list per doc is merged-disjoint so the higher-order filter is
    O(tokens · spans) with spans <= len/k; text stays at document
    granularity throughout (never exploded, never shuffled — the join
    key is the doc id)."""
    doc_spans = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = docs.join(doc_spans, id_col, "left").withColumn(
        "__spans",
        F.coalesce(
            "__spans",
            F.array().cast("array<struct<span_start:int,span_end:int>>"),
        ),
    )
    step = joined.withColumn("__toks", tokens_col(text_col))
    kept = F.expr(
        "filter(__toks, (x, i) -> NOT exists(__spans, "
        "s -> i + 1 >= s.span_start AND i + 1 < s.span_end))"
    )
    return step.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).alias("n_removed"),
    )


def dedup_substrings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """End-to-end: (id, clean_text, n_tokens, n_removed) with every
    corpus-duplicated >=k-token run removed from all but its canonical
    occurrence."""
    spans = duplicated_window_spans(docs, text_col, id_col, k)
    return strip_dup_spans(docs, spans, text_col, id_col)
