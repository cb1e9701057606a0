"""Physical-plan audit: print `.explain(formatted)` for the engine's hot
operators and grep the evidence that the scale posture holds —
PushedFilters reaching parquet scans, WholeStageCodegen spans, broadcast
joins for small dims, single wide exchange in the DRUM classify plan.

Writes PLANS.md at the repo root. Run: python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.01"


def capture_plan(df, execute: bool = True) -> str:
    """Formatted physical plan; by default after running the query, so
    AdaptiveSparkPlan shows the FINAL runtime plan (isFinalPlan=true)
    with codegen ids — the initial plan hides codegen annotation and may
    differ from what actually executed."""
    if execute:
        # collect() runs the DataFrame's OWN QueryExecution (count() would
        # build a different one), so the subsequent explain prints the
        # final adaptive plan with codegen ids
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# per-run counters in plan text: expression ids, exchange plan ids,
# codegen stage ids, RDD ids and AQE query stage ids
_RUN_IDS = (
    r"#(\d+)",
    r"plan_id=(\d+)",
    r"codegen id : (\d+)",
    r"RDD\[(\d+)\]",
    r"QueryStage\n(?:Output .*\n)?Arguments: (\d+)\n",
)


def stable_text(plan: str, workdir: str) -> str:
    """The plan as written to PLANS.md: the per-run temp workdir becomes
    `<workdir>` and each per-run counter is renumbered in order of first
    appearance, so repeat runs write identical bytes for identical plans.
    Checks read the raw plans, never this text."""
    text = plan.replace(workdir, "<workdir>")
    for pattern in _RUN_IDS:
        ids: dict[str, int] = {}

        def renumber(m: re.Match) -> str:
            new = ids.setdefault(m.group(1), len(ids) + 1)
            at, end = m.start(1) - m.start(), m.end(1) - m.start()
            return m.group(0)[:at] + str(new) + m.group(0)[end:]

        text = re.sub(pattern, renumber, text)
    return text


def main() -> None:
    from pyspark.sql import functions as F

    import bench
    from jirlbot_spark.operators.beast import beast_enforce
    from jirlbot_spark.operators.dedup import check_update
    from jirlbot_spark.operators.membership import build_bloom_files
    from jirlbot_spark.session import get_spark

    spark = get_spark(
        app_name="plan-audit",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    wd = tempfile.mkdtemp(prefix="plan_audit_")
    sections: list[tuple[str, str, str]] = []  # (title, commentary, plan)

    # --- scan pruning: filter + projection must reach the parquet scan
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_quantity"
    )
    sections.append(
        (
            "Scan pruning (filter + column pushdown)",
            "The filter and the 2-column projection must appear in the "
            "parquet scan node (PushedFilters / ReadSchema) — a scan "
            "reading all 16 lineitem columns for this query would be "
            "wrong.",
            capture_plan(q),
        )
    )

    # --- DRUM classify: ONE wide exchange, reused by window + join
    prepared = bench.prepare_urls(bench.build_frontier(spark, 200_000))
    prepared.write.mode("overwrite").parquet(wd + "/prep")
    prepared = spark.read.parquet(wd + "/prep")
    seen = prepared.limit(50_000).select(
        "url_hash",
        F.pmod("url_hash", F.lit(32)).cast("int").alias("bucket"),
    )
    seen.write.mode("overwrite").partitionBy("bucket").parquet(wd + "/seen")
    seen = spark.read.parquet(wd + "/seen")
    classified, _ = check_update(
        prepared, seen, key_col="url_hash", order_col="id"
    )
    sections.append(
        (
            "DRUM classify (dedup.classify_batch)",
            "The wide batch must show exactly ONE Exchange "
            "hashpartitioning(url_hash...) feeding both the window sort "
            "and the membership join (exchange reuse); the seen side is a "
            "narrow key-only shuffle.",
            capture_plan(classified),
        )
    )

    # --- Bloom fast path: same shape plus a shuffle-free mapInPandas
    bloom_dir = wd + "/bloom"
    build_bloom_files(seen, bloom_dir, num_buckets=32, log2_bits=20)
    classified_b, _ = check_update(
        prepared,
        seen,
        key_col="url_hash",
        order_col="id",
        bloom_dir=bloom_dir,
    )
    sections.append(
        (
            "DRUM classify with Bloom sidecar probe",
            "Identical join/window shape; the MapInPandas probe sits "
            "BELOW the exchange (no extra shuffle) and its maybe-flag "
            "joins the equi-condition.",
            capture_plan(classified_b),
        )
    )

    # --- DRUM check_update_agg: hot-path formulation, zero sorts
    from jirlbot_spark.operators.dedup import check_update_agg

    fresh_agg, _ = check_update_agg(
        prepared, seen, key_col="url_hash", order_col="id"
    )
    sections.append(
        (
            "DRUM check_update (agg formulation — loop/bench hot path)",
            "groupBy(key).agg(min_by) + shuffle_hash left-anti join: NO "
            "Window operator — in-batch first-arrival comes from the "
            "aggregate, whose partial phase collapses duplicates before "
            "the exchange; membership is a ShuffledHashJoin (no "
            "sort-merge) reusing the aggregation's partitioning on the "
            "streamed side. (min_by over a struct plans as SortAggregate "
            "— var-length buffers aren't hash-aggregable — which still "
            "measures faster than the window and the narrow-min+join-back "
            "alternatives; see check_update_agg docstring.)",
            capture_plan(fresh_agg),
        )
    )

    # --- BEAST: budgets broadcast, salted two-phase windows
    budgets = (
        prepared.select("pld_hash").distinct()
        .withColumn("budget", F.lit(5).cast("long"))
    )
    enforced = beast_enforce(
        prepared.withColumn("priority", F.col("id").cast("double"))
        .withColumn("enqueue_batch", F.lit(0)),
        budgets,
        salt_buckets=8,
    )
    sections.append(
        (
            "BEAST admission (salted)",
            "The budget join must be a BroadcastHashJoin (budgets are "
            "top-k + default ⇒ broadcast-sized by construction); the "
            "phase-1 window partitions by (pld_hash, __salt) so no task "
            "owns a hot PLD's full row set; phase-2 runs on ≤ "
            "salt×budget survivors.",
            capture_plan(enforced),
        )
    )

    # --- similarity: blocked-exact self-join and block-matmul top-k must
    # not plan as CartesianProduct / BroadcastNestedLoopJoin
    import __spark_entry__ as entry

    embed_plan = capture_plan(entry.q_dedup_embed(spark, SF))
    sections.append(
        (
            "Embedding near-dup (blocked_neardup_exact)",
            "Exact all-pairs cosine>=t via block-nested applyInPandas "
            "self-join: rows replicate to B partner groups via a JVM "
            "explode (n·B shuffle rows), each group scores as one numpy "
            "matmul. The point of the audit: NO CartesianProduct / "
            "BroadcastNestedLoopJoin anywhere in the executed plan — the "
            "n² formulation this replaced planned as a crossJoin.",
            embed_plan,
        )
    )
    ann_plan = capture_plan(entry.q_ann_topk(spark, SF))
    sections.append(
        (
            "ANN brute top-k (brute_topk operator)",
            "Corpus blocks × query matrix inside mapInPandas; the "
            "shuffle carries only |Q|·k·P candidate rows into the global "
            "top-k window — vectors never shuffle, and no "
            "CartesianProduct appears.",
            ann_plan,
        )
    )

    # --- LSH hot-bucket bound (r4 verdict #2): with a cap below a
    # mega-bucket's size, the hot rows must route through the SALTED
    # sub-join (salt visible in the join keys), the hot-key prunes must
    # broadcast, and nothing may plan as a cartesian
    from jirlbot_spark.operators.text_dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    hot_docs = spark.range(80).select(
        F.col("id").alias("doc_id"),
        # 60 docs share one shingle set -> every band mega-buckets
        F.when(F.col("id") < 60, F.lit("common boilerplate text block"))
        .otherwise(F.concat(F.lit("unique words "), F.col("id")))
        .alias("text"),
    )
    hot_sig = minhash_signatures(shingle_hashes(hot_docs))
    hot_lsh = lsh_candidate_pairs(
        hot_sig, max_bucket_size=8, hot_mode="salted"
    )
    hotb_plan = capture_plan(hot_lsh)
    sections.append(
        (
            "LSH hot-bucket bound (bounded_bucket_self_join, salted)",
            "Over-cap band buckets route to a salted sub-join: the salt "
            "column joins alongside (band, bh) so one mega-bucket's "
            "quadratic pair enumeration spreads across salt tasks; the "
            "hot-key anti/semi prunes broadcast; cold buckets keep the "
            "plain self-join; no CartesianProduct.",
            hotb_plan,
        )
    )

    # --- shingle plan shape: tokenization must run ONCE PER DOC, in a
    # project BELOW the Generate — if CollapseProject ever pulls the
    # split above the explode it re-tokenizes per shingle row (4.7x,
    # see shingle_hashes docstring)
    from jirlbot_spark.operators.text_dedup import shingle_hashes

    docs_df = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    shingle_df = shingle_hashes(docs_df)
    shingle_df.collect()
    # simple toString tree (expressions inline per operator line) — the
    # formatted mode splits expressions into a details section, which
    # breaks the above/below-Generate position test
    shingle_plan = shingle_df._jdf.queryExecution().executedPlan().toString()
    sections.append(
        (
            "Shingle hashing (shingle_hashes)",
            "split(trim(text)) must appear below the Generate (computed "
            "per doc); everything above the explode references the "
            "__toks column only.",
            shingle_plan,
        )
    )

    def _split_below_generate(plan: str) -> bool:
        lines = plan.splitlines()
        gen_idx = [i for i, ln in enumerate(lines) if "Generate" in ln]
        if not gen_idx:
            return False
        g = gen_idx[0]
        above = "\n".join(lines[:g + 1])  # incl. the Generate line itself
        below = "\n".join(lines[g + 1 :])
        return "split(" not in above and "split(" in below

    # --- pHash near-dup: banded self-join, never cartesian
    from jirlbot_spark.operators.image_dedup import phash_neardup
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    phash_df = phash_neardup(
        spark.createDataFrame(gen_phash_corpus(17, 160)), max_hamming=7
    )
    phash_plan = capture_plan(phash_df)
    sections.append(
        (
            "pHash near-dup (phash_neardup)",
            "The 8-block pigeonhole self-join must hash-join on "
            "(blk, bval) — a CartesianProduct or nested-loop here would "
            "be quadratic in |distinct hashes| at 10^10.",
            phash_plan,
        )
    )

    # --- connected components: one star-contraction round
    from jirlbot_spark.operators.graph import _large_star, _small_star

    cc_edges = spark.createDataFrame(
        [(int(i), int(i) + 1) for i in range(200)], "u long, v long"
    )
    cc_plan = capture_plan(_small_star(_large_star(cc_edges)))
    sections.append(
        (
            "Connected components round (large-star + small-star)",
            "Each contraction round must be narrow equi-joins/aggs on "
            "the node id — a CartesianProduct here would be quadratic "
            "in the dup-pair count; the groupBy mins must combine "
            "map-side (partial_min) so a hot component root never "
            "ships its whole neighborhood to one reducer pre-agg. "
            "Shown before execution: the round's two join sides are "
            "equal in size, so the executed plan broadcasts whichever "
            "stage finishes first. The checks read the executed plan.",
            capture_plan(
                _small_star(_large_star(cc_edges)), execute=False
            ),
        )
    )

    # --- repetition stats: tokenization below the Generates, one split
    # per doc-level branch (totals + gram side), never per gram row
    from jirlbot_spark.operators.repetition import repetition_stats

    rep_df = repetition_stats(
        docs_df
    )
    rep_df.collect()
    rep_plan = rep_df._jdf.queryExecution().executedPlan().toString()
    sections.append(
        (
            "Repetition stats (repetition_stats)",
            "split(trim(text)) must appear exactly once per doc-level "
            "branch (the totals projection and the pre-Generate __toks "
            "projection) and NEVER inside or above a Generate line — "
            "a re-collapsed plan would re-tokenize once per gram row "
            "(the shingle_hashes CollapseProject trap, 9 gram sizes "
            "deep).",
            rep_plan,
        )
    )

    # --- decontamination: benchmark gram set must broadcast (map-side
    # semi-join; the corpus side never shuffles its grams)
    from jirlbot_spark.operators.decontam import ngram_decontaminate

    dec_df = ngram_decontaminate(
        docs_df,
        docs_df.limit(20),
        k=5,
    )
    dec_plan = capture_plan(dec_df)
    sections.append(
        (
            "Decontamination (ngram_decontaminate)",
            "The benchmark gram-hash set must arrive as a "
            "BroadcastExchange feeding a broadcast semi-join — a "
            "shuffled semi-join here would exchange the corpus-sized "
            "gram stream against a megabyte benchmark.",
            dec_plan,
        )
    )

    # --- caption consistency: narrow hashed-key aggs, no cartesian
    from jirlbot_spark.operators.image_dedup import caption_consistency
    from jirlbot_spark.sources.fixtures import gen_caption_corpus

    cap_df = caption_consistency(
        spark.createDataFrame(gen_caption_corpus(23, 160))
    )
    cap_plan = capture_plan(cap_df)
    sections.append(
        (
            "Caption consistency (caption_consistency)",
            "Both count-distinct aggregations and both join-backs must "
            "be equi-hash on int64 keys (cap_h / phash) — caption text "
            "must not appear in any Exchange.",
            cap_plan,
        )
    )

    # --- BPE word_freqs: partial count below one narrow word exchange
    from jirlbot_spark.functions.bpe import word_freqs
    from jirlbot_spark.sources.fixtures import gen_documents

    bpe_df = word_freqs(spark.createDataFrame(gen_documents(17, 160)))
    bpe_plan = capture_plan(bpe_df)
    sections.append(
        (
            "BPE word frequencies (bpe_encode training input)",
            "The frequency agg must combine map-side (partial_count) so "
            "only (word, partial) pairs reach the exchange — at corpus "
            "scale the shuffle is vocabulary-sized per partition, not "
            "token-stream-sized. Document text must never appear in "
            "the Exchange (the explode projects the word column first).",
            bpe_plan,
        )
    )

    # --- DSIR gram buckets: partial count below a bucket-keyed exchange
    from jirlbot_spark.operators.dsir import bucket_counts, hashed_gram_buckets

    dsir_df = bucket_counts(hashed_gram_buckets(docs_df, n_buckets=256))
    dsir_df.collect()
    # toString tree for the position test (the shingle_plan rationale)
    dsir_plan = dsir_df._jdf.queryExecution().executedPlan().toString()
    sections.append(
        (
            "DSIR hashed-gram bucket counts (dsir_weights input)",
            "The per-bucket count must combine map-side (partial_count) "
            "so the exchange carries at most B rows per partition; the "
            "token split must live below the Generate (one tokenize per "
            "document), and document text must never reach the "
            "exchange.",
            dsir_plan,
        )
    )

    # --- quality classifier: broadcast weight attach, map-side pooling
    from jirlbot_spark.operators.quality_classifier import score_documents

    qc_w = spark.createDataFrame(
        [(i * 7919, i * 1000) for i in range(64)], "gh long, w_q long"
    )
    qc_df = score_documents(docs_df, qc_w)
    qc_df.collect()
    qc_plan = qc_df._jdf.queryExecution().executedPlan().toString()
    sections.append(
        (
            "Quality classifier scoring (quality_classify)",
            "The model must arrive as a BroadcastExchange (a shuffled "
            "join would exchange the corpus-sized gram stream against "
            "a megabyte model); the per-doc pooling agg must combine "
            "map-side; the token split must live below the Generate "
            "(one tokenize per document).",
            qc_plan,
        )
    )

    # --- phash blocklist: corpus probes meet the blocklist via broadcast
    from jirlbot_spark.operators.image_dedup import phash_blocklist
    from jirlbot_spark.sources.fixtures import gen_phash_corpus

    pb_df = phash_blocklist(
        spark.createDataFrame(gen_phash_corpus(17, 160)),
        spark.createDataFrame([(99,), (1234567,)], "bad_phash long"),
    )
    pb_plan = capture_plan(pb_df)
    sections.append(
        (
            "pHash blocklist matching (phash_blocklist)",
            "The blocklist side must arrive as BroadcastExchange (the "
            "corpus must never shuffle against it) and no "
            "CartesianProduct/NestedLoop may appear.",
            pb_plan,
        )
    )

    # --- aspect bucket assignment: pure projection, zero exchanges
    from jirlbot_spark.operators.aspect_buckets import assign_aspect_buckets

    ab_df = assign_aspect_buckets(
        spark.range(500).select(
            F.col("id").alias("image_id"),
            (F.pmod(F.col("id") * 37, F.lit(1987)) + 64)
            .cast("int")
            .alias("w"),
            (F.pmod(F.col("id") * 53, F.lit(1993)) + 64)
            .cast("int")
            .alias("h"),
        )
    )
    ab_plan = capture_plan(ab_df)
    sections.append(
        (
            "Aspect bucket assignment (aspect_batch stage 1)",
            "The exact-integer argmin must be a pure map-side "
            "projection — zero Exchange operators — so it fuses into "
            "the scan.",
            ab_plan,
        )
    )

    # --- line dedup: per-hash agg combines map-side; text never shuffles
    from jirlbot_spark.operators.line_dedup import line_occurrences

    ld_df = (
        line_occurrences(spark.createDataFrame(gen_documents(21, 160)))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("doc_id", "line_no")).alias("keep"),
        )
    )
    ld_plan = capture_plan(ld_df)
    sections.append(
        (
            "Line-dedup per-hash aggregation (dedup_lines hot stage)",
            "Count + canonical-min must both combine map-side "
            "(partial_count / partial_min) and the exchange must be "
            "keyed on the int64 line hash — raw line text must never "
            "appear in the Exchange.",
            ld_plan,
        )
    )

    # --- URL spam filter: pure projection, zero exchanges
    from jirlbot_spark.operators.url_filter import url_spam_filter

    uf_df = url_spam_filter(
        spark.range(200).select(
            F.format_string("http://s%d.com/a/b?x=%d", F.col("id"), F.col("id"))
            .alias("url")
        ),
        blocked_domains=("spam.net",),
    )
    uf_plan = capture_plan(uf_df)
    sections.append(
        (
            "URL spam filter (url_filter frontier gate)",
            "The gate must be a pure map-side projection — zero "
            "Exchange operators — so rejected URLs never reach the DRUM "
            "shuffle.",
            uf_plan,
        )
    )

    # --- frontier backpressure throttle (r4): per-bucket window, never
    # a global sort/limit or single-partition window
    from jirlbot_spark.plans.loop import throttle_frontier

    synth_frontier = spark.range(20000).select(
        F.col("id").alias("url_hash"),
        (F.col("id") % 3).cast("double").alias("priority"),
    )
    th_plan = capture_plan(
        throttle_frontier(synth_frontier, max_urls=512, num_buckets=32)
    )
    sections.append(
        (
            "Frontier backpressure throttle (max_urls_per_batch)",
            "The per-pass candidate cap must rank inside each DRUM "
            "bucket (window partitioned on pmod(url_hash, buckets)) — "
            "a global Sort/Limit or SinglePartition exchange would "
            "serialize a 10^10-row frontier through one task.",
            th_plan,
        )
    )

    # --- blocked ANN query streaming (r4): >1 query block unions
    # partials; global top-k windows per query_id (hash-partitioned)
    from jirlbot_spark.operators.similarity import brute_topk

    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.col("id") * (i + 3) % 97).cast("long") for i in range(8)]
        ).alias("embedding"),
    )
    ann_blocked = brute_topk(
        vecs.filter(F.col("vec_id") < 50), vecs, k=3, max_query_block=16
    )
    annb_plan = capture_plan(ann_blocked)
    sections.append(
        (
            "Blocked brute_topk (query set streamed in bounded blocks)",
            "With max_query_block below |Q|, the partials of several "
            "query blocks union before ONE per-query window — no "
            "SinglePartition exchange, no cartesian; the driver never "
            "holds the full query matrix.",
            annb_plan,
        )
    )

    def _no_split_at_or_above_generates(plan: str) -> bool:
        # every split() must live in a doc-level Project (the __toks
        # projection or the __total/array_join totals projection) —
        # never inside a Generate or a per-gram expression. The AQE
        # toString prints final+initial plan copies, so positions are
        # checked per line, not by global count.
        lines = plan.splitlines()
        return (
            any("Generate" in ln for ln in lines)
            and all("split(" not in ln for ln in lines if "Generate" in ln)
            and all(
                "__toks" in ln or "array_join" in ln
                for ln in lines
                if "split(" in ln
            )
        )

    def _exchanges_word_keyed_text_free(plan: str) -> bool:
        # The AQE toString prints Exchange details as
        #   (N) Exchange\nInput [..]: [word#.., count#..L]\n
        #   Arguments: hashpartitioning(word#.., ...)
        # Assert every shuffle Exchange partitions on the word column
        # and its Input carries no text column (the doc text must be
        # pruned by the explode's projection before any shuffle).
        blocks = re.findall(
            r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]\s*\n"
            r"Arguments: (\w+)\(([^,)]*)",
            plan,
        )
        return bool(blocks) and all(
            kind == "hashpartitioning"
            and key.startswith("word#")
            and "text#" not in cols
            for cols, kind, key in blocks
        )

    checks = {
        "repetition_stats tokenizes per doc, below the Generates":
        _no_split_at_or_above_generates(rep_plan),
        "decontaminate benchmark side broadcasts (map-side semi-join)":
        "BroadcastExchange" in dec_plan
        and "CartesianProduct" not in dec_plan,
        "caption_consistency has NO CartesianProduct/NestedLoop":
        "CartesianProduct" not in cap_plan
        and "BroadcastNestedLoopJoin" not in cap_plan,
        "CC star round has NO CartesianProduct/NestedLoop":
        "CartesianProduct" not in cc_plan
        and "BroadcastNestedLoopJoin" not in cc_plan,
        "CC star round aggregates map-side (partial_min)":
        "partial_min" in cc_plan,
        "dedup_phash executes with NO CartesianProduct/NestedLoop":
        "CartesianProduct" not in phash_plan
        and "BroadcastNestedLoopJoin" not in phash_plan,
        "dedup_embed executes with NO CartesianProduct/NestedLoop":
        "CartesianProduct" not in embed_plan
        and "BroadcastNestedLoopJoin" not in embed_plan,
        "ann_topk executes with NO CartesianProduct/NestedLoop":
        "CartesianProduct" not in ann_plan
        and "BroadcastNestedLoopJoin" not in ann_plan,
        "PushedFilters with IsNotNull/GreaterThan on scan": "PushedFilters: ["
        in sections[0][2]
        and "GreaterThan" in sections[0][2],
        "2-column ReadSchema on pruned scan": "l_orderkey" in sections[0][2]
        and "l_comment" not in sections[0][2],
        "WholeStageCodegen spans present in classify": "codegen id"
        in sections[1][2].lower()
        or "WholeStageCodegen" in sections[1][2],
        "single wide exchange in classify (exchange reuse)": sections[1][2].count(
            "Exchange hashpartitioning(url_hash"
        )
        <= 2,  # one wide + one narrow probe-side
        "Bloom probe is below the exchange (no extra shuffle)": sections[2][
            2
        ].count("Exchange")
        <= sections[1][2].count("Exchange"),
        "agg-formulation dedup has no Window operator": "Window ("
        not in sections[3][2],
        "agg-formulation dedup collapses dups map-side (partial min_by)":
        "partial_min_by" in sections[3][2],
        "agg-formulation dedup anti-join is hash, not sort-merge":
        "SortMergeJoin" not in sections[3][2]
        and (
            "ShuffledHashJoin" in sections[3][2]
            or "BroadcastHashJoin" in sections[3][2]
        ),
        "BEAST budget join broadcasts": "BroadcastHashJoin" in sections[4][2]
        or "BroadcastExchange" in sections[4][2],
        "salted window before global window": "__salt" in sections[4][2],
        "shingle tokenization below the Generate (once per doc)":
        _split_below_generate(shingle_plan),
        "BPE word_freqs aggregates map-side (partial_count)":
        "partial_count" in bpe_plan,
        "BPE word_freqs exchange is word-keyed, text pruned":
        _exchanges_word_keyed_text_free(bpe_plan),
        "DSIR bucket counts aggregate map-side (partial_count)":
        "partial_count" in dsir_plan,
        "DSIR tokenization below the Generate (once per doc)":
        _split_below_generate(dsir_plan),
        "line-dedup agg combines map-side (partial_count + partial_min)":
        "partial_count" in ld_plan and "partial_min" in ld_plan,
        "line-dedup exchange is hash-keyed, line text pruned": all(
            "__l" not in ln and "__norm" not in ln
            for ln in ld_plan.splitlines()
            if "Exchange" in ln
        ),
        "url filter is exchange-free (map-side gate)":
        "Exchange" not in uf_plan,
        "classifier model attaches via BroadcastExchange":
        "BroadcastExchange" in qc_plan
        and "CartesianProduct" not in qc_plan,
        "classifier pooling combines map-side (partial_count+partial_sum)":
        "partial_count" in qc_plan and "partial_sum" in qc_plan,
        "classifier tokenization below the Generate (once per doc)":
        _split_below_generate(qc_plan),
        "phash blocklist broadcasts, never cartesian":
        "BroadcastExchange" in pb_plan
        and "CartesianProduct" not in pb_plan
        and "BroadcastNestedLoopJoin" not in pb_plan,
        "aspect bucket assignment is exchange-free (map-side argmin)":
        "Exchange" not in ab_plan,
        "frontier throttle windows per bucket (no SinglePartition/global sort)":
        "Window" in th_plan
        and "SinglePartition" not in th_plan
        and "GlobalLimit" not in th_plan
        # the bucket expr pmod(<url_hash input>, 32) feeds the window
        # partitioning (aliasing may collapse url_hash to its source col)
        and bool(re.search(r"pmod\(\w+#\d+L?, 32\)", th_plan)),
        "blocked brute_topk unions query blocks, no SinglePartition":
        "Union" in annb_plan
        and "SinglePartition" not in annb_plan
        and "CartesianProduct" not in annb_plan,
        "LSH hot buckets route to a salted sub-join (salt in join keys, "
        "broadcast hot-key prunes, no cartesian)":
        "__salt" in hotb_plan
        and "Union" in hotb_plan
        and "BroadcastExchange" in hotb_plan
        and "CartesianProduct" not in hotb_plan
        and "BroadcastNestedLoopJoin" not in hotb_plan,
    }

    out = ["# PLANS — physical-plan audit (sf0.01, local[4])\n"]
    out.append(
        "Generated by tools/plan_audit.py. Checks below are asserted "
        "from the captured plans; regenerate after touching operators.\n"
    )
    out.append("## Checks\n")
    for name, ok in checks.items():
        out.append(f"- [{'x' if ok else ' '}] {name}")
    out.append("")
    for title, commentary, plan in sections:
        out.append(f"## {title}\n")
        out.append(commentary + "\n")
        out.append("```\n" + stable_text(plan.strip(), wd) + "\n```\n")
    Path("PLANS.md").write_text("\n".join(out))
    print("PLANS.md written; checks:")
    for name, ok in checks.items():
        print(f"  {'OK  ' if ok else 'FAIL'} {name}")
    failed = [n for n, ok in checks.items() if not ok]
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
