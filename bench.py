"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and prints
ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "extraction_docs_per_sec": ...}

The extraction bench synthesises its pages table inside executors
(sources/pages.py) at a size proportional to sf, then runs the fused
extraction stage — the north-star workload.  Set SPARK_GRAFT_SCALING=1 to
also run the two-parallelism scaling measurement (see
scripts/scaling_bench.py, writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sf_of(sf_dir: str) -> float:
    name = Path(sf_dir).name
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.0


def build_spark(cpus: int):
    # canonical definition lives in the measured package (plans/session.py)
    # so the scaling bench's accumulation key covers it; re-exported here
    # for every existing `from bench import build_spark` call site
    from universal_key_value_based_text_processing_with_ocr_spark.plans.session import (
        build_spark as _build,
    )

    return _build(cpus)


def main() -> None:
    sf = sf_of(SF_DIR)
    n_docs = max(400, int(120000 * sf))  # sf0.1 -> 12000 synthetic pages

    spark = build_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from universal_key_value_based_text_processing_with_ocr_spark.ship import ship_package

    ship_package(spark)

    from universal_key_value_based_text_processing_with_ocr_spark import api
    from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
        extract_pages,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.plans.partitioning import (
        salted_repartition,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.sources.pages import (
        materialize_pages_parquet,
        synth_pages_df,
    )

    # Best-of-N INTERLEAVED repetition (VERDICT r2 #2): the shared host
    # drifts ±20% minute-to-minute, so a single timing per query cannot
    # distinguish contention from a real regression (three untouched queries
    # "regressed" 2.7-3x in round 2).  Interleaving the reps — run the whole
    # suite, then run it again — spreads any contention burst across all
    # queries instead of poisoning whichever one it landed on; min-of-N is
    # the standard steady-state estimator under one-sided noise.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    from universal_key_value_based_text_processing_with_ocr_spark.operators import dedup

    # Warm the JVM/Python-worker pool so steady-state timing excludes startup.
    spark.range(1000).count()
    extract_pages(synth_pages_df(spark, 64, partitions=CPUS)).count()

    # Production shape for the headline: JVM parquet scan -> salted
    # repartition -> fused extract stage.  Source materialised untimed.
    pages_path = materialize_pages_parquet(spark, n_docs)

    # dedup_minhash_lsh is timed on the PRODUCTION hash path (xxhash64,
    # VERDICT r2 #6) — the md5 mode exists for cross-engine oracle replay
    # and the correctness driver pins it; its time is reported alongside as
    # dedup_minhash_lsh_md5_sec (the md5-reproducibility tax).
    bench_queries = [
        "pushdown_agg",
        "topk_orders",
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "events_window_agg",
        "events_sessionize",
        "doc_langid",
    ]

    def run_query(name: str) -> tuple[float, int]:
        if name == "extract_pages":
            # Re-warm the Python worker pool IMMEDIATELY before the timed
            # run: the ~60 suite queries between reps idle the Arrow
            # workers out, and a cold pool charges ~3-5 s of interpreter
            # imports to whichever extract rep follows — scaling_bench.py
            # already warms before every timed level for the same reason,
            # so this keeps the two extraction numbers protocol-identical
            # (steady-state, startup excluded).
            extract_pages(synth_pages_df(spark, 64, partitions=CPUS)).count()
            pages = salted_repartition(spark.read.parquet(pages_path), CPUS * 2)
            t0 = time.time()
            n = extract_pages(pages).count()
            return time.time() - t0, n
        if name == "dedup_minhash_lsh":
            dedup.set_hash_impl("xxhash64")
        try:
            t0 = time.time()
            n = api.QUERIES[name](spark, SF_DIR).count()
            return time.time() - t0, n
        finally:
            dedup.set_hash_impl("md5")

    # Queries added after round 2, timed best-of-N but reported OUTSIDE the
    # summed map so the headline total stays comparable round-over-round.
    new_queries = [
        "dedup_incremental_bloom", "pages_clean_corpus", "pages_host_stats",
        # round 4
        "dedup_paragraphs",
        "url_normalize", "corpus_familiarity", "events_asof_join",
        "mask_repeated_ngrams",
        # round 5
        "pages_content_dedup", "c4_line_clean",
        "warc_scan", "wet_roundtrip", "dsir_importance", "doc_keywords",
        "gopher_quality",
        # round 5, second session
        "doc_lexical_diversity", "url_blocklist", "fix_mojibake",
        "jsonl_roundtrip", "bucketed_join", "fineweb_pipeline",
        "partitioned_scan", "doc_nfc_normalize", "bigram_lm_score",
        "pack_sequences", "mixture_sample",
        "chunk_documents",
        # round 5, third session
        "warc_cdx", "html_meta", "bm25_score",
        "outlink_extract", "host_pagerank", "anchor_topk", "robots_gate",
        # round 5, fourth session
        "quality_classifier", "inverted_index", "sitemap_parse",
        "crawl_frontier", "html_tables", "bpe_pairs", "split_train_test",
        "shard_plan", "shard_manifest", "html_tables_markdown",
        "shard_plan_shuffled",
        # round 5, fifth session
        "ccnet_buckets", "crawl_diff", "corpus_datasheet",
        # round 5, sixth session
        "pdf_extract", "extract_mixed", "extract_fields_pdf", "field_spans",
        "pages_field_spans",
        # round 5, seventh session (lakehouse merge/delete excluded: their
        # wall time is dominated by the per-run temp-table build, not the
        # operator — pinned functionally in tests/test_lakehouse_merge.py)
        "bpe_encode", "dedup_incremental_minhash",
        # round 5, eighth session (the eval/governance batch;
        # lakehouse_compact excluded for the same temp-table-build reason
        # as merge/delete)
        "extraction_eval",
        "host_boilerplate_strip", "url_templates", "doc_script_detect",
        # round 5, tenth session (the full-pipeline capstone, z-order
        # clustering, count-min sketch)
        "training_batch_plan", "lakehouse_zorder", "corpus_heavy_hitters",
        # round 5, twelfth session (mergeable-sketch family + the C4
        # banned-word gate; streamed_cardinality_hll excluded like the
        # other streaming queries — staging/checkpoint setup dominates)
        "corpus_cardinality_hll",
        "lang_cardinality_hll", "badwords_gate",
        # round 5, final session (Manku banded-Hamming text near-dup)
        "dedup_simhash_pairs",
        # round 5, session 13 (cluster retention policy + sentence shape +
        # tokenizer-cost audit + containment/readability/quota batch)
        "dedup_cluster_policy", "doc_sentences", "tokenizer_fertility",
        "dedup_containment", "doc_readability", "host_quota_sample",
        # round 5, session 14 (Luhn cards, code-switch, fuzzy decontam)
        "scrub_cards", "code_switch", "decontaminate_fuzzy",
        # round 5, session 15 (histogram Gini, MAD outliers, PMI pairs;
        # streamed_length_quantiles excluded like the other streaming
        # queries — staging/checkpoint setup dominates its wall time)
        "corpus_gini", "length_outliers", "pmi_pairs",
        "ip_geo_join", "invisible_chars", "events_rolling_agg",
        "homoglyph_audit", "events_pivot",
        # round 5, session 16 (RSS/Atom feed discovery parse + pointer-
        # doubling redirect canonicalisation)
        "feed_parse", "redirect_resolve",
        "html_outline", "section_chunks", "page_directives",
        "jsonld_extract",
    ]

    best: dict[str, float] = {}
    counts: dict[str, int] = {}
    new_best: dict[str, float] = {}
    md5_lsh_times: list[float] = []
    hll_xx_times: list[float] = []
    for _rep in range(reps):
        for name in ["extract_pages", *bench_queries]:
            dt, n = run_query(name)
            best[name] = min(best.get(name, float("inf")), dt)
            counts[name] = n
        for name in new_queries:
            dt, _n = run_query(name)
            new_best[name] = min(new_best.get(name, float("inf")), dt)
        # md5 A/B interleaved with everything else, outside the summed map
        t0 = time.time()
        api.QUERIES["dedup_minhash_lsh"](spark, SF_DIR).count()
        md5_lsh_times.append(time.time() - t0)
        # HLL hash-seam A/B (the inverse direction: the QUERY runs md5 for
        # the oracle; this times the xxhash64 production sketch alone)
        from universal_key_value_based_text_processing_with_ocr_spark.operators import (
            dedup as _dd,
        )
        from universal_key_value_based_text_processing_with_ocr_spark.operators import (
            textstats as _ts,
        )
        _sh = _dd.char_shingles(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), n=10
        ).selectExpr("shingle AS term")
        t0 = time.time()
        _ts.hll_sketch(_sh, hasher="xxhash64").count()
        hll_xx_times.append(time.time() - t0)
        spark.catalog.clearCache()

    timings = {k: round(v, 3) for k, v in best.items()}
    extracted = counts["extract_pages"]
    docs_per_sec = round(extracted / timings["extract_pages"], 1)
    md5_lsh_sec = round(min(md5_lsh_times), 3)
    hll_xx_sec = round(min(hll_xx_times), 3)

    # --- sf1 extraction point (VERDICT r3 #6): 10x the headline corpus ----
    # Exposes partition-policy or memory cliffs the 12k-doc scale hides.
    # Same production shape (materialised scan -> salted repartition ->
    # fused extract), best-of-2; target: docs/sec within 20% of the sf0.1
    # rate.  SPARK_GRAFT_SF1_DOCS=0 skips (e.g. quick local iteration).
    sf1_docs = int(os.environ.get("SPARK_GRAFT_SF1_DOCS", "120000"))
    sf1_out = None
    if sf1_docs:
        sf1_path = materialize_pages_parquet(spark, sf1_docs)
        sf1_best = float("inf")
        for _ in range(2):
            pages = salted_repartition(spark.read.parquet(sf1_path), CPUS * 2)
            t0 = time.time()
            n1 = extract_pages(pages).count()
            sf1_best = min(sf1_best, time.time() - t0)
        sf1_rate = round(n1 / sf1_best, 1)
        sf1_out = {
            "docs": n1,
            "wall_sec": round(sf1_best, 3),
            "docs_per_sec": sf1_rate,
            "vs_sf0.1_rate": round(sf1_rate / docs_per_sec, 3),
        }

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline queries wall time (extraction + operator suite)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "extraction_docs": extracted,
        "extraction_docs_per_sec": docs_per_sec,
        "bench_reps_best_of": reps,
        # round-3+ queries, timed identically but outside the summed total
        # (keeps `value` comparable with earlier rounds)
        "new_queries_sec": {k: round(v, 3) for k, v in new_best.items()},
        # headline dedup_minhash_lsh runs the production xxhash64 path;
        # this is the same query on the md5 oracle-replay path (the
        # cross-engine-reproducibility tax, best-of-N interleaved)
        "dedup_minhash_lsh_md5_sec": md5_lsh_sec,
        "hll_sketch_xxhash64_sec": hll_xx_sec,
    }
    if sf1_out is not None:
        out["sf1_extraction"] = sf1_out
    scaling_file = REPO / "BENCH" / "scaling.json"
    if scaling_file.exists():
        scaling = json.loads(scaling_file.read_text())
        # Compact summary ONLY (VERDICT r4 #2): embedding the whole
        # accumulated scaling blob grew the line past the driver's tail
        # capture and round 4's official record lost the query table.
        # Full detail lives in BENCH/scaling.json.
        out["scaling_efficiency_n_to_4n"] = scaling.get("efficiency_2_to_8")
        out["scaling_summary"] = {
            k: scaling.get(k)
            for k in (
                "job_efficiency_2_to_8",
                "skew_efficiency_2_to_8",
                "spark_vs_kernel",
                "code_version",
            )
            if scaling.get(k) is not None
        }
        out["scaling_detail_file"] = "BENCH/scaling.json"
    spark.stop()
    # Full record (every timed query) goes to a repo file; the PRINTED
    # line must fit the driver's ~2 KB tail capture (VERDICT r4 #2), so
    # it inlines only the newest additions and points at the file.
    (REPO / "BENCH" / "last_run.json").write_text(json.dumps(out, indent=1))
    out["full_record_file"] = "BENCH/last_run.json"
    newest = [
        "pdf_extract", "dedup_incremental_minhash",
        "dedup_simhash_pairs", "dedup_cluster_policy",
        "dedup_containment", "feed_parse", "redirect_resolve",
        "html_outline", "section_chunks", "page_directives",
        "jsonld_extract",
    ]
    out["new_queries_total_sec"] = round(sum(new_best.values()), 3)
    out["new_queries_sec"] = {
        k: round(new_best[k], 3) for k in newest if k in new_best
    }
    line = json.dumps(out)
    # Hard guard on line size: if some future field bloats the line,
    # shed the non-essential blocks rather than lose the whole record.
    if len(line) > 2000:
        for k in ("scaling_summary", "new_queries_sec", "sf1_extraction"):
            out.pop(k, None)
            line = json.dumps(out)
            if len(line) <= 2000:
                break
    print(line)


if __name__ == "__main__":
    main()
