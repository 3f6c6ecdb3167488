"""Dump formatted physical plans of the headline queries to EXPLAIN.md.

The committed EXPLAIN.md is the review artifact for the plan-level claims
(pushdown, pruning, broadcast, codegen, single-shuffle extraction).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.01"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from universal_key_value_based_text_processing_with_ocr_spark import api
    from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
        extract_pages,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.plans.partitioning import (
        salted_repartition,
    )

    sections = []

    # Extraction pipeline: scan -> prune -> one shuffle -> one Arrow stage.
    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("d://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    sections.append(
        (
            "extraction pipeline (salted repartition -> fused mapInPandas)",
            "Exactly ONE Exchange (the salted repartition); warc_ts pruned before "
            "the Python stage; ReadSchema carries only the needed columns.",
            formatted(extract_pages(salted_repartition(pages, 8))),
        )
    )

    named = [
        ("pushdown_agg", "filter pushed into the parquet scan (PushedFilters), partial+final HashAggregate pair"),
        ("fuzzy_nation_join", "broadcast nested-loop theta join (levenshtein <= k), then per-probe top-1 window"),
        ("dedup_minhash_lsh", "LSH bucket self-join on (band, band_hash) + candidate-only agreement join; the signature-array subtree repeats three times with NO persist — exchange reuse shares it (see note above)"),
        ("dedup_ngram_jaccard", "stop-shingle aggregate + broadcast anti-join, then bounded-group pair explode (no shingle-table self-join, no persist)"),
        ("dedup_incremental_bloom", "committed corpus collapses to a bit_or Bloom sketch; batch probes via broadcast join on word_idx — neither payload side shuffles; exact semi-join only for candidates"),
        ("pages_clean_corpus", "the production DAG in one job: fused extract stage -> codegen'd normalise+gate -> single dedup groupBy"),
        ("anti_join_resume", "left anti join (resume predicate shape)"),
        ("corpus_top_terms", "TakeOrderedAndProject top-n (no single-partition Exchange over the vocabulary)"),
        ("dedup_paragraphs", "corpus-level line dedup: posexplode -> skew-safe (line, doc) pair-distinct then combinable count -> anti-join -> per-doc array_sort reassembly; a viral line spreads across reducers instead of piling on one"),
        ("mask_repeated_ngrams", "substring dedup: row-local positional n-grams (one HOF, no text blow-up) -> skew-safe (gram, doc) pair-distinct + combinable count -> semi-join -> covered-position anti-join -> reassembly"),
        ("pages_content_dedup", "the --dedup-content path: within-batch mirror window + Bloom sketch broadcast probe of the committed fp side-table + exact semi-join for candidates only"),
        ("training_batch_plan", "the FULL pipeline in one plan: fused extract -> codegen'd normalise+gate -> dedup groupBy -> BPE merge-chain projection -> shard-window packing; only two post-extraction exchanges"),
        ("lakehouse_zorder", "z-order layout: Morton interleave as one codegen'd integer projection + ONE range exchange; stats-pruned read plans open a strict file subset"),
        ("corpus_heavy_hitters", "count-min sketch: combinable (row,bucket) cell agg (fixed rows x m size), probe join + min-over-rows estimate, TakeOrdered top-k"),
        ("corpus_familiarity", "tokenize -> one combinable count groupBy -> re-join on token -> per-doc integer aggregate"),
        ("events_asof_join", "AS-OF join as union + ONE key exchange + sort + window (atomic struct carry) — the merge-scan shape, never a range nested-loop"),
        ("c4_line_clean", "C4 line-level cleaning: one codegen'd row-local HOF projection — no explode, no shuffle, no Python"),
        ("warc_scan", "WARC archive scan: binaryFile file-granular tasks -> one narrow mapInPandas parse; projection fuses onto it, nothing shuffles"),
        ("dsir_importance", "DSIR: combinable (doc, bucket) feature aggs; the bucket ratio table reaches the features via BroadcastHashJoin; totals are 1-row cross joins"),
        ("doc_keywords", "keyword top-k: skew-safe pair-distinct df + term-keyed join + WindowGroupLimit rank pushdown (no full sort of the score table)"),
        ("gopher_quality", "Gopher shape rules: one codegen'd row-local projection — single-division ratios, no explode, no shuffle, no Python"),
        ("bucketed_join", "co-located join over bucketed tables: both scans Bucketed: true, SortMergeJoin with NO Exchange below it — the only exchange is the 5-group final agg"),
        ("fineweb_pipeline", "five published gates fused into ONE corpus scan (blocklist broadcast anti-join + codegen'd row-local cascade) -> single dedup exchange with WindowGroupLimit"),
        ("doc_lexical_diversity", "lexical diversity: one codegen'd row-local HOF projection (sorted-neighbour hapax test) — no explode, no shuffle"),
        ("url_blocklist", "UT1-style host gate: codegen'd host extraction + BroadcastHashJoin LeftAnti — the corpus never shuffles"),
        ("fix_mojibake", "mojibake repair: one codegen'd 28-step replace chain — no UDF, no shuffle"),
        ("jsonl_roundtrip", "native distributed jsonl.gz sink -> explicit-schema PERMISSIVE scan with corrupt-record quarantine"),
        ("pack_sequences", "sequence packing: hash-shard key + per-shard window cumulative sum — integer-only, one shuffle"),
        ("mixture_sample", "token-budget mixture sampling: tiny combinable per-source agg + 1-row weight total + broadcast rate table; the corpus never shuffles"),
        ("bigram_lm_score", "bigram LM: one gram explode, combinable gram/context count aggs, broadcast 1-row vocab, score re-joins keyed on gram/context"),
        ("partitioned_scan", "hive-partitioned sink + scan: the lang filter is a PartitionFilters directory-pruning entry, not a data-file predicate"),
        ("bm25_score", "BM25: array_intersect guard BEFORE the explode (at most |query| rows per doc), df and corpus scalars as broadcasts, combinable per-doc agg, id-spine left join"),
        ("html_meta", "HTML head metadata: one codegen'd regex projection over the page string — no UDF, no shuffle, fuses onto the scan"),
        ("outlink_extract", "outlink extraction: regexp_extract_all + transform into structs, one Generate (explode), codegen'd resolution — no UDF, no shuffle"),
        ("host_pagerank", "fixed-point PageRank: per-iteration join(ranks, edges) + combinable SUM agg on the SAME host key; dangling pool and n_hosts are 1-row broadcasts; integer DIV arithmetic end to end"),
        ("robots_gate", "robots gate: rule table window-grouped on host; URL side joins on host then picks the winning rule with a map-side-combinable max_by (no sort window); pattern->regex compiled in the plan"),
        ("quality_classifier", "linear classifier inference: token explode -> BroadcastHashJoin with the weight table -> one combinable (doc) agg -> id-spine left join"),
        ("inverted_index", "positional inverted index: combinable (term,doc) agg builds postings once; lean pair-distinct df subtree; broadcast STOP-LIST anti-join; df-attach join skew-bounded post-drop"),
        ("sitemap_parse", "sitemap XML parse: pure regex projection + ONE explode — no UDF, no shuffle, fuses onto the scan"),
        ("crawl_frontier", "frontier capstone: outlink Generate -> PageRank joins -> robots gate -> per-host WindowGroupLimit budget, composed in one declarative plan"),
        ("html_tables", "HTML <table> mining: three nested bounded Generate levels + codegen'd cell cleanup — ZERO exchanges, zero Python; caps are slices BEFORE each explode"),
        ("bpe_pairs", "BPE merge statistics: corpus word-count (combinable) -> pair explode over the VOCABULARY only -> combinable pair agg -> TakeOrderedAndProject; exactly two exchanges"),
        ("split_train_test", "host-disjoint split assignment: md5 bucket projection — zero shuffles, the corpus never moves"),
        ("shard_plan", "size-targeted shard layout: md5 lane key + ONE exchange + per-lane running-sum window (O(1) state) + div/pmod shard arithmetic"),
        ("html_tables_markdown", "markdown linearization: the table extraction subtree + ONE combinable (page, table) agg + codegen'd HOF assembly — row structs shuffle the cell text once, never the page"),
        ("shard_plan_shuffled", "deterministic training shuffle: same single-exchange layout, pack order = seed+1 hash — permutation without a global sort"),
        ("ccnet_buckets", "CCNet tiers: bigram scoring subtree feeds ONE (lang, fam_score) repartition spine shared via ReuseExchange between the histogram agg and the assignment join; the window sorts histogram rows, never documents"),
        ("crawl_diff", "crawl-over-crawl delta: union + ONE map-side-combinable groupBy — no join, no sort"),
        ("corpus_datasheet", "dataset card: combinable per-lang sums + distinct-length histogram window + min-when percentile agg; the corpus is never sorted"),
        ("pdf_extract", "PDF layout parse: two fused narrow Arrow stages (render -> object-scan/inflate/BT-ET-interpret/reassemble) — ZERO exchanges; per-doc work bounded by pdfcore caps"),
        ("extract_mixed", "universal ingest dispatch: magic-byte sniff routes each payload to pdfcore/htmlcore/raw inside ONE narrow Arrow stage — no shuffle, per-row containment"),
        ("extract_fields_pdf", "PDF-crawl capstone: render -> layout parse -> KTP kernel, three narrow Arrow stages fused on one scan — zero exchanges end to end"),
        ("field_spans", "labeled field spans: one narrow Arrow stage over the line table — no shuffle, rows pure per line"),
        ("pages_field_spans", "END-TO-END span surface: pages -> html decode -> spans fused in ONE narrow Arrow stage on one scan — zero exchanges"),
        ("lakehouse_delete", "merge-on-read read path: delete keys applied as a BROADCAST left-anti hash join per chunk-age group; post-delete appends scan clean — never a table-wide sort-merge"),
        ("bpe_encode", "tokenizer inference: the whole merge chain is ONE codegen'd Project over the scan — zero UDFs, zero exchanges"),
        ("extraction_eval", "token-F1 eval: two tagged explodes union into ONE combinable (id, token) agg then a combinable per-id least-fold — both exchange keys carry the doc id, so corpus token skew cannot concentrate"),
        ("host_boilerplate_strip", "per-host boilerplate: (host, line, doc) pair-distinct spreads a mega-host's banner over all reducers; per-(host,line) count and host totals both map-side combinable; frequent set broadcast into the anti-join"),
        ("url_templates", "trap mining: codegen'd regex template projection -> distinct on the full triple (skew-safe) -> two combinable aggs + a one-row-per-host join — no UDF, no explode"),
        ("doc_script_detect", "script detection: six char-class strip counts + argmax chain, all ONE codegen'd projection over the scan — zero exchanges, zero Python"),
        ("corpus_cardinality_hll", "HLL cardinality: shingle Generate -> codegen'd bucket/rho projection -> ONE combinable max groupBy of <=256 cells; estimator + LC ladder run on the tiny register table (broadcast back onto it)"),
        ("lang_cardinality_hll", "grouped HLL: the register groupBy keys on (grp, bucket) — <= m cells per group, map-side combinable; estimator runs per group on the tiny register table"),
        ("badwords_gate", "banned-word gate: ONE codegen'd projection (split + array_intersect with a literal term array) — no explode, no shuffle, no Python; fuses onto the scan"),
        ("dedup_simhash_pairs", "Manku banded-Hamming near-dup pairs: band equi-join SMJ on (band, val), exact bit_count(xor) filter. The static dump below repeats the signature subtree on both join sides, but at RUNTIME the deterministic JVM aggregate collapses under ReusedExchange and signatures compute ONCE (see the header NOTE; asserted on the executed plan in tests/test_simhash_pairs.py)"),
        ("dedup_cluster_policy", "cluster retention policy: the LSH/CC label frame LEFT-joins back over the corpus, then size count + quality rank run as two Windows over the SAME cluster_id hash distribution — one policy exchange total; quality is a codegen'd projection on the probe side"),
        ("doc_sentences", "sentence segmentation: boundary regexp_replace -> split -> trim/filter/fold HOFs, all ONE codegen'd projection over the scan — no explode, no shuffle, no Python"),
        ("tokenizer_fertility", "fertility audit: row-local token counts -> ONE combinable groupBy(lang) — partial_sum/partial_count before the exchange; five longs per language cross the wire"),
        ("dedup_containment", "asymmetric near-subset pairs: the SAME df-capped shingle candidate machinery as the exact jaccard (shared repartition + ReuseExchange), only the scoring projection differs — per-side |A-and-B|/|A| with an either-direction threshold"),
        ("doc_readability", "Flesch reading-ease: words/sentences/vowel-group syllables all row-local regex counts folded into one codegen'd projection — no exchange"),
        ("host_quota_sample", "per-host quota: md5-draw row_number per host compiles to WindowGroupLimit — map tasks pre-prune a mega-host to k rows BEFORE the exchange (asserted in tests)"),
        ("scrub_cards", "Luhn-validated card redaction: regexp_extract_all + filter/aggregate HOFs (integer Luhn, literal-replace fold) in ONE codegen'd projection — no explode, no shuffle, no Python"),
        ("code_switch", "per-line language ID: split -> per-line stopword CASE ladder -> adjacency fold, all row-local array arithmetic in one projection — zero exchanges"),
        ("decontaminate_fuzzy", "fuzzy decontamination: corpus minhash signature (the SAME combinable groupBy the dedup family shares) + BROADCAST eval-set signatures; the (seed,minhash) agreement join never shuffles the corpus; final (doc,probe) count combinable"),
        ("corpus_gini", "exact histogram Gini: combinable (lang, x) histogram -> window cumsum over HISTOGRAM rows (tied-block rank-sum in DECIMAL(38,0)) -> one per-lang agg; the corpus is never globally sorted"),
        ("length_outliers", "median+MAD gate: TWO stacked histogram-percentile passes (each combinable agg + histogram window) joined back as tiny per-lang tables — the corpus scans, never sorts"),
        ("pmi_pairs", "windowed collocations: row-local HOF pair generation (no text into Generate) -> combinable (a,b) and unigram aggs -> 1-row broadcast totals -> TakeOrderedAndProject top-k"),
        ("streamed_length_quantiles", "streamed exact quantiles: SUM-merged per-epoch (lang,len,cnt) histograms -> the shared cum/total min-when percentile rule over histogram rows only"),
        ("ip_geo_join", "bucketed interval join: ranges explode to covering buckets (bounded sequence HOF), points compute ONE bucket each -> BroadcastHashJoin on the bucket + residual containment filter — never a BroadcastNestedLoop"),
        ("invisible_chars", "invisible-char hygiene: augmentation CASE + two class-strip regex counts + clean projection, all ONE codegen'd projection — no explode, no shuffle, no Python"),
        ("events_rolling_agg", "rolling RANGE-frame agg: TZ-free field-built microsecond key, one user_id exchange + per-key sort, RunningWindowFunction frame — no self-join, no bucket quantisation"),
        ("homoglyph_audit", "homoglyph audit: translate skeleton + class-strip count + mixed-script flag, ONE codegen'd projection over the scan"),
        ("events_pivot", "explicit-domain PIVOT: schema-on-read JSON projection -> ONE combinable groupBy with a 2x|domain|-cell aggregate buffer — no category-discovery scan, no join"),
        ("feed_parse", "RSS/Atom feed parse: codegen'd regex projection + one explode per format, unioned — no UDF, no shuffle; fuses onto the feed scan"),
        ("redirect_resolve", "redirect canonicalisation: POINTER DOUBLING — log2(cap) equi hash joins on the url key composing the src->next map (reach doubles, hops add exactly), edge-dedup agg map-side combinable; never a per-hop dependent chain, never a nested loop"),
        ("html_outline", "heading outline: codegen regex projection + ONE posexplode + ONE url-key window exchange carrying six running-max columns; parent = greatest/CASE — no self-join, no UDF"),
        ("section_chunks", "heading-aligned sections: the SAME regex drives extract_all AND split, zipped row-locally, one posexplode — ZERO exchanges"),
        ("page_directives", "page-level directives: robots-meta token flags + row-local hreflang list in one codegen'd projection — zero exchanges, zero Python"),
        ("jsonld_extract", "JSON-LD mining: regex blocks + ONE posexplode + codegen'd get_json_object paths fused on the scan — malformed blocks keep their row, no Python json"),
    ]
    for name, note in named:
        sections.append((name, note, formatted(api.QUERIES[name](spark, SF))))

    out = ["# EXPLAIN — formatted physical plans of the headline queries\n"]
    out.append("Regenerate with `python scripts/show_plans.py` (sf0.01 tables).\n")
    out.append(
        "\nNOTE on exchange reuse: the dedup plans repeat identical subtrees"
        "\n(the shingle distinct feeds both the stop-shingle aggregate and the"
        "\nanti-join; the minhash signature array feeds band hashing and both"
        "\nagreement sides) and deliberately persist NOTHING — Catalyst's"
        "\nexchange reuse shares those shuffles at runtime.  Static formatted"
        "\nplans cannot show that (AQE finalises reuse at execution), so it is"
        "\nasserted on the FINAL adaptive plan in tests/test_plan_shapes.py"
        "\n(test_dedup_shared_subtrees_use_reused_exchange): executed"
        "\ndedup_ngram_jaccard >= 2 ReusedExchange nodes, dedup_minhash_lsh >= 3 (the test pins these per-query minimums).\n")
    for title, note, plan in sections:
        # escape control bytes (e.g. the \x00 salted-key concat literal in
        # plan text) so the committed artifact stays a TEXT file — raw NULs
        # made grep/pagers treat EXPLAIN.md as binary (review finding)
        plan = "".join(
            ch if ch in "\n\t" or ord(ch) >= 0x20 else f"\\x{ord(ch):02x}"
            for ch in plan.strip()
        )
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    (REPO / "EXPLAIN.md").write_text("".join(out))
    print(f"wrote EXPLAIN.md ({sum(len(s[2]) for s in sections)} chars of plans)")
    spark.stop()


if __name__ == "__main__":
    main()
