"""Physical-plan shape assertions: the optimizations the engine relies on at
100 TB must actually appear in the plan — filter/column pushdown into the
parquet scan, broadcast for small build sides, no Python in relational
paths (whole-stage codegen)."""

import pytest

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_column_pushdown(spark):  # noqa: F811
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _formatted(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: ReadSchema carries only the needed columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_extract_stage_prunes_payload_columns(spark):  # noqa: F811
    """Only (url, html, text, lang) may enter the Arrow stage — warc_ts must
    be pruned at the scan."""
    import pandas as pd

    from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
        extract_pages,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
    from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
        gen_page_row,
    )

    pages = spark.createDataFrame(
        pd.DataFrame([gen_page_row(42, i) for i in range(5)]), schema=PAGES_SCHEMA
    )
    plan = _plan(extract_pages(pages))
    assert "warc_ts" not in plan.split("MapInPandas")[0]


def test_fuzzy_join_is_broadcast(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        fuzzy_dictionary_join,
    )

    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    plan = _plan(fuzzy_dictionary_join(spark, nation))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_corpus_top_terms_avoids_global_window(spark):  # noqa: F811
    """Top-n must plan as TakeOrderedAndProject (per-partition top-n + n-row
    merge), not a single-partition Exchange feeding a global row_number over
    the whole vocabulary."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        corpus_top_terms,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = corpus_top_terms(docs, n=50)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # the only Window may sit above the n-row limit, never below it
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_relational_ops_stay_jvm_side(spark):  # noqa: F811
    """No Python evaluation in the relational operators (codegen-only)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators import (
        dedup,
        relational,
        textstats,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for df in [
        textstats.token_count(docs),
        textstats.lang_id(docs),
        dedup.exact_dedup(docs),
        dedup.simhash(docs),
        relational.pushdown_agg(lineitem),
    ]:
        df.collect()  # materialise so AQE finalises the physical plan
        plan = _plan(df)
        assert "PythonUDF" not in plan and "MapInPandas" not in plan, plan[:500]
        # whole-stage codegen stages render as "*(n)" in the plan string
        assert "*(" in plan, plan[:500]


def test_pushdown_agg_has_partial_aggregation(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        pushdown_agg,
    )

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(pushdown_agg(lineitem))
    # partial (map-side) + final aggregate pair
    assert plan.count("HashAggregate") >= 2


def test_dedup_shared_subtrees_use_reused_exchange(spark):  # noqa: F811
    """ngram_jaccard_pairs and minhash_lsh_pairs deliberately persist
    NOTHING: their repeated subtrees (the shingle distinct under both the
    stop-aggregate and the anti-join; the signature array under band
    hashing and both agreement sides) must be shared via Catalyst's
    exchange reuse, visible as ReusedExchange nodes in the FINAL adaptive
    plan (static explain hides them behind AdaptiveSparkPlan)."""
    from pyspark.sql import functions as F  # noqa: F401

    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"shared body text for reuse check number {i % 3} " * 4) for i in range(30)],
        "doc_id int, text string",
    )
    # pinned to the current plans: jaccard shares the repartition("shingle")
    # exchange + the groups exchange (2); LSH shares the signature subtree
    # across band hashing and both agreement sides (3)
    for fn, min_reused in [(ngram_jaccard_pairs, 2), (minhash_lsh_pairs, 3)]:
        df = fn(docs, 8) if fn is ngram_jaccard_pairs else fn(docs, shingle_n=8)
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        assert "isFinalPlan=true" in plan
        assert plan.count("ReusedExchange") >= min_reused, plan[:1500]


def test_asof_join_single_shuffle_no_nested_loop(spark):  # noqa: F811
    """asof_join must plan ONE key shuffle + window sort — never the
    broadcast-nested-loop / cartesian a range-condition join degrades to."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        asof_join,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = _formatted(asof_join(left, right))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the union feeds exactly one exchange, hash-partitioned on the key
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1
    assert plan.count("hashpartitioning(user_id") == 1


def test_dedup_paragraphs_combinable_aggregates(spark):  # noqa: F811
    """Line-frequency and reassembly aggregates both keep a partial
    (map-side) phase; no cartesian anywhere."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        dedup_paragraphs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(dedup_paragraphs(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # plain count after pair-distinct -> partial_count map-side phase;
    # collect_list via ObjectHashAggregate with a partial phase
    assert "partial_count" in plan
    assert "ObjectHashAggregate" in plan


def test_frequency_aggs_are_skew_capped(spark):  # noqa: F811
    """VERDICT r4 #6: the distinct-doc frequency in dedup_paragraphs /
    mask_repeated_ngrams must NOT be a fused groupBy(key).countDistinct
    (one viral line/gram would pile every (key, doc) pair onto a single
    reducer).  The skew-safe shape: an exchange hash-partitioned on the
    (key, doc_id) PAIR for the distinct, then a combinable plain count."""
    import re

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        dedup_paragraphs,
        mask_repeated_ngrams,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for op, key in ((dedup_paragraphs, "line"), (mask_repeated_ngrams, "gram")):
        plan = _formatted(op(docs))
        # no fused distinct aggregate anywhere
        assert "count(distinct" not in plan.lower(), op.__name__
        # pair-distinct: an exchange partitioned on BOTH key and doc_id
        assert re.search(
            rf"hashpartitioning\({key}#\d+[^)]*doc_id#\d+", plan
        ), f"{op.__name__}: no (key, doc) pair exchange\n{plan[:2000]}"
        # the per-key count keeps its map-side partial phase
        assert "partial_count" in plan, op.__name__


def test_dsir_feature_aggs_combinable_ratio_broadcast(spark):  # noqa: F811
    """The per-doc feature agg keeps a map-side partial phase and the
    bucket ratio table (<= `buckets` rows) reaches the features via a
    BroadcastHashJoin on bucket — never a shuffled join keyed wider than
    (doc, bucket).  The only nested-loop joins allowed are the 1-row
    totals cross joins."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.importance import (
        dsir_importance,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(dsir_importance(docs, docs.filter(F.col("doc_id") % 10 == 0)))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_doc_keywords_topk_is_window_group_limit(spark):  # noqa: F811
    """Per-doc top-k must go through WindowGroupLimit (rank-limit pushdown
    before the per-partition sort) and document frequency must keep its
    map-side partial phase — no fused count(distinct."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.importance import (
        doc_keywords,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(doc_keywords(docs, k=3))
    assert "WindowGroupLimit" in plan
    assert "count(distinct" not in plan.lower()
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange_on_either_side(spark):  # noqa: F811
    """The whole point of bucketed_colocated_join: after the bucketed
    writes, the SortMergeJoin reads bucket i vs bucket i directly — NO
    Exchange below the join (the only allowed Exchange is the tiny
    post-join segment agg), both scans flagged Bucketed."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        bucketed_colocated_join,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    with_smj = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_colocated_join(spark, orders, customer, table_prefix="colo_test")
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_smj)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    join_subtree = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree
    # exactly one Exchange total: the 5-group final agg above the join
    assert plan.count("Exchange") == 1


def test_fineweb_pipeline_single_scan_fused(spark):  # noqa: F811
    """The five-gate cascade over a PLAIN text column must fuse into ONE
    corpus scan with only two exchanges: the blocklist broadcast and the
    dedup hash partitioning (plus AQE bookkeeping) — and it must actually
    compile (whole-stage codegen, no 64 KB fallback)."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        fineweb_pipeline,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.concat(F.lit("https://h"), (F.col("doc_id") % 9).cast("string"),
                     F.lit(".x.com/")).alias("url"),
            "text",
        )
    )
    df = fineweb_pipeline(docs, ["h3.x.com"])
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1  # one corpus scan, gates fused
    assert "BroadcastExchange" in plan
    # exactly one hash-partitioning exchange: the dedup window
    assert plan.count("Exchange hashpartitioning") == 1
    df.collect()  # execute: a 64 KB codegen overflow would ERROR-log here
    final = _plan(df)  # AQE final plan marks codegen'd stages with *(id)
    assert "isFinalPlan=true" in final and "*(" in final


def test_partitioned_scan_prunes_directories(spark, tmp_path):  # noqa: F811
    """A filter on the partition column must become a PartitionFilters
    entry (directory pruning) — NOT a PushedFilters data-file predicate —
    and only the matching partition's files may be read."""
    from universal_key_value_based_text_processing_with_ocr_spark.sources.partitioned import (
        scan_partition,
        write_partitioned,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "bylang")
    write_partitioned(docs, out, "lang")
    df = scan_partition(spark, out, "lang", "en")
    plan = _formatted(df)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "lang" in pf and "en" in pf
    # the partition column is directory metadata: it must NOT appear as a
    # data-file pushed filter (the scan may omit the section entirely)
    if "PushedFilters:" in plan:
        pushed = plan.split("PushedFilters:")[1].splitlines()[0]
        assert "lang" not in pushed
    # all rows really come from the one directory
    langs = {r.lang for r in df.select("lang").distinct().collect()}
    assert langs == {"en"}


def test_equality_delete_read_is_broadcast_anti_join(spark):  # noqa: F811
    """The merge-on-read path must apply delete keys as a BROADCAST
    left-anti hash join (delete sets are tiny next to the data) — a
    sort-merge anti join would shuffle the whole table per read."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse.catalog import (
        SnapshotTable,
    )

    import tempfile

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text", "lang")
    )
    t = SnapshotTable(tempfile.mkdtemp(prefix="ukv_plan_del_"))
    t.append(docs.repartition(4))
    t.delete_where(spark, docs.where(F.col("doc_id") % 9 == 0), key="doc_id")
    plan = _plan(t.read(spark))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_host_boilerplate_skew_capped(spark):  # noqa: F811
    """strip_host_boilerplate inherits the pair-distinct discipline: no
    fused countDistinct; the distinct exchange carries (host, line, doc);
    the per-(host, line) count keeps its map-side partial phase."""
    import re

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        strip_host_boilerplate,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .withColumnRenamed("source", "host")
    )
    plan = _formatted(strip_host_boilerplate(docs))
    assert "count(distinct" not in plan.lower()
    assert re.search(r"hashpartitioning\(host#\d+[^)]*line#\d+[^)]*doc_id#\d+", plan), plan[:2000]
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_extraction_f1_doc_keyed_exchanges(spark):  # noqa: F811
    """Both aggregations of the F1 fold carry the doc id in their exchange
    key (token skew cannot concentrate) and keep map-side partials; the
    spine join is a broadcast/hash join, never a nested loop."""
    import re

    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.evalmetrics import (
        extraction_f1,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.col("text").alias("gold_text"),
        F.upper("text").alias("cand_text"),
    )
    plan = _formatted(extraction_f1(docs))
    # every hash-partitioned exchange in this plan includes doc_id
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan[:1500]
    assert all("doc_id#" in p for p in parts), parts
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_url_templates_no_explode_no_udf(spark):  # noqa: F811
    """Template mining is projection + distinct + two combinable aggs:
    no Generate, no Python, no nested loop."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        mine_url_templates,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 9).cast("string"),
            F.lit(".com/p/"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    plan = _formatted(mine_url_templates(docs))
    assert "Generate" not in plan and "Python" not in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_doc_script_detect_single_projection(spark):  # noqa: F811
    """Script detection must stay one codegen'd projection over the scan:
    zero exchanges, zero Generates, zero Python."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        detect_scripts,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _formatted(detect_scripts(docs))
    assert "Exchange" not in plan
    assert "Generate" not in plan and "Python" not in plan


def test_badwords_gate_single_projection(spark):  # noqa: F811
    """The banned-term gate must stay one codegen'd projection over the
    scan at ANY list size — zero exchanges, zero Generates, zero Python;
    the (term, padded-form) pairs ride as literals, never a join."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        badwords_gate,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    terms = ["deep throat", "a$$", "casino"] + [f"spamword{i}" for i in range(200)]
    plan = _formatted(badwords_gate(docs, badwords=terms))
    assert "Exchange" not in plan
    assert "Generate" not in plan and "Python" not in plan
    assert "Join" not in plan


def test_redirect_resolve_is_hash_joins_only(spark):  # noqa: F811
    """Pointer doubling must plan as equi hash/sort-merge joins on the url
    key — never a cartesian/nested-loop — and the edge-dedup aggregate
    keeps a partial (map-side) phase."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.linkgraph import (
        resolve_redirects,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    did = F.col("doc_id")
    edges = docs.filter(did % 7 != 0).select(
        F.concat(F.lit("u"), did.cast("string")).alias("src_url"),
        F.concat(F.lit("u"), (did - 1).cast("string")).alias("dst_url"),
    )
    plan = _formatted(resolve_redirects(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan  # edge dedup combines map-side
