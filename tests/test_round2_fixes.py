"""Round-2 regression tests: ship-zip freshness, manifest hygiene,
poisoned-row guard on the custom-config path, checkpointed clustering,
and wo_space string-filter parity."""

import json

import pandas as pd
import pytest

from tests import refharness
from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401


def test_ship_zip_tracks_source_changes(tmp_path, monkeypatch):
    """A source edit must produce a differently-named zip (no stale code)."""
    import universal_key_value_based_text_processing_with_ocr_spark.ship as ship

    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("X = 1\n")
    monkeypatch.setattr(ship, "_PKG_DIR", pkg)
    files = ship._package_files()
    d1 = ship._package_digest(files)
    (pkg / "__init__.py").write_text("X = 2\n")
    d2 = ship._package_digest(ship._package_files())
    assert d1 != d2
    (pkg / "__init__.py").write_text("X = 1\n")
    assert ship._package_digest(ship._package_files()) == d1


def test_manifest_ignores_orphan_tmp_files(spark, tmp_path):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable

    tbl = SnapshotTable(tmp_path / "t")
    df = spark.createDataFrame(pd.DataFrame({"url": ["a", "b"]}))
    sid = tbl.append(df)
    # a crash between fsync and os.link leaves a .tmp file behind
    orphan = tbl.snapshot_dir / ".tmp-deadbeef-0.json"
    orphan.write_text(json.dumps({"snapshot_id": "deadbeef", "sequence": 99, "files": []}))
    manifests = tbl._manifests()
    assert all(p.name.startswith("v") for p in manifests)
    assert tbl.snapshot_id() == sid
    assert len(tbl.history()) == 1


def test_custom_config_poisoned_row_is_failure_not_abort(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.extract import (
        SAMPLE_CUSTOM_CONFIG,
        parse_page_row_with_config,
    )

    # max_distances must be int/float per the matcher contract; a string makes
    # kvcore raise — the row guard must convert that into a failure record
    bad_cfg = {
        "fields": [
            {"name": "F", "keys": [["Key"]], "max_distances": [["boom"]],
             "min_accuracies": [0.5], "separators": [":"], "evaluators": ["letters"]}
        ],
        "final_evaluator": None,
    }
    row = parse_page_row_with_config("u1", None, "Key : value", bad_cfg)
    assert row["success"] is False and row["n_fields"] == 0

    # and decode failures are likewise contained (html decode on junk bytes)
    ok = parse_page_row_with_config("u2", None, "Nama : Budi", SAMPLE_CUSTOM_CONFIG)
    assert ok["url"] == "u2"


def test_near_dup_clusters_checkpointing_three_components(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        near_dup_clusters,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again tonight",
        "pack my box with five dozen liquor jugs before the morning train leaves",
        "how vexingly quick daft zebras jump over fences in the autumn rain",
    ]
    rows = []
    for c, text in enumerate(base):
        for v in range(3):  # three near-identical variants per component
            rows.append({"doc_id": c * 10 + v, "text": text + (" extra" * v)})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    out = near_dup_clusters(docs).toPandas()
    clusters = out.groupby("cluster_id")["doc_id"].apply(sorted).to_dict()
    assert sorted(clusters.keys()) == [0, 10, 20]
    assert clusters[0] == [0, 1, 2] and clusters[10] == [10, 11, 12] and clusters[20] == [20, 21, 22]


def test_near_dup_clusters_raises_when_unconverged(spark, monkeypatch):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        near_dup_clusters,
    )

    text = "a shared nearly identical sentence that lsh will definitely bucket together"
    docs = spark.createDataFrame(
        pd.DataFrame([{"doc_id": i, "text": text + " pad" * i} for i in range(4)])
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(docs, max_iterations=0)


_WO_SPACE_LINES = ["Umur Kde : 19", "UmurKde : 19", "UK : 19", "Umur Kde : 20"]


def _wo_space_str_filter_run(fn):
    keys, md, ma, al = [["Umur", "Kde"]], [[0, 0]], [0.8], []
    out = [
        fn(line, keys, md, ma, re_chars_filter="[a-zA-Z]", alias_names=al, wo_space=True)
        for line in _WO_SPACE_LINES
    ]
    return out, keys, md, ma, al


def test_wo_space_string_filter_doubles_every_call():
    """Reference doubles a str re_chars_filter locally on EVERY call; a shared
    spec's 2nd+ line must see the doubled pattern (ADVICE r1 repro).

    Frozen engine-side expectations, checked against the reference by
    ``test_wo_space_string_filter_matches_reference`` where it is present:
    "[a-zA-Z][a-zA-Z]" projects "Kde" to "Kd", so no line passes the
    zero-distance limits, while the undoubled filter matches line 1."""
    from universal_key_value_based_text_processing_with_ocr_spark.kvcore.matching import (
        match_keys_in_line,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.kvcore.sweep import (
        sweep_document,
    )

    out, keys, md, ma, al = _wo_space_str_filter_run(match_keys_in_line)
    assert out == [[True, {}]] * 4
    # the key lists grow once (joined variant), the str filter never does
    assert (keys, md, ma, al) == ([["Umur", "Kde"], ["UmurKde"]], [[0, 0], [0]], [0.8, 0.8], [])
    assert match_keys_in_line(
        _WO_SPACE_LINES[0], [["Umur", "Kde"]], [[0, 0]], [0.8], re_chars_filter="[a-zA-Z]",
        alias_names=[],
    ) == [True, {("Umur", "Kde"): " : 19"}]

    # the sweep probes such a spec on every line and keeps the quirk (the
    # last missed line is the one its error names)
    spec = dict(
        extractor=match_keys_in_line,
        extractor_args=dict(
            key_str_list_list=[["Umur", "Kde"]], max_distances=[[0, 0]], min_accuracies=[0.8],
            re_chars_filter="[a-zA-Z]", alias_names=["Umur"], wo_space=True,
        ),
        evaluators=[],
        multi_line_value=False,
        alias_names=["Umur"],
        tolerant_not_exists=[False],
    )
    got = sweep_document("\n".join(_WO_SPACE_LINES), [spec])
    assert got["success"] is False
    assert got["all_error_messages"] == [
        "One or more keys in ['Umur'] not found. Must exists: 1, founded: 0 "
        "<=> [False, 'Umur is not exist while its not tolerant to not exist', 'Umur Kde : 20']"
    ]


@pytest.mark.skipif(not refharness.reference_available(), reason="reference repo not present")
def test_wo_space_string_filter_matches_reference():
    from universal_key_value_based_text_processing_with_ocr_spark.kvcore.matching import (
        match_keys_in_line,
    )

    pp, _ = refharness.load_reference()
    get_ref = pp["get_str_keys_values"] if isinstance(pp, dict) else pp.get_str_keys_values
    assert _wo_space_str_filter_run(get_ref) == _wo_space_str_filter_run(match_keys_in_line)


def test_wo_space_none_filter_raises_like_reference():
    from universal_key_value_based_text_processing_with_ocr_spark.kvcore.matching import (
        match_keys_in_line,
    )

    for _ in range(2):  # every call, not just the extending first one
        with pytest.raises(TypeError):
            match_keys_in_line(
                "Umur : 19", [["Umur"]], [[0]], [0.8],
                re_chars_filter=None, alias_names=[], wo_space=True,
            )


def test_plan_partitions_policy():
    from universal_key_value_based_text_processing_with_ocr_spark.plans.partitioning import (
        plan_partitions,
    )

    assert plan_partitions(5, min_parallelism=32) == 5          # never more than rows
    assert plan_partitions(257, min_parallelism=32) == 32        # small batch: 1/core
    # the measured optimum: 2x cores, independent of row count ...
    assert plan_partitions(48000, min_parallelism=32) == 64
    assert plan_partitions(24000, min_parallelism=2) == 4        # holds at low parallelism
    # ... until the shuffle-block bound forces more partitions (50k rows each)
    assert plan_partitions(4 * 10**6, min_parallelism=32) == 80
    assert plan_partitions(10**9, min_parallelism=32) == 20000
    # the caller's scheduler budget caps everything
    assert plan_partitions(10**9, min_parallelism=32, max_partitions=100) == 100
    assert plan_partitions(0, min_parallelism=32) == 1


def test_small_resume_batch_gets_few_partitions(spark, tmp_path):  # noqa: F811
    """A 10-row resume batch must not be sprayed over 4x-cores partitions."""
    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
    from universal_key_value_based_text_processing_with_ocr_spark.plans.pipeline import (
        run_extraction_job,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
    from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
        gen_page_row,
    )

    pages = spark.createDataFrame(
        pd.DataFrame([gen_page_row(7, i) for i in range(10)]), schema=PAGES_SCHEMA
    )
    run_extraction_job(spark, pages, str(tmp_path / "res"), audit_path=str(tmp_path / "aud"))
    audit = SnapshotTable(tmp_path / "aud").read(spark).toPandas()
    extract_rows = audit[audit.stage == "extract"]
    assert len(extract_rows) <= 10  # one audit row per non-empty partition


def test_hash_seam_xxhash64_same_pairs_on_exact_dups(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators import dedup

    rows = [
        {"doc_id": 1, "text": "hello world this is a long duplicated text for shingles"},
        {"doc_id": 2, "text": "hello world this is a long duplicated text for shingles"},
        {"doc_id": 3, "text": "a totally different document about other topics entirely"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    md5_pairs = {(r.doc_a, r.doc_b, r.est_sim) for r in dedup.minhash_lsh_pairs(docs).collect()}
    dedup.set_hash_impl("xxhash64")
    try:
        xx_pairs = {(r.doc_a, r.doc_b, r.est_sim) for r in dedup.minhash_lsh_pairs(docs).collect()}
    finally:
        dedup.set_hash_impl("md5")
    assert md5_pairs == {(1, 2, 1.0)} and xx_pairs == {(1, 2, 1.0)}
    with pytest.raises(ValueError):
        dedup.set_hash_impl("sha1")


def test_debug_artifacts_one_row_per_failed_url(spark, tmp_path):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
    from universal_key_value_based_text_processing_with_ocr_spark.plans.pipeline import (
        run_extraction_job,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
    from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
        gen_page_row,
    )

    pages = spark.createDataFrame(
        pd.DataFrame([gen_page_row(42, i) for i in range(30)]), schema=PAGES_SCHEMA
    )
    run_extraction_job(
        spark, pages, str(tmp_path / "res"), debug_path=str(tmp_path / "dbg")
    )
    results = SnapshotTable(tmp_path / "res").read(spark).toPandas()
    debug = SnapshotTable(tmp_path / "dbg").read(spark).toPandas()
    failed_urls = set(results[~results.success].url)
    assert failed_urls, "fixture must contain failures"
    assert set(debug.url) == failed_urls
    assert len(debug) == len(failed_urls)  # exactly one row per failed url
    # the row carries the full diagnostic payload
    row = debug.iloc[0]
    assert row.n_blocks >= row.n_kept >= 0
    if row.n_blocks:
        b = row.blocks[0]
        assert {"block_no", "kept", "container", "n_chars", "link_chars",
                "link_density", "text"} <= set(b.asDict().keys() if hasattr(b, "asDict") else b.keys())
    assert isinstance(row.result_json, str)

    # parser-aware debug: a boxorder job's debug rows must reflect BOXORDER
    # failures, not the sweep parser's
    run_extraction_job(
        spark, pages, str(tmp_path / "res2"), debug_path=str(tmp_path / "dbg2"),
        parser="boxorder",
    )
    res2 = SnapshotTable(tmp_path / "res2").read(spark).toPandas()
    dbg2 = SnapshotTable(tmp_path / "dbg2").read(spark).toPandas()
    assert set(dbg2.url) == set(res2[~res2.success].url)
    # the why-it-failed detail must survive the compact parser schema
    assert all(len(m) > 0 for m in dbg2.error_messages)
    # and the debug result bytes match the job's committed result bytes
    merged = dbg2.merge(res2, on="url", suffixes=("_d", "_r"))
    assert (merged.result_json_d == merged.result_json_r).all()


def test_incremental_dedup_drops_committed_and_batch_dups(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        incremental_dedup,
    )

    committed = spark.createDataFrame(
        pd.DataFrame([{"doc_id": 1, "text": "already committed text"}])
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 10, "text": "already committed text"},   # dup of committed
                {"doc_id": 11, "text": "fresh text"},
                {"doc_id": 12, "text": "fresh text"},               # dup within batch
                {"doc_id": 13, "text": None},                       # null dropped
            ]
        )
    )
    out = incremental_dedup(batch, committed).toPandas()
    assert len(out) == 1
    assert out.iloc[0].keep_id == 11 and out.iloc[0].n_copies == 2


def test_normalize_text_collapses_whitespace_and_controls(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        normalize_text,
    )

    docs = spark.createDataFrame(
        pd.DataFrame([{"doc_id": 1, "text": "  Hello\tWORLD\x01  twice  "}])
    )
    row = normalize_text(docs).toPandas().iloc[0]
    assert row.norm_text == "hello world twice"
    assert row.n_chars_norm == len("hello world twice")


def test_run_extraction_job_parser_selection(spark, tmp_path):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.lakehouse import SnapshotTable
    from universal_key_value_based_text_processing_with_ocr_spark.plans.pipeline import (
        run_extraction_job,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.sources import PAGES_SCHEMA
    from universal_key_value_based_text_processing_with_ocr_spark.sources.synthdocs import (
        gen_page_row,
    )

    pages = spark.createDataFrame(
        pd.DataFrame([gen_page_row(42, i) for i in range(12)]), schema=PAGES_SCHEMA
    )
    info = run_extraction_job(
        spark, pages, str(tmp_path / "r"), audit_path=str(tmp_path / "a"), parser="boxorder"
    )
    assert info["n_docs"] == 12
    res = SnapshotTable(tmp_path / "r").read(spark).toPandas()
    assert set(res.columns) >= {"url", "result_json", "success", "n_fields"}
    # the compact schema has no n_bytes, so no audit row sums any bytes
    audit = SnapshotTable(tmp_path / "a").read(spark).toPandas()
    assert len(audit) > 0 and audit.bytes_in.isna().all()
    with pytest.raises(ValueError, match="parser must be one of"):
        run_extraction_job(spark, pages, str(tmp_path / "r2"), parser="nope")


def test_scrub_pii_masks_and_counts(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        scrub_pii,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            [{"doc_id": 1,
              "text": "mail a@b.co or c.d@e-f.org, call 081234567890, host 10.0.0.1 ok"}]
        )
    )
    row = scrub_pii(docs).toPandas().iloc[0]
    assert "<EMAIL>" in row.scrubbed and "<NUM>" in row.scrubbed and "<IP>" in row.scrubbed
    assert "a@b.co" not in row.scrubbed and "081234567890" not in row.scrubbed
    assert (row.n_emails, row.n_ips, row.n_numbers) == (2, 1, 1)


def test_contamination_check_finds_planted_overlap(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        contamination_check,
    )

    shared = "this exact benchmark sentence appears verbatim in the corpus"
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 10, "text": "prefix junk " + shared + " suffix junk"},
                {"doc_id": 11, "text": "a completely unrelated document body here"},
            ]
        )
    )
    probes = spark.createDataFrame(pd.DataFrame([{"doc_id": 1, "text": shared}]))
    out = contamination_check(docs, probes).toPandas()
    assert set(out.doc_id) == {10}
    assert out.iloc[0].n_shared >= len(shared) - 20 + 1


def test_repetition_stats_flags_repeated_content(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 1, "text": "same line\nsame line\nsame line\nother"},
                {"doc_id": 2, "text": "buy now buy now buy now buy now"},
                {"doc_id": 3, "text": "all words here are fully distinct tokens"},
                {"doc_id": 4, "text": "single"},
            ]
        )
    )
    out = repetition_stats(docs).toPandas().set_index("doc_id")
    assert out.loc[1].dup_line_frac == 0.5          # 4 lines, 2 distinct
    assert out.loc[2].top_bigram_frac > 0.5          # 'buy now'/'now buy' dominate
    assert out.loc[3].top_bigram_frac == round(1 / 6, 6)
    assert out.loc[4].top_bigram_frac == 0.0 and out.loc[4].n_lines == 1


def test_clean_corpus_gates_and_dedups(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        clean_corpus,
    )

    long_text = "this is a sufficiently long normalised document body for the gate"
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 1, "text": long_text},
                {"doc_id": 2, "text": "  " + long_text.upper() + "  "},  # dup after normalise
                {"doc_id": 3, "text": "too short"},                       # gated out
                {"doc_id": 4, "text": None},                              # null dropped
            ]
        )
    )
    out = clean_corpus(docs).toPandas()
    assert len(out) == 1
    assert out.iloc[0].keep_id == 1 and out.iloc[0].n_copies == 2


def test_repetition_stats_ignores_trailing_whitespace_tokens(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        repetition_stats,
    )

    # trailing \n after the space-only trim must not create phantom bigrams
    docs = spark.createDataFrame(pd.DataFrame([{"doc_id": 1, "text": "spam spam\n"}]))
    row = repetition_stats(docs).toPandas().iloc[0]
    assert row.top_bigram_frac == 1.0


def test_stratified_sample_deterministic_and_stratified(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        stratified_sample,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            [{"doc_id": i, "text": "x", "lang": "en" if i % 2 == 0 else "ind"}
             for i in range(2000)]
        )
    )
    a = set(stratified_sample(docs).toPandas().doc_id)
    b = set(stratified_sample(docs).toPandas().doc_id)
    assert a == b  # pure function of (seed, doc_id): re-runs select the same docs
    out = stratified_sample(docs).toPandas()
    en = (out.lang == "en").sum() / 1000
    ind = (out.lang == "ind").sum() / 1000
    assert abs(en - 0.5) < 0.08 and abs(ind - 0.25) < 0.08
    c = set(stratified_sample(docs, seed=7).toPandas().doc_id)
    assert c != a  # different seed, different sample


def test_connected_components_long_chain_converges_logarithmically(spark):  # noqa: F811
    """A 200-node path graph (diameter 199) must converge within 20 rounds —
    only possible with pointer jumping (plain min-propagation needs 199)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        pd.DataFrame([{"doc_a": i, "doc_b": i + 1} for i in range(199)])
    )
    out = connected_components(edges, max_iterations=20).toPandas()
    assert len(out) == 200
    assert (out.cluster_id == 0).all()


def test_connected_components_multiple_components(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        connected_components,
    )

    rows = [{"doc_a": 5, "doc_b": 9}, {"doc_a": 9, "doc_b": 3},   # comp min 3
            {"doc_a": 20, "doc_b": 21},                            # comp min 20
            {"doc_a": 30, "doc_b": 30}]                            # self loop
    edges = spark.createDataFrame(pd.DataFrame(rows))
    out = connected_components(edges).toPandas().set_index("doc_id")
    assert out.loc[5].cluster_id == out.loc[9].cluster_id == out.loc[3].cluster_id == 3
    assert out.loc[20].cluster_id == out.loc[21].cluster_id == 20
    assert out.loc[30].cluster_id == 30
