"""Incremental near-dup dedup against a persisted MinHash band index.

Pins the recrawl contract: the batch never re-reads or re-minhashes
committed text (the index parquet is all it touches), near-dups drop
against the index and against smaller-id batch siblings, and appending
the returned index rows makes the side table self-consistent for the
next batch.
"""

from __future__ import annotations

import pytest  # noqa: F401

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
    incremental_minhash_dedup,
    minhash_bands,
)

BASE = [
    (1, "the quick brown fox jumps over the lazy dog " * 8),
    (2, "pack my box with five dozen liquor jugs today " * 8),
    (3, "sphinx of black quartz judge my vow tonight ok " * 8),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_drops_vs_committed_and_batch_keeps_fresh(spark):
    committed = _df(spark, BASE)
    index = minhash_bands(committed)
    batch = _df(
        spark,
        [
            (10, BASE[0][1] + " tiny tail"),      # near-dup of committed 1
            (11, "completely different content about spark shuffles " * 8),
            (12, "completely different content about spark shuffles " * 8 + " x"),
            # 12 is a near-dup of batch sibling 11 (smaller id wins)
        ],
    )
    survivors, new_rows = incremental_minhash_dedup(batch, index)
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert ids == [11]
    # index rows are emitted ONLY for survivors
    assert sorted(set(r["doc_id"] for r in new_rows.collect())) == [11]


def test_persisted_side_table_replay(spark, tmp_path):
    """The pipeline form: bands saved to parquet, read back cold, next
    batch deduped against the FILE — identical to the in-memory run."""
    committed = _df(spark, BASE)
    side = str(tmp_path / "bands.parquet")
    minhash_bands(committed).write.parquet(side)
    batch = _df(spark, [(10, BASE[1][1] + " tail"), (11, "novel text here " * 20)])
    mem_ids = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(batch, minhash_bands(committed))[0].collect()
    )
    file_ids = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(batch, spark.read.parquet(side))[0].collect()
    )
    assert mem_ids == file_ids == [11]


def test_index_append_composes_across_batches(spark, tmp_path):
    """Batch 2 must drop a near-dup of a BATCH-1 survivor once batch 1's
    index rows are appended — the side table grows with the corpus."""
    committed = _df(spark, BASE)
    index = minhash_bands(committed)
    b1 = _df(spark, [(10, "fresh first batch document body " * 10)])
    s1, rows1 = incremental_minhash_dedup(b1, index)
    assert [r["doc_id"] for r in s1.collect()] == [10]
    index2 = index.unionByName(rows1)
    b2 = _df(spark, [(20, "fresh first batch document body " * 10 + " y")])
    s2, _ = incremental_minhash_dedup(b2, index2)
    assert s2.count() == 0  # near-dup of batch-1 survivor: dropped


def test_exact_duplicate_of_committed_always_drops(spark):
    committed = _df(spark, BASE)
    batch = _df(spark, [(10, BASE[2][1])])  # byte-identical
    survivors, _ = incremental_minhash_dedup(batch, minhash_bands(committed))
    assert survivors.count() == 0


def test_batch_never_scans_committed_text(spark):
    """Plan shape: the dedup plan reads the INDEX columns, never a
    committed text column — committed payloads stay untouched."""
    committed = _df(spark, BASE)
    index = minhash_bands(committed).select("doc_id", "band", "band_hash", "sig")
    batch = _df(spark, [(10, "some new text " * 10)])
    survivors, _ = incremental_minhash_dedup(batch, index)
    plan = survivors._jdf.queryExecution().optimizedPlan().toString()
    # the committed side contributes only its index columns
    assert "band_hash" in plan


# ---- phrase_search (positional-index retrieval) ---------------------------

class TestPhraseSearch:
    def _index(self, spark, rows):
        from universal_key_value_based_text_processing_with_ocr_spark.operators.invindex import (
            build_inverted_index,
        )

        df = spark.createDataFrame(rows, schema="doc_id long, text string")
        return build_inverted_index(df, max_df=1_000_000)

    def test_three_term_phrase_and_counts(self, spark):
        from universal_key_value_based_text_processing_with_ocr_spark.operators.invindex import (
            phrase_search,
        )

        idx = self._index(
            spark,
            [
                (1, "the quick brown fox and the quick brown cat"),
                (2, "quick the brown"),
                (3, "the quick brown"),
            ],
        )
        got = {r["doc_id"]: (r["n_occurrences"], r["first_pos"])
               for r in phrase_search(idx, ["the", "quick", "brown"]).collect()}
        assert got == {1: (2, 0), 3: (1, 0)}

    def test_duplicate_term_phrase(self, spark):
        """'table table' must demand two DISTINCT adjacent occurrence
        slots — a single 'table' never matches itself."""
        from universal_key_value_based_text_processing_with_ocr_spark.operators.invindex import (
            phrase_search,
        )

        idx = self._index(
            spark,
            [(1, "table table x"), (2, "a table b table"), (3, "table table table")],
        )
        got = {r["doc_id"]: r["n_occurrences"]
               for r in phrase_search(idx, ["table", "table"]).collect()}
        assert got == {1: 1, 3: 2}

    def test_empty_phrase_rejected(self, spark):
        from universal_key_value_based_text_processing_with_ocr_spark.operators.invindex import (
            phrase_search,
        )

        with pytest.raises(ValueError, match="at least one term"):
            phrase_search(self._index(spark, [(1, "x")]), [])

    def test_case_folded_query(self, spark):
        from universal_key_value_based_text_processing_with_ocr_spark.operators.invindex import (
            phrase_search,
        )

        idx = self._index(spark, [(1, "Hello World")])
        assert phrase_search(idx, ["Hello", "WORLD"]).count() == 1


def test_query_split_follows_provenance_not_id_range(spark, tmp_path):  # noqa: F811
    """The query fixture splits its one band table into committed index and
    batch by a provenance tag, not by ``doc_id < 1e6``: with every base
    doc_id >= 1e6 the committed docs must still form the index, so a fresh
    doc drops against a committed near-dup with a larger id, exactly as in
    the oracle."""
    import random

    import duckdb
    import pandas as pd

    from universal_key_value_based_text_processing_with_ocr_spark.api import (
        ORACLE_SQL,
        q_dedup_incremental_minhash,
    )

    base = 5_000_000
    words = ["spark", "shuffle", "arrow", "parquet", "minhash", "band", "index", "batch"]
    rng = random.Random(7)
    docs = pd.DataFrame(
        {
            "doc_id": [base + i for i in range(30)],
            "text": [
                " ".join(rng.choice(words) + str(rng.randint(0, 99)) for _ in range(30))
                for _ in range(30)
            ],
        }
    )
    # fresh doc base+1 near-duplicates committed doc base+2, whose id is
    # LARGER: only the committed index can drop it
    docs.loc[2, "text"] = docs.loc[1, "text"] + " tail"
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(r.doc_id for r in q_dedup_incremental_minhash(spark, str(tmp_path)).collect())

    con = duckdb.connect()
    con.register("documents", docs)
    want = sorted(con.execute(ORACLE_SQL["dedup_incremental_minhash"]).fetchdf()["doc_id"])
    assert got == want
    # the committed docs' planted near-dups (id + 1e6) all drop
    planted = {d + 1_000_000 for d in docs.doc_id if d % 3 != 0 and d % 7 == 1}
    assert planted and not planted & set(got)
    assert (base + 1) % 3 == 0 and base + 1 not in got
