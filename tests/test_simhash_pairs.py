"""simhash_near_dup_pairs: banded Hamming join vs independent brute force.

The banded equi-join (Manku et al. 2007) must return EXACTLY the all-pairs
hamming <= max_hamming set for max_hamming <= n_bands - 1 (pigeonhole);
the pin replicates the 32-bit SimHash in plain Python (md5-60-bit token
hash, bitwise majority) and cross-checks every pair brute-force.
"""

import hashlib
import itertools
import re

import pandas as pd
import pytest

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401

SF_DIR = "/root/testdata/sf0.01"


def _py_simhash(text: str, bits: int) -> int | None:
    """Independent replication: md5 first-15-hex token hash (the engine's
    _md5_long seam), multiset bitwise majority, strictly-positive bit."""
    toks = re.split(r"[ \t\n\r\f]+", text.strip())
    if text is None or not text.strip():
        return None
    counts = [0] * bits
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        for b in range(bits):
            counts[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(bits):
        if counts[b] > 0:
            out |= 1 << b
    return out


def test_banded_join_equals_bruteforce(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        "doc_id < 150"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs(docs, bits=32, n_bands=4, max_hamming=3).collect()
    }
    pdf = docs.select("doc_id", "text").toPandas()
    sigs = {
        int(r.doc_id): _py_simhash(r.text, 32)
        for r in pdf.itertuples(index=False)
        if r.text is not None and r.text.strip()
    }
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        ham = bin(sigs[a] ^ sigs[b]).count("1")
        if ham <= 3:
            want.add((a, b, ham))
    assert got == want
    assert want, "fixture corpus must produce a non-trivial pair set"


def test_parameter_guards(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.range(4).withColumnRenamed("id", "doc_id").selectExpr(
        "doc_id", "'a b c' AS text"
    )
    with pytest.raises(ValueError, match="divide evenly"):
        simhash_near_dup_pairs(docs, bits=32, n_bands=5)
    with pytest.raises(ValueError, match="recall only"):
        simhash_near_dup_pairs(docs, bits=32, n_bands=4, max_hamming=4)


def test_signature_stage_reused_not_recomputed(spark):  # noqa: F811
    """The SimHash signature aggregate is deterministic JVM work — the
    self-join's two references must collapse under ReuseExchange so
    signatures compute ONCE."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id < 60")
    res = simhash_near_dup_pairs(docs)
    res.collect()  # executed plan (AQE finalises after run)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan


def test_exact_duplicates_are_hamming_zero(spark):  # noqa: F811
    """Verbatim copies hash identically: every (copy, original) pair must
    surface with hamming 0 regardless of banding."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    rows = [(i, f"unique document body {i} " + "filler token " * (i % 5 + 3)) for i in range(10)]
    rows += [(100 + i, rows[i][1]) for i in range(3)]  # 3 verbatim copies
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_dup_pairs(docs, max_hamming=0).collect()
    }
    assert {(0, 100), (1, 101), (2, 102)} <= got
