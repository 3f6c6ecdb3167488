"""Round-5 session-12 operators: HyperLogLog cardinality (register parity vs
an independent Python replication, merge-by-max, linear-counting regime,
combinable plan shape)."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
    hll_cardinality,
    hll_linear_counting_table,
    hll_sketch,
)

SF_DIR = "/root/testdata/sf0.001"


def _terms_df(spark, terms):  # noqa: F811
    return spark.createDataFrame(pd.DataFrame({"term": terms}))


def _hll_python(terms, p=8):
    """Independent replication: md5 60-bit hash, low-p bucket,
    trailing-zero rho, register max, integer estimator + LC table."""
    m, K = 1 << p, 40
    regs = {}
    for t in set(terms):
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        b, w = h % m, h >> p
        if w == 0:
            rho = 60 - p + 1
        else:
            rho = 1
            while not (w & 1):
                rho += 1
                w >>= 1
        regs[b] = max(regs.get(b, 0), rho)
    d = sum((1 << (K - r)) if r <= K else 0 for r in regs.values())
    d += (m - len(regs)) * (1 << K)
    alpha_fp = round(0.7213 / (1 + 1.079 / m) * 10**6)
    inner = min((m * m * (1 << K)) // max(d, 1), 10**13)
    est_raw = (alpha_fp * inner) // 10**6
    v = m - len(regs)
    if v > 0 and est_raw <= (5 * m) // 2:
        est = hll_linear_counting_table(m)[v]
    else:
        est = est_raw
    return regs, est_raw, est


def test_hll_matches_python_replication(spark):  # noqa: F811
    terms = [f"item-{i % 997}" for i in range(5000)] + ["x", "y", "x"]
    df = _terms_df(spark, terms)
    got = hll_cardinality(df).toPandas()
    regs, est_raw, est = _hll_python(terms)
    assert {(r.bucket, r.register) for r in got.itertuples()} == set(regs.items())
    assert int(got.est_raw.iloc[0]) == est_raw
    assert int(got.est.iloc[0]) == est
    assert int(got.n_exact.iloc[0]) == 999
    # the whole point: a bounded-error estimate (HLL std err ~1.04/sqrt(m)
    # ~6.5% at p=8; allow 4 sigma)
    assert abs(int(got.est.iloc[0]) - 999) <= 0.26 * 999


def test_hll_merge_by_max_equals_one_pass(spark):  # noqa: F811
    terms = [f"t{i % 313}" for i in range(2000)]
    full = _terms_df(spark, terms)
    h1 = _terms_df(spark, terms[:777])
    h2 = _terms_df(spark, terms[777:])
    merged = (
        hll_sketch(h1)
        .unionByName(hll_sketch(h2))
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )
    a = {tuple(r) for r in merged.toPandas().itertuples(index=False)}
    b = {tuple(r) for r in hll_sketch(full).toPandas().itertuples(index=False)}
    assert a == b


def test_hll_linear_counting_regime(spark):  # noqa: F811
    # 31 distinct items: raw HLL overshoots badly at tiny n; the LC
    # correction must engage and land within a few items of truth
    terms = [f"w{i % 31}" for i in range(600)]
    got = hll_cardinality(_terms_df(spark, terms)).toPandas()
    assert int(got.n_empty_buckets.iloc[0]) > 0
    assert int(got.est.iloc[0]) != int(got.est_raw.iloc[0])
    assert abs(int(got.est.iloc[0]) - 31) <= 5


def test_hll_register_agg_is_combinable(spark):  # noqa: F811
    terms = _terms_df(spark, ["a", "b", "c"])
    plan = hll_sketch(terms)._jdf.queryExecution().executedPlan().toString()
    # max() keeps a map-side partial phase: the sketch build shuffles at
    # most m cells no matter the corpus size
    assert "partial_max" in plan


def test_streamed_hll_bit_equal_to_batch(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators import (
        dedup,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.streaming.incremental import (
        streamed_cardinality_hll,
    )

    path = f"{SF_DIR}/documents.parquet"
    streamed = (
        streamed_cardinality_hll(spark, path)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    docs = spark.read.parquet(path)
    sh = dedup.char_shingles(docs, n=10).select(F.col("shingle").alias("term"))
    batch = (
        hll_cardinality(sh)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert streamed.equals(batch)


def test_streamed_sketches_count_null_doc_id_rows(spark, tmp_path):  # noqa: F811
    """A NULL doc_id row must land in exactly one staged micro-batch:
    pmod(NULL, n) == k is NULL for every k, so before the coalesce fix the
    row vanished from the streamed sketch while the batch twin counted it
    — streamed-vs-batch bit-equality is the regression pin, on BOTH the
    SUM-merged CMS and the MAX-merged HLL."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators import (
        dedup,
        textstats,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.streaming.incremental import (
        streamed_cardinality_hll,
        streamed_heavy_hitters,
    )

    rows = [(i, f"streamed null routing fixture text {i} " * 3) for i in range(12)]
    rows.append((None, "the null keyed document that must still be counted"))
    path = str(tmp_path / "docs_with_null.parquet")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]).astype({"doc_id": "Int64"})
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    streamed_cms = (
        streamed_heavy_hitters(spark, path, top=10)
        .toPandas()
        .sort_values(["est", "term"])
        .reset_index(drop=True)
    )
    batch_cms = (
        textstats.token_cms_heavy_hitters(docs, top=10)
        .toPandas()
        .sort_values(["est", "term"])
        .reset_index(drop=True)
    )
    assert streamed_cms.equals(batch_cms)

    streamed_hll = (
        streamed_cardinality_hll(spark, path)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    sh = dedup.char_shingles(docs, n=10).select(F.col("shingle").alias("term"))
    batch_hll = (
        hll_cardinality(sh).toPandas().sort_values("bucket").reset_index(drop=True)
    )
    assert streamed_hll.equals(batch_hll)


def test_hll_group_cardinality_matches_per_group_replication(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        hll_group_cardinality,
    )

    terms = [("a", f"x{i % 500}") for i in range(3000)] + [
        ("b", f"y{i % 17}") for i in range(300)
    ]
    df = spark.createDataFrame(pd.DataFrame(terms, columns=["grp", "term"]))
    got = {
        r.grp: (int(r.est), int(r.est_raw), int(r.n_exact), int(r.n_empty_buckets))
        for r in hll_group_cardinality(df).toPandas().itertuples()
    }
    for grp in ("a", "b"):
        sub = [t for g, t in terms if g == grp]
        regs, est_raw, est = _hll_python(sub)
        assert got[grp] == (est, est_raw, len(set(sub)), 256 - len(regs)), grp
    # group b sits in the LC regime, group a exercises more registers
    assert got["b"][3] > got["a"][3]


def test_badwords_gate_whole_word_and_nulls(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        badwords_gate,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "a classic assignment",  # substrings must NOT match
                    "play the CASINO, win the Lottery!",  # case + punct
                    None,  # fail-open
                    "clean page entirely",
                ],
            }
        )
    )
    got = {
        int(r.doc_id): (bool(r.keep), int(r.n_badword_types), r.matched)
        for r in badwords_gate(docs, badwords=["ass", "casino", "lottery"])
        .toPandas()
        .itertuples()
    }
    assert got[0] == (True, 0, "")
    assert got[1] == (False, 2, "casino,lottery")
    assert got[2] == (True, 0, "")
    assert got[3] == (True, 0, "")


def test_badwords_gate_phrases_and_punctuated_terms(spark):  # noqa: F811
    """The real C4 list is full of multi-word phrases and punctuated
    obfuscations — the gate must match them literally on alphanumeric
    boundaries (the pre-fix token-equality test silently never matched
    any of them: keep=True with n_badword_types=0)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        badwords_gate,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4, 5],
                "text": [
                    "watch deep throat online",  # phrase hit
                    "deep thought, throat lozenge",  # words split -> no hit
                    "grade a$$ material",  # punctuated term, exact punct
                    "grade a!! material",  # same positions, other punct -> hit
                    "grade ass material",  # alnum where punct expected -> miss
                    "a deepthroat compound",  # no boundary -> miss
                ],
            }
        )
    )
    terms = ["deep throat", "a$$", "!!!"]  # pure punctuation is excluded
    got = {
        int(r.doc_id): (bool(r.keep), int(r.n_badword_types), r.matched)
        for r in badwords_gate(docs, badwords=terms).toPandas().itertuples()
    }
    assert got[0] == (False, 1, "deep throat")
    assert got[1] == (True, 0, "")
    assert got[2] == (False, 1, "a$$")
    assert got[3] == (False, 1, "a$$")  # documented positional-punct widening
    assert got[4] == (True, 0, "")
    assert got[5] == (True, 0, "")


def test_hll_randomised_multisets_match_python(spark):  # noqa: F811
    """200 random term multisets (mixed unicode, dup-heavy, singleton and
    empty-ish), ONE grouped-HLL Spark job, per-set compare against the
    independent Python replication — randomised coverage of bucket/rho/
    estimator/LC arithmetic in the grouped shape."""
    import random

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        hll_group_cardinality,
    )

    rng = random.Random(1234)
    alphabet = ["tok", "x", "木", "ümlaut", "9" * 12, "a b", "", "Zz"]
    rows = []
    truth = {}
    for s in range(200):
        n = rng.choice([1, 2, 5, 40, 300])
        terms = [
            rng.choice(alphabet) + str(rng.randint(0, rng.choice([3, 50, 10**6])))
            for _ in range(n)
        ]
        rows += [(s, t) for t in terms]
        regs, est_raw, est = _hll_python(terms)
        truth[s] = (est, est_raw, len(set(terms)), 256 - len(regs))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["grp", "term"]))
    got = {
        int(r.grp): (int(r.est), int(r.est_raw), int(r.n_exact), int(r.n_empty_buckets))
        for r in hll_group_cardinality(df).toPandas().itertuples()
    }
    assert got == truth


def test_hll_xxhash64_production_path(spark):  # noqa: F811
    # Production hash seam (the dedup-family pattern): same sketch
    # semantics and error bounds, different register values — so no
    # cross-engine oracle, but accuracy vs the exact count still holds.
    terms = [f"item-{i % 2000}-{i % 7}" for i in range(20000)]
    df = _terms_df(spark, terms)
    got = hll_cardinality(df, hasher="xxhash64").toPandas()
    n_exact = int(got.n_exact.iloc[0])
    assert n_exact == len(set(terms))
    # 4 sigma at p=8 (std err ~6.5%)
    assert abs(int(got.est.iloc[0]) - n_exact) <= 0.26 * n_exact
    # and it genuinely differs from the md5 registers (distinct hash family)
    md5_regs = {(r.bucket, r.register) for r in hll_sketch(df).toPandas().itertuples()}
    xx_regs = {
        (r.bucket, r.register)
        for r in hll_sketch(df, hasher="xxhash64").toPandas().itertuples()
    }
    assert md5_regs != xx_regs
    with pytest.raises(ValueError):
        hll_sketch(df, hasher="sha1")
