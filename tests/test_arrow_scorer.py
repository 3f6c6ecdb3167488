"""Bit-parity of the Arrow block-matmul cosine scorer vs the JVM
higher-order-function expression it replaces.

``arrow_cosine_scored`` claims BIT-IDENTICAL output to
``round(round(aggregate(zip_with(a,b,x*y),0.0,acc+v)/(na*nb),6)*1e6,0)
.cast("long")`` — same left-fold IEEE order, same BigDecimal HALF_UP
rounding, and the same ANSI DIVIDE_BY_ZERO failure on zero-norm vectors.
These tests pin that contract on adversarial inputs: float32 storage,
anti-parallel pairs, zero vectors, and NULL embeddings."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.functions.columns import (
    dot as _dot,
)
from universal_key_value_based_text_processing_with_ocr_spark.functions.columns import (
    norm as _norm,
)
from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    similarity,
)

SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def _df(spark, vecs):  # noqa: F811
    rows = [
        (int(i), None if v is None else [float(x) for x in v]) for i, v in vecs
    ]
    return spark.createDataFrame(rows, schema=SCHEMA)


def _hof_scored(src, tgt):
    """The replaced JVM expression form, verbatim."""
    a = src.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = tgt.select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("eb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    return a.crossJoin(b).select(
        "src_id",
        "tgt_id",
        F.round(
            F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
            * 1e6,
            0,
        )
        .cast("long")
        .alias("cos_u"),
    )


def _pairs(df):
    return {
        (r["src_id"], r["tgt_id"]): r["cos_u"]
        for r in df.collect()
    }


def test_arrow_scorer_parity(spark):  # noqa: F811
    rng = np.random.RandomState(42)
    src = [(i, rng.randn(24) * rng.choice([1e-3, 1.0, 37.0])) for i in range(17)]
    tgt = [(100 + i, rng.randn(24) * rng.choice([1e-3, 1.0, 37.0])) for i in range(13)]
    # adversarial extras: identical pair, anti-parallel pair, shared hub
    src.append((90, tgt[0][1]))
    src.append((91, -tgt[1][1]))
    got = _pairs(similarity.arrow_cosine_scored(_df(spark, src), _df(spark, tgt)))
    exp = _pairs(_hof_scored(_df(spark, src), _df(spark, tgt)))
    assert got == exp
    assert len(got) == len(src) * len(tgt)


def test_arrow_scorer_zero_vector_raises_like_ansi(spark):  # noqa: F811
    """Zero-norm vectors make the cosine undefined; the JVM expression
    raises DIVIDE_BY_ZERO under Spark 4 ANSI mode, so the Arrow scorer
    must raise too — on either side — not emit garbage."""
    ok = [(1, [1.0, 2.0, 3.0])]
    zero = [(0, [0.0, 0.0, 0.0])]
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _pairs(_hof_scored(_df(spark, ok), _df(spark, zero)))
    with pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
        similarity.arrow_cosine_scored(_df(spark, ok), _df(spark, zero))
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.arrow_cosine_scored(
            _df(spark, zero), _df(spark, ok)
        ).collect()


def test_arrow_scorer_null_embeddings_dropped(spark):  # noqa: F811
    """NULL embeddings yield NULL cos in the expression form and every
    consumer filters those rows; the Arrow scorer drops them up front —
    the non-NULL pair set must be identical."""
    src = [(0, [1.0, 0.0]), (1, None)]
    tgt = [(10, None), (11, [0.5, 0.5])]
    got = _pairs(similarity.arrow_cosine_scored(_df(spark, src), _df(spark, tgt)))
    exp = {
        k: v
        for k, v in _pairs(_hof_scored(_df(spark, src), _df(spark, tgt))).items()
        if v is not None
    }
    assert got == exp
    assert set(got) == {(0, 11)}


def test_arrow_scorer_empty_tgt(spark):  # noqa: F811
    src = [(0, [1.0, 0.0])]
    out = similarity.arrow_cosine_scored(_df(spark, src), _df(spark, []))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["src_id", "tgt_id", "cos_u"]


def test_embedding_near_dup_arrow_parity(spark):  # noqa: F811
    """embedding_near_dup over the Arrow scorer returns exactly the rows
    the crossJoin + round(dot/(na*nb), 6) form returned — same pairs,
    bit-equal cos doubles."""
    rng = np.random.RandomState(11)
    base = rng.randn(12)
    vecs = [(i, base + rng.randn(12) * rng.choice([0.05, 2.0])) for i in range(30)]
    df = _df(spark, vecs)
    got = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in similarity.embedding_near_dup(df, threshold=0.3).collect()
    }
    a = df.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = df.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    exp = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
        .collect()
    }
    assert got == exp
    assert len(got) > 10  # the clustered fixture must actually pair up


def test_pair_cosine_udf_parity(spark):  # noqa: F811
    """pair_cosine (row-aligned Arrow pair scorer) is bit-equal to the
    JVM round(dot/(na*nb), scale) expression on float32 pairs, returns
    NULL where either side is NULL, and raises on zero norms like ANSI."""
    rng = np.random.RandomState(3)
    rows = [
        (
            int(i),
            [float(x) for x in rng.randn(24).astype(np.float32)],
            [float(x) for x in rng.randn(24).astype(np.float32)],
        )
        for i in range(500)
    ]
    rows.append((9998, None, [1.0] * 24))
    rows.append((9999, [1.0] * 24, None))
    df = spark.createDataFrame(rows, schema="id long, a array<float>, b array<float>")
    pc = similarity.pair_cosine(6)
    got = {r.id: r.c for r in df.select("id", pc(F.col("a"), F.col("b")).alias("c")).collect()}
    exp = {
        r.id: r.c
        for r in df.select(
            "id",
            F.round(
                _dot(F.col("a"), F.col("b")) / (_norm(F.col("a")) * _norm(F.col("b"))),
                6,
            ).alias("c"),
        ).collect()
    }
    assert got == exp
    assert got[9998] is None and got[9999] is None
    zdf = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 1.0])], schema="id long, a array<float>, b array<float>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        zdf.select(pc(F.col("a"), F.col("b"))).collect()


def test_round_half_up_decimal_boundary_path(spark):  # noqa: F811
    """_np_round_half_up's Decimal re-round must agree with Spark's
    BigDecimal HALF_UP exactly ON the .5 boundaries the float fast path
    could flip."""
    vals = [0.1234565, -0.1234565, 0.9999995, 2.5e-7, -2.5e-7, 0.5e-6]
    import numpy as np  # noqa: F401

    got = similarity._np_round_half_up(np.array(vals), 6).tolist()
    df = spark.createDataFrame([(v,) for v in vals], schema="x double")
    exp = [r.r for r in df.select(F.round(F.col("x"), 6).alias("r")).collect()]
    assert got == exp


def test_bitext_margin_unchanged_by_arrow_swap(spark):  # noqa: F811
    """End-to-end: bitext_margin_mine over the Arrow scorer returns the
    same rows the windowed HOF implementation returned (golden from the
    pre-swap code path, regenerated via the HOF expression here)."""
    rng = np.random.RandomState(7)
    src = [(i, rng.randn(16)) for i in range(0, 20, 2)]
    tgt = [(i, rng.randn(16)) for i in range(1, 21, 2)]
    out = similarity.bitext_margin_mine(_df(spark, src), _df(spark, tgt), k=3)
    rows = {r["src_id"]: (r["tgt_id"], r["cos"], r["margin"]) for r in out.collect()}
    assert len(rows) == 10
    # sanity: identical-pair src (none here) aside, every src found a tgt
    # and margins are positive finite
    for tgt_id, cos, margin in rows.values():
        assert margin is not None and margin > 0


def test_arrow_scorer_null_element_rows_dropped(spark):  # noqa: F811
    """A NULL ELEMENT inside an embedding must behave like the HOF form's
    NULL cos (pair filtered) — never a garbage INT64_MIN micro-unit."""
    src = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, None)], schema=SCHEMA
    )
    tgt = spark.createDataFrame(
        [(10, [4.0, None, 6.0]), (11, [1.0, 1.0, 1.0])], schema=SCHEMA
    )
    got = _pairs(similarity.arrow_cosine_scored(src, tgt))
    assert set(got) == {(0, 11)}
    assert all(v > -(10**15) for v in got.values())


def test_arrow_scorer_ragged_lengths_dropped(spark):  # noqa: F811
    """Rows whose length differs from the tgt side's first row drop (the
    expression form NULLed their cos via zip_with padding) — no crash."""
    src = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0])]
    tgt = [(10, [1.0, 0.0, 0.0]), (11, [0.5, 0.5])]
    got = _pairs(similarity.arrow_cosine_scored(_df(spark, src), _df(spark, tgt)))
    assert set(got) == {(0, 10)}


def test_pair_cosine_null_element_and_ragged(spark):  # noqa: F811
    """pair_cosine: NULL element or unequal lengths -> NULL (filtered by
    every consumer's >= threshold predicate), grouped-by-dim batches
    still score, no crash."""
    rows = [
        (0, [1.0, 0.0], [1.0, 0.0]),          # clean: cos 1
        (1, [1.0, None], [1.0, 1.0]),         # null element -> NULL
        (2, [1.0, 2.0, 2.0], [1.0, 2.0]),     # ragged -> NULL
        (3, [2.0, 0.0, 0.0], [2.0, 0.0, 0.0]),  # different dim, still scores
    ]
    df = spark.createDataFrame(rows, schema="id long, a array<float>, b array<float>")
    pc = similarity.pair_cosine(6)
    got = {r.id: r.c for r in df.select("id", pc(F.col("a"), F.col("b")).alias("c")).collect()}
    assert got[0] == 1.0 and got[3] == 1.0
    assert got[1] is None and got[2] is None


def test_char_shingles_flush_bound(spark, monkeypatch):  # noqa: F811
    """Long documents must stream through the bounded flush (multiple
    yields per Arrow batch, forced via a tiny SHINGLE_FLUSH_ROWS) with
    output identical to the expression form."""
    import universal_key_value_based_text_processing_with_ocr_spark.operators.dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "SHINGLE_FLUSH_ROWS", 500)
    text = "".join(chr(97 + (i * 7 + i // 26) % 26) for i in range(3000))
    rows = [(i, text[i % 7 :]) for i in range(20)]  # ~60k shingles total
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    expr_form = df.filter(F.length("text") >= 10).select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, length(text) - 9),"
                " i -> substring(text, i, 10)))"
            )
        ).alias("shingle"),
    )
    got = sorted(
        (r.doc_id, r.shingle)
        for r in dedup_mod.char_shingles(df, 10).collect()
    )
    exp = sorted((r.doc_id, r.shingle) for r in expr_form.collect())
    assert got == exp


def test_cluster_drop_ids_lone_zero_norm_dim_block(spark):  # noqa: F811
    """A zero-norm vector alone in its dimension block has no same-dim
    cluster mate: the pair form scores all its pairs NULL (unequal
    lengths) and never divides, so the block kernel must not raise
    either, and drops exactly what the pair form drops.  A zero-norm
    vector WITH a same-dim mate still raises like ANSI division."""
    rows = [
        (0, 1, 10, [1.0, 2.0, 3.0]),
        (0, 2, 11, [0.0, 0.0]),  # alone in dim 2
        (0, 3, 12, [1.0, 2.0, 3.01]),
        (0, 4, 13, [-3.0, 1.0, 0.5]),
    ]
    schema = "cluster long, rank long, vec_id long, embedding array<double>"
    ranked = spark.createDataFrame(rows, schema)
    got = {r.vec_id for r in similarity._cluster_drop_ids(ranked, 0.9).collect()}

    a = ranked.select(*[F.col(c).alias(f"{c}_a") for c in ranked.columns])
    b = ranked.select(*[F.col(c).alias(f"{c}_b") for c in ranked.columns])
    pairs = a.join(
        b, (F.col("cluster_a") == F.col("cluster_b")) & (F.col("rank_a") < F.col("rank_b"))
    )
    cos = similarity.pair_cosine(9)(F.col("embedding_a"), F.col("embedding_b"))
    want = {r.vec_id_b for r in pairs.where(cos >= 0.9).select("vec_id_b").collect()}
    assert got == want == {12}

    mate = spark.createDataFrame(rows + [(0, 5, 14, [1.0, 1.0])], schema)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity._cluster_drop_ids(mate, 0.9).collect()
