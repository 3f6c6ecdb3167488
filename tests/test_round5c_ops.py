"""Round-5 session-13 operators: quality-aware cluster retention policy
(keep-best + soft weights, replicated row-for-row from the engine's own
cluster/quality outputs), regex sentence segmentation (hand-derived known
answers incl. consecutive-boundary and no-uppercase cases), and the
per-language tokenizer-fertility audit (exact integer counts on ASCII
fixtures where the \\p{L} class is enumerable by hand)."""

import pandas as pd

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401
from universal_key_value_based_text_processing_with_ocr_spark.operators import (
    dedup,
    textstats,
)


def _docs(spark, rows):  # noqa: F811
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
            {"doc_id": "int64"}
        ),
        schema="doc_id long, text string",
    )


# ---------------------------------------------------------------------------
# cluster_policy
# ---------------------------------------------------------------------------

BASE = (
    "the quick brown fox jumps over the lazy dog while the band plays on "
    "and the crowd watches quietly from the old wooden stands in the rain"
)


def test_cluster_policy_matches_component_replication(spark):  # noqa: F811
    """Policy columns must equal a pandas replication built from the
    engine's OWN near_dup_clusters + quality_score outputs — so this pins
    the policy logic (sizes, argmax-keep with doc_id tie-break, 1/size
    weights, singleton fold-in) independent of LSH specifics."""
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, BASE + " extra 99999"),     # near dup, lower quality (digits)
        (4, "completely different text about spark query planning and "
            "shuffle exchanges in distributed analytical engines today"),
        (5, None),                      # NULL text -> singleton
        (6, ""),                        # empty -> no shingles -> singleton
    ]
    docs = _docs(spark, rows)
    got = dedup.cluster_policy(docs).toPandas().sort_values("doc_id")

    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.near_dup_clusters(docs).collect()
    }
    quality = {
        r["doc_id"]: r["quality"] for r in textstats.quality_score(docs).collect()
    }
    ids = [r[0] for r in rows]
    cl = {d: clusters.get(d, d) for d in ids}
    size = {d: sum(1 for x in ids if cl[x] == cl[d]) for d in ids}

    def keep(d):
        members = [x for x in ids if cl[x] == cl[d]]
        members.sort(
            key=lambda x: (
                -(quality[x] if quality[x] is not None else float("-inf")),
                x,
            )
        )
        return members[0] == d

    for _, row in got.iterrows():
        d = int(row["doc_id"])
        assert int(row["cluster_id"]) == cl[d]
        assert int(row["cluster_size"]) == size[d]
        assert bool(row["keep"]) == keep(d)
        assert abs(float(row["soft_weight"]) - round(1.0 / size[d], 6)) < 1e-12

    # the fixture must actually exercise a multi-doc cluster
    assert max(size.values()) >= 2
    # exactly one keeper per cluster
    kept = got[got["keep"]]
    assert sorted(kept["cluster_id"]) == sorted(set(cl.values()))


def test_cluster_policy_every_doc_appears_once(spark):  # noqa: F811
    docs = _docs(spark, [(i, BASE if i % 3 == 0 else f"unique {i} " * 8) for i in range(12)])
    got = dedup.cluster_policy(docs).toPandas()
    assert sorted(got["doc_id"]) == list(range(12))
    # weights of a cluster sum to 1 (up to the 6-dp rounding)
    for _, grp in got.groupby("cluster_id"):
        assert abs(grp["soft_weight"].sum() - 1.0) < 1e-4


# ---------------------------------------------------------------------------
# sentence_stats
# ---------------------------------------------------------------------------


def _sentences(spark, text):  # noqa: F811
    out = (
        textstats.sentence_stats(_docs(spark, [(0, text)]))
        .collect()[0]
        .asDict()
    )
    return out["n_sentences"], out["avg_sentence_chars"], out["max_sentence_chars"]


def test_sentence_stats_known_answers(spark):  # noqa: F811
    n, avg, mx = _sentences(spark, "Hello world. This is fine! Is it? Yes.")
    # "Hello world." (12) / "This is fine!" (13) / "Is it?" (6) / "Yes." (4)
    assert (n, avg, mx) == (4, round((12 + 13 + 6 + 4) / 4, 6), 13)

    # boundary needs an uppercase continuation: lowercase after '.' is NOT one
    assert _sentences(spark, "no caps. next")[0] == 1

    # consecutive single-letter sentences: each boundary consumes its
    # uppercase letter yet the next boundary still matches
    assert _sentences(spark, "A. B. C.")[0] == 3

    # tab counts as the inter-sentence gap
    assert _sentences(spark, "One.\tTwo")[0] == 2


def test_sentence_stats_null_and_empty(spark):  # noqa: F811
    df = textstats.sentence_stats(
        _docs(spark, [(0, None), (1, ""), (2, "   ")])
    ).toPandas().set_index("doc_id")
    assert pd.isna(df.loc[0, "n_sentences"])
    assert df.loc[1, "n_sentences"] == 0
    assert df.loc[2, "n_sentences"] == 0
    assert pd.isna(df.loc[1, "avg_sentence_chars"])
    assert pd.isna(df.loc[2, "max_sentence_chars"])


def test_sentence_stats_is_one_projection(spark):  # noqa: F811
    """No exchange, no Generate: the whole thing is a row-local projection."""
    plan = (
        textstats.sentence_stats(_docs(spark, [(0, "Hi. There.")]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Generate" not in plan


# ---------------------------------------------------------------------------
# tokenizer_fertility
# ---------------------------------------------------------------------------


def test_tokenizer_fertility_exact_counts(spark):  # noqa: F811
    rows = [
        # lang en: "hello world 123" -> bpe: 'hello',' world',' 123' = 3;
        #          words 3; chars 15
        (0, "hello world 123", "en"),
        # lang en: "abc" -> 1 bpe token, 1 word, 3 chars
        (1, "abc", "en"),
        # lang de: empty text -> 0 tokens, 0 words, 0 chars (ratios NULL)
        (2, "", "de"),
        # NULL text excluded entirely
        (3, None, "fr"),
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).astype(
            {"doc_id": "int64"}
        ),
        schema="doc_id long, text string, lang string",
    )
    got = {
        r["lang"]: r.asDict()
        for r in textstats.tokenizer_fertility(docs).collect()
    }
    assert set(got) == {"en", "de"}
    en = got["en"]
    assert (en["n_docs"], en["n_bpe_tokens"], en["n_words"]) == (2, 4, 4)
    assert en["fertility"] == 1.0
    assert en["chars_per_token"] == round(18 / 4, 6)
    de = got["de"]
    assert (de["n_docs"], de["n_bpe_tokens"], de["n_words"]) == (1, 0, 0)
    assert de["fertility"] is None
    assert de["chars_per_token"] is None


def test_tokenizer_fertility_partial_agg(spark):  # noqa: F811
    """The groupBy must be map-side combinable (partial_ before the
    exchange) — the 100 TB shape check."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["x"], "lang": ["en"]}),
        schema="doc_id long, text string, lang string",
    )
    plan = (
        textstats.tokenizer_fertility(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan or "partial_sum" in plan


# ---------------------------------------------------------------------------
# ngram_containment_pairs
# ---------------------------------------------------------------------------


def test_containment_finds_subset_jaccard_misses(spark):  # noqa: F811
    """A short quote fully embedded in a long page: containment_a = 1.0
    while jaccard is tiny — the pair must surface here and NOT in the
    jaccard scorer at the same threshold."""
    quote = "the market closed sharply higher on tuesday afternoon trading"
    page = ("in a week of turbulence " * 30) + quote + (" analysts noted broad gains " * 30)
    docs = _docs(spark, [(1, quote), (2, page)])
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.ngram_containment_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)]["containment_a"] == 1.0
    assert got[(1, 2)]["containment_b"] < 0.5
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []


def test_containment_matches_python_replication(spark):  # noqa: F811
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "alpha beta gamma delta epsilon something else entirely here"),
        (4, "totally unrelated content with its own distinct words only"),
    ]
    docs = _docs(spark, rows)
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in dedup.ngram_containment_pairs(docs, threshold=0.3).collect()
    }

    def shingles(t):
        return {t[i : i + 10] for i in range(len(t) - 9)}

    sets = {d: shingles(t) for d, t in rows}
    exp = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            ca = round(inter / len(sets[a]), 6)
            cb = round(inter / len(sets[b]), 6)
            if max(ca, cb) >= 0.3:
                exp[(a, b)] = (ca, cb)
    assert got == exp


# ---------------------------------------------------------------------------
# readability
# ---------------------------------------------------------------------------


def test_readability_known_answer(spark):  # noqa: F811
    out = (
        textstats.readability(_docs(spark, [(0, "The cat sat. The dog ran.")]))
        .collect()[0]
        .asDict()
    )
    # 6 words, 2 sentences, 6 vowel groups
    assert (out["n_words"], out["n_sentences"], out["n_syllables"]) == (6, 2, 6)
    assert out["flesch"] == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 6)


def test_readability_null_empty_and_floor(spark):  # noqa: F811
    df = (
        textstats.readability(_docs(spark, [(0, None), (1, ""), (2, "fragment")]))
        .toPandas()
        .set_index("doc_id")
    )
    assert pd.isna(df.loc[0, "n_words"]) and pd.isna(df.loc[0, "flesch"])
    assert df.loc[1, "n_words"] == 0 and pd.isna(df.loc[1, "flesch"])
    # a fragment with no boundary still counts as one sentence
    assert df.loc[2, "n_sentences"] == 1 and df.loc[2, "flesch"] is not None


def test_readability_is_one_projection(spark):  # noqa: F811
    plan = (
        textstats.readability(_docs(spark, [(0, "Hi. There.")]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# host_quota_sample
# ---------------------------------------------------------------------------


def _url_docs(spark, n):  # noqa: F811
    rows = []
    for i in range(n):
        url = "bad-url" if i % 17 == 0 else f"https://h{i % 3}.example.com/p/{i}"
        rows.append((i, url))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "url"]).astype({"doc_id": "int64"}),
        schema="doc_id long, url string",
    )


def test_host_quota_cap_and_determinism(spark):  # noqa: F811
    docs = _url_docs(spark, 60)
    got = textstats.host_quota_sample(docs, quota=4).toPandas()
    counts = got.groupby(got["host"].fillna("<null>")).size()
    assert (counts <= 4).all()
    # unparseable urls form the NULL group and obey the cap too
    assert counts["<null>"] == 4
    # deterministic under repartitioning
    again = (
        textstats.host_quota_sample(docs.repartition(16, "doc_id"), quota=4)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert again.equals(got.sort_values("doc_id").reset_index(drop=True))


def test_host_quota_uses_window_group_limit(spark):  # noqa: F811
    """rank<=k must compile to WindowGroupLimit so map tasks pre-prune a
    mega-host to k rows before the exchange."""
    plan = (
        textstats.host_quota_sample(_url_docs(spark, 60), quota=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan

