"""Round-5 operator semantics: each operator pinned against an independent
replication or a hand-derived fixture, bucketed-join result parity vs a
plain join."""

import numpy as np
import pandas as pd
import pytest

from tests.test_spark_pipeline import spark  # session fixture  # noqa: F401


def test_dhash16_known_answers_and_null_path():
    """dhash16 over REAL decoded synth images must equal the independent
    closed-form replay; a pixel-less decode yields None; a constant image
    hashes to 0 (no strict gradient anywhere)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators import imagecodec as ic

    def analytic(d):
        w, h = 8 + d % 9, 8 + (3 * d) % 9
        kind = d % 4
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        base = 7 * x + 13 * y + 31 * d
        if kind in (1, 3):
            L = 1000 * (base % 256)
        else:
            L = 299 * (base % 256) + 587 * ((base + 57) % 256) + 114 * ((base + 114) % 256)
        cx = (np.arange(w) * 5) // w
        cy = (np.arange(h) * 4) // h
        idx = (cy[:, None] * 5 + cx[None, :]).ravel()
        s = np.bincount(idx, weights=L.ravel(), minlength=20).astype(np.int64).reshape(4, 5)
        n = np.bincount(idx, minlength=20).astype(np.int64).reshape(4, 5)
        hsh = 0
        for r in range(4):
            for c in range(4):
                if s[r, c] * n[r, c + 1] > s[r, c + 1] * n[r, c]:
                    hsh |= 1 << (r * 4 + c)
        return hsh

    for d in list(range(40)) + [97, 255, 256, 499]:
        got = ic.dhash16(ic.decode_image(ic.synth_image(d)))
        assert got == analytic(d), d
        assert 0 <= got < (1 << 16)

    # pixel-less decode (bare GIF header, the header-only convention)
    assert ic.dhash16({"pixels": None, "channels": 3, "width": 4, "height": 4}) is None
    # constant image -> all comparisons non-strict -> hash 0
    flat = {"pixels": bytes([128] * 36), "channels": 1, "width": 6, "height": 6}
    assert ic.dhash16(flat) == 0
    # single-pixel-wide image: every cell pair at least defined, no crash
    thin = {"pixels": bytes(range(8)), "channels": 1, "width": 1, "height": 8}
    assert ic.dhash16(thin) == 0  # one cell column occupied -> empty right cells


def test_mojibake_map_matches_real_codecs_and_repairs(spark):  # noqa: F811
    """Every MOJIBAKE_MAP entry must be the REAL cp1252 misreading of the
    char's UTF-8 bytes (ftfy ground truth), and the Spark replace chain
    must repair a genuinely double-encoded string byte-for-byte."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        MOJIBAKE_MAP,
        fix_mojibake,
    )

    for moji, ch in MOJIBAKE_MAP:
        assert ch.encode("utf-8").decode("cp1252") == moji, (moji, ch)
    # longest-first ordering so 3-char punctuation never half-repairs
    lens = [len(m) for m, _ in MOJIBAKE_MAP]
    assert lens == sorted(lens, reverse=True)

    originals = [
        "café crème — à la carte… “quoted” it’s 5°C «über» straße ñoño",
        "no mojibake here at all",
        "l’élève était déçu – 3€",
    ]
    # real corruption via the actual codecs (skip chars the map documents
    # as excluded: their cp1252 read hits control bytes)
    rows = []
    for i, s in enumerate(originals):
        try:
            corrupted = s.encode("utf-8").decode("cp1252")
        except UnicodeDecodeError:
            corrupted = s.encode("utf-8").decode("latin-1")
        rows.append((i, corrupted, s))
    df = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], schema="doc_id long, text string"
    )
    got = {r.doc_id: (r.text, r.n_chars_fixed) for r in fix_mojibake(df).collect()}
    for i, corrupted, original in rows:
        # à is excluded from the map (NBSP tail): the repair must restore
        # every covered char and only those
        expected = corrupted
        from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
            MOJIBAKE_MAP as MM,
        )
        for m, ch in MM:
            expected = expected.replace(m, ch)
        assert got[i][0] == expected
        assert got[i][1] == len(corrupted) - len(expected)
    # the fully-covered string round-trips exactly
    assert got[2][0] == originals[2]
    assert got[1] == ("no mojibake here at all", 0)


def test_lexical_diversity_matches_counter(spark):  # noqa: F811
    from collections import Counter

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        lexical_diversity,
    )

    fixtures = [
        (0, "the cat sat on the mat"),
        (1, "a a a a"),
        (2, "  "),
        (3, None),
        (4, "Unique words only here"),
        (5, "Tab\tand\nnewline   splits ok tab"),
    ]
    df = spark.createDataFrame(fixtures, schema="doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_types, r.n_hapax, r.ttr) for r in lexical_diversity(df).collect()}
    for doc_id, text in fixtures:
        if text is None:
            assert got[doc_id] == (None, None, None, None)
            continue
        toks = text.lower().strip().split()
        if not toks:
            assert got[doc_id] == (0, 0, 0, None)
            continue
        c = Counter(toks)
        hapax = sum(1 for v in c.values() if v == 1)
        assert got[doc_id] == (
            len(toks), len(c), hapax, round(len(c) / len(toks), 9)
        ), (doc_id, got[doc_id])


def test_host_blocklist_fail_open_and_broadcast(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        host_blocklist_filter,
    )

    df = spark.createDataFrame(
        [
            (0, "https://Bad.example.com/x"),
            (1, "https://good.example.com/y"),
            (2, "not a url"),
            (3, "ftp://BAD.EXAMPLE.COM:21/z"),
            (4, None),
        ],
        schema="doc_id long, url string",
    )
    out = host_blocklist_filter(df, ["bad.example.com"])
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 2, 4}  # blocked host dropped in any case/port form,
    # unparseable and NULL urls kept (fail-open)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):  # noqa: F811
    """A truncated/garbage line must land in the quarantine frame, never
    fail the scan; clean rows round-trip typed; schema is mandatory."""
    from universal_key_value_based_text_processing_with_ocr_spark.sources.jsonl import (
        scan_jsonl,
        split_corrupt,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(0, "hello\nworld", "en"), (1, None, "und"), (2, 'quotes " and \\ stuff', "en")],
        schema="doc_id long, text string, lang string",
    )
    out = str(tmp_path / "shards")
    write_jsonl(df, out, shards=2, shard_col="doc_id", gzip_files=False)
    # plant a half-written record and a non-JSON line in a new shard
    (tmp_path / "shards" / "part-junk.json").write_text(
        '{"doc_id": 7, "text": "tr\n<<<not json>>>\n'
    )
    scanned = scan_jsonl(spark, out, "doc_id long, text string, lang string")
    clean, bad = split_corrupt(scanned)
    got = {r.doc_id: (r.text, r.lang) for r in clean.collect()}
    assert got == {
        0: ("hello\nworld", "en"),
        1: (None, "und"),
        2: ('quotes " and \\ stuff', "en"),
    }
    raws = sorted(r.raw for r in bad.collect())
    assert len(raws) == 2 and raws[0].startswith("<<<not json")

    with pytest.raises(ValueError, match="explicit DDL schema"):
        scan_jsonl(spark, out, "  ")


def test_fineweb_pipeline_stage_semantics(spark):  # noqa: F811
    """Hand-built pages, one per drop reason, plus two exact duplicates:
    only the clean survivor set comes out, duplicate keeps smallest id."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        fineweb_pipeline,
    )

    good = (
        "the quick brown fox jumps over the lazy dog today.\n"
        "the quick brown fox jumps over the lazy dog again.\n"
        "and the dog is very happy about all of it."
    )
    rows = [
        (0, "https://blocked.example.com/a", good),           # url drop
        (1, "https://ok.example.com/b", "zz qq ww rr tt"),    # lang 'und' drop
        (2, "https://ok.example.com/c", "the cat sat."),      # quality too_few_words
        (3, "https://ok.example.com/d", good + " " + "#" * 50),  # gopher symbols
        (4, "https://ok.example.com/e", good + "\nthis has lorem ipsum inside."),  # c4
        (5, "https://ok.example.com/f", good),                # survivor
        (6, "https://ok.example.com/g", good),                # exact dup of 5
        (7, "https://ok.example.com/h", good.replace("dog", "cat")),  # survivor
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, url string, text string")
    out = {r.doc_id: r.clean_text for r in fineweb_pipeline(df, ["blocked.example.com"]).collect()}
    assert set(out) == {5, 7}
    assert out[5] == good  # every line ends in '.', all lines kept


def test_nfc_normalize_equivalence_and_nulls(spark):  # noqa: F811
    """unicodedata NFC in the Arrow stage: decomposed sequences compose,
    already-NFC strings flag was_nfc True, NULLs pass through."""
    import unicodedata

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        nfc_normalize,
    )

    decomposed = "café naïve Å"
    rows = [(0, decomposed), (1, "plain ascii"), (2, None), (3, "café")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {r.doc_id: (r.text, r.was_nfc) for r in nfc_normalize(df).collect()}
    assert got[0] == (unicodedata.normalize("NFC", decomposed), False)
    assert got[0][0] == "café naïve Å"
    assert got[1] == ("plain ascii", True)
    assert got[2] == (None, None)
    assert got[3] == ("café", True)


def test_bigram_lm_score_matches_numpy(spark):  # noqa: F811
    """Full replication of the bigram LM (counts, smoothing, log2 mean)
    in plain Python over a small corpus — integer masses AND the float
    xent must agree (1e-9, well inside the 1e-6 round)."""
    import math
    import re
    from collections import Counter

    from universal_key_value_based_text_processing_with_ocr_spark.operators.importance import (
        bigram_lm_score,
    )

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the hat"),
        (2, "one token"),
        (3, "single"),
        (4, None),
        (5, "The CAT sat, on the mat!"),  # case/punct fold to doc 0's grams
    ]
    df = spark.createDataFrame(corpus, schema="doc_id long, text string")
    got = {r.doc_id: r for r in bigram_lm_score(df).collect()}

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]

    grams = {i: [f"{a} {b}" for a, b in zip(toks(t), toks(t)[1:])] for i, t in corpus}
    allg = [g for gs in grams.values() for g in gs]
    c12 = Counter(allg)
    ctx = Counter(g.split(" ")[0] for g in allg)
    v = len(ctx)
    for i, _t in corpus:
        gs = grams[i]
        assert got[i].n_bigrams == len(gs)
        assert got[i].hit_mass == sum(c12[g] for g in gs)
        assert got[i].ctx_mass == sum(ctx[g.split(" ")[0]] for g in gs)
        if not gs:
            assert got[i].xent_bits is None
            continue
        xent = -sum(
            math.log((c12[g] + 1) / (ctx[g.split(" ")[0]] + v)) for g in gs
        ) / len(gs) / math.log(2)
        assert abs(got[i].xent_bits - round(xent, 6)) < 1e-9, (i, got[i].xent_bits, xent)
    # the 5 real bigrams of doc 0 repeat in doc 5 -> doc 5 scores identically
    assert got[5].xent_bits == got[0].xent_bits


def test_pack_sequences_contiguous_and_chunk_math(spark):  # noqa: F811
    """Per shard: intervals tile the stream exactly (each start equals the
    previous end), chunk ids match the offset arithmetic, zero-token docs
    are zero-width."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        pack_sequences,
    )

    rows = [(i, ("tok " * ((i * 7) % 950)).strip() or None) for i in range(200)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = pack_sequences(df, chunk_tokens=256, shards=4).toPandas()
    assert len(out) == 200
    for shard, g in out.groupby("shard"):
        g = g.sort_values("doc_id")
        expected_start = 0
        for r in g.itertuples():
            assert r.start_off == expected_start, (shard, r.doc_id)
            expected_start += r.n_tokens
            assert r.first_chunk == r.start_off // 256
            last_tok = max(r.start_off + r.n_tokens - 1, r.start_off)
            assert r.last_chunk == last_tok // 256
            if r.n_tokens == 0:
                assert r.first_chunk == r.last_chunk


def test_mixture_sample_hits_targets_and_is_deterministic(spark):  # noqa: F811
    """Kept token mass per source approaches min(tokens_s, T_s); a source
    whose target exceeds its mass keeps EVERY doc; two runs identical."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        mixture_sample,
    )

    rows = []
    for i in range(600):
        src = f"s{i % 3}"
        rows.append((i, src, "tok " * (10 + i % 20)))
    rows += [(1000 + i, "tiny", "tok tok tok") for i in range(5)]  # tiny source
    df = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows], schema="doc_id long, source string, text string"
    )
    w = F.when(F.col("source") == "tiny", F.lit(50)).otherwise(F.lit(1))
    out = mixture_sample(df, budget_tokens=4000, weight=w).toPandas()
    out2 = mixture_sample(df, budget_tokens=4000, weight=w).toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)  # deterministic
    # tiny source: target = 4000*50/53 >> 15 tokens -> keeps all 5 docs
    assert (out.source == "tiny").sum() == 5
    # each big source: target ~ 4000/53 ~ 75 tokens of ~3900 -> sparse but
    # non-empty sample, and kept mass can never exceed ~2x target
    for srcn in ("s0", "s1", "s2"):
        kept = out[out.source == srcn].n_tokens.sum()
        assert 0 < kept < 400, (srcn, kept)


# --------------------------------------------------------------------------
# session 3: warc_cdx / html_meta / bm25_score
# --------------------------------------------------------------------------


def test_warc_cdx_offsets_are_seekable(tmp_path):
    """The CDX contract: record_offset must let a reader seek straight to
    one record WITHOUT scanning the archive.  Parse the archive once for
    offsets, then re-parse each record from data[offset:] alone and check
    it yields the same record first."""
    from universal_key_value_based_text_processing_with_ocr_spark.sources import warc as w

    recs = [
        {
            "url": f"https://cdx.example/{i}",
            "date": f"2024-01-01T00:00:{i:02d}Z",
            "payload": w.build_http_response(
                b"x" * (i * 7 % 53), 200 if i % 3 else 404,
                "OK" if i % 3 else "Not Found",
            ),
        }
        for i in range(12)
    ]
    path = str(tmp_path / "seek.warc")
    w.write_warc(path, recs)
    data = open(path, "rb").read()
    parsed = list(w.iter_warc_records(data))
    assert len(parsed) == 13  # warcinfo + 12
    for rec in parsed:
        again = next(iter(w.iter_warc_records(data[rec["offset"]:])))
        assert again["headers"] == rec["headers"]
        assert again["payload"] == rec["payload"]


def test_html_meta_on_real_synth_pages(spark):  # noqa: F811
    """extract_html_meta over the REAL synthetic crawl html (not the
    oracle's constructed variants): every page with an html payload must
    yield title == 'doc {id}' (render_html's title), no description/og
    (the synth pages define none), and noindex False."""
    from pyspark.sql import functions as F

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        extract_html_meta,
    )
    from universal_key_value_based_text_processing_with_ocr_spark.sources.pages import (
        synth_pages_df,
    )

    pages = synth_pages_df(spark, 80, seed=7).select(
        "url", F.expr("decode(html, 'UTF-8')").alias("html_str")
    )
    out = extract_html_meta(pages).collect()
    with_html = [r for r in out if r.html_str is not None]
    assert len(with_html) >= 60
    for r in with_html:
        assert r.title is not None and r.title.startswith("doc ")
        assert r.meta_description is None
        assert r.og_title is None
        assert r.noindex is False
    for r in out:
        if r.html_str is None:
            assert r.title is None


def test_bm25_float_matches_numpy_replication(spark):  # noqa: F811
    """The float bm25 column (excluded from the driver oracle, DSIR
    determinism split) pinned against an independent numpy/pure-Python
    replication of Robertson-Spärck Jones BM25 over the same tokeniser."""
    import math
    import re

    from universal_key_value_based_text_processing_with_ocr_spark.operators.importance import (
        bm25_score,
    )

    docs = [
        (0, "join hash join shuffle the big join plan"),
        (1, "broadcast the small side broadcast broadcast"),
        (2, "nothing relevant here at all"),
        (3, None),
        (4, "hash"),
        (5, "join " * 50),
    ]
    terms = ["join", "hash", "shuffle", "broadcast"]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    got = {r.doc_id: r for r in bm25_score(df, terms).collect()}

    toks = {
        i: [t for t in re.split(r"[^a-z0-9]+", (txt or "").lower()) if t]
        for i, txt in docs
    }
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfreq = {q: sum(1 for t in toks.values() if q in t) for q in terms}
    k1, b = 1.2, 0.75
    for i, tlist in toks.items():
        expect = 0.0
        for q in terms:
            tf = tlist.count(q)
            if tf == 0:
                continue
            idf = math.log(1 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            expect += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tlist) / avgdl))
        assert abs(got[i].bm25 - round(expect, 6)) < 2e-6, (i, got[i].bm25, expect)
        assert got[i].doclen == len(tlist)
        assert got[i].tf_mass == sum(tlist.count(q) for q in terms)


# --------------------------------------------------------------------------
# session 3b: link graph / fixed-point pagerank / anchor text
# --------------------------------------------------------------------------


def _pagerank_py(edges, n_iter=3, scale=10**12, d=85):
    """Independent dict-based replication of the fixed-point recurrence
    (pure Python ints, no DataFrames): rank' = ((100-d)*scale//100)//n +
    d*(contribs + pool//n)//100 with rank//outdeg integer contributions
    and uniform dangling redistribution."""
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    out = {h: 0 for h in nodes}
    for s, _ in edges:
        out[s] += 1
    n = len(nodes)
    rank = {h: scale // n for h in nodes}
    for _ in range(n_iter):
        contrib = {h: 0 for h in nodes}
        for s, t in edges:
            contrib[t] += rank[s] // out[s]
        pool = sum(rank[h] for h in nodes if out[h] == 0)
        rank = {
            h: ((100 - d) * scale // 100) // n
            + d * (contrib[h] + pool // n) // 100
            for h in nodes
        }
    return rank, out


def test_pagerank_matches_python_replication(spark):  # noqa: F811
    """Spark fixed-point PageRank vs the pure-Python replication on a
    small graph WITH dangling nodes and an isolated sink — bit-exact."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.linkgraph import (
        SCALE,
        pagerank_hosts,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "e"),  # e is dangling (no out-edges)
        ("f", "g"),              # g dangling too; f only links out
    ]
    df = spark.createDataFrame(edges, schema="src_host string, dst_host string")
    got = {r.host: (r.outdeg, r.rank_fp) for r in pagerank_hosts(df, n_iter=4).collect()}
    want_rank, want_out = _pagerank_py(edges, n_iter=4, scale=SCALE)
    assert set(got) == set(want_rank)
    for h in want_rank:
        assert got[h] == (want_out[h], want_rank[h]), (h, got[h], want_rank[h])
    # truncation-aware conservation: mass never exceeds SCALE and loses
    # at most ~1 unit per integer division per iteration
    total = sum(r for _, r in got.values())
    assert SCALE * 0.999 < total <= SCALE


def test_pagerank_partitioning_invariance(spark):  # noqa: F811
    """Same graph at 1 vs 16 shuffle partitions -> identical ranks (the
    point of integer arithmetic: grouped sums are order-independent)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.linkgraph import (
        pagerank_hosts,
    )

    edges = [(f"h{i}", f"h{(i * 7 + 3) % 23}") for i in range(200)]
    edges = [(s, t) for s, t in edges if s != t]
    df = spark.createDataFrame(sorted(set(edges)), schema="src_host string, dst_host string")
    a = {r.host: r.rank_fp for r in pagerank_hosts(df.coalesce(1), n_iter=3).collect()}
    b = {
        r.host: r.rank_fp
        for r in pagerank_hosts(df.repartition(16, "src_host"), n_iter=3).collect()
    }
    assert a == b


def test_extract_outlinks_variants(spark):  # noqa: F811
    """One page exercising every resolution rule: absolute kept,
    root-relative resolved, javascript/mailto/protocol-relative/
    path-relative/fragment dropped, nofollow flagged, empty anchor NULL,
    host lowercased."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.linkgraph import (
        extract_outlinks,
    )

    html = (
        '<a href="https://Other.Example/x">Go  here</a>'
        "<a href='https://single.example/y' rel=\"nofollow\">quoted</a>"
        '<a href="/rel/path">rel</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="mailto:a@b">mail</a>'
        '<a href="//proto.example/z">proto</a>'
        '<a href="sub/page.html">pathrel</a>'
        '<a href="#frag">frag</a>'
        '<a href="https://empty.example/e"> </a>'
    )
    df = spark.createDataFrame(
        [("https://src.example/p/1", html)], schema="url string, html_str string"
    )
    rows = {r.dst_url: r for r in extract_outlinks(df).collect()}
    assert set(rows) == {
        "https://Other.Example/x",
        "https://single.example/y",
        "https://src.example/rel/path",
        "https://empty.example/e",
    }
    assert rows["https://Other.Example/x"].dst_host == "other.example"
    assert rows["https://Other.Example/x"].anchor == "Go  here"
    assert rows["https://Other.Example/x"].nofollow is False
    assert rows["https://single.example/y"].nofollow is True
    assert rows["https://src.example/rel/path"].dst_host == "src.example"
    assert rows["https://empty.example/e"].anchor is None
    for r in rows.values():
        assert r.src_host == "src.example"


def test_anchor_topk_tiebreak(spark):  # noqa: F811
    """Equal-count anchor tokens rank token-ascending; rank cuts at k."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.linkgraph import (
        anchor_text_stats,
    )

    links = [
        ("t.example", "zeta alpha"),
        ("t.example", "alpha beta"),
        ("t.example", "beta gamma delta"),
        ("u.example", None),
    ]
    df = spark.createDataFrame(
        [("s", "s.example", "https://" + h + "/", h, a, False) for h, a in links],
        schema="src_url string, src_host string, dst_url string, "
        "dst_host string, anchor string, nofollow boolean",
    )
    got = [(r.token, r.n, r.rk) for r in anchor_text_stats(df, top_k=3)
           .where("dst_host = 't.example'").orderBy("rk").collect()]
    # alpha=2, beta=2, delta=1, gamma=1, zeta=1 -> top3: alpha, beta, delta
    assert got == [("alpha", 2, 1), ("beta", 2, 2), ("delta", 1, 3)]


def test_parse_robots_group_semantics(spark):  # noqa: F811
    """RFC 9309 grouping: consecutive User-agent lines share the rule
    block; a User-agent line after rules starts a new group; comments
    and blank lines vanish; sitemap rows carry agent NULL."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.robots import (
        parse_robots,
    )

    body = (
        "# policy\n"
        "User-agent: A\n"
        "User-agent: B\n"
        "Disallow: /x\n"
        "\n"
        "User-agent: C\n"
        "Allow: /y\n"
        "Crawl-delay: 7\n"
        "Sitemap: https://s.example/map.xml\n"
    )
    df = spark.createDataFrame([("s.example", body)], schema="host string, robots_txt string")
    rows = parse_robots(df).collect()
    rules = {(r.agent, r.directive, r.pattern) for r in rows}
    assert ("a", "disallow", "/x") in rules
    assert ("b", "disallow", "/x") in rules
    assert ("c", "allow", "/y") in rules
    assert ("c", "crawl-delay", "7") in rules
    assert (None, "sitemap", "https://s.example/map.xml") in rules
    assert ("a", "allow", "/y") not in rules  # group 2 rules never leak to group 1
    assert len([r for r in rows if r.directive == "disallow"]) == 2  # A and B copies


def test_apply_robots_precedence(spark):  # noqa: F811
    """Longest match wins; Allow beats Disallow on ties; * wildcard and
    $ anchor compile; empty Disallow is no rule; exact agent group
    shadows *; unknown host defaults allowed; duplicate URLs each keep
    their own row."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.robots import (
        apply_robots,
        parse_robots,
    )

    body = (
        "User-agent: *\n"
        "Disallow: /a\n"
        "Allow: /a/b\n"
        "Disallow: /*.gif$\n"
        "Disallow: /t\n"
        "Allow: /t\n"
        "User-agent: databot\n"
        "Disallow: /only\n"
    )
    robots = spark.createDataFrame(
        [("r.example", body), ("empty.example", "User-agent: *\nDisallow:\n")],
        schema="host string, robots_txt string",
    )
    rules = parse_robots(robots)
    urls = [
        "https://r.example/a/x",        # disallow /a
        "https://r.example/a/b/c",      # allow /a/b (longer)
        "https://r.example/img/pic.gif",  # disallow wildcard+anchor
        "https://r.example/img/pic.gif.html",  # $ anchor -> no match -> allowed
        "https://r.example/t/z",        # tie -> allow
        "https://r.example/free",       # no rule -> allowed
        "https://empty.example/any",    # empty disallow -> allowed
        "https://norobots.example/any", # host absent -> allowed
        "https://r.example/a/x",        # duplicate URL: second row survives
    ]
    df = spark.createDataFrame([(u,) for u in urls], schema="url string")
    out = apply_robots(df, rules, agent="somebot").collect()
    got = {}
    for r in out:
        got.setdefault(r.url, []).append((r.allowed, r.rule_pattern, r.rule_directive))
    assert got["https://r.example/a/x"] == [(False, "/a", "disallow")] * 2
    assert got["https://r.example/a/b/c"] == [(True, "/a/b", "allow")]
    assert got["https://r.example/img/pic.gif"] == [(False, "/*.gif$", "disallow")]
    assert got["https://r.example/img/pic.gif.html"] == [(True, None, None)]
    assert got["https://r.example/t/z"] == [(True, "/t", "allow")]
    assert got["https://r.example/free"] == [(True, None, None)]
    assert got["https://empty.example/any"] == [(True, None, None)]
    assert got["https://norobots.example/any"] == [(True, None, None)]
    # exact agent group shadows *
    only = apply_robots(
        spark.createDataFrame([("https://r.example/only/f",), ("https://r.example/a/x",)], schema="url string"),
        rules, agent="databot",
    ).collect()
    by_url = {r.url: r for r in only}
    assert by_url["https://r.example/only/f"].allowed is False
    # databot group has no /a rule, and * group is shadowed -> allowed
    assert by_url["https://r.example/a/x"].allowed is True


def test_apply_robots_empty_disallow_exemption_shadows_star(spark):  # noqa: F811
    """The common exemption idiom — ``User-agent: x / Disallow:`` (empty =
    allow everything) next to a blanket ``User-agent: * / Disallow: /`` —
    must SELECT x's empty group and shadow the * rules.  Group existence
    used to be decided after the empty-pattern filter, so x fell through
    to * and was wrongly blocked from the whole site.  A crawl-delay-only
    group must likewise count as existing."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.robots import (
        apply_robots,
        parse_robots,
    )

    body = (
        "User-agent: archivebot\n"
        "Disallow:\n"
        "\n"
        "User-agent: slowbot\n"
        "Crawl-delay: 10\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    )
    robots = spark.createDataFrame(
        [("x.example", body)], schema="host string, robots_txt string"
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [("https://x.example/anything",)], schema="url string"
    )
    for bot, want in [("archivebot", True), ("slowbot", True), ("otherbot", False)]:
        (row,) = apply_robots(urls, rules, agent=bot).collect()
        assert row.allowed is want, bot
        if want:
            assert row.rule_pattern is None  # allowed by ABSENCE of rules


def test_classifier_oov_bias_and_sigmoid(spark):  # noqa: F811
    """OOV tokens contribute nothing; empty/NULL docs score exactly the
    bias; logit is the exact integer dot product; the float prob column
    equals math.sigmoid of the fixed-point logit; label thresholds at
    0."""
    import math

    from universal_key_value_based_text_processing_with_ocr_spark.operators.classifier import (
        WEIGHT_SCALE,
        classify_documents,
    )

    docs = spark.createDataFrame(
        [
            (0, "good good bad unknown"),
            (1, "unknown words only"),
            (2, None),
            (3, "bad bad bad good"),
        ],
        schema="doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("good", 700_000), ("bad", -400_000)], schema="token string, weight_fp long"
    )
    out = {r.doc_id: r for r in classify_documents(docs, weights, bias_fp=100_000).collect()}
    assert (out[0].n_scored, out[0].logit_fp) == (3, 700_000 * 2 - 400_000 + 100_000)
    assert (out[1].n_scored, out[1].logit_fp) == (0, 100_000)
    assert (out[2].n_scored, out[2].logit_fp) == (0, 100_000)
    assert (out[3].n_scored, out[3].logit_fp) == (4, -400_000 * 3 + 700_000 + 100_000)
    for r in out.values():
        want = 1.0 / (1.0 + math.exp(-r.logit_fp / WEIGHT_SCALE))
        assert abs(r.prob - want) < 1e-12, (r.doc_id, r.prob, want)
        assert r.label is (r.logit_fp >= 0)


def test_classifier_weight_table_broadcasts(spark):  # noqa: F811
    """The vocabulary join must be a broadcast: no shuffle of the corpus
    on token."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.classifier import (
        classify_documents,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(50)], schema="doc_id long, text string"
    )
    weights = spark.createDataFrame(
        [("alpha", 1), ("beta", 2)], schema="token string, weight_fp long"
    )
    plan = classify_documents(docs, weights)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_inverted_index_positions_and_stoplist(spark):  # noqa: F811
    """Positions index the FILTERED token list; tf/df exact; terms over
    max_df dropped entirely; posting arrays sorted."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.invindex import (
        build_inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat -- sat; the CAT"),   # 'the' twice, 'cat' twice
            (1, "the dog"),
            (2, "the cat"),
        ],
        schema="doc_id long, text string",
    )
    out = build_inverted_index(docs, max_df=2).collect()
    rows = {(r.term, r.doc_id): r for r in out}
    assert all(r.term != "the" for r in out)  # df=3 > 2: stop-listed
    # doc 0 filtered tokens: [the, cat, sat, the, cat]
    assert rows[("cat", 0)].tf == 2 and rows[("cat", 0)].positions == [1, 4]
    assert rows[("sat", 0)].positions == [2]
    assert rows[("cat", 0)].df == 2 and ("cat", 2) in rows
    assert rows[("dog", 1)].df == 1


def test_inverted_index_query_cells_match_its_oracle(spark, tmp_path):  # noqa: F811
    """The ``inverted_index`` query emits positions as one comma-joined
    string, the same scalar cell its DuckDB oracle emits, so a checker
    that sorts rows by every column can compare the two."""
    import duckdb

    from universal_key_value_based_text_processing_with_ocr_spark.api import (
        ORACLE_SQL,
        q_inverted_index,
    )

    docs = tmp_path / "documents.parquet"
    pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["the cat -- sat; the CAT", "the dog", None]}
    ).to_parquet(docs)
    got = sorted(tuple(r) for r in q_inverted_index(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    assert got == sorted(con.execute(ORACLE_SQL["inverted_index"]).fetchall())
    assert ("cat", 0, 2, "1,4", 1) in got


def test_parse_sitemaps_variants(spark):  # noqa: F811
    """Leaf urlset + sitemapindex; multi-line blocks trimmed; loc-less
    entries dropped; optional fields NULL."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.robots import (
        parse_sitemaps,
    )

    leaf = (
        '<?xml version="1.0"?>\n<urlset>\n'
        "<url><loc>https://a.example/1</loc><lastmod>2024-03-01</lastmod>"
        "<changefreq>weekly</changefreq><priority>0.8</priority></url>\n"
        "<url>\n  <loc>  https://a.example/2  </loc>\n</url>\n"
        "<url><changefreq>daily</changefreq></url>\n"
        "</urlset>"
    )
    idx = (
        "<sitemapindex><sitemap><loc>https://b.example/m1.xml</loc>"
        "<lastmod>2023-12-31</lastmod></sitemap></sitemapindex>"
    )
    df = spark.createDataFrame(
        [("a.example", leaf), ("b.example", idx)],
        schema="host string, sitemap_xml string",
    )
    rows = {r.loc: r for r in parse_sitemaps(df).collect()}
    assert set(rows) == {
        "https://a.example/1", "https://a.example/2", "https://b.example/m1.xml"
    }
    r1 = rows["https://a.example/1"]
    assert (r1.lastmod, r1.changefreq, r1.priority, r1.from_index) == (
        "2024-03-01", "weekly", "0.8", False)
    r2 = rows["https://a.example/2"]
    assert (r2.lastmod, r2.changefreq, r2.priority) == (None, None, None)
    r3 = rows["https://b.example/m1.xml"]
    assert (r3.lastmod, r3.from_index) == ("2023-12-31", True)


# ---------------------------------------------------------------------------
# grouped_quantile_buckets / ccnet_buckets / snapshot_diff (session 5)
# ---------------------------------------------------------------------------


def test_grouped_quantile_buckets_hand_case(spark):  # noqa: F811
    """9 rows, one group, distinct scores -> exact thirds; ties straddling
    a boundary share the bucket of their highest cumulative position."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        grouped_quantile_buckets,
    )

    # distinct scores 1..9: buckets must be exact thirds
    df = spark.createDataFrame(
        [("g", i) for i in range(1, 10)], "grp string, score long"
    )
    out = {
        r["score"]: r["bucket"]
        for r in grouped_quantile_buckets(df, "score", "grp").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 2, 7: 3, 8: 3, 9: 3}

    # tie group [5,5,5,5] spans the 1/3 boundary (cum=6 of 9 -> ceil(6*3/9)
    # = bucket 2): ALL the tied rows land in bucket 2, never split
    df2 = spark.createDataFrame(
        [("g", s) for s in [1, 2, 5, 5, 5, 5, 8, 9, 9]], "grp string, score long"
    )
    rows = grouped_quantile_buckets(df2, "score", "grp").collect()
    by_score = {}
    for r in rows:
        by_score.setdefault(r["score"], set()).add(r["bucket"])
    assert by_score == {1: {1}, 2: {1}, 5: {2}, 8: {3}, 9: {3}}


def test_grouped_quantile_buckets_partition_invariant_and_null_group(spark):  # noqa: F811
    """Same buckets whatever the input partitioning; NULL group is its own
    bucket domain (null-safe joins)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        grouped_quantile_buckets,
    )

    rows = [(None if i % 3 == 0 else f"g{i % 2}", (i * 7) % 13) for i in range(60)]
    df = spark.createDataFrame(rows, "grp string, score long")
    key = lambda t: (t[0] or "", t[1], t[2])  # noqa: E731 — None-safe sort
    a = sorted(
        (
            (r["grp"], r["score"], r["bucket"])
            for r in grouped_quantile_buckets(df, "score", "grp").collect()
        ),
        key=key,
    )
    b = sorted(
        (
            (r["grp"], r["score"], r["bucket"])
            for r in grouped_quantile_buckets(df.repartition(13), "score", "grp").collect()
        ),
        key=key,
    )
    assert a == b
    assert {g for g, _, _ in a} == {None, "g0", "g1"}
    # every group spans all three buckets on this spread
    for g in (None, "g0", "g1"):
        assert {bk for gg, _, bk in a if gg == g} == {1, 2, 3}


def test_grouped_quantile_buckets_reuses_scoring_subtree(spark):  # noqa: F811
    """The (group, score) repartition spine must be computed ONCE and
    shared between the histogram agg and the assignment join — visible as
    ReusedExchange in the FINAL adaptive plan."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.importance import (
        ccnet_buckets,
    )

    docs = spark.createDataFrame(
        [(i, f"common words appear here again {i % 5}", f"l{i % 2}") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    df = ccnet_buckets(docs)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 1, plan[:1500]


def test_ccnet_buckets_tiers(spark):  # noqa: F811
    """Higher corpus familiarity -> head; featureless docs score 0 and sit
    in their language's tail; every doc keeps exactly one tier."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.importance import (
        ccnet_buckets,
    )

    rows = (
        # 3 docs of pure boilerplate (identical bigrams -> max familiarity)
        [(i, "the quick brown fox jumps", "en") for i in range(3)]
        # 3 docs sharing some phrasing
        + [(i + 3, f"the quick red fox number {i}", "en") for i in range(3)]
        # 2 unique-gibberish docs + 1 featureless
        + [(6, "zxq wvu tsr qpo nml", "en"), (7, "aaa bbb ccc ddd eee", "en"),
           (8, None, "en")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in ccnet_buckets(docs).collect()}
    assert len(out) == 9
    assert {r["tier"] for r in out.values()} <= {"head", "middle", "tail"}
    # featureless doc: fam 0, tail
    assert out[8]["fam_score"] == 0 and out[8]["tier"] == "tail"
    # the boilerplate triplet outranks the gibberish docs
    assert all(out[i]["tier"] == "head" for i in range(3))
    assert out[6]["bucket"] < out[0]["bucket"]
    # tier string matches the bucket index
    for r in out.values():
        assert r["tier"] == {1: "tail", 2: "middle", 3: "head"}[r["bucket"]]


def test_snapshot_diff_statuses(spark):  # noqa: F811
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [("u1", "fa"), ("u2", "fb"), ("u3", "fc")], "url string, fp string"
    )
    new = spark.createDataFrame(
        [("u2", "fb"), ("u3", "fX"), ("u4", "fd")], "url string, fp string"
    )
    out = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {
        "u1": "deleted", "u2": "unchanged", "u3": "changed", "u4": "added"
    }
    # fingerprints carried through for downstream re-extract planning
    rows = {r["url"]: r for r in snapshot_diff(old, new).collect()}
    assert rows["u3"]["old_fp"] == "fc" and rows["u3"]["new_fp"] == "fX"
    assert rows["u1"]["new_fp"] is None and rows["u4"]["old_fp"] is None


def test_snapshot_diff_one_combinable_exchange(spark):  # noqa: F811
    """The diff is a union + groupBy — exactly one shuffle, with a
    map-side partial aggregate, and NO join node."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        snapshot_diff,
    )

    old = spark.createDataFrame([("u%d" % i, "f") for i in range(50)], "url string, fp string")
    new = spark.createDataFrame([("u%d" % i, "f") for i in range(25, 75)], "url string, fp string")
    df = snapshot_diff(old, new)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "Join" not in plan
    # partial + final aggregate around the single exchange (hash or sort
    # based — string max picks SortAggregate on some codepaths)
    assert plan.count("Aggregate") == 2, plan[:1200]


def test_grouped_percentile_disc_hand_case(spark):  # noqa: F811
    """PERCENTILE_DISC semantics: smallest value whose cumulative count
    reaches q% of the group — checked against a brute-force oracle."""
    import math

    from universal_key_value_based_text_processing_with_ocr_spark.operators.relational import (
        grouped_percentile_disc,
    )

    vals = {"a": [1, 2, 2, 3, 10], "b": [5], "c": [7, 7, 7, 8]}
    rows = [(g, v) for g, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {
        r["grp"]: (r["p50"], r["p90"])
        for r in grouped_percentile_disc(df, "v", "grp", (50, 90)).collect()
    }

    def disc(sorted_vs, q):
        n = len(sorted_vs)
        return sorted_vs[math.ceil(q * n / 100) - 1]

    for g, vs in vals.items():
        s = sorted(vs)
        assert out[g] == (disc(s, 50), disc(s, 90)), (g, out[g])

    with pytest.raises(ValueError):
        grouped_percentile_disc(df, "v", "grp", (0, 50))


def test_corpus_datasheet(spark):  # noqa: F811
    """Exact sums and percentiles per lang; NULL text counts 0 tokens and
    is tallied; NULL lang is its own row."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        corpus_datasheet,
    )

    rows = [
        (0, "one two three", "en"),
        (1, "four", "en"),
        (2, None, "en"),
        (3, "   ", "id"),
        (4, "lima enam", "id"),
        (5, "x y z", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in corpus_datasheet(df).collect()}
    assert set(out) == {"en", "id", None}
    en = out["en"]
    assert (en["n_docs"], en["total_tokens"], en["null_text_docs"]) == (3, 4, 1)
    # lengths: 13, 4, 0 -> sorted [0, 4, 13]; p50 = 4, p90 = 13
    assert (en["p50_chars"], en["p90_chars"]) == (4, 13)
    idr = out["id"]
    # "   " trims to 0 tokens; "lima enam" is 2
    assert (idr["n_docs"], idr["total_tokens"], idr["null_text_docs"]) == (2, 2, 0)
    assert out[None]["n_docs"] == 1 and out[None]["total_tokens"] == 3


def test_extraction_f1(spark):  # noqa: F811
    """Multiset intersection credits repeated tokens at most min(counts);
    empty/NULL candidate scores recall 0; doc empty on both sides has all
    three metrics NULL; perfect match scores 1.0 across the board."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.evalmetrics import (
        extraction_f1,
    )

    rows = [
        # gold "a a b c", cand "a b b d": common = min(2,1)+min(1,2) = 2
        (0, "a a b c", "a b b d"),
        (1, "x y", "x y"),          # perfect: P=R=F1=1.0
        (2, "x y", None),           # null cand: P NULL, R 0.0, F1 0.0
        (3, "x y", "   "),          # blank cand tokenises to zero tokens
        (4, None, None),            # nothing on either side: all NULL
        (5, "", ""),                # empty strings: same as (4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, gold_text string, cand_text string")
    out = {r["doc_id"]: r for r in extraction_f1(df).collect()}
    assert len(out) == 6
    r0 = out[0]
    assert (r0["n_gold"], r0["n_cand"], r0["n_common"]) == (4, 4, 2)
    assert (r0["precision"], r0["recall"], r0["f1"]) == (0.5, 0.5, 0.5)
    r1 = out[1]
    assert (r1["precision"], r1["recall"], r1["f1"]) == (1.0, 1.0, 1.0)
    for did in (2, 3):
        r = out[did]
        assert (r["n_gold"], r["n_cand"], r["n_common"]) == (2, 0, 0)
        assert r["precision"] is None
        assert (r["recall"], r["f1"]) == (0.0, 0.0)
    for did in (4, 5):
        r = out[did]
        assert (r["n_gold"], r["n_cand"], r["n_common"]) == (0, 0, 0)
        assert (r["precision"], r["recall"], r["f1"]) == (None, None, None)


def test_strip_host_boilerplate(spark):  # noqa: F811
    """Lines in >= 50% of a host's docs (and >= 2 docs) are stripped;
    the threshold is per host, so the same line on a different host with
    low frequency survives; blank lines never count as boilerplate; a doc
    that was ALL chrome keeps empty clean_text; NULL text/host drop."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        strip_host_boilerplate,
    )

    nav = "nav home"
    rows = [
        # host a: 4 docs; nav in 3/4 (75% -> strip), "rare" in 1/4 (keep)
        (0, "a", nav + "\nalpha\n\nrare"),
        (1, "a", nav + "\nbeta"),
        (2, "a", nav + "\ngamma"),
        (3, "a", "delta"),
        # host b: 2 docs; nav appears in only 1/2 = 50% AND >= 2 docs
        # fails (nd=1 < min_docs) -> nav survives on host b
        (4, "b", nav + "\nepsilon"),
        (5, "b", "zeta"),
        # host c: one doc that is pure chrome on host a's rule? no — c has
        # 1 doc, nd=1 < min_docs, everything kept
        (6, "c", nav),
        (7, None, "ignored"),
        (8, "a", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = {r["doc_id"]: r for r in strip_host_boilerplate(df).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5, 6}  # NULL host/text rows drop
    assert out[0]["clean_text"] == "alpha\n\nrare"  # blank line survives
    assert (out[0]["n_lines_kept"], out[0]["n_lines_total"]) == (3, 4)
    assert out[1]["clean_text"] == "beta"
    assert out[3]["clean_text"] == "delta"
    assert out[4]["clean_text"] == nav + "\nepsilon"  # host-b nav kept
    assert out[6]["clean_text"] == nav
    assert out[6]["host"] == "c"


def test_strip_host_boilerplate_all_chrome_doc(spark):  # noqa: F811
    """A document consisting ONLY of host-frequent lines reassembles to an
    empty clean_text with n_lines_kept 0 (left-join coalesce path)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        strip_host_boilerplate,
    )

    rows = [
        (0, "h", "footer"),
        (1, "h", "footer"),
        (2, "h", "footer\nbody"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = {r["doc_id"]: r for r in strip_host_boilerplate(df).collect()}
    assert out[0]["clean_text"] == "" and out[0]["n_lines_kept"] == 0
    assert out[0]["n_lines_total"] == 1
    assert out[2]["clean_text"] == "body"


def test_mine_url_templates(spark):  # noqa: F811
    """Digit runs -> {n}, 8+ hex runs -> {hex} (hex wins first), query
    strings dropped, distinct-url counting, and the two-sided trap rule
    (absolute floor AND host share)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        mine_url_templates,
    )

    trap = [f"https://t.com/cal/2026/{i}" for i in range(25)]
    # a repeated fetch of one trap url must not inflate the count
    trap += [trap[0]] * 5
    articles = [f"https://t.com/post/{'deadbeef%02d' % i}?page=2" % () for i in range(3)]
    other = ["https://s.com/about", "not-a-url"]
    rows = [(u,) for u in trap + articles + other]
    df = spark.createDataFrame(rows, "url string")
    out = {(r["host"], r["template"]): r for r in mine_url_templates(df, min_trap_urls=20).collect()}
    cal = out[("t.com", "/cal/{n}/{n}")]
    assert cal["n_urls"] == 25 and cal["is_trap"]
    assert cal["sample_url"] == "https://t.com/cal/2026/0"
    post = out[("t.com", "/post/{hex}")]  # deadbeefNN = 10 hex chars
    assert post["n_urls"] == 3 and not post["is_trap"]
    assert cal["host_urls"] == 28 and cal["host_templates"] == 2
    about = out[("s.com", "/about")]
    # 1 url on its host: dominates (1*10 >= 1) but fails the absolute floor
    assert about["n_urls"] == 1 and not about["is_trap"]
    assert ("", "") not in out and len(out) == 3  # schemeless row dropped


def test_mine_url_templates_large_legit_host(spark):  # noqa: F811
    """An article template with high absolute fan-out on a host where it
    is a MINORITY of urls is NOT a trap (host-share guard)."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        mine_url_templates,
    )

    urls = [f"https://big.com/art/{i}" for i in range(30)]
    urls += [f"https://big.com/static/page{chr(97 + i % 26)}x{chr(97 + (i // 26) % 26)}" for i in range(400)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = {r["template"]: r for r in mine_url_templates(df).collect()}
    art = rows["/art/{n}"]
    assert art["n_urls"] == 30 and not art["is_trap"]  # 30*10 < 430


def test_detect_scripts(spark):  # noqa: F811
    """Char-class counts per script; major = first-listed among maxima;
    digits/punct-only and NULL text report und with zero counts."""
    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        detect_scripts,
    )

    rows = [
        (0, "hello мир"),        # latin 5, cyrillic 3 -> latin
        (1, "你好 hi 你好"),      # cjk 4 > latin 2 -> cjk
        (2, "ab ѐѐ"),            # tie latin 2 == cyrillic 2 -> latin (order)
        (3, "1234 .,!"),         # nothing counted -> und
        (4, None),               # NULL -> zeros + und
        (5, "γεια 안녕"),         # greek 4 > hangul 2 -> greek
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in detect_scripts(df).collect()}
    assert (out[0]["latin"], out[0]["cyrillic"], out[0]["major_script"]) == (5, 3, "latin")
    assert (out[1]["cjk"], out[1]["major_script"]) == (4, "cjk")
    assert out[2]["major_script"] == "latin"
    assert (out[3]["major_script"], out[3]["latin"]) == ("und", 0)
    assert (out[4]["n_chars"], out[4]["major_script"]) == (0, "und")
    assert (out[5]["greek"], out[5]["hangul"], out[5]["major_script"]) == (4, 2, "greek")


def test_whitespace_class_matches_re2_on_vertical_tab(spark):  # noqa: F811
    """Java's \\s matches U+000B (vertical tab) where RE2/DuckDB's does
    not; the tokenising operators spell the class out ([ \\t\\n\\r\\f]) so
    both engines see identical tokens.  A VT must therefore NOT split —
    pinned against DuckDB evaluating the oracle-side regex on the same
    string."""
    import duckdb

    from universal_key_value_based_text_processing_with_ocr_spark.operators.textstats import (
        lexical_diversity,
        token_count,
    )

    text = "alpha\x0bbeta gamma"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [text]}).astype({"doc_id": "int64"})
    )
    (tc,) = token_count(docs).collect()
    (ld,) = lexical_diversity(docs).collect()
    (duck_n,) = (
        duckdb.connect()
        .execute(
            "SELECT len(string_split_regex(trim(?), '\\s+'))", [text]
        )
        .fetchone()
    )
    assert tc.n_tokens == duck_n == 2  # VT is NOT a separator in either engine
    assert ld.n_tokens == 2


def test_export_wet_sweeps_stale_previous_layout(spark, tmp_path):  # noqa: F811
    """Re-exporting with fewer shards (or the other gzip extension) must
    not leave the old layout's files for scan_wet's part-* glob to read
    back as duplicate rows."""
    from universal_key_value_based_text_processing_with_ocr_spark.sources.warc import (
        export_wet,
        scan_wet,
    )

    rows = [
        (f"https://w.example/{i}", "2024-01-01T00:00:00Z", f"doc {i}") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "url string, date string, text string")
    out = str(tmp_path / "wet")
    export_wet(df, out, shards=8).collect()
    export_wet(df, out, shards=3, gzip_files=False).collect()
    got = scan_wet(spark, out + "/part-*").collect()
    assert len(got) == 40  # stale part-00003..7 .gz shards were swept
    assert sorted(r.url for r in got) == sorted(r[0] for r in rows)
