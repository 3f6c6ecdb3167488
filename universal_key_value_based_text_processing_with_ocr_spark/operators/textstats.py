"""Text-analysis operators over a documents table (doc_id, text, lang, ...).

Large-scale training-data pipeline primitives, all pure JVM-side DataFrame
expressions (whole-stage-codegen'd, no Python in the hot path): language ID
(stopword-hit heuristic), quality scoring (char-class ratios), token
counting (whitespace tokenizer), and document fingerprinting (md5 +
simhash-style in dedup.py).  Every operator has an exact ANSI-SQL oracle in
__spark_entry__.oracle_sql().
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import md5_long

if TYPE_CHECKING:  # pandas only enters at runtime inside the Arrow stage
    import pandas as pd

EN_STOPWORDS = ["the", "and", "of", "to", "is"]
ID_STOPWORDS = ["yang", "dan", "di", "untuk", "dengan"]

#: demo banned-word list for badwords_gate (C4 §2.2 drops any page
#: containing a term from the public "List of Dirty, Naughty, Obscene..."
#: — that list ships with production configs; these spam-family stand-ins
#: exercise the identical mechanism)
DEMO_BADWORDS = ["casino", "viagra", "xxx", "lottery", "pills"]


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) — whitespace tokens of trimmed text."""
    trimmed = F.trim(F.col("text"))
    n = (
        F.when(F.col("text").isNull(), F.lit(None).cast("long"))
        .when(F.length(trimmed) == 0, F.lit(0).cast("long"))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")).cast("long"))
    )
    return docs.select(F.col("doc_id"), n.alias("n_tokens"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Char-class ratio quality features + a composite score.

    The web-scale analog of the reference's image-quality predicates
    (get_warning_image, /root/reference/ocrfw/preprocessing.py:115-135):
    per-payload numeric quality stats thresholded downstream.
    """
    text = F.col("text")
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    digit = F.length(F.regexp_replace(text, "[^0-9]", "")).cast("double")
    space = F.length(F.regexp_replace(text, r"[^\s]", "")).cast("double")
    safe_n = F.when(n > 0, n)
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars"),
        F.round(alpha / safe_n, 6).alias("alpha_ratio"),
        F.round(digit / safe_n, 6).alias("digit_ratio"),
        F.round(space / safe_n, 6).alias("space_ratio"),
        F.round(alpha / safe_n - 0.5 * (digit / safe_n), 6).alias("quality"),
    )


#: Unicode script blocks counted by detect_scripts — literal-char classes
#: (no \x{...} escapes) so the IDENTICAL pattern text runs on Java regex
#: and RE2; order here is also the deterministic major-script tie-break
SCRIPT_CLASSES = (
    ("latin", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("cjk", "[一-鿿]"),
    ("arabic", "[؀-ۿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("hangul", "[가-힣]"),
)


def detect_scripts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode script detection — the web-corpus companion of the
    stopword ``lang_id`` (which only separates languages WITHIN the Latin
    script): per-document character counts for the six major script
    blocks plus the argmax ``major_script`` (first-listed wins ties, so
    the label is deterministic; a document with no counted character at
    all — digits/punctuation only — reports ``und``).

    Counts are char-class strip arithmetic (``length(x) -
    length(regexp_replace(x, class, ''))``), all codegen'd JVM regex over
    one scan: zero UDFs, zero shuffles, and the identical literal-char
    patterns run on RE2 so the oracle shares them byte-for-byte.

    -> (id_col, n_chars, latin, cyrillic, cjk, arabic, greek, hangul,
    major_script)
    """
    text = F.col(text_col)
    n_chars = F.coalesce(F.length(text), F.lit(0))
    counts = {
        name: F.coalesce(
            F.length(text) - F.length(F.regexp_replace(text, klass, "")),
            F.lit(0),
        )
        for name, klass in SCRIPT_CLASSES
    }
    # argmax with first-listed tie-break: scan the list once, keeping the
    # current winner only while the challenger is STRICTLY greater
    major = F.lit("und")
    best = F.lit(0)
    for name, _ in SCRIPT_CLASSES:
        major = F.when(counts[name] > best, F.lit(name)).otherwise(major)
        best = F.greatest(best, counts[name])
    return docs.select(
        id_col,
        n_chars.cast("long").alias("n_chars"),
        *(counts[name].cast("long").alias(name) for name, _ in SCRIPT_CLASSES),
        major.alias("major_script"),
    )


def lang_id(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Stopword-hit language ID: en vs ind vs und (n-gram-free heuristic).
    ``extra_cols`` are carried through so a composed pipeline can chain
    gates on one scan without re-joining on doc_id."""
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))

    def hits(words):
        h = F.lit(0)
        for w in words:
            h = h + F.when(padded.like(f"% {w} %"), 1).otherwise(0)
        return h

    en = hits(EN_STOPWORDS)
    ind = hits(ID_STOPWORDS)
    pred = (
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .when((en == 0) & (ind == 0), "und")
        .when(en >= ind, "en")
        .otherwise("ind")
    )
    return docs.select(
        "doc_id",
        *extra_cols,
        en.cast("int").alias("en_hits"),
        ind.cast("int").alias("id_hits"),
        pred.alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — md5 content fingerprint (exact-dup key)."""
    return docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
    )


def charclass_projection(docs: DataFrame, prefix_len: int = 40) -> DataFrame:
    """Reference-style character-class projection (postprocessing.py:159):
    keep only letters of a text prefix."""
    return docs.select(
        "doc_id",
        F.regexp_replace(F.substring(F.col("text"), 1, prefix_len), "[^A-Za-z]", "").alias(
            "letters_only"
        ),
    )


def rolling_fingerprint(docs: DataFrame, base: int = 31, mod: int = 1_000_000_007) -> DataFrame:
    """(doc_id, roll_fp) — polynomial rolling hash over the text's
    character codes (Rabin-Karp style full-document fingerprint): exact,
    order-sensitive, engine-reproducible (modular arithmetic keeps every
    intermediate < 2^60)."""
    fp = F.aggregate(
        F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, code: (acc * base + code) % mod,
    )
    return docs.filter(F.col("text").isNotNull()).select("doc_id", fp.alias("roll_fp"))


def winnowing_fingerprints(
    docs: DataFrame, k: int = 10, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003):
    hash every k-gram, slide a window of ``window`` consecutive k-gram
    hashes, keep each window's minimum, emit the distinct minima per doc.

    Guarantees matches of length >= k+window-1 share a fingerprint while
    keeping O(n/window) selected hashes — the standard sub-linear
    fingerprint for large-corpus overlap detection."""
    grams = (
        docs.filter(F.length("text") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(f"transform(sequence(1, length(text) - {k - 1}), i -> substring(text, i, {k}))")
            ).alias("pos", "gram"),
        )
        .select("doc_id", "pos", md5_long(F.col("gram")).alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.select("doc_id", F.min("h").over(w).alias("fp"))
        .distinct()
    )


def normalize_text(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Canonical text normalisation: lowercase, control chars -> space,
    whitespace runs collapsed, trimmed — the standard pre-dedup/pre-tokenise
    cleanup pass.  Pure JVM expressions (one codegen'd projection).

    ``id_col`` names the document key: ``doc_id`` for the documents table,
    ``url`` when the input is the extraction stage's output."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[\x00-\x1f]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.filter(F.col("text").isNotNull()).select(
        id_col,
        norm.alias("norm_text"),
        F.length(norm).alias("n_chars_norm"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition features (Gopher rule family, Rae et al.
    2021 §A1.3): duplicate-line fraction and the most-frequent word-bigram's
    share of all bigrams — the standard signals for boilerplate/spam docs.

    Two map-side-combinable aggregations keyed by doc_id (plus bigram), no
    window over unbounded partitions — scale-safe."""
    base = docs.filter(F.col("text").isNotNull())
    lines = base.select(
        "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
    ).filter(F.length(F.trim("line")) > 0)
    line_stats = lines.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("line").alias("n_distinct_lines"),
    )

    # The word array is materialised ONCE per row in its own projection:
    # Spark does NOT hoist subexpressions out of higher-order-function
    # lambdas, so splitting inside the transform would re-split the whole
    # text per bigram element (measured 60x slower on 2000-word docs).
    # Empty tokens (trailing newline/tab after the space-only trim) are
    # filtered so no phantom bigrams dilute the repetition signal.
    # The whitespace class is spelled out ([ \t\n\r\f]) instead of \s because
    # \s is flavor-dependent: Java includes \x0B where RE2 (DuckDB) does not
    # and Python adds Unicode spaces — the explicit class makes the engine,
    # the SQL oracle and the property-test model tokenise identically.
    # NB: the SQL string literal needs double backslashes so the parser
    # hands \t etc. to the regex engine (a single \t would unescape first).
    with_words = base.select(
        "doc_id",
        F.expr(r"filter(split(lower(trim(text)), '[ \\t\\n\\r\\f]+'), t -> t != '')").alias("w"),
    )
    bigrams = with_words.select(
        "doc_id",
        F.explode(
            # sequence(1, 0) DESCENDS in Spark, so single-word docs must be
            # guarded to an empty array (explode then drops the row; the
            # final left join restores it with frac 0)
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(sequence(1, size(w) - 1), "
                "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) "
                "ELSE array() END"
            )
        ).alias("bigram"),
    )
    per_bigram = bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    bigram_stats = per_bigram.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_bigrams")
    )

    return (
        base.select("doc_id")
        .join(line_stats, "doc_id", "left")
        .join(bigram_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    1 - F.col("n_distinct_lines") / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_line_frac"),
            F.round(
                F.when(F.col("n_bigrams") > 0, F.col("top_c") / F.col("n_bigrams")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


def scrub_pii(docs: DataFrame) -> DataFrame:
    """PII scrubbing: mask emails, long digit runs (phone/account/NIK-like)
    and IPv4 addresses — the standard pre-training redaction pass, as three
    chained JVM regexp_replace calls in one codegen'd projection.

    Returns (doc_id, scrubbed, n_emails, n_numbers, n_ips) so the redaction
    is auditable per document.  Counts are pattern occurrences in the
    ORIGINAL text while the masking itself is sequential (email -> ip ->
    num), so overlapping matches (an IP inside an email's domain) are
    counted under every pattern they hit but masked once by the first."""
    text = F.col("text")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip_re = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
    num_re = r"\b\d{8,}\b"

    def n_hits(pattern):
        # count = (len(text) - len(text-with-matches-removed)) impossible;
        # use size(split)-1: split on the pattern leaves n+1 pieces
        return (F.size(F.split(text, pattern, -1)) - 1).cast("int")

    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(text, email_re, "<EMAIL>"), ip_re, "<IP>"),
        num_re,
        "<NUM>",
    )
    return docs.filter(text.isNotNull()).select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_hits(email_re).alias("n_emails"),
        n_hits(ip_re).alias("n_ips"),
        n_hits(num_re).alias("n_numbers"),
    )


def contamination_check(docs: DataFrame, probes: DataFrame, n: int = 20) -> DataFrame:
    """Benchmark decontamination: which corpus docs share an exact char
    n-gram with any probe (eval-set) text.

    (doc_id, probe_id, n_shared): distinct n-gram equi-join — the probe side
    is an eval set (tiny vs the corpus), so Spark broadcasts its shingles
    and the corpus is scanned once, shuffle-free.  The standard exact
    first-pass of train/test-overlap removal."""
    doc_grams = (
        docs.filter(F.length("text") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, length(text) - {n - 1}), i -> substring(text, i, {n}))")
            ).alias("gram"),
        )
        .distinct()
    )
    probe_grams = (
        probes.filter(F.length("text") >= n)
        .select(
            F.col("doc_id").alias("probe_id"),
            F.explode(
                F.expr(f"transform(sequence(1, length(text) - {n - 1}), i -> substring(text, i, {n}))")
            ).alias("gram"),
        )
        .distinct()
    )
    return (
        doc_grams.join(F.broadcast(probe_grams), "gram")
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_shared"))
    )


def stratified_sample(
    docs: DataFrame, fractions: dict[str, float] | None = None, seed: int = 42
) -> DataFrame:
    """Deterministic hash-based stratified sampling by language.

    A doc is kept iff ``md5(seed:doc_id)`` mapped to [0,1) falls below its
    stratum's fraction — fully reproducible in any engine and stable under
    re-runs/resumes (unlike rng-based ``sampleBy``), which is what an
    auditable 100 TB pipeline needs: the sample is a pure function of
    (seed, doc_id), so a resumed job re-selects exactly the same docs.
    """
    if fractions is None:
        fractions = {"en": 0.5, "ind": 0.25}
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    frac = F.lit(0.0)
    for lang, fr in sorted(fractions.items()):
        frac = F.when(F.col("lang") == lang, F.lit(float(fr))).otherwise(frac)
    # NULL doc_ids are excluded explicitly: concat_ws silently SKIPS null
    # arguments, so they would otherwise all hash to the same u and be
    # included/excluded as one block
    return docs.filter(F.col("doc_id").isNotNull() & (u < frac)).select("doc_id", "lang")


def clean_corpus(
    docs: DataFrame,
    min_chars: int = 30,
    max_chars: int = 20000,
    min_words: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """The minimal train-corpus cleaning DAG as ONE declarative plan:
    normalise -> length/word quality gate -> exact dedup on the NORMALISED
    text (keep lowest id — lexicographic when ``id_col`` is the url).

    Composition demo: scan -> projection -> filter -> one groupBy, no
    materialisation between stages — Catalyst fuses the normalise+gate into
    the scan's codegen stage and the only shuffle is the dedup groupBy.
    With ``id_col="url"`` this same plan runs directly over the extraction
    stage's output (see ``pages_clean_corpus``: the actual production DAG
    extract -> normalise -> gate -> dedup, one job, still a single
    shuffle after the extraction repartition)."""
    norm = normalize_text(docs, id_col=id_col)
    n_words = F.size(F.split(F.col("norm_text"), " "))  # post-collapse: single spaces
    gated = norm.filter(
        (F.col("n_chars_norm") >= min_chars)
        & (F.col("n_chars_norm") <= max_chars)
        & (n_words >= min_words)
    )
    return gated.groupBy(F.md5("norm_text").alias("fp")).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def corpus_top_terms(docs: DataFrame, n: int = 50) -> DataFrame:
    """Corpus-wide term frequencies, top-n (deterministic tie-break):
    the canonical partial+final-aggregated shuffle-heavy text statistic."""
    toks = docs.filter(F.col("text").isNotNull()).select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r\f]+")).alias("term")
    ).filter(F.length("term") > 0)
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-n, then
    # one n-row merge) — never pulls the full vocabulary through a
    # single-partition Exchange the way a global row_number window would.
    top = counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(n)
    # rank is recomputed over the already-materialised n rows — trivially small
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select("term", "n", "rank")


def token_cms_heavy_hitters(
    docs: DataFrame, rows: int = 4, m: int = 1024, top: int = 50
) -> DataFrame:
    """Heavy hitters via a COUNT-MIN SKETCH (Cormode & Muthukrishnan):
    the bounded-memory mergeable shape for frequency estimation when the
    vocabulary itself is too big to aggregate exactly.

    Sketch build: each token increments ``rows`` cells, cell =
    (row, md5-hash(token, row) % m) — a groupBy over rows*m cells, so the
    sketch is a FIXED rows x m table regardless of corpus size, map-side
    combinable, and two sketches merge by cell-wise addition (the
    streaming/multi-batch property exact counting lacks).  Estimate:
    a probe token's count is the MIN over its ``rows`` cells — always an
    overestimate, bounded by ||f||/m per row.

    This query's probe set is the corpus's own distinct tokens (so the
    oracle can replay end-to-end); in production the probes are a small
    query set and the sketch is the only corpus-sized pass.  Estimates
    use the same md5 fixed-point hashing both engines replay bit-for-bit.
    -> (term, est, n, rank): CMS estimate next to the exact count (the
    overestimate property est >= n is thus oracle-checked row by row)."""
    cms = cms_sketch(docs, rows=rows, m=m)
    return cms_probe_top(docs, cms, rows=rows, m=m, top=top)


def _cms_tokens(docs: DataFrame) -> DataFrame:
    from ..plans.partitioning import widen_small_scan

    return (
        widen_small_scan(
            docs.filter(F.col("text").isNotNull()).select("text"), "text"
        )
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r\f]+")
            ).alias("term")
        )
        .filter(F.length("term") > 0)
    )


def _cms_bucket(m: int) -> F.Column:
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("#", F.col("term"), F.col("row"))), 1, 15),
            16, 10,
        ).cast("long"),
        F.lit(m),
    ).alias("bucket")


def cms_sketch(docs: DataFrame, rows: int = 4, m: int = 1024) -> DataFrame:
    """One batch's count-min sketch: (row, bucket, cnt), at most rows*m
    cells.  Two sketches merge by cell-wise cnt addition — the property
    the streaming twin (streaming/incremental.py streamed_heavy_hitters)
    exercises for real."""
    row_ids = F.explode(F.array(*[F.lit(i) for i in range(rows)])).alias("row")
    cell = _cms_tokens(docs).select("term", row_ids).select("row", _cms_bucket(m))
    return cell.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def cms_probe_top(
    docs: DataFrame, cms: DataFrame, rows: int = 4, m: int = 1024, top: int = 50
) -> DataFrame:
    """Probe a sketch with the corpus's own distinct tokens (exact counts
    ride along so est >= n is value-checkable) -> top-N by estimate."""
    row_ids = F.explode(F.array(*[F.lit(i) for i in range(rows)])).alias("row")
    exact = _cms_tokens(docs).groupBy("term").agg(F.count("*").alias("n"))
    probes = exact.select("term", "n", row_ids).select(
        "term", "n", "row", _cms_bucket(m)
    )
    est = (
        probes.join(cms, ["row", "bucket"])
        .groupBy("term", "n")
        .agg(F.min("cnt").alias("est"))
    )
    topd = est.orderBy(F.col("est").desc(), F.col("term").asc()).limit(top)
    w = Window.orderBy(F.col("est").desc(), F.col("term").asc())
    return topd.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "term", "est", "n", "rank"
    )


#: HLL register width: the hash is 60 bits, p of them address the bucket,
#: so rho ranges 1..(60-p)+1 with the +1 (= all-zero remainder) as the cap.
_HLL_HASH_BITS = 60
#: fixed-point scale of the alpha_m bias constant (see hll_cardinality)
_HLL_ALPHA_SCALE = 10**6
#: denominator fixed-point: each register contributes 2^(K - rho) so the
#: harmonic sum stays a BIGINT (exact, order-independent); registers past K
#: truncate to 0 — both engines evaluate the identical integer expression,
#: so cross-engine equality survives even that (astronomically rare) case.
_HLL_K = 40


def _hll_hash(col, hasher: str) -> F.Column:
    """60-bit nonneg item hash behind the same production seam the dedup
    family uses (``dedup.set_hash_impl``): 'md5' is byte-reproducible in
    any engine (what makes the oracle replay possible); 'xxhash64' is the
    JVM-native fast path — same sketch semantics and error bounds, but
    register VALUES differ, so cross-engine oracles don't apply."""
    if hasher == "xxhash64":
        return F.shiftrightunsigned(F.xxhash64(col), 4)
    if hasher != "md5":
        raise ValueError(f"hasher must be 'md5' or 'xxhash64', got {hasher!r}")
    return md5_long(col)


def _hll_rho(w: F.Column, max_rho: int) -> F.Column:
    """Position of the lowest set bit of ``w`` plus one (w == 0 -> cap).

    The bits of a uniform hash are iid, so first-1-from-the-right is the
    same geometric statistic HLL classically takes from the left — and the
    lowest set bit isolates as the pure integer ``w & -w``, which a CASE
    ladder over the 2^j literals maps to rho with NO log/float anywhere
    (bit-exact in any engine by construction)."""
    lsb = w.bitwiseAND(-w)
    rho = F.when(w == 0, F.lit(max_rho))
    for j in range(max_rho - 1):
        rho = rho.when(lsb == (1 << j), F.lit(j + 1))
    return rho.cast("int")


def hll_sketch(items: DataFrame, p: int = 8, hasher: str = "md5") -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007) over an item
    stream (any DataFrame with a string ``term`` column — tokens, shingles,
    urls, fingerprints): (bucket, register), at most m = 2^p rows.

    The mergeable distinct-count companion of ``cms_sketch``: every item
    occurrence maps to (low p hash bits -> bucket, trailing-zero run of the
    remaining bits -> rho) in one codegen'd projection, then ONE map-side
    combinable groupBy of at most m cells — corpus cardinality never touches
    the plan, and two sketches merge by cell-wise MAX (the property
    ``tests`` pin), so shards/micro-batches/snapshots combine without
    re-reading anything.  md5 fixed-point hashing as everywhere else,
    replayable bit-for-bit in any engine."""
    m = 1 << p
    h = _hll_hash(F.col("term"), hasher)
    toks = items.select(
        F.pmod(h, F.lit(m)).alias("bucket"),
        _hll_rho(F.shiftright(h, p), _HLL_HASH_BITS - p + 1).alias("rho"),
    )
    return toks.groupBy("bucket").agg(F.max("rho").alias("register"))


def hll_linear_counting_table(m: int) -> dict[int, int]:
    """Precomputed small-range correction: V empty buckets -> round(m *
    ln(m/V)).  Computed ONCE here and inlined as integer literals into both
    engines' plans, so no float log ever runs at query time and equality is
    by construction (api.py interpolates the same table into the oracle)."""
    import math

    return {v: round(m * math.log(m / v)) for v in range(1, m + 1)}


def hll_cardinality(items: DataFrame, p: int = 8, hasher: str = "md5") -> DataFrame:
    """Distinct-item cardinality estimate from the HLL sketch, integer
    fixed-point end to end so the oracle replays it exactly.

    Estimator: est_raw = alpha_m * m^2 / sum_b 2^(-rho_b).  The harmonic
    sum is kept exact as D = sum over present buckets of 2^(K - register)
    plus 2^K per empty bucket (BIGINT, order-independent); alpha_m rides as
    the integer literal round(alpha_m * 1e6).  The classic small-range
    linear-counting correction (est_raw <= 5m/2 and V empty buckets > 0 ->
    m * ln(m/V)) applies via ``hll_linear_counting_table`` — a literal
    integer ladder, not a float log — and ``n_exact`` rides along, so the
    estimate's accuracy is value-checked against truth row by row (the CMS
    overestimate-check move, adapted).

    -> one row per PRESENT bucket: (bucket, register, est, est_raw,
    n_exact, n_empty_buckets) — the hash pins sketch content AND estimator
    arithmetic AND the true cardinality in one check.

    Plan shape: the register groupBy is the only corpus-sized shuffle (at
    most m cells, map-side combinable); everything after runs on <= m rows.
    (``n_exact`` adds the exact countDistinct the sketch exists to avoid —
    it is the CHECK, not the operator; production drops that column.)

    r6: because n_exact forces a distinct-term exchange ANYWAY, both
    consumers now hang off ONE ``items.distinct()`` spine — registers
    over the distinct terms are bit-identical (duplicates never change a
    bucket max, NULL terms collapse to the same single NULL register
    row), n_exact is a count over the same spine, and the item subtree
    (the Arrow shingler for the corpus queries) executes once instead of
    once per consumer (guide §2.4: two operations keyed the same way
    share one exchange).  Production — which drops n_exact — would feed
    ``hll_sketch`` the raw stream again: the sketch alone never needs a
    distinct."""
    dt = items.select("term").distinct()
    reg = hll_sketch(dt, p=p, hasher=hasher)
    m = 1 << p
    est = _hll_finalize(_hll_stats(reg, m), m)
    # count(col) skips NULLs exactly as countDistinct did
    exact = dt.agg(F.count("term").alias("n_exact"))
    return (
        reg.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "register",
            "est",
            "est_raw",
            "n_exact",
            "n_empty_buckets",
        )
    )


def _hll_stats(reg: DataFrame, m: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """Register table -> (*keys, n_empty_buckets, d): the exact harmonic
    denominator D = sum over present buckets of 2^(K - register) plus 2^K
    per empty bucket (BIGINT, order-independent).  ONE copy shared by the
    corpus-wide and grouped estimators — keys=() is a global aggregate."""
    contrib = F.when(F.col("register") > _HLL_K, F.lit(0).cast("long")).otherwise(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_K} - register)")
    )
    return (
        reg.groupBy(*keys)
        .agg(F.sum(contrib).alias("d_present"), F.count("*").alias("n_present"))
        .select(
            *keys,
            (F.lit(m) - F.col("n_present")).cast("int").alias("n_empty_buckets"),
            (
                F.col("d_present")
                + (F.lit(m) - F.col("n_present")) * F.lit(1 << _HLL_K).cast("long")
            ).alias("d"),
        )
    )


def _hll_finalize(stats: DataFrame, m: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """Estimator tail shared by the corpus-wide and grouped paths — the
    constants and guards live in exactly ONE place so the two paths can
    never drift: (*keys, n_empty_buckets, d) -> (*keys, n_empty_buckets,
    est_raw, est).

    m^2 * 2^K fits BIGINT (p=8, K=40 -> 2^56); `least` bounds the quotient
    so the alpha multiply can never overflow even in the all-registers->K
    corner (identical guard in the oracle, so equality is preserved); the
    classic small-range linear-counting correction applies as a literal
    integer ladder via ``hll_linear_counting_table``."""
    alpha_fp = round(0.7213 / (1 + 1.079 / m) * _HLL_ALPHA_SCALE)
    raw = stats.select(
        *keys,
        "n_empty_buckets",
        F.expr(
            f"CAST(({alpha_fp} * least({m * m * (1 << _HLL_K)} DIV "
            f"greatest(d, 1), {10**13})) DIV {_HLL_ALPHA_SCALE} AS BIGINT)"
        ).alias("est_raw"),
    )
    lc = F.lit(None).cast("long")
    for v, e in hll_linear_counting_table(m).items():
        lc = F.when(F.col("n_empty_buckets") == v, F.lit(e).cast("long")).otherwise(lc)
    return raw.select(
        *keys,
        "n_empty_buckets",
        "est_raw",
        F.when(
            (F.col("n_empty_buckets") > 0) & (F.col("est_raw") <= (5 * m) // 2), lc
        )
        .otherwise(F.col("est_raw"))
        .alias("est"),
    )


def hll_estimate(reg: DataFrame, items: DataFrame, p: int = 8) -> DataFrame:
    """The estimator applied to a PRE-BUILT register table — the seam the
    streamed twin uses: a register table max-merged across micro-batches is
    indistinguishable from a one-pass build, so both paths share one oracle
    (see ``hll_cardinality`` for the arithmetic contract)."""
    m = 1 << p
    est = _hll_finalize(_hll_stats(reg, m), m)
    exact = items.agg(F.countDistinct("term").alias("n_exact"))
    return (
        reg.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "register",
            "est",
            "est_raw",
            "n_exact",
            "n_empty_buckets",
        )
    )


def hll_group_cardinality(
    items: DataFrame, group_col: str = "grp", p: int = 8, hasher: str = "md5"
) -> DataFrame:
    """HLL as a GROUPED aggregate: distinct-``term`` cardinality PER GROUP
    (per host, per language, per shard) — the audit statistic a crawl
    operator watches at 100 TB, where per-group countDistinct would shuffle
    every item row but the sketch shuffles at most m cells per group.

    Same integer fixed-point arithmetic as ``hll_cardinality`` — the
    shared ``_hll_stats`` / ``_hll_finalize`` tail keyed by the group
    column, so the two paths are ONE estimator by construction; the exact
    per-group distinct count rides along so accuracy is value-checked per
    group.  -> ONE row per group: (grp, est, est_raw, n_exact,
    n_empty_buckets)."""
    m = 1 << p
    h = _hll_hash(F.col("term"), hasher)
    toks = items.select(
        F.col(group_col).alias("grp"),
        F.pmod(h, F.lit(m)).alias("bucket"),
        _hll_rho(F.shiftright(h, p), _HLL_HASH_BITS - p + 1).alias("rho"),
    )
    reg = toks.groupBy("grp", "bucket").agg(F.max("rho").alias("register"))
    est = _hll_finalize(_hll_stats(reg, m, ("grp",)), m, ("grp",))
    exact = items.groupBy(F.col(group_col).alias("grp")).agg(
        F.countDistinct("term").alias("n_exact")
    )
    return est.join(exact, "grp").select(
        "grp", "est", "est_raw", "n_exact", "n_empty_buckets"
    )


def quality_filter(docs: DataFrame, min_words: int = 15, max_mean_word_len: float = 12.0,
                   min_mean_word_len: float = 2.0, max_digit_ratio: float = 0.3,
                   extra_cols: tuple = ()) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 rule family):
    word count, mean word length and digit-ratio thresholds plus a
    stopword-presence check -> (doc_id, keep, fail_reason).

    All thresholds are per-document scalars from one projection — at corpus
    scale this is a single codegen'd scan feeding the keep/drop split."""
    trimmed = F.trim(F.col("text"))
    n_words = F.when(F.length(trimmed) == 0, 0).otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")))
    n_chars_nospace = F.length(F.regexp_replace(F.col("text"), r"[ \t\n\r\f]", ""))
    mean_wl = n_chars_nospace / F.when(n_words > 0, n_words).otherwise(F.lit(None))
    digit_ratio = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")) / F.when(
        F.length("text") > 0, F.length("text")
    )
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    has_stop = F.lit(False)
    for w in EN_STOPWORDS + ID_STOPWORDS:
        has_stop = has_stop | padded.like(f"% {w} %")

    fail = (
        F.when(F.col("text").isNull(), "null_text")
        .when(n_words < min_words, "too_few_words")
        .when(mean_wl < min_mean_word_len, "words_too_short")
        .when(mean_wl > max_mean_word_len, "words_too_long")
        .when(digit_ratio > max_digit_ratio, "too_many_digits")
        .when(~has_stop, "no_stopwords")
    )
    return docs.select(
        "doc_id",
        *extra_cols,
        fail.isNull().alias("keep"),
        F.coalesce(fail, F.lit("ok")).alias("fail_reason"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
    )


def gopher_quality(
    docs: DataFrame,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    extra_cols: tuple = (),
) -> DataFrame:
    """The Gopher document-shape rules (Rae et al. 2021 §A1.1) that
    ``quality_filter`` does not already cover: symbol-to-word ratio
    (``#`` and ``...``), fraction of lines starting with a bullet,
    fraction of lines ending with an ellipsis, and fraction of words
    containing at least one alphabetic character.

    -> (doc_id, n_words, symbol_word_ratio, bullet_line_frac,
    ellipsis_line_frac, alpha_word_frac, keep, fail_reason).

    Every ratio is one integer count divided once (bit-reproducible in
    any engine), and everything is row-local codegen'd expression work —
    no explode, no shuffle, no Python; the whole operator fuses into a
    single scan at any corpus size.  Word split reuses the whitespace
    class shared with ``corpus_familiarity``; line fractions are over
    non-blank lines.
    """
    text = F.col("text")
    words = F.filter(F.split(text, r"[ \t\n\r\f]+"), lambda w: w != "")
    n_words = F.size(words)
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    # '#' count via class strip; '...' count via non-overlapping replace
    n_hash = F.length(F.regexp_replace(text, "[^#]", ""))
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    lines = F.filter(
        F.transform(F.split(text, "\n"), F.trim), lambda l: l != ""
    )
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike("^[-*•]")))
    n_ell_end = F.size(F.filter(lines, lambda l: l.rlike("\\.\\.\\.$")))

    safe_words = F.when(n_words > 0, n_words.cast("double"))
    safe_lines = F.when(n_lines > 0, n_lines.cast("double"))
    symbol_ratio = F.round((n_hash + n_ellipsis) / safe_words, 6)
    bullet_frac = F.round(n_bullet / safe_lines, 6)
    ell_frac = F.round(n_ell_end / safe_lines, 6)
    alpha_frac = F.round(n_alpha_words / safe_words, 6)

    fail = (
        F.when(text.isNull(), "null_text")
        .when(n_words == 0, "no_words")
        .when(symbol_ratio > max_symbol_word_ratio, "too_many_symbols")
        .when(bullet_frac > max_bullet_line_frac, "too_many_bullets")
        .when(ell_frac > max_ellipsis_line_frac, "too_many_ellipses")
        .when(alpha_frac < min_alpha_word_frac, "too_few_alpha_words")
    )
    return docs.select(
        "doc_id",
        *extra_cols,
        # size(null) is -1, not NULL — map null text to 0 explicitly
        F.when(text.isNull(), F.lit(0)).otherwise(n_words).cast("long").alias("n_words"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        fail.isNull().alias("keep"),
        F.coalesce(fail, F.lit("ok")).alias("fail_reason"),
    )


# GPT-2-flavoured pre-tokeniser regex (no lookaheads, and the whitespace
# class spelled out — Java's \s matches \x0B where RE2's does not — so it
# behaves identically on Java regex and RE2-based engines): contractions,
# letter runs, digit runs, punctuation runs, whitespace runs.  The api.py
# oracle embeds the SAME explicit class.
BPE_ISH_PATTERN = (
    "'(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+"
    "| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"
)


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens) — BPE-ish pre-tokeniser token count, the
    training-cost estimator companion to the whitespace count."""
    n = F.when(F.col("text").isNull(), F.lit(None).cast("long")).otherwise(
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0))).cast("long")
    )
    return docs.select("doc_id", n.alias("n_bpe_tokens"))


#: sentence boundary: terminal punctuation, horizontal whitespace, then an
#: uppercase letter (which BELONGS to the next sentence, so the replacement
#: re-emits it after the separator).  No lookahead — the same pattern text
#: must run on Java regex (Spark) and RE2 (DuckDB oracle), and RE2 has none.
#: Consecutive boundaries stay safe under non-overlapping global replace:
#: each match consumes its uppercase letter, and the NEXT boundary's
#: punctuation is a different character.
SENTENCE_BOUNDARY = r"([.!?])[ \t]+([A-Z])"

#: RS (record separator) — cannot appear in text; the split marker the
#: boundary replacement injects
_SENT_SEP = "\x1e"


def _sentence_array(text):
    """Column expression: the trimmed, non-empty sentence array of ``text``
    (boundary mark -> split -> trim -> drop empties) — shared by
    :func:`sentence_stats` and :func:`readability`."""
    marked = F.regexp_replace(text, SENTENCE_BOUNDARY, "$1" + _SENT_SEP + "$2")
    return F.filter(
        F.transform(F.split(marked, _SENT_SEP), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )


def sentence_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_sentences, avg_sentence_chars, max_sentence_chars) —
    regex sentence segmentation + per-document shape features (the
    sentence-level companions of the Gopher document-shape rules; very
    long max-sentence is the classic minified-JS/crawl-junk tell).

    Row-local higher-order expressions only — mark boundaries with one
    ``regexp_replace``, split, trim, filter empties, then fold lengths —
    no explode, no shuffle, whole-stage codegen end to end.  NULL text
    rows report NULL counts (recorded-failure posture); empty/whitespace
    text is 0 sentences.
    """
    text = F.col(text_col)
    sents = _sentence_array(text)
    n = F.size(sents)
    lens = F.transform(sents, lambda s: F.length(s).cast("long"))
    total = F.aggregate(lens, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return docs.select(
        id_col,
        F.when(text.isNull(), F.lit(None).cast("long"))
        .otherwise(n.cast("long"))
        .alias("n_sentences"),
        F.when(n > 0, F.round(total / n, 6)).alias("avg_sentence_chars"),
        F.when(n > 0, F.array_max(lens)).alias("max_sentence_chars"),
    )


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer-fertility audit: (lang, n_docs, n_bpe_tokens,
    n_words, fertility, chars_per_token) where fertility = BPE tokens per
    whitespace word — THE multilingual tokenizer-cost number every mixture
    plan weighs (a language whose fertility is 3x pays 3x the context
    budget for the same text).

    One groupBy(lang) over row-local token counts: partial aggregation
    combines map-side, the shuffle moves five longs per language — at
    100 TB this is a scan-bound job with a few-hundred-row result.  NULL
    text rows are excluded (no tokens to count); ratios are NULL for a
    language with zero denominator.
    """
    text = F.col("text")
    trimmed = F.trim(text)
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0))).cast("long")
    words = (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")))
        .cast("long")
    )
    rows = docs.filter(text.isNotNull()).select(
        "lang",
        bpe.alias("b"),
        words.alias("w"),
        F.length(text).cast("long").alias("c"),
    )
    return rows.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("b").alias("n_bpe_tokens"),
        F.sum("w").alias("n_words"),
        F.round(F.sum("b") / F.when(F.sum("w") > 0, F.sum("w")), 6).alias("fertility"),
        F.round(F.sum("c") / F.when(F.sum("b") > 0, F.sum("b")), 6).alias(
            "chars_per_token"
        ),
    )


def readability(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, flesch) — Flesch
    reading-ease with the standard vowel-group syllable approximation
    (every maximal ``[aeiouyAEIOUY]+`` run is one syllable; 'the'→1,
    'beautiful'→4-ish).  The readability band is a routine quality-mixture
    signal: reference-grade corpora skew 40-60, SEO spam and OCR soup land
    far outside.

    ``flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)``
    with sentences floored at 1 (a fragment is one sentence).  Everything
    is row-local codegen'd regex counting — no shuffle; NULL text and
    zero-word rows report NULL score.
    """
    text = F.col(text_col)
    trimmed = F.trim(text)
    words = (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")))
        .cast("long")
    )
    syllables = F.size(
        F.regexp_extract_all(text_col, F.lit("[aeiouyAEIOUY]+"), F.lit(0))
    ).cast("long")
    sentences = F.greatest(F.size(_sentence_array(text)).cast("long"), F.lit(1).cast("long"))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words),
        6,
    )
    null_long = F.lit(None).cast("long")
    return docs.select(
        id_col,
        F.when(text.isNull(), null_long).otherwise(words).alias("n_words"),
        F.when(text.isNull(), null_long).otherwise(sentences).alias("n_sentences"),
        F.when(text.isNull(), null_long).otherwise(syllables).alias("n_syllables"),
        F.when(text.isNotNull() & (words > 0), flesch).alias("flesch"),
    )


def host_quota_sample(
    docs: DataFrame,
    quota: int,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host quota sampling: keep at most ``quota`` documents per url
    host, chosen deterministically (md5 of the doc id — a seedless
    pseudo-random draw both engines replay bit-for-bit, id tie-break).
    THE crawl-balancing step before mixing: without it one mega-host
    (pinterest, blogspot) dominates any uniform sample of the crawl.

    Rows whose host cannot be parsed share the NULL group and obey the
    same quota (fail-closed for balancing: junk urls must not bypass the
    cap).  The rank<=k filter compiles to WindowGroupLimit (Spark >= 3.5):
    each partition pre-prunes to its local top-k per host BEFORE the
    exchange, so a mega-host ships quota rows per map task, not its whole
    corpus, and the final per-host sort touches ~quota * n_partitions
    rows — the skew posture that survives 100 TB.
    """
    from pyspark.sql import Window

    host = F.lower(
        F.regexp_extract(
            F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1
        )
    )
    host = F.when(host == "", F.lit(None)).otherwise(host)
    tagged = docs.withColumn("host", host)
    w = Window.partitionBy("host").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        tagged.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= quota)
    )


def dedup_paragraphs(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level LINE deduplication (RefinedWeb/Falcon-style): lines
    appearing in >= ``min_docs`` DISTINCT documents are boilerplate
    (navigation, footers, cookie banners replicated across a site) and are
    removed from every document; the survivors reassemble in original
    order.

    Plan: posexplode -> skew-safe distinct-doc frequency per exact line
    ((line, doc) pair-distinct, then combinable count — see inline
    comment) -> anti-join the frequent-line set -> groupBy doc reassembly
    via array_sort(collect_list(struct(idx, line))).  Three shuffles
    (pair key, line key, doc key), the per-line aggregations map-side
    combinable and the pair-distinct immune to viral-line skew; the
    frequent-line set is the only re-used intermediate and AQE broadcasts
    it when small.  At 100 TB the pair shuffle dominates and is the
    unavoidable cost of a cross-document frequency — the same shape as
    exact dedup, one level finer.

    Output: (id_col, clean_text, n_lines_kept, n_lines_total); documents
    whose every line was boilerplate keep an empty clean_text.
    """
    base = docs.filter(F.col(text_col).isNotNull())
    lines = base.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line")
    )
    # Blank/whitespace-only lines are SEPARATORS, not boilerplate: they
    # appear in nearly every document, so without this filter every blank
    # line would be "frequent" and paragraph structure would be destroyed
    # corpus-wide (review finding).
    # Skew-safe exact distinct-doc frequency (VERDICT r4 #6): a fused
    # groupBy(line).countDistinct(doc) shuffles every (line, doc) pair to
    # the LINE's reducer — a cookie banner in millions of documents piles
    # millions of pairs onto one task.  Split it: distinct() on the PAIR
    # first (exchange hash-partitions on (line, doc), so the hot line's
    # pairs spread over all reducers), then a plain count per line whose
    # partial aggregation is map-side combinable (each task emits at most
    # one partial count per line).  Same exact semantics, one extra —
    # well-balanced — shuffle instead of one unbounded reducer.
    frequent = (
        # NULL-id rows are excluded to keep countDistinct's NULL semantics
        # (a NULL document id must not count toward the doc-frequency
        # threshold — review finding on the pair-distinct rewrite)
        lines.filter(F.trim(F.col("line")) != "")
        .filter(F.col(id_col).isNotNull())
        .select("line", id_col)
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(frequent, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s.getField("line"),
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = base.select(
        id_col, F.size(F.split(F.col(text_col), "\n")).alias("n_lines_total")
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
        F.col("n_lines_total").cast("long"),
    )


def strip_host_boilerplate(
    docs: DataFrame,
    min_frac_pct: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
) -> DataFrame:
    """PER-HOST boilerplate line removal (the CCNet/trafilatura companion
    to the corpus-global ``dedup_paragraphs``): a line is host-boilerplate
    iff it appears in >= ``min_frac_pct`` percent of the HOST's documents
    (and in >= ``min_docs`` of them) — navigation bars, cookie banners and
    footers are replicated across one site's pages, not across the whole
    corpus, so the global frequency threshold misses them on small hosts
    and over-fires on viral quotes.  Reference analog: the densitometry
    keep-rule strips per-PAGE chrome (htmlcore/extract.py); this strips
    the per-SITE chrome that survives it.

    The threshold compares integers only (``nd * 100 >= pct * host_docs``)
    so the decision is bit-reproducible in any engine — no float ratio.

    Plan: per-host doc totals (combinable groupBy) + posexplode ->
    (host, line, doc) pair-distinct -> combinable count per (host, line)
    -> join totals on host -> frequent set -> anti-join on (host, line)
    -> per-doc ordered reassembly.  Same skew discipline as
    ``dedup_paragraphs``: the pair-distinct exchange hash-partitions on
    (host, line, doc), so one mega-host's banner spreads over all
    reducers; the per-(host, line) count is map-side combinable.  The
    frequent set is host-local and small (AQE broadcasts it).  At 100 TB
    this is the same pair-shuffle shape as exact dedup, keyed one level
    finer.

    Output: (id_col, host_col, clean_text, n_lines_kept, n_lines_total);
    a document whose every line is site chrome keeps an empty clean_text.
    """
    base = docs.filter(F.col(text_col).isNotNull()).filter(
        F.col(host_col).isNotNull()
    )
    totals_by_host = base.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("host_docs")
    )
    lines = base.select(
        id_col,
        host_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line"),
    )
    # blank lines are separators, never boilerplate (same rule and reason
    # as dedup_paragraphs: they are frequent in every document)
    frequent = (
        lines.filter(F.trim(F.col("line")) != "")
        .filter(F.col(id_col).isNotNull())
        .select(host_col, "line", id_col)
        .distinct()
        .groupBy(host_col, "line")
        .agg(F.count(F.lit(1)).alias("nd"))
        .join(totals_by_host, host_col)
        .filter(
            (F.col("nd") >= min_docs)
            & (F.col("nd") * 100 >= F.lit(int(min_frac_pct)) * F.col("host_docs"))
        )
        .select(host_col, "line")
    )
    kept = lines.join(frequent, [host_col, "line"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s.getField("line"),
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = base.select(
        id_col,
        host_col,
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines_total"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        host_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_lines_kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
        F.col("n_lines_total").cast("long"),
    )


#: tracking query parameters stripped by normalize_urls (the usual
#: analytics noise that splits one logical page into many crawl urls)
_TRACKING_PARAM_RE = r"(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid)=[^&#]*"


def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical URL normalisation (crawl-dedup prerequisite): lowercase
    scheme+authority, strip fragments, default ports, tracking parameters
    (utm_*/fbclid/gclid/...), empty query remnants and a bare trailing
    slash — so mirror urls of one logical page collapse to one key.

    Pure codegen'd regex projection (no UDF, no shuffle).  Output:
    (url, url_norm, changed)."""
    u = F.col(url_col)
    # 1. drop the fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. lowercase scheme://authority (path/query case is significant)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 0 + 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    # scheme-less urls keep the FRAGMENT-STRIPPED value (falling back to
    # the raw column reverted step 1 — review finding); the param/port
    # rules below are scheme-independent or no-ops for them
    u = F.when(scheme == "", u).otherwise(F.concat(scheme, F.lit("://"), authority, rest))
    # 3. strip default ports (two RE2-safe rules per scheme: end-of-string
    # and followed-by-delimiter — no lookahead, so the DuckDB oracle runs
    # the identical patterns)
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443$", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443([/?#])", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80$", r"$1")
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80([/?#])", r"$1$2")
    # 4. strip tracking params, delimiter-preserving (review finding: a
    # plain [?&]param -> '?' replacement corrupted mid-query params —
    # '?x=1&utm=f&y=2' became '?x=1?y=2').  Three complete global passes:
    #   a) any NON-FIRST tracking param drops with its '&'
    #   b) a FIRST tracking param with a successor hands '?' to it
    #   c) a tracking param left as the only query drops with its '?'
    u = F.regexp_replace(u, r"&" + _TRACKING_PARAM_RE, "")
    u = F.regexp_replace(u, r"\?" + _TRACKING_PARAM_RE + r"&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACKING_PARAM_RE + r"$", "")
    # tidy belt (no-ops after the passes above, kept for defense)
    u = F.regexp_replace(u, r"\?(\?)+", "?")
    u = F.regexp_replace(u, r"\?&", "?")
    u = F.regexp_replace(u, r"[?&]$", "")
    # 5. bare trailing slash on the root path
    u = F.regexp_replace(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)/$", r"$1")
    return df.select(
        F.col(url_col).alias("url"),
        u.alias("url_norm"),
        (u != F.col(url_col)).alias("changed"),
    )


def mine_url_templates(
    df: DataFrame,
    url_col: str = "url",
    trap_ratio: int = 10,
    min_trap_urls: int = 20,
) -> DataFrame:
    """Crawler-trap detection via URL template mining (the crawl-frontier
    governance step robots.txt cannot provide): calendars, session ids,
    faceted search and pagination generate UNBOUNDED url spaces from a
    handful of path shapes, and a frontier that treats each url as novel
    drowns in one host.  Generalise every url's path to a TEMPLATE (digit
    runs -> ``{n}``, 8+-char lowercase-hex runs -> ``{hex}``, query
    string dropped), then flag templates whose fan-out says "generator,
    not content": at least ``min_trap_urls`` urls absolutely AND at least
    1/``trap_ratio`` of the host's whole url count (``n_urls * trap_ratio
    >= host_urls``) — a calendar dominating its host trips both; a large
    site's ordinary article template trips neither.

    Output: one row per (host, template) — n_urls, sample_url (min), and
    ``is_trap`` — plus the host-level rollup columns (host_urls,
    host_templates) every frontier budget rule needs.  Decisions are
    integer-count thresholds only: bit-reproducible.

    Plan: pure codegen'd regex projection -> ONE combinable groupBy
    (host, template) -> a host-level combinable rollup joined back on the
    host key.  Both aggregations are partial-agg friendly; the join's
    right side is one row per host (broadcastable under AQE).  No UDFs,
    no explode — at 100 TB this is the cheapest shape a per-template
    frequency can take.  ``{hex}`` matches BEFORE ``{n}`` so a hex run
    with leading digits cannot be split into two tokens.
    """
    host = F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    path = F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    template = F.regexp_replace(
        F.regexp_replace(path, r"[0-9a-f]{8,}", "{hex}"), r"[0-9]+", "{n}"
    )
    # DISTINCT urls: crawl logs repeat a url across fetches, and a trap is
    # a generator of NOVEL urls, not a popular page.  The distinct runs on
    # the (url, host, template) triple — hash-partitioned on the full row,
    # so one host's url flood spreads over all reducers (the same
    # pair-distinct skew discipline as dedup_paragraphs).
    base = (
        df.select(
            F.col(url_col).alias("url"), host.alias("host"), template.alias("template")
        )
        .filter(F.col("host") != "")
        .distinct()
    )
    per_template = base.groupBy("host", "template").agg(
        F.count(F.lit(1)).alias("n_urls"), F.min("url").alias("sample_url")
    )
    per_host = per_template.groupBy("host").agg(
        F.sum("n_urls").alias("host_urls"),
        F.count(F.lit(1)).alias("host_templates"),
    )
    return per_template.join(per_host, "host").select(
        "host",
        "template",
        F.col("n_urls").cast("long"),
        "sample_url",
        (
            (F.col("n_urls") >= F.lit(int(min_trap_urls)))
            & (F.col("n_urls") * F.lit(int(trap_ratio)) >= F.col("host_urls"))
        ).alias("is_trap"),
        F.col("host_urls").cast("long"),
        F.col("host_templates").cast("long"),
    )


def corpus_familiarity(docs: DataFrame, rare_threshold: int = 3) -> DataFrame:
    """Corpus-frequency familiarity features: how much of a document is
    made of tokens the corpus itself uses often — an engine-exact,
    training-free stand-in for an LM quality score (rare-token-heavy docs
    are OCR garbage, lists, or boilerplate codes).

    mean_token_freq = mean over the doc's tokens of each token's total
    corpus occurrence count; rare_frac = fraction of tokens whose corpus
    count <= ``rare_threshold``.  Both derive from INTEGER sums (exact in
    any engine), divided once — the doubles reproduce bit-for-bit.

    Plan: tokenize -> corpus counts (one map-side-combinable groupBy) ->
    re-join tokens to counts (shuffle on token; skew-safe, token cardinality
    is large) -> per-doc integer aggregate."""
    words = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"[ \t\n\r\f]+"), lambda w: w != "")
        ).alias("w"),
    )
    counts = words.groupBy("w").agg(F.count("*").alias("c"))
    joined = words.join(counts, "w")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("c").alias("_s"),
            F.sum((F.col("c") <= rare_threshold).cast("long")).alias("_r"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("_s").cast("double") / F.col("n_tokens")).alias("mean_token_freq"),
            (F.col("_r").cast("double") / F.col("n_tokens")).alias("rare_frac"),
        )
    )


def mask_repeated_ngrams(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level dedup (the Lee et al. 2022 'deduplicating training
    data' operation, token-n-gram granularity): any ``n``-token span that
    occurs in >= ``min_docs`` DISTINCT documents is masked out of every
    document; the surviving tokens reassemble in order (single-space
    joined — whitespace normalisation is part of the contract).

    One level finer than ``dedup_paragraphs``: catches templated sentences
    and licence blurbs embedded mid-paragraph that line dedup misses.

    Plan: per-doc token array -> positional n-grams in a single row-local
    higher-order transform (no sequence() descent trap, no Generate blow-
    up of the text) -> distinct-doc frequency on the gram key -> semi-join
    back -> covered-position explode -> anti-join -> ordered reassembly.
    Shuffles: (gram, doc) pair then gram key (skew-safe combinable
    frequency + semi-join) and doc key (reassembly) — same 100 TB shape
    as exact dedup plus one explode bounded by n x matches.

    Output: (id_col, clean_text, n_tokens, n_masked)."""
    base = docs.filter(F.col(text_col).isNotNull()).select(
        id_col,
        F.filter(
            F.split(F.col(text_col), r"[ \t\n\r\f]+"), lambda t: t != ""
        ).alias("toks"),
    )
    gram_expr = (
        f"filter(transform(toks, (t, i) -> CASE WHEN i + {n} <= size(toks) "
        f"THEN struct(i + 1 AS start, array_join(slice(toks, i + 1, {n}), ' ') AS gram) "
        f"END), x -> x IS NOT NULL)"
    )
    grams = base.select(id_col, F.explode(F.expr(gram_expr)).alias("g")).select(
        id_col, F.col("g.start").alias("start"), F.col("g.gram").alias("gram")
    )
    # skew-safe exact distinct-doc frequency — same two-stage shape as
    # dedup_paragraphs (see comment there): pair-distinct spreads a
    # viral gram's pairs across reducers, the count-per-gram partial agg
    # is map-side combinable (VERDICT r4 #6)
    frequent = (
        # NULL ids excluded — countDistinct semantics, see dedup_paragraphs
        grams.filter(F.col(id_col).isNotNull())
        .select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    hits = grams.join(frequent, "gram", "left_semi")
    covered = hits.select(
        id_col, F.explode(F.expr(f"sequence(start, start + {n} - 1)")).alias("pos")
    ).distinct()
    positions = base.select(
        id_col, F.posexplode("toks").alias("pos0", "tok")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "tok")
    kept = positions.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\x20",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = base.select(id_col, F.size("toks").cast("long").alias("n_tokens"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("long").alias("n_masked"),
    )


def c4_line_clean(
    docs: DataFrame,
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    id_col: str = "doc_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, the public
    rule list): keep only lines that end in terminal punctuation
    (``. ! ? "``) and have >= ``min_words_per_line`` words and do not
    mention "javascript"; then gate the PAGE on the boilerplate markers
    ("lorem ipsum", a ``{`` anywhere — code, not prose) and on having at
    least ``min_kept_lines`` surviving lines (the paper's >=3-sentence
    rule, with kept-line count as the sentence proxy since every kept line
    ends in a sentence terminator).

    -> (id, keep, fail_reason, n_lines_kept, clean_text) where clean_text
    is the kept lines rejoined (NULL on dropped pages).

    Everything is row-local higher-order-function work inside one
    codegen'd projection — no explode, no shuffle, no Python: at 100 TB
    this is a pure scan the optimizer fuses with whatever sits downstream.
    The per-line word count reuses the explicit ``[ \\t]+`` whitespace
    class (not ``\\s``) so the Java, RE2/DuckDB and Python tokenisations
    agree (see ``repetition_stats``)."""
    # trim(l) appears twice (terminal-punct test + word split); both sit in
    # the same lambda so codegen evaluates the row once per line either way.
    kept = F.expr(
        "filter(split(text, '\\n'), l -> "
        "  trim(l) RLIKE '[.!?\"]$' "
        "  AND size(filter(split(trim(l), '[ \\\\t]+'), t -> t != '')) "
        f"      >= {int(min_words_per_line)} "
        "  AND NOT lower(l) LIKE '%javascript%')"
    )
    low = F.lower(F.col("text"))
    fail = (
        F.when(F.col("text").isNull(), "null_text")
        .when(low.contains("lorem ipsum"), "lorem_ipsum")
        .when(low.contains("{"), "brace")
        .when(F.size(kept) < min_kept_lines, "too_few_sentences")
    )
    return docs.select(
        id_col,
        *extra_cols,
        fail.isNull().alias("keep"),
        F.coalesce(fail, F.lit("ok")).alias("fail_reason"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(kept))
        .cast("long")
        .alias("n_lines_kept"),
        F.when(fail.isNull(), F.array_join(kept, "\n")).alias("clean_text"),
    )


def badwords_gate(
    docs: DataFrame,
    badwords: list[str] | None = None,
    id_col: str = "doc_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """C4's banned-word page gate (Raffel et al. 2020 §2.2: drop any page
    containing a term from the banned list), matching the reference
    implementation's boundary-guarded LITERAL containment
    (tensorflow_datasets c4_utils builds ``[^a-z](term)[^a-z]`` around each
    escaped list entry): the real public list is full of multi-word
    phrases and punctuated obfuscations, so a token-equality test would
    silently never match them, while a bare substring test would drop
    "classic" for "ass" — this does neither.

    Mechanics (regex-free, so no per-term pattern compiles and no
    escaping hazards): every non-alphanumeric CHAR in the lowercased text
    AND in each term becomes a single space (1:1, position-preserving —
    runs are NOT collapsed), both are padded with one boundary space, and
    a term hits iff its padded form is a plain substring.  Equivalent to
    the reference regex on alphanumeric boundaries; the one documented
    divergence is that a punctuated term matches any same-POSITION
    punctuation, not the exact characters ('a$$' also hits 'a!!'), which
    only widens obfuscation coverage.  Terms that normalise to all
    spaces (pure punctuation) are excluded — they would match any
    whitespace run.

    ``badwords`` defaults to the neutral ``DEMO_BADWORDS`` stand-ins;
    production swaps in the real list via this argument (same mechanism,
    list-size-independent plan: the (term, padded form) pairs ride as ONE
    literal array, never a join).

    -> (id, keep, n_badword_types, matched) — matched is the sorted
    distinct offending terms comma-joined (auditable, like scrub_pii's
    counts; a plain string so any engine renders it identically).
    Entirely row-local array expressions inside one codegen'd projection:
    no explode, no shuffle, no Python — at 100 TB this fuses onto the
    scan like every other gate in the family."""
    import re as _re

    pairs = sorted(
        {
            (t, " " + _re.sub(r"[^a-z0-9]", " ", t) + " ")
            for t in (w.lower() for w in (badwords or DEMO_BADWORDS))
            if _re.sub(r"[^a-z0-9]", " ", t).strip()
        }
    )
    pair_arr = F.array(
        *[F.struct(F.lit(o).alias("o"), F.lit(r).alias("r")) for o, r in pairs]
    )
    padded = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", " "),
        F.lit(" "),
    )
    matched = F.array_sort(
        F.transform(
            F.filter(pair_arr, lambda e: F.contains(padded, e["r"])),
            lambda e: e["o"],
        )
    )
    return docs.select(
        id_col,
        *extra_cols,
        F.when(F.col("text").isNull(), F.lit(True))
        .otherwise(F.size(matched) == 0)
        .alias("keep"),
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(matched))
        .cast("int")
        .alias("n_badword_types"),
        F.when(F.col("text").isNull(), F.lit(""))
        .otherwise(F.array_join(matched, ","))
        .alias("matched"),
    )


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical-diversity features: token/type/hapax counts and
    type-token ratio — the vocabulary-richness quality signal (low TTR =
    template/boilerplate pages, a standard pretraining filter feature).

    Entirely row-local higher-order expressions: tokens are lowercased
    whitespace splits, types via array_distinct, hapaxes counted over the
    SORTED token array (an element is a hapax iff it differs from both
    sorted neighbours) — no explode, no shuffle, whole-stage codegen'd.
    The SQL oracle is the explode + group-by spec of the same counts.
    TTR is a single division of exact longs, rounded to 9 decimals."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\r\f]+")
    empty = F.col("text").isNull() | (F.length(F.trim(F.col("text"))) == 0)
    s = F.array_sort(toks)
    hapax = F.expr(
        "aggregate(sequence(0, size(_sorted) - 1), 0L, (acc, i) -> acc + "
        "IF((i = 0 OR _sorted[i] != _sorted[i-1]) AND "
        "(i = size(_sorted) - 1 OR _sorted[i] != _sorted[i+1]), 1L, 0L))"
    )
    base = docs.withColumn("_sorted", F.when(~empty, s))
    return base.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(None).cast("long"))
        .when(empty, F.lit(0))
        .otherwise(F.size("_sorted").cast("long"))
        .alias("n_tokens"),
        F.when(F.col("text").isNull(), F.lit(None).cast("long"))
        .when(empty, F.lit(0))
        .otherwise(F.size(F.array_distinct("_sorted")).cast("long"))
        .alias("n_types"),
        F.when(F.col("text").isNull(), F.lit(None).cast("long"))
        .when(empty, F.lit(0))
        .otherwise(hapax)
        .alias("n_hapax"),
        F.when(
            ~empty,
            F.round(
                F.size(F.array_distinct("_sorted")).cast("double") / F.size("_sorted"), 9
            ),
        ).alias("ttr"),
    )


def host_blocklist_filter(
    docs: DataFrame, blocked_hosts: list[str], url_col: str = "url"
) -> DataFrame:
    """URL-blocklist gate (the UT1/adult-blocklist stage every web corpus
    runs first — RefinedWeb §3.1, C4's bad-words analog at host level):
    drop every document whose url host appears in the blocklist.

    The blocklist rides as a BROADCAST anti-join build side (at real
    scale it is a few MB of hosts — never a shuffle of the corpus); host
    extraction is one codegen'd regex.  Rows whose host cannot be parsed
    are KEPT (fail-open, matching the reference pipeline's
    quarantine-don't-drop posture) — the SQL oracle must replicate that
    with an explicit host IS NULL arm (plain NOT IN would three-value
    them away)."""
    host = F.lower(F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))
    host = F.when(host == "", F.lit(None)).otherwise(host)
    bl = docs.sparkSession.createDataFrame(
        [(h.lower(),) for h in blocked_hosts], schema="host string"
    )
    tagged = docs.withColumn("host", host)
    return tagged.join(F.broadcast(bl), "host", "left_anti")


#: ordered mojibake -> char repair table: UTF-8 bytes of the char read back
#: as cp1252 (THE classic double-encoding corruption; ftfy's core case).
#: Longest sequences first so 3-byte punctuation repairs before any 2-byte
#: prefix could touch it.  Chars whose UTF-8 tail lands on cp1252 control
#: bytes or invisible chars (” \\x9d, à NBSP, í SHY) are EXCLUDED so the
#: table — and the generated SQL oracle — stays printable; a byte-level
#: production pass would cover them (documented seam).
MOJIBAKE_MAP: list[tuple[str, str]] = [
    ("â€œ", "“"),  # â€œ -> "
    ("â€˜", "‘"),  # â€˜ -> '
    ("â€™", "’"),  # â€™ -> '
    ("â€“", "–"),  # â€“ -> –
    ("â€”", "—"),  # â€” -> —
    ("â‚¬", "€"),  # â‚¬ -> €
    ("â€¦", "…"),  # â€¦ -> …
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ãª", "ê"),  # Ãª -> ê
    ("Ã«", "ë"),  # Ã« -> ë
    ("Ã¢", "â"),  # Ã¢ -> â
    ("Ã¤", "ä"),  # Ã¤ -> ä
    ("Ã§", "ç"),  # Ã§ -> ç
    ("Ã´", "ô"),  # Ã´ -> ô
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã»", "û"),  # Ã» -> û
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã¹", "ù"),  # Ã¹ -> ù
    ("Ã¯", "ï"),  # Ã¯ -> ï
    ("Ã®", "î"),  # Ã® -> î
    ("Ã³", "ó"),  # Ã³ -> ó
    ("Ã¡", "á"),  # Ã¡ -> á
    ("Ãº", "ú"),  # Ãº -> ú
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Â°", "°"),  # Â° -> °
    ("Â«", "«"),  # Â« -> «
    ("Â»", "»"),  # Â» -> »
]


def fix_mojibake(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repair UTF-8-read-as-cp1252 double-encoding (ftfy's headline case,
    standard in every web-text cleaning stack): one ordered chain of
    literal replaces over MOJIBAKE_MAP, longest sequences first — pure
    codegen'd string expressions, no UDF, no shuffle.

    The ground truth (s.encode('utf-8').decode('cp1252') corrupts,
    fix_mojibake repairs back to s) is pinned in pytest against Python's
    real codecs; the SQL oracle runs the identical replace chain.
    Returns the input columns with ``<text_col>`` repaired plus
    ``n_chars_fixed`` (chars recovered; every repair shrinks the string,
    so it is the pre/post length delta)."""
    fixed = F.col(text_col)
    for moji, ch in MOJIBAKE_MAP:
        fixed = F.replace(fixed, F.lit(moji), F.lit(ch))
    before = F.length(F.col(text_col))
    return docs.withColumn("_fixed", fixed).select(
        *[c for c in docs.columns if c != text_col],
        F.col("_fixed").alias(text_col),
        (before - F.length("_fixed")).cast("long").alias("n_chars_fixed"),
    )


def mojibake_sql_chain(col_expr: str) -> str:
    """The DuckDB oracle's replace chain for ``fix_mojibake`` — generated
    from the SAME MOJIBAKE_MAP so the two engines cannot drift."""
    out = col_expr
    for moji, ch in MOJIBAKE_MAP:
        m = moji.replace("'", "''")
        c = ch.replace("'", "''")
        out = f"replace({out}, '{m}', '{c}')"
    return out


def fineweb_pipeline(
    docs: DataFrame, blocked_hosts: list[str], url_col: str = "url"
) -> DataFrame:
    """The FineWeb recipe (Penedo et al. 2024) end-to-end in ONE plan:
    URL blocklist -> language gate -> Gopher quality rules -> Gopher
    document-shape rules -> C4 line cleaning -> exact dedup of the
    cleaned text.  Each published stage is the repo's own oracle-checked
    operator, chained via ``extra_cols`` column carry — every gate is a
    row-local projection, so Catalyst fuses the whole cascade into a
    SINGLE scan of the corpus followed by exactly two exchanges (the
    broadcast of the host blocklist and the dedup hash partitioning);
    the plan shape is asserted in tests/test_plan_shapes.py.

    Survivors: (doc_id, url, clean_text) — the C4-cleaned text, one
    representative (smallest doc_id) per exact-duplicate group."""
    s1 = host_blocklist_filter(docs, blocked_hosts, url_col)
    s2 = (
        lang_id(s1, extra_cols=(url_col, "text"))
        .filter(F.col("lang_pred").isNotNull() & (F.col("lang_pred") != "und"))
        .select("doc_id", url_col, "text")
    )
    s3 = (
        quality_filter(s2, extra_cols=(url_col, "text"))
        .filter("keep")
        .select("doc_id", url_col, "text")
    )
    s4 = (
        gopher_quality(s3, extra_cols=(url_col, "text"))
        .filter("keep")
        .select("doc_id", url_col, "text")
    )
    s5 = (
        c4_line_clean(s4, extra_cols=(url_col,))
        .filter("keep")
        .select("doc_id", url_col, "clean_text")
    )
    w = Window.partitionBy(F.md5(F.col("clean_text"))).orderBy(F.col("doc_id").asc())
    return (
        s5.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", url_col, "clean_text")
    )


def nfc_normalize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalisation — the canonicalisation every dedup/hash
    stage needs BEFORE fingerprinting (a decomposed 'e'+COMBINING ACUTE
    and a precomposed 'é' are different bytes but the same text; without
    NFC they dodge exact dedup and double vocabulary entries).

    This is deliberately a PYTHON (Arrow-batched mapInPandas) stage — the
    one operator family where the JVM expression library genuinely has no
    equivalent (Spark exposes no ICU normalizer built-in), i.e. the
    documented UDF-is-the-slow-path exception.  unicodedata.normalize is
    the reference implementation of the Unicode standard algorithm, and
    the DuckDB oracle's independent ``nfc_normalize`` must agree
    byte-for-byte — a genuine cross-engine check of the normaliser.
    Returns input columns with ``<text_col>`` normalised plus
    ``was_nfc`` (False where normalisation changed the string)."""
    import unicodedata

    cols = docs.columns

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd  # executor-side: the module-level name is type-only

        for pdf in batches:
            normed = [
                None if t is None else unicodedata.normalize("NFC", t)
                for t in pdf[text_col]
            ]
            out = pdf.copy()
            out[text_col] = pd.Series(normed, index=pdf.index, dtype=object)
            out["was_nfc"] = pd.Series(
                [
                    None if t is None else (t == n)
                    for t, n in zip(pdf[text_col], normed)
                ],
                index=pdf.index,
                dtype=object,
            )
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in docs.schema.fields
    ) + ", was_nfc boolean"
    return docs.mapInPandas(gen, schema=schema)


def pack_sequences(
    docs: DataFrame,
    chunk_tokens: int = 2048,
    shards: int = 32,
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style concat-and-chunk packing plan — the step that turns a
    cleaned corpus into fixed-length training sequences: documents are
    concatenated in a deterministic order and the stream is cut every
    ``chunk_tokens`` tokens; a document is described by its token offset
    interval and the chunk ids it spans.

    Distributed form: the corpus is hash-split into ``shards``
    independent streams (md5(id) % shards — deterministic, engine-
    replayable, and balanced under sorted ingestion), each stream packs
    by a window cumulative sum ordered by id.  ONE shuffle, integer-only
    arithmetic, any engine reproduces it bit-for-bit.  At 100 TB each
    shard is a partition-local running sum — the window never sees more
    than corpus/shards tokens.

    -> (id, shard, n_tokens, start_off, first_chunk, last_chunk):
    offsets are per-shard token positions; ``last_chunk`` is the chunk
    holding the document's final token (== first_chunk when it fits in
    one).  Empty/NULL docs carry n_tokens 0 and sit at their
    predecessor's boundary (zero-width interval, last_chunk =
    first_chunk)."""
    trimmed = F.trim(F.col("text"))
    n = (
        F.when(F.col("text").isNull() | (F.length(trimmed) == 0), F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")))
        .cast("long")
    )
    # the shared md5_long seam (functions/columns.py), not an inline copy:
    # when the hash seam flips (xxhash64 production path) every operator
    # must flip together
    shard = F.pmod(md5_long(F.col(id_col).cast("string")), F.lit(shards))
    base = docs.select(F.col(id_col), n.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_off")
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        start,
        F.floor((cum - F.col("n_tokens")) / chunk_tokens).cast("long").alias("first_chunk"),
        F.floor(
            F.greatest(cum - 1, cum - F.col("n_tokens")) / chunk_tokens
        ).cast("long").alias("last_chunk"),
    )


def mixture_sample(
    docs: DataFrame,
    budget_tokens: int,
    weight: F.Column,
    id_col: str = "doc_id",
    source_col: str = "source",
    scale: int = 1 << 20,
) -> DataFrame:
    """Token-budget mixture sampling (the Dolma/Pile recipe step: hit a
    total token budget with a TARGET SOURCE MIXTURE, not whatever ratio
    the crawl happened to have).

    ``weight`` is an integer column expression over ``source_col`` giving
    each source's mixture part; source s receives a token target
    ``T_s = budget * w_s // sum(w)`` and keeps each of its documents with
    probability ``min(1, T_s / tokens_s)`` — decided DETERMINISTICALLY by
    hash so the sample is reproducible and resume-stable:

        keep  iff  (md5_60bit(id) % scale) * tokens_s  <  T_s * scale

    Pure integer cross-multiplication — no float rate, no boundary
    disagreement between engines (values stay < 2^63 up to corpus sizes
    of ~2^42 tokens per source at the default scale).

    Physical shape: ONE map-side-combinable per-source token agg (tiny:
    |sources| rows), a 1-row weight-total cross join, a broadcast join of
    the rate table back onto the corpus, then a row-local keep filter —
    the corpus itself never shuffles.  Returns kept rows:
    (id, source, n_tokens)."""
    trimmed = F.trim(F.col("text"))
    n = (
        F.when(F.col("text").isNull() | (F.length(trimmed) == 0), F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")))
        .cast("long")
    )
    base = docs.select(F.col(id_col), F.col(source_col), n.alias("n_tokens"))
    per_source = base.groupBy(source_col).agg(F.sum("n_tokens").alias("tokens_s")).select(
        source_col, "tokens_s", weight.cast("long").alias("w")
    )
    wtot = per_source.agg(F.sum("w").alias("w_total"))
    rates = per_source.crossJoin(F.broadcast(wtot)).select(
        source_col,
        "tokens_s",
        # exact LONG division (DIV), not double-division-then-cast — a
        # petabyte budget times a weight would lose low bits in a double
        F.expr(f"CAST({budget_tokens} AS BIGINT) * w DIV w_total").alias("t_s"),
    )
    return (
        base.join(F.broadcast(rates), source_col)
        .filter(
            md5_long(F.col(id_col).cast("string")) % scale * F.col("tokens_s")
            < F.col("t_s") * scale
        )
        .select(id_col, source_col, "n_tokens")
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the context-window splitter
    every RAG index and long-document training pipeline runs: windows of
    ``chunk_tokens`` whitespace tokens advancing by ``chunk_tokens -
    overlap``, the final window keeping its tail remainder.

    Row-local: tokens come from ONE split, window slices from one
    transform over the start-index sequence, then a single posexplode —
    output amplification is the unavoidable ~1/(1-overlap/chunk) text
    duplication of the technique itself, and nothing shuffles.
    -> (id, chunk_idx, n_chunk_tokens, chunk_text); empty/NULL docs yield
    no rows (nothing to index)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")
    nonempty = docs.filter(F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0))
    base = nonempty.select(F.col(id_col), toks.alias("_t"))
    # start indices 0, step, 2*step, ... while start < n; slice is 1-based
    chunks = F.expr(
        f"transform(sequence(0, CAST(floor((size(_t) - 1) / {step}) AS INT)), "
        f"           i -> slice(_t, i * {step} + 1, {chunk_tokens}))"
    )
    # drop trailing windows fully covered by the previous one (start >= n)
    # — sequence() above already stops at the last start < n
    return (
        base.select(id_col, F.posexplode(chunks).alias("chunk_idx", "_c"))
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("_c").cast("long").alias("n_chunk_tokens"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
    )


def extract_html_meta(df: DataFrame, html_col: str = "html_str") -> DataFrame:
    """Head-metadata extraction from raw HTML: ``<title>``, meta
    description, ``og:title``, canonical link, declared charset, and the
    robots-noindex gate — the per-page fields every crawl pipeline
    indexes next to the extracted main text (and the first thing a
    dataset card reports about a web corpus).

    Reference analog: the key->value field extraction over OCR'd
    documents (kvcore/matching.py key dictionaries) specialised to the
    fixed key dictionary HTML itself defines (title/meta/link tags).

    Pure codegen'd regex projection — no UDF, no shuffle, fuses onto the
    scan.  Pattern dialect is the RE2-safe subset shared with the DuckDB
    oracle: no backreferences (quote style is handled by explicit
    single-/double-quote alternates), no dot-matches-newline (``[^<]``/
    ``[^"]`` classes instead), ``(?i)`` casefold supported by both.
    Attribute order (name-first vs content-first) is covered by a
    coalesce over both orders; empty extracts normalise to NULL.
    """
    h = F.coalesce(F.col(html_col), F.lit(""))

    def _first(*pats: str) -> F.Column:
        alts = [F.nullif(F.regexp_extract(h, p, 1), F.lit("")) for p in pats]
        return F.coalesce(*alts) if len(alts) > 1 else alts[0]

    dq, sq = '"([^"]*)"', "'([^']*)'"
    meta_named = lambda attr, name: [  # noqa: E731 — local pattern builder
        rf'(?i)<meta\s[^>]*{attr}="{name}"[^>]*\scontent={q}' for q in (dq, sq)
    ] + [
        rf'(?i)<meta\s[^>]*content={q}[^>]*\s{attr}="{name}"' for q in (dq, sq)
    ] + [
        rf"(?i)<meta\s[^>]*{attr}='{name}'[^>]*\scontent={q}" for q in (dq, sq)
    ]
    return df.select(
        "*",
        F.nullif(
            F.trim(F.regexp_extract(h, r"(?i)<title[^>]*>([^<]*)</title>", 1)),
            F.lit(""),
        ).alias("title"),
        _first(*meta_named("name", "description")).alias("meta_description"),
        _first(*meta_named("property", "og:title")).alias("og_title"),
        _first(
            r'(?i)<link\s[^>]*rel="canonical"[^>]*\shref="([^"]*)"',
            r'(?i)<link\s[^>]*href="([^"]*)"[^>]*\srel="canonical"',
        ).alias("canonical_url"),
        _first(
            r'(?i)<meta\s+charset="([a-zA-Z0-9_-]+)"',
            r"(?i)<meta\s+charset=([a-zA-Z0-9_-]+)[\s/>]",
        ).alias("charset"),
        h.rlike(r'(?i)<meta\s[^>]*name="robots"[^>]*\scontent="[^"]*noindex').alias(
            "noindex"
        ),
    )


def corpus_datasheet(docs: DataFrame) -> DataFrame:
    """Per-language corpus datasheet — the summary table every dataset
    card ships (docs, token/char totals, length percentiles, null rate) —
    with EXACT percentiles and zero global sorts.

    Columns per lang: n_docs, total_tokens (whitespace tokens, NULL text
    counts 0), total_chars, null_text_docs, p50_chars / p90_chars (exact
    PERCENTILE_DISC of ``length(coalesce(text,''))`` via the
    distinct-length histogram — ``relational.grouped_percentile_disc``;
    no sampling, no interpolation, bit-identical in any engine).

    Scale shape: two map-side-combinable aggregates over one corpus scan
    pattern — ``groupBy(lang)`` for the sums and ``groupBy(lang, len)``
    for the histogram — a window over histogram rows only, and a
    lang-keyed join of two tiny per-lang tables.  At 100 TB the
    percentile path shuffles at most (languages x distinct lengths)
    rows.
    """
    from .relational import grouped_percentile_disc

    length = F.length(F.coalesce(F.col("text"), F.lit("")))
    n_toks = _ws_token_count()
    base = docs.select(
        "lang",
        length.cast("long").alias("len"),
        n_toks.alias("n_toks"),
        F.when(F.col("text").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_null"),
    )
    sums = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("len").alias("total_chars"),
        F.sum("is_null").cast("long").alias("null_text_docs"),
    )
    pcts = grouped_percentile_disc(
        base.select("lang", "len"), "len", "lang", percentiles=(50, 90)
    ).select(
        F.col("lang").alias("_pl"),
        F.col("p50").alias("p50_chars"),
        F.col("p90").alias("p90_chars"),
    )
    return sums.join(pcts, F.col("lang").eqNullSafe(F.col("_pl"))).drop("_pl")


#: payment-card candidate: 13-19 digits, optionally single-space/dash
#: separated (the grouping real card numbers are written with)
CARD_CANDIDATE_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def scrub_cards(docs: DataFrame) -> DataFrame:
    """Luhn-validated payment-card redaction (PCI-style PII pass).

    The plain ``\\d{8,}`` mask in :func:`scrub_pii` over-redacts: order
    ids, timestamps and hashes all look like long digit runs.  Real
    pipelines validate the ISO/IEC 7812 Luhn checksum before treating a
    digit run as a card number.  This operator extracts 13-19 digit
    candidates (separators allowed), strips separators, checks Luhn with
    exact integer arithmetic, and replaces only the VALID candidates with
    ``<CARD>`` — all inside ONE codegen'd projection (regexp_extract_all +
    higher-order functions), zero UDFs, zero exchanges: the plan is a
    scan + project at any corpus size.

    Known over-redaction (deterministic, documented): the final masking is
    a literal substring replace per validated candidate, so a valid card
    string that also occurs INSIDE a longer unvalidated digit run is
    masked there too.

    Returns (doc_id, scrubbed, n_candidates, n_cards) — counts make the
    redaction auditable per document.
    """
    # Luhn over the separator-stripped digits d: from the RIGHT, double
    # every second digit (positions with (len-i) % 2 = 1 for 1-based i),
    # subtracting 9 when doubling overflows; valid iff sum % 10 = 0.
    # ``d`` is an SQL expression string for the digit run (the raw match
    # with separators stripped) — inlined because HOF lambdas cannot host
    # subqueries or lateral aliases.
    def luhn_sum(d: str) -> str:
        digit = f"CAST(substring({d}, i, 1) AS INT)"
        return (
            f"aggregate(sequence(1, length({d})), 0, (acc, i) -> acc + "
            f"(CASE WHEN (length({d}) - i) % 2 = 1 "
            f" THEN CASE WHEN 2 * {digit} > 9 THEN 2 * {digit} - 9 "
            f"      ELSE 2 * {digit} END "
            f" ELSE {digit} END))"
        )

    # Spark SQL string literals process backslash escapes — double them so
    # the regex engine sees \b, not a backspace character
    pat = CARD_CANDIDATE_RE.replace("\\", "\\\\")
    cands = f"regexp_extract_all(text, '{pat}', 0)"
    # validate on the stripped digits but keep the RAW match for masking
    stripped = "regexp_replace(c, '[ -]', '')"
    valid = f"filter({cands}, c -> ({luhn_sum(stripped)}) % 10 = 0)"
    scrubbed = (
        f"aggregate(array_distinct({valid}), text, (t, c) -> replace(t, c, '<CARD>'))"
    )
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(scrubbed).alias("scrubbed"),
        F.expr(f"size({cands})").cast("int").alias("n_candidates"),
        F.expr(f"size(array_distinct({valid}))").cast("int").alias("n_cards"),
    )


def line_lang_segments(docs: DataFrame) -> DataFrame:
    """Per-LINE language ID + code-switch stats (multilingual-corpus audit).

    :func:`lang_id` labels a whole document; real crawl pages mix languages
    (boilerplate in one, body in another, quoted passages).  This operator
    applies the SAME stopword-hit heuristic to every non-blank line and
    reports, per document: line counts per language, the number of
    adjacent-line language SWITCHES (the code-switching signal), the
    dominant language and its share in integer per-mille.

    Everything is row-local array arithmetic over ``split(text, '\\n')`` —
    one codegen'd projection, zero UDFs, zero exchanges; at 100 TB the plan
    is still scan + project.  Ties break exactly like :func:`lang_id`
    (en >= ind -> en) and dominance ties break en > ind > und.
    """

    def hits_sql(words, var="x"):
        pad = f"concat(' ', lower({var}), ' ')"
        return "(" + " + ".join(
            f"(CASE WHEN {pad} LIKE '% {w} %' THEN 1 ELSE 0 END)" for w in words
        ) + ")"

    en, ind = hits_sql(EN_STOPWORDS), hits_sql(ID_STOPWORDS)
    lang_case = (
        f"CASE WHEN {en} = 0 AND {ind} = 0 THEN 'und' "
        f"WHEN {en} >= {ind} THEN 'en' ELSE 'ind' END"
    )
    nonblank = r"filter(split(text, '\n'), x -> x rlike '[^ \t\r]')"
    with_langs = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(f"transform({nonblank}, x -> {lang_case})").alias("langs"),
    )
    n = F.size("langs")
    n_en = F.size(F.expr("filter(langs, x -> x = 'en')"))
    n_ind = F.size(F.expr("filter(langs, x -> x = 'ind')"))
    n_und = F.size(F.expr("filter(langs, x -> x = 'und')"))
    # sequence(2, 1) would be DESCENDING in Spark — guard short docs
    switches = F.expr(
        "CASE WHEN size(langs) >= 2 THEN aggregate(sequence(2, size(langs)), 0, "
        "(acc, i) -> acc + (CASE WHEN element_at(langs, i) <> element_at(langs, i - 1) "
        "THEN 1 ELSE 0 END)) ELSE 0 END"
    )
    counts = with_langs.select(
        "doc_id",
        n.cast("int").alias("n_lines"),
        n_en.cast("int").alias("n_en"),
        n_ind.cast("int").alias("n_ind"),
        n_und.cast("int").alias("n_und"),
        switches.cast("int").alias("n_switches"),
    )
    # integer per-mille via `div` — no float anywhere, engine-exact
    return counts.select(
        "*",
        F.expr(
            "CASE WHEN n_lines = 0 THEN 'und' "
            "WHEN n_en >= n_ind AND n_en >= n_und THEN 'en' "
            "WHEN n_ind >= n_und THEN 'ind' ELSE 'und' END"
        ).alias("dominant_lang"),
        F.expr(
            "CAST(CASE WHEN n_lines = 0 THEN 0 ELSE "
            "(CAST(greatest(n_en, n_ind, n_und) AS BIGINT) * 1000) div n_lines "
            "END AS INT)"
        ).alias("dom_pmille"),
    )


def _ws_token_count() -> "F.Column":
    """Whitespace token count of ``text`` as BIGINT, NULL/blank -> 0 —
    the one tokenizer-cardinality expression shared by corpus_datasheet,
    length_gini and corpus accounting (one definition, so the oracles
    can replicate it once)."""
    trimmed = F.trim(F.col("text"))
    return (
        F.when(F.col("text").isNull(), F.lit(0).cast("long"))
        .when(F.length(trimmed) == 0, F.lit(0).cast("long"))
        .otherwise(F.size(F.split(trimmed, r"[ \t\n\r\f]+")).cast("long"))
    )


def length_gini(docs: DataFrame) -> DataFrame:
    """Per-language GINI CONCENTRATION of token mass across documents —
    the inequality statistic dataset cards report to show whether a
    corpus's volume is spread across many documents or dominated by a few
    giants (the same diagnostic crawl audits run per host).

    Definition (exact, ascending ranks): with per-doc token counts
    x_(1) <= ... <= x_(n) in a language,
    ``G = (2*sum_i(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x))``, reported as
    integer per-mille ``gini_pmille`` in 0..1000 (0 = perfectly equal,
    ->1000 = one document holds everything).

    Scale shape — the corpus is NEVER globally sorted (the textbook
    formula ranks every row): a tied block of ``cnt`` documents at value
    ``v`` occupies the contiguous rank interval (cum-cnt, cum], so its
    exact rank-sum is ``cnt*(cum-cnt) + cnt*(cnt+1)/2`` — computable from
    the map-side-combinable ``groupBy(lang, x)`` DISTINCT-VALUE histogram
    plus one window cumsum over histogram rows only (the same shape as
    ``grouped_percentile_disc``).  At 100 TB the window touches
    (languages x distinct lengths) rows, not 1e12 documents.

    Arithmetic is DECIMAL(38,0) end-to-end: at 1e12 docs the
    rank-weighted sum ``sum(v * ranksum)`` tops int64 by ~10 orders of
    magnitude (rank 1e12 * cnt 1e6 * v 1e4), and ``div`` on decimals is
    engine-exact, so the result is bit-reproducible — no float anywhere.
    -> (lang, n_docs, total_tokens, gini_pmille)
    """
    base = docs.select("lang", _ws_token_count().alias("x"))
    hist = base.groupBy("lang", "x").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("x").asc())
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    # exact rank-sum of the tied block, all DECIMAL(38,0)
    ranksum = F.expr(
        "CAST(cum - cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))"
        " + (CAST(cnt AS DECIMAL(38,0)) * CAST(cnt + 1 AS DECIMAL(38,0))) div 2"
    )
    per_lang = cum.select(
        "lang",
        F.col("cnt"),
        (F.col("x").cast("decimal(38,0)") * ranksum).alias("rs"),
        (F.col("x").cast("decimal(38,0)") * F.col("cnt").cast("decimal(38,0)")).alias(
            "mass"
        ),
    ).groupBy("lang").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum("mass").alias("_t"),
        F.sum("rs").alias("_s"),
    )
    return per_lang.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("_t").cast("long").alias("total_tokens"),
        F.expr(
            "CAST(CASE WHEN _t = 0 THEN 0 ELSE"
            " (1000 * (2 * _s - CAST(n_docs + 1 AS DECIMAL(38,0)) * _t))"
            " div (CAST(n_docs AS DECIMAL(38,0)) * _t) END AS INT)"
        ).alias("gini_pmille"),
    )


def length_mad_outliers(docs: DataFrame, k: int = 3) -> DataFrame:
    """Robust per-language length-anomaly flags: median + MAD (median
    absolute deviation) gate, the standard outlier rule that — unlike
    mean/stddev — a handful of pathological giant documents cannot drag
    (FineWeb-style anomaly screening before quality filtering).

    ``is_outlier`` is exact and float-free: ``|len - med| > k * mad``
    with ``med = P50(len)`` and ``mad = P50(|len - med|)`` per language,
    both computed by :func:`relational.grouped_percentile_disc` — i.e.
    TWO stacked exact-quantile passes, each a map-side-combinable
    distinct-value histogram + a window over histogram rows only.  The
    per-language (med, mad) tables are tiny (one row per language) and
    come back as AQE-broadcast equi-joins, so the corpus itself is
    scanned, never sorted and never re-shuffled.
    -> (doc_id, lang, len, med, mad, is_outlier)
    """
    from .relational import grouped_percentile_disc

    base = docs.select(
        "doc_id",
        "lang",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("len"),
    )
    med = grouped_percentile_disc(
        base.select("lang", "len"), "len", "lang", percentiles=(50,)
    ).select(F.col("lang").alias("_ml"), F.col("p50").alias("med"))
    with_med = base.join(med, F.col("lang").eqNullSafe(F.col("_ml"))).drop("_ml")
    dev = with_med.withColumn("dev", F.abs(F.col("len") - F.col("med")))
    mad = grouped_percentile_disc(
        dev.select("lang", "dev"), "dev", "lang", percentiles=(50,)
    ).select(F.col("lang").alias("_mm"), F.col("p50").alias("mad"))
    return (
        dev.join(mad, F.col("lang").eqNullSafe(F.col("_mm")))
        .select(
            "doc_id",
            "lang",
            "len",
            "med",
            "mad",
            (F.col("dev") > F.lit(int(k)) * F.col("mad")).alias("is_outlier"),
        )
    )


def length_histogram(docs: DataFrame) -> DataFrame:
    """Per-language distinct-char-length histogram ``(lang, len, cnt)`` —
    the MERGEABLE carrier of exact quantiles: two histograms over disjoint
    slices merge by cell-wise ``SUM(cnt)``, which is what lets the
    streamed twin build exact percentiles incrementally (the sketch-free
    analog of the CMS/HLL cell tables)."""
    return (
        docs.select(
            "lang",
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("len"),
        )
        .groupBy("lang", "len")
        .agg(F.count("*").alias("cnt"))
    )


def pmi_pairs(docs: DataFrame, window: int = 2, top: int = 40) -> DataFrame:
    """Top co-occurring token pairs with an EXACT integer association
    lift — the collocation statistic (PMI's argument) used to mine
    multi-word expressions and to audit boilerplate phrases a cleaning
    pass should have removed.

    A pair is an ordered position pair (i < j <= i+window) WITHIN a
    document over the corpus tokenizer (lower, whitespace split, empties
    dropped — same definition as :func:`corpus_top_terms`).  Pair
    generation is ROW-LOCAL (one flatten/transform HOF chain inside the
    projection — output is bounded by window * n_tokens per doc, text is
    never replicated into a Generate), then ONE map-side-combinable
    ``groupBy(a, b)``; unigram counts are a second combinable agg over
    the same scan shape, and the two corpus totals ride in as a 1-row
    broadcast cross join.

    ``lift_ppm = 1e6 * P(a,b) / (P(a)P(b)) = (pair_n * total_toks^2 *
    1e6) div (total_pairs * cnt_a * cnt_b)`` in DECIMAL(38,0): engine-
    exact and oracle-replayable (DuckDB HUGEINT).  SEAM: at 1e12-token
    scale ``total_toks^2 * 1e6`` exceeds 38 digits — a production run
    emits the 5 integer counts and computes log-PMI downstream in float;
    the exact integer lift here is the oracle-parity form (> 1e6 means
    positively associated).  Top-k plans as TakeOrderedAndProject, never
    a single-partition vocabulary sort.
    -> (a, b, pair_n, cnt_a, cnt_b, lift_ppm, rank)
    """
    wnd, n = int(window), int(top)
    if wnd < 1 or n < 1:
        raise ValueError(f"window and top must be >= 1, got {window}, {top}")
    # NB: the split pattern is built with F.split (a Python-level string),
    # NOT inside an F.expr SQL literal — SQL literals C-unescape, and the
    # unknown escape '\f' silently becomes the LETTER f (measured: 'fast'
    # tokenized as 'ast'), while the Python string reaches Java regex
    # intact.  Same tokenizer as corpus_top_terms, one definition of it.
    toks = docs.filter(F.col("text").isNotNull()).select(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r\f]+"),
            lambda x: F.length(x) > 0,
        ).alias("t")
    )
    # sequence(a, b) is DESCENDING when a > b — both sequences are guarded
    # (outer: only docs with >= 2 tokens; inner: i <= size-1 so i+1 <= size)
    pairs = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, size(t) - 1), i ->"
                f" transform(sequence(i + 1, least(i + {wnd}, size(t))), j ->"
                f" struct(element_at(t, i) AS a, element_at(t, j) AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pair_counts = pairs.groupBy("a", "b").agg(F.count("*").alias("pair_n"))
    uni = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    totals = pair_counts.agg(F.sum("pair_n").alias("tp")).crossJoin(
        uni.agg(F.sum("c").alias("tt"))
    )
    scored = (
        pair_counts.join(uni.select(F.col("term").alias("a"), F.col("c").alias("cnt_a")), "a")
        .join(uni.select(F.col("term").alias("b"), F.col("c").alias("cnt_b")), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            "pair_n",
            "cnt_a",
            "cnt_b",
            F.expr(
                "CAST((CAST(pair_n AS DECIMAL(38,0)) * tt * tt * 1000000)"
                " div (CAST(tp AS DECIMAL(38,0)) * cnt_a * cnt_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    topk = scored.orderBy(
        F.col("pair_n").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(n)
    w = Window.orderBy(F.col("pair_n").desc(), F.col("a").asc(), F.col("b").asc())
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


#: invisible/control characters a webtext hygiene pass must account for:
#: zero-widths + soft hyphen (token/dedup poison — two visually identical
#: pages hash differently), and bidi override/isolate controls (the
#: Trojan-Source class: text that RENDERS differently than it compares)
ZERO_WIDTH_CHARS = "\u200b\u200c\u200d\ufeff\u00ad"
BIDI_CONTROL_CHARS = (
    "\u200e\u200f\u202a\u202b\u202c\u202d\u202e\u2066\u2067\u2068\u2069"
)


def invisible_char_audit(docs: DataFrame) -> DataFrame:
    """Invisible-character hygiene audit + strip: per-doc counts of
    zero-width characters (ZWSP/ZWNJ/ZWJ/BOM + soft hyphen — the chars
    that silently split tokens and break exact dedup between visually
    identical pages) and bidi control characters (LRM/RLM, the
    embedding/override/isolate set — the Trojan-Source vector where
    rendered text diverges from compared text), plus the text with both
    classes removed.

    Counts are length diffs against a class-strip (the repo's standard
    regex-free counting shape), the whole thing ONE codegen'd projection
    — no explode, no shuffle, no Python; at 100 TB the plan is scan +
    project.  The char classes are built from PYTHON string literals,
    never SQL literals (the '\\f' C-unescape lesson from pmi_pairs).
    NULL text stays NULL with zero counts.
    -> (doc_id, n_zw, n_bidi, clean_len, clean_text)
    """
    zw_class = "[" + ZERO_WIDTH_CHARS + "]"
    bidi_class = "[" + BIDI_CONTROL_CHARS + "]"
    t = F.col("text")
    no_zw = F.regexp_replace(t, zw_class, "")
    no_bidi = F.regexp_replace(t, bidi_class, "")
    clean = F.regexp_replace(no_zw, bidi_class, "")
    zero_if_null = lambda c: F.when(t.isNull(), F.lit(0)).otherwise(c)  # noqa: E731
    return docs.select(
        "doc_id",
        zero_if_null(F.length(t) - F.length(no_zw)).cast("int").alias("n_zw"),
        zero_if_null(F.length(t) - F.length(no_bidi)).cast("int").alias("n_bidi"),
        zero_if_null(F.length(clean)).cast("long").alias("clean_len"),
        clean.alias("clean_text"),
    )


#: homoglyph confusables -> Latin skeleton (conservative, 1:1 by code
#: point so both engines' ``translate`` apply it identically): Cyrillic
#: lower/upper lookalikes and the Greek capitals + omicron/nu set — the
#: spoofing alphabet of mixed-script spam, typosquats and cloaked
#: keywords.  Escapes only; literal invisible/confusable chars never
#: appear in source (the invisible-chars lesson).
CONFUSABLE_SOURCE = (
    "\u0430\u0435\u043e\u0440\u0441\u0443\u0445\u0456\u0455\u0458"  # cyr lower
    "\u0410\u0412\u0415\u0417\u041a\u041c\u041d\u041e\u0420\u0421\u0422\u0423\u0425"  # cyr upper
    "\u03bf\u039f\u03bd\u0391\u0392\u0395\u0396\u0397\u0399\u039a\u039c\u039d\u03a1\u03a4\u03a5\u03a7"  # greek
)
CONFUSABLE_LATIN = "aeopcyxisj" + "ABE3KMHOPCTYX" + "oOvABEZHIKMNPTYX"
assert len(CONFUSABLE_SOURCE) == len(CONFUSABLE_LATIN)


def homoglyph_audit(docs: DataFrame) -> DataFrame:
    """Mixed-script homoglyph audit + Latin skeleton — the spoofing
    detector for text where Cyrillic/Greek lookalikes impersonate Latin
    (typosquat hosts, cloaked spam keywords that defeat literal
    banned-word gates, plagiarism masking that defeats exact dedup).

    ``skeleton`` maps every confusable to its Latin twin with ONE
    ``translate`` (1:1 by code point — identical semantics in Spark and
    DuckDB/RE2 engines); ``n_confusables`` is the usual length-diff
    class-strip count; ``is_mixed`` flags documents where confusables
    coexist with genuine ASCII letters — the signature of deliberate
    spoofing (pure-Cyrillic text is just Russian, not an attack).
    ONE codegen'd projection: no explode, no shuffle, no Python.
    NULL text -> zero counts, NULL skeleton.
    -> (doc_id, n_confusables, is_mixed, skeleton)
    """
    t = F.col("text")
    cls = "[" + CONFUSABLE_SOURCE + "]"
    stripped = F.regexp_replace(t, cls, "")
    n_conf = F.length(t) - F.length(stripped)
    has_latin = t.rlike("[A-Za-z]")
    return docs.select(
        "doc_id",
        F.when(t.isNull(), F.lit(0)).otherwise(n_conf).cast("int").alias(
            "n_confusables"
        ),
        F.when(t.isNull(), F.lit(False))
        .otherwise((n_conf > 0) & has_latin)
        .alias("is_mixed"),
        F.translate(t, CONFUSABLE_SOURCE, CONFUSABLE_LATIN).alias("skeleton"),
    )


def page_directives(
    df: DataFrame, html_col: str = "html_str", url_col: str = "url"
) -> DataFrame:
    """Page-level crawl directives: (url, noindex, nofollow,
    hreflang_langs, n_alternates) — what the PAGE says about itself, the
    companion to robots.txt's host-level gate (``robots.apply_robots``).

    - ``noindex`` / ``nofollow`` from ``<meta name="robots">`` (either
      attribute order, either quote style, token match inside the
      comma-separated content list) — corpora drop noindex pages the
      same way they drop robots-disallowed fetches;
    - ``hreflang_langs``: the sorted-distinct language tags of
      any ``<link>`` carrying an ``hreflang`` attribute — the page's declared
      translation cluster, THE join key for cross-lingual dedup /
      parallel-text candidate mining;
    - ``n_alternates``: how many hreflang alternates the page declares.

    One codegen'd regex projection over the scan — no UDF, no explode
    into a shuffle (the hreflang list is row-local), no exchange.
    """
    h = F.coalesce(F.col(html_col), F.lit(""))

    def _robots_has(token: str) -> F.Column:
        content = F.coalesce(
            *[
                F.nullif(F.regexp_extract(h, p, 1), F.lit(""))
                for p in (
                    r'(?i)<meta\s[^>]*name="robots"[^>]*\scontent="([^"]*)"',
                    r'(?i)<meta\s[^>]*content="([^"]*)"[^>]*\sname="robots"',
                    r"(?i)<meta\s[^>]*name='robots'[^>]*\scontent='([^']*)'",
                )
            ],
            F.lit(""),
        )
        # token match within the comma/space-separated directive list
        return F.lower(content).rlike(rf"(^|[,\s]){token}([,\s]|$)")

    langs = F.expr(
        f"""array_sort(array_distinct(transform(
            regexp_extract_all(coalesce({html_col}, ''),
                '(?i)<link\\\\s[^>]*hreflang="([^"]*)"[^>]*>', 1),
            x -> lower(x))))"""
    )
    return df.select(
        F.col(url_col).alias("url"),
        _robots_has("noindex").alias("noindex"),
        _robots_has("nofollow").alias("nofollow"),
        langs.alias("hreflang_langs"),
        F.size(langs).alias("n_alternates"),
    )
