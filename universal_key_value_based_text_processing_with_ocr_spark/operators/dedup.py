"""Deduplication family for training-data pipelines.

All variants are declarative DataFrame transforms that codegen and
shuffle-plan like native SQL, and each has a DuckDB oracle.  The one
Python stage is the Arrow-vectorised shingler (``char_shingles`` — a
narrow mapInPandas that replaced an interpreted-HOF projection with
bit-identical output, see its docstring); everything relational stays
JVM-side:

- exact:            hash-groupBy on content (md5)
- n-gram Jaccard:   char-n-gram shingles -> shingle equi-join -> |A∩B|/|A∪B|
- MinHash + LSH:    md5-derived hash family -> per-seed min -> banded
                    signature hash -> bucket join -> candidate pairs
- SimHash:          bitwise majority of token hashes (16-bit demo width)

Scale notes (100 TB): the shingle join shuffles on the shingle value —
shingle cardinality is ~uniform so no skew; LSH replaces the quadratic
pair join with a bucket join on (band, band_hash), which is the standard
sub-quadratic near-dup plan; exact dedup is one map-side-combinable
groupBy.  The md5-derived hash family keeps every stage reproducible in
any engine (no engine-private hash needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group identical texts: (fp, keep_id, n_copies) — keep lowest doc_id."""
    return (
        docs.filter(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def incremental_dedup(new_docs: DataFrame, committed_docs: DataFrame) -> DataFrame:
    """Exact dedup of a NEW batch against an already-committed corpus — the
    resume-shaped dedup an append-only 100 TB pipeline runs every increment.

    (fp, keep_id): content fingerprints of batch docs that are not yet in
    the committed corpus, keeping the lowest doc_id within the batch.  The
    committed side reduces to a distinct fingerprint column before the
    anti-join (tiny vs payloads; broadcast when small, shuffle otherwise —
    AQE decides), so the committed TEXT is never reshuffled.
    """
    committed_fp = (
        committed_docs.filter(F.col("text").isNotNull())
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch = new_docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.md5("text").alias("fp")
    )
    return (
        batch.join(committed_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


#: output-buffer bound for the Arrow shingler (shingles per yield) —
#: caps Python-side peak memory regardless of document length
SHINGLE_FLUSH_ROWS = 200_000


def char_shingles(docs: DataFrame, n: int = 10, extra_cols: tuple = ()) -> DataFrame:
    """Distinct character n-gram shingles per document.

    ``extra_cols`` carries additional row-constant columns (host, lang)
    through the generate — the grouped-sketch consumers key on them.

    Runs as ONE narrow Arrow stage (mapInPandas): Spark evaluates
    higher-order-function lambdas INTERPRETED per element, so the old
    ``array_distinct(transform(sequence(...), substring))`` projection
    paid ~10M interpreted substring calls per 12k docs (2.9 s at sf0.1);
    Python's native slicing + an insertion-ordered dedup does the same
    work in 1.1 s, emitting BIT-IDENTICAL rows — same per-doc distinct
    set, same first-occurrence order, same code-point (not byte)
    slicing semantics as Spark's substring, same length >= n gate
    (pinned vs the expression form in tests/test_shingles_arrow.py).  Rows
    carry only the n-char shingle, never the full text.

    Per-doc dedup happens ROW-LOCALLY before emission: doc_id is
    constant within a row group, so this is exactly the old global
    ``.distinct()`` — minus its full shuffle of every shingle row.
    Every downstream consumer (jaccard, minhash, LSH, clusters) shares
    the win."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    extras = [str(c) for c in extra_cols]
    out_schema = StructType(
        [docs.schema["doc_id"]]
        + [docs.schema[c] for c in extras]
        + [StructField("shingle", StringType())]
    )
    cols = ["doc_id", *extras, "text"]

    # Flush the output buffer every SHINGLE_FLUSH_ROWS shingles: an Arrow
    # input batch of LONG documents (50 KB text -> ~50k shingles each x
    # 10k rows) would otherwise materialise the whole fan-out in Python
    # lists before one giant yield — the JVM explode this replaced
    # streamed with per-row peak memory, and so must this.
    flush_rows = SHINGLE_FLUSH_ROWS

    def gen(it):
        def _empty() -> dict:
            return {f.name: [] for f in out_schema.fields}

        for pdf in it:
            data = _empty()
            buffered = 0
            for vals in zip(*(pdf[c] for c in cols)):
                did, *ex, t = vals
                if t is None or len(t) < n:
                    continue
                seen = dict.fromkeys(t[i : i + n] for i in range(len(t) - n + 1))
                k = len(seen)
                data["doc_id"].extend([did] * k)
                for c, v in zip(extras, ex):
                    data[c].extend([v] * k)
                data["shingle"].extend(seen.keys())
                buffered += k
                if buffered >= flush_rows:
                    yield pd.DataFrame(data)
                    data = _empty()
                    buffered = 0
            if buffered:
                yield pd.DataFrame(data)

    # the shingler is CPU-bound per row: spread a single-split scan across
    # the cluster first (identity at real scale — see widen_small_scan)
    from ..plans.partitioning import widen_small_scan

    return widen_small_scan(docs.select(*cols), "doc_id").mapInPandas(gen, out_schema)


#: ngram_jaccard_pairs refuses inputs above this size unless explicitly
#: opted in — it is the exact baseline; minhash_lsh_pairs is the scale path.
JACCARD_GUARD_MAX_DOCS = 1_000_000


def _guard_quadratic(df: DataFrame, max_rows: int, allow: bool, sibling: str) -> None:
    """Fail fast before an all-pairs plan is unleashed on a corpus-scale
    input (VERDICT r2 #7).  The size probe is ``limit(max_rows+1).count()``
    — LocalLimit stops each task as soon as the bound is exceeded, so the
    guard never materialises the full upstream lineage the way a plain
    count() would on a computed (uncached) input.  ``allow`` skips the
    check for callers that know their input (e.g. a sampled oracle run)."""
    if allow:
        return
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"input has more than {max_rows} rows: this operator is the exact "
            f"O(N^2) small-N oracle — use {sibling} for corpus-scale inputs, "
            "or pass allow_quadratic=True if you really mean it"
        )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 10,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Near-dup pairs by char-n-gram Jaccard >= threshold (doc_a < doc_b).

    Shingles occurring in more than ``max_doc_freq`` documents are dropped
    from BOTH the intersection and the set sizes ("stop-shingles").  A
    shingle shared by d documents contributes O(d^2) join rows while adding
    no discriminative signal, so without the cap the exact all-pairs join
    degenerates quadratically on boilerplate-heavy corpora; with it the
    worst join group is max_doc_freq^2.  (For corpus-scale near-dup the LSH
    variant below is the real plan; this is the exact baseline.)  Inputs
    above ``JACCARD_GUARD_MAX_DOCS`` raise unless ``allow_quadratic=True``
    (VERDICT r2 #7) — candidate-pair volume grows with N * max_doc_freq and
    there is no recall argument for running the exact baseline at scale.
    """
    _guard_quadratic(docs, JACCARD_GUARD_MAX_DOCS, allow_quadratic, "minhash_lsh_pairs")
    inter, sizes = _shingle_pair_stats(docs, n, max_doc_freq)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_pair_stats(docs: DataFrame, n: int, max_doc_freq: int):
    """Shared candidate machinery of the exact pair scorers
    (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`):
    per-pair intersection counts + per-doc set sizes over df-capped char
    shingles.  Returns ``(inter, sizes)``."""
    from pyspark.sql import Window

    raw = char_shingles(docs, n)
    # Plan (round 6): ONE repartition("shingle") exchange over a SINGLE
    # shingler run; the stop-shingle df-cap is a window count over that
    # same exchange (df <= max_doc_freq ≡ the old NOT df > max_doc_freq);
    # per-pair intersections come from the groupBy(shingle) collect of the
    # kept rows (bounded groups, <= max_doc_freq ids); per-doc set sizes
    # come STRAIGHT from the kept rows (groupBy doc_id count), not from
    # exploding the collected groups.  History: the r5 plan computed stop
    # as a separate aggregate and removed it with a broadcast anti-join,
    # but Catalyst pushes a left-anti join below RepartitionByExpression,
    # so the anti-join's exchange no longer canonicalised with the stop
    # pass's — the Arrow shingler ran TWICE and the collect_list aggregate
    # three times (once per consumer).  The window form keeps every
    # consumer rooted at the one exchange (shingler runs ONCE — the win
    # that matters at corpus scale, where each extra run is a full text
    # re-scan), and deriving sizes from rows instead of groups drops two
    # ObjectHashAggregate passes.  Measured best-of-3 interleaved at
    # sf0.1 local[32]: 3.7 s -> 2.3 s (scripts history: r2 self-join
    # 10.8 s, r5 shared-repartition anti-join 7.2 s).  The single-pass
    # collect-then-filter variant stays rejected for scale: it would
    # materialise an unbounded agg buffer for one boilerplate shingle in
    # 10^9 docs; the window count is a constant-space streaming aggregate
    # over the sorted run.
    raw = raw.repartition("shingle")
    kept = (
        raw.withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
        .filter(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )
    groups = kept.groupBy("shingle").agg(F.collect_list("doc_id").alias("docs"))
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    inter = (
        groups.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("doc_a"), F.col("docs"))
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return inter, sizes


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 10,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Asymmetric near-SUBSET pairs by char-n-gram containment (Broder's
    second resemblance measure): containment_a = |A∩B| / |A| — how much of
    doc_a's shingle set lives inside doc_b — and symmetrically for b; keep
    pairs where EITHER direction >= threshold.

    This is the detector Jaccard structurally cannot be: a 200-char quote
    fully embedded in a 20 000-char page has jaccard ~0.01 but
    containment_a = 1.0 — quote/excerpt mining, article-in-aggregator
    detection, and train/eval leakage through partial copies all key on
    containment, not resemblance.  Same df-capped candidate plan as
    :func:`ngram_jaccard_pairs` (one shingle repartition shared by the
    stop-count and collect passes via ReuseExchange, bounded in-group pair
    explode), so the scale posture is identical; only the final scoring
    projection differs.
    """
    _guard_quadratic(
        docs, JACCARD_GUARD_MAX_DOCS, allow_quadratic, "minhash_lsh_pairs"
    )
    inter, sizes = _shingle_pair_stats(docs, n, max_doc_freq)
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / F.col("sa.n_shingles"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_inter") / F.col("sb.n_shingles"), 6).alias(
                "containment_b"
            ),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
        )
    )


# --- MinHash --------------------------------------------------------------


_HASH_IMPL = "md5"


def set_hash_impl(impl: str) -> None:
    """Switch the dedup hash family behind the seam.

    'md5' (default): byte-reproducible in any engine — the DuckDB oracles
    replay it, which is what makes every dedup query cross-checkable.
    'xxhash64': the production fast path — JVM-native, no hex-string
    round-trip per shingle (the md5 path spends most of its time in
    md5+substring+conv).  Same plans and same pair semantics; fingerprint
    VALUES differ, so cross-engine oracles don't apply in this mode.
    """
    global _HASH_IMPL
    if impl not in ("md5", "xxhash64"):
        raise ValueError(f"hash impl must be 'md5' or 'xxhash64', got {impl!r}")
    _HASH_IMPL = impl


def _md5_long(col) -> F.Column:
    """Reproducible non-negative 60-bit hash (first 15 md5 hex digits as a
    bigint), or the xxhash64 fast path when selected via set_hash_impl."""
    if _HASH_IMPL == "xxhash64":
        return F.shiftrightunsigned(F.xxhash64(col), 4)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Universal-hash family over ONE base hash per shingle: h_s = (a_s*x + b_s)
# mod p with p prime > 2^32 and 30-bit odd multipliers, so one md5 feeds all
# signature positions (16x fewer digests) and every product stays < 2^62
# (exact in any engine's 64-bit integers — the oracle replays it in SQL).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
MINHASH_A = [
    787697173, 611068513, 201906163, 989422417, 359573261, 573721831,
    876298313, 102938417, 743292619, 465730177, 694392113, 550127099,
    318932117, 908765431, 237465209, 662198473,
]
MINHASH_B = [
    105691, 905869, 333667, 710641, 260017, 881917, 414977, 623521,
    198491, 764929, 536879, 149057, 982451, 370261, 657731, 821297,
]


def _base_hash(col) -> F.Column:
    """32-bit base hash feeding the universal-hash family (values must stay
    < 2^32 so every a*x+b product stays exact in 64-bit integers)."""
    if _HASH_IMPL == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(4294967296)).cast("long")
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _band_hash(col) -> F.Column:
    """Join key for a band's signature slice (string in both impls)."""
    if _HASH_IMPL == "xxhash64":
        return F.xxhash64(col).cast("string")
    return F.md5(col)


def minhash_signatures(docs: DataFrame, n_hashes: int = 16, shingle_n: int = 10) -> DataFrame:
    """(doc_id, seed, minhash): min over shingles of (a_s*md5_32 + b_s) % p.

    Physical shape: one column-wise min per seed in a SINGLE groupBy over
    the shingle rows (map-side combinable, no n_hashes-fold row explosion),
    then an unpivot to the (doc_id, seed, minhash) long form.

    NOTE (measured, round 3): a fully shuffle-free variant — computing all
    mins row-locally with transform/array_min over the shingle array — is
    ~2x SLOWER end-to-end despite eliminating this exchange: higher-order
    -function lambdas are interpreted per element (no whole-stage codegen),
    while this exploded+groupBy shape is fully codegen'd; and removing the
    exchange also removes the ReuseExchange sharing point that lets the
    LSH query compute the expensive hash subtree once for all consumers.
    Don't redo it (same trap as the repetition_stats 60x note)."""
    sh = char_shingles(docs, shingle_n).select("doc_id", _base_hash(F.col("shingle")).alias("x"))
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i])) % MINHASH_PRIME).alias(
                f"h{i}"
            )
            for i in range(n_hashes)
        ]
    )
    stack_expr = "stack({n}, {args}) as (seed, minhash)".format(
        n=n_hashes, args=", ".join(f"{i}, h{i}" for i in range(n_hashes))
    )
    return mins.select("doc_id", F.expr(stack_expr)).select(
        "doc_id", F.col("seed").cast("int").alias("seed"), "minhash"
    )


def _minhash_sig_array(
    docs: DataFrame, n_hashes: int, shingle_n: int, extra_cols: tuple = ()
) -> DataFrame:
    """(doc_id, *extra_cols, sig): the seed-ordered signature ARRAY, built
    straight from the per-seed min columns — ``array(h0..h15)`` is by
    construction the same seed-sorted array the long form's ``array_sort(
    collect_list(struct(seed, minhash)))`` re-assembled, minus that second
    doc_id exchange + ObjectHashAggregate the re-collect paid (r6: the
    banding consumers never needed the long form at all).  The one
    groupBy(doc_id) over hashed shingles stays THE shared exchange for
    every consumer; ``extra_cols`` (row-constant per document) join its
    key and ride through."""
    extras = [str(c) for c in extra_cols]
    sh = char_shingles(docs, shingle_n, extra_cols).select(
        "doc_id", *extras, _base_hash(F.col("shingle")).alias("x")
    )
    mins = sh.groupBy("doc_id", *extras).agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i])) % MINHASH_PRIME
            ).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    return mins.select(
        "doc_id", *extras, F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame, n_hashes: int = 16, band_size: int = 4, shingle_n: int = 10
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over the minhash signature.

    Bands of ``band_size`` seeds are hashed together; two docs sharing any
    (band, band_hash) bucket become a candidate pair with their estimated
    similarity = fraction of agreeing signature positions.
    """
    # One doc-level signature array (seed order by construction —
    # _minhash_sig_array).  It feeds three consumers (band hashing + both
    # sides of the agreement estimate) but is NOT persisted: all three are
    # the same subtree, so Catalyst's ReuseExchange computes the expensive
    # shingle+md5+min shuffle once and the consumers re-read the shuffle
    # files.  Measured equal-or-faster than .persist() on this query, and
    # it leaves no cached blocks pinned in the session after the caller's
    # terminal action (VERDICT r2 #3).
    if n_hashes % band_size != 0:
        # silent truncation would leave trailing signature positions out
        # of candidate generation — recall quietly lower than configured
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by band_size ({band_size})"
        )
    sig_arr = _minhash_sig_array(docs, n_hashes, shingle_n)
    n_bands = n_hashes // band_size
    band_ids = F.explode(F.array([F.lit(i) for i in range(n_bands)])).alias("band")
    bands = sig_arr.select("doc_id", band_ids, "sig").select(
        "doc_id",
        "band",
        _band_hash(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), F.col("band") * band_size + 1, band_size),
                    lambda m: m.cast("string"),
                ),
            )
        ).alias("band_hash"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Estimated similarity = agreeing signature positions, computed ONLY for
    # candidate pairs (never an all-pairs self-join: at N docs that is
    # O(N^2 * n_hashes) rows — the whole point of LSH is to avoid it).
    sa = sig_arr.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig_arr.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / F.lit(n_hashes),
                6,
            ).alias("est_sim"),
        )
    )


def minhash_bands(
    docs: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 10,
    extra_cols: tuple = (),
) -> DataFrame:
    """(doc_id, *extra_cols, band, band_hash, sig): the LSH INDEX rows of a
    corpus — the persistable form of minhash_lsh_pairs' banding (same
    signature, same band hashing), carrying the full signature so a later
    batch can verify candidate similarity against the index without
    re-reading any committed text.  Storage is n_bands rows/doc with the
    (n_hashes)-long array repeated; at 10^9+ docs split sig into its own
    (doc_id, sig) side table — the join shape below is unchanged.
    ``extra_cols`` are row-constant per-document tags (e.g. provenance)
    carried onto every band row."""
    if n_hashes % band_size != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by band_size ({band_size})"
        )
    extras = [str(c) for c in extra_cols]
    sig_arr = _minhash_sig_array(docs, n_hashes, shingle_n, extra_cols)
    n_bands = n_hashes // band_size
    band_ids = F.explode(F.array([F.lit(i) for i in range(n_bands)])).alias("band")
    return sig_arr.select("doc_id", *extras, band_ids, "sig").select(
        "doc_id",
        *extras,
        "band",
        _band_hash(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), F.col("band") * band_size + 1, band_size),
                    lambda m: m.cast("string"),
                ),
            )
        ).alias("band_hash"),
        "sig",
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    committed_bands: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 10,
    threshold: float = 0.5,
):
    """Incremental NEAR-dup dedup: drop each new doc that is minhash-similar
    to the COMMITTED corpus (via its persisted band index) or to an
    earlier doc of its own batch — the recrawl companion of
    bloom_incremental_dedup, one level fuzzier.  Committed text is never
    re-read and never re-minhashed: candidates come from an equi-join of
    the new batch's band keys against the index, and similarity verifies
    against the index's stored signatures.

    Drop rule (deterministic, the standard greedy): a new doc is dropped
    iff some band-bucket sibling with est_sim >= threshold is committed
    or has a smaller doc_id within the batch.  Returns (survivors,
    new_index_rows) — append the latter to the side table to commit.

    Scale shape: the batch is minhashed once (the only corpus-sized work,
    proportional to the BATCH); the index join is an equi-join on
    (band, band_hash) — skew-bounded because identical band hashes mean
    near-identical docs, which the threshold then drops.
    """
    nb = minhash_bands(new_docs, n_hashes, band_size, shingle_n)
    return _incremental_minhash_from_bands(
        new_docs, nb, committed_bands, n_hashes, threshold
    )


def _incremental_minhash_from_bands(
    new_docs: DataFrame,
    nb: DataFrame,
    committed_bands: DataFrame,
    n_hashes: int = 16,
    threshold: float = 0.5,
):
    """:func:`incremental_minhash_dedup` with the batch's band rows
    precomputed — the seam that lets a caller who builds BOTH band tables
    from one corpus pass (the query fixture does: committed index build is
    query-time setup there) minhash everything in a single shingle+agg
    pipeline instead of two.  Semantics identical to the public form."""

    def _agree(sig_a, sig_b):
        return F.aggregate(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(n_hashes)

    vs_committed = (
        nb.alias("n")
        .join(
            committed_bands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("doc_id"),
            _agree(F.col("n.sig"), F.col("c.sig")).alias("est_sim"),
        )
        .where(F.col("est_sim") >= threshold)
        .select("doc_id")
    )
    vs_batch = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            _agree(F.col("a.sig"), F.col("b.sig")).alias("est_sim"),
        )
        .where(F.col("est_sim") >= threshold)
        .select("doc_id")
    )
    dropped = vs_committed.unionByName(vs_batch).distinct()
    survivors = new_docs.join(dropped, "doc_id", "left_anti")
    new_index_rows = nb.join(dropped, "doc_id", "left_anti")
    return survivors, new_index_rows


# --- Bloom-sketch incremental dedup ----------------------------------------

#: Bloom geometry defaults: 2^20 bits / 4 hashes holds ~10^5 committed
#: fingerprints at <1% false-positive rate (m/n ~ 10 bits per item).  At
#: 10^9+ committed docs scale m with n (m ~ 10n bits) — the sketch is
#: m/64 longs, so 10^10 bits = ~1.2 GB: at that point feed a LARGER
#: word-count and let AQE pick a shuffle join on word_idx instead of the
#: broadcast (same plan shape, one extra exchange).
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 4


def _bloom_positions(fp, m_bits: int, k: int) -> F.Column:
    """k bit positions for one md5-hex fingerprint via double hashing:
    p_j = (h1 + j*(2*h2+1)) % m with h1, h2 = first/second 8 hex digits.
    Every term stays < 2^35, exact in any engine's 64-bit integers, so the
    DuckDB oracle replays the identical sketch bit-for-bit."""
    h1 = F.conv(F.substring(fp, 1, 8), 16, 10).cast("long")
    step = F.conv(F.substring(fp, 9, 8), 16, 10).cast("long") * 2 + 1
    return F.array(*[(h1 + F.lit(j) * step) % m_bits for j in range(k)])


def fps_of(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints (``fp`` column) of a text frame — THE
    canonical fingerprint projection.  Every producer of the fingerprint
    side-table (batch job, streaming foreachBatch, backfill, rebuild) MUST
    go through this helper: a hash change applied anywhere else would make
    the two writers silently diverge."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.md5(text_col).alias("fp"))
        .distinct()
    )


def bloom_sketch_from_fps(
    fps: DataFrame, m_bits: int = BLOOM_BITS, k: int = BLOOM_HASHES
) -> DataFrame:
    """Bloom sketch from an already-fingerprinted corpus (``fp`` column —
    the maintained fingerprint side-table of a results table).  At 10^9+
    committed docs this is the scale path: the sketch pass scans 16-byte
    fingerprints instead of document text, and the text column never
    leaves its parquet files."""
    pos = fps.filter(F.col("fp").isNotNull()).select(
        F.explode(_bloom_positions(F.col("fp"), m_bits, k)).alias("p")
    )
    return (
        # 63-bit words: a shift of 63 overflows DuckDB's checked signed <<,
        # so the sketch never uses the sign bit — costs 1/64 space, buys an
        # idiom every engine evaluates identically.
        pos.select(
            F.expr("p DIV 63").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_incremental_dedup(
    new_docs: DataFrame,
    committed_docs: DataFrame | None = None,
    m_bits: int = BLOOM_BITS,
    k: int = BLOOM_HASHES,
    id_col: str = "doc_id",
    committed_fps: DataFrame | None = None,
) -> DataFrame:
    """Extreme-scale resume dedup: (id_col, bloom_candidate, is_dup) for
    every batch doc with text.  ``id_col`` names the document key —
    ``doc_id`` for the documents table, ``url`` for extraction output.

    Plan: the committed corpus collapses to a Bloom sketch (one aggregate
    pass, never reshuffled again); the batch probes it with a broadcast
    join on word_idx — NO shuffle of either payload side.  Bloom filters
    have no false negatives, so non-candidates are guaranteed-new and skip
    verification entirely; only the candidates (true dups + ~fpp false
    positives) hit the exact fingerprint semi-join.  Compared with
    ``incremental_dedup``'s distinct-fp anti-join, the exact join's input
    shrinks from the whole batch to the candidate sliver, and the committed
    side ships as m/8 bytes instead of a fingerprint table.

    Entirely JVM expressions with an md5-derived hash family — the DuckDB
    oracle rebuilds the identical sketch, so even the false positives are
    deterministic and cross-checked (``dedup_incremental_bloom``).

    ``committed_fps`` (an ``fp``-column frame — the job-maintained
    fingerprint side-table) replaces ``committed_docs`` as the committed
    side: both the sketch build AND the exact verification then read
    16-byte fingerprints, never committed text.  At 10^12 committed docs
    the old path's ``distinct()`` over all committed fingerprints was a
    full fp shuffle per increment (VERDICT r3 #5); the fp-table path
    semi-joins only the candidate sliver against the fp table instead."""
    if committed_fps is None:
        if committed_docs is None:
            raise ValueError("one of committed_docs / committed_fps is required")
        committed_fps = committed_docs.filter(F.col("text").isNotNull()).select(
            F.md5("text").alias("fp")
        )
    sketch = bloom_sketch_from_fps(committed_fps, m_bits, k)
    batch = new_docs.filter(F.col("text").isNotNull()).select(
        id_col, F.md5("text").alias("fp")
    )
    probe = batch.select(
        id_col, "fp", F.explode(_bloom_positions(F.col("fp"), m_bits, k)).alias("p")
    ).select(
        id_col,
        "fp",
        F.expr("p DIV 63").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").alias("mask"),
    )
    hits = probe.join(F.broadcast(sketch), "word_idx", "left").select(
        id_col,
        "fp",
        ((F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask"))) == F.col("mask")).alias(
            "hit"
        ),
    )
    per_doc = hits.groupBy(id_col, "fp").agg(F.bool_and("hit").alias("bloom_candidate"))
    # exact verification restricted to the candidate sliver (no false
    # negatives -> non-candidates are proven new without touching the
    # committed fingerprints).  LEFT SEMI instead of distinct+left-join:
    # duplicate fps on the committed side never multiply rows, so the
    # full-corpus distinct() shuffle disappears — the only committed-side
    # cost is the semi-join itself, over the fp column alone.
    cand = per_doc.filter(F.col("bloom_candidate"))
    dup_ids = cand.join(
        committed_fps.select("fp"), "fp", "left_semi"
    ).select(id_col, F.lit(True).alias("is_dup"))
    return (
        per_doc.join(dup_ids, id_col, "left")
        .select(
            id_col,
            "bloom_candidate",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def drop_content_duplicates(
    results: DataFrame,
    committed: DataFrame | None = None,
    text_col: str = "extracted_text",
    id_col: str = "url",
    committed_fps: DataFrame | None = None,
) -> DataFrame:
    """Filter mirror documents out of an extraction-results frame.

    Within-frame content duplicates keep the lowest ``id_col``; rows whose
    ``text_col`` already exists in ``committed`` (same column) are dropped
    by probing the committed corpus through the Bloom sketch — committed
    text is never reshuffled, only sketch candidates pay the exact
    fingerprint join.  When the job maintains a fingerprint side-table,
    pass it as ``committed_fps`` (``fp`` column): sketch build and exact
    verify then read fingerprints only — committed TEXT is never scanned.
    NULL-text rows (recorded failures) are never dropped.  Shared by the
    batch job and the streaming foreachBatch (first-writer-wins across
    increments by construction: the sketch is built from the table state
    BEFORE the increment commits)."""
    from pyspark.sql import Window

    # NULL-text rows must not share one window partition: a failure-heavy
    # batch would funnel every failed doc through a single sort task even
    # though the when() discards the computed row_number.  Keying NULLs by
    # their own id (NUL-prefixed so a url can never collide with an md5
    # hex digest) gives each failure a singleton partition.
    w = Window.partitionBy(
        F.coalesce(F.md5(text_col), F.concat(F.lit("\x00"), F.col(id_col)))
    ).orderBy(id_col)
    out = (
        results.withColumn(
            "_rn",
            F.when(F.col(text_col).isNull(), F.lit(1)).otherwise(F.row_number().over(w)),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if committed is not None or committed_fps is not None:
        flags = bloom_incremental_dedup(
            out.select(id_col, F.col(text_col).alias("text")),
            committed.select(F.col(text_col).alias("text")) if committed_fps is None else None,
            id_col=id_col,
            committed_fps=committed_fps,
        )
        dup_ids = flags.filter(F.col("is_dup")).select(id_col)
        out = out.join(dup_ids, id_col, "left_anti")
    return out


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): bitwise majority over whitespace-token hashes.

    Token multiset (not set) — repeated tokens weigh more, standard SimHash.
    """
    from ..plans.partitioning import widen_small_scan

    toks = widen_small_scan(
        docs.filter(
            F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
        ).select("doc_id", "text"),
        "doc_id",
    ).select("doc_id", F.explode(F.split(F.trim("text"), r"[ \t\n\r\f]+")).alias("tok"))
    h = toks.select("doc_id", _md5_long(F.col("tok")).alias("h"))
    # ONE map-side-combinable groupBy with a conditional ±1 sum per bit —
    # the same column-wise shape as minhash_signatures — instead of the
    # old bits-fold explode (token rows x bits -> groupBy(doc_id, bit) ->
    # groupBy(doc_id)), which shuffled ``bits`` rows per token hash and
    # paid a second exchange.  Per-bit sums are exact integers either
    # way, so the majority vote and the packed signature are identical.
    per_bit = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END")
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    packed = sum(
        (
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(bits)
        ),
        start=F.lit(0).cast("long"),
    )
    return per_bit.select("doc_id", packed.alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Text near-dup PAIRS from SimHash signatures via a banded Hamming
    equi-join — Manku et al. 2007 (Google's web-crawl near-dup detector).

    The signature is banded into ``n_bands`` equal slices; two signatures
    within Hamming distance ``n_bands - 1`` must agree EXACTLY on at least
    one band (pigeonhole), so candidates come from an equi-join on
    (band, band_value) — never an all-pairs comparison — and the banded
    result is PROVABLY equal to the brute-force spec for
    ``max_hamming <= n_bands - 1`` (the oracle/pytest pin).  Exact
    ``bit_count(xor)`` then filters candidates.  Returns
    (doc_a, doc_b, hamming), doc_a < doc_b.

    Defaults are fixture-scaled (32-bit signature keeps the 500-doc corpus
    producing a non-trivial pair set); production is Manku's 64-bit /
    k = 3, which this shape reaches by ``bits=60, n_bands=4`` on the
    md5-60-bit seam (or xxhash64 via ``set_hash_impl``).

    Physical shape: the signature stage is a deterministic JVM aggregate,
    so the self-join's two references collapse under ReuseExchange —
    signatures compute ONCE (asserted in tests).  Band values shuffle
    <= n_bands small rows per doc; at 10^12 docs the banked-signature
    side-table pattern (the dedup fp-table discipline) applies unchanged."""
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands bands")
    if not 0 <= max_hamming <= n_bands - 1:
        raise ValueError(
            "banded join guarantees recall only for max_hamming <= n_bands - 1"
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    sigs = simhash(docs, bits=bits)
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), width * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    # co-partitioned SMJ at any scale: both sides ARE the same corpus-sized
    # table, so an AQE broadcast conversion is a toy-scale artifact (and a
    # broadcast exchange could never be reused by the other side)
    bands = bands.repartition("band", "val").hint("shuffle_merge")
    a = bands.select(
        F.col("band"), F.col("val"),
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"),
    )
    b = bands.select(
        F.col("band"), F.col("val"),
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"),
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) edge table:
    (doc_id, cluster_id) with cluster_id = min reachable doc_id.  Edges with
    a NULL endpoint are ignored (a NULL row would otherwise be silently
    dropped mid-loop by the label self-join).

    Min-label propagation WITH pointer jumping: each round every node takes
    the min label among itself and its neighbours, then label <- label(label)
    (a self-join of the label table), which halves remaining label-chain
    depth.  Convergence is O(log diameter) rounds instead of the plain
    propagation's O(diameter) — max_iterations=20 covers components of
    diameter ~2^20 where the plain loop would silently need a million rounds.

    Both per-round label tables are eagerly localCheckpointed: the cut is
    MANDATORY (the self-join references its input plan twice, so without
    truncation the logical plan doubles per round and OOMs the driver by
    ~round 10), and checkpointing both keeps every plan constant-size and
    every checkpointed block safe to reclaim — earlier rounds' blocks are
    released by the ContextCleaner as their references drop, and with
    O(log d) rounds at most a few copies of the (near-dup-docs-only) label
    table ever coexist."""
    edges = (
        edges.select("doc_a", "doc_b")
        .filter(F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull())
        .persist()
    )
    # symmetric adjacency
    adj = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        adj.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )

    # localCheckpoint persists at the RDD level, OUTSIDE the SQL CacheManager
    # — DataFrame.unpersist() cannot release those blocks, and waiting on the
    # ContextCleaner (JVM-GC-driven, async) leaves up to 2 label-table copies
    # per completed round pinned for an unbounded time.  A checkpointed
    # DataFrame's analyzed plan is a LogicalRDD wrapping exactly the
    # persisted RDD, so each superseded checkpoint is released through its
    # OWN handle the moment its successor is eagerly materialised (safe:
    # eager = self-contained blocks, nothing recomputes through the
    # predecessor).  Targeting the plan's own RDD — never a diff of the
    # context-global persistent-RDD map — keeps this correct when other
    # threads of the same session persist/checkpoint concurrently.

    def _ckpt_rdd(df):
        return df._jdf.queryExecution().analyzed().rdd()

    def _release(handles):
        for h in handles:
            h.unpersist(False)

    prev_ckpt_handles: list = []
    converged = False
    try:
        for it in range(max_iterations):
            neighbour_min = (
                adj.join(labels, adj.doc_b == labels.doc_id)
                .groupBy(adj.doc_a)
                .agg(F.min("label").alias("nmin"))
            )
            stepped = labels.join(
                neighbour_min, labels.doc_id == neighbour_min.doc_a, "left"
            ).select(
                "doc_id",
                # carry the pre-step label so convergence detection below
                # is a filter over the checkpointed rows, not another
                # shuffle-join against the previous label table (r6: one
                # fewer join job per iteration — the loop's cost on small
                # graphs is fixed per-job latency, not data)
                F.col("label").alias("_old"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            # pointer jump: label <- min(label, label(label)).  Every label value
            # is itself a node id present in the table (labels start as own ids
            # and only ever take mins of existing ids), so the self-join is total
            # and labels stay within the component; label(x) <= x by invariant,
            # so chains of stale labels collapse geometrically.
            stepped = stepped.localCheckpoint(eager=True)
            stepped_handle = _ckpt_rdd(stepped)
            # convergence check BEFORE the pointer jump (r6): if the
            # min-step changed nothing, every node's label already equals
            # the min over its closed neighbourhood, which forces adjacent
            # labels equal (else the step would have lowered one), i.e.
            # labels are constant per component and the jump is the
            # identity — so the final round's label-table self-join +
            # checkpoint never needs to run.  Labels only ever decrease,
            # so a round the old post-jump check would have continued on
            # is continued here too: the two loops execute the same
            # number of rounds and return identical labels.
            step_changed = (
                stepped.filter(F.col("label") != F.col("_old")).limit(1).count()
            )
            if step_changed == 0:
                labels.unpersist()
                _release(prev_ckpt_handles)
                prev_ckpt_handles = [stepped_handle]
                labels = stepped.drop("_old")
                converged = True
                break
            jumped = (
                stepped.alias("n")
                .join(stepped.alias("m"), F.col("n.label") == F.col("m.doc_id"))
                .select(
                    F.col("n.doc_id").alias("doc_id"),
                    F.col("n._old").alias("_old"),
                    F.least(F.col("n.label"), F.col("m.label")).alias("label"),
                )
            )
            new_labels = jumped.localCheckpoint(eager=True)
            # no post-jump convergence count: the NEXT round's pre-jump
            # check terminates the loop one full (join + checkpoint +
            # count) cheaper than checking here — labels only decrease,
            # so nothing converged can un-converge in between.
            # new_labels is fully materialised: nothing can recompute through
            # stepped or the previous labels — release their blocks NOW.
            labels.unpersist()  # round-0 initial labels (CacheManager persist)
            _release([stepped_handle, *prev_ckpt_handles])
            prev_ckpt_handles = [_ckpt_rdd(new_labels)]
            labels = new_labels.drop("_old")
    except BaseException:
        # a mid-loop failure must not leave label-table checkpoint blocks
        # pinned for the rest of the session (best effort: the handles we
        # hold; a partially-built round's blocks fall to the ContextCleaner)
        _release(prev_ckpt_handles)
        raise
    finally:
        # success AND failure: labels (if returned) is eagerly
        # materialised, nothing downstream recomputes through the edge
        # tables — their cached blocks never outlive this call (r2 #3)
        adj.unpersist()
        edges.unpersist()
    if not converged:
        # Components needing more rounds would silently get wrong (split)
        # cluster ids — surface it.  With pointer jumping this means
        # diameter > ~2^max_iterations: practically unreachable.  The
        # unreturned labels' checkpoint blocks are released first.
        _release(prev_ckpt_handles)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def near_dup_clusters(
    docs: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 10,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over the LSH candidate-pair graph:
    (doc_id, cluster_id) where cluster_id = min doc_id reachable through
    near-dup edges (the canonical "keep one per duplicate cluster" step).
    See ``connected_components`` for the O(log diameter) propagation."""
    return connected_components(
        minhash_lsh_pairs(docs, n_hashes, band_size, shingle_n),
        max_iterations=max_iterations,
    )


def cluster_policy(
    docs: DataFrame,
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 10,
    max_iterations: int = 20,
) -> DataFrame:
    """Quality-aware duplicate-cluster retention policy.

    The two published endgames of near-dup clustering in one frame:
    FineWeb-style *keep the best representative per cluster* (``keep`` =
    argmax quality, ties -> lowest doc_id) and SoftDeDup-style *down-weight
    instead of drop* (``soft_weight`` = 1/cluster_size, so a cluster
    contributes ~one document's worth of sampling mass however many mirrors
    it has).  Output: (doc_id, cluster_id, cluster_size, quality, keep,
    soft_weight) for EVERY input document — docs with no near-dup edge
    (including NULL/short text, which form no shingles) are singleton
    clusters of themselves with weight 1.

    Plan: the MinHash/LSH + connected-components graph
    (:func:`near_dup_clusters`) touches only dup-connected docs; a LEFT
    join folds the labels back over the full corpus (cluster_id defaults to
    the doc's own id); the policy itself is two window functions over the
    SAME cluster_id hash distribution, so the size count and the quality
    rank share one exchange.  Cluster sizes are near-dup cliques — bounded
    by the LSH band collision rate, never corpus-sized — so the window
    partitions cannot skew.  At 100 TB the cost is the cluster stage
    itself; the policy adds one combinable shuffle.
    """
    from pyspark.sql import Window

    from .textstats import quality_score

    clusters = near_dup_clusters(
        docs, n_hashes, band_size, shingle_n, max_iterations
    )
    labeled = (
        quality_score(docs)
        .select("doc_id", "quality")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    by_cluster = Window.partitionBy("cluster_id")
    rank = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc_nulls_last(), F.col("doc_id").asc()
    )
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(by_cluster).cast("long").alias("cluster_size"),
        "quality",
        (F.row_number().over(rank) == 1).alias("keep"),
        F.round(F.lit(1.0) / F.count("*").over(by_cluster), 6).alias("soft_weight"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    probes: DataFrame,
    n_hashes: int = 16,
    shingle_n: int = 10,
    min_agree: int = 1,
) -> DataFrame:
    """FUZZY benchmark decontamination: MinHash-estimated Jaccard between
    every corpus document and a small eval set.

    :func:`~..operators.textstats.contamination_check` catches exact
    n-gram overlap; paraphrased or lightly-edited eval leakage slips
    through.  This estimates Jaccard as the fraction of agreeing MinHash
    signature positions (the standard unbiased estimator), so a reworded
    contaminated page still scores high.

    Physical shape at 100 TB: the corpus-side signature is the SAME
    map-side-combinable groupBy :func:`minhash_signatures` builds (one
    exchange over hashed shingles, shared via ReuseExchange with any other
    minhash consumer); the eval set is tiny, so its signature BROADCASTS
    and the (seed, minhash) equi-join never shuffles the corpus; the final
    (doc_id, probe_id) count is partially aggregated.  Pairs with zero
    agreeing positions are absent by construction (estimated Jaccard 0).

    Returns (doc_id, probe_id, n_agree, agree_pct) for pairs with
    ``n_agree >= min_agree``; agree_pct is integer percent of ``n_hashes``.
    """
    sig_d = minhash_signatures(docs, n_hashes, shingle_n)
    sig_p = minhash_signatures(probes, n_hashes, shingle_n).select(
        F.col("doc_id").alias("probe_id"),
        F.col("seed").alias("p_seed"),
        F.col("minhash").alias("p_minhash"),
    )
    agree = sig_d.join(
        F.broadcast(sig_p),
        (F.col("seed") == F.col("p_seed")) & (F.col("minhash") == F.col("p_minhash")),
    )
    return (
        agree.groupBy("doc_id", "probe_id")
        .agg(F.count("*").cast("int").alias("n_agree"))
        .filter(F.col("n_agree") >= min_agree)
        .select(
            "doc_id",
            "probe_id",
            "n_agree",
            F.expr(f"CAST((CAST(n_agree AS BIGINT) * 100) div {n_hashes} AS INT)").alias(
                "agree_pct"
            ),
        )
    )
