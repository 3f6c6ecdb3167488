"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k per query (the correctness
  baseline) — a broadcast-able cross join + per-row vectorised dot product
  in JVM expressions (zip_with/aggregate; no Python), then a per-query
  window top-k.
- ``lsh_bucketed_topk``: random-hyperplane LSH with Hamming-<=4 multi-probe
  (recall@10 ~0.66 at ~38% scan on the uniform fixture; bucket key
  engine-reproducible, no training state — works on append-only streams).
- ``ivf_topk``: IVF-flat with deterministic centroids — the high-recall ANN
  scale path (recall@10 >= 0.92 on the fixture).
- ``embedding_near_dup``: near-duplicate pairs with cosine >= threshold
  (all-pairs; the small-N exact oracle).
- ``embedding_near_dup_lsh``: the sub-quadratic near-dup scale path.

At 100 TB the brute-force variant broadcasts the (small) query set and
scans the corpus once — linear, shuffle-free except the final top-k
aggregation; the bucketed variants shuffle once on their bucket/cell key.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# THE canonical vector expressions: every similarity operator's oracle
# comparability depends on the exact left-fold shape, so there is exactly
# one definition (functions/columns.py) — not a local copy that could
# silently diverge (review finding).
from ..functions.columns import dot as _dot
from ..functions.columns import norm as _norm


def cosine_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbours for the first ``n_queries`` vectors.

    Returns (query_id, neighbor_id, rank) with rank 1..k, self excluded;
    ties broken by neighbor_id for determinism."""
    # Norms projected once per row, not per (query x corpus) pair —
    # sqrt(dot(a,a)) over the same array is bit-identical either way.
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        _norm(F.col("embedding")).alias("qn"),
    )
    # NOT widened (r6, measured): the n_queries x corpus dot fanout here
    # is only ~10k folds at fixture scale — a widen exchange costs more
    # than the single-task work it spreads (0.44 s -> 0.70 s).
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e"),
        _norm(F.col("embedding")).alias("en"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("q"), F.col("e")) / (F.col("qn") * F.col("en"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


#: embedding_near_dup refuses inputs above this size unless explicitly
#: opted in — the all-pairs crossJoin is O(N^2) rows and exists only as the
#: small-N exact oracle for ``embedding_near_dup_lsh``.
QUADRATIC_GUARD_MAX_ROWS = 50_000


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


def _np_fold_dot(A, B):
    """Row-wise dot products with the exact left-fold IEEE order of
    ``aggregate(zip_with(a,b,x*y), 0.0, acc+v)`` — THE bit-parity
    invariant every Arrow scorer shares; keep exactly one copy."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def _np_fold_norm(A):
    """Row norms with the exact left-fold IEEE order of
    ``sqrt(aggregate(zip_with(a,a,x*y),0.0,acc+v))``."""
    import numpy as np

    return np.sqrt(_np_fold_dot(A, A))


def _np_round_half_up(x, scale: int):
    """Spark's ``round(double, scale)`` in numpy — exact, not
    approximate.  Spark rounds via ``BigDecimal.valueOf(double)``, i.e.
    the SHORTEST-DECIMAL string of the double (Double.toString), THEN
    setScale(HALF_UP) — so 0.1234565 (binary value 0.12345649999...)
    still rounds UP: the tie is judged on the decimal literal, not the
    exact binary expansion.  The fast path here scales by 10^scale in
    float and floors at +0.5; any element whose scaled value lands
    within 1e-6 of a .5 tie (where the float path and the
    shortest-decimal tie rule can disagree) is re-rounded through
    ``decimal.Decimal(repr(x))`` — repr is Python's shortest round-trip
    decimal, the same literal Double.toString yields, and
    ``quantize(.., ROUND_HALF_UP)`` is setScale(HALF_UP) — so boundary
    cases are bit-identical BY CONSTRUCTION, not just empirically
    (pinned in tests/test_arrow_scorer.py on literal .5 ties).  The
    ``+ 0.0`` normalises IEEE -0.0 to +0.0, matching
    BigDecimal.doubleValue()."""
    import decimal

    import numpy as np

    f = 10.0**scale
    y = np.abs(x) * f
    out = np.sign(x) * np.floor(y + 0.5) / f + 0.0
    frac = y - np.floor(y)
    risky = np.isfinite(y) & (np.abs(frac - 0.5) < 1e-6)
    if np.any(risky):
        q = decimal.Decimal(1).scaleb(-scale)
        flat = out.reshape(-1)
        xr = x.reshape(-1)
        for idx in np.flatnonzero(risky.reshape(-1)):
            flat[idx] = float(
                decimal.Decimal(repr(float(xr[idx]))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            ) + 0.0
    return out


def arrow_cosine_scored(
    src: DataFrame,
    tgt: DataFrame,
    id_a: str = "src_id",
    id_b: str = "tgt_id",
) -> DataFrame:
    """All-pairs integer-micro-unit cosines (``id_a``, ``id_b``, cos_u) via
    an Arrow-vectorised block matmul — the fast exact scorer behind
    :func:`bitext_margin_mine`.

    Semantically identical, bit for bit, to the JVM expression form
    ``round(round(dot(ea,eb)/(na*nb), 6) * 1e6, 0)`` with
    ``dot = aggregate(zip_with(a, b, x*y), 0.0, acc+v)`` — but ~9x faster:
    Spark evaluates higher-order-function lambdas INTERPRETED per element
    (measured 7.9 s for 1M x 64-dim pairs at sf0.1; an unrolled 64-term
    codegen expression is worse, 25 s, because the method blows past the
    JIT/codegen size limits), while this path ships each side once over
    Arrow and does the arithmetic in numpy.  Bit-identity is by
    construction, not luck:

    - the dot/norm accumulate as an explicit LEFT FOLD over dimensions
      (``acc = acc + A[:,i]*B[:,i]``), the exact IEEE operation order of
      ``aggregate(zip_with(...))`` — NOT ``np.dot``, whose pairwise/SIMD
      summation differs in ulps;
    - rounding is :func:`_np_round_half_up` — Spark's
      shortest-decimal-literal HALF_UP (BigDecimal.valueOf semantics,
      exact Decimal re-round on .5 boundaries), not numpy's half-even.

    Parity is pinned by tests/test_arrow_scorer.py::test_arrow_scorer_parity
    (every pair equal vs the HOF expression).  Dropped-row contract: NULL
    embeddings, embeddings containing NULL elements, and rows whose
    length differs from the tgt side's first row are dropped on both
    sides — the expression form propagates NULL cos for all of those
    (NULL dot, or zip_with length padding) and every downstream consumer
    filters NULL cos, so the emitted pairs are identical.  The one
    DOCUMENTED DIVERGENCE: embeddings containing a literal NaN float
    (which Arrow makes indistinguishable from a NULL element) got a
    degenerate cos_u=0 from the JVM's NaN->long cast; they are dropped
    here instead.

    EAGER at construction: the tgt side is collected and broadcast when
    the DataFrame is BUILT, not at the first action — the same
    construction-time cost profile as the `_guard_quadratic` count()
    every caller already runs.  Scale shape: this is the
    quadratic-guarded small-N scorer (at corpus scale the ANN family
    supplies shortlists instead); the src side streams through
    mapInPandas in Arrow batches, each task emitting its (batch x tgt)
    score block.  One narrow stage, no shuffle.
    """
    import numpy as np

    _fold_norm = _np_fold_norm
    _round_half_up = _np_round_half_up

    # NULL ELEMENTS inside an array arrive over Arrow as NaN,
    # indistinguishable from a literal NaN float — drop both up front
    # (Spark-side for the src stream, post-collect for tgt).  The
    # expression form gave such pairs NULL cos (every consumer filters
    # those); literal-NaN embeddings got a degenerate 0 from the
    # NaN->long cast — dropping them too is the documented divergence.
    def _clean(side: DataFrame) -> DataFrame:
        return side.filter(
            F.col("embedding").isNotNull()
            & ~F.exists("embedding", lambda x: x.isNull())
        ).select("vec_id", "embedding")

    spark = src.sparkSession
    tgt_rows = _clean(tgt).collect()
    out_schema = f"{id_a} long, {id_b} long, cos_u long"
    tgt_rows = [
        r
        for r in tgt_rows
        if len(r.embedding) and all(v == v for v in r.embedding)
    ]
    if not tgt_rows:
        return spark.createDataFrame([], out_schema)
    # dimension = the first tgt row's; rows of any other length are
    # dropped (the expression form's zip_with padding NULLed their cos)
    dim = len(tgt_rows[0].embedding)
    tgt_rows = [r for r in tgt_rows if len(r.embedding) == dim]
    B = np.array([r.embedding for r in tgt_rows], dtype=np.float64)
    tids = np.array([r.vec_id for r in tgt_rows], dtype=np.int64)
    order = np.argsort(tids)
    B, tids = B[order], tids[order]
    nb = _fold_norm(B)
    if np.any(nb == 0.0):
        # ANSI parity: the JVM expression form raises DIVIDE_BY_ZERO on a
        # zero-norm vector (Spark 4 ANSI division); so do we, eagerly.
        raise ArithmeticError(
            "[DIVIDE_BY_ZERO] zero-norm embedding in tgt side "
            f"(vec_id={int(tids[np.argmax(nb == 0.0)])}): cosine undefined"
        )
    bc = spark.sparkContext.broadcast((tids, B, nb))

    def score_blocks(it):
        tids_, B_, nb_ = bc.value
        d = B_.shape[1]
        for pdf in it:
            if not len(pdf):
                continue
            embs = pdf["embedding"].tolist()
            ids = pdf["vec_id"].to_numpy(np.int64)
            keep = [
                i
                for i, e in enumerate(embs)
                if len(e) == d and not np.isnan(e).any()
            ]
            if not keep:
                continue
            A = np.array([embs[i] for i in keep], dtype=np.float64)
            sids = ids[keep]
            na = _fold_norm(A)
            if np.any(na == 0.0):
                # ANSI parity: the JVM expression form raises
                # DIVIDE_BY_ZERO on a zero-norm vector (Spark 4 ANSI).
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding in src side "
                    f"(vec_id={int(sids[np.argmax(na == 0.0)])}): "
                    "cosine undefined"
                )
            # the (batch x tgt) BLOCK form of _np_fold_dot's left fold —
            # same IEEE accumulation order per pair, outer-product shaped
            acc = np.zeros((A.shape[0], B_.shape[0]))
            for i in range(d):  # left fold == aggregate(zip_with(...))
                acc = acc + A[:, i : i + 1] * B_[None, :, i]
            C = acc / (na[:, None] * nb_[None, :])
            cos_u = _round_half_up(_round_half_up(C, 6) * 1e6, 0).astype(
                np.int64
            )
            yield pd.DataFrame(
                {
                    id_a: np.repeat(sids, len(tids_)),
                    id_b: np.tile(tids_, len(sids)),
                    "cos_u": cos_u.ravel(),
                }
            )

    # the src side streams through a CPU-bound Arrow stage: spread a
    # single-split scan across the cluster first (identity at real scale)
    from ..plans.partitioning import widen_small_scan

    return widen_small_scan(_clean(src), "vec_id").mapInPandas(score_blocks, out_schema)


def embedding_near_dup(
    embeddings: DataFrame, threshold: float = 0.8, allow_quadratic: bool = False
) -> DataFrame:
    """Pairs (vec_a < vec_b) with rounded cosine >= threshold.

    All-pairs: the small-N exact oracle for ``embedding_near_dup_lsh``.
    Inputs above ``QUADRATIC_GUARD_MAX_ROWS`` raise unless
    ``allow_quadratic=True``.

    Scoring runs on :func:`arrow_cosine_scored` (bit-identical to the
    JVM ``round(dot/(na*nb), 6)`` crossJoin form it replaced, ~9x faster
    per pair — see the scorer's contract).  ``cos_u / 1e6`` recovers the
    6-decimal rounded cosine EXACTLY: ``round(x, 6)`` yields the double
    nearest to the decimal m/10^6, the micro-unit snap yields that same
    integer m (y*1e6 lands within ~1e-4 of m, never on a .5 tie), and
    IEEE division m/1e6 is correctly rounded — the nearest double to
    m/10^6 again.  Pinned pair-for-pair vs the crossJoin expression in
    tests/test_arrow_scorer.py::test_embedding_near_dup_arrow_parity."""
    _guard_quadratic(
        embeddings, QUADRATIC_GUARD_MAX_ROWS, allow_quadratic, "embedding_near_dup_lsh"
    )
    return (
        arrow_cosine_scored(embeddings, embeddings, "vec_a", "vec_b")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (F.col("cos_u") / F.lit(1e6)).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.8,
    dims: tuple[int, ...] = (0, 7, 21, 42),
) -> DataFrame:
    """Sub-quadratic near-duplicate pairs: sign-bucket LSH with Hamming-1
    multi-probe, cosine computed only inside candidate buckets.

    Candidate rule: two vectors are compared iff their sign buckets differ in
    at most ONE of the ``dims`` bits (multi-probe widens recall beyond exact
    bucket equality).  One side explodes its bucket into the |dims|+1 probe
    keys and the pair generation is a plain equi-join on the probe key —
    shuffle-partitioned by bucket, O(sum of bucket_size * probes) work, never
    the all-pairs crossJoin of ``embedding_near_dup`` (kept as the small-N
    exact oracle).  At 100 TB, add bits to ``dims`` to keep buckets bounded.
    """
    # Candidate scoring: cogrouped per-bucket BLOCK matmul (guide §2.3 /
    # §8 — shuffle the lightweight proxy, not the payload).  The old shape
    # was an equi-join on the probe key that MATERIALISED every candidate
    # pair row carrying BOTH 64-dim embeddings (624k pairs x 2 vectors
    # ~160 MB through the exchange and Arrow) before the per-pair scorer.
    # Cogrouping left-by-bucket with right-by-probe ships each vector ONCE
    # per probe key (|dims|+1 rows/vector, ~12k rows at sf0.1) and scores
    # each bucket as one numpy block — the same candidate set (a pair at
    # Hamming distance <= 1 meets in exactly one probe group, with
    # vec_a < vec_b applied inside the block), the same cos bits (the
    # batched left fold of arrow_cosine_scored + _np_round_half_up), and
    # the same sub-quadratic bucket complexity.  Measured 6.2 s -> ~1 s
    # at sf0.1; parity pinned in tests/test_arrow_scorer.py.
    b = embeddings.select(
        "vec_id",
        "embedding",
        sign_bucket(F.col("embedding"), dims).alias("bucket"),
    )
    left = b.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket")
    probe_keys = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(len(dims))]
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.explode(probe_keys).alias("probe"),
    )
    pairs = _cogroup_block_cosine(
        left, right, "bucket", "probe", "vec_a", "ea", "vec_b", "eb", scale=6
    )
    return pairs.filter(F.col("cos") >= threshold)


def _cogroup_block_cosine(
    left: DataFrame,
    right: DataFrame,
    lkey: str,
    rkey: str,
    lid: str,
    lemb: str,
    rid: str,
    remb: str,
    scale: int = 6,
    require_lt: bool = True,
) -> DataFrame:
    """(lid, rid, cos) for every candidate pair meeting on lkey == rkey,
    scored as per-group numpy blocks — the cogrouped form of
    :func:`pair_cosine` over a bucket equi-join, bit-identical per pair:

    - validity mirrors pair_cosine: rows with NULL embeddings, NULL/NaN
      elements or empty vectors are dropped (their pairs were NULL cos,
      filtered by every consumer); pairs of unequal dimension score only
      against same-dimension partners (zip_with padding NULLed them);
    - the dot/norm accumulate as the batched LEFT FOLD over dimensions
      (``acc = acc + A[:, i:i+1] * B[None, :, i]`` — the identical IEEE
      operation sequence per pair as ``_np_fold_dot``);
    - rounding is :func:`_np_round_half_up`; a zero-norm valid vector
      raises like ANSI division (DIVIDE_BY_ZERO).

    ``require_lt`` keeps only lid < rid pairs (the near-dup convention).
    """
    import numpy as np

    out_schema = f"{lid} long, {rid} long, cos double"
    _fold_norm = _np_fold_norm
    _round = _np_round_half_up

    def _clean(ids, embs):
        keep_rows = []
        arrs = []
        for i, e in enumerate(embs):
            if e is None:
                continue
            a = np.asarray(e, dtype=np.float64)
            if a.ndim != 1 or a.shape[0] == 0 or np.isnan(a).any():
                continue
            keep_rows.append(i)
            arrs.append(a)
        return np.asarray(ids, dtype=np.int64)[keep_rows], arrs

    def score(lpdf, rpdf):
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({lid: [], rid: [], "cos": []})
        lids, la = _clean(lpdf[lid].to_numpy(), lpdf[lemb].tolist())
        rids, ra = _clean(rpdf[rid].to_numpy(), rpdf[remb].tolist())
        out_a, out_b, out_c = [], [], []
        # score same-dimension sub-blocks only (unequal-length pairs were
        # NULL under zip_with padding and are dropped by every consumer)
        ldims = np.array([a.shape[0] for a in la]) if la else np.array([], dtype=int)
        rdims = np.array([a.shape[0] for a in ra]) if ra else np.array([], dtype=int)
        for d in np.intersect1d(np.unique(ldims), np.unique(rdims)):
            li = np.flatnonzero(ldims == d)
            ri = np.flatnonzero(rdims == d)
            A = np.stack([la[i] for i in li])
            B = np.stack([ra[i] for i in ri])
            ida, idb = lids[li], rids[ri]
            na = _fold_norm(A)
            nb = _fold_norm(B)
            if np.any(na == 0.0) or np.any(nb == 0.0):
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding: cosine undefined"
                )
            acc = np.zeros((A.shape[0], B.shape[0]))
            for i in range(int(d)):  # left fold == aggregate(zip_with(...))
                acc = acc + A[:, i : i + 1] * B[None, :, i]
            C = _round(acc / (na[:, None] * nb[None, :]), scale)
            mask = (
                ida[:, None] < idb[None, :]
                if require_lt
                else np.ones_like(C, dtype=bool)
            )
            if mask.any():
                out_a.append(np.repeat(ida, len(idb))[mask.ravel()])
                out_b.append(np.tile(idb, len(ida))[mask.ravel()])
                out_c.append(C.ravel()[mask.ravel()])
        if not out_a:
            return pd.DataFrame({lid: [], rid: [], "cos": []})
        return pd.DataFrame(
            {
                lid: np.concatenate(out_a),
                rid: np.concatenate(out_b),
                "cos": np.concatenate(out_c),
            }
        )

    return (
        left.groupby(lkey)
        .cogroup(right.groupby(rkey))
        .applyInPandas(lambda lp, rp: score(lp, rp), out_schema)
    )


def _centroid_assign(
    embeddings: DataFrame, cent_rows: list, scale: int = 9
) -> DataFrame:
    """(vec_id, embedding, cluster, csim): every vector's most-cosine-
    similar centroid from a collected centroid row list — the Arrow block
    form of ``crossJoin(broadcast(cent)) + pair_cosine + argmin window``,
    bit-identical winner by construction:

    - per-pair cos bits match :func:`pair_cosine` (same left-fold
      accumulation, same HALF_UP shortest-decimal rounding);
    - centroids are scanned in ascending-cid order and ``np.argmax``
      returns the FIRST maximum, which is exactly ``row_number() over
      (csim desc nulls-last, cid asc) == 1``;
    - validity mirrors pair_cosine: an invalid vector (NULL / empty /
      NaN element) or an invalid centroid scores NULL, a vector whose
      dimension differs from a centroid's scores NULL against it, and a
      row with NO scoreable centroid takes the lowest cid with csim
      NULL (the window's nulls-last order did the same);
    - an empty centroid list yields no rows at all (the cross join had
      no pairs to rank);
    - a zero-norm VALID vector or centroid raises like ANSI division
      wherever a pair would have been scored.
    """
    import numpy as np

    spark = embeddings.sparkSession
    fold_norm = _np_fold_norm
    rnd = _np_round_half_up

    cids = np.array([r.cid for r in cent_rows], dtype=np.int64)
    order = np.argsort(cids)
    cids = cids[order]
    ces = [cent_rows[i].ce for i in order]
    cvalid, carrs = [], []
    for e in ces:
        a = None if e is None else np.asarray(e, dtype=np.float64)
        ok = a is not None and a.ndim == 1 and a.shape[0] > 0 and not np.isnan(a).any()
        cvalid.append(ok)
        carrs.append(a if ok else None)
    cvalid = np.array(cvalid) if cvalid else np.zeros(0, dtype=bool)
    for ok, a in zip(cvalid, carrs):
        if ok and fold_norm(a[None, :])[0] == 0.0:
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] zero-norm embedding: cosine undefined"
            )
    bc = spark.sparkContext.broadcast((cids, cvalid, carrs))

    def gen(it):
        cids, cvalid, carrs = bc.value
        nc = len(cids)
        cdims = np.array([(a.shape[0] if a is not None else -1) for a in carrs])
        for pdf in it:
            n = len(pdf)
            if not n or not nc:
                # no centroid: no (vector, centroid) pair, so no member row,
                # as the crossJoin(broadcast(cent)) form gave
                continue
            embs = pdf["embedding"].tolist()
            rvalid = np.zeros(n, dtype=bool)
            rarr = [None] * n
            for i, e in enumerate(embs):
                if e is None:
                    continue
                a = np.asarray(e, dtype=np.float64)
                if a.ndim != 1 or a.shape[0] == 0 or np.isnan(a).any():
                    continue
                rvalid[i] = True
                rarr[i] = a
            best_cid = np.full(n, cids[0], dtype=np.int64)
            best_cs = np.full(n, np.nan)
            rdims = np.array([(a.shape[0] if a is not None else -1) for a in rarr])
            for d in np.unique(rdims[rvalid]) if rvalid.any() else []:
                ri = np.flatnonzero(rvalid & (rdims == d))
                ci = np.flatnonzero(cvalid & (cdims == d))
                if not len(ri):
                    continue
                A = np.stack([rarr[i] for i in ri])
                na = fold_norm(A)
                if np.any(na == 0.0) and len(ci):
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero-norm embedding: cosine undefined"
                    )
                if not len(ci):
                    continue
                B = np.stack([carrs[i] for i in ci])
                nb = fold_norm(B)
                acc = np.zeros((len(ri), len(ci)))
                for t in range(int(d)):  # left fold == aggregate(zip_with(...))
                    acc = acc + A[:, t : t + 1] * B[None, :, t]
                C = rnd(acc / (na[:, None] * nb[None, :]), scale)
                j = np.argmax(C, axis=1)  # first max = lowest cid (sorted)
                best_cid[ri] = cids[ci][j]
                best_cs[ri] = C[np.arange(len(ri)), j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": embs,
                    "cluster": best_cid,
                    "csim": pd.array(best_cs, dtype="Float64"),
                }
            )

    from ..plans.partitioning import widen_small_scan

    return (
        widen_small_scan(embeddings, "vec_id")
        .select("vec_id", "embedding")
        .mapInPandas(
            gen, "vec_id long, embedding array<double>, cluster long, csim double"
        )
    )


def _cluster_drop_ids(ranked: DataFrame, tau: float, scale: int = 9) -> DataFrame:
    """SemDeDup's within-cluster drop set as one numpy block per cluster:
    input (cluster, rank, vec_id, embedding); output (vec_id) — every
    member for which some LOWER-ranked member of the same cluster scores
    ``cos >= tau``.  Pair-for-pair bit-identical to filtering
    ``pair_cosine(scale)(e_a, e_b) >= tau`` over the rank_a < rank_b
    self-join (see :func:`_cogroup_block_cosine` for the shared invariants:
    left-fold accumulation order, HALF_UP shortest-decimal rounding,
    validity cleaning, per-dimension sub-blocks, zero-norm ANSI raise) —
    but each embedding crosses the Arrow boundary once per cluster
    instead of once per pair, and only dropped ids come back."""
    import numpy as np

    _fold_norm = _np_fold_norm
    _round = _np_round_half_up

    def drop(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        ids = pdf["vec_id"].to_numpy()
        ranks = pdf["rank"].to_numpy()
        keep_rows, arrs = [], []
        for i, e in enumerate(pdf["embedding"].tolist()):
            if e is None:
                continue
            a = np.asarray(e, dtype=np.float64)
            if a.ndim != 1 or a.shape[0] == 0 or np.isnan(a).any():
                continue
            keep_rows.append(i)
            arrs.append(a)
        if len(keep_rows) < 2:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        ids = np.asarray(ids, dtype=np.int64)[keep_rows]
        ranks = np.asarray(ranks)[keep_rows]
        dims = np.array([a.shape[0] for a in arrs])
        dropped = []
        for d in np.unique(dims):
            sel = np.flatnonzero(dims == d)
            if sel.size < 2:
                continue  # no same-dim pair: the pair form scores all NULL
            A = np.stack([arrs[i] for i in sel])
            na = _fold_norm(A)
            # the pair form evaluates every same-dim rank_a<rank_b pair, so
            # any valid zero-norm member of a multi-member block raised
            if np.any(na == 0.0):
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding: cosine undefined"
                )
            acc = np.zeros((A.shape[0], A.shape[0]))
            for i in range(int(d)):  # left fold == aggregate(zip_with(...))
                acc = acc + A[:, i : i + 1] * A[None, :, i]
            C = _round(acc / (na[:, None] * na[None, :]), scale)
            r = ranks[sel]
            hit = (r[:, None] < r[None, :]) & (C >= tau)
            dropped.append(ids[sel][hit.any(axis=0)])
        out = np.concatenate(dropped) if dropped else np.array([], dtype=np.int64)
        return pd.DataFrame({"vec_id": out})

    return ranked.groupBy("cluster").applyInPandas(drop, "vec_id long")


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    min_margin: float | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix parallel-corpus miner): for every src vector, the tgt
    vector maximising the RATIO margin
    ``cos(x,y) / ((knn_mean(x) + knn_mean(y)) / 2)`` — raw cosine retrieves
    hubs (vectors close to everything); dividing by the average of each
    side's k-NN neighbourhood density is what makes mined pairs actually
    parallel.  Returns (src_id, tgt_id, cos, margin), one row per src
    (ties -> lowest tgt_id), optionally thresholded on margin.

    Determinism across engines: cosines are snapped to integer MICRO-UNITS
    (round(cos*1e6) as long) BEFORE the neighbourhood sums, so the k-NN
    means are exact integer arithmetic — no float-summation-order
    divergence between Spark's and an oracle's aggregation.

    Plan: the cross-score runs as the Arrow block matmul
    (:func:`arrow_cosine_scored` — broadcast tgt, one narrow src stage,
    bit-identical to the JVM expression form and ~9x faster); rank +
    neighbourhood-sum run as window pairs over the src then tgt hash
    distributions (2 exchanges), and the final per-src argmax reuses the
    src distribution.  This is the exact small-N scorer
    (quadratic-guarded like its siblings): at corpus scale the (x, y)
    candidate set comes from the ANN family
    (``ivf_topk``/``lsh_bucketed_topk`` shortlists) instead of a
    crossJoin — the margin math downstream is unchanged.
    """
    _guard_quadratic(src, QUADRATIC_GUARD_MAX_ROWS, allow_quadratic, "ivf_topk")
    _guard_quadratic(tgt, QUADRATIC_GUARD_MAX_ROWS, allow_quadratic, "ivf_topk")
    scored = arrow_cosine_scored(src, tgt)
    rank_x = Window.partitionBy("src_id").orderBy(
        F.col("cos_u").desc(), F.col("tgt_id").asc()
    )
    part_x = Window.partitionBy("src_id")
    rank_y = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_u").desc(), F.col("src_id").asc()
    )
    part_y = Window.partitionBy("tgt_id")
    in_topk_x = F.when(F.col("rx") <= k, F.col("cos_u"))
    in_topk_y = F.when(F.col("ry") <= k, F.col("cos_u"))
    t = (
        scored.withColumn("rx", F.row_number().over(rank_x))
        .withColumn("sx", F.sum(in_topk_x).over(part_x))
        .withColumn("cx", F.count(in_topk_x).over(part_x))
        .withColumn("ry", F.row_number().over(rank_y))
        .withColumn("sy", F.sum(in_topk_y).over(part_y))
        .withColumn("cy", F.count(in_topk_y).over(part_y))
    )
    denom = (F.col("sx") / F.col("cx") + F.col("sy") / F.col("cy")) / F.lit(2.0)
    t = t.select(
        "src_id",
        "tgt_id",
        F.round(F.col("cos_u") / F.lit(1e6), 6).alias("cos"),
        F.when(denom > 0, F.round(F.col("cos_u") / denom, 6)).alias("margin"),
    ).filter(F.col("margin").isNotNull())
    best = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    out = (
        t.withColumn("rb", F.row_number().over(best))
        .filter(F.col("rb") == 1)
        .drop("rb")
    )
    if min_margin is not None:
        out = out.filter(F.col("margin") >= min_margin)
    return out


def pair_cosine(scale: int = 6):
    """Arrow-vectorised rounded cosine over ROW-ALIGNED embedding pairs —
    the fast exact scorer for candidate-pair frames (bucket-join slivers,
    LSH shortlists), where :func:`arrow_cosine_scored`'s broadcast
    block-matmul shape doesn't apply because the pairs are arbitrary.

    Returns a pandas UDF ``(array, array) -> double`` bit-identical to
    ``round(dot(a,b)/(norm(a)*norm(b)), scale)`` in the JVM expression
    form: the dot and norms accumulate as the same left fold over
    dimensions (:func:`_np_fold_dot` — the one shared copy of the
    IEEE-order-critical loop), the rounding is :func:`_np_round_half_up`
    (BigDecimal HALF_UP incl. the exact Decimal boundary path), a
    zero-norm vector raises like ANSI division, and NULL comes back
    where the HOF dot gave NULL: whole-NULL sides, pairs of unequal
    length (zip_with padding), and pairs containing a NULL element.
    The one DOCUMENTED DIVERGENCE: a literal NaN float (Arrow makes it
    indistinguishable from a NULL element) produced cos=NaN in the JVM
    form — and Spark evaluates ``NaN >= threshold`` as TRUE, so such
    garbage pairs were EMITTED by the predicates; here they are NULL
    and filtered.  Spark evaluates HOF lambdas interpreted (~7 µs/pair
    measured); this ships the pair frame once over Arrow and does the
    arithmetic vectorised.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        # FAST PATH (the common shape by far): every row non-NULL and the
        # same dimension on both sides.  np.stack raises on None/ragged
        # input, falling back to the per-row path below — so the batch
        # either vectorises fully (one C-level stack + the same batched
        # left fold as arrow_cosine_scored) or is handled row-wise with
        # identical semantics.  Measured 6.2 s -> ~2 s on the 624k-pair
        # LSH candidate sliver at sf0.1: the old path paid ~8 µs/pair in
        # per-row list conversion and validity checks.
        try:
            A = np.stack(a.to_numpy())
            B = np.stack(b.to_numpy())
            if A.ndim != 2 or B.ndim != 2 or A.shape != B.shape or A.shape[1] == 0:
                raise ValueError("ragged")
            A = A.astype(np.float64, copy=False)
            B = B.astype(np.float64, copy=False)
        except Exception:
            pass
        else:
            valid = ~(np.isnan(A).any(axis=1) | np.isnan(B).any(axis=1))
            na = _np_fold_norm(A)
            nb = _np_fold_norm(B)
            if np.any(valid & ((na == 0.0) | (nb == 0.0))):
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm embedding: cosine undefined"
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _np_round_half_up(_np_fold_dot(A, B) / (na * nb), scale)
            out = pd.array(cos, dtype="Float64")
            out[~valid] = pd.NA
            return pd.Series(out)
        al = [None if x is None else np.asarray(x, dtype=np.float64) for x in a]
        bl = [None if x is None else np.asarray(x, dtype=np.float64) for x in b]
        valid = np.array(
            [
                x is not None
                and y is not None
                and len(x) == len(y)
                and len(x) > 0
                and not np.isnan(x).any()
                and not np.isnan(y).any()
                for x, y in zip(al, bl)
            ]
        )
        out = pd.array([pd.NA] * len(a), dtype="Float64")
        if valid.any():
            idx = np.flatnonzero(valid)
            # group by dimension so mixed-length batches still vectorise
            by_dim: dict = {}
            for i in idx:
                by_dim.setdefault(len(al[i]), []).append(i)
            for d, rows in by_dim.items():
                A = np.array([al[i] for i in rows], dtype=np.float64)
                B = np.array([bl[i] for i in rows], dtype=np.float64)
                na = _np_fold_norm(A)
                nb = _np_fold_norm(B)
                if np.any(na == 0.0) or np.any(nb == 0.0):
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero-norm embedding: cosine undefined"
                    )
                out[np.array(rows)] = _np_round_half_up(
                    _np_fold_dot(A, B) / (na * nb), scale
                )
        return pd.Series(out)

    return _cos


def embedding_index(
    embeddings: DataFrame, dims: tuple[int, ...] = (0, 7, 21, 42)
) -> DataFrame:
    """The persisted near-dup side table for ``incremental_embedding_dedup``
    — (vec_id, bucket, embedding) of the committed corpus.  Exactly what
    the minhash band index is for text (``dedup.minhash_bands``): commit
    it next to the results and append each batch's surviving rows."""
    return embeddings.select(
        "vec_id",
        sign_bucket(F.col("embedding"), dims).alias("bucket"),
        "embedding",
    )


def incremental_embedding_dedup(
    new_embeddings: DataFrame,
    committed_index: DataFrame,
    threshold: float = 0.85,
    dims: tuple[int, ...] = (0, 7, 21, 42),
):
    """Incremental EMBEDDING near-dup dedup — the third member of the
    incremental family (exact fingerprints: ``bloom_incremental_dedup``;
    text shingles: ``incremental_minhash_dedup``; semantic vectors: this):
    drop each new vector that is cosine-similar to the COMMITTED corpus
    (via its persisted sign-bucket index) or to a smaller-id sibling of
    its own batch.

    The committed corpus is never rescanned in full and never re-hashed:
    the batch computes its buckets ONCE (work proportional to the batch),
    explodes its Hamming<=1 probe keys, and candidates come from an
    equi-join against the index's bucket key; the exact cosine runs only
    on that candidate sliver.  Each committed bucket at Hamming distance
    <= 1 matches exactly ONE probe key, so no pair dedup is needed.

    Drop rule (deterministic greedy, mirroring the minhash contract): a
    new vector drops iff some probe-bucket candidate with rounded cosine
    >= ``threshold`` is committed or has a smaller vec_id within the
    batch.  Returns (survivors, new_index_rows) — append the latter to
    the side table to commit the increment.

    At 100 TB: widen ``dims`` to keep buckets bounded; the join key is
    the bucket int, so adding bits re-partitions for free.
    """
    nb = embedding_index(new_embeddings, dims)
    probe_keys = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(len(dims))],
    )
    probed = nb.select(
        F.col("vec_id"),
        F.col("embedding").alias("ne"),
        F.explode(probe_keys).alias("probe"),
    )

    # Candidate-sliver scoring runs on the cogrouped per-bucket block
    # scorer (guide §2.3/§8 — candidates meet on the bucket key and each
    # vector ships ONCE per probe key instead of once per candidate
    # pair): same candidate set, same cos bits as the pair scorer it
    # replaces (see _cogroup_block_cosine's contract +
    # tests/test_arrow_scorer.py).
    vs_committed = (
        _cogroup_block_cosine(
            probed.select("vec_id", F.col("ne").alias("e"), "probe"),
            committed_index.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("ce"),
                "bucket",
            ),
            "probe", "bucket", "vec_id", "e", "c_id", "ce",
            require_lt=False,
        )
        .where(F.col("cos") >= threshold)
        .select("vec_id")
    )
    vs_batch = (
        _cogroup_block_cosine(
            nb.select(F.col("vec_id").alias("k_id"), F.col("embedding").alias("ke"), "bucket"),
            probed.select("vec_id", F.col("ne").alias("e"), "probe"),
            "bucket", "probe", "k_id", "ke", "vec_id", "e",
            require_lt=True,
        )
        .where(F.col("cos") >= threshold)
        .select("vec_id")
    )
    dropped = vs_committed.unionByName(vs_batch).distinct()
    survivors = new_embeddings.join(dropped, "vec_id", "left_anti")
    new_index_rows = nb.join(dropped, "vec_id", "left_anti")
    return survivors, new_index_rows


def sign_bucket(embedding, dims: tuple[int, ...] = (0, 7, 21, 42)) -> F.Column:
    """Coarse LSH bucket: sign bits of selected components packed to an int.

    A tiny, reproducible stand-in for random-hyperplane LSH (the hyperplanes
    are axis-aligned); recall grows with multi-probe over adjacent buckets."""
    key = F.lit(0)
    for i, d in enumerate(dims):
        key = key + F.when(F.element_at(embedding, d + 1) >= 0, F.lit(1 << i)).otherwise(0)
    return key


def lsh_hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5 bits.

    Engine-independent by construction: the very same literal arrays are
    embedded into the DuckDB oracle SQL (``api.py`` builds the SQL from
    this function), so both engines compute identical sign bits."""
    import hashlib

    planes = []
    for j in range(n_planes):
        bits: list[float] = []
        c = 0
        while len(bits) < dim:
            h = hashlib.md5(f"lshplane-{j}-{c}".encode()).digest()
            for byte in h:
                for kbit in range(8):
                    bits.append(1.0 if (byte >> kbit) & 1 else -1.0)
            c += 1
        planes.append(bits[:dim])
    return planes


def hyperplane_bucket(embedding, planes: list[list[float]]) -> F.Column:
    """LSH bucket: sign bits of the dot products with ±1 hyperplanes,
    packed to an int.  Left-fold aggregate keeps the summation order
    identical to the oracle's list_dot_product, so the sign decision can
    never diverge between engines.

    MEASURED NEGATIVE RESULT (round 4, don't redo): expanding the dots
    into explicit element_at arithmetic (640 codegen'd multiply-adds, no
    HOF) is 4x SLOWER than this fold (3.4 s vs 0.84 s at sf0.1/local[8])
    — the expression tree defeats whole-stage codegen; the interpreted
    HOF is the fast form here."""
    key = F.lit(0)
    for i, p in enumerate(planes):
        dot = _dot(F.col(embedding) if isinstance(embedding, str) else embedding,
                   F.array(*[F.lit(x) for x in p]))
        key = key + F.when(dot >= 0, F.lit(1 << i)).otherwise(0)
    return key


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks over ``n_planes`` bits with popcount <= radius — the
    multi-probe key set.  Each corpus bucket at Hamming distance h <= radius
    from a query matches exactly ONE mask (the one flipping the differing
    bits), so the probe join needs no pair dedup."""
    return [m for m in range(1 << n_planes) if bin(m).count("1") <= radius]


def lsh_bucketed_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 10,
    radius: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with Hamming-<=radius
    multi-probe (VERDICT r3 #2 — the old 4-bit axis-sign/Hamming-1 variant
    measured recall@10 = 0.36; this one measures 0.66 mean / 0.74 on the
    driver queries at a 38% corpus scan on the worst-case uniform fixture,
    and real clustered embeddings do better at the same settings).

    Scale shape: the QUERY side explodes into the C(b,<=r) probe keys
    (10 planes / radius 4 -> 386 keys per query) and broadcasts; the corpus
    computes its bucket once and is joined by a plain equi-join on the key
    — the corpus is never exploded or shuffled (the old code amplified the
    CORPUS |dims|+1x, which at 100 TB is the wrong side).  ``dim`` must
    equal the embedding length.  Cosines round to 9 decimals before
    ranking so summation-order noise can't flip an argmax between engines.

    For maximum recall per scanned byte use ``ivf_topk`` (0.94 on the same
    fixture); this operator is the no-training alternative whose bucket is
    a pure per-row expression — no centroid table to maintain, so it works
    on an append-only stream without re-clustering."""
    planes = lsh_hyperplanes(n_planes, dim)
    from ..plans.partitioning import widen_small_scan

    # the bucket/norm folds are interpreted per element — spread a
    # single-split scan across the cluster first (identity at real scale)
    embeddings = widen_small_scan(embeddings, "vec_id")
    # Norms are one per-row projection on each side — inside the scored
    # select they would re-run the O(dim) aggregate per (probe x bucket
    # occupancy) candidate.  Bit-identical wherever evaluated.
    with_bucket = embeddings.withColumn(
        "bucket", hyperplane_bucket(F.col("embedding"), planes)
    ).withColumn("nrm", _norm(F.col("embedding")))
    queries = with_bucket.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qb"),
    )
    masks = probe_masks(n_planes, radius)
    qprobes = queries.select(
        "query_id",
        "q",
        "qn",
        F.explode(
            F.array(*[F.col("qb").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("probe"),
    )
    scored = (
        F.broadcast(qprobes)
        .join(with_bucket, F.col("probe") == F.col("bucket"))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("q"), F.col("embedding")) / (F.col("qn") * F.col("nrm")),
                9,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 12,
) -> DataFrame:
    """IVF-flat approximate top-k: the high-recall ANN scale path.

    Inverted-file index with deterministic HASH-SAMPLED centroids: the
    ``n_centroids`` vectors with the smallest ``md5(vec_id)`` (no training
    loop, reproducible in any engine, and — unlike first-N-by-id, which
    inherits whatever correlation the id order carries — a uniform draw from
    the corpus distribution, so cells stay balanced under skewed/sorted
    ingestion; VERDICT r2 #5).  Every vector is assigned to its
    most-cosine-similar centroid (one broadcast of the tiny centroid table +
    a narrow argmax); a query scans only the vectors of its ``nprobe``
    closest cells.

    Recall is DATA-DEPENDENT and the synthetic fixture is the worst case:
    near-uniform random unit vectors (mean pairwise cos ~0, no cluster
    structure), where any space partition spreads a query's true neighbours
    across many cells.  Measured on it (fair centroids — note round 2's
    1.0 recall was an artifact: first-N-by-id centroids made every query
    vector its own centroid): nprobe/16 = 5 -> recall 0.60, 8 -> 0.76,
    10 -> 0.88, 12 -> 0.94 (sf0.1), and a 5-iteration Lloyd refinement adds
    only +0.02..0.06, so the default is nprobe=12 and k-means is left out.
    On real clustered embeddings the usual ~nprobe/n_centroids scan fraction
    reaches the same recall far cheaper; tune (n_centroids, nprobe) per
    corpus — the plan shape does not change.
    At 100 TB the assignment is one broadcast join + per-row argmax (narrow)
    and the candidate scan shuffles once on cell id; cell balance is audited
    in tests (hash-sampled centroids keep max cell <= 4x mean here).

    Cosines are rounded to 9 decimals before ranking so float summation-order
    noise can never flip an argmax between engines (ties then break by id).
    """
    # TakeOrdered over the hash — a top-k, never a full sort; the centroid
    # table is tiny and broadcast.  Oracle replay: ORDER BY md5(vec_id::text).
    cent = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            _norm(F.col("embedding")).alias("cn"),
        )
    )
    # Row norm computed ONCE per vector, not per (vector x centroid) pair
    # nor per candidate — sqrt(dot(a,a)) is bit-identical wherever run.
    # The norm + k-way assignment folds are interpreted per element —
    # spread a single-split scan first (identity at real scale).
    from ..plans.partitioning import widen_small_scan

    with_norm = widen_small_scan(embeddings, "vec_id").withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    sims = (
        with_norm.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "cid",
            F.round(
                _dot(F.col("embedding"), F.col("ce")) / (F.col("nrm") * F.col("cn")),
                9,
            ).alias("sim"),
        )
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid").asc())
    ranked = sims.withColumn("rn", F.row_number().over(w_assign))
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "nrm", F.col("cid").alias("cell")
    )
    qprobe = ranked.filter((F.col("vec_id") < n_queries) & (F.col("rn") <= nprobe)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qn"),
        F.col("cid").alias("cell"),
    )
    # cells are disjoint (top-1 assignment), so a candidate appears at most
    # once per query even when the query probes several cells
    scored = (
        F.broadcast(qprobe)
        .join(cells, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("q"), F.col("embedding")) / (F.col("qn") * F.col("nrm")),
                9,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def semdedup(
    embeddings: DataFrame,
    n_centroids: int = 16,
    tau: float = 0.2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space — cluster the corpus, then inside
    each cluster drop every example whose cosine similarity to a
    better-ranked cluster member reaches ``tau``.

    Published rule, made engine-deterministic:

    1. Cluster: the paper uses k-means; this uses the same deterministic
       hash-sampled centroids as ``ivf_topk`` (smallest ``md5(vec_id)``) so
       any engine replays the assignment bit-for-bit.  Every vector joins
       its most-cosine-similar centroid — ONE broadcast of the tiny
       centroid table + a per-row argmax, no iteration, no training state.
    2. Rank within a cluster by similarity to the centroid ASCENDING
       (vec_id breaks ties): the paper keeps the example FARTHEST from the
       centroid out of each duplicate group ("keep outliers"), so the
       farthest member ranks first.
    3. Drop a member iff some lower-ranked (more-outlying) member of the
       same cluster has cosine >= ``tau`` with it.  Survivors are returned
       with their cluster id.

    Scale shape (100 TB): centroid assignment is broadcast + narrow argmax;
    members shuffle ONCE on the cluster id; the pairwise stage is quadratic
    only WITHIN a cluster — total work O(N^2 / k) by design (the published
    algorithm's own complexity), so k grows with the corpus to hold the
    per-cluster candidate set constant; cell balance under hash-sampled
    centroids is audited in tests (max cell <= 4x mean on the fixture).

    Cosines are rounded to 9 decimals before any comparison or ranking so
    float summation-order noise can never flip a rank or a tau test
    between engines (same policy as ``ivf_topk``).
    """
    # Assignment runs as ONE narrow Arrow block stage (r6): the earlier
    # crossJoin(broadcast(cent)) + pair_cosine + row_number-over-vec_id
    # form materialised n_centroids pair rows per vector and paid a
    # vec_id window exchange just to take an argmax; the kernel scores
    # each Arrow batch against the broadcast centroid block and emits the
    # winning (cluster, csim) directly — zero exchanges, bit-identical
    # winners (same cos bits as pair_cosine, argmax == row_number over
    # (csim desc nulls-last, cid asc) because centroids are scanned in
    # ascending-cid order and np.argmax takes the first maximum).  The
    # centroid collect at construction is the same eager cost profile as
    # arrow_cosine_scored's broadcast (documented there).
    cent_rows = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
        .collect()
    )
    members = _centroid_assign(embeddings, cent_rows, scale=9)
    # paper: keep the member farthest from the centroid -> rank ascending
    w_rank = Window.partitionBy("cluster").orderBy(F.col("csim").asc(), F.col("vec_id").asc())
    ranked = members.withColumn("rank", F.row_number().over(w_rank))
    # within-cluster pairs only, scored as ONE numpy block per cluster
    # (guide §2.3/§8: the self-join form materialised every rank_a <
    # rank_b pair row carrying BOTH embeddings through the exchange and
    # the Arrow boundary — ~n^2/2 x 2 x dim doubles per cluster; the
    # grouped kernel ships each embedding once and emits only dropped
    # ids).  Per-pair cos bits are identical to pair_cosine: same
    # left-fold accumulation order, same shortest-decimal HALF_UP
    # rounding, same validity rules (NULL/NaN/empty vectors never drop
    # or get dropped; unequal-dim pairs scored NULL under zip_with
    # padding are skipped; a zero-norm valid vector with a same-dim
    # cluster mate raises like ANSI division).
    dropped = _cluster_drop_ids(
        ranked.select("cluster", "rank", "vec_id", "embedding"), tau, scale=9
    )
    return (
        ranked.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cluster")
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the ANN STORAGE path.  At 100 TB
# the corpus's embeddings dominate the table (64 dims x 4 bytes = 256 B/doc);
# PQ stores an m-byte code instead (here m=8 -> 32x smaller), and queries
# scan codes with a broadcast lookup table — no full vector is ever read at
# query time.  Deterministic by construction (hash-sampled codebook, rounded
# distances, lowest-code tie-break) so any engine replays it bit-for-bit.
# --------------------------------------------------------------------------


def _pq_codebook(embeddings: DataFrame, n_codes: int) -> DataFrame:
    """ONE-row DF carrying the whole codebook as a code-ordered array.

    Codebook entries are the ``n_codes`` corpus vectors with the smallest
    ``md5(vec_id)`` — the same training-free hash draw the IVF centroids use
    (uniform under sorted/skewed ingestion, reproducible in any engine);
    entry ``c``'s subvector ``j`` is the code ``c`` of subspace ``j``.
    TakeOrdered over the hash (never a full sort); ``sort_array`` pins the
    in-array order ``collect_list`` would otherwise leave non-deterministic.
    """
    cent = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_codes)
        .select(
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("ce"),
        )
    )
    w = Window.orderBy(F.col("h").asc(), F.col("src").asc())
    return (
        cent.withColumn("code", F.row_number().over(w) - F.lit(1))
        .groupBy()
        .agg(F.sort_array(F.collect_list(F.struct("code", "ce"))).alias("cb"))
    )


def _sub(vec, j, sub_dim):
    """Subvector ``j`` (0-based Column) of a flat embedding: elements
    [j*sub_dim+1, (j+1)*sub_dim] in Spark's 1-based slice addressing."""
    return F.slice(vec, j * sub_dim + F.lit(1), sub_dim)


def _sqdist9(a, b):
    """Squared L2 distance, rounded to 9 decimals BEFORE any comparison so
    float summation-order noise can never flip an argmin between engines
    (the rounding discipline every similarity operator here shares)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        9,
    )


def _pq_code_dists(vec, j, sub_dim):
    """Per-codebook-entry distances of one subvector: array of
    struct(code, d) in code order, each distance computed exactly once."""
    return F.transform(
        F.col("cb"),
        lambda e: F.struct(
            e["code"].alias("code"),
            _sqdist9(_sub(vec, j, sub_dim), _sub(e["ce"], j, sub_dim)).alias("d"),
        ),
    )


def _pq_argmin(dists):
    """Left fold in code order with strict '<' on the ROUNDED distance:
    the first (lowest) code wins ties, matching ``ORDER BY d, code``."""
    return F.aggregate(
        dists,
        F.struct(F.lit(-1).alias("code"), F.lit(float("inf")).alias("d")),
        lambda acc, e: F.when(e["d"] < acc["d"], e).otherwise(acc),
        lambda acc: acc["code"],
    )


def pq_encode(embeddings: DataFrame, m: int = 8, n_codes: int = 16) -> DataFrame:
    """Product-quantize every embedding: (vec_id, subspace, code) rows.

    The embedding is split into ``m`` equal subspaces (dim must divide
    evenly; derived per row from ``size(embedding)``); each subvector is
    assigned the codebook entry with the smallest rounded squared-L2
    distance (ties -> lowest code, matching ``ORDER BY d, code LIMIT 1``).

    Plan shape: the corpus crossJoins the ONE-row broadcast codebook and
    every assignment happens inside row-local higher-order functions — the
    corpus is never amplified by |codebook| and the encode needs ZERO
    exchanges beyond the broadcast; the (vec_id, subspace, code) explode at
    the end emits m rows of three ints per doc (the compressed output, not
    the vectors).  At 100 TB this is one narrow codegen'd projection."""
    cb1 = _pq_codebook(embeddings, n_codes)
    sub_dim = (F.size(F.col("embedding")) / F.lit(m)).cast("int")
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: _pq_argmin(_pq_code_dists(F.col("embedding"), j, sub_dim)),
    )
    from ..plans.partitioning import widen_small_scan

    return (
        widen_small_scan(embeddings, "vec_id").crossJoin(F.broadcast(cb1))
        .select("vec_id", F.posexplode(codes).alias("subspace", "code"))
        .select(
            "vec_id",
            F.col("subspace").cast("int").alias("subspace"),
            F.col("code").cast("int").alias("code"),
        )
    )


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes.

    Each query keeps its FULL vector and precomputes a lookup table of
    rounded subvector->code distances (m x n_codes doubles); every corpus
    doc is scored by summing the LUT entries its m codes select —
    approx_d = sum_j LUT[j][code_j] — and the k smallest win (ties ->
    lowest neighbor_id).  The final sum is rounded to 6 decimals so the
    engines' summation order cannot flip a rank.

    Plan shape: encode is the narrow projection above; the scan joins the
    BROADCAST (queries x LUT) table against the code rows — at 100 TB the
    scan reads m ints per doc instead of the d-dim vector (the whole point
    of PQ), one window top-k at the end.  Recall on the uniform fixture is
    reported by bench.py next to the LSH/IVF variants (PQ trades recall
    for a 32x smaller scan; re-ranking survivors against full vectors is
    the standard second stage and composes with ``cosine_topk``)."""
    cb1 = _pq_codebook(embeddings, n_codes)
    sub_dim = (F.size(F.col("embedding")) / F.lit(m)).cast("int")
    # one row per (vec_id, codes array) — the compact encoded corpus
    corpus = (
        embeddings.crossJoin(F.broadcast(cb1))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: _pq_argmin(_pq_code_dists(F.col("embedding"), j, sub_dim)),
            ).alias("codes"),
        )
    )
    # queries carry the full vector: LUT[j] = rounded dists to ALL codes of
    # subspace j, in code order (cb is code-sorted, so element_at works)
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            _pq_code_dists(F.col("embedding"), j, sub_dim), lambda e: e["d"]
        ),
    )
    queries = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(cb1))
        .select(F.col("vec_id").alias("query_id"), lut.alias("lut"))
    )
    approx = F.round(
        F.aggregate(
            F.zip_with(
                F.col("lut"),
                F.col("codes"),
                lambda l, c: F.element_at(l, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", approx.alias("approx_d"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_topk_rerank(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int = 200,
) -> DataFrame:
    """Two-stage PQ retrieval (the production IVFADC shape, Jégou et al.
    2011 §VI): the cheap ADC scan over 8-byte codes shortlists
    ``shortlist`` candidates per query, then ONLY those rows re-rank by
    exact cosine against their full vectors.  Recall approaches the exact
    scan's while the corpus-wide pass still reads m ints per doc — the
    full vectors are fetched for shortlist*n_queries rows total, an
    equi-join on vec_id that at 100 TB is a point-lookup sliver, never a
    second corpus scan.

    Rounded to 6 decimals before ranking (ties -> lowest neighbor_id) so
    the rank order is engine-independent.  -> (query_id, neighbor_id,
    rank) with rank 1..k by exact cosine.
    """
    short = pq_topk(embeddings, n_queries, shortlist, m, n_codes).select(
        "query_id", "neighbor_id"
    )
    cand = short.join(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ne"),
            _norm(F.col("embedding")).alias("nn"),
        ),
        "neighbor_id",
    )
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    scored = cand.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn")), 6
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# --------------------------------------------------------------------------
# Distributed Lloyd's k-means (fixed-point, bit-reproducible)
# --------------------------------------------------------------------------

#: fixed-point quantisation of embedding coordinates: floor(x * 1e6).
#: floor (not round) so no half-way tie can ever split engines; every
#: subsequent operation is BIGINT arithmetic, so assignment AND centroid
#: updates are order-independent — the float-mean pitfall (partition-order
#: dependent sums) cannot occur by construction.
_KMEANS_SCALE = 10**6


def _kmeans_quant(embeddings: DataFrame) -> DataFrame:
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * _KMEANS_SCALE).cast("long"),
    )
    return embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", q.alias("q")
    )


def _kmeans_init(quant: DataFrame, k: int) -> DataFrame:
    """Training-free deterministic seed: the k corpus vectors with the
    smallest md5(vec_id) — the same hash draw the IVF centroids and the PQ
    codebook use (uniform under sorted/skewed ingestion, reproducible in
    any engine); cluster ids 0..k-1 in hash order."""
    cent = (
        quant.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .select(
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            F.col("vec_id").alias("src"),
            F.col("q").alias("cq"),
        )
    )
    w = Window.orderBy(F.col("h").asc(), F.col("src").asc())
    return cent.withColumn(
        "cluster", (F.row_number().over(w) - F.lit(1)).cast("int")
    ).select("cluster", "cq")


def _int_sqdist(a, b) -> F.Column:
    """Exact BIGINT squared L2 over quantised coordinates (no float, no
    rounding discipline needed — the discipline is integers)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _kmeans_assign_step(quant: DataFrame, cent: DataFrame) -> DataFrame:
    """One assignment pass: the corpus crossJoins the ONE-row broadcast
    centroid array (the PQ-codebook move — never amplified by k) and the
    argmin runs row-locally; array_min over struct(sq_dist, cluster) is
    lexicographic, so ties break to the lowest cluster id exactly like
    ``ORDER BY d, cluster LIMIT 1``."""
    cb1 = cent.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("cluster", "cq"))).alias("cb")
    )
    best = F.array_min(
        F.transform(
            F.col("cb"),
            lambda e: F.struct(
                _int_sqdist(F.col("q"), e["cq"]).alias("sq_dist"),
                e["cluster"].alias("cluster"),
            ),
        )
    )
    return (
        quant.crossJoin(F.broadcast(cb1))
        .withColumn("best", best)
        .select(
            "vec_id",
            "q",
            F.col("best")["cluster"].alias("cluster"),
            F.col("best")["sq_dist"].alias("sq_dist"),
        )
    )


def _kmeans_update(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """Centroid update as ONE map-side-combinable shuffle of k*dim cells
    (the CMS shape): explode dims -> sum/count per (cluster, dim) — exact
    BIGINT, order-independent — floor-divide, reassemble in dim order.
    Clusters that lost every member keep their previous centroid (the
    deterministic empty-cluster rule, mirrored in the oracle)."""
    dims = assigned.select("cluster", F.posexplode("q").alias("dim", "v"))
    sums = dims.groupBy("cluster", "dim").agg(
        F.sum("v").alias("s"), F.count("*").alias("cnt")
    )
    # exact floor division for signed sums: (s - pmod(s, cnt)) is divisible
    # by cnt, and DIV of an exact multiple is the floor quotient — engines
    # that disagree on negative-division rounding can't diverge here
    newc = sums.select(
        "cluster", "dim", F.expr("(s - pmod(s, cnt)) DIV cnt").alias("c")
    )
    agg = newc.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda e: e["c"]
        ).alias("cq")
    )
    return (
        cent.select("cluster", F.col("cq").alias("old"))
        .join(agg, "cluster", "left")
        .select("cluster", F.coalesce(F.col("cq"), F.col("old")).alias("cq"))
    )


def kmeans_assign(embeddings: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus — the
    clustering primitive behind data-mixing / SemDeDup-style pipelines —
    run for a FIXED ``iters`` iterations so the whole computation is a
    closed-form spec any engine can replay bit-for-bit.

    Everything is integer fixed-point (see ``_KMEANS_SCALE``): coordinates
    quantise once by floor(x*1e6); distances are exact BIGINT squared-L2;
    centroid updates are exact integer sums + floor division.  There is no
    float mean anywhere, so the result is independent of partitioning,
    merge order, and engine — the property ``tests`` pin by re-running
    under different partitionings and replaying in numpy.

    Plan shape at 100 TB: per iteration, the corpus makes ONE narrow pass
    (broadcast k x dim centroid array, row-local HOF argmin — the corpus is
    never amplified by k) plus ONE map-side-combinable groupBy of k*dim
    cells; the centroids flow iteration-to-iteration as a k-row DataFrame
    inside a single declarative plan — no driver-side collect loop.

    -> (vec_id, cluster, sq_dist) for every vector, after a final
    assignment against the iterated centroids."""
    quant = _kmeans_quant(embeddings)
    cent = _kmeans_init(quant, k)
    for _ in range(iters):
        assigned = _kmeans_assign_step(quant, cent)
        cent = _kmeans_update(assigned, cent)
    final = _kmeans_assign_step(quant, cent)
    return final.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "sq_dist"
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding corpus —
    the standard 4x storage/bandwidth reduction for a 100 TB vector store.

    Integer discipline end-to-end (the family's engine-exactness rule):
    coordinates become micro-units ``q = floor(x * 1e6)`` (the same
    quantisation :func:`kmeans_assign` uses), the per-dimension scale is
    ``amax_d = max(|q_d|)`` over the corpus, and the code is round-half-up
    ``sign(q) * ((|q| * 254 + amax) div (2 * amax))`` — all BIGINT, no
    float division anywhere, so any engine reproduces it bit-for-bit.

    Physical shape: one posexplode + map-side-combinable groupBy produces
    the 64-row scale table, which collapses to a ONE-ROW array and
    broadcasts back over the corpus (BroadcastNestedLoopJoin of a single
    row — never a shuffle of the vectors).  Long-form output
    (vec_id, dim, code) keeps the oracle comparable and the codes
    repackable by any consumer.
    """
    quant = _kmeans_quant(embeddings)  # (vec_id, q: array<long>)
    dims = quant.select(F.posexplode("q").alias("dim", "v"))
    amax = dims.groupBy("dim").agg(F.max(F.abs(F.col("v"))).alias("amax"))
    scale_row = amax.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("dim", "amax"))).alias("sc")
    )
    codes = F.expr(
        "zip_with(q, transform(sc, s -> s.amax), (x, m) -> "
        "CAST(CASE WHEN m = 0 THEN 0 "
        "WHEN x < 0 THEN -(((-x) * 254 + m) div (2 * m)) "
        "ELSE ((x * 254 + m) div (2 * m)) END AS INT))"
    )
    return (
        quant.crossJoin(F.broadcast(scale_row))
        .select("vec_id", codes.alias("codes"))
        .select("vec_id", F.posexplode("codes").alias("dim", "code"))
        .select("vec_id", F.col("dim").cast("int").alias("dim"), "code")
    )
