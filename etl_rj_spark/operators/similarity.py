"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries broadcast against the corpus; per-row score is a pure
  expression (zip_with/aggregate), so the scan parallelizes perfectly
  and nothing shuffles except the final per-query top-k.
- ``ivf_topk``: the scale path — coarse quantization into sign-bit
  cells (a deterministic LSH/IVF hybrid); candidates only probe their
  own cell. At 100 TB you bucket the corpus once (partitioned/bucketed
  by cell) and each query touches 1/2^bits of the data.

Dot products evaluate in a fixed left-to-right order over
double-cast elements, so scores are bit-reproducible across engines.

Norms belong to single vectors, not to pairs: every operator that
scores a pair product attaches each side's ``l2_norm`` as a column
before the join (:func:`with_norm`) and scores with
:func:`pair_cosine`, which reads them, so a pair costs one interpreted dot
(``zip_with``/``aggregate``) instead of three. :func:`cosine` is the
same formula with the norms computed in place, for row-local callers.
Both paths give bit-identical scores: each norm is the same
``sqrt(dot(v, v))`` wherever it is evaluated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def vec_double(c: Column | str) -> Column:
    """Cast array<float> → array<double> (exact widening)."""
    return F.transform(_c(c), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine similarity from precomputed L2 norms ``na``/``nb`` of
    ``a``/``b``; NULL when either vector has zero norm (a
    failed-encoder all-zero row must not DIVIDE_BY_ZERO-abort the
    whole job under Spark 4's ANSI default — NULL similarity ranks
    last / drops from thresholds, which is the right semantics for a
    vector with no direction) and when either vector is NULL."""
    return F.try_divide(dot(a, b), na * nb)


def cosine(a: Column, b: Column) -> Column:
    """Row-local cosine: :func:`cosine_from_norms` with both norms
    computed in place. Over a pair product use :func:`with_norm` and
    :func:`pair_cosine` instead, so each norm is computed once per
    vector rather than once per pair."""
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def with_norm(df: DataFrame, vec: str) -> DataFrame:
    """Attach ``{vec}_norm`` = ``l2_norm(vec)`` — one side of a pair
    product, before the join."""
    return df.withColumn(f"{vec}_norm", l2_norm(F.col(vec)))


def pair_cosine(a: str, b: str) -> Column:
    """Cosine of the vector columns ``a`` and ``b`` of a joined pair
    frame, whose norms :func:`with_norm` attached on each side."""
    return cosine_from_norms(F.col(a), F.col(b), F.col(f"{a}_norm"), F.col(f"{b}_norm"))


def vec_norm_carry(vec_col: str) -> dict[str, Column]:
    """``kmeans_assign`` carry of the double vector ``__v`` and its
    norm ``__v_norm``, so both ride through the cell assignment."""
    v = vec_double(vec_col)
    return {"__v": v, "__v_norm": l2_norm(v)}


def l2_normalize(a: Column, round_digits: int | None = None) -> Column:
    """Unit-normalize a double vector (optionally rounding elements for
    cross-engine comparison). A zero-norm vector yields NULL elements
    (try_divide) instead of an ANSI divide-by-zero abort."""
    n = l2_norm(a)
    out = F.transform(a, lambda x: F.try_divide(x, n))
    if round_digits is not None:
        out = F.transform(out, lambda x: F.round(x, round_digits))
    return out


def random_projection_matrix(in_dim: int, out_dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix:
    sign(j, i) = +1 iff the first hex digit of md5(f"{seed}:{j}:{i}")
    is < 8. md5-derived, so any engine regenerates the identical
    matrix from the seed — no state to ship besides three ints."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) < 8 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def project_embeddings(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed: int = 42,
    out_col: str = "proj",
    round_digits: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: ``out[j] =
    dot(vec, R_j) / sqrt(out_dim)`` with the deterministic ±1 matrix
    above. Preserves pairwise distances to (1 ± ε) with
    ε ≈ sqrt(8·ln n / out_dim) — the standard shrink-before-ANN step
    (64-dim → 16-dim quarters every downstream distance computation
    and index size).

    Scale shape: the matrix rides into the plan as literals and each
    output coordinate is a sequential zip_with/aggregate dot — pure
    scan-stage expressions, zero shuffle, zero Python per row."""
    R = random_projection_matrix(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    v = vec_double(vec_col)
    coords = [
        dot(v, F.array(*[F.lit(float(s)) for s in row])) * F.lit(scale)
        for row in R
    ]
    out = F.array(*coords)
    if round_digits is not None:
        out = F.transform(out, lambda x: F.round(x, round_digits))
    # a wrong-length vector would zip_with-pad with NULLs and yield an
    # all-NULL projection silently — error at the projection site
    # instead. A NULL vector passes through as a NULL projection (the
    # null-flows-through posture of the other embedding ops): without
    # the explicit isNull arm, size(NULL)=NULL falls into the error
    # branch and aborts the job with a NULL message.
    out = (
        F.when(_c(vec_col).isNull(), F.lit(None).cast("array<double>"))
        .when(F.size(_c(vec_col)) == in_dim, out)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"project_embeddings: expected {in_dim}-dim vector, got "),
                    F.size(_c(vec_col)).cast("string"),
                )
            ).cast("array<double>")
        )
    )
    return df.withColumn(out_col, out)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine: broadcast the (small) query
    set, score every corpus row, keep k per query.

    Output: (query_id, id, score, rank) with deterministic tie-break
    on id. Score rounded to 9 dp for cross-engine stability.
    """
    q = F.broadcast(with_norm(
        queries.select(F.col(id_col).alias(query_id_col), vec_double(vec_col).alias("__qv")),
        "__qv",
    ))
    c = with_norm(corpus.select(F.col(id_col), vec_double(vec_col).alias("__cv")), "__cv")
    scored = q.crossJoin(c).select(
        query_id_col, id_col, F.round(pair_cosine("__qv", "__cv"), 9).alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_cell(c: Column | str, bits: int = 8) -> Column:
    """Coarse cell id from the sign bits of the first ``bits``
    dimensions: sum((v[j] > 0) << j). Deterministic, engine-portable."""
    v = _c(c)
    cell = F.lit(0)
    for j in range(bits):
        cell = cell + F.when(F.element_at(v, j + 1) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return cell


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 8,
) -> DataFrame:
    """Approximate top-k: probe only the query's own sign-bit cell.
    The cell equi-join replaces the cross join — at scale the corpus is
    pre-bucketed by cell and each query reads one bucket."""
    q = F.broadcast(with_norm(
        queries.select(
            F.col(id_col).alias(query_id_col),
            vec_double(vec_col).alias("__qv"),
            ivf_cell(vec_col, bits).alias("__cell"),
        ),
        "__qv",
    ))
    c = with_norm(
        corpus.select(
            F.col(id_col), vec_double(vec_col).alias("__cv"), ivf_cell(vec_col, bits).alias("__cell")
        ),
        "__cv",
    )
    scored = q.join(c, "__cell").select(
        query_id_col, id_col, F.round(pair_cosine("__qv", "__cv"), 9).alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (multi-table)
# ---------------------------------------------------------------------------

def _lsh_planes(dim: int, bits: int, tables: int) -> list[list[list[int]]]:
    """Deterministic pseudo-random INTEGER hyperplanes with components
    in [-1000, 1000], derived from md5 of (table, plane, dim-index) —
    no RNG state, identical on every run/engine/partitioning. Integer
    components (not floats) so the bucket sign test below is exact
    integer arithmetic: no summation-order ulp can ever flip a bucket
    bit between engines."""
    import hashlib

    def comp(t: int, p: int, d: int) -> int:
        h = hashlib.md5(f"lsh:{t}:{p}:{d}".encode()).hexdigest()
        return int(h[:8], 16) % 2001 - 1000

    return [
        [[comp(t, p, d) for d in range(dim)] for p in range(bits)]
        for t in range(tables)
    ]


QUANT_SCALE = 1 << 20


def quantize_vec(c: Column | str, scale: int = QUANT_SCALE) -> Column:
    """THE engine-wide quantization contract — shared by hyperplane LSH
    here and the k-means IVF trainer (``operators.kmeans`` imports this
    definition), and replayed verbatim by their DuckDB oracles:
    ``floor(x * scale)`` per component, ``scale`` a power of two. The
    power-of-two multiply of a float32-exact double is exact, and floor
    is unambiguous in every engine — so two engines ALWAYS agree on the
    result, unlike any float rounding near a tie."""
    return F.transform(
        vec_double(c), lambda x: F.floor(x * F.lit(float(scale))).cast("long")
    )


def lsh_buckets(c: Column | str, dim: int, bits: int = 8, tables: int = 4) -> Column:
    """Array of (table, bucket) structs: bucket = sign pattern of the
    (integer-quantized) vector against that table's ``bits`` integer
    hyperplanes. Vectors at cosine angle θ agree on one plane with prob
    1-θ/π; ``tables`` OR-ed tables trade compute for recall. The dot
    product is pure int64 arithmetic (|component| ≤ 2^20, |plane| ≤
    1000, 64 dims → |sum| < 2^37), so bucket assignment is bit-exact
    across engines — the property the DuckDB oracle relies on."""
    # quantized vector bound once (r16, guide §1.2): as a direct child
    # of every per-plane zip_with it was re-evaluated tables·bits (32)
    # times per row — each analysis site binds fresh lambda expr-ids,
    # so codegen CSE never merges the copies
    def buckets(v: Column) -> Column:
        entries = []
        for t, planes in enumerate(_lsh_planes(dim, bits, tables)):
            bucket = F.lit(0)
            for p, plane in enumerate(planes):
                d = F.aggregate(
                    F.zip_with(v, F.array(*[F.lit(x) for x in plane]), lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
            entries.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
        return F.array(*entries)

    from etl_rj_spark.functions.exprs import bind_once

    return bind_once(quantize_vec(c), buckets)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: candidates
    share a bucket in ≥1 table (union via distinct), then exact cosine
    rescoring. At scale the corpus bucket table is computed once and
    bucketed/bucket-joined; each query probes ``tables`` buckets of
    ~N/2^bits vectors instead of scanning N."""
    qb = with_norm(queries.select(
        F.col(id_col).alias(query_id_col),
        vec_double(vec_col).alias("__qv"),
        F.explode(lsh_buckets(vec_col, dim, bits, tables)).alias("tb"),
    ), "__qv").select(query_id_col, "__qv", "__qv_norm", "tb.table", "tb.bucket")
    cb = corpus.select(
        F.col(id_col),
        F.explode(lsh_buckets(vec_col, dim, bits, tables)).alias("tb"),
    ).select(id_col, "tb.table", "tb.bucket")
    cand = (
        F.broadcast(qb)
        .join(cb, ["table", "bucket"])
        .select(query_id_col, "__qv", "__qv_norm", id_col)
        .distinct()
    )
    c = with_norm(corpus.select(F.col(id_col), vec_double(vec_col).alias("__cv")), "__cv")
    # .distinct() on the CANDIDATE-sized scored frame: ranks are over
    # DISTINCT (query, id, score) results — a corpus row duplicated by
    # a re-ingested shard must not occupy several of the k slots (r11
    # dupstorm-regime contract; value-level no-op on unique ids, and
    # never a corpus-sized dedup)
    scored = cand.join(c, id_col).select(
        query_id_col, id_col, F.round(pair_cosine("__qv", "__cv"), 9).alias("score")
    ).distinct()
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (dedup by embedding)
# ---------------------------------------------------------------------------

def cosine_near_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs embedding near-dup detection: (id_a < id_b, score) for
    every pair at cosine ≥ threshold. Quadratic — the correctness
    baseline; use ``cosine_near_pairs_lsh`` at corpus scale."""
    vecs = with_norm(corpus.select(F.col(id_col), vec_double(vec_col).alias("__v")), "__v")
    a = vecs.toDF("id_a", "__va", "__va_norm")
    b = vecs.toDF("id_b", "__vb", "__vb_norm")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(pair_cosine("__va", "__vb"), 9).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def cosine_near_pairs_lsh(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    tables: int = 8,
) -> DataFrame:
    """Scale path for embedding dedup: candidate pairs share a
    hyperplane-LSH bucket in ≥1 of ``tables`` tables, then exact cosine
    rescoring. A near-dup pair at angle θ misses one table's bucket
    with prob 1-(1-θ/π)^bits — for true near-duplicates (θ→0) the
    collision probability per table approaches 1, so recall is ~1 while
    the candidate set stays ~N·tables/2^bits per bucket instead of N²."""
    cb = corpus.select(
        F.col(id_col), F.explode(lsh_buckets(vec_col, dim, bits, tables)).alias("tb")
    ).select(id_col, "tb.table", "tb.bucket")
    a = cb.toDF("id_a", "table", "bucket")
    b = cb.toDF("id_b", "table", "bucket")
    pairs = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = with_norm(corpus.select(F.col(id_col), vec_double(vec_col).alias("__v")), "__v")
    va = vecs.toDF("id_a", "__va", "__va_norm")
    vb = vecs.toDF("id_b", "__vb", "__vb_norm")
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(pair_cosine("__va", "__vb"), 9).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def near_dup_vector_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bits: int = 4,
    tables: int = 8,
    exact_collapse_first: bool = True,
) -> DataFrame:
    """THE embedding near-duplicate entry point — storm-safe by
    default (VERDICT r14 #2: the MinHash family's r14 posture extended
    to vectors; a replayed embedding shard is the vector twin of the
    boilerplate text storm, and C(m,2) cosine-1.0 pairs for an
    m-member identical-vector group is the same inherently quadratic
    OUTPUT no bucketing cap can bound).

    Tier order (shared machinery,
    :func:`~etl_rj_spark.operators.text_dedup.exact_collapse_star_pairs`):
    exact-collapse BIT-IDENTICAL vectors (group key = ``xxhash64`` of
    the double-cast array — one 8-byte shuffle key instead of the
    512-byte vector; NULL-vector rows never pair), count-gate via a
    limit(1) probe, emit each identical-vector group as linear
    ``(canonical=MIN(id), member, score=1.0)`` star edges, and run the
    raw pair generator over per-content representatives only. With no
    identical-vector group the raw path runs over the full corpus,
    byte-identical to the opt-out.

    Raw tier: brute-force :func:`cosine_near_pairs` when ``dim`` is
    None (the oracle-checkable baseline), hyperplane-LSH
    :func:`cosine_near_pairs_lsh` when ``dim`` is given (the scale
    path — identical vectors always co-bucket, so the exact tier
    subsumes exactly the pairs LSH would re-derive quadratically).

    Component equivalence: identical vectors are cosine-1.0 ≥ any
    threshold ≤ 1, and the star spans the same connected component as
    the raw clique, so ``dedup_survivors`` keeps the identical corpus;
    degenerate all-zero vectors (cosine undefined → raw emits nothing)
    are still collapsed by the exact tier — identical content is a
    duplicate relation regardless of a defined similarity score, the
    same scoping as the un-shingleable-text regime (ADVICE r14).
    ``exact_collapse_first=False`` is the raw all-pairs opt-out."""
    from etl_rj_spark.operators.text_dedup import exact_collapse_star_pairs

    def raw(d: DataFrame) -> DataFrame:
        if dim is None:
            return cosine_near_pairs(d, threshold, id_col, vec_col)
        return cosine_near_pairs_lsh(d, threshold, dim, id_col, vec_col, bits, tables)

    if not exact_collapse_first:
        return raw(corpus)
    return exact_collapse_star_pairs(
        corpus,
        id_col,
        F.xxhash64(vec_double(vec_col)),
        raw,
        {"score": F.lit(1.0)},
        content_filter=F.col(vec_col).isNotNull(),
    )


def semdedup_incremental(
    existing: DataFrame,
    batch: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup — the embedding twin of the persisted
    MinHash index probe: ``existing`` is the survivor table a prior
    :func:`semdedup` pass produced (columns ``id_col``, ``cell``,
    ``vec_col``), ``batch`` is the day's new vectors. The batch is
    assigned to the SAME centroids and each new vector is dropped if
    it matches (cosine ≥ threshold, 9 dp) an existing survivor in its
    cell or an earlier batch-mate in its cell. Returns the batch's
    survivors as (id, cell, vec) — append them to ``existing`` for the
    next day.

    The corpus-sized survivor table is touched only through one
    cell equi-join against the (small) batch — no re-clustering, no
    survivor-survivor pairs, nothing quadratic in history. At 100 TB
    persist ``existing`` bucketed by ``cell`` (sinks/bucketed.py) so
    the probe join needs no Exchange on the survivor side."""
    from etl_rj_spark.operators.kmeans import kmeans_assign

    # the probe vector rides THROUGH the assignment (no join-back by
    # id: duplicated batch ids would fan out multiplicity² — r11
    # dupstorm fix — and the join cost a batch-sized shuffle)
    vnew = kmeans_assign(
        batch, centroids, vec_col=vec_col, id_col=id_col, carry=vec_norm_carry(vec_col),
    ).localCheckpoint()
    a = vnew.select(
        F.col(id_col).alias("id_a"), "cell",
        F.col("__v").alias("__va"), F.col("__v_norm").alias("__va_norm"),
    )
    old_side = with_norm(existing.select(
        F.lit(None).cast("long").alias("id_b"), F.col("cell"),
        vec_double(vec_col).alias("__vb"),
    ), "__vb")
    new_side = vnew.select(
        F.col(id_col).alias("id_b"), "cell",
        F.col("__v").alias("__vb"), F.col("__v_norm").alias("__vb_norm"),
    )
    # null id_b marks an existing survivor: ALWAYS a valid blocker;
    # a batch-mate blocks only if strictly earlier
    cand = a.join(old_side.unionByName(new_side), "cell").filter(
        F.col("id_b").isNull() | (F.col("id_b") < F.col("id_a"))
    )
    dropped = (
        cand.filter(F.round(pair_cosine("__va", "__vb"), 9) >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return vnew.join(dropped, id_col, "left_anti").select(
        F.col(id_col), F.col("cell"), F.col("__v").alias(vec_col)
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus into k-means cells, then
    WITHIN each cell drop every vector that has an earlier cell-mate
    (lower ``id_col``) at cosine ≥ ``threshold``. Returns the
    survivors as (id, cell), one row per kept vector.

    The cell partitioning confines the pairwise work: Σ|cell|² instead
    of N² — with balanced cells that is N²/k, and at corpus scale the
    cells ARE the shuffle partitioning (one equi-join on cell), so no
    all-pairs crossJoin ever materializes. N²/k is only linear if k
    GROWS with the corpus: derive k from ``kmeans.auto_cells`` (hold
    the cell size constant) — the r12 5× ladder measured a frozen k=8
    at 6.7× wall for 5× data, and auto_cells at 0.89× (BASELINE.md). Drop rule is exists-earlier
    (deterministic, order-free): chains a~b~c with a≁c keep only a —
    slightly more aggressive than one-per-connected-component but
    stable under re-runs and replayable in plain SQL (the oracle
    contract)."""
    from etl_rj_spark.operators.kmeans import kmeans_assign

    # materialize (id, cell, vec) ONCE: it feeds both sides of the
    # within-cell self-join AND the survivor anti-join — without the
    # barrier the assignment argmin would re-evaluate up to 3× in one
    # plan (kmeans_fit localCheckpoints its iteration state for the
    # same reason). The vector rides THROUGH the assignment (carry) —
    # the old join-back by id fanned out multiplicity² under
    # duplicated ids (r11 dupstorm fix: 3 verbatim copies per id made
    # 9 survivor rows) and paid a corpus-sized shuffle even on clean
    # data. ONE ROW PER INPUT ROW: verbatim copies of one id share its
    # cell and survive or die together (same-id rows never block each
    # other — exact dedup is an upstream concern, not SemDeDup's).
    v = kmeans_assign(
        corpus, centroids, vec_col=vec_col, id_col=id_col, carry=vec_norm_carry(vec_col),
    ).localCheckpoint()
    a = v.select(
        F.col(id_col).alias("id_a"), "cell",
        F.col("__v").alias("__va"), F.col("__v_norm").alias("__va_norm"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"), "cell",
        F.col("__v").alias("__vb"), F.col("__v_norm").alias("__vb_norm"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(pair_cosine("__va", "__vb"), 9) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    kept = v.join(dropped, id_col, "left_anti")
    if keep_vec:  # survivor table shape semdedup_incremental consumes
        return kept.select(F.col(id_col), F.col("cell"), F.col("__v").alias(vec_col))
    return kept.select(id_col, "cell")


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 4,
    tables: int = 2,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07 — public algorithm):
    each query probes its home bucket PLUS every bucket at Hamming
    distance 1 (one flipped hyperplane) in each table. Near-neighbors
    that land one plane away are recovered by probing, not by more
    tables — so recall comparable to many-tables costs the CORPUS side
    only ``tables`` bucket entries per vector (the index is the
    expensive, stored side at 100 TB; query-side probes are cheap
    exploded rows). Probe fan-out is 1 + bits per table.

    Candidate identification is the same exact int64 arithmetic as
    ``lsh_buckets`` (bucket ids XOR single-bit masks), so the DuckDB
    oracle replays it bit-for-bit."""
    probe_masks = [0] + [1 << i for i in range(bits)]
    qb = (
        with_norm(queries.select(
            F.col(id_col).alias(query_id_col),
            vec_double(vec_col).alias("__qv"),
            F.explode(lsh_buckets(vec_col, dim, bits, tables)).alias("tb"),
        ), "__qv")
        .select(
            query_id_col, "__qv", "__qv_norm", "tb.table",
            F.explode(
                F.array(*[F.col("tb.bucket").bitwiseXOR(F.lit(m)) for m in probe_masks])
            ).alias("bucket"),
        )
    )
    cb = corpus.select(
        F.col(id_col),
        F.explode(lsh_buckets(vec_col, dim, bits, tables)).alias("tb"),
    ).select(id_col, "tb.table", "tb.bucket")
    cand = (
        F.broadcast(qb)
        .join(cb, ["table", "bucket"])
        .select(query_id_col, "__qv", "__qv_norm", id_col)
        .distinct()
    )
    c = with_norm(corpus.select(F.col(id_col), vec_double(vec_col).alias("__cv")), "__cv")
    # .distinct() on the CANDIDATE-sized scored frame: ranks are over
    # DISTINCT (query, id, score) results — a corpus row duplicated by
    # a re-ingested shard must not occupy several of the k slots (r11
    # dupstorm-regime contract; value-level no-op on unique ids, and
    # never a corpus-sized dedup)
    scored = cand.join(c, id_col).select(
        query_id_col, id_col, F.round(pair_cosine("__qv", "__cv"), 9).alias("score")
    ).distinct()
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def standardize_embeddings(
    df: DataFrame,
    vec_col: str,
    dim: int,
    out_col: str = "z_micros",
) -> DataFrame:
    """Per-DIMENSION z-score standardization of an embedding column —
    the feature-scaling step before distance-based ops (k-means, ANN,
    SemDeDup) when dimensions carry different scales.

    Integer-deterministic house form: each coordinate is scaled to
    exact integer micros ``x = round(v·10⁶)``; per-dimension sums
    S = Σx and Q = Σx² accumulate in decimal(38,0) (order-independent
    exact integers — a double mean/std would be partial-agg-order
    dependent and hash-differ between engines). The z-score is the
    algebraically-cleared form  z = (n·x − S) / sqrt(n·Q − S²)  whose
    numerator and radicand are EXACT integers, so the one double
    division and IEEE-correctly-rounded sqrt make the output
    deterministic across engines; emitted as round(z·10⁶) micros.
    Zero-variance dimensions standardize to 0 (the constant-feature
    convention), never NaN.

    Scale shape: posexplode feeds ONE ``dim``-keyed aggregate (64
    groups, map-side partial); the KB-sized stats row broadcasts back
    via crossJoin and z is a pure scan-stage array transform — no
    per-row re-assembly shuffle, nothing grows with corpus size except
    the scan. decimal(38,0) bounds: exact while n·Q < 10³⁸ (n ≲ 10¹⁶
    rows at |v| ≤ 10³).

    Rows with NULL vectors pass through with a NULL output; a
    wrong-length vector raises at the site (silent zip-padding would
    corrupt every downstream distance).
    """
    v = vec_double(vec_col)
    xi = F.transform(v, lambda x: F.round(x * 1e6).cast("long"))
    src = df.withColumn("__xi", xi)

    ex = src.select(F.posexplode("__xi").alias("__dim", "__x")).filter(
        F.col("__x").isNotNull()
    )
    dec = F.col("__x").cast("decimal(38,0)")
    stats_row = (
        ex.groupBy("__dim")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
            F.sum(dec).alias("__s"),
            F.sum(dec * F.col("__x")).alias("__q"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__dim", "__n", "__s", "__q"))
            ).alias("__st")
        )
        .select(
            F.transform("__st", lambda t: t["__n"]).alias("__n_arr"),
            F.transform("__st", lambda t: t["__s"]).alias("__s_arr"),
            F.transform("__st", lambda t: t["__n"] * t["__q"] - t["__s"] * t["__s"])
            .alias("__den_arr"),
        )
    )

    def z_elem(x: Column, i: Column) -> Column:
        n_i = F.element_at("__n_arr", i + 1)
        s_i = F.element_at("__s_arr", i + 1)
        den = F.element_at("__den_arr", i + 1)
        num = (n_i * x.cast("decimal(38,0)") - s_i).cast("double")
        return (
            F.when(den == F.lit(0).cast("decimal(38,0)"), F.lit(0).cast("long"))
            .otherwise(F.round(num / F.sqrt(den.cast("double")) * 1e6).cast("long"))
        )

    z = (
        F.when(_c(vec_col).isNull(), F.lit(None).cast("array<bigint>"))
        .when(F.size(_c(vec_col)) == dim, F.transform("__xi", z_elem))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"standardize_embeddings: expected {dim}-dim vector, got "),
                    F.size(_c(vec_col)).cast("string"),
                )
            ).cast("array<bigint>")
        )
    )
    return (
        src.crossJoin(F.broadcast(stats_row))
        .withColumn(out_col, z)
        .drop("__xi", "__n_arr", "__s_arr", "__den_arr")
    )


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    out_col: str = "mean_micros",
) -> DataFrame:
    """Per-group mean-pooled embedding (user profile from event
    vectors, document vector from chunk vectors, cluster centroid
    refresh) in the exact-integer house form: coordinates scale to
    integer micros, per-(group, dim) sums/counts reduce map-side, and
    the mean is one correctly-rounded double division of exact
    integers — deterministic across engines and partitionings where a
    naive float mean would drift with aggregation order.

    Scale shape: posexplode → ONE (group, dim)-keyed aggregate
    (map-side combinable; dim fans out ×64 but reduces immediately)
    → per-group re-assembly over |groups|·dim rows, dim-sorted so the
    output array order is deterministic. NULL vectors contribute
    nothing; a group with only NULL vectors is absent from the output.
    NULL *elements* inside a vector are likewise excluded from that
    dimension's mean (``F.count("__x")`` skips nulls exactly as the
    SUM does — counting positions instead would silently deflate the
    mean; ADVICE r7).
    Returns (group, out_col: array<bigint> mean micros).
    """
    xi = F.transform(vec_double(vec_col), lambda x: F.round(x * 1e6).cast("long"))
    ex = df.select(F.col(group_col), F.posexplode(xi).alias("__dim", "__x"))
    agg = ex.groupBy(group_col, "__dim").agg(
        F.sum("__x").alias("__s"), F.count("__x").alias("__c")
    )
    return (
        agg.groupBy(group_col)
        .agg(F.array_sort(F.collect_list(F.struct("__dim", "__s", "__c"))).alias("__st"))
        .select(
            group_col,
            F.transform(
                "__st",
                lambda t: F.round(t["__s"].cast("double") / t["__c"]).cast("long"),
            ).alias(out_col),
        )
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """kNN pseudo-labeling: predict each query's label by MAJORITY VOTE
    of its k exactly-nearest labeled corpus vectors (cosine) — the
    weak-supervision step that propagates a small labeled seed over an
    unlabeled corpus (label bootstrapping, eval-set sanity checks,
    semantic-cell tagging).

    Self-matches are excluded by id BEFORE ranking, so seeding queries
    from the corpus itself never lets a vector vote for itself. Ties:
    neighbors rank by (score DESC, id), the winning label by
    (votes DESC, label) — fully deterministic, no float in the vote
    compare. Returns (query_id, pred_label, votes, n_neighbors).

    Scale: the same broadcast-queries/map-side-score shape as
    :func:`cosine_topk` (the exact baseline); swap in the IVF/LSH
    shortlists for the index-backed variant when the query side stops
    fitting a broadcast.
    """
    q = F.broadcast(with_norm(
        queries.select(
            F.col(id_col).alias(query_id_col), vec_double(vec_col).alias("__qv")
        ),
        "__qv",
    ))
    c = with_norm(
        corpus.select(F.col(id_col), F.col(label_col), vec_double(vec_col).alias("__cv")),
        "__cv",
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col, id_col, label_col,
            F.round(pair_cosine("__qv", "__cv"), 9).alias("__score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("__score"), id_col)
    neigh = scored.withColumn("__rank", F.row_number().over(w)).filter(
        F.col("__rank") <= k
    )
    votes = neigh.groupBy(query_id_col, label_col).agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_v = Window.partitionBy(query_id_col).orderBy(
        F.desc("votes"), F.col(label_col)
    )
    totals = neigh.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_neighbors"))
    return (
        votes.withColumn("__vr", F.row_number().over(w_v))
        .filter(F.col("__vr") == 1)
        .join(totals, query_id_col)
        .select(
            query_id_col, F.col(label_col).alias("pred_label"), "votes", "n_neighbors"
        )
    )


def margin_bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold_scaled: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (the public LASER/CCMatrix recipe,
    difference-margin variant): align two embedding spaces (source /
    target sentence pools) by keeping MUTUAL-BEST pairs whose cosine
    clears the average of both sides' top-k neighborhoods — raw cosine
    thresholds over-select from dense regions ("hubs"); the margin
    normalizes by local density.

    Integer contract: cosines land as nano ints (round ×10⁹); the
    margin is the DIVISION-FREE scaled difference
    ``m = 2k·s − (Σtopk_src + Σtopk_tgt)`` (positive ⇔ the pair beats
    the mean of its two neighborhoods; monotone in the distance margin
    a − (μ_src+μ_tgt)/2) — pure int64 adds/multiplies, so Spark and an
    oracle agree bit-for-bit even for negative cosines where integer
    division truncation differs between engines.

    A pair survives iff it is BOTH its source's and its target's
    best-margin candidate AND ``m ≥ threshold_scaled`` (0 = beat your
    neighborhood mean). Candidates are the union of forward and
    backward top-k. Returns (src_id, tgt_id, score_nano,
    margin_scaled). Assumes ≥ k rows on each side.

    Scale: broadcast the smaller pool; scoring is map-side. For pools
    past broadcast size, generate candidates with the ANN shortlists
    and feed them through the same margin/mutuality windows.
    """
    s_pool = F.broadcast(with_norm(
        src.select(F.col(id_col).alias("src_id"), vec_double(vec_col).alias("__sv")), "__sv"
    ))
    t_pool = with_norm(
        tgt.select(F.col(id_col).alias("tgt_id"), vec_double(vec_col).alias("__tv")), "__tv"
    )
    scored = s_pool.crossJoin(t_pool).select(
        "src_id", "tgt_id",
        F.round(pair_cosine("__sv", "__tv") * 1e9).cast("long").alias("score_nano"),
    )
    w_s = Window.partitionBy("src_id").orderBy(F.desc("score_nano"), "tgt_id")
    w_t = Window.partitionBy("tgt_id").orderBy(F.desc("score_nano"), "src_id")
    ranked = scored.select(
        "*",
        F.row_number().over(w_s).alias("__rs"),
        F.row_number().over(w_t).alias("__rt"),
    )
    sum_s = (
        ranked.filter(F.col("__rs") <= k)
        .groupBy("src_id").agg(F.sum("score_nano").alias("__sum_s"))
    )
    sum_t = (
        ranked.filter(F.col("__rt") <= k)
        .groupBy("tgt_id").agg(F.sum("score_nano").alias("__sum_t"))
    )
    cand = (
        ranked.filter((F.col("__rs") <= k) | (F.col("__rt") <= k))
        .join(F.broadcast(sum_s), "src_id")
        .join(F.broadcast(sum_t), "tgt_id")
        .withColumn(
            "margin_scaled",
            F.lit(2 * k) * F.col("score_nano") - F.col("__sum_s") - F.col("__sum_t"),
        )
    )
    w_ms = Window.partitionBy("src_id").orderBy(F.desc("margin_scaled"), "tgt_id")
    w_mt = Window.partitionBy("tgt_id").orderBy(F.desc("margin_scaled"), "src_id")
    return (
        cand.select(
            "src_id", "tgt_id", "score_nano", "margin_scaled",
            F.row_number().over(w_ms).alias("__bs"),
            F.row_number().over(w_mt).alias("__bt"),
        )
        .filter(
            (F.col("__bs") == 1) & (F.col("__bt") == 1)
            & (F.col("margin_scaled") >= int(threshold_scaled))
        )
        .select("src_id", "tgt_id", "score_nano", "margin_scaled")
    )


def topk_eval_metrics(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Retrieval-quality metrics of an approximate top-k against the
    exact ground truth, per query: ``n_hits`` (overlap size),
    ``recall_ppm`` (n_hits·10⁶ div k), and ``mrr_ppm`` (10⁶ div the
    approx rank of the TRUE nearest neighbor; 0 when the approx list
    misses it entirely). Integer-exact — the eval harness for every ANN
    recall ladder, as a queryable frame instead of an in-query assert.

    Both inputs are (query, id, rank) frames from the same deterministic
    tie-break contract (score desc rounded to 9 dp, then id). The join
    keys on (query, id) — top-k-sized inputs, so the whole evaluation is
    a few KB regardless of corpus scale.
    """
    t = truth.select(
        F.col(query_id_col).alias("__q"), F.col(id_col).alias("__id"), F.col("rank")
    )
    a = approx.select(
        F.col(query_id_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col("rank").alias("__arank"),
    )
    hits = (
        t.join(a, ["__q", "__id"])
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max(F.when(F.col("rank") == 1, F.col("__arank"))).alias("__top1_rank"),
        )
    )
    qs = t.select("__q").distinct()
    return (
        qs.join(hits, "__q", "left")
        .select(
            F.col("__q").alias(query_id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.expr(f"coalesce(n_hits, 0L) * 1000000L div {int(k)}").alias("recall_ppm"),
            F.coalesce(
                F.expr("1000000L div __top1_rank"), F.lit(0).cast("long")
            ).alias("mrr_ppm"),
        )
    )
