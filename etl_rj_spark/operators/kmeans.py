"""Deterministic distributed k-means — the trained-partitioning IVF
path for ANN at scale (cluster the corpus once, probe one cell per
query), built so the *training loop itself* is engine-exact.

Float k-means is not reproducible on a cluster: float addition is not
associative, so per-partition sum order changes the centroids between
runs, let alone between engines. Here every component is quantized to
int64 (``floor(x * 2^20)`` — the same quantization the LSH bucket
oracle uses), so

- distances are exact integer sums of squared diffs (max 64 dims ×
  (2^21)^2 ≈ 2.8e14, comfortably inside int64),
- centroid updates are exact integer column sums followed by an
  explicit floor division (``(s - posmod(s, n)) / n`` — both Spark and
  DuckDB ``%`` truncate toward the dividend's sign, so the positive
  mod and hence the floor are identical in both engines),

making the fit a pure function of (data, k, iters): bit-identical
across partitionings, run orders, and engines. The DuckDB oracle for
``kmeans_cells`` replays the same two Lloyd iterations in SQL and must
match exactly — a correctness gate most engines can't offer for an
iterative algorithm.

Scale shape: each iteration is one broadcast of k×dim centroid ints to
the executors, one scan computing argmin-assignment (codegen'd integer
expressions), and one (cell, dim)-keyed partial-agg shuffle of
64·k running sums — no all-pairs stage anywhere. Assignment output is
the IVF layout: write the corpus bucketed by ``cell`` and a query
probes exactly one bucket.

Reference parity: the reference has no ANN at all (four pandas ETL
scripts); this extends SURVEY §2's similarity-search north star
alongside ``operators/similarity.py`` (sign-bit IVF, hyperplane LSH).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# the ONE quantization contract (floor(x·2^20) → int64) lives in
# operators.similarity; k-means and LSH must never drift apart on it —
# their oracles replay the same definition
from etl_rj_spark.functions.exprs import bind_once
from etl_rj_spark.operators.similarity import (  # noqa: F401
    QUANT_SCALE,
    _c,
    quantize_vec,
)


def _sqdist(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two int64 vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _floor_div(s: str, n: str) -> Column:
    """Exact floor(s / n) for int64 column ``s``, positive int64 column
    ``n``, identical in Spark and DuckDB: subtract the positive mod
    (both engines' % truncates toward the dividend's sign), then the
    ``div`` is an exact integer division — never a double, so it stays
    exact past 2^53 where float division would round."""
    return F.expr(f"(({s} - (({s} % {n} + {n}) % {n})) div {n})")


def auto_cells(
    n_rows: int, target_cell_size: int = 512, min_cells: int = 8
) -> int:
    """Cell count for a corpus of ``n_rows`` that HOLDS THE CELL SIZE
    CONSTANT as the corpus grows: ``k = max(min_cells,
    ceil(n / target_cell_size))``.

    Why this is the scale contract and not a convenience: every
    cell-confined quadratic in this package (SemDeDup's within-cell
    prune, IVF rescoring) costs Σ|cell|² ≈ n·|cell| when cells are
    balanced — LINEAR in n at fixed cell size, but n²/k if k is
    frozen while n grows. The r12 5× scale ladder measured exactly
    that failure: ``semdedup`` with a fixed k=8 ran 6.7× slower on
    5× data (cells 5× fatter → 25× pair work); with ``auto_cells``
    the same step is ~linear (BASELINE.md r12 ladder). The price is
    the assignment argmin's n·k = n²/target term — a per-row
    packed-broadcast dot product with a ~100× smaller constant than
    the pairwise prune, which is the right side of the trade until k
    reaches broadcast limits (~10⁵ centroids at 64 dims); past that,
    shard the corpus or train a two-level (coarse × fine) codebook —
    the IVFPQ path. ``√n`` cells (equalizing the two terms at n^1.5
    each) is the textbook compromise; constant cell size is chosen
    here because the prune term dominates wall-clock at every scale
    this repo measures, and linear beats n^1.5.

    Callers with an oracle-pinned k (the sf-fixed test fixtures) pass
    their literal k; production entry points derive it from a cheap
    ``count()``."""
    import math

    if n_rows <= 0:
        return min_cells
    return max(min_cells, math.ceil(n_rows / target_cell_size))


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 2,
    quantize: bool = True,
) -> DataFrame:
    """Train integer k-means; returns (cid, cv: array<bigint>).

    Deterministic by construction: init = the k rows with smallest
    ``id_col`` (data-defined, no RNG), fixed iteration count, exact
    integer updates. A cluster that loses all members keeps its
    previous centroid (deterministic, and keeps k stable).

    Choosing ``k``: the DEFAULT (``k=None``) derives it from
    :func:`auto_cells` via one cheap count, so every production entry
    point that trains centroids for a cell-confined quadratic
    (SemDeDup, IVF rescoring, persisted indexes) holds the cell size
    — and with it the downstream Σ|cell|² — constant as the corpus
    grows. A LITERAL ``k`` is the explicit opt-out for oracle-pinned
    fixtures and codebook shapes (PQ's 2^bits). The old frozen
    ``k=8`` default was exactly the r12 5× ladder failure (6.7× wall
    for 5× data, VERDICT r12 #8 — the test suite pins the None
    default so it cannot silently return).

    ``quantize=False`` takes ``vec_col`` as ALREADY-integer arrays
    (e.g. IVF-PQ residuals ``iv - coarse_cv``) — quantizing twice
    would rescale them.
    """
    if k is None:
        k = auto_cells(df.where(F.col(vec_col).isNotNull()).count())
    vec = quantize_vec(vec_col) if quantize else _c(vec_col)
    # NULL vectors are not clusterable points: a NULL seed or member
    # would poison every centroid mean (r10 nullmix-regime fix)
    pts = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), vec.alias("__iv"))
        .localCheckpoint()
    )

    centroids = (
        pts.orderBy("__id")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("__id")).alias("cid"),
            F.col("__iv").alias("cv"),
        )
        .localCheckpoint()
    )

    for _ in range(iters):
        assigned = _assign(pts, centroids)
        sums = (
            assigned.select("cid", F.posexplode("__iv").alias("idx", "val"))
            .groupBy("cid", "idx")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .select("cid", "idx", _floor_div("s", "n").alias("m"))
        )
        new_cv = (
            sums.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("pairs"))
            .select("cid", F.transform("pairs", lambda p: p["m"]).alias("cv"))
        )
        # empty clusters keep their previous centroid
        centroids = (
            centroids.select("cid", F.col("cv").alias("old_cv"))
            .join(new_cv, "cid", "left")
            .select("cid", F.coalesce("cv", "old_cv").alias("cv"))
            .localCheckpoint()
        )
    return centroids


def _assign(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, tie-break on smallest cid.

    Zero-shuffle: the k centroids are packed into ONE broadcast row
    (array of (cid, cv) structs) and argmin is ``array_min`` over
    ``struct(dist, cid)`` — lexicographic struct ordering IS the
    (distance, cid) tie-break, and min over a set is independent of
    ``collect_list``'s nondeterministic order; the ``array_sort``
    wrapper (r15) additionally pins the PLAN-level order so the
    order-determinism audit (etl_rj_spark/plans/audit.py) can verify
    determinism structurally instead of by allowlist — k structs,
    one row, free. Assignment is a pure
    map over the corpus scan; the naive alternative (explode k rows
    per point + row_number window) would shuffle the whole corpus
    once per Lloyd iteration."""
    packed = F.broadcast(
        centroids.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("__cents"))
    )
    best = F.array_min(
        F.transform(
            "__cents",
            lambda c: F.struct(
                _sqdist(F.col("__iv"), c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
    )
    # ROW-GRAIN pass-through: every pts column rides along, so callers
    # can carry payload (the double vector, doc text) THROUGH the
    # assignment instead of joining it back by id afterwards — a
    # join-back fans out multiplicity² when ids are duplicated (a
    # re-ingested shard; r11 dupstorm-regime fix) and costs a
    # corpus-sized shuffle even when they aren't
    return pts.crossJoin(packed).select(
        *[c for c in pts.columns], best["cid"].alias("cid")
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry: "dict[str, Column] | None" = None,
) -> DataFrame:
    """(id, cell[, carry...]) ONE ROW PER INPUT ROW — the IVF bucketing
    layout. At scale, write the corpus partitioned/bucketed by ``cell``
    so a query scans exactly one bucket.

    ``carry`` maps output names to Column expressions over ``df``
    evaluated alongside the assignment (e.g. the double-precision
    vector a rescoring stage needs). Carrying payload through the
    map-side argmin replaces the old join-back-by-id pattern, which
    fanned out multiplicity² under duplicated ids (r11 dupstorm-regime
    fix) and paid a corpus-sized shuffle even on clean data."""
    # NULL vectors have no nearest cell — silently routing them to an
    # arbitrary bucket was the r10 nullmix-regime bug; they are dropped
    # here (the IVF probe/append paths separately ERROR on them via
    # the _meta dim guard, which is the right posture for an index)
    carry = carry or {}
    # "__cents" is _assign's packed-centroid broadcast column — a carry
    # by that name rides into the crossJoin and collides there, exactly
    # the shadowing class this guard rejects (ADVICE r12)
    reserved = {"__id", "__iv", "__cents", "cid", "cell", id_col}
    clash = sorted(set(carry) & reserved)
    if clash:
        # a carry name shadowing an internal/output column would
        # silently produce duplicate or wrong columns (ADVICE r11)
        raise ValueError(
            f"carry names {clash} collide with reserved assignment "
            f"columns {sorted(reserved)}"
        )
    pts = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        quantize_vec(vec_col).alias("__iv"),
        *[expr.alias(name) for name, expr in carry.items()],
    )
    return _assign(pts, centroids).select(
        F.col("__id").alias(id_col),
        F.col("cid").alias("cell"),
        *[F.col(name) for name in carry],
    )


def kmeans_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k through trained cells: assign both sides to their
    nearest centroid, equi-join on cell, exact cosine rescoring (9 dp,
    id tie-break — the contract shared by every top-k in
    ``operators/similarity.py``). The rescoring vectors ride THROUGH
    the assignment (``carry``) — no join-back by id, so duplicated ids
    neither fan out nor cost a corpus shuffle (r11)."""
    from etl_rj_spark.operators.similarity import pair_cosine, vec_norm_carry

    c = kmeans_assign(corpus, centroids, vec_col, id_col, carry=vec_norm_carry(vec_col))
    q = F.broadcast(
        kmeans_assign(
            queries, centroids, vec_col, id_col, carry=vec_norm_carry(vec_col)
        ).select(
            F.col(id_col).alias(query_id_col), "cell",
            F.col("__v").alias("__qv"), F.col("__v_norm").alias("__qv_norm"),
        )
    )
    scored = q.join(c, "cell").select(
        query_id_col,
        id_col,
        F.round(pair_cosine("__qv", "__v"), 9).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


#: Version tag of the cell-assignment arithmetic. BUMP whenever the
#: quantization or distance changes: a persisted index probed under a
#: different family routes queries to the wrong cells — recall
#: silently collapses instead of erroring (the same hazard class as
#: text_dedup.MINHASH_FAMILY, which caught exactly this in round 5).
IVF_FAMILY = "int64-floor-q20-sqdist-v1"


def persist_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table_prefix: str,
    path_prefix: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[str, str]:
    """Write the corpus ANN index as a cell-PARTITIONED catalog table
    (``{prefix}_cells``: id, vector, partition column ``cell``) plus
    the trained centroids (``{prefix}_centroids``) and a ``_meta``
    guard table — the embedding twin of
    ``text_dedup.persist_minhash_index``. Written ONCE; every later
    probe assigns its (tiny) query batch to cells map-side against the
    broadcast centroids and joins ON THE PARTITION COLUMN, so the
    scan of the corpus-sized index prunes to exactly the probed cells
    (dynamic partition pruning) and the index side never shuffles —
    re-clustering the corpus per query batch is the thing this layout
    exists to avoid at 100 TB.

    ``probe_ivf_index`` refuses a family/dim mismatch via ``_meta``
    rather than silently probing wrong cells. With ``path_prefix`` the
    three tables are external, each at ``{path_prefix}/{table}`` —
    the ``persist_minhash_index`` layout."""
    spark = corpus.sparkSession
    cells = kmeans_assign(corpus, centroids, vec_col, id_col)
    idx = corpus.select(F.col(id_col), F.col(vec_col)).join(cells, id_col)
    first_cv = centroids.select("cv").first()
    if first_cv is None:
        # an empty centroid set (k-means fit on an empty corpus) can
        # never serve a probe — refuse with a diagnosis instead of a
        # NoneType crash (r10 degenerate-input sweep fix)
        raise ValueError(
            f"{table_prefix}: cannot persist an IVF index with ZERO "
            "centroids — the corpus the k-means was fit on is empty"
        )
    dim = len(first_cv[0])

    def _write(df, name, partition_by=None):
        w = df.write.mode("overwrite").format("parquet")
        if partition_by:
            w = w.partitionBy(partition_by)
        if path_prefix:
            w = w.option("path", f"{path_prefix}/{name}")
        w.saveAsTable(name)

    _write(idx, f"{table_prefix}_cells", partition_by="cell")
    _write(centroids, f"{table_prefix}_centroids")
    meta = spark.createDataFrame(
        [(IVF_FAMILY, dim)], "family string, dim int"
    )
    _write(meta, f"{table_prefix}_meta")
    return f"{table_prefix}_cells", f"{table_prefix}_centroids"


def _with_index_dim_guard(
    df: DataFrame, vec_col: str, meta_dim: int, table_prefix: str
) -> DataFrame:
    """Refuse a dim mismatch (r9 review fix — the _meta guard wrote
    ``dim`` but nothing read it): a probe/append batch with the wrong
    vector width would NULL-pad the zip_with distances and silently
    assign arbitrary cells — recall collapses with zero error, the
    exact hazard class IVF_FAMILY exists to prevent.

    The guard is folded INTO the batch's own assignment job as a
    per-row ``raise_error`` branch on ``size(vec)`` (r10 ADVICE fix:
    the previous ``first()`` check validated only row 1 — a mixed-dim
    batch slipped through — and cost an extra Spark job per
    probe/append). EVERY row is checked, including NULL vectors (a
    NULL vector cannot be assigned to a cell), at zero extra jobs."""
    d = F.size(F.col(vec_col))
    err = F.raise_error(
        F.concat(
            F.lit(f"{table_prefix}: batch vector dim "),
            F.coalesce(d.cast("string"), F.lit("NULL")),
            F.lit(
                f" != index dim {meta_dim} — rebuild or re-encode; "
                "probing across dims silently collapses recall"
            ),
        )
    )
    return df.withColumn(
        vec_col, F.when(d == F.lit(meta_dim), F.col(vec_col)).otherwise(err)
    )


def append_ivf_index(
    new_vectors: DataFrame,
    table_prefix: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch of NEW vectors into a :func:`persist_ivf_index`
    layout without refitting: the batch assigns against the index's
    OWN persisted centroids (family-guarded — assignment under a
    different quantization would route to wrong cells) and appends
    into the cell partitions. K1-style idempotence
    (sinks/incremental.py posture): the batch anti-joins the index's
    EXISTING ids first — projected to the id column only, restricted
    to the batch's touched cells (≤ k partitions read, id column
    pruned) — so a redelivered batch inserts nothing twice. Centroids
    deliberately stay fixed: an IVF index's cells are its physical
    layout; drift is handled by periodic re-layout, never by mutating
    the layout under readers."""
    spark = new_vectors.sparkSession
    meta = spark.table(f"{table_prefix}_meta").first()
    if meta.family != IVF_FAMILY:
        raise ValueError(
            f"{table_prefix}: index family {meta.family!r} != engine {IVF_FAMILY!r}"
        )
    new_vectors = _with_index_dim_guard(new_vectors, vec_col, meta.dim, table_prefix)
    centroids = spark.table(f"{table_prefix}_centroids")
    cells = kmeans_assign(new_vectors, centroids, vec_col, id_col)
    batch = new_vectors.select(F.col(id_col), F.col(vec_col)).join(cells, id_col)
    touched = [r.cell for r in batch.select("cell").distinct().collect()]
    if not touched:
        return
    existing = (
        spark.table(f"{table_prefix}_cells")
        .where(F.col("cell").isin(touched))
        .select(id_col)
    )
    fresh = batch.join(existing, id_col, "left_anti")
    # column order must match the table (partition column last)
    fresh.select(id_col, vec_col, "cell").write.mode("append").insertInto(
        f"{table_prefix}_cells"
    )


def probe_ivf_index(
    spark,
    queries: DataFrame,
    table_prefix: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k against a :func:`persist_ivf_index` layout: queries
    assign to cells map-side (broadcast centroids), the broadcast
    query batch joins the index on its PARTITION column (the scan
    prunes to probed cells; zero Exchange on the index side), exact
    cosine rescoring inside the cell under the shared 9-dp/id-tiebreak
    contract."""
    from etl_rj_spark.operators.similarity import pair_cosine, vec_double, with_norm

    meta = spark.table(f"{table_prefix}_meta").first()
    if meta.family != IVF_FAMILY:
        raise ValueError(
            f"{table_prefix}: index family {meta.family!r} != engine {IVF_FAMILY!r} — "
            "rebuild the index; probing across families silently collapses recall"
        )
    queries = _with_index_dim_guard(queries, vec_col, meta.dim, table_prefix)
    centroids = spark.table(f"{table_prefix}_centroids")
    # cell assignment INLINE over the packed-centroid broadcast (the
    # zero-shuffle argmin of kmeans._assign) so the probe side carries
    # (query_id, qv, cell) from one map pass — a separate
    # kmeans_assign + re-join would plan probe-side shuffles for
    # nothing
    from etl_rj_spark.operators.similarity import quantize_vec

    packed = F.broadcast(
        centroids.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("__cents"))
    )
    # query vector quantized ONCE via bind_once (r16, guide §1.2):
    # inlined in the per-centroid lambda it re-quantized per centroid
    best = bind_once(
        quantize_vec(vec_col),
        lambda qv: F.array_min(
            F.transform(
                "__cents",
                lambda c: F.struct(
                    _sqdist(qv, c["cv"]).alias("d"), c["cid"].alias("cid")
                ),
            )
        ),
    )
    # the query norm is attached BEFORE the centroid crossJoin and the
    # index norm before the cell join: norms are per vector, never per
    # pair (see operators/similarity.py)
    qv = with_norm(queries.withColumn("__qv", vec_double(vec_col)), "__qv")
    q = F.broadcast(
        qv.crossJoin(packed).select(
            F.col(id_col).alias(query_id_col), "__qv", "__qv_norm", best["cid"].alias("cell"),
        )
    )
    idx = with_norm(
        spark.table(f"{table_prefix}_cells").select(
            id_col, "cell", vec_double(vec_col).alias("__cv")
        ),
        "__cv",
    )
    scored = q.join(idx, "cell").select(
        query_id_col,
        id_col,
        F.round(pair_cosine("__qv", "__cv"), 9).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive-training data mining: for each anchor (query
    vector), the top-k most-cosine-similar corpus vectors with a
    DIFFERENT label — the "hard negatives" that dominate the gradient
    signal of a contrastive/triplet objective (easy negatives are
    information-free; the valuable ones are near-misses across the
    label boundary).

    Same scale shape as :func:`kmeans_ivf_topk`: both sides assign to
    their trained cell map-side against broadcast centroids, the
    candidate join is an equi-join on cell (hard negatives are by
    definition NEAR the anchor, so cell confinement loses only easy
    negatives), and exact cosine rescoring runs inside the cell with
    the shared 9-dp/id-tiebreak determinism contract. The label
    inequality is a pushed predicate on the candidate join, not a
    post-filter over a wider top-k — so k SURVIVING negatives come
    back even when the anchor's own class floods its neighborhood.

    Returns (query_id, anchor label, vec_id, negative label, score,
    rank 1..k).
    """
    from etl_rj_spark.operators.similarity import pair_cosine, vec_double, with_norm

    c_cells = kmeans_assign(corpus, centroids, vec_col, id_col)
    q_cells = kmeans_assign(queries, centroids, vec_col, id_col)
    c = with_norm(corpus.select(
        F.col(id_col),
        F.col(label_col).alias("neg_label"),
        vec_double(vec_col).alias("__cv"),
    ), "__cv").join(c_cells, id_col)
    q = F.broadcast(
        with_norm(queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(label_col).alias("anchor_label"),
            vec_double(vec_col).alias("__qv"),
        ), "__qv").join(q_cells.select(F.col(id_col).alias(query_id_col), "cell"), query_id_col)
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .select(
            query_id_col,
            "anchor_label",
            id_col,
            "neg_label",
            F.round(pair_cosine("__qv", "__cv"), 9).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product Quantization (PQ) — ADC scan compression for embeddings
# ---------------------------------------------------------------------------

def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
) -> list[DataFrame]:
    """Product-Quantization codebooks (Jégou et al., TPAMI'11 — public
    algorithm): the vector is split into ``m`` subvectors and each
    subspace gets its own ``k``-codeword integer k-means codebook —
    ``m`` independent :func:`kmeans_fit` runs over slices, so the fit
    inherits the engine-exact determinism (and the DuckDB oracle can
    replay every subspace). Returns ``m`` centroid frames (cid, cv)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    from etl_rj_spark.operators.similarity import vec_double

    books = []
    for s in range(m):
        sl = F.slice(vec_double(vec_col), s * sub + 1, sub).alias("__sv")
        books.append(
            kmeans_fit(df.select(F.col(id_col), sl), "__sv", id_col, k=k, iters=iters)
        )
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[DataFrame],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """(id, code_0..code_{m-1}) — each subvector's nearest codeword id
    (ties on smallest cid, same contract as ``_assign``). Single scan:
    all ``m`` argmins evaluate map-side against ``m`` packed broadcast
    codebooks; a 64-float vector compresses to ``m`` small ints, which
    is the point — the stored corpus shrinks ~64× and the ADC scan
    becomes memory-bandwidth-bound integer lookups."""
    from etl_rj_spark.operators.similarity import vec_double

    m = len(codebooks)
    sub = dim // m
    out = df.select(F.col(id_col), vec_double(vec_col).alias("__dv"))
    for s, cb in enumerate(codebooks):
        out = out.crossJoin(
            F.broadcast(cb.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias(f"__cents{s}")))
        )
    def _best_fn(sv):
        # closure factory: a default-arg capture (lambda c, sv=sv) has
        # arity 2, which pyspark treats as an (element, index) lambda
        # and silently binds the INDEX to sv
        return lambda c: F.struct(_sqdist(sv, c["cv"]).alias("d"), c["cid"].alias("cid"))

    def _code_fn(cents_col):
        # subvector bound once (r16, guide §1.2): inlined in the
        # per-codeword lambda, the slice+quantize re-ran k× per row
        return lambda sv: F.array_min(F.transform(cents_col, _best_fn(sv)))["cid"]

    sels = [F.col(id_col)]
    for s in range(m):
        sv = quantize_vec(F.slice("__dv", s * sub + 1, sub))
        sels.append(bind_once(sv, _code_fn(f"__cents{s}")).alias(f"code_{s}"))
    return out.select(*sels)


def pq_adc_topk(
    corpus_codes: DataFrame,
    codebooks: list[DataFrame],
    queries: DataFrame,
    topk: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-Distance-Computation top-k: per query, one exact
    integer distance table per subspace (k entries: squared distance
    from the query's quantized subvector to each codeword), then the
    corpus scan sums ``m`` table lookups per code row. Distances are
    exact int64 end to end — rank order is engine-deterministic, so
    the whole ADC path is oracle-checkable (no float anywhere).

    Honest posture: PQ-ADC is SCAN COMPRESSION, not candidate
    pruning — every code row is visited, but at ~1/64th the bytes of
    the raw vectors; compose with the IVF cell layout (probe one cell,
    ADC within it) for the classic IVF-PQ pipeline."""
    from etl_rj_spark.operators.similarity import vec_double

    m = len(codebooks)
    sub = dim // m
    q = queries.select(
        F.col(id_col).alias(query_id_col), vec_double(vec_col).alias("__dv")
    )
    for s, cb in enumerate(codebooks):
        q = q.crossJoin(
            F.broadcast(cb.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias(f"__cents{s}")))
        )
    def _dist_fn(sv):
        return lambda c: _sqdist(sv, c["cv"])  # closure, not default-arg (arity!)

    def _dtable_fn(cents_col):
        # subvector bound once (r16, guide §1.2): see pq_encode
        return lambda sv: F.transform(F.array_sort(F.col(cents_col)), _dist_fn(sv))

    tcols = [F.col(query_id_col)]
    for s in range(m):
        sv = quantize_vec(F.slice("__dv", s * sub + 1, sub))
        # array_sort on (cid, cv) structs orders by cid 1..k, so the
        # distance table is indexable by codeword id via element_at
        tcols.append(bind_once(sv, _dtable_fn(f"__cents{s}")).alias(f"__dt{s}"))
    qtables = q.select(*tcols)
    adist = None
    for s in range(m):
        term = F.element_at(F.col(f"__dt{s}"), F.col(f"code_{s}"))
        adist = term if adist is None else adist + term
    scored = F.broadcast(qtables).crossJoin(corpus_codes).select(
        query_id_col, id_col, adist.alias("adist")
    )
    w = Window.partitionBy(query_id_col).orderBy("adist", id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= topk
    )


def pq_topk_rerank(
    corpus: DataFrame,
    corpus_codes: DataFrame,
    codebooks: list[DataFrame],
    queries: DataFrame,
    topk: int,
    shortlist: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """The production PQ pipeline: ADC over the compressed codes
    builds a ``shortlist``-deep candidate list per query, then ONLY
    those rows are re-ranked with the exact integer L2 distance on the
    full quantized vectors. The expensive exact math touches
    queries × shortlist rows instead of queries × N — on this corpus
    a 10 %-of-N shortlist already measures recall ≈ 0.9 and 20 %
    measures 1.0 (random vectors are PQ's worst case; clustered
    real-world embeddings compress far better). All-integer, so rank
    order — and therefore the whole pipeline — is oracle-exact."""
    short = pq_adc_topk(
        corpus_codes, codebooks, queries, topk=shortlist,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col, dim=dim,
    ).select(query_id_col, id_col)
    qv = queries.select(
        F.col(id_col).alias(query_id_col), quantize_vec(vec_col).alias("__qiv")
    )
    cv = corpus.select(F.col(id_col), quantize_vec(vec_col).alias("__civ"))
    exact = (
        short.join(F.broadcast(qv), query_id_col)
        .join(cv, id_col)
        .select(
            query_id_col, id_col,
            _sqdist(F.col("__qiv"), F.col("__civ")).alias("l2_int"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy("l2_int", id_col)
    return exact.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= topk
    )


def ivfpq_build(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    coarse_k: int = 8,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, list[DataFrame], DataFrame]:
    """IVF-PQ index build (Jégou et al. — the classic billion-scale
    ANN layout): a coarse k-means partitions the corpus into
    ``coarse_k`` cells, and PQ codebooks are trained on the RESIDUALS
    ``iv − cell_centroid`` (residuals are what make PQ sharp inside a
    cell — they're centered near zero, so the same codebook budget
    quantizes them far more finely than raw vectors). Residuals are
    exact int64 subtractions of already-quantized components, so the
    whole build stays engine-exact.

    Returns ``(coarse_centroids, residual_codebooks, codes)`` with
    ``codes = (id, cell, code_0..code_{m-1})`` — at scale, write
    ``codes`` bucketed by ``cell`` and a query streams one bucket.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    coarse = kmeans_fit(df, vec_col, id_col, k=coarse_k, iters=iters)
    pts = df.select(F.col(id_col).alias("__id"), quantize_vec(vec_col).alias("__iv"))
    assigned = _assign(pts, coarse)
    resid = (
        assigned.join(F.broadcast(coarse), "cid")
        .select(
            "__id",
            F.col("cid").alias("cell"),
            F.zip_with("__iv", "cv", lambda x, y: x - y).alias("__riv"),
        )
        .localCheckpoint()  # m sub-fits + encode all read this frame
    )
    books = []
    for s in range(m):
        sl = F.slice("__riv", s * sub + 1, sub).alias("__rs")
        books.append(
            kmeans_fit(
                resid.select(F.col("__id"), sl), "__rs", "__id",
                k=k, iters=iters, quantize=False,
            )
        )
    out = resid
    for s, cb in enumerate(books):
        out = out.crossJoin(
            F.broadcast(cb.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias(f"__cents{s}")))
        )

    def _best_fn(sv):
        return lambda c: F.struct(_sqdist(sv, c["cv"]).alias("d"), c["cid"].alias("cid"))

    def _code_fn(cents_col):
        # residual subvector bound once (r16, guide §1.2): inlined in
        # the per-codeword lambda, the slice re-ran k× per corpus row
        return lambda sv: F.array_min(F.transform(cents_col, _best_fn(sv)))["cid"]

    sels = [F.col("__id").alias(id_col), F.col("cell")]
    for s in range(m):
        sv = F.slice("__riv", s * sub + 1, sub)
        sels.append(bind_once(sv, _code_fn(f"__cents{s}")).alias(f"code_{s}"))
    return coarse, books, out.select(*sels)


def _assign_topn(pts: DataFrame, centroids: DataFrame, n: int) -> DataFrame:
    """Top-``n`` nearest centroids per point (the nprobe generalization
    of ``_assign`` — same packed-broadcast zero-shuffle posture;
    ``array_sort`` on (dist, cid) structs is the deterministic
    ordering, ``slice`` takes the n nearest)."""
    packed = F.broadcast(
        centroids.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("__cents"))
    )
    dists = F.array_sort(
        F.transform(
            "__cents",
            lambda c: F.struct(
                _sqdist(F.col("__iv"), c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
    )
    return (
        pts.crossJoin(packed)
        .select("__id", "__iv", F.explode(F.slice(dists, 1, n)).alias("__p"))
        .select("__id", "__iv", F.col("__p")["cid"].alias("cid"))
    )


def ivfpq_topk(
    corpus: DataFrame,
    coarse: DataFrame,
    codebooks: list[DataFrame],
    codes: DataFrame,
    queries: DataFrame,
    topk: int,
    shortlist: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ query: assign each query to its ``nprobe`` nearest
    coarse cells, compute per-(query, cell) distance tables against
    THAT cell's residual, ADC-scan only the probed cells' codes for a
    shortlist, then exact integer L2 re-rank on the full vectors. The
    cell equi-join is the IVF win (nprobe/coarse_k of the codes
    scanned); raising ``nprobe`` is the standard recall knob — each
    extra probe is one more (cell, dtable) query row through the SAME
    join, no new machinery. All-int64, oracle-exact end to end (the
    registry oracle replays nprobe=1; nprobe monotonicity is pinned in
    tests)."""
    m = len(codebooks)
    sub = dim // m
    qpts = queries.select(
        F.col(id_col).alias("__id"), quantize_vec(vec_col).alias("__iv")
    )
    qass = _assign_topn(qpts, coarse, nprobe)
    qres = qass.join(F.broadcast(coarse), "cid").select(
        F.col("__id").alias(query_id_col),
        F.col("cid").alias("cell"),
        F.zip_with("__iv", "cv", lambda x, y: x - y).alias("__riv"),
    )
    for s, cb in enumerate(codebooks):
        qres = qres.crossJoin(
            F.broadcast(cb.agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias(f"__cents{s}")))
        )

    def _dist_fn(sv):
        return lambda c: _sqdist(sv, c["cv"])

    def _dtable_fn(cents_col):
        # residual subvector bound once (r16, guide §1.2): see pq_encode
        return lambda sv: F.transform(F.array_sort(F.col(cents_col)), _dist_fn(sv))

    tcols = [F.col(query_id_col), F.col("cell")]
    for s in range(m):
        sv = F.slice("__riv", s * sub + 1, sub)
        tcols.append(bind_once(sv, _dtable_fn(f"__cents{s}")).alias(f"__dt{s}"))
    qtables = qres.select(*tcols)
    adist = None
    for s in range(m):
        term = F.element_at(F.col(f"__dt{s}"), F.col(f"code_{s}"))
        adist = term if adist is None else adist + term
    short = (
        F.broadcast(qtables)
        .join(codes, "cell")
        .select(query_id_col, id_col, adist.alias("adist"))
    )
    ws = Window.partitionBy(query_id_col).orderBy("adist", id_col)
    short = short.withColumn("__rn", F.row_number().over(ws)).filter(
        F.col("__rn") <= shortlist
    ).select(query_id_col, id_col)
    qv = queries.select(
        F.col(id_col).alias(query_id_col), quantize_vec(vec_col).alias("__qiv")
    )
    cv = corpus.select(F.col(id_col), quantize_vec(vec_col).alias("__civ"))
    exact = (
        short.join(F.broadcast(qv), query_id_col)
        .join(cv, id_col)
        .select(
            query_id_col, id_col,
            _sqdist(F.col("__qiv"), F.col("__civ")).alias("l2_int"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy("l2_int", id_col)
    return exact.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= topk
    )
