"""Direct pins for the engine's equivalence tricks: each test fails when
its trick breaks, independently of the oracle suite.

- cosine over a pair product scores from per-vector norms attached
  before the join, bit-identical to the row-local ``cosine()``, and no
  pair-level plan node evaluates a norm again;
- the replicated bench corpora spread over the session's default
  parallelism, never a literal partition count;
- the Jaccard size-bound prune keeps a pair at exactly τ;
- ``bind_once`` is value-identical to inlining, NULLs included.
"""

from __future__ import annotations

import ast
import inspect
import math
import re

import pytest
from pyspark.sql import functions as F


def _vectors(spark, n: int = 12, dim: int = 8):
    """``n`` pseudo-random float vectors in [-1, 1) built in the JVM,
    plus a zero vector (id ``n``, no direction) and a NULL one
    (id ``n + 1``)."""
    rnd = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: (F.pmod(F.xxhash64("id", j), F.lit(2000)) / 1000.0 - 1.0).cast("float"),
    )
    return spark.range(n + 2).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") < n, rnd)
        .when(F.col("id") == n, F.array_repeat(F.lit(0.0).cast("float"), dim))
        .alias("embedding"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("label"),
    )


def _centroids(spark, dim: int = 8):
    from etl_rj_spark.operators.similarity import QUANT_SCALE

    cv = [[QUANT_SCALE // 2] * dim, [-QUANT_SCALE // 2] * dim]
    return spark.createDataFrame([(1, cv[0]), (2, cv[1])], "cid int, cv array<long>")


def test_pair_cosine_bit_identical_to_cosine(spark):
    """Scores from norms attached per side before a cross join equal
    ``cosine()`` computed in place, bit for bit, on random vectors; a
    zero-norm vector scores NULL and a NULL vector passes through as
    NULL."""
    from etl_rj_spark.operators.similarity import cosine, pair_cosine, vec_double, with_norm

    df = _vectors(spark)
    a = with_norm(df.select(F.col("vec_id").alias("id_a"), vec_double("embedding").alias("__a")), "__a")
    b = with_norm(df.select(F.col("vec_id").alias("id_b"), vec_double("embedding").alias("__b")), "__b")
    rows = (
        a.crossJoin(b)
        .select(
            "id_a", "id_b",
            pair_cosine("__a", "__b").alias("fast"),
            cosine(F.col("__a"), F.col("__b")).alias("ref"),
        )
        .collect()
    )
    vecs = {r.vec_id: r.embedding for r in df.collect()}

    def py_cosine(x, y):
        """The published order: left-to-right sums over doubles."""
        dot = sum_xx = sum_yy = 0.0
        for u, v in zip(x, y):
            dot, sum_xx, sum_yy = dot + u * v, sum_xx + u * u, sum_yy + v * v
        den = math.sqrt(sum_xx) * math.sqrt(sum_yy)
        return dot / den if den else None

    assert len(rows) == 14 * 14
    for r in rows:
        assert r.fast == r.ref or (r.fast is None and r.ref is None), r
        if 12 in (r.id_a, r.id_b) or 13 in (r.id_a, r.id_b):
            assert r.fast is None, r
        else:
            assert r.fast == py_cosine(vecs[r.id_a], vecs[r.id_b]), r
    assert any(r.fast is not None and r.fast != round(r.fast, 9) for r in rows)


def test_cosine_topk_scores_match_row_local_cosine(spark):
    """The operator wiring: cosine_topk's scores are round(cosine, 9)
    of the same pair computed row-locally."""
    from etl_rj_spark.operators.similarity import cosine, cosine_topk, vec_double

    df = _vectors(spark)
    top = cosine_topk(df, df.filter(F.col("vec_id") < 3), k=14)
    ref = (
        df.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), vec_double("embedding").alias("__q")
        )
        .crossJoin(df.select("vec_id", vec_double("embedding").alias("__c")))
        .select("query_id", "vec_id", F.round(cosine(F.col("__q"), F.col("__c")), 9).alias("s"))
    )
    got = {(r.query_id, r.vec_id): r.score for r in top.collect()}
    want = {(r.query_id, r.vec_id): r.s for r in ref.collect()}
    assert got == want


def _join_ancestors_with_sqrt(df) -> list[str]:
    """Names of optimized-plan nodes at or above a Join whose own
    expressions evaluate SQRT — a norm computed per pair."""
    bad: list[str] = []

    def walk(node) -> bool:
        children = node.children()
        has_join = any(walk(children.apply(i)) for i in range(children.size()))
        has_join = has_join or node.nodeName() == "Join"
        if has_join:
            exprs = node.expressions()
            if any("SQRT(" in exprs.apply(i).toString() for i in range(exprs.size())):
                bad.append(node.nodeName())
        return has_join

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad


def test_no_pair_level_norm_in_any_cosine_site(spark):
    """Every operator that scores a pair product computes L2 norms
    below its joins, once per vector: no node at or above a Join
    evaluates SQRT."""
    from etl_rj_spark.operators import kmeans as km
    from etl_rj_spark.operators import similarity as sim

    c = _vectors(spark)
    q = c.filter(F.col("vec_id") < 3)
    cents = _centroids(spark)
    plans = {
        "cosine_topk": sim.cosine_topk(c, q, 2),
        "ivf_topk": sim.ivf_topk(c, q, 2, bits=2),
        "lsh_topk": sim.lsh_topk(c, q, 2, dim=8, bits=2, tables=2),
        "lsh_topk_multiprobe": sim.lsh_topk_multiprobe(c, q, 2, dim=8, bits=2, tables=2),
        "cosine_near_pairs": sim.cosine_near_pairs(c, 0.5),
        "cosine_near_pairs_lsh": sim.cosine_near_pairs_lsh(c, 0.5, dim=8, bits=2, tables=2),
        "semdedup": sim.semdedup(c, cents, 0.9),
        "semdedup_incremental": sim.semdedup_incremental(
            c.select("vec_id", F.lit(1).alias("cell"), "embedding"), q, cents, 0.9
        ),
        "knn_label_vote": sim.knn_label_vote(c, q, 2),
        "margin_bitext_mine": sim.margin_bitext_mine(c, q, k=1),
        "kmeans_ivf_topk": km.kmeans_ivf_topk(c, q, cents, 2),
        "hard_negative_mining": km.hard_negative_mining(c, q, cents, 2),
    }
    offenders = {name: bad for name, df in plans.items() if (bad := _join_ancestors_with_sqrt(df))}
    assert not offenders, offenders
    # the check itself sees a per-pair norm when one is there
    from etl_rj_spark.operators.similarity import cosine, vec_double

    naive = q.select(vec_double("embedding").alias("a")).crossJoin(
        c.select(vec_double("embedding").alias("b"))
    ).select(cosine(F.col("a"), F.col("b")))
    assert _join_ancestors_with_sqrt(naive) == ["Project"]


def test_probe_ivf_index_norms_below_joins(spark):
    """The persisted-index probe, over temp views shaped like the
    tables ``persist_ivf_index`` writes."""
    from etl_rj_spark.operators.kmeans import IVF_FAMILY, probe_ivf_index

    c = _vectors(spark).filter(F.col("embedding").isNotNull())
    prefix = "test_equiv_ivf"
    c.select("vec_id", "embedding", (F.col("vec_id") % 2 + 1).alias("cell")) \
        .createOrReplaceTempView(f"{prefix}_cells")
    _centroids(spark).createOrReplaceTempView(f"{prefix}_centroids")
    spark.createDataFrame([(IVF_FAMILY, 8)], "family string, dim int") \
        .createOrReplaceTempView(f"{prefix}_meta")
    try:
        probe = probe_ivf_index(spark, c.filter(F.col("vec_id") < 3), prefix, k=2)
        assert not _join_ancestors_with_sqrt(probe)
    finally:
        for suffix in ("cells", "centroids", "meta"):
            spark.catalog.dropTempView(f"{prefix}_{suffix}")


# ---------------------------------------------------------------------------
# replicated bench corpora: partitions follow the session
# ---------------------------------------------------------------------------

_SCALED = ("minhash_lsh_pairs_scaled", "cosine_topk_scaled", "embedding_near_pairs_lsh_scaled")


def test_replicated_corpora_use_default_parallelism(spark, sf_dir, monkeypatch):
    from etl_rj_spark.analytics import llm_suite
    from etl_rj_spark.analytics.suite import REGISTRY

    class Spread(Exception):
        """Stops the build at the spread: no job runs past it."""

    seen = []
    spread = llm_suite._spread_replicas

    def spy(df, *cols):
        seen.append(spread(df, *cols)._jdf.queryExecution().analyzed().numPartitions())
        raise Spread

    monkeypatch.setattr(llm_suite, "_spread_replicas", spy)
    for name in _SCALED:
        with pytest.raises(Spread):
            REGISTRY[name].build(spark, sf_dir)
    assert seen == [spark.sparkContext.defaultParallelism] * len(_SCALED)


def test_replicated_corpora_carry_no_literal_partition_count():
    from etl_rj_spark.analytics import llm_suite

    src = inspect.getsource(llm_suite)
    names = ("_scaled_docs", "cosine_topk_scaled", "embedding_near_pairs_lsh_scaled")
    defs = [
        node for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef) and node.name in names
    ]
    assert len(defs) == len(names)
    lines = src.splitlines()
    for node in defs:
        body = "\n".join(lines[node.lineno - 1 : node.end_lineno])
        assert not re.search(r"repartition\(\s*\d", body), node.name
        assert "_spread_replicas(" in body, node.name


# ---------------------------------------------------------------------------
# Jaccard τ boundary: the size-bound prune never drops a pair at exactly τ
# ---------------------------------------------------------------------------

# |A| = 7 ⊂ |B| = 25: Jaccard 7/25 == τ exactly, and in doubles
# 25·τ > 7 — without the prune's slack the size bound would drop it
_TAU = 0.28
_SMALL, _BIG = 7, 25


def test_tau_boundary_survives_size_bound_in_jaccard_on_sets(spark):
    from etl_rj_spark.operators.text_dedup import _jaccard_on_sets

    assert _SMALL / _BIG == _TAU and _BIG * _TAU > _SMALL
    sets = spark.createDataFrame(
        [(1, list(range(_SMALL))), (2, list(range(_BIG)))], "id long, s array<long>"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = _jaccard_on_sets(pairs, sets, threshold=_TAU).filter(F.col("jaccard") >= _TAU)
    assert [tuple(r) for r in out.collect()] == [(1, 2, _TAU)]


def test_tau_boundary_survives_incremental_near_dup_pairs(spark):
    from etl_rj_spark.operators.text_dedup import incremental_near_dup_pairs, minhash_index

    def text(prefix: str, n: int) -> str:
        return " ".join(f"{prefix}{i}" for i in range(n))

    old = spark.createDataFrame([(1, text("w", _SMALL))], "doc_id long, text string")
    new = spark.createDataFrame(
        [(2, text("w", _BIG)), (3, text("x", _SMALL)), (4, text("x", _BIG))],
        "doc_id long, text string",
    )
    kw = dict(num_hashes=32, bands=32, token_ngrams_n=1)
    buckets, sets = minhash_index(old, "doc_id", "text", **kw)
    out = incremental_near_dup_pairs(
        new, buckets, sets, "doc_id", "text", threshold=_TAU, **kw
    )
    # new × existing (1, 2) and new × new (3, 4), both at exactly τ
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2, _TAU), (3, 4, _TAU)]


# ---------------------------------------------------------------------------
# bind_once: value-identical to inlining, NULLs included
# ---------------------------------------------------------------------------

def test_bind_once_null_semantics(spark):
    from etl_rj_spark.functions.exprs import bind_once

    df = spark.createDataFrame(
        [(1, 2, [1, 2]), (2, None, [3]), (3, -1, None), (4, None, None)],
        "k int, x int, arr array<int>",
    )
    bodies = {
        # NULL input reaches the body as NULL
        "null_in": lambda v: F.coalesce(v, F.lit(-100)),
        # the body itself produces NULL
        "null_out": lambda v: F.when(v > 0, v * 10),
        # the bound value used inside a nested lambda
        "nested": lambda v: F.transform(F.col("arr"), lambda e: e + v),
        "nested_agg": lambda v: F.aggregate(
            F.col("arr"), F.lit(0), lambda acc, e: acc + F.coalesce(v, e)
        ),
    }
    cols = []
    for name, body in bodies.items():
        cols += [bind_once(F.col("x"), body).alias(name), body(F.col("x")).alias(f"{name}_inline")]
    rows = {r.k: r for r in df.select("k", *cols).collect()}
    for r in rows.values():
        for name in bodies:
            assert r[name] == r[f"{name}_inline"], (r.k, name)
    assert [rows[k].null_in for k in (1, 2)] == [2, -100]
    assert [rows[k].null_out for k in (1, 3)] == [20, None]
    assert rows[2].nested == [None] and rows[1].nested == [3, 4]
    assert rows[3].nested is None and rows[4].nested_agg is None
    assert rows[2].nested_agg == 3 and rows[1].nested_agg == 4
