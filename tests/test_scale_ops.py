"""Scale-mechanics tests: bucketed co-located joins eliminate the
shuffle; salted joins spread hot keys without changing results."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from etl_rj_spark.operators.skew import salted_join
from etl_rj_spark.plans.audit import explain_counts
from etl_rj_spark.sinks.bucketed import write_bucketed
from etl_rj_spark.sources.parquet import read_parquet_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    li = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = read_parquet_table(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    tag = uuid.uuid4().hex[:8]
    ta, tb = f"li_b_{tag}", f"o_b_{tag}"
    try:
        write_bucketed(li, ta, ["l_orderkey"], 4, path=str(tmp_path / ta))
        write_bucketed(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), tb, ["l_orderkey"], 4,
            path=str(tmp_path / tb),
        )
        a, b = spark.table(ta), spark.table(tb)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "l_orderkey")
            counts = explain_counts(joined)
            assert counts["exchange"] == 0, counts  # co-located: zero shuffle
            assert counts["sort_merge_join"] == 1, counts
            # and it still computes the right thing
            assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_compact_partition(spark, sf_dir, tmp_path):
    import datetime
    import glob

    from etl_rj_spark.sinks.compact import compact_partition
    from etl_rj_spark.sinks.snapshot import append_snapshot

    orders = read_parquet_table(spark, f"{sf_dir}/orders.parquet").limit(200)
    wh = str(tmp_path / "wh")
    # several appends into the same snapshot partition → many files
    for _ in range(3):
        append_snapshot(orders.repartition(4), wh, snapshot_date=datetime.date(2024, 1, 1))
    part = f"{wh}/fecha_carga=2024-01-01"
    before = len(glob.glob(f"{part}/*.parquet"))
    assert before >= 12

    n = compact_partition(spark, wh, "fecha_carga=2024-01-01", target_files=1)
    assert n == 600
    assert len(glob.glob(f"{part}/*.parquet")) == 1
    assert spark.read.parquet(wh).count() == 600  # data intact


def test_salted_join_equals_plain(spark, sf_dir):
    o = read_parquet_table(spark, f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    c = read_parquet_table(spark, f"{sf_dir}/customer.parquet").select("c_custkey", "c_name")
    salted = salted_join(o, c, on="c_custkey", salt=4)
    plain = o.join(c, "c_custkey")
    assert sorted(map(str, salted.collect())) == sorted(map(str, plain.collect()))


def test_clustered_layout_enables_row_group_skipping(spark, sf_dir, tmp_path):
    """Range-clustered writes must produce row-group min/max stats that
    skip most groups for a narrow predicate; the same data written
    unclustered skips (nearly) none. Also: the clustered file count is
    bounded and rows survive exactly."""
    from etl_rj_spark.sinks.layout import (
        row_group_ranges,
        skipped_fraction,
        write_clustered_parquet,
    )

    li = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet")
    n = li.count()

    clustered = str(tmp_path / "clustered")
    baseline = str(tmp_path / "baseline")
    write_clustered_parquet(li, clustered, ["l_shipdate"], num_files=8)
    # baseline: same data, hash-scattered layout
    li.repartition(8).write.mode("overwrite").parquet(baseline)

    assert spark.read.parquet(clustered).count() == n
    assert len(row_group_ranges(clustered, "l_shipdate")) >= 8

    import datetime

    lo = datetime.datetime(1996, 6, 1)
    hi = datetime.datetime(1996, 6, 30)
    skip_clustered = skipped_fraction(clustered, "l_shipdate", lo, hi)
    skip_baseline = skipped_fraction(baseline, "l_shipdate", lo, hi)
    # ~6.5 years of dates in 8+ sorted ranges → a one-month window
    # should miss the vast majority of row groups
    assert skip_clustered >= 0.7, skip_clustered
    assert skip_baseline <= 0.1, skip_baseline
    # and the Spark scan agrees with an unclustered scan
    got = (
        spark.read.parquet(clustered)
        .filter((F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") <= F.lit(hi)))
        .count()
    )
    want = li.filter(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") <= F.lit(hi))
    ).count()
    assert got == want


def test_aqe_splits_skewed_join_partition(spark):
    """The engine leaves big-big skew to AQE (session sets
    spark.sql.adaptive.skewJoin.enabled) — prove AQE actually splits a
    hot key's partition under local thresholds, and that the split join
    is still correct. (salted_join above is the manual fallback for
    aggregation-level skew; this pins the join-level runtime path.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot key 0: 200k rows; 1k cold keys with 50 rows each
        left = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        ).unionAll(
            spark.range(50_000).select(
                (F.col("id") % 1000 + 1).alias("k"), F.col("id").alias("payload")
            )
        )
        right = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("dim_val")
        )
        # agg AFTER the join keeps the skewed SMJ in this exact plan;
        # collect() executes THIS DataFrame's QueryExecution, so its
        # adaptive plan finalizes (count() would run a separate one)
        joined = left.join(right, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dim_val").alias("s"),
            F.sum("payload").alias("p"),  # keeps the wide column live through the join
        )
        [row] = joined.collect()
        assert row["n"] == 250_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_index_bucketed_probe_zero_exchange_on_index(spark, sf_dir, tmp_path):
    """The persisted near-dup index's 100 TB posture, pinned: with the
    index written bucketed — buckets by (band, bucket), sets by (id) —
    a batch probe's candidate join reads the index scan WITHOUT an
    Exchange (only the tiny batch side shuffles to meet the bucketing),
    and the probe's results equal the in-memory incremental path."""
    from etl_rj_spark.operators.text_dedup import (
        incremental_near_dup_pairs,
        minhash_index,
        persist_minhash_index,
        probe_minhash_index,
    )

    docs = read_parquet_table(spark, f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    new = old.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    tag = uuid.uuid4().hex[:8]
    prefix = f"mh_idx_{tag}"
    try:
        persist_minhash_index(
            old, "doc_id", "text", prefix, num_buckets=4, path_prefix=str(tmp_path)
        )

        # candidate join in isolation, broadcast disabled: exactly one
        # Exchange (the batch side) and a bucketed index-side scan
        nb, _ns = minhash_index(new, "doc_id", "text")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe_join = spark.table(f"{prefix}_buckets").join(
                nb.toDF("id_n", "band", "bucket"), ["band", "bucket"]
            )
            counts = explain_counts(probe_join)
            assert counts["exchange"] == 1, counts
            assert counts["sort_merge_join"] == 1, counts
            plan = probe_join._sc._jvm.PythonSQLUtils.explainString(
                probe_join._jdf.queryExecution(), "formatted"
            )
            assert "Bucketed: true" in plan, plan[:3000]
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # full probe through the catalog equals the in-memory path
        got = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in probe_minhash_index(spark, new, prefix, "doc_id", "text").collect()
        )
        buckets, sets = minhash_index(old, "doc_id", "text")
        want = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in incremental_near_dup_pairs(
                new, buckets, sets, "doc_id", "text"
            ).collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_buckets")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_sets")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_meta")


def test_hash_threshold_resample_equals_exact(spark, sf_dir):
    """The Chernoff-padded threshold pre-filter must reproduce the
    exact hash-rank selection bit-for-bit — capped groups trimmed to
    the same rows, capless groups kept whole."""
    from etl_rj_spark.operators.curation import (
        hash_ranked_resample,
        hash_threshold_resample,
    )

    ev = read_parquet_table(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    # null groups must be kept whole on both paths
    ev = ev.unionByName(
        spark.createDataFrame(
            [(10_000_001, None), (10_000_002, None)], "event_id long, event_type string"
        )
    )
    types = [r.event_type for r in ev.select("event_type").distinct().collect() if r.event_type is not None]
    # cap all but one type (the uncapped one exercises the bypass),
    # with caps from tiny to substantial
    caps = {t: 7 + 400 * i for i, t in enumerate(sorted(types)[:-1])}
    exact = {tuple(r) for r in hash_ranked_resample(ev, "event_type", "event_id", caps).collect()}
    fast = {tuple(r) for r in hash_threshold_resample(ev, "event_type", "event_id", caps).collect()}
    assert fast == exact and len(exact) > 0


def test_bloom_contaminated_equals_exact(spark, sf_dir):
    """The blocked-Bloom decontamination probe must be byte-identical
    to the exact broadcast path at ANY filter sizing — false positives
    only add verify work. Checked well-sized and pathologically
    undersized (1 word: every gram collides, the verify join carries
    the whole contract)."""
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.text_analysis import normalized_text, whitespace_tokens
    from etl_rj_spark.operators.text_dedup import (
        bloom_contaminated_docs,
        contaminated_docs,
    )

    d = read_parquet_table(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    toks = whitespace_tokens(normalized_text("text"))
    bench = d.filter(F.col("doc_id") % 10 == 0).filter(F.size(toks) >= 12).select(
        F.array_join(F.slice(toks, 5, 8), " ").alias("text")
    )
    exact = {tuple(r) for r in contaminated_docs(d, bench, "doc_id", "text", n=8).collect()}
    assert len(exact) > 0
    sized = {
        tuple(r)
        for r in bloom_contaminated_docs(
            d, bench, "doc_id", "text", n=8, expected_grams=10_000
        ).collect()
    }
    tiny = {
        tuple(r)
        for r in bloom_contaminated_docs(
            d, bench, "doc_id", "text", n=8, expected_grams=1, bits_per_gram=64
        ).collect()
    }
    assert sized == exact and tiny == exact


def test_prefix_filter_equals_inverted_index(spark, sf_dir):
    """PPJoin prefix filtering must return EXACTLY the pairs of the
    any-shared-gram inverted index (recall 1 by the prefix-filter
    theorem, precision 1 by the shared exact-Jaccard verify) — while
    generating strictly fewer candidate pairs. A planted ubiquitous
    gram (same header sentence on every doc) makes the any-gram index
    a full clique; the prefix filter must stay sub-quadratic."""
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.text_dedup import (
        _prefix_candidates,
        ngram_jaccard_pairs,
        set_similarity_pairs_prefix,
        token_ngrams,
    )

    d = read_parquet_table(spark, f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 150
    ).select("doc_id", "text")
    # near-dups + a shared boilerplate header on EVERY doc
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    corpus = d.unionByName(dup).select(
        "doc_id", F.concat(F.lit("common header line here "), "text").alias("text")
    )

    base = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.7, n=3).collect()
    }
    pref = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in set_similarity_pairs_prefix(
            corpus, "doc_id", "text", threshold=0.7, n=3
        ).collect()
    }
    assert len(base) >= 150  # the planted replicas all pair up
    assert pref == base

    # candidate-generation work: the clique gram gives the any-gram
    # index ≥ C(300,2) candidates; prefix filtering must cut that by
    # orders of magnitude (every pair it emits shares a RARE gram)
    sets = corpus.select("doc_id", token_ngrams("text", 3).alias("__set")).filter(
        F.size("__set") > 0
    )
    n_pref = _prefix_candidates(sets, "doc_id", 0.7).count()
    n_docs = sets.count()
    full_clique = n_docs * (n_docs - 1) // 2
    assert n_pref < full_clique / 20
    assert n_pref >= len(base)  # candidates are a superset of answers


def test_manifest_ingest_ledger_contract(spark, tmp_path):
    """File-manifest ingest: only unrecorded files read; a crash between
    ingest and record re-processes the SAME batch (converges, never
    skips); re-recording is a no-op; nothing pending at the end."""
    from pyspark.sql import functions as F

    from etl_rj_spark.sources.manifest import (
        ingest_new_files,
        pending_files,
        record_processed,
    )

    drop, ledger = str(tmp_path / "drop"), str(tmp_path / "ledger")
    df = spark.range(100).select(F.col("id").alias("k"))
    df.filter("k < 50").repartition(2).write.mode("append").parquet(drop)

    got1, new1 = ingest_new_files(spark, f"{drop}/part-*", ledger)
    assert len(new1) == 2 and got1.count() == 50
    # simulated crash BEFORE record: a re-run sees the same batch again
    got1b, new1b = ingest_new_files(spark, f"{drop}/part-*", ledger)
    assert new1b == new1 and got1b.count() == 50
    assert record_processed(spark, ledger, new1) == 2
    assert record_processed(spark, ledger, new1) == 0  # re-record no-op

    df.filter("k >= 50").repartition(3).write.mode("append").parquet(drop)
    got2, new2 = ingest_new_files(spark, f"{drop}/part-*", ledger)
    assert len(new2) == 3 and got2.count() == 50
    assert not set(new2) & set(new1)
    assert {r.k for r in got2.select("k").collect()} == set(range(50, 100))
    record_processed(spark, ledger, new2)
    assert pending_files(spark, f"{drop}/part-*", ledger) == []
    # the source-file stamp points back at real ingested files
    assert got2.select("_source_file").distinct().count() == 3


def test_preference_pairs_margin_gate(spark):
    """Preference mining emits one best-vs-worst pair per group, drops
    single-candidate and below-margin groups, and breaks score ties by
    id deterministically."""
    from etl_rj_spark.operators.curation import preference_pairs

    rows = [
        ("p1", 1, 0.9), ("p1", 2, 0.2), ("p1", 3, 0.5),   # clear pair 1 vs 2
        ("p2", 4, 0.5), ("p2", 5, 0.48),                  # margin 0.02 < 0.05 → drop
        ("p3", 6, 0.7),                                   # single → drop
        ("p4", 7, 0.8), ("p4", 8, 0.8), ("p4", 9, 0.1),   # tie on top → chosen id 7
    ]
    df = spark.createDataFrame(rows, "grp string, cid long, score double")
    got = {
        (r.grp, r.chosen_id, r.rejected_id)
        for r in preference_pairs(df, "grp", "cid", "score", margin=0.05).collect()
    }
    assert got == {("p1", 1, 2), ("p4", 7, 9)}


def test_standardize_embeddings_properties(spark):
    """Per-dim z-scores: mean ~0 and sd ~1 per dimension, zero-variance
    dims map to 0 (never NaN), NULL vectors pass through NULL, and a
    wrong-length vector raises instead of zip-padding."""
    import pytest
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.similarity import standardize_embeddings

    rows = [(i, [float(i), 7.0, float(i * i % 13)]) for i in range(40)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = standardize_embeddings(df, "embedding", 3).collect()
    by_id = {r.vec_id: r.z_micros for r in out}
    assert by_id[99] is None
    zs = [by_id[i] for i in range(40)]
    for d in range(3):
        col = [z[d] / 1e6 for z in zs]
        mean = sum(col) / len(col)
        var = sum(c * c for c in col) / len(col) - mean * mean
        if d == 1:
            assert col == [0.0] * 40  # constant feature
        else:
            assert abs(mean) < 1e-4 and abs(var - 1.0) < 1e-3

    bad = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="expected 3-dim"):
        standardize_embeddings(bad, "embedding", 3).collect()


def test_split_leakage_pairs_cross_split_only(spark):
    """Leakage audit reports near-dup pairs ONLY when they cross the
    split boundary; same-split near-dups and dissimilar cross-split
    docs stay silent."""
    from pyspark.sql import functions as F  # noqa: F401

    from etl_rj_spark.operators.curation import split_leakage_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "train"),
        (2, base + " zz", "test"),        # near-dup, crosses → reported
        (3, base + " yy", "train"),       # near-dup of 1, same split → silent
        (4, "completely different content about spark shuffles and joins here", "test"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    got = {
        (r.id_a, r.id_b, r.split_a, r.split_b)
        for r in split_leakage_pairs(df, "doc_id", "text", "split", threshold=0.7).collect()
    }
    assert (1, 2, "train", "test") in got
    assert (2, 3, "test", "train") in got  # the two near-dups also pair up
    assert all({a, b} != {1, 3} for a, b, *_ in got)  # same-split pair silent
    assert not any(4 in (a, b) for a, b, *_ in got)


def test_weighted_sample_by_group_aes(spark):
    """A-ES weighted sampling: deterministic across runs, excludes
    non-positive/null weights, emits exactly k ranked rows per group,
    and inclusion probability follows the weights (heavy items
    dominate the sample)."""
    from etl_rj_spark.operators.curation import weighted_sample_by_group

    rows = [("g", i, 1000.0 if i < 10 else 1.0) for i in range(200)]
    rows += [("g", 900, 0.0), ("g", 901, -5.0), ("g", 902, None)]  # zero mass
    rows += [("h", i, 1.0) for i in range(3)]  # fewer rows than k
    df = spark.createDataFrame(rows, "grp string, id long, w double")

    out = weighted_sample_by_group(df, "grp", "id", "w", k=10)
    got = out.collect()
    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, []).append(r)
    assert len(by_grp["g"]) == 10 and len(by_grp["h"]) == 3
    assert sorted(r.sample_rank for r in by_grp["g"]) == list(range(1, 11))
    assert not {900, 901, 902} & {r.id for r in got}
    # weight-1000 items (10 of 200) should take nearly every slot
    heavy = sum(1 for r in by_grp["g"] if r.id < 10)
    assert heavy >= 8
    # determinism: identical selection on re-run
    again = {(r.grp, r.id, r.sample_rank) for r in weighted_sample_by_group(
        df, "grp", "id", "w", k=10).collect()}
    assert again == {(r.grp, r.id, r.sample_rank) for r in got}
    # the seed is part of the hash draw: a different seed produces a
    # different (still weight-respecting, still complete) ranking
    other = weighted_sample_by_group(df, "grp", "id", "w", k=10, seed="7")
    other_g = [r for r in other.collect() if r.grp == "g"]
    assert len(other_g) == 10
    assert [(r.id, r.sample_rank) for r in sorted(other_g, key=lambda r: r.sample_rank)] != [
        (r.id, r.sample_rank) for r in sorted(by_grp["g"], key=lambda r: r.sample_rank)
    ]


def test_lsh_bucket_cap_guards_degenerate_buckets(spark):
    """max_bucket_len drops over-cap (band, bucket) groups whole — a
    boilerplate clique stops emitting C(m,2) candidates, while normal
    near-dup pairs in small buckets are untouched."""
    from etl_rj_spark.operators.text_dedup import minhash_lsh_dedup_pairs

    boiler = [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")
              for i in range(60)]
    pair = [
        (1000, "a genuinely distinctive document about spark bucketed joins and llm dedup"),
        (1001, "a genuinely distinctive document about spark bucketed joins and llm dedup!"),
    ]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    kw = dict(threshold=0.8, num_hashes=16, hashed_sets=True, token_ngrams_n=3, fast_hash=True)

    uncapped = minhash_lsh_dedup_pairs(df, "doc_id", "text", **kw)
    capped = minhash_lsh_dedup_pairs(df, "doc_id", "text", max_bucket_len=10, **kw)
    # uncapped: the 60-doc clique emits C(60,2)=1770 pairs + the real pair
    assert uncapped.count() == 1770 + 1
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(1000, 1001)}  # clique suppressed, real pair kept


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL property: 64->16 projection keeps pairwise distances within
    a modest distortion band (loose 3-sigma bound, deterministic data
    and matrix so no flake), and the projection is seed-stable."""
    from etl_rj_spark.operators.similarity import project_embeddings

    e = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    rows = project_embeddings(e, "embedding", 64, 16, seed=42).select(
        "vec_id", "embedding", "proj"
    ).collect()
    import math

    vecs = {r.vec_id: (list(r.embedding), list(r.proj)) for r in rows}
    ids = sorted(vecs)
    ratios = []
    for a in ids[:20]:
        for b in ids[20:]:
            va, pa = vecs[a]
            vb, pb = vecs[b]
            d_orig = math.dist(va, vb)
            d_proj = math.dist(pa, pb)
            if d_orig > 0:
                ratios.append(d_proj / d_orig)
    assert ratios
    # eps ~ sqrt(8 ln n / k) is ~1 here — just pin a sane band and
    # that the MEAN ratio is near 1 (unbiasedness of the ±1 family)
    assert all(0.3 < r < 1.9 for r in ratios), (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean

    again = project_embeddings(e, "embedding", 64, 16, seed=42).select(
        "vec_id", "proj"
    ).collect()
    assert {r.vec_id: list(r.proj) for r in again} == {i: vecs[i][1] for i in ids}


def test_zorder_layout_skips_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order must give row-group skipping on EITHER clustered column
    alone; lexicographic clustering on the same pair gives the leading
    column everything and the trailing column (almost) nothing. Rows
    must survive the relayout exactly."""
    from etl_rj_spark.sinks.layout import (
        skipped_fraction,
        write_clustered_parquet,
        write_zorder_parquet,
    )

    li = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    n = li.count()

    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "lex")
    write_zorder_parquet(li, zdir, ["l_orderkey", "l_extendedprice"], num_files=64)
    write_clustered_parquet(
        li, ldir, ["l_orderkey", "l_extendedprice"], num_files=64
    )
    assert spark.read.parquet(zdir).count() == n

    # narrow slab per column (≈ 8 % of the value mass); 64 files tile
    # (a, b) space ~8×8, so a slab intersects ≤ 2 of 8 tile columns
    ok_lo, ok_hi = li.stat.approxQuantile("l_orderkey", [0.30, 0.38], 0.0)
    ep_lo, ep_hi = li.stat.approxQuantile("l_extendedprice", [0.30, 0.38], 0.0)

    z_ok = skipped_fraction(zdir, "l_orderkey", ok_lo, ok_hi)
    z_ep = skipped_fraction(zdir, "l_extendedprice", ep_lo, ep_hi)
    l_ok = skipped_fraction(ldir, "l_orderkey", ok_lo, ok_hi)
    l_ep = skipped_fraction(ldir, "l_extendedprice", ep_lo, ep_hi)

    # z-order: BOTH single-column predicates skip most tiles
    assert z_ok >= 0.6, (z_ok, z_ep)
    assert z_ep >= 0.6, (z_ok, z_ep)
    # lexicographic: leading column tight, trailing column useless
    assert l_ok >= 0.7, l_ok
    assert l_ep <= 0.2, l_ep
    # and z-order beats lexicographic where it matters
    assert z_ep > l_ep + 0.4, (z_ep, l_ep)

    # scan fidelity through the z layout
    got = (
        spark.read.parquet(zdir)
        .filter(
            (F.col("l_extendedprice") >= ep_lo) & (F.col("l_extendedprice") <= ep_hi)
        )
        .count()
    )
    want = li.filter(
        (F.col("l_extendedprice") >= ep_lo) & (F.col("l_extendedprice") <= ep_hi)
    ).count()
    assert got == want


def test_ivf_index_partitioned_probe_dpp_and_family_guard(spark, sf_dir):
    """The persisted IVF layout's contract: the probe's scan of the
    corpus-sized cells table carries DYNAMIC PARTITION PRUNING (only
    probed cells are read) and the index side feeds the join without
    an Exchange; a family-version mismatch refuses to probe instead of
    silently collapsing recall."""
    import re

    import pytest

    from etl_rj_spark.operators.kmeans import (
        kmeans_fit,
        kmeans_ivf_topk,
        persist_ivf_index,
        probe_ivf_index,
    )

    e = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    prefix = "etl_rj_ivf_test"
    try:
        for s in ("cells", "centroids", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")
        cents = kmeans_fit(corpus, k=8, iters=2)
        persist_ivf_index(corpus, cents, prefix)
        probed = probe_ivf_index(spark, queries, prefix, k=5)
        # identical answers to the in-query variant
        want = {(r.query_id, r.vec_id, r.rank)
                for r in kmeans_ivf_topk(corpus, queries, cents, k=5).collect()}
        got = {(r.query_id, r.vec_id, r.rank) for r in probed.collect()}
        assert got == want and len(got) > 0

        plan = probed._jdf.queryExecution().executedPlan().toString()
        # the cells-table scan prunes partitions dynamically from the
        # broadcast probe side
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        # index side streams into a broadcast join — the corpus index
        # is NEVER redistributed on the join key (an Exchange
        # hash-partitioned on `cell` would be that red flag), and the
        # only shuffle exchanges are probe-side centroid packing and
        # the final top-k window
        assert "hashpartitioning(cell" not in plan, plan[:2000]
        # count shuffles in the FINAL adaptive plan only (the string
        # also dumps the Initial Plan and the DPP subqueries, which
        # textually repeat the same operators)
        final = plan.split("== Initial Plan ==")[0].split("Subqueries")[0]
        shuffles = sum(
            final.count(f"Exchange {kind}")
            for kind in ("hashpartitioning", "SinglePartition", "rangepartitioning")
        )
        # exactly: the final top-k window (query_id) + the probe-side
        # centroid packing agg — the corpus index contributes none
        assert shuffles <= 2, final[:2000]

        # dim guard is folded into the assignment job and checks EVERY
        # row (r10 ADVICE fix — the old first()-only check let a
        # mixed-dim batch whose FIRST row had the right width slip
        # through to NULL-padded distances)
        bad = queries.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 0, F.col("embedding")).otherwise(
                F.expr("slice(embedding, 1, size(embedding) - 1)")
            ),
        )
        with pytest.raises(Exception, match="!= index dim"):
            probe_ivf_index(spark, bad, prefix, k=5).collect()

        # family guard: a mismatched index refuses to probe
        spark.sql(
            f"INSERT OVERWRITE TABLE {prefix}_meta VALUES ('other-family-v0', 64)"
        )
        with pytest.raises(ValueError, match="family"):
            probe_ivf_index(spark, queries, prefix, k=5)
    finally:
        for s in ("cells", "centroids", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


def test_ivf_index_append_is_redelivery_idempotent(spark, sf_dir):
    """append_ivf_index: appended rows land in their assigned cell
    partitions, a redelivered batch inserts NOTHING (anti-join on the
    existing ids, touched cells only), and a probe after append equals
    a fresh full rebuild under the same (first-slice-trained)
    centroids."""
    from etl_rj_spark.operators.kmeans import (
        append_ivf_index,
        kmeans_fit,
        persist_ivf_index,
        probe_ivf_index,
    )

    e = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 5)
    first = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 300))
    batch = e.filter(F.col("vec_id") >= 300)
    pa, pb = "zz_ivf_app_a", "zz_ivf_app_b"
    try:
        for p in (pa, pb):
            for s in ("cells", "centroids", "meta"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{s}")
        cents = kmeans_fit(first, k=8, iters=2)
        persist_ivf_index(first, cents, pa)
        append_ivf_index(batch, pa)
        n_after = spark.table(f"{pa}_cells").count()
        assert n_after == first.count() + batch.count()
        append_ivf_index(batch, pa)  # redelivery
        assert spark.table(f"{pa}_cells").count() == n_after
        # equivalence with a fresh rebuild over first ∪ batch (same cents)
        persist_ivf_index(first.unionByName(batch), cents, pb)
        got = {(r.query_id, r.vec_id, r.rank)
               for r in probe_ivf_index(spark, queries, pa, k=5).collect()}
        want = {(r.query_id, r.vec_id, r.rank)
                for r in probe_ivf_index(spark, queries, pb, k=5).collect()}
        assert got == want and len(got) > 0
    finally:
        for p in (pa, pb):
            for s in ("cells", "centroids", "meta"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{s}")


def test_ivf_index_path_prefix_holds_all_three_tables(spark, sf_dir, tmp_path):
    """With a path prefix, persist_ivf_index writes each table at
    ``{path_prefix}/{table}`` — the persist_minhash_index layout — so
    the prefix directory holds all three tables and nothing appears
    beside it."""
    from etl_rj_spark.operators.kmeans import (
        kmeans_fit,
        persist_ivf_index,
        probe_ivf_index,
    )

    e = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") >= 5)
    prefix = f"ivf_layout_{uuid.uuid4().hex[:8]}"
    root = tmp_path / "idx"
    tables = [f"{prefix}_{s}" for s in ("cells", "centroids", "meta")]
    try:
        persist_ivf_index(
            corpus, kmeans_fit(corpus, k=4, iters=1), prefix, path_prefix=str(root)
        )
        assert sorted(p.name for p in root.iterdir()) == sorted(tables)
        assert [p.name for p in tmp_path.iterdir()] == ["idx"]
        assert probe_ivf_index(spark, e.filter(F.col("vec_id") < 5), prefix, k=3).count() > 0
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_lsh_pairs_scaled_leaves_cache_empty(spark, sf_dir):
    """The scaled MinHash build hashes its corpus once for both the LSH
    path and the recall contract through a localCheckpoint, not a
    persist(): once the query is built and collected, the session's
    cache manager holds nothing."""
    from etl_rj_spark.analytics import REGISTRY

    spark.catalog.clearCache()
    REGISTRY["minhash_lsh_pairs_scaled"].build(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
