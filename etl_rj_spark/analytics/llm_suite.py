"""Oracle-checked queries for the LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) over
the ``documents`` and ``embeddings`` tables.

Cross-engine determinism: all content hashing is md5-hex (identical
everywhere); integer arithmetic is exact int64; float expressions are
written in a fixed operation order and rounded where engines may
differ in the last ulp. Near-dup corpora are synthesized in-query
(documents ∪ perturbed copies) so both engines see identical inputs
and the dedup operators actually fire (the base corpus is all-unique).

Oracle notes per query:
- LSH pair queries' oracles are ALL-PAIRS exact Jaccard (ground
  truth); the Spark side must achieve recall 1 at the chosen
  bands/threshold (exact copies always collide; ' zz'-suffix dups have
  j≈0.97 → miss probability ~1e-7).
- The n-gram inverted index is exactly recall-1 (any pair with j>0
  shares an n-gram), so its oracle equality is exact, not
  probabilistic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_rj_spark.analytics.suite import REGISTRY, _msum, _q, _t  # noqa: F401
from etl_rj_spark.analytics.scratch import pid_scratch
from etl_rj_spark.operators.multimodal import binary_features, with_binary_payload
from etl_rj_spark.operators.similarity import cosine_topk, ivf_topk, l2_norm, vec_double
from etl_rj_spark.operators.text_analysis import (
    STOPWORDS,
    content_md5,
    lang_id,
    minhash64,
    quality_features,
    regex_token_count,
    token_count,
)
from etl_rj_spark.operators.text_dedup import (
    exact_dedup_mapping,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
)

# --- shared SQL fragments --------------------------------------------------

_NT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"  # normalized text


def _sql_shingle_sets(corpus_sql: str, k: int = 5) -> str:
    """CTE body: (doc_id, s) with s = distinct k-char shingles of the
    normalized text."""
    return f"""
      SELECT doc_id,
             list_distinct([substr(nt, i, {k}) for i in range(1, len(nt) - {k - 2})]) AS s
      FROM (SELECT doc_id, {_NT} AS nt FROM ({corpus_sql}))
    """


_JACCARD = (
    "len(list_intersect(a.s, b.s))::DOUBLE / "
    "((len(a.s) + len(b.s))::DOUBLE - len(list_intersect(a.s, b.s))::DOUBLE)"
)


# --- exact dedup -----------------------------------------------------------

_DUP_CORPUS = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, upper(text) || '  ' AS text FROM documents"
)

@_q(
    "exact_dedup_docs",
    f"""
    WITH corpus AS ({_DUP_CORPUS}),
    -- complete-case: a NULL-text document has no content to
    -- fingerprint and is excluded from the mapping (md5(NULL) keys
    -- silently vanish at the SQL equi-join anyway — r10 nullmix
    -- parity; mirrors the engine filter)
    keyed AS (SELECT doc_id, md5({_NT}) AS key FROM corpus
              WHERE text IS NOT NULL)
    SELECT k.doc_id, c.canonical_id
    FROM keyed k JOIN (SELECT key, MIN(doc_id) AS canonical_id FROM keyed GROUP BY key) c
      USING (key)
    """,
    bench=True,
    tags=("dedup-exact",),
)
def exact_dedup_docs(spark, sf_dir):
    """Exact dedup: canonical-id mapping over a corpus of documents ∪
    case/whitespace-perturbed copies — every copy maps to its original
    (hash-groupBy on md5 of normalized text). NULL-text docs carry no
    content and are excluded (complete-case, r10)."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("text").isNotNull())
    )
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    corpus = d.unionByName(dup)
    return exact_dedup_mapping(corpus, "doc_id", "text")


# --- MinHash + LSH near-dup ------------------------------------------------

_NEAR_CORPUS = (
    "SELECT doc_id, text FROM documents WHERE doc_id < 100 "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text "
    "FROM documents WHERE doc_id < 100"
)

def _two_tier_near_dup_oracle(corpus_sql: str) -> str:
    """The DuckDB replay of :func:`near_dup_pairs`'s storm-safe
    default (VERDICT r13 #5): exact-duplicate groups (identical
    normalized text, NULL-text rows excluded) reported as LINEAR
    ``(canonical=MIN(id), member, 1.0)`` star edges, then all-pairs
    ground-truth Jaccard over the per-content REPRESENTATIVES only
    (recall-1 at the query's LSH parameters). On a corpus with no
    exact-duplicate group this reduces exactly to the raw all-pairs
    oracle — which is why one spelling serves every regime (the
    dupstorm tree included)."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    keyed AS (SELECT doc_id, text, md5({_NT}) AS key FROM corpus
              WHERE text IS NOT NULL),
    mapping AS (SELECT doc_id, text,
                       MIN(doc_id) OVER (PARTITION BY key) AS canonical_id
                FROM keyed),
    reps AS (SELECT doc_id, text FROM mapping WHERE doc_id = canonical_id),
    sets AS ({_sql_shingle_sets('SELECT * FROM reps')}),
    lsh AS (
      -- DISTINCT: distinct-pairs contract, see _NGRAM_JACCARD_ORACLE
      -- (r11 dupstorm parity)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD} AS jaccard
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= 0.8
    ),
    star AS (SELECT DISTINCT canonical_id AS id_a, doc_id AS id_b,
                    1.0::DOUBLE AS jaccard
             FROM mapping WHERE doc_id <> canonical_id)
    SELECT * FROM lsh UNION ALL SELECT * FROM star
    """


@_q(
    "minhash_lsh_pairs",
    _two_tier_near_dup_oracle(_NEAR_CORPUS),
    tags=("dedup-minhash-lsh",),
)
def minhash_lsh_pairs_q(spark, sf_dir):
    """MinHash(32)+LSH(8 bands × 4 rows) candidates → exact-Jaccard
    filter at 0.8 over documents ∪ near-identical copies — routed
    through :func:`near_dup_pairs`, the engine's DEFAULT (storm-safe)
    near-dup entry point (VERDICT r13 #5). This corpus carries no
    exact-duplicate group, so the count gate sends it down the raw
    LSH path and the output is byte-identical to the raw operator's;
    the two-tier oracle spelling covers the degenerate regimes where
    duplicates DO appear. Oracle is all-pairs ground truth over the
    representatives (recall-1 at these parameters)."""
    from etl_rj_spark.operators.text_dedup import near_dup_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text")
    )
    corpus = d.unionByName(dup)
    return near_dup_pairs(corpus, "doc_id", "text", threshold=0.8)


_STORM_CORPUS = (
    _NEAR_CORPUS
    + " UNION ALL SELECT 200000 + g.i AS doc_id, d.text AS text"
    " FROM documents d CROSS JOIN range(0, 30) g(i) WHERE d.doc_id = 7"
)


@_q(
    "near_dup_pairs_storm",
    _two_tier_near_dup_oracle(_STORM_CORPUS),
    tags=("dedup-minhash-lsh",),
)
def near_dup_pairs_storm(spark, sf_dir):
    """:func:`near_dup_pairs` under an injected exact-duplicate storm
    (30 verbatim copies of one document's text at fresh ids): the
    count gate trips, the storm collapses to its canonical (doc 7),
    the LSH tier runs over representatives only, and the storm group
    surfaces as 30 LINEAR star edges ``(7, 200000+i, 1.0)`` — never
    the C(31,2) clique a raw all-pairs output would quadratically
    emit. This is the r13 hotkey finding (raw LSH untimeable under a
    99%-one-text storm) pinned as the engine's default posture."""
    from etl_rj_spark.operators.text_dedup import near_dup_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text")
    )
    storm = (
        d.filter(F.col("doc_id") == 7)
        .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), "text")
        .select((F.lit(200000) + F.col("i")).cast("long").alias("doc_id"), "text")
    )
    corpus = d.unionByName(dup).unionByName(storm)
    return near_dup_pairs(corpus, "doc_id", "text", threshold=0.8)


@_q(
    "near_dup_survivors_storm",
    rf"""
    WITH RECURSIVE corpus AS ({_STORM_CORPUS}),
    keyed AS (SELECT doc_id, text, md5({_NT}) AS key FROM corpus
              WHERE text IS NOT NULL),
    mapping AS (SELECT doc_id, text,
                       MIN(doc_id) OVER (PARTITION BY key) AS canonical_id
                FROM keyed),
    reps AS (SELECT doc_id, text FROM mapping WHERE doc_id = canonical_id),
    sets AS ({_sql_shingle_sets('SELECT * FROM reps')}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= 0.8
      UNION ALL
      SELECT DISTINCT canonical_id, doc_id
      FROM mapping WHERE doc_id <> canonical_id
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
    losers AS (SELECT node FROM comp WHERE node <> component)
    SELECT doc_id FROM corpus
    WHERE doc_id NOT IN (SELECT node FROM losers)
    ORDER BY doc_id
    """,
    tags=("dedup-minhash-lsh", "dedup-clusters"),
)
def near_dup_survivors_storm(spark, sf_dir):
    """The end-to-end dedup CONSEQUENCE of the storm-safe default
    (VERDICT r13 #5's component-equivalence claim, driver-proven):
    ``dedup_survivors ∘ near_dup_pairs`` over the storm corpus keeps
    exactly the corpus the RAW all-pairs flow would keep — the linear
    star edges span the same connected components as the C(m,2)
    clique, so min-id-per-component survivor selection is identical
    while the pair frame shrinks from quadratic to linear. The DuckDB
    oracle replays the whole chain: two-tier pairs → recursive-CTE
    min-label components → non-losers. A companion unit test
    (tests/test_operators.py) additionally pins survivor equality
    between the default and the raw operator on the same fixture."""
    from etl_rj_spark.operators.text_dedup import dedup_survivors, near_dup_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text")
    )
    storm = (
        d.filter(F.col("doc_id") == 7)
        .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), "text")
        .select((F.lit(200000) + F.col("i")).cast("long").alias("doc_id"), "text")
    )
    corpus = d.unionByName(dup).unionByName(storm)
    pairs = near_dup_pairs(corpus, "doc_id", "text", threshold=0.8)
    return dedup_survivors(corpus, "doc_id", pairs).select("doc_id").orderBy("doc_id")


_INC_OLD = "SELECT doc_id, text FROM documents WHERE doc_id < 100"
_INC_NEW = (
    "SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text "
    "FROM documents WHERE doc_id < 50 "
    "UNION ALL SELECT doc_id, text FROM documents "
    "WHERE doc_id >= 100 AND doc_id < 150"
)

@_q(
    "incremental_near_dup",
    f"""
    WITH corpus AS ({_INC_OLD} UNION ALL {_INC_NEW}),
    sets AS ({_sql_shingle_sets('SELECT * FROM corpus')})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD} AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE {_JACCARD} >= 0.8
      AND (a.doc_id >= 100 OR b.doc_id >= 100)
    """,
    tags=("dedup-minhash-lsh", "incremental-index"),
)
def incremental_near_dup(spark, sf_dir):
    """Incremental near-dup: the existing corpus (docs < 100) is
    touched only through its persisted MinHash index — (band, bucket)
    rows for candidates, id-keyed shingle sets for verification —
    while the NEW batch (near-dup replicas of half the corpus + fresh
    docs 100–149) is shingled once and probed against it. K1's
    anti-join posture at the LLM layer: a daily batch never re-scans
    the corpus. Oracle is all-pairs ground truth restricted to pairs
    touching the new batch (recall-1 at 32 hashes × 8 bands)."""
    from etl_rj_spark.operators.text_dedup import (
        incremental_near_dup_pairs,
        minhash_index,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
        .unionByName(
            d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).select(
                "doc_id", "text"
            )
        )
    )
    buckets, sets = minhash_index(old, "doc_id", "text")
    return incremental_near_dup_pairs(new, buckets, sets, "doc_id", "text", threshold=0.8)


@_q(
    "minhash_index_probe",
    f"""
    WITH corpus AS ({_INC_OLD} UNION ALL {_INC_NEW}),
    sets AS ({_sql_shingle_sets('SELECT * FROM corpus')})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD} AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE {_JACCARD} >= 0.8
      AND (a.doc_id >= 100 OR b.doc_id >= 100)
    """,
    tags=("dedup-minhash-lsh", "incremental-index", "bucketed-layout"),
)
def minhash_index_probe(spark, sf_dir):
    """incremental_near_dup's PERSISTED twin at the documented scale
    layout: the corpus index is WRITTEN as bucketed+sorted tables —
    buckets by (band, bucket), sets by (id) — and the batch probe
    reads them back through the catalog
    (operators/text_dedup.persist_minhash_index / probe_minhash_index).
    Same all-pairs ground-truth oracle as incremental_near_dup; the
    bucketed layout's zero-Exchange-on-index property is pinned by
    tests/test_scale_ops.py."""
    from etl_rj_spark.operators.text_dedup import (
        persist_minhash_index,
        probe_minhash_index,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
        .unionByName(
            d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).select(
                "doc_id", "text"
            )
        )
    )
    prefix = "etl_rj_mh_probe"
    # pid-suffixed: concurrent-run isolation (VERDICT r13 #1);
    # atexit + dead-pid GC lifetime via analytics.scratch (r15)
    idx_dir = pid_scratch("etl_rj_mh_probe_idx")
    # idempotent across runs: DROP leaves external-table files behind,
    # and Spark refuses CTAS into a non-empty location — clear both
    for suffix in ("buckets", "sets", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{suffix}")
    persist_minhash_index(
        old, "doc_id", "text", prefix, num_buckets=4, path_prefix=idx_dir,
    )
    return probe_minhash_index(spark, new, prefix, "doc_id", "text", threshold=0.8)


# --- n-gram Jaccard (exact inverted index) ---------------------------------

def _two_tier_ngram_oracle(corpus_sql: str, threshold: float) -> str:
    """DuckDB replay of the n-gram family's storm-safe default
    (VERDICT r14 #2 — the r14 two-tier MinHash spelling bound to token
    3-gram sets): exact-duplicate groups (identical normalized text,
    NULL-text rows excluded) as linear ``(canonical=MIN(id), member,
    1.0)`` star edges, then exact all-pairs gram Jaccard over the
    per-content REPRESENTATIVES only. With no exact-duplicate group
    this reduces to the raw all-pairs ground truth — one spelling
    serves every regime, the dupstorm tree included."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    keyed AS (SELECT doc_id, text, md5({_NT}) AS key FROM corpus
              WHERE text IS NOT NULL),
    mapping AS (SELECT doc_id, text,
                       MIN(doc_id) OVER (PARTITION BY key) AS canonical_id
                FROM keyed),
    reps AS (SELECT doc_id, text FROM mapping WHERE doc_id = canonical_id),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\\s+') AS toks FROM reps)
    ),
    -- DISTINCT: one row per (id_a, id_b, jaccard) — verbatim-
    -- duplicated corpus rows fan the sets self-join out but collapse
    -- here, matching _jaccard_on_sets' distinct-pairs contract (r11
    -- dupstorm parity; no-op on unique ids)
    raw AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD} AS jaccard
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= {threshold}
    ),
    star AS (SELECT DISTINCT canonical_id AS id_a, doc_id AS id_b,
                    1.0::DOUBLE AS jaccard
             FROM mapping WHERE doc_id <> canonical_id)
    SELECT * FROM raw UNION ALL SELECT * FROM star
    """


#: Exact token-3-gram Jaccard ≥ 0.7 through the storm-safe default —
#: SHARED by `ngram_jaccard_pairs` (any-shared-gram inverted index) and
#: `set_similarity_prefix_pairs` (PPJoin prefix filtering): both engine
#: paths must produce byte-identical answers to this ground truth. The
#: registered corpus carries no exact-duplicate group, so the count
#: gate sends both down the raw path and the two-tier spelling reduces
#: to raw all-pairs; the two-tier form covers the degenerate regimes.
_NGRAM_JACCARD_ORACLE = _two_tier_ngram_oracle(_NEAR_CORPUS, 0.7)


def _near_dup_token_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text")
    )
    return d.unionByName(dup)


@_q(
    "ngram_jaccard_pairs",
    _NGRAM_JACCARD_ORACLE,
    tags=("dedup-ngram-jaccard",),
)
def ngram_jaccard_pairs_q(spark, sf_dir):
    """Token-3-gram Jaccard pairs ≥ 0.7 via inverted-index join —
    exact (recall 1), oracle equality is strict. Since r15 the entry
    point is storm-safe by default (VERDICT r14 #2): this corpus has
    no exact-duplicate group, so the count gate sends it down the raw
    index path byte-identically; the two-tier oracle spelling covers
    the regimes where duplicates DO appear."""
    corpus = _near_dup_token_corpus(spark, sf_dir)
    return ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.7, n=3)


_NGRAM_STORM_ORACLE = _two_tier_ngram_oracle(_STORM_CORPUS, 0.7)


@_q(
    "ngram_jaccard_pairs_storm",
    _NGRAM_STORM_ORACLE,
    tags=("dedup-ngram-jaccard",),
)
def ngram_jaccard_pairs_storm(spark, sf_dir):
    """:func:`ngram_jaccard_pairs` under an injected exact-duplicate
    storm (30 verbatim copies of one document's text at fresh ids) —
    the n-gram twin of ``near_dup_pairs_storm`` (VERDICT r14 #2):
    identical texts share every gram, so the raw inverted index would
    emit the C(31,2) jaccard-1.0 clique (and its posting cap bounds
    candidate WORK, not that OUTPUT); the storm-safe default collapses
    the group to 30 linear star edges ``(7, 200000+i, 1.0)`` and runs
    the index over representatives only. Component-equivalence to the
    raw pair set is pinned end-to-end by
    tests/test_operators.py (survivor equality default-vs-raw)."""
    from etl_rj_spark.operators.text_dedup import ngram_jaccard_pairs as _njp

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text")
    )
    storm = (
        d.filter(F.col("doc_id") == 7)
        .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), "text")
        .select((F.lit(200000) + F.col("i")).cast("long").alias("doc_id"), "text")
    )
    corpus = d.unionByName(dup).unionByName(storm)
    return _njp(corpus, "doc_id", "text", threshold=0.7, n=3)


@_q(
    "set_similarity_prefix_pairs",
    _NGRAM_JACCARD_ORACLE,
    tags=("dedup-prefix-filter",),
)
def set_similarity_prefix_pairs_q(spark, sf_dir):
    """PPJoin-style prefix-filtered set-similarity join — the EXACT
    Jaccard pairs again (same oracle as `ngram_jaccard_pairs`, answers
    byte-identical by contract), but candidates come from each set's
    ~(1-τ)·|s| globally-RAREST grams instead of every shared gram: the
    any-gram index degenerates into one candidate clique on a common
    gram (its posting cap trades exactness for scale), while the prefix
    filter keeps recall 1 with bounded posting fan-out. Storm-safe by
    default since r15 (same tier order and count gate as
    `ngram_jaccard_pairs` — no exact-dup group here, so the raw prefix
    path runs byte-identically)."""
    from etl_rj_spark.operators.text_dedup import set_similarity_pairs_prefix

    corpus = _near_dup_token_corpus(spark, sf_dir)
    return set_similarity_pairs_prefix(corpus, "doc_id", "text", threshold=0.7, n=3)


@_q(
    "split_leakage_audit",
    f"""
    WITH corpus AS ({_NEAR_CORPUS}),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\\s+') AS toks FROM corpus)
    ),
    splits AS (
      -- DISTINCT: one (id, split) row per id — a split is a function
      -- of the id, and duplicated corpus rows must not fan the pair
      -- join-back out (r11 dupstorm parity with split_leakage_pairs)
      SELECT DISTINCT doc_id,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
                    AS INTEGER) AS bucket
        FROM corpus
      )
    )
    -- DISTINCT pairs: the distinct-pairs contract (r11 dupstorm)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           sa.split AS split_a, sb.split AS split_b, {_JACCARD} AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    JOIN splits sa ON sa.doc_id = a.doc_id
    JOIN splits sb ON sb.doc_id = b.doc_id
    WHERE {_JACCARD} >= 0.7 AND sa.split <> sb.split
    """,
    tags=("curation-leakage",),
)
def split_leakage_audit_q(spark, sf_dir):
    """Train/test leakage audit: exact near-dup pairs that CROSS the
    hash-split boundary. A hash split assigns a doc and its near-copy
    independently (different ids → different buckets ~90% of the
    time), so the planted replicas leak by construction — exactly the
    silent eval-inflation this audit exists to catch. Composition of
    `hash_split` and the prefix-filtered exact similarity join; the
    oracle replays split assignment AND all-pairs Jaccard."""
    from etl_rj_spark.operators.curation import hash_split, split_leakage_pairs

    corpus = hash_split(_near_dup_token_corpus(spark, sf_dir), "doc_id")
    return split_leakage_pairs(corpus, "doc_id", "text", "split", threshold=0.7, n=3)


# --- SimHash ---------------------------------------------------------------

@_q(
    "simhash_fingerprints",
    f"""
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 60), j ->
             CASE WHEN list_sum(list_transform(th, h -> ((h >> j) & 1) * 2 - 1)) > 0
                  THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS fp
    FROM (
      SELECT doc_id,
             list_transform(string_split_regex({_NT}, '\\s+'),
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
      FROM documents WHERE doc_id < 200
    )
    """,
    tags=("dedup-simhash",),
)
def simhash_fingerprints(spark, sf_dir):
    """60-bit SimHash fingerprints (md5-based bit votes) — the
    fingerprint step of simhash_near_pairs, oracle-checked bit-exactly."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select("doc_id", simhash("text").alias("fp"))


_FP_CORPUS = (
    "SELECT doc_id, text FROM documents WHERE doc_id < 100 "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text AS text "
    "FROM documents WHERE doc_id < 100"
)


def _two_tier_simhash_oracle(corpus_sql: str) -> str:
    """DuckDB replay of the SimHash family's storm-safe default
    (VERDICT r14 #2): exact-duplicate groups as ``(canonical=MIN(id),
    member, hamming=0)`` star edges, then the bit-exact 60-bit SimHash
    all-pairs hamming join over the per-content REPRESENTATIVES only.
    Reduces to the raw all-pairs oracle when no group exists."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    keyed AS (SELECT doc_id, text, md5({_NT}) AS key FROM corpus
              WHERE text IS NOT NULL),
    mapping AS (SELECT doc_id, text,
                       MIN(doc_id) OVER (PARTITION BY key) AS canonical_id
                FROM keyed),
    reps AS (SELECT doc_id, text FROM mapping WHERE doc_id = canonical_id),
    fps AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), j ->
               CASE WHEN list_sum(list_transform(th, h -> ((h >> j) & 1) * 2 - 1)) > 0
                    THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS fp
      FROM (
        SELECT doc_id,
               list_transform(string_split_regex({_NT}, '\\s+'),
                              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
        FROM reps
      )
    ),
    -- DISTINCT: distinct-pairs contract (r11 dupstorm parity with
    -- the engine's pair .distinct(); no-op on unique ids)
    raw AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
    ),
    star AS (SELECT DISTINCT canonical_id AS id_a, doc_id AS id_b,
                    0 AS hamming
             FROM mapping WHERE doc_id <> canonical_id)
    SELECT * FROM raw UNION ALL SELECT * FROM star
    """


@_q(
    "simhash_near_pairs",
    _two_tier_simhash_oracle(_FP_CORPUS),
    tags=("dedup-simhash",),
)
def simhash_near_pairs_q(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3) with 15-bit segment
    blocking — pigeonhole guarantees a pair within hamming 3 agrees on
    ≥1 of 4 segments, so recall is exact and the oracle is a strict
    equality check. CONTRACT CHANGED r15 (VERDICT r14 #2): the entry
    point is storm-safe by default, and this corpus — every doc plus a
    VERBATIM copy — trips the count gate, so each identical pair now
    surfaces as its linear star edge ``(id, id+100000, hamming=0)``
    (identical texts ⇒ identical fingerprints) and the blocked hamming
    join runs over the 100 representatives only, instead of the raw
    4×-fanned all-pairs output."""
    from etl_rj_spark.operators.text_dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
    corpus = d.unionByName(dup)
    pairs = simhash_near_pairs(corpus, "doc_id", "text", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_FP_STORM_CORPUS = (
    _FP_CORPUS
    + " UNION ALL SELECT 200000 + g.i AS doc_id, d.text AS text"
    " FROM documents d CROSS JOIN range(0, 30) g(i) WHERE d.doc_id = 7"
)


@_q(
    "simhash_near_pairs_storm",
    _two_tier_simhash_oracle(_FP_STORM_CORPUS),
    tags=("dedup-simhash",),
)
def simhash_near_pairs_storm(spark, sf_dir):
    """:func:`simhash_near_pairs` under an injected exact-duplicate
    storm (30 more verbatim copies of doc 7 at fresh ids) — the
    SimHash twin of ``near_dup_pairs_storm`` (VERDICT r14 #2):
    identical texts have IDENTICAL fingerprints, so segment blocking
    puts an m-member storm group in one bucket per segment and the raw
    operator's output is the C(m,2) hamming-0 clique no blocking can
    bound; the storm-safe default emits the group as linear star edges
    through its canonical and runs the blocked join over
    representatives only. Survivor equality to the raw pair set is
    pinned by tests/test_operators.py."""
    from etl_rj_spark.operators.text_dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
    storm = (
        d.filter(F.col("doc_id") == 7)
        .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), "text")
        .select((F.lit(200000) + F.col("i")).cast("long").alias("doc_id"), "text")
    )
    corpus = d.unionByName(dup).unionByName(storm)
    pairs = simhash_near_pairs(corpus, "doc_id", "text", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --- text analysis ---------------------------------------------------------

def _sql_stop_count(lang: str) -> str:
    words = "|".join(STOPWORDS[lang])
    return rf"len(regexp_extract_all(lower(text), '\b({words})\b'))"


@_q(
    "lang_id_docs",
    f"""
    SELECT doc_id, lang,
           CASE
             WHEN {_sql_stop_count('en')} > 0
                  AND {_sql_stop_count('en')} >= {_sql_stop_count('es')}
                  AND {_sql_stop_count('en')} >= {_sql_stop_count('fr')} THEN 'en'
             WHEN {_sql_stop_count('es')} > 0
                  AND {_sql_stop_count('es')} >= {_sql_stop_count('fr')} THEN 'es'
             WHEN {_sql_stop_count('fr')} > 0 THEN 'fr'
             ELSE 'unknown'
           END AS lang_pred
    FROM documents
    """,
    tags=("text-langid",),
)
def lang_id_docs(spark, sf_dir):
    """Heuristic language ID (stopword-count argmax with deterministic
    precedence) next to the table's labeled lang."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


def _sql_quality_feats(source: str) -> str:
    """Inner feature SELECT of the quality score — the ONE copy of the
    float-feature extraction both quality_score_docs and the e2e
    curation pipeline replay (a one-sided edit would desync the
    fixed-operation-order contract with quality_features)."""
    return rf"""
      SELECT doc_id, text,
             length(text)::DOUBLE AS n_chars,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END)::DOUBLE AS n_tokens,
             len(regexp_extract_all(text, '[^\w\s]'))::DOUBLE AS punct,
             {_sql_stop_count('en')}::DOUBLE AS stop_en
      FROM {source}
    """


#: Combined [0,1] score over _sql_quality_feats columns — fixed
#: operation order (the cross-engine float contract).
_SQL_QUALITY_SCORE = (
    "least(n_tokens / 100.0, 1.0) * 0.3"
    " + (1.0 - least(punct / greatest(n_chars, 1.0) * 5.0, 1.0)) * 0.3"
    " + least(stop_en / greatest(n_tokens, 1.0) * 5.0, 1.0) * 0.4"
)


@_q(
    "quality_score_docs",
    rf"""
    SELECT doc_id, n_chars, n_tokens,
           punct / greatest(n_chars, 1.0) AS punct_ratio,
           stop_en / greatest(n_tokens, 1.0) AS stopword_ratio,
           {_SQL_QUALITY_SCORE} AS quality_score
    FROM ({_sql_quality_feats('documents')})
    """,
    tags=("text-quality",),
)
def quality_score_docs(spark, sf_dir):
    """Quality scoring: length/punctuation/stopword features + combined
    [0,1] score, fixed operation order."""
    d = _t(spark, sf_dir, "documents")
    feats = quality_features("text")
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


@_q(
    "token_stats_docs",
    r"""
    SELECT doc_id,
           (CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens
    FROM documents
    """,
    tags=("text-tokens",),
)
def token_stats_docs(spark, sf_dir):
    """Token counting: whitespace and BPE-ish regex pre-tokenization."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        regex_token_count("text").alias("regex_tokens"),
    )


@_q(
    "doc_fingerprints",
    f"""
    SELECT doc_id, md5({_NT}) AS content_md5,
           list_min(list_transform(
             [substr(nt, i, 5) for i in range(1, len(nt) - 3)],
             s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS minhash
    FROM (SELECT doc_id, {_NT} AS nt, text FROM documents)
    """,
    tags=("text-fingerprint",),
)
def doc_fingerprints(spark, sf_dir):
    """Document fingerprinting: exact content md5 + 1-permutation
    minhash over 5-char shingles."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", content_md5("text").alias("content_md5"), minhash64("text").alias("minhash")
    )


# --- similarity search -----------------------------------------------------

_SQL_DOT = "list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i]))"
_SQL_COS = (
    f"round({_SQL_DOT} / "
    "(sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) * "
    "sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 9)"
)

@_q(
    "cosine_topk_bruteforce",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 5),
         scored AS (SELECT query_id, vec_id, {_SQL_COS} AS score FROM q CROSS JOIN c)
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 10
    """,
    bench=True,
    tags=("similarity-bruteforce",),
)
def cosine_topk_bruteforce(spark, sf_dir):
    """Exact ANN baseline: brute-force cosine top-10 for 5 query
    vectors against the rest of the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    return cosine_topk(corpus, queries, k=10)


_SQL_CELL = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)" for j in range(8)
)

@_q(
    "ann_ivf_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, {_SQL_CELL} AS cell
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, {_SQL_CELL} AS cell
               FROM embeddings WHERE vec_id >= 5),
         scored AS (SELECT query_id, c.vec_id, {_SQL_COS} AS score
                    FROM q JOIN c USING (cell))
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 5
    """,
    tags=("similarity-ivf",),
)
def ann_ivf_topk(spark, sf_dir):
    """Scale-path ANN: sign-bit coarse cells (deterministic IVF/LSH),
    probing only the query's cell — the cell equi-join replaces the
    cross join."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    return ivf_topk(corpus, queries, k=5)


def _kmeans_oracle_ctes(
    k: int = 8, dim: int = 64, fit_filter: str = "TRUE",
    source: str = "embeddings", prefix: str = "",
    iv_expr: str | None = None,
) -> str:
    """CTE chain replaying ``operators/kmeans.kmeans_fit`` (2 Lloyd
    iterations) in DuckDB — possible only because the fit is exact
    int64 arithmetic end to end: floor(x·2^20) quantization, integer
    squared distances, and an explicit positive-mod floor division for
    the centroid means (see kmeans.py docstring). Ends with centroids
    ``c2(cid, cv)`` over ``base(vec_id, iv, dv)``."""
    q = 1 << 20
    rng = f"range(1, {dim + 1})"

    # assignment is ROW-GRAIN (PARTITION BY the synthetic per-row rid,
    # never vec_id): duplicated ids — the re-ingested-shard shape —
    # must not collapse to one point, exactly as the engine's
    # map-side argmin assigns every ROW (r11 dupstorm parity; verbatim
    # duplicates have identical sums/means, so the trained centroids
    # are unchanged on clean data)
    def assign(cents: str, pts: str) -> str:
        return f"""(
          SELECT rid, vec_id, iv, cid FROM (
            SELECT p.rid, p.vec_id, p.iv, c.cid,
                   row_number() OVER (PARTITION BY p.rid ORDER BY
                     list_sum(list_transform({rng}, i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
            FROM {pts} p CROSS JOIN {cents} c
          ) WHERE rn = 1
        )"""

    def update(assigned: str, prev: str) -> str:
        return f"""(
          SELECT c.cid, coalesce(u.cv, c.cv) AS cv
          FROM {prev} c LEFT JOIN (
            SELECT cid, list(m ORDER BY idx) AS cv FROM (
              SELECT cid, idx, (s - ((s % n + n) % n)) // n AS m
              FROM (
                SELECT a.cid, r.idx, SUM(a.iv[r.idx]) AS s, COUNT(*) AS n
                FROM {assigned} a CROSS JOIN {rng} r(idx)
                GROUP BY a.cid, r.idx
              )
            ) GROUP BY cid
          ) u USING (cid)
        )"""

    p = prefix
    iv_sql = (
        iv_expr
        if iv_expr is not None
        else f"list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * {q}) AS BIGINT))"
    )
    dv_sql = "CAST(NULL AS DOUBLE[])" if iv_expr is not None else "embedding::DOUBLE[]"
    # only the raw-embeddings source carries a NULLable vector column;
    # custom sources (doc features) filter upstream
    null_guard = "" if iv_expr is not None else " WHERE embedding IS NOT NULL"
    return f"""
    {p}base AS (
      -- NULL vectors are not clusterable points (r10 parity;
      -- mirrors kmeans_fit/kmeans_assign's isNotNull drop).
      -- rid: synthetic PER-ROW identity (arbitrary order — only used
      -- as a partition key, never ordered on), so duplicated vec_ids
      -- stay distinct points exactly as in the engine (r11 dupstorm)
      SELECT row_number() OVER () AS rid, vec_id, {iv_sql} AS iv, {dv_sql} AS dv
      FROM {source}{null_guard}
    ),
    {p}fitpts AS (SELECT * FROM {p}base WHERE {fit_filter}),
    {p}c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, iv AS cv
      FROM (SELECT vec_id, iv FROM {p}fitpts ORDER BY vec_id LIMIT {k})
    ),
    {p}a1 AS {assign(f'{p}c0', f'{p}fitpts')},
    {p}c1 AS {update(f'{p}a1', f'{p}c0')},
    {p}a2 AS {assign(f'{p}c1', f'{p}fitpts')},
    {p}c2 AS {update(f'{p}a2', f'{p}c1')}
    """


@_q(
    "kmeans_cells",
    f"""
    WITH {_kmeans_oracle_ctes()},
    final AS (
      -- row-grain assignment (PARTITION BY rid): one output row per
      -- corpus row, duplicated ids included (r11 dupstorm parity)
      SELECT vec_id, cid FROM (
        SELECT p.rid, p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.rid ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT vec_id, cid AS cell FROM final
    """,
    tags=("similarity-kmeans",),
)
def kmeans_cells(spark, sf_dir):
    """Trained IVF partitioning: integer k-means (k=8, 2 Lloyd
    iterations, deterministic by construction — see operators/kmeans.py)
    then nearest-centroid cell assignment of the whole corpus. The
    oracle replays the full iterative fit in SQL and must match
    bit-for-bit; at scale this is the layout step — write the corpus
    bucketed by ``cell`` and ANN queries scan one bucket."""
    from etl_rj_spark.operators.kmeans import kmeans_assign, kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=8, iters=2)
    return kmeans_assign(e, centroids)


_DOC_FEATS_SOURCE = rf"""(
  SELECT doc_id AS vec_id,
         list_filter(string_split_regex({_NT}, '\s+'), t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL
)"""

_DOC_FEATS_IV = """list_transform(range(0, 16), j ->
  CAST(len(list_filter(toks, t ->
    ('0x' || substr(md5(t), 1, 12))::BIGINT % 16 = j)) AS BIGINT) * 1048576)"""


@_q(
    "doc_topic_cells",
    f"""
    WITH {_kmeans_oracle_ctes(k=6, dim=16, source=_DOC_FEATS_SOURCE, iv_expr=_DOC_FEATS_IV)},
    final AS (
      -- row-grain assignment (PARTITION BY rid, r11 dupstorm parity)
      SELECT vec_id, cid FROM (
        SELECT p.rid, p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.rid ORDER BY
                 list_sum(list_transform(range(1, 17), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT vec_id AS doc_id, cid AS cell FROM final
    """,
    tags=("text-topics", "similarity-kmeans"),
)
def doc_topic_cells(spark, sf_dir):
    """Text → topic cells with NO model artifacts: md5 feature-hashed
    token-count vectors (16 buckets) clustered by the deterministic
    integer k-means (k=6, 2 Lloyd iterations) — the full
    featurize→train→assign chain is exact integer arithmetic, so the
    oracle replays tokenization, hashing, BOTH training iterations,
    and the final assignment bit-for-bit. At scale this is topic
    routing/layout: write the corpus bucketed by cell."""
    from etl_rj_spark.operators.kmeans import kmeans_assign, kmeans_fit
    from etl_rj_spark.operators.text_analysis import feature_hash_vectors

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    feats = feature_hash_vectors(docs, "doc_id", "text", dim=16)
    cents = kmeans_fit(feats, vec_col="features", id_col="doc_id", k=6, iters=2)
    return kmeans_assign(feats, cents, vec_col="features", id_col="doc_id")


@_q(
    "cell_balanced_sample",
    f"""
    WITH {_kmeans_oracle_ctes()},
    cells AS (
      -- row-grain assignment (PARTITION BY rid, r11 dupstorm parity)
      SELECT vec_id, cid AS cell FROM (
        SELECT p.rid, p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.rid ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT vec_id, cell
    FROM (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell
                                ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rk
      FROM cells
    ) WHERE rk <= 30
    """,
    tags=("similarity-kmeans", "curation-mix", "diversity-sample"),
)
def cell_balanced_sample(spark, sf_dir):
    """Diversity-BALANCED corpus sampling — the balance twin of
    SemDeDup's within-cell dedup: assign every embedding to its trained
    k-means cell, then keep a deterministic hash-rank cap per cell
    (30), equalizing semantic-cluster representation the way
    source-mix resampling equalizes provenance. Dense regions stop
    dominating the sample; sparse regions keep everything under cap.

    Scale: cell assignment is map-side against broadcast centroids
    (KBs); the per-cell cap rides ``hash_threshold_resample`` — a
    Chernoff-padded hash pre-filter so the rank window sorts
    ~cap·(1+ε) rows per cell, never the cell (the 10⁹-rows-per-cell
    posture). The oracle replays the full deterministic k-means fit +
    assignment + the same md5-rank cap."""
    from etl_rj_spark.operators.curation import hash_threshold_resample
    from etl_rj_spark.operators.kmeans import kmeans_assign, kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e, k=8, iters=2)
    cells = kmeans_assign(e, centroids)  # (vec_id, cell)
    caps = {cid: 30 for cid in range(1, 9)}
    return hash_threshold_resample(cells, "cell", "vec_id", caps)


@_q(
    "ann_kmeans_ivf_topk",
    f"""
    WITH {_kmeans_oracle_ctes(fit_filter="vec_id >= 5")},
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    q AS (SELECT b.vec_id AS query_id, b.dv AS qv, cells.cid AS cell
          FROM base b JOIN cells USING (vec_id) WHERE b.vec_id < 5),
    c AS (SELECT b.vec_id, b.dv AS cv, cells.cid AS cell
          FROM base b JOIN cells USING (vec_id) WHERE b.vec_id >= 5),
    scored AS (SELECT query_id, c.vec_id, {{_SQL_COS}} AS score
               FROM q JOIN c USING (cell))
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 5
    """.format(_SQL_COS=_SQL_COS),
    tags=("similarity-kmeans",),
)
def ann_kmeans_ivf_topk(spark, sf_dir):
    """ANN top-5 through the trained k-means cells (fit on the corpus
    side only), exact cosine rescoring inside the probed cell — the
    trained-partitioning upgrade of ``ann_ivf_topk``'s static sign-bit
    cells."""
    from etl_rj_spark.operators.kmeans import kmeans_fit, kmeans_ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    centroids = kmeans_fit(corpus, k=8, iters=2)
    return kmeans_ivf_topk(corpus, queries, centroids, k=5)


def _lsh_oracle_sql(k: int = 10, dim: int = 64, bits: int = 4, tables: int = 8) -> str:
    """DuckDB twin of ``lsh_topk``. Possible only because bucket
    assignment is exact int64 arithmetic (see ``lsh_buckets``): both
    engines quantize components with floor(x·2^20) and dot against the
    same integer hyperplanes, so the candidate sets are provably
    identical — no float sign instability to hedge against."""
    from etl_rj_spark.operators.similarity import _lsh_planes

    planes = _lsh_planes(dim, bits, tables)
    bcols = []
    for t in range(tables):
        terms = []
        for p in range(bits):
            lst = "[" + ",".join(str(x) for x in planes[t][p]) + "]"
            d = f"list_sum(list_transform(range(1,{dim + 1}), i -> iv[i] * ({lst})[i]))"
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
        bcols.append(" + ".join(terms) + f" AS b{t}")
    blist = ", ".join(f"b{t}" for t in range(tables))
    on = " OR ".join(f"q.b{t} = c.b{t}" for t in range(tables))
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS cv,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1048576) AS BIGINT)) AS iv
      FROM embeddings
    ), bk AS (
      SELECT vec_id, cv, {", ".join(bcols)} FROM base
    ), q AS (
      SELECT vec_id AS query_id, cv AS qv, {blist} FROM bk WHERE vec_id < 20
    ), cand AS (
      SELECT q.query_id, q.qv, c.vec_id, c.cv FROM q JOIN bk c ON {on}
    ), scored AS (
      -- DISTINCT: ranks are over DISTINCT (query, id, score) results
      -- — duplicated corpus/query rows must not occupy several of the
      -- k slots (r11 dupstorm parity with lsh_topk's scored.distinct)
      SELECT DISTINCT query_id, vec_id, {_SQL_COS} AS score FROM cand
    )
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@_q("ann_lsh_topk", _lsh_oracle_sql(), tags=("similarity-lsh",))
def ann_lsh_topk(spark, sf_dir):
    """Scale-path ANN #2: multi-table random-hyperplane LSH (8 tables
    x 4 planes, deterministic md5-seeded INTEGER hyperplanes over
    floor(x*2^20)-quantized components — bucket assignment is exact
    int64 arithmetic, hence engine-stable and fully oracled), exact
    cosine rescoring of the bucket-union candidates.
    tests/test_fuzzy.py additionally pins recall >= 0.5 against the
    brute-force ground truth."""
    from etl_rj_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 20)
    return lsh_topk(e, queries, k=10, dim=64, bits=4, tables=8)


@_q(
    "embedding_norm_stats",
    """
    SELECT label, COUNT(*) AS n,
           (SUM(CAST(ROUND(norm * 1000000) AS BIGINT)) / 1000000.0) / COUNT(*) AS avg_norm
    FROM (
      SELECT label,
             sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))) AS norm
      FROM (SELECT label, embedding::DOUBLE[] AS cv FROM embeddings)
    ) GROUP BY label
    """,
    tags=("similarity-stats",),
)
def embedding_norm_stats(spark, sf_dir):
    """Per-label embedding L2-norm stats (exact-integer-micros
    aggregation for cross-engine determinism)."""
    e = _t(spark, sf_dir, "embeddings")
    norm = l2_norm(vec_double("embedding"))
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            ((F.sum(F.round(F.col("norm") * 1000000).cast("long")) / F.lit(1000000.0)) / F.count("*")).alias("avg_norm"),
        )
    )


# --- dup clusters (connected components) -----------------------------------

_CLUSTER_CORPUS = (
    "SELECT doc_id, text FROM documents WHERE doc_id < 50 "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' zz' AS text "
    "FROM documents WHERE doc_id < 50 "
    "UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' zz zz' AS text "
    "FROM documents WHERE doc_id < 50"
)

_CLUSTER_ORACLE = f"""
    WITH RECURSIVE corpus AS ({_CLUSTER_CORPUS}),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\\s+') AS toks FROM corpus)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= 0.6
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    )
    SELECT node, MIN(label) AS component FROM reach GROUP BY node
    """


@_q("dup_clusters", _CLUSTER_ORACLE, tags=("dedup-clusters",))
def dup_clusters(spark, sf_dir):
    """Near-dup clustering end-to-end: exact n-gram-Jaccard pairs →
    connected components by iterative min-label propagation. Each
    original + its two perturbed copies collapse into one component
    labeled by the original id."""
    from etl_rj_spark.operators.components import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id", "text")
    dup1 = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text"))
    dup2 = d.select((F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zz zz")).alias("text"))
    corpus = d.unionByName(dup1).unionByName(dup2)
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.6, n=3)
    return connected_components(pairs.select("id_a", "id_b")).select("node", "component")


def _register_cluster_quality_keep():
    oracle = rf"""
    WITH RECURSIVE corpus AS ({_CLUSTER_CORPUS}),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\s+') AS toks FROM corpus)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= 0.6
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
    scored AS (
      SELECT doc_id, {_SQL_QUALITY_SCORE} AS q
      FROM ({_sql_quality_feats('corpus')})
    ),
    labeled AS (
      SELECT s.doc_id, s.q, COALESCE(c.component, s.doc_id) AS component
      FROM scored s LEFT JOIN comp c ON c.node = s.doc_id
    ),
    ranked AS (
      SELECT component, doc_id, q,
             row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS cluster_size
      FROM labeled
    )
    SELECT component, doc_id AS keep_doc_id, q AS quality_score,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1 ORDER BY component
    """

    @_q(
        "cluster_quality_keep",
        oracle,
        tags=("dedup-clusters", "curation", "text-quality"),
    )
    def cluster_quality_keep(spark, sf_dir):
        """Quality-AWARE near-dup collapse — the curation ending of the
        dedup pipeline: cluster near-dups (same corpus/pairs/components
        as ``dup_clusters``), score every member with the fixed-order
        quality features, and keep the HIGHEST-quality member per
        cluster (score DESC, doc_id tiebreak via max_by over a
        (q, −doc_id) struct — engine-deterministic because the score's
        operation order is the shared cross-engine float contract).
        Singletons keep themselves. The min-id ``keep_first`` variant
        is the cheap path; this one keeps the best CONTENT, which is
        what a training-data pipeline actually wants.

        Scale: components and scoring are the proven pieces; the
        argmax is one groupBy over (component) — no new shuffle shape."""
        from etl_rj_spark.operators.components import connected_components
        from etl_rj_spark.operators.text_analysis import quality_features

        d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id", "text")
        dup1 = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text"))
        dup2 = d.select((F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zz zz")).alias("text"))
        corpus = d.unionByName(dup1).unionByName(dup2)
        pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.6, n=3)
        comp = connected_components(pairs.select("id_a", "id_b"))
        feats = quality_features("text")
        scored = corpus.select("doc_id", feats["quality_score"].alias("q"))
        labeled = scored.join(comp, scored.doc_id == comp.node, "left").select(
            "doc_id", "q", F.coalesce("component", "doc_id").alias("component")
        )
        keep = labeled.groupBy("component").agg(
            F.max_by(
                F.struct("doc_id", "q"), F.struct(F.col("q"), (-F.col("doc_id")))
            ).alias("k"),
            F.count("*").alias("cluster_size"),
        )
        return keep.select(
            "component",
            F.col("k.doc_id").alias("keep_doc_id"),
            F.col("k.q").alias("quality_score"),
            "cluster_size",
        ).orderBy("component")

    return cluster_quality_keep


_register_cluster_quality_keep()


@_q("dup_clusters_star", _CLUSTER_ORACLE, tags=("dedup-clusters",))
def dup_clusters_star(spark, sf_dir):
    """Same clusters via the O(log² n)-round large-star/small-star
    contraction — the scale path for chain-shaped dup graphs whose
    diameter would starve plain propagation. Same oracle as
    ``dup_clusters``: the component sets are identical by definition."""
    from etl_rj_spark.operators.components import connected_components_star

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id", "text")
    dup1 = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text"))
    dup2 = d.select((F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zz zz")).alias("text"))
    corpus = d.unionByName(dup1).unionByName(dup2)
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.6, n=3)
    return connected_components_star(pairs.select("id_a", "id_b")).select("node", "component")


@_q(
    "udtf_token_ngrams",
    f"""
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 3 THEN
             [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
             ELSE [] END) AS gram
    FROM (SELECT doc_id, string_split_regex({_NT}, '\\s+') AS toks
          FROM documents WHERE doc_id < 50)
    """,
    tags=("udtf",),
)
def udtf_token_ngrams(spark, sf_dir):
    """Python UDTF in LATERAL position: token 3-grams with multiplicity
    — the Spark 4 table-function surface, semantics pinned to the
    expression-based n-gram path by the shared oracle."""
    from etl_rj_spark.operators.udtfs import explode_ngrams_udtf

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id", "text")
    return explode_ngrams_udtf(spark, d, "doc_id", "text", n=3)


@_q(
    "dedup_corpus_survivors",
    f"""
    WITH RECURSIVE corpus AS ({_CLUSTER_CORPUS}),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\\s+') AS toks FROM corpus)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= 0.6
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT c.doc_id FROM corpus c
    WHERE c.doc_id NOT IN (SELECT node FROM comp WHERE component != node)
    """,
    tags=("dedup-clusters", "dedup-survivors"),
)
def dedup_corpus_survivors(spark, sf_dir):
    """The full dedup flow's output: pairs → connected components →
    one surviving representative per near-dup cluster (min id) plus all
    edge-less documents — here exactly the 50 original doc_ids."""
    from etl_rj_spark.operators.text_dedup import dedup_survivors

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id", "text")
    dup1 = d.select((F.col("doc_id") + 100000).alias("doc_id"), F.concat("text", F.lit(" zz")).alias("text"))
    dup2 = d.select((F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zz zz")).alias("text"))
    corpus = d.unionByName(dup1).unionByName(dup2)
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.6, n=3)
    return dedup_survivors(corpus, "doc_id", pairs.select("id_a", "id_b")).select("doc_id")


@_q(
    "embedding_l2_normalized",
    """
    SELECT vec_id,
           list_aggregate(
             list_transform(cv, x -> CAST(CAST(ROUND(x / nrm * 1000000) AS BIGINT) AS VARCHAR)),
             'string_agg', ',') AS unit_vec_csv
    FROM (
      SELECT vec_id, cv,
             sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))) AS nrm
      FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 100)
    )
    """,
    tags=("similarity-normalize",),
)
def embedding_l2_normalized(spark, sf_dir):
    """L2 unit-normalization of embedding vectors. The driver contract
    is a hashable scalar per row (its canonicalizer cannot hash list
    cells), so components are scaled to exact integers (×1e6, the same
    trick ``embedding_norm_stats`` uses) and comma-joined; the raw
    ``array<double>`` path is :func:`l2_normalize` itself, exercised
    directly in tests."""
    from etl_rj_spark.operators.similarity import l2_normalize, vec_double

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    unit = l2_normalize(vec_double("embedding"))
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(unit, lambda x: F.round(x * 1000000).cast("long").cast("string")),
            ",",
        ).alias("unit_vec_csv"),
    )


@_q(
    "embedding_random_projection",
    """
    SELECT vec_id,
           list_aggregate(
             list_transform(range(0, 16), j ->
               CAST(CAST(ROUND(list_sum(list_transform(range(1, 65), i ->
                 cv[i] * (CASE WHEN substr(md5('42:' || j || ':' || (i - 1)), 1, 1) < '8'
                               THEN 1.0 ELSE -1.0 END)
               )) * 0.25 * 1000000) AS BIGINT) AS VARCHAR)),
             'string_agg', ',') AS proj_csv
    FROM (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id < 100)
    """,
    tags=("similarity-projection",),
)
def embedding_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss 64→16 random projection
    (operators/similarity.project_embeddings): the shrink-before-ANN
    step that quarters every downstream distance computation. The ±1
    matrix is md5-derived from the seed, so the DuckDB oracle
    REGENERATES the identical matrix in SQL and recomputes every
    projected coordinate — matrix, signs, dot order, and scaling all
    cross-checked. Components ship ×1e6 as integer CSV (the driver
    canonicalizer needs scalar cells, same trick as
    embedding_l2_normalized)."""
    from etl_rj_spark.operators.similarity import project_embeddings

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    out = project_embeddings(e, "embedding", 64, 16, seed=42)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("proj"), lambda x: F.round(x * 1000000).cast("long").cast("string")
            ),
            ",",
        ).alias("proj_csv"),
    )


@_q(
    "embedding_standardize",
    """
    -- rid: per-row identity so the final GROUP BY is ROW-grain —
    -- duplicated vec_ids stay separate output rows, exactly as the
    -- engine's scan-stage z-transform (r11 dupstorm parity; the
    -- per-dimension stats are unaffected: both engines always counted
    -- every row)
    WITH e AS (SELECT row_number() OVER () AS rid, vec_id,
                      embedding::DOUBLE[] AS cv
               FROM embeddings WHERE vec_id < 200),
    x AS (
      SELECT rid, vec_id, i AS dim, CAST(ROUND(cv[i + 1] * 1000000) AS BIGINT) AS xi
      FROM e, range(0, 64) t(i)
    ),
    stats AS (
      SELECT dim, COUNT(*)::HUGEINT AS n, SUM(xi::HUGEINT) AS s, SUM(xi::HUGEINT * xi) AS q
      FROM x GROUP BY dim
    ),
    z AS (
      SELECT rid, vec_id, dim,
             CASE WHEN n * q - s * s = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(ROUND((n * xi - s)::DOUBLE / sqrt((n * q - s * s)::DOUBLE)
                                  * 1000000) AS BIGINT)
             END AS zz
      FROM x JOIN stats USING (dim)
    )
    SELECT vec_id, string_agg(CAST(zz AS VARCHAR), ',' ORDER BY dim) AS z_csv
    FROM z GROUP BY rid, vec_id
    """,
    tags=("similarity-standardize",),
)
def embedding_standardize_q(spark, sf_dir):
    """Per-dimension z-score standardization in the exact-integer house
    form: micros coordinates, decimal(38,0) Σx/Σx² per dimension, the
    cleared form (n·x − S)/√(nQ − S²) — the oracle replays sums and
    every z coordinate bit-for-bit. Zero-variance dims → 0, never NaN.
    Stats broadcast back as one KB row; z is scan-stage work."""
    from etl_rj_spark.operators.similarity import standardize_embeddings

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    out = standardize_embeddings(e, "embedding", 64)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform("z_micros", lambda x: x.cast("string")), ","
        ).alias("z_csv"),
    )


_SQL_COS_NANO = (
    f"CAST(ROUND(({_SQL_DOT}) / "
    "(sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) * "
    "sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))) "
    "* 1000000000) AS BIGINT)"
)

@_q(
    "margin_bitext_pairs",
    f"""
    WITH s AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 30),
    t AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id >= 400),
    scored AS (
      SELECT src_id, tgt_id, {_SQL_COS_NANO} AS score_nano FROM s CROSS JOIN t
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY src_id ORDER BY score_nano DESC, tgt_id) AS rs,
        row_number() OVER (PARTITION BY tgt_id ORDER BY score_nano DESC, src_id) AS rt
      FROM scored
    ),
    ss AS (SELECT src_id, SUM(score_nano) AS sum_s FROM ranked WHERE rs <= 4 GROUP BY 1),
    st AS (SELECT tgt_id, SUM(score_nano) AS sum_t FROM ranked WHERE rt <= 4 GROUP BY 1),
    cand AS (
      SELECT r.src_id, r.tgt_id, r.score_nano,
             CAST(8 * r.score_nano - ss.sum_s - st.sum_t AS BIGINT) AS margin_scaled
      FROM ranked r JOIN ss USING (src_id) JOIN st USING (tgt_id)
      WHERE rs <= 4 OR rt <= 4
    ),
    best AS (
      SELECT *,
        row_number() OVER (PARTITION BY src_id ORDER BY margin_scaled DESC, tgt_id) AS bs,
        row_number() OVER (PARTITION BY tgt_id ORDER BY margin_scaled DESC, src_id) AS bt
      FROM cand
    )
    SELECT src_id, tgt_id, score_nano, margin_scaled
    FROM best WHERE bs = 1 AND bt = 1 AND margin_scaled >= 0
    """,
    tags=("similarity-bitext",),
)
def margin_bitext_pairs_q(spark, sf_dir):
    """Margin-based bitext mining between two embedding pools:
    mutual-best pairs under the division-free scaled difference margin
    2k·s − (Σtopk_src + Σtopk_tgt) — the local-density normalization
    that raw cosine thresholds lack. Pure int64 after the nano round;
    the oracle replays scoring, both top-k sums, margins, and the
    mutuality filter."""
    from etl_rj_spark.operators.similarity import margin_bitext_mine

    e = _t(spark, sf_dir, "embeddings")
    return margin_bitext_mine(
        e.filter(F.col("vec_id") < 30), e.filter(F.col("vec_id") >= 400), k=4
    )


@_q(
    "knn_label_vote",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 40),
    c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, vec_id, label, {_SQL_COS} AS score
      FROM q CROSS JOIN c WHERE vec_id <> query_id
    ),
    neigh AS (
      SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rnk
      FROM scored QUALIFY rnk <= 15
    ),
    votes AS (
      SELECT query_id, label, COUNT(*) AS votes FROM neigh GROUP BY 1, 2
    ),
    tot AS (SELECT query_id, COUNT(*) AS n_neighbors FROM neigh GROUP BY 1)
    SELECT query_id, label AS pred_label, votes, n_neighbors
    FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label) AS vr
      FROM votes QUALIFY vr = 1
    ) JOIN tot USING (query_id)
    """,
    tags=("similarity-knn-vote",),
)
def knn_label_vote_q(spark, sf_dir):
    """kNN pseudo-labeling: majority vote of the 15 exactly-nearest
    labeled vectors per query, self-matches excluded before ranking,
    deterministic (votes DESC, label) tie-break — the oracle replays
    scoring, ranking, voting, and the winner selection."""
    from etl_rj_spark.operators.similarity import knn_label_vote

    e = _t(spark, sf_dir, "embeddings")
    return knn_label_vote(e, e.filter(F.col("vec_id") < 40), k=15)


@_q(
    "embedding_mean_pool",
    """
    WITH x AS (
      SELECT label,
             unnest([i for i in range(1, 65)]) AS dim,
             unnest([CAST(ROUND(cv[i] * 1000000) AS BIGINT) for i in range(1, 65)]) AS xi
      -- NULL embeddings carry no coordinates to pool (r10 parity;
      -- mirrors mean_pool_embeddings' isNotNull drop)
      FROM (SELECT label, embedding::DOUBLE[] AS cv FROM embeddings
            WHERE embedding IS NOT NULL)
    ),
    agg AS (
      SELECT label, dim, CAST(SUM(xi) AS BIGINT) AS s, COUNT(*) AS c
      FROM x GROUP BY label, dim
    )
    SELECT label,
           string_agg(CAST(CAST(ROUND(s::DOUBLE / c) AS BIGINT) AS VARCHAR),
                      ',' ORDER BY dim) AS mean_csv
    FROM agg GROUP BY label
    """,
    tags=("similarity-pool",),
)
def embedding_mean_pool_q(spark, sf_dir):
    """Per-label mean-pooled embedding (the profile/centroid
    aggregation) in exact-integer micros: per-(group, dim) integer
    sums, one correctly-rounded division — the oracle replays every
    coordinate. Map-side-combinable aggregate, dim-sorted
    deterministic re-assembly."""
    from etl_rj_spark.operators.similarity import mean_pool_embeddings

    e = _t(spark, sf_dir, "embeddings")
    pooled = mean_pool_embeddings(e, "label", "embedding")
    return pooled.select(
        "label",
        F.array_join(
            F.transform("mean_micros", lambda x: x.cast("string")), ","
        ).alias("mean_csv"),
    )


# --- corpus curation -------------------------------------------------------

@_q(
    "preference_pairs_mined",
    rf"""
    WITH feats AS ({_sql_quality_feats('documents')}),
    scored AS (
      SELECT f.doc_id, d.lang || '/' || d.source AS grp,
             {_SQL_QUALITY_SCORE} AS quality_score
      FROM feats f
      JOIN (SELECT doc_id, lang, source FROM documents) d ON f.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT grp, doc_id, quality_score,
             row_number() OVER (PARTITION BY grp ORDER BY quality_score DESC, doc_id) AS rb,
             row_number() OVER (PARTITION BY grp ORDER BY quality_score ASC, doc_id) AS rw
      FROM scored
    )
    SELECT b.grp, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           b.quality_score AS chosen_score, w.quality_score AS rejected_score,
           b.quality_score - w.quality_score AS score_margin
    FROM (SELECT * FROM ranked WHERE rb = 1) b
    JOIN (SELECT * FROM ranked WHERE rw = 1) w USING (grp)
    WHERE b.doc_id <> w.doc_id
      AND b.quality_score - w.quality_score >= 0.05
    """,
    tags=("curation-preference",),
)
def preference_pairs_mined_q(spark, sf_dir):
    """DPO-style preference pairs: per (lang, source) group, the
    best-quality doc paired against the worst, margin-gated at 0.05 —
    deterministic tiebreaks, at most one pair per group. The oracle
    replays the quality score (the shared fixed-operation-order
    contract) plus both rank windows and the margin gate."""
    from etl_rj_spark.operators.curation import preference_pairs
    from etl_rj_spark.operators.text_analysis import quality_features

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.concat("lang", F.lit("/"), "source").alias("grp"),
        quality_features("text")["quality_score"].alias("quality_score"),
    )
    return preference_pairs(scored, "grp", "doc_id", "quality_score", margin=0.05)


@_q(
    "temperature_mix_docs",
    """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 < 7 THEN 'big'
                  WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'small' END AS source
      FROM documents
    ),
    c AS (SELECT source AS b, COUNT(*) AS n FROM docs GROUP BY 1),
    r AS (SELECT b, sqrt(sqrt(n::DOUBLE)) / n::DOUBLE AS ratio FROM c),
    mx AS (SELECT MAX(ratio) AS m FROM r),
    p AS (SELECT b, round(ratio / m, 9) AS p FROM r CROSS JOIN mx)
    SELECT d.doc_id, d.source
    FROM docs d JOIN p ON d.source = p.b
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
          / 4503599627370496.0 < p.p
    """,
    tags=("curation-mix", "temperature"),
)
def temperature_mix_docs(spark, sf_dir):
    """Temperature-4 source mixing over a skewed 70/20/10 source split:
    per-source keep probability ∝ n^(1/4)/n, scarcest source keeps
    100 % — n^(1/4) as two correctly-rounded sqrt steps (never pow),
    hash-deterministic selection the oracle replays row-for-row."""
    from etl_rj_spark.operators.curation import temperature_mix_resample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 7, "big")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("small")
        .alias("source"),
    )
    return temperature_mix_resample(d, "source", "doc_id", temperature=4)


@_q(
    "hash_split_docs",
    """
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
                  AS INTEGER) AS bucket
      FROM documents
    )
    """,
    tags=("curation-split",),
)
def hash_split_docs(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by md5 of doc_id —
    stable across runs, engines, and partitionings (never rand())."""
    from etl_rj_spark.operators.curation import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select("doc_id", "split")


@_q(
    "keep_latest_events",
    """
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT user_id, event_type, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("curation-latest",),
)
def keep_latest_events(spark, sf_dir):
    """Keep-latest versioning: each user's newest event per type (the
    per-key generalization of the reference's MAX(FechaCarga) snapshot
    filter)."""
    from etl_rj_spark.operators.curation import keep_latest

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id", "ts", "value")
    return keep_latest(e, ["user_id", "event_type"], ["ts", "event_id"])


@_q(
    "stratified_sample_events",
    """
    SELECT event_id, event_type
    FROM (
      SELECT event_id, event_type,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT % 100
                  AS INTEGER) AS bucket
      FROM events
    )
    WHERE bucket < CASE event_type WHEN 'click' THEN 20
                                   WHEN 'view' THEN 50 ELSE 100 END
    """,
    tags=("curation-rebalance",),
)
def stratified_sample_events(spark, sf_dir):
    """Class rebalancing: hash-deterministic per-stratum downsampling
    (clicks to 20%, views to 50%, everything else kept) — the sample
    is a pure filter, stable across runs/engines/partitionings."""
    from etl_rj_spark.operators.curation import stratified_sample

    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return stratified_sample(
        e, "event_type", "event_id", {"click": 20, "view": 50}
    )


@_q(
    "curated_corpus_splits",
    rf"""
    WITH corpus AS ({_DUP_CORPUS}),
    feats AS (
      SELECT doc_id, text,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END) AS ws_tokens,
             least((CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+')) END) / 100.0, 1.0) * 0.3
               + (1.0 - least(len(regexp_extract_all(text, '[^\w\s]'))
                              / greatest(length(text)::DOUBLE, 1.0) * 5.0, 1.0)) * 0.3
               + least({_sql_stop_count('en')}
                       / greatest((CASE WHEN trim(text) = '' THEN 0
                                        ELSE len(string_split_regex(trim(text), '\s+')) END)::DOUBLE, 1.0)
                       * 5.0, 1.0) * 0.4 AS quality_score,
             CASE
               WHEN {_sql_stop_count('en')} > 0
                    AND {_sql_stop_count('en')} >= {_sql_stop_count('es')}
                    AND {_sql_stop_count('en')} >= {_sql_stop_count('fr')} THEN 'en'
               WHEN {_sql_stop_count('es')} > 0
                    AND {_sql_stop_count('es')} >= {_sql_stop_count('fr')} THEN 'es'
               WHEN {_sql_stop_count('fr')} > 0 THEN 'fr'
               ELSE 'unknown'
             END AS lang_pred
      FROM corpus
    ),
    kept AS (SELECT doc_id, text, ws_tokens FROM feats
             WHERE lang_pred = 'en' AND quality_score >= 0.5),
    keyed AS (SELECT doc_id, ws_tokens, md5({_NT}) AS key FROM kept),
    canon AS (SELECT key, MIN(doc_id) AS canonical FROM keyed GROUP BY key),
    survivors AS (
      SELECT k.doc_id, k.ws_tokens FROM keyed k JOIN canon c USING (key)
      WHERE k.doc_id = c.canonical
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_tokens
    FROM (
      SELECT ws_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
                  AS INTEGER) AS bucket
      FROM survivors
    ) GROUP BY 1 ORDER BY 1
    """,
    tags=("curation-pipeline",),
)
def curated_corpus_splits(spark, sf_dir):
    """The end-to-end training-corpus curation pipeline as ONE lazy
    plan: language filter (en) -> quality threshold (>= 0.5) ->
    exact-dedup survivors -> deterministic hash split -> per-split
    doc/token totals. Every stage is an operator proven by its own
    oracle query; this one proves the composition."""
    from etl_rj_spark.operators.curation import hash_split
    from etl_rj_spark.operators.text_analysis import (
        lang_id,
        quality_features,
        token_count,
    )
    from etl_rj_spark.operators.text_dedup import exact_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    feats = quality_features("text")
    kept = corpus.filter(
        (lang_id("text") == "en") & (feats["quality_score"] >= 0.5)
    )
    survivors = exact_dedup(kept, "doc_id", "text")
    return (
        hash_split(survivors, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text")).cast("long").alias("total_tokens"),
        )
        .orderBy("split")
    )


# --- bench-scale variants (rows-only: the ground-truth oracle is
# all-pairs-quadratic, which is exactly what these paths avoid) -------------

def _spread_replicas(df, *cols):
    """Hash-spread a replicated corpus over the session's default
    parallelism. The replicas' explode inherits the (single-file) input
    partitioning, so without a spread the hash-heavy stages after it run
    on one core; a fixed count tuned for a large box instead pays one
    task's overhead per partition on a small one (64 partitions over
    1.5k docs on 4 cores). The same rule as
    ``operators.text_dedup._fanout_partitions``."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)


def _scaled_docs(spark, sf_dir, copies: int):
    """documents replicated ``copies``× with per-copy id offsets and a
    distinct suffix word — every copy is a near-dup of its original, so
    dedup at this scale has real work to do.

    Exact-distinct at the corpus boundary (r11 dupstorm-regime
    contract): the replica-id arithmetic (doc_id + i·10⁶) guarantees
    unique derived ids ONLY if base rows are unique — a verbatim-
    duplicated base row would mint verbatim-duplicated replica ids and
    silently inflate every within-base pair count. The distinct runs
    on the small PRE-explode frame (one narrow shuffle before the
    ``copies``× fan-out, never after)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text").distinct()
    rep = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__i"), "doc_id", "text"
    )
    return _spread_replicas(rep, "doc_id", "__i").select(
        (F.col("doc_id") + F.col("__i") * 1000000).alias("doc_id"),
        F.when(F.col("__i") == 0, F.col("text"))
        .otherwise(F.concat("text", F.lit(" v"), F.col("__i").cast("string")))
        .alias("text"),
    )


#: Replica-id offset shared by the scaled self-asserting contracts.
_REPLICA_BASE = 1000000


def _base(c):
    return F.col(c) % _REPLICA_BASE


def _within_base_expected(values_by_base, pair_pred):
    """Exact within-base-group pair count for the scaled contracts:
    ``values_by_base`` is (__base, __val) — one row per replica — and
    ``pair_pred(x, y) -> Column[bool]`` is the similarity predicate.
    ONE shuffle groups the ~25 values per base, then all C(n,2)
    predicates evaluate row-locally with higher-order functions — no
    pairwise join carrying arrays (that shape cost as much as the
    path being checked). Returns a 1-row frame
    (n_within_base_expected). THE shared machinery of
    minhash_lsh_pairs_scaled and embedding_near_pairs_lsh_scaled —
    a fix here reaches both contracts."""
    m = F.col("ms")
    n = F.size(m)
    pair_flags = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, n.cast("long")),
                    lambda j: pair_pred(
                        F.element_at(m, i.cast("int")), F.element_at(m, j.cast("int"))
                    ).cast("long"),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    return (
        values_by_base.groupBy("__base")
        # sorted: the C(n,2) pair-flag SUM below is order-free already,
        # but the canonical order lets the order audit verify that
        # structurally (r15; ~25 small arrays per base — free)
        .agg(F.array_sort(F.collect_list("__val")).alias("ms"))
        .select(
            F.aggregate(pair_flags, F.lit(0).cast("long"), lambda a, x: a + x).alias("c"),
            F.size("ms").cast("long").alias("__n"),
        )
        .agg(
            F.sum("c").alias("n_within_base_expected"),
            F.sum("__n").alias("n_corpus_rows"),
        )
    )


def _recall_contract(pairs, expected, min_frac, name):
    """(n_corpus_rows, precision_ok, recall_ok, recall_check) with
    ``assert_true`` turning a violation into a query ERROR: found ≤
    expected EXACTLY (every emitted pair is similarity-verified, so a
    within-base surplus means a broken verifier) and found ≥
    ``min_frac`` of expected.

    The output is deliberately oracle-shaped (VERDICT r5 #2): on a
    healthy engine it is one fully deterministic row — the replica
    count (recomputable by DuckDB from the base table) plus TRUE flags
    and a NULL assert column — so the driver records a full
    rows+schema+hash verdict. The hard signal stays in-query: a
    recall/precision regression flips a flag (hash mismatch) AND trips
    ``assert_true`` (query error); both are driver-visible."""
    got = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum((_base("id_a") == _base("id_b")).cast("long")).alias("n_within_base"),
    )
    # COALESCE(...,0): on an EMPTY corpus both sides' sums are NULL and
    # an un-coalesced assert_true(NULL) would hard-error a vacuously
    # healthy contract — 0 expected, 0 found is a PASS (r10
    # degenerate-input sweep fix)
    n = F.coalesce(F.col("n_within_base"), F.lit(0))
    exp = F.coalesce(F.col("n_within_base_expected"), F.lit(0))
    return got.crossJoin(expected).select(
        F.coalesce(F.col("n_corpus_rows"), F.lit(0)).alias("n_corpus_rows"),
        (n <= exp).alias("precision_ok"),
        (n >= F.ceil(exp * min_frac)).alias("recall_ok"),
        F.assert_true(
            (n <= exp) & (n >= F.ceil(exp * min_frac)),
            F.lit(f"{name}: within-base recall/precision regression"),
        ).cast("string").alias("recall_check"),
    )


@_q(
    "minhash_lsh_pairs_scaled",
    """
    SELECT CAST(25 * COUNT(*) AS BIGINT) AS n_corpus_rows,
           TRUE AS precision_ok, TRUE AS recall_ok,
           CAST(NULL AS VARCHAR) AS recall_check
    -- corpus rows = DISTINCT documents WITH content: a NULL text
    -- shingles to nothing and never enters the replicated corpus (r10
    -- parity); verbatim-duplicated base rows collapse at the corpus
    -- boundary exactly as _scaled_docs' distinct does (r11 dupstorm)
    FROM (SELECT DISTINCT doc_id, text FROM documents WHERE text IS NOT NULL)
    """,
    bench=True,
    tags=("dedup-minhash-lsh", "bench-scale"),
)
def minhash_lsh_pairs_scaled(spark, sf_dir):
    """MinHash+LSH dedup over a 25×-replicated corpus (12.5k docs,
    ~300k near-dup pair candidates) — the throughput path the
    oracle-checked small variant proves correct. At-scale
    configuration: token-3-gram shingles, 16 hashes, hashed-set
    verification, xxhash64 shingle hashing.

    All-pairs ground truth is infeasible at this scale, so the query
    carries its own contract (the ``approx_distinct_stats`` pattern):
    the ×25-replica construction makes the within-base-group truth
    computable exactly in O(groups × 25²) — the same hashed shingle
    sets, self-joined per base group. The summary row compares the LSH
    path's within-base pair count against it and ``assert_true`` turns
    a violation into a query ERROR the driver's rows-only check cannot
    miss. The bound is two-sided: count ≤ exact truth EXACTLY (every
    emitted pair is Jaccard-verified, so a within-base surplus means a
    broken verifier) and count ≥ 99.99 % of truth (banding theory at
    16 hashes/8 bands predicts ~4e-6 missed mass here; measured 6 of
    1.5M at sf0.1. The pre-round-5 affine hash family's correlated
    minima missed 0.16 % — 40× outside this bound, which is how the
    contract caught it).

    Output is the oracle-shaped contract row (see ``_recall_contract``)
    so the driver records a full verdict; bench.py times the
    ``bench_build`` pair-production path below instead, keeping the
    recorded number comparable with rounds 1–4 (the r5 bench regression
    was exactly this contract running inside the timed query)."""
    from etl_rj_spark.operators.text_dedup import shingle_hashes

    corpus = _scaled_docs(spark, sf_dir, 25)
    # one checkpointed hash pass feeds BOTH the LSH dedup and the exact
    # ground-truth contract below — the corpus is shingle-hashed once.
    # localCheckpoint (eager) rather than persist(): its blocks live as
    # long as the frame does, so no build leaves a corpus-sized entry
    # in the session's cache manager
    hashes = corpus.select(
        F.col("doc_id"), shingle_hashes("text", 5, 3, fast=True).alias("__h")
    ).localCheckpoint()
    pairs = minhash_lsh_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.8,
        num_hashes=16, hashed_sets=True, token_ngrams_n=3, fast_hash=True,
        shingle_hashes_df=hashes,
    )
    # exact within-base truth from the SAME checkpointed hash pass
    def jacc_ge(x, y):
        i = F.size(F.array_intersect(x, y)).cast("double")
        u = (F.size(x) + F.size(y)).cast("double") - i
        return i / u >= 0.8

    expected = _within_base_expected(
        hashes.select(
            _base("doc_id").alias("__base"), F.array_distinct("__h").alias("__val")
        ),
        jacc_ge,
    )
    return _recall_contract(pairs, expected, 0.9999, "minhash_lsh_pairs_scaled")


def _minhash_lsh_pairs_scaled_bench(spark, sf_dir):
    """Timed bench path: RAW LSH pair production ALONE — the exact
    shape rounds 1–4 timed, kept raw so the BASELINE row stays
    comparable across rounds. The within-base ground-truth contract
    stays on the correctness ``build`` above, where the driver (not
    the stopwatch) pays for it. A production caller should reach this
    through ``near_dup_pairs`` (the storm-safe default, r14), whose
    count gate adds one mapping pass — the hotkey bench's
    ``minhash_lsh_storm_safe`` row times THAT entry point on both
    trees."""
    from etl_rj_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    corpus = _scaled_docs(spark, sf_dir, 25)
    return minhash_lsh_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.8,
        num_hashes=16, hashed_sets=True, token_ngrams_n=3, fast_hash=True,
    )


REGISTRY["minhash_lsh_pairs_scaled"].bench_build = _minhash_lsh_pairs_scaled_bench


@_q(
    "cosine_topk_scaled",
    f"""
    WITH rep AS (
      SELECT e.vec_id + g.i * 1000000 AS vec_id, e.embedding::DOUBLE[] AS v
      FROM embeddings e CROSS JOIN range(0, 20) g(i)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM rep WHERE vec_id < 20),
    c AS (SELECT vec_id, v AS cv FROM rep WHERE vec_id >= 20),
    scored AS (SELECT query_id, vec_id, {_SQL_COS} AS score FROM q CROSS JOIN c)
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 10
    """,
    bench=True,
    tags=("similarity-bruteforce", "bench-scale"),
)
def cosine_topk_scaled(spark, sf_dir):
    """Brute-force cosine top-10 for 20 queries against a 20×-replicated
    corpus (10k vectors × 64 dims). Fully oracled: scores round to 9 dp
    on both sides and replica ties (bit-identical vectors) break on
    vec_id, so the top-k set is engine-deterministic."""
    e = _t(spark, sf_dir, "embeddings")
    rep = _spread_replicas(
        e.select(
            F.explode(F.sequence(F.lit(0), F.lit(19))).alias("__i"), "vec_id", "embedding"
        ),
        "vec_id", "__i",
    ).select((F.col("vec_id") + F.col("__i") * 1000000).alias("vec_id"), "embedding")
    queries = rep.filter(F.col("vec_id") < 20)
    return cosine_topk(rep.filter(F.col("vec_id") >= 20), queries, k=10)


# --- embedding-cosine near-dup (dedup by embedding) ------------------------

_VEC_NEAR_CORPUS = """
      SELECT vec_id, v FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(range(1, 65),
                            i -> CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END)
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
"""

_VEC_STORM_CORPUS = (
    _VEC_NEAR_CORPUS
    + """
      UNION ALL
      SELECT 200000 + g.i AS vec_id, b.v AS v
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b
      CROSS JOIN range(0, 30) g(i) WHERE b.vec_id = 7
"""
)


def _two_tier_vector_oracle(corpus_sql: str, threshold: float) -> str:
    """DuckDB replay of :func:`near_dup_vector_pairs`'s storm-safe
    default (VERDICT r14 #2): BIT-IDENTICAL-vector groups (grouped on
    the vector value itself — the engine groups on xxhash64 of the
    double array, identical groups modulo a 2^-64 collision; NULL
    vectors excluded) as linear ``(canonical=MIN(id), member, 1.0)``
    star edges, then brute-force all-pairs cosine over the
    REPRESENTATIVES only. Raw tier carries NO DISTINCT — multiplicity
    parity with the engine's brute join under duplicated rows (r11
    dupstorm contract); the star tier is DISTINCT like the engine's.
    Reduces to the raw all-pairs oracle when no group exists."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    keyed AS (SELECT vec_id, v FROM corpus WHERE v IS NOT NULL),
    mapping AS (SELECT vec_id, v,
                       MIN(vec_id) OVER (PARTITION BY v) AS canonical_id
                FROM keyed),
    reps AS (SELECT vec_id, v FROM mapping WHERE vec_id = canonical_id),
    a AS (SELECT vec_id AS id_a, v AS qv FROM reps),
    b AS (SELECT vec_id AS id_b, v AS cv FROM reps),
    raw AS (
      SELECT id_a, id_b, {_SQL_COS} AS score
      FROM a JOIN b ON id_a < id_b
      WHERE {_SQL_COS} >= {threshold}
    ),
    star AS (SELECT DISTINCT canonical_id AS id_a, vec_id AS id_b,
                    1.0::DOUBLE AS score
             FROM mapping WHERE vec_id <> canonical_id)
    SELECT * FROM raw UNION ALL SELECT * FROM star
    """


def _vec_near_corpus(spark, sf_dir, storm: bool = False):
    from etl_rj_spark.operators.similarity import vec_double

    e = _t(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    perturbed = F.transform(v, lambda x, i: F.when(i == 0, x + 0.05).otherwise(x))
    corpus = e.select("vec_id", v.alias("embedding")).unionByName(
        e.select((F.col("vec_id") + 100000).alias("vec_id"), perturbed.alias("embedding"))
    )
    if storm:
        corpus = corpus.unionByName(
            e.filter(F.col("vec_id") == 7)
            .select(F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"), v.alias("embedding"))
            .select((F.lit(200000) + F.col("i")).cast("long").alias("vec_id"), "embedding")
        )
    return corpus


@_q(
    "embedding_cosine_near_pairs",
    _two_tier_vector_oracle(_VEC_NEAR_CORPUS, 0.99),
    tags=("dedup-embedding-cosine",),
)
def embedding_cosine_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup dedup (ground truth): the corpus is
    embeddings plus one perturbed copy of each vector (+0.05 on the
    first component, id+100000); every original/copy pair lands at
    cosine ~1 and must be the exact pair set at threshold 0.99.
    Routed through :func:`near_dup_vector_pairs` (r15 — the engine's
    storm-safe DEFAULT vector entry point, VERDICT r14 #2) on its
    brute-force tier: no two corpus vectors are bit-identical, so the
    count gate sends it down the raw all-pairs path byte-identically;
    the two-tier oracle spelling covers the regimes where identical
    vectors DO appear. The scale tier is cosine_near_pairs_lsh
    (recall-tested in test_fuzzy)."""
    from etl_rj_spark.operators.similarity import near_dup_vector_pairs

    return near_dup_vector_pairs(_vec_near_corpus(spark, sf_dir), threshold=0.99)


@_q(
    "vector_near_dup_pairs_storm",
    _two_tier_vector_oracle(_VEC_STORM_CORPUS, 0.99),
    tags=("dedup-embedding-cosine",),
)
def vector_near_dup_pairs_storm(spark, sf_dir):
    """:func:`near_dup_vector_pairs` under an injected exact-duplicate
    storm (30 BIT-IDENTICAL copies of vector 7 at fresh ids — the
    replayed-embedding-shard shape): the count gate trips, the storm
    group surfaces as 30 linear star edges ``(7, 200000+i, 1.0)``, and
    the brute/LSH tier runs over representatives only — never the
    C(m,2) cosine-1.0 clique a raw pair generator would quadratically
    emit (identical vectors co-bucket in EVERY LSH table, so no
    bucketing parameter bounds that output). The vector twin of
    ``near_dup_pairs_storm`` (VERDICT r14 #2)."""
    from etl_rj_spark.operators.similarity import near_dup_vector_pairs

    return near_dup_vector_pairs(
        _vec_near_corpus(spark, sf_dir, storm=True), threshold=0.99
    )


@_q(
    "vector_near_dup_survivors_storm",
    rf"""
    WITH RECURSIVE corpus AS ({_VEC_STORM_CORPUS}),
    keyed AS (SELECT vec_id, v FROM corpus WHERE v IS NOT NULL),
    mapping AS (SELECT vec_id, v,
                       MIN(vec_id) OVER (PARTITION BY v) AS canonical_id
                FROM keyed),
    reps AS (SELECT vec_id, v FROM mapping WHERE vec_id = canonical_id),
    a AS (SELECT vec_id AS id_a, v AS qv FROM reps),
    b AS (SELECT vec_id AS id_b, v AS cv FROM reps),
    pairs AS (
      SELECT id_a, id_b FROM a JOIN b ON id_a < id_b
      WHERE {_SQL_COS} >= 0.99
      UNION ALL
      SELECT DISTINCT canonical_id, vec_id
      FROM mapping WHERE vec_id <> canonical_id
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
    losers AS (SELECT node FROM comp WHERE node <> component)
    SELECT vec_id FROM corpus
    WHERE vec_id NOT IN (SELECT node FROM losers)
    ORDER BY vec_id
    """,
    tags=("dedup-embedding-cosine", "dedup-clusters"),
)
def vector_near_dup_survivors_storm(spark, sf_dir):
    """The end-to-end dedup CONSEQUENCE of the vector family's
    storm-safe default — the component-equivalence proof
    (VERDICT r14 #2 "Done =", mirroring ``near_dup_survivors_storm``):
    ``dedup_survivors ∘ near_dup_vector_pairs`` over the vector storm
    corpus keeps exactly the corpus the RAW all-pairs flow would keep,
    because the linear star edges span the same connected components
    as the C(m,2) cosine-1.0 clique. The DuckDB oracle replays the
    whole chain — two-tier pairs → recursive-CTE min-label components
    → non-losers; a companion unit test additionally pins survivor
    equality between the default and the raw operator."""
    from etl_rj_spark.operators.similarity import near_dup_vector_pairs
    from etl_rj_spark.operators.text_dedup import dedup_survivors

    corpus = _vec_near_corpus(spark, sf_dir, storm=True)
    pairs = near_dup_vector_pairs(corpus, threshold=0.99)
    return (
        dedup_survivors(corpus, "vec_id", pairs.select("id_a", "id_b"))
        .select("vec_id")
        .orderBy("vec_id")
    )


@_q(
    "curation_pipeline_e2e",
    rf"""
    WITH corpus AS ({_DUP_CORPUS}),
    langed AS (
      SELECT doc_id, text FROM corpus
      WHERE {_sql_stop_count('en')} > 0
        AND {_sql_stop_count('en')} >= {_sql_stop_count('es')}
        AND {_sql_stop_count('en')} >= {_sql_stop_count('fr')}
    ),
    keyed AS (SELECT doc_id, text, md5({_NT}) AS key FROM langed),
    deduped AS (
      SELECT k.doc_id, k.text FROM keyed k
      JOIN (SELECT key, MIN(doc_id) AS cid FROM keyed GROUP BY key) c USING (key)
      WHERE k.doc_id = c.cid
    ),
    scored AS (
      SELECT doc_id, text, {_SQL_QUALITY_SCORE} AS quality_score,
             CAST(n_tokens AS BIGINT) AS ws_tokens
      FROM ({_sql_quality_feats('deduped')})
    )
    SELECT doc_id, ws_tokens, quality_score, md5({_NT}) AS content_md5
    FROM scored WHERE quality_score >= 0.6 ORDER BY doc_id
    """,
    tags=("curation", "pipeline-e2e"),
)
def curation_pipeline_e2e(spark, sf_dir):
    """END-TO-END curation pipeline — the composition a training-data
    job actually runs, as ONE lazy plan: corpus (documents ∪ planted
    case/whitespace dup copies) → language gate (stopword-argmax 'en')
    → exact dedup (canonical-id survivors only, so every planted copy
    dies here) → quality gate (score ≥ 0.6, fixed operation order) →
    curated record (whitespace token count, score, content
    fingerprint). Each stage is the already-oracled operator
    (lang_id_docs / exact_dedup_docs / quality_score_docs /
    doc_fingerprints); this query pins their COMPOSITION — filter
    order, column flow, and the float threshold compare — against one
    DuckDB replay of the whole chain."""
    from etl_rj_spark.operators.text_analysis import (
        content_md5,
        lang_id,
        quality_features,
        token_count,
    )
    from etl_rj_spark.operators.text_dedup import exact_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    corpus = d.unionByName(dup)
    langed = corpus.filter(lang_id("text") == "en")
    deduped = exact_dedup(langed, "doc_id", "text")
    feats = quality_features("text")
    return (
        deduped.select(
            "doc_id",
            token_count("text").cast("bigint").alias("ws_tokens"),
            feats["quality_score"].alias("quality_score"),
            content_md5("text").alias("content_md5"),
        )
        .filter(F.col("quality_score") >= 0.6)
        .orderBy("doc_id")
    )


@_q(
    "semdedup_prune",
    f"""
    WITH corpus AS (
      -- both arms filter NULLs: list_transform over a NULL embedding
      -- builds a NON-NULL list of 64 NULL elements, which would slip
      -- past base's IS NOT NULL guard and poison the k-means replay
      -- (r10 nullmix parity; the engine's F.transform(NULL) stays
      -- NULL and is dropped by kmeans_fit/assign)
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      WHERE embedding IS NOT NULL
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(range(1, 65),
                            i -> CASE WHEN i = 1 THEN (embedding::DOUBLE[])[i] + 0.05
                                 ELSE (embedding::DOUBLE[])[i] END)
      FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    {_kmeans_oracle_ctes(source="corpus")},
    cells AS (
      -- row-grain assignment (PARTITION BY rid; dv carried through so
      -- the prune never joins back by a possibly-duplicated id —
      -- r11 dupstorm parity with the engine's carry-through argmin)
      SELECT rid, vec_id, dv, cid FROM (
        SELECT p.rid, p.vec_id, p.dv, c.cid,
               row_number() OVER (PARTITION BY p.rid ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    dropped AS (
      -- drop rule stays ID-keyed (earlier cell-mate = STRICTLY lower
      -- vec_id): verbatim copies of one id never block each other and
      -- die or survive together, exactly as the engine's anti-join
      SELECT DISTINCT vec_id FROM (
        SELECT c1.vec_id, c1.dv AS qv, cx.dv AS cv
        FROM cells c1
        JOIN cells cx ON cx.cid = c1.cid AND cx.vec_id < c1.vec_id
      ) WHERE {_SQL_COS} >= 0.99
    )
    SELECT vec_id, cid AS cell FROM cells
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
    tags=("dedup-semantic", "similarity-kmeans"),
)
def semdedup_prune(spark, sf_dir):
    """Semantic dedup (SemDeDup, arXiv:2303.09540) over a corpus with
    planted near-duplicates: every embedding gets a replica perturbed
    by +0.05 on its first coordinate (cosine ≈ 0.999 to its base), the
    corpus is k-means-clustered (the deterministic integer fit the
    kmeans oracle replays), and within each cell every vector with an
    earlier cell-mate at cosine ≥ 0.99 is dropped. Survivors are the
    originals plus any replica whose base landed in a DIFFERENT cell —
    the oracle replays fit, assignment, and the exists-earlier prune
    rule exactly, so a wrong cell boundary or prune decision cannot
    match. Pairwise work is confined within cells (Σ|cell|², the
    recipe's scale property), never an all-pairs crossJoin."""
    from etl_rj_spark.operators.kmeans import kmeans_fit
    from etl_rj_spark.operators.similarity import semdedup, vec_double

    e = _t(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    perturbed = F.transform(v, lambda x, i: F.when(i == 0, x + 0.05).otherwise(x))
    corpus = e.select("vec_id", v.alias("embedding")).unionByName(
        e.select(
            (F.col("vec_id") + 100000).alias("vec_id"), perturbed.alias("embedding")
        )
    )
    centroids = kmeans_fit(corpus, k=8, iters=2)
    return semdedup(corpus, centroids, threshold=0.99)


@_q(
    "semdedup_incremental",
    f"""
    WITH corpus AS (
      -- both arms filter NULLs: list_transform over a NULL embedding
      -- builds a NON-NULL list of 64 NULL elements, which would slip
      -- past base's IS NOT NULL guard and poison the k-means replay
      -- (r10 nullmix parity; the engine's F.transform(NULL) stays
      -- NULL and is dropped by kmeans_fit/assign)
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      WHERE embedding IS NOT NULL
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(range(1, 65),
                            i -> CASE WHEN i = 1 THEN (embedding::DOUBLE[])[i] + 0.05
                                 ELSE (embedding::DOUBLE[])[i] END)
      FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    {_kmeans_oracle_ctes(source="corpus", fit_filter="vec_id < 100000")},
    cells AS (
      -- row-grain assignment with dv carried through (r11 dupstorm
      -- parity — no join-back by possibly-duplicated id)
      SELECT rid, vec_id, dv, cid FROM (
        SELECT p.rid, p.vec_id, p.dv, c.cid,
               row_number() OVER (PARTITION BY p.rid ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    dropped0 AS (
      SELECT DISTINCT vec_id FROM (
        SELECT c1.vec_id, c1.dv AS qv, cx.dv AS cv
        FROM cells c1
        JOIN cells cx ON cx.cid = c1.cid AND cx.vec_id < c1.vec_id
        WHERE c1.vec_id < 100000 AND cx.vec_id < 100000
      ) WHERE {_SQL_COS} >= 0.99
    ),
    kept0 AS (
      SELECT vec_id, cid FROM cells
      WHERE vec_id < 100000 AND vec_id NOT IN (SELECT vec_id FROM dropped0)
    ),
    dropped_new AS (
      SELECT DISTINCT vec_id FROM (
        SELECT c1.vec_id, c1.dv AS qv, cx.dv AS cv
        FROM cells c1
        JOIN cells cx
          ON cx.cid = c1.cid
         AND (cx.vec_id IN (SELECT vec_id FROM kept0)
              OR (cx.vec_id >= 100000 AND cx.vec_id < c1.vec_id))
        WHERE c1.vec_id >= 100000
      ) WHERE {_SQL_COS} >= 0.99
    )
    SELECT vec_id, cid AS cell FROM cells
    WHERE vec_id >= 100000 AND vec_id NOT IN (SELECT vec_id FROM dropped_new)
    """,
    tags=("dedup-semantic", "incremental", "similarity-kmeans"),
)
def semdedup_incremental(spark, sf_dir):
    """Incremental SemDeDup — the embedding twin of the persisted
    MinHash index probe: day 0 clusters and dedups the base corpus
    (keeping the survivor table with cells + vectors); day 1's batch
    (a +0.05-perturbed replica of every base vector, cosine ≈ 0.999)
    is assigned to the SAME centroids and probed against survivors ∪
    earlier batch-mates within its cell only — no re-clustering, no
    survivor-survivor pairs, nothing quadratic in history. Expected
    output: almost no batch survivors (only replicas whose base landed
    in a different cell). The oracle replays fit (base only), both
    assignments, the day-0 prune, and the probe rule exactly."""
    from etl_rj_spark.operators.kmeans import kmeans_fit
    from etl_rj_spark.operators.similarity import (
        semdedup,
        semdedup_incremental as _probe,
        vec_double,
    )

    e = _t(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    originals = e.select("vec_id", v.alias("embedding"))
    centroids = kmeans_fit(originals, k=8, iters=2)
    kept0 = semdedup(originals, centroids, threshold=0.99, keep_vec=True)
    batch = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(v, lambda x, i: F.when(i == 0, x + 0.05).otherwise(x))
        .alias("embedding"),
    )
    return _probe(kept0, batch, centroids, threshold=0.99).select("vec_id", "cell")


@_q(
    "embedding_near_pairs_lsh_scaled",
    """
    SELECT CAST(20 * COUNT(*) AS BIGINT) AS n_corpus_rows,
           TRUE AS precision_ok, TRUE AS recall_ok,
           CAST(NULL AS VARCHAR) AS recall_check
    -- corpus rows = DISTINCT vectors: a NULL embedding never enters
    -- the replicated corpus (r10 parity); verbatim-duplicated base
    -- rows collapse at the corpus boundary (r11 dupstorm, matching
    -- the engine's pre-explode distinct)
    FROM (SELECT DISTINCT vec_id, embedding FROM embeddings
          WHERE embedding IS NOT NULL)
    """,
    tags=("dedup-embedding", "similarity-lsh", "bench-scale"),
)
def embedding_near_pairs_lsh_scaled(spark, sf_dir):
    """Hyperplane-LSH embedding near-dup at scale (20×-replicated
    corpus, ~10k vectors) with an IN-QUERY recall contract — the
    ``minhash_lsh_pairs_scaled`` pattern for the embedding side:
    all-pairs ground truth is infeasible (~50M pairs), but the
    ×20-replica construction (coordinate-1 nudged by 0.0002·i, cosine
    ≈ 0.9999 within a base group) makes the within-base truth exactly
    computable in O(groups × 20²) with row-local higher-order
    functions. ``assert_true`` pins within-base found ≤ exact truth
    EXACTLY (every emitted pair is cosine-rescored, so a surplus means
    a broken verifier) and ≥ 99 % of it (hyperplane banding at
    4 bits × 8 tables predicts ~1 recall for θ→0 pairs)."""
    from etl_rj_spark.operators.similarity import (
        cosine,
        cosine_near_pairs_lsh,
        vec_double,
    )

    # exact-distinct at the corpus boundary, same contract as
    # _scaled_docs: duplicated base rows would mint duplicated replica
    # ids and inflate the within-base truth (r11 dupstorm fix; small
    # pre-explode frame, never the 20× fan-out)
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding").distinct()
    v = vec_double("embedding")
    rep = _spread_replicas(
        e.select(
            F.explode(F.sequence(F.lit(0), F.lit(19))).alias("__i"), "vec_id", "embedding"
        ),
        "vec_id", "__i",
    )
    corpus = rep.select(
        (F.col("vec_id") + F.col("__i") * 1000000).alias("vec_id"),
        F.transform(
            v, lambda x, i: F.when(i == 0, x + 0.0002 * F.col("__i")).otherwise(x)
        ).alias("embedding"),
    ).localCheckpoint()

    # bits=8 (256 buckets/table): at 10k vectors the default 4-bit
    # tables put ~625 vectors per bucket — half of brute force. 8 bits
    # cuts candidates ~16× while a θ→0 replica pair still misses a
    # table's bucket with prob ≈ bits·θ/π ≈ 1 %, and 8 independent
    # tables drive the joint miss to ~1e-16 — recall stays ~1.
    pairs = cosine_near_pairs_lsh(corpus, threshold=0.99, dim=64, bits=8)
    # exact within-base truth: all C(20,2) cosines per base group
    expected = _within_base_expected(
        corpus.select(_base("vec_id").alias("__base"), F.col("embedding").alias("__val")),
        lambda x, y: F.round(cosine(x, y), 9) >= 0.99,
    )
    return _recall_contract(pairs, expected, 0.99, "embedding_near_pairs_lsh_scaled")


# --- multimodal plumbing ---------------------------------------------------

@_q(
    "multimodal_meta",
    """
    SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS content_md5,
           CAST(1 + ('0x' || substr(md5(text), 1, 2))::BIGINT % 512 AS INTEGER) AS fake_width,
           CAST(1 + ('0x' || substr(md5(text), 3, 2))::BIGINT % 512 AS INTEGER) AS fake_height
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: text → opaque binary payload → Arrow-batched
    mapInPandas feature extraction (byte length, content md5, hash-
    derived stand-in dimensions). Exercises the exact execution path a
    real media decoder uses, with a fully SQL-checkable output."""
    d = _t(spark, sf_dir, "documents")
    return binary_features(with_binary_payload(d, "doc_id", "text"))


@_q(
    "png_decode_stats",
    """
    SELECT doc_id, 8 AS width, 8 AS height, 'L' AS mode,
           CAST((SELECT SUM((doc_id * 31 + (k // 8) * 7 + (k % 8)) % 256)
                 FROM range(64) t(k)) AS BIGINT) AS pixel_sum
    FROM documents WHERE doc_id < 64
    """,
    tags=("multimodal", "png-decode"),
)
def png_decode_stats(spark, sf_dir):
    """REAL image decode, oracle-proven: an 8×8 grayscale gradient
    (pixel[i,j] = (doc_id*31 + i*7 + j) % 256) is PNG-encoded per doc —
    cycling through all five PNG scanline filters (doc_id % 5) — then
    decoded back by ``operators.multimodal.decode_image`` (the
    dependency-free codec in functions/png.py). The oracle recomputes
    the pixel sums arithmetically, so a wrong decode cannot match."""
    from etl_rj_spark.operators.multimodal import decode_image

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64).select("doc_id")

    def make(batches):
        import numpy as np
        import pandas as pd

        from etl_rj_spark.functions.png import encode_png

        i = np.arange(8).reshape(8, 1)
        j = np.arange(8).reshape(1, 8)
        for pdf in batches:
            payloads = [
                encode_png(
                    ((int(doc_id) * 31 + i * 7 + j) % 256).astype("uint8"),
                    filter_type=int(doc_id) % 5,
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = d.mapInPandas(make, "doc_id long, payload binary")
    return decode_image(payloads).select("doc_id", "width", "height", "mode", "pixel_sum")


@_q(
    "avi_frame_sampling",
    """
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           md5(doc_id || ':' || i) AS frame_md5,
           CAST(NULL AS VARCHAR) AS skip_reason
    FROM documents, LATERAL unnest(range(0, 1 + doc_id % 7)) t(i)
    WHERE doc_id < 50 AND doc_id % 10 != 9 AND i % 2 = 0
    UNION ALL
    SELECT doc_id, CAST(NULL AS INTEGER) AS frame_idx,
           CAST(NULL AS VARCHAR) AS frame_md5,
           'not_riff_avi' AS skip_reason
    FROM documents
    WHERE doc_id < 50 AND doc_id % 10 = 9
    """,
    tags=("multimodal", "avi-demux"),
)
def avi_frame_sampling(spark, sf_dir):
    """REAL video-container demux over a MIXED binary column,
    oracle-proven: docs with doc_id % 10 != 9 get a valid RIFF/AVI
    muxed from 1 + doc_id % 7 frames whose payload bytes are
    ``"{doc_id}:{i}"`` (functions/riff.build_avi); every 10th doc gets
    non-container bytes. ``operators.multimodal.sample_frames`` demuxes
    the AVIs and hashes every 2nd frame's raw chunk payload, and emits
    one ``skip_reason='not_riff_avi'`` quarantine row (no fabricated
    frames) for the undemuxable payloads. The oracle regenerates both
    branches arithmetically — a wrong chunk walk, frame count, sampling
    stride, or an invented frame row cannot match."""
    from etl_rj_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id")

    def make(batches):
        import pandas as pd

        from etl_rj_spark.functions.riff import build_avi

        for pdf in batches:
            payloads = [
                b"these bytes are no container at all"
                if int(doc_id) % 10 == 9
                else build_avi(
                    [f"{int(doc_id)}:{i}".encode() for i in range(1 + int(doc_id) % 7)]
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = d.mapInPandas(make, "doc_id long, payload binary")
    return sample_frames(payloads, every_n=2)


@_q(
    "wav_audio_stats",
    """
    -- rid: ROW-grain demux — every input row is one media object, so
    -- duplicated doc_ids produce duplicated stat rows exactly as the
    -- engine's per-row mapInPandas demux does (r11 dupstorm parity)
    WITH base AS (
      SELECT row_number() OVER () AS rid, doc_id, 400 + (doc_id % 5) * 100 AS n
      FROM documents WHERE doc_id < 60 AND doc_id % 10 != 7
    ),
    samples AS (
      SELECT rid, doc_id, n,
             CAST(((doc_id * 31 + i * 7) % 65536) - 32768 AS BIGINT) AS s
      FROM base, LATERAL unnest(range(0, n)) t(i)
    )
    SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(ABS(s)) AS INTEGER) AS peak_abs,
           CAST(NULL AS VARCHAR) AS skip_reason
    FROM samples GROUP BY rid, doc_id, n
    UNION ALL
    SELECT doc_id, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), 'not_riff_wave'
    FROM documents WHERE doc_id < 60 AND doc_id % 10 = 7
    """,
    tags=("multimodal", "wav-demux", "audio"),
)
def wav_audio_stats(spark, sf_dir):
    """REAL audio-container demux over a MIXED binary column,
    oracle-proven: docs with doc_id % 10 != 7 get a valid PCM16 WAV
    (functions/wav.build_wav) of 400 + (doc_id % 5)*100 samples whose
    values are the deterministic ramp ((doc_id*31 + i*7) % 65536) −
    32768; every 10th doc gets non-container bytes.
    ``operators.multimodal.audio_stats`` demuxes the WAVs and computes
    exact integer statistics (sample count, energy = Σ s², peak |s|),
    and emits one ``skip_reason='not_riff_wave'`` quarantine row for
    the unparsable payloads. The oracle regenerates both branches
    arithmetically — a wrong chunk walk, sample unpack, byte order, or
    an invented stat cannot match."""
    from etl_rj_spark.operators.multimodal import audio_stats

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select("doc_id")

    def make(batches):
        import pandas as pd

        from etl_rj_spark.functions.wav import build_wav

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                if did % 10 == 7:
                    payloads.append(b"these bytes are no audio container")
                else:
                    n = 400 + (did % 5) * 100
                    payloads.append(
                        build_wav(
                            [((did * 31 + i * 7) % 65536) - 32768 for i in range(n)]
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = d.mapInPandas(make, "doc_id long, payload binary")
    return audio_stats(payloads)


@_q(
    "image_header_sniff",
    """
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'jpeg' ELSE NULL END AS img_format,
           CAST(CASE WHEN doc_id % 4 = 3 THEN NULL
                     ELSE 100 + doc_id END AS BIGINT) AS img_width,
           CAST(CASE WHEN doc_id % 4 = 3 THEN NULL
                     ELSE 50 + doc_id END AS BIGINT) AS img_height
    FROM documents WHERE doc_id < 200
    """,
    tags=("multimodal", "header-sniff"),
)
def image_header_sniff(spark, sf_dir):
    """Pure-expression image-header metadata pass, oracle-proven over a
    mixed binary column: each doc gets a synthesized PNG, GIF, JPEG, or
    non-image payload (doc_id % 4) with dims (100+doc_id, 50+doc_id).
    JPEGs vary their pre-SOF segment layout per doc — EXIF-style APP1
    padding, fill bytes, baseline SOF0 vs progressive SOF2 — so the
    bounded SOF marker walk (operators/multimodal._jpeg_sof_dims, a
    single JVM-side ``aggregate`` expression, zero Python per row) is
    exercised at every position. The oracle recomputes format and dims
    arithmetically; a wrong walk cannot match."""
    import struct as _struct

    from etl_rj_spark.operators.multimodal import parse_image_header

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select("doc_id")

    def make(batches):
        import pandas as pd

        def png(w, h):
            return (
                b"\x89PNG\r\n\x1a\n"
                + _struct.pack(">I", 13) + b"IHDR"
                + _struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"crc0"
            )

        def gif(w, h):
            return b"GIF89a" + _struct.pack("<HH", w, h) + b"\x00" * 5

        def jpeg(w, h, doc_id):
            b = b"\xff\xd8"
            b += b"\xff\xe0" + _struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            app1 = (doc_id % 5) * 37
            if app1:
                b += b"\xff\xe1" + _struct.pack(">H", app1 + 2) + b"\x00" * app1
            if doc_id % 3 == 0:
                b += b"\xff"  # fill byte before the next marker
            b += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" * 65
            sof = b"\xff\xc2" if doc_id % 2 == 0 else b"\xff\xc0"
            return b + sof + _struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"

        def build(doc_id):
            w, h = 100 + doc_id, 50 + doc_id
            kind = doc_id % 4
            if kind == 0:
                return png(w, h)
            if kind == 1:
                return gif(w, h)
            if kind == 2:
                return jpeg(w, h, doc_id)
            return b"plain text, no image magic here"

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": [build(int(i)) for i in pdf["doc_id"]],
                }
            )

    payloads = d.mapInPandas(make, "doc_id long, content binary")
    return parse_image_header(payloads).select(
        "doc_id", "img_format", "img_width", "img_height"
    )


# --- C4-style span dedup / decontamination / mix resampling ----------------

_SQL_TOKS = rf"string_split({_NT}, ' ')"


@_q(
    "span_dedup_docs",
    rf"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    positions AS (
      SELECT doc_id, t,
             unnest(range(0, CAST(ceil(len(t) / 3.0) AS INT))) AS pos
      FROM toks
    ),
    spans AS (
      SELECT doc_id, pos,
             array_to_string(t[(pos * 3 + 1):(pos * 3 + 3)], ' ') AS span
      FROM positions
    ),
    ranked AS (
      SELECT doc_id, pos, span,
             row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
      FROM spans
    ),
    grouped AS (
      SELECT doc_id,
             COUNT(*) AS n_spans,
             COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
             COALESCE(string_agg(CASE WHEN rn = 1 THEN span END,
                                 ' ' ORDER BY pos), '') AS cleaned_text
      FROM ranked GROUP BY doc_id
    )
    -- one row per INPUT document: an empty/zero-token text reports
    -- (0, 0, '') instead of vanishing (mirrors the engine, r9)
    SELECT d.doc_id,
           COALESCE(g.n_spans, 0) AS n_spans,
           COALESCE(g.n_kept, 0) AS n_kept,
           COALESCE(g.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN grouped g USING (doc_id)
    """,
    tags=("dedup-span",),
)
def span_dedup_docs(spark, sf_dir):
    """C4-style repeated-span removal: non-overlapping 3-token spans;
    a span seen before anywhere in the corpus (first occurrence =
    lowest (doc_id, pos)) is dropped; docs reassembled from surviving
    spans in order. The small-vocabulary corpus makes spans genuinely
    collide across documents, so the operator does real work here."""
    from etl_rj_spark.operators.text_dedup import span_dedup

    d = _t(spark, sf_dir, "documents")
    return span_dedup(d, "doc_id", "text", span_tokens=3)


_DECONTAM_ORACLE = rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
    ),
    ctoks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM corpus),
    cgrams AS (
      SELECT doc_id,
             unnest([array_to_string(t[i:i + 7], ' ')
                     for i in range(1, len(t) - 6)]) AS gram
      FROM ctoks WHERE len(t) >= 8
    ),
    btoks AS (SELECT {_SQL_TOKS} AS t FROM documents WHERE doc_id % 10 = 0),
    bgrams AS (SELECT DISTINCT array_to_string(t[5:12], ' ') AS gram
               FROM btoks WHERE len(t) >= 12)
    SELECT doc_id, COUNT(DISTINCT gram) AS n_hit_grams
    FROM cgrams JOIN bgrams USING (gram)
    GROUP BY doc_id
    """


@_q("decontaminate_docs", _DECONTAM_ORACLE, tags=("decontamination",))
def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: the 'benchmark' is an 8-token passage
    (tokens 5-12) lifted from every 10th document; the corpus
    (documents ∪ shifted-id copies) is scanned for any shared token
    8-gram. Each passage must flag its origin doc AND the copy —
    exactly the train/eval-overlap hygiene pass of an LLM pipeline,
    with the benchmark side broadcast."""
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.text_analysis import normalized_text, whitespace_tokens
    from etl_rj_spark.operators.text_dedup import contaminated_docs

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    toks = whitespace_tokens(normalized_text("text"))
    bench = d.filter(F.col("doc_id") % 10 == 0).filter(F.size(toks) >= 12).select(
        F.array_join(F.slice(toks, 5, 8), " ").alias("text")
    )
    return contaminated_docs(corpus, bench, "doc_id", "text", n=8)


@_q("decontaminate_docs_hashed", _DECONTAM_ORACLE, tags=("decontamination",))
def decontaminate_docs_hashed(spark, sf_dir):
    """Same decontamination through the Bloom-style two-phase probe:
    broadcast 8-byte xxhash64 gram hashes (for when the benchmark gram
    strings outgrow broadcast), exact-verify only the candidate sliver.
    Collisions can only add candidates, so post-verification output is
    byte-identical to the exact path — proven by sharing its oracle."""
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.text_analysis import normalized_text, whitespace_tokens
    from etl_rj_spark.operators.text_dedup import contaminated_docs

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    toks = whitespace_tokens(normalized_text("text"))
    bench = d.filter(F.col("doc_id") % 10 == 0).filter(F.size(toks) >= 12).select(
        F.array_join(F.slice(toks, 5, 8), " ").alias("text")
    )
    return contaminated_docs(corpus, bench, "doc_id", "text", n=8, hashed_probe=True)


@_q(
    "resample_source_mix",
    """
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      FROM documents
    )
    -- a group WITHOUT a cap passes through whole (the engine's
    -- coalesce-to-uncapped contract) — including the NULL source
    -- (r10 nullmix parity)
    WHERE source IS NULL
       OR rk <= 5 + 5 * (CAST(substr(source, 4) AS INT) % 3)
    """,
    tags=("curation-mix",),
)
def resample_source_mix(spark, sf_dir):
    """Target data-mixture resampling: cap each source at a prescribed
    row budget (5/10/15 by source index mod 3), rows chosen by md5-hash
    rank — deterministic across runs/engines/partitionings, the
    'downsample over-represented sources' step of corpus assembly."""
    from etl_rj_spark.operators.curation import hash_ranked_resample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    caps = {f"src{i}": 5 + 5 * (i % 3) for i in range(20)}
    return hash_ranked_resample(d, "source", "doc_id", caps)


@_q(
    "resample_source_mix_threshold",
    """
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      FROM documents
    )
    -- uncapped groups (incl. NULL source) pass through whole —
    -- the engine's coalesce-to-uncapped contract (r10 nullmix parity)
    WHERE source IS NULL
       OR rk <= 5 + 5 * (CAST(substr(source, 4) AS INT) % 3)
    """,
    tags=("curation-mix", "scale-path"),
)
def resample_source_mix_threshold(spark, sf_dir):
    """resample_source_mix's SCALE PATH under the SAME oracle: the
    hash-threshold pre-filter + sliver trim
    (operators/curation.hash_threshold_resample) must reproduce the
    exact per-group hash-rank selection bit-for-bit — the per-group
    window sorts ~cap·(1+ε) pre-filtered rows instead of the whole
    group, which is the difference between sorting 10⁹ rows and 10⁵
    at corpus scale."""
    from etl_rj_spark.operators.curation import hash_threshold_resample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    caps = {f"src{i}": 5 + 5 * (i % 3) for i in range(20)}
    return hash_threshold_resample(d, "source", "doc_id", caps)


_CONTAIN_CORPUS = (
    "SELECT doc_id, text FROM documents WHERE doc_id < 100 "
    "UNION ALL SELECT doc_id + 200000, "
    "array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 12), ' ') "
    "FROM documents WHERE doc_id < 100"
)


@_q(
    "ngram_containment_pairs",
    rf"""
    WITH corpus AS ({_CONTAIN_CORPUS}),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\s+') AS toks FROM corpus)
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           len(list_intersect(a.s, b.s))::DOUBLE / len(a.s)::DOUBLE AS containment
    FROM sets a JOIN sets b ON a.doc_id <> b.doc_id
    WHERE len(a.s) > 0
      AND len(list_intersect(a.s, b.s))::DOUBLE / len(a.s)::DOUBLE >= 0.9
    """,
    tags=("dedup-containment", "quote-detection"),
)
def ngram_containment_pairs_q(spark, sf_dir):
    """ASYMMETRIC containment: each document's 12-token prefix is
    planted as its own doc — Jaccard vs the full doc is far below any
    dedup threshold, but containment ≈ 1, so the prefix docs surface
    as (contained, container) findings the symmetric operators
    cannot see. Oracle is all-ordered-pairs ground truth (inverted
    index has recall 1 for τ > 0)."""
    from etl_rj_spark.operators.text_dedup import ngram_containment_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select("doc_id", "text")
    prefix = d.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 12), " ").alias("text"),
    )
    return ngram_containment_pairs(
        d.unionByName(prefix), "doc_id", "text", threshold=0.9
    )


def _lsh_multiprobe_oracle_sql(k: int = 10, dim: int = 64, bits: int = 4, tables: int = 2) -> str:
    """DuckDB twin of ``lsh_topk_multiprobe``: candidate iff the
    corpus bucket equals the query bucket XOR any single-bit mask
    (or zero) in some table — identical int64 probe set."""
    from etl_rj_spark.operators.similarity import _lsh_planes

    planes = _lsh_planes(dim, bits, tables)
    bcols = []
    for t in range(tables):
        terms = []
        for p in range(bits):
            lst = "[" + ",".join(str(x) for x in planes[t][p]) + "]"
            d = f"list_sum(list_transform(range(1,{dim + 1}), i -> iv[i] * ({lst})[i]))"
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
        bcols.append(" + ".join(terms) + f" AS b{t}")
    blist = ", ".join(f"b{t}" for t in range(tables))
    masks = [0] + [1 << i for i in range(bits)]
    on = " OR ".join(
        f"c.b{t} IN ({', '.join(f'xor(q.b{t}, {m})' for m in masks)})"
        for t in range(tables)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS cv,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1048576) AS BIGINT)) AS iv
      FROM embeddings
    ), bk AS (
      SELECT vec_id, cv, {", ".join(bcols)} FROM base
    ), q AS (
      SELECT vec_id AS query_id, cv AS qv, {blist} FROM bk WHERE vec_id < 20
    ), cand AS (
      SELECT q.query_id, q.qv, c.vec_id, c.cv FROM q JOIN bk c ON {on}
    ), scored AS (
      -- DISTINCT: ranks are over DISTINCT (query, id, score) results
      -- — duplicated corpus/query rows must not occupy several of the
      -- k slots (r11 dupstorm parity with lsh_topk's scored.distinct)
      SELECT DISTINCT query_id, vec_id, {_SQL_COS} AS score FROM cand
    )
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@_q("ann_lsh_multiprobe_topk", _lsh_multiprobe_oracle_sql(), tags=("similarity-lsh", "multiprobe"))
def ann_lsh_multiprobe_topk(spark, sf_dir):
    """Scale-path ANN #3: MULTI-PROBE hyperplane LSH (Lv et al.) — 2
    tables × 4 planes with Hamming-1 query probing (5 probes/table)
    instead of 8 single-probe tables: the corpus-side index shrinks 4×
    while the probe union recovers the recall, which is the right
    trade at 100 TB where the index is the stored artifact. Fully
    oracled (probe set = exact int64 XOR arithmetic); recall vs
    brute force pinned in tests/test_fuzzy.py."""
    from etl_rj_spark.operators.similarity import lsh_topk_multiprobe

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 20)
    return lsh_topk_multiprobe(e, queries, k=10, dim=64, bits=4, tables=2)


def _pq_oracle_sql(
    dim: int = 64, m: int = 4, k: int = 16,
    n_queries: int = 5, shortlist: int = 50, topk: int = 10,
) -> str:
    """DuckDB twin of the full PQ pipeline (fit → encode → ADC
    shortlist → exact re-rank) — ``m`` prefixed replays of the exact
    integer k-means chain over vector slices, then pure int64
    distance arithmetic; every stage is engine-exact so the oracle
    compares final ranks, not approximations."""
    sub = dim // m
    q20 = 1 << 20
    rng = f"range(1, {sub + 1})"
    chains, encs, qts = [], [], []
    for s in range(m):
        src = (
            f"(SELECT vec_id, list_slice(embedding::DOUBLE[], {s * sub + 1}, "
            f"{(s + 1) * sub}) AS embedding FROM embeddings)"
        )
        chains.append(_kmeans_oracle_ctes(k=k, dim=sub, source=src, prefix=f"s{s}_"))
        encs.append(f"""
    enc{s} AS (
      SELECT vec_id, cid AS code_{s} FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform({rng}, i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM s{s}_base p CROSS JOIN s{s}_c2 c
      ) WHERE rn = 1
    )""")
        qts.append(f"""
    qt{s} AS (
      SELECT p.vec_id AS query_id, c.cid,
             list_sum(list_transform({rng}, i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))) AS d
      FROM s{s}_base p CROSS JOIN s{s}_c2 c WHERE p.vec_id < {n_queries}
    )""")
    adist = " + ".join(f"dt{s}.d" for s in range(m))
    code_joins = "\n      ".join(
        f"JOIN qt{s} dt{s} ON dt{s}.query_id = q.query_id AND dt{s}.cid = e.code_{s}"
        for s in range(m)
    )
    enc_joins = " ".join(f"JOIN enc{s} USING (vec_id)" for s in range(1, m))
    frng = f"range(1, {dim + 1})"
    return f"""
    WITH {",".join(chains)},
    {",".join(encs)},
    {",".join(qts)},
    codes AS (SELECT * FROM enc0 {enc_joins}),
    fullq AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * {q20}) AS BIGINT)) AS iv
      FROM embeddings
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY {adist}, e.vec_id) AS rn
        FROM codes e
        CROSS JOIN (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < {n_queries}) q
        {code_joins}
      ) WHERE rn <= {shortlist}
    )
    SELECT query_id, vec_id, l2_int, rank FROM (
      SELECT s.query_id, s.vec_id,
             CAST(list_sum(list_transform({frng}, i -> (qv.iv[i]-cv.iv[i])*(qv.iv[i]-cv.iv[i]))) AS BIGINT) AS l2_int,
             row_number() OVER (PARTITION BY s.query_id ORDER BY
               list_sum(list_transform({frng}, i -> (qv.iv[i]-cv.iv[i])*(qv.iv[i]-cv.iv[i]))), s.vec_id) AS rank
      FROM short s JOIN fullq qv ON qv.vec_id = s.query_id
      JOIN fullq cv ON cv.vec_id = s.vec_id
    ) WHERE rank <= {topk}
    """


@_q("ann_pq_adc_topk", _pq_oracle_sql(), tags=("similarity-pq", "ann"))
def ann_pq_adc_topk(spark, sf_dir):
    """Scale-path ANN #4: PRODUCT QUANTIZATION (Jégou et al.) — 4
    subspaces × 16 integer-k-means codewords compress each 64-dim
    vector to 4 small ints (~64× smaller stored index); queries build
    per-subspace distance tables and ADC-scan the codes for a
    50-deep shortlist, then exact integer L2 re-ranks to top-10. The
    entire pipeline (4 sub-fits, encoding, ADC, re-rank) is exact
    int64 arithmetic, so the DuckDB oracle replays it end to end —
    an oracle-checked PQ most engines can't offer. Recall vs exact
    L2 pinned in tests/test_kmeans.py."""
    from etl_rj_spark.operators.kmeans import (
        pq_encode,
        pq_fit,
        pq_topk_rerank,
    )

    e = _t(spark, sf_dir, "embeddings")
    books = pq_fit(e, dim=64, m=4, k=16, iters=2)
    codes = pq_encode(e, books, dim=64)
    queries = e.filter(F.col("vec_id") < 5)
    return pq_topk_rerank(e, codes, books, queries, topk=10, shortlist=50, dim=64)


def _ivfpq_oracle_sql(
    dim: int = 64, coarse_k: int = 8, m: int = 4, k: int = 16,
    n_queries: int = 5, shortlist: int = 30, topk: int = 10,
) -> str:
    """DuckDB twin of the IVF-PQ pipeline: coarse fit → residuals →
    m residual-codebook fits (``iv_expr`` feeds the chains the int64
    residual slices directly) → cell-confined ADC → exact re-rank.
    Engine-exact at every stage, so final ranks must match."""
    sub = dim // m
    frng = f"range(1, {dim + 1})"
    srng = f"range(1, {sub + 1})"
    coarse = _kmeans_oracle_ctes(k=coarse_k, dim=dim, prefix="c_")
    chains, encs, qts = [], [], []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        src = f"(SELECT vec_id, list_slice(riv, {lo}, {hi}) AS rv FROM resid)"
        chains.append(
            _kmeans_oracle_ctes(k=k, dim=sub, source=src, prefix=f"r{s}_", iv_expr="rv")
        )
        encs.append(f"""
    enc{s} AS (
      SELECT vec_id, cid AS code_{s} FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform({srng}, i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM r{s}_base p CROSS JOIN r{s}_c2 c
      ) WHERE rn = 1
    )""")
        qts.append(f"""
    qt{s} AS (
      SELECT q.vec_id AS query_id, c.cid,
             list_sum(list_transform({srng},
               i -> (q.riv[{lo} - 1 + i]-c.cv[i])*(q.riv[{lo} - 1 + i]-c.cv[i]))) AS d
      FROM resid q CROSS JOIN r{s}_c2 c WHERE q.vec_id < {n_queries}
    )""")
    adist = " + ".join(f"dt{s}.d" for s in range(m))
    code_joins = "\n        ".join(
        f"JOIN qt{s} dt{s} ON dt{s}.query_id = q.query_id AND dt{s}.cid = e.code_{s}"
        for s in range(m)
    )
    enc_joins = " ".join(f"JOIN enc{s} USING (vec_id)" for s in range(1, m))
    code_cols = ", ".join(f"code_{s}" for s in range(m))
    return f"""
    WITH {coarse},
    cass AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform({frng}, i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM c_base p CROSS JOIN c_c2 c
      ) WHERE rn = 1
    ),
    resid AS (
      SELECT b.vec_id, a.cid AS cell,
             list_transform({frng}, i -> b.iv[i] - cc.cv[i]) AS riv
      FROM c_base b JOIN cass a USING (vec_id) JOIN c_c2 cc ON a.cid = cc.cid
    ),
    {",".join(chains)},
    {",".join(encs)},
    {",".join(qts)},
    codes AS (
      SELECT enc0.vec_id, {code_cols}, r.cell
      FROM enc0 {enc_joins} JOIN resid r ON r.vec_id = enc0.vec_id
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY {adist}, e.vec_id) AS rn
        FROM codes e
        JOIN (SELECT vec_id AS query_id, cell FROM resid WHERE vec_id < {n_queries}) q
          ON e.cell = q.cell
        {code_joins}
      ) WHERE rn <= {shortlist}
    )
    SELECT query_id, vec_id, l2_int, rank FROM (
      SELECT s.query_id, s.vec_id,
             CAST(list_sum(list_transform({frng}, i -> (qv.iv[i]-cv.iv[i])*(qv.iv[i]-cv.iv[i]))) AS BIGINT) AS l2_int,
             row_number() OVER (PARTITION BY s.query_id ORDER BY
               list_sum(list_transform({frng}, i -> (qv.iv[i]-cv.iv[i])*(qv.iv[i]-cv.iv[i]))), s.vec_id) AS rank
      FROM short s JOIN c_base qv ON qv.vec_id = s.query_id
      JOIN c_base cv ON cv.vec_id = s.vec_id
    ) WHERE rank <= {topk}
    """


@_q("ann_ivfpq_topk", _ivfpq_oracle_sql(), tags=("similarity-pq", "ivf", "ann"))
def ann_ivfpq_topk(spark, sf_dir):
    """Scale-path ANN #5: IVF-PQ — the billion-scale index layout
    (coarse cells + PQ codebooks trained on cell RESIDUALS). A query
    probes its nearest cell (nprobe=1), ADC-scans only that cell's
    4-int codes against residual distance tables, then exact integer
    L2 re-ranks a 30-deep shortlist. Coarse fit, residuals, the four
    residual codebook fits, encoding, ADC, and re-rank are ALL exact
    int64, so the DuckDB oracle replays the complete pipeline and
    equality is on final ranks — an oracle-checked IVF-PQ."""
    from etl_rj_spark.operators.kmeans import ivfpq_build, ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    coarse, books, codes = ivfpq_build(e, dim=64, coarse_k=8, m=4, k=16, iters=2)
    queries = e.filter(F.col("vec_id") < 5)
    return ivfpq_topk(
        e, coarse, books, codes, queries, topk=10, shortlist=30, dim=64
    )


# --- round-7 additions: bloom decontamination + A-ES weighted sample -------


@_q("decontaminate_docs_bloom", _DECONTAM_ORACLE, bench=True, tags=("decontamination", "bloom"))
def decontaminate_docs_bloom(spark, sf_dir):
    """Decontamination scale-ladder rung 3: the benchmark gram set is
    aggregated into ONE Bloom bitmap (native ``bloom_filter_agg``,
    ~10 bits/gram at 1 % fpp vs 8 B/gram hashed, ~40 B/gram exact) and
    probed map-side from the corpus gram scan via ``might_contain``;
    false positives only add candidates, and the exact-verify join
    restores byte-identical output — proven by sharing the exact
    path's oracle (same argument as decontaminate_docs_hashed)."""
    from pyspark.sql import functions as F

    from etl_rj_spark.operators.text_analysis import normalized_text, whitespace_tokens
    from etl_rj_spark.operators.text_dedup import bloom_contaminated_docs

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    toks = whitespace_tokens(normalized_text("text"))
    bench = d.filter(F.col("doc_id") % 10 == 0).filter(F.size(toks) >= 12).select(
        F.array_join(F.slice(toks, 5, 8), " ").alias("text")
    )
    return bloom_contaminated_docs(
        corpus, bench, "doc_id", "text", n=8, expected_grams=100_000
    )


_AES_SQL = """
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 13))::BIGINT
                       + 1.0) / 4503599627370497.0) / CAST(n_chars AS DOUBLE), 9) AS k
      FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
    )
    SELECT source, doc_id, n_chars, CAST(rn AS INT) AS sample_rank FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= 25
    """


@_q("weighted_sample_sources", _AES_SQL, bench=True, tags=("curation", "sampling", "weighted"))
def weighted_sample_sources(spark, sf_dir):
    """Deterministic weighted sampling without replacement: 25 docs
    per source with inclusion probability scaling with ``n_chars``
    (Efraimidis–Spirakis A-ES, key = ln(u)/w over a hash-derived
    uniform; longer docs are likelier picks — the quality/length-
    weighted variant of the curation mixture step). The oracle replays
    the identical formula — key rounded to 9 dp with doc_id tiebreak,
    so last-ulp ln() differences cannot flip a selection — and the
    engines must agree on the exact sample membership AND order."""
    from etl_rj_spark.operators.curation import weighted_sample_by_group

    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return weighted_sample_by_group(
        d, "source", "doc_id", "n_chars", k=25, seed="0"
    )


_HARDNEG_SQL = f"""
    WITH {_kmeans_oracle_ctes(fit_filter="vec_id >= 5")},
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    q AS (SELECT b.vec_id AS query_id, e.label AS anchor_label, b.dv AS qv, cells.cid AS cell
          FROM base b JOIN embeddings e USING (vec_id) JOIN cells USING (vec_id)
          WHERE b.vec_id < 5),
    c AS (SELECT b.vec_id, e.label AS neg_label, b.dv AS cv, cells.cid AS cell
          FROM base b JOIN embeddings e USING (vec_id) JOIN cells USING (vec_id)
          WHERE b.vec_id >= 5),
    scored AS (SELECT query_id, anchor_label, c.vec_id, neg_label, {{_SQL_COS}} AS score
               FROM q JOIN c USING (cell)
               WHERE neg_label <> anchor_label)
    SELECT query_id, anchor_label, vec_id, neg_label, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 5
    """.format(_SQL_COS=_SQL_COS)


@_q("hard_negative_mining", _HARDNEG_SQL, tags=("similarity-kmeans", "contrastive", "curation"))
def hard_negative_mining(spark, sf_dir):
    """Contrastive hard-negative mining: for each of 5 anchor vectors,
    the top-5 most-cosine-similar corpus vectors with a DIFFERENT
    label, candidates confined to the anchor's trained k-means cell —
    near-misses across the label boundary, the pairs a contrastive
    objective actually learns from. The oracle replays the full
    deterministic fit + cell assignment + label-filtered exact cosine
    ranking; equality is on final ranks."""
    from etl_rj_spark.operators.kmeans import hard_negative_mining as mine
    from etl_rj_spark.operators.kmeans import kmeans_fit

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    centroids = kmeans_fit(corpus, k=8, iters=2)
    return mine(corpus, queries, centroids, k=5)


_IVF_INDEX_SQL = f"""
    WITH {_kmeans_oracle_ctes(fit_filter="vec_id >= 5")},
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    q AS (SELECT b.vec_id AS query_id, b.dv AS qv, cells.cid AS cell
          FROM base b JOIN cells USING (vec_id) WHERE b.vec_id < 5),
    c AS (SELECT b.vec_id, b.dv AS cv, cells.cid AS cell
          FROM base b JOIN cells USING (vec_id) WHERE b.vec_id >= 5),
    scored AS (SELECT query_id, c.vec_id, {{_SQL_COS}} AS score
               FROM q JOIN c USING (cell))
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 5
    """.format(_SQL_COS=_SQL_COS)


@_q(
    "ann_ivf_index_probe",
    _IVF_INDEX_SQL,
    tags=("similarity-kmeans", "incremental-index", "partitioned-layout"),
)
def ann_ivf_index_probe(spark, sf_dir):
    """``ann_kmeans_ivf_topk``'s PERSISTED twin at the documented
    scale layout — the embedding analog of ``minhash_index_probe``:
    the trained index is WRITTEN as a cell-partitioned catalog table
    (+ centroids + family-guard meta) and the query batch probes it
    through the catalog, pruning the index scan to its probed cells
    with zero index-side Exchange (pinned in tests/test_scale_ops.py).
    Identical ANN semantics to the in-query variant, so the oracle is
    the same full fit replay."""
    from etl_rj_spark.operators.kmeans import (
        kmeans_fit,
        persist_ivf_index,
        probe_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    prefix = "etl_rj_ivf_probe"
    # pid-suffixed isolation (VERDICT r13 #1) + bounded lifetime (r15)
    idx_dir = pid_scratch("etl_rj_ivf_probe_idx")
    for suffix in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{suffix}")
    centroids = kmeans_fit(corpus, k=8, iters=2)
    persist_ivf_index(corpus, centroids, prefix, path_prefix=idx_dir)
    return probe_ivf_index(spark, queries, prefix, k=5)


_IVF_APPEND_SQL = f"""
    WITH {_kmeans_oracle_ctes(fit_filter="vec_id >= 5 AND vec_id < 500")},
    cells AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               row_number() OVER (PARTITION BY p.vec_id ORDER BY
                 list_sum(list_transform(range(1, 65), i -> (p.iv[i]-c.cv[i])*(p.iv[i]-c.cv[i]))), c.cid) AS rn
        FROM base p CROSS JOIN c2 c
      ) WHERE rn = 1
    ),
    q AS (SELECT b.vec_id AS query_id, b.dv AS qv, cells.cid AS cell
          FROM base b JOIN cells USING (vec_id) WHERE b.vec_id < 5),
    c AS (SELECT b.vec_id, b.dv AS cv, cells.cid AS cell
          FROM base b JOIN cells USING (vec_id) WHERE b.vec_id >= 5),
    scored AS (SELECT query_id, c.vec_id, {{_SQL_COS}} AS score
               FROM q JOIN c USING (cell))
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scored QUALIFY rank <= 5
    """.format(_SQL_COS=_SQL_COS)


@_q(
    "ann_ivf_index_append_probe",
    _IVF_APPEND_SQL,
    tags=("similarity-kmeans", "incremental-index", "partitioned-layout"),
)
def ann_ivf_index_append_probe(spark, sf_dir):
    """Incremental maintenance of the persisted IVF index
    (``kmeans.append_ivf_index``): the index is built on the first
    corpus slice (fit AND content = vec_id 5..499), a later batch
    (vec_id ≥ 500) appends WITHOUT refitting — assigned against the
    index's own persisted centroids — and the batch is then
    REDELIVERED in full; the K1-style anti-join on existing ids makes
    the second append a no-op. The probe after append must equal the
    oracle's replay over the FULL corpus with the fit restricted to
    the original slice — proving both the no-refit append semantics
    and the redelivery idempotence in one verdict."""
    from etl_rj_spark.operators.kmeans import (
        append_ivf_index,
        kmeans_fit,
        persist_ivf_index,
        probe_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    first = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 500))
    batch = e.filter(F.col("vec_id") >= 500)
    prefix = "etl_rj_ivf_appq"
    # pid-suffixed isolation (VERDICT r13 #1) + bounded lifetime (r15)
    idx_dir = pid_scratch("etl_rj_ivf_appq_idx")
    for suffix in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{suffix}")
    centroids = kmeans_fit(first, k=8, iters=2)
    persist_ivf_index(first, centroids, prefix, path_prefix=idx_dir)
    append_ivf_index(batch, prefix)
    append_ivf_index(batch, prefix)  # redelivery: must be a no-op
    return probe_ivf_index(spark, queries, prefix, k=5)


@_q(
    "stream_ivf_maintenance",
    _IVF_APPEND_SQL,
    tags=("similarity-kmeans", "incremental-index", "streaming"),
)
def stream_ivf_maintenance(spark, sf_dir):
    """Streaming maintenance of the persisted IVF index
    (streaming/vectors.py): the index is built on the first corpus
    slice (fit AND content = vec_id 5..499); the remaining vectors
    arrive as 3 micro-batches through foreachBatch, each routed via
    the redelivery-idempotent ``append_ivf_index`` (no ledger needed —
    the K1 anti-join IS the idempotence, same argument as the JDBC
    sink); a FULL REDELIVERY of the stream under a fresh checkpoint
    then changes nothing. The probe's verdict is the same oracle as
    the batch append twin: the final table is independent of
    micro-batching because centroids stay fixed and appends are
    id-exact."""
    from etl_rj_spark.operators.kmeans import (
        kmeans_fit,
        persist_ivf_index,
        probe_ivf_index,
    )
    from etl_rj_spark.streaming.vectors import stream_ivf_index

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    first = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 500))
    rest = e.filter(F.col("vec_id") >= 500)
    prefix = "etl_rj_ivf_stream"
    # pid-suffixed isolation (VERDICT r13 #1) + bounded lifetime (r15)
    root = pid_scratch("etl_rj_ivf_stream_scratch")
    for suffix in ("cells", "centroids", "meta"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{suffix}")

    centroids = kmeans_fit(first, k=8, iters=2)
    persist_ivf_index(first, centroids, prefix, path_prefix=f"{root}/idx")
    rest.repartition(3).write.parquet(f"{root}/in")
    schema = spark.read.parquet(f"{root}/in").schema

    def stream():
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(f"{root}/in")

    stream_ivf_index(stream(), prefix, f"{root}/ck1").awaitTermination()
    # full redelivery, fresh checkpoint: the anti-join makes it a no-op
    stream_ivf_index(stream(), prefix, f"{root}/ck2").awaitTermination()
    return probe_ivf_index(spark, queries, prefix, k=5)


_KW_TERMS = ("spark", "window", "hash")
_KW_SQL = f"""
    WITH toks AS (
      SELECT doc_id, t.term FROM
        (SELECT doc_id, {_SQL_TOKS} AS tt FROM documents),
        UNNEST(tt) AS t(term)
      WHERE t.term IN ('spark', 'window', 'hash')
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    idf AS (SELECT term, (n.n * 1000000) // COUNT(DISTINCT doc_id) AS idf_ppm
            FROM tf CROSS JOIN n GROUP BY term, n.n),
    scored AS (SELECT doc_id, CAST(SUM(tf * idf_ppm) AS BIGINT) AS score
               FROM tf JOIN idf USING (term) GROUP BY doc_id)
    SELECT doc_id, score, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 15
    """


@_q("keyword_search_topk", _KW_SQL, tags=("search", "lexical", "tfidf"))
def keyword_search_topk(spark, sf_dir):
    """Lexical corpus search: top-15 documents for a 3-term query by
    exact-integer TF·IDF (idf_ppm = (N·10⁶) div df — the monotone
    integer cousin of ln-IDF, so the ranking is the one a log-space
    scorer makes and the oracle replays it bit-for-bit). The corpus
    explodes ONLY matching tokens (isin inside the scan stage), df
    and scores are two map-side-combinable aggregates, one bounded
    top-k window."""
    from etl_rj_spark.operators.search import keyword_search_topk as kw

    d = _t(spark, sf_dir, "documents")
    return kw(d, _KW_TERMS, "doc_id", "text", k=15)


_HYBRID_SQL = f"""
    WITH toks AS (
      SELECT doc_id, t.term FROM
        (SELECT doc_id, {_SQL_TOKS} AS tt FROM documents),
        UNNEST(tt) AS t(term)
      WHERE t.term IN ('spark', 'window', 'hash')
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    idf AS (SELECT term, (n.n * 1000000) // COUNT(DISTINCT doc_id) AS idf_ppm
            FROM tf CROSS JOIN n GROUP BY term, n.n),
    lex_scored AS (SELECT doc_id, CAST(SUM(tf * idf_ppm) AS BIGINT) AS score
                   FROM tf JOIN idf USING (term) GROUP BY doc_id),
    lex AS (SELECT doc_id, rank FROM (
              SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
              FROM lex_scored) WHERE rank <= 50),
    emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id < (SELECT n FROM n)),
    qv AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    sem_scored AS (
      SELECT e.vec_id AS doc_id, round({{_SQL_DOT}} /
             (sqrt({{_SQL_NRM_Q}}) * sqrt({{_SQL_NRM_C}})), 9) AS score
      FROM emb e CROSS JOIN qv WHERE e.vec_id <> 0
    ),
    sem AS (SELECT doc_id, rank FROM (
              SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
              FROM sem_scored) WHERE rank <= 50),
    contrib AS (
      SELECT doc_id, 1000000000 // (60 + rank) AS c FROM lex
      UNION ALL
      SELECT doc_id, 1000000000 // (60 + rank) AS c FROM sem
    ),
    fused AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_score
              FROM contrib GROUP BY doc_id)
    SELECT doc_id, rrf_score, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id, rrf_score,
             row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """.format(
    _SQL_DOT="list_sum(list_transform(range(1, 65), i -> e.v[i] * qv.qv[i]))",
    _SQL_NRM_Q="list_sum(list_transform(range(1, 65), i -> qv.qv[i] * qv.qv[i]))",
    _SQL_NRM_C="list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i]))",
)


@_q("hybrid_search_rrf", _HYBRID_SQL, tags=("search", "hybrid", "rrf"))
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: the lexical TF·IDF top-50 and a semantic
    cosine top-50 (query = embedding 0, corpus = embeddings sharing
    the documents' id range) fused by scaled-integer reciprocal-rank
    fusion (Σ 10⁹ div (60 + rank)) — the standard two-retriever
    recipe, rank-only so no score calibration between the lexical and
    the embedding scales is needed. Exact int64 end-to-end except the
    9-dp-rounded cosine ranks, so the oracle replays selection AND
    order."""
    from etl_rj_spark.operators.search import keyword_search_topk as kw
    from etl_rj_spark.operators.search import rrf_fuse
    from etl_rj_spark.operators.similarity import cosine_topk

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    lex = kw(d, _KW_TERMS, "doc_id", "text", k=50)
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < n_docs)
    sem = (
        cosine_topk(
            e.filter(F.col("vec_id") != 0),
            e.filter(F.col("vec_id") == 0),
            k=50,
        )
        .select(F.col("vec_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex.select("doc_id", "rank"), sem], "doc_id", k=10)


_NEGSAMPLE_SQL = """
    WITH pop AS (
      -- the sampling catalog is parts WITH keys: a NULL item cannot
      -- be drawn, and (Spark NULLS FIRST vs SQL NULLS LAST) a NULL
      -- CDF interval shifts every other draw (r10 nullmix parity)
      SELECT l_partkey AS partkey, CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ),
    cdf AS (
      SELECT partkey,
             SUM(w) OVER (ORDER BY partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w AS lo,
             SUM(w) OVER (ORDER BY partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
      FROM pop
    ),
    tot AS (SELECT MAX(hi) AS w_total FROM cdf),
    users AS (SELECT c_custkey FROM customer WHERE c_custkey < 20),
    draws AS (
      SELECT u.c_custkey, s.slot,
             (('0x' || substr(md5(CAST(u.c_custkey AS VARCHAR) || ':' ||
                                  CAST(s.slot AS VARCHAR) || ':0'), 1, 13))::BIGINT)
               % tot.w_total AS pos
      FROM users u CROSS JOIN tot CROSS JOIN UNNEST(range(1, 6)) AS s(slot)
    ),
    seen AS (
      SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT d.c_custkey, CAST(d.slot AS INT) AS slot, c.partkey,
           CASE WHEN s.partkey IS NULL THEN 0 ELSE 1 END AS was_seen
    FROM draws d
    JOIN cdf c ON d.pos >= c.lo AND d.pos < c.hi
    LEFT JOIN seen s ON s.c_custkey = d.c_custkey AND s.partkey = c.partkey
    """


@_q("negative_sample_parts", _NEGSAMPLE_SQL, tags=("curation", "sampling", "negative-sampling"))
def negative_sample_parts(spark, sf_dir):
    """Popularity-weighted negative sampling (the word2vec/recsys
    training primitive): 5 deterministic draws per customer from the
    parts catalog with P(part) ∝ its lineitem frequency, via
    integer-CDF inverse-transform sampling (``weighted_draws`` — no
    floats anywhere, the oracle replays positions and intervals
    bit-for-bit), each draw flagged ``was_seen`` when the customer
    actually bought that part (a training pipeline drops or
    re-weights those)."""
    from etl_rj_spark.operators.curation import weighted_draws

    li = _t(spark, sf_dir, "lineitem")
    # catalog = parts WITH keys (see oracle, r10 nullmix parity)
    pop = (
        li.where(F.col("l_partkey").isNotNull())
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    users = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 20)
    draws = weighted_draws(pop, users, "partkey", "w", "c_custkey", k=5)
    seen = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey")
        .join(li.select("l_orderkey", "l_partkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c_custkey"),
                F.col("l_partkey").alias("partkey"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    return (
        draws.join(seen, ["c_custkey", "partkey"], "left")
        .select(
            "c_custkey",
            F.col("slot").cast("int").alias("slot"),
            "partkey",
            F.coalesce("__seen", F.lit(0)).alias("was_seen"),
        )
    )


_DISTMATCH_SQL = """
    WITH binned AS (
      SELECT doc_id, n_chars, LEAST(n_chars // 30, 5) AS bin FROM documents
    ),
    ref AS (SELECT bin, COUNT(*) AS rn FROM binned WHERE n_chars <= 120 GROUP BY 1),
    cur AS (SELECT bin, COUNT(*) AS cn FROM binned GROUP BY 1),
    ratios AS (
      SELECT cur.bin,
             CAST(COALESCE(ref.rn, 0) AS DOUBLE) / CAST(cur.cn AS DOUBLE) AS ratio
      FROM cur LEFT JOIN ref USING (bin)
    ),
    mx AS (SELECT MAX(ratio) AS mx FROM ratios),
    probs AS (SELECT bin, round(ratio / mx.mx, 9) AS p FROM ratios CROSS JOIN mx)
    SELECT b.doc_id, b.n_chars, b.bin
    FROM binned b JOIN probs USING (bin)
    WHERE (('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 13))::BIGINT)
            / 4503599627370496.0 < probs.p
    """


@_q("distribution_match_resample", _DISTMATCH_SQL, tags=("curation", "sampling", "distribution-match"))
def distribution_match_resample(spark, sf_dir):
    """Target-distribution thinning (`match_distribution_resample`):
    the corpus's length-bin profile is reshaped to match a
    short-skewed reference slice (docs ≤ 120 chars) — per-bin keep
    probability ∝ ref_frac/cur_frac, normalized so the scarcest bin
    keeps 100 % (maximum-retention thinning whose expected output
    distribution IS the reference's). Hash-deterministic selection;
    the oracle replays counts, 9-dp probabilities and the 52-bit hash
    fraction bit-for-bit."""
    from etl_rj_spark.operators.curation import match_distribution_resample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.least(F.expr("n_chars div 30"), F.lit(5)).alias("bin")
    )
    ref = d.filter(F.col("n_chars") <= 120)
    return match_distribution_resample(d, ref, "bin", "doc_id")


@_q(
    "bpe_pair_merge_candidates",
    """
    WITH words AS (
      SELECT w.word AS word
      FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS w(word)
      WHERE length(w.word) >= 2
    ), pairs AS (
      SELECT substring(word, CAST(i AS INTEGER), 2) AS pair
      FROM words, UNNEST(range(1, length(word))) AS r(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM pairs GROUP BY pair ORDER BY n_pair DESC, pair LIMIT 50
    """,
    bench=True,
    tags=("tokenizer", "bpe", "text-analysis"),
)
def bpe_pair_merge_candidates(spark, sf_dir):
    """Top-50 BPE first-merge candidates over the corpus: adjacent
    character-pair counts within alphabetic words (ties broken by pair
    for a deterministic leaderboard). The trainer's argmax is row 1;
    re-running after applying a merge gives iteration 2 — this query is
    the distributed inner statistic of tokenizer training. The pair
    fan-out happens scan-stage (transform over sequence, one explode);
    the aggregate key space is ≤ 26² so the shuffle is KB-sized at any
    corpus scale."""
    from etl_rj_spark.operators.text_analysis import bpe_pair_counts

    d = _t(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(d, "text")
        .orderBy(F.desc("n_pair"), "pair")
        .limit(50)
    )


@_q(
    "golden_record_docs",
    f"""
    WITH base AS (
      SELECT md5(substring({_NT}, 1, 40)) AS cluster_key,
             doc_id, n_chars, lang, source
      FROM documents
    ),
    surv AS (
      SELECT cluster_key, doc_id,
             row_number() OVER (PARTITION BY cluster_key
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM base
    ),
    mode1 AS (
      SELECT cluster_key, lang,
             row_number() OVER (PARTITION BY cluster_key
                                ORDER BY c DESC, lang ASC) AS rn
      FROM (SELECT cluster_key, lang, COUNT(*) AS c FROM base GROUP BY 1, 2)
    ),
    agg AS (
      SELECT cluster_key, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             array_to_string(list_sort(list(DISTINCT source)), ',') AS all_sources
      FROM base GROUP BY 1
    )
    SELECT a.cluster_key, a.n_members, a.total_chars,
           s.doc_id AS survivor_doc_id, m.lang AS mode_lang, a.all_sources
    FROM agg a
    JOIN (SELECT cluster_key, doc_id FROM surv WHERE rn = 1) s USING (cluster_key)
    JOIN (SELECT cluster_key, lang FROM mode1 WHERE rn = 1) m USING (cluster_key)
    ORDER BY a.cluster_key
    """,
    tags=("mdm", "golden-record", "J4-generalized"),
)
def golden_record_docs(spark, sf_dir):
    """Golden-record synthesis per duplicate cluster (clusters keyed by
    the md5 of the normalized text's 40-char prefix — the same prefix
    fingerprint family the near-dup tier blocks on): survivor id by
    completeness (max n_chars, ties to lowest id), consensus language
    (mode, ties lexicographic), provenance union of sources, and
    cluster accounting. The survivorship step the reference's
    drop_duplicates performs implicitly (keep-first) made explicit and
    per-field."""
    from etl_rj_spark.operators.curation import golden_record_merge
    from etl_rj_spark.operators.text_analysis import normalized_text

    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.substring(normalized_text("text"), 1, 40))
    return (
        golden_record_merge(
            d, key, id_col="doc_id", size_col="n_chars",
            mode_col="lang", set_col="source",
        )
        .select(
            "cluster_key", "n_members",
            F.col("total_size").alias("total_chars"),
            F.col("survivor_id").alias("survivor_doc_id"),
            F.col("mode_value").alias("mode_lang"),
            "all_sources",
        )
        .orderBy("cluster_key")
    )


@_q(
    "ann_eval_recall_mrr",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, {_SQL_CELL} AS cell
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, {_SQL_CELL} AS cell
               FROM embeddings WHERE vec_id >= 5),
         truth AS (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS rank
           FROM (SELECT query_id, vec_id, {_SQL_COS} AS score FROM q CROSS JOIN c)
           QUALIFY rank <= 10
         ),
         approx AS (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, vec_id) AS rank
           FROM (SELECT query_id, c.vec_id, {_SQL_COS} AS score FROM q JOIN c USING (cell))
           QUALIFY rank <= 10
         ),
         hits AS (
           SELECT t.query_id, COUNT(*) AS n_hits,
                  MAX(CASE WHEN t.rank = 1 THEN a.rank END) AS top1_rank
           FROM truth t JOIN approx a
             ON t.query_id = a.query_id AND t.vec_id = a.vec_id
           GROUP BY 1
         )
    SELECT qs.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm,
           CAST(coalesce(1000000 // h.top1_rank, 0) AS BIGINT) AS mrr_ppm
    FROM (SELECT DISTINCT query_id FROM truth) qs
    LEFT JOIN hits h USING (query_id)
    ORDER BY qs.query_id
    """,
    tags=("similarity-eval", "recall-mrr"),
)
def ann_eval_recall_mrr(spark, sf_dir):
    """Retrieval-eval harness: per-query recall@10 and MRR (both
    integer ppm) of the sign-bit IVF probe against the brute-force
    ground truth — the recall ladders' in-query asserts promoted to a
    queryable metrics frame (the form an eval dashboard consumes).
    Both top-k inputs share the deterministic tie-break contract, so
    the metrics are exact integers, not float approximations."""
    from etl_rj_spark.operators.similarity import topk_eval_metrics

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    corpus = e.filter(F.col("vec_id") >= 5)
    truth = cosine_topk(corpus, queries, k=10)
    approx = ivf_topk(corpus, queries, k=10)
    return topk_eval_metrics(truth, approx, k=10).orderBy("query_id")


@_q(
    "bpe_second_merge_candidates",
    """
    WITH words AS (
      SELECT w.word AS word
      FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS w(word)
      WHERE length(w.word) >= 2
    ), pc AS (
      SELECT substring(word, CAST(i AS INTEGER), 2) AS pair
      FROM words, UNNEST(range(1, length(word))) AS r(i)
    ), top1 AS (
      SELECT pair FROM (
        SELECT pair, COUNT(*) AS n FROM pc GROUP BY 1 ORDER BY n DESC, pair LIMIT 1
      )
    ), w2 AS (
      SELECT replace(word, (SELECT pair FROM top1), '0') AS word FROM words
    ), p2 AS (
      SELECT substring(word, CAST(i AS INTEGER), 2) AS pair
      FROM w2, UNNEST(range(1, length(word))) AS r(i)
      WHERE length(word) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM p2 GROUP BY pair ORDER BY n_pair DESC, pair LIMIT 50
    """,
    tags=("tokenizer", "bpe", "text-analysis"),
)
def bpe_second_merge_candidates(spark, sf_dir):
    """BPE trainer iteration 2: apply the corpus's argmax merge (the
    winning pair becomes the single symbol '0' — outside the a-z word
    alphabet, so merged units participate in new pairs exactly as BPE
    requires) and recount pair frequencies over the rewritten symbol
    streams. The merge rule is a 1-row broadcast into a scan-stage
    replace — each trainer iteration is one corpus pass with KB-sized
    state, the distributed-BPE loop shape. Both engines replace
    leftmost-non-overlapping, which the oracle equality pins."""
    from etl_rj_spark.operators.text_analysis import bpe_pair_counts

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower(F.col("text").cast("string")), "[^a-z]+")).alias(
            "word"
        )
    ).filter(F.length("word") >= 2)
    top1 = (
        bpe_pair_counts(d, "text")
        .orderBy(F.desc("n_pair"), "pair")
        .limit(1)
        .select(F.col("pair").alias("__merge"))
    )
    rewritten = (
        words.join(F.broadcast(top1))
        .select(F.expr("replace(word, __merge, '0')").alias("word"))
        .filter(F.length("word") >= 2)
    )
    pairs = rewritten.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair")
        .limit(50)
    )


@_q(
    "embedding_centroid_drift",
    """
    WITH h AS (
      SELECT label, vec_id % 2 AS half, embedding FROM embeddings
      WHERE label IS NOT NULL
    ), d AS (
      SELECT label, half, r.i AS dim,
             CAST(FLOOR(embedding[CAST(r.i AS INTEGER)]::DOUBLE * 1048576) AS BIGINT)
               + 2097152 AS q
      FROM h, UNNEST(range(1, 65)) AS r(i)
    ), cents AS (
      SELECT label, half, dim,
             CAST(SUM(q) // COUNT(*) AS BIGINT) AS cent,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY 1, 2, 3
    )
    SELECT e.label,
           CAST(MAX(e.n) AS BIGINT) AS n_even, CAST(MAX(o.n) AS BIGINT) AS n_odd,
           CAST(SUM(ABS(e.cent - o.cent)) AS BIGINT) AS l1_drift
    FROM cents e JOIN cents o
      ON e.label = o.label AND e.dim = o.dim AND e.half = 0 AND o.half = 1
    GROUP BY e.label ORDER BY e.label
    """,
    tags=("embedding-drift", "monitoring"),
)
def embedding_centroid_drift(spark, sf_dir):
    """Embedding drift monitor: per label, the L1 distance between the
    quantized integer centroids of two population halves (vec_id
    parity stands in for the before/after snapshots a production
    monitor compares) — the vector-space twin of the token χ² drift
    screen. Values quantize to floor(x·2²⁰)+2²¹ (offset keeps every
    sum non-negative so floor-division is engine-exact; the offset
    cancels in the difference). One posexplode pass into a
    (label, half, dim)-keyed exact-integer aggregate; centroid state
    is KB-sized."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    d = (
        e.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("dim0", "x"),
        )
        .select(
            "label", "half", (F.col("dim0") + 1).alias("dim"),
            (
                F.floor(F.col("x").cast("double") * F.lit(1 << 20)).cast("long")
                + F.lit(1 << 21)
            ).alias("q"),
        )
    )
    cents = d.groupBy("label", "half", "dim").agg(
        F.expr("cast(sum(q) div count(1) as bigint)").alias("cent"),
        F.count(F.lit(1)).alias("n"),
    )
    even = cents.filter(F.col("half") == 0).select(
        "label", "dim", F.col("cent").alias("ce"), F.col("n").alias("ne")
    )
    odd = cents.filter(F.col("half") == 1).select(
        "label", "dim", F.col("cent").alias("co"), F.col("n").alias("no")
    )
    return (
        even.join(odd, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("ne").alias("n_even"),
            F.max("no").alias("n_odd"),
            F.sum(F.abs(F.col("ce") - F.col("co"))).alias("l1_drift"),
        )
        .orderBy("label")
    )


@_q(
    "neardup_eval_simhash",
    f"""
    WITH corpus AS ({_NEAR_CORPUS}),
    sets AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) >= 3 THEN
               [array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]
               ELSE [] END) AS s
      FROM (SELECT doc_id, string_split_regex({_NT}, '\\s+') AS toks FROM corpus)
    ),
    truth AS (
      -- DISTINCT pairs (r11 dupstorm parity: metrics count id pairs)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE {_JACCARD} >= 0.7
    ),
    fps AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), j ->
               CASE WHEN list_sum(list_transform(th, h -> ((h >> j) & 1) * 2 - 1)) > 0
                    THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS fp
      FROM (
        SELECT doc_id,
               list_transform(string_split_regex({_NT}, '\\s+'),
                              t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS th
        FROM corpus
      )
    ),
    found AS (
      -- DISTINCT pairs (r11 dupstorm parity)
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
    ),
    t AS (SELECT COUNT(*) AS n_truth FROM truth),
    f AS (SELECT COUNT(*) AS n_found FROM found),
    h AS (SELECT COUNT(*) AS n_hits FROM truth JOIN found USING (id_a, id_b))
    SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_found AS BIGINT) AS n_found,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(coalesce(n_hits * 1000000 // NULLIF(n_found, 0), 0) AS BIGINT)
             AS precision_ppm,
           CAST(coalesce(n_hits * 1000000 // NULLIF(n_truth, 0), 0) AS BIGINT)
             AS recall_ppm
    FROM t CROSS JOIN f CROSS JOIN h
    """,
    tags=("dedup-eval", "precision-recall"),
)
def neardup_eval_simhash(spark, sf_dir):
    """Dedup-eval harness: precision/recall (integer ppm) of the
    SimHash hamming≤3 candidate pairs against the exact token-3-gram
    Jaccard≥0.7 ground truth on the planted near-dup corpus — the
    ANN-eval pattern (`ann_eval_recall_mrr`) applied to the text
    near-dup family: fingerprint screens trade precision for speed,
    and this frame is where that trade becomes a monitored number
    instead of a docstring claim. All pair frames are near-dup-sized
    (KB), so the metric joins are trivial at any corpus scale."""
    from etl_rj_spark.operators.text_dedup import (
        ngram_jaccard_pairs,
        simhash_near_pairs,
    )

    corpus = _near_dup_token_corpus(spark, sf_dir)
    # RAW on both sides (r15): this harness measures the SimHash
    # FINGERPRINT's candidate quality against ground truth, so the
    # storm-safe collapse tier must not substitute its star edges for
    # either pair set — the documented raw-semantics caller.
    truth = ngram_jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.7, n=3, exact_collapse_first=False
    ).select("id_a", "id_b")
    found = simhash_near_pairs(
        corpus, "doc_id", "text", max_hamming=3, exact_collapse_first=False
    ).select("id_a", "id_b")
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    f_ = found.agg(F.count(F.lit(1)).alias("n_found"))
    h = truth.join(found, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        t.join(F.broadcast(f_)).join(F.broadcast(h))
        .select(
            "n_truth", "n_found", "n_hits",
            F.coalesce(
                F.expr("n_hits * 1000000L div nullif(n_found, 0)"), F.lit(0).cast("long")
            ).alias("precision_ppm"),
            F.coalesce(
                F.expr("n_hits * 1000000L div nullif(n_truth, 0)"), F.lit(0).cast("long")
            ).alias("recall_ppm"),
        )
    )
