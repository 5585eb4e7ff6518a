#!/usr/bin/env python3
"""Degenerate-input parity sweep: run every registered query against an
ALL-EMPTY dataset (each of the ten tables with its real schema and zero
rows) and compare the engine against its DuckDB oracle.

Why this exists: empty/degenerate input is the one regime the per-round
correctness gate never samples, and it is where the engine and an
ANSI-SQL oracle structurally disagree — a Spark ``groupBy`` over an
empty frame emits ZERO rows while a SQL global aggregate emits ONE
all-NULL row (the ADVICE-r9 chi-square finding, generalized), windows
over nothing differ from folds over nothing, and ``first()``-style
seeds return None. At 100 TB "empty" happens constantly in practice: a
partition with no late events, a day with no orders, a source whose
filter matched nothing — so a divergence here is a real production bug,
not a test curiosity.

For each query: build on the empty dir, collect, run the oracle on
empty views, and compare with the SAME canonicalization the driver
uses (tests/oracle_utils.py). Statuses:
  ok          — full match (usually 0 == 0 rows, or matching 1-row reports)
  rows_only   — no oracle registered; engine ran without error
  refused_by_design — raised the documented refusal (EXPECTED_REFUSAL:
                the IVF index builders, which need a non-empty
                training corpus exactly like FAISS train-before-add)
  DIVERGES    — both engines ran; row count / schema / values differ
  ENGINE_ERR  — the Spark build raised on empty input
  ORACLE_ERR  — the DuckDB oracle raised on empty input

Usage:
  python scripts/degenerate_sweep.py [--regime empty|single|nullmix|dupstorm|nulldup|hotkey]
                                     [--out out.json] [--rebuild] [name ...]

Regimes: ``empty`` (default) — every table with its real schema and
ZERO rows; ``single`` — every table exactly ONE row (first row of
sf0.001, FK integrity deliberately not preserved), which probes the
n=1 classes empty input can't reach: zero variance, one-class
categoricals, one-element windows/folds, partnerless joins;
``nullmix`` — one real row plus two ALL-NULL rows per table (keys
included), which probes NULL keys/values coexisting with real data
through every join, group, parse, and aggregate; ``dupstorm`` — every
table's first real row TRIPLED verbatim, which probes total-tie
determinism: rank/row_number tie-breaking, keep-latest with identical
timestamps, dedup survivor selection, and the K1 intra-batch
duplicate-key cardinality contracts (VERDICT r10 #8 — the one
degenerate shape the first three regimes don't reach); ``nulldup`` —
the first row, two verbatim copies, AND two all-NULL rows (r11),
crossing the duplicate and NULL shapes in one scan.

The synthetic datasets live under /tmp/sf_{empty,single,nullmix,
dupstorm,nulldup} and are reused across runs; each cache is keyed on a
FINGERPRINT of the base sf0.001 tables (schema + size + mtime), so a
regenerated testdata tree invalidates the twins instead of silently
sweeping stale data (ADVICE r10). ``--rebuild`` forces it.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession  # noqa: E402

from oracle_utils import TABLES, compare_spark_duck, duck_connection  # noqa: E402

BASE = "/root/testdata/sf0.001"
EMPTY = "/tmp/sf_empty"

#: Queries whose correct behavior on an EMPTY dataset is a LOUD
#: REFUSAL, not a 0-row result: building an IVF index requires a
#: trained cell layout, and k-means on zero points has nothing to
#: train on (the same contract FAISS has — train() before add()).
#: Each entry maps query name → required substring of the refusal
#: message; a matching raise records as ``refused_by_design`` (green),
#: anything else stays ENGINE_ERR (red).
EXPECTED_REFUSAL = {
    "ann_ivf_index_probe": "ZERO centroids",
    "ann_ivf_index_append_probe": "ZERO centroids",
    "stream_ivf_maintenance": "ZERO centroids",
    # K1 sink contract (SURVEY §4): a NULL dedup key cannot
    # fingerprint — the sink refuses with "normalize keys first"
    # rather than silently treating NULL as a value (nullmix regime)
    "incremental_anti_join": "null dedup key",
}

#: Regime-SCOPED refusals: contracts that only trip under one regime's
#: specific shape. Kept separate from the global table so a raise with
#: the same message under any OTHER regime stays ENGINE_ERR (red) —
#: e.g. a duplicate-key refusal on clean single-row data would be a
#: real bug, not a documented contract.
EXPECTED_REFUSAL_BY_REGIME = {
    # nulldup carries BOTH parent shapes' contracts: duplicate keys
    # trip the K1 cardinality refusals exactly as under dupstorm (the
    # null-dedup-key refusal is already global)
    "nulldup": {
        "k1_atomic_jdbc_roundtrip": "duplicate key",
        "k1_jdbc_upsert_roundtrip": "duplicate key",
    },
    "dupstorm": {
        # K1 cardinality contracts: a batch whose every row is a
        # verbatim triplicate has intra-batch duplicate dedup keys —
        # the atomic append's PK insert and the MERGE upsert both
        # refuse the WHOLE batch (the exact behavior the poison-batch
        # rollback proofs pin with _assert_integrity_violation).
        "k1_atomic_jdbc_roundtrip": "duplicate key",
        "k1_jdbc_upsert_roundtrip": "duplicate key",
    },
}


SINGLE = "/tmp/sf_single"
NULLMIX = "/tmp/sf_nullmix"
DUPSTORM = "/tmp/sf_dupstorm"

FORCE_REBUILD = False


def _base_fingerprint() -> str:
    """Cheap identity of the base sf0.001 tables: per-table file size
    + mtime + parquet schema. The cached degenerate twins are keyed on
    this, so regenerating testdata (new schema, new first row)
    invalidates every later sweep's cache instead of silently running
    against stale twins (ADVICE r10). mtime+size catches a same-schema
    regeneration with a different first row without hashing data."""
    import pyarrow.parquet as pq

    parts = []
    for t in TABLES:
        p = f"{BASE}/{t}.parquet"
        st = os.stat(p)
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}:{pq.read_schema(p)}")
    import hashlib

    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def _build_cached(out_dir: str, write_table) -> str:
    """Build (or reuse) a degenerate twin dataset: single-FILE parquet
    per table (pyarrow), exact base schema — both duck_connection and
    the engine's readers expect the testdata layout (one file, not a
    Spark part-file directory), and the pyarrow rewrite preserves even
    the events table's TIMESTAMP(NANOS) physical type so every twin
    exercises the same nanosAsLong scan path as the real data.

    The ``_built`` marker stores the base fingerprint; a mismatch (or
    ``--rebuild``) rebuilds in place."""
    import pyarrow.parquet as pq

    fp = _base_fingerprint()
    marker = os.path.join(out_dir, "_built")
    if not FORCE_REBUILD and os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == fp:
                return out_dir
        print(f"# stale cache (base testdata changed) — rebuilding {out_dir}")
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(f"{BASE}/{t}.parquet")
        write_table(tbl, f"{out_dir}/{t}.parquet")
    with open(marker, "w") as f:
        f.write(fp)
    return out_dir


def ensure_empty_dataset(spark: SparkSession) -> str:
    """Regime 1: every table with its real schema and ZERO rows."""
    import pyarrow.parquet as pq

    return _build_cached(
        EMPTY, lambda tbl, path: pq.write_table(tbl.schema.empty_table(), path)
    )


def ensure_single_row_dataset(spark: SparkSession) -> str:
    """Regime 2: every table exactly ONE row (the first row of the
    sf0.001 table). Probes the failure classes empty input can't reach
    — zero variance/denominator with n=1, one-class categoricals,
    one-element windows/folds, self-joins that find no partner — while
    both engines still see IDENTICAL data, so any divergence is
    structural, not data luck. FK integrity across tables is
    deliberately NOT preserved (a lineitem row whose order is missing
    is itself a real degenerate state: joins must emit empty, not
    error)."""
    import pyarrow.parquet as pq

    return _build_cached(
        SINGLE, lambda tbl, path: pq.write_table(tbl.slice(0, 1), path)
    )


def ensure_nullmix_dataset(spark: SparkSession) -> str:
    """Regime 3: every table = its FIRST real row plus two ALL-NULL
    rows (every column NULL, keys included). Probes NULL keys and NULL
    values COEXISTING with real data through every join (NULL never
    equi-matches), group (NULL is its own group in both engines),
    kernel parse, and aggregate — the shape of a dirty 100 TB corpus,
    where a null-ridden shard rides next to clean data in the same
    scan. Both engines see identical rows, so any divergence is
    structural."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(tbl, path):
        nulls = pa.table(
            {f.name: pa.nulls(2, f.type) for f in tbl.schema},
            schema=tbl.schema,
        )
        pq.write_table(pa.concat_tables([tbl.slice(0, 1), nulls]), path)

    return _build_cached(NULLMIX, write)


NULLDUP = "/tmp/sf_nulldup"


def ensure_nulldup_dataset(spark: SparkSession) -> str:
    """Regime 5 (r11, the cross of the two r10/r11 shapes): every
    table = its FIRST real row, TWO MORE verbatim copies of it, and
    two ALL-NULL rows (keys included) — a re-ingested shard AND a
    null-ridden shard in the same scan. Probes the interactions the
    single-shape regimes can't reach: dedup fingerprints choosing
    among ties while NULL keys ride alongside, rank/CDF layouts under
    ties AND NULLS FIRST/LAST divergence simultaneously, keep-latest
    with equal timestamps next to NULL timestamps, grouped sketches
    folding duplicate items while skipping NULL items. Verbatim
    copies and fully-NULL rows keep every divergence structural, not
    an arbitrary-pick ambiguity."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(tbl, path):
        one = tbl.slice(0, 1)
        nulls = pa.table(
            {f.name: pa.nulls(2, f.type) for f in tbl.schema},
            schema=tbl.schema,
        )
        pq.write_table(pa.concat_tables([one, one, one, nulls]), path)

    return _build_cached(NULLDUP, write)


HOTKEY = "/tmp/sf_hotkey"

#: hotkey regime: which columns get the 99%-one-value rewrite, per
#: table. Primary/unique keys are deliberately NOT here — realistic
#: skew has unique row identities under a hot JOIN/GROUP key (one
#: customer, one supplier, one user, one near-duplicated document),
#: and keeping PKs unique keeps the K1 duplicate-key contracts out of
#: play so the sweep measures skew handling, not dupstorm again.
HOTKEY_COLS = {
    "customer": ["c_nationkey", "c_mktsegment"],
    "supplier": ["s_nationkey"],
    "part": ["p_brand", "p_type"],
    "orders": ["o_custkey", "o_orderpriority", "o_orderdate"],
    "lineitem": ["l_suppkey", "l_partkey"],
    "events": ["user_id", "event_type"],
    "documents": ["source", "lang", "text"],
    "embeddings": ["embedding", "label"],
}


def ensure_hotkey_dataset(spark: SparkSession) -> str:
    """Regime 6 (r12, VERDICT r11 #5): every table keeps ALL its base
    rows and unique ids, but each column in ``HOTKEY_COLS`` is
    rewritten so the FIRST row's value owns ~99% of the table (every
    100th row keeps its original value — a deterministic cold tail,
    so group-bys still have >1 group and joins still have cold
    partners). This is the one adversarial shape the other five
    regimes don't reach: REALISTIC skew. It presses AQE skew-join
    handling and the salted-join/bucket-cap paths (a 99%-hot
    o_custkey join partner, a 99%-one-text near-dup clique through
    MinHash/SimHash banding, a 99%-one-vector k-means mass point)
    while both engines still read identical bytes — so any divergence
    is structural, not data luck."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(tbl, path):
        t = os.path.basename(path).rsplit(".", 1)[0]
        for colname in HOTKEY_COLS.get(t, []):
            i = tbl.schema.get_field_index(colname)
            col = tbl.column(i)
            vals = col.to_pylist()
            if not vals:
                continue
            hot = vals[0]
            new = [v if j % 100 == 0 else hot for j, v in enumerate(vals)]
            tbl = tbl.set_column(
                i, tbl.schema.field(colname), pa.array(new, type=col.type)
            )
        pq.write_table(tbl, path)

    return _build_cached(HOTKEY, write)


def ensure_dupstorm_dataset(spark: SparkSession) -> str:
    """Regime 4 (VERDICT r10 #8): every table = its FIRST real row
    TRIPLED verbatim. Every key is a duplicate, every ordering a total
    tie, every timestamp identical — the regime that probes
    determinism contracts the first three can't reach: rank/interval
    behavior under total ties, keep-latest survivor selection with
    equal timestamps (must be deterministic, not partition-order
    luck), dedup cluster labeling, and the K1 sinks' intra-batch
    duplicate-key CARDINALITY contracts (the MERGE/PK refusal the
    poison-batch proofs pin). Both engines see identical rows, so any
    divergence is structural."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(tbl, path):
        one = tbl.slice(0, 1)
        pq.write_table(pa.concat_tables([one, one, one]), path)

    return _build_cached(DUPSTORM, write)


def main() -> int:
    args = list(sys.argv[1:])
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i:i + 2]
    regime = "empty"
    if "--regime" in args:
        i = args.index("--regime")
        regime = args[i + 1]
        if regime not in (
            "empty", "single", "nullmix", "dupstorm", "nulldup", "hotkey"
        ):
            raise SystemExit(
                f"unknown --regime {regime!r} "
                "(empty|single|nullmix|dupstorm|nulldup|hotkey)"
            )
        del args[i:i + 2]
    if "--rebuild" in args:
        global FORCE_REBUILD
        FORCE_REBUILD = True
        args.remove("--rebuild")
    only = set(args)

    from etl_rj_spark.analytics import REGISTRY  # noqa: E402

    names = [n for n in REGISTRY if not only or n in only]

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .appName("degenerate-sweep")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    build = {"empty": ensure_empty_dataset, "single": ensure_single_row_dataset,
             "nullmix": ensure_nullmix_dataset,
             "dupstorm": ensure_dupstorm_dataset,
             "nulldup": ensure_nulldup_dataset,
             "hotkey": ensure_hotkey_dataset}[regime]
    sf_dir = build(spark)
    refusals = dict(EXPECTED_REFUSAL)
    refusals.update(EXPECTED_REFUSAL_BY_REGIME.get(regime, {}))
    con = duck_connection(sf_dir)
    t0 = time.time()
    detail: dict[str, dict] = {}
    counts = {"ok": 0, "rows_only": 0, "refused_by_design": 0,
              "DIVERGES": 0, "ENGINE_ERR": 0, "ORACLE_ERR": 0}
    for n in names:
        q = REGISTRY[n]
        t1 = time.time()
        try:
            df = q.build(spark, sf_dir)
            if q.oracle is None:
                cnt = df.count()
                counts["rows_only"] += 1
                detail[n] = {"status": "rows_only", "rows": cnt}
            else:
                try:
                    rel = con.sql(q.oracle)
                    rel.fetchall()
                except Exception as oe:  # noqa: BLE001
                    counts["ORACLE_ERR"] += 1
                    detail[n] = {"status": "ORACLE_ERR", "err": str(oe)[:800]}
                else:
                    try:
                        compare_spark_duck(df, con, q.oracle)
                        counts["ok"] += 1
                        detail[n] = {"status": "ok"}
                    except AssertionError as ae:
                        counts["DIVERGES"] += 1
                        detail[n] = {"status": "DIVERGES", "err": str(ae)[:800]}
        except Exception as e:  # noqa: BLE001 — sweep must finish
            if n in refusals and refusals[n] in str(e):
                counts["refused_by_design"] += 1
                detail[n] = {"status": "refused_by_design", "err": str(e)[:200]}
            else:
                counts["ENGINE_ERR"] += 1
                detail[n] = {"status": "ENGINE_ERR", "err": str(e)[:800]}
        detail[n]["sec"] = round(time.time() - t1, 2)
    summary = dict(counts)
    summary.update({"regime": regime, "checked": len(names),
                    "wall_sec": round(time.time() - t0, 1)})
    if out_path:
        with open(out_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    for n, d in detail.items():
        if d["status"] not in ("ok", "rows_only", "refused_by_design"):
            print(f"{d['status']:<10} {n}: {d.get('err', '')[:200]}")
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
