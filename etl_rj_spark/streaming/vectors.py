"""Streaming maintenance of the persisted IVF embedding index.

Completes the index-maintenance family: the minhash near-dup index
(text_dedup.persist_minhash_index) and the IVF ANN index
(kmeans.persist_ivf_index) are both written once at their scale
layouts; this module keeps the IVF index CURRENT from a stream of new
vectors. Each micro-batch routes through
:func:`kmeans.append_ivf_index`, which is redelivery-idempotent by
construction (K1-style anti-join on existing ids, restricted to the
batch's touched cell partitions with the id column pruned) — so the
fold needs no ledger: a crash between insert and checkpoint commit
redelivers the batch and the anti-join inserts nothing twice, the
same argument as the engine's JDBC K1 sink.

Centroids stay fixed while streaming (an index's cells are its
physical layout; drift is handled by periodic re-layout, never by
mutating the layout under readers) — so every micro-batch assigns
against the SAME broadcast centroids and the final table is
independent of how the stream was micro-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from etl_rj_spark.operators.kmeans import append_ivf_index
from etl_rj_spark.streaming.fsutil import _drain


def stream_ivf_index(
    vectors_stream: DataFrame,
    table_prefix: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Drain available input (Trigger.AvailableNow), appending each
    micro-batch of new vectors into the persisted cell-partitioned
    index at ``table_prefix`` (built by ``kmeans.persist_ivf_index``).
    Idempotent under redelivery via ``append_ivf_index``'s anti-join;
    family-guarded via the index's ``_meta`` table."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        append_ivf_index(batch_df, table_prefix, id_col, vec_col)

    return _drain(vectors_stream, checkpoint, fold)
