"""Streaming cross-batch deduplication (the dedup-ledger operator).

A continuously fed training-data pipeline must admit each document
fingerprint exactly once across the whole stream history — windowed
aggregation cannot express "seen in ANY earlier micro-batch", so this is
a custom stateful operator over ``applyInPandasWithState``:

- keyed state: one tiny row per distinct fingerprint (the admitted
  doc key, for observability). At 100 TB the state size is bounded by
  distinct-fingerprint count, not stream volume; the optional ``ttl``
  expires fingerprints idle longer than the window (the practical knob
  when the ledger must not grow forever — admit-at-most-once within
  the TTL horizon).
- per batch: all rows of a fingerprint arrive grouped; if the
  fingerprint is already in state nothing is emitted, else the row
  with the smallest key is admitted and the state marked. Emission is
  therefore deterministic given the micro-batch sequence (first batch
  wins, min-key tie-break inside that batch).

The shuffle is the groupBy on the fingerprint — the same single
hash-exchange the batch ``dedup_keep_first`` pays — and the pandas
work per group is O(rows in batch), vectorized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..worker_env import limit_worker_threads

_STATE_SCHEMA = T.StructType([T.StructField("admitted_key", T.StringType())])


def stream_dedup(
    stream_df: DataFrame,
    fingerprint_col: str = "fingerprint",
    key_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
    ttl_ms: int | None = None,
) -> DataFrame:
    """First-arrival dedup across micro-batches.

    Emits, for each distinct ``fingerprint_col`` value, exactly one row
    — from the first micro-batch in which the fingerprint appears, the
    row with the minimum ``key_col`` (string order) — and suppresses
    every later occurrence. Output columns: (key_col, fingerprint_col,
    *carry_cols).

    ``ttl_ms`` switches on a processing-time timeout that forgets a
    fingerprint after the given idle period (bounds state for unbounded
    streams; a re-arrival after expiry is admitted again). Use it only
    with continuous triggers: under ``availableNow`` the pending
    timeouts keep scheduling no-data batches after the backlog drains,
    so the query does not terminate on its own.
    """
    in_fields = {f.name: f for f in stream_df.schema.fields}
    for c in (key_col, fingerprint_col, *carry_cols):
        if c not in in_fields:
            raise ValueError(f"stream_dedup: column {c!r} not in stream schema")
    out_schema = T.StructType(
        [in_fields[c] for c in (key_col, fingerprint_col, *carry_cols)]
    )
    out_cols = [key_col, fingerprint_col, *carry_cols]

    def update(key, pdfs, state: GroupState):
        limit_worker_threads()
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            row = pdf.loc[[pdf[key_col].astype(str).idxmin()]]
            if best is None or str(row.iloc[0][key_col]) < str(
                best.iloc[0][key_col]
            ):
                best = row
        if best is None:
            return
        state.update((str(best.iloc[0][key_col]),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(best[out_cols])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream_df.select(*out_cols)
        .groupBy(fingerprint_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
