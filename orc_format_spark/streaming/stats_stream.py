"""Streaming ingest analytics over the tokens stream.

The reference is a single-process batch writer; a continuously fed
encode service additionally needs ingest monitoring. Two Spark-native
operators:

- ``token_window_stats``: event-time windowed per-source doc/token
  counts with a late-data watermark — the standard Structured Streaming
  windowed aggregation (state bounded by the watermark; at 100 TB/day
  the state is (#windows x #sources), independent of row count).
- ``token_running_totals``: custom stateful operator via
  ``applyInPandasWithState`` — cumulative per-source totals maintained
  in keyed state and re-emitted every micro-batch (the shape used for
  quota-enforcement operators that windowing cannot express).

Both are pure plan builders: feed any streaming DataFrame with
(source string, n_tok int/long, event_time timestamp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..worker_env import limit_worker_threads

RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("total_docs", T.LongType()),
        T.StructField("total_tokens", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_docs", T.LongType()),
        T.StructField("total_tokens", T.LongType()),
    ]
)


def token_window_stats(
    stream_df: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
    ts_col: str = "event_time",
) -> DataFrame:
    """Per-(window, source) doc/token counts with a late-data watermark."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "source",
            "n_docs",
            "n_tokens",
        )
    )


def token_running_totals(stream_df: DataFrame) -> DataFrame:
    """Cumulative per-source totals via ``applyInPandasWithState``.

    Keyed state holds (total_docs, total_tokens); each micro-batch adds
    its rows and emits the updated totals for the touched keys. State is
    one tiny row per source — bounded regardless of stream volume.
    """

    def update(key, pdfs, state: GroupState):
        limit_worker_threads()
        import pandas as pd

        docs = 0
        toks = 0
        for pdf in pdfs:
            docs += len(pdf)
            toks += int(pdf["n_tok"].sum())
        if state.exists:
            prev_docs, prev_toks = state.get
        else:
            prev_docs, prev_toks = 0, 0
        state.update((prev_docs + docs, prev_toks + toks))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "total_docs": [prev_docs + docs],
                "total_tokens": [prev_toks + toks],
            }
        )

    return (
        stream_df.select("source", "n_tok")
        .groupBy("source")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
