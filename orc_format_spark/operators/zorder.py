"""Z-order (Morton) multi-column clustering for blob-file pruning.

The datasource's commit manifest carries per-file [min,max] column stats
and ``DataSourceReader.partitions()`` drops whole files at planning time
(sources/datasource.py — the ORC file-stats analogue). Range clustering
on ONE column makes that pruning sharp for that column only; a filter on
any other column still opens every file. Z-ordering interleaves the bits
of several columns' rank buckets into one Morton code so that a
range-partitioned write narrows EVERY participating column's per-file
min/max at once — the Delta Lake ``OPTIMIZE ZORDER BY`` idea, built here
from public first principles (Morton 1966 interleave; quantile-rank
bucketing to make the curve skew-robust).

Scale shape (the 100 TB story):
- boundary computation is one distributed ``approxQuantile`` sketch
  (driver receives ``cols × (2^bits - 1)`` doubles: ~32 KB/col at the
  default bits=12, ~512 KB/col at the bits=16 cap — always metadata
  scale; 8-12 bits is ample for any realistic file count);
- bucket lookup + bit interleave run map-side in one ``mapInArrow`` pass
  (``np.searchsorted`` + vectorized bit spread, no Python per row);
- the only shuffle is the caller's final ``repartitionByRange`` on the
  z-key — exactly the shuffle any clustered write already pays.

Reference parity: the reference has no clustering or pruning at all
(single-file writer, src/writer.rs); this extends the repo's own
file/blob/chunk three-level pruning surface (SURVEY.md §2.6).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..worker_env import limit_worker_threads

MAX_BITS = 16  # per-column; bits*cols must stay <= 63 (signed LongType z)

# arrow timestamp unit -> divisor to epoch SECONDS, matching Spark's
# cast(timestamp as double) that zorder_boundaries uses — the kernel
# must bucket in the same units the cut points were computed in
_TS_DIVISOR = {"s": 1.0, "ms": 1e3, "us": 1e6, "ns": 1e9}


def _check_zorder_types(df: DataFrame, cols: Sequence[str]) -> None:
    """Numeric and timestamp columns only, loudly. Dates/strings/etc.
    would either fail Spark's cast or bucket under a different value
    representation than the kernel sees — silent layout corruption."""
    kinds = dict(df.select(*cols).dtypes)
    ok = {"tinyint", "smallint", "int", "bigint", "float", "double", "timestamp"}
    for c in cols:
        base = kinds[c].split("(")[0]
        if base not in ok and not base.startswith("decimal"):
            raise ValueError(
                f"zorder: column {c!r} has type {kinds[c]} — only numeric "
                "and timestamp columns have a defined z-curve position"
            )


def zorder_boundaries(
    df: DataFrame, cols: Sequence[str], bits: int = 12, rel_err: float = 1e-4
) -> dict[str, list[float]]:
    """Per-column quantile bucket boundaries (2^bits - 1 cut points).

    One pass of Spark's distributed Greenwald-Khanna sketch; the driver
    holds only the cut points. Quantile (rank) bucketing, not min/max
    equi-width: a skewed column would otherwise collapse most rows into
    a handful of buckets and the curve would degenerate to the remaining
    columns' order.
    """
    if not 1 <= bits <= MAX_BITS:
        raise ValueError(f"bits must be in [1, {MAX_BITS}], got {bits}")
    _check_zorder_types(df, cols)
    probs = [i / (1 << bits) for i in range(1, (1 << bits))]
    casted = df.select(*[df[c].cast("double").alias(c) for c in cols])
    qs = casted.approxQuantile(list(cols), probs, rel_err)
    return {c: q for c, q in zip(cols, qs)}


def _interleave(bucketed: list[np.ndarray], bits: int) -> np.ndarray:
    """Morton-interleave k uint64 bucket arrays, bit i of column j landing
    at position i*k + j. Vectorized: bits x k shift-or passes."""
    k = len(bucketed)
    z = np.zeros(len(bucketed[0]), np.uint64)
    for i in range(bits):
        for j, col in enumerate(bucketed):
            z |= ((col >> np.uint64(i)) & np.uint64(1)) << np.uint64(i * k + j)
    return z


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 12,
    boundaries: dict[str, list[float]] | None = None,
    out_col: str = "z",
) -> DataFrame:
    """Append a Morton z-key column over ``cols``.

    Typical use::

        z = with_zorder_key(df, ["a", "b"])
        z.repartitionByRange(n, "z").sortWithinPartitions("z") \\
         .drop("z").write.format("orc_format").save(path)

    ``boundaries`` accepts precomputed cut points (e.g. reused across
    incremental writes so new files land on the same curve); otherwise
    one ``approxQuantile`` pass computes them. NULLs raise: a z-curve
    position for NULL is undefined — filter or fill first (the same loud
    contract as pack_sequences)."""
    cols = list(cols)
    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder takes 2-4 columns")
    if bits * len(cols) > 63:
        # bit 63 would flip the sign of the int64 z-key and signed range
        # partitioning would join the curve's two ends in one file
        raise ValueError(
            f"bits*cols = {bits * len(cols)} exceeds the 63 usable bits "
            "of a signed 64-bit z-key"
        )
    _check_zorder_types(df, cols)
    if boundaries is None:
        boundaries = zorder_boundaries(df, cols, bits)
    else:
        want = (1 << bits) - 1
        for c in cols:
            if len(boundaries[c]) != want:
                raise ValueError(
                    f"zorder: boundaries[{c!r}] has {len(boundaries[c])} cut "
                    f"points but bits={bits} needs exactly {want} — a "
                    "mismatch silently truncates bucket bits; pass the bits "
                    "the boundaries were computed with"
                )
    bcuts = {c: np.asarray(b, np.float64) for c, b in boundaries.items()}

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(df.schema.fields + [StructField(out_col, LongType())])

    def fn(it):
        limit_worker_threads()
        for batch in it:
            arrs = []
            for c in cols:
                a = batch.column(c)
                if a.null_count:
                    raise ValueError(
                        f"zorder: NULL in column {c!r} — a z-curve position "
                        "for NULL is undefined; filter or fill first"
                    )
                if pa.types.is_timestamp(a.type):
                    # boundaries were computed from Spark's
                    # cast(timestamp as double) = epoch SECONDS; the raw
                    # arrow payload is epoch ticks in the column's unit
                    v = a.cast(pa.int64()).to_numpy(zero_copy_only=False)
                    v = v.astype(np.float64) / _TS_DIVISOR[a.type.unit]
                else:
                    v = a.to_numpy(zero_copy_only=False).astype(np.float64)
                    if np.isnan(v).any():
                        raise ValueError(
                            f"zorder: NaN in column {c!r} — NaN has no "
                            "z-curve position (it would silently collapse "
                            "into the top bucket); filter or fill first"
                        )
                arrs.append(np.searchsorted(bcuts[c], v, side="right").astype(np.uint64))
            z = _interleave(arrs, bits).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [pa.array(z, pa.int64())],
                names=list(batch.schema.names) + [out_col],
            )

    return df.mapInArrow(fn, out_schema)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    num_files: int = 16,
    bits: int = 12,
    mode: str = "overwrite",
    boundaries: dict[str, list[float]] | None = None,
) -> None:
    """Z-order-clustered write to the blob datasource: one range shuffle
    on the z-key, z dropped before encode (it is derivable metadata, not
    data). Each output file then covers a tight hyper-rectangle in every
    participating column, so the manifest's per-file [min,max] prunes
    filtered reads on ANY of them at planning time.

    For incremental appends, compute ``zorder_boundaries`` once and pass
    the same ``boundaries`` to every write so new files land on the same
    curve (validated against ``bits``)."""
    z = with_zorder_key(df, cols, bits=bits, boundaries=boundaries)
    (
        z.repartitionByRange(num_files, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.format("orc_format")
        .mode(mode)
        .save(path)
    )
