"""Deterministic salted grouping — the engine's skew defusal.

North-rule requirement: "salted repartitioning on n_tok to defuse
long-sequence skew". The reference is single-threaded and has no notion of
skew (SURVEY.md section 4.2); at 10^12-sequence scale a token-count-skewed
hash partitioning straggles, so:

- groups are *deterministic* (a pure function of doc_id/size, never of
  physical partition layout), which is what makes checkpointed resume and
  stable checksums possible;
- heavy rows (size above a quantile threshold) are salted across a
  dedicated slice of groups so a burst of long sequences cannot land in
  one group;
- the number of groups scales with total payload (target bytes/tokens per
  group), the Spark analog of the reference's 64 MiB stripe cut
  (writer.rs:84-90).

At cluster scale the groupBy this feeds is one shuffle; AQE handles
residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_TOKENS_PER_GROUP = 4_000_000  # ~16 MiB of int32 tokens per group


def md5_hash60(col: Column, seed: int | None = None) -> Column:
    """60-bit non-negative integer hash that DuckDB reproduces exactly:
    the first 15 hex chars of md5(value [|| '#' || seed]) read base-16.
    DuckDB twin: CAST('0x' || substr(md5(x [|| '#seed']), 1, 15) AS BIGINT).
    """
    x = F.concat(col, F.lit(f"#{seed}")) if seed is not None else col
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str, seed: int | None = None) -> str:
    x = f"{expr} || '#{seed}'" if seed is not None else expr
    return f"CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def plan_num_groups(total_size: int, per_group: int = DEFAULT_TOKENS_PER_GROUP) -> int:
    return max(1, (int(total_size) + per_group - 1) // per_group)


def heavy_threshold_estimate(
    df: DataFrame,
    size_col: str,
    key_col: str,
    heavy_quantile: float = 0.99,
    sample_mod: int = 128,
) -> float:
    """Estimate the heavy-row size threshold from a *deterministic* hash
    sample (rows where xxhash64(key) % sample_mod == 0).

    Determinism matters twice: (a) group membership must be a pure
    function of the data for checkpointed resume / stable checksums
    (``df.sample`` depends on physical partition layout); (b) at 100 TB
    the estimate touches ~1/sample_mod of a two-column pruned scan
    instead of a full-table approxQuantile pass. Callers with a stats
    pass already in hand should pass ``heavy_threshold`` directly to
    ``with_group_id`` and skip this scan entirely.

    A degenerate sample (no rows in the 1/sample_mod hash slice) widens
    geometrically — each retry halves ``sample_mod``, with a
    RuntimeWarning per widening — rather than silently jumping to a
    full-table quantile pass; the full scan happens only at
    ``sample_mod == 1`` after log2 explicit widenings, and an input with
    no rows raises ValueError instead of IndexError.
    """
    import warnings

    two_col = df.select(size_col, key_col)
    mod = max(1, int(sample_mod))
    while True:
        sampled = (
            two_col.filter(
                F.pmod(F.xxhash64(F.col(key_col), F.lit(97)), F.lit(mod)) == 0
            )
            if mod > 1
            else two_col
        )
        vals = sampled.approxQuantile(size_col, [heavy_quantile], 0.001)
        if vals and vals[0] is not None:
            return vals[0]
        if mod == 1:
            raise ValueError(
                f"heavy_threshold_estimate: no non-null '{size_col}' values "
                "in the input (empty DataFrame?)"
            )
        warnings.warn(
            f"heavy_threshold_estimate: degenerate 1/{mod} hash sample; "
            f"widening to 1/{mod // 2}",
            RuntimeWarning,
            stacklevel=2,
        )
        mod //= 2


def with_group_id(
    df: DataFrame,
    num_groups: int,
    key_col: str = "doc_id",
    size_col: str | None = "n_tok",
    heavy_quantile: float = 0.99,
    salt: int = 0,
    heavy_threshold: float | None = None,
) -> DataFrame:
    """Add a deterministic ``group_id`` column in [0, num_groups).

    Light rows hash into the first ~7/8 of groups; rows with
    ``size_col`` above the ``heavy_quantile`` threshold are salted across
    a dedicated tail slice so long sequences spread evenly. Pass
    ``heavy_threshold`` (e.g. from a prior stats pass) to skip the
    deterministic-sample estimation scan.
    """
    h = F.abs(F.xxhash64(F.col(key_col), F.lit(salt)))
    if size_col is None or num_groups < 8 or size_col not in df.columns:
        return df.withColumn("group_id", (h % num_groups).cast("long"))
    thr = (
        heavy_threshold
        if heavy_threshold is not None
        else heavy_threshold_estimate(df, size_col, key_col, heavy_quantile)
    )
    n_heavy = max(1, num_groups // 8)
    n_light = num_groups - n_heavy
    gid = F.when(
        F.col(size_col) >= F.lit(thr), F.lit(n_light) + (h % n_heavy)
    ).otherwise(h % n_light)
    return df.withColumn("group_id", gid.cast("long"))

