"""In-flight data-quality observation — metrics without an extra pass.

The reference reports per-task progress states out of band
(task_executor.py:38-61); its jobs cannot compute dataset metrics without
a second full job. Spark's ``Observation`` API attaches metric
expressions to a plan node: they are accumulated DURING the action that
consumes the DataFrame — row counts, null rates, and domain violations
cost zero additional scans, which is the only acceptable price at 100 TB.

Typical use::

    gated, obs = observe_scan_quality(df, null_cols=["o_custkey"],
                                      nonneg_cols=["o_totalprice"])
    gated.write.parquet(...)          # one action
    metrics = obs.get                  # filled by that same action
    assert metrics["null_o_custkey"] == 0

Iterative queries read their loop-control values the same way:
:func:`checkpoint` observes the frame its checkpoint job materializes,
so a frontier's row count or an edge set's checksum needs no job of its
own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F


def observe_scan_quality(
    df: DataFrame,
    null_cols: list[str] | None = None,
    nonneg_cols: list[str] | None = None,
    name: str = "scan_quality",
) -> tuple[DataFrame, Observation]:
    """Attach a quality observation to ``df``.

    Metrics: ``n_rows``, ``null_<col>`` (null count) for each of
    ``null_cols``, and ``neg_<col>`` (negative-value count) for each of
    ``nonneg_cols``. Returns the observed DataFrame (use it in place of
    ``df``) and the ``Observation`` whose ``.get`` is populated by the
    first action on that DataFrame.
    """
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols or []:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
    for c in nonneg_cols or []:
        metrics.append(F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).alias(f"neg_{c}"))
    return df.observe(obs, *metrics), obs


def checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint(eager=True)`` plus ``metrics`` observed by that
    same checkpoint job; with no metrics, the row count as ``n``.

    Returns the checkpointed frame and the metric values by alias. An
    empty frame (AQE may coalesce it to 0 partitions) reads ``n`` = 0.
    """
    obs = Observation()
    out = df.observe(obs, *(metrics or (F.count(F.lit(1)).alias("n"),)))
    return out.localCheckpoint(eager=True), obs.get
