"""Parallelism guards for row-amplifying operators.

Why this exists (measured, round 5)
-----------------------------------
The text/embedding operators all start from a *small-on-disk* input
(a few hundred KB of parquet = ONE scan partition) and then amplify it
hundreds of times with ``explode``/``sequence``/cross joins before any
shuffle. Two independent mechanisms then serialize the heavy stage:

1. A single-file scan yields one input partition, so the amplifying
   projection (e.g. 1.5M md5 k-grams at sf0.1) runs in ONE task —
   measured 4.5-5.5s single-threaded vs ~0.2s spread over 32 cores.
2. Even with a plain ``repartition(key)`` ahead of it, AQE's
   ``coalescePartitions`` sees only the tiny map-side shuffle bytes
   (600 KB of raw text < the 1 MB min partition size) and coalesces
   back to ONE partition — AQE is blind to generator amplification
   below the exchange.

The fix is a *pinned* hash repartition: ``repartition(n, key)`` with an
explicit partition count, which AQE leaves untouched (user-specified
numPartitions are not coalesced). Shuffling the raw rows (KB-MB) is
strictly cheaper than shuffling the exploded rows (100s of MB), and
when the downstream window/groupBy keys on the same column the
post-explode exchange is elided entirely — the explode, hash, sort,
window and partial aggregate all fuse into one stage that is already
correctly distributed.

At 100 TB the same guard is what you'd write by hand: key-partition the
documents once, cheaply, before fan-out, and let every downstream
per-document operator reuse that clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, *key_cols: str, num_partitions: int | None = None) -> DataFrame:
    """Pinned repartition ahead of a row-amplifying operator.

    ``key_cols`` should be the column(s) the downstream window/groupBy
    clusters on, so the explicit exchange *replaces* (not adds to) the
    one Catalyst would insert after the explode. With no keys, uses
    round-robin (for cross-join streamed sides with no natural key).

    ``num_partitions`` defaults to ``sparkContext.defaultParallelism``
    (total cores) — explicit so AQE cannot coalesce it to 1; see module
    docstring for why that happens and what it costs.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def spread_if_narrow(df: DataFrame, *key_cols,
                     num_partitions: int | None = None) -> DataFrame:
    """LAYOUT-ADAPTIVE :func:`spread` (round 18): repartition only when
    the input's physical partition count is below the target — the
    "repartition immediately after the read" fix for unsplittable
    inputs (a single-row-group parquet file yields ONE non-empty scan
    task no matter what ``maxPartitionBytes`` says), WITHOUT paying a
    permanent exchange at real scale, where a 100 TB table scan already
    splits into thousands of partitions and an unconditional
    repartition would shuffle the whole input for nothing.

    The decision reads the PLAN and never runs it. If the input's
    executed plan is an ``AdaptiveSparkPlanExec`` (AQE on and an
    exchange below), its partition count is not known until the
    exchanges run — AQE sizes them at run time and may coalesce them to
    ONE partition (module docstring, mechanism 2) — so the input is
    spread without asking. Asking via ``df.rdd.getNumPartitions()``
    would materialize every shuffle stage below the input at BUILD
    time, and the real run would then execute all of it again.
    Otherwise (a scan, or an AQE-off session) the count is driver-only
    arithmetic — file splits for a scan, the pinned partition count
    for a static exchange — and no job runs. Use for heavy per-row work
    directly over a scan (wide aggregates, Arrow codec stages); keep
    plain :func:`spread` for row-AMPLIFYING operators whose downstream
    keys match ``key_cols`` — there the pinned exchange *replaces* one
    Catalyst would insert anyway, so it is free even at scale.

    ``key_cols`` may be names or Column expressions. Prefer a
    deterministic high-cardinality KEY over the keyless round-robin
    form: a keyless ``repartition(n)`` first locally sorts its input
    (``spark.sql.execution.sortBeforeRepartition``, for retry
    determinism) — in the exact narrow-scan case this helper targets,
    that sort runs single-threaded *before* the spread can help. A
    derived key like ``F.xxhash64(id)`` additionally keeps a downstream
    ``groupBy(id, x)`` from treating the spread partitioning as already
    satisfying its clustering, when a separate exchange above the heavy
    stage is wanted (e.g. so two consumers can ReuseExchange it).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().executedPlan()
        adaptive = plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
        current = 0 if adaptive else df.rdd.getNumPartitions()
    except Exception:
        # exotic plans (e.g. streaming sources) can refuse planning or
        # RDD conversion here — fall back to the pinned repartition,
        # which is always correct, just not always free
        current = 0
    if current >= n:
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def md5_tag48(col):
    """48-bit integer draw from md5(col) — first 12 hex digits as
    decimal(38,0). The ONE implementation of the cross-engine
    determinism contract shared by order/membership multiset tags
    (queries.py) and weighted sampling (operators/sample.py): 12 hex
    chars = 2^48 < 2^53, so the value is exact in a double and in
    DuckDB's ``CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)`` replay.
    Changing the width or encoding here without updating every oracle
    twin breaks bit-parity — that is the point of having one copy."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("decimal(38,0)")
