"""Gateway-correlation features (``corr_extractor.py:118-206``).

Each gated conversation (≥ pkt_limit turns; its first pkt_limit turns in
canonical order) is scored against the global gateway stream. Both
sides are binned into tumbling 0.1 s bins by the reference's exact
float formula ``floor(ts·10)/10``. The gateway bins inside
``[min ts, max ts + 1.0]`` are full-outer aligned with the
conversation's own bins (missing → 0), both series are z-scored
(population std + 1e-9), and the nine statistics of their product are
emitted. A conversation whose gateway slice is empty gets all-zero
metrics (``corr_extractor.py:89-90``).

Plan. The gateway is aggregated once to sorted ``(bin, gw_len)`` arrays
and collected to the driver in one job behind the ``GATEWAY_BINS_MAX``
gate (``gateway_bins``). The arrays ship with the kernel: PySpark
broadcasts a pickled command past its 1 MB threshold. ``corr_batch``
then scores each conversation locally. Two ``searchsorted`` lookups cut
its slice out of the global array, its own ≤ pkt_limit bins are merged
in, and the metrics are exact numpy reductions, median included. Work
is O(slice) per conversation and no row fans out. The same kernel runs
inside the fused extraction pass (``plans.extract``) and standalone
here, behind ``gated_first_k``.

Past the gate (a year of 0.1 s bins is ~315M) ``corr_features`` falls
back to a JVM fan-out: a bucketed range join of each conversation's
span against the gateway bins, a full-outer align per (conv, bin), a
per-conversation mean/std window, and one groupBy with the nine
statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.names import CORR_NAMES
from proxyfeatureextraction_spark.operators.asof import interval_join
from proxyfeatureextraction_spark.operators.grouped import map_whole_groups
from proxyfeatureextraction_spark.operators.ordering import gated_first_k
from proxyfeatureextraction_spark.operators.windows import time_bucket

BIN_SIZE_SECONDS = 0.1
# most gateway bins collected and shipped with the kernel (the broadcast
# budget of functions.lm); past it corr_features takes the fan-out plan
GATEWAY_BINS_MAX = 4_000_000
EPS = 1e-9

CORR_FIELDS = [
    T.StructField("corr_count", T.IntegerType()),
    *[T.StructField(c, T.DoubleType()) for c in CORR_NAMES[1:]],
]


def _binned_gateway(gateway: DataFrame, bin_size: float) -> DataFrame:
    """(_bin, gw_len) per gateway bin; rows with a NULL time or length
    are dropped, as the reference drops them."""
    return (
        gateway.select(
            time_bucket(S.TS_SEC, bin_size).alias("_bin"),
            F.col(S.N_CHARS).cast("double").alias("_len"),
        )
        .dropna()
        .groupBy("_bin")
        .agg(F.sum("_len").alias("gw_len"))
    )


def gateway_bins(
    gateway: DataFrame, bin_size: float = BIN_SIZE_SECONDS
) -> tuple[np.ndarray, np.ndarray] | None:
    """The gateway's bins and summed lengths as sorted arrays, or
    ``None`` when there are more than ``GATEWAY_BINS_MAX`` of them.
    One eager job: a ``limit(GATEWAY_BINS_MAX + 1)`` collect."""
    pdf = _binned_gateway(gateway, bin_size).limit(GATEWAY_BINS_MAX + 1).toPandas()
    if len(pdf) > GATEWAY_BINS_MAX:
        return None
    bins = pdf["_bin"].to_numpy(dtype=float)
    order = np.argsort(bins)
    return bins[order], pdf["gw_len"].to_numpy(dtype=float)[order]


def _zscore(v: np.ndarray) -> np.ndarray:
    return (v - v.mean()) / (v.std() + EPS)


def corr_batch(
    pdf: pd.DataFrame,
    bins: np.ndarray,
    lens: np.ndarray,
    bin_size: float = BIN_SIZE_SECONDS,
) -> pd.DataFrame:
    """conv_id + the nine corr metrics per conversation of ``pdf``.

    ``pdf`` holds the gated first-K rows (conv_id, ts_sec, n_chars) of
    whole conversations, each one's rows contiguous; ``bins``/``lens``
    come from ``gateway_bins``.
    """
    conv = pdf[S.CONV].to_numpy()
    ts = pdf[S.TS_SEC].to_numpy(dtype=float)
    n = pdf[S.N_CHARS].to_numpy(dtype=float)
    starts = np.flatnonzero(conv[1:] != conv[:-1]) + 1
    starts = np.r_[0, starts] if len(conv) else starts
    ends = np.r_[starts[1:], len(conv)]
    factor = 1.0 / bin_size
    own_bin = np.floor(ts * factor) / factor
    # fmin/fmax skip a NULL time, as Spark's min/max do
    lo = np.searchsorted(bins, np.fmin.reduceat(ts, starts), "left")
    hi = np.searchsorted(bins, np.fmax.reduceat(ts, starts) + 1.0, "right")
    out = np.zeros((len(starts), len(CORR_NAMES)))
    for i, (s, e) in enumerate(zip(starts, ends)):
        if lo[i] == hi[i]:
            continue  # empty gateway slice → all-zero metrics
        g_bin = bins[lo[i] : hi[i]]
        o_bin, inv = np.unique(own_bin[s:e], return_inverse=True)
        o_len = np.bincount(inv, weights=n[s:e])
        pos = np.minimum(np.searchsorted(g_bin, o_bin), len(g_bin) - 1)
        hit = g_bin[pos] == o_bin
        rl = np.zeros(len(g_bin))
        rl[pos[hit]] = o_len[hit]
        # own bins outside the slice or absent from the gateway align with 0
        g = np.concatenate((lens[lo[i] : hi[i]], np.zeros(int((~hit).sum()))))
        r = np.concatenate((rl, o_len[~hit]))
        z = _zscore(g) * _zscore(r)
        mn, mx = z.min(), z.max()
        out[i] = (z.size, z.sum(), z.mean(), np.median(z), mn, mx, mx - mn, z.var(), z.std())
    res = pd.DataFrame(out, columns=CORR_NAMES)
    res["corr_count"] = res["corr_count"].astype("int32")
    res.insert(0, S.CONV, conv[starts])
    return res


def corr_features(
    derived: DataFrame,
    gateway: DataFrame,
    pkt_limit: int = 20,
    bin_size: float = BIN_SIZE_SECONDS,
    range_bucket_seconds: float = 60.0,
) -> DataFrame:
    """``gateway``: un-keyed stream with (ts_sec, n_chars). Builds the
    plan after one eager gateway-bin collect (``gateway_bins``)."""
    binned = gateway_bins(gateway, bin_size)
    if binned is None:
        return corr_fanout(derived, gateway, pkt_limit, bin_size, range_bucket_seconds)
    bins, lens = binned
    sliced = gated_first_k(derived, pkt_limit).select(S.CONV, S.TS_SEC, S.N_CHARS)
    schema = T.StructType([T.StructField(S.CONV, T.StringType()), *CORR_FIELDS])
    # gated_first_k's window leaves each conversation's rows contiguous
    return map_whole_groups(
        sliced, lambda pdf: corr_batch(pdf, bins, lens, bin_size), schema, pre_ordered=True
    )


def corr_fanout(
    derived: DataFrame,
    gateway: DataFrame,
    pkt_limit: int = 20,
    bin_size: float = BIN_SIZE_SECONDS,
    range_bucket_seconds: float = 60.0,
) -> DataFrame:
    """The JVM plan for gateways past ``GATEWAY_BINS_MAX``: every
    (conversation, gateway bin) pair in the span becomes a row."""
    sliced = gated_first_k(derived, pkt_limit).select(S.CONV, S.TS_SEC, S.N_CHARS)
    sliced = sliced.withColumn("_bin", time_bucket(S.TS_SEC, bin_size))
    gw_bins = _binned_gateway(gateway, bin_size)
    # one pre-aggregate (≤ pkt_limit rows per conversation) feeds both
    # the bin table and the span table; localCheckpoint breaks the
    # recompute diamond and, unlike persist, is released by the
    # ContextCleaner once the DataFrame is unreferenced
    conn_pre = (
        sliced.groupBy(S.CONV, "_bin")
        .agg(
            F.sum(F.col(S.N_CHARS).cast("double")).alias("rl_len"),
            F.min(S.TS_SEC).alias("_bmin"),
            F.max(S.TS_SEC).alias("_bmax"),
        )
        .localCheckpoint(eager=False)
    )
    conn_bins = conn_pre.select(S.CONV, "_bin", "rl_len")
    spans = conn_pre.groupBy(S.CONV).agg(
        F.min("_bmin").alias("_tmin"),
        (F.max("_bmax") + F.lit(1.0)).alias("_tmax1"),
    )

    # gateway bins falling inside [tmin, tmax + 1.0] per conversation
    slice_rows = interval_join(
        spans,
        gw_bins.withColumnRenamed("_bin", "_gbin"),
        point_ts="_gbin",
        span_start="_tmin",
        span_end="_tmax1",
        bucket_seconds=range_bucket_seconds,
    ).select(S.CONV, F.col("_gbin").alias("_bin"), "gw_len")

    merged = (
        slice_rows.join(conn_bins, [S.CONV, "_bin"], "full_outer")
        .withColumn("_has_gw", F.col("gw_len").isNotNull())
        .withColumn("gw_len", F.coalesce("gw_len", F.lit(0.0)))
        .withColumn("rl_len", F.coalesce("rl_len", F.lit(0.0)))
    )

    wc = Window.partitionBy(S.CONV)
    eps = F.lit(EPS)
    z = (
        (F.col("gw_len") - F.avg("gw_len").over(wc)) / (F.stddev_pop("gw_len").over(wc) + eps)
    ) * (
        (F.col("rl_len") - F.avg("rl_len").over(wc)) / (F.stddev_pop("rl_len").over(wc) + eps)
    )
    stats = (
        merged.withColumn("_z", z)
        .groupBy(S.CONV)
        .agg(
            F.count("_z").cast("int").alias("corr_count"),
            F.sum("_z").alias("corr_sum"),
            F.avg("_z").alias("corr_mean"),
            F.expr("percentile(_z, 0.5)").alias("corr_median"),
            F.min("_z").alias("corr_minimum"),
            F.max("_z").alias("corr_maximum"),
            (F.max("_z") - F.min("_z")).alias("corr_range"),
            F.var_pop("_z").alias("corr_variance"),
            F.stddev_pop("_z").alias("corr_std_dev"),
            F.max(F.col("_has_gw").cast("int")).alias("_cov"),
        )
    )

    # every gated conversation reaches `stats` through the conn side of
    # the full-outer join, so coverage is the aggregated _has_gw flag
    covered = F.col("_cov") == 1
    return stats.select(
        S.CONV,
        F.when(covered, F.col("corr_count")).otherwise(F.lit(0)).alias("corr_count"),
        *[
            F.when(covered, F.col(c)).otherwise(F.lit(0.0)).alias(c)
            for c in CORR_NAMES[1:]
        ],
    )
