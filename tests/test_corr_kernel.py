"""Gateway correlation: the per-conversation kernel over broadcast
gateway bins, and the fan-out plan it falls back to past the bin gate,
against the pandas oracle (tests/oracle/ref_corr.py).

The edge fixture scores conversations against a gateway that is NOT the
conversation table: a shifted, sparse copy with a few hand-placed rows,
so conversation bins are missing from it, one slice is empty, one
conversation's first bin falls before its first turn, and one starts on
the 4.3 s bucket edge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features import corr
from proxyfeatureextraction_spark.features.corr import corr_batch, corr_features
from proxyfeatureextraction_spark.features.names import CORR_NAMES
from proxyfeatureextraction_spark.plans.extract import extract_features
from proxyfeatureextraction_spark.schema import with_derived
from tests.oracle.packet_view import to_packet_view
from tests.oracle.ref_corr import corr_by_conn

ATOL = 1e-9

# conv → first ts_sec, step, turns. "d" starts the folder at 0 s and is
# below the 20-turn gate; "c" lies where the gateway has no rows.
EDGE_CONVS = {
    "a": (4.3, 0.25, 22),   # first turn on the 4.3 s bucket edge
    "b": (7.25, 0.3, 20),   # first bin 7.2 < 7.25: outside its own slice
    "c": (100.0, 0.05, 20),  # empty gateway slice → all zeros
    "d": (0.0, 1.0, 5),     # ungated
    "e": (2.0, 0.17, 30),   # only its first 20 turns count
}
# hand-placed gateway rows: a 7.2 bin for "b", and NULL rows that the
# reference drops
EXTRA_GATEWAY = [(7.2, 40), (7.21, 3), (None, 9), (3.0, None)]


def _edge_transcripts() -> pd.DataFrame:
    rows = []
    for conv, (t0, step, n) in EDGE_CONVS.items():
        for k in range(n):
            us = round((t0 + step * k) * 1e6)
            role = "user" if k % 2 == 0 else "assistant"
            rows.append(("f0", "proxy", conv, k, role, "x" * (3 + (7 * k) % 11), None, us))
    pdf = pd.DataFrame(rows, columns=[S.FOLDER, S.SOURCE, S.CONV, S.TURN, S.ROLE, S.TEXT, S.TOOL, "_us"])
    pdf[S.TS] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf.pop("_us"), unit="us")
    return pdf


@pytest.fixture(scope="module")
def edge(spark):
    pdf = _edge_transcripts()
    derived = with_derived(spark.createDataFrame(pdf, schema=S.TRANSCRIPT_SCHEMA)).cache()
    conv_pdf = derived.select(S.CONV, S.TS_SEC, S.N_CHARS).toPandas()
    # shifted by 0.35 s, every third turn, nothing past 50 s
    gw = conv_pdf.iloc[::3]
    gw = gw[gw[S.TS_SEC] < 50.0]
    gw_rows = [(float(t) + 0.35, int(n)) for t, n in zip(gw[S.TS_SEC], gw[S.N_CHARS])]
    gw_rows += EXTRA_GATEWAY
    gw_schema = T.StructType(
        [T.StructField(S.TS_SEC, T.DoubleType()), T.StructField(S.N_CHARS, T.IntegerType())]
    )
    gateway = spark.createDataFrame(gw_rows, schema=gw_schema)
    oracle = corr_by_conn(
        conv_pdf.rename(columns={S.CONV: "conn", S.TS_SEC: "ts_relative", S.N_CHARS: "pkt_len"}),
        pd.DataFrame(gw_rows, columns=["ts_relative", "pkt_len"], dtype=float),
        pkt_limit=20,
    ).rename(columns={"conn": S.CONV}).set_index(S.CONV).sort_index()
    return derived, gateway, conv_pdf, gw_rows, oracle


def _frame(df) -> pd.DataFrame:
    return df.toPandas().set_index(S.CONV).sort_index()


def _assert_matches(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.index) == list(want.index)
    for c in CORR_NAMES:
        np.testing.assert_allclose(
            got[c].to_numpy(dtype=float), want[c].to_numpy(dtype=float), atol=ATOL, err_msg=c
        )


def _fanout_in_plan(df) -> bool:
    return "FullOuter" in df._jdf.queryExecution().optimizedPlan().toString()


def test_edge_fixture_has_its_cases(edge):
    _, _, conv_pdf, gw_rows, oracle = edge
    gw_bins = {np.floor(t * 10.0) / 10.0 for t, n in gw_rows if t is not None and n is not None}
    own = conv_pdf.groupby(S.CONV)[S.TS_SEC]
    tmin = own.min()
    assert tmin["a"] == 4.3 and np.floor(4.3 * 10.0) / 10.0 == 4.3
    assert np.floor(tmin["b"] * 10.0) / 10.0 < tmin["b"] and 7.2 in gw_bins
    assert set(oracle.index) == {"a", "b", "c", "e"}
    assert (oracle.loc["c"] == 0).all() and (oracle.drop("c")["corr_count"] > 0).all()
    own_bins = set(np.floor(conv_pdf[S.TS_SEC] * 10.0) / 10.0)
    assert own_bins - gw_bins, "every conversation bin is in the gateway"


@pytest.mark.parametrize("cap", [None, 0], ids=["kernel", "fanout"])
def test_corr_features_edge_cases(edge, monkeypatch, cap):
    derived, gateway, _, _, oracle = edge
    if cap is not None:
        monkeypatch.setattr(corr, "GATEWAY_BINS_MAX", cap)
    df = corr_features(derived, gateway)
    assert _fanout_in_plan(df) == (cap == 0)
    assert df.schema["corr_count"].dataType == T.IntegerType()
    _assert_matches(_frame(df), oracle)


@pytest.mark.parametrize("cap", [None, 0], ids=["kernel", "fanout"])
def test_extract_features_edge_cases(edge, monkeypatch, cap):
    derived, gateway, _, _, oracle = edge
    if cap is not None:
        monkeypatch.setattr(corr, "GATEWAY_BINS_MAX", cap)
    df = extract_features(derived, gateway)
    assert df.schema["corr_count"].dataType == T.IntegerType()
    assert df.columns[-len(CORR_NAMES):] == CORR_NAMES
    got = _frame(df)
    _assert_matches(got.loc[oracle.index], oracle)
    assert got.loc["d", CORR_NAMES].isna().all()  # ungated → NULL


def test_results_independent_of_shuffle_partitions(spark, edge):
    """Every extract_features column, and corr_features, are the same at
    1 and 8 shuffle partitions and with 7-record Arrow batches, which
    split conversations across batches of the pre-ordered fused kernel
    (the carry branch of map_whole_groups)."""
    derived, gateway, _, _, _ = edge
    parts, batch = "spark.sql.shuffle.partitions", "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = {key: spark.conf.get(key) for key in (parts, batch)}
    runs = {"parts1": {parts: "1"}, "parts8": {parts: "8"}, "batch7": {batch: "7"}}
    out = {}
    try:
        for label, conf in runs.items():
            for key, value in conf.items():
                spark.conf.set(key, value)
            out[label] = (
                _frame(corr_features(derived, gateway)),
                _frame(extract_features(derived, gateway)),
            )
    finally:
        for key, value in before.items():
            spark.conf.set(key, value)
    for label in ("parts8", "batch7"):
        for a, b in zip(out["parts1"], out[label]):
            pd.testing.assert_frame_equal(a, b)


def test_forced_fallback_matches_oracle(spark, transcripts_df, transcripts_pdf, monkeypatch):
    monkeypatch.setattr(corr, "GATEWAY_BINS_MAX", 0)
    derived = with_derived(transcripts_df)
    gateway = derived.select(S.TS_SEC, S.N_CHARS)
    packets = to_packet_view(transcripts_pdf)
    want = (
        corr_by_conn(packets, packets[["ts_relative", "pkt_len"]].copy(), pkt_limit=20)
        .rename(columns={"conn": S.CONV}).set_index(S.CONV).sort_index()
    )
    standalone = corr_features(derived, gateway)
    assert _fanout_in_plan(standalone)
    _assert_matches(_frame(standalone), want)
    full = extract_features(derived, gateway)
    assert _fanout_in_plan(full)
    _assert_matches(_frame(full).loc[want.index], want)


def test_corr_batch_empty_inputs():
    pdf = pd.DataFrame({S.CONV: ["x"] * 3, S.TS_SEC: [1.0, 1.05, 2.0], S.N_CHARS: [4, 5, 6]})
    none = np.empty(0)
    out = corr_batch(pdf, none, none)
    assert list(out[S.CONV]) == ["x"] and (out[CORR_NAMES] == 0).all(axis=None)
    empty = corr_batch(pdf.iloc[:0], none, none)
    assert list(empty.columns) == [S.CONV, *CORR_NAMES] and empty.empty
    assert out["corr_count"].dtype == np.int32
