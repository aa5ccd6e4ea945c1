"""The production extraction plan vs the reference-validated pandas oracles.

Each family's parity test reads its columns from ``extract_features``,
the plan every caller runs, so the oracles pin the code that ships.
allclose atol=1e-5 per the reference's own tolerance
(test_corr_extractor.py:158); NaNs compare equal (they are part of the
reference semantics — e.g. std_order_in of a single-role conversation).
Conversations an oracle does not emit carry NULL in its columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.corr import corr_features
from proxyfeatureextraction_spark.plans.extract import extract_features
from proxyfeatureextraction_spark.schema import with_derived
from tests.oracle.packet_view import to_packet_view
from tests.oracle.ref_corr import corr_by_conn
from tests.oracle.ref_hayes import hayes_by_conn
from tests.oracle.ref_host import host_by_conn
from tests.oracle.ref_rtt import rtt_by_conn
from tests.oracle.ref_slt import slt_by_conn

ATOL = 1e-5


@pytest.fixture(scope="module")
def derived(spark, transcripts_df):
    d = with_derived(transcripts_df).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def packets(transcripts_pdf):
    return to_packet_view(transcripts_pdf)


@pytest.fixture(scope="module")
def extracted(derived):
    return extract_features(derived).toPandas()


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, key=S.CONV):
    """The oracle's rows match at ATOL; every other conversation of
    ``spark_pdf`` is NULL in the oracle's columns."""
    oracle_pdf = oracle_pdf.rename(columns={"conn": key})
    assert set(oracle_pdf[key]) <= set(spark_pdf[key])
    cols = [c for c in oracle_pdf.columns if c != key]
    missing = set(cols) - set(spark_pdf.columns)
    assert not missing, f"spark output missing {missing}"
    b = oracle_pdf.set_index(key).sort_index()
    a = spark_pdf.set_index(key).loc[b.index]
    for c in cols:
        np.testing.assert_allclose(
            a[c].to_numpy(dtype=float),
            b[c].to_numpy(dtype=float),
            atol=ATOL,
            equal_nan=True,
            err_msg=c,
        )
    outside = spark_pdf.set_index(key).drop(b.index)
    assert outside[cols].isna().all(axis=None), "values outside the oracle's gate"


def _host_oracle(packets, gw: bool) -> pd.DataFrame:
    # reference scope = one folder per call; concat per-folder oracles
    return pd.concat(
        [host_by_conn(g, gw=gw) for _, g in packets.groupby("folder_name")],
        ignore_index=True,
    )


def test_hayes_parity(extracted, packets):
    oracle = hayes_by_conn(packets, 20)
    assert len(oracle) < len(extracted), "fixture has no conversation below the gate"
    compare(extracted, oracle)


def test_slt_parity(extracted, packets):
    compare(extracted, slt_by_conn(packets, 20))


def test_rtt_parity(extracted, packets):
    oracle = rtt_by_conn(packets, 20)
    assert 0 < len(oracle) < len(extracted), "fixture has no RTT-qualifying/excluded conversation"
    compare(extracted, oracle)


def test_corr_parity(derived, packets):
    gateway = derived.select(S.TS_SEC, S.N_CHARS)
    spark_out = corr_features(derived, gateway, pkt_limit=20).toPandas()
    oracle = corr_by_conn(
        packets, packets[["ts_relative", "pkt_len"]].copy(), pkt_limit=20
    )
    compare(spark_out, oracle)


def test_host_parity(extracted, packets):
    compare(extracted, _host_oracle(packets, gw=False))


def test_host_parity_gw_true(derived, packets):
    compare(extract_features(derived, gw=True).toPandas(), _host_oracle(packets, gw=True))


def test_empty_input(spark, derived):
    empty = derived.limit(0)
    gw = derived.select(S.TS_SEC, S.N_CHARS)
    assert extract_features(empty).count() == 0
    assert extract_features(empty, gw).count() == 0
    assert corr_features(empty, gw).count() == 0
