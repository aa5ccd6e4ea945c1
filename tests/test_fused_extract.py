"""The fused single-shuffle plan equals the standalone extractors."""

from __future__ import annotations

import numpy as np
import pytest

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.corr import corr_features
from proxyfeatureextraction_spark.features.hayes import hayes_features
from proxyfeatureextraction_spark.features.host import host_features
from proxyfeatureextraction_spark.features.names import CORR_NAMES, HAYES_NAMES, SLT_NAMES
from proxyfeatureextraction_spark.features.slt import slt_features
from proxyfeatureextraction_spark.plans.extract import (
    HOST_SLICE_COLS,
    extract_features,
    fused_slice_features,
)
from proxyfeatureextraction_spark.schema import with_derived


@pytest.fixture(scope="module")
def derived(spark, transcripts_df):
    d = with_derived(transcripts_df).cache()
    d.count()
    return d


def _cmp(a, b, cols):
    a = a.sort_index()
    b = b.sort_index()
    assert list(a.index) == list(b.index)
    for c in cols:
        np.testing.assert_allclose(
            a[c].astype(float), b[c].astype(float), atol=1e-9, equal_nan=True, err_msg=c
        )


def test_fused_equals_standalone(derived):
    fused = fused_slice_features(derived).toPandas().set_index(S.CONV)
    h = hayes_features(derived).toPandas().set_index(S.CONV)
    sl = slt_features(derived).toPandas().set_index(S.CONV)
    ho = host_features(derived).toPandas().set_index(S.CONV)

    assert set(fused.index) == set(sl.index)  # SLT has no gate
    _cmp(fused.loc[h.index, HAYES_NAMES], h[HAYES_NAMES], HAYES_NAMES)
    _cmp(fused.loc[sl.index, SLT_NAMES], sl[SLT_NAMES], SLT_NAMES)
    _cmp(fused.loc[ho.index, HOST_SLICE_COLS], ho[HOST_SLICE_COLS], HOST_SLICE_COLS)
    # ungated convs have NULL hayes/host columns
    ungated = fused.index.difference(h.index)
    if len(ungated):
        assert fused.loc[ungated, HAYES_NAMES[0]].isna().all()


def test_extract_features_full(derived):
    out = extract_features(derived, gateway=derived.select(S.TS_SEC, S.N_CHARS))
    pdf = out.toPandas()
    assert len(pdf) == pdf[S.CONV].nunique()
    expected = {"duration", "gap_between_conns", "rtt_ratio", "corr_mean"}
    assert expected <= set(pdf.columns)
    host = host_features(derived).toPandas().set_index(S.CONV)
    got = pdf.set_index(S.CONV).loc[host.index]
    np.testing.assert_allclose(got["duration"], host["duration"], atol=1e-9)
    np.testing.assert_allclose(
        got["gap_between_conns"], host["gap_between_conns"], atol=1e-9
    )
    # the RTT scalar folded into the fused pass equals the standalone op
    from proxyfeatureextraction_spark.features.rtt import rtt_features

    rtt = rtt_features(derived).toPandas().set_index(S.CONV)
    all_rtt = pdf.set_index(S.CONV)["rtt_ratio"]
    assert len(rtt), "fixture produced no RTT-qualifying conversations"
    np.testing.assert_allclose(all_rtt.loc[rtt.index], rtt["rtt_ratio"], atol=1e-9)
    # convs absent from the standalone output carry NULL in the fused one
    assert all_rtt.drop(rtt.index).isna().all()
    # the correlation folded into the fused pass equals the standalone op
    corr = corr_features(derived, derived.select(S.TS_SEC, S.N_CHARS)).toPandas().set_index(S.CONV)
    fused_corr = pdf.set_index(S.CONV)[CORR_NAMES]
    assert len(corr), "fixture produced no gated conversations"
    _cmp(fused_corr.loc[corr.index], corr, CORR_NAMES)
    assert fused_corr.drop(corr.index).isna().all(axis=None)
