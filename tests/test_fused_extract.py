"""The full extraction plan: one row per conversation, and the gateway
correlation folded into the fused pass equals ``corr_features``. The
other families are pinned to their oracles through ``extract_features``
in tests/test_features_parity.py."""

from __future__ import annotations

import numpy as np
import pytest

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.corr import corr_features
from proxyfeatureextraction_spark.features.names import CORR_NAMES
from proxyfeatureextraction_spark.plans.extract import extract_features
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


def test_extract_features_full(derived):
    out = extract_features(derived, gateway=derived.select(S.TS_SEC, S.N_CHARS))
    pdf = out.toPandas()
    assert len(pdf) == pdf[S.CONV].nunique()
    expected = {"duration", "gap_between_conns", "rtt_ratio", "corr_mean"}
    assert expected <= set(pdf.columns)
    # the correlation folded into the fused pass equals the standalone op
    corr = corr_features(derived, derived.select(S.TS_SEC, S.N_CHARS)).toPandas().set_index(S.CONV)
    fused_corr = pdf.set_index(S.CONV)[CORR_NAMES]
    assert len(corr), "fixture produced no gated conversations"
    _cmp(fused_corr.loc[corr.index], corr, CORR_NAMES)
    assert fused_corr.drop(corr.index).isna().all(axis=None)
