"""The matrix-vectorized Hayes and SLT kernels equal the per-conversation
loop kernels of ``tests/oracle`` on large random corpora, on
out-of-order timestamps and on a sub-second conversation. The parity
tests pin the same kernels through ``extract_features`` on the small
fixture; these cover paths that fixture may miss."""

from __future__ import annotations

import numpy as np
import pandas as pd

from proxyfeatureextraction_spark.features.hayes_vec import hayes_matrix_batch
from proxyfeatureextraction_spark.features.names import HAYES_NAMES, SLT_NAMES
from proxyfeatureextraction_spark.features.slt_vec import slt_matrix_batch
from proxyfeatureextraction_spark.synth import synth_transcripts_pdf
from tests.oracle.packet_view import CLIENT_IP, SERVER_IP, to_packet_view
from tests.oracle.ref_hayes import _per_sec_series, hayes_by_conn
from tests.oracle.ref_slt import slt_by_conn

ATOL = 1e-9


def _derived(pdf: pd.DataFrame) -> pd.DataFrame:
    """The kernels' input columns in canonical (conv, turn) order."""
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ts0 = pdf.groupby("folder_name")["ts"].transform("min")
    pdf["ts_sec"] = (pdf["ts"] - ts0).dt.total_seconds()
    pdf["dir"] = np.where(pdf["role"] == "user", 1, -1)
    pdf["n_chars"] = pdf["text"].str.len()
    return pdf


def _assert_equal(got: pd.DataFrame, want: pd.DataFrame, names: list[str]) -> None:
    want = want.rename(columns={"conn": "conv_id"}).sort_values("conv_id").reset_index(drop=True)
    got = got.sort_values("conv_id").reset_index(drop=True)
    assert list(got["conv_id"]) == list(want["conv_id"])
    for c in names:
        np.testing.assert_allclose(
            got[c].astype(float), want[c].astype(float), atol=ATOL, equal_nan=True, err_msg=c
        )


def test_matrix_kernel_equals_loop_kernel():
    for seed in (123, 7):
        pdf = synth_transcripts_pdf(n_convs=500, seed=seed)
        d = _derived(pdf)
        sizes = d.groupby("conv_id")["turn_idx"].transform("size")
        sl = d[sizes >= 20].groupby("conv_id").head(20).reset_index(drop=True)
        got = hayes_matrix_batch(sl, 20, HAYES_NAMES)
        _assert_equal(got, hayes_by_conn(to_packet_view(pdf), 20), HAYES_NAMES)


def test_slt_matrix_kernel_equals_loop_kernel():
    pdf = synth_transcripts_pdf(n_convs=400, seed=55)
    sl = _derived(pdf).groupby("conv_id").head(20).reset_index(drop=True)
    got = slt_matrix_batch(sl, 20, SLT_NAMES)
    _assert_equal(got, slt_by_conn(to_packet_view(pdf), 20), SLT_NAMES)


def test_hayes_matrix_kernel_row_order_semantics_nonmonotone_ts():
    """Review regression: the (C, K)-matrix kernel must equal the loop
    kernel on conversations whose canonical (turn_idx) order is NOT
    time-monotone — the loop kernel diffs direction times in ROW order
    and anchors percentiles at ts.min(); a value-sorting matrix kernel
    silently disagreed on such rows. Conversation "s" ends before 1 s,
    where both emit one per-second bucket (the reference raises
    IndexError there; see the recurrence in hayes_vec)."""
    rng = np.random.default_rng(7)
    k = 20
    rows = []
    for conv in ("x", "y", "z", "s"):
        ts = np.round(rng.uniform(0, 30, size=k), 3)  # deliberately unsorted
        if conv == "y":
            ts = np.sort(ts)  # one monotone control conversation
        if conv == "s":
            ts = np.linspace(0.0, 0.95, k)
            assert _per_sec_series(ts) == [k]
        dr = rng.choice([-1, 1], size=k)
        for i in range(k):
            rows.append((conv, float(ts[i]), int(dr[i])))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts_sec", "dir"])
    got = hayes_matrix_batch(pdf, k=k, columns=HAYES_NAMES)
    packets = pd.DataFrame(
        {
            "conn": pdf["conv_id"],
            "ts_relative": pdf["ts_sec"],
            "src_ip": np.where(pdf["dir"] == 1, CLIENT_IP, SERVER_IP),
            "pkt_len": 0,
        }
    )
    _assert_equal(got, hayes_by_conn(packets, k), HAYES_NAMES)


def test_matrix_kernel_empty():
    out = hayes_matrix_batch(
        pd.DataFrame({"conv_id": [], "ts_sec": [], "dir": [], "n_chars": []}),
        20,
        HAYES_NAMES,
    )
    assert out.empty
