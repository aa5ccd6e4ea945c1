from __future__ import annotations

import pytest

from proxyfeatureextraction_spark.session import get_spark
from proxyfeatureextraction_spark.synth import synth_transcripts, synth_transcripts_pdf


@pytest.fixture(scope="session")
def spark():
    # a 4g heap, not get_spark's 64g default: with 64g the JVM grows to
    # ~12 GB RSS over the suite, enough for the kernel's OOM killer on a
    # 15 GB host; at 4g it peaks near 5 GB with the same results and time
    spark = get_spark(
        "pfx-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def transcripts_pdf():
    """Small deterministic transcript table (pandas) shared by oracles."""
    return synth_transcripts_pdf(n_convs=60, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from proxyfeatureextraction_spark import schema as S

    cols = [S.FOLDER, S.SOURCE, S.CONV, S.TURN, S.ROLE, S.TEXT, S.TOOL, S.TS]
    df = spark.createDataFrame(transcripts_pdf[cols], schema=S.TRANSCRIPT_SCHEMA)
    df = df.cache()
    df.count()
    return df
