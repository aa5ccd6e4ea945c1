"""Sources & sinks (SURVEY §2.1 S1/S2/S3/S5/S6).

The reference's folder-of-CSVs corpus (one directory per capture with
``proxy_conn.csv`` / ``relayed_conn_labeled.csv`` /
``background_conn_labeled.csv``, ``data_io.py:53-77``) maps to ONE
table with ``folder_name`` (ingest partition) and ``source``
discriminator columns. Iceberg is the deployment target; the sandbox
has no Iceberg runtime jar, so ``read_transcripts`` falls back
parquet → csv, detected once per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proxyfeatureextraction_spark import schema as S


def read_transcripts(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """S1: scan the transcript table. ``fmt``: iceberg|parquet|csv|None
    (auto: iceberg table identifier → parquet dir → csv dir)."""
    if fmt == "iceberg" or (fmt is None and "/" not in path):
        try:
            return spark.read.format("iceberg").load(path)
        except Exception:  # noqa: BLE001 — no Iceberg runtime in sandbox
            if fmt == "iceberg":
                raise
    if fmt in (None, "parquet"):
        try:
            return spark.read.parquet(path)
        except Exception:  # noqa: BLE001
            if fmt == "parquet":
                raise
    return spark.read.schema(S.TRANSCRIPT_SCHEMA).option("header", "true").csv(path)


def read_documents(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Document-corpus scan for the LLM-pipeline operators (dedup /
    similarity / text analysis): jsonl | json | parquet | csv.

    JSONL (one JSON object per line, transparently gzip-decompressed)
    is the lingua franca of training-data interchange, so it gets
    first-class treatment: extension-dispatched, else the auto chain
    parquet → jsonl → csv. Schema is whatever the corpus carries
    (``doc_id``/``text`` by convention); JSON schema inference is one
    extra pass — pass an explicit schema reader upstream for fixed
    100 TB layouts, or land to parquet once and scan that."""
    lower = path.rstrip("/").lower()
    if fmt in ("jsonl", "json") or (
        fmt is None and lower.endswith((".jsonl", ".json", ".jsonl.gz", ".json.gz"))
    ):
        return spark.read.json(path)
    if fmt in (None, "parquet"):
        try:
            return spark.read.parquet(path)
        except Exception:  # noqa: BLE001
            if fmt == "parquet":
                raise
    if fmt is None:
        try:
            df = spark.read.json(path)
            # a non-JSON dir "succeeds" as one _corrupt_record column
            if df.columns and df.columns != ["_corrupt_record"]:
                return df
        except Exception:  # noqa: BLE001
            pass
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


def filter_split(
    df: DataFrame, manifest: DataFrame, split: str, folder_col: str = S.FOLDER
) -> DataFrame:
    """S2: manifest-driven split selection (``data_io.py:17-32``).

    ``manifest``: (folder_name, split). Broadcast semi-join → with a
    partition column this becomes pure partition pruning.
    """
    wanted = manifest.filter(F.col("split") == split).select(folder_col)
    return df.join(F.broadcast(wanted), folder_col, "left_semi")


def by_source(df: DataFrame, source: str) -> DataFrame:
    """S3: one of the three per-folder sources (background/relayed/proxy)."""
    return df.filter(F.col(S.SOURCE) == source)


def write_features(
    features: DataFrame, path: str, partition_cols: tuple[str, ...] = (S.FOLDER,), mode: str = "overwrite"
) -> None:
    """S5: feature sink, partitioned by ingest partition (Iceberg:
    ``writeTo(...).append()``; parquet fallback)."""
    w = features.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def scan_feature_csvs(
    spark: SparkSession, path: str, feature_type: str, gateway: bool = False
) -> DataFrame:
    """S6: the reference's filename-pattern feature scan, semantics-exact
    (``classification/data.py:10-15,35-50``): a CSV is selected iff
    ``feature_type`` is a SUBSTRING of its name (so ``ta`` also matches
    ``delta_bg.csv`` — reference quirk, preserved) and it carries a
    ``bg``/``relay`` marker, checked in that order (a name with both
    markers counts as background). Gateway files match on ``gateway``
    alone. Returns the union with a ``source`` discriminator column.

    The directory listing is driver-side (manifest-sized); each file is
    still read distributed."""
    import os

    selected: list[tuple[str, str]] = []
    for fn in sorted(os.listdir(path)):
        if not fn.endswith(".csv"):
            continue
        if gateway:
            if "gateway" in fn:
                selected.append((fn, "proxy"))
        elif feature_type in fn and "bg" in fn:
            selected.append((fn, "background"))
        elif feature_type in fn and "relay" in fn:
            selected.append((fn, "relayed"))
    frames = [
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(os.path.join(path, fn))
        .withColumn(S.SOURCE, F.lit(src))
        for fn, src in selected
    ]
    if not frames:
        raise FileNotFoundError(
            f"no CSV in {path} matches feature_type={feature_type!r} (gateway={gateway})"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def read_feature_table(
    spark: SparkSession,
    path: str,
    feature_set: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """S6: feature-table scan with discriminator filters (the filename-
    pattern scan of ``classification/data.py:10-50`` becomes column
    predicates that prune partitions)."""
    df = spark.read.parquet(path)
    if feature_set is not None and "feature_set" in df.columns:
        df = df.filter(F.col("feature_set") == feature_set)
    if source is not None and S.SOURCE in df.columns:
        df = df.filter(F.col(S.SOURCE) == source)
    return df
