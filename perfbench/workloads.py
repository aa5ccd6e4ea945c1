"""The benchmark workloads: ``extract_gateway`` and ``dedup_docs`` (the
timed ones), ``resume_write`` (runnable on its own) and ``pit_surface``
(spans only).

Each workload generates its inputs from the seed, lands them as parquet,
and then runs one job per rep on a freshly built plan. A rep is timed
from the call that builds the plan until the last row reaches the sink
(the ``noop`` sink, or the real partitioned write for ``resume_write``).
The first execution of each run collects its output instead, and that
output is checked against an independent reference.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

import numpy as np
import pandas as pd

import dedup_oracle

from proxyfeatureextraction_spark import schema as S

ATOL = 1e-5


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _compare(got: pd.DataFrame, want: pd.DataFrame, label: str, key: str = S.CONV,
             atol: float = ATOL) -> list[str]:
    """``want``'s rows and columns must appear in ``got`` and agree
    within ``atol`` (NaN equals NaN)."""
    want = want.rename(columns={"conn": key}).set_index(key).sort_index()
    got = got.set_index(key)
    missing_rows = want.index.difference(got.index)
    missing_cols = [c for c in want.columns if c not in got.columns]
    if len(missing_rows) or missing_cols:
        return [f"{label}: missing rows {list(missing_rows)[:5]} / columns {missing_cols[:5]}"]
    got = got.loc[want.index]
    bad = []
    for c in want.columns:
        a = got[c].to_numpy(dtype=float)
        b = want[c].to_numpy(dtype=float)
        if not np.allclose(a, b, atol=atol, rtol=0.0, equal_nan=True):
            bad.append(f"{label}.{c}")
    return bad


class Workload:
    name = ""
    why = ""
    parent = ""
    children: tuple[str, ...] = ()

    def __init__(self, spark, cores: int, seed: int):
        self.spark = spark
        self.cores = cores
        self.seed = seed
        self.path = ""
        self.rows = 0

    def generate(self, path: str) -> None:
        raise NotImplementedError

    def open(self, path: str) -> None:
        self.path = path

    def plan(self):
        raise NotImplementedError

    def rep(self) -> tuple[int, bool]:
        noop(self.plan())
        return self.rows, True

    def first(self):
        return self.plan().toPandas()

    def check(self, output) -> list[str]:
        raise NotImplementedError

    def child_calls(self) -> list[tuple[str, object]]:
        return []

    def traced(self, tracer) -> list[str]:
        """Each child call forced on its own, then the parent's own call,
        all inside the parent span. Returns the parent rep's check
        failures."""
        with tracer.span(self.parent):
            for name, call in self.child_calls():
                with tracer.span(name):
                    call()
            _, ok = self.rep()
        return [] if ok else [f"{self.name}: traced rep failed its check"]


def _land_transcripts(spark, path: str, n_convs: int, seed: int, cores: int, heavy: int) -> None:
    from proxyfeatureextraction_spark.synth import synth_bench_parquet

    synth_bench_parquet(
        spark, path, n_convs=n_convs, seed=seed, heavy_hitters=heavy, partitions=2 * cores
    )


class Transcripts(Workload):
    """A workload on a landed transcript table."""

    def open(self, path):
        super().open(path)
        self.rows = self.spark.read.parquet(path).count()

    def derived(self):
        from proxyfeatureextraction_spark.schema import with_derived

        return with_derived(self.spark.read.parquet(self.path))


class ExtractGateway(Transcripts):
    name = "extract_gateway"
    why = "full per-conversation feature extraction with the gateway correlation, which does most of its work"
    parent = "plans.extract.extract_features"
    children = (
        "schema.with_derived",
        "plans.extract.fused_slice_features",
        "features.host.trace_scalars",
        "features.corr.corr_features",
    )
    turns = 20_000
    # each heavy hitter is 300-1500 turns, several % of this table: keep
    # few, so the work per rep varies little from seed to seed
    heavy = 2
    sample = 24

    @functools.cached_property
    def n_convs(self) -> int:
        """Fewest conversations whose generated table has ``turns`` turns:
        rows per rep then barely change with the seed."""
        from proxyfeatureextraction_spark.synth import synth_transcripts_pdf

        lo, hi = 1, 2 * self.turns // 30
        while lo < hi:
            mid = (lo + hi) // 2
            pdf = synth_transcripts_pdf(mid, self.seed, self.heavy, with_text=False)
            lo, hi = (mid + 1, hi) if len(pdf) < self.turns else (lo, mid)
        return lo

    def generate(self, path):
        _land_transcripts(self.spark, path, self.n_convs, self.seed, self.cores, self.heavy)

    def plan(self):
        from proxyfeatureextraction_spark.plans.extract import extract_features

        d = self.derived()
        return extract_features(d, d.select(S.TS_SEC, S.N_CHARS))

    def child_calls(self):
        from proxyfeatureextraction_spark.features.corr import corr_features
        from proxyfeatureextraction_spark.features.host import trace_scalars
        from proxyfeatureextraction_spark.plans.extract import fused_slice_features

        def corr():
            d = self.derived()
            noop(corr_features(d, d.select(S.TS_SEC, S.N_CHARS), 20))

        return [
            ("schema.with_derived", lambda: noop(self.derived())),
            ("plans.extract.fused_slice_features",
             lambda: noop(fused_slice_features(self.derived(), include_rtt=True))),
            ("features.host.trace_scalars", lambda: noop(trace_scalars(self.derived(), max_pkts=20))),
            ("features.corr.corr_features", corr),
        ]

    def traced(self, tracer):
        """Also forces the point-in-time and resumable-write span trees on
        this input, so their layers are traced without a timed workload."""
        problems = super().traced(tracer)
        pit = PitSurface(self.spark, self.cores, self.seed)
        pit.open(self.path)
        problems += pit.traced(tracer)
        resume = ResumeWrite(self.spark, self.cores, self.seed)
        resume.open(self.path)
        problems += resume.check(resume.first())
        problems += resume.traced(tracer)
        self.written = resume.written
        return problems

    def check(self, output):
        """Seeded sample of conversations against the pandas oracles; the
        correlation oracle sees the full gateway stream."""
        from tests.oracle.packet_view import to_packet_view
        from tests.oracle.ref_corr import corr_by_conn
        from tests.oracle.ref_hayes import hayes_by_conn
        from tests.oracle.ref_host import host_by_conn
        from tests.oracle.ref_rtt import rtt_by_conn
        from tests.oracle.ref_slt import slt_by_conn

        problems = []
        if len(output) != output[S.CONV].nunique():
            problems.append("extract: duplicate conversations")
        packets = to_packet_view(self.spark.read.parquet(self.path).toPandas())
        convs = np.sort(packets["conn"].unique())
        if len(output) != len(convs):
            problems.append(f"extract: {len(output)} rows for {len(convs)} conversations")
        rng = np.random.default_rng(self.seed)
        sample = set(rng.choice(convs, size=min(self.sample, len(convs)), replace=False))
        mine = packets[packets["conn"].isin(sample)]
        folders = set(mine["folder_name"])
        host = pd.concat(
            [host_by_conn(g, gw=False) for f, g in packets.groupby("folder_name") if f in folders],
            ignore_index=True,
        )
        oracles = {
            "hayes": hayes_by_conn(mine, 20),
            "slt": slt_by_conn(mine, 20),
            "rtt": rtt_by_conn(mine, 20),
            "host": host[host["conn"].isin(sample)],
            "corr": corr_by_conn(mine, packets[["ts_relative", "pkt_len"]].copy(), pkt_limit=20),
        }
        for label, want in oracles.items():
            if len(want):
                problems += _compare(output, want, label)
        return problems


class PitSurface(Transcripts):
    """Spans only: the point-in-time surface, forced in
    ``extract_gateway``'s traced run on its input, with the heavy
    conversations on the blocked skew path."""

    name = "pit_surface"
    parent = "plans.pit.pit_features_auto"
    children = ("operators.skew.heavy_hitters", "plans.pit.pit_features", "plans.pit.pit_features_blocked")
    # synthetic conversations are clipped at 400 turns; only the heavy
    # hitters (300-1500 turns) exceed it and take the blocked path
    heavy_threshold = 400
    block_rows = 256

    def plan(self):
        from proxyfeatureextraction_spark.plans.pit import pit_features_auto

        return pit_features_auto(
            self.derived(), heavy_threshold=self.heavy_threshold, block_rows=self.block_rows
        )

    def child_calls(self):
        from pyspark.sql import functions as F

        from proxyfeatureextraction_spark.operators.skew import heavy_hitters
        from proxyfeatureextraction_spark.plans.pit import pit_features, pit_features_blocked

        def split(how):
            d = self.derived()
            heavy = heavy_hitters(d, threshold=self.heavy_threshold).select(S.CONV)
            return d.join(F.broadcast(heavy), S.CONV, how)

        return [
            ("operators.skew.heavy_hitters",
             lambda: noop(heavy_hitters(self.derived(), threshold=self.heavy_threshold))),
            ("plans.pit.pit_features", lambda: noop(pit_features(split("left_anti")))),
            ("plans.pit.pit_features_blocked",
             lambda: noop(pit_features_blocked(split("left_semi"), block_rows=self.block_rows))),
        ]


class ResumeWrite(Workload):
    name = "resume_write"
    why = "resumable partitioned write: manifests, fingerprinting and checksum read-back"
    parent = "sources.checkpoint.run_resumable"
    children = ("sources.checkpoint.input_fingerprint",)
    n_convs = 1000  # 50 conversations per folder
    share = 0.5

    def generate(self, path):
        _land_transcripts(self.spark, path, self.n_convs, self.seed, self.cores, heavy=0)

    def open(self, path):
        super().open(path)
        self.out = path + "_out"
        raw = self.spark.read.parquet(path)
        self.folder_rows = {r[0]: r[1] for r in raw.groupBy(S.FOLDER).count().collect()}
        self.rows = sum(self.folder_rows.values())
        self.convs = raw.select(S.CONV).distinct().count()
        self.rng = np.random.default_rng(self.seed)

    def _resume(self):
        from proxyfeatureextraction_spark.jobs.extract import build
        from proxyfeatureextraction_spark.sources.checkpoint import run_resumable

        return run_resumable(self.spark, self.path, self.out, build(20, False, [], self.seed))

    def manifests(self) -> dict[str, tuple]:
        mdir = os.path.join(self.out, "_manifests")
        out = {}
        for name in os.listdir(mdir):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as fh:
                    m = json.load(fh)
                out[m["partition"]] = (m["rows"], m["feature_checksum"])
        return out

    def first(self):
        shutil.rmtree(self.out, ignore_errors=True)
        summary = self._resume()
        self.snapshot = self.manifests()
        return summary

    def check(self, summary):
        problems = []
        if summary["processed"] != len(self.folder_rows) or summary["skipped"] != 0:
            problems.append(f"resume: full run summary {summary}")
        if set(self.snapshot) != set(self.folder_rows):
            problems.append("resume: manifests do not cover every folder")
        if sum(r for r, _ in self.snapshot.values()) != self.convs:
            problems.append("resume: manifest rows differ from the conversation count")
        return problems

    def rep(self):
        """Remove a seeded share of folders' output and manifests, resume."""
        folders = sorted(self.folder_rows)
        k = max(1, round(self.share * len(folders)))
        gone = sorted(self.rng.choice(folders, size=k, replace=False))
        for f in gone:
            shutil.rmtree(os.path.join(self.out, f"{S.FOLDER}={f}"))
            os.remove(os.path.join(self.out, "_manifests", f"{f}.json"))
        summary = self._resume()
        ok = (
            summary["processed"] == k
            and summary["skipped"] == len(folders) - k
            and self.manifests() == self.snapshot
        )
        return sum(self.folder_rows[f] for f in gone), ok

    def child_calls(self):
        from proxyfeatureextraction_spark.sources.checkpoint import input_fingerprint

        return [("sources.checkpoint.input_fingerprint",
                 lambda: input_fingerprint(self.spark, self.path))]

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _, files in os.walk(self.out):
            for name in files:
                st = os.stat(os.path.join(root, name))
                out[os.path.join(root, name)] = (st.st_mtime_ns, st.st_size)
        return out

    def traced(self, tracer):
        """Also records the files (count, bytes) the traced resume created
        or rewrote; the fingerprint child writes nothing."""
        before = self._files()
        problems = super().traced(tracer)
        new = [v for k, v in self._files().items() if before.get(k) != v]
        self.written = len(new), sum(size for _, size in new)
        return problems


class DedupDocs(Workload):
    """The sf0.1 ``documents`` fixture (``doc_id``, ``text``), copied into
    ``data/``. Its 5,000 documents draw 10-100 words from a 31-word
    vocabulary, so word sets overlap heavily: about 2.97M document pairs
    reach Jaccard 0.8 and one component holds 3,728 documents. The seed
    sets only the row order and the number of files; the output must not
    depend on either."""

    name = "dedup_docs"
    why = "the only workload that runs operators.dedup: about 3M near-duplicate pairs and their star contraction on the sf0.1 documents"
    parent = "operators.dedup.dedup_corpus"

    def generate(self, path):
        import pyarrow.parquet as pq

        docs = pq.read_table(dedup_oracle.DOCUMENTS)
        rng = np.random.default_rng(self.seed)
        docs = docs.take(rng.permutation(docs.num_rows))
        splits = int(rng.integers(2, 6))
        os.makedirs(path)
        for i, part in enumerate(np.array_split(np.arange(docs.num_rows), splits)):
            pq.write_table(docs.take(part), os.path.join(path, f"part-{i:05d}.parquet"))
        self.rows = docs.num_rows

    def plan(self):
        from proxyfeatureextraction_spark.operators.dedup import dedup_corpus

        return dedup_corpus(self.spark.read.parquet(self.path), threshold=0.8)

    def check(self, output):
        """Against ``dedup_oracle.py``'s twin of the DuckDB oracle."""
        want = dedup_oracle.dedup_corpus(pd.read_parquet(self.path), threshold=0.8)
        return [] if dedup_oracle.same(output, want) else ["dedup: clusters differ from the oracle"]


WORKLOADS = {w.name: w for w in (ExtractGateway, ResumeWrite, DedupDocs)}
# every span tree a traced run can record, in catalogue order
TRACED = (ExtractGateway, PitSurface, ResumeWrite, DedupDocs)
