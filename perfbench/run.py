"""pfx benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_gateway --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Lines
before it are a readable report. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import harness
import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "proxyfeatureextraction_spark"

# inputs are generated and landed this many times in set-up; set-up time
# reports the median round
SETUP_ROUNDS = 3
# run_resumable's jobs, split by the call site that submitted them
CALLSITE_PARTS = ("write", "readback", "listing")


def per_layer_catalogue() -> dict[str, tuple[str, str]]:
    """Every per-layer metric, the same set for every workload; a span
    that a workload does not run reports 0."""
    from workloads import TRACED, ResumeWrite

    out: dict[str, tuple[str, str]] = {
        "session.get_spark.s": ("s", "lower"),
        "session.python_workers": ("count", "lower"),
    }
    for wl in TRACED:
        for span in (*wl.children, wl.parent):
            fields = spans.FIELDS if span != "sources.checkpoint.input_fingerprint" else spans.FIELDS[:2]
            for field, unit, better in fields:
                out[f"{span}.{field}"] = (unit, better)
        if wl.children:
            out[f"{wl.parent}.self_s"] = ("s", "lower")
    for part in CALLSITE_PARTS:
        for field, unit, better in spans.SPLIT_FIELDS:
            out[f"{ResumeWrite.parent}.{part}.{field}"] = (unit, better)
    out.update(
        {
            "features.corr.corr_features.single_task_stages": ("count", "lower"),
            "plans.extract.fused_slice_features.python_mb": ("MB", "lower"),
            "sources.checkpoint.files_written": ("count", "lower"),
            "sources.checkpoint.bytes_written": ("bytes", "lower"),
            "driver.plan_s": ("s", "lower"),
            "tracing.rows_per_s_untraced": ("1/s", "higher"),
            "tracing.rows_per_s_traced": ("1/s", "higher"),
            "tracing.overhead_pct": ("%", "lower"),
            "parallel.rows_per_s_local1": ("1/s", "higher"),
            "parallel_speedup": ("x", "higher"),
        }
    )
    return out


def callsite_splits(log, group: str) -> dict[str, list[int]]:
    """run_resumable's jobs by the Spark call site of their SQL execution:
    the checksum read-back's collect, the partition listing's collect,
    and the partitioned write (whose jobs AQE submits without a Python
    call site). Line ranges come from the source, so edits to the
    module move them along."""
    import inspect

    from proxyfeatureextraction_spark.sources import checkpoint

    def lines(fn):
        src, start = inspect.getsourcelines(fn)
        return range(start, start + len(src))

    where = {"readback": lines(checkpoint.feature_checksums), "listing": lines(checkpoint.run_resumable)}
    by_exec: dict = {}
    for j in log.job_ids(group):
        by_exec.setdefault(log.jobs[j]["exec"], []).append(j)
    out: dict[str, list[int]] = {part: [] for part in CALLSITE_PARTS}
    for jobs in by_exec.values():
        part = "write"
        for j in jobs:
            site = log.jobs[j]["callsite"]
            if site.startswith("collect at") and site.rsplit("/", 1)[-1].startswith("checkpoint.py:"):
                line = int(site.rsplit(":", 1)[1])
                part = next((p for p, r in where.items() if line in r), part)
        out[part] += jobs
    return out


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def report(title: str, metrics: dict, out=sys.stdout) -> None:
    print(f"== {title}", file=out)
    for name, m in metrics.items():
        print(f"  {name:<58} {m['value']:>14.4f} {m['unit']}", file=out)


class Run:
    def __init__(self, args, scratch, wl_cls):
        self.args = args
        self.scratch = scratch
        self.cores = harness.host_cores()
        self.wl_cls = wl_cls
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def session(self, cores: int, event_log: bool = False) -> float:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = harness.start_session(self.scratch, cores, event_log)
        return time.perf_counter() - t0

    def setup(self, event_log: bool = False) -> float:
        """Session start, seeded input generation and landing (median of
        SETUP_ROUNDS), then the first execution, whose output is checked."""
        session_s = self.session(self.cores, event_log)
        self.wl = self.wl_cls(self.spark, self.cores, self.args.seed)
        rounds = []
        for i in range(SETUP_ROUNDS):
            path = self.scratch.path("data", f"in-{i}")
            rounds.append(harness.timed(lambda: self.wl.generate(path))[0])
        self.wl.open(path)
        first_s, output = harness.timed(self.wl.first)
        self.attempted += 1
        check_s, problems = harness.timed(lambda: self.wl.check(output))
        if problems:
            self.failed += 1
            self.problems += problems
        self.session_s = session_s
        print(f"setup: session {session_s:.2f}s, inputs {' '.join(f'{r:.2f}' for r in rounds)}s "
              f"({self.wl.rows} rows), first execution {first_s:.2f}s; check {check_s:.2f}s")
        return session_s + statistics.median(rounds) + first_s

    def count(self, reps) -> None:
        self.attempted += reps.attempted
        self.failed += reps.failed

    def untraced(self) -> dict:
        setup_s = self.setup()
        with harness.PeakRss(harness.jvm_pid(self.spark)) as rss:
            reps = harness.Reps().run(self.wl.rep, self.args.seconds)
        self.count(reps)
        print(f"reps: {' '.join(f'{t:.2f}' for t in reps.times)}s; "
              f"{rss.python_procs} Python processes")
        return {
            "rows_per_s": _metric(reps.rows_per_s(), "1/s"),
            "setup_s": _metric(setup_s, "s"),
            "peak_rss_mb": _metric(rss.mb, "MB"),
        }

    def traced(self) -> dict:
        """On a session with the event log on: reps with and without
        spans, alternating, then the span pass. Then one rep at local[1]."""
        self.setup(event_log=True)
        tracer = spans.Tracer(self.spark, self.wl.name)

        def traced_rep():
            with tracer.span("traced_rep"):
                return self.wl.rep()

        # pairs in ABBA order, so neither side always runs on the warmer JVM,
        # after one untimed rep: the first rep after set-up is still the
        # slowest, and it would land on one side only. One pair at least,
        # for twice --seconds: dedup_docs gets one pair and stays within
        # the run's time limit
        warm = harness.Reps()
        warm.once(self.wl.rep)
        self.count(warm)
        plain, traced = harness.Reps(), harness.Reps()
        start = time.perf_counter()
        with harness.PeakRss(harness.jvm_pid(self.spark)) as rss:
            while plain.attempted < 1 or time.perf_counter() - start < 2 * self.args.seconds:
                first, second = (plain, traced) if plain.attempted % 2 == 0 else (traced, plain)
                first.once(self.wl.rep if first is plain else traced_rep)
                second.once(self.wl.rep if second is plain else traced_rep)
        self.count(plain)
        self.count(traced)
        # the span pass counts as one execution; its checks are the
        # parent reps' own and, on extract_gateway, the resume checks
        self.attempted += 1
        try:
            problems = self.wl.traced(tracer)
        except Exception:  # noqa: BLE001 — a failed pass is a result
            traceback.print_exc()
            problems = [f"{self.wl.name}: span pass raised"]
        if problems:
            self.failed += 1
            self.problems += problems
        self.spark.stop()
        self.spark = None
        log = spans.EventLog(spans.read_event_log(self.scratch.path("events")))
        rows = spans.span_rows(tracer, log)

        # local[1]: an untimed warm-up execution on the new context, then
        # one timed rep, so neither side pays first-execution costs
        self.session(1)
        self.wl.spark = self.spark
        warm, local1 = harness.Reps(), harness.Reps()
        warm.once(self.wl.rep)
        local1.once(self.wl.rep)
        self.count(warm)
        self.count(local1)

        untraced, traced_rate, single = plain.rows_per_s(), traced.rows_per_s(), local1.rows_per_s()
        metrics = self.layer_metrics(rows, log)
        metrics.update(
            {
                "session.get_spark.s": _metric(self.session_s, "s"),
                "session.python_workers": _metric(float(rss.python_procs), "count"),
                "tracing.rows_per_s_untraced": _metric(untraced, "1/s"),
                "tracing.rows_per_s_traced": _metric(traced_rate, "1/s"),
                "tracing.overhead_pct": _metric(
                    100.0 * (untraced - traced_rate) / untraced if untraced else 0.0, "%"),
                "parallel.rows_per_s_local1": _metric(single, "1/s"),
                "parallel_speedup": _metric(untraced / single if single else 0.0, "x"),
            }
        )
        spans.print_table(rows, sys.stdout)
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{self.wl.name}-seed{self.args.seed}.json")
        tracer.write(out, {"table": rows})
        print(f"spans written to {os.path.relpath(out, ROOT)}")
        return metrics

    def layer_metrics(self, rows: dict, log) -> dict:
        from workloads import ResumeWrite

        catalogue = per_layer_catalogue()
        metrics = {name: _metric(0.0, unit) for name, (unit, _) in catalogue.items()}
        for span, row in rows.items():
            for field in [f for f, _, _ in spans.FIELDS] + ["self_s"]:
                name = f"{span}.{field}"
                if name in metrics:
                    metrics[name]["value"] = float(row[field])
        parent = self.wl.parent
        own = log.job_ids(parent)
        metrics["driver.plan_s"]["value"] = log.plan_s(own)
        if "features.corr.corr_features" in rows:
            metrics["features.corr.corr_features.single_task_stages"]["value"] = float(
                rows["features.corr.corr_features"]["single_task_stages"])
        if "plans.extract.fused_slice_features" in rows:
            metrics["plans.extract.fused_slice_features.python_mb"]["value"] = float(
                rows["plans.extract.fused_slice_features"]["python_mb"])
        if hasattr(self.wl, "written"):
            files, size = self.wl.written
            metrics["sources.checkpoint.files_written"]["value"] = float(files)
            metrics["sources.checkpoint.bytes_written"]["value"] = float(size)
            resume = ResumeWrite.parent
            for part, jobs in callsite_splits(log, resume).items():
                summary = log.summary(jobs)
                for field, value in (("s", summary["job_s"]), ("jobs", summary["jobs"]),
                                     ("tasks", summary["tasks"])):
                    metrics[f"{resume}.{part}.{field}"]["value"] = float(value)
        return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    scratch = harness.Scratch(ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(args, scratch, workloads.WORKLOADS[args.workload])
    print(f"config: master=local[{run.cores}] shuffle_partitions={run.cores} "
          f"driver_memory={harness.DRIVER_MEMORY} workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    t0 = time.perf_counter()
    try:
        metrics = run.traced() if args.trace else run.untraced()
    finally:
        if run.spark is not None:
            run.spark.stop()
        harness.shutdown_jvm()
        scratch.remove()
    for p in run.problems:
        print(f"check failed: {p}")
    report(f"{args.workload} seed={args.seed}", metrics)
    print(f"  failed_ratio {run.failed}/{run.attempted} = {run.failed / run.attempted:.4f}")
    print(f"wall {time.perf_counter() - t0:.1f}s")
    print(json.dumps({
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
