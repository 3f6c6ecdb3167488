"""The traced run (``--trace 1``): per-layer metrics of one workload.

In one process, in this order:

Every loop runs the workload's first ``trace_jobs`` job inputs, however fast
the code is, so the tables (on ``resume_job``, the manifest chain and the
table the anti-join reads) end in the same state on every run of a seed.

1. the scaling input at local[cores], then the untraced loop;
2. traced loop over the same job inputs -- a fresh SparkContext with the
   event log on, and spans around the pipeline's calls into its layers:
   phase marks at the call sites of the resume read, the results append
   and the job's return, plus the lakehouse's own time.  Each Spark job
   carries the CLI call and phase it was submitted from as local
   properties, which ``layers.py`` reads back;
3. the untraced loop again, in a fresh SparkContext.  The tracing overhead
   is the gap between the traced loop's median job wall and that of the
   two untraced loops around it; then the correctness checks of all three;
4. the scaling input at local[1];
5. a single-process pass over a fixed sample of the workload's own rows with
   spans around the kernel layers' public functions, and a span-free pass
   over a disjoint sample for the single-thread kernel rate.
"""

from __future__ import annotations

import functools
import hashlib
import json
import statistics
import time
from collections import Counter, defaultdict
from pathlib import Path

import harness
import inputs
import jobs
import layers
import verify
from pyspark.sql.readwriter import DataFrameWriter

import universal_key_value_based_text_processing_with_ocr_spark.__main__ as cli_main
from universal_key_value_based_text_processing_with_ocr_spark import plans
from universal_key_value_based_text_processing_with_ocr_spark.kvcore import (
    evaluate,
    ktpspec,
    matching,
    sweep,
    textdist,
    tokenspan,
)
from universal_key_value_based_text_processing_with_ocr_spark.lakehouse.catalog import SnapshotTable
from universal_key_value_based_text_processing_with_ocr_spark.operators import extract

KERNEL_DOCS = {"sweep": 150, "blended": 24}
PIPELINE_PHASES = ("scan", "resume", "plan", "extract_commit", "audit")  # + "exit"


class Patches:
    """Attribute replacements, undone in reverse order."""

    def __init__(self):
        self._saved: list = []

    def set(self, owner, name: str, value) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def undo(self) -> None:
        while self._saved:
            owner, name, value = self._saved.pop()
            setattr(owner, name, value)


class Spans:
    """Nested timing spans: inclusive seconds, self seconds (minus child
    spans) and calls, per span name.  A span inside one of the same name is
    not recorded again, so recursion and re-exported names count once."""

    def __init__(self):
        self.stack: list[list] = []  # [name, seconds of child spans]
        self.total: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()

    def reset(self) -> None:
        self.__init__()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            if any(frame[0] == name for frame in self.stack):
                return fn(*args, **kwargs)
            frame = [name, 0.0]
            self.stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                self.stack.pop()
                self.total[name] += dur
                self.self_s[name] += dur - frame[1]
                self.calls[name] += 1
                if self.stack:
                    self.stack[-1][1] += dur

        return span

    def counter(self, name: str, fn):
        @functools.wraps(fn)
        def count(*args, **kwargs):
            self.calls[name] += 1
            return fn(*args, **kwargs)

        return count


class PipelineTrace:
    """Phase marks and lakehouse spans of each CLI call, in this process.

    Phases: ``scan`` (CLI start: session, package ship, input scan plan),
    ``resume`` (from entry of ``run_extraction_job`` until the committed
    results table has been checked and read), ``plan`` (resume anti-join
    count, partition planning, extract plan), ``extract_commit`` (the
    results append, which runs the fused extract stage), ``audit``
    (everything after the results commit) and ``exit`` (CLI return)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans = Spans()
        self.records: list[dict] = []
        self.index: int | None = None  # None: a call outside the loop (resume base)
        self.results: str | None = None
        self.marks: list[tuple[float, str]] = []
        self.patches = Patches()

    def mark(self, phase: str) -> None:
        self.marks.append((time.perf_counter(), phase))
        self.sc.setLocalProperty("jobbench.phase", phase)

    def phase(self) -> str | None:
        return self.marks[-1][1] if self.marks else None

    def before_call(self, index: int, results_path: Path) -> None:
        self.index = index
        self.results = str(results_path)
        self.sc.setLocalProperty("jobbench.job", str(index))

    def install(self) -> None:
        trace, p, spans = self, self.patches, self.spans

        def main(fn):
            @functools.wraps(fn)
            def wrapper(argv=None):
                spans.reset()
                trace.marks = []
                trace.mark("scan")
                try:
                    return fn(argv)
                finally:
                    trace.record(time.perf_counter())

            return wrapper

        def run_job(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                trace.mark("resume")
                try:
                    return fn(*args, **kwargs)
                finally:
                    trace.mark("exit")

            return wrapper

        def resume_read(fn):
            timed = spans.wrap("lakehouse.read", fn)

            @functools.wraps(fn)
            def wrapper(tbl, *args, **kwargs):
                out = timed(tbl, *args, **kwargs)
                if str(tbl.path) == trace.results and trace.phase() == "resume":
                    if fn.__name__ == "read" or not out:
                        trace.mark("plan")
                return out

            return wrapper

        def append(fn):
            timed = spans.wrap("lakehouse.append", fn)

            @functools.wraps(fn)
            def wrapper(tbl, *args, **kwargs):
                is_results = str(tbl.path) == trace.results
                if is_results:
                    trace.mark("extract_commit")
                try:
                    return timed(tbl, *args, **kwargs)
                finally:
                    if is_results:
                        trace.mark("audit")

            return wrapper

        p.set(cli_main, "main", main(cli_main.main))
        p.set(plans, "run_extraction_job", run_job(plans.run_extraction_job))
        p.set(SnapshotTable, "exists", resume_read(SnapshotTable.exists))
        p.set(SnapshotTable, "read", resume_read(SnapshotTable.read))
        p.set(SnapshotTable, "_resolve_manifest",
              spans.wrap("lakehouse.read", SnapshotTable._resolve_manifest))
        p.set(SnapshotTable, "append", append(SnapshotTable.append))
        p.set(DataFrameWriter, "parquet", spans.wrap("spark.write", DataFrameWriter.parquet))

    def uninstall(self) -> None:
        self.patches.undo()
        self.sc.setLocalProperty("jobbench.job", None)
        self.sc.setLocalProperty("jobbench.phase", None)

    def record(self, end: float) -> None:
        if self.index is None:
            return
        phases: dict[str, float] = defaultdict(float)
        for (t, phase), (t_next, _) in zip(self.marks, self.marks[1:] + [(end, None)]):
            phases[phase] += t_next - t
        self.records.append({
            "index": self.index,
            "wall_s": end - self.marks[0][0],
            "phases_s": dict(phases),
            "lakehouse_read_s": self.spans.total["lakehouse.read"],
            # the lakehouse's own append work: listing, footer stats,
            # manifest chunks and the commit, without the Spark write
            "lakehouse_append_s": self.spans.self_s["lakehouse.append"],
            "spark_write_s": self.spans.total["spark.write"],
        })


# -- kernel layers, single process -------------------------------------------

_TEXTDIST = {
    getattr(textdist, name)
    for name in ("edit_distance", "accuracy", "edit_distance_many", "accuracy_padded",
                 "_edit_distance_cached", "_edit_distance_uncached")
}


def install_kernel_spans(spans: Spans, p: Patches) -> None:
    """Spans around the kernel layers' public functions, in every module
    namespace the extraction path calls them through."""
    p.set(extract, "extract_main_lines", spans.wrap("htmlcore.decode", extract.extract_main_lines))
    for name in ("match_keys_in_line", "match_line_regex"):
        p.set(ktpspec, name, spans.wrap("kvcore.matching", getattr(ktpspec, name)))
    for mod in (ktpspec, evaluate):
        for name, fn in list(vars(mod).items()):
            if name == "eval_nik":
                p.set(mod, name, spans.wrap("kvcore.evaluate.eval_nik", fn))
            elif (name.startswith("eval_") or name == "final_evaluate_ktp") and callable(fn):
                p.set(mod, name, spans.wrap("kvcore.evaluate.other", fn))
    for name in ("sweep_document", "scan_document_all", "blend_parsers"):
        p.set(ktpspec, name, spans.wrap("kvcore.sweep", getattr(ktpspec, name)))
    for mod in (matching, evaluate, tokenspan, sweep, ktpspec):
        for name, fn in list(vars(mod).items()):
            if callable(fn) and fn in _TEXTDIST:
                p.set(mod, name, spans.counter("kvcore.textdist", fn))


def kernel_metrics(parser: str, pages: list[dict], rate_pages: list[dict]) -> dict:
    for page in pages[:2]:  # dictionaries and lazy tables load once
        verify.oracle_row(parser, page)
    spans, p = Spans(), Patches()
    install_kernel_spans(spans, p)
    root = spans.wrap("operators.extract", verify.oracle_row)
    try:
        for page in pages:
            root(parser, page)
    finally:
        p.undo()
    t0 = time.perf_counter()
    for page in rate_pages:
        verify.oracle_row(parser, page)
    rate = len(rate_pages) / (time.perf_counter() - t0)
    n = len(pages)

    def ms(v):
        return 1e3 * v / n

    return {
        "htmlcore.decode_ms_per_doc": ms(spans.total["htmlcore.decode"]),
        "kvcore.matching.calls_per_doc": spans.calls["kvcore.matching"] / n,
        "kvcore.matching.ms_per_doc": ms(spans.total["kvcore.matching"]),
        "kvcore.evaluate.eval_nik.calls_per_doc": spans.calls["kvcore.evaluate.eval_nik"] / n,
        "kvcore.evaluate.eval_nik.ms_per_doc": ms(spans.total["kvcore.evaluate.eval_nik"]),
        "kvcore.evaluate.other_ms_per_doc": ms(spans.self_s["kvcore.evaluate.other"]),
        "kvcore.sweep.self_ms_per_doc": ms(spans.self_s["kvcore.sweep"]),
        "kvcore.textdist.calls_per_doc": spans.calls["kvcore.textdist"] / n,
        "operators.extract.row_overhead_ms_per_doc": ms(spans.self_s["operators.extract"]),
        "kernel.docs_per_s_1thread": rate,
    }


# -- the run -------------------------------------------------------------------


def new_context(cores: int, event_log_dir: Path | None = None):
    """Replace the active SparkContext (the JVM stays) with one at
    local[cores]; the next CLI call builds its session on it."""
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    conf = SparkConf().setMaster(f"local[{cores}]")
    conf.set("spark.eventLog.enabled", "true" if event_log_dir else "false")
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.set("spark.eventLog.dir", event_log_dir.as_uri())
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
    return SparkContext(conf=conf)


def kernel_samples(pages: list[dict], exclude: set[str], k: int) -> tuple[list, list]:
    ranked = sorted(
        (p for p in pages if p["url"] not in exclude),
        key=lambda p: hashlib.sha1(f"kernel:{p['url']}".encode()).digest(),
    )
    return ranked[:k], ranked[k : 2 * k]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run(name: str, w: jobs.Workload, args, cache: Path, run_dir: Path) -> dict:
    cores = harness.cores()
    paths = inputs.materialise(cache, args.seed, jobs.layout(w))
    event_dir = run_dir / "eventlog"

    # 1. untraced loop, after the scaling input at local[cores] has warmed
    # the JVM as much as the traced loop will find it
    new_context(cores)
    jobs.warm_up(paths, run_dir / "warm", w.parser)
    wall_n, info_n = jobs.cli(paths["scale"], run_dir / "scale", f"local{cores}", w.parser)
    plain_jobs = jobs.run_loop(w, paths, run_dir / "plain", n_jobs=w.trace_jobs)

    # 2. traced loop over the same inputs
    sc = new_context(cores, event_dir)
    jobs.warm_up(paths, run_dir / "warm", w.parser)
    trace = PipelineTrace(sc)
    trace.install()
    cpu0, t0 = harness.tree_cpu_s(), time.perf_counter()
    try:
        traced_jobs = jobs.run_loop(w, paths, run_dir / "traced", n_jobs=w.trace_jobs,
                                    before_call=trace.before_call)
    finally:
        loop_s, cpu_s = time.perf_counter() - t0, harness.tree_cpu_s() - cpu0
        trace.uninstall()

    # 3. the untraced loop again: the overhead compares the traced loop with
    # untraced loops on both sides of it, so JVM warm-up cancels
    new_context(cores)
    jobs.warm_up(paths, run_dir / "warm", w.parser)
    plain_after = jobs.run_loop(w, paths, run_dir / "plain_after", n_jobs=w.trace_jobs)

    # checks, while a session is up
    chk = verify.Check()
    attempted, out_digest = jobs.check(w, paths, traced_jobs, chk)
    for loop in (plain_jobs, plain_after):
        attempted += jobs.check(w, paths, loop, chk)[0]

    # 4. the scaling input at local[1]
    new_context(1)
    jobs.warm_up(paths, run_dir / "warm", w.parser)
    wall_1, info_1 = jobs.cli(paths["scale"], run_dir / "scale", "local1", w.parser)
    harness.stop_spark()

    # event log of the traced context
    (log_file,) = [f for f in event_dir.iterdir() if f.is_file()]
    spark_side = layers.report(layers.read_events(log_file))

    # 5. kernel
    pages = [p for j in traced_jobs for p in inputs.read_pages(j.input)]
    oracle_urls = set(verify.sample_urls({p["url"] for p in pages}, w.oracle_docs))
    k = KERNEL_DOCS[w.parser] if not args.tiny else 4
    sample, rate_sample = kernel_samples(pages, oracle_urls, k)
    kernel = kernel_metrics(w.parser, sample, rate_sample)

    calls = []
    for job, rec in zip(traced_jobs, trace.records, strict=True):
        spark = spark_side.get(str(rec["index"]), {})
        snap_files = list((job.results / "data" / job.snapshot_id).glob("*.parquet"))
        calls.append({
            **rec,
            "cli_wall_s": job.wall_s,
            "n_docs": job.n_docs,
            "files_per_commit": len(snap_files),
            "bytes_written_per_input_byte": spark.get("output_bytes", 0) / job.input.stat().st_size,
            "spark": spark,
        })
    ext = [c["spark"].get("extract") or {} for c in calls]
    plain_docs_per_s = jobs.docs_per_s(plain_jobs + plain_after)
    metrics = {
        **{f"plans.pipeline.{ph}_s": median(c["phases_s"].get(ph, 0.0) for c in calls)
           for ph in PIPELINE_PHASES},
        "lakehouse.read_s": median(c["lakehouse_read_s"] for c in calls),
        "lakehouse.append_s": median(c["lakehouse_append_s"] for c in calls),
        "lakehouse.files_per_commit": median(c["files_per_commit"] for c in calls),
        "lakehouse.bytes_written_per_input_byte": median(
            c["bytes_written_per_input_byte"] for c in calls),
        "lakehouse.snapshots": len(list((traced_jobs[-1].results / "_snapshots").glob("v*.json"))),
        "plans.partitioning.shuffle_write_bytes": median(
            c["spark"].get("shuffle_write_bytes", 0) for c in calls),
        "plans.partitioning.shuffle_fetch_wait_s": median(
            e.get("shuffle_fetch_wait_s", 0.0) for e in ext),
        "plans.partitioning.task_skew": median(e.get("task_skew", 0.0) for e in ext),
        **{f"operators.extract.{key}": median(e.get(key, 0.0) for e in ext)
           for key in ("stage_s", "python_run_s", "python_start_s", "bytes_to_python",
                       "bytes_from_python", "executor_cpu_s", "gc_s")},
        "spark.cpu_util": cpu_s / (loop_s * cores),
        **kernel,
        "spark.parallel_eff": plain_docs_per_s / (cores * kernel["kernel.docs_per_s_1thread"]),
        "job.scaling_eff_1_to_n": (info_n["n_docs"] / wall_n) / (info_1["n_docs"] / wall_1) / cores,
        "trace.overhead_frac": median(j.wall_s for j in traced_jobs)
        / median(j.wall_s for j in plain_jobs + plain_after) - 1.0,
    }
    units = {
        "_s": "s", "ms_per_doc": "ms", "calls_per_doc": "count", "_bytes": "bytes",
        "bytes_to_python": "bytes", "bytes_from_python": "bytes", "files_per_commit": "count",
        "snapshots": "count", "docs_per_s_1thread": "1/s",
    }

    def unit(key: str) -> str:
        return next((u for suffix, u in units.items() if key.endswith(suffix)), "ratio")

    report = {
        "workload": name, "seed": args.seed, "cores": cores,
        "traced_calls": calls,
        "plain_walls_s": [[j.wall_s for j in loop] for loop in (plain_jobs, plain_after)],
        "scaling": {"local1_s": wall_1, f"local{cores}_s": wall_n, "docs": info_n["n_docs"]},
        "checks": chk.counts, "output_digest": out_digest,
        # phase walls partition the call's wall, so the first ratio is 1 by
        # construction; the second is the share of the wall that Spark jobs
        # (event log) cover
        "phase_sum_over_wall": [sum(c["phases_s"].values()) / c["cli_wall_s"] for c in calls],
        "spark_jobs_over_wall": [
            sum(c["spark"].get("phase_spark_s", {}).values()) / c["cli_wall_s"] for c in calls
        ],
    }
    print(json.dumps(report))
    failed = chk.n_failed()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: jobs.metric(v, unit(k)) for k, v in metrics.items()},
    }
