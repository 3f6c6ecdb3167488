"""The three workloads: their inputs, the closed loop of CLI calls, and the
correctness checks of what the jobs committed."""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import harness
import inputs
import verify


@dataclass(frozen=True)
class Workload:
    parser: str
    resume: bool  # False: every job commits into fresh tables
    slice_docs: int  # new documents per job input
    n_slices: int  # distinct job inputs; the loop never repeats one
    min_jobs: int  # jobs always run; the output digest covers exactly these
    oracle_docs: int  # documents re-parsed by the single-process oracle
    scale_docs: int  # traced run: the input run at local[1] and local[cores]
    trace_jobs: int  # traced run: calls per loop, so every table ends the same
    base_docs: int = 0  # resume: committed, untimed, before the loop
    resend_docs: int = 0  # resume: already-committed urls in every job input


WORKLOADS = {
    # kvcore.matching and htmlcore do most of the work; one large commit
    "sweep_job": Workload("sweep", False, 800, 12, 2, 120, 600, 3),
    # kvcore.evaluate.eval_nik does most of the work, ~25x more per
    # generic page than per KTP page, so row-balanced partitions skew
    "blended_job": Workload("blended", False, 46, 16, 2, 12, 92, 3),
    # the anti-join read, many small appends and a growing manifest chain
    # (increment sizes: see README.md, "resume_job sizing")
    "resume_job": Workload("sweep", True, 100, 24, 3, 120, 600, 4, base_docs=1000,
                           resend_docs=100),
}
TINY = {  # --tiny: the self-test's sizes
    name: Workload(w.parser, w.resume, 8, 3, 2, 4, 8, 2, base_docs=16 if w.resume else 0,
                   resend_docs=4 if w.resume else 0)
    for name, w in WORKLOADS.items()
}

WARMUP_DOCS = 16
N_NOOP = 5


@dataclass
class Job:
    input: Path
    results: Path
    wall_s: float
    n_docs: int
    snapshot_id: str


def layout(w: Workload) -> list[tuple[str, int, int]]:
    out = [("base", w.base_docs, 0)] if w.resume else []
    out += [(f"job{j:03d}", w.slice_docs, w.resend_docs) for j in range(w.n_slices)]
    # after the job inputs, so no job input re-sends one of these urls
    return out + [("scale", w.scale_docs, 0), ("warmup", WARMUP_DOCS, 0)]


def cli(inp: Path, tables: Path, name: str, parser: str) -> tuple[float, dict]:
    return harness.run_cli([
        "--input", str(inp),
        "--results", str(tables / name),
        "--audit", str(tables / f"{name}_audit"),
        "--parser", parser,
    ])


def warm_up(paths, tables: Path, parser: str) -> float:
    """One CLI call on a small table: starts the session (if none is up)
    and makes the Python workers import the kernel.  Returns its wall."""
    return cli(paths["warmup"], tables, f"warmup{time.time_ns()}", parser)[0]


def run_loop(w: Workload, paths, tables: Path, seconds: float | None = None,
             n_jobs: int | None = None, before_call=None, at_min_jobs=None) -> list[Job]:
    """The closed loop: job inputs in order, one CLI call after another,
    until ``seconds`` have passed (never fewer than ``w.min_jobs`` calls) or
    ``n_jobs`` calls are done.  ``before_call(index, results_path)`` runs
    before each call, outside its timing; ``at_min_jobs(job)`` runs once,
    after the ``w.min_jobs``-th call, outside the loop's clock -- the
    tables are then in the same state on every run of a seed."""
    results = "results"
    if w.resume:
        cli(paths["base"], tables, results, w.parser)  # untimed, code under test
    jobs: list[Job] = []
    t0 = time.perf_counter()
    for j in range(w.n_slices if n_jobs is None else n_jobs):
        if seconds is not None and j >= w.min_jobs and time.perf_counter() - t0 >= seconds:
            break
        name = results if w.resume else f"results{j:03d}"
        if before_call is not None:
            before_call(j, tables / name)
        inp = paths[f"job{j:03d}"]
        wall, info = cli(inp, tables, name, w.parser)
        jobs.append(Job(inp, tables / name, wall, info["n_docs"], info["snapshot_id"]))
        if len(jobs) == w.min_jobs and at_min_jobs is not None:
            paused = time.perf_counter()
            at_min_jobs(jobs[-1])
            t0 += time.perf_counter() - paused
    return jobs


def noop_reruns(w: Workload, last: Job, chk: verify.Check) -> list[float]:
    """Re-runs of a job input into its committed tables; each must commit
    nothing.  The first is left out of the walls: it is the first call of
    the empty-anti-join plan in the session and runs slower than the rest."""
    walls = []
    for _ in range(N_NOOP + 1):
        wall, info = cli(last.input, last.results.parent, last.results.name, w.parser)
        chk.summary(info["n_docs"], 0)
        walls.append(wall)
    return walls[1:]


def drop_one_row(table: Path) -> None:
    """Delete the first row of the table's first non-empty data file
    (self-test)."""
    import pyarrow.parquet as pq

    for path in sorted((table / "data").rglob("*.parquet")):
        t = pq.read_table(path)
        if t.num_rows:
            pq.write_table(t.slice(1), path)
            path.with_name(f".{path.name}.crc").unlink(missing_ok=True)  # Hadoop's checksum
            return


def check(w: Workload, paths, jobs: list[Job], chk: verify.Check) -> tuple[int, str]:
    """Check what ``jobs`` committed into ``chk``; returns the documents
    attempted and the digest of the rows the first ``w.min_jobs`` jobs
    committed (the same on every run of one seed, however many jobs ran)."""
    spark = harness.active_spark()
    pages: dict[str, dict] = {}
    attempted = 0
    rows: list[dict] = []
    digest_rows: list[dict] = []
    if w.resume:
        pages.update((p["url"], p) for p in inputs.read_pages(paths["base"]))
        digest_urls = set(pages)
        for k, job in enumerate(jobs):
            job_pages = inputs.read_pages(job.input)
            new = {p["url"] for p in job_pages} - pages.keys()
            chk.summary(job.n_docs, len(new))
            pages.update((p["url"], p) for p in job_pages)
            attempted += len(job_pages)
            if k < w.min_jobs:
                digest_urls |= new
        rows = verify.committed_rows(spark, jobs[-1].results)
        chk.table(rows, set(pages))
        digest_rows = [r for r in rows if r["url"] in digest_urls]
    else:
        for k, job in enumerate(jobs):
            job_pages = inputs.read_pages(job.input)
            urls = {p["url"] for p in job_pages}
            pages.update((p["url"], p) for p in job_pages)
            attempted += len(job_pages)
            job_rows = verify.committed_rows(spark, job.results)
            chk.summary(job.n_docs, len(urls))
            chk.table(job_rows, urls)
            rows += job_rows
            if k < w.min_jobs:
                digest_rows += job_rows
    by_url = {r["url"]: r for r in rows}
    chk.oracle(w.parser, by_url, pages, verify.sample_urls(pages, w.oracle_docs))
    return attempted, verify.digest(digest_rows)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_untraced(name: str, w: Workload, args, cache: Path, tables: Path) -> dict:
    """The end-to-end metrics of one workload (``--trace 0``)."""
    imports_s = harness.process_age_s()  # interpreter start, imports, env
    paths = inputs.materialise(cache, args.seed, layout(w))
    setup_s = imports_s + warm_up(paths, tables, w.parser)
    chk = verify.Check()
    noop: list[float] = []
    jobs = run_loop(w, paths, tables, seconds=args.seconds,
                    at_min_jobs=lambda job: noop.extend(noop_reruns(w, job, chk)))
    peak_rss = harness.tree_peak_rss_mb()
    if args.drop_committed_row:
        drop_one_row(jobs[0].results)
    attempted, out_digest = check(w, paths, jobs, chk)
    failed = chk.n_failed()
    print(json.dumps({
        "workload": name, "cores": harness.cores(), "jobs": len(jobs),
        "docs_committed": sum(j.n_docs for j in jobs),
        "job_walls_s": [j.wall_s for j in jobs], "noop_walls_s": noop,
        "checks": chk.counts, "docs_failed_frac": failed / attempted,
        "output_digest": out_digest,
    }))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": metric(docs_per_s(jobs), "1/s"),
            "job_wall_s": metric(statistics.median(j.wall_s for j in jobs), "s"),
            "resume_noop_s": metric(statistics.median(noop), "s"),
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(peak_rss, "MB"),
        },
    }


def docs_per_s(jobs: list[Job]) -> float:
    """Newly committed documents per second of job wall time."""
    return sum(j.n_docs for j in jobs) / sum(j.wall_s for j in jobs)
