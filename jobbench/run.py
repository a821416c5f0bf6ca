#!/usr/bin/env python3
"""Production-path benchmark of the extraction and curation jobs.

    python3 jobbench/run.py --workload bucketed_words --seed 1 --seconds 10 --trace 0

Workloads drive the job bodies themselves on local[nproc]:

* ``bucketed_words``  - jobs.extract_job.run_job over a write_bucketed_input
                        table, emit=("words",);
* ``warc_all_tables`` - the same job over gzip WARC segments, all seven
                        output kinds, respect_robots=True;
* ``curate_corpus``   - jobs.curate_job.run_job over a documents parquet
                        plus an eval set.

A run generates its inputs from ``--seed`` (untimed, before any session
starts) and then starts one fresh JVM and sets it up to ready: the
session, one tiny job that starts every Python worker, and the
workload's own job body run cold once on a small fixed input. It then
times exactly one whole warm job, whatever ``--seconds`` says and
however fast the program is, so a speed-up never changes what is
timed. With ``--trace 1`` Spark's event log is on and the
benchmark records spans around the calls into each layer; the run then
prints the per-layer metrics instead of the end-to-end ones. The timed
job's committed tables are checked against the generator's ground
truth. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's provenance. See jobbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

try:
    from fusus_spark.session import get_spark  # the program under test; fail early without it
except ImportError as exc:
    sys.exit(f"jobbench: the fusus_spark package is not importable from {ROOT}: {exc}")

from jobbench import check, gen, procstat  # noqa: E402

WORK = os.path.join(ROOT, ".jobbench_work")
STATE = os.path.join(ROOT, ".jobbench_state")  # untraced throughput, kept across runs
NPROC = os.cpu_count() or 1
PASSAGE_N = 12
WARMUP_SCALE = 0.15  # the warm-up job's input, as a share of the timed input

# Input sizes at --scale 1: one fresh-JVM set-up plus one warm job must
# fit in ~45 s on 4 cores (the run budget, jobbench/NOTES.md).
SIZES = {
    "bucketed_words": {"docs": 700, "buckets": 2},
    "warc_all_tables": {"records": 320, "segments": 2 * NPROC, "buckets": 1},
    "curate_corpus": {"docs": 120},
}


class Workload:
    name = ""

    def __init__(self, seed: int, scale: float, root: str):
        self.seed = seed
        self.scale = scale
        self.root = root
        self.out = os.path.join(root, "job")

    def n(self, key: str) -> int:
        return max(8, int(SIZES[self.name][key] * self.scale))

    def prepare(self, spark) -> None:
        """Untimed preparation once the session is up."""

    def run_job(self, spark, out: str) -> dict:
        raise NotImplementedError

    def check(self, out: str, summary: dict) -> tuple[int, int, list[str]]:
        raise NotImplementedError


class BucketedWords(Workload):
    name = "bucketed_words"

    def generate(self) -> None:
        self.docs_dir = os.path.join(self.root, "documents")
        self.table = os.path.join(self.root, "bucketed")
        self.pages = gen.make_documents(self.seed, self.n("docs"), self.docs_dir)
        self.n_docs = len(self.pages)
        self.html_bytes = sum(len(p.html or b"") for p in self.pages)

    def prepare(self, spark) -> None:
        # the bucketed layout is the program's own (write_bucketed_input)
        from fusus_spark.sources.ledger import write_bucketed_input

        write_bucketed_input(spark.read.parquet(self.docs_dir), self.table, SIZES[self.name]["buckets"])

    def run_job(self, spark, out: str) -> dict:
        from fusus_spark.jobs.extract_job import run_job

        return run_job(spark, input_path=self.table, output_path=os.path.join(out, "words"),
                       ledger_path=os.path.join(out, "ledger"),
                       n_buckets=SIZES[self.name]["buckets"], input_format="bucketed-parquet",
                       emit=("words",))

    def check(self, out: str, summary: dict):
        return check.check_words(self.pages, os.path.join(out, "words"))


class WarcAllTables(Workload):
    name = "warc_all_tables"

    def generate(self) -> None:
        self.warc_dir = os.path.join(self.root, "warc")
        self.truth = gen.make_warc(self.seed, self.n("records"), SIZES[self.name]["segments"], self.warc_dir)
        self.n_docs = sum(self.truth.records.values())
        self.html_bytes = sum(os.path.getsize(os.path.join(self.warc_dir, f)) for f in os.listdir(self.warc_dir))

    def run_job(self, spark, out: str) -> dict:
        from fusus_spark.jobs.extract_job import run_job

        return run_job(spark, input_path=self.warc_dir, output_path=os.path.join(out, "tables"),
                       ledger_path=os.path.join(out, "ledger"), table_dir=os.path.join(out, "table"),
                       n_buckets=SIZES[self.name]["buckets"], input_format="warc", emit=gen.EMIT_ALL,
                       respect_robots=True)

    def check(self, out: str, summary: dict):
        return check.check_warc(self.truth, os.path.join(out, "tables"))


class CurateCorpus(Workload):
    name = "curate_corpus"

    def generate(self) -> None:
        self.docs_dir = os.path.join(self.root, "documents")
        self.eval_dir = os.path.join(self.root, "eval")
        self.truth = gen.make_curate(self.seed, self.n("docs"), self.docs_dir, self.eval_dir, PASSAGE_N,
                                     2 * NPROC)
        self.n_docs = self.truth.n_input
        self.html_bytes = 0

    def run_job(self, spark, out: str) -> dict:
        from fusus_spark.jobs.curate_job import run_job

        return run_job(spark, input_path=self.docs_dir, output_path=os.path.join(out, "curated"),
                       eval_path=self.eval_dir, passage_n=PASSAGE_N)

    def check(self, out: str, summary: dict):
        return check.check_curate(self.truth, os.path.join(out, "curated"), summary)


WORKLOADS = {w.name: w for w in (BucketedWords, WarcAllTables, CurateCorpus)}


# ---------------------------------------------------------------------------
# sessions


def _warm_worker(batches):
    from fusus_spark.extraction.extract import extract_document

    extract_document(b"<html><body><nav>menu</nav><p>warm up</p></body></html>", lang="en")
    yield from batches


def start_session(warm: Workload, event_dir: str | None):
    """Fresh JVM -> ready: session start, one tiny job that starts the
    Python workers, and the cold first run of the workload's own job
    body on a small fixed input (seed 0), so every code path the timed
    job takes has run once. Returns (spark, set-up seconds, the seconds
    of each set-up phase)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    extra = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark("jobbench", master=f"local[{NPROC}]", extra=extra)
    t1 = time.perf_counter()
    # one task per core, each in its own Python worker, so every worker
    # starts and has the extraction stack imported before a timed job
    # lands on it, whichever worker that is
    spark.range(0, NPROC, 1, NPROC).mapInArrow(_warm_worker, "id long").collect()
    t2 = time.perf_counter()
    warm.prepare(spark)
    warm.run_job(spark, warm.out)
    t3 = time.perf_counter()
    phases = {"session": round(t1 - t0, 3), "workers": round(t2 - t1, 3), "cold_job": round(t3 - t2, 3)}
    return spark, t3 - t0, phases


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


# ---------------------------------------------------------------------------
# measurement


@dataclass
class Job:
    """The one timed warm job."""

    out: str
    summary: dict
    wall: float  # seconds
    cpu_s: float  # CPU seconds of the session's whole process tree
    start: float  # epoch seconds
    end: float


def time_job(spark, wl: Workload) -> Job:
    c0, e0, t0 = procstat.tree_cpu_s(), time.time(), time.perf_counter()
    summary = wl.run_job(spark, wl.out)
    wall = time.perf_counter() - t0
    return Job(wl.out, summary, wall, procstat.tree_cpu_s() - c0, e0, time.time())


def _source_digest(pkg: str = "fusus_spark") -> str:
    """Digest of the ``.py`` files under ``pkg`` (a checkout need not be a git repository)."""
    h = hashlib.sha1()
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, pkg))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


def _state_key() -> str:
    """The program and benchmark sources an untraced docs/s was measured with."""
    return f"{_source_digest()}-{_source_digest('jobbench')}"


def _commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="not used: a run always times exactly one warm job")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (smoke tests use a tiny one)")
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # keep every JVM's scratch (and HotSpot's perf-data file) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"

    cls = WORKLOADS[args.workload]
    wl = cls(args.seed, args.scale, os.path.join(WORK, "run"))
    warm = cls(0, WARMUP_SCALE * args.scale, os.path.join(WORK, "warmup"))
    wl.generate()  # untimed, before any session starts
    warm.generate()

    tracer = None
    if args.trace:
        from jobbench import trace

        tracer = trace.Tracer(wl, os.path.join(WORK, "eventlog"), os.path.join(STATE, f"{wl.name}.jsonl"),
                              _state_key())
    rss = procstat.WorkerRss()
    host = procstat.HostState()
    with rss, host:
        spark, setup_s, setup_phases = start_session(warm, tracer.event_dir if tracer else None)
        try:
            wl.prepare(spark)
            with tracer.spans_on() if tracer else contextlib.nullcontext():
                job = time_job(spark, wl)
            driver_mem = spark.conf.get("spark.driver.memory")
        finally:
            stop_session(spark)
    metrics = tracer.metrics(job) if tracer else {}

    attempted, failed, problems = wl.check(job.out, job.summary)
    for p in problems[:10]:
        print("jobbench: check failed:", p, file=sys.stderr)

    provenance = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "nproc": NPROC,
        "commit": _commit(), "source_digest": _source_digest(),
        "input_docs": wl.n_docs, "input_bytes": wl.html_bytes,
        "job_wall_s": round(job.wall, 3), "setup_s": round(setup_s, 3),
        "setup_phases_s": setup_phases,
        "spark.driver.memory": driver_mem,
        "steal_frac": round(host.steal_frac, 5), "loadavg_1m": host.loadavg_1m,
        "run_wall_s": round(time.perf_counter() - _T0, 2),
    }
    print(json.dumps({"provenance": provenance}))
    if not tracer:
        docs_per_s = wl.n_docs / job.wall
        metrics = {
            "docs_per_s": {"value": docs_per_s, "unit": "docs/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "worker_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
        if failed == 0:
            # the untraced throughput the traced runs' overhead is taken against
            os.makedirs(STATE, exist_ok=True)
            with open(os.path.join(STATE, f"{wl.name}.jsonl"), "a") as fh:
                fh.write(json.dumps({"seed": args.seed, "scale": args.scale, "state_key": _state_key(),
                                     "docs_per_s": docs_per_s}) + "\n")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
