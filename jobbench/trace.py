"""The traced run: spans around calls into each layer, Spark's event
log, and in-process timing of the extraction layers.

Spans are recorded from the benchmark's side only: the job call itself
plus wrappers the tracer installs on module attributes the job bodies
look up at call time (``ledger.write_bucketed_input``,
``ledger._commit_bucket``). Each Spark job in the event log is
attributed to the innermost span open when it was submitted, and each
write to its output path.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import sys
import time
from collections import defaultdict

from jobbench import gen

EMIT_ALL = gen.EMIT_ALL
CURATE_TIERS = {  # output dir under the curate job's root -> tier
    "input": "input", "audit/url_dedup": "url_dedup", "audit/exact_dedup": "exact_dedup",
    "stage/deduped": "line_dedup", "stage/passage_deduped": "passage_dedup",
    "audit/gate": "gate", "audit/contamination": "decontam", "corpus": "pii",
}
CURATE_KEPT = {
    "kept.url_dedup": "n_after_url_dedup", "kept.exact_dedup": "n_after_exact_dedup",
    "kept.gate": "n_after_gate", "kept.final": "n_final",
    "removed.lines": "n_dup_lines_removed", "removed.passage_tokens": "n_passage_tokens_removed",
    "removed.contaminated": "n_contaminated",
}
LAYER_SAMPLE_DOCS = 160
LAYER_ROUNDS = 3

_WRITE_RE = re.compile(r"Arguments: (?:file:)?(/[^\s,]+), (?:true|false), Parquet")
_PATH_RE = re.compile(r"file:(/[^\s,\]\)]+)")


def metric_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    return [
        "extraction.domparse.decode_us", "extraction.domparse_fast.parse_us",
        "extraction.boilerplate.strip_us", "extraction.segment.segment_us",
        "extraction.segment.assemble_us", "extraction.pipeline.arrow_us",
        "extraction.core_docs_per_s", "extraction.words_out", "extraction.removals_out",
        *(f"extraction.status.{s}" for s in ("extracted", "empty", "error", "capped")),
        "sources.ledger.bucket_s.p50", "sources.ledger.bucket_s.max",
        "sources.ledger.stats_scan_s", "sources.ledger.write_s", "sources.ledger.commit_s",
        "sources.ledger.scan_amplification",
        *(f"sources.ledger.write_s.{k}" for k in EMIT_ALL),
        "spark.jobs", "spark.udf_stage_tasks", "spark.core_busy_frac", "spark.task_skew",
        "spark.executor_cpu_s", "spark.gc_s", "spark.python_sent_mb", "spark.python_recv_mb",
        "spark.shuffle_write_mb", "spark.spill_mb",
        "spark.udf_stage_wall_frac", "spark.shuffle_stage_wall_frac",
        "spark.other_stage_wall_frac", "spark.outside_stage_wall_frac",
        "sources.warc.ingest_s",
        *(f"sources.warc.records.{c}" for c in ("2xx", "3xx", "4xx")),
        *(f"jobs.curate_job.tier_s.{t}" for t in CURATE_TIERS.values()),
        *(f"jobs.curate_job.{k}" for k in CURATE_KEPT),
        "process.cpu_ms_per_doc", "trace.overhead_frac", "trace.docs_per_s",
    ]


def _unit(name: str) -> str:
    if name.endswith("_us"):
        return "us"
    if name.endswith("_per_s"):
        return "docs/s"
    if name.endswith("_ms_per_doc"):
        return "ms"
    if name.endswith(("_s", ".p50", ".max")) or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_skew", "amplification")):
        return "ratio"
    return "count"


class Spans:
    def __init__(self):
        self.items: list[tuple[str, float, float]] = []  # (name, start, end), epoch seconds

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append((name, t0, time.time()))

    def innermost(self, t: float) -> str | None:
        best = None
        for name, s, e in self.items:
            if s <= t <= e and (best is None or s >= best[1]):
                best = (name, s)
        return best[0] if best else None


@contextlib.contextmanager
def _wrapped(module, attr: str, spans: Spans, name: str):
    orig = getattr(module, attr)

    def wrapper(*a, **kw):
        with spans.span(name):
            return orig(*a, **kw)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, orig)


# ---------------------------------------------------------------------------
# event log


class EventLog:
    def __init__(self, event_dir: str):
        files = [os.path.join(event_dir, f) for f in os.listdir(event_dir) if not f.startswith(".")]
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql: dict[int, dict] = {}
        self._files_read_ids: dict[int, int] = {}  # accumulator id -> execution id
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            eid = e.get("Properties", {}).get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1000, "end": None,
                                      "stages": e["Stage IDs"], "exec": int(eid) if eid else None}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time"):
                self.stages[info["Stage ID"]] = {
                    "submit": info["Submission Time"] / 1000,
                    "end": info["Completion Time"] / 1000,
                }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            acc = {a["Name"]: float(a.get("Update", 0) or 0) for a in ti.get("Accumulables", [])}
            sw = tm.get("Shuffle Write Metrics", {})
            sr = tm.get("Shuffle Read Metrics", {})
            self.tasks[e["Stage ID"]].append({
                "run_s": tm.get("Executor Run Time", 0) / 1000,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000,
                "sent": acc.get("data sent to Python workers", 0.0),
                "recv": acc.get("data returned from Python workers", 0.0),
                "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                "shuffle_r": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            m = _WRITE_RE.search(plan)
            self.sql[e["executionId"]] = {
                "desc": e.get("description", ""), "write": m.group(1) if m else None,
                "scans": _PATH_RE.findall(plan), "files_read": 0,
            }
            self._scan_metrics(e["executionId"], e.get("sparkPlanInfo", {}))
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._scan_metrics(e["executionId"], e.get("sparkPlanInfo", {}))
        elif kind.endswith("SQLDriverAccumUpdates") or kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                ex = self._files_read_ids.get(acc_id)
                if ex is not None and ex in self.sql:
                    self.sql[ex]["files_read"] += value

    def _scan_metrics(self, exec_id: int, info: dict) -> None:
        """Remember the accumulators of every scan's "size of files read"."""
        todo = [info]
        while todo:
            node = todo.pop()
            for met in node.get("metrics", []):
                if met.get("name") == "size of files read":
                    self._files_read_ids[met["accumulatorId"]] = exec_id
            todo.extend(node.get("children", []))

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.jobs.values() if t0 <= j["submit"] <= t1 and j["end"] is not None]

    def exec_of(self, job: dict) -> dict:
        return self.sql.get(job["exec"], {"desc": "", "write": None, "scans": []})


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _x, fs in os.walk(root)
               for f in fs if f.endswith(".parquet"))


# ---------------------------------------------------------------------------
# extraction layers, in-process


def layer_metrics() -> dict[str, float]:
    """Per-doc time of each extraction layer's public function on a
    fixed sample (seed 0, every page kind), best of a few rounds."""
    from fusus_spark.extraction import pipeline
    from fusus_spark.extraction.boilerplate import strip_boilerplate
    from fusus_spark.extraction.domparse import decode_html
    from fusus_spark.extraction.domparse_fast import parse_html_fast
    from fusus_spark.extraction.extract import extract_document
    from fusus_spark.extraction.rewrite import compiled_for_lang
    from fusus_spark.extraction.segment import assemble, segment_blocks

    import random

    rng = random.Random(0)
    kinds = ["ar"] * 8 + ["charset"] * 5 + ["empty"] * 3 + ["malformed"] * 3
    kinds += ["normal"] * (LAYER_SAMPLE_DOCS - len(kinds))
    pages = [gen.build_page(rng, i, k, gen.para_count((i + 0.5) / LAYER_SAMPLE_DOCS))
             for i, k in enumerate(kinds)]
    docs = [(p.html, p.lang, p.charset) for p in pages if p.html]
    n = len(pages)
    best: dict[str, float] = defaultdict(lambda: float("inf"))
    clock = time.perf_counter
    for _ in range(LAYER_ROUNDS):
        tot = defaultdict(float)
        for html, lang, cs in docs:
            t0 = clock()
            text = decode_html(html, cs)
            t1 = clock()
            root = parse_html_fast(text)
            t2 = clock()
            root, _rem = strip_boilerplate(root)
            t3 = clock()
            blocks = segment_blocks(root, rewrites=compiled_for_lang(lang))
            t4 = clock()
            assemble(blocks)
            t5 = clock()
            for k, dt in zip(("decode", "parse", "strip", "segment", "assemble"),
                             (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
                tot[k] += dt
        # the batch function, minus the per-doc extract_document calls it makes
        inner = [0.0]
        orig = pipeline.extract_document

        def timed(*a, **kw):
            t = clock()
            try:
                return orig(*a, **kw)
            finally:
                inner[0] += clock() - t

        pipeline.extract_document = timed
        try:
            t0 = clock()
            pipeline._extract_batches_arrow([p.url for p in pages], [p.html for p in pages],
                                            [p.lang for p in pages], 4 * 1024 * 1024, True,
                                            [p.charset for p in pages])
            tot["arrow"] = clock() - t0 - inner[0]
            tot["core"] = inner[0]
        finally:
            pipeline.extract_document = orig
        for k, v in tot.items():
            best[k] = min(best[k], v)
    results = [extract_document(p.html, lang=p.lang, charset=p.charset) for p in pages]
    out = {
        "extraction.domparse.decode_us": best["decode"] / n * 1e6,
        "extraction.domparse_fast.parse_us": best["parse"] / n * 1e6,
        "extraction.boilerplate.strip_us": best["strip"] / n * 1e6,
        "extraction.segment.segment_us": best["segment"] / n * 1e6,
        "extraction.segment.assemble_us": best["assemble"] / n * 1e6,
        "extraction.pipeline.arrow_us": best["arrow"] / n * 1e6,
        "extraction.core_docs_per_s": n / (best["core"] + best["arrow"]),
        "extraction.words_out": sum(len(r["words"]) for r in results),
        "extraction.removals_out": sum(len(r["removals"]) for r in results),
    }
    for s in ("extracted", "empty", "error", "capped"):
        out[f"extraction.status.{s}"] = sum(1 for r in results if r["status"] == s)
    return out


# ---------------------------------------------------------------------------


class Tracer:
    """Collects spans and per-job facts during the traced session, then
    turns them and the event log into the per-layer metrics."""

    def __init__(self, wl, event_dir: str, untraced_log: str, state_key: str):
        self.wl = wl
        self.event_dir = event_dir
        self.untraced_log = untraced_log
        self.state_key = state_key
        self.spans = Spans()

    @contextlib.contextmanager
    def spans_on(self):
        from fusus_spark.sources import ledger

        with _wrapped(ledger, "write_bucketed_input", self.spans, "warc.ingest"), \
                _wrapped(ledger, "_commit_bucket", self.spans, "ledger.commit"):
            yield

    def metrics(self, job) -> dict[str, dict]:
        """The per-layer metrics of the timed job (a ``run.Job``)."""
        m: dict[str, float] = dict.fromkeys(metric_names(), 0.0)
        m.update(layer_metrics())
        m.update(self._job_metrics(EventLog(self.event_dir), job))
        led = os.path.join(job.out, "ledger")
        rows = []
        if os.path.isdir(led):
            for f in sorted(os.listdir(led)):
                if f.endswith(".json"):
                    with open(os.path.join(led, f)) as fh:
                        rows.append(json.load(fh))
        walls = sorted(r["wall_ms"] / 1000 for r in rows)
        if walls:
            m["sources.ledger.bucket_s.p50"] = statistics.median(walls)
            m["sources.ledger.bucket_s.max"] = walls[-1]
        truth = getattr(self.wl, "truth", None)
        if isinstance(truth, gen.WarcTruth):
            for c, v in truth.records.items():
                m[f"sources.warc.records.{c}"] = v
        if "n_final" in job.summary:
            for name, key in CURATE_KEPT.items():
                m[f"jobs.curate_job.{name}"] = job.summary.get(key, 0)
        m["process.cpu_ms_per_doc"] = job.cpu_s * 1000 / self.wl.n_docs
        m["trace.docs_per_s"] = self.wl.n_docs / job.wall
        plain = self._untraced_docs_per_s()
        if plain:
            m["trace.overhead_frac"] = 1 - m["trace.docs_per_s"] / plain
        return {k: {"value": float(v), "unit": _unit(k)} for k, v in m.items()}

    def _untraced_docs_per_s(self) -> float | None:
        """Median docs/s of the untraced runs of this workload recorded in
        this checkout for the same sources and input scale (None before any)."""
        try:
            with open(self.untraced_log) as fh:
                vals = [r["docs_per_s"] for r in map(json.loads, fh)
                        if r["state_key"] == self.state_key and r["scale"] == self.wl.scale]
        except OSError:
            vals = []
        if not vals:
            print("jobbench: no untraced run recorded yet; trace.overhead_frac is 0", file=sys.stderr)
            return None
        return statistics.median(vals)

    def _job_metrics(self, log: EventLog, job) -> dict[str, float]:
        """The timed job's figures, from the Spark jobs and spans inside its window."""
        t0, t1 = job.start, job.end
        jobs = log.jobs_between(t0, t1)
        wall = t1 - t0
        out = os.path.realpath(job.out)
        stages = [s for j in jobs for s in j["stages"] if s in log.stages]
        tasks = [t for s in stages for t in log.tasks.get(s, [])]
        udf = [s for s in stages if any(t["sent"] for t in log.tasks.get(s, []))]
        shuffle = [s for s in stages if s not in udf and any(
            t["shuffle_w"] or t["shuffle_r"] for t in log.tasks.get(s, []))]
        iv = {s: (log.stages[s]["submit"], log.stages[s]["end"]) for s in stages}
        u_udf = _union_len([iv[s] for s in udf])
        u_shuf = _union_len([iv[s] for s in udf + shuffle]) - u_udf
        u_all = _union_len(list(iv.values()))
        ncores = os.cpu_count() or 1
        run = [t["run_s"] for t in tasks]
        heavy = max(stages, key=lambda s: sum(t["run_s"] for t in log.tasks.get(s, [])), default=None)
        heavy_runs = sorted(t["run_s"] for t in log.tasks.get(heavy, [])) if heavy is not None else []
        m: dict[str, float] = {}
        add = m.__setitem__
        add("spark.jobs", len(jobs))
        add("spark.udf_stage_tasks", sum(len(log.tasks.get(s, [])) for s in udf))
        add("spark.core_busy_frac", sum(run) / (wall * ncores))
        add("spark.task_skew", heavy_runs[-1] / max(statistics.median(heavy_runs), 1e-3) if heavy_runs else 0.0)
        add("spark.executor_cpu_s", sum(t["cpu_s"] for t in tasks))
        add("spark.gc_s", sum(t["gc_s"] for t in tasks))
        add("spark.python_sent_mb", sum(t["sent"] for t in tasks) / 2**20)
        add("spark.python_recv_mb", sum(t["recv"] for t in tasks) / 2**20)
        add("spark.shuffle_write_mb", sum(t["shuffle_w"] for t in tasks) / 2**20)
        add("spark.spill_mb", sum(t["spill"] for t in tasks) / 2**20)
        add("spark.udf_stage_wall_frac", u_udf / wall)
        add("spark.shuffle_stage_wall_frac", u_shuf / wall)
        add("spark.other_stage_wall_frac", (u_all - u_udf - u_shuf) / wall)
        add("spark.outside_stage_wall_frac", 1 - u_all / wall)

        spans = [(n, e - s) for n, s, e in self.spans.items if t0 <= s and e <= t1]
        ingest = [d for n, d in spans if n == "warc.ingest"]
        commits = [d for n, d in spans if n == "ledger.commit"]
        if self.wl.name != "curate_corpus":
            stats = writes = read = 0.0
            scanned: set = set()
            kinds: dict[str, float] = defaultdict(float)
            for j in jobs:
                if self.spans.innermost(j["submit"]) == "warc.ingest":
                    continue
                ex = log.exec_of(j)
                dur = j["end"] - j["submit"]
                if j["exec"] not in scanned:
                    scanned.add(j["exec"])
                    read += ex.get("files_read", 0)
                if ex["write"] and ".staging/" in ex["write"]:
                    writes += dur
                    kind = os.path.basename(ex["write"].split(".staging/")[0])
                    kinds[kind if kind in EMIT_ALL else "words"] += dur
                elif ex["desc"].startswith("first at") and "ledger.py" in ex["desc"]:
                    stats += dur
            add("sources.ledger.stats_scan_s", stats)
            add("sources.ledger.write_s", writes)
            for kind in EMIT_ALL:
                add(f"sources.ledger.write_s.{kind}", kinds.get(kind, 0.0))
            add("sources.ledger.commit_s", sum(commits))
            table = getattr(self.wl, "table", None) or os.path.join(out, "table")
            table_bytes = _dir_bytes(table) if os.path.isdir(table) else 0
            if table_bytes:
                add("sources.ledger.scan_amplification", read / table_bytes)
        if self.wl.name == "warc_all_tables":
            add("sources.warc.ingest_s", sum(ingest))
        if self.wl.name == "curate_corpus":
            tiers: dict[str, float] = defaultdict(float)
            for j in jobs:
                tier = _curate_tier(log.exec_of(j), out)
                if tier:
                    tiers[tier] += j["end"] - j["submit"]
            for tier in CURATE_TIERS.values():
                add(f"jobs.curate_job.tier_s.{tier}", tiers.get(tier, 0.0))
        return m


def _curate_tier(ex: dict, out: str) -> str | None:
    """The tier a curate-job Spark job belongs to: the one that owns the
    path it writes, else the latest tier among the paths it scans."""
    order = list(CURATE_TIERS)

    def tier_of(path: str) -> str | None:
        rel = os.path.relpath(os.path.realpath(path), os.path.join(out, "curated"))
        if rel.startswith(".."):
            return "input"
        for key in sorted(CURATE_TIERS, key=len, reverse=True):
            if rel == key or rel.startswith(key + "/"):
                return key
        return None

    if ex["write"]:
        key = tier_of(ex["write"])
        return CURATE_TIERS.get(key) if key else None
    keys = [k for k in (tier_of(p) for p in ex["scans"]) if k]
    return CURATE_TIERS[max(keys, key=order.index)] if keys else None
