"""Spans around the program's layer functions, for the traced run.

The benchmark never edits the program: ``Tracer.install`` rebinds the
layer functions in the modules that call them, and each wrapper

1. materializes the DataFrame arguments it depends on (persist + count)
   outside its span, so the span holds only its own layer's work;
2. calls the real function inside a span whose name is the layer;
3. forces a lazy result to a sink (persist + count) inside the span,
   and hands the persisted frame back to the caller.

Every span tags its Spark jobs with a job group, and after each job the
stage metrics (CPU, run time, GC, shuffle, spill) are read from Spark's
status REST API and attributed to the span's layer. CPU of the Python
workers is read from ``/proc`` around each span. Spans are kept in memory
and written as JSON when the run ends.

The forcing changes the plan (intermediates are cached instead of
recomputed), which is why end-to-end metrics come from untraced runs and
the traced run reports its own overhead.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

_GROUP_KEY = "spark.jobGroup.id"
_CLK_TCK = os.sysconf("SC_CLK_TCK")

# span name -> the layer whose busy time it adds to
_BUSY = {
    "extract": "extract.busy_s",
    "resolve": "resolve.busy_s",
    "canonicalize": "canonicalize.busy_s",
    "merge.write": "merge.busy_s",
    "mcf_mutator": "mcf_mutator.busy_s",
    "mcf_checker": "mcf_checker.busy_s",
    "mcf_resolver": "mcf_resolver.busy_s",
}
# span name -> the metric that is exactly its duration
_DURATION = {
    "sources.scan": "sources.scan_s",
    "merge.write": "merge.write_s",
    "lineage.write": "lineage.write_s",
    "streaming.ingest": "streaming.ingest_s",
    "sources.tmcf_expand": "sources.tmcf_expand_s",
    "sources.mcf_write": "sources.mcf_write_s",
}

# every per-layer metric the traced run reports (0 when a workload does
# not reach the layer)
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.scan_rows": "count",
    "extract.busy_s": "s",
    "extract.cpu_s": "s",
    "extract.rows_in": "count",
    "extract.rows_out": "count",
    "resolve.busy_s": "s",
    "resolve.defs": "count",
    "resolve.failed_rows": "count",
    "canonicalize.busy_s": "s",
    "canonicalize.edges": "count",
    "canonicalize.components": "count",
    "merge.busy_s": "s",
    "merge.rows_in": "count",
    "merge.rows_out": "count",
    "merge.useful_ratio": "ratio",
    "merge.shuffle_write_mb": "MB",
    "merge.spill_mb": "MB",
    "merge.write_s": "s",
    "lineage.write_s": "s",
    "streaming.ingest_s": "s",
    "streaming.batches": "count",
    "streaming.rows_out": "count",
    "sources.tmcf_expand_s": "s",
    "sources.tmcf_rows_out": "count",
    "mcf_mutator.busy_s": "s",
    "mcf_mutator.rows_out": "count",
    "mcf_checker.busy_s": "s",
    "mcf_checker.errors": "count",
    "mcf_resolver.busy_s": "s",
    "mcf_resolver.rounds": "count",
    "sources.mcf_write_s": "s",
    "sources.mcf_write_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_share": "ratio",
    "spark.gc_s": "s",
    "spark.retained_rdds": "count",
    "spark.retained_mb": "MB",
    "spark.lingering_rdds": "count",
    "python.worker_cpu_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's child processes (the Python
    daemon and its workers, including workers that already exited)."""
    total = 0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, spark, jvm_pid: int, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.cores = cores
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[int] = []
        self._persisted: list = []
        self._counts: dict[str, float] = {}
        self._run_id = 0
        self._snapshot: str | None = None
        self._seen_jobs: set[int] = set()
        self._rest = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    # ---- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "run": self._run_id}
            self.spans.append(rec)
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, f"perfbench-{sid}")
        stack.append(sid)
        rec["py_cpu0"] = python_worker_cpu_s(self.jvm_pid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py_cpu_s"] = python_worker_cpu_s(self.jvm_pid) - rec.pop("py_cpu0")
            stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)

    def add(self, metric: str, value: float) -> None:
        with self._lock:
            self._counts[metric] = self._counts.get(metric, 0) + value

    def force(self, df, span_name: str | None = None):
        """Persist ``df`` and count it (under ``span_name`` if given)."""
        p = df.persist()
        with self._lock:
            self._persisted.append(p)
        if span_name is None:
            return p, p.count()
        with self.span(span_name):
            return p, p.count()

    def release(self) -> None:
        for p in self._persisted:
            p.unpersist()
        self._persisted.clear()

    # ---- jobs ------------------------------------------------------------
    @contextmanager
    def job(self, index: int):
        self._run_id = index
        self._counts = {}
        with self.span("job") as rec:
            self._job = rec
            yield rec

    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self) -> list[dict]:
        """All jobs, once the status store has seen every job end."""
        deadline = time.time() + 30
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def job_metrics(self) -> dict[str, float]:
        """Per-layer metrics of the last job (call after its check)."""
        job_rec = self._job
        t0, t1 = job_rec["start"], job_rec["end"]
        jobs = self._settled_jobs()
        stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}
        run_spans = {s["id"]: s for s in self.spans if s["run"] == job_rec["run"]}
        # a stage listed by several jobs (skipped on reuse) belongs to the
        # first job that lists it; stages that ran before the window are
        # dropped below by their own submission time
        owner: dict[int, dict] = {}
        window = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sub = _epoch(j.get("submissionTime"))
            if j["jobId"] in self._seen_jobs or sub is None or not (t0 <= sub <= t1):
                continue
            self._seen_jobs.add(j["jobId"])
            window.append(j)
            for sid in j["stageIds"]:
                owner.setdefault(sid, j)
        m = dict(self._counts)
        layer_stage: dict[str, dict[str, float]] = {}
        intervals, run_s, cpu_s, gc_s, tasks = [], 0.0, 0.0, 0.0, 0
        for sid, j in owner.items():
            s = stages.get(sid)
            if s is None:
                continue
            a, b = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
            if a is None or b is None or a < t0:
                continue
            intervals.append((a, min(b, t1)))
            run_s += s["executorRunTime"] / 1e3
            cpu_s += s["executorCpuTime"] / 1e9
            gc_s += s["jvmGcTime"] / 1e3
            tasks += s["numCompleteTasks"]
            group = j.get("jobGroup") or ""
            span = run_spans.get(int(group.split("-")[1])) if group.startswith("perfbench-") else None
            if span is not None:
                acc = layer_stage.setdefault(span["name"], {})
                for k, v in (
                    ("cpu_s", s["executorCpuTime"] / 1e9),
                    ("shuffle_write_mb", s["shuffleWriteBytes"] / 1e6),
                    ("spill_mb", s["diskBytesSpilled"] / 1e6),
                ):
                    acc[k] = acc.get(k, 0.0) + v
        wall = t1 - t0
        m["spark.jobs"] = len(window)
        m["spark.tasks"] = tasks
        m["spark.executor_cpu_s"] = cpu_s
        m["spark.gc_s"] = gc_s
        m["spark.core_busy_share"] = run_s / (wall * self.cores)
        m["spark.driver_gap_s"] = wall - _union_length([iv for iv in intervals if iv[1] > iv[0]])
        m["python.worker_cpu_s"] = job_rec["py_cpu_s"]
        m["trace.job_s"] = wall
        for s in run_spans.values():
            d = s["end"] - s["start"]
            if s["name"] in _BUSY:
                m[_BUSY[s["name"]]] = m.get(_BUSY[s["name"]], 0.0) + d
            if s["name"] in _DURATION:
                m[_DURATION[s["name"]]] = m.get(_DURATION[s["name"]], 0.0) + d
            if s["name"] == "extract":
                m["extract.cpu_s"] = m.get("extract.cpu_s", 0.0) + s["py_cpu_s"]
        for name, acc in layer_stage.items():
            if name == "extract":
                m["extract.cpu_s"] = m.get("extract.cpu_s", 0.0) + acc["cpu_s"]
            if name == "merge.write":
                m["merge.shuffle_write_mb"] = m.get("merge.shuffle_write_mb", 0.0) + acc["shuffle_write_mb"]
                m["merge.spill_mb"] = m.get("merge.spill_mb", 0.0) + acc["spill_mb"]
        if m.get("merge.rows_in"):
            m["merge.useful_ratio"] = m.get("merge.rows_out", 0) / m["merge.rows_in"]
        return m

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)

    # ---- instrumentation -------------------------------------------------
    def install(self) -> None:
        """Rebind each layer function in the modules that call it."""
        import import_spark.plans.genmcf as genmcf
        import import_spark.plans.kg_pipeline as kg
        import import_spark.plans.lineage as lineage
        import import_spark.streaming.incremental as inc

        t = self

        def extract_and_link(real):
            def w(transcripts, dmap, **kw):
                t.add("extract.rows_in", transcripts.count())
                with t.span("extract"):
                    out, n = t.force(real(transcripts, dmap, **kw))
                t.add("extract.rows_out", n)
                return out
            return w

        def resolve_defs_fast(real):
            def w(linked, approx_defs=None):
                with t.span("resolve"):
                    out = real(linked, approx_defs=approx_defs)
                t.add("resolve.defs", approx_defs or 0)
                return out
            return w

        def connected_components_fast(real):
            def w(edges, approx_edges=None):
                edges, n = t.force(edges, "canonicalize.input")
                with t.span("canonicalize"):
                    out = real(edges, approx_edges=approx_edges)
                t.add("canonicalize.edges", n)
                if out is not None:
                    t.add("canonicalize.components", out.count())
                return out
            return w

        def canonicalize_triples(real):
            def w(triples, mapping, **kw):
                # the input is a scan of the pipeline snapshot followed by
                # the inline local-ref rewrite of resolve. The snapshot is
                # cached outside any layer span first (Spark's cache
                # manager then serves the scan from it), so ``resolve``
                # holds only the rewrite.
                if t._snapshot:
                    t.force(t.spark.read.parquet(t._snapshot), "resolve.input")
                triples, _ = t.force(triples, "resolve")
                with t.span("canonicalize"):
                    out, _ = t.force(real(triples, mapping, **kw))
                return out
            return w

        def dedupe_and_materialize(real):
            def w(triples, path, **kw):
                triples, n_in = t.force(triples, "merge.input")
                with t.span("merge.write"):
                    real(triples, path, **kw)
                t.add("merge.rows_in", n_in)
                t.add("merge.rows_out", t.spark.read.parquet(path).count())
            return w

        def write_stage_lineage(real):
            def w(*a, **kw):
                with t.span("lineage.write"):
                    return real(*a, **kw)
            return w

        def expand_template(real):
            def w(csv_df, tmcf_text, **kw):
                with t.span("sources.tmcf_expand"):
                    out, n = t.force(real(csv_df, tmcf_text, **kw))
                t.add("sources.tmcf_rows_out", n)
                return out
            return w

        def check_nodes(real):
            def w(nodes):
                with t.span("mcf_checker"):
                    out, n = t.force(real(nodes))
                t.add("mcf_checker.errors", n)
                return out
            return w

        def mutate_nodes(real):
            def w(nodes):
                with t.span("mcf_mutator"):
                    mutated, errors = real(nodes)
                    mutated, n = t.force(mutated)
                    errors, _ = t.force(errors)
                t.add("mcf_mutator.rows_out", n)
                return mutated, errors
            return w

        def resolve_graph(real):
            def w(nodes, **kw):
                with t.span("mcf_resolver"):
                    res = real(nodes, **kw)
                    res.resolved, _ = t.force(res.resolved)
                t.add("mcf_resolver.rounds", res.rounds)
                return res
            return w

        def write_mcf(real):
            def w(nodes, path, **kw):
                nodes, _ = t.force(nodes, "sources.mcf_write.input")
                with t.span("sources.mcf_write"):
                    real(nodes, path, **kw)
                t.add("sources.mcf_write_mb", _tree_bytes(path) / 1e6)
            return w

        patches = [
            (inc, "extract_and_link", extract_and_link),
            (kg, "resolve_defs_fast", resolve_defs_fast),
            (kg, "connected_components_fast", connected_components_fast),
            (kg, "canonicalize_triples", canonicalize_triples),
            (kg, "dedupe_and_materialize", dedupe_and_materialize),
            (kg, "write_stage_lineage", write_stage_lineage),
            (lineage, "write_stage_lineage", write_stage_lineage),
            (genmcf, "expand_template", expand_template),
            (genmcf, "check_nodes", check_nodes),
            (genmcf, "mutate_nodes", mutate_nodes),
            (genmcf, "resolve_graph", resolve_graph),
            (genmcf, "write_mcf", write_mcf),
        ]
        for mod, attr, wrap in patches:
            setattr(mod, attr, wrap(getattr(mod, attr)))

    def source(self, df):
        """The benchmark's own input scan, forced as ``sources.scan``."""
        out, n = self.force(df, "sources.scan")
        self.add("sources.scan_rows", n)
        return out

    def ingest(self, fn, snapshot_dir: str, *a, **kw) -> int:
        """``streaming.incremental.ingest_to_pipeline_snapshot`` in a span."""
        self._snapshot = snapshot_dir
        before = _parquet_rows(self.spark, snapshot_dir)
        with self.span("streaming.ingest"):
            n = fn(*a, **kw)
        self.add("streaming.batches", n)
        self.add("streaming.rows_out", _parquet_rows(self.spark, snapshot_dir) - before)
        return n


def _tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _parquet_rows(spark, path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return spark.read.parquet(path).count()
