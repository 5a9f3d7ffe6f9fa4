"""KG-import benchmark: seeded closed-loop jobs over the import pipelines.

Run from the repository root::

    python3 perfbench/run.py --workload kg_incremental --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``kg_incremental`` and ``genmcf_tmcf``;
together they reach every layer.

One client submits the next job when the previous one has completed,
until ``--seconds`` have passed (at least one job). Every job's output is
checked; a job that raises or fails its check counts as failed, and so
does one before or after which the program still holds more than
``RETAINED_LIMIT_MB`` of persisted blocks once the caller has released
its outputs (see ``_settle``).

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start
until the session is up and the workload's warm-up on a tiny input has
finished), ``job_s`` (median job wall time), ``rows_per_s`` (median of
each job's output statements per second) and ``driver_mem_mb`` (see
``_DriverMemory``).
``--trace 1`` runs one untraced job, then the same job traced, and
reports the per-layer metrics of ``spans.py``; its spans are written to
``.perfbench_out/``.

Human-readable lines (host context, every metric with its unit,
``failed_frac``) go to stdout before the last line, which is the JSON
result. All files the run writes stay under the repository root and are
removed at exit, except the oracle cache and the span dumps.
"""

from __future__ import annotations

import time

_T_MAIN = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


# set-up is timed from process start, not from the first line of Python
T_START = _T_MAIN - _process_age_s()


@dataclass
class Job:
    seconds: float
    rows: int
    ok: bool


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _host_context(nproc: int, cores: int) -> dict:
    import platform

    import pyspark

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from scaling_bench import run_calibration

    return {
        "nproc": nproc,
        "spark_cores": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "calibration_1core": run_calibration(1, reps=1),
    }


class Bench:
    """What a workload needs from the harness: the session, the seed,
    scratch paths, input preparation and the tracing hooks."""

    def __init__(self, spark, seed: int, seconds: int, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def prepare(self, spec: dict) -> dict:
        """Write inputs/expected outputs in a child process."""
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), json.dumps(spec)],
            check=True, stdout=subprocess.PIPE, text=True,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    def prepare_tiny(self, spec: dict) -> dict:
        """Tiny warm-up inputs, written in-process."""
        import inputs

        return inputs.prepare(spec)

    def source(self, df):
        return self.tracer.source(df) if self.tracer else df

    def ingest(self, fn, snapshot_dir: str, *a, **kw):
        if self.tracer:
            return self.tracer.ingest(fn, snapshot_dir, *a, **kw)
        return fn(*a, **kw)

    def count(self, metric: str, value: float) -> None:
        if self.tracer:
            self.tracer.add(metric, value)

    def release(self, *frames) -> None:
        """Release what the caller owns of a job's result: the frames it
        was handed, and the persisted RDDs their plans read (the
        program's checkpoints that back them). Anything else the job
        persisted is the program's to release."""
        rdds = dict(self.spark.sparkContext._jsc.getPersistentRDDs())
        for df in frames:
            df.unpersist()
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for k in range(leaves.size()):
                leaf = leaves.apply(k)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    rdd = rdds.get(leaf.rdd().id())
                    if rdd is not None:
                        rdd.unpersist(True)


# Retained blocks above this fail the job next to them. The retained
# blocks that bench.py saw slow later jobs by 10-38% were cached results
# of hundreds of MB. The program's small driver-side checkpoints
# (dictionary and component maps, KiB each) that survive a driver GC are
# reported (``spark.retained_rdds``, ``spark.retained_mb``), not failed.
RETAINED_LIMIT_MB = 1.0


@dataclass
class Retained:
    """Persisted RDDs once the caller has released what it owns of a
    job's outputs (``Bench.release``) and dropped its references."""

    lingering: int  # right away
    rdds: int  # after a driver GC has let Spark's ContextCleaner drop
    # what backs nothing still referenced
    mb: float  # the blocks those still hold


def _settle(spark, timeout_s: float = 1.0) -> Retained:
    """Nothing is unpersisted here: an RDD still persisted afterwards is
    held by the program itself."""
    from import_spark.session import persistent_rdd_ids

    lingering = len(persistent_rdd_ids(spark))
    deadline = time.perf_counter() + timeout_s
    while True:
        gc.collect()
        spark._jvm.System.gc()
        rdds = len(persistent_rdd_ids(spark))
        if rdds == 0 or time.perf_counter() > deadline:
            break
        time.sleep(0.2)
    held = sum(info.memSize() + info.diskSize()
               for info in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return Retained(lingering, rdds, held / 2**20)


class _DriverMemory:
    """``driver_mem_mb``: the driver memory a job leaves in use once its
    outputs are released. It is the driver JVM's live heap then, plus
    the peak use of the JVM's non-heap pools (metaspace, code cache),
    plus this Python driver's peak resident memory; the largest over the
    run's jobs. A peak of the heap itself is not steady with the
    program's default heap: the collector runs rarely, so heap in use
    after a young collection is mostly garbage promoted since the last
    full one, and it swung by 300 MB between runs of the same job."""

    def __init__(self, spark):
        self._listeners = spark.sparkContext._jsc.sc().listenerBus()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._bean = mf.getMemoryMXBean()
        self._non_heap = [p for p in mf.getMemoryPoolMXBeans()
                          if p.getType().toString() != "Heap memory"]
        for p in self._non_heap:
            p.resetPeakUsage()
        self.heap_mb = 0.0

    def settled(self) -> None:
        """The live heap is the least of five full collections 0.5 s
        apart. Blocks whose owners a collection finds unreachable are
        dropped by Spark's ContextCleaner only afterwards, and freed by a
        later collection: after a kg_incremental round the first one
        still reads ~345 MB, and those from 0.8 s on ~86 MB."""
        self._listeners.waitUntilEmpty()
        live = []
        for k in range(5):
            if k:
                time.sleep(0.5)
            gc.collect()
            self._bean.gc()
            live.append(self._bean.getHeapMemoryUsage().getUsed() / 2**20)
        print("driver heap live after each collection:", ", ".join(f"{v:.1f}" for v in live), "MB")
        self.heap_mb = max(self.heap_mb, min(live))

    def parts_mb(self) -> dict[str, float]:
        return {
            "jvm_heap_live": self.heap_mb,
            "jvm_non_heap": sum(p.getPeakUsage().getUsed() for p in self._non_heap) / 2**20,
            "python": _vm_hwm_mb(os.getpid()),
        }


def _run_job(b: Bench, wl, i: int, before: Retained) -> Job:
    """One timed job from the state ``wl.reset`` restores, then its
    (untimed) output check. In the traced run the job, and only the job,
    is the root span."""
    wl.reset(i)
    t0 = time.perf_counter()
    try:
        with b.tracer.job(i) if b.tracer else contextlib.nullcontext():
            b.count("spark.retained_rdds", before.rdds)
            b.count("spark.retained_mb", before.mb)
            try:
                out = wl.job(i)
            finally:
                dt = time.perf_counter() - t0
        ok, rows = wl.check(out)
    except Exception:
        traceback.print_exc()
        ok, rows = False, 0
    return Job(dt, rows, ok and before.mb <= RETAINED_LIMIT_MB)


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program lives at the repository root; its Python workers need
    # it on PYTHONPATH too, or mapInPandas fails with ModuleNotFoundError
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import import_spark  # noqa: F401  (fails here when the program is absent)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the cores; the rest are left to the driver JVM's
    # own threads, the Python driver and the Python workers. On a 4-core
    # host shared with other tenants, four interleaved pairs of
    # kg_incremental runs took 10.4-17.2 s a round with local[4] and
    # 10.9-11.7 s with local[2].
    cores = max(1, nproc // 2)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})

    from import_spark.session import get_spark

    spark = None
    try:
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        b = Bench(spark, args.seed, args.seconds, work)
        wl = WORKLOADS[args.workload](b)
        wl.warmup()
        t_ready = time.perf_counter()
        setup_s = t_ready - T_START
        wl.prepare()
        retained = _settle(spark)
        mem = _DriverMemory(spark)
        t_prepared = time.perf_counter()

        jvm_pid = spark.sparkContext._gateway.proc.pid
        untraced_s = None
        tracer = None
        if args.trace:
            from spans import Tracer

            # the same job untraced first: the tracing overhead's baseline
            untraced_s = _run_job(b, wl, 0, retained).seconds
            retained = _settle(spark)
            tracer = Tracer(spark, jvm_pid, cores)
            tracer.install()
            b.tracer = tracer
        jobs: list[Job] = []
        layer: list[dict] = []
        t_loop = time.perf_counter()
        while wl.more(len(jobs)) and (
            not jobs or time.perf_counter() - t_loop < args.seconds
        ):
            job = _run_job(b, wl, len(jobs), retained)
            if tracer:
                layer.append(tracer.job_metrics())
                tracer.release()
            retained = _settle(spark)
            mem.settled()
            print(f"job {len(jobs)}: {job.seconds:.3f} s, {job.rows} rows, ok={job.ok}; "
                  f"persisted RDDs after it: {retained.lingering}, after a driver GC: "
                  f"{retained.rdds} holding {retained.mb:.3f} MB")
            job.ok = job.ok and retained.mb <= RETAINED_LIMIT_MB
            jobs.append(job)
            if tracer:
                layer[-1]["spark.lingering_rdds"] = retained.lingering
        t_loop_end = time.perf_counter()
        mem_parts = mem.parts_mb()
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    t_stopped = time.perf_counter()
    host = _host_context(nproc, cores)
    print("host:", json.dumps(host))
    print("driver_mem_mb parts:", json.dumps(mem_parts))
    print("phases:", json.dumps({
        "setup_s": setup_s, "prepare_s": t_prepared - t_ready, "loop_s": t_loop_end - t_prepared,
        "stop_s": t_stopped - t_loop_end, "host_s": time.perf_counter() - t_stopped}))
    failed = sum(not j.ok for j in jobs)
    good = [j for j in jobs if j.ok] or jobs
    if args.trace:
        from spans import LAYER_METRICS

        metrics = {}
        for name, unit in LAYER_METRICS.items():
            vals = [m.get(name, 0.0) for m in layer]
            metrics[name] = {"value": float(statistics.median(vals)) if vals else 0.0, "unit": unit}
        metrics["session.start_s"]["value"] = t_session - T_START
        metrics["session.warmup_s"]["value"] = t_ready - t_session
        metrics["trace.overhead_s"]["value"] = metrics["trace.job_s"]["value"] - untraced_s
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "host": host,
             "untraced_job_s": untraced_s, "per_job": layer},
        )
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": statistics.median(j.seconds for j in good), "unit": "s"},
            "rows_per_s": {"value": statistics.median(j.rows / j.seconds for j in good),
                           "unit": "1/s"},
            "driver_mem_mb": {"value": sum(mem_parts.values()), "unit": "MB"},
        }
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {failed / len(jobs):.6g} ({failed} of {len(jobs)} jobs)"
          f"; job_s over {len(good)} samples")
    print(json.dumps({"correct": failed == 0, "attempted": len(jobs), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
