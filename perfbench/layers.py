"""Per-layer readings taken from outside the engine.

* Spark: stage and task metrics from the driver's status store, and SQL
  metrics from the final (AQE) physical plan of a collected DataFrame.
* Kernel layers (fixtures, codec, pipeline, grid, spatial): timed
  in-process on one generated batch, because the mapInPandas workers that
  run them cannot be instrumented from the driver.
* Memory: resident set of this process and every descendant (the driver
  JVM and its Python workers), sampled from /proc.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from stats import median

PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------- process tree ----

def _tree_stats(root: int) -> list[list[str]]:
    """/proc/<pid>/stat fields, from the state field on, of ``root`` and
    every descendant: the Python driver, the JVM, its Python workers."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        stats[int(d)] = fields
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, []))
    return out


TICK = os.sysconf("SC_CLK_TCK")


def cpu_clock() -> tuple[float, float, float]:
    """(CPU seconds used so far by this process tree, machine-wide CPU
    seconds stolen by the hypervisor, machine-wide CPU seconds elapsed),
    from /proc. Differences of two readings tell how much of a timed
    interval the program computed and how much of the machine's time
    the host took away."""
    cpu = sum(int(f[11]) + int(f[12]) for f in _tree_stats(os.getpid())) / TICK
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    return cpu, steal / TICK, sum(ticks[:8]) / TICK


class RssSampler:
    """Peak resident set of this process tree, sampled every 0.25 s."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = sum(int(f[21]) for f in _tree_stats(os.getpid())) * PAGE
            self.peak = max(self.peak, rss)
            self._stop.wait(0.25)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ------------------------------------------------------- spark stages ----

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StageMeter:
    """Stage and task totals of the jobs submitted since the last ``mark``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.last_job = self._max_job()

    def _jobs(self) -> list:
        return _seq(self.store.jobsList(None))

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def mark(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()
        self.last_job = self._max_job()

    def read(self, wall: float, cores: int) -> dict[str, float]:
        """Totals since ``mark``. The listener bus is drained first; call
        outside the timed region."""
        self.sc.listenerBus().waitUntilEmpty()
        jobs = [j for j in self._jobs() if j.jobId() > self.last_job]
        stages = []
        for sid in sorted({s for j in jobs for s in _seq(j.stageIds())}):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "COMPLETE":
                stages.append(st)
        run_ms = sum(s.executorRunTime() for s in stages)
        heavy = max(stages, key=lambda s: s.executorRunTime(), default=None)
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.numCompleteTasks() for s in stages),
            "spark.executor_run_s": run_ms / 1e3,
            "spark.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "spark.busy_frac": run_ms / 1e3 / (wall * cores),
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spark.shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "spark.shuffle_fetch_wait_s": sum(s.shuffleFetchWaitTime() for s in stages) / 1e3,
            "spark.spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                                     for s in stages),
            "spark.task_skew": self._skew(heavy) if heavy is not None else 0.0,
        }
        self.last_job = max([j.jobId() for j in jobs], default=self.last_job)
        return out

    def _skew(self, stage) -> float:
        """max / median task run time in the stage with the most run time."""
        tasks = _seq(self.store.taskList(stage.stageId(), stage.attemptId(), 100000))
        runs = [t.taskMetrics().get().executorRunTime() for t in tasks
                if t.taskMetrics().isDefined()]
        med = median(runs) if runs else 0.0
        return max(runs) / med if med > 0 else 0.0


# --------------------------------------------------- physical plan SQL ----

def plan_nodes(df) -> list[tuple[str, list[str], dict[str, float]]]:
    """(node name, output column names, metrics) for every node of the
    executed plan of ``df``, descending through adaptive query stages.
    Timing metrics are converted to seconds, sizes stay in bytes."""
    out: list = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m.metricType(), 1.0)
            metrics[kv._1()] = m.value() * scale
        out.append((name, list(node.schema().fieldNames()), metrics))
        todo.extend(_seq(node.children()))
    return out


def plan_metrics(nodes, n_aoi: int = 0) -> dict[str, float]:
    """Python-worker, aggregation and partitioned-join readings of one or
    more collected plans."""
    py = [m for name, _f, m in nodes if name == "MapInPandas"]
    out = {
        "python.boot_s": sum(m.get("pythonBootTime", 0.0) for m in py),
        "python.init_s": sum(m.get("pythonInitTime", 0.0) for m in py),
        "python.total_s": sum(m.get("pythonTotalTime", 0.0) for m in py),
        "python.bytes_sent": sum(m.get("pythonDataSent", 0.0) for m in py),
        "python.bytes_received": sum(m.get("pythonDataReceived", 0.0) for m in py),
        "spark.agg_sort_fallback_tasks": sum(m.get("numTasksFallBacked", 0.0)
                                             for _n, _f, m in nodes),
    }
    # partitioned PIP route: the cover explode is the MapInPandas emitting
    # the private _cover_cell key; the refine is the one right above the
    # equi-join on it
    cover = [m for name, f, m in nodes if name == "MapInPandas" and "_cover_cell" in f]
    joins = [m for name, f, m in nodes if name.endswith("Join") and "_cover_cell" in f]
    refine = [m for name, f, m in nodes if name == "MapInPandas"
              and "aoi_id" in f and "n_px" in f]
    cand = sum(m.get("numOutputRows", 0.0) for m in joins)
    hits = sum(m.get("pythonNumRowsReceived", 0.0) for m in refine)
    out.update({
        "spatial.route_partitioned": 1.0 if cover else 0.0,
        "spatial.cover_cells_per_aoi": (sum(m.get("pythonNumRowsReceived", 0.0)
                                            for m in cover) / n_aoi
                                        if cover and n_aoi else 0.0),
        "spatial.join_candidate_rows": cand,
        "spatial.refine_hit_ratio": hits / cand if cand else 0.0,
    })
    return out


# ------------------------------------------------- in-process kernels ----

def _per_item_us(fn, items, reps: int = 3) -> float:
    """Median over ``reps`` passes of the mean time per item, in µs."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        times.append((time.perf_counter() - t0) / len(items) * 1e6)
    return median(times)


def _per_batch_us(fn, n: int, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) / n * 1e6)
    return median(times)


def kernel_probe(indices: np.ndarray, aoi_arrays: dict, cell_res: int = 7) -> dict:
    """Time each step of the fused flagship kernel on the images with the
    given indices, in the driver process."""
    from raster_functions_spark import codec, fixtures, grid, pipeline, spatial

    idx = [int(i) for i in indices]
    n = len(idx)
    pixels = [fixtures.gen_pixels(i) for i in idx]
    pdf = fixtures.images_pdf(np.asarray(idx), zlib_level=3)
    bufs = [bytes(b) for b in pdf["bytes"]]
    x = pdf["lon"].to_numpy(np.float64)
    y = pdf["lat"].to_numpy(np.float64)
    a = aoi_arrays
    cand = int(((x[:, None] >= a["xmin"]) & (x[:, None] <= a["xmax"])
                & (y[:, None] >= a["ymin"]) & (y[:, None] <= a["ymax"])).sum())
    ridx, _aid = spatial.pip_assign_np(a, x, y)
    return {
        "fixtures.gen_pixels_us_per_img": _per_item_us(fixtures.gen_pixels, idx),
        "fixtures.images_pdf_us_per_img": _per_batch_us(
            lambda: fixtures.images_pdf(np.asarray(idx), zlib_level=3), n),
        "codec.encode_us_per_img": _per_item_us(
            lambda k: codec.encode(pixels[k], fixtures.tile_fmt(idx[k]), zlib_level=3),
            range(n)),
        "codec.decode_us_per_img": _per_item_us(codec.decode, bufs),
        "codec.phash64_us_per_img": _per_item_us(codec.phash64, pixels),
        "pipeline.decode_features_us_per_img": _per_batch_us(
            lambda: pipeline._decode_feature_arrays(pdf), n),
        "grid.encode_np_us_per_img": _per_batch_us(
            lambda: grid.encode_np(x, y, cell_res), n),
        "spatial.pip_assign_np_us_per_img": _per_batch_us(
            lambda: spatial.pip_assign_np(a, x, y), n),
        "spatial.pip.bbox_candidates_per_img": cand / n,
        "spatial.pip.hit_ratio": len(ridx) / cand if cand else 0.0,
    }
