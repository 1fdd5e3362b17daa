"""Run one benchmark workload and report its metrics.

    python3 perfbench/run.py --workload flagship_seed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Everything the run writes goes under
``.perfbench/`` there; only the span file of a traced run is kept.

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
alternates untraced and traced iterations and reports the per-layer
metrics. A human-readable report goes to stderr; the last line of stdout
is one JSON object with the keys correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark task slots, one fewer than the 4-core reference machine has: the
# driver JVM's own work (Arrow conversion, scheduling, the zonal
# aggregation) takes most of a core while the Python workers run, so
# local[4] oversubscribed the machine. Run alternately on one host,
# flagship_partitioned took 2.9-3.4 s an iteration at 3 slots and
# 3.3-4.0 s at 4; flagship_seed 2.0-2.2 s and 1.7-1.9 s.
CORES = 3
SETUP_REPS = 3
# untimed iterations before the timed loop: after only one, the next two
# still ran 10-40% slower (JIT compilation, Python worker imports)
WARMUP = 3
PROBE_IMAGES = 32

now = time.perf_counter


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(work: str, driver_mem: str) -> dict[str, str]:
    """Point every temporary and scratch location of the driver, the JVM
    and the Python workers into ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    return {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def _warm_workers(spark) -> None:
    """Start one Python worker per core."""
    spark.range(0, CORES, 1, CORES).mapInPandas(lambda it: it, "id long").collect()


def _shutdown() -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _span_readings(spans) -> dict[str, float]:
    from spans import self_time_by_layer
    out = {f"self_s.{k}": v for k, v in self_time_by_layer(spans).items()}
    ship = [s for s in spans if s.name == "session.ship_package"]
    out["session.ship_package.calls"] = len(ship)
    out["session.ship_package_s"] = sum(s.duration for s in ship)
    out["spatial.broadcast_aoi_s"] = sum(s.duration for s in spans
                                         if s.name == "spatial.broadcast_aoi")
    top = [s for s in spans if s.parent is None]
    build = exec_ = 0.0
    for i, s in enumerate(top):
        if s.name.startswith("entry.q_") and i + 1 < len(top):
            leaf = s.name[len("entry.q_"):]
            out[f"entry.build_s.{leaf}"] = s.duration
            out[f"entry.exec_s.{leaf}"] = top[i + 1].duration
            build += s.duration
            exec_ += top[i + 1].duration
    out["entry.build_s"], out["entry.exec_s"] = build, exec_
    out["entry.driver_share"] = build / (build + exec_) if build + exec_ else 0.0
    view = [s for s in top if s.name == "pipeline.current_flagship"]
    if view:    # the view read: current_flagship and the collect after it
        out["snapshots.view_read_s"] = view[0].duration + top[-1].duration
    return out


def _stream_readings(spark, out) -> dict[str, float]:
    from raster_functions_spark.snapshots import SnapshotTable
    if out.view_dir is None:
        return {}
    files = nbytes = 0
    for d, _sub, names in os.walk(os.path.join(out.view_dir, "data")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    commits = len(SnapshotTable(spark, out.view_dir).snapshots())
    dur = [p["durationMs"] for p in out.progress]
    return {
        "streaming.batches": sum(1 for p in out.progress if p["numInputRows"] > 0),
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.trigger_s": sum(d.get("triggerExecution", 0) for d in dur) / 1e3,
        "snapshots.commits": commits,
        "snapshots.files_written": files,
        "snapshots.bytes_written": nbytes,
    }


def _readings(spark, meter, out, spans, wl, wall: float) -> dict[str, float]:
    """Per-layer readings of one traced pass (taken after its timing)."""
    from layers import plan_metrics, plan_nodes
    from spans import top_level_coverage
    r = meter.read(wall, CORES)
    r.update(plan_metrics([n for df in out.dfs for n in plan_nodes(df)], wl.n_aoi))
    r.update(_stream_readings(spark, out))
    r.update(_span_readings(spans))
    r["trace.top_span_coverage"] = top_level_coverage(spans, wall)
    r["spatial.task_skew"] = r["spark.task_skew"] if r["spatial.route_partitioned"] else 0.0
    return r


def measure(args, work: str) -> dict:
    from layers import RssSampler, StageMeter, cpu_clock, kernel_probe
    from spans import Tracer
    from stats import median
    from workloads import WORKLOADS, Outcome, check

    conf = _prepare_env(work, args.driver_mem)
    from raster_functions_spark import session

    wl = WORKLOADS[args.workload](args.seed, work)
    tracer = Tracer()
    setup, get_spark_s, spark = [], [], None
    outcomes, walls, traced_walls, readings = [], [], [], []
    cpu_s, steals = [], []
    with RssSampler() as rss:
        # set-up, several times: session start, package ship, worker
        # warm-up, input materialization
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = now()
            spark = session.get_spark(f"perfbench-{wl.name}", cores=CORES,
                                      shuffle_partitions=CORES, extra_conf=conf)
            get_spark_s.append(now() - t0)
            _warm_workers(spark)
            wl.materialize(spark)
            setup.append(now() - t0)
        t0 = now()
        for _ in range(WARMUP):
            warm = wl.run(spark, tracer)
            if warm.errors:
                raise RuntimeError(f"warm-up failed: {warm.errors}")
        warm_s = now() - t0
        log(f"setup {[round(s, 2) for s in setup]} s + warm-up {warm_s:.2f} s")

        if args.trace:
            _wrap_layers(tracer)
            meter = StageMeter(spark)
        end = now() + args.seconds
        k = 0
        # closed loop; a traced run alternates untraced and traced iterations
        while k < 1 + args.trace or now() < end:
            traced = bool(args.trace) and k % 2 == 1
            if traced:
                meter.mark()
            c0 = cpu_clock()
            t0 = now()
            try:
                if traced:
                    with tracer.trace(f"it{k}"):
                        out = wl.run(spark, tracer)
                else:
                    out = wl.run(spark, tracer)
            except Exception as e:  # the iteration failed as a whole
                out = Outcome()
                out.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            wall = now() - t0
            c1 = cpu_clock()
            cpu_s.append(c1[0] - c0[0])
            steals.append((c1[1] - c0[1]) / max(c1[2] - c0[2], 1e-9))
            (traced_walls if traced else walls).append(wall)
            if traced:
                readings.append(_readings(spark, meter, out, tracer.of_trace(f"it{k}"), wl, wall))
            out.dfs = []
            outcomes.append(out)
            log(f"iteration {k}{' traced' if traced else ''}: {wall:.3f} s, "
                f"cpu {cpu_s[-1]:.2f} s, steal {steals[-1]:.1%}")
            k += 1
    peak_mb = rss.peak_mb
    # CPU time of the process tree and the machine's share stolen by the
    # host, per iteration: a slow run with a high steal share was slowed
    # by the host, not by the program
    log(f"median per iteration: cpu {median(cpu_s):.2f} s, steal {median(steals):.1%}")

    t0 = now()
    ref = wl.reference(spark)
    log(f"reference {now() - t0:.2f} s")
    passes, probed, route_bad = [(o, ref) for o in outcomes], {}, []
    if args.trace:
        for name, probe in wl.probes().items():
            meter.mark()
            with tracer.trace(name):
                t0 = now()
                out, probe_ref = probe(spark, tracer)
            wall = now() - t0
            probed[name] = _readings(spark, meter, out, tracer.of_trace(name), wl, wall)
            passes.append((out, probe_ref or ref))
            log(f"probe {name}: {wall:.2f} s")
        tracer.unwrap_all()
        # the PIP route each timed iteration took, read from its plan
        if any(r["spatial.route_partitioned"] != wl.partitioned for r in readings):
            route_bad.append(f"a timed iteration left the expected route "
                             f"(partitioned={wl.partitioned})")

    bad = [check(o, r) for o, r in passes]
    for i, b in enumerate(bad):
        for msg in b:
            log(f"pass {i}: {msg}")
    for msg in route_bad:
        log(msg)
    attempted = len(outcomes)
    failed = sum(len(o.errors) for o in outcomes)
    spec = _bench_spec()

    if not args.trace:
        wall_s = median(walls)
        values = {
            "setup_s": median(setup) + warm_s,
            "wall_s": wall_s,
            "items_per_s": wl.images / wall_s,
            "correct_frac": sum(1 for b in bad if not b) / len(outcomes),
            "peak_rss_mb": peak_mb,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {name: median([r.get(name, 0.0) for r in readings]) for name in units}
        values["session.get_spark_s"] = median(get_spark_s)
        values["trace.wall_traced_s"] = median(traced_walls)
        values["trace.wall_untraced_s"] = median(walls)
        values["trace.overhead_s"] = median(traced_walls) - median(walls)
        values["trace.top_span_coverage"] = min(r["trace.top_span_coverage"]
                                                for r in readings)
        if "relational" in probed:
            values.update({k: v for k, v in probed["relational"].items()
                           if k.startswith(("entry.", "self_s.entry"))})
        if "incremental" in probed:
            values.update({k: v for k, v in probed["incremental"].items()
                           if k.startswith(("streaming.", "snapshots.", "self_s.streaming",
                                            "self_s.snapshots"))})
        from raster_functions_spark import spatial
        b = spatial.broadcast_aoi(spark, wl.aoi)
        values.update(kernel_probe(np.arange(PROBE_IMAGES), b.value))
        b.destroy()
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench", "traces",
                                  f"{wl.name}-seed{args.seed}.json"))
    report(wl.name, values, units, len(walls), attempted, failed)
    return {"correct": not any(bad) and not route_bad, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


def _wrap_layers(tracer) -> None:
    """Span wrappers around the driver-side public entry points."""
    from raster_functions_spark import pipeline, session, snapshots, spatial
    tracer.wrap(session, "ship_package")
    for fn in ("prepare_aoi", "flagship_assigned_prepared", "decode_features"):
        tracer.wrap(pipeline, fn)
    for fn in ("broadcast_aoi", "pip_join_partitioned", "auto_cover_res_distributed"):
        tracer.wrap(spatial, fn)
    for fn in ("append_tables", "maintain", "read"):
        tracer.wrap(snapshots.SnapshotTable, fn, f"snapshots.{fn}")


def report(name, values, units, n_walls, attempted, failed) -> None:
    log(f"== {name}: {n_walls} untraced iterations, "
        f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    for k, v in values.items():
        log(f"   {k:40s} {v:14.6g} {units[k]}")


_T0 = now()


def log(msg: str) -> None:
    print(f"[{now() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="2g",
                    help="driver JVM heap, passed as SPARK_DRIVER_MEM")
    args = ap.parse_args(argv)

    missing = [p for p in ("raster_functions_spark/__init__.py", "__spark_entry__.py",
                           "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"perfbench: not a checkout of the engine, missing {missing}")
        return 2
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = measure(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
