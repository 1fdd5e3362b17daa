"""The benchmark's workloads: one closed-loop client each.

A workload materializes its inputs from the seed, runs one iteration at a
time, and computes an independent reference outside the timed loop.
Every call into a layer inside an iteration sits in a tracer span named
``<module>.<function>``; spans cost nothing when no trace is open.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

from compare import mismatch
from spans import Tracer

# Leaves of the repository's headline suite that relational_mix runs: three
# that open performance items name (top-k window, kNN fixed costs,
# language-ID scoring). dedup_minhash_lsh, the fourth, is left out: its
# DuckDB oracle alone takes about 5 s, every run.
LEAVES = ("a8_topk_per_group", "j5_knn", "text_langid")


class Outcome:
    """What one pass produced: result frames by name, the collected
    DataFrames (read for plan metrics after timing), failures, and for a
    streamed pass its progress reports and view directory."""

    def __init__(self) -> None:
        self.frames: dict[str, pd.DataFrame] = {}
        self.dfs: list = []
        self.errors: list[str] = []
        self.progress: list = []
        self.view_dir: str | None = None


def _collect(tr: Tracer, out: Outcome, key: str, df) -> None:
    with tr.span("spark.collect"):
        out.frames[key] = df.toPandas()
    out.dfs.append(df)


class Workload:
    name = ""
    images = 0          # images per iteration
    n_aoi = 0
    partitioned = 0     # 1: the timed iteration takes the partitioned PIP route

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def materialize(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, tr: Tracer) -> Outcome:
        raise NotImplementedError

    def reference(self, spark) -> Outcome:
        raise NotImplementedError

    def probes(self) -> dict:
        """Traced runs only: extra passes ``(spark, tracer) -> (Outcome,
        reference)`` through layers the timed iteration does not reach. A
        ``None`` reference means the workload's own."""
        return {}


def check(out: Outcome, ref: Outcome) -> list[str]:
    """Mismatches of one pass against the reference; empty when equal."""
    bad = list(out.errors)
    for k, want in ref.frames.items():
        if k not in out.frames:
            bad.append(f"{k}: missing")
        elif (m := mismatch(out.frames[k], want)) is not None:
            bad.append(f"{k}: {m}")
    return bad


# ------------------------------------------------------------ flagship ----

class FlagshipSeed(Workload):
    """pipeline.flagship_from_seed on the broadcast route: the fused
    synthesize→encode→decode→phash→stats→cell→PIP kernel plus one zonal
    shuffle, with no image bytes crossing into Python. flagship_from_seed
    always synthesizes images 0..n-1, so the seed draws the AOIs (AOI 0,
    the hot-cluster polygon, is always kept).

    Reference: pipeline.flagship over fixtures.images_df with the same
    indices. Probe: the same images written as a parquet table, streamed
    one file per microbatch through pipeline.start_flagship_incremental
    into a snapshot view and read back with pipeline.current_flagship."""

    name = "flagship_seed"
    images = 2000
    n_aoi = 200
    probe_files = 4

    def materialize(self, spark) -> None:
        from raster_functions_spark import fixtures
        rng = np.random.default_rng(self.seed)
        ids = [0] + sorted(rng.choice(np.arange(1, 10 * self.n_aoi),
                                      self.n_aoi - 1, replace=False).tolist())
        pdf = fixtures.aoi_pdf(max(ids) + 1).iloc[ids].reset_index(drop=True)
        self.aoi = spark.createDataFrame(pdf, schema=fixtures.AOI_SCHEMA)

    def run(self, spark, tr):
        from raster_functions_spark import pipeline
        out = Outcome()
        with tr.span("pipeline.flagship_from_seed"):
            df = pipeline.flagship_from_seed(spark, self.images, self.aoi)
        _collect(tr, out, "flagship", df)
        return out

    def _batch(self, spark, tr, threshold: int) -> Outcome:
        from raster_functions_spark import fixtures, pipeline
        out = Outcome()
        with tr.span("pipeline.flagship"):
            df = pipeline.flagship(spark, fixtures.images_df(spark, self.images),
                                   self.aoi, broadcast_threshold=threshold)
        _collect(tr, out, "flagship", df)
        return out

    def reference(self, spark):
        return self._batch(spark, Tracer(), 10000)

    def probes(self):
        return {"incremental": lambda spark, tr: (self._incremental(spark, tr), None)}

    def _incremental(self, spark, tr):
        from raster_functions_spark import fixtures, pipeline
        out = Outcome()
        table = os.path.join(self.work, "images")
        fixtures.images_df(spark, self.images, self.probe_files).write.parquet(table)
        out.view_dir = os.path.join(self.work, "view")
        with tr.span("spark.read_stream"):
            stream = (spark.readStream.schema(spark.read.parquet(table).schema)
                      .option("maxFilesPerTrigger", 1).parquet(table))
        with tr.span("pipeline.start_flagship_incremental"):
            q = pipeline.start_flagship_incremental(
                stream, self.aoi, out.view_dir, os.path.join(self.work, "ckpt"))
        with tr.span("streaming.awaitTermination"):
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        out.progress = q.recentProgress
        with tr.span("pipeline.current_flagship"):
            df = pipeline.current_flagship(spark, out.view_dir)
        _collect(tr, out, "flagship", df)
        return out


class FlagshipPartitioned(FlagshipSeed):
    """pipeline.flagship over fixtures.images_df (the first half of
    flagship_seed's images, the same AOIs) on the partitioned route: cover explode, shuffle
    equi-join on cell, exact refine, then the zonal shuffle. Image bytes
    cross the JVM/Python boundary twice (generated, then decoded). The
    route is chosen with broadcast_threshold below the AOI count.
    Reference: the broadcast route over the same inputs. Probe: the
    relational leaves (RelationalMix), two untraced passes then a traced
    one, checked against their DuckDB oracles."""

    name = "flagship_partitioned"
    partitioned = 1
    images = 1000       # images 0..999: an iteration costs ~2.5x flagship_seed's

    def run(self, spark, tr):
        return self._batch(spark, tr, self.n_aoi // 2)

    def probes(self):
        return {"relational": self._relational}

    def _relational(self, spark, tr):
        rel = RelationalMix(self.seed, self.work)
        rel.materialize(spark)
        for _ in range(2):
            rel.run(spark, Tracer())
        return rel.run(spark, tr), rel.reference(spark)


# ---------------------------------------------------------- relational ----

class RelationalMix(Workload):
    """Headline leaves of __spark_entry__.queries() (LEAVES) as one pass
    over seeded tables, leaf order permuted by the seed. Reference: each
    leaf's __spark_entry__.oracle_sql() on DuckDB. Not a timed workload
    (its wall time swung twice as much as the flagship's with the shared
    host's load); the flagship_partitioned probe runs it."""

    name = "relational_mix"

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        rng = np.random.default_rng(seed)
        self.order = [LEAVES[i] for i in rng.permutation(len(LEAVES))]
        self.data = os.path.join(work, "tables")

    def materialize(self, spark) -> None:
        import __spark_entry__
        from tables import generate
        generate(self.data, self.seed)
        self.qs = __spark_entry__.queries()

    def run(self, spark, tr):
        out = Outcome()
        for leaf in self.order:
            try:
                with tr.span(f"entry.q_{leaf}"):
                    df = self.qs[leaf](spark, self.data)
                _collect(tr, out, leaf, df)
            except Exception as e:  # a failed leaf is counted; the pass goes on
                out.errors.append(f"{leaf}: {type(e).__name__}: {str(e)[:300]}")
        return out

    def _oracles(self) -> dict[str, str]:
        """__spark_entry__.oracle_sql() for LEAVES. Building every oracle
        takes seconds, so the texts are cached next to the run directories,
        keyed by a hash of LEAVES and of the engine's sources."""
        import __spark_entry__
        import raster_functions_spark
        # the checkout's files: once shipped, __spark_entry__ is imported
        # from a session's scratch copy, deleted when that session stops
        pkg = os.path.dirname(raster_functions_spark.__file__)
        root = os.path.dirname(pkg)
        srcs = [os.path.join(root, "__spark_entry__.py")]
        for d, _sub, names in os.walk(pkg):
            srcs += [os.path.join(d, n) for n in names if n.endswith(".py")]
        h = hashlib.sha256(repr(LEAVES).encode())
        for path in sorted(srcs):
            with open(path, "rb") as f:
                h.update(os.path.relpath(path, root).encode() + b"\0" + f.read())
        cache = os.path.join(os.path.dirname(self.work), "cache",
                             f"oracles-{h.hexdigest()[:16]}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                return json.load(f)
        every = __spark_entry__.oracle_sql()
        oracles = {leaf: every[leaf] for leaf in LEAVES}
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump(oracles, f)
        os.replace(cache + ".tmp", cache)
        return oracles

    def reference(self, spark):
        import duckdb
        from tables import TABLES
        oracles = self._oracles()
        con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                     "temp_directory": os.path.join(self.work, "duck")})
        out = Outcome()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out.frames = {leaf: con.sql(oracles[leaf]).df() for leaf in LEAVES}
        finally:
            con.close()
        return out


WORKLOADS = {w.name: w for w in (FlagshipSeed, FlagshipPartitioned)}
