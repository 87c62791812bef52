"""The benchmark's workloads: their inputs, operations and checks.

A workload generates its inputs once (``generate``, in the launcher,
before any Spark process exists) and then, per pass, yields a list of
``Op``: ``build`` constructs the plan through the package's public
functions, ``run`` executes it, ``check`` compares the result with an
independent reference (DuckDB oracle, numpy, or planted ground truth)
and returns ``None`` or the reason it is wrong.

* ``daily_etl`` — the reference's daily job over a new day's files:
  catalog query, already-downloaded anti-join, raster kernels, the
  idempotent append, artifact writes and a same-day re-run.
* ``catalog_olap`` — read-only relational queries over one fixed star
  schema, plus MinHash dedup, IVF search and BFS over a small corpus
  with planted duplicates; every read hits the per-path schema memo.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def compare_module():
    """``tools/compare.py`` (the repo's oracle gate), loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_compare", os.path.join(ROOT, "tools", "compare.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]


@dataclass
class Workload:
    """Shared behaviour; subclasses define inputs and ops."""

    name: str = ""
    inputs: str = ""
    seed: int = 0
    layers: dict[str, float] = field(default_factory=dict)

    def generate(self, passes: int) -> dict:
        raise NotImplementedError

    def before_pass(self, p: int) -> None:
        pass

    def after_pass(self, p: int) -> None:
        pass

    def ops(self, spark, p: int) -> list[Op]:
        raise NotImplementedError

    def probe(self, spark, p: int, tracer) -> None:
        """Traced runs only: extra per-layer measurements after a pass."""

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    @functools.cached_property
    def cmp(self):
        return compare_module()


class OracleQueries(Workload):
    """Registered queries checked against their DuckDB oracles on one
    fixed input directory (``self.sf_dir``)."""

    QUERIES: tuple[str, ...] = ()

    def __init__(self, inputs: str, seed: int) -> None:
        super().__init__(self.NAME, inputs, seed)
        self.sf_dir = os.path.join(inputs, "tables")
        self._oracle: dict[str, Any] = {}

    def oracle_check(self, name: str, pdf) -> str | None:
        if name not in self._oracle:
            from lake_satellite_image_etl_spark.registry import load_all

            with self.cmp.duckdb_con(self.sf_dir) as con:
                self._oracle[name] = con.execute(load_all()[1][name]).fetchdf()
        res = self.cmp.compare_frames(name, pdf, self._oracle[name])
        return None if res.ok else f"{name}: {res.detail}"

    def query_op(self, spark, name: str, extra=None) -> Op:
        from lake_satellite_image_etl_spark.registry import load_all

        fn = load_all()[0][name]

        def check(pdf):
            return self.oracle_check(name, pdf) or (extra(pdf) if extra else None)

        return Op(name, lambda: fn(spark, self.sf_dir), lambda df: df.toPandas(), check)

    def ops(self, spark, p: int) -> list[Op]:
        return [self.query_op(spark, q) for q in self.QUERIES]


# ------------------------------------------------------------ catalog_olap


class CatalogOlap(OracleQueries):
    """Relational queries over one star schema, plus a training-data
    slice over a small corpus with planted duplicates: MinHash dedup
    and IVF search (candidate -> verify -> top-k, ``mapInArrow``
    kernels, bounded persists) and BFS (an iterative loop). IVF-PQ is
    left out: its DuckDB oracle alone takes about 10 s a run."""

    NAME = "catalog_olap"
    QUERIES = (
        "flagship_catalog",
        "sql_api_shipping_priority",
        "agg_tpch_q1",
        "join_semi_anti",
        "window_analytics",
        "dedup_minhash_lsh",
        "similarity_ivf_probe",
        "graph_bfs_distance",
    )
    #: iterative operators: their job counts feed iter.jobs / iter.s
    ITERATIVE = ("graph_bfs_distance",)
    SIZE = gen.StarSize(customers=1000, orders=8000, lineitems=30000, events=5000)
    DOCS, EXACT, NEAR = 200, 6, 6
    VECS, DIM, VEC_PAIRS = 200, 64, 6
    #: recall floors against planted pairs and exact top-k
    MINHASH_RECALL, IVF_RECALL_AT_5 = 0.95, 0.8

    def generate(self, passes: int) -> dict:
        for name, table in gen.star_schema(self.seed, self.SIZE).items():
            gen.write(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        docs, doc_truth = gen.documents(self.seed, self.DOCS, self.EXACT, self.NEAR)
        gen.write(docs, os.path.join(self.sf_dir, "documents.parquet"), row_group_size=50)
        emb, vec_truth = gen.embeddings(self.seed, self.VECS, self.DIM, self.VEC_PAIRS)
        gen.write(emb, os.path.join(self.sf_dir, "embeddings.parquet"), row_group_size=50)
        # the worker process reads the ground truth back from here
        with open(os.path.join(self.inputs, "truth.json"), "w") as f:
            json.dump({"docs": sorted(doc_truth)}, f)
        return {
            "star_schema": vars(self.SIZE),
            "documents": self.DOCS,
            "planted_doc_pairs": len(doc_truth),
            "embeddings": self.VECS,
            "planted_vec_pairs": len(vec_truth),
        }

    def _load(self) -> None:
        if hasattr(self, "_vecs"):
            return
        with open(os.path.join(self.inputs, "truth.json")) as f:
            t = json.load(f)
        self.doc_truth = {tuple(p) for p in t["docs"]}
        emb = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet")).to_pydict()
        self._ids = np.array(emb["vec_id"])
        self._vecs = np.array(emb["embedding"], dtype=np.float64)

    def _minhash_recall(self, pdf) -> str | None:
        self._load()
        got = set(zip(pdf["doc_a"].astype(int), pdf["doc_b"].astype(int)))
        recall = len(got & self.doc_truth) / len(self.doc_truth)
        self.layers["dedup.recall"] = recall
        if recall < self.MINHASH_RECALL:
            return f"minhash planted-pair recall {recall:.3f} < {self.MINHASH_RECALL}"
        return None

    def _ivf_recall(self, pdf) -> str | None:
        self._load()
        unit = self._vecs / np.linalg.norm(self._vecs, axis=1, keepdims=True)
        got = set(zip(pdf["query_id"].astype(int), pdf["candidate_id"].astype(int)))
        queries = sorted({q for q, _ in got})
        hits = total = 0
        for q in queries:
            i = int(np.flatnonzero(self._ids == q)[0])
            cos = unit @ unit[i]
            cos[i] = -np.inf
            top = {int(self._ids[j]) for j in np.argsort(-cos, kind="stable")[:5]}
            hits += sum((q, c) in got for c in top)
            total += len(top)
        recall = hits / total if total else 0.0
        self.layers["similarity.recall_at_k"] = recall
        if recall < self.IVF_RECALL_AT_5:
            return f"IVF recall@5 {recall:.3f} < {self.IVF_RECALL_AT_5}"
        return None

    def ops(self, spark, p: int) -> list[Op]:
        extra = {
            "dedup_minhash_lsh": self._minhash_recall,
            "similarity_ivf_probe": self._ivf_recall,
        }
        return [self.query_op(spark, q, extra.get(q)) for q in self.QUERIES]

    def probe(self, spark, p: int, tracer) -> None:
        from lake_satellite_image_etl_spark.io import read_table
        from lake_satellite_image_etl_spark.operators import similarity as sim
        from lake_satellite_image_etl_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            minhash_pairs,
        )
        from pyspark.sql import functions as F

        with tracer.span("dedup.candidates", group=f"{self.name}.probe/dedup"):
            cands = minhash_pairs(read_table(spark, self.sf_dir, "documents"), None)
            row = cands.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("jaccard") >= JACCARD_THRESHOLD).cast("long")).alias("v"),
            ).first()
        self.add("dedup.candidate_pairs", row["n"])
        self.add("dedup.verified_pairs", row["v"] or 0)
        with tracer.span("similarity.candidates", group=f"{self.name}.probe/similarity"):
            emb = read_table(spark, self.sf_dir, "embeddings")
            assigned = sim.ivf_assign(
                emb, 0, keep_ranks=sim.N_PROBE,
                memo_path=os.path.join(self.sf_dir, "embeddings.parquet"),
            )
            lists = assigned.filter(F.col("crank") == 1).select(
                F.col("vec_id").alias("cand"), "c_label"
            )
            probes = assigned.filter(
                (F.col("crank") <= sim.N_PROBE)
                & (F.col("vec_id") % sim.QUERY_STRIDE == 0)
            ).select(F.col("vec_id").alias("q"), "c_label")
            pairs = probes.join(lists, "c_label").filter(F.col("cand") != F.col("q"))
            row = pairs.agg(
                F.count(F.lit(1)).alias("n"), F.countDistinct("q").alias("q")
            ).first()
        self.add("similarity.candidate_pairs", row["n"])
        self.add("similarity.queries", row["q"])


# -------------------------------------------------------------- daily_etl


def clip_reference(img: np.ndarray, ring: list) -> np.ndarray:
    """numpy reference for the polygon clip: crop to the ring's pixel
    bbox and zero pixels whose centre falls outside (even-odd rule)."""
    _, h, w = img.shape
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    x0, x1 = max(0, int(np.floor(min(xs)))), min(w - 1, int(np.ceil(max(xs))))
    y0, y1 = max(0, int(np.floor(min(ys)))), min(h - 1, int(np.ceil(max(ys))))
    py, px = np.mgrid[y0 : y1 + 1, x0 : x1 + 1] + 0.5
    inside = np.zeros(px.shape, dtype=bool)
    for (ax, ay), (bx, by) in zip(ring, ring[1:] + ring[:1]):
        if ay == by:
            continue  # a horizontal edge is never crossed
        crosses = ((ay > py) != (by > py)) & (px < (bx - ax) * (py - ay) / (by - ay) + ax)
        inside ^= crosses
    crop = img[:, y0 : y1 + 1, x0 : x1 + 1]
    return np.where(inside[None], crop, 0).astype(np.uint8)


def stats_reference(img: np.ndarray) -> tuple[list, float | None]:
    """Per-channel mean of non-zero pixels, and the white fraction
    (min ≥ 153 and max − min ≤ 25, over pixels not zero in every band)."""
    means = [float(c[c != 0].mean()) if (c != 0).any() else None for c in img]
    lo, hi = img.min(0).astype(int), img.max(0).astype(int)
    in_bounds = int((hi != 0).sum())
    white = int(((lo >= 153) & (hi - lo <= 25)).sum())
    return means, (white / in_bounds if in_bounds else None)


class DailyEtl(Workload):
    NAME = "daily_etl"
    SIZE = gen.DaySize()

    def __init__(self, inputs: str, seed: int) -> None:
        super().__init__(self.NAME, inputs, seed)
        self.history_dir = os.path.join(inputs, "history.parquet")
        self.target = os.path.join(inputs, "work", "target.parquet")
        self.artifacts = os.path.join(inputs, "work", "artifacts")
        self._records = None

    def day_dir(self, p: int) -> str:
        return os.path.join(self.inputs, "days", f"{p + 1:05d}")

    def generate(self, passes: int) -> dict:
        """Days 0..passes: day 0 is the setup passes' day, day p + 1
        the timed pass p's."""
        for day in range(passes + 1):
            d = gen.day_inputs(self.seed, day, self.SIZE)
            for name, table in d["tables"].items():
                gen.write(table, os.path.join(self.day_dir(day - 1), f"{name}.parquet"))
            with open(os.path.join(self.day_dir(day - 1), "polygons.json"), "w") as f:
                json.dump(d["polygons"], f)
        gen.write(
            gen.history(self.seed, passes + 1, self.SIZE),
            os.path.join(self.history_dir, "part-history.parquet"),
        )
        return {"day": vars(self.SIZE), "days": passes + 1}

    def before_pass(self, p: int) -> None:
        for path in (self.target, self.artifacts):
            shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(self.history_dir, self.target)
        os.makedirs(self.artifacts)
        with open(os.path.join(self.day_dir(p), "polygons.json")) as f:
            self._polygons = {int(k): v for k, v in json.load(f).items()}

    def after_pass(self, p: int) -> None:
        if self._records is not None:
            self._records.unpersist()
            self._records = None
        hist = set(os.listdir(self.history_dir))
        new = [f for f in os.listdir(self.target) if f.endswith(".parquet") and f not in hist]
        self.add("sinks.files_written", len(new))
        added = sum(os.path.getsize(os.path.join(self.target, f)) for f in new)
        for dirpath, _, files in os.walk(self.artifacts):
            added += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        self.add("sinks.stored_bytes", added)

    # -- references ------------------------------------------------------

    def _raster_truth(self, p: int) -> dict[int, dict]:
        bands = pq.read_table(os.path.join(self.day_dir(p), "bands.parquet")).to_pydict()
        w = self.SIZE.raster
        imgs: dict[int, list] = {}
        for eid, b, data in zip(bands["entity_id"], bands["band_idx"], bands["data"]):
            imgs.setdefault(eid, [None] * 3)[b] = np.frombuffer(data, np.uint8).reshape(w, w)
        out = {}
        for eid, chans in imgs.items():
            clip = clip_reference(np.stack(chans), self._polygons[eid])
            means, wf = stats_reference(clip)
            out[eid] = {"means": means, "wf": wf, "data": clip.tobytes()}
        return out

    # -- ops -----------------------------------------------------------

    def ops(self, spark, p: int) -> list[Op]:
        from pyspark.sql import functions as F

        from lake_satellite_image_etl_spark.functions.scalars import artifact_key
        from lake_satellite_image_etl_spark.io import read_table
        from lake_satellite_image_etl_spark.multimodal.raster import (
            channel_means,
            clip_to_polygon,
            stack_bands,
            white_fraction,
        )
        from lake_satellite_image_etl_spark.operators.incremental import idempotent_append
        from lake_satellite_image_etl_spark.plans.flagship import FLAGSHIP_ORACLE_SQL, flagship
        from lake_satellite_image_etl_spark.sinks import (
            write_binary_artifacts,
            write_idempotent_append,
        )

        day = self.day_dir(p)
        pk = gen.TARGET_PK
        state: dict[str, Any] = {}
        base = os.path.dirname(self.target)

        def check_flagship(pdf):
            with self.cmp.duckdb_con(day) as con:
                want = con.execute(FLAGSHIP_ORACLE_SQL).fetchdf()
            res = self.cmp.compare_frames("flagship", pdf, want)
            return None if res.ok else f"flagship: {res.detail}"

        def new_scenes():
            scenes = read_table(spark, day, "scenes").select(*pk)
            return idempotent_append(scenes, read_table(spark, base, "target").select(*pk), pk)

        def check_new(pdf):
            # the target held exactly the history when the op ran
            with self.cmp.duckdb_con(day) as con:
                want = con.execute(
                    f"SELECT waterbody_id, ee_id FROM read_parquet('{day}/scenes.parquet') "
                    f"ANTI JOIN (SELECT waterbody_id, ee_id FROM "
                    f"read_parquet('{self.history_dir}/*.parquet')) USING (waterbody_id, ee_id)"
                ).fetchdf()
            state["expected_new"] = len(want)
            res = self.cmp.compare_frames("already_downloaded", pdf, want)
            return None if res.ok else f"already_downloaded: {res.detail}"

        def records():
            scenes = read_table(spark, day, "scenes")
            stacked = stack_bands(read_table(spark, day, "bands"))
            clipped = clip_to_polygon(stacked, functools.partial(dict.__getitem__, self._polygons))
            stats = clipped.select(
                F.col("entity_id"),
                channel_means("data", "width", "height", "bands").alias("means"),
                white_fraction("data", "width", "height", "bands").alias("wf"),
                "data",
            )
            ts = F.col("captured_ts")
            return scenes.join(stats, scenes.waterbody_id == stats.entity_id).select(
                "waterbody_id",
                "captured_ts",
                "ee_id",
                "satellite_dataset",
                F.to_json(F.struct("satellite_dataset")).alias("properties"),
                artifact_key(F.col("ee_id"), F.col("waterbody_id"), ts, ".tif").alias("filename"),
                artifact_key(F.col("ee_id"), F.col("waterbody_id"), ts, "_thumbnail.png").alias(
                    "thumbnail_filename"
                ),
                *[F.round(F.col("means")[i], 6).alias(f"{c}_average") for i, c in enumerate(gen.BAND_NAMES)],
                F.round("wf", 6).alias("white_fraction"),
                "data",
            )

        def materialize(df):
            self._records = df.cache()
            return self._records.toPandas()

        def check_records(pdf):
            truth = self._raster_truth(p)
            state["records"] = pdf
            scenes = pq.read_table(os.path.join(day, "scenes.parquet"), columns=["waterbody_id"])
            if len(pdf) != scenes.num_rows or set(pdf["waterbody_id"].astype(int)) != set(truth):
                return f"raster_records: {len(pdf)} rows for {scenes.num_rows} scenes"
            for row in pdf.itertuples(index=False):
                t = truth[int(row.waterbody_id)]
                got = [row.red_average, row.green_average, row.blue_average, row.white_fraction]
                want = [*t["means"], t["wf"]]
                for g, w_ in zip(got, want):
                    # the pipeline rounds to 6 decimals: at most 5e-7 off
                    if (g is None or g != g) != (w_ is None) or (
                        w_ is not None and abs(g - w_) > 5e-7 + 1e-12
                    ):
                        return f"raster_records: entity {row.waterbody_id} {got} != {want}"
                if bytes(row.data) != t["data"]:
                    return f"raster_records: entity {row.waterbody_id} clipped pixels differ"
            return None

        def append(rerun):
            def run(_):
                return write_idempotent_append(spark, self._records.drop("data"), self.target, pk)

            def check(n):
                want = 0 if rerun else state.get("expected_new")
                self.add("sinks.rerun_rows_appended" if rerun else "sinks.rows_appended", n)
                return None if n == want else f"append(rerun={rerun}): {n} rows, want {want}"

            return run, check

        def artifacts(_):
            return write_binary_artifacts(self._records, self.artifacts, "filename", "data")

        def check_artifacts(n):
            pdf = state.get("records")
            self.add("sinks.artifacts_written", n)
            if pdf is None or n != len(pdf):
                return f"artifacts: wrote {n}"
            for row in pdf.itertuples(index=False):
                path = os.path.join(self.artifacts, row.filename)
                if not os.path.exists(path) or open(path, "rb").read() != bytes(row.data):
                    return f"artifacts: {row.filename} missing or wrong"
            return None

        run_append, check_append = append(False)
        run_rerun, check_rerun = append(True)
        return [
            Op("flagship_catalog", lambda: flagship(spark, day), lambda df: df.toPandas(), check_flagship),
            Op("already_downloaded", new_scenes, lambda df: df.toPandas(), check_new),
            Op("raster_records", records, materialize, check_records),
            Op("append", lambda: None, run_append, check_append),
            Op("artifacts", lambda: None, artifacts, check_artifacts),
            Op("rerun", lambda: None, run_rerun, check_rerun),
        ]

    def probe(self, spark, p: int, tracer) -> None:
        """Materialize each public raster stage on its own; a stage's
        time is the chain up to it minus the chain before it."""
        from lake_satellite_image_etl_spark.io import read_table
        from lake_satellite_image_etl_spark.multimodal.raster import (
            channel_means,
            clip_to_polygon,
            stack_bands,
            white_fraction,
        )

        day = self.day_dir(p)
        stacked = stack_bands(read_table(spark, day, "bands"))
        clipped = clip_to_polygon(stacked, functools.partial(dict.__getitem__, self._polygons))
        stats = clipped.select(
            channel_means("data", "width", "height", "bands"),
            white_fraction("data", "width", "height", "bands"),
        )
        chain = []
        for stage, df in (("stack", stacked), ("clip", clipped), ("stats", stats)):
            t = time.perf_counter()
            with tracer.span(f"raster.{stage}", group=f"{self.name}.probe/raster.{stage}"):
                df.write.format("noop").mode("overwrite").save()
            chain.append(time.perf_counter() - t)
        self.add("raster.stack_s", chain[0])
        self.add("raster.clip_s", max(0.0, chain[1] - chain[0]))
        self.add("raster.stats_s", max(0.0, chain[2] - chain[1]))
        self.add("raster.chain_s", chain[2])
        bands = pq.read_table(os.path.join(day, "bands.parquet"), columns=["entity_id"])
        self.add("raster.pixels", bands.num_rows * self.SIZE.raster**2)


WORKLOADS = {w.NAME: w for w in (DailyEtl, CatalogOlap)}
