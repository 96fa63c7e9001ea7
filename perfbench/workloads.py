"""The four workloads: each pass is the workload's full sequence of
public engine calls, each ended by an action.

A workload exposes ``calls()`` (name, layer, thunk) for one pass,
``check(outputs)`` for the independent checks of one pass's outputs
(failures by call name) and ``after_pass()`` for clean-up outside the
timed region. ``digest`` compares later passes with the first.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import checks
import inputs


def cols(table) -> dict:
    return {n: table.column(n).to_numpy(zero_copy_only=False) for n in table.column_names}


def digest(output):
    """Order-free summary of an output; floats at 9 significant digits
    (aggregate sums may add in another order from pass to pass)."""
    if not hasattr(output, "column_names"):
        return repr(output)
    c = cols(output)
    rows = zip(*[[float(f"{v:.9g}") if isinstance(v, float) else v for v in c[n].tolist()]
                 for n in sorted(c)])
    return hash(tuple(sorted(rows, key=repr)))


class Workload:
    name = ""
    rows_per_pass = 0

    def __init__(self, spark, root: str, in_dir: str, work_dir: str, tracer):
        self.spark, self.root, self.dir, self.work = spark, root, in_dir, work_dir
        self.tracer = tracer
        self.extra: dict = {}   # per-layer figures the traced run reads

    def read(self, rel):
        return self.spark.read.parquet(os.path.join(self.dir, rel))

    def after_pass(self):
        pass


class DistanceBatch(Workload):
    """geodist (Vincenty via the Arrow UDF) and greatcircle (codegen)."""
    name = "distance_batch"

    def __init__(self, *a):
        super().__init__(*a)
        self.rows_per_pass = inputs.SIZES[self.name]["pairs"]

    def _agg(self, fn):
        from pyspark.sql import functions as F
        df = fn(self.read("pairs"), "lat1", "lon1", "lat2", "lon2")
        return df.agg(F.count("dist").alias("n"), F.sum("dist").alias("sum"),
                      F.min("dist").alias("min"), F.max("dist").alias("max")).toArrow()

    def calls(self):
        from geodistpy_spark.operators import geodist, greatcircle
        return [("geodist", "functions", lambda: self._agg(geodist)),
                ("greatcircle", "functions", lambda: self._agg(greatcircle))]

    def pull(self) -> dict:
        """Every pair's distance from both calls, in one untimed job."""
        from geodistpy_spark.operators import geodist, greatcircle
        both = greatcircle(geodist(self.read("pairs"), "lat1", "lon1", "lat2", "lon2"),
                           "lat1", "lon1", "lat2", "lon2", out="greatcircle")
        t = both.select("pair_id", "dist", "greatcircle").toArrow().sort_by("pair_id")
        return {"pair_id": t.column("pair_id").to_numpy(), "geodist": t.column("dist").to_numpy(),
                "greatcircle": t.column("greatcircle").to_numpy()}

    def check(self, outputs):
        return self.check_pulled(outputs, self.pull())

    def check_pulled(self, outputs, full: dict):
        pairs = cols(pq.read_table(os.path.join(self.dir, "pairs")).sort_by("pair_id"))
        golden = pq.read_table(os.path.join(self.root, "fixtures", "golden", "inverse.parquet"))
        golden = golden.sort_by("id").column("s_m").to_numpy()
        out = {}
        for name in ("geodist", "greatcircle"):
            errs = checks.check_distances(full["pair_id"], full[name], pairs, golden,
                                          name, golden=name == "geodist")
            agg = cols(outputs[name])
            d = full[name]
            # the sums add in another order; 1e-11 of ~1e13 m is 100 m
            if (agg["n"][0] != d.size or agg["min"][0] != d.min() or agg["max"][0] != d.max()
                    or not np.isclose(agg["sum"][0], d.sum(), rtol=1e-11, atol=0)):
                errs.append(f"{name}: aggregate disagrees with the pulled distances")
            out[name] = errs
        return out


class SpatialJoin(Workload):
    """Roundtrip, extraction, radius, kNN, point-in-polygon and zonal over
    the documents table."""
    name = "spatial_join"
    RES = 12

    def __init__(self, *a):
        super().__init__(*a)
        self.rows_per_pass = inputs.SIZES[self.name]["docs"]

    def calls(self):
        from geodistpy_spark.operators import (knn_join, point_in_polygon_join, radius_join,
                                               zonal_stats)
        from geodistpy_spark.sources import extract_geo_spans, verify_roundtrip
        docs, q = self.read("docs"), self.read("queries.parquet")
        geo = extract_geo_spans(docs, res=self.RES)
        keep = ["query_id", "doc_id", "span_idx", "dist"]
        return [
            ("verify_roundtrip", "sources", lambda: verify_roundtrip(docs)),
            ("extract_geo_spans", "sources", lambda: geo.toArrow()),
            ("radius_join", "operators", lambda: radius_join(
                q, geo, inputs.RADIUS_M, c_lat="lat", c_lon="lon").select(*keep).toArrow()),
            ("knn_join", "operators", lambda: knn_join(
                q, geo, inputs.KNN_K, c_lat="lat", c_lon="lon").select(*keep).toArrow()),
            ("point_in_polygon_join", "operators", lambda: point_in_polygon_join(
                geo, self.read("rings.parquet")).select("doc_id", "span_idx", "poly_id").toArrow()),
            ("zonal_stats", "operators", lambda: zonal_stats(
                self.read("raster.parquet"), self.read("rings.parquet")).toArrow()),
        ]

    def relational_pip(self):
        """The same join over a ring set above the broadcast threshold."""
        from geodistpy_spark.operators import point_in_polygon_join
        from geodistpy_spark.sources import extract_geo_spans
        geo = extract_geo_spans(self.read("docs"), res=self.RES)
        return point_in_polygon_join(geo, self.read("rings_relational.parquet")).select(
            "doc_id", "span_idx", "poly_id").toArrow()

    def refs(self):
        pts = cols(pq.read_table(os.path.join(self.dir, "points.parquet")))
        q = cols(pq.read_table(os.path.join(self.dir, "queries.parquet")))
        return pts, q

    def check(self, outputs):
        pts, q = self.refs()
        rings = pq.read_table(os.path.join(self.dir, "rings.parquet")).to_pydict()
        raster = cols(pq.read_table(os.path.join(self.dir, "raster.parquet")))
        out = {k: cols(v) for k, v in outputs.items() if k != "verify_roundtrip"}
        changed = outputs["verify_roundtrip"]
        return {
            "verify_roundtrip": [f"verify_roundtrip: {changed} documents changed"] if changed else [],
            "extract_geo_spans": checks.check_extract(pts, out["extract_geo_spans"], self.RES),
            "radius_join": checks.band_truth_errors()
            + checks.check_radius(q, pts, out["radius_join"], inputs.RADIUS_M),
            "knn_join": checks.check_knn(q, pts, out["knn_join"], inputs.KNN_K),
            "point_in_polygon_join": checks.check_pip(pts, rings, out["point_in_polygon_join"], "pip"),
            "zonal_stats": checks.check_zonal(raster, rings, out["zonal_stats"]),
        }

    def check_relational(self, output):
        pts, _ = self.refs()
        rings = pq.read_table(os.path.join(self.dir, "rings_relational.parquet")).to_pydict()
        return checks.check_pip(pts, rings, cols(output), "pip relational")

    def after_pass(self):
        # knn_join leaves its cached intermediates behind; dropping them
        # keeps every pass doing the full work (the count is reported as
        # spark.cached_relations_end in the traced run)
        self.spark.catalog.clearCache()


class CheckpointedRadius(Workload):
    """CheckpointedRun over the radius pipeline's transform, stopped after
    the first chunk and resumed."""
    name = "checkpointed_radius"

    def __init__(self, *a):
        super().__init__(*a)
        self.rows_per_pass = inputs.SIZES[self.name]["docs"]
        self.n = 0
        self.rows_out: list[int] = []   # lineage rows_out of each pass's committed chunks
        self.whole_digest = None        # digest of an uninterrupted run's result

    def transform(self, queries):
        from pyspark.sql import functions as F

        from geodistpy_spark.operators import radius_join
        from geodistpy_spark.sources import extract_geo_spans

        def run(chunk):  # the transform of jobs/radius_pipeline.py
            geo = extract_geo_spans(chunk, res=12)
            rj = radius_join(queries, geo, inputs.RADIUS_M, c_lat="lat", c_lon="lon")
            return rj.select("query_id", "doc_id", "span_idx", F.round("dist", 3).alias("dist_m"))
        return run

    def _fresh(self, tag):
        from geodistpy_spark.plans import CheckpointedRun
        out = os.path.join(self.work, "ckpt", f"{tag}-{self.n}")
        shutil.rmtree(out, ignore_errors=True)
        return CheckpointedRun(out, key_col="doc_id", n_chunks=inputs.CHUNKS)

    def calls(self):
        if self.n:
            shutil.rmtree(self.run.out_dir, ignore_errors=True)
        self.n += 1
        docs = self.read("docs")
        tf = self.transform(self.read("queries.parquet").cache())
        run = self._fresh("pass")
        self.run = run

        def interrupted():
            try:
                run.run(docs, tf, fail_after_chunk=0)
            except RuntimeError as e:
                if "injected failure" in str(e):
                    return sorted(run.committed_chunks())
                raise
            raise AssertionError("fail_after_chunk=0 did not stop the run")

        return [("interrupted_run", "plans", interrupted),
                ("resume", "plans", lambda: run.run(docs, tf)),
                ("result", "plans", lambda: run.result(self.spark).toArrow())]

    def check(self, outputs):
        pts = cols(pq.read_table(os.path.join(self.dir, "points.parquet")))
        q = cols(pq.read_table(os.path.join(self.dir, "queries.parquet")))
        res = cols(outputs["result"])
        errs = checks.band_truth_errors() + checks.check_radius(
            q, pts, dict(res, dist=res["dist_m"]), inputs.RADIUS_M)
        if self.rows_out[0] != len(res["query_id"]):
            errs.append("checkpointed: lineage rows_out does not sum to the result count")
        if self.whole_digest is None:
            whole = self._fresh("uninterrupted")
            whole.run(self.read("docs"), self.transform(self.read("queries.parquet")))
            self.whole_digest = digest(whole.result(self.spark).toArrow())
            shutil.rmtree(whole.out_dir, ignore_errors=True)
        if self.whole_digest != digest(outputs["result"]):
            errs.append("checkpointed: resumed output differs from an uninterrupted run")
        return {"interrupted_run": [] if outputs["interrupted_run"] == [0] else
                [f"interrupted run committed {outputs['interrupted_run']}, expected [0]"],
                "resume": [] if outputs["resume"] == list(range(1, inputs.CHUNKS)) else
                [f"resume executed {outputs['resume']}"],
                "result": errs}

    def after_pass(self):
        committed = [e for e in self.run.lineage() if e.get("event") == "chunk_committed"]
        self.extra.setdefault("chunk_walls", []).extend(e["wall_sec"] for e in committed)
        self.extra["rows_written"] = sum(e["rows_out"] for e in committed)
        self.rows_out.append(self.extra["rows_written"])
        self.spark.catalog.clearCache()


class TextDedup(Workload):
    """MinHash near-duplicates over a corpus with planted copies, and
    exact cosine top-k over seeded embeddings."""
    name = "text_dedup"

    def __init__(self, *a):
        super().__init__(*a)
        sz = inputs.SIZES[self.name]
        self.rows_per_pass = sz["texts"] + sz["vectors"]

    def calls(self):
        from geodistpy_spark.textops import cosine_topk, near_duplicates_minhash
        texts = self.read("texts")

        def minhash():
            caches: list = []
            out = near_duplicates_minhash(texts, threshold=inputs.MINHASH_THRESHOLD,
                                          caches=caches).select("id_1", "id_2", "jaccard").toArrow()
            if self.tracer.traced and caches:
                self.extra["lsh_candidate_rows"] = caches[0].count()
            for c in caches:
                c.unpersist()
            return out

        return [("near_duplicates_minhash", "textops", minhash),
                ("cosine_topk", "textops", lambda: cosine_topk(
                    self.read("embeddings"), self.read("vector_queries.parquet"),
                    inputs.TOPK).toArrow())]

    def check(self, outputs):
        corpus = pq.read_table(os.path.join(self.dir, "texts")).sort_by("doc_id")
        planted = np.load(os.path.join(self.dir, "planted.npy"))
        emb = pq.read_table(os.path.join(self.dir, "embeddings")).sort_by("vec_id")
        e = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        qv = np.stack(pq.read_table(os.path.join(self.dir, "vector_queries.parquet"))
                      .column("q_vec").to_numpy(zero_copy_only=False))
        return {
            "near_duplicates_minhash": checks.check_near_dups(
                corpus.column("text").to_pylist(), cols(outputs["near_duplicates_minhash"]),
                inputs.MINHASH_THRESHOLD, planted),
            "cosine_topk": checks.check_topk(e, qv, cols(outputs["cosine_topk"]), inputs.TOPK),
        }


WORKLOADS = {w.name: w for w in (DistanceBatch, SpatialJoin, CheckpointedRadius, TextDedup)}
