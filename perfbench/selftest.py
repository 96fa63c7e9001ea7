"""Show that every correctness check rejects a perturbed output.

    python3 perfbench/selftest.py

Runs one pass of each workload against the engine (the checks must
pass on the real outputs, seed ``SEED``), then feeds each check a copy
of the output with one deliberate fault: a distance off by 1 m, a row
dropped, a row added, a count, a list or a score changed. Each case
names the message its check must give; a case passes only if that
message is among the errors. Exits 1 unless every case passes. Takes
about three minutes on 4 cores.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs
from harness import ROOT, WORK, Runner, environment, start_spark, stop_spark

SEED = 1


def copy(d: dict) -> dict:
    return {k: np.array(v, copy=True) for k, v in d.items()}


def drop(d: dict, i=0) -> dict:
    return {k: np.delete(np.asarray(v), i) for k, v in d.items()}


def bump(d: dict, col: str, by, i: int = 0) -> dict:
    out = copy(d)
    out[col] = out[col].astype(type(by)) if isinstance(by, float) else out[col]
    out[col][i] = out[col][i] + by
    return out


def append(d: dict, row: dict) -> dict:
    return {k: np.append(np.asarray(v), row[k]) for k, v in d.items()}


def main() -> int:
    environment()
    from tracing import Tracer
    from workloads import WORKLOADS, cols

    spark = start_spark()
    # (label, the message the check must give or None for "passes", errors)
    cases: list[tuple[str, str | None, list]] = []
    try:
        out = {}
        for name, cls in WORKLOADS.items():
            d = inputs.build(name, SEED, os.path.join(WORK, "inputs"))
            r = Runner(cls(spark, ROOT, d, WORK, Tracer()), Tracer())
            r.one_pass()
            r.check_first()
            cases.append((f"{name}: unperturbed outputs pass", None, r.errors))
            out[name] = (r.wl, r.outputs)

        wl, o = out["distance_batch"]
        pairs = cols(pq.read_table(os.path.join(wl.dir, "pairs")).sort_by("pair_id"))
        golden = pq.read_table(os.path.join(ROOT, "fixtures", "golden", "inverse.parquet"))
        golden = golden.sort_by("id").column("s_m").to_numpy()
        pulled = wl.pull()
        full = {"pair_id": pulled["pair_id"], "dist": pulled["geodist"]}
        gc = {"pair_id": pulled["pair_id"], "dist": pulled["greatcircle"]}

        def dist(f, what="geodist"):
            return checks.check_distances(f["pair_id"], f["dist"], pairs, golden, what,
                                          what == "geodist")

        def agg(name, col, by):
            t = cols(o[name])
            return wl.check_pulled(dict(o, **{name: pa.table(bump(t, col, by))}), pulled)[name]
        cases += [
            ("distance: golden pair off by 1 m", "golden pair 7 off mpmath truth",
             dist(bump(full, "dist", 1.0, 7))),
            ("distance: one pair dropped", "rows for", dist(drop(full, 5000))),
            ("distance: one bulk pair negative", "negative or non-finite",
             dist(bump(full, "dist", -1e9, 5000))),
            ("distance: one bulk pair 1 % long", "geodist: 1 pairs outside the sphere band",
             dist(bump(full, "dist", 0.01 * full["dist"][9000], 9000))),
            ("greatcircle: one pair 1 % long", "greatcircle: 1 pairs outside the sphere band",
             dist(bump(gc, "dist", 0.01 * gc["dist"][9000], 9000), "greatcircle")),
            ("geodist aggregate: sum off by 1 km", "geodist: aggregate disagrees",
             agg("geodist", "sum", 1000.0)),
            ("geodist aggregate: count off by one", "geodist: aggregate disagrees",
             agg("geodist", "n", 1)),
            ("greatcircle aggregate: max off by 1 m", "greatcircle: aggregate disagrees",
             agg("greatcircle", "max", 1.0)),
        ]

        wl, o = out["spatial_join"]
        pts, q = wl.refs()
        rings = pq.read_table(os.path.join(wl.dir, "rings.parquet")).to_pydict()
        raster = cols(pq.read_table(os.path.join(wl.dir, "raster.parquet")))
        rad, knn = cols(o["radius_join"]), cols(o["knn_join"])
        far = int(np.argmax(checks.haversine(q["q_lat"][0], q["q_lon"][0], pts["lat"], pts["lon"])))
        extra = {"query_id": q["query_id"][0], "doc_id": pts["doc_id"][far],
                 "span_idx": pts["span_idx"][far], "dist": 1.0}
        own = np.flatnonzero(knn["query_id"] == q["query_id"][0])
        nearest0 = int(own[np.argmin(knn["dist"][own])])
        first_rad = {k: v[0] for k, v in rad.items()}
        cases += [
            ("radius: one pair dropped", "within the radius missing",
             checks.check_radius(q, pts, drop(rad), inputs.RADIUS_M)),
            ("radius: a far pair added", "beyond the radius reported",
             checks.check_radius(q, pts, append(rad, extra), inputs.RADIUS_M)),
            ("radius: one pair reported twice", "radius: duplicate row",
             checks.check_radius(q, pts, append(rad, first_rad), inputs.RADIUS_M)),
            ("radius: one distance off by 1 m", "radius: a distance is off the ellipsoidal solver",
             checks.check_radius(q, pts, bump(rad, "dist", 1.0), inputs.RADIUS_M)),
            ("knn: one neighbour dropped", "rows, expected",
             checks.check_knn(q, pts, drop(knn), inputs.KNN_K)),
            ("knn: nearest swapped for a far point", "nearer points", checks.check_knn(
                q, pts, append(drop(knn, nearest0), extra), inputs.KNN_K)),
            ("knn: one distance off by 1 m", "knn: a distance is off the ellipsoidal solver",
             checks.check_knn(q, pts, bump(knn, "dist", 1.0), inputs.KNN_K)),
            ("extract: one point dropped", "points differ from", checks.check_extract(
                pts, drop(cols(o["extract_geo_spans"])), wl.RES)),
            ("extract: one cell id shifted", "outside their cell", checks.check_extract(
                pts, bump(cols(o["extract_geo_spans"]), f"cell_r{wl.RES}", 1), wl.RES)),
            ("pip: one containment dropped", "1 containments missing", checks.check_pip(
                pts, rings, drop(cols(o["point_in_polygon_join"])), "pip")),
            ("pip: one point moved to another ring", "1 extra", checks.check_pip(
                pts, rings, bump(cols(o["point_in_polygon_join"]), "poly_id", 1), "pip")),
            ("zonal: one tile count off by one", "zonal: zone", checks.check_zonal(
                raster, rings, bump(cols(o["zonal_stats"]), "n_tiles", 1))),
            ("zonal: one sum off by 1e-3", "zonal: zone", checks.check_zonal(
                raster, rings, bump(cols(o["zonal_stats"]), "sum_value", 1e-3))),
            ("verify_roundtrip: one document changed", "1 documents changed",
             wl.check(dict(o, verify_roundtrip=1))["verify_roundtrip"]),
        ]
        truth = checks.load_band_truth()
        truth["s_m"][0] += 0.001
        cases.append(("band solver: truth off by 1 mm", "band solver off mpmath truth",
                      checks.band_truth_errors(truth)))

        wl, o = out["checkpointed_radius"]
        res = cols(o["result"])
        # the nearest pair, moved by 0.4 mm: inside the radius check's 1 mm
        # agreement, but no longer the uninterrupted run's output
        near = int(np.argmin(res["dist_m"]))

        def ck(call, **changed):
            return wl.check(dict(o, **changed))[call]

        def lineage_off():
            wl.rows_out[0] += 1
            try:
                return ck("result")
            finally:
                wl.rows_out[0] -= 1
        cases += [
            ("checkpointed: one row dropped", "within the radius missing",
             ck("result", result=pa.table(drop(res)))),
            ("checkpointed: one distance off by 1 m", "off the ellipsoidal solver",
             ck("result", result=pa.table(bump(res, "dist_m", 1.0)))),
            ("checkpointed: one distance off by 0.4 mm", "differs from an uninterrupted run",
             ck("result", result=pa.table(bump(res, "dist_m", 0.0004, near)))),
            ("checkpointed: lineage rows_out off by one", "lineage rows_out", lineage_off()),
            ("checkpointed: interrupted run committed two chunks", "interrupted run committed",
             ck("interrupted_run", interrupted_run=[0, 1])),
            ("checkpointed: resume skipped a chunk", "resume executed",
             ck("resume", resume=list(range(2, inputs.CHUNKS)))),
        ]

        wl, o = out["text_dedup"]
        corpus = pq.read_table(os.path.join(wl.dir, "texts")).sort_by("doc_id").column("text").to_pylist()
        planted = np.load(os.path.join(wl.dir, "planted.npy"))
        nd = cols(o["near_duplicates_minhash"])
        exact = [i for i, (a, b) in enumerate(zip(nd["id_1"], nd["id_2"]))
                 if corpus[a] == corpus[b]]
        pl = {(int(a), int(b)) for a, b in planted}
        high = [i for i, (a, b) in enumerate(zip(nd["id_1"], nd["id_2"]))
                if (int(a), int(b)) in pl and corpus[a] != corpus[b]
                and checks.jaccard(checks.shingle_set(corpus[a]),
                                   checks.shingle_set(corpus[b])) >= 0.8]
        th = inputs.MINHASH_THRESHOLD
        first_nd = {k: v[0] for k, v in nd.items()}
        cases += [
            ("near-dup: an exact planted copy dropped", "exact planted copies missed",
             checks.check_near_dups(corpus, drop(nd, exact[0]), th, planted)),
            ("near-dup: planted pairs at Jaccard >= 0.8 dropped", "planted pairs at Jaccard >= 0.8",
             checks.check_near_dups(corpus, drop(nd, high), th, planted)),
            ("near-dup: an unrelated pair added", "own Jaccard", checks.check_near_dups(
                corpus, append(nd, {"id_1": 0, "id_2": 3, "jaccard": 0.9}), th, planted)),
            ("near-dup: one pair reported twice", "duplicate or malformed",
             checks.check_near_dups(corpus, append(nd, first_nd), th, planted)),
            ("near-dup: one Jaccard misreported", "own Jaccard", checks.check_near_dups(
                corpus, bump(nd, "jaccard", 1e-6), th, planted)),
        ]
        emb = pq.read_table(os.path.join(wl.dir, "embeddings")).sort_by("vec_id")
        e = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        qv = np.stack(pq.read_table(os.path.join(wl.dir, "vector_queries.parquet"))
                      .column("q_vec").to_numpy(zero_copy_only=False))
        tk = cols(o["cosine_topk"])
        swapped = copy(tk)
        swapped["vec_id"][[0, 1]] = swapped["vec_id"][[1, 0]]
        cases += [("topk: two neighbours swapped", "ids differ",
                   checks.check_topk(e, qv, swapped, inputs.TOPK)),
                  ("topk: one cosine off by 1e-6", "cosines differ",
                   checks.check_topk(e, qv, bump(tk, "cosine", 1e-6), inputs.TOPK))]
    finally:
        stop_spark(spark)

    bad = 0
    for label, want, errs in cases:
        ok = not errs if want is None else any(want in e for e in errs)
        bad += not ok
        shown = next((e for e in errs if want and want in e), errs[0] if errs else "passed")
        print(f"{'ok  ' if ok else 'FAIL'} {label}: {shown[:110]}")
    print(f"{len(cases) - bad}/{len(cases)} as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
