"""Correctness checks that do not use the engine.

Every check compares an engine output with a computation made here
(numpy, DuckDB, plain Python) or with a property the method must have.
Each returns a list of failure strings; an empty list means it passed.
``selftest.py`` shows each one rejecting a perturbed output.
"""

from __future__ import annotations

import json
import os

import numpy as np

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
SPHERE_R = 6371008.8
# |ellipsoid geodesic / great circle on SPHERE_R - 1| stays below 0.56 %
# on WGS-84; the band adds margin, so the brute force decides every pair
# outside it and only pairs inside need the ellipsoidal solver
BAND = 0.006
GOLDEN_BAR_M = 0.00025
SOLVER_AGREE_M = 0.001
HERE = os.path.dirname(os.path.abspath(__file__))


def haversine(lat1, lon1, lat2, lon2):
    p1, l1, p2, l2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lat1, lon1, lat2, lon2))
    h = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin((l2 - l1) / 2) ** 2
    return 2 * SPHERE_R * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def vincenty(lat1, lon1, lat2, lon2):
    """Vincenty's inverse on WGS-84 (own implementation, plain masked
    iteration). Returns (s_m, converged); near-antipodal pairs may not
    converge and are never asked of it by the band checks."""
    a, f = WGS84_A, WGS84_F
    b = a * (1 - f)
    p1, l1, p2, l2 = np.broadcast_arrays(*(np.radians(np.asarray(v, dtype=np.float64))
                                           for v in (lat1, lon1, lat2, lon2)))
    L = np.mod(l2 - l1 + np.pi, 2 * np.pi) - np.pi
    u1 = np.arctan((1 - f) * np.tan(p1))
    u2 = np.arctan((1 - f) * np.tan(p2))
    su1, cu1, su2, cu2 = np.sin(u1), np.cos(u1), np.sin(u2), np.cos(u2)
    lam = L.copy()
    done = np.zeros(L.shape, bool)
    for _ in range(300):
        sl, cl = np.sin(lam), np.cos(lam)
        ss = np.hypot(cu2 * sl, cu1 * su2 - su1 * cu2 * cl)
        cs = su1 * su2 + cu1 * cu2 * cl
        sig = np.arctan2(ss, cs)
        with np.errstate(invalid="ignore", divide="ignore"):
            sa = np.where(ss > 0, cu1 * cu2 * sl / np.where(ss > 0, ss, 1), 0.0)
            c2a = 1 - sa * sa
            c2m = np.where(c2a > 0, cs - 2 * su1 * su2 / np.where(c2a > 0, c2a, 1), 0.0)
        C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
        new = L + (1 - C) * f * sa * (sig + C * ss * (c2m + C * cs * (-1 + 2 * c2m * c2m)))
        done = np.abs(new - lam) < 1e-13
        lam = np.where(done, lam, new)
        if done.all():
            break
    u_sq = c2a * (a * a - b * b) / (b * b)
    A = 1 + u_sq / 16384 * (4096 + u_sq * (-768 + u_sq * (320 - 175 * u_sq)))
    B = u_sq / 1024 * (256 + u_sq * (-128 + u_sq * (74 - 47 * u_sq)))
    ds = B * ss * (c2m + B / 4 * (cs * (-1 + 2 * c2m * c2m)
                                  - B / 6 * c2m * (-3 + 4 * ss * ss) * (-3 + 4 * c2m * c2m)))
    return b * A * (sig - ds), done


def load_band_truth() -> dict:
    with open(os.path.join(HERE, "data", "band_truth.json")) as f:
        return json.load(f)


def band_truth_errors(t: dict | None = None) -> list[str]:
    """The ellipsoidal solver above against mpmath truth for near-radius
    pairs (``data/band_truth.json``, rebuilt by ``make_truth.py``)."""
    t = t or load_band_truth()
    p = np.asarray(t["pairs"], dtype=np.float64)
    s, ok = vincenty(p[:, 0], p[:, 1], p[:, 2], p[:, 3])
    err = np.abs(s - np.asarray(t["s_m"]))
    if not ok.all() or err.max() > GOLDEN_BAR_M:
        return [f"band solver off mpmath truth by {err.max():.3e} m"]
    return []


# ---------------------------------------------------------------- distances

def check_distances(pair_id, dist, pairs: dict, golden_s: np.ndarray, what: str,
                    golden: bool) -> list[str]:
    """Every pair non-negative and within the sphere/ellipsoid band of
    the haversine computed here; with ``golden`` the 1,500 golden pairs
    also match mpmath truth within 0.25 mm."""
    out = []
    order = np.argsort(pair_id)
    pid, d = np.asarray(pair_id)[order], np.asarray(dist, dtype=np.float64)[order]
    if pid.size != pairs["pair_id"].size or not np.array_equal(pid, pairs["pair_id"]):
        return [f"{what}: {pid.size} rows for {pairs['pair_id'].size} pairs"]
    if not np.all(np.isfinite(d)) or (d < 0).any():
        out.append(f"{what}: {int((~(d >= 0)).sum())} negative or non-finite distances")
    h = haversine(pairs["lat1"], pairs["lon1"], pairs["lat2"], pairs["lon2"])
    bad = np.abs(d - h) > BAND * h + 1.0
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        out.append(f"{what}: {int(bad.sum())} pairs outside the sphere band, e.g. id {i}: "
                   f"{d[i]:.3f} vs haversine {h[i]:.3f}")
    if golden:
        g = golden_s.size
        err = np.abs(d[:g] - golden_s)
        if err.max() > GOLDEN_BAR_M:
            i = int(np.argmax(err))
            out.append(f"{what}: golden pair {i} off mpmath truth by {err[i]:.3e} m")
    return out


# ------------------------------------------------------------ spatial joins

def check_radius(queries: dict, points: dict, result: dict, radius_m: float) -> list[str]:
    """Radius-join membership: the brute-force haversine decides every
    pair outside the band; the ellipsoidal solver decides pairs inside
    it. Reported distances must agree with the solver within 1 mm."""
    out = []
    keys = np.char.add(np.asarray(points["doc_id"]).astype(str),
                       np.char.add("#", np.asarray(points["span_idx"]).astype(str)))
    key_of = dict(zip(keys.tolist(), range(keys.size)))
    got = {}
    for q, d, s, dist in zip(result["query_id"], result["doc_id"], result["span_idx"], result["dist"]):
        k = f"{d}#{s}"
        if (int(q), k) in got:
            out.append(f"radius: duplicate row ({q}, {k})")
        got[(int(q), k)] = float(dist)
    want_in, band = set(), []
    for qi, (ql, qo) in enumerate(zip(queries["q_lat"], queries["q_lon"])):
        q = int(queries["query_id"][qi])
        h = haversine(ql, qo, points["lat"], points["lon"])
        for j in np.flatnonzero(h <= radius_m * (1 - BAND)):
            want_in.add((q, keys[j]))
        for j in np.flatnonzero((h > radius_m * (1 - BAND)) & (h <= radius_m * (1 + BAND))):
            band.append((q, j, ql, qo))
    if band:
        b = np.asarray([(ql, qo, points["lat"][j], points["lon"][j]) for _, j, ql, qo in band])
        s, _ = vincenty(b[:, 0], b[:, 1], b[:, 2], b[:, 3])
        for (q, j, _, _), sj in zip(band, s):
            if sj <= radius_m:
                want_in.add((q, keys[j]))
    missing = want_in - set(got)
    extra = set(got) - want_in
    if missing:
        out.append(f"radius: {len(missing)} pairs within the radius missing, e.g. {sorted(missing)[0]}")
    if extra:
        out.append(f"radius: {len(extra)} pairs beyond the radius reported, e.g. {sorted(extra)[0]}")
    out += _distance_agreement("radius", got, queries, points, key_of)
    return out


def _distance_agreement(what, got: dict, queries, points, key_of) -> list[str]:
    if not got:
        return []
    qpos = {int(q): i for i, q in enumerate(queries["query_id"])}
    rows = [(qpos[q], key_of[k], d) for (q, k), d in got.items() if k in key_of]
    if len(rows) != len(got):
        return [f"{what}: {len(got) - len(rows)} rows name no generated point"]
    qi, pj, d = (np.asarray(c) for c in zip(*rows))
    s, _ = vincenty(queries["q_lat"][qi], queries["q_lon"][qi], points["lat"][pj], points["lon"][pj])
    err = np.abs(s - d)
    if err.max() > SOLVER_AGREE_M:
        return [f"{what}: a distance is off the ellipsoidal solver by {err.max():.3e} m"]
    return []


def check_knn(queries: dict, points: dict, result: dict, k: int) -> list[str]:
    """kNN membership: k rows per query; every point whose haversine is
    below the band around the k-th distance is reported, and no
    unreported point inside the band is nearer than the k-th."""
    out = []
    keys = np.char.add(np.asarray(points["doc_id"]).astype(str),
                       np.char.add("#", np.asarray(points["span_idx"]).astype(str)))
    key_of = dict(zip(keys.tolist(), range(keys.size)))
    got: dict[int, dict] = {}
    flat = {}
    for q, d, s, dist in zip(result["query_id"], result["doc_id"], result["span_idx"], result["dist"]):
        got.setdefault(int(q), {})[f"{d}#{s}"] = float(dist)
        flat[(int(q), f"{d}#{s}")] = float(dist)
    for qi, (ql, qo) in enumerate(zip(queries["q_lat"], queries["q_lon"])):
        q = int(queries["query_id"][qi])
        rows = got.get(q, {})
        if len(rows) != k:
            out.append(f"knn: query {q} has {len(rows)} rows, expected {k}")
            continue
        dk = max(rows.values())
        h = haversine(ql, qo, points["lat"], points["lon"])
        must = set(keys[h < dk * (1 - BAND)].tolist())
        if not must <= set(rows):
            out.append(f"knn: query {q} misses {len(must - set(rows))} nearer points")
        cand = np.flatnonzero((h >= dk * (1 - BAND)) & (h <= dk * (1 + BAND)))
        cand = [j for j in cand if keys[j] not in rows]
        if cand:
            s, _ = vincenty(ql, qo, points["lat"][cand], points["lon"][cand])
            if (s < dk - 1e-6).any():
                out.append(f"knn: query {q} skips a point at {s.min():.3f} m < k-th {dk:.3f} m")
    out += _distance_agreement("knn", flat, queries, points, key_of)
    return out


def check_extract(points: dict, result: dict, res: int) -> list[str]:
    """Extracted points equal the generator's own parse, and each point
    lies in the cell it is tagged with."""
    out = []
    n = 1 << res
    mine = sorted(zip(points["doc_id"].tolist(), points["span_idx"].tolist(),
                      points["lat"].tolist(), points["lon"].tolist()))
    got = sorted(zip(result["doc_id"], result["span_idx"], result["lat"], result["lon"]))
    if mine != got:
        out.append(f"extract: {len(got)} points differ from the {len(mine)} generated")
    cell = np.asarray(result[f"cell_r{res}"], dtype=np.int64)
    lat, lon = np.asarray(result["lat"]), np.asarray(result["lon"])
    y, x = cell // n, cell % n
    lat_lo, lat_hi = -90 + 180.0 * y / n, -90 + 180.0 * (y + 1) / n
    lon_lo, lon_hi = -180 + 360.0 * x / n, -180 + 360.0 * (x + 1) / n
    inside = ((lat >= lat_lo) & ((lat < lat_hi) | (y == n - 1))
              & (((lon >= lon_lo) & (lon < lon_hi)) | ((x == 0) & (lon == 180.0))
                 | ((x == n - 1) & (lon >= lon_lo))))
    if not inside.all():
        out.append(f"extract: {int((~inside).sum())} points outside their cell")
    return out


# ------------------------------------------------------------ polygons (DuckDB)

def _ring_edges(rings: dict) -> dict:
    """Ring edges in each ring's unwrapped frame (relative to its first
    vertex; a ring that winds around a pole is closed through it)."""
    cols = {c: [] for c in ("poly_id", "yi", "xi", "yj", "xj", "ring_min", "ref")}
    for pid, ring in zip(rings["poly_id"], rings["ring"]):
        vlat = np.array([v["lat"] for v in ring])
        vlon = np.array([v["lon"] for v in ring])
        ref = vlon[0]
        u = np.mod(vlon - ref + 180.0, 360.0) - 180.0
        jumps = np.concatenate([[0.0], np.diff(u)])
        u = u - 360.0 * np.cumsum((jumps > 180.0).astype(float) - (jumps < -180.0))
        closing = np.mod(u[0] - u[-1] + 180.0, 360.0) - 180.0
        if abs(u[-1] - u[0] + closing) > 180.0:
            pole = 90.0 if vlat.mean() > 0 else -90.0
            vlat = np.concatenate([vlat, [pole, pole]])
            u = np.concatenate([u, [u[-1] + closing, u[0]]])
        y2, x2 = np.roll(vlat, -1), np.roll(u, -1)
        keep = vlat != y2
        for c, v in (("yi", vlat[keep]), ("xi", u[keep]), ("yj", y2[keep]), ("xj", x2[keep])):
            cols[c].extend(v.tolist())
        m = int(keep.sum())
        cols["poly_id"].extend([int(pid)] * m)
        cols["ring_min"].extend([float(u.min())] * m)
        cols["ref"].extend([float(ref)] * m)
    return {k: np.asarray(v) for k, v in cols.items()}


def pip_duckdb(points: dict, rings: dict) -> set:
    """(point index, poly_id) even-odd ray-cast hits, computed in DuckDB."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("pts", pa.table({"pt": np.arange(len(points["lat"])),
                                      "lat": np.asarray(points["lat"], dtype=np.float64),
                                      "lon": np.asarray(points["lon"], dtype=np.float64)}))
        con.register("edges", pa.table(_ring_edges(rings)))
        rows = con.execute("""
            WITH m AS (
              SELECT p.pt, e.poly_id, p.lat, e.yi, e.xi, e.yj, e.xj,
                     e.ring_min + (((((p.lon - e.ref + 180) % 360) + 360) % 360 - 180
                                    - e.ring_min) % 360 + 360) % 360 AS x
              FROM pts p JOIN edges e
                ON (e.yi > p.lat) <> (e.yj > p.lat))
            SELECT pt, poly_id FROM m
            GROUP BY pt, poly_id
            HAVING sum(CASE WHEN x < (xj - xi) * (lat - yi) / (yj - yi) + xi
                            THEN 1 ELSE 0 END) % 2 = 1
        """).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)) for a, b in rows}


def check_pip(points: dict, rings: dict, result: dict, what: str) -> list[str]:
    keys = [f"{d}#{s}" for d, s in zip(points["doc_id"], points["span_idx"])]
    want = {(keys[i], p) for i, p in pip_duckdb(points, rings)}
    got_list = [(f"{d}#{s}", int(p)) for d, s, p in
                zip(result["doc_id"], result["span_idx"], result["poly_id"])]
    got = set(got_list)
    out = []
    if len(got) != len(got_list):
        out.append(f"{what}: duplicate rows")
    if got != want:
        out.append(f"{what}: {len(want - got)} containments missing, {len(got - want)} extra "
                   f"(of {len(want)})")
    return out


def check_zonal(raster: dict, rings: dict, result: dict) -> list[str]:
    hits = pip_duckdb(raster, rings)
    val = np.asarray(raster["value"])
    agg: dict[int, list] = {}
    for i, p in hits:
        agg.setdefault(p, []).append(val[i])
    got = {int(p): (int(n), s, lo, hi) for p, n, s, lo, hi in zip(
        result["poly_id"], result["n_tiles"], result["sum_value"],
        result["min_value"], result["max_value"])}
    out = []
    if set(got) != set(agg):
        out.append(f"zonal: zones {sorted(set(got) ^ set(agg))[:5]} differ")
    for p, v in agg.items():
        if p not in got:
            continue
        n, s, lo, hi = got[p]
        v = np.asarray(v)
        off = abs(s - v.sum()) > 1e-9 * max(1.0, np.abs(v).sum())
        if n != v.size or lo != v.min() or hi != v.max() or off:
            out.append(f"zonal: zone {p} got ({n}, {s}, {lo}, {hi}), expected "
                       f"({v.size}, {v.sum()}, {v.min()}, {v.max()})")
            break
    return out


# ------------------------------------------------------------------ text

def shingle_set(text: str) -> set:
    """Word 3-shingles."""
    w = text.lower().split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def check_near_dups(texts: list, result: dict, threshold: float, planted: np.ndarray) -> list[str]:
    """Every reported pair has an own 3-shingle Jaccard >= threshold that
    equals the reported one; every exact planted copy is found; planted
    pairs at Jaccard >= 0.8 are found at least as often as 4 standard
    deviations below what 4 bands x 3 rows of MinHash give them."""
    out = []
    sets = {}

    def sh(i):
        if i not in sets:
            sets[i] = shingle_set(texts[i])
        return sets[i]

    found = set()
    for a, b, j in zip(result["id_1"], result["id_2"], result["jaccard"]):
        a, b = int(a), int(b)
        mine = jaccard(sh(a), sh(b))
        if a >= b or mine < threshold or abs(mine - j) > 1e-12:
            out.append(f"near-dup: pair ({a}, {b}) reported {j}, own Jaccard {mine}")
            break
        found.add((a, b))
    if len(found) != len(result["id_1"]):
        out.append("near-dup: duplicate or malformed pairs")
    js = np.array([jaccard(sh(int(a)), sh(int(b))) for a, b in planted])
    hit = np.array([(int(a), int(b)) in found for a, b in planted])
    exact = js == 1.0
    if not hit[exact].all():
        out.append(f"near-dup: {int((~hit[exact]).sum())} exact planted copies missed")
    hi = (js >= 0.8) & ~exact
    if hi.any():
        p = 1 - (1 - js[hi] ** 3) ** 4
        floor = p.sum() - 4 * np.sqrt((p * (1 - p)).sum())
        if hit[hi].sum() < floor:
            out.append(f"near-dup: {int(hit[hi].sum())} of {int(hi.sum())} planted pairs at "
                       f"Jaccard >= 0.8 found, expected at least {floor:.1f}")
    return out


def check_topk(emb: np.ndarray, qv: np.ndarray, result: dict, k: int) -> list[str]:
    """Top-k equals a numpy brute force (float64, ties by id)."""
    e = emb.astype(np.float64)
    q = qv.astype(np.float64)
    e /= np.maximum(np.linalg.norm(e, axis=1, keepdims=True), 1e-12)
    q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
    s = q @ e.T
    out = []
    got: dict[int, list] = {}
    for qid, vid, c, r in zip(result["query_id"], result["vec_id"], result["cosine"], result["rank"]):
        got.setdefault(int(qid), []).append((int(r), int(vid), float(c)))
    for qi in range(q.shape[0]):
        order = np.lexsort((np.arange(s.shape[1]), -s[qi]))[:k]
        rows = sorted(got.get(qi, []))
        if [v for _, v, _ in rows] != order.tolist():
            out.append(f"topk: query {qi} ids differ from brute force")
            break
        if max(abs(c - s[qi, v]) for _, v, c in rows) > 1e-9:
            out.append(f"topk: query {qi} cosines differ from brute force")
            break
    return out
