"""Seeded inputs for every workload, owned by the benchmark.

Nothing here imports the engine, so a change to ``geodistpy_spark``
cannot change what the benchmark feeds it. The same ``(workload, seed)``
always gives byte-identical inputs. They are written as parquet under
``<cache>/<workload>-s<seed>/`` before any timed region and reused when
the directory is complete (marked by ``_DONE``).

Make-up (see README.md for the reasoning):

- Coordinates: 70 % clustered around 20 urban centres (each a 0.5-degree
  Gaussian blob; centre 0 is the hot centre with weight 12 against 1 for
  the others), 25 % area-uniform over the globe, 5 % stress points
  (|lat| > 89.9 or |lon| > 179.9). The centres are fixed; the seed only
  draws the points, so every seed has the same shape of skew.
- Queries (spatial_join, checkpointed_radius): one third near the hot
  centre, one third uniform ocean (at least 8 degrees from every
  centre), one third near a pole (|lat| > 88.5). The first kind closes in
  kNN phase 1, the others need the wider phases and the polar cover.
- Rings: a 50-ring set (a north polar cap, two antimeridian crossers, the
  rest around centres), under the engine's broadcast threshold; and a
  600-ring set of small rings, above it, so the relational strategy runs.
- Text: documents of 20-60 words from a 20,000-word vocabulary; 10 % of
  documents are planted near-duplicates of an earlier one (``edits``
  word positions re-drawn, 0 to 3; 0 makes an exact copy).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHAPE_SEED = 20_240_601      # fixes the centres and ring shapes for every run
N_CENTERS = 20
HOT_WEIGHT = 12.0
MIXTURE = (0.70, 0.25, 0.05)  # clustered / uniform / stress

SIZES = {
    "distance_batch": {"pairs": 2_000_000, "antipodal": 4_000, "polar": 4_000},
    "spatial_join": {"docs": 12_000, "queries": 60, "rings": 50,
                     "rings_relational": 600, "raster_res": 6},
    "checkpointed_radius": {"docs": 6_000, "queries": 30},
    "text_dedup": {"texts": 12_000, "vocab": 20_000, "dup_every": 10,
                   "vectors": 40_000, "dim": 64, "vector_queries": 16},
}
RADIUS_M = 60_000.0
KNN_K = 10
CHUNKS = 3
MINHASH_THRESHOLD = 0.5
TOPK = 10
PARTS = 4          # parquet files per partitioned input
KEEP_SETS = 8      # input sets kept in the cache

SPAN_STRUCT = pa.struct([
    pa.field("kind", pa.string()),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32()),
])
RING_TYPE = pa.list_(pa.struct([pa.field("lat", pa.float64()),
                                pa.field("lon", pa.float64())]))
_WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
          "eiusmod tempor incididunt ut labore et dolore magna aliqua").split()


def centers() -> np.ndarray:
    rng = np.random.default_rng(SHAPE_SEED)
    return np.column_stack([rng.uniform(-55, 65, N_CENTERS),
                            rng.uniform(-180, 180, N_CENTERS)])


def golden_pairs():
    """The inputs of ``fixtures/golden/inverse.parquet``: integer-derived
    coordinates for ids 0..1499 (the repository's golden-pair formula)."""
    k = np.arange(1500, dtype=np.int64)
    lat1 = (k * 9973 % 17999) / 1e2 - 8.9995e1
    lon1 = (k * 7919 % 35999) / 1e2 - 1.79995e2
    lat2 = ((k * 104729 + 12345) % 17999) / 1e2 - 8.9995e1
    lon2 = ((k * 95231 + 54321) % 35999) / 1e2 - 1.79995e2
    return lat1, lon1, lat2, lon2


def mixture(rng: np.random.Generator, n: int):
    c = centers()
    w = np.ones(N_CENTERS)
    w[0] = HOT_WEIGHT
    kind = rng.choice(3, size=n, p=MIXTURE)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lon = rng.uniform(-180, 180, n)
    m = kind == 0
    idx = rng.choice(N_CENTERS, size=int(m.sum()), p=w / w.sum())
    lat[m] = np.clip(c[idx, 0] + rng.normal(0, 0.5, m.sum()), -90, 90)
    lon[m] = np.mod(c[idx, 1] + rng.normal(0, 0.5, m.sum()) + 180, 360) - 180
    m = kind == 2
    polar = rng.random(m.sum()) < 0.5
    north = rng.random(m.sum()) < 0.5
    lat[m] = np.where(polar, np.where(north, 1, -1) * rng.uniform(89.9, 90.0, m.sum()),
                      rng.uniform(-40, 40, m.sum()))
    lon[m] = np.where(polar, rng.uniform(-180, 180, m.sum()),
                      np.where(north, 1, -1) * rng.uniform(179.9, 180.0, m.sum()))
    return np.round(lat, 7), np.round(lon, 7)


def query_points(rng: np.random.Generator, n: int):
    """Hot-centre, uniform-ocean and near-pole thirds."""
    c = centers()
    kind = np.arange(n) % 3
    lat = np.empty(n)
    lon = np.empty(n)
    h = kind == 0
    lat[h] = c[0, 0] + rng.normal(0, 0.3, h.sum())
    lon[h] = c[0, 1] + rng.normal(0, 0.3, h.sum())
    o = np.flatnonzero(kind == 1)
    while o.size:
        la = np.degrees(np.arcsin(rng.uniform(-0.9, 0.9, o.size)))
        lo = rng.uniform(-180, 180, o.size)
        far = np.all((np.abs(la[:, None] - c[None, :, 0]) > 8)
                     | (np.abs(np.mod(lo[:, None] - c[None, :, 1] + 180, 360) - 180) > 8), axis=1)
        lat[o[far]], lon[o[far]] = la[far], lo[far]
        o = o[~far]
    p = kind == 2
    lat[p] = np.where(rng.random(p.sum()) < 0.5, 1, -1) * rng.uniform(88.5, 89.95, p.sum())
    lon[p] = rng.uniform(-180, 180, p.sum())
    return np.round(lat, 7), np.round(np.mod(lon + 180, 360) - 180, 7)


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    n_spans = rng.integers(1, 9, size=n_docs)
    total = int(n_spans.sum())
    kinds = rng.choice(np.array(["text", "media", "geo"]), size=total, p=[0.5, 0.2, 0.3])
    glat, glon = mixture(rng, total)
    n_words = rng.integers(3, 12, size=total)
    words = rng.integers(0, len(_WORDS), size=(total, 12))
    media = rng.integers(0, 2**48, size=total)
    texts, refs, offsets = [], [], []
    doc_of = np.repeat(np.arange(n_docs), n_spans)
    off = 0
    for i in range(total):
        if i and doc_of[i] != doc_of[i - 1]:
            off = 0
        k = kinds[i]
        if k == "text":
            t = " ".join(_WORDS[w] for w in words[i, : n_words[i]])
            texts.append(t), refs.append(None)
            step = len(t)
        elif k == "media":
            texts.append(None), refs.append(f"media://{media[i]:012x}")
            step = 1
        else:
            t = f"{glat[i]:.7f},{glon[i]:.7f}"
            texts.append(t), refs.append(None)
            step = len(t)
        offsets.append(off)
        off += step
    spans = pa.StructArray.from_arrays(
        [pa.array(kinds.tolist()), pa.array(texts, pa.string()),
         pa.array(refs, pa.string()), pa.array(offsets, pa.int32())],
        fields=list(SPAN_STRUCT))
    list_offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    return pa.table({
        "doc_id": pa.array([f"doc{i:010d}" for i in range(n_docs)]),
        "spans": pa.ListArray.from_arrays(pa.array(list_offsets), spans),
    })


def geo_points(docs: pa.Table) -> dict:
    """(doc_id, span_idx, lat, lon) of the geo spans, parsed here from
    the generated table — the reference the join checks compare with."""
    d = docs.to_pydict()
    out = {"doc_id": [], "span_idx": [], "lat": [], "lon": []}
    for doc_id, spans in zip(d["doc_id"], d["spans"]):
        for j, s in enumerate(spans):
            if s["kind"] == "geo":
                la, lo = s["text"].split(",")
                out["doc_id"].append(doc_id)
                out["span_idx"].append(j)
                out["lat"].append(float(la))
                out["lon"].append(float(lo))
    return {k: np.asarray(v) for k, v in out.items()}


def _ring(rng, clat, clon, r_lo, r_hi, k_lo=6, k_hi=21):
    k = int(rng.integers(k_lo, k_hi))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(r_lo, r_hi, k)
    return [{"lat": float(np.clip(clat + rad[i] * np.sin(ang[i]), -89, 89)),
             "lon": float(np.mod(clon + rad[i] * np.cos(ang[i]) + 180, 360) - 180)}
            for i in range(k)]


def rings(n: int, small: bool) -> pa.Table:
    """Seed-independent ring sets (the shape of the PiP work is fixed)."""
    rng = np.random.default_rng(SHAPE_SEED + n)
    c = centers()
    out = []
    for p in range(n):
        if p == 0 and not small:
            k = 12
            out.append([{"lat": 87.0 + float(rng.uniform(0, 1.5)), "lon": -180.0 + 360.0 * i / k}
                        for i in range(k)])
        elif p in (1, 2) and not small:
            out.append(_ring(rng, float(rng.uniform(-50, 50)), 180.0 if p == 1 else -180.0, 1.0, 4.0))
        else:
            cc = c[p % N_CENTERS]
            if small:
                out.append(_ring(rng, cc[0] + rng.normal(0, 1.0), cc[1] + rng.normal(0, 1.0),
                                 0.05, 0.3, 5, 9))
            else:
                out.append(_ring(rng, cc[0], cc[1], 0.5, 3.0))
    return pa.table({"poly_id": pa.array(np.arange(n), pa.int64()),
                     "name": pa.array([f"ring{p}" for p in range(n)]),
                     "ring": pa.array(out, RING_TYPE)})


def raster(rng: np.random.Generator, res: int) -> pa.Table:
    n = 1 << res
    y, x = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    y, x = y.ravel(), x.ravel()
    lat = -90.0 + 180.0 * (y + 0.5) / n
    lon = -180.0 + 360.0 * (x + 0.5) / n
    return pa.table({"tile_id": pa.array((y * n + x).astype(np.int64)),
                     "lat": pa.array(lat), "lon": pa.array(lon),
                     "value": pa.array(np.round(rng.normal(0, 1, lat.size), 6))})


def distance_pairs(rng: np.random.Generator, n: int, n_anti: int, n_polar: int) -> pa.Table:
    g = golden_pairs()
    n_mix = n - g[0].size - n_anti - n_polar
    a_lat, a_lon = mixture(rng, n_mix)
    b_lat, b_lon = mixture(rng, n_mix)
    # near-antipodal: the second point within 0.5 degrees of the antipode
    x_lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n_anti)))
    x_lon = rng.uniform(-180, 180, n_anti)
    y_lat = np.clip(-x_lat + rng.uniform(-0.5, 0.5, n_anti), -90, 90)
    y_lon = np.mod(x_lon + 180 + rng.uniform(-0.5, 0.5, n_anti) + 180, 360) - 180
    # near-polar: both ends above 89 degrees, either pole
    sgn = np.where(rng.random(n_polar) < 0.5, 1.0, -1.0)
    p_lat = sgn * rng.uniform(89.0, 90.0, n_polar)
    p_lon = rng.uniform(-180, 180, n_polar)
    q_lat = sgn * rng.uniform(89.0, 90.0, n_polar)
    q_lon = rng.uniform(-180, 180, n_polar)
    cols = [np.concatenate(v) for v in (
        (g[0], a_lat, x_lat, p_lat), (g[1], a_lon, x_lon, p_lon),
        (g[2], b_lat, y_lat, q_lat), (g[3], b_lon, y_lon, q_lon))]
    for c in cols:
        c[g[0].size:] = np.round(c[g[0].size:], 7)
    return pa.table({"pair_id": pa.array(np.arange(n, dtype=np.int64)),
                     "lat1": cols[0], "lon1": cols[1], "lat2": cols[2], "lon2": cols[3]})


def texts(rng: np.random.Generator, n: int, vocab: int, dup_every: int):
    """Corpus with planted near-duplicates: doc i (i % dup_every == 5)
    copies doc i-1 with 0-3 word positions re-drawn."""
    n_words = rng.integers(20, 61, size=n)
    idx = rng.integers(0, vocab, size=(n, 60))
    dups = np.flatnonzero(np.arange(n) % dup_every == 5)
    idx[dups] = idx[dups - 1]
    n_words[dups] = n_words[dups - 1]
    edits = rng.integers(0, 4, size=dups.size)
    for d, e in zip(dups, edits):
        pos = rng.choice(n_words[d], size=e, replace=False)
        idx[d, pos] = rng.integers(0, vocab, size=e)
    body = [" ".join(f"w{w:05d}" for w in idx[i, : n_words[i]]) for i in range(n)]
    table = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                      "text": pa.array(body, pa.string())})
    planted = np.column_stack([dups - 1, dups]).astype(np.int64)
    return table, planted


def embeddings(rng: np.random.Generator, n: int, dim: int, n_q: int):
    v = rng.standard_normal((n, dim), dtype=np.float32)
    q = rng.standard_normal((n_q, dim), dtype=np.float32)
    flat = pa.array(v.ravel())
    emb = pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                    "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                        pa.list_(pa.float32()))})
    qt = pa.table({"query_id": pa.array(np.arange(n_q, dtype=np.int64)),
                   "q_vec": pa.FixedSizeListArray.from_arrays(pa.array(q.ravel()), dim).cast(
                       pa.list_(pa.float32()))})
    return emb, qt


def _write_parts(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        sl = table.slice(i * step, step)
        if sl.num_rows:
            pq.write_table(sl, os.path.join(path, f"part-{i:04d}.parquet"))


def _queries_table(rng, n):
    lat, lon = query_points(rng, n)
    return pa.table({"query_id": pa.array(np.arange(n, dtype=np.int64)),
                     "q_lat": lat, "q_lon": lon})


def _prune(cache: str) -> None:
    """Drop all but the ``KEEP_SETS`` most recently built input sets."""
    done = sorted((os.path.getmtime(os.path.join(cache, d, "_DONE")), d) for d in os.listdir(cache)
                  if os.path.exists(os.path.join(cache, d, "_DONE")))
    for _, d in done[:-KEEP_SETS]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def build(workload: str, seed: int, cache: str) -> str:
    """Write the inputs of ``workload`` for ``seed`` (idempotent); returns
    the input directory."""
    out = os.path.join(cache, f"{workload}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if os.path.isdir(cache):
        _prune(cache)
    os.makedirs(out, exist_ok=True)
    sz = SIZES[workload]
    # one stream per workload so the inputs of one never shift another's
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    meta = {"workload": workload, "seed": seed, "sizes": sz}
    if workload == "distance_batch":
        _write_parts(distance_pairs(rng, sz["pairs"], sz["antipodal"], sz["polar"]),
                     os.path.join(out, "pairs"))
    elif workload in ("spatial_join", "checkpointed_radius"):
        docs = documents(rng, sz["docs"])
        _write_parts(docs, os.path.join(out, "docs"))
        pq.write_table(pa.table(geo_points(docs)), os.path.join(out, "points.parquet"))
        pq.write_table(_queries_table(rng, sz["queries"]), os.path.join(out, "queries.parquet"))
        if workload == "spatial_join":
            pq.write_table(rings(sz["rings"], small=False), os.path.join(out, "rings.parquet"))
            pq.write_table(rings(sz["rings_relational"], small=True),
                           os.path.join(out, "rings_relational.parquet"))
            pq.write_table(raster(rng, sz["raster_res"]), os.path.join(out, "raster.parquet"))
    elif workload == "text_dedup":
        corpus, planted = texts(rng, sz["texts"], sz["vocab"], sz["dup_every"])
        _write_parts(corpus, os.path.join(out, "texts"))
        np.save(os.path.join(out, "planted.npy"), planted)
        emb, q = embeddings(rng, sz["vectors"], sz["dim"], sz["vector_queries"])
        _write_parts(emb, os.path.join(out, "embeddings"))
        pq.write_table(q, os.path.join(out, "vector_queries.parquet"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(out, "_DONE"), "w").close()
    return out
