"""Rebuild ``data/band_truth.json``: mpmath truth for near-radius pairs.

The join checks decide pairs inside the +-0.6 % band around the radius
(or the k-th distance) with the Vincenty solver in ``checks.py``. This
file holds the distances, from the repository's 40-digit mpmath solver
(``tests/truth_geodesic.py``), of a seeded sample of such pairs: hot-
centre, open-ocean and near-pole origins, four bearings each, at the
benchmark's radius and at +-0.5 % of it. ``checks.band_truth_errors``
requires the solver to match them within 0.25 mm.

    python3 perfbench/make_truth.py      # about 2 s per pair
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

import checks  # noqa: E402
import inputs  # noqa: E402
from truth_geodesic import geodesic_inverse_truth  # noqa: E402


def sphere_destination(lat, lon, bearing_deg, dist_m):
    p, l, b = np.radians(lat), np.radians(lon), np.radians(bearing_deg)
    d = dist_m / checks.SPHERE_R
    p2 = np.arcsin(np.sin(p) * np.cos(d) + np.cos(p) * np.sin(d) * np.cos(b))
    l2 = l + np.arctan2(np.sin(b) * np.sin(d) * np.cos(p), np.cos(d) - np.sin(p) * np.sin(p2))
    return float(np.degrees(p2)), float(np.mod(np.degrees(l2) + 180, 360) - 180)


def main() -> None:
    rng = np.random.default_rng(inputs.SHAPE_SEED)
    qlat, qlon = inputs.query_points(rng, 6)
    pairs, truth = [], []
    for la, lo in zip(qlat.tolist(), qlon.tolist()):
        for bearing in (0.0, 90.0, 180.0, 270.0):
            for scale in (0.995, 1.0, 1.005):
                la2, lo2 = sphere_destination(la, lo, bearing + rng.uniform(-20, 20),
                                              inputs.RADIUS_M * scale)
                pairs.append([la, lo, round(la2, 7), round(lo2, 7)])
                truth.append(float(geodesic_inverse_truth(*pairs[-1])))
    with open(os.path.join(HERE, "data", "band_truth.json"), "w") as f:
        json.dump({"radius_m": inputs.RADIUS_M, "pairs": pairs, "s_m": truth,
                   "truth": "tests/truth_geodesic.py mpmath 40-digit exact integrals"}, f, indent=1)


if __name__ == "__main__":
    main()
