#!/usr/bin/env python3
"""Seeded GEDI L2A/L2B granules in graft's fixture format, plus the counts
the gedixr CLI steps must reproduce on them.

Writes `granules/` (one L2A and one L2B file per acquisition, covering the
same shots), `aois.geojson` (two overlapping rectangles) and returns a spec
dict: paths, the pipeline bbox, the raster resolution, input sizes and the
expected counts:

- l2a_rows / l2b_rows: shots passing the quality predicate and the bbox
- merged_rows: shots that pass on both products (the shot,acq_time join)
- raster_cells, raster_n, raster_sum: cells, sum of n and sum of rh98 of
  the merged rows rasterized on (floor(lat/res), floor(lon/res))
- aoi_rows: merged rows inside each AOI polygon

Coordinates are written with 6 decimals and every bbox or polygon edge sits
on a 7th decimal, so no point lies on an edge and the counts are exact.

Usage: python3 gen_granules.py OUT_DIR SEED GRANULES SHOTS_PER_BEAM
"""
import json
import os
import sys

import numpy as np

BEAMS = ["BEAM0000", "BEAM0001", "BEAM0010", "BEAM0011",
         "BEAM0101", "BEAM0110", "BEAM1000", "BEAM1011"]
RES = 0.05
CM = [f"{v // 100}.{v % 100:02d}" for v in range(10000)]


def fmt_micro(v):
    """Integer micro-degrees -> text with 6 decimals."""
    sign = "-" if v < 0 else ""
    v = abs(v)
    return f"{sign}{v // 1000000}.{v % 1000000:06d}"


def fmt_cm(v):
    sign = "-" if v < 0 else ""
    v = abs(v)
    return f"{sign}{v // 100}.{v % 100:02d}"


def line(beam, layer, vals):
    return f"{beam} {layer} {' '.join(vals)}\n"


def generate(out, seed, n_gran, shots):
    rng = np.random.default_rng(seed)
    gdir = os.path.join(out, "granules")
    os.makedirs(gdir, exist_ok=True)
    lon0 = int(rng.integers(-60, 20)) * 1_000_000
    lat0 = int(rng.integers(-10, 40)) * 1_000_000
    # bbox and AOI edges on the 7th decimal (..5e-7): never equal to a point
    bbox = (lon0 / 1e6 + 0.1000005, lon0 / 1e6 + 1.9000005,
            lat0 / 1e6 + 0.0500005, lat0 / 1e6 + 0.9500005)
    aois = [(lon0 / 1e6 + 0.3000005, lon0 / 1e6 + 1.1000005,
             lat0 / 1e6 + 0.2000005, lat0 / 1e6 + 0.7000005),
            (lon0 / 1e6 + 0.9000005, lon0 / 1e6 + 1.7000005,
             lat0 / 1e6 + 0.4000005, lat0 / 1e6 + 0.9000005)]
    bbox_s = ",".join(f"{v:.7f}" for v in bbox)
    bbox = tuple(float(v) for v in bbox_s.split(","))
    aois = [tuple(float(f"{v:.7f}") for v in a) for a in aois]

    exp = {"l2a_rows": 0, "l2b_rows": 0, "merged_rows": 0, "raster_n": 0,
           "raster_sum": 0, "aoi_rows": {"aois_0": 0, "aois_1": 0}}
    cells = set()
    sizes = {"L2A": 0, "L2B": 0}
    bins = np.arange(101) / 100.0
    for g in range(n_gran):
        doy = 1 + g * 365 // n_gran
        hh, mm, ss = (int(x) for x in rng.integers(0, [24, 60, 60]))
        stamp = f"2020{doy:03d}{hh:02d}{mm:02d}{ss:02d}"
        tail = f"O{1000 + g:05d}_T{int(rng.integers(0, 99999)):05d}_02_003_02_V002.h5"
        a_txt = ["# graft fixture granule v1\n"]
        b_txt = ["# graft fixture granule v1\n"]
        for bi, beam in enumerate(BEAMS):
            n = shots
            shot = (1 + g) * 10**11 + bi * 10**8 + np.arange(n)
            lon = lon0 + rng.integers(0, 2_000_000, n)
            lat = lat0 + rng.integers(0, 1_000_000, n)
            elev = rng.integers(0, 200_000, n)
            off = np.where(rng.random(n) < 0.92, rng.integers(-5_000, 5_001, n),
                           rng.choice([-1, 1], n) * rng.integers(20_000, 40_001, n))
            dem = elev + off
            degrade = np.where(rng.random(n) < 0.9, 0, 3)
            qa = (rng.random(n) < 0.85).astype(int)
            qb = (rng.random(n) < 0.85).astype(int)
            modes = np.where(rng.random(n) < 0.08, 0, rng.integers(1, 7, n))
            sens = rng.integers(90, 100, n)
            height = rng.integers(300, 4000, n)
            shape = rng.uniform(0.5, 2.0, n)
            rh = np.floor(height[:, None] * bins[None, :] ** shape[:, None]).astype(int)
            cover = rng.integers(0, 10_000, n)
            fhd = rng.integers(0, 40_000, n)
            pai = rng.integers(0, 80_000, n)

            shot_s = [str(v) for v in shot.tolist()]
            lon_s = [fmt_micro(v) for v in lon.tolist()]
            lat_s = [fmt_micro(v) for v in lat.tolist()]
            elev_s = [fmt_cm(v) for v in elev.tolist()]
            dem_s = [fmt_cm(v) for v in dem.tolist()]
            deg_s = [str(v) for v in degrade.tolist()]
            modes_s = [str(v) for v in modes.tolist()]
            sens_s = [f"0.{v}" for v in sens.tolist()]
            a_txt += [line(beam, "shot_number", shot_s),
                      line(beam, "lat_lowestmode", lat_s),
                      line(beam, "lon_lowestmode", lon_s),
                      line(beam, "elev_lowestmode", elev_s),
                      line(beam, "digital_elevation_model", dem_s),
                      line(beam, "degrade_flag", deg_s),
                      line(beam, "quality_flag", [str(v) for v in qa.tolist()]),
                      line(beam, "sensitivity", sens_s),
                      line(beam, "num_detectedmodes", modes_s),
                      line(beam, "rh", [",".join([CM[v] for v in row])
                                        for row in rh.tolist()])]
            b_txt += [line(beam, "shot_number", shot_s),
                      line(beam, "geolocation/lat_lowestmode", lat_s),
                      line(beam, "geolocation/lon_lowestmode", lon_s),
                      line(beam, "geolocation/elev_lowestmode", elev_s),
                      line(beam, "geolocation/digital_elevation_model", dem_s),
                      line(beam, "geolocation/degrade_flag", deg_s),
                      line(beam, "l2b_quality_flag", [str(v) for v in qb.tolist()]),
                      line(beam, "sensitivity", sens_s),
                      line(beam, "num_detectedmodes", modes_s),
                      line(beam, "cover", [f"0.{v:04d}" for v in cover.tolist()]),
                      line(beam, "fhd_normal", [fmt_cm(v // 100) for v in fhd.tolist()]),
                      line(beam, "pai", [fmt_cm(v // 100) for v in pai.tolist()]),
                      line(beam, "rh100", [str(v) for v in rh[:, 100].tolist()])]

            x, y = lon / 1e6, lat / 1e6
            base = (degrade == 0) & (modes > 0) & (np.abs(off) < 10_000)
            inside = (x > bbox[0]) & (x < bbox[1]) & (y > bbox[2]) & (y < bbox[3])
            pa, pb = base & inside & (qa == 1), base & inside & (qb == 1)
            both = pa & pb
            exp["l2a_rows"] += int(pa.sum())
            exp["l2b_rows"] += int(pb.sum())
            exp["merged_rows"] += int(both.sum())
            exp["raster_n"] += int(both.sum())
            exp["raster_sum"] += int(rh[both, 98].sum())
            cells.update(zip(np.floor(y[both] / RES).astype(int).tolist(),
                             np.floor(x[both] / RES).astype(int).tolist()))
            for i, (ax0, ax1, ay0, ay1) in enumerate(aois):
                exp["aoi_rows"][f"aois_{i}"] += int(
                    (both & (x > ax0) & (x < ax1) & (y > ay0) & (y < ay1)).sum())
        for prod, txt in (("A", a_txt), ("B", b_txt)):
            path = os.path.join(gdir, f"GEDI02_{prod}_{stamp}_{tail}")
            with open(path, "w") as f:
                f.write("".join(txt))
            sizes["L2" + prod] += os.path.getsize(path)
    exp["raster_cells"] = len(cells)

    aoi_path = os.path.join(out, "aois.geojson")
    with open(aoi_path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": [
            {"type": "Feature", "properties": {}, "geometry": {
                "type": "Polygon", "coordinates": [[[x0, y0], [x1, y0], [x1, y1],
                                                    [x0, y1], [x0, y0]]]}}
            for (x0, x1, y0, y1) in aois]}, f)
    total = n_gran * len(BEAMS) * shots
    return {"granules": gdir, "aoi": aoi_path, "bbox": bbox_s, "res": str(RES),
            "out": os.path.join(out, "out"), "log": os.path.join(out, "run_log.jsonl"),
            "granule_count": {"L2A": n_gran, "L2B": n_gran},
            "granule_bytes": sizes, "shots": {"L2A": total, "L2B": total},
            "expected": exp}


if __name__ == "__main__":
    spec = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
    print(json.dumps(spec, indent=1))
