"""Seeded NYC raw-data generator for the nyc_pipeline workload.

Writes the five datasets in their as-fetched shapes (FIXTURES.md section A)
as one parquet file per dataset key under `<out>/fresh`, and the next
vintage of the three datasets that publish one (food supply gaps, Census
ACS, Zillow ZORI; the 2020 NTA and ZCTA boundaries do not change) under
`<out>/refresh`. It also writes the
NYC ZIP membership list and `expect.json`, the ground truth the benchmark
checks the pipeline against: planted dirty rows, validation counts, the
feature keys of each export and the values the refresh must make visible.

Sizes: 262 NTAs (197 with food-supply rows), a national ZCTA file of
33,800 polygons and a national Zillow file, both cut down to NYC by the
transformers' ZIP filters. Geometry vertex counts are set so the three
exported bodies come out near 2.24 / 1.01 / 0.89 MB.

    python3 perfbench/gen_nyc.py <out_dir> <seed>
"""

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NTAS = 262
N_FOOD_NTAS = 197
N_NYC_ZIPS = 192
N_ZCTA_NYC = 180          # NYC ZIPs that have a ZCTA polygon
N_ZCTAS = 33800           # national ZCTA file
N_ZILLOW = 7700           # national Zillow ZORI file
N_ZILLOW_NYC = 156        # NYC ZCTA ZIPs with a Zillow series
NTA_VERTICES = 470
ZCTA_NYC_VERTICES = 226
ZCTA_OTHER_VERTICES = 10
BOROS = [(1, "Manhattan", "061"), (2, "Bronx", "005"), (3, "Brooklyn", "047"),
         (4, "Queens", "081"), (5, "Staten Island", "085")]
FRESH_YEARS = (2022, 2023)
REFRESH_YEAR = 2024


def _month_ends(pairs):
    days = [31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31]
    out = []
    for y, m in pairs:
        d = days[m - 1] if not (m == 2 and y % 4) else 28
        out.append(f"{y}-{m:02d}-{d:02d}")
    return out


FRESH_MONTHS = _month_ends([(2024, m) for m in range(1, 13)] + [(2025, m) for m in range(1, 11)])
REFRESH_MONTH = "2025-11-30"


def _ring(rng, cx, cy, radius, n):
    """A closed star-shaped ring around (cx, cy): simple, never self-crossing."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    r = radius * rng.uniform(0.6, 1.0, n)
    xs = np.round(cx + r * np.cos(ang), 6)
    ys = np.round(cy + r * np.sin(ang), 6)
    return list(zip(xs.tolist(), ys.tolist())) + [(xs[0].item(), ys[0].item())]


def _geojson_multipolygon(ring):
    pts = ",".join(f"[{x!r},{y!r}]" for x, y in ring)
    return '{"type":"MultiPolygon","coordinates":[[[' + pts + "]]]}"


def _wkt(ring, multi):
    pts = ", ".join(f"{x!r} {y!r}" for x, y in ring)
    return f"MULTIPOLYGON ((({pts})))" if multi else f"POLYGON (({pts}))"


def _nyc_point(rng):
    return rng.uniform(-74.25, -73.71), rng.uniform(40.50, 40.91)


def _strs(values):
    return pa.array([None if v is None else str(v) for v in values], pa.string())


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    fresh, refresh = os.path.join(out_dir, "fresh"), os.path.join(out_dir, "refresh")
    os.makedirs(fresh, exist_ok=True)
    os.makedirs(refresh, exist_ok=True)

    def write(dirname, key, cols):
        pq.write_table(pa.table(cols), os.path.join(dirname, f"{key}.parquet"))

    # ---- ZIP universe: NYC list, NYC ZIPs with polygons, national rest
    nyc_pool = np.array([z for z in range(10001, 10500)] + [z for z in range(11001, 11700)])
    nyc_zips = sorted(f"{z:05d}" for z in rng.choice(nyc_pool, N_NYC_ZIPS, replace=False))
    zcta_nyc = sorted(rng.choice(nyc_zips, N_ZCTA_NYC, replace=False).tolist())
    nyc_set = set(nyc_zips)
    others = np.setdiff1d(np.arange(501, 99951), nyc_pool)
    other_zips = [f"{z:05d}" for z in np.sort(rng.choice(others, N_ZCTAS - N_ZCTA_NYC, replace=False))]
    with open(os.path.join(out_dir, "nyc_zips.txt"), "w") as f:
        f.write("\n".join(nyc_zips) + "\n")

    # ---- ntas_2020 (SODA with GeoJSON geometry); one malformed geometry,
    #      one duplicated nta2020 key
    nta_codes, nta_boro = [], []
    for i in range(N_NTAS):
        b = BOROS[i % 5]
        nta_codes.append(f"{('MN', 'BX', 'BK', 'QN', 'SI')[b[0] - 1]}{i // 5:02d}{i % 5:02d}")
        nta_boro.append(b)
    nta_geom = [_geojson_multipolygon(_ring(rng, *_nyc_point(rng), 0.01, NTA_VERTICES))
                for _ in range(N_NTAS)]
    food_idx = sorted(rng.choice(N_NTAS, N_FOOD_NTAS, replace=False).tolist())
    malformed = int(rng.choice(food_idx))
    nta_geom[malformed] = '{"type":"MultiPolygon","coordinates":[[[[-73.9,40.7],'
    dup_nta = int(rng.integers(0, N_NTAS))
    rows = list(range(N_NTAS)) + [dup_nta]
    ntas = {
        ":id": _strs([f"row-{i}-{j}" for j, i in enumerate(rows)]),
        "borocode": _strs([nta_boro[i][0] for i in rows]),
        "boroname": _strs([nta_boro[i][1] for i in rows]),
        "countyfips": _strs([nta_boro[i][2] for i in rows]),
        "nta2020": _strs([nta_codes[i] for i in rows]),
        "ntaname": _strs([f"Neighborhood {i}" for i in rows]),
        "ntaabbrev": _strs([f"Nbhd{i}" for i in rows]),
        "ntatype": _strs(["0" for _ in rows]),
        "cdta2020": _strs([f"{nta_codes[i][:2]}{i % 12 + 1:02d}" for i in rows]),
        "cdtaname": _strs([f"District {i % 12 + 1}" for i in rows]),
        "shape_leng": _strs([round(float(v), 4) for v in rng.uniform(5e3, 5e4, len(rows))]),
        "shape_area": _strs([round(float(v), 4) for v in rng.uniform(1e6, 5e7, len(rows))]),
        "the_geom": _strs([nta_geom[i] for i in rows]),
    }
    write(fresh, "ntas_2020", ntas)

    # ---- food_supply_gap (SODA; every value a string). Fresh: two
    #      vintages plus a duplicated (year, nta) key, a 150 % value and a
    #      non-numeric year. Refresh: the next vintage.
    def food_rows(year, idx):
        n = len(idx)
        return {
            "year": [str(year)] * n,
            "nta": [nta_codes[i] for i in idx],
            "nta_name": [f"Neighborhood {i}" for i in idx],
            "supply_gap_lbs": [f"{v:.2f}" for v in rng.uniform(1e4, 5e6, n)],
            "food_insecure_percentage": [f"{v:.2f}" for v in rng.uniform(0.02, 0.35, n)],
            "unemployment_rate": [f"{v:.2f}" for v in rng.uniform(2.0, 15.0, n)],
            "vulnerable_population": [f"{v:.2f}" for v in rng.uniform(0.0, 10.0, n)],
            "weighted_score": [f"{v:.2f}" for v in rng.uniform(0.0, 10.0, n)],
            "rank": [str(r) for r in rng.permutation(n) + 1],
        }

    def concat(parts):
        return {k: sum((p[k] for p in parts), []) for k in parts[0]}

    f22, f23 = food_rows(FRESH_YEARS[0], food_idx), food_rows(FRESH_YEARS[1], food_idx)
    dup_at = int(rng.integers(0, N_FOOD_NTAS))
    superseded = {k: [v[dup_at]] for k, v in f23.items()}
    superseded["supply_gap_lbs"] = ["1.00"]
    bad_pct = {k: [v[0]] for k, v in food_rows(FRESH_YEARS[0], [food_idx[0]]).items()}
    bad_pct["year"], bad_pct["nta"] = ["2021"], [nta_codes[food_idx[0]]]
    bad_pct["food_insecure_percentage"] = ["150"]
    bad_year = {k: [v[0]] for k, v in food_rows(FRESH_YEARS[0], [food_idx[1]]).items()}
    bad_year["year"] = ["abc"]
    # the superseded row arrives first, so keep-last drops it
    food_fresh = concat([f22, superseded, f23, bad_pct, bad_year])
    food_next = food_rows(REFRESH_YEAR, food_idx)

    def soda(cols, tag):
        n = len(cols["year"])
        meta = {":id": [f"{tag}-{i}" for i in range(n)], ":version": [f"v{i}" for i in range(n)],
                ":created_at": ["2025-01-01T00:00:00.000Z"] * n}
        return {k: _strs(v) for k, v in {**meta, **cols}.items()}

    write(fresh, "food_supply_gap", soda(food_fresh, "f"))
    write(refresh, "food_supply_gap", soda(food_next, "r"))

    # ---- census_acs (Census API rows, header names as fetched): one ZIP
    #      duplicated, two income sentinels and one zero poverty universe
    #      among the ZCTA ZIPs.
    def acs_rows():
        n = len(nyc_zips)
        universe = rng.integers(2000, 90000, n)
        return {
            "NAME": [f"ZCTA5 {z}" for z in nyc_zips],
            "B19013_001E": [str(v) for v in rng.integers(25000, 250000, n)],
            "B17020_001E": [str(v) for v in universe],
            "B17020_002E": [str(int(u * f)) for u, f in zip(universe, rng.uniform(0.03, 0.4, n))],
            "zip code tabulation area": list(nyc_zips),
        }

    dirty_zips = rng.choice(zcta_nyc, 3, replace=False).tolist()
    acs_dup = str(rng.choice([z for z in zcta_nyc if z not in dirty_zips]))

    def plant_acs(cols):
        pos = {z: i for i, z in enumerate(cols["zip code tabulation area"])}
        cols["B19013_001E"][pos[dirty_zips[0]]] = "-666666666"
        cols["B19013_001E"][pos[dirty_zips[1]]] = "-666666666"
        cols["B17020_001E"][pos[dirty_zips[2]]] = "0"
        i = pos[acs_dup]
        for k in cols:
            cols[k].append(cols[k][i])
        return cols

    acs_fresh, acs_next = plant_acs(acs_rows()), plant_acs(acs_rows())
    write(fresh, "census_acs", {k: _strs(v) for k, v in acs_fresh.items()})
    write(refresh, "census_acs", {k: _strs(v) for k, v in acs_next.items()})

    # ---- census_zctas_2020 (shapefile rows, WKT geometry): national file;
    #      a few NYC polygons are plain POLYGONs (promotion path)
    zips_all = zcta_nyc + other_zips
    order = rng.permutation(len(zips_all))
    promote = set(rng.choice(zcta_nyc, 5, replace=False).tolist())
    geoms = [_wkt(_ring(rng, *_nyc_point(rng), 0.008, ZCTA_NYC_VERTICES), multi=z not in promote)
             for z in zcta_nyc]
    # the national remainder, vectorized: small star-shaped rings
    n_other, v = len(other_zips), ZCTA_OTHER_VERTICES
    cx, cy = rng.uniform(-124.0, -67.0, (n_other, 1)), rng.uniform(25.0, 49.0, (n_other, 1))
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, (n_other, v)), axis=1)
    r = 0.05 * rng.uniform(0.6, 1.0, (n_other, v))
    xy = np.stack([np.round(cx + r * np.cos(ang), 6), np.round(cy + r * np.sin(ang), 6)], axis=2)
    xy = np.concatenate([xy, xy[:, :1]], axis=1).reshape(n_other, -1)
    fmt = "MULTIPOLYGON (((" + ", ".join(["%.6f %.6f"] * (v + 1)) + ")))"
    geoms += [fmt % tuple(row) for row in xy.tolist()]
    zctas = {
        "ZCTA5CE20": _strs([zips_all[i] for i in order]),
        "GEOID20": _strs([zips_all[i] for i in order]),
        "ALAND20": pa.array(rng.integers(10**5, 10**9, len(zips_all)).tolist(), pa.int64()),
        "AWATER20": pa.array(rng.integers(0, 10**7, len(zips_all)).tolist(), pa.int64()),
        "geometry": _strs([geoms[i] for i in order]),
    }
    write(fresh, "census_zctas_2020", zctas)

    # ---- zillow_zori (wide CSV shape: one column per month). NYC rows: the
    #      rent ZIPs plus two NYC ZIPs without polygons; one series is
    #      all-null, one has a null latest month, one a negative latest rent.
    rent_zips = sorted(rng.choice(zcta_nyc, N_ZILLOW_NYC, replace=False).tolist())
    no_poly = sorted(set(nyc_zips) - set(zcta_nyc))[:2]
    all_null, null_latest, negative = rng.choice(rent_zips, 3, replace=False).tolist()
    n_national = N_ZILLOW - len(rent_zips) - len(no_poly)
    national = other_zips[:: max(1, len(other_zips) // (N_ZILLOW - 160))][:n_national]
    zrows = rent_zips + no_poly + national
    zorder = rng.permutation(len(zrows))
    zrows = [zrows[i] for i in zorder]
    n = len(zrows)
    base = rng.uniform(1500.0, 4500.0, n)
    months = {}
    for j, m in enumerate(FRESH_MONTHS + [REFRESH_MONTH]):
        vals = np.round(base * (1 + 0.004 * j) + rng.normal(0, 15, n), 2)
        months[m] = vals.tolist()
    idx = {z: i for i, z in enumerate(zrows)}
    for m in months:
        months[m][idx[all_null]] = None
    for m in (FRESH_MONTHS[-1], REFRESH_MONTH):
        months[m][idx[null_latest]] = None
        months[m][idx[negative]] = -months[m][idx[negative]]

    def zillow(month_cols):
        cols = {
            "RegionID": pa.array(list(range(60000, 60000 + n)), pa.int64()),
            "SizeRank": pa.array(list(range(n)), pa.int64()),
            "RegionName": _strs(zrows),
            "RegionType": _strs(["zip"] * n),
            "StateName": _strs(["NY" if z in nyc_set else "XX" for z in zrows]),
            "State": _strs(["NY" if z in nyc_set else "XX" for z in zrows]),
            "City": _strs(["New York" if z in nyc_set else "Elsewhere" for z in zrows]),
            "Metro": _strs(["New York-Newark-Jersey City, NY-NJ-PA" if z in nyc_set else "Other"
                            for z in zrows]),
            "CountyName": _strs(["Kings County" if z in nyc_set else "Other County" for z in zrows]),
        }
        for m in month_cols:
            cols[m] = pa.array(months[m], pa.float64())
        return cols

    write(fresh, "zillow_zori", zillow(FRESH_MONTHS))
    write(refresh, "zillow_zori", zillow(FRESH_MONTHS + [REFRESH_MONTH]))

    # ---- ground truth
    acs_report = {"rows": N_NYC_ZIPS + 1, "duplicate_key_rows": 2, "range": {}}
    zillow_report = {"rows": len(rent_zips) - 1 + len(no_poly), "duplicate_key_rows": 0,
                     "range": {"rent_index": {"below": 1, "above": 0}}}
    food_features = sorted(nta_codes[i] for i in food_idx)
    poverty_features = sorted(set(zcta_nyc) - set(dirty_zips))
    rent_features = sorted(set(rent_zips) - {all_null})
    acs_next_by_zip = dict(zip(acs_next["zip code tabulation area"], acs_next["B17020_002E"]))
    expect = {
        "seed": seed,
        "datasets": sorted(["census_acs", "census_zctas_2020", "food_supply_gap",
                            "ntas_2020", "zillow_zori"]),
        "raw_rows": {
            "fresh": {"ntas_2020": len(rows), "food_supply_gap": len(food_fresh["year"]),
                      "census_acs": len(acs_fresh["NAME"]), "census_zctas_2020": len(zips_all),
                      "zillow_zori": n},
            "refresh": {"food_supply_gap": len(food_next["year"]),
                        "census_acs": len(acs_next["NAME"]), "zillow_zori": n},
        },
        # ValidationReport per ingest: rows after the transform chain,
        # rows in duplicate-key groups, and range-rule violations
        "validation": {
            "fresh": {
                "ntas_2020": {"rows": N_NTAS + 1, "duplicate_key_rows": 2, "range": {}},
                "food_supply_gap": {"rows": 2 * N_FOOD_NTAS + 2, "duplicate_key_rows": 0,
                                    "range": {}},
                "census_acs": acs_report,
                "census_zctas_2020": {"rows": N_ZCTA_NYC, "duplicate_key_rows": 0, "range": {}},
                "zillow_zori": zillow_report,
            },
            "refresh": {
                "food_supply_gap": {"rows": N_FOOD_NTAS, "duplicate_key_rows": 0, "range": {}},
                "census_acs": acs_report,
                "zillow_zori": zillow_report,
            },
        },
        "exports": {
            "food_gaps.json": {"key": "nta_code", "keys": food_features,
                               "year": REFRESH_YEAR},
            "poverty_by_zip.json": {"key": "zip_code", "keys": poverty_features,
                                    "poverty_count": {z: int(acs_next_by_zip[z])
                                                      for z in poverty_features
                                                      if z != acs_dup}},
            "rent_by_zip.json": {"key": "zip_code", "keys": rent_features,
                                 "date": {z: (FRESH_MONTHS[-2] if z == null_latest
                                              else REFRESH_MONTH) for z in rent_features}},
        },
        "planted": {"malformed_geometry_nta": nta_codes[malformed], "duplicate_nta": nta_codes[dup_nta],
                    "food_duplicate_key": nta_codes[food_idx[dup_at]],
                    "income_sentinel_zips": dirty_zips[:2], "zero_universe_zip": dirty_zips[2],
                    "acs_duplicate_zip": acs_dup, "zillow_all_null": all_null,
                    "zillow_null_latest": null_latest, "zillow_negative": negative,
                    "polygon_zips": sorted(promote)},
    }
    with open(os.path.join(out_dir, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
