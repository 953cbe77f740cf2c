"""Seed-driven input generators for the benchmark.

Everything the program under test reads is made here from one integer
seed: the Sentinel product catalog (parquet), the AOI file (CSV with WKT
geometries, the path ``plans.main.read_aoi`` takes), the uint16 band
arrays the fake CDSE server serves as GeoTIFFs, and the star-schema
tables the query registry and the txlog battery read. The same seed
always gives the same bytes.

All catalog and AOI coordinates sit on a 0.25 degree grid, so every
bbox intersection width and area is exact in binary floating point and
the brute-force selection in ``oracle.py`` can compare coverage ratios
for equality.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BANDS = ["B02", "B03", "B04", "B08"]

#: The filter window every sentinel workload selects with; the catalog
#: straddles each bound (dates on both sides, clouds both sides of 4.0).
SELECT = {
    "platform": "SENTINEL-2",
    "product_type": "S2MSI2A",
    "date_start": "2023-05-01",
    "date_end": "2023-09-05",
    "cloud_max": 4.0,
}


@dataclass(frozen=True)
class SentinelShape:
    """Size of one sentinel workload's inputs.

    ``grid_x`` x ``grid_y`` one-degree footprints, each revisited
    ``revisits`` times; ``n_aois`` AOIs; ``px`` pixels per band edge."""

    grid_x: int
    grid_y: int
    revisits: int
    n_aois: int
    px: int
    #: AOI boxes may straddle footprint borders (True) or sit inside
    #: one footprint (False, one winner per footprint).
    straddle: bool


def _wkt(minx: float, miny: float, maxx: float, maxy: float) -> str:
    return (
        f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy}, "
        f"{minx} {maxy}, {minx} {miny}))"
    )


def catalog_rows(seed: int, shape: SentinelShape) -> list[dict]:
    """Catalog rows in the column layout of ``sources.catalog_fixture``.

    In every footprint the first tenth of the revisits (at least one)
    pass every filter; each other revisit fails one, drawn at random:
    dated before or after the window, too cloudy, or an L1C product. So
    the seed moves dates, clouds and which filter rejects a row, but
    not how many candidates each AOI meets. Dates carry a random time of
    day; Id breaks the remaining ties."""
    rng = np.random.default_rng([seed, 1])
    rows = []
    day0 = np.datetime64("2023-01-01")
    n_pass = max(1, shape.revisits // 10)
    for fp in range(shape.grid_x * shape.grid_y):
        gx, gy = fp % shape.grid_x, fp // shape.grid_x
        tile = f"T{gx:02d}{gy:02d}"
        wkt = _wkt(float(gx), float(gy), float(gx + 1), float(gy + 1))
        for r in range(shape.revisits):
            # days 120..246 are 2023-05-01..2023-09-04, inside the window
            day, cloud, ptype = int(rng.integers(120, 247)), rng.uniform(0.0, 4.0), "S2MSI2A"
            if r >= n_pass:
                fail = rng.integers(0, 4)
                if fail == 0:
                    day = int(rng.integers(0, 120))
                elif fail == 1:
                    day = int(rng.integers(247, 365))
                elif fail == 2:
                    cloud = rng.uniform(4.1, 12.0)
                else:
                    ptype = "S2MSI1C"
            date = str(day0 + day)
            sec = int(rng.integers(0, 86400))
            hms = f"{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}"
            pid = f"p{fp:04d}-{r:03d}"
            name = f"S2A_MSIL2A_{date.replace('-', '')}_R{r:03d}_{tile}"
            rows.append(
                {
                    "Id": pid,
                    "Name": name,
                    "S3Path": f"/eodata/Sentinel-2/MSI/L2A/{name}.SAFE",
                    "OriginDate": f"{date}T{hms}.000Z",
                    "ContentDate_Start": f"{date}T{hms}Z",
                    "GeoFootprint": wkt,
                    "Footprint": f"geography'SRID=4326;{wkt}'",
                    "platform": "SENTINEL-2",
                    "productType": ptype,
                    "tileId": tile,
                    "cloudCover": round(float(cloud), 1),
                    "relativeOrbitNumber": f"R{r:03d}",
                }
            )
    return rows


def aoi_rows(seed: int, shape: SentinelShape) -> list[tuple[int, str]]:
    """(fid, WKT) AOIs. Boxes are 0.25..0.75 degrees on the 0.25 grid.

    With ``straddle`` each box lands anywhere in the footprint grid, so
    some split their area between two or four footprints; without it
    AOI ``i`` sits inside footprint ``i mod n_footprints``."""
    rng = np.random.default_rng([seed, 2])
    n_fp = shape.grid_x * shape.grid_y
    out = []
    for fid in range(shape.n_aois):
        w, h = (int(v) for v in rng.integers(1, 4, size=2))
        if shape.straddle:
            x0 = int(rng.integers(0, shape.grid_x * 4 - w + 1))
            y0 = int(rng.integers(0, shape.grid_y * 4 - h + 1))
        else:
            fp = fid % n_fp
            gx, gy = fp % shape.grid_x, fp // shape.grid_x
            x0 = gx * 4 + int(rng.integers(0, 4 - w + 1))
            y0 = gy * 4 + int(rng.integers(0, 4 - h + 1))
        minx, miny = x0 / 4, y0 / 4
        out.append((fid, _wkt(minx, miny, minx + w / 4, miny + h / 4)))
    return out


def band_array(seed: int, product_id: str, band: str, px: int) -> np.ndarray:
    """The (px, px) uint16 reflectances served for one band. Values run
    0..14999, so the normalize clip at 10000 is exercised."""
    key = [seed, 3, int(product_id[1:5]), int(product_id[6:9]), BANDS.index(band)]
    return np.random.default_rng(key).integers(0, 15000, size=(px, px), dtype=np.uint16)


def band_transform(product_id: str) -> dict:
    """North-up UTM affine of a product's bands (10 m pixels)."""
    fp = int(product_id[1:5])
    return {
        "a": 10.0, "b": 0.0, "c": 300000.0 + 100000.0 * (fp % 50),
        "d": 0.0, "e": -10.0, "f": 5000000.0 - 100000.0 * (fp // 50),
    }


def write_catalog(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows), path)


def write_aoi_csv(path: str, aois: list[tuple[int, str]]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["fid", "geometry"])
        w.writerows(aois)


# --------------------------------------------------------------------------
# star schema for the query registry and the txlog battery
# --------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join column customer filter small order vector "
    "data stream group big query"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_EVENTS = ["signup", "error", "click", "view", "purchase"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts (cents drawn as integers, so exact in text)."""
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables of ``sources.tables.TABLES`` at scale factor ``sf``
    (sf 0.1: 15000 customers, 150000 orders, 600000 line items, 100000
    events from 1500 users, 5000 documents, 2000 embeddings).

    Row counts, their growth with ``sf`` and the value distributions
    follow the seed-42 test tables at sf 0.001, 0.01 and 0.1: uniform
    keys, flags, quantities and cent amounts; order and ship dates drawn
    independently over 1995-01-01..2001-11-04; events exponentially
    spaced over 30 days; documents of 10..99 words from one 30-word
    vocabulary, 5 % of them an earlier document with " dup" appended or
    one word dropped; unit-normal 64-d embeddings whose labels carry no
    signal."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 1)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    day0 = np.datetime64("1995-01-01", "us")
    odays = rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day0 + odays, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    sdays = rng.integers(1, 2499, n_li).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(day0 + sdays, pa.timestamp("us")),
    })
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev) * 1e6
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                del words[int(rng.integers(1, len(words) - 1))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_star(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
