"""Independent output checks: each turns a wrong answer into a failure.

- ``select_winners``: brute-force, pure-Python product selection over the
  generated catalog, with the filters, coverage ratio and tiebreak chain
  of ``operators.selection.select_best_per_aoi``.
- ``check_cache``: each cached stack must equal the served uint16 arrays,
  normalized with numpy and stacked in band order; read back with
  pyarrow, not Spark.
- ``compare_frames`` / ``frame_digest``: a registry row's result against
  the DuckDB oracle SQL over the same parquet (count plus an
  order-insensitive hash of the canonical rows).
- ``check_ann``: the approximate ANN tiers against brute-force cosine
  top-k: certified-exact rows must match exactly, every tier must reach
  a recall floor.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from inputs import BANDS, band_array


def _bbox(wkt: str) -> tuple[float, float, float, float]:
    nums = wkt[wkt.index("((") + 2 : wkt.index("))")].replace(",", " ").split()
    xs, ys = [float(v) for v in nums[0::2]], [float(v) for v in nums[1::2]]
    return min(xs), min(ys), max(xs), max(ys)


def select_winners(catalog: list[dict], aois: list[tuple[int, str]],
                   params: dict) -> tuple[dict[int, str], int]:
    """{fid: winning product Id} and the number of (AOI, product) pairs
    whose bboxes intersect (strictly, as the join does)."""
    cands = [
        (_bbox(r["GeoFootprint"]), r)
        for r in catalog
        if r["platform"] == params["platform"]
        and r["productType"] == params["product_type"]
        and params["date_start"] < r["ContentDate_Start"] < params["date_end"]
        and r["cloudCover"] <= params["cloud_max"]
    ]
    # bucket candidates by integer footprint cell for a cheap bbox probe
    cells: dict[tuple[int, int], list] = {}
    for bb, r in cands:
        for cx in range(math.floor(bb[0]), math.ceil(bb[2])):
            for cy in range(math.floor(bb[1]), math.ceil(bb[3])):
                cells.setdefault((cx, cy), []).append((bb, r))
    winners: dict[int, str] = {}
    pairs = 0
    for fid, wkt in aois:
        ax0, ay0, ax1, ay1 = _bbox(wkt)
        area = (ax1 - ax0) * (ay1 - ay0)
        seen, best = set(), None
        for cx in range(math.floor(ax0), math.ceil(ax1)):
            for cy in range(math.floor(ay0), math.ceil(ay1)):
                for bb, r in cells.get((cx, cy), ()):
                    if r["Id"] in seen:
                        continue
                    seen.add(r["Id"])
                    if not (bb[0] < ax1 and bb[2] > ax0 and bb[1] < ay1 and bb[3] > ay0):
                        continue
                    pairs += 1
                    iw = min(bb[2], ax1) - max(bb[0], ax0)
                    ih = min(bb[3], ay1) - max(bb[1], ay0)
                    ratio = iw * ih / area
                    # ratio desc, OriginDate desc, Id asc
                    key = (-ratio, _desc(r["OriginDate"]), r["Id"])
                    if best is None or key < best[0]:
                        best = (key, r["Id"])
        if best is not None:
            winners[fid] = best[1]
    return winners, pairs


def _desc(s: str) -> tuple[int, ...]:
    return tuple(-ord(c) for c in s)


def normalize_u8(arr: np.ndarray) -> np.ndarray:
    """clip(arr / 10000, 0, 1) * 255, truncated to uint8."""
    return (np.clip(arr / 10000.0, 0.0, 1.0) * 255).astype(np.uint8)


def check_cache(cache_dir: str, products: set[str], seed: int, px: int) -> dict[str, str]:
    """{product: error} for each product the parquet cache lacks or holds
    wrongly; each must be one normalized (bands, px, px) stack. A product
    the cache holds but should not is reported under its own id."""
    bad = {}
    found = {
        d[len("uuid="):] for d in os.listdir(cache_dir) if d.startswith("uuid=")
    }
    for pid in found - products:
        bad[pid] = "cached but never selected"
    for pid in sorted(products):
        if pid not in found:
            bad[pid] = "missing from the cache"
            continue
        t = pq.read_table(os.path.join(cache_dir, f"uuid={pid}"))
        if t.num_rows != 1:
            bad[pid] = f"{t.num_rows} cached rows"
            continue
        bands = t.column("bands")[0].as_py()
        h, w = t.column("height")[0].as_py(), t.column("width")[0].as_py()
        got = t.column("pixels").combine_chunks().flatten().flatten().flatten()
        want = np.stack([normalize_u8(band_array(seed, pid, b, px)) for b in sorted(BANDS)])
        if bands != sorted(BANDS) or (h, w) != (px, px) or not np.array_equal(
            got.to_numpy(zero_copy_only=False), want.reshape(-1)
        ):
            bad[pid] = "cached stack differs from the served bands"
    return bad


def _canonical(df: pd.DataFrame, float_cols: set[str]) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)
    cols = []
    for c in df.columns:
        s = df[c]
        if c in float_cols:
            cols.append([repr(float(v)) for v in s])
        elif str(s.dtype).startswith("datetime64"):
            cols.append([str(v) for v in pd.to_datetime(s).dt.tz_localize(None)])
        else:
            cols.append([str(v) for v in s])
    return sorted(zip(*cols)) if cols else []


def frame_digest(df: pd.DataFrame, float_cols: set[str] | None = None) -> str:
    rows = _canonical(df, float_cols or set())
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names and every value (floats exactly)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    floats = {c for c in got.columns if got[c].dtype.kind == "f" or want[c].dtype.kind == "f"}
    if frame_digest(got, floats) != frame_digest(want, floats):
        return ["values differ from the oracle"]
    return []


#: recall@k floors of the approximate tiers against brute force. The
#: embeddings, like those of the seed-42 test tables, are unit-normal
#: with no cluster structure, the worst case for bucketing tiers
#: (PERF.md, "ANN stress"). At sf 0.01, on the test tables and on seeds
#: 1-10, the tiers recalled hnsw 100 %, kmeans 60-69 %, ivf_adaptive
#: 58-72 %, pq 15-31 % (10 queries x 10 neighbours each). Chance is
#: k / n = 2 %; each floor sits well above chance and several standard
#: deviations below the measured spread.
RECALL_FLOOR = {"hnsw": 0.9, "kmeans": 0.4, "ivf_adaptive": 0.4, "pq": 0.05}


def check_ann(got: pd.DataFrame, emb: np.ndarray, ids: np.ndarray) -> list[str]:
    """``got``: (method, query_id, cand_id, score, rnk, exact) rows of the
    approximate battery. Brute force: cosine top-k over every vector
    except the query itself. Rows certified exact must match it exactly;
    each tier must reach its recall floor."""
    errs = []
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    if set(got["method"]) != set(RECALL_FLOOR):
        errs.append(f"tiers {sorted(set(got['method']))}, expected {sorted(RECALL_FLOOR)}")
    for method, part in got.groupby("method"):
        hits = total = 0
        for qid, rows in part.groupby("query_id"):
            k = len(rows)
            sims = unit @ unit[pos[int(qid)]]
            sims[pos[int(qid)]] = -np.inf
            truth = {int(ids[i]) for i in np.argsort(-sims, kind="stable")[:k]}
            cands = {int(c) for c in rows["cand_id"]}
            hits += len(truth & cands)
            total += k
            if rows["exact"].eq(True).all() and cands != truth:
                errs.append(f"{method} query {qid}: certified exact but differs")
        floor = RECALL_FLOOR.get(method, 1.0)
        if total == 0 or hits / total < floor:
            errs.append(f"{method}: recall {hits}/{total} below {floor}")
    return errs
