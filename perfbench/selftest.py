"""Self-tests of the benchmark on a tiny seed.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits 0 when every check holds. Checks:

1. the fake server's counters match the request plan of one fetch:
   products x bands payloads, one redirect per payload request, one 401
   (the stale first token) and its retry, one token per fetch partition
   plus the refresh;
2. the brute-force selection agrees with ``plans.main.run_joined`` on the
   catalog of ``sources/catalog_fixture.py``;
3. a traced pipeline pass, after a warm one as in ``run.py``: no
   layer's self time is negative, and the prefix runs fill the enclosing
   ``plans.main.run_joined`` span, which is timed on its own;
4. the output checks fail on wrong answers: a corrupted cache pixel and
   a changed query value are both caught.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

TINY = inputs.SentinelShape(grid_x=3, grid_y=2, revisits=5, n_aois=12, px=16, straddle=True)


def check_request_plan(spark, work: str) -> None:
    from workloads import Sentinel

    wl = Sentinel(TINY)
    wl.prepare(os.path.join(work, "plan"), 7)
    try:
        products = sorted(set(wl.winners.values()))
        wl.server.reset()
        rows = wl._source().fetch(
            spark, spark.createDataFrame([(p,) for p in products], "uuid string"),
            inputs.BANDS,
        ).collect()
        req = wl.server.stats()["requests"]
    finally:
        wl.close()
    n = len(products) * len(inputs.BANDS)
    assert len(rows) == n, (len(rows), n)
    assert req["payload"] == n, req
    assert req["unauthorized"] == 1, req
    assert req["redirect"] == n + 1, req
    assert 2 <= req["token"] <= 4 + 1, req  # partitions (<= quota) + refresh
    assert req["not_found"] == 0, req


def check_fixture_selection(spark, work: str) -> None:
    from etl_sentinel_imagery_spark.plans.acquisition import SyntheticBandSource
    from etl_sentinel_imagery_spark.plans.main import run_joined
    from etl_sentinel_imagery_spark.sources import catalog_fixture as fx
    from etl_sentinel_imagery_spark.sources.config import AcquisitionConfig

    catalog = [dict(zip(fx.CATALOG_COLUMNS, fx._row_tuple(r))) for r in fx.CATALOG_ROWS]
    aois = [
        (1, fx.AOI_WKT),                                   # the fixture AOI
        (2, inputs._wkt(2.25, 43.25, 2.75, 43.75)),        # only 31TDJ rows
        (3, inputs._wkt(1.75, 43.0, 2.25, 43.5)),          # straddles two tiles
        (4, inputs._wkt(5.0, 5.0, 5.5, 5.5)),              # intersects nothing
    ]
    path = os.path.join(work, "fixture_aois.csv")
    inputs.write_aoi_csv(path, aois)
    want, _ = oracle.select_winners(catalog, aois, fx.SELECT_PARAMS)
    p = fx.SELECT_PARAMS
    cfg = AcquisitionConfig(
        platform=p["platform"], product_type=p["product_type"],
        date_start=p["date_start"], date_end=p["date_end"],
        cloud_max=p["cloud_max"], aoi_path=path,
    )
    selection, _ = run_joined(spark, cfg, fx.catalog_df(spark), SyntheticBandSource())
    got = {int(r["fid"]): r["uuid"] for r in selection.collect()}
    assert got == want, (got, want)
    assert want[1] == "p-full" and 4 not in want, want


def check_traced_split(spark, work: str) -> None:
    from spans import Tracer
    from workloads import SELF_TIME, Sentinel

    wl = Sentinel(TINY)
    wl.prepare(os.path.join(work, "traced"), 7)
    try:
        wl.run_pass(spark, os.path.join(work, "warm_cache"))
        tracer = Tracer(spark.sparkContext, "selftest")
        p = wl.run_pass(spark, os.path.join(work, "traced_cache"), tracer=tracer)
    finally:
        wl.close()
    assert p.failed == 0 and not p.errors, p.errors
    selfs = {layer: p.layers[f"{layer}.{m}"] for layer, m in SELF_TIME.items()}
    assert all(v >= 0 for v in selfs.values()), selfs
    top = next(s for s in tracer.spans if s.name == "plans.main.run_joined")
    prefixes = [s for s in tracer.spans if s.parent == top.name]
    assert len(prefixes) == len(SELF_TIME) * wl.trace_rounds
    assert all(top.start <= s.start <= s.end <= top.end for s in prefixes)
    # between prefix runs the span holds only the tracer's bookkeeping
    gap = top.seconds - sum(s.seconds for s in prefixes)
    assert 0 <= gap < 0.05 * top.seconds + 0.5, (gap, top.seconds)
    assert p.layers["sources.http_bands.requests_payload"] == p.layers["operators.selection.winners"] * 4


def check_checks_fail(spark, work: str) -> None:
    from workloads import Sentinel

    wl = Sentinel(TINY)
    wl.prepare(os.path.join(work, "mutate"), 7)
    cache = os.path.join(work, "mutate_cache")
    try:
        p = wl.run_pass(spark, cache)
    finally:
        wl.close()
    assert p.failed == 0, p.errors
    victim = sorted(set(wl.winners.values()))[0]
    part = os.path.join(cache, f"uuid={victim}")
    t = pq.read_table(part)
    pixels = t.column("pixels").to_pylist()
    pixels[0][0][0][0] ^= 1
    t = t.set_column(t.schema.get_field_index("pixels"), "pixels",
                     pa.array(pixels, t.schema.field("pixels").type))
    shutil.rmtree(part)
    os.makedirs(part)
    pq.write_table(t, os.path.join(part, "part-0.parquet"))
    bad = oracle.check_cache(cache, set(wl.winners.values()), 7, TINY.px)
    assert list(bad) == [victim], bad

    df = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert oracle.compare_frames(df, df.iloc[::-1].reset_index(drop=True)) == []
    worse = df.assign(v=[0.5, 1.25 + 2 ** -40])
    assert oracle.compare_frames(df, worse) != []


def main() -> int:
    work = run.checkout_env("selftest")
    if work is None:
        return 2
    spark = run.start_spark(os.cpu_count() or 1, work)
    failed = 0
    try:
        for check in (check_request_plan, check_fixture_selection,
                      check_traced_split, check_checks_fail):
            t0 = time.perf_counter()
            try:
                check(spark, work)
                print(f"ok   {check.__name__} ({time.perf_counter() - t0:.1f}s)")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {check.__name__}: {e!r}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
