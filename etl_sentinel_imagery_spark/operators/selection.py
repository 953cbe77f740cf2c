"""Product-selection pipeline — the reference's core query, Spark-first.

Reference semantics (`/root/reference/code/imagery_store.py:205-273`):
OData-pushed filters (platform/productType/date-range/cloudCover/tileId)
→ footprint geometry → AOI-coverage ratio per product (overlay + area)
→ group-sum per product Id → sort by summed ratio desc → keep best Id →
latest-OriginDate tiebreak → single product record projection.

Here each stage is a DataFrame op: the filters are Catalyst predicates
(pushable to any source), coverage is bbox-intersection column arithmetic
(exact for the reference's effectively-rectangular tile footprints; the
exact polygon-overlay variant lives in operators.geometry), the ranking
is one window. At scale: the catalog is the big side (millions of
products), the AOI is one broadcast row — no shuffle until the terminal
top-1, which TakeOrderedAndProject handles without a full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def wkt_bbox(wkt: Column) -> dict[str, Column]:
    """Bounding box of a WKT POLYGON or MULTIPOLYGON, parsed entirely
    JVM-side (regexp + array transforms; F6/F7, dataset.py:38-40
    analog). Stripping the keyword and all parens leaves the flat
    'x y, x y, …' pair list regardless of ring/member nesting — the
    bbox is winding- and hole-insensitive by construction."""
    coords = F.regexp_replace(
        F.regexp_replace(wkt, r"[A-Za-z]+\s*", ""), r"[()]", ""
    )
    pairs = F.split(coords, ",\\s*")
    xs = F.transform(pairs, lambda p: F.split(p, " ").getItem(0).cast("double"))
    ys = F.transform(pairs, lambda p: F.split(p, " ").getItem(1).cast("double"))
    return {
        "minx": F.array_min(xs),
        "miny": F.array_min(ys),
        "maxx": F.array_max(xs),
        "maxy": F.array_max(ys),
    }


def filter_products(
    catalog: DataFrame,
    platform: str,
    product_type: str,
    date_start: str,
    date_end: str,
    cloud_max: float,
    tile_id: str | None = None,
) -> DataFrame:
    """P4-P8: the reference's `$filter` predicates as Catalyst filters.

    Date compare is STRICT gt/lt on ISO strings — lexical, exactly as the
    reference builds `ContentDate/Start gt {start} and lt {end}`
    (imagery_store.py:218; lexical == chronological for ISO strings)."""
    out = catalog.filter(
        (F.col("platform") == platform)
        & (F.col("productType") == product_type)
        & (F.col("ContentDate_Start") > date_start)
        & (F.col("ContentDate_Start") < date_end)
        & (F.col("cloudCover") <= cloud_max)
    )
    if tile_id is not None:
        out = out.filter(F.col("tileId") == tile_id)
    return out


def with_coverage_ratio(
    products: DataFrame,
    aoi_bbox: tuple[float, float, float, float],
    footprint_col: str = "GeoFootprint",
    mode: str = "intersection",
) -> DataFrame:
    """J1/P3: AOI-coverage ratio, bbox fast path (axis-aligned tiles).

    ``mode="intersection"`` (default): area(footprint ∩ AOI)/area(AOI) —
    what "how much of my AOI does this product cover" means. DIVERGES
    from the reference when candidate footprints differ in size: the
    reference's union-overlay groupby (imagery_store.py:249-251)
    effectively ranks by area(footprint)/area(AOI) INCLUDING footprint
    area outside the AOI, so a huge mostly-irrelevant footprint can
    outrank a tight fully-covering one. ``mode="reference"`` reproduces
    that ranking for byte-parity comparisons. Divergence documented in
    COVERAGE.md §J1.

    The AOI is a handful of scalars — broadcast as literals, so either
    mode is a narrow map stage with no shuffle."""
    aminx, aminy, amaxx, amaxy = aoi_bbox
    aoi_area = (amaxx - aminx) * (amaxy - aminy)
    bb = wkt_bbox(F.col(footprint_col))
    if mode == "reference":
        ratio = (
            (bb["maxx"] - bb["minx"]) * (bb["maxy"] - bb["miny"]) / F.lit(aoi_area)
        )
        return products.withColumn("area_ratio", ratio)
    if mode != "intersection":
        raise ValueError(f"unknown coverage mode: {mode!r}")
    iw = F.greatest(
        F.least(bb["maxx"], F.lit(amaxx)) - F.greatest(bb["minx"], F.lit(aminx)),
        F.lit(0.0),
    )
    ih = F.greatest(
        F.least(bb["maxy"], F.lit(amaxy)) - F.greatest(bb["miny"], F.lit(aminy)),
        F.lit(0.0),
    )
    return products.withColumn("area_ratio", iw * ih / F.lit(aoi_area))


def _coverage_order() -> list[Column]:
    """The reference's sort/tiebreak chain (imagery_store.py:252-259).
    Id asc is a UNIQUE final tiebreak → this is a total order, which
    global_rank requires."""
    return [F.desc("area_ratio"), F.desc("OriginDate"), F.asc("Id")]


def _coverage_agg(products_with_ratio: DataFrame) -> DataFrame:
    """A1: group-sum ratio per product (imagery_store.py:250-251)."""
    return products_with_ratio.groupBy(
        "Id", "Name", "S3Path", "OriginDate", "tileId", "cloudCover",
        "relativeOrbitNumber",
    ).agg(F.sum("area_ratio").alias("area_ratio"))


def global_rank(
    df: DataFrame, order_cols: list[Column], rank_col: str = "rank"
) -> DataFrame:
    """Distributed global ranking with NO single-partition window.

    `Window.orderBy(...)` with no partitionBy funnels every row through
    one task ("No Partition Defined for Window" warning) — fine for a
    handful of rows, a scale-killer on a 100×-broader catalog. Instead:
    range-repartition on the sort keys (a total order ACROSS partitions),
    rank locally within each partition, then shift by the partition
    prefix counts. The only unpartitioned window left runs over the
    per-partition count table — at most `spark.sql.shuffle.partitions`
    rows, bounded regardless of data size — and the offset join
    broadcasts that same tiny table.

    Requires ``order_cols`` to be a TOTAL order (unique final tiebreak):
    range boundaries may split ties, which would make ranks of tied rows
    partition-dependent.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    local_w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrank", F.row_number().over(local_w))
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    off_w = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lrank") + F.col("_off")).cast("int"))
        .drop("_pid", "_lrank")
    )


def rank_by_coverage(products_with_ratio: DataFrame) -> DataFrame:
    """A1+W1: group-sum ratio per product, rank by (ratio desc,
    OriginDate desc, Id asc) — the full ranking, via the two-phase
    distributed :func:`global_rank` (no single-partition window)."""
    return global_rank(_coverage_agg(products_with_ratio), _coverage_order())


def select_best_per_aoi(
    products: DataFrame,
    aoi_df: DataFrame,
    footprint_col: str = "GeoFootprint",
) -> DataFrame:
    """Multi-AOI selection as ONE joined plan — the scale form of the
    per-AOI driver loop (plans/main.py): broadcast the AOI table (small
    control-plane side), join on bbox intersection, compute coverage per
    (aoi, product), window top-1 per AOI.

    aoi_df needs (fid, bbox struct<minx,miny,maxx,maxy>) — the shape the
    geo readers produce. One shuffle total (the per-AOI window over
    already-aggregated rows) regardless of AOI count."""
    bb = wkt_bbox(F.col(footprint_col))
    p = products.withColumns(
        {"p_minx": bb["minx"], "p_miny": bb["miny"], "p_maxx": bb["maxx"], "p_maxy": bb["maxy"]}
    )
    a = F.broadcast(
        aoi_df.select(
            "fid",
            F.col("bbox.minx").alias("a_minx"),
            F.col("bbox.miny").alias("a_miny"),
            F.col("bbox.maxx").alias("a_maxx"),
            F.col("bbox.maxy").alias("a_maxy"),
        )
    )
    joined = p.join(
        a,
        (F.col("p_minx") < F.col("a_maxx"))
        & (F.col("p_maxx") > F.col("a_minx"))
        & (F.col("p_miny") < F.col("a_maxy"))
        & (F.col("p_maxy") > F.col("a_miny")),
    )
    iw = F.least("p_maxx", "a_maxx") - F.greatest("p_minx", "a_minx")
    ih = F.least("p_maxy", "a_maxy") - F.greatest("p_miny", "a_miny")
    aoi_area = (F.col("a_maxx") - F.col("a_minx")) * (F.col("a_maxy") - F.col("a_miny"))
    scored = joined.withColumn("area_ratio", iw * ih / aoi_area)
    per = scored.groupBy(
        "fid", "Id", "Name", "S3Path", "OriginDate", "tileId", "cloudCover",
        "relativeOrbitNumber",
    ).agg(F.sum("area_ratio").alias("area_ratio"))
    w = Window.partitionBy("fid").orderBy(
        F.desc("area_ratio"), F.desc("OriginDate"), F.asc("Id")
    )
    return (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "fid",
            F.col("Id").alias("uuid"),
            F.col("Name").alias("name"),
            F.col("tileId").alias("tile"),
            F.substring(F.col("OriginDate"), 1, 10).alias("product_date"),
            F.col("cloudCover").alias("cloudcoverage"),
            "area_ratio",
        )
    )


def best_product_direct(
    products_with_ratio: DataFrame, bands: list[str]
) -> DataFrame:
    """The top-1 selection WITHOUT materializing a full ranking:
    aggregate per product, then orderBy(...).limit(1) — Catalyst plans
    TakeOrderedAndProject (per-partition top-1 + driver merge of single
    rows), no global sort, no window. This is the 100 TB path for the
    single-AOI selection; :func:`rank_by_coverage` exists for when the
    whole ranking is the product."""
    best = _coverage_agg(products_with_ratio).orderBy(*_coverage_order()).limit(1)
    return _product_record(best, bands)


def _product_record(best: DataFrame, bands: list[str]) -> DataFrame:
    """P2 projection (imagery_store.py:259-269): uuid, name, s3path,
    tile, product_date ([:10] truncate), cloudcoverage, bands, num_bands,
    orbit, area_ratio."""
    return (
        best
        .select(
            F.col("Id").alias("uuid"),
            F.col("Name").alias("name"),
            F.col("S3Path").alias("s3path"),
            F.col("tileId").alias("tile"),
            F.substring(F.col("OriginDate"), 1, 10).alias("product_date"),
            F.col("cloudCover").alias("cloudcoverage"),
            F.array(*[F.lit(b) for b in bands]).alias("bands"),
            F.lit(len(bands)).alias("num_bands"),
            F.col("relativeOrbitNumber").alias("orbit"),
            F.col("area_ratio").alias("area_ratio"),
        )
    )
