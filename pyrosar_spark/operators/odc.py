"""Open Data Cube YAML emit (F20).

Reference semantics (``pyroSAR/datacube_util.py``):

 - ``export_indexing_yml`` (``datacube_util.py:610-663``): one YML per
   dataset — id, ``image.bands.{name}.path``, platform ``code`` /
   instrument ``name`` / format ``name``, ``grid_spatial.projection``
   (geo_ref_points + spatial_reference), ``extent`` (coord 4326 +
   from_dt/to_dt), product_type, empty lineage.
 - ``export_ingestion_yml`` (``datacube_util.py:665-745``): a product-
   level file with the ``{tile_index[0]}``/``{tile_index[1]}``
   file-path template and ``storage.tile_size = resolution × chunking``
   (``datacube_util.py:697-717``).

Spark shape: the per-dataset doc is a pure column expression
(``format_string``/``concat`` — emit runs map-side over 10^12 rows, one
YAML text per catalog row, written out with
``df.write.text``/Iceberg). The reference's ``uuid.uuid4()`` id is
replaced by a DETERMINISTIC id (md5 of the dataset identifier) so
emits are reproducible and resumable — an intentional, documented
deviation: random ids break idempotent re-runs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the product both YMLs describe
PLATFORM = "SENTINEL_1A"
INSTRUMENT = "SAR"
PRODUCT_TYPE = "gamma0"
CRS = "EPSG:4326"


def odc_indexing_docs(
    scenes: DataFrame,
    measurements: dict[str, str],
    passthrough: list[str] | None = None,
) -> DataFrame:
    """One ODC indexing YML text per catalog row (columnar emit).

    Each row is identified by its ``outname_base``; ``measurements``
    maps band name → column holding the band file path. Extent corners
    come from the catalog bbox (ul/ur/ll/lr as in ``Dataset.extent``);
    from_dt/to_dt from start/stop stamps.
    """
    ident = F.col("outname_base")
    det_id = F.md5(ident)
    band_lines = []
    for name, path_col in sorted(measurements.items()):
        band_lines.append(F.lit(f"    {name}:\n      path: "))
        band_lines.append(F.col(path_col).cast("string"))
        band_lines.append(F.lit("\n"))
    corner = lambda x, y: F.format_string(  # noqa: E731
        "      x: %s\n      y: %s\n", F.col(x).cast("string"), F.col(y).cast("string")
    )
    yml = F.concat(
        F.lit("id: "), det_id, F.lit("\n"),
        F.lit("image:\n  bands:\n"), *band_lines,
        F.lit(f"platform:\n  code: {PLATFORM}\n"),
        F.lit(f"instrument:\n  name: {INSTRUMENT}\n"),
        F.lit("format:\n  name: GeoTIFF\n"),
        F.lit("grid_spatial:\n  projection:\n    geo_ref_points:\n"),
        F.lit("    ul:\n"), corner("xmin", "ymax"),
        F.lit("    ur:\n"), corner("xmax", "ymax"),
        F.lit("    ll:\n"), corner("xmin", "ymin"),
        F.lit("    lr:\n"), corner("xmax", "ymin"),
        F.lit(f"    spatial_reference: {CRS}\n"),
        F.lit("extent:\n  coord:\n"),
        F.lit("    ul:\n"), corner("xmin", "ymax"),
        F.lit("    ur:\n"), corner("xmax", "ymax"),
        F.lit("    ll:\n"), corner("xmin", "ymin"),
        F.lit("    lr:\n"), corner("xmax", "ymin"),
        F.lit("  from_dt: "), F.col("start"), F.lit("\n"),
        F.lit("  to_dt: "), F.col("stop"), F.lit("\n"),
        F.lit(f"product_type: {PRODUCT_TYPE}\n"),
        F.lit("lineage:\n  source_datasets: {}\n"),
    )
    return scenes.select(
        *(passthrough or []),
        ident.alias("identifier"),
        F.concat(ident, F.lit("_dcindex.yml")).alias("filename"),
        yml.alias("yml"),
    )


def odc_ingestion_yaml(
    product_name: str,
    output_type: str,
    resolution: tuple[float, float] = (20.0, -20.0),
    chunking: dict | None = None,
    ingest_location: str = "/data/ingest",
) -> str:
    """Driver-side ingestion YML (``datacube_util.py:665-745``): the
    ``{tile_index[0]}``/``{tile_index[1]}``/``{start_time}`` path
    template is preserved LITERALLY (ODC substitutes it at ingest
    time), tile_size = resolution × chunking per axis."""
    if product_name == output_type:
        raise ValueError("source and target product names must be different")
    chunking = chunking or {"x": 512, "y": 512, "time": 1}
    tile_x = resolution[0] * chunking["x"]
    tile_y = resolution[1] * chunking["y"]
    epsg = CRS.replace("EPSG:", "")
    template = (
        f"{output_type}/{PLATFORM}_{INSTRUMENT}_{PRODUCT_TYPE}_{epsg}_"
        "{tile_index[0]}_{tile_index[1]}_{start_time}.nc"
    )
    lines = [
        f"source_type: {product_name}",
        f"output_type: {output_type}",
        f"location: {ingest_location}",
        f"file_path_template: {template}",
        "global_attributes:",
        f"  instrument: {INSTRUMENT}",
        f"  platform: {PLATFORM}",
        "  institution: ESA",
        "storage:",
        "  driver: NetCDF CF",
        f"  crs: {CRS}",
        "  resolution:",
        f"    x: {resolution[0]}",
        f"    y: {resolution[1]}",
        "  tile_size:",
        f"    x: {tile_x}",
        f"    y: {tile_y}",
        "  chunking:",
        f"    x: {chunking['x']}",
        f"    y: {chunking['y']}",
        f"    time: {chunking['time']}",
        "  dimension_order: [time, y, x]",
    ]
    return "\n".join(lines) + "\n"
