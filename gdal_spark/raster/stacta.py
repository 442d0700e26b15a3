"""STACTA (STAC tiled-assets) driver (frmts/stacta/stactadataset.cpp —
re-derived).

Facts: a STAC item with the `tiled-assets` extension declares
`asset_templates` hrefs containing {TileMatrixSet}/{TileMatrix}/
{TileRow}/{TileCol} placeholders, `tiles:tile_matrix_sets` (OGC
TileMatrixSet JSON inline) and `tiles:tile_matrix_links` limits per
zoom. The dataset is the mosaic of the finest zoom's tiles within the
limits; coarser zooms are the overview chain. The geotransform comes
from the tile matrix's topLeftCorner and scaleDenominator
(0.28e-3 m/pixel convention, translated to degrees for geographic
CRSs via the 360/256/2^z equivalence of the matrixWidth).
"""

from __future__ import annotations

import json

import numpy as np

__all__ = ["stacta_open"]


def stacta_open(json_text: str | bytes, read, zoom: int | None = None
                ) -> tuple[np.ndarray, dict]:
    """``read(href) -> bytes`` resolves tile hrefs (template-expanded,
    './'-relative). -> (HxWxB array of the selected zoom, meta with
    gt/limits/overview zooms)."""
    from gdal_spark.functions.tiff import tiff_parse

    doc = json.loads(json_text)
    props = doc.get("properties", {})
    links = props.get("tiles:tile_matrix_links", {})
    sets = props.get("tiles:tile_matrix_sets", {})
    if not links or not sets:
        raise ValueError("not a STACTA item")
    tms_name = next(iter(links))
    limits = {int(k): v for k, v in
              (links[tms_name].get("limits") or {}).items()}
    tms = sets[tms_name]
    matrices = {int(m["identifier"]): m for m in
                tms.get("tileMatrix", tms.get("tileMatrices", []))}

    templates = doc.get("asset_templates", {})
    if not templates:
        raise ValueError("STACTA item without asset_templates")
    tpl_name = next(iter(templates))
    href_tpl = templates[tpl_name]["href"]

    zooms = sorted(set(limits) & set(matrices))
    if not zooms:
        zooms = sorted(matrices)
    z = zoom if zoom is not None else zooms[-1]
    m = matrices[z]
    lim = limits.get(z, {})
    min_col = int(lim.get("min_tile_col", 0))
    max_col = int(lim.get("max_tile_col", 0))
    min_row = int(lim.get("min_tile_row", 0))
    max_row = int(lim.get("max_tile_row", 0))
    tile_w = int(m.get("tileWidth", 256))
    tile_h = int(m.get("tileHeight", 256))
    tlc = m.get("topLeftCorner", [-180.0, 90.0])
    # OGC TMS: scaleDenominator * 0.28mm = pixel size in CRS meters;
    # geographic CRSs use the degree equivalence (1 deg ~ 111319.49m)
    scale_denom = float(m.get("scaleDenominator"))
    px = scale_denom * 0.28e-3 / 111319.490793273667
    crs = str(tms.get("supportedCRS", ""))
    if "3857" in crs or "/EPSG/" in crs and "4326" not in crs \
            and "CRS84" not in crs:
        px = scale_denom * 0.28e-3

    w = (max_col - min_col + 1) * tile_w
    h = (max_row - min_row + 1) * tile_h
    arr = None
    for row in range(min_row, max_row + 1):
        for col in range(min_col, max_col + 1):
            href = (href_tpl.replace("{TileMatrixSet}", tms_name)
                    .replace("{TileMatrix}", str(z))
                    .replace("{TileRow}", str(row))
                    .replace("{TileCol}", str(col)))
            if href.startswith("./"):
                href = href[2:]
            try:
                tile, _ = tiff_parse(read(href))
            except FileNotFoundError:
                continue
            if tile.ndim == 2:
                tile = tile[:, :, None]
            if arr is None:
                arr = np.zeros((h, w, tile.shape[2]), tile.dtype)
            y0 = (row - min_row) * tile_h
            x0 = (col - min_col) * tile_w
            arr[y0:y0 + tile.shape[0], x0:x0 + tile.shape[1], :] = tile
    if arr is None:
        arr = np.zeros((h, w, 1), np.uint8)

    gt = (float(tlc[0]) + min_col * tile_w * px, px, 0.0,
          float(tlc[1]) - min_row * tile_h * px, 0.0, -px)
    eo = templates[tpl_name].get("eo:bands")
    meta = {"gt": gt, "zooms": zooms, "zoom": z, "nodata": 0.0,
            "crs": crs, "bands": [b.get("name") for b in eo] if eo else None}
    return arr, meta
