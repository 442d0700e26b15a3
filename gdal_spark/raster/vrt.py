"""VRT (virtual dataset) XML reader — GDAL's lazy mosaic/plan format.

Re-expresses the reference VRT driver's read path (``frmts/vrt/``):

* ``VRTDataset`` / ``VRTRasterBand`` XML parsing (``vrtdataset.cpp``
  XMLInit): rasterXSize/YSize, GeoTransform, SRS, per-band dataType,
  NoDataValue, and the source list;
* ``VRTSimpleSource`` (``vrtsources.cpp``): SrcRect -> DstRect windowed
  paste with RasterIO-nearest scaling when the rect sizes differ;
* ``VRTAveragedSource`` (``vrtsources.cpp:2228``): center-in-rect pixel
  averaging with the <1-pixel nearest fallback and the Byte +0.5 clamp —
  transcribed loop-for-loop (vectorized) so downsampled mosaics checksum
  identically;
* ``VRTComplexSource``: ScaleOffset/ScaleRatio linear scaling, exponent
  mode (src/dst min/max), NODATA masking (masked source pixels leave the
  underlying buffer untouched), and piecewise-linear LUT;
* ``VRTDerivedRasterBand``: PixelFunctionType dispatched into this
  engine's pixel-function registry (``raster/pixelfuncs.py``), including
  muparser expression bands.

In the engine, a VRT *is* a logical plan: the distributed form
(``read_vrt_tiles``) turns the XML into a DataFrame of output tiles where
each task composites only the sources whose DstRect intersects its tile —
source pruning plays the role of Catalyst partition pruning, so a
10^6-source mosaic never materializes on one machine.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

import numpy as np

_GDAL_DTYPES = {
    "Byte": np.uint8, "Int8": np.int8,
    "UInt16": np.uint16, "Int16": np.int16,
    "UInt32": np.uint32, "Int32": np.int32,
    "UInt64": np.uint64, "Int64": np.int64,
    "Float32": np.float32, "Float64": np.float64,
    "CInt16": np.complex64, "CInt32": np.complex128,
    "CFloat32": np.complex64, "CFloat64": np.complex128,
}


class VrtError(ValueError):
    pass


def _is_num(s: str) -> bool:
    try:
        float(s)
        return True
    except (TypeError, ValueError):
        return False


def _rect(el) -> tuple[float, float, float, float] | None:
    if el is None:
        return None
    return (
        float(el.get("xOff", 0)), float(el.get("yOff", 0)),
        float(el.get("xSize", 0)), float(el.get("ySize", 0)),
    )


def _parse_source(el, kind: str) -> dict:
    src = {
        "kind": kind,
        "filename": el.findtext("SourceFilename", "").strip(),
        "relative": (el.find("SourceFilename") is not None
                     and el.find("SourceFilename").get("relativeToVRT") == "1"),
        "band": int(el.findtext("SourceBand", "1")),
        "src_rect": _rect(el.find("SrcRect")),
        "dst_rect": _rect(el.find("DstRect")),
        "resampling": el.get("resampling", "").lower() or None,
    }
    if kind == "complex":
        src["scale_off"] = float(el.findtext("ScaleOffset", "0"))
        src["scale_ratio"] = float(el.findtext("ScaleRatio", "1"))
        src["nodata"] = (float(el.findtext("NODATA"))
                         if el.findtext("NODATA") is not None else None)
        exp = el.findtext("Exponent")
        src["exponent"] = float(exp) if exp is not None else None
        for k, tag in (("src_min", "SrcMin"), ("src_max", "SrcMax"),
                       ("dst_min", "DstMin"), ("dst_max", "DstMax")):
            t = el.findtext(tag)
            src[k] = float(t) if t is not None else None
        lut = el.findtext("LUT")
        if lut:
            pairs = [p.split(":") for p in lut.split(",")]
            src["lut"] = [(float(a), float(b)) for a, b in pairs]
        else:
            src["lut"] = None
    elif kind == "averaged":
        nd = el.findtext("NODATA")
        src["nodata"] = float(nd) if nd is not None else None
    return src


def parse_vrt(xml_text: str) -> dict:
    """VRTDataset XML -> plan dict (vrtdataset.cpp XMLInit semantics)."""
    root = ET.fromstring(xml_text)
    if root.tag != "VRTDataset":
        raise VrtError("not a VRTDataset")
    w = int(root.get("rasterXSize"))
    h = int(root.get("rasterYSize"))
    gt = None
    gt_text = root.findtext("GeoTransform")
    if gt_text:
        gt = tuple(float(v) for v in gt_text.replace(",", " ").split())
    srs = root.findtext("SRS")
    meta = {
        mdi.get("key"): (mdi.text or "")
        for md in root.findall("Metadata")
        for mdi in md.findall("MDI")
    }
    bands = []
    for bel in root.findall("VRTRasterBand"):
        band = {
            "dtype": bel.get("dataType", "Byte"),
            "band": int(bel.get("band", len(bands) + 1)),
            "subclass": bel.get("subClass"),
            "nodata": (float(bel.findtext("NodataValue"))
                       if bel.findtext("NodataValue") is not None
                       else (float(bel.findtext("NoDataValue"))
                             if bel.findtext("NoDataValue") is not None
                             else None)),
            "color_interp": bel.findtext("ColorInterp"),
            "pixel_function": bel.findtext("PixelFunctionType"),
            "pixel_function_args": {
                k: v for pf in bel.findall("PixelFunctionArguments")
                for k, v in pf.attrib.items()
            },
            "sources": [],
        }
        for el in bel:
            kinds = {
                "SimpleSource": "simple",
                "AveragedSource": "averaged",
                "ComplexSource": "complex",
                "NoDataFromMaskSource": "simple",
            }
            if el.tag in kinds:
                band["sources"].append(_parse_source(el, kinds[el.tag]))
        bands.append(band)
    return {"w": w, "h": h, "gt": gt, "srs": srs, "metadata": meta,
            "bands": bands}


# --------------------------------------------------------------------------
# Source readers (codec dispatch by extension)
# --------------------------------------------------------------------------


def default_open(path: str) -> np.ndarray:
    """path -> (h, w) or (h, w, bands) array using this engine's codecs."""
    ext = os.path.splitext(path)[1].lower()
    raw = open(path, "rb").read()
    if ext in (".tif", ".tiff"):
        from gdal_spark.functions.tiff import tiff_parse

        return tiff_parse(raw)[0]
    if ext == ".vrt":  # nested VRT
        arr = render_vrt(raw.decode("utf-8"), os.path.dirname(path))
        return arr[0] if arr.shape[0] == 1 else np.moveaxis(arr, 0, -1)
    if ext == ".nc":
        from gdal_spark.functions.netcdf import nc_to_raster

        a = nc_to_raster(raw)[0]
        return a[0] if a.shape[0] == 1 else np.moveaxis(a, 0, -1)
    if ext in (".asc", ".xyz"):
        from gdal_spark.functions import gridfmts as GF

        dec = GF.aaigrid_decode if ext == ".asc" else GF.xyz_decode
        return dec(raw)[0]
    from gdal_spark.functions.codecs import decode_image

    fmt = {".png": "png", ".jpg": "jpeg", ".jpeg": "jpeg", ".gif": "gif",
           ".bmp": "bmp", ".pnm": "pnm", ".ppm": "pnm", ".pgm": "pnm",
           ".tga": "tga"}.get(ext)
    if fmt is None:
        raise VrtError(f"no codec for {path}")
    return decode_image(raw, fmt)


def _source_band(arr: np.ndarray, band: int) -> np.ndarray:
    if arr.ndim == 2:
        return arr
    return arr[:, :, band - 1]


# --------------------------------------------------------------------------
# Source compositing kernels
# --------------------------------------------------------------------------


def _averaged(win: np.ndarray, oh: int, ow: int, sxoff: float, syoff: float,
              sxsize: float, sysize: float,
              nodata: float | None) -> tuple[np.ndarray, np.ndarray]:
    """VRTAveragedSource::RasterIO averaging loop (vrtsources.cpp:2228),
    vectorized: source-pixel centers inside the dst pixel's src-rect are
    averaged; ratio<1 falls back to nearest; NaN / NODATA excluded.
    win is the full-resolution requested window whose top-left corresponds
    to integer source pixel (floor(sxoff), floor(syoff)).
    Returns (values float32, valid mask)."""
    f = win.astype(np.float32)
    reqx0, reqy0 = int(np.floor(sxoff)), int(np.floor(syoff))
    rh, rw = f.shape

    def bounds(n_out: int, off: float, size: float, req0: int):
        edges = off + (np.arange(n_out + 1, dtype=np.float64)) * (size / n_out)
        starts_f, ends_f = edges[:-1], edges[1:]
        wide = ends_f >= starts_f + 1.0
        s = np.where(wide, np.floor(starts_f + 0.5), np.floor(starts_f))
        e = np.where(wide, np.floor(ends_f + 0.5), np.floor(starts_f) + 1)
        return (s.astype(np.int64) - req0), (e.astype(np.int64) - req0)

    xs, xe = bounds(ow, sxoff, sxsize, reqx0)
    ys, ye = bounds(oh, syoff, sysize, reqy0)

    valid = np.isfinite(f)
    if nodata is not None:
        valid &= f != np.float32(nodata)
    vals = np.where(valid, f.astype(np.float64), 0.0)
    # summed-area tables for O(1) window sums
    sat = np.zeros((rh + 1, rw + 1))
    cnt = np.zeros((rh + 1, rw + 1))
    sat[1:, 1:] = vals.cumsum(0).cumsum(1)
    cnt[1:, 1:] = valid.astype(np.float64).cumsum(0).cumsum(1)
    y0 = ys.clip(0, rh)[:, None]
    y1 = ye.clip(0, rh)[:, None]
    x0 = xs.clip(0, rw)[None, :]
    x1 = xe.clip(0, rw)[None, :]
    ssum = sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0]
    scnt = cnt[y1, x1] - cnt[y0, x1] - cnt[y1, x0] + cnt[y0, x0]
    ok = scnt > 0
    out = np.zeros((oh, ow), dtype=np.float32)
    out[ok] = (ssum[ok] / scnt[ok]).astype(np.float32)
    return out, ok


def _get_src_dst_window(
    src_rect, dst_rect, sw: int, sh: int,
    x0: float, y0: float, ww: int, wh: int,
):
    """Faithful transcription of VRTSimpleSource::GetSrcDstWindow
    (vrtsources.cpp:1016) for the 1:1 buffer case (buffer size == request
    size): returns (dfReq, nReq, nOut) windows or None when the request
    misses the source entirely."""
    sxo, syo, sxs, sys_ = src_rect
    dxo, dyo, dxs, dys = dst_rect
    if sxs == 0 or sys_ == 0 or dxs == 0 or dys == 0:
        return None
    if (x0 >= dxo + dxs or y0 >= dyo + dys
            or x0 + ww <= dxo or y0 + wh <= dyo):
        return None
    out = [0, 0, ww, wh]
    modx = mody = False
    rxo, ryo, rxs, rys = float(x0), float(y0), float(ww), float(wh)
    if rxo < dxo:
        rxs += rxo - dxo
        rxo = dxo
        modx = True
    if ryo < dyo:
        rys += ryo - dyo
        ryo = dyo
        mody = True
    if rxo + rxs > dxo + dxs:
        rxs = dxo + dxs - rxo
        modx = True
    if ryo + rys > dyo + dys:
        rys = dyo + dys - ryo
        mody = True

    scale_x, scale_y = sxs / dxs, sys_ / dys
    df_rx = (rxo - dxo) * scale_x + sxo
    df_ry = (ryo - dyo) * scale_y + syo
    df_rxs = rxs * scale_x
    df_rys = rys * scale_y
    if df_rxs < 0 or df_rys < 0:
        return None
    if df_rx < 0:
        df_rxs += df_rx
        df_rx = 0.0
        modx = True
    if df_ry < 0:
        df_rys += df_ry
        df_ry = 0.0
        mody = True

    EPSILON = 1e-10
    frac = any(
        abs(v - round(v)) > EPSILON for v in (sxo, syo, dxo, dyo)
    )
    n_rx = int(df_rx + 0.5 + EPSILON) if frac else int(df_rx)
    n_ry = int(df_ry + 0.5 + EPSILON) if frac else int(df_ry)
    EPS = 1e-3
    if df_rx - n_rx > 1.0 - EPS:
        n_rx += 1
        df_rx = float(n_rx)
    if df_ry - n_ry > 1.0 - EPS:
        n_ry += 1
        df_ry = float(n_ry)
    n_rxs = max(1, int(np.floor(df_rxs + 0.5)))
    n_rys = max(1, int(np.floor(df_rys + 0.5)))
    if n_rx + n_rxs > sw:
        n_rxs = sw - n_rx
        modx = True
    if df_rx + df_rxs > sw:
        df_rxs = sw - df_rx
        modx = True
    if n_ry + n_rys > sh:
        n_rys = sh - n_ry
        mody = True
    if df_ry + df_rys > sh:
        df_rys = sh - df_ry
        mody = True
    if n_rx >= sw or n_ry >= sh or n_rxs <= 0 or n_rys <= 0:
        return None

    if modx or mody:
        # SrcToDst of the clamped request, back into buffer coords
        # (dfScaleWinToBuf == 1 here)
        dst_ulx = (df_rx - sxo) / scale_x + dxo
        dst_uly = (df_ry - syo) / scale_y + dyo
        dst_lrx = (df_rx + df_rxs - sxo) / scale_x + dxo
        dst_lry = (df_ry + df_rys - syo) / scale_y + dyo
        if modx:
            dfo = dst_ulx - x0
            out[0] = 0 if dfo <= 0 else int(dfo + EPS)
            delta = (dfo - out[0]) * scale_x
            df_rx -= delta
            df_rxs += delta
            dfr = dst_lrx - x0
            n_right = int(np.ceil(dfr - EPS))
            if n_right < out[0]:
                return None
            out[2] = n_right - out[0]
            if out[0] + out[2] > ww:
                out[2] = ww - out[0]
            df_rxs += (n_right - dfr) * scale_x
        if mody:
            dfo = dst_uly - y0
            out[1] = 0 if dfo <= 0 else int(dfo + EPS)
            delta = (dfo - out[1]) * scale_y
            df_ry -= delta
            df_rys += delta
            dfr = dst_lry - y0
            n_bot = int(np.ceil(dfr - EPS))
            if n_bot < out[1]:
                return None
            out[3] = n_bot - out[1]
            if out[1] + out[3] > wh:
                out[3] = wh - out[1]
            df_rys += (n_bot - dfr) * scale_y
    if out[2] <= 0 or out[3] <= 0:
        return None
    return (
        (df_rx, df_ry, df_rxs, df_rys),
        (n_rx, n_ry, n_rxs, n_rys),
        tuple(out),
    )


def _nearest_float_window(
    sarr: np.ndarray, df_req, oh: int, ow: int
) -> np.ndarray:
    """RasterIO nearest over a floating source window (gcore/rasterio.cpp
    ~L799): iSrc = int(clamp(off + (i+0.5)*inc + 1e-10, 0, size-1)),
    absolute source coordinates."""
    sh, sw = sarr.shape
    dfx, dfy, dfxs, dfys = df_req
    EPS = 1e-10
    sx = np.minimum(
        np.maximum(0.0, dfx + (np.arange(ow) + 0.5) * (dfxs / ow) + EPS),
        sw - 1,
    ).astype(np.int64)
    sy = np.minimum(
        np.maximum(0.0, dfy + (np.arange(oh) + 0.5) * (dfys / oh) + EPS),
        sh - 1,
    ).astype(np.int64)
    return sarr[sy[:, None], sx[None, :]]


def _apply_complex(vals: np.ndarray, src: dict):
    """VRTComplexSource value pipeline -> (values, keep_mask). Complex
    bands scale both components (vrt_read.py test 4: (1+3j)*2+3 = 5+9j)."""
    keep = np.ones(vals.shape, dtype=bool)
    if np.issubdtype(vals.dtype, np.complexfloating):
        v = vals.astype(np.complex128)
        ratio = src.get("scale_ratio", 1.0)
        off = src.get("scale_off", 0.0)
        return v * ratio + complex(off, off), keep
    v = vals.astype(np.float64)
    nd = src.get("nodata")
    if nd is not None:
        keep &= ~np.isnan(v) if np.isnan(nd) else (v != nd)
    if src.get("lut"):
        xs = np.array([p[0] for p in src["lut"]])
        ys = np.array([p[1] for p in src["lut"]])
        v = np.interp(v, xs, ys)
    elif src.get("exponent") is not None:
        smin = src.get("src_min") or 0.0
        smax = src.get("src_max") or 1.0
        dmin = src.get("dst_min") or 0.0
        dmax = src.get("dst_max") or 1.0
        t = np.clip((v - smin) / max(smax - smin, 1e-300), 0.0, 1.0)
        v = dmin + (dmax - dmin) * np.power(t, src["exponent"])
    else:
        v = v * src.get("scale_ratio", 1.0) + src.get("scale_off", 0.0)
    return v, keep


def _cast_to(vals: np.ndarray, dtype: np.dtype) -> np.ndarray:
    if np.issubdtype(dtype, np.integer):
        info = np.iinfo(dtype)
        return np.clip(np.floor(vals + 0.5), info.min, info.max).astype(dtype)
    return vals.astype(dtype)


def composite_band(
    band: dict, w: int, h: int, base_dir: str,
    open_file=default_open, cache: dict | None = None,
    window: tuple[int, int, int, int] | None = None,
) -> np.ndarray:
    """Render one VRTRasterBand (optionally only a (x0, y0, ww, wh) window
    of it) by painting its sources in declaration order."""
    x0, y0, ww, wh = window or (0, 0, w, h)
    dtype = np.dtype(_GDAL_DTYPES[band["dtype"]])
    # VRTSourcedRasterBand::IRasterIO initializes the buffer to the band
    # nodata value when set (else zero); sources then paint over it
    if band.get("nodata") is not None and not np.issubdtype(
        dtype, np.complexfloating
    ):
        out = np.full((wh, ww), band["nodata"], dtype=dtype)
    else:
        out = np.zeros((wh, ww), dtype=dtype)
    cache = cache if cache is not None else {}

    for src in band["sources"]:
        path = src["filename"]
        if src["relative"]:
            path = os.path.join(base_dir, path)
        if path not in cache:
            cache[path] = open_file(path)
        sarr = _source_band(cache[path], src["band"])
        sh, sw = sarr.shape
        src_rect = src["src_rect"] or (0.0, 0.0, float(sw), float(sh))
        dst_rect = src["dst_rect"] or (0.0, 0.0, float(w), float(h))

        win_info = _get_src_dst_window(
            src_rect, dst_rect, sw, sh, x0, y0, ww, wh
        )
        if win_info is None:
            continue
        df_req, n_req, (ox0, oy0, ow, oh) = win_info

        if src["kind"] == "averaged":
            sxo, syo = df_req[0], df_req[1]
            rx0 = int(np.floor(sxo))
            ry0 = int(np.floor(syo))
            rx1 = min(int(np.ceil(sxo + df_req[2])) + 1, sw)
            ry1 = min(int(np.ceil(syo + df_req[3])) + 1, sh)
            win = sarr[max(ry0, 0):ry1, max(rx0, 0):rx1]
            vals, ok = _averaged(
                win, oh, ow, sxo, syo, df_req[2], df_req[3],
                src.get("nodata"),
            )
            if dtype == np.uint8:
                painted = np.clip(vals + 0.5, 0.0, 255.0).astype(np.uint8)
            else:
                painted = _cast_to(vals.astype(np.float64), dtype)
            region = out[oy0:oy0 + oh, ox0:ox0 + ow]
            region[ok] = painted[ok]
            continue

        # simple / complex: integer window read when 1:1, else RasterIO
        # nearest over the floating source window
        nrx, nry, nrxs, nrys = n_req
        if (nrxs, nrys) == (ow, oh):
            win = sarr[nry:nry + nrys, nrx:nrx + nrxs]
        else:
            win = _nearest_float_window(sarr, df_req, oh, ow)
        if src["kind"] == "complex":
            vals, keep = _apply_complex(win, src)
            painted = _cast_to(vals, dtype)
            region = out[oy0:oy0 + oh, ox0:ox0 + ow]
            region[keep] = painted[keep]
        else:
            out[oy0:oy0 + oh, ox0:ox0 + ow] = win.astype(dtype, copy=False)
    return out


def render_vrt(
    xml_text: str, base_dir: str, open_file=default_open,
    window: tuple[int, int, int, int] | None = None,
) -> np.ndarray:
    """Materialize a VRT -> (bands, h, w). Derived bands run their pixel
    function from the engine registry over the source arrays; warped
    datasets (subClass=VRTWarpedDataset) run the warp-options pipeline."""
    root = ET.fromstring(xml_text)
    if root.get("subClass") == "VRTWarpedDataset":
        return render_warped_vrt(root, base_dir, open_file, window)
    spec = parse_vrt(xml_text)
    cache: dict = {}
    out = []
    for band in spec["bands"]:
        if band["subclass"] == "VRTDerivedRasterBand" and band["pixel_function"]:
            from gdal_spark.raster import pixelfuncs as PF

            srcs = []
            for src in band["sources"]:
                tmp = dict(band)
                tmp["sources"] = [src]
                tmp["pixel_function"] = None
                tmp["subclass"] = None
                srcs.append(
                    composite_band(tmp, spec["w"], spec["h"], base_dir,
                                   open_file, cache, window)
                )
            args = {
                k: (float(v) if _is_num(v) else v)
                for k, v in (band.get("pixel_function_args") or {}).items()
            }
            res = PF.apply_named(band["pixel_function"], srcs, **args)
            out.append(np.asarray(res))
        else:
            out.append(
                composite_band(band, spec["w"], spec["h"], base_dir,
                               open_file, cache, window)
            )
    return np.stack(out) if len({o.dtype for o in out}) == 1 else np.array(
        out, dtype=object
    )


# --------------------------------------------------------------------------
# Warped VRT (subClass=VRTWarpedDataset, alg/gdalwarper + GenImgProj)
# --------------------------------------------------------------------------


def _apply_gt(gt, px, py):
    return gt[0] + px * gt[1] + py * gt[2], gt[3] + px * gt[4] + py * gt[5]


def render_warped_vrt(
    root, base_dir: str, open_file=default_open,
    window: tuple[int, int, int, int] | None = None,
) -> np.ndarray:
    """VRTWarpedDataset read path: the GDALWarpOptions block drives an
    inverse-mapping warp — dst pixel center -> DstGeoTransform ->
    SrcInvGeoTransform -> nearest source sample — with BandMapping
    src/dst nodata translation and INIT_DEST=NO_DATA background
    (frmts/vrt/vrtwarped.cpp + alg/gdalwarper.cpp semantics). Covers the
    GenImgProjTransformer same-CRS case (the reference's own
    nan32_nodata_warp fixtures)."""
    w = int(root.get("rasterXSize"))
    h = int(root.get("rasterYSize"))
    x0, y0, ww, wh = window or (0, 0, w, h)
    wo = root.find("GDALWarpOptions")
    if wo is None:
        raise VrtError("VRTWarpedDataset without GDALWarpOptions")
    src_el = wo.find("SourceDataset")
    path = src_el.text.strip()
    if src_el.get("relativeToVRT") == "1":
        path = os.path.join(base_dir, path)
    sarr = open_file(path)
    if sarr.ndim == 2:
        sarr = sarr[:, :, None]

    tr = wo.find(".//GenImgProjTransformer")
    if tr is None:
        raise VrtError("only GenImgProjTransformer warps supported")

    def gt_of(tag, default):
        t = tr.findtext(tag)
        return (
            tuple(float(v) for v in t.replace(",", " ").split())
            if t else default
        )

    dst_gt = gt_of("DstGeoTransform", (0, 1, 0, 0, 0, 1))
    src_inv = gt_of("SrcInvGeoTransform", (0, 1, 0, 0, 0, 1))

    resample = (wo.findtext("ResampleAlg") or "NearestNeighbour").strip()
    bands_out = []
    for bm in wo.findall(".//BandMapping"):
        sb = int(bm.get("src", 1))
        src_nod = bm.findtext("SrcNoDataReal")
        dst_nod = bm.findtext("DstNoDataReal")
        src_nod = float(src_nod) if src_nod is not None else None
        dst_nod = float(dst_nod) if dst_nod is not None else None

        band_dtype = np.float64
        for bel in root.findall("VRTRasterBand"):
            if int(bel.get("band", 0)) == sb:
                band_dtype = _GDAL_DTYPES[bel.get("dataType", "Float64")]
        init = wo.findtext(".//Option[@name='INIT_DEST']")
        fill = 0.0
        if init == "NO_DATA" and dst_nod is not None:
            fill = dst_nod
        out = np.full((wh, ww), fill, dtype=band_dtype)

        jj, ii = np.meshgrid(
            np.arange(wh, dtype=np.float64) + y0 + 0.5,
            np.arange(ww, dtype=np.float64) + x0 + 0.5,
            indexing="ij",
        )
        gx, gy = _apply_gt(dst_gt, ii, jj)
        spx, spy = _apply_gt(src_inv, gx, gy)
        if resample == "Bilinear":
            from gdal_spark.raster.kernels import _bilinear_gather

            vals = _bilinear_gather(sarr[:, :, sb - 1], spx - 0.5, spy - 0.5)
            inside = (
                (spx >= 0) & (spx <= sarr.shape[1])
                & (spy >= 0) & (spy <= sarr.shape[0])
            )
        else:  # nearest, GWK floor convention
            isx = np.floor(spx + 1e-10).astype(np.int64)
            isy = np.floor(spy + 1e-10).astype(np.int64)
            inside = (
                (isx >= 0) & (isx < sarr.shape[1])
                & (isy >= 0) & (isy < sarr.shape[0])
            )
            vals = sarr[:, :, sb - 1][
                isy.clip(0, sarr.shape[0] - 1), isx.clip(0, sarr.shape[1] - 1)
            ]
        valid = inside.copy()
        if src_nod is not None and np.issubdtype(vals.dtype, np.floating):
            nod_mask = (
                np.isnan(vals) if np.isnan(src_nod) else vals == src_nod
            )
            if dst_nod is not None:
                vals = np.where(nod_mask, vals.dtype.type(dst_nod), vals)
        out[valid] = vals[valid].astype(band_dtype)
        bands_out.append(out)
    return np.stack(bands_out)


# --------------------------------------------------------------------------
# gdalbuildvrt (apps/gdalbuildvrt_lib.cpp) — mosaic builder
# --------------------------------------------------------------------------

_NP_TO_GDAL = {
    "uint8": "Byte", "int8": "Int8", "uint16": "UInt16", "int16": "Int16",
    "uint32": "UInt32", "int32": "Int32", "uint64": "UInt64",
    "int64": "Int64", "float32": "Float32", "float64": "Float64",
    "complex64": "CFloat32", "complex128": "CFloat64",
}


def _probe_source(path: str) -> dict:
    """path -> {path, w, h, gt, dtype, bands} via this engine's codecs."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".tif", ".tiff"):
        from gdal_spark.functions.tiff import tiff_parse

        arr, md = tiff_parse(open(path, "rb").read())
        return {
            "path": path, "w": md["width"], "h": md["height"],
            "gt": md.get("geotransform"),
            "dtype": _NP_TO_GDAL[str(arr.dtype)],
            "bands": 1 if arr.ndim == 2 else arr.shape[2],
        }
    if ext == ".vrt":
        spec = parse_vrt(open(path).read())
        return {
            "path": path, "w": spec["w"], "h": spec["h"], "gt": spec["gt"],
            "dtype": spec["bands"][0]["dtype"], "bands": len(spec["bands"]),
        }
    if ext == ".nc":
        from gdal_spark.functions.netcdf import nc_to_raster

        arr, gt, _, _ = nc_to_raster(open(path, "rb").read())
        return {
            "path": path, "w": arr.shape[2], "h": arr.shape[1], "gt": gt,
            "dtype": _NP_TO_GDAL[str(arr.dtype)], "bands": arr.shape[0],
        }
    arr = default_open(path)
    return {
        "path": path, "w": arr.shape[1], "h": arr.shape[0], "gt": None,
        "dtype": _NP_TO_GDAL[str(arr.dtype)],
        "bands": 1 if arr.ndim == 2 else arr.shape[2],
    }


def _get_src_dst_win(props: dict, we_res: float, ns_res: float,
                     min_x: float, min_y: float, max_x: float, max_y: float,
                     target_w: int, target_h: int):
    """apps/gdalbuildvrt_lib.cpp GetSrcDstWin, transcribed."""
    gt = props["gt"]
    w, h = props["w"], props["h"]
    if gt[0] + w * gt[1] <= min_x or gt[0] >= max_x:
        return None
    if gt[3] + h * gt[5] >= max_y or gt[3] <= min_y:
        return None
    if gt[0] < min_x:
        src_xo = (min_x - gt[0]) / gt[1]
        dst_xo = 0.0
    else:
        src_xo = 0.0
        dst_xo = (gt[0] - min_x) / we_res
    if max_y < gt[3]:
        src_yo = (gt[3] - max_y) / -gt[5]
        dst_yo = 0.0
    else:
        src_yo = 0.0
        dst_yo = (max_y - gt[3]) / -ns_res
    src_xs, src_ys = float(w), float(h)
    if src_xo > 0:
        src_xs -= src_xo
    if src_yo > 0:
        src_ys -= src_yo
    fx = gt[1] / we_res
    fy = gt[5] / ns_res
    dst_xs = src_xs * fx
    dst_ys = src_ys * fy
    if dst_xo + dst_xs > target_w:
        dst_xs = target_w - dst_xo
        src_xs = dst_xs / fx
    if dst_yo + dst_ys > target_h:
        dst_ys = target_h - dst_yo
        src_ys = dst_ys / fy
    if src_xs <= 0 or dst_xs <= 0 or src_ys <= 0 or dst_ys <= 0:
        return None
    return (src_xo, src_yo, src_xs, src_ys), (dst_xo, dst_yo, dst_xs, dst_ys)


def build_vrt(
    sources: list, output_bounds=None, x_res: float | None = None,
    y_res: float | None = None, resolution: str = "average",
    separate: bool = False, base_dir: str | None = None,
    target_aligned_pixels: bool = False,
) -> str:
    """gdalbuildvrt re-expressed: source metadata -> VRTDataset XML.

    ``sources`` holds file paths (probed through the engine codecs) or
    pre-computed metadata dicts {path, w, h, gt, dtype, bands} — exactly
    what a distributed footprint scan (one `_probe_source` per task over a
    file DataFrame, metadata collected to the driver) produces, so a
    10^6-tile mosaic builds from a metadata aggregate without any pixel
    IO. Bounds-union, resolution modes (average/highest/lowest), the
    GetSrcDstWin rect math and the 0.5-rounded raster size follow
    apps/gdalbuildvrt_lib.cpp:118-200,1897-1904."""
    props = [
        _probe_source(s) if isinstance(s, str) else dict(s) for s in sources
    ]
    props = [p for p in props if p["gt"] is not None]
    if not props:
        raise VrtError("no georeferenced sources")
    res_x = [abs(p["gt"][1]) for p in props]
    res_y = [abs(p["gt"][5]) for p in props]
    if x_res is None or y_res is None:
        if resolution == "highest":
            we, ns = min(res_x), min(res_y)
        elif resolution == "lowest":
            we, ns = max(res_x), max(res_y)
        else:
            we, ns = sum(res_x) / len(res_x), sum(res_y) / len(res_y)
    else:
        we, ns = float(x_res), float(y_res)
    ns_res = -ns

    if output_bounds is not None:
        min_x, min_y, max_x, max_y = (float(v) for v in output_bounds)
    else:
        min_x = min(p["gt"][0] for p in props)
        max_x = max(p["gt"][0] + p["w"] * p["gt"][1] for p in props)
        max_y = max(p["gt"][3] for p in props)
        min_y = min(p["gt"][3] + p["h"] * p["gt"][5] for p in props)
    if target_aligned_pixels:
        min_x = np.floor(min_x / we) * we
        max_x = np.ceil(max_x / we) * we
        min_y = np.floor(min_y / ns) * ns
        max_y = np.ceil(max_y / ns) * ns
    target_w = int(0.5 + (max_x - min_x) / we)
    target_h = int(0.5 + (max_y - min_y) / ns)

    def fname(p):
        if base_dir and os.path.dirname(os.path.abspath(p["path"])) == (
            os.path.abspath(base_dir)
        ):
            return os.path.basename(p["path"]), 1
        return p["path"], 0

    def src_xml(p, band, win):
        (sxo, syo, sxs, sys_), (dxo, dyo, dxs, dys) = win
        nm, rel = fname(p)

        def g(v):
            return f"{v:.15g}"

        return (
            "    <SimpleSource>\n"
            f'      <SourceFilename relativeToVRT="{rel}">{nm}'
            "</SourceFilename>\n"
            f"      <SourceBand>{band}</SourceBand>\n"
            f'      <SrcRect xOff="{g(sxo)}" yOff="{g(syo)}" '
            f'xSize="{g(sxs)}" ySize="{g(sys_)}" />\n'
            f'      <DstRect xOff="{g(dxo)}" yOff="{g(dyo)}" '
            f'xSize="{g(dxs)}" ySize="{g(dys)}" />\n'
            "    </SimpleSource>\n"
        )

    out = [
        f'<VRTDataset rasterXSize="{target_w}" rasterYSize="{target_h}">\n',
        "  <GeoTransform>"
        f"{min_x:.16e}, {we:.16e}, 0.0000000000000000e+00, "
        f"{max_y:.16e}, 0.0000000000000000e+00, {ns_res:.16e}"
        "</GeoTransform>\n",
    ]
    if separate:
        band_no = 0
        for p in props:
            win = _get_src_dst_win(
                p, we, ns_res, min_x, min_y, max_x, max_y, target_w, target_h
            )
            if win is None:
                continue
            band_no += 1
            out.append(
                f'  <VRTRasterBand dataType="{p["dtype"]}" band="{band_no}">\n'
            )
            out.append(src_xml(p, 1, win))
            out.append("  </VRTRasterBand>\n")
    else:
        n_bands = max(p["bands"] for p in props)
        for b in range(1, n_bands + 1):
            out.append(
                f'  <VRTRasterBand dataType="{props[0]["dtype"]}" band="{b}">\n'
            )
            for p in props:
                if p["bands"] < b:
                    continue
                win = _get_src_dst_win(
                    p, we, ns_res, min_x, min_y, max_x, max_y,
                    target_w, target_h,
                )
                if win is None:
                    continue
                out.append(src_xml(p, b, win))
            out.append("  </VRTRasterBand>\n")
    out.append("</VRTDataset>\n")
    return "".join(out)


# --------------------------------------------------------------------------
# Distributed form: tile-parallel VRT materialization
# --------------------------------------------------------------------------


def read_vrt_tiles(spark, vrt_path: str, tile: int = 256):
    """VRT -> DataFrame of rendered output tiles (band-major float64 LE
    bytes). Each task composites ONLY the sources whose DstRect intersects
    its tile — the distributed restatement of VRT lazy evaluation, with
    source pruning standing in for partition pruning. Scales to mosaics
    whose source list is far larger than any single executor's memory,
    because a task touches at most the few sources under its tile."""
    import pandas as pd
    from pyspark.sql import types as T

    xml_text = open(vrt_path).read()
    base_dir = os.path.dirname(os.path.abspath(vrt_path))
    spec = parse_vrt(xml_text)
    w, h = spec["w"], spec["h"]
    tiles = [
        (tx, ty, min(tile, w - tx * tile), min(tile, h - ty * tile))
        for ty in range((h + tile - 1) // tile)
        for tx in range((w + tile - 1) // tile)
    ]
    schema = T.StructType([
        T.StructField("tx", T.IntegerType()),
        T.StructField("ty", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ])
    tdf = spark.createDataFrame(tiles, "tx: int, ty: int, w: int, h: int")
    bxml = spark.sparkContext.broadcast((xml_text, base_dir))

    def run(batches):
        xml, bd = bxml.value
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                win = (int(r.tx) * tile, int(r.ty) * tile, int(r.w), int(r.h))
                arr = render_vrt(xml, bd, window=win)
                a = np.asarray(arr, dtype=np.float64)
                rows.append((int(r.tx), int(r.ty), int(r.w), int(r.h),
                             int(a.shape[0]), a.astype("<f8").tobytes()))
            yield pd.DataFrame(
                rows, columns=["tx", "ty", "w", "h", "bands", "data"]
            )

    return tdf.mapInPandas(run, schema)
