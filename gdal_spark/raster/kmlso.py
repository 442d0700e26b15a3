"""KML SuperOverlay raster driver
(frmts/kmlsuperoverlay/kmlsuperoverlaydataset.cpp — re-derived, no
code copied).

Three dataset shapes, as in the reference:

  single-doc ("kml_image_L{level}_{j}_{i}" tiles under a root Folder
  named kml_image_L1_0_0): per-level tile grids; tile size from the
  deepest L{n}_0_0 image (1024 when non-square); raster size =
  right-most tile width + i*tile and bottom-most tile height +
  j*tile; deeper level = full resolution, shallower levels are
  overviews; 3-band tiles gain a constant-255 alpha, paletted tiles
  expand through their color table (KmlSingleDocRaster*).

  single GroundOverlay (Document[.Folder].GroundOverlay): the icon
  image with a LatLonBox (or gx:LatLonQuad) geotransform; palettes
  are preserved.

  NetworkLink pyramid (the layout the writer produces): the root
  overlay icon upscaled by 2^depth with child overlays composited
  recursively at full resolution.

The writer replicates KmlSuperOverlayCreateCopy's scheme: halve the
longest side until <= 400 to get the tile size and max zoom, write
<zoom>/<ix>/<iy>.<ext> tiles (y rows counted from the bottom) plus a
child KML per tile linking its up-to-4 children, and a root KML with
the whole-image region.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

import numpy as np

from gdal_spark.functions.codecs import png_decode, png_encode

__all__ = ["kmlso_open", "kmlso_open_kmz", "kmlso_write", "KmlsoDataset"]


def _strip_ns(root):
    for el in root.iter():
        if "}" in el.tag:
            el.tag = el.tag.rsplit("}", 1)[-1]
    return root


def _box(node) -> tuple | None:
    """LatLonBox / LatLonAltBox -> (west, south, east, north); also
    accepts gx:LatLonQuad (axis-aligned corner list)."""
    for name in ("LatLonBox", "LatLonAltBox"):
        bx = node.find(name)
        if bx is not None:
            return (float(bx.findtext("west")), float(bx.findtext("south")),
                    float(bx.findtext("east")), float(bx.findtext("north")))
    quad = node.find("LatLonQuad")
    if quad is not None:
        coords = (quad.findtext("coordinates") or "").split()
        pts = [tuple(map(float, c.split(",")[:2])) for c in coords]
        if len(pts) == 4:
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            return (min(xs), min(ys), max(xs), max(ys))
    return None


def _decode(name: str, data: bytes) -> np.ndarray:
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return png_decode(data)
    if data[:3] == b"\xff\xd8\xff":
        from gdal_spark.functions.jpeg import jpeg_decode
        return jpeg_decode(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from gdal_spark.functions.tiff import tiff_parse
        return tiff_parse(data)[0]
    raise ValueError(f"unsupported icon format for {name}")


def _tiff_colormap(data: bytes) -> np.ndarray | None:
    """TIFF ColorMap tag (320) -> (n, 3) uint8 palette, or None."""
    from gdal_spark.functions.tiff import _read_ifd, tiff_header

    bo, big, off = tiff_header(data)
    tags = _read_ifd(data, bo, off, big)
    if 320 not in tags:
        return None
    vals = np.array(tags[320][1], np.uint16)
    return (vals.reshape(3, -1).T // 257).astype(np.uint8)


class KmlsoDataset:
    """width/height/bands/gt + read(band=None) -> (H, W) or (H, W, B)."""

    def __init__(self, width, height, bands, gt, reader, overviews=()):
        self.width = width
        self.height = height
        self.band_count = bands
        self.geotransform = gt
        self._reader = reader
        self.overviews = list(overviews)

    def read(self) -> np.ndarray:
        return self._reader()


# ----------------------------------------------------------- single-doc

_TILE_RE = re.compile(r"kml_image_L(\d+)_(\d+)_(\d+)\.(\w+)$")


def _single_doc_open(files: dict[str, bytes], hrefs: list[str]):
    levels: dict[int, dict[tuple[int, int], str]] = {}
    for href in hrefs:
        m = _TILE_RE.search(href)
        if m:
            lv, j, i = int(m.group(1)), int(m.group(2)), int(m.group(3))
            levels.setdefault(lv, {})[(j, i)] = href
    if not levels:
        return None
    nmax = max(levels)
    deep = levels[nmax]
    img00 = _decode(*_lookup(files, deep[(0, 0)]))
    tile = img00.shape[1]
    if img00.shape[0] != img00.shape[1]:
        tile = 1024

    def build(lv: int):
        tiles = levels[lv]
        max_j = max(j for j, _ in tiles)
        max_i = max(i for _, i in tiles)
        right = _decode(*_lookup(files, tiles[(max_j, max_i)]))
        bottom = right
        w = right.shape[1] + max_i * tile
        h = bottom.shape[0] + max_j * tile

        def reader():
            out = np.zeros((h, w, 4), np.uint8)
            for (j, i), href in tiles.items():
                img = _decode(*_lookup(files, href))
                if img.ndim == 2:
                    img = np.stack([img] * 3, axis=-1)
                if img.shape[2] == 3:
                    img = np.dstack(
                        [img, np.full(img.shape[:2], 255, np.uint8)])
                out[j * tile:j * tile + img.shape[0],
                    i * tile:i * tile + img.shape[1]] = img
            return out

        return w, h, reader

    return nmax, build


def _lookup(files: dict[str, bytes], href: str):
    href = href.lstrip("./")
    if href in files:
        return href, files[href]
    base = href.rsplit("/", 1)[-1]
    for name, data in files.items():
        if name.rsplit("/", 1)[-1] == base:
            return name, data
    raise KeyError(href)


# ------------------------------------------------------------------ open

def kmlso_open(doc_name: str, files: dict[str, bytes]) -> KmlsoDataset:
    text = files[doc_name].decode("utf-8", "replace")
    if "gx:" in text and "xmlns:gx" not in text:
        # real-world files use the gx: extension prefix undeclared
        text = text.replace("<kml", '<kml xmlns:gx="http://gx"', 1)
    root = _strip_ns(ET.fromstring(text))
    doc = root.find("Document")
    if doc is None:
        doc = root

    # ---- single-doc alternate structure
    folder = doc.find("Folder")
    if folder is not None and folder.findtext("name") == "kml_image_L1_0_0":
        region = folder.find("Region")
        ext = _box(region) if region is not None else None
        hrefs = [h.text.strip() for h in folder.iter("href") if h.text]
        built = _single_doc_open(files, hrefs)
        if built is not None and ext is not None:
            nmax, build = built
            w, h, reader = build(nmax)
            gt = (ext[0], (ext[2] - ext[0]) / w, 0.0,
                  ext[3], 0.0, -(ext[3] - ext[1]) / h)
            ovrs = []
            for lv in range(nmax - 1, 0, -1):
                ow, oh, oreader = build(lv)
                ogt = (ext[0], (ext[2] - ext[0]) / ow, 0.0,
                       ext[3], 0.0, -(ext[3] - ext[1]) / oh)
                ovrs.append(KmlsoDataset(ow, oh, 4, ogt, oreader))
            return KmlsoDataset(w, h, 4, gt, reader, ovrs)

    # ---- NetworkLink pyramid
    links = doc.findall("NetworkLink")
    overlays = doc.findall(".//GroundOverlay")
    if links and not overlays:
        return _pyramid_open(doc_name, files, doc)

    # ---- single GroundOverlay
    if len(overlays) == 1 and not links:
        ov = overlays[0]
        ext = _box(ov)
        href = ov.findtext("Icon/href")
        if ext is None or href is None:
            raise ValueError("KMLSuperOverlay: incomplete GroundOverlay")
        name, payload = _lookup(files, href)
        img, palette = _decode_keep_palette(name, payload)
        h, w = img.shape[:2]
        bands = 1 if img.ndim == 2 else img.shape[2]
        gt = (ext[0], (ext[2] - ext[0]) / w, 0.0,
              ext[3], 0.0, -(ext[3] - ext[1]) / h)
        ds = KmlsoDataset(w, h, bands, gt, lambda: img)
        ds.palette = palette
        return ds
    raise ValueError("KMLSuperOverlay: unrecognized document structure")


def _decode_keep_palette(name: str, data: bytes):
    """PNG palette images stay single-band + palette (GCI_PaletteIndex
    parity); everything else decodes normally."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        import struct
        import zlib as _z
        pos = 8
        ctype = None
        plte = None
        while pos < len(data):
            (length,) = struct.unpack(">I", data[pos:pos + 4])
            tag = data[pos + 4:pos + 8]
            if tag == b"IHDR":
                ctype = data[pos + 8 + 9]
            elif tag == b"PLTE":
                plte = np.frombuffer(
                    data[pos + 8:pos + 8 + length], np.uint8).reshape(-1, 3)
            pos += 12 + length
            if tag == b"IEND":
                break
        if ctype == 3 and plte is not None:
            rgb = png_decode(data)
            # invert the palette expansion to recover indices
            lut = {tuple(c): k for k, c in enumerate(map(tuple, plte))}
            flat = rgb.reshape(-1, 3)
            idx = np.array([lut[tuple(px)] for px in map(tuple, flat)],
                           np.uint8).reshape(rgb.shape[:2])
            return idx, plte
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        img = _decode(name, data)
        if img.ndim == 2:
            return img, _tiff_colormap(data)
        return img, None
    return _decode(name, data), None


def _pyramid_open(doc_name: str, files: dict[str, bytes], doc):
    """Writer-layout pyramid: root region + NetworkLinks to child
    kml files, each holding one GroundOverlay + more links."""
    base = doc_name.rsplit("/", 1)[0] + "/" if "/" in doc_name else ""

    def load_child(href: str):
        path = (base + href).replace("//", "/")
        while "../" in path:
            path = re.sub(r"[^/]+/\.\./", "", path, count=1)
        name, payload = _lookup(files, path)
        node = _strip_ns(ET.fromstring(payload.decode("utf-8", "replace")))
        d = node.find("Document")
        return name, d if d is not None else node

    # depth
    def depth_of(d, name, lvl=0):
        for lk in d.findall("NetworkLink"):
            href = lk.findtext("Link/href") or lk.findtext("Url/href")
            if href and href.endswith(".kml"):
                cname, cd = load_child(
                    (name.rsplit("/", 1)[0] + "/" if "/" in name else "")
                    + href)
                return depth_of(cd, cname, lvl + 1)
        return lvl

    first = doc.findall("NetworkLink")[0]
    href0 = first.findtext("Link/href") or first.findtext("Url/href")
    top_name, top_doc = load_child(href0)
    depth = depth_of(top_doc, top_name)
    ov = top_doc.find(".//GroundOverlay")
    ext = _box(ov)
    icon_name, icon = _lookup(
        files, (top_name.rsplit("/", 1)[0] + "/" if "/" in top_name else "")
        + ov.findtext("Icon/href"))
    img0 = _to_rgba(_decode(icon_name, icon))
    factor = 1 << depth
    h, w = img0.shape[0] * factor, img0.shape[1] * factor
    gt = (ext[0], (ext[2] - ext[0]) / w, 0.0,
          ext[3], 0.0, -(ext[3] - ext[1]) / h)

    def compose():
        out = np.repeat(np.repeat(img0, factor, axis=0), factor, axis=1)

        def paste(d, name):
            for lk in d.findall("NetworkLink"):
                href = lk.findtext("Link/href") or lk.findtext("Url/href")
                if not href or not href.endswith(".kml"):
                    continue
                try:
                    cname, cd = load_child(
                        (name.rsplit("/", 1)[0] + "/" if "/" in name else "")
                        + href)
                except KeyError:
                    continue
                cov = cd.find(".//GroundOverlay")
                if cov is not None:
                    cext = _box(cov)
                    try:
                        iname, ipayload = _lookup(
                            files,
                            (cname.rsplit("/", 1)[0] + "/"
                             if "/" in cname else "")
                            + cov.findtext("Icon/href"))
                    except KeyError:
                        ipayload = None
                    if cext is not None and ipayload is not None:
                        tile = _to_rgba(_decode(iname, ipayload))
                        x0 = int(round((cext[0] - gt[0]) / gt[1]))
                        y0 = int(round((cext[3] - gt[3]) / gt[5]))
                        th, tw = tile.shape[:2]
                        # child pixels are at final resolution only at
                        # the deepest level; upscale intermediate tiles
                        spanx = int(round((cext[2] - cext[0]) / gt[1]))
                        if spanx > tw:
                            f = max(1, spanx // tw)
                            tile = np.repeat(np.repeat(tile, f, 0), f, 1)
                            th, tw = tile.shape[:2]
                        out[y0:y0 + th, x0:x0 + tw] = tile[
                            :max(0, min(th, h - y0)),
                            :max(0, min(tw, w - x0))]
                paste(cd, cname)

        paste(top_doc, top_name)
        return out

    return KmlsoDataset(w, h, 4, gt, compose)


def _to_rgba(img: np.ndarray) -> np.ndarray:
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    if img.shape[2] == 3:
        img = np.dstack([img, np.full(img.shape[:2], 255, np.uint8)])
    return img


def kmlso_open_kmz(data: bytes) -> KmlsoDataset:
    zf = zipfile.ZipFile(io.BytesIO(data))
    files = {n: zf.read(n) for n in zf.namelist()}
    doc = "doc.kml" if "doc.kml" in files else next(
        n for n in files if n.endswith(".kml"))
    return kmlso_open(doc, files)


# ----------------------------------------------------------------- write

def kmlso_write(arr: np.ndarray, gt: tuple, name: str = "",
                fmt: str = "PNG") -> dict[str, bytes]:
    """CreateCopy equivalent: returns {relative path: bytes} with the
    root 'doc.kml' plus <zoom>/<ix>/<iy>.<ext> tiles and child KMLs
    (kmlsuperoverlaydataset.cpp:697-960 tiling scheme)."""
    h, w = arr.shape[:2]
    north, west = gt[3], gt[0]
    south = gt[3] + gt[5] * h
    east = gt[0] + gt[1] * w

    maxzoom = 0
    if w >= h:
        t = float(w)
        while t > 400:
            t /= 2
            maxzoom += 1
        tilex = int(t)
        tiley = int(t * h / w)
    else:
        t = float(h)
        while t > 400:
            t /= 2
            maxzoom += 1
        tiley = int(t)
        tilex = int(t * w / h)

    ext = "png" if fmt.upper() == "PNG" else "jpg"
    out: dict[str, bytes] = {}

    def encode(tile: np.ndarray) -> bytes:
        if ext == "png":
            return png_encode(tile)
        from gdal_spark.functions.jpeg import jpeg_encode
        return jpeg_encode(tile[..., :3] if tile.ndim == 3 else tile)

    def tile_box(zoom, ix, iy):
        # boxes derive from the tile's actual PIXEL window (the grid is
        # ceil(w/(tile*step)) wide, not 2^zoom), so non-power-of-two
        # rasters stay correctly georeferenced
        step = 1 << (maxzoom - zoom)
        px0 = ix * tilex * step
        px1 = min(w, px0 + tilex * step)
        py1 = h - iy * tiley * step
        py0 = max(0, py1 - tiley * step)
        return (west + px0 * gt[1], north + py1 * gt[5],
                west + px1 * gt[1], north + py0 * gt[5])

    for zoom in range(maxzoom + 1):
        step = 1 << (maxzoom - zoom)
        # the reference loops FLOOR(size / (tile*step)) times (min 1),
        # dropping any trailing partial row/column
        n_ix = max(1, w // (tilex * step))
        n_iy = max(1, h // (tiley * step))
        for ix in range(n_ix):
            for iy in range(n_iy):
                # pixel window in source (iy from bottom)
                px0 = ix * tilex * step
                py1 = h - iy * tiley * step
                py0 = max(0, py1 - tiley * step)
                px1 = min(w, px0 + tilex * step)
                window = arr[py0:py1, px0:px1]
                tile = window[::step, ::step]
                out[f"{zoom}/{ix}/{iy}.{ext}"] = encode(tile)
                wbox = tile_box(zoom, ix, iy)
                kml = _child_kml(zoom, ix, iy, wbox, ext, maxzoom,
                                 n_ix, n_iy, tile_box)
                out[f"{zoom}/{ix}/{iy}.kml"] = kml.encode()

    root = (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<kml xmlns="http://earth.google.com/kml/2.1">\n'
        f"  <Document><name>{name or 'root'}</name>\n"
        "    <Region><LatLonAltBox>"
        f"<north>{north:.14f}</north><south>{south:.14f}</south>"
        f"<east>{east:.14f}</east><west>{west:.14f}</west>"
        "</LatLonAltBox></Region>\n"
        "    <NetworkLink><open>1</open>"
        "<Region><LatLonAltBox>"
        f"<north>{north:.14f}</north><south>{south:.14f}</south>"
        f"<east>{east:.14f}</east><west>{west:.14f}</west>"
        "</LatLonAltBox><Lod><minLodPixels>128</minLodPixels>"
        "<maxLodPixels>-1</maxLodPixels></Lod></Region>"
        "<Link><href>0/0/0.kml</href>"
        "<viewRefreshMode>onRegion</viewRefreshMode></Link>"
        "</NetworkLink>\n"
        "  </Document>\n</kml>")
    out["doc.kml"] = root.encode()
    return out


def _child_kml(zoom, ix, iy, box, ext, maxzoom, n_ix, n_iy,
               tile_box) -> str:
    w_, s_, e_, n_ = box
    links = []
    if zoom < maxzoom:
        for cx in (2 * ix, 2 * ix + 1):
            for cy in (2 * iy, 2 * iy + 1):
                cw, cs, ce, cn = tile_box(zoom + 1, cx, cy)
                if ce <= cw or cn <= cs:
                    continue  # child outside the raster
                links.append(
                    "<NetworkLink><Region><LatLonAltBox>"
                    f"<north>{cn:.14f}</north><south>{cs:.14f}</south>"
                    f"<east>{ce:.14f}</east><west>{cw:.14f}</west>"
                    "</LatLonAltBox><Lod><minLodPixels>128</minLodPixels>"
                    "<maxLodPixels>-1</maxLodPixels></Lod></Region>"
                    f"<Link><href>../../{zoom + 1}/{cx}/{cy}.kml</href>"
                    "<viewRefreshMode>onRegion</viewRefreshMode>"
                    "</Link></NetworkLink>")
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<kml xmlns="http://earth.google.com/kml/2.1">\n'
        f"  <Document><name>{zoom}/{ix}/{iy}.kml</name>"
        "<Region><LatLonAltBox>"
        f"<north>{n_:.14f}</north><south>{s_:.14f}</south>"
        f"<east>{e_:.14f}</east><west>{w_:.14f}</west>"
        "</LatLonAltBox><Lod><minLodPixels>128</minLodPixels>"
        "<maxLodPixels>-1</maxLodPixels></Lod></Region>"
        "<GroundOverlay><drawOrder>0</drawOrder>"
        f"<Icon><href>{iy}.{ext}</href></Icon>"
        "<LatLonBox>"
        f"<north>{n_:.14f}</north><south>{s_:.14f}</south>"
        f"<east>{e_:.14f}</east><west>{w_:.14f}</west>"
        "</LatLonBox></GroundOverlay>"
        + "".join(links)
        + "</Document>\n</kml>")
