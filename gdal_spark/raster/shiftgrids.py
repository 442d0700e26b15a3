"""Geodetic shift-grid drivers: NTv2 (.gsb), NADCON LOSLAS (.los/.las)
and NOAA NADCON5/VERTCON3 (.b).

Format facts transcribed (frmts/raw/{ntv2dataset,loslasdataset,
noaabdataset}.cpp — decode re-derived):
  NTv2    11 overview records of 16 bytes ("NUM_OREC" int at +8 picks
          the byte order), per-subgrid 11 header records (S_LAT..
          LONG_INC doubles at +8, positive-west longitudes flipped) +
          GS_COUNT nodes of 4 float32 (lat/lon shift + accuracies);
          node order runs south->north and EAST->WEST, remapped to a
          north-up west-east raster; gt in degrees (seconds / 3600,
          half-cell shift)
  LOSLAS  Fortran records of w*4+4 bytes; int32 w/h at offset 64,
          float32 min_lon/delta_lon/min_lat/delta_lat at 76; rows
          stored southernmost first
  NOAA_B  52-byte header (4-byte Fortran marker + 4 doubles + 3 int32,
          big- or little-endian chosen by sanity checks), KIND 0/1/2 ->
          int32/float32/int16 rows with 4-byte record markers,
          southernmost row first, >180 longitudes wrapped
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["ntv2_decode", "ntv2_encode", "loslas_decode", "noaa_b_decode",
           "ngsgeoid_decode"]


def ntv2_encode(arr: np.ndarray, gt, name: str = "SYNTH",
                system_f: str = "NAD27", system_t: str = "NAD83") -> bytes:
    """Single-subgrid little-endian NTv2 writer (inverse of ntv2_decode:
    same record layout, node order south->north / east->west, positive-
    west longitudes).  arr: (h, w, 4) north-up west-east raster of
    [lat_shift, lon_shift, lat_acc, lon_acc] in arc-seconds; gt in
    degrees with the half-cell shift exactly as ntv2_decode returns."""
    a = np.asarray(arr, np.float32)
    if a.ndim != 3 or a.shape[2] != 4:
        raise ValueError(f"NTv2 grid must be (h, w, 4), got {a.shape}")
    h, w, _ = a.shape
    long_inc = gt[1] * 3600.0
    lat_inc = -gt[5] * 3600.0
    w_long_e = gt[0] * 3600.0 + long_inc * 0.5   # east-positive node edge
    n_lat = gt[3] * 3600.0 - lat_inc * 0.5
    s_lat = n_lat - (h - 1) * lat_inc
    e_long_e = w_long_e + (w - 1) * long_inc

    def rec_i(tag: str, v: int) -> bytes:
        return tag.encode().ljust(8) + struct.pack("<i4x", v)

    def rec_f(tag: str, v: float) -> bytes:
        return tag.encode().ljust(8) + struct.pack("<d", v)

    def rec_s(tag: str, v: str) -> bytes:
        return tag.encode().ljust(8) + v.encode().ljust(8)[:8]

    out = bytearray()
    out += rec_i("NUM_OREC", 11)
    out += rec_i("NUM_SREC", 11)
    out += rec_i("NUM_FILE", 1)
    out += rec_s("GS_TYPE", "SECONDS")
    out += rec_s("VERSION", "NTv2.0")
    out += rec_s("SYSTEM_F", system_f)
    out += rec_s("SYSTEM_T", system_t)
    out += rec_f("MAJOR_F", 6378206.4)
    out += rec_f("MINOR_F", 6356583.8)
    out += rec_f("MAJOR_T", 6378137.0)
    out += rec_f("MINOR_T", 6356752.314)
    out += rec_s("SUB_NAME", name)
    out += rec_s("PARENT", "NONE")
    out += rec_s("CREATED", "00000000")
    out += rec_s("UPDATED", "00000000")
    out += rec_f("S_LAT", s_lat)
    out += rec_f("N_LAT", n_lat)
    out += rec_f("E_LONG", -e_long_e)  # positive west
    out += rec_f("W_LONG", -w_long_e)
    out += rec_f("LAT_INC", lat_inc)
    out += rec_f("LONG_INC", long_inc)
    out += rec_i("GS_COUNT", h * w)
    nodes = np.ascontiguousarray(a[::-1, ::-1, :]).astype("<f4")
    out += nodes.tobytes()
    out += "END".encode().ljust(8) + b"\x00" * 8
    return bytes(out)


def ntv2_decode(data: bytes, grid: int = 0) -> tuple[np.ndarray, dict]:
    if data[:8] != b"NUM_OREC":
        raise ValueError("not an NTv2 grid shift file")
    rec = 16
    native = struct.unpack_from("<i", data, 8)[0]
    bo = "<" if native == 11 else ">"

    def f64(off):
        return struct.unpack_from(bo + "d", data, off + 8)[0]

    def i32(off):
        return struct.unpack_from(bo + "i", data, off + 8)[0]

    n_orec = i32(0)
    n_file = i32(2 * rec)
    pos = n_orec * rec
    subgrids = []
    for _ in range(max(n_file, 1)):
        name = data[pos + 8:pos + 16].decode("latin-1").strip()
        s_lat = f64(pos + 4 * rec)
        n_lat = f64(pos + 5 * rec)
        e_long = -f64(pos + 6 * rec)
        w_long = -f64(pos + 7 * rec)
        lat_inc = f64(pos + 8 * rec)
        long_inc = f64(pos + 9 * rec)
        gs_count = i32(pos + 10 * rec)
        w = int((e_long - w_long) / long_inc + 1.5)
        h = int((n_lat - s_lat) / lat_inc + 1.5)
        subgrids.append({
            "name": name, "offset": pos + 11 * rec, "w": w, "h": h,
            "count": gs_count,
            "gt": ((w_long - long_inc * 0.5) / 3600.0, long_inc / 3600.0,
                   0.0, (n_lat + lat_inc * 0.5) / 3600.0, 0.0,
                   -lat_inc / 3600.0),
        })
        pos += (11 + gs_count) * rec
    sg = subgrids[grid]
    w, h = sg["w"], sg["h"]
    vals = np.frombuffer(data, bo + "f4", sg["count"] * 4,
                         sg["offset"]).reshape(sg["count"], 4)
    # file order: south->north rows, east->west columns
    cube = vals[: w * h].reshape(h, w, 4)
    arr = np.ascontiguousarray(cube[::-1, ::-1, :]).astype("=f4")
    return arr, {"gt": sg["gt"], "subgrids": [s["name"] for s in subgrids],
                 "bands": ["lat_shift", "lon_shift", "lat_accuracy",
                           "lon_accuracy"]}


def loslas_decode(data: bytes) -> tuple[np.ndarray, dict]:
    w, h = struct.unpack_from("<ii", data, 64)
    min_lon, delta_lon, min_lat, delta_lat = \
        struct.unpack_from("<4f", data, 76)
    rec_len = w * 4 + 4
    arr = np.empty((h, w), np.float32)
    for i in range(h):  # record i is the i-th row from the SOUTH
        off = (i + 1) * rec_len + 4
        arr[h - 1 - i] = np.frombuffer(data, "<f4", w, off)
    gt = (min_lon - delta_lon / 2, delta_lon, 0.0,
          min_lat + (h - 0.5) * delta_lat, 0.0, -delta_lat)
    return arr, {"gt": gt}


def noaa_b_decode(data: bytes) -> tuple[np.ndarray, dict]:
    header = None
    for bo in (">", "<"):
        sw_lat, sw_lon, d_lat, d_lon = struct.unpack_from(bo + "4d", data, 4)
        rows, cols, kind = struct.unpack_from(bo + "3i", data, 36)
        if not (abs(sw_lat) <= 90 and abs(sw_lon) <= 360):
            continue
        if not (0 < d_lat <= 1 and 0 < d_lon <= 1):
            continue
        if not (rows > 0 and sw_lat + (rows - 1) * d_lat <= 90):
            continue
        if not (cols > 0 and (cols - 1) * d_lon <= 360):
            continue
        if not (-1 <= kind <= 2):
            continue
        header = (bo, sw_lat, sw_lon, d_lat, d_lon, rows, cols, kind)
        break
    if header is None:
        raise ValueError("not a NOAA .b grid")
    bo, sw_lat, sw_lon, d_lat, d_lon, rows, cols, kind = header
    if kind == -1:
        raise ValueError("KIND = -1 in NOAA .b dataset not supported")
    dt = {0: "i4", 1: "f4", 2: "i2"}[kind]
    dtsize = int(dt[1])
    line = 4 + cols * dtsize + 4
    arr = np.empty((rows, cols), np.dtype(bo + dt))
    for i in range(rows):  # southernmost record first
        off = 52 + i * line + 4
        arr[rows - 1 - i] = np.frombuffer(data, bo + dt, cols, off)
    if sw_lon > 180:
        sw_lon -= 360
    gt = (sw_lon - d_lon / 2, d_lon, 0.0,
          sw_lat + (rows - 1) * d_lat + d_lat / 2, 0.0, -d_lat)
    return np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("="))), \
        {"gt": gt, "kind": kind}


def ngsgeoid_decode(data: bytes) -> tuple[np.ndarray, dict]:
    """NGS GEOID12/2009 binary geoid-height grid (.bin).

    Format facts transcribed (frmts/ngsgeoid/ngsgeoiddataset.cpp,
    GetHeaderInfo/IReadBlock — decode re-derived): 44-byte header of
    SLAT/WLON/DLAT/DLON float64 + NLAT/NLON/IKIND int32, byte order
    chosen by whichever makes IKIND == 1; float32 geoid heights,
    southernmost row first; node-registered grid so the geotransform
    gets the half-cell outward shift, and WLON stays on the 0..360
    branch (grids cross +180).
    """
    if len(data) < 44:
        raise ValueError("not an NGSGEOID grid (short header)")
    bo = None
    for cand in ("<", ">"):
        if struct.unpack_from(cand + "i", data, 40)[0] == 1:
            bo = cand
            break
    if bo is None:
        raise ValueError("not an NGSGEOID grid (IKIND != 1)")
    slat, wlon, dlat, dlon = struct.unpack_from(bo + "4d", data, 0)
    nlat, nlon = struct.unpack_from(bo + "2i", data, 32)
    if nlat <= 0 or nlon <= 0 or dlat <= 1e-15 or dlon <= 1e-15:
        raise ValueError("not an NGSGEOID grid (bad extents)")
    if not (slat >= -90.0 and slat + nlat * dlat <= 90.0
            and wlon >= -180.0 and wlon + nlon * dlon <= 360.0):
        raise ValueError("not an NGSGEOID grid (bounds)")
    vals = np.frombuffer(data, bo + "f4", nlat * nlon, 44)
    arr = vals.reshape(nlat, nlon)[::-1]  # south-first -> north-up
    gt = (wlon - dlon / 2, dlon, 0.0,
          slat + nlat * dlat - dlat / 2, 0.0, -dlat)
    return np.ascontiguousarray(arr.astype("=f4")), \
        {"gt": gt, "srs": "WGS84"}
