"""HFA / Erdas Imagine .img driver (frmts/hfa: hfaopen.cpp,
hfaentry.cpp, hfadictionary.cpp, hfafield.cpp, hfaband.cpp).

Structure per the reference transcription:

  * "EHFA_HEADER_TAG" magic; uint32 at 16 points at the Ehfa_File
    record: int32 version, int32 freeList, int32 rootEntryPtr,
    int16 entryHeaderLength, int32 dictionaryPtr (hfaopen.cpp:200-236);
  * entry tree: 6 int32 (next, prev, parent, child, dataPos, dataSize)
    + char[64] name + char[32] type (hfaentry.cpp:68-101);
  * the data dictionary is a MIF type string "{fields}name,...{...}.",
    field syntax count:[p|*]typechar[extras]name, — item sizes per
    HFADictionary::GetItemSize ('1'/'2'/'4'/'c'/'C'=1, 'e'/'s'/'S'=2,
    't'/'l'/'L'/'f'=4, 'd'/'m'=8, 'M'=16), enums are uint16 indexes
    into their name list, pointer fields are prefixed by
    {uint32 count, uint32 fileptr} with the payload inline, BASEDATA
    'b' = {int32 rows, int32 cols, int16 EPT type} + payload
    (hfafield.cpp Initialize/GetInstBytes);
  * band layout from each Eimg_Layer node (width/height/blockWidth/
    blockHeight/pixelType) and its RasterDMS Edms_State child
    (blockinfo[] offset/size/logvalid/compressionType);
  * compressed blocks use the ESRI scheme (hfaband.cpp
    UncompressBlock:571-950): header {uint32 min, int32 numRuns, int32
    dataOffset, uint8 numBits}; numRuns == -1 = straight bit-packed
    values (+min), else run-length: counters with a 2-bit length
    prefix (0x00/0x40/0x80/0xc0 = 1..4 bytes) and big-endian packed
    values at dataOffset;
  * statistics metadata from the Esta_Statistics child; histogram bin
    values from the Descriptor_Table's Edsc_Column named "Histogram"
    (numRows values at the absolute columnDataPtr), HISTOMIN/HISTOMAX
    from Edsc_BinFunction (the hfadataset.cpp metadata surface).

Scale shape: header/dictionary/tree are KB-scale and driver-side;
every raster block is an independent (offset, size, compression)
byte range — the standard per-task ranged-read contract.
"""

from __future__ import annotations

import struct

import numpy as np

EPT_BITS = {0: 1, 1: 2, 2: 4, 3: 8, 4: 8, 5: 16, 6: 16, 7: 32, 8: 32,
            9: 32, 10: 64, 11: 64, 12: 128}
EPT_DTYPE = {3: "<u1", 4: "<i1", 5: "<u2", 6: "<i2", 7: "<u4", 8: "<i4",
             9: "<f4", 10: "<f8"}
_ITEM_SIZE = {"1": 1, "2": 1, "4": 1, "c": 1, "C": 1, "e": 2, "s": 2,
              "S": 2, "t": 4, "l": 4, "L": 4, "f": 4, "d": 8, "m": 8,
              "M": 16}
_NP_OF = {"e": "<u2", "s": "<u2", "S": "<i2", "t": "<u4", "l": "<u4",
          "L": "<i4", "f": "<f4", "d": "<f8", "c": "u1", "C": "i1",
          "1": "u1", "2": "u1", "4": "u1"}


class _Field:
    __slots__ = ("count", "pointer", "ctype", "otype", "enums", "name")


def _parse_field(s: str, pos: int, inline_types: dict):
    f = _Field()
    j = s.index(":", pos)
    f.count = int(s[pos:j])
    pos = j + 1
    f.pointer = ""
    if s[pos] in "p*":
        f.pointer = s[pos]
        pos += 1
    f.ctype = s[pos]
    pos += 1
    f.otype = None
    f.enums = None
    if f.ctype == "o":
        j = s.index(",", pos)
        f.otype = s[pos:j]
        pos = j + 1
    elif f.ctype == "x" and s[pos] == "{":
        depth = 1
        j = pos + 1
        while depth:
            if s[j] == "{":
                depth += 1
            elif s[j] == "}":
                depth -= 1
            j += 1
        body = s[pos:j]
        pos = j
        j = s.index(",", pos)
        f.otype = s[pos:j]
        pos = j + 1
        f.ctype = "o"
        if f.otype not in inline_types:
            inline_types[f.otype] = _parse_type_body(body, inline_types)
    elif f.ctype == "e":
        j = s.index(":", pos)
        n = int(s[pos:j])
        pos = j + 1
        f.enums = []
        for _ in range(n):
            j = s.index(",", pos)
            f.enums.append(s[pos:j])
            pos = j + 1
    j = s.index(",", pos)
    f.name = s[pos:j]
    return f, j + 1


def _parse_type_body(body: str, inline_types: dict):
    # body = "{fields}" inclusive
    fields = []
    pos = 1
    while pos < len(body) - 1 and body[pos] != "}":
        fld, pos = _parse_field(body, pos, inline_types)
        fields.append(fld)
    return fields


def parse_dictionary(s: str) -> dict:
    """MIF dictionary string -> {typename: [fields]}."""
    types: dict = {}
    pos = 0
    while pos < len(s) and s[pos] == "{":
        depth = 1
        j = pos + 1
        while depth:
            if s[j] == "{":
                depth += 1
            elif s[j] == "}":
                depth -= 1
            j += 1
        body = s[pos:j]
        pos = j
        j = s.index(",", pos)
        name = s[pos:j]
        pos = j + 1
        types[name] = _parse_type_body(body, types)
    return types


class HFAFile:
    def __init__(self, data: bytes):
        if not data.startswith(b"EHFA_HEADER_TAG"):
            raise ValueError("not an HFA file")
        self.data = data
        (hpos,) = struct.unpack_from("<I", data, 16)
        (self.version,) = struct.unpack_from("<i", data, hpos)
        (self.root_pos,) = struct.unpack_from("<i", data, hpos + 8)
        (self.dict_pos,) = struct.unpack_from("<i", data, hpos + 14)
        # the dictionary runs to the '.' terminator at brace depth 0
        i = self.dict_pos
        depth = 0
        while True:
            c = data[i : i + 1]
            if c == b"{":
                depth += 1
            elif c == b"}":
                depth -= 1
            elif c == b"." and depth == 0:
                break
            i += 1
        self.types = parse_dictionary(
            data[self.dict_pos : i].decode("latin-1")
        )
        self.root = self._read_entry(self.root_pos)

    # -- entry tree --------------------------------------------------------

    def _read_entry(self, pos: int) -> dict:
        vals = struct.unpack_from("<6i", self.data, pos)
        name = self.data[pos + 24 : pos + 88].split(b"\x00")[0].decode()
        etype = self.data[pos + 88 : pos + 120].split(b"\x00")[0].decode()
        e = {
            "name": name, "type": etype, "data_pos": vals[4],
            "data_size": vals[5], "children": [],
        }
        if vals[3]:
            child = self._read_entry(vals[3])
            e["children"].append(child)
            nxt = struct.unpack_from("<6i", self.data, vals[3])[0]
            while nxt:
                sib = self._read_entry(nxt)
                e["children"].append(sib)
                nxt = struct.unpack_from("<6i", self.data, nxt)[0]
        return e

    def find(self, entry: dict, name: str) -> dict | None:
        for c in entry["children"]:
            if c["name"] == name:
                return c
        return None

    def find_type(self, entry: dict, etype: str) -> list[dict]:
        return [c for c in entry["children"] if c["type"] == etype]

    # -- instance decode ---------------------------------------------------

    def decode_entry(self, entry: dict):
        if entry["data_pos"] == 0 or entry["type"] not in self.types:
            return {}
        val, _ = self._decode_obj(
            self.types[entry["type"]], entry["data_pos"]
        )
        return val

    def _decode_obj(self, fields: list, pos: int):
        out = {}
        for f in fields:
            count = f.count
            if f.pointer:
                (count,) = struct.unpack_from("<I", self.data, pos)
                pos += 8
            if f.ctype == "b":  # BASEDATA
                rows, cols, bt = struct.unpack_from("<iih", self.data, pos)
                pos += 12
                nbytes = (EPT_BITS.get(bt, 8) + 7) // 8 * rows * cols
                if bt in EPT_DTYPE:
                    arr = np.frombuffer(
                        self.data, dtype=EPT_DTYPE[bt],
                        count=rows * cols, offset=pos,
                    ).reshape(rows, cols)
                else:
                    arr = self.data[pos : pos + nbytes]
                out[f.name] = arr
                pos += nbytes
            elif f.ctype == "o":
                sub_fields = self.types.get(f.otype)
                vals = []
                for _ in range(count):
                    if sub_fields is None:
                        break
                    v, pos = self._decode_obj(sub_fields, pos)
                    vals.append(v)
                out[f.name] = vals[0] if count == 1 and vals else vals
            elif f.ctype in ("c", "C"):
                raw = self.data[pos : pos + count]
                out[f.name] = raw.split(b"\x00")[0].decode(
                    "latin-1", errors="replace"
                )
                pos += count * _ITEM_SIZE[f.ctype]
            else:
                size = _ITEM_SIZE[f.ctype]
                arr = np.frombuffer(
                    self.data, dtype=_NP_OF[f.ctype], count=count, offset=pos
                )
                pos += count * size
                if f.ctype == "e" and f.enums is not None:
                    vals = [
                        f.enums[v] if v < len(f.enums) else int(v)
                        for v in arr
                    ]
                else:
                    vals = [v.item() for v in arr]
                out[f.name] = vals[0] if count == 1 else vals
        return out, pos

    # -- raster bands ------------------------------------------------------

    def layers(self) -> list[dict]:
        return [
            c for c in self.root["children"]
            if c["type"] in ("Eimg_Layer", "Eimg_Layer_SubSample")
        ]

    def read_band(self, layer: dict) -> np.ndarray:
        meta = self.decode_entry(layer)
        w, h = meta["width"], meta["height"]
        bw, bh = meta["blockWidth"], meta["blockHeight"]
        ptype = meta["pixelType"]
        ept = {"u1": 0, "u2": 1, "u4": 2, "u8": 3, "s8": 4, "u16": 5,
               "s16": 6, "u32": 7, "s32": 8, "f32": 9, "f64": 10}[ptype]
        dms = self.find(layer, "RasterDMS")
        if dms is None:
            raise ValueError("no RasterDMS (spill files unsupported)")
        state = self.decode_entry(dms)
        blocks = state["blockinfo"]
        if isinstance(blocks, dict):
            blocks = [blocks]
        nx, ny = -(-w // bw), -(-h // bh)
        if ept in EPT_DTYPE:
            out = np.zeros((ny * bh, nx * bw), dtype=EPT_DTYPE[ept])
        else:
            out = np.zeros((ny * bh, nx * bw), dtype=np.uint8)
        for i, b in enumerate(blocks[: nx * ny]):
            if str(b.get("logvalid", "true")).lower() not in ("true", "1"):
                continue
            off, size = int(b["offset"]), int(b["size"])
            comp = b.get("compressionType", "no compression")
            compressed = (
                comp not in ("no compression", 0) and comp != "no compression"
            )
            raw = self.data[off : off + size]
            npix = bw * bh
            if compressed:
                vals = _uncompress_block(raw, npix, ept)
            else:
                vals = _unpack_raw(raw, npix, ept)
            r, c = (i // nx) * bh, (i % nx) * bw
            out[r : r + bh, c : c + bw] = vals.reshape(bh, bw)
        return out[:h, :w]

    def band_statistics(self, layer: dict) -> dict:
        """The STATISTICS_* metadata surface of hfadataset.cpp."""
        md = {}
        sta = self.find(layer, "Statistics")
        if sta is not None:
            s = self.decode_entry(sta)
            for k, mk in (("minimum", "STATISTICS_MINIMUM"),
                          ("maximum", "STATISTICS_MAXIMUM"),
                          ("mean", "STATISTICS_MEAN"),
                          ("median", "STATISTICS_MEDIAN"),
                          ("mode", "STATISTICS_MODE"),
                          ("stddev", "STATISTICS_STDDEV")):
                if k in s:
                    md[mk] = _fmt_stat(s[k])
        for c in layer["children"]:
            if c["type"] == "Esta_ExcludedValues":
                ex = self.decode_entry(c)
                v = ex.get("valueBD")
                if v is not None and getattr(v, "size", 0):
                    md["STATISTICS_EXCLUDEDVALUES"] = ",".join(
                        _fmt_stat(x) for x in np.asarray(v).ravel()
                    )
        params = self.find(layer, "HistogramParameters")
        if params is not None:
            p = self.decode_entry(params)
            bf = p.get("BinFunction", {})
            if bf:
                md["STATISTICS_HISTOMIN"] = _fmt_stat(bf["minLimit"])
                md["STATISTICS_HISTOMAX"] = _fmt_stat(bf["maxLimit"])
                md["STATISTICS_HISTONUMBINS"] = str(int(bf["numBins"]))
            if "SkipFactorX" in p:
                md["STATISTICS_SKIPFACTORX"] = str(int(p["SkipFactorX"]))
            if "SkipFactorY" in p:
                md["STATISTICS_SKIPFACTORY"] = str(int(p["SkipFactorY"]))
        table = self.find(layer, "Descriptor_Table")
        if table is not None:
            col = self.find(table, "Histogram")
            if col is not None:
                c = self.decode_entry(col)
                n = int(c["numRows"])
                ptr = int(c["columnDataPtr"])
                if c.get("dataType") == "real":
                    vals = np.frombuffer(self.data, "<f8", n, offset=ptr)
                else:
                    vals = np.frombuffer(self.data, "<i4", n, offset=ptr)
                md["STATISTICS_HISTOBINVALUES"] = "|".join(
                    _fmt_stat(v) for v in vals
                ) + "|"
            bf = self.find(table, "#Bin_Function#")
            if bf is not None:
                b = self.decode_entry(bf)
                md.setdefault("STATISTICS_HISTOMIN", _fmt_stat(b["minLimit"]))
                md.setdefault("STATISTICS_HISTOMAX", _fmt_stat(b["maxLimit"]))
        return md

    def map_info(self) -> dict | None:
        for layer in self.layers():
            mi = self.find(layer, "Map_Info")
            if mi is not None:
                return self.decode_entry(mi)
        return None


def _fmt_stat(v) -> str:
    f = float(v)
    if f == int(f) and abs(f) < 1e15:
        return str(int(f))
    return repr(f)


def _unpack_raw(raw: bytes, npix: int, ept: int) -> np.ndarray:
    if ept in EPT_DTYPE:
        return np.frombuffer(raw, dtype=EPT_DTYPE[ept], count=npix)
    bits = EPT_BITS[ept]
    packed = np.frombuffer(raw, dtype=np.uint8,
                           count=(npix * bits + 7) // 8)
    if bits == 1:
        vals = np.unpackbits(packed, bitorder="little")[:npix]
    elif bits == 2:
        vals = np.stack(
            [(packed >> s) & 3 for s in (0, 2, 4, 6)], axis=1
        ).ravel()[:npix]
    else:  # 4
        vals = np.stack(
            [(packed >> s) & 15 for s in (0, 4)], axis=1
        ).ravel()[:npix]
    return vals.astype(np.uint8)


def _read_packed(values: bytes, bit_offset: int, nbits: int, count: int):
    """count big-endian packed values of nbits (1/2/4/8/16/32)."""
    out = np.empty(count, dtype=np.int64)
    arr = np.frombuffer(values, dtype=np.uint8)
    if nbits == 0:
        out[:] = 0
        return out
    if nbits in (1, 2, 4):
        idx = bit_offset + np.arange(count) * nbits
        byte = arr[idx >> 3]
        shift = (idx & 7).astype(np.uint8)
        mask = (1 << nbits) - 1
        out[:] = (byte >> shift) & mask
        return out
    if nbits == 8:
        out[:] = arr[:count]
    elif nbits == 16:
        out[:] = arr[: 2 * count : 2].astype(np.int64) * 256 + arr[1 : 2 * count : 2]
    else:
        a = arr[: 4 * count].reshape(count, 4).astype(np.int64)
        out[:] = (a[:, 0] << 24) | (a[:, 1] << 16) | (a[:, 2] << 8) | a[:, 3]
    return out


def _uncompress_block(raw: bytes, npix: int, ept: int) -> np.ndarray:
    (dmin,) = struct.unpack_from("<I", raw, 0)
    (nruns,) = struct.unpack_from("<i", raw, 4)
    (doff,) = struct.unpack_from("<i", raw, 8)
    nbits = raw[12]
    if nruns == -1:
        vals = _read_packed(raw[13:], 0, nbits, npix) + dmin
    else:
        counts = np.empty(nruns, dtype=np.int64)
        pos = 13
        for i in range(nruns):
            c = raw[pos]
            extra = c >> 6
            rep = c & 0x3F
            for j in range(extra):
                rep = rep * 256 + raw[pos + 1 + j]
            counts[i] = rep
            pos += 1 + extra
        rvals = _read_packed(raw[doff:], 0, nbits, nruns) + dmin
        vals = np.repeat(rvals, counts)[:npix]
    if ept == 9:  # f32: the (raw + min) integer IS the IEEE bit pattern
        return (vals & 0xFFFFFFFF).astype(np.uint32).view("<f4")
    if ept == 10:
        return vals.astype(np.uint64).view("<f8")
    if ept in EPT_DTYPE:
        # wrap into the target's two's-complement range like the C cast
        bits = EPT_BITS[ept]
        return (vals & ((1 << bits) - 1)).astype(
            "<u%d" % (bits // 8)
        ).view(EPT_DTYPE[ept])
    return vals.astype(np.uint8)  # sub-byte types expanded to one per pixel


def open_hfa(data: bytes) -> HFAFile:
    return HFAFile(data)


# ---------------------------------------------------------------------------
# minimal writer: uncompressed Eimg_Layer blocks with our own dictionary
# (the layout contract of hfaopen.cpp HFACreateLL / hfaentry records)
# ---------------------------------------------------------------------------

_NP_TO_EPT = {"uint8": 3, "int8": 4, "uint16": 5, "int16": 6, "uint32": 7,
              "int32": 8, "float32": 9, "float64": 10}

_WRITER_DICT = (
    "{1:lwidth,1:lheight,"
    "1:e3:thematic,athematic,fft of real-valued data,layerType,"
    "1:e13:u1,u2,u4,u8,s8,u16,s16,u32,s32,f32,f64,c64,c128,pixelType,"
    "1:lblockWidth,1:lblockHeight,}Eimg_Layer,"
    "{1:SfileCode,1:Loffset,1:Lsize,"
    "1:e2:false,true,logvalid,"
    "1:e2:no compression,ESRI GRID compression,compressionType,}"
    "Edms_VirtualBlockInfo,"
    "{1:lnumvirtualblocks,1:lnumobjectsperblock,1:lnextobjectnum,"
    "1:e2:no compression,ESRI GRID compression,compressionType,"
    "0:poEdms_VirtualBlockInfo,blockinfo,}Edms_State,."
)


def write_hfa(bands: list[np.ndarray], block: int = 64) -> bytes:
    """Uncompressed .img with one Eimg_Layer per band."""
    out = bytearray()
    out += b"EHFA_HEADER_TAG\x00"
    out += struct.pack("<I", 20)
    hdr_at = len(out)
    out += struct.pack("<iiihi", 1, 0, 0, 128, 0)  # patched below

    def entry(name, etype, parent_slot=None):
        pos = len(out)
        out.extend(b"\x00" * 128)
        out[pos + 24 : pos + 24 + len(name)] = name.encode()
        out[pos + 88 : pos + 88 + len(etype)] = etype.encode()
        return pos

    def link(pos, field, target):
        off = {"next": 0, "child": 12, "data": 16, "size": 20}[field]
        struct.pack_into("<i", out, pos + off, target)

    root = entry("root", "root")
    struct.pack_into("<i", out, hdr_at + 8, root)
    prev_layer = None
    for bi, arr in enumerate(bands):
        h, w = arr.shape
        ept = _NP_TO_EPT[arr.dtype.name]
        nx, ny = -(-w // block), -(-h // block)
        lpos = entry(f"Layer_{bi + 1}", "Eimg_Layer")
        if prev_layer is None:
            link(root, "child", lpos)
        else:
            link(prev_layer, "next", lpos)
        prev_layer = lpos
        ldata = len(out)
        out += struct.pack("<ii", w, h)
        out += struct.pack("<HH", 1, ept)  # athematic, pixel type
        out += struct.pack("<ii", block, block)
        link(lpos, "data", ldata)
        link(lpos, "size", len(out) - ldata)
        dms = entry("RasterDMS", "Edms_State")
        link(lpos, "child", dms)
        # block payloads
        offsets = []
        for by in range(ny):
            for bx in range(nx):
                tile = np.zeros((block, block), dtype=arr.dtype)
                sub = arr[by * block : (by + 1) * block,
                          bx * block : (bx + 1) * block]
                tile[: sub.shape[0], : sub.shape[1]] = sub
                offsets.append(len(out))
                out += np.ascontiguousarray(
                    tile, dtype=tile.dtype.newbyteorder("<")
                ).tobytes()
        ddata = len(out)
        out += struct.pack("<iii", nx * ny, 1, nx * ny)
        out += struct.pack("<H", 0)  # no compression
        out += struct.pack("<II", nx * ny, 0)  # blockinfo pointer prefix
        for off in offsets:
            out += struct.pack("<hii", 0, off, block * block *
                               ((EPT_BITS[ept] + 7) // 8))
            out += struct.pack("<HH", 1, 0)  # logvalid=true, no compression
        link(dms, "data", ddata)
        link(dms, "size", len(out) - ddata)
    dict_pos = len(out)
    out += _WRITER_DICT.encode()
    struct.pack_into("<i", out, hdr_at + 14, dict_pos)
    return bytes(out)
