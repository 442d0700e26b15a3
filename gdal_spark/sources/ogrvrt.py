"""OGR vector VRT driver — ogr/ogrsf_frmts/vrt (ogrvrtdatasource.cpp
InstantiateLayer/InstantiateUnionLayer/InstantiateWarpedLayer,
ogrvrtlayer.cpp FullInitialize).

The reference evaluates the virtual layer feature-by-feature; here the
XML compiles straight into a Catalyst plan over the engine's own
readers, so column pruning / filter pushdown / the union all happen in
the optimizer — the Spark-first translation of the driver's purpose.

Supported, matching autotest/ogr/ogr_vrt.py semantics:

* ``<OGRVRTLayer>``: SrcDataSource (relativeToVRT, inline nested
  ``<OGRVRTDataSource>`` CDATA, dispatch by extension to the engine's
  dbf/shp/csv/geojson/parquet readers), SrcLayer, SrcSQL (Spark SQL over
  the registered source view), GeometryField encodings Direct / WKT /
  PointFromColumns (x/y/z attrs, 2D when z absent), FID from a source
  column with optional exposed ``name=`` (ogr_vrt test7), ``<FID/>`` or
  no FID -> the source record index, ``<Field name= src= type=>``
  subsetting/renaming (schema = listed fields only, test6).
* ``<OGRVRTUnionLayer>``: field union by first-seen name with missing
  fields null, member FIDs offset by the cumulative member sizes
  (test30: second member's FIDs continue at 25), optional
  SourceLayerFieldName column.
* ``<OGRVRTWarpedLayer>``: TargetSRS/SrcSRS EPSG transform of the wkb
  geometry through the engine CRS kernels (test29 family); missing or
  unsupported SRS and non-spatial sources raise, as the reference
  errors do.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VIEW_SEQ = [0]


def _load_source(spark: SparkSession, src: str, base_dir: str,
                 relative: bool, layer_hint: str | None):
    """SrcDataSource -> DataFrame (dispatch on extension / inline VRT)."""
    from gdal_spark.sources import vector_formats as VF

    src = src.strip()
    if src.startswith("<OGRVRTDataSource"):
        inner = read_ogrvrt(spark, src, base_dir=base_dir)
        if layer_hint and layer_hint in inner:
            return inner[layer_hint]
        if layer_hint and "_errors" in inner and layer_hint in inner["_errors"]:
            raise ValueError(inner["_errors"][layer_hint])
        first = next((v for k, v in inner.items() if k != "_errors"), None)
        if first is None:
            raise ValueError(f"no usable layer in inline VRT: {inner.get('_errors')}")
        return first
    path = os.path.join(base_dir, src) if relative and not os.path.isabs(src) else src
    if not os.path.exists(path) and not os.path.isabs(src):
        # relativeToVRT=0 paths resolve against the caller's CWD in the
        # reference; fall back to the VRT's directory and its ancestors
        # (autotest VRTs reference data/ relative to the suite root)
        probe = base_dir
        for _ in range(3):
            alt = os.path.join(probe, src)
            if os.path.exists(alt):
                path = alt
                break
            probe = os.path.dirname(probe) or "/"
    ext = os.path.splitext(path)[1].lower()
    if ext == ".dbf":
        return VF.read_dbf(spark, path)
    if ext == ".shp":
        return VF.read_shapefile(spark, path)
    if ext == ".csv":
        return VF.read_csv_wkt(spark, path)
    if ext in (".geojson", ".json"):
        return VF.read_geojson(spark, path)
    if ext == ".parquet":
        return spark.read.parquet(path)
    if ext == ".vrt":
        inner = read_ogrvrt(spark, path)
        if layer_hint and layer_hint in inner:
            return inner[layer_hint]
        first = next((v for k, v in inner.items() if k != "_errors"), None)
        if first is None:
            raise ValueError(f"no usable layer in {path}: {inner.get('_errors')}")
        return first
    raise ValueError(f"unsupported SrcDataSource {src!r}")


def _wkb_from_wkt_col(col):
    import pandas as pd

    from gdal_spark.functions.wkt import from_wkt

    def one(v):
        # from_wkt gives None for '... EMPTY': a NULL geometry
        wkb = None if v is None else from_wkt(str(v))
        return None if wkb is None else bytearray(wkb)

    @F.pandas_udf(T.BinaryType())
    def conv(s):
        return pd.Series([one(v) for v in s])

    return conv(col)


def _record_fid_col(df: DataFrame) -> str:
    # "_fid" is the record index when the source has a real "fid" attribute;
    # for nested VRT sources whose FID was renamed (<FID name=...>), the
    # convention holds that a layer's FIRST column is its FID
    for cand in ("_fid", "fid"):
        if cand in df.columns:
            return cand
    return df.columns[0]


def _build_plain_layer(spark: SparkSession, el: ET.Element,
                       base_dir: str) -> DataFrame:
    name = el.get("name")
    src_el = el.find("SrcDataSource")
    if src_el is None or src_el.text is None:
        raise ValueError(f"layer {name!r}: missing SrcDataSource")
    relative = (src_el.get("relativeToVRT") or src_el.get("relativetoVRT")
                or "0").strip() in ("1", "TRUE", "true")
    src_layer = el.findtext("SrcLayer")
    df = _load_source(spark, src_el.text, base_dir, relative,
                      src_layer.strip() if src_layer else None)

    sql = el.findtext("SrcSQL")
    if sql:
        view = f"_ogrvrt_src_{_VIEW_SEQ[0]}"
        _VIEW_SEQ[0] += 1
        df.createOrReplaceTempView(view)
        # the FROM table of the source SQL is the source layer, whatever
        # it is named — rebind it to the registered view
        df = spark.sql(
            re.sub(r"(?i)\bFROM\s+\w+", f"FROM {view}", sql.strip(), count=1)
        )

    rec_fid = _record_fid_col(df)

    # geometry
    gf = el.find("GeometryField")
    geom = None
    if gf is not None:
        enc = (gf.get("encoding") or "Direct").lower()
        if enc == "pointfromcolumns":
            x, y, z = gf.get("x"), gf.get("y"), gf.get("z")
            parts = [F.col(x).cast("double").cast("string"),
                     F.col(y).cast("double").cast("string")]
            kw = "POINT ("
            if z:
                parts.append(F.col(z).cast("double").cast("string"))
                kw = "POINT Z ("
            geom = _wkb_from_wkt_col(
                F.concat(F.lit(kw), F.concat_ws(" ", *parts), F.lit(")"))
            )
        elif enc == "wkt":
            geom = _wkb_from_wkt_col(F.col(gf.get("field")))
        else:  # Direct
            geom = F.col(gf.get("field") or "wkb")
    elif "wkb" in df.columns:
        geom = F.col("wkb")

    # FID mapping (ogrvrtlayer.cpp: <FID>col</FID>, name= exposes an alias;
    # empty/no FID -> record index)
    fid_el = el.find("FID")
    fid_out_name = "fid"
    fid_src_col = None
    if fid_el is not None and fid_el.text and fid_el.text.strip():
        fid_src_col = fid_el.text.strip()
        fid_out_name = fid_el.get("name") or "fid"
        fid_expr = F.col(fid_src_col).cast("long")
    else:
        fid_expr = F.col(rec_fid).cast("long")

    field_els = el.findall("Field")
    cols = [fid_expr.alias(fid_out_name)]
    if geom is not None:
        cols.append(geom.alias("wkb"))
    if field_els:
        for fe in field_els:
            fname = fe.get("name")
            src = fe.get("src") or fname
            c = F.col(src)
            ftype = (fe.get("type") or "").lower()
            if ftype == "integer":
                c = c.cast("int")
            elif ftype in ("integer64",):
                c = c.cast("long")
            elif ftype == "real":
                c = c.cast("double")
            elif ftype == "string":
                c = c.cast("string")
            cols.append(c.alias(fname))
    else:
        # the FID source column is hidden from the field list, as the
        # reference layer definition does (ogrvrtlayer.cpp FID handling)
        skip = {rec_fid, "wkb", fid_out_name, fid_src_col}
        for c in df.columns:
            if c not in skip:
                cols.append(F.col(c))
    return df.select(*cols)


def _build_union_layer(spark: SparkSession, el: ET.Element,
                       base_dir: str) -> DataFrame:
    members = []
    for sub in el:
        if sub.tag == "OGRVRTLayer":
            members.append((sub.get("name"), _build_plain_layer(spark, sub, base_dir)))
        elif sub.tag == "OGRVRTWarpedLayer":
            inner = sub.find("OGRVRTLayer")
            wname = (sub.get("name")
                     or (inner.get("name") if inner is not None else None)
                     or "warped")
            members.append((wname, _build_warped_layer(spark, sub, base_dir)))
    if not members:
        raise ValueError("union layer with no members")
    src_field = el.findtext("SourceLayerFieldName")

    # field union in first-seen order (ogrunionlayer.cpp default
    # FIELD_UNION_STRATEGY), FIDs offset by cumulative member sizes
    order: list[str] = []
    for _, m in members:
        for c in m.columns:
            if c not in order:
                order.append(c)
    out = None
    offset = 0
    for lname, m in members:
        cols = []
        for c in order:
            cols.append(F.col(c) if c in m.columns else F.lit(None).alias(c))
        part = m.select(*cols)
        if "fid" in order:
            part = part.withColumn("fid", F.col("fid") + F.lit(offset))
            offset += m.count()
        if src_field:
            part = part.withColumn(src_field.strip(), F.lit(lname))
        out = part if out is None else out.unionByName(part)
    return out


def _build_warped_layer(spark: SparkSession, el: ET.Element,
                        base_dir: str) -> DataFrame:
    sub = el.find("OGRVRTLayer")
    if sub is None:
        raise ValueError("warped layer without source OGRVRTLayer")
    df = _build_plain_layer(spark, sub, base_dir)
    if "wkb" not in df.columns:
        raise ValueError("cannot warp a non-spatial layer")
    tgt = el.findtext("TargetSRS")
    if not tgt or not tgt.strip():
        raise ValueError("missing TargetSRS")
    src = (el.findtext("SrcSRS") or "EPSG:4326").strip()

    def epsg(s: str) -> int:
        s = s.strip().upper()
        if s in ("WGS84", "CRS:84"):
            return 4326
        if s.startswith("EPSG:"):
            return int(s[5:])
        raise ValueError(f"unsupported SRS {s!r}")

    s_code, t_code = epsg(src), epsg(tgt.strip())
    if s_code == t_code:
        return df
    from gdal_spark.functions.st_catalog import _transform

    @F.pandas_udf(T.BinaryType())
    def warp(col):
        import pandas as pd

        return pd.Series(
            [None if v is None else bytearray(_transform(bytes(v), s_code, t_code))
             for v in col]
        )

    return df.withColumn("wkb", warp(F.col("wkb")))


def read_ogrvrt(spark: SparkSession, vrt: str,
                base_dir: str | None = None) -> dict[str, DataFrame]:
    """Open a .vrt path or inline XML -> {layer_name: DataFrame}.
    Layers that fail to instantiate are skipped (the reference CPLErrors
    and keeps the datasource usable — vrt_test.vrt's dummySrcDataSource
    layer), recorded under the returned dict's ``_errors`` key."""
    if vrt.lstrip().startswith("<"):
        text = vrt
        base = base_dir or "."
    else:
        with open(vrt) as fh:
            text = fh.read()
        base = base_dir or os.path.dirname(os.path.abspath(vrt))
    root = ET.fromstring(text)
    if root.tag != "OGRVRTDataSource":
        raise ValueError(f"not an OGR VRT: root element {root.tag}")
    out: dict[str, DataFrame] = {}
    errors: dict[str, str] = {}
    for el in root:
        name = el.get("name")
        if not name and el.tag == "OGRVRTWarpedLayer":
            # a warped layer takes its source layer's name
            sub = el.find("OGRVRTLayer")
            name = sub.get("name") if sub is not None else None
        name = name or f"layer{len(out)}"
        try:
            if el.tag == "OGRVRTLayer":
                out[name] = _build_plain_layer(spark, el, base)
            elif el.tag == "OGRVRTUnionLayer":
                out[name] = _build_union_layer(spark, el, base)
            elif el.tag == "OGRVRTWarpedLayer":
                out[name] = _build_warped_layer(spark, el, base)
        except Exception as e:  # reference: CPLError + skip layer
            errors[name] = str(e)
    if errors:
        out["_errors"] = errors  # type: ignore[assignment]
    return out
