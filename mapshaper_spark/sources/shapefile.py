"""Shapefile (.shp/.dbf) fixture-scale reader + writer.

Implements the record formats the reference parses
(/root/reference/src/shapefile/shp-import.js:10, shp-reader.js; type table
/root/reference/src/shapefile/shp-type.js:1-16: NULL=0, POINT=1,
POLYLINE=3, POLYGON=5, MULTIPOINT=8, plus the Z variants 11/13/15/18 with
z carried through import/export and the M variants 21/23/25/28 with
measures parsed-and-dropped; MULTIPATCH=31 stays unsupported like the
reference) and the dBase reader
(/root/reference/src/shapefile/dbf-reader.js:110-135 type readers
C/N/F/L/D, language-driver codepage table :16-40, duplicate-field rename +
asterisk-numeric null from the reference's own dbf test suite), plus the
export side: write_dbf mirrors
Dbf.exportRecords (/root/reference/src/shapefile/dbf-writer.js:29-100 —
type discovery N/C/L/D, 254-byte string cap, 10-char unique field names)
and write_shp mirrors the shp export record layout.

Driver-side by design (SURVEY §2.1: "not needed at scale; small-fixture
loader in driver-side Python, then spark.createDataFrame") — production
scans are parquet/Iceberg; shapefile is the interchange boundary.
"""

from __future__ import annotations

import datetime
import struct

import numpy as np


SHP_NULL, SHP_POINT, SHP_POLYLINE, SHP_POLYGON, SHP_MULTIPOINT = 0, 1, 3, 5, 8

# Z/M record variants (/root/reference/src/shapefile/shp-type.js:1-16;
# readers in shp-reader.js). Z records carry z range + z array (and an
# OPTIONAL m block); M records carry an optional m block only.
SHP_POINTZ, SHP_POLYLINEZ, SHP_POLYGONZ, SHP_MULTIPOINTZ = 11, 13, 15, 18
SHP_POINTM, SHP_POLYLINEM, SHP_POLYGONM, SHP_MULTIPOINTM = 21, 23, 25, 28
Z_TYPES = {SHP_POINTZ, SHP_POLYLINEZ, SHP_POLYGONZ, SHP_MULTIPOINTZ}
M_TYPES = {SHP_POINTM, SHP_POLYLINEM, SHP_POLYGONM, SHP_MULTIPOINTM}
BASE_TYPE = {0: 0, 1: 1, 3: 3, 5: 5, 8: 8,
             11: 1, 13: 3, 15: 5, 18: 8,
             21: 1, 23: 3, 25: 5, 28: 8}


def read_shp(data: bytes):
    """Parse .shp bytes -> list of geometry dicts:
    {"type": int, "points": [(x, y)...]} for point/multipoint,
    {"type": int, "parts": [[(x, y)...], ...]} for polyline/polygon.
    Z-typed records (ShpType.isZType, shp-type.js:34-36) additionally carry
    "z": [..] (points) or "parts_z": [[..], ..] (paths), split at the same
    part offsets as the xy coords; M values are parsed and dropped (the
    reference's importer ignores measures too)."""
    (file_code,) = struct.unpack(">i", data[0:4])
    if file_code != 9994:
        raise ValueError("not a shapefile (bad file code)")
    (file_len_words,) = struct.unpack(">i", data[24:28])
    end = file_len_words * 2
    out = []
    pos = 100
    while pos < end:
        (_recno, content_words) = struct.unpack(">ii", data[pos:pos + 8])
        pos += 8
        rec = data[pos:pos + content_words * 2]
        pos += content_words * 2
        (shp_type,) = struct.unpack("<i", rec[0:4])
        base = BASE_TYPE.get(shp_type)
        if base is None:
            raise NotImplementedError(f"shp type {shp_type} not supported")
        if shp_type == SHP_NULL:
            out.append({"type": SHP_NULL, "points": []})
        elif base == SHP_POINT:
            x, y = struct.unpack("<dd", rec[4:20])
            g = {"type": shp_type, "points": [(x, y)]}
            if shp_type == SHP_POINTZ:
                g["z"] = [struct.unpack("<d", rec[20:28])[0]]
            out.append(g)
        elif base == SHP_MULTIPOINT:
            (n,) = struct.unpack("<i", rec[36:40])
            pts = np.frombuffer(rec, dtype="<f8", count=2 * n, offset=40).reshape(n, 2)
            g = {"type": shp_type,
                 "points": [tuple(p) for p in pts.tolist()]}
            if shp_type == SHP_MULTIPOINTZ:
                zoff = 40 + 16 * n + 16  # skip zmin/zmax
                g["z"] = np.frombuffer(rec, dtype="<f8", count=n,
                                       offset=zoff).tolist()
            out.append(g)
        else:  # polyline / polygon (base 3 / 5), any Z/M flavor
            n_parts, n_points = struct.unpack("<ii", rec[36:44])
            parts = struct.unpack(f"<{n_parts}i", rec[44:44 + 4 * n_parts])
            coords = np.frombuffer(rec, dtype="<f8", count=2 * n_points,
                                   offset=44 + 4 * n_parts).reshape(n_points, 2)
            bounds = list(parts) + [n_points]
            rings = [[tuple(p) for p in coords[a:b].tolist()]
                     for a, b in zip(bounds[:-1], bounds[1:])]
            g = {"type": shp_type, "parts": rings}
            if shp_type in (SHP_POLYLINEZ, SHP_POLYGONZ):
                zoff = 44 + 4 * n_parts + 16 * n_points + 16  # skip z range
                zs = np.frombuffer(rec, dtype="<f8", count=n_points, offset=zoff)
                g["parts_z"] = [zs[a:b].tolist()
                                for a, b in zip(bounds[:-1], bounds[1:])]
            out.append(g)
    return out


# dBase language-driver id -> codepage, transcribed from the reference's
# conversion table (/root/reference/src/shapefile/dbf-reader.js:16,
# Dbf.languageIds + Dbf.lookupCodePage :37-40); values mapped to the
# equivalent Python codec names.
_LANGUAGE_IDS = {
    0x01: "437", 0x02: "850", 0x03: "1252", 0x08: "865", 0x09: "437",
    0x0A: "850", 0x0B: "437", 0x0D: "437", 0x0E: "850", 0x0F: "437",
    0x10: "850", 0x11: "437", 0x12: "850", 0x13: "932", 0x14: "850",
    0x15: "437", 0x16: "850", 0x17: "865", 0x18: "437", 0x19: "437",
    0x1A: "850", 0x1B: "437", 0x1C: "863", 0x1D: "850", 0x1F: "852",
    0x22: "852", 0x23: "852", 0x24: "860", 0x25: "850", 0x26: "866",
    0x37: "850", 0x40: "852", 0x4D: "936", 0x4E: "949", 0x4F: "950",
    0x50: "874", 0x57: "1252", 0x58: "1252", 0x59: "1252", 0x64: "852",
    0x65: "866", 0x66: "865", 0x67: "861", 0x6A: "737", 0x6B: "857",
    0x6C: "863", 0x78: "950", 0x79: "949", 0x7A: "936", 0x7B: "932",
    0x7C: "874", 0x86: "737", 0x87: "852", 0x88: "857", 0xC8: "1250",
    0xC9: "1251", 0xCA: "1254", 0xCB: "1253", 0xCC: "1257",
}


def lookup_codepage(ldid: int) -> str | None:
    """Dbf.lookupCodePage (dbf-reader.js:37-40) -> Python codec name."""
    cp = _LANGUAGE_IDS.get(ldid)
    return f"cp{cp}" if cp else None


def _detect_encoding(data: bytes, header_size: int, n_records: int,
                     record_size: int, ldid: int) -> str:
    """findStringEncoding (dbf-reader.js:318-343): prefer the ldid codepage
    (except ldid 0x57, which some GIS software writes regardless of
    encoding); pure-7-bit data is ascii; otherwise guess (utf-8 if the
    8-bit samples decode strictly, else latin-1 — the in-sandbox stand-in
    for the reference's detectEncoding library call)."""
    codepage = lookup_codepage(ldid)
    if codepage and ldid != 0x57:
        return codepage
    body = data[header_size:header_size + n_records * record_size]
    has_8bit = any(b > 127 for b in body)
    if not has_8bit:
        return "ascii"
    try:
        body.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        return "latin-1"


def _uniq_record_names(names: list[str]) -> list[str]:
    """Duplicate DBF field names get _1/_2 suffixes at import (reference
    test dbf-reader-test.js 'Rename fields to avoid duplicate names';
    renamed fields may exceed 10 chars until re-exported)."""
    out, seen = [], set()
    for name in names:
        cand, i = name, 0
        while cand in seen:
            i += 1
            cand = f"{name}_{i}"
        seen.add(cand)
        out.append(cand)
    return out


def dbf_field_names(data: bytes) -> list[str]:
    """Field names from a .dbf header (descriptor scan only)."""
    names = []
    pos = 32
    while data[pos] != 0x0D:
        names.append(data[pos:pos + 11].split(b"\x00")[0]
                     .decode("ascii", "replace"))
        pos += 32
    return names


def read_dbf(data: bytes, encoding: str | None = None):
    """Parse .dbf bytes -> list of dict records (types C/N/F/L/D, matching
    dbf-reader.js getNumberReader/readInt/readBool/readDate). With no
    explicit ``encoding``, the language-driver byte (header offset 29)
    selects the codepage like the reference's findStringEncoding; malformed
    numerics (e.g. asterisk fill) read as null; duplicate field names are
    uniquified with _1/_2 suffixes."""
    n_records, header_size, record_size = struct.unpack("<ihh", data[4:12])
    ldid = data[29]
    if encoding is None:
        encoding = _detect_encoding(data, header_size, n_records,
                                    record_size, ldid)
    fields = []
    pos = 32
    while data[pos] != 0x0D:
        fd = data[pos:pos + 32]
        name = fd[0:11].split(b"\x00")[0].decode(encoding, "replace")
        ftype = chr(fd[11])
        length = fd[16]
        decimals = fd[17]
        fields.append((name, ftype, length, decimals))
        pos += 32
    names = _uniq_record_names([f[0] for f in fields])
    records = []
    for i in range(n_records):
        base = header_size + i * record_size
        if data[base:base + 1] == b"*":
            continue  # deleted
        rec = {}
        off = base + 1
        for name, (_orig, ftype, length, decimals) in zip(names, fields):
            raw = data[off:off + length]
            off += length
            s = raw.decode(encoding, "replace").strip()
            if ftype == "C":
                rec[name] = s
            elif ftype in ("N", "F"):
                try:
                    if s == "":
                        rec[name] = None
                    elif ftype == "N" and decimals == 0 and "." not in s:
                        rec[name] = int(s)
                    else:
                        rec[name] = float(s)
                except ValueError:
                    rec[name] = None  # asterisk-filled / garbage numeric
            elif ftype == "L":
                rec[name] = True if s in "YyTt" else (False if s in "NnFf" else None)
            elif ftype == "D":
                rec[name] = (datetime.date(int(s[0:4]), int(s[4:6]), int(s[6:8]))
                             if len(s) == 8 else None)
            else:
                rec[name] = s
        records.append(rec)
    return records


def normalize_encoding(name: str) -> str:
    """.cpg / user encoding spellings -> Python codec names (the aliases
    the reference's encoding layer accepts: big5, latin1/2, winNNNN,
    koi8r, shiftjis, euckr, ...)."""
    s = name.strip().lower().replace("-", "").replace("_", "").replace(" ", "")
    table = {
        "utf8": "utf-8", "ascii": "ascii",
        "big5": "big5", "gbk": "gbk", "gb2312": "gb2312",
        "shiftjis": "shift_jis", "sjis": "shift_jis", "eucjp": "euc_jp",
        "euckr": "euc_kr", "koi8r": "koi8-r",
        "latin1": "latin-1", "iso88591": "latin-1",
        "latin2": "iso8859-2", "iso88592": "iso8859-2",
    }
    if s in table:
        return table[s]
    for prefix in ("windows", "win", "cp"):
        if s.startswith(prefix) and s[len(prefix):].isdigit():
            return "cp" + s[len(prefix):]
    if s.isdigit():  # bare codepage number (e.g. a '874' .cpg)
        return "cp" + s
    return name


def import_shapefile(spark, shp_bytes: bytes, dbf_bytes: bytes | None = None,
                     encoding: str | None = None):
    """shp (+ optional dbf) -> features DataFrame with rings_x/rings_y or
    x/y, plus dbf attribute columns (index-aligned, like the reference's
    shape/record pairing). ``encoding`` overrides the dbf language-driver
    detection (reference: opts.encoding beats ldid)."""
    import pandas as pd

    geoms = read_shp(shp_bytes)
    any_z = any(g["type"] in Z_TYPES for g in geoms)
    rows = []
    for i, g in enumerate(geoms):
        row = {"fid": i, "shp_type": g["type"], "x": None, "y": None,
               "rings_x": [], "rings_y": []}
        if any_z:
            row["z"] = None
            row["rings_z"] = []
        base = BASE_TYPE.get(g["type"], g["type"])
        if base == SHP_POINT and g["points"]:
            row["x"], row["y"] = g["points"][0]
            if "z" in g:
                row["z"] = g["z"][0]
        elif base == SHP_MULTIPOINT:
            row["rings_x"] = [[p[0] for p in g["points"]]]
            row["rings_y"] = [[p[1] for p in g["points"]]]
            if "z" in g:
                row["rings_z"] = [list(g["z"])]
        elif base in (SHP_POLYLINE, SHP_POLYGON):
            row["rings_x"] = [[p[0] for p in part] for part in g["parts"]]
            row["rings_y"] = [[p[1] for p in part] for part in g["parts"]]
            if "parts_z" in g:
                row["rings_z"] = [list(pz) for pz in g["parts_z"]]
        rows.append(row)
    if dbf_bytes is not None:
        enc = normalize_encoding(encoding) if encoding else None
        records = read_dbf(dbf_bytes, encoding=enc)
        for row, rec in zip(rows, records):
            for k, v in rec.items():
                row[k] = v
        if records and "fid" in records[0]:
            # a dbf fid replaces the record number as the feature key: a
            # null (a blank dbf value) or a repeat would merge features
            fids = [row["fid"] for row in rows]
            if not all(isinstance(v, (str, int, float)) and v != ""
                       for v in fids) or len(set(fids)) != len(fids):
                raise ValueError("dbf field 'fid' must be a distinct, "
                                 "non-null scalar on every record")
    pdf = pd.DataFrame(rows)
    # polyline/polygon files carry no point coords: an all-None object
    # column breaks Spark's type inference — pin x/y(/z) to float64
    # (None->NaN) and restore SQL nulls after conversion
    num_cols = ["x", "y"] + (["z"] if any_z else [])
    for c in num_cols:
        pdf[c] = pd.to_numeric(pdf[c])
    from pyspark.sql import functions as F
    df = spark.createDataFrame(pdf)
    for c in num_cols:
        df = df.withColumn(c, F.when(F.isnan(F.col(c)), None)
                           .otherwise(F.col(c)))
    return df


# ---------------------------------------------------------------------------
# writers (dbf-writer.js / shp export)
# ---------------------------------------------------------------------------

MAX_STRING_LEN = 254  # Dbf.MAX_STRING_LEN, dbf-writer.js:3


def _adjust_field_name(name, maxlen, i):
    """internal.adjustFieldName (mapshaper-data-utils.js:118-131):
    truncate on the first try; later tries append '_1'..'_9' then
    '10', '11', ... inside the length budget."""
    if not i:
        return name[:maxlen]
    suff = str(i)
    if len(suff) == 1:
        suff = "_" + suff
    return name[: maxlen - len(suff)] + suff


def _uniq_field_names(names, maxlen=10):
    """10-char dBase field names, uniquified like getUniqFieldNames
    (mapshaper-data-utils.js:101-115): a truncated name may not shadow a
    DIFFERENT field's original name (dbf-writer-test.js 'field name
    conflicts caused by truncation are resolved' 1-3)."""
    out = []
    used = set()
    for name in names:
        i = 0
        while True:
            cand = _adjust_field_name(name, maxlen, i)
            i += 1
            if cand in used:
                continue
            if name != cand and cand in names:
                continue
            break
        used.add(cand)
        out.append(cand)
    return out


def _numeric_field_info(records, name):
    """Dbf.getNumericFieldInfo (dbf-writer.js:250-282): (min, max,
    decimals) with the reference's adaptive-epsilon decimal discovery
    (dbf-writer-test.js getNumericFieldInfo tests 1-8); non-finite values
    are skipped."""
    import math

    mn = mx = 0.0
    k = 1.0
    power = 1.0
    decimals = 0
    eps = 1e-15
    for rec in records:
        val = rec.get(name)
        if isinstance(val, bool) or not isinstance(val, (int, float)) or \
                not math.isfinite(val):
            continue
        val = float(val)
        if val < mn or val > mx:
            if val < mn:
                mn = val
            if val > mx:
                mx = val
            while abs(val) >= power:
                power *= 10
                eps *= 10
        # JS Math.round = floor(x + 0.5)
        while abs(math.floor(val * k + 0.5) - val * k) > eps:
            if decimals == 15:  # dbf limit
                break
            decimals += 1
            eps *= 10
            k *= 10
    return mn, mx, decimals


def _discover_field_type(records, name):
    """First non-null value decides (Dbf.discoverFieldType,
    dbf-writer.js:226-237)."""
    for rec in records:
        v = rec.get(name)
        if v is None:
            continue
        if isinstance(v, bool):
            return "L"
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return "D"
        if isinstance(v, (int, float)):
            return "N"
        return "C"
    return None  # all-null: emitted as a size-0 numeric field


def write_dbf(records, encoding: str = "latin-1", field_order=None) -> bytes:
    """records (list of dicts) -> .dbf bytes (Dbf.exportRecords,
    dbf-writer.js:29-100). Fields are typed by first non-null value; numeric
    fields are right-justified fixed-point; strings padded/truncated to the
    longest encoded value (capped at 254)."""
    if field_order is None:
        field_order = []
        seen = set()
        for rec in records:
            for k in rec:
                if k not in seen:
                    seen.add(k)
                    field_order.append(k)
    if not field_order:
        field_order = ["FID"]
        records = [{"FID": i} for i in range(len(records))]
    names = _uniq_field_names(field_order)

    field_specs = []  # (uniq_name, type, size, decimals, formatter)
    for orig, name in zip(field_order, names):
        ftype = _discover_field_type(records, orig)
        if ftype is None:
            # all-null column: empty numeric field, re-imports as nulls
            # (dbf-writer.js getFieldInfo null branch; dbf-writer-test.js
            # 'null records are preserved')
            field_specs.append((name, orig, "N", 0, 0))
        elif ftype == "N":
            _mn, _mx, decimals = _numeric_field_info(records, orig)
            size = max(len(_fmt_num(_mx, decimals)),
                       len(_fmt_num(_mn, decimals)), 1)
            for rec in records:
                v = rec.get(orig)
                if v is None:
                    continue
                size = max(size, len(_fmt_num(v, decimals)))
            size = min(size, 18 if decimals == 0 else 20)
            field_specs.append((name, orig, "N", size, decimals))
        elif ftype == "L":
            field_specs.append((name, orig, "L", 1, 0))
        elif ftype == "D":
            field_specs.append((name, orig, "D", 8, 0))
        else:
            size = 1
            for rec in records:
                v = rec.get(orig)
                if v is None:
                    continue
                size = max(size, min(len(str(v).encode(encoding, "replace")),
                                     MAX_STRING_LEN))
            field_specs.append((name, orig, "C", size, 0))

    n_fields = len(field_specs)
    header_size = 32 + 32 * n_fields + 1
    record_size = 1 + sum(s[3] for s in field_specs)
    n_records = len(records)
    out = bytearray(header_size + n_records * record_size + 1)
    # header: version 3, update date, counts
    today = datetime.date(1995, 7, 26)  # fixed date -> byte-deterministic
    struct.pack_into("<BBBBihh", out, 0, 3, today.year - 1900, today.month,
                     today.day, n_records, header_size, record_size)
    pos = 32
    for name, _orig, ftype, size, decimals in field_specs:
        nb = name.encode(encoding, "replace")[:11]
        out[pos:pos + len(nb)] = nb
        out[pos + 11] = ord(ftype)
        out[pos + 16] = size
        out[pos + 17] = decimals
        pos += 32
    out[pos] = 0x0D
    pos = header_size
    for rec in records:
        out[pos] = 0x20  # not deleted
        off = pos + 1
        for name, orig, ftype, size, decimals in field_specs:
            v = rec.get(orig)
            if ftype == "N":
                s = "" if v is None else _fmt_num(v, decimals)
                b = s.encode("ascii")[:size].rjust(size, b" ")
            elif ftype == "L":
                b = b"T" if v is True else (b"F" if v is False else b"?")
            elif ftype == "D":
                b = (v.strftime("%Y%m%d").encode("ascii") if v is not None
                     else b" " * 8)
            else:
                b = b"" if v is None else str(v).encode(encoding, "replace")
                b = b[:size].ljust(size, b" ")
            out[off:off + size] = b
            off += size
        pos += record_size
    out[pos] = 0x1A  # EOF marker
    return bytes(out)


def _fmt_num(v, decimals):
    if decimals == 0:
        return str(int(round(float(v))))
    return f"{float(v):.{decimals}f}"


def write_shp(geoms) -> tuple[bytes, bytes]:
    """Geometry dicts (the read_shp output format) -> (.shp bytes,
    .shx bytes). All features must share one shp type (shapefile spec).
    Z-typed dicts ("z" / "parts_z" present, types 11/13/15/18) round-trip:
    the z range + z array blocks are written after the xy coords (the m
    block is optional per spec and omitted, matching the reader)."""
    types = {g["type"] for g in geoms if g["type"] != SHP_NULL}
    if len({BASE_TYPE.get(t, t) for t in types}) > 1:
        raise ValueError(f"mixed shp types {types}")
    shp_type = types.pop() if types else SHP_NULL
    is_z = shp_type in Z_TYPES

    def all_points(g):
        if "points" in g and g["points"]:
            return g["points"]
        return [p for part in g.get("parts", []) for p in part]

    def all_zs(g):
        if "z" in g:
            return list(g["z"])
        if "parts_z" in g:
            return [z for part in g["parts_z"] for z in part]
        return [0.0] * len(all_points(g))

    pts = [p for g in geoms for p in all_points(g)]
    if pts:
        xmin = min(p[0] for p in pts); ymin = min(p[1] for p in pts)
        xmax = max(p[0] for p in pts); ymax = max(p[1] for p in pts)
    else:
        xmin = ymin = xmax = ymax = 0.0
    if is_z:
        zall = [z for g in geoms for z in all_zs(g)]
        zmin_g, zmax_g = (min(zall), max(zall)) if zall else (0.0, 0.0)
    else:
        zmin_g = zmax_g = 0.0

    recs = []
    for g in geoms:
        if g["type"] == SHP_NULL or not all_points(g):
            recs.append(struct.pack("<i", SHP_NULL))
        elif BASE_TYPE[g["type"]] == SHP_POINT:
            x, y = g["points"][0]
            if is_z:
                recs.append(struct.pack("<iddd", g["type"], x, y,
                                        float(all_zs(g)[0])))
            else:
                recs.append(struct.pack("<idd", g["type"], x, y))
        elif BASE_TYPE[g["type"]] == SHP_MULTIPOINT:
            ps = g["points"]
            bx = [p[0] for p in ps]; by = [p[1] for p in ps]
            body = struct.pack("<i4di", g["type"], min(bx), min(by),
                              max(bx), max(by), len(ps))
            body += b"".join(struct.pack("<dd", x, y) for x, y in ps)
            if is_z:
                zs = all_zs(g)
                body += struct.pack("<dd", min(zs), max(zs))
                body += struct.pack(f"<{len(zs)}d", *zs)
            recs.append(body)
        else:
            parts = g["parts"]
            ps = [p for part in parts for p in part]
            bx = [p[0] for p in ps]; by = [p[1] for p in ps]
            offsets = []
            acc = 0
            for part in parts:
                offsets.append(acc)
                acc += len(part)
            body = struct.pack("<i4dii", g["type"], min(bx), min(by),
                              max(bx), max(by), len(parts), len(ps))
            body += struct.pack(f"<{len(parts)}i", *offsets)
            body += b"".join(struct.pack("<dd", x, y) for x, y in ps)
            if is_z:
                zs = all_zs(g)
                body += struct.pack("<dd", min(zs), max(zs))
                body += struct.pack(f"<{len(zs)}d", *zs)
            recs.append(body)

    content = b""
    shx_recs = b""
    offset_words = 50  # header = 100 bytes
    for i, body in enumerate(recs):
        content_words = len(body) // 2
        content += struct.pack(">ii", i + 1, content_words) + body
        shx_recs += struct.pack(">ii", offset_words, content_words)
        offset_words += 4 + content_words

    def header(total_bytes):
        h = bytearray(100)
        struct.pack_into(">i", h, 0, 9994)
        struct.pack_into(">i", h, 24, total_bytes // 2)
        struct.pack_into("<ii", h, 28, 1000, shp_type)
        struct.pack_into("<4d", h, 36, xmin, ymin, xmax, ymax)
        struct.pack_into("<dd", h, 68, zmin_g, zmax_g)
        return bytes(h)

    shp = header(100 + len(content)) + content
    shx = header(100 + len(shx_recs)) + shx_recs
    return shp, shx


def export_shapefile(df, kind: str = "polygon", fields=None):
    """Features DataFrame (rings_x/rings_y or x/y + attribute columns) ->
    (.shp, .shx, .dbf) bytes. ``kind``: the layer's geometry kind, which
    gives the shape type unless a ``shp_type`` column carries the imported
    one: a point layer is MultiPoint when a feature has several points
    (the reference's getShapeTypeForLayer), a polyline layer PolyLine,
    anything else Polygon. ``fields``: the dbf's columns (default: every
    non-geometry column). Fixture-scale sink: collects to the driver (like
    the GeoJSON/TopoJSON sinks — a shapefile is one file)."""
    rows = [r.asDict() for r in df.collect()]
    geom_cols = {"rings_x", "rings_y", "rings_z", "x", "y", "z",
                 "shp_type", "bbox"}
    if fields is None:
        fields = [k for k in df.columns if k not in geom_cols]

    def points(r):  # a point feature's coordinates: MultiPoint rings or x/y
        if r.get("rings_x"):
            return [p for rx, ry in zip(r["rings_x"], r["rings_y"])
                    for p in zip(rx, ry)]
        return [(r["x"], r["y"])] if r.get("x") is not None else []
    if kind == "point":
        default = SHP_MULTIPOINT if any(len(points(r)) > 1 for r in rows) \
            else SHP_POINT
    else:
        default = SHP_POLYLINE if kind == "polyline" else SHP_POLYGON
    geoms = []
    records = []
    for r in rows:
        t = int(r.get("shp_type") or default)
        if BASE_TYPE.get(t, t) in (SHP_POINT, SHP_MULTIPOINT):
            g = {"type": t, "points": points(r)}
            if t == SHP_POINTZ:
                g["z"] = [float(r.get("z") or 0.0)]
            geoms.append(g)
        else:
            parts = [list(zip(rx, ry))
                     for rx, ry in zip(r.get("rings_x") or [],
                                       r.get("rings_y") or [])]
            g = {"type": t, "parts": parts}
            if t in Z_TYPES and r.get("rings_z"):
                g["parts_z"] = [list(pz) for pz in r["rings_z"]]
            geoms.append(g)
        records.append({k: r[k] for k in fields})
    shp, shx = write_shp(geoms)
    dbf = write_dbf(records)
    return shp, shx, dbf
