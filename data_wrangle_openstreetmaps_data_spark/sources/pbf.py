"""OSM PBF source (the binary OpenStreetMap format).

The PBF file format (https://wiki.openstreetmap.org/wiki/PBF_Format) is a
sequence of blobs::

    [4-byte big-endian length][BlobHeader proto][Blob proto]...

where each OSMData Blob holds a zlib-compressed PrimitiveBlock: a string
table plus primitive groups of dense nodes / ways / relations with
delta-coded packed integers.

This module implements a minimal protobuf *wire-format* decoder in pure
stdlib Python (varint + zigzag + packed fields — no protobuf dependency,
which this environment doesn't ship) and exposes the result as the same
raw-elements DataFrame schema as the XML source (``osm.read_osm``), so the
whole downstream engine (audits, reshape, queries) is format-agnostic.

Framing is walked once, by ``walk_blobs`` over a seekable file, and each
Blob payload is unpacked by ``decode_blob``; both the pure-Python
``decode_pbf_bytes`` and the ``osmpbf`` DataSource (``pbf_datasource.py``,
``spark.read.format("osmpbf")``, which fans one file out across executors
by blob offset) go through them. Malformed framing and unsupported blob
compression raise ``ValueError``; nothing is dropped silently.
"""

from __future__ import annotations

import io
import struct
import zlib
from collections.abc import Generator, Iterator
from typing import BinaryIO

# --- protobuf wire format (decode) -----------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) for one message."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:  # varint
            val, pos = _read_varint(buf, pos)
        elif wt == 1:  # 64-bit
            val = struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        elif wt == 2:  # length-delimited
            ln, pos = _read_varint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wt == 5:  # 32-bit
            val = struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


def _packed_varints(buf: bytes, signed: bool = False) -> list[int]:
    out = []
    pos = 0
    mask = (1 << 64) - 1
    while pos < len(buf):
        v, pos = _read_varint(buf, pos)
        # protobuf 64-bit field semantics: wrap to the int64 view, so
        # this scalar path agrees bit-for-bit with the numpy kernel's
        # uint64 arithmetic (property-pinned in
        # tests/test_property_pbf_varint.py)
        v &= mask
        out.append(
            _zigzag(v) if signed else (v - (1 << 64) if v >= (1 << 63) else v)
        )
    return out


def _packed_auto(buf: bytes, signed: bool = False) -> list[int]:
    """Size-dispatched packed-varint decode → Python list. numpy's
    array setup costs more than it saves below ~1 KB (measured: forcing
    the vectorized kernel onto per-way ~10-element ref arrays nearly
    DOUBLED whole-corpus decode), so small buffers take the scalar
    loop; large ones (planet ways carry up to 2000 refs, dense blocks
    millions of entries) take the vectorized kernel."""
    if len(buf) >= 1024:
        return _packed_varints_np(buf, signed).tolist()
    return _packed_varints(buf, signed)


def _packed_varints_np(buf: bytes, signed: bool = False):
    """Vectorized packed-varint decode → int64 ndarray (the dense-node hot
    path: ids/lats/lons/timestamps are millions of packed varints per
    block). Fully array-parallel: continuation-bit mask finds varint
    boundaries, per-byte 7-bit payloads are shifted by their position
    within the varint and summed per group with add.reduceat. uint64
    arithmetic wraps modulo 2^64 — exactly protobuf's 64-bit semantics."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.empty(a.size, dtype=bool)
    starts[0] = True
    np.logical_not(a[:-1] >= 0x80, out=starts[1:])
    start_idx = np.flatnonzero(starts)
    gid = np.cumsum(starts) - 1
    pos_in_group = np.arange(a.size, dtype=np.int64) - start_idx[gid]
    payload = (a & 0x7F).astype(np.uint64) << (7 * pos_in_group).astype(np.uint64)
    vals = np.add.reduceat(payload, start_idx)
    if signed:
        vals = (vals >> np.uint64(1)) ^ (np.uint64(0) - (vals & np.uint64(1)))
    return vals.view(np.int64)


# --- PBF blob framing -------------------------------------------------------


BlobRange = tuple[int, int, str]  # (payload offset, payload length, blob type)


def walk_blobs(f: BinaryIO, pos: int = 0) -> Generator[BlobRange, None, int]:
    """Walk only the blob framing of a seekable file from ``pos``: per
    blob, read the 4-byte header length and the BlobHeader (which
    carries the payload size), then seek past the payload. Yields each
    complete blob and returns the end of the last one; the walk stops at
    a tail too short to frame a whole blob, so a half-appended blob is
    simply not visible yet. The caller may read ``f`` between yields."""
    size = f.seek(0, io.SEEK_END)
    while pos + 4 <= size:
        f.seek(pos)
        (hlen,) = struct.unpack(">I", f.read(4))
        if pos + 4 + hlen > size:
            break
        btype, datasize = "", 0
        for field, _, val in _fields(f.read(hlen)):
            if field == 1:
                btype = val.decode()
            elif field == 3:
                datasize = val
        off = pos + 4 + hlen
        if off + datasize > size:
            break
        yield off, datasize, btype
        pos = off + datasize
    return pos


def iter_blobs(f: BinaryIO) -> Iterator[BlobRange]:
    """Every blob of a whole PBF file; bytes left over after the last
    complete blob raise instead of being dropped."""
    size = f.seek(0, io.SEEK_END)
    end = yield from walk_blobs(f)
    if end != size:
        raise ValueError(
            f"truncated PBF: {size - end} bytes at offset {end} do not "
            f"frame a complete blob (file size {size})"
        )


def decode_blob(blob: bytes) -> bytes:
    """Blob proto → raw block bytes. Only ``raw`` (field 1) and
    ``zlib_data`` (field 3) are decoded; any other payload (lzma, bzip2,
    lz4, zstd: fields 4-7) raises rather than decoding to nothing."""
    for field, _, val in _fields(blob):
        if field == 1:
            return val
        if field == 3:
            return zlib.decompress(val)
        if field != 2:  # raw_size
            raise ValueError(f"unsupported PBF blob compression: field {field}")
    raise ValueError("unsupported PBF blob compression: no data field")


# --- PrimitiveBlock decode --------------------------------------------------


def _decode_dense_nodes(dense: bytes, strings: list[str], gran: int,
                        lat_off: int, lon_off: int, date_gran: int) -> list[dict]:
    """Vectorized dense-node decode: packed varints → numpy arrays,
    delta chains → cumsum, coordinate/timestamp/string formatting →
    array ops. Only the per-node dict assembly stays in Python (the output
    is a dict per element, same as the XML source)."""
    import numpy as np

    empty = np.empty(0, dtype=np.int64)
    ids = lats = lons = keys_vals = empty
    info: dict[str, object] = {}
    for field, _, val in _fields(dense):
        if field == 1:
            ids = _packed_varints_np(val, signed=True)
        elif field == 5:
            for f2, _, v2 in _fields(val):
                if f2 == 1:
                    info["version"] = _packed_varints_np(v2)
                elif f2 == 2:
                    info["timestamp"] = _packed_varints_np(v2, signed=True)
                elif f2 == 3:
                    info["changeset"] = _packed_varints_np(v2, signed=True)
                elif f2 == 4:
                    info["uid"] = _packed_varints_np(v2, signed=True)
                elif f2 == 5:
                    info["user_sid"] = _packed_varints_np(v2, signed=True)
        elif field == 8:
            lats = _packed_varints_np(val, signed=True)
        elif field == 9:
            lons = _packed_varints_np(val, signed=True)
        elif field == 10:
            keys_vals = _packed_varints_np(val)

    n = int(ids.size)
    none_col = [None] * n

    def _pad(lst):
        return lst + [None] * (n - len(lst)) if len(lst) < n else lst

    ids_a = np.cumsum(ids)
    # numpy float64 str() is the same shortest-round-trip repr CPython uses,
    # so these strings parse back to the identical doubles. Dividing the
    # exact nanodegree count by 1e9 rounds once, to the double nearest the
    # decimal coordinate, as parsing the XML attribute does; multiplying
    # by the inexact 1e-9 could land one ulp off (22.649388300000002).
    lat_l = _pad(((lat_off + gran * np.cumsum(lats)) / 1e9).astype("U32").tolist())
    lon_l = _pad(((lon_off + gran * np.cumsum(lons)) / 1e9).astype("U32").tolist())
    id_l = ids_a.astype("U24").tolist()

    def _str_col(key, delta=True):
        arr = info.get(key)
        if arr is None or arr.size == 0:
            return none_col
        vals = np.cumsum(arr) if delta else arr
        return _pad(vals.astype("U24").tolist())

    ver_l = _str_col("version", delta=False)
    cs_l = _str_col("changeset")
    uid_l = _str_col("uid")
    ts = info.get("timestamp")
    if ts is not None and ts.size:
        ms = np.cumsum(ts) * date_gran
        iso = np.datetime_as_string(
            ms.astype("datetime64[ms]").astype("datetime64[s]"), unit="s"
        )
        ts_l = _pad(np.char.add(iso, "Z").tolist())
    else:
        ts_l = none_col
    usid = info.get("user_sid")
    user_l = (
        _pad([strings[i] for i in np.cumsum(usid).tolist()])
        if usid is not None and usid.size
        else none_col
    )

    # split interleaved keys_vals on 0 sentinels (vectorized boundaries,
    # per-node slices only where a node actually has tags)
    tag_lists: list = [None] * n
    if keys_vals.size:
        kv = keys_vals
        zeros = np.flatnonzero(kv == 0)
        seg_start = 0
        node_i = 0
        for z in zeros:
            if z > seg_start:
                seg = kv[seg_start:z]
                tag_lists[node_i] = [
                    {"k": strings[seg[j]], "v": strings[seg[j + 1]]}
                    for j in range(0, len(seg), 2)
                ]
            node_i += 1
            seg_start = z + 1
        if seg_start < kv.size and node_i < n:
            # lenient encoders may omit the final 0 sentinel — flush
            seg = kv[seg_start:]
            tag_lists[node_i] = [
                {"k": strings[seg[j]], "v": strings[seg[j + 1]]}
                for j in range(0, len(seg), 2)
            ]

    return [
        {
            "id": i_id,
            "type": "node",
            "lat": i_lat,
            "lon": i_lon,
            "visible": None,
            "version": i_ver,
            "changeset": i_cs,
            "timestamp": i_ts,
            "user": i_user,
            "uid": i_uid,
            "tags": i_tags,
            "nds": None,
            "members": None,
        }
        for i_id, i_lat, i_lon, i_ver, i_cs, i_ts, i_user, i_uid, i_tags in zip(
            id_l, lat_l, lon_l, ver_l, cs_l, ts_l, user_l, uid_l, tag_lists
        )
    ]


def _decode_info(buf: bytes, strings: list[str], date_gran: int) -> dict:
    out: dict = {}
    for field, _, val in _fields(buf):
        if field == 1:
            out["version"] = val
        elif field == 2:
            out["timestamp"] = val * date_gran
        elif field == 3:
            out["changeset"] = val
        elif field == 4:
            out["uid"] = val
        elif field == 5:
            out["user"] = strings[val]
    return out


def _iso(ts_ms) -> str | None:
    if ts_ms is None:
        return None
    import datetime as dt

    t = dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _element(etype: str, eid: int, lat=None, lon=None, tags=(), nds=None,
             members=None, **info) -> dict:
    return {
        "id": str(eid),
        "type": etype,
        "lat": None if lat is None else repr(lat),
        "lon": None if lon is None else repr(lon),
        "visible": None,
        "version": None if info.get("version") is None else str(info["version"]),
        "changeset": None if info.get("changeset") is None else str(info["changeset"]),
        "timestamp": _iso(info.get("timestamp")),
        "user": info.get("user"),
        "uid": None if info.get("uid") is None else str(info["uid"]),
        "tags": [{"k": k, "v": v} for k, v in tags] or None,
        "nds": None if nds is None else [{"ref": str(r)} for r in nds],
        "members": members,
    }


def _decode_way(buf: bytes, strings: list[str], date_gran: int) -> dict:
    """Packed fields decode through the size-dispatched kernel (numpy
    for long ref arrays, scalar below the crossover); the delta chain
    folds C-side via itertools.accumulate."""
    from itertools import accumulate

    wid = 0
    keys: list[int] = []
    vals: list[int] = []
    refs: list[int] = []
    info: dict = {}
    for field, _, val in _fields(buf):
        if field == 1:
            wid = val
        elif field == 2:
            keys = _packed_auto(val)
        elif field == 3:
            vals = _packed_auto(val)
        elif field == 4:
            info = _decode_info(val, strings, date_gran)
        elif field == 8:
            refs = list(accumulate(_packed_auto(val, signed=True)))
    tags = [(strings[k], strings[v]) for k, v in zip(keys, vals)]
    return _element("way", wid, tags=tags, nds=refs, **info)


_MEMBER_TYPES = {0: "node", 1: "way", 2: "relation"}


def _decode_relation(buf: bytes, strings: list[str], date_gran: int) -> dict:
    rid = 0
    keys: list[int] = []
    vals: list[int] = []
    roles: list[int] = []
    memids: list[int] = []
    types: list[int] = []
    info: dict = {}
    from itertools import accumulate

    for field, _, val in _fields(buf):
        if field == 1:
            rid = val
        elif field == 2:
            keys = _packed_auto(val)
        elif field == 3:
            vals = _packed_auto(val)
        elif field == 4:
            info = _decode_info(val, strings, date_gran)
        elif field == 8:
            roles = _packed_auto(val)
        elif field == 9:
            memids = list(accumulate(_packed_auto(val, signed=True)))
        elif field == 10:
            types = _packed_auto(val)
    tags = [(strings[k], strings[v]) for k, v in zip(keys, vals)]
    members = [
        {"mtype": _MEMBER_TYPES.get(t, "node"), "ref": str(m),
         "role": strings[r] if r < len(strings) else ""}
        for t, m, r in zip(types, memids, roles)
    ]
    el = _element("relation", rid, tags=tags, members=members, **info)
    return el


def decode_primitive_block(raw: bytes) -> list[dict]:
    strings: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off, date_gran = 100, 0, 0, 1000
    for field, _, val in _fields(raw):
        if field == 1:
            strings = [
                v.decode("utf-8", "replace")
                for f, _, v in _fields(val)
                if f == 1
            ]
        elif field == 2:
            groups.append(val)
        elif field == 17:
            gran = val
        elif field == 18:
            date_gran = val
        elif field == 19:
            lat_off = val
        elif field == 20:
            lon_off = val
    out: list[dict] = []
    for g in groups:
        for field, _, val in _fields(g):
            if field == 2:  # dense nodes
                out.extend(
                    _decode_dense_nodes(val, strings, gran, lat_off, lon_off,
                                        date_gran)
                )
            elif field == 3:  # way
                out.append(_decode_way(val, strings, date_gran))
            elif field == 4:  # relation
                out.append(_decode_relation(val, strings, date_gran))
    return out


def decode_pbf_bytes(data: bytes) -> list[dict]:
    out: list[dict] = []
    for off, ln, btype in iter_blobs(io.BytesIO(data)):
        if btype == "OSMData":
            out.extend(decode_primitive_block(decode_blob(data[off:off + ln])))
    return out


# --- Spark integration ------------------------------------------------------

RAW_DDL = (
    "id string, type string, lat string, lon string, visible string, "
    "version string, changeset string, timestamp string, user string, "
    "uid string, tags array<struct<k:string,v:string>>, "
    "nds array<struct<ref:string>>, "
    "members array<struct<mtype:string,ref:string,role:string>>"
)


def arrow_schema():
    """Arrow twin of RAW_DDL — the schema a DataSource reader's
    RecordBatches must carry for Spark's vectorized ingest path."""
    import pyarrow as pa

    return pa.schema(
        [
            ("id", pa.string()),
            ("type", pa.string()),
            ("lat", pa.string()),
            ("lon", pa.string()),
            ("visible", pa.string()),
            ("version", pa.string()),
            ("changeset", pa.string()),
            ("timestamp", pa.string()),
            ("user", pa.string()),
            ("uid", pa.string()),
            ("tags", pa.list_(pa.struct([("k", pa.string()), ("v", pa.string())]))),
            ("nds", pa.list_(pa.struct([("ref", pa.string())]))),
            (
                "members",
                pa.list_(
                    pa.struct(
                        [
                            ("mtype", pa.string()),
                            ("ref", pa.string()),
                            ("role", pa.string()),
                        ]
                    )
                ),
            ),
        ]
    )


def elements_to_arrow(rows: list[dict], schema=None):
    """Decoded element dicts → ONE Arrow RecordBatch (columnar, zero
    per-row Python serialization downstream). from_pylist is C-side;
    measured 0.9s per 560k elements vs tens of seconds for the
    row-at-a-time tuple/pickle path it replaces."""
    import pyarrow as pa

    return pa.RecordBatch.from_pylist(rows, schema=schema or arrow_schema())
