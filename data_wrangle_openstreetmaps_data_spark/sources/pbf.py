"""OSM PBF source (the binary OpenStreetMap format).

The PBF file format (https://wiki.openstreetmap.org/wiki/PBF_Format) is a
sequence of blobs::

    [4-byte big-endian length][BlobHeader proto][Blob proto]...

where each OSMData Blob holds a zlib-compressed PrimitiveBlock: a string
table plus primitive groups of dense nodes / ways / relations with
delta-coded packed integers.

This module implements a minimal protobuf *wire-format* decoder in pure
Python (varint + zigzag + packed fields, with numpy for the dense-node
arrays; no protobuf dependency, which this environment doesn't ship).
``decode_block`` turns one PrimitiveBlock into columns of
``osm.RAW_SCHEMA``, the raw-elements schema the XML source also returns,
so the whole downstream engine (audits, reshape, queries) is
format-agnostic.

Framing is walked once, by ``iter_blobs`` over a seekable file, and each
Blob payload is unpacked by ``decode_blob``; the pure-Python
``decode_pbf_bytes`` and the Spark reader ``read_pbf`` go through them
and ``decode_block``. ``read_pbf`` indexes the blobs on the driver
(framing only, no payload bytes), packs them by compressed bytes into
about one task per core (``plan_tasks``) and decodes them in one
``mapInArrow``, so one planet-sized file fans out across executors by
blob offset.
Malformed or truncated framing, unsupported or corrupt blob compression
and malformed block content raise ``ValueError``; nothing is dropped
silently.
"""

from __future__ import annotations

import io
import struct
import sys
import zlib
from bisect import bisect_right
from collections.abc import Iterator
from itertools import accumulate, groupby
from operator import itemgetter
from typing import BinaryIO

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA

# ``read_pbf``'s decoder and everything it calls here ship to the Python
# workers by value, so the workers need not import this package: the PBF
# route runs on any session, whatever the workers' PYTHONPATH.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

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


def iter_blobs(f: BinaryIO) -> Iterator[BlobRange]:
    """Every blob of a whole seekable PBF file, walking only its framing:
    per blob, read the 4-byte header length and the BlobHeader (which
    carries the payload size), then seek past the payload. Bytes left
    over that do not frame a complete blob raise instead of being
    dropped. The caller may read ``f`` between yields."""
    size = f.seek(0, io.SEEK_END)
    pos = 0

    def need(end: int) -> None:
        if end > size:
            raise ValueError(
                f"truncated PBF: {size - pos} bytes at offset {pos} do not "
                f"frame a complete blob (file size {size})"
            )

    while pos < size:
        need(pos + 4)
        f.seek(pos)
        (hlen,) = struct.unpack(">I", f.read(4))
        off = pos + 4 + hlen
        need(off)
        btype, datasize = "", 0
        for field, _, val in _fields(f.read(hlen)):
            if field == 1:
                btype = val.decode()
            elif field == 3:
                datasize = val
        need(off + datasize)
        yield off, datasize, btype
        pos = off + datasize


def decode_blob(blob: bytes) -> bytes:
    """Blob proto → raw block bytes. Only ``raw`` (field 1) and
    ``zlib_data`` (field 3) are decoded; any other payload (lzma, bzip2,
    lz4, zstd: fields 4-7) raises rather than decoding to nothing."""
    for field, _, val in _fields(blob):
        if field == 1:
            return val
        if field == 3:
            try:
                return zlib.decompress(val)
            except zlib.error as e:
                raise ValueError(f"corrupt PBF zlib payload: {e}") from None
        if field != 2:  # raw_size
            raise ValueError(f"unsupported PBF blob compression: field {field}")
    raise ValueError("unsupported PBF blob compression: no data field")


# --- PrimitiveBlock decode --------------------------------------------------

_MEMBER_TYPES = {0: "node", 1: "way", 2: "relation"}
# DenseInfo field -> array; "user" holds string-table indexes. Fields
# 2-5 are zigzag delta-coded; 1 (version) and 6 (visible, packed bools,
# spelled "true"/"false" as the XML attribute) are plain.
_DENSE_INFO = {1: "version", 2: "timestamp", 3: "changeset", 4: "uid",
               5: "user", 6: "visible"}


def _message(buf: bytes, signed: tuple[int, ...]) -> dict[int, object]:
    """One Node, Way or Relation message by field number: Info (field 4)
    as bytes, every other field a varint or a packed-varint list,
    zigzag-decoded for the ``signed`` fields. Packed fields decode
    through the size-dispatched kernel (numpy for long ref arrays,
    scalar below the crossover)."""
    msg: dict[int, object] = {}
    for field, wt, val in _fields(buf):
        if field == 4:
            msg[4] = val
        elif wt == 2:
            msg[field] = _packed_auto(val, signed=field in signed)
        else:
            msg[field] = _zigzag(val) if field in signed else val
    return msg


def _format(col: list, fmt) -> list:
    """Apply a vectorized int64 formatter to a column's non-null values."""
    import numpy as np

    if None not in col:
        return fmt(np.array(col, dtype=np.int64))
    at = [i for i, v in enumerate(col) if v is not None]
    out = [None] * len(col)
    for i, v in zip(at, fmt(np.array([col[i] for i in at], dtype=np.int64))):
        out[i] = v
    return out


def _degrees(nanodegrees) -> list[str]:
    # numpy float64 str() is the same shortest-round-trip repr CPython uses,
    # so these strings parse back to the identical doubles. Dividing the
    # exact nanodegree count by 1e9 rounds once, to the double nearest the
    # decimal coordinate, as parsing the XML attribute does; multiplying
    # by the inexact 1e-9 could land one ulp off (22.649388300000002).
    return (nanodegrees / 1e9).astype("U32").tolist()


def _iso(epoch_ms) -> list[str]:
    import numpy as np

    s = np.datetime_as_string(
        epoch_ms.astype("datetime64[ms]").astype("datetime64[s]"), unit="s"
    )
    return np.char.add(s, "Z").tolist()


class _Block:
    """Decode state of one PrimitiveBlock: its string table and
    granularities, and its elements as columns in ``RAW_SCHEMA`` order.
    Until ``columns()`` formats them once for the whole block, lat/lon
    hold nanodegrees and timestamp epoch milliseconds."""

    def __init__(self, strings: list[str], gran: int, lat_off: int,
                 lon_off: int, date_gran: int):
        self.strings = strings
        self.gran, self.lat_off, self.lon_off = gran, lat_off, lon_off
        self.date_gran = date_gran
        self.cols: dict[str, list] = {n: [] for n in RAW_SCHEMA.names}

    def text(self, idx: list[int], what: str) -> list[str]:
        n = len(self.strings)
        if idx and (min(idx) < 0 or max(idx) >= n):
            raise ValueError(
                f"PBF {what} string index out of range: the block's "
                f"string table has {n} entries"
            )
        return [self.strings[i] for i in idx]

    def append(self, **values) -> None:
        """One element; a column it does not name gets null."""
        for name, col in self.cols.items():
            col.append(values.get(name))

    def extend(self, n: int, **values: list) -> None:
        """``n`` elements; a column it does not name gets ``n`` nulls."""
        for name, col in self.cols.items():
            col.extend(values.get(name) or [None] * n)

    def columns(self) -> dict[str, list]:
        c = self.cols
        c["lat"] = _format(c["lat"], _degrees)
        c["lon"] = _format(c["lon"], _degrees)
        c["timestamp"] = _format(c["timestamp"], _iso)
        return c

    def element(self, etype: str, msg: dict[int, object], **values) -> None:
        """Append one plain node, way or relation from its ``_message``:
        id, type, tags and Info, plus the kind's own ``values``."""
        eid, keys, vals = msg.get(1, 0), msg.get(2, []), msg.get(3, [])
        if len(keys) != len(vals):
            raise ValueError(
                f"PBF {etype} {eid}: {len(keys)} tag keys, {len(vals)} values"
            )
        tags = [
            {"k": k, "v": v}
            for k, v in zip(self.text(keys, "key"), self.text(vals, "value"))
        ]
        for field, _, val in _fields(msg.get(4, b"")):  # Info
            if field == 1:
                values["version"] = str(val)
            elif field == 2:
                values["timestamp"] = val * self.date_gran
            elif field == 3:
                values["changeset"] = str(val)
            elif field == 4:
                values["uid"] = str(val)
            elif field == 5:
                (values["user"],) = self.text([val], "user")
            elif field == 6:
                values["visible"] = "true" if val else "false"
        self.append(id=str(eid), type=etype, tags=tags or None, **values)

    def node(self, buf: bytes) -> None:
        msg = _message(buf, signed=(1, 8, 9))
        self.element("node", msg,
                     lat=self.lat_off + self.gran * msg.get(8, 0),
                     lon=self.lon_off + self.gran * msg.get(9, 0))

    def way(self, buf: bytes) -> None:
        msg = _message(buf, signed=(8,))
        # no refs is a null list, as the XML route reads a childless way
        self.element("way", msg, nds=[
            {"ref": str(r)} for r in accumulate(msg.get(8, []))
        ] or None)

    def relation(self, buf: bytes) -> None:
        msg = _message(buf, signed=(9,))
        rid, roles = msg.get(1, 0), msg.get(8, [])
        memids, types = msg.get(9, []), msg.get(10, [])
        if not len(roles) == len(memids) == len(types):
            raise ValueError(
                f"PBF relation {rid}: {len(roles)} roles, {len(memids)} "
                f"member ids, {len(types)} member types"
            )
        unknown = sorted(set(types) - _MEMBER_TYPES.keys())
        if unknown:
            raise ValueError(
                f"PBF relation {rid}: unknown member type {unknown[0]}"
            )
        members = [
            {"mtype": _MEMBER_TYPES[t], "ref": str(m), "role": r}
            for t, m, r in zip(types, accumulate(memids),
                               self.text(roles, "role"))
        ]
        self.element("relation", msg, members=members or None)

    def dense(self, buf: bytes) -> None:
        """Vectorized dense-node decode: packed varints → numpy arrays,
        delta chains → cumsum, each column extended once for the group.
        Every array must hold one value per id; a DenseInfo array that
        is absent leaves its column null."""
        import numpy as np

        empty = np.empty(0, dtype=np.int64)
        ids = lats = lons = keys_vals = empty
        info: dict[str, object] = {}
        for field, _, val in _fields(buf):
            if field == 1:
                ids = _packed_varints_np(val, signed=True)
            elif field == 5:
                for f2, _, v2 in _fields(val):
                    if f2 in _DENSE_INFO:
                        info[_DENSE_INFO[f2]] = _packed_varints_np(
                            v2, signed=1 < f2 < 6)
            elif field == 8:
                lats = _packed_varints_np(val, signed=True)
            elif field == 9:
                lons = _packed_varints_np(val, signed=True)
            elif field == 10:
                keys_vals = _packed_varints_np(val)

        n = int(ids.size)
        info = {k: v for k, v in info.items() if v.size}
        for name, arr in {"lat": lats, "lon": lons, **info}.items():
            if arr.size != n:
                raise ValueError(
                    f"PBF dense nodes: {n} ids but {arr.size} {name} values"
                )

        def strs(name: str, delta: bool = True) -> list | None:
            if name not in info:
                return None
            vals = np.cumsum(info[name]) if delta else info[name]
            return vals.astype("U24").tolist()

        ts = info.get("timestamp")
        usid = info.get("user")
        visible = info.get("visible")
        self.extend(
            n,
            id=np.cumsum(ids).astype("U24").tolist(),
            type=["node"] * n,
            lat=(self.lat_off + self.gran * np.cumsum(lats)).tolist(),
            lon=(self.lon_off + self.gran * np.cumsum(lons)).tolist(),
            version=strs("version", delta=False),
            changeset=strs("changeset"),
            timestamp=None if ts is None
            else (np.cumsum(ts) * self.date_gran).tolist(),
            user=None if usid is None
            else self.text(np.cumsum(usid).tolist(), "user"),
            uid=strs("uid"),
            visible=None if visible is None
            else np.where(visible != 0, "true", "false").tolist(),
            tags=self.dense_tags(keys_vals, n),
        )

    def dense_tags(self, keys_vals, n: int) -> list:
        """Split the interleaved keys_vals on their 0 sentinels into one
        tag list (or None) per node. Lenient encoders may omit the final
        sentinel; a segment more than there are nodes raises."""
        import numpy as np

        tags: list = [None] * n
        words = self.text(keys_vals.tolist(), "tag")
        ends = np.flatnonzero(keys_vals == 0).tolist()
        if words and (not ends or ends[-1] != len(words) - 1):
            ends.append(len(words))
        if len(ends) > n:
            raise ValueError(
                f"PBF dense nodes: {len(ends)} tag segments for {n} nodes"
            )
        start = 0
        for i, end in enumerate(ends):
            if end > start:
                seg = words[start:end]
                if len(seg) % 2:
                    raise ValueError("PBF dense nodes: a tag key has no value")
                tags[i] = [{"k": k, "v": v} for k, v in zip(seg[::2], seg[1::2])]
            start = end + 1
        return tags


def decode_block(raw: bytes) -> dict[str, list]:
    """One PrimitiveBlock → its elements as ``{column: values}`` in
    ``RAW_SCHEMA`` order, the one decode behind ``decode_pbf_bytes`` and
    ``read_pbf``. Malformed content (an array shorter than
    its ids, an unknown member type, a string index outside the table, a
    ChangeSet group) raises ``ValueError``."""
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
    block = _Block(strings, gran, lat_off, lon_off, date_gran)
    for g in groups:
        for field, _, val in _fields(g):
            if field == 1:
                block.node(val)
            elif field == 2:
                block.dense(val)
            elif field == 3:
                block.way(val)
            elif field == 4:
                block.relation(val)
            elif field == 5:
                raise ValueError("PBF ChangeSet groups are not supported")
    return block.columns()


def decode_pbf_bytes(data: bytes) -> list[dict]:
    """Every element of a whole PBF file, one dict per element."""
    out: list[dict] = []
    for off, ln, btype in iter_blobs(io.BytesIO(data)):
        if btype == "OSMData":
            cols = decode_block(decode_blob(data[off:off + ln]))
            out += [dict(zip(cols, row)) for row in zip(*cols.values())]
    return out


# --- Spark read -------------------------------------------------------------


def plan_tasks(sizes: list[int], n: int) -> list[tuple[int, int]]:
    """The ``(start, stop)`` blob ranges of ``n`` tasks of consecutive
    blobs, given each blob's compressed size in file order (``1 <= n <=
    len(sizes)``). Every task holds ``lo`` to ``lo + w`` bytes, ``w`` the
    largest blob, for the smallest ``lo`` at which ``n`` such tasks reach
    the last blob: no task is empty, and the largest exceeds the smallest
    by at most one blob."""
    if not n:
        return []
    weights = [max(s, 1) for s in sizes]
    cum = list(accumulate(weights, initial=0))
    last, w = len(weights), max(weights)

    def furthest(lo: int) -> list[int]:
        # [k]: the furthest blob boundary k tasks of at most lo + w reach
        ends = [0]
        for _ in range(n):
            ends.append(bisect_right(cum, cum[ends[-1]] + lo + w) - 1)
        return ends

    lo, hi = 1, cum[-1]
    while lo < hi:
        mid = (lo + hi) // 2
        if furthest(mid)[-1] == last:
            hi = mid
        else:
            lo = mid + 1
    # Walk back from the last blob. Boundaries are at most w apart, so
    # every boundary up to far[k] that k tasks of lo..lo+w can reach at
    # all is one they end at, and some such boundary lies lo..lo+w back.
    far = furthest(lo)
    cuts = [last]
    for k in range(n - 1, 0, -1):
        cuts.append(min(far[k], bisect_right(cum, cum[cuts[-1]] - lo) - 1))
    cuts.append(0)
    cuts.reverse()
    return list(zip(cuts, cuts[1:]))


def read_pbf(spark: SparkSession, files: list[str]) -> DataFrame:
    """Every element of ``files`` (local ``.pbf`` paths) in
    ``RAW_SCHEMA``. The driver walks each file's framing and packs the
    OSMData blobs of all files, in order, into one task per core, or one
    per ``spark.sql.files.maxPartitionBytes`` of compressed bytes if
    that gives more, but never more tasks than blobs (``plan_tasks``).
    Task *i* of one ``mapInArrow`` decodes its blobs and yields one
    Arrow batch per blob. Framing that does not tile a file raises here,
    before any job runs; a bad blob payload fails the action that
    decodes it."""
    blobs: list[tuple[str, int, int]] = []
    for path in files:
        with open(path, "rb") as f:
            blobs += [(path, off, ln) for off, ln, btype in iter_blobs(f)
                      if btype == "OSMData"]
    sizes = [ln for _, _, ln in blobs]
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n = min(len(blobs), max(spark.sparkContext.defaultParallelism,
                            -(-sum(sizes) // split)))
    tasks = [blobs[a:b] for a, b in plan_tasks(sizes, n)]

    schema = to_arrow_schema(RAW_SCHEMA)

    def decode(batches):
        import pyarrow as pa

        for batch in batches:
            for i in batch.column("id").to_pylist():
                for path, run in groupby(tasks[i], key=itemgetter(0)):
                    with open(path, "rb") as f:
                        for _, off, ln in run:
                            f.seek(off)
                            cols = decode_block(decode_blob(f.read(ln)))
                            if cols["id"]:
                                yield pa.RecordBatch.from_pydict(
                                    cols, schema=schema)

    return spark.range(0, n, 1, n).mapInArrow(decode, RAW_SCHEMA)
