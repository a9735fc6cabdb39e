"""Test-fixture OSM PBF *encoder* (spec-compliant minimal writer).

Lives in tests/ on purpose: the engine only needs to READ PBF; this
encoder exists to produce round-trip fixtures without external protobuf
tooling. Implements the same wire format the decoder reads: varint,
zigzag, packed + delta coding, string table, zlib blobs."""

from __future__ import annotations

import lzma
import struct
import zlib

# Blob payload field -> its encoder: raw, zlib_data, lzma_data
COMPRESSORS = {1: bytes, 3: zlib.compress, 4: lzma.compress}


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zz(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _key(field: int, wt: int) -> bytes:
    return _varint((field << 3) | wt)


def _ld(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + _varint(len(payload)) + payload


def _vi(field: int, n: int) -> bytes:
    return _key(field, 0) + _varint(n)


def _packed(field: int, xs, signed=False) -> bytes:
    body = b"".join(_varint(_zz(x) if signed else x) for x in xs)
    return _ld(field, body)


def _delta(xs):
    prev = 0
    for x in xs:
        yield x - prev
        prev = x


class StringTable:
    def __init__(self):
        self.strings = [""]
        self.index = {"": 0}

    def add(self, s: str) -> int:
        if s not in self.index:
            self.index[s] = len(self.strings)
            self.strings.append(s)
        return self.index[s]

    def encode(self) -> bytes:
        return b"".join(_ld(1, s.encode()) for s in self.strings)


def encode_pbf(nodes=(), ways=(), relations=(), data_field: int = 3) -> bytes:
    """nodes: [{id, lat, lon, user, uid, version, changeset, timestamp_ms,
    tags: {k: v}}]; ways: [{id, refs: [...], tags, ...info}];
    relations: [{id, members: [(type, ref, role)], tags, ...info}].
    ``data_field`` picks the OSMData Blob payload field (``COMPRESSORS``)."""
    st = StringTable()
    groups = []

    if nodes:
        ids = [n["id"] for n in nodes]
        lats = [int(round(n["lat"] / 1e-9 / 100)) for n in nodes]
        lons = [int(round(n["lon"] / 1e-9 / 100)) for n in nodes]
        kv = []
        for n in nodes:
            for k, v in n.get("tags", {}).items():
                kv.extend([st.add(k), st.add(v)])
            kv.append(0)
        info = (
            _packed(1, [n.get("version", 1) for n in nodes])
            + _packed(2, list(_delta([n.get("timestamp_ms", 0) // 1000 for n in nodes])), signed=True)
            + _packed(3, list(_delta([n.get("changeset", 0) for n in nodes])), signed=True)
            + _packed(4, list(_delta([n.get("uid", 0) for n in nodes])), signed=True)
            + _packed(5, list(_delta([st.add(n.get("user", "")) for n in nodes])), signed=True)
        )
        dense = (
            _packed(1, list(_delta(ids)), signed=True)
            + _ld(5, info)
            + _packed(8, list(_delta(lats)), signed=True)
            + _packed(9, list(_delta(lons)), signed=True)
            + _packed(10, kv)
        )
        groups.append(_ld(2, _ld(2, dense)))

    way_msgs = b""
    for w in ways:
        keys = [st.add(k) for k in w.get("tags", {})]
        vals = [st.add(v) for v in w.get("tags", {}).values()]
        info = (
            _vi(1, w.get("version", 1))
            + _vi(2, w.get("timestamp_ms", 0) // 1000)
            + _vi(3, w.get("changeset", 0))
            + _vi(4, w.get("uid", 0))
            + _vi(5, st.add(w.get("user", "")))
        )
        msg = (
            _vi(1, w["id"])
            + _packed(2, keys)
            + _packed(3, vals)
            + _ld(4, info)
            + _packed(8, list(_delta(w["refs"])), signed=True)
        )
        way_msgs += _ld(3, msg)
    if way_msgs:
        groups.append(_ld(2, way_msgs))

    rel_msgs = b""
    _TYPE = {"node": 0, "way": 1, "relation": 2}
    for r in relations:
        keys = [st.add(k) for k in r.get("tags", {})]
        vals = [st.add(v) for v in r.get("tags", {}).values()]
        info = _vi(1, r.get("version", 1)) + _vi(5, st.add(r.get("user", "")))
        roles = [st.add(role) for _, _, role in r.get("members", [])]
        memids = [ref for _, ref, _ in r.get("members", [])]
        types = [_TYPE[t] for t, _, _ in r.get("members", [])]
        msg = (
            _vi(1, r["id"])
            + _packed(2, keys)
            + _packed(3, vals)
            + _ld(4, info)
            + _packed(8, roles)
            + _packed(9, list(_delta(memids)), signed=True)
            + _packed(10, types)
        )
        rel_msgs += _ld(4, msg)
    if rel_msgs:
        groups.append(_ld(2, rel_msgs))

    block = _ld(1, st.encode()) + b"".join(groups)
    # granularity/date_granularity defaults (100, 1000) — omitted

    def blob(btype: str, raw: bytes, field: int = 3) -> bytes:
        blob_msg = _vi(2, len(raw)) + _ld(field, COMPRESSORS[field](raw))
        header = _ld(1, btype.encode()) + _vi(3, len(blob_msg))
        return struct.pack(">I", len(header)) + header + blob_msg

    header_block = _ld(4, b"DenseNodes")  # required_features
    return blob("OSMHeader", header_block) + blob("OSMData", block, data_field)
