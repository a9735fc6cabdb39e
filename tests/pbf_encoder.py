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


def _visible(el: dict) -> bytes:
    """Info field 6, written only for an element that sets ``visible``."""
    return _vi(6, int(el["visible"])) if "visible" in el else b""


def _info(el: dict, st: StringTable) -> bytes:
    return (
        _vi(1, el.get("version", 1))
        + _vi(2, el.get("timestamp_ms", 0) // 1000)
        + _vi(3, el.get("changeset", 0))
        + _vi(4, el.get("uid", 0))
        + _vi(5, st.add(el.get("user", "")))
        + _visible(el)
    )


def _nanodeg(deg: float) -> int:
    return int(round(deg / 1e-9 / 100))


def dense_nodes(ids, lats, lons, keys_vals=(), info: dict | None = None) -> bytes:
    """One DenseNodes message from raw arrays (un-delta'd; lats/lons in
    granularity units; ``info`` maps DenseInfo field number -> values,
    zigzag delta-coded here for fields 2-5; 1 (version) and 6 (visible,
    0/1) are written as they are). Arrays may disagree in length, so
    malformed blocks can be built too."""
    body = b""
    if info:
        body = b"".join(
            _packed(f, xs if f in (1, 6) else list(_delta(xs)),
                    signed=1 < f < 6)
            for f, xs in sorted(info.items())
        )
    return (
        _packed(1, list(_delta(ids)), signed=True)
        + (_ld(5, body) if info else b"")
        + _packed(8, list(_delta(lats)), signed=True)
        + _packed(9, list(_delta(lons)), signed=True)
        + _packed(10, list(keys_vals))
    )


def relation_msg(rid: int, roles, memids, types, keys=(), vals=(),
                 info: bytes = b"") -> bytes:
    """One Relation message from raw string-table indexes and member
    type codes (not checked, so malformed relations can be built)."""
    return (
        _vi(1, rid)
        + _packed(2, list(keys))
        + _packed(3, list(vals))
        + (_ld(4, info) if info else b"")
        + _packed(8, list(roles))
        + _packed(9, list(_delta(memids)), signed=True)
        + _packed(10, list(types))
    )


def group(field: int, *msgs: bytes) -> bytes:
    """A PrimitiveGroup payload: ``msgs`` under one field (1 Node,
    2 DenseNodes, 3 Way, 4 Relation, 5 ChangeSet)."""
    return b"".join(_ld(field, m) for m in msgs)


def primitive_block(strings, groups) -> bytes:
    """PrimitiveBlock bytes: a string table and PrimitiveGroup payloads
    (granularity/date_granularity left at their defaults, 100 and 1000)."""
    table = b"".join(_ld(1, s.encode()) for s in strings)
    return _ld(1, table) + b"".join(_ld(2, g) for g in groups)


def osm_pbf(*blocks: bytes, data_field: int = 3) -> bytes:
    """An OSMHeader blob, then one OSMData blob per PrimitiveBlock."""

    def blob(btype: str, raw: bytes, field: int = 3) -> bytes:
        blob_msg = _vi(2, len(raw)) + _ld(field, COMPRESSORS[field](raw))
        header = _ld(1, btype.encode()) + _vi(3, len(blob_msg))
        return struct.pack(">I", len(header)) + header + blob_msg

    header_block = _ld(4, b"DenseNodes")  # required_features
    return blob("OSMHeader", header_block) + b"".join(
        blob("OSMData", b, data_field) for b in blocks
    )


def encode_pbf(nodes=(), ways=(), relations=(), data_field: int = 3,
               dense: bool = True) -> bytes:
    """nodes: [{id, lat, lon, user, uid, version, changeset, timestamp_ms,
    tags: {k: v}}]; ways: [{id, refs: [...], tags, ...info}];
    relations: [{id, members: [(type, ref, role)], tags, ...info}]; any
    element may set ``visible`` (a bool), written only where set.
    ``data_field`` picks the OSMData Blob payload field (``COMPRESSORS``);
    ``dense=False`` writes the nodes as plain Node messages."""
    st = StringTable()
    groups = []

    if nodes and dense:
        kv = []
        for n in nodes:
            for k, v in n.get("tags", {}).items():
                kv.extend([st.add(k), st.add(v)])
            kv.append(0)
        info = {
            1: [n.get("version", 1) for n in nodes],
            2: [n.get("timestamp_ms", 0) // 1000 for n in nodes],
            3: [n.get("changeset", 0) for n in nodes],
            4: [n.get("uid", 0) for n in nodes],
            5: [st.add(n.get("user", "")) for n in nodes],
        }
        if any("visible" in n for n in nodes):
            info[6] = [int(n.get("visible", True)) for n in nodes]
        groups.append(group(2, dense_nodes(
            [n["id"] for n in nodes],
            [_nanodeg(n["lat"]) for n in nodes],
            [_nanodeg(n["lon"]) for n in nodes],
            kv, info,
        )))
    elif nodes:
        groups.append(group(1, *(
            _vi(1, _zz(n["id"]))
            + _packed(2, [st.add(k) for k in n.get("tags", {})])
            + _packed(3, [st.add(v) for v in n.get("tags", {}).values()])
            + _ld(4, _info(n, st))
            + _vi(8, _zz(_nanodeg(n["lat"])))
            + _vi(9, _zz(_nanodeg(n["lon"])))
            for n in nodes
        )))

    if ways:
        groups.append(group(3, *(
            _vi(1, w["id"])
            + _packed(2, [st.add(k) for k in w.get("tags", {})])
            + _packed(3, [st.add(v) for v in w.get("tags", {}).values()])
            + _ld(4, _info(w, st))
            + _packed(8, list(_delta(w["refs"])), signed=True)
            for w in ways
        )))

    rel_msgs = []
    _TYPE = {"node": 0, "way": 1, "relation": 2}
    for r in relations:
        keys = [st.add(k) for k in r.get("tags", {})]
        vals = [st.add(v) for v in r.get("tags", {}).values()]
        info = (_vi(1, r.get("version", 1)) + _vi(5, st.add(r.get("user", "")))
                + _visible(r))
        members = r.get("members", [])
        rel_msgs.append(relation_msg(
            r["id"],
            [st.add(role) for _, _, role in members],
            [ref for _, ref, _ in members],
            [_TYPE[t] for t, _, _ in members],
            keys, vals, info,
        ))
    if rel_msgs:
        groups.append(group(4, *rel_msgs))

    return osm_pbf(primitive_block(st.strings, groups), data_field=data_field)
