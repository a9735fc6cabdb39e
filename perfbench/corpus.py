"""Seeded synthetic OSM corpus and its goldens.

One element stream, drawn from ``random.Random(seed)``, is written both
as sharded OSM XML and as one ``.osm.pbf`` file, so the two ingest
routes see the same logical elements. The goldens are computed here in
plain Python from the stream, with the reference's audit and cleaning
rules re-implemented independently of the engine, and cover every audit
and every reference query that ``wrangle_maps`` returns.

Every result is compared through :func:`fingerprint`, an
order-insensitive digest of the collected rows.
"""

from __future__ import annotations

import calendar
import hashlib
import json
import os
import random
import re
import struct
import zlib
from collections import Counter, defaultdict
from xml.sax.saxutils import escape

# Raw values as mappers type them; cleaning normalises the street type,
# lifts leading house numbers and maps city spellings.
STREETS = (
    "Jessore road", "Park st", "MG Rd.", "Sarat Bose Avenue",
    "Gariahat Sarani", "24/j, shyamsundar pally", "Dum Dum raod",
    "41, Jawaharlal Nehru Road", "Lake View ave", "Camac Street",
    "12 Rash Behari Avenue", "Sector V", "Hazra Rd", "Ballygunge Circular",
)
CITIES = (
    "kolkata", "Kolkata", "saltlake", "Salt Lake", "Bamangachi",
    "dum dum cantt", "Howrah", "kolkata city",
)
SHOPS = ("supermarket", "convenience", "hairdresser", "bakery", "electronics",
         "clothes", "mobile_phone")
HIGHWAYS = ("service", "residential", "tertiary", "unclassified", "secondary",
            "primary", "footway")
AMENITIES = ("cafe", "restaurant", "hospital", "school", "college", "bank")
# Keys outside the shaped document fields, one per key class of the audit.
EXTRA_KEYS = (("name", "x"), ("name:en", "x"), ("FIXME", "check"),
              ("note here", "x"), ("addr:street:name", "x"))

# --- reference cleaning rules, re-implemented for the goldens --------------

_EXPECTED_TYPES = frozenset((
    "Avenue", "Boulevard", "Connector", "Commons", "Court", "Drive",
    "Parkway", "Place", "Lane", "Road", "Row", "Sarani", "Square", "Street",
    "Trail",
))
_STREET_MAP = {
    "street": "Street", "st": "Street", "raod": "Road", "road": "Road",
    "rd": "Road", "avenue": "Avenue", "ave": "Avenue",
    "boulevard": "Boulevard", "blvd": "Boulevard", "drive": "Drive",
    "dr": "Drive", "circle": "Circle", "cir": "Circle", "court": "Court",
    "ct": "Court", "pally": "Pally", "place": "Place", "pl": "Place",
    "potty": "Potty", "square": "Square", "sqr": "Square", "lane": "Lane",
    "ln": "Lane",
}
_CITY_MAP = {
    "kolkata": "Kolkata", "saltlake": "Salt Lake (Bidhannagar)",
    "salt lake": "Salt Lake (Bidhannagar)",
    "dum dum cantt": "Dum Dum Cantonment, Kolkata",
    "bamangachi": "Bamangachi",
}
_TYPE_RE = re.compile(r"\b\S+\.?$", re.IGNORECASE)
_HOUSENUM_RE = re.compile(r"^\s*\d+/?\d*[a-zA-Z]?,?[^a-zA-Z]*")
_PROBLEM_RE = re.compile(r"""[=+/&<>;'"?%#$@,. \t\r\n]""")
_LOWER_RE = re.compile(r"^([a-z]|_)*$")
_LOWER_COLON_RE = re.compile(r"^([a-z]|_)*:([a-z]|_)*$")


def street_type(street: str) -> str:
    m = _TYPE_RE.search(street)
    return m.group(0) if m else ""


def clean_street(street: str) -> str:
    token = street_type(street)
    canonical = _STREET_MAP.get(token.lower().removesuffix("."))
    if token and canonical:
        street = street[: len(street) - len(token)] + canonical
    m = _HOUSENUM_RE.match(street)
    return street[m.end():] if m and m.group(0) else street


def clean_city(city: str) -> str:
    low = city.lower()
    return _CITY_MAP.get(low) or _CITY_MAP.get(low.split(" ", 1)[0]) or city


def key_class(key: str) -> str:
    if _PROBLEM_RE.search(key):
        return "problemchars"
    if _LOWER_COLON_RE.search(key):
        return "lower_colon"
    if _LOWER_RE.search(key):
        return "lower"
    return "other"


def _postcode(rng: random.Random) -> tuple[str, str]:
    r = rng.random()
    if r < 0.6:
        return "addr:postcode", f"7000{rng.randrange(10, 99)}"
    if r < 0.8:
        return "addr:postcode", f"700 0{rng.randrange(10, 99)}"
    if r < 0.9:
        return "addr:postal_code", f"7001{rng.randrange(10, 99)}"
    return "addr:postcode", "Kolkata"


# --- element stream ---------------------------------------------------------


def element_stream(seed: int, n_nodes: int, n_ways: int) -> tuple[list, list]:
    """Nodes and ways as plain dicts; the same seed gives the same stream."""
    rng = random.Random(seed)
    users = [f"user_{i}" for i in range(rng.randrange(150, 300))]
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(users))]
    node_users = rng.choices(range(len(users)), weights, k=n_nodes)
    nodes = []
    for i in range(n_nodes):
        tags: list[tuple[str, str]] = []
        r = rng.random()
        if r < 0.03:
            tags.append(("shop", rng.choice(SHOPS)))
        elif r < 0.06:
            tags.append(("amenity", rng.choice(AMENITIES)))
        if r < 0.09:
            tags.append(("addr:street", rng.choice(STREETS)))
            tags.append(("addr:city", rng.choice(CITIES)))
            tags.append(_postcode(rng))
        if rng.random() < 0.02:
            tags.append(rng.choice(EXTRA_KEYS))
        u = node_users[i]
        nodes.append(dict(
            id=i + 1, user=users[u], uid=u,
            lat=round(22.4 + rng.random() * 0.4, 7),
            lon=round(88.2 + rng.random() * 0.4, 7),
            changeset=rng.randrange(1, 10**7), month=rng.randrange(1, 10),
            tags=tags,
        ))
    ways = []
    for j in range(n_ways):
        u = rng.choices(range(len(users)), weights)[0]
        tags = []
        if rng.random() < 0.5:
            tags.append(("highway", rng.choice(HIGHWAYS)))
        if rng.random() < 0.05:
            tags.append(("addr:street", rng.choice(STREETS)))
        if rng.random() < 0.02:
            tags.append(rng.choice(EXTRA_KEYS))
        ways.append(dict(
            id=n_nodes + j + 1, user=users[u], uid=u,
            changeset=rng.randrange(1, 10**7), month=rng.randrange(1, 10),
            refs=[rng.randrange(1, n_nodes + 1)
                  for _ in range(rng.randrange(2, 9))],
            tags=tags,
        ))
    return nodes, ways


# --- goldens ----------------------------------------------------------------


def fingerprint(rows) -> str:
    """Order-insensitive digest of result rows (dicts or Spark Rows)."""
    lines = sorted(json.dumps(r.asDict(True) if hasattr(r, "asDict") else r,
                              sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _street_audit(streets) -> list[dict]:
    groups: dict[str, set] = defaultdict(set)
    counts: Counter = Counter()
    for s in streets:
        stype = street_type(s) or "UNKNOWN"
        if stype not in _EXPECTED_TYPES:
            groups[stype].add(s)
            counts[stype] += 1
    return [dict(stype=k, streets=sorted(v), cnt=counts[k])
            for k, v in groups.items()]


def _topk(counter: Counter, col: str, k: int = 10) -> list[dict]:
    top = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [{col: v, "cnt": c} for v, c in top]


def golden_rows(nodes: list, ways: list) -> dict[str, list]:
    """Expected rows of every audit and query ``wrangle_maps`` returns."""
    elems = nodes + ways
    all_tags = [(k, v) for e in elems for k, v in e["tags"]]
    keys = Counter(key_class(k) for k, _ in all_tags)
    streets = [v for k, v in all_tags if k == "addr:street"]
    cities = [v for k, v in all_tags if k == "addr:city"]

    buckets: dict[str, set] = defaultdict(set)
    valid: dict[str, bool] = defaultdict(bool)
    for k, v in all_tags:
        if k.startswith("addr:post") and k.endswith("code"):
            m = re.search(r"\d+", v)
            digits = m.group(0) if m else ""
            bucket = f"{k}{len(digits)}"
            buckets[bucket].add(digits or v)
            valid[bucket] |= len(digits) == 6

    def first(e, key):
        return next((v for k, v in e["tags"] if k == key), None)

    amenities = Counter(first(e, "amenity") for e in elems)
    return {
        "audit.tags": [{"type": "node", "cnt": len(nodes)},
                       {"type": "way", "cnt": len(ways)}],
        "audit.keys": [{c: keys[c] for c in
                        ("lower", "lower_colon", "problemchars", "other")}],
        "audit.users": [{"user": u, "cnt": c} for u, c in
                        Counter(e["user"] for e in elems).items()],
        "audit.street_types": _street_audit(streets),
        "audit.city_names": [{"city": c} for c in set(cities)],
        "audit.postcodes": [dict(bucket=b, codes=sorted(v), any_valid=valid[b])
                            for b, v in buckets.items()],
        "audit.street_types_after_clean":
            _street_audit(clean_street(s) for s in streets),
        "audit.city_names_after_clean":
            [{"city": c} for c in {clean_city(c) for c in cities}],
        "query.unique_users": [{"cnt": len({e["user"] for e in elems})}],
        "query.type_counts": [{"type": "node", "cnt": len(nodes)},
                              {"type": "way", "cnt": len(ways)}],
        "query.amenity_counts": [{"amenity": a, "cnt": c}
                                 for a, c in amenities.items()],
        "query.top_shops": _topk(
            Counter(s for s in (first(n, "shop") for n in nodes) if s), "shop"),
        "query.top_highways": _topk(
            Counter(h for h in (first(w, "highway") for w in ways) if h),
            "highway"),
    }


def goldens(nodes: list, ways: list) -> dict[str, str]:
    return {k: fingerprint(v) for k, v in golden_rows(nodes, ways).items()}


# --- writers ----------------------------------------------------------------


def _attr(v) -> str:
    return escape(str(v), {'"': "&quot;"})


def _xml_element(e: dict, kind: str) -> str:
    head = (f'<{kind} id="{e["id"]}"'
            + (f' lat="{e["lat"]:.7f}" lon="{e["lon"]:.7f}"'
               if kind == "node" else "")
            + f' user="{_attr(e["user"])}" uid="{e["uid"]}" version="1"'
            f' changeset="{e["changeset"]}"'
            f' timestamp="2014-0{e["month"]}-01T00:00:00Z">')
    body = [f'<nd ref="{r}"/>' for r in e.get("refs", ())]
    body += [f'<tag k="{_attr(k)}" v="{_attr(v)}"/>' for k, v in e["tags"]]
    return head + "".join(body) + f"</{kind}>\n"


def write_xml(directory: str, nodes: list, ways: list, shards: int) -> list[str]:
    """Shard the stream round-robin into ``shards`` XML files."""
    paths = []
    for s in range(shards):
        path = os.path.join(directory, f"part_{s:02d}.osm")
        with open(path, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm>\n')
            f.writelines(_xml_element(n, "node") for n in nodes[s::shards])
            f.writelines(_xml_element(w, "way") for w in ways[s::shards])
            f.write("</osm>\n")
        paths.append(path)
    return paths


def _varint(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _zz(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _ld(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _vi(field: int, n: int) -> bytes:
    return _varint(field << 3) + _varint(n)


def _packed(field: int, xs, signed: bool = False, delta: bool = False) -> bytes:
    prev, body = 0, bytearray()
    for x in xs:
        d = x - prev if delta else x
        prev = x
        body += _varint(_zz(d) if signed else d)
    return _ld(field, bytes(body))


def _blob(kind: str, raw: bytes) -> bytes:
    body = _vi(2, len(raw)) + _ld(3, zlib.compress(raw, 6))
    header = _ld(1, kind.encode()) + _vi(3, len(body))
    return struct.pack(">I", len(header)) + header + body


def _ts(e: dict) -> int:
    return calendar.timegm((2014, e["month"], 1, 0, 0, 0))


def _primitive_block(nodes: list, ways: list) -> bytes:
    strings: dict[str, int] = {"": 0}

    def sid(s: str) -> int:
        return strings.setdefault(s, len(strings))

    groups = b""
    if nodes:
        kv: list[int] = []
        for n in nodes:
            for k, v in n["tags"]:
                kv += [sid(k), sid(v)]
            kv.append(0)
        info = (_packed(1, [1] * len(nodes))
                + _packed(2, [_ts(n) for n in nodes], True, True)
                + _packed(3, [n["changeset"] for n in nodes], True, True)
                + _packed(4, [n["uid"] for n in nodes], True, True)
                + _packed(5, [sid(n["user"]) for n in nodes], True, True))
        dense = (_packed(1, [n["id"] for n in nodes], True, True)
                 + _ld(5, info)
                 + _packed(8, [round(n["lat"] * 1e7) for n in nodes], True, True)
                 + _packed(9, [round(n["lon"] * 1e7) for n in nodes], True, True)
                 + _packed(10, kv))
        groups += _ld(2, _ld(2, dense))
    if ways:
        msgs = b""
        for w in ways:
            info = (_vi(1, 1) + _vi(2, _ts(w)) + _vi(3, w["changeset"])
                    + _vi(4, w["uid"]) + _vi(5, sid(w["user"])))
            msgs += _ld(3, _vi(1, w["id"])
                        + _packed(2, [sid(k) for k, _ in w["tags"]])
                        + _packed(3, [sid(v) for _, v in w["tags"]])
                        + _ld(4, info)
                        + _packed(8, w["refs"], True, True))
        groups += _ld(2, msgs)
    table = b"".join(_ld(1, s.encode()) for s in strings)
    return _ld(1, table) + groups


def write_pbf(path: str, nodes: list, ways: list, per_blob: int) -> None:
    """One ``.osm.pbf`` of many OSMData blobs, ``per_blob`` elements each."""
    with open(path, "wb") as f:
        f.write(_blob("OSMHeader", _ld(4, b"DenseNodes")))
        for i in range(0, len(nodes), per_blob):
            f.write(_blob("OSMData", _primitive_block(nodes[i:i + per_blob], [])))
        for i in range(0, len(ways), per_blob):
            f.write(_blob("OSMData", _primitive_block([], ways[i:i + per_blob])))


def build(directory: str, seed: int, n_nodes: int, n_ways: int, *,
          shards: int = 0, per_blob: int = 0) -> dict:
    """Write the corpus once per (seed, size, layout); return its manifest.

    ``shards`` > 0 writes sharded XML, ``per_blob`` > 0 one PBF file. The
    manifest holds the input path or glob, input bytes, element count and
    goldens."""
    os.makedirs(directory, exist_ok=True)
    manifest_path = os.path.join(directory, "manifest.json")
    if not os.path.exists(manifest_path):
        nodes, ways = element_stream(seed, n_nodes, n_ways)
        if shards:
            paths = write_xml(directory, nodes, ways, shards)
            source = "part_*.osm"
        else:
            source = "corpus.osm.pbf"
            write_pbf(os.path.join(directory, source), nodes, ways, per_blob)
            paths = [os.path.join(directory, source)]
        manifest = {
            "source": source,
            "input_bytes": sum(os.path.getsize(p) for p in paths),
            "elements": len(nodes) + len(ways),
            "goldens": goldens(nodes, ways),
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, sort_keys=True)
        os.replace(tmp, manifest_path)
    with open(manifest_path) as f:
        manifest = json.load(f)
    manifest["source"] = os.path.join(directory, manifest["source"])
    return manifest
