"""Property-based reference-fidelity tests (hypothesis): the Spark column
expressions must agree with an independent pure-Python model of the
reference semantics (intent-corrected per SURVEY.md §7) on arbitrary
inputs, not just the golden fixtures."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from data_wrangle_openstreetmaps_data_spark.functions import cleaning

# --- pure-Python models (written from the reference's spec, not its code) ---

_LOWER = re.compile(r"^([a-z]|_)*$")
_LOWER_COLON = re.compile(r"^([a-z]|_)*:([a-z]|_)*$")
_PROBLEM = re.compile(r"""[=\+/&<>;'"\?%#$@,\. \t\r\n]""")
_STYPE = re.compile(r"\b\S+\.?$", re.IGNORECASE)
_HOUSENUM = re.compile(r"^\s*\d+/?\d*[a-zA-Z]?,?[^a-zA-Z]*")


def py_key_class(k: str) -> str:
    if _PROBLEM.search(k):
        return "problemchars"
    if _LOWER_COLON.search(k):
        return "lower_colon"
    if _LOWER.search(k):
        return "lower"
    return "other"


def py_fix_street(name: str) -> tuple[str | None, str]:
    fixed = name
    m = _STYPE.search(name)
    if m:
        token = m.group()
        key = token.rstrip(".").lower()
        if key in cleaning.STREET_MAPPING:
            fixed = name[: len(name) - len(token)] + cleaning.STREET_MAPPING[key]
    housenum = None
    m = _HOUSENUM.search(fixed)
    if m:
        housenum = m.group().rstrip().rstrip(",").lstrip()
        fixed = fixed[len(m.group()):]
    return housenum, fixed


def py_fix_city(name: str) -> str:
    full = name.lower()
    if full in cleaning.CITY_MAPPING:
        return cleaning.CITY_MAPPING[full]
    first = name.lower().split(" ", 1)[0]
    if first in cleaning.CITY_MAPPING:
        return cleaning.CITY_MAPPING[first]
    return name


# printable-ish strings incl. the interesting characters
KEY_ALPHABET = st.sampled_from(
    list("abcdefgh_:XY19 .,=+/&<>;'\"?%#$@\t")
)
STREET_ALPHABET = st.sampled_from(list("abcdefgAB 123/,.xyz"))

STREET_WORDS = st.sampled_from(
    ["st", "st.", "road", "raod", "Rd.", "Ave", "pally", "Sarani", "xyz",
     "BLVD", "ln", "Street", "41,", "24/j,", "  ", "1a"]
)


@given(st.lists(st.text(alphabet=KEY_ALPHABET, min_size=0, max_size=12),
                min_size=1, max_size=30))
def test_key_class_matches_python_model(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = [
        r["c"]
        for r in df.select("k", cleaning.key_class("k").alias("c"))
        .orderBy("k").collect()
    ]
    want = [py_key_class(k) for k in sorted(keys)]
    assert got == want


@given(st.lists(
    st.lists(STREET_WORDS, min_size=1, max_size=4).map(" ".join),
    min_size=1, max_size=20,
))
def test_fix_street_matches_python_model(spark, streets):
    df = spark.createDataFrame([(s,) for s in streets], ["street"])
    hn, fixed = cleaning.fix_street_name("street")
    got = {
        r["street"]: (r["hn"], r["out"])
        for r in df.select("street", hn.alias("hn"), fixed.alias("out"))
        .collect()
    }
    for s in streets:
        assert got[s] == py_fix_street(s), repr(s)


_PCODE = re.compile(r"\d+")


def py_postcode(k: str, v: str) -> tuple[str, str, bool]:
    m = _PCODE.search(v)
    digits = m.group() if m else ""
    bucket = k + str(len(digits))
    return bucket, digits, len(digits) == 6


@given(st.lists(
    st.tuples(
        st.sampled_from(["addr:postcode", "addr:postal_code"]),
        st.text(alphabet=st.sampled_from(list("0123456789 -KolAB,")), max_size=12),
    ),
    min_size=1, max_size=25,
))
def test_postcode_audit_matches_python_model(spark, kvs):
    df = spark.createDataFrame(kvs, ["k", "v"])
    got = df.select(
        "k", "v",
        cleaning.postcode_bucket("k", "v").alias("bucket"),
        cleaning.postcode_digits("v").alias("digits"),
        cleaning.postcode_valid("v").alias("valid"),
    ).collect()
    model = {(k, v): py_postcode(k, v) for k, v in kvs}
    for r in got:
        assert (r["bucket"], r["digits"], r["valid"]) == model[(r["k"], r["v"])]


@given(st.lists(
    st.one_of(
        st.sampled_from(
            ["kolkata", "KOLKATA", "salt lake", "Salt Lake", "saltlake x",
             "dum dum cantt", "dum dum", "Bamangachi", "Paris", ""]
        ),
        st.text(alphabet=STREET_ALPHABET, max_size=10),
    ),
    min_size=1, max_size=20,
))
def test_fix_city_matches_python_model(spark, cities):
    df = spark.createDataFrame([(c,) for c in cities], ["city"])
    got = {
        r["city"]: r["out"]
        for r in df.select(
            "city", cleaning.fix_city_name("city").alias("out")
        ).collect()
    }
    for c in cities:
        assert got[c] == py_fix_city(c), repr(c)


def py_clean_address(tags: list) -> list:
    """clean_address over a tag list: every addr:street value becomes the
    fixed form of the last one, cities are mapped, and a house number
    lifted from the street replaces any addr:housenumber entry (without
    one, existing addr:housenumber entries move to the end)."""
    streets = [v for k, v in tags if k == "addr:street"]
    hn = fixed = None
    if streets and streets[-1] is not None:
        hn, fixed = py_fix_street(streets[-1])

    def fix(k, v):
        if k == "addr:street":
            return fixed
        if k == "addr:city" and v is not None:
            return py_fix_city(v)
        return v

    cleaned = [(k, fix(k, v)) for k, v in tags]
    rest = [e for e in cleaned if e[0] != "addr:housenumber"]
    if hn is not None:
        return rest + [("addr:housenumber", hn)]
    return rest + [e for e in cleaned if e[0] == "addr:housenumber"]


def py_shape_tags(tags: list) -> tuple[dict | None, dict | None]:
    """shape_element's (address, tags): problemchars keys ignored, addr:
    stripped, addr:x:y dropped, last value wins, empty maps are absent."""
    address: dict = {}
    residual: dict = {}
    for k, v in tags:
        if _PROBLEM.search(k):
            continue
        if k.startswith("addr:"):
            sub = k[len("addr:"):]
            if not _LOWER_COLON.search(sub):
                address[sub] = v
        else:
            residual[k] = v
    return address or None, residual or None


TAG_KEYS = st.one_of(
    st.sampled_from(
        ["addr:street", "addr:street", "addr:housenumber", "addr:city",
         "addr:street:name", "addr:postcode", "addr:", "addr:full name",
         "name", "name:en", "shop", "amenity", "x=y", "note here"]
    ),
    st.text(alphabet=KEY_ALPHABET, max_size=8),
)
TAG_VALUES = st.one_of(
    st.none(),
    st.lists(STREET_WORDS, min_size=1, max_size=3).map(" ".join),
    st.sampled_from(["kolkata", "Salt Lake", "saltlake x", "dum dum cantt",
                     "Bamangachi", "Paris", ""]),
    st.text(alphabet=STREET_ALPHABET, max_size=10),
)


@given(st.lists(
    st.one_of(st.none(), st.lists(st.tuples(TAG_KEYS, TAG_VALUES),
                                  max_size=8)),
    min_size=1, max_size=8,
))
def test_clean_reshape_matches_python_model(spark, tag_lists):
    """shape_elements(clean=True)'s address and tags maps equal the
    plain-Python clean_address + shape_element model."""
    from pyspark.sql import Row

    from data_wrangle_openstreetmaps_data_spark.operators.reshape import (
        shape_elements,
    )
    from data_wrangle_openstreetmaps_data_spark.sources.osm import RAW_SCHEMA
    from tests.test_reshape import _raw

    df = spark.createDataFrame(
        [_raw(id=str(i), type="node", user="u",
              tags=None if tags is None else [Row(k=k, v=v) for k, v in tags])
         for i, tags in enumerate(tag_lists)],
        RAW_SCHEMA,
    )
    got = {
        r["id"]: (r["address"], r["tags"])
        for r in shape_elements(df, clean=True).collect()
    }
    for i, tags in enumerate(tag_lists):
        want = py_shape_tags(py_clean_address(tags or []))
        assert got[str(i)] == want, tags


@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=40,
    )
)
def test_round4_is_cross_engine_deterministic(spark, xs):
    """The portable floor(x*1e4+0.5)/1e4 rounding must produce
    bit-identical doubles in Spark, DuckDB, and plain Python for the
    SAME input double — the invariant every oracled float column rests
    on."""
    import math

    import duckdb

    from data_wrangle_openstreetmaps_data_spark.functions.text import round4
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(x,) for x in xs], ["x"])
    got_spark = [
        r["r"] for r in df.select(round4(F.col("x")).alias("r"))
        .collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT floor(CAST(? AS DOUBLE) * 10000 + 0.5) / 10000", [x]
        ).fetchone()[0]
        for x in xs
    ]
    got_py = [math.floor(x * 10000 + 0.5) / 10000 for x in xs]
    assert got_spark == got_duck == got_py


@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40),
             min_size=1, max_size=60),
    st.integers(min_value=1, max_value=9),
)
def test_bottom_k_property_matches_sorted_prefix(spark, vals, k):
    """bottom_k on a single global group equals the sorted-unique prefix
    for ANY input multiset and k."""
    from data_wrangle_openstreetmaps_data_spark.operators.topk import (
        bottom_k,
    )

    df = spark.createDataFrame([(v,) for v in vals], ["v"]).distinct()
    got = sorted(
        r["v"] for r in bottom_k(df, [], "v", k, n_blocks=4).collect()
    )
    assert got == sorted(set(vals))[:k]


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.tuples(st.sampled_from(["a", "b", None]),
                  st.integers(min_value=-5, max_value=5)),
        max_size=15,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.tuples(st.sampled_from(["x", None]),
                  st.integers(min_value=-5, max_value=5)),
        max_size=15,
    ),
)
def test_merge_upsert_matches_dict_model(spark, base, changes):
    """merge_upsert == {**base, **changes}: change rows win WHOLESALE on
    key match (including legitimate NULLs), unmatched rows pass through —
    for arbitrary overlapping key sets."""
    from data_wrangle_openstreetmaps_data_spark.operators.join import (
        merge_upsert,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("s", T.StringType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )
    bdf = spark.createDataFrame(
        [(k, s, n) for k, (s, n) in base.items()], schema
    )
    cdf = spark.createDataFrame(
        [(k, s, n) for k, (s, n) in changes.items()], schema
    )
    got = {
        r["k"]: (r["s"], r["n"])
        for r in merge_upsert(bdf, cdf, "k").collect()
    }
    want = {**base, **changes}
    assert got == want


# ---------------------------------------------------------------------------
# Round-7 kernels: stdlib media codecs + event-time magnitude dispatch
# (pure-Python — no SparkSession, so example counts can be generous)
# ---------------------------------------------------------------------------

from data_wrangle_openstreetmaps_data_spark.multimodal import media


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    base=st.integers(min_value=0, max_value=150),
)
def test_bmp_codec_round_trip_property(w, h, base):
    """encode→decode over arbitrary geometry (every stride residue and
    aspect) must reproduce the closed-form channel sums exactly —
    requires base + coords < 256 so no channel wraps."""
    if base + w + h > 255 or base + (w - 1) * (h - 1) > 255 or 2 * base + w > 256:
        return
    gw, gh, sb, sg, sr = media.decode_bmp_stats(media.encode_bmp(w, h, base))
    assert (gw, gh) == (w, h)
    assert sb == sum(base + x + y for x in range(w) for y in range(h))
    assert sg == sum(2 * base + x for x in range(w) for y in range(h))
    assert sr == sum(base + x * y for x in range(w) for y in range(h))


@settings(max_examples=100, deadline=None)
@given(
    w=st.integers(min_value=2, max_value=24),
    h=st.integers(min_value=2, max_value=24),
    ow=st.integers(min_value=1, max_value=8),
    oh=st.integers(min_value=1, max_value=8),
)
def test_bmp_resize_property(w, h, ow, oh):
    """NN resize to any output geometry samples exactly
    (x*w//ow, y*h//oh) and re-encodes a decodable BMP."""
    base = 10
    if base + (w - 1) * (h - 1) > 255:  # fixture channel-range contract
        return
    small = media.resize_bmp(media.encode_bmp(w, h, base), ow, oh)
    gw, gh, sb, _, _ = media.decode_bmp_stats(small)
    pts = [(x * w // ow, y * h // oh) for x in range(ow) for y in range(oh)]
    assert (gw, gh) == (ow, oh)
    assert sb == sum(base + ix + iy for ix, iy in pts)


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=200),
    base=st.integers(min_value=0, max_value=999),
    rate=st.sampled_from([8000, 16000, 44100]),
    factor=st.integers(min_value=1, max_value=5),
)
def test_wav_codec_and_resample_property(n, base, rate, factor):
    blob = media.encode_wav(n, base, rate=rate)
    got = media.decode_wav_stats(blob)
    want = [base - 500 + 13 * i for i in range(n)]
    assert got == (n, rate, sum(want), min(want), max(want))
    half = media.resample_wav(blob, factor)
    kept = want[::factor]
    assert media.decode_wav_stats(half) == (
        len(kept), rate // factor, sum(kept), min(kept), max(kept)
    )


@settings(max_examples=300, deadline=None)
@given(
    us=st.integers(
        min_value=1_000_000_000_000_000,   # ~2001 in µs
        max_value=7_000_000_000_000_000,   # ~2191 in µs
    ),
    unit=st.sampled_from(["ns", "us", "ms", "s"]),
)
def test_event_ts_magnitude_dispatch_property(us, unit):
    """The bigint magnitude dispatch of catalog.event_ts_us must map an
    epoch in ANY of the four units back to the same µs instant (seconds
    and millis inputs quantize to their unit's precision)."""
    if unit == "ns":
        raw, expect = us * 1000, us
    elif unit == "us":
        raw, expect = us, us
    elif unit == "ms":
        raw, expect = us // 1000, us // 1000 * 1000
    else:
        raw, expect = us // 1_000_000, us // 1_000_000 * 1_000_000
    # replicate the dispatch arithmetic exactly as the Column expression
    # computes it (decimal div for nanos, integer multiplies otherwise)
    if raw >= 10**17:
        got = raw // 1000
    elif raw >= 10**14:
        got = raw
    elif raw >= 10**11:
        got = raw * 1000
    else:
        got = raw * 1_000_000
    assert got == expect, (unit, raw, got, expect)


@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(-50, 50)),
        min_size=1, max_size=12,
    ),
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(-50, 50)),
        min_size=1, max_size=12,
    ),
)
@settings(max_examples=15, deadline=None)
def test_asof_forward_is_backward_under_time_negation(spark, lrows, rrows):
    """asof_join(direction="forward") must equal the backward join run
    on NEGATED timestamps (with matched_time un-negated): the two scan
    directions are exact mirrors, including inclusive equal-time
    matches and duplicate timestamps on the left."""
    from data_wrangle_openstreetmaps_data_spark.operators import (
        join as join_ops,
    )

    # right side must be unique per (k, ts) — the operator's contract
    rdict = {(k, t): float(k * 100 + t) for k, t in rrows}
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)],
        ["k", "ts", "row_id"],
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in rdict.items()], ["k", "ts", "state"]
    )
    fwd = {
        r["row_id"]: (r["matched_time"], r["matched_state"])
        for r in join_ops.asof_join(
            left, right, by="k", direction="forward"
        ).collect()
    }
    from pyspark.sql import functions as F

    neg_l = left.withColumn("ts", -F.col("ts"))
    neg_r = right.withColumn("ts", -F.col("ts"))
    bwd = {
        r["row_id"]: (
            None if r["matched_time"] is None else -r["matched_time"],
            r["matched_state"],
        )
        for r in join_ops.asof_join(
            neg_l, neg_r, by="k", direction="backward"
        ).collect()
    }
    assert fwd == bwd


@given(st.lists(st.integers(-30, 30), min_size=1, max_size=200))
@settings(max_examples=200, deadline=None)
def test_lindley_reflection_identity(xs):
    """The clamped recursion W_t = max(0, W_{t-1} + x_t) equals the
    reflection form W_t = P_t - min(0, min_{j<=t} P_j) used by
    q_inventory_balance — the oracle mirrors the FORMULA, so the
    identity itself is pinned here against the literal recursion."""
    w, p, rmin = 0, 0, 0
    for x in xs:
        w = max(0, w + x)
        p += x
        rmin = min(rmin, p)
        assert w == p - min(0, rmin)


@given(
    st.lists(st.integers(0, 10**9), min_size=1, max_size=40),
    st.integers(1, 2000),
)
@settings(max_examples=200, deadline=None)
def test_hamilton_apportionment_quota_rule(cents, budget):
    """The largest-remainder allocation used by q_apportionment: seats
    must sum EXACTLY to the budget and every party must receive its
    quota floor or ceiling (Hamilton's method satisfies the quota rule
    by construction) — mirrored here against the literal formula."""
    total = sum(cents)
    if total == 0:
        return
    floors = [(c * budget) // total for c in cents]
    rems = [(c * budget) % total for c in cents]
    leftover = budget - sum(floors)
    order = sorted(range(len(cents)), key=lambda i: (-rems[i], i))
    seats = list(floors)
    for i in order[:leftover]:
        seats[i] += 1
    assert sum(seats) == budget
    for c, s in zip(cents, seats):
        q = c * budget / total
        assert s in (int(q // 1), int(q // 1) + 1)


@given(st.lists(st.integers(0, 1), min_size=1, max_size=300))
@settings(max_examples=200, deadline=None)
def test_runs_count_equals_one_plus_sign_changes(signs):
    """q_runs_test counts runs as 1 + Σ(sign ≠ lag(sign)); pin that
    identity against a literal group-by-consecutive scan."""
    runs = 1
    for a, b in zip(signs, signs[1:]):
        if a != b:
            runs += 1
    brute = len([1 for i, s in enumerate(signs) if i == 0 or signs[i - 1] != s])
    assert runs == brute


def test_poisson_cdf_literals_are_the_math():
    """The Poisson(1) inverse-CDF thresholds inlined into both engines'
    q_poisson_bootstrap SQL must be the true cumulative e⁻¹/k! doubles,
    strictly increasing, with the cap branch below 1e-3 tail mass."""
    import math

    from data_wrangle_openstreetmaps_data_spark.plans.queries.reporting import (
        _POIS_CDF,
    )

    acc = 0.0
    for k, t in enumerate(_POIS_CDF):
        acc += math.exp(-1.0) / math.factorial(k)
        assert t == acc
    assert all(a < b for a, b in zip(_POIS_CDF, _POIS_CDF[1:]))
    assert 1.0 - _POIS_CDF[-1] < 1e-3


def py_soundex(s: str) -> str | None:
    """Pure-python mirror of functions/text.py::soundex_code (the
    simplified no-H/W-rule variant both engines share)."""
    u = re.sub(r"[^A-Za-z]", "", s).upper()
    if not u:
        return None
    digits = "".join("01230120022455012623010202"[ord(ch) - 65] for ch in u)
    collapsed = re.sub(r"(\d)\1+", r"\1", digits)
    cleaned = collapsed[1:].replace("0", "")
    return u[0] + (cleaned[:3] + "000")[:3]


@given(st.lists(
    st.one_of(
        st.sampled_from(
            ["kolkata", "Kolkata", "saltlake", "Salt Lake", "Robert",
             "Rupert", "Ashcraft", "Tymczak", "Pfister", "a", "", "42",
             "dum dum cantt"]
        ),
        st.text(alphabet=st.sampled_from(list("abcdefgAB 123/,.xyz")),
                max_size=12),
    ),
    min_size=1, max_size=20, unique=True,
))
@settings(max_examples=50, deadline=None)
def test_soundex_matches_python_model(spark, names):
    from data_wrangle_openstreetmaps_data_spark.functions import text as tx
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {
        r["name"]: r["sdx"]
        for r in df.select(
            "name", tx.soundex_code(F.col("name")).alias("sdx")
        ).collect()
    }
    for n in names:
        assert got[n] == py_soundex(n), repr(n)


def py_geohash6(lat: float, lon: float) -> str:
    """Independent textbook geohash encoder (interval bisection, the
    canonical algorithm) — 6 characters."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
    bits, out, even = 0, [], True
    ch = 0
    for _ in range(30):
        if even:
            mid = (lon_r[0] + lon_r[1]) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_r[0] = mid
            else:
                ch = ch << 1
                lon_r[1] = mid
        else:
            mid = (lat_r[0] + lat_r[1]) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_r[0] = mid
            else:
                ch = ch << 1
                lat_r[1] = mid
        even = not even
        bits += 1
        if bits % 5 == 0:
            out.append(b32[ch & 31])
            ch = 0
    return "".join(out)


def test_geohash_sql_matches_textbook_encoder(spark):
    """The shared-SQL bit-interleave encode must agree with the
    canonical bisection algorithm on a grid of points spanning all
    quadrants (the 15-bit quantization is exactly 30 bits = 6 chars,
    so the two constructions are the same function)."""
    from pyspark.sql import functions as F

    from data_wrangle_openstreetmaps_data_spark.plans.queries.geo import (
        _geohash_sql,
    )

    pts = [
        (22.5726, 88.3639),   # Kolkata
        (0.0, 0.0),
        (-33.8688, 151.2093),  # Sydney
        (40.7128, -74.0060),   # New York
        (-54.8019, -68.3030),  # Ushuaia
        (64.1466, -21.9426),   # Reykjavik
        (89.999, 179.999),
        (-89.999, -179.999),
    ]
    stages = _geohash_sql("div")
    df = spark.createDataFrame(pts, "lat double, lon double")
    for name in ("xlon", "xlat", "code", "geohash"):
        df = df.withColumn(name, F.expr(stages[name]))
    got = {(r["lat"], r["lon"]): r["geohash"] for r in df.collect()}
    for lat, lon in pts:
        assert got[(lat, lon)] == py_geohash6(lat, lon), (lat, lon)


@given(st.lists(st.floats(min_value=-100, max_value=100,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=10))
@settings(max_examples=100, deadline=None)
def test_holt_coeffs_equal_direct_recursion(ys):
    """The unrolled dyadic weight table must reproduce the direct
    Holt recursion (alpha=beta=1/2, level=y0, trend=0) to float
    accuracy on arbitrary inputs."""
    from data_wrangle_openstreetmaps_data_spark.plans.queries.events_time import (
        _holt_coeffs,
    )

    lvl, trd = ys[0], 0.0
    for y in ys[1:]:
        new_lvl = 0.5 * y + 0.5 * (lvl + trd)
        trd = 0.5 * (new_lvl - lvl) + 0.5 * trd
        lvl = new_lvl
    direct = lvl + trd
    w = _holt_coeffs()[len(ys) - 1]
    unrolled = sum(c * y for c, y in zip(w, ys))
    assert abs(direct - unrolled) <= 1e-9 * max(1.0, abs(direct))


@given(
    st.sets(st.integers(0, 400), min_size=1, max_size=60),
    st.integers(1, 20),
)
@settings(max_examples=15, deadline=None)
def test_gaps_and_islands_invariants(spark, days, max_step):
    """The backfill planner's island construction (r10 verdict item 8):
    for ANY failed-day set and cadence, the islands must (1) partition
    the input rows, (2) be internally contiguous (every within-island
    step <= max_step), and (3) be MINIMAL (every between-island step
    > max_step — merging any two adjacent islands would violate the
    rule)."""
    from data_wrangle_openstreetmaps_data_spark.operators.reshape import (
        gaps_and_islands,
    )

    df = spark.createDataFrame([(d,) for d in days], ["d"])
    rows = sorted(
        (r["d"], r["grp"]) for r in gaps_and_islands(df, "d", max_step).collect()
    )
    assert [d for d, _ in rows] == sorted(days)  # partition: all covered
    # grp ids are 1..k and non-decreasing over ascending d
    grps = [g for _, g in rows]
    assert grps[0] == 1 and all(
        b - a in (0, 1) for a, b in zip(grps, grps[1:])
    )
    for (d1, g1), (d2, g2) in zip(rows, rows[1:]):
        if g1 == g2:
            assert d2 - d1 <= max_step  # contiguous inside an island
        else:
            assert d2 - d1 > max_step  # minimal: a merge would violate


@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)),
        min_size=1, max_size=20,
    )
)
@settings(max_examples=15, deadline=None)
def test_ttl_fold_matches_python_model(spark, parts):
    """q_ttl_retention_audit's fold (storage._ttl_fold) vs a pure-Python
    model over arbitrary (rows, expired<=rows) partition shapes: the
    droppable / partial / straddle accounting identities."""
    from data_wrangle_openstreetmaps_data_spark.plans.queries.storage import (
        _ttl_fold,
    )

    data = [
        (f"m{i:03d}", rows, min(exp, rows))
        for i, (rows, exp) in enumerate(parts)
    ]
    per = spark.createDataFrame(data, ["month", "rows", "expired"])
    got = _ttl_fold(per).collect()[0].asDict()
    droppable = sum(1 for _, r, e in data if e == r)
    partial = sum(1 for _, r, e in data if 0 < e < r)
    plive = sum(r - e for _, r, e in data if 0 < e < r)
    pexp = sum(e for _, r, e in data if 0 < e < r)
    assert got["partitions_total"] == len(data)
    assert got["partitions_droppable"] == droppable
    assert got["partitions_partial"] == partial
    assert got["rows_total"] == sum(r for _, r, _ in data)
    assert got["rows_expired"] == sum(e for _, _, e in data)
    assert got["partial_live_rows"] == plive
    assert got["partial_expired_rows"] == pexp
    if pexp:
        import math

        assert got["rewrite_amp"] == math.floor(
            plive / pexp * 10000 + 0.5
        ) / 10000
    else:
        assert got["rewrite_amp"] is None


@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)),
        min_size=1, max_size=20,
    )
)
@settings(max_examples=15, deadline=None)
def test_erasure_fold_matches_python_model(spark, parts):
    """q_gdpr_erasure_plan's fold (storage._erasure_fold) vs a pure
    model: touched-partition residency and amplification identities."""
    from data_wrangle_openstreetmaps_data_spark.plans.queries.storage import (
        _erasure_fold,
    )

    data = [
        (f"m{i:03d}", rows, min(dels, rows))
        for i, (rows, dels) in enumerate(parts)
    ]
    per = spark.createDataFrame(data, ["month", "rows", "dels"])
    got = _erasure_fold(per, "t").collect()[0].asDict()
    deleted = sum(d for _, _, d in data)
    touched = sum(1 for _, _, d in data if d > 0)
    resident = sum(r for _, r, d in data if d > 0)
    assert got["table_name"] == "t"
    assert got["rows_to_delete"] == deleted
    assert got["partitions_touched"] == touched
    assert got["partitions_total"] == len(data)
    assert got["resident_rows"] == resident
    assert resident >= deleted  # residency always covers the deletes
    if deleted:
        import math

        assert got["rewrite_amp"] == math.floor(
            resident / deleted * 10000 + 0.5
        ) / 10000
