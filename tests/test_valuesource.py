"""ValueSource function-query parser + function semantics
(solr search/ValueSourceParser.java, lucene queries/function/)."""

import math

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.functions.valuesource import parse_function_query


def _one(spark, expr_text, df=None, tables=None, **cols):
    if not cols:
        cols = {"_dummy": 1}
    d = spark.createDataFrame([tuple(cols.values())], list(cols.keys()))
    col = parse_function_query(expr_text, d if df is None else df, tables=tables)
    return d.select(col.alias("v")).collect()[0]["v"]


def test_arithmetic_tree(spark):
    assert _one(spark, "sum(2, product(3, x))", x=4) == 14.0
    assert _one(spark, "recip(x, 1, 1000, 1000)", x=0) == 1.0
    assert _one(spark, "linear(x, 2, 5)", x=10) == 25.0
    assert _one(spark, "max(x, 7)", x=3) == 7.0
    assert _one(spark, "map(x, 0, 5, 99)", x=3) == 99.0
    assert _one(spark, "map(x, 0, 5, 99)", x=9) == 9


def test_if_exists_not(spark):
    assert _one(spark, "if(exists(x), 1, 0)", x="a") == 1.0
    assert _one(spark, "not(0)") == True  # noqa: E712


def test_dist_functions(spark):
    assert _one(spark, "sqedist(x, y, 0, 0)", x=3, y=4) == 25.0
    assert _one(spark, "dist(2, x, y, 0, 0)", x=3, y=4) == pytest.approx(5.0)
    assert _one(spark, "dist(1, x, y, 0, 0)", x=3, y=4) == pytest.approx(7.0)


def test_geodist_known_pair(spark):
    # New York (40.7128, -74.0060) → London (51.5074, -0.1278) ≈ 5570 km
    got = _one(
        spark, "geodist(lat, lon, 51.5074, -0.1278)", lat=40.7128, lon=-74.0060
    )
    assert got == pytest.approx(5570, abs=10)
    # zero distance
    assert _one(spark, "geodist(lat, lon, 1.5, 2.5)", lat=1.5, lon=2.5) == 0.0


def test_strdist(spark):
    got = _one(spark, 'strdist(s, "kitten")', s="sitting")
    assert got == pytest.approx(1 - 3 / 7)
    assert _one(spark, 'strdist(s, "abc")', s="abc") == 1.0


def test_scale_uses_global_minmax(spark):
    d = spark.createDataFrame([(0,), (5,), (10,)], ["x"])
    col = parse_function_query("scale(x, 0, 1)", d)
    vals = sorted(r["v"] for r in d.select(col.alias("v")).collect())
    assert vals == [0.0, 0.5, 1.0]


def test_constants_and_booleans(spark):
    assert _one(spark, "pi()") == pytest.approx(math.pi)
    assert _one(spark, "e()") == pytest.approx(math.e)
    assert _one(spark, "if(true, 1, 0)") == 1.0
    assert _one(spark, "if(false(), 1, 0)") == 0.0
    assert _one(spark, "and(gt(x, 1), lt(x, 5))", x=3) == True  # noqa: E712
    assert _one(spark, "or(eq(x, 9), gte(x, 3))", x=3) == True  # noqa: E712
    assert _one(spark, "xor(true, true)") == False  # noqa: E712
    assert _one(spark, "if(lte(x, 3), 7, 8)", x=3) == 7.0


def test_def_field_vector(spark):
    d = spark.createDataFrame([(None,), (7,)], "x int")
    col = parse_function_query("def(x, 42)")
    got = sorted(r["v"] for r in d.select(col.alias("v")).collect())
    assert got == [7, 42]
    assert _one(spark, "field(x)", x=5) == 5
    assert _one(spark, 'field(arr, "min")', arr=[3, 1, 9]) == 1
    assert _one(spark, 'field(arr, "max")', arr=[3, 1, 9]) == 9
    assert _one(spark, "vector(1, 2, x)", x=3) == [1.0, 2.0, 3.0]


def test_hsin_matches_geodist(spark):
    # hsin with Earth radius in km + degree conversion ≡ geodist
    geod = _one(
        spark, "geodist(lat, lon, 51.5074, -0.1278)", lat=40.7128, lon=-74.006
    )
    hs = _one(
        spark,
        "hsin(6371.0087714, true, lat, lon, 51.5074, -0.1278)",
        lat=40.7128,
        lon=-74.006,
    )
    assert hs == pytest.approx(geod, rel=1e-9)
    # already-radians input with isDegrees=false
    import math as m

    hs2 = _one(
        spark,
        "hsin(1, false, a, b, c, d)",
        a=0.0,
        b=0.0,
        c=0.0,
        d=m.pi / 2,
    )
    assert hs2 == pytest.approx(m.pi / 2)


def test_ms_single_and_double(spark):
    got = _one(spark, "ms(a, b)", a="2020-01-01 00:00:10", b="2020-01-01 00:00:00")
    assert got == 10000.0
    got1 = _one(spark, "ms(a)", a="1970-01-01 00:00:01")
    assert got1 == 1000.0


def test_ord_rord(spark):
    d = spark.createDataFrame([("b",), ("a",), ("c",), ("b",)], ["s"])
    from lucene_solr_spark.functions.valuesource import apply_function_query

    d1, o = apply_function_query(d, "ord(s)")
    d2, r = apply_function_query(d1, "rord(s)")
    rows = d2.select("s", o.alias("o"), r.alias("r")).collect()
    got = {r["s"]: (r["o"], r["r"]) for r in rows}
    # sorted dictionary a<b<c → ords 1,2,3; rord = 4 − ord
    assert got == {"a": (1.0, 3.0), "b": (2.0, 2.0), "c": (3.0, 1.0)}


def test_ord_requires_apply(spark):
    """parse_function_query must refuse ord()/rord() (they need a
    dictionary join) and no field values may ever be collected."""
    import pytest

    d = spark.createDataFrame([("a",)], ["s"])
    from lucene_solr_spark.functions.valuesource import parse_function_query

    with pytest.raises(ValueError, match="apply_function_query"):
        parse_function_query("ord(s)", d)


def test_index_stats_functions(spark):
    from lucene_solr_spark.index import build_tables

    docs = spark.createDataFrame(
        [(0, "spark fast spark"), (1, "slow spark"), (2, "other words")],
        ["doc_id", "text"],
    )
    t = build_tables(docs, id_col="doc_id", text_col="text")
    assert _one(spark, "maxdoc()", tables=t) == 3.0
    assert _one(spark, "numdocs()", tables=t) == 3.0
    assert _one(spark, 'totaltermfreq(text, "spark")', tables=t) == 3.0
    assert _one(spark, 'totaltermfreq(text, "absent")', tables=t) == 0.0
    # Σ ttf over all terms: spark×3 fast slow other words = 7
    assert _one(spark, "sumtotaltermfreq(text)", tables=t) == 7.0


def test_parse_errors(spark):
    with pytest.raises(ValueError):
        parse_function_query("nosuchfn(1)")
    with pytest.raises(ValueError):
        parse_function_query("sum(1, 2")
    with pytest.raises(ValueError):
        parse_function_query("sum(1) trailing")


# ---------------------------------------------------------------- geohash

def _geohash_py(lat, lon, precision=12):
    """Independent textbook bisection encoder (the spatial4j
    GeohashUtils.encodeLatLon algorithm) for cross-checking the
    column-expression implementation."""
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    bits, out, even = 0, [], True
    ch = 0
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch <<= 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch <<= 1
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(alpha[ch])
            bits, ch = 0, 0
    return "".join(out)


def test_geohash_encode_matches_reference_spec(spark):
    import random

    rng = random.Random(42)
    pts = [(rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(50)]
    pts += [(0.0, 0.0), (90.0, 180.0), (-90.0, -180.0), (57.64911, 10.40744)]
    d = spark.createDataFrame(pts, ["lat", "lon"])
    from lucene_solr_spark.functions.valuesource import geohash_encode

    rows = d.select("lat", "lon", geohash_encode(F.col("lat"), F.col("lon")).alias("gh")).collect()
    for r in rows:
        assert r["gh"] == _geohash_py(r["lat"], r["lon"]), (r["lat"], r["lon"])
    # the canonical published example (wikipedia): u4pruydqqvj8
    assert _geohash_py(57.64911, 10.40744) == "u4pruydqqvj8"


def test_ghhsin_decode_roundtrip(spark):
    # ghhsin between a geohash and itself is 0; between two cells equals
    # haversine of the decoded centers (checked against geodist of the
    # original points within cell-size tolerance)
    km = 6371.0087714
    v = _one(
        spark,
        f'ghhsin({km}, geohash(lat, lon), geohash(lat, lon))',
        lat=32.0,
        lon=-79.0,
    )
    assert v == pytest.approx(0.0, abs=1e-9)
    v = _one(
        spark,
        f"ghhsin({km}, geohash(32, -79), geohash(33, -80))",
    )
    want = _one(spark, "geodist(32, -79, 33, -80)")
    assert v == pytest.approx(want, abs=0.01)  # 12-char cells are ~cm
    # shorter (literal) geohash strings decode at their own precision
    v = _one(spark, f'ghhsin({km}, "u4pruydqqvj8", "u4pruydqqvj8")')
    assert v == pytest.approx(0.0, abs=1e-9)


def test_currency_function(spark):
    """currency(field [, CODE]) — CurrencyFieldType function query over
    'amount,CUR' stored values, converted through the reference's
    example currency.xml rate table."""
    from lucene_solr_spark.functions.valuesource import (
        CURRENCY_RATES_USD,
        parse_function_query,
    )

    df = spark.createDataFrame(
        [(0, "10.00,USD"), (1, "10.00,EUR"), (2, "100"), (3, None)],
        ["doc_id", "price"],
    )
    col = parse_function_query("currency(price,USD)", df)
    got = {r["doc_id"]: r["v"] for r in df.select("doc_id", col.alias("v")).collect()}
    assert got[0] == pytest.approx(10.0)
    assert got[1] == pytest.approx(10.0 / CURRENCY_RATES_USD["EUR"])
    assert got[2] == pytest.approx(100.0)  # bare amount: default USD
    assert got[3] is None
    # convert the other way
    col = parse_function_query("currency(price,EUR)", df)
    got = {r["doc_id"]: r["v"] for r in df.select("doc_id", col.alias("v")).collect()}
    assert got[0] == pytest.approx(10.0 * CURRENCY_RATES_USD["EUR"])
    assert got[1] == pytest.approx(10.0)
    with pytest.raises(ValueError, match="currency code"):
        parse_function_query("currency(price,ZZZ)", df)


def test_childfield_function(spark):
    """childfield(field[, max|min]) — parent rows get the selected
    child's field value over the _root_ block (the
    ToParentBlockJoinSortField selector semantics)."""
    from lucene_solr_spark.functions.valuesource import apply_function_query

    df = spark.createDataFrame(
        [
            (0, 2, 5.0), (1, 2, 9.0), (2, 2, 1.0),   # block 2: parent id 2
            (3, 5, 7.0), (4, 5, 3.0), (5, 5, 2.0),   # block 5: parent id 5
        ],
        ["doc_id", "_root_", "price"],
    )
    out, col = apply_function_query(df, "childfield(price)")
    got = {r["doc_id"]: r["v"] for r in out.select("doc_id", col.alias("v")).collect()}
    assert got[2] == 9.0 and got[5] == 7.0  # child max, parent row excluded
    out, col = apply_function_query(df, "childfield(price,min)")
    got = {r["doc_id"]: r["v"] for r in out.select("doc_id", col.alias("v")).collect()}
    assert got[2] == 5.0 and got[5] == 3.0


def test_joindf_function(spark):
    """joindf(field, qfield) — JoinDocFreqValueSource: the doc's term
    from `field` looked up in qfield's terms dict; docFreq on hit, 0 on
    a seekExact miss or missing value."""
    from lucene_solr_spark.functions.valuesource import apply_function_query
    from lucene_solr_spark.index import build_tables

    docs = spark.createDataFrame(
        [(0, "spark fast"), (1, "fast fast spark"), (2, "slow")],
        ["doc_id", "text"],
    )
    t = build_tables(docs, id_col="doc_id", text_col="text")
    df = spark.createDataFrame(
        [(0, "fast"), (1, "slow"), (2, "absent"), (3, None)],
        ["doc_id", "probe"],
    )
    out, col = apply_function_query(df, "joindf(probe, text)", tables=t)
    got = {r["doc_id"]: r["v"] for r in out.select("doc_id", col.alias("v")).collect()}
    assert got[0] == 2.0   # 'fast' appears in docs 0 and 1
    assert got[1] == 1.0
    assert got[2] == 0.0   # vocabulary miss -> 0, like seekExact false
    assert got[3] == 0.0   # missing doc value -> 0

    with pytest.raises(ValueError, match="tables"):
        apply_function_query(df, "joindf(probe, text)")


def test_query_valuesource(spark):
    """query("sub" [, default]) — QueryValueSource: per-doc score of the
    embedded query, default where it does not match."""
    from lucene_solr_spark.functions.valuesource import apply_function_query
    from lucene_solr_spark.index import build_tables
    from lucene_solr_spark.queries import IndexSearcher

    docs = spark.createDataFrame(
        [(0, "spark fast"), (1, "fast fast"), (2, "slow")],
        ["doc_id", "text"],
    )
    s = IndexSearcher(build_tables(docs, id_col="doc_id", text_col="text"))
    out, col = apply_function_query(
        docs, 'sum(query("spark", -1), 10)', searcher=s
    )
    got = {r["doc_id"]: r["v"] for r in out.select("doc_id", col.alias("v")).collect()}
    assert got[0] > 10.0          # matching doc: 10 + positive BM25 score
    assert got[1] == got[2] == 9.0  # non-matches take the -1 default

    with pytest.raises(ValueError, match="searcher"):
        apply_function_query(docs, 'query("spark")')


def test_payload_function(spark):
    """payload(field, value[, default[, min|max|average|first]]) —
    FloatPayloadValueSource semantics over the payload postings."""
    from lucene_solr_spark.functions.valuesource import apply_function_query
    from lucene_solr_spark.queries.payloads import payload_postings

    docs = spark.createDataFrame(
        [(0, "a|2 spark|4 spark|6"), (1, "spark|3"), (2, "b|9")],
        ["doc_id", "text"],
    )
    pp = payload_postings(docs)
    base = docs.select("doc_id")

    def run(expr):
        out, col = apply_function_query(base, expr, payloads=pp)
        return {r["doc_id"]: r["v"] for r in out.select("doc_id", col.alias("v")).collect()}

    assert run('payload(text, "spark")') == {0: 5.0, 1: 3.0, 2: 0.0}
    assert run('payload(text, "spark", -1, first)') == {0: 4.0, 1: 3.0, 2: -1.0}
    assert run('payload(text, "spark", 0, max)') == {0: 6.0, 1: 3.0, 2: 0.0}
    assert run('payload(text, "spark", 0, min)') == {0: 4.0, 1: 3.0, 2: 0.0}

    with pytest.raises(ValueError, match="Invalid payload function"):
        run('payload(text, "spark", 0, median)')
    with pytest.raises(ValueError, match="payloads"):
        apply_function_query(base, 'payload(text, "spark")')


def test_ord_memo_sees_overwritten_data(spark, tmp_path):
    """Data rewritten behind the same path by another writer keeps the
    plan's semantic hash but has new part-file names: ord() must rank
    the new values instead of serving the memoized dictionary of the
    old ones.  (An overwrite through this session would also recache
    by path; a separate writer job does not.)"""
    import shutil

    from lucene_solr_spark.functions.valuesource import apply_function_query

    path = str(tmp_path / "t")

    def ords():
        d, o = apply_function_query(spark.read.parquet(path), "ord(s)")
        return {r["s"]: r["o"] for r in d.select("s", o.alias("o")).collect()}

    spark.createDataFrame([("b",), ("c",)], ["s"]).write.parquet(path)
    assert ords() == {"b": 1.0, "c": 2.0}
    spark.createDataFrame([("a",), ("c",)], ["s"]).write.parquet(
        str(tmp_path / "next")
    )
    shutil.rmtree(path)
    shutil.move(str(tmp_path / "next"), path)
    assert ords() == {"a": 1.0, "c": 2.0}
