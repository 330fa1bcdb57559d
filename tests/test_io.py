"""Reader/sink/geometry tests, modeled on the reference's fixture corpus
(src/test/scala/TestingGeometries.scala) and ingestion contract
(Reader.scala:59-61: silently drop invalid/empty/collection rows)."""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from conftest import SF_SMALL

from pyspark.sql import functions as F

from ds_jedai_spark.io.readers import read_ntriples, read_wkt_delimited
from ds_jedai_spark.io.writers import export_csv_pairs, export_ntriples, export_rdf
from ds_jedai_spark.io.synthetic import load_sql, source_box_sql, target_box_sql
from ds_jedai_spark.model.geometry import parse_wkt
from ds_jedai_spark.operators.relate import with_relations
from ds_jedai_spark.operators.spatial_join import tile_join

GOOD_WKT = [
    ("p1", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
    ("p2", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1), (1.5 1.5, 2 1.5, 2 2, 1.5 2, 1.5 1.5))"),
    ("l1", "LINESTRING (0 0, 5 5, 10 0)"),
    ("pt1", "POINT (2.5 2.5)"),
    ("mp1", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"),
    ("ml1", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))"),
]
BAD_WKT = [
    ("b1", "GEOMETRYCOLLECTION (POINT (1 1))"),
    ("b2", "POLYGON EMPTY"),
    ("b3", "POLYGON ((0 0, 1 0))"),  # unclosed / too few points
    ("b4", "NOT A GEOMETRY"),
    ("b5", ""),
]


def test_parse_wkt_golden():
    g, parts = parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert g == "POLYGON" and len(parts) == 1 and len(parts[0]) == 5
    g, parts = parse_wkt("POINT (2.5 -3.5)")
    assert g == "POINT" and parts == [[[2.5, -3.5]]]
    for _, bad in BAD_WKT:
        assert parse_wkt(bad) is None


def test_read_wkt_tsv_drops_bad_rows(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/geoms.tsv"
        with open(path, "w") as f:
            f.write("id\twkt\n")
            for i, w in GOOD_WKT + BAD_WKT:
                f.write(f"{i}\t{w}\n")
        df = read_wkt_delimited(spark, path, "id", "wkt")
        rows = {r.id: r for r in df.collect()}
        assert set(rows) == {i for i, _ in GOOD_WKT}
        assert rows["p1"].maxx == 4.0 and rows["p1"].miny == 0.0
        assert rows["mp1"].maxx == 6.0
        assert rows["pt1"].minx == rows["pt1"].maxx == 2.5


def test_read_geojson_all_types(spark, tmp_path):
    import json

    feats = [
        {"type": "Feature", "properties": {"id": "a"},
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}},
        {"type": "Feature", "properties": {"id": "b"},
         "geometry": {"type": "Polygon", "coordinates":
                      [[[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]]}},
        {"type": "Feature", "properties": {"id": "c"},
         "geometry": {"type": "LineString", "coordinates": [[0, 0], [3, 3]]}},
        {"type": "Feature", "properties": {"id": "d"},
         "geometry": {"type": "MultiPolygon", "coordinates":
                      [[[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]]}},
        {"type": "Feature", "properties": {"id": "bad"}, "geometry": None},
    ]
    p = tmp_path / "feats.geojson"
    p.write_text("\n".join(json.dumps(f) for f in feats))

    from ds_jedai_spark.io.readers import read_geojson

    got = {r.id: r.gtype for r in read_geojson(spark, str(p)).collect()}
    assert got == {"a": "POINT", "b": "POLYGON", "c": "LINESTRING",
                   "d": "MULTIPOLYGON"}


def test_read_ntriples(spark):
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/data.nt"
        with open(path, "w") as f:
            f.write(
                '<http://ex/a> <http://www.opengis.net/ont/geosparql#asWKT> "POINT (1 2)" .\n'
            )
            f.write('<http://ex/a> <http://ex/name> "ignored" .\n')
            f.write(
                '<http://ex/b> <http://www.opengis.net/ont/geosparql#asWKT> "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))" .\n'
            )
        df = read_ntriples(spark, path)
        rows = {r.id: r for r in df.collect()}
        assert set(rows) == {"http://ex/a", "http://ex/b"}
        assert rows["http://ex/a"].gtype == "POINT"
        assert rows["http://ex/b"].maxx == 2.0


def test_wkt_roundtrip_equals_direct_path(spark):
    """WKT-ize the derived boxes, write TSV, read through the reader stack,
    tile-join — must equal the arithmetic-derived join exactly."""
    src = load_sql(spark, SF_SMALL, source_box_sql())
    tgt = load_sql(spark, SF_SMALL, target_box_sql())
    direct = set(
        (r.s_id, r.t_id) for r in tile_join(src, tgt).select("s_id", "t_id").collect()
    )

    def wktize(df):
        return df.select(
            "id",
            F.concat(
                F.lit("POLYGON (("),
                F.col("minx"), F.lit(" "), F.col("miny"), F.lit(", "),
                F.col("maxx"), F.lit(" "), F.col("miny"), F.lit(", "),
                F.col("maxx"), F.lit(" "), F.col("maxy"), F.lit(", "),
                F.col("minx"), F.lit(" "), F.col("maxy"), F.lit(", "),
                F.col("minx"), F.lit(" "), F.col("miny"),
                F.lit("))"),
            ).alias("wkt"),
        )

    with tempfile.TemporaryDirectory() as tmp:
        wktize(src).write.option("header", True).option("delimiter", "\t").csv(
            f"{tmp}/src"
        )
        wktize(tgt).write.option("header", True).option("delimiter", "\t").csv(
            f"{tmp}/tgt"
        )
        s2 = read_wkt_delimited(spark, f"{tmp}/src", "id", "wkt").withColumn(
            "id", F.col("id").cast("long")
        )
        t2 = read_wkt_delimited(spark, f"{tmp}/tgt", "id", "wkt").withColumn(
            "id", F.col("id").cast("long")
        )
        via_wkt = set(
            (r.s_id, r.t_id)
            for r in tile_join(s2, t2).select("s_id", "t_id").collect()
        )
    assert via_wkt == direct


def test_sinks_write_expected_shapes(spark):
    src = load_sql(spark, SF_SMALL, source_box_sql())
    tgt = load_sql(spark, SF_SMALL, target_box_sql())
    rel = with_relations(tile_join(src, tgt))
    with tempfile.TemporaryDirectory() as tmp:
        export_csv_pairs(rel, f"{tmp}/pairs")
        got = spark.read.option("header", True).csv(f"{tmp}/pairs")
        assert got.columns == ["s_id", "t_id"] and got.count() == rel.count()

        export_ntriples(rel, f"{tmp}/nt", single_file=True)
        lines = spark.read.text(f"{tmp}/nt").collect()
        assert len(lines) == rel.count()
        assert all("sfIntersects" in r.value and r.value.endswith(" .") for r in lines)

        export_rdf(rel, f"{tmp}/rdf")
        rdf = spark.read.text(f"{tmp}/rdf")
        n_true = rel.select(
            sum(
                F.when(F.col(f"r_{x}"), 1).otherwise(0)
                for x in ("contains", "coveredby", "covers", "crosses", "equals",
                          "intersects", "overlaps", "touches", "within")
            ).alias("n")
        ).agg(F.sum("n")).collect()[0][0]
        assert rdf.count() == n_true


def _python_nodes_of_last_execution(spark) -> list[str]:
    """Python-evaluating node names in the plan of the most recent SQL
    execution, read from Spark's SQL status store (filled with the UI
    off)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = max(execs.apply(i).executionId() for i in range(execs.size()))
    nodes = store.planGraph(last).allNodes()
    names = [nodes.apply(i).name() for i in range(nodes.size())]
    return [n for n in names if "InArrow" in n or "EvalPython" in n]


def test_export_rdf_runs_its_input_once(spark, tmp_path):
    """The written plan holds the input's Python node once, however many
    r_* flag columns it carries; the triples are one per true flag."""
    rows = [("a", "b", True, True, False), ("c", "d", False, True, None),
            ("e", "f", False, False, False)]
    schema = ("s_id string, t_id string, r_contains boolean, "
              "r_intersects boolean, r_touches boolean")

    def identity(batches):
        yield from batches

    flags = spark.createDataFrame(rows, schema).mapInArrow(identity, schema)
    out = str(tmp_path / "rdf")
    export_rdf(flags, out)
    assert _python_nodes_of_last_execution(spark) == ["MapInArrow"]
    got = sorted(r.value for r in spark.read.text(out).collect())
    g = "http://www.opengis.net/ont/geosparql#"
    assert got == sorted([
        f"<a> <{g}sfContains> <b> .", f"<a> <{g}sfIntersects> <b> .",
        f"<c> <{g}sfIntersects> <d> .",
    ])


def test_read_geojson_collection_matches_ndjson(spark, tmp_path):
    """A whole-file FeatureCollection parses to the same rows as the same
    features in NDJSON form."""
    import json

    from ds_jedai_spark.io.readers import read_geojson, read_geojson_collection

    feats = [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [1.5, 2.5]},
         "properties": {"id": 1}},
        {"type": "Feature",
         "geometry": {"type": "Polygon",
                      "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]},
         "properties": {"id": 2}},
        {"type": "Feature", "geometry": None, "properties": {"id": 3}},
    ]
    coll = tmp_path / "coll.geojson"
    coll.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))
    nd = tmp_path / "nd.geojson"
    nd.write_text("\n".join(json.dumps(f) for f in feats) + "\n")

    key = ["id", "gtype", "minx", "miny", "maxx", "maxy"]
    got = sorted(
        tuple(r) for r in read_geojson_collection(spark, str(coll)).select(key).collect()
    )
    want = sorted(
        tuple(r) for r in read_geojson(spark, str(nd)).select(key).collect()
    )
    assert got == want and len(got) == 2  # null-geometry row dropped


def test_read_parquet_dataset_roundtrip(spark, tmp_path):
    """Engine row-format parquet loads without parsing; missing columns
    are rejected."""
    import pytest

    from ds_jedai_spark.io.readers import read_parquet_dataset, read_wkt_delimited

    src = tmp_path / "src.tsv"
    src.write_text(
        "id\twkt\n1\tPOINT (1.5 2.5)\n2\tPOLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))\n"
    )
    parsed = read_wkt_delimited(spark, str(src), id_field="id", geom_field="wkt")
    out = str(tmp_path / "ds.parquet")
    parsed.write.parquet(out)

    back = read_parquet_dataset(spark, out)
    key = ["id", "gtype", "minx", "miny", "maxx", "maxy"]
    assert sorted(tuple(r) for r in back.select(key).collect()) == sorted(
        tuple(r) for r in parsed.select(key).collect()
    )
    with pytest.raises(ValueError, match="row-format"):
        bad = str(tmp_path / "bad.parquet")
        parsed.drop("coords").write.parquet(bad)
        read_parquet_dataset(spark, bad)


def test_parse_wkb_contract():
    """parse_wkb mirrors parse_wkt's contract exactly: identical
    (gtype, parts) for every fixture entity (differential over the whole
    WKT fixture via the format_wkb round trip), plus the binary-level
    variants WKT has no spelling for (endianness, ISO Z/M, EWKB SRID
    flags, NaN empty points, truncation, trailing bytes)."""
    import csv
    import math
    import struct

    from ds_jedai_spark.model.geometry import format_wkb, parse_wkb, parse_wkt
    from ds_jedai_spark.plans.reader_plans import FIXTURE

    n_valid = 0
    for row in csv.DictReader(open(FIXTURE), delimiter="\t"):
        parsed = parse_wkt(row["wkt"])
        if parsed is None:
            continue
        n_valid += 1
        assert parse_wkb(format_wkb(*parsed)) == parsed, row["id"]
    assert n_valid > 300  # the fixture is mostly valid entities

    # big-endian
    be = struct.pack(">BIdd", 0, 1, 3.0, 4.0)
    assert parse_wkb(be) == ("POINT", [[[3.0, 4.0]]])
    # ISO Z (1001) and ZM (3002) codes: Z/M ordinates skipped
    assert parse_wkb(struct.pack("<BIddd", 1, 1001, 1.0, 2.0, 9.0)) == (
        "POINT", [[[1.0, 2.0]]]
    )
    zm_line = struct.pack("<BII", 1, 3002, 2) + struct.pack(
        "<dddddddd", 0, 0, 8, 8, 1, 1, 8, 8
    )
    assert parse_wkb(zm_line) == ("LINESTRING", [[[0.0, 0.0], [1.0, 1.0]]])
    # EWKB Z + embedded SRID flags
    ez = struct.pack("<BIIddd", 1, 1 | 0x80000000 | 0x20000000,
                     4326, 1.0, 2.0, 9.0)
    assert parse_wkb(ez) == ("POINT", [[[1.0, 2.0]]])
    # WKB POINT EMPTY convention (NaN coords) drops like WKT EMPTY
    assert parse_wkb(struct.pack("<BIdd", 1, 1, math.nan, math.nan)) is None
    # GeometryCollection drops at load, like the WKT reader
    gc = struct.pack("<BII", 1, 7, 1) + struct.pack("<BIdd", 1, 1, 1.0, 2.0)
    assert parse_wkb(gc) is None
    # malformed: truncation, trailing garbage, unknown type, open ring
    assert parse_wkb(be[:-3]) is None
    assert parse_wkb(be + b"\x00") is None
    assert parse_wkb(struct.pack("<BIdd", 1, 99, 1.0, 2.0)) is None
    open_ring = struct.pack("<BIII", 1, 3, 1, 4) + struct.pack(
        "<" + "d" * 8, 0, 0, 4, 0, 4, 4, 9, 9
    )
    assert parse_wkb(open_ring) is None
    assert parse_wkb(None) is None


def test_parse_wkb_hostile_bytes():
    """Untrusted-input robustness: parse_wkb never raises and never
    balloons memory — arbitrary bytes, bit-flipped valid WKB, and
    crafted huge point counts (a 2^32-1 LINESTRING count must fail on
    the 4-byte count, not allocate a multi-GB unpack format) all return
    None or a well-formed (gtype, parts)."""
    import random
    import struct

    from ds_jedai_spark.model.geometry import format_wkb, parse_wkb, parse_wkt

    rng = random.Random(99)
    for _ in range(500):
        buf = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 80)))
        out = parse_wkb(buf)
        assert out is None or (isinstance(out, tuple) and len(out) == 2)

    base = format_wkb(*parse_wkt(
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    ))
    for _ in range(500):
        b = bytearray(base)
        for _ in range(rng.randrange(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        out = parse_wkb(bytes(b))
        assert out is None or (isinstance(out, tuple) and len(out) == 2)

    # crafted memory bombs: huge element counts with tiny buffers
    bomb_line = struct.pack("<BII", 1, 2, 0xFFFFFFFF) + b"\x00" * 64
    assert parse_wkb(bomb_line) is None
    bomb_poly = struct.pack("<BIII", 1, 3, 1, 0x7FFFFFFF) + b"\x00" * 64
    assert parse_wkb(bomb_poly) is None
    bomb_multi = struct.pack("<BII", 1, 6, 0xFFFFFFFF) + b"\x00" * 16
    assert parse_wkb(bomb_multi) is None


def test_read_parquet_wkb_geoparquet(spark, tmp_path):
    """GeoParquet/WKB ingestion lands on the identical row format as the
    WKT reader over the same entity set — auto-detected from the `geo`
    footer metadata (no geom_field passed), and again via an explicit
    geom_field naming the binary column."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.readers import read_parquet_dataset, read_wkt_delimited
    from ds_jedai_spark.plans.reader_plans import FIXTURE, WKB_FIXTURE

    key = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"]
    want = sorted(
        tuple(r) for r in read_wkt_delimited(
            spark, FIXTURE, id_field="id", geom_field="wkt"
        ).select(key).collect()
    )
    got_auto = read_parquet_dataset(spark, WKB_FIXTURE).withColumn(
        "id", F.col("id").cast("string")
    )
    assert sorted(tuple(r) for r in got_auto.select(key).collect()) == want
    got_named = read_parquet_dataset(
        spark, WKB_FIXTURE, geom_field="geometry"
    ).withColumn("id", F.col("id").cast("string"))
    assert sorted(tuple(r) for r in got_named.select(key).collect()) == want


def test_export_geoparquet_roundtrip(spark, tmp_path):
    """export_geoparquet -> read_parquet_dataset reproduces the row
    format exactly for every geometry type the WKT fixture exercises
    (binary `geometry` column detected by name on re-read)."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.readers import read_parquet_dataset, read_wkt_delimited
    from ds_jedai_spark.io.writers import export_geoparquet
    from ds_jedai_spark.plans.reader_plans import FIXTURE

    src = read_wkt_delimited(spark, FIXTURE, id_field="id", geom_field="wkt")
    out = str(tmp_path / "export_wkb.parquet")
    export_geoparquet(src, out)
    back = read_parquet_dataset(spark, out)
    key = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"]
    assert sorted(tuple(r) for r in back.select(key).collect()) == sorted(
        tuple(r) for r in src.select(key).collect()
    )


def test_read_parquet_dataset_date_field(spark, tmp_path):
    """-date-col on parquet: a missing column errors with guidance on
    BOTH paths, and the row-format fast path surfaces the named column
    as `ts` instead of ignoring it."""
    import datetime

    import pytest

    from ds_jedai_spark.io.readers import read_parquet_dataset, read_wkt_delimited

    src = tmp_path / "src.tsv"
    src.write_text("id\twkt\n1\tPOINT (1.5 2.5)\n2\tPOINT (3 4)\n")
    parsed = read_wkt_delimited(spark, str(src), id_field="id", geom_field="wkt")
    out = str(tmp_path / "rowfmt.parquet")
    parsed.selectExpr(
        "*", "timestamp'2024-03-01 10:00:00' + make_interval(0,0,0,0,0,0,"
        "cast(id as int)) AS event_time"
    ).write.parquet(out)

    # row-format fast path honors -date-col: event_time becomes ts
    got = read_parquet_dataset(spark, out, date_field="event_time")
    assert "ts" in got.columns and "event_time" not in got.columns
    rows = {r.id: r.ts for r in got.select("id", "ts").collect()}
    assert rows["2"] == datetime.datetime(2024, 3, 1, 10, 0, 2)

    # missing date column: guided error, not a bare KeyError (fast path)
    with pytest.raises(ValueError, match="date column 'nope'"):
        read_parquet_dataset(spark, out, date_field="nope")
    # ...and on the WKT-fallback path too
    wkt_out = str(tmp_path / "wkt.parquet")
    spark.createDataFrame(
        [("1", "POINT (1 2)")], "doc_id string, geom string"
    ).write.parquet(wkt_out)
    with pytest.raises(ValueError, match="date column 'nope'"):
        read_parquet_dataset(
            spark, wkt_out, id_field="doc_id", geom_field="geom",
            date_field="nope",
        )


def test_geojson_export_roundtrip(spark, tmp_path):
    """export_geojson -> read_geojson reproduces the row format exactly
    for every geometry type the WKT fixture exercises."""
    from ds_jedai_spark.io.readers import read_geojson, read_wkt_delimited
    from ds_jedai_spark.io.writers import export_geojson
    from ds_jedai_spark.plans.reader_plans import FIXTURE

    src = read_wkt_delimited(spark, FIXTURE, id_field="id", geom_field="wkt")
    out = str(tmp_path / "export.geojson")
    export_geojson(src, out)
    back = read_geojson(spark, out)
    key = ["id", "gtype", "minx", "miny", "maxx", "maxy"]
    got = sorted(tuple(r) for r in back.select(key).collect())
    want = sorted(tuple(r) for r in src.select(key).collect())
    assert got == want and len(got) > 300


def test_geojson_export_carries_ts(spark, tmp_path):
    """export_geojson round-trips a ts column through feature properties
    (read back with date_field='ts')."""
    import datetime

    from ds_jedai_spark.io.readers import read_geojson, read_wkt_delimited
    from ds_jedai_spark.io.writers import export_geojson

    src = tmp_path / "s.tsv"
    src.write_text(
        "id\twkt\td\n"
        "1\tPOINT (1 2)\t2024-03-01 10:00:01\n"
        "2\tPOINT (3 4)\t2024-03-02 11:30:00\n"
    )
    parsed = read_wkt_delimited(
        spark, str(src), id_field="id", geom_field="wkt", date_field="d"
    )
    out = str(tmp_path / "ts.geojson")
    export_geojson(parsed, out)
    back = read_geojson(spark, out, date_field="ts")
    rows = {r.id: r.ts for r in back.select("id", "ts").collect()}
    assert rows == {
        "1": datetime.datetime(2024, 3, 1, 10, 0, 1),
        "2": datetime.datetime(2024, 3, 2, 11, 30, 0),
    }


def test_read_delimited_hex_wkb(spark, tmp_path):
    """Hex-encoded WKB cells (the PostGIS COPY export format) ingest
    through the delimited reader with no flag — identical row format as
    the same entities in WKT; \\x / 0x prefixes and an EWKB SRID flag
    accepted; malformed hex drops like malformed WKT."""
    import struct

    from ds_jedai_spark.io.readers import read_wkt_delimited
    from ds_jedai_spark.model.geometry import format_wkb, parse_wkt

    wkts = [
        "POINT (1.5 2.5)",
        "LINESTRING (0 0, 3 3, 6 0)",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "((5 5, 6 5, 6 6, 5 6, 5 5)))",
    ]
    hexes = [format_wkb(*parse_wkt(w)).hex() for w in wkts]
    # EWKB with an embedded SRID for the point, plus prefix variants
    ewkb_pt = struct.pack("<BIIdd", 1, 1 | 0x20000000, 4326, 1.5, 2.5).hex()
    src_wkt = tmp_path / "wkt.tsv"
    src_hex = tmp_path / "hex.tsv"
    with open(src_wkt, "w") as f:
        f.write("id\twkt\n")
        for i, w in enumerate(wkts):
            f.write(f"{i}\t{w}\n")
    with open(src_hex, "w") as f:
        f.write("id\twkt\n")
        f.write(f"0\t\\x{ewkb_pt}\n")          # PostGIS COPY prefix
        f.write(f"1\t0x{hexes[1]}\n")
        f.write(f"2\t{hexes[2]}\n")
        f.write(f"3\t{hexes[3].upper()}\n")     # case-insensitive hex
        f.write("9\t01ZZ\n")                    # malformed: dropped

    key = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"]
    want = sorted(tuple(r) for r in read_wkt_delimited(
        spark, str(src_wkt), id_field="id", geom_field="wkt"
    ).select(key).collect())
    got = sorted(tuple(r) for r in read_wkt_delimited(
        spark, str(src_hex), id_field="id", geom_field="wkt"
    ).select(key).collect())
    assert got == want and len(got) == 4


def test_read_parquet_explicit_geom_col_typo_raises(spark, tmp_path):
    """An EXPLICIT geom_field that isn't in the table is a user error
    (ADVICE r12): no silent fall-through to footer/'geometry'
    auto-detection. None and the CLI 'wkt' default still auto-detect."""
    import pytest

    from ds_jedai_spark.io.readers import read_parquet_dataset
    from ds_jedai_spark.model.geometry import format_wkb, parse_wkt

    wkb = format_wkb(*parse_wkt("POINT (1.5 2.5)"))
    path = str(tmp_path / "geo.parquet")
    spark.createDataFrame(
        [(1, bytearray(wkb))], "id int, geometry binary"
    ).write.parquet(path)

    with pytest.raises(ValueError, match="'geometrie'"):
        read_parquet_dataset(spark, path, geom_field="geometrie")
    # auto-detection still works with no / default geom_field
    for gf in (None, "wkt"):
        got = read_parquet_dataset(spark, path, geom_field=gf)
        assert [(r.id, r.gtype) for r in got.collect()] == [(1, "POINT")]


def test_read_parquet_rowformat_string_ts_parses(spark, tmp_path):
    """Row-format fast path with -date-col ts on a STRING ts column:
    the column must parse to a real timestamp (ADVICE r12), same as any
    other named date column."""
    from ds_jedai_spark.io.readers import (
        read_parquet_dataset,
        read_wkt_delimited,
    )

    src = tmp_path / "src.tsv"
    src.write_text("id\twkt\n1\tPOINT (1.5 2.5)\n")
    parsed = read_wkt_delimited(
        spark, str(src), id_field="id", geom_field="wkt"
    ).withColumn("ts", F.lit("2024-03-01 10:30:00"))
    out = str(tmp_path / "rowfmt.parquet")
    parsed.write.parquet(out)

    back = read_parquet_dataset(spark, out, date_field="ts")
    assert back.schema["ts"].dataType.typeName().startswith("timestamp")
    row = back.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s")).first()
    assert row.s == "2024-03-01 10:30:00"
    # without -date-col the string column passes through untouched
    plain = read_parquet_dataset(spark, out)
    assert plain.schema["ts"].dataType.typeName() == "string"


def test_export_geoparquet_footer_and_crs(spark, tmp_path):
    """The sink stamps GeoParquet `geo` footer metadata on every part
    file: a re-read auto-detects the geometry column VIA THE FOOTER
    (non-'geometry' column name, so the name fallback cannot apply),
    and the declared PROJJSON CRS round-trips onto the reader's gtype
    column metadata."""
    import json

    import pyarrow.parquet as pq

    from ds_jedai_spark.io.readers import read_parquet_dataset, read_wkt_delimited
    from ds_jedai_spark.io.writers import export_geoparquet
    from ds_jedai_spark.plans.reader_plans import FIXTURE

    crs = {"type": "ProjectedCRS", "name": "WGS 84 / Pseudo-Mercator",
           "id": {"authority": "EPSG", "code": 3857}}
    src = read_wkt_delimited(spark, FIXTURE, id_field="id", geom_field="wkt")
    out = str(tmp_path / "export_geo.parquet")
    export_geoparquet(src, out, geom_col="geom", crs=crs)

    # every part file carries the footer
    parts = sorted((tmp_path / "export_geo.parquet").glob("*.parquet"))
    assert parts
    for p in parts:
        geo = json.loads((pq.read_schema(str(p)).metadata or {})[b"geo"])
        assert geo["primary_column"] == "geom"
        assert geo["columns"]["geom"]["encoding"] == "WKB"
        assert geo["columns"]["geom"]["crs"]["id"]["code"] == 3857

    back = read_parquet_dataset(spark, out)  # footer-only detection
    key = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"]
    assert sorted(tuple(r) for r in back.select(key).collect()) == sorted(
        tuple(r) for r in src.select(key).collect()
    )
    meta = back.schema["gtype"].metadata
    assert meta["crs"] == "EPSG:3857"
    assert json.loads(meta["crs_projjson"])["id"]["code"] == 3857


def test_date_cells_tolerant_and_iso_fallback(spark, tmp_path):
    """Under ANSI mode (the Spark 4 default) a single malformed date
    cell must NOT fail the scan — readers parse via try_to_timestamp
    (null ts, row kept), and when the pattern is the engine default,
    ISO-8601 'T'-separated cells (the FlatGeobuf/GeoPackage wild
    convention) parse through the no-pattern fallback."""
    from ds_jedai_spark.io.readers import read_wkt_delimited

    tsv = tmp_path / "d.tsv"
    tsv.write_text(
        "id\twkt\twhen\n"
        "1\tPOINT (1.5 2.5)\t2024-03-01 10:00:05\n"
        "2\tPOINT (2.5 3.5)\t2024-03-01T10:00:06\n"
        "3\tPOINT (3.5 4.5)\tnot-a-date\n"
    )
    got = {r.id: str(r.ts) for r in read_wkt_delimited(
        spark, str(tsv), id_field="id", geom_field="wkt",
        date_field="when",
    ).select("id", "ts").collect()}
    assert got == {"1": "2024-03-01 10:00:05",
                   "2": "2024-03-01 10:00:06",
                   "3": "None"}
    # an EXPLICIT non-default pattern gets no ISO fallback: only its
    # own layout parses
    got2 = {r.id: str(r.ts) for r in read_wkt_delimited(
        spark, str(tsv), id_field="id", geom_field="wkt",
        date_field="when", date_pattern="yyyy-MM-dd'T'HH:mm:ss",
    ).select("id", "ts").collect()}
    assert got2 == {"1": "None", "2": "2024-03-01 10:00:06",
                    "3": "None"}


def test_api_run_warns_on_crs_mismatch(spark, tmp_path):
    """api.run warns when source and target GeoParquet declare different
    CRS, errors under strictCrs, and stays silent when either side is
    CRS-unknown or both match."""
    import warnings

    import pytest

    from ds_jedai_spark import api
    from ds_jedai_spark.config import DatasetSpec, JedaiConfig
    from ds_jedai_spark.io.readers import read_wkt_delimited
    from ds_jedai_spark.io.writers import export_geoparquet

    tsv = tmp_path / "pts.tsv"
    tsv.write_text("id\twkt\n1\tPOINT (1.5 2.5)\n2\tPOINT (1.5 2.5)\n")
    src = read_wkt_delimited(spark, str(tsv), id_field="id", geom_field="wkt")

    def crs(code):
        return {"id": {"authority": "EPSG", "code": code}}

    p4326 = str(tmp_path / "a.parquet")
    p3857 = str(tmp_path / "b.parquet")
    pnone = str(tmp_path / "c.parquet")
    export_geoparquet(src, p4326, crs=crs(4326))
    export_geoparquet(src, p3857, crs=crs(3857))
    export_geoparquet(src, pnone)  # no crs key -> spec default OGC:CRS84

    def cfg(a, b, **extra):
        return JedaiConfig(
            source=DatasetSpec(path=a, id_field="id", geom_field=None),
            target=DatasetSpec(path=b, id_field="id", geom_field=None),
            relation="DE9IM",
            extra=extra,
        )

    with pytest.warns(UserWarning, match="different CRS"):
        api.run(spark, cfg(p4326, p3857)).collect()
    with pytest.raises(ValueError, match="different CRS"):
        api.run(spark, cfg(p4326, p3857, strictCrs=True))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # same CRS: silent
        api.run(spark, cfg(p3857, p3857)).collect()
        # GeoParquet spec default (OGC:CRS84) vs .prj/.gpkg-style
        # EPSG:4326: semantically the same WGS84 datum (axis order
        # only, and the engine is axis-order-naive) -> silent, never a
        # spurious mismatch on cross-format pairs
        api.run(spark, cfg(pnone, p4326)).collect()
        # a row-format table (no footer) vs anything is unknown -> silent
        rf = str(tmp_path / "rowfmt.parquet")
        src.write.parquet(rf)
        api.run(spark, cfg(rf, p3857)).collect()
    # ...but CRS84 vs a genuinely different CRS still trips
    with pytest.warns(UserWarning, match="different CRS"):
        api.run(spark, cfg(pnone, p3857)).collect()
