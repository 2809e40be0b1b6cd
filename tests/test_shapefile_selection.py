"""Unit tests: native .shp parsing round-trips and the distributed
prefix-sum selection operator."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bano_spark.sources.shapefile import (make_point_shp, make_polygon_shp,
                                          parse_point_blob, parse_polygon_blob,
                                          read_point_shp)


def test_point_shp_roundtrip():
    xs = np.array([1.5, 2.25, -3.0])
    ys = np.array([10.0, -20.5, 30.125])
    num, px, py = parse_point_blob(make_point_shp(xs, ys))
    assert list(num) == [1, 2, 3]
    assert np.array_equal(px, xs) and np.array_equal(py, ys)


def test_polygon_shp_roundtrip():
    outer = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0], [0.0, 0.0]])
    hole = np.array([[1.0, 1.0], [1.0, 2.0], [2.0, 2.0], [1.0, 1.0]])
    tri = np.array([[10.0, 10.0], [12.0, 10.0], [11.0, 12.0], [10.0, 10.0]])
    blob = make_polygon_shp([[outer, hole], [tri]])
    recs = parse_polygon_blob(blob)
    assert [r[0] for r in recs] == [1, 2]
    r1_rings, r2_rings = recs[0][1], recs[1][1]
    assert len(r1_rings) == 2 and len(r2_rings) == 1
    assert np.array_equal(r1_rings[0], outer)
    assert np.array_equal(r1_rings[1], hole)
    assert np.array_equal(r2_rings[0], tri)


def test_read_point_shp_distributed(spark):
    xs = np.arange(50, dtype=np.float64) + 0.5
    ys = xs * 2
    blob = make_point_shp(xs, ys)
    files = spark.createDataFrame([("f1", bytearray(blob))],
                                  "file_id string, content binary")
    out = read_point_shp(files).orderBy("record_no").collect()
    assert len(out) == 50
    assert out[0].x == 0.5 and out[49].y == 99.0


def test_distributed_cumsum_matches_naive(spark):
    from bano_spark.operators.selection import distributed_cumsum

    rows = [(i, (i * 7) % 23, 1 + i % 5) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, q long, v long").repartition(8)
    out = distributed_cumsum(df, "q", [F.desc("q"), F.asc("doc_id")], "v",
                             out_col="cum", descending=True, num_buckets=7)
    got = {r.doc_id: r.cum for r in out.collect()}
    acc = 0
    for _, doc_id, v in sorted(((-q, d, v) for d, q, v in rows)):
        acc += v
        assert got[doc_id] == acc


def test_cache_registry_releases(spark):
    from bano_spark import cache

    df = cache.keep(spark.range(10))
    assert df.storageLevel.useMemory
    cache.release_all()
    assert not df.storageLevel.useMemory


def test_connected_components_vs_union_find(spark):
    """Random sparse graph: the iterative relational algorithm must
    agree with a plain union-find."""
    import random

    from bano_spark.operators.components import connected_components

    rng = random.Random(42)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: min(u for u in touched if find(u) == find(v)) for v in touched}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.comp for r in connected_components(df).collect()}
    assert got == want


def test_shp_sink_artifact_set(spark, tmp_path):
    """S16: per-dept .shp/.shx/.dbf written from executors; the .shp
    parses back, the .shx indexes every record, the .dbf holds the
    attributes space-padded."""
    import struct

    from bano_spark.sources.shapefile import parse_point_blob, shp_sink

    rows = [("01", 2.0 + i, 46.0 + i, f"id{i}") for i in range(5)] + \
           [("75", 2.3, 48.8, "paris0")]
    df = spark.createDataFrame(rows, "dept string, lon double, lat double, id string")
    res = {r.dept: r.n_records
           for r in shp_sink(df, str(tmp_path), attr_cols=("id",)).collect()}
    assert res == {"01": 5, "75": 1}

    blob = (tmp_path / "bano-01.shp").read_bytes()
    num, xs, ys = parse_point_blob(blob)
    assert list(num) == [1, 2, 3, 4, 5]
    assert xs[0] == 2.0 and ys[4] == 50.0

    shx = (tmp_path / "bano-01.shx").read_bytes()
    assert len(shx) == 100 + 5 * 8
    off0, len0 = struct.unpack(">2i", shx[100:108])
    assert off0 == 54 and len0 == 10  # byte 108 in words

    dbf = (tmp_path / "bano-01.dbf").read_bytes()
    nrec, = struct.unpack("<I", dbf[4:8])
    assert nrec == 5
    assert b"id0".ljust(32) in dbf


def test_point_shp_roundtrip_property():
    """Property: any float64 point set survives the .shp round trip
    bit-for-bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bano_spark.sources.shapefile import make_point_shp, parse_point_blob

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.tuples(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.floats(allow_nan=False, allow_infinity=False, width=64)),
        min_size=1, max_size=60))
    def check(pts):
        xs = np.array([p[0] for p in pts])
        ys = np.array([p[1] for p in pts])
        num, px, py = parse_point_blob(make_point_shp(xs, ys))
        assert list(num) == list(range(1, len(pts) + 1))
        assert np.array_equal(px, xs) and np.array_equal(py, ys)

    check()


def test_connected_components_property(spark):
    """Property over several random graphs (incl. long chains that
    exercise pointer doubling): relational components == union-find."""
    import random

    from bano_spark.operators.components import connected_components

    for seed, n, m in [(1, 60, 30), (2, 80, 100), (3, 40, 0)]:
        rng = random.Random(seed)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges += [(i, i + 1) for i in range(20)]  # a 21-node chain

        parent = list(range(n + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {v: min(u for u in touched if find(u) == find(v))
                for v in touched}
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: r.comp for r in connected_components(df).collect()}
        assert got == want, f"seed {seed}"


def test_cumsum_tie_heavy_keys_stay_fine_grained(spark):
    """VERDICT r2 #3: a 2-distinct-quality corpus must still spread
    across buckets (composite tiebreak bucketing), not collapse to 2
    giant buckets, and the cumsum must stay exact."""
    from bano_spark.operators.selection import distributed_cumsum

    rows = [(i, i % 2, 1 + i % 3) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, q long, v long").repartition(8)
    n_buckets = 16
    out = distributed_cumsum(df, "q", [F.desc("q"), F.asc("doc_id")], "v",
                             out_col="cum", descending=True,
                             num_buckets=n_buckets, tiebreak_col="doc_id")
    got = {r.doc_id: r.cum for r in out.collect()}
    acc = 0
    for _, doc_id, v in sorted(((-q, d, v) for d, q, v in rows)):
        acc += v
        assert got[doc_id] == acc
    # bucket occupancy: rebuild the bucket ids the operator used
    from bano_spark.operators.selection import (_composite_bounds,
                                                _composite_bucket_expr)
    bounds = _composite_bounds(df, "q", "doc_id", n_buckets, True)
    pids = df.withColumn("_pid", _composite_bucket_expr(
        F.col("q"), F.col("doc_id"), bounds, True))
    n_used = pids.select("_pid").distinct().count()
    assert n_used > n_buckets // 2, f"only {n_used} buckets used"


def test_cumsum_null_key_raises(spark):
    from bano_spark.operators.selection import distributed_cumsum

    df = spark.createDataFrame([(1, None, 1), (2, 5, 1)],
                               "doc_id long, q long, v long")
    try:
        distributed_cumsum(df, "q", [F.desc("q"), F.asc("doc_id")], "v",
                           descending=True, tiebreak_col="doc_id").collect()
        raised = False
    except Exception as e:
        raised = "null range key" in str(e)
    assert raised


def test_knn_auto_path_matches_both_ways(spark):
    """VERDICT r2 #4: knn_name_match auto-selects broadcast vs shuffle
    from the exploded right-side size; both paths are output-identical."""
    from bano_spark.operators.knn_join import knn_name_match
    from bano_spark import synth

    pts = spark.sql(synth.points_select_sql(
        "spark", "(SELECT id AS event_id FROM range(300))"))
    left = pts.filter("event_id % 2 = 0").withColumn(
        "name_norm", F.concat(F.lit("RUE "), F.col("event_id").cast("string")))
    right = pts.filter("event_id % 2 = 1").withColumn(
        "name_norm", F.concat(F.lit("RUE "), (F.col("event_id") - 1).cast("string"))
    ).withColumnRenamed("event_id", "rid").withColumnRenamed(
        "name_norm", "rname")
    kw = dict(zoom=12, k=1, left_name="name_norm", right_name="rname",
              max_dist=2)
    bcast = knn_name_match(left, right, broadcast_right=True, **kw)
    shuf = knn_name_match(left, right, broadcast_right=False, **kw)
    auto_small = knn_name_match(left, right, **kw)  # tiny side -> broadcast
    auto_forced = knn_name_match(left, right, broadcast_max_rows=9, **kw)
    key = lambda df: sorted((r.event_id, r.rid, r.lev) for r in df.collect())
    assert key(bcast) == key(shuf) == key(auto_small) == key(auto_forced)
    assert len(key(bcast)) > 0


def test_shp_publish_bundle_roundtrip(spark, tmp_path):
    """VERDICT r2 missing #1 / ref publish.py:41-47: shp_sink writes
    the full georeferenced artifact set and publish_shp_bundles tars
    the five members per dept; reading the tar back recovers the
    points and the WGS84 .prj."""
    import tarfile

    from bano_spark.operators.publish import publish_shp_bundles
    from bano_spark.sources.shapefile import WGS84_PRJ, shp_sink

    rows = [("01", 5.1 + i * 0.01, 46.2 + i * 0.01, f"id{i}") for i in range(6)] \
        + [("972", -61.0, 14.6, "dom")]
    df = spark.createDataFrame(rows, ["dept", "lon", "lat", "rid"])
    out = str(tmp_path)
    res = {r.dept: r.n_records
           for r in shp_sink(df, out, attr_cols=("rid",)).collect()}
    assert res == {"01": 6, "972": 1}

    bundles = publish_shp_bundles(out)
    assert sorted(b.rsplit("/", 1)[1] for b in bundles) == [
        "bano-01.shp.tar.gz", "bano-972.shp.tar.gz"]
    with tarfile.open(f"{out}/bano-01.shp.tar.gz", "r:gz") as tar:
        names = tar.getnames()
        assert names == [f"bano-01.{e}" for e in
                         ("shp", "dbf", "shx", "prj", "cpg")]
        prj = tar.extractfile("bano-01.prj").read().decode()
        assert prj == WGS84_PRJ and "WGS_1984" in prj
        assert tar.extractfile("bano-01.cpg").read() == b"UTF-8"
        num, xs, ys = parse_point_blob(tar.extractfile("bano-01.shp").read())
        assert len(num) == 6 and xs.min() >= 5.1 and ys.max() <= 46.26


def test_cumsum_string_tiebreak_and_random_ties(spark):
    """Composite bucketing with a STRING tiebreak column (lexicographic
    boundary comparisons) across random tie-heavy datasets."""
    import random

    from bano_spark.operators.selection import distributed_cumsum

    for seed in (3, 11):
        rng = random.Random(seed)
        rows = [(f"d{i:05d}", rng.randint(0, 3), 1 + rng.randint(0, 9))
                for i in range(1500)]
        df = spark.createDataFrame(
            rows, "doc_id string, q long, v long").repartition(8)
        out = distributed_cumsum(
            df, "q", [F.desc("q"), F.asc("doc_id")], "v", out_col="cum",
            descending=True, num_buckets=13, tiebreak_col="doc_id")
        got = {r.doc_id: r.cum for r in out.collect()}
        acc = 0
        for _, doc_id, v in sorted(((-q, d, v) for d, q, v in rows)):
            acc += v
            assert got[doc_id] == acc, f"seed {seed} at {doc_id}"
