"""Wave-4 operator units: C6 expansion, BPE tokens, streets."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_expand_abbrev_goldens(spark):
    from bano_spark.functions.expand import expand_abbrev

    cases = [
        ("IMP HUIT MAI", "Impasse HUIT MAI"),
        ("AV GAL LECLERC", "Avenue Général LECLERC"),
        ("RUE ST VINCENT", "RUE Saint VINCENT"),
        ('RES "LES PINS"', "Résidence LES PINS"),
        ("PL STE MARIE", "Place Sainte MARIE"),
        # first-occurrence-only (PG regexp_replace without 'g')
        ("RUE DU GAL DE GAULLE GAL X", "RUE DU Général DE GAULLE GAL X"),
        ("PAS DE L’OURS", "Passage DE L'OURS"),
        ("GR RUE", "GR RUE"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["voie"])
    got = [r.out for r in
           df.select(expand_abbrev(F.col("voie")).alias("out")).collect()]
    assert got == [c[1] for c in cases]


def test_bpe_token_count(spark):
    from bano_spark.operators.textstats import bpe_token_count

    df = spark.createDataFrame(
        [("Hello, world 42!",), ("",), ("a-b",)], ["text"])
    got = [r.n for r in df.select(
        bpe_token_count(F.col("text")).alias("n")).collect()]
    # hello , world 4 2 !  /  (empty)  /  a - b
    assert got == [6, 0, 3]


def test_best_segment_prefers_within(spark):
    from bano_spark.operators.streets import best_segment

    segs = spark.createDataFrame(
        [(1, 10, 0), (1, 11, 1), (1, 12, 1), (2, 20, 0), (2, 21, 0)],
        ["street_id", "seg_id", "within"])
    got = {(r.street_id, r.seg_id) for r in best_segment(segs).collect()}
    assert got == {(1, 11), (2, 20)}


def test_lambert93_known_points():
    """Inverse Lambert-93 against published reference coordinates: the
    projection origin maps to (3E, 46.5N) exactly; a round-trip through
    the forward formulas would be circular, so we pin the EPSG origin
    and check monotonicity east/north."""
    import numpy as np

    from bano_spark.geo.reproject import lambert93_to_wgs84_np

    lon, lat = lambert93_to_wgs84_np(
        np.array([700000.0, 800000.0, 700000.0]),
        np.array([6600000.0, 6600000.0, 6700000.0]))
    assert abs(lon[0] - 3.0) < 1e-9 and abs(lat[0] - 46.5) < 1e-9
    assert lon[1] > lon[0]  # east of origin
    assert lat[2] > lat[0]  # north of origin


def test_canonical_url_edge_cases(spark):
    from bano_spark.operators.webtext import canonical_url

    cases = [
        ("https://Example.COM/path/?b=2&utm_source=x&a=1#frag",
         "https://example.com/path/?a=1&b=2"),
        ("http://site.org", "http://site.org"),
        ("https://a.b/p?utm_campaign=z", "https://a.b/p"),
        ("https://a.b/p/", "https://a.b/p"),
        ("https://a.b/#x", "https://a.b"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["url"])
    got = [r.c for r in df.select(canonical_url("url").alias("c")).collect()]
    assert got == [c[1] for c in cases]


def test_knn_broadcast_and_shuffle_paths_agree(spark):
    from bano_spark.operators.knn_join import knn_name_match

    left = spark.createDataFrame(
        [(i, 1000.0 + i * 500.0, 2000.0, f"RUE {i % 7}") for i in range(60)],
        ["lid", "x", "y", "name_norm"])
    right = spark.createDataFrame(
        [(j, 1200.0 + j * 700.0, 2100.0, f"RUE {j % 5}") for j in range(40)],
        ["rid", "x", "y", "r_name"])
    kw = dict(zoom=13, k=1, left_name="name_norm", right_name="r_name", max_dist=2)
    a = knn_name_match(left, right, broadcast_right=True, **kw)
    b = knn_name_match(left, right, broadcast_right=False, **kw)
    ka = {(r.lid, r.rid, r.lev) for r in a.collect()}
    kb = {(r.lid, r.rid, r.lev) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_repetition_stats_toy(spark):
    from bano_spark.operators.webtext import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b\na b\nc d"),      # 3 lines, 1 dup; bigrams: ab,ba?,... per line? text split on \n only for lines
         (2, "x y z w")],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[1].n_lines == 3
    assert abs(out[1].dup_line_frac - (1 - 2 / 3)) < 1e-6
    assert out[2].dup_line_frac == 0.0
    # doc 2 bigrams: x y, y z, z w -> all unique, top fraction 1/3
    assert abs(out[2].top_bigram_frac - 1 / 3) < 1e-6


def test_gopher_quality_toy(spark):
    from bano_spark.operators.webtext import gopher_quality

    long_ok = " ".join(f"word{i}" for i in range(60))
    short = "too short"
    hashy = " ".join(["####"] * 60)
    docs = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, hashy)], ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert out[1].keep
    assert not out[2].ok_word_count
    assert not out[3].ok_symbol_ratio and not out[3].keep


def test_dup_span_stats_toy(spark):
    from bano_spark.operators.webtext import dup_span_stats

    shared = " ".join(f"t{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(1, shared + " unique1 " + " ".join(f"a{i}" for i in range(13))),
         (2, shared + " other2"),
         (3, " ".join(f"b{i}" for i in range(20)))],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in dup_span_stats(docs).collect()}
    # docs 1 and 2 share the leading 13-gram; doc 3 shares nothing
    assert out[1].n_dup_grams >= 1
    assert out[2].n_dup_grams >= 1
    assert out[3].n_dup_grams == 0
