"""Hand-computed checks for the wave-54 operators: Vincenty inverse
geodesic, rank-biased overlap, source tf-idf cosine."""

from bano_spark.operators.geodesy import vincenty_vs_haversine
from bano_spark.operators.search import rank_biased_overlap
from bano_spark.operators.textstats import source_tfidf_cosine


def test_vincenty_known_pair(spark):
    # Paris (2.3522, 48.8566) -> Lyon (4.8357, 45.7640): the WGS84
    # geodesic is ~391.5 km and the spherical haversine sits within
    # ~0.5% of it.
    df = spark.createDataFrame(
        [(1, 1, 1, 2.3522, 48.8566), (1, 2, 2, 4.8357, 45.7640)],
        "user_id bigint, ts bigint, event_id bigint, lon double, lat double")
    out = vincenty_vs_haversine(df).collect()[0]
    assert abs(out["vincenty_m"] - 391_500) < 1_000
    assert abs(out["delta_m"]) < 0.005 * out["vincenty_m"]


def test_vincenty_coincident_zero(spark):
    df = spark.createDataFrame(
        [(1, 1, 1, 2.0, 48.0), (1, 2, 2, 2.0, 48.0)],
        "user_id bigint, ts bigint, event_id bigint, lon double, lat double")
    out = vincenty_vs_haversine(df).collect()[0]
    assert out["vincenty_m"] == 0.0 and out["haversine_m"] == 0.0


def test_rbo_identical_lists(spark):
    a = spark.createDataFrame([(i, float(10 - i)) for i in range(5)],
                              "doc_id bigint, score double")
    out = rank_biased_overlap(a, a, k=5, p=0.9).collect()[0]
    # X_d = d at every depth: RBO of identical rankings is exactly 1
    assert out["rbo_ext"] == 1.0
    assert out["overlap_k"] == 5


def test_rbo_disjoint_lists(spark):
    a = spark.createDataFrame([(i, float(9 - i)) for i in range(5)],
                              "doc_id bigint, score double")
    b = spark.createDataFrame([(i + 100, float(9 - i)) for i in range(5)],
                              "doc_id bigint, score double")
    out = rank_biased_overlap(a, b, k=5, p=0.9).collect()[0]
    assert out["rbo_ext"] == 0.0 and out["overlap_k"] == 0


def test_source_tfidf_cosine_orthogonal_and_identical(spark):
    docs = spark.createDataFrame(
        [("a", "x x y shared"), ("b", "x x y shared"),
         ("c", "z w q shared")],
        "source string, text string")
    rows = {(r["src_a"], r["src_b"]): r["cosine"]
            for r in source_tfidf_cosine(docs).collect()}
    # a and b have identical vectors -> cosine 1; c shares only the
    # idf-zero term 'shared' with them -> no common weighted terms
    assert rows[("a", "b")] == 1.0
    assert ("a", "c") not in rows or rows[("a", "c")] == 0.0
