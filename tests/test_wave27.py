"""Wave-27 operator unit tests: correlogram decay, two-hop counts,
tradeoff-curve accumulation."""


def test_correlogram_decays_on_hot_block(spark):
    from bano_spark.operators.spatialstats import moran_correlogram

    rows = [(x, y, 100 if x < 5 else 0)
            for x in range(10) for y in range(4)]
    cells = spark.createDataFrame(rows, "cx long, cy long, val long")
    out = {r["k"]: r["moran_i"]
           for r in moran_correlogram(cells, [1, 4]).collect()}
    # ring-1 neighbors nearly always share the half -> high I;
    # ring-4 frequently crosses the boundary -> lower I
    assert out[1] > out[4]
    assert out[1] > 0.5


def test_two_hop_path_graph(spark):
    from bano_spark.operators.graph import two_hop_neighborhoods

    # path 0-1-2-3-4
    edges = spark.createDataFrame([(i, i + 1) for i in range(4)],
                                  "src long, dst long")
    out = {r["node"]: (r["degree"], r["n_two_hop"])
           for r in two_hop_neighborhoods(edges).collect()}
    assert out[0] == (1, 2)   # {1, 2}
    assert out[2] == (2, 4)   # {0, 1, 3, 4}
    assert out[1] == (2, 3)   # {0, 2, 3}


def test_selection_tradeoff_accumulates(spark):
    from bano_spark.operators.selection import selection_tradeoff_curve

    docs = spark.createDataFrame(
        [(1, 1.0, 100), (2, 1.0, 100), (3, 0.5, 300), (4, 0.0, 500)],
        "doc_id long, q double, toks long")
    out = {r["score"]: r for r in
           selection_tradeoff_curve(docs, "q", "toks").collect()}
    assert out[1.0]["cum_doc_share"] == 0.5
    assert out[1.0]["cum_token_share"] == 0.2
    assert out[0.0]["cum_doc_share"] == 1.0
    assert out[0.0]["cum_token_share"] == 1.0
    assert out[0.5]["n_tokens"] == 300
