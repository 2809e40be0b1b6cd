"""Checkpoint/lineage resumability + the tile-expiry streaming path."""

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bano_spark import synth
from bano_spark.geo import tiles
from bano_spark.plans.lineage import CheckpointLog, resumable_partition_write
from bano_spark.streaming.incremental import dirty_insee_batch, run_dirty_insee_stream
from tests.test_oracles_parse import SF_DIR  # noqa: E402


def test_resumable_write_skips_done(spark, tmp_path):
    log = CheckpointLog(spark, str(tmp_path / "log"))
    out = str(tmp_path / "out")
    df = spark.range(100).withColumn("dept", (F.col("id") % 4).cast("string"))

    first = resumable_partition_write(df, out, "dept", log, "BAN", "load")
    assert first == ["0", "1", "2", "3"]
    # second run: everything already done -> no keys written
    second = resumable_partition_write(df, out, "dept", log, "BAN", "load")
    assert second == []
    # partial resume: pretend dept 2 and 3 were never done
    log2 = CheckpointLog(spark, str(tmp_path / "log2"))
    log2.append([("BAN", "load", "0", 25, 0.0, 1.0, "x"),
                 ("BAN", "load", "1", 25, 0.0, 1.0, "x")])
    third = resumable_partition_write(df, out, "dept", log2, "BAN", "load")
    assert third == ["2", "3"]
    # output still complete
    assert spark.read.parquet(out).count() == 100


def _files(root) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in Path(root).rglob("*") if p.is_file()}


def test_resumable_write_runs_upstream_once(spark, tmp_path):
    """The write is the only action on the input: a UDF that counts the
    rows it sees runs once per row, not once for the keys and again for
    the write."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def dept_of(i):
        seen.add(1)
        return str(i % 3)

    df = spark.range(60).withColumn("dept", dept_of("id"))
    log = CheckpointLog(spark, str(tmp_path / "log"))
    assert resumable_partition_write(
        df, str(tmp_path / "out"), "dept", log, "BAN", "load") == ["0", "1", "2"]
    assert seen.value == 60


def test_resumable_write_logs_rows_per_key(spark, tmp_path):
    """nb_rows per key is the input's groupBy count, also for keys that
    Spark escapes in partition directory names; a re-run with every key
    done writes nothing, logs nothing and leaves the store's bytes."""
    keys = ["a b", "x/y", "50%", "k=v", "plain"]
    df = spark.range(103).withColumn(
        "dept", F.element_at(F.array(*map(F.lit, keys)),
                             (F.col("id") % 7 % len(keys) + 1).cast("int")))
    log = CheckpointLog(spark, str(tmp_path / "log"))
    out = str(tmp_path / "out")
    assert resumable_partition_write(df, out, "dept", log, "BAN", "load") \
        == sorted(keys)
    want = {r[0]: r[1] for r in df.groupBy("dept").count().collect()}
    rows = log.read().collect()
    assert {r.partition_key: r.nb_rows for r in rows} == want
    assert len(rows) == len(keys)
    assert all(r.ts_start <= r.ts_end for r in rows)

    store, log_files = _files(out), _files(log.path)
    assert resumable_partition_write(df, out, "dept", log, "BAN", "load") == []
    assert _files(out) == store
    assert _files(log.path) == log_files


def test_resumable_write_rejects_null_key(spark, tmp_path):
    df = spark.range(4).withColumn(
        "dept", F.when(F.col("id") > 0, F.col("id").cast("string")))
    log = CheckpointLog(spark, str(tmp_path / "log"))
    with pytest.raises(Exception, match="null or empty dept"):
        resumable_partition_write(df, str(tmp_path / "out"), "dept", log,
                                  "BAN", "load")
    assert log.read().count() == 0


def test_resumable_write_resumes_after_crash(spark, tmp_path, monkeypatch):
    """A crash between the partition write and the log append: the re-run
    of the same etape rewrites the unlogged partitions, the store equals
    a DuckDB rollup of the input, and every key is logged once."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(5)
    inp = pd.DataFrame({"dept": rng.choice(["d13", "d2a", "d75", "d971"], 500),
                        "v": rng.integers(0, 1000, 500)})
    rollup = (spark.createDataFrame(inp).groupBy("dept")
              .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")))
    log = CheckpointLog(spark, str(tmp_path / "log"))
    out = str(tmp_path / "out")

    def crash(self, rows):
        raise RuntimeError("crash before the log append")

    with monkeypatch.context() as m:
        m.setattr(CheckpointLog, "append", crash)
        with pytest.raises(RuntimeError, match="crash"):
            resumable_partition_write(rollup, out, "dept", log, "pts", "night")
    assert log.completed("pts", "night") == set()
    assert resumable_partition_write(rollup, out, "dept", log, "pts", "night") \
        == ["d13", "d2a", "d75", "d971"]

    con = duckdb.connect()
    con.register("inp", inp)
    want = con.execute("SELECT dept, count(*), sum(v) FROM inp "
                       "GROUP BY dept ORDER BY dept").fetchall()
    got = con.execute(
        f"SELECT dept, n, s FROM read_parquet('{out}/*/*.parquet', "
        "hive_partitioning = true) ORDER BY dept").fetchall()
    assert got == want
    logged = [(r.partition_key, r.nb_rows) for r in
              log.read().orderBy("partition_key").collect()]
    assert logged == [("d13", 1), ("d2a", 1), ("d75", 1), ("d971", 1)]


def test_update_path_frames_scan_in_jvm(spark, tmp_path):
    """The broadcast cover of spatial_join and the checkpoint log rows are
    driver-built; each must run as a LocalTableScan, not as a scan of a
    pickled RDD that re-serialises its rows through a Python worker."""
    import io
    from contextlib import redirect_stdout

    from bano_spark.operators.pip_join import spatial_join

    if not Path(SF_DIR).is_dir():
        pytest.skip("needs the sf0.001 tables")
    # a real polygon table is parquet; the list-built fixture frame would
    # itself scan as a pickled RDD
    polys = str(tmp_path / "polys")
    synth.refine_polygons_df(spark).write.parquet(polys)
    points = synth.points_df(spark, SF_DIR)
    log = CheckpointLog(spark, str(tmp_path / "log"))

    def check(df):
        df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan

    for split in (False, True):
        check(spatial_join(points, spark.read.parquet(polys), zoom=15,
                           broadcast=True, split_refine=split))
    check(log.read())
    check(log.frame([("BAN", "load", "01", 3, 0.0, 1.0, "r")]))


def test_resumable_write_leaves_session_overwrite_mode(spark, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        log = CheckpointLog(spark, str(tmp_path / "log"))
        df = spark.range(8).withColumn("dept", (F.col("id") % 2).cast("string"))
        resumable_partition_write(df, str(tmp_path / "out"), "dept", log,
                                  "BAN", "load")
        assert spark.conf.get(key) == "static"
        # a later plain partitioned overwrite in the same session still
        # replaces the whole directory: a stale partition does not survive
        staging = str(tmp_path / "staging")
        df.write.mode("overwrite").partitionBy("dept").parquet(staging)
        df.filter("dept = '0'").write.mode("overwrite") \
            .partitionBy("dept").parquet(staging)
        assert sorted(p.name for p in Path(staging).glob("dept=*")) == ["dept=0"]
    finally:
        spark.conf.set(key, prior)


def test_corrupt_log_raises(spark, tmp_path):
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|read"):
        CheckpointLog(spark, str(log_dir)).completed("BAN", "load")


def _tile_lines(path: Path, coords):
    path.mkdir(parents=True, exist_ok=True)
    z = tiles.DEFAULT_ZOOM
    (path / "a.tiles").write_text(
        "".join(f"{z}/{tiles.py_tile_x(x, z)}/{tiles.py_tile_y(y, z)}\n"
                for x, y in coords))


def test_streaming_dirty_insee(spark, tmp_path):
    feed = tmp_path / "feed"
    # one tile in 01002, one in the 3rd Paris arrondissement
    _tile_lines(feed, [(synth.REG0 + 15000.0, synth.REGY0 + 50.0),
                       (synth.PARIS0 + 25000.0, synth.REGY0 + 50.0)])
    communes = synth.commune_polygons_df(spark)
    out = tmp_path / "dirty"
    run_dirty_insee_stream(spark, str(feed), communes, str(out), str(tmp_path / "ck"))
    got = sorted(r.insee_com for r in
                 spark.read.parquet(str(out / "*")).collect())
    assert got == ["01002", "75103"]
    # batch twin agrees
    batch = sorted(r.insee_com for r in
                   dirty_insee_batch(spark, str(feed), communes).collect())
    assert batch == got


def test_partitioned_layout_prunes(spark, tmp_path):
    """Filters on the partition column must become scan-time
    PartitionFilters (directory pruning), and the quadkey sort must be
    attached — the Iceberg-layout stand-in (plans/layout.py)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from bano_spark.plans.layout import read_pruned, with_quadkey, write_layout

    df = spark.range(0, 2000).select(
        F.col("id"),
        F.expr("CASE WHEN id % 2 = 0 THEN '01' ELSE '02' END").alias("dept"),
        (1000003.0 + (F.col("id") % 100) * 1000.0).alias("x"),
        (2000003.0 + (F.col("id") % 90) * 100.0).alias("y"))
    df = with_quadkey(df)
    out = str(tmp_path / "cumul")
    write_layout(df, out, ["dept"], ["quadkey"])

    back = read_pruned(spark, out).filter(F.col("dept") == "01")
    assert back.count() == 1000
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the dept predicate lands in PartitionFilters, not a post-scan Filter
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "dept" in pf_line


def test_stateful_running_stats(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    two input files processed as separate batches must fold into one
    running (count, sum) per key."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bano_spark.streaming.stateful import run_running_stats_stream

    src = tmp_path / "feed"
    src.mkdir()
    pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, 2.0, 10.0]}).to_parquet(
        src / "f1.parquet")
    pd.DataFrame({"k": ["a", "b"], "v": [4.0, 20.0]}).to_parquet(
        src / "f2.parquet")
    schema = "k string, v double"
    # one file per trigger => two micro-batches
    feed = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src)))
    from bano_spark.streaming.stateful import running_commune_stats
    out = running_commune_stats(
        feed.select(F.col("k").alias("key"), F.col("v").alias("value"))
        .groupBy("key"))
    q = (out.writeStream.format("memory").queryName("rs_test")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r.key: (r.n_rows, r.sum_value)
            for r in spark.table("rs_test").orderBy("key").collect()
            }  # update mode: last row per key wins; collect dedups below
    final = {}
    for r in spark.table("rs_test").collect():
        prev = final.get(r.key)
        if prev is None or r.n_rows >= prev[0]:
            final[r.key] = (r.n_rows, r.sum_value)
    assert final["a"] == (3, 7.0)
    assert final["b"] == (2, 30.0)


def test_iceberg_surface_guarded(spark):
    """The native-Iceberg adapter (plans/iceberg.py) activates only
    when the catalog jars exist; in this sandbox the probe must report
    False and the parquet stand-ins stay in charge. When jars ARE
    present, exercise the round-trip."""
    from bano_spark.plans import iceberg as I

    if not I.iceberg_available(spark):
        import pytest
        pytest.skip("no Iceberg jars in sandbox — parquet stand-in path "
                    "covered by the lineage/layout/incremental tests")
    df = spark.range(10).withColumn("dept", (F.col("id") % 3).cast("string"))
    I.create_partitioned(df, "local.t_ice", ["dept"])
    I.overwrite_partitions(
        df.filter("dept = '1'").withColumn("id", F.col("id") + 100),
        "local.t_ice")
    ids = I.snapshot_ids(spark, "local.t_ice")
    assert len(ids) >= 2
    inc = I.read_incremental(spark, "local.t_ice", ids[0], ids[-1])
    assert inc.count() > 0
