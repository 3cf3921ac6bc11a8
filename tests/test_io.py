"""IO tests: reference-compat headerless CSV roundtrip (S1-S3, S6-S9) and the
positional join (J2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from gan_deeplearning4j_spark.io import (
    mnist_like_schema,
    read_headerless_csv,
    read_mnist_csv,
    write_headerless_csv,
)
from gan_deeplearning4j_spark.operators.relational import positional_join


def test_mnist_csv_roundtrip(spark, tmp_path):
    """S6 write → S1/S3 read: headerless 785-col float CSV with label at
    position 784 (the reference's implicit schema, java:68)."""
    n, d = 20, 784
    rng = np.random.default_rng(666)
    x = rng.uniform(0, 1, (n, d)).round(2)
    y = rng.integers(0, 10, n)
    rows = [tuple(list(map(float, x[i])) + [float(y[i])]) for i in range(n)]
    df = spark.createDataFrame(rows, mnist_like_schema(d))
    path = str(tmp_path / "mnist_csv")
    write_headerless_csv(df, path)

    back = read_mnist_csv(spark, path, d).orderBy("label").toPandas()
    assert len(back) == n
    assert len(back["features"][0]) == d
    assert sorted(back["label"]) == sorted(int(v) for v in y)


def _write_lines(path, lines) -> str:
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.mark.parametrize("n_fields", [784, 786])
def test_mnist_csv_wrong_field_count_raises(spark, tmp_path, n_fields):
    """A line without 785 fields fails the scan instead of becoming nulls
    or a shorter vector."""
    good = ",".join(["0.5"] * 784 + ["3"])
    bad = ",".join(["0.5"] * n_fields)
    path = _write_lines(tmp_path / "bad.csv", [good, bad])
    df = read_mnist_csv(spark, path)
    with pytest.raises(PySparkException, match=f"has {n_fields} fields, expected 785"):
        df.collect()


def test_mnist_csv_text_scan_matches_csv_reader(spark, tmp_path):
    """The text scan yields the rows of the schema-declared CSV reader packed
    into one array: integer, negative and exponent-form cells parse alike,
    and a trailing blank line is skipped by both."""
    cells = ["0", "-1.5", "1e-05", "0.25"]
    lines = [
        ",".join([cells[(i + j) % 4] for j in range(784)] + [str(i % 10)])
        for i in range(3)
    ]
    path = _write_lines(tmp_path / "digits.csv", lines + [""])

    old = read_headerless_csv(spark, path, mnist_like_schema()).select(
        F.array(*[F.col(f"px{i}") for i in range(784)]).alias("features"),
        F.col("label").cast("int").alias("label"),
    )
    new = read_mnist_csv(spark, path)
    assert new.schema.simpleString() == "struct<features:array<double>,label:int>"
    got = [(tuple(r["features"]), r["label"]) for r in new.collect()]
    want = [(tuple(r["features"]), r["label"]) for r in old.collect()]
    assert len(got) == 3
    assert got == want


def test_headerless_csv_declared_schema(spark, tmp_path):
    df = spark.createDataFrame([(1.5, 2.5), (3.0, 4.0)], "a: double, b: double")
    path = str(tmp_path / "plain_csv")
    write_headerless_csv(df, path)
    back = read_headerless_csv(spark, path, df.schema)
    assert back.schema == df.schema
    got = sorted((r["a"], r["b"]) for r in back.collect())
    assert got == [(1.5, 2.5), (3.0, 4.0)]


def test_positional_join_aligns_rows(spark):
    """J2 (gan.ipynb raw 405): prediction row i ↔ label row i."""
    preds = spark.createDataFrame([(0.9,), (0.1,), (0.8,)], "p: double")
    labels = spark.createDataFrame([(1,), (0,), (1,)], "y: int")
    j = positional_join(preds, labels).orderBy("p").collect()
    pairs = {(r["p"], r["y"]) for r in j}
    assert pairs == {(0.9, 1), (0.1, 0), (0.8, 1)}


def test_json_roundtrip_with_schema(spark, sf_dir, tmp_path):
    """JSON source/sink: schema-declared read back equals the written data
    (arrays survive; no inference pass when schema given)."""
    from gan_deeplearning4j_spark.io import load_table, read_json, write_json

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    p = str(tmp_path / "emb_json")
    write_json(emb, p)
    back = read_json(spark, p, emb.schema)
    assert back.schema == emb.schema
    a = sorted(r["vec_id"] for r in back.collect())
    b = sorted(r["vec_id"] for r in emb.collect())
    assert a == b


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/scan: values round-trip and filters reach the ORC scan."""
    from gan_deeplearning4j_spark.io import load_table, read_orc, write_orc
    from gan_deeplearning4j_spark.plans.explain import formatted_plan

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    ).limit(1000)
    p = str(tmp_path / "li_orc")
    write_orc(li, p)
    back = read_orc(spark, p).filter(F.col("l_returnflag") == "R")
    plan = formatted_plan(back)
    assert "orc" in plan.lower()
    assert "l_returnflag" in plan
    assert back.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_load_events_normalizes_either_ts_encoding(spark, sf_dir, tmp_path):
    """The corpus has shipped events.ts both as TIMESTAMP(NANOS) (long under
    the legacy conf) and as micro TIMESTAMP — load_events must yield the
    same (ts timestamp, ts_nanos bigint) contract from either encoding."""
    from pyspark.sql import functions as F

    from gan_deeplearning4j_spark.io import load_events

    ev = load_events(spark, sf_dir)
    types = dict(ev.dtypes)
    assert types["ts"].startswith("timestamp")
    assert types["ts_nanos"] == "bigint"
    # ts and ts_nanos agree at microsecond precision
    bad = ev.filter(
        F.unix_micros(F.col("ts").cast("timestamp")) * 1000 != F.col("ts_nanos")
    ).count()
    assert bad == 0

    # re-materialize as long nanos (the round-1/2 encoding) and re-load
    src = str(tmp_path / "events.parquet")
    ev.select(
        "event_id",
        F.col("ts_nanos").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.parquet(src)
    ev2 = load_events(spark, str(tmp_path))
    # same rows, same micro timestamps, regardless of source encoding
    a = sorted(r["ts_nanos"] for r in ev.select("ts_nanos").collect())
    b = sorted(r["ts_nanos"] for r in ev2.select("ts_nanos").collect())
    assert a == b


def test_sharded_jsonl_sink_two_phase_commit(spark, tmp_path):
    """Python DataSource WRITER: shards stream per task, the driver-side
    commit publishes final names + manifest, no temp residue survives."""
    import json
    import os

    from gan_deeplearning4j_spark.sources.pydatasource import (
        HAVE_PY_DATASOURCE,
        ShardedJsonlSink,
    )

    if not HAVE_PY_DATASOURCE:
        import pytest

        pytest.skip("pyspark < 4: no Python DataSource API")

    spark.dataSource.register(ShardedJsonlSink)
    out = str(tmp_path / "shards")
    df = spark.range(1000).selectExpr("id", "id * 3 as v").repartition(4)
    df.write.format("sharded_jsonl").mode("append").save(out)

    names = sorted(os.listdir(out))
    assert "_MANIFEST.json" in names
    shards = [n for n in names if n.startswith("shard-")]
    assert len(shards) == 4
    assert not [n for n in names if n.startswith(".tmp-")]

    with open(os.path.join(out, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert sorted(m["shard"] for m in manifest) == shards
    assert sum(m["n_rows"] for m in manifest) == 1000

    back = spark.read.json(os.path.join(out, "shard-*.jsonl"))
    assert back.count() == 1000
    got = back.selectExpr("sum(id) s", "sum(v) sv").collect()[0]
    assert (got.s, got.sv) == (499500, 1498500)


def test_sharded_jsonl_sink_overwrite_removes_stale_shards(spark, tmp_path):
    """mode('overwrite') onto a directory holding a previous LARGER write
    must not leave stale shards behind: a `*.jsonl` glob (not just the
    manifest) sees exactly the new data. Leftover task-attempt temps are
    swept too."""
    import os

    from gan_deeplearning4j_spark.sources.pydatasource import (
        HAVE_PY_DATASOURCE,
        ShardedJsonlSink,
    )

    if not HAVE_PY_DATASOURCE:
        import pytest

        pytest.skip("pyspark < 4: no Python DataSource API")

    spark.dataSource.register(ShardedJsonlSink)
    out = str(tmp_path / "shards")
    big = spark.range(800).selectExpr("id", "id as v").repartition(8)
    big.write.format("sharded_jsonl").mode("append").save(out)
    assert len([n for n in os.listdir(out) if n.startswith("shard-")]) == 8

    # a failed attempt's temp file that no commit message covers
    with open(os.path.join(out, ".tmp-deadbeef.jsonl"), "w") as f:
        f.write('{"id": 0, "v": 0}\n')

    small = spark.range(100).selectExpr("id", "id * 2 as v").repartition(2)
    small.write.format("sharded_jsonl").mode("overwrite").save(out)

    names = sorted(os.listdir(out))
    shards = [n for n in names if n.endswith(".jsonl")
              and not n.startswith(".")]
    assert len(shards) == 2                      # the 6 stale shards gone
    assert not [n for n in names if n.startswith(".tmp-")]
    back = spark.read.json(os.path.join(out, "*.jsonl"))
    assert back.count() == 100                   # glob readers see new only
    assert back.selectExpr("sum(v) sv").collect()[0].sv == 9900


def test_python_streaming_datasource_matches_batch(spark, tmp_path):
    """Python STREAMING DataSource (Spark 4 SimpleDataSourceStreamReader):
    the offset-cursor source must deliver exactly the batch source's rows
    across multiple micro-batches, and a replay between committed offsets
    (readBetweenOffsets — the checkpoint-recovery contract) must return
    the identical slice."""
    from gan_deeplearning4j_spark.sources.pydatasource import (
        HAVE_PY_DATASOURCE,
        N_ROWS,
        SynthQuadraticStreamReader,
        SynthQuadraticStreamSource,
    )

    if not HAVE_PY_DATASOURCE:
        import pytest

        pytest.skip("pyspark < 4: no Python DataSource API")

    spark.dataSource.register(SynthQuadraticStreamSource)
    stream = spark.readStream.format("synth_quadratic_stream").load()
    assert stream.isStreaming
    q = (stream.writeStream.format("memory").queryName("pyds_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "select count(*) n, sum(id) si, sum(val) sv from pyds_stream"
    ).collect()[0]
    want_sv = sum((i * i) % 97 for i in range(N_ROWS))
    assert (got.n, got.si, got.sv) == (N_ROWS, N_ROWS * (N_ROWS - 1) // 2,
                                       want_sv)
    # more than one micro-batch actually ran (offset pagination worked)
    assert q.lastProgress is not None
    assert int(q.lastProgress["batchId"]) >= 2
    # exactly-once replay contract: a re-read of a committed offset range
    # returns the identical slice
    rd = SynthQuadraticStreamReader()
    replay = list(rd.readBetweenOffsets({"pos": 2500}, {"pos": 5000}))
    assert replay == [(i, (i * i) % 97) for i in range(2500, 5000)]


def test_schema_cache_skips_reinference_and_stays_value_identical(spark, sf_dir):
    """The per-(sf_dir, table) schema memo (io._SCHEMA_CACHE) must change
    NOTHING about what load_table returns: same schema, same rows, and a
    fresh DataFrame object per call (two loads of one table must stay
    join-compatible, never one shared plan node). The cache's effect is
    driver-side only — a warm entry removes the schema-inference job that
    a bare spark.read.parquet runs per call (guide §5)."""
    import gan_deeplearning4j_spark.io as io

    for name in ("lineitem", "events"):
        io._SCHEMA_CACHE.pop((sf_dir, name), None)
        a = io.load_table(spark, sf_dir, name)      # infers + populates
        assert (sf_dir, name) in io._SCHEMA_CACHE
        b = io.load_table(spark, sf_dir, name)      # cached-schema path
        assert a is not b
        assert a.schema == b.schema
        key = a.columns[0]
        ra = a.orderBy(key).limit(25).collect()
        rb = b.orderBy(key).limit(25).collect()
        assert ra == rb

    # two loads of the same table must still self-join without ambiguity
    x = io.load_table(spark, sf_dir, "nation")
    y = io.load_table(spark, sf_dir, "nation")
    assert x.join(y, x.n_nationkey == y.n_nationkey).count() == x.count()
