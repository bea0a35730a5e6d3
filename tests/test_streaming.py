"""Structured-Streaming surface: same compiled plan, micro-batch
execution, windowed verdicts with watermark."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from jema_js_spark.streaming.validate_stream import (
    stream_to_violations,
    validated_stream,
    windowed_verdicts,
)

CONTRACT = {
    "required": ["url", "text"],
    "properties": {"url": {"pattern": "^https?://"},
                    "text": {"minLength": 1}},
}


def _drain(query, timeout=60):
    query.processAllAvailable()
    query.stop()


def test_validated_stream_memory_sink(spark):
    # replay a static parquet-like frame through a rate-less stream:
    # use the per-micro-batch format 'rate' mapped onto page-shaped rows
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .withColumn("url", F.when(F.col("value") % 10 == 0,
                                        F.lit("ftp://bad"))
                          .otherwise(F.concat(F.lit("https://ok/"), "value")))
              .withColumn("text", F.when(F.col("value") % 7 == 0, F.lit(""))
                          .otherwise(F.lit("body"))))
    out = validated_stream(stream, CONTRACT)
    q = (out.writeStream.format("memory").queryName("v_stream")
         .outputMode("append").start())
    time.sleep(4)
    _drain(q)
    rows = spark.sql("SELECT * FROM v_stream").collect()
    assert rows, "stream produced no rows"
    for r in rows:
        expected = r["url"].startswith("http") and len(r["text"]) >= 1
        assert r["valid"] == expected


def test_windowed_verdicts(spark):
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "200").load()
              .withColumn("url", F.concat(F.lit("https://ok/"), "value"))
              .withColumn("text", F.lit("body")))
    verd = windowed_verdicts(stream, CONTRACT, ts_col="timestamp",
                             window="10 seconds", watermark="30 seconds")
    q = (verd.writeStream.format("memory").queryName("verd_stream")
         .outputMode("complete").start())
    time.sleep(4)
    _drain(q)
    rows = spark.sql("SELECT * FROM verd_stream").collect()
    assert rows
    assert all(r["n_invalid"] == 0 and r["passed"] for r in rows)


def test_stream_violations(spark):
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .withColumn("url", F.when(F.col("value") % 2 == 0,
                                        F.lit("ftp://bad"))
                          .otherwise(F.lit("https://ok")))
              .withColumn("text", F.lit("body")))
    viol = stream_to_violations(stream, CONTRACT, id_cols=["value"])
    q = (viol.writeStream.format("memory").queryName("viol_stream")
         .outputMode("append").start())
    time.sleep(4)
    _drain(q)
    rows = spark.sql("SELECT * FROM viol_stream").collect()
    assert rows
    assert all(r["keyword"] == "pattern" for r in rows)
    assert all(r["value"] % 2 == 0 for r in rows)


def test_streams_share_the_engine_compile_memo(spark, tmp_path):
    """validated_stream and stream_to_violations are the engine's
    with_valid and violation_rows over the stream: both streams share
    ONE engine.compile_for memo entry, and each emits what its batch
    twin emits on the same rows."""
    from jema_js_spark.runtime import colcache
    from jema_js_spark.schema.frontend import contract_key
    from jema_js_spark.validation.engine import violation_rows, with_valid

    contract = {"$comment": "stream compile memo pin",
                "required": ["url"],
                "properties": {"url": {"pattern": "^https://"},
                               "text": {"maxLength": 3}}}
    ddl = "value long, url string, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, "https://ok" if i % 3 else "ftp://bad",
          "body" if i % 2 else "ok") for i in range(30)], ddl) \
        .write.parquet(src)
    stream = spark.readStream.schema(ddl).parquet(src)
    for name, out in [
            ("memo_valid", validated_stream(stream, contract)),
            ("memo_viol", stream_to_violations(stream, contract,
                                               id_cols=["value"]))]:
        _drain(out.writeStream.format("memory").queryName(name)
               .outputMode("append").start())
    key = contract_key(contract)
    assert sum(1 for k in colcache._CACHE
               if k[1] == "engine.compile_for" and k[2] == key) == 1

    batch = spark.read.parquet(src)
    assert sorted(spark.table("memo_valid").collect()) == sorted(
        with_valid(batch, contract).collect())
    viol = spark.table("memo_viol").collect()
    assert viol and sorted(viol) == sorted(
        violation_rows(batch, contract, ["value"]).collect())


def test_stream_dedup_builtin(spark):
    from jema_js_spark.streaming.validate_stream import stream_dedup

    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .withColumn("key", F.pmod(F.col("value"), F.lit(7))))
    out = stream_dedup(stream, ["key"], ts_col="timestamp",
                       watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("dd_stream")
         .outputMode("append").start())
    time.sleep(4)
    _drain(q)
    rows = spark.sql("SELECT key FROM dd_stream").collect()
    keys = [r["key"] for r in rows]
    assert keys, "stream produced no rows"
    assert len(keys) == len(set(keys)) <= 7  # one row per key


def test_stream_first_seen_stateful(spark, tmp_path):
    """applyInPandasWithState path: exactly one emission per key ACROSS
    micro-batches (state survives batches), same-batch duplicates
    counted, not silent.  Bounded file source + availableNow so the
    query drains deterministically (a rate source outruns python-state
    micro-batches and processAllAvailable never catches up)."""
    from jema_js_spark.streaming.validate_stream import stream_first_seen

    src = str(tmp_path / "src")
    # file 1: keys 0-4, each twice.  file 2: keys 0-4 again (dupes
    # across batches) + new keys 5, 6
    spark.createDataFrame([(v % 5, v) for v in range(10)],
                          "key long, value long").coalesce(1)         .write.mode("overwrite").parquet(src)
    spark.createDataFrame([(v % 5, 100 + v) for v in range(5)]
                          + [(5, 200), (6, 201)],
                          "key long, value long").coalesce(1)         .write.mode("append").parquet(src)
    stream = spark.readStream.schema("key long, value long") \
        .option("maxFilesPerTrigger", "1").parquet(src)
    # ttl_minutes=None: a processing-time timeout makes the engine run
    # no-data batches forever to service expirations, so availableNow
    # would never terminate (documented on the operator)
    out = stream_first_seen(stream, ["key"], ttl_minutes=None)
    # few state partitions: 32 would spin up 32 state stores + python
    # workers per micro-batch for a 17-row fixture
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (out.writeStream.format("memory").queryName("fs_stream")
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120), "availableNow drain did not finish"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = spark.sql(
        "SELECT key, value, first_seen_batch_dupes FROM fs_stream").collect()
    by_key = {r["key"]: r for r in rows}
    assert len(rows) == len(by_key) == 7          # one emission per key
    for k in range(5):                             # first batch wins
        assert by_key[k]["value"] < 100
        assert by_key[k]["first_seen_batch_dupes"] == 1
    assert by_key[5]["value"] == 200 and by_key[6]["value"] == 201
    assert by_key[5]["first_seen_batch_dupes"] == 0


def test_stream_first_seen_reserved_column_is_loud(spark):
    # an input already carrying the reserved output column must fail
    # at construction, not deep inside the state runner (ADVICE r3)
    from jema_js_spark.streaming.validate_stream import stream_first_seen

    df = spark.createDataFrame(
        [(1, 0)], "key long, first_seen_batch_dupes long")
    with pytest.raises(ValueError, match="first_seen_batch_dupes"):
        stream_first_seen(df, ["key"], ttl_minutes=None)


def test_with_valid_json_streaming(spark):
    """The round-5 JSON columnar route is stateless (one masked
    projection, no shuffle), so it must run unchanged under micro-batch
    streaming — conforming docs judged columnar, residue by the
    kernel, verdicts identical to the batch run on the same rows."""
    from jema_js_spark.validation.json_plane import with_valid_json

    contract = {"type": "object", "required": ["k"],
                "properties": {"k": {"type": "integer", "minimum": 0,
                                      "maximum": 80}}}
    doc = (F.when(F.col("value") % 11 == 0, F.lit("not json"))
           .when(F.col("value") % 7 == 0,
                 F.concat(F.lit('{"k": "s'), F.col("value"), F.lit('"}')))
           .otherwise(F.concat(F.lit('{"k": '),
                               F.pmod(F.col("value"), F.lit(100)),
                               F.lit("}"))))
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .withColumn("doc", doc).select("value", "doc"))
    out = with_valid_json(stream, "doc", contract, route_col="route")
    q = (out.writeStream.format("memory").queryName("jv_stream")
         .trigger(processingTime="200 milliseconds").start())
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql("SELECT count(*) FROM jv_stream").collect()[0][0] >= 100:
            break
        time.sleep(0.5)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM jv_stream").collect()
    assert len(rows) >= 100
    batch = spark.createDataFrame([(r["value"], r["doc"]) for r in rows],
                                  "value long, doc string")
    expected = {r["value"]: r["valid"] for r in with_valid_json(
        batch, "doc", contract).collect()}
    routes = {r["route"] for r in rows}
    assert routes == {"columnar", "kernel"}          # both planes ran
    bad = [(r["value"], r["doc"]) for r in rows
           if r["valid"] != expected[r["value"]]]
    assert not bad, bad[:3]


def test_with_valid_json_streaming_map_contract(spark):
    """The round-6 map route under micro-batch streaming: dynamic-key
    verdicts identical to the batch run, both planes exercised."""
    from jema_js_spark.validation.json_plane import (analyze_json_contract,
                                                     with_valid_json)

    contract = {"type": "object",
                "propertyNames": {"pattern": "^[a-z]+$"},
                "additionalProperties": {"type": "integer",
                                         "minimum": 0, "maximum": 80}}
    assert analyze_json_contract(contract).root == \
        ("map", ("integer", None))
    doc = (F.when(F.col("value") % 11 == 0, F.lit('{"K": 1}'))
           .when(F.col("value") % 7 == 0, F.lit('{"a": null}'))
           .otherwise(F.concat(F.lit('{"a":'),
                               F.pmod(F.col("value"), F.lit(100)),
                               F.lit("}"))))
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "500").load()
              .withColumn("doc", doc).select("value", "doc"))
    out = with_valid_json(stream, "doc", contract, route_col="route")
    q = (out.writeStream.format("memory").queryName("jv_map_stream")
         .trigger(processingTime="200 milliseconds").start())
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql("SELECT count(*) FROM jv_map_stream") \
                .collect()[0][0] >= 100:
            break
        time.sleep(0.5)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM jv_map_stream").collect()
    assert len(rows) >= 100
    batch = spark.createDataFrame([(r["value"], r["doc"]) for r in rows],
                                  "value long, doc string")
    expected = {r["value"]: r["valid"] for r in with_valid_json(
        batch, "doc", contract).collect()}
    assert {r["route"] for r in rows} == {"columnar", "kernel"}
    bad = [(r["value"], r["doc"]) for r in rows
           if r["valid"] != expected[r["value"]]]
    assert not bad, bad[:3]


def test_streaming_auto_shape_is_shuffle_free(spark):
    """The routed plan (auto = masked) is shuffle-free in BOTH stream
    and batch mode — the property that keeps it robust per microbatch
    and on residue-heavy corpora."""
    from jema_js_spark.validation.json_plane import with_valid_json

    contract = {"type": "object", "required": ["k"],
                "properties": {"k": {"type": "integer", "minimum": 0}}}
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "10").load()
              .withColumn("doc", F.lit('{"k": 1}')).select("value", "doc"))
    batch = spark.createDataFrame([(1, '{"k": 1}')], "value long, doc string")
    for df in (with_valid_json(stream, "doc", contract),
               with_valid_json(batch, "doc", contract)):
        a = df._jdf.queryExecution().analyzed().toString()
        assert "Repartition " not in a and "rebalance" not in a.lower(), a


def test_windowed_json_verdicts_route_counts(spark):
    """Round 8 (VERDICT r7 #5): streaming route-rate observability —
    every window row carries n_routed/n_kernel so a routing-gate
    regression (verdicts right, throughput collapsed onto the kernel)
    is visible per microbatch window, matching the batch ledger
    metrics."""
    from jema_js_spark.streaming.validate_stream import (
        windowed_json_verdicts)

    from jema_js_spark.compiler.compile import SchemaCompiler
    from jema_js_spark.validation.json_plane import analyze_json_contract

    contract = {"type": "object", "required": ["k"],
                "properties": {"k": {"type": "integer", "minimum": 0,
                                     "maximum": 80}}}
    # the same contract carrying a Plane-B check (uncovered
    # unevaluatedProperties claims → whole-node kernel fallback inside
    # the compiled plan): it takes the same single routed shape
    netted = dict(contract, anyOf=[
        {"required": ["k"]},
        {"properties": {"alias": {"type": "string"}},
         "required": ["alias"]}], unevaluatedProperties=False)
    plan = analyze_json_contract(netted)
    st = plan.struct_type()
    assert SchemaCompiler(netted).compile_plan_for_column(
        F.lit(None).cast(st), st).coverage()["plane_b_checks"] > 0
    # slots: %11 → malformed (kernel, invalid), %7 → wrong type
    # (kernel, invalid), rest canonical (columnar; k>80 → invalid)
    doc = (F.when(F.col("value") % 11 == 0, F.lit("not json"))
           .when(F.col("value") % 7 == 0,
                 F.concat(F.lit('{"k": "s'), F.col("value"), F.lit('"}')))
           .otherwise(F.concat(F.lit('{"k": '),
                               F.pmod(F.col("value"), F.lit(100)),
                               F.lit("}"))))
    for name, c in (("jwv_stream", contract), ("jwv_b_stream", netted)):
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", "500").load()
                  .withColumn("doc", doc)
                  .select("timestamp", "value", "doc"))
        verd = windowed_json_verdicts(stream, "doc", c,
                                      ts_col="timestamp",
                                      window="5 seconds",
                                      watermark="30 seconds")
        q = (verd.writeStream.format("memory").queryName(name)
             .outputMode("complete").start())
        deadline = time.time() + 60
        while time.time() < deadline:
            got = spark.sql(
                f"SELECT coalesce(sum(n_rows), 0) FROM {name}").collect()
            if got[0][0] >= 200:
                break
            time.sleep(0.5)
        _drain(q)
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        assert rows and sum(r["n_rows"] for r in rows) >= 200, name
        tot = sum(r["n_rows"] for r in rows)
        routed = sum(r["n_routed"] for r in rows)
        kernel = sum(r["n_kernel"] for r in rows)
        assert routed + kernel == tot
        assert routed > 0 and kernel > 0, name    # both planes visible
        # the designed kernel share is 1/11 + 1/7 - overlap(1/77) ≈
        # 22%: route_rate must sit near it, far from the 0.0 a gate
        # regression would print
        assert 0.5 < routed / tot < 0.95, (name, routed / tot)
        for r in rows:
            assert r["n_rows"] == r["n_routed"] + r["n_kernel"]
            assert abs(r["route_rate"] - r["n_routed"] / r["n_rows"]) \
                < 1e-9
