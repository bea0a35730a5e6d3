"""Seeded inputs, contracts and reference counts for the benchmark.

Everything the engine receives is generated here from the run's seed:
the same seed gives byte-identical documents and contracts.  The
reference counts every timed call is checked against come from paths
independent of the routed/compiled planes under test: a plain Spark SQL
recount for the page contract, and the row kernel inside
``kernel_validate_udf`` / ``kernel_error_count_udf`` for JSON contracts.
"""

from __future__ import annotations

import copy
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__
from jema_js_spark import bench_contracts
from jema_js_spark.sources.pages import LANGS, synthetic_pages
from jema_js_spark.validation.kernel_udf import (kernel_error_count_udf,
                                                 kernel_validate_udf)


# Private copies taken at import: the engine adds "$schema" to contract
# dicts it is given, and a derived contract must not depend on whether
# its base was used before.
PAGE_CONTRACT = copy.deepcopy(__spark_entry__.PAGE_CONTRACT)
REPRESENTATIVE_KERNEL_CONTRACT = copy.deepcopy(
    bench_contracts.REPRESENTATIVE_KERNEL_CONTRACT)
TRIVIAL_CONTRACT = copy.deepcopy(bench_contracts.TRIVIAL_CONTRACT)

_NAME_PATTERNS = ["^user[0-9]+$", "^user[0-9]{1,5}$", "^user1", "[02468]$"]
_URL_PATTERNS = ["^https?://", "^https://d[0-9]+\\.", "^https://d1"]


def _hash(seed: int, salt: int):
    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed * 16 + salt)),
                  F.lit(1 << 31))


def mixed_docs(spark: SparkSession, n: int, seed: int,
               num_partitions: int = 8) -> DataFrame:
    """``(id, doc)`` rows with the slot layout of
    ``bench_contracts.mixed_json_docs`` but seeded values.

    Slots (exactly ``n / 10`` rows each when ``n`` is a multiple of 10,
    because the multiplier is coprime to 10):
      0-6  canonical ``to_json`` rendering   → routed plane
      7    same shape with whitespace        → routed plane (variant gates)
      8    ``k`` as a string                 → kernel
      9    truncated JSON                    → kernel (``__parse__``)
    """
    mult = (1, 3, 7, 9)[seed % 4]
    slot = F.pmod(F.col("id") * mult + seed // 4, F.lit(10))
    k = _hash(seed, 0) % 100
    num = _hash(seed, 1) % 1000000
    xs = [_hash(seed, 2) % 7, _hash(seed, 3) % 11, _hash(seed, 4) % 13]
    canonical = F.to_json(F.struct(
        k.alias("k"), F.concat(F.lit("user"), num).alias("name"),
        F.array(*xs).alias("xs")))
    spaced = F.concat(
        F.lit('{ "k": '), k.cast("string"), F.lit(', "name": "user'),
        num.cast("string"), F.lit('", "xs": ['), xs[0].cast("string"),
        F.lit(", "), xs[1].cast("string"), F.lit(", "),
        xs[2].cast("string"), F.lit("] }"))
    wrong_type = F.concat(F.lit('{"k":"'), num.cast("string"),
                          F.lit('","name":"user","xs":[1,2,3]}'))
    malformed = F.concat(F.lit('{"k": '), num.cast("string"))
    return spark.range(n, numPartitions=num_partitions).select(
        "id",
        F.when(slot == 9, malformed).when(slot == 8, wrong_type)
        .when(slot == 7, spaced).otherwise(canonical).alias("doc"))


def page_docs(spark: SparkSession, n: int, seed: int, first_id: int,
              num_partitions: int = 4) -> DataFrame:
    """``(id, doc)`` rows: synthetic pages rendered as JSON objects."""
    return synthetic_pages(spark, n, seed=seed,
                           num_partitions=num_partitions).select(
        (F.monotonically_increasing_id() + first_id).alias("id"),
        F.to_json(F.struct("url", F.col("warc_ts").cast("string")
                           .alias("warc_ts"), "text", "lang")).alias("doc"))


def annotated(contract: dict, tag: str) -> dict:
    """``contract`` plus a ``$comment``: a new contract to every memo in
    the engine, with verdicts identical to the original's."""
    out = copy.deepcopy(contract)
    out["$comment"] = f"perfbench {tag}"
    return out


CHURN_SHAPES = 3


def churn_contract(seed: int, tag: str, shape: int) -> dict:
    """A seed-derived contract of the representative (0), trivial (1) or
    page (2) shape, with its bounds, enums and patterns varied."""
    rnd = random.Random(f"{seed}/{tag}")
    if shape == 0:
        c = copy.deepcopy(REPRESENTATIVE_KERNEL_CONTRACT)
        c["properties"]["k"]["minimum"] = rnd.randrange(0, 40)
        c["$defs"]["small_int"]["maximum"] = rnd.randrange(8, 16)
        c["properties"]["xs"]["minItems"] = rnd.randrange(1, 4)
        c["properties"]["name"]["allOf"][1]["pattern"] = rnd.choice(
            _NAME_PATTERNS)
        c["if"]["properties"]["k"]["minimum"] = rnd.randrange(20, 90)
        c["else"]["properties"]["name"]["maxLength"] = rnd.randrange(6, 41)
    elif shape == 1:
        c = copy.deepcopy(TRIVIAL_CONTRACT)
        c["properties"]["k"]["minimum"] = rnd.randrange(0, 60)
        c["properties"]["k"]["maximum"] = rnd.randrange(60, 120)
        c["properties"]["name"]["maxLength"] = rnd.randrange(6, 64)
        c["properties"]["name"]["pattern"] = rnd.choice(_NAME_PATTERNS)
    else:
        c = copy.deepcopy(PAGE_CONTRACT)
        props = c["properties"]
        props["url"]["maxLength"] = rnd.randrange(40, 2048)
        props["url"]["pattern"] = rnd.choice(_URL_PATTERNS)
        props["text"]["minLength"] = rnd.randrange(1, 200)
        props["lang"]["enum"] = sorted(rnd.sample(LANGS, rnd.randrange(3, 8)))
    return annotated(c, f"churn {seed}/{tag}")


def page_reference(df: DataFrame) -> tuple:
    """(rows, valid, violation rows) for ``PAGE_CONTRACT`` by a plain
    Spark SQL recount of its checks: the four required fields, the url
    length and prefix, the text length and the language enum."""
    langs = PAGE_CONTRACT["properties"]["lang"]["enum"]
    failed = [
        F.col("url").isNull(), F.col("warc_ts").isNull(),
        F.col("text").isNull(), F.col("lang").isNull(),
        F.length("url") > 2048, ~F.col("url").rlike("^https?://"),
        F.length("text") < 1, ~F.col("lang").isin(langs),
    ]
    n_failed = sum(F.coalesce(f, F.lit(False)).cast("long") for f in failed)
    row = df.select(n_failed.alias("f")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("f") == 0).cast("long")).alias("valid"),
        F.sum("f").alias("rows")).collect()[0]
    return row["n"], row["valid"], row["rows"]


def kernel_references(df: DataFrame, contracts: list) -> list:
    """[(rows, valid, violation rows)] per contract over ``(id, doc)``,
    judged by the row kernel in one Spark job.  A document the kernel
    cannot parse or judge counts as one violation row, matching the
    single ``__parse__`` / ``__error__`` row the errors API emits."""
    cols = []
    for j, c in enumerate(contracts):
        v = F.coalesce(kernel_validate_udf(c)(F.col("doc")), F.lit(False))
        e = kernel_error_count_udf(c)(F.col("doc"))
        cols += [v.cast("long").alias(f"v{j}"),
                 F.when(e < 0, 1).otherwise(e).cast("long").alias(f"e{j}")]
    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(len(contracts)):
        aggs += [F.sum(f"v{j}").alias(f"v{j}"), F.sum(f"e{j}").alias(f"e{j}")]
    row = df.select(*cols).agg(*aggs).collect()[0]
    return [(row["n"], row[f"v{j}"], row[f"e{j}"])
            for j in range(len(contracts))]
