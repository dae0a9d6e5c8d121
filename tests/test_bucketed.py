"""Bucketed-table layout: the co-located join/aggregate plan shape
(sources/bucketed.py) — write once bucketed by the join key, then every
downstream join AND aggregation on that key runs with zero Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.catalog import table
from olist_ecommerce_data_warehouse_spark.sources.bucketed import read_table, write_bucketed
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # clear orphan managed-table locations left by a previous session
    # (DROP TABLE can't see them once the catalog forgot the table)
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(o, "b_orders", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    write_bucketed(li, "b_lineitem", ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"])
    return read_table(spark, "b_orders"), read_table(spark, "b_lineitem")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    """fact⨝fact on the bucket key: matching buckets join pairwise —
    no Exchange on either side, and rows are correct."""
    bo, bl = bucketed_tables
    joined = bl.join(bo.hint("merge"), "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert joined.count() == table(spark, SF_DIR, "lineitem").count()


def test_bucketed_groupby_is_shuffle_free(spark, bucketed_tables):
    """Aggregation on the bucket key reuses the bucket layout as its
    partitioning — a per-order rollup over a bucketed fact pays zero
    shuffle (the recurring-pipeline win of the one-time bucketed write)."""
    _, bl = bucketed_tables
    rolled = bl.groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q"))
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    expected = table(spark, SF_DIR, "lineitem").select("l_orderkey").distinct().count()
    assert rolled.count() == expected


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """Hive-style partitionBy layout: a filter on the partition column
    must appear as PartitionFilters at the scan (whole directories
    skipped), not a post-scan Filter — at 100 TB this is the difference
    between reading one day and reading three years."""
    out = str(tmp_path_factory.mktemp("part") / "events_by_type")
    ev = table(spark, SF_DIR, "events")
    ev.write.partitionBy("event_type").parquet(out)
    scan = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "event_type" in pf_line, pf_line
    assert scan.count() == ev.filter(F.col("event_type") == "click").count()


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path_factory):
    """JSONL source/sink: a corpus shard round-trips exactly through
    write_jsonl/read_jsonl with an explicit schema; corrupt lines land
    in the quarantine side with their raw text instead of failing the
    load or being silently dropped; FAILFAST aborts on them."""
    import gzip
    import os

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )
    from tests.conftest import SF_DIR

    base = tmp_path_factory.mktemp("jsonl")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    # clean round-trip (gzip-sharded, the production corpus layout)
    out = f"{base}/shards"
    write_jsonl(docs, out)
    assert any(f.endswith(".json.gz") for f in os.listdir(out))
    back = read_jsonl(spark, out, schema)
    clean, quarantine = split_corrupt(back)
    assert quarantine.count() == 0
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, docs.collect()))

    # corrupt lines: quarantined with raw text, clean rows unaffected
    dirty = f"{base}/dirty"
    os.makedirs(dirty)
    with gzip.open(f"{dirty}/part-0.jsonl.gz", "wt") as f:
        f.write('{"doc_id": 1, "text": "ok one", "lang": "en"}\n')
        f.write("{not json at all\n")
        f.write('{"doc_id": 2, "text": "ok two", "lang": "de"}\n')
        f.write('["an", "array", "line"]\n')
    clean, quarantine = split_corrupt(read_jsonl(spark, dirty, schema))
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    bad = sorted(r["raw_line"] for r in quarantine.collect())
    assert bad == ['["an", "array", "line"]', "{not json at all"]
    _ = F  # keep the shared import convention explicit
