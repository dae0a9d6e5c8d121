"""SQL entry surface: registered views over the raw tables and the
gold star schema, so warehouse users query the engine with plain
``spark.sql(...)`` instead of the DataFrame API.

The reference's users live in SQL (its entire logic is T-SQL stored
procedures over ``bronze``/``silver``/``gold`` schemas —
``01_create_database_and_schemas.sql:80-167``); this module is the
switch-over path: one call registers

- the raw driver tables (``region`` … ``embeddings``) as temp views,
  namespaced ``raw_*`` and un-prefixed;
- the gold star schema (``dim_customer``/``dim_part``/``dim_supplier``
  + ``fact_orders``/``fact_lineitem`` — ``pipeline/star.py`` builders,
  the reference's ``06/07_*.sql`` equivalents) as ``gold_*`` views.

Views are LAZY logical plans: Catalyst inlines them into each query,
so predicate pushdown, column pruning and broadcast planning apply to
the user's SQL exactly as to the DataFrame plans (no materialization
unless the user writes one).  Register once per session per
``sf_dir``; re-registering replaces.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from olist_ecommerce_data_warehouse_spark.catalog import TABLES, register_views, table
from olist_ecommerce_data_warehouse_spark.pipeline.star import (
    build_dim_customer,
    build_dim_part,
    build_dim_supplier,
    build_fact_lineitem,
    build_fact_orders,
)

_GOLD_BUILDERS = {
    "gold_dim_customer": build_dim_customer,
    "gold_dim_part": build_dim_part,
    "gold_dim_supplier": build_dim_supplier,
    "gold_fact_orders": build_fact_orders,
    "gold_fact_lineitem": build_fact_lineitem,
}


def create_warehouse_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register raw + gold views for ``sf_dir``; returns the view
    names created."""
    # bare-name raw views come from the one registration path the
    # oracle-parity plans also use (catalog.register_views owns "what
    # raw views exist", incl. per-table normalizations); this module
    # only adds the raw_ namespace aliases and the gold tier on top
    register_views(spark, sf_dir)
    created = []
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(f"raw_{name}")
        created += [name, f"raw_{name}"]
    for name, build in _GOLD_BUILDERS.items():
        build(spark, sf_dir).createOrReplaceTempView(name)
        created.append(name)
    return created


def create_corpus_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register the LLM-corpus analytic tier as LAZY views, so data
    engineers triage training data in plain SQL::

        SELECT lang, count(*) FROM corpus_quality
        WHERE qc_pass = 1 GROUP BY lang

    Only zero-build-cost views are registered (pure lazy plans — no
    trainer/iterator runs at CREATE time; the trained pipelines stay
    behind their ``queries()`` entries where their build jobs are an
    explicit, benchmarked choice):

    - ``corpus_quality``: per-doc fasttext-architecture classifier head
      (qc_n_features/qc_logit_sum/qc_score/qc_pass) joined to metadata;
    - ``corpus_splits``: the deterministic 90/5/5 train/val/test
      assignment every rebuild reproduces;
    - ``corpus_fingerprints``: exact-dedup content fingerprints.
    """
    from pyspark.sql import functions as F

    from olist_ecommerce_data_warehouse_spark.functions.text import tokens
    from olist_ecommerce_data_warehouse_spark.operators.quality import quality_scored
    from olist_ecommerce_data_warehouse_spark.pipeline.corpus import _split_col

    register_views(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    created = []
    quality_scored(docs, tokens("text")).join(
        docs.select("doc_id", "lang", "source", "n_chars"), "doc_id"
    ).createOrReplaceTempView("corpus_quality")
    created.append("corpus_quality")
    docs.select("doc_id", "lang", "source", _split_col().alias("split")).createOrReplaceTempView(
        "corpus_splits"
    )
    created.append("corpus_splits")
    docs.select(
        "doc_id", F.md5("text").alias("fp")
    ).createOrReplaceTempView("corpus_fingerprints")
    created.append("corpus_fingerprints")
    return created
