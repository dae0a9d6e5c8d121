"""End-to-end medallion pipeline test over dirty Olist-shaped CSV
fixtures — exercises EP1 (CSV→bronze incl. multiLine quoted newlines),
EP2 (all 9 silver cleanses incl. dedup + accent fold), EP3 (star
schema with dense SKs), the QA families, and audit/fail-fast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.pipeline.medallion import MedallionPipeline
from olist_ecommerce_data_warehouse_spark.sources.audit import load_summary

CUSTOMERS_CSV = """customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state
c1 ,u1,01310100,são paulo,sp
c2,u2,20040002,rio de janeiro,RJ
c3,u3,70040900,brasília,DF
 ,u4,11111,nowhere,XX
c5,u5,01310100,são paulo,SP
"""

SELLERS_CSV = """seller_id,seller_zip_code_prefix,seller_city,seller_state
s1,01310100,sao paulo,sp
s2,20040002,rio de janeiro,rjx
"""

TRANSLATION_CSV = """product_category_name,product_category_name_english
beleza_saude,health_beauty
informatica_acessorios,computers_accessories
"""

PRODUCTS_CSV = """product_id,product_category_name,product_name_lenght,product_description_lenght,product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm
p1,beleza_saude,40,300,2,"1,5",10,"2,5",4
p2,informatica_acessorios,55,800,5,250,20,10,15
p3,,30,100,1,abc,5,5,5
"""

GEO_CSV = """geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state
01310100,-23.56,-46.65,São Paulo,SP
01310100,-23.57,-46.66,SAO PAULO,sp
01310100,-23.55,-46.64,sao paulo,SP
20040002,-22.90,-43.18,Rio de Janeiro,RJ
"""

ORDERS_CSV = """order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
o1,c1,DELIVERED,2017-10-02 10:56:33,2017-10-02 11:07:15,2017-10-04 19:55:00,2017-10-10 21:25:13,2017-10-18 00:00:00
o2,c2,delivered,2017-11-18 19:28:06,2017-11-18 19:45:59,2017-11-22 13:39:59,2017-12-02 00:28:42,2017-11-29 00:00:00
o3,c3,shipped,2018-02-13 21:18:39,2018-02-13 22:20:29,2018-02-14 19:46:34,,2018-03-09 00:00:00
o4,c5,delivered,2018-06-01 08:00:00,not-a-date,2018-06-02 10:00:00,2018-05-30 12:00:00,2018-06-20 00:00:00
"""

ITEMS_CSV = """order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
o1,1,p1,s1,2017-10-06 11:07:15,"58,90","13,29"
o1,2,p2,s1,2017-10-06 11:07:15,239.90,19.93
o2,1,p2,s2,2017-11-23 19:45:59,199.00,17.87
o3,1,p1,s1,2018-02-19 22:20:29,12.99,12.79
o3,xx,p1,s1,2018-02-19 22:20:29,1.00,1.00
o4,1,p3,s2,2018-06-05 08:00:00,45.00,27.20
"""

PAYMENTS_CSV = """order_id,payment_sequential,payment_type,payment_installments,payment_value
o1,1,CREDIT_CARD,3,"99,33"
o1,2,voucher,1,32.79
o2,1,boleto,1,216.87
o3,1,credit_card,2,25.78
o4,1,debit_card,1,72.20
"""

# review r2 duplicated with different answer timestamps (keep-latest);
# r3 has an embedded newline inside a quoted comment (multiLine);
# r4 has an out-of-range score (filtered).
REVIEWS_CSV = """review_id,order_id,review_score,review_comment_title,review_comment_message,review_creation_date,review_answer_timestamp
r1,o1,5,,"great product",2017-10-11 00:00:00,2017-10-12 03:43:48
r2,o2,1,late,"arrived late",2017-12-03 00:00:00,2017-12-03 10:00:00
r2,o2,2,late,"arrived late but ok",2017-12-03 00:00:00,2017-12-05 11:00:00
r3,o3,4,,"good
value for money",2018-02-20 00:00:00,2018-02-21 09:30:00
r4,o4,9,,bad score row,2018-06-10 00:00:00,2018-06-11 00:00:00
r5,o4,3,," ",2018-06-10 00:00:00,2018-06-12 00:00:00
"""


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("medallion")
    csvs = {
        "customers": CUSTOMERS_CSV,
        "sellers": SELLERS_CSV,
        "category_translation": TRANSLATION_CSV,
        "products": PRODUCTS_CSV,
        "geolocation": GEO_CSV,
        "orders": ORDERS_CSV,
        "order_items": ITEMS_CSV,
        "order_payments": PAYMENTS_CSV,
        "order_reviews": REVIEWS_CSV,
    }
    raw = base / "raw"
    raw.mkdir()
    for name, content in csvs.items():
        (raw / f"{name}.csv").write_text(content, encoding="utf-8")
    p = MedallionPipeline(spark, str(base / "wh"))
    for name in csvs:
        p.ingest_bronze(
            name, str(raw / f"{name}.csv"), multi_line=(name == "order_reviews")
        )
    p.load_silver_all()
    p.load_gold_all()
    return p


def test_bronze_all_strings(pipeline):
    b = pipeline.read("bronze", "products")
    assert all(f.dataType.simpleString() == "string" for f in b.schema.fields)
    assert b.count() == 3


def test_silver_customers_filter_and_cleanse(pipeline):
    s = pipeline.read("silver", "customers")
    rows = {r["customer_id"]: r for r in s.collect()}
    assert set(rows) == {"c1", "c2", "c3", "c5"}  # blank id filtered
    assert rows["c1"]["customer_state"] == "SP"  # upper + prefix 2


def test_silver_products_decimal_comma_and_join(pipeline):
    s = pipeline.read("silver", "products")
    rows = {r["product_id"]: r for r in s.collect()}
    assert float(rows["p1"]["product_weight_g"]) == 1.5  # "1,5" repaired
    assert rows["p3"]["product_weight_g"] is None  # "abc" → NULL
    assert rows["p1"]["product_category_name_english"] == "health_beauty"
    assert rows["p3"]["product_category_name_english"] is None  # NULL survives left join
    assert float(rows["p1"]["product_volume_cm3"]) == 10 * 2.5 * 4


def test_silver_geolocation_accent_fold_dedup(pipeline):
    s = pipeline.read("silver", "geolocation")
    rows = s.collect()
    # 3 accent/case variants of São Paulo collapse to one row
    assert s.count() == 2
    assert {r["geolocation_city"] for r in rows} == {"sao paulo", "rio de janeiro"}


def test_silver_orders_typed_and_computed(pipeline):
    s = pipeline.read("silver", "orders")
    rows = {r["order_id"]: r for r in s.collect()}
    assert rows["o1"]["delivery_days"] == 8
    assert rows["o2"]["delay_days"] == 3  # late delivery
    assert rows["o3"]["is_delivered"] == 0 and rows["o3"]["delivery_days"] is None
    assert rows["o4"]["order_approved_at"] is None  # unparseable → NULL
    assert rows["o4"]["delivery_days"] == -2  # anomaly preserved for QA


def test_silver_order_items_castable_filter(pipeline):
    s = pipeline.read("silver", "order_items")
    assert s.count() == 5  # 'xx' item id row dropped
    r = s.filter((F.col("order_id") == "o1") & (F.col("order_item_id") == 1)).first()
    assert float(r["price"]) == 58.90 and float(r["total_item_value"]) == 72.19


def test_silver_reviews_dedup_multiline_flags(pipeline):
    s = pipeline.read("silver", "order_reviews")
    rows = {r["review_id"]: r for r in s.collect()}
    assert set(rows) == {"r1", "r2", "r3", "r5"}  # r4 out-of-range score
    assert rows["r2"]["review_score"] == 2  # latest answer kept
    assert "value for money" in rows["r3"]["review_comment_message"]  # multiLine parse
    assert rows["r5"]["review_comment_message"] is None  # blank → NULL
    assert rows["r5"]["has_comment"] == 0
    assert rows["r1"]["is_promoter"] == 1 and rows["r2"]["is_detractor"] == 1


def test_gold_star_schema(pipeline):
    dim_c = pipeline.read("gold", "dim_customer")
    sks = sorted(r["customer_sk"] for r in dim_c.collect())
    assert sks == [1, 2, 3, 4]  # dense 1-based, deterministic
    fo = pipeline.read("gold", "fact_orders")
    assert fo.count() == 4
    rows = {r["order_id"]: r for r in fo.collect()}
    assert rows["o2"]["is_delivered_late"] == 1 and rows["o1"]["is_delivered_late"] == 0
    # undelivered orders keep NULL delivered/estimated keys — only the
    # purchase key falls back to the 19000101 sentinel
    # (07_etl_silver_to_gold.sql:219-224)
    assert rows["o3"]["delivered_date_key"] is None
    assert rows["o3"]["purchase_date_key"] is not None
    assert rows["o3"]["is_delivered_late"] == 0  # NULL delay → not late
    dp = pipeline.read("gold", "dim_product")
    for col in ("product_photos_qty", "product_length_cm",
                "product_height_cm", "product_width_cm"):
        assert col in dp.columns  # 07_etl_silver_to_gold.sql:133-153
    fi = pipeline.read("gold", "fact_order_items")
    assert fi.count() == 5
    # referential integrity: no orphan SKs (the J6/QA check)
    assert (
        fi.join(fo.select("order_sk"), "order_sk", "left_anti").count() == 0
    )
    fr = pipeline.read("gold", "fact_reviews")
    assert fr.count() == 4
    dd = pipeline.read("gold", "dim_date")
    assert dd.filter(F.col("date_key") == 19000101).count() == 1  # sentinel


def test_gold_dim_date_idempotency_guard(pipeline):
    assert pipeline.load_gold_dim_date() == 0  # C3: already populated → skip


def _assert_rows_inserted_match_tables(spark, pipe) -> int:
    """Every SUCCESS audit row's rows_inserted equals a fresh count of the
    table it names; returns how many rows were checked."""
    success = [r for r in pipe.audit.rows if r[8] == "SUCCESS"]
    for r in success:
        written = spark.read.parquet(pipe.path(r[3], r[4])).count()
        assert r[9] == written, f"{r[3]}.{r[4]}: audit says {r[9]}, table holds {written}"
    return len(success)


def test_audit_lifecycle_and_summary(pipeline, spark):
    audit = pipeline.audit.to_df()
    assert audit.filter(F.col("status") == "FAILED").count() == 0
    started = audit.filter(F.col("status") == "STARTED").count()
    success = audit.filter(F.col("status") == "SUCCESS").count()
    assert started == success and started >= 17  # 9 bronze + 9 silver + gold - skip
    assert _assert_rows_inserted_match_tables(spark, pipeline) == success
    summary = load_summary(audit, within_minutes=None)
    row = summary.first()
    assert row["status"] == "SUCCESS" and row["duration_sec"] >= 0


def test_fail_fast_records_failed_audit_row(spark, tmp_path):
    p = MedallionPipeline(spark, str(tmp_path / "wh2"))
    with pytest.raises(Exception):
        p.ingest_bronze("customers", str(tmp_path / "missing.csv"))
    statuses = [r[8] for r in p.audit.rows]
    assert "FAILED" in statuses


def test_zero_row_writes_report_zero(spark, tmp_path):
    """A header-only CSV lands an empty bronze table and an empty silver
    table from it; a clean JSONL lands an empty quarantine.  Each write
    counts 0 rows."""
    from olist_ecommerce_data_warehouse_spark.pipeline.corpus import CorpusPipeline

    csv = tmp_path / "customers.csv"
    csv.write_text(CUSTOMERS_CSV.splitlines()[0] + "\n", encoding="utf-8")
    p = MedallionPipeline(spark, str(tmp_path / "wh"))
    assert p.ingest_bronze("customers", str(csv)) == 0
    assert p.load_silver_customers() == 0
    assert [r[9] for r in p.audit.rows if r[8] == "SUCCESS"] == [0, 0]
    assert _assert_rows_inserted_match_tables(spark, p) == 2

    jsonl = tmp_path / "clean.jsonl"
    jsonl.write_text('{"doc_id": 1, "text": "a b c", "lang": "en", "source": "s"}\n')
    cp = CorpusPipeline(spark, str(tmp_path / "cp"))
    assert cp.ingest_bronze(str(jsonl)) == {"documents": 1, "quarantined": 0}
    assert spark.read.parquet(cp.path("bronze", "quarantine")).count() == 0
    assert _assert_rows_inserted_match_tables(spark, cp) == 1


def test_write_time_failure_records_failed_audit_row(spark, tmp_path, monkeypatch):
    """A failure raised while the write runs, injected into the shared
    audited write through one silver and one gold stage, leaves a FAILED
    row carrying the error, re-raises, writes no SUCCESS row for that
    run, and returns without waiting on the failed write's row count."""
    import threading

    from olist_ecommerce_data_warehouse_spark.sources.audit import AuditLog

    csv = tmp_path / "category_translation.csv"
    csv.write_text(TRANSLATION_CSV, encoding="utf-8")
    p = MedallionPipeline(spark, str(tmp_path / "wh"))
    p.ingest_bronze("category_translation", str(csv))

    write_table = AuditLog.write_table

    def poisoned(self, df, *args, **kwargs):
        df = df.withColumn("poison", F.raise_error(F.lit("injected write failure")))
        return write_table(self, df, *args, **kwargs)

    monkeypatch.setattr(AuditLog, "write_table", poisoned)
    for stage in (p.load_silver_category_translation, p.load_gold_dim_date):
        raised = []

        def run(stage=stage):
            try:
                stage()
            except Exception as e:
                raised.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), f"{stage.__name__} blocked after its write failed"
        assert len(raised) == 1 and "injected write failure" in str(raised[0])
        run_id = p.audit.rows[-1][0]
        mine = [r for r in p.audit.rows if r[0] == run_id]
        assert [r[8] for r in mine] == ["STARTED", "FAILED"]
        assert "injected write failure" in mine[1][10] and mine[1][9] is None


@pytest.mark.parametrize("stage", ["export_shards", "apply_increment"])
def test_corpus_stage_failure_records_failed_audit_row(spark, tmp_path, monkeypatch, stage):
    """A Spark failure injected into export_shards (while the shards are
    written) or apply_increment (at its first checkpoint) leaves a FAILED
    row carrying the error, re-raises, and writes no SUCCESS row for
    that run id."""
    from olist_ecommerce_data_warehouse_spark.pipeline.corpus import CorpusPipeline

    pipe = CorpusPipeline(spark, str(tmp_path / "wh"))
    poison = F.raise_error(F.lit("injected stage failure"))
    if stage == "export_shards":
        packed = spark.createDataFrame(
            [("en", 0, 0, 1), ("en", 0, 1, 2)],
            "lang string, seq_no int, seq_offset int, doc_id long",
        ).withColumn("poison", poison)
        monkeypatch.setattr(CorpusPipeline, "read", lambda self, layer, name: packed)
        run, target = (lambda: pipe.export_shards(n_shards=2)), ("gold", "shards")
    else:
        docs = spark.createDataFrame(
            [(1, "a b c d", "en", "drop")],
            "doc_id long, text string, lang string, source string",
        ).withColumn("poison", poison)
        run, target = (lambda: pipe.apply_increment(docs)), ("silver", "deduped")

    with pytest.raises(Exception, match="injected stage failure"):
        run()
    run_id = pipe.audit.rows[-1][0]
    mine = [r for r in pipe.audit.rows if r[0] == run_id]
    assert (mine[0][3], mine[0][4]) == target
    assert [r[8] for r in mine] == ["STARTED", "FAILED"]
    assert "injected stage failure" in mine[1][10] and mine[1][9] is None


def test_sql_entry_surface(spark):
    """SQL users can switch without the DataFrame API: registered views
    answer the reference's own QA queries (08_validacionsql.sql shapes)
    via plain spark.sql, matching the DataFrame plans' results, and the
    view indirection keeps Catalyst optimizations (filter pushdown
    visible in the scan)."""
    from pyspark.sql import functions as F

    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.sqlapi import create_warehouse_views
    from tests.conftest import SF_DIR

    created = create_warehouse_views(spark, SF_DIR)
    assert "gold_fact_lineitem" in created and "orders" in created

    # volumetric + KPI shapes straight from the reference's QA script
    n_orders = spark.sql("SELECT COUNT(*) AS n FROM orders").first()["n"]
    assert n_orders == table(spark, SF_DIR, "orders").count()

    top = spark.sql(
        """
        SELECT p.p_brand, SUM(f.item_revenue) AS rev
        FROM gold_fact_lineitem f
        JOIN gold_dim_part p ON f.part_sk = p.part_sk
        GROUP BY p.p_brand ORDER BY rev DESC LIMIT 3
        """
    ).collect()
    assert len(top) == 3 and top[0]["rev"] >= top[2]["rev"]

    # orphan check (J6) over the views: no fact row without its dim
    orphans = spark.sql(
        """
        SELECT COUNT(*) AS n FROM gold_fact_orders f
        LEFT ANTI JOIN gold_dim_customer d ON f.customer_sk = d.customer_sk
        """
    ).first()["n"]
    assert orphans == 0

    # Catalyst still optimizes through the view: a filtered SQL query
    # pushes the predicate into the parquet scan
    plan = (
        spark.sql("SELECT o_orderkey FROM orders WHERE o_orderkey = 42")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # assert the CONTENT of the pushed-filter list, not its mere
    # presence (an empty "PushedFilters: []" would satisfy a substring
    # check and make the assertion vacuous)
    assert "EqualTo(o_orderkey,42)" in plan, plan


def test_corpus_pipeline_end_to_end(spark, tmp_path_factory):
    """CorpusPipeline: JSONL (with corrupt lines) → quality gates →
    exact+near dedup → split/decontaminate/mix/pack, with audit rows
    per stage and deterministic reruns.  Assertions target the
    pipeline CONTRACT: quarantine isolation, monotone row counts
    through filters/dedup, near-dup families collapsing to one keeper,
    injected eval-contaminated train docs dropped, every stage audited
    SUCCESS."""
    import json

    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.pipeline.corpus import CorpusPipeline
    from tests.conftest import SF_DIR

    base = tmp_path_factory.mktemp("corpus_pipe")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text", "lang", "source")
    rows = docs.limit(200).collect()
    # near-dup family: 3 copies of doc 0's text under new ids; exact
    # dup: doc 1 repeated verbatim; a train doc cloned into the eval
    # id range (bucket assignment is id-hash — find a clone id that
    # lands in val/test below)
    lines = [
        json.dumps(
            {"doc_id": r["doc_id"], "text": r["text"], "lang": r["lang"], "source": r["source"]}
        )
        for r in rows
    ]
    base_text = rows[0]["text"]
    for i, nid in enumerate([900001, 900002, 900003]):
        lines.append(
            json.dumps(
                {"doc_id": nid, "text": base_text + f" extra{i}", "lang": rows[0]["lang"], "source": "dupfarm"}
            )
        )
    lines.append(
        json.dumps(
            {"doc_id": 900010, "text": rows[1]["text"], "lang": rows[1]["lang"], "source": "dupfarm"}
        )
    )
    lines.append("{ this is not json")
    lines.append('{"doc_id": "alpha"}')  # wrong type → quarantine
    src = str(base / "corpus.jsonl")
    with open(src, "w") as f:
        f.write("\n".join(lines))

    pipe = CorpusPipeline(spark, str(base / "wh"), min_tokens=2)
    out = pipe.run_all(jsonl_path=src, weights={"dupfarm": 2.0})

    assert out["bronze_quarantined"] == 2
    assert out["bronze_documents"] == len(lines) - 2
    assert out["silver_filtered"] <= out["bronze_documents"]
    assert out["silver_deduped"] < out["silver_filtered"]  # dups existed
    rejected = pipe.read("silver", "rejected")
    assert set(rejected.select("reject_reason").distinct().toPandas()["reject_reason"]) <= {
        "too_short", "too_long", "quality_fail"
    }
    # the exact dup is gone, and the near-dup family keeps exactly one
    # of {doc 0, 900001..900003} (min id wins when they pass filters)
    kept = {r["doc_id"] for r in pipe.read("silver", "deduped").collect()}
    assert 900010 not in kept
    fam = {rows[0]["doc_id"], 900001, 900002, 900003}
    survivors = fam & kept
    if rows[0]["doc_id"] in {r["doc_id"] for r in pipe.read("silver", "filtered").collect()}:
        assert survivors == {rows[0]["doc_id"]}
    # audit: every completed run has a SUCCESS row, no FAILED rows
    audit = pipe.audit.to_df().toPandas()
    assert (audit["status"] == "FAILED").sum() == 0
    assert (audit["status"] == "SUCCESS").sum() >= 7
    # packing output covers exactly the mixture's replica-unique ids
    mix = pipe.read("gold", "train_mixture")
    packed = pipe.read("gold", "packed")
    assert packed.count() == mix.count()
    assert packed.groupBy("doc_id").count().filter("count > 1").count() == 0

    # dataloader last mile: whole packed sequences shard together,
    # nothing lost, the stage is audited
    man = pipe.export_shards(n_shards=4)
    assert man["n_rows"] == packed.count()
    shards = spark.read.parquet(pipe.path("gold", "shards"))
    assert shards.count() == packed.count()
    split_seqs = (
        shards.select("lang", "seq_no", "shard")
        .distinct()
        .groupBy("lang", "seq_no")
        .count()
        .filter("count > 1")
        .count()
    )
    assert split_seqs == 0
    audit = pipe.audit.to_df().toPandas()
    assert ((audit["target_table"] == "shards") & (audit["status"] == "SUCCESS")).any()

    # CCNet perplexity stage: every deduped doc scored and bucketed
    lm = pipe.score_lm_buckets()
    assert lm["lm_scored"] == out["silver_deduped"]
    lm_rows = pipe.read("silver", "lm_scored")
    assert lm_rows.filter(
        ~F.col("ppl_bucket").isin("head", "middle", "tail", "unscored")
    ).count() == 0
    # per-language tertiles: any language with enough docs has a head
    big_langs = [
        r["lang"]
        for r in lm_rows.filter("ppl IS NOT NULL").groupBy("lang").count().filter("count >= 3").collect()
    ]
    for lg in big_langs:
        assert lm_rows.filter((F.col("lang") == lg) & (F.col("ppl_bucket") == "head")).count() > 0
    audit = pipe.audit.to_df().toPandas()
    assert ((audit["target_table"] == "lm_scored") & (audit["status"] == "SUCCESS")).any()

    # data card: funnel totals reconcile with the stage outputs, and
    # per-(source,lang) doc counts shrink monotonically bronze→deduped
    card = pipe.corpus_report().toPandas()
    by_layer = card.groupby("layer")["n_docs"].sum().to_dict()
    assert by_layer["bronze/documents"] == out["bronze_documents"]
    assert by_layer["silver/deduped"] == out["silver_deduped"]
    assert by_layer["gold/train_mixture"] == out["gold_train_mixture"]
    wide = card.pivot_table(
        index=["source", "lang"], columns="layer", values="n_docs", fill_value=0
    )
    assert (wide["silver/filtered"] <= wide["bronze/documents"]).all()
    assert (wide["silver/deduped"] <= wide["silver/filtered"]).all()
    # upsampling visible: dupfarm weighted 2.0 → mixture ≥ decontaminated
    dup_mix = card[(card["source"] == "dupfarm") & (card["layer"] == "gold/train_mixture")]
    dup_dec = card[(card["source"] == "dupfarm") & (card["layer"] == "gold/decontaminated")]
    if len(dup_mix) and len(dup_dec):
        assert dup_mix["n_docs"].iloc[0] >= dup_dec["n_docs"].iloc[0]

    # deterministic rerun: same layer row counts
    pipe2 = CorpusPipeline(spark, str(base / "wh2"), min_tokens=2)
    out2 = pipe2.run_all(jsonl_path=src, weights={"dupfarm": 2.0})
    assert out2 == out

    # every stage's rows_inserted is the true row count of what it wrote
    assert _assert_rows_inserted_match_tables(spark, pipe) >= 10
    assert _assert_rows_inserted_match_tables(spark, pipe2) >= 7


def test_corpus_pipeline_incremental_drop(spark, tmp_path_factory):
    """apply_increment must dedup a drop against the EXISTING corpus
    through the persisted fingerprint/band-signature indexes (no
    corpus rescan): exact copies drop at the fingerprint gate,
    case-variant near-dups (same tokens → Jaccard 1.0, different raw
    text → different md5) drop at the verified-LSH gate both
    against history and within the drop, fresh docs append, and a
    replayed identical drop adds nothing.  Its four stage cuts are
    released: no RDD persisted during either call outlives it."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.functions.text import tokens
    from olist_ecommerce_data_warehouse_spark.operators.quality import quality_scored
    from olist_ecommerce_data_warehouse_spark.pipeline.corpus import CorpusPipeline
    from tests.conftest import SF_DIR

    base = tmp_path_factory.mktemp("corpus_inc")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text", "lang", "source")
    pipe = CorpusPipeline(spark, str(base / "wh"), min_tokens=2)
    pipe.ingest_bronze_df(docs.limit(150))
    pipe.load_silver_filtered()
    n0 = pipe.load_silver_deduped()

    kept = pipe.read("silver", "deduped").orderBy("doc_id").limit(10).collect()
    assert len(kept) >= 3
    # fresh text: token-reversed kept doc (disjoint 3-gram shingles),
    # picked so it still passes the deterministic quality gate
    fresh_text = None
    for r in kept:
        cand = " ".join(reversed(r["text"].split()))
        qdf = spark.createDataFrame([(0, cand)], "doc_id long, text string")
        if quality_scored(qdf, tokens("text")).first()["qc_pass"] == 1 and len(cand.split()) >= 2:
            fresh_text = cand
            break
    assert fresh_text is not None

    inc = spark.createDataFrame(
        [
            # exact copy of an existing kept doc, new id
            (500001, kept[0]["text"], kept[0]["lang"], "drop"),
            # near-dup of an existing kept doc: uppercase first char →
            # same tokens (J=1.0), different fingerprint
            (500002, kept[1]["text"].upper(), kept[1]["lang"], "drop"),
            # fresh document
            (500003, fresh_text, kept[0]["lang"], "drop"),
            # two fresh near-dup twins (same tokens, different case)
            (500004, fresh_text + " tail", kept[0]["lang"], "drop"),
            (500005, (fresh_text + " tail").upper(), kept[0]["lang"], "drop"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    jsc = spark.sparkContext._jsc
    start = set(jsc.getPersistentRDDs())
    out = pipe.apply_increment(inc)
    assert not set(jsc.getPersistentRDDs()) - start
    assert out["dropped_exact"] == 1
    # 500002 drops vs history; 500005 drops vs its twin 500004; 500004
    # itself near-dups 500003 (J ≈ n/(n+1) ≥ 0.8 for ≥5-token texts) —
    # whether it survives depends on the verified pair set, so pin the
    # EXACT outcome instead of a range:
    added_ids = {
        r["doc_id"]
        for r in pipe.read("silver", "deduped").collect()
        if r["doc_id"] >= 500000
    }
    assert 500001 not in added_ids and 500002 not in added_ids
    assert 500003 in added_ids
    assert 500005 not in added_ids
    assert out["added"] == len(added_ids)
    n1 = pipe.read("silver", "deduped").count()
    assert n1 == n0 + out["added"]
    # indexes track the corpus exactly
    assert pipe.read("silver", "index_fingerprints").count() == n1
    # replayed drop under new ids: everything is now history
    inc2 = inc.select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text", "lang", "source"
    )
    out2 = pipe.apply_increment(inc2)
    assert not set(jsc.getPersistentRDDs()) - start
    assert out2["added"] == 0
    assert pipe.read("silver", "deduped").count() == n1
    audit = pipe.audit.to_df().toPandas()
    assert (audit["status"] == "FAILED").sum() == 0


def test_corpus_sql_views(spark):
    """create_corpus_views: the corpus tier is queryable in plain SQL,
    lazily (no jobs at CREATE), with the same answers as the operators."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.functions.text import tokens
    from olist_ecommerce_data_warehouse_spark.operators.quality import quality_scored
    from olist_ecommerce_data_warehouse_spark.sqlapi import create_corpus_views
    from tests.conftest import SF_DIR

    created = create_corpus_views(spark, SF_DIR)
    assert set(created) == {"corpus_quality", "corpus_splits", "corpus_fingerprints"}
    docs = table(spark, SF_DIR, "documents")
    n_pass_sql = spark.sql(
        "SELECT count(*) AS n FROM corpus_quality WHERE qc_pass = 1"
    ).first()["n"]
    n_pass_op = quality_scored(docs, tokens("text")).filter("qc_pass = 1").count()
    assert n_pass_sql == n_pass_op
    splits = {
        r["split"]: r["n"]
        for r in spark.sql(
            "SELECT split, count(*) AS n FROM corpus_splits GROUP BY split"
        ).collect()
    }
    assert set(splits) == {"train", "val", "test"}
    assert splits["train"] > splits["val"] + splits["test"]
    assert (
        spark.sql("SELECT count(DISTINCT fp) AS n FROM corpus_fingerprints").first()["n"]
        <= docs.count()
    )


def test_corpus_streaming_ingest_content_idempotent(spark, tmp_path_factory):
    """streaming_ingest: drops arriving as micro-batches dedup against
    the growing indexes; a REPLAY of already-ingested content (new ids,
    same text) adds nothing — content idempotence via the fingerprint
    index, no transactional sink required."""
    from olist_ecommerce_data_warehouse_spark.catalog import table
    from olist_ecommerce_data_warehouse_spark.pipeline.corpus import CorpusPipeline
    from olist_ecommerce_data_warehouse_spark.streaming import drain
    from tests.conftest import SF_DIR

    base = tmp_path_factory.mktemp("corpus_stream")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text", "lang", "source")
    pipe = CorpusPipeline(spark, str(base / "wh"), min_tokens=2)
    pipe.ingest_bronze_df(docs.limit(100))
    pipe.load_silver_filtered()
    n0 = pipe.load_silver_deduped()

    inc = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 140)
    ).select((F.col("doc_id") + 700000).alias("doc_id"), "text", "lang", "source")
    src = str(base / "src")
    inc.coalesce(1).write.parquet(src)

    def ingest(tag):
        stream = spark.readStream.schema(inc.schema).parquet(src)
        drain(pipe.streaming_ingest(stream, checkpoint=str(base / f"ckpt_{tag}")))

    ingest("a")
    n1 = pipe.read("silver", "deduped").count()
    assert n1 > n0  # fresh content landed
    assert pipe.read("silver", "index_fingerprints").count() == n1

    # replay the SAME content under new ids via a FRESH checkpoint
    # (simulates a re-delivered feed, not just source replay)
    inc2 = inc.select((F.col("doc_id") + 50000).alias("doc_id"), "text", "lang", "source")
    src2 = str(base / "src2")
    inc2.coalesce(1).write.parquet(src2)
    stream2 = spark.readStream.schema(inc2.schema).parquet(src2)
    q2 = pipe.streaming_ingest(stream2, checkpoint=str(base / "ckpt_b"))
    drain(q2)
    assert pipe.read("silver", "deduped").count() == n1  # nothing re-added

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be a streaming"):
        pipe.streaming_ingest(inc, checkpoint=str(base / "ckpt_c"))
