"""Olist-shaped medallion pipeline: bronze → silver → gold
(SURVEY.md §3 EP1–EP3, §2.9 C1–C4).

Faithful re-expression of the reference's end-to-end warehouse over
its 9-table Olist schema:

- bronze: all-string CSV landing (02_create_tables_bronze.sql)
- silver: typed/cleansed/deduped, one load function per table
  (05_ETL_load_bronze_to_silver/sp_load_silver_*.sql)
- gold: star schema with deterministic surrogate keys
  (06_create_gold_tables.sql, 07_etl_silver_to_gold.sql)
- orchestration: dependency-ordered, fail-fast, audited
  (05_sp_master_orchestrator_silver.sql:14-40,
  07_etl_silver_to_gold.sql:326-358)

Every table is a Parquet full refresh (TRUNCATE+INSERT ⇒ overwrite,
S5); facts read the just-written dim Parquet so SK joins see committed
data (no cross-statement identity state — EP3 note in SURVEY §3).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_ecommerce_data_warehouse_spark.functions.cleansing import (
    accent_fold,
    clean_text,
    decimal_comma,
    null_if_empty,
    prefix,
    try_int,
    try_ts,
    valid_id,
)
from olist_ecommerce_data_warehouse_spark.operators.datedim import build_date_dim
from olist_ecommerce_data_warehouse_spark.operators.dedup import keep_latest
from olist_ecommerce_data_warehouse_spark.operators.surrogate import (
    add_surrogate_key,
    add_surrogate_key_simple,
)
from olist_ecommerce_data_warehouse_spark.sources.audit import AuditLog
from olist_ecommerce_data_warehouse_spark.sources.csv import all_string_schema, read_csv_bronze

BRONZE_COLUMNS: dict[str, list[str]] = {
    "customers": [
        "customer_id", "customer_unique_id", "customer_zip_code_prefix",
        "customer_city", "customer_state",
    ],
    "sellers": ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"],
    "category_translation": ["product_category_name", "product_category_name_english"],
    "products": [
        "product_id", "product_category_name", "product_name_lenght",
        "product_description_lenght", "product_photos_qty", "product_weight_g",
        "product_length_cm", "product_height_cm", "product_width_cm",
    ],
    "geolocation": [
        "geolocation_zip_code_prefix", "geolocation_lat", "geolocation_lng",
        "geolocation_city", "geolocation_state",
    ],
    "orders": [
        "order_id", "customer_id", "order_status", "order_purchase_timestamp",
        "order_approved_at", "order_delivered_carrier_date",
        "order_delivered_customer_date", "order_estimated_delivery_date",
    ],
    "order_items": [
        "order_id", "order_item_id", "product_id", "seller_id",
        "shipping_limit_date", "price", "freight_value",
    ],
    "order_payments": [
        "order_id", "payment_sequential", "payment_type",
        "payment_installments", "payment_value",
    ],
    "order_reviews": [
        "review_id", "order_id", "review_score", "review_comment_title",
        "review_comment_message", "review_creation_date", "review_answer_timestamp",
    ],
}

SILVER_ORDER = [  # dependency order (05_sp_master_orchestrator_silver.sql:17-27)
    "customers", "sellers", "category_translation", "products",
    "geolocation", "orders", "order_items", "order_payments", "order_reviews",
]


class MedallionPipeline:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.audit = AuditLog(spark)

    # ------------------------------------------------------------- plumbing

    def path(self, layer: str, name: str) -> str:
        return f"{self.base}/{layer}/{name}"

    def read(self, layer: str, name: str) -> DataFrame:
        reader = self.spark.read
        if layer == "bronze":  # declared schema: no footer-inference job
            reader = reader.schema(all_string_schema(BRONZE_COLUMNS[name]))
        return reader.parquet(self.path(layer, name))

    # ---------------------------------------------------------- EP1: bronze

    def ingest_bronze(
        self, name: str, csv_path: str, *, multi_line: bool = False
    ) -> int:
        """The source read happens INSIDE the audit scope — a missing
        or unreadable file must leave a FAILED audit row, exactly like
        the reference's CATCH block (03_load_csv_to_bronze.sql:62-72)."""
        return self.audit.write_table(
            lambda: read_csv_bronze(
                self.spark, csv_path, BRONZE_COLUMNS[name], multi_line=multi_line
            ),
            self.base, "bronze", name, source_object=csv_path, source_path=csv_path,
        )

    # ---------------------------------------------------------- EP2: silver

    def load_silver_customers(self) -> int:
        """sp_load_silver_customers.sql:22-43."""
        b = self.read("bronze", "customers")
        s = b.filter(valid_id("customer_id")).select(
            clean_text("customer_id").alias("customer_id"),
            clean_text("customer_unique_id").alias("customer_unique_id"),
            prefix("customer_zip_code_prefix", 10).alias("customer_zip_code_prefix"),
            clean_text("customer_city").alias("customer_city"),
            F.upper(prefix("customer_state", 2)).alias("customer_state"),
            F.lit("olist_csv").alias("source_system"),
            F.current_timestamp().alias("loaded_at"),
        )
        return self.audit.write_table(s, self.base, "silver", "customers")

    def load_silver_sellers(self) -> int:
        """sp_load_silver_sellers.sql:22-38."""
        b = self.read("bronze", "sellers")
        s = b.filter(valid_id("seller_id")).select(
            clean_text("seller_id").alias("seller_id"),
            prefix("seller_zip_code_prefix", 10).alias("seller_zip_code_prefix"),
            clean_text("seller_city").alias("seller_city"),
            F.upper(prefix("seller_state", 2)).alias("seller_state"),
            F.lit("olist_csv").alias("source_system"),
            F.current_timestamp().alias("loaded_at"),
        )
        return self.audit.write_table(s, self.base, "silver", "sellers")

    def load_silver_category_translation(self) -> int:
        b = self.read("bronze", "category_translation")
        s = b.filter(valid_id("product_category_name")).select(
            clean_text("product_category_name").alias("product_category_name"),
            clean_text("product_category_name_english").alias("product_category_name_english"),
        )
        return self.audit.write_table(s, self.base, "silver", "category_translation")

    def load_silver_products(self) -> int:
        """sp_load_silver_products.sql:22-50: decimal-comma repair,
        try-int casts, volume computed column, broadcast LEFT join to
        the 71-row translation dim (J1)."""
        b = self.read("bronze", "products")
        t = self.read("silver", "category_translation")
        cleansed = b.filter(valid_id("product_id")).select(
            clean_text("product_id").alias("product_id"),
            null_if_empty("product_category_name").alias("product_category_name"),
            try_int("product_name_lenght").alias("product_name_length"),
            try_int("product_description_lenght").alias("product_description_length"),
            try_int("product_photos_qty").alias("product_photos_qty"),
            decimal_comma("product_weight_g").alias("product_weight_g"),
            decimal_comma("product_length_cm").alias("product_length_cm"),
            decimal_comma("product_height_cm").alias("product_height_cm"),
            decimal_comma("product_width_cm").alias("product_width_cm"),
        )
        enriched = (
            cleansed.join(
                F.broadcast(t),
                cleansed.product_category_name == t.product_category_name,
                "left",
            )
            .select(
                cleansed["*"],
                t.product_category_name_english.alias("product_category_name_english"),
            )
            .withColumn(
                "product_volume_cm3",
                (
                    F.col("product_length_cm")
                    * F.col("product_height_cm")
                    * F.col("product_width_cm")
                ).cast("decimal(19,2)"),
            )
        )
        return self.audit.write_table(enriched, self.base, "silver", "products")

    def load_silver_geolocation(self) -> int:
        """sp_load_silver_geolocation.sql:22-43: accent/case fold +
        group-by dedup to unique (zip, city, state) — lat/lng dropped
        per the shipped behavior (04_create_silver_tables.sql:200-201)."""
        b = self.read("bronze", "geolocation")
        s = (
            b.filter(
                valid_id("geolocation_zip_code_prefix")
                & valid_id("geolocation_city")
                & valid_id("geolocation_state")
            )
            .select(
                prefix("geolocation_zip_code_prefix", 10).alias("geolocation_zip_code_prefix"),
                accent_fold("geolocation_city").alias("geolocation_city"),
                F.upper(prefix("geolocation_state", 2)).alias("geolocation_state"),
            )
            .distinct()
        )
        return self.audit.write_table(s, self.base, "silver", "geolocation")

    def load_silver_orders(self) -> int:
        """sp_load_silver_orders.sql:22-47 + computed columns
        (04_create_silver_tables.sql:240-242): delivery_days,
        delay_days, is_delivered."""
        b = self.read("bronze", "orders")
        s = b.filter(valid_id("order_id") & valid_id("customer_id")).select(
            clean_text("order_id").alias("order_id"),
            clean_text("customer_id").alias("customer_id"),
            F.lower(clean_text("order_status")).alias("order_status"),
            try_ts("order_purchase_timestamp").alias("order_purchase_timestamp"),
            try_ts("order_approved_at").alias("order_approved_at"),
            try_ts("order_delivered_carrier_date").alias("order_delivered_carrier_date"),
            try_ts("order_delivered_customer_date").alias("order_delivered_customer_date"),
            try_ts("order_estimated_delivery_date").alias("order_estimated_delivery_date"),
        )
        s = (
            s.withColumn(
                "delivery_days",
                F.datediff(
                    F.col("order_delivered_customer_date").cast("date"),
                    F.col("order_purchase_timestamp").cast("date"),
                ),
            )
            .withColumn(
                "delay_days",
                F.datediff(
                    F.col("order_delivered_customer_date").cast("date"),
                    F.col("order_estimated_delivery_date").cast("date"),
                ),
            )
            .withColumn(
                "is_delivered",
                F.when(F.col("order_delivered_customer_date").isNotNull(), 1).otherwise(0),
            )
        )
        return self.audit.write_table(s, self.base, "silver", "orders")

    def load_silver_order_items(self) -> int:
        """sp_load_silver_order_items.sql:22-47: castable item id
        required, decimal-comma money, total_item_value computed."""
        b = self.read("bronze", "order_items")
        s = (
            b.filter(
                valid_id("order_id")
                & try_int("order_item_id").isNotNull()
                & valid_id("product_id")
                & valid_id("seller_id")
            )
            .select(
                clean_text("order_id").alias("order_id"),
                try_int("order_item_id").alias("order_item_id"),
                clean_text("product_id").alias("product_id"),
                clean_text("seller_id").alias("seller_id"),
                try_ts("shipping_limit_date").alias("shipping_limit_date"),
                decimal_comma("price").alias("price"),
                decimal_comma("freight_value").alias("freight_value"),
            )
            .withColumn(
                "total_item_value",
                (F.col("price") + F.col("freight_value")).cast("decimal(12,2)"),
            )
        )
        return self.audit.write_table(s, self.base, "silver", "order_items")

    def load_silver_order_payments(self) -> int:
        """sp_load_silver_order_payments.sql:22-41."""
        b = self.read("bronze", "order_payments")
        s = b.filter(
            valid_id("order_id")
            & F.col("payment_type").isNotNull()
            & try_int("payment_sequential").isNotNull()
        ).select(
            clean_text("order_id").alias("order_id"),
            try_int("payment_sequential").alias("payment_sequential"),
            F.lower(clean_text("payment_type")).alias("payment_type"),
            try_int("payment_installments").alias("payment_installments"),
            decimal_comma("payment_value").alias("payment_value"),
        )
        return self.audit.write_table(s, self.base, "silver", "order_payments")

    def load_silver_order_reviews(self) -> int:
        """sp_load_silver_order_reviews.sql:22-67: keep-latest dedup on
        review_id (answer ts DESC + deterministic creation-ts/order_id
        tiebreak), score 1–5 gate, empty comments → NULL, computed
        flags (04_create_silver_tables.sql:348-350)."""
        b = self.read("bronze", "order_reviews")
        cleansed = b.filter(
            valid_id("review_id")
            & valid_id("order_id")
            & try_int("review_score").between(1, 5)
        ).select(
            clean_text("review_id").alias("review_id"),
            clean_text("order_id").alias("order_id"),
            try_int("review_score").alias("review_score"),
            null_if_empty("review_comment_title").alias("review_comment_title"),
            null_if_empty("review_comment_message").alias("review_comment_message"),
            try_ts("review_creation_date").alias("review_creation_date"),
            try_ts("review_answer_timestamp").alias("review_answer_timestamp"),
        )
        deduped = keep_latest(
            cleansed,
            ["review_id"],
            [F.desc("review_answer_timestamp"), F.desc("review_creation_date"), F.desc("order_id")],
        )
        flagged = (
            deduped.withColumn(
                "has_comment",
                F.when(
                    F.col("review_comment_title").isNotNull()
                    | F.col("review_comment_message").isNotNull(),
                    1,
                ).otherwise(0),
            )
            .withColumn("is_promoter", F.when(F.col("review_score") >= 4, 1).otherwise(0))
            .withColumn("is_detractor", F.when(F.col("review_score") <= 2, 1).otherwise(0))
        )
        return self.audit.write_table(flagged, self.base, "silver", "order_reviews")

    def load_silver_all(self) -> dict[str, int]:
        """C1/C2: dependency-ordered fail-fast silver orchestrator
        (05_sp_master_orchestrator_silver.sql:14-40) — first failure
        aborts the pipeline (audit row already FAILED + re-raised)."""
        loaders = {
            "customers": self.load_silver_customers,
            "sellers": self.load_silver_sellers,
            "category_translation": self.load_silver_category_translation,
            "products": self.load_silver_products,
            "geolocation": self.load_silver_geolocation,
            "orders": self.load_silver_orders,
            "order_items": self.load_silver_order_items,
            "order_payments": self.load_silver_order_payments,
            "order_reviews": self.load_silver_order_reviews,
        }
        return {name: loaders[name]() for name in SILVER_ORDER}

    # ------------------------------------------------------------ EP3: gold

    def load_gold_dim_date(self) -> int:
        """07_etl_silver_to_gold.sql:12-92, with the C3 idempotency
        guard (skip if already populated)."""
        try:
            if self.read("gold", "dim_date").count() > 0:
                return 0
        except Exception:
            pass
        dim = build_date_dim(self.spark, dt.date(2016, 1, 1), dt.date(2022, 12, 31))
        return self.audit.write_table(dim, self.base, "gold", "dim_date")

    def load_gold_dim_customer(self) -> int:
        """07_etl_silver_to_gold.sql:99-116 — J2 two-key left join to
        geolocation, joined columns discarded, DISTINCT, then SK."""
        c = self.read("silver", "customers")
        g = self.read("silver", "geolocation")
        decorated = (
            c.join(
                g,
                (c.customer_zip_code_prefix == g.geolocation_zip_code_prefix)
                & (accent_fold(c.customer_city) == g.geolocation_city),
                "left",
            )
            .select(
                "customer_id", "customer_unique_id", "customer_zip_code_prefix",
                "customer_city", "customer_state",
            )
            .distinct()
        )
        dim = add_surrogate_key_simple(decorated, ["customer_id"], sk_col="customer_sk")
        return self.audit.write_table(dim, self.base, "gold", "dim_customer")

    def load_gold_dim_product(self) -> int:
        """07_etl_silver_to_gold.sql:133-155 — full dim_product
        projection incl. photos_qty and the three dimension columns."""
        p = self.read("silver", "products").select(
            "product_id", "product_category_name", "product_category_name_english",
            "product_photos_qty", "product_weight_g",
            "product_length_cm", "product_height_cm", "product_width_cm",
            "product_volume_cm3",
        )
        dim = add_surrogate_key_simple(p, ["product_id"], sk_col="product_sk")
        return self.audit.write_table(dim, self.base, "gold", "dim_product")

    def load_gold_dim_seller(self) -> int:
        s = self.read("silver", "sellers").select(
            "seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"
        )
        dim = add_surrogate_key_simple(s, ["seller_id"], sk_col="seller_sk")
        return self.audit.write_table(dim, self.base, "gold", "dim_seller")

    def load_gold_fact_orders(self) -> int:
        """07_etl_silver_to_gold.sql:190-240: J3 inner SK join,
        yyyyMMdd date keys — ONLY purchase_date_key falls back to the
        19000101 unknown sentinel (it is NOT NULL at the source);
        delivered/estimated keys stay NULL for undelivered orders
        (:219-224 — the reference deliberately removed their COALESCE,
        and ~3% of Olist orders are undelivered).  Late flag from the
        silver date-granularity delay_days (:233, delay_days > 0) —
        NOT a full-timestamp compare, which would call an order
        delivered later in the day of its estimated date "late".
        approval_lead_days keeps the engine's pinned elapsed-time
        semantics for T-SQL DATEDIFF(HOUR)/24.0 (F10, SURVEY §1.2)."""
        o = self.read("silver", "orders")
        dim_c = self.read("gold", "dim_customer").select("customer_sk", "customer_id")

        def date_key(col: str):
            return F.date_format(F.col(col), "yyyyMMdd").cast("int")

        fact = (
            o.join(F.broadcast(dim_c), "customer_id", "inner")
            .withColumn(
                "purchase_date_key",
                F.coalesce(date_key("order_purchase_timestamp"), F.lit(19000101)),
            )
            .withColumn("delivered_date_key", date_key("order_delivered_customer_date"))
            .withColumn("estimated_date_key", date_key("order_estimated_delivery_date"))
            .withColumn(
                "approval_lead_days",
                (
                    F.unix_micros("order_approved_at")
                    - F.unix_micros("order_purchase_timestamp")
                ).cast("double")
                / 86400000000.0,
            )
            .withColumn(
                "total_delivery_days",
                (
                    F.unix_micros("order_delivered_customer_date")
                    - F.unix_micros("order_purchase_timestamp")
                ).cast("double")
                / 86400000000.0,
            )
            .withColumn(
                "is_delivered_late",
                F.when(F.col("delay_days") > 0, 1).otherwise(0),
            )
            .select(
                "order_id", "customer_sk", "order_status",
                "purchase_date_key", "delivered_date_key", "estimated_date_key",
                "approval_lead_days", "total_delivery_days", "delay_days",
                "is_delivered", "is_delivered_late",
            )
        )
        fact = add_surrogate_key(fact, ["order_id"], sk_col="order_sk")
        return self.audit.write_table(fact, self.base, "gold", "fact_orders")

    def load_gold_fact_order_items(self) -> int:
        """07_etl_silver_to_gold.sql:252-279: J4 SK-resolution chain,
        quantity ≡ 1 (:269)."""
        li = self.read("silver", "order_items")
        fo = self.read("gold", "fact_orders").select("order_sk", "order_id")
        dp = self.read("gold", "dim_product").select("product_sk", "product_id")
        ds = self.read("gold", "dim_seller").select("seller_sk", "seller_id")
        fact = (
            li.join(fo, "order_id", "inner")
            .join(F.broadcast(dp), "product_id", "inner")
            .join(F.broadcast(ds), "seller_id", "inner")
            .select(
                "order_sk", "product_sk", "seller_sk",
                "order_id", "order_item_id",
                F.lit(1).alias("quantity"),
                "price", "freight_value", "total_item_value",
            )
        )
        return self.audit.write_table(fact, self.base, "gold", "fact_order_items")

    def load_gold_fact_reviews(self) -> int:
        """07_etl_silver_to_gold.sql:298-317: J5 + comment/sentiment
        flags (LEN > 0 → has_comment, score thresholds)."""
        r = self.read("silver", "order_reviews")
        fo = self.read("gold", "fact_orders").select("order_sk", "order_id")
        fact = r.join(fo, "order_id", "inner").select(
            "order_sk", "review_id", "review_score",
            "has_comment", "is_promoter", "is_detractor",
        )
        return self.audit.write_table(fact, self.base, "gold", "fact_reviews")

    def load_gold_all(self) -> dict[str, int]:
        """EP3 orchestrator: dims before facts; facts in orders →
        items → reviews order (07_etl_silver_to_gold.sql:326-358)."""
        order = [
            ("dim_date", self.load_gold_dim_date),
            ("dim_customer", self.load_gold_dim_customer),
            ("dim_product", self.load_gold_dim_product),
            ("dim_seller", self.load_gold_dim_seller),
            ("fact_orders", self.load_gold_fact_orders),
            ("fact_order_items", self.load_gold_fact_order_items),
            ("fact_reviews", self.load_gold_fact_reviews),
        ]
        return {name: fn() for name, fn in order}
