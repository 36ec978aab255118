"""Serving layer (SURVEY §2.9 K6, §2.5 A6).

The reference serves *precomputed* ClickHouse aggregates through a Spring
Boot REST API (`gmall-publisher`): `/api/sugar/gmv?date=` returns
`{status, msg, data}` with GMV for a day, defaulting to today
(SugarController.java:20-49), via `select sum(order_amount) from
product_stats where toYYYYMMDD(stt)=#{date}` (ProductStatsMapper.java:12-13)
— the query hits the small result table the streaming pipeline maintains,
never the raw facts.

Same split here: `materialize()` runs the pipeline aggregates once and
commits them as result tables (the ClickHouse role, played by one
`storage.TxLog` table each; a production deployment points this at the
streaming sinks); the read methods answer from those tables only. A
serving call must never rescan the fact table — the test asserts the read
plan touches no fact files. Reads never refresh and never write: each
read sees the last committed refresh whole, even while a `materialize()`
is running beside it, and a read of a store that was never materialized
raises the log's "has no commits" error. HTTP framing stays out of
engine scope, as the reference keeps it in a separate module.
"""

from __future__ import annotations

import os
from datetime import date as _date

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .session import mkscratch
from .storage import TxLog


class ServingAPI:
    def __init__(self, spark: SparkSession, sf_dir: str, store_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.store_dir = store_dir or mkscratch(prefix="serving_store_")
        self.logs = {
            name: TxLog(os.path.join(self.store_dir, name))
            for name in ("gmv_daily", "product_revenue")
        }

    # -- materialization (the streaming pipeline -> ClickHouse leg) --------
    def materialize(self) -> None:
        """Commit the serving result tables from the registry pipelines —
        run once per refresh (per trigger when fed by the streaming sinks),
        NOT per API call. Each table is replaced in one log commit."""
        from .queries import registry

        reg = registry()
        self.logs["gmv_daily"].overwrite(reg["serving_gmv"].spark(self.spark, self.sf_dir))
        # product_revenue carries integer CENTS (amount_c): order_amount is
        # net_cents/100.0, so round(x*100) recovers the exact cents and the
        # serving aggregations stay order-independent across engines
        # (functions/money.py discipline) instead of summing doubles.
        self.logs["product_revenue"].overwrite(
            reg["product_stats"].spark(self.spark, self.sf_dir)
            .groupBy("sku_id", "sku_name", "tm_name")
            .agg(F.sum(F.round(F.col("order_amount") * 100).cast("long")).alias("amount_c"))
        )

    def result_table(self, name: str):
        """The DataFrame a serving read answers from — the last committed
        version of a materialized result table, never the raw facts."""
        return self.logs[name].snapshot(self.spark)

    # -- reads (SugarController endpoints) ---------------------------------
    def gmv(self, day: str | None = None) -> dict:
        """GMV for one day; `{status, msg, data}` envelope like
        SugarController.java:32-48. Defaults to today. Reads the
        materialized result table only — one partition-pruned scan of a
        tiny aggregate, exactly the reference's ClickHouse query shape."""
        day = day or _date.today().isoformat()
        rows = self.result_table("gmv_daily").where(F.col("dt") == day).collect()
        data = float(rows[0]["gmv"]) if rows else 0.0
        return {"status": 0, "msg": "", "data": data}

    def product_stats_topn(self, n: int = 10) -> list[dict]:
        """Top products by net revenue (ProductStatsMapper-style serving agg),
        from the materialized revenue table."""
        rows = (
            self.result_table("product_revenue")
            .select(
                "sku_id", "sku_name", (F.col("amount_c") / F.lit(100.0)).alias("amount")
            )
            .orderBy(F.col("amount").desc(), F.col("sku_id").asc())
            .limit(n)
            .collect()
        )
        return [r.asDict() for r in rows]

    def trademark_revenue(self, n: int = 5) -> list[dict]:
        """Per-trademark GMV — the publisher's second ProductStats endpoint
        family (gmall-publisher ProductStatsMapper `getGmvByTm`: select
        tm_name, sum(order_amount) order_amount from product_stats group by
        tm_name order by order_amount desc limit #{limit}). Answers from
        the materialized revenue table only."""
        rows = (
            self.result_table("product_revenue")
            .groupBy("tm_name")
            .agg((F.sum("amount_c") / F.lit(100.0)).alias("amount"))
            .orderBy(F.col("amount").desc(), F.col("tm_name").asc())
            .limit(n)
            .collect()
        )
        return [r.asDict() for r in rows]
