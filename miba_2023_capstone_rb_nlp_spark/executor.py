"""PipelineExecutor — end-to-end ETL orchestration (SURVEY §3.1),
API-parity with the reference's ``pipeline_executor.py`` but every
post-acquisition step is one lazy DataFrame DAG.

Lifecycle: cache probe (S1) → link acquisition (S4-S7) → distributed
content fetch (S8/S9) → join+explode+row-id (J1/L4/P8) → raw parquet
write (S2) → cleaning chain (F1-F7) over the written raw parquet →
clean parquet write (S3). Cleaning reads the raw file back instead of
re-running the raw plan, so each URL is fetched once and the raw and
clean tables describe the same fetch.
"""

from __future__ import annotations

import argparse
import os
import re

from pyspark.sql import DataFrame, SparkSession

from miba_2023_capstone_rb_nlp_spark.catalog import read_parquet
from miba_2023_capstone_rb_nlp_spark.operators.cleaning import clean_articles
from miba_2023_capstone_rb_nlp_spark.operators.pipeline import assemble_articles
from miba_2023_capstone_rb_nlp_spark.sources.content import fetch_content
from miba_2023_capstone_rb_nlp_spark.sources.links import (
    BingNewsSource,
    GoogleNewsSource,
    LinkSource,
    YahooNewsSource,
    get_all_links,
)


def sanitize_query(query: str) -> str:
    """F8 (pipeline_executor.py:94): strip quotes and spaces → cache key."""
    return re.sub(r"[\"']", "", query.strip().replace(" ", ""))


class PipelineExecutor:
    def __init__(
        self,
        spark: SparkSession,
        data_dir: str = "data",
        sources: list[LinkSource] | None = None,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.sources = sources or [
            GoogleNewsSource(),
            BingNewsSource(),
            YahooNewsSource(),
        ]

    def _paths(self, query: str, max_articles: int) -> tuple[str, str]:
        key = f"{sanitize_query(query)}_{max_articles}"
        return (
            os.path.join(self.data_dir, f"raw_{key}.parquet"),
            os.path.join(self.data_dir, f"clean_{key}.parquet"),
        )

    def execute(
        self, query: str, max_articles: int = 100, overwrite: bool = False, **kw
    ) -> DataFrame:
        raw_path, clean_path = self._paths(query, max_articles)
        # S1 cache probe (pipeline_executor.py:100-101)
        if not overwrite and os.path.exists(clean_path):
            return read_parquet(self.spark, clean_path)
        links = get_all_links(
            self.spark, self.sources, query, max_articles, **kw
        ).cache()
        content = fetch_content(links)
        raw = assemble_articles(
            links, content, paragraph_col="bs_paragraph", id_col="article_index"
        )
        # deterministic row id from the join key (SURVEY §7 hard-part 1)
        from miba_2023_capstone_rb_nlp_spark.functions.text import md5_long
        from pyspark.sql import functions as F

        raw = raw.withColumn("article_index", md5_long(F.col("se_link")))
        raw.write.mode("overwrite").parquet(raw_path)  # S2
        raw = read_parquet(self.spark, raw_path)
        clean = clean_articles(raw.drop("pos", "bs_link", "n3k_link"))
        clean.write.mode("overwrite").parquet(clean_path)  # S3
        return read_parquet(self.spark, clean_path)


def main() -> None:  # S10 CLI (pipeline_executor.py:131-144)
    ap = argparse.ArgumentParser(description="News ETL pipeline (Spark)")
    ap.add_argument("-q", "--query", required=True)
    ap.add_argument("-x", "--max-articles", type=int, default=100)
    ap.add_argument("--data-dir", default="data")
    ap.add_argument("--overwrite", action="store_true")
    args = ap.parse_args()
    from miba_2023_capstone_rb_nlp_spark.session import get_spark

    spark = get_spark(app_name="miba-etl")
    PipelineExecutor(spark, args.data_dir).execute(
        args.query, args.max_articles, args.overwrite
    )


if __name__ == "__main__":
    main()
