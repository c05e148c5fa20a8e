"""Staged E/T/L runner with parquet checkpoints (SURVEY §2.10 O1/O2, §3.1).

Replicates the reference's pipeline lifecycle Spark-first:

    extract:  caption-list scan (S1) → enrichment (E1, built-in backend)
              → ratio columns (F5) → filter chain (P5/P6)
              → deterministic sample (R1/R2) → image fetch (S7/E4)
              → null-drop failures (P7)              [checkpoint: extracted]
    transform: image transformation chain (E5)
              → success filter (P8 as NOT NULL)      [checkpoint: transformed]
    load:     metadata parquet (S5) + (file, caption) CSV projection (S6)

The image operators keep every input column, so each stage is one narrow
plan into its checkpoint write: no join, and image bytes never leave the task
that fetched them. A run submits four jobs (two checkpoints, metadata, CSV).

Differences from the reference, by design:
* Stages checkpoint to parquet and resume by reading the checkpoint
  (wikicaps_etl_pipeline.py:107,133-137 caching, minus the `_metadata_exists`
  full-flag bug noted in SURVEY §2.10/O2 — our existence check looks at the
  checkpoint actually being resumed). A checkpoint written in this run is
  read back with its known schema and reused, never re-read or re-inferred.
* The positional success-mask (wikicaps_etl_pipeline.py:203-210) is a
  NOT NULL filter on the transformed binary column — same semantics, no row
  order dependence.
* Thread pools (O3) disappear: parallelism is partition-level, sized by the
  cluster, not a config constant.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wicsmmiretl_spark.functions.text import add_ratio_columns, caption_stats
from wicsmmiretl_spark.multimodal.images import apply_image_transformations, fetch_images
from wicsmmiretl_spark.operators.filters import apply_filters
from wicsmmiretl_spark.operators.sampling import deterministic_sample
from wicsmmiretl_spark.plans.config import PipelineConfig
from wicsmmiretl_spark.sources.io import read_caption_list, write_csv_projection


class CaptionPipeline:
    """The reference's WikiCapsETLPipeline (wikicaps_etl_pipeline.py:251-278)
    as a checkpointed lazy-plan runner."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        fetcher: Callable[[str, str | None], bytes | None] | None = None,
        url_builder: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.spark = spark
        self.config = config
        self.fetcher = fetcher
        # default URL builder: wikimedia thumb URLs from wikimedia_file (F4)
        self.url_builder = url_builder or self._default_urls
        # per-stage row/failure metrics, collected via df.observe on the
        # checkpoint write itself — the reference logs these with extra
        # len(df) passes (wikicaps_etl_pipeline.py:171-201); Observation
        # piggybacks on the action already running, zero extra jobs.
        self.stage_metrics: dict[str, dict] = {}
        # each stage's output DataFrame, once this pipeline has it
        self._outputs: dict[str, DataFrame] = {}

    # -- checkpoint plumbing (O2) -------------------------------------------
    def _ckpt(self, stage: str) -> str:
        return os.path.join(self.config.output_dir, f"checkpoint_{stage}.parquet")

    def _has_ckpt(self, stage: str) -> bool:
        path = self._ckpt(stage)
        return os.path.isdir(path) and bool(
            [f for f in os.listdir(path) if f.startswith("_SUCCESS")]
        )

    def _resume(self, stage: str) -> DataFrame | None:
        """This run's output of ``stage``, else an earlier run's checkpoint."""
        if stage not in self._outputs and self._has_ckpt(stage):
            self._outputs[stage] = self.spark.read.parquet(self._ckpt(stage))
        return self._outputs.get(stage)

    def _write_ckpt(self, df: DataFrame, stage: str) -> DataFrame:
        df.write.mode("overwrite").parquet(self._ckpt(stage))
        self._outputs[stage] = self.spark.read.schema(df.schema).parquet(self._ckpt(stage))
        return self._outputs[stage]

    @staticmethod
    def _default_urls(df: DataFrame) -> DataFrame:
        from wicsmmiretl_spark.functions.strings import wikimedia_urls

        direct, indirect = wikimedia_urls(F.col("wikimedia_file"))
        return df.withColumn("url", direct).withColumn("fallback_url", indirect)

    # -- stages (O1) --------------------------------------------------------
    def extract(self) -> DataFrame:
        if (done := self._resume("extracted")) is not None:
            return done

        raw = read_caption_list(self.spark, self.config.caption_list)
        enriched = caption_stats(raw, text_col="caption")
        enriched = add_ratio_columns(enriched, ["num_ne"], "num_tok")
        filtered = apply_filters(enriched, self.config.filters)
        if self.config.max_samples is not None:
            filtered = deterministic_sample(
                filtered, self.config.max_samples, ["wikicaps_id"], self.config.seed
            )

        obs = Observation("extract")
        fetched = fetch_images(self.url_builder(filtered), fetcher=self.fetcher).observe(
            obs,
            F.count(F.lit(1)).alias("rows_after_filter"),
            F.sum(F.col("content").isNull().cast("long")).alias("fetch_failures"),
        )
        ok = fetched.filter(F.col("content").isNotNull()).withColumn("format", F.lit("png"))
        out = self._write_ckpt(ok, "extracted")
        self.stage_metrics["extract"] = obs.get
        return out

    def transform(self) -> DataFrame:
        if (done := self._resume("transformed")) is not None:
            return done

        extracted = self.extract()
        if not self.config.transformations:
            return self._write_ckpt(extracted, "transformed")

        obs = Observation("transform")
        images = (
            apply_image_transformations(extracted, self.config.transformations)
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows_transformed"),
                F.sum(F.col("content").isNull().cast("long")).alias("transform_failures"),
            )
            .filter(F.col("content").isNotNull())
        )
        out = self._write_ckpt(images, "transformed")
        self.stage_metrics["transform"] = obs.get
        return out

    def load(self) -> dict[str, str]:
        final = self.transform() if self.config.run_transform else self.extract()
        meta_path = os.path.join(self.config.output_dir, "metadata.parquet")
        csv_path = os.path.join(self.config.output_dir, "dataset.csv")
        final.drop("content").write.mode("overwrite").parquet(meta_path)
        write_csv_projection(final, csv_path, ["wikimedia_file", "caption"])
        return {"metadata": meta_path, "dataset": csv_path}

    def run(self) -> dict[str, str] | DataFrame | None:
        """Gate stages per config (wikicaps_etl_pipeline.py:251-278)."""
        result: dict[str, str] | DataFrame | None = None
        if self.config.run_extract:
            result = self.extract()
        if self.config.run_transform:
            result = self.transform()
        if self.config.run_load:
            result = self.load()
        return result
