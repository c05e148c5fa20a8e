"""The benchmark's workloads.

Each workload is a closed loop with one client: it runs its operations one
after another, each to completion, on one SparkSession. A workload makes its
inputs from a seed, runs one checked warm pass, and runs each operation with
or without tracing. Operations run their Spark jobs under named spans (see
``run.Spans``), so the harness can count jobs per phase.

* ``etl_captions`` runs the paper's own pipeline (``CaptionPipeline``
  extract -> transform -> load) over a seeded caption list; one operation is
  one whole pipeline run into a fresh output directory.
* ``iterative_dedup`` runs suite queries built from multi-job operators
  (PageRank power iterations, the near-duplicate join), bound by driver-side
  rounds of small jobs. Each query's build phase submits a number of jobs fixed by the
  data, which every pass of a run must repeat exactly.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import datagen

NOOP = "noop"

DEDUP_QUERIES = (
    "order_graph_pagerank",
    "near_dup_jaccard",
)

# Reference v1 filter bounds (strict) and the image chain of the paper's config.
ETL_FILTERS = [
    {"column": "num_tok", "min": 10, "max": 150},
    {"column": "num_sent", "min": 1, "max": 5},
]
ETL_TRANSFORMS = [
    {"type": "resize", "max_width": 32, "max_height": 32},
    {"type": "compress", "bits": 4},
    {"type": "webp"},
]

# Self time of each public call of the pipeline, in pipeline order.
LADDER = (
    "sources.io.read_caption_list_s",
    "functions.text.caption_stats_s",
    "operators.filters.apply_filters_s",
    "operators.sampling.deterministic_sample_s",
    "multimodal.images.fetch_images_s",
    "multimodal.images.apply_image_transformations_s",
    "sources.io.write_csv_projection_s",
)


def write_noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


@dataclass
class Inputs:
    rows: int
    bytes: int


class _TimedConnection:
    """A DuckDB connection that records when the oracle SQL starts.

    ``compare_query`` runs the Spark side first and the oracle second, so the
    moment ``execute`` is called ends the Spark side's time.
    """

    def __init__(self, con):
        self.con = con
        self.called: float | None = None

    def execute(self, sql: str):
        self.called = time.perf_counter()
        return self.con.execute(sql)


class SuiteWorkload:
    """Suite queries over seeded star-schema tables, each sunk to noop."""

    def __init__(self, name: str, queries: tuple[str, ...], sf: float):
        self.name, self.ops, self.sf = name, queries, sf
        self.data_dir = ""

    def prepare(self, work: str, seed: int) -> Inputs:
        self.data_dir = os.path.join(work, "tables")
        tables = datagen.write_tables(self.data_dir, self.sf, seed)
        return Inputs(sum(tables.values()), dir_bytes(self.data_dir))

    def warm_op(self, spark, op: str, spans) -> tuple[float, list[str]]:
        """Run ``op`` once and compare it with its DuckDB oracle.

        Returns the seconds spent in Spark (the oracle's time is left out)
        and the problems found; a query without an oracle only has to run.
        """
        from wicsmmiretl_spark.oracle import compare_query, duck_connection
        from wicsmmiretl_spark.suite import ORACLES, QUERIES

        def build(spark, sf_dir):
            with spans.span("suite.build"):
                return QUERIES[op](spark, sf_dir)

        con = _TimedConnection(duck_connection(self.data_dir))
        try:
            t0 = time.perf_counter()
            problems = compare_query(spark, con, build, ORACLES.get(op), self.data_dir)
            return (con.called or time.perf_counter()) - t0, problems
        finally:
            con.con.close()

    def run_op(self, spark, op: str, spans) -> None:
        """Build one query, then execute it; building runs the eager jobs
        of the graph, similarity and dedup operators. Traced, planning is
        forced as a phase of its own between the two."""
        from wicsmmiretl_spark.suite import QUERIES

        with spans.span("suite.build"):
            df = QUERIES[op](spark, self.data_dir)
        if spans.traced:
            with spans.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with spans.span("spark.run"):
            write_noop(df)

    def output_bytes(self) -> int:
        return 0

    def check_last(self, spark) -> list[str]:
        return []

    def cleanup(self) -> None:
        pass


class EtlWorkload:
    """``CaptionPipeline`` over a seeded caption list with an in-benchmark fetcher."""

    name = "etl_captions"
    ops = ("pipeline",)

    def __init__(self, captions: int, max_samples: int):
        self.captions, self.max_samples = captions, max_samples
        self.work = self.caption_list = ""
        self.runs = 0
        self.last_out = ""
        self.last_metrics: dict = {}

    def prepare(self, work: str, seed: int) -> Inputs:
        self.work, self.seed = work, seed
        os.makedirs(work, exist_ok=True)
        self.caption_list = os.path.join(work, "captions.txt")
        size = datagen.write_caption_list(self.caption_list, self.captions, seed)
        return Inputs(self.captions, size)

    def _pipeline(self, spark):
        from wicsmmiretl_spark.plans.config import PipelineConfig
        from wicsmmiretl_spark.plans.pipeline import CaptionPipeline

        self.cleanup()
        self.runs += 1
        self.last_out = os.path.join(self.work, "out", f"run{self.runs}")
        config = PipelineConfig.from_dict(
            {
                "input": {"caption_list": self.caption_list},
                "output": {"dir": self.last_out},
                "seed": self.seed,
                "max_samples": self.max_samples,
                "filters": ETL_FILTERS,
                "transformations": ETL_TRANSFORMS,
            }
        )
        return CaptionPipeline(spark, config, fetcher=datagen.make_fetcher())

    def warm_op(self, spark, op: str, spans) -> tuple[float, list[str]]:
        t0 = time.perf_counter()
        self.run_op(spark, op, spans)
        seconds = time.perf_counter() - t0
        return seconds, self.check_last(spark)

    def run_op(self, spark, op: str, spans) -> None:
        """One pipeline run, stage by stage, as ``CaptionPipeline.run`` does."""
        pipe = self._pipeline(spark)
        for stage in ("extract", "transform", "load"):
            with spans.span(f"plans.pipeline.{stage}"):
                getattr(pipe, stage)()
        self.last_metrics = metrics = pipe.stage_metrics
        if spans.traced:
            spans.add("plans.pipeline.checkpoint_bytes", sum(
                dir_bytes(os.path.join(self.last_out, d))
                for d in os.listdir(self.last_out)
                if d.startswith("checkpoint_")
            ))
            spans.add("plans.pipeline.rows_after_filter", metrics["extract"]["rows_after_filter"])
            spans.add("plans.pipeline.fetch_failures", metrics["extract"]["fetch_failures"])

    def output_bytes(self) -> int:
        """Bytes the latest run wrote: checkpoints, metadata and CSV."""
        return dir_bytes(self.last_out)

    def check_last(self, spark) -> list[str]:
        """Problems in the latest run's outputs."""
        from pyspark.sql import functions as F

        out, metrics = self.last_out, self.last_metrics
        meta = spark.read.parquet(os.path.join(out, "metadata.parquet"))
        csv = spark.read.option("header", "true").csv(os.path.join(out, "dataset.csv"))
        inside = F.lit(True)
        for f in ETL_FILTERS:
            inside = inside & (F.col(f["column"]) > f["min"]) & (F.col(f["column"]) < f["max"])
        problems = []
        n_meta, n_csv = meta.count(), csv.count()
        if meta.filter(~inside).count():
            problems.append("metadata rows outside the filter bounds")
        if meta.filter(F.col("format") != "webp").count():
            problems.append("metadata rows whose format is not webp")
        expected = (
            metrics["extract"]["rows_after_filter"]
            - metrics["extract"]["fetch_failures"]
            - metrics["transform"]["transform_failures"]
        )
        if not n_meta == n_csv == expected:
            problems.append(f"rows: metadata={n_meta} csv={n_csv} expected={expected}")
        if not 0 < n_meta <= self.max_samples:
            problems.append(f"metadata rows {n_meta} not in (0, {self.max_samples}]")
        return problems

    def cleanup(self) -> None:
        if self.last_out and os.path.isdir(self.last_out):
            shutil.rmtree(self.last_out)

    def ladder(self, spark, tracer) -> None:
        """Self time of each public call of the pipeline.

        Each rung materializes one more call's output to noop; a rung's self
        time is its time minus the time of the rung it consumes, so a call
        whose own cost is below run-to-run noise can read slightly negative.
        """
        from pyspark.sql import functions as F

        from wicsmmiretl_spark.functions.text import add_ratio_columns, caption_stats
        from wicsmmiretl_spark.multimodal.images import (
            apply_image_transformations,
            fetch_images,
            transformations_from_config,
        )
        from wicsmmiretl_spark.operators.filters import apply_filters, filters_from_config
        from wicsmmiretl_spark.operators.sampling import deterministic_sample
        from wicsmmiretl_spark.plans.pipeline import CaptionPipeline
        from wicsmmiretl_spark.sources.io import read_caption_list, write_csv_projection

        csv_dir = os.path.join(self.work, "ladder.csv")

        def timed(action) -> float:
            t0 = time.perf_counter()
            action()
            return time.perf_counter() - t0

        def write_csv(df) -> None:
            write_csv_projection(df, csv_dir, ["wikimedia_file", "caption"])
            shutil.rmtree(csv_dir)

        raw = read_caption_list(spark, self.caption_list)
        enriched = add_ratio_columns(caption_stats(raw, text_col="caption"), ["num_ne"], "num_tok")
        filtered = apply_filters(enriched, filters_from_config(ETL_FILTERS))
        sampled = deterministic_sample(filtered, self.max_samples, ["wikicaps_id"], self.seed)
        fetched = fetch_images(CaptionPipeline._default_urls(sampled), fetcher=datagen.make_fetcher())
        images = apply_image_transformations(
            fetched.withColumn("format", F.lit("png")), transformations_from_config(ETL_TRANSFORMS)
        )
        t = {}
        for name, df in (("read", raw), ("stats", enriched), ("filter", filtered),
                         ("sample", sampled), ("fetch", fetched), ("images", images)):
            with tracer.group(f"ladder.{name}"):
                t[name] = timed(lambda df=df: write_noop(df))
        with tracer.group("ladder.csv"):
            t["csv"] = timed(lambda: write_csv(sampled))
        base = {"read": 0.0, "stats": t["read"], "filter": t["stats"], "sample": t["filter"],
                "fetch": t["sample"], "images": t["fetch"], "csv": t["sample"]}
        for metric, rung in zip(LADDER, base):
            tracer.add(metric, t[rung] - base[rung])


def make(name: str, small: bool):
    """The named workload at full size, or at self-test size when ``small``."""
    if name == "etl_captions":
        return EtlWorkload(captions=1_000, max_samples=200) if small else EtlWorkload(4_000, 400)
    if name == "iterative_dedup":
        return SuiteWorkload(name, DEDUP_QUERIES, 0.001)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("etl_captions", "iterative_dedup")
