"""Structured Streaming ingest: continuous-crawl arrival of pages.

The reference is strictly request/response and has NO streaming operators
(SURVEY.md §2.8) — batch + manifest resume is the primary model.  This
module exists for the continuous-ingestion deployment shape: new crawl
files land in a directory (the streaming stand-in for a message bus /
Iceberg incremental scan) and the SAME extraction lineage runs per
micro-batch with exactly-once file-sink semantics from the Spark
checkpoint — no re-extraction of already-processed files after a kill,
which is the streaming twin of IcebergLikeTable's per-partition manifests.

Kernel reuse is the point: ``extract_pipeline`` (mapInArrow kernel +
JVM classification) is applied to the streaming DataFrame unchanged, so
batch goldens pin streaming correctness too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.extract_job import extract_pipeline
from ..sources.pages import PAGES_SCHEMA


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, available_now: bool = True,
                   max_files_per_trigger: int = 16):
    """Build and start the streaming extraction query.

    ``available_now=True`` drains everything currently in ``input_dir``
    and stops (used by tests and backfills); ``False`` keeps following
    the directory.  The salted rebalance shuffle is skipped: streaming
    micro-batches are already bounded by ``maxFilesPerTrigger``, so skew
    defense happens at file granularity."""
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .parquet(input_dir))
    extracted = extract_pipeline(pages, rebalance=False)
    writer = (extracted.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_crawl_stats(pages: DataFrame, watermark: str = "30 minutes",
                       window: str = "10 minutes") -> DataFrame:
    """Watermarked event-time crawl statistics: docs and payload bytes per
    (warc_ts window, content_type).

    Late-data semantics: rows older than ``watermark`` behind the max
    observed warc_ts are dropped; a window is emitted exactly once, when
    the watermark passes its end (append mode) — the monitoring feed for
    a continuous ingestion deployment.  Sniffing runs JVM-side
    (operators/sniff.py), generated from the table the kernel's Python
    sniff reads (core/sniff.py), so the stats match what extraction sees."""
    from ..operators.sniff import content_type_col

    return (pages
            .withColumn("content_type", content_type_col())
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "content_type")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce(F.octet_length("html"), F.lit(0)))
                  .alias("payload_bytes"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "content_type", "n_docs", "payload_bytes"))
