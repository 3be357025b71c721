"""Structured Streaming variant of the extraction pipeline.

The reference is strictly batch (``job.waitForCompletion``,
``XmlExtractor.java:211``); this layer extends it: XML documents landing
in a directory are extracted continuously.

Design: ``foreachBatch`` applying the batch ``extract()`` per
micro-batch. This is *exactly* correct (not an approximation) because
the unit of work is one whole document — a document never spans files,
so the forward-fill state never crosses micro-batch boundaries.
No watermark or stateful operator is needed for parity; the windowed /
stateful event operators live in ``streaming.events``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hadoopxmlextractor_spark.config import ExtractionConfig
from hadoopxmlextractor_spark.extract import extract


def read_xml_document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming source of whole XML documents from a landing directory."""
    return (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(landing_dir)
        .select(
            F.input_file_name().alias("doc_id"),
            F.col("value").alias("content"),
        )
    )


def extract_stream(
    spark: SparkSession,
    landing_dir: str,
    config: ExtractionConfig,
    sink: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Continuously extract documents as they land; ``sink(batch_df,
    batch_id)`` receives each micro-batch's assembled output rows."""
    docs = read_xml_document_stream(spark, landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(extract(batch_df, config), batch_id)

    writer = docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
