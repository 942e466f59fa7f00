"""pages-table constructors.

:func:`pages_from_documents` lifts the driver's ``documents`` testdata table
into the canonical ``pages(url, warc_ts, html, text, lang)`` shape of
BASELINE.json's ``input_hint`` — deterministic url/warc_ts derivation, html
wrapper via :func:`wrap_html` so the extraction invariant holds for every
generated row. ``perfbench``'s ``wsd_prompted`` workload and the
driver-contract ``entry`` use it, so their inputs have the exact schema
the pipeline reads.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.text import wrap_html

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_from_documents(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, ...) -> pages.

    url and warc_ts are pure-function projections (JVM-side); only the html
    wrapper needs Python (bytes templating), done in one Arrow pass.
    """

    def wrap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "html": [
                        wrap_html(t or "", title=u) for t, u in zip(pdf["text"], pdf["url"])
                    ],
                    "text": pdf["text"].fillna(""),
                    "lang": pdf["lang"],
                }
            )

    base = documents.select(
        F.concat(
            F.lit("https://crawl.example/"),
            F.col("source"),
            F.lit("/doc-"),
            F.lpad(F.col("doc_id").cast("string"), 9, "0"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        "text",
        "lang",
    )
    return base.mapInPandas(wrap, schema=PAGES_SCHEMA)
