"""Fixed StructTypes shared across the engine.

The reference accretes dict keys per row (SURVEY §1.1); the engine replaces
that with explicit, nullable, FIXED schemas so Catalyst can prune columns and
push predicates.  ``PAGES`` is the north-rule input table shape
(BASELINE.json ``input_hint``); ``LINK`` and ``IMAGE`` are the element types
of the extracted ``links`` / ``images`` arrays.  The crawl's state tables
(frontier, seen, metrics) are built in ``frontier.run_crawl``; FIXTURES.md
§B4 lists their columns and types (``not_before`` / ``discovered_ts`` are
virtual seconds, double).
"""

from __future__ import annotations

from pyspark.sql.types import BinaryType, StringType, StructField, StructType, TimestampType

# input_hint: (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

LINK = StructType(
    [StructField("url", StringType(), True), StructField("text", StringType(), True)]
)
IMAGE = StructType(
    [StructField("url", StringType(), True), StructField("alt", StringType(), True)]
)
