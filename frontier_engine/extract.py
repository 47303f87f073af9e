"""Arrow-batched extraction (SURVEY §2.10).

``with_extractions`` is the pipeline hot path: a single ``mapInPandas``
pass that parses each page ONCE and runs every wanted ``refsem`` extractor
(E1, E4–E8) on the same DOM.  At 100 TB the parse dominates, so one-pass is
the only acceptable plan; Arrow batch size is tuned in session.py.  The
operators themselves live only in ``refsem`` (reference parity, parser.py
citations there); this module adds the Spark types and the batching, plus
``extract_text_udf`` and ``make_selectors_udf`` for the WARC and pipeline
paths.  No per-row Python at the Spark API level — everything crosses the
JVM↔Python boundary as Arrow record batches (input_hint requirement).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from frontier_engine import refsem
from frontier_engine.htmlx import parse_html
from frontier_engine.schema import IMAGE, LINK

_TABLES_T = ArrayType(ArrayType(ArrayType(StringType())))
_MAP_T = MapType(StringType(), StringType())


def _as_str(h) -> str:
    if isinstance(h, (bytes, bytearray)):
        return h.decode("utf-8", errors="replace")
    return h or ""


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """E1 (parser.py:41-52) — the byte-identical text column."""
    return html.map(refsem.extract_text, na_action="ignore")


def make_selectors_udf(selectors: dict[str, str]):
    """E3 (parser.py:29-39) — configured selector map → MAP<STRING,STRING>
    where each value is the JSON encoding of the reference result (string,
    list, or null) to preserve the scalar-collapse quirk losslessly."""

    @pandas_udf(_MAP_T)
    def selectors_udf(html: pd.Series) -> pd.Series:
        def run(h):
            res = refsem.parse_selectors(_as_str(h), selectors)
            return {k: json.dumps(v, ensure_ascii=False) for k, v in res.items()}

        return html.map(run, na_action="ignore")

    return selectors_udf


# -- one-pass pipeline extraction ---------------------------------------------

EXTRACT_COLS = StructType(
    [
        StructField("extracted_text", StringType(), True),
        StructField("links", ArrayType(LINK), True),
        StructField("images", ArrayType(IMAGE), True),
        StructField("tables", _TABLES_T, True),
        StructField("page_metadata", _MAP_T, True),
        StructField("json_ld", ArrayType(StringType()), True),
    ]
)

# each EXTRACT_COLS column as its refsem operator on (parsed page, page url);
# the reference passes the full page url as base (cli.py:193-195).  JSON-LD
# is re-serialized to JSON strings so the Spark type stays closed; query it
# with get_json_object/from_json.
_OPS = {
    "extracted_text": lambda doc, url: refsem.extract_text(doc),
    "links": refsem.extract_links,
    "images": refsem.extract_images,
    "tables": lambda doc, url: refsem.extract_tables(doc),
    "page_metadata": lambda doc, url: refsem.extract_metadata(doc),
    "json_ld": lambda doc, url: [
        json.dumps(o, sort_keys=True) for o in refsem.extract_json_ld(doc)
    ],
}


def with_extractions(
    pages: DataFrame,
    extract_cols: tuple[str, ...] | None = None,
    keep_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Parse each page once; append all extraction columns.

    ``extract_cols`` / ``keep_cols`` (guide §4: pass and return only the
    columns the consumer needs): when set, only the named EXTRACT_COLS are
    computed per page (the rest never run — a links-only caller skips
    get_text + the image/table/meta/json-ld walks entirely) and only the
    named input columns are returned through Arrow (a caller that drops
    ``html`` afterwards otherwise pays to serialize every page body
    Python→JVM a second time).  Defaults (None) = all columns, the crawl
    path's behavior.  Each computed column is byte-identical to the
    full-extraction run — pruning changes cost, never values.  A null
    ``html`` gives null extraction columns.
    """
    wanted = tuple(extract_cols) if extract_cols is not None else tuple(
        f.name for f in EXTRACT_COLS.fields
    )
    in_cols = [f.name for f in pages.schema.fields]
    kept_in = list(keep_cols) if keep_cols is not None else in_cols
    out_schema = StructType(
        [f for f in pages.schema.fields if f.name in kept_in]
        + [f for f in EXTRACT_COLS.fields if f.name in wanted]
    )
    out_names = [f.name for f in out_schema.fields]
    ops = {name: _OPS[name] for name in wanted}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {name: [] for name in ops}
            # row by row: one DOM alive at a time, never a batch of them
            for h, url in zip(pdf["html"], pdf["url"]):
                doc = None if h is None else parse_html(h)
                for name, op in ops.items():
                    cols[name].append(None if doc is None else op(doc, url))
            out = pdf[kept_in].copy()
            for name, values in cols.items():
                out[name] = values
            # schema order, so correctness never rests on Arrow's by-name
            # column assignment (keep_cols/extract_cols may come in any order)
            yield out[out_names]

    return pages.mapInPandas(run, schema=out_schema)


# -- native-expression operators (no Python worker; SURVEY §2.3) -------------


def content_hash_col(col):
    """E17 (media_downloader.py:181-184) — md5[:10] over binary/string."""
    return F.substring(F.md5(col), 1, 10)
