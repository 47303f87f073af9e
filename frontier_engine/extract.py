"""Arrow-batched extraction UDFs (SURVEY §2.10).

Two surfaces:

* Individual ``pandas_udf`` wrappers per operator (E1–E8, E19-analogue) —
  composable, each one parses the HTML again; fine for tests and one-off
  queries.
* ``with_extractions`` — the pipeline hot path: a single ``mapInPandas``
  pass that parses each page ONCE and emits every extraction column from
  the same DOM.  At 100 TB the parse dominates, so one-pass is the only
  acceptable plan; Arrow batch size is tuned in session.py.

All semantics delegate to ``refsem`` (reference parity, parser.py citations
there).  No per-row Python at the Spark API level — everything crosses the
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


# -- individual operator UDFs ------------------------------------------------


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """E1 (parser.py:41-52) — the byte-identical text column."""
    return html.map(refsem.extract_text, na_action="ignore")


@pandas_udf(StringType())
def extract_text_raw_udf(html: pd.Series) -> pd.Series:
    """E2 (parser.py:26-27) — get_text() without separator/strip."""
    return html.map(refsem.extract_text_raw, na_action="ignore")


@pandas_udf(ArrayType(LINK))
def extract_links_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """E4 (parser.py:54-87) — links with the naive parity resolution."""
    return pd.Series(
        [
            None if h is None else refsem.extract_links(h, b)
            for h, b in zip(html, base_url)
        ]
    )


@pandas_udf(ArrayType(IMAGE))
def extract_images_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    """E5 (parser.py:126-157)."""
    return pd.Series(
        [
            None if h is None else refsem.extract_images(h, b)
            for h, b in zip(html, base_url)
        ]
    )


@pandas_udf(_TABLES_T)
def extract_tables_udf(html: pd.Series) -> pd.Series:
    """E6 (parser.py:89-124)."""
    return html.map(refsem.extract_tables, na_action="ignore")


@pandas_udf(_MAP_T)
def extract_metadata_udf(html: pd.Series) -> pd.Series:
    """E7 (parser.py:159-185) — duplicate keys overwrite."""
    return html.map(refsem.extract_metadata, na_action="ignore")


@pandas_udf(ArrayType(StringType()))
def extract_json_ld_udf(html: pd.Series) -> pd.Series:
    """E8 (parser.py:187-207) — re-serialized to JSON strings so the Spark
    type stays closed; query with get_json_object/from_json."""
    return html.map(
        lambda h: [json.dumps(o, sort_keys=True) for o in refsem.extract_json_ld(h)],
        na_action="ignore",
    )


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


@pandas_udf(_MAP_T)
def find_media_urls_udf(html: pd.Series) -> pd.Series:
    """E11 (media_downloader.py:325-340) — raw-regex media discovery;
    values JSON-encoded lists keyed by media class."""
    return html.map(
        lambda h: {k: json.dumps(v) for k, v in refsem.find_media_urls(h).items()},
        na_action="ignore",
    )


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


def with_extractions(
    pages: DataFrame,
    parity_base: bool = True,
    extract_cols: tuple[str, ...] | None = None,
    keep_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Parse each page once; append all extraction columns.

    ``parity_base``: resolve relative links against the page URL's
    scheme://host root the way cli.py does (it passes the page url as
    base_url — parser.py's naive concat then applies).  The reference passes
    the FULL page url as base (cli.py:193-195 → parser calls), so we do too.

    ``extract_cols`` / ``keep_cols`` (guide §4: pass and return only the
    columns the consumer needs): when set, only the named EXTRACT_COLS are
    computed per page (the rest never run — a links-only caller skips
    get_text + the image/table/meta/json-ld walks entirely) and only the
    named input columns are returned through Arrow (a caller that drops
    ``html`` afterwards otherwise pays to serialize every page body
    Python→JVM a second time).  Defaults (None) = all columns, the crawl
    path's behavior, unchanged.  Each computed column is byte-identical to
    the full-extraction run — pruning changes cost, never values.
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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, links, images, tables, metas, jlds = [], [], [], [], [], []
            for h, base in zip(pdf["html"], pdf["url"] if parity_base else [None] * len(pdf)):
                if h is None:
                    texts.append(None)
                    links.append(None)
                    images.append(None)
                    tables.append(None)
                    metas.append(None)
                    jlds.append(None)
                    continue
                doc = parse_html(h)
                if "extracted_text" in wanted:
                    texts.append(doc.get_text(separator=" ", strip=True))
                if "links" in wanted:
                    lnk = []
                    for a in doc.find_all("a", has_attr="href"):
                        href = a.attrs["href"]
                        if href.startswith("javascript:"):
                            continue
                        lnk.append(
                            {"url": refsem._naive_resolve(base, href), "text": a.get_text().strip()}
                        )
                    links.append(lnk)
                if "images" in wanted:
                    images.append(
                        [
                            {"url": refsem._naive_resolve(base, im.attrs["src"]), "alt": im.get("alt", "")}
                            for im in doc.find_all("img", has_attr="src")
                        ]
                    )
                if "tables" in wanted:
                    tbls = []
                    for t in doc.find_all("table"):
                        rows = []
                        headers = [th.get_text().strip() for th in t.find_all("th")]
                        if headers:
                            rows.append(headers)
                        for tr in t.find_all("tr"):
                            cells = [td.get_text().strip() for td in tr.find_all("td")]
                            if cells:
                                rows.append(cells)
                        tbls.append(rows)
                    tables.append(tbls)
                if "page_metadata" in wanted:
                    md: dict[str, str] = {}
                    title = doc.find("title")
                    if title:
                        md["title"] = title.get_text().strip()
                    for meta in doc.find_all("meta"):
                        name = meta.get("name", meta.get("property", ""))
                        content = meta.get("content", "")
                        if name and content:
                            md[name] = content
                    metas.append(md)
                if "json_ld" in wanted:
                    jl = []
                    for script in doc.find_all("script", attrs={"type": "application/ld+json"}):
                        try:
                            jl.append(json.dumps(json.loads(script.string or ""), sort_keys=True))
                        except json.JSONDecodeError:
                            continue
                    jlds.append(jl)
            out = pdf[kept_in].copy()
            computed = {
                "extracted_text": texts,
                "links": links,
                "images": images,
                "tables": tables,
                "page_metadata": metas,
                "json_ld": jlds,
            }
            for name in wanted:
                out[name] = computed[name]
            # schema order, so correctness never rests on Arrow's by-name
            # column assignment (keep_cols/extract_cols may come in any order)
            yield out[out_names]

    return pages.mapInPandas(run, schema=out_schema)


# -- native-expression operators (no Python worker; SURVEY §2.3) -------------


def clean_text_col(col):
    """E9 (parser.py:209-226) — Catalyst-native; whole-stage codegen."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def content_hash_col(col):
    """E17 (media_downloader.py:181-184) — md5[:10] over binary/string."""
    return F.substring(F.md5(col), 1, 10)
