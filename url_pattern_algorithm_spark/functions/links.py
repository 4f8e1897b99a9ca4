"""Candidate-link extraction from interleaved-document spans.

Input shape fixed by BASELINE.json.input_hint:
``spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>``
with kind in {text, link, image, video} — span order (kind, text, media_ref,
offset) must pass through unchanged (per-row span-sequence invariant); link
extraction is a read-only projection.

Reference analogue: the crawl pipeline consumed page records and emitted
their URL fields (InputUtil.java:47-79); anchor extraction itself lived
upstream of the reference repo, so the extraction rules here are the
rebuild's own, kept deliberately simple and deterministic:

- kind == 'link'  -> the span's text holds the href (plus any absolute URLs
  embedded in it);
- kind == 'text'  -> absolute http(s) URLs found in the text;
- media kinds     -> media_ref when it is an absolute http(s) URL.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from url_pattern_algorithm_spark.kernel.rfc3986 import normalize_frontier_url
from url_pattern_algorithm_spark.kernel.tokenize import get_host

_URL_RE = re.compile(r"https?://[^\s\"'<>)\]]+")


def get_host_lower(url: str) -> str | None:
    h = get_host(url)
    return h.lower() if h is not None else None


def extract_links(spans: list | None) -> list[str]:
    """Pure kernel: ordered candidate URLs from one document's spans."""
    if spans is None:
        return []
    out: list[str] = []
    for span in spans:
        kind = span.get("kind") if isinstance(span, dict) else span["kind"]
        text = span.get("text") if isinstance(span, dict) else span["text"]
        media = span.get("media_ref") if isinstance(span, dict) else span["media_ref"]
        if kind == "link" and text:
            if text.startswith("http://") or text.startswith("https://"):
                out.append(text.split()[0])
            else:
                out.extend(_URL_RE.findall(text))
        elif kind == "text" and text:
            out.extend(_URL_RE.findall(text))
        elif kind in ("image", "video", "audio") and media:
            if media.startswith("http://") or media.startswith("https://"):
                out.append(media)
    return out


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(spans: pd.Series) -> pd.Series:
    """Arrow-batched extraction: spans column -> array<string> of candidates.
    Pair with ``F.explode`` for the frontier's candidate stream (UDTF shape,
    SURVEY.md §2.13)."""
    return spans.map(extract_links)


URL_STRUCT = StructType(
    [
        StructField("url", StringType()),
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
    ]
)


def url_columns(u: str | None) -> dict:
    """The frontier's per-URL projection: url -> (url, url_canon, host),
    one host parse (``get_host``, the reference's ProcessedUrl.java:90-96
    rule) and the single normalization chain. Unparsable URLs get null
    url_canon (filtered downstream, same rule as normalize_url_udf)."""
    if u is None:
        return {"url": None, "url_canon": None, "host": None}
    try:
        # None for unparsable/bracketed hosts (the single shared
        # chain — kernel.rfc3986.normalize_frontier_url)
        canon = normalize_frontier_url(u)
    except Exception:
        canon = None
    return {"url": u, "url_canon": canon, "host": get_host_lower(u)}


@pandas_udf(URL_STRUCT)
def url_columns_udf(urls: pd.Series) -> pd.DataFrame:
    """Arrow-batched :func:`url_columns` over a URL column."""
    return pd.DataFrame([url_columns(u) for u in urls],
                        columns=URL_STRUCT.fieldNames())


@pandas_udf(ArrayType(URL_STRUCT))
def extract_normalize_udf(spans: pd.Series) -> pd.Series:
    """Fused extract + :func:`url_columns` in ONE Arrow pass:
    spans -> [(url, url_canon, host)]. On the crawl hot path this halves the
    JVM<->Python round trips vs extract_links_udf followed by a separate
    projection over the exploded candidates (the exploded stream is the
    largest relation in an iteration)."""
    return spans.map(lambda row: [url_columns(u) for u in extract_links(row)])
