"""URL canonicalization + 64-bit hashing (north rule: vectorized Arrow UDFs).

Canonicalization rules (standard crawl normalization): lowercase scheme and
host, strip default ports, drop fragments, collapse duplicate slashes in the
path, resolve ``.``/``..`` segments, sort query parameters, strip trailing
slash on non-root paths. Implemented as a pandas UDF (string surgery over
Arrow batches — no per-row Python through Spark's row serializer).

``url_hash64`` is the md5-derived identity hash. It drives dedupe,
ordering tie-breaks, politeness salts (``pmod(url_hash, n_salts)``) and
seen-index sharding, and any engine reproduces it bit-for-bit, so the
oracle compares against it directly.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_DEFAULT_PORTS = {"http": ":80", "https": ":443"}


def canonicalize_url(url: str) -> str:
    if not url:
        return ""
    url = url.strip()
    parts = urlsplit(url)
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    if scheme in _DEFAULT_PORTS and netloc.endswith(_DEFAULT_PORTS[scheme]):
        netloc = netloc[: -len(_DEFAULT_PORTS[scheme])]
    path = re.sub(r"/{2,}", "/", parts.path) or "/"
    segments: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if segments:
                segments.pop()
            continue
        segments.append(seg)
    path = "/".join(segments) or "/"
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    query = "&".join(sorted(q for q in parts.query.split("&") if q))
    return urlunsplit((scheme, netloc, path, query, ""))


def _canonicalize_batch(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url)


def canonicalize_udf(col):
    """Vectorized canonicalization (pandas UDF built lazily — the decorator
    needs an active session)."""
    return F.pandas_udf(_canonicalize_batch, "string")(col)


def host_of(url_col: str | Column = "url") -> Column:
    """Host for politeness grouping: scheme://authority for standard URLs;
    for the synthetic ``akf://cdYYYY/...`` refs the authority is the CD
    volume."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(c, r"^([a-z0-9+.\-]+://[^/]+)", 1)


def url_hash64(url_col: str | Column = "url") -> Column:
    """Engine-portable 64-bit identity hash: first 15 hex chars of md5 (60
    bits, always positive). DuckDB twin:
    CAST('0x' || substr(md5(url), 1, 15) AS BIGINT)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_py(url: str) -> int:
    """Pure-Python twin of url_hash64 for the sequential oracle."""
    import hashlib
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16)
