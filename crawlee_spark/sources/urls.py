"""URL-list ingestion + content-type parsing as Column expressions.

Reference behaviors re-expressed set-wise:

- ``extractUrls`` / ``downloadListOfUrls`` — regex-scan arbitrary text for
  URLs, line by line (packages/utils/src/internals/extract-urls.ts:43-56,
  74-91). The regex is the public ``URL_NO_COMMAS_REGEX``
  (packages/utils/src/internals/general.ts:8-9), ported to Java regex
  syntax; extraction is ``regexp_extract_all`` — JVM-side, no UDF.
  The Google-Sheets share-URL fixup (extract-urls.ts:76-80) is a pure
  string rewrite (`fix_google_sheets_url_col`); the HTTP download itself is
  out of scope (no network) — callers read the text with ``spark.read.text``.
- ``parseContentTypeFromResponse`` — content-type header parse with
  file-extension fallback and application/octet-stream default
  (packages/http-crawler/src/internals/http-crawler.ts:1014-1046).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# URL_NO_COMMAS_REGEX (general.ts:8-9) in Java regex syntax; (?iu) ≈ /iu.
URL_NO_COMMAS_REGEX = (
    r"(?iu)https?://(www\.)?([\p{L}0-9]|[\p{L}0-9][-\p{L}0-9@:%._+~#=]{0,254}[\p{L}0-9])"
    r"\.[a-z]{2,63}(:\d{1,5})?(/[-\p{L}0-9@:%_+.~#?&/=()'*]*)?"
)
# URL_WITH_COMMAS_REGEX (general.ts:15-16): commas also allowed in path/query.
URL_WITH_COMMAS_REGEX = (
    r"(?iu)https?://(www\.)?([\p{L}0-9]|[\p{L}0-9][-\p{L}0-9@:%._+~#=]{0,254}[\p{L}0-9])"
    r"\.[a-z]{2,63}(:\d{1,5})?(/[-\p{L}0-9@:%_+,.~#?&/=()'*]*)?"
)


def extract_urls_col(text: Column | str, url_regex: str = URL_NO_COMMAS_REGEX) -> Column:
    """All URL matches in a text column as ``array<string>`` (E8).

    The reference scans line-by-line then concatenates; a global scan of the
    same regex yields the same match set since the pattern cannot cross a
    newline (no whitespace is admitted anywhere in it)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(url_regex), F.lit(0))


def fix_google_sheets_url_col(url: Column | str) -> Column:
    """Rewrite a Google-Sheets share URL to its CSV export endpoint
    (extract-urls.ts:76-80)."""
    c = F.col(url) if isinstance(url, str) else url
    prefix = F.regexp_extract(c, r"^(https://docs\.google\.com/spreadsheets/d/[\w-]+)/?", 1)
    return F.when(prefix != "", F.concat(prefix, F.lit("/gviz/tq?tqx=out:csv"))).otherwise(c)


# ---------------------------------------------------------------------------
# content type (E4)
# ---------------------------------------------------------------------------

# file-extension → mime fallback subset (the reference delegates to the
# `mime-types` package; this table covers the crawl-relevant types)
EXT_MIME = {
    "html": "text/html",
    "htm": "text/html",
    "xml": "application/xml",
    "xhtml": "application/xhtml+xml",
    "json": "application/json",
    "txt": "text/plain",
    "csv": "text/csv",
    "pdf": "application/pdf",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "mp4": "video/mp4",
    "mp3": "audio/mpeg",
}

DEFAULT_MIME = "application/octet-stream"
DEFAULT_CHARSET = "utf-8"


def parse_content_type_cols(header: Column | str, url: Column | str) -> tuple[Column, Column]:
    """(mime, charset) from a Content-Type header with URL-extension fallback.

    Order of precedence (http-crawler.ts:1014-1046): parseable header ▸
    extension-mapped mime ▸ application/octet-stream; charset from the
    header's ``charset=`` parameter, default utf-8."""
    h = F.col(header) if isinstance(header, str) else header
    u = F.col(url) if isinstance(url, str) else url
    header_mime = F.lower(F.trim(F.regexp_extract(h, r"^\s*([^;,\s]+/[^;,\s]+)", 1)))
    charset = F.lower(F.trim(F.regexp_extract(h, r"(?i)charset\s*=\s*\"?([A-Za-z0-9_\-]+)", 1)))

    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]{1,8})$", 1))
    ext_mime = F.lit(None).cast("string")
    for e, m in EXT_MIME.items():
        ext_mime = F.when(ext == e, F.lit(m)).otherwise(ext_mime)

    mime = F.when(header_mime != "", header_mime).otherwise(
        F.coalesce(ext_mime, F.lit(DEFAULT_MIME))
    )
    return mime, F.when(charset != "", charset).otherwise(F.lit(DEFAULT_CHARSET))
