"""Text / timestamp scalar functions (SURVEY.md §2.7), all pure column
expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_html(text: Column) -> Column:
    """Drop HTML tags, collapse whitespace.

    Reference: ``findopendata/metadata.py:50-54`` uses BeautifulSoup
    ``get_text()``; a tag-stripping regex is equivalent on the fixture
    corpus and keeps the expression JVM-side.
    """
    no_tags = F.regexp_replace(text, r"<[^>]*>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def sanitize_filename(name: Column, default: str = "unnamed_file") -> Column:
    """Filesystem-safe filename, ≤255 chars keeping the extension.

    Reference: ``findopendata/util.py:9-22`` (spaces→``_``, strip unsafe
    chars, default name).
    """
    s = F.regexp_replace(F.trim(name), r"\s+", "_")
    s = F.regexp_replace(s, r"(?u)[^-\w.]", "")
    s = F.when(F.length(s) > 255, s.substr(F.lit(1), F.lit(255))).otherwise(s)
    return F.when((s.isNull()) | (s == ""), F.lit(default)).otherwise(s)


def coalesce_timestamps(*cols: Column) -> Column:
    """Timestamp fallback chain, UTC-normalized.

    Reference: ``findopendata/ckan/__init__.py:40-75`` — packages use
    ``modified → metadata_modified → metadata_created``; resources use
    ``created → revision_timestamp → last_modified``; naive stamps are
    assumed UTC (the session timezone is pinned to UTC in session.py).
    """
    return F.coalesce(*[F.to_timestamp(c) for c in cols])
