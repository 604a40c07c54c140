"""Scalar / vectorized functions (SURVEY.md §2.7, §2.9).

Everything here is a pure Spark column expression (JVM-side,
whole-stage-codegen friendly).
"""

from findopendata_spark.functions.urls import canonicalize_url, url_host  # noqa: F401
from findopendata_spark.functions.text import (  # noqa: F401
    strip_html,
    sanitize_filename,
    coalesce_timestamps,
)
