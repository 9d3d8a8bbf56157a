"""Misc scalar helpers completing SURVEY.md §2.7 coverage.

- url_normalize ≙ apm_url_normalizer
  (plugins/filter_apm_url_normalizer/filter_url_normalize.c:210):
  strip volatile path segments (numeric ids, uuids, hashes) to a
  normalized route.
- sha512 (src/flb_sha512.c), uri encode/decode (src/flb_uri.c) and
  gzip (src/flb_gzip.c) need no wrapper: `F.sha2(col, 512)`,
  `F.url_encode` / `F.url_decode`, and writes with
  option('compression','gzip').
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_UUID = r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"


def url_normalize(url: Column) -> Column:
    """Replace id-like path segments with '*': numeric ids, uuids, and
    long hex tokens; drop the query string."""
    c = F.regexp_replace(url, r"\?.*$", "")
    c = F.regexp_replace(c, f"/{_UUID}", "/*")
    c = F.regexp_replace(c, r"/[0-9a-fA-F]{16,}", "/*")
    c = F.regexp_replace(c, r"/\d+(?=/|$)", "/*")
    return c


