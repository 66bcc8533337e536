"""Scalar function kernel: URL canonicalization, SURT keys, hashes,
mimetype normalization, CDX datetimes.

Each function exists in two forms:

- a pure-Python implementation (used by the single-threaded oracle and
  golden unit tests), and
- a Spark form: a Catalyst column expression when the built-in function
  surface can express it (the fast path — stays inside whole-stage
  codegen), else a vectorized pandas UDF (Arrow-batched; never
  row-at-a-time Python).
"""

from sandcrawler_spark.functions.urlkeys import (  # noqa: F401
    canonical_url,
    canonical_url_udf,
    fuzzy_match_url,
    host_of,
    surt,
    surt_udf,
    url_fuzzy_equal,
)
from sandcrawler_spark.functions.hashes import b32_hex, gen_file_metadata, hex_b32  # noqa: F401
from sandcrawler_spark.functions.mime import normalize_mime  # noqa: F401
from sandcrawler_spark.functions.paths import (  # noqa: F401
    sanitize_fs_path,
    sanitize_fs_path_col,
)
from sandcrawler_spark.functions.cdxdt import (  # noqa: F401
    cdx_to_timestamp_col,
    datetime_to_cdx,
    parse_cdx_datetime,
    timestamp_to_cdx_col,
)
