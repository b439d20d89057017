"""Shared scan-path <-> log-path normalization.

Spark renders ``_metadata.file_path`` / ``input_file_name()`` as a
percent-ENCODED URI (``file:/tmp/dv%20space%20test/part-0.parquet``),
while lakehouse log/metadata structures (Delta add actions after
``unquote``, Iceberg manifest ``file_path`` entries, caller-supplied
table paths) carry the DECODED filesystem path. Any join or lookup
between the two sides must normalize BOTH to the decoded,
scheme-stripped form, or rows silently (re)appear: a left-anti
deletion join that matches nothing resurrects deleted rows.

Reference analog: the engine's connectors compare
``org.apache.hadoop.fs.Path`` objects, which canonicalize encoding
before equality — this module is the Spark-first equivalent.
"""

from __future__ import annotations

import re
from urllib.parse import unquote

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*:/{0,2}(?=/)"


def norm_path(p: str) -> str:
    """Python-side: strip URI scheme, percent-decode."""
    return unquote(re.sub(_SCHEME_RE, "", p))


def norm_path_expr(col: Column) -> Column:
    """JVM-side twin of :func:`norm_path` — keeps path joins inside
    whole-stage codegen (no Python round-trip on the scan side).

    ``url_decode`` is form-decoding (``+`` -> space), but URI path
    renderings keep a literal ``+`` as ``+`` — pre-encode it to
    ``%2B`` so the decode round-trips it. ``try_url_decode`` +
    coalesce keeps a path with a stray non-hex ``%`` (possible in
    library-written metadata that stored the raw name) as-is instead
    of failing the whole scan.
    """
    stripped = F.regexp_replace(col, _SCHEME_RE, "")
    return F.coalesce(
        F.try_url_decode(F.regexp_replace(stripped, r"\+", "%2B")),
        stripped,
    )
