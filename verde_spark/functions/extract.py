"""HTML → text extraction for the Common-Crawl-style page table.

BASELINE.json's input hint fixes the per-row invariant: *byte-identical
extracted text per url vs the reference extractor*.  This module IS that
extractor, specified twice from one written spec:

- :func:`extract_text` — the distributed engine: a pure-Catalyst chain of
  ``regexp_replace`` / ``replace`` expressions (JVM-side, codegen; zero
  Python in the hot path), applied to the ``html: binary`` column.
- :func:`reference_extract_text` — the single-node reference: the same
  spec in plain Python ``re`` over one ``bytes`` value.  Tests assert the
  two are byte-identical per url on every fixture (including adversarial
  entity/script/whitespace cases), which is exactly the invariant the
  north rule checks.

The extraction spec (deliberately small and deterministic — boilerplate
heuristics would make byte-parity a moving target):

1. decode the ``html`` binary as UTF-8;
2. drop ``<script …>…</script>`` and ``<style …>…</style>`` blocks
   (case-insensitive, dot-matches-newline, non-greedy);
3. drop HTML comments ``<!-- … -->`` (non-greedy);
4. replace every remaining tag ``<…>`` with ONE space;
5. decode the five predefined character entities — ``&lt; &gt; &quot;
   &#39;`` first, ``&amp;`` LAST so ``&amp;lt;`` becomes the literal
   ``&lt;`` and is not double-decoded;
6. collapse every run of ``[ \\t\\r\\n\\f]`` to one space and trim.

Every regex below is written in the common subset of Java regex (Spark),
RE2 (DuckDB — the oracle engine) and Python ``re``: explicit character
classes instead of ``\\s`` (Java's ``\\s`` includes ``\\x0B``, RE2's does
not), inline ``(?is)`` flags, and non-greedy ``.*?`` — all three engines
agree on these, so the driver's DuckDB oracle replays the exact chain.

Reference context: fatiando/verde has no text layer (geospatial library);
this module exists for the web-text payload of the graft.  The geotag
functions downstream (``sources/pages.py``) consume the extracted text.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# one spec, three engines: (pattern, replacement) applied in order.
# Patterns use [ \t\r\n\f] instead of \s (engine-portable, see module doc).
_TAG_PASSES: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<[^>]*>", " "),
)
# non-regex literal passes; &amp; MUST be last (see spec step 5)
_ENTITY_PASSES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)
_WS_PATTERN = r"[ \t\r\n\f]+"


def extract_text(html: Column | str = "html") -> Column:
    """Extracted text of an ``html: binary`` column — pure Catalyst.

    The whole chain is JVM-side ``regexp_replace``/``replace``
    expressions inside one whole-stage-codegen project; at crawl scale it
    runs at scan speed with no shuffle and no Python worker.  Accepts a
    string column too (cast is a no-op then).
    """
    col = F.col(html) if isinstance(html, str) else html
    s = col.cast("string")  # UTF-8 decode of the binary payload
    for pat, rep in _TAG_PASSES:
        s = F.regexp_replace(s, pat, rep)
    for lit, rep in _ENTITY_PASSES:
        s = F.replace(s, F.lit(lit), F.lit(rep))
    s = F.regexp_replace(s, _WS_PATTERN, " ")
    return F.trim(s)


def extract_text_sql(col: str) -> str:
    """The identical chain as DuckDB SQL (driver-oracle parity).

    DuckDB's ``regexp_replace`` replaces only the FIRST match unless the
    ``'g'`` option is passed; flags beyond that stay inline in the
    pattern so the pattern string is shared verbatim with Spark/Python.
    """
    expr = col
    for pat, rep in _TAG_PASSES:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{rep}', 'g')"
    for lit, rep in _ENTITY_PASSES:
        l_ = lit.replace("'", "''")
        r_ = rep.replace("'", "''")
        expr = f"replace({expr}, '{l_}', '{r_}')"
    expr = f"regexp_replace({expr}, '{_WS_PATTERN}', ' ', 'g')"
    return f"trim({expr})"


def reference_extract_text(html: bytes | str) -> str:
    """Single-value reference implementation of the same spec (Python
    ``re``) — the 'reference extractor' of the per-url byte-identity
    invariant.  Used by tests and by anyone validating a cluster run
    against a local sample."""
    # errors="replace" matches Spark's binary→string cast (both emit
    # U+FFFD per invalid sequence; verified identical on mixed invalid runs)
    s = (
        html.decode("utf-8", errors="replace")
        if isinstance(html, (bytes, bytearray))
        else html
    )
    for pat, rep in _TAG_PASSES:
        s = re.sub(pat, rep, s)
    for lit, rep in _ENTITY_PASSES:
        s = s.replace(lit, rep)
    s = re.sub(_WS_PATTERN, " ", s)
    return s.strip(" ")
