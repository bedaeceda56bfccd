"""URL canonicalization — pure JVM column expressions (whole-stage codegen).

north_rule mandates: lowercase host, strip fragments and default ports, sort
query params. The reference's entire "canonicalization" is
`gsub('https://home.mobile.de/','').gsub('#ses','')`
(/root/reference/app/controllers/car_dealers_controller.rb:31); this
generalizes it. Native expressions (not UDFs) keep the hot path inside
codegen — at 10^10 URLs this runs on every outlink of every wave.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def canonicalize_url(url: Column) -> Column:
    """Canonical form: lowercase scheme+host, default port stripped,
    fragment stripped, query params sorted bytewise, empty path -> '/'.
    Non-URL strings pass through trimmed (defensive at corpus scale)."""
    u = F.trim(url)
    scheme = F.lower(F.regexp_extract(u, _URL_RE, 1))
    authority = F.lower(F.regexp_extract(u, _URL_RE, 2))
    host = F.when(
        ((scheme == "https") & authority.endswith(":443")) | ((scheme == "http") & authority.endswith(":80")),
        F.regexp_replace(authority, ":[0-9]+$", ""),
    ).otherwise(authority)
    path = F.regexp_extract(u, _URL_RE, 3)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    rawq = F.regexp_extract(u, _URL_RE, 4)  # includes leading '?', '' if none
    q = F.when(
        F.length(rawq) > 1,
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(F.substring(rawq, 2, 1 << 30), "&")), "&")),
    ).otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, path, q)
    return F.when(scheme == "", u).otherwise(canon)


def url_host(url: Column) -> Column:
    """Host of an (ideally canonical) URL; '' for non-URLs."""
    return F.regexp_replace(F.lower(F.regexp_extract(url, _URL_RE, 2)), ":[0-9]+$", "")


def url_path(url: Column) -> Column:
    p = F.regexp_extract(url, _URL_RE, 3)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_hash(url: Column) -> Column:
    """64-bit url identity carried by the seen set."""
    return F.xxhash64(url)


# ---------------------------------------------------------------------------
# Python engine — same semantics, one compiled-regex match per URL, called
# per outlink inside the Arrow extraction UDF (extract_pandas.py).
# The native expressions above re-evaluate the URL regex once per extracted
# component (~8 matches/URL); at outlink-expansion volume (millions of links
# per wave) that is the hot spot. Python's re matches ONCE and slices every
# group from the single Match. Equality with the native engine is enforced
# by test_canon.test_arrow_engine_matches_native.
# ---------------------------------------------------------------------------

import re as _re

_URL_RE_PY = _re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$")
_PORT_RE_PY = _re.compile(r":[0-9]+$")


def _canonicalize_py(u: str) -> str:
    u = u.strip(" ")  # F.trim strips spaces only
    m = _URL_RE_PY.match(u)
    if not m:
        return u
    scheme = m.group(1).lower()
    auth = m.group(2).lower()
    if (scheme == "https" and auth.endswith(":443")) or (scheme == "http" and auth.endswith(":80")):
        auth = _PORT_RE_PY.sub("", auth)
    path = m.group(3) or "/"
    q = m.group(4) or ""
    q = "?" + "&".join(sorted(q[1:].split("&"))) if len(q) > 1 else ""
    return f"{scheme}://{auth}{path}{q}"
