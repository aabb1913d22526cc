"""URL absolutization.

Re-expresses the reference's URL algebra (duzun/hQuery.php,
HTML_Index.php:288-411): ``get_url_path`` / ``get_url_base`` /
``is_url_path`` / ``is_abs_path`` / ``abs_url``.  This is the resolution
layer behind every ``media_ref`` the pipeline emits — ``img[src]`` and
``a[href]`` values are resolved against the document's base URL
(``<base href>`` overrides the location-derived base).

Golden behavior pinned by tests ported from
tests/hQueryCore.Test.php:487-532,558-620.
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import urlsplit

__all__ = [
    "get_url_path",
    "get_url_base",
    "is_url_path",
    "is_abs_path",
    "abs_url",
    "parse_srcset",
]

_SCHEME_PREFIX_RE = re.compile(r"^[a-z]+\:$")
_URL_PATH_RE = re.compile(r"^[a-zA-Z]+\:\/\/")


def get_url_path(url: str) -> Optional[str]:
    """Directory part of an absolute URL (HTML_Index.php:302-317)."""
    p = url.find("//")
    if p < 0 or (p and not _SCHEME_PREFIX_RE.match(url[:p])):
        return None
    q = url.rfind("/")
    if p + 1 < q:
        return url[: q + 1]
    return url + "/"


def get_url_base(url: str, as_pair: bool = False):
    """(host base, dir base) of an absolute URL (HTML_Index.php:288-296)."""
    up = get_url_path(url)
    if not up:
        return None
    q = up.find("/", up.find("//") + 2)
    ub = up[: q + 1]
    return (ub, up) if as_pair else ub


def is_url_path(path: str) -> bool:
    """True when ``path`` carries a ``scheme://`` prefix."""
    return bool(_URL_PATH_RE.match(path))


def is_abs_path(path: str):
    """True/position when ``path`` is absolute (HTML_Index.php:360-373)."""
    if path[:1] in ("\\", "/") or (path[1:2] == ":" and path[2:3] in ("\\", "/")):
        return True
    l = path.find("://")
    if 0 < l < 32:
        return l
    return False


def _php_dirname(path: str) -> str:
    # PHP dirname() for inputs that never end in '/': '/base/f'→'/base',
    # 'f'→'.', '/f'→'/'; trailing slashes before the basename collapse.
    i = path.rfind("/")
    if i < 0:
        return "."
    j = i
    while j > 0 and path[j - 1] == "/":
        j -= 1
    return path[:j] if j > 0 else "/"


def abs_url(url: str, base: str) -> str:
    """Absolute URL for ``url`` against ``base`` (HTML_Index.php:382-411).

    Handles scheme-relative ``//host/...``, root-relative ``/path``,
    relative paths against the base *directory*, and squeezes duplicate
    slashes after ``http(s)://``.
    """
    if not is_url_path(url):
        t = urlsplit(base)
        scheme = t.scheme
        if url.startswith("//"):
            if scheme:
                url = scheme + ":" + url
        else:
            host = t.hostname or ""
            # reconstruct host with original case (urlsplit lowercases hostname)
            netloc = t.netloc
            port = ""
            if ":" in netloc.rsplit("@", 1)[-1]:
                hostpart, port = netloc.rsplit(":", 1)
                port = ":" + port
                host = hostpart.rsplit("@", 1)[-1]
            else:
                host = netloc.rsplit("@", 1)[-1]
            b = (scheme + "://" if scheme else "//") + host + port
            path = t.path
            if path:
                s = _php_dirname(path + "f")
                if s and s not in (".", "/") and not url.startswith("/"):
                    b += "/" + s.lstrip("/")
            url = b.rstrip("/") + "/" + url.lstrip("/")
    else:
        p = url.find(":")
        if url[p + 3 : p + 4] == "/" and url[:p] in ("http", "https"):
            url = url[: p + 3] + url[p + 3 :].lstrip("/")
    return url


def parse_srcset(value):
    """Parse an HTML ``srcset`` attribute into [(url, descriptor)] per
    the spec's candidate grammar (WHATWG HTML §4.8.4.3.10 "parse a
    srcset attribute" — beyond the reference, which predates responsive
    images): candidates separated by commas, where a URL itself may
    contain commas only when not adjacent to whitespace; each URL may
    carry one width (``600w``) or density (``2x``) descriptor.
    Fault-tolerant: malformed candidates are skipped, never raised.

    Descriptor is returned verbatim (``'600w'``, ``'2x'``) or ``None``
    for a bare URL (the implicit ``1x`` candidate)."""
    out = []
    if not value:
        return out
    s = str(value)
    i, n = 0, len(s)
    ws = " \t\n\r\f"
    while i < n:
        # skip whitespace and leading commas
        while i < n and (s[i] in ws or s[i] == ","):
            i += 1
        if i >= n:
            break
        # collect URL: run of non-whitespace
        b = i
        while i < n and s[i] not in ws:
            i += 1
        url = s[b:i]
        if url.endswith(","):
            # trailing commas terminate the candidate; no descriptor
            url = url.rstrip(",")
            if url:
                out.append((url, None))
            continue
        # skip whitespace, then collect descriptor up to the next comma
        while i < n and s[i] in ws:
            i += 1
        b = i
        while i < n and s[i] != ",":
            i += 1
        desc = s[b:i].strip() or None
        i += 1  # past the comma
        if url:
            out.append((url, desc))
    return out
