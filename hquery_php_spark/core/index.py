"""Per-document index: interval index + inverted indexes + attr interning.

Re-expresses the reference's ``HTML_Index`` analyze phase (duzun/hQuery.php,
HTML_Index.php:572-766) as a plain-Python structure built once per document
inside the vectorized extraction UDF:

* ``tag_idx``    {lc name -> {begin: end}}            (HTML_Index.php:572-605)
* ``attribs``    {aid -> attr map} — *interned* (deduplicated) attribute
  sets; ``attrs`` {begin -> aid}                      (HTML_Index.php:613-699)
* ``idx_attr``   {'href'|'src' -> {begin: value}} — URL attributes get a
  dedicated index and are removed from interned sets (HTML_Index.php:58,617-640)
* ``class_idx``  {class -> aid | {aid: ids}}          (HTML_Index.php:706-731)
* ``<base href>`` pickup overriding the location-derived base URL
                                                       (HTML_Index.php:756-763)

Everything is dictionaries over sorted integer byte offsets; queries are
set operations over these posting lists (see ``query.py``).
"""

from __future__ import annotations

import re
from typing import Dict, List, Mapping, Optional, Sequence, Tuple, Union

from .attrs import attr2str, parse_attr_str
from .charset import convert_to_utf8
from .parser import ParseResult, parse_html
from .urlutil import abs_url, get_url_base

__all__ = ["DocIndex", "INDEX_ATTRIBS", "merge_ranges"]

INDEX_ATTRIBS = ("href", "src")  # URL attrs with a dedicated index
URL_ATTRIBS = ("href", "src")

_WS_SPLIT = re.compile(r"\s+")
_DEL_SPACES_RE = re.compile(rb"(>)?\s+(<)?")

# Cross-document interning cache: raw attribute bytes → (canonical key,
# parsed items minus URL attrs, URL attr values).  Web corpora repeat the
# same attribute strings across millions of template-generated pages, so
# the parse+canonicalize cost is paid once per distinct string per worker.
# The entry is immutable (tuples); per-document consumers copy.
_RAW_ATTR_CACHE: Dict[bytes, tuple] = {}
_RAW_ATTR_CACHE_MAX = 100_000

IdMap = Dict[int, int]
Ranges = List[Tuple[int, int]]


def merge_ranges(ranges) -> Ranges:
    """Sorted, disjoint, non-empty union of half-open ``(start, stop)``
    ranges; touching ranges fuse, empty ones are dropped."""
    out: Ranges = []
    for s, e in sorted(r for r in ranges if r[0] < r[1]):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out


class DocIndex:
    """Immutable string + parallel index arrays for one document."""

    __slots__ = (
        "html",
        "ids",
        "tags",
        "tag_idx",
        "attrs",
        "attribs",
        "attr_idx",
        "class_idx",
        "idx_attr",
        "extents",
        "charset",
        "html_errors",
        "location",
        "base_uri",
        "base_url",
        "host_url",
        "_begins",
        "_ends",
        "_parent_begin",
        "_mask",
    )

    def __init__(
        self,
        html: Union[str, bytes],
        url: Optional[str] = None,
        headers: Optional[Union[str, Mapping[str, str]]] = None,
        del_spaces: bool = False,
    ) -> None:
        if isinstance(html, str):
            html = html.encode("utf-8")
        self.location: Optional[str] = url
        self.base_uri: Optional[str] = None
        self.base_url: Optional[str] = None
        self.host_url: Optional[str] = None
        if url:
            self._set_base_uri(url)

        # charset detect + convert-to-UTF-8 (fault tolerant); the index is
        # built over the *converted* string, so all offsets are byte offsets
        # into UTF-8 text — the reference's offset convention
        # (HTML_Index.php:744-747).
        html, charset, errors = convert_to_utf8(html, headers)
        if del_spaces:
            # optional whitespace squeeze before indexing — the
            # reference's static $del_spaces (HTML_Index.php:38,797-800)
            html = _DEL_SPACES_RE.sub(rb"\1 \2", html)
        self.html: bytes = html
        self.charset = charset
        self.html_errors = errors

        res: ParseResult = parse_html(html)
        self.ids: IdMap = res.ids
        self.tags: Dict[int, str] = res.tags
        self.extents: List[Tuple[int, int]] = res.extents
        self._begins: Optional[List[int]] = None
        self._ends: Optional[List[int]] = None
        self._parent_begin: Optional[Dict[int, int]] = None
        self._mask: Optional[tuple] = None

        self._index_tags()
        self._index_attribs(res.attr)
        self._index_classes()

        # <base href> pickup (HTML_Index.php:756-763): resolved against the
        # location-derived base, then overrides it.
        base_ids = self.tag_idx.get("base")
        if base_ids:
            for b in base_ids:
                a = self.get_attr_by_id(b, "href", raw=False)
                if a:
                    self._set_base_uri(a)
                    break

    # ------------------------------------------------------------------ #
    def _set_base_uri(self, href: str) -> None:
        t = get_url_base(href, True)
        if not t:
            return
        self.host_url, self.base_url = t
        self.base_uri = href

    def url2abs(self, url: str) -> str:
        return abs_url(url, self.base_url) if self.base_url is not None else url

    # ------------------------------------------------------------------ #
    def _index_tags(self) -> None:
        ix: Dict[str, IdMap] = {}
        ids = self.ids
        # run cache: tag names are interned via the parser's name_cache,
        # so `is` comparison is exact — consecutive same-named tags (the
        # common case in template HTML) skip the dict probe, and the miss
        # path avoids setdefault's throwaway-{} allocation per tag
        last_n: Optional[str] = None
        d: Optional[IdMap] = None
        get = ix.get
        for id_, n in self.tags.items():
            if n is not last_n:
                d = get(n)
                if d is None:
                    d = ix[n] = {}
                last_n = n
            d[id_] = ids[id_]  # type: ignore[index]
        nix: Dict[str, IdMap] = {}
        merged: List[str] = []
        for n, v in ix.items():
            if n in nix:
                continue  # reference quirk (HTML_Index.php:585-587)
            _n = n.lower()
            if _n in nix:
                nix[_n].update(v)
                merged.append(_n)
            else:
                nix[_n] = v
        for _n in merged:
            # case-merged posting lists are asort'ed (by END) in the
            # reference (HTML_Index.php:600-603)
            nix[_n] = dict(sorted(nix[_n].items(), key=lambda kv: kv[1]))
        self.tag_idx = nix

    def _index_attribs(self, raw_attrs: Dict[bytes, Union[int, List[int]]]) -> None:
        aix: Dict[int, Dict[str, Optional[str]]] = {}
        six: Dict[str, int] = {}
        iix: Dict[int, Union[int, List[int]]] = {}
        iax: Dict[str, Dict[int, Optional[str]]] = {a: {} for a in INDEX_ATTRIBS}
        self.attrs: Dict[int, int] = {}
        self.attr_idx: Dict[int, Union[int, IdMap]] = {}
        i = 0
        cache = _RAW_ATTR_CACHE
        for raw, v in raw_attrs.items():
            ent = cache.get(raw)
            if ent is None:
                a0 = parse_attr_str(raw.decode("utf-8", "replace"), True, False)
                url_vals = tuple(
                    (atn, a0.pop(atn)) for atn in INDEX_ATTRIBS if atn in a0
                )
                key0 = attr2str(a0) if a0 else None
                if len(cache) >= _RAW_ATTR_CACHE_MAX:
                    cache.clear()
                ent = cache[raw] = (key0, tuple(a0.items()), url_vals)
            key, a_items, url_vals = ent
            for atn, val in url_vals:
                if isinstance(v, list):
                    for e in v:
                        iax[atn][e] = val  # type: ignore[assignment]
                else:
                    iax[atn][v] = val  # type: ignore[assignment]
            if key is None:
                continue
            if key in six:
                aid = six[key]
                cur = iix[aid]
                if not isinstance(cur, list):
                    cur = [cur]
                    iix[aid] = cur
                if isinstance(v, list):
                    cur.extend(v)
                else:
                    cur.append(v)
            else:
                aid = i
                six[key] = aid
                # fresh per-document copy (the index owns and may serve it)
                aix[aid] = dict(a_items)  # type: ignore[assignment]
                iix[aid] = v
                i += 1
        ids = self.ids
        for aid, a in aix.items():
            v = iix[aid]
            if isinstance(v, list):
                if len(v) == 1:
                    v = v[0]
                elif v:
                    # Distinct raw attr strings can canonicalize to the same
                    # interned key (attr2str ksorts names), so the merged
                    # list interleaves out of document order — sort to keep
                    # the begin-sorted invariant the reference's ksort
                    # guarantees (HTML_Index.php:1261-1285) and that
                    # get_ids_by_aid's single-map fast path relies on.
                    v.sort()
                    u: IdMap = {}
                    for e in v:
                        u[e] = ids[e]
                        self.attrs[e] = aid
                    v = u  # type: ignore[assignment]
            if not isinstance(v, dict):
                self.attrs[v] = aid
            self.attr_idx[aid] = v  # type: ignore[assignment]
        self.idx_attr = {k: v for k, v in iax.items() if v}
        self.attribs = aix

    def _index_classes(self) -> None:
        ix: Dict[str, Union[int, Dict[int, Union[int, IdMap]]]] = {}
        attr_idx = self.attr_idx
        for aid, a in self.attribs.items():
            cl = a.get("class")
            # PHP !empty: '' / None / '0' all falsy
            if not cl or cl == "0":
                continue
            parts = cl if isinstance(cl, list) else _WS_SPLIT.split(cl.strip())
            for c in parts:
                cur = ix.get(c)
                if cur is None and c not in ix:
                    ix[c] = aid
                else:
                    if not isinstance(cur, dict):
                        cur = {cur: attr_idx[cur]}  # type: ignore[dict-item]
                        ix[c] = cur
                    cur[aid] = attr_idx[aid]
        self.class_idx = ix

    # ------------------------------------------------------------------ #
    # sorted arrays + parent links (computed lazily, cached)
    def begins_ends(self) -> Tuple[List[int], List[int]]:
        if self._begins is None:
            self._begins = list(self.ids.keys())
            self._ends = [self.ids[b] for b in self._begins]
        return self._begins, self._ends  # type: ignore[return-value]

    def markup_mask(self) -> Tuple[Sequence[Tuple[int, int]], Sequence[int]]:
        """``(merged, starts)``: the markup extents merged into sorted,
        disjoint, non-empty ranges, plus their start offsets for bisect.

        The document's text is the complement of ``merged``.  Built once
        per document and shared by every surface walk, hence tuples."""
        if self._mask is None:
            merged = tuple(merge_ranges(self.extents))
            self._mask = (merged, tuple(s for s, _ in merged))
        return self._mask

    def parent_begin(self) -> Dict[int, int]:
        """{begin -> parent begin} for every element; absent = top-level.

        parent(x) = interval with the greatest begin satisfying
        ``b < xb < e`` — exactly what the reference's merge sweep computes
        (Node.php:611-651), including crossing (mis-nested) intervals.
        """
        if self._parent_begin is None:
            pb: Dict[int, int] = {}
            st: List[Tuple[int, int]] = []  # (begin, end) candidates
            for b, e in self.ids.items():
                while st and st[-1][1] <= b:
                    st.pop()
                if st:
                    pb[b] = st[-1][0]
                if b < e:
                    st.append((b, e))
            self._parent_begin = pb
        return self._parent_begin

    # ------------------------------------------------------------------ #
    def get_attr_by_id(
        self,
        id_: int,
        attr: Optional[str] = None,
        raw: bool = True,
    ):
        """Attribute lookup for one element (HTML_Index.php:1411-1459).

        ``raw=False`` resolves URL attributes against the base URL.
        """
        if id_ not in self.ids:
            return None
        bu = (not raw) and self.base_url is not None
        if attr is not None:
            if attr in self.idx_attr:
                ret = self.idx_attr[attr].get(id_)
            else:
                aid = self.attrs.get(id_)
                ret = self.attribs[aid].get(attr) if aid is not None else None
            if ret and bu and attr in URL_ATTRIBS:
                ret = self.url2abs(ret)
            return ret
        ret: Dict[str, Optional[str]] = {}
        aid = self.attrs.get(id_)
        if aid is not None:
            ret = dict(self.attribs[aid])
        for atn in INDEX_ATTRIBS:
            m = self.idx_attr.get(atn)
            if m is not None and id_ in m:
                ret[atn] = m[id_]
        if bu:
            for n in URL_ATTRIBS:
                if ret.get(n):
                    ret[n] = self.url2abs(ret[n])  # type: ignore[arg-type]
        return ret
