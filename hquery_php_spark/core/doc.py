"""Document / element facade: ``find()`` driver + extraction functions.

Re-expresses the reference's public API (duzun/hQuery.php):

* ``HDoc.find(sel, attr)`` — the fused plan/execute loop over the selector
  IR: OR groups → per-step conjunction → combinator hops → positional
  pseudo slices → union + doc-order restore (hQuery.php:302-450);
* ``HElement`` — an ordered set of intervals over one document, lazy over
  the source string (Node.php / Element.php): ``html() outer_html() text()
  attr() val() node_name() pos() has_class() exclude() dl() text2dl()``.

A selection never materializes markup — it is a map {begin: end} into the
immutable document; extraction is byte slicing.
"""

from __future__ import annotations

import html as _htmlmod
import re
from bisect import bisect_right
from typing import Dict, Iterator, List, Mapping, Optional, Tuple, Union

from .attrs import attr2str, parse_attr_str, parse_css_str
from .index import DocIndex, IdMap
from .query import (
    children_of,
    ctx_ids,
    filter_contains,
    filter_ids,
    find_ids,
    has_class,
    next_siblings,
    parents_of,
    prev_siblings,
)
from .selector import parse_selector

__all__ = ["HDoc", "HElement", "strip_tags"]

_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_TAG_RE = re.compile(rb"<[^>]*>")
_TRAILING_LT_RE = re.compile(rb"<[^>]*\Z")
_INT_PREFIX = re.compile(r"[+-]?\d+")


def _php_int(v) -> int:
    """PHP (int) cast: leading integer prefix, else 0 — never raises."""
    if isinstance(v, int):
        return v
    m = _INT_PREFIX.match(str(v).strip())
    return int(m.group()) if m else 0


def strip_tags(html: bytes) -> bytes:
    """PHP-strip_tags-alike: drop comments, tags, and an unterminated
    trailing ``<...`` run (Node.php:325-329 uses strip_tags for text())."""
    html = _COMMENT_RE.sub(b"", html)
    html = _TAG_RE.sub(b"", html)
    html = _TRAILING_LT_RE.sub(b"", html)
    return html


def _decode_entities(s: str) -> str:
    return _htmlmod.unescape(s)


class HElement:
    """An ordered collection of intervals {begin: end} over one HDoc."""

    __slots__ = ("doc", "ids", "exc")

    def __init__(self, doc: "HDoc", ids: IdMap, exc: Optional[IdMap] = None) -> None:
        self.doc = doc
        self.ids = ids
        self.exc = exc

    # -- collection ops (Element.php:241-324) -------------------------- #
    def __len__(self) -> int:
        return len(self.ids)

    def __bool__(self) -> bool:
        return bool(self.ids)

    def __iter__(self) -> Iterator["HElement"]:
        for b, e in self.ids.items():
            yield HElement(self.doc, {b: e})

    def get(self, idx: int) -> Optional["HElement"]:
        items = list(self.ids.items())
        if idx < 0:
            idx += len(items)
        if 0 <= idx < len(items):
            b, e = items[idx]
            return HElement(self.doc, {b: e})
        return None

    def first(self) -> Optional["HElement"]:
        return self.get(0)

    def last(self) -> Optional["HElement"]:
        return self.get(len(self.ids) - 1)

    def slice(self, start: int, count: Optional[int] = None) -> "HElement":
        items = list(self.ids.items())
        sel = items[start : start + count if count is not None else None]
        return HElement(self.doc, dict(sel))

    def pos(self) -> Optional[int]:
        """Byte offset of the first element — the span ``offset`` field
        (Node.php:483-495)."""
        for b in self.ids:
            return b
        return None

    # -- extraction (Node.php:251-329) ---------------------------------- #
    def html_bytes(self) -> bytes:
        doc = self.doc.index
        ids = self.ids
        exc_ranges: List[Tuple[int, int]] = []
        if self.exc:
            ids = {b: e for b, e in ids.items() if b not in self.exc}
            # Beyond the reference (whose content-view exclusion test is
            # commented out): excluded elements *nested inside* an emitted
            # slice are cut from it — the boilerplate-strip hook (Q21).
            exc_ranges = sorted((b + 1, e) for b, e in self.exc.items() if b < e)
        parts = []
        for p, q in ids.items():
            p += 1
            if p < q:
                pos = p
                for xs, xe in exc_ranges:
                    if xe <= pos or xs >= q:
                        continue
                    if pos < xs:
                        parts.append(doc.html[pos:xs])
                    pos = max(pos, xe)
                    if pos >= q:
                        break
                if pos < q:
                    parts.append(doc.html[pos:q])
        return b"".join(parts)

    def html(self) -> str:
        return self.html_bytes().decode("utf-8", "replace")

    def text(self) -> str:
        return _decode_entities(
            strip_tags(self.html_bytes()).decode("utf-8", "replace")
        )

    def outer_html(self, tag_map: Optional[Dict[str, str]] = None) -> str:
        """Rebuild ``<name attrs…>…</name>`` with canonically-serialized
        attributes, preserving the source tag-close style ``>``, ``/>``,
        `` />``; ``tag_map`` renames tags on output by lowercased name
        (Node.php:283-320, map lookup at :299-303)."""
        doc = self.doc.index
        out = []
        for p, q in self.ids.items():
            a = doc.get_attr_by_id(p, None, raw=True)
            astr = attr2str(a) if a else ""
            n = doc.tags[p]
            if tag_map:
                n = tag_map.get(n.lower(), n)
            p1 = p + 1
            h: Union[bytes, bool] = (
                False if p1 - 1 == q else (doc.html[p1:q] if p1 < q else b"")
            )
            # capture the close style from source: back-scan over '/', ws
            tc = p1 - 2
            if h is False and doc.html[tc : tc + 1] == b"/":
                tc -= 1
            while tc >= 0 and doc.html[tc : tc + 1] in b" \t\n\r\x00\x0b\x0c":
                tc -= 1
            tc += 1
            close_style = doc.html[tc:p1].decode("utf-8", "replace")
            out.append(
                "<"
                + n
                + ((" " + astr) if astr else "")
                + close_style
                + (
                    ""
                    if h is False
                    else h.decode("utf-8", "replace") + "</" + n + ">"
                )
            )
        return "".join(out)

    def node_name(self, case_folding: bool = True) -> Union[str, List[str], None]:
        doc = self.doc.index
        names = [doc.tags[b] for b in self.ids]
        if case_folding:
            names = [n.lower() for n in names]
        if not names:
            return None
        return names[0] if len(names) == 1 else names

    def attr(self, name: Optional[str] = None, evaluate: bool = False):
        """Attribute of the first element; ``evaluate=True`` resolves
        href/src against the base URL and parses style (Node.php:134-149)."""
        for b in self.ids:
            val = self.doc.index.get_attr_by_id(b, name, raw=not evaluate)
            if evaluate and name == "style":
                return parse_css_str(val) if val else {}
            return val
        return None

    def val(self):
        """Form-value semantics (Element.php:194-213)."""
        el = self.get(0) if len(self.ids) > 1 else self
        if el is None:
            return False
        nn = el.node_name(False)
        nn = (nn or "").upper() if isinstance(nn, str) else ""
        if nn == "TEXTAREA":
            return el.html()
        if nn == "INPUT":
            t = el.attr("type")
            if isinstance(t, str) and t.upper() == "CHECKBOX" and el.attr("checked") is False:
                return False
            return el.attr("value")
        return False

    def has_class(self, cl: Union[str, List[str]]):
        """Tri-state (HTML_Index.php:940-991 / Element.php:221-233)."""
        if not isinstance(cl, list):
            cl = [c for c in str(cl).strip().split()]
        ids = self.ids
        if self.exc:
            ids = {b: e for b, e in ids.items() if b not in self.exc}
        results = []
        for b in ids:
            c = has_class(self.doc.index, b, cl)
            if c is False:
                return False
            results.append(c)
        if not results:
            return 0
        if len(results) == 1:
            return results[0]
        return True if any(r is True for r in results) else 0

    # -- structure ------------------------------------------------------ #
    def find(
        self, sel: str, attr=None, extensions: bool = False
    ) -> Optional["HElement"]:
        return self.doc.find(sel, attr, ctx=self, extensions=extensions)

    def exclude(self, sel: str, attr=None) -> Optional["HElement"]:
        """Subtract a sub-selection from this node's content view
        (Node.php:205-218) — the boilerplate-strip hook."""
        e = self.find(sel, attr)
        if e:
            if not self.exc:
                self.exc = dict(e.ids)
            else:
                merged = dict(e.ids)
                merged.update(self.exc)
                self.exc = dict(sorted(merged.items()))
        return e

    def parent(self) -> "HElement":
        return HElement(self.doc, parents_of(self.doc.index, self.ids))

    def children(self) -> "HElement":
        return HElement(self.doc, children_of(self.doc.index, self.ids))

    def next_sibling(self) -> "HElement":
        return HElement(self.doc, next_siblings(self.doc.index, self.ids))

    def prev_sibling(self) -> "HElement":
        return HElement(self.doc, prev_siblings(self.doc.index, self.ids))

    # -- structured extraction (Node.php:353-420,1254-1302) ------------- #
    def dl(
        self,
        dt_sel: str = "dt",
        dd_sel: str = "dd",
        dw: Optional[str] = None,
        key=None,
    ):
        one_key = key is not None
        out: Dict[str, str] = {}
        if dw:
            wrappers = self.find(dw)
            if wrappers:
                for w in wrappers:
                    dte = w.find(dt_sel)
                    dde = w.find(dd_sel)
                    if not dte or not dde:
                        continue
                    dt = dte.first().text().strip()
                    dd = dde.first().text().strip()
                    if one_key:
                        if key(dt, dd) if callable(key) else key == dt:
                            return dd
                    else:
                        out[dt] = dd
        else:
            dtl = self.find(dt_sel)
            ddl = list(self.find(dd_sel) or [])
            if dtl:
                for i, e in enumerate(dtl):
                    if i >= len(ddl):
                        break
                    dt = e.text().strip()
                    dd = ddl[i].text().strip()
                    if one_key:
                        if key(dt, dd) if callable(key) else key == dt:
                            return dd
                    else:
                        out[dt] = dd
        return None if one_key else out

    def text2dl(self, sep: str = ":", key=None):
        return text_parse_dl(self.text(), sep, key)

    # -- property magic (Element.php:54-97): el.href / el.src / el.style /
    #    el.text / el.nodeName … evaluate like the reference's __get ------ #
    _PROP_ALIASES = {
        "innerHTML": lambda self: self.html(),
        "outerHtml": lambda self: self.outer_html(),
        "textContent": lambda self: self.text(),
        "nodeName": lambda self: self.node_name(False),
        "value": lambda self: self.val(),
        "className": lambda self: self.attr("class", True),
        "nextElementSibling": lambda self: self.next_sibling(),
        "previousElementSibling": lambda self: self.prev_sibling(),
    }

    def __getattr__(self, name: str):
        # __getattr__ only fires for names not found normally (methods and
        # slots win), so `el.href` etc. resolve as evaluated attributes
        if name.startswith("_"):
            raise AttributeError(name)
        alias = HElement._PROP_ALIASES.get(name)
        if alias is not None:
            return alias(self)
        return self.attr(name, True)


_NTH_RX = re.compile(
    r"^\s*(?:(odd)|(even)|(?:([+-]?\d*)n\s*([+-]\s*\d+)?)|([+-]?\d+))\s*$",
    re.I,
)


def _parse_nth(arg: Optional[str]) -> Optional[Tuple[int, int]]:
    """``an+b`` / ``odd`` / ``even`` / plain integer -> (a, b), or None
    for an unparseable argument (extension then matches nothing)."""
    m = _NTH_RX.match(arg or "")
    if not m:
        return None
    if m.group(1):
        return (2, 1)
    if m.group(2):
        return (2, 0)
    if m.group(5):
        return (0, int(m.group(5)))
    a_tok = m.group(3)
    a = 1 if a_tok in ("", "+") else (-1 if a_tok == "-" else int(a_tok))
    b = int((m.group(4) or "0").replace(" ", ""))
    return (a, b)


def _nth_matches(a: int, b: int, pos: int) -> bool:
    """CSS an+b test for a 1-based sibling position."""
    if a == 0:
        return pos == b
    k, r = divmod(pos - b, a)
    return r == 0 and k >= 0


def _ext_attr_ops(doc: DocIndex, rb: IdMap, ops) -> IdMap:
    """Extension attribute operators ``~= ^= $= *=`` as a per-element
    post-filter (the reference leaves these unimplemented,
    Parser/Selector.php:205-233) — the indexed fast paths are not
    touched, so parity behavior is unaffected when extensions are off."""
    out: IdMap = {}
    for bb, ee in rb.items():
        ok = True
        for name, op, val in ops:
            av = doc.get_attr_by_id(bb, name)
            if av is None:
                ok = False
                break
            s = str(av)
            if op == "~":
                ok = val in s.split()
            elif op == "^":
                ok = bool(val) and s.startswith(val)
            elif op == "$":
                ok = bool(val) and s.endswith(val)
            else:  # '*'
                ok = bool(val) and val in s
            if not ok:
                break
        if ok:
            out[bb] = ee
    return out


def _ext_pseudo(doc: DocIndex, rb: IdMap, op: str, arg) -> IdMap:
    """Extension pseudos ``:not`` / ``:empty`` / ``:nth-child`` as
    post-filters over the current candidate set."""
    if op == "not":
        # simple compound argument: tag / #id / .class / [attr] — the
        # first step of the first OR group; a pseudo-class or combinator
        # inside :not is outside the documented extension subset, so it
        # falls back to a no-op like an unparseable argument
        try:
            g = parse_selector(str(arg or ""), extensions=True)
        except Exception:
            return rb
        if not g or len(g[0]) != 1 or "p" in g[0][0]:
            return rb
        st = g[0][0]
        at = dict(st.get("a") or {})
        if "i" in st:
            at["id"] = st["i"]
        matched = filter_ids(doc, dict(rb), st.get("n"), st.get("c"), at)
        if st.get("ax"):
            matched = _ext_attr_ops(doc, matched, st["ax"])
        return {b: e for b, e in rb.items() if b not in matched}
    if op == "empty":
        # CSS :empty — no element children and no text (comments and
        # other markup-only content allowed; whitespace text is text)
        pb = doc.parent_begin()
        has_kids = set(pb.values())
        mask, starts = doc.markup_mask()
        out: IdMap = {}
        for b, e in rb.items():
            if b in has_kids:
                continue
            # zero-length content (incl. self-closing), or content that
            # one merged markup range covers whole
            i = bisect_right(starts, b + 1) - 1
            if e <= b + 1 or (i >= 0 and mask[i][1] >= e):
                out[b] = e
        return out
    # op == "nth-child"
    ab = _parse_nth(arg)
    if ab is None:
        return {}
    pb = doc.parent_begin()
    kids: Dict[Optional[int], List[int]] = {}
    for cb in doc.ids:
        kids.setdefault(pb.get(cb), []).append(cb)
    nth: Dict[int, int] = {}  # begin -> 1-based position among siblings
    for v in kids.values():
        v.sort()
        for k, cb in enumerate(v, 1):
            nth[cb] = k
    return {b: e for b, e in rb.items() if _nth_matches(ab[0], ab[1], nth[b])}


def text_parse_dl(text: str, sep: str = ":", key=None):
    """Parse text as ``key: value`` lines (Node.php:1254-1302)."""
    text = text.strip()
    one_key = key is not None
    out: Dict[str, str] = {}
    if not text:
        return None if one_key else out
    for line in text.split("\n"):
        line = line.strip()
        if not line:
            continue
        kv = line.split(sep, 1)
        k = kv[0].rstrip()
        v = kv[-1].lstrip()
        if one_key:
            if key(k, v) if callable(key) else key == k:
                return v
        else:
            out[k] = v
    return None if one_key else out


class HDoc:
    """A parsed, indexed document."""

    __slots__ = ("index",)

    def __init__(
        self,
        html: Union[str, bytes],
        url: Optional[str] = None,
        headers: Optional[Union[str, Mapping[str, str]]] = None,
        del_spaces: bool = False,
    ) -> None:
        self.index = DocIndex(html, url=url, headers=headers, del_spaces=del_spaces)

    @classmethod
    def from_html(cls, html, url=None, headers=None) -> "HDoc":
        return cls(html, url=url, headers=headers)

    @classmethod
    def from_file(cls, path: str, url=None, headers=None) -> "HDoc":
        """Read raw bytes (gzip-transparent) and index — the reference's
        ``fromFile`` (hQuery.php:112-125); charset detection sees the
        original on-disk bytes."""
        import gzip as _gzip

        with open(path, "rb") as f:
            data = f.read()
        if data[:2] == b"\x1f\x8b":
            data = _gzip.decompress(data)
        return cls(data, url=url if url is not None else path, headers=headers)

    # ------------------------------------------------------------------ #
    def __len__(self) -> int:
        return len(self.index.ids)

    @property
    def charset(self):
        return self.index.charset

    @property
    def base_url(self):
        return self.index.base_url

    @property
    def base_uri(self):
        return self.index.base_uri

    @property
    def html_errors(self):
        return self.index.html_errors

    def url2abs(self, url: str) -> str:
        return self.index.url2abs(url)

    def body(self) -> "HElement":
        el = self.find("body")
        return el if el else HElement(self, dict(self.index.ids))

    # ------------------------------------------------------------------ #
    def _ctx_map(self, ctx) -> Optional[IdMap]:
        if ctx is None:
            return None
        if isinstance(ctx, HElement):
            return ctx_ids(ctx.ids, ctx.exc)
        if isinstance(ctx, dict):
            return ctx_ids(dict(sorted(ctx.items())))
        raise TypeError(f"invalid context: {type(ctx)}")

    def find(
        self, sel: str, attr=None, ctx=None, extensions: bool = False
    ) -> Optional[HElement]:
        """The fused plan/execute loop (hQuery.php:302-450).

        ``extensions=True`` enables the beyond-reference selector set —
        ``[a~=v] [a^=v] [a$=v] [a*=v]``, ``:not(<simple compound>)``,
        ``:empty`` and ``:nth-child(an+b|odd|even)`` — implemented as
        per-step POST-filters so the reference-parity paths are
        untouched; the default keeps the reference's silent
        fall-through for these (Parser/Selector.php:47-72, 205-233)."""
        doc = self.index
        base_attr: Dict[str, Optional[str]] = {}
        if isinstance(attr, str):
            base_attr = parse_attr_str(attr)
        elif isinstance(attr, dict):
            base_attr = dict(attr)

        cx0 = self._ctx_map(ctx)
        if ctx is not None and not cx0:
            return None  # empty context yields empty result

        groups = parse_selector(sel.strip(), extensions=extensions)
        ra: Optional[IdMap] = None
        merged = False

        for group in groups:
            rb: Optional[IdMap] = None
            cx = cx0
            for b in group:
                at = dict(b.get("a") or {}) or dict(base_attr)
                if b.get("a") and base_attr:
                    for k, v in base_attr.items():
                        at.setdefault(k, v)
                if "i" in b:
                    at["id"] = b["i"]  # '#id' is just '[id=...]'
                n = b.get("n")
                c = b.get("c")

                if not rb:
                    rb = find_ids(doc, n, c, at, cx)
                else:
                    x = b.get("x", " ")
                    if x == " ":
                        cx = ctx_ids(dict(sorted(rb.items())))
                        rb = find_ids(doc, n, c, at, cx) if cx else None
                    elif x == ">":
                        ch = children_of(doc, rb)
                        rb = filter_ids(doc, ch, n, c, at)
                    elif x == "+":
                        ch = next_siblings(doc, rb)
                        rb = filter_ids(doc, ch, n, c, at)
                    elif x == "~":
                        ch = next_siblings(doc, rb, 0, -1)
                        rb = filter_ids(doc, ch, n, c, at)
                if not rb:
                    break

                if extensions and b.get("ax"):
                    rb = _ext_attr_ops(doc, rb, b["ax"])
                    if not rb:
                        break

                for ps in b.get("p") or ():
                    if isinstance(ps, int):
                        pidx = ps
                        if pidx < 0:
                            pidx += len(rb)
                        if len(rb) >= 1 or pidx:
                            if pidx < 0:
                                rb = None
                            else:
                                items = list(rb.items())[pidx : pidx + 1]
                                rb = dict(items)
                    elif isinstance(ps, dict):
                        (op, arg), = ps.items()
                        if op not in ("<", ">", "-", "+", "|", "*"):
                            if extensions and op in (
                                "not", "empty", "nth-child"
                            ):
                                rb = _ext_pseudo(doc, rb, op, arg)
                                if not rb:
                                    break
                                continue
                            # unknown pseudo (e.g. :not / :nth-child —
                            # explicit TODOs in the reference): falls
                            # through the switch silently (hQuery.php:
                            # 404-426), result unchanged
                            continue
                        narg = _php_int(arg) if arg not in (None, "") else None
                        if op == "<":
                            if narg is not None:
                                rb = dict(list(rb.items())[:narg])
                        elif op == ">":
                            rb = dict(list(rb.items())[narg or 0 :])
                        elif op == "-":
                            rb = prev_siblings(doc, rb, narg or 0)
                        elif op == "+":
                            rb = next_siblings(doc, rb, narg or 0)
                        elif op == "|":
                            reps = narg if narg is not None else 0
                            rb = parents_of(doc, rb)
                            while reps > 0 and rb:
                                rb = parents_of(doc, rb)
                                reps -= 1
                        elif op == "*":
                            reps = narg if narg is not None else 0
                            rb = children_of(doc, rb)
                            while reps > 0 and rb:
                                rb = children_of(doc, rb)
                                reps -= 1
                    if not rb:
                        break
                if not rb:
                    break

            if rb:
                if ra is None:
                    ra = dict(rb)
                else:
                    for k, v in rb.items():
                        ra.setdefault(k, v)
                    merged = True

        if ra:
            if merged:
                # union of OR groups: re-establish doc order (the
                # reference's ksort, hQuery.php:447)
                return HElement(self, dict(sorted(ra.items())))
            # single contributing group: already doc-ordered by
            # construction (every step emits begin-sorted maps)
            return HElement(self, ra)
        return None
