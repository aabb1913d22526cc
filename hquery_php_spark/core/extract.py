"""Span extraction: ordered (kind, text, media_ref, offset) sequences.

This is the payload of the pipeline (BASELINE.json north rule): for every
document, emit the interleaved sequence of

* ``kind='text'``  — maximal text runs (byte ranges not covered by any
  markup: tag tokens, comments, special tags, script/style bodies), with
  entities decoded and whitespace collapsed;
* ``kind='media'`` — media references: every ``img[src]`` and ``a[href]``,
  with the URL resolved against the document base (``<base href>`` aware,
  charset-aware because the index is built over the UTF-8-converted
  string).  An ``a`` span's ``text`` is its link text.

``offset`` is the byte offset in the UTF-8-converted document — for media
spans the element's interval begin (hQuery's ``pos()``, reference
Node.php:483-495); for text runs the run's start offset.  Span order =
ascending offset = document order.

Boilerplate-strip heuristics (north star: link-density / tag-depth /
text-run length) are explicit, deterministic parameters:

* text runs inside ``<a>`` are *not* emitted as text (they are the link's
  own text — link-density 1.0); they surface in the media span instead;
* runs inside ``head``/non-content containers can be dropped via
  ``skip_inside``;
* ``min_text_chars`` drops short runs; ``max_tag_depth`` drops runs nested
  deeper than the threshold.

These heuristics are NEW relative to the reference (it extracts on demand
via selectors); they are pinned by this repo's own fixtures from day one.
"""

from __future__ import annotations

import html as _htmlmod
from bisect import bisect_right
from typing import List, NamedTuple, Optional, Sequence, Tuple

from .doc import HDoc
from .index import merge_ranges

__all__ = ["Span", "extract_spans", "ExtractOptions", "DEFAULT_OPTIONS"]


class Span(NamedTuple):
    kind: str  # 'text' | 'media'
    text: str
    media_ref: Optional[str]
    offset: int


class ExtractOptions(NamedTuple):
    min_text_chars: int = 1
    max_tag_depth: Optional[int] = None
    skip_inside: Tuple[str, ...] = ()  # e.g. ('head',)
    include_link_text_spans: bool = False  # emit text runs inside <a> too
    media_tags: Tuple[Tuple[str, str], ...] = (("img", "src"), ("a", "href"))


DEFAULT_OPTIONS = ExtractOptions()


def _covering_ranges(doc, names: Tuple[str, ...]) -> List[Tuple[int, int]]:
    """[begin, end) content ranges of all elements with the given names."""
    out = []
    for n in names:
        for b, e in (doc.tag_idx.get(n) or {}).items():
            if b < e:
                out.append((b + 1, e))
    return out


def extract_spans(doc: HDoc, opts: ExtractOptions = DEFAULT_OPTIONS) -> List[Span]:
    idx = doc.index
    html = idx.html
    n = len(html)

    # -- masked ranges: markup (+ skip containers) ---------------------- #
    if opts.skip_inside:
        masked = merge_ranges(idx.extents + _covering_ranges(idx, opts.skip_inside))
        mask_starts = [r[0] for r in masked]
    else:
        masked, mask_starts = idx.markup_mask()

    # -- link ranges (for link-density suppression of text runs) -------- #
    link_ranges = (
        merge_ranges(_covering_ranges(idx, ("a",)))
        if not opts.include_link_text_spans
        else []
    )
    link_starts = [r[0] for r in link_ranges]

    def in_link(pos: int) -> bool:
        i = bisect_right(link_starts, pos) - 1
        return i >= 0 and pos < link_ranges[i][1]

    # -- tag depth at a position (for max_tag_depth) --------------------- #
    begins, ends = idx.begins_ends()
    # #{(b,e): b < pos <= e} = #{b < pos} − #{e < pos}: every interval has
    # e >= b, so e < pos implies b < pos — two binary searches, not a scan
    # (which was quadratic on deep mega-docs when max_tag_depth is set)
    ends_sorted = sorted(ends) if opts.max_tag_depth is not None else ()

    def depth_at(pos: int) -> int:
        return bisect_right(begins, pos - 1) - bisect_right(ends_sorted, pos - 1)

    spans: List[Span] = []

    # -- text runs = complement of masked ranges ------------------------ #
    pos = 0
    for ms, me in masked:
        if pos < ms:
            _emit_text_run(spans, html, pos, ms, opts, in_link, depth_at)
        if me > pos:
            pos = me
    if pos < n:
        _emit_text_run(spans, html, pos, n, opts, in_link, depth_at)

    # -- media spans ----------------------------------------------------- #
    for tag, attr_name in opts.media_tags:
        attr_map = idx.idx_attr.get(attr_name)
        tag_map = idx.tag_idx.get(tag)
        if not tag_map:
            continue
        for b in tag_map:
            if attr_map is not None:
                raw = attr_map.get(b)  # indexed pull-out (href/src/id)
            else:
                # non-indexed attr (e.g. lazy-load data-src configured
                # via media_tags): per-element lookup — slower, but only
                # on the opt-in attrs a config names explicitly
                raw = idx.get_attr_by_id(b, attr_name)
                if not isinstance(raw, str):
                    raw = None  # boolean/absent attr carries no URL
            if raw is None:
                continue
            ref = idx.url2abs(raw)
            if tag == "a":
                el_text = _strip_markup_text(html, b, idx.ids[b], masked, mask_starts)
                if "&" in el_text:
                    el_text = _htmlmod.unescape(el_text)
                el_text = _collapse(el_text)
            else:
                el_text = ""
            spans.append(Span("media", el_text, ref, b))

    spans.sort(key=lambda s: (s.offset, s.kind != "media"))
    return spans


def _strip_markup_text(
    html: bytes,
    b: int,
    e: int,
    masked: Sequence[Tuple[int, int]],
    mask_starts: Sequence[int],
) -> str:
    """Text content of interval (b, e): concatenation of unmasked runs.

    ``masked`` is sorted and disjoint with touching ranges fused (a
    ``merge_ranges`` result); ``mask_starts`` (its starts) lets us
    bisect to the first relevant range instead of scanning the whole
    mask list per element — O(log m + hits), not O(m)."""
    if b >= e:
        return ""
    pos = b + 1
    i = bisect_right(mask_starts, pos)  # first range starting after pos
    if i and masked[i - 1][1] > pos:
        pos = masked[i - 1][1]  # pos sits inside a masked range
    # from here every range starts past pos, so each one that starts
    # before e cuts an unmasked run [pos, start) that is never empty
    out = []
    nm = len(masked)
    while i < nm and mask_starts[i] < e:
        ms, me = masked[i]
        out.append(html[pos:ms])
        pos = me
        i += 1
    if pos < e:
        out.append(html[pos:e])
    return b"".join(out).decode("utf-8", "replace")


def _collapse(s: str) -> str:
    # equivalent to _WS_COLLAPSE.sub(" ", s).strip() — `\s` and
    # str.isspace() agree on every Unicode codepoint (verified
    # exhaustively over U+0000..U+10FFFF on CPython 3.11), and
    # split()/join is ~4x faster than the regex sub on typical runs
    return " ".join(s.split())


def _emit_text_run(
    spans: List[Span],
    html: bytes,
    start: int,
    stop: int,
    opts: ExtractOptions,
    in_link,
    depth_at,
) -> None:
    raw = html[start:stop]
    # whitespace-only runs (the majority: inter-tag newlines/indent) can
    # never survive collapse — skip the decode/unescape for them.
    if opts.min_text_chars > 0 and not raw.strip():
        return
    text = raw.decode("utf-8", "replace")
    if "&" in text:  # entity decode only when entities can exist
        text = _htmlmod.unescape(text)
    text = _collapse(text)
    if len(text) < opts.min_text_chars:
        return
    if in_link(start):
        return
    if opts.max_tag_depth is not None and depth_at(start) > opts.max_tag_depth:
        return
    spans.append(Span("text", text, None, start))
