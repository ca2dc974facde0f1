"""Fused HTML extraction kernel: a stdlib-``HTMLParser``-exact event
scanner with the ``_ExtractorState`` sink inlined as plain local
variables.

The scanner emits the same event stream that
``html.parser.HTMLParser(convert_charrefs=True)`` produces for
``feed(text); close()`` — same tags, same data chunks, same chunk
*boundaries* (block link-char accounting depends on them) — but skips
everything the extraction kernel never uses: attribute parsing,
line/offset tracking, incremental-feed buffering. It reuses the stdlib
module's own compiled regexes (``tagfind_tolerant``,
``locatestarttagend_tolerant``, ``endtagfind``, ``commentclose``) so
tag-boundary decisions cannot drift from the reference semantics.

Driving ``_ExtractorState`` through per-event callbacks spends a large
share of kernel CPU on Python call overhead (~1k calls/doc: four sink
callbacks, ``_flush_block``, ``_TAG_FLAGS.get``). This module expands
every hot path — text data, plain start tags, ``</name>`` end tags,
block-boundary flushes — inline in one function whose state lives
entirely in function-locals (LOAD_FAST; no closures, which would
demote the loop variables to cell lookups). Rare paths (trailing-slash
start tags, EOF recovery, block construction) are module-level *pure*
helpers: they take values and return values, so the main loop keeps
exclusive ownership of all mutable state.

Parity contract: identical ``ExtractionResult`` to the ``stdlib``
backend for every input — pinned by the differential fuzz suite
(tests/test_fastscan_parity.py runs every parity case over ``fused``
and ``c``) plus the reference-fixture byte goldens.

One deliberate shortcut the stdlib backend can't observe: data
inside skip subtrees (``noscript``/``template``; script/style are
CDATA and never reach ``unescape`` in any backend) is dropped without
charref conversion — the sink would discard it unseen either way.
Invalid marked sections (``<![bogus ...``) raise ``AssertionError`` in
both this kernel and the stdlib parser, with different messages;
callers only see ``parse_failed=True``.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import (  # type: ignore[attr-defined]
    attrfind_tolerant,
    commentclose,
    endtagfind,
    locatestarttagend_tolerant,
    tagfind_tolerant,
)

from solrizer_spark.extraction.html_text import (
    _F_BLOCK,
    _F_BOILER,
    _F_LINK,
    _F_SKIP,
    _F_TITLE,
    _F_VOID,
    _TAG_FLAGS,
    DENSITY_CANVAS_COLS,
    Block,
    _ExtractorState,
)

__all__ = ["run_fused"]

_F_DEPTH = _F_SKIP | _F_LINK | _F_BOILER | _F_TITLE

_declname_match = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_markedsectionclose = re.compile(r"]\s*]\s*>")
_msmarkedsectionclose = re.compile(r"]\s*>")
_cdata_close = {
    "script": re.compile(r"</\s*script", re.IGNORECASE),
    "style": re.compile(r"</\s*style", re.IGNORECASE),
}
# characters after a locatestarttagend match that mean "incomplete
# start tag at end of buffer" in check_for_whole_start_tag
_INCOMPLETE_NEXT = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")

_MARKED_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MARKED_MS = frozenset({"if", "else", "endif"})


def _flush_block(blocks: list, stack: list, buf: list, link_chars: int,
                 boiler_depth: int) -> None:
    """``_ExtractorState._flush_block`` over explicit args; the caller
    resets ``buf``/``buf_link_chars`` and only calls this when ``buf``
    is non-empty (the empty case is inlined)."""
    words = "".join(buf).split()
    if not words:
        return
    norm = " ".join(words)
    n_chars = len(norm)
    lc = link_chars if link_chars < n_chars else n_chars
    blocks.append(
        Block(
            block_index=len(blocks),
            tag_path="/".join(stack) or "html",
            text=norm,
            n_chars=n_chars,
            n_words=len(words),
            link_chars=lc,
            link_density=lc / n_chars,
            text_density=len(words) / max(1.0, n_chars / DENSITY_CANVAS_COLS),
            in_boilerplate_container=boiler_depth > 0,
        )
    )


def _exact_starttag_kind(s: str, i: int, endpos: int) -> tuple[str, str]:
    """Exact ``HTMLParser.parse_starttag`` tail for the ambiguous
    trailing-slash cases: the boundary regex consumed a trailing '/',
    and only an attribute re-scan with the stdlib's own regex can tell
    ``<br/>`` (startendtag) from ``<a href=foo/>`` (the '/' belongs to
    a bare value, so it is a plain starttag). Pure:
    returns ``(kind, tag)`` with kind ∈ {'start','startend','data'}
    (for 'data' the caller re-emits ``s[i:endpos]``)."""
    m = tagfind_tolerant.match(s, i + 1)
    tag = m.group(1).lower()
    k = m.end()
    while k < endpos:
        am = attrfind_tolerant.match(s, k)
        if not am:
            break
        k = am.end()
    end = s[k:endpos].strip()
    if end == ">":
        return "start", tag
    if end == "/>":
        return "startend", tag
    return "data", tag


def _eof_span(s: str, i: int) -> int:
    """``HTMLParser.goahead(end=1)`` recovery span for an unterminated
    construct: end index of the slice to re-emit as data — through the
    next '>', else to the next '<', else one char."""
    k = s.find(">", i + 1)
    if k < 0:
        k = s.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    return k


def run_fused(s: str) -> _ExtractorState:
    """Parse one document; returns a finished ``_ExtractorState``."""
    state = _ExtractorState()
    raw_parts = state.raw_parts
    title_parts = state.title_parts
    blocks = state.blocks
    stack = state._stack
    skip_depth = 0
    link_depth = 0
    boiler_depth = 0
    title_depth = 0
    buf: list[str] = state._buf
    buf_link_chars = 0

    n = len(s)
    i = 0
    cdata: str | None = None
    find = s.find
    startswith = s.startswith
    tagmatch = tagfind_tolerant.match
    startmatch = locatestarttagend_tolerant.match
    endmatch = endtagfind.match
    flags_get = _TAG_FLAGS.get
    raw_append = raw_parts.append
    title_append = title_parts.append
    buf_append = buf.append
    stack_append = stack.append
    stack_pop = stack.pop

    while i < n:
        # ---- text run up to the next markup boundary -----------------
        # chunk/unesc are the pending data event; every arm that
        # produces data sets them and falls through to ONE inline
        # emit block at the end of the iteration.
        chunk = None
        unesc = True
        if cdata is None:
            j = find("<", i)
            if j < 0:
                j = n
            if i < j:
                if not skip_depth:
                    chunk = s[i:j]
                    if "&" in chunk:
                        chunk = unescape(chunk)
                    raw_append(chunk)
                    if title_depth:
                        title_append(chunk)
                    else:
                        buf_append(chunk)
                        if link_depth:
                            buf_link_chars += len(" ".join(chunk.split()))
                    chunk = None
                i = j
            if i >= n:
                break
        else:
            m = _cdata_close[cdata].search(s, i)
            if m is None:
                break  # unterminated script/style: stdlib drops the tail
            j = m.start()
            if i < j and not skip_depth:
                # raw data, no charref conversion in CDATA (dead for
                # the default tag tables: script/style are skip tags)
                c0 = s[i:j]
                raw_append(c0)
                if title_depth:
                    title_append(c0)
                else:
                    buf_append(c0)
                    if link_depth:
                        buf_link_chars += len(" ".join(c0.split()))
            i = j

        # ---- dispatch at '<' (same order as HTMLParser.goahead) ------
        c = s[i + 1 : i + 2]
        stag = None  # pending start-tag event, handled inline below
        etag = None  # pending end-tag event
        if c.isalpha() and c.isascii():
            m = startmatch(s, i)
            j = m.end()
            nxt = s[j : j + 1]
            if nxt == ">":
                if s[j - 1] == "/":
                    kind, tag = _exact_starttag_kind(s, i, j + 1)
                    if kind == "start":
                        stag = tag
                    elif kind == "startend":
                        if flags_get(tag, 0) & _F_BLOCK:
                            if buf:
                                if len(buf) != 1 or not buf[0].isspace():
                                    _flush_block(blocks, stack, buf,
                                                 buf_link_chars, boiler_depth)
                                buf.clear()
                            buf_link_chars = 0
                    else:  # bogus tag: stdlib re-emits the raw slice
                        chunk = s[i : j + 1]
                        unesc = False
                    i = j + 1
                else:
                    stag = tagmatch(s, i + 1).group(1).lower()
                    i = j + 1
            elif nxt == "/":
                if startswith("/>", j):
                    kind, tag = _exact_starttag_kind(s, i, j + 2)
                    if kind == "start":
                        stag = tag
                    elif kind == "startend":
                        if flags_get(tag, 0) & _F_BLOCK:
                            if buf:
                                if len(buf) != 1 or not buf[0].isspace():
                                    _flush_block(blocks, stack, buf,
                                                 buf_link_chars, boiler_depth)
                                buf.clear()
                            buf_link_chars = 0
                    else:
                        chunk = s[i : j + 2]
                        unesc = False
                    i = j + 2
                else:
                    k = _eof_span(s, i)
                    chunk = s[i:k]
                    unesc = cdata is None
                    i = k
            elif nxt == "" or nxt in _INCOMPLETE_NEXT:
                k = _eof_span(s, i)
                chunk = s[i:k]
                unesc = cdata is None
                i = k
            else:
                # bogus start tag: stdlib re-emits the raw slice
                endpos = j if j > i else i + 1
                chunk = s[i:endpos]
                unesc = False
                i = endpos
        elif c == "/":
            m = endmatch(s, i)  # common case: </name>
            if m:
                elem = m.group(1).lower()
                if cdata is not None and elem != cdata:
                    chunk = s[i : m.end()]  # foreign end tag inside CDATA
                    unesc = False
                else:
                    etag = elem
                    cdata = None
                i = m.end()
            else:
                gt = find(">", i + 1)
                if gt < 0:
                    k = _eof_span(s, i)
                    chunk = s[i:k]
                    unesc = cdata is None
                    i = k
                elif cdata is not None:
                    chunk = s[i : gt + 1]  # raw, stays in CDATA
                    unesc = False
                    i = gt + 1
                else:
                    nm = tagmatch(s, i + 2)
                    if nm is None:
                        if startswith("</>", i):
                            i += 3
                        else:  # bogus comment </... > : swallowed
                            i = gt + 1
                    else:
                        etag = nm.group(1).lower()
                        i = find(">", nm.end()) + 1
        elif startswith("<!--", i):
            m = commentclose.search(s, i + 4)
            if m:
                i = m.end()
            else:
                k = _eof_span(s, i)
                chunk = s[i:k]
                unesc = cdata is None
                i = k
        elif c == "?":
            gt = find(">", i + 2)
            if gt >= 0:
                i = gt + 1
            else:
                k = _eof_span(s, i)
                chunk = s[i:k]
                unesc = cdata is None
                i = k
        elif c == "!":
            if startswith("<![", i):
                if i + 3 == n:
                    k = _eof_span(s, i)
                    chunk = s[i:k]
                    unesc = cdata is None
                    i = k
                else:
                    nm = _declname_match(s, i + 3)
                    if nm is None:
                        raise AssertionError(
                            "expected name token in marked section"
                        )
                    if nm.end() == n:
                        k = _eof_span(s, i)
                        chunk = s[i:k]
                        unesc = cdata is None
                        i = k
                    else:
                        name = nm.group().strip().lower()
                        if name in _MARKED_STD:
                            m = _markedsectionclose.search(s, i + 3)
                        elif name in _MARKED_MS:
                            m = _msmarkedsectionclose.search(s, i + 3)
                        else:
                            raise AssertionError(
                                f"unknown status keyword {name!r} in marked section"
                            )
                        if m:
                            i = m.end()
                        else:
                            k = _eof_span(s, i)
                            chunk = s[i:k]
                            unesc = cdata is None
                            i = k
            elif s[i : i + 9].lower() == "<!doctype":
                gt = find(">", i + 9)
                if gt >= 0:
                    i = gt + 1
                else:
                    k = _eof_span(s, i)
                    chunk = s[i:k]
                    unesc = cdata is None
                    i = k
            else:  # bogus comment <!... >
                gt = find(">", i + 2)
                if gt >= 0:
                    i = gt + 1
                else:
                    k = _eof_span(s, i)
                    chunk = s[i:k]
                    unesc = cdata is None
                    i = k
        else:
            chunk = "<"  # lone '<' (stdlib parity); at EOF the loop ends
            unesc = False
            i += 1

        # ---- pending start tag (single inline _on_start) -------------
        if stag is not None:
            f = flags_get(stag, 0)
            if f & _F_BLOCK:
                if buf:
                    if len(buf) != 1 or not buf[0].isspace():
                        _flush_block(blocks, stack, buf, buf_link_chars,
                                     boiler_depth)
                    buf.clear()
                buf_link_chars = 0
            if not (f & _F_VOID):
                stack_append(stag)
                if f & _F_DEPTH:
                    if f & _F_SKIP:
                        skip_depth += 1
                    if f & _F_LINK:
                        link_depth += 1
                    if f & _F_BOILER:
                        boiler_depth += 1
                    if f & _F_TITLE:
                        title_depth += 1
            if stag in _cdata_close:
                cdata = stag

        # ---- pending end tag (single inline _on_end) -----------------
        elif etag is not None:
            f = flags_get(etag, 0)
            if not (f & _F_VOID):
                if f & _F_BLOCK:
                    if buf:
                        _flush_block(blocks, stack, buf, buf_link_chars,
                                     boiler_depth)
                        buf.clear()
                    buf_link_chars = 0
                if etag in stack:
                    while stack:
                        popped = stack_pop()
                        pf = flags_get(popped, 0)
                        if pf & _F_DEPTH:
                            if pf & _F_SKIP:
                                skip_depth -= 1
                            if pf & _F_LINK:
                                link_depth -= 1
                            if pf & _F_BOILER:
                                boiler_depth -= 1
                            if pf & _F_TITLE:
                                title_depth -= 1
                        if popped == etag:
                            break

        # ---- pending data event (single inline _on_data) -------------
        elif chunk is not None and not skip_depth:
            if unesc and "&" in chunk:
                chunk = unescape(chunk)
            raw_append(chunk)
            if title_depth:
                title_append(chunk)
            else:
                buf_append(chunk)
                if link_depth:
                    buf_link_chars += len(" ".join(chunk.split()))

    if buf:
        if len(buf) != 1 or not buf[0].isspace():
            _flush_block(blocks, stack, buf, buf_link_chars, boiler_depth)
        buf.clear()
    # sync the remaining (post-finish) introspection fields
    state._skip_depth = skip_depth
    state._link_depth = link_depth
    state._boiler_depth = boiler_depth
    state._title_depth = title_depth
    state._buf_link_chars = 0
    return state
