"""The single-pass HTML tag scanner every embedded-markup extractor
reads (rdfa.py, microdata.py, weblinks.py).

One regex pass, browser-style error recovery (unclosed elements close
at EOF, stray close tags pop to the nearest match), raw-text
<script>/<style> payloads skipped, comments skipped, void elements
never pushed. ``scan_html`` yields a flat event stream:

    ("start", tag, attrs, self_closing)
    ("end", tag)            # emitted for explicit closes AND at EOF
    ("text", chunk)

so each extractor keeps only its own semantic stack. The regexes are
deliberately forgiving (double/single-quoted and bare attribute
values) — crawl HTML is hostile, and a scanner that raises is a
scanner that loses pages.

The attribute grammar is the caller's: ``scan_html(html, attrs=...)``
takes the blob parser. The default ``parse_attrs`` is lenient and maps
bare boolean attributes (microdata's ``itemscope``) to ''; rdfa.py
passes its strict ``attr=value`` grammar, under which a bare
``property`` stays ABSENT rather than empty, as its subject rules need.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

TAG_RE = re.compile(
    r"<!--.*?-->"                      # comment
    r"|<(/)?([a-zA-Z][a-zA-Z0-9-]*)"   # open/close tag name
    r"((?:\s+[^<>]*?)?)\s*(/)?>",      # attr blob, self-close slash
    re.DOTALL,
)
ATTR_RE = re.compile(
    r"([a-zA-Z_:][a-zA-Z0-9_:.-]*)(?:\s*=\s*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'=<>`]+)))?"
)
VOID = {"area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr"}
RAW_TEXT = {"script", "style"}

WS_RE = re.compile(r"\s+")


def parse_attrs(blob: str) -> dict[str, str]:
    """Attribute blob -> {name: value}; bare boolean attributes (e.g.
    ``itemscope``) map to ''."""
    out = {}
    for m in ATTR_RE.finditer(blob or ""):
        out[m.group(1).lower()] = m.group(2) or m.group(3) or m.group(4) or ""
    return out


def scan_html(
    html: str, attrs: Callable[[str], dict[str, str]] = parse_attrs
) -> Iterator[tuple]:
    """Yield ("start", tag, attrs, self_closing) / ("end", tag) /
    ("text", chunk) events; ``attrs`` parses each start tag's attribute
    blob. Never raises; balanced by construction — every start with
    ``self_closing`` False yields exactly one end event."""
    html = html or ""
    pos, n = 0, len(html)
    open_tags: list[str] = []
    skip_until: str | None = None
    while pos < n:
        m = TAG_RE.search(html, pos)
        if m is None:
            if skip_until is None and pos < n:
                yield ("text", html[pos:])
            break
        if m.start() > pos and skip_until is None:
            yield ("text", html[pos:m.start()])
        pos = m.end()
        if m.group(2) is None:
            continue  # comment
        closing, tag = bool(m.group(1)), m.group(2).lower()
        if skip_until is not None:
            if closing and tag == skip_until:
                skip_until = None
            continue
        if closing:
            if tag in open_tags:
                while open_tags:
                    t = open_tags.pop()
                    yield ("end", t)
                    if t == tag:
                        break
            continue
        parsed = attrs(m.group(3))
        self_closing = bool(m.group(4)) or tag in VOID
        if tag in RAW_TEXT:
            yield ("start", tag, parsed, True)
            skip_until = tag
            continue
        yield ("start", tag, parsed, self_closing)
        if not self_closing:
            open_tags.append(tag)
    while open_tags:  # EOF closes dangling elements
        yield ("end", open_tags.pop())
