"""HTML main-content extraction — the boilerplate-strip kernel.

Re-derives the reference's furniture/body split (K9 in SURVEY §2.2:
/root/reference/output.json:1 separates `.furniture` header/footer chrome
from `.body`; exports contain body only) for HTML inputs, using classic
content-extraction heuristics (boilerpipe/jusText-style):

- block segmentation at block-level elements,
- link-density scoring (chars inside <a> / block chars),
- shouting-chrome detection (high caps ratio + short),
- structural priors (nav/aside/footer ancestors are furniture).

Block classification mirrors the DoclingDocument label set observed in
output.json:1: h1-h6 -> section_header, p/div text -> text, dl ->
key_value_area, table -> table (+media_ref), figure/img -> picture
(+media_ref). Reading order = document order (the body.children traversal).

`extract_html_document` is the per-document function; it runs inside
the one Arrow extraction kernel (operators/dispatch.py, `mapInArrow`),
which iterates batches in the Python worker in place of the reference's
per-row Python (src/services/rq_tasks.py:10-53); no row-at-a-time Spark
UDF.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from ..model import (
    MAX_SPANS_PER_DOC,
    K_CODE,
    K_FORMULA,
    K_KEY_VALUE,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
)

_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6",
    "dl", "table", "figure", "ul", "ol", "div", "pre", "blockquote",
}
_FURNITURE_TAGS = {"nav", "aside", "footer", "header"}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

_LINK_DENSITY_MAX = 0.33
_CAPS_RATIO_MAX = 0.6
_CAPS_SHORT_WORDS = 20
# bare containers that shouty ad/chrome text typically lives in; semantic
# content elements (p, dl, table, pre, ...) are never caps-screened
_CHROME_CANDIDATE_TAGS = {"div", "ul", "ol"}


class _Node:
    __slots__ = ("tag", "_attrs", "_rawattrs", "children", "parent")

    def __init__(
        self,
        tag: str,
        attrs: "dict | None",
        parent: "_Node | None",
        rawattrs: "str | None" = None,
    ):
        self.tag = tag
        self._attrs = attrs
        self._rawattrs = rawattrs
        self.children: list = []  # _Node | str
        self.parent = parent

    @property
    def attrs(self) -> dict:
        # parsed LAZILY: the scanner creates a node per tag but the
        # extractor reads attributes on a small fraction of them
        # (img src, figure, table); eager per-tag _ATTR_RE parsing
        # profiled at ~15% of the HTML kernel
        a = self._attrs
        if a is None:
            ra = self._rawattrs or ""
            a = (
                {k: (v1 if v1 is not None else v2) for k, v1, v2 in _ATTR_RE.findall(ra)}
                if "=" in ra
                else {}
            )
            self._attrs = a
        return a


class _TreeBuilder(HTMLParser):
    _VOID = {"img", "br", "hr", "meta", "link", "input"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {}, None)
        self._cur = self.root

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs), self._cur)
        self._cur.children.append(node)
        if tag not in self._VOID:
            self._cur = node

    def handle_endtag(self, tag):
        cur = self._cur
        while cur is not None and cur.tag != tag:
            cur = cur.parent
        if cur is not None and cur.parent is not None:
            self._cur = cur.parent

    def handle_data(self, data):
        if data:
            self._cur.children.append(data)


# whitespace collapse is `" ".join(s.split())` throughout: str.split()
# splits on exactly the \s character class (verified over the Unicode
# whitespace set), and the C-level split/join is ~4x faster than
# re.sub(r"\s+") on corpus-shaped text


def _text_of(node: _Node) -> str:
    out: list[str] = []

    def walk(n):
        for c in n.children:
            if isinstance(c, str):
                out.append(c)
            else:
                walk(c)

    walk(node)
    return " ".join("".join(out).split())


def _text_and_links(node: _Node) -> tuple[str, int]:
    """Collapsed text AND link-char count of a subtree in ONE iterative
    walk — the per-block hot path previously traversed the same subtree
    twice (_text_of for the span text, _link_chars for the jusText-style
    link-density screen)."""
    out: list[str] = []
    links = 0
    stack: list[tuple] = [(node, node.tag == "a")]
    while stack:
        n, in_a = stack.pop()
        if isinstance(n, str):
            # strings ride the stack like nodes so interleaved text and
            # element siblings emit in DOCUMENT order (the earlier form
            # appended strings eagerly while deferring sibling subtrees,
            # scrambling "<p>a<br>b</p>" to "ba" — latent until the
            # streaming extractor's differential tests flushed it; the
            # corpus never interleaves inline markup in kept blocks)
            out.append(n)
            if in_a:
                links += len(n.strip())
            continue
        for c in reversed(n.children):
            stack.append((c, in_a or (not isinstance(c, str) and c.tag == "a")))
    return " ".join("".join(out).split()), links


def _caps_ratio(text: str) -> float:
    # Uppercase LETTERS over all letters. The numerator must count
    # uppercase only among alphabetic chars: isupper() is also True for
    # cased non-letters (Roman numerals U+2167, circled letters U+24B6),
    # which the denominator excludes — counting them would push the
    # ratio past 1.0 and mis-flag symbol-heavy non-ASCII text as shouty
    # chrome (ADVICE r06). For ASCII — the overwhelming hot path —
    # isupper() implies isalpha(), so the cheap C-dispatch counts
    # (sum(map(...)), ~5% of the HTML kernel as a list comp) are exact;
    # only non-ASCII text pays for the per-char conjunction.
    n_alpha = sum(map(str.isalpha, text))
    if not n_alpha:
        return 0.0
    if text.isascii():
        n_upper = sum(map(str.isupper, text))
    else:
        n_upper = sum(1 for c in text if c.isalpha() and c.isupper())
    return n_upper / n_alpha


def _is_boilerplate(node: _Node, text: str, is_heading: bool, link_chars: int) -> bool:
    anc = node.parent
    while anc is not None:
        if anc.tag in _FURNITURE_TAGS:
            return True
        anc = anc.parent
    n_chars = len(text)
    if n_chars == 0:
        return True
    if link_chars / n_chars > _LINK_DENSITY_MAX:
        return True
    # The caps-ratio screen targets shouty chrome ("BUY NOW! CLICK HERE!")
    # that escapes the furniture subtrees. Apply it ONLY to structural
    # chrome candidates (bare div/ul/ol containers) — a short acronym-
    # heavy <p>, <dl> or table cell inside <main> is real content and the
    # exact-span contract must keep it (ADVICE r01).
    if not is_heading and node.tag in _CHROME_CANDIDATE_TAGS:
        words = text.split()
        if len(words) < _CAPS_SHORT_WORDS and _caps_ratio(text) > _CAPS_RATIO_MAX:
            return True
    return False


def _classify(
    node: _Node, doc_num: int, text: str
) -> tuple[str, str | None, str | None] | None:
    tag = node.tag
    if tag in _HEADING_TAGS:
        return (K_SECTION_HEADER, text, None)
    if tag == "dl":
        dts = [c for c in node.children if isinstance(c, _Node) and c.tag == "dt"]
        dds = [c for c in node.children if isinstance(c, _Node) and c.tag == "dd"]
        k = _text_of(dts[0]) if dts else ""
        v = _text_of(dds[0]) if dds else ""
        return (K_KEY_VALUE, f"{k}: {v}", None)
    if tag == "table":
        cells = []

        def walk_td(n):
            for c in n.children:
                if isinstance(c, _Node):
                    if c.tag in ("td", "th"):
                        cells.append(_text_of(c))
                    else:
                        walk_td(c)

        walk_td(node)
        tid = node.attrs.get("id", "")
        m = re.match(r"tbl-(\d+)$", tid)
        ref = f"media://{doc_num}/tbl/{m.group(1)}" if m else f"media://{doc_num}/tbl/x"
        return (K_TABLE, " | ".join(cells), ref)
    if tag == "figure":
        imgs = [c for c in node.children if isinstance(c, _Node) and c.tag == "img"]
        src = imgs[0].attrs.get("src") if imgs else None
        return (K_PICTURE, None, src)
    if tag == "pre":
        # K8 code enrichment: monospace block -> code
        return (K_CODE, text, None)
    if tag == "div" and "math" in node.attrs.get("class", ""):
        # K8 formula enrichment: math container -> formula
        return (K_FORMULA, text, None)
    # p / div / blockquote / ul / ol -> plain text block
    return (K_TEXT, text, None) if text else None


# ---------------------------------------------------------------------------
# fast tokenizer: a compiled-regex scanner building the same _Node tree.
# html.parser is ~3/4 of kernel time (pure-Python char-by-char scan); this
# tokenizer handles the block-level HTML subset the kernel consumes and
# falls back to html.parser on anything it can't scan cleanly.
# ---------------------------------------------------------------------------
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*?)(/?)>|<!--.*?-->|<![^>]*>",
    re.DOTALL,
)
_ATTR_RE = re.compile(r"([a-zA-Z_][\w-]*)\s*=\s*(?:\"([^\"]*)\"|'([^']*)')")
_VOID_TAGS = _TreeBuilder._VOID

from html import unescape as _unescape  # noqa: E402 — hot path; a
# function-local import re-resolves the module dict per document


class _FurnitureBail(Exception):
    """Raised when the furniture fast-skip meets a construct whose exact
    semantics require the full tree (figure inside chrome, or a close
    tag matching an ancestor outside the furniture subtree)."""


def _fast_parse(html: str, skip_furniture: bool = True) -> _Node:
    """Scan to a _Node tree. With skip_furniture (default), subtrees
    rooted at nav/aside/header/footer are NOT materialized: the
    extractor provably drops everything inside them (every block there
    is boilerplate by the ancestor rule) — and on this corpus shape
    ~54% of all tags live in chrome, so skipping halves tree build +
    downstream screening. Exactness is preserved by BAILING to a full
    parse (the _FurnitureBail path) in the two cases where skipped
    content could matter: a <figure> inside furniture (figures bypass
    the boilerplate screen today) and a malformed close tag that would
    pop out of the furniture subtree."""
    root = _Node("#root", {}, None)
    cur = root
    pos = 0
    skip_stack: list | None = None  # non-None while inside skipped chrome
    for m in _TAG_RE.finditer(html):
        # single groups()/span() calls: the scanner fires once per tag,
        # so per-match C-call count is the measurable constant here
        # (five separate group() calls profiled at ~20% of parse time)
        start, end = m.span()
        if skip_stack is None and start > pos:
            text = html[pos:start]
            cur.children.append(_unescape(text) if "&" in text else text)
        pos = end
        closing, tag, rawattrs, selfclose = m.groups()
        if tag is None:
            continue  # comment / doctype
        tag = tag.lower()
        if skip_stack is not None:
            if closing:
                if tag in skip_stack:
                    while skip_stack and skip_stack[-1] != tag:
                        skip_stack.pop()
                    skip_stack.pop()  # the matching open
                    if not skip_stack:
                        skip_stack = None  # furniture closed
                else:
                    # would this close pop an ancestor OUTSIDE the
                    # furniture? (tree semantics: pop to nearest match)
                    node = cur
                    while node is not None and node.tag != tag:
                        node = node.parent
                    if node is not None:
                        raise _FurnitureBail
                    # no match anywhere -> the tree builder ignores it
            else:
                if tag == "figure":
                    raise _FurnitureBail  # figures escape the screen
                if tag not in _VOID_TAGS and not selfclose:
                    skip_stack.append(tag)
            continue
        if closing:
            node = cur
            while node is not None and node.tag != tag:
                node = node.parent
            if node is not None and node.parent is not None:
                cur = node.parent
        else:
            node = _Node(tag, None, cur, rawattrs)  # attrs parsed lazily
            cur.children.append(node)
            if tag not in _VOID_TAGS and not selfclose:
                if skip_furniture and tag in _FURNITURE_TAGS:
                    skip_stack = [tag]  # empty furniture node stays in
                    # the tree; its dropped contents are never consulted
                else:
                    cur = node
    if skip_stack is None and pos < len(html):
        tail = html[pos:]
        cur.children.append(_unescape(tail) if "&" in tail else tail)
    return root


def _parse_html(html: str) -> _Node:
    try:
        try:
            return _fast_parse(html)
        except _FurnitureBail:
            return _fast_parse(html, skip_furniture=False)
    except Exception:
        tb = _TreeBuilder()
        tb.feed(html)
        return tb.root


# ---------------------------------------------------------------------------
# streaming extractor: the no-tree fast path. The tree walk never descends
# into a block-level element (a consumed block IS one span), so the whole
# extraction is a single forward scan: open a capture at the first
# block-level tag met outside any capture, accumulate its text / link
# chars / cells / dl items / figure src while tracking the open-tag stack,
# and classify at the block's close. No _Node is ever allocated and no
# subtree is traversed twice — measured ~2x over build-tree-then-walk on
# the corpus shape (the tree path remains as the bail target and as the
# semantic reference the differential tests compare against).
# ---------------------------------------------------------------------------
_UNSET = object()  # "no direct <img> seen yet" (first img may lack src)


def _stream_extract(html: str, doc_num: int) -> list[dict]:
    """Single-pass extraction; raises _FurnitureBail on the same two
    constructs as _fast_parse (figure inside furniture, close tag that
    would pop out of a furniture subtree). Semantics are bit-equal to
    the tree path: same text segmentation (per inter-tag segment, same
    conditional unescape), same nearest-match close-tag rule, same
    first-DIRECT-child dt/dd/img selection, same boilerplate screens."""
    spans: list[dict] = []
    stack: list[str] = []  # every open non-void tag, document order
    skip_stack: list | None = None  # non-None while inside skipped chrome
    # capture state (cap_tag None <=> not inside a block capture)
    cap_tag: str | None = None
    cap_base = 0  # stack index of the capture root
    cap_raw = ""  # capture root's raw attr text (table id, div class)
    collect = False  # accumulate parts (every kind but figure)
    parts: list[str] = []
    links = 0
    a_depth = 0
    cells: list[str] | None = None  # table: finished cell texts
    cell_parts: list[str] | None = None  # table: open td/th
    cell_base = 0
    dt_parts: list[str] | None = None  # dl: open FIRST-direct dt/dd
    dd_parts: list[str] | None = None
    item_base = 0
    dt_txt: str | None = None  # dl: finished first dt/dd text
    dd_txt: str | None = None
    fig_src = _UNSET

    def _finish() -> None:
        """Classify the finished capture; append the span it yields."""
        nonlocal cell_parts, dt_parts, dd_parts
        if cell_parts is not None:  # unclosed cell at block end
            cells.append(" ".join("".join(cell_parts).split()))
            cell_parts = None
        if dt_parts is not None or dd_parts is not None:
            _finish_item()
        if cap_tag == "figure":
            src = None if fig_src is _UNSET else fig_src
            spans.append(
                {"kind": K_PICTURE, "text": None, "media_ref": src, "offset": len(spans)}
            )
            return
        text = " ".join("".join(parts).split())
        is_heading = cap_tag in _HEADING_TAGS
        screen = text or "x"
        if links / len(screen) > _LINK_DENSITY_MAX:
            return  # boilerplate: link-dense
        if not is_heading and cap_tag in _CHROME_CANDIDATE_TAGS:
            words = screen.split()
            if len(words) < _CAPS_SHORT_WORDS and _caps_ratio(screen) > _CAPS_RATIO_MAX:
                return  # boilerplate: shouting chrome
        if is_heading:
            item = (K_SECTION_HEADER, text, None)
        elif cap_tag == "dl":
            item = (K_KEY_VALUE, f"{dt_txt or ''}: {dd_txt or ''}", None)
        elif cap_tag == "table":
            attrs = (
                {k: (v1 if v1 is not None else v2) for k, v1, v2 in _ATTR_RE.findall(cap_raw)}
                if "=" in cap_raw
                else {}
            )
            m = re.match(r"tbl-(\d+)$", attrs.get("id", ""))
            ref = f"media://{doc_num}/tbl/{m.group(1)}" if m else f"media://{doc_num}/tbl/x"
            item = (K_TABLE, " | ".join(cells), ref)
        elif cap_tag == "pre":
            item = (K_CODE, text, None)
        elif cap_tag == "div" and "math" in (
            {k: (v1 if v1 is not None else v2) for k, v1, v2 in _ATTR_RE.findall(cap_raw)}
            if "=" in cap_raw
            else {}
        ).get("class", ""):
            item = (K_FORMULA, text, None)
        elif text:
            item = (K_TEXT, text, None)
        else:
            return
        spans.append(
            {"kind": item[0], "text": item[1], "media_ref": item[2], "offset": len(spans)}
        )

    def _finish_item() -> None:
        """Close an open first-direct dt/dd collection."""
        nonlocal dt_parts, dd_parts, dt_txt, dd_txt
        if dt_parts is not None:
            dt_txt = " ".join("".join(dt_parts).split())
            dt_parts = None
        if dd_parts is not None:
            dd_txt = " ".join("".join(dd_parts).split())
            dd_parts = None

    # ONE C-level split tokenizes the whole document: the resulting flat
    # list interleaves text segments with the four capture groups of each
    # tag ([text, closing, tag, rawattrs, selfclose, text, ...]), so the
    # per-tag Python work is five list reads — no match objects, no
    # span()/groups() calls, no position bookkeeping (text segments come
    # pre-sliced; comments/doctypes contribute four Nones and vanish).
    toks = _TAG_RE.split(html)
    n = len(toks) - 1  # toks[n] is the trailing text segment
    i = 1
    while i < n:
        closing = toks[i]
        tag = toks[i + 1]
        if cap_tag is not None and skip_stack is None:
            seg = toks[i - 1]
            if seg:
                if "&" in seg:
                    seg = _unescape(seg)
                if collect:
                    parts.append(seg)
                if a_depth:
                    links += len(seg.strip())
                if cell_parts is not None:
                    cell_parts.append(seg)
                elif dt_parts is not None:
                    dt_parts.append(seg)
                elif dd_parts is not None:
                    dd_parts.append(seg)
        j = i
        i += 5
        if tag is None:
            continue  # comment / doctype
        tag = tag.lower()
        selfclose = toks[j + 3]
        if skip_stack is not None:
            if closing:
                if tag in skip_stack:
                    while skip_stack[-1] != tag:
                        skip_stack.pop()
                    skip_stack.pop()
                    if not skip_stack:
                        skip_stack = None  # furniture closed
                elif tag in stack:
                    # would pop an ancestor outside the furniture subtree
                    raise _FurnitureBail
            else:
                if tag == "figure":
                    raise _FurnitureBail  # figures escape the screen
                if tag not in _VOID_TAGS and not selfclose:
                    skip_stack.append(tag)
            continue
        if closing:
            if tag not in stack:
                continue  # unmatched close: the tree builder ignores it
            while True:
                popped = stack.pop()
                if cap_tag is not None:
                    if popped == "a" and a_depth:
                        a_depth -= 1
                    if cell_parts is not None and len(stack) <= cell_base:
                        cells.append(" ".join("".join(cell_parts).split()))
                        cell_parts = None
                    elif (dt_parts is not None or dd_parts is not None) and len(
                        stack
                    ) <= item_base:
                        _finish_item()
                if popped == tag:
                    break
            if cap_tag is not None and len(stack) <= cap_base:
                _finish()
                cap_tag = None
            continue
        # opening tag
        if cap_tag is None:
            if tag in _BLOCK_TAGS:
                cap_tag = tag
                cap_base = len(stack)
                cap_raw = toks[j + 2] or ""
                collect = tag != "figure"
                parts = []
                links = 0
                a_depth = 0
                cells = [] if tag == "table" else None
                cell_parts = None
                dt_parts = dd_parts = None
                dt_txt = dd_txt = None
                fig_src = _UNSET
                if selfclose:  # e.g. <p/>: empty block, closed on the spot
                    _finish()
                    cap_tag = None
                else:
                    stack.append(tag)
            elif tag in _FURNITURE_TAGS:
                if not selfclose:
                    skip_stack = [tag]
            elif tag not in _VOID_TAGS and not selfclose:
                stack.append(tag)
            continue
        # opening tag inside a capture
        if tag in _FURNITURE_TAGS:
            if not selfclose:
                skip_stack = [tag]  # chrome inside a block: text skipped
            continue
        if tag == "a":
            if selfclose:
                continue
            a_depth += 1
            stack.append(tag)
            continue
        if cells is not None and cell_parts is None and tag in ("td", "th"):
            if selfclose:
                cells.append("")  # empty cell, same as an empty td node
                continue
            cell_base = len(stack)
            cell_parts = []
            stack.append(tag)
            continue
        if cap_tag == "dl" and len(stack) == cap_base + 1:
            # FIRST direct-child dt / dd only (nested or later ones are
            # plain text context, exactly as the tree's children scan)
            if tag == "dt" and dt_txt is None and dt_parts is None:
                if selfclose:
                    dt_txt = ""
                else:
                    item_base = len(stack)
                    dt_parts = []
                    stack.append(tag)
                continue
            if tag == "dd" and dd_txt is None and dd_parts is None:
                if selfclose:
                    dd_txt = ""
                else:
                    item_base = len(stack)
                    dd_parts = []
                    stack.append(tag)
                continue
        if (
            cap_tag == "figure"
            and tag == "img"
            and fig_src is _UNSET
            and len(stack) == cap_base + 1
        ):
            ra = toks[j + 2] or ""
            attrs = (
                {k: (v1 if v1 is not None else v2) for k, v1, v2 in _ATTR_RE.findall(ra)}
                if "=" in ra
                else {}
            )
            fig_src = attrs.get("src")
        if tag not in _VOID_TAGS and not selfclose:
            stack.append(tag)
    if cap_tag is not None:
        if skip_stack is None:
            seg = toks[n]
            if seg:
                if "&" in seg:
                    seg = _unescape(seg)
                if collect:
                    parts.append(seg)
                if a_depth:
                    links += len(seg.strip())
                if cell_parts is not None:
                    cell_parts.append(seg)
                elif dt_parts is not None:
                    dt_parts.append(seg)
                elif dd_parts is not None:
                    dd_parts.append(seg)
        _finish()  # unclosed trailing block: the tree path emits it too
    return spans


def _tree_extract(html: str, doc_num: int) -> list[dict]:
    """Build-tree-then-walk extraction — the semantic reference and the
    bail target for constructs the streaming pass rejects."""
    root = _parse_html(html)
    spans: list[dict] = []

    def walk(node: _Node):
        for c in node.children:
            if not isinstance(c, _Node):
                continue
            if c.tag in _BLOCK_TAGS:
                text, link_chars = _text_and_links(c)
                is_heading = c.tag in _HEADING_TAGS
                if c.tag == "figure" or not _is_boilerplate(c, text or "x", is_heading, link_chars):
                    item = _classify(c, doc_num, text)
                    if item is not None:
                        spans.append(
                            {
                                "kind": item[0],
                                "text": item[1],
                                "media_ref": item[2],
                                "offset": len(spans),
                            }
                        )
                    continue  # a consumed block is not descended into
                continue
            walk(c)

    walk(root)
    return spans


def extract_html_document(doc_id: str, html: str) -> list[dict]:
    """html -> ordered extracted spans (pure function; unit-testable)."""
    doc_num = int(doc_id.rsplit("-", 1)[1]) if "-" in doc_id else 0
    try:
        spans = _stream_extract(html, doc_num)
    except Exception:
        # _FurnitureBail, or any construct the scanner mishandles ->
        # the tree path (which itself degrades to html.parser)
        spans = _tree_extract(html, doc_num)
    if len(spans) > MAX_SPANS_PER_DOC:
        # extraction-boundary ceiling: callers degrade this doc to
        # `failed` rather than emitting an oversized one-row span array
        # (model.MAX_SPANS_PER_DOC rationale)
        raise ValueError(f"document exceeds span ceiling ({len(spans)} spans)")
    return spans
