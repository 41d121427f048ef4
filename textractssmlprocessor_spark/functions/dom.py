"""HTML -> SSML conversion via DOM heuristics (reference utils.py:236-272).

The reference parses with ``BeautifulSoup(html_content, 'html.parser')``
(utils.py:238); bs4 is not installed in this environment, so we build a
minimal DOM on top of the same stdlib ``html.parser`` tokenizer bs4's
HTMLParserTreeBuilder wraps, and replicate the reference's semantics:

- every ``<h4>``: replace its children with the single string
  ``<break time='500ms'/>{title.text}<break time='2s'/>``
- every ``<em>`` (document order):
    * text > 100 chars: prefix ``<break time='500ms'/>``; if a following
      sibling ``<strong>`` exists, wrap its text in 250ms/500ms breaks
    * text <= 100 chars: flatten to plain text; DELETE the following
      sibling ``<strong>`` if any
- serialize (text nodes escaped ``& < >`` like bs4's minimal formatter —
  the injected ``<break .../>`` strings come out entity-escaped; the
  downstream ``preprocess_ssml_tags`` html.unescape restores them, exactly
  as in the reference pipeline)
- strip bare ``h4/em/strong/p`` wrapper tags (utils.py:267)
- wrap in ``<speak>...</speak>``

Broken-markup recovery models bs4's html.parser tree builder (public bs4
source, builder/_htmlparser.py + element.py + formatter.py, 4.9+ line),
because real crawl HTML is mostly malformed. The modeled behaviors, each
pinned by tests/test_dom_recovery.py:

- unmatched ``</x>``: ignored (bs4 ``_popToTag`` finds no open tag)
- misnested ``<em>a<strong>b</em>``: ``</em>`` pops everything above and
  including the matching open tag; later orphan closers are ignored
- unclosed tags at EOF: closed implicitly in document order
- NO implicit sibling close: ``<p>a<p>b`` NESTS (the html.parser builder,
  unlike lxml/html5lib, applies no HTML5 auto-close rules)
- comments / doctype / CDATA / declarations / processing instructions are
  preserved (``<!--c-->``, ``<!DOCTYPE html>`` + newline, ``<![CDATA[x]]>``,
  ``<!decl>``, ``<?pi?>``); none of them contribute to ``.text`` (bs4 4.9+
  ``get_text`` yields only plain strings)
- ``<script>``/``<style>`` content is raw text: no entity conversion on
  parse (tokenizer CDATA mode) and no escaping on serialize (bs4
  ``Formatter.cdata_containing_tags``)
- boolean attributes serialize as ``name=""`` (builder maps the tokenizer's
  None to the empty string); duplicate attributes keep the first position
  with the last value (plain-dict semantics)
- attribute values re-escape ``& < >`` and pick quotes like bs4's
  ``quoted_attribute_value``: double quotes unless the (escaped) value
  contains ``"`` — then single quotes, or ``&quot;`` when both appear
- cdata-list attributes (``class`` etc., HTMLTreeBuilder.DEFAULT_CDATA_LIST)
  split on whitespace at parse and re-join with single spaces on output,
  so ``class=" a   b "`` serializes as ``class="a b"``
- bs4's extended empty-element set (keygen/basefont/frame/... beyond the
  HTML5 voids) self-closes as ``<tag/>``

bs4 cannot execute in this sandbox (tests/reference_oracle.py stubs it), so
byte-parity with a live BeautifulSoup is modeled from its public source and
pinned by hand-derived goldens, not by running the library — the one
declared fidelity boundary of this module.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Dict, List, Optional, Union

# bs4 HTMLTreeBuilder.empty_element_tags: the HTML5 void set plus the
# legacy tags bs4 carries for pre-HTML5 markup.
VOID_ELEMENTS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "keygen",
    "link", "menuitem", "meta", "param", "source", "track", "wbr",
    "basefont", "bgsound", "command", "frame", "image", "isindex",
    "nextid", "spacer",
}

# bs4 Formatter.cdata_containing_tags: children are emitted unescaped.
RAW_TEXT_ELEMENTS = {"script", "style"}

# bs4 HTMLTreeBuilder.DEFAULT_CDATA_LIST: whitespace-separated multi-valued
# attributes, split on parse and re-joined with ' ' on output.
_CDATA_LIST_UNIVERSAL = {"class", "accesskey", "dropzone"}
_CDATA_LIST_BY_TAG = {
    "a": {"rel", "rev"},
    "link": {"rel", "rev"},
    "td": {"headers"},
    "th": {"headers"},
    "form": {"accept-charset"},
    "object": {"archive"},
    "area": {"rel"},
    "icon": {"sizes"},
    "iframe": {"sandbox"},
    "output": {"for"},
}
_NONWS = re.compile(r"\S+")

AttrValue = Union[str, List[str]]


class Special:
    """A non-element markup node preserved verbatim by bs4: comment,
    doctype, CDATA section, declaration, or processing instruction.
    Excluded from ``.text`` (bs4 4.9+ get_text yields plain strings only).
    Prefix/suffix pairs are the bs4 PageElement subclasses' PREFIX/SUFFIX
    (note Doctype's trailing newline) — except ``decl`` (a non-CDATA
    unknown declaration such as downlevel-revealed ``<![if !IE]>``), which
    round-trips ``<!...>`` here; bs4's Declaration class serialization for
    that rare construct is not pinnable without executing bs4."""

    __slots__ = ("kind", "data")

    SYNTAX = {
        "comment": ("<!--", "-->"),
        "doctype": ("<!DOCTYPE ", ">\n"),
        "cdata": ("<![CDATA[", "]]>"),
        "decl": ("<!", ">"),
        "pi": ("<?", ">"),
    }

    def __init__(self, kind: str, data: str):
        self.kind = kind
        self.data = data

    def serialized(self) -> str:
        pre, suf = self.SYNTAX[self.kind]
        return f"{pre}{self.data}{suf}"


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: Optional[str], attrs=None, parent=None):
        self.tag = tag  # None for the document root
        self.attrs: Dict[str, AttrValue] = attrs or {}
        self.children: List[Union["Node", "Special", str]] = []
        self.parent = parent

    # -- bs4-like accessors ---------------------------------------------------
    @property
    def text(self) -> str:
        # hybrid walk: recursion for real-page depths (faster — no stack
        # bookkeeping), explicit stack past _ITERATIVE_DEPTH so a hostile
        # page nesting tags thousands deep (comment spam, broken
        # generators) cannot RecursionError the UDF's task at ~1000 frames
        return _text_of(self, 0)

    def set_string(self, s: str) -> None:
        # bs4 parity: the .string setter runs clear(), which EXTRACTS the
        # immediate children (parent -> None) before appending the string.
        # Without the detach, a node inside a replaced subtree (nested
        # <em><em>…) still points at its old parent whose children list no
        # longer contains it — and next_sibling_tag's index() raises on a
        # page bs4 handles fine (detached tags just have no siblings).
        for c in self.children:
            if isinstance(c, Node):
                c.parent = None
        self.children = [s]

    def find_all(self, tag: str) -> List["Node"]:
        # hybrid pre-order (document order), same depth rationale as text
        found: List[Node] = []
        _find_into(self, tag, found, 0)
        return found

    def next_sibling_tag(self, tag: str) -> Optional["Node"]:
        # detached tags (parent None, or parent whose children no longer
        # hold self) have no siblings — bs4's find_next_sibling returns
        # None there, never raises
        if self.parent is None:
            return None
        sibs = self.parent.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        for s in sibs[i + 1:]:
            if isinstance(s, Node) and s.tag == tag:
                return s
        return None

    def decompose(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None  # bs4 parity: decomposed tags are detached


# depth at which the tree walkers switch from plain recursion (fast — no
# stack bookkeeping) to the explicit-stack form (unbounded). Real pages sit
# far below it; only hostile nests cross, well before Python's ~1000-frame
# recursion limit can fire.
_ITERATIVE_DEPTH = 150


def _find_into(node: Node, tag: str, found: List[Node], depth: int) -> None:
    if depth >= _ITERATIVE_DEPTH:
        stack: List[Node] = [
            c for c in reversed(node.children) if isinstance(c, Node)
        ]
        while stack:
            cur = stack.pop()
            if cur.tag == tag:
                found.append(cur)
            stack.extend(
                c for c in reversed(cur.children) if isinstance(c, Node)
            )
        return
    for c in node.children:
        if isinstance(c, Node):
            if c.tag == tag:
                found.append(c)
            _find_into(c, tag, found, depth + 1)


def _text_of(node: Node, depth: int) -> str:
    if depth >= _ITERATIVE_DEPTH:
        out: List[str] = []
        stack: List[Union[Node, Special, str]] = [node]
        while stack:
            c = stack.pop()
            if isinstance(c, str):
                out.append(c)
            elif isinstance(c, Node):
                stack.extend(reversed(c.children))
            # Special nodes (comments/doctypes/...) carry no .text
        return "".join(out)
    parts: List[str] = []
    for c in node.children:
        if isinstance(c, str):
            parts.append(c)
        elif isinstance(c, Node):
            parts.append(_text_of(c, depth + 1))
    return "".join(parts)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node(None)
        self.stack = [self.root]

    @staticmethod
    def _attr_dict(tag: str, attrs) -> Dict[str, AttrValue]:
        d: Dict[str, AttrValue] = {}
        for k, v in attrs:
            val: AttrValue = v if v is not None else ""
            if k in _CDATA_LIST_UNIVERSAL or k in _CDATA_LIST_BY_TAG.get(tag, ()):
                val = _NONWS.findall(val)
            d[k] = val  # duplicate attr: first position, last value
        return d

    def handle_starttag(self, tag, attrs):
        node = Node(tag, self._attr_dict(tag, attrs), parent=self.stack[-1])
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        node = Node(tag, self._attr_dict(tag, attrs), parent=self.stack[-1])
        self.stack[-1].children.append(node)

    def handle_endtag(self, tag):
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched closing tag: ignored (html.parser recovery)

    def handle_data(self, data):
        self.stack[-1].children.append(data)

    def handle_comment(self, data):
        self.stack[-1].children.append(Special("comment", data))

    def handle_decl(self, data):
        # bs4 _htmlparser.handle_decl: the literal "DOCTYPE " prefix is
        # stripped (case-SENSITIVE — a lowercase <!doctype html> round-trips
        # as <!DOCTYPE doctype html>, a pinned bs4 quirk)
        if data.startswith("DOCTYPE "):
            data = data[len("DOCTYPE "):]
        elif data == "DOCTYPE":
            data = ""
        self.stack[-1].children.append(Special("doctype", data))

    def unknown_decl(self, data):
        # the stdlib hook name (bs4's BeautifulSoupHTMLParser overrides
        # this same method); default base behavior silently drops the node
        if data.startswith("CDATA["):
            self.stack[-1].children.append(Special("cdata", data[len("CDATA["):]))
        else:
            self.stack[-1].children.append(Special("decl", data))

    def handle_pi(self, data):
        self.stack[-1].children.append(Special("pi", data))

    def parse_marked_section(self, i, report=1):
        # "<![" without a known keyword (e.g. "<![0") makes the stdlib
        # scanner raise AssertionError (bs4 rejects such markup outright);
        # read it as a bogus comment up to the next ">", as the HTML5
        # tokenizer does, so one malformed page cannot fail the job
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            return self.parse_bogus_comment(i, report)


def parse_html(html_content: str) -> Node:
    b = _TreeBuilder()
    b.feed(html_content)
    b.close()
    return b.root


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _attr_fragment(key: str, value: AttrValue) -> str:
    """bs4 Tag.decode attribute emission: cdata-lists re-join with spaces,
    values escape & < > (minimal formatter), quotes picked by
    EntitySubstitution.quoted_attribute_value."""
    if isinstance(value, list):
        value = " ".join(value)
    value = _escape(value)
    quote = '"'
    if '"' in value:
        if "'" in value:
            value = value.replace('"', "&quot;")
        else:
            quote = "'"
    return f" {key}={quote}{value}{quote}"


def serialize(
    node: Node, out: List[str], raw: bool = False, _depth: int = 0
) -> None:
    # Hybrid: plain recursion for real-page depths (fast), explicit work
    # stack past _ITERATIVE_DEPTH so a hostile page nesting thousands of
    # tags deep serializes instead of RecursionError-ing the task.
    if _depth < _ITERATIVE_DEPTH:
        if node.tag is not None:
            attrs = "".join(
                _attr_fragment(k, v) for k, v in node.attrs.items()
            )
            if node.tag in VOID_ELEMENTS:
                out.append(f"<{node.tag}{attrs}/>")
                return
            out.append(f"<{node.tag}{attrs}>")
            raw = raw or node.tag in RAW_TEXT_ELEMENTS
        for c in node.children:
            if isinstance(c, str):
                out.append(c if raw else _escape(c))
            elif isinstance(c, Special):
                out.append(c.serialized())
            else:
                serialize(c, out, raw, _depth + 1)
        if node.tag is not None:
            out.append(f"</{node.tag}>")
        return
    # Iterative fallback: entries are (item, raw-flag, is_close_marker); a
    # non-void node pushes its close marker BENEATH its children so it
    # emits after them (LIFO), byte-identical to the recursive form.
    stack: list = [(node, raw, False)]
    while stack:
        item, r, closing = stack.pop()
        if closing:
            out.append(f"</{item.tag}>")
            continue
        if isinstance(item, str):
            out.append(item if r else _escape(item))
            continue
        if isinstance(item, Special):
            out.append(item.serialized())
            continue
        if item.tag is not None:
            attrs = "".join(
                _attr_fragment(k, v) for k, v in item.attrs.items()
            )
            if item.tag in VOID_ELEMENTS:
                out.append(f"<{item.tag}{attrs}/>")
                continue
            out.append(f"<{item.tag}{attrs}>")
            r = r or item.tag in RAW_TEXT_ELEMENTS
            stack.append((item, r, True))
        for c in reversed(item.children):
            stack.append((c, r, False))


_BARE_WRAPPERS = re.compile(r"<(/?)(h4|em|strong|p)>")


def convert_html_to_ssml(html_content: str) -> str:
    """Reference utils.py:236-272 semantics over our stdlib DOM."""
    root = parse_html(html_content)

    for title in root.find_all("h4"):
        title.set_string(f"<break time='500ms'/>{title.text}<break time='2s'/>")

    for em in root.find_all("em"):
        text = em.text
        nxt = em.next_sibling_tag("strong")
        if len(text) > 100:
            em.set_string(f"<break time='500ms'/>{text}")
            if nxt is not None:
                nxt.set_string(f"<break time='250ms'/>{nxt.text}<break time='500ms'/>")
        else:
            em.set_string(text)
            if nxt is not None:
                nxt.decompose()

    buf: List[str] = []
    serialize(root, buf)
    processed = _BARE_WRAPPERS.sub("", "".join(buf))
    return f"<speak>{processed}</speak>"
