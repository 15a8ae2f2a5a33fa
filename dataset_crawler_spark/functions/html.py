"""Relational HTML→text extraction (the WET step of a Common Crawl-style
pipeline: WARC response records → clean text documents).

Everything is a chain of ``regexp_replace`` expressions — pure codegen,
zero exchanges, no Python in the plan — because the goal at 100 TB is a
narrow projection that fuses into the WARC scan, not a DOM. The trade is
documented and deliberate: a real parser (lxml/trafilatura) recovers more
structure but runs row-at-a-time Python; this chain covers the WET
baseline (drop non-content blocks, strip tags, decode the common
entities, normalize whitespace). The narrow plan shape is pinned by
tests/test_warc.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: non-content blocks dropped wholesale (case-insensitive, dotall).
#: Spelled as a per-tag alternation, NOT a backreference, so the pattern
#: stays RE2-compatible. The opening tag requires a name BOUNDARY ('>' or whitespace/'/' then
#: attributes) — a bare prefix like '<style[^>]*>' would swallow custom
#: elements ('<styled-card>…') up to the next real closing tag. RE2 has
#: no lookahead, so the boundary is an explicit alternation.
_BLOCK_TAGS = ("script", "style", "noscript", "template", "head")


def _block_open(t: str) -> str:
    return rf"<{t}(>|[\s/][^>]*>)"


_BLOCK_RE = r"(?is)" + "|".join(
    rf"{_block_open(t)}.*?</{t}\s*>" for t in _BLOCK_TAGS
)
#: HTML comments (incl. conditional comments)
_COMMENT_RE = r"(?s)<!--.*?-->"
#: block-level boundaries become spaces so words never concatenate
#: across structural breaks when tags are stripped
_TAG_RE = r"(?s)<[^>]*>"
#: decoded entity table — the handful that dominate real pages; numeric
#: escapes beyond these stay literal (visible, greppable — never wrong text).
#: ``&amp;`` decodes LAST: decoding it first would turn the escaped entity
#: '&amp;lt;' into '&lt;' in time for the next pass to double-decode it
#: into '<' — text the page never displayed. With ampersand last,
#: '&amp;lt;' correctly ends as the visible '&lt;'.
_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]
_WS_RE = r"\s+"


def html_to_text(col: Column | str) -> Column:
    """HTML body → whitespace-normalized visible text (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _BLOCK_RE, " ")
    c = F.regexp_replace(c, _COMMENT_RE, " ")
    c = F.regexp_replace(c, _TAG_RE, " ")
    for ent, rep in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, _WS_RE, " "))
