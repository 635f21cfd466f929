"""Microdata + RDFa-lite extraction from HTML (FIXTURES.md F7).

sophia has no HTML layer; these are OUR operators (SURVEY.md §2.1
"our additional sources"), with deterministic semantics frozen by
goldens at first verified run:

Microdata (WHATWG HTML microdata → RDF, simplified):
- ``itemscope`` opens an item node: IRI from ``itemid`` else a
  deterministic pre-order bnode
- ``itemtype`` → ``rdf:type`` (absolute IRI; also sets the item's vocab
  = IRI up to the last ``/`` or ``#``)
- ``itemprop`` on a descendant → (item, vocab+name, value); value is a
  nested item if the element also has ``itemscope``, else ``href``/
  ``src``/``content`` attr (IRI/text resolved vs page url), else the
  element's text content as a plain literal

RDFa-lite:
- ``vocab`` sets the vocabulary for the subtree
- ``typeof`` opens a node (``about``/``resource`` IRI else bnode) with
  rdf:type vocab+typeof
- ``property`` → (node, vocab+property, content attr | href | text)

Both run in one HTMLParser pass; bnode labels are pre-order counters
skolemized per url (same determinism contract as the parsers).
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import List, Optional, Tuple

import pandas as pd

from ..terms.iri import resolve, split_iri
from ..terms.model import RDF, escape_literal
from ..terms.xxh64 import skolem_label
from .ntparser import _OUT_COLS

RDF_TYPE_T = f"<{RDF}type>"


def _vocab_of(type_iri: str) -> str:
    for sep in ("#", "/"):
        i = type_iri.rfind(sep)
        if i >= 0:
            return type_iri[: i + 1]
    return type_iri


class _MicrodataExtractor(HTMLParser):
    """Single pass producing microdata + RDFa-lite triples."""

    _VOID = {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }

    def __init__(self, url: str):
        super().__init__(convert_charrefs=True)
        self.url = url
        self.counter = 0
        self.triples: List[Tuple[str, str, str]] = []
        # stack entries: (tag, item_node, vocab, pending_text_target)
        # pending_text_target = (subject, predicate, [text parts]) when the
        # element's text content is the value
        self.stack: List[dict] = []
        self.cur_item: Optional[str] = None
        self.cur_vocab: str = ""

    def _bnode(self) -> str:
        self.counter += 1
        return "_:" + skolem_label(self.url, f"\x00md{self.counter}")

    def _iri(self, ref: str) -> str:
        if split_iri(ref)[0] is not None:
            return f"<{ref}>"
        return f"<{resolve(self.url, ref)}>"

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        entry = {
            "tag": tag,
            "prev_item": self.cur_item,
            "prev_vocab": self.cur_vocab,
            "text_tgt": None,
        }
        subject_for_prop: Optional[str] = None

        if "vocab" in d and d["vocab"]:
            self.cur_vocab = d["vocab"]

        new_node: Optional[str] = None
        if "itemscope" in d:
            new_node = self._iri(d["itemid"]) if d.get("itemid") else self._bnode()
            if d.get("itemtype"):
                t = d["itemtype"].strip()
                self.triples.append((new_node, RDF_TYPE_T, f"<{t}>"))
                self.cur_vocab = _vocab_of(t)
        elif "typeof" in d:
            ref = d.get("about") or d.get("resource")
            new_node = self._iri(ref) if ref else self._bnode()
            for t in d["typeof"].split():
                self.triples.append(
                    (new_node, RDF_TYPE_T, f"<{self.cur_vocab}{t}>")
                )

        prop = d.get("itemprop") or d.get("property")
        if prop and self.cur_item is not None:
            for name in prop.split():
                pred = f"<{self.cur_vocab}{name}>"
                if new_node is not None:
                    self.triples.append((self.cur_item, pred, new_node))
                elif "href" in d or "src" in d:
                    ref = d.get("href") or d.get("src") or ""
                    self.triples.append((self.cur_item, pred, self._iri(ref)))
                elif "content" in d:
                    self.triples.append(
                        (self.cur_item, pred, f'"{escape_literal(d["content"])}"')
                    )
                else:
                    entry["text_tgt"] = (self.cur_item, pred, [])

        if new_node is not None:
            self.cur_item = new_node

        if tag not in self._VOID:
            self.stack.append(entry)
        else:
            # void elements never produce text content; restore scope now
            self.cur_item = entry["prev_item"] if new_node is None else self.cur_item
            if "vocab" not in d:
                self.cur_vocab = self.cur_vocab  # unchanged

    def handle_endtag(self, tag):
        # pop to the matching open tag (tolerant of bad nesting)
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i]["tag"] == tag:
                for entry in reversed(self.stack[i:]):
                    self._close(entry)
                del self.stack[i:]
                return

    def _close(self, entry):
        tgt = entry["text_tgt"]
        if tgt is not None:
            s, p, parts = tgt
            self.triples.append((s, p, f'"{escape_literal("".join(parts).strip())}"'))
        self.cur_item = entry["prev_item"]
        self.cur_vocab = entry["prev_vocab"]

    def handle_data(self, data):
        for entry in self.stack:
            if entry["text_tgt"] is not None:
                entry["text_tgt"][2].append(data)

    def close(self):
        super().close()
        while self.stack:
            self._close(self.stack.pop())


def extract_microdata(url: str, html: bytes | str) -> List[Tuple[str, str, str]]:
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", "replace")
    p = _MicrodataExtractor(url)
    p.feed(html)
    p.close()
    return p.triples


def extract_microdata_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch wrapper: pages(url, html) → url/line/s/p/o/g/error rows.
    Pages without itemscope/typeof markers short-circuit to zero rows."""
    rows = []
    for url, html in zip(pdf["url"], pdf["html"]):
        h = bytes(html).decode("utf-8", "replace") if not isinstance(html, str) else html
        if "itemscope" not in h and "typeof" not in h:
            continue
        for s, p, o in extract_microdata(url, h):
            rows.append((url, 0, s, p, o, None, None))
    return pd.DataFrame(rows, columns=_OUT_COLS)
