"""Per-page extraction semantics (pure Python, shared by UDFs and oracle).

Reproduces the reference's two parser sets:

* ``generic`` (exampes/finder/internal/parser.go:59-110): every ``<a href>``
  and ``<img src>`` becomes a candidate URL; image responses become items.
* ``bm1365`` (exampes/finder/bm1365Model/bmParser.go:58-100 + JcUx.go:150-224):
  one JcUx item per HTML page (breadcrumb categories, labeled info fields,
  whitespace-deleted text, image-name list) and candidate URLs from
  ``.prod_detail img`` / ``.yyal img`` / ``.jdgz img`` only.

All functions are deterministic and operate on one page; the Spark layer
vectorizes them over Arrow batches (functions/html.py), the oracle calls
them row-at-a-time. THE invariant (BASELINE correctness gate): ``jcux_text``
is byte-identical to the reference's
``strings.Join(strings.Fields(sel.Text()), "")`` (JcUx.go:195-200).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import htmldom
from .urlnorm import basename, resolve

# The 8 labeled fields, label -> output column (JcUx.go:173-190).
JCUX_LABELS = {
    "适用范围": "scope",
    "价格": "price",
    "产地": "origin",
    "生产厂家": "manufacturer",
    "代理公司": "agency",
    "电话": "phone",
    "地址": "address",
    "邮箱": "email",
}

JCUX_FIELDS = [
    "title", "category1", "category2", "category3",
    "scope", "price", "origin", "manufacturer",
    "agency", "phone", "address", "email",
    "info", "images",
]


def _href_ok(href: str | None) -> str | None:
    """a[href] pre-filters (internal/parser.go:62-69). Returns trimmed href
    or None if filtered."""
    if href is None or href == "" or href == "#" or href == "/":
        return None
    href = href.strip()
    if href == "" or href.lower().startswith("javascript"):
        return None
    return href


def _src_ok(src: str | None) -> str | None:
    """img[src] pre-filters (internal/parser.go:90-94, bmParser.go:70-74)."""
    if src is None or src == "" or src == "#" or src == "/":
        return None
    return src.strip()


def fields_join(s: str) -> str:
    """strings.Join(strings.Fields(s), "") — delete ALL whitespace runs
    (JcUx.go:197). Go's strings.Fields splits on unicode whitespace;
    Python str.split() without args matches that."""
    return "".join(s.split())


def extract_links(dom: htmldom.Node, page_url: str) -> list[str]:
    """Resolved candidate URLs from every <a href> (internal/parser.go:59-86).
    Document order, unfiltered duplicates kept (admission dedups later)."""
    out: list[str] = []
    for a in htmldom.find(dom, "a"):
        href = _href_ok(a.attr("href"))
        if href is None:
            continue
        u = resolve(page_url, href)
        if u is not None:
            out.append(u)
    return out


def extract_img_links(dom: htmldom.Node, page_url: str) -> list[str]:
    """Resolved candidate URLs from every <img src>
    (internal/parser.go:88-110)."""
    out: list[str] = []
    for img in htmldom.find(dom, "img"):
        src = _src_ok(img.attr("src"))
        if src is None:
            continue
        u = resolve(page_url, src)
        if u is not None:
            out.append(u)
    return out


def extract_scoped_img_links(dom: htmldom.Node, page_url: str) -> list[str]:
    """bm1365 parser's candidate URLs: img under .prod_detail, .yyal, .jdgz
    in that selector order (bmParser.go:92-100)."""
    out: list[str] = []
    for sel in (".prod_detail img", ".yyal img", ".jdgz img"):
        for img in htmldom.find(dom, sel):
            src = _src_ok(img.attr("src"))
            if src is None:
                continue
            u = resolve(page_url, src)
            if u is not None:
                out.append(u)
    return out


def extract_jcux(dom: htmldom.Node) -> dict[str, str]:
    """The 14-field JcUx record (JcUx.go:150-224). Empty string defaults,
    exactly like Go zero values."""
    rec = {f: "" for f in JCUX_FIELDS}

    # getType (JcUx.go:150-161): positional breadcrumb anchors 2/3/4.
    for i, a in enumerate(htmldom.find(dom, ".visible-xs-block .bread div p a")):
        if i == 2:
            rec["category1"] = a.text()
        elif i == 3:
            rec["category2"] = a.text()
        elif i == 4:
            rec["category3"] = a.text()

    # getInfo (JcUx.go:163-193): last h3 wins; p lines split on ":".
    for h3 in htmldom.find(dom, ".visible-xs-block div[style] .col-sm-7 div[style] h3"):
        rec["title"] = h3.text()
    for p in htmldom.find(dom, ".visible-xs-block div[style] .col-sm-7 div[style] p"):
        te = p.text().split(":")
        # Go bug preserved as behavior (JcUx.go:170-172): a line without a
        # colon would index te[1] out of range and crash the parse; we encode
        # that as "contributes nothing" (the whole-page parse would error in
        # Go — our fixtures never produce colon-less labeled lines, and the
        # oracle shares this exact function, so the contract is symmetric).
        if len(te) < 2:
            continue
        label = te[0].strip()
        col = JCUX_LABELS.get(label)
        if col is not None:
            rec[col] = te[1].strip()

    # getText (JcUx.go:195-200): THE byte-identical invariant.
    for div in htmldom.find(dom, ".visible-xs-block .prod_detail"):
        rec["info"] = fields_join(div.text())

    # getImg (JcUx.go:202-224): basenames of the three img selectors' srcs,
    # document order per selector, comma-joined.
    names: list[str] = []
    for sel in (".prod_detail img", ".yyal img", ".jdgz img"):
        for img in htmldom.find(dom, sel):
            src = img.attr("src")
            if src is None or src == "" or src == "#" or src == "/":
                continue
            names.append(_go_filepath_base(src))
    rec["images"] = ",".join(names)
    return rec


def _go_filepath_base(p: str) -> str:
    """filepath.Base on linux == path.Base (JcUx.go:209)."""
    return basename(p)


def image_format_from_content_type(content_type: str) -> str:
    """Substring between '/' and optional ';' of an image content type
    (bmParser.go:137-149). Empty string when not derivable."""
    i1 = content_type.find("/")
    i2 = content_type.find(";")
    if i1 > 0:
        if i2 < 0:
            return content_type[i1 + 1 :]
        if i1 < i2:
            return content_type[i1 + 1 : i2]
    return ""


@dataclass
class PageParse:
    """Everything one parsed HTML page yields (analyzer combinator output,
    module/local/analyzer/analyzer.go:55-116)."""

    links: list[str] = field(default_factory=list)       # generic a[href]
    img_links: list[str] = field(default_factory=list)   # generic img[src]
    scoped_img_links: list[str] = field(default_factory=list)  # bm1365
    jcux: dict[str, str] = field(default_factory=dict)


def parse_page(html: str | bytes, page_url: str) -> PageParse:
    """Run all parsers once over a single DOM (the analyzer re-reads the
    body per parser via MultipleReader — toolkit/reader/reader.go:23-39 —
    which a DOM gives us for free)."""
    dom = htmldom.parse(html)
    return PageParse(
        links=extract_links(dom, page_url),
        img_links=extract_img_links(dom, page_url),
        scoped_img_links=extract_scoped_img_links(dom, page_url),
        jcux=extract_jcux(dom),
    )
