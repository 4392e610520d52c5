"""DOM-lite TEI → record parser (the replaced GROBID+lxml surface).

Fresh implementation on stdlib ``xml.etree.ElementTree`` with exact
behavioural parity to the reference's ``paperslicer/grobid/parser.py``
(``tei_to_record`` :213-483 and helpers :12-210). Parity is asserted
by golden tests (``tests/test_tei_parser.py``) that compare against
output frozen from the reference module itself.

This module is pure Python and batch-friendly: it is invoked from an
Arrow-batched ``mapInPandas`` stage (see ``operators/extract.py``),
never per-row from the driver. lxml is intentionally not used —
``ElementTree.itertext()`` has identical semantics for well-formed
XML, and stdlib keeps executor Python workers dependency-free.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from typing import Any, Dict, List, Optional
from xml.etree import ElementTree as ET

from paperslicer_spark.functions.sections import (
    canonical_section_name,
    canonical_keys,
    non_content_keys,
)

TEI_NS = "http://www.tei-c.org/ns/1.0"
XML_ID = "{http://www.w3.org/XML/1998/namespace}id"

_TAG_CACHE: Dict[str, str] = {}


def T(tag: str) -> str:
    # dict-cached: T() runs hundreds of times per document (every
    # _child/_desc call and several per-node loops) and the "%"-format
    # was ~5% of the parse profile; the cache is a handful of entries.
    t = _TAG_CACHE.get(tag)
    if t is None:
        t = _TAG_CACHE[tag] = "{%s}%s" % (TEI_NS, tag)
    return t


# hot-loop tag constants (behaviour-identical to T(...) at each site)
T_P = T("p")
T_AB = T("ab")
T_HEAD = T("head")
T_DIV = T("div")
T_FIGURE = T("figure")
T_TABLE = T("table")
T_FIGDESC = T("figDesc")
T_PB = T("pb")
T_ZONE = T("zone")
T_GRAPHIC = T("graphic")
T_IDNO = T("idno")
T_DATE = T("date")
T_ORGNAME = T("orgName")
T_ADDRESS = T("address")
_P_AB = (T_P, T_AB)


def normalize_space(text: str) -> str:
    """Collapse all Unicode whitespace runs to single spaces, strip ends.

    Must keep Python ``str.split()`` semantics (splits on e.g. NBSP-like
    controls that Java regex ``\\s`` does not) — reference
    ``parser.py:12-13``. Do not replace with a JVM regexp.
    """
    return " ".join(text.split())


def _txt(el: Optional[ET.Element]) -> str:
    if el is None:
        return ""
    # single-pass equivalent of normalize_space(" ".join(itertext())):
    # joining chunks with " " and then splitting on whitespace yields
    # exactly the concatenation of each chunk's split() lists (the
    # inserted separator only ever separates), so split per chunk and
    # join once — no intermediate full-string build.
    parts: List[str] = []
    for t in el.itertext():
        parts.extend(t.split())
    return " ".join(parts)


def _child(el: ET.Element, tag: str) -> Optional[ET.Element]:
    return el.find(T(tag))


def _desc(el: ET.Element, tag: str) -> List[ET.Element]:
    """Descendants (excluding self) with the given TEI tag, doc order."""
    out = list(el.iter(T(tag)))
    if out and out[0] is el:
        out = out[1:]
    return out


class _Doc:
    """Indexes over one parsed document: parents + document order + pb
    pages — all built LAZILY on first use. Most documents never need
    the order index (``_xall`` only sorts multi-parent steps) or the
    zone/page maps (coords paths), and eagerly building per-element
    dicts for every document was ~12% of the parse profile. The tree
    is never mutated between construction and use, so a lazy build
    sees the identical document."""

    __slots__ = ("root", "_parent", "_order", "_pb_pos", "_pb_page",
                 "_has_pb", "_zone_surface")

    def __init__(self, root: ET.Element):
        self.root = root
        self._parent: Optional[Dict[int, ET.Element]] = None
        self._order: Optional[Dict[int, int]] = None
        self._pb_pos: Optional[List[int]] = None
        self._pb_page: Optional[List[Optional[int]]] = None
        self._has_pb: Optional[bool] = None
        self._zone_surface: Optional[
            Dict[str, tuple[ET.Element, ET.Element]]] = None

    @property
    def parent(self) -> Dict[int, ET.Element]:
        if self._parent is None:
            p: Dict[int, ET.Element] = {}
            for el in self.root.iter():
                for c in el:
                    p[id(c)] = el
            self._parent = p
        return self._parent

    def _build_order(self) -> None:
        order: Dict[int, int] = {}
        pb_pos: List[int] = []
        pb_page: List[Optional[int]] = []
        for i, el in enumerate(self.root.iter()):
            order[id(el)] = i
            if el.tag == T_PB:
                n = el.get("n")
                page = int(str(n).strip()) if n and str(n).strip().isdigit() else None
                pb_pos.append(i)
                pb_page.append(page)
        self._order = order
        self._pb_pos = pb_pos
        self._pb_page = pb_page

    @property
    def order(self) -> Dict[int, int]:
        if self._order is None:
            self._build_order()
        return self._order

    def nearest_preceding_page(self, el: ET.Element) -> Optional[int]:
        """Page number of the nearest preceding ``<pb n=...>`` milestone."""
        if self._has_pb is None:
            # cheap C-level probe: most documents have no <pb>
            # milestones at all, and then no preceding page can exist —
            # skip building the whole-document order index
            self._has_pb = next(iter(self.root.iter(T_PB)), None) is not None
        if not self._has_pb:
            return None
        if self._order is None:
            self._build_order()
        i = self._order.get(id(el))
        if i is None:
            return None
        k = bisect_left(self._pb_pos, i) - 1
        if k < 0:
            return None
        return self._pb_page[k]

    def zone_in_parent(self, zone_id: str
                       ) -> Optional[tuple[ET.Element,
                                           Optional[ET.Element]]]:
        """(zone, parent) for a ``xml:id``-ed zone, resolving
        duplicate ids the way the reference does: ``xpath(...)[0]``,
        i.e. the FIRST zone in document order wins
        (``grobid/parser.py:187-190``; the previous last-wins dict
        comprehension was a latent divergence, caught by
        tests/test_tei_parser.py::test_duplicate_zone_id_resolution_
        parity). Parents are looked up for just the winning zones, so
        the facs path avoids the whole-document parent dict."""
        if self._zone_surface is None:
            winners: Dict[str, ET.Element] = {}
            for z in self.root.iter(T_ZONE):
                zid = z.get(XML_ID)
                if zid:
                    winners.setdefault(zid, z)
            par: Dict[int, ET.Element] = {}
            if winners:
                need = {id(z) for z in winners.values()}
                for el in self.root.iter():
                    for c in el:
                        if id(c) in need:
                            par[id(c)] = el
            self._zone_surface = {
                zid: (z, par.get(id(z))) for zid, z in winners.items()
            }
        return self._zone_surface.get(zone_id)


_COORD_SPLIT = re.compile(r"[;,\s]+")


def coords_with_page(doc: _Doc, el: ET.Element, coords: Optional[str]) -> Optional[str]:
    """Normalize a coords attribute to ``"page,x,y,w,h"``.

    Quirk preserved from the reference (``parser.py:146-171``): with ≥5
    numbers the first is int-formatted and the rest keep ``str(float)``
    formatting; with 4 numbers the nearest preceding page is prefixed.
    """
    if not coords:
        return None
    nums: List[float] = []
    for p in _COORD_SPLIT.split(coords.strip()):
        if not p:
            continue
        try:
            nums.append(float(p))
        except ValueError:
            pass
    if len(nums) >= 5:
        return ",".join(
            [str(int(nums[0]))] + [str(nums[i]) for i in range(1, 5)]
        )
    if len(nums) >= 4:
        page = doc.nearest_preceding_page(el)
        if page is not None:
            x, y, w, h = nums[:4]
            return f"{page},{x},{y},{w},{h}"
    return None


def coords_from_facs(doc: _Doc, el: ET.Element) -> Optional[str]:
    """Resolve ``facs="#zoneId"`` → zone in a ``<surface n=page>``."""
    try:
        facs = el.get("facs")
        if not facs or not facs.startswith("#"):
            return None
        pair = doc.zone_in_parent(facs[1:])
        if pair is None:
            return None
        zone, surface = pair
        if surface is None or not surface.tag.endswith("surface"):
            return None
        page_n = surface.get("n")
        page = int(str(page_n)) if page_n and str(page_n).strip().isdigit() else None
        ulx = float(zone.get("ulx"))
        uly = float(zone.get("uly"))
        lrx = float(zone.get("lrx"))
        lry = float(zone.get("lry"))
        w = max(0.0, lrx - ulx)
        h = max(0.0, lry - uly)
        if page is not None:
            return f"{page},{ulx},{uly},{w},{h}"
        return None
    except (TypeError, ValueError):
        return None


_FIG_LABEL = re.compile(r"(?i)\bfig(?:ure)?\s*([A-Za-z0-9IVXLC]+)")
_TAB_LABEL = re.compile(r"(?i)\btab(?:le)?\s*([A-Za-z0-9IVXLC]+)")
_INT_TOKEN = re.compile(r"\d{1,3}")
# fallback-B "Table 2. ..." paragraph probe — precompiled: it runs on
# EVERY paragraph of every document
_TABLE_PARA = re.compile(r"(?is)^table\s+([A-Za-z0-9IVXLC]+)\s*[:\.\-]\s*(.+)")


def normalize_label(kind: str, raw_label: Optional[str], head_text: str,
                    caption_text: str) -> Optional[str]:
    """Derive ``"Figure N"`` / ``"Table N"`` from head/caption/raw label.

    Mirrors reference ``parser.py:95-128`` including the preference
    order (head, then caption, then bare numeric raw label, then a
    number-free fallback when a head exists).
    """
    kind_lc = (kind or "").strip().lower()
    pat = _FIG_LABEL if kind_lc == "figure" else _TAB_LABEL if kind_lc == "table" else None
    head = (head_text or "").strip()
    cap = (caption_text or "").strip()
    if pat is not None:
        for s in (head, cap):
            m = pat.search(s)
            if m:
                num = m.group(1).strip().rstrip(".:)")
                return f"{kind_lc.capitalize()} {num}"
    rl = (raw_label or "").strip()
    if _INT_TOKEN.fullmatch(rl):
        return f"{kind_lc.capitalize()} {rl}"
    if kind_lc == "figure" and head:
        return "Figure"
    if kind_lc == "table" and head:
        return "Table"
    return None


def _extract_affiliation(author_el: ET.Element) -> Optional[str]:
    """Per-author affiliation assembly with order-sensitive dedup
    (reference ``parser.py:31-76``)."""
    aff_nodes = [c for c in author_el if c.tag == T("affiliation")]
    if not aff_nodes:
        return None
    aff_texts: List[str] = []
    for aff in aff_nodes:
        parts: List[str] = []
        seen_local = set()

        def add_part(value: Optional[str]) -> None:
            if not value:
                return
            norm = normalize_space(value)
            if not norm:
                return
            key = norm.lower()
            if key in seen_local:
                return
            seen_local.add(key)
            parts.append(norm)

        # direct el.iter(tag): container tags differ from the searched
        # tags here, so _desc's self-exclusion list build is unneeded
        for org in aff.iter(T_ORGNAME):
            add_part(_txt(org))
        for addr in aff.iter(T_ADDRESS):
            for node in addr.iter():
                if node is addr or node.tag == T("label"):
                    continue
                add_part(_txt(node))
        if not parts:
            add_part(_txt(aff))
        if parts:
            aff_texts.append(", ".join(parts))

    unique: List[str] = []
    seen = set()
    for text in aff_texts:
        key = text.lower()
        if key in seen:
            continue
        seen.add(key)
        unique.append(text)
    return "; ".join(unique) if unique else None


def _xall(doc: "_Doc", steps: List[tuple]) -> List[ET.Element]:
    """All elements matching a ``//``-style step chain from the root,
    in document order — the reference's lxml ``_all(root, "//a//b/c")``
    multi-match semantics (``parser.py:79-86``): each step collects
    matches under ALL nodes from the previous step, never "first
    container then give up if it lacks the child". ``steps`` is
    ``[(axis, tag)]`` with axis ``'desc'`` (``//``) or ``'child'``
    (``/``).

    Every step's node-set is deduped and re-sorted by ``doc.order``
    (the index ``_Doc`` precomputes from ``root.iter()``) — lxml
    node-sets are always in document order, and with nested same-tag
    containers a ``child`` step can otherwise emit an outer
    container's child before a deeper, earlier-in-document one
    (tests/lxml_shim.py sorts the same way after every step)."""
    nodes = [doc.root]
    for axis, tag in steps:
        if len(nodes) == 1:
            # single parent: _desc/iter emit in doc order already and
            # no cross-parent dedup or sort is needed — the common
            # case for every step chain rooted at one container
            n = nodes[0]
            nodes = (_desc(n, tag) if axis == "desc"
                     else [c for c in n if c.tag == T(tag)])
            if not nodes:
                return []
            continue
        nxt: List[ET.Element] = []
        seen = set()
        for n in nodes:
            cands = (_desc(n, tag) if axis == "desc"
                     else [c for c in n if c.tag == T(tag)])
            for c in cands:
                if id(c) not in seen:
                    seen.add(id(c))
                    nxt.append(c)
        if not nxt:
            return []
        # a step under a SINGLE parent is already doc-ordered (iter()
        # is DFS order; child lists are in order) — only a multi-parent
        # step can interleave, so only then pay the sort (doc.order is
        # built lazily on first touch)
        if len(nxt) > 1:
            order = doc.order
            nxt.sort(key=lambda e: order[id(e)])
        nodes = nxt
    return nodes


def _first_of(els: List[ET.Element]) -> Optional[ET.Element]:
    return els[0] if els else None


def parse_tei(tei_xml: str | bytes, source_path: str = "") -> Dict[str, Any]:
    """Parse a TEI document into the reference record dict shape.

    Returns exactly ``PaperRecord.to_dict()`` of the reference for the
    same input: ``{meta, sections, other_sections, figures, tables,
    references}`` with identical key presence, text, ordering and quirks
    (abstract trailing space, ``"\\n\\n"`` joins, first-wins dedups).
    """
    if isinstance(tei_xml, bytes):
        root = ET.fromstring(tei_xml)
    else:
        root = ET.fromstring(tei_xml)
    doc = _Doc(root)

    # ---- meta -------------------------------------------------------
    # //-xpath multi-match semantics throughout (parser.py:221-231):
    # first match across ALL teiHeaders / titleStmts / sourceDescs /
    # biblStructs / monogrs in document order
    title = _txt(_first_of(_xall(doc, [
        ("desc", "teiHeader"), ("desc", "titleStmt"), ("child", "title")])))

    doi = ""
    for idno in _xall(doc, [("desc", "teiHeader"), ("desc", "sourceDesc"),
                             ("desc", "biblStruct"), ("desc", "idno")]):
        if idno.get("type") == "DOI":
            doi = _txt(idno)
            break
    journal = _txt(_first_of(_xall(doc, [
        ("desc", "teiHeader"), ("desc", "sourceDesc"),
        ("desc", "biblStruct"), ("child", "monogr"), ("child", "title")])))

    authors: List[Dict[str, Optional[str]]] = []
    for a in _xall(doc, [("desc", "teiHeader"), ("desc", "sourceDesc"),
                          ("desc", "biblStruct"), ("child", "analytic"),
                          ("child", "author")]):
        pers = _child(a, "persName")
        name = _txt(pers)
        if not name:
            surname = pers.find(T("surname")) if pers is not None else None
            if surname is not None:
                forename = pers.find(T("forename"))
                name = _txt(surname) + ", " + _txt(forename)
            else:
                name = ""
        name = normalize_space(name) if name else ""
        name_val = name or None
        aff = _extract_affiliation(a)
        if not name_val and not aff:
            continue
        authors.append({"name": name_val, "affiliation": aff})

    meta: Dict[str, Any] = {
        "source_path": source_path,
        "title": title or None,
        "journal": journal or None,
        "doi": doi or None,
        "authors": authors,
        "keywords": [],
    }

    # ---- sections by body div/head ----------------------------------
    sections: Dict[str, str] = {}
    other_sections: Dict[str, str] = {}
    CANON = canonical_keys()
    NON_CONTENT = non_content_keys()
    # //text/body//div — ALL text elements, ALL body children
    divs = _xall(doc, [("desc", "text"), ("child", "body"), ("desc", "div")])
    for div in divs:
        head = _txt(_child(div, "head"))
        if not head:
            continue
        key = canonical_section_name(head)
        if key in {"references", "bibliography"} or key in NON_CONTENT:
            continue
        if key.startswith("fig.") or key.startswith("table"):
            continue
        content_texts: List[str] = []
        for node in div.iter():
            if node.tag in _P_AB:
                t = _txt(node)
                if t:
                    content_texts.append(t)
        # content_texts are _txt outputs: already whitespace-normalized
        # and non-empty, so normalize_space("\n\n".join(...)) reduces
        # to a plain space join — same bytes, one pass instead of three
        body_text = " ".join(content_texts)
        if not body_text:
            continue
        if key in CANON:
            if key in sections:
                sections[key] += "\n\n" + body_text
            else:
                sections[key] = body_text
        else:
            if head in other_sections:
                other_sections[head] += "\n\n" + body_text
            else:
                other_sections[head] = body_text

    # ---- header abstract (body div named "abstract" wins) -----------
    # //teiHeader//profileDesc/abstract — first across ALL profileDescs
    abs_el = _first_of(_xall(doc, [
        ("desc", "teiHeader"), ("desc", "profileDesc"), ("child", "abstract")]))
    if abs_el is not None:
        abs_txt = _txt(abs_el)
        if abs_txt:
            sections.setdefault("abstract", abs_txt)

    # ---- keywords + abstract-append quirk ----------------------------
    keywords: List[str] = []
    for term in _xall(doc, [("desc", "teiHeader"), ("desc", "profileDesc"),
                             ("desc", "textClass"), ("desc", "keywords"),
                             ("desc", "term")]):
        kw = _txt(term)
        if kw:
            keywords.append(kw)
    if keywords:
        uniq: List[str] = []
        seen_kw = set()
        for kw in keywords:
            norm_kw = normalize_space(kw)
            k = norm_kw.lower()
            if not norm_kw or k in seen_kw:
                continue
            seen_kw.add(k)
            uniq.append(norm_kw)
        keywords = uniq
    if keywords:
        meta["keywords"] = keywords
        kw_text = ", ".join(keywords).strip()
        if kw_text:
            existing_abs = sections.get("abstract", "").rstrip()
            if existing_abs:
                sections["abstract"] = f"{existing_abs} {kw_text} "
            else:
                sections["abstract"] = f"{kw_text} "

    # ---- figures and tables ------------------------------------------
    figures: List[Dict[str, Any]] = []
    tables: List[Dict[str, Any]] = []
    fig_seen = set()
    tab_seen = set()

    figs = _xall(doc, [("desc", "text"), ("desc", "figure")])
    for fig in figs:
        ftype = (fig.get("type") or "").strip().lower()
        label_raw = _txt(_child(fig, "label"))
        head_text = _txt(_child(fig, "head"))
        caption_text = _txt(_child(fig, "figDesc")) or head_text
        coords = None
        g0 = next(fig.iter(T_GRAPHIC), None)  # first descendant graphic
        if g0 is not None:
            coords = coords_with_page(doc, fig, g0.get("coords"))
        if not coords:
            coords = coords_from_facs(doc, fig)

        kind = "table" if ftype == "table" else "figure"
        label = normalize_label(kind, label_raw, head_text, caption_text)
        if not (caption_text or label):
            continue
        key = label or caption_text or ""
        entry = {
            "label": label or None,
            "caption": caption_text or None,
            "path": None,
            "source": "tei",
            "coords": coords,
        }
        if kind == "table":
            if key not in tab_seen:
                tables.append(entry)
                tab_seen.add(key)
        else:
            if key not in fig_seen:
                figures.append(entry)
                fig_seen.add(key)

    tabs = _xall(doc, [("desc", "text"), ("desc", "table")])
    for tab in tabs:
        head_el = _child(tab, "head")
        label_raw = (_txt(_child(head_el, "label")) if head_el is not None else "") or None
        head_text = _txt(head_el)
        caption = head_text
        label = normalize_label("table", label_raw, head_text, caption)
        coords = None
        g0 = next(tab.iter(T_GRAPHIC), None)
        if g0 is not None:
            coords = coords_with_page(doc, tab, g0.get("coords"))
        if not coords:
            coords = coords_from_facs(doc, tab)
        if caption or label:
            key = label or caption or ""
            if key not in tab_seen:
                tables.append({
                    "label": label or None,
                    "caption": caption or None,
                    "path": None,
                    "source": "tei",
                    "coords": coords,
                })
                tab_seen.add(key)

    # ---- fallback tables: A) <ref type="table"> anchors ---------------
    existing_labels = {t.get("label") for t in tables if t.get("label")}
    refs = _xall(doc, [("desc", "text"), ("desc", "ref")])
    for ref in refs:
        if ref.get("type") != "table":
            continue
        num = _txt(ref)
        if not num:
            continue
        label = f"Table {num}"
        if label in existing_labels:
            continue
        parent_map = doc.parent
        par = parent_map.get(id(ref))
        while par is not None and par.tag != T_P:
            par = parent_map.get(id(par))
        caption = None
        if par is not None:
            ptxt = _txt(par)
            m = re.search(r"(?i)\btable\s*" + re.escape(num) + r"\s*[:\.\-]\s*(.+)", ptxt)
            if m:
                caption = m.group(1).strip()
            else:
                caption = re.sub(r"(?i)\btable\s*" + re.escape(num) + r"\b", "", ptxt).strip()
        tables.append({
            "label": label,
            "caption": caption or None,
            "path": None,
            "source": "tei-ref",
        })
        existing_labels.add(label)

    # ---- fallback tables: B) "Table 2. ..." paragraphs ----------------
    paras = _xall(doc, [("desc", "text"), ("desc", "p")])
    for p in paras:
        t = _txt(p)
        if not t:
            continue
        m = _TABLE_PARA.match(t.strip())
        if not m:
            continue
        label = f"Table {m.group(1)}"
        if label in existing_labels:
            continue
        tables.append({
            "label": label,
            "caption": m.group(2).strip() or None,
            "path": None,
            "source": "tei-text",
        })
        existing_labels.add(label)

    # ---- references ---------------------------------------------------
    references: List[Dict[str, Any]] = []
    # //text/back//listBibl/biblStruct
    bibl_structs = _xall(doc, [("desc", "text"), ("child", "back"),
                                ("desc", "listBibl"), ("child", "biblStruct")])
    for idx, bibl in enumerate(bibl_structs, start=1):
        ref_id = bibl.get(XML_ID)
        title_r = ""
        ana = _child(bibl, "analytic")
        if ana is not None:
            for t_el in ana.findall(T("title")):
                if t_el.get("type") == "main":
                    title_r = _txt(t_el)
                    break
        if not title_r:
            mono = _child(bibl, "monogr")
            if mono is not None:
                title_r = _txt(_child(mono, "title"))
        doi_r = ""
        for idno in bibl.iter(T_IDNO):  # lazy: stops at the first DOI
            if idno.get("type") == "DOI":
                doi_r = _txt(idno)
                break
        year = ""
        for d in bibl.iter(T_DATE):
            if d.get("type") == "published":
                year = _txt(d)
                break
        auths: List[str] = []
        if ana is not None:
            for a in ana.findall(T("author")):
                nm = _txt(a)
                if nm:
                    auths.append(nm)
        citation = _txt(bibl)  # == normalize_space over the joined itertext
        entry: Dict[str, Any] = {"index": idx}
        if citation:
            entry["text"] = citation
        if ref_id:
            entry["id"] = ref_id
        if title_r:
            entry["title"] = title_r
        if doi_r:
            entry["doi"] = doi_r
        if year:
            entry["year"] = year
        if auths:
            entry["authors"] = auths
        references.append(entry)

    return {
        "meta": meta,
        "sections": sections,
        "other_sections": other_sections,
        "figures": figures,
        "tables": tables,
        "references": references,
    }
