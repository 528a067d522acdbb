"""The per-document transform: one conversation → triples, Status, Turtle.

A faithful Python port of the reference per-document control flow
(`/root/reference/src/gg2rdf.ts:52-1532`), operating on our transcript
document model (FIXTURES.md §1): a conversation ≙ a GoldenGate XML
document, ``[[document ...]]`` / ``[[mods ...]]`` spans in turn 0 ≙
the ``<document>`` attribute bag and MODS subtree, and bracketed
mention spans ≙ ``<taxonomicName>`` / ``<materialsCitation>`` /
``<figureCitation>`` / ``<vernacularName>`` elements.

It is deliberately serial — it mirrors the reference's one-pass
recursive interpreter, statement by statement — and it is the KG
engine's core: ``pipeline.KGPipeline`` runs :func:`transform_turns` on
each complete conversation inside one grouped Arrow pass.  Being the
engine, it is no longer an independent oracle for it; correctness
rests on the DuckDB recipe-SQL oracles (``sources/kgoracle.py``), the
golden pairs in ``tests/test_kernels.py`` and ``tests/test_refimpl.py``,
the Turtle validator (``functions/ttl_check.py``) and the benchmark's
output checks.

Model mapping notes (deviations from the XML original, all fixed by
the corpus generator so both sides see the same convention):

* ``section=`` on a mention stands in for ``subSubSection[type=...]``
  ancestry (gg2rdf.ts:136-138, :327-339); it is a reserved attribute,
  excluded from the taxon attribute-copy loop (:519-531).
* Citation units are flat: a ``treatmentCitation`` /
  ``treatmentCitationGroup`` / reference_group ``taxonomicName``
  mention each carry the cited taxon's attributes directly (the
  reference's closest()-based nested-unit skipping, :330-336, is made
  vacuous by generating flat units).
* ``taxonomicNameLabel`` fallback (:249-254): the first label mention
  *after* the treatment taxon in the same turn plays the ``~`` sibling
  role; a label with ``rank`` equal to the taxon's rank anywhere in
  the same turn plays the second fallback.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from .functions import kernels as K
from .functions.markup import Mention, parse_conversation

# Status enum (gg2rdf.ts:45-50)
STATUS_SUCCESSFUL = 0
STATUS_HAS_WARNINGS = 1
STATUS_HAS_ERRORS = 2
STATUS_FAILED = 3

PREFIX_HEADER = """@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix bibo: <http://purl.org/ontology/bibo/> .
@prefix cito: <http://purl.org/spar/cito/> .
@prefix dc: <http://purl.org/dc/elements/1.1/> .
@prefix dwc: <http://rs.tdwg.org/dwc/terms/> .
@prefix dwcFP: <http://filteredpush.org/ontologies/oa/dwcFP#> .
@prefix fabio: <http://purl.org/spar/fabio/> .
@prefix trt: <http://plazi.org/vocab/treatment#> ."""

# taxonomicName attribute names never copied to dwc:* (gg2rdf.ts:519-531)
# plus our model-internal 'section' stand-in.
EXCLUDED_TAXON_ATTRS = {
    "id", "box", "pageId", "pageNumber", "lastPageId", "lastPageNumber",
    "higherTaxonomySource", "status",
}


class Subject:
    """gg2rdf.ts:4-30 — uri → pred → insertion-ordered set of objects."""

    def __init__(self, uri: str):
        self.uri = uri
        self.properties: dict[str, dict[str, None]] = {}

    def add(self, pred: str, obj: str) -> None:
        self.properties.setdefault(pred, {})[obj] = None

    def objs(self, pred: str) -> list[str]:
        return list(self.properties.get(pred, {}))

    @property
    def prop_names(self) -> list[str]:
        """Comments first (sorted by text), then lexicographic, 'a' last
        (gg2rdf.ts:10-22).  JS string compare is UTF-16 code-unit order;
        Python's code-point order agrees on all BMP strings."""
        import functools

        def cmp(a: str, b: str) -> int:
            if a == b:
                return 0
            if a.startswith("#") and b.startswith("#"):
                return -1 if a[1:] < b[1:] else 1
            if a.startswith("#"):
                return -1
            if b.startswith("#"):
                return 1
            if a == "a":
                return 1
            if b == "a":
                return -1
            return -1 if a < b else 1

        return sorted(self.properties, key=functools.cmp_to_key(cmp))


@dataclass
class ConversationDoc:
    """Parsed conversation in the reference's document shape."""

    conv_id: str
    doc_attrs: Optional[dict[str, str]]  # None ≙ missing <document>
    mods_attrs: dict[str, str]
    mentions: list[Mention]

    @staticmethod
    def from_turns(conv_id: str, turns: list[tuple[int, str]]) -> "ConversationDoc":
        mentions = parse_conversation(turns)
        doc_attrs = None
        mods_attrs: dict[str, str] = {}
        rest: list[Mention] = []
        for m in mentions:
            if m.kind == "document":
                if doc_attrs is None:
                    doc_attrs = m.attrs
            elif m.kind == "mods":
                if not mods_attrs:
                    mods_attrs = m.attrs
            else:
                rest.append(m)
        return ConversationDoc(conv_id, doc_attrs, mods_attrs, rest)


@dataclass
class TransformResult:
    conv_id: str
    status: int
    events: list = field(default_factory=list)  # ("raw", line) | ("subject", Subject)
    log: list[str] = field(default_factory=list)

    # ---- derived views -------------------------------------------------
    def triples(self) -> list[tuple[str, str, str]]:
        """Reference-shape triple set: one row per (subject, predicate,
        object-set element); raw comment lines as ('', '#', line)."""
        out: list[tuple[str, str, str]] = []
        for kind, payload in self.events:
            if kind == "raw":
                out.append(("", "#", payload))
            else:
                for pred in payload.properties:
                    for obj in payload.objs(pred):
                        out.append((payload.uri, pred, obj))
        return out

    def turtle(self) -> str:
        """Byte-parity Turtle serialization (gg2rdf.ts:62-72, 1502-1531)."""
        parts = [PREFIX_HEADER]
        for kind, payload in self.events:
            if kind == "raw":
                parts.append(payload)
            else:
                parts.append(_serialize_subject(payload))
        return "\n".join(parts) + "\n"


def _serialize_subject(s: Subject) -> str:
    """gg2rdf.ts:1506-1531 — note comment-only subjects keep objects
    *unsorted* (:1510-1517) while normal subjects sort them (:1520-1523)."""
    names = s.prop_names
    if names:
        if names[-1].startswith("#"):
            body = " ;\n    ".join(
                f"{n} {', '.join(s.objs(n))}" for n in names
            )
            return f"\n# No properties for {s.uri}\n    {body}"
        body = " ;\n    ".join(
            f"{n} {', '.join(sorted(s.objs(n)))}" for n in names
        )
        return f"\n{s.uri}\n    {body} ."
    return f"\n# No properties for {s.uri}"


# REL enum aliases
_CITES, _SAME, _NONE, _DEPRECATES = (
    K.REL_CITES, K.REL_SAME, K.REL_NONE, K.REL_DEPRECATES,
)


def transform(doc: ConversationDoc) -> TransformResult:
    """Port of ``gg2rdf()`` (gg2rdf.ts:52-130) over one conversation."""
    res = TransformResult(doc.conv_id, STATUS_SUCCESSFUL)
    events = res.events
    log = res.log

    if doc.doc_attrs is None:
        log.append(f"Error: missing <document> in {doc.conv_id}.")
        events.append(
            ("raw", "# Error: Could not create RDF due to missing <document>")
        )
        res.status = STATUS_FAILED
        return res

    d = doc.doc_attrs
    doc_id = K.partial_uri(d.get("docId") or "") or "MISSING_ID"

    taxon_concepts: list[Subject] = []
    taxon_names: list[Subject] = []
    figures: list[Subject] = []
    cited_materials: list[Subject] = []
    already_cited: set[str] = set()

    state = {"status": STATUS_SUCCESSFUL}

    def raise_status(v: int) -> None:
        state["status"] = max(state["status"], v)

    def warn_punct(msgs: list[str]) -> None:
        for m in msgs:
            log.append(m)
            raise_status(STATUS_HAS_WARNINGS)

    # ---- getTreatmentTaxon (gg2rdf.ts:135-155) -------------------------
    treatment_taxon: Optional[Mention] = next(
        (
            m
            for m in doc.mentions
            if m.kind == "taxonomicName" and m.section == "nomenclature"
        ),
        None,
    )
    treatment_taxon_uri: Optional[str] = None  # set once concept ok

    if not treatment_taxon:
        log.append("Error: the treatment is lacking the taxon")
        events.append(("raw", "# Error: the treatment is lacking the taxon"))
        raise_status(STATUS_HAS_ERRORS)
    elif not treatment_taxon.attrs.get("kingdom"):
        log.append("Warning: treatment taxon is missing ancestor kingdom")
        events.append(
            ("raw", "# Warning: treatment taxon is missing ancestor kingdom")
        )
        raise_status(STATUS_HAS_WARNINGS)

    # ---- helpers closing over registries -------------------------------

    def find_or_create(registry: list[Subject], uri: str, push: bool = True):
        for s in registry:
            if s.uri == uri:
                return s, True
        s = Subject(uri)
        if push:
            registry.append(s)
        return s, False

    def taxon_name_uri_w(attrs, rank_limit=None) -> str:
        w: list[str] = []
        uri = K.taxon_name_uri(attrs, rank_limit, w)
        warn_punct(w)
        return uri

    def taxon_concept_uri_w(attrs, suffix) -> str:
        w: list[str] = []
        uri = K.taxon_concept_uri(attrs, suffix, w)
        warn_punct(w)
        return uri

    # ---- makeTaxonName (gg2rdf.ts:843-963) -----------------------------

    def make_taxon_name(
        attrs: dict[str, str], rank_limit: Optional[str] = None, recurse: bool = True
    ) -> str:
        uri = taxon_name_uri_w(attrs, rank_limit)

        prev = next((t for t in taxon_names if t.uri == uri), None)
        s = prev or Subject(uri)
        if prev is None and recurse:
            taxon_names.append(s)

        ranks: list = [r for r in K.RANK_NAMES if r in attrs]
        rank = attrs.get("rank")

        if rank_limit:
            if rank_limit == "kingdom":
                return ""
            if rank_limit in ranks:  # indexOf >= 0  (gg2rdf.ts:885)
                ranks = ranks[: ranks.index(rank_limit)]
                rank = ranks[-1] if ranks else None

        if rank not in ranks:
            ranks.append(rank)

        next_rank_limit = ""

        if rank_limit:
            ranks = [
                n
                for n in ranks
                if n is not None
                and attrs.get(n)
                and not K.is_junk_token(attrs.get(n, "").strip())
            ]
            if ranks:
                next_rank_limit = ranks[-1]
                s.add(
                    f"dwc:{next_rank_limit}",
                    K.STR(K.normalize_space(attrs.get(next_rank_limit))),
                )
                if "genus" in ranks:
                    s.add("dwc:genus", K.STR(K.normalize_space(attrs.get("genus"))))
                if "kingdom" in ranks:
                    s.add(
                        "dwc:kingdom", K.STR(K.normalize_space(attrs.get("kingdom")))
                    )
        else:
            for n in ranks:
                attr_ = attrs.get(n) if n is not None else None
                if attr_:
                    attr = K.js_trim(attr_)
                    if K.is_junk_token(attr):
                        s.add("# Warning:", f"ignoring {n} {K.STR(attr)}")
                        log.append(f"Warning: ignoring {n} {K.STR(attr)}")
                        raise_status(STATUS_HAS_WARNINGS)
                    else:
                        s.add(f"dwc:{n}", K.STR(K.normalize_space(attr)))
                        if "." in attr:
                            s.add("# Warning:", f"abbreviated {n} {K.STR(attr)}")
                            log.append(f"Warning: abbreviated {n} {K.STR(attr)}")
                            raise_status(STATUS_HAS_WARNINGS)
                        next_rank_limit = n

        if next_rank_limit:
            s.add("dwc:rank", K.STR(next_rank_limit))

        if not recurse or next_rank_limit == "kingdom":
            pass  # stop recursion
        elif next_rank_limit and rank_limit != next_rank_limit:
            parent = make_taxon_name(attrs, next_rank_limit)
            if parent and parent != uri:
                s.add("trt:hasParentName", parent)
        else:
            log.append(f"Warning: Could not determine parent name of {uri}")
            s.add("# Warning:", "Could not determine parent name")
            raise_status(STATUS_HAS_WARNINGS)

        s.add("a", "dwcFP:TaxonName")
        return uri

    # ---- makeTaxonConcept (gg2rdf.ts:463-606) --------------------------

    def make_taxon_concept(
        c: Mention, is_defining: bool, recurse_tn: bool = True
    ) -> dict:
        authority, warnings, fallback_doc_info = K.get_full_authority(
            c.attrs, d, is_defining
        )
        # only the paren-removal warnings raise status at generation time
        # (gg2rdf.ts:632-633, 660-661); "Using document metadata for
        # authority year" (:670) does not.
        for w in warnings:
            if w.startswith('Removing "'):
                raise_status(STATUS_HAS_WARNINGS)

        taxon_relation = K.get_taxon_relation(
            c.attrs,
            treatment_taxon.attrs if treatment_taxon else None,
            c.section == "reference_group",
        )
        c_rank_group = K.taxon_rank_group(c.attrs)

        tnuri = taxon_name_uri_w(c.attrs)
        make_taxon_name(c.attrs, None, recurse_tn)

        if authority == "INVALID":
            log.append(f"Warning: Invalid Authority for {tnuri}")
            raise_status(STATUS_HAS_WARNINGS)
            return {"ok": False, "tnuri": tnuri}

        year = K.authority_year(authority)
        c_taxon_authority = (
            f"_{K.authority_name_for_uri(authority)}_{K.partial_uri(year)}"
        )
        uri = taxon_concept_uri_w(c.attrs, c_taxon_authority)

        s, _existed = find_or_create(taxon_concepts, uri)

        s.add("trt:hasTaxonName", tnuri)

        if c_rank_group == K.RANKS_INVALID or taxon_relation == _NONE:
            if c_rank_group == K.RANKS_INVALID:
                s.add("# Error:", "Invalid Rank")
                raise_status(STATUS_HAS_ERRORS)
            if taxon_relation == _NONE:
                s.add("# Error:", "Invalid taxon relation")
                raise_status(STATUS_HAS_ERRORS)
            s.add("a", "dwcFP:TaxonConcept")
            return {"ok": True, "uri": uri, "tnuri": tnuri}

        # attribute copy loop (gg2rdf.ts:519-549)
        import re as _re

        for n in c.attrs:
            if (
                n in EXCLUDED_TAXON_ATTRS
                or n.startswith("_")
                or _re.search(r"\.|evidence|Evicence|lsidName", n)
            ):
                continue
            attr = c.attrs.get(n)
            if n == "ID-CoL":
                s.add(
                    "rdfs:seeAlso",
                    K.URI(
                        "https://www.catalogueoflife.org/data/taxon/"
                        + K.normalize_space(attr)
                    ),
                )
            elif attr is not None and K.is_junk_token(attr):
                s.add("# Warning:", f"ignoring {n} {K.STR(attr)}")
                log.append(f"Warning: ignoring {n} {K.STR(attr)}")
                raise_status(STATUS_HAS_WARNINGS)
            else:
                s.add(f"dwc:{n}", K.STR(K.normalize_space(attr)))

        for w in warnings:
            s.add("# Warning:", w)
        if "dwc:scientificNameAuthorship" not in s.properties:
            s.add("dwc:scientificNameAuthorship", K.STR(authority))

        if fallback_doc_info:
            doc_author = K.simplify_doc_author(d.get("docAuthor"))
            doc_date = d.get("docDate")
            doc_date_js = doc_date if doc_date is not None else "null"
            s.add(
                "dwc:authority",
                K.STR(K.normalize_authority(f"{doc_author}, {doc_date_js}")),
            )
            s.add("dwc:authorityName", K.STR(doc_author))
            s.add("dwc:authorityYear", K.STR(doc_date))
            s.add("# Info:", "authority attributes generated from docAuthor")

        s.add("a", "dwcFP:TaxonConcept")
        return {"ok": True, "uri": uri, "tnuri": tnuri}

    # ---- makeFigure (gg2rdf.ts:422-454) --------------------------------

    def make_figure(f: Mention) -> str:
        uri = K.figure_uri(f.attrs)
        s, _ = find_or_create(figures, uri)
        if "captionText" in f.attrs:
            s.add("dc:description", K.STR(f.attrs.get("captionText")))
        rep = K.figure_representation(f.attrs.get("httpUri") or "")
        if rep:
            s.add("fabio:hasRepresentation", rep)
        s.add("a", "fabio:Figure")
        return uri

    # ---- makeCitedMaterial (gg2rdf.ts:773-836) -------------------------

    def make_cited_material(c: Mention) -> str:
        a = c.attrs
        mc_id = a.get("id")
        http_uri = a.get("httpUri")
        gbif_occurrence = a.get("ID-GBIF-Occurrence")
        specimen_code = a.get("specimenCode")

        if mc_id:
            uri = K.URI(f"http://tb.plazi.org/GgServer/dwcaRecords/{doc_id}.mc.{mc_id}")
        elif gbif_occurrence:
            uri = K.URI(f"https://www.gbif.org/occurrence/{gbif_occurrence}")
        elif http_uri:
            uri = K.URI(http_uri)
        else:
            uri = K.URI(
                f"http://treatment.plazi.org/id/{doc_id}/"
                f"{K.partial_uri(specimen_code)}",
                "_",
            )

        if not mc_id and not http_uri and not specimen_code:
            events.append(
                (
                    "raw",
                    "# Warning: Failed to output a material citation, "
                    "could not create identifier",
                )
            )
            raise_status(STATUS_HAS_WARNINGS)
            return ""

        s, _ = find_or_create(cited_materials, uri)

        for xml, rdf in [
            ("specimenCode", "dwc:catalogNumber"),
            ("collectionCode", "dwc:collectionCode"),
            ("typeStatus", "dwc:typeStatus"),
            ("latitude", "dwc:verbatimLatitude"),
            ("longitude", "dwc:verbatimLongitude"),
            ("elevation", "dwc:verbatimElevation"),
            ("collectingCountry", "dwc:countryCode"),
            ("collectingRegion", "dwc:stateProvince"),
            ("collectingMunicipality", "dwc:municipality"),
            ("collectingCounty", "dwc:county"),
            ("location", "dwc:locality"),
            ("locationDeviation", "dwc:verbatimLocality"),
            ("collectorName", "dwc:recordedBy"),
            ("collectingDate", "dwc:eventDate"),
            ("collectingMethod", "dwc:samplingProtocol"),
            ("ID-GBIF-Occurrence", "trt:gbifOccurrenceId"),
            ("ID-GBIF-Specimen", "trt:gbifSpecimenId"),
        ]:
            if xml in a:
                s.add(rdf, K.STR(a.get(xml)))

        if http_uri:
            s.add("trt:httpUri", K.URI(http_uri))
        if mc_id:
            s.add(
                "trt:httpUri",
                K.URI(f"https://treatment.plazi.org/id/{doc_id}#{mc_id}"),
            )
        s.add("a", "dwc:MaterialCitation")
        return uri

    # ---- getAuthors / getPublication (gg2rdf.ts:1396-1442) -------------

    def get_authors() -> str:
        return K.STR(doc.mods_attrs.get("authors") or "")

    def get_publication() -> str:
        return K.publication_uri(d)

    # ---- addTaxonConceptCitation (gg2rdf.ts:1057-1144) -----------------

    def add_taxon_concept_citation(t: Subject, c: Mention) -> None:
        authority, _w, _f = K.get_full_authority(c.attrs, d, False)
        # the reference discards these warnings (:1062) but the status
        # raise inside getFullAuthority (:632-633) already happened
        for w in _w:
            if w.startswith('Removing "'):
                raise_status(STATUS_HAS_WARNINGS)

        c_taxon_authority = authority
        year = K.authority_year(authority)
        if authority != "INVALID":
            c_taxon_authority = (
                f"_{K.authority_name_for_uri(authority)}_{K.partial_uri(year)}"
            )

        taxon_relation = K.get_taxon_relation(
            c.attrs,
            treatment_taxon.attrs if treatment_taxon else None,
            c.section == "reference_group",
        )
        c_rank_group = K.taxon_rank_group(c.attrs)

        if (
            c_rank_group == K.RANKS_INVALID
            or not c.attrs.get("kingdom")
            or (c_rank_group == K.RANKS_SPECIES and not c.attrs.get("genus"))
        ):
            if c_taxon_authority == "INVALID":
                t.add(
                    "# Warning:",
                    f"Not adding 'trt:citesTaxonName {taxon_name_uri_w(c.attrs)}'"
                    " due to issues with rank",
                )
            else:
                t.add(
                    "# Warning:",
                    "Not adding 'trt:citesTaxonName "
                    f"{taxon_concept_uri_w(c.attrs, c_taxon_authority)}'"
                    " due to issues with rank",
                )
            raise_status(STATUS_HAS_WARNINGS)
            return

        if c_taxon_authority == "INVALID":
            uri = taxon_name_uri_w(c.attrs)
            if uri not in already_cited:
                t.add("trt:citesTaxonName", uri)
                already_cited.add(uri)
                make_taxon_name(c.attrs, None, False)
            return

        if taxon_relation == _CITES:
            tc = make_taxon_concept(c, False, False)
            if tc["ok"]:
                if tc["uri"] not in already_cited and (
                    tc["tnuri"] not in already_cited or bool(year)
                ):
                    t.add("cito:cites", tc["uri"])
                    already_cited.add(tc["uri"])
            elif tc["tnuri"] not in already_cited:
                t.add("trt:citesTaxonName", tc["tnuri"])
            already_cited.add(tc["tnuri"])
            return

        if taxon_relation in (_SAME, _NONE):
            return

        # REL.DEPRECATES
        tc = make_taxon_concept(c, False)
        if tc["ok"]:
            if tc["uri"] == treatment_taxon_uri:
                return
            t.add("trt:deprecates", tc["uri"])
            already_cited.add(tc["uri"])
        elif tc["tnuri"] not in already_cited:
            t.add("trt:citesTaxonName", tc["tnuri"])
        already_cited.add(tc["tnuri"])

    # ---- makeTreatment (gg2rdf.ts:235-391) -----------------------------

    def make_treatment() -> None:
        nonlocal treatment_taxon_uri
        t = Subject(K.URI(f"http://treatment.plazi.org/id/{doc_id}"))

        if treatment_taxon:
            taxon = treatment_taxon
            epithet_errors = K.check_epithet_errors(taxon.attrs)
            if epithet_errors:
                for e in epithet_errors:
                    t.add("# Warning: Could not add treatment taxon because", e)
                    log.append(f"Warning: Could not add treatment taxon because {e}")
                    raise_status(STATUS_HAS_WARNINGS)
            else:
                rank = taxon.attrs.get("rank")
                taxon_status = taxon.attrs.get("status")
                if taxon_status is None:
                    taxon_status = _sibling_label_text(doc, taxon, rank)
                if taxon_status is None:
                    taxon_status = "ABSENT"

                is_defining = bool(taxon_status) and taxon_status not in (
                    "nomen dubium", "(nomen dubium)", "ABSENT", "incertae sedis",
                )

                tc = make_taxon_concept(taxon, is_defining)

                if not tc["ok"]:
                    t.add("trt:treatsTaxonName", tc["tnuri"])
                else:
                    if taxon_status in ("nomen dubium", "(nomen dubium)"):
                        t.add("trt:deprecates", tc["uri"])
                    elif is_defining:
                        t.add("trt:definesTaxonConcept", tc["uri"])
                    else:
                        t.add("trt:augmentsTaxonConcept", tc["uri"])
                    treatment_taxon_uri = tc["uri"]
                    already_cited.add(tc["uri"])
                already_cited.add(tc["tnuri"])

                tts = next(
                    (tn for tn in taxon_names if tn.uri == tc["tnuri"]), None
                )
                if tts is None:
                    log.append(
                        "# Warning: Lost treatment-taxon, cannot add "
                        "vernacular names"
                    )
                    raise_status(STATUS_HAS_WARNINGS)
                else:
                    for v in doc.mentions:
                        if v.kind != "vernacularName":
                            continue
                        language = v.attrs.get("language") or None
                        tag = K.ISO6393_TO_1.get(language) if language else None
                        lit = K.STR(K.normalize_space(v.surface))
                        if tag:
                            tts.add("dwc:vernacularName", f"{lit}@{tag}")
                        else:
                            tts.add("dwc:vernacularName", lit)
                            tts.add(
                                "# Info:",
                                f"Couldn't generate language tag for {lit}@{language}",
                            )
                            log.append(
                                f"Info: Couldn't generate language tag for "
                                f"{lit}@{language}"
                            )

        if "docTitle" in d:
            t.add("dc:title", K.STR(d.get("docTitle")))

        t.add("dc:creator", get_authors())
        t.add("trt:publishedIn", get_publication())

        # cited taxon concepts (gg2rdf.ts:327-357)
        for e in resolve_citation_units(doc.mentions, log):
            try:
                add_taxon_concept_citation(t, e)
            except K.TaxonNameURIError as err:
                msg = f"Error: {err}"
                log.append(msg)
                t.add(
                    "# Error:",
                    f"Could not add TaxonConceptCitation\n{msg}".replace(
                        "\n", "\n# "
                    ),
                )
                raise_status(STATUS_HAS_ERRORS)

        materials = ", ".join(
            u
            for u in (
                make_cited_material(m)
                for m in doc.mentions
                if m.kind == "materialsCitation"
            )
            if u
        )
        if materials:
            t.add("dwc:basisOfRecord", materials)

        fig_uris: dict[str, None] = {}
        for f in doc.mentions:
            if f.kind == "figureCitation" and (
                "httpUri" in f.attrs or "figureDoi" in f.attrs
            ):
                fig_uris[make_figure(f)] = None
        figures_join = ", ".join(fig_uris)
        if figures_join:
            t.add("cito:cites", figures_join)

        t.add("a", "trt:Treatment")

        # cito:cites ∖ trt:deprecates (gg2rdf.ts:377-388)
        if "cito:cites" in t.properties and "trt:deprecates" in t.properties:
            dep = set(t.properties["trt:deprecates"])
            t.properties["cito:cites"] = {
                o: None for o in t.properties["cito:cites"] if o not in dep
            }
            if not t.properties["cito:cites"]:
                del t.properties["cito:cites"]

        events.append(("subject", t))

    # ---- makePublication (gg2rdf.ts:969-1014) --------------------------

    def make_publication() -> None:
        s = Subject(get_publication())
        mods = doc.mods_attrs

        titles = ", ".join(
            K.STR(mods[k]) for k in ("title", "title2") if k in mods
        )
        if titles:
            s.add("dc:title", titles)

        s.add("dc:creator", get_authors())

        for k in ("date", "dateIssued"):
            if k in mods:
                s.add("dc:date", K.STR(mods[k]))

        fig_uris: dict[str, None] = {}
        for f in doc.mentions:
            if f.kind == "figureCitation" and (
                "httpUri" in f.attrs or "figureDoi" in f.attrs
            ):
                fig_uris[make_figure(f)] = None
        figures_join = ", ".join(fig_uris)
        if figures_join:
            s.add("fabio:hasPart", figures_join)

        for k in ("classification", "classification2"):
            cls = mods.get(k)
            if cls == "journal article":
                if "journal" in mods:
                    s.add("bibo:journal", K.STR(mods["journal"]))
                for detail in ("volume", "issue"):
                    if detail in mods:
                        s.add(
                            f"bibo:{detail}",
                            f'"{K.normalize_space(mods[detail])}"',
                        )
                if "startPage" in mods:
                    s.add(
                        "bibo:startPage", f'"{K.normalize_space(mods["startPage"])}"'
                    )
                if "endPage" in mods:
                    s.add("bibo:endPage", f'"{K.normalize_space(mods["endPage"])}"')
                s.add("a", "fabio:JournalArticle")
            elif cls == "book chapter":
                if "startPage" in mods:
                    s.add(
                        "bibo:startPage", f'"{K.normalize_space(mods["startPage"])}"'
                    )
                if "endPage" in mods:
                    s.add("bibo:endPage", f'"{K.normalize_space(mods["endPage"])}"')
                s.add("a", "fabio:BookSection")
            elif cls == "book":
                s.add("a", "fabio:Book")

        events.append(("subject", s))

    # ---- top-level driver (gg2rdf.ts:96-110) ---------------------------
    try:
        make_treatment()
        make_publication()
        for s in taxon_concepts:
            events.append(("subject", s))
        for s in taxon_names:
            events.append(("subject", s))
        for s in figures:
            events.append(("subject", s))
        for s in cited_materials:
            events.append(("subject", s))
    except Exception as error:  # noqa: BLE001 — reference catches everything
        msg = f"Error: {error}"
        log.append(msg)
        events.append(
            (
                "raw",
                f"# There was some Error in gg2rdf\n{msg}".replace("\n", "\n# "),
            )
        )
        res.status = STATUS_FAILED
        return res

    res.status = state["status"]
    return res


_CITATION_KINDS = (
    "treatmentCitationGroup", "treatmentCitation", "taxonomicName",
)
# attrs that make a flat unit its own cited taxon (the generator's
# flat convention carries taxon attrs directly on the unit)
_TAXON_KEYS = K.TAXON_KEYS


def resolve_citation_units(mentions, log) -> list:
    """Citation-unit selection with nested-unit skipping
    (gg2rdf.ts:327-341): a ``treatmentCitation`` inside a
    ``treatmentCitationGroup``, or a ``taxonomicName`` inside either,
    is NOT its own unit (``closest()`` ancestor tests — carried in our
    flat span model as the ``_inside`` ancestry attribute emitted by
    the XML adapter / nested fixtures).  A surviving container unit's
    cited taxon is its first descendant ``taxonomicName``
    (``querySelector``, :339-341) — falling back to the unit's own
    attrs under the flat convention; a container with neither is
    logged and skipped (:354-356)."""
    units: list = []  # (container_mention, resolved_taxon_or_None)
    for e in mentions:
        if e.section != "reference_group" or e.kind not in _CITATION_KINDS:
            continue
        inside = e.attrs.get("_inside")
        if e.kind == "treatmentCitation" and inside == "treatmentCitationGroup":
            continue
        if e.kind == "taxonomicName" and inside in (
            "treatmentCitation", "treatmentCitationGroup",
        ):
            # nested: becomes the cited taxon of the most recent
            # surviving container (document order => that IS its
            # closest surviving ancestor)
            if units and units[-1][0].kind != "taxonomicName" \
                    and units[-1][1] is None:
                units[-1] = (units[-1][0], e)
            continue
        units.append((e, e if e.kind == "taxonomicName" else None))
    out = []
    for container, taxon in units:
        if taxon is None and any(
            k in _TAXON_KEYS for k in container.attrs
        ):
            taxon = container  # flat convention
        if taxon is None:
            log.append(f"{container.kind} found without taxonomicName")
            continue
        out.append(taxon)
    return out


def _sibling_label_text(
    doc: ConversationDoc, taxon: Mention, rank: Optional[str]
) -> Optional[str]:
    """taxonomicNameLabel fallback (gg2rdf.ts:249-254): first, any label
    *after* the taxon in the same turn (the ``~`` general-sibling
    selector); else any label in the same turn with matching rank."""
    labels = [
        m
        for m in doc.mentions
        if m.kind == "taxonomicNameLabel" and m.turn_idx == taxon.turn_idx
    ]
    for m in labels:
        if m.mention_idx > taxon.mention_idx:
            return m.surface
    if rank is not None:  # JS builds [rank="null"] which never matches
        for m in labels:
            if m.attrs.get("rank") == rank:
                return m.surface
    return None


def transform_turns(
    conv_id: str, turns: list[tuple[int, str]]
) -> TransformResult:
    return transform(ConversationDoc.from_turns(conv_id, turns))
