"""Scalar string/URI kernels with JS-semantics parity.

These are pure Python ports of the scalar helpers in the reference
transform (`/root/reference/src/gg2rdf.ts`), used both by the
single-conversation oracle (`gg2rdf_spark.refimpl`) and inside the
vectorized pandas UDFs of the distributed pipeline
(`gg2rdf_spark.operators.*`).  Every function cites the reference
file:line it reproduces.

JS ↔ Python parity notes (documented deviations):

* JS ``\\s`` is the ECMAScript WhiteSpace ∪ LineTerminator set (it
  includes U+FEFF but *not* U+0085/NEL, which Python's ``\\s`` *does*
  match).  We use an explicit character class ``JS_WS``.
* JS ``\\w`` / ``\\b`` are ASCII-only.  Ports use explicit ASCII
  classes / ``re.ASCII``-compiled patterns.
* ``JSON.stringify`` string escaping == ``json.dumps(ensure_ascii=False)``
  for all well-formed (surrogate-free) strings.
* ``encodeURI`` == ``urllib.parse.quote`` with the ECMA-262 unreserved
  set as ``safe`` (uppercase %XX hex in both).
* In ``normalize_authority`` the JS pattern ``\\b\\p{Uppercase_Letter}\\.``
  uses an ASCII word boundary before a Unicode uppercase letter; we
  approximate the boundary as ``(?<![A-Za-z0-9_])`` which differs only
  for non-ASCII initials immediately preceded by an ASCII word char —
  unreachable in our fixture corpus.
"""

from __future__ import annotations

import json
import re
import unicodedata
from functools import lru_cache
from typing import Mapping, Optional
from urllib.parse import quote

# --------------------------------------------------------------------------
# JS whitespace / trim / normalizeSpace  (gg2rdf.ts:1495-1498)
# --------------------------------------------------------------------------

# ECMAScript WhiteSpace + LineTerminator (the set matched by JS /\\s/):
# TAB VT FF SP NBSP ZWNBSP + Zs category + LF CR LS PS.  Note: unlike
# Python's \\s this excludes U+0085 (NEL) and includes U+FEFF.
JS_WS = (
    "\t\n\x0b\x0c\r \xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_RE_WS_RUN = re.compile(f"[{JS_WS}]+")
_RE_WS_LEAD = re.compile(f"^[{JS_WS}]+")
_RE_WS_TRAIL = re.compile(f"[{JS_WS}]+$")


def js_trim(s: str) -> str:
    """``String.prototype.trim`` (trims the JS whitespace set)."""
    return _RE_WS_TRAIL.sub("", _RE_WS_LEAD.sub("", s))


def normalize_space(s: Optional[str]) -> str:
    """gg2rdf.ts:1495-1498 — collapse whitespace runs, trim; '' for falsy."""
    if not s:
        return ""
    return js_trim(_RE_WS_RUN.sub(" ", s))


# --------------------------------------------------------------------------
# STR — Turtle string literal via JSON escaping  (gg2rdf.ts:1464-1467)
# --------------------------------------------------------------------------


def STR(s: Optional[str]) -> str:
    """gg2rdf.ts:1464-1467 — JSON.stringify escaping; '""' for falsy."""
    if not s:
        return '""'
    return json.dumps(s, ensure_ascii=False)


# --------------------------------------------------------------------------
# encodeURI / URI / partialURI  (gg2rdf.ts:1470-1478)
# --------------------------------------------------------------------------

# ECMA-262 encodeURI leaves unescaped: uriReserved ∪ uriUnescaped ∪ '#'
#   uriReserved  = ; / ? : @ & = + $ ,
#   uriUnescaped = ALPHA DIGIT - _ . ! ~ * ' ( )
_ENCODE_URI_SAFE = ";/?:@&=+$,-_.!~*'()#"


def encode_uri(s: str) -> str:
    """ECMAScript ``encodeURI`` (UTF-8 percent-encoding, uppercase hex)."""
    return quote(s, safe=_ENCODE_URI_SAFE)


def URI(uri: Optional[str], replace_space: str = "") -> str:
    """gg2rdf.ts:1475-1478 — '<'+encodeURI+'>' with whitespace runs
    replaced; '[]' (a fresh blank node) for falsy input."""
    if not uri:
        return "[]"
    return f"<{encode_uri(_RE_WS_RUN.sub(replace_space, js_trim(uri)))}>"


_RE_URI_RESERVED = re.compile(r"[;/?:@&=+$,#]+")


def partial_uri(s: Optional[str]) -> str:
    """gg2rdf.ts:1470-1473 — strip URI-reserved chars, normalize space."""
    if not s:
        return ""
    return normalize_space(_RE_URI_RESERVED.sub(" ", s))


# --------------------------------------------------------------------------
# substringBefore / substringAfter  (gg2rdf.ts:1482-1493)
# --------------------------------------------------------------------------


def substring_before(s: str, c: str) -> str:
    """Part of ``s`` before the *first* ``c``; ``s`` if absent."""
    i = s.find(c)
    return s if i < 0 else s[:i]


def substring_after(s: str, c: str) -> str:
    """Part of ``s`` after the *last* ``c`` (JS uses lastIndexOf,
    gg2rdf.ts:1489-1493); ``s`` if absent."""
    i = s.rfind(c)
    return s if i < 0 else s[i + len(c):]


# --------------------------------------------------------------------------
# removePunctuation  (gg2rdf.ts:1454-1462)
# --------------------------------------------------------------------------


@lru_cache(maxsize=4096)
def _is_zsp(ch: str) -> bool:
    return unicodedata.category(ch)[0] in ("Z", "S", "P")


def remove_punctuation(s: Optional[str]) -> tuple[str, bool]:
    """gg2rdf.ts:1454-1462 — drop ``\\p{Z}|\\p{S}|\\p{P}`` except '-'.

    Returns ``(result, changed)``; the caller logs a warning when
    ``changed`` (reference raises status to has_warnings).
    """
    if not s:
        return "", False
    out = "".join(c for c in s if c == "-" or not _is_zsp(c))
    return out, out != s


# --------------------------------------------------------------------------
# Unicode-class helpers for authority regexes
# --------------------------------------------------------------------------

# JS /\w[A-Z]+\b[^.]|\w[A-Z]+$/g with ASCII \w,\b  (gg2rdf.ts:576-580 etc.)
_RE_ALLCAPS = re.compile(r"\w[A-Z]+\b[^.]|\w[A-Z]+$", re.ASCII)


def _titlecase_allcaps(s: str) -> str:
    """The shared ALL-CAPS → Title-case rewrite (gg2rdf.ts:620-625,
    648-653, 699-704, 576-581): applied when len>=2; callers decide."""
    return _RE_ALLCAPS.sub(lambda m: m.group(0)[0] + m.group(0)[1:].lower(), s)


# (?:\\b\\p{Uppercase_Letter}\\.\\s*)+(\\w+) — initials-stripping
# (gg2rdf.ts:754).  Python re has no \\p{Lu}; build the class from
# unicodedata at import (one scan of the letter planes, cached).


def _lu_class() -> str:
    import sys
    ranges = []
    start = None
    prev = None
    for cp in range(0x20000):
        ch = chr(cp)
        if unicodedata.category(ch) == "Lu":
            if start is None:
                start = cp
            prev = cp
        elif start is not None:
            ranges.append((start, prev))
            start = None
    if start is not None:
        ranges.append((start, prev))
    return "".join(
        re.escape(chr(a)) if a == b else f"{re.escape(chr(a))}-{re.escape(chr(b))}"
        for a, b in ranges
    )


_LU = _lu_class()
# JS \\b before an Lu char: boundary per ASCII \\w.  For ASCII uppercase
# the boundary is (?<![A-Za-z0-9_]); for non-ASCII Lu (not ASCII \\w) the
# boundary requires the preceding char to BE an ASCII word char.
_RE_INITIALS = re.compile(
    rf"(?:(?:(?<![A-Za-z0-9_])[A-Z]|(?<=[A-Za-z0-9_])(?![A-Za-z])[{_LU}])"
    rf"\.[{JS_WS}]*)+([A-Za-z0-9_]+)"
)


def _strip_initials(s: str) -> str:
    """gg2rdf.ts:754 — drop runs of dotted uppercase initials before a word."""
    return _RE_INITIALS.sub(lambda m: m.group(1), s)


# --------------------------------------------------------------------------
# normalizeAuthority  (gg2rdf.ts:745-770)
# --------------------------------------------------------------------------

_RE_YEAR_TAIL = re.compile(rf"[{JS_WS}]*,*[{JS_WS}]*(\(?[0-9]{{4}})[^)]*(\)?).*$")
_RE_AND = re.compile(rf"[{JS_WS}]+and[{JS_WS}]+", re.IGNORECASE)
_RE_ET = re.compile(rf"[{JS_WS}]+[Ee][Tt][{JS_WS}]+([^a])")
_RE_PUNCT_LEAD = re.compile(rf"^[{JS_WS}]*[,:;]+[{JS_WS}]*")
_RE_PUNCT_TRAIL = re.compile(rf"[{JS_WS}]*[,:;]+[{JS_WS}]*$")


def normalize_authority(a: Optional[str]) -> str:
    """gg2rdf.ts:745-770 — canonicalize an authority string."""
    if not a:
        return ""
    result = normalize_space(a)
    result = _RE_YEAR_TAIL.sub(r", \1\2", result, count=1)
    result = result.replace('"', "").replace("'", "")
    result = _strip_initials(result)
    result = _RE_AND.sub(" & ", result)
    result = _RE_ET.sub(r" & \1", result)
    result = re.sub(r"\)\)$", ")", result, count=1)
    result = re.sub(r"^\(\(", "(", result, count=1)
    result = _RE_PUNCT_LEAD.sub("", result, count=1)
    result = _RE_PUNCT_TRAIL.sub("", result, count=1)
    result = js_trim(result)
    if result.find("&") != result.rfind("&"):
        split = [js_trim(p) for p in result.split("&")]
        result = ", ".join(split[:-1]) + " & " + split[-1]
    if result.rfind("(") > result.rfind(")"):
        result += ")"
    return result


# --------------------------------------------------------------------------
# authorityNameForURI  (gg2rdf.ts:1235-1246)
# --------------------------------------------------------------------------

# \(?\p{L}+ — letters ≈ [^\W\d_] under Unicode matching
_RE_AUTH_LETTERS = re.compile(r"\(?[^\W\d_]+")


def authority_name_for_uri(authority_name: str) -> str:
    """gg2rdf.ts:1235-1246."""
    authority_name = substring_before(authority_name, ")")
    authority_name = substring_before(authority_name, " &")
    authority_name = substring_before(authority_name, ",")
    authority_name = substring_after(authority_name, " ")
    m = _RE_AUTH_LETTERS.search(authority_name)
    if m and m.group(0):
        return partial_uri(m.group(0))
    return partial_uri(authority_name)


# --------------------------------------------------------------------------
# Rank machinery  (gg2rdf.ts:118-128, 856-879, 1212-1232, 1262-1285)
# --------------------------------------------------------------------------

RANK_NAMES = [
    "kingdom", "phylum", "subPhylum", "class", "subClass", "order",
    "subOrder", "superFamily", "family", "subFamily", "tribe", "subTribe",
    "genus", "subGenus", "section", "subSection", "series", "species",
    "undef-species", "subSpecies", "variety", "form",
]

# attrs that make a flat unit its own cited taxon (the generator's
# flat convention carries taxon attrs directly on the unit); read by
# the per-document transform (refimpl.resolve_citation_units)
TAXON_KEYS = frozenset(RANK_NAMES) | {
    "rank", "authorityName", "baseAuthorityName", "authority",
}

# RANKS enum (gg2rdf.ts:118-128)
RANKS_INVALID = 0
RANKS_KINGDOM = 1
RANKS_PHYLUM = 2
RANKS_CLASS = 3
RANKS_ORDER = 4
RANKS_FAMILY = 5
RANKS_TRIBE = 6
RANKS_GENUS = 7
RANKS_SPECIES = 8

# REL enum (gg2rdf.ts:112-117)
REL_CITES = 0
REL_SAME = 1
REL_NONE = 2
REL_DEPRECATES = 3


def taxon_rank_group(attrs: Mapping[str, str]) -> int:
    """gg2rdf.ts:1212-1232 (truthy-attribute probes, top-down)."""
    if attrs.get("species"):
        return RANKS_SPECIES
    if attrs.get("genus"):
        return RANKS_GENUS
    if attrs.get("tribe") or attrs.get("subTribe"):
        return RANKS_TRIBE
    if attrs.get("family") or attrs.get("subFamily"):
        return RANKS_FAMILY
    if attrs.get("order") or attrs.get("subOrder"):
        return RANKS_ORDER
    if attrs.get("class") or attrs.get("subClass"):
        return RANKS_CLASS
    if attrs.get("phylum") or attrs.get("subPhylum"):
        return RANKS_PHYLUM
    if attrs.get("kingdom"):
        return RANKS_KINGDOM
    return RANKS_INVALID


def get_kingdom(attrs: Mapping[str, str]) -> str:
    """gg2rdf.ts:1369-1371 — 'INVALID' for falsy kingdom."""
    return attrs.get("kingdom") or "INVALID"


# var/subsp/f junk-token test (gg2rdf.ts:542, 902, 930).  re.ASCII:
# JS \W is [^A-Za-z0-9_], so e.g. 'varé' IS junk in the reference
# (é matches \W) — Python's Unicode \W would treat é as a word char.
_RE_JUNK_TOKEN = re.compile(r"^\W*(var|subsp|f)\W*$",
                            re.IGNORECASE | re.ASCII)
# same with explicit '.' alternative (gg2rdf.ts:1336)
_RE_JUNK_TOKEN_DOT = re.compile(r"^\W*(var|subsp|f|\.)\W*$",
                                re.IGNORECASE | re.ASCII)


def is_junk_token(s: Optional[str]) -> bool:
    return bool(s is not None and _RE_JUNK_TOKEN.match(s))


# --------------------------------------------------------------------------
# taxonNameForURI / taxonNameURI / taxonConceptURI
# (gg2rdf.ts:1249-1253, 1258-1351, 1357-1363, 1376-1393)
# --------------------------------------------------------------------------

_LOWER_RANKS = [
    "subGenus", "section", "subSection", "series", "species",
    "undef-species", "subSpecies", "variety", "form",
]


class TaxonNameURIError(Exception):
    """gg2rdf.ts:1348 — 'Could not produce taxonNameURI'."""


def taxon_name_base_uri(kingdom: Optional[str]) -> str:
    """gg2rdf.ts:1249-1253."""
    return "http://taxon-name.plazi.org/id/" + (
        partial_uri(kingdom) if kingdom else "INVALID"
    )


def taxon_concept_base_uri(kingdom: str) -> str:
    """gg2rdf.ts:1376-1378 (kingdom already 'INVALID'-defaulted)."""
    return f"http://taxon-concept.plazi.org/id/{kingdom}"


def taxon_name_for_uri(
    attrs: Mapping[str, str],
    rank_limit: Optional[str] = None,
    warn: Optional[list] = None,
) -> str:
    """gg2rdf.ts:1258-1351 — the path part of a taxon-name URI.

    ``warn`` collects removePunctuation normalization warnings
    (reference logs them inside removePunctuation, :1458).
    Note the ``indexOf(rankLimit) > 0`` asymmetry vs makeTaxonName's
    ``>= 0`` (gg2rdf.ts:1291 vs :885) — reproduced faithfully.
    """
    ranks = [r for r in RANK_NAMES if r in attrs]
    rank = attrs.get("rank")

    if rank_limit:
        if rank_limit == "kingdom":
            return ""
        if rank_limit in ranks and ranks.index(rank_limit) > 0:
            ranks = ranks[: ranks.index(rank_limit)]
            rank = ranks[-1] if ranks else None
    if rank == "kingdom":
        return ""

    def _rp(s: Optional[str]) -> str:
        out, changed = remove_punctuation(s)
        if changed and warn is not None:
            warn.append(f'Warning: Normalizing "{s}" to "{out}".')
        return out

    if rank in _LOWER_RANKS:
        names: list = [
            attrs.get("genus"),
            "x" if attrs.get("isHybrid") == "true" else "",
            attrs.get("species")
            if "species" in ranks
            else [
                attrs.get("subGenus"),
                attrs.get("section"),
                attrs.get("subSection"),
                attrs.get("series"),
            ],
            attrs.get("undef-species") if "undef-species" in ranks else "",
            attrs.get("subSpecies") if "subSpecies" in ranks else "",
            attrs.get("variety") if "variety" in ranks else "",
            attrs.get("form") if "form" in ranks else "",
        ]
        flat: list = []
        for n in names:
            if isinstance(n, list):
                flat.extend(n)
            else:
                flat.append(n)
        kept = [n for n in flat if n and not _RE_JUNK_TOKEN_DOT.match(n)]
        return "/" + partial_uri("_".join(_rp(n) for n in kept))
    else:
        sig = _rp(normalize_space(attrs.get(rank) if rank else None))
        if sig:
            return "/" + partial_uri(sig.replace(".", ""))
        raise TaxonNameURIError("Could not produce taxonNameURI")


def taxon_name_uri(
    attrs: Mapping[str, str],
    rank_limit: Optional[str] = None,
    warn: Optional[list] = None,
) -> str:
    """gg2rdf.ts:1357-1363 — full ``<...>`` taxon-name URI ('_' spaces)."""
    return URI(
        taxon_name_base_uri(attrs.get("kingdom"))
        + taxon_name_for_uri(attrs, rank_limit, warn),
        "_",
    )


def taxon_concept_uri(
    attrs: Mapping[str, str],
    taxon_authority: str,
    warn: Optional[list] = None,
) -> str:
    """gg2rdf.ts:1383-1393."""
    return URI(
        taxon_concept_base_uri(get_kingdom(attrs))
        + taxon_name_for_uri(attrs, None, warn)
        + taxon_authority
    )


# --------------------------------------------------------------------------
# Epithet validation  (gg2rdf.ts:157-230)
# --------------------------------------------------------------------------

_RE_EPITHET_BAD = re.compile(r"[^a-zA-Z.\-'’]")
_RE_EPITHET_OK = re.compile(r"(undefined|sp\.?|species)\s*-?[0-9]*$")


def _epithet_is_valid(name: str) -> bool:
    return bool(name) and (
        not _RE_EPITHET_BAD.search(name) or bool(_RE_EPITHET_OK.search(name))
    )


def check_epithet_errors(attrs: Mapping[str, str]) -> list[str]:
    """gg2rdf.ts:157-230 — returns list of error strings."""
    errors: list[str] = []
    rank = attrs.get("rank")
    if not rank:
        errors.append("the rank attribute is missing")
        return errors
    sig = normalize_space(attrs.get(rank))
    if not _epithet_is_valid(sig):
        errors.append(f"sigEpithet {STR(sig)} contains invalid characters")
    if rank in ("subSpecies", "variety") and not _epithet_is_valid(
        normalize_space(attrs.get("species"))
    ):
        errors.append(
            f"species {STR(attrs.get('species'))} contains invalid characters"
        )
    if rank in ("subGenus", "species", "subSpecies", "variety") and not (
        _epithet_is_valid(normalize_space(attrs.get("genus")))
    ):
        errors.append(
            f"genus {STR(attrs.get('genus'))} contains invalid characters"
        )
    if rank in ("subFamily", "tribe", "subTribe") and not _epithet_is_valid(
        normalize_space(attrs.get("family"))
    ):
        errors.append(
            f"family {STR(attrs.get('family'))} contains invalid characters"
        )
    if rank == "subOrder" and not _epithet_is_valid(
        normalize_space(attrs.get("order"))
    ):
        errors.append(
            f"order {STR(attrs.get('order'))} contains invalid characters"
        )
    if rank == "subClass" and not _epithet_is_valid(
        normalize_space(attrs.get("class"))
    ):
        errors.append(
            f"class {STR(attrs.get('class'))} contains invalid characters"
        )
    if rank == "subPhylum" and not _epithet_is_valid(
        normalize_space(attrs.get("phylum"))
    ):
        errors.append(
            f"phylum {STR(attrs.get('phylum'))} contains invalid characters"
        )
    return errors


# --------------------------------------------------------------------------
# docAuthor simplification + authority extraction  (gg2rdf.ts:565-581,
# 609-742)
# --------------------------------------------------------------------------

_RE_DOCAUTHOR_SURNAME = re.compile(rf"([^,@&]+),[{JS_WS}]+[^,@&]+")
_RE_IN_CLAUSE = re.compile(r"\bin\b[^0-9]*", re.ASCII)
_RE_PAREN_BOTH = re.compile(r"\(.*\)", re.DOTALL)
_RE_PAREN_OPEN = re.compile(r"\(.*$", re.DOTALL)
_RE_PAREN_CLOSE = re.compile(r"^.*\)", re.DOTALL)
_RE_HAS_ALPHA = re.compile(r"[a-zA-Z]")
_RE_HAS_LOWER = re.compile(r"[a-z]")
_RE_HAS_DIGIT = re.compile(r"[0-9]")
_RE_FIRST_DIGITS = re.compile(r"[0-9]+")


def simplify_doc_author(doc_author: Optional[str]) -> str:
    """gg2rdf.ts:565-581 / 719-735 — surname extraction from docAuthor."""
    s = normalize_space(doc_author)
    s = _RE_DOCAUTHOR_SURNAME.sub(r"\1@", s)
    s = s.replace("@&", " &").replace("@", "")
    if len(s) >= 2:
        s = _titlecase_allcaps(s)
    return s


def _clean_authority_name(a: str, warnings: list[str], label: str,
                          strip_parens: bool = True) -> str:
    """Shared cleanup for (base)authorityName (gg2rdf.ts:617-636 etc.).

    Returns the cleaned name; appends removal warnings.
    ``strip_parens=False`` reproduces the ``authority`` *attribute*
    branch (gg2rdf.ts:694-716), which performs only the in-clause /
    'L.' / ALL-CAPS cleanup — no parenthetical removal."""
    a = _RE_IN_CLAUSE.sub("", a, count=1)
    if a == "L.":
        a = "Linnaeus"
    if len(a) >= 2 and not _RE_HAS_LOWER.search(a):
        a = _titlecase_allcaps(a)
    if strip_parens and ("(" in a or ")" in a):
        m = _RE_PAREN_BOTH.search(a) or _RE_PAREN_OPEN.search(a) \
            or _RE_PAREN_CLOSE.search(a)
        inside = m.group(0) if m else ""
        if _RE_HAS_ALPHA.search(inside) and inside != a:
            warnings.append(f'Removing "{inside}" from {label}')
            a = js_trim(a.replace(inside, "", 1))
    return a


def get_full_authority(
    attrs: Mapping[str, str],
    doc_attrs: Mapping[str, str],
    allow_defining: bool = True,
) -> tuple[str, list[str], bool]:
    """gg2rdf.ts:609-742 — returns (authority, warnings, fallback_doc_info).

    ``authority == 'INVALID'`` means no usable authority.
    Warning strings that raise status: 'Removing ...', 'Using document
    metadata for authority year'.
    """
    warnings: list[str] = []
    full_authority = "INVALID"

    base_authority = attrs.get("baseAuthorityName") or ""
    if base_authority:
        base_authority = _clean_authority_name(
            base_authority, warnings, "baseAuthority"
        )
        if "baseAuthorityYear" in attrs:
            base_authority += ", " + attrs["baseAuthorityYear"]
        base_authority = normalize_authority("(" + base_authority + ")")

    authority = attrs.get("authorityName") or ""
    if authority:
        authority = _clean_authority_name(authority, warnings, "authority")
        if "authorityYear" in attrs:
            authority += ", " + attrs["authorityYear"]
        elif allow_defining and not _RE_HAS_DIGIT.search(authority):
            warnings.append("Using document metadata for authority year")
            authority += ", " + (doc_attrs.get("docDate") or "null")
        authority = normalize_authority(authority)
        if base_authority:
            # ensure the baseAuthority is not present twice (:676-679)
            authority = authority.replace(base_authority, "@@@")
            authority = re.sub(
                rf"\(?@@@\)?[,:;{JS_WS}]*", "", authority
            )
        authority = normalize_space(authority)

    if base_authority and authority:
        if get_kingdom(attrs) == "Animalia":
            full_authority = base_authority
        else:
            full_authority = base_authority + " " + authority
    elif base_authority:
        full_authority = base_authority
    elif authority:
        full_authority = authority
    elif attrs.get("authority"):
        authority2 = attrs.get("authority") or ""
        if authority2:
            authority2 = _clean_authority_name(
                authority2, warnings, "authority", strip_parens=False
            )
            if "authorityYear" in attrs:
                authority2 += ", " + attrs["authorityYear"]
            elif allow_defining and not _RE_HAS_DIGIT.search(authority2):
                warnings.append("Using document metadata for authority year")
                authority2 += ", " + (doc_attrs.get("docDate") or "null")
            authority2 = normalize_authority(authority2)
        full_authority = authority2
    elif allow_defining:
        doc_author = simplify_doc_author(doc_attrs.get("docAuthor"))
        full_authority = normalize_authority(
            f"{doc_author}, {doc_attrs.get('docDate') or 'null'}"
        )
        return full_authority, warnings, True
    return full_authority, warnings, False


def authority_year(authority: str) -> str:
    """First digit run of the authority (gg2rdf.ts:485, 1066)."""
    m = _RE_FIRST_DIGITS.search(authority)
    return m.group(0) if m else ""


# --------------------------------------------------------------------------
# Relation classifier  (gg2rdf.ts:1147-1210)
# --------------------------------------------------------------------------


def get_taxon_relation(
    c: Mapping[str, str],
    t: Optional[Mapping[str, str]],
    c_in_reference_group: bool,
) -> int:
    """gg2rdf.ts:1147-1210 — REL for cited taxon ``c`` vs treatment ``t``."""
    if t is None or not c_in_reference_group:
        return REL_CITES

    authority_match = (
        "authorityYear" in c
        and c.get("authorityYear") == t.get("authorityYear")
        and c.get("authorityName") == t.get("authorityName")
    ) or (
        "baseAuthorityYear" in c
        and c.get("baseAuthorityYear") == t.get("baseAuthorityYear")
        and c.get("baseAuthorityName") == t.get("baseAuthorityName")
    )
    t_group = taxon_rank_group(t)
    c_group = taxon_rank_group(c)
    if t_group == RANKS_INVALID or c_group == RANKS_INVALID:
        return REL_NONE
    if t_group != c_group:
        return REL_CITES
    if not t.get("genus") or not c.get("genus"):
        return REL_CITES
    if (
        c.get("rank") == "genus"
        and t.get("rank") != "genus"
        and c.get("genus") == t.get("genus")
    ):
        return REL_CITES
    if (
        c.get("rank") == "species"
        and t.get("rank") != "species"
        and c.get("genus") == t.get("genus")
        and c.get("species") == t.get("species")
    ):
        return REL_CITES
    if (
        authority_match
        and c.get("rank") == t.get("rank")
        and c.get("genus") == t.get("genus")
        and c.get("subGenus") == t.get("subGenus")
        and c.get("species") == t.get("species")
        and c.get("subSpecies") == t.get("subSpecies")
        and c.get("variety") == t.get("variety")
    ):
        return REL_SAME
    return REL_DEPRECATES


# --------------------------------------------------------------------------
# Figure URIs  (gg2rdf.ts:393-417, 433-450)
# --------------------------------------------------------------------------


def figure_uri(attrs: Mapping[str, str]) -> str:
    """gg2rdf.ts:393-417 — priority chain for figure URIs."""
    uri = attrs.get("httpUri") or ""
    if "10.5281/zenodo." in uri:
        return URI(uri)
    if "zenodo." in uri:
        return URI(
            "http://dx.doi.org/10.5281/zenodo."
            + substring_after(
                substring_before(uri.replace(" ", ""), "/files/"), "/record/"
            )
        )
    doi = attrs.get("figureDoi") or ""
    if "doi.org/10." in doi:
        return URI(doi)
    if doi:
        return URI(f"http://dx.doi.org/{doi}")
    if uri:
        return URI(uri)
    raise ValueError(
        "Internal: getFigureUri called with figure that has neither "
        "@httpUri nor @figureDoi"
    )


def figure_representation(http_uri: str) -> Optional[str]:
    """gg2rdf.ts:433-450 — fabio:hasRepresentation object for a figure."""
    http_uri = http_uri.replace(" ", "")
    if not http_uri:
        return None
    if "10.5281/zenodo." in http_uri:
        return URI(
            "https://zenodo.org/record/"
            + substring_after(http_uri, "10.5281/zenodo.")
            + "/files/figure.png"
        )
    return URI(http_uri)


# --------------------------------------------------------------------------
# Publication URI  (gg2rdf.ts:1422-1452)
# --------------------------------------------------------------------------


def escape_doi(uri: str) -> str:
    """gg2rdf.ts:1444-1452."""
    return URI(
        uri.replace("https://", "http://", 1).replace(
            "http://dx.doi.org/", "http://doi.org/", 1
        )
    )


def publication_uri(doc_attrs: Mapping[str, str]) -> str:
    """gg2rdf.ts:1422-1442 — DOI/publication URI priority chain."""
    doi_id = doc_attrs.get("ID-DOI")
    if not doi_id:
        return URI(
            "http://publication.plazi.org/id/"
            + partial_uri(doc_attrs.get("masterDocId"))
        )
    if "doi.org" in doi_id:
        return escape_doi(doi_id)
    if not doi_id.startswith("http"):
        return escape_doi(f"http://doi.org/{doi_id}")
    doc_source = doc_attrs.get("docSource")
    if doc_source and "doi.org" in doc_source:
        return escape_doi(doc_source)
    return escape_doi(f"http://doi.org/{doi_id}")


# --------------------------------------------------------------------------
# ISO 639-3 → 639-1  (deps.ts:14; npm iso-639-3 public data, subset)
# --------------------------------------------------------------------------

ISO6393_TO_1: dict[str, str] = {
    "aar": "aa", "abk": "ab", "afr": "af", "aka": "ak", "amh": "am",
    "ara": "ar", "asm": "as", "aze": "az", "bel": "be", "ben": "bn",
    "bod": "bo", "bos": "bs", "bul": "bg", "cat": "ca", "ces": "cs",
    "cym": "cy", "dan": "da", "deu": "de", "div": "dv", "ell": "el",
    "eng": "en", "epo": "eo", "est": "et", "eus": "eu", "fas": "fa",
    "fin": "fi", "fra": "fr", "gle": "ga", "glg": "gl", "guj": "gu",
    "hat": "ht", "hau": "ha", "heb": "he", "hin": "hi", "hrv": "hr",
    "hun": "hu", "hye": "hy", "ind": "id", "isl": "is", "ita": "it",
    "jav": "jv", "jpn": "ja", "kan": "kn", "kat": "ka", "kaz": "kk",
    "khm": "km", "kir": "ky", "kor": "ko", "kur": "ku", "lao": "lo",
    "lat": "la", "lav": "lv", "lit": "lt", "mal": "ml", "mar": "mr",
    "mkd": "mk", "mlg": "mg", "mon": "mn", "msa": "ms", "mya": "my",
    "nep": "ne", "nld": "nl", "nor": "no", "orm": "om", "pan": "pa",
    "pol": "pl", "por": "pt", "pus": "ps", "ron": "ro", "rus": "ru",
    "sin": "si", "slk": "sk", "slv": "sl", "som": "so", "spa": "es",
    "sqi": "sq", "srp": "sr", "swa": "sw", "swe": "sv", "tam": "ta",
    "tel": "te", "tgl": "tl", "tha": "th", "tur": "tr", "ukr": "uk",
    "urd": "ur", "uzb": "uz", "vie": "vi", "yor": "yo", "zho": "zh",
    "zul": "zu",
}
