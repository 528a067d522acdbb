"""Recipe-SQL oracles for the flagship pipeline outputs.

The corpus is generated by pure SQL over ``doc_id``
(``synthsql.recipe_cte``), so the pipeline's per-predicate triple
counts and per-conversation status are *deterministic functions of the
recipe picks*.  This module reconstructs them in standalone DuckDB SQL
— emitting one row per candidate (conv, subj, pred, obj) from every
reference emission site (gg2rdf.ts:235-391 treatment, :463-606
concepts, :843-963 name recursion, :969-1055 publication, :1057-1144
citation fold, :393-454 figures, :773-836 materials) and then applying
the reference's Set semantics as ``SELECT DISTINCT``.  This is an
independent ground-truth reconstruction (recipe arithmetic → expected
output), not a port of the pipeline.

Encodings: subjects/objects are real-ish URI/value strings — they only
need to be *collision-faithful* (equal exactly when the reference's
strings are equal), which the clean generator vocabulary guarantees.

Scale note: the oracle runs only in the DuckDB correctness gate at
sf0.01; the Spark side never touches this SQL.
"""

from __future__ import annotations

from .synthsql import recipe_cte

NAME = "'http://taxon-name.plazi.org/id/'"
CONC = "'http://taxon-concept.plazi.org/id/'"

# ---- shared scalar fragments (over the recipe row) -------------------------

YR = "cast(yr as varchar)"
DOC7 = "lpad(cast(doc_id as varchar), 7, '0')"
G_ATTR = "(CASE WHEN err = 4 THEN 'T.' ELSE g END)"
G_PATH = "(CASE WHEN err = 4 THEN 'T' ELSE g END)"
BASE_T = "coalesce(kingdom, 'INVALID')"
K_C = "coalesce(kingdom, 'Animalia')"


def _name(base: str, path: str) -> str:
    if path == "''":
        return f"{NAME} || {base}"
    return f"{NAME} || {base} || '/' || {path}"


def _conc(base: str, path: str) -> str:
    return f"{CONC} || {base} || '/' || {path}"


def _derived_cte(source: str) -> str:
    """r → d3: recipe + per-unit branch/identity/emission columns.

    Nested (no lateral column aliases — DuckDB 1.0 portability)."""
    # d0: resolve unit identities (c1 duplicates c0 when c1_dup=1,
    # synthsql._turn4_text) + treatment-side scalars
    unit0 = (
        "c0_scen AS scen_0, c0_g AS cg_0, c0_sp AS csp_0, "
        "c0_sur AS csur_0, c0_yr AS cyr_0"
    )
    unit1 = (
        "(CASE WHEN c1_dup = 1 THEN c0_scen ELSE c1_scen_raw END) AS scen_1, "
        "(CASE WHEN c1_dup = 1 THEN c0_g ELSE c1_g END) AS cg_1, "
        "(CASE WHEN c1_dup = 1 THEN c0_sp ELSE c1_sp END) AS csp_1, "
        "(CASE WHEN c1_dup = 1 THEN c0_sur ELSE c1_sur END) AS csur_1, "
        "(CASE WHEN c1_dup = 1 THEN c0_yr ELSE c1_yr END) AS cyr_1"
    )
    d0 = f"""
SELECT r.*, {unit0}, {unit1},
  (err >= 4) AS cp,
  (a_style = 4 AND status_style = 1) AS inv_auth_t,
  (err >= 4 AND NOT (a_style = 4 AND status_style = 1)) AS conc_ok_t,
  (CASE WHEN a_style <> 4 AND has_year = 0 AND status_style = 1
        THEN '' ELSE {YR} END) AS t_year,
  (CASE a_style WHEN 0 THEN surname
        WHEN 1 THEN surname || ' & ' || surname2
        WHEN 2 THEN upper(surname)
        WHEN 3 THEN 'A. B. ' || surname END) AS tt_authname,
  (CASE WHEN a_style IN (1, 4) THEN surname || ' & ' || surname2
        ELSE surname END
   || CASE WHEN NOT (a_style <> 4 AND has_year = 0 AND status_style = 1)
           THEN ', ' || {YR} ELSE '' END) AS t_auth_str,
  {_name(BASE_T, f"{G_PATH} || '_' || "
                 f"(CASE WHEN err = 2 THEN '6' || sp ELSE sp END)")} AS tn_t,
  {_conc(BASE_T, f"{G_PATH} || '_' || sp || '_' || surname || '_' || "
                 f"(CASE WHEN a_style <> 4 AND has_year = 0 "
                 f"AND status_style = 1 THEN '' ELSE {YR} END)")} AS tc_t
FROM r
"""
    # d1: per-unit branch flags + concept/name identities
    per_unit = []
    for i in (0, 1):
        s, cg, csp, csur, cyr = (
            f"scen_{i}", f"cg_{i}", f"csp_{i}", f"csur_{i}", f"cyr_{i}"
        )
        # err=0 → missing <document> → the transform fails before any
        # citation is processed (gg2rdf.ts:76-80)
        ex = f"(n_cit >= {i + 1} AND err <> 0)"
        err_i = (
            f"({ex} AND err = 3 AND {s} = 3 AND NOT (kingdom IS NOT NULL "
            f"AND a_style <> 4 AND has_year = 1))"
        )
        ri_i = f"({ex} AND NOT {err_i} AND {s} = 3 AND kingdom IS NULL)"
        inv_i = (
            f"({ex} AND NOT {err_i} AND NOT {ri_i} "
            f"AND ({s} = 2 OR ({s} = 3 AND a_style = 4)))"
        )
        # CITES: tt missing (err=1) or the err=3 own-parent-species rule
        # (gg2rdf.ts:1189-1196: c.rank='species', t.rank missing)
        cites_i = (
            f"({ex} AND NOT {err_i} AND NOT {ri_i} AND NOT {inv_i} AND ("
            f"err = 1 OR (err = 3 AND (({s} IN (0, 1) AND {cg} = g "
            f"AND {csp} = sp) OR ({s} = 4 AND {csp} = sp)))))"
        )
        same_i = (
            f"({ex} AND NOT {err_i} AND NOT {ri_i} AND NOT {inv_i} "
            f"AND NOT {cites_i} AND ("
            f"({s} = 0 AND a_style = 0 AND has_year = 1 AND {cyr} = yr "
            f"AND {csur} = surname AND {cg} = g AND {csp} = sp AND err >= 5)"
            f" OR ({s} = 3 AND has_year = 1 AND err <> 1)"
            f" OR ({s} = 4 AND a_style = 0 AND has_year = 1 AND {cyr} = yr "
            f"AND {csur} = surname AND {csp} = sp AND err >= 5)))"
        )
        dep_i = (
            f"({ex} AND NOT {err_i} AND NOT {ri_i} AND NOT {inv_i} "
            f"AND NOT {cites_i} AND NOT {same_i})"
        )
        kc = f"(CASE WHEN {s} = 3 THEN kingdom ELSE {K_C} END)"
        cgat = f"(CASE WHEN {s} = 3 THEN {G_ATTR} WHEN {s} = 4 THEN g ELSE {cg} END)"
        cgp = f"(CASE WHEN {s} = 3 THEN {G_PATH} WHEN {s} = 4 THEN g ELSE {cg} END)"
        cspat = f"(CASE WHEN {s} = 3 THEN (CASE WHEN err = 2 THEN '6 ' || sp || '?' ELSE sp END) ELSE {csp} END)"
        cspp = f"(CASE WHEN {s} = 3 THEN (CASE WHEN err = 2 THEN '6' || sp ELSE sp END) ELSE {csp} END)"
        cname = f"(CASE WHEN {s} = 3 THEN surname ELSE {csur} END)"
        cyear = (
            f"(CASE WHEN {s} IN (0, 4) THEN cast({cyr} as varchar) "
            f"WHEN {s} = 3 AND has_year = 1 THEN {YR} ELSE '' END)"
        )
        castr = (
            f"(CASE WHEN {s} IN (0, 4) THEN {csur} || ', ' || cast({cyr} as varchar) "
            f"WHEN {s} = 1 THEN {csur} "
            f"ELSE (CASE WHEN a_style = 1 THEN surname || ' & ' || surname2 "
            f"ELSE surname END) || (CASE WHEN has_year = 1 "
            f"THEN ', ' || {YR} ELSE '' END) END)"
        )
        path = f"{cgp} || '_' || {cspp}"
        cpath = f"{path} || '_' || {cname} || '_' || {cyear}"
        inv_path = f"{cg} || '_' || {csp}"
        empty = "''"
        per_unit += [
            f"{err_i} AS err_{i}",
            f"{ri_i} AS ri_{i}",
            f"{inv_i} AS inv_{i}",
            f"{cites_i} AS cites_{i}",
            f"{same_i} AS same_{i}",
            f"{dep_i} AS dep_{i}",
            f"{kc} AS kc_{i}",
            f"{cgat} AS cgat_{i}",
            f"{cspat} AS cspat_{i}",
            f"{cname} AS cname_{i}",
            f"{cyear} AS cyear_{i}",
            f"{castr} AS castr_{i}",
            f"{_name(kc, cgp)} AS ng_{i}",
            f"{_name(kc, path)} AS nsp_{i}",
            f"{_name(kc, empty)} AS nk_{i}",
            f"{_conc(kc, cpath)} AS tc_{i}",
            f"(CASE WHEN {s} = 2 THEN {_name(K_C, inv_path)} "
            f"ELSE tn_t END) AS tninv_{i}",
        ]
    d1 = "SELECT d0.*, " + ", ".join(per_unit) + " FROM d0"
    # d2: fold emission flags (alreadyCited, gg2rdf.ts:1102-1143; seeds
    # :278-280; deprecates self-skip :1131-1133)
    d2 = """
SELECT d1.*,
  (inv_0 AND NOT (cp AND tninv_0 = tn_t)) AS inv_emit_0,
  cites_0 AS cites_emit_0,
  (dep_0 AND NOT (conc_ok_t AND tc_0 = tc_t)) AS dep_emit_0,
  -- deprecates self-skip returns BEFORE already_cited.add (ts:1131-1137)
  (cites_0 OR (dep_0 AND NOT (conc_ok_t AND tc_0 = tc_t))
           OR (inv_0 AND NOT (cp AND tninv_0 = tn_t))) AS tn0_added,
  (CASE WHEN cites_0 OR dep_0 THEN nsp_0
        WHEN inv_0 THEN tninv_0 END) AS tn0_val
FROM d1
"""
    d3 = """
SELECT d2.*,
  (inv_1 AND NOT (cp AND tninv_1 = tn_t)
         AND NOT (tn0_added AND tninv_1 = tn0_val)) AS inv_emit_1,
  (cites_1 AND NOT (tn0_added AND nsp_1 = tn0_val AND cyear_1 = '')
           AND NOT (dep_emit_0 AND tc_1 = tc_0)) AS cites_emit_1,
  (dep_1 AND NOT (conc_ok_t AND tc_1 = tc_t)) AS dep_emit_1
FROM d2
"""
    return (
        f"WITH r AS ({recipe_cte(source)}),\n"
        f"d0 AS ({d0}),\nd1 AS ({d1}),\nd2 AS ({d2}),\nd3 AS ({d3})"
    )


# ---------------------------------------------------------------------------
# emissions
# ---------------------------------------------------------------------------


def _emissions() -> list[str]:
    """One SELECT per emission site over d3 → (conv_id, subj, pred, obj)."""
    E: list[str] = []

    def add(subj: str, pred: str, obj: str, cond: str = "TRUE"):
        E.append(
            f"SELECT conv_id, {subj} AS subj, {pred} AS pred, {obj} AS obj "
            f"FROM d3 WHERE {cond}"
        )

    HD = "err <> 0"  # document present

    # ---- raw comment lines (gg2rdf.ts:76-80, :140-155) ---------------
    add("''", "'#'", "'missing-document'", "err = 0")
    add("''", "'#'", "'lacking-taxon'", "err = 1")
    add("''", "'#'", "'missing-kingdom'", "kingdom IS NULL AND err >= 2")

    # ---- treatment subject (gg2rdf.ts:235-391) ------------------------
    add("'T'", "'# Warning: Could not add treatment taxon because'",
        "'sigEpithet'", "err = 2")
    add("'T'", "'# Warning: Could not add treatment taxon because'",
        "'rank-missing'", "err = 3")
    add("'T'", "'trt:treatsTaxonName'", "tn_t", "cp AND NOT conc_ok_t")
    add("'T'",
        "(CASE WHEN status_style = 1 THEN 'trt:deprecates' "
        "ELSE 'trt:definesTaxonConcept' END)",
        "tc_t", "conc_ok_t")
    add("'T'", "'dc:title'", "'doc-title'", HD)
    add("'T'", "'dc:creator'", "'authors'", HD)
    add("'T'", "'trt:publishedIn'", "'pub'", HD)
    add("'T'", "'a'", "'trt:Treatment'", HD)

    # fold emissions (alreadyCited, gg2rdf.ts:1102-1143)
    for i in (0, 1):
        add("'T'", "'# Error:'", "'tc-citation-error'", f"err_{i}")
        add("'T'", "'# Warning:'",
            f"(CASE WHEN a_style = 4 THEN 'ri-tn|' ELSE 'ri-tc|' END)"
            f" || {G_PATH} || '_' || sp"
            f" || (CASE WHEN a_style = 4 THEN '' ELSE '|' || surname || '|' ||"
            f" (CASE WHEN has_year = 1 THEN {YR} ELSE '' END) END)",
            f"ri_{i}")
        add("'T'", "'trt:citesTaxonName'", f"tninv_{i}", f"inv_emit_{i}")
        # D4 (ts:377-388): a cito:cites object also deprecated in the
        # same conversation is removed at assembly
        other = 1 - i
        add("'T'", "'cito:cites'", f"tc_{i}",
            f"cites_emit_{i} AND NOT (dep_emit_{other} AND tc_{other} = tc_{i})")
        add("'T'", "'trt:deprecates'", f"tc_{i}", f"dep_emit_{i}")

    # ---- materials (gg2rdf.ts:773-836) --------------------------------
    mat_subj = {}
    for j in (0, 1):
        n = f"cast(100000 + (doc_id * 11 + {j} * 17) % 900000 as varchar)"
        style = f"((mat_style + {j}) % 3)"
        subj = (
            f"(CASE {style}"
            f" WHEN 0 THEN 'http://tb.plazi.org/GgServer/dwcaRecords/TT' || {DOC7}"
            f"   || '.mc.m{j}X' || {n}"
            f" WHEN 1 THEN 'https://www.gbif.org/occurrence/' || {n}"
            f" ELSE 'http://treatment.plazi.org/id/TT' || {DOC7}"
            f"   || '/ZMB_' || {n} END)"
        )
        mat_subj[j] = subj
        cond = f"{HD} AND n_mats >= {j + 1}"
        add(subj, "'dwc:catalogNumber'", f"'ZMB ' || {n}", cond)
        add(subj, "'dwc:collectionCode'", "'ZMB'", cond)
        add(subj, "'dwc:typeStatus'", "'holotype'", cond)
        add(subj, "'dwc:verbatimLatitude'", "'23.75'", cond)
        add(subj, "'dwc:verbatimLongitude'", "'106.59'", cond)
        add(subj, "'dwc:countryCode'", "'China'", cond)
        add(subj, "'dwc:recordedBy'", "surname", cond)
        add(subj, "'dwc:eventDate'", f"{YR} || '-06-0{j + 1}'", cond)
        add(subj, "'trt:gbifOccurrenceId'", n, f"{cond} AND {style} = 1")
        add(subj, "'trt:httpUri'",
            f"'https://treatment.plazi.org/id/TT' || {DOC7} || '#m{j}X' || {n}",
            f"{cond} AND {style} = 0")
        add(subj, "'a'", "'dwc:MaterialCitation'", cond)
    add("'T'", "'dwc:basisOfRecord'",
        f"{mat_subj[0]} || (CASE WHEN n_mats >= 2 THEN ', ' || {mat_subj[1]} "
        f"ELSE '' END)",
        f"{HD} AND n_mats >= 1")

    # ---- figures (gg2rdf.ts:393-454) -----------------------------------
    fig_subj = {}
    for j in (0, 1):
        rec = f"cast(10000 + (doc_id * 7 + {j} * 13) % 90000 as varchar)"
        subj = f"'http://dx.doi.org/10.5281/zenodo.' || {rec}"
        fig_subj[j] = subj
        cond = (
            f"{HD} AND n_figs >= {j + 1}"
            + (" AND fig_dup = 0" if j == 1 else "")
        )
        rep = (
            f"(CASE (fig_style + {j}) % 2"
            f" WHEN 0 THEN 'https://zenodo.org/record/' || {rec}"
            f"   || '/files/figure{j}.png'"
            f" ELSE 'https://zenodo.org/record/' || {rec}"
            f"   || '/files/figure.png' END)"
        )
        add(subj, "'dc:description'", f"'FIGURE {j + 1}. Habitus, dorsal view'",
            cond)
        add(subj, "'fabio:hasRepresentation'", rep, cond)
        add(subj, "'a'", "'fabio:Figure'", cond)
    fig_join = (
        f"{fig_subj[0]} || (CASE WHEN n_figs >= 2 AND fig_dup = 0 "
        f"THEN ', ' || {fig_subj[1]} ELSE '' END)"
    )
    add("'T'", "'cito:cites'", fig_join, f"{HD} AND n_figs >= 1")
    add("'P'", "'fabio:hasPart'", fig_join, f"{HD} AND n_figs >= 1")

    # ---- publication subject (gg2rdf.ts:969-1055) ----------------------
    add("'P'", "'dc:title'", "'mods-title'", HD)
    add("'P'", "'dc:creator'", "'authors'", HD)
    add("'P'", "'dc:date'", "'mods-date'", HD)
    jr = f"{HD} AND cls_style <= 6"
    ch = f"{HD} AND cls_style IN (7, 8)"
    add("'P'", "'bibo:journal'", "'journal'", jr)
    add("'P'", "'bibo:volume'", "'vol'", jr)
    add("'P'", "'bibo:startPage'", "'sp'", f"({jr}) OR ({ch})")
    add("'P'", "'bibo:endPage'", "'ep'", f"({jr}) OR ({ch})")
    add("'P'", "'a'",
        "(CASE WHEN cls_style <= 6 THEN 'fabio:JournalArticle' "
        "WHEN cls_style <= 8 THEN 'fabio:BookSection' ELSE 'fabio:Book' END)",
        HD)

    # ---- treatment taxon concept (gg2rdf.ts:463-606) -------------------
    ct = "conc_ok_t"
    add("tc_t", "'trt:hasTaxonName'", "tn_t", ct)
    add("tc_t", "'dwc:rank'", "'species'", ct)
    add("tc_t", "'dwc:kingdom'", "kingdom", f"{ct} AND kingdom IS NOT NULL")
    add("tc_t", "'dwc:phylum'", "phy", ct)
    add("tc_t", "'dwc:class'", "cls_", ct)
    add("tc_t", "'dwc:order'", "ordr", ct)
    add("tc_t", "'dwc:family'", "fam", ct)
    add("tc_t", "'dwc:genus'", G_ATTR, ct)
    add("tc_t", "'dwc:species'", "sp", ct)
    add("tc_t", "'dwc:authorityName'", "tt_authname", f"{ct} AND a_style <> 4")
    add("tc_t", "'dwc:authorityYear'", YR,
        f"{ct} AND a_style <> 4 AND has_year = 1")
    add("tc_t", "'# Warning:'", "'Using document metadata for authority year'",
        f"{ct} AND a_style <> 4 AND has_year = 0 AND status_style <> 1")
    # docAuthor fallback (gg2rdf.ts:715-741)
    fb = f"{ct} AND a_style = 4"
    add("tc_t", "'dwc:authority'", "surname || ' & ' || surname2 || ', ' || "
        + YR, fb)
    add("tc_t", "'dwc:authorityName'", "surname || ' & ' || surname2", fb)
    add("tc_t", "'dwc:authorityYear'", YR, fb)
    add("tc_t", "'# Info:'", "'authority attributes generated from docAuthor'",
        fb)
    add("tc_t", "'a'", "'dwcFP:TaxonConcept'", ct)

    # ---- citation concepts (cites + deprecates branches) ---------------
    for i in (0, 1):
        cc = f"(cites_{i} OR dep_{i})"
        s = f"scen_{i}"
        add(f"tc_{i}", "'trt:hasTaxonName'", f"nsp_{i}", cc)
        add(f"tc_{i}", "'dwc:rank'", "'species'", cc)
        add(f"tc_{i}", "'dwc:kingdom'", f"kc_{i}", cc)
        add(f"tc_{i}", "'dwc:genus'", f"cgat_{i}", cc)
        add(f"tc_{i}", "'dwc:species'", f"cspat_{i}", cc)
        add(f"tc_{i}", "'dwc:authorityName'",
            f"(CASE WHEN {s} = 3 THEN tt_authname ELSE csur_{i} END)",
            f"{cc} AND NOT ({s} = 2)")
        add(f"tc_{i}", "'dwc:authorityYear'",
            f"(CASE WHEN {s} = 3 THEN {YR} ELSE cast(cyr_{i} as varchar) END)",
            f"{cc} AND ({s} IN (0, 4) OR ({s} = 3 AND has_year = 1))")
        add(f"tc_{i}", "'a'", "'dwcFP:TaxonConcept'", cc)

    # ---- taxon-name chains (gg2rdf.ts:843-963) --------------------------
    # treatment chain, kingdom present: 7 levels
    kp = "cp AND kingdom IS NOT NULL"
    tn = lambda p: _name("kingdom", p)  # noqa: E731
    root = tn(f"{G_PATH} || '_' || sp")
    lvls = [
        (root, [("'dwc:kingdom'", "kingdom"), ("'dwc:phylum'", "phy"),
                ("'dwc:class'", "cls_"), ("'dwc:order'", "ordr"),
                ("'dwc:family'", "fam"), ("'dwc:genus'", G_ATTR),
                ("'dwc:species'", "sp"), ("'dwc:rank'", "'species'"),
                ("'trt:hasParentName'", tn(G_PATH))]),
        (tn(G_PATH), [("'dwc:genus'", G_ATTR), ("'dwc:kingdom'", "kingdom"),
                      ("'dwc:rank'", "'genus'"),
                      ("'trt:hasParentName'", tn("fam"))]),
        (tn("fam"), [("'dwc:family'", "fam"), ("'dwc:kingdom'", "kingdom"),
                     ("'dwc:rank'", "'family'"),
                     ("'trt:hasParentName'", tn("ordr"))]),
        (tn("ordr"), [("'dwc:order'", "ordr"), ("'dwc:kingdom'", "kingdom"),
                      ("'dwc:rank'", "'order'"),
                      ("'trt:hasParentName'", tn("cls_"))]),
        (tn("cls_"), [("'dwc:class'", "cls_"), ("'dwc:kingdom'", "kingdom"),
                      ("'dwc:rank'", "'class'"),
                      ("'trt:hasParentName'", tn("phy"))]),
        (tn("phy"), [("'dwc:phylum'", "phy"), ("'dwc:kingdom'", "kingdom"),
                     ("'dwc:rank'", "'phylum'"),
                     ("'trt:hasParentName'", tn("''"))]),
        (tn("''"), [("'dwc:kingdom'", "kingdom"),
                    ("'dwc:rank'", "'kingdom'")]),
    ]
    for subj, props in lvls:
        for pred, obj in props:
            add(subj, pred, obj, kp)
        add(subj, "'a'", "'dwcFP:TaxonName'", kp)
    add(root, "'# Warning:'", "'abbreviated genus \"T.\"'",
        f"{kp} AND err = 4")

    # treatment chain, kingdom NULL: 6 levels under INVALID; the
    # phylum-limit call collides with the root (taxonNameForURI's
    # `indexOf > 0` vs makeTaxonName's `>= 0`, gg2rdf.ts:1291 vs :885),
    # so the root carries the parent-name warning and /phy's parent IS
    # the root.
    kn = "cp AND kingdom IS NULL"
    inv = lambda p: _name("'INVALID'", p)  # noqa: E731
    iroot = inv(f"{G_PATH} || '_' || sp")
    ilvls = [
        (iroot, [("'dwc:phylum'", "phy"), ("'dwc:class'", "cls_"),
                 ("'dwc:order'", "ordr"), ("'dwc:family'", "fam"),
                 ("'dwc:genus'", G_ATTR), ("'dwc:species'", "sp"),
                 ("'dwc:rank'", "'species'"),
                 ("'trt:hasParentName'", inv(G_PATH)),
                 ("'# Warning:'", "'Could not determine parent name'")]),
        (inv(G_PATH), [("'dwc:genus'", G_ATTR), ("'dwc:rank'", "'genus'"),
                       ("'trt:hasParentName'", inv("fam"))]),
        (inv("fam"), [("'dwc:family'", "fam"), ("'dwc:rank'", "'family'"),
                      ("'trt:hasParentName'", inv("ordr"))]),
        (inv("ordr"), [("'dwc:order'", "ordr"), ("'dwc:rank'", "'order'"),
                       ("'trt:hasParentName'", inv("cls_"))]),
        (inv("cls_"), [("'dwc:class'", "cls_"), ("'dwc:rank'", "'class'"),
                       ("'trt:hasParentName'", inv("phy"))]),
        (inv("phy"), [("'dwc:phylum'", "phy"), ("'dwc:rank'", "'phylum'"),
                      ("'trt:hasParentName'", iroot)]),
    ]
    for subj, props in ilvls:
        for pred, obj in props:
            add(subj, pred, obj, kn)
        add(subj, "'a'", "'dwcFP:TaxonName'", kn)
    add(iroot, "'# Warning:'", "'abbreviated genus \"T.\"'",
        f"{kn} AND err = 4")

    # deprecates-branch chains: 3 levels (kingdom+genus+species attrs)
    for i in (0, 1):
        dc = f"dep_{i}"
        for subj, props in [
            (f"nsp_{i}", [("'dwc:kingdom'", f"kc_{i}"),
                          ("'dwc:genus'", f"cgat_{i}"),
                          ("'dwc:species'", f"cspat_{i}"),
                          ("'dwc:rank'", "'species'"),
                          ("'trt:hasParentName'", f"ng_{i}")]),
            (f"ng_{i}", [("'dwc:genus'", f"cgat_{i}"),
                         ("'dwc:kingdom'", f"kc_{i}"),
                         ("'dwc:rank'", "'genus'"),
                         ("'trt:hasParentName'", f"nk_{i}")]),
            (f"nk_{i}", [("'dwc:kingdom'", f"kc_{i}"),
                         ("'dwc:rank'", "'kingdom'")]),
        ]:
            for pred, obj in props:
                add(subj, pred, obj, dc)
            add(subj, "'a'", "'dwcFP:TaxonName'", dc)
        add(f"nsp_{i}", "'# Warning:'", "'abbreviated genus \"T.\"'",
            f"{dc} AND scen_{i} = 3 AND err = 4")

    # vernacular names on the treatment taxon name (gg2rdf.ts:282-315)
    vc = "cp AND has_vern = 1"
    add("tn_t", "'dwc:vernacularName'",
        "vern || (CASE vern_lang WHEN 'eng' THEN '@en' WHEN 'deu' THEN '@de' "
        "WHEN 'fra' THEN '@fr' ELSE '' END)", vc)
    add("tn_t", "'# Info:'", "'no-lang-tag|' || vern",
        f"{vc} AND vern_lang = 'qqx'")
    return E


def _auth_cte() -> str:
    """dwc:scientificNameAuthorship is first-call-wins per concept URI
    (gg2rdf.ts:555-558): emit candidates with call order, keep min."""
    rows = [
        "SELECT conv_id, tc_t AS subj, 0 AS ord, t_auth_str AS obj "
        "FROM d3 WHERE conc_ok_t",
    ]
    for i in (0, 1):
        rows.append(
            f"SELECT conv_id, tc_{i} AS subj, {i + 1} AS ord, "
            f"castr_{i} AS obj FROM d3 WHERE cites_{i} OR dep_{i}"
        )
    return (
        "SELECT conv_id, subj, 'dwc:scientificNameAuthorship' AS pred, "
        "arg_min(obj, ord) AS obj FROM ("
        + " UNION ALL ".join(rows)
        + ") GROUP BY conv_id, subj"
    )


def kg_triples_by_pred_sql(source: str = "documents",
                           per_conv: bool = False) -> str:
    e = " UNION ALL ".join(_emissions())
    final = (
        "SELECT conv_id, pred, count(*) AS n FROM u GROUP BY conv_id, pred"
        if per_conv
        else "SELECT pred, count(*) AS n FROM u GROUP BY pred"
    )
    return f"""
{_derived_cte(source)},
e AS ({e}),
auth AS ({_auth_cte()}),
u AS (SELECT DISTINCT conv_id, subj, pred, obj FROM
      (SELECT * FROM e UNION ALL SELECT * FROM auth))
{final}
"""


def kg_status_counts_sql(source: str = "documents",
                         per_conv: bool = False) -> str:
    """Status max-aggregate (gg2rdf.ts:45-50): failed ≺ errors ≺
    warnings — see VERDICT round-1 item 1 for why this is recipe-SQL
    expressible.  Warning sources in this corpus: missing kingdom,
    epithet errors (err 2/3), abbreviated genus (err 4), Invalid
    Authority (docAuthor-less nomen dubium); error sources: missing
    taxon (err 1), citation TaxonNameURIError (err-3 mirrors)."""
    sel = "conv_id, status" if per_conv else (
        "status, count(*) AS n"
    )
    grp = "" if per_conv else "GROUP BY status"
    return f"""
{_derived_cte(source)}
SELECT {sel} FROM (
  SELECT conv_id, (CASE WHEN err = 0 THEN 3
               WHEN err = 1 OR err_0 OR err_1 THEN 2
               WHEN kingdom IS NULL OR err IN (2, 3, 4)
                    OR (a_style = 4 AND status_style = 1) THEN 1
               ELSE 0 END) AS status
  FROM d3) {grp}
"""


def kg_ttl_convs_sql(source: str = "documents") -> str:
    """Conversation universe of the Turtle sink — every conversation
    that emits at least one triple gets exactly one .ttl document
    (KGPipeline.turtle keeps the conversations with triples).  The
    ttl_validate driver query pairs this with n_errors = 0: the Spark
    side RUNS the pure-Python Turtle validator (functions/ttl_check.py,
    the `riot --validate` analog of reference
    src/validate_everything.bash:6-10) over real serializer output, so
    any malformed document breaks the value hash."""
    e = " UNION ALL ".join(_emissions())
    return f"""
{_derived_cte(source)},
e AS ({e}),
auth AS ({_auth_cte()}),
u AS (SELECT DISTINCT conv_id FROM
      (SELECT conv_id FROM e UNION ALL SELECT conv_id FROM auth))
SELECT conv_id, 0 AS n_errors FROM u
"""


def linking_sql(source: str = "documents") -> str:
    """Expected entity links (``linking.link_mentions`` against
    ``linking.entity_dictionary``): one exact-match row per
    conversation whose nomenclature taxon carries a clean pool genus
    and species.  Err 1 has no taxon; err 2 and err 4 mangle the
    species or the genus, so their key misses the dictionary."""
    return f"""
WITH r AS ({recipe_cte(source)})
SELECT conv_id,
  lower(g || ' ' || sp) AS name_key,
  'http://taxon-name.plazi.org/id/Animalia/' || g || '_' || sp AS entity_id,
  1.0 AS score
FROM r WHERE err NOT IN (1, 2, 4)
"""
