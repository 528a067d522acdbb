"""Engine-portable SQL definition of the bulk transcripts corpus.

The driver's correctness gate runs our Spark queries against DuckDB
oracles on the same parquet tables (``__spark_entry__.py``).  For the
KG pipeline the *input* itself must therefore be derivable on both
engines: this module emits one SQL string (ANSI subset that runs
unchanged on Spark SQL and DuckDB except a one-function timestamp
shim) that deterministically expands ``documents.doc_id`` into a
``(conv_id, turn_idx, role, text, tool, ts)`` transcripts table in the
BASELINE.json ``input_hint`` shape, with mention markup per
FIXTURES.md §1.1.

Every stochastic choice is ``pick(k, n) = ((doc_id+1) * C_k) %
2147483647 % n`` — integer arithmetic, portable, seedless.  The same
picks are reused by the oracle SQL in ``__spark_entry__.py`` to
*independently* reconstruct expected extraction results (a
ground-truth oracle for the mention parser rather than a parallel
implementation of it).

Scale note: the template only consumes ``doc_id``; for benchmarks the
source relation is ``range(N)`` (``SELECT id AS doc_id FROM range(N)``),
so the corpus scales to arbitrary conversation counts engine-side with
no Python in the loop.
"""

from __future__ import annotations

P = 2147483647

GENUS = ["Saigona", "Drosophila", "Carabus", "Quercus", "Bembidion",
         "Papilio", "Aster", "Rana", "Salmo", "Felis", "Pinus", "Lycaena"]
SPECIES = ["baiseensis", "montanus", "alpina", "sylvatica", "punctatus",
           "viridis", "elegans", "minor", "majus", "robustus", "gracilis",
           "obscurus", "nigra", "alba", "rufus", "communis"]
FAMILY = ["Carabidae", "Fagaceae", "Asteraceae", "Salmonidae",
          "Pieridae", "Pinaceae"]
ORDER = ["Coleoptera", "Fagales", "Asterales", "Salmoniformes",
         "Lepidoptera", "Pinales"]
CLASSES = ["Insecta", "Magnoliopsida", "Actinopterygii", "Pinopsida"]
PHYLUM = ["Arthropoda", "Tracheophyta", "Chordata"]
SURNAME = ["Smith", "Jones", "Miller", "Zhang", "Garcia", "Dubois",
           "Chen", "Novak", "Rossi", "Tanaka"]
JOURNAL = ["Zootaxa", "ZooKeys", "Phytotaxa", "EJT"]

# pick() field indices — keep stable; oracle SQL depends on them
K = dict(
    GENUS=1, SPECIES=2, KINGDOM=3, FAMILY=4, CLASS=5, PHYLUM=6,
    SURNAME=7, YEAR=8, ASTYLE=9, HASYEAR=10, STATUS=11, ERR=12,
    NCIT=14, DOI=15, CLS=16, NFIG=17, FIGSTYLE=18, NMAT=19,
    VERN=20, VERNLANG=21, SURNAME2=22, FIGDUP=23, MATSTYLE=24,
    CIT0=30, CIT1=40,
)


def pick_sql(k: int, n: int, doc: str = "doc_id") -> str:
    # multiplier > P so the mod-P wrap always mixes — a smaller
    # multiplier leaves small doc_ids unwrapped and biases pick % n
    # toward multiples of gcd(C_k, n)
    return f"((({doc} + 1) * {2654435761 + 104730 * k}) % {P} % {n})"


def pool_case(expr: str, values: list[str]) -> str:
    whens = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(values))
    return f"(CASE {expr} {whens} END)"


def recipe_cte(source: str = "documents") -> str:
    """The ``r`` CTE: one row per conversation with all derived picks."""
    cols = [
        "doc_id",
        f"'c' || lpad(cast(doc_id as string), 7, '0') AS conv_id",
        f"{pool_case(pick_sql(K['GENUS'], 12), GENUS)} AS g",
        f"{pool_case(pick_sql(K['SPECIES'], 16), SPECIES)} AS sp",
        f"{pick_sql(K['FAMILY'], 6)} AS fam_i",
        f"{pool_case(pick_sql(K['CLASS'], 4), CLASSES)} AS cls_",
        f"{pool_case(pick_sql(K['PHYLUM'], 3), PHYLUM)} AS phy",
        f"(CASE WHEN {pick_sql(K['KINGDOM'], 10)} <= 5 THEN 'Animalia' "
        f"WHEN {pick_sql(K['KINGDOM'], 10)} <= 8 THEN 'Plantae' "
        f"ELSE NULL END) AS kingdom",
        f"{pool_case(pick_sql(K['SURNAME'], 10), SURNAME)} AS surname",
        f"{pool_case(pick_sql(K['SURNAME2'], 10), SURNAME)} AS surname2",
        f"(1900 + {pick_sql(K['YEAR'], 120)}) AS yr",
        f"{pick_sql(K['ASTYLE'], 5)} AS a_style",
        f"(CASE WHEN {pick_sql(K['HASYEAR'], 4)} > 0 THEN 1 ELSE 0 END) AS has_year",
        f"{pick_sql(K['STATUS'], 3)} AS status_style",
        f"{pick_sql(K['ERR'], 25)} AS err",
        f"{pick_sql(K['NCIT'], 3)} AS n_cit",
        f"{pick_sql(K['DOI'], 4)} AS doi_style",
        f"{pick_sql(K['CLS'], 10)} AS cls_style",
        f"{pick_sql(K['NFIG'], 3)} AS n_figs",
        f"{pick_sql(K['FIGSTYLE'], 2)} AS fig_style",
        f"(CASE WHEN {pick_sql(K['FIGDUP'], 3)} = 0 THEN 1 ELSE 0 END) AS fig_dup",
        f"{pick_sql(K['NMAT'], 3)} AS n_mats",
        f"{pick_sql(K['MATSTYLE'], 3)} AS mat_style",
        f"(CASE WHEN {pick_sql(K['VERN'], 4)} = 0 THEN 1 ELSE 0 END) AS has_vern",
        f"{pool_case(pick_sql(K['VERNLANG'], 4), ['eng', 'deu', 'fra', 'qqx'])} AS vern_lang",
        f"{pool_case(pick_sql(K['VERNLANG'], 4), ['ground beetle', 'mountain oak', 'river trout', 'blue butterfly'])} AS vern",
        # citation scenario + identity picks (2 citations max)
        f"{pick_sql(K['CIT0'], 5)} AS c0_scen",
        f"{pool_case(pick_sql(K['CIT0'] + 2, 12), GENUS)} AS c0_g",
        f"{pool_case(pick_sql(K['CIT0'] + 3, 16), SPECIES)} AS c0_sp",
        f"{pool_case(pick_sql(K['CIT0'] + 4, 10), SURNAME)} AS c0_sur",
        f"(1850 + {pick_sql(K['CIT0'] + 5, 170)}) AS c0_yr",
        f"{pick_sql(K['CIT1'], 5)} AS c1_scen_raw",
        f"(CASE WHEN {pick_sql(K['CIT1'] + 1, 3)} = 0 THEN 1 ELSE 0 END) AS c1_dup",
        f"{pool_case(pick_sql(K['CIT1'] + 2, 12), GENUS)} AS c1_g",
        f"{pool_case(pick_sql(K['CIT1'] + 3, 16), SPECIES)} AS c1_sp",
        f"{pool_case(pick_sql(K['CIT1'] + 4, 10), SURNAME)} AS c1_sur",
        f"(1850 + {pick_sql(K['CIT1'] + 5, 170)}) AS c1_yr",
    ]
    # nest so fam/ordr can reference fam_i portably (no lateral aliases)
    return (
        f"SELECT inner_r.*, "
        f"{pool_case('fam_i', FAMILY)} AS fam, "
        f"{pool_case('fam_i', ORDER)} AS ordr "
        f"FROM (SELECT {', '.join(cols)} "
        f"FROM (SELECT doc_id FROM {source}) AS src) AS inner_r "
    )


# ---- turn text fragments ---------------------------------------------------

_TAXON_ATTRS = (
    "'section=nomenclature'"
    " || (CASE WHEN err = 3 THEN '' ELSE ' rank=species' END)"
    " || (CASE WHEN kingdom IS NULL THEN '' ELSE ' kingdom=' || kingdom END)"
    " || ' phylum=' || phy || ' class=' || cls_ || ' order=' || ordr"
    " || ' family=' || fam"
    " || ' genus=' || (CASE WHEN err = 4 THEN 'T.' ELSE g END)"
    " || (CASE WHEN err = 2 THEN ' species=\"6 ' || sp || '?\"'"
    "          ELSE ' species=' || sp END)"
    # authority styles: 0 plain, 1 '&', 2 CAPS, 3 initials, 4 fallback
    " || (CASE a_style"
    "      WHEN 0 THEN ' authorityName=' || surname"
    "      WHEN 1 THEN ' authorityName=\"' || surname || ' & ' || surname2 || '\"'"
    "      WHEN 2 THEN ' authorityName=' || upper(surname)"
    "      WHEN 3 THEN ' authorityName=\"A. B. ' || surname || '\"'"
    "      ELSE '' END)"
    " || (CASE WHEN a_style <> 4 AND has_year = 1"
    "      THEN ' authorityYear=' || cast(yr as string) ELSE '' END)"
    " || (CASE status_style WHEN 0 THEN ' status=\"sp. nov.\"'"
    "      WHEN 1 THEN ' status=\"nomen dubium\"' ELSE '' END)"
)


def _fig_span(j: str) -> str:
    """Figure span for slot j (SQL int expr); style alternates."""
    rec = f"cast(10000 + (doc_id * 7 + {j} * 13) % 90000 as string)"
    cap = f"'FIGURE ' || cast({j} + 1 as string) || '. Habitus, dorsal view'"
    return (
        f"(CASE (fig_style + {j}) % 2"
        f" WHEN 0 THEN '[[figureCitation httpUri=\"https://zenodo.org/record/'"
        f"   || {rec} || '/files/figure' || cast({j} as string) || '.png\""
        f" captionText=\"' || {cap} || '\"]]'"
        f" ELSE '[[figureCitation httpUri=\"http://dx.doi.org/10.5281/zenodo.'"
        f"   || {rec} || '\" captionText=\"' || {cap} || '\"]]' END)"
    )


def _mat_span(j: str) -> str:
    n = f"cast(100000 + (doc_id * 11 + {j} * 17) % 900000 as string)"
    common = (
        f"'collectionCode=ZMB typeStatus=holotype latitude=23.75"
        f" longitude=106.59 collectingCountry=China collectorName=\"'"
        f" || surname || '\" collectingDate=\"' || cast(yr as string)"
        f" || '-06-0' || cast({j} + 1 as string) || '\"'"
    )
    return (
        f"(CASE (mat_style + {j}) % 3"
        f" WHEN 0 THEN '[[materialsCitation id=m' || cast({j} as string) || 'X' || {n}"
        f"   || ' specimenCode=\"ZMB ' || {n} || '\" ' || {common} || ']]'"
        f" WHEN 1 THEN '[[materialsCitation ID-GBIF-Occurrence=' || {n}"
        f"   || ' specimenCode=\"ZMB ' || {n} || '\" ' || {common} || ']]'"
        f" ELSE '[[materialsCitation specimenCode=\"ZMB ' || {n} || '\" '"
        f"   || {common} || ']]' END)"
    )


def _cit_attrs(scen: str, cg: str, csp: str, csur: str, cyr: str) -> str:
    """Citation attr-string for scenario expr.  Scenarios:
    0 CITES+year · 1 CITES digitless authority · 2 no authority
    (citesTaxonName fallback) · 3 SAME (mirror treatment) ·
    4 DEPRECATES (same genus, other species/authority)."""
    k = "(CASE WHEN kingdom IS NULL THEN 'Animalia' ELSE kingdom END)"
    base = f"'section=reference_group rank=species kingdom=' || {k}"
    treatment_auth = (
        "(CASE a_style"
        " WHEN 0 THEN ' authorityName=' || surname"
        " WHEN 1 THEN ' authorityName=\"' || surname || ' & ' || surname2 || '\"'"
        " WHEN 2 THEN ' authorityName=' || upper(surname)"
        " WHEN 3 THEN ' authorityName=\"A. B. ' || surname || '\"'"
        " ELSE '' END)"
        " || (CASE WHEN a_style <> 4 AND has_year = 1"
        " THEN ' authorityYear=' || cast(yr as string) ELSE '' END)"
    )
    return (
        f"(CASE {scen}"
        f" WHEN 0 THEN {base} || ' genus=' || {cg} || ' species=' || {csp}"
        f"   || ' authorityName=' || {csur}"
        f"   || ' authorityYear=' || cast({cyr} as string)"
        f" WHEN 1 THEN {base} || ' genus=' || {cg} || ' species=' || {csp}"
        f"   || ' authorityName=' || {csur}"
        f" WHEN 2 THEN {base} || ' genus=' || {cg} || ' species=' || {csp}"
        f" WHEN 3 THEN 'section=reference_group'"
        f"   || (CASE WHEN err = 3 THEN '' ELSE ' rank=species' END)"
        f"   || (CASE WHEN kingdom IS NULL THEN '' ELSE ' kingdom=' || kingdom END)"
        f"   || ' genus=' || (CASE WHEN err = 4 THEN 'T.' ELSE g END)"
        f"   || (CASE WHEN err = 2 THEN ' species=\"6 ' || sp || '?\"'"
        f"        ELSE ' species=' || sp END)"
        f"   || {treatment_auth}"
        f" ELSE {base} || ' genus=' || g || ' species=' || {csp}"
        f"   || ' authorityName=' || {csur}"
        f"   || ' authorityYear=' || cast({cyr} as string)"
        f" END)"
    )


def _turn0_text() -> str:
    doc_author = "surname || ', Alex & ' || surname2 || ', Kim'"
    title = "'A new species of ' || g || ' from the Eastern Hills'"
    doi = (
        "(CASE doi_style"
        " WHEN 0 THEN ' ID-DOI=10.11646/zootaxa.'"
        "   || cast(4000 + doc_id % 1000 as string) || '.1.'"
        "   || cast(1 + doc_id % 9 as string)"
        " WHEN 1 THEN ' ID-DOI=\"https://doi.org/10.11646/zootaxa.'"
        "   || cast(4000 + doc_id % 1000 as string) || '.1.'"
        "   || cast(1 + doc_id % 9 as string) || '\"'"
        " WHEN 3 THEN ' ID-DOI=\"http://example.org/pub/'"
        "   || cast(doc_id as string) || '\"'"
        "   || ' docSource=\"https://dx.doi.org/10.5281/src.'"
        "   || cast(doc_id as string) || '\"'"
        " ELSE '' END)"
    )
    mods_tail = (
        "(CASE WHEN cls_style <= 6 THEN ' classification=\"journal article\""
        " journal=\"' || " + pool_case("cls_style % 4", JOURNAL) + " || '\""
        " volume=' || cast(100 + doc_id % 400 as string)"
        " || ' startPage=' || cast(1 + doc_id % 90 as string)"
        " || ' endPage=' || cast(12 + doc_id % 90 as string)"
        " WHEN cls_style <= 8 THEN ' classification=\"book chapter\""
        " startPage=' || cast(1 + doc_id % 90 as string)"
        " || ' endPage=' || cast(12 + doc_id % 90 as string)"
        " ELSE ' classification=book' END)"
    )
    return (
        "(CASE WHEN err = 0 THEN 'Please summarize the new taxon treatment.'"
        " ELSE '[[document docId=TT' || lpad(cast(doc_id as string), 7, '0')"
        f" || ' docAuthor=\"' || {doc_author} || '\"'"
        " || ' docDate=' || cast(yr as string)"
        f" || ' docTitle=\"' || {title} || '\"'"
        " || ' masterDocId=FF' || lpad(cast(doc_id as string), 5, '0')"
        f" || {doi}"
        " || ']] [[mods title=\"' || " + "'A new species of ' || g || ' from the Eastern Hills'" + " || '\""
        " authors=\"' || surname || ', Alex; ' || surname2 || ', Kim\"'"
        " || ' date=' || cast(yr as string)"
        f" || {mods_tail}"
        " || ']] Please analyze this treatment.' END)"
    )


def _turn1_text() -> str:
    name = "(CASE WHEN err = 4 THEN 'T.' ELSE g END) || ' ' || sp"
    label = (
        "(CASE status_style WHEN 2 THEN"
        " ' [[taxonomicNameLabel rank=species]]comb. nov.[[/]]' ELSE '' END)"
    )
    return (
        "(CASE WHEN err = 1 THEN"
        " 'The treatment text lacks a clear nomenclature section.'"
        f" ELSE 'Nomenclature. [[taxonomicName ' || {_TAXON_ATTRS}"
        f" || ']]' || {name} || '[[/]]' || {label} || ' is described here.' END)"
    )


def _turn2_text() -> str:
    f0 = _fig_span("0")
    # figure 1 duplicates figure 0 when fig_dup=1 (alreadySeen/Set dedup)
    f1 = f"(CASE WHEN fig_dup = 1 THEN {_fig_span('0')} ELSE {_fig_span('1')} END)"
    vern = (
        "(CASE WHEN has_vern = 1 THEN ' Known locally as [[vernacularName"
        " language=' || vern_lang || ']]' || vern || '[[/]].' ELSE '' END)"
    )
    return (
        "'Description. Body length 4.2-4.8 mm.'"
        f" || (CASE WHEN n_figs >= 1 THEN ' ' || {f0} ELSE '' END)"
        f" || (CASE WHEN n_figs >= 2 THEN ' ' || {f1} ELSE '' END)"
        f" || {vern}"
    )


def _turn3_text() -> str:
    return (
        "'Materials examined.'"
        f" || (CASE WHEN n_mats >= 1 THEN ' ' || {_mat_span('0')} ELSE '' END)"
        f" || (CASE WHEN n_mats >= 2 THEN ' ' || {_mat_span('1')} ELSE '' END)"
    )


def _turn4_text() -> str:
    c0 = _cit_attrs("c0_scen", "c0_g", "c0_sp", "c0_sur", "c0_yr")
    # citation 1 duplicates citation 0 when c1_dup=1 (alreadyCited path)
    c1 = (
        f"(CASE WHEN c1_dup = 1 THEN {c0} ELSE "
        + _cit_attrs("c1_scen_raw", "c1_g", "c1_sp", "c1_sur", "c1_yr")
        + " END)"
    )
    return (
        "'References.'"
        f" || (CASE WHEN n_cit >= 1 THEN ' [[treatmentCitation ' || {c0} || ']]' ELSE '' END)"
        f" || (CASE WHEN n_cit >= 2 THEN ' [[treatmentCitation ' || {c1} || ']]' ELSE '' END)"
        " || (CASE WHEN n_cit = 0 THEN ' None relevant.' ELSE '' END)"
    )


def transcripts_sql(source: str = "documents", dialect: str = "spark") -> str:
    """Full transcripts derivation.  ``dialect`` ∈ {'spark','duckdb'}.

    The DuckDB dialect (the frozen driver-oracle text) is
    byte-identical to round 5: one flat query whose turn-text CASE
    inlines every fragment.  The Spark dialect produces the SAME rows
    from a restructured query (round-6 optimization):

    * a ``REPARTITION(doc_id)`` hint on the recipe rows — the
      documents input is typically one small parquet file → one scan
      partition, so the flat form ran the entire CPU-heavy text
      expansion as a SINGLE task (measured: 5.8 s serial at sf0.1 on
      32 idle cores).  Hashing the ~40-byte recipe rows across
      ``spark.sql.shuffle.partitions`` parallelizes the expansion
      while shuffling only tiny pick columns (guide §2.3).
    * layered subqueries that name each repeated fragment ONCE
      (citation attr bundles, figure/material spans, the taxon attr
      string) and build the five turn texts as per-doc columns the
      final CASE merely selects.  The flat form repeated the c0
      citation expression (≈1.5 KB of SQL) twice and the
      treatment-authority fragment five times; parse + analyze +
      optimizer + Janino codegen of that tree dominated the
      generation wall time (measured: 1.5 s parse/analyze + ~3.5 s
      optimize/codegen vs ~0.6 s compute).  CollapseProject keeps
      multi-referenced non-cheap aliases as separate projections, so
      the dedup survives optimization."""
    ts_fn = "timestamp_millis" if dialect == "spark" else "epoch_ms"
    if dialect == "spark":
        return _transcripts_sql_spark(source, ts_fn)
    turn_text = (
        f"(CASE tt.turn_idx WHEN 0 THEN {_turn0_text()}"
        f" WHEN 1 THEN {_turn1_text()}"
        f" WHEN 2 THEN {_turn2_text()}"
        f" WHEN 3 THEN {_turn3_text()}"
        f" ELSE {_turn4_text()} END)"
    )
    return f"""
WITH r AS ({recipe_cte(source)})
SELECT
  r.conv_id AS conv_id,
  cast(tt.turn_idx AS int) AS turn_idx,
  (CASE tt.turn_idx WHEN 0 THEN 'user' WHEN 3 THEN 'tool'
   ELSE 'assistant' END) AS role,
  {turn_text} AS text,
  (CASE tt.turn_idx WHEN 3 THEN 'collection_db' ELSE NULL END) AS tool,
  {ts_fn}(1704067200000 + r.doc_id * 3600000 + tt.turn_idx * 60000) AS ts
FROM r CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS tt(turn_idx)
"""


def _transcripts_sql_spark(source: str, ts_fn: str) -> str:
    """Layered Spark form of :func:`transcripts_sql` — identical rows,
    deduplicated expression tree (see transcripts_sql docstring)."""
    name = "(CASE WHEN err = 4 THEN 'T.' ELSE g END) || ' ' || sp"
    label = (
        "(CASE status_style WHEN 2 THEN"
        " ' [[taxonomicNameLabel rank=species]]comb. nov.[[/]]' ELSE '' END)"
    )
    vern = (
        "(CASE WHEN has_vern = 1 THEN ' Known locally as [[vernacularName"
        " language=' || vern_lang || ']]' || vern || '[[/]].' ELSE '' END)"
    )
    t1 = (
        "(CASE WHEN err = 1 THEN"
        " 'The treatment text lacks a clear nomenclature section.'"
        f" ELSE 'Nomenclature. [[taxonomicName ' || taxon_attrs"
        f" || ']]' || {name} || '[[/]]' || {label}"
        " || ' is described here.' END)"
    )
    f1 = "(CASE WHEN fig_dup = 1 THEN fig0 ELSE fig1 END)"
    t2 = (
        "'Description. Body length 4.2-4.8 mm.'"
        " || (CASE WHEN n_figs >= 1 THEN ' ' || fig0 ELSE '' END)"
        f" || (CASE WHEN n_figs >= 2 THEN ' ' || {f1} ELSE '' END)"
        f" || {vern}"
    )
    t3 = (
        "'Materials examined.'"
        " || (CASE WHEN n_mats >= 1 THEN ' ' || mat0 ELSE '' END)"
        " || (CASE WHEN n_mats >= 2 THEN ' ' || mat1 ELSE '' END)"
    )
    c1 = "(CASE WHEN c1_dup = 1 THEN c0_attrs ELSE c1_attrs_raw END)"
    t4 = (
        "'References.'"
        " || (CASE WHEN n_cit >= 1 THEN"
        " ' [[treatmentCitation ' || c0_attrs || ']]' ELSE '' END)"
        f" || (CASE WHEN n_cit >= 2 THEN"
        f" ' [[treatmentCitation ' || {c1} || ']]' ELSE '' END)"
        " || (CASE WHEN n_cit = 0 THEN ' None relevant.' ELSE '' END)"
    )
    return f"""
WITH r0 AS (SELECT /*+ REPARTITION(doc_id) */ *
            FROM ({recipe_cte(source)}) AS r_inner),
frag AS (
  SELECT r0.*,
         {_TAXON_ATTRS} AS taxon_attrs,
         {_cit_attrs('c0_scen', 'c0_g', 'c0_sp', 'c0_sur', 'c0_yr')} AS c0_attrs,
         {_cit_attrs('c1_scen_raw', 'c1_g', 'c1_sp', 'c1_sur', 'c1_yr')} AS c1_attrs_raw,
         {_fig_span('0')} AS fig0,
         {_fig_span('1')} AS fig1,
         {_mat_span('0')} AS mat0,
         {_mat_span('1')} AS mat1
  FROM r0),
r AS (
  SELECT frag.*,
         {_turn0_text()} AS t0_text,
         {t1} AS t1_text,
         {t2} AS t2_text,
         {t3} AS t3_text,
         {t4} AS t4_text
  FROM frag)
SELECT
  r.conv_id AS conv_id,
  cast(tt.turn_idx AS int) AS turn_idx,
  (CASE tt.turn_idx WHEN 0 THEN 'user' WHEN 3 THEN 'tool'
   ELSE 'assistant' END) AS role,
  (CASE tt.turn_idx WHEN 0 THEN t0_text WHEN 1 THEN t1_text
   WHEN 2 THEN t2_text WHEN 3 THEN t3_text ELSE t4_text END) AS text,
  (CASE tt.turn_idx WHEN 3 THEN 'collection_db' ELSE NULL END) AS tool,
  {ts_fn}(1704067200000 + r.doc_id * 3600000 + tt.turn_idx * 60000) AS ts
FROM r CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS tt(turn_idx)
"""
