"""Byte-parity scalar codecs (SURVEY.md §2.8, C1-C16).

These re-implement — from observed behavior, not copied code — the
reference's messy-string codecs, *including its quirks*, because the
correctness gate requires byte-identical output:

* ``preprocess_date`` / pubdate parsing (knowledge-graph-manager/
  __main__.py:59-174): season->month mapping, missing-part padding,
  ``-``/``/`` range splitting, and the **"Mai" quirk** — the German
  month name is recognized by the month detector and returned
  capitalized as ``Mai``, which then fails ``strptime('%Y %b %d')``
  and falls back to the sortpubdate path.
* annotation-string building (__main__.py:377-430): per-concept
  ``Type:Id;surface`` comma-joins seeded with ``"Null"``, first-win
  dedup implemented via ``endswith`` / ``needle+","`` substring checks
  (quirks preserved), the ``[5:]`` Null-strip and ``[1:]`` lead-strip.
* author-string building (__main__.py:955-973): ``'n1;n2'`` with
  ``'``->``\\'`` escaping, ``NA`` fallbacks.
* quoting helpers (shared/helper/neo4j_helper.py:61-65) and csv-string
  splitting (__main__.py:178-186).

Each pure function has a vectorized pandas-UDF twin for use in plans;
the pure versions are what the parity unit tests pin down. Spark-native
column expressions are provided where no quirk forces Python
(id validators, age computation, pipe sanitization).
"""

from __future__ import annotations

import re
from datetime import datetime

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# dates (C3-C6)
# ---------------------------------------------------------------------------

_SEASONS = {"spring": "Mar", "summer": "Jun", "fall": "Sep", "winter": "Dec"}
# note "mai": present in the reference's month table (German May); kept.
_MONTHS = [
    ("jan", "Jan"), ("feb", "Feb"), ("mar", "Mar"), ("apr", "Apr"),
    ("mai", "Mai"), ("jun", "Jun"), ("jul", "Jul"), ("aug", "Aug"),
    ("sep", "Sep"), ("oct", "Oct"), ("nov", "Nov"), ("dec", "Dec"),
]
_YEAR_RE = re.compile(r".*([1-3][0-9]{3})")


def contains_season(s: str) -> bool:
    low = s.lower()
    return any(k in low for k in _SEASONS)


def contains_month(s: str) -> bool:
    low = s.lower()
    return any(k in low for k, _ in _MONTHS)


def season_to_month(s: str) -> str:
    low = s.lower()
    for k, v in _SEASONS.items():
        if k in low:
            return v
    raise ValueError("season is not a season: " + s)


def extract_month(s: str) -> str:
    low = s.lower()
    for k, v in _MONTHS:
        if k in low:
            return v
    raise ValueError("date_raw is not a month: " + s)


def preprocess_date(pubdate_raw: str) -> str:
    """Messy pubdate -> '%Y %b %d'-shaped string (reference semantics)."""
    if pubdate_raw in ("NA", ""):
        pubdate_raw = "1900 Jan 1"
    if contains_season(pubdate_raw):
        year = _YEAR_RE.match(pubdate_raw).group(1)
        pubdate_raw = f"{year} {season_to_month(pubdate_raw)} 1"
    parts = pubdate_raw.split(" ")
    if len(parts) < 3:
        if len(parts) == 2:
            year = _YEAR_RE.match(pubdate_raw).group(1)
            month = "Jan"
            if contains_season(pubdate_raw):
                month = season_to_month(pubdate_raw)
            if contains_month(pubdate_raw):
                month = extract_month(pubdate_raw)
            pubdate_raw = f"{year} {month} 1"
        else:
            year = _YEAR_RE.match(pubdate_raw).group(1)
            pubdate_raw = (
                pubdate_raw + " Jan 1" if len(year) == 4 else "1900 Jan 1"
            )
    # range forms: '2021 Jan/Mar 1', '2021 Jan-Mar 1' -> first month, keep
    # the tail after the 3-char second month ('.../Mar 1' -> ' 1')
    pieces = re.split("-|/", pubdate_raw)
    if len(pieces) > 1:
        pubdate_raw = pieces[0] + pieces[1][3:]
    return pubdate_raw


def sortpubdate_to_iso(sortpubdate_raw: str) -> str:
    """'2021/03/01 00:00' -> '2021-03-01' (reference __main__.py:492-495)."""
    return sortpubdate_raw.split(" ")[0].replace("/", "-")


def epubdate_iso(epubdate_raw: str, pubdate_raw: str, sortpubdate_raw: str) -> str:
    """The reference's fallback chain (__main__.py:488-538):
    epubdate if present, else parsed pubdate, else sortpubdate.
    The 'Mai' month deliberately fails strptime and falls through."""
    sort_iso = sortpubdate_to_iso(sortpubdate_raw)
    if epubdate_raw in ("NA", ""):
        pubdate_processed = preprocess_date(pubdate_raw)
        try:
            return datetime.strptime(pubdate_processed, "%Y %b %d").strftime(
                "%Y-%m-%d"
            )
        except ValueError:
            epubdate_raw = datetime.strptime(sort_iso, "%Y-%m-%d").strftime(
                "%Y %b %d"
            )
    return datetime.strptime(epubdate_raw, "%Y %b %d").strftime("%Y-%m-%d")


# ---------------------------------------------------------------------------
# annotation strings (C11/C12, A11)
# ---------------------------------------------------------------------------

BIOCONCEPTS = ["gene", "disease", "chemical", "species", "mutation", "cellline"]


def build_annotation_string(
    annotation_lines: list[tuple[str, str, str]],
    bioconcepts: list[str] | None = None,
) -> str:
    """(surface, concept, normalized_id) rows -> the reference's encoded
    annotation string: per concept a ','-join of 'Concept:Id;surface'
    seeded with 'Null', concepts '|'-joined in config order.

    First-win dedup preserves the reference's exact (quirky) checks:
    skip when the accumulator *endswith* the candidate, or when
    candidate+',' is a substring (__main__.py:391-430).
    """
    bioconcepts = bioconcepts or BIOCONCEPTS
    annotations_all = ""
    for bioconcept in bioconcepts:
        acc = "Null"
        for surface, concept, norm_id in annotation_lines:
            if concept.lower() != bioconcept.lower():
                continue
            cand = f"{concept}:{norm_id};{surface}"
            if acc.endswith(cand):
                continue
            if cand + "," in acc:
                continue
            acc = ",".join([acc, cand])
        if len(acc) > 4:
            acc = acc[5:]
        annotations_all = "|".join([annotations_all, acc])
    if annotations_all:
        annotations_all = annotations_all[1:]
    return annotations_all


def parse_pubtator_block(block: str) -> tuple[str, str, str, list[tuple[str, str, str]]]:
    """One PubTator TSV block -> (pmid, title, abstract, annotation rows).
    Format (__main__.py:352-430): line0 'pmid|t|title', line1
    'pmid|a|abstract', lines 2+ 'pmid\\tstart\\tend\\tsurface\\ttype\\tnormId'.
    """
    lines = block.split("\n")
    pmid = lines[0].split("|")[0] if lines else ""
    title = lines[0].split("|", 2)[2] if len(lines) > 0 and lines[0].count("|") >= 2 else ""
    abstract = lines[1].split("|", 2)[2] if len(lines) > 1 and lines[1].count("|") >= 2 else ""
    rows: list[tuple[str, str, str]] = []
    for text in lines[2:]:
        cols = text.split("\t")
        if len(cols) > 3:
            surface, concept = cols[3], cols[4]
            norm_id = cols[5] if len(cols) > 5 else ""
            rows.append((surface, concept, norm_id))
    return pmid, title, abstract, rows


_ANN_HEAD = re.compile(r"^[A-Za-z]+:[^;,|]*;")


def parse_annotation_string(encoded: str, bioconcepts: list[str] | None = None):
    """Inverse codec: encoded string -> list of (concept, norm_id,
    surface, bioconcept) structs. Used to keep data *structured* inside
    the engine (SURVEY.md §1.4) and serialize only at boundaries.

    The reference format is not comma-safe — surface forms may contain
    commas ('cognitive, behavioral, and motor dysfunction' in the
    committed golden). A ','-segment that does not start with a
    ``Type:Id;`` head is therefore a continuation of the previous
    surface, not a new annotation.
    """
    bioconcepts = bioconcepts or BIOCONCEPTS
    out = []
    for concept_slot, chunk in zip(bioconcepts, encoded.split("|")):
        if chunk == "Null" or not chunk:
            continue
        for item in chunk.split(","):
            if _ANN_HEAD.match(item):
                head, surface = item.split(";", 1)
                concept, norm_id = head.split(":", 1)
                out.append([concept, norm_id, surface, concept_slot])
            elif out:
                out[-1][2] += "," + item  # comma belonged to the surface
    return [tuple(x) for x in out]


# ---------------------------------------------------------------------------
# authors / quoting / csv strings (C7-C10)
# ---------------------------------------------------------------------------

def get_author_string(author_list) -> str:
    """list of {'name': ...} dicts -> "'n1;n2'" with ' escaped; 'NA'
    fallbacks exactly as the reference (__main__.py:955-973)."""
    if not isinstance(author_list, list) or len(author_list) == 0:
        return "NA"
    names = []
    for author_dict in author_list:
        if isinstance(author_dict, dict) and "name" in author_dict:
            names.append(author_dict["name"])
        else:
            names.append("NA")
    return "'" + ";".join(names).replace("'", "\\'") + "'"


def replace_quotes(s) -> str:
    return str(s).replace("\\", "/").replace("'", "\\'")


def add_quotes(s) -> str:
    return "'" + replace_quotes(s) + "'"


def get_list_from_csv_string(
    quoted: str, quotation_character: str = "'", split_string: str = ","
) -> list[str]:
    parts = quoted.split(split_string)
    return [
        p[1:-1]
        if p.startswith(quotation_character) and p.endswith(quotation_character)
        else p
        for p in parts
    ]


def apoc_csv_string(header: list[str], rows: list[list]) -> str:
    """The `apoc.export.csv.query(stream:true)` payload shape the
    reference's REST layer receives (neo4j_helper.py:557-559): a
    header row plus data rows, EVERY field double-quoted (APOC default
    quotes:'always'), embedded quotes doubled per CSV, None as the
    empty quoted string, '\\n' line endings with a trailing newline.
    Floats/ints render via str() (matches Neo4j's round(x, 4) floats,
    e.g. '1.0')."""

    def q(v) -> str:
        if v is None:
            s = ""
        elif isinstance(v, bool):
            s = "true" if v else "false"
        else:
            s = str(v)
        return '"' + s.replace('"', '""') + '"'

    lines = [",".join(q(h) for h in header)]
    lines.extend(",".join(q(v) for v in row) for row in rows)
    return "\n".join(lines) + "\n"


def csv_export_envelope(csv_text: str) -> str:
    """The REST text/plain envelope post-processing applied verbatim
    to the streamed APOC CSV (neo4j_helper.py:570-573): the chained
    ``.replace('","', '|').replace('"', '').replace(';', ',')
    .replace('|', ';')`` that turns quoted-CSV field separators into
    semicolons. Quirks preserved BY CONSTRUCTION (the chain runs on
    the whole payload, in order), all golden-pinned:

    * data semicolons become commas (step 3 runs before step 4);
    * data pipes become semicolons (step 4 sees them);
    * ALL double quotes are stripped, including CSV-doubled embedded
      quotes (step 2);
    * a data value ENDING in '"' CSV-escapes to '...""', whose last
      quote fuses with the field separator into '","' -> '|' -> ';'
      and the leftovers strip — the trailing data quote silently
      VANISHES from the payload (reference-faithful lossiness).
    """
    return (
        csv_text.replace('","', "|")
        .replace('"', "")
        .replace(";", ",")
        .replace("|", ";")
    )


def export_abundance_payload(df) -> str:
    """label-abundance result -> the REST layer's text/plain body:
    collect the (already top-k-bounded) result in column order, render
    the APOC streamed-CSV shape, apply the envelope chain. Driver-side
    BY DESIGN — this is a bounded HTTP response payload, not a corpus
    op (the reference streams it out of apoc.export.csv.query the
    same way, neo4j_helper.py:556-573)."""
    header = list(df.columns)
    rows = [[row[c] for c in header] for row in df.collect()]
    return csv_export_envelope(apoc_csv_string(header, rows))


# ---------------------------------------------------------------------------
# id validators (C14) — pure Catalyst
# ---------------------------------------------------------------------------

def is_valid_gene_id(col: Column) -> Column:
    return col.rlike(r"^Gene:[0-9]+$")


def is_valid_species_id(col: Column) -> Column:
    return col.rlike(r"^Species:[0-9]+$")


def is_valid_chemical_id(col: Column) -> Column:
    return col.startswith("Chemical:MESH:")


def is_valid_disease_id(col: Column) -> Column:
    return col.startswith("Disease:")


# ---------------------------------------------------------------------------
# age (C15) — pure Catalyst
# ---------------------------------------------------------------------------

def age_columns(df, epubdate_col: str, integration_col: str):
    """age_in_days/age_in_months with the reference's size-10 ISO guard
    (neo4j_helper.py:2107-2118)."""
    ok = (F.length(F.col(epubdate_col)) == 10) & (
        F.length(F.col(integration_col)) == 10
    )
    days = F.datediff(F.to_date(integration_col), F.to_date(epubdate_col))
    months = F.floor(
        F.months_between(F.to_date(integration_col), F.to_date(epubdate_col))
    ).cast("int")
    return df.withColumn(
        "age_in_days", F.when(ok, days).otherwise(F.lit(None))
    ).withColumn("age_in_months", F.when(ok, months).otherwise(F.lit(None)))


# ---------------------------------------------------------------------------
# article-level annotation serializer (reference interchange output)
# ---------------------------------------------------------------------------

def article_annotation_strings(linked_mentions):
    """Linked mentions (url, surface, start, entity_id) -> one row per
    article with the reference's encoded annotation string
    (__main__.py:377-430 format; byte-parity pinned by the golden
    roundtrip test). Document order = mention start offset; entity ids
    split on the first ':' into (concept, normalized id). Runs as
    ``applyInPandas`` per url — the serializer is the output boundary,
    structured data stays structured upstream (SURVEY.md §1.4)."""
    import pandas as pd

    def per_article(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["start", "surface"], kind="mergesort")
        rows = []
        for surface, eid in zip(pdf["surface"], pdf["entity_id"]):
            if eid == "Null" or ":" not in eid:
                continue
            concept, norm_id = eid.split(":", 1)
            rows.append((surface, concept, norm_id))
        return pd.DataFrame(
            {
                "url": [pdf["url"].iloc[0]],
                "annotations": [build_annotation_string(rows)],
            }
        )

    return (
        linked_mentions.select("url", "surface", "start", "entity_id")
        .groupBy("url")
        .applyInPandas(per_article, schema="url string, annotations string")
    )


# ---------------------------------------------------------------------------
# pandas-UDF twins (factories — a pandas_udf needs an active session,
# so decoration is deferred to call time)
# ---------------------------------------------------------------------------

def author_string_udf():
    @F.pandas_udf("string")
    def _udf(s: pd.Series) -> pd.Series:
        # Arrow hands array<struct> columns over as numpy arrays of
        # dicts; the reference codec type-checks for `list`, so convert
        # (None stays None -> the codec's 'NA' path)
        return s.map(
            lambda v: get_author_string(
                list(v) if v is not None and not isinstance(v, list) else v
            )
        )

    return _udf


def epubdate_iso_udf():
    """Batched twin of :func:`epubdate_iso` — the S4 date fallback
    chain (epubdate, else parsed pubdate, else sortpubdate) columnar."""

    @F.pandas_udf("string")
    def _udf(e: pd.Series, p: pd.Series, s: pd.Series) -> pd.Series:
        return pd.Series(
            [epubdate_iso(a, b, c) for a, b, c in zip(e, p, s)]
        )

    return _udf
