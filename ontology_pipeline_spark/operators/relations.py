"""Relation scoring stage (S3) — replaces the reference's LLM relationship
pass M6 (reference src/extractor.py:690-759; 4-pass variant
src/prompts.py:224-264).

Semantics: deterministic class-pair rules over sentence-level co-occurrence,
using the reference's own edge vocabulary (edge construction at
streamlit_app.py:744-760):

    assessment   + construct     -> (assessment,  "measures",    construct)
    intervention + construct     -> (intervention, "targets",    construct)
    assessment   + intervention  -> (assessment,  "informs",     intervention)
    construct    + construct     -> (earlier,     "association", later)

Two physical strategies, same logical result (tested equal):

* `score_relations(mentions)` — a pure DataFrame self-join on
  (url, sent_id) with `pos_a < pos_b`.  Catalyst plans it; AQE skew-join
  splits the head-entity partitions.  Use when mentions arrive as a table.
* `extract_triples_fused(pages, lexicon)` — mention detection + pairing in a
  SINGLE mapInPandas pass: co-occurrence is sentence-local, so the whole
  triple extraction is shuffle-free.  This is the 100 TB hot path: one narrow
  stage from page scan to triple rows; the only shuffles left in the
  pipeline are the final aggregations.  The same stage also emits one row
  per page with its lineage counts (`stage_pages`); `extract_triples_*`
  filter those rows out (`stage_triples`).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import FUSED, TRIPLES
from .mentions import _compile, scan_text

# unordered class-pair -> (subject_class, predicate)
PAIR_RULES: dict[frozenset, tuple[str, str]] = {
    frozenset(["assessment", "construct"]): ("assessment", "measures"),
    frozenset(["intervention", "construct"]): ("intervention", "targets"),
    frozenset(["assessment", "intervention"]): ("assessment", "informs"),
}


def _pair_triples(ments: list[tuple]) -> list[tuple]:
    """Pure pairing over one page's mentions: [(url, sent_id, pos, surface,
    canonical, class)] -> [(subj, subj_class, pred, obj, obj_class, url)]."""
    from collections import defaultdict

    by_sent: dict[int, list] = defaultdict(list)
    for url, sent_id, pos, _surface, canonical, cls in ments:
        by_sent[sent_id].append((pos, canonical, cls, url))
    out = []
    for sent in by_sent.values():
        sent.sort()
        for i in range(len(sent)):
            for j in range(i + 1, len(sent)):
                pa, ca, cla, url = sent[i]
                pb, cb, clb, _ = sent[j]
                if ca == cb and cla == clb:
                    continue
                if cla == "construct" and clb == "construct":
                    out.append((ca, cla, "association", cb, clb, url))
                    continue
                rule = PAIR_RULES.get(frozenset([cla, clb]))
                if rule is None:
                    continue
                subj_class, pred = rule
                if cla == subj_class:
                    out.append((ca, cla, pred, cb, clb, url))
                else:
                    out.append((cb, clb, pred, ca, cla, url))
    # page-local dedup (order-preserving): the triple sink holds distinct
    # (subj, pred, obj, url) rows without needing a corpus-wide shuffle
    return list(dict.fromkeys(out))


def score_relations(mentions: DataFrame) -> DataFrame:
    """Mentions table -> triples via self-join on (url, sent_id).

    Logically identical to the fused path (tested as equal multisets): the
    pair ordering is the lexicographic struct (pos, canonical, entity_class)
    — strictly `pos_a < pos_b` would DROP distinct mentions sharing a
    position (one alias in two classes) that the fused i<j loop pairs — and
    the output is page-local-deduped (`distinct()`, url is a column, so
    distinct == the fused path's per-page dict.fromkeys).

    The join keys (url, sent_id) are high-cardinality, so the shuffle is well
    spread; head-entity skew lives in the *values*, not the keys, and the
    downstream distinct/groupBy is where AQE skew handling applies.
    """
    a = mentions.alias("a")
    b = mentions.alias("b")
    order = lambda side: F.struct(
        F.col(f"{side}.pos"), F.col(f"{side}.canonical"), F.col(f"{side}.entity_class")
    )
    pairs = a.join(
        b,
        on=[
            F.col("a.url") == F.col("b.url"),
            F.col("a.sent_id") == F.col("b.sent_id"),
            order("a") < order("b"),
        ],
    ).filter(
        ~(
            (F.col("a.canonical") == F.col("b.canonical"))
            & (F.col("a.entity_class") == F.col("b.entity_class"))
        )
    )

    ca, cb = F.col("a.entity_class"), F.col("b.entity_class")
    na, nb = F.col("a.canonical"), F.col("b.canonical")

    both_constructs = (ca == "construct") & (cb == "construct")

    def rule(cls1: str, cls2: str) -> F.Column:
        return ((ca == cls1) & (cb == cls2)) | ((ca == cls2) & (cb == cls1))

    a_is_subj = F.when(both_constructs, F.lit(True)).otherwise(
        F.when(rule("assessment", "construct"), ca == "assessment")
        .when(rule("intervention", "construct"), ca == "intervention")
        .when(rule("assessment", "intervention"), ca == "assessment")
    )
    pred = (
        F.when(both_constructs, F.lit("association"))
        .when(rule("assessment", "construct"), F.lit("measures"))
        .when(rule("intervention", "construct"), F.lit("targets"))
        .when(rule("assessment", "intervention"), F.lit("informs"))
    )
    return (
        pairs.select(
            F.when(a_is_subj, na).otherwise(nb).alias("subj"),
            F.when(a_is_subj, ca).otherwise(cb).alias("subj_class"),
            pred.alias("pred"),
            F.when(a_is_subj, nb).otherwise(na).alias("obj"),
            F.when(a_is_subj, cb).otherwise(ca).alias("obj_class"),
            F.col("a.url").alias("url"),
        )
        .filter(F.col("pred").isNotNull())
        .distinct()
    )


_TRIPLE_COLS = TRIPLES.fieldNames()
_PAGE_COLS = ["url", "n_mentions", "n_triples", "status"]
_FUSED_COLS = FUSED.fieldNames()


def fused_stage(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    from_html: bool = True,
    value_col: str | None = None,
    id_col: str = "url",
) -> DataFrame:
    """The one fused Python stage behind every entry point, parameterized
    only by the per-row text accessor (HTML->text when `from_html`, else the
    text as is; `value_col` defaults to "html" resp. "text"), so
    pairing/schema/batching can never drift between the text and html
    variants.

    Output (`FUSED`): each page's page-local-deduped triples, plus one page
    row (subj NULL) with the page's `n_mentions`, `n_triples` and `status`
    ('no_text' when the accessor gives None, else 'ok').  Counting here, in
    the pass that already touches every page, is what lets a commit write its
    lineage without reading the triples back.  `stage_triples` and
    `stage_pages` split the two kinds of rows."""
    from .extract_text import extract_text_bytes

    to_text = extract_text_bytes if from_html else (lambda t: t)
    value_col = value_col or ("html" if from_html else "text")
    lex = tuple(tuple(r) for r in lexicon_rows)
    triple_nulls = {c: None for c in _PAGE_COLS if c != "url"}
    page_nulls = {c: None for c in _TRIPLE_COLS if c != "url"}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pattern, lookup = _compile(lex)
        for pdf in batches:
            triples: list[tuple] = []
            page_rows: list[tuple] = []
            for url, val in zip(pdf[id_col], pdf[value_col]):
                text = to_text(val)
                ments = scan_text(url, text, pattern, lookup)
                page_triples = _pair_triples(ments)
                triples.extend(page_triples)
                status = "no_text" if text is None else "ok"
                page_rows.append((url, len(ments), len(page_triples), status))
            # both frames in FUSED column order, so the rows do not rely on
            # mapInPandas matching result columns by name
            triple_pdf = pd.DataFrame(triples, columns=_TRIPLE_COLS)
            page_pdf = pd.DataFrame(page_rows, columns=_PAGE_COLS)
            yield triple_pdf.assign(**triple_nulls)[_FUSED_COLS]
            yield page_pdf.assign(**page_nulls)[_FUSED_COLS]

    return pages.select(id_col, value_col).mapInPandas(run, schema=FUSED)


def stage_triples(stage: DataFrame) -> DataFrame:
    """The TRIPLES rows of a fused-stage output."""
    return stage.where(F.col("subj").isNotNull()).select(*_TRIPLE_COLS)


def stage_pages(stage: DataFrame) -> DataFrame:
    """The per-page rows of a fused-stage output: url, n_mentions,
    n_triples, status."""
    return stage.where(F.col("subj").isNull()).select(*_PAGE_COLS)


def extract_triples_fused(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    text_col: str = "text",
    id_col: str = "url",
) -> DataFrame:
    """pages -> triples in one shuffle-free mapInPandas stage (the hot path)."""
    return stage_triples(fused_stage(pages, lexicon_rows, False, text_col, id_col))


def extract_triples_from_html(
    pages: DataFrame,
    lexicon_rows: list[tuple],
    html_col: str = "html",
    id_col: str = "url",
) -> DataFrame:
    """pages(html) -> triples in ONE Python stage: HTML->text (same pure
    function as the extract_text stage, so the byte-identity invariant is
    preserved) + mention scan + pairing, all inside a single mapInPandas.

    One Arrow round-trip instead of two (pandas-UDF text extraction followed
    by a second mapInPandas) — at 100 TB this halves the JVM<->Python worker
    transfer on the hot path and keeps the whole extraction narrow.
    """
    return stage_triples(fused_stage(pages, lexicon_rows, True, html_col, id_col))


def distinct_triples(triples: DataFrame, with_url_list: bool = False) -> DataFrame:
    """Corpus-level distinct (subj, pred, obj) with provenance counts.

    Skew note: head entities ("Sleep Quality"-class nodes) concentrate a huge
    fraction of rows on a few group keys.  countDistinct partial-aggregates
    map-side, so the skewed key ships pre-combined counts, not url strings;
    the full provenance list (`with_url_list=True`, reference `files` lists at
    streamlit_app.py:103) is only materialized for small corpora — at web
    scale provenance stays as rows in the triple table.
    """
    aggs = [
        F.countDistinct("url").alias("n_pages"),
        F.min("url").alias("first_url"),
    ]
    if with_url_list:
        aggs.append(F.sort_array(F.collect_set("url")).alias("urls"))
    return triples.groupBy("subj", "subj_class", "pred", "obj", "obj_class").agg(*aggs)
