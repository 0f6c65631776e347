"""Seeded benchmark inputs, generated in set-up and written as parquet.

Page content is a pure function of (page id, entity count) through
``graphgen_spark.synth.gen_page``, so a seed only has to choose which
ids a run uses: every seed owns its own id block, disjoint from every
other seed's.  The same seed always gives byte-identical tables.

Everything here is plain Python + pyarrow (no Spark): the program under
test receives only the parquet files.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from graphgen_spark import synth
from graphgen_spark.textkit import clean_str

# ids per seed block; each block holds one run's pages
SEED_STRIDE = 1_000_000
_BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()


def seed_base(seed: int) -> int:
    """First page id of the seed's block (blocks never overlap)."""
    return (1 + seed % (1 << 24)) * SEED_STRIDE


def page_rows(first_id: int, n: int, n_entities: int, dups: int = 0) -> dict:
    """Columns of the ``pages`` table for ids [first_id, first_id + n).

    The last ``dups`` pages are re-crawls of earlier pages of the same
    block: they keep their own id, url and timestamp but carry another
    page's content, alternately as an exact copy and as a near copy
    (one short paragraph appended).  Which page each one copies is a
    function of its id, so the seed fixes it."""
    cols = {"doc_id": [], "url": [], "warc_ts": [], "html": [],
            "text": [], "lang": []}
    for i, pid in enumerate(range(first_id, first_id + n)):
        url, lang, text, html = synth.gen_page(pid, n_entities)
        k = i - (n - dups)
        if k >= 0:
            src = first_id + synth._h64("dup", pid) % (n - dups)
            _url, lang, text, html = synth.gen_page(src, n_entities)
            if k % 2:
                text += "\n\n" + NEAR_COPY_NOTE
                html = html.replace(
                    "</body>", f"<p>{NEAR_COPY_NOTE}</p></body>")
        ts = _BASE_TS + synth._h64("ts", pid) % (86400 * 365)
        cols["doc_id"].append(pid)
        cols["url"].append(url)
        cols["warc_ts"].append(
            datetime.fromtimestamp(ts, tz=timezone.utc)
        )
        cols["html"].append(html.encode("utf-8"))
        cols["text"].append(text)
        cols["lang"].append(lang)
    return cols


NEAR_COPY_NOTE = "This page is an archived copy of the original report."

PAGES_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def write_pages(path: str, first_id: int, n: int, n_entities: int,
                dups: int = 0) -> str:
    tbl = pa.table(page_rows(first_id, n, n_entities, dups),
                   schema=PAGES_SCHEMA)
    pq.write_table(tbl, path)
    return path


def alias_map(n_entities: int) -> dict:
    """alias_norm -> (canonical_id, canonical_name), resolving an alias
    shared by several entities to the minimum id (the rule of
    ``synth.alias_dictionary_df``)."""
    best: dict = {}
    for eid in range(n_entities):
        canon = synth.canonical_name(eid).upper()
        for alias in synth.aliases_of(eid):
            norm = clean_str(alias.upper())
            if norm not in best or eid < best[norm][0]:
                best[norm] = (eid, canon)
    return best


def write_alias_dict(path: str, n_entities: int) -> tuple[str, int]:
    """Alias dictionary table; returns (path, alias row count)."""
    best = alias_map(n_entities)
    names = sorted(best)
    tbl = pa.table({
        "alias_norm": names,
        "canonical_id": pa.array([best[a][0] for a in names], pa.int64()),
        "canonical_name": [best[a][1] for a in names],
    })
    pq.write_table(tbl, path)
    return path, len(names)


def canonical_key_map(n_entities: int) -> dict:
    """alias_norm -> canonical key the pipeline links it to (the P/R
    harness rule: each alias resolves to its min-id owner's name)."""
    return {a: canon for a, (_eid, canon) in alias_map(n_entities).items()}


def record_rows(first_id: int, n: int, n_entities: int,
                chunk_size: int, chunk_overlap: int) -> list[tuple]:
    """Unlinked extraction records (chunk_id, url, kind, f1, f2, f3) of
    pages [first_id, first_id + n), made in the driver with the
    program's own kernels in the order its extractors run them
    (html -> text -> language -> chunks -> mock LLM response -> parsed
    records): the ground truth the durable build is checked against."""
    from graphgen_spark.extraction import (
        mock_llm_response,
        parse_extraction_response,
    )
    from graphgen_spark.operators.text import html_to_text
    from graphgen_spark.splitter import split_text
    from graphgen_spark.textkit import (
        count_tokens,
        detect_main_language,
        md5_hex,
    )

    rows = []
    for pid in range(first_id, first_id + n):
        url, _lang, _text, html = synth.gen_page(pid, n_entities)
        text = html_to_text(html)
        if not text.strip():
            continue
        language = detect_main_language(text)
        for piece in split_text(
            text, language=language, chunk_size=chunk_size,
            chunk_overlap=chunk_overlap, length_fn=count_tokens,
        ):
            response = mock_llm_response(piece)
            if not response:
                continue
            chunk_id = "chunk-" + md5_hex(piece)
            entities, relations = parse_extraction_response(
                response, chunk_id)
            rows += [(chunk_id, url, "entity", e["entity_name"],
                      e["entity_type"], e["description"])
                     for e in entities]
            rows += [(chunk_id, url, "relationship", r["src_id"],
                      r["tgt_id"], r["description"])
                     for r in relations]
    return rows


def ensure_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path
