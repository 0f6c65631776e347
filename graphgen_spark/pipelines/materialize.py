"""Checkpointed, resumable materialization of the KG pipeline.

Tables under ``ckpt_root``, in write order:

    docs/      (url-keyed)           — extracted text; also the manifest
                                       of processed pages
    chunks/    (chunk_id, url)       — chunked docs
    lineage/op=doc_to_chunk/         — doc→chunk of the chunks just landed
    done_chunk_docs/                 — manifest: urls chunked
    records/   (content-addressed)   — parsed extraction records
    done_record_chunks/              — manifest: (chunk_id, url) extracted
    nodes/ edges/ triples/ coverage/ — final tables, rebuilt from the full
                                       records table by records_to_graph
                                       (union-new+old → groupBy is the
                                       reference's own merge semantics)
    lineage/op=chunk_to_triple/      — rewritten from the full triples
    _metrics/  per-stage per-partition row counts

Kill-safety: outputs are appended BEFORE done-manifests, and every
append anti-joins on content-hash keys, so a crash between the two
writes only causes idempotent reprocessing, never duplicates or loss.
A tree with the ``done_docs/`` manifest of earlier versions resumes to
the same result (docs ⊇ done_docs; the directory is no longer read).
Every read passes its known schema: without one, Spark runs a job per
read to infer it from the parquet footers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators.checkpointing import (
    append_lineage,
    checkpoint_stage,
    lineage_edges,
    overwrite_lineage,
)
from graphgen_spark.operators.chunking import chunk_documents
from graphgen_spark.operators.kg_extract import extract_records
from graphgen_spark.operators.stats import coverage_by_url
from graphgen_spark.operators.text import with_extracted_text
from graphgen_spark.pipelines.kg_pipeline import alias_labels, records_to_graph


def _anti_by(df: DataFrame, done: DataFrame | None, keys: list[str]) -> DataFrame:
    if done is None:
        return df
    return df.join(done.select(*keys), keys, "left_anti")


def _maybe_read(spark: SparkSession, path: str, ddl: str) -> DataFrame | None:
    if os.path.exists(path):
        return spark.read.schema(ddl).parquet(path)
    return None


def _overwrite(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    ckpt_root: str,
    alias_dict: DataFrame | None = None,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
) -> dict[str, DataFrame]:
    """Run (or resume) the pipeline, materializing every stage under
    ``ckpt_root``.  Re-running after a mid-run kill tops up exactly the
    missing work; re-running on a complete tree is a no-op scan."""
    os.makedirs(ckpt_root, exist_ok=True)

    def path(name: str) -> str:
        return os.path.join(ckpt_root, name)

    # -- stage 1: docs (extract text); key = url; its own manifest -----
    done_docs = _maybe_read(spark, path("docs"), "url STRING")
    new_docs = with_extracted_text(
        _anti_by(pages, done_docs, ["url"]), out_col="text"
    ).select("url", "text", "warc_ts")
    docs = checkpoint_stage(spark, new_docs, ckpt_root, "docs", ["url"])

    # -- stage 2: chunks; processed-input manifest = done_chunk urls ---
    done_chunk_docs = _maybe_read(spark, path("done_chunk_docs"), "url STRING")
    docs_todo = _anti_by(docs, done_chunk_docs, ["url"])
    new_chunks = chunk_documents(
        docs_todo, chunk_size=chunk_size, chunk_overlap=chunk_overlap
    )
    chunks = checkpoint_stage(
        spark, new_chunks, ckpt_root, "chunks", ["chunk_id", "url"]
    )
    # lineage from the landed rows (no second chunking pass), before
    # the manifest marks these docs done
    append_lineage(
        spark,
        lineage_edges(
            chunks.join(docs_todo.select("url"), "url", "left_semi"),
            "doc_id", "chunk_id", "doc_to_chunk",
        ),
        ckpt_root,
        "doc_to_chunk",
    )
    docs_todo.select("url").distinct().write.mode("append").parquet(
        path("done_chunk_docs")
    )

    # -- stage 3: records; manifest = processed (chunk_id, url) -------
    done_rec_chunks = _maybe_read(
        spark, path("done_record_chunks"), "chunk_id STRING, url STRING"
    )
    chunks_todo = _anti_by(chunks, done_rec_chunks, ["chunk_id", "url"])
    records = checkpoint_stage(
        spark, extract_records(chunks_todo), ckpt_root, "records",
        ["chunk_id", "url", "kind", "f1", "f2", "f3"],
    )
    chunks_todo.select("chunk_id", "url").distinct().write.mode(
        "append"
    ).parquet(path("done_record_chunks"))

    # -- final tables: recomputed from the full records table ---------
    labels = (
        alias_labels(alias_dict).localCheckpoint(eager=True)
        if alias_dict is not None
        else None
    )
    graph = records_to_graph(records, labels)
    out = {
        name: _overwrite(spark, graph[name], path(name))
        for name in ("nodes", "edges", "triples")
    }
    out["coverage"] = _overwrite(
        spark, coverage_by_url(out["triples"]), path("coverage")
    )

    # chunk→triple is derived from the FULL triples table every run, so
    # it is overwritten (append would duplicate rows on each resume)
    overwrite_lineage(
        spark,
        lineage_edges(
            out["triples"].withColumn(
                "triple_id",
                F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")),
            ),
            "chunk_id",
            "triple_id",
            "chunk_to_triple",
        ),
        ckpt_root,
        "chunk_to_triple",
    )

    out.update({"docs": docs, "chunks": chunks, "records": records})
    return out
