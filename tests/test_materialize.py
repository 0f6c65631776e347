"""run_checkpointed beyond resume equality: doc→chunk lineage survives a
kill at any write, self-loops are dropped as in run_kg_pipeline, every
returned frame carries its table's on-disk schema, and a top-up stays
inside its Spark job budget."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphgen_spark import synth
from graphgen_spark.operators.stats import structure_metrics
from graphgen_spark.pipelines import materialize, run_kg_pipeline
from graphgen_spark.pipelines.materialize import run_checkpointed

N_PAGES = 40
N_ENT = synth.n_entities_for(N_PAGES)
CHUNKS = {"chunk_size": 256, "chunk_overlap": 32}


@pytest.fixture(scope="module")
def pages(spark):
    return synth.pages_df(spark, N_PAGES, N_ENT).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def alias(spark):
    return synth.alias_dictionary_df(spark, N_ENT).localCheckpoint(
        eager=True
    )


def doc_to_chunk(spark, root) -> list:
    return [
        tuple(r) for r in spark.read.parquet(
            f"{root}/lineage/op=doc_to_chunk"
        ).select("src_id", "dst_id").collect()
    ]


class Killed(RuntimeError):
    pass


class TestDocChunkLineageOnKill:
    def _kill_at_records(self, monkeypatch):
        def boom(chunks):
            raise Killed("extraction")

        monkeypatch.setattr(materialize, "extract_records", boom)

    def _kill_after_lineage(self, monkeypatch):
        real = materialize.append_lineage

        def write_then_die(*args):
            real(*args)
            raise Killed("after lineage")

        monkeypatch.setattr(materialize, "append_lineage", write_then_die)

    @pytest.mark.parametrize("kill", ["_kill_at_records",
                                      "_kill_after_lineage"])
    def test_rerun_leaves_one_row_per_doc_chunk(
        self, spark, pages, alias, tmp_path, monkeypatch, kill
    ):
        root = str(tmp_path / "ckpt")
        with monkeypatch.context() as m:
            getattr(self, kill)(m)
            with pytest.raises(Killed):
                run_checkpointed(spark, pages, root, alias_dict=alias,
                                 **CHUNKS)
        out = run_checkpointed(spark, pages, root, alias_dict=alias,
                               **CHUNKS)
        want = {
            tuple(r) for r in
            out["chunks"].select("doc_id", "chunk_id").collect()
        }
        got = doc_to_chunk(spark, root)
        assert len(want) > N_PAGES
        assert len(got) == len(set(got))
        assert set(got) == want


PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])
TS = dt.datetime(2024, 1, 1)


def test_self_loops_dropped_without_dictionary(spark, tmp_path):
    pages = spark.createDataFrame([
        ("http://x/selfloop", TS, b"<p>Acme Corp acquired Acme Corp.</p>",
         "", "en"),
        ("http://x/good", TS, b"<p>Bramwell Institute merged with "
         b"Delphora Capital. Acme Corp acquired Calyra Labs.</p>",
         "", "en"),
    ], PAGES_SCHEMA)
    out = run_checkpointed(spark, pages, str(tmp_path / "ckpt"), **CHUNKS)
    loops = out["records"].where(
        (F.col("kind") == "relationship") & (F.col("f1") == F.col("f2"))
    )
    assert loops.count() > 0  # the page does carry a self-loop relation

    def triples(df):
        return {tuple(r) for r in df.select(
            "subj", "pred", "obj", "chunk_id", "url").collect()}

    got = triples(out["triples"])
    assert got == triples(run_kg_pipeline(spark, pages, **CHUNKS)["triples"])
    assert got and all(s != o for s, _, o, _, _ in got)
    assert out["edges"].where(F.col("src_id") == F.col("tgt_id")).count() == 0


def test_returned_frames_carry_the_on_disk_schema(
    spark, pages, alias, tmp_path
):
    root = str(tmp_path / "ckpt")
    for part in (pages.limit(N_PAGES // 2), pages):  # build, then top-up
        out = run_checkpointed(spark, part, root, alias_dict=alias,
                               **CHUNKS)
        assert set(out) == {"docs", "chunks", "records", "nodes", "edges",
                            "triples", "coverage"}
        for name, df in out.items():
            assert df.schema == spark.read.parquet(f"{root}/{name}").schema, \
                name


# Spark jobs of one top-up (20 pages onto 20) plus structure_metrics.
# The same call ran 93 when reads inferred their schema from parquet
# footers, a done_docs manifest duplicated the docs table, lineage
# re-ran the chunking kernel, run_checkpointed kept its own graph tail
# and structure_metrics made six actions before connected components.
TOPUP_JOB_BUDGET = 62


def test_topup_job_budget(spark, pages, alias, tmp_path):
    root = str(tmp_path / "ckpt")
    run_checkpointed(spark, pages.limit(N_PAGES // 2), root,
                     alias_dict=alias, **CHUNKS)
    sc = spark.sparkContext
    sc.setJobGroup("topup-budget", "run_checkpointed top-up")
    try:
        out = run_checkpointed(spark, pages, root, alias_dict=alias,
                               **CHUNKS)
        structure_metrics(out["nodes"], out["edges"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("topup-budget"))
    assert n_jobs <= TOPUP_JOB_BUDGET
