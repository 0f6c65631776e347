"""run_kg_pipeline extracts once per call: the records table is cached
for as long as the returned mapping lives, released when it is dropped,
and the edge filter on entity names (run_kg_pipeline and
records_to_graph) equals the merge_nodes filter."""

import gc
import os
import subprocess
import sys
import textwrap

import pytest

from graphgen_spark import synth
from graphgen_spark.operators.merge import merge_edges, merge_nodes
from graphgen_spark.operators.stats import coverage_by_url
from graphgen_spark.pipelines import (
    alias_labels,
    records_to_graph,
    run_kg_pipeline,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 40
CHUNKS = {"chunk_size": 256, "chunk_overlap": 32}


@pytest.fixture(scope="module")
def pages(spark):
    return synth.pages_df(spark, N_PAGES, 200).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def labels(spark):
    alias = synth.alias_dictionary_df(spark, 200)
    return alias_labels(alias).localCheckpoint(eager=True)


def counted(spark, pages):
    """pages behind an identity mapInPandas that counts the rows it
    passes: one kernel pass over the pages adds exactly N_PAGES."""
    acc = spark.sparkContext.accumulator(0)

    def count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return pages.mapInPandas(count, pages.schema), acc


def write_all(out) -> None:
    for df in (out["triples"], out["nodes"], out["edges"],
               coverage_by_url(out["triples"])):
        df.write.format("noop").mode("overwrite").save()


def is_cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return not cm.lookupCachedData(df._jdf).isEmpty()


def rows(df) -> set:
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


class TestOneKernelPass:
    @pytest.mark.parametrize("fused", [True, False])
    def test_every_output_reads_pages_once(self, spark, pages, fused):
        src, acc = counted(spark, pages)
        out = run_kg_pipeline(spark, src, fused=fused, **CHUNKS)
        write_all(out)
        assert acc.value == N_PAGES

    def test_dropped_result_releases_and_next_call_reextracts(
        self, spark, pages
    ):
        src, acc = counted(spark, pages)
        out = run_kg_pipeline(spark, src, fused=True, **CHUNKS)
        records = out["records"]
        write_all(out)
        assert is_cached(spark, records)
        del out
        gc.collect()
        assert not is_cached(spark, records)
        # same input frame, fresh call: nothing left to serve it
        out = run_kg_pipeline(spark, src, fused=True, **CHUNKS)
        write_all(out)
        assert acc.value == 2 * N_PAGES


class TestEdgeFilter:
    @pytest.mark.parametrize("fused", [True, False])
    @pytest.mark.parametrize("linked", [True, False])
    def test_edges_equal_merge_nodes_filter(
        self, spark, pages, labels, linked, fused
    ):
        out = run_kg_pipeline(
            spark, pages, precomputed_labels=labels if linked else None,
            fused=fused, **CHUNKS,
        )
        want = merge_edges(out["relations"], merge_nodes(out["entities"]))
        got = rows(out["edges"])
        assert got and got == rows(want)

    @pytest.mark.parametrize("linked", [True, False])
    def test_records_to_graph_edges_equal_merge_nodes_filter(
        self, spark, pages, labels, linked
    ):
        records = run_kg_pipeline(spark, pages, **CHUNKS)["records"]
        out = records_to_graph(records, labels if linked else None)
        want = merge_edges(out["relations"], merge_nodes(out["entities"]))
        got = rows(out["edges"])
        assert got and got == rows(want)

    def test_names_filter_drops_what_nodes_drop(self, spark):
        """The mock grammar declares every relation endpoint as an
        entity, so the pipeline never has a dangling endpoint; this
        case has one (D) and a name with two types (A)."""
        ents = spark.createDataFrame(
            [("A", "ORG", "a1", "c1"), ("A", "PERSON", "a2", "c2"),
             ("B", "ORG", "b1", "c1"), ("C", "ORG", "c", "c3")],
            "entity_name string, entity_type string, description string,"
            " source_id string",
        )
        rels = spark.createDataFrame(
            [("A", "B", "ab", "c1"), ("A", "C", "ac", "c3"),
             ("B", "D", "bd", "c1")],
            "src_id string, tgt_id string, description string,"
            " source_id string",
        )
        by_nodes = rows(merge_edges(rels, merge_nodes(ents)))
        by_names = rows(
            merge_edges(rels, ents.select("entity_name").distinct())
        )
        assert by_names == by_nodes
        assert {(r[0], r[1]) for r in by_names} == {("A", "B"), ("A", "C")}


SESSION_SCRIPT = textwrap.dedent("""
    import gc
    from graphgen_spark import synth
    from graphgen_spark.pipelines import run_kg_pipeline
    from graphgen_spark.session import get_spark

    spark = get_spark(master="local[2]", app_name="records_cache",
                      shuffle_partitions=4)
    cm = spark._jsparkSession.sharedState().cacheManager()
    pages = synth.pages_df(spark, 20, 200).localCheckpoint(eager=True)

    def run():
        out = run_kg_pipeline(spark, pages, fused=True,
                              chunk_size=256, chunk_overlap=32)
        out["triples"].count()
        out["edges"].count()
        return out

    out = run()
    print("CACHED", not cm.isEmpty())
    del out
    gc.collect()
    print("EMPTY", cm.isEmpty())
    dropped_after_stop, alive_at_exit = run(), run()
    spark.stop()
    del dropped_after_stop
    gc.collect()
    print("DONE")
""")


def test_release_in_a_fresh_process_and_clean_exit():
    """A whole session: the cache manager is empty once the mapping is
    dropped, and neither a mapping dropped after spark.stop() nor one
    still alive at exit writes a traceback."""
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", SESSION_SCRIPT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.split()
    assert lines[-5:] == ["CACHED", "True", "EMPTY", "True", "DONE"]
    assert "Traceback" not in proc.stderr, proc.stderr[-4000:]
