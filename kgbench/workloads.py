"""The benchmark's workloads.

Each workload is a closed loop run by one driver process: it submits one
operation, waits for its complete result, then submits the next.  A
workload has four phases, in this order:

``prepare``   seeded inputs, plain Python, before the session starts
``warm_up``   the session's first jobs on a small input disjoint from
              the timed one: the first parquet read and a dictionary
              build.  The operations' own plans and the Python workers
              stay cold: one operation is mostly fixed per-job cost, so
              warming its plan shape would cost a whole extra operation
              per run, which the run budget cannot hold
``timed``     the measured operations, every call wrapped in a span
``check``     correctness gates, outside the timed phase; an operation
              whose output fails its gate counts as failed

The program is driven only through its public functions and receives
only the parquet tables written by ``prepare``.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import inputs
from graphgen_spark.datapipe.dedup import (
    exact_dedup,
    minhash_groups_oracle_sql,
    minhash_lsh_dedup,
    minhash_pairs_oracle_sql,
    minhash_verified_pairs,
    release_dedup_caches,
    simhash_dup_pairs,
    simhash_pairs_oracle_sql,
)
from graphgen_spark.extraction import find_relation_sentences
from graphgen_spark.operators.components import DRIVER_CC_MAX_EDGES
from graphgen_spark.operators.merge import MAX_MERGED_VALUES
from graphgen_spark.operators.stats import coverage_by_url, structure_metrics
from graphgen_spark.pipelines import alias_labels, run_kg_pipeline
from graphgen_spark.pipelines.materialize import run_checkpointed
from graphgen_spark.textkit import clean_str

CHUNK = {"chunk_size": 512, "chunk_overlap": 64}
PR_MIN = 0.95
DICT_BUILDS = 3
PAGE_COLS = ("url", "warc_ts", "html", "text", "lang")
GRAPH_TABLES = ("triples", "nodes", "edges", "coverage")

# functions the per-function profile split reports (extraction kernels)
PROFILED = ("html_to_text", "detect_main_language", "split_text",
            "mock_llm_response", "parse_extraction_response")


def write_counted(df: DataFrame, path: str) -> int:
    """Write ``df`` as parquet and return the rows written, observed on
    the rows as they were written."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite").parquet(path)
    return int(obs.get["n"])


def expected_triples(pages: dict, canon: dict) -> set:
    """Ground truth outside the pipeline: relation sentences on the
    whole page text, aliases resolved by the min-id alias rule
    (the rule of tests/test_pr_harness.py)."""
    out = set()
    for url, text in zip(pages["url"], pages["text"]):
        for src, verb, tgt, _sent in find_relation_sentences(text):
            s_norm = clean_str(src.upper())
            t_norm = clean_str(tgt.upper())
            s = canon.get(s_norm, s_norm)
            t = canon.get(t_norm, t_norm)
            if s == t:
                continue
            a, b = sorted((s, t))
            out.add((a, f"{src} {verb} {tgt}", b, url))
    return out


class Workload:
    """Shared state and bookkeeping of one workload run."""

    name = ""
    op_name = ""   # span name of one timed operation
    min_ops = 2
    n_entities = 0
    warm_entities = 300

    def __init__(self, seed: int, seconds: float, work: str):
        self.seconds = seconds
        self.work = work
        self.base = inputs.seed_base(seed)
        self.ops: list[dict] = []   # timed operations, in order
        self.attempted = 0
        self.failed = 0
        self.dict_prep_s = None
        self.counts: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def loop_done(self, t0: float) -> bool:
        return (len(self.ops) >= self.min_ops
                and time.perf_counter() - t0 >= self.seconds)

    def run_op(self, fn, *args) -> dict | None:
        """Run one timed operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # the loop must keep running
            import traceback

            traceback.print_exc()
            self.failed += 1
            print(f"# operation failed: {exc!r}", flush=True)
            return None

    def prepare(self) -> None:
        """The release dictionary (driver union-find side of the
        connected-components gate) and the warm-up inputs."""
        inputs.ensure_dir(self.path("in"))
        _, n = inputs.write_alias_dict(
            self.path("in", "alias.parquet"), self.n_entities)
        if n > DRIVER_CC_MAX_EDGES:
            raise ValueError("release dictionary must take the driver "
                             "CC path")
        self.counts["alias_rows"] = n
        inputs.write_alias_dict(
            self.path("in", "warm_alias.parquet"), self.warm_entities)

    def warm_up(self, spark, tr) -> None:
        self._labels(spark, tr, "warm_alias.parquet")

    def _labels(self, spark, tr, name: str) -> tuple[DataFrame, float]:
        """The dictionary's label table through ``alias_labels``."""
        alias = spark.read.parquet(self.path("in", name))
        with tr.span("components") as sp:
            labels = alias_labels(alias).localCheckpoint(eager=True)
        return labels, tr.wall(sp)

    def _timed_labels(self, spark, tr) -> DataFrame:
        """Build the release dictionary's labels ``DICT_BUILDS`` times,
        each from a fresh read, and keep the median build time: one
        build is a second or two of job latency, too short to be steady
        alone.  The last build's frame is returned."""
        self.attempted += 1
        walls = []
        for _ in range(DICT_BUILDS):
            labels, wall = self._labels(spark, tr, "alias.parquet")
            walls.append(wall)
        self.dict_prep_s = statistics.median(walls)
        return labels

    # -- end-to-end numbers ------------------------------------------
    def end_to_end(self) -> dict:
        """``batch_s.p50`` is the median of the operations after the
        first."""
        walls = [op["wall_s"] for op in self.ops]
        return {
            "dict_prep_s": self.dict_prep_s,
            "first_batch_s": walls[0],
            "batch_s.p50": statistics.median(walls[1:]),
            "triples_per_s": (
                sum(op["triples"] for op in self.ops) / sum(walls)
            ),
            "_batch_samples": walls[1:],
        }


class CrawlBatches(Workload):
    """Per-crawl-batch production path.  Each batch is curated, then
    extracted: exact, MinHash-LSH and SimHash near-duplicate detection
    over the page text, the kept pages landed as parquet, then
    ``run_kg_pipeline(fused=True, precomputed_labels=...)`` with
    map-side linking; triples, nodes, edges and per-url coverage of the
    batch are written as parquet."""

    name = "crawl_batches"
    op_name = "batch"
    n_entities = 4000
    batch_pages = 200
    dup_pages = 20     # re-crawled copies among each batch's pages
    max_batches = 8

    def prepare(self) -> None:
        super().prepare()
        for i in range(self.max_batches):
            inputs.write_pages(
                self.path("in", f"batch{i:02d}.parquet"),
                self.base + i * self.batch_pages, self.batch_pages,
                self.n_entities, dups=self.dup_pages)

    def _batch(self, spark, tr, labels, i: int) -> dict:
        pages_path = self.path("in", f"batch{i:02d}.parquet")
        kept_path = self.path("out", f"b{i}", "pages")
        res = {"pages_path": pages_path, "out": self.path("out", f"b{i}")}
        with tr.span(self.op_name) as sp:
            pages = spark.read.parquet(pages_path)
            docs = pages.select("doc_id", "text")
            with tr.span("curate"):
                with tr.span("dedup.exact"):
                    exact = {r[0] for r in exact_dedup(docs).where(
                        ~F.col("keep")).select("doc_id").collect()}
                with tr.span("dedup.minhash_pairs"):
                    res["minhash_pairs"] = {
                        tuple(r) for r in minhash_verified_pairs(docs)
                        .select("a", "b", "jaccard_micro").collect()}
                with tr.span("dedup.minhash_group"):
                    near = {r[0] for r in minhash_lsh_dedup(docs).where(
                        ~F.col("keep")).select("doc_id").collect()}
                with tr.span("dedup.simhash"):
                    res["simhash_pairs"] = {
                        tuple(r) for r in simhash_dup_pairs(docs)
                        .select("a", "b", "hamming").collect()}
                release_dedup_caches()
                res["dropped"] = exact | near
                kept = pages.where(
                    ~F.col("doc_id").isin(sorted(res["dropped"])))
                with tr.span("curate.write"):
                    kept.select(*PAGE_COLS).write.mode("overwrite").parquet(
                        kept_path)
            with tr.span("extract"):
                with tr.span("kg_pipeline.build"):
                    out = run_kg_pipeline(
                        spark, spark.read.parquet(kept_path),
                        precomputed_labels=labels, fused=True, **CHUNK)
                for key in GRAPH_TABLES:
                    df = (coverage_by_url(out["triples"])
                          if key == "coverage" else out[key])
                    with tr.span(f"write.{key}"):
                        res[key] = write_counted(
                            df, os.path.join(res["out"], key))
        res["wall_s"] = tr.wall(sp)
        return res

    def timed(self, spark, tr) -> None:
        t0 = time.perf_counter()
        labels = self._timed_labels(spark, tr)
        for i in range(self.max_batches):
            if self.loop_done(t0):
                break
            res = self.run_op(self._batch, spark, tr, labels, i)
            if res is not None:
                self.ops.append(res)

    def check(self, spark) -> None:
        """Per batch: the near-duplicate pair sets equal the program's
        DuckDB oracles over the same parquet; the dropped pages are the
        non-kept members of exact-copy groups (pure Python) and of the
        oracle's MinHash groups; the triples written for the kept pages
        have precision and recall >= 0.95 against the pure-Python ground
        truth, and their row count is the one observed while writing."""
        import duckdb
        import pyarrow.parquet as pq

        canon = inputs.canonical_key_map(self.n_entities)
        con = duckdb.connect()
        worst = (1.0, 1.0)
        for op in self.ops:
            con.execute(
                "CREATE OR REPLACE VIEW documents AS SELECT doc_id, text "
                f"FROM read_parquet('{op['pages_path']}')")
            mh = set(con.execute(minhash_pairs_oracle_sql()).fetchall())
            sh = set(con.execute(simhash_pairs_oracle_sql()).fetchall())
            near = {d for d, _g, keep in con.execute(
                minhash_groups_oracle_sql()).fetchall() if not keep}
            pages = pq.read_table(
                op["pages_path"], columns=["doc_id", "url", "text"]
            ).to_pydict()
            first: dict = {}
            for d, text in sorted(zip(pages["doc_id"], pages["text"])):
                first.setdefault(text, d)
            exact = {d for d, t in zip(pages["doc_id"], pages["text"])
                     if first[t] != d}
            dropped = exact | near
            kept = {"url": [], "text": []}
            for d, url, text in zip(pages["doc_id"], pages["url"],
                                    pages["text"]):
                if d not in dropped:
                    kept["url"].append(url)
                    kept["text"].append(text)
            triples = pq.read_table(
                os.path.join(op["out"], "triples"),
                columns=["subj", "pred", "obj", "url"]).to_pylist()
            got = {(r["subj"], r["pred"], r["obj"], r["url"])
                   for r in triples}
            exp = expected_triples(kept, canon)
            tp = len(got & exp)
            p = tp / len(got) if got else 0.0
            r = tp / len(exp) if exp else 0.0
            worst = (min(worst[0], p), min(worst[1], r))
            bad = [name for name, ok in (
                ("minhash pairs", op["minhash_pairs"] == mh),
                ("simhash pairs", op["simhash_pairs"] == sh),
                ("dropped pages", op["dropped"] == dropped),
                ("triple count", len(triples) == op["triples"]),
                ("precision", p >= PR_MIN),
                ("recall", r >= PR_MIN),
            ) if not ok]
            if bad:
                print(f"# gate failed: batch differs on {bad} "
                      f"(P={p:.4f} R={r:.4f})", flush=True)
                self.failed += 1
        con.close()
        print(f"# check: {sum(len(op['dropped']) for op in self.ops)} "
              f"duplicate pages dropped; lowest batch precision "
              f"{worst[0]:.4f}, recall {worst[1]:.4f} (gate {PR_MIN})",
              flush=True)


class CheckpointedTopup(Workload):
    """The durable release path: ``run_checkpointed`` builds page set A
    into an empty directory, then every later operation tops it up with
    a new page set B.  Each call extracts only the pages the manifests
    have not seen (composed operators: text, chunking, extraction),
    appends the stage tables and lineage, and rebuilds the release from
    the full records table: the label table of a 6k-entity dictionary
    linked through the JVM broadcast join, merged nodes and edges,
    triples and coverage, all written as parquet; ``structure_metrics``
    then runs over the written tables."""

    name = "checkpointed_topup"
    op_name = "release"
    n_entities = 6000
    first_pages = 120
    topup_pages = 80
    max_topups = 6

    def prepare(self) -> None:
        super().prepare()
        self.page_sets = [(self.base, self.first_pages)] + [
            (self.base + self.first_pages + i * self.topup_pages,
             self.topup_pages)
            for i in range(self.max_topups)]
        for i, (first, n) in enumerate(self.page_sets):
            inputs.write_pages(self.path("in", f"set{i:02d}.parquet"),
                               first, n, self.n_entities)

    def _release(self, spark, tr, alias, i: int) -> dict:
        ckpt = self.path("out", "release")
        paths = [self.path("in", f"set{j:02d}.parquet")
                 for j in range(i + 1)]
        t_start = time.time()
        res = {"pages_new": self.page_sets[i][1]}
        with tr.span(self.op_name) as sp:
            pages = spark.read.parquet(*paths).select(*PAGE_COLS)
            with tr.span("materialize"):
                out = run_checkpointed(spark, pages, ckpt, alias_dict=alias,
                                       **CHUNK)
            with tr.span("stats.structure"):
                res["structure"] = structure_metrics(out["nodes"],
                                                     out["edges"])
        res["wall_s"] = tr.wall(sp)
        # what the call left on disk: files it wrote and the final tables
        written = [os.path.join(d, f) for d, _, fs in os.walk(ckpt)
                   for f in fs]
        written = [p for p in written if os.path.getmtime(p) >= t_start]
        res["files_written"] = len(written)
        res["bytes_written"] = sum(os.path.getsize(p) for p in written)
        res["final_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for t in GRAPH_TABLES
            for d, _, fs in os.walk(os.path.join(ckpt, t)) for f in fs)
        res["rows"] = {k: _rows(os.path.join(ckpt, k), c)
                       for k, c in GRAPH_COLS.items()}
        res["triples"] = len(res["rows"]["triples"])
        return res

    def timed(self, spark, tr) -> None:
        t0 = time.perf_counter()
        self._timed_labels(spark, tr)
        alias = spark.read.parquet(self.path("in", "alias.parquet"))
        for i in range(len(self.page_sets)):
            if self.loop_done(t0):
                break
            res = self.run_op(self._release, spark, tr, alias, i)
            if res is None:
                break   # a later top-up would resume a broken tree
            self.ops.append(res)

    def check(self, spark) -> None:
        """After every call, the triples, nodes and edges tables it
        left equal a pure-Python build from the records of every page
        set so far: triples as an exact multiset, nodes by (name,
        majority type, mentions, source ids), edges by (endpoints,
        mentions, source ids).  Descriptions are left out: they pass
        the summary gate's truncation."""
        if not self.ops:
            return
        canon = inputs.canonical_key_map(self.n_entities)
        records: list = []
        for i, op in enumerate(self.ops):
            first, n = self.page_sets[i]
            records += inputs.record_rows(first, n, self.n_entities,
                                          **CHUNK)
            expected = expected_graph(records, canon)
            got = {"triples": Counter(op["rows"]["triples"]),
                   "nodes": set(op["rows"]["nodes"]),
                   "edges": set(op["rows"]["edges"])}
            bad = [k for k in got if got[k] != expected[k]]
            if bad:
                print(f"# gate failed: call {i} differs on {bad}",
                      flush=True)
                self.failed += 1
        print(f"# check: release after {len(self.ops)} calls vs "
              f"pure-Python build of {sum(expected['triples'].values())} "
              f"triples, {len(expected['nodes'])} nodes, "
              f"{len(expected['edges'])} edges", flush=True)


GRAPH_COLS = {
    "triples": ("subj", "pred", "obj", "chunk_id", "url"),
    "nodes": ("entity_name", "entity_type", "n_mentions", "source_ids"),
    "edges": ("src_id", "tgt_id", "n_mentions", "source_ids"),
}


def _rows(path: str, cols: tuple) -> list[tuple]:
    """Rows of a parquet table as tuples (list cells become tuples)."""
    import pyarrow.parquet as pq

    d = pq.read_table(path, columns=list(cols)).to_pydict()
    return [
        tuple(tuple(v) if isinstance(v, list) else v for v in row)
        for row in zip(*(d[c] for c in cols))
    ]


def expected_graph(records: list, canon: dict) -> dict:
    """Triples, node keys and edge keys the release must hold when it
    is built from ``records`` and every alias links to ``canon``."""
    triples = Counter()
    types: dict = {}
    node_srcs: dict = {}
    edge_srcs: dict = {}
    for cid, url, kind, f1, f2, f3 in records:
        if kind == "entity":
            name = canon.get(f1, f1)
            types.setdefault(name, Counter())[f2] += 1
            node_srcs.setdefault(name, []).append(cid)
        elif kind == "relationship":
            s, t = canon.get(f1, f1), canon.get(f2, f2)
            if s == t:
                continue
            a, b = min(s, t), max(s, t)
            triples[(a, f3, b, cid, url)] += 1
            edge_srcs.setdefault((a, b), []).append(cid)

    def capped(srcs):
        return tuple(sorted(set(srcs))[:MAX_MERGED_VALUES])

    nodes = {
        (name, min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0],
         len(node_srcs[name]), capped(node_srcs[name]))
        for name, c in types.items()
    }
    edges = {
        (a, b, len(srcs), capped(srcs))
        for (a, b), srcs in edge_srcs.items()
        if a in types and b in types
    }
    return {"triples": triples, "nodes": nodes, "edges": edges}


WORKLOADS = {w.name: w for w in (CrawlBatches, CheckpointedTopup)}
