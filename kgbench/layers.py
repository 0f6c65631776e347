"""Per-layer metrics of a traced run, and the end-to-end metric each one
should move.

Layer names are the program's module names.  A per-operation number
(one crawl batch, one checkpointed call) is the median over the run's
timed operations; a run-level number covers the whole timed phase.  A
layer that a workload does not call reads 0; a number the Spark
version does not expose reads ``None`` (missing).
"""

from __future__ import annotations

import statistics

from spans import StatusStore, Tracer, profile_split
from workloads import PROFILED

CB, CT = "crawl_batches", "checkpointed_topup"
# per-layer metric -> (end-to-end metric it should move, workload where
# the layer does most of its work)
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "session.warmup_s": ("setup_s", "all"),
    "inputs.generate_s": ("setup_s", "all"),
    "kg_pipeline.build_s": ("first_batch_s, batch_s.p50", CB),
    "kg_pipeline.build_jobs": ("first_batch_s", CB),
    "kg_pipeline.jobs": ("first_batch_s, batch_s.p50", "all"),
    "kg_pipeline.stages": ("first_batch_s, batch_s.p50", "all"),
    "kg_pipeline.tasks": ("first_batch_s, batch_s.p50", "all"),
    "kg_pipeline.driver_only_s": ("first_batch_s, batch_s.p50", "all"),
    "components.s": ("dict_prep_s", "all"),
    "components.jobs": ("dict_prep_s", "all"),
    "components.edges_in": ("dict_prep_s", "all"),
    # 0 while both dictionaries take the driver union-find path
    "components.shuffle_write_bytes": ("dict_prep_s", "all"),
    "linking.s": ("batch_s.p50", CT),
    "linking.label_rows": ("batch_s.p50", CT),
    "merge.nodes_s": ("batch_s.p50, triples_per_s", "all"),
    "merge.edges_s": ("batch_s.p50, triples_per_s", "all"),
    "merge.shuffle_read_bytes": ("batch_s.p50", "all"),
    "merge.shuffle_write_bytes": ("batch_s.p50", "all"),
    "merge.spill_bytes": ("batch_s.p50", "all"),
    "merge.python_run_s": ("batch_s.p50", CB),
    "merge.task_skew": ("batch_s.p50", "all"),
    "stats.coverage_s": ("batch_s.p50", "all"),
    "stats.structure_s": ("batch_s.p50", CT),
    "materialize.s": ("first_batch_s, batch_s.p50 (top-up)", CT),
    "materialize.bytes_written": ("batch_s.p50 (top-up)", CT),
    "materialize.files_written": ("batch_s.p50 (top-up)", CT),
    "materialize.write_amplification": ("batch_s.p50 (top-up)", CT),
    "materialize.topup_work_ratio": ("batch_s.p50 (top-up)", CT),
    "dedup.exact_s": ("first_batch_s, batch_s.p50", CB),
    "dedup.minhash_pairs_s": ("first_batch_s, batch_s.p50", CB),
    "dedup.minhash_group_s": ("first_batch_s, batch_s.p50", CB),
    "dedup.simhash_s": ("first_batch_s, batch_s.p50", CB),
    "dedup.candidate_pairs": ("batch_s.p50", CB),
    "dedup.verified_pairs": ("batch_s.p50", CB),
    "dedup.verify_yield": ("batch_s.p50", CB),
    "dedup.shuffle_write_bytes": ("batch_s.p50", CB),
    "dedup.spill_bytes": ("batch_s.p50", CB),
    "dedup.python_run_s": ("batch_s.p50", CB),
    "op.self_s": ("batch_s.p50", "all"),
    "timed.wall_s": ("all", "all"),
    "timed.driver_s": ("all", "all"),
}
for _m in ("python_run_s", "python_bytes_in", "python_bytes_out",
           "python_passes", "records_out", "task_max_s", "task_p50_s"):
    MOVES[f"fused.{_m}"] = ("triples_per_s, batch_s.p50", CB)
for _fn in PROFILED:
    MOVES[f"fused.profile.{_fn}_s"] = ("triples_per_s, batch_s.p50", "all")
for _m in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
           "gc_s", "python_run_s", "shuffle_read_bytes",
           "shuffle_write_bytes", "spill_bytes"):
    MOVES[f"spark.{_m}"] = ("all", "all")


def _med(values):
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else None


def _candidate_pairs(spark, ops) -> list:
    """LSH candidate pairs of each curated batch, counted after the
    timed phase (the timed calls do not expose them)."""
    from graphgen_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        release_dedup_caches,
    )

    out = []
    for op in ops:
        docs = spark.read.parquet(op["pages_path"]).select("doc_id", "text")
        out.append(lsh_candidate_pairs(docs).count())
        release_dedup_caches()
    return out


def layer_metrics(spark, tr: Tracer, wl, epoch_offset: float) -> dict:
    store = StatusStore(spark)

    def rec(spans, tables=None):
        if not spans:
            return None
        groups = {d["group"] for s in spans for d in tr.descendants(s)}
        lo = min(s["start"] for s in spans)
        hi = max(s["end"] for s in spans)
        return store.record(groups, lo, hi, epoch_offset,
                            label_rows=wl.counts["alias_rows"],
                            tables=tables)

    def val(r, key):
        """``r[key]``; 0 where the layer's spans did not run."""
        return 0.0 if r is None else r[key]

    timed = tr.by_name("timed")[0]
    top = tr.children(timed)
    ops = [s for s in top if s["name"] == wl.op_name]
    comps = [s for s in top if s["name"] == "components"]

    def under(op, name):
        return [s for s in tr.descendants(op) if s["name"] == name]

    def walls(op, name):
        return sum(tr.wall(s) for s in under(op, name))

    per_op = []
    for op, res in zip(ops, wl.ops):
        whole = rec([op])
        # the kg part of a crawl batch; the whole call elsewhere
        kg = rec(under(op, "extract")) or whole
        merge = rec([op], tables={"nodes", "edges"})
        build = rec(under(op, "kg_pipeline.build"))
        dedup = rec([s for s in tr.descendants(op)
                     if s["name"].startswith("dedup.")])
        # write.triples runs the extraction kernel exactly once, so its
        # kernel output is the records of one pass over the batch
        one_pass = val(rec(under(op, "write.triples")), "mip_rows_out")

        def kernel(value):
            """``value`` where the kernel ran, 0 where it did not."""
            if one_pass is None or value is None:
                return None
            return value if one_pass else 0.0

        per_op.append({
            "fused.python_run_s": kernel(kg["mip_run_s"]),
            "fused.python_bytes_in": kernel(kg["mip_bytes_in"]),
            "fused.python_bytes_out": kernel(kg["mip_bytes_out"]),
            "fused.python_passes": kernel(
                kg["mip_rows_out"] / (one_pass or 1)
                if kg["mip_rows_out"] is not None else None),
            "fused.records_out": one_pass,
            "fused.task_max_s": kernel(kg["top_stage_task_max_s"]),
            "fused.task_p50_s": kernel(kg["top_stage_task_p50_s"]),
            "kg_pipeline.build_s": walls(op, "kg_pipeline.build"),
            "kg_pipeline.build_jobs": val(build, "jobs"),
            "kg_pipeline.jobs": kg["jobs"],
            "kg_pipeline.stages": kg["stages"],
            "kg_pipeline.tasks": kg["tasks"],
            "kg_pipeline.driver_only_s": whole["driver_only_s"],
            "linking.s": whole["label_broadcast_s"],
            "linking.label_rows": whole["label_broadcast_rows"],
            "merge.nodes_s": whole["writes"]["nodes"],
            "merge.edges_s": whole["writes"]["edges"],
            "merge.shuffle_read_bytes": merge["shuffle_read_bytes"],
            "merge.shuffle_write_bytes": merge["shuffle_write_bytes"],
            "merge.spill_bytes": merge["spill_bytes"],
            "merge.python_run_s": merge["python_run_s"],
            "merge.task_skew": merge["reduce_task_skew"],
            "stats.coverage_s": whole["writes"]["coverage"],
            "stats.structure_s": walls(op, "stats.structure"),
            "materialize.s": walls(op, "materialize"),
            "materialize.bytes_written": res.get("bytes_written", 0.0),
            "materialize.files_written": res.get("files_written", 0.0),
            "materialize.write_amplification": (
                res["bytes_written"] / res["final_bytes"]
                if res.get("final_bytes") else 0.0),
            "dedup.exact_s": walls(op, "dedup.exact"),
            "dedup.minhash_pairs_s": walls(op, "dedup.minhash_pairs"),
            "dedup.minhash_group_s": walls(op, "dedup.minhash_group"),
            "dedup.simhash_s": walls(op, "dedup.simhash"),
            "dedup.verified_pairs": len(res.get("minhash_pairs", ())),
            "dedup.shuffle_write_bytes": val(dedup, "shuffle_write_bytes"),
            "dedup.spill_bytes": val(dedup, "spill_bytes"),
            "dedup.python_run_s": val(dedup, "python_run_s"),
            "op.self_s": tr.self_time(op),
            "_text_udf_rows": whole["text_udf_rows"],
        })
    out = {k: _med(r[k] for r in per_op) for k in per_op[0]
           if not k.startswith("_")}
    # jobs launched inside the pipeline call, summed over the run: the
    # label count, collect and broadcast happen on the first batch only
    out["kg_pipeline.build_jobs"] = sum(r["kg_pipeline.build_jobs"]
                                        for r in per_op)
    # pages sent through text extraction by a top-up call, per new page
    out["materialize.topup_work_ratio"] = _med(
        r["_text_udf_rows"] / res["pages_new"]
        for r, res in zip(per_op[1:], wl.ops[1:]) if "pages_new" in res
    ) or 0.0
    if "minhash_pairs" in wl.ops[0]:
        cands = _candidate_pairs(spark, wl.ops)
        out["dedup.candidate_pairs"] = statistics.median(cands)
        out["dedup.verify_yield"] = statistics.median(
            len(res["minhash_pairs"]) / c if c else 0.0
            for res, c in zip(wl.ops, cands))
    else:
        out["dedup.candidate_pairs"] = out["dedup.verify_yield"] = 0.0

    per_build = [(tr.wall(c), rec([c])) for c in comps]
    out.update({
        "components.s": _med(w for w, _ in per_build),
        "components.jobs": _med(r["jobs"] for _, r in per_build),
        "components.edges_in": wl.counts["alias_rows"],
        "components.shuffle_write_bytes": _med(
            r["shuffle_write_bytes"] for _, r in per_build),
    })
    for name in ("session.start", "session.warmup", "inputs.generate"):
        out[f"{name}_s"] = sum(tr.wall(s) for s in tr.by_name(name))

    everything = rec(top)
    out.update({
        "spark.jobs": everything["jobs"],
        "spark.stages": everything["stages"],
        "spark.tasks": everything["tasks"],
        "spark.executor_run_s": everything["run_s"],
        "spark.executor_cpu_s": everything["cpu_s"],
        "spark.gc_s": everything["gc_s"],
        "spark.python_run_s": everything["python_run_s"],
        "spark.shuffle_read_bytes": everything["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": everything["shuffle_write_bytes"],
        "spark.spill_bytes": everything["spill_bytes"],
        "timed.wall_s": tr.wall(timed),
        # the part of the timed wall no top-level span covers
        "timed.driver_s": tr.self_time(timed),
    })
    prof = profile_split(spark, PROFILED)
    for fn, v in prof.items():
        out[f"fused.profile.{fn}_s"] = v / len(ops) if v is not None else None
    return out
