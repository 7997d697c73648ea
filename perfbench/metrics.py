"""What each per-layer metric is expected to move.  The metrics' names,
units and directions are declared once, in `BENCHMARK.json` at the
checkout root; run.py reads them from there.  A traced run copies this
map into its trace file under `moves`.
"""

from __future__ import annotations

# the registered queries the traced run times (layers.query_probes)
PROBE_QUERIES = ("q5_nation_volume", "doc_ngram_jaccard_pairs",
                 "doc_substring_dedup")

_TJ = "tile_join/job_s"
_SR = "staged_resume/job_s"

# per-layer metric -> the end-to-end metric (workload/metric) it should move
MOVES = {
    "kernels.inverse.pairs_per_s.b1k": _TJ,
    "kernels.inverse.pairs_per_s.b8k": _TJ,
    "kernels.inverse.pairs_per_s.b64k": _TJ,
    "kernels.direct.rows_per_s.b64k":
        "neither workload (direct is off both paths)",
    "operators.nearest.kernel_rows_per_s": f"{_TJ}; not {_SR}",
    "operators.nearest.inverse_pairs_per_row": f"{_TJ}; not {_SR}",
    "operators.nearest.stage_s": _TJ,
    "operators.tiling.stage_s": _TJ,
    "operators.cells.rows_per_s": _TJ,
    "udf.identity_rows_per_s": _TJ,
    "udf.python_s": f"{_TJ}, {_SR}",
    "spark.stages": _SR,
    "spark.tasks": _SR,
    "spark.executor_run_s": f"{_SR}, {_TJ}",
    "spark.executor_cpu_s": f"{_SR}, {_TJ}",
    "spark.gc_s": f"{_SR}, {_TJ}",
    "spark.shuffle_read_bytes": _SR,
    "spark.shuffle_write_bytes": _SR,
    "plans.lineage.build_s": _SR,
    "plans.lineage.bytes_written": _SR,
    "plans.lineage.n_files": _SR,
    "plans.lineage.resume_s": _SR,
    "plans.lineage.partition_lineage_s": _SR,
    "plans.lineage.verify_stage_s": _SR,
    "sources.images.generate_rows_per_s": _SR,
    "sources.images.decode_invariants_rows_per_s": _SR,
    **{f"queries.{q}_s": "neither workload (query layer watch)"
       for q in PROBE_QUERIES},
    "host.steal_frac": "nothing (host noise)",
}
