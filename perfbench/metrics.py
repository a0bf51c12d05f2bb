"""Metric names, units, which way is better, and which end-to-end metric
each layer metric should move on which workload. ``BENCHMARK.json``
lists the same names.

A traced run reports every per-layer metric; a layer its workload does
not reach reads 0.
"""

from __future__ import annotations

from .workloads import CURATE_STAGES, SUITE, UDF_FUNCTIONS

FRESH = ("extract_fresh",)
# extract_fresh's traced run times a resume after a kill (``resume_layers``)
RESUME = ("extract_fresh (resume pass)",)
CURATE = ("curate_staged",)
ALL = ("extract_fresh", "curate_staged")

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("wall_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("ok_ratio", "ratio", "higher", 0.01),
    ("output_ok", "flag", "higher", 0.01),
]

# name, unit, better, end-to-end metrics it should move, on which workloads
PER_LAYER: list[tuple[str, str, str, str, tuple[str, ...]]] = [
    *[(f"kernels.{k}_s", "s", "lower", "docs_per_s,cpu_s", FRESH)
      for k in ("tokenize", "classify", "assemble", "langid")],
    ("kernels.docs", "count", "lower", "docs_per_s,cpu_s", FRESH),
    ("kernels.blocks", "count", "lower", "docs_per_s,cpu_s", FRESH),
    ("kernels.bytes", "B", "lower", "docs_per_s,cpu_s", FRESH),
    *[(f"udf.{fn}_s", "s", "lower", "docs_per_s", FRESH) for fn in UDF_FUNCTIONS],
    ("sources.scan_noop_s", "s", "lower", "wall_s", FRESH),
    ("extract.boundary_noop_s", "s", "lower", "wall_s", FRESH),
    ("extract.normal_noop_s", "s", "lower", "wall_s", FRESH),
    ("staged.merge_by_key_s", "s", "lower", "wall_s", FRESH),
    ("staged.bytes_written", "B", "lower", "wall_s", FRESH),
    ("staged.files_written", "count", "lower", "wall_s", FRESH),
    ("pipeline.extract_overhead_s", "s", "lower", "wall_s", FRESH),
    ("pipeline.resume_plan_s", "s", "lower", "wall_s", RESUME),
    ("lineage.read_s", "s", "lower", "wall_s", RESUME),
    ("lineage.done_keys_s", "s", "lower", "wall_s", RESUME),
    ("lineage.files", "count", "lower", "wall_s", RESUME),
    ("pipeline.pruned_partitions", "count", "higher", "wall_s", RESUME),
    ("lineage.append_s", "s", "lower", "wall_s", ("curate_staged", "extract_fresh")),
    ("lineage.fingerprint_s", "s", "lower", "wall_s", ("curate_staged", "extract_fresh")),
    *[(f"curate.{st}_{k}", u, "lower", "wall_s", CURATE)
      for st in CURATE_STAGES for k, u in (("s", "s"), ("rows", "count"))],
    ("curate.kept_ratio", "ratio", "higher", "wall_s", CURATE),
    *[(f"query.{q}_s", "s", "lower", "wall_s",
       ("query_suite", "curate_staged (query pass)")) for q in SUITE],
    *[(f"spark.{k}", u, "lower", "wall_s,peak_rss_mb", CURATE)
      for k, u in (
          ("tasks", "count"),
          ("failed_tasks", "count"),
          ("input_bytes", "B"),
          ("shuffle_write_bytes", "B"),
          ("shuffle_read_bytes", "B"),
          ("spill_bytes", "B"),
          ("gc_s", "s"),
          ("task_skew_x1000", "x1000"),
      )],
    ("peak_rss_mb", "MB", "lower", "none (memory of the process tree)", ALL),
    ("session.start_s", "s", "lower", "setup_s", ALL),
    ("corpus.gen_s", "s", "lower", "none (generated before the set-up)", ALL),
    ("hw.busy_loop_tasks_per_s.pre", "1/s", "higher", "none (host context)", ALL),
    ("hw.busy_loop_tasks_per_s.post", "1/s", "higher", "none (host context)", ALL),
    ("trace.overhead_s", "s", "lower", "none (traced minus untraced wall_s)", ALL),
]
