"""The benchmark's declared workloads and metrics — the single source of
``BENCHMARK.json``. Regenerate it after editing this file:

    python3 perfbench/spec.py            # writes BENCHMARK.json at the repo root

Every end-to-end metric is reported by every workload; what the
workload-neutral names mean on each workload is tabled in README.md.
"""

from __future__ import annotations

import json
import os

WORKLOADS = [
    {
        "name": "survey_etl",
        "why": "the paper's yearly load: fresh wide survey CSVs to a star schema each year; "
        "per-job fixed cost, CSV parsing and writes dominate, the query caches are bypassed",
    },
    {
        "name": "query_mix",
        "why": "11 registry queries in one session, cold once then warm, beside a table writer; "
        "builder, planning, jobs per query, the memo/staging caches and the commit log dominate",
    },
]

# name, unit, better, bound (share of the parent's median it may worsen).
# Timings share the largest bound: on a shared 4-core host the same
# code's timings spread by up to ~0.15 of the median over ten seeds.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("warm_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("disk_mb", "MB", "lower", 0.1),
]

# name, unit, better — the per-layer metrics of traced runs. Every time
# here is exercised by both workloads, so none reads 0 on every run;
# counts, bytes and ratios of a layer only one workload drives read 0 on
# the other.
PER_LAYER = [
    # Spark scheduler, planner and executors
    ("scheduler.jobs", "count", "lower"),
    ("scheduler.stages", "count", "lower"),
    ("scheduler.tasks", "count", "lower"),
    ("scheduler.jobs_per_op", "count", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("executor.run_s", "s", "lower"),
    ("executor.cpu_s", "s", "lower"),
    ("executor.gc_s", "s", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("spill.bytes", "bytes", "lower"),
    ("scan.input_bytes", "bytes", "lower"),
    ("sink.output_bytes", "bytes", "lower"),
    ("cache.storage_bytes", "bytes", "lower"),
    # the package's public calls: building plans vs running the jobs
    ("api.build_s", "s", "lower"),
    ("api.materialize_s", "s", "lower"),
    # the benchmark process itself
    ("process.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
    # registry builders and their plan memo (query_mix)
    ("queries.builder_jobs", "count", "lower"),
    ("queries.memo_hit_ratio", "ratio", "higher"),
    # the transactional table's commit log and layout (query_mix writer)
    ("commit_backend.puts_per_commit", "count", "lower"),
    ("commit_backend.gets_per_commit", "count", "lower"),
    ("commit_backend.lists_per_commit", "count", "lower"),
    ("table.log_bytes", "bytes", "lower"),
    ("table.files_live", "count", "lower"),
    ("table.bytes_per_live_byte", "ratio", "lower"),
    ("predicate_prune.skip_ratio", "ratio", "higher"),
]

# name, unit — per-call breakdowns of one workload's layers. Traced runs
# print them (and save them under .perfbench_out/); they are not in
# BENCHMARK.json because they read 0 on the other workload.
BREAKDOWN = [
    ("pyworker.s", "s"),
    ("etl.first_load_s", "s"),
    ("etl.load_p50_s", "s"),
    ("etl.load_max_s", "s"),
    ("etl.rows_per_s", "rows/s"),
    ("sources.read_csv_s", "s"),
    ("plans.run_pipeline_s", "s"),
    ("plans.build_star_s", "s"),
    ("sources.write_star_s", "s"),
    ("query.cold_total_s", "s"),
    ("query.warm_total_s", "s"),
    ("query.warm_p50_s", "s"),
    ("query.warm_p90_s", "s"),
    ("queries.build_cold_s", "s"),
    ("queries.build_warm_s", "s"),
    ("staging.build_s", "s"),
    ("family.relational_s", "s"),
    ("family.analytics_s", "s"),
    ("family.llm_s", "s"),
    ("family.pipeline_s", "s"),
    ("family.table_s", "s"),
    ("table.commit_p50_s", "s"),
    ("table.commit_p90_s", "s"),
    ("table.read_p50_s", "s"),
    ("table.read_p90_s", "s"),
    ("table.append_s", "s"),
    ("table.merge_s", "s"),
    ("table.delete_dv_s", "s"),
    ("table.update_dv_s", "s"),
    ("table.compact_s", "s"),
    ("table.read_resolve_s", "s"),
    ("table.scan_s", "s"),
]

RUN_SECONDS = 12


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        json.dump(benchmark_json(), f, indent=2, ensure_ascii=False)
        f.write("\n")
