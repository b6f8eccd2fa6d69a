"""The benchmark's workloads and metrics, the single source for both the
runner and ``BENCHMARK.json``.

``python3 perfbench/spec.py`` prints the BENCHMARK.json this spec defines.
"""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
RUN_SECONDS = 3
SF = 0.01  # input scale: 60000 lineitems, 500 documents (perfbench/gen.py)

# Why sentences: the layer shares are from one traced run per workload
# (perfbench/README.md, "Where the time goes").
WORKLOADS = {
    "etl_star": (
        "write path: full star builds, memo cleared, so every build misses the cache; "
        "traced: 76 one-task Spark jobs a build, 59% of its wall inside them, executors 11% busy"
    ),
    "bi_reports": (
        "read path: seeded rounds of the 15 reports over a warehouse built in set-up, so each "
        "hits it; traced: 54% of a report is driver-side (17% construction, 5% Catalyst)"
    ),
    "corpus_curation": (
        "LLM-data path: passes of 8 curation, dedup and quality steps over documents and "
        "embeddings; traced: 53% of a step is Python-side frame construction, 31% in Spark jobs"
    ),
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "latency_p50_ms": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
    "ok_op_ratio": ("ratio", "higher", 0.01),
}

REPORTS = (
    "report_r01_top_year", "report_r02_recent_years_pivot",
    "report_r03_top_countries_quarters", "report_r04_avg_revenue",
    "report_r05_customers_per_country", "report_r06_customer_type_counts",
    "report_r07_top_customer_countries_revenue", "report_r08_quarterly_product",
    "report_r09_units_pivot", "report_r10_type_split",
    "report_r11_monthly_latest_year", "report_r12_top_country_years",
    "report_r13_rollup_totals", "report_r14_year_range", "report_r15_summary_kpis",
)
CORPUS_STEPS = (
    "ext_curation_pipeline", "ext_dedup_minhash_survivors", "ext_dedup_exact",
    "ext_dedup_substring", "ext_dedup_semantic", "ext_decontamination_bloom",
    "ext_repetition_signals", "ext_c4_filters",
)

# Span kinds whose self time is reported (perfbench/spans.py).
SELF_KINDS = ("op", "construct", "plan", "execute", "etl.dims", "etl.fact", "job")

# Layer metrics, per timed op unless the name says otherwise: name -> unit.
LAYERS = {
    "session.start_s": "s",
    "queries.construct_s": "s",
    "queries.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plans.exchanges": "count",
    "plans.single_partition_exchanges": "count",
    "plans.python_nodes": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sched_delay_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "sources.load_table_calls": "count",
    "sources.input_bytes": "B",
    "sources.records_read_per_result_row": "ratio",
    "etl.dims_s": "s",
    "etl.fact_s": "s",
    "etl.output_bytes": "B",
    "etl.files_written": "count",
    "jvm.heap_old_gen_peak_mb": "MB",
    "jvm.heap_live_mb": "MB",
    **{f"span.{k}.self_s": "s" for k in SELF_KINDS},
    "op.build_star_s": "s",
    **{
        f"op.{q}{part}": "s"
        for q in REPORTS + CORPUS_STEPS
        for part in ("_s", ".construct_s", ".plan_s", ".execute_s")
    },
}


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": "lower"} for n, u in LAYERS.items()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
