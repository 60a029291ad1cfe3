"""Per-layer metrics of a traced run, named after the program's modules.

Every traced run reports every metric below; a layer a workload does
not run reads 0 there (the git layers on ``registry_mix``, the
operators on ``etl_mixed``). Times are sums over the run's timed
phases; ``*_s`` of a span name is its self time (the span's duration
minus what its child spans cover), except where noted.
"""

from __future__ import annotations

from workloads import OPERATOR_MODULES, PHASES, TABLES, median, tail

LAYER_METRICS: list[tuple[str, str]] = [
    ("host.canary_s", "s"),
    ("proc.peak_rss_mb", "MB"),
    ("cpu.total_s", "s"),
    ("cpu.jvm_jit_s", "s"),
    ("cpu.jvm_gc_s", "s"),
    ("session.get_spark_s", "s"),
    ("trace.timed_s", "s"),
    ("trace.unattributed_s", "s"),
    ("wall.cold_s", "s"),
    ("wall.warm_s", "s"),
    ("wall.query_p50_s", "s"),
    ("query.samples", "count"),
    ("query.tail_s", "s"),
    ("git_pipeline.self_s", "s"),
    ("git_pipeline.plan_s", "s"),
    ("git_pipeline.summary_s", "s"),
    ("git_log.current_branch_s", "s"),
    ("git_log.scan_s", "s"),
    ("git_log.parse_s", "s"),
    ("git_log.mb_parsed", "MB"),
    ("git_log.scan_parallelism", "ratio"),
    ("git_log.handoff_s", "s"),
    ("git_tags.scan_s", "s"),
    ("git_tags.df_s", "s"),
    ("language.detect_s", "s"),
    *[(f"upsert.write_staging.{t}_s", "s") for t in TABLES],
    *[(f"upsert.merge.{t}_s", "s") for t in TABLES],
    ("upsert.publish_s", "s"),
    ("upsert.cold.mb_written", "MB"),
    ("upsert.cold.files_written", "count"),
    ("upsert.warm.mb_written", "MB"),
    ("upsert.warm.files_written", "count"),
    ("upsert.append_mb", "MB"),
    ("upsert.write_amplification", "ratio"),
    ("upsert.warehouse_mb", "MB"),
    ("warehouse.query_s", "s"),
    *[(f"spark.{p}.{k}", "count") for p in PHASES
      for k in ("jobs", "stages", "tasks", "failed_tasks")],
    ("registry.build_s", "s"),
    ("registry.execute_s", "s"),
    *[(f"operators.{m}.{k}", u) for m in OPERATOR_MODULES
      for k, u in (("build_s", "s"), ("execute_s", "s"),
                   ("spark_jobs", "count"), ("spark_tasks", "count"))],
]

MB = 2**20


def per_layer(res: dict, tracer, get_spark_s: float) -> dict:
    v = {name: 0.0 for name, _ in LAYER_METRICS}
    agg = tracer.by_name()
    selfs = tracer.self_times()

    def self_s(name):
        return agg.get(name, {}).get("self_s", 0.0)

    v["host.canary_s"] = res["canary_s"]
    v["proc.peak_rss_mb"] = res["peak_rss_mb"]
    v["cpu.total_s"] = res["cpu"].total
    v["cpu.jvm_jit_s"] = res["cpu"].jit
    v["cpu.jvm_gc_s"] = res["cpu"].gc
    v["session.get_spark_s"] = get_spark_s
    v["trace.timed_s"] = res["timed_s"]
    roots = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    v["trace.unattributed_s"] = res["timed_s"] - roots
    v["wall.cold_s"] = res["cold_s"]
    v["wall.warm_s"] = res["warm_s"]
    v["wall.query_p50_s"] = median(res["query_s"])
    v["query.samples"] = len(res["lat"])
    v["query.tail_s"] = tail(res["lat"])[0]

    v["git_pipeline.self_s"] = self_s("git_pipeline.etl_repos")
    v["git_pipeline.plan_s"] = self_s("git_pipeline.plan")
    v["git_pipeline.summary_s"] = self_s("git_pipeline.summary")
    v["git_log.current_branch_s"] = self_s("git_log.current_branch")
    v["git_log.scan_s"] = self_s("git_log.scan")
    v["git_log.parse_s"] = self_s("git_log.parse")
    v["git_log.mb_parsed"] = sum(s.counts.get("bytes", 0) for s in tracer.spans) / MB
    df = agg.get("git_log.repo_commits_df")
    if df:
        v["git_log.scan_parallelism"] = agg["git_log.scan"]["total_s"] / df["total_s"]
    v["git_log.handoff_s"] = self_s("git_log.repo_commits_df")
    v["git_tags.scan_s"] = self_s("git_tags.scan")
    v["git_tags.df_s"] = self_s("git_tags.repo_tags_df")
    v["language.detect_s"] = self_s("language.ls_files") + self_s("language.detect")
    for i, s in enumerate(tracer.spans):
        if s.name in ("upsert.write_staging", "upsert.merge"):
            v[f"{s.name}.{s.counts['table']}_s"] += selfs[i]
    v["upsert.publish_s"] = self_s("upsert.publish")
    if "cold_written" in res:
        v["upsert.cold.mb_written"] = res["cold_written"][0] / MB
        v["upsert.cold.files_written"] = res["cold_written"][1]
        v["upsert.warm.mb_written"] = res["warm_written"][0] / MB
        v["upsert.warm.files_written"] = res["warm_written"][1]
        # the appended rows' share of the merged warehouse: what an
        # append-only write of the batch would have cost
        append = res["warm_size"] * res["append_share"]
        v["upsert.append_mb"] = append / MB
        v["upsert.write_amplification"] = res["warm_written"][0] / append
        v["upsert.warehouse_mb"] = res["warm_size"] / MB
    v["warehouse.query_s"] = self_s("warehouse.query")

    for p, counts in res["spark"].items():
        for k, n in counts.items():
            v[f"spark.{p}.{k}"] = n
    for q in res.get("per_query", {}).values():
        if q["phase"] != "warm":
            continue
        m = f"operators.{q['module']}"
        v["registry.build_s"] += q["build_s"]
        v["registry.execute_s"] += q["execute_s"]
        v[f"{m}.build_s"] += q["build_s"]
        v[f"{m}.execute_s"] += q["execute_s"]
        v[f"{m}.spark_jobs"] += q["spark"]["jobs"]
        v[f"{m}.spark_tasks"] += q["spark"]["tasks"]
    return {name: {"value": v[name], "unit": unit} for name, unit in LAYER_METRICS}
