"""The benchmark's workloads: inputs, timed phases, checks and metrics.

Both workloads are a closed loop with one client in one process: each
operation starts when the previous one has returned.

``etl_mixed``
    The paper's git ETL (``plans.git_pipeline.etl_repos``) over one
    large repository beside many small ones, so both the per-commit
    path (one long ``git log``, the parse, the dict-to-JVM hand-off)
    and the per-repo path (``git`` subprocesses per repo, the scan
    fan-out, the serial tag and language loops) carry real weight.
    Phases: empty warehouse -> ``etl_repos`` (cold), append batch ->
    ``etl_repos`` (the merge path), then rounds of the declared D3-D7
    queries over the warehouse (at least ``QUERY_ROUNDS``, more while
    the run has seconds left).

``registry_mix``
    bench.py's flagship query in a fresh session (cold), then a mix of
    its headline queries, each timed once as build plus ``collect()``,
    then the flagship again (at least ``FLAGSHIP_RERUNS`` times, more
    while the run has seconds left). Once in the mix, so memo builds
    are billed the way a user pays them; collect, because that is what
    a caller of the registry pays and the oracle check needs the rows.

Every timed phase starts from a collected heap and a quiet process tree
(``quiesce``), and CPU is counted outside the JVM's garbage collector
(``proc.Cpu.no_gc``): both keep one phase's leftovers out of the next.

No git layer runs in ``registry_mix`` and no registry query in
``etl_mixed``: each is the other's control.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import corpus
import gitgen
import proc
from spans import Span

# -- sizes -------------------------------------------------------------
BIG_COMMITS = 2400
SMALL_REPOS = 30
SMALL_COMMITS = 40
APPEND_BIG = 24  # ~1% of all commits, plus one tag per touched repo
APPEND_SMALL_REPOS = 4
APPEND_SMALL = 12
QUERY_ROUNDS = 4  # D3-D7 rounds per run at least; query metrics are per-round means

# bench.py's first warm-up query and the registry's flagship; its first
# run in the session pays the JVM's warm-up
FLAGSHIP = "join_multiway_regional_revenue"
WARMUP = [FLAGSHIP]
FLAGSHIP_RERUNS = 4  # the flagship again after the mix; query metrics are their means
# one of bench.py's headline queries from each operator module (the
# flagship is timed on its own). Left out, to fit a run:
# the seven slowest headline queries at this scale
# (dedup_semantic_clusters, pipeline_leakage_safe_split, simsearch_ivf,
# graph_components_large_star, dedup_ngram_jaccard,
# streaming_hourly_agg_replay, dedup_minhash_lsh: ~35 s together, and
# their many short eager jobs swing with host load the most), and a
# second query of a module (tpch_q9_product_profit, agg_salted_two_phase)
MIX = [
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "agg_customer_order_stats",
    "window_running_total",
    "join_broadcast_lookup",
    "setop_union_distinct",
    "dedup_exact_rebuild",
    "simsearch_topk_bruteforce",
    "text_tfidf_top_terms",
    "events_sessionize",
    "udf_grouped_running_value",
    "multimodal_decode_features",
    "pipeline_corpus_curation",
]
OPERATOR_MODULES = sorted({
    "joins", "relational_ext", "tpch_subqueries", "tpch_more", "aggregates",
    "windows", "setops", "dedup", "similarity", "text", "events", "udfs",
    "multimodal", "curation",
})
TABLES = ("commits", "file_changes", "authors", "repos", "tags")
PHASES = ("cold", "warm", "query")


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 21 samples that percentile is not above
    the median, so the maximum is reported instead."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) > 20 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks run under one job group."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


def dir_stats(path: str, since_ns: int = 0) -> tuple[int, int]:
    """(bytes, files) under ``path`` written at or after ``since_ns``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
                files += 1
    return total, files


# -- ETL ---------------------------------------------------------------
def d3_d7(spark, wh: str):
    """The reference's declared warehouse queries (SURVEY §2.5 D3-D7),
    each with a total order so its rows are deterministic."""
    from pyspark.sql import functions as F

    def t(name):
        return spark.read.parquet(os.path.join(wh, name))

    return {
        "d3_commits_per_day": lambda: t("commits")
        .groupBy(F.to_date("committed_at").alias("day"))
        .agg(F.count("*").alias("n"), F.sum("additions").alias("a"),
             F.sum("deletions").alias("d"))
        .orderBy(F.desc("n"), "day").limit(10),
        "d4_hot_files": lambda: t("file_changes")
        .groupBy("repo_name", "file_path")
        .agg(F.count("*").alias("n"), F.sum("additions").alias("a"),
             F.sum("deletions").alias("d"))
        .orderBy(F.desc("n"), "repo_name", "file_path").limit(20),
        "d5_commits_per_repo": lambda: t("commits").groupBy("repo_name").count()
        .orderBy("repo_name"),
        "d6_tags_per_repo": lambda: t("tags").groupBy("repo_name")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("is_annotated").cast("int")).alias("annotated"))
        .orderBy("repo_name"),
        "d7_author_leaderboard": lambda: t("authors")
        .select("email", "total_commits")
        .orderBy(F.desc("total_commits"), "email"),
    }


def d3_d7_expected(exp: gitgen.Expected) -> dict[str, list[tuple]]:
    days = sorted(exp.days.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    files = sorted(exp.files.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    tags: dict[str, list[int]] = {}
    for (repo, _), (annotated, _) in exp.tags.items():
        gitgen.accumulate(tags, repo, (1, int(annotated)))
    return {
        "d3_commits_per_day": [(d, *v) for d, v in days],
        "d4_hot_files": [(*k, *v) for k, v in files],
        "d5_commits_per_repo": sorted(exp.commits.items()),
        "d6_tags_per_repo": [(r, *v) for r, v in sorted(tags.items())],
        "d7_author_leaderboard": sorted(exp.author_commits.items(),
                                        key=lambda kv: (-kv[1], kv[0])),
    }


def _plain(row) -> tuple:
    return tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in row)


def check_warehouse(wh: str, exp: gitgen.Expected) -> list[str]:
    """Compare the five tables with the generator's expectations, read
    through pyarrow so the check shares no code with the engine."""
    import pyarrow.parquet as pq

    t = {name: pq.read_table(os.path.join(wh, name)).to_pylist() for name in TABLES}
    errors = []

    def expect(what, got, want):
        if got != want:
            errors.append(f"{what}: got {str(got)[:200]} want {str(want)[:200]}")

    commits = t["commits"]
    expect("commits rows", len(commits), sum(exp.commits.values()))
    expect("commits per repo", dict(Counter(c["repo_name"] for c in commits)),
           dict(exp.commits))
    expect("additions", sum(c["additions"] for c in commits), exp.additions)
    expect("deletions", sum(c["deletions"] for c in commits), exp.deletions)
    expect("merges", sum(c["is_merge"] for c in commits), exp.merges)
    expect("file_changes rows", len(t["file_changes"]), exp.file_changes)
    expect("file_changes additions", sum(f["additions"] for f in t["file_changes"]),
           exp.additions)
    expect("authors", {a["email"]: (a["name"], a["total_commits"]) for a in t["authors"]},
           {e: (exp.author_names[e], n) for e, n in exp.author_commits.items()})
    expect("repos", {r["name"]: r["total_commits"] for r in t["repos"]},
           dict(exp.commits))
    expect("tags", {(g["repo_name"], g["tag_name"]): (g["is_annotated"], g["sha"])
                    for g in t["tags"]}, exp.tags)
    return errors


class EtlMixed:
    name = "etl_mixed"

    def prepare(self, work: str, seed: int) -> None:
        with ThreadPoolExecutor(max_workers=1) as pool:
            big = pool.submit(gitgen.build_repo, os.path.join(work, "repos", "big"),
                              seed, BIG_COMMITS, APPEND_BIG)
            small, s_base, s_extra = gitgen.build_repos(
                os.path.join(work, "repos"), seed, SMALL_REPOS, SMALL_COMMITS,
                APPEND_SMALL_REPOS, APPEND_SMALL)
            big, b_base, b_extra = big.result()
        self.repos = [big, *small]
        self.base = b_base.merged(s_base)
        self.full = self.base.merged(b_extra).merged(s_extra)
        self.wh = os.path.join(work, "warehouse")

    def run(self, spark, seconds: float, trace) -> dict:
        from git_etl_spark.plans.git_pipeline import etl_repos

        if trace is not None:
            etl_repos = trace.wrap(etl_repos, "git_pipeline.etl_repos")
        sc = spark.sparkContext
        paths = [r.path for r in self.repos]
        attempted = failed = 0
        errors: list[str] = []
        out: dict = {}

        def etl(phase: str, exp: gitgen.Expected) -> tuple[float, proc.Cpu]:
            """Wall seconds and CPU use of one ``etl_repos`` call."""
            nonlocal attempted, failed
            sc.setJobGroup(phase, phase)
            quiesce(spark)
            since = time.time_ns()
            c0 = proc.cpu()
            t0 = time.perf_counter()
            try:
                report = etl_repos(spark, paths, self.wh)
                ok = not report["failed"] and len(report["processed"]) == len(paths)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                report, ok = {"failed": [repr(exc)]}, False
            elapsed = time.perf_counter() - t0
            cpu = proc.cpu() - c0
            attempted += 1
            # the check reads the warehouse outside the timed phase
            errs = check_warehouse(self.wh, exp) if ok else [f"{phase}: {report['failed']}"]
            errors.extend(f"{phase}: {e}" for e in errs)
            failed += bool(errs)
            out[f"{phase}_written"] = dir_stats(self.wh, since)
            out[f"{phase}_size"] = dir_stats(self.wh)[0]
            return elapsed, cpu

        out["cold_s"], cold = etl("cold", self.base)
        for r in self.repos:
            r.append()
        out["warm_s"], warm = etl("warm", self.full)
        timed = out["cold_s"] + out["warm_s"]

        queries = d3_d7(spark, self.wh)
        expected = d3_d7_expected(self.full)
        sc.setJobGroup("query", "query")
        lat: list[float] = []
        rounds: list[float] = []
        rounds_cpu: list[proc.Cpu] = []
        quiesce(spark)
        while len(rounds) < QUERY_ROUNDS or timed < seconds:
            rounds.append(0.0)
            c0 = proc.cpu()
            for qname, q in queries.items():
                with trace.span("warehouse.query") if trace else nullcontext():
                    t0 = time.perf_counter()
                    try:
                        rows = [_plain(r) for r in q().collect()]
                    except Exception as exc:  # noqa: BLE001
                        rows = repr(exc)
                    dt = time.perf_counter() - t0
                lat.append(dt)
                rounds[-1] += dt
                timed += dt
                attempted += 1
                if rows != expected[qname]:
                    failed += 1
                    errors.append(f"{qname}: got {str(rows)[:200]}")
            rounds_cpu.append(proc.cpu() - c0)
        log_cpu("cold", [cold])
        log_cpu("warm", [warm])
        log_cpu("query rounds", rounds_cpu)
        n_full = sum(self.full.commits.values())
        out["append_share"] = (n_full - sum(self.base.commits.values())) / n_full
        out.update(cold_cpu_s=cold.no_gc, warm_cpu_s=warm.no_gc,
                   query_cpu_s=mean([c.no_gc for c in rounds_cpu]),
                   cpu=sum_cpu([cold, warm, *rounds_cpu]),
                   lat=lat, query_s=rounds, timed_s=timed,
                   attempted=attempted, failed=failed, errors=errors,
                   spark={p: spark_counts(sc, p) for p in PHASES})
        return out


# -- registry ----------------------------------------------------------
class RegistryMix:
    name = "registry_mix"

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = corpus.write_corpus(os.path.join(work, "corpus"), seed)

    def run(self, spark, seconds: float, trace) -> dict:
        from git_etl_spark import registry
        from tests.oracle_utils import _sorted_rows, duckdb_connection

        registry.load_all()
        sc = spark.sparkContext
        con = duckdb_connection(self.sf_dir)
        attempted = failed = 0
        errors: list[str] = []
        per_query: dict[str, dict] = {}

        def run_one(name: str, phase: str, i: int = 0) -> tuple[float, proc.Cpu]:
            """Wall seconds and CPU use of one query: build plus collect."""
            nonlocal attempted, failed
            fn = registry.QUERIES[name]
            group = f"{phase}:{name}:{i}"
            sc.setJobGroup(group, name)
            attempted += 1
            c0 = proc.cpu()
            t0 = time.perf_counter()
            try:
                df = fn(spark, self.sf_dir)
                t1 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                failed += 1
                errors.append(f"{name}: {exc!r}"[:300])
                return time.perf_counter() - t0, proc.cpu() - c0
            cpu = proc.cpu() - c0
            # outside the timed region: the rows against the query's oracle
            oracle = registry.ORACLES.get(name)
            try:
                if oracle is None:
                    ok = len(rows) > 0
                else:
                    res = con.execute(oracle)
                    want_cols = [d[0] for d in res.description]
                    ok = (sorted(df.columns) == sorted(want_cols)
                          and _sorted_rows(df.columns, rows)
                          == _sorted_rows(want_cols, res.fetchall()))
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                ok = False
                errors.append(f"{name} oracle: {exc!r}"[:300])
            if not ok:
                failed += 1
                errors.append(f"{name}: result differs from its oracle")
            per_query[group] = {
                "module": fn.__module__.rsplit(".", 1)[-1], "phase": phase,
                "build_s": t1 - t0, "execute_s": t2 - t1,
                "spark": spark_counts(sc, group)}
            print(f"perfbench {group}: build {t1 - t0:.3f}s run {t2 - t1:.3f}s "
                  f"cpu {cpu.no_gc:.2f}s rows {len(rows)}", file=sys.stderr)
            if trace is not None:
                trace.spans.append(Span("registry.build", t0, t1))
                trace.spans.append(Span("registry.execute", t1, t2))
            return t2 - t0, cpu

        quiesce(spark)
        cold = [run_one(n, "cold") for n in WARMUP]
        quiesce(spark)
        warm = [run_one(n, "warm") for n in MIX]
        steady = []
        timed = sum(w for w, _ in cold + warm)
        while len(steady) < FLAGSHIP_RERUNS or timed < seconds:
            quiesce(spark)
            steady.append(run_one(FLAGSHIP, "query", len(steady)))
            timed += steady[-1][0]
        lat = [w for w, _ in steady]
        log_cpu("flagship", [c for _, c in cold])
        log_cpu("mix", [c for _, c in warm])
        log_cpu("flagship reruns", [c for _, c in steady])

        con.close()
        counts = {p: {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
                  for p in PHASES}
        for q in per_query.values():
            for k, v in q["spark"].items():
                counts[q["phase"]][k] += v
        return {"cold_s": sum(w for w, _ in cold), "warm_s": sum(w for w, _ in warm),
                "cold_cpu_s": sum(c.no_gc for _, c in cold),
                "warm_cpu_s": sum(c.no_gc for _, c in warm),
                "query_cpu_s": mean([c.no_gc for _, c in steady]),
                "cpu": sum_cpu([c for _, c in cold + warm + steady]),
                "lat": lat, "query_s": lat,
                "timed_s": timed,
                "attempted": attempted, "failed": failed, "errors": errors,
                "per_query": per_query, "spark": counts}


WORKLOADS = {w.name: w for w in (EtlMixed, RegistryMix)}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def quiesce(spark) -> None:
    """Start the next timed phase from a collected heap and a quiet
    process tree, so it is not billed for the garbage or the JIT
    backlog of the phase before it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    proc.settle()


def sum_cpu(cpus: list[proc.Cpu]) -> proc.Cpu:
    return proc.Cpu(*(sum(parts) for parts in zip(*cpus)))


def log_cpu(what: str, cpus: list[proc.Cpu]) -> None:
    print(f"perfbench cpu {what}: " + " ".join(
        f"{c.no_gc:.2f} (jit {c.jit:.2f}) gc {c.gc:.2f} |" for c in cpus),
        file=sys.stderr)

