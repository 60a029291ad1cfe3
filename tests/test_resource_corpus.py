"""Standing gate for the eighth robustness axis: RESOURCE hostility
(constrained memory / spill) — VERDICT r14 task 4.

The seven data axes (empty / one-row / null-heavy / rotated / skew /
temporal / unicode) vary WHAT the engine reads; this axis varies the
MACHINE it runs on. At 100 TB the working set routinely exceeds
executor memory, and the contract is: operators degrade to graceful
spill — slower, never wrong, never OOM. The r15 survey
(scripts/survey_resource.py, PERFORMANCE.md round 15) ran the full
246-query registry at sf0.1 under a starved session (2 GiB heap,
spark.memory.fraction 0.3, 8 cores, 8 shuffle partitions) with every
oracled query HASH-CHECKED against DuckDB (the temporal-axis lesson:
execute-only surveys miss value defects).

This gate keeps the axis closed with the delegates most likely to
regress under memory pressure — driver-side fixpoint loops, grouped
pandas UDFs, per-group array kernels, explode fan-outs, iterative
checkpoint storage — run in a FRESH subprocess (heap is a JVM start
flag; the shared test session cannot be constrained after launch)
under an even tighter profile than the survey, scaled to sf0.01:
1 GiB heap, fraction 0.2, 4 cores, 4 shuffle partitions. Every
delegate must oracle-MATCH, not merely execute.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one delegate per pressure class:
#   text_bpe_merges            — driver-side argmax loop over per-pair counts
#   udf_grouped_running_value  — grouped-map pandas (Arrow batches in the
#                                Python worker, outside JVM accounting)
#   dedup_minhash_lsh          — wide signature arrays, banded self-join
#   graph_components_large_star— iterative with per-round localCheckpoint
#                                blocks held in (storage) memory
#   agg_weighted_median_price  — driver-side bucket locate over subtotals
#   events_gapfill_locf        — sequence-explode fan-out
#   text_tfidf_top_terms       — per-doc aggregate with array intermediates
#   tpch_q18_large_orders      — the classic big-hash-aggregate spill shape
RESOURCE_DELEGATES = [
    "text_bpe_merges",
    "udf_grouped_running_value",
    "dedup_minhash_lsh",
    "graph_components_large_star",
    "agg_weighted_median_price",
    "events_gapfill_locf",
    "text_tfidf_top_terms",
    "tpch_q18_large_orders",
]

# VERDICT r15 task 9: every query whose plan the r15/r16 optimization
# rounds RESTRUCTURED must also hold under pressure — the restructures
# moved where state lives (dense 16 KB bloom row, n-row PCA exchange +
# driver numpy solve, per-doc array complements, window-min CC rounds,
# single-decode checkpoints), so the spill gate must cover the NEW
# shapes, not the r14 ones the survey originally profiled.
# (graph_components_large_star above already carries the r16 CC round;
# embedding_pca_top_component is rows-only — the survey count-executes
# it; its hash-oracled twin embedding_pca_loading_ppm is listed too.)
RESOURCE_DELEGATES += [
    "embedding_pca_top_component",
    "embedding_pca_loading_ppm",
    "pipeline_decontamination_bloom",
    "text_dedup_span_removal",
    "multimodal_ahash_dup_candidates",
    "graph_triangle_top20",
    "dedup_incremental_index_join",
    "dedup_simhash_clusters",
    "multimodal_jpeg_features",
]


def test_resource_constrained_oracle_parity():
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "survey_resource.py"),
            "/root/testdata/sf0.01",
            "--queries",
            ",".join(RESOURCE_DELEGATES),
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    out = proc.stdout
    ok = [ln for ln in out.splitlines() if ln.startswith("OK ")]
    assert proc.returncode == 0 and len(ok) == len(RESOURCE_DELEGATES), (
        f"constrained-session parity failed (rc={proc.returncode}):\n"
        f"{out}\n--- stderr tail ---\n{proc.stderr[-2000:]}"
    )


def test_default_driver_memory_fits_host():
    """Without $SPARK_GRAFT_DRIVER_MEM the driver heap is three quarters
    of physical memory, never more than the old fixed 16g, so a host
    without swap is not asked for more than it has. Starts no session."""
    from git_etl_spark.session import default_driver_memory

    assert default_driver_memory(15 * 2**30) == "11520m"
    assert default_driver_memory(4 * 2**30) == "3072m"
    assert default_driver_memory(128 * 2**30) == "16384m"
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory().removesuffix("m")) * 2**20 < host


def test_driver_jvm_carries_jit_policy(spark):
    """The running driver JVM has the JIT policy ``get_spark`` sets: a
    512m code cache and C2 (tier-4) promotion thresholds at 10x the
    JDK 17 defaults. The values are read from the live JVM, so an
    ``extraJavaOptions`` edit that drops a flag fails here."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    flags = {
        name: bean.getVMOption(name).getValue()
        for name in (
            "ReservedCodeCacheSize",
            "Tier4InvocationThreshold",
            "Tier4MinInvocationThreshold",
            "Tier4CompileThreshold",
            "Tier4BackEdgeThreshold",
            "TieredStopAtLevel",
        )
    }
    assert flags == {
        "ReservedCodeCacheSize": str(512 * 2**20),
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
        # both tiers stay on: C2 still compiles the hot loops
        "TieredStopAtLevel": "4",
    }
