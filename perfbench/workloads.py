"""Workload definitions and the layer-to-metric map of the benchmark.

``BENCHMARK.json`` is the one place for what its schema holds: the gated
workloads with the reason each was chosen, and every metric's name, unit and
direction. What the schema cannot hold lives here: the query sets, the
scales and the map from every per-layer metric to the end-to-end metric it
should move. The workload seed is the ``--seed`` argument: it generates the
input tables and fixes the order in which a pass runs the ops.
"""

from __future__ import annotations

#: The reference's headline TPC-DS queries, run verbatim through spark.sql.
#: They are the whole sql-text workload: one pass of the four takes 4.5-10 s
#: on a 4-core host at sf0.01, depending on the host's load.
SQL_TEXT = [
    "q223_sql_text_ds5",
    "q233_sql_text_ds49",
    "q238_sql_text_ds67",
    "q236_sql_text_ds75",
]

#: LLM-data operator queries, one or two per operator family. The full
#: list of seventeen (q42 q43 q59 q93 q45 q34 q34b q120 q120b q81 q137
#: q160 q95 q329 q319 q216 q218) needs about 30 s per pass on a 4-core
#: host, three times what fits one run, so each family keeps the query
#: that stresses its distinctive layer.
LLM_PIPELINE = [
    "q59_minhash_dedup_cc",       # dedup: connected components, job floor
    "q81_semantic_dedup",         # similarity: prepared centroids + join
    "q137_pagerank_trade_graph",  # graph: iterative, localCheckpoint
    "q160_rfm_segmentation",      # prefix: NTILE offsets broadcast
    "q95_quality_ensemble",       # text: Python scoring
    "q319_jpeg_decode",           # multimodal: Python decode, pin_for_sort
    "q218_sliding_window_agg",    # windowed aggregate
]

QUERY_SETS = {"sql-text": SQL_TEXT, "llm-pipeline": LLM_PIPELINE}

#: name -> (TPC-H scale factor of the generated inputs, untimed warm
#: passes before measuring, measured passes). exchange runs at sf0.01 (60k
#: lineitem rows, 1.3-1.5 MB staged per store): a round trip then takes
#: 1.0 s (file store) and 2.3 s (S3), against 2.5 s and 3.5 s at sf0.1.
#:
#: The JVM keeps getting faster for many passes: on a 4-core host an
#: exchange round trip through the file store fell from 2.0 s to 1.0 s over
#: its first eight, and a sql-text pass by a quarter over its first six.
#: Each workload therefore warms up with two passes and then measures a
#: fixed count, not as many as fit in --seconds: a median taken over a
#: varying stretch of that warm-up moved with the pass count as well as
#: with the host. On a 4-core host sql-text's three passes take 14-26 s and
#: exchange's eight 15-26 s, so --seconds 10 never adds a pass. Summed over
#: a workload's ops, the medians of passes 2-4 (sql-text, counting the
#: first warm pass as 0) spread over seeds by 4-8% of their median
#: (interquartile range), those of passes 1-2 by 9-13%; exchange's of
#: passes 2-9 by 6%, of passes 2-7 by 4-9%.
#:
#: llm-pipeline runs through the same command but is not in BENCHMARK.json:
#: a run of it takes about a minute on a 4-core host (three set-ups with
#: q81's centroid fit, then cold first executions of seven operator
#: chains), and a third workload of that size would stretch a set of
#: repeated runs of every workload past an hour. It stresses jobs fired
#: while the DataFrame is built, Python workers and localCheckpoint, with
#: little planning.
WORKLOADS = {"sql-text": (0.01, 2, 3), "llm-pipeline": (0.01, 1, 2), "exchange": (0.01, 2, 8)}

#: Per-layer metric -> (end-to-end metric it should move, workloads where
#: it should move it). Units and directions are in BENCHMARK.json.
MOVES = {
    "session.get_spark_s": ("setup_s", "all"),
    "registry.prepare_s": ("setup_s", "llm-pipeline"),
    "catalog.load_table_calls": ("geomean_s", "sql-text llm-pipeline"),
    "catalog.load_table_s": ("geomean_s", "sql-text llm-pipeline"),
    "catalog.load_table_jobs": ("geomean_s", "sql-text llm-pipeline"),
    "catalog.register_temp_views_s": ("geomean_s", "sql-text"),
    "catalyst.parse_s": ("geomean_s", "sql-text"),
    "catalyst.analyze_s": ("geomean_s", "sql-text"),
    "catalyst.optimize_s": ("geomean_s", "sql-text"),
    "catalyst.plan_s": ("latency_p50_s", "sql-text"),
    "plan.exchanges": ("latency_p50_s", "sql-text"),
    "registry.build_s": ("wall_s", "llm-pipeline sql-text"),
    "registry.build_jobs": ("wall_s", "llm-pipeline sql-text"),
    "spark.jobs": ("wall_s", "llm-pipeline sql-text"),
    "spark.stages": ("wall_s", "llm-pipeline sql-text"),
    "spark.tasks": ("wall_s", "llm-pipeline sql-text"),
    "spark.task_run_s": ("wall_s", "llm-pipeline sql-text"),
    "spark.task_cpu_s": ("wall_s", "llm-pipeline"),
    "spark.gc_s": ("wall_s", "llm-pipeline"),
    "spark.python_s": ("wall_s", "llm-pipeline exchange"),
    "spark.shuffle_write_mib": ("wall_s", "sql-text"),
    "spark.shuffle_read_mib": ("wall_s", "sql-text"),
    "spark.fetch_wait_s": ("wall_s", "sql-text"),
    "spark.spill_mib": ("wall_s", "sql-text"),
    "spark.input_mib": ("wall_s", "sql-text"),
    "spark.failed_tasks": ("wall_s", "all"),
    "spark.skipped_stages": ("wall_s", "sql-text"),
    "materialize.live_rdds": ("peak RSS (report line)", "llm-pipeline"),
    "exchange.stage_write_s": ("wall_s", "exchange"),
    "exchange.stage_read_s": ("wall_s", "exchange"),
    "exchange.verify_s": ("wall_s", "exchange"),
    "exchange.remove_s": ("wall_s", "exchange"),
    "exchange.bytes_written": ("wall_s", "exchange"),
    "exchange.files": ("wall_s", "exchange"),
    "exchange.bytes_read": ("wall_s", "exchange"),
    "s3exchange.stage_write_s": ("wall_s", "exchange"),
    "s3exchange.stage_read_s": ("wall_s", "exchange"),
    "s3exchange.verify_s": ("wall_s", "exchange"),
    "s3exchange.remove_s": ("wall_s", "exchange"),
    "s3exchange.objects": ("wall_s", "exchange"),
    "s3exchange.bytes": ("wall_s", "exchange"),
    # exchange-only end-to-end figures: both stores, per round trip
    "exchange.write_mib_per_s": ("wall_s", "exchange"),
    "exchange.read_mib_per_s": ("wall_s", "exchange"),
    "exchange.stored_bytes_per_input_byte": ("wall_s", "exchange"),
    "trace.overhead_frac": ("none: the cost of tracing itself", "all"),
}
