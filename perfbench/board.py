"""The query board: the 42 headline registry queries, each materialised
with a ``noop`` write, and the operator probe the CDC workloads' traced
runs use to measure the ``queries`` and ``operators`` layers.

No CDC source runs here. Builders are called through the query registry
(``queries.REGISTRY[key].fn(spark, sf_dir)``); several run eager Spark
jobs at construction, so build time is measured apart from execution.
"""

from __future__ import annotations

import hashlib
import os
import time
from decimal import Decimal

import numpy as np

import stats
from spans import StatusStore, covered_s

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# The board, copied (not imported) from bench.py's HEADLINE list so the
# benchmark's workload cannot change under it.
BOARD = (
    "agg_hash", "join_inner_equi", "cdc_snapshot_join_agg", "topk_per_group",
    "win_frame_running", "dedup_exact_docs", "dedup_minhash_lsh", "simsearch_topk_cosine",
    "text_tokenize_tf", "fn_json_props", "text_tfidf", "simsearch_batch_topk",
    "pipeline_pretrain_filter", "stream_session_window", "tpch_q5_local_supplier",
    "tpch_q10_returned", "tpch_q3_shipping", "tpch_q18_large_orders",
    "pipeline_pack_sequences", "text_repetition_stats", "pipeline_shard_shuffle",
    "embedding_kmeans", "dedup_cluster_cc", "embedding_pca", "win_sessionize",
    "tpch_q17_small_qty_revenue", "tpch_q4_order_priority", "text_chunk_dedup",
    "pipeline_token_budget_sample", "orders_market_basket", "events_transition_matrix",
    "orders_abc_pareto", "graph_triangle_count", "customer_whale_concentration",
    "embedding_outlier_distance", "cdc_merge_into_upsert", "graph_hierarchy_rollup",
    "pipeline_temperature_resample", "events_linear_attribution", "text_bpe_pair_counts",
    "timeseries_pattern_match", "geo_grid_neighbor_join",
)
SMOKE_BOARD = ("agg_hash", "tpch_q3_shipping", "embedding_pca")
# The operators the per-layer metrics profile, by board ordinal.
OPERATOR_KEYS = {
    "q23": "dedup_cluster_cc",
    "q30": "orders_market_basket",
    "q33": "graph_triangle_count",
    "q37": "graph_hierarchy_rollup",
}


def timed_query(spark, key: str, sf_dir: str, group: str | None) -> dict:
    """Build one registry query and materialise it with a ``noop`` write.
    With ``group``, the build's and the write's jobs carry the job groups
    ``<group>-build`` and ``<group>-exec``."""
    from maxscale_cdc_connector_spark.queries import REGISTRY

    sc = spark.sparkContext
    if group:
        sc.setJobGroup(f"{group}-build", key, False)
    t0 = time.time()
    df = REGISTRY[key].fn(spark, sf_dir)
    t1 = time.time()
    if group:
        sc.setJobGroup(f"{group}-exec", key, False)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    return {"key": key, "start": t0, "built": t1, "end": t2}


def query_profile(run: dict, groups: dict, group: str) -> dict:
    """Layer numbers of one traced query from its two job groups."""
    empty = {"jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_ms": 0.0,
             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0, "job_spans": []}
    build = groups.get(f"{group}-build", empty)
    exe = groups.get(f"{group}-exec", empty)
    wall = run["end"] - run["start"]
    spans = build["job_spans"] + exe["job_spans"]
    return {
        "build_ms": (run["built"] - run["start"]) * 1000.0,
        "build_jobs": build["jobs"],
        "execute_ms": (run["end"] - run["built"]) * 1000.0,
        "jobs": build["jobs"] + exe["jobs"],
        "stages": build["stages"] + exe["stages"],
        "tasks": build["tasks"] + exe["tasks"],
        "driver_ms": (wall - covered_s(spans, run["start"], run["end"])) * 1000.0,
        "executor_cpu_ms": build["executor_cpu_ms"] + exe["executor_cpu_ms"],
        "shuffle_write_bytes": build["shuffle_write_bytes"] + exe["shuffle_write_bytes"],
        "shuffle_read_bytes": build["shuffle_read_bytes"] + exe["shuffle_read_bytes"],
        "spill_bytes": build["spill_bytes"] + exe["spill_bytes"],
        "job_spans": spans,
    }


def record_spans(trace, run: dict, prof: dict, trace_id: str) -> None:
    qid = trace.add("queries.query", run["start"], run["end"], trace_id, key=run["key"])
    trace.add("queries.build", run["start"], run["built"], trace_id, qid)
    trace.add("spark_sql.execute", run["built"], run["end"], trace_id, qid)
    for s, e, jid in prof["job_spans"]:
        trace.add("spark.job", s, e, trace_id, qid, job_id=jid)


def layer_metrics(profiles: dict[str, dict], rounds: int | None) -> dict:
    """``queries.*``, ``spark_sql.*`` and ``operators.*`` per-layer metrics
    from per-query profiles (sums over the profiled queries)."""
    total = lambda k: sum(p[k] for p in profiles.values())  # noqa: E731
    out = {
        "queries.build_ms": total("build_ms"),
        "queries.build_jobs": total("build_jobs"),
        "spark_sql.execute_ms": total("execute_ms"),
        "spark_sql.jobs": total("jobs"),
        "spark_sql.stages": total("stages"),
        "spark_sql.tasks": total("tasks"),
        "spark_sql.driver_ms": total("driver_ms"),
        "spark_sql.executor_cpu_ms": total("executor_cpu_ms"),
        "spark_sql.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark_sql.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark_sql.spill_bytes": total("spill_bytes"),
    }
    q = {label: profiles[key] for label, key in OPERATOR_KEYS.items() if key in profiles}
    if len(q) == len(OPERATOR_KEYS):
        out.update({
            "operators.q23_jobs": q["q23"]["jobs"],
            "operators.q23_driver_ms": q["q23"]["driver_ms"],
            "operators.q23_rounds": rounds if rounds is not None else -1,
            "operators.q33_jobs": q["q33"]["jobs"],
            "operators.q33_driver_ms": q["q33"]["driver_ms"],
            "operators.q37_jobs": q["q37"]["jobs"],
            "operators.q37_driver_ms": q["q37"]["driver_ms"],
            "operators.q30_executor_cpu_ms": q["q30"]["executor_cpu_ms"],
            "operators.q30_shuffle_write_bytes": q["q30"]["shuffle_write_bytes"],
        })
    return out


def operator_probe(spark, trace, sf_dir: str = SF_DIR) -> dict:
    """Traced-run probe of the ``queries`` and ``operators`` layers: the
    four operator targets, run once to warm and once profiled."""
    from maxscale_cdc_connector_spark.operators import graph
    from maxscale_cdc_connector_spark.queries import load_all

    load_all()
    profiles, rounds = {}, None
    for key in OPERATOR_KEYS.values():
        timed_query(spark, key, sf_dir, None)
    store = StatusStore(spark)
    runs = {}
    for key in OPERATOR_KEYS.values():
        runs[key] = timed_query(spark, key, sf_dir, f"probe-{key}")
        if key == OPERATOR_KEYS["q23"]:
            rounds = graph.LAST_ROUNDS
    groups = store.groups("probe-")
    for key, run in runs.items():
        profiles[key] = query_profile(run, groups, f"probe-{key}")
        record_spans(trace, run, profiles[key], f"probe-{key}")
    return layer_metrics(profiles, rounds)


# -- output checks --------------------------------------------------------------


def rows_digest(rows: list[tuple], cols: list[str]) -> str:
    """SHA-256 over the rows as ``tests/oracle.py`` normalises them
    (columns by name, floats to 6 places, rows sorted); decimals are
    written without trailing zeros so equal values hash equally."""
    from tests.oracle import _normalize

    def canon(v):
        return format(v.normalize(), "f") if isinstance(v, Decimal) else v

    norm = [tuple(canon(v) for v in row) for row in _normalize(rows, cols)]
    return hashlib.sha256(repr(norm).encode()).hexdigest()


def oracle_check(spark, key: str, sf_dir: str, con) -> str | None:
    """None when the Spark result hash-matches the DuckDB oracle."""
    from maxscale_cdc_connector_spark.queries import REGISTRY

    entry = REGISTRY[key]
    df = entry.fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in df.collect()]
    res = con.execute(entry.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(df.columns) != sorted(duck_cols):
        return f"{key}: columns {sorted(df.columns)} != oracle {sorted(duck_cols)}"
    if rows_digest(spark_rows, df.columns) != rows_digest(duck_rows, duck_cols):
        return f"{key}: result hash differs from the DuckDB oracle ({len(spark_rows)} vs {len(duck_rows)} rows)"
    return None


def invariant_checks(spark, sf_dir: str, keys) -> list[str]:
    """The bounds ``scripts/invariants_report.py`` applies to the board's
    three rows-only keys, for those of them in ``keys``."""
    from maxscale_cdc_connector_spark.operators.kmeans import kmeans_fit
    from maxscale_cdc_connector_spark.operators.pca import pca_fit
    from maxscale_cdc_connector_spark.queries import REGISTRY
    from maxscale_cdc_connector_spark.session import load_table

    problems = []
    run = lambda key: REGISTRY[key].fn(spark, sf_dir).collect()  # noqa: E731
    if "dedup_minhash_lsh" in keys:
        lsh = {(r["doc_a"], r["doc_b"]) for r in run("dedup_minhash_lsh")}
        dup = {(r["doc_a"], r["doc_b"]) for r in run("dedup_ngram_jaccard")
               if r["doc_b"] == r["doc_a"] + 1_000_000}
        recall = len(dup & lsh) / len(dup) if dup else 0.0
        if recall < 1.0:
            problems.append(f"dedup_minhash_lsh: duplicate-pair recall {recall} < 1.0")
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    if "embedding_kmeans" in keys:
        _, _, inertias = kmeans_fit(emb, k=8, iters=5)
        rise = max(b - a for a, b in zip(inertias, inertias[1:]))
        if rise > 1e-6:
            problems.append(f"embedding_kmeans: inertia rose by {rise} between Lloyd iterations")
    if "embedding_pca" in keys:
        vals, _, _, _ = pca_fit(emb, k=4)
        x = np.asarray([r[0] for r in emb.select("embedding").collect()], dtype=np.float64)
        ref = np.sort(np.linalg.eigvalsh(np.cov(x, rowvar=False, bias=True)))[::-1][:4]
        err = float(np.max(np.abs(vals - ref) / ref))
        if err > 1e-8:
            problems.append(f"embedding_pca: eigenvalue relative error {err} > 1e-8")
    return problems


# -- the board workload -------------------------------------------------------


def run_board(spark, seed: int, seconds: float, trace, t_start: float,
              keys: tuple[str, ...] = BOARD, sf_dir: str = SF_DIR) -> dict:
    """Untimed warm-up pass with the output checks, then timed passes, a
    seed-permuted order each."""
    from maxscale_cdc_connector_spark.queries import REGISTRY, load_all
    from tests.oracle import duckdb_connection

    load_all()
    con = duckdb_connection(sf_dir)
    problems, failed_keys = [], set()
    for key in keys:
        if REGISTRY[key].oracle is not None:
            issue = oracle_check(spark, key, sf_dir, con)
        else:
            timed_query(spark, key, sf_dir, None)
            issue = None
        if issue:
            problems.append(issue)
            failed_keys.add(key)
    for issue in invariant_checks(spark, sf_dir, keys):
        problems.append(issue)
        failed_keys.add(issue.split(":", 1)[0])
    con.close()

    from maxscale_cdc_connector_spark.operators import graph

    rng = np.random.default_rng(seed)
    store = StatusStore(spark) if trace.enabled else None
    passes, runs, rounds = [], [], None
    window_start = time.time()
    # Whole passes until ``seconds`` have elapsed and the p90 has ten
    # executions beyond it.
    while time.time() - window_start < seconds or not stats.supported(len(runs), 90):
        p = len(passes)
        t0 = time.time()
        for key in rng.permutation(list(keys)):
            key = str(key)
            runs.append((p, timed_query(spark, key, sf_dir,
                                        f"board-{p}-{key}" if trace.enabled else None)))
            if key == OPERATOR_KEYS["q23"]:
                rounds = graph.LAST_ROUNDS
        passes.append(time.time() - t0)
    query_ms = [(r["end"] - r["start"]) * 1000.0 for _p, r in runs]
    out = {
        "setup_s": window_start - t_start,
        "board_s": float(np.median(passes)),
        "query_p50_ms": stats.percentile(query_ms, 50),
        "query_p90_ms": stats.percentile(query_ms, 90),
        "query_samples": len(query_ms),
        "passes": len(passes),
        "attempted": len(keys) + len(runs),
        "failed": len(failed_keys),
        "problems": problems,
        "layers": {},
    }
    if store is not None:
        groups = store.groups("board-")
        last = len(passes) - 1
        profiles = {}
        for p, run in runs:
            prof = query_profile(run, groups, f"board-{p}-{run['key']}")
            record_spans(trace, run, prof, f"board-{p}-{run['key']}")
            if p == last:
                profiles[run["key"]] = prof
        out["layers"] = layer_metrics(profiles, rounds)
    return out
