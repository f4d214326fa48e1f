"""Capture `.explain("formatted")` for every bench query line into
plans/<round>/<name>_<tag>.txt (tag = before/after) — an optimization
round's plan evidence (spark_optimization_guide.md §1: measure first, keep
the plan shape on record).

Usage: python scripts/capture_plans.py <round> [before|after] [name ...]
       (round = output subdirectory, e.g. r21; no names = every bench line
       that returns a batch DataFrame)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir = os.path.join(PLANS_DIR, args[0])
    tag = args[1] if len(args) > 1 else "before"
    only = set(args[2:])

    import movie_recommendation_etl_spark.plans.all  # noqa: F401
    from movie_recommendation_etl_spark.plans.events_stream import (
        q30_batch_arms,
    )
    from movie_recommendation_etl_spark.plans.recommend import (
        flagship_neighbors,
        ivf_knn_neighbors,
        lsh_knn_neighbors,
    )
    from movie_recommendation_etl_spark.plans.registry import QUERIES
    from movie_recommendation_etl_spark.plans.text_analysis import (
        q48_batch_arm,
        q76_batch_arm,
    )
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.catalog import warm_catalog

    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    warm_catalog(spark, SF_DIR, eager=True)

    # The batch-plan surface of every bench line (streaming arms are
    # drains, not plannable frames — their batch twins stand in).
    runnable = {
        **{k: v for k, v in QUERIES.items()},
        "q30_batch_arms": q30_batch_arms,
        "q48_batch": q48_batch_arm,
        "q76_batch": q76_batch_arm,
        "q61_knn_lsh_embeddings": lsh_knn_neighbors,
        "q62_knn_ivf_embeddings": ivf_knn_neighbors,
        "q70_recommend_similar_docs": flagship_neighbors,
    }
    bench_names = [
        "q01_pricing_summary",
        "q02_top_revenue_orders",
        "q07_top3_orders_per_customer",
        "q21_doc_scalar_suite",
        "q30_batch_arms",
        "q32_asof_click_to_error",
        "q38_rank_suite",
        "q40_text_profile_suite",
        "q48_batch",
        "q50_minhash_lsh_neardup",
        "q56_pii_redaction",
        "q57_repetition_metrics",
        "q58_sampling_suite",
        "q53_embedding_neardup_pairs",
        "q54_neardup_clusters",
        "q60_knn_bruteforce",
        "q61_knn_lsh_embeddings",
        "q62_knn_ivf_embeddings",
        "q70_recommend_similar_docs",
        "q71_tfidf_cosine_topk",
        "q72_curate_pipeline",
        "q73_chunk_documents",
        "q76_batch",
        "q77_pack_sequences",
        "q78_substring_dedup",
        "q79_perplexity_band",
        "q80_trainprep_composed",
        "q81_budget_chunks",
    ]
    os.makedirs(out_dir, exist_ok=True)
    for name in bench_names:
        if only and name not in only:
            continue
        try:
            df = runnable[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            plan = f"ERROR capturing plan: {e!r}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
