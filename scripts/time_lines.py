"""Time individual bench lines (same noop-sink methodology as bench.py)
for targeted before/after measurement.

Usage: python scripts/time_lines.py <line> [<line> ...] [--n 3]
Prints one JSON line: {"<line>": [samples...], ...} (all samples kept —
min is the estimator, spread is the witness).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    argv = sys.argv[1:]
    args: list[str] = []
    n = 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--n":
            n = int(argv[i + 1])
            i += 2
        elif a.startswith("--n="):
            n = int(a.split("=", 1)[1])
            i += 1
        else:
            args.append(a)
            i += 1

    import movie_recommendation_etl_spark.plans.all  # noqa: F401
    from movie_recommendation_etl_spark.plans.events_stream import (
        q30_batch_arms,
        q30_stream_arms,
    )
    from movie_recommendation_etl_spark.plans.recommend import (
        flagship_neighbors,
        ivf_knn_neighbors,
        lsh_knn_neighbors,
    )
    from movie_recommendation_etl_spark.plans.registry import QUERIES
    from movie_recommendation_etl_spark.plans.text_analysis import (
        q48_batch_arm,
        q48_stream_arm,
        q76_batch_arm,
        q76_stream_arm,
    )
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.catalog import (
        load_table,
        warm_catalog,
    )

    spark = get_spark(app_name="time_lines")
    spark.sparkContext.setLogLevel("ERROR")

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    _noop(load_table(spark, SF_DIR, "lineitem").limit(1000))
    warm_catalog(spark, SF_DIR, eager=True)

    runnable = {
        **QUERIES,
        "q30_batch_arms": q30_batch_arms,
        "q30_stream_arms": q30_stream_arms,
        "q48_batch": q48_batch_arm,
        "q48_stream": q48_stream_arm,
        "q76_batch": q76_batch_arm,
        "q76_stream": q76_stream_arm,
        "q61_knn_lsh_embeddings": lsh_knn_neighbors,
        "q62_knn_ivf_embeddings": ivf_knn_neighbors,
        "q70_recommend_similar_docs": flagship_neighbors,
    }
    out: dict[str, list[float]] = {}
    for name in args:
        fn = runnable[name]
        samples = []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"timing: {name}")
            t0 = time.monotonic()
            _noop(fn(spark, SF_DIR))
            samples.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = samples
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
