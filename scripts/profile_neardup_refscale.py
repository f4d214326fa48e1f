"""Per-sub-stage profile of the fuzzy-dedup (neardup_dedup) stage at the
reference replay's 605k-doc scale — the evidence harness behind the r18
optimizations (hashed-shingle verify, CC broadcast tier).

Rebuilds the replay corpus (121x replication + 3 unique tokens), curates
it, then runs the neardup internals with a stamp at every materialization
boundary: shingle persist / minhash bands / candidate pairs / verify /
connected components + losers / anti join. Row counts print alongside so
an optimization that changes ANY intermediate cardinality is immediately
visible (the r18 changes kept all six bit-identical).

Measured history (same host; loadavg ~13-20 during the profiled region,
so the CC stage reads differ between back-to-back runs — both recorded):
  r17 shape:         shingle 1.7 / bands 2.6 / pairs 5.3 / verify 43.3
                     / cc 12.6 / anti 0.8  = 66.3 s
  + hashed verify:   verify 43.3 -> 7.4 (cc re-measured 16.9 that run,
    (shingle_hash60)  load-inflated)       = 34.5 s
  + CC broadcast:    cc 16.9 -> 8.2 (verify 8.3 that run) = 26.3 s

Usage: python scripts/profile_neardup_refscale.py   (prints one JSON line)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from movie_recommendation_etl_spark.operators.curate import curate_documents
from movie_recommendation_etl_spark.operators.neardup import (
    banded_candidate_pairs,
    minhash_bands,
    word_shingles,
    _verify_pairs,
)
from movie_recommendation_etl_spark.operators.graph import connected_components
from movie_recommendation_etl_spark.session import get_spark
from movie_recommendation_etl_spark.sources.catalog import load_table

TARGET_DOCS = 604_074
SF_DIR = "/root/testdata/sf0.1"

spark = get_spark(app_name="profile_neardup")
spark.sparkContext.setLogLevel("ERROR")

docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
n_src = docs.count()
copies = (TARGET_DOCS + n_src - 1) // n_src
corpus = (
    docs.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))))
    .withColumn("doc_id", F.col("doc_id") * copies + F.col("__i"))
    .withColumn(
        "text",
        F.concat_ws(
            " ", F.col("text"),
            F.concat(F.lit("tok"), F.pmod(F.xxhash64("doc_id"), F.lit(100_000))),
            F.concat(F.lit("tok"), F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(100_000))),
            F.concat(F.lit("tok"), F.pmod(F.xxhash64("doc_id", F.lit(2)), F.lit(100_000))),
        ),
    )
    .drop("__i")
    .repartition(32)
).persist()
corpus.count()

curated = curate_documents(
    corpus, langs=("en", "other"), min_quality=0.3, dedup=True,
    sample_fraction=0.5,
).localCheckpoint(eager=True)
n_cur = curated.count()

stages = {}
t = time.monotonic()

# --- the neardup internals, stamped ---
d = curated.select("doc_id", "text")
toks = F.split(F.col("text"), " ")
sh = word_shingles(toks, 3)
base = d.select(F.col("doc_id"), sh.alias("sh")).filter(F.size("sh") > 0)
base_cache = base.persist(StorageLevel.MEMORY_AND_DISK)
n_base = base_cache.count()
stages["shingle_persist"] = round(time.monotonic() - t, 1); t = time.monotonic()

bands_df = minhash_bands(base_cache, 12, 3).persist(StorageLevel.MEMORY_AND_DISK)
n_bands = bands_df.count()
stages["minhash_bands_persist"] = round(time.monotonic() - t, 1); t = time.monotonic()

from movie_recommendation_etl_spark.operators.neardup import (
    explode_bands_with_priors,
)

exploded, prior_cols = explode_bands_with_priors(bands_df, 4)
gstats = {}
pairs = banded_candidate_pairs(
    exploded, max_bucket_size=2000, prior_match_cols=prior_cols,
    stats=gstats,
    materialize=lambda df: df.localCheckpoint(eager=True),
)
n_pairs = pairs.count()
stages["candidate_pairs"] = round(time.monotonic() - t, 1); t = time.monotonic()

verified = _verify_pairs(pairs, base_cache, 0.8).localCheckpoint(eager=True)
n_ver = verified.count()
stages["verify"] = round(time.monotonic() - t, 1); t = time.monotonic()

cc_stats = {}
labels = connected_components(
    verified.select("doc_a", "doc_b"), "doc_a", "doc_b",
    edges_distinct=True, stats=cc_stats,
)
losers = labels.filter(F.col("node") != F.col("cluster_id")).select(
    F.col("node").alias("doc_id")
).localCheckpoint(eager=True)
n_losers = losers.count()
stages["cc_and_losers"] = round(time.monotonic() - t, 1); t = time.monotonic()

kept = curated.join(losers, "doc_id", "left_anti")
n_kept = kept.count()
stages["anti_join_count"] = round(time.monotonic() - t, 1)

print(json.dumps({
    "n_curated": n_cur, "n_base": n_base, "n_bands": n_bands,
    "n_pairs": n_pairs, "n_verified": n_ver, "n_losers": n_losers,
    "n_kept": n_kept, "cc_rounds": cc_stats.get("rounds"),
    "guard": {k: v for k, v in gstats.items()},
    "stages": stages, "total": round(sum(stages.values()), 1),
    "loadavg": round(os.getloadavg()[0], 1),
}))
