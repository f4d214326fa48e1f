"""Reference-scale benchmark: the flagship pipeline at the reference's own
data scale (604,074 docs after cleaning; BASELINE.md), on one node.

Corpus: the sf0.1 documents table replicated 121x with 3 doc-unique tokens
appended per copy (distributed generation — no driver loop), yielding a
~100k-term vocabulary so the CountVectorizer/IDF/LSH cost profile resembles
the reference's sparse high-dimensional setting.

Reference numbers to beat (BASELINE.md, single laptop VM):
  - transform + fit, CSV -> LSH ready:  ~8 min 03 s
  - cold ANN top-5 (incl. cache fill):  ~2 min 15 s
  - warm ANN top-5:                     ~7-8 s / query

Usage: python scripts/bench_reference_scale.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TARGET_DOCS = 604_074
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    load_start = os.getloadavg()[0]

    from pyspark.sql import functions as F

    from movie_recommendation_etl_spark.ml.ann import (
        fit_lsh,
        prepare_index,
        recommend,
    )
    from movie_recommendation_etl_spark.ml.tfidf import fit_document_vectors
    from movie_recommendation_etl_spark.session import get_spark
    from movie_recommendation_etl_spark.sources.catalog import load_table

    # local[N] = one JVM for driver+executors: get_spark sizes the heap
    # from host RAM (session.default_driver_memory) for the cached
    # 604k-vector corpus + fits (the reference ran driver 5g / executor 8g).
    spark = get_spark(app_name="bench_reference_scale")
    spark.sparkContext.setLogLevel("ERROR")

    # The replay runs minutes after the parent bench's calibration sample
    # on a multi-tenant host, so its numbers need their OWN host-speed
    # sample: the parent normalizes ref_scale_* cross-round deltas by
    # (this calibration / previous round's) — r9's un-normalized replay
    # produced a phantom +544% regression flag under neighbor load.
    from bench import host_calibration, host_mem_calibration

    calibration = host_calibration(spark)
    calibration_mem = host_mem_calibration(spark)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n_src = docs.count()
    copies = (TARGET_DOCS + n_src - 1) // n_src

    t0 = time.monotonic()
    corpus = (
        docs.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))))
        .withColumn("doc_id", F.col("doc_id") * copies + F.col("__i"))
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.col("text"),
                F.concat(F.lit("tok"), F.pmod(F.xxhash64("doc_id"), F.lit(100_000))),
                F.concat(F.lit("tok"), F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(100_000))),
                F.concat(F.lit("tok"), F.pmod(F.xxhash64("doc_id", F.lit(2)), F.lit(100_000))),
            ),
        )
        .drop("__i")
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))
    )
    # Cache the generated corpus: every MLlib fit below is its own action
    # and would otherwise re-run the whole generation lineage (copies * n_src
    # = 605,000 docs — the reference's 604,074 scale; no .limit(), which
    # executes as a single-task GlobalLimit and serializes the pipeline).
    corpus = corpus.persist()
    n_docs = corpus.count()
    gen_sec = time.monotonic() - t0

    # Min-of-2 like bench.py's query loop (r8): the host is multi-tenant
    # and a single fit sample under neighbor load has measured 10x worse
    # than steady state — which the cross-round regression check would
    # read as a code regression.
    #
    # Sample 1 is the plain fit (Pipeline.fit + transform + cache +
    # count, exactly what a user runs; its vecs stay cached for the LSH/
    # ANN sections below). Sample 2 IS the per-stage decomposition
    # (r10 VERDICT #2): the same three Spark actions Pipeline.fit +
    # materialize execute — CV fit, IDF fit, transform+cache+count —
    # timed individually over the UNCACHED tokenize lineage, so their sum
    # is a legitimate fit sample (identical work, decomposed) and each
    # swing is attributed to the action that moved. Deliberately NO
    # intermediate caching: an r11 experiment measured the
    # cache-the-tokens variant at 42-44 s against 16-17 s plain on a
    # quiet host — materializing 605k token arrays into storage costs
    # ~2.5x more than the regex re-tokenization it saves, so a cached
    # breakdown both mis-attributes and would be the WRONG optimization.
    # Stages are cumulative in lineage (cv_fit pays one tokenize pass,
    # idf_fit pays tokenize+CV-transform, materialize pays everything),
    # exactly like the plain fit's own actions. The decomposition is
    # skipped when sample 1 already ran long (>300 s: doubling it
    # threatens the parent's 1200 s subprocess timeout).
    from movie_recommendation_etl_spark.ml.tfidf import build_tfidf_pipeline

    fit_samples: list[float] = []
    t0 = time.monotonic()
    _, vecs = fit_document_vectors(corpus, vocab_size=1 << 18)
    vecs = vecs.cache()
    n_vec = vecs.count()  # materialize: CSV->vectors "ready"
    fit_samples.append(time.monotonic() - t0)

    def _staged_sample() -> dict[str, float]:
        tok_st, stop_st, cv_st, idf_st, l2_st = build_tfidf_pipeline(
            vocab_size=1 << 18
        ).getStages()
        tokenized = stop_st.transform(tok_st.transform(corpus)).select(
            "doc_id", "__clean_tokens"
        )
        out: dict[str, float] = {}
        t0 = time.monotonic()
        cv_model = cv_st.fit(tokenized)
        out["cv_fit"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        counted = cv_model.transform(tokenized)
        idf_model = idf_st.fit(counted)
        out["idf_fit"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        # persist + count, NOT a bare count: count() on a projection lets
        # Catalyst prune the vector columns entirely (nothing would be
        # measured); the persist forces the tokenize->CV->IDF->L2 plan to
        # actually materialize, exactly like the plain fit's
        # vecs.cache(); vecs.count() does.
        final = (
            l2_st.transform(idf_model.transform(counted))
            .select("doc_id", l2_st.getOutputCol())
            .persist()
        )
        final.count()
        out["materialize"] = round(time.monotonic() - t0, 1)
        final.unpersist()
        return out

    stages: dict[str, float] = {}
    if fit_samples[0] <= 300.0:
        stages = _staged_sample()
        fit_samples.append(round(sum(stages.values()), 1))
    fit_sec = min(fit_samples)

    # In-replay escalation (r15, parent VERDICT r14 #2/#3): the replay runs
    # after the parent bench stops its session, so the parent's end-of-run
    # displaced-sample pass can never adjudicate a ref_scale flag — this
    # round's worst-ever idf_fit (5.1 s vs 1.5-3.2) had no third sample to
    # settle regime-vs-real. The parent now ships the previous round's
    # replay numbers + calibration in SPARK_GRAFT_REF_PREV; when this run
    # WOULD flag against them (same one-sided >25% and >0.1 s rule as
    # bench.compute_regressions, normalized by the replay-vs-replay
    # calibration ratio clamped >= 1), take ONE more displaced staged
    # sample, fold per-stage minima, and report it as ref_resampled so the
    # artifact shows the flag survived (or died by) its own re-sample.
    ref_resampled: dict[str, float] = {}
    prev_env = os.environ.get("SPARK_GRAFT_REF_PREV")
    prev: dict | None = None
    if prev_env:
        try:
            parsed = json.loads(prev_env)
            prev = parsed if isinstance(parsed, dict) else None
        except ValueError:
            prev = None
    if prev is not None:
        prev_cal = prev.get("calibration_sec")
        _ratio = (
            calibration / prev_cal
            if isinstance(prev_cal, (int, float)) and prev_cal > 0
            else 1.0
        )
        _ratio = max(_ratio, 1.0)

    def _would_flag(cur, old) -> bool:
        if prev is None:
            return False
        return (
            isinstance(old, (int, float))
            and old > 0
            and cur / _ratio > old * 1.25
            and cur / _ratio - old > 0.1
        )

    if prev is not None and stages:
        prev_stages = prev.get("stages") or {}
        flagged = _would_flag(fit_sec, prev.get("fit_sec")) or any(
            _would_flag(stages[k], prev_stages.get(k)) for k in stages
        )
        if flagged and fit_sec <= 300.0:
            third = _staged_sample()
            ref_resampled = third
            for k, v in third.items():
                if v < stages.get(k, float("inf")):
                    stages[k] = v
            fit_samples.append(round(sum(third.values()), 1))
            fit_sec = min(fit_samples)

    t0 = time.monotonic()
    lsh = fit_lsh(vecs)
    lsh_fit_sec = time.monotonic() - t0

    # Cold = first query incl. building the hashed index (the reference's
    # "cold query incl. cache fill").
    t0 = time.monotonic()
    index = prepare_index(lsh, vecs)
    first = recommend(lsh, index, "doc_id", 0, top_k=5).collect()
    cold_sec = time.monotonic() - t0

    # Cold-ANN escalation (r16, same rule as the fit/warm channels): when
    # the cold time would flag against the previous round, rebuild the
    # hashed index from scratch (unpersist first — that IS the cold cost)
    # and report the displaced twin.
    if _would_flag(cold_sec, prev.get("cold_ann_sec") if prev else None):
        index.unpersist(blocking=True)
        t0 = time.monotonic()
        index = prepare_index(lsh, vecs)
        recommend(lsh, index, "doc_id", 0, top_k=5).collect()
        cold2 = time.monotonic() - t0
        ref_resampled["cold_ann"] = round(cold2, 2)
        cold_sec = min(cold_sec, cold2)

    def _warm_loop() -> list[float]:
        samples = []
        for qid in (121, 2421, 12100):
            t0 = time.monotonic()
            recommend(lsh, index, "doc_id", qid, top_k=5).collect()
            samples.append(time.monotonic() - t0)
        samples.sort()
        return samples

    warm = _warm_loop()

    # Warm-ANN escalation (r16, parent VERDICT r15 #2): this was the ONE
    # bench line with no re-sample channel — r15 recorded +193% on
    # untouched code (loadavg 14-18) with nothing to adjudicate it. Same
    # rule as the fit escalation: when the warm median would flag against
    # the previous round's (calibration-normalized), re-run the 3-query
    # loop once, report the displaced twin as ref_resampled["warm_ann"],
    # and fold the per-sample minima into the headline (regime noise dies
    # by its own re-sample; a real regression survives both loops).
    if _would_flag(warm[1], prev.get("warm_ann_sec") if prev else None):
        warm2 = _warm_loop()
        ref_resampled["warm_ann"] = round(warm2[1], 2)
        warm = sorted(min(a, b) for a, b in zip(warm, warm2))

    # ---- trainprep lifecycle at reference scale (r17, VERDICT r16 #5) ----
    # The north-star composition (q80's operator chain: curate -> FUZZY
    # DEDUP -> perplexity band -> decontaminate -> substring dedup ->
    # chunk -> pack) over the same 605k-doc corpus. The 121x replication
    # makes the fuzzy stage REAL work at scale: each source doc's
    # sampled copies (3 unique tokens apart, Jaccard ~0.9) form a clique
    # the MinHash->CC->min-id stage must collapse — the RefinedWeb
    # re-crawl shape. Per-stage row counts ride INSIDE the timed region
    # (the counts are actions on already-checkpointed frames — same work
    # every sample, so samples stay comparable) and are reported as the
    # rows-in/rows-out trend the sf0.01 oracles can't show. Correctness
    # is NOT re-gated here — q80 hash-gates the identical composition at
    # sf0.01; this line is the scale-trend signal. Same min-of-2 +
    # would-flag escalation as the fit, capped: a >300 s first sample is
    # not worth doubling inside the parent's 1200 s subprocess budget.
    vecs.unpersist()  # free the 605k-vector cache before the lifecycle
    index.unpersist()

    def _trainprep_sample() -> tuple[float, dict[str, int], dict[str, float]]:
        from movie_recommendation_etl_spark.operators.curate import (
            curate_documents,
        )
        from movie_recommendation_etl_spark.operators.decontaminate import (
            ngram_contamination,
        )
        from movie_recommendation_etl_spark.operators.neardup import (
            neardup_dedup,
        )
        from movie_recommendation_etl_spark.operators.perplexity import (
            perplexity_band,
        )
        from movie_recommendation_etl_spark.operators.substring_dedup import (
            remove_duplicate_spans,
        )
        from movie_recommendation_etl_spark.operators.training_prep import (
            chunk_documents,
            pack_sequences,
        )

        # Per-stage wall times ride the full bench blob only (r18 —
        # bench_history.jsonl makes non-compact payloads durable): same
        # attribution role the fit's staged decomposition plays, so a
        # trainprep_sec swing names its stage. The stamps bracket the
        # checkpoint+count actions already inside the timed region — no
        # extra work is added.
        rows: dict[str, int] = {"corpus": n_docs}
        stages: dict[str, float] = {}
        t0 = time.monotonic()
        ts = t0
        curated = curate_documents(
            corpus,
            langs=("en", "other"),
            min_quality=0.3,
            dedup=True,
            sample_fraction=0.5,
        ).localCheckpoint(eager=True)
        rows["curated"] = curated.count()
        stages["curate"] = round(time.monotonic() - ts, 1)
        ts = time.monotonic()
        kept = neardup_dedup(
            curated.select("doc_id", "text"), threshold=0.8
        ).localCheckpoint(eager=True)
        rows["neardup"] = kept.count()
        stages["neardup"] = round(time.monotonic() - ts, 1)
        ts = time.monotonic()
        trusted = corpus.filter(
            F.md5(F.col("doc_id").cast("string")).substr(1, 1).isin(
                *"01234567"
            )
        ).select("doc_id", "text")
        band = perplexity_band(kept, trusted, keep_fraction=0.7)
        banded = kept.join(band.select("doc_id"), "doc_id", "left_semi")
        # narrow eval slice (~1/256 of the corpus) so the broadcast gram
        # set stays small — the replay's choice, not the oracle's
        ev = corpus.filter(
            F.md5(F.col("doc_id").cast("string")).substr(1, 2) == "00"
        ).select("doc_id", "text")
        verdicts = ngram_contamination(banded, ev, n=5, ratio_threshold=0.05)
        decon = banded.join(
            verdicts.filter(~F.col("is_contaminated")).select("doc_id"),
            "doc_id",
            "left_semi",
        ).localCheckpoint(eager=True)
        rows["band_decontam"] = decon.count()
        stages["band_decontam"] = round(time.monotonic() - ts, 1)
        ts = time.monotonic()
        cleaned = remove_duplicate_spans(decon, n=20, min_docs=2).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        ch = chunk_documents(cleaned, chunk_tokens=512, overlap_tokens=64)
        packed = pack_sequences(
            ch.select("doc_id", "chunk_idx", "n_tokens"),
            id_col="doc_id",
            count_col="n_tokens",
            chunk_col="chunk_idx",
            seq_len=2048,
            num_shards=32,
        )
        rows["packed_slices"] = packed.count()
        stages["substring_chunk_pack"] = round(time.monotonic() - ts, 1)
        return time.monotonic() - t0, rows, stages

    trainprep_samples: list[float] = []
    trainprep_rows: dict[str, int] = {}
    tp_sec, trainprep_rows, trainprep_stages = _trainprep_sample()
    trainprep_samples.append(tp_sec)
    if tp_sec <= 300.0:
        t2, _, st2 = _trainprep_sample()
        trainprep_samples.append(t2)
        if t2 < tp_sec:
            trainprep_stages = st2
    if (
        _would_flag(
            min(trainprep_samples),
            prev.get("trainprep_sec") if prev else None,
        )
        and min(trainprep_samples) <= 300.0
    ):
        t3, _, st3 = _trainprep_sample()
        ref_resampled["trainprep"] = round(t3, 1)
        if t3 < min(trainprep_samples):
            trainprep_stages = st3
        trainprep_samples.append(t3)
    trainprep_sec = min(trainprep_samples)

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_vectors": n_vec,
                "calibration_sec": calibration,
                "calibration_mem_sec": calibration_mem,
                # 1-min loadavg brackets: the CPU/mem probes sample a
                # ~0.5 s window and have sat FLAT while the fit swung
                # 6-15x (r8-r12, identical code) — loadavg integrates
                # over the minute and catches the neighbor burst a short
                # probe threads right through, settling host-contention
                # vs code-regression attribution
                "loadavg_1m": [
                    round(load_start, 1),
                    round(os.getloadavg()[0], 1),
                ],
                "corpus_gen_sec": round(gen_sec, 1),
                "tfidf_fit_transform_sec": round(fit_sec, 1),
                # relative spread of the plain fit samples — with stages
                # summing well under the headline on noisy hosts, the
                # spread says whether the headline itself was measured in
                # a consistent regime (surfaced into the parent bench's
                # query_spread block, same capping rules)
                **(
                    {
                        "tfidf_fit_spread": round(
                            (max(fit_samples) - fit_sec) / fit_sec, 3
                        )
                    }
                    if len(fit_samples) > 1
                    else {}
                ),
                **({"stages": stages} if stages else {}),
                **({"ref_resampled": ref_resampled} if ref_resampled else {}),
                "lsh_fit_sec": round(lsh_fit_sec, 1),
                "ann_cold_sec": round(cold_sec, 1),
                "ann_warm_median_sec": round(warm[1], 2),
                "trainprep_sec": round(trainprep_sec, 1),
                **(
                    {
                        "trainprep_spread": round(
                            (max(trainprep_samples) - trainprep_sec)
                            / trainprep_sec,
                            3,
                        )
                    }
                    if len(trainprep_samples) > 1
                    else {}
                ),
                "trainprep_rows": trainprep_rows,
                # the winning sample's per-stage split (plain stage names,
                # never timings in the parent's tail scraper) — full-blob
                # payload via bench_history.jsonl, not the compact line
                "trainprep_stages": trainprep_stages,
                "first_result_rows": len(first),
                "reference": {
                    "fit_sec": 483,
                    "ann_cold_sec": 135,
                    "ann_warm_sec": 7.5,
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
