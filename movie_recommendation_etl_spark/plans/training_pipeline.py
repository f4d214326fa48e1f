"""Driver-gate promotion of the round-5 training-pipeline operators
(VERDICT.md r5 #1): the one-call curation pipeline (operators/curate.py),
document chunking (operators/training_prep.py) and the incremental near-dup
admission store (operators/incremental_dedup.py), each with a full DuckDB
oracle so the composition — not just the individually-checked pieces — is
hash-compared bit-for-bit.

The corpora are the planted-twin constructions the dedup suite already uses
(plans/dedup_similarity.py): the synthetic documents table has no natural
duplicates or PII, so each query plants deterministic ones first and the
oracle replants identically.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.functions.text import SQL_STOPWORDS
from movie_recommendation_etl_spark.operators.curate import (
    EMAIL_RE,
    PHONE_RE,
    curate_documents,
)
from movie_recommendation_etl_spark.operators.training_prep import (
    chunk_documents,
    chunk_documents_by_budget,
    filter_training_documents,
)
from movie_recommendation_etl_spark.plans.curation import _sql_hex8_to_bigint
from movie_recommendation_etl_spark.plans.dedup_similarity import (
    _SQL_HIGH,
    _SQL_VERIFIED_CTES,
    _with_twins,
    sql_minhash_verified_ctes,
)
from movie_recommendation_etl_spark.plans.registry import query
from movie_recommendation_etl_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q72: end-to-end curation (filter → redact → dedup → sample)
# ---------------------------------------------------------------------------

# Deterministic mixed-case PII plant (the corpus has none naturally). Mixed
# case / '+' / '_' / '(...)' shapes deliberately exercise the REAL-text
# patterns (operators/curate.py EMAIL_RE/PHONE_RE with (?i)), which are
# stronger than the lowercase-only q56 oracle patterns.
_SQL_PLANT = """
    planted0 AS (
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN text || ' Contact John.Doe+'
                             || CAST(doc_id AS VARCHAR)
                             || '@Example.COM or +1 555-123-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 WHEN 1 THEN text || ' reach Admin_'
                             || CAST(doc_id AS VARCHAR) || '@test.org'
                 ELSE text || ' call ('
                      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || ') 867-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               END AS text
        FROM documents
    )
"""


def _planted_text() -> "F.Column":
    """Spark twin of _SQL_PLANT (applied to the original documents rows)."""
    sid = F.col("doc_id").cast("string")
    p4 = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    p3 = F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0")
    return (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact John.Doe+"),
                sid,
                F.lit("@Example.COM or +1 555-123-"),
                p4,
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(" reach Admin_"), sid, F.lit("@test.org")),
        )
        .otherwise(
            F.concat(F.col("text"), F.lit(" call ("), p3, F.lit(") 867-"), p4)
        )
    )


def _sql_curated_ctes(
    langs_sql: str = "'en'",
    min_quality: float = 0.5,
    neardup_twins: bool = False,
) -> str:
    """The full curation chain (plant → score → filter → redact → dedup →
    sample) as reusable CTEs ending in ``curated(doc_id, rtext, lang,
    quality, n_tokens)`` — q72 gates it directly at the strict settings;
    q80 chains chunking and packing on top of the same construction with a
    permissive lang/quality gate (volume for the downstream stages; the
    strict-filter behavior is q72's own job). ``neardup_twins`` (r17, the
    q80 fuzzy-dedup stage) adds a THIRD corpus slice: a +2000000-id twin
    of every doc with the last 3 tokens dropped (the q50 recipe) — it
    survives curation's EXACT dedup (different fingerprint) so only the
    near-dup stage can kill it."""
    nd_slice = (
        """
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               array_to_string(l[1:len(l)-3], ' ') AS text
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM planted0)"""
        if neardup_twins
        else ""
    )
    return f"""
    {_SQL_PLANT},
    corpus AS (
        SELECT doc_id, text FROM planted0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM planted0{nd_slice}
    ),
    t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM corpus),
    m AS (
        SELECT doc_id, text,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_uniq,
               len(list_distinct(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1]))) AS n2_dist,
               CAST(len(list_filter(toks, x -> x IN ({SQL_STOPWORDS})))
                    AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
               CAST(list_aggregate(list_transform(toks, x -> length(x)),
                                   'sum') AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS mean_tok_len
        FROM t
    ),
    scored AS (
        SELECT doc_id, text, n_tokens,
               CASE WHEN stop_ratio >= 0.15 THEN 'en' ELSE 'other' END AS lang,
               0.3 * (least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0)
                 + 0.4 * (1.0 - stop_ratio)
                 + 0.3 * (least(mean_tok_len, 10.0) / 10.0) AS quality,
               1.0 - CAST(n_uniq AS DOUBLE) / n_tokens AS dup_tok,
               CASE WHEN n_tokens > 1
                    THEN 1.0 - CAST(n2_dist AS DOUBLE) / (n_tokens - 1)
                    ELSE 0.0 END AS dup2
        FROM m
        WHERE n_tokens > 0
    ),
    filtered AS (
        SELECT doc_id, text, n_tokens, lang, quality FROM scored
        WHERE lang IN ({langs_sql}) AND quality >= {min_quality}
          AND dup_tok <= 0.6 AND dup2 <= 0.8
    ),
    red AS (
        SELECT doc_id, n_tokens, lang, quality,
               regexp_replace(
                   regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                   '{PHONE_RE}', '[PHONE]', 'g') AS rtext
        FROM filtered
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(rtext),
                                         '[^a-z0-9]+', ' ', 'g')))
                   ORDER BY doc_id) AS rn
        FROM red
    ),
    curated AS MATERIALIZED (
        SELECT doc_id, rtext, lang, quality, n_tokens
        FROM ranked
        WHERE rn = 1
          AND CAST({_sql_hex8_to_bigint("md5(CAST(doc_id AS VARCHAR))")}
                   AS DOUBLE) / 4294967296.0 < 0.5
    )
"""


@query(
    "q72_curate_pipeline",
    oracle=f"""
    WITH {_sql_curated_ctes()}
    SELECT doc_id, md5(rtext) AS text_md5, lang, quality, n_tokens
    FROM curated
    """,
)
def q72_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call curation pipeline end-to-end (operators/curate.py):
    lang/quality/repetition filters → mixed-case PII redaction → exact dedup
    (deterministic smallest-id survivor) → deterministic 50% sample.

    The corpus plants PII in every doc (3 rotating mixed-case shapes) and
    unions an id-shifted byte-identical copy, so every stage provably does
    work: the copy must die in dedup (the original's smaller id wins), the
    PII must die in redaction, and the survivors must halve in the sample.
    The sample stage runs in its md5-hex form (``sample_unif``) so the whole
    composition — not just each piece — replays in the DuckDB oracle;
    production keeps the cheaper xxhash64 default. Scale shape is the
    pipeline's own: all filters are scan-stage codegen ahead of the single
    dedup shuffle on uniform md5 keys."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn("text", _planted_text())
    corpus = planted.unionByName(
        planted.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    from movie_recommendation_etl_spark.plans.curation import md5_hex8_long

    unif = md5_hex8_long("doc_id").cast("double") / F.lit(4294967296.0)
    curated = curate_documents(
        corpus,
        langs=("en",),
        min_quality=0.5,
        max_dup_token_frac=0.6,
        max_dup_2gram_frac=0.8,
        redact_pii=True,
        dedup=True,
        sample_fraction=0.5,
        sample_unif=unif,
    )
    return curated.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "lang",
        "quality",
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# q73: document chunking (explode-based, overlap semantics)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 32
_OVERLAP = 8
_STEP = _CHUNK_TOKENS - _OVERLAP


def _sql_chunk_ctes(src: str, text_expr: str) -> str:
    """The chunk_documents start-index arithmetic as reusable CTEs over
    ``src(doc_id, {text_expr})``, ending in ``chunks(doc_id, chunk_idx,
    chunk_md5, n_tokens)`` — q73 gates it against the raw documents; q80
    chains it after curation. Uses the module chunk constants."""
    return f"""
    ctk AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim({text_expr}), '\\s+'),
                           x -> x <> '') AS toks
        FROM {src}
    ),
    csz AS (SELECT doc_id, toks, len(toks) AS n FROM ctk),
    cst AS (
        SELECT doc_id, toks, n,
               CASE WHEN n <= 0 THEN []
                    ELSE list_filter(
                        list_transform(
                            range(0, CAST(floor((n - 1) / {_STEP}.0)
                                          AS BIGINT) + 1),
                            i -> i * {_STEP}),
                        x -> x = 0 OR x + {_OVERLAP} < n)
               END AS starts
        FROM csz
    ),
    cex AS (
        SELECT doc_id, toks, n,
               unnest(list_transform(range(1, len(starts) + 1),
                      i -> {{'ci': i - 1, 'st': starts[i]}})) AS c
        FROM cst
    ),
    chunks AS (
        SELECT doc_id,
               CAST(c.ci AS INTEGER) AS chunk_idx,
               md5(array_to_string(toks[c.st + 1 : c.st + {_CHUNK_TOKENS}],
                                   ' ')) AS chunk_md5,
               least({_CHUNK_TOKENS}, n - c.st) AS n_tokens
        FROM cex
    )
    """


@query(
    "q73_chunk_documents",
    oracle=f"""
    WITH {_sql_chunk_ctes("documents", "text")}
    SELECT doc_id, chunk_idx, chunk_md5,
           CAST(n_tokens AS INTEGER) AS n_tokens
    FROM chunks
    """,
)
def q73_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded chunking with overlap (operators/training_prep.py:
    chunk_documents): one output row per chunk, consecutive chunks sharing
    {_OVERLAP} tokens, trailing all-overlap chunks dropped. Pure Catalyst
    explode — output rows ∝ corpus tokens / step, no Python, no shuffle;
    the oracle replays the start-index arithmetic exactly."""
    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(
        docs, chunk_tokens=_CHUNK_TOKENS, overlap_tokens=_OVERLAP
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_md5"),
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# q81: budget-greedy chunking (plain + overlap arms), list_reduce oracle
# ---------------------------------------------------------------------------

# Cost model for the gate: ceil(len/4) — the classic chars-per-BPE-token
# estimate. Chosen over the default re_token_count because this corpus is
# lowercase alnum, where every ws token costs exactly 1 regex token and
# the greedy fold would degenerate to fixed-size chunking; length-based
# costs vary per token, so the budget boundaries (and the overlap
# clamping) genuinely depend on the fold. /4.0 is a power-of-two divide —
# exact in IEEE doubles, so ceil is engine-portable.
_Q81_BUDGET = 16
_Q81_OVERLAP = 4


def _q81_cost(t):
    return F.ceil(F.length(t) / F.lit(4.0))


@query(
    "q81_budget_chunks",
    oracle=f"""
    WITH b1 AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    b2 AS (
        SELECT doc_id, toks, len(toks) AS n,
               list_transform(toks,
                   t -> CAST(ceil(length(t) / 4.0) AS BIGINT)) AS costs
        FROM b1 WHERE len(toks) > 0
    ),
    b3 AS (
        -- the greedy fold: list_reduce's fold-from-first-element IS the
        -- greedy semantics (the first token opens chunk 0 at index 0),
        -- so no init-value workaround is needed. State is the FLAT list
        -- [acc, start0, start1, ...] and each element enters as the
        -- single-token state [cost_i, i]: DuckDB v1.0.0's list_reduce
        -- silently drops all but the last element of a LIST field nested
        -- in a STRUCT accumulator (measured: {{'v',…,'l': s.l || x.l}}
        -- folds l to [3] over [[1],[2],[3]]), while a plain LIST
        -- accumulator folds correctly.
        SELECT doc_id, toks, n, costs,
               list_reduce(
                   list_transform(range(1, len(costs) + 1),
                       i -> [costs[i], CAST(i - 1 AS BIGINT)]),
                   (s, x) -> CASE WHEN s[1] + x[1] > {_Q81_BUDGET}
                       THEN [x[1]] || s[2:] || [x[2]]
                       ELSE [s[1] + x[1]] || s[2:] END)[2:] AS gs
        FROM b2
    ),
    arms AS (
        SELECT 'plain' AS arm, 0 AS ov, * FROM b3
        UNION ALL
        SELECT 'overlap' AS arm, {_Q81_OVERLAP} AS ov, * FROM b3
    ),
    ex AS (
        SELECT arm, doc_id, toks, costs,
               unnest(list_transform(range(1, len(gs) + 1),
                   j -> {{'ci': j - 1,
                         's0': gs[j],
                         'e0': CASE WHEN j < len(gs) THEN gs[j + 1]
                                    ELSE n END,
                         'es': CASE WHEN j = 1 THEN gs[j]
                                    ELSE greatest(gs[j] - ov, gs[j - 1])
                               END}})) AS c
        FROM arms
    )
    SELECT arm, doc_id,
           CAST(c.ci AS INTEGER) AS chunk_idx,
           md5(array_to_string(toks[c.es + 1 : c.e0], ' ')) AS chunk_md5,
           CAST(c.e0 - c.es AS INTEGER) AS n_tokens,
           CAST(c.e0 - c.s0 AS INTEGER) AS n_new_tokens,
           CAST(list_aggregate(costs[c.es + 1 : c.e0], 'sum') AS BIGINT)
               AS budget_cost
    FROM ex
    """,
)
def q81_budget_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-greedy chunking (operators/training_prep.py:
    chunk_documents_by_budget) under the hash gate, BOTH arms: plain
    (non-overlapping) and ws-token-overlap (each chunk after the first
    extended backward by up to {OV} tokens of its predecessor, clamped at
    the predecessor's start; the budget governs new tokens only). The
    oracle replays the greedy fold with DuckDB's ``list_reduce`` — its
    fold-from-first-element initialization coincides exactly with the
    greedy rule that the first token opens chunk 0 — so chunk boundaries,
    texts (via md5), token/new-token counts, and per-chunk cost sums are
    all bit-compared.

    Scale shape: identical to the plain budget chunker — the fold and the
    overlap adjustment both ride the scan stage (no Exchange, asserted in
    tests/test_training_prep.py). r19: BOTH arms ride ONE scan
    (chunk_documents_by_budget_arms) — the greedy boundaries are
    arm-independent, so the old two-arm union paid the tokenize + cost +
    fold prefix twice for one fold's worth of information; the arms form
    computes it once and explodes the arm dimension before the per-chunk
    extraction. Row set identical (the oracle replays the same two-arm
    union; arms ≡ per-arm-union asserted in tests)."""
    from movie_recommendation_etl_spark.operators.training_prep import (
        chunk_documents_by_budget_arms,
    )

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents_by_budget_arms(
        docs,
        arms=(("plain", 0), ("overlap", _Q81_OVERLAP)),
        budget=_Q81_BUDGET,
        cost_fn=_q81_cost,
    )
    return ch.select(
        "arm",
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_md5"),
        "n_tokens",
        "n_new_tokens",
        "budget_cost",
    )


# ---------------------------------------------------------------------------
# q74: incremental near-dup admission, two-batch replay
# ---------------------------------------------------------------------------


@query(
    "q74_incremental_admission",
    oracle=f"""
    WITH {_SQL_VERIFIED_CTES},
    sexpl AS (
        SELECT doc_id, t.j AS band_idx, bands[t.j + 1] AS band_val
        FROM banded CROSS JOIN (SELECT unnest(range(0, 4)) AS j) t
        WHERE len(sh) > 0
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sexpl a
        JOIN sexpl b ON a.band_idx = b.band_idx
                    AND a.band_val = b.band_val
                    AND a.doc_id <> b.doc_id
    ),
    ag AS (
        SELECT id_a, id_b,
               CAST(len(list_filter(range(1, 13), i -> x.sig[i] = y.sig[i]))
                    AS DOUBLE) / 12 AS est
        FROM cand
        JOIN sigs x ON x.doc_id = id_a
        JOIN sigs y ON y.doc_id = id_b
    ),
    rej1 AS (
        SELECT DISTINCT id_a AS doc_id FROM ag
        WHERE id_a < 1000000 AND id_b < 1000000 AND id_a > id_b
          AND est >= 0.7
    ),
    adm1 AS (
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM rej1)
    ),
    rej2 AS (
        SELECT DISTINCT id_a AS doc_id FROM ag
        WHERE id_a >= 1000000 AND id_b >= 1000000 AND id_a > id_b
          AND est >= 0.7
        UNION
        SELECT DISTINCT ag.id_a AS doc_id
        FROM ag JOIN adm1 s ON ag.id_b = s.doc_id
        WHERE ag.id_a >= 1000000 AND ag.id_b < 1000000 AND ag.est >= 0.7
    ),
    adm2 AS (
        SELECT doc_id + 1000000 AS doc_id FROM documents
        WHERE doc_id + 1000000 NOT IN (SELECT doc_id FROM rej2)
    ),
    adm_both AS (
        SELECT 1 AS batch, doc_id FROM adm1
        UNION ALL
        SELECT 2 AS batch, doc_id FROM adm2
    )
    -- two arms, one answer (the q48/q76 playbook): the BATCH arm runs the
    -- direct two-call admission, the STREAM arm drains the same two
    -- batches through stream_admit_documents with a forced micro-batch
    -- split — identical admitted sets by the exactly-once composition
    SELECT 'batch' AS arm, batch, doc_id FROM adm_both
    UNION ALL
    SELECT 'stream' AS arm, batch, doc_id FROM adm_both
    """,
)
def q74_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch replay of the incremental admission store
    (operators/incremental_dedup.py:admit_new_documents): batch 1 bootstraps
    the signature store from the original documents; batch 2 offers their
    near-dup twins (last 3 tokens dropped), which must be rejected by
    signature agreement against the STORE — no re-read of the batch-1 text.
    The oracle replays the full md5-derived Carter-Wegman MinHash family,
    banding, and the 12-position agreement estimator, plus both rejection
    scopes (within-batch smaller-id and cross-batch vs admitted store rows).

    Store probe is an equi-join on (band_idx, band_val) against a store 3
    orders smaller than the corpus — the O(batch) ingestion-gate shape that
    never re-reads admitted text at 100 TB.

    Between the batches the store is deliberately FRAGMENTED (rewritten as
    many small files per band_pfx partition) and then compacted
    (sources/compact.py:compact_parquet) — r8 VERDICT #2: compaction
    rewrites user data, the riskiest operator to leave off the oracle.
    Batch 2 probes the compacted store, so a compaction that loses,
    duplicates, or corrupts even one signature row changes the rejection
    set and hash-fails this gate. The construction raises if the fragment
    step failed to fragment (an empty compaction plan would mean the gate
    silently stopped exercising the rewrite).

    STREAM arm (r17, VERDICT r16 #3): the same two batches drain through
    streaming/incremental.stream_admit_documents — two mtime-ordered
    source files under maxFilesPerTrigger=1 force the micro-batch split
    (the construction raises if the split didn't happen), so batch-2
    rejection provably rides the persisted STORE, not the batch. The
    oracle emits the same admitted sets once per arm; a divergence in the
    foreachBatch path's exactly-once composition (same-id replay upsert +
    per-batch sink overwrite) hash-fails here instead of resting on
    pytest alone."""
    import time as _time

    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_documents,
    )
    from movie_recommendation_etl_spark.sources.compact import (
        compact_parquet,
    )
    from movie_recommendation_etl_spark.streaming.incremental import (
        stream_admit_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    twins = _with_twins(docs).filter(F.col("doc_id") >= 1000000)
    # mkdtemp: unique per invocation, so two concurrent drivers (or sf dirs
    # with the same basename) can never rmtree each other's store mid-query;
    # the result is localCheckpoint'ed so the store can be removed before
    # the caller ever collects.
    store_dir = tempfile.mkdtemp(prefix="spark_graft_q74_store_")
    try:
        store = os.path.join(store_dir, "store")
        adm1 = admit_new_documents(spark, docs, store, sim_threshold=0.7)
        # fragment: re-spread every partition over ~6 files (detach the
        # content first — the write overwrites its own source files)
        frag = spark.read.parquet(store).localCheckpoint(eager=True)
        (
            frag.repartition(6)
            .write.mode("overwrite")
            .partitionBy("band_pfx")
            .parquet(store)
        )
        plans = compact_parquet(spark, store)
        if not plans:
            raise RuntimeError(
                "q74 compaction interposition did not fragment the store"
            )
        adm2 = admit_new_documents(spark, twins, store, sim_threshold=0.7)
        batch_arm = adm1.select(
            F.lit("batch").alias("arm"), F.lit(1).alias("batch"), "doc_id"
        ).unionByName(
            adm2.select(
                F.lit("batch").alias("arm"),
                F.lit(2).alias("batch"),
                "doc_id",
            )
        )

        # ---- stream arm: fresh store/sink/ckpt, forced 2-batch drain ----
        src = os.path.join(store_dir, "stream_src")
        docs.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes: the docs file drains first
        twins.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_admit_documents(
            stream,
            os.path.join(store_dir, "stream_store"),
            os.path.join(store_dir, "stream_sink"),
            os.path.join(store_dir, "stream_ckpt"),
            sim_threshold=0.7,
        )
        q.awaitTermination()
        sink = spark.read.parquet(os.path.join(store_dir, "stream_sink"))
        n_batches = sink.select("ingest_batch").distinct().count()
        if n_batches < 2:
            raise RuntimeError(
                "q74 stream arm did not split into two micro-batches "
                f"(saw {n_batches}); cross-batch rejection would ride the "
                "batch, not the store"
            )
        stream_arm = sink.select(
            F.lit("stream").alias("arm"),
            (F.col("ingest_batch") + 1).cast("int").alias("batch"),
            "doc_id",
        )
        return (
            batch_arm.unionByName(stream_arm).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# q75: incremental EMBEDDING admission, two-batch replay (r6 VERDICT #3)
# ---------------------------------------------------------------------------

_Q75_DIM = 64
_Q75_N_BITS = 96
_Q75_RPB = 8
_Q75_TAU = 0.92


@query(
    "q75_embedding_admission",
    oracle=f"""
    WITH orig AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    b2 AS (
        SELECT o.vec_id + 100000 AS vec_id,
               CASE WHEN o.vec_id % 2 = 0 THEN
                   list_transform(range(1, {_Q75_DIM} + 1), i -> o.emb[i] *
                       (CASE WHEN substring(md5('t:' || o.vec_id || ':'
                                  || (i - 1)), 1, 1) IN ({_SQL_HIGH})
                             THEN 1.1 ELSE 0.9 END))
               ELSE list_transform(o.emb, x -> -x) END AS emb
        FROM orig o
    ),
    unioned AS (
        SELECT 1 AS batch, vec_id, emb FROM orig
        UNION ALL
        SELECT 2 AS batch, vec_id, emb FROM b2
    ),
    q AS (
        SELECT batch, vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
        FROM unioned
    ),
    qq AS (
        SELECT batch, vec_id, scale,
               CASE WHEN scale = 0
                    THEN list_transform(emb, x -> CAST(0 AS TINYINT))
                    ELSE list_transform(emb,
                         x -> CAST(round(x / scale) AS TINYINT))
               END AS qv
        FROM q
    ),
    bits AS (
        SELECT batch, vec_id, hs.h AS h,
               CASE WHEN list_aggregate(
                        list_transform(range(1, {_Q75_DIM} + 1), i ->
                            u.emb[i] * (CASE WHEN substring(
                                md5(hs.h || ':' || (i - 1)), 1, 1)
                                IN ({_SQL_HIGH})
                                THEN 1.0 ELSE -1.0 END)), 'sum') > 0
                    THEN 1 ELSE 0 END AS bit
        FROM unioned u
        CROSS JOIN (SELECT unnest(range(0, {_Q75_N_BITS})) AS h) hs
    ),
    banded AS (
        SELECT batch, vec_id, CAST(h // {_Q75_RPB} AS INTEGER) AS band_idx,
               list_reduce(list(bit ORDER BY h), (a, x) -> a * 2 + x)
                   AS band_val
        FROM bits
        GROUP BY batch, vec_id, h // {_Q75_RPB}
    ),
    cand AS (
        SELECT DISTINCT a.batch AS ba, a.vec_id AS id_a,
                        b.batch AS bb, b.vec_id AS id_b
        FROM banded a
        JOIN banded b ON a.band_idx = b.band_idx
                     AND a.band_val = b.band_val
                     AND a.vec_id <> b.vec_id
    ),
    cosq AS (
        SELECT c.ba, c.id_a, c.bb, c.id_b,
               (CAST(list_aggregate(list_transform(
                    range(1, {_Q75_DIM} + 1),
                    i -> CAST(x.qv[i] AS BIGINT) * CAST(y.qv[i] AS BIGINT)),
                    'sum') AS DOUBLE) * x.scale * y.scale)
               / NULLIF(
                   sqrt(CAST(list_aggregate(list_transform(
                       range(1, {_Q75_DIM} + 1),
                       i -> CAST(x.qv[i] AS BIGINT)
                            * CAST(x.qv[i] AS BIGINT)), 'sum') AS DOUBLE))
                     * x.scale
                   * sqrt(CAST(list_aggregate(list_transform(
                       range(1, {_Q75_DIM} + 1),
                       i -> CAST(y.qv[i] AS BIGINT)
                            * CAST(y.qv[i] AS BIGINT)), 'sum') AS DOUBLE))
                     * y.scale, 0) AS cos
        FROM cand c
        JOIN qq x ON x.vec_id = c.id_a AND x.batch = c.ba
        JOIN qq y ON y.vec_id = c.id_b AND y.batch = c.bb
    ),
    rej1 AS (
        SELECT DISTINCT id_a AS vec_id FROM cosq
        WHERE ba = 1 AND bb = 1 AND id_a > id_b AND cos >= {_Q75_TAU}
    ),
    adm1 AS (
        SELECT vec_id FROM orig
        WHERE vec_id NOT IN (SELECT vec_id FROM rej1)
    ),
    rej2 AS (
        SELECT DISTINCT id_a AS vec_id FROM cosq
        WHERE ba = 2 AND bb = 2 AND id_a > id_b AND cos >= {_Q75_TAU}
        UNION
        SELECT DISTINCT c.id_a AS vec_id
        FROM cosq c JOIN adm1 s ON c.id_b = s.vec_id
        WHERE c.ba = 2 AND c.bb = 1 AND c.cos >= {_Q75_TAU}
    ),
    adm2 AS (
        SELECT vec_id FROM b2
        WHERE vec_id NOT IN (SELECT vec_id FROM rej2)
    ),
    adm_both AS (
        SELECT 1 AS batch, vec_id FROM adm1
        UNION ALL
        SELECT 2 AS batch, vec_id FROM adm2
    )
    -- two arms, one answer (r17, the q74 playbook): the STREAM arm
    -- drains the same two batches through stream_admit_embeddings with a
    -- forced micro-batch split
    SELECT 'batch' AS arm, batch, vec_id FROM adm_both
    UNION ALL
    SELECT 'stream' AS arm, batch, vec_id FROM adm_both
    """,
)
def q75_embedding_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch replay of the EMBEDDING admission store
    (operators/incremental_dedup.py:admit_new_embeddings): batch 1
    bootstraps the SRP-band + int8-signature store from the embeddings
    table; batch 2 offers, per original vector, either a scaled near-dup
    twin (even ids, the q53 0.9/1.1 md5 construction, cos ~ 0.995 — must be
    rejected against the STORE's int8 signatures, never the original
    floats) or its negation (odd ids, cos = -1, bands bit-flipped — must be
    admitted). The oracle replays the md5-derived Rademacher hyperplanes,
    the sequential-fold bit signs, the MSB-first band packing, symmetric
    int8 quantization (scale = absmax/127, round-half-away ties) and the
    integer-dot cosine bit-for-bit, plus both rejection scopes
    (within-batch smaller-id greedy, cross-batch vs admitted store rows).

    Scale shape: identical to q74's — probe is an equi-join on
    (band_idx, band_val) against a store holding 12 ints + dim bytes per
    admitted vector, O(batch + band buckets), never O(corpus).

    STREAM arm (r17, completing the q74 playbook on the vector tier): the
    same two batches drain through streaming/incremental.
    stream_admit_embeddings with a forced micro-batch split, so
    cross-batch rejection provably rides the persisted SRP store; the
    oracle emits the admitted sets once per arm."""
    import time as _time

    from movie_recommendation_etl_spark.operators.incremental_dedup import (
        admit_new_embeddings,
    )
    from movie_recommendation_etl_spark.operators.neardup import HEX_HIGH
    from movie_recommendation_etl_spark.streaming.incremental import (
        stream_admit_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    orig = emb.select("vec_id", as_double.alias("emb"))
    twin_scale = F.transform(
        as_double,
        lambda x, i: x
        * F.when(
            F.md5(
                F.concat(
                    F.lit("t:"),
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            )
            .substr(1, 1)
            .isin(*HEX_HIGH),
            F.lit(1.1),
        ).otherwise(F.lit(0.9)),
    )
    # Two selects for the same lateral-alias reason as q53: the twin's md5
    # key must hash the ORIGINAL vec_id, so the +100000 shift happens after.
    batch2 = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, twin_scale)
        .otherwise(F.transform(as_double, lambda x: -x))
        .alias("emb"),
    ).select((F.col("vec_id") + 100000).alias("vec_id"), "emb")

    store_dir = tempfile.mkdtemp(prefix="spark_graft_q75_store_")
    try:
        store = os.path.join(store_dir, "store")
        adm1 = admit_new_embeddings(
            spark, orig, store,
            id_col="vec_id", vec_col="emb",
            dim=_Q75_DIM, cos_threshold=_Q75_TAU,
        )
        adm2 = admit_new_embeddings(
            spark, batch2, store,
            id_col="vec_id", vec_col="emb",
            dim=_Q75_DIM, cos_threshold=_Q75_TAU,
        )
        batch_arm = adm1.select(
            F.lit("batch").alias("arm"), F.lit(1).alias("batch"), "vec_id"
        ).unionByName(
            adm2.select(
                F.lit("batch").alias("arm"),
                F.lit(2).alias("batch"),
                "vec_id",
            )
        )

        # ---- stream arm: fresh store/sink/ckpt, forced 2-batch drain ----
        src = os.path.join(store_dir, "stream_src")
        orig.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes: batch 1's file drains first
        batch2.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(orig.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_admit_embeddings(
            stream,
            os.path.join(store_dir, "stream_store"),
            os.path.join(store_dir, "stream_sink"),
            os.path.join(store_dir, "stream_ckpt"),
            id_col="vec_id",
            vec_col="emb",
            dim=_Q75_DIM,
            cos_threshold=_Q75_TAU,
        )
        q.awaitTermination()
        sink = spark.read.parquet(os.path.join(store_dir, "stream_sink"))
        n_batches = sink.select("ingest_batch").distinct().count()
        if n_batches < 2:
            raise RuntimeError(
                "q75 stream arm did not split into two micro-batches "
                f"(saw {n_batches}); cross-batch rejection would ride the "
                "batch, not the store"
            )
        stream_arm = sink.select(
            F.lit("stream").alias("arm"),
            (F.col("ingest_batch") + 1).cast("int").alias("batch"),
            "vec_id",
        )
        return (
            batch_arm.unionByName(stream_arm).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


_Q77_SEQ_LEN = 128
_Q77_SHARDS = 8


@query(
    "q77_pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {_sql_hex8_to_bigint("md5(CAST(doc_id AS VARCHAR))")} AS key
        FROM documents
        WHERE len(string_split(text, ' ')) > 0
    ),
    s AS (
        SELECT doc_id, n_tokens, key,
               CAST(key % {_Q77_SHARDS} AS INTEGER) AS shard
        FROM d
    ),
    c AS (
        SELECT shard, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY key, doc_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        FROM s
    ),
    b AS (
        SELECT shard, doc_id, n_tokens, end_off,
               end_off - n_tokens AS start_off
        FROM c
    ),
    e AS (
        SELECT shard, doc_id, start_off, end_off,
               unnest(range(start_off // {_Q77_SEQ_LEN},
                            (end_off - 1) // {_Q77_SEQ_LEN} + 1)) AS seq_idx
        FROM b
    )
    SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, doc_id,
           greatest(CAST(0 AS BIGINT),
                    seq_idx * {_Q77_SEQ_LEN} - start_off) AS slice_start,
           greatest(start_off, seq_idx * {_Q77_SEQ_LEN})
               - seq_idx * {_Q77_SEQ_LEN} AS offset_in_seq,
           least(end_off, (seq_idx + 1) * {_Q77_SEQ_LEN})
               - greatest(start_off, seq_idx * {_Q77_SEQ_LEN})
               AS n_tokens_in_seq
    FROM e
    """,
)
def q77_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/training_prep.py:pack_sequences) over the
    documents table: whitespace token counts, {_Q77_SHARDS} md5-keyed
    shards, {_Q77_SEQ_LEN}-token training sequences. The md5 order key
    (engine-portable, same trick as q58) replaces the default xxhash64 so
    DuckDB replays the identical shard assignment, order, and offsets —
    the full concat-and-split map hash-matches bit-for-bit.
    """
    from movie_recommendation_etl_spark.operators.training_prep import (
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    counted = docs.select(
        "doc_id", F.size(toks).cast("long").alias("n_tokens")
    )
    from movie_recommendation_etl_spark.plans.curation import md5_hex8_long

    md5_key = md5_hex8_long("doc_id")
    return pack_sequences(
        counted,
        id_col="doc_id",
        count_col="n_tokens",
        seq_len=_Q77_SEQ_LEN,
        num_shards=_Q77_SHARDS,
        order_key=md5_key,
    )


# ---------------------------------------------------------------------------
# q78: exact substring (duplicated-span) dedup, oracle-gated (r7 VERDICT #1)
# ---------------------------------------------------------------------------

_Q78_N = 20
# Planted cross-document boilerplate (the corpus is word salad with no
# natural >=20-token repeats): a 25-token "header" prepended to every 5th
# doc and a 22-token "licence" appended to every 7th. Only the pure-
# boilerplate windows repeat across docs (boundary windows mix in per-doc
# text), so the expected merged spans are exactly the planted blocks.
_Q78_HEADER = " ".join(f"bp{i:02d}" for i in range(25))
_Q78_LICENCE = " ".join(f"lic{i:02d}" for i in range(22))


def _boilerplate_planted(text_col: str = "text") -> "F.Column":
    """The q78 boilerplate plant as a Column: header prepended on every
    5th doc, licence appended on every 7th (docs divisible by 35 carry
    both — multi-span merge). Shared by q78's stage gate and q80's
    composed gate so the two plants can never drift (the SQL twins share
    the same property via the CASE expressions both oracles inline)."""
    base = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit(_Q78_HEADER), F.lit(" "), F.col(text_col)),
    ).otherwise(F.col(text_col))
    return F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(base, F.lit(" "), F.lit(_Q78_LICENCE)),
    ).otherwise(base)


def _sql_substring_dedup_ctes(src_rel: str, text_expr: str) -> str:
    """remove_duplicate_spans' gaps-and-islands arithmetic as reusable
    CTEs over ``src_rel(doc_id, {text_expr})``, ending in ``sbase(doc_id,
    toks)``, ``skept``/``sspanc`` (per-doc rebuild + span counts) and
    ``sdclean(doc_id, clean_text)`` — q78 gates the counts directly; q80
    chains the cleaned text into chunking. All integer span arithmetic
    and md5 keys; the {_Q78_N}-gram window (\u2265 2 distinct docs) matches the
    operator's defaults."""
    return f"""
    sbase AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim({text_expr}), '\\s+'),
                           t -> t <> '') AS toks
        FROM {src_rel}
    ),
    swins AS (
        SELECT doc_id, i - 1 AS s,
               md5(array_to_string(toks[i:i+{_Q78_N - 1}], ' ')) AS g
        FROM (
            SELECT doc_id, toks,
                   unnest(range(1, len(toks) - {_Q78_N} + 2)) AS i
            FROM sbase
            WHERE len(toks) >= {_Q78_N}
        )
    ),
    sdupg AS (
        SELECT g FROM swins GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    sdwin AS (
        SELECT w.doc_id, w.s, w.s + {_Q78_N} AS e
        FROM swins w JOIN sdupg USING (g)
    ),
    smarked AS (
        SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS pme
        FROM sdwin
    ),
    sisl AS (
        SELECT doc_id, s, e,
               sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM smarked
    ),
    sspans AS (
        SELECT doc_id, island, min(s) AS ss, max(e) AS ee
        FROM sisl GROUP BY doc_id, island
    ),
    stokpos AS (
        SELECT doc_id, i - 1 AS p, toks[i] AS tok
        FROM (
            SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
            FROM sbase
        )
    ),
    skept AS (
        SELECT t.doc_id,
               string_agg(t.tok, ' ' ORDER BY t.p) AS clean_text,
               count(*) AS n_kept
        FROM stokpos t
        WHERE NOT EXISTS (
            SELECT 1 FROM sspans sp
            WHERE sp.doc_id = t.doc_id AND t.p >= sp.ss AND t.p < sp.ee
        )
        GROUP BY t.doc_id
    ),
    sspanc AS (
        SELECT doc_id, count(*) AS n_spans FROM sspans GROUP BY doc_id
    ),
    sdclean AS (
        SELECT b.doc_id, COALESCE(k.clean_text, '') AS clean_text
        FROM sbase b LEFT JOIN skept k USING (doc_id)
    )
    """


@query(
    "q78_substring_dedup",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN base || ' ' || '{_Q78_LICENCE}'
                    ELSE base END AS text2
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN '{_Q78_HEADER}' || ' ' || text
                        ELSE text END AS base
            FROM documents
        )
    ),
    {_sql_substring_dedup_ctes("planted", "text2")}
    SELECT b.doc_id,
           md5(COALESCE(k.clean_text, '')) AS clean_md5,
           CAST(len(b.toks) AS INTEGER) AS n_tokens,
           CAST(len(b.toks) - COALESCE(k.n_kept, 0) AS INTEGER)
               AS n_tokens_removed,
           CAST(COALESCE(sc.n_spans, 0) AS INTEGER) AS n_spans
    FROM sbase b
    LEFT JOIN skept k USING (doc_id)
    LEFT JOIN sspanc sc USING (doc_id)
    """,
)
def q78_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (operators/substring_dedup.py:
    remove_duplicate_spans) under the full hash gate: plant boilerplate
    blocks across documents (header on every 5th doc, licence tail on every
    7th — docs divisible by 35 carry both, exercising multi-span merge),
    remove every {_Q78_N}-gram span shared by >=2 distinct docs, and report
    per doc the md5 of the rebuilt text plus exact token/span counts.

    Everything is integer span arithmetic, md5 keys, and string rebuilds —
    no floating point — so the DuckDB gaps-and-islands oracle replays it
    bit-for-bit. Scale shape unchanged from the operator: window explode
    (rows ∝ corpus tokens), one hash-agg on uniform md5 gram keys, per-doc
    windows over the few duplicated spans, scan-stage HOF rebuild."""
    from movie_recommendation_etl_spark.operators.substring_dedup import (
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select("doc_id", _boilerplate_planted().alias("text"))
    cleaned = remove_duplicate_spans(
        planted, n=_Q78_N, min_docs=2
    )
    return cleaned.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_tokens",
        "n_tokens_removed",
        "n_spans",
    )


# ---------------------------------------------------------------------------
# q79: unigram perplexity band filter, oracle-gated (r7 VERDICT #2)
# ---------------------------------------------------------------------------

_Q79_KEEP = 0.7
# Engine-portable log2: DuckDB's log2() disagrees with the JVM's in the
# last ulp on part of this domain, but ln(x)/ln(2.0) reproduces Spark's
# F.log2 bit-for-bit (measured over the full model-probability domain —
# scripts/measure_log_bitmatch.py: 0 mismatches for ln/ln2 vs 5/25 for
# native log2).
_Q79_SQL_LOG2 = "ln({x}) / ln(2.0)"


def _trusted_first_hex(col: str = "doc_id") -> "F.Column":
    """True where md5(id)'s leading hex digit is 0-7 — the deterministic
    50/50 trusted/target split shared by q79's stage gate and q80's
    composed gate (SQL twins inline the same substring-IN predicate)."""
    return F.md5(F.col(col).cast("string")).substr(1, 1).isin(*"01234567")


def _sql_perplexity_band_ctes(
    trusted_rel: str,
    target_rel: str,
    *,
    trusted_text: str = "text",
    target_text: str = "text",
    keep: float = _Q79_KEEP,
) -> str:
    """The perplexity_band scoring chain (fit add-one unigram model on
    ``trusted_rel`` → score ``target_rel`` → quantile cut) as reusable
    CTEs ending in ``pagg(doc_id, n_tokens, n_oov, cross_entropy)``,
    ``pcut(c)`` and ``pband(doc_id)`` (the kept set). q79 gates the scores
    directly; q80 chains the band filter inside the composed lifecycle.
    Exactness bridges (ln/ln2 log2, VARCHAR decimal sums) documented at
    the q79 call site."""
    return f"""
    ptok AS (
        SELECT unnest(list_filter(
                   regexp_split_to_array(trim({trusted_text}), '\\s+'),
                   t -> t <> '')) AS token
        FROM {trusted_rel}
    ),
    pcounts AS (SELECT token, count(*) AS cnt FROM ptok GROUP BY token),
    ptot AS (
        SELECT CAST(sum(cnt) + count(*) + 1 AS DOUBLE) AS denom
        FROM pcounts
    ),
    pmodel AS (
        SELECT token,
               {_Q79_SQL_LOG2.format(x="CAST(cnt + 1 AS DOUBLE) / t.denom")}
                   AS log2p
        FROM pcounts CROSS JOIN ptot t
    ),
    pdtok AS (
        SELECT doc_id,
               unnest(list_filter(
                   regexp_split_to_array(trim({target_text}), '\\s+'),
                   t -> t <> '')) AS token
        FROM {target_rel}
    ),
    pscored AS (
        SELECT d.doc_id,
               COALESCE(m.log2p,
                        {_Q79_SQL_LOG2.format(x="1.0 / t.denom")}) AS log2p,
               CASE WHEN m.log2p IS NULL THEN 1 ELSE 0 END AS oov
        FROM pdtok d
        LEFT JOIN pmodel m USING (token)
        CROSS JOIN ptot t
    ),
    pagg AS (
        -- Two DuckDB/Spark cast-semantics gaps, both bridged via VARCHAR:
        -- (1) Spark's DOUBLE -> DECIMAL parses the double's SHORTEST
        -- round-trip string while DuckDB expands the exact binary value,
        -- so at scale 18 they disagree past the 17th significant digit;
        -- (2) DuckDB's DECIMAL -> DOUBLE divides the int128 in floating
        -- point (not correctly rounded) while Spark's BigDecimal path is.
        -- VARCHAR round-trips are exact-digit on both sides and
        -- string -> double parsing is correctly rounded everywhere.
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               -(CAST(CAST(sum(CAST(CAST(log2p AS VARCHAR)
                                    AS DECIMAL(38,18))) AS VARCHAR)
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) AS cross_entropy
        FROM pscored GROUP BY doc_id
    ),
    pcut AS (
        SELECT quantile_cont(cross_entropy, {keep}) AS c FROM pagg
    ),
    pband AS (
        SELECT doc_id FROM pagg CROSS JOIN pcut WHERE cross_entropy <= pcut.c
    )
    """


@query(
    "q79_perplexity_band",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7') AS is_trusted
        FROM documents
    ),
    trusted AS (SELECT doc_id, text FROM split WHERE is_trusted),
    target AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' oovtok' || CAST(doc_id AS VARCHAR)
                    ELSE text END AS text
        FROM split WHERE NOT is_trusted
    ),
    {_sql_perplexity_band_ctes("trusted", "target")}
    SELECT doc_id, n_tokens, n_oov, cross_entropy
    FROM pagg CROSS JOIN pcut WHERE cross_entropy <= pcut.c
    """,
)
def q79_perplexity_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram perplexity band filter (operators/perplexity.py) under the
    full hash gate: documents whose md5 leading hex digit is 0-7 play the
    trusted corpus; the rest are the target corpus, with a PLANTED unique
    OOV token appended to every third target doc (the synthetic corpus
    shares one vocabulary, so without the plant the OOV path would never
    execute). Fit the add-one-smoothed unigram model on trusted, score
    each target doc's cross-entropy, keep the lowest {_Q79_KEEP:.0%} band.

    Oracle-exactness choices (all measured or by-construction):
    - log2 via the engine on both sides — F.log2 in Spark (including the
      OOV constant, evaluated inside the fit aggregation), ln(x)/ln(2.0)
      in DuckDB (bit-identical on this domain; native log2() is not);
    - per-doc sums through DECIMAL(38,18) → order-independent;
    - the band cut on cross-entropy (not pow-derived perplexity), via
      percentile/quantile_cont — both interpolate between the same order
      statistics, and an interior cut makes last-ulp cut differences
      unobservable in the kept SET."""
    from movie_recommendation_etl_spark.operators.perplexity import (
        perplexity_band,
    )

    docs = load_table(spark, sf_dir, "documents")
    trusted = docs.filter(_trusted_first_hex()).select("doc_id", "text")
    target = docs.filter(~_trusted_first_hex()).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" oovtok"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return perplexity_band(
        target, trusted, keep_fraction=_Q79_KEEP
    ).select("doc_id", "n_tokens", "n_oov", "cross_entropy")


# ---------------------------------------------------------------------------
# q80: the trainprep COMPOSITION itself (curate → chunk → pack), oracle-gated
# ---------------------------------------------------------------------------

_Q80_SEQ_LEN = 128
_Q80_SHARDS = 8


@query(
    "q80_trainprep_composed",
    oracle=f"""
    WITH RECURSIVE
    {_sql_curated_ctes(
        langs_sql="'en','other'", min_quality=0.3, neardup_twins=True
    )},
    {sql_minhash_verified_ctes("curated", text_col="rtext", prefix="nd")},
    ndgood AS (
        SELECT doc_a, doc_b FROM ndverified WHERE jaccard >= 0.8
    ),
    ndedges AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM ndgood
        UNION
        SELECT doc_b AS a, doc_a AS b FROM ndgood
    ),
    ndreach(node, lbl) AS (
        SELECT a, a FROM ndedges
        UNION
        SELECT e.a, r.lbl FROM ndedges e JOIN ndreach r ON r.node = e.b
    ),
    ndlosers AS MATERIALIZED (
        SELECT node FROM (
            SELECT node, MIN(lbl) AS cluster_id FROM ndreach GROUP BY node
        ) WHERE node <> cluster_id
    ),
    ndkept AS MATERIALIZED (
        SELECT c.* FROM curated c
        WHERE NOT EXISTS (SELECT 1 FROM ndlosers l WHERE l.node = c.doc_id)
    ),
    ptrusted AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7')
    ),
    {_sql_perplexity_band_ctes("ptrusted", "ndkept", target_text="rtext")},
    banded AS (
        SELECT c.doc_id, c.rtext FROM ndkept c JOIN pband USING (doc_id)
    ),
    evd AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ),
    ev_grams AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
            range(1, len(string_split(text, ' ')) - 3),
            i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))))
            AS gram
        FROM evd
    ),
    cgr AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, len(string_split(rtext, ' ')) - 3),
            i -> array_to_string(string_split(rtext, ' ')[i:i+4], ' ')))
            AS grams
        FROM banded
    ),
    chits AS (
        SELECT t.doc_id, count(*) AS n_overlap
        FROM (SELECT doc_id, unnest(grams) AS gram FROM cgr) t
        JOIN ev_grams e USING (gram)
        GROUP BY t.doc_id
    ),
    decon AS (
        SELECT c.doc_id, c.rtext
        FROM banded c
        JOIN cgr g USING (doc_id)
        LEFT JOIN chits h USING (doc_id)
        WHERE NOT (CASE WHEN len(g.grams) > 0
                   THEN CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                        / CAST(len(g.grams) AS DOUBLE)
                   ELSE 0.0 END >= 0.05)
    ),
    splant AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN sb || ' ' || '{_Q78_LICENCE}'
                    ELSE sb END AS sdtext
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN '{_Q78_HEADER}' || ' ' || rtext
                        ELSE rtext END AS sb
            FROM decon
        )
    ),
    {_sql_substring_dedup_ctes("splant", "sdtext")},
    {_sql_chunk_ctes("sdclean", "clean_text")},
    keyed AS (
        SELECT doc_id, chunk_idx, chunk_md5,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               {_sql_hex8_to_bigint("md5(CAST(doc_id AS VARCHAR))")} AS key
        FROM chunks
    ),
    sh AS (
        SELECT *, CAST(key % {_Q80_SHARDS} AS INTEGER) AS shard FROM keyed
    ),
    co AS (
        SELECT shard, doc_id, chunk_idx, chunk_md5, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY key, doc_id, chunk_idx
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
        FROM sh
    ),
    bo AS (
        SELECT shard, doc_id, chunk_idx, chunk_md5, n_tokens, end_off,
               end_off - n_tokens AS start_off
        FROM co
    ),
    ex2 AS (
        SELECT shard, doc_id, chunk_idx, chunk_md5, start_off, end_off,
               unnest(range(start_off // {_Q80_SEQ_LEN},
                            (end_off - 1) // {_Q80_SEQ_LEN} + 1)) AS seq_idx
        FROM bo
    )
    SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, doc_id, chunk_idx,
           chunk_md5,
           greatest(CAST(0 AS BIGINT),
                    seq_idx * {_Q80_SEQ_LEN} - start_off) AS slice_start,
           greatest(start_off, seq_idx * {_Q80_SEQ_LEN})
               - seq_idx * {_Q80_SEQ_LEN} AS offset_in_seq,
           least(end_off, (seq_idx + 1) * {_Q80_SEQ_LEN})
               - greatest(start_off, seq_idx * {_Q80_SEQ_LEN})
               AS n_tokens_in_seq
    FROM ex2
    """,
)
def q80_trainprep_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainprep CLI's core composition under ONE hash gate (r8 VERDICT
    #3): curate (lang/quality/repetition filters → mixed-case PII redaction
    → exact dedup → deterministic 50% sample, the q72 construction at a
    permissive lang/quality gate for volume) → FUZZY DEDUP (r17, VERDICT
    r16 #2: neardup_dedup — MinHash pairs over the redacted text →
    connected components → min-id survivor, exactly the trainprep
    --neardup stage; the +2000000 truncated-twin corpus slice survives
    exact dedup so only this stage can kill it, and the oracle replays
    the full md5-family MinHash chain + a recursive-CTE closure under
    MATERIALIZED CTEs — without materialization DuckDB re-inlines the
    whole upstream chain per reference and per recursion step)
    → PERPLEXITY BAND (unigram
    model fit on the md5-hex-0-7 trusted slice, keep the lowest-{_Q79_KEEP:.0%}
    cross-entropy band — the q79 construction; drops 30% of curated docs)
    → benchmark DECONTAMINATION (ngram_contamination vs the md5-hex-'0'
    eval slice, 5-grams, 0.05 ratio — the q76 construction; drops ~15%
    more, provably active) → SUBSTRING DEDUP (remove_duplicate_spans with
    the q78 boilerplate planted on the survivors — header on every 5th
    doc, licence tail on every 7th — so the stage provably removes spans)
    → chunk_documents ({_CHUNK_TOKENS}-token chunks, {_OVERLAP} overlap,
    the q73 construction) → pack_sequences ({_Q80_SEQ_LEN}-token
    sequences in {_Q80_SHARDS} md5-keyed shards, the q77 construction
    with the chunked compound key). The fuzzy dedup → band →
    decontamination chain is training_prep.filter_training_documents, the
    function the trainprep command calls, so this gate covers the
    command's chain. The stages are individually gated by q72/q79/q76/
    q78/q73/q77; this gate proves the COMPOSITION — the band scores the
    redacted survivor text, decontamination reads the banded stream,
    substring dedup rebuilds the decontaminated one, chunking the rebuilt
    text — with per-chunk content lineage: each packed slice carries the
    md5 of its chunk's text, smuggled through pack_sequences'
    ``chunk_col`` as a (chunk_idx, chunk_md5) struct (no re-read, no
    extra join, one window).

    Scale shape: scan-stage curation filters ahead of the single dedup
    shuffle; filter_training_documents materializes the curated base ONCE
    (localCheckpoint — it feeds the band target, the contamination
    verdicts, and each stage's semi-join left side; without the barrier
    the curation subtree executes once per branch, measured as a doubled
    __fp exchange), and so are the decontaminated survivors
    (remove_duplicate_spans consumes its input ~3x); the unigram model and
    eval grams ride broadcasts; the perplexity score frame is persisted
    until the survivors are materialized (the q79 cache-lifecycle
    contract); the chunk explode is scan-stage and pack is one
    hash-partitioned window. A 100 TB corpus pays eight big-data shuffles
    total (dedup keys, the fuzzy stage's banded self-join, model fit,
    scoring agg, gram hits, dup-gram agg, span windows, pack window); the
    final post-checkpoint segment is plan-asserted at three DISTINCT
    exchange ids."""
    from movie_recommendation_etl_spark.operators.training_prep import (
        pack_sequences,
    )
    from movie_recommendation_etl_spark.plans.curation import md5_hex8_long

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn("text", _planted_text())
    # third slice (r17): near-identical +2000000 twins (last 3 tokens
    # dropped, the q50 recipe) — they survive curation's EXACT dedup, so
    # only the fuzzy-dedup stage can kill them; min-id survivorship keeps
    # the original
    toks = F.split("text", " ")
    nd_twin = F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 3))
    corpus = planted.unionByName(
        planted.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        planted.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            nd_twin.alias("text"),
        )
    )
    unif = md5_hex8_long("doc_id").cast("double") / F.lit(4294967296.0)
    curated = curate_documents(
        corpus,
        langs=("en", "other"),
        min_quality=0.3,
        max_dup_token_frac=0.6,
        max_dup_2gram_frac=0.8,
        redact_pii=True,
        dedup=True,
        sample_fraction=0.5,
        sample_unif=unif,
    )
    # FUZZY DEDUP -> PERPLEXITY BAND -> DECONTAMINATION, the trainprep
    # command's own chain; the +2000000 twins make fuzzy dedup provably
    # drop rows (the oracle replays its MinHash + recursive-CTE closure)
    decon = filter_training_documents(
        curated,
        neardup_threshold=0.8,
        trusted=docs.filter(_trusted_first_hex()).select("doc_id", "text"),
        keep_fraction=_Q79_KEEP,
        eval_set=docs.filter(
            F.md5(F.col("doc_id").cast("string")).substr(1, 1) == "0"
        ),
        ngram=5,
        contamination_threshold=0.05,
    )
    from movie_recommendation_etl_spark.operators.substring_dedup import (
        remove_duplicate_spans,
    )

    # plant the q78 boilerplate on the decontaminated survivors so the
    # substring stage provably removes spans (the corpus has no natural
    # >=20-token cross-doc repeats), then rebuild each doc's text with the
    # duplicated spans dropped — the CLI's --substring-dedup stage
    splanted = decon.select(
        "doc_id", _boilerplate_planted().alias("text")
    )
    cleaned = remove_duplicate_spans(
        splanted, n=_Q78_N, min_docs=2
    ).select("doc_id", F.col("clean_text").alias("text"))
    ch = chunk_documents(
        cleaned,
        chunk_tokens=_CHUNK_TOKENS,
        overlap_tokens=_OVERLAP,
    )
    withck = ch.select(
        "doc_id",
        F.struct(
            F.col("chunk_idx"), F.md5("chunk_text").alias("chunk_md5")
        ).alias("ck"),
        "n_tokens",
    )
    packed = pack_sequences(
        withck,
        id_col="doc_id",
        count_col="n_tokens",
        chunk_col="ck",
        seq_len=_Q80_SEQ_LEN,
        num_shards=_Q80_SHARDS,
        order_key=md5_hex8_long("doc_id"),
    )
    return packed.select(
        "shard",
        "seq_idx",
        "doc_id",
        F.col("ck.chunk_idx").alias("chunk_idx"),
        F.col("ck.chunk_md5").alias("chunk_md5"),
        "slice_start",
        "offset_in_seq",
        "n_tokens_in_seq",
    )
