"""Incremental near-dup admission: dedup NEW batches against a persisted
signature store without ever re-reading the corpus.

The batch near-dup pipeline (operators/neardup.py) is O(corpus) per run —
right for a one-time sweep, wrong for ingestion, where each arriving batch
must be checked against everything admitted so far. This module keeps a
parquet SIGNATURE STORE — per admitted doc: its MinHash signature (12
longs) and LSH band hashes — so admission cost is O(batch + matching
band buckets), independent of corpus size. A 100 TB corpus's store is
~100 GB (3 orders smaller), and the probe is an equi-join on band hash:
shuffle-friendly, prunable, never all-pairs.

The store is PARTITIONED by a 16-way band-hash prefix (``band_pfx``,
derived from ``band_val``), and the probe statically prunes the store scan
to the batch's own prefixes: the batch's distinct prefixes (a driver
collect bounded by N_STORE_PARTITIONS values) become a literal IN
partition filter, so a small steady-state batch reads a few store
partitions, not the whole store
(tests/test_incremental_dedup.py asserts the PartitionFilters in the plan).
The prune itself costs one driver job, so it only engages once the store
exceeds PRUNE_MIN_STORE_BYTES — below that a full scan is cheaper than the
job it saves; the layout is partitioned either way.
Stores written before this layout (no ``band_pfx`` directory level) are
read compatibly: the prefix is derived on read and pruning degrades to a
post-scan filter until the store is rewritten.

Similarity against stored docs is ESTIMATED from signature agreement
(fraction of equal minhash positions — an unbiased Jaccard estimator; with
12 hashes the std-err is ~0.13, so thresholds are coarse by design). The
store keeps no shingles, which is the point: exact-Jaccard verification of
store matches would mean keeping O(corpus tokens) around forever. Pipelines
needing exact verification run the batch pipeline offline on the admitted
corpus; this gate's job is cheap high-recall rejection at the front door.

Within-batch semantics are GREEDY-BY-ID, not cluster-resolved: the
survivors are exactly the docs with no above-threshold band-match to ANY
smaller-id batch doc — including one that was itself rejected. For a
near-dup chain A≈B≈C (ids ascending, C≉A), B dies against A and C dies
against B; that coincides with the offline pipeline's connected-component
resolution (q54 — one survivor per component), but on other similarity
graphs the two rules genuinely differ (edges A–C and B–C only: greedy
admits A AND B, cluster resolution keeps only A). Greedy-by-id is chosen
because it needs one pass, no iteration, and is deterministic under
partitioning; pipelines wanting cluster semantics run the batch near-dup +
graph pass offline. Pinned by tests/test_incremental_dedup.py's chain and
vee tests.

Write path: admitted signatures merge into the store via
merge_upsert_parquet keyed (doc_id, band_idx) — idempotent, so replaying a
batch (at-least-once delivery) converges instead of duplicating store rows.
Self-matches are excluded on probe, so a replayed doc does not reject
itself. Compact the store periodically (sources/compact.py).

``checkpoint_dir`` switches the two lineage-truncation points (the banded
batch, the admitted result) from ``localCheckpoint`` — executor blocks,
lost with an executor — to reliable ``checkpoint()`` on the given HDFS/S3
path via operators/_checkpoint.reliable_checkpoint_scope. Ingestion is the
one place this code runs forever, so surviving executor loss mid-admission
matters; results are identical either way (dual-path pytest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.operators._checkpoint import (
    reliable_checkpoint_scope,
)
from movie_recommendation_etl_spark.operators.neardup import (
    minhash_signature_cols,
    band_hashes,
    word_shingles,
)
from movie_recommendation_etl_spark.sources.writers import (
    merge_upsert_parquet,
)

NUM_HASHES = 12
ROWS_PER_BAND = 3
# 16-way store partitioning on a band-hash prefix: enough spread that a
# probe prunes ~15/16 of store files, few enough that small stores do not
# fragment (compaction handles the rest).
N_STORE_PARTITIONS = 16
# The probe's plan-time prune costs one driver job (distinct band_pfx
# collect over the batch). Below this store size a full store scan is
# cheaper than that job, so the prune only engages above it; the 100 TB
# steady state is far above, the sf-scale bench far below.
PRUNE_MIN_STORE_BYTES = 64 << 20
# Files each merge leaves per store partition dir. 1 keeps the store at
# N_STORE_PARTITIONS files total (steady-state probes open 16 footers, not
# hundreds); raise for write parallelism once partitions outgrow a single
# task's comfortable output (~1 GB+/partition).
STORE_FILES_PER_PARTITION = 1


def _read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The store frame, or None when the store does not exist yet
    (bootstrap). ONLY the missing-path AnalysisException maps to None;
    every other failure propagates (see admit_new_documents). A merge
    commit a crash interrupted is applied first (r14 crash-safe protocol,
    sources/writers.recover_pending_merge) — apply-only, never purging a
    live writer's staging."""
    from pyspark.sql.utils import AnalysisException

    from movie_recommendation_etl_spark.sources.writers import (
        recover_pending_merge,
    )

    recover_pending_merge(spark, store_path)
    try:
        return spark.read.parquet(store_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise


def _store_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API (works for
    file:/, hdfs:/, s3a:/ alike); 0 when the path is missing. One driver FS
    call — gates whether the probe's plan-time prune is worth its job."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.getContentSummary(p).getLength()
    except Exception:
        return 0


def _doc_band_pfx(band_val) -> F.Column:
    """Partition prefix for a doc-store band value (md5 hex string): the
    leading hex digit as an int — same derivation probe-side and
    store-side, so the join key doubles as the pruning key."""
    c = F.col(band_val) if isinstance(band_val, str) else band_val
    return F.conv(F.substring(c, 1, 1), 16, 10).cast("int")


def _emb_band_pfx(band_val) -> F.Column:
    """Partition prefix for an embedding-store band value (packed int)."""
    c = F.col(band_val) if isinstance(band_val, str) else band_val
    return F.pmod(c, F.lit(N_STORE_PARTITIONS)).cast("int")


def _with_band_pfx(store: DataFrame, pfx_fn) -> DataFrame:
    """Ensure the store frame carries band_pfx (legacy unpartitioned stores
    predate the column; derive it on read — no pruning, still correct)."""
    if "band_pfx" in store.columns:
        return store
    return store.withColumn("band_pfx", pfx_fn("band_val"))


def _pruned_store(store: DataFrame, bands: DataFrame) -> DataFrame:
    """Static partition pruning for the probe: the batch's DISTINCT band
    prefixes — a driver collect bounded by N_STORE_PARTITIONS values, never
    by row count — become a literal IN filter on the store scan, so the
    probe reads only partitions the batch can possibly match. Static
    pruning beats relying on DPP here: DPP only fires with a selective
    predicate + broadcast on the probe side (neither guaranteed for a
    checkpointed batch frame), while 16 collected ints prune at plan time
    unconditionally. A small batch (the steady-state ingestion case) scans
    a few store partitions instead of all of them."""
    vals = [r[0] for r in bands.select("band_pfx").distinct().collect()]
    return store.filter(F.col("band_pfx").isin(vals))


def _maybe_pruned_store(spark, store, store_path, bands, pfx_fn):
    """Shared store-prep for both admission paths: derive band_pfx when the
    store predates the column, then apply the plan-time probe prune only
    when the store is big enough for the prune's collect job to pay for
    itself (PRUNE_MIN_STORE_BYTES). One definition so the doc and embedding
    stores can never drift apart on gating policy."""
    store = _with_band_pfx(store, pfx_fn)
    if _store_bytes(spark, store_path) >= PRUNE_MIN_STORE_BYTES:
        store = _pruned_store(store, bands)
    return store


def _band_rows(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, text) -> one row per (doc_id, band_idx): band_val + full
    signature. Docs with zero shingles pass through with no rows (they can
    never near-dup; callers admit them unconditionally)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(toks, k).alias("sh"),
    ).filter(F.size("sh") > 0)
    sig = minhash_signature_cols(base, NUM_HASHES)
    sig_arr = F.array(*[F.col(f"mh{i}") for i in range(NUM_HASHES)])
    banded = sig.select(
        "doc_id",
        sig_arr.alias("sig"),
        band_hashes(
            [F.col(f"mh{i}").cast("string") for i in range(NUM_HASHES)],
            ROWS_PER_BAND,
        ).alias("bands"),
    )
    return banded.select(
        "doc_id",
        "sig",
        F.posexplode("bands").alias("band_idx", "band_val"),
    ).withColumn("band_pfx", _doc_band_pfx("band_val"))


def _sig_agreement(a, b):
    """Fraction of equal minhash positions — the Jaccard estimate."""
    return (
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / NUM_HASHES
    )


def _cap_bucket_rows(bands: DataFrame, *, key: str, cap: int) -> DataFrame:
    """The ``cap`` smallest-``key`` rows of every (band_idx, band_val)
    bucket — the candidate side of a capped comparison join. Two-stage
    exact top-k (operators/topk.py), NOT a per-bucket window: the cap is
    requested precisely because some bucket is viral, and a single window
    partition would sort that whole bucket in one task — the straggler the
    cap exists to avoid. See the ``max_bucket_candidates`` contract in
    _admit_batch for when this bound is worth its shuffles."""
    from movie_recommendation_etl_spark.operators.topk import (
        grouped_top_k_two_stage,
    )

    return grouped_top_k_two_stage(
        bands,
        ["band_idx", "band_val"],
        [F.col(key)],
        cap,
        salt_cols=[key],
        rank_col="__r",
    ).drop("__r")


def _intra_rejects(
    bands: DataFrame, *, key: str, sim, threshold, candidate_cap=None
) -> DataFrame:
    """Within-batch rejection: distinct ids whose similarity to ANY
    smaller-id batch row sharing a band meets the threshold (the
    greedy-by-id rule of the module docstring). ``sim`` maps the two join
    alias prefixes to the similarity Column. ``candidate_cap`` bounds the
    CANDIDATE (smaller-id) side per bucket — see _admit_batch."""
    cand = (
        _cap_bucket_rows(bands, key=key, cap=candidate_cap)
        if candidate_cap is not None
        else bands
    )
    a, b = bands.alias("a"), cand.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{key}") > F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias(key), sim("a", "b").alias("est"))
        .filter(F.col("est") >= threshold)
        .select(key)
        .distinct()
    )


def _probe_store(
    bands: DataFrame,
    store: DataFrame,
    *,
    key: str,
    sim,
    threshold,
    candidate_cap=None,
) -> DataFrame:
    """Store-probe join: batch band rows vs stored band rows,
    similarity-thresholded, distinct rejected ids. The redundant
    band_pfx equality (implied by band_val equality) feeds dynamic
    partition pruning on the partitioned store scan — the plan shape
    tests/test_incremental_dedup.py pins. ``candidate_cap`` bounds the
    STORE side per bucket — see _admit_batch."""
    if candidate_cap is not None:
        store = _cap_bucket_rows(store, key=key, cap=candidate_cap)
    return (
        bands.alias("n")
        .join(
            store.alias("s"),
            (F.col("n.band_pfx") == F.col("s.band_pfx"))
            & (F.col("n.band_idx") == F.col("s.band_idx"))
            & (F.col("n.band_val") == F.col("s.band_val"))
            & (F.col(f"n.{key}") != F.col(f"s.{key}")),
        )
        .select(F.col(f"n.{key}").alias(key), sim("n", "s").alias("est"))
        .filter(F.col("est") >= threshold)
        .select(key)
        .distinct()
    )


def _admit_batch(
    spark: SparkSession,
    source: DataFrame,
    bands: DataFrame,
    store_path: str,
    *,
    id_col: str,
    key: str,
    sim,
    threshold: float,
    pfx_fn,
    checkpoint_dir: str | None,
    max_bucket_candidates: int | None = None,
) -> DataFrame:
    """The admission skeleton both stores share (r8 ADVICE: it was
    duplicated and drifting): checkpoint the band rows, reject
    within-batch smaller-id matches and store matches, anti-join the
    survivors, merge their signatures into the store. ``source`` is the
    frame whose surviving rows are returned; ``bands`` its band rows
    keyed ``key``; ``sim`` the alias-prefix → similarity-Column factory
    shared by the intra and probe joins.

    ``max_bucket_candidates`` (opt-in) bounds the comparison fan-out per
    band bucket: each incoming row compares against at most the cap
    SMALLEST-key rows sharing its bucket (candidate side of the intra
    join, store side of the probe join). Without it, a viral
    near-identical cluster — whose members share band values — makes the
    comparison joins quadratic in cluster size (the q50-family hazard,
    operators/neardup.banded_candidate_pairs). With it, that cluster's
    incoming members still reject correctly (its smallest stored/batch
    members are exactly the retained candidates and match them), while
    a doc whose ONLY match hides beyond the cap in a diverse mega-bucket
    (hash-collision shape, not the near-dup shape) can be falsely
    admitted — the documented trade. Off by default: exactness for every
    bucket, and no per-bucket window sort on the default path; switch it
    on for un-deduped viral corpora."""
    if max_bucket_candidates is not None and max_bucket_candidates < 1:
        # 0 would silently keep zero candidates (reject nothing) — and a
        # caller asking for "the tightest bound" means 1, not uncapped.
        raise ValueError(
            "max_bucket_candidates must be >= 1 (or None for uncapped), "
            f"got {max_bucket_candidates}"
        )
    with reliable_checkpoint_scope(spark, checkpoint_dir) as _ckpt:
        bands = _ckpt(bands)
        # NO right_size_materialized here (added r17, REVERTED r18 by A/B
        # adjudication — scripts/ab_r17_sweep.py, commit c9385d1): unlike
        # the q53 band hub (64 near-empty partitions feeding many stages),
        # the admission batch's band frame is consumed by only three short
        # joins, and the helper's extra count job + plan-to-RDD conversion
        # per admission batch measured a consistent ~4-5% NET COST at bench
        # scale (min 3.11 s with vs 2.94 s without, 5 samples each, calm
        # host) — the r17 +34% bench delta was otherwise host regime.
        intra = _intra_rejects(
            bands, key=key, sim=sim, threshold=threshold,
            candidate_cap=max_bucket_candidates,
        )

        # Only a MISSING store is bootstrap (AnalysisException on the read,
        # caught narrowly around the read alone). Any other failure —
        # corrupt footer, permissions, schema drift — must raise: swallowing
        # it would silently disable cross-batch rejection and admit dups.
        store = _read_store(spark, store_path)
        # legacy (pre-band_pfx) stores keep their flat layout on merge —
        # band_pfx becomes a plain column; rewrite/compact to gain pruning
        legacy = store is not None and "band_pfx" not in store.columns
        if store is not None:
            store = _maybe_pruned_store(
                spark, store, store_path, bands, pfx_fn
            )
            hits = _probe_store(
                bands, store, key=key, sim=sim, threshold=threshold,
                candidate_cap=max_bucket_candidates,
            )
            rejected = intra.unionByName(hits).distinct()
        else:
            rejected = intra

        admitted = _ckpt(
            source.join(
                rejected.withColumnRenamed(key, id_col),
                id_col,
                "left_anti",
            )
        )

        admitted_bands = bands.join(
            admitted.select(F.col(id_col).alias(key)),
            key,
            "left_semi",
        )
        # stable_partition_keys: band_pfx is a pure function of band_val,
        # and the admission contract (docstring) only replays identical
        # content per id — a key can never migrate partitions, so the
        # merge skips the old-partition discovery scan of the store.
        # Legacy stores stay PURE legacy (no band_pfx column at all):
        # merging the column in would null-fill it on pre-existing rows,
        # and a half-populated prefix column poisons the pruned probe
        # (NULL rows silently escape both the IN filter and the join).
        merge_upsert_parquet(
            spark,
            admitted_bands.drop("band_pfx") if legacy else admitted_bands,
            store_path,
            key_cols=[key, "band_idx"],
            partition_by=None if legacy else ["band_pfx"],
            stable_partition_keys=True,
            out_files_per_partition=STORE_FILES_PER_PARTITION,
        )
        if checkpoint_dir is not None:
            # detach onto local blocks before the scope deletes this run's
            # reliable files on exit
            admitted = admitted.localCheckpoint(eager=True)
        return admitted


def admit_new_documents(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    sim_threshold: float = 0.7,
    checkpoint_dir: str | None = None,
    max_bucket_candidates: int | None = None,
) -> DataFrame:
    """Admit the subset of ``new_docs`` that near-dups neither the stored
    corpus nor an earlier (smaller-id) doc of the same batch, and merge the
    admitted signatures into the store. Returns the admitted rows with
    their original columns. Deterministic: within a batch the smallest id
    of a duplicate group survives (matching dedup_keep_first's policy) and
    rejection is greedy-by-id along chains (see module docstring); across
    batches, first-admitted wins. ``id_col`` values must be globally
    unique across batches (replays of the same ids are the supported
    exception and converge idempotently). ``checkpoint_dir`` selects
    reliable checkpointing for the two lineage barriers (module docstring).
    """
    return _admit_batch(
        spark,
        new_docs,
        _band_rows(new_docs, id_col, text_col, k),
        store_path,
        id_col=id_col,
        key="doc_id",
        sim=lambda l, r: _sig_agreement(
            F.col(f"{l}.sig"), F.col(f"{r}.sig")
        ),
        threshold=sim_threshold,
        pfx_fn=_doc_band_pfx,
        checkpoint_dir=checkpoint_dir,
        max_bucket_candidates=max_bucket_candidates,
    )


# --- embedding twin: SRP bands + int8 signatures ----------------------------
#
# The same admission pattern for dense vectors: the store keeps, per
# admitted vector, its SRP LSH bands (operators/neardup.py:srp_bands — the
# deterministic expression form) and an int8-quantized copy
# (functions/vectors.py:quantize_int8, 4x smaller than float32), so probing
# estimates cosine against candidates with integer dot products and never
# needs the original embeddings. Store size ~ dim bytes/vector + 12 ints.

EMB_N_BITS = 96
EMB_ROWS_PER_BAND = 8
EMB_N_BANDS = EMB_N_BITS // EMB_ROWS_PER_BAND


def _embedding_band_rows(
    vecs: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    from movie_recommendation_etl_spark.functions.vectors import quantize_int8
    from movie_recommendation_etl_spark.operators.neardup import srp_bands

    banded = vecs.select(
        F.col(id_col).alias("vec_id"),
        quantize_int8(F.col(vec_col)).alias("qvec"),
        srp_bands(
            vec_col,
            dim=dim,
            n_bits=EMB_N_BITS,
            rows_per_band=EMB_ROWS_PER_BAND,
        ).alias("bands"),
    )
    return banded.select(
        "vec_id", "qvec", F.posexplode("bands").alias("band_idx", "band_val")
    ).withColumn("band_pfx", _emb_band_pfx("band_val"))


def admit_new_embeddings(
    spark: SparkSession,
    new_vecs: DataFrame,
    store_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    cos_threshold: float = 0.92,
    checkpoint_dir: str | None = None,
    max_bucket_candidates: int | None = None,
) -> DataFrame:
    """Vector twin of admit_new_documents: admit new embeddings that are
    not near-duplicates (quantized cosine >= ``cos_threshold``) of the
    stored corpus or of a smaller-id batch neighbor sharing an SRP band;
    merge admitted (band, int8 signature) rows into the store. Same
    determinism, greedy-chain, replay-idempotence and checkpoint contract
    as admit_new_documents (module docstring).

    Degenerate vectors — NULL, wrong length vs ``dim``, containing NULL
    elements, or all-zero — are EXCLUDED from admission entirely (neither
    admitted nor stored): they cannot be compared (their SRP bits all fold
    to 0, so every one lands in the same 12 hub buckets and the probe join
    grows linearly with every polluted batch, while their quantized cosine
    is NULL and never rejects), and a length mismatch would NULL-poison
    the banding for the whole batch via zip_with padding. Same policy as
    the doc path's zero-shingle drop (operators/neardup.py)."""
    from movie_recommendation_etl_spark.functions.vectors import (
        cosine_quantized,
    )

    valid = new_vecs.filter(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(vec_col, lambda x: x.isNull())
        & F.exists(vec_col, lambda x: x != 0)
    )

    return _admit_batch(
        spark,
        valid,
        _embedding_band_rows(valid, id_col, vec_col, dim),
        store_path,
        id_col=id_col,
        key="vec_id",
        sim=lambda l, r: cosine_quantized(
            F.col(f"{l}.qvec"), F.col(f"{r}.qvec")
        ),
        threshold=cos_threshold,
        pfx_fn=_emb_band_pfx,
        checkpoint_dir=checkpoint_dir,
        max_bucket_candidates=max_bucket_candidates,
    )
