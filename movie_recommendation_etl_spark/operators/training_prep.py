"""Training-set preparation: filtering, chunking, deterministic shuffle,
sharded write.

The last mile of a training-data pipeline after curation (operators/
curate.py): drop near-duplicate, off-domain and contaminated documents
(filter_training_documents, one composition of the filter operators),
split documents into token-bounded chunks with overlap, shuffle the corpus
so batches decorrelate from crawl/source order, and write fixed-size
shards. The last three are pure Catalyst / writer-option constructs — no
Python in the row path.

Scale shape: chunking is a scan-stage explode (output rows ∝ corpus tokens
/ chunk size); the shuffle is ONE range exchange on a hash key (that is
what a "global shuffle" costs on a cluster — there is no cheaper exact
form); sharding reuses write_sorted_parquet so shard files are themselves
hash-ordered, which makes any contiguous subset of shards a valid uniform
sample of the corpus (the property loaders exploit for cheap epoch
restarts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_recommendation_etl_spark.operators.decontaminate import (
    ngram_contamination,
    ngram_contamination_bloom,
)
from movie_recommendation_etl_spark.operators.neardup import neardup_dedup
from movie_recommendation_etl_spark.operators.perplexity import (
    perplexity_band,
)
from movie_recommendation_etl_spark.sources.writers import (
    write_sorted_parquet,
)


def filter_training_documents(
    curated: DataFrame,
    *,
    neardup_threshold: float | None = None,
    trusted: DataFrame | None = None,
    keep_fraction: float,
    eval_set: DataFrame | None = None,
    ngram: int,
    contamination_threshold: float,
    bloom_bits: int | None = None,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """The trainprep filter chain between curation and substring dedup;
    each stage runs only when its argument is given: near-dup dedup at
    ``neardup_threshold`` (``checkpoint_dir`` and ``stats`` pass through
    to neardup_dedup) → the lowest-cross-entropy ``keep_fraction`` band
    against a unigram model fit on ``trusted`` → decontamination, dropping
    docs whose ``ngram``-gram overlap with ``eval_set`` reaches
    ``contamination_threshold`` (through a ``bloom_bits``-bit Bloom bitmap
    when set; same verdicts).

    Returns the survivors, materialized. Each stage is a self-join, so
    ``curated`` is materialized first or the curation subtree would run
    once per branch; the survivors are materialized because
    remove_duplicate_spans reads its input ~3x. With no filter stage the
    two barriers are one. The band's score cache is released once the
    survivors are materialized."""
    docs = curated.localCheckpoint(eager=True)
    if neardup_threshold is None and trusted is None and eval_set is None:
        return docs
    if neardup_threshold is not None:
        docs = neardup_dedup(
            docs, threshold=neardup_threshold,
            checkpoint_dir=checkpoint_dir, stats=stats,
        )
    scores: list = []
    if trusted is not None:
        band = perplexity_band(
            docs.select("doc_id", "text"), trusted,
            keep_fraction=keep_fraction, scores_out=scores,
        )
        docs = docs.join(band.select("doc_id"), "doc_id", "left_semi")
    if eval_set is not None:
        kw = dict(n=ngram, ratio_threshold=contamination_threshold)
        verdicts = (
            ngram_contamination_bloom(docs, eval_set, num_bits=bloom_bits, **kw)
            if bloom_bits
            else ngram_contamination(docs, eval_set, **kw)
        )
        clean = verdicts.filter(~F.col("is_contaminated")).select("doc_id")
        docs = docs.join(clean, "doc_id", "left_semi")
    docs = docs.localCheckpoint(eager=True)
    for cached in scores:
        cached.unpersist()
    return docs


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap_tokens: int = 64,
    tokenizer=None,
) -> DataFrame:
    """One row per chunk: (id, chunk_idx, chunk_text, n_tokens). Chunks
    step by ``chunk_tokens - overlap_tokens`` so consecutive chunks share
    ``overlap_tokens`` tokens (context continuity at boundaries). The final
    chunk may be short; empty docs yield no rows.

    ``tokenizer`` is the pluggable budget hook: a callable mapping the text
    column to an ``array<string>`` token Column (default: whitespace
    split). Pass ``functions.text.re_tokens`` for BPE-ish regex budgeting,
    or any custom expression — the only contract is that tokens contain no
    whitespace, so ``concat_ws(' ')`` round-trips them and downstream
    pack/materialize (which re-split chunk_text on whitespace) see the
    identical stream. Token counts, chunk boundaries, and overlap are all
    measured in the chosen tokenizer's units.

    NOTE the flip side of that contract: ``chunk_text`` is rebuilt FROM
    the token stream, so a lossy tokenizer rewrites the shipped text, not
    just the budget unit — ``re_tokens`` lowercases and strips every
    non-``[a-z0-9]`` character from the chunks it emits. The default
    whitespace tokenizer preserves the original text modulo whitespace
    collapsing. Choose a lossy tokenizer only when the training target
    wants that normalization baked into the corpus.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    if tokenizer is None:
        from movie_recommendation_etl_spark.functions.text import (
            ws_token_array,
        )

        toks = ws_token_array(text_col)
    else:
        toks = F.filter(tokenizer(text_col), lambda t: t != "")
    # r19 staging (the curate find, same mechanism): the old single-select
    # form re-derived the token array per reference — size(toks) once,
    # the __toks alias once, and the starts chain's lambda referenced n
    # (hence the full tokenization) PER CANDIDATE START, i.e. one extra
    # whole-document tokenize per chunk (O(tokens x chunks) per doc — the
    # quadratic shape chunking exists to serve: long documents). HOFs are
    # CodegenFallback and excluded from subexpression elimination, so
    # nothing was shared. Staged, __toks and __n are plain attributes and
    # every expression evaluates once per row; posexplode_outer + the
    # explicit chunk_idx filter (identical output — empty docs still
    # yield no rows) keeps InferFiltersFromGenerate from re-inlining the
    # starts chain into a pushed-down size() filter.
    staged = docs.select(F.col(id_col), toks.alias("__toks")).select(
        id_col, "__toks", F.size("__toks").alias("__n")
    )
    n = F.col("__n")
    # chunk starts: 0, step, 2*step, ... while start < n (1-based slice)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(step)).cast("int") + 1
    )
    # cap: never start a chunk that only repeats the previous one's tail —
    # the last start must be < n (guaranteed by the floor above) AND chunks
    # after the first must add at least one new token, i.e. start + overlap
    # < n  =>  drop a trailing all-overlap chunk
    starts = F.when(n_chunks <= 0, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.transform(
                # sequence() is inclusive and runs DESCENDING when stop <
                # start, hence the n_chunks guard above for empty docs
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: i * step,
            ),
            lambda s: (s == 0) | (s + F.lit(overlap_tokens) < n),
        )
    )
    chunks = (
        staged.select(
            id_col, "__n", "__toks", starts.alias("__starts")
        )
        .select(
            id_col,
            "__n",
            "__toks",
            F.posexplode_outer("__starts").alias("chunk_idx", "__start"),
        )
        .filter(F.col("chunk_idx").isNotNull())
    )
    chunk_toks = F.slice(
        F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)
    )
    return chunks.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", chunk_toks).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.col("__n") - F.col("__start")
        ).alias("n_tokens"),
    )


def chunk_documents_by_budget(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    overlap_tokens: int = 0,
    cost_fn=None,
    costs_array_fn=None,
) -> DataFrame:
    """Budget-based chunking that PRESERVES the original text (the r8
    ADVICE follow-through on ``--tokenizer re``): chunks are built from
    the document's whitespace tokens — so ``chunk_text`` keeps case and
    punctuation, modulo whitespace collapsing — but the chunk BOUNDARY is
    a cost budget measured by ``cost_fn``, a callable mapping ONE token
    Column to its integer cost (default: the BPE-ish regex token count,
    functions/text.py:re_token_count — 'Hello,world!' costs 2). This is
    the standard LLM-pipeline shape: budget by the training tokenizer's
    units, ship the raw text.

    One row per chunk: (id, chunk_idx, chunk_text, n_tokens,
    n_new_tokens, budget_cost) with ``n_tokens`` the chunk's WHITESPACE
    token count (the unit downstream pack/materialize re-split on),
    ``n_new_tokens`` the count excluding the overlap prefix (== n_tokens
    when ``overlap_tokens`` is 0), and ``budget_cost`` the cost sum of
    the FULL chunk. Greedy packing: the first token (whatever its cost)
    opens chunk 0; each later token joins the current chunk unless adding
    its cost would exceed ``budget``, in which case it opens a new chunk
    — so a token whose cost alone exceeds the budget still lands in a
    chunk and no token is ever dropped, and a zero-cost token opens a
    chunk only when it is the first token or follows a chunk whose
    accumulated cost already EXCEEDS the budget (after an exactly-
    at-budget chunk, ``acc + 0 > budget`` is false, so the zero-cost
    token joins it).

    ``overlap_tokens`` adds boundary context in WHITESPACE-token units
    (cost-unit overlap is ill-defined — budget units don't subdivide a
    token): every chunk after the first is extended BACKWARD by up to
    ``overlap_tokens`` ws tokens of the preceding chunk, clamped at that
    chunk's own start so context never spans two boundaries. The budget
    still governs the NEW tokens only (boundaries are computed before the
    extension), so ``budget_cost`` may exceed ``budget`` by the overlap
    prefix's cost — the same accounting as fixed-size chunking with
    overlap. The NEW portions (each chunk's last ``n_new_tokens``
    tokens) concatenate back to the exact token stream, asserted in
    tests; with overlap 0 the chunks themselves do.

    Scale shape: the greedy fold is ONE scan-stage Catalyst ``aggregate``
    over the token array (no shuffle, no Python); the explode emits rows
    ∝ corpus tokens / budget like fixed-size chunking. The token array
    and per-token costs are materialized in staged projections, so the
    split and the cost regex each run ONCE per token (HOFs are
    CodegenFallback — within one projection Catalyst would re-evaluate
    them per consuming expression)."""
    if overlap_tokens < 0:
        raise ValueError("overlap_tokens must be >= 0")
    base = _budget_chunk_base(
        docs, id_col, text_col, budget, cost_fn, costs_array_fn
    )
    return _budget_chunk_extract(base, id_col, overlap_tokens)


def chunk_documents_by_budget_arms(
    docs: DataFrame,
    arms,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    cost_fn=None,
    costs_array_fn=None,
    arm_col: str = "arm",
) -> DataFrame:
    """Several overlap variants of :func:`chunk_documents_by_budget` in
    ONE corpus scan (r19, optimization guide §1.2/§2.3: the greedy-fold
    boundary computation is arm-INDEPENDENT — overlap only extends each
    chunk backward after the boundaries exist — so N overlap arms were
    paying N tokenize+cost+fold passes over the corpus for one fold's
    worth of information). ``arms`` is a sequence of (name,
    overlap_tokens) pairs; the result is the per-arm outputs stacked with
    ``arm_col`` naming the variant — row-for-row identical to unioning N
    single-arm calls (asserted in tests/test_training_prep.py), but the
    tokenize/cost/fold prefix runs once and only the per-chunk extraction
    differs per arm.
    """
    arms = list(arms)
    names = [n for n, _ in arms]
    if len(set(names)) != len(names) or not names:
        raise ValueError("arms need at least one uniquely named variant")
    for _, ov in arms:
        if ov < 0:
            raise ValueError("overlap_tokens must be >= 0")
    base = _budget_chunk_base(
        docs, id_col, text_col, budget, cost_fn, costs_array_fn
    )
    base = base.withColumn(
        arm_col, F.explode(F.array(*[F.lit(n) for n in names]))
    )
    ov_expr = None
    for name, ov in arms:
        cond = F.col(arm_col) == name
        ov_expr = (
            F.when(cond, F.lit(ov))
            if ov_expr is None
            else ov_expr.when(cond, F.lit(ov))
        )
    return _budget_chunk_extract(
        base, id_col, ov_expr.otherwise(F.lit(0)), lead_cols=(arm_col,)
    )


def _budget_chunk_base(
    docs: DataFrame, id_col: str, text_col: str, budget: int,
    cost_fn, costs_array_fn,
) -> DataFrame:
    """The arm-independent prefix of budget chunking: tokenize -> cost ->
    greedy fold -> one row per (doc, chunk_idx, greedy start). The fold
    result is STAGED into __starts_all before posexplode consumes it
    (r19): the old single-select form referenced the aggregate HOF twice
    (alias + generator input), and HOFs are CodegenFallback — excluded
    from subexpression elimination — so the whole greedy fold executed
    twice per row."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if cost_fn is not None and costs_array_fn is not None:
        raise ValueError("pass cost_fn OR costs_array_fn, not both")
    if cost_fn is None and costs_array_fn is None:
        from movie_recommendation_etl_spark.functions.text import (
            re_token_count,
        )

        cost_fn = re_token_count
    from movie_recommendation_etl_spark.functions.text import ws_token_array

    # stage 1: tokenize once; stage 2: cost once per token.
    # ``costs_array_fn`` (e.g. ml/bpe.py:bpe_costs_array) prices the WHOLE
    # token array in one call instead of per-token inside the transform
    # HOF — the hook a pandas_udf-backed tokenizer needs, since Python
    # UDFs cannot reference HOF lambda variables. The fold below is
    # unchanged either way: still one scan stage, no shuffle.
    costs_expr = (
        costs_array_fn("__toks")
        if costs_array_fn is not None
        else F.transform("__toks", lambda t: cost_fn(t).cast("long"))
    )
    staged = docs.select(
        F.col(id_col), ws_token_array(text_col).alias("__toks")
    ).select(
        id_col,
        "__toks",
        F.size("__toks").alias("__n"),
        costs_expr.alias("__costs"),
    )
    # (cost, index) pairs; the fold walks them in order
    indexed = F.transform(
        "__costs", lambda c, i: F.struct(c.alias("c"), i.alias("i"))
    )
    init = F.struct(
        F.lit(0).cast("long").alias("acc"),
        F.array().cast("array<int>").alias("starts"),
    )

    def _merge(s, x):
        new_chunk = (F.size(s["starts"]) == 0) | (
            s["acc"] + x["c"] > F.lit(budget)
        )
        return F.struct(
            F.when(new_chunk, x["c"])
            .otherwise(s["acc"] + x["c"])
            .alias("acc"),
            F.when(
                new_chunk, F.concat(s["starts"], F.array(x["i"]))
            )
            .otherwise(s["starts"])
            .alias("starts"),
        )

    starts = F.aggregate(indexed, init, _merge, lambda s: s["starts"])
    # __starts_all is staged (single fold per row — the old single-select
    # referenced the aggregate twice: alias + generator input, and HOFs
    # are CodegenFallback, excluded from subexpression elimination);
    # posexplode_outer + the chunk_idx filter keeps
    # InferFiltersFromGenerate from re-inlining the whole fold into a
    # pushed-down size() > 0 scan filter (identical output — zero-chunk
    # docs still yield no rows).
    return (
        staged.select(
            F.col(id_col),
            "__n",
            "__toks",
            "__costs",
            starts.alias("__starts_all"),
        )
        .select(
            id_col,
            "__n",
            "__toks",
            "__costs",
            "__starts_all",
            F.posexplode_outer("__starts_all").alias("chunk_idx", "__start"),
        )
        .filter(F.col("chunk_idx").isNotNull())
    )


def _budget_chunk_extract(
    base: DataFrame, id_col: str, overlap, lead_cols: tuple = ()
) -> DataFrame:
    """Per-chunk extraction over a :func:`_budget_chunk_base` frame.
    ``overlap`` is an int (single-arm call) or an int Column (the arms
    variant's per-row overlap); the zero-int fast path keeps the plain
    arm's historical eff_start == __start expression shape."""
    # chunk END (exclusive) = next greedy start (1-based lookup;
    # try_element_at -> NULL past the last chunk, coalesced to n)
    chunk_end = F.coalesce(
        F.try_element_at(F.col("__starts_all"), F.col("chunk_idx") + 2),
        F.col("__n"),
    )
    # effective start: extended backward by the overlap, clamped at the
    # previous chunk's own start (1-based position chunk_idx is the
    # PREVIOUS element; the when() guards chunk 0, and CaseWhen branches
    # evaluate lazily, so the lookup never sees position 0). For a
    # per-row overlap column the same expression applies — a 0-overlap
    # row reduces to greatest(__start, prev_start) == __start, because
    # greedy starts strictly increase.
    if isinstance(overlap, int) and overlap == 0:
        eff_start = F.col("__start")
    else:
        ov = F.lit(overlap) if isinstance(overlap, int) else overlap
        eff_start = F.when(F.col("chunk_idx") == 0, F.col("__start")).otherwise(
            F.greatest(
                F.col("__start") - ov,
                F.coalesce(
                    F.try_element_at(
                        F.col("__starts_all"),
                        F.greatest(F.col("chunk_idx"), F.lit(1)),
                    ),
                    F.lit(0),
                ),
            )
        )
    # materialize the (start, end) pair once: both feed the token slice,
    # the cost slice, and two count columns (HOF consumers re-evaluate
    # per reference within one projection)
    base = base.select(
        *lead_cols,
        id_col,
        "chunk_idx",
        "__toks",
        "__costs",
        "__start",
        eff_start.alias("__estart"),
        chunk_end.alias("__end"),
    )
    chunk_len = F.col("__end") - F.col("__estart")
    chunk_toks = F.slice(F.col("__toks"), F.col("__estart") + 1, chunk_len)
    chunk_costs = F.slice(F.col("__costs"), F.col("__estart") + 1, chunk_len)
    return base.select(
        *lead_cols,
        id_col,
        "chunk_idx",
        F.concat_ws(" ", chunk_toks).alias("chunk_text"),
        F.size(chunk_toks).alias("n_tokens"),
        (F.col("__end") - F.col("__start")).cast("int").alias(
            "n_new_tokens"
        ),
        F.aggregate(
            chunk_costs, F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("budget_cost"),
    )


def shuffle_key(id_col: str = "doc_id", seed: int = 0):
    """Deterministic per-row shuffle key: xxhash64(id, seed). Changing the
    seed reshuffles; the same seed replays the identical order anywhere —
    byte-identical epochs across reruns and cluster sizes."""
    return F.xxhash64(F.col(id_col), F.lit(seed))


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    seed: int = 0,
    num_shards: int = 16,
    max_records_per_file: int | None = None,
    tiebreak_cols: Sequence[str] | None = None,
) -> None:
    """Globally shuffle by the seeded hash key and write ``num_shards``
    hash-ordered parquet shards. One range exchange total; each shard file
    covers a disjoint key range (write_sorted_parquet), so any contiguous
    shard subset is an unbiased corpus sample.

    Byte-identical reruns need a UNIQUE total sort key: the hash key alone
    ties whenever ``id_col`` repeats (e.g. chunked input, many rows per
    doc), and tie order would then depend on shuffle arrival. The sort
    therefore appends ``tiebreak_cols`` (default: ``[id_col]``; pass
    ``[id_col, "chunk_idx"]`` for chunked corpora) — callers must ensure
    the combined key is unique."""
    keyed = df.withColumn("__shuffle_key", shuffle_key(id_col, seed))
    ties = list(tiebreak_cols) if tiebreak_cols is not None else [id_col]
    write_sorted_parquet(
        keyed,
        path,
        ["__shuffle_key", *ties],
        num_files=num_shards,
        max_records_per_file=max_records_per_file,
    )


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    chunk_col: str | None = None,
    seq_len: int = 512,
    num_shards: int = 16,
    seed: int = 0,
    order_key=None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus token stream and
    split it at fixed ``seq_len`` boundaries, so every training sequence is
    exactly full (no padding waste; the standard concat-and-split recipe of
    the public GPT-2/Pile/Dolma pipelines, where documents may straddle
    sequence boundaries and an attention mask or EOD token separates them).

    Input: one row per document/chunk with a token count. Output: one row
    per (input row x training sequence it intersects):

      (shard, seq_idx, id_col, slice_start, offset_in_seq, n_tokens_in_seq)

    meaning: tokens [slice_start, slice_start + n_tokens_in_seq) of this
    input row land in sequence ``seq_idx`` of ``shard`` at position
    ``offset_in_seq``. Every sequence is exactly ``seq_len`` tokens except
    each shard's ragged last one. A loader joins this map against the chunk
    text/token store to materialize batches.

    Deterministic + distributed: rows are assigned to ``num_shards`` hash
    shards by a seeded key (xxhash64 by default; pass ``order_key`` for an
    engine-portable md5 key) and ordered (key, id[, chunk]) within the
    shard — the same seed replays byte-identical sequences on any cluster
    size. DETERMINISM REQUIRES A UNIQUE SORT KEY: ``id_col`` alone must be
    unique, or pass ``chunk_col`` (e.g. chunk_documents' ``chunk_idx``) so
    (id, chunk) is — duplicate keys make the cumulative offsets depend on
    partition order. With ``chunk_col`` set, all chunks of a document land
    in one shard, CONTIGUOUS and in chunk order in its token stream (the
    property GPT-style packing wants), and the chunk column is carried in
    the output map. The
    plan is ONE hash-partitioned window (cumulative token offsets per
    shard) plus a scan-stage explode over each row's sequence span: no
    driver loop, no Python. Shard count bounds window-partition size —
    at 100 TB raise num_shards so each shard's token stream fits a
    single task's sort budget.

    All offset math is exact integer arithmetic (``div``, not double
    division): safe past 2^53 tokens per shard.
    """
    from pyspark.sql import Window as W

    if seq_len <= 0 or num_shards <= 0:
        raise ValueError("seq_len and num_shards must be positive")
    key = order_key if order_key is not None else shuffle_key(id_col, seed)
    carry = [id_col] + ([chunk_col] if chunk_col else [])
    base = (
        df.filter(F.col(count_col) > 0)
        .select(
            *[F.col(c) for c in carry],
            F.col(count_col).cast("long").alias("__n"),
            key.cast("long").alias("__key"),
        )
        .withColumn(
            "shard", F.pmod(F.col("__key"), F.lit(num_shards)).cast("int")
        )
    )
    w = (
        W.partitionBy("shard")
        .orderBy("__key", *carry)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = base.select(
        "shard",
        *carry,
        "__n",
        F.sum("__n").over(w).alias("__end"),
    ).withColumn("__start", F.col("__end") - F.col("__n"))
    L = F.lit(int(seq_len)).cast("long")
    first_seq = F.expr(f"__start div {int(seq_len)}")
    last_seq = F.expr(f"(__end - 1) div {int(seq_len)}")
    spans = offs.select(
        "shard",
        *carry,
        "__n",
        "__start",
        "__end",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_idx"),
    )
    seq_lo = F.col("seq_idx") * L
    seq_hi = seq_lo + L
    return spans.select(
        "shard",
        "seq_idx",
        *carry,
        F.greatest(F.lit(0).cast("long"), seq_lo - F.col("__start")).alias(
            "slice_start"
        ),
        (F.greatest(F.col("__start"), seq_lo) - seq_lo).alias(
            "offset_in_seq"
        ),
        (
            F.least(F.col("__end"), seq_hi)
            - F.greatest(F.col("__start"), seq_lo)
        ).alias("n_tokens_in_seq"),
    )


def _shard_counts(
    spark, path: str, count_col: str | None
) -> list[dict]:
    """Per-file row (and optional token) counts for every parquet file under
    ``path`` — one distributed aggregation grouped by input_file_name(),
    no row data to the driver."""
    import posixpath

    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if count_col is not None:
        aggs.append(F.sum(F.col(count_col)).alias("n_tokens"))
    per_file = (
        df.groupBy(F.input_file_name().alias("file")).agg(*aggs).collect()
    )
    return sorted(
        (
            {
                "file": posixpath.basename(r["file"]),
                "n_rows": r["n_rows"],
                **(
                    {"n_tokens": r["n_tokens"]}
                    if count_col is not None
                    else {}
                ),
            }
            for r in per_file
        ),
        key=lambda d: d["file"],
    )


def write_shard_manifest(
    spark,
    path: str,
    *,
    count_col: str | None = None,
    extra: dict | None = None,
) -> dict:
    """Write ``_MANIFEST.json`` next to a shard directory: per-file row
    counts (and token totals when ``count_col`` is given), plus overall
    totals — the reproducibility record a training run needs to verify it
    read EXACTLY the corpus the pipeline produced (file lost to a partial
    sync, shard rewritten with a different seed: both surface as a manifest
    mismatch before any gradient is wasted).

    The manifest JSON itself is driver-written through the Hadoop
    FileSystem API (object-store capable, same policy as
    sources/compact.py). Returns the manifest dict.
    """
    import json

    files = _shard_counts(spark, path, count_col)
    manifest = {
        "files": files,
        "n_files": len(files),
        "n_rows": sum(f["n_rows"] for f in files),
        **(
            # count_col is recorded so verify_shard_manifest re-sums the
            # SAME data column the writer did, whatever its name
            {
                "n_tokens": sum(f["n_tokens"] for f in files),
                "count_col": count_col,
            }
            if count_col is not None
            else {}
        ),
        **(extra or {}),
    }
    jvm = spark._jvm
    out = jvm.org.apache.hadoop.fs.Path(path, "_MANIFEST.json")
    fs = out.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.create(out, True)
    try:
        stream.write(bytearray(json.dumps(manifest, indent=1).encode()))
    finally:
        stream.close()
    return manifest


def read_shard_manifest(spark, path: str) -> dict:
    """Load ``_MANIFEST.json`` from a shard directory (Hadoop FS — any
    scheme). Raises ValueError when absent."""
    import json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, "_MANIFEST.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise ValueError(f"no _MANIFEST.json under {path}")
    stream = fs.open(p)
    try:
        # py4j cannot fill a Java byte[] in place from Python; drain the
        # stream JVM-side (commons-io ships with hadoop-common)
        raw = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode())


def verify_shard_manifest(spark, path: str) -> dict:
    """Recompute per-file counts and compare against ``_MANIFEST.json``;
    raises ValueError naming every missing/extra/mismatched file. Run at
    training-job start — one aggregation, no row data to the driver.
    Returns the verified manifest."""
    recorded = read_shard_manifest(spark, path)
    # re-sum the same data column the writer recorded; legacy manifests
    # (token totals but no count_col field) predate the field and were
    # always written from a column literally named n_tokens
    count_col = recorded.get("count_col") or (
        "n_tokens"
        if any("n_tokens" in f for f in recorded.get("files", []))
        else None
    )
    current = {
        f["file"]: f for f in _shard_counts(spark, path, count_col)
    }
    want = {f["file"]: f for f in recorded.get("files", [])}
    problems = []
    for name in sorted(set(want) - set(current)):
        problems.append(f"missing file: {name}")
    for name in sorted(set(current) - set(want)):
        problems.append(f"unexpected file: {name}")
    for name in sorted(set(want) & set(current)):
        if want[name] != current[name]:
            problems.append(
                f"count mismatch for {name}: "
                f"recorded {want[name]}, found {current[name]}"
            )
    if problems:
        raise ValueError(
            f"shard manifest verification failed under {path}: "
            + "; ".join(problems)
        )
    return recorded


def materialize_sequences(
    pack_map: DataFrame,
    chunks: DataFrame,
    *,
    id_col: str = "doc_id",
    chunk_col: str | None = None,
    text_col: str = "chunk_text",
) -> DataFrame:
    """Join a pack_sequences map against its token store and emit the
    actual training sequences: (shard, seq_idx, tokens, n_tokens) with
    ``tokens`` the concatenation, in offset order, of each contributing
    row's [slice_start, slice_start + n_tokens_in_seq) token slice. Every
    sequence is exactly seq_len tokens except each shard's ragged last one
    (pack_sequences' contract).

    This is the loader's final assembly step, kept in Catalyst so it can
    run AT SCALE as the shard-writing job instead of per-training-process:
    one equi-join on the (id[, chunk]) key, one per-sequence aggregation
    (collect the few contributing slices, sort by offset, flatten). A
    sequence's slices are bounded by ceil(seq_len / min_chunk_tokens) + 1 —
    small by construction — so the collect_list is per-GROUP bounded, never
    corpus-bounded."""
    keys = [id_col] + ([chunk_col] if chunk_col else [])
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    store = chunks.select(
        *keys, F.filter(toks, lambda t: t != "").alias("__toks")
    )
    joined = pack_map.join(store, keys).select(
        "shard",
        "seq_idx",
        "offset_in_seq",
        F.slice(
            "__toks", F.col("slice_start") + 1, F.col("n_tokens_in_seq")
        ).alias("__slice"),
    )
    assembled = (
        joined.groupBy("shard", "seq_idx")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("offset_in_seq"), F.col("__slice"))
                )
            ).alias("__parts")
        )
        .select(
            "shard",
            "seq_idx",
            F.flatten(
                F.transform(F.col("__parts"), lambda p: p["__slice"])
            ).alias("tokens"),
        )
    )
    return assembled.withColumn("n_tokens", F.size("tokens"))
