"""TF-IDF document-vector pipeline (reference transform/execute.py:175-257).

The reference uses Spark-NLP annotators (DocumentAssembler/Tokenizer/
Normalizer/Lemmatizer/StopWordsCleaner/Finisher, :184-218) feeding MLlib
CountVectorizer → IDF → Normalizer. Spark-NLP is an external JVM package; the
core-Spark formulation below reproduces the same vector semantics with
built-in stages (SURVEY.md §2.10 mapping M1-M10):

- M1/M6 (document assembly/finishing) — not needed; columns stay columns.
- M2 Tokenizer            → RegexTokenizer(pattern=\\W+, lowercase)
- M3 Normalizer           → the tokenizer's lowercase + non-word splitting
- M4 Lemmatizer           → optional broadcast-dictionary map (lemmatize());
                            off by default because it changes the vocabulary
                            and therefore every downstream golden (SURVEY §7)
- M5 StopWordsCleaner     → StopWordsRemover(caseSensitive=False)
- M8 CountVectorizer      → CountVectorizer(minDF=3)
- M9 IDF                  → IDF(minDocFreq=3)
- M10 L2 normalize        → Normalizer(p=2.0) (so Euclidean LSH distance is
                            a monotone function of cosine distance)

Scale notes: the fits are distributed aggregations (vocabulary/DF counts);
the fitted vocabulary is collected once to the driver and broadcast into the
transform closures — at 100 TB keep ``vocab_size`` bounded (the reference's
implicit 2^18 default) so that broadcast stays ~tens of MiB (the reference's
35.6 MiB task-binary warnings, SURVEY §4).
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
from pyspark.ml import Pipeline, PipelineModel, Transformer
from pyspark.ml.feature import (
    IDF,
    CountVectorizer,
    Normalizer,
    RegexTokenizer,
    SQLTransformer,
    StopWordsRemover,
)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Small English lemma dictionary fixture (common irregular inflections —
# standard dictionary facts, no external dataset). Stands in for the
# reference's pretrained AntBNC dictionary (transform/execute.py:198-202),
# which is a Spark-NLP artifact this engine does not depend on.
_LEMMA_FIXTURE = Path(__file__).with_name("lemmas_en_small.json")


def load_default_lemmas() -> dict[str, str]:
    """The shipped lemma fixture as {inflected: lemma}."""
    return json.loads(_LEMMA_FIXTURE.read_text())


def _lemma_map_literal(lemma_map: dict[str, str]) -> str:
    """The dictionary as a SQL map literal, keys sorted — the one M4
    construction both the pipeline stage (_lemma_stage) and the Column
    form (lemmatize) bake into their plans."""

    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    entries = ", ".join(f"{q(k)}, {q(v)}" for k, v in sorted(lemma_map.items()))
    return f"map({entries})"


def _lemma_stage(lemma_map: dict[str, str]) -> SQLTransformer:
    """M4 as a real pipeline stage: a SQLTransformer whose statement maps
    each token through a map literal (miss → token unchanged). Pure Catalyst
    — the map is baked into the plan, no Python UDF, no shuffle — and it
    serializes with the PipelineModel like any other stage. Placed between
    tokenizer and stopword removal, the reference's annotator order
    (transform/execute.py:184-218: Tokenizer → Normalizer → Lemmatizer →
    StopWordsCleaner)."""
    stmt = (
        "SELECT *, transform(__tokens, t -> "
        f"coalesce(try_element_at({_lemma_map_literal(lemma_map)}, t), t)) "
        "AS __lemmas FROM __THIS__"
    )
    return SQLTransformer(statement=stmt)


# Above this entry count the map-literal SQLTransformer is the wrong tool:
# every (inflected, lemma) pair becomes a plan literal, so a real AntBNC-
# sized dictionary (~hundreds of thousands of entries) blows up the SQL
# statement string and the Catalyst plan tree. Large dicts switch to the
# broadcast formulation below instead (SURVEY §2.10 M4 design).
_LEMMA_LITERAL_MAX = 1024


class BroadcastLemmatizer(Transformer):
    """M4 for large dictionaries: the dict ships to executors ONCE as a
    Spark broadcast variable, and tokens map through it in an Arrow-batched
    pandas_udf — plan size stays O(1) in dictionary size, lookup is a hash
    probe per token, and the stage is embarrassingly parallel in the scan
    stage (no shuffle). This is the scale path for the reference's
    pretrained AntBNC dictionary (transform/execute.py:198-202); dicts
    under _LEMMA_LITERAL_MAX entries keep the pure-Catalyst map-literal
    stage (_lemma_stage), which avoids the Python hop entirely.
    """

    def __init__(
        self,
        lemma_map: dict[str, str],
        input_col: str = "__tokens",
        output_col: str = "__lemmas",
    ):
        super().__init__()
        self._lemma_map = dict(lemma_map)
        self._input_col = input_col
        self._output_col = output_col
        self._bc = None  # broadcast once per SparkContext, reused across calls

    def _transform(self, dataset: DataFrame) -> DataFrame:
        sc = dataset.sparkSession.sparkContext
        if self._bc is None or self._bc._jbroadcast is None:
            self._bc = sc.broadcast(self._lemma_map)
        bc = self._bc

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _lem(tokens: pd.Series) -> pd.Series:
            m = bc.value
            return tokens.apply(
                lambda ts: [m.get(t, t) for t in ts]
                if ts is not None
                else None
            )

        return dataset.withColumn(
            self._output_col, _lem(F.col(self._input_col))
        )


def build_tfidf_pipeline(
    text_col: str = "text",
    output_col: str = "norm_features",
    *,
    min_df: int = 3,
    min_doc_freq: int = 3,
    vocab_size: int = 1 << 18,
    lemma_map: dict[str, str] | None = None,
    lemma_literal_max: int = _LEMMA_LITERAL_MAX,
) -> Pipeline:
    """The core-Spark TF-IDF pipeline. Parameters default to the
    reference's (minDF=3 transform/execute.py:243, minDocFreq=3 :248,
    2^18 vocab cell-61 output, p=2.0 :253).

    ``lemma_map`` enables the M4 lemmatization stage (reference
    :198-202 runs AntBNC on every token). Default None: lemmatization
    changes the vocabulary and therefore every downstream golden, so it is
    opt-in; pass ``load_default_lemmas()`` for the shipped fixture.

    Formulation auto-selects on dictionary size: up to
    ``lemma_literal_max`` entries the map bakes into the plan as a Catalyst
    literal (no Python hop); beyond that it ships as a broadcast variable
    probed from an Arrow-batched pandas_udf (plan size stays O(1) however
    large the dictionary — the AntBNC-scale path)."""
    tokenizer = RegexTokenizer(
        inputCol=text_col,
        outputCol="__tokens",
        pattern="\\W+",
        toLowercase=True,
    )
    stages: list = [tokenizer]
    stop_input = "__tokens"
    if lemma_map:
        if len(lemma_map) <= lemma_literal_max:
            stages.append(_lemma_stage(lemma_map))
        else:
            stages.append(BroadcastLemmatizer(lemma_map))
        stop_input = "__lemmas"
    stopper = StopWordsRemover(
        inputCol=stop_input, outputCol="__clean_tokens", caseSensitive=False
    )
    cv = CountVectorizer(
        inputCol="__clean_tokens",
        outputCol="__raw_features",
        minDF=float(min_df),
        vocabSize=vocab_size,
    )
    idf = IDF(
        inputCol="__raw_features",
        outputCol="__tfidf_features",
        minDocFreq=min_doc_freq,
    )
    l2 = Normalizer(inputCol="__tfidf_features", outputCol=output_col, p=2.0)
    stages += [stopper, cv, idf, l2]
    return Pipeline(stages=stages)


def fit_document_vectors(
    docs: DataFrame,
    text_col: str = "text",
    output_col: str = "norm_features",
    **kwargs,
) -> tuple[PipelineModel, DataFrame]:
    """Fit + transform; returns (model, docs ⊕ norm_features) with the
    intermediate columns dropped. The transformed frame should be cached by
    the caller before multi-query fan-out (the reference's .py pipeline
    recomputed its lineage 4x by skipping this — SURVEY §3.1 step 6)."""
    model = build_tfidf_pipeline(text_col, output_col, **kwargs).fit(docs)
    return model, transform_document_vectors(model, docs)


def transform_document_vectors(
    model: PipelineModel, docs: DataFrame
) -> DataFrame:
    """Apply an already-fitted pipeline to NEW documents (vocabulary and
    idf stay frozen — the incremental-ingest semantics: terms unseen at fit
    time vectorize to nothing rather than shifting every existing vector).
    Same column contract as fit_document_vectors' second return."""
    return model.transform(docs).drop(
        "__tokens", "__lemmas", "__clean_tokens", "__raw_features",
        "__tfidf_features",
    )


def lemmatize(tokens: Column, lemma_map: dict[str, str]) -> Column:
    """M4 (optional): dictionary lemmatization as a Catalyst expression.

    The reference loads the pretrained AntBNC dictionary (transform/
    execute.py:198-202). Core Spark has no lemmatizer; for a bounded
    dictionary the idiomatic formulation is a broadcast map baked into the
    plan — here as a chain of element-level replacements via F.transform +
    the map literal _lemma_stage uses (try_element_at returns NULL for
    misses → coalesce keeps the original token). No Python UDF, no shuffle.
    """
    if not lemma_map:
        return tokens
    m = F.expr(_lemma_map_literal(lemma_map))
    return F.transform(
        tokens, lambda t: F.coalesce(F.try_element_at(m, t), t)
    )
