"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import phases  # noqa: E402
import run  # noqa: E402
from tracing import Span, attribute, parse_event_log, percentile, self_times  # noqa: E402


def test_movies_csv_is_deterministic_per_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    fa = gen.write_movies_csv(str(a), 7, 300)
    fb = gen.write_movies_csv(str(b), 7, 300)
    gen.write_movies_csv(str(c), 8, 300)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()
    assert fa == fb
    # five pathological rows are dropped and the duplicate id collapses
    assert fa["n_rows"] - fa["survivors"] == 6


def test_movies_csv_carries_the_reference_columns_and_pathologies(tmp_path):
    import csv

    path = tmp_path / "m.csv"
    facts = gen.write_movies_csv(str(path), 1, 200)
    with open(path, newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert set(gen.MOVIE_COLUMNS) <= set(rows[0])
    assert len(rows[0]) == 42
    kw = [r["all_combined_keywords"] for r in rows]
    assert "[]" in kw and "not [ valid json" in kw
    assert any("\n" in r["overview"] for r in rows)
    assert any(r["title"] == "" for r in rows)
    assert sorted(len(ids) for ids in facts["franchises"].values()) == [
        gen.FRANCHISE_SIZE] * len(gen.FRANCHISES)


def _take(stream, n):
    return [next(stream) for _ in range(n)]


def test_query_ids_are_seeded_zipf_with_unknown_ids():
    ids = list(range(1, 501))
    a = _take(gen.query_ids(3, ids), 400)
    assert a == _take(gen.query_ids(3, ids), 400)
    assert a != _take(gen.query_ids(4, ids), 400)
    unknown = [q for q in a if q >= gen.UNKNOWN_ID_BASE]
    assert 5 <= len(unknown) <= 40
    known = [q for q in a if q < gen.UNKNOWN_ID_BASE]
    assert len(set(known)) < len(known) / 2  # hot ids repeat
    assert set(known) <= set(ids)


def test_query_ids_never_wrap():
    # the stream is drawn lazily, so a long loop does not replay a fixed
    # list: the ids after the first 80 are not those 80 again
    s = _take(gen.query_ids(5, list(range(1, 101))), 4000)
    assert all(s[k:k + 80] != s[:80] for k in range(80, 3920, 80))
    assert s[:80] == _take(gen.query_ids(5, list(range(1, 101))), 80)


def _files(path):
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_corpus_and_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        d.mkdir()
        facts = gen.write_corpus(str(d), seed, 40, 3)
        gen.write_tables(str(d), seed, 0.001)
    assert _files(a) == _files(b)
    assert _files(a)["corpus.parquet"] != _files(c)["corpus.parquet"]
    assert _files(a)["lineitem.parquet"] != _files(c)["lineitem.parquet"]
    assert facts["n_docs"] == 120


def test_corpus_copies_form_near_duplicate_cliques(tmp_path):
    import pyarrow.parquet as pq

    gen.write_corpus(str(tmp_path), 2, 30, 4)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    corpus = pq.read_table(tmp_path / "corpus.parquet").to_pylist()
    assert len(corpus) == 120
    for row in corpus:
        base = docs[row["doc_id"] // 4]["text"]
        head, tag = row["text"].rsplit(" ", 1)
        assert head == base and tag.startswith("tok")
    # each copy carries its own token, so no two copies are identical
    assert len({r["text"] for r in corpus}) == 120
    ev = pq.read_table(tmp_path / "eval.parquet").to_pylist()
    assert ev and all(docs[r["doc_id"]]["text"] == r["text"] for r in ev)


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(1, 51))  # 50 samples
    assert percentile(xs, 80) == 40  # 41..50 lie beyond it
    assert percentile(xs[:49], 80) is None
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(99)), 90) is None
    assert percentile(list(reversed(xs)), 50) == 25
    assert percentile([], 50) is None


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("pass", 0.0, 10.0, None, 0),
        Span("a", 1.0, 3.0, 0, 1),
        Span("b", 2.0, 5.0, 0, 2),  # overlaps a
        Span("c", 7.0, 8.0, 0, 3),
        Span("d", 7.5, 7.8, 3, 4),  # grandchild: covered by c already
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 - 1.0) - (8.0 - 7.0)
    assert st[1] == 2.0 and st[2] == 3.0
    assert abs(st[3] - 0.7) < 1e-12
    assert abs(st[4] - 0.3) < 1e-12


def _events():
    def job(jid, stages, submit_ms, group=None):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": submit_ms, "Stage IDs": stages,
                "Properties": props}

    def task(stage, cpu_ns, shuffle=0, reason="Success"):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {
                    "Executor Run Time": 10, "Executor CPU Time": cpu_ns,
                    "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                    "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                    "Input Metrics": {"Bytes Read": 100}}}

    return [
        job(0, [0, 1], 1_000, "a#1"),
        task(0, 5), task(0, 7, shuffle=64), task(1, 11),
        {"Event": "SparkListenerStageCompleted"},
        job(1, [2], 2_500),  # no group: attributed by submission time
        task(2, 13, reason="ExceptionFailure"),
        job(2, [3], 9_000),  # outside every span
        task(3, 17),
    ]


def test_event_log_rolls_up_by_group_then_by_time():
    jobs = parse_event_log(json.dumps(e) for e in _events())
    assert jobs[0].group == "a#1" and jobs[0].metrics.tasks == 3
    assert jobs[0].metrics.cpu_ns == 23
    assert jobs[0].metrics.shuffle_write_bytes == 64
    assert jobs[1].metrics.failed_tasks == 1
    spans = [Span("pass", 0.5, 5.0, None, 0), Span("a", 0.9, 2.0, 0, 1),
             Span("b", 2.0, 3.0, 0, 2)]
    per = attribute(jobs, spans)
    assert per[1].cpu_ns == 23 and per[1].jobs == 1
    assert per[2].cpu_ns == 13 and per[2].failed_tasks == 1
    # the parent's total holds its children's jobs; job 2 is in no span
    assert per[0].cpu_ns == 36 and per[0].tasks == 4 and per[0].jobs == 2


def test_benchmark_manifest_names_fit_the_benchmark_contract():
    import re

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    metrics = doc["end_to_end"] + doc["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(set(names)) == len(names)
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m


def test_benchmark_manifest_lists_every_span_metric():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    units = {"wall_s": "s", "cpu_s": "s", "shuffle_bytes": "B",
             "tasks": "count"}
    for span in run.SPANS:
        for field, unit in units.items():
            assert declared.get(f"{span}.{field}") == unit, (span, field)


def test_guarded_turns_an_error_into_a_failed_call(capsys):
    def boom(x):
        raise ValueError(f"bad {x}")

    assert phases.guarded(lambda x, y: x + y, 2, 3) == 5
    assert phases.guarded(boom, 7) is None
    assert "ValueError: bad 7" in capsys.readouterr().err
