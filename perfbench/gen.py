"""Seeded input generators for the benchmark.

Every generator takes the workload seed as an argument and writes files; the
program under test only ever sees those files. The same seed gives
byte-identical inputs (numpy's PCG64 stream, fixed write options).
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np

# --- movies CSV (FIXTURES.md section B shape) -------------------------------

# The 14 columns the pipeline selects by header name, in reference order.
MOVIE_COLUMNS = (
    "id", "title", "revenue", "budget", "overview", "poster_path",
    "production_companies", "release_year", "Director", "Star1", "Star2",
    "Star3", "genres_list", "all_combined_keywords",
)
# Filler columns the pipeline must ignore (the Kaggle file has 42 columns).
FILLER_COLUMNS = tuple(f"extra_{i:02d}" for i in range(28))
GENRES = (
    "Drama", "Comedy", "Science Fiction", "Action", "Thriller", "Romance",
    "Horror", "Animation", "Documentary", "Crime", "Family", "War",
)
# Franchise clusters for the golden check: siblings share a distinctive
# keyword set no other movie uses, so each must rank its siblings first.
FRANCHISES = {
    "wizard": ("wizard", "school", "magic", "wand", "spell", "potion"),
    "hero": ("superhero", "team", "battle", "villain", "powers", "metropolis"),
    "pirate": ("pirate", "treasure", "galleon", "parrot", "cutlass", "reef"),
    "robot": ("android", "circuit", "uprising", "factory", "laser", "cyborg"),
}
FRANCHISE_SIZE = 5
FRANCHISE_ID_BASE = 900_000
UNKNOWN_ID_BASE = 5_000_000


def _syllable_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pseudo-words of two or three consonant-vowel pairs."""
    syll = np.array([c + v for c in "bcdfghklmnprstvz" for v in "aeiou"])
    words: set[str] = set()
    while len(words) < n:
        picks = syll[rng.integers(0, len(syll), size=(n, 3))]
        three = rng.random(n) < 0.5
        for row, t in zip(picks, three):
            words.add("".join(row if t else row[:2]))
    return sorted(words)[:n]


def _zipf_pick(rng: np.random.Generator, vocab: list[str], k: int) -> list[str]:
    ranks = np.minimum(rng.zipf(1.3, size=k), len(vocab)) - 1
    return [vocab[i] for i in ranks]


def _pick(rng: np.random.Generator, items, k: int) -> list:
    """Up to ``k`` distinct items, in draw order."""
    return list(dict.fromkeys(items[i] for i in rng.integers(0, len(items), k)))


def movie_rows(seed: int, n_rows: int) -> tuple[list[dict], dict]:
    """Rows of the raw movies CSV plus the facts the checks need: the
    franchise id groups and the number of rows clean() must keep."""
    rng = np.random.default_rng(seed)
    vocab = _syllable_words(rng, 4000)
    people = [" ".join(p) for p in zip(_syllable_words(rng, 600),
                                       _syllable_words(rng, 600)[::-1])]
    companies = [f"{w.title()} Pictures" for w in _syllable_words(rng, 80)]

    def row(mid: int, words: list[str], title: str | None) -> dict:
        stars = _pick(rng, people, 3)
        stars += ["Extra Star"] * (3 - len(stars))
        fill = rng.integers(0, 10**6, size=len(FILLER_COLUMNS))
        r = {
            "id": str(mid),
            "title": title,
            "revenue": str(int(rng.integers(10**5, 10**9))),
            "budget": str(int(rng.integers(10**5, 2 * 10**8))),
            "overview": " ".join(_zipf_pick(rng, vocab, 12)) + ", "
            + " ".join(words[: len(words) // 2]),
            "poster_path": f"/poster/{mid}.jpg",
            "production_companies": ",".join(
                _pick(rng, companies, int(rng.integers(1, 3)))),
            "release_year": f"{float(rng.integers(1950, 2024)):.1f}",
            "Director": people[int(rng.integers(0, len(people)))],
            "Star1": stars[0], "Star2": stars[1], "Star3": stars[2],
            "genres_list": json.dumps(
                _pick(rng, GENRES, int(rng.integers(1, 4)))),
            "all_combined_keywords": json.dumps(words),
        }
        r.update(zip(FILLER_COLUMNS, map(str, fill)))
        return r

    rows: list[dict] = []
    n_regular = n_rows - len(FRANCHISES) * FRANCHISE_SIZE - 8
    for mid in range(1, n_regular + 1):
        words = _zipf_pick(rng, vocab, int(rng.integers(6, 20)))
        rows.append(row(mid, words, " ".join(_zipf_pick(rng, vocab, 2)).title()))
    franchises: dict[str, list[int]] = {}
    for f_i, (name, kw) in enumerate(FRANCHISES.items()):
        ids = []
        for j in range(FRANCHISE_SIZE):
            mid = FRANCHISE_ID_BASE + 100 * f_i + j
            rows.append(row(mid, list(kw), f"{name.title()} Saga {j}"))
            ids.append(mid)
        franchises[name] = ids
    # FIXTURES.md section B pathological rows. clean() must drop the ones
    # listed in ``dropped``; the duplicate id collapses onto one survivor,
    # and the multi-line and null-star rows survive.
    dropped = []
    dup = dict(rows[0])
    dup["title"] = (dup["title"] or "") + " DUPLICATE"
    rows.append(dup)
    bad = row(800_001, ["lost"], None)  # null title
    rows.append(bad)
    dropped.append(800_001)
    bad = row(800_002, ["x"], "Sentinel Movie")
    bad["all_combined_keywords"] = "[]"
    rows.append(bad)
    dropped.append(800_002)
    bad = row(800_003, ["y"], "Malformed Json")
    bad["all_combined_keywords"] = "not [ valid json"
    rows.append(bad)
    dropped.append(800_003)
    bad = row(800_004, ["z"], "No Overview")
    bad["overview"] = None
    rows.append(bad)
    dropped.append(800_004)
    bad = row(800_005, ["w"], "No Year")
    bad["release_year"] = None
    rows.append(bad)
    dropped.append(800_005)
    ok = row(800_006, ["quoted", "line", "words"], 'Quoted "Movie"')
    ok["overview"] = "line one\nline two, with comma"
    rows.append(ok)
    ok = row(800_007, ["null", "stars"], "Null Stars")
    ok["Star2"] = None
    rows.append(ok)
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    survivors = len({r["id"] for r in rows}) - len(dropped)
    return rows, {"franchises": franchises, "survivors": survivors}


def write_movies_csv(path: str, seed: int, n_rows: int) -> dict:
    """Write the raw movies CSV; returns the check facts (see movie_rows)."""
    rows, facts = movie_rows(seed, n_rows)
    header = list(FILLER_COLUMNS[:14]) + list(MOVIE_COLUMNS) + list(
        FILLER_COLUMNS[14:])
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.DictWriter(fh, fieldnames=header, quoting=csv.QUOTE_MINIMAL)
        w.writeheader()
        for r in rows:
            w.writerow({k: ("" if v is None else v) for k, v in r.items()})
    facts["n_rows"] = len(rows)
    facts["bytes"] = os.path.getsize(path)
    return facts


# --- recommend query stream --------------------------------------------------


def query_ids(seed: int, known_ids: list[int], unknown_frac: float = 0.05):
    """Endless stream of query ids for the recommend loop, drawn lazily so
    it never wraps however many calls a run makes: known ids follow a Zipf
    law over a seeded popularity order (hot ids repeat), and about
    ``unknown_frac`` of the ids are absent from the corpus."""
    rng = np.random.default_rng(seed)
    ids = sorted(known_ids)
    popularity = rng.permutation(len(ids))
    while True:
        if rng.random() < unknown_frac:
            yield UNKNOWN_ID_BASE + int(rng.integers(0, 10**6))
        else:
            rank = min(int(rng.zipf(1.2)), len(ids)) - 1
            yield ids[popularity[rank]]


# --- documents corpus ---------------------------------------------------------

# English stop words (all on MLlib's default list), so curation's stop-word
# language guess reads the generated English documents as "en".
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "was", "at", "by", "an", "be", "this", "from")


def _documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Texts of 12-120 words: English-like documents mix stop words into a
    power-law content vocabulary; a fifth of the documents carry almost no
    stop words, so curation's language filter drops them."""
    vocab = np.array(_syllable_words(rng, 3000))
    weights = 1.0 / (np.arange(len(vocab)) + 10.0) ** 0.9
    weights /= weights.sum()
    stop = np.array(STOPWORDS)
    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(12, 121))
        p_stop = 0.3 if rng.random() < 0.8 else 0.02
        words = rng.choice(vocab, size=n, p=weights)
        is_stop = rng.random(n) < p_stop
        words[is_stop] = stop[rng.integers(0, len(stop), int(is_stop.sum()))]
        texts.append(" ".join(words))
    return texts


def write_corpus(out_dir: str, seed: int, n_base: int, copies: int) -> dict:
    """The training-data inputs, as parquet files under ``out_dir``:

    - ``documents.parquet``: ``n_base`` documents (the catalog table);
    - ``corpus.parquet``: every document replicated ``copies`` times, each
      copy with its own seeded token appended, so the copies of one document
      form a near-duplicate clique (doc_id = base id * copies + copy);
    - ``trusted.parquet``: a seeded fifth of the documents, the reference
      corpus of the perplexity band;
    - ``eval.parquet``: a seeded 1% of the documents, the held-out set the
      corpus is decontaminated against.

    Returns the facts the checks need: the corpus size in documents and
    bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts = _documents(rng, n_base)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_base), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_base)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_base)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    tags = rng.integers(0, 10**6, size=(n_base, copies))
    corpus = pa.table({
        "doc_id": pa.array(np.arange(n_base * copies), pa.int64()),
        "text": [f"{texts[i]} tok{tags[i, j]}"
                 for i in range(n_base) for j in range(copies)],
    })
    pq.write_table(corpus, f"{out_dir}/corpus.parquet")
    ids = np.arange(n_base)
    for name, frac in (("trusted", 0.2), ("eval", 0.01)):
        pick = np.sort(rng.choice(ids, max(int(n_base * frac), 1),
                                  replace=False))
        pq.write_table(docs.take(pick).select(["doc_id", "text"]),
                       f"{out_dir}/{name}.parquet")
    return {"n_docs": n_base * copies, "copies": copies,
            "bytes": os.path.getsize(f"{out_dir}/corpus.parquet")}


# --- relational and event tables ---------------------------------------------

_DAY_US = 86_400 * 10**6


def _days_us(rng: np.random.Generator, start: str, days: int, n: int):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, days, n) * _DAY_US


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """The star-schema tables (region, nation, customer, supplier, part,
    orders, lineitem), the ``events`` stream table and a small
    ``embeddings`` table, as ``<name>.parquet`` under ``out_dir``, with the
    column names and types the registry queries read. ``sf`` scales the
    row counts (sf=0.01: 60,000 lineitems, 10,000 events)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def put(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["small", "large", "red", "blue", "hot", "old", "new",
                    "green"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear",
                     "valve", "hinge"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                               noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days_us(rng, "1995-01-01", 2400, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    n_li = 4 * n_ord
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey]
                                    * rng.uniform(0.95, 1.05, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days_us(rng, "1995-01-02", 2500, n_li),
                               pa.timestamp("us"))})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_events))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_events),
                            pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n_events)],
        "value": money(0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    n_vec = 200
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(rng.standard_normal((n_vec, 16)).astype(
            np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_vec), pa.int32())})
