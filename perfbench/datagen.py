"""Seeded benchmark inputs, cached by (kind, scale, seed) under the work dir.

Two input sets:

- ``tier``: the ten parquet tables the registry queries read (TPC-H-ish star,
  ``events``, ``documents``, ``embeddings``), with the schemas, key ranges and
  value distributions of the shipped testdata tiers, at a scale factor.
- ``tmdb``: the four Kaggle-shaped TMDB CSVs the ETL reads
  (``movies_metadata``/``credits``/``keywords`` with Python-repr nested
  cells, plus a flat ``ratings``).

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "HOUSEHOLD", "MACHINERY", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "hot", "small", "cold", "new", "old", "large", "red"]
P_NOUN = ["ring", "rod", "bolt", "anvil", "widget", "gear", "plate", "cog"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000


def _us(day: str) -> int:
    return int(np.datetime64(day).astype("datetime64[us]").astype(np.int64))


def _pick(values: list[str], idx: np.ndarray) -> np.ndarray:
    return np.array(values)[idx]


def make_tier(out: str, sf: float, seed: int) -> None:
    """Write the ten query tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })

    n_cust = int(150_000 * sf)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })

    n_supp = max(1, int(10_000 * sf))
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })

    n_part = int(200_000 * sf)
    adj = _pick(P_ADJ, rng.integers(0, len(P_ADJ), n_part))
    noun = _pick(P_NOUN, rng.integers(0, len(P_NOUN), n_part))
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _pick(P_TYPES, rng.integers(0, len(P_TYPES), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })

    n_ord = int(1_500_000 * sf)
    o_dates = rng.integers(_us("1995-01-01") // DAY_US, _us("2001-08-02") // DAY_US, n_ord) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(o_dates, type=pa.timestamp("us")),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })

    lines_per = 1 + rng.poisson(3.0, n_ord)
    n_li = int(lines_per.sum())
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = rng.integers(0, 6, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(["A", "A", "N", "N", "R", "R"], flags),
        "l_linestatus": _pick(["F", "O", "F", "O", "F", "O"], flags),
        "l_shipdate": pa.array(
            np.repeat(o_dates, lines_per) + rng.integers(1, 96, n_li) * DAY_US,
            type=pa.timestamp("us"),
        ),
    })

    n_ev = int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(
            np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), n_ev)),
            type=pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": _pick([f'{{"k": {k}}}' for k in range(100)], rng.integers(0, 100, n_ev)),
    })

    n_doc = int(50_000 * sf)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 101, n_doc)]
    # ~0.2% exact duplicates, as in the shipped tiers
    n_dup = max(1, n_doc // 500)
    for i, j in zip(rng.integers(0, n_doc, n_dup), rng.integers(0, n_doc, n_dup)):
        texts[int(i)] = texts[int(j)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(LANGS, rng.choice(len(LANGS), n_doc, p=LANG_P)),
        "source": _pick([f"src{i}" for i in range(20)], rng.integers(0, 20, n_doc)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n_emb = int(20_000 * sf)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


GENRES = [(i, f"Genre {i}") for i in range(16, 36)]
TMDB_LANGS = ["en", "fr", "de", "es", "it", "ja", "ko", "zh", "pt", "ru", "hi", "sv"]
COUNTRIES = ["US", "FR", "DE", "GB", "JP", "KR", "CN", "BR", "IN", "SE"]
MOVIE_COLS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview", "popularity",
    "poster_path", "production_companies", "production_countries", "release_date",
    "revenue", "runtime", "spoken_languages", "status", "tagline", "title",
    "video", "vote_average", "vote_count",
]


def make_tmdb(out: str, n_movies: int, n_ratings: int, seed: int) -> None:
    """Write the four TMDB CSVs: ``n_movies`` movies with credits and
    keywords, and ``n_ratings`` ratings over them."""
    rng = np.random.default_rng(seed)
    with open(os.path.join(out, "movies_metadata.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(MOVIE_COLS)
        for mid in range(1, n_movies + 1):
            gs = rng.choice(len(GENRES), size=rng.integers(1, 4), replace=False)
            lang = TMDB_LANGS[int(rng.integers(0, len(TMDB_LANGS)))]
            ctry = COUNTRIES[int(rng.integers(0, len(COUNTRIES)))]
            studio = int(rng.integers(1, 500))
            row = dict.fromkeys(MOVIE_COLS, "")
            row.update(
                id=str(mid),
                original_title=f"Movie {mid}",
                overview=f"Overview of movie {mid}, with 'quotes' and text.",
                genres=repr([{"id": GENRES[g][0], "name": GENRES[g][1]} for g in gs]),
                belongs_to_collection=(
                    repr({"id": 100000 + mid % 997, "name": f"Collection {mid % 997}"})
                    if mid % 7 == 0 else ""
                ),
                original_language=lang,
                spoken_languages=repr([{"iso_639_1": lang, "name": f"Lang {lang}"}]),
                production_companies=repr([{"name": f"Studio {studio}", "id": studio}]),
                production_countries=repr([{"iso_3166_1": ctry, "name": f"Country {ctry}"}]),
                release_date=f"{1950 + mid % 70}-01-01",
                budget=str(int(rng.integers(0, 3 * 10**8))),
                revenue=str(int(rng.integers(0, 10**9))),
                runtime=f"{int(rng.integers(60, 200))}.0",
                popularity=f"{rng.random() * 50:.4f}",
            )
            w.writerow([row[c] for c in MOVIE_COLS])

    with open(os.path.join(out, "credits.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["cast", "crew", "id"])
        for mid in range(1, n_movies + 1):
            cast = [
                {"id": int(rng.integers(1, 200000)), "name": f"Actor {mid}-{i}", "order": i}
                for i in range(int(rng.integers(1, 6)))
            ]
            crew = [{"id": int(rng.integers(1, 100000)), "name": f"Dir {mid}", "job": "Director"}] + [
                {"id": int(rng.integers(1, 100000)), "name": f"Crew {mid}-{i}", "job": "Grip"}
                for i in range(int(rng.integers(0, 3)))
            ]
            w.writerow([repr(cast), repr(crew), str(mid)])

    with open(os.path.join(out, "keywords.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "keywords"])
        for mid in range(1, n_movies + 1):
            kws = [{"id": int(k), "name": f"kw{int(k)}"} for k in rng.integers(1, 10000, size=rng.integers(0, 5))]
            w.writerow([str(mid), repr(kws)])

    pd.DataFrame({
        "userId": rng.integers(1, 280_000, size=n_ratings),
        "movieId": rng.integers(1, n_movies + 1, size=n_ratings),
        "rating": rng.integers(1, 11, size=n_ratings) / 2.0,
        "timestamp": rng.integers(8 * 10**8, 16 * 10**8, size=n_ratings),
    }).to_csv(os.path.join(out, "ratings.csv"), index=False)


def ensure(work: str, kind: str, scale: dict, seed: int) -> str:
    """Return the directory holding the inputs for (kind, scale, seed),
    generating them on first use. A finished set is marked by a ``.done``
    file, so an interrupted generation is redone."""
    tag = "_".join(f"{k}{v}" for k, v in sorted(scale.items()))
    path = os.path.join(work, "inputs", f"{kind}_{tag}_seed{seed}")
    if os.path.exists(os.path.join(path, ".done")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    if kind == "tier":
        make_tier(path, scale["sf"], seed)
    else:
        make_tmdb(path, scale["movies"], scale["ratings"], seed)
    open(os.path.join(path, ".done"), "w").close()
    return path
