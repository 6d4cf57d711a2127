"""Record ``expected.json``: the output digests the benchmark checks against,
for every input set of every workload and scale.

Each digest is recorded only after the outputs it hashes pass a check that
does not use the program:

- query results with a DuckDB oracle in the registry must equal the
  oracle's result on the same inputs (row count, then values with the
  test suite's tolerance);
- ``q_dedup_minhash_lsh`` pairs must all have an exact Jaccard similarity of
  at least 0.8, and every pair of documents with identical token sets
  must be present;
- the ETL's tables must equal a row-at-a-time Python model of the
  reference loader built from the CSVs (``crew_by_job`` compares its
  person sets unordered).

Run from the repository root; it takes a few minutes:

    python3 perfbench/record_expected.py [scale ...]

Naming scales re-records only those and keeps the others' digests.
"""

from __future__ import annotations

import ast
import csv
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import verify  # noqa: E402
from spans import Tracer  # noqa: E402

SETS = {"bench": range(run.INPUT_SETS), "tiny": range(2)}


class Mismatch(Exception):
    pass


def check_oracle(name: str, table, sql: str, tier: str) -> None:
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for f in os.listdir(tier):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{tier}/{f}'")
    want = con.execute(sql).fetchdf()
    got = table.to_pandas()
    if len(got) != len(want):
        raise Mismatch(f"{name}: {len(got)} rows, oracle {len(want)}")

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_numeric_dtype(df[c]):
                df[c] = df[c].astype("float64")
            elif pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)

    try:
        pd.testing.assert_frame_equal(
            norm(got), norm(want), check_dtype=False, check_exact=False, rtol=0, atol=1e-6
        )
    except AssertionError as e:
        raise Mismatch(f"{name}: {e}") from e


def check_lsh_pairs(table, tier: str) -> None:
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{tier}/documents.parquet").to_pylist()
    sets = {d["doc_id"]: frozenset(d["text"].split(" ")) for d in docs}
    got = {(r["doc_a"], r["doc_b"]) for r in table.to_pylist()}
    for a, b in got:
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j < 0.8:
            raise Mismatch(f"q_dedup_minhash_lsh: pair {a},{b} has Jaccard {j:.3f}")
    by_set: dict = {}
    for d, s in sets.items():
        by_set.setdefault(s, []).append(d)
    for group in by_set.values():
        for i, a in enumerate(sorted(group)):
            for b in sorted(group)[i + 1:]:
                if (a, b) not in got and (b, a) not in got:
                    raise Mismatch(f"q_dedup_minhash_lsh: identical pair {a},{b} missing")


def etl_model(base: str) -> dict[str, set]:
    """The reference loader's tables, one row at a time, as sets of tuples."""
    def rows(name):
        with open(os.path.join(base, name), newline="") as f:
            yield from csv.DictReader(f)

    def lit(cell):
        return ast.literal_eval(cell) if cell else None

    def pos(v, conv):
        x = conv(v) if v else None
        return x if x is not None and x > 0 else None

    genres, companies, collections, lang_names, country_names = {}, {}, {}, {}, {}
    isos, movies = set(), []
    out = {k: set() for k in (
        "movies_genres", "movies_production_companies", "spoken", "countries_of",
    )}
    for r in rows("movies_metadata.csv"):
        mid = int(r["id"])
        for g in lit(r["genres"]) or []:
            genres.setdefault(g["id"], g["name"])
            out["movies_genres"].add((mid, g["id"]))
        for c in lit(r["production_companies"]) or []:
            companies.setdefault(c["id"], c["name"])
            out["movies_production_companies"].add((mid, c["id"]))
        coll = lit(r["belongs_to_collection"])
        if coll:
            collections.setdefault(coll["id"], coll["name"])
        isos.add(r["original_language"])
        for s in lit(r["spoken_languages"]) or []:
            isos.add(s["iso_639_1"])
            lang_names.setdefault(s["iso_639_1"], s["name"])
            out["spoken"].add((mid, s["iso_639_1"]))
        for c in lit(r["production_countries"]) or []:
            country_names.setdefault(c["iso_3166_1"], c["name"])
            out["countries_of"].add((mid, c["iso_3166_1"]))
        movies.append((mid, r, coll["id"] if coll else None))

    lang_id = {iso: i + 1 for i, iso in enumerate(sorted(isos))}
    country_id = {iso: i + 1 for i, iso in enumerate(sorted(country_names))}
    ratings: dict[int, list] = {}
    for r in rows("ratings.csv"):
        ratings.setdefault(int(r["movieId"]), []).append(float(r["rating"]))

    def runtime(v):
        t = int(float(v)) if v else None
        return t if t is not None and t > 0 else None

    tables = {
        "genres": set(genres.items()),
        "production_companies": set(companies.items()),
        "collections": set(collections.items()),
        "languages": {(lang_id[i], i, lang_names.get(i)) for i in isos},
        "countries": {(country_id[i], i, n) for i, n in country_names.items()},
        "movies_genres": out["movies_genres"],
        "movies_production_companies": out["movies_production_companies"],
        "spoken_languages": {(m, lang_id[i]) for m, i in out["spoken"]},
        "production_countries": {(m, country_id[i]) for m, i in out["countries_of"]},
        "movies": {
            (mid, r["original_title"], r["release_date"], pos(r["budget"], int),
             pos(r["revenue"], int), pos(r["popularity"], float), runtime(r["runtime"]),
             sum(ratings[mid]) / len(ratings[mid]) if mid in ratings else None,
             lang_id[r["original_language"]], coll, r["overview"])
            for mid, r, coll in movies
        },
    }

    persons, directors, actors, by_job = {}, set(), set(), {}
    for r in rows("credits.csv"):
        mid = int(r["id"])
        crew, cast = lit(r["crew"]) or [], lit(r["cast"]) or []
        for p in crew + cast:
            persons.setdefault(p["id"], p["name"])
        for p in crew:
            by_job.setdefault((mid, p["job"]), set()).add(p["id"])
            if p["job"] == "Director":
                directors.add((mid, p["id"]))
        for p in cast:
            actors.add((p["id"], mid, p["order"]))
    tables.update(
        persons=set(persons.items()), directors=directors, actors=actors,
        crew_by_job={(m, j, frozenset(ids)) for (m, j), ids in by_job.items()},
    )

    keywords, movie_kw = {}, set()
    for r in rows("keywords.csv"):
        for k in lit(r["keywords"]) or []:
            keywords.setdefault(k["id"], k["name"])
            movie_kw.add((int(r["id"]), k["id"]))
    tables.update(keywords=set(keywords.items()), movies_keywords=movie_kw)
    return tables


def check_etl(out_dir: str, base: str, ops: list[str]) -> None:
    import pyarrow.parquet as pq

    model = etl_model(base)
    for name in ops:
        t = pq.read_table(os.path.join(out_dir, name)).to_pylist()
        got = [tuple(frozenset(v) if isinstance(v, list) else v for v in r.values()) for r in t]
        if len(got) != len(set(got)) or set(got) != model[name]:
            extra = list(set(got) - model[name])[:3]
            missing = list(model[name] - set(got))[:3]
            raise Mismatch(f"etl {name}: {len(got)} rows vs model {len(model[name])}; "
                           f"extra {extra} missing {missing}")


def record(scale: str, workload_name: str, spark, work: str, workloads, datagen) -> dict:
    from the_movie_database_import_spark.plans import REGISTRY

    wl = workloads.WORKLOADS[workload_name]()
    result = {}
    for input_set in SETS[scale]:
        inputs = datagen.ensure(work, wl.kind, workloads.SCALES[scale][wl.kind], input_set)
        out_dir = os.path.join(work, "out", f"record-{os.getpid()}")
        ctx = workloads.Ctx(spark, Tracer(False), None, inputs, out_dir)
        digests: dict = {}
        if wl.kind == "tier":
            for q in wl.queries:
                table = REGISTRY[q].spark_fn(spark, inputs).toArrow()
                if REGISTRY[q].oracle:
                    check_oracle(q, table, REGISTRY[q].oracle, inputs)
                elif q == workloads.LSH_QUERY:
                    check_lsh_pairs(table, inputs)
                digests[q] = workloads.digest(table)
        else:
            failed = wl.verify_rep(ctx, digests)
            if failed:
                raise Mismatch(f"etl writes failed: {sorted(failed)}")
            check_etl(out_dir, inputs, wl.ops())
            shutil.rmtree(out_dir, ignore_errors=True)
        print(f"{scale} {workload_name} set {input_set}: ok", file=sys.stderr, flush=True)
        result[str(input_set)] = digests
    return result


def main() -> None:
    work = os.path.join(ROOT, ".perfbench")
    scratch = run.isolate_environment(work)
    sys.path.insert(0, ROOT)
    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.session import get_spark

    import datagen
    import workloads

    run.keep_package_zip_in(session, work)
    spark = get_spark("perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    expected = verify.load_expected()
    try:
        for scale in sys.argv[1:] or SETS:
            for name in run.WORKLOAD_NAMES:
                expected.setdefault(scale, {})[name] = record(
                    scale, name, spark, work, workloads, datagen
                )
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    with open(verify.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
