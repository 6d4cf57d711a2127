"""TMDB reference-parity ETL: Kaggle "The Movies Dataset" CSVs → the 15
normalized tables of ``db_schema.json`` (reference pipeline
`loader.py:549-607`), re-expressed as declarative Spark plans.

Conflict-policy parity (SURVEY.md §2 Part A notes, §7.5), one helper each:
- movies: duplicate id → LAST row wins (`loader.py:225`): ``_first`` over
  input order descending;
- dimensions (genres/collections/companies/persons/keywords): FIRST
  occurrence registers the name (`loader.py:147-148,:155-158,:198-201,
  :264-265,:272-273,:303-307`): ``_first`` over ``_occurrences``, the
  elements in reference processing order;
- languages/countries: surrogate ids over the distinct codes, each named by
  its first non-NULL name (ref A8/A9): ``_coded``;
- movie bridges: per-movie SETS from the surviving row (ref A10):
  ``_bridge``;
- keywords→movies: duplicate keyword UNIONs its movie set
  (`loader.py:308-309`) — distinct pairs across ALL ``_occurrences``;
- crew/cast per movie: last NON-EMPTY duplicate credits row wins
  (`loader.py:256-276`): ``_first`` over the rows with a crew job, or with
  a cast, while the person registry sees all rows, crew before cast within
  a row (`loader.py:257-276`).

Input order: the reference iterates CSV file order. multiLine CSV files are
unsplittable, so ``monotonically_increasing_id`` over the single-file scan
reproduces it exactly; with a sharded input the policies remain
deterministic per shard ordering (documented deviation — at 100 TB "file
order" is not a meaningful total order anyway).

Deviations (SURVEY.md §7.5): D1 surrogate ids dense_rank over natural key;
D2 missing overview → NULL (not the ``str(NaN)`` artifact ``'nan'``);
D3 nested cells are read by ``from_json``, and ``ast.literal_eval`` (never
``eval``) runs only on the fallback cells, those outside the canonical repr
grammar that ``etl/parse.py``'s guard accepts, in a Python stage planned
only when an input table holds such a cell; null iso codes / entity ids
are dropped rather than registered under a NULL key.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..sources.readers import scan_csv
from ..sources.schema import TABLES, TABLES_BY_NAME
from .parse import (
    CAST,
    COLLECTION,
    COUNTRIES,
    CREW,
    ID_NAMES,
    LANGS,
    parse_nested,
    positive_bigint_or_null,
    positive_double_or_null,
    positive_int_trunc_or_null,
)


def _str_schema(*names: str) -> StructType:
    return StructType([StructField(n, StringType()) for n in names])


# Raw columns as strings: cleansing casts are explicit operators (A3/A4),
# never reader inference (SURVEY.md §1.3).
MOVIES_SCHEMA = _str_schema(
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview", "popularity",
    "poster_path", "production_companies", "production_countries", "release_date",
    "revenue", "runtime", "spoken_languages", "status", "tagline", "title",
    "video", "vote_average", "vote_count",
)
CREDITS_SCHEMA = _str_schema("cast", "crew", "id")
KEYWORDS_SCHEMA = _str_schema("id", "keywords")
RATINGS_SCHEMA = _str_schema("userId", "movieId", "rating", "timestamp")

OUTPUT_TABLES = tuple(t.name for t in TABLES)


def load_inputs(spark: SparkSession, base_dir: str) -> dict[str, DataFrame]:
    """Scan the four TMDB CSVs (ref A1, `loader.py:561-568`) and attach the
    input-order index the conflict policies depend on.

    Each path may be a single file (the Kaggle layout) or a DIRECTORY of
    shard files, each with its own header — the 100x-input posture: the
    three nested-cell CSVs are multiLine and therefore one task PER FILE,
    so sharding them is the only way the parse stage parallelizes
    (`tests/test_tmdb_etl.py::test_sharded_input_parallelism_and_policy_determinism`
    pins it). Ratings scans with
    ``multiline=False``: the file is flat (no quoted newlines), which makes
    even a single 26M-row file LINE-SPLITTABLE — full parallelism without
    sharding — and its only consumer is an order-insensitive mean, so the
    splittable scan cannot perturb any conflict policy."""
    paths = {
        "movies": f"{base_dir}/movies_metadata.csv",
        "credits": f"{base_dir}/credits.csv",
        "keywords": f"{base_dir}/keywords.csv",
        "ratings": f"{base_dir}/ratings.csv",
    }
    schemas = {
        "movies": MOVIES_SCHEMA,
        "credits": CREDITS_SCHEMA,
        "keywords": KEYWORDS_SCHEMA,
        "ratings": RATINGS_SCHEMA,
    }
    return {
        name: scan_csv(
            spark,
            paths[name],
            schemas[name],
            multiline=(name != "ratings"),
        ).withColumn("_idx", F.monotonically_increasing_id())
        for name in paths
    }


def _valid_id(df: DataFrame, src_col: str, out_col: str) -> DataFrame:
    """Safe cast + skip-invalid filter (ref A3, `loader.py:123-127`)."""
    return df.withColumn(out_col, F.col(src_col).try_cast("bigint")).filter(
        F.col(out_col).isNotNull()
    )


def _first(df: DataFrame, key: str, *order) -> DataFrame:
    """The first row of each ``key`` group in ``order``: ascending input
    order for first-wins, ``F.col("_idx").desc()`` for last-wins."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _occurrences(parsed: DataFrame, arrays: list[str | Column], **fields: str) -> DataFrame:
    """One row per element of the ``arrays`` columns, in reference
    processing order: input row (``_idx``), then the column's place in
    ``arrays`` (``_phase``), then position (``_pos``). A Column item is one
    element per row (``_pos`` 0). ``fields`` maps each output column to the
    element field it reads; the first is the key, and NULL keys are dropped."""
    streams = [
        parsed.select(
            "movie_id", "_idx", F.lit(phase).alias("_phase"),
            *([F.posexplode_outer(a).alias("_pos", "e")] if isinstance(a, str)
              else [F.lit(0).alias("_pos"), a.alias("e")]),
        ).select(
            "movie_id", "_idx", "_phase", "_pos",
            *(F.col(f"e.{f}").alias(out) for out, f in fields.items()),
        )
        for phase, a in enumerate(arrays)
    ]
    occ = reduce(DataFrame.unionByName, streams)
    return occ.filter(F.col(next(iter(fields))).isNotNull())


def _coded(occ: DataFrame, *order) -> DataFrame:
    """Surrogate ids (D1: ``dense_rank`` over the distinct ``code`` values)
    with each code's first non-NULL ``name`` in ``order`` (ref A8/A9)."""
    names = _first(occ.filter(F.col("name").isNotNull()), "code", *order)
    return (
        occ.select("code")
        .distinct()
        .withColumn("id", F.dense_rank().over(Window.orderBy("code")).cast("bigint"))
        .join(names.select("code", "name"), "code", "left")
    )


def _bridge(
    rows: DataFrame, array: str, field: str, out: str, dim: DataFrame | None = None
) -> DataFrame:
    """The per-movie SET of the ``field`` values in ``rows``' ``array`` (ref
    A10); with ``dim``, each value is a code mapped to the dimension's id."""
    key = "code" if dim is not None else out
    pairs = (
        rows.select("movie_id", F.explode(array).alias("e"))
        .select("movie_id", F.col(f"e.{field}").alias(key))
        .filter(F.col(key).isNotNull())
    )
    if dim is not None:
        ids = dim.select("code", F.col("id").alias(out))
        pairs = pairs.join(F.broadcast(ids), "code").select("movie_id", out)
    return pairs.distinct()


def build_movie_tables(movies_raw: DataFrame) -> dict[str, DataFrame]:
    mv = _valid_id(movies_raw, "id", "movie_id")
    parsed = parse_nested(  # cached, shared by every derivation below
        mv,
        [
            "movie_id",
            "_idx",
            "original_title",
            "release_date",
            "budget",
            "popularity",
            "revenue",
            "runtime",
            "overview",
            "original_language",
        ],
        genres_arr=("genres", ID_NAMES),
        collection=("belongs_to_collection", COLLECTION),
        spoken_arr=("spoken_languages", LANGS),
        companies_arr=("production_companies", ID_NAMES),
        countries_arr=("production_countries", COUNTRIES),
    )
    last = _first(parsed, "movie_id", F.col("_idx").desc())

    def first_wins(array: str) -> DataFrame:  # ref A7
        occ = _occurrences(parsed, [array], id="id", name="name")
        return _first(occ, "id", "_idx", "_pos").select("id", "name")

    # original_language (phase 0, `loader.py:161`, never named) before the
    # spoken_languages list (phase 1, `loader.py:176`)
    original = F.struct(
        F.col("original_language").alias("iso_639_1"), F.lit(None).cast("string").alias("name")
    )
    languages = _coded(
        _occurrences(parsed, [original, "spoken_arr"], code="iso_639_1", name="name"),
        "_idx", "_phase", "_pos",
    )
    countries = _coded(
        _occurrences(parsed, ["countries_arr"], code="iso_3166_1", name="name"), "_idx", "_pos"
    )

    # ---- movies fact: cleansing (A4) + surrogate lookups -----------------
    movies = last.select(
        F.col("movie_id").alias("id"),
        F.col("original_title").alias("title"),
        F.col("release_date").alias("release_date"),  # varchar for parity (D6)
        positive_bigint_or_null(F.col("budget")).alias("budget"),
        positive_bigint_or_null(F.col("revenue")).alias("revenue"),
        positive_double_or_null(F.col("popularity")).alias("popularity"),
        positive_int_trunc_or_null(F.col("runtime")).alias("runtime"),
        F.col("original_language").alias("code"),
        F.col("collection.id").alias("belongs_to_collection"),
        F.when(F.length("overview") > 0, F.col("overview")).alias("overview"),  # D2
    ).join(
        F.broadcast(languages.select("code", F.col("id").alias("original_language"))),
        "code",
        "left",
    ).drop("code")

    return {
        "movies": movies,  # rating joined later (A15)
        "genres": first_wins("genres_arr"),
        "languages": languages.select("id", F.col("code").alias("lang_key"), "name"),
        "collections": _first(
            _occurrences(parsed, [F.col("collection")], id="id", name="name"), "id", "_idx"
        ).select("id", "name"),
        "countries": countries.select("id", "code", "name"),
        "production_companies": first_wins("companies_arr"),
        "movies_genres": _bridge(last, "genres_arr", "id", "genre_id"),
        "spoken_languages": _bridge(last, "spoken_arr", "iso_639_1", "language_id", languages),
        "production_countries": _bridge(
            last, "countries_arr", "iso_3166_1", "country_id", countries
        ),
        "movies_production_companies": _bridge(
            last, "companies_arr", "id", "production_company_id"
        ),
    }


def build_credit_tables(credits_raw: DataFrame) -> dict[str, DataFrame]:
    cr = _valid_id(credits_raw, "id", "movie_id")
    parsed = parse_nested(
        cr, ["movie_id", "_idx"], crew_arr=("crew", CREW), cast_arr=("cast", CAST)
    )

    # person registry: ALL rows, crew (phase 0) before cast (phase 1) within
    # a row, first occurrence wins (`loader.py:264-265,:272-273`)
    persons = _first(
        _occurrences(parsed, ["crew_arr", "cast_arr"], id="id", name="name"),
        "id", "_idx", "_phase", "_pos",
    ).select("id", "name")

    # Duplicate credits rows for a movie: last NON-EMPTY row wins, and crew
    # and cast are tracked independently (`loader.py:256,:266-267,:275-276`
    # — the reference only assigns `crew_dict[movie] = crew` when
    # `len(crew.keys()) > 0`, i.e. at least one entry carries a job, and
    # `cast_dict[movie] = cast` when `len(cast) > 0`). A later duplicate row
    # with an empty cast must NOT wipe an earlier row's cast.
    last_desc = F.col("_idx").desc()
    crew = (
        _first(parsed.filter(F.exists("crew_arr", lambda e: e["has_job"])), "movie_id", last_desc)
        .select("movie_id", F.explode("crew_arr").alias("e"))
        .filter(F.col("e.has_job") & F.col("e.id").isNotNull())
    )
    cast_last = _first(parsed.filter(F.size("cast_arr") > 0), "movie_id", last_desc)

    crew_by_job = crew.groupBy("movie_id", F.col("e.job").alias("job")).agg(
        F.collect_set("e.id").alias("person_ids")
    )
    directors = (
        crew.filter(F.col("e.job") == "Director")
        .select("movie_id", F.col("e.id").alias("director_id"))
        .distinct()
    )
    # cast is an ordered LIST — duplicates preserved (ref A12)
    actors = cast_last.select("movie_id", F.explode("cast_arr").alias("e")).select(
        F.col("e.id").alias("person_id"), "movie_id", F.col("e.order").alias("order_id")
    )

    return {
        "persons": persons,
        "directors": directors,
        "actors": actors,
        "crew_by_job": crew_by_job,  # ref A11 exposed; not a db_schema table
    }


def build_keyword_tables(keywords_raw: DataFrame) -> dict[str, DataFrame]:
    kw = _valid_id(keywords_raw, "id", "movie_id")
    parsed = parse_nested(kw, ["movie_id", "_idx"], keywords_arr=("keywords", ID_NAMES))
    occ = _occurrences(parsed, ["keywords_arr"], keyword_id="id", name="name")
    keywords = _first(occ, "keyword_id", "_idx", "_pos").select(
        F.col("keyword_id").alias("id"), F.col("name").alias("keyword")
    )
    # UNION across every occurrence — including duplicate movie rows
    # (`loader.py:302-309`): the inverted index is the bridge, grouped the
    # other way (ref A13)
    movies_keywords = occ.select("movie_id", "keyword_id").distinct()
    return {"keywords": keywords, "movies_keywords": movies_keywords}


def build_rating_avg(ratings_raw: DataFrame) -> DataFrame:
    """AVG rating per movie (ref A14, `loader.py:313-336`): pre-aggregated
    BEFORE the movie join — 26M ratings reduce to ~45k rows, making the
    subsequent join broadcastable (the reference hand-rolled exactly this
    pre-aggregation; at 100 TB it is the difference between shuffling the
    fact table and shuffling nothing)."""
    r = ratings_raw.select(
        F.col("movieId").try_cast("bigint").alias("movie_id"),
        F.col("rating").try_cast("double").alias("rating"),
    ).filter(F.col("movie_id").isNotNull() & F.col("rating").isNotNull())
    return r.groupBy("movie_id").agg(
        (F.sum(F.col("rating").cast("decimal(9,2)")).cast("double") / F.count("rating")).alias(
            "rating"
        )
    )


def build_all_tables(spark: SparkSession, base_dir: str) -> dict[str, DataFrame]:
    """The full 15-table build (ref `main`, `loader.py:549-607`)."""
    inputs = load_inputs(spark, base_dir)

    # Each builder fills its table's parse cache (one task per multiLine
    # file) before it returns, so the three run side by side.
    builders = [
        (build_movie_tables, "movies"),
        (build_credit_tables, "credits"),
        (build_keyword_tables, "keywords"),
    ]
    out: dict[str, DataFrame] = {}
    with ThreadPoolExecutor(len(builders)) as pool:
        for tables in pool.map(lambda b: b[0](inputs[b[1]]), builders):
            out.update(tables)

    rating_avg = build_rating_avg(inputs["ratings"])
    movies = out["movies"].join(
        F.broadcast(rating_avg), out["movies"].id == rating_avg.movie_id, "left"
    ).drop("movie_id")  # ref A15: movies keep NULL rating when absent
    out["movies"] = movies.select("id", *(c for c, _ in TABLES_BY_NAME["movies"].columns))
    return out
