"""Reference-parity semantics tests for the TMDB ETL (SURVEY.md §5 pyramid
item 2): miniature CSVs in the exact Kaggle shape, hand-derived golden
expectations (never computed by importing the reference).

Covered quirks (FIXTURES.md §B checklist): junk-id row skips, duplicate
movie id last-wins, dimension first-wins, keyword movie-set union, language
NULL-name fill-in, cast duplicates preserved with order, crew entry without
job, Director filter, movie with no ratings → NULL, positive-else-NULL
cleansing over {0, negative, junk, float-string, positive}, apostrophes
inside repr cells, multiline overview."""

from __future__ import annotations

import csv

import pytest

from the_movie_database_import_spark.etl.pipeline import build_all_tables

MOVIE_COLS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview", "popularity",
    "poster_path", "production_companies", "production_countries", "release_date",
    "revenue", "runtime", "spoken_languages", "status", "tagline", "title",
    "video", "vote_average", "vote_count",
]


def _movie_row(**kw) -> list[str]:
    base = {c: "" for c in MOVIE_COLS}
    base.update(kw)
    return [base[c] for c in MOVIE_COLS]


@pytest.fixture(scope="module")
def tmdb_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tmdb")

    with open(d / "movies_metadata.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(MOVIE_COLS)
        w.writerow(_movie_row(
            id="1", original_title="First Movie",
            genres="[{'id': 16, 'name': 'Animation'}, {'id': 35, 'name': 'Comedy'}]",
            belongs_to_collection="{'id': 10, 'name': 'Toy Story Collection'}",
            original_language="en",
            spoken_languages="[{'iso_639_1': 'en', 'name': None}]",
            production_companies="[{'name': 'Pixar', 'id': 3}]",
            production_countries="[{'iso_3166_1': 'US', 'name': 'United States of America'}]",
            release_date="1995-10-30", budget="30000000", popularity="21.9469",
            revenue="373554033", runtime="81.0", overview="A fun movie.",
        ))
        w.writerow(_movie_row(id="abc", original_title="Junk Id Movie"))
        w.writerow(_movie_row(
            id="2", original_title="Second Movie",
            genres="[{'id': 16, 'name': 'Animation Dup'}]",
            original_language="fr",
            spoken_languages=(
                "[{'iso_639_1': 'fr', 'name': 'Français'}, "
                "{'iso_639_1': 'en', 'name': 'English'}]"
            ),
            production_companies="[{'id': 3, 'name': 'Pixar Duplicate'}]",
            release_date="2000-01-01", budget="0", popularity="-1",
            revenue="junk", runtime="", overview="",
        ))
        w.writerow(_movie_row(
            id="1", original_title="First Movie V2",
            genres="[{'id': 35, 'name': 'Comedy'}]",
            original_language="de",
            spoken_languages="[{'iso_639_1': 'xx', 'name': \"O'Brien's Tongue\"}]",
            production_countries="[{'iso_3166_1': 'DE', 'name': 'Germany'}]",
            release_date="1996-01-01", budget="-5",
            overview="Second version.\nWith a second line.",
        ))
        w.writerow(_movie_row(
            id="4", original_title="Fourth Movie", genres="[]",
            original_language="en", budget="100", runtime="90.5",
        ))

    with open(d / "credits.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["cast", "crew", "id"])
        w.writerow([
            "[{'id': 200, 'name': 'Alice Act', 'order': 0}, "
            "{'id': 200, 'name': 'Alice Act', 'order': 3}, "
            "{'id': 201, 'name': \"Sam O'Neil\", 'order': 1}]",
            "[{'id': 100, 'name': 'Jane Dir', 'job': 'Director'}, "
            "{'id': 101, 'name': 'Bob Grip'}]",
            "1",
        ])
        w.writerow(["[]", "[]", "xyz"])
        w.writerow(["[]", "[{'id': 102, 'name': 'New Dir', 'job': 'Director'}]", "1"])
        w.writerow(["[{'id': 200, 'name': 'Alice Duplicate', 'order': 0}]", "[]", "2"])

    with open(d / "keywords.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "keywords"])
        w.writerow(["1", "[{'id': 931, 'name': 'jealousy'}, {'id': 4290, 'name': 'toy'}]"])
        w.writerow(["oops", "[{'id': 1, 'name': 'skipme'}]"])
        w.writerow(["2", "[{'id': 931, 'name': 'jealousy dup'}]"])
        w.writerow(["1", "[{'id': 5, 'name': 'boy'}]"])

    with open(d / "ratings.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["userId", "movieId", "rating", "timestamp"])
        w.writerows([["1", "1", "4.0", "0"], ["2", "1", "3.0", "0"],
                     ["1", "2", "5.0", "0"], ["1", "abc", "4.0", "0"],
                     ["1", "3", "bad", "0"]])
    return str(d)


@pytest.fixture(scope="module")
def tables(spark, tmdb_dir):
    out = build_all_tables(spark, tmdb_dir)
    return {name: df.collect() for name, df in out.items()}


def _by_id(rows):
    return {r.id: r for r in rows}


def test_movies_last_wins_and_cleansing(tables):
    m = _by_id(tables["movies"])
    assert set(m) == {1, 2, 4}
    assert m[1].title == "First Movie V2"          # duplicate id: last wins
    assert m[1].budget is None                     # -5 → NULL
    assert m[1].overview == "Second version.\nWith a second line."
    assert m[2].budget is None                     # 0 → NULL
    assert m[2].popularity is None                 # negative → NULL
    assert m[2].revenue is None                    # junk → NULL
    assert m[2].runtime is None                    # empty → NULL
    assert m[2].overview is None                   # empty → NULL (D2)
    assert m[4].budget == 100
    assert m[4].runtime == 90                      # '90.5' → float parse → trunc


def test_movies_rating_left_join(tables):
    m = _by_id(tables["movies"])
    assert m[1].rating == pytest.approx(3.5)
    assert m[2].rating == pytest.approx(5.0)
    assert m[4].rating is None                     # no ratings → NULL (A15)


def test_dimensions_first_wins(tables):
    assert _by_id(tables["genres"])[16].name == "Animation"      # not 'Animation Dup'
    assert _by_id(tables["genres"])[35].name == "Comedy"
    assert _by_id(tables["production_companies"])[3].name == "Pixar"
    assert _by_id(tables["collections"])[10].name == "Toy Story Collection"


def test_languages_surrogates_and_fill_in(tables):
    langs = {r.lang_key: r for r in tables["languages"]}
    assert set(langs) == {"de", "en", "fr", "xx"}
    # dense_rank over iso (deviation D1): alphabetical ids
    assert [langs[k].id for k in sorted(langs)] == [1, 2, 3, 4]
    assert langs["en"].name == "English"           # NULL-name fill-in (A9)
    assert langs["fr"].name == "Français"
    assert langs["de"].name is None                # only seen as original_language
    assert langs["xx"].name == "O'Brien's Tongue"  # apostrophe survives parsing
    m = _by_id(tables["movies"])
    assert m[1].original_language == langs["de"].id  # last row's orig lang
    assert m[2].original_language == langs["fr"].id
    assert m[4].original_language == langs["en"].id


def test_countries(tables):
    cs = {r.code: r for r in tables["countries"]}
    assert set(cs) == {"DE", "US"}
    assert cs["DE"].name == "Germany"
    pairs = {(r.movie_id, r.country_id) for r in tables["production_countries"]}
    assert pairs == {(1, cs["DE"].id)}             # from the surviving row only


def test_bridges_from_surviving_row(tables):
    mg = {(r.movie_id, r.genre_id) for r in tables["movies_genres"]}
    assert mg == {(1, 35), (2, 16)}                # movie 1: V2's genres only
    langs = {r.lang_key: r.id for r in tables["languages"]}
    sl = {(r.movie_id, r.language_id) for r in tables["spoken_languages"]}
    assert sl == {(1, langs["xx"]), (2, langs["fr"]), (2, langs["en"])}
    mc = {(r.movie_id, r.production_company_id)
          for r in tables["movies_production_companies"]}
    # movie 1's surviving (V2) row lists no companies — the dimension keeps
    # Pixar (registered from the overwritten row), but the bridge does not
    assert mc == {(2, 3)}


def test_persons_first_wins_crew_before_cast(tables):
    p = _by_id(tables["persons"])
    assert set(p) == {100, 101, 102, 200, 201}
    assert p[101].name == "Bob Grip"               # no-job crew member still registered
    assert p[200].name == "Alice Act"              # not 'Alice Duplicate'
    assert p[201].name == "Sam O'Neil"


def test_directors_last_row_and_filter(tables):
    d = {(r.movie_id, r.director_id) for r in tables["directors"]}
    assert d == {(1, 102)}                         # last credits row for movie 1


def test_actors_list_semantics(tables):
    rows = {(r.person_id, r.movie_id, r.order_id) for r in tables["actors"]}
    # movie 1's last credits row has an EMPTY cast, so it does not overwrite
    # the earlier row's cast (loader.py:275-276 assigns only when
    # len(cast) > 0); crew, tracked independently, IS overwritten by that
    # row (directors test). Duplicate cast entries are preserved with order.
    assert rows == {(200, 1, 0), (200, 1, 3), (201, 1, 1), (200, 2, 0)}
    assert len(tables["actors"]) == 4


def test_keywords_union_semantics(tables):
    kw = _by_id(tables["keywords"])
    assert kw[931].keyword == "jealousy"           # first-wins name
    assert set(kw) == {931, 4290, 5}
    mk = {(r.movie_id, r.keyword_id) for r in tables["movies_keywords"]}
    # union across ALL rows, including the duplicate movie-1 row
    assert mk == {(1, 931), (1, 4290), (1, 5), (2, 931)}


def test_crew_by_job_map(tables):
    m = {(r.movie_id, r.job): set(r.person_ids) for r in tables["crew_by_job"]}
    assert m == {(1, "Director"): {102}}           # last row; no-job people absent


def test_parse_selects_are_native_with_one_python_udf(spark, tmdb_dir):
    """Each input table's parse (the three caches `build_all_tables`
    registers) runs `from_json`, and no Python on the fixture, whose cells
    are all in the canonical repr grammar. A table holding a cell outside
    it gets one Python UDF in one Python eval node, whatever its number of
    nested columns: a return to a UDF per column, or to a Python stage on
    every input, fails here."""
    import re

    from the_movie_database_import_spark import session
    from the_movie_database_import_spark.etl.parse import CAST, CREW, parse_nested
    from tools.plan_manifest import plan_counts

    n0 = len(session._TRACKED)
    build_all_tables(spark, tmdb_dir)
    caches = session._TRACKED[n0:]
    by_input = {
        table: df
        for df in caches
        for table, col in (
            ("movies", "genres_arr"), ("credits", "crew_arr"), ("keywords", "keywords_arr")
        )
        if col in df.columns
    }
    assert len(caches) == len(by_input) == 3
    for table, df in by_input.items():
        assert "from_json(" in df._jdf.queryExecution().executedPlan().toString(), table
        assert plan_counts(df)["python_eval"] == 0, table

    cells = [("[{'id': 1, 'name': 'a', 'job': 'x'}]", "[{'id': 2.0, 'name': 'b'}]")]
    df = parse_nested(
        spark.createDataFrame(cells, "crew string, cast string"),
        [],
        crew_arr=("crew", CREW),
        cast_arr=("cast", CAST),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "from_json(" in plan
    assert plan_counts(df)["python_eval"] == 1
    assert len(set(re.findall(r"pythonUDF\d+", plan))) == 1
    row = df.first()
    assert [(e.id, e.name, e.job, e.has_job) for e in row.crew_arr] == [(1, "a", "x", True)]
    assert [(e.id, e.name, e.order) for e in row.cast_arr] == [(2, "b", None)]


# Pre-execution plan-node counts of every table `build_all_tables` returns on
# the fixture (the walk of `tools/plan_manifest.py`, which reads the parse
# caches' plans too); counts left out are 0.
ETL_PLAN_COUNTS = {
    "movies": dict(exchange=5, broadcast_exchange=3, in_memory_scan=4,
                   broadcast_hash_join=3, window=3, hash_aggregate=4),
    "genres": dict(exchange=1, in_memory_scan=1, window=1),
    "languages": dict(exchange=3, broadcast_exchange=1, in_memory_scan=3,
                      broadcast_hash_join=1, window=2, hash_aggregate=2),
    "collections": dict(exchange=1, in_memory_scan=1, window=1),
    "countries": dict(exchange=3, broadcast_exchange=1, in_memory_scan=2,
                      broadcast_hash_join=1, window=2, hash_aggregate=2),
    "production_companies": dict(exchange=1, in_memory_scan=1, window=1),
    "movies_genres": dict(exchange=1, in_memory_scan=1, window=1, hash_aggregate=2),
    "spoken_languages": dict(exchange=4, broadcast_exchange=2, in_memory_scan=4,
                             broadcast_hash_join=2, window=3, hash_aggregate=4),
    "production_countries": dict(exchange=4, broadcast_exchange=2, in_memory_scan=3,
                                 broadcast_hash_join=2, window=3, hash_aggregate=4),
    "movies_production_companies": dict(exchange=1, in_memory_scan=1, window=1,
                                        hash_aggregate=2),
    "persons": dict(exchange=1, in_memory_scan=2, window=1),
    "directors": dict(exchange=1, in_memory_scan=1, window=1, hash_aggregate=2),
    "actors": dict(exchange=1, in_memory_scan=1, window=1),
    "crew_by_job": dict(exchange=1, in_memory_scan=1, window=1),
    "keywords": dict(exchange=1, in_memory_scan=1, window=1),
    "movies_keywords": dict(exchange=1, in_memory_scan=1, hash_aggregate=2),
}


def test_etl_plan_shape_is_pinned(spark, tmdb_dir):
    """Shuffles, broadcasts, cache scans, joins, windows and hash aggregates
    of each of the 16 output tables stay as pinned: a second `distinct` in a
    bridge, or a window or join added to a policy, fails here."""
    from tools.plan_manifest import NODE_COLUMNS, plan_counts

    nodes = {**NODE_COLUMNS, "Window": "window", "HashAggregate": "hash_aggregate"}
    out = build_all_tables(spark, tmdb_dir)
    assert set(out) == set(ETL_PLAN_COUNTS)
    diffs = []
    for name, df in out.items():
        got = plan_counts(df, nodes)
        want = {**dict.fromkeys(got, 0), **ETL_PLAN_COUNTS[name]}
        diffs += [f"{name}.{c}: pinned {want[c]}, got {got[c]}" for c in got if got[c] != want[c]]
    assert not diffs, diffs


# Cells that raised inside the literal_eval path and failed the whole job:
# an unhashable dict key (TypeError), parser stack exhaustion (MemoryError),
# int(inf) (OverflowError) and an id beyond int64 (OverflowError in the
# Arrow conversion).
CRASH_LIST_CELLS = [
    "[{[]: 1}]",
    "-" * 100000 + "1",
    "[{'id': 1e999, 'order': 1e999, 'name': 'x'}]",
    "[{'id': 99999999999999999999, 'order': -99999999999999999999, 'name': 'x'}]",
]


def test_malformed_cells_parse_to_null_in_every_parser(spark):
    """Every shape's parse, and the literal_eval path alone, turns each
    crash cell into NULL — the whole cell where it does not evaluate, the
    out-of-range id where it does — and the job survives."""
    from the_movie_database_import_spark.etl.parse import (
        CAST,
        COLLECTION,
        COUNTRIES,
        CREW,
        ID_NAMES,
        LANGS,
        parse_id_name_array,
        parse_nested,
    )

    shapes = {
        "ids": ID_NAMES, "langs": LANGS, "countries": COUNTRIES,
        "crew": CREW, "cast": CAST, "collection": COLLECTION,
    }
    rows = [
        (i, c, c if i == 1 else c[1:-1]) for i, c in enumerate(CRASH_LIST_CELLS)
    ]
    df = spark.createDataFrame(rows, "i int, l string, d string")
    got = (
        parse_nested(
            df.withColumn("literal_path", parse_id_name_array("l")),
            ["i", "literal_path"],
            **{n: ("d" if s is COLLECTION else "l", s) for n, s in shapes.items()},
        )
        .orderBy("i")
        .collect()
    )
    for r in got[:2]:
        assert all(r[n] is None for n in [*shapes, "literal_path"]), r
    for r in got[2:]:
        for n in ("ids", "crew", "cast", "literal_path"):
            assert [(e.id, e.name) for e in r[n]] == [(None, "x")], (n, r)
        assert [e.order for e in r.cast] == [None]
        assert [e.has_job for e in r.crew] == [False]
        assert (r.collection.id, r.collection.name) == (None, "x")
        assert [tuple(e) for e in r.langs] == [(None, "x")]
        assert [tuple(e) for e in r.countries] == [(None, "x")]


def test_parquet_roundtrip(spark, tmdb_dir, tmp_path):
    from the_movie_database_import_spark.sources.writers import write_all_parquet

    out = build_all_tables(spark, tmdb_dir)
    write_all_parquet({"movies": out["movies"]}, str(tmp_path))
    back = spark.read.parquet(str(tmp_path / "movies"))
    assert back.count() == 3
    assert set(back.columns) == set(out["movies"].columns)


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
DERBY_PROPS = {"driver": DERBY_DRIVER}


def test_jdbc_roundtrip_embedded_derby(spark, tmdb_dir, tmp_path):
    """End-to-end JDBC sink against a REAL embedded database (Derby ships in
    Spark's jars): write every ETL output table through write_all_jdbc
    (batched inserts, FK-safe order, ref A17-A19) and read each back over
    JDBC with full row fidelity — closing the gap that the container has no
    Postgres (reference behavior loader.py:339-353,:597-605)."""
    from the_movie_database_import_spark.sources.writers import (
        JDBC_WRITE_ORDER,
        write_all_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_rt;create=true"
    tables = build_all_tables(spark, tmdb_dir)
    write_all_jdbc(tables, url, properties=DERBY_PROPS)
    # crew_by_job is deliberately not a JDBC table (ref A11 exposure only —
    # not in db_schema.json, and its person_ids array has no JDBC mapping)
    for name in JDBC_WRITE_ORDER:
        df = tables[name]
        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", name)
            .option("driver", DERBY_DRIVER)
            .load()
        )
        nullsafe = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
        want = sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=nullsafe)
        got = sorted(map(tuple, back.select(*sorted(df.columns)).collect()), key=nullsafe)
        assert got == want, f"{name}: JDBC round-trip altered rows"


def test_jdbc_fk_safe_order_with_constraints_on(spark, tmdb_dir, tmp_path):
    """ENGINE-GENERATED DDL bootstrap (ref A18, `loader.py:81-91` +
    `db_schema.json:2-16`) + FK-safe write order with constraints STAYING ON
    (deviation D4, vs the reference's disabled triggers): bootstrap_schema
    creates the full 15-table schema with live FKs, a bridge-first write
    violates a constraint and fails, and the ordered full load succeeds."""
    from the_movie_database_import_spark.sources.schema import bootstrap_schema
    from the_movie_database_import_spark.sources.writers import (
        JDBC_WRITE_ORDER,
        write_all_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_fk;create=true"
    bootstrap_schema(spark, url, driver=DERBY_DRIVER)
    # re-bootstrap must also work against the now-populated-with-DDL schema
    # (the reference drops before every load)
    bootstrap_schema(spark, url, driver=DERBY_DRIVER)

    tables = build_all_tables(spark, tmdb_dir)

    # bridge-first violates the live engine-created FK — constraints are on
    with pytest.raises(Exception, match="(?i)foreign key|violation"):
        write_jdbc(tables["movies_keywords"], url, "movies_keywords",
                   properties=DERBY_PROPS)

    # FK-safe order (write_all_jdbc follows JDBC_WRITE_ORDER) succeeds for
    # the WHOLE schema with every FK enforced
    write_all_jdbc(tables, url, properties=DERBY_PROPS)
    for name in JDBC_WRITE_ORDER:
        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", name)
            .option("driver", DERBY_DRIVER)
            .load()
        )
        assert back.count() == tables[name].count(), name


def test_schema_registry_mirrors_reference_ddl():
    """The DDL registry must mirror db_schema.json structurally: 15 tables,
    serial pk everywhere, every FK clause present and create-order-safe
    (referenced tables precede referrers — what makes D4 possible)."""
    from the_movie_database_import_spark.sources.schema import (
        TABLES,
        create_table_sql,
    )

    assert len(TABLES) == 15
    seen = set()
    for t in TABLES:
        for _, ref in t.fks:
            assert ref in seen, f"{t.name} references {ref} before it is created"
        seen.add(t.name)
    pg = create_table_sql("movies", "postgresql")
    assert pg.startswith("CREATE TABLE movies (id serial primary key, ")
    assert "foreign key (original_language) references languages (id)" in pg
    assert "foreign key (belongs_to_collection) references collections (id)" in pg
    derby = create_table_sql("actors", "derby")
    assert "GENERATED BY DEFAULT AS IDENTITY" in derby
    assert "FOREIGN KEY (movie_id) REFERENCES movies (id)" in derby
    # every reference column name present
    for table, col in [("movies", "belongs_to_collection"), ("languages", "lang_key"),
                       ("countries", "code"), ("keywords", "keyword"),
                       ("actors", "order_id")]:
        assert col in create_table_sql(table, "postgresql")


def test_jdbc_exactly_once_swap_and_failure_isolation(spark, tmp_path):
    """Exactly-once JDBC load (SURVEY §7.4(5)): the staged swap atomically
    replaces the target's contents, and a load that dies mid-stream leaves
    the target EXACTLY as before — Spark never touches the target table."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.sources.schema import execute_statements
    from the_movie_database_import_spark.sources.writers import (
        write_jdbc,
        write_jdbc_exactly_once,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_xo;create=true"
    execute_statements(
        spark, url,
        ["CREATE TABLE kv (id BIGINT, val VARCHAR(100))"],
        driver=DERBY_DRIVER,
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("val", StringType())]
    )
    write_jdbc(spark.createDataFrame([(1, "old")], schema), url, "kv",
               properties=DERBY_PROPS)

    def read_back():
        # Derby uppercases unquoted identifiers; normalize for comparison
        df = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "kv").option("driver", DERBY_DRIVER).load()
        )
        df = df.toDF(*[c.lower() for c in df.columns])
        return sorted((r.id, r.val) for r in df.collect())

    # happy path: swap REPLACES (truncate-and-reload), never appends
    good = spark.createDataFrame([(2, "new"), (3, "new")], schema)
    write_jdbc_exactly_once(good, url, "kv", properties=DERBY_PROPS)
    assert read_back() == [(2, "new"), (3, "new")]

    # failing load: one partition succeeds, one raises mid-stream
    @F.udf(StringType())
    def boom(i):
        if i >= 10:
            raise RuntimeError("injected mid-write failure")
        return f"v{i}"

    bad = (
        spark.range(0, 20, 1, 2)
        .select(F.col("id").cast("long").alias("id"), boom("id").alias("val"))
    )
    with pytest.raises(Exception):
        write_jdbc_exactly_once(bad, url, "kv", properties=DERBY_PROPS)
    assert read_back() == [(2, "new"), (3, "new")], (
        "failed load must leave the target exactly as before"
    )
    # staging was cleaned up: rerunning a good load still works
    write_jdbc_exactly_once(good, url, "kv", properties=DERBY_PROPS)
    assert read_back() == [(2, "new"), (3, "new")]


def test_cli_end_to_end(tmdb_dir, tmp_path, spark):
    """`python -m the_movie_database_import_spark.etl <dir> --out <dir>` — the
    engine's twin of the reference's `python loader.py <dir>` entry point
    (loader.py:549-611) — writes every output table as readable parquet."""
    from the_movie_database_import_spark.etl.__main__ import main

    out = tmp_path / "out"
    assert main([str(tmdb_dir), "--out", str(out)]) == 0
    movies = spark.read.parquet(str(out / "movies"))
    assert movies.count() > 0
    for t in ("genres", "actors", "directors", "movies_keywords"):
        assert spark.read.parquet(str(out / t)).columns


def test_cli_jdbc_end_to_end_bootstraps_empty_database(spark, tmdb_dir, tmp_path):
    """`--jdbc-url` against an EMPTY database must self-bootstrap the 15-table
    schema (engine DDL) and load it — the reference-user story: the reference
    drops/creates before every load (loader.py:81-91), so no manual DDL step
    may be required here either."""
    from the_movie_database_import_spark.etl.__main__ import main

    url = f"jdbc:derby:{tmp_path}/tmdb_cli;create=true"
    assert main([str(tmdb_dir), "--jdbc-url", url,
                 "--jdbc-driver", DERBY_DRIVER]) == 0
    movies = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "movies").option("driver", DERBY_DRIVER).load()
    )
    assert movies.count() == 3
    # rerun: the default bootstrap drops + reloads (reference semantics),
    # so counts stay stable instead of doubling via append
    assert main([str(tmdb_dir), "--jdbc-url", url,
                 "--jdbc-driver", DERBY_DRIVER]) == 0
    assert (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "movies").option("driver", DERBY_DRIVER).load().count()
        == 3
    )


def test_db_config_json_reference_format(tmp_path):
    """A reference user's db_config.json (username/password/host/db_name/
    batch_size, loader.py:580-586) must map verbatim onto the CLI's JDBC
    parameters."""
    import json as _json

    from the_movie_database_import_spark.etl.__main__ import load_db_config

    cfg = {"username": "postgres", "password": "pg", "host": "dbhost",
           "db_name": "test_db", "batch_size": 50000}
    p = tmp_path / "db_config.json"
    p.write_text(_json.dumps(cfg))
    url, props, batch = load_db_config(str(p))
    assert url == "jdbc:postgresql://dbhost:5432/test_db"
    assert props == {"user": "postgres", "password": "pg"}
    assert batch == 50000


def test_jdbc_exactly_once_aborts_on_staging_count_mismatch(spark, tmp_path):
    """Step 3 of the exactly-once protocol: if staging holds a different row
    count than the DataFrame (the at-least-once signature of a task retry
    that re-committed, or a speculative duplicate), the load must ABORT
    before the swap, leave the target untouched, and still clean up
    staging."""
    from unittest import mock

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.sources.schema import execute_statements
    from the_movie_database_import_spark.sources.writers import (
        write_jdbc,
        write_jdbc_exactly_once,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_xo2;create=true"
    execute_statements(
        spark, url, ["CREATE TABLE kv (id BIGINT, val VARCHAR(100))"],
        driver=DERBY_DRIVER,
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("val", StringType())]
    )
    write_jdbc(spark.createDataFrame([(1, "old")], schema), url, "kv",
               properties=DERBY_PROPS)

    good = spark.createDataFrame([(2, "new")], schema)
    # simulate a retry-duplicated staging table: the count probe sees one
    # row more than the DataFrame holds (write_jdbc_exactly_once resolves
    # query_scalar_long from the schema module at call time)
    import the_movie_database_import_spark.sources.schema as schema_mod

    with mock.patch.object(schema_mod, "query_scalar_long", return_value=2):
        with pytest.raises(RuntimeError, match="staging holds 2 rows"):
            write_jdbc_exactly_once(good, url, "kv", properties=DERBY_PROPS)

    back = (
        spark.read.format("jdbc").option("url", url).option("dbtable", "kv")
        .option("driver", DERBY_DRIVER).load()
    )
    back = back.toDF(*[c.lower() for c in back.columns])
    assert [(r.id, r.val) for r in back.collect()] == [(1, "old")]
    # staging cleaned up: a subsequent honest load succeeds
    write_jdbc_exactly_once(good, url, "kv", properties=DERBY_PROPS)


def test_jdbc_exactly_once_computes_input_once(spark, tmp_path):
    """VERDICT r03 #2: the verification count must come from the staged
    write's own execution (Observation), not a second full run of ``df``.
    An accumulator ticked by a UDF in the pipeline counts executions: the
    old ``df.count()`` re-derivation would tick 2x rows, the observed write
    exactly 1x."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.sources.schema import execute_statements
    from the_movie_database_import_spark.sources.writers import (
        write_jdbc_exactly_once,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_xo3;create=true"
    execute_statements(
        spark, url, ["CREATE TABLE kv (id BIGINT, val VARCHAR(100))"],
        driver=DERBY_DRIVER,
    )
    acc = spark.sparkContext.accumulator(0)

    @F.udf(StringType())
    def tick(i):
        acc.add(1)
        return f"v{i}"

    schema = StructType(
        [StructField("id", LongType()), StructField("val", StringType())]
    )
    n = 7
    df = (
        spark.createDataFrame([(i, "x") for i in range(n)], schema)
        .select("id", tick("id").alias("val"))
    )
    write_jdbc_exactly_once(df, url, "kv", properties=DERBY_PROPS)
    assert acc.value == n, (
        f"input pipeline executed {acc.value / n:.1f}x — verification must "
        "ride the staged write, not recompute df"
    )


def test_jdbc_exactly_once_into_bootstrapped_identity_table(spark, tmp_path):
    """ADVICE r03 (medium): composing write_jdbc_exactly_once with the
    bootstrapped 15-table schema — the exact composition the writer's
    docstring recommends — must work on Derby for id-less DataFrames. The
    old CTAS staging clone copied the id column's NOT NULL without its
    identity default, so every id-less bridge insert failed; the staging
    DDL now renders from the TABLES registry with a nullable id."""
    from pyspark.sql.types import StringType, StructField, StructType

    from the_movie_database_import_spark.sources.schema import bootstrap_schema
    from the_movie_database_import_spark.sources.writers import (
        write_jdbc_exactly_once,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_xo4;create=true"
    bootstrap_schema(spark, url, driver=DERBY_DRIVER)
    schema = StructType([StructField("name", StringType())])
    genres = spark.createDataFrame([("Action",), ("Drama",)], schema)
    write_jdbc_exactly_once(genres, url, "genres", properties=DERBY_PROPS)

    def read_names():
        df = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "genres").option("driver", DERBY_DRIVER).load()
        )
        df = df.toDF(*[c.lower() for c in df.columns])
        return sorted(r.name for r in df.collect()), [
            r.id for r in df.collect()
        ]

    names, ids = read_names()
    assert names == ["Action", "Drama"]
    assert all(i is not None for i in ids), "identity must fill ids on swap"
    # reload REPLACES (truncate-and-reload), identity keeps generating
    genres2 = spark.createDataFrame([("Comedy",)], schema)
    write_jdbc_exactly_once(genres2, url, "genres", properties=DERBY_PROPS)
    names, ids = read_names()
    assert names == ["Comedy"]
    assert all(i is not None for i in ids)


def test_jdbc_exactly_once_rename_swap(spark, tmp_path):
    """VERDICT r03 #3: rename-based swap — three O(1) catalog ops instead of
    a second full data rewrite — for tables without inbound FKs. Also pins
    the runtime fallback: a view pinning the target makes Derby reject the
    rename, and the load must still complete via DELETE+INSERT from the
    intact staging."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from the_movie_database_import_spark.sources.schema import execute_statements
    from the_movie_database_import_spark.sources.writers import (
        write_jdbc,
        write_jdbc_exactly_once,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_xo5;create=true"
    execute_statements(
        spark, url, ["CREATE TABLE kv (id BIGINT, val VARCHAR(100))"],
        driver=DERBY_DRIVER,
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("val", StringType())]
    )
    write_jdbc(spark.createDataFrame([(1, "old")], schema), url, "kv",
               properties=DERBY_PROPS)

    def read_back():
        df = (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "kv").option("driver", DERBY_DRIVER).load()
        )
        df = df.toDF(*[c.lower() for c in df.columns])
        return sorted((r.id, r.val) for r in df.collect())

    good = spark.createDataFrame([(2, "new"), (3, "new")], schema)
    # record the swap transaction to prove the RENAME path ran (a silent
    # fallback to DELETE+INSERT would produce the same table contents)
    from unittest import mock

    import the_movie_database_import_spark.sources.schema as schema_mod

    real_tx = schema_mod.execute_transaction
    seen: list[list[str]] = []

    def recording_tx(spark_, url_, statements, **kw):
        seen.append(list(statements))
        return real_tx(spark_, url_, statements, **kw)

    with mock.patch.object(schema_mod, "execute_transaction", recording_tx):
        write_jdbc_exactly_once(good, url, "kv", properties=DERBY_PROPS,
                                swap="rename")
    assert read_back() == [(2, "new"), (3, "new")]
    assert len(seen) == 1 and seen[0][0].startswith("RENAME TABLE kv TO "), seen
    # scratch names are gone: both would collide on the next rename swap
    again = spark.createDataFrame([(4, "v2")], schema)
    write_jdbc_exactly_once(again, url, "kv", properties=DERBY_PROPS,
                            swap="rename", run_id="r2")
    assert read_back() == [(4, "v2")]

    # runtime fallback: a view references kv -> Derby refuses RENAME TABLE;
    # the writer must fall back to DELETE+INSERT from the verified staging
    execute_statements(
        spark, url, ["CREATE VIEW kv_v AS SELECT * FROM kv"],
        driver=DERBY_DRIVER,
    )
    pinned = spark.createDataFrame([(5, "v3")], schema)
    write_jdbc_exactly_once(pinned, url, "kv", properties=DERBY_PROPS,
                            swap="rename")
    assert read_back() == [(5, "v3")]


def test_jdbc_exactly_once_rename_fk_fallback(spark, tmp_path):
    """Registry tables with inbound FK references must NEVER attempt the
    rename (FK constraints follow the referenced table through a rename):
    swap="rename" on genres — referenced by movies_genres — silently takes
    the DELETE+INSERT path. Pinned by patching rename_table_sql to explode
    if consulted."""
    from unittest import mock

    from pyspark.sql.types import StringType, StructField, StructType

    import the_movie_database_import_spark.sources.schema as schema_mod
    from the_movie_database_import_spark.sources.schema import bootstrap_schema
    from the_movie_database_import_spark.sources.writers import (
        write_jdbc_exactly_once,
    )

    url = f"jdbc:derby:{tmp_path}/tmdb_xo6;create=true"
    bootstrap_schema(spark, url, driver=DERBY_DRIVER)
    schema = StructType([StructField("name", StringType())])
    genres = spark.createDataFrame([("Action",)], schema)
    with mock.patch.object(
        schema_mod, "rename_table_sql",
        side_effect=AssertionError("rename attempted on FK-referenced table"),
    ):
        write_jdbc_exactly_once(genres, url, "genres", properties=DERBY_PROPS,
                                swap="rename")
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "genres").option("driver", DERBY_DRIVER).load()
    )
    assert back.count() == 1


def test_stage_and_swap_sql_strings_golden():
    """VERDICT r03 #6: string-golden pins for the PostgreSQL staging-clone
    and swap statements (the container has no Postgres, so these strings are
    the pg dialect's only guard), plus the registry-rendered Derby staging
    DDL that replaced the CTAS clone."""
    from the_movie_database_import_spark.sources.schema import (
        inbound_fk_referrers,
        rename_table_sql,
        stage_clone_sql,
    )

    # registry table, permissive staging: nullable id, NO identity/PK/FK
    pg = stage_clone_sql("genres", "genres__stage", "postgresql")
    assert pg == "CREATE TABLE genres__stage (id integer, name varchar)"
    derby = stage_clone_sql("genres", "genres__stage", "derby")
    assert derby == "CREATE TABLE genres__stage (id INTEGER, name CLOB)"
    assert "IDENTITY" not in derby and "NOT NULL" not in derby
    movies = stage_clone_sql("movies", "movies__stage", "postgresql")
    assert movies.startswith("CREATE TABLE movies__stage (id integer, title varchar, ")
    assert "foreign key" not in movies and "primary key" not in movies

    # registry table, full-schema staging (rename swap): real DDL under the
    # stage name
    full = stage_clone_sql("genres", "genres__stage", "postgresql",
                           full_schema=True)
    assert full == "CREATE TABLE genres__stage (id serial primary key, name varchar)"

    # unknown table: dialect structural clones
    assert (
        stage_clone_sql("kv", "kv__stage", "postgresql")
        == "CREATE TABLE kv__stage (LIKE kv INCLUDING DEFAULTS)"
    )
    assert (
        stage_clone_sql("kv", "kv__stage", "postgresql", full_schema=True)
        == "CREATE TABLE kv__stage (LIKE kv INCLUDING ALL)"
    )
    assert (
        stage_clone_sql("kv", "kv__stage", "derby")
        == "CREATE TABLE kv__stage AS SELECT * FROM kv WITH NO DATA"
    )

    # rename statements
    assert rename_table_sql("kv__stage", "kv", "postgresql") == (
        "ALTER TABLE kv__stage RENAME TO kv"
    )
    assert rename_table_sql("kv__stage", "kv", "derby") == (
        "RENAME TABLE kv__stage TO kv"
    )

    # inbound-FK map drives the rename/fallback decision
    assert inbound_fk_referrers("genres") == ("movies_genres",)
    assert set(inbound_fk_referrers("movies")) == {
        "movies_genres", "directors", "actors", "movies_keywords",
        "spoken_languages", "production_countries",
        "movies_production_companies",
    }
    assert inbound_fk_referrers("kv") == ()


def test_cli_config_credentials_scoped_to_config_url(tmp_path):
    """ADVICE r03: combining --config with an explicitly DIFFERENT
    --jdbc-url must not forward the config file's credentials to that other
    server; with the config's own URL they flow as before."""
    import json as _json
    from unittest import mock

    import the_movie_database_import_spark.etl.__main__ as cli
    import the_movie_database_import_spark.etl.pipeline as pipe_mod
    import the_movie_database_import_spark.session as session_mod
    import the_movie_database_import_spark.sources.schema as schema_mod
    import the_movie_database_import_spark.sources.writers as writers_mod

    cfg = {"username": "u", "password": "p", "host": "h", "db_name": "d"}
    p = tmp_path / "db_config.json"
    p.write_text(_json.dumps(cfg))
    with mock.patch.object(pipe_mod, "build_all_tables", return_value={}), \
         mock.patch.object(session_mod, "get_spark",
                           return_value=mock.MagicMock()), \
         mock.patch.object(schema_mod, "bootstrap_schema"), \
         mock.patch.object(writers_mod, "write_all_jdbc") as wj:
        assert cli.main([str(tmp_path), "--config", str(p),
                         "--jdbc-url", "jdbc:postgresql://other:5432/x"]) == 0
        props = wj.call_args.kwargs.get("properties")
        assert not props or "password" not in props, props

        wj.reset_mock()
        assert cli.main([str(tmp_path), "--config", str(p)]) == 0
        assert wj.call_args.kwargs.get("properties") == {
            "user": "u", "password": "p"
        }


def _shard_fixture(src_dir: str, dst_dir: str, n_shards: int) -> None:
    """Split each multiLine CSV of the fixture into contiguous header-bearing
    shard files (the bench tool's layout); ratings stays one flat file."""
    import os

    os.makedirs(dst_dir, exist_ok=True)
    for name in ("movies_metadata.csv", "credits.csv", "keywords.csv"):
        with open(os.path.join(src_dir, name), newline="") as f:
            rdr = csv.reader(f)
            header = next(rdr)
            rows = list(rdr)
        per = (len(rows) + n_shards - 1) // n_shards
        sub = os.path.join(dst_dir, name)
        os.makedirs(sub)
        for s in range(n_shards):
            with open(
                os.path.join(sub, f"part-{s:04d}.csv"), "w", newline=""
            ) as f:
                w = csv.writer(f)
                w.writerow(header)
                w.writerows(rows[s * per : (s + 1) * per])
    import shutil

    shutil.copy(
        os.path.join(src_dir, "ratings.csv"),
        os.path.join(dst_dir, "ratings.csv"),
    )


def test_sharded_input_parallelism_and_policy_determinism(
    spark, tmdb_dir, tables, tmp_path
):
    """Sharded-input mode (VERDICT r08 #4): the multiLine CSVs become
    directories of shard files — the parse stage gains one task per shard
    (pinned via partition count; single-file multiLine is ONE task however
    big the cluster). Conflict policies stay deterministic under the
    documented per-shard-ordering deviation: the last-wins winner is
    exactly the max-_idx row of the realized scan, order-insensitive
    outputs (id sets, keyword unions, rating means) match the single-file
    build, and a rerun is bit-identical."""
    from pyspark.sql import functions as F

    from the_movie_database_import_spark.etl.pipeline import (
        MOVIES_SCHEMA,
        load_inputs,
    )
    from the_movie_database_import_spark.sources.readers import scan_csv

    sharded = str(tmp_path / "tmdb_sharded")
    _shard_fixture(tmdb_dir, sharded, 2)

    # parse parallelism: 2 shard files -> 2 scan partitions (vs 1 before)
    assert (
        scan_csv(
            spark, f"{sharded}/movies_metadata.csv", MOVIES_SCHEMA
        ).rdd.getNumPartitions()
        == 2
    )
    assert (
        scan_csv(
            spark, f"{tmdb_dir}/movies_metadata.csv", MOVIES_SCHEMA
        ).rdd.getNumPartitions()
        == 1
    )

    out = {n: df.collect() for n, df in build_all_tables(spark, sharded).items()}
    single = tables

    # order-insensitive outputs are layout-invariant
    assert {r.id for r in out["movies"]} == {r.id for r in single["movies"]}
    assert set(map(tuple, out["movies_keywords"])) == set(
        map(tuple, single["movies_keywords"])
    )
    assert {r.id: r.rating for r in out["movies"]} == {
        r.id: r.rating for r in single["movies"]
    }

    # last-wins is deterministic AGAINST THE REALIZED SCAN ORDER: the
    # surviving title per id equals the title of that id's max-_idx row
    scan = (
        load_inputs(spark, sharded)["movies"]
        .withColumn("mid", F.col("id").try_cast("bigint"))
        .filter("mid IS NOT NULL")
        .select("mid", "_idx", "original_title")
        .collect()
    )
    winner = {}
    for r in sorted(scan, key=lambda r: r._idx):
        winner[r.mid] = r.original_title
    got = {r.id: r.title for r in out["movies"]}
    assert got == winner

    # rerun on the same layout -> identical movies table
    again = {
        r.id: r for r in build_all_tables(spark, sharded)["movies"].collect()
    }
    assert {r.id: r for r in out["movies"]} == again
